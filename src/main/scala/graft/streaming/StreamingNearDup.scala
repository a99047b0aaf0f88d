package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import graft.functions.TextHashFunctions

/** Streaming MinHash-LSH near-duplicate detection — the online form of
  * the batch p04 band-bucket candidate generator (and the near-dup
  * complement of [[StreamingDedup]]'s exact-content dedup): each
  * arriving document's 64-permutation md5-MinHash signature splits
  * into 16 four-value bands, and per (band, bucket) the FIRST claimant
  * is remembered in keyed state; every later document landing in an
  * already-claimed bucket emits a near-dup hit against the claimant.
  *
  * Output is per (doc, band) — the granularity the LSH math lives at;
  * a doc-level "is near-dup of X" is any-of over its 16 band rows and
  * belongs to the consumer (a second stateful stage would pin this
  * stream to one output mode; the band stream composes with either).
  *
  * Batch twin: `p75_neardup_firstclaim` claims buckets by MINIMUM
  * doc_id; the stream claims by ARRIVAL order. The two agree exactly
  * when ingest order is id-ordered (the spec's pin); under re-ordered
  * ingest the stream's claimant is the first arrival — the semantics
  * an online pipeline actually wants.
  *
  * State at scale: one fixed-size record per OCCUPIED bucket. Bucket
  * cardinality grows with corpus novelty, so for unbounded streams use
  * [[bandHitsTtlTws]] — a bucket idle longer than the TTL is forgotten
  * (the same event-time high-water discipline as
  * [[StreamingLatestState.latestStateTtlTws]]), bounding state by the
  * buckets touched inside one horizon.
  */
object StreamingNearDup {

  case class DocIn(doc_id: Long, ts: java.sql.Timestamp, text: String)

  case class BandRow(doc_id: Long, ts: java.sql.Timestamp, band: Int,
      bucket_key: String)

  case class BucketState(first_doc: Long, act_ms: Long = Long.MinValue)

  case class BandHit(doc_id: Long, band: Int, first_doc: Long,
      is_first: Boolean)

  /** The p04 signature pipeline as streaming-safe column expressions:
    * normalized 5-gram shingles → 64-perm md5 MinHash → 16 bands of 4,
    * the bucket serialized to a stable string key. Docs with no
    * shingles (< 5 tokens) produce no rows, like the batch path.
    */
  private def banded(docs: DataFrame): DataFrame = {
    val toks = split(
      lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")
    docs
      .withColumn("sig",
        TextHashFunctions.md5_minhash(
          TextHashFunctions.word_ngrams(toks, 5)))
      .filter(size(col("sig")) > 0)
      .select(col("doc_id"), col("ts"),
        explode(expr("transform(sequence(0, 15), b -> " +
          "struct(b as band, slice(sig, b * 4 + 1, 4) as bucket))"))
          .as("bb"))
      .select(col("doc_id"), col("ts"), col("bb.band").as("band"),
        concat_ws(",", col("bb.band"),
          expr("array_join(bb.bucket, ',')")).as("bucket_key"))
  }

  private def claim(rows: Iterator[BandRow],
      prev: Option[BucketState]): (BucketState, Iterator[BandHit]) = {
    // within-batch total order: event time then doc id (the stream's
    // arrival clock at micro-batch granularity)
    val ordered = rows.toArray.sortBy(r =>
      (r.ts.toInstant.getEpochSecond, r.ts.toInstant.getNano, r.doc_id))
    var s = prev.getOrElse(BucketState(Long.MinValue))
    val out = ordered.map { r =>
      val actMs = math.max(s.act_ms, r.ts.getTime)
      if (s.first_doc == Long.MinValue) {
        s = BucketState(r.doc_id, actMs)
        BandHit(r.doc_id, r.band, r.doc_id, is_first = true)
      } else {
        s = s.copy(act_ms = actMs)
        BandHit(r.doc_id, r.band, s.first_doc, is_first = false)
      }
    }
    (s, out.iterator)
  }

  /** Append-mode stream of per-(doc, band) claims/hits; state lives
    * forever (bounded corpora / bounded bucket spaces).
    */
  def bandHitsTws(docs: DataFrame)(implicit
      spark: SparkSession): Dataset[BandHit] = {
    import spark.implicits._
    banded(docs).as[BandRow]
      .groupByKey(_.bucket_key)
      .transformWithState(
        new Tws.FoldProcessor((_: String, prev: Option[BucketState],
            rows: Iterator[BandRow]) => claim(rows, prev)),
        TimeMode.None(), OutputMode.Append())
  }

  /** [[bandHitsTws]] with event-time idle expiry: a bucket whose last
    * activity sits more than `idleTtl` behind the watermark is
    * forgotten — a later arrival re-claims it fresh. Deterministic
    * (event-time, high-water deadline), pinned in
    * StreamingNearDupSpec.
    */
  def bandHitsTtlTws(docs: DataFrame, idleTtl: java.time.Duration,
      watermarkDelay: String = "0 seconds")(implicit
      spark: SparkSession): Dataset[BandHit] = {
    import spark.implicits._
    banded(docs.withWatermark("ts", watermarkDelay)).as[BandRow]
      .groupByKey(_.bucket_key)
      .transformWithState(
        new Tws.TtlFoldProcessor((_: String, prev: Option[BucketState],
            rows: Iterator[BandRow]) => claim(rows, prev),
          (s: BucketState) => s.act_ms, idleTtl.toMillis),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
