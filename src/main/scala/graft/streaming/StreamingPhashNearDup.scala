package graft.streaming

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import graft.multimodal.MultiModal

/** Streaming PERCEPTUAL image near-dup — the online form of the batch
  * p101 entry, and the decoded-raster complement of
  * [[StreamingNearDup]]'s text MinHash claims: each arriving document
  * renders through the IDENTICAL codec seam as p101
  * ([[MultiModal.aHashSignature]]: raster → real P6 encode/decode
  * roundtrip → 64-bit aHash), the signature splits into the same
  * EIGHT 8-bit bands (multi-index hashing, pigeonhole-exhaustive for
  * Hamming ≤ 7), and per (band, value) the FIRST claimant is
  * remembered in keyed state; a later arrival in a claimed bucket
  * emits a hit when its full-signature Hamming distance to the
  * claimant is ≤ 7.
  *
  * Output is per (doc, band) like [[StreamingNearDup]] — a doc-level
  * verdict is any-of over its band rows and belongs to the consumer.
  *
  * Batch twin: p101 emits ALL within-bucket pairs (the LSH candidate
  * census); the stream emits arrival-vs-CLAIMANT — the p75-style
  * first-claim granularity every graft streaming dedup op uses, which
  * is the decision an ingest gate actually makes (is THIS doc a
  * near-dup of something already admitted). Under id-ordered ingest
  * the claimant is the bucket's min doc_id, so every non-first stream
  * hit is one of p101's pairs with the identical Hamming distance
  * (StreamingPhashNearDupSpec pins this containment plus exact
  * equality against a sequential recompute).
  *
  * The df cap translates online: the batch entry drops buckets whose
  * FINAL census exceeds 64 members (anti-join; retroactive); a stream
  * cannot retract, so the cap applies to the arrival PREFIX — the
  * claimant plus the next 63 arrivals are evaluated, later arrivals
  * only refresh activity (occupancy saturates, no emission, no state
  * growth). The two agree exactly on every bucket whose final df is
  * ≤ 64; on hotter buckets the stream keeps its first-63 answers
  * where the batch census voids the bucket — the documented
  * prefix-vs-census divergence (same class as first-arrival vs min-id
  * claims).
  *
  * State at 100 TB: bounded at **2048 fixed-size records by
  * construction** — 8 bands × 256 possible 8-bit values is the entire
  * key space, independent of corpus size (no TTL needed, unlike the
  * text form whose bucket space grows with novelty). The scale knob
  * is the one the batch entry documents: at corpus scale the 256-value
  * bands saturate and the cap prunes them first; production widens
  * the bands or lengthens the signature — same plan, same state
  * bound, larger key space.
  */
object StreamingPhashNearDup {

  case class DocIn(doc_id: Long, ts: java.sql.Timestamp, text: String)

  case class PhashBandRow(doc_id: Long, ts: java.sql.Timestamp,
      band_idx: Int, bv: Int, sig: Seq[Int])

  /** occupancy counts evaluated members (claimant included) and
    * saturates at [[MaxOccupancy]]; sig is the CLAIMANT's full 8-band
    * signature (what later arrivals measure Hamming against).
    */
  case class PhashBucketState(first_doc: Long, sig: Seq[Int],
      occupancy: Int, act_ms: Long = Long.MinValue)

  case class PhashHit(doc_id: Long, band_idx: Int, first_doc: Long,
      hamming: Int, is_first: Boolean)

  /** The batch entry's per-(band, value) df cap (p101: df <= 64). */
  val MaxOccupancy = 64

  /** Hamming radius reported, matching p101 (8 bands are
    * pigeonhole-exhaustive for it). */
  val MaxHamming = 7

  /** The p101 signature pipeline on a (doc_id, ts, text) frame —
    * batch- and streaming-safe: the shared tokenizer expression
    * (lowercase, collapsed whitespace — Pipeline's `toks`, restated
    * like [[StreamingNearDup.banded]] restates p04's), then
    * [[MultiModal.aHashSignature]] at the mapPartitions codec seam,
    * then one row per (band_idx, band value) carrying the full
    * signature. Docs with no tokens produce no rows, like the batch
    * path.
    */
  def bandRows(docs: DataFrame): Dataset[PhashBandRow] = {
    implicit val enc = Encoders.product[PhashBandRow]
    val toks = split(
      lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")
    docs
      .withColumn("tk", toks).filter(size(col("tk")) > 0)
      .select(col("doc_id"), col("ts"), col("tk"))
      .as[(Long, java.sql.Timestamp, Seq[String])](
        Encoders.product[(Long, java.sql.Timestamp, Seq[String])])
      .mapPartitions { it =>
        val md = MessageDigest.getInstance("MD5")
        it.flatMap { case (id, ts, tk) =>
          val b = MultiModal.aHashSignature(md, id, tk)
          val sig = b.toSeq
          (0 to 7).iterator.map(i => PhashBandRow(id, ts, i, b(i), sig))
        }
      }
  }

  private def claim(rows: Iterator[PhashBandRow],
      prev: Option[PhashBucketState])
      : (PhashBucketState, Iterator[PhashHit]) = {
    // within-batch total order: event time then doc id (the stream's
    // arrival clock at micro-batch granularity), as in
    // StreamingNearDup.claim
    val ordered = rows.toArray.sortBy(r =>
      (r.ts.toInstant.getEpochSecond, r.ts.toInstant.getNano, r.doc_id))
    var s = prev.getOrElse(
      PhashBucketState(Long.MinValue, Nil, 0))
    val out = ordered.flatMap { r =>
      val actMs = math.max(s.act_ms, r.ts.getTime)
      if (s.first_doc == Long.MinValue) {
        s = PhashBucketState(r.doc_id, r.sig, 1, actMs)
        Some(PhashHit(r.doc_id, r.band_idx, r.doc_id, 0, is_first = true))
      } else if (s.occupancy < MaxOccupancy) {
        s = s.copy(occupancy = s.occupancy + 1, act_ms = actMs)
        var h = 0
        var i = 0
        while (i < 8) {
          h += Integer.bitCount(s.sig(i) ^ r.sig(i))
          i += 1
        }
        if (h <= MaxHamming)
          Some(PhashHit(r.doc_id, r.band_idx, s.first_doc, h,
            is_first = false))
        else None
      } else {
        // saturated bucket (the batch census would void it): refresh
        // activity only — occupancy stays at the cap, nothing emits
        s = s.copy(act_ms = actMs)
        None
      }
    }
    (s, out.iterator)
  }

  /** Append-mode stream of per-(doc, band) claims/hits. State needs no
    * TTL: the key space is 2048 buckets by construction.
    */
  def bandHitsTws(docs: DataFrame)(implicit
      spark: SparkSession): Dataset[PhashHit] = {
    import spark.implicits._
    bandRows(docs)
      .groupByKey(r => r.band_idx * 256 + r.bv)
      .transformWithState(
        new Tws.FoldProcessor((_: Int, prev: Option[PhashBucketState],
            rows: Iterator[PhashBandRow]) => claim(rows, prev)),
        TimeMode.None(), OutputMode.Append())
  }
}
