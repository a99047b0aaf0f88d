package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import graft.functions.{BloomParams, HashScheme => H, TextHashFunctions}

/** The ONLINE curation gate — the streaming form of the p90 decision
  * table: every arriving document gets keep/drop with the same four
  * reason flags, at ingest time instead of in a batch sweep.
  *
  *  - flag_quality / flag_benchmark are pure row-local projections
  *    (p30's declared rules; the benchmark id convention);
  *  - flag_contaminated probes the SAME dense benchmark bloom bitmap
  *    as the p34 batch gate (single 32 KB row, broadcast stream-static
  *    cross join, k bit probes per distinct 3-gram inside codegen) —
  *    one-sided by construction: every exactly-contaminated doc is
  *    flagged, false positives at the filter's declared rate (the
  *    batch twin p34 ACCOUNTS them; the stream gate inherits exactly
  *    its decisions, pinned);
  *  - flag_dup is FIRST-ARRIVAL content claim in keyed state (p02
  *    claims by minimum doc_id; the stream claims by arrival — the two
  *    agree exactly under id-ordered ingest, the
  *    [[StreamingNearDup]] precedent), with event-time idle TTL so
  *    state is bounded by the content hashes active inside one
  *    horizon.
  *
  * State at scale: one (first_doc, activity) record per LIVE content
  * hash — nothing per document, nothing per shingle; the bloom adds a
  * constant 32 KB. keep == no flag, exactly p90's rule.
  */
object StreamingCuration {

  case class DocIn(doc_id: Long, ts: java.sql.Timestamp, source: String,
      text: String)

  case class Flagged(content_hash: Long, doc_id: Long,
      ts: java.sql.Timestamp, source: String, flag_quality: Boolean,
      flag_contaminated: Boolean, flag_benchmark: Boolean)

  case class ClaimState(first_doc: Long, act_ms: Long = Long.MinValue)

  case class Decision(doc_id: Long, source: String, flag_dup: Boolean,
      flag_quality: Boolean, flag_contaminated: Boolean,
      flag_benchmark: Boolean, keep: Boolean)

  /** Row-local flags + the bloom probe; `bitmap` is the single-row
    * `bits` frame from the batch build
    * ([[graft.queries.Pipeline.benchBloomBitmap]]).
    */
  private[streaming] def flagged(
      docs: DataFrame, bitmap: DataFrame): DataFrame = {
    val m = BloomParams.Bits
    val k = BloomParams.K
    val norm = lower(regexp_replace(trim(col("text")), "\\s+", " "))
    val toks = split(norm, " ")
    // one gram's k probes, all against the broadcast word array —
    // p34's row-local bit math as a nested lambda over the gram list
    val probeAll = (0 until k).map { i =>
      val pos = s"((${H.h32Spark("g")} + $i * ${H.h32bSpark("g")}) % $m)"
      s"(element_at(bits, cast($pos div 32 as int) + 1) & " +
        s"shiftleft(cast(1 as bigint), cast($pos % 32 as int))) != 0"
    }.mkString(" and ")
    docs
      .withColumn("content_hash", expr(H.h60Spark(
        "lower(regexp_replace(trim(text), '\\\\s+', ' '))")))
      .withColumn("tk", toks)
      .withColumn("n_toks", size(col("tk")).cast("long"))
      .withColumn("n_types",
        expr("size(array_distinct(tk))").cast("long"))
      .withColumn("max_tok", expr(
        "array_max(transform(array_distinct(tk), " +
          "t -> size(filter(tk, x -> x = t))))").cast("long"))
      .withColumn("flag_quality",
        col("n_toks") < 30 ||
        col("n_types") / col("n_toks") < 0.35 ||
        col("max_tok") / col("n_toks") > 0.15)
      .withColumn("flag_benchmark", col("doc_id") % 100 === 0)
      .withColumn("grams",
        array_distinct(TextHashFunctions.word_ngrams(col("tk"), 3)))
      .crossJoin(broadcast(bitmap))
      .withColumn("flag_contaminated",
        !col("flag_benchmark") &&
          expr("exists(grams, g -> " + probeAll + ")"))
      .select(col("content_hash"), col("doc_id"), col("ts"), col("source"),
        col("flag_quality"), col("flag_contaminated"),
        col("flag_benchmark"))
  }

  /** The per-content-hash batch fold: first arrival claims the hash,
    * later ones are duplicates.
    */
  private def fold(key: Long, prev: Option[ClaimState],
      rows: Iterator[Flagged]): (ClaimState, Iterator[Decision]) = {
    val ordered = rows.toArray.sortBy(r => (r.ts.getTime, r.doc_id))
    var s = prev.getOrElse(ClaimState(Long.MinValue))
    val out = ordered.map { r =>
      val act = math.max(s.act_ms, r.ts.getTime)
      val dup = s.first_doc != Long.MinValue
      if (!dup) s = ClaimState(r.doc_id, act)
      else s = s.copy(act_ms = act)
      Decision(r.doc_id, r.source, dup, r.flag_quality,
        r.flag_contaminated, r.flag_benchmark,
        !dup && !r.flag_quality && !r.flag_contaminated &&
          !r.flag_benchmark)
    }
    (s, out.iterator)
  }

  /** Update-mode decision stream with event-time idle TTL on the
    * dup-claim state ([[Tws.TtlFoldProcessor]]'s high-water + TTL
    * deadline).
    */
  def decisionsTws(docs: DataFrame, bitmap: DataFrame,
      idleTtl: java.time.Duration, watermarkDelay: String = "0 seconds")(
      implicit spark: SparkSession): Dataset[Decision] = {
    import spark.implicits._
    flagged(docs.withWatermark("ts", watermarkDelay), bitmap).as[Flagged]
      .groupByKey(_.content_hash)
      .transformWithState(
        new Tws.TtlFoldProcessor(fold, (s: ClaimState) => s.act_ms,
          idleTtl.toMillis),
        TimeMode.EventTime(), OutputMode.Update())
  }
}
