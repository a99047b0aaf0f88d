package graft.streaming

import java.security.MessageDigest
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.multimodal.MultiModal
import graft.queries.Catalog

/** Pins for the streaming perceptual near-dup twin:
  *
  *  1. exact equality against an INDEPENDENT sequential recompute of
  *     the first-claim fold over the same band rows (the stream's
  *     semantics, re-derived in plain Scala), on a feed augmented
  *     with a constructed exact duplicate (Hamming 0) and a SEARCHED
  *     imperfect variant (0 < Hamming <= 7 — by pigeonhole such a
  *     pair always shares a band, so it must hit);
  *  2. the same output under different micro-batch slicings;
  *  3. containment in the batch p101 pair census at sf0.01 (where the
  *     corpus has a real imperfect pair): every non-first hit is one
  *     of p101's (doc_a < doc_b) pairs with the identical Hamming
  *     distance;
  *  4. the prefix-cap: a bucket fed more than 64 members claims 1,
  *     evaluates 63, ignores the rest.
  */
class StreamingPhashNearDupSpec extends AnyFunSuite with SparkTestBase {

  private def runStream(
      docs: Seq[StreamingPhashNearDup.DocIn], nBatches: Int,
      sinkName: String): Map[(Long, Int), (Long, Int, Boolean)] = {
    val sparkSession = spark
    import sparkSession.implicits._
    val input = MemoryStream[StreamingPhashNearDup.DocIn](sparkSession)
    val query = StreamingPhashNearDup.bandHitsTws(input.toDF())(sparkSession)
      .writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    try {
      val per = math.max(1, (docs.length + nBatches - 1) / nBatches)
      docs.grouped(per).foreach { b =>
        input.addData(b)
        query.processAllAvailable()
      }
    } finally query.stop()
    spark.table(sinkName).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getInt(3), r.getBoolean(4)))).toMap
  }

  private def corpusAt(dir: String): Seq[StreamingPhashNearDup.DocIn] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => StreamingPhashNearDup.DocIn(
        r.getLong(0), new Timestamp(r.getLong(0) * 1000L), r.getString(1)))
      .sortBy(_.doc_id).toSeq

  /** The shared tokenizer, re-stated in plain Scala for the in-JVM
    * variant search (Spark's regexp_replace("\\s+") and split(" ")
    * agree with Java's on these inputs). */
  private def jvmToks(text: String): Seq[String] =
    text.trim.toLowerCase.replaceAll("\\s+", " ").split(" ").toSeq

  private def jvmSig(md: MessageDigest, text: String): Array[Int] =
    MultiModal.aHashSignature(md, -1L, jvmToks(text))

  private def hamming(a: Array[Int], b: Array[Int]): Int =
    (0 to 7).map(i => Integer.bitCount(a(i) ^ b(i))).sum

  /** Searches one-token-REPLACED corpus-doc variants for one at
    * 0 < Hamming <= 7 from its base — the deterministic imperfect
    * near-dup the tiny corpus lacks. The token count must stay FIXED:
    * the raster maps pixel p to token (p·tn)/1024, so appending
    * tokens remaps nearly every pixel (measured: no appended variant
    * lands under Hamming 8), while replacing token j touches only the
    * ~1024/tn pixels mapped to j and flips few aHash bits. The result
    * is a pure function of the corpus.
    */
  private def findImperfectVariant(
      docs: Seq[StreamingPhashNearDup.DocIn]): (String, String, Int) = {
    val md = MessageDigest.getInstance("MD5")
    val cands = for {
      d <- docs.take(30).iterator
      toks = jvmToks(d.text)
      j <- toks.indices.take(20).iterator
      v = toks.updated(j, toks(j) + "q").mkString(" ")
      h = hamming(jvmSig(md, d.text), jvmSig(md, v))
      if h >= 1 && h <= StreamingPhashNearDup.MaxHamming
    } yield (d.text, v, h)
    assert(cands.hasNext, "no imperfect variant found in the search space")
    cands.next()
  }

  test("stream == independent sequential first-claim recompute " +
    "across micro-batch slicings") {
    val sparkSession = spark
    import sparkSession.implicits._

    val base = corpusAt(sfDir)
    val maxId = base.map(_.doc_id).max
    val (origText, varText, varH) = findImperfectVariant(base)
    // augment: an exact duplicate of the first doc (Hamming 0, shares
    // every band) and the searched imperfect variant (shares >= 1
    // band by pigeonhole), arriving AFTER the corpus
    val feed = base ++ Seq(
      StreamingPhashNearDup.DocIn(maxId + 1,
        new Timestamp((maxId + 1) * 1000L), base.head.text),
      StreamingPhashNearDup.DocIn(maxId + 2,
        new Timestamp((maxId + 2) * 1000L), varText))

    // the expected output, re-derived WITHOUT the stream machinery:
    // batch-mode band rows (same shared derivation), grouped by
    // bucket, walked in (ts, doc) order with an independent fold
    val rows = StreamingPhashNearDup.bandRows(
      feed.toDF("doc_id", "ts", "text")).collect()
    val expected = rows.groupBy(r => (r.band_idx, r.bv)).flatMap {
      case (_, rs) =>
        val ordered = rs.sortBy(r => (r.ts.getTime, r.doc_id))
        val first = ordered.head
        val later = ordered.tail.take(StreamingPhashNearDup.MaxOccupancy - 1)
        val claim = (first.doc_id, first.band_idx) ->
          ((first.doc_id, 0, true))
        val hits = later.flatMap { r =>
          val h = (0 to 7).map(i =>
            Integer.bitCount(first.sig(i) ^ r.sig(i))).sum
          if (h <= StreamingPhashNearDup.MaxHamming)
            Some((r.doc_id, r.band_idx) -> ((first.doc_id, h, false)))
          else None
        }
        Seq(claim) ++ hits
    }.toMap

    val two = runStream(feed, nBatches = 2, "phash_2")
    assert(two === expected)
    // the augmented docs guarantee both hit classes exist
    assert(expected.values.exists(v => !v._3 && v._2 == 0),
      "exact duplicate must produce a Hamming-0 hit")
    assert(expected.values.exists(v => !v._3 && v._2 > 0),
      s"imperfect variant (searched Hamming $varH vs its base " +
        s"'${origText.take(30)}...') must produce a hit")

    val three = runStream(feed, nBatches = 3, "phash_3")
    assert(three === expected,
      "a different batch slicing must equal the same fold")
  }

  test("every non-first hit is a p101 pair with the identical Hamming " +
    "distance (sf0.01, the corpus with a real imperfect pair)") {
    val dir = "/root/testdata/sf0.01"
    val stream = runStream(corpusAt(dir), nBatches = 2, "phash_p101")
    val batchPairs = Catalog.queries("p101_image_phash_neardup")(
      spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val nonFirst = stream.filter(!_._2._3)
    assert(nonFirst.nonEmpty, "expected near-dup hits on the corpus")
    nonFirst.foreach { case ((doc, band), (first, h, _)) =>
      val key = (math.min(first, doc), math.max(first, doc))
      assert(batchPairs.get(key).contains(h.toLong),
        s"stream hit $key (band $band, hamming $h) missing from p101 " +
          s"or hamming differs (batch: ${batchPairs.get(key)})")
    }
  }

  test("prefix-cap: a 70-member bucket claims 1, evaluates 63, " +
    "ignores the rest") {
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (1L to 70L).map(id =>
      StreamingPhashNearDup.DocIn(id, new Timestamp(id * 1000L), text))
    val out = runStream(docs, nBatches = 4, "phash_cap")
    // identical text -> identical signature -> all 8 band buckets hold
    // all 70 docs; per bucket: doc 1 claims, docs 2..64 hit (hamming
    // 0), docs 65..70 are silent
    val claims = out.filter(_._2._3)
    val hits = out.filter(!_._2._3)
    assert(claims.keySet === (0 to 7).map(b => (1L, b)).toSet)
    assert(hits.size === 8 * 63, s"got ${hits.size} hits")
    assert(hits.keys.map(_._1).toSet === (2L to 64L).toSet)
    assert(hits.values.forall { case (first, h, _) =>
      first == 1L && h == 0 })
  }
}
