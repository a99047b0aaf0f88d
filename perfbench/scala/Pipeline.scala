package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.operators.EntryCaches
import graft.queries.Catalog
import graft.sources.Tables

/** Catalog entries over an xN replica of a generated corpus. One pass
  * builds, plans and writes every entry; the outputs of the last pass
  * are compared with each entry's DuckDB oracle outside the JVM.
  */
final class PipelineScaled(input: String, out: String) extends Workload {
  val entries: Seq[String] = PipelineScaled.Entries
  val tables = Seq("lineitem", "orders", "customer", "embeddings")
  private var attempted = 0L
  private var errors = 0L

  private def runEntry(spark: SparkSession, t: Tracer, name: String,
      dir: String, sink: Option[String]): Unit = {
    val df = t.span("queries", s"$name.build")(Catalog.queries(name)(spark, dir))
    t.span("queries", s"$name.exec") {
      sink match {
        case Some(path) => df.write.mode("overwrite").parquet(path)
        case None => df.write.format("noop").mode("overwrite").save()
      }
    }
    EntryCaches.releaseAll()
    spark.catalog.clearCache()
  }

  override def minUnits: Int = 2
  def warmSeconds: Double = 4.0

  def warmup(spark: SparkSession, t: Tracer): Unit =
    runEntry(spark, t, "q04_join_multi", input, None)

  def measure(spark: SparkSession, t: Tracer, seconds: Double): Segment = {
    val lat = mutable.ArrayBuffer[Double]()
    val ops = mutable.ArrayBuffer[Long]()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (lat.isEmpty || (seconds > 0 && lat.size < minUnits) ||
        System.nanoTime() < end) {
      ops += Main.beginOp(spark, t)
      attempted += 1
      val t0 = System.nanoTime()
      var ok = true
      entries.foreach { name =>
        try runEntry(spark, t, name, input, Some(s"$out/pass/$name"))
        catch {
          case e: Exception =>
            ok = false
            System.err.println(s"[bench] $name failed: $e")
        }
      }
      if (!ok) errors += 1
      lat += (System.nanoTime() - t0) / 1e9
    }
    Segment(lat.toSeq, ops.toSeq)
  }

  /** The oracle comparison runs in DuckDB after the JVM exits; here the
    * oracle SQL is handed over next to the outputs.
    */
  def check(spark: SparkSession, corrupt: Boolean): Check = {
    val sql = entries.flatMap(n => Catalog.oracleSql.get(n).map(n -> _)).toMap
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.value(sql))
    Check(attempted, errors, s"${sql.size} entries handed to the oracle")
  }

  def layers(spark: SparkSession, t: Tracer, seg: Segment,
      phases: PhaseListener): Map[String, Double] = {
    val scans = tables.map { tbl =>
      s"sources.$tbl.scan_s" -> Stats.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        t.span("sources", s"scan $tbl")(Tables.table(spark, input, tbl)
          .write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t0) / 1e9
      })
    }
    // build and exec split per entry, from this run's traced spans
    val spans = t.spans.filter(s => s.layer == "queries" && seg.ops.contains(s.op))
    val split = entries.flatMap { n =>
      def med(kind: String) = Stats.median(seg.ops.map(op =>
        spans.filter(s => s.op == op && s.name == s"$n.$kind").map(_.seconds).sum))
      Seq(s"queries.$n.build_s" -> med("build"),
        s"queries.$n.plan_s" -> Stats.median(seg.ops.map(op => spans
          .filter(s => s.op == op && s.name.startsWith(s"$n."))
          .map(s => phases.seconds(s.startMs, s.endMs)).sum)),
        s"queries.$n.exec_s" -> med("exec"))
    }
    (scans ++ split).toMap
  }
}

object PipelineScaled {
  val Entries = Seq("q04_join_multi", "p63_sim_ivfpq")
}
