package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Money-domain guard: the relational layer casts every
    * money column to DECIMAL(8,2), and a value that cast cannot hold
    * becomes NULL under non-ANSI evaluation and silently vanishes from
    * every money sum — a wrong answer, not an error. A column violates
    * when a non-null value does not survive the cast (this includes
    * [999999.995, 1e6), which HALF_UP rounds past 999999.99) or when
    * its max |v| reaches its bound: prices 1e6 (the cast range),
    * quantities/discounts 1e3 (the moneySumSmall single-long-sum
    * budget — see Relational's headroom comments). Returns one message
    * per violation; `table` resolves lineitem and orders.
    */
  private[graft] def moneyViolations(
      table: String => org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions._
    val money = Seq(
      "lineitem" -> Seq("l_extendedprice" -> 1e6, "l_quantity" -> 1e3,
        "l_discount" -> 1e3),
      "orders" -> Seq("o_totalprice" -> 1e6))
    money.flatMap { case (tbl, cols) =>
      val aggs = cols.flatMap { case (c, _) =>
        Seq(max(abs(col(c).cast("double"))),
          count(when(col(c).isNotNull &&
            expr(s"try_cast($c AS DECIMAL(8,2))").isNull, 1)))
      }
      val row = table(tbl).agg(aggs.head, aggs.tail: _*).head
      cols.zipWithIndex.flatMap { case ((c, bound), i) =>
        val over = Option.when(!row.isNullAt(2 * i) &&
            row.getDouble(2 * i) >= bound)(
          s"$tbl.$c max |v| = ${row.getDouble(2 * i)} (bound $bound)")
        val lost = row.getLong(2 * i + 1)
        over.toSeq ++ Option.when(lost > 0)(
          s"$tbl.$c: $lost value(s) overflow DECIMAL(8,2)")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val spark = GraftSession.create(s"local[$cpus]", cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: SPARK_GRAFT_ONLY=q28,q29 runs just those
    // queries (driver sets nothing -> full run)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def keep(n: String): Boolean = only.forall(_.contains(n))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Written BEFORE the query loop: it depends only on the catalog, so a
    // timeout/crash mid-loop still leaves the driver a scoreable prefix
    // (round 6's gate was zeroed because this file was written last).
    val json = SparkEntry.oracleSql.filter(e => keep(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Untimed warmup: in a fresh JVM the first Spark action pays
    // classloading, whole-stage-codegen compilation, and parquet
    // footer/codec init (measured ~6-10 s at sf0.1) — without this the
    // first entry absorbs that fixed cost into its recorded wall time
    // and the budget gate compares warmup noise, not query cost.
    try {
      import org.apache.spark.sql.functions._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id") % 32).orderBy("x")
      spark.range(200000)
        .select(col("id"), md5(col("id").cast("string")).as("m"),
          xxhash64(col("id")).as("x"))
        .withColumn("r", row_number().over(w))
        .groupBy((col("id") % 100).as("g")).agg(count(lit(1)), max("m"))
        .write.format("noop").mode("overwrite").save()
      Seq("documents", "embeddings", "events", "lineitem", "orders")
        .foreach(t =>
          graft.sources.Tables.table(spark, sfDir, t).limit(1).count())
    } catch { case e if scala.util.control.NonFatal(e) => () }
    // Money-domain guard: NOT wrapped in the warmup's swallow-all (a
    // guard that can't fail guards nothing).
    val bad = moneyViolations(graft.sources.Tables.table(spark, sfDir, _))
    require(bad.isEmpty,
      "money-domain violation (out-of-bound values would silently " +
        s"NULL out of the DECIMAL(8,2) money casts or overflow the " +
        s"single-long small sums): ${bad.mkString("; ")}")
    val t0 = System.nanoTime()
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    // Ambient probe samples (the calib discipline Verify lacked, round
    // 14): the per-entry walls feed the budget gate, and a co-tenant
    // burst mid-run produces FAIL flags that were only adjudicable
    // with out-of-band re-runs (r14: 10 flags in one window, q01
    // control at 3.4 s vs its ~0.9 s quiet median, probe 2.3-2.6x
    // ref). One CPU + disk probe pair before the loop, after every
    // 20th entry, and after the last — ~11 samples on a full catalog,
    // ~10 s of a ~330 s run — written to probes.json so
    // check_budgets.py can annotate each flag with its LOCAL ambient.
    val probes = scala.collection.mutable.ArrayBuffer[(Int, Double, Double)]()
    def sampleProbe(after: Int): Unit =
      probes += ((after, AmbientProbe.onceOrRef(spark, cpus),
        AmbientProbe.diskOnce()))
    sampleProbe(0)
    var nDone = 0
    SparkEntry.queries.filter(e => keep(e._1)).foreach { case (name, fn) =>
      val tq = System.nanoTime()
      // repartition(1), NOT coalesce(1): coalesce merges the plan's
      // FINAL STAGE into one task, so everything after the last shuffle
      // — in the permutation entries that is the entire 500-permutation
      // kernel eval the chunked evaluator explicitly round-robins
      // across cores — ran single-threaded inside the timed window
      // (a07 7.4 s / a13 8.3 s recorded vs ~1 s at full parallelism;
      // the r10 "a13-class tops the Verify budget" finding was THIS
      // harness artifact, not kernel cost). repartition(1) keeps the
      // one-file-per-entry layout but isolates the write behind an
      // explicit exchange, preserving upstream parallelism. Output row
      // order changes; the driver sorts rows before hashing.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - tq) / 1e9
      timings(name) = sec
      System.err.println(f"[verify] $name%-28s $sec%8.2f s")
      // the catalog's persisted intermediates are per-query scoped;
      // dropping them here keeps a 206-query run's storage memory flat
      queries.Catalog.release(spark)
      nDone += 1
      if (nDone % 20 == 0) sampleProbe(nDone)
    }
    if (probes.last._1 != nDone) sampleProbe(nDone)
    System.err.println(
      f"[verify] TOTAL ${(System.nanoTime() - t0) / 1e9}%.1f s")
    Files.writeString(Paths.get(s"$outDir/probes.json"),
      s"""{"probe_ref":${AmbientProbe.ref},""" +
        s""""disk_ref":${AmbientProbe.diskRef},"samples":[""" +
        probes.map { case (a, c, d) =>
          f"""{"after":$a,"cpu":$c%.3f,"disk":$d%.3f}"""
        }.mkString(",") + "]}")
    // per-entry wall seconds for the budget gate (tools/check_budgets.py
    // against tools/budgets_sf01.json): a silent per-entry perf
    // regression should fail a tool, not wait for a bench round
    Files.writeString(Paths.get(s"$outDir/timings.json"),
      timings.map { case (k, v) => s"${q(k)}: ${f"$v%.3f"}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
