package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Library-level robustness: every catalog query must PLAN and EXECUTE
  * on a zero-row corpus with the production schemas — no
  * division-by-zero crashes, no empty-aggregate surprises, no operator
  * that silently assumes data exists. (At 100 TB, empty partitions and
  * empty date-slices of every table are routine inputs, not edge
  * cases.)
  */
class EdgeCasesSpec extends AnyFunSuite with SparkTestBase {

  private lazy val emptyDir: String = {
    val dir = Files.createTempDirectory("graft-empty-corpus").toFile
    dir.deleteOnExit()
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      // raw read (no Tables normalization) so the written schema is
      // byte-for-byte what the corpus generator ships, just with 0 rows
      spark.read.parquet(s"$sfDir/$t.parquet").limit(0)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${dir.getAbsolutePath}/$t.parquet")
    }
    dir.getAbsolutePath
  }

  test("every catalog query executes on a zero-row corpus") {
    val failures = queries.Catalog.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, emptyDir).count(); None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName} ${e.getMessage}")
        }
    }
    assert(failures.isEmpty,
      s"queries must survive empty inputs:\n${failures.mkString("\n")}")
  }

  test("representative per-row and per-window queries return zero rows " +
    "on the empty corpus (no phantom output)") {
    Seq("q01_agg", "q42_scd2_intervals", "a04_anomaly_ensemble",
      "a31_periodogram", "p01_dedup_exact", "p30_quality_filter",
      "p54_minhash_calibration").foreach { name =>
      assert(queries.Catalog.queries(name)(spark, emptyDir).count() === 0L,
        s"$name should be empty on empty input")
    }
  }

  private lazy val degenerateDir: String = {
    val dir = Files.createTempDirectory("graft-degenerate-corpus").toFile
    dir.deleteOnExit()
    val base = dir.getAbsolutePath
    import org.apache.spark.sql.functions._
    // pass-through dims, but DEGENERATE facts: constant event values
    // (every window flat -> zero variance everywhere), documents that
    // are empty / one-token / all-identical (zero shingles, df = corpus
    // size, zero distinct-token ratios), and all-zero embeddings (zero
    // norms -> cosine denominators vanish). At 100 TB each of these
    // exists somewhere in the data; a query that throws on them here
    // dies there.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/$t.parquet")
    }
    spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("value", lit(5.0))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/events.parquet")
    spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("text",
        when(col("doc_id") % 3 === 0, lit(""))
          .when(col("doc_id") % 3 === 1, lit("tok"))
          .otherwise(lit("the same eleven words repeated in every " +
            "document of this corpus")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$base/documents.parquet")
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .withColumn("embedding",
        expr("transform(embedding, x -> CAST(0.0 AS FLOAT))"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$base/embeddings.parquet")
    base
  }

  test("every catalog query executes on a degenerate corpus: constant " +
    "series, empty/identical documents, zero embeddings") {
    val failures = queries.Catalog.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, degenerateDir).count(); None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName} " +
            s"${Option(e.getMessage).getOrElse("").take(200)}")
        } finally spark.catalog.clearCache()
    }
    assert(failures.isEmpty,
      s"queries must survive degenerate inputs:\n${failures.mkString("\n")}")
  }

  test("every catalog query survives NaN and overflow-scale metric " +
    "values (the events ingestion domain filter drops them)") {
    val dir = Files.createTempDirectory("graft-nan-corpus").toFile
    dir.deleteOnExit()
    val base = dir.getAbsolutePath
    import org.apache.spark.sql.functions._
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/$t.parquet")
    }
    // a NaN or a 1e15 float anywhere in a 100 TB stream must not kill
    // a query: before the Tables.events domain filter, 17 fixed-point
    // entries died with ANSI CAST_OVERFLOW on exactly this corpus
    // the % 83 rows are IN-domain extremes (just under the 1e9 bound,
    // varied so windows aren't constant): every integer intermediate
    // downstream — windowed sums, deviations, squares, series-scaled
    // products — must survive them, which is what makes the domain
    // contract's "analyzable" claim true rather than aspirational
    // the 'error' series goes DENSELY large (every row near the bound)
    // — the worst case for series-length-scaling integer products
    // (cumulative CUSUM/Page-Hinkley terms ~ N·Σv6), which sparse
    // extremes never push to their limit
    spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("value",
        when(col("event_id") % 97 === 0, lit(Double.NaN))
          .when(col("event_id") % 89 === 0, lit(1.0e15))
          .when(col("event_id") % 83 === 0,
            lit(8.8e8) + (col("event_id") % 7) * 1e3)
          .when(col("event_type") === "error",
            lit(8.0e8) + (col("event_id") % 11) * 1e4)
          .otherwise(col("value")))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/events.parquet")
    // likewise NaN embedding components (8 ANN queries died pre-filter)
    // and null text / null vectors
    spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("text", when(col("doc_id") % 53 === 0,
        lit(null: String)).otherwise(col("text")))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$base/documents.parquet")
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .withColumn("embedding",
        when(col("vec_id") % 41 === 0,
          expr("transform(embedding, x -> CAST('NaN' AS FLOAT))"))
          .when(col("vec_id") % 43 === 0, lit(null).cast("array<float>"))
          .otherwise(col("embedding")))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$base/embeddings.parquet")
    val failures = queries.Catalog.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try { fn(spark, base).count(); None }
        catch { case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName} " +
            s"${Option(e.getMessage).getOrElse("").take(200)}")
        } finally spark.catalog.clearCache()
    }
    assert(failures.isEmpty,
      s"queries must survive out-of-domain values:\n" +
        failures.mkString("\n"))
  }

  test("a43/a44 survive a one-row series: degenerate moments emit no " +
    "tail fit (a43) and a NULL drift (a44), never an ANSI x/0 error") {
    val dir = Files.createTempDirectory("graft-singleton-corpus").toFile
    dir.deleteOnExit()
    spark.read.parquet(s"$sfDir/events.parquet").limit(1)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${dir.getAbsolutePath}/events.parquet")
    val tail = queries.Catalog.queries("a43_evt_tail")(
      spark, dir.getAbsolutePath).collect()
    assert(tail.isEmpty, "a tail fit needs >= 2 points")
    val drift = queries.Catalog.queries("a44_dist_drift")(
      spark, dir.getAbsolutePath).collect()
    assert(drift.length === 1)
    assert(drift.head.isNullAt(4), "one-row series must report NULL tv")
    // the hourly-derived family degrades to empty output (no trend
    // window, no 24h lag) rather than erroring
    Seq("a50_stl_decompose", "a51_forecast_band").foreach { n =>
      assert(queries.Catalog.queries(n)(spark, dir.getAbsolutePath)
        .collect().isEmpty, s"$n should be empty on a one-row series")
    }
  }

  test("money guard rejects a price that HALF_UP-rounds past DECIMAL(8,2)") {
    import spark.implicits._
    val orders = Seq(1.0).toDF("o_totalprice")
    def violations(price: Double) = Verify.moneyViolations(Map(
      "lineitem" -> Seq((price, 1.0, 0.05))
        .toDF("l_extendedprice", "l_quantity", "l_discount"),
      "orders" -> orders))
    assert(violations(999999.99).isEmpty)
    // below the old 1e6 bound, yet its cast rounds to 1000000.00 and
    // would NULL out of every money sum
    val edge = violations(999999.995)
    assert(edge.size === 1 && edge.head.startsWith("lineitem.l_extendedprice"),
      edge)
  }
}
