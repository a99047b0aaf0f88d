package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Canonical readers for the test corpus (TESTDATA.md).
  *
  * `events.ts` has shipped under three parquet encodings across corpus
  * generations: TIMESTAMP(NANOS) (read as nano-epoch longs via
  * legacy.parquet.nanosAsLong and converted losslessly — no
  * sub-microsecond components), TIMESTAMP(MICROS) without UTC
  * adjustment (read as TIMESTAMP_NTZ, reinterpreted as the instant
  * under the engine-wide UTC session zone — exactly DuckDB's naive
  * `epoch()` semantics), and plain TimestampType. The reader adapts on
  * schema, so every downstream query sees one canonical TimestampType
  * column. All other tables read natively. Column pruning and filter
  * pushdown reach the scans because nothing here materializes — callers
  * compose on the lazy DataFrame.
  *
  * A parquet read without a schema runs a whole Spark job to infer one
  * from the footers: one stage and ~100–135 ms per read (sf0.01
  * lineitem, 4-core VM), five of them in q04's build, on every pass
  * over unchanged files. So [[table]] infers once per table file set
  * and then reads with that schema (0 jobs, ~9 ms). Each qualified
  * path keeps one entry, the inferred schema with the stamp it was
  * inferred under:
  *   - every file under the path, its relative name, length and mtime;
  *   - the session's explicitly set `spark.sql.parquet.*`,
  *     `spark.sql.legacy.parquet.*` and `spark.sql.caseSensitive`
  *     values, which change what inference returns.
  * Any other stamp infers again and replaces the entry, so the map holds
  * one entry per distinct table path. The stamp is built from
  * `getFileStatus`/`listStatus` and never asks a status for its
  * permission: on the local filesystem without `libhadoop` that runs
  * `ls -ld` in a new process per file, which `listFiles` and
  * `listLocatedStatus` do (their `LocatedFileStatus` copies it). A glob
  * path, or one whose listing fails, reads uncached, so Spark raises its
  * own error for a missing table.
  */
object Tables {

  /** The confs that change a parquet footer's inferred schema. */
  private def schemaConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }

  /** (relative name, length, mtime) of every file, plus [[schemaConfs]]. */
  private type Stamp = (Seq[(String, Long, Long)], Map[String, String])

  /** Qualified path -> (stamp, schema inferred under it). */
  private val schemas = new ConcurrentHashMap[String, (Stamp, StructType)]

  private def stamp(spark: SparkSession, path: String)
      : Option[(String, Stamp)] =
    if (path.exists("{}[]*?\\".contains(_))) None
    else Try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def files(st: FileStatus, rel: String): Seq[(String, Long, Long)] =
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq.sortBy(_.getPath.getName)
            .flatMap(c => files(c, s"$rel/${c.getPath.getName}"))
        else Seq((rel, st.getLen, st.getModificationTime))
      (fs.makeQualified(p).toString,
        (files(fs.getFileStatus(p), ""), schemaConfs(spark)))
    }.toOption

  /** `spark.read.parquet(path)`, inferring the schema only when the
    * path's stamp differs from the one its cached schema was inferred
    * under.
    */
  private[sources] def parquet(spark: SparkSession, path: String)
      : DataFrame =
    stamp(spark, path) match {
      case None => spark.read.parquet(path)
      case Some((key, st)) =>
        Option(schemas.get(key)) match {
          case Some((`st`, schema)) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            schemas.put(key, (st, df.schema))
            df
        }
    }

  /** SQL confs every graft session should carry. */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    configure(spark)
    val df = parquet(spark, s"$dir/$name.parquet")
    if (name == "events") {
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      df.schema("ts").dataType match {
        case LongType => // nano-epoch longs (legacy nanosAsLong read)
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType => // micros, not UTC-adjusted: pin as UTC
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    } else df
  }

  /** The metric-value DOMAIN contract, applied at ingestion: an
    * observation is analyzable iff `value` is finite and |value| < 1e9
    * (micro fixed point |v6| < 1e15; the corpus tops out around
    * 5.6e2). Out-of-domain rows — NaN, ±Inf, astronomically large
    * floats — are DROPPED here, the reference's own NA-drop semantics
    * (`anomalyze.go` drops NA observations before every test) extended
    * to the relational layer: the `events` table IS the observation
    * stream, and a row whose measurement cannot be analyzed exactly is
    * not an observation (deployments wanting raw-log semantics read
    * `Tables.table(_, _, "events")`, which this never filters).
    * Without the filter, a single NaN anywhere in a 100 TB stream
    * kills every fixed-point query with an ANSI CAST_OVERFLOW (17 of
    * the catalog's entries, per the NaN-corpus audit); silently
    * try_cast-ing instead would let nulls leak into window frames and
    * change counts, which is worse.
    *
    * Why 1e9 and not the raw int64 bound 2^63/1e6: in-domain values
    * must keep every downstream INTEGER intermediate in range, not
    * just the first cast. At |v6| < 1e15, windowed sums (w <= 64) stay
    * under 6.4e16, studentized deviations n·x − sx under 1.3e17 —
    * >70x int64 headroom — and squares/cubes/series-length-scaling
    * products are DECIMAL(38,0) by construction (cast-then-multiply,
    * pinned by the in-domain-extremes corpus audit in EdgeCasesSpec).
    *
    * The filter is a pure RANGE predicate on purpose: `isnan`/`abs`
    * are not source-pushable, but -1e9 < value < 1e9 reaches the
    * parquet scan as PushedFilters (row-group min/max pruning at
    * scale), and Spark orders NaN greater than every double, so the
    * range excludes NaN too (pinned in ScalePropertiesSpec). A no-op
    * on the shipped corpus, so every DuckDB oracle (which reads the
    * raw table) still sees identical data.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .filter(col("value") > -1e9 && col("value") < 1e9)
}
