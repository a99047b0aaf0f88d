package graft.sources

import java.io.File
import java.nio.file.Files
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** `Tables.table` infers a parquet schema once per table file set: a
  * read whose files and schema confs are unchanged runs no inference job
  * and returns what an inferring read returns.
  */
class TableSchemaCacheSpec extends AnyFunSuite with SparkTestBase {

  private val jobStarts = new AtomicInteger
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.incrementAndGet()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(listener)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    super.afterAll()
  }

  /** Spark jobs started while `body` runs (a schema inference is one). */
  private def jobs[T](body: => T): (Int, T) = {
    ListenerBusDrain(spark.sparkContext)
    val before = jobStarts.get
    val r = body
    ListenerBusDrain(spark.sparkContext)
    (jobStarts.get - before, r)
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def tempDir(): String =
    Files.createTempDirectory("graft-schemas").toString

  test("every corpus table: a repeated read infers nothing and equals " +
    "an inferring read") {
    Tables.configure(spark)
    val names = new File(sfDir).list().filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted.toSeq
    assert(names.size === 10)
    names.foreach { name =>
      val path = s"$sfDir/$name.parquet"
      Tables.table(spark, sfDir, name)
      val (n, df) = jobs(Tables.table(spark, sfDir, name))
      assert(n === 0, name)
      assert(df.schema === Tables.table(spark, sfDir, name).schema, name)
      val raw = Tables.parquet(spark, path)
      val inferred = spark.read.parquet(path)
      assert(raw.schema === inferred.schema, name)
      assert(sameRows(raw, inferred), name)
    }
  }

  test("the cached-schema plan has the inferring plan's result, so a " +
    "persisted inferring read serves it") {
    val path = s"$sfDir/orders.parquet"
    Tables.parquet(spark, path)
    val inferred = spark.read.parquet(path)
    val cached = Tables.parquet(spark, path)
    assert(cached.queryExecution.analyzed
      .sameResult(inferred.queryExecution.analyzed))
    inferred.persist()
    try {
      val served = Tables.parquet(spark, path).queryExecution.withCachedData
        .collect { case r: InMemoryRelation => r }
      assert(served.nonEmpty)
    } finally inferred.unpersist(blocking = true)
  }

  test("a rewritten table, an mtime change and a schema conf change " +
    "each infer again") {
    val dir = tempDir()
    val path = s"$dir/t.parquet"
    spark.range(0, 100, 1, 2).toDF("a").write.parquet(path)
    assert(jobs(Tables.parquet(spark, path))._1 === 1)
    assert(jobs(Tables.parquet(spark, path))._1 === 0)

    // a directory of part files: read back whole
    assert(Tables.parquet(spark, path).count() === 100)

    spark.range(0, 100, 1, 2).selectExpr("id AS a", "id * 2 AS b")
      .write.mode("overwrite").parquet(path)
    val (n, added) = jobs(Tables.parquet(spark, path))
    assert(n === 1)
    assert(added.columns.toSeq === Seq("a", "b"))
    assert(sameRows(added, spark.read.parquet(path)))

    val part = new File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    Files.setLastModifiedTime(part, FileTime.fromMillis(
      Files.getLastModifiedTime(part).toMillis - 60000))
    assert(jobs(Tables.parquet(spark, path))._1 === 1)
    assert(jobs(Tables.parquet(spark, path))._1 === 0)

    // a file without Spark's schema in its footer, as other writers
    // leave it: binaryAsString decides the column's type
    val bin = s"$dir/bin.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required binary v; }")
    val writer = ExampleParquetWriter.builder(new Path(bin)).withType(schema)
      .build()
    try (0 until 3).foreach(i =>
      writer.write(new SimpleGroupFactory(schema).newGroup().append("v", s"$i")))
    finally writer.close()
    assert(Tables.parquet(spark, bin).schema("v").dataType === BinaryType)
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try {
      val (m, asString) = jobs(Tables.parquet(spark, bin))
      assert(m === 1)
      assert(asString.schema("v").dataType === StringType)
    } finally spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert(Tables.parquet(spark, bin).schema("v").dataType === BinaryType)
  }

  test("a glob path reads uncached, and a missing table raises Spark's " +
    "own error") {
    val dir = tempDir()
    spark.range(5).toDF("a").write.parquet(s"$dir/g.parquet")
    val glob = s"$dir/g.parquet/*.parquet"
    assert(jobs(Tables.parquet(spark, glob))._1 === 1)
    assert(jobs(Tables.parquet(spark, glob))._1 === 1)
    val ours = intercept[AnalysisException](Tables.table(spark, dir, "nope"))
    val sparks = intercept[AnalysisException](
      spark.read.parquet(s"$dir/nope.parquet"))
    assert(ours.getCondition === "PATH_NOT_FOUND")
    assert(ours.getCondition === sparks.getCondition)
  }
}
