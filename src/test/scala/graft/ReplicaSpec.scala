package graft

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the ×N replica that Bench ×N and ScaleSweep time: what
  * [[ScaleSweep.replica]] writes, and that it reuses a directory only
  * while its marker holds the fingerprint of the base corpus as it is
  * now.
  */
class ReplicaSpec extends AnyFunSuite with SparkTestBase {

  private val roots = scala.collection.mutable.Buffer.empty[File]
  private def tempDir(prefix: String): File = {
    val d = Files.createTempDirectory(prefix).toFile
    roots += d
    d
  }
  override def afterAll(): Unit = {
    roots.foreach(d => FileUtil.fullyDelete(d))
    super.afterAll()
  }

  private def read(dir: String, t: String) =
    spark.read.parquet(s"$dir/$t.parquet")

  test("replica x2: facts double on disjoint key ranges, dimensions are " +
    "unchanged, and orders join lineitem exactly twice as often") {
    val out = ScaleSweep.replica(spark, sfDir, 2, tempDir("replica").getPath)
    for ((t, keys) <- ScaleSweep.ReplicatedKeys) {
      val (b, r) = (read(sfDir, t), read(out, t))
      val n = b.count()
      assert(n > 0, s"$t is empty at $sfDir")
      assert(r.count() === 2 * n, t)
      for (k <- keys) {
        val Seq(lo, hi, distinct) = b.agg(min(col(k)).cast("long"),
          max(col(k)).cast("long"), countDistinct(col(k))).head.toSeq
          .map(_.asInstanceOf[Long])
        // copy 0 keeps the base keys; copy 1 lies wholly above them
        assert(r.filter(col(k) >= lo && col(k) <= hi).count() === n, s"$t.$k")
        assert(r.filter(col(k) > hi).count() === n, s"$t.$k")
        assert(r.filter(col(k) < lo).count() === 0, s"$t.$k")
        assert(r.select(countDistinct(col(k))).head.getLong(0) === 2 * distinct,
          s"$t.$k")
      }
    }
    for (t <- ScaleSweep.DimensionTables) {
      val (b, r) = (read(sfDir, t), read(out, t))
      assert(r.count() === b.count(), t)
      assert(r.exceptAll(b).isEmpty && b.exceptAll(r).isEmpty, t)
    }
    def joined(dir: String): Long = read(dir, "orders")
      .join(read(dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .count()
    assert(joined(out) === 2 * joined(sfDir))
  }

  test("replica is reused only while its marker holds the current " +
    "fingerprint; a changed base or a missing or foreign marker rebuilds") {
    val base = tempDir("replica-base")
    for (f <- new File(sfDir).listFiles())
      Files.copy(f.toPath, new File(base, f.getName).toPath)
    val root = tempDir("replica-root")
    val out = new File(ScaleSweep.replica(spark, base.getPath, 2, root.getPath))
    val marker = new File(out, "_READY")
    assert(marker.isFile)
    // a file replicate never writes: present after a reuse, gone after a
    // rebuild
    val sentinel = new File(out, "sentinel")
    def plant(): Unit = assert(sentinel.createNewFile())
    def rebuilt(why: String): Unit = {
      assert(ScaleSweep.replica(spark, base.getPath, 2, root.getPath) ===
        out.getPath, why)
      assert(!sentinel.exists(), s"$why: the old directory was returned")
      assert(marker.isFile, why)
    }

    plant()
    val (dirMtime, markerMtime) = (out.lastModified, marker.lastModified)
    assert(ScaleSweep.replica(spark, base.getPath, 2, root.getPath) ===
      out.getPath)
    assert(sentinel.exists())
    assert(out.lastModified === dirMtime && marker.lastModified === markerMtime)

    // regenerate one base table: the replica must follow it
    val region = new File(base, "region.parquet")
    val staged = new File(root, "region-staged")
    read(base.getPath, "region").limit(3).write.parquet(staged.getPath)
    assert(region.delete() && staged.renameTo(region))
    rebuilt("changed base")
    assert(read(out.getPath, "region").count() === 3)

    plant()
    assert(marker.delete())
    rebuilt("missing marker")

    plant()
    Files.writeString(marker.toPath, "version 0\n")
    rebuilt("foreign marker")

    assert(root.list().toSeq.sorted === Seq(out.getName),
      "a temp build directory was left behind")
  }
}
