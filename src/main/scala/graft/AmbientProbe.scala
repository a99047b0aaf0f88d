package graft

import org.apache.spark.sql.SparkSession

/** The shared ambient-noise calibration probe (VERDICT r10 #2, r13
  * #3): a FIXED, catalog-independent synthetic job — range → hash-agg
  * over 1 000 keys → noop — whose cost depends only on the host
  * (cores, co-tenant load, GC pressure), never on library code. Every
  * measurement harness (Bench blocks, StreamBench's near-dup feeds,
  * Verify, CurationPipeline passes) records this probe next to its
  * timings so a co-tenant burst is a measured factor in the artifact
  * instead of an unattributable table delta.
  *
  * NEVER change this workload — the recorded quiet-host reference
  * ([[ref]], measured round 11 on an otherwise-idle 32-core builder)
  * is only comparable against the identical job.
  */
object AmbientProbe {

  /** Quiet-host reference seconds for [[once]] on 32 cores. */
  def ref: Double = sys.env.get("SPARK_GRAFT_CALIB_REF")
    .map(_.toDouble).getOrElse(0.55)

  /** One probe run; throws on failure — callers decide the fallback
    * (a probe failure must never take a bench artifact down with it).
    */
  def once(spark: SparkSession, cpus: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 200000000L, 1L, cpus * 2)
      .selectExpr("id % 1000 AS k", "id AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"),
        org.apache.spark.sql.functions.avg("v"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** One probe with the neutral-fallback discipline: on failure,
    * returns [[ref]] (factor 1.0) and prints the cause.
    */
  def onceOrRef(spark: SparkSession, cpus: Int): Double =
    try once(spark, cpus) catch {
      case e if scala.util.control.NonFatal(e) =>
        System.err.println(s"[probe] calibration failed: ${e.getMessage}")
        ref
    }

  /** Quiet-host reference seconds for [[diskOnce]] (measured on this
    * sandbox's idle virtual disk: 24 fsync cycles ≈ 0.042-0.053 s,
    * ~2 ms/fsync). */
  def diskRef: Double = sys.env.get("SPARK_GRAFT_DISK_REF")
    .map(_.toDouble).getOrElse(0.05)

  /** Disk-COMMIT latency probe: 24 cycles of (write 256 KiB at offset
    * 0, fsync) against a temp file on the state-checkpoint filesystem
    * (java.io.tmpdir). RocksDB micro-batch commits are dominated by
    * many small synchronous writes — a resource the CPU probe is
    * blind to (r14: a neardup feed read 5x slow under a co-tenant
    * DISK burst while its CPU probe read a clean 0.98 s / 1.8x; the
    * sampled device showed 35-57% io_util against ~1 MB/s of our own
    * writes, i.e. saturated by I/O we never issued). Like [[once]]:
    * fixed workload, never change it — [[diskRef]] is only comparable
    * against the identical cycle.
    */
  def diskOnce(): Double = {
    val f = java.io.File.createTempFile("graft-diskprobe", ".bin")
    try {
      val ch = java.nio.channels.FileChannel.open(f.toPath,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val buf = java.nio.ByteBuffer.allocate(256 * 1024)
        val t0 = System.nanoTime()
        var i = 0
        while (i < 24) {
          buf.rewind(); ch.position(0); ch.write(buf); ch.force(false)
          i += 1
        }
        (System.nanoTime() - t0) / 1e9
      } finally ch.close()
    } catch {
      case e if scala.util.control.NonFatal(e) =>
        System.err.println(s"[probe] disk probe failed: ${e.getMessage}")
        diskRef // neutral fallback, factor 1.0
    } finally f.delete()
  }
}
