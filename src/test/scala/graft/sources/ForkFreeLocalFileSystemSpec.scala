package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SparkTestBase}

class ForkFreeLocalFileSystemSpec extends AnyFunSuite with SparkTestBase {

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  /** Permission bits of `f`, the sticky bit included. */
  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & octal("7777")

  /** The command line of every process the JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-procs", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.delete(dump)
    }
  }

  private def fileSystems(umask: Option[String])
      : (LocalFileSystem, LocalFileSystem) = {
    val conf = new Configuration()
    umask.foreach(conf.set("fs.permissions.umask-mode", _))
    def init(fs: LocalFileSystem) = {
      fs.initialize(URI.create("file:///"), conf)
      fs
    }
    (init(new ForkFreeLocalFileSystem), init(new LocalFileSystem))
  }

  test("the session's file: filesystem is the fork-free one") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(conf.get("fs.file.impl") === GraftSession.LocalFileSystemClass)
    assert(FileSystem.get(URI.create("file:///"), conf)
      .isInstanceOf[ForkFreeLocalFileSystem])
  }

  test("created files and directories get Hadoop's modes, without a " +
    "process") {
    val root = Files.createTempDirectory("graft-ffmodes").toFile
    for (umask <- Seq(None, Some("077"))) {
      val (ours, hadoops) = fileSystems(umask)
      for (m <- Seq("600", "644", "700", "755", "777")) {
        val perm = new FsPermission(octal(m).toShort)
        // the file is not created inside the directory: a 0600
        // directory cannot be entered
        def make(fs: LocalFileSystem, tag: String): (File, File) = {
          val name = s"$tag-${umask.getOrElse("dflt")}-$m"
          val dir = new File(root, s"$name.d")
          val file = new File(root, name)
          fs.mkdirs(new Path(dir.toURI), perm)
          fs.create(new Path(file.toURI), perm, true, 4096, 1.toShort,
            1L << 20, null).close()
          (dir, file)
        }
        var made: (File, File) = null
        val procs = processStarts { made = make(ours, "ours") }
        val (dir, file) = made
        val (hDir, hFile) = make(hadoops, "hadoop")
        val what = s"mode $m, umask ${umask.getOrElse("default")}"
        assert(procs.isEmpty, what)
        assert(mode(dir) === mode(hDir), what)
        assert(mode(file) === mode(hFile), what)
        assert(mode(new File(root, s".${file.getName}.crc")) ===
          mode(new File(root, s".${hFile.getName}.crc")), what)
        // and an explicit setPermission, which Hadoop applies unmasked
        ours.setPermission(new Path(file.toURI), perm)
        hadoops.setPermission(new Path(hFile.toURI), perm)
        assert(mode(file) === octal(m), what)
        assert(mode(file) === mode(hFile), what)
      }
    }
  }

  test("a sticky-bit mode falls back to Hadoop's chmod and matches") {
    val root = Files.createTempDirectory("graft-ffsticky").toFile
    val (ours, hadoops) = fileSystems(None)
    val perm = new FsPermission(octal("1777").toShort)
    val dir = new Path(new File(root, "ours").toURI)
    val hDir = new Path(new File(root, "hadoop").toURI)
    // mkdirs applies the umask, which drops the sticky bit in both
    ours.mkdirs(dir, perm)
    hadoops.mkdirs(hDir, perm)
    assert(mode(ours.pathToFile(dir)) === mode(hadoops.pathToFile(hDir)))
    val procs = processStarts(ours.setPermission(dir, perm))
    hadoops.setPermission(hDir, perm)
    assert(mode(ours.pathToFile(dir)) === octal("1777"))
    assert(mode(ours.pathToFile(dir)) === mode(hadoops.pathToFile(hDir)))
    if (!NativeIO.isAvailable) assert(procs.exists(_.contains("chmod")), procs)
  }

  test("a 4-partition parquet write and a repeated table read start no " +
    "process") {
    val dir = Files.createTempDirectory("graft-ffwrite").toString
    def write(name: String): Unit =
      spark.range(0, 1000, 1, 4).toDF("id")
        .write.parquet(s"$dir/$name.parquet")
    write("warm")
    var rows = Seq.empty[Long]
    val procs = processStarts {
      write("t")
      rows = (1 to 2).flatMap(_ =>
        Tables.table(spark, dir, "t").collect().map(_.getLong(0)))
    }
    assert(procs.isEmpty, procs)
    assert(new File(s"$dir/t.parquet").list().count(_.endsWith(".parquet"))
      === 4)
    assert(rows.sorted === (0L until 1000L).flatMap(i => Seq(i, i)))
  }
}
