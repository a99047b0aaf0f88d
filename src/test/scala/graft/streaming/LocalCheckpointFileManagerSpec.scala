package graft.streaming

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

/** A local directory under a scheme of its own, for the delegation pin. */
class RawSchemeFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "graftraw"
  override def getUri: URI = URI.create("graftraw:///")
  override def rename(src: Path, dst: Path): Boolean = {
    RawSchemeFileSystem.renames.incrementAndGet()
    super.rename(src, dst)
  }
}

object RawSchemeFileSystem {
  val renames = new AtomicInteger
}

class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  /** A Hadoop conf with the session's `file:` filesystem, so the
    * filesystem this spec caches in the JVM is the one sessions use.
    */
  private val conf = {
    val c = new Configuration()
    c.set("fs.file.impl", graft.GraftSession.LocalFileSystemClass)
    c
  }

  private def bytes(n: Int): Array[Byte] =
    Array.tabulate(n)(i => (i * 31 + n).toByte)

  private def withDir(body: File => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-ckpt-fm").toFile
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    try body(dir) finally rm(dir)
  }

  private def manager(dir: File) =
    new LocalCheckpointFileManager(new Path(dir.toURI), conf)

  private def write(fm: LocalCheckpointFileManager, p: Path,
      data: Array[Byte], overwrite: Boolean = true): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(data)
    out.close()
  }

  private def read(in: java.io.InputStream): Array[Byte] =
    try in.readAllBytes() finally in.close()

  private def crc(dir: File, name: String): Array[Byte] =
    Files.readAllBytes(new File(dir, s".$name.crc").toPath)

  /** Every entry in `dir`, hidden ones included. */
  private def names(dir: File): Set[String] = dir.list().toSet

  test(".crc bytes equal Hadoop LocalFileSystem's at chunk boundaries") {
    withDir { dir =>
      val fm = manager(dir)
      val hadoop = FileSystem.getLocal(conf)
      Seq(0, 1, 511, 512, 513, 100000).foreach { n =>
        write(fm, new Path(new File(dir, s"g$n").toURI), bytes(n))
        val h = hadoop.create(new Path(new File(dir, s"h$n").toURI))
        h.write(bytes(n))
        h.close()
        assert(crc(dir, s"g$n").toSeq === crc(dir, s"h$n").toSeq, s"size $n")
        assert(Files.readAllBytes(new File(dir, s"g$n").toPath).toSeq ===
          bytes(n).toSeq)
      }
    }
  }

  test("files read back intact through Spark's default manager") {
    withDir { dir =>
      val fm = manager(dir)
      val spark = new FileContextBasedCheckpointFileManager(
        new Path(dir.toURI), conf)
      Seq(0, 513, 100000).foreach { n =>
        val p = new Path(new File(dir, s"f$n").toURI)
        write(fm, p, bytes(n))
        assert(read(spark.open(p)).toSeq === bytes(n).toSeq, s"size $n")
        assert(read(fm.open(p)).toSeq === bytes(n).toSeq, s"size $n")
      }
    }
  }

  test("one flipped byte fails the read with ChecksumException and the " +
    "file stays in place") {
    withDir { dir =>
      val fm = manager(dir)
      val p = new Path(new File(dir, "f").toURI)
      write(fm, p, bytes(2000))
      val f = new File(dir, "f").toPath
      val b = Files.readAllBytes(f)
      b(1500) = (b(1500) ^ 1).toByte
      Files.write(f, b)
      intercept[ChecksumException](read(fm.open(p)))
      assert(names(dir) === Set("f", ".f.crc"))
    }
  }

  test("createAtomic(overwrite=false) onto an existing file throws " +
    "FileAlreadyExistsException and leaves no temp") {
    withDir { dir =>
      val fm = manager(dir)
      val p = new Path(new File(dir, "0").toURI)
      write(fm, p, bytes(10), overwrite = false)
      val out = fm.createAtomic(p, false)
      out.write(bytes(20))
      intercept[FileAlreadyExistsException](out.close())
      out.cancel() // what HDFSMetadataLog does next: must be a no-op
      assert(names(dir) === Set("0", ".0.crc"))
      assert(read(fm.open(p)).toSeq === bytes(10).toSeq)
    }
  }

  test("cancel() leaves no file, .crc or temp") {
    withDir { dir =>
      val fm = manager(dir)
      val out = fm.createAtomic(new Path(new File(dir, "c").toURI), true)
      out.write(bytes(700))
      out.cancel()
      out.close() // after cancel: a no-op, nothing is published
      assert(names(dir).isEmpty)
    }
  }

  test("an overwrite replaces both the data and its .crc") {
    withDir { dir =>
      val fm = manager(dir)
      val p = new Path(new File(dir, "o").toURI)
      write(fm, p, bytes(1000))
      write(fm, p, bytes(600))
      assert(read(fm.open(p)).toSeq === bytes(600).toSeq)
      write(manager(dir), new Path(new File(dir, "ref").toURI), bytes(600))
      assert(crc(dir, "o").toSeq === crc(dir, "ref").toSeq)
      assert(names(dir) === Set("o", ".o.crc", "ref", ".ref.crc"))
    }
  }

  test("list hides .crc files; exists and delete cover the pair") {
    withDir { dir =>
      val fm = manager(dir)
      Seq("1", "2").foreach(n =>
        write(fm, new Path(new File(dir, n).toURI), bytes(3)))
      assert(fm.list(new Path(dir.toURI)).map(_.getPath.getName).toSet ===
        Set("1", "2"))
      val p = new Path(new File(dir, "1").toURI)
      assert(fm.exists(p))
      fm.delete(p)
      fm.delete(p) // a missing path is not an error
      assert(!fm.exists(p))
      assert(names(dir) === Set("2", ".2.crc"))
    }
  }

  test("a non-file scheme is delegated to Spark's own manager") {
    withDir { dir =>
      val c = new Configuration(conf)
      c.set("fs.graftraw.impl", classOf[RawSchemeFileSystem].getName)
      c.setBoolean("fs.graftraw.impl.disable.cache", true)
      val root = new Path(s"graftraw://${dir.getAbsolutePath}")
      val fm = new LocalCheckpointFileManager(root, c)
      val before = RawSchemeFileSystem.renames.get
      val p = new Path(root, "d")
      val out = fm.createAtomic(p, false)
      out.write(bytes(100))
      out.close()
      // Spark's rename-based write, and no .crc: the raw filesystem
      // keeps none
      assert(RawSchemeFileSystem.renames.get === before + 1)
      assert(names(dir) === Set("d"))
      assert(read(fm.open(p)).toSeq === bytes(100).toSeq)
    }
  }
}
