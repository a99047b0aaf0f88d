package graft.streaming

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataOutputStream, OutputStream}
import java.net.URI
import java.nio.file.{Files, Path => NioPath, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import java.util.zip.CRC32

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint files without a process per file.
  *
  * Without `libhadoop`, Hadoop's local filesystem sets the permission of
  * every file it creates by running `chmod`, and Spark's default
  * (FileContext-based) manager creates every offset-log, commit-log and
  * state-store file through it: 22–24 ms per 300-byte file against
  * 0.1–0.8 ms here (4-core VM), several files per micro-batch. On a `file:` path this manager writes with `java.nio`
  * instead, and leaves the same files Spark's manager leaves:
  *   - the data goes to a hidden temp sibling `.<name>.<uuid>.tmp`, the
  *     name Spark gives its own temp files;
  *   - a Hadoop-format `.<name>.crc` is summed while the data streams
  *     (`crc\0`, the int `file.bytes-per-checksum`, one CRC32 per chunk);
  *   - an overwrite moves the temp into place with `ATOMIC_MOVE`;
  *   - a no-overwrite publish hard-links the temp to the target, which
  *     fails atomically when the target exists. The collision surfaces
  *     as Hadoop's [[FileAlreadyExistsException]], which is how
  *     `HDFSMetadataLog` detects a concurrent writer; no temp is left.
  * Reads and listings go through Hadoop's [[LocalFileSystem]], so a read
  * verifies the `.crc` and a listing hides it. Every other scheme (HDFS,
  * object stores) goes to the manager Spark would pick without this one,
  * so their behaviour does not change. Existing checkpoints resume either
  * way: the on-disk layout is Spark's.
  *
  * Registered by [[graft.GraftSession.create]] through [[ClassKey]].
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val impl: CheckpointFileManager =
    path.getFileSystem(hadoopConf) match {
      case _: LocalFileSystem => new NioLocal(path, hadoopConf)
      case _ => sparkDefault(path, hadoopConf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path =
    impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFileManager {

  /** The Spark conf that names the checkpoint file manager class. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The manager Spark builds when [[ClassKey]] is unset. */
  private def sparkDefault(path: Path, conf: Configuration)
      : CheckpointFileManager = {
    val c = new Configuration(conf)
    c.unset(ClassKey)
    CheckpointFileManager.create(path, c)
  }

  private final class NioLocal(root: Path, conf: Configuration)
      extends CheckpointFileManager {
    private val fs = new LocalFileSystem {
      // leave a file that fails its checksum where it is: the default
      // moves it into a `bad_files` dir at the top of its mount (found
      // by running `df`), so a retry would find the file gone
      override def reportChecksumFailure(p: Path, in: FSDataInputStream,
          inPos: Long, sums: FSDataInputStream, sumsPos: Long): Boolean =
        false
    }
    fs.setConf(conf)
    fs.initialize(URI.create("file:///"), conf)

    private def file(p: Path): NioPath = fs.pathToFile(p).toPath

    override def createAtomic(p: Path, overwriteIfPossible: Boolean)
        : CancellableFSDataOutputStream = {
      val target = file(p)
      // as Hadoop's FileSystem.create: a missing parent is created
      Files.createDirectories(target.getParent)
      val tmp = target.resolveSibling(
        s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new AtomicOutput(target, tmp, overwriteIfPossible,
        new ChunkSums(new BufferedOutputStream(Files.newOutputStream(tmp,
          StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)),
          fs.getBytesPerSum))
    }
    override def open(p: Path): FSDataInputStream = fs.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      fs.listStatus(p, filter)
    override def mkdirs(p: Path): Unit = Files.createDirectories(file(p))
    override def exists(p: Path): Boolean = fs.exists(p)
    override def delete(p: Path): Unit = fs.delete(p, true)
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      val q = fs.makeQualified(root)
      mkdirs(q)
      q
    }
  }

  /** Hadoop's `.crc` for `file` (a sibling, hidden). */
  private def crcOf(file: NioPath): NioPath =
    file.resolveSibling(s".${file.getFileName}.crc")

  /** Writes through to `out` and sums every `bytesPerSum` chunk with
    * CRC32, the checksum file Hadoop's local filesystem keeps.
    */
  private final class ChunkSums(out: OutputStream, bytesPerSum: Int)
      extends OutputStream {
    private val chunk = new CRC32
    private var inChunk = 0
    private val sums = new ByteArrayOutputStream
    private val sumsOut = new DataOutputStream(sums)
    sumsOut.write(Array[Byte]('c', 'r', 'c', 0))
    sumsOut.writeInt(bytesPerSum)

    private def endChunk(): Unit = {
      sumsOut.writeInt(chunk.getValue.toInt)
      chunk.reset()
      inChunk = 0
    }
    override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len)
      var i = off
      while (i < off + len) {
        val n = math.min(off + len - i, bytesPerSum - inChunk)
        chunk.update(b, i, n)
        inChunk += n
        i += n
        if (inChunk == bytesPerSum) endChunk()
      }
    }
    override def flush(): Unit = out.flush()
    override def close(): Unit = out.close()

    /** The `.crc` file's bytes, the last partial chunk included. */
    def crcBytes(): Array[Byte] = {
      if (inChunk > 0) endChunk()
      sums.toByteArray
    }
  }

  /** Data goes to `tmp`; close() publishes it at `target` with its
    * `.crc`, cancel() drops it. Either way no temp outlives the stream.
    */
  private final class AtomicOutput(target: NioPath, tmp: NioPath,
      overwrite: Boolean, sums: ChunkSums)
      extends CancellableFSDataOutputStream(sums) {
    private var done = false

    override def close(): Unit = finish(publish = true)
    override def cancel(): Unit = finish(publish = false)

    private def finish(publish: Boolean): Unit = synchronized {
      if (!done) {
        done = true
        val tmpCrc = crcOf(tmp)
        try {
          if (publish) {
            sums.close()
            Files.write(tmpCrc, sums.crcBytes())
            place(tmpCrc)
          } else Try(sums.close())
        } finally {
          Files.deleteIfExists(tmp)
          Files.deleteIfExists(tmpCrc)
        }
      }
    }

    private def place(tmpCrc: NioPath): Unit = {
      if (overwrite) {
        // never pair the new data with the old sums: a reader between
        // the two moves sees no `.crc`, which Hadoop reads unverified
        Files.deleteIfExists(crcOf(target))
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      } else {
        try Files.createLink(target, tmp)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"$target already exists")
        }
      }
      Files.move(tmpCrc, crcOf(target), StandardCopyOption.ATOMIC_MOVE)
    }
  }
}
