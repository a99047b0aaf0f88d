package graft.sources

import java.net.URI
import java.nio.file.{Files, LinkOption, StandardCopyOption}
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileAlreadyExistsException, FileStatus, FSDataInputStream, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's local (`file:`) filesystem without a process per created
  * file or directory.
  *
  * Without `libhadoop`, [[RawLocalFileSystem]] sets the mode of every
  * file and directory it creates by running `chmod` in a new process:
  * 18 processes for one 4-file parquet write, 289 over one 8 s
  * perfbench detect_batch run (4-core VM). This class is a
  * [[LocalFileSystem]] (checksums and all) over a raw filesystem whose
  * `setPermission` calls `java.nio`'s `setPosixFilePermissions`
  * instead. The permission it receives is already umask-applied by
  * Hadoop, so every file and directory gets the mode the forking path
  * would give it. It defers to Hadoop's own `setPermission` when
  * `libhadoop` is loaded (no fork there), when the sticky bit is set
  * (`java.nio` cannot express it), and when the filesystem has no POSIX
  * attribute view. Its `getFileLinkStatus` runs Hadoop's `readlink`
  * process only for a path that is a symlink.
  *
  * [[ForkFreeLocalFileSystem.Fs]] is the same raw filesystem for
  * Hadoop's FileContext API, through which Spark's default checkpoint
  * manager writes every offset-log, commit-log and state-store file.
  * Unlike Hadoop's `LocalFs`, its `open(path)` verifies the `.crc` (a
  * corrupted file fails with `ChecksumException`), and a rename of a
  * regular file keeps these guarantees:
  *   - a no-overwrite rename publishes with a hard link, which fails
  *     atomically with Hadoop's [[FileAlreadyExistsException]] when the
  *     target exists (how Spark's metadata log detects a concurrent
  *     writer); Hadoop checks and then renames, so it replaces a file
  *     created in between. The losing source is deleted with its `.crc`:
  *     Spark's stream marks itself closed before its caller can cancel
  *     it, so the temp file would otherwise stay behind;
  *   - an overwrite rename is one `ATOMIC_MOVE`, so a reader never finds
  *     the target missing; Hadoop deletes the target and then renames.
  *     The target's old `.crc` is deleted first, so new data is never
  *     paired with the old sums.
  *
  * Registered by [[graft.GraftSession.create]] through [[ImplKey]] and
  * [[FsImplKey]]. Hadoop caches filesystems per scheme, authority and
  * user, not per conf: if a `file:` filesystem was already cached in the
  * JVM before the session was built, Hadoop keeps handing out that one.
  * Results are the same either way; only the saved forks are lost.
  * FileContext filesystems are not cached, so [[FsImplKey]] always
  * takes effect.
  */
class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeLocalFileSystem.Raw)

object ForkFreeLocalFileSystem {

  /** The Spark conf that names the `file:` filesystem class. */
  val ImplKey = "spark.hadoop.fs.file.impl"

  /** The Spark conf that names the `file:` FileContext filesystem class. */
  val FsImplKey = "spark.hadoop.fs.AbstractFileSystem.file.impl"

  /** [[PosixFilePermission]] in declaration order is owner rwx, group
    * rwx, others rwx: bit 8 of the mode down to bit 0.
    */
  private val ModeBits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (p, i) => (p, 1 << (8 - i)) }

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val view = Files.getFileAttributeView(file,
        classOf[PosixFileAttributeView])
      if (NativeIO.isAvailable || permission.getStickyBit || view == null)
        super.setPermission(p, permission)
      else {
        val mode = permission.toShort.toInt
        val perms = new java.util.HashSet[PosixFilePermission]
        ModeBits.foreach { case (bit, mask) =>
          if ((mode & mask) != 0) perms.add(bit)
        }
        view.setPermissions(perms)
      }
    }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** [[Raw]] behind the FileContext API. Hadoop's `RawLocalFs` does this
    * for [[RawLocalFileSystem]], but its constructors are package-private.
    */
  private final class RawFs(uri: URI, conf: Configuration, raw: Raw = new Raw)
      extends DelegateToFileSystem(uri, raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def isValidName(src: String): Boolean = true

    def local(p: Path): java.nio.file.Path = raw.pathToFile(p).toPath

    def isFile(p: Path): Boolean =
      Files.isRegularFile(local(p), LinkOption.NOFOLLOW_LINKS)

    // the rename primitive: Hadoop's checks for the target, then renames
    override def renameInternal(src: Path, dst: Path): Unit =
      if (!isFile(src)) super.renameInternal(src, dst)
      else {
        try Files.createLink(local(dst), local(src))
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"$dst already exists")
        }
        Files.delete(local(src))
      }

    override def renameInternal(src: Path, dst: Path, overwrite: Boolean)
        : Unit =
      if (!overwrite || !isFile(src) || Files.isDirectory(local(dst)))
        super.renameInternal(src, dst, overwrite)
      else Files.move(local(src), local(dst), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The FileContext `file:` filesystem: Hadoop's checksummed layer over
    * [[RawFs]], as Hadoop's `LocalFs` is over `RawLocalFs`.
    */
  final class Fs private (rawFs: RawFs) extends ChecksumFs(rawFs) {
    def this(uri: URI, conf: Configuration) = this(new RawFs(uri, conf))

    // FilterFs sends open(Path) straight to the raw filesystem, past
    // ChecksumFs's verifying open(Path, Int)
    override def open(f: Path): FSDataInputStream =
      open(f, getServerDefaults(f).getFileBufferSize)

    override def renameInternal(src: Path, dst: Path, overwrite: Boolean)
        : Unit = {
      val file = src != dst && rawFs.isFile(src)
      if (file && overwrite)
        Files.deleteIfExists(rawFs.local(getChecksumFile(dst)))
      try super.renameInternal(src, dst, overwrite)
      catch {
        case e: FileAlreadyExistsException if file =>
          delete(src, false)
          throw e
      }
    }
  }
}
