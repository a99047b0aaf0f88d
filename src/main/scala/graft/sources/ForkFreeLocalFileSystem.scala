package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
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
  * attribute view.
  *
  * Registered by [[graft.GraftSession.create]] through [[ImplKey]].
  * Hadoop caches filesystems per scheme, authority and user, not per
  * conf: if a `file:` filesystem was already cached in the JVM before
  * the session was built, Hadoop keeps handing out that one. Results
  * are the same either way; only the saved forks are lost.
  */
class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeLocalFileSystem.Raw)

object ForkFreeLocalFileSystem {

  /** The Spark conf that names the `file:` filesystem class. */
  val ImplKey = "spark.hadoop.fs.file.impl"

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
  }
}
