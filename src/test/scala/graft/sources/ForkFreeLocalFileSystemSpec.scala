package graft.sources

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files
import java.util.concurrent.{Callable, CyclicBarrier, Executors}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, ChecksumFs, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SparkTestBase}
import graft.SparkTestBase.processStarts

class ForkFreeLocalFileSystemSpec extends AnyFunSuite with SparkTestBase {

  // Closing a RocksDB state store deletes its local directory through an
  // `rm -rf` process, and the maintenance thread closes the stores that
  // earlier suites' queries left loaded at any moment. Close them all
  // first, so the JVM-wide process counts below see only this suite.
  override def beforeAll(): Unit = {
    super.beforeAll()
    StateStore.stop()
  }

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  /** Permission bits of `f`, the sticky bit included. */
  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & octal("7777")

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
    assert(conf.get("fs.AbstractFileSystem.file.impl") ===
      GraftSession.LocalFsClass)
    assert(FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.isInstanceOf[ForkFreeLocalFileSystem.Fs])
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

  private def path(dir: File, name: String) = new Path(new File(dir, name).toURI)

  /** The checkpoint manager Spark builds for `dir` in this session:
    * its default, writing through [[ForkFreeLocalFileSystem.Fs]].
    */
  private def manager(dir: File): CheckpointFileManager = {
    val fm = CheckpointFileManager.create(new Path(dir.toURI),
      spark.sessionState.newHadoopConf())
    assert(fm.isInstanceOf[FileContextBasedCheckpointFileManager])
    fm
  }

  private def fileContext(dir: File): FileContext = {
    val fc = FileContext.getFileContext(dir.toURI,
      spark.sessionState.newHadoopConf())
    assert(fc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFileSystem.Fs])
    fc
  }

  private def write(fm: CheckpointFileManager, p: Path,
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

  test("one flipped byte fails the read with ChecksumException and the " +
    "file stays in place") {
    withDir { dir =>
      val fm = manager(dir)
      val p = path(dir, "f")
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
      val p = path(dir, "0")
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
      val out = fm.createAtomic(path(dir, "c"), true)
      out.write(bytes(700))
      out.cancel()
      out.close() // after cancel: a no-op, nothing is published
      assert(names(dir).isEmpty)
    }
  }

  test("an overwrite replaces both the data and its .crc") {
    withDir { dir =>
      val fm = manager(dir)
      val p = path(dir, "o")
      write(fm, p, bytes(1000))
      write(fm, p, bytes(600))
      assert(read(fm.open(p)).toSeq === bytes(600).toSeq)
      write(fm, path(dir, "ref"), bytes(600))
      assert(crc(dir, "o").toSeq === crc(dir, "ref").toSeq)
      assert(names(dir) === Set("o", ".o.crc", "ref", ".ref.crc"))
    }
  }

  test("list hides .crc files; exists and delete cover the pair") {
    withDir { dir =>
      val fm = manager(dir)
      Seq("1", "2").foreach(n => write(fm, path(dir, n), bytes(3)))
      assert(fm.list(new Path(dir.toURI)).map(_.getPath.getName).toSet ===
        Set("1", "2"))
      val p = path(dir, "1")
      assert(fm.exists(p))
      fm.delete(p)
      fm.delete(p) // a missing path is not an error
      assert(!fm.exists(p))
      assert(names(dir) === Set("2", ".2.crc"))
    }
  }

  test("no-overwrite raw renames racing onto one target: one wins, the " +
    "other throws FileAlreadyExistsException, the target keeps its bytes") {
    withDir { dir =>
      val raw = fileContext(dir).getDefaultFileSystem
        .asInstanceOf[ChecksumFs].getRawFs
      val barrier = new CyclicBarrier(2)
      val pool = Executors.newFixedThreadPool(2)
      // Hadoop's primitive checks for the target and then renames, so
      // both racers can pass the check and the second replaces the first
      try (1 to 1000).foreach { round =>
        val dst = path(dir, s"t$round")
        val wins = Seq(1, 2).map { w =>
          val src = new File(dir, s"s$round-$w")
          Files.write(src.toPath, bytes(w))
          pool.submit(new Callable[Boolean] {
            def call(): Boolean = {
              barrier.await()
              try { raw.renameInternal(new Path(src.toURI), dst); true }
              catch { case _: FileAlreadyExistsException => false }
            }
          })
        }.map(_.get)
        assert(wins.count(identity) === 1, s"round $round")
        assert(Files.readAllBytes(new File(dir, s"t$round").toPath).toSeq ===
          bytes(wins.indexOf(true) + 1).toSeq, s"round $round")
      } finally pool.shutdown()
    }
  }

  test("an overwrite rename whose source has no .crc reads back the new " +
    "bytes") {
    withDir { dir =>
      val fc = fileContext(dir)
      def create(name: String, data: Array[Byte]): Unit = {
        val out = fc.create(path(dir, name),
          java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        out.write(data)
        out.close()
      }
      create("t", bytes(1000))
      create("tmp", bytes(600))
      Files.delete(new File(dir, ".tmp.crc").toPath)
      // Hadoop leaves the target's old .crc beside the new data, and the
      // read fails with ChecksumException
      fc.rename(path(dir, "tmp"), path(dir, "t"), Options.Rename.OVERWRITE)
      assert(read(fc.open(path(dir, "t"))).toSeq === bytes(600).toSeq)
      assert(names(dir) === Set("t"))
    }
  }

  test("a reader polling the target during repeated overwrites never " +
    "finds it missing") {
    withDir { dir =>
      val fm = manager(dir)
      val p = path(dir, "state")
      val target = new File(dir, "state").toPath
      write(fm, p, bytes(100))
      val stop = new AtomicBoolean(false)
      var (polls, missing) = (0L, 0L)
      val reader = new Thread(() =>
        while (!stop.get) {
          if (!Files.exists(target)) missing += 1
          polls += 1
        })
      reader.start()
      try (1 to 500).foreach(i => write(fm, p, bytes(100 + i % 7)))
      finally {
        stop.set(true)
        reader.join()
      }
      assert(polls > 500)
      assert(missing === 0)
      assert(read(fm.open(p)).toSeq === bytes(100 + 500 % 7).toSeq)
    }
  }

  test("getFileLinkStatus equals Hadoop's for a file, a directory and a " +
    "symlink, without a process for the first two") {
    withDir { dir =>
      val conf = new Configuration()
      def init(fs: RawLocalFileSystem) = {
        fs.initialize(URI.create("file:///"), conf)
        fs
      }
      val (ours, hadoops) =
        (init(new ForkFreeLocalFileSystem.Raw), init(new RawLocalFileSystem))
      Files.write(new File(dir, "f").toPath, bytes(42))
      Files.createDirectory(new File(dir, "d").toPath)
      Files.createSymbolicLink(new File(dir, "l").toPath,
        new File(dir, "f").toPath)
      def fields(s: FileStatus) = (s.getPath, s.getLen, s.isFile,
        s.isDirectory, s.isSymlink, s.getModificationTime, s.getPermission,
        s.getOwner, s.getGroup, if (s.isSymlink) s.getSymlink else null)
      // Hadoop resolves a link only on a path without a scheme: given
      // `file:/…`, its `readlink` gets that string and finds no link
      val forms = Seq[String => Path](path(dir, _),
        name => new Path(new File(dir, name).getAbsolutePath))
      for (form <- forms; name <- Seq("f", "d", "l")) {
        var got: FileStatus = null
        val procs = processStarts { got = ours.getFileLinkStatus(form(name)) }
        if (name != "l") assert(procs.isEmpty, name)
        assert(fields(got) === fields(hadoops.getFileLinkStatus(form(name))),
          s"${form(name)}")
      }
      assert(ours.getFileLinkStatus(forms(1)("l")).isSymlink)
      forms.foreach(form => intercept[FileNotFoundException](
        ours.getFileLinkStatus(form("missing"))))
    }
  }
}
