package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory: one place that wires the confs this
  * engine expects — shuffle parallelism sized to the machine (not
  * Spark's default 200), AQE for runtime re-planning and skew joins,
  * UTC session time, the RocksDB state store every keyed-state
  * streaming op needs (`transformWithState` requires it), fork-free
  * local writes (checkpoints included), 512k broadcast pieces, the
  * corpus's nano-timestamp read mode, and the graft SQL functions.
  * `Bench`/`Verify` build through here; library users can instead call
  * [[GraftExtensions.register]] / [[graft.sources.Tables.configure]] on
  * an existing session (and set the state store provider to
  * [[RocksDbStateStore]] for the streaming ops, `fs.file.impl` to
  * [[LocalFileSystemClass]] and `fs.AbstractFileSystem.file.impl` to
  * [[LocalFsClass]], each with the `spark.hadoop.` prefix).
  */
object GraftSession {

  /** The state store `transformWithState` requires. */
  val RocksDbStateStore =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The `file:` filesystems, one per Hadoop API: `fs.file.impl`
    * [[LocalFileSystemClass]] and `fs.AbstractFileSystem.file.impl`
    * [[LocalFsClass]], both over [[sources.ForkFreeLocalFileSystem]]'s
    * raw filesystem. Without `libhadoop`, Hadoop's local filesystem runs
    * `chmod` in a new process for every file and directory it creates,
    * and its FileContext twin also runs `readlink` for every path it
    * resolves in a rename.
    *   - `fs.file.impl` reaches every write through Hadoop's
    *     `FileSystem` API: a query's parquet output, its `_SUCCESS` marker, each file's
    *     `.crc`, every directory level. 18 processes for one 4-file
    *     parquet write, 289 over one 8 s perfbench detect_batch run (13
    *     passes; JFR `jdk.ProcessStart`). 4-core VM, p10–p90 of 40:
    *     `fs.create` 6.1–8.3 ms → 0.5–0.8 ms, a 3-level `mkdirs`
    *     7.6–18 ms → 0.1–0.2 ms, with the same file modes. Takes effect
    *     only if no `file:` filesystem was cached in the JVM before the
    *     session (see the class's doc).
    *   - `fs.AbstractFileSystem.file.impl` reaches Spark's default
    *     checkpoint manager, which writes every offset-log, commit-log
    *     and state-store file through FileContext. 1,000 checkpoint
    *     files of 300 bytes (`createAtomic`, `exists`, `open`; 4-core
    *     VM, p50 of 2 rounds): 23.8–25.0 ms and 10 processes per file
    *     (8 `readlink`, 2 `chmod`) over Hadoop's `LocalFs`, 0.39–0.67 ms
    *     and none here.
    */
  val LocalFileSystemClass = classOf[sources.ForkFreeLocalFileSystem].getName
  val LocalFsClass = classOf[sources.ForkFreeLocalFileSystem.Fs].getName

  /** Broadcast piece size (`spark.broadcast.blockSize`, Spark's default
    * 4m). Every job broadcasts its task binary, and the state store
    * broadcasts its Hadoop conf. On a heap with 2 MB G1 regions (a 3 GB
    * heap) any array of 1 MB or more is humongous, so every 4 MB first
    * piece was; 512k pieces are ordinary young-generation arrays.
    */
  val BroadcastBlockSize = "512k"

  def create(
      master: String = s"local[${Runtime.getRuntime.availableProcessors}]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors,
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // 64 MB broadcast threshold (default 10 MB): the catalog's
      // corpus-derived dims (query-term sets, bench shingle sets,
      // dedup pair lists) are deliberately UNHINTED so AQE decides
      // from their TRUE runtime size — this is the size it decides
      // against. Executors sized for a 100 TB corpus hold a 64 MB
      // broadcast comfortably, and an adversarially large side still
      // degrades to a shuffle join instead of a driver OOM, which a
      // hard broadcast() hint cannot do.
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.stateStore.providerClass",
        RocksDbStateStore)
      .config(sources.ForkFreeLocalFileSystem.ImplKey, LocalFileSystemClass)
      .config(sources.ForkFreeLocalFileSystem.FsImplKey, LocalFsClass)
      .config("spark.broadcast.blockSize", BroadcastBlockSize)
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sources.Tables.configure(spark)
    spark
  }
}
