package graft

import graft.queries.Catalog

/** Cold-cost breakdown: `runMain graft.DbgPhases <names...>` runs each
  * catalog query once, cold, on SPARK_GRAFT_SF_DIR and splits the wall
  * into `build` (the catalog function call — under AQE this includes
  * any lazy-localCheckpoint toRdd stage execution plus their codegen
  * compiles), `plan` (forcing THIS dataset's executedPlan), and
  * `action` (the terminal noop write; NOTE: the write constructs a
  * fresh QueryExecution, so `action` includes that plan's own
  * analysis/optimization/planning — read it as "everything the
  * terminal action pays", not pure execution).
  */
object DbgPhases {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val spark = GraftSession.create(s"local[$cpus]", cpus, "graft-dbgphases")
    Catalog.warmup(spark)
    for (n <- args) {
      Catalog.release(spark)
      System.gc()
      val t0 = System.nanoTime()
      val df = Catalog.queries(n)(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      // force analysis + optimization + physical planning (pre-AQE)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val tPlan = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      Catalog.consume(df)
      val tAction = (System.nanoTime() - t2) / 1e9
      println(f"[phases] $n%-28s build=$tBuild%.2f plan=$tPlan%.2f " +
        f"action=$tAction%.2f")
    }
    spark.stop()
  }
}
