package graft

/** Plan inspector: `runMain graft.DbgPlan <query names...>` prints the
  * formatted physical plan of each named catalog query against the
  * sf0.001 corpus — the fast way to audit scans/exchanges/broadcasts
  * per query while iterating (pair with the plan pins in
  * ScalePropertiesSpec for the load-bearing guarantees). With no
  * arguments it prints every catalog entry in catalog order, so a
  * refactor's no-plan-change proof is a diff of two runs (README,
  * Verification).
  */
object DbgPlan {
  def main(args: Array[String]): Unit = {
    // default to the bench corpus/core-count envs so captured plans
    // (plans/r14/*.txt) reflect the configuration the bench times
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // tolerate a malformed env value (ADVICE r14): default, don't throw
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .flatMap(_.toIntOption).getOrElse(8)
    val spark = GraftSession.create(s"local[$cpus]", cpus, "dbg-plan")
    val names = if (args.isEmpty) queries.Catalog.all.map(_.name) else args.toSeq
    for (n <- names) {
      println(s"===== $n =====")
      queries.Catalog.queries(n)(spark, sfDir).explain("formatted")
      // entries persist intermediates while building; drop them per
      // entry as Verify does, so a whole-catalog run stays flat
      queries.Catalog.release(spark)
    }
    spark.stop()
  }
}
