package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-shape audits that ScalePropertiesSpec runs over every catalog
  * entry; `testOnly graft.ScalePropertiesSpec -- -z "unpartitioned
  * window"` (or `-z "broadcast() hint"`) reruns one census alone.
  *
  * The one subtlety this encapsulates: `optimizedPlan` is computed
  * AFTER cache substitution, so any subtree an entry `persistTracked`s
  * appears as an `InMemoryRelation` LEAF — a logical collect alone is
  * blind to whatever hides inside it. The audit therefore also walks
  * each cached relation's PHYSICAL build plan (unwrapping adaptive
  * wrappers and nested cached scans) so a single-partition window
  * cannot dodge the catalog-wide ban by sitting under a persist.
  */
object PlanAudit {

  /** Every window with an EMPTY partitionSpec reachable from `df` —
    * logical nodes plus those inside cached subtrees. Each executes as
    * a single-task global sort ("No Partition Defined for Window
    * operation"), the p94-class scale killer.
    */
  def unpartitionedWindows(df: DataFrame): Seq[String] = {
    val lp = df.queryExecution.optimizedPlan
    val logical = lp.collect {
      case w: LWindow if w.partitionSpec.isEmpty =>
        "orderBy=" + w.orderSpec.map(_.sql).mkString(", ")
    }
    val cached = lp.collect { case im: InMemoryRelation => im.cachedPlan }
    logical ++ cached.flatMap(physWindows)
  }

  /** Every forced broadcast hint reachable from `df`'s ANALYZED plan.
    * The analyzed tree is the right place to look: the optimizer
    * erases `ResolvedHint` nodes into the join's `JoinHint`, and cache
    * substitution (which runs later still) hides persisted subtrees
    * behind `InMemoryRelation` leaves — analyzed has neither problem.
    * A hard `broadcast()` hint bypasses AQE's size check entirely, so
    * every one in the catalog must be bounded BY CONSTRUCTION
    * (centroid sets, per-lang stats, single-row scalars…); the
    * ScalePropertiesSpec allowlist documents each entry's bound.
    */
  def broadcastHints(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    df.queryExecution.analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
        h.child.nodeName + "[" +
          h.child.output.take(4).map(_.name).mkString(", ") +
          (if (h.child.output.size > 4) ", …" else "") + "]"
    }
  }

  /** Every CodegenFallback expression sitting in a PER-CANDIDATE
    * position reachable from `df`: a join condition, or a projection /
    * filter / aggregate-argument / window-argument over a join's
    * output (through any stack of cardinality-preserving nodes:
    * Project, Filter, Sort, exchanges, and Window itself — r13
    * widened the census from directly-over-join, then to agg/window
    * argument lists, which evaluate once per input row = once per
    * candidate; only an Aggregate reduces cardinality and stops the
    * recursion). The r11 codegen policy is
    * fallback-is-fine for heavy per-ROW kernels but wrong per
    * CANDIDATE — the fallback materializes an InternalRow per call,
    * which on p06's pair scorer measured ~4× the kernel arithmetic.
    * This walks the optimized logical plan plus each cached relation's
    * physical build plan (same blind spot as the window census:
    * persistTracked hides subtrees behind InMemoryRelation leaves).
    * Positions over 1:1 enrich joins (per-row, not per-candidate) are
    * reported too — the consuming spec carries the documented
    * allowlist, mirroring the loop-join/broadcast-hint gates.
    */
  def fallbackPerCandidate(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAggregate, Filter => LFilter, Join => LJoin, LogicalPlan, Project => LProject}
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    // semi/anti joins emit at most one row per probe row — a
    // projection over them is per-ROW (the p54/p87 semi-join prune
    // shape), not per-candidate. Filter, Project, Sort, Repartition,
    // and WINDOW are transparent: all are cardinality-bounded by (for
    // Window: exactly equal to) their child, so a fallback in a
    // Project-over-Window-over-join still evaluates once per join
    // candidate (ADVICE r12 widened Project stacks; the r13 review
    // caught Window — a Window node REDUCES nothing, only an
    // Aggregate does). Aggregate and Window ARGUMENT lists over a
    // join are collected too (they evaluate once per input row = once
    // per candidate); only the Aggregate's OUTPUT side is
    // cardinality-reduced, so isJoinish stops at Aggregate alone.
    def isJoinish(p: LogicalPlan): Boolean = p match {
      case j: LJoin => j.joinType != LeftSemi && j.joinType != LeftAnti
      case f: LFilter => isJoinish(f.child)
      case pr: LProject => isJoinish(pr.child)
      case w: LWindow => isJoinish(w.child)
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort =>
        isJoinish(s.child)
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation =>
        isJoinish(r.child)
      case _ => false
    }
    val lp = df.queryExecution.optimizedPlan
    val logical = lp.collect {
      case j: LJoin =>
        j.condition.toSeq.flatMap(fb(_, "join-condition"))
      case p: LProject if isJoinish(p.child) =>
        p.projectList.flatMap(fb(_, "projection-over-join"))
      case f: LFilter if isJoinish(f.child) =>
        fb(f.condition, "filter-over-join")
      case a: LAggregate if isJoinish(a.child) =>
        // only the PER-INPUT-ROW parts: grouping expressions and the
        // argument trees INSIDE aggregate functions. Expressions
        // wrapping aggregate results (CollapseProject folds a
        // post-agg Project into aggregateExpressions) evaluate once
        // per GROUP and are per-row kernels' legitimate home.
        (a.groupingExpressions ++ a.aggregateExpressions.flatMap(
          _.collect {
            case af: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction =>
              af.children
          }.flatten))
          .flatMap(fb(_, "aggregate-args-over-join"))
      case w: LWindow if isJoinish(w.child) =>
        (w.windowExpressions ++ w.partitionSpec ++ w.orderSpec)
          .flatMap(fb(_, "window-args-over-join"))
    }.flatten
    val cached = lp.collect { case im: InMemoryRelation => im.cachedPlan }
    logical ++ cached.flatMap(physFallbacks)
  }

  /** The shared fallback collector: lambda scaffolding
    * (NamedLambdaVariable / LambdaFunction) is structural — the
    * evaluated node is the containing HOF, which is collected itself.
    * Aggregate FUNCTIONS (CollectList/CollectSet/...) are excluded:
    * imperative aggregates always run outside codegen by design and
    * have no doGenCode alternative, so they are not the
    * InternalRow-per-call failure mode this census polices — their
    * scalar ARGUMENT trees are still walked, so a fallback kernel
    * inside sum(kernel(x)) over a join is flagged.
    */
  private def fb(e: org.apache.spark.sql.catalyst.expressions.Expression,
      where: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, NamedLambdaVariable}
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    e.collect {
      case f: CodegenFallback if !f.isInstanceOf[NamedLambdaVariable] &&
        !f.isInstanceOf[LambdaFunction] &&
        !f.isInstanceOf[AggregateFunction] => s"$where: ${f.nodeName}"
    }
  }

  private def physFallbacks(p: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, CartesianProductExec}
    // codegen packaging (WholeStageCodegenExec / InputAdapter) is
    // transparent for position purposes — a projection in its own
    // codegen fragment whose input adapter wraps a join is STILL a
    // projection over that join; CartesianProductExec is a join that
    // does not extend BaseJoinExec
    // SortExec / exchanges / window nodes are cardinality-preserving
    // too — EnsureRequirements ALWAYS places a SortExec (and usually a
    // shuffle) under a WindowExec, so without these cases the
    // window-over-join arm below is unreachable (r13 review finding)
    def isJoinish(q: SparkPlan): Boolean = q match {
      case j: BaseJoinExec =>
        j.joinType != LeftSemi && j.joinType != LeftAnti
      case _: CartesianProductExec => true
      case f: FilterExec => isJoinish(f.child)
      case pr: ProjectExec => isJoinish(pr.child)
      case s: org.apache.spark.sql.execution.SortExec => isJoinish(s.child)
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        isJoinish(e.child)
      case rd: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec =>
        isJoinish(rd.child)
      case wx: WindowExec => isJoinish(wx.child)
      case w: WholeStageCodegenExec => isJoinish(w.child)
      case ia: InputAdapter => isJoinish(ia.child)
      case a: AdaptiveSparkPlanExec => isJoinish(a.executedPlan)
      case q2: QueryStageExec => isJoinish(q2.plan)
      case _ => false
    }
    p match {
      case a: AdaptiveSparkPlanExec => physFallbacks(a.executedPlan)
      case q: QueryStageExec => physFallbacks(q.plan)
      case i: InMemoryTableScanExec => physFallbacks(i.relation.cachedPlan)
      case j: BaseJoinExec =>
        j.condition.toSeq.flatMap(fb(_, "join-condition")) ++
          j.children.flatMap(physFallbacks)
      case c: CartesianProductExec =>
        c.condition.toSeq.flatMap(fb(_, "join-condition")) ++
          c.children.flatMap(physFallbacks)
      case pr: ProjectExec if isJoinish(pr.child) =>
        pr.projectList.flatMap(fb(_, "projection-over-join")) ++
          pr.children.flatMap(physFallbacks)
      case f: FilterExec if isJoinish(f.child) =>
        fb(f.condition, "filter-over-join") ++
          f.children.flatMap(physFallbacks)
      case ag: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if isJoinish(ag.child) =>
        // per-input-row parts only (see the logical arm): grouping
        // expressions + aggregate-function ARGUMENT trees
        (ag.groupingExpressions ++
          ag.aggregateExpressions.flatMap(_.aggregateFunction.children))
          .flatMap(fb(_, "aggregate-args-over-join")) ++
          ag.children.flatMap(physFallbacks)
      case w: WindowExec if isJoinish(w.child) =>
        (w.windowExpression ++ w.partitionSpec ++ w.orderSpec)
          .flatMap(fb(_, "window-args-over-join")) ++
          w.children.flatMap(physFallbacks)
      case other => other.children.flatMap(physFallbacks)
    }
  }

  private def physWindows(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => physWindows(a.executedPlan)
    case q: QueryStageExec => physWindows(q.plan)
    case i: InMemoryTableScanExec => physWindows(i.relation.cachedPlan)
    case w: WindowExec if w.partitionSpec.isEmpty =>
      ("orderBy=" + w.orderSpec.map(_.sql).mkString(", ")) +:
        w.children.flatMap(physWindows)
    case other => other.children.flatMap(physWindows)
  }
}
