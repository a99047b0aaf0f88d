package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.kernel.{AnomalyzerConf, Ensemble, PermDraw}

/** Catalyst expressions exposing the anomaly kernel as native columns.
  *
  * A custom `Expression` (not a Scala UDF) so the operator participates
  * in Catalyst analysis — typed inputs, null propagation, constant
  * folding around it — and avoids UDF serialization overhead per row.
  * The kernel itself is scalar-heavy (permutation loops), so codegen of
  * the wrapper is irrelevant: `CodegenFallback` keeps the surrounding
  * projection inside whole-stage codegen while this node evaluates
  * interpreted.
  *
  * Inputs: `window` ARRAY<DOUBLE> — the (reference+active) tail for one
  * evaluation, oldest first; `seriesHash` BIGINT — the cross-engine
  * md5-60 hash of the series identity ([[graft.kernel.PermDraw.seriesHash60]],
  * in SQL `conv(substr(md5(series),1,15),16,10)`); `rowKey` BIGINT —
  * the row's 1-based position in the series. Permutation draws come
  * from [[graft.kernel.PermDraw]](seriesHash, rowKey) — the SAME
  * derivation the streaming path and the sequential [[graft.kernel.Anomalyzer]]
  * facade use, so batch, streaming, sequential, AND the DuckDB oracle
  * permutation-test probabilities agree bit-for-bit on identical data.
  */
abstract class AnomalyExpressionBase
    extends TernaryExpression with org.apache.spark.sql.graft.GraftImplicitCastInputs
    with CodegenFallback {
  def window: Expression
  def seriesHash: Expression
  def rowKey: Expression
  def conf: AnomalyzerConf

  override def first: Expression = window
  override def second: Expression = seriesHash
  override def third: Expression = rowKey
  // the analyzer inserts casts (e.g. a SQL decimal-literal array →
  // ARRAY<DOUBLE>) instead of failing the type check
  override def graftInputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), LongType, LongType)

  // KernelInput fails loudly on NULL elements (toDoubleArray would
  // silently read one as 0.0 — same latent class as the series kernels)
  protected def values(w: Any): Array[Double] =
    KernelInput.doubles(w, prettyName)
  protected def rng(sh: Any, rk: Any): PermDraw =
    new PermDraw(sh.asInstanceOf[Long], rk.asInstanceOf[Long])
}

/** Final ensemble probability — the reference's `Eval`
  * (/root/reference/anomalyze.go:142-192) over the window column.
  */
case class AnomalyProb(window: Expression, seriesHash: Expression,
    rowKey: Expression, conf: AnomalyzerConf) extends AnomalyExpressionBase {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "anomaly_prob"
  override protected def nullSafeEval(w: Any, sh: Any, rk: Any): Any =
    Ensemble.eval(values(w), conf, rng(sh, rk))
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(window = newFirst, seriesHash = newSecond, rowKey = newThird)
}

/** Per-test probabilities — the reference's `EvalByTest` probmap
  * (/root/reference/anomalyze.go:195-221) as MAP<STRING, DOUBLE>.
  */
case class AnomalyProbsByTest(window: Expression, seriesHash: Expression,
    rowKey: Expression, conf: AnomalyzerConf) extends AnomalyExpressionBase {
  override def dataType: DataType =
    MapType(StringType, DoubleType, valueContainsNull = false)
  override def prettyName: String = "anomaly_probs_by_test"
  override protected def nullSafeEval(w: Any, sh: Any, rk: Any): Any = {
    val probmap = Ensemble.evalByTest(values(w), conf, rng(sh, rk))
    val ks = new Array[Any](probmap.size)
    val vs = new Array[Any](probmap.size)
    var i = 0
    probmap.foreach { case (k, v) =>
      ks(i) = UTF8String.fromString(k); vs(i) = v; i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
  }
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(window = newFirst, seriesHash = newSecond, rowKey = newThird)
}

/** The ensemble probability of a per-test map column ([[AnomalyProbsByTest]]'s
  * output) and its window's length: the Delay gate plus
  * [[graft.kernel.Ensemble.combine]], so a query that wants both columns
  * runs the kernel once per row. Bit-identical to [[AnomalyProb]] over
  * the same window: `combine` sums in map iteration order, and the map is
  * rebuilt by inserting its entries in stored order, which reproduces
  * that order (insertion order up to four keys, the hash trie's
  * canonical order from five).
  */
case class AnomalyProbOfTests(probs: Expression, windowLength: Expression,
    conf: AnomalyzerConf) extends BinaryExpression with CodegenFallback {
  override def left: Expression = probs
  override def right: Expression = windowLength
  override def dataType: DataType = DoubleType
  override def prettyName: String = "anomaly_prob_of_tests"
  override protected def nullSafeEval(m: Any, n: Any): Any = {
    if (Ensemble.delayed(n.asInstanceOf[Int], conf)) 0.0
    else {
      val md = m.asInstanceOf[MapData]
      val ks = md.keyArray()
      val vs = md.valueArray()
      var probmap = Map.empty[String, Double]
      var i = 0
      while (i < md.numElements()) {
        probmap = probmap.updated(ks.getUTF8String(i).toString, vs.getDouble(i))
        i += 1
      }
      Ensemble.combine(probmap, conf)
    }
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(probs = newLeft, windowLength = newRight)
}

object AnomalyFunctions {
  import org.apache.spark.sql.graft.shims.{column, expression}

  /** Column API: ensemble anomaly probability for a window array. */
  def anomaly_prob(window: Column, seriesHash: Column, rowKey: Column,
      conf: AnomalyzerConf): Column =
    column(AnomalyProb(expression(window), expression(seriesHash),
      expression(rowKey), AnomalyzerConf.validated(conf)))

  /** Column API: per-test probability map for a window array. */
  def anomaly_probs_by_test(window: Column, seriesHash: Column,
      rowKey: Column, conf: AnomalyzerConf): Column =
    column(AnomalyProbsByTest(expression(window), expression(seriesHash),
      expression(rowKey), AnomalyzerConf.validated(conf)))

  /** Ensemble probability of an `anomaly_probs_by_test` map column,
    * given the length of the window it was computed over.
    */
  private[graft] def anomaly_prob_of_tests(probs: Column, windowLength: Column,
      conf: AnomalyzerConf): Column =
    column(AnomalyProbOfTests(expression(probs), expression(windowLength),
      AnomalyzerConf.validated(conf)))
}
