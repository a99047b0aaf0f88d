package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `cosine_lsh_bucket(embedding, nBits, seed)`: random-hyperplane LSH —
  * bit b of the bucket id is the sign of the dot product between the
  * embedding and a deterministic pseudo-random Rademacher (±1) plane
  * derived from xxhash64(seed, b, dim). Vectors with high cosine
  * similarity collide with high probability, so an equi-join on the
  * bucket id replaces the all-pairs cross join — the scale path for
  * similarity search (candidates drop from O(n²) to O(n²/2^bits) per
  * bucket, and the join shuffles on bucket like any other key).
  */
case class CosineLshBucket(child: Expression, nBits: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  require(nBits > 0 && nBits <= 30, "nBits must be in (0, 30]")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "cosine_lsh_bucket"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType | FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<DOUBLE|FLOAT>, got ${t.sql}")
  }

  // lazy: child.dataType is only callable once the plan is resolved
  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // ±1 plane component for (bit, dim), deterministic in (seed, bit, dim)
  private def radem(bit: Int, dim: Int): Double = {
    val h = XXH64.hashLong(bit.toLong * 1000003L + dim.toLong, seed)
    if ((h & 1L) == 1L) 1.0 else -1.0
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var bucket = 0
    var b = 0
    while (b < nBits) {
      var dot = 0.0
      var d = 0
      while (d < n) {
        val v = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
        dot += v * radem(b, d)
        d += 1
      }
      if (dot > 0) bucket |= (1 << b)
      b += 1
    }
    bucket
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `cosine_sim(a, b)`: cosine similarity in one fused pass. Bit-identical
  * to the compositional higher-order-function form
  * `aggregate(zip_with(a,b,*),0.0,+) / (sqrt(aggregate(a,0.0,acc+x*x)) *
  * sqrt(aggregate(b,0.0,acc+x*x)))` — same left-fold accumulation order,
  * same operation order — but one array traversal with no per-element
  * lambda dispatch, which is the hot loop of every all-pairs /
  * candidate-scoring similarity query.
  *
  * Implements real `doGenCode` (not `CodegenFallback`): a fallback
  * expression forces the surrounding whole-stage-codegen'd operator to
  * materialize an InternalRow per CALL just to feed interpreted
  * `eval` — for a pair scorer that means copying both embedding arrays
  * into an UnsafeRow for every candidate pair, which the p06 A/B
  * measured at ~4× the kernel's own arithmetic (3.1 s vs 0.4 s join
  * production + ~0.25 s of flops at sf0.1's 2M pairs). The generated
  * loop is the same IEEE op sequence as [[nullSafeEval]] —
  * codegen/interpreted bit-parity is pinned in EmbeddingKernelSpec.
  */
case class CosineSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  // a length mismatch yields NULL even when both inputs are non-null
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (ARRAY<DOUBLE>, ARRAY<DOUBLE>), got " +
          s"(${l.sql}, ${r.sql})")
    }

  // like the compositional zip_with form: mismatched lengths or null
  // elements yield NULL, not a silently-wrong number
  private lazy val mayHaveNulls = Seq(left.dataType, right.dataType).exists {
    case ArrayType(_, n) => n
    case _ => false
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    if (mayHaveNulls) {
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        i += 1
      }
    }
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a.getDouble(i) * b.getDouble(i); i += 1 }
    var na = 0.0
    i = 0
    while (i < n) { val x = a.getDouble(i); na += x * x; i += 1 }
    var nb = 0.0
    i = 0
    while (i < n) { val x = b.getDouble(i); nb += x * x; i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val checkNulls = mayHaveNulls
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val elemNullCheck = if (checkNulls) s"""
        for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
          if ($a.isNullAt($i) || $b.isNullAt($i)) ${ev.isNull} = true;
        }""" else ""
      s"""
        final int $n = $a.numElements();
        if ($b.numElements() != $n) ${ev.isNull} = true;
        $elemNullCheck
        if (!${ev.isNull}) {
          double $dot = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $dot += $a.getDouble($i) * $b.getDouble($i);
          }
          double $na = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $x = $a.getDouble($i); $na += $x * $x;
          }
          double $nb = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $x = $b.getDouble($i); $nb += $x * $x;
          }
          ${ev.value} =
            $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
        }
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ a_i·b_i over two ARRAY<DOUBLE> in one primitive loop — the
  * pair-scoring half of [[CosineSim]] for call sites that precompute
  * the per-row norms ONCE instead of re-deriving both norms inside
  * every pair evaluation (an all-pairs scorer recomputes each row's
  * norm n−1 times; at 100 TB that is the difference between 1·dim and
  * 3·dim flops per candidate). Same index-order left-fold accumulation
  * as the compositional `aggregate(zip_with(a,b,*),0.0,+)` form and as
  * [[CosineSim]]'s dot loop — bit-identical. NULL on length mismatch
  * or any NULL element (matches zip_with semantics).
  */
case class DoubleDot(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "double_dot"
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (ARRAY<DOUBLE>, ARRAY<DOUBLE>), got " +
          s"(${l.sql}, ${r.sql})")
    }

  private lazy val mayHaveNulls = Seq(left.dataType, right.dataType).exists {
    case ArrayType(_, n) => n
    case _ => false
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    if (mayHaveNulls) {
      var i = 0
      while (i < n) {
        if (a.isNullAt(i) || b.isNullAt(i)) return null
        i += 1
      }
    }
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a.getDouble(i) * b.getDouble(i); i += 1 }
    dot
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val checkNulls = mayHaveNulls
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val elemNullCheck = if (checkNulls) s"""
        for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
          if ($a.isNullAt($i) || $b.isNullAt($i)) ${ev.isNull} = true;
        }""" else ""
      s"""
        final int $n = $a.numElements();
        if ($b.numElements() != $n) ${ev.isNull} = true;
        $elemNullCheck
        if (!${ev.isNull}) {
          double $dot = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            $dot += $a.getDouble($i) * $b.getDouble($i);
          }
          ${ev.value} = $dot;
        }
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Embedding similarity as columns: the fused [[CosineSim]] plus
  * dot-product builders, all in DOUBLE.
  */
object VectorOps {
  import org.apache.spark.sql.graft.shims.{column, expression}

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Native one-loop Σ a_i·b_i (see [[DoubleDot]]). */
  def dotNative(a: Column, b: Column): Column =
    column(DoubleDot(expression(a), expression(b)))

  /** Cosine similarity; callers round before comparing across engines. */
  def cosine(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))

  def cosine_lsh_bucket(emb: Column, nBits: Int, seed: Long): Column =
    column(CosineLshBucket(expression(emb), nBits, seed))
}
