package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Native.{column, expr}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native dot product of two `array<bigint>` columns.
  *
  * The similarity operators (cosine near-dup, ANN top-k) evaluate a dot
  * product per candidate PAIR — the hot loop of the whole similarity
  * family. The composable formulation `aggregate(zip_with(a, b, _*_),
  * 0, _+_)` is interpreted per element (higher-order functions carry a
  * lambda environment and allocate the zipped array), which at millions
  * of pairs x 64 dims dominates the query. This expression generates the
  * tight primitive loop instead, stays inside whole-stage codegen, and
  * allocates nothing.
  *
  * Null elements are not expected (inputs are quantized non-null
  * embeddings). Unequal lengths throw: a dimension mismatch upstream
  * (truncated quantization, a weight table built for the wrong dim)
  * would otherwise produce plausible-but-wrong scores and signatures —
  * fail loud instead of silently dotting the shorter prefix.
  */
case class LongArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot"

  // manual check (ExpectsInputTypes needs the private[sql] AbstractDataType)
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements())
      throw LongArrayDot.dimMismatch(n, y.numElements())
    var i = 0
    var s = 0L
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) throw LongArrayDot.nullElement(i)
      s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val cls = classOf[LongArrayDot].getName
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw $cls.dimMismatch($n, $b.numElements());
         |}
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |    throw $cls.nullElement($i);
         |  }
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongArrayDot =
    copy(left = newLeft, right = newRight)
}

object LongArrayDot {
  val name = "graft_dot"

  def apply(a: Column, b: Column): Column = column(LongArrayDot(expr(a), expr(b)))

  /** Shared by interpreted and generated code (codegen calls it
    * statically — keep the signature stable).
    */
  def nullElement(i: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"$name: null vector element at position $i — a null would " +
        "silently multiply as 0 against the fail-loud contract")

  def dimMismatch(a: Int, b: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"$name: vector dimensions differ ($a vs $b) — upstream " +
        "quantization or weight table built for the wrong dimension")
}
