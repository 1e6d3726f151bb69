package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Native.{column, expr}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, LongType}

/** Pack an `array<int>` of small codes (0..255 each) into `binary` —
  * one byte per code. The PQ candidate representation: m=32 codes ride
  * as 32 BYTES per vector (the payload every shuffle/cache/broadcast
  * moves), not 32 4-byte array slots. Out-of-range codes throw: a
  * silently truncated code would select the wrong ADC table entry and
  * produce plausible-but-wrong rankings.
  */
case class IntArrayPack8(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = IntArrayPack8.name

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<int> argument, got ${t.sql}")
  }

  override protected def nullSafeEval(a: Any): Any =
    IntArrayPack8.pack(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cls = classOf[IntArrayPack8].getName
      s"${ev.value} = $cls.pack($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): IntArrayPack8 =
    copy(child = newChild)
}

object IntArrayPack8 {
  val name = "graft_pack8"

  def apply(codes: Column): Column = column(IntArrayPack8(expr(codes)))

  /** Shared by interpreted and generated code. */
  def pack(a: ArrayData): Array[Byte] = {
    val n = a.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(
          s"$name: null code at position $i — a null element would " +
            "silently read as 0 and select the wrong ADC entry")
      val v = a.getInt(i)
      if (v < 0 || v > 255)
        throw new IllegalArgumentException(
          s"$name: code $v at position $i outside the unsigned-byte range")
      out(i) = v.toByte
      i += 1
    }
    out
  }
}

/** Native ADC lookup-sum — the PQ scoring loop: for byte-packed codes
  * and a flat per-query table laid out `[sub * stride + cid]` with
  * stride = tbl.length / codes.length, returns
  * `sum_s tbl[s * stride + codes[s]]`. This is the per-(query,
  * candidate) hot path of the PQ family (|queries| x |candidates|
  * evaluations per search); the composable higher-order
  * `aggregate(sequence(...))` formulation is interpreted per element,
  * which at full fan-out dominates the query the same way the
  * pre-[[LongArrayDot]] similarity loop did. Generates a tight
  * primitive loop inside whole-stage codegen instead.
  *
  * The stride is DERIVED (table length / code count) so a codebook
  * trained on a corpus smaller than ks can never desync the layout;
  * a table not evenly divisible by the code count throws.
  */
case class AdcScore(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = AdcScore.name

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (binary, array<bigint>), got ${l.sql} and ${r.sql}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    AdcScore.score(a.asInstanceOf[Array[Byte]], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cls = classOf[AdcScore].getName
      s"${ev.value} = $cls.score($a, $b);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcScore =
    copy(left = newLeft, right = newRight)
}

object AdcScore {
  val name = "graft_adc"

  def apply(codes: Column, tbl: Column): Column =
    column(AdcScore(expr(codes), expr(tbl)))

  /** Shared by interpreted and generated code (codegen calls it
    * statically — keep the signature stable).
    */
  def score(codes: Array[Byte], tbl: ArrayData): Long = {
    val m = codes.length
    val n = tbl.numElements()
    if (m == 0) return 0L
    if (n % m != 0)
      throw new IllegalArgumentException(
        s"$name: table length $n not divisible by code count $m")
    val stride = n / m
    var s = 0
    var acc = 0L
    while (s < m) {
      val code = codes(s) & 0xFF
      if (code >= stride)
        throw new IllegalArgumentException(
          s"$name: code $code at subspace $s outside table stride $stride")
      val ix = s * stride + code
      if (tbl.isNullAt(ix))
        throw new IllegalArgumentException(
          s"$name: null ADC table entry at index $ix — a null would " +
            "silently score as 0 and corrupt the ranking")
      acc += tbl.getLong(ix)
      s += 1
    }
    acc
  }
}
