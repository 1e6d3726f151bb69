package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Native.{column, expr}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, FloatType, LongType}

/** Int8 vector quantization, packed: `array<float>` -> `binary` with ONE
  * BYTE per dimension.
  *
  * The long-quantized similarity path ([[LongArrayDot]], `round(x*1000)`)
  * is the exactness workhorse, but it carries 8 bytes per dimension —
  * at 1e9 x 1024-dim vectors that is 8 TB of vector payload moving
  * through every shuffle and cache. Per-vector symmetric int8
  * quantization (`q[i] = round(127 * x[i] / max_j |x[j]|)`, half away
  * from zero — the convention DuckDB's `round` and Spark's SQL `round`
  * share, so oracles replay it exactly) stores the SAME vector in 1
  * byte per dimension: 4x smaller than the original float32 and 8x
  * smaller than the long quantization, while integer dot products stay
  * bit-exact in every engine (|dot| <= dim * 127^2, overflow-free in
  * long far past any real dimension).
  *
  * Packing matters as much as width: a `binary` value is a contiguous
  * byte run in Tungsten rows and parquet (plain byte-array encoding),
  * where an `array<tinyint>` still pays per-element ArrayData layout.
  * The scoring loop over two byte arrays is also the form a JIT
  * vectorizes well (16 multiply-accumulates per SIMD lane at int8).
  *
  * Determinism contract: max-abs, the scale division, and the rounding
  * are all IEEE-754 double ops in a fixed evaluation order
  * (`(x * 127) / ma`), so the quantized bytes are identical across
  * engines, partitionings, and runs — a DuckDB oracle reproduces them
  * with list arithmetic. The zero vector (ma = 0) quantizes to all
  * zeros rather than dividing by zero.
  */
case class FloatArrayQuantize8(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = FloatArrayQuantize8.name

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> argument, got ${t.sql}")
  }

  override protected def nullSafeEval(a: Any): Any =
    FloatArrayQuantize8.quantize(a.asInstanceOf[ArrayData])

  // one static call per ROW (not per candidate pair): the per-element
  // loop lives in the shared helper so interpreted and generated paths
  // cannot drift; the call stays inside whole-stage codegen and JIT
  // inlines the static target
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cls = classOf[FloatArrayQuantize8].getName
      s"${ev.value} = $cls.quantize($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): FloatArrayQuantize8 =
    copy(child = newChild)
}

object FloatArrayQuantize8 {
  val name = "graft_q8"

  def apply(e: Column): Column = column(FloatArrayQuantize8(expr(e)))

  /** Shared by interpreted and generated code (codegen calls it
    * statically — keep the signature stable).
    */
  def quantize(a: ArrayData): Array[Byte] = {
    val n = a.numElements()
    val out = new Array[Byte](n)
    var ma = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i))
        throw new IllegalArgumentException(
          s"$name: null vector element at position $i — a null would " +
            "silently quantize as 0 and skew the scale")
      val v = Math.abs(a.getFloat(i).toDouble)
      if (v > ma) ma = v
      i += 1
    }
    if (ma > 0.0) {
      i = 0
      while (i < n) {
        val s = a.getFloat(i).toDouble * 127.0 / ma
        // half away from zero: the rounding DuckDB round() and Spark SQL
        // round() agree on; |s| <= 127 by construction so the byte cast
        // never truncates
        out(i) = (if (s >= 0) Math.floor(s + 0.5) else Math.ceil(s - 0.5)).toByte
        i += 1
      }
    }
    out
  }
}

/** Native dot product of two packed-int8 `binary` columns — the scoring
  * loop of the quantized similarity path, the [[LongArrayDot]] of the
  * 1-byte-per-dimension representation. Generates a tight primitive
  * loop over the two byte arrays inside whole-stage codegen; unequal
  * lengths throw for the same reason [[LongArrayDot]] does (a silent
  * prefix dot would produce plausible-but-wrong rankings).
  */
case class ByteArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = ByteArrayDot.name

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two binary arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    if (x.length != y.length)
      throw ByteArrayDot.dimMismatch(x.length, y.length)
    var i = 0
    var s = 0L
    while (i < x.length) { s += x(i).toLong * y(i).toLong; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val cls = classOf[ByteArrayDot].getName
      s"""
         |if ($a.length != $b.length) {
         |  throw $cls.dimMismatch($a.length, $b.length);
         |}
         |long $s = 0L;
         |for (int $i = 0; $i < $a.length; $i++) {
         |  $s += (long) $a[$i] * (long) $b[$i];
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ByteArrayDot =
    copy(left = newLeft, right = newRight)
}

object ByteArrayDot {
  val name = "graft_dot8"

  def apply(a: Column, b: Column): Column = column(ByteArrayDot(expr(a), expr(b)))

  /** Shared by interpreted and generated code (codegen calls it
    * statically — keep the signature stable).
    */
  def dimMismatch(a: Int, b: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"$name: packed vector lengths differ ($a vs $b) — upstream " +
        "quantization ran over mismatched dimensions")
}
