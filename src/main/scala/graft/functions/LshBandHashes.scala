package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Native.{column, expr}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** All banded random-hyperplane signatures of one vector in a single
  * pass: `bands` hashes of `r` sign bits each over a flat ±1 weight
  * table (plane-major — plane pl's weights at [pl*dim, (pl+1)*dim);
  * band = pl / r, bit = pl % r), returned as `array<bigint>` indexed by
  * band.
  *
  * The weight table is driver-sized by contract (bands x r x dim small
  * ints — [[graft.pipeline.Similarity.planeWeights]] already builds it
  * on the driver and broadcast it). The previous signature shape —
  * `crossJoin(broadcast(weights)).groupBy(vec_id, band).agg(sum(bit))`
  * — expanded every vector bands x r ways and shuffled n x bands rows
  * to sum bits that are a per-row local computation; this expression
  * keeps identical bit math (`dot >= 0` sets bit `pl % r`) as a pure
  * projection: zero exchanges, no row expansion (guide §2.4).
  */
case class LshBandHashes(left: Expression, right: Expression,
                         bands: Int, r: Int) extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = LshBandHashes.name

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

  override protected def nullSafeEval(q: Any, w: Any): Any =
    LshBandHashes.hashes(q.asInstanceOf[ArrayData],
      w.asInstanceOf[ArrayData], bands, r)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, w) => {
      val cls = LshBandHashes.getClass.getName.stripSuffix("$")
      s"${ev.value} = $cls.hashes($q, $w, $bands, $r);"
    })

  override protected def withNewChildrenInternal(
      l: Expression, right0: Expression): LshBandHashes =
    copy(left = l, right = right0)
}

object LshBandHashes {
  val name = "graft_lsh_bands"

  def apply(q: Column, weights: Column, bands: Int, r: Int): Column =
    column(LshBandHashes(expr(q), expr(weights), bands, r))

  /** Shared by interpreted and generated code. */
  def hashes(q: ArrayData, w: ArrayData, bands: Int, r: Int): ArrayData = {
    val dim = q.numElements()
    val planes = bands * r
    if (w.numElements() != planes * dim)
      throw new IllegalArgumentException(
        s"$name: flat weight table length ${w.numElements()} != " +
          s"bands*r*dim = $bands*$r*$dim")
    val out = new Array[Long](bands)
    var pl = 0
    while (pl < planes) {
      var dot = 0L
      var j = 0
      val base = pl * dim
      while (j < dim) {
        dot += q.getLong(j) * w.getLong(base + j)
        j += 1
      }
      if (dot >= 0L) out(pl / r) |= 1L << (pl % r)
      pl += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}
