package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Native.{column, expr}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Codebook-local nearest-centroid assignment — the shuffle-free form of
  * the IVF/PQ quantizer argmin.
  *
  * The k-means codebooks of the ANN family are DRIVER-SIZED by contract
  * (k x dim integers — kilobytes at any corpus scale; [[graft.pipeline.Ivf]]
  * scaladoc): they already cross the driver on every training iteration
  * and broadcast to every assignment join. The previous assignment shape
  * — `crossJoin(broadcast(codebook)).groupBy(vec_id).agg(min_by(...))` —
  * expanded every vector k ways and then SHUFFLED one full-vector row per
  * vector to reduce the argmin (guide §2.3/§2.4: the shuffle moved the
  * whole corpus once per assignment, purely to rank k local candidates).
  * These expressions evaluate the same deterministic argmin as a pure
  * PROJECTION over a codebook literal: zero exchanges, zero row
  * expansion, the corpus never moves. Each is a tight primitive loop
  * shared by interpreted eval and codegen (same pattern as
  * [[LongArrayDot]]/[[AdcScore]]).
  *
  * Equivalence to the min_by form ([[graft.pipeline.Ivf.assign]]'s
  * contract, pinned in CodebookOpsSpec): the joined d2 was
  * `|q|^2 + |c_i|^2 - 2<q,c_i>` with tie-break (d2, cid) ascending.
  * `|q|^2` is constant across the k candidates, so the argmin (and every
  * tie) is decided by `|c_i|^2 - 2<q,c_i>` alone — the quantity these
  * loops minimize, walking cids in ascending order with a strict `<` so
  * equal-distance ties keep the SMALLEST cid, exactly `min_by(cid,
  * struct(d2, cid))`.
  *
  * The argmin itself is [[PqEncodeCodes]]: IVF assignment is its m = 1
  * code. The loops return POSITIONS in the flat codebook; every builder
  * writes contiguous cids 0..k-1, so a position is its cid
  * ([[graft.pipeline.Pq.localCodebook]] rejects a codebook with a gap).
  */

private[functions] object CodebookOpsShared {
  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  def requireLongArrays(pretty: String,
                        args: (String, DataType)*): TypeCheckResult = {
    val bad = args.collectFirst { case (n, t) if !isLongArray(t) => (n, t) }
    bad match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some((n, t)) => TypeCheckResult.TypeCheckFailure(
        s"$pretty requires array<bigint> for $n, got ${t.sql}")
    }
  }

  def litErr(name: String, what: String) =
    new IllegalArgumentException(s"$name: $what")
}
import CodebookOpsShared.{litErr, requireLongArrays}

/** The n nearest centroid POSITIONS of one vector, ascending by
  * (distance, cid) — the nprobe/nAssign generalization of the
  * [[PqEncodeCodes]] argmin at m = 1 (n = 1 degenerates to a singleton
  * of the same argmin). Returns min(n, k) positions. Replaces the window
  * `row_number` over the n x k crossJoin expansion (which shuffled
  * every expanded row to rank k local candidates) and the
  * `slice(sort_array(collect_list(...)))` aggregate with a pure
  * projection — identical ordering contract: the same reduced score
  * `|c|^2 - 2<q,c>` ranks candidates (the dropped `|q|^2` is
  * per-row constant), ties ascending by cid.
  */
case class CodebookTopN(first: Expression, second: Expression,
                        third: Expression, n: Int)
    extends TernaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = CodebookTopN.name

  override def checkInputDataTypes(): TypeCheckResult =
    requireLongArrays(prettyName, ("q", first.dataType),
      ("cents", second.dataType), ("cn2", third.dataType))

  override protected def nullSafeEval(q: Any, cents: Any, cn2: Any): Any =
    CodebookTopN.topn(q.asInstanceOf[ArrayData],
      cents.asInstanceOf[ArrayData], cn2.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, c, cn) => {
      val cls = CodebookTopN.getClass.getName.stripSuffix("$")
      s"${ev.value} = $cls.topn($q, $c, $cn, $n);"
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): CodebookTopN =
    copy(first = f, second = s, third = t)
}

object CodebookTopN {
  val name = "graft_cb_topn"

  def apply(q: Column, cents: Column, cn2: Column, n: Int): Column =
    column(CodebookTopN(expr(q), expr(cents), expr(cn2), n))

  /** Shared by interpreted and generated code. */
  def topn(q: ArrayData, cents: ArrayData, cn2: ArrayData,
           n: Int): ArrayData = {
    val dim = q.numElements()
    val k = cn2.numElements()
    if (k == 0) throw litErr(name, "empty codebook")
    if (n <= 0) throw litErr(name, s"top-n count must be positive, got $n")
    if (cents.numElements() != k * dim)
      throw litErr(name, s"flat codebook length ${cents.numElements()} " +
        s"!= k*dim = $k*$dim")
    val take = math.min(n, k)
    // scores in position order; selection into an insertion-sorted
    // top-`take` buffer — positions ascend on insert, so equal scores
    // keep the smaller position (the (d2, cid) ascending contract)
    val bufScore = new Array[Long](take)
    val bufPos = new Array[Int](take)
    var filled = 0
    var i = 0
    while (i < k) {
      var dot = 0L
      var j = 0
      val base = i * dim
      while (j < dim) {
        dot += q.getLong(j) * cents.getLong(base + j)
        j += 1
      }
      val score = cn2.getLong(i) - 2L * dot
      if (filled < take || score < bufScore(filled - 1)) {
        var ins = if (filled < take) filled else take - 1
        while (ins > 0 && bufScore(ins - 1) > score) {
          bufScore(ins) = bufScore(ins - 1)
          bufPos(ins) = bufPos(ins - 1)
          ins -= 1
        }
        bufScore(ins) = score
        bufPos(ins) = i
        if (filled < take) filled += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      java.util.Arrays.copyOf(bufPos, filled))
  }
}

/** All m PQ sub-codes of one vector in a single pass: for each of the
  * m contiguous subspaces, the argmin cid over that subspace's ks'
  * centroids — `array<int>` ordered by subspace, exactly the code
  * tuple [[graft.pipeline.Pq]] packs.
  *
  * `codebook` is the m x ks' x d codebook flattened (sub major, cid
  * minor, both ascending), `cn2` the m x ks' squared norms in the same
  * order; ks' is derived (cn2.length / m) and d from the vector
  * (q.length / m), so a codebook trained on a corpus smaller than ks
  * can never desync the layout — same derivation contract as
  * [[AdcScore]].
  */
case class PqEncodeCodes(first: Expression, second: Expression,
                         third: Expression, m: Int)
    extends TernaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = PqEncodeCodes.name

  override def checkInputDataTypes(): TypeCheckResult =
    requireLongArrays(prettyName, ("q", first.dataType),
      ("codebook", second.dataType), ("cn2", third.dataType))

  override protected def nullSafeEval(q: Any, cb: Any, cn2: Any): Any =
    PqEncodeCodes.encode(q.asInstanceOf[ArrayData],
      cb.asInstanceOf[ArrayData], cn2.asInstanceOf[ArrayData], m)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, c, n) => {
      val cls = PqEncodeCodes.getClass.getName.stripSuffix("$")
      s"${ev.value} = $cls.encode($q, $c, $n, $m);"
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PqEncodeCodes =
    copy(first = f, second = s, third = t)
}

object PqEncodeCodes {
  val name = "graft_pq_encode"

  def apply(q: Column, codebook: Column, cn2: Column, m: Int): Column =
    column(PqEncodeCodes(expr(q), expr(codebook), expr(cn2), m))

  /** Shared by interpreted and generated code. */
  def encode(q: ArrayData, cb: ArrayData, cn2: ArrayData,
             m: Int): ArrayData = {
    val dim = q.numElements()
    if (m <= 0 || dim % m != 0)
      throw litErr(name, s"dimension $dim not divisible into $m subspaces")
    val d = dim / m
    val nCents = cn2.numElements()
    if (nCents == 0 || nCents % m != 0)
      throw litErr(name, s"cn2 length $nCents not divisible by $m")
    val ks = nCents / m
    if (cb.numElements() != nCents * d)
      throw litErr(name, s"flat codebook length ${cb.numElements()} " +
        s"!= m*ks*d = $m*$ks*$d")
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val qBase = s * d
      var best = 0
      var bestScore = Long.MaxValue
      var i = 0
      while (i < ks) {
        val cIx = s * ks + i
        val cBase = cIx * d
        var dot = 0L
        var j = 0
        while (j < d) {
          dot += q.getLong(qBase + j) * cb.getLong(cBase + j)
          j += 1
        }
        val score = cn2.getLong(cIx) - 2L * dot
        if (score < bestScore) { bestScore = score; best = i }
        i += 1
      }
      out(s) = best
      s += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/** One flat ADC lookup table per QUERY vector in a single pass:
  * `tbl[s * ks' + cid] = <q_sub_s, c_{s,cid}>` over the same flattened
  * codebook layout as [[PqEncodeCodes]] — exactly the table
  * [[graft.pipeline.Pq]] previously assembled via explode + broadcast
  * join + sort_array(collect_list(...)) (two extra shuffles per
  * search), consumed unchanged by [[AdcScore]] (which re-derives the
  * stride as tbl.length / m).
  */
case class PqQueryTable(left: Expression, right: Expression, m: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = PqQueryTable.name

  override def checkInputDataTypes(): TypeCheckResult =
    requireLongArrays(prettyName, ("q", left.dataType),
      ("codebook", right.dataType))

  override protected def nullSafeEval(q: Any, cb: Any): Any =
    PqQueryTable.table(q.asInstanceOf[ArrayData],
      cb.asInstanceOf[ArrayData], m)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, c) => {
      val cls = PqQueryTable.getClass.getName.stripSuffix("$")
      s"${ev.value} = $cls.table($q, $c, $m);"
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqQueryTable =
    copy(left = l, right = r)
}

object PqQueryTable {
  val name = "graft_pq_qtable"

  def apply(q: Column, codebook: Column, m: Int): Column =
    column(PqQueryTable(expr(q), expr(codebook), m))

  /** Shared by interpreted and generated code. */
  def table(q: ArrayData, cb: ArrayData, m: Int): ArrayData = {
    val dim = q.numElements()
    if (m <= 0 || dim % m != 0)
      throw litErr(name, s"dimension $dim not divisible into $m subspaces")
    val d = dim / m
    val flat = cb.numElements()
    if (flat == 0 || flat % (m * d) != 0)
      throw litErr(name, s"flat codebook length $flat not divisible by " +
        s"m*d = $m*$d")
    val ks = flat / (m * d)
    val out = new Array[Long](m * ks)
    var s = 0
    while (s < m) {
      val qBase = s * d
      var i = 0
      while (i < ks) {
        val cBase = (s * ks + i) * d
        var dot = 0L
        var j = 0
        while (j < d) {
          dot += q.getLong(qBase + j) * cb.getLong(cBase + j)
          j += 1
        }
        out(s * ks + i) = dot
        i += 1
      }
      s += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}
