package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.Native.{column, expr}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Buffer: the k DISTINCT values with the smallest (priority, value)
  * pairs seen so far — max-heap on the PAIR for O(log k) eviction (the
  * lexicographic tie-break keeps the sample independent of arrival
  * order even under a priority collision, matching the SQL oracle's
  * ORDER BY p, v), plus a membership set so repeated occurrences of a
  * value never enter twice and flood the sample on skewed data.
  */
final class BottomK(val k: Int) {
  val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Long)](
    Ordering.Tuple2[Long, Long]) // max (priority, value) on top
  private val present = scala.collection.mutable.HashSet.empty[Long]
  def offer(p: Long, v: Long): Unit =
    if (!present(v)) {
      if (heap.size < k) { heap.enqueue((p, v)); present += v }
      else if (Ordering.Tuple2[Long, Long].lt((p, v), heap.head)) {
        present -= heap.dequeue()._2
        heap.enqueue((p, v)); present += v
      }
    }
}

/** Deterministic uniform k-sample of a bigint column via bottom-k
  * priorities ("consistent sampling"): each value's priority is a hash
  * of (seed, value); the sample is the k smallest priorities. A
  * [[TypedImperativeAggregate]] — the extension point for aggregates
  * whose state is an arbitrary object rather than a fixed-width row,
  * and the representative of the sketch family: state is O(k) whatever
  * the input size, partial states merge exactly (bottom-k of a union is
  * the bottom-k of bottom-ks), so a 100 TB column samples in one
  * map-side pass plus k-sized merges.
  *
  * Hash-priority sampling is uniform over DISTINCT values and fully
  * deterministic — independent of partitioning, retries, and row order.
  * The priority is the 60-bit value of the leading 15 hex digits of
  * `md5("<seed>:<value>")` — engine-portable (any SQL engine
  * reproduces it), which is what makes the `sample_reservoir` driver
  * query oracle-exact rather than spec-only.
  */
case class ReservoirSample(child: Expression, k: Int, seed: Long,
                           mutableAggBufferOffset: Int = 0,
                           inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BottomK] {

  require(k > 0, s"$prettyName: k must be positive, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_reservoir"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (child.dataType == LongType) TypeCheckSuccess
    else TypeCheckFailure(
      s"$prettyName requires a bigint column, got ${child.dataType.sql}")
  }

  /** md5-derived 60-bit priority: top 60 bits of the digest's first 8
    * bytes = the integer value of the leading 15 hex digits — exactly
    * what SQL `md5(concat(seed, ':', v))` digit-parsing reproduces.
    */
  private def priority(x: Long): Long = {
    val md = ReservoirSample.md5Local.get()
    md.reset()
    val d = md.digest(
      s"$seed:$x".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong() >>> 4
  }

  override def createAggregationBuffer(): BottomK = new BottomK(k)

  override def update(b: BottomK, input: InternalRow): BottomK = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      b.offer(priority(x), x)
    }
    b
  }

  override def merge(b: BottomK, o: BottomK): BottomK = {
    o.heap.foreach { case (p, v) => b.offer(p, v) }
    b
  }

  /** Sample ordered by (priority, value) — a total deterministic order
    * shared with the SQL oracle's ORDER BY.
    */
  override def eval(b: BottomK): Any =
    new GenericArrayData(b.heap.toArray.sorted.map(_._2))

  override def serialize(b: BottomK): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.k); out.writeInt(b.heap.size)
    b.heap.foreach { case (p, v) => out.writeLong(p); out.writeLong(v) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BottomK = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new BottomK(in.readInt())
    val n = in.readInt()
    var i = 0
    // offer() rebuilds the membership set alongside the heap
    while (i < n) { b.offer(in.readLong(), in.readLong()); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): ReservoirSample =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ReservoirSample =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): ReservoirSample = copy(child = c.head)
}

object ReservoirSample {
  val name = "graft_reservoir"

  private[functions] val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** The aggregate column `graft_reservoir(x, k, seed)`, for `.agg`. */
  def apply(x: Column, k: Int, seed: Long): Column =
    column(ReservoirSample(expr(x), k, seed).toAggregateExpression())
}
