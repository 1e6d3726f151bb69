package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField}
import graft.core.DbError
import graft.lang.Op._

/** Operator semantics of the language, as pure DataFrame transforms.
  *
  * Shared by the script interpreter ([[graft.core.Engine]]) and by the
  * library-level query entry points. Schemas:
  *  - base column: `(id: long, v: int)` — dense stable positions;
  *  - id set (select output): `(id)`, distinct (reference "bitmap",
  *    results.h:12-23), ordinal order = ascending id;
  *  - id list (join output): `(a0..ak, id)` — the align columns carry the
  *    pair order, duplicates in id allowed (reference "array");
  *  - values: `(alignCols..., v)` (+ `id` for fetch results).
  *
  * Scale notes ([[graft.core.Align]] has the full story): ordinal zips
  * between same-lineage intermediates are equi-joins on the align columns —
  * no global rank materialization anywhere on the common paths. Selects
  * are plain filters (predicate-pushdown eligible all the way to parquet);
  * fetch and join are equi-joins that AQE can re-plan (broadcast when one
  * side is small). [[withPos]] — a range-partitioned distributed sort +
  * two-pass zipWithIndex, never a single-partition window, never a driver
  * collect — exists only for the cross-lineage zip fallback.
  */
object ColumnOps {

  /** 32-bit wrapping view of a long column — reproduces C int overflow
    * (reference sum/math, aggregate.c:64-72,148-170) without relying on
    * non-ANSI cast behavior (ANSI-safe: the final cast is always in range).
    */
  def wrapInt(c: Column): Column =
    (pmod(c + lit(2147483648L), lit(4294967296L)) - lit(2147483648L))
      .cast(IntegerType)

  /** Integer division with C truncation-toward-zero semantics on longs
    * (Spark SQL's `div` operator is exactly that), guarded so a zero
    * divisor yields null instead of an ANSI runtime error — callers turn
    * nulls into the language's DBEDIVZERO error.
    */
  def divTrunc(a: Column, b: Column): Column =
    when(b === 0, lit(null).cast(LongType))
      .otherwise(call_function("div", a.cast(LongType), b.cast(LongType)))

  /** Append a dense 0..n-1 `pos` ordinal in the order of `orderCols`.
    * Distributed: range-partitioned sort, then per-partition offsets
    * (RDD zipWithIndex — one extra pass to count partitions, no shuffle).
    * Fallback path only — see [[graft.core.Align]].
    */
  def withPos(df: DataFrame, orderCols: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    val sorted = if (orderCols.isEmpty) df else df.orderBy(orderCols: _*)
    val schema = org.apache.spark.sql.types.StructType(
      StructField("pos", LongType, nullable = false) +: sorted.schema.fields)
    val rdd = sorted.rdd.zipWithIndex().map { case (row, i) =>
      Row.fromSeq(i +: row.toSeq)
    }
    spark.createDataFrame(rdd, schema)
  }

  // ---- selects (storage.c:1110-1153; bounds inclusive) ----

  def selectAll(base: DataFrame): DataFrame = base.select("id")

  def selectValue(base: DataFrame, x: Long): DataFrame =
    base.filter(col("v") === lit(x)).select("id")

  def selectRange(base: DataFrame, lo: Long, hi: Long): DataFrame =
    base.filter(col("v").between(lit(lo), lit(hi))).select("id")

  // ---- fetch (storage.c:1298-1387) ----

  /** Positional projection for a select-produced id set: `(id, v)`,
    * ordinal = ascending id (the reference's bitmap iteration order,
    * storage.c:1324-1326) — carried structurally, not materialized.
    */
  def fetchSet(base: DataFrame, ids: DataFrame): DataFrame =
    ids.join(base, "id").select("id", "v")

  /** Positional projection for a join-produced id list: input order and
    * duplicates preserved (storage.c:1354-1366) via the align columns.
    */
  def fetchList(base: DataFrame, idList: DataFrame,
                alignCols: Seq[String]): DataFrame =
    idList.join(base, "id")
      .select(alignCols.map(col) ++ Seq(col("id"), col("v")): _*)

  // ---- joins (join.c:327-390) ----

  /** Value equi-join of two fetched intermediates -> aligned position
    * pairs, one row per matching value pair (M×N for duplicate values).
    * Returns the pair DataFrame `(outCols..., lid, rid)` and the output
    * align columns (the two inputs' align keys, renamed `la*`/`ra*`) —
    * their lexicographic order is the pair order both bound variables
    * share.
    *
    * The four language keywords select the physical algorithm; here they
    * map to Catalyst join hints (the reference's manual algorithm choice is
    * the closest it has to an optimizer, join.c:341-343 — Spark/AQE may
    * still override, which only changes the plan, never the result):
    * loopjoin -> unhinted (AQE picks), sortjoin -> MERGE,
    * hashjoin -> SHUFFLE_HASH, treejoin -> BROADCAST of the indexed side
    * (an index probe ≈ a broadcast hash probe — valid exactly when the
    * index fits in memory, which is also the reference's own treejoin
    * precondition; for an indexed side too large to broadcast, hashjoin
    * is the right keyword, as it is in the reference).
    */
  def join(jtype: JoinType, l: DataFrame, r: DataFrame,
           lCols: Seq[String], rCols: Seq[String]): (DataFrame, Seq[String]) = {
    val lOut = lCols.indices.map(i => s"la$i")
    val rOut = rCols.indices.map(i => s"ra$i")
    val lf = l.select(lCols.zip(lOut).map { case (c, o) => col(c).as(o) } ++
      Seq(col("id").as("lid"), col("v")): _*)
    val rf0 = r.select(rCols.zip(rOut).map { case (c, o) => col(c).as(o) } ++
      Seq(col("id").as("rid"), col("v")): _*)
    val rf = jtype match {
      case SortJoin => rf0.hint("MERGE")
      case HashJoin => rf0.hint("SHUFFLE_HASH")
      case TreeJoin => rf0.hint("BROADCAST")
      case LoopJoin => rf0
    }
    val outCols = lOut ++ rOut
    // session skew knob: spread known-hot value keys over salt buckets
    // (left side salted, right side replicated; result multiset
    // identical); "auto" samples the left key column for a heavy
    // hitter first. Broadcast (treejoin) has no shuffle to salt.
    val buckets = SkewJoin.resolveBuckets(l, "v")
    val joined =
      if (buckets > 1 && jtype != TreeJoin)
        SkewJoin.saltedInnerJoin(lf, rf, "v", buckets)
      else lf.join(rf, "v")
    val pairs = joined
      .select(outCols.map(col) ++ Seq(col("lid"), col("rid")): _*)
    (pairs, outCols)
  }

  // ---- aggregates (aggregate.c:9-98) ----

  /** The aggregate expression alone, over int column `v` (the input's
    * `v` unless given) — exposed so the engine can fuse several
    * aggregates over one input into a single `agg(...)` pass (one job
    * instead of one subtree per aggregate at tuple emission).
    */
  def aggExpr(atype: AggType, v: Column = col("v")): Column = atype match {
    case AggMin   => coalesce(min(v), lit(Int.MaxValue))
    case AggMax   => coalesce(max(v), lit(Int.MinValue))
    case AggSum   => wrapInt(coalesce(sum(v), lit(0L)))
    case AggCount => count(lit(1)).cast(IntegerType)
    case AggAvg   =>
      // the reference's avg is agg_sum/agg_count with agg_sum a WRAPPING
      // 32-bit int (aggregate.c:64-84): wrap the sum first, then C
      // truncating division; empty input -> null here -> DBEDIVZERO at
      // the engine layer (null sum wraps to null, divTrunc passes it)
      divTrunc(wrapInt(sum(v.cast(LongType))).cast(LongType),
        count(lit(1))).cast(IntegerType)
  }

  /** Singleton aggregate of a values intermediate (any schema containing
    * `v`), with the reference's empty-input identities: min->INT_MAX,
    * max->INT_MIN, sum->0, count->0; avg on empty errors (DBEDIVZERO,
    * aggregate.c:18-21). sum wraps at 32 bits; avg is truncating integer
    * division. Output schema: `(v)`.
    */
  def aggregate(atype: AggType, vals: DataFrame): DataFrame = {
    val out = vals.agg(aggExpr(atype).as("v"))
    if (atype == AggAvg) out.na.drop(Seq("v")) // empty input -> caller errors
    else out
  }

  // ---- elementwise math (aggregate.c:100-182) ----

  /** Elementwise `add/sub/mul/div` of two equal-length values
    * intermediates sharing the alignment key `alignCols` (same lineage —
    * the ordinal zip IS this equi-join; see [[graft.core.Align]]).
    * Results keep the alignment but carry no ids (aggregate.c:119-134).
    * 32-bit wrapping; div truncates toward zero. Caller enforces the
    * equal-length (DBEINTERMDIFFLEN) and div-by-zero (DBEDIVZERO) errors.
    */
  def math(mtype: MathType, l: DataFrame, r: DataFrame,
           alignCols: Seq[String]): DataFrame = {
    val lf = l.select(alignCols.map(col) :+ col("v").as("v1"): _*)
    val rf = r.select(alignCols.map(col) :+ col("v").as("v2"): _*)
    // empty align = two singletons (aggregate results): 1x1 cross join
    val joined = if (alignCols.isEmpty) lf.crossJoin(rf)
                 else lf.join(rf, alignCols)
    joined.select(alignCols.map(col) :+
      mathExpr(mtype, col("v1"), col("v2")).as("v"): _*)
  }

  /** The elementwise expression alone, over two int columns — exposed so
    * the engine can compute it inside one fetch join tree.
    */
  def mathExpr(mtype: MathType, a: Column, b: Column): Column = {
    val (x, y) = (a.cast(LongType), b.cast(LongType))
    mtype match {
      case MathAdd => wrapInt(x + y)
      case MathSub => wrapInt(x - y)
      case MathMul => wrapInt(x * y)
      case MathDiv => wrapInt(divTrunc(x, y))
    }
  }

  // ---- tuple (server.c:656-701, rpc.c:209-235) ----

  /** Zip k values intermediates sharing the alignment key `alignCols`
    * into k-column rows `(alignCols..., v1..vk)`. Equal lengths enforced
    * by the caller. Emission order = lexicographic in the align columns.
    */
  def tupleZip(vals: Seq[DataFrame], alignCols: Seq[String]): DataFrame = {
    require(vals.nonEmpty)
    val renamed = vals.zipWithIndex.map { case (df, i) =>
      df.select(alignCols.map(col) :+ col("v").as(s"v${i + 1}"): _*)
    }
    if (alignCols.isEmpty) renamed.reduce(_.crossJoin(_))
    else renamed.reduce((a, b) => a.join(b, alignCols))
  }
}
