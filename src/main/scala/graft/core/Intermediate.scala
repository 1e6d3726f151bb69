package graft.core

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Ordinal-alignment descriptor for an intermediate.
  *
  * The language aligns values intermediates by ordinal position (math and
  * tuple zip element k with element k — reference aggregate.c:100-182,
  * rpc.c:213-216). Materializing that ordinal as a dense rank is a global
  * sort + an extra pass per operand — a real cost at cluster scale. But the
  * ordinal is always the rank of some existing key:
  *
  *  - a select's id set iterates in ascending id order (storage.c:1324-1326),
  *    so a fetch from it has ordinal = rank of `id`;
  *  - a join's two output lists share one pair order, kept here as the
  *    join's alignment columns (the two sides' pre-join keys).
  *
  * So each intermediate carries `cols` — the columns whose lexicographic
  * order IS the ordinal order — plus a lineage `tag`. Two intermediates
  * with the same tag have the same row count and identical align-column
  * values row-for-row; zipping them by ordinal is exactly an equi-join on
  * `cols` — no rank materialization, one shuffle, codegen-friendly.
  * Only when tags differ (zip of unrelated same-length intermediates —
  * legal but rare) does the engine fall back to materializing ranks
  * ([[graft.operators.ColumnOps.withPos]]).
  *
  * `cols` empty = singleton (aggregate results, tag [[Align.SingletonTag]]):
  * ordinal zip of singletons is a 1x1 cross join.
  */
final case class Align(cols: Seq[String], tag: Long)

object Align {
  /** All singleton (aggregate-result) intermediates align trivially. */
  val SingletonTag = 0L
  val singleton: Align = Align(Nil, SingletonTag)

  private val next = new AtomicLong(1L)
  def fresh(cols: Seq[String]): Align = Align(cols, next.getAndIncrement())
}

/** Session intermediates — the two value categories of the language
  * (reference: /root/reference/src/common/include/results.h:12-40).
  *
  * All schemas use Long keys and Int `v` (the language's single scalar
  * type) — scale-ready past 2^31 rows.
  */
sealed trait Intermediate

object Intermediate {

  /** A set/list of positions.
    *
    * - Select output ("bitmap" in the reference): `df(id)`, distinct;
    *   `align.cols = Seq("id")`. `src` is the selected column's meta at
    *   the select: its `nextId` is the fetch length check's operand
    *   (DBECOLDIFFLEN, storage.c:1311-1318) and the set's row bound, and
    *   `fullSelect` is the treejoin full-select precondition
    *   (join.c:171-178).
    * - Join output ("array"): `df(align.cols..., id)` — order significant
    *   (lexicographic in the align columns), duplicates in `id` allowed
    *   (results.h:12-23); both sides of one join share `align.tag` and
    *   `pairs`, the join's pair plan, with this side's key column in it
    *   (`lid` or `rid`). `src` is the meta of the column the side's join
    *   input fetched, at that fetch: every id of the list is live in it.
    *
    * Either way every id is a live position of `src`, so a fetch target
    * with `src`'s live set (equal `(liveSet, nextId)`, see
    * [[ColumnMeta]]), or a pristine one at least as long, drops no row.
    */
  final case class Ids(df: DataFrame, ordered: Boolean, align: Align,
                       src: ColumnMeta,
                       pairs: Option[(DataFrame, String)] = None,
                       fullSelect: Boolean = false) extends Intermediate {
    /** The plan whose rows are these positions, and its position column. */
    def source: (DataFrame, String) = pairs.getOrElse((df, "id"))

    /** Proven row bound: a set holds at most `src.nextId` ids; a join
      * list has none.
      */
    def rowBound: Option[Long] = if (ordered) None else Some(src.nextId)
  }

  /** A vector of values: `df(align.cols..., v)` plus, for a fetch result,
    * the base position `id` each value came from. Math/agg results carry
    * no ids and therefore cannot feed joins or fetch (reference
    * server.c:721-728) — but math results keep their operands' alignment,
    * so they still zip with siblings without any rank materialization.
    *
    * `fetched` is the column meta a fetch read (None for math/agg
    * results) and `fullBase` whether its position set was a full select
    * — the treejoin precondition (DBENOTREE, join.c:171-178) checks both.
    *
    * `rowBound` is a proven upper bound on the row count (from a select
    * set's source length), or None. `tree` is the intermediate as a
    * [[Fused]] join tree over its position source, when it drops no row
    * of that source; operands sharing a source and a tag zip through one
    * such tree.
    *
    * `aggSrc` records an aggregate result's provenance (its type and
    * input): tuple emission fuses sibling aggregates over the same input
    * into one `agg` pass instead of one plan subtree each.
    */
  final case class Vals(df: DataFrame, align: Align,
                        fetched: Option[ColumnMeta] = None,
                        fullBase: Boolean = false,
                        rowBound: Option[Long] = None,
                        tree: Option[Fused] = None,
                        aggSrc: Option[(graft.lang.Op.AggType, Vals)] = None)
      extends Intermediate {
    def hasIds: Boolean = fetched.isDefined
  }

  /** Values computed only from fetches of one position source: `source`
    * (a select set keyed by `id`, or a join's pair plan keyed by `lid` or
    * `rid`) joined to each fetched column on its key, and `v` an
    * expression over the fetched values, in `fetches` order. `bound` is
    * the source's proven row bound (a select set's, see [[Ids.rowBound]]),
    * or None for a pair plan.
    */
  final case class Fused(source: DataFrame, fetches: Seq[(String, ColumnMeta)],
                         v: Seq[Column] => Column, bound: Option[Long])

  object Fused {
    /** One fetch of `meta` at `ids`' positions. */
    def fetch(ids: Ids, meta: ColumnMeta): Fused = {
      val (source, key) = ids.source
      Fused(source, Seq(key -> meta), _.head, ids.rowBound)
    }

    /** One tree computing `f` of the given trees' values (same source). */
    def combine(trees: Seq[Fused])(f: Seq[Column] => Column): Fused = {
      val offsets = trees.scanLeft(0)(_ + _.fetches.size)
      Fused(trees.head.source, trees.flatMap(_.fetches), cs =>
        f(trees.zip(offsets).map { case (t, o) =>
          t.v(cs.slice(o, o + t.fetches.size)) }), trees.head.bound)
    }

    /** `source ⋈ c1 ⋈ c2 ...` once for trees over one source, each
      * distinct fetched column joined once, projected to `keep` (columns
      * of the source) and each tree's value as the matching `out` name.
      *
      * With `oneTask` and a source bound (see `Session.oneTask`), every
      * input is coalesced to one partition and each join hashes the side
      * holding the source's rows: inputs of one partition need no
      * exchange and hashing needs no broadcast, so the joins, and a sort
      * or aggregate above them, run as one task in one job. Otherwise
      * Spark plans each join, broadcasting a small side.
      */
    def plan(spark: SparkSession, trees: Seq[Fused], keep: Seq[Column],
             out: Seq[String], oneTask: Boolean): DataFrame = {
      val bound = trees.head.bound.filter(_ => oneTask)
      def part(df: DataFrame) = if (bound.isDefined) df.coalesce(1) else df
      // The planner keeps two one-partition join inputs together only
      // while each is estimated under spark.sql.maxSinglePartitionBytes,
      // and it estimates a join as the product of its inputs. The limit
      // (the source's bound, so it drops no row) re-states the running
      // tree's size as at most that many rows.
      def build(acc: DataFrame) =
        bound.fold(acc)(n => acc.coalesce(1).limit(n.toInt).hint("shuffle_hash"))
      val fetches = trees.flatMap(_.fetches).distinct
      val joined = fetches.zipWithIndex.foldLeft(trees.head.source) {
        case (acc, ((key, meta), i)) =>
          build(acc).join(part(Storage.readColumn(spark, meta)
              .select(col("id").as(s"_k$i"), col("v").as(s"_f$i"))),
            col(key) === col(s"_k$i"))
      }
      val vs = trees.map(t => t.v(t.fetches.map(f => col(s"_f${fetches.indexOf(f)}"))))
      joined.select(keep ++ vs.zip(out).map { case (v, o) => v.as(o) }: _*)
    }
  }
}
