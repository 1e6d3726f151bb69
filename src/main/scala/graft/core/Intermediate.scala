package graft.core

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.DataFrame

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
    *   `align.cols = Seq("id")`. `srcCol`/`srcLen` record the selected
    *   column and its allocated-position count for the fetch length check
    *   (DBECOLDIFFLEN, storage.c:1311-1318) and the treejoin full-select
    *   precondition (join.c:171-178). `srcLive` is the source column's
    *   live-set id ([[ColumnMeta]]) from the same snapshot: a fetch target
    *   with equal `(liveSet, nextId)` has exactly the source's live
    *   positions, so it drops no id of the set.
    * - Join output ("array"): `df(align.cols..., id)` — order significant
    *   (lexicographic in the align columns), duplicates in `id` allowed
    *   (results.h:12-23); both sides of one join share `align.tag`.
    */
  final case class Ids(df: DataFrame, ordered: Boolean, align: Align,
                       srcCol: Option[String] = None,
                       srcLen: Option[Long] = None,
                       srcLive: Option[Long] = None,
                       fullSelect: Boolean = false) extends Intermediate

  /** A vector of values: `df(align.cols..., v)` plus, when `hasIds`, the
    * base position `id` each value came from. Math/agg results carry no
    * ids and therefore cannot feed joins or fetch (reference
    * server.c:721-728) — but math results keep their operands' alignment,
    * so they still zip with siblings without any rank materialization.
    *
    * `fetchCol`/`fullBase` record which column a fetch materialized and
    * whether its position set was a full select — the treejoin
    * precondition (DBENOTREE, join.c:171-178) checks both.
    *
    * `aggSrc` records an aggregate result's provenance (its type and
    * input plan): tuple emission fuses sibling aggregates over the same
    * input into one `agg` pass instead of one plan subtree each.
    */
  final case class Vals(df: DataFrame, hasIds: Boolean, align: Align,
                        fetchCol: Option[String] = None,
                        fullBase: Boolean = false,
                        aggSrc: Option[(graft.lang.Op.AggType, DataFrame)] = None)
      extends Intermediate
}
