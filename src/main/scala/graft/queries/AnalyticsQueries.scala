package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ReservoirSample
import graft.operators.{Layout, TemporalJoin}

/** Large-scale analytics operators beyond the reference's surface and the
  * core pipeline family: temporal joins (as-of, range), stratified
  * sampling, sketch-accuracy gates, per-group top-k, distribution
  * profiling, and bucketed-layout joins. Same contract as
  * [[PipelineQueries]]: every entry is in the driver's hard signal, with
  * a DuckDB oracle wherever the semantics are SQL-expressible — the
  * approximate sketches (HLL, quantile) are gated through oracle-exact
  * booleans the same way `ann_recall` gates the ANN paths.
  */
object AnalyticsQueries {
  type Q = (SparkSession, String) => DataFrame

  /** events projected to exact integer time/money: epoch-ms event time
    * (robust to ns-as-long vs timestamp parquet surfacing) and cents.
    */
  private def eventsBase(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.select(col("event_id"), col("user_id"),
      PipelineQueries.eventMs(ev).as("ms"), col("event_type"),
      round(col("value") * 100).cast("long").as("cents"))
  }

  /** As-of join in the hard signal: every purchase event picks up the
    * most recent preceding (or simultaneous) click by the same user —
    * [[TemporalJoin.asOf]]'s union+window single-shuffle plan, checked
    * against DuckDB's native ASOF LEFT JOIN. Clicks are pre-aggregated
    * per (user, ms) (largest event_id wins) so the tie contract holds;
    * misses surface as (-1, 0) rather than nulls to keep the hash
    * compare null-free.
    */
  def joinAsof(s: SparkSession, d: String): DataFrame =
    asofPipeline(s, d)((l, r) =>
      TemporalJoin.asOf(l, r, key = "user_id", ts = "ms",
        payload = Seq("ms", "cents")))

  /** [[joinAsof]] through [[TemporalJoin.asOfSharded]] — identical
    * semantics held to the SAME DuckDB ASOF oracle, so the driver's
    * hash compare pins sharded/unsharded equivalence on real data (the
    * hot-key scale path must never drift from the canonical operator).
    * 6h shards: a user's clicks spread over many shards, exercising the
    * boundary carry on every purchase that follows a quiet period.
    */
  def joinAsofSharded(s: SparkSession, d: String): DataFrame =
    asofPipeline(s, d)((l, r) =>
      TemporalJoin.asOfSharded(l, r, key = "user_id", ts = "ms",
        payload = Seq("ms", "cents"), shardWidth = 6L * 3600000L))

  private def asofPipeline(s: SparkSession, d: String)(
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val base = eventsBase(s, d)
    val lefts = base.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ms"))
    val rights = base.filter(col("event_type") === "click")
      .groupBy("user_id", "ms")
      .agg(max_by(col("cents"), col("event_id")).as("cents"))
    join(lefts, rights)
      .select(col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"), col("ms"),
        coalesce(col("asof.ms"), lit(-1L)).as("asof_ms"),
        coalesce(col("asof.cents"), lit(0L)).as("asof_cents"))
      .orderBy("event_id")
  }

  /** Range join in the hard signal: purchases within ±1 hour of each
    * error event by the same user, counted and summed per error —
    * [[TemporalJoin.range]]'s bucketed equi-join plan (1-hour buckets,
    * so each 2-hour interval covers at most 3), checked against
    * DuckDB's inequality join.
    */
  def joinRange(s: SparkSession, d: String): DataFrame = {
    val base = eventsBase(s, d)
    val anchors = base.filter(col("event_type") === "error")
      .select(col("event_id").as("anchor_id"), col("user_id"),
        (col("ms") - 3600000L).as("lo"), (col("ms") + 3600000L).as("hi"))
    val points = base.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ms"), col("cents"))
    TemporalJoin.range(anchors, points, key = "user_id",
        lo = "lo", hi = "hi", t = "ms", bucketMs = 3600000L)
      .groupBy("anchor_id")
      .agg(count(lit(1)).cast("long").as("n_near"),
        sum(col("cents")).cast("long").as("near_cents"))
      .select(col("anchor_id").cast("long").as("anchor_id"),
        col("n_near"), col("near_cents"))
      .orderBy("anchor_id")
  }

  /** Stratified deterministic sampling: bottom-4 md5-priority sample of
    * doc ids PER SOURCE via the [[ReservoirSample]] aggregate under a
    * group-by — O(k) state per stratum, no per-group sort (the window
    * rank formulation would sort every stratum end-to-end; at 100 TB a
    * stratum is billions of rows and the aggregate's bottom-k heaps are
    * the only state that moves). Oracle-exact: the SQL twin recomputes
    * the same md5-derived priorities and ranks per source.
    */
  def sampleStratified(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .groupBy("source")
      .agg(ReservoirSample(col("doc_id"), 4, 7L).as("sample"))
      .select(col("source"), posexplode(col("sample")))
      .select(col("source"), col("pos").cast("int").as("pos"),
        col("col").cast("long").as("doc_id"))
      .orderBy("source", "pos")
  }

  /** Accuracy gate for the approximate aggregate sketches, the
    * `ann_recall` pattern applied to HLL and the quantile sketch:
    * `approx_count_distinct` (HLL++, rsd 2%) must land within 5% of the
    * exact distinct-user count, and the `percentile_approx` median's
    * exact rank must sit within 1% of the true middle. Both sketches
    * are deterministic (hash-based, no RNG), so a regression flips a
    * boolean and fails the hash compare. Two passes by construction:
    * the rank check needs the sketch's answer before it can scan.
    */
  def aggApproxGate(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val stats = ev.agg(
      countDistinct(col("user_id")).as("n_users"),
      approx_count_distinct(col("user_id"), rsd = 0.02).as("hll"),
      percentile_approx(col("value"), lit(0.5), lit(10000)).as("m"))
    ev.select(col("value")).crossJoin(broadcast(stats))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") <= col("m"), 1L).otherwise(0L)).as("n_le"),
        first(col("n_users")).as("n_users"), first(col("hll")).as("hll"))
      .select(col("n_users").cast("long").as("n_users"),
        (abs(col("hll") - col("n_users")) * 100 <= col("n_users") * 5)
          .as("hll_ok"),
        (abs(col("n_le") * 2 - col("n")) * 50 <= col("n"))
          .as("median_rank_ok"))
  }

  /** Per-group top-k: the 3 highest-spending users per event type
    * (row_number over a per-type window, cents-desc with user-id
    * tie-break). The driver's event-type strata are small; for strata
    * too large to sort, the [[sampleStratified]] bottom-k aggregate
    * shape is the scale path.
    */
  def eventsTopk(s: SparkSession, d: String): DataFrame = {
    val sums = eventsBase(s, d)
      .groupBy("event_type", "user_id")
      .agg(sum(col("cents")).cast("long").as("cents"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("cents").desc, col("user_id"))
    sums.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("event_type"), col("rank").cast("int").as("rank"),
        col("user_id").cast("long").as("user_id"), col("cents"))
      .orderBy("event_type", "rank")
  }

  /** Distribution profiling: a fixed-width histogram of lineitem
    * extended price ($5000 buckets over exact cents), count/sum/min/max
    * per bucket — one scan, one partial-then-final aggregate, k rows
    * out.
    */
  def profileHistogram(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(round(col("l_extendedprice") * 100).cast("long").as("cents"))
      // floor-division via exact long arithmetic (x - pmod(x, m) is an
      // exact multiple of m): matches DuckDB's flooring `//` on NEGATIVE
      // values too, where Spark's bare `div` truncates toward zero —
      // prices happen to be positive, but the bucket function shouldn't
      // depend on that
      .withColumn("bucket", call_function("div",
        col("cents") - pmod(col("cents"), lit(500000L)), lit(500000L)))
      .groupBy("bucket")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("cents")).cast("long").as("sum_cents"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
      .orderBy("bucket")

  /** Bucketed-layout join in the hard signal: orders and lineitem are
    * written bucketed+sorted on the order key ([[Layout.writeBucketed]],
    * 8 buckets), then joined and rolled up per customer. The join plans
    * with zero exchanges on either side (asserted in BucketingSpec; the
    * write-once shuffle is the point at 100 TB), and the result answers
    * to the plain SQL join — layout must never change semantics.
    */
  /** Catalog names and tmp path carry a per-JVM nonce: the session
    * catalog and java.io.tmpdir are process/box-global, so two
    * concurrent benches (or a bench racing a verify run) with fixed
    * names would clobber each other's table registrations mid-query.
    * Per-JVM (not per-call) so repeated reps in one process reuse the
    * same path instead of accumulating tmp directories.
    */
  private lazy val runNonce = f"${scala.util.Random.nextLong()}%016x"

  def layoutBucketedJoin(s: SparkSession, d: String): DataFrame = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_layout_" +
      java.lang.Integer.toHexString(d.hashCode) + s"_$runNonce"
    val o = Layout.writeBucketed(s,
      Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
      s"graft_ord_bucketed_$runNonce", s"$dir/ord", "o_orderkey", 8)
    val l = Layout.writeBucketed(s,
      Tables.lineitem(s, d).select(col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents")),
      s"graft_li_bucketed_$runNonce", s"$dir/li", "l_orderkey", 8)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).cast("long").as("n_items"),
        sum(col("cents")).cast("long").as("cents"))
      .select(col("o_custkey").cast("long").as("custkey"),
        col("n_items"), col("cents"))
      .orderBy("custkey")
  }

  val queries: Map[String, Q] = Map(
    "join_asof" -> joinAsof,
    "join_asof_sharded" -> joinAsofSharded,
    "join_range" -> joinRange,
    "sample_stratified" -> sampleStratified,
    "agg_approx_gate" -> aggApproxGate,
    "events_topk" -> eventsTopk,
    "profile_histogram" -> profileHistogram,
    "layout_bucketed_join" -> layoutBucketedJoin,
  )

  private val baseSql =
    """base AS (SELECT event_id, user_id, epoch_ms(ts) AS ms, event_type,
      |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)""".stripMargin

  private val asofSql =
    s"""WITH $baseSql,
       |r AS (SELECT user_id, ms, arg_max(cents, event_id) AS cents
       |      FROM base WHERE event_type = 'click' GROUP BY 1, 2),
       |l AS (SELECT event_id, user_id, ms FROM base WHERE event_type = 'purchase')
       |SELECT CAST(l.event_id AS BIGINT) AS event_id,
       |       CAST(l.user_id AS BIGINT) AS user_id, l.ms,
       |       coalesce(r.ms, -1) AS asof_ms,
       |       coalesce(r.cents, 0) AS asof_cents
       |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ms >= r.ms
       |ORDER BY event_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "join_asof" -> asofSql,
    // the sharded scale path answers the SAME oracle — equivalence is
    // part of the hard driver signal, not just a spec
    "join_asof_sharded" -> asofSql,
    "join_range" ->
      s"""WITH $baseSql,
         |a AS (SELECT event_id AS anchor_id, user_id, ms - 3600000 AS lo,
         |        ms + 3600000 AS hi FROM base WHERE event_type = 'error'),
         |p AS (SELECT user_id, ms, cents FROM base WHERE event_type = 'purchase')
         |SELECT CAST(anchor_id AS BIGINT) AS anchor_id,
         |       CAST(count(*) AS BIGINT) AS n_near,
         |       CAST(sum(cents) AS BIGINT) AS near_cents
         |FROM a JOIN p ON a.user_id = p.user_id AND p.ms BETWEEN a.lo AND a.hi
         |GROUP BY 1 ORDER BY anchor_id""".stripMargin,
    "sample_stratified" ->
      s"""WITH pri AS (SELECT source, CAST(doc_id AS BIGINT) AS v,
         |        md5(concat('7:', CAST(doc_id AS VARCHAR))) AS h FROM documents),
         |p AS (SELECT source, v, ${PipelineQueries.md5Priority60Sql} AS p FROM pri),
         |ranked AS (SELECT source, v,
         |  row_number() OVER (PARTITION BY source ORDER BY p, v) - 1 AS pos FROM p)
         |SELECT source, CAST(pos AS INTEGER) AS pos, v AS doc_id
         |FROM ranked WHERE pos < 4 ORDER BY source, pos""".stripMargin,
    "agg_approx_gate" ->
      """SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       TRUE AS hll_ok, TRUE AS median_rank_ok
        |FROM events""".stripMargin,
    "events_topk" ->
      s"""WITH $baseSql,
         |sums AS (SELECT event_type, user_id, CAST(sum(cents) AS BIGINT) AS cents
         |         FROM base GROUP BY 1, 2),
         |ranked AS (SELECT event_type, user_id, cents,
         |  row_number() OVER (PARTITION BY event_type
         |                     ORDER BY cents DESC, user_id) AS rank FROM sums)
         |SELECT event_type, CAST(rank AS INTEGER) AS rank,
         |       CAST(user_id AS BIGINT) AS user_id, cents
         |FROM ranked WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin,
    "profile_histogram" ->
      """WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |           FROM lineitem)
        |SELECT cents // 500000 AS bucket, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       min(cents) AS min_cents, max(cents) AS max_cents
        |FROM c GROUP BY 1 ORDER BY bucket""".stripMargin,
    "layout_bucketed_join" ->
      """SELECT CAST(o_custkey AS BIGINT) AS custkey,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY custkey""".stripMargin,
  )
}
