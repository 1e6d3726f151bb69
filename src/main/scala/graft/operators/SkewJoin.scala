package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys.
  *
  * A shuffle join hashes rows to partitions by key; one hot key (a viral
  * document id, a null-ish default, a stop-phrase shingle) lands its
  * entire M x N blowup on one task. AQE's skew-join split handles
  * moderate skew at runtime; this utility is the explicit salting form
  * for pipelines that KNOW their hot keys — deterministic, planner-
  * independent, and usable under any join type:
  *
  *  - the large (skewed) side gets a salt in [0, buckets) derived from a
  *    deterministic hash of its other columns;
  *  - the small side is replicated `buckets` times (explode over the salt
  *    range);
  *  - the join key becomes (key, salt), spreading each hot key over
  *    `buckets` tasks. Result multiset is identical to the unsalted join.
  *
  * Cost model: small side inflates by `buckets`; use for joins where the
  * small side is modest but too big (or too skew-correlated) to
  * broadcast outright.
  */
object SkewJoin {

  /** Session knob (Spark SQL conf): when set to an int > 1, the engine's
    * join keywords route through [[saltedInnerJoin]] with that many salt
    * buckets (treejoin excepted — a broadcast probe has no shuffle to
    * skew); when set to `auto`, the sampled heavy-hitter pre-pass
    * ([[detectHotKey]]) decides per join. Read at plan-build time; same
    * result multiset either way.
    */
  val BucketsKey = "graft.join.saltBuckets"

  /** Bucket count `auto` mode salts with when it finds a hot key. One
    * fixed count (not derived from the measured share) keeps auto's plan
    * identical to the manual knob at the same value, so the two modes
    * are mutually auditable.
    */
  val AutoBuckets = 8

  /** A key is hot when it holds at least this share of the sampled
    * rows. 0.1 sits far above uniform-key shares (1/|keys|) and far
    * below the 50%-on-one-key corpora where the salt measurably wins
    * (SCALE.md "Skew") — sampling noise at either end cannot cross it.
    */
  val AutoHotShare = 0.1

  /** Resolve the salt bucket count for a join's large side: an integer
    * knob is explicit manual salting, `auto` runs [[detectHotKey]] on
    * `key` and salts (with [[AutoBuckets]] buckets) only when a heavy
    * hitter is actually present — so uniform-key joins
    * keep the plain hash-join plan and never pay the small-side
    * replication.
    */
  def resolveBuckets(large: DataFrame, key: String): Int = {
    val conf = large.sparkSession.conf
    conf.get(BucketsKey, "0") match {
      case "auto" => if (detectHotKey(large, key)) AutoBuckets else 0
      case raw => raw.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"$BucketsKey must be an integer or 'auto', got '$raw'"))
    }
  }

  /** Sampled heavy-hitter pre-pass: does any single `key` value hold at
    * least `threshold` of the rows? One narrow aggregate over a
    * deterministic Bernoulli sample of the KEY COLUMN only (column
    * pruning reaches the scan, so at 100 TB this reads `fraction` of
    * one column, not of the table), run at plan-build time — the same
    * cost class as AQE's runtime statistics, but it sees KEY frequency,
    * which input-size heuristics cannot (the hot key's M×N blowup is at
    * join OUTPUT; see SCALE.md "Skew"). Deterministic seed:
    * the same corpus always makes the same salt decision.
    */
  def detectHotKey(large: DataFrame, key: String,
                   fraction: Double = 0.01,
                   threshold: Double = AutoHotShare): Boolean = {
    val r = large.select(col(key).as("k")).sample(fraction, 42L)
      .groupBy("k").agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L)).as("mx"),
        coalesce(sum(col("c")), lit(0L)).as("n")).head()
    val (mx, n) = (r.getLong(0), r.getLong(1))
    n > 0 && mx.toDouble / n >= threshold
  }

  /** Inner equi-join of `large` and `small` on `key`, salted into
    * `buckets` sub-keys. Column sets must be disjoint apart from `key`.
    *
    * Salt choice: `rand(seed)` rather than a content hash — hot keys in
    * the wild are usually hot with IDENTICAL rows (a default value, a
    * crawl dup), which any deterministic row function would send to one
    * bucket, silently restoring the skew. rand(seed) is seeded per
    * partition, so it is reproducible for a fixed partitioning and
    * always spreads; for an inner join every salt assignment yields the
    * same result multiset, so task retries stay correct.
    */
  def saltedInnerJoin(large: DataFrame, small: DataFrame, key: String,
                      buckets: Int, seed: Long = 42L): DataFrame = {
    require(buckets > 0)
    val salted = large.withColumn("_salt",
      floor(rand(seed) * buckets).cast("long"))
    val replicated = small.withColumn("_salt",
      explode(sequence(lit(0L), lit(buckets - 1L))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }
}
