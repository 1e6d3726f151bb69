package graft

import org.apache.spark.sql.SparkSession

/** The engine's standard SparkSession configuration, defined ONCE and
  * shared by every entry point that builds a session (Bench, Verify, the
  * CLI, the TCP server main, the plan auditor). Exists so a planner knob
  * can never be harness-scoped by accident: round 21 set the shuffled-
  * hash-join knobs in the bench session only, which meant the oracle
  * (Verify) kept verifying sort-merge plans while the bench timed
  * shuffled-hash ones. Anything configured here is exercised by the
  * driver's correctness run and the bench alike.
  */
object GraftSession {

  /** Standard builder: callers pass their master / shuffle-partition
    * sizing (scale-dependent by design — local defaults here, cluster
    * values via the caller's env) and may stack caller-specific configs
    * on top of the returned builder.
    *
    * The two join-strategy knobs (guide §3.1): `preferSortMergeJoin=
    * false` lets the static planner pick shuffled-hash join when its
    * size conditions hold (skips two sorts) — NOTE this path gates on
    * ESTIMATED plan stats (autoBroadcastJoinThreshold x shuffle
    * partitions), so a bad underestimate can still build an oversized
    * hash map; the AQE `maxShuffledHashJoinLocalMapThreshold=128m`
    * rewrite is the one that decides from MEASURED per-partition build
    * sizes and is scale-safe by construction. Hinted joins are untouched
    * (DynamicJoinSelection adds its hint only where the user set none),
    * so the four join keywords keep their declared algorithms. Setting
    * `preferSortMergeJoin=true` and a local-map threshold of 0 gives the
    * pre-r21 planner back.
    */
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); surface as long nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** [[builder]] for the CLI and server mains, sized by `GRAFT_MASTER`,
    * `GRAFT_SHUFFLE_PARTITIONS` and `GRAFT_MAX_RESULT_SIZE` (results
    * stream partition-at-a-time, so that cap covers one partition).
    */
  def fromEnv(appName: String): SparkSession = {
    val spark = builder(
        sys.env.getOrElse("GRAFT_MASTER", "local[*]"),
        sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", "32"))
      .appName(appName)
      .config("spark.driver.maxResultSize",
        sys.env.getOrElse("GRAFT_MAX_RESULT_SIZE", "1g"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val children = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.Map[Map[String, String], SparkSession]]()

  /** The one way to run work under conf that differs from the caller's:
    * a `newSession()` child whose runtime conf is the caller's set keys
    * plus `overrides`; the caller's conf is never written. One child per
    * `(caller, overrides)`, held weakly by the caller and reused, since
    * a session that starts a stream adds a listener to the context's bus
    * that is never removed (five streams on five fresh sessions: 5 → 10
    * listeners). Each call mirrors the caller's differing and removed
    * keys onto the child (shared keys, static ones included, are left
    * alone): sinks read `graft.sink.*` from their batch's session.
    */
  def scoped(spark: SparkSession, overrides: Map[String, String]): SparkSession =
    children.synchronized {
      val child = children
        .computeIfAbsent(spark, _ => scala.collection.mutable.Map.empty)
        .getOrElseUpdate(overrides, spark.newSession())
      val want = spark.conf.getAll ++ overrides
      val have = child.conf.getAll
      want.foreach { case (k, v) => if (!have.get(k).contains(v)) child.conf.set(k, v) }
      have.keys.foreach(k => if (!want.contains(k)) child.conf.unset(k))
      child
    }
}
