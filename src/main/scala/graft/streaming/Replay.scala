package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Bounded micro-batch replay — the correctness seam for the streaming
  * layer. A production deployment binds the [[DocStreams]] /
  * [[EventStreams]] transforms to live `readStream` sources; replay
  * drives the SAME transform with a finite, explicitly-ordered sequence
  * of micro-batches from the driver's parquet corpus and returns the
  * accumulated append-mode output as a batch DataFrame, so a DuckDB
  * batch query can replay the semantics exactly (the `stream_*` entries
  * in [[graft.SparkEntry.oracleSql]]).
  *
  * The feed data crosses the driver by construction — that is the
  * point, not a leak: a replay harness must own the batch boundaries to
  * make the stateful semantics deterministic (which rows share a
  * micro-batch decides what the state store sees together), and the
  * corpora it replays are the verify-scale tables (1e4–1e5 rows). The
  * production path never collects: it is the transform under test, not
  * this feeder. Same division as a golden-file test harness.
  */
object Replay {

  /** Source-side parallelism for the replayed feed. A MemoryStream
    * micro-batch arrives as ONE partition, so everything upstream of
    * the first shuffle — exactly the compute-heavy stateless stages
    * (quality regexes, langid, fingerprints) — would run on a single
    * core, which a live multi-partition source (Kafka, files) never
    * does. Repartitioning the feed is therefore FEEDER fidelity, not a
    * semantic change: row-to-micro-batch assignment is untouched, and
    * every transform under test is intra-batch-order independent
    * (stateful ops shuffle by key; sessionizeCustom sorts its group).
    * Measured 3.2 -> 1.4 s on the quality gate feed (SCALE.md,
    * stream-subtotal accounting).
    */
  private val FeedPartitions = 8

  /** Feed `batches` through a MemoryStream in order — one micro-batch
    * per element, fully processed before the next is admitted (so event
    * time and watermarks advance exactly as the caller laid the chunks
    * out) — run `transform`'s streaming query to completion, and return
    * everything the append-mode sink saw, as a DataFrame on [[session]].
    */
  def replay[A: Encoder](spark: SparkSession, batches: Seq[Seq[A]],
                         noDataBatches: Boolean = false)(
      transform: DataFrame => DataFrame): DataFrame = {
    val name = "replay_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    replayTo(spark, batches, noDataBatches)(in => transform(in).writeStream
      .format("memory").queryName(name).outputMode("append").start())
    session(spark, noDataBatches).table(name)
  }

  /** [[replay]] for SINK-side transforms (foreachBatch maintenance like
    * [[VectorIngest]]): feed `batches` through a MemoryStream in order,
    * each fully processed before the next is admitted, with the caller
    * starting the query from the streamed DataFrame (so the caller owns
    * sink, checkpoint, and options). Returns after the last batch is
    * processed and the query stopped; the observable result is whatever
    * the sink wrote (e.g. the persisted index). The stream runs on
    * [[session]].
    */
  def replayTo[A: Encoder](spark: SparkSession, batches: Seq[Seq[A]],
                           noDataBatches: Boolean = false)(
      start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      session(spark, noDataBatches).sqlContext
    val in = MemoryStream[A]
    val q = start(in.toDF().repartition(FeedPartitions))
    try {
      batches.filter(_.nonEmpty).foreach { b =>
        in.addData(b)
        q.processAllAvailable()
      }
    } finally q.stop()
  }

  /** `spark` scoped to the three replay-scale keys below.
    *
    * The shuffle-partition count is frozen into the checkpoint at query
    * start and sizes the STATE STORE: every micro-batch maintains
    * (partitions x stores-per-operator) state files regardless of how
    * little state each holds. At replay scale (1e4-1e5 rows) the batch
    * session's 32 partitions are pure per-batch overhead — a
    * stream-stream join carries 4 stores, so 32 partitions cost ~128
    * file maintenances per micro-batch. 2 partitions keep the same
    * semantics (state is hash-partitioned either way, and 2 still
    * exercises multi-partition state) at a fraction of the fixed cost;
    * a production deployment sizes this to its executor count, exactly
    * like batch shuffle partitions.
    *
    * A bounded replay never restarts from its throwaway checkpoint —
    * retaining the default 100 batches of state files is pure write
    * amplification here, so one is kept.
    *
    * No-data micro-batches exist for EAGER emission/eviction on a live
    * stream (emit a closed window without waiting for the next data
    * batch). A bounded replay's accumulated output SET is no-data-batch
    * independent by construction: every feed that needs a flush ends
    * with sentinel batches, and batch N runs under the watermark from
    * batch N-1, so everything a no-data batch would emit is emitted by
    * the next DATA batch instead — but each no-data batch costs a full
    * plan + state commit cycle, up to doubling the per-entry batch
    * count. It also makes foreachBatch sinks' batch ids the dense
    * data-batch sequence 0..n-1 regardless of upstream watermarks.
    * `noDataBatches = true` restores the live-stream behavior for
    * latency-characterization harnesses.
    */
  private def session(spark: SparkSession, noDataBatches: Boolean): SparkSession =
    graft.GraftSession.scoped(spark, Map(
      "spark.sql.shuffle.partitions" -> "2",
      "spark.sql.streaming.minBatchesToRetain" -> "1",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatches.toString))

  /** Split `rows` into `n` contiguous micro-batches preserving order. */
  def chunks[A](rows: Seq[A], n: Int): Seq[Seq[A]] = {
    require(n >= 1, s"chunk count must be positive, got $n")
    if (rows.isEmpty) Seq.empty
    else rows.grouped(math.max(1, (rows.size + n - 1) / n)).toSeq
  }
}
