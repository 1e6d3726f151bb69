package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** Structured Streaming operators driven through MemoryStream: windowed
  * aggregation with watermark, declarative session windows, and the
  * custom flatMapGroupsWithState sessionizer (incl. watermark-driven
  * session close).
  */
class StreamingSpec extends SparkSpec {

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  private def ev(uid: Long, id: Long, min: Long, typ: String = "click",
                 v: Double = 1.0): Event = Event(uid, id, typ, ts(min), v)

  test("windowedStats: tumbling windows close under the watermark") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.windowedStats(in.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("win")
      .outputMode("append").start()
    try {
      in.addData(ev(1, 1, 1), ev(1, 2, 3, "buy", 2.5), ev(2, 3, 4))
      q.processAllAvailable()
      // advance event time far enough to close the [0,10) window
      in.addData(ev(1, 4, 30))
      q.processAllAvailable()
      val rows = spark.table("win")
        .select("user_id", "n_events", "cents").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set((1L, 2L, 350L), (2L, 1L, 100L)))
    } finally q.stop()
  }

  test("sessionStats: gap-merged session windows") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.sessionStats(in.toDF(), "30 minutes", "1 minute")
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      // user 1: events at 0,10 (one session), then 60 (new session)
      in.addData(ev(1, 1, 0), ev(1, 2, 10), ev(1, 3, 60))
      q.processAllAvailable()
      in.addData(ev(1, 4, 300)) // push watermark, close both sessions
      q.processAllAvailable()
      val rows = spark.table("sess")
        .select("user_id", "n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((1L, 2L), (1L, 1L)))
    } finally q.stop()
  }

  test("DocStreams.dedupExact: fingerprint dedup, watermark-bounded state") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    case class Doc(doc_id: Long, text: String, ts: Timestamp)
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = graft.streaming.DocStreams.dedupExact(
        in.toDF().toDF("doc_id", "text", "ts"), lateness = "10 minutes")
      .writeStream.format("memory").queryName("docdedup")
      .outputMode("append").start()
    try {
      // doc 2 normalizes to doc 1's fingerprint (case + whitespace);
      // doc 3 is distinct
      in.addData((1L, "Hello  World", ts(1)), (2L, "hello world ", ts(2)),
        (3L, "other text", ts(3)))
      q.processAllAvailable()
      val first = spark.table("docdedup").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(first == Set(1L, 3L))
      // push the watermark far past minute 1 + 10m horizon -> fp state
      // evicted; the same content re-emits (cross-horizon dedup is the
      // batch layer's job, state stays bounded)
      in.addData((4L, "bump", ts(60)))
      q.processAllAvailable()
      in.addData((5L, "hello   world", ts(61)))
      q.processAllAvailable()
      val ids = spark.table("docdedup").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(ids == Set(1L, 3L, 4L, 5L), s"got $ids")
    } finally q.stop()
  }

  test("intervalJoin: attribution within the horizon, on both live streams") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val imps = MemoryStream[(Long, Long, String, Timestamp)]
    val clicks = MemoryStream[(Long, Long, String, Timestamp)]
    def shaped(s: MemoryStream[(Long, Long, String, Timestamp)]) =
      s.toDF().toDF("user_id", "event_id", "event_type", "ts")
    val q = EventStreams.intervalJoin(shaped(imps), shaped(clicks),
        horizon = "10 minutes", lateness = "5 minutes")
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      imps.addData((1L, 100L, "imp", ts(1)), (1L, 101L, "imp", ts(15)))
      clicks.addData(
        (1L, 200L, "click", ts(5)),   // 100 @1m..11m -> match
        (1L, 201L, "click", ts(20)),  // only 101 @15m..25m -> match
        (2L, 202L, "click", ts(5)))   // no impression for user 2
      q.processAllAvailable()
      val pairs = spark.table("attrib")
        .select("l_event_id", "r_event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((100L, 200L), (101L, 201L)), pairs.toString)
    } finally q.stop()
  }

  test("intervalJoinOuter: unmatched clicks surface once the horizon provably closes") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.intervalJoinOuter(
        in.toDF().filter(col("event_type") === "click" || col("user_id") < 0),
        in.toDF().filter(col("event_type") === "purchase" || col("user_id") < 0),
        horizon = "10 minutes", lateness = "5 minutes")
      .writeStream.format("memory").queryName("outerjoin")
      .outputMode("append").start()
    try {
      // user 1: click at min 1, purchase at min 5 (in horizon — matches);
      // user 2: click at min 2, never purchases
      in.addData(ev(1, 1, 1), ev(1, 2, 5, "purchase"), ev(2, 3, 2))
      q.processAllAvailable()
      // sentinel batches push the watermark far past every horizon —
      // the second batch is where Spark actually emits the null-padded
      // rows closed under the first batch's watermark
      in.addData(ev(-1, -9, 2000, "sentinel"))
      q.processAllAvailable()
      in.addData(ev(-1, -8, 4000, "sentinel"))
      q.processAllAvailable()
      val rows = spark.table("outerjoin")
        .filter(col("user_id") >= 0)
        .select("user_id", "l_event_id", "r_event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(rows == Set((1L, 1L, 2L), (2L, 3L, -1L)), s"got $rows")
    } finally q.stop()
  }

  test("DocStreams.dedupAgainstStore: store hits drop, stream dups collapse") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // static store: the fingerprints of two already-ingested texts
    val store = Seq("known one", "known two").toDF("text")
      .select(graft.pipeline.TextAnalysis.fingerprintExpr(col("text")).as("fp"))
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = graft.streaming.DocStreams.dedupAgainstStore(
        in.toDF().toDF("doc_id", "text", "ts"), store, lateness = "10 minutes")
      .writeStream.format("memory").queryName("storededup")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, "Known  One", ts(1)),   // store hit (normalized) -> dropped
        (2L, "fresh text", ts(2)),   // survives
        (3L, "fresh  TEXT", ts(3)),  // within-stream dup of 2 -> dropped
        (4L, "known two", ts(4)))    // store hit -> dropped
      q.processAllAvailable()
      val ids = spark.table("storededup").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(ids == Set(2L), s"got $ids")
      // a later batch with a store hit and a genuinely new doc
      in.addData((5L, "known one", ts(5)), (6L, "brand new", ts(6)))
      q.processAllAvailable()
      val ids2 = spark.table("storededup").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(ids2 == Set(2L, 6L), s"got $ids2")
    } finally q.stop()
  }

  test("DocStreams.qualityFilter: stateless ingest filter matches batch flags") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val good = "the quick brown fox jumps over the lazy dog and the cat"
    val short = "too short"                  // < 5 tokens -> dropped
    val pii = s"$good mail bob@example.com"  // keeps quality, carries PII
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = graft.streaming.DocStreams.qualityFilter(
        in.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("docquality")
      .outputMode("append").start()
    try {
      in.addData((1L, good, ts(1)), (2L, short, ts(2)), (3L, pii, ts(3)))
      q.processAllAvailable()
      val rows = spark.table("docquality")
        .select("doc_id", "lang_pred", "n_pii").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(rows.keySet == Set(1L, 3L))
      assert(rows(1L) == ("en", 0L))
      assert(rows(3L)._2 == 1L, "PII count rides along for redaction")
      // the stream evaluates the SAME expressions as the batch family:
      // flags agree row-for-row with TextAnalysis over the same data
      val batch = graft.pipeline.TextAnalysis.quality(
          Seq((1L, good), (2L, short), (3L, pii)).toDF("doc_id", "text"))
        .select("doc_id", "keep").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(batch == Map(1L -> 1, 2L -> 0, 3L -> 1))
      // a replay builds the transform on its own session, which must
      // resolve the registered language-ID function as well
      val replayed = graft.streaming.Replay.replay(spark,
          Seq(Seq((1L, good, ts(1)), (2L, short, ts(2)), (3L, pii, ts(3))))) {
          in => graft.streaming.DocStreams.qualityFilter(in.toDF("doc_id", "text", "ts"))
        }.select("doc_id", "lang_pred", "n_pii").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(replayed == rows)
    } finally q.stop()
  }

  test("DocStreams.chunkFlow: streaming chunks equal the batch chunker") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6", ts(1)),
      (2L, "a b", ts(2)),
      (3L, "   ", ts(3))) // blank emits nothing, streaming too
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = graft.streaming.DocStreams.chunkFlow(
        in.toDF().toDF("doc_id", "text", "ts"), width = 4, stride = 3)
      .writeStream.format("memory").queryName("docchunks")
      .outputMode("append").start()
    try {
      in.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("docchunks")
        .orderBy("doc_id", "chunk_id").collect().map(_.toSeq).toSeq
      val batch = graft.pipeline.TextAnalysis.tokenChunks(
          docs.map(d => (d._1, d._2)).toDF("doc_id", "text"),
          width = 4, stride = 3)
        .orderBy("doc_id", "chunk_id").collect().map(_.toSeq).toSeq
      assert(streamed == batch, "stream and batch chunkers must agree")
      assert(batch.nonEmpty && batch.length == 4)
    } finally q.stop()
  }

  test("sessionizeCustom: stale straggler is its own session, not merged") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.sessionizeCustom(in.toDS(), gapMs = 60000L,
        lateness = "30 minutes")
      .writeStream.format("memory").queryName("straggler")
      .outputMode("append").start()
    try {
      in.addData(ev(1, 1, 40)) // open session [40,40]
      q.processAllAvailable()
      // minute 20: watermark-admitted (wm=10) but 20 minutes BEFORE the
      // open session with gap 1m — must close as its own session, not
      // fold into [40,40]
      in.addData(ev(1, 2, 20))
      q.processAllAvailable()
      in.addData(ev(1, 3, 500)) // advance watermark, close [40,40]
      q.processAllAvailable()
      val rows = spark.table("straggler")
        .select("s_start", "s_end", "n_events").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000,
          r.getTimestamp(1).getTime / 60000, r.getLong(2))).toSet
      assert(rows.contains((20L, 20L, 1L)), s"straggler session: $rows")
      assert(rows.contains((40L, 40L, 1L)), s"unpolluted session: $rows")
    } finally q.stop()
  }

  test("sessionizeCustom: stragglers within gap merge into ONE stale session") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.sessionizeCustom(in.toDS(), gapMs = 10 * 60000L,
        lateness = "90 minutes")
      .writeStream.format("memory").queryName("stalemerge")
      .outputMode("append").start()
    try {
      in.addData(ev(1, 1, 100)) // open session [100,100]; wm -> 10
      q.processAllAvailable()
      // two watermark-admitted stragglers 5m apart (within the 10m gap),
      // both >10m before the open session: session_window semantics merge
      // them into ONE stale session [20,25], not two singletons
      in.addData(ev(1, 2, 20), ev(1, 3, 25))
      q.processAllAvailable()
      in.addData(ev(1, 4, 500)) // advance watermark, close [100,100]
      q.processAllAvailable()
      val rows = spark.table("stalemerge")
        .select("s_start", "s_end", "n_events").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000,
          r.getTimestamp(1).getTime / 60000, r.getLong(2))).toSet
      assert(rows.contains((20L, 25L, 2L)), s"merged stale session: $rows")
      assert(rows.contains((100L, 100L, 1L)), s"unpolluted session: $rows")
      assert(!rows.contains((20L, 20L, 1L)), s"singleton leak: $rows")
    } finally q.stop()
  }

  test("sessionizeCustom: event at EXACTLY last+gap starts a new session") {
    // session_window's end-exclusive contract: a window spans
    // [start, last + gap), so an exact-gap successor does NOT merge.
    // Pins the custom sessionizer to the same boundary convention the
    // declarative path and the shared DuckDB oracle use (>= gap breaks)
    // instead of relying on the corpus avoiding the boundary.
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.sessionizeCustom(in.toDS(), gapMs = 10 * 60000L,
        lateness = "30 minutes")
      .writeStream.format("memory").queryName("exactgap")
      .outputMode("append").start()
    try {
      // minutes 20 and 30: exactly gap apart, same batch
      in.addData(ev(1, 1, 20), ev(1, 2, 30))
      q.processAllAvailable()
      in.addData(ev(1, 3, 500)) // advance watermark, flush both
      q.processAllAvailable()
      val rows = spark.table("exactgap")
        .select("s_start", "s_end", "n_events").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000,
          r.getTimestamp(1).getTime / 60000, r.getLong(2))).toSet
      assert(rows.contains((20L, 20L, 1L)), s"first session splits: $rows")
      assert(rows.contains((30L, 30L, 1L)), s"second session splits: $rows")
      assert(!rows.contains((20L, 30L, 2L)), s"exact-gap merge leak: $rows")
    } finally q.stop()
  }

  test("sessionizeCustom: flatMapGroupsWithState closes sessions on gap") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.sessionizeCustom(in.toDS(), gapMs = 30 * 60000L,
        lateness = "1 minute")
      .writeStream.format("memory").queryName("custom")
      .outputMode("append").start()
    try {
      // rows at event time <= current watermark (0 at the first batch) are
      // filtered before reaching the state function -> start at minute 1
      in.addData(ev(1, 1, 1), ev(1, 2, 10), ev(2, 3, 5))
      q.processAllAvailable()
      // event at minute 100 for user 1: closes [1,10] (gap 30 exceeded) in
      // the batch; user 2's session closes via event-time timeout
      in.addData(ev(1, 4, 100))
      q.processAllAvailable()
      in.addData(ev(1, 5, 300)) // advance watermark far -> timeouts fire
      q.processAllAvailable()
      val rows = spark.table("custom")
        .select("user_id", "s_start", "s_end", "n_events").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000,
          r.getTimestamp(2).getTime / 60000, r.getLong(3))).toSet
      assert(rows.contains((1L, 1L, 10L, 2L)), s"user1 first session: $rows")
      assert(rows.contains((2L, 5L, 5L, 1L)), s"user2 timed-out session: $rows")
    } finally q.stop()
  }

  // quality-passing text: >=5 tokens, sane avg token length, mostly letters
  private val goodA = "the quick brown fox jumps over the lazy dog today"
  private val goodB = "a fine morning for reading long books about spark"
  private val goodC = "another perfectly ordinary document with enough words"

  test("corpusBatchSink: marker idempotence and store-probe admission") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("corpus-sink")
    val sink = graft.streaming.DocStreams.corpusBatchSink(dir)
    def prep(rows: Seq[(Long, String)]) =
      graft.streaming.DocStreams.qualityFilter(
          rows.map { case (id, t) => (id, t, ts(id)) }
            .toDF("doc_id", "text", "ts"))
        .withColumn("fp",
          graft.pipeline.TextAnalysis.fingerprintExpr(col("text")))
    def storedIds = spark.read.parquet(s"$dir/data")
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // gate reject (2) never reaches the sink; within-batch dup (3 of 1,
    // re-spaced) collapses to the lower id
    sink(prep(Seq(1L -> goodA, 2L -> "x", 3L -> s"  $goodA  ", 4L -> goodB)), 0L)
    assert(storedIds == Set(1L, 4L))
    // marker idempotence: the SAME batch id replayed is a no-op
    sink(prep(Seq(10L -> goodC)), 0L)
    assert(storedIds == Set(1L, 4L))
    // crash-window replay: a NEW batch id whose content was already
    // written (marker lost) — the store probe admits nothing old, only
    // the genuinely new document
    sink(prep(Seq(11L -> goodA, 12L -> goodC)), 1L)
    assert(storedIds == Set(1L, 4L, 12L))
  }

  test("corpusBatchSink: crash-window replays converge (batch-scoped overwrite)") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("corpus-sink-crash")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val sink = graft.streaming.DocStreams.corpusBatchSink(dir)
    def prep(rows: Seq[(Long, String)]) =
      graft.streaming.DocStreams.qualityFilter(
          rows.map { case (id, t) => (id, t, ts(id)) }
            .toDF("doc_id", "text", "ts"))
        .withColumn("fp",
          graft.pipeline.TextAnalysis.fingerprintExpr(col("text")))
    def state() = {
      val rows = spark.read.parquet(s"$dir/data")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val fps = spark.read.parquet(s"$dir/fp")
        .select(org.apache.spark.sql.functions.hex(col("fpb")))
        .collect().map(_.getString(0)).sorted.toSeq
      (rows, fps)
    }
    sink(prep(Seq(1L -> goodA, 2L -> goodB)), 0L)
    sink(prep(Seq(3L -> goodA, 4L -> goodC)), 1L)
    val committed = state()
    assert(committed._1 == Seq(1L, 2L, 4L))
    assert(committed._2.distinct.size == 3, "fp store holds one key per doc")

    // window 1: marker lost AFTER both writes — deterministic replay of
    // the same batch overwrites its own partitions with identical
    // content; nothing duplicates, nothing is lost
    fs.delete(p(s"$dir/_applied_1"), false)
    sink(prep(Seq(3L -> goodA, 4L -> goodC)), 1L)
    assert(state() == committed)

    // window 2: crash between the data write and the fp write — the fp
    // partition is missing; replay restores it and data stays exact
    fs.delete(p(s"$dir/_applied_1"), false)
    fs.delete(p(s"$dir/fp/batch_id=1"), true)
    sink(prep(Seq(3L -> goodA, 4L -> goodC)), 1L)
    assert(state() == committed)

    // window 3: crash before any write landed for the batch — plain redo
    fs.delete(p(s"$dir/_applied_1"), false)
    fs.delete(p(s"$dir/fp/batch_id=1"), true)
    fs.delete(p(s"$dir/data/batch_id=1"), true)
    sink(prep(Seq(3L -> goodA, 4L -> goodC)), 1L)
    assert(state() == committed)
  }

  test("corpusBatchSink: legacy flat corpus is refused; adoption migrates it") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("corpus-sink-legacy")
    val sink = graft.streaming.DocStreams.corpusBatchSink(dir)
    def prep(rows: Seq[(Long, String)]) =
      graft.streaming.DocStreams.qualityFilter(
          rows.map { case (id, t) => (id, t, ts(id)) }
            .toDF("doc_id", "text", "ts"))
        .withColumn("fp",
          graft.pipeline.TextAnalysis.fingerprintExpr(col("text")))
    // a pre-batch-layout corpus: flat <partCol>= dirs directly under
    // data/, no fp side table (the r14 sink's shape)
    prep(Seq(1L -> goodA, 2L -> goodB)).write
      .partitionBy("lang_pred").parquet(s"$dir/data")
    // the sink must refuse it loudly, not silently re-admit duplicates
    val err = intercept[IllegalStateException](
      sink(prep(Seq(3L -> goodC)), 0L))
    assert(err.getMessage.contains("adoptLegacyCorpus"))
    // adoption: legacy rows move under a reserved batch partition with
    // their fp twin built; the sink then runs and the probe REJECTS a
    // re-sent legacy document while admitting the new one
    graft.streaming.DocStreams.adoptLegacyCorpus(spark, dir)
    graft.streaming.DocStreams.adoptLegacyCorpus(spark, dir) // idempotent
    sink(prep(Seq(10L -> goodA, 11L -> goodC)), 0L)
    val all = spark.read.parquet(s"$dir/data")
    assert(all.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 11L))
    // uniform leaf depth: batch_id is a real partition column everywhere
    assert(all.select("batch_id").distinct().count() == 2)
  }

  test("compactFpStore: folds batch partitions, probe admissions unchanged") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("corpus-sink-compact")
    val sink = graft.streaming.DocStreams.corpusBatchSink(dir)
    def prep(rows: Seq[(Long, String)]) =
      graft.streaming.DocStreams.qualityFilter(
          rows.map { case (id, t) => (id, t, ts(id)) }
            .toDF("doc_id", "text", "ts"))
        .withColumn("fp",
          graft.pipeline.TextAnalysis.fingerprintExpr(col("text")))
    sink(prep(Seq(1L -> goodA)), 0L)
    sink(prep(Seq(2L -> goodB)), 1L)
    sink(prep(Seq(3L -> goodC)), 2L)
    graft.streaming.DocStreams.compactFpStore(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/fp"))
      .map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSeq
    assert(dirs == Seq("batch_id=-1"), s"got $dirs")
    // the folded store still vetoes duplicates and admits new content
    sink(prep(Seq(4L -> goodA, 5L -> (goodC + " again today maybe"))), 3L)
    val got = spark.read.parquet(s"$dir/data")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L, 5L), s"got $got")
    // a second DEFAULT compaction ladders: the consolidated generation
    // and the new batch partition are the same size tier (both a few
    // keys), so the size-ratio rule merges them into one new generation
    graft.streaming.DocStreams.compactFpStore(spark, dir)
    val laddered = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/fp"))
      .map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSet
    assert(laddered == Set("batch_id=-2"), s"got $laddered")
    // with ONE generation and nothing new, a further pass is a no-op
    graft.streaming.DocStreams.compactFpStore(spark, dir)
    val idem = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/fp"))
      .map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSet
    assert(idem == Set("batch_id=-2"), s"got $idem")
    val fps = spark.read.parquet(s"$dir/fp")
      .select("fpb").collect().map(_.getAs[Array[Byte]](0).toSeq).toSet
    assert(fps.size == 4)
  }

  test("compactCorpus: folds data batch partitions; content exact; crash re-run converges") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("corpus-data-compact")
    val sink = graft.streaming.DocStreams.corpusBatchSink(dir)
    def prep(rows: Seq[(Long, String)]) =
      graft.streaming.DocStreams.qualityFilter(
          rows.map { case (id, t) => (id, t, ts(id)) }
            .toDF("doc_id", "text", "ts"))
        .withColumn("fp",
          graft.pipeline.TextAnalysis.fingerprintExpr(col("text")))
    sink(prep(Seq(1L -> goodA)), 0L)
    sink(prep(Seq(2L -> goodB)), 1L)
    sink(prep(Seq(3L -> goodC)), 2L)
    def content() = spark.read.parquet(s"$dir/data")
      .select("doc_id", "fp", "lang_pred").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val before = content()
    graft.streaming.DocStreams.compactCorpus(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def batchDirs() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/data"))
      .map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSeq.sorted
    assert(batchDirs() == Seq("batch_id=-1"), batchDirs())
    assert(content() == before, "compaction must not change the corpus")
    // crash window: consolidated written, sources NOT deleted — model it
    // by re-adding a duplicate source partition, then re-running
    prep(Seq(1L -> goodA))
      .write.mode("overwrite").partitionBy("lang_pred")
      .parquet(s"$dir/data/batch_id=0")
    graft.streaming.DocStreams.compactCorpus(spark, dir)
    assert(batchDirs() == Seq("batch_id=-2"), batchDirs())
    assert(content() == before, "re-run converges to the deduped corpus")
    // the sink still admits correctly against the compacted corpus
    sink(prep(Seq(9L -> goodA, 10L -> (goodB + " fresh words appended"))), 3L)
    assert(content().map(_._1) == before.map(_._1) + 10L)
  }

  test("corpusBatchSink: admission equivalent to the batch-layer first-per-fp policy") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("corpus-sink-equiv")
    val sink = graft.streaming.DocStreams.corpusBatchSink(dir)
    def prep(rows: Seq[(Long, String)]) =
      graft.streaming.DocStreams.qualityFilter(
          rows.map { case (id, t) => (id, t, ts(id)) }
            .toDF("doc_id", "text", "ts"))
        .withColumn("fp",
          graft.pipeline.TextAnalysis.fingerprintExpr(col("text")))
    // overlapping batches, arrival order = batch order then doc_id
    val batches = Seq(
      Seq(5L -> goodA, 6L -> goodB),
      Seq(7L -> goodA, 8L -> goodC, 9L -> goodB),
      Seq(10L -> (goodA + " v2"), 11L -> goodC))
    batches.zipWithIndex.foreach { case (b, i) => sink(prep(b), i.toLong) }
    val got = spark.read.parquet(s"$dir/data")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // batch-layer equivalent: quality gate, then first doc_id per fp
    // over the concatenated arrival sequence
    val all = prep(batches.flatten)
      .select("doc_id", "fp").collect().map(r => (r.getLong(0), r.getString(1)))
    val want = all.groupBy(_._2).map(_._2.map(_._1).min).toSet
    assert(got == want, s"sink admitted $got, batch layer admits $want")
  }

  test("admissionJoin: all forced arms admit the identical set") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions.{md5, unhex}
    val dir = tmpDir("admission-arms")
    // a store of 500 keys, written in the sink's sorted layout
    (1 to 500).map(i => s"stored doc $i").toDF("text")
      .select(unhex(md5(col("text").cast("binary"))).as("fpb"))
      .coalesce(1).sortWithinPartitions("fpb")
      .write.parquet(s"$dir/fp/batch_id=0")
    // batch: three present in the store, two novel
    val batch = Seq(1L -> "stored doc 7", 2L -> "stored doc 8",
      3L -> "stored doc 9", 4L -> "novel doc a", 5L -> "novel doc b")
      .toDF("doc_id", "text")
      .withColumn("fp", md5(col("text").cast("binary")))
    def run(fpBytes: Long, conf: (String, String)*): (Set[Long], String) = {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val (df, arm) = graft.streaming.DocStreams.admissionJoin(
          batch, s"$dir/fp", 99L, fpBytes)
        (df.select("doc_id").collect().map(_.getLong(0)).toSet, arm)
      } finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val want = Set(4L, 5L)
    val big = Long.MaxValue / 2
    assert(run(0L) == (want, "broadcast_anti"))
    assert(run(big) == (want, "pushdown"))
    assert(run(big, "graft.sink.fpPushdownKeys" -> "0") == (want, "scan_semi"))
    // tiny chunks force the multi-chunk union path of the pushdown arm
    assert(run(big, "graft.sink.fpChunkKeys" -> "2") == (want, "pushdown"))
    // a batch above the per-wave bound runs as waves (3 waves of ≤2
    // keys here), hits collected per wave and anti-joined once
    assert(run(big, "graft.sink.fpPushdownKeys" -> "2") ==
      (want, "pushdown_waves"))
    // the decode-crossover gate: a store this small (estimated keys ≪
    // batch × page rows) makes one linear scan the cheaper probe, so
    // with the REAL store size the gate itself must pick scan_semi
    val realBytes = 500L * 16L
    assert(run(realBytes,
      "graft.sink.fpBroadcastBytes" -> "0") == (want, "scan_semi"))
    val (emptyDf, emptyArm) = graft.streaming.DocStreams.admissionJoin(
      batch.filter(col("doc_id") < 0L), s"$dir/fp", 99L, big)
    assert(emptyDf.count() == 0L && emptyArm == "empty_batch")
    // the probe must exclude the batch's OWN partition: re-probing with
    // the store's batch id sees no PRIOR keys, so everything is admitted
    val (own, _) = graft.streaming.DocStreams.admissionJoin(
      batch, s"$dir/fp", 0L, 0L)
    assert(own.count() == 5L)
  }

  test("admissionJoin pushdown: _ranges sidecar prunes chunk scans, results exact") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions.unhex
    val dir = tmpDir("admission-sidecar")
    // two raw partitions folded through compactFpStore = the shipped
    // write path: sorted range-partitioned files WITH the sidecar
    def fpbDf(hexes: Seq[String]) =
      hexes.toDF("h").select(unhex(col("h")).as("fpb"))
    val storeHexes = (0 until 64).map(i => f"40$i%02x" + "00" * 14)
    fpbDf(storeHexes.take(32)).write.parquet(s"$dir/fp/batch_id=0")
    fpbDf(storeHexes.drop(32)).write.parquet(s"$dir/fp/batch_id=1")
    graft.streaming.DocStreams.compactFpStore(spark, dir, nFiles = 4)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val consolidated = new org.apache.hadoop.fs.Path(s"$dir/fp/batch_id=-1")
    assert(fs.exists(new org.apache.hadoop.fs.Path(consolidated, "_ranges")),
      "compacted partition must carry its file-range sidecar")
    val sidecar = scala.io.Source.fromInputStream(
      fs.open(new org.apache.hadoop.fs.Path(consolidated, "_ranges")), "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    val (meta, ranges) = sidecar.partition(_.startsWith("#"))
    assert(ranges.size == 4 && ranges.forall(_.split("\t").length == 3),
      s"one range line per file: $sidecar")
    // the fold ladder's key count rides the same sidecar
    assert(meta == List("#rows\t64"), s"row-count line: $meta")
    // batch: two present, one novel in-range, one below and one above
    // every file's range
    val batch = Seq(
      1L -> storeHexes(3), 2L -> storeHexes(40),             // present
      3L -> ("4010" + "ff" * 14),                            // in-range novel
      4L -> ("00" + "00" * 15), 5L -> ("ff" + "ff" * 15))    // out of range
      .toDF("doc_id", "fp")
    def run(conf: (String, String)*): (Set[Long], String) = {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val (df, arm) = graft.streaming.DocStreams.admissionJoin(
          batch, s"$dir/fp", 99L, Long.MaxValue / 2)
        (df.select("doc_id").collect().map(_.getLong(0)).toSet, arm)
      } finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val want = Set(3L, 4L, 5L)
    // single-key chunks exercise per-chunk file pruning hardest
    assert(run("graft.sink.fpChunkKeys" -> "1") == (want, "pushdown"))
    assert(run() == (want, "pushdown"))
    // broadcast arm agrees (the pruning changed nothing)
    val (bIds, bArm) = {
      val (df, arm) = graft.streaming.DocStreams.admissionJoin(
        batch, s"$dir/fp", 99L, 0L)
      (df.select("doc_id").collect().map(_.getLong(0)).toSet, arm)
    }
    assert((bIds, bArm) == (want, "broadcast_anti"))
    // every batch key outside every file range: no scan has anything to
    // probe and everything is admitted
    val far = Seq(6L -> ("fe" + "ee" * 15), 7L -> ("01" + "11" * 15))
      .toDF("doc_id", "fp")
    val (fDf, fArm) = graft.streaming.DocStreams.admissionJoin(
      far, s"$dir/fp", 99L, Long.MaxValue / 2)
    assert(fArm == "pushdown" &&
      fDf.select("doc_id").collect().map(_.getLong(0)).toSet == Set(6L, 7L))
  }

  test("admissionJoin waves stay exact and driver-bounded over a grace-doubled store") {
    // during compactFpStore's grace window every folded key exists in
    // BOTH its source partition and the consolidated target; the waved
    // arm must (a) skip the pending-absorbed sources via the _folded_
    // manifest, (b) dedup any residual multi-file hits, and (c) admit
    // exactly the novel keys — same answer as the broadcast arm
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions.unhex
    val dir = tmpDir("admission-grace-waves")
    def fpbDf(hexes: Seq[String]) =
      hexes.toDF("h").select(unhex(col("h")).as("fpb"))
    val storeHexes = (0 until 40).map(i => f"60$i%02x" + "00" * 14)
    fpbDf(storeHexes.take(20)).write.parquet(s"$dir/fp/batch_id=0")
    fpbDf(storeHexes.drop(20)).write.parquet(s"$dir/fp/batch_id=1")
    // graced fold: store now TRANSIENTLY DOUBLED (sources + target)
    graft.streaming.DocStreams.compactFpStore(spark, dir, nFiles = 2,
      graceMs = 3600000L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/fp"))
      .map(_.getPath.getName).toSet
    assert(names == Set("batch_id=-1", "batch_id=0", "batch_id=1",
      "_folded_-1"), names)
    val batch = Seq(
      1L -> storeHexes(3), 2L -> storeHexes(25),          // present (doubled)
      3L -> ("6005" + "ff" * 14), 4L -> ("61" + "aa" * 15)) // novel
      .toDF("doc_id", "fp")
    def run(conf: (String, String)*): (Set[Long], String) = {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val (df, arm) = graft.streaming.DocStreams.admissionJoin(
          batch, s"$dir/fp", 99L, Long.MaxValue / 2)
        (df.select("doc_id").collect().map(_.getLong(0)).toSet, arm)
      } finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val want = Set(3L, 4L)
    // waved (wave bound 2 over 4 keys), single-key chunks — the
    // hardest pruning/dedup shape
    assert(run("graft.sink.fpPushdownKeys" -> "2",
      "graft.sink.fpChunkKeys" -> "1") == (want, "pushdown_waves"))
    // single-plan pushdown and broadcast agree
    assert(run() == (want, "pushdown"))
    val (bIds, bArm) = {
      val (df, arm) = graft.streaming.DocStreams.admissionJoin(
        batch, s"$dir/fp", 99L, 0L)
      (df.select("doc_id").collect().map(_.getLong(0)).toSet, arm)
    }
    assert((bIds, bArm) == (want, "broadcast_anti"))
  }

  test("corpusBatchSink: forced pushdown arm, exactly-once admission end-to-end") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("corpus-sink-pushdown")
    val sink = graft.streaming.DocStreams.corpusBatchSink(dir)
    def prep(rows: Seq[(Long, String)]) =
      graft.streaming.DocStreams.qualityFilter(
          rows.map { case (id, t) => (id, t, ts(id)) }
            .toDF("doc_id", "text", "ts"))
        .withColumn("fp",
          graft.pipeline.TextAnalysis.fingerprintExpr(col("text")))
    def storedIds = spark.read.parquet(s"$dir/data")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // any non-empty store exceeds 1 byte -> large-store path after
    // batch 0; the crossover gate is raised so the TINY test store
    // still picks point predicates over a linear scan
    spark.conf.set("graft.sink.fpBroadcastBytes", "1")
    spark.conf.set("graft.sink.fpCrossover", "1e12")
    try {
      sink(prep(Seq(1L -> goodA, 2L -> goodB)), 0L)
      // store duplicate vetoed via pushed point predicates; novel admitted
      sink(prep(Seq(3L -> goodA, 4L -> goodC)), 1L)
      assert(storedIds == Set(1L, 2L, 4L))
      // crash-window replay under the pushdown arm converges identically
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_applied_1"), false)
      sink(prep(Seq(3L -> goodA, 4L -> goodC)), 1L)
      assert(storedIds == Set(1L, 2L, 4L))
      // the inFilterThreshold the write ran under must be restored
      assert(spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold")
        != "1001")
    } finally {
      spark.conf.unset("graft.sink.fpBroadcastBytes")
      spark.conf.unset("graft.sink.fpCrossover")
    }
  }

  test("compactMarkers: contiguous markers fold into a watermark the sink honors") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("corpus-sink-markers")
    val sink = graft.streaming.DocStreams.corpusBatchSink(dir)
    def prep(rows: Seq[(Long, String)]) =
      graft.streaming.DocStreams.qualityFilter(
          rows.map { case (id, t) => (id, t, ts(id)) }
            .toDF("doc_id", "text", "ts"))
        .withColumn("fp",
          graft.pipeline.TextAnalysis.fingerprintExpr(col("text")))
    def storedIds = spark.read.parquet(s"$dir/data")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rootNames = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("_applied")).toSet
    sink(prep(Seq(1L -> goodA)), 0L)
    sink(prep(Seq(2L -> goodB)), 1L)
    sink(prep(Seq(3L -> goodC)), 2L)
    graft.streaming.DocStreams.compactMarkers(spark, dir)
    assert(rootNames == Set("_applied_hwm=2"), rootNames)
    // a replay of a folded batch is skipped via the watermark alone
    sink(prep(Seq(9L -> (goodA + " mutated replay must not apply"))), 1L)
    assert(storedIds == Set(1L, 2L, 3L))
    // new batches above the watermark still apply and fold forward
    sink(prep(Seq(4L -> (goodC + " with fresh appended words"))), 3L)
    assert(storedIds == Set(1L, 2L, 3L, 4L))
    graft.streaming.DocStreams.compactMarkers(spark, dir)
    assert(rootNames == Set("_applied_hwm=3"), rootNames)
    // a GAP stops the fold: markers beyond it stay individual files
    sink(prep(Seq(5L -> (goodB + " another genuinely new doc here"))), 6L)
    graft.streaming.DocStreams.compactMarkers(spark, dir)
    assert(rootNames == Set("_applied_hwm=3", "_applied_6"), rootNames)
    // idempotent when nothing folds
    graft.streaming.DocStreams.compactMarkers(spark, dir)
    assert(rootNames == Set("_applied_hwm=3", "_applied_6"), rootNames)
  }

  test("compactFpStore with grace: deletes deferred, probe unchanged, expiry completes") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("corpus-sink-grace")
    val sink = graft.streaming.DocStreams.corpusBatchSink(dir)
    def prep(rows: Seq[(Long, String)]) =
      graft.streaming.DocStreams.qualityFilter(
          rows.map { case (id, t) => (id, t, ts(id)) }
            .toDF("doc_id", "text", "ts"))
        .withColumn("fp",
          graft.pipeline.TextAnalysis.fingerprintExpr(col("text")))
    def storedIds = spark.read.parquet(s"$dir/data")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fpNames = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/fp"))
      .map(_.getPath.getName).toSet
    sink(prep(Seq(1L -> goodA)), 0L)
    sink(prep(Seq(2L -> goodB)), 1L)
    // graced fold: consolidated partition + manifest written, absorbed
    // partitions still present for in-flight probes
    graft.streaming.DocStreams.compactFpStore(spark, dir, graceMs = 3600000L)
    assert(fpNames == Set("batch_id=-1", "batch_id=0", "batch_id=1",
      "_folded_-1"), fpNames)
    // a probe against the transiently-doubled store still admits exactly
    sink(prep(Seq(3L -> goodA, 4L -> goodC)), 2L)
    assert(storedIds == Set(1L, 2L, 4L))
    // a second graced FULL fold skips pending-absorbed partitions: it
    // folds {-1, 2} (the live ones) under a fresh target
    graft.streaming.DocStreams.compactFpStore(spark, dir,
      graceMs = 3600000L, fullFoldAt = 1)
    assert(fpNames.contains("batch_id=-2") && fpNames.contains("_folded_-2"),
      fpNames)
    // grace expiry (a 0-grace pass models the later maintenance run):
    // all absorbed partitions and manifests clear; one consolidated
    // partition remains and the probe still vetoes duplicates
    graft.streaming.DocStreams.compactFpStore(spark, dir, graceMs = 0L)
    assert(fpNames == Set("batch_id=-2"), fpNames)
    sink(prep(Seq(5L -> goodB, 6L -> (goodC + " plus novel suffix words"))), 3L)
    assert(storedIds == Set(1L, 2L, 4L, 6L))
    val fps = spark.read.parquet(s"$dir/fp")
      .select("fpb").collect().map(_.getAs[Array[Byte]](0).toSeq).toSet
    assert(fps.size == 4, "one key per admitted doc after all folds")
  }

  test("fp fold ladder: dominant generation untouched, smaller tiers merge, full fold forced") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions.{md5, unhex}
    val dir = tmpDir("fp-ladder")
    def keysDf(lo: Int, hi: Int) = (lo until hi).map(i => s"k$i").toDF("text")
      .select(unhex(md5(col("text").cast("binary"))).as("fpb"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fpDirs() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/fp"))
      .map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSet
    def dirBytes(name: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/fp/$name"))
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    keysDf(0, 20000).write.parquet(s"$dir/fp/batch_id=0")
    keysDf(20000, 40000).write.parquet(s"$dir/fp/batch_id=1")
    graft.streaming.DocStreams.compactFpStore(spark, dir)
    assert(fpDirs() == Set("batch_id=-1"), fpDirs())
    val bigBytes = dirBytes("batch_id=-1")
    // two tiny new batches: the 40k-key generation is far above the
    // size-ratio bound, so the pass folds ONLY the tiny tier — the
    // returned fold bytes pin that the big generation was not rewritten
    keysDf(40000, 40010).write.parquet(s"$dir/fp/batch_id=2")
    keysDf(40010, 40020).write.parquet(s"$dir/fp/batch_id=3")
    val folded = graft.streaming.DocStreams.compactFpStore(spark, dir)
    assert(folded > 0L && folded < bigBytes,
      s"pass folded $folded bytes, big gen is $bigBytes")
    assert(fpDirs() == Set("batch_id=-1", "batch_id=-2"), fpDirs())
    // the next tiny tier merges with the previous small generation
    // (same tier), still never the dominant one
    keysDf(40020, 40030).write.parquet(s"$dir/fp/batch_id=4")
    keysDf(40030, 40040).write.parquet(s"$dir/fp/batch_id=5")
    val folded2 = graft.streaming.DocStreams.compactFpStore(spark, dir)
    assert(folded2 < bigBytes, s"pass folded $folded2 of $bigBytes")
    assert(fpDirs() == Set("batch_id=-1", "batch_id=-3"), fpDirs())
    // admission over the multi-generation store stays exact: one key in
    // each generation vetoed, the novel one admitted (pushdown arm)
    val batch = Seq(1L -> "k5", 2L -> "k40025", 3L -> "genuinely novel")
      .toDF("doc_id", "text")
      .withColumn("fp", md5(col("text").cast("binary")))
    val (df, arm) = graft.streaming.DocStreams.admissionJoin(
      batch, s"$dir/fp", 99L, Long.MaxValue / 2)
    assert(arm == "pushdown")
    assert(df.select("doc_id").collect().map(_.getLong(0)).toSet == Set(3L))
    // fullFoldAt stays available as the operator's force-everything hatch
    graft.streaming.DocStreams.compactFpStore(spark, dir, fullFoldAt = 1)
    assert(fpDirs() == Set("batch_id=-4"), fpDirs())
    assert(spark.read.parquet(s"$dir/fp").select("fpb").distinct().count()
      == 40040L)
  }

  test("offline consolidation converges distinct size tiers without fullFoldAt") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions.{md5, unhex}
    val dir = tmpDir("fp-offline-converge")
    def keysDf(lo: Int, hi: Int) = (lo until hi).map(i => s"t$i").toDF("text")
      .select(unhex(md5(col("text").cast("binary"))).as("fpb"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fpDirs() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/fp"))
      .map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSet
    // three already-folded generations in DISTINCT size tiers (each
    // >4x the last): every STCS bucket is a singleton, so no bucket
    // reaches even the relaxed pos-empty trigger — the r19 ADVICE
    // stall where repeated offline passes never converged the store
    keysDf(0, 500).coalesce(1).write.parquet(s"$dir/fp/batch_id=-1")
    keysDf(500, 5500).coalesce(1).write.parquet(s"$dir/fp/batch_id=-2")
    keysDf(5500, 55500).coalesce(1).write.parquet(s"$dir/fp/batch_id=-3")
    // pass 1: the two smallest tiers merge; the dominant one untouched
    val f1 = graft.streaming.DocStreams.compactFpStore(spark, dir)
    assert(f1 > 0L, "first offline pass folded nothing")
    assert(fpDirs() == Set("batch_id=-3", "batch_id=-4"), fpDirs())
    // pass 2: converged to ONE generation — no fullFoldAt hatch needed
    graft.streaming.DocStreams.compactFpStore(spark, dir)
    assert(fpDirs() == Set("batch_id=-5"), fpDirs())
    // a converged store is a no-op pass, not a rewrite loop
    assert(graft.streaming.DocStreams.compactFpStore(spark, dir) == 0L)
    assert(fpDirs() == Set("batch_id=-5"), fpDirs())
    assert(spark.read.parquet(s"$dir/fp").select("fpb").distinct().count()
      == 55500L)
  }

  test("compactFpStore crash windows: orphan consolidated partition and pending manifest both exact, both converge") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions.{md5, unhex}
    val dir = tmpDir("fp-crash-windows")
    def keysDf(lo: Int, hi: Int) = (lo until hi).map(i => s"c$i").toDF("text")
      .select(unhex(md5(col("text").cast("binary"))).as("fpb"))
    keysDf(0, 100).write.parquet(s"$dir/fp/batch_id=0")
    keysDf(100, 200).write.parquet(s"$dir/fp/batch_id=1")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fpNames() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/fp"))
      .map(_.getPath.getName).toSet
    val batch = Seq(1L -> "c7", 2L -> "c150", 3L -> "nowhere stored")
      .toDF("doc_id", "text")
      .withColumn("fp", md5(col("text").cast("binary")))
    def admitted(): Set[Long] = {
      val (df, _) = graft.streaming.DocStreams.admissionJoin(
        batch, s"$dir/fp", 99L, Long.MaxValue / 2)
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    // WINDOW B: crash between manifest write and the (graced) deletion —
    // the store holds sources + consolidated target + manifest
    graft.streaming.DocStreams.compactFpStore(spark, dir, graceMs = 3600000L)
    assert(fpNames() == Set("batch_id=-1", "batch_id=0", "batch_id=1",
      "_folded_-1"), fpNames())
    assert(admitted() == Set(3L), "admission through the pending-manifest window")
    // WINDOW A: crash between the consolidated write and the manifest
    // write — model by removing the manifest: an ORPHAN consolidated
    // partition now duplicates every key in its sources
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/fp/_folded_-1"), false)
    assert(admitted() == Set(3L), "admission through the orphan window")
    // CONVERGENCE, not just safety: a later fold absorbs the orphan and
    // its sources into one generation holding each key exactly once
    graft.streaming.DocStreams.compactFpStore(spark, dir)
    assert(fpNames() == Set("batch_id=-2"), fpNames())
    assert(spark.read.parquet(s"$dir/fp").select("fpb").count() == 200L)
    assert(admitted() == Set(3L), "admission after convergence")
  }

  test("torn _folded_ manifest (no terminator) reads as empty: probe still vetoes, expiry clears it") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions.{md5, unhex}
    val dir = tmpDir("fp-torn-manifest")
    def keysDf(lo: Int, hi: Int) = (lo until hi).map(i => s"t$i").toDF("text")
      .select(unhex(md5(col("text").cast("binary"))).as("fpb"))
    keysDf(0, 50).write.parquet(s"$dir/fp/batch_id=0")
    keysDf(50, 100).write.parquet(s"$dir/fp/batch_id=1")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a torn manifest: claims batch 1 absorbed, but the write died
    // before the terminator — a LIVE partition must not be skipped on
    // the strength of a torn read (the duplicate-admission race)
    val torn = fs.create(
      new org.apache.hadoop.fs.Path(s"$dir/fp/_folded_-9"), true)
    torn.write("1\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    torn.close()
    val batch = Seq(1L -> "t75", 2L -> "fresh content")
      .toDF("doc_id", "text")
      .withColumn("fp", md5(col("text").cast("binary")))
    val (df, arm) = graft.streaming.DocStreams.admissionJoin(
      batch, s"$dir/fp", 99L, Long.MaxValue / 2)
    assert(arm == "pushdown")
    assert(df.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L),
      "a key stored only in the torn manifest's claimed partition must be vetoed")
    // expiry: the torn remnant is cleared WITHOUT deleting its claimed
    // partitions; the same pass folds the (intact) store
    graft.streaming.DocStreams.compactFpStore(spark, dir, graceMs = 0L)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/fp"))
      .map(_.getPath.getName).toSet
    assert(names == Set("batch_id=-1"), names)
    assert(spark.read.parquet(s"$dir/fp").select("fpb").count() == 100L,
      "no key lost to the torn manifest")
  }

  test("stray non-numeric batch_id dir under fp/: maintenance folds everything else") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions.{md5, unhex}
    val dir = tmpDir("fp-stray-dir")
    def keysDf(lo: Int, hi: Int) = (lo until hi).map(i => s"s$i").toDF("text")
      .select(unhex(md5(col("text").cast("binary"))).as("fpb"))
    keysDf(0, 50).write.parquet(s"$dir/fp/batch_id=0")
    keysDf(50, 100).write.parquet(s"$dir/fp/batch_id=1")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the hwmOf failure class, now on the fp store: an editor backup
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/fp/batch_id=junk.bak"))
    // maintenance must fold the conforming partitions and skip the stray
    graft.streaming.DocStreams.compactFpStore(spark, dir)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/fp"))
      .map(_.getPath.getName).toSet
    assert(names == Set("batch_id=-1", "batch_id=junk.bak"), names)
    // and KEEP succeeding on later passes (the failure mode was a
    // throw in every pass until an operator hand-deleted the dir)
    graft.streaming.DocStreams.compactFpStore(spark, dir)
    val batch = Seq(1L -> "s10", 2L -> "never seen before")
      .toDF("doc_id", "text")
      .withColumn("fp", md5(col("text").cast("binary")))
    val (df, _) = graft.streaming.DocStreams.admissionJoin(
      batch, s"$dir/fp", 99L, Long.MaxValue / 2)
    assert(df.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("fp fold STCS: band bound does not cascade; a bucket merges only at fpFoldMin members") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions.{md5, unhex}
    val dir = tmpDir("fp-stcs")
    def keysDf(lo: Int, hi: Int) = (lo until hi).map(i => s"b$i").toDF("text")
      .select(unhex(md5(col("text").cast("binary"))).as("fpb"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fpDirs() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/fp"))
      .map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSet
    // NON-CASCADING band: pos ≈ 1k keys (band bound ratio×1k ≈ 4k), a
    // 3k-key generation (inside the band) and a 15k-key one (outside —
    // but INSIDE the cascading bound 4×(1k+3k) = 16k the r19 probe
    // caught rewriting the dominant generation every few passes)
    keysDf(0, 3000).coalesce(1).write.parquet(s"$dir/fp/batch_id=-1")
    keysDf(3000, 18000).coalesce(1).write.parquet(s"$dir/fp/batch_id=-2")
    keysDf(18000, 19000).coalesce(1).write.parquet(s"$dir/fp/batch_id=0")
    graft.streaming.DocStreams.compactFpStore(spark, dir)
    assert(fpDirs() == Set("batch_id=-2", "batch_id=-3"), fpDirs())
    // BUCKET TRIGGER: three similar-size generations far above the
    // band (30k keys each vs a 1k-key batch) must NOT merge — the
    // bucket is below fpFoldMin (4). The fourth member arriving is
    // what merges the tier, in the same pass.
    val dir2 = tmpDir("fp-stcs-bucket")
    def kDf(lo: Int, hi: Int) = (lo until hi).map(i => s"q$i").toDF("text")
      .select(unhex(md5(col("text").cast("binary"))).as("fpb"))
    def dirs2() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir2/fp"))
      .map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSet
    kDf(0, 30000).coalesce(1).write.parquet(s"$dir2/fp/batch_id=-1")
    kDf(30000, 60000).coalesce(1).write.parquet(s"$dir2/fp/batch_id=-2")
    kDf(60000, 90000).coalesce(1).write.parquet(s"$dir2/fp/batch_id=-3")
    kDf(90000, 90500).coalesce(1).write.parquet(s"$dir2/fp/batch_id=0")
    kDf(90500, 91000).coalesce(1).write.parquet(s"$dir2/fp/batch_id=1")
    graft.streaming.DocStreams.compactFpStore(spark, dir2)
    // pos folded alone; the 3-member bucket held its fire
    assert(dirs2() == Set("batch_id=-1", "batch_id=-2", "batch_id=-3",
      "batch_id=-4"), dirs2())
    // the 4th similar generation + fresh batches: the bucket merges
    // (the prior 1k pos-fold generation rides the new batches' band)
    kDf(91000, 121000).coalesce(1).write.parquet(s"$dir2/fp/batch_id=-5")
    kDf(121000, 121500).coalesce(1).write.parquet(s"$dir2/fp/batch_id=2")
    kDf(121500, 122000).coalesce(1).write.parquet(s"$dir2/fp/batch_id=3")
    graft.streaming.DocStreams.compactFpStore(spark, dir2)
    assert(dirs2() == Set("batch_id=-6"), dirs2())
    // nothing lost across the band folds and the bucket merge
    assert(spark.read.parquet(s"$dir2/fp").select("fpb").distinct().count()
      == 122000L)
  }

  test("chunkPredicate: a 1000-key chunk is an OR of ≤100-key In groups, and grouped admission stays exact") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions.{md5, unhex}
    // shape: parquet's filter visitors recurse per or() level, and the
    // 600M-store probe measured a single 1000-key In (left-deep
    // or(eq...) after translation) overflowing the default task stack —
    // the predicate must arrive as OR of bounded In groups
    val keys = (0 until 1000).map { i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
    }.toArray
    val pred = graft.streaming.DocStreams.chunkPredicate(keys, 100)
    val e = Seq(Array.empty[Byte]).toDF("fpb").filter(pred)
      .queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }.getOrElse(fail("no Filter in the analyzed plan"))
    def walk(ex: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[Int] = ex match {
      case org.apache.spark.sql.catalyst.expressions.Or(l, r) =>
        walk(l) ++ walk(r)
      case in: org.apache.spark.sql.catalyst.expressions.In =>
        Seq(in.list.size)
      case other => fail(s"unexpected node in chunk predicate: $other")
    }
    val inSizes = walk(e)
    assert(inSizes.forall(_ <= 100), s"an In group exceeds 100: $inSizes")
    assert(inSizes.sum == 1000, s"keys lost in grouping: $inSizes")
    assert(inSizes.size == 10)
    // BALANCED Or tree (r19 ADVICE): the visitors recurse once per
    // or() LEVEL, so depth must be O(log groups), not one level per
    // group — else a raised fpChunkKeys re-opens the overflow at the
    // group level (~2500 left-deep or() levels at 250k keys)
    def depth(ex: org.apache.spark.sql.catalyst.expressions.Expression)
        : Int = ex match {
      case org.apache.spark.sql.catalyst.expressions.Or(l, r) =>
        1 + math.max(depth(l), depth(r))
      case _ => 0
    }
    assert(depth(e) <= 4, s"Or tree not balanced: depth ${depth(e)}")
    // group size 1 -> 1000 groups: balanced depth ceil(log2(1000))=10;
    // a left-deep chain would be 999 deep
    val wide = graft.streaming.DocStreams.chunkPredicate(keys, 1)
    val we = Seq(Array.empty[Byte]).toDF("fpb").filter(wide)
      .queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }.getOrElse(fail("no Filter in the analyzed plan"))
    val wSizes = walk(we)
    assert(depth(we) <= 10, s"1000-group depth ${depth(we)}")
    assert(wSizes.sum == 1000 && wSizes.size == 1000, wSizes.take(5))
    // semantics under grouping, including a ragged tail (50 keys at
    // group 7 → groups of 7×7+1): admission identical to ungrouped
    val dir = tmpDir("fp-eq-groups")
    def keysDf(lo: Int, hi: Int) = (lo until hi).map(i => s"g$i").toDF("text")
      .select(unhex(md5(col("text").cast("binary"))).as("fpb"))
    keysDf(0, 2000).write.parquet(s"$dir/fp/batch_id=0")
    val batch = (0 until 50).map { i =>
      (i.toLong, if (i % 2 == 0) s"g${i * 40}" else s"novel text $i")
    }.toDF("doc_id", "text")
      .withColumn("fp", md5(col("text").cast("binary")))
    val expect = (0 until 50).filter(_ % 2 == 1).map(_.toLong).toSet
    spark.conf.set("graft.sink.fpEqChunkKeys", "7")
    try {
      val (df, arm) = graft.streaming.DocStreams.admissionJoin(
        batch, s"$dir/fp", 99L, Long.MaxValue / 2)
      assert(arm == "pushdown")
      assert(df.select("doc_id").collect().map(_.getLong(0)).toSet == expect)
    } finally spark.conf.unset("graft.sink.fpEqChunkKeys")
  }

  test("fp pushdown threshold rides the scan session: no parent conf bleed, point predicates still effective") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.functions.{md5, unhex, concat, lit,
      monotonically_increasing_id}
    val dir = tmpDir("fp-scan-session")
    val thresholdKey = "spark.sql.parquet.pushdown.inFilterThreshold"
    val before = spark.conf.get(thresholdKey)
    // a 200k-key store in the shipped layout (sorted, 50-row pages) via
    // compactFpStore — small pages so the decode assertion below has
    // real teeth at test scale
    spark.conf.set("graft.sink.fpPageRows", "50")
    try {
      def keysDf(lo: Int, hi: Int) = spark.range(lo, hi)
        .select(unhex(md5(col("id").cast("string"))).as("fpb"))
      keysDf(0, 100000).write.parquet(s"$dir/fp/batch_id=0")
      keysDf(100000, 200000).write.parquet(s"$dir/fp/batch_id=1")
      graft.streaming.DocStreams.compactFpStore(spark, dir, nFiles = 2)
      // batch: 500 stored keys spread across the key space + 10 novel —
      // an In pushed ABOVE the threshold is evaluated by parquet as one
      // min/max range over the whole set, which would decode ~the whole
      // store here; or(eq…) under the scan session's raised threshold
      // decodes at most batch keys x page rows
      val batch = spark.range(500)
        .select((col("id") * 400L).cast("string").as("t"))
        .union(spark.range(10).select(concat(lit("novel "),
          col("id").cast("string")).as("t")))
        .withColumn("doc_id", monotonically_increasing_id())
        .withColumn("fp", md5(col("t").cast("binary")))
      // AQE off for THIS plan only, so the executed join exposes its
      // scan leaves (and their decode metric) directly
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val (df, arm) = graft.streaming.DocStreams.admissionJoin(
        batch, s"$dir/fp", 99L, Long.MaxValue / 2)
      assert(arm == "pushdown")
      // execute WITHOUT any conf window — the raised threshold must
      // ride the scan relation itself
      val sel = df.select("doc_id")
      val admitted = sel.collect().length
      assert(admitted == 10, s"admitted $admitted of 10 novel docs")
      val decoded = sel.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("/fp/")) =>
          f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
      assert(decoded > 0L && decoded <= 500L * 50L * 2,
        s"point predicates lost their page pruning: decoded $decoded of 200000")
      // the parent session's conf was never touched — a concurrent
      // query planned mid-admission can never inherit the threshold
      assert(spark.conf.get(thresholdKey) == before,
        s"conf bled: ${spark.conf.get(thresholdKey)} != $before")
    } finally {
      spark.conf.unset("graft.sink.fpPageRows")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("sink maintenance cadence: root objects and fp partitions stay bounded over a long run") {
    val spark0 = spark
    import spark0.implicits._
    val dir = tmpDir("corpus-sink-maint")
    val sink = graft.streaming.DocStreams.corpusBatchSink(dir)
    def prep(rows: Seq[(Long, String)]) =
      graft.streaming.DocStreams.qualityFilter(
          rows.map { case (id, t) => (id, t, ts(id)) }
            .toDF("doc_id", "text", "ts"))
        .withColumn("fp",
          graft.pipeline.TextAnalysis.fingerprintExpr(col("text")))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // synchronous + zero grace for determinism: the production default
    // is async with a 15-min grace, same code path beyond the thread
    spark.conf.set("graft.sink.maintainEvery", "4")
    spark.conf.set("graft.sink.maintainAsync", "false")
    spark.conf.set("graft.sink.maintainGraceMs", "0")
    try {
      // every batch: one novel doc + one replay of batch 0's second doc
      for (b <- 0 until 16)
        sink(prep(Seq(
          (10L * b) -> (goodA + s" novel content revision $b"),
          (10L * b + 1) -> goodB)), b.toLong)
      // markers folded to the single watermark at the cadence point
      val rootNames = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.getName).filter(_.startsWith("_applied")).toSet
      assert(rootNames == Set("_applied_hwm=15"), rootNames)
      // fp store: every per-batch partition folded, and the size-ratio
      // ladder absorbed each prior generation (same size tier at this
      // scale) — ONE consolidated generation remains, never O(batches)
      val fpDirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/fp"))
        .map(_.getPath.getName).filter(_.startsWith("batch_id=")).toSet
      assert(fpDirs == Set("batch_id=-4"), fpDirs)
      // dedup across folds stayed exact: 16 novels + ONE goodB admission
      val got = spark.read.parquet(s"$dir/data")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == (0 until 16).map(10L * _).toSet + 1L, s"got $got")
    } finally {
      spark.conf.unset("graft.sink.maintainEvery")
      spark.conf.unset("graft.sink.maintainAsync")
      spark.conf.unset("graft.sink.maintainGraceMs")
    }
  }

  test("compactMarkers: 10^4 absorbed batches fold to one root object") {
    val dir = tmpDir("corpus-sink-markers-10k")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p)
    for (i <- 0 until 10000)
      fs.create(new org.apache.hadoop.fs.Path(p, s"_applied_$i"), true).close()
    graft.streaming.DocStreams.compactMarkers(spark, dir)
    val names = fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("_applied")).toSet
    assert(names == Set("_applied_hwm=9999"), s"got ${names.size} names")
  }

  test("DocStreams.toCorpus: gate -> dedup -> persisted corpus, end-to-end") {
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmpDir("corpus-e2e")
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = graft.streaming.DocStreams.toCorpus(
      in.toDF().toDF("doc_id", "text", "ts"),
      s"$dir/corpus", s"$dir/ckpt", lateness = "10 minutes")
    try {
      in.addData((1L, goodA, ts(1)), (2L, "x", ts(2)), (3L, goodB, ts(3)))
      q.processAllAvailable()
      // a re-fetch of 1 (dies in dedup state) and an edit (admitted)
      in.addData((4L, goodA, ts(4)), (5L, goodB + " v2", ts(5)))
      q.processAllAvailable()
      val rows = spark.read.parquet(s"$dir/corpus/data")
        .select("doc_id", "lang_pred").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows.map(_._1) == Set(1L, 3L, 5L), s"got $rows")
      // the partition column survived the sink round-trip
      assert(rows.forall(_._2 == "en"), s"got $rows")
    } finally q.stop()
  }

  test("Replay: accumulated output is no-data-microbatch independent") {
    // Replay disables no-data micro-batches (pure per-batch overhead in
    // a bounded replay); the flush-sentinel contract means the
    // accumulated append output must be IDENTICAL either way. Pin it on
    // a watermarked closed-window operator — the op family whose
    // emission timing no-data batches exist to advance.
    val spark0 = spark
    import spark0.implicits._
    val batches = Seq(
      Seq(ev(1, 1, 1), ev(1, 2, 3, "buy", 2.5), ev(2, 3, 4)),
      Seq(ev(1, 4, 25), ev(2, 5, 31)),
      // two sentinel batches: sentinel-1 advances the watermark past
      // every real window, sentinel-2's batch runs under it and flushes
      Seq(ev(-1, -1, 10000)),
      Seq(ev(-1, -2, 20000)))
    def run(noDataBatches: Boolean): Set[(Long, Long, Long, Long)] =
      graft.streaming.Replay.replay(spark, batches, noDataBatches) { in =>
        EventStreams.windowedStats(in, "10 minutes", "5 minutes")
      }.filter(col("user_id") >= 0)
        .select("user_id", "w_start", "n_events", "cents").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
          r.getLong(2), r.getLong(3))).toSet
    val lean = run(noDataBatches = false)
    val live = run(noDataBatches = true)
    assert(lean == live, s"no-data-batch setting changed the output: " +
      s"lean=$lean live=$live")
    assert(lean.nonEmpty && lean.map(_._1) == Set(1L, 2L), s"got $lean")
  }

  test("Replay: replay-scale conf rides a reused replay session, never the caller's") {
    val spark0 = spark
    import spark0.implicits._
    val pKey = "spark.sql.shuffle.partitions"
    val rKey = "spark.sql.streaming.minBatchesToRetain"
    val nKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val gKey = "graft.test.mirrored"
    def conf(s: org.apache.spark.sql.SparkSession): Seq[Option[String]] =
      Seq(pKey, rKey, nKey, gKey).map(s.conf.getOption)
    spark.conf.set(gKey, "on")
    try {
      val before = spark.conf.getAll
      var callerAtStart = Map.empty[String, String]
      var replayAtStart = Seq.empty[Option[String]]
      def replayed(): org.apache.spark.sql.DataFrame =
        graft.streaming.Replay.replay(spark, Seq(Seq(1L, 2L), Seq(3L))) { in =>
          callerAtStart = spark.conf.getAll
          replayAtStart = conf(in.sparkSession)
          in
        }
      val out = replayed()
      assert(out.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      // a query another thread plans on the caller mid-start sees none
      // of the replay's keys
      assert(callerAtStart == before, "caller conf changed while the stream started: " +
        (callerAtStart.toSet diff before.toSet))
      // the stream's own session: the three replay keys plus the
      // caller's graft.* key, which foreachBatch sinks read
      assert(replayAtStart == Seq(Some("2"), Some("1"), Some("false"), Some("on")),
        s"replay session conf at query start: $replayAtStart")
      assert(spark.conf.getAll == before)

      val boom = intercept[IllegalStateException] {
        graft.streaming.Replay.replayTo(spark, Seq(Seq(1L))) { _ =>
          throw new IllegalStateException("start failed")
        }
      }
      assert(boom.getMessage == "start failed")
      assert(spark.conf.getAll == before, "caller conf changed by a failed start")
      // one reused replay session per caller: a fresh session per replay
      // would leak a streaming listener per replay
      assert(replayed().sparkSession eq out.sparkSession)
      assert(!(out.sparkSession eq spark))
    } finally spark.conf.unset(gKey)
  }
}
