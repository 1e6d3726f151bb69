package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming counterparts of the batch event analytics
  * ([[graft.queries.PipelineQueries]] events_window / events_sessionize),
  * as Structured Streaming transforms over an events-shaped stream
  * `(user_id, event_id, event_type, ts, value)`.
  *
  * The reference engine has no streaming surface (SURVEY.md §2.7) — this
  * module is part of the beyond-parity pipeline layer: the same
  * aggregations a 100 TB batch pipeline runs must also run incrementally
  * on the live event feed. All operators here are incremental and
  * watermark-bounded: state is evicted once event time passes the
  * watermark, so long-running queries hold O(active windows/sessions)
  * state, never unbounded history.
  */
object EventStreams {

  /** Per-user tumbling-window aggregates with a watermark: event counts,
    * distinct-ish type counts (approx_count_distinct — exact distinct is
    * unsupported in streaming agg without complete mode), value cents.
    * Late events beyond `lateness` are dropped; closed windows are final.
    */
  def windowedStats(events: DataFrame, windowDur: String,
                    lateness: String): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(col("user_id"), window(col("ts"), windowDur).as("w"))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct("event_type").as("n_types"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .select(col("user_id"), col("w.start").as("w_start"),
        col("w.end").as("w_end"), col("n_events"), col("n_types"),
        col("cents"))

  /** Gap-based sessionization with the built-in session_window (gap-merged
    * event-time windows, watermark-evicted) — the declarative path.
    */
  def sessionStats(events: DataFrame, gap: String,
                   lateness: String): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("s"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("s.start").as("s_start"),
        col("s.end").as("s_end"), col("n_events"))

  /** Stream-stream event-time interval join — the attribution shape
    * (impression joined to the conversion that follows it within a
    * horizon): two live streams equi-join on `user_id` with the range
    * condition `l.ts <= r.ts <= l.ts + horizon`. Both sides carry
    * watermarks, and the range condition is what lets Spark bound the
    * join STATE on both sides (a left row can stop waiting once the
    * right watermark passes `l.ts + horizon`; an unconstrained
    * stream-stream join would buffer forever). Inner join: emits only
    * matched pairs, incrementally, as both watermarks advance.
    *
    * Scale shape: state is hash-partitioned on `user_id` like any
    * equi-join shuffle, and per-key state holds only the horizon's
    * worth of events per side — O(rate x horizon), never history. The
    * `lateness` watermark bounds disorder tolerance; `horizon` bounds
    * the business window. Columns are prefixed (`l_`/`r_`) because the
    * two sides share the events schema.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   horizon: String, lateness: String): DataFrame = {
    val l = left.withWatermark("ts", lateness)
      .select(col("user_id"), col("event_id").as("l_event_id"),
        col("event_type").as("l_type"), col("ts").as("l_ts"))
    val r = right.withWatermark("ts", lateness)
      .select(col("user_id").as("r_user_id"),
        col("event_id").as("r_event_id"),
        col("event_type").as("r_type"), col("ts").as("r_ts"))
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $horizon"))
      .select(col("user_id"), col("l_event_id"), col("r_event_id"),
        col("l_type"), col("r_type"), col("l_ts"), col("r_ts"))
  }

  /** LEFT OUTER form of [[intervalJoin]] — the other half of the
    * attribution question: clicks that saw NO purchase within the
    * horizon surface once with null right columns, but only after the
    * watermark proves the horizon empty (Spark emits the unmatched row
    * when the watermark passes `l_ts + horizon + lateness` — correct by
    * construction, late by that bound; state is the same O(rate ×
    * horizon) as the inner form, the outer-ness costs no extra state).
    * Both time bounds stay on the join condition — without them outer
    * state would be unbounded and Spark rejects the query.
    */
  def intervalJoinOuter(left: DataFrame, right: DataFrame,
                        horizon: String, lateness: String): DataFrame = {
    val l = left.withWatermark("ts", lateness)
      .select(col("user_id"), col("event_id").as("l_event_id"),
        col("event_type").as("l_type"), col("ts").as("l_ts"))
    val r = right.withWatermark("ts", lateness)
      .select(col("user_id").as("r_user_id"),
        col("event_id").as("r_event_id"),
        col("event_type").as("r_type"), col("ts").as("r_ts"))
    l.join(r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $horizon"),
      "left_outer")
      .select(col("user_id"), col("l_event_id"), col("r_event_id"),
        col("l_type"), col("r_type"), col("l_ts"), col("r_ts"))
  }

  final case class Event(user_id: Long, event_id: Long, event_type: String,
                         ts: Timestamp, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long)
  final case class Session(user_id: Long, s_start: Timestamp,
                           s_end: Timestamp, n_events: Long)

  /** Custom-state sessionization via flatMapGroupsWithState — the
    * imperative escape hatch for session semantics session_window cannot
    * express (e.g. emitting only on close, custom merge rules). Emits one
    * row per CLOSED session; open sessions close when no event arrives
    * within `gapMs` of event time (tracked via event-time timeout, so
    * state is bounded by the watermark exactly like the declarative path).
    */
  def sessionizeCustom(events: Dataset[Event], gapMs: Long,
                       lateness: String): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(uid, new Timestamp(s.start), new Timestamp(s.last), s.n))
          } else {
            // The session_window model, verbatim: every event is a point
            // interval, the open session (if any) an interval, and
            // sessions are the transitive gap-merge closure — sort by
            // start, fold intervals within gapMs of the running one.
            // This merges watermark-admitted stragglers with EACH OTHER
            // too (two old events within gapMs form ONE stale session,
            // not two singletons) and extends the open session backward
            // through a straggler chain, exactly as session_window would.
            val ivs = (state.getOption.toSeq ++
                it.map(e => SessionState(e.ts.getTime, e.ts.getTime, 1)))
              .sortBy(s => (s.start, s.last))
            // merge is STRICT (< gapMs): session_window's contract is
            // end-exclusive — a window spans [start, last + gap), so an
            // event at exactly last + gap starts a NEW session. A <=
            // here would disagree with the declarative sessionizer at
            // the exact-gap boundary and the two entries' shared oracle
            // would only hold by corpus luck.
            val merged = ivs.foldLeft(List.empty[SessionState]) {
              case (h :: t, iv) if iv.start - h.last < gapMs =>
                SessionState(h.start, math.max(h.last, iv.last), h.n + iv.n) :: t
              case (acc, iv) => iv :: acc
            } // reversed: head is the latest interval
            // all but the latest close now (append-mode emission is
            // final; a straggler in a LATER batch that lands within gap
            // of one starts its own session — only the open session can
            // still be extended); the latest stays open until its gap
            // times out, unless its gap already ended at or under the
            // watermark (an admitted straggler: Spark drops late rows
            // under the previous batch's watermark), which closes it
            // now — no later row can reach it, and a timeout under the
            // watermark is an error
            val open = merged.headOption
              .filter(_.last + gapMs > state.getCurrentWatermarkMs())
            open match {
              case Some(s) =>
                state.update(s)
                state.setTimeoutTimestamp(s.last + gapMs)
              case None => state.remove()
            }
            merged.drop(open.size).reverseIterator.map(s =>
              Session(uid, new Timestamp(s.start), new Timestamp(s.last), s.n))
          }
      }
  }
}
