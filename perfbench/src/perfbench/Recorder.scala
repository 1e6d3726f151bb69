package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Everything one run measures, kept in memory and written once at the
  * end as `raw.json` (and, traced, `spans.jsonl`). The harness records raw
  * samples only; every statistic (percentiles, failure share, idle time,
  * skew) is computed by `perfbench/stats.py`, where it is unit-tested.
  */
final class Recorder(val workload: String, val seed: Long, val traced: Boolean) {
  import Recorder.Json
  final case class Sample(cls: String, ms: Double)
  final case class Span(id: String, parent: String, name: String,
                        startMs: Double, endMs: Double)

  val setupS = mutable.ArrayBuffer.empty[Double]
  val samples = mutable.ArrayBuffer.empty[Sample]
  val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L
  /** Timed-window bounds, ms since [[epoch0]] (the clock Spark's events use). */
  var windowStartMs = 0.0
  var windowEndMs = 0.0
  /** CPU time of the whole JVM over the timed window. */
  var windowCpuMs = 0.0
  var storeBytes = 0L
  var userBytes = 0L
  val counters = mutable.LinkedHashMap.empty[String, Double]
  /** Per-entry or per-class lists, e.g. ms of each traced op. */
  val lists = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** [start, end] of every Spark job, ms since [[epoch0]], for idle time. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  /** Task durations of each completed stage, for the skew ratio. */
  val stageTasks = mutable.ArrayBuffer.empty[Seq[Double]]
  val spans = mutable.ArrayBuffer.empty[Span]
  /** (entry, rows, order-independent hash) of each checked output. */
  val fingerprints = mutable.ArrayBuffer.empty[(String, Long, String)]

  val t0: Long = System.nanoTime()
  val epoch0: Long = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - t0) / 1e6

  def attempt(ok: Boolean): Unit = synchronized {
    attempted += 1; if (!ok) failed += 1
  }

  /** A failed op, in a form that reproduces it from the log tail. */
  def fail(client: String, op: String, detail: String): Unit = synchronized {
    failures += s"FAILED workload=$workload seed=$seed client=$client op=$op :: $detail"
  }

  def fail(client: String, op: String, e: Throwable): Unit =
    fail(client, op, s"${e.getClass.getName}: ${e.getMessage}")

  /** Set while a traced run's untraced window runs: its samples are kept
    * apart, as the tracing overhead's baseline, and counters stay still.
    */
  @volatile var baseline = false
  val baselineSamples = mutable.ArrayBuffer.empty[Sample]

  def sample(cls: String, ms: Double): Unit = synchronized {
    (if (baseline) baselineSamples else samples) += Sample(cls, ms)
  }

  def add(name: String, v: Double): Unit = if (!baseline) synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }

  /** Set while the timed loop runs; per-op layer lists only fill then. */
  @volatile var inWindow = false

  def append(name: String, v: Double): Unit = if (inWindow) synchronized {
    lists.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }

  def span(id: String, parent: String, name: String, s: Double, e: Double): Unit =
    if (traced && !baseline) synchronized { spans += Span(id, parent, name, s, e) }

  def write(dir: Path): Unit = synchronized {
    val record = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures,
      "setup_s" -> setupS,
      "samples" -> samples.map(s => Seq(s.cls, s.ms)),
      "baseline_samples" -> baselineSamples.map(s => Seq(s.cls, s.ms)),
      "window_start_ms" -> windowStartMs, "window_end_ms" -> windowEndMs,
      "window_cpu_ms" -> windowCpuMs,
      "store_bytes" -> storeBytes, "user_bytes" -> userBytes,
      "counters" -> counters,
      "lists" -> lists,
      "job_intervals" -> jobIntervals.map { case (s, e) => Seq(s, e) },
      "stage_tasks" -> stageTasks,
      "fingerprints" -> fingerprints.map { case (n, r, h) => Seq(n, r, h) })
    Json.writeValue(dir.resolve("raw.json").toFile, record)
    if (traced)
      Files.write(dir.resolve("spans.jsonl"), spans.map(s => Json.writeValueAsString(Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))).asJava)
  }
}

object Recorder {
  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
