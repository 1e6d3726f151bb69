package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** What a workload gets from the harness. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val seed: Long,
                val seconds: Int, val work: Path, val traced: Boolean) {
  /** Run the timed loop until the deadline it is given: its wall time is
    * the window the end-to-end rates and, traced, the per-layer counters
    * are taken over. `prepare` runs before each window, off the clock.
    *
    * Traced, the loop runs twice in this JVM: once untraced, whose samples
    * are the baseline of the tracing overhead, then with the listeners
    * installed. The second window runs on a warmer JVM, so the overhead
    * reads low rather than high.
    */
  def measure(loop: Long => Unit, prepare: () => Unit = () => ()): Unit = {
    if (traced) {
      prepare()
      rec.baseline = true
      try loop(deadlineNs) finally rec.baseline = false
    }
    val events = if (traced) Some(Tracing.install(spark)) else None
    prepare()
    val startEpoch = System.currentTimeMillis()
    val cpu0 = Harness.processCpuNs()
    rec.inWindow = true
    try loop(deadlineNs) finally rec.inWindow = false
    rec.windowCpuMs = (Harness.processCpuNs() - cpu0) / 1e6
    val endEpoch = System.currentTimeMillis()
    rec.windowStartMs = (startEpoch - rec.epoch0).toDouble
    rec.windowEndMs = (endEpoch - rec.epoch0).toDouble
    events.foreach { ev =>
      Tracing.drain()
      Tracing.summarize(ev, rec, startEpoch, endEpoch)
    }
  }

  private def deadlineNs: Long = System.nanoTime() + seconds * 1000000000L
}

trait Workload {
  def run(ctx: Ctx): Unit
}

/** One benchmark run: `Harness --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --cpus <n>`. Writes `raw.json` (and, traced,
  * `spans.jsonl`) into the work dir; `perfbench/run.py` turns it into
  * metrics.
  */
object Harness {
  val Workloads: Map[String, Workload] = Map(
    "server_mixed" -> ServerMixed,
    "pipeline_entries" -> PipelineEntries)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val workload = Workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = opts("seed").toLong
    val work = Paths.get(opts("work")).toAbsolutePath
    val cpus = opts.getOrElse("cpus", "4")
    val traced = opts.getOrElse("trace", "0") == "1"
    Files.createDirectories(work)
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(name, seed, traced)
    val ctx = new Ctx(spark, rec, seed, opts("seconds").toInt, work, traced)
    try workload.run(ctx)
    catch {
      // a workload that dies outside an op still reports what it measured
      case NonFatal(e) => rec.attempt(ok = false); rec.fail("harness", "run", e)
    }
    finally rec.write(work)
    spark.stop()
    // threads the program leaves behind (server, streaming) must not keep
    // the JVM alive past the run
    sys.exit(0)
  }

  /** CPU time of every thread of this JVM: the scheduler does not count time
    * the hypervisor takes from the VM (steal) in it, as it does in wall time.
    */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def timeMs[A](f: => A): (Double, A) = {
    val s = System.nanoTime()
    val a = f
    ((System.nanoTime() - s) / 1e6, a)
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
}
