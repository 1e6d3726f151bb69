package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Passes over a fixed set of `SparkEntry.queries` entries, in a fixed
  * order, on the sf0.01 tables committed under `perfbench/data`. One
  * untimed pass warms the JVM up first: a fresh JVM's first pass takes about
  * twice as long as the next ones, and which entry pays for the shared
  * class loading and compilation depends on the order.
  * Each entry is timed as the caller waits for it: the query function
  * (including the Spark jobs it runs to build its result), planning
  * (`executedPlan`), then full materialization through a `noop` sink. The
  * kstore engine and server are bypassed.
  *
  * After each timed entry, outside the clock, its output fingerprint (row
  * count and an order-independent hash) is recorded; `run.py` compares it
  * with the DuckDB-verified fingerprints in `perfbench/fingerprints.json`.
  */
object PipelineEntries extends Workload {
  /** Entry -> family: one entry of each of the ann, text and stream
    * families, among the cheaper ones of their families, so that a warm-up
    * pass and two timed passes fit in a run.
    */
  val Entries = Seq(
    "ann_quantized_recall" -> "ann",
    "text_rarity" -> "text",
    "stream_window" -> "stream")
  val Tables = Seq("documents", "embeddings", "events")

  def fingerprint(df: DataFrame): (Long, String) = {
    val h = df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (h.getLong(0), Option(h.getDecimal(1)).fold("0")(_.toPlainString))
  }

  def run(ctx: Ctx): Unit = {
    val rec = ctx.rec
    val spark = ctx.spark
    val queries = graft.SparkEntry.queries
    val src = Path.of(sys.props.getOrElse("perfbench.data", "perfbench/data/sf0.01"))
    // set-up: copy the input tables into this run's store and open each one
    var sf: Path = null
    for (rep <- 1 to 3) {
      val s0 = System.nanoTime()
      val dir = ctx.work.resolve(s"setup$rep")
      Files.createDirectories(dir)
      Tables.foreach { t =>
        Files.copy(src.resolve(s"$t.parquet"), dir.resolve(s"$t.parquet"))
        spark.read.parquet(dir.resolve(s"$t.parquet").toString).count()
      }
      rec.setupS += (System.nanoTime() - s0) / 1e9
      if (sf != null) Harness.deleteTree(sf)
      sf = dir
    }
    rec.userBytes = Tables.map(t => Files.size(sf.resolve(s"$t.parquet"))).sum
    val tmp = Path.of(System.getProperty("java.io.tmpdir"))
    val tmpBytes0 = Harness.bytesUnder(tmp)

    val outputs = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    def pass(label: String, timed: Boolean): Unit =
      Entries.foreach { case (name, family) =>
        val req = s"$label.$name"
        val s = rec.nowMs
        try {
          val (construct, df) = Tracing.withProps(spark, req, s"entry.construct_jobs.$family") {
            Harness.timeMs(queries(name)(spark, sf.toString))
          }
          val (plan, _) = Harness.timeMs(df.queryExecution.executedPlan)
          val (mat, _) = Tracing.withProps(spark, req, s"entry.materialize_jobs.$family") {
            Harness.timeMs(df.write.format("noop").mode("overwrite").save())
          }
          if (timed) {
            rec.sample(name, construct + plan + mat)
            rec.append(s"entry.construct_ms.$family", construct)
            rec.append(s"entry.plan_ms.$family", plan)
            rec.append(s"entry.materialize_ms.$family", mat)
            rec.span(req, label, s"entry.$name", s, rec.nowMs)
          }
          outputs += ((name, df))
        } catch {
          case scala.util.control.NonFatal(e) =>
            rec.attempt(ok = false); rec.fail("c0", s"entry $name", e)
        }
      }

    pass("warmup", timed = false)
    // what one pass leaves behind (ANN index, stream state), relative to input
    rec.storeBytes = Harness.bytesUnder(tmp) - tmpBytes0
    var passes = 0
    ctx.measure { deadline =>
      val first = passes
      while (passes == first || System.nanoTime() < deadline) {
        passes += 1
        pass(s"pass$passes", timed = true)
      }
    }
    // after the clock: every output's fingerprint, for run.py to check
    outputs.foreach { case (name, df) =>
      try {
        val (rows, hash) = fingerprint(df)
        rec.fingerprints += ((name, rows, hash))
        rec.attempt(ok = true)
      } catch {
        case scala.util.control.NonFatal(e) =>
          rec.attempt(ok = false); rec.fail("c0", s"entry $name (fingerprint)", e)
      }
    }
  }
}
