package graft

import org.apache.spark.sql.SparkSession

/** Pins the bench harness's failure-honest contract: a crashing query
  * must surface in `failed`/`errors`, NEVER as a fast-looking min, and
  * an intermittently-crashing query must be visible as `flaky` with its
  * per-rep success count — not hide behind a legitimate-looking min.
  * Also pins the load-aware contract: per-pass calibration probes ride
  * the artifact and a min measured in a hot-probe window is flagged
  * `load_suspect`, so a judged number measured under background load is
  * visibly untrustworthy without out-of-band re-measurement.
  */
class BenchSpec extends SparkSpec {

  /** Five results with larger mins than any seeded query and no function
    * to run: they take the defense's worst-min pass, which then re-runs
    * nothing, so a [[Bench.defend]] case isolates its later passes.
    */
  private val outOfReach = (1 to 5).map(i =>
    Bench.QueryResult(s"zbusy$i", Seq(50.0), Seq(0), None, 1))

  test("a query failing every rep publishes no min and counts as failed") {
    val good = (s: SparkSession, _: String) => s.range(10).toDF("id")
    val bad: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (_, _) => throw new RuntimeException("boom")
    val results = Bench.measure(spark,
      Seq("zgood" -> good, "abad" -> bad), "unused", reps = 2)
    val line = Bench.render(results, reps = 2, sfDir = "unused")
    // the artifact is one valid JSON object (the driver's parse contract)
    val spark0 = spark
    import spark0.implicits._
    val parsed = spark.read.json(Seq(line).toDS).collect()(0)
    assert(parsed.getAs[Long]("failed") == 1L)
    assert(parsed.getAs[Long]("flaky") == 0L)
    assert(line.contains(""""abad":"RuntimeException: boom""""))
    // reps_ok lists DEVIANTS only: the clean query's count is implied
    assert(line.contains(""""reps_ok":{"abad":0}"""))
    // the judged min map carries only the good query
    val minMap = line.substring(line.lastIndexOf("\"queries\":"))
    assert(!minMap.contains("abad"), minMap)
    assert(minMap.contains("zgood"), minMap)
    // and the failed query contributes nothing to the headline total
    val soloTotal = Bench.render(
      results.filter(_.name == "zgood"), 2, "unused")
    assert(parsed.getAs[Double]("value") ==
      spark.read.json(Seq(soloTotal).toDS).collect()(0).getAs[Double]("value"))
  }

  test("a query crashing on some reps surfaces as flaky with its ok-rep count") {
    var calls = 0
    val flaky = (s: SparkSession, _: String) => {
      calls += 1
      if (calls == 1) throw new IllegalStateException("first rep dies")
      s.range(5).toDF("id")
    }
    val line = Bench.render(
      Bench.measure(spark, Seq("q" -> flaky), "unused", reps = 3),
      reps = 3, sfDir = "unused")
    assert(line.contains(""""failed":0"""))
    assert(line.contains(""""flaky":1"""))
    assert(line.contains(""""reps_ok":{"q":2}"""))
    assert(line.contains("IllegalStateException"))
    // the flaky query's min comes from its 2 successful reps
    assert(line.substring(line.lastIndexOf("\"queries\":")).contains("\"q\":"))
  }

  test("reps are interleaved rep-major so a load spike cannot own one query's whole sample") {
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    def rec(name: String) = (s: SparkSession, _: String) => {
      order += name; s.range(1).toDF("id")
    }
    val results = Bench.measure(spark,
      Seq("b" -> rec("b"), "a" -> rec("a"), "c" -> rec("c")),
      "unused", reps = 3)
    // rep-major: full sorted pass, then the next pass — NOT a,a,a,b,b,b
    assert(order.toSeq == Seq("a", "b", "c", "a", "b", "c", "a", "b", "c"),
      order.mkString(","))
    // every query still gets all its reps and a min
    assert(results.forall(_.okReps == 3))
  }

  test("measure tags every sample with its pass and brackets passes with probes") {
    val good = (s: SparkSession, _: String) => s.range(3).toDF("id")
    val log = new Bench.ProbeLog
    val results = Bench.measure(spark, Seq("q" -> good), "unused",
      reps = 3, log = log)
    // 3 passes -> probes 0,1,2 at pass starts + 1 trailing = 4 probes
    assert(log.times.size == 4)
    assert(results.head.okPasses == Seq(0, 1, 2))
    // pass ids are aligned with ok times, so minPass resolves
    assert(results.head.minPass.exists(p => p >= 0 && p <= 2))
  }

  test("loadSuspects flags exactly the queries whose min came from a hot-probe pass") {
    // probes: pass 0 bracketed by (0.1, 0.1) — clean; pass 1 bracketed by
    // (0.1, 0.9) — hot trailing probe (spike started mid-pass); pass 2
    // bracketed by (0.9, 0.1) — hot leading probe
    val probes = Seq(0.1, 0.1, 0.9, 0.1)
    def q(name: String, times: Seq[Double], passes: Seq[Int]) =
      Bench.QueryResult(name, times, passes, None, 3)
    val results = Seq(
      q("clean", Seq(2.0, 5.0, 5.0), Seq(0, 1, 2)),   // min in pass 0
      q("hot_tail", Seq(5.0, 2.0, 5.0), Seq(0, 1, 2)), // min in pass 1
      q("hot_head", Seq(5.0, 5.0, 2.0), Seq(0, 1, 2)), // min in pass 2
      Bench.QueryResult("dead", Seq.empty, Seq.empty, Some("x"), 3))
    assert(Bench.loadSuspects(results, probes) == Seq("hot_head", "hot_tail"))
    // with all probes equal nothing is suspect
    assert(Bench.loadSuspects(results, Seq(0.1, 0.1, 0.1, 0.1)).isEmpty)
    // and with no probe log at all (legacy render path) nothing is suspect
    assert(Bench.loadSuspects(results, Seq.empty).isEmpty)
  }

  test("render puts the whole judged signal AFTER the min map (tail-safe order)") {
    val r = Seq(Bench.QueryResult("q", Seq(5.0, 1.0), Seq(0, 1), None, 2))
    val probes = Seq(0.1, 0.8, 0.8) // pass 1 (the min's pass) is hot
    val line = Bench.render(r, 2, "unused", probes)
    assert(line.contains(""""probes":[0.1000,0.8000,0.8000]"""), line)
    assert(line.contains(""""load_suspect":["q"]"""), line)
    // probes, suspects, failed/flaky, and the total all sit after the
    // min map: the driver keeps the tail, so the self-qualifying signal
    // must be the last thing truncation could eat
    val qAt = line.lastIndexOf("\"queries\":")
    for (k <- Seq("\"probes\":", "\"load_suspect\":", "\"failed\":",
        "\"flaky\":", "\"total_sec\":"))
      assert(line.lastIndexOf(k) > qAt, s"$k not after min map")
    // a suspect query carries its max (min is untrustworthy there)
    assert(line.contains(""""queries_max":{"q":5.0000}"""), line)
    val spark0 = spark
    import spark0.implicits._
    assert(spark.read.json(Seq(line).toDS).collect()(0)
      .getAs[Double]("value") == 1.0)
  }

  test("a 95-query artifact's judged tail fits a 4 KB capture window") {
    // realistic worst case: 95 queries with driver-length names and
    // full-precision doubles in, nothing flaky/suspect — the r8 failure
    // mode was the LINE outgrowing the driver's ~4 KB tail capture
    val names = (1 to 95).map(i => f"pipeline_operator_name_$i%02d")
    val rng = new scala.util.Random(7)
    val results = names.map(n => Bench.QueryResult(n,
      Seq.fill(3)(0.05 + rng.nextDouble() * 12.345678901234),
      Seq(0, 1, 2), None, 3))
    val probes = Seq.fill(5)(0.05 + rng.nextDouble() * 0.1)
    val line = Bench.render(results, 3, "/root/testdata/sf0.1", probes)
    val tail = line.takeRight(4096)
    // the tail alone carries the min map opener and the full signal
    assert(tail.contains("\"queries\":{"), s"min map head cut: ${tail.take(80)}")
    assert(tail.contains("\"probes\":[") && tail.contains("\"load_suspect\":"))
    assert(tail.contains("\"failed\":0") && tail.contains("\"flaky\":0"))
    assert(tail.contains("\"total_sec\":"))
    // and reconstructs as valid JSON: "{" + tail-from-queries
    val rebuilt = "{" + line.substring(line.lastIndexOf("\"queries\":"))
    val spark0 = spark
    import spark0.implicits._
    val parsed = spark.read.json(Seq(rebuilt).toDS).collect()(0)
    assert(parsed.getAs[Long]("failed") == 0L)
    assert(line.length - line.lastIndexOf("\"queries\":") < 4000,
      s"judged tail too big: ${line.length - line.lastIndexOf("\"queries\":")}")
  }

  test("worst-min re-measure adds a sample to exactly the slowest queries") {
    // every real run is slower than the seeded mins, so no extra sample
    // becomes a min and the later passes stay idle
    val good = (s: SparkSession, _: String) => {
      Thread.sleep(5); s.range(3).toDF("id")
    }
    val names = Seq("slow", "mid", "s3", "s4", "s5", "fast")
    val measured = names.zip(Seq(9e-4, 8e-4, 7e-4, 6e-4, 5e-4, 1e-4)).map {
      case (n, t) => Bench.QueryResult(n, Seq(t, t + 1e-5), Seq(0, 1), None, 2)
    }
    // passes 0 and 1 bracketed by a uniform floor: nothing load-suspect
    val log = new Bench.ProbeLog
    log.record(1e-9); log.record(1e-9); log.record(1e-9)
    val defended = Bench.defend(spark, names.map(_ -> good), measured,
      "unused", Map.empty, log, cooldownSec = 0)
    val byName = defended.map(r => r.name -> r).toMap
    // the five largest mins got one extra (real) sample; the fast one not
    assert(names.take(5).forall(byName(_).okReps == 3), defended.toString)
    assert(byName("fast").okReps == 2)
    // extra samples can only keep or lower the min
    assert(byName("slow").okTimes.min <= 9e-4)
    // the defense pass bracketed itself with probes and tagged its samples
    assert(log.times.size == 5)
    assert(byName("slow").okPasses.last == 3)
  }

  test("a failed bonus run adds no sample but records the dropped error as bonus_err") {
    val bad: Bench.QueryFn =
      (_, _) => throw new RuntimeException("spike hit the defense pass")
    val measured = Seq(Bench.QueryResult("q", Seq(5.0, 5.1), Seq(0, 1), None, 2))
    val log = new Bench.ProbeLog
    log.record(1e-9); log.record(1e-9); log.record(1e-9)
    val defended = Bench.defend(spark, Seq("q" -> bad), measured, "unused",
      Map.empty, log, cooldownSec = 0)
    val r = defended.head
    // untouched sample: no time added, still green, min unchanged
    assert(r.okTimes == Seq(5.0, 5.1) && r.firstErr.isEmpty)
    assert(r.bonusErr.exists(_.contains("spike hit the defense pass")))
    val line = Bench.render(defended, 2, "unused")
    assert(line.contains("\"flaky\":0") && line.contains("\"failed\":0"))
    assert(line.contains(""""bonus_err":{"q":"RuntimeException: spike hit the defense pass"}"""))
  }

  test("rerunSuspects gives suspects one extra sample that can clear the flag") {
    val good = (s: SparkSession, _: String) => s.range(3).toDF("id")
    val seeded = Seq(Bench.QueryResult("q", Seq(5.0), Seq(0), None, 1))
    // with a uniform log nothing is suspect and the defense re-runs
    // nothing: no pass, no probes, results untouched
    val uniform = new Bench.ProbeLog
    uniform.record(0.1); uniform.record(0.1); uniform.record(0.1)
    val unchanged = Bench.defend(spark, Seq("q" -> good), seeded ++ outOfReach,
      "unused", Map.empty, uniform, cooldownSec = 0)
    assert(unchanged == seeded ++ outOfReach)
    assert(uniform.times.size == 3)
    // pass 0 hot (10 s bracket) against a 0.1 s floor: "q" is suspect
    val log = new Bench.ProbeLog
    log.record(10.0); log.record(10.0); log.record(0.1)
    assert(Bench.loadSuspects(seeded, log.times) == Seq("q"))
    val out = Bench.resample(spark, Map("q" -> good), seeded, Set("q"),
      "unused", log)
    assert(out.head.okPasses == Seq(0, 3), out.head.okPasses.toString)
    // the extra sample moved the min into pass 3: the flag clears when
    // that pass's probes read clean and stays when they read hot (set
    // here, since the real probes are wall-clock timings)
    assert(Bench.loadSuspects(out, log.times.take(3) ++ Seq(0.1, 0.1)).isEmpty)
    assert(Bench.loadSuspects(out, log.times.take(3) ++ Seq(10.0, 10.0)) ==
      Seq("q"))
  }

  test("rerunSuspects ACTUALLY reruns a suspect: extra sample tagged with the new pass") {
    val good = (s: SparkSession, _: String) => s.range(3).toDF("id")
    val log = new Bench.ProbeLog
    // forced-hot pass 0 bracket vs a clean floor — "q" (min pass 0) is suspect
    log.record(10.0); log.record(10.0); log.record(0.1)
    val seeded = Seq(Bench.QueryResult("q", Seq(5.0), Seq(0), None, 1))
    assert(Bench.loadSuspects(seeded, log.times) == Seq("q"))
    val out = Bench.defend(spark, Seq("q" -> good), seeded ++ outOfReach,
      "unused", Map.empty, log, cooldownSec = 0)
    val r = out.find(_.name == "q").get
    // one extra sample, tagged with the probe pass appended by the rerun
    assert(r.okTimes.size == 2 && r.okTimes.head == 5.0)
    assert(r.okPasses == Seq(0, 3), r.okPasses.toString)
    assert(r.bonusErr.isEmpty)
    // the rerun also appended a trailing probe (indices 3 and 4)
    assert(log.times.size == 5)
  }

  test("rerunSuspects records a crashing suspect as bonus_err without a sample") {
    val bad: Bench.QueryFn =
      (_, _) => throw new RuntimeException("still under load")
    val log = new Bench.ProbeLog
    log.record(10.0); log.record(10.0); log.record(0.1)
    val seeded = Seq(Bench.QueryResult("q", Seq(5.0), Seq(0), None, 1))
    val out = Bench.defend(spark, Seq("q" -> bad), seeded ++ outOfReach,
      "unused", Map.empty, log, cooldownSec = 0)
    val r = out.find(_.name == "q").get
    assert(r.okTimes == Seq(5.0) && r.okPasses == Seq(0))
    assert(r.bonusErr.exists(_.contains("still under load")))
  }

  test("a failed probe run never becomes the probe floor") {
    // the probe takes min over SUCCESSFUL runs only; with a real session
    // all runs succeed and the recorded value is a plausible job time,
    // not a microsecond-scale failure artifact. The floor is 100µs, NOT
    // 1ms: a fully warm codegen'd 8M-row sum can genuinely dip under
    // 1ms on this box (min of 3 runs — flaked twice at the old bound
    // under full-suite load), while the failure artifact this guards
    // against is tens of microseconds — a decade of margin both ways
    val log = new Bench.ProbeLog
    log.probe(spark)
    assert(log.times.head > 0.0001, log.times.toString)
    // render emits locale-safe dot decimals and a finite sentinel for
    // an all-failed (+inf) probe entry
    log.record(Double.PositiveInfinity)
    val line = Bench.render(
      Seq(Bench.QueryResult("q", Seq(1.0), Seq(0), None, 1)), 1, "sf",
      log.times)
    assert(line.contains("9999.0"), line)
    assert(!line.contains(","+"probes"), line)
    // every entry must be a dot-decimal: a locale-comma leak ("0,0340")
    // splits into dotless tokens. (A substring check on "0," false-
    // positives whenever a legit value ends in 0 before the array
    // separator — flaked exactly that way once under full-suite load.)
    val probesPart = line.split("\"probes\":")(1).split("]")(0)
      .stripPrefix("[")
    val toks = probesPart.split(",")
    assert(toks.nonEmpty && toks.forall(_.matches(raw"\d+\.\d+")),
      s"locale-unsafe probe rendering: $probesPart")
  }

  test("historyBands takes the per-query median of the recent rounds") {
    def art(m: (String, Double)*): String =
      "\"queries\":{" + m.map { case (k, v) => s""""$k":$v""" }
        .mkString(",") + "},\"probes\":[]"
    val arts = Seq(
      art("q" -> 33.9, "r" -> 1.0),               // ancient outlier
      art("q" -> 2.4, "r" -> 1.1),
      art("q" -> 2.6, "r" -> 1.2),
      art("q" -> 2.8, "s" -> 5.0),
      art("q" -> 3.0, "s" -> 5.2),
      art("q" -> 3.1),
      art("q" -> 6.4, "s" -> 5.1))                // the hot-window round
    val bands = Bench.historyBands(arts, lastN = 6, minRounds = 3)
    // q: last 6 = [2.4,2.6,2.8,3.0,3.1,6.4] -> median 2.9; the ancient
    // 33.9 fell out of the window, the hot 6.4 cannot drag the median
    assert(math.abs(bands("q") - 2.9) < 1e-9, bands.toString)
    // s has 3 samples inside the recent window -> banded; r's three
    // appearances are mostly ANCIENT (only 2 fall in the last staleN
    // artifacts) -> no band: the median must draw only on recent
    // values, else surviving old values dominate it and re-create the
    // stale-band false alarm the staleness cap exists to prevent
    assert(bands.contains("s") && !bands.contains("r"), bands.toString)
    // below minRounds -> no band
    assert(!Bench.historyBands(arts.take(2), minRounds = 3).contains("q"))
    // STALE: a query absent from the last `staleN` artifacts gets no
    // band — the driver tails are truncated, so old appearances can
    // survive while recent ones vanish, and a band from a code state
    // many rounds back flags the query's legitimate current level
    // (the r19 dedup_embedding_lsh false alarm: banded ~2s from
    // r6-r11 survivors vs a steady ~3.7s since r17)
    val stale = Seq(
      art("old" -> 2.0), art("old" -> 2.1), art("old" -> 2.2)) ++
      Seq.fill(6)(art("live" -> 1.0))
    val b2 = Bench.historyBands(stale)
    assert(!b2.contains("old") && b2.contains("live"), b2.toString)
    // the r19 ADVICE scenario the recent-only median closes: five
    // stale ~2s values plus ONE recent 3.7 used to pass the staleness
    // gate (one recent appearance) while the median stayed ~2s — a
    // cry-wolf band against the query's legitimate current level. Now
    // one recent appearance is below minRounds -> no band at all.
    val mostlyStale =
      Seq(art("c" -> 2.0), art("c" -> 2.1), art("c" -> 2.0),
        art("c" -> 2.1), art("c" -> 2.0)) ++
      Seq.fill(5)(art("x" -> 1.0)) :+ art("c" -> 3.7, "x" -> 1.0)
    val b3 = Bench.historyBands(mostlyStale)
    assert(!b3.contains("c") && b3.contains("x"), b3.toString)
  }

  test("loadRoundArtifacts prefers complete archives over truncated tails") {
    val dir = java.nio.file.Files.createTempDirectory("bench_hist").toFile
    def put(name: String, body: String): Unit =
      java.nio.file.Files.writeString(
        new java.io.File(dir, name).toPath, body)
    // r1: the driver tail lost the alphabetically-early agg_a entry to
    // truncation; the full archive carries it. r2: tail only (a round
    // predating the archive). r3: full only. History reads archives
    // only: a tail is never parsed.
    put("BENCH_r01.json",
      """{"tail": "\"queries\":{\"zz\":2.0000},\"probes\":[0.1],\"total_sec\":9.0}"}""")
    put("BENCH_full_r01.json",
      """{"queries":{"agg_a":1.0000,"zz":2.0000},"probes":[0.1],"total_sec":9.0}""")
    put("BENCH_r02.json",
      """{"tail": "\"queries\":{\"zz\":2.1000},\"probes\":[0.1]"}""")
    put("BENCH_full_r03.json",
      """{"queries":{"agg_a":1.2000,"zz":2.2000},"probes":[0.1]}""")
    put("BENCH_full.json", // UNstamped current artifact: never history
      """{"queries":{"agg_a":9.9000},"probes":[]}""")
    put("BENCH_full_r03_dev.json", // side-written dev run: never history
      """{"queries":{"agg_a":9.9000},"probes":[]}""")
    put("notes.txt", "ignored")
    val arts = Bench.loadRoundArtifacts(dir).map(Bench.parseBenchArtifact)
    assert(arts == Seq(Map("agg_a" -> 1.0, "zz" -> 2.0),
      Map("agg_a" -> 1.2, "zz" -> 2.2)), arts.toString)
    // with full archives in history, the early query gets a band the
    // tails alone could never give it
    val raw = Bench.loadRoundArtifacts(dir)
    assert(Bench.historyBands(raw, minRounds = 2).contains("agg_a"))
    // only the min map is read: queries_max and reps_ok never shadow a
    // min, and a rendered artifact round-trips
    val full = """{"reps_ok":{"a":4},"queries_max":{"a":9.0000},"queries":{"a":1.5000,"b":2.0000},"probes":[0.1],"total_sec":3.5}"""
    assert(Bench.parseBenchArtifact(full) == Map("a" -> 1.5, "b" -> 2.0))
    val rendered = Bench.render(
      Seq(Bench.QueryResult("q", Seq(1.25), Seq(0), None, 1)), 1, "sf")
    assert(Bench.parseBenchArtifact(rendered) == Map("q" -> 1.25))
    // the archive stamp counts DRIVER TAILS only: an in-round dev
    // archive (r3 full, above) must not bump the end-of-round run to
    // the wrong (next) round — newest tail is r2, so this run is r3
    assert(Bench.stampRound(dir) == 3, Bench.stampRound(dir).toString)
    assert(Bench.stampRound(
      java.nio.file.Files.createTempDirectory("empty").toFile) == 1)
    dir.listFiles().foreach(_.delete()); dir.delete()
  }

  test("windowSuspects flags mins outside the committed band; rerun can clear the flag") {
    val bands = Map("slow" -> 3.0, "fine" -> 3.0)
    val seeded = Seq(
      Bench.QueryResult("slow", Seq(6.4, 6.5), Seq(0, 1), None, 2),
      Bench.QueryResult("fine", Seq(3.2, 4.0), Seq(0, 1), None, 2),
      Bench.QueryResult("unbanded", Seq(99.0), Seq(0), None, 1))
    assert(Bench.windowSuspects(seeded, bands) == Seq("slow"))
    // the guard gives the suspect an end-of-suite sample; a clean
    // window's sample lowers the min and the flag clears itself
    val fast = (s: SparkSession, _: String) => s.range(3).toDF("id")
    val log = new Bench.ProbeLog
    val out = Bench.defend(spark, Seq("slow" -> fast),
      seeded ++ outOfReach.take(4), "unused", bands, log, cooldownSec = 0)
    val r = out.find(_.name == "slow").get
    assert(r.okReps == 3 && r.okTimes.min < 4.5, r.okTimes.toString)
    assert(Bench.windowSuspects(out, bands).isEmpty)
    // untouched queries kept their samples
    assert(out.find(_.name == "fine").get.okReps == 2)
    val line = Bench.render(out, 2, "sf", log.times, bands)
    assert(line.contains(""""window_suspect":[]"""), line)
  }

  test("a suspect still out of band after the reruns keeps its annotation and band") {
    // a query function pinned at ~real time cannot dip under the band:
    // the flag must survive the rerun passes and ride the artifact
    val slowFn = (s: SparkSession, _: String) => {
      Thread.sleep(300); s.range(3).toDF("id")
    }
    val bands = Map("stuck" -> 0.01)
    val seeded = Seq(Bench.QueryResult("stuck", Seq(0.3), Seq(0), None, 1))
    val log = new Bench.ProbeLog
    val out = Bench.defend(spark, Seq("stuck" -> slowFn),
      seeded ++ outOfReach, "unused", bands, log, cooldownSec = 0)
    val stuck = out.find(_.name == "stuck").get
    // two passes ran (bracketing probes) and added samples, all >= 0.3s
    assert(stuck.okReps == 3, stuck.okTimes.toString)
    assert(log.times.size == 4)
    val line = Bench.render(out, 1, "sf", log.times, bands)
    assert(line.contains(""""window_suspect":["stuck"]"""), line)
    assert(line.contains(""""window_band":{"stuck":0.0100}"""), line)
    // the untrustworthy row carries its max alongside the min
    assert(line.contains(""""queries_max":{"stuck":"""), line)
    // tail-safe: the annotation sits after the min map
    assert(line.lastIndexOf("\"window_suspect\":") >
      line.lastIndexOf("\"queries\":"), line)
  }

  test("the stdout summary line stays within 1 KB for every SparkEntry query") {
    // all SparkEntry query names, 67 load suspects (r16's count) and 5
    // window suspects: names alone would pass 1 KB, counts do not
    val names = SparkEntry.queries.keys.toSeq.sorted
    val probes = Seq(0.1, 0.1, 0.9) // pass 0 clean, pass 1 hot
    val results = names.zipWithIndex.map { case (n, i) =>
      Bench.QueryResult(n, Seq(1.2345678901234 + i),
        Seq(if (i < 67) 1 else 0), None, 3)
    }
    val bands = names.slice(67, 72).map(_ -> 0.001).toMap
    val line = Bench.renderCompact(results, 3, "/srv/graft/testdata/sf0.1",
      "32", probes, bands)
    assert(line.getBytes(java.nio.charset.StandardCharsets.UTF_8).length <= 1024,
      s"${line.length} bytes: $line")
    val spark0 = spark
    import spark0.implicits._
    val parsed = spark.read.json(Seq(line).toDS).collect()(0)
    assert(parsed.getAs[Long]("load_suspects") == 67L)
    assert(parsed.getAs[Long]("window_suspects") == 5L)
    assert(parsed.getAs[Long]("failed") == 0L && parsed.getAs[Long]("flaky") == 0L)
    assert(parsed.getAs[Long]("reps") == 3L && parsed.getAs[String]("sf").endsWith("sf0.1"))
    assert(!line.contains("\"queries\""), line)
  }

  test("warmup discovers tables by listing the SF dir instead of a hardcoded list") {
    val dir = java.nio.file.Files.createTempDirectory("bench-tables").toFile
    try {
      new java.io.File(dir, "documents.parquet").mkdir()
      new java.io.File(dir, "zeta.parquet").createNewFile()
      new java.io.File(dir, "notes.txt").createNewFile()
      assert(Bench.tablesIn(dir.getAbsolutePath) ==
        Seq("documents.parquet", "zeta.parquet"))
      assert(Bench.tablesIn("/nonexistent-dir-xyz").isEmpty)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }
}
