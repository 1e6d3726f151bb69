package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.pipeline.TextAnalysis

/** Streaming counterpart of the dedup family's exact path: content-
  * fingerprint deduplication over a document stream
  * `(doc_id, text, ts, ...)`.
  *
  * A training-data ingest sees the same document many times close
  * together (crawler re-fetches, source retries, mirrored feeds); the
  * streaming layer drops those before the batch near-dup passes ever
  * see them. `dropDuplicatesWithinWatermark` keys state by the same
  * normalized md5 fingerprint the batch `text_fingerprint` operator
  * uses and EVICTS each key once the watermark passes its event time —
  * state is bounded by the dedup horizon (`lateness`), never by
  * history, which is what lets the query run forever at ingest scale.
  * A duplicate arriving after its key was evicted is re-emitted by
  * design: cross-horizon dedup is the batch layer's job
  * ([[graft.pipeline.Dedup]]).
  */
object DocStreams {

  /** First sighting of each distinct content fingerprint within the
    * watermark horizon. Output schema: input columns + `fp`.
    */
  def dedupExact(docs: DataFrame, lateness: String): DataFrame =
    docs
      .withColumn("fp", TextAnalysis.fingerprintExpr(col("text")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("fp")

  /** Stream-static incremental dedup — the streaming face of
    * [[graft.pipeline.Dedup.incremental]]: arriving documents are
    * dropped when their content fingerprint already exists in a STATIC
    * corpus fingerprint store (`store` must expose an `fp` column, the
    * [[TextAnalysis.fingerprintExpr]] convention), composed with the
    * watermark-horizon within-stream dedup of [[dedupExact]] so a
    * micro-batch near-duplicate storm collapses before the store probe.
    *
    * Scale shape: a stream-static LEFT ANTI equi-join — Spark re-plans
    * the static side per micro-batch, so a store persisted bucketed by
    * `fp` ([[graft.operators.Layout]] pattern) probes without
    * shuffling the store; per-batch cost is O(micro-batch), exactly
    * the [[graft.pipeline.Dedup.incremental]] contract. The store
    * snapshot is read-time: documents ingested while the query runs
    * join the store only after a restart materializes them — the
    * within-horizon state covers the gap, and cross-horizon residue is
    * the batch layer's job (same division of labor as [[dedupExact]]).
    */
  def dedupAgainstStore(docs: DataFrame, store: DataFrame,
                        lateness: String): DataFrame =
    dedupExact(docs, lateness)
      .join(store.select(col("fp")), Seq("fp"), "left_anti")

  /** The per-row text family applied at ingest: quality keep flag,
    * language prediction, and PII counts evaluated in ONE stateless
    * projection (the same expressions the batch operators use, so
    * stream and batch can never disagree), with dirty rows filtered
    * before they reach storage. Stateless -> no watermark, no state
    * store; each micro-batch is a pure map, which is what makes the
    * filter safe at any ingest rate.
    *
    * `dropPii = false` admits documents with PII counts > 0 (they carry
    * the counts for a downstream redaction pass); `true` drops them.
    */
  def qualityFilter(docs: DataFrame, dropPii: Boolean = false): DataFrame = {
    val piiTotal = TextAnalysis.piiPatterns
      .map { case (name, re) => regexp_count(col("text"), lit(re)) }
      .reduce(_ + _)
    val flagged = docs.select(col("*"),
      TextAnalysis.keepExpr(col("text")).as("keep"),
      TextAnalysis.langPredExpr(col("text")).as("lang_pred"),
      piiTotal.cast("long").as("n_pii"))
      .filter(col("keep") === 1)
    if (dropPii) flagged.filter(col("n_pii") === 0L) else flagged
  }

  /** Most batch keys [[admissionJoin]] collects to the driver for the
    * pushdown arms (≈ 80 MB of boxed keys); larger batches scan. */
  private val FpDriverCapKeys = 2000000L

  /** The fingerprint-store admission probe of [[corpusBatchSink]],
    * exposed so plan tests exercise the exact shipped join shapes.
    * Given the deduped batch `one` (carrying `fp`) and the
    * fp store root, returns the admitted subset (batch rows whose
    * fingerprint is NOT in any store partition except the batch's own)
    * plus the arm chosen. Arms, and the COST MODEL that picks one:
    *
    *  - `broadcast_anti` (store < `graft.sink.fpBroadcastBytes`,
    *    default 64 MB): broadcast the STORE into a plain LEFT ANTI —
    *    zero extra jobs, zero shuffles.
    *  - `pushdown` / `pushdown_waves`: collect the batch's key set,
    *    sort it, and push it into the store scan as unioned chunks of
    *    ≤ `graft.sink.fpChunkKeys` (default 1000) `In` predicates —
    *    `In` predicates — scans are built on the dedicated
    *    [[fpScanSession]] whose raised In threshold makes each chunk
    *    reach parquet as an or(eq...) tree, which gets per-page
    *    boundary search against the
    *    column index, so the scan decodes at most
    *    `batch keys × page rows` rows REGARDLESS of store size
    *    (measured: 7.9M rows decoded for a 10k-key probe into a
    *    20M-key store at the shipped 1000-row pages vs 20M for a
    *    pushed plain In — SCALE.md round 17; within a chunk the
    *    predicate is an OR of ≤100-key In groups, [[chunkPredicate]],
    *    because parquet's filter visitors recurse per or() level and
    *    the r19 600M-store probe measured a single 1000-key chunk's
    *    left-deep tree overflowing the default task stack). The hits — bounded
    *    by the batch — broadcast-ANTI back into the batch. Sorting
    *    makes chunks contiguous key ranges, so row-group stats prune
    *    whole groups per chunk, and each chunk scans ONLY the store
    *    files whose `_ranges` sidecar interval overlaps it
    *    ([[chunkScans]]) — no chunk×file task blowup. A batch above
    *    `graft.sink.fpPushdownKeys` keys (default 100000) runs as
    *    WAVES of that size — one action per wave against the
    *    once-loaded range index, per-wave hits (batch-bounded)
    *    collected and anti-joined once at the end — so the per-action
    *    union plan stays bounded at any batch size (`pushdown_waves`).
    *  - `scan_semi`: broadcast SEMI of the batch keys into the full
    *    (column-pruned) store scan — linear in store size but
    *    shuffle-free, and CHEAPER than point probes once the batch is
    *    dense enough that most pages hold a probed key. The gate is
    *    the measured decode crossover: pushdown decodes ~`batch keys ×
    *    page rows` rows, scan_semi decodes ~`store keys`, so pushdown
    *    is chosen while `batch keys ≤ crossover × store keys / page
    *    rows` (`graft.sink.fpCrossover`, default 0.4 — bracketed in
    *    SCALE.md round 18: at decode ratio 0.17 pushdown wins 2.6x,
    *    at 0.5 scan_semi edges ahead, at ≥5 scan_semi wins 2–36x;
    *    store keys estimated as listed bytes / 16, md5 keys being
    *    incompressible)
    *    AND the batch key set fits the driver collect bound
    *    ([[FpDriverCapKeys]], 2M ≈ 80 MB of boxed keys). At a
    *    production store the crossover dominates: a
    *    10¹⁰-key store probes batches up to ~5M keys via pushdown, and
    *    anything larger genuinely amortizes a linear scan.
    *  - `empty_batch` (large store, zero batch rows): no probe at all —
    *    an empty batch must not pay a store scan.
    *
    * The store read tolerates files deleted mid-read
    * (`ignoreMissingFiles`): [[compactFpStore]] only ever deletes a
    * partition whose keys are already folded into a consolidated one,
    * so a probe racing a (grace-expired) fold sees old-or-new keys,
    * never a crash — what makes compaction live-safe.
    */
  def admissionJoin(one: DataFrame, fpRoot: String, batchId: Long,
                    fpBytes: Long): (DataFrame, String) = {
    val spark = one.sparkSession
    // exclude our OWN partition: a prior crashed attempt's fps must not
    // veto the replay's (identical) admission. The side table stores
    // the 16 RAW bytes (`fpb` = unhex of the hex fingerprint) — half
    // the scan bytes of the hex form at no information loss. LAZY:
    // resolving the whole-store DataFrame pays an O(store files)
    // driver listing + footer read, which only the broadcast_anti and
    // scan_semi arms consume — the pushdown arms must never pay it
    // (their listing is [[loadRangeIndex]]'s, pruned per chunk).
    lazy val prior = spark.read.option("ignoreMissingFiles", "true")
      .parquet(fpRoot)
      .filter(col("batch_id") =!= lit(batchId)).select(col("fpb"))
    val bcastMax = fpBroadcastMax(spark)
    val waveKeys = spark.conf.getOption("graft.sink.fpPushdownKeys")
      .map(_.toInt).getOrElse(100000)
    val xover = spark.conf.getOption("graft.sink.fpCrossover")
      .map(_.toDouble).getOrElse(0.4)
    if (fpBytes < bcastMax)
      (one.join(broadcast(prior),
        unhex(col("fp")) === col("fpb"), "left_anti"), "broadcast_anti")
    else {
      // decode-crossover gate (see the scaladoc cost model): the most
      // batch keys for which point probes still beat one linear scan
      val estStoreKeys = math.max(1L, fpBytes / 16L)
      val xoverKeys = xover * estStoreKeys.toDouble / fpPageRows(spark)
      val pushMax: Long =
        if (waveKeys <= 0) 0L
        else math.min(FpDriverCapKeys,
          math.min(xoverKeys, Long.MaxValue.toDouble).toLong)
      val limitN = (math.min(pushMax, Int.MaxValue - 2L) + 1L).toInt
      // a PERSISTED batch (the sink's large-store path) answers the
      // size gate with a count against the cache first, so an
      // oversized batch bound for scan_semi never pays a cap-sized
      // driver collect just to learn it is oversized
      val counted: Option[Long] =
        if (one.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
          Some(one.count())
        else None
      val keys: Array[Array[Byte]] =
        if (counted.exists(n => n == 0L || n > pushMax)) Array.empty
        else one.select(unhex(col("fp")).as("fpb"))
          .limit(limitN).collect().map(_.getAs[Array[Byte]](0))
      val batchN = counted.getOrElse(keys.length.toLong)
      if (batchN == 0L) (one, "empty_batch") // nothing to probe for
      else if (batchN <= pushMax) {
        val sorted = keys.sorted(ByteOrd)
        val chunkN = math.max(1, math.min(fpChunkKeys(spark), waveKeys))
        val eqGroup = fpEqChunkKeys(spark)
        val chunks = sorted.grouped(chunkN).toSeq
        val index = loadRangeIndex(spark, fpRoot, batchId)
        // scans are BUILT on the scan session so the raised In-pushdown
        // threshold rides the relation, not the caller's conf
        val scanSp = fpScanSession(spark)
        def anti(hits: DataFrame) = one.join(broadcast(hits),
          unhex(col("fp")) === col("fpb"), "left_anti")
        if (keys.length <= waveKeys)
          chunkScans(scanSp, index, chunks, eqGroup) match {
            case Some(hits) => (anti(hits), "pushdown")
            // no store file's range overlaps any batch key: nothing can
            // be a duplicate, and no scan runs at all
            case None => (one, "pushdown")
          }
        else {
          // waves: one bounded action per `waveKeys` keys, against the
          // range index loaded ONCE. Hits accumulate in a SET, not a
          // buffer: during a fold's grace window a key exists in both a
          // pending-absorbed partition and its consolidated target, so
          // a chunk scan can return the same hit once per file — dedup
          // is what keeps the driver bound at ≤ batch keys ≤ capKeys.
          val perWave = math.max(1, waveKeys / chunkN)
          val hitKeys = scala.collection.mutable.LinkedHashSet
            .empty[scala.collection.immutable.ArraySeq[Byte]]
          chunks.grouped(perWave).foreach { wave =>
            chunkScans(scanSp, index, wave, eqGroup).foreach { df =>
              hitKeys ++= df.collect().map(r =>
                scala.collection.immutable.ArraySeq
                  .unsafeWrapArray(r.getAs[Array[Byte]](0)))
            }
          }
          if (hitKeys.isEmpty) (one, "pushdown_waves")
          else {
            val hits = spark.createDataset(
              hitKeys.iterator.map(_.toArray).toSeq)(
              org.apache.spark.sql.Encoders.BINARY).toDF("fpb")
            (anti(hits), "pushdown_waves")
          }
        }
      } else {
        val hits = prior.join(
          broadcast(one.select(unhex(col("fp")).as("fpb"))),
          Seq("fpb"), "left_semi")
        (one.join(broadcast(hits),
          unhex(col("fp")) === col("fpb"), "left_anti"), "scan_semi")
      }
    }
  }

  private def fpChunkKeys(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("graft.sink.fpChunkKeys").map(_.toInt).getOrElse(1000)

  /** The broadcast-arm gate, in ONE place: [[admissionJoin]] picks the
    * broadcast arm strictly below it, and [[corpusBatchSink]] persists
    * the batch exactly when at-or-above it (the large-store arms run
    * extra actions over the batch; the broadcast arm's only action is
    * the write, where a persist is measured pure overhead).
    */
  private def fpBroadcastMax(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("graft.sink.fpBroadcastBytes")
      .map(_.toLong).getOrElse(64L * 1024 * 1024)

  /** Terminator line of a `_folded_` manifest. A manifest read that
    * does not END with it is torn or foreign and must read as empty: a
    * PARTIALLY read manifest parses cleanly otherwise (a truncated
    * trailing id — "12" read from a mid-write "123" — is a valid
    * long), and a probe racing the async maintenance fold could then
    * mark a live, unabsorbed partition as pending-absorbed and skip
    * it, admitting a duplicate. The sentinel makes a torn read
    * self-identifying instead of silently plausible.
    */
  private val ManifestEnd = "#end"

  /** Parse a `_folded_<target>` manifest (one absorbed batch id per
    * line, closed by [[ManifestEnd]] — [[compactFpStore]]'s wire
    * format) — THE parser, shared by the compactor's deletion pass and
    * the probe's pending-absorbed skip, which must agree for the
    * grace-window superset property to hold. Unreadable, torn, or
    * unterminated manifests read as empty (the probe then merely scans
    * a duplicate partition; the deletion pass treats an EXPIRED empty
    * read as a crashed fold's remnant — see `applyManifest`).
    */
  private def readFoldedManifest(fs: org.apache.hadoop.fs.FileSystem,
                                 m: Path): Seq[Long] =
    try {
      val in = fs.open(m)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .map(_.trim).filter(_.nonEmpty).toList
        finally in.close()
      if (lines.lastOption.contains(ManifestEnd)) {
        val ids = lines.init.map(_.toLongOption)
        // any unparseable body line = a format we don't understand:
        // read as empty rather than half-apply someone else's record
        if (ids.forall(_.isDefined)) ids.flatten else Nil
      } else Nil
    } catch { case scala.util.control.NonFatal(_) => Nil }

  /** The pushdown arm's driver-side file-range index: every store
    * file with its fpb [min,max] from the partition's `_ranges`
    * sidecar ([[writeRangesSidecar]]), plus the files whose sidecar is
    * missing or doesn't list them (crashed sidecar write, pre-sidecar
    * store) — those fall back to every chunk: degraded, never wrong.
    */
  private final case class FpRangeIndex(
      ranged: Seq[(String, Array[Byte], Array[Byte])],
      unranged: Seq[String])

  /** Load the [[FpRangeIndex]] for every store partition except the
    * batch's own — listed ONCE per probe, shared by every wave.
    * Partitions recorded as absorbed by a pending `_folded_` manifest
    * are SKIPPED: the manifest is only ever written after its
    * consolidated target (which IS indexed) is complete, so their keys
    * are guaranteed present elsewhere and scanning them during the
    * fold's grace window would only duplicate IO and hits.
    */
  private def loadRangeIndex(spark: org.apache.spark.sql.SparkSession,
                             fpRoot: String, batchId: Long): FpRangeIndex = {
    val root = new Path(fpRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(root)
    val pendingAbsorbed: Set[Long] = entries.iterator
      .filter(st => st.isFile && st.getPath.getName.startsWith("_folded_"))
      .flatMap(m => readFoldedManifest(fs, m.getPath)).toSet
    val dirs = entries.filter { st =>
      st.isDirectory && st.getPath.getName.startsWith("batch_id=") &&
        st.getPath.getName != s"batch_id=$batchId" &&
        !scala.util.Try(st.getPath.getName.stripPrefix("batch_id=").toLong)
          .toOption.exists(pendingAbsorbed)
    }
    def unhexStr(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val ranged = scala.collection.mutable.ArrayBuffer
      .empty[(String, Array[Byte], Array[Byte])]
    val unranged = scala.collection.mutable.ArrayBuffer.empty[String]
    dirs.foreach { d =>
      // a partition deleted between the two listings (a grace-expired
      // fold racing this probe) reads as empty: its keys are already
      // in the consolidated partition the fold wrote first
      val files =
        try fs.listStatus(d.getPath)
          .filter(_.getPath.getName.endsWith(".parquet"))
        catch { case _: java.io.FileNotFoundException =>
          Array.empty[org.apache.hadoop.fs.FileStatus] }
      val sidecar = new Path(d.getPath, "_ranges")
      val byName: Map[String, (Array[Byte], Array[Byte])] =
        if (!fs.exists(sidecar)) Map.empty
        else try {
          val in = fs.open(sidecar)
          val txt =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          txt.split("\n").iterator.map(_.trim).filter(_.nonEmpty).flatMap {
            l => l.split("\t") match {
              case Array(n, mn, mx) if mn.nonEmpty && mx.nonEmpty =>
                Some(n -> ((unhexStr(mn), unhexStr(mx))))
              case _ => None
            }
          }.toMap
        } catch { case scala.util.control.NonFatal(_) => Map.empty }
      files.foreach { f =>
        byName.get(f.getPath.getName) match {
          case Some((mn, mx)) => ranged += ((f.getPath.toString, mn, mx))
          case None => unranged += f.getPath.toString
        }
      }
    }
    FpRangeIndex(ranged.toSeq, unranged.toSeq)
  }

  /** Build one wave's hit scan: one file-pruned point-predicate scan
    * per sorted key chunk, unioned. A chunk scans only the files whose
    * range overlaps its own [first,last] (sorted chunks are contiguous
    * slices, store files are range-partitioned — at scale that is ~1
    * file per chunk, instead of a task and a footer read per
    * chunk×file pair). Returns None when no file overlaps any chunk
    * (no scan runs at all).
    */
  private def chunkScans(spark: org.apache.spark.sql.SparkSession,
                         index: FpRangeIndex,
                         chunks: Seq[Array[Array[Byte]]],
                         eqGroup: Int): Option[DataFrame] = {
    // explicit schema: per-chunk scans must not each pay schema
    // inference (a footer read) over the same files
    val schema = new org.apache.spark.sql.types.StructType()
      .add("fpb", org.apache.spark.sql.types.BinaryType)
    def scan(paths: Seq[String]) = spark.read.schema(schema)
      .option("ignoreMissingFiles", "true").parquet(paths: _*)
    chunks.flatMap { ch =>
      val lo = ch.head
      val hi = ch.last
      val paths = index.ranged.iterator.filter { case (_, mn, mx) =>
        java.util.Arrays.compareUnsigned(mn, hi) <= 0 &&
          java.util.Arrays.compareUnsigned(mx, lo) >= 0
      }.map(_._1).toSeq ++ index.unranged
      if (paths.isEmpty) None
      else Some(scan(paths).filter(chunkPredicate(ch, eqGroup)))
    }.reduceOption(_ union _)
  }

  /** A chunk's point predicate, shaped for parquet's RECURSIVE filter
    * visitors: one `In` per ≤ `graft.sink.fpEqChunkKeys` (100) keys,
    * OR'd together — never one chunk-sized `In`. Spark translates an
    * under-threshold `In` to a LEFT-DEEP or(eq...) chain, and
    * parquet-mr's row-group/column-index/bloom visitors recurse once
    * per or() level: a single 1000-key In is a ~1000-deep tree, which
    * the r19 600M-key admission run measured OVERFLOWING the
    * default 1 MB task stack (SparkException wrapping
    * StackOverflowError inside the scan; 16 MB stacks confirmed the
    * diagnosis). Grouping caps the eq-chain depth at the group size
    * plus one or() per group — an order of magnitude below the
    * measured overflow — while pruning semantics are unchanged:
    * parquet evaluates each eq against the stats/column index/bloom
    * individually either way. [[fpScanSession]]'s In threshold
    * (chunk size + 1) stays above the group size by construction. The
    * group size is resolved on the CALLER's session in [[admissionJoin]].
    */
  private[graft] def chunkPredicate(ch: Array[Array[Byte]],
      group: Int): org.apache.spark.sql.Column = {
    // fail fast on empty input: balanced() below never terminates on an
    // empty Seq (empty.grouped(2) yields another empty Seq), and the
    // sole current caller dereferences ch.head first — this guard keeps
    // that a loud contract for future callers instead of a stack hang
    require(ch.nonEmpty, "chunkPredicate requires at least one key")
    // BALANCED Or reduction, not reduceLeft: parquet's visitors recurse
    // once per or() level, so a left-deep chain over the groups re-opens
    // the same overflow one level up (a raised fpChunkKeys of ~250k at
    // the 100-key group is ~2500 or() levels — back in stack-overflow
    // territory). Pairwise merging keeps the tree depth at
    // ceil(log2(groups)) — 17 levels even at a million groups.
    def balanced(cs: Seq[org.apache.spark.sql.Column])
        : org.apache.spark.sql.Column =
      if (cs.lengthCompare(1) == 0) cs.head
      else balanced(cs.grouped(2).map(_.reduce(_ || _)).toSeq)
    balanced(ch.grouped(math.max(1, group))
      .map(g => col("fpb").isInCollection(g.toSeq)).toSeq)
  }

  private def fpEqChunkKeys(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("graft.sink.fpEqChunkKeys")
      .map(_.toInt).getOrElse(100)

  /** Page row limit for fingerprint-store parquet. The pushdown arm's
    * decode bound is `batch keys × page rows` (the column index skips
    * whole pages), so smaller pages = a tighter bound; 1000 rows of
    * 16-byte keys is a ~16 KB page, still far above parquet's header
    * overhead. The parquet default (20k) would make the bound 20x looser.
    */
  private def fpPageRows(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("graft.sink.fpPageRows").map(_.toInt).getOrElse(1000)

  /** Write a single-column `fpb` DataFrame as a fingerprint-store
    * partition in the layout the pushdown arm's point predicates
    * exploit: sorted within each file (contiguous sorted key chunks
    * prune whole row groups on min/max stats), small pages (the
    * column-index boundary search decodes at most `batch keys × page
    * rows`), a bloom filter on `fpb` (skips row groups whose RANGE
    * overlaps a chunk but which contain none of its keys — the
    * absent-key half of a dedup probe, which stats alone cannot skip),
    * and a `_ranges` sidecar mapping each file to its fpb [min,max]
    * so the probe can prune chunk×file pairs on the DRIVER — without
    * it every chunk scan schedules a task (and a footer GET) per store
    * file, ~10⁵ no-op tasks per micro-batch at a 10¹⁰-key store.
    */
  private def writeFpPartition(df: DataFrame, dest: String, nFiles: Int): Unit = {
    val spark = df.sparkSession
    val laid =
      if (nFiles <= 1) df.coalesce(1).sortWithinPartitions("fpb")
      else df.repartitionByRange(nFiles, col("fpb")).sortWithinPartitions("fpb")
    laid.write.mode("overwrite")
      .option("parquet.page.row.count.limit", fpPageRows(spark).toString)
      .option("parquet.bloom.filter.enabled#fpb", "true")
      // without an NDV parquet allocates the bloom at max.bytes (1 MB
      // per file — dwarfs a micro-batch's 10k keys); adaptive sizing
      // builds candidate filters and keeps the smallest adequate one
      .option("parquet.bloom.filter.adaptive.enabled", "true")
      .parquet(dest)
    writeRangesSidecar(spark, dest)
  }

  /** Read each file's fpb [min,max] from the just-written partition's
    * parquet footers (driver-side, parallel — the write is the one
    * amortization point; per-batch probes must never pay O(files)
    * footer round-trips) and record them in a `_ranges` sidecar:
    * `name\tminhex\tmaxhex` per file. Underscore-prefixed, so Spark's
    * own listings ignore it. A crash between the data write and the
    * sidecar leaves a sidecar-less partition, which the probe treats
    * as unranged (scanned by every chunk) — degraded, never wrong.
    */
  private def writeRangesSidecar(spark: org.apache.spark.sql.SparkSession,
                                 dest: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(dest)
    val fs = path.getFileSystem(conf)
    val parts = fs.listStatus(path)
      .filter(_.getPath.getName.endsWith(".parquet"))
    import scala.collection.parallel.CollectionConverters._
    import scala.jdk.CollectionConverters._
    val rowsTotal = new java.util.concurrent.atomic.AtomicLong(0L)
    val lines = parts.par.flatMap { st =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try {
        rowsTotal.addAndGet(
          reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
        val stats = reader.getFooter.getBlocks.asScala.flatMap { block =>
          block.getColumns.asScala
            .find(_.getPath.toDotString == "fpb")
            .flatMap { c =>
              val s = c.getStatistics
              if (s == null || !s.hasNonNullValue) None
              else Some((s.genericGetMin.asInstanceOf[
                org.apache.parquet.io.api.Binary].getBytes,
                s.genericGetMax.asInstanceOf[
                  org.apache.parquet.io.api.Binary].getBytes))
            }
        }
        // a file with ANY stats-less block stays out of the sidecar
        // entirely (= unranged fallback), not half-ranged
        if (stats.isEmpty || stats.size != reader.getFooter.getBlocks.size)
          None
        else {
          def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
          val mn = stats.map(_._1).min(ByteOrd)
          val mx = stats.map(_._2).max(ByteOrd)
          Some(s"${st.getPath.getName}\t${hex(mn)}\t${hex(mx)}")
        }
      } finally reader.close()
    }.toList
    // `#rows\t<total>` records the partition's KEY COUNT for the fold
    // ladder (file bytes are a bad size proxy at small scale — the
    // per-file bloom filter is a ~64 KB floor). The `#`-prefixed line
    // can never match a file name, and the range parser's 3-field
    // pattern match skips it — old readers are unaffected.
    val out = fs.create(new Path(path, "_ranges"), true)
    try out.write((lines :+ s"#rows\t${rowsTotal.get()}")
      .mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private object ByteOrd extends Ordering[Array[Byte]] {
    def compare(a: Array[Byte], b: Array[Byte]): Int =
      java.util.Arrays.compareUnsigned(a, b)
  }

  /** The session [[admissionJoin]] builds its store scans on: a
    * [[graft.GraftSession.scoped]] child of `spark` whose parquet
    * In-pushdown threshold is raised above the chunk size, so each
    * ≤chunk `In` reaches parquet-mr as an or(eq...) tree — eq gets true
    * per-page boundary search against the column index, where an In
    * above the threshold is evaluated against the index as one min/max
    * RANGE over the whole set (useless for uniform hash keys; measured:
    * a pushed 10k-key In decodes the ENTIRE store). Parquet reads the
    * threshold from the RELATION's session at execution, so scans built
    * here carry the raised value whatever session executes the plan —
    * and `spark`'s conf is never touched, so a concurrent query planned
    * mid-admission can never inherit the raised threshold. Each
    * threshold gets its own child, so concurrent admissions with
    * different chunk sizes can never lower each other's bound.
    */
  private def fpScanSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    graft.GraftSession.scoped(spark, Map(
      "spark.sql.parquet.pushdown.inFilterThreshold" ->
        (fpChunkKeys(spark) + 1).toString))

  /** True when `batchId` was already absorbed by a sink writing the
    * `_applied_` marker protocol: its own `_applied_<id>` marker
    * exists, or it sits at or below the folded high-watermark
    * (`_applied_hwm=<W>`, [[compactMarkers]]). The marker is checked
    * FIRST: a fold deletes a marker only after the watermark covering
    * it is visible, so on a read-after-write-consistent store the
    * second look cannot miss an applied batch. The watermark value
    * rides the file NAME (an empty object) — a reader takes the max of
    * the names present, so a racing fold can only ever yield an
    * old-or-new value, never a torn one. PUBLIC because every
    * marker-protocol sink shares it: the corpus sink here, the ANN
    * ingest sinks ([[VectorIngest]]), and any query asserting a batch
    * was absorbed (the raw `_applied_<id>` existence check stops being
    * sufficient the moment markers fold).
    */
  def batchApplied(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                   batchId: Long): Boolean =
    fs.exists(new Path(dir, s"_applied_$batchId")) ||
      batchId <= markerHwm(fs, dir)

  // THE marker naming scheme, parsed in one place: `_applied_<id>` per
  // absorbed batch, `_applied_hwm=<W>` for the folded watermark
  // (readers take the max of the names present). Every consumer —
  // the sink's applied() check, compactMarkers, compactFpStore's
  // fold-source gate — goes through these two.
  private def hwmOf(names: Iterable[String]): Long =
    names.iterator.filter(_.startsWith("_applied_hwm="))
      // toLongOption, like markerIdsOf below: a stray non-numeric name
      // (a .bak copy, an editor temp) must degrade to "not a
      // watermark", not crash every sink batch through batchApplied
      .flatMap(_.stripPrefix("_applied_hwm=").toLongOption)
      .foldLeft(-1L)(math.max)

  private def markerIdsOf(names: Iterable[String]): Set[Long] =
    names.iterator
      .filter(n => n.startsWith("_applied_") && !n.startsWith("_applied_hwm="))
      .flatMap(n => scala.util.Try(n.stripPrefix("_applied_").toLong).toOption)
      .toSet

  private def markerHwm(fs: org.apache.hadoop.fs.FileSystem,
                        dir: String): Long = {
    val d = new Path(dir)
    if (!fs.exists(d)) -1L
    else hwmOf(fs.listStatus(d).map(_.getPath.getName))
  }

  /** Fold the corpus sink's per-batch idempotence markers into one
    * high-watermark object — the housekeeping pass that keeps a
    * long-lived sink's root listing O(1) instead of one `_applied_<id>`
    * object per micro-batch forever (~10⁶ objects after a year at a
    * 30s trigger). `_applied_hwm=<W>` asserts every batch id ≤ W was
    * applied; the watermark only advances along a CONTIGUOUS run of
    * marker ids starting just above the current W (micro-batch ids
    * increment by one, so the run covers every applied batch; a gap —
    * which normal operation never produces — simply stops the fold and
    * leaves the markers beyond it as individual files). Spark's own
    * streaming-metadata log compacts with the same
    * watermark-plus-recent-tail shape.
    *
    * Crash-safe at any prefix: the new watermark is written FIRST
    * (readers resolve max-of-names, so old and new coexisting is
    * fine), absorbed markers are deleted next, stale watermark names
    * last. Safe under a live sink: the sink checks its own marker
    * before the watermark and never writes a marker at or below W.
    */
  def compactMarkers(spark: org.apache.spark.sql.SparkSession,
                     dir: String): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(d)) return
    val names = fs.listStatus(d).map(_.getPath.getName)
    // toLongOption, like hwmOf (the shared read-side parse): a stray
    // non-numeric watermark name (a .bak copy) must be skipped, not
    // throw every scheduled maintenance pass forever
    val hwms = names.filter(_.startsWith("_applied_hwm="))
      .flatMap(_.stripPrefix("_applied_hwm=").toLongOption)
    val ids = markerIdsOf(names).toSeq
    // clear all but the highest watermark name even when no fold runs
    // (a crashed prior fold may have left both)
    def clearBelow(w: Long): Unit = hwms.filter(_ < w)
      .foreach(o => fs.delete(new Path(d, s"_applied_hwm=$o"), false))
    if (ids.isEmpty) { if (hwms.nonEmpty) clearBelow(hwms.max); return }
    // a sink resumed from a mid-stream checkpoint starts above 0 and
    // never wrote ids below its first marker — base the run there
    val w0 = if (hwms.nonEmpty) hwms.max else ids.min - 1L
    val present = ids.toSet
    var w = w0
    while (present.contains(w + 1L)) w += 1L
    if (w > w0) fs.create(new Path(d, s"_applied_hwm=$w"), true).close()
    ids.filter(_ <= w).foreach(id =>
      fs.delete(new Path(d, s"_applied_$id"), false))
    clearBelow(w)
  }

  /** Per-micro-batch corpus-sink function — the text-side twin of
    * [[VectorIngest.ivfBatchSink]]: admit a batch into a persisted
    * partitioned-parquet corpus at `dir/data`, exactly once per
    * content fingerprint. Batch rows must carry `doc_id` and `fp`
    * ([[dedupExact]]'s output contract). Per batch, in order:
    *
    *  1. **Idempotence marker**: `_applied_<batchId>` in `dir` (or the
    *     folded watermark `_applied_hwm=<W>` — [[compactMarkers]])
    *     skips a batch already absorbed (foreachBatch is
    *     at-least-once). The marker lands for EVERY applied batch,
    *     empty ones included.
    *  2. **Within-batch dedup** (defense in depth — [[dedupExact]]
    *     upstream already collapses the stream): first `doc_id` per
    *     `fp`, so admission is deterministic whatever the upstream.
    *  3. **Fingerprint-store probe**: against the dedicated side table
    *     at `dir/fp` (fp column only, one partition dir per batch) —
    *     NEVER against the corpus data files. An earlier shape
    *     anti-joined `spark.read.parquet(dir/data)` per batch: a full
    *     column scan of the ever-growing corpus on EVERY micro-batch,
    *     O(corpus) forever (the r14 weak mark). The side table holds
    *     16-byte keys instead of full rows, and the probe is a
    *     broadcast SEMI of the batch's fingerprints into the store
    *     scan followed by a broadcast ANTI of the (batch-bounded) hits
    *     back into the batch — the store is scanned pruned-to-fp and
    *     never shuffled, and no shuffle at all appears in the plan.
    *     Per-batch shuffle cost is O(micro-batch); the streaming face
    *     of [[graft.pipeline.Dedup.incrementalKeyed]].
    *  4. **Batch-scoped overwrite**: admitted rows land under
    *     `data/batch_id=<id>/` partitioned by `partCol` (default
    *     `lang_pred`, [[qualityFilter]]'s output), and their
    *     fingerprints under `fp/batch_id=<id>/`, both with OVERWRITE
    *     semantics. Exactly-once falls out without ever probing the
    *     data: the probe excludes the batch's own fp partition, so a
    *     replayed batch (foreachBatch's deterministic-replay contract)
    *     recomputes the identical admitted set and overwrites its own
    *     partitions with identical content — every crash window
    *     (mid-data, between the two writes, mid-fp, before the marker)
    *     replays to the same final state. Readers of `dir/data` see
    *     `batch_id` as one more partition column (ingest lineage).
    *
    * At production rates the per-batch dirs are a small-files
    * trade-off, as in every streaming parquet sink; compacting old
    * `batch_id` partitions (data and fp alike) is an offline
    * maintenance job that preserves the probe's semantics because the
    * probe only ever reads the union of fingerprints.
    */
  def corpusBatchSink(dir: String,
                      partCol: String = "lang_pred"): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val spark = batch.sparkSession
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val marker = new Path(dir, s"_applied_$batchId")
      val data = s"$dir/data"
      val fpRoot = s"$dir/fp"
      if (!batchApplied(fs, dir, batchId)) {
        val one = batch
          .withColumn("__rn", row_number().over(
            Window.partitionBy("fp").orderBy("doc_id")))
          .filter(col("__rn") === 1).drop("__rn")
        // fp store non-empty = at least one real parquet file under
        // some batch_id dir. Metadata entries — _SUCCESS (empty
        // write), _temporary (a crashed write's committer scratch),
        // dotfiles — must NOT count, or schema inference on a
        // parquet-less dir would throw on every retry of a crashed
        // first batch.
        def parts(p: Path): Array[org.apache.hadoop.fs.FileStatus] =
          if (fs.exists(p)) fs.listStatus(p).filterNot { st =>
            val n = st.getPath.getName
            n.startsWith("_") || n.startsWith(".")
          } else Array.empty
        // refuse a pre-batch-layout corpus loudly: its documents carry
        // no fp side table (the probe would silently re-admit them) and
        // writing batch_id=N beside flat <partCol>=x dirs breaks every
        // partition-discovery read of dir/data with mixed leaf depths
        val stray = parts(new Path(data)).filterNot(st =>
          st.isDirectory && st.getPath.getName.startsWith("batch_id="))
        if (stray.nonEmpty) throw new IllegalStateException(
          s"corpus at $dir predates the batch-scoped layout " +
            s"(found data/${stray.head.getPath.getName}); run " +
            "DocStreams.adoptLegacyCorpus(spark, dir) once before streaming")
        // fp-store size from the same two-level listing that decides
        // presence: it picks the probe shape below
        val fpBytes = parts(new Path(fpRoot)).filter(_.isDirectory)
          .flatMap(d => parts(d.getPath))
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(_.getLen).sum
        val hasFpStore = fpBytes > 0L
        // Cost shape (measured, SCALE.md round 14 + bench A/Bs): the
        // heavy part of a batch is evaluating the regex-heavy upstream,
        // so on the BROADCAST arm the data write stays the ONE full
        // evaluation (a persist variant measured 2x that entry), and
        // the fp-table write is derived by reading BACK the
        // just-written batch files. The large-store arms are different:
        // they run EXTRA actions over the batch (the pushdown key
        // collect, wave hit collects, scan_semi's key broadcast), each
        // of which would re-evaluate the regex-heavy upstream — so
        // there, and only there, the deduped batch is persisted for the
        // probe + write window. The probe itself is [[admissionJoin]]'s
        // size-adaptive arms — broadcast-the-store while small, the
        // batch key set PUSHED into the store scan as point predicates
        // beyond (per-batch decode bounded by batch keys x page rows at
        // ANY store size, waved above 100k keys), scan-semi only past
        // the measured decode crossover where one linear scan is
        // genuinely cheaper. None of the arms ever shuffles.
        val cacheBatch = hasFpStore && fpBytes >= fpBroadcastMax(spark)
        if (cacheBatch)
          one.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val (admitted, arm) =
            if (hasFpStore) admissionJoin(one, fpRoot, batchId, fpBytes)
            else (one, "empty_store")
          // the pushdown arm's raised In threshold rides the scan
          // relation's own session (fpScanSession), so the write needs
          // no conf window — this session's conf is never touched
          admitted.write.mode("overwrite")
            .partitionBy(partCol).parquet(s"$data/batch_id=$batchId")
        } finally if (cacheBatch) one.unpersist()
        val fpPart = new Path(s"$fpRoot/batch_id=$batchId")
        if (parts(new Path(s"$data/batch_id=$batchId")).nonEmpty)
          // sorted keys + small pages + blooms: until the next fold
          // absorbs this partition, the pushdown arm's point predicates
          // boundary-search its column index like the compacted store's
          writeFpPartition(
            spark.read.parquet(s"$data/batch_id=$batchId")
              .select(unhex(col("fp")).as("fpb")),
            fpPart.toString, nFiles = 1)
        else fs.delete(fpPart, true) // stale remnant of a crashed attempt
        fs.create(marker, true).close()
        maybeMaintain(spark, dir, batchId)
      }
    }

  // dirs with a maintenance pass currently running — the cadence below
  // is single-flight per sink so a slow fold can never pile up threads
  private val maintenanceInFlight =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The sink's automatic housekeeping cadence: every
    * `graft.sink.maintainEvery` applied batches (default 64; ≤0
    * disables), fold the idempotence markers ([[compactMarkers]]) and
    * the per-batch fingerprint partitions ([[compactFpStore]], with
    * `graft.sink.maintainGraceMs`, default 15 min — set it above the
    * sink's maximum micro-batch duration, which is what makes the fold
    * live-safe). Without a cadence the machinery existed but nothing
    * invoked it, so a long-lived sink's per-batch two-level fp listing
    * and root marker listing grew with batch count until an operator
    * remembered to fold.
    *
    * Runs on a daemon thread by default (`graft.sink.maintainAsync`,
    * default true) so the micro-batch never stalls behind a fold —
    * safe because the fold is grace-manifested and the probe reads
    * with `ignoreMissingFiles`; single-flight per dir, best-effort
    * (a failed pass is retried at the next cadence point).
    */
  private[streaming] def maybeMaintain(spark: org.apache.spark.sql.SparkSession,
                            dir: String, batchId: Long): Unit = {
    val every = spark.conf.getOption("graft.sink.maintainEvery")
      .map(_.toInt).getOrElse(64)
    if (every <= 0 || batchId < 0 || (batchId + 1) % every != 0) return
    val grace = spark.conf.getOption("graft.sink.maintainGraceMs")
      .map(_.toLong).getOrElse(15L * 60 * 1000)
    val async = spark.conf.getOption("graft.sink.maintainAsync")
      .forall(_.toBoolean)
    def pass(): Unit =
      try {
        compactMarkers(spark, dir)
        compactFpStore(spark, dir, nFiles = 0, graceMs = grace)
      } catch {
        case scala.util.control.NonFatal(e) =>
          // best-effort (the next cadence point retries), but NEVER
          // silent: a persistently failing pass would otherwise
          // reintroduce the unbounded-listing growth with zero signal
          System.err.println(
            s"[graft] sink maintenance failed for $dir: $e")
      }
      finally maintenanceInFlight.remove(dir)
    if (maintenanceInFlight.add(dir)) {
      if (async) {
        // a failed thread CREATION (native OOM) must release the
        // single-flight slot: pass()'s own finally never runs if the
        // thread never starts, and a stuck slot silently disables all
        // future maintenance for this sink
        try {
          val t = new Thread(() => pass(), s"graft-sink-maintenance")
          t.setDaemon(true)
          t.start()
        } catch {
          case e: Throwable => maintenanceInFlight.remove(dir); throw e
        }
      } else pass()
    }
  }

  /** One-time migration of a pre-batch-layout corpus (flat
    * `data/<partCol>=x/` dirs, no fingerprint side table — the r14
    * sink's shape) into the batch-scoped layout [[corpusBatchSink]]
    * writes and probes: legacy partition dirs are RENAMED under a fresh
    * reserved `data/batch_id=<negative>` (same id convention as the
    * compactors, so it can never collide with a streaming batch; leaf
    * depth stays uniform), loose parquet files are rewritten through
    * `partitionBy`, and the matching `fp/batch_id=` partition is built
    * from the adopted rows' `fp` column. Idempotent and crash-safe: a
    * re-run adopts whatever legacy entries remain into a new reserved
    * id, and the final repair pass rebuilds the fp twin of ANY data
    * batch partition that lacks one — so a crash between the rename and
    * the fp build converges instead of leaving the adopted documents
    * invisible to the dedup probe. Offline maintenance only — not under
    * a live sink.
    */
  def adoptLegacyCorpus(spark: org.apache.spark.sql.SparkSession, dir: String,
                        partCol: String = "lang_pred"): Unit = {
    val dataRoot = new Path(s"$dir/data")
    val fs = dataRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dataRoot)) return
    def visible(p: Path) = fs.listStatus(p).filterNot { st =>
      val n = st.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    val children = visible(dataRoot)
    val legacyDirs = children.filter(st =>
      st.isDirectory && !st.getPath.getName.startsWith("batch_id="))
    val legacyFiles = children.filter(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet"))
    if (legacyDirs.nonEmpty || legacyFiles.nonEmpty) {
      val existing = children.map(_.getPath.getName)
        .filter(_.startsWith("batch_id="))
        .flatMap(_.stripPrefix("batch_id=").toLongOption)
      val target = (existing :+ 0L).min - 1L
      val tPath = new Path(s"$dir/data/batch_id=$target")
      fs.mkdirs(tPath)
      legacyDirs.foreach(st =>
        fs.rename(st.getPath, new Path(tPath, st.getPath.getName)))
      if (legacyFiles.nonEmpty) {
        // flat unpartitioned files: rewrite through partitionBy so every
        // leaf sits at batch_id/<partCol>/file depth
        spark.read.parquet(legacyFiles.map(_.getPath.toString).toSeq: _*)
          .write.mode("append").partitionBy(partCol).parquet(tPath.toString)
        legacyFiles.foreach(st => fs.delete(st.getPath, false))
      }
    }
    // repair: every data batch partition gets its fp twin
    def hasParquetIn(p: Path): Boolean = visible(p).exists { st =>
      (st.isFile && st.getPath.getName.endsWith(".parquet")) ||
        (st.isDirectory && hasParquetIn(st.getPath))
    }
    visible(dataRoot).filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("batch_id=")).foreach { st =>
      val fpTwin = new Path(s"$dir/fp/${st.getPath.getName}")
      val hasFp = fs.exists(fpTwin) && hasParquetIn(fpTwin)
      if (!hasFp && hasParquetIn(st.getPath))
        writeFpPartition(
          spark.read.parquet(st.getPath.toString)
            .select(unhex(col("fp")).as("fpb")).distinct(),
          fpTwin.toString, nFiles = 1)
    }
  }

  /** [[compactFpStore]]'s size-tier ratio and STCS merge trigger (see
    * its cost shape; SCALE.md round 19 measured the ladder). */
  private val FpFoldRatio = 4.0
  private val FpFoldMin = 4

  /** Compact the corpus sink's fingerprint side table: fold every
    * `batch_id` partition under `dir/fp` into ONE new partition (a few
    * large sorted, small-paged, bloom-filtered files instead of one
    * tiny file per micro-batch — [[writeFpPartition]]'s layout, which
    * is what keeps the pushdown admission arm's per-batch decode
    * bounded), so a long-lived sink's per-batch listing and scan stop
    * growing with batch COUNT.
    *
    * Crash-safe by the store's own algebra: duplicate fingerprints
    * across partitions are harmless to the probe's semi/anti joins, so
    * the consolidated partition is written FIRST (under a fresh
    * negative batch_id that can never collide with a streaming batch)
    * and the absorbed partitions deleted after — any crash leaves a
    * superset of the fingerprints, never a loss.
    *
    * `graceMs` makes the fold safe UNDER A LIVE SINK: with the default
    * 0 the absorbed partitions are deleted in the same call (the
    * offline-window contract). With `graceMs > 0` the fold instead
    * records them in a `_folded_<target>` manifest and a LATER call
    * deletes them once the manifest is older than the grace — set the
    * grace above the sink's maximum micro-batch duration and every
    * admission probe either listed the store before the fold (its old
    * partitions survive past the probe's read) or after (it sees the
    * consolidated superset); the probe's `ignoreMissingFiles` read
    * covers the pathological probe that outlives the grace, degrading
    * it to a possible duplicate admission that [[compactCorpus]]
    * converges, never a crash or a loss. Grace expiry compares the
    * MAINTENANCE HOST's clock against the manifest's store mtime, so
    * clock skew between them eats into the stated grace — pad
    * `graceMs` by the deployment's skew allowance (the same bounded-
    * skew assumption [[graft.core.WriterLease]]'s TTL documents).
    *
    * COST SHAPE (what lets the sink invoke this every few dozen
    * batches): the fold is SIZE-TIERED compaction — classic LSM STCS.
    * A pass always folds the per-batch partitions (non-negative ids),
    * absorbing with them any consolidated generation (negative id) in
    * the same size tier (≤ [[FpFoldRatio]] (4) × the batches' combined
    * key count — a FIXED bound, deliberately not the cascading
    * sum-of-selected variant, which the r19 fold-ladder run (SCALE.md
    * round 19) measured re-rewriting the dominant generation every few
    * passes: max pass ≈ the whole store, read amp 5.7×). Generations
    * above the band sort into buckets of similar size (each member ≤
    * ratio × its bucket's smallest); a bucket merges only once it holds
    * [[FpFoldMin]] (4) generations — the STCS trigger. Key counts come
    * from the `#rows` line of each partition's `_ranges`
    * sidecar (bytes/16 when absent). So a tier is rewritten exactly
    * when a comparable volume of newer data merges with it, per-pass
    * bytes are bounded by the merging tier's bucket ((minMerge+1) ×
    * that tier's generation size — top-tier merges are geometrically
    * RARE, never the every-N-passes O(store) rewrite of the r18
    * scheme), each key climbs O(log_ratio(store/batch)) tiers over
    * its life, and live generations stay
    * O(minMerge × log_ratio(store/batch)) — at a 10¹⁰-key store fed
    * 10⁴-key batches that is ~25 generations and the biggest one is
    * rewritten only when its own tier fills. `fullFoldAt` remains an
    * operator escape hatch: when that many consolidated generations
    * exist, one full fold merges everything (default effectively
    * never). The probe reads the UNION of partitions, so multiple
    * generations are semantically invisible. `nFiles ≤ 0` sizes the
    * output automatically at ~256 MB per file of folded input.
    *
    * Returns the folded source bytes (0 when no fold ran) — per-pass
    * cost, summed for cumulative write amplification.
    */
  def compactFpStore(spark: org.apache.spark.sql.SparkSession, dir: String,
                     nFiles: Int = 4, graceMs: Long = 0L,
                     fullFoldAt: Int = Int.MaxValue): Long = {
    val fpRoot = new Path(s"$dir/fp")
    val fs = fpRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(fpRoot)) return 0L
    // toLongOption: a stray non-conforming `batch_id=*` name (a hand
    // copy, an editor backup — the hwmOf failure class) must be skipped
    // and logged, not throw EVERY maintenance pass forever
    def idOf(st: org.apache.hadoop.fs.FileStatus): Option[Long] =
      st.getPath.getName.stripPrefix("batch_id=").toLongOption
    def partDirs(): Array[(org.apache.hadoop.fs.FileStatus, Long)] =
      fs.listStatus(fpRoot).filter { st =>
        st.isDirectory && st.getPath.getName.startsWith("batch_id=")
      }.flatMap { st =>
        val id = idOf(st)
        if (id.isEmpty) System.err.println(
          s"[graft] fp compaction skipping non-conforming partition " +
            s"${st.getPath}")
        id.map(st -> _)
      }
    def manifests() = fs.listStatus(fpRoot).filter { st =>
      st.isFile && st.getPath.getName.startsWith("_folded_")
    }
    def absorbedIds(m: Path): Seq[Long] = readFoldedManifest(fs, m)
    def applyManifest(m: org.apache.hadoop.fs.FileStatus): Unit = {
      val ids = absorbedIds(m.getPath)
      if (ids.nonEmpty) {
        ids.foreach(id => fs.delete(new Path(fpRoot, s"batch_id=$id"), true))
        fs.delete(m.getPath, false)
      } else
        // reads as empty AND the grace expired (only expired manifests
        // reach here): a crashed or pre-sentinel fold's remnant. Its
        // partitions were never deleted and its target is a live
        // partition — deleting just the manifest restores liveness
        // (the partitions rejoin the fold pool as a harmless superset)
        // instead of pinning a dead record forever.
        fs.delete(m.getPath, false)
    }
    // 1) deletion pass: manifests whose grace has expired
    val now = System.currentTimeMillis()
    manifests().filter(now - _.getModificationTime >= graceMs)
      .foreach(applyManifest)
    // 2) fold pass over partitions NOT already absorbed by a pending
    //    manifest (those are duplicates of a live consolidated target —
    //    deleting them is the deletion pass's job, after the grace)
    val pendingAbs = manifests()
      .flatMap(m => absorbedIds(m.getPath)).toSet
    val all = partDirs()
    val live = all.filterNot { case (_, id) => pendingAbs.contains(id) }
    // under a LIVE sink a positive-id partition may be mid-write by the
    // current micro-batch: folding it now could absorb a partial (or
    // empty) key set and later delete the completed partition — so when
    // the dir carries sink markers at all, only APPLIED batches (their
    // marker was written strictly after their fp partition) are fold
    // sources. A marker-less dir (offline fold of hand-written
    // partitions, tests) folds everything, as before.
    val rootNames =
      try fs.listStatus(new Path(dir)).map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Array.empty[String] }
    val hasMarkers = rootNames.exists(_.startsWith("_applied"))
    val hwm = hwmOf(rootNames)
    val markerIds = markerIdsOf(rootNames)
    def foldable(id: Long): Boolean =
      id < 0L || !hasMarkers || id <= hwm || markerIds.contains(id)
    def dirBytes(st: org.apache.hadoop.fs.FileStatus): Long =
      try fs.listStatus(st.getPath)
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
      catch { case _: java.io.FileNotFoundException => 0L }
    // the ladder compares KEY COUNTS, not file bytes: every file pays a
    // ~64 KB bloom-filter floor, so bytes overstate small generations
    // relative to their juniors and the ladder would under-merge until
    // data dominates. [[writeFpPartition]] records the count in the
    // `_ranges` sidecar; a sidecar-less partition (hand-written, or a
    // crash between data and sidecar) estimates keys as bytes/16
    // (md5 keys are incompressible) — degraded, same order.
    def dirKeys(st: org.apache.hadoop.fs.FileStatus): Long = {
      val fromSidecar =
        try {
          val in = fs.open(new Path(st.getPath, "_ranges"))
          val txt =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          txt.linesIterator.find(_.startsWith("#rows\t"))
            .flatMap(_.stripPrefix("#rows\t").trim.toLongOption)
        } catch { case scala.util.control.NonFatal(_) => None }
      fromSidecar.getOrElse(math.max(1L, dirBytes(st) / 16L))
    }
    val negs = live.filter(_._2 < 0L)
    val pos = live.filter { case (_, id) => id >= 0L && foldable(id) }
    val (ratio, minMerge) = (FpFoldRatio, FpFoldMin)
    // ladder selection — see the scaladoc cost shape
    val old: Array[org.apache.hadoop.fs.FileStatus] =
      if (negs.length >= fullFoldAt)
        live.filter { case (_, id) => foldable(id) }.map(_._1)
      else {
        val posKeys = pos.map(p => dirKeys(p._1)).sum
        val sortedNegs = negs.map(p => (p._1, dirKeys(p._1))).sortBy(_._2)
        // band absorption: generations in the same size tier as the
        // incoming batches ride the pos fold. The bound is FIXED at
        // ratio × posKeys — deliberately NON-cascading: the r19
        // fold-ladder run measured the cascading variant (bound grows
        // with each admitted generation) re-rewriting the DOMINANT
        // generation every few passes — max pass ≈ the whole store,
        // read amp 5.7× — exactly the O(store) pass the ladder exists
        // to remove.
        val (band, rest) =
          if (posKeys > 0L) sortedNegs.partition(_._2 <= ratio * posKeys)
          else (Array.empty[(org.apache.hadoop.fs.FileStatus, Long)],
            sortedNegs)
        // size-tiered buckets over the rest (classic STCS): walking
        // ascending, a generation joins the current bucket while it is
        // ≤ ratio × the bucket's smallest member; a bucket merges only
        // once it holds minMerge generations — so a tier is rewritten
        // exactly when a comparable volume of newer data merges with
        // it, each key climbs one tier per ~ratio-fold store growth,
        // and no pass ever touches a tier whose juniors haven't filled.
        // A pos-empty call (offline consolidation harnesses) relaxes
        // the trigger to 2 so repeated passes still converge the store.
        val buckets = scala.collection.mutable.ArrayBuffer
          .empty[scala.collection.mutable.ArrayBuffer[
            (org.apache.hadoop.fs.FileStatus, Long)]]
        rest.foreach { g =>
          if (buckets.nonEmpty && g._2 <= ratio * buckets.last.head._2)
            buckets.last += g
          else buckets += scala.collection.mutable.ArrayBuffer(g)
        }
        val trigger =
          if (pos.nonEmpty || band.nonEmpty) minMerge
          else math.min(minMerge, 2)
        val merged = buckets.filter(_.length >= trigger).flatten
        // OFFLINE CONVERGENCE (offline consolidation): generations in
        // distinct size tiers form singleton buckets that never reach
        // even the relaxed trigger (sizes 1k/10k/100k at ratio 4 are
        // three singletons), so repeated offline passes would stall
        // short of one generation. With nothing else to merge, fold the
        // two smallest adjacent tiers — each pass removes a tier, so
        // offline passes converge without the O(store) fullFoldAt
        // escape hatch. Gated on the EXPLICIT offline signal graceMs ≤ 0
        // (the live sink always maintains with maintainGraceMs > 0;
        // offline harnesses use the default 0): a pos-empty test alone
        // is NOT offline — a maintenance cadence landing after a window
        // of duplicate-only batches (admitted empty, fp partition
        // deleted, marker written) has pos empty too, and taking the
        // fallback there would progressively merge tiers toward an
        // O(store) pass during idle traffic, violating the ladder's
        // cost guarantee.
        val offline = graceMs <= 0L && pos.isEmpty && band.isEmpty
        val converged =
          if (offline && merged.isEmpty && buckets.length >= 2)
            buckets.take(2).flatten
          else merged
        pos.map(_._1) ++ band.map(_._1) ++ converged.map(_._1)
      }
    // A LONE selected generation folds only when it is a POSITIVE
    // straggler beside other live generations: converting it to a
    // negative generation is O(that batch) and makes it eligible for
    // size-tiering, so a quiesced store converges through ordinary
    // passes (the r20 crash soak caught a 1-doc trailing batch — too
    // small to band, too alone to bucket — pinning three singleton
    // tiers unmergeable forever, because pos.nonEmpty disabled the
    // offline fallback below while old={straggler} skipped the fold).
    // A lone NEGATIVE selection stays a no-op: rewriting one folded
    // generation in place consolidates nothing.
    if (old.isEmpty || (old.length == 1 &&
        (idOf(old.head).forall(_ < 0L) || live.length <= 1))) return 0L
    if (!old.exists(d => fs.listStatus(d.getPath).exists(
        _.getPath.getName.endsWith(".parquet")))) {
      // nothing but empty remnants: clear them, there is no data to fold
      old.foreach(st => fs.delete(st.getPath, true))
      return 0L
    }
    // the target must undercut every id present, pending targets included
    val target = math.min(all.map(_._2).min, 0L) - 1L
    val srcBytes = old.map(dirBytes).sum
    val useFiles =
      if (nFiles > 0) nFiles
      else math.max(1L, (srcBytes + (256L << 20) - 1) / (256L << 20)).toInt
    def nameId(st: org.apache.hadoop.fs.FileStatus): Long =
      st.getPath.getName.stripPrefix("batch_id=").toLong
    // read exactly the fold sources (racing replays overwrite their own
    // partition with identical content — ignoreMissingFiles covers the
    // swap window); distinct() dedups within the folded set
    writeFpPartition(
      spark.read.option("ignoreMissingFiles", "true")
        .parquet(old.map(_.getPath.toString).toSeq: _*)
        .select(col("fpb")).distinct(),
      s"$dir/fp/batch_id=$target", useFiles)
    val manifest = new Path(fpRoot, s"_folded_$target")
    val out = fs.create(manifest, true)
    try out.write(old.map(nameId).sorted
      .mkString("", "\n", "\n" + ManifestEnd + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (graceMs <= 0L) applyManifest(fs.getFileStatus(manifest))
    srcBytes
  }

  /** Compact the corpus DATA the way [[compactFpStore]] compacts the
    * fingerprints: fold every `batch_id` partition under `dir/data`
    * into ONE consolidated partition (per-`partCol` dirs with sane
    * file counts instead of one tiny tree per micro-batch). Offline
    * maintenance only — not under a live sink.
    *
    * Crash anatomy differs from the fp store: duplicate DATA rows are
    * not harmless, so the op leans on the corpus's own invariant (one
    * row per fingerprint, the sink's admission contract) instead of an
    * ordering trick. The consolidated partition keeps the FIRST row
    * per fp (min doc_id — the sink's own within-batch rule), and a
    * crash between the consolidated write and the source deletes
    * leaves a transiently doubled corpus that RE-RUNNING this method
    * converges (the re-read dedups by fp again). Readers that must
    * never see the transient state read between maintenance windows,
    * the usual offline-compaction contract.
    */
  def compactCorpus(spark: org.apache.spark.sql.SparkSession, dir: String,
                    partCol: String = "lang_pred"): Unit = {
    val dataRoot = new Path(s"$dir/data")
    val fs = dataRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dataRoot)) return
    // toLongOption: a non-conforming `batch_id=*` name is neither a
    // fold source nor a deletion target — skip it, don't throw
    val old = fs.listStatus(dataRoot).filter { st =>
      st.isDirectory && st.getPath.getName.startsWith("batch_id=") &&
        st.getPath.getName.stripPrefix("batch_id=").toLongOption.isDefined
    }
    if (old.length <= 1) return
    // data lives one level down (batch_id=N/<partCol>=x/*.parquet);
    // committer scratch (_temporary) and hidden dirs are NOT data — a
    // store holding only crashed-write leftovers must be cleared, not
    // fed to schema inference (which would throw on zero parquet files)
    def hasParquet(d: Path): Boolean =
      fs.listStatus(d).exists { st =>
        val n = st.getPath.getName
        (st.isFile && n.endsWith(".parquet")) ||
          (st.isDirectory && !n.startsWith("_") && !n.startsWith(".") &&
            hasParquet(st.getPath))
      }
    if (!old.exists(d => hasParquet(d.getPath))) {
      old.foreach(st => fs.delete(st.getPath, true))
      return
    }
    val ids = old.map(_.getPath.getName.stripPrefix("batch_id=").toLong)
    val target = math.min(ids.min, 0L) - 1L
    spark.read.parquet(dataRoot.toString).drop("batch_id")
      .withColumn("__rn", row_number().over(
        Window.partitionBy("fp").orderBy("doc_id")))
      .filter(col("__rn") === 1).drop("__rn")
      .write.mode("overwrite").partitionBy(partCol)
      .parquet(s"$dir/data/batch_id=$target")
    old.foreach(st => fs.delete(st.getPath, true))
  }

  /** The composed streaming ingest loop for TEXT — quality gate, then
    * watermark-horizon dedup, then the idempotent persisted-corpus sink:
    * `docs -> qualityFilter -> dedupExact -> corpusBatchSink`. The gate
    * runs FIRST so rejected documents never occupy dedup state, and the
    * sink's store probe extends dedup across the watermark horizon and
    * across restarts — together the full division of labor this module
    * documents, in one query. The checkpoint carries source offsets;
    * sink idempotence is the marker + store probe above. Housekeeping
    * is automatic: every `graft.sink.maintainEvery` batches the sink
    * folds its markers and fp partitions on a daemon thread
    * ([[maybeMaintain]]), so root-object and fp-partition counts stay
    * bounded over an unbounded run with no operator intervention.
    */
  def toCorpus(docs: DataFrame, dir: String, checkpoint: String,
               lateness: String, dropPii: Boolean = false,
               partCol: String = "lang_pred"): StreamingQuery =
    dedupExact(qualityFilter(docs, dropPii), lateness)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch(corpusBatchSink(dir, partCol))
      .start()

  /** Streaming chunker — the online RAG/embedding ingest path: each
    * arriving document explodes into its strided token windows via the
    * SAME [[TextAnalysis.tokenChunks]] transform the batch operator
    * uses (stateless sequence-explode + slice, so stream and batch can
    * never disagree chunk-for-chunk). Stateless -> no watermark, no
    * state store; safe at any ingest rate.
    */
  def chunkFlow(docs: DataFrame, width: Int, stride: Int): DataFrame =
    TextAnalysis.tokenChunks(docs, width, stride)
}
