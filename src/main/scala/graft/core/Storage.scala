package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.lang.Op.{StorageType, Sorted, BTree, Unsorted}

/** Physical column storage over parquet.
  *
  * Layout: each column version is a parquet dataset `(id: long, v: int)`.
  * "sorted"/"b+tree" columns are written range-partitioned and sorted by
  * value — parquet row-group min/max statistics then play the role the
  * reference's sorted projection / B+tree played (index scans become
  * row-group pruning; reference storage.c:1389-1490 builds real indexes,
  * which Catalyst + parquet subsume).
  *
  * Ids are dense at load time (0..n-1 + the column's current nextId),
  * assigned with a two-phase split-offset scheme (see [[parseCsv]]) —
  * never raw `monotonically_increasing_id` (not dense) and never a
  * single-partition window (not scalable).
  */
object Storage {

  val columnSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", IntegerType, nullable = false)))

  /** Read a column version. The `id < nextId` filter makes reads
    * snapshot-consistent against concurrent in-place appends (insert
    * appends a row with id == nextId BEFORE the catalog advance; a
    * reader holding the old meta must not see it, and a crash between
    * append and advance must leave the orphan invisible). nextId == 0
    * short-circuits to empty without touching the filesystem, so remote
    * dbDirs (hdfs://, s3a://) need no local-path existence probe.
    */
  def readColumn(spark: SparkSession, meta: ColumnMeta): DataFrame =
    if (meta.nextId == 0L)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], columnSchema)
    else spark.read.schema(columnSchema).parquet(meta.dataPath)
      .filter(org.apache.spark.sql.functions.col("id") < meta.nextId)

  /** Columns at or under this many rows sort in ONE partition (no
    * repartitionByRange sampling job, no shuffle); larger columns get
    * the range-clustered parallel layout that fans a 100 TB load across
    * the cluster. The single-task sort beats sampling+shuffle below ~1M
    * rows and loses past it (a 3M-row column loaded SLOWER than a
    * 6M-row one under the old 4M threshold, serial sort vs parallel
    * range; SCALE.md "CSV load path vs scale"). A result with a proven
    * bound at or under it runs in one task by the same rule
    * (`Session.oneTask`, timed separately: SCALE.md "One-task rule for
    * bounded results").
    */
  private[core] val SmallSortRows = 1000000L

  /** CSV files at or under this byte size load through the coalesce(1)
    * fast path (see [[parseCsv]]): a single-partition parse with zero
    * pre-write jobs. Above it, the parse fans across the cluster and
    * ordinals come from the two-phase split-offset scheme. Tunable via
    * `graft.load.coalesceBytes` (0 disables the fast path). Default from
    * an order-alternating A/B (local[32], SCALE.md "CSV load path vs
    * scale"): the serial parse wins ~15% at 10 MB and loses ~35% at
    * 20 MB — 12 MB splits the measured crossover.
    */
  private def coalesceBytes(spark: SparkSession): Long =
    spark.conf.getOption("graft.load.coalesceBytes").map(_.toLong)
      .getOrElse(12L << 20)

  /** Layout-aware write: indexed storage types are clustered by value so
    * range selects prune row groups. `rowsHint` (the exact count, or a
    * conservative UPPER bound — see [[ParsedCsv.rowsUpperBound]]) sizes
    * the clustering: small columns sort in one partition — same layout,
    * minus repartitionByRange's range-sampling job, which at interactive
    * scale costs as much as the write itself. An over-estimate only errs
    * toward the range layout, never a wrong one.
    */
  def writeColumn(df: DataFrame, path: String, stype: StorageType,
                  rowsHint: Option[Long] = None): Unit = {
    val out = stype match {
      case Sorted | BTree =>
        val default = math.max(1, df.sparkSession.sparkContext.defaultParallelism / 2)
        if (df.queryExecution.toRdd.getNumPartitions <= 1)
          // already a single partition (the coalesced load fast path):
          // an in-partition sort IS the clustered layout — no sampling
          // job, no exchange; re-fanning a bounded-size input just for
          // the sort costs more than it parallelizes
          df.sortWithinPartitions("v")
        else if (rowsHint.exists(_ <= SmallSortRows))
          // small column: a one-partition sort gives the same clustered
          // layout without repartitionByRange's sampling job
          df.repartition(1).sortWithinPartitions("v")
        else
          df.repartitionByRange(default, col("v")).sortWithinPartitions("v")
      case Unsorted => df
    }
    out.write.mode("overwrite").parquet(path)
  }

  /** Parquet part-file count of a version dir, via the path's Hadoop
    * FileSystem — correct for local paths AND remote dbDirs (hdfs://,
    * s3a://); 0 for a missing dir.
    */
  def partFileCount(spark: SparkSession, dir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) 0L
    else fs.listStatus(path).count(_.getPath.getName.endsWith(".parquet")).toLong
  }

  /** (rows, max id) of a just-written column dir, from the parquet
    * footers' record counts and the `id` column's block statistics —
    * driver-side, footers read in parallel (a multi-GB load writes
    * hundreds of part files; serial remote footer opens would put
    * O(files) round trips on the load tail). Max id is None for an
    * empty dir. Used by evalLoad's post-write check: rows alone cannot
    * catch an equal-total split-boundary drift between the two ordinal
    * passes (e.g. 4x250 -> 2x500 re-plan duplicates ids 250..499 and
    * never assigns 750..999 while keeping the total at 1000), but any
    * such overlap leaves max id != rows-1.
    */
  def parquetIdStats(spark: SparkSession, dir: String): (Long, Option[Long]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(conf)
    val parts = fs.listStatus(path).filter(_.getPath.getName.endsWith(".parquet"))
    import scala.collection.parallel.CollectionConverters._
    val perFile = parts.par.map { st =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try {
        import scala.jdk.CollectionConverters._
        val maxId = reader.getFooter.getBlocks.asScala.flatMap { block =>
          block.getColumns.asScala
            .find(_.getPath.toDotString == "id")
            .flatMap { c =>
              val stats = c.getStatistics
              if (stats == null || !stats.hasNonNullValue) None
              else Some(stats.genericGetMax.asInstanceOf[Number].longValue)
            }
        }.maxOption
        (reader.getRecordCount, maxId)
      } finally reader.close()
    }.toList
    (perFile.map(_._1).sum, perFile.flatMap(_._2).maxOption)
  }

  /** Parse a headered CSV of ints into per-column DataFrames with dense,
    * row-aligned ordinals (reference csv.c:33-105: header names target
    * columns, one int per column per row). Returns the cached shared scan
    * (caller unpersists it once the per-column writes land), the row
    * count, and (columnName -> df(ord, v)) in header order. `ord` is the
    * 0-based row ordinal; loads go only into EMPTY columns (double-load
    * ignored, storage.c:1863-1867), so the caller uses it as the dense id
    * directly — a future load-append would have to offset by nextId AND
    * lift the evalLoad double-load guard together.
    *
    * Ordinals are assigned WITHOUT leaving the DataFrame world: an RDD
    * `zipWithIndex` round-trip deserializes every row twice and caches
    * GenericRows — measured 4-10x the cost of the CSV scan itself.
    * Instead, `monotonically_increasing_id` is `(split << 33) + local`
    * for a deterministic file scan, so a first cheap pass counts rows
    * per split (over InternalRows, no conversion), the driver
    * prefix-sums the split offsets (bounded by the file's split count),
    * and `ord = offset(split) + local` via a broadcast equi-join on the
    * split id — zipWithIndex's own two-phase shape, kept inside
    * whole-stage codegen end to end, O(1) per row at any split count.
    * Both passes see identical splits and order (file scans are
    * deterministic and the broadcast join never reshuffles the scan
    * side).
    *
    * Interactive-scale floor: files at or under [[coalesceBytes]] (the
    * reference's own benchmark sizes) parse as ONE coalesced partition,
    * where `monotonically_increasing_id` IS the dense file-order
    * ordinal — the count pass and the broadcast probe vanish; the exact
    * count is read driver-side off a written column's parquet footers
    * after the writes land. The header + file size come from one
    * driver-side FS read instead of spark.read's header-inference job —
    * small single-file loads skip every pre-write Spark job.
    */
  def parseCsv(spark: SparkSession, file: String): ParsedCsv = {
    import spark.implicits._
    // header + byte size driver-side for plain files; quoted / non-ASCII
    // headers and dir/glob inputs fall back to spark.read's inference
    val headerInfo: Option[(Seq[String], Long)] = try {
      val p = new org.apache.hadoop.fs.Path(file)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(p)
      if (!st.isFile) None
      else {
        // one bulk read (not byte-at-a-time — a remote store would pay
        // a round trip per byte); headers past 64 KB fall back
        val buf = new Array[Byte](64 << 10)
        val in = fs.open(p)
        val n = try {
          var off = 0
          var r = 0
          while (off < buf.length && r != -1) {
            r = in.read(buf, off, buf.length - off)
            if (r > 0) off += r
          }
          off
        } finally in.close()
        val nl = buf.indexOf('\n'.toByte)
        if (nl < 0 && n == buf.length) None // no newline in 64 KB: fall back
        else {
          val end = if (nl < 0) n else nl
          val line = new String(buf, 0, end, java.nio.charset.StandardCharsets.UTF_8)
            .stripSuffix("\r")
          val names = line.split(",", -1).toSeq
          // anything the inference path might treat differently — quotes,
          // non-ASCII, empty or duplicate names — falls back to it
          if (line.isEmpty || line.exists(ch => ch == '"' || ch > 127) ||
              names.exists(_.trim.isEmpty) || names.distinct.size != names.size)
            None
          else Some((names, st.getLen))
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }
    val raw = headerInfo match {
      case Some((names, _)) =>
        spark.read.option("header", "true")
          .schema(StructType(names.map(n => StructField(n, StringType))))
          .csv(file)
      case None => spark.read.option("header", "true").csv(file)
    }
    val names = raw.columns.toSeq
    // non-numeric/empty cells parse to 0, matching the reference's atoi
    // (csv.c:81) — a null here would crash emission and skew aggregates
    val casted = raw.select(
      names.map(n => coalesce(col(n).cast(IntegerType), lit(0)).as(n)): _*)
    val mid = monotonically_increasing_id()
    val (ordPlan, exactRows) = headerInfo match {
      case Some((_, len)) if len <= coalesceBytes(spark) =>
        // small file: coalesce(1) pins a SINGLE execution partition (file
        // order preserved — coalesce concatenates parents in order), so
        // mid IS the dense in-file row index by construction, immune to
        // a concurrent maxPartitionBytes change between plan and run
        (casted.coalesce(1).select(mid.as("ord") +: names.map(col): _*), None)
      case _ =>
        // pass 1: rows per scan split, no row conversion, no shuffle —
        // over a ZERO-column projection (record boundaries don't depend
        // on the projection, so per-split counts match the full parse at
        // ~1/4 the cost; split planning is schema-independent, and the
        // post-write footer cross-check in evalLoad backstops any drift)
        val counts = raw.select().queryExecution.toRdd
          .mapPartitionsWithIndex((i, it) => Iterator((i.toLong, it.size.toLong)))
          .collect().sortBy(_._1)
        var acc = 0L
        val offsets = counts.map { case (s, c) => val o = acc; acc += c; (s, o) }
        val offsetsDf = broadcast(
          offsets.toSeq.toDF("__graft_split", "__graft_off"))
        // pass 2 (the cache materialization): ord from the split offset +
        // the in-split local index; the id columns are computed ON the scan
        // side, before the broadcast probe, so split ids match pass 1's
        val plan = casted
          .withColumn("__graft_split", shiftrightunsigned(mid, 33))
          .withColumn("__graft_local", mid.bitwiseAND(lit((1L << 33) - 1)))
          .join(offsetsDf, "__graft_split")
          .select((col("__graft_off") + col("__graft_local")).as("ord") +:
            names.map(col): _*)
        (plan, Some(counts.map(_._2).sum))
    }
    val withOrd = ordPlan.cache()
    // NOT materialized here: the first concurrent column writer builds
    // the cache blocks (racing writers at worst duplicate a partition's
    // parse across idle cores — BlockManager keeps one copy), which
    // overlaps the cache build with the first write instead of paying a
    // dedicated pass.
    // a fast-path file is bounded by coalesceBytes, so bytes/(2*cols)
    // ("0," per cell) bounds rows around the single-sort threshold —
    // the hint only picks the write layout and an over-estimate is
    // merely slower
    val upper = exactRows.orElse(headerInfo.map { case (ns, len) =>
      len / (2L * math.max(1, ns.length)) }).getOrElse(Long.MaxValue)
    ParsedCsv(withOrd, exactRows, upper,
      names.map(n => n -> withOrd.select(col("ord"), col(n).as("v"))))
  }
}

/** Result of [[Storage.parseCsv]]: the shared cached scan (the caller
  * unpersists it once the per-column writes land), the exact row count
  * when the parse already ran a count pass (None on the single-split
  * fast path — the caller reads it off a written column's parquet
  * footers, [[Storage.parquetIdStats]]), a row-count upper bound known
  * before any job runs (sizes the write layout), and
  * (columnName -> df(ord, v)) in header order.
  */
final case class ParsedCsv(
    scan: DataFrame,
    exactRows: Option[Long],
    rowsUpperBound: Long,
    cols: Seq[(String, DataFrame)])
