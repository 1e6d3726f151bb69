package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materializes an sf1-class corpus (10x the shipped sf0.1) for the
  * flatness-vs-sf bench point in SCALE.md. The driver ships sf<=0.1 and
  * its generator is out of reach, so scale factor f tiles every table f
  * times with transformations chosen so each per-row DISTRIBUTION matches
  * sf0.1 while per-KEY structure stays linear — any super-linear time
  * growth in the bench is then the engine's, never a data artifact:
  *
  *  - Every key/foreign-key column is offset by copy*10M, consistently
  *    across tables (copy c's orders reference copy c's customers), so
  *    join fan-out per key is IDENTICAL to sf0.1 and key cardinality
  *    grows 10x. Offsetting nothing would instead square the per-key
  *    join output (each orderkey would match 10 copies on both sides).
  *  - documents.text: copy c>0 prefixes every token with the copy id
  *    (the SCALE.md "Dedup scaling" construction — cross-copy shingle
  *    overlap is exactly zero, so the organic near-dup structure
  *    repeats per copy and pair counts grow linearly, never
  *    quadratically); n_chars is recomputed to stay consistent with the
  *    rewritten text.
  *  - embeddings.embedding: copy c rotates the float array by c
  *    dimensions — norms and all within-copy distances are preserved
  *    exactly (the per-copy kNN structure IS sf0.1's), while cross-copy
  *    cosine decorrelates, keeping neighbor counts linear in f.
  *  - events timestamps are untouched: 10x the event density in the
  *    same time range, the realistic shape for windows/sessionization
  *    (user_id is offset, so per-user session structure stays sf0.1's).
  *
  * NOT scaled faithfully for the engine-parity adapters: Tables.liId
  * packs (orderkey, linenumber, partkey, suppkey, qty) into one long
  * with radii documented for the SHIPPED tables only — offset keys
  * overflow the radix, so the parity entries that ride that adapter are
  * excluded from sf1 bench runs by design (see Tables.liId scaladoc).
  *
  * Usage: runMain graft.tools.ScaleData [factor] [dstDir]
  * (defaults: 10, java.io.tmpdir/graft-sf1). Idempotent per table via
  * the parquet _SUCCESS marker.
  */
object ScaleData {
  private val Stride = 10000000L

  /** Key columns per table; int-typed keys are cast back after the
    * offset so the scaled schema is byte-identical to the source's.
    */
  private val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_nationkey"),
    "supplier" -> Seq("s_suppkey", "s_nationkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private def copyOf(base: DataFrame, table: String, c: Int): DataFrame = {
    val keyed = keyCols(table).foldLeft(base) { (df, k) =>
      val t = df.schema(k).dataType
      df.withColumn(k, (col(k).cast("long") + lit(c * Stride)).cast(t))
    }
    table match {
      case "documents" =>
        val tagged =
          if (c == 0) keyed
          else keyed.withColumn("text",
            regexp_replace(col("text"), "(\\S+)", s"c$c$$1"))
        tagged.withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" if c > 0 =>
        // rotate by c dims: norm- and within-copy-distance-preserving
        keyed.withColumn("embedding", concat(
          slice(col("embedding"), lit(c + 1), size(col("embedding")) - lit(c)),
          slice(col("embedding"), lit(1), lit(c))))
      case _ => keyed
    }
  }

  def scaleTable(spark: SparkSession, src: String, dst: String,
                 table: String, f: Int): Unit = {
    val out = s"$dst/$table.parquet"
    if (new java.io.File(s"$out/_SUCCESS").exists()) return
    val base = spark.read.parquet(s"$src/$table.parquet")
    val tiled = (0 until f).map(copyOf(base, table, _)).reduce(_ unionByName _)
    // File-count scaling is part of data fidelity: a real 10x corpus has
    // ~10x the files, and a scan's parallelism comes from file/row-group
    // splits. A flat rows-per-file divisor sized for narrow int tables
    // wrote documents and embeddings as ONE file (one row group — an
    // unsplittable single scan task), which serialized the regex-heavy
    // text scans onto one core at sf1 and showed up as the corpus_mix /
    // pipeline_prep_full flatness tail. Wide, compute-heavy rows get
    // proportionally more files.
    val rowsPerFile = table match {
      case "documents"  => 5000L  // heavy text + per-row regex downstream
      case "embeddings" => 2000L  // 256-float vectors
      case _            => 50000L
    }
    val parts = math.max(1, math.min(32, (base.count() * f / rowsPerFile).toInt))
    tiled.repartition(parts).write.mode("overwrite").parquet(out)
  }

  def main(args: Array[String]): Unit = {
    val f = args.headOption.map(_.toInt).getOrElse(10)
    val dst = args.lift(1).getOrElse(s"${sys.props("java.io.tmpdir")}/graft-sf1")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      // keep the scaled events.ts µs like the source generation
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    keyCols.keys.toSeq.sorted.foreach { t =>
      val t0 = System.nanoTime()
      scaleTable(spark, src, dst, t, f)
      println(f"$t%12s scaled x$f in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    spark.stop()
  }
}
