package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{CodebookArgmin, CodebookTopN, LongArrayDot}

/** IVF (inverted-file) approximate nearest-neighbor search: a coarse
  * k-means quantizer partitions vectors into cells; a query scores only
  * the vectors in its `nprobe` nearest cells. The standard ANN scale
  * shape alongside LSH ([[Similarity.lshTopK]]): candidate cost drops
  * from n to ~ n * nprobe / k per query, governed by cell sizes.
  *
  * Everything is distributed except the centroid table itself — k x dim
  * integers, legitimately driver-sized (the coarse codebook of a 100 TB
  * index is kilobytes; it broadcasts to every assignment join). Distances
  * use the codegen'd [[LongArrayDot]]: d2(a,c) = |a|^2 + |c|^2 - 2<a,c>,
  * all exact integer arithmetic on quantized vectors. Training is Lloyd's
  * algorithm with deterministic init (first k vectors by id), `iters`
  * rounds of assign (broadcast join) + recompute (posexplode + per-dim
  * integer mean) — each round is two narrow shuffles.
  */
object Ivf {

  /** Driver-local codebook: cids ascending, centroids flattened row-major
    * plus per-centroid squared norms — the literal operands of the
    * shuffle-free [[CodebookArgmin]] projection. Collecting
    * here is the module's standing contract, not a new driver crossing:
    * the codebook is k x dim integers (kilobytes at any corpus scale)
    * and already lives on the driver every training round.
    */
  private[pipeline] final case class LocalCodebook(
      cids: Seq[Int], flat: Seq[Long], cn2: Seq[Long])

  private[pipeline] def localCodebook(centroids: DataFrame): LocalCodebook = {
    val rows = centroids
      .select(col("cid").cast("int"), col("c"), col("cn2").cast("long"))
      .collect().sortBy(_.getInt(0))
    LocalCodebook(
      rows.map(_.getInt(0)).toSeq,
      rows.flatMap(_.getSeq[Long](1)).toSeq,
      rows.map(_.getLong(2)).toSeq)
  }

  /** Train k centroids on (vec_id, q) prepared vectors; returns the
    * centroid DataFrame `(cid, c, cn2)` (quantized ints, squared norm).
    *
    * Each Lloyd's round is ONE job with a single reduced shuffle: the
    * assignment is the shuffle-free [[assign]] projection, and the
    * per-cell means are per-dimension `sum(element_at(q, j))` aggregates
    * (map-side partials reduce each partition to ≤k rows of dim sums —
    * the posexplode form shuffled n x dim exploded rows instead).
    */
  def train(p: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = p.sparkSession
    import spark.implicits._
    // deterministic init: the k lowest-id vectors
    var centroids = p.orderBy("vec_id").limit(k).orderBy("vec_id")
      .select(col("q")).collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Long](0).toArray) }.toSeq
    val dim = centroids.headOption.map(_._2.length).getOrElse(0)
    for (_ <- 1 to iters) {
      val cdf = centroids.toDF("cid", "c")
        .withColumn("cn2", LongArrayDot(col("c"), col("c")))
      val assigned = assign(p, cdf)
      // per-dimension integer mean of each cell's members (same div as
      // the reference formulation, computed engine-side so truncation
      // semantics can never drift); a cell with no members keeps its
      // previous centroid (the groupBy would silently drop its cid and
      // shrink the codebook below k)
      val meanExprs = (0 until dim).map(j =>
        call_function("div", sum(element_at(col("q"), j + 1)),
          count(lit(1))).as(s"m$j"))
      val recomputed =
        if (dim == 0) Map.empty[Int, Array[Long]]
        else assigned.groupBy("cid")
          .agg(meanExprs.head, meanExprs.tail: _*)
          .collect()
          .map(r => r.getInt(0) ->
            Array.tabulate(dim)(j => r.getLong(j + 1))).toMap
      centroids = centroids.map { case (cid, prev) =>
        (cid, recomputed.getOrElse(cid, prev))
      }
    }
    centroids.toDF("cid", "c")
      .withColumn("cn2", LongArrayDot(col("c"), col("c")))
  }

  /** Nearest-centroid assignment: argmin integer L2 over cells as a pure
    * PROJECTION against the driver-local codebook ([[CodebookOps
    * .CodebookArgmin]] over codebook literals). Returns
    * `(vec_id, q, n2, cid)`.
    *
    * Zero exchanges: the corpus rows never move. The previous `min_by`
    * aggregate over the broadcast k-way expansion still shuffled one
    * full-vector row per vector to reduce the argmin; the projection
    * keeps identical semantics — d2 differs from the reduced score
    * `cn2 - 2<q,c>` only by the per-row constant `n2`, and the ascending
    * strict-< walk reproduces the (d2, cid) tie-break exactly
    * (CodebookOpsSpec pins both against the min_by form).
    */
  def assign(p: DataFrame, centroids: DataFrame): DataFrame = {
    val cb = localCodebook(centroids)
    val pos = CodebookArgmin(col("q"), typedlit(cb.flat), typedlit(cb.cn2))
    p.select(col("vec_id"), col("q"), col("n2"),
      element_at(typedlit(cb.cids), pos + 1).as("cid"))
  }

  /** The probe body shared by the inline and persisted paths: nprobe
    * nearest cells per query (centroid table broadcast — KB at any
    * corpus scale), then exact dot ranking against only those cells'
    * inverted lists (a cell equi-join, hash-partitioned on the cell id).
    * `queries` is prepared query rows `(vec_id, q, n2)`; `lists` is
    * `(cid, nid, nq)`.
    */
  private def probeCells(queries: DataFrame, centroids: DataFrame,
                         lists: DataFrame, k: Int, nprobe: Int): DataFrame = {
    // nprobe nearest cells per query as a projection + explode against
    // the driver-local codebook (CodebookTopN ranks by the same
    // (d2, cid) contract the previous window row_number ordered by) —
    // no n x k expansion, no shuffle to rank it
    val cb = localCodebook(centroids)
    val probes = queries
      .select(col("vec_id").as("qid"), col("q").as("qq"),
        explode(CodebookTopN(col("q"),
          typedlit(cb.flat), typedlit(cb.cn2), nprobe)).as("pos"))
      .select(col("qid"), col("qq"),
        element_at(typedlit(cb.cids), col("pos") + 1).as("cid"))
    val scored = probes.join(lists, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("dot", LongArrayDot(col("qq"), col("nq")))
    val w = Window.partitionBy("qid").orderBy(col("dot").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("int").as("rank"), col("nid"), col("dot"))
  }

  /** IVF top-k with INLINE training: train + assign + probe in one call.
    * The one-shot form (ad-hoc search over a corpus you'll never query
    * again); repeated searches should build once via [[buildIndex]] and
    * probe via [[probeIndex]] — training cost charged per QUERY is the
    * audited scale-killer the persisted lifecycle exists to remove.
    * Approximate (cell boundaries lose neighbors); exact dot ranking
    * within the probed cells.
    */
  def topK(emb: DataFrame, k: Int, nCells: Int, iters: Int, nprobe: Int,
           queryPred: Column): DataFrame = {
    val p = Similarity.prepared(emb).cache()
    val centroids = train(p, nCells, iters)
    val indexed = assign(p, centroids)
      .select(col("cid"), col("vec_id").as("nid"), col("q").as("nq"))
    probeCells(p.filter(queryPred), centroids, indexed, k, nprobe)
  }

  /** Build the persisted IVF index at `dir`: the KB centroid codebook
    * plus the inverted lists, the lists PARTITIONED BY CELL so a probe
    * reads only the `nprobe` cells it needs (partition pruning — the
    * on-disk analogue of the reference's load-time clustered
    * projections). Training runs ONCE here; `meta` written last.
    */
  def buildIndex(emb: DataFrame, dir: String, nCells: Int, iters: Int): Unit = {
    val p = Similarity.prepared(emb).cache()
    try {
      val centroids = train(p, nCells, iters)
      centroids.coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
      assign(p, centroids)
        .select(col("vec_id").as("nid"), col("q").as("nq"), col("cid").as("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/lists")
      AnnIndex.writeMeta(emb, dir, Seq(nCells, iters))
    } finally p.unpersist()
  }

  /** Build only if `dir` doesn't already hold a current index for this
    * corpus + parameters (see [[AnnIndex.isCurrent]]).
    */
  def ensureIndex(emb: DataFrame, dir: String, nCells: Int, iters: Int): Unit =
    if (!AnnIndex.isCurrent(emb, dir, Seq(nCells, iters)))
      buildIndex(emb, dir, nCells, iters)

  /** INCREMENTAL index maintenance — the daily-ingest path: assign the
    * new batch to the EXISTING centroids (one broadcast-assign pass,
    * KB codebook against batch rows only) and append the resulting
    * list rows to the cell-partitioned parquet. Cost is proportional
    * to the BATCH, never the corpus — no retraining, no rewrite of
    * existing cells; the meta fingerprint advances arithmetically and
    * is written LAST, so a crashed append reads as stale and triggers
    * a rebuild rather than serving half a batch.
    *
    * Returns false WITHOUT touching the index when the post-append
    * corpus would exceed `maxGrowth` × the size the centroids were
    * trained on ([[AnnIndex.appendGate]]) — the caller should
    * [[buildIndex]] (retrain) instead. Probes need no change: the
    * appended rows live in the same cell partitions a probe already
    * prunes to, and a batch vector is exactly as findable as a built
    * one ([[probeIndex]] over append == probe over assign-at-build for
    * the same centroids, since assignment is the same deterministic
    * argmin either way).
    */
  def appendIndex(batch: DataFrame, dir: String, nCells: Int, iters: Int,
                  maxGrowth: Double = 2.0): Boolean =
    AnnIndex.appendGate(batch, dir, Seq(nCells, iters), maxGrowth) match {
      case None => false
      case Some(updated) =>
        val spark = batch.sparkSession
        val centroids = spark.read.parquet(s"$dir/centroids")
        assign(Similarity.prepared(batch), centroids)
          .select(col("vec_id").as("nid"), col("q").as("nq"),
            col("cid").as("cell"))
          .write.mode("append").partitionBy("cell").parquet(s"$dir/lists")
        AnnIndex.writeMetaValues(spark, dir, updated)
        true
    }

  /** RETRAIN the index at `dir` from its own stored lists plus a new
    * batch — the loud decision [[AnnIndex.appendGate]]'s refusal calls
    * for, without re-reading the raw corpus: the inverted lists already
    * hold every indexed vector in quantized form (`nq`), and training,
    * assignment, and probing all operate on quantized vectors, so the
    * IVF index is SELF-CONTAINED for retraining. (IVF only: PQ codes
    * are lossy, so the PQ family retrains from the corpus snapshot.)
    *
    * The union of store + batch is staged to a durable scratch parquet
    * under `dir` before the lists are overwritten — the rebuild never
    * has a live plan reading a path it is rewriting (a persist()-only
    * guard could still recompute from deleted files after cache
    * eviction). Meta is written LAST with `nTrained` = the full merged
    * corpus, so a crash mid-rebuild reads stale and the next `ensure*`
    * or append refuses loudly instead of serving half an index.
    */
  def rebuildFromStore(dir: String, batch: DataFrame, nCells: Int,
                       iters: Int): Unit = {
    val spark = batch.sparkSession
    val staged = s"$dir/retrain_input"
    spark.read.parquet(s"$dir/lists")
      .select(col("nid").as("vec_id"), col("nq").as("q"))
      .unionByName(Similarity.prepared(batch).select("vec_id", "q"))
      .write.mode("overwrite").parquet(staged)
    val all = spark.read.parquet(staged)
      .withColumn("n2", LongArrayDot(col("q"), col("q")))
    val centroids = train(all, nCells, iters)
    centroids.coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    assign(all, centroids)
      .select(col("vec_id").as("nid"), col("q").as("nq"), col("cid").as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/lists")
    val fp = all.agg(count(lit(1)).as("n"),
      coalesce(sum(col("vec_id")), lit(0L)).as("s")).head()
    AnnIndex.writeMetaValues(spark, dir, AnnIndex.Meta(
      fp.getLong(0), fp.getLong(1), Seq(nCells, iters), fp.getLong(0)))
    // scratch gone after commit (best-effort: a leftover is re-staged
    // with overwrite on the next rebuild, never read as index data)
    try {
      val p = new org.apache.hadoop.fs.Path(staged)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Probe the persisted index: identical results to [[topK]] (training
    * is deterministic, so build-then-probe replays the inline
    * composition exactly) at probe-only cost. `queries` is prepared
    * query rows `(vec_id, q, n2)` (see [[Similarity.prepared]]).
    */
  def probeIndex(dir: String, queries: DataFrame, k: Int,
                 nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val centroids = spark.read.parquet(s"$dir/centroids")
    val lists = spark.read.parquet(s"$dir/lists")
      .select(col("cell").as("cid"), col("nid"), col("nq"))
    probeCells(queries, centroids, lists, k, nprobe)
  }
}
