package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{CodebookTopN, LongArrayDot}

/** IVF (inverted-file) approximate nearest-neighbor search: a coarse
  * k-means quantizer partitions vectors into cells; a query scores only
  * the vectors in its `nprobe` nearest cells. The standard ANN scale
  * shape alongside LSH ([[Similarity.lshTopK]]): candidate cost drops
  * from n to ~ n * nprobe / k per query, governed by cell sizes.
  *
  * Everything is distributed except the centroid table itself — k x dim
  * integers, legitimately driver-sized (the coarse codebook of a 100 TB
  * index is kilobytes; it rides as a literal in every assignment
  * projection). Distances are exact integer arithmetic on quantized
  * vectors. The coarse quantizer IS product quantization with one
  * subspace: training is [[Pq.train]] at m = 1 (Lloyd's with
  * deterministic first-k-by-id init, each round one job with a single
  * reduced shuffle) and assignment is the m = 1 code of [[Pq]]'s encoder.
  */
object Ivf {

  /** Train k centroids on (vec_id, q) prepared vectors; returns the
    * centroid DataFrame `(cid, c, cn2)` (quantized ints, squared norm):
    * the single-subspace PQ codebook.
    */
  def train(p: DataFrame, k: Int, iters: Int): DataFrame =
    Pq.train(p, m = 1, ks = k, iters).select("cid", "c", "cn2")

  /** Nearest-centroid assignment: argmin integer L2 over cells as a pure
    * PROJECTION against the driver-local codebook (the m = 1 code of
    * [[graft.functions.PqEncodeCodes]]; contiguous cids make the code
    * the cid). Returns `(vec_id, q, n2, cid)`.
    *
    * Zero exchanges: the corpus rows never move. The argmin keeps the
    * `min_by(cid, struct(d2, cid))` semantics — d2 differs from the
    * reduced score `cn2 - 2<q,c>` only by the per-row constant `n2`,
    * and the ascending strict-< walk keeps the smallest cid on ties
    * (CodebookOpsSpec pins both).
    */
  def assign(p: DataFrame, centroids: DataFrame): DataFrame =
    p.select(col("vec_id"), col("q"), col("n2"),
      Pq.localCodebook(centroids).encode(1).getItem(0).as("cid"))

  /** The `n` nearest cells of the `q` column, ascending by (d2, cid),
    * exploded to one row per cell ([[CodebookTopN]] against the
    * driver-local codebook; contiguous cids make a position its cid).
    * The nprobe/nAssign form of [[assign]]: no n x k expansion, no
    * shuffle to rank it.
    */
  private[pipeline] def nearestCells(cb: Pq.LocalCodebook, n: Int): Column =
    explode(CodebookTopN(col("q"), typedlit(cb.flat), typedlit(cb.cn2), n))

  /** The probe body: nprobe nearest cells per query, then exact dot
    * ranking against only those cells' inverted lists (a cell
    * equi-join, hash-partitioned on the cell id). `queries` is prepared
    * query rows `(vec_id, q, n2)`; `lists` is `(cid, nid, nq)`.
    */
  private def probeCells(queries: DataFrame, centroids: DataFrame,
                         lists: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val probes = queries.select(col("vec_id").as("qid"), col("q").as("qq"),
      nearestCells(Pq.localCodebook(centroids), nprobe).as("cid"))
    Similarity.rankTopK(probes.join(lists, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("dot", LongArrayDot(col("qq"), col("nq"))), k, "dot")
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

  /** Probe the persisted index at probe-only cost. `queries` is
    * prepared query rows `(vec_id, q, n2)` (see [[Similarity.prepared]]).
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
