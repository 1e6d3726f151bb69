package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{ByteArrayDot, FloatArrayQuantize8, LongArrayDot, LshBandHashes}

/** Similarity search over an embedding column (`array<float>`).
  *
  * All oracle-checked math is done on **integer-quantized** vectors
  * (`round(x*1000)` as long): integer dot products are exact in every
  * engine, so similarity thresholds and top-k ranking are fully
  * deterministic — no cross-engine float drift. Cosine thresholds become
  * integer cross-multiplications:
  *   cos(a,b) >= t  (dot>0)  <=>  dot^2 * tden^2 >= tnum^2 * na * nb
  * with all terms < 2^63 for dim<=64, |x|<=~30 after quantization.
  *
  * Scale notes: the brute-force path is a broadcast-style self-join
  * (query side small) — fine to a few 10k vectors; the LSH path buckets
  * by random-hyperplane signature first, so candidate generation is a
  * bucket-equi-join (shuffle on signature), never an all-pairs cross join.
  */
object Similarity {

  /** Quantize an `array<float>` column to exact integers. */
  def quantize(e: Column): Column =
    transform(e, x => round(x.cast("double") * 1000).cast("long"))

  /** `(vec_id, q, n2)`: quantized vector + its squared norm. */
  def prepared(emb: DataFrame, idCol: String = "vec_id",
               embCol: String = "embedding"): DataFrame = {
    emb.select(col(idCol), quantize(col(embCol)).as("q"))
      .withColumn("n2", LongArrayDot(col("q"), col("q")))
  }

  /** Release a corpus-sized internal cache before returning a result
    * built on it: `out` is materialized eagerly (localCheckpoint — pair/
    * top-k-sized blocks, lineage cut) and `p`'s CacheManager entry is
    * dropped, so repeated calls in a long-lived process (ServerMain /
    * TcpServer, the Bench loop) never accumulate corpus caches. Skipped
    * under the plan-only flag (PRESENCE of `graft.plan.only`, the same
    * convention as PipelineQueries and TextAnalysis) so plan audits see
    * the full unrun composition; `p` is still
    * unpersisted there — the lazy plan recomputes it.
    *
    * Contract shift callers must know: entry points routed through here
    * (semanticPairs / lshTopK / lshCosinePairs and kin) EXECUTE eagerly
    * at call time, and localCheckpoint blocks are NOT fault-tolerant —
    * on a cluster, losing an executor holding checkpoint blocks fails
    * the job instead of recomputing. The blocks are pair/top-k-sized
    * (small), so the trade is deliberate: bounded cache lifetime in a
    * long-lived server over executor-loss recomputability of a result
    * the caller is about to drain anyway.
    *
    * Measured cost (sf0.1, 6 order-balanced reps,
    * an untouched control entry at 1.08x separating host/order noise):
    * the eager materialization costs 1.20-1.34x on the three affected
    * bench entries (dedup_embedding_lsh 4.73 vs 3.54s, dedup_semantic
    * 5.12 vs 4.26s, embedding_lsh_recall 3.91 vs 3.17s) — ~2.5s across
    * a 200s suite. ACCEPTED: the r13-flagged +42-47% was this plus host
    * noise, and the alternative (release on a first-action callback)
    * trades a bounded, measured cost for listener-ordering complexity
    * on every consumer path.
    *
    * Cluster deployments: see SCALE.md "Cluster-deploy note: eager
    * release vs fault tolerance" — prefer reliable `checkpoint()`
    * where executor loss is a real event.
    */
  private def releasedAfter(out: DataFrame, p: DataFrame): DataFrame =
    try {
      if (sys.props.contains("graft.plan.only")) out
      else out.localCheckpoint()
    } finally p.unpersist()

  /** Deterministic (score desc, nid asc) top-k per `qid` over a scored
    * `(qid, nid, <scoreCol>)` pair stream — the ranking contract every
    * ANN path shares. Returns `(qid, rank, nid, <scoreCol>)` plus
    * `extra`.
    */
  private[pipeline] def rankTopK(scored: DataFrame, k: Int, scoreCol: String,
                                 extra: Column*): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col(scoreCol).desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(Seq(col("qid"), col("rank").cast("int").as("rank"), col("nid"),
        col(scoreCol)) ++ extra: _*)
  }

  /** Exact top-k by integer dot product, brute force: each query joined
    * against all candidates, ranked (dot desc, id asc — deterministic
    * tie-break). `queryPred` restricts the query side (keep it small; the
    * candidate side streams).
    */
  def bruteForceTopK(emb: DataFrame, k: Int, queryPred: Column): DataFrame = {
    val p = prepared(emb)
    val qs = p.filter(queryPred).select(col("vec_id").as("qid"), col("q").as("qq"))
    val cands = p.select(col("vec_id").as("nid"), col("q").as("nq"))
    rankTopK(qs.join(cands, col("qid") =!= col("nid"))
      .withColumn("dot", LongArrayDot(col("qq"), col("nq"))), k, "dot")
  }

  /** Per-vector symmetric int8 quantization, PACKED: one byte per
    * dimension in a `binary` column ([[FloatArrayQuantize8]]) — 4x
    * smaller than the float32 source and 8x smaller than the
    * long-quantized `q`, the representation a 1e9-vector corpus
    * actually caches and shuffles. Deterministic (fixed-order IEEE
    * double ops + half-away-from-zero rounding), so a DuckDB oracle
    * replays the bytes exactly via list arithmetic.
    */
  def quantize8(e: Column): Column = FloatArrayQuantize8(e)

  /** `(vec_id, q8)`: packed-int8 quantized vectors. */
  def prepared8(emb: DataFrame, idCol: String = "vec_id",
                embCol: String = "embedding"): DataFrame = {
    emb.select(col(idCol), quantize8(col(embCol)).as("q8"))
  }

  /** Top-k by packed-int8 dot product — [[bruteForceTopK]] on the
    * 1-byte-per-dimension representation. Same deterministic ranking
    * contract (dot desc, id asc), so the output is oracle-exact even
    * though the quantization is lossy vs the float source: what you
    * trade for the 8x payload shrink is RANKING fidelity against the
    * long-quantized reference, which the `ann_quantized_recall` gate
    * measures exactly (both sides deterministic — no floors needed on
    * the hit count itself, only on the acceptable drift).
    *
    * Scale note: candidate-side payload is dim bytes/row instead of
    * 8*dim — the broadcast/shuffle volume of every downstream join
    * shrinks by the same 8x, which is usually the difference between a
    * corpus that fits executor memory and one that spills.
    */
  def quantizedTopK(emb: DataFrame, k: Int, queryPred: Column): DataFrame = {
    val p = prepared8(emb)
    val qs = p.filter(queryPred).select(col("vec_id").as("qid"), col("q8").as("qq"))
    val cands = p.select(col("vec_id").as("nid"), col("q8").as("nq"))
    rankTopK(qs.join(cands, col("qid") =!= col("nid"))
      .withColumn("dot", ByteArrayDot(col("qq"), col("nq"))), k, "dot")
  }

  /** Attribute-filtered exact top-k — the hybrid-search pattern
    * (metadata constraint + vector ranking): candidates are restricted
    * to those sharing the query's `attrCol` value, and ranking is the
    * same deterministic (dot desc, id asc) order as [[bruteForceTopK]].
    *
    * Scale note: the attribute predicate makes this CHEAPER than
    * unfiltered brute force in two ways — each query only scores its
    * attribute bucket, and the equality key turns the query x candidate
    * join into a hash-partitionable EQUI join (shuffle by attribute)
    * instead of a broadcast nested loop. A skewed attribute (one giant
    * bucket) degrades toward brute force for that bucket only; salt via
    * [[graft.operators.SkewJoin]] if a real corpus concentrates there.
    */
  def filteredTopK(emb: DataFrame, k: Int, queryPred: Column,
                   attrCol: String = "label"): DataFrame = {
    val p = prepared(emb)
      .join(emb.select(col("vec_id"), col(attrCol).as("attr")), "vec_id")
    val qs = p.filter(queryPred).select(col("vec_id").as("qid"),
      col("q").as("qq"), col("attr").as("qa"))
    val cands = p.select(col("vec_id").as("nid"), col("q").as("nq"),
      col("attr"))
    rankTopK(qs
      .join(cands, col("qa") === col("attr") && col("qid") =!= col("nid"))
      .withColumn("dot", LongArrayDot(col("qq"), col("nq"))), k, "dot",
      col("qa").cast("int").as("label"))
  }

  /** Near-duplicate pairs by quantized cosine >= tnum/tden (exact integer
    * comparison; requires dot > 0). Brute-force variant (oracle-matched).
    */
  def cosinePairs(emb: DataFrame, tnum: Long, tden: Long): DataFrame = {
    val p = prepared(emb)
    val a = p.select(col("vec_id").as("da"), col("q").as("qa"), col("n2").as("na"))
    val b = p.select(col("vec_id").as("db"), col("q").as("qb"), col("n2").as("nb"))
    a.join(b, col("da") < col("db"))
      .withColumn("dot", LongArrayDot(col("qa"), col("qb")))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * (tden * tden) >= lit(tnum * tnum) * col("na") * col("nb"))
      .select("da", "db")
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    * arXiv:2303.09540 — the published embedding-dedup recipe for
    * web-scale pretraining corpora): a coarse k-means quantizer
    * ([[Ivf.train]]/[[Ivf.assign]], deterministic seeds) partitions the
    * embedding space into `nCells` clusters, and the pairwise cosine
    * check runs only WITHIN each cluster — a cell equi-join, so the
    * quadratic term drops from n^2 to Σ cell² ≈ n²/nCells, and each
    * cell's block is an independent hash-partitioned join task.
    *
    * Same pair contract as [[cosinePairs]] (`da < db`, quantized cosine
    * >= tnum/tden, dot > 0): every emitted pair is exact-verified, so
    * semantic ⊆ exact always holds; what the clustering trades away is
    * RECALL of cross-cluster pairs (near-dups almost always co-cluster —
    * that is the paper's premise — but a pair split by a cell boundary
    * is not seen). `nCells = 1` degenerates to exactly [[cosinePairs]]
    * (pinned in SemanticDedupSpec). Size `nCells` ∝ corpus like the IVF
    * index ([[Ivf]] scaladoc): constant expected cell size keeps the
    * per-cell block bounded as the corpus grows.
    *
    * `nAssign > 1` is the recall lever — the IVF-nprobe analog on the
    * indexing side: each vector joins its `nAssign` NEAREST cells
    * (overlapping clusters), so a pair survives unless the two vectors
    * share none of their cells. Cost bound scales by ≤ nAssign² per
    * cell block while staying ≪ n²; near-threshold pairs that straddle
    * one Voronoi boundary (the dominant loss mode at low similarity)
    * are recovered. Output pairs are de-duplicated when cells overlap.
    */
  def semanticPairs(emb: DataFrame, nCells: Int, iters: Int,
                    tnum: Long, tden: Long, nAssign: Int = 1): DataFrame = {
    // cached through training's Lloyd's iterations AND the pair plan's
    // two sides, then released once the pair list is materialized
    // ([[releasedAfter]])
    val p = prepared(emb).cache()
    releasedAfter(
      semanticPairsFrom(p, Ivf.train(p, nCells, iters), tnum, tden, nAssign), p)
  }

  /** [[semanticPairs]] against a PERSISTED coarse quantizer: the cells
    * come from an existing IVF index's centroid table
    * ([[Ivf.buildIndex]] layout, `dir/centroids`) instead of an inline
    * k-means run — the production shape when the corpus already carries
    * a similarity index: clustering is FREE (trained once in the index
    * build job, reused for dedup) and dedup cell sizing stays
    * consistent with search. Same pair contract and nAssign semantics;
    * byte-equal to the inline form when the index was trained on the
    * same corpus with the same (nCells, iters) — deterministic seeds,
    * pinned in SemanticDedupSpec.
    */
  def semanticPairsWithIndex(emb: DataFrame, dir: String,
                             tnum: Long, tden: Long,
                             nAssign: Int = 1): DataFrame = {
    val centroids = emb.sparkSession.read.parquet(s"$dir/centroids")
    val p = prepared(emb).cache()
    releasedAfter(semanticPairsFrom(p, centroids, tnum, tden, nAssign), p)
  }

  private def semanticPairsFrom(p: DataFrame, centroids: DataFrame,
                                tnum: Long, tden: Long,
                                nAssign: Int): DataFrame = {
    val assigned =
      if (nAssign <= 1) Ivf.assign(p, centroids)
      else p.select(col("vec_id"), col("q"), col("n2"),
        Ivf.nearestCells(Pq.localCodebook(centroids), nAssign).as("cid"))
    val a = assigned.select(col("cid"), col("vec_id").as("da"),
      col("q").as("qa"), col("n2").as("na"))
    val b = assigned.select(col("cid"), col("vec_id").as("db"),
      col("q").as("qb"), col("n2").as("nb"))
    val pairs = a.join(b, Seq("cid")).filter(col("da") < col("db"))
      .withColumn("dot", LongArrayDot(col("qa"), col("qb")))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * (tden * tden) >= lit(tnum * tnum) * col("na") * col("nb"))
      .select("da", "db")
    if (nAssign <= 1) pairs else pairs.distinct()
  }

  /** Deterministic +-1 hyperplane weight table in plane order for
    * `planes` planes, dimensioned from `vecCol` of `df` — driver-sized
    * at any corpus scale (bands x r x dim small ints).
    */
  private[pipeline] def planeWeights(df: DataFrame, planes: Int,
                                     seedBase: Long,
                                     vecCol: String = "embedding"): Seq[Array[Long]] = {
    // empty table -> dim 0 -> empty weight vectors (results are empty
    // anyway); never .first() on a possibly-empty scan
    val dim = df.select(size(col(vecCol)).as("d")).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(0)
    (0 until planes).map { pl =>
      val rnd = new java.util.Random(seedBase + pl)
      Array.fill(dim)(if (rnd.nextBoolean()) 1L else -1L)
    }
  }

  /** `(vec_id, band, bh)`: banded random-hyperplane signatures for
    * prepared vectors — `bands` hashes of `r` sign bits each, all
    * computed per vector in ONE codegen'd projection
    * ([[LshBandHashes]] against the flat driver-local weight table)
    * and exploded to one row per band. Zero exchanges: the previous
    * broadcast-join + groupBy shape expanded every vector bands x r
    * ways and shuffled n x bands rows to sum bits that are a per-row
    * local computation. Narrow on purpose: vectors re-attach only
    * after candidate dedup, so no grouping ever hashes an array.
    *
    * P(one bit agrees) = p = 1 - angle/pi; a pair shares a band with
    * probability p^r, any band with 1-(1-p^r)^bands — `r` controls
    * background collisions (~bands/2^r of all pairs), `bands` buys
    * recall.
    */
  private def bandedSigs(p: DataFrame, bands: Int, r: Int,
                         seedBase: Long): DataFrame = {
    val flat: Seq[Long] =
      planeWeights(p, bands * r, seedBase, vecCol = "q").flatten.toSeq
    p.select(col("vec_id"),
        posexplode(LshBandHashes(col("q"), typedlit(flat), bands, r))
          .as(Seq("band", "bh")))
  }

  /** Corpus-adaptive band WIDTH: the bits-per-band `r` that keeps
    * expected LSH bucket occupancy constant as the corpus grows —
    * `rBase` up to `nBase` vectors, plus one bit per corpus doubling
    * beyond it (bucket count per band is 2^r, so doubling both keeps
    * buckets the same size).
    *
    * This is the same sizing law as IVF's nCells ∝ corpus (whose
    * ablation is in SCALE.md): with FIXED r, background candidate
    * pairs are ~bands/2^r of all n² pairs — quadratic in the corpus no
    * matter how the buckets hash. The sf1 probe measured exactly that:
    * fixed r=8 grew the banded near-dup 77× at 10× vectors. Growing r
    * by log2 of the corpus growth pins expected background candidates
    * per vector, restoring ~linear growth (SCALE.md "Embedding-LSH band
    * sizing").
    *
    * Recall price: each +1 bit multiplies the per-band hit rate p^r by
    * p. At production near-dup thresholds (cos >= 0.85 → p >= 0.82),
    * +4 bits (a 16× corpus) keeps recall ≈ 1-(1-0.45·p^rBase)^bands —
    * still ~0.99+ at bands=64. At LOW similarity thresholds p shrinks
    * and bands must grow alongside r to hold recall; that trade stays
    * with the caller, which is why the fixed-r overloads remain.
    */
  def adaptiveR(n: Long, rBase: Int, nBase: Long = 2000L): Int = {
    var r = rBase
    var cap = nBase
    while (cap < n && r < 24) { cap *= 2; r += 1 }
    r
  }

  /** [[lshCosinePairs]] with [[adaptiveR]] band width — the form a
    * growing corpus calls (one column-pruned count to size `r`; a
    * production deployment with versioned corpus snapshots reads the
    * count from snapshot metadata instead, like [[AnnIndex]]'s
    * freshness note). Identical to `lshCosinePairs(_, bands, rBase, …)`
    * for corpora up to `nBase` — every shipped verify scale.
    */
  def lshCosinePairsAuto(emb: DataFrame, bands: Int, rBase: Int,
                         tnum: Long, tden: Long): DataFrame =
    lshCosinePairs(emb, bands, adaptiveR(emb.count(), rBase), tnum, tden)

  /** [[lshTopK]] with [[adaptiveR]] band width — see
    * [[lshCosinePairsAuto]].
    */
  def lshTopKAuto(emb: DataFrame, k: Int, bands: Int, rBase: Int,
                  queryPred: Column): DataFrame =
    lshTopK(emb, k, bands, adaptiveR(emb.count(), rBase), queryPred)

  /** Scale path for top-k: banded random-hyperplane LSH. Candidates are
    * the union over bands of bucket equi-joins (never all-pairs), then
    * scored exactly and ranked. Approximate by design — neighbors
    * sharing no band are lost, recall = 1-(1-p^r)^bands — so there is
    * no SQL oracle for the output itself; the driver's `ann_recall`
    * query pins the measured recall floor against the exact
    * [[bruteForceTopK]] instead.
    */
  def lshTopK(emb: DataFrame, k: Int, bands: Int, r: Int,
              queryPred: Column): DataFrame = {
    val p = prepared(emb).cache()
    val banded = bandedSigs(p, bands, r, seedBase = 7001L)
    val cands = banded.filter(queryPred)
      .select(col("band"), col("bh"), col("vec_id").as("qid"))
      .join(banded.select(col("band"), col("bh"), col("vec_id").as("nid")),
        Seq("band", "bh"))
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid").distinct()
    val scored = cands
      .join(p.select(col("vec_id").as("qid"), col("q").as("qq")), "qid")
      .join(p.select(col("vec_id").as("nid"), col("q").as("nq")), "nid")
      .withColumn("dot", LongArrayDot(col("qq"), col("nq")))
    releasedAfter(rankTopK(scored, k, "dot"), p)
  }

  /** Scale path for embedding near-dup: **banded** random-hyperplane LSH
    * (OR of `bands` AND-constructions of `r` sign bits each) + exact
    * quantized-cosine verification of candidates only. The all-pairs
    * [[cosinePairs]] is the exact oracle-checked baseline; this is the
    * shape that survives 100 TB — candidates come from bucket equi-joins
    * on (band, band-signature), verification touches candidates only, so
    * false positives are impossible and cost is governed by bucket sizes.
    *
    * Math (P(bit agrees) = p = 1 - angle/pi): recall = 1-(1-p^r)^b;
    * background pair collision ~ b/2^r of the n^2 pairs. At production
    * near-dup thresholds (cos >= 0.85, p >= 0.82) the defaults b=64,r=8
    * give recall ~0.99+ at ~25% of the all-pairs verification cost; at
    * the synthetic tables' unusually low planted similarity (cos ~ 0.46,
    * p ~ 0.65) the same setting still finds ~88% of true pairs — the
    * regime analysis is the point: band/width are the knobs a 100 TB run
    * tunes to its similarity threshold.
    *
    * Hyperplane signatures are computed with the codegen'd [[LongArrayDot]]
    * against a broadcast table of deterministic +-1 weight vectors — one
    * narrow broadcast join + a group-by, no interpreted per-element lambdas.
    */
  def lshCosinePairs(emb: DataFrame, bands: Int, r: Int,
                     tnum: Long, tden: Long): DataFrame = {
    val p = prepared(emb).cache()
    val banded = bandedSigs(p, bands, r, seedBase = 1000003L)
    val cands = banded.select(col("band"), col("bh"), col("vec_id").as("da"))
      .join(banded.select(col("band"), col("bh"), col("vec_id").as("db")),
        Seq("band", "bh"))
      .filter(col("da") < col("db"))
      .select("da", "db").distinct()
    releasedAfter(
      cands
        .join(p.select(col("vec_id").as("da"), col("q").as("qa"),
          col("n2").as("na")), "da")
        .join(p.select(col("vec_id").as("db"), col("q").as("qb"),
          col("n2").as("nb")), "db")
        .withColumn("dot", LongArrayDot(col("qa"), col("qb")))
        .filter(col("dot") > 0 &&
          col("dot") * col("dot") * (tden * tden) >= lit(tnum * tnum) * col("na") * col("nb"))
        .select("da", "db"),
      p)
  }
}
