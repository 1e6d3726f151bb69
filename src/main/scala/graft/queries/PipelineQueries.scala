package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{LongArrayDot, ReservoirSample}
import graft.pipeline.{AnnIndex, Cluster, Dedup, Ivf, Mixture, Multimodal, Packing, Pq, Similarity, TextAnalysis}

/** Correctness queries for the large-scale data-pipeline operators
  * (dedup, similarity search, text analysis, multimodal, event windows),
  * with DuckDB oracles wherever the semantics are SQL-expressible.
  *
  * Thresholds are calibrated to the driver's synthetic tables: word-3gram
  * Jaccard of planted near-dups is >=0.8 vs <=0.07 background, so tau=0.6
  * has a huge safety margin; similarity math uses integer-quantized
  * vectors (see [[Similarity]]) so thresholds/rankings are exact in both
  * engines.
  */
object PipelineQueries {
  type Q = (SparkSession, String) => DataFrame

  // --- dedup ---

  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(s, d)).orderBy("keep_id")

  /** The hash-keyed scale variant of [[dedupExact]] (16-byte shuffle key
    * vs full document bodies), held to the SAME by-text oracle — the
    * "identical for non-colliding hashes" claim is itself in the hard
    * driver signal.
    */
  def dedupExactHash(s: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(s, d), byHash = true).orderBy("keep_id")

  /** Incremental batch-vs-store dedup ([[Dedup.incremental]]): the
    * even-id half of the corpus plays the existing fingerprint store,
    * the odd-id half the day's new batch — survivors are first-in-batch
    * texts unseen in the store.
    */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.incremental(store = docs.filter(pmod(col("doc_id"), lit(2)) === 0),
      batch = docs.filter(pmod(col("doc_id"), lit(2)) === 1))
      .orderBy("doc_id")
  }

  /** The full incremental policy ([[Dedup.incrementalNear]]): exact
    * survivors minus batch docs with a Jaccard >= 1/2 near-dup in the
    * store or earlier in the batch (same parity split and threshold
    * family as [[dedupNgram]]).
    */
  def dedupIncrementalNear(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.incrementalNear(
      store = docs.filter(pmod(col("doc_id"), lit(2)) === 0),
      batch = docs.filter(pmod(col("doc_id"), lit(2)) === 1),
      n = 3, tnum = 1, tden = 2)
      .orderBy("doc_id")
  }

  def dedupMinhash(s: SparkSession, d: String): DataFrame =
    Dedup.minhashNearDups(Tables.documents(s, d), n = 3, k = 64, bands = 32,
      tnum = 3, tden = 5).orderBy("da", "db")

  def dedupNgram(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, d), n = 3, tnum = 1, tden = 2)
      .orderBy("da", "db")

  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashNearDups(Tables.documents(s, d), maxHamming = 6)
      .orderBy("da", "db")

  def dedupEmbedding(s: SparkSession, d: String): DataFrame =
    Similarity.cosinePairs(Tables.embeddings(s, d), tnum = 9, tden = 20)
      .orderBy("da", "db")

  /** The raw banded-LSH near-dup pair stream (the 100 TB shape;
    * approximate recall ~87% at the synthetic tables' low planted
    * similarity, ~99%+ at production thresholds — see
    * [[Similarity.lshCosinePairs]]), exactly-verified candidates.
    */
  private[graft] def dedupEmbeddingLshRows(s: SparkSession,
                                           d: String): DataFrame =
    Similarity.lshCosinePairsAuto(Tables.embeddings(s, d),
      bands = 64, rBase = 8, tnum = 9, tden = 20).orderBy("da", "db")

  /** Bucketed (banded-LSH) embedding near-dup, held to an oracle-EXACT
    * invariant row: the full LSH pipeline runs
    * ([[dedupEmbeddingLshRows]]), and the emitted singleton asserts the
    * two properties the approximate output guarantees by construction —
    * every LSH pair is a true exact-cosine pair (candidates are
    * verified exactly, so LSH ⊆ exact; `subset_ok`), and recall over
    * the exact pair set clears the measured floor (66%, the
    * [[embeddingLshRecall]] calibration; `recall_ok`). `n_exact` is the
    * exact-pair population, which the DuckDB oracle recomputes from the
    * [[dedupEmbedding]] pair SQL — so a broken verify step, a recall
    * collapse, or an exact-path drift each flip a hashed value.
    */
  def dedupEmbeddingLsh(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val exact = Similarity.cosinePairs(emb, tnum = 9, tden = 20).cache()
    val lshp = Similarity.lshCosinePairsAuto(emb, bands = 64, rBase = 8,
      tnum = 9, tden = 20).cache()
    val ne = exact.agg(count(lit(1)).as("ne"))
    val nl = lshp.agg(count(lit(1)).as("nl"))
    val extra = lshp.join(exact, Seq("da", "db"), "left_anti")
      .agg(count(lit(1)).as("nx"))
    val out = ne.crossJoin(nl).crossJoin(extra).select(
      col("ne").cast("long").as("n_exact"),
      (col("nx") === 0L).as("subset_ok"),
      ((col("nl") - col("nx")) * 100L >= col("ne") * 66L).as("recall_ok"))
    materializedAndReleased(s, out, exact, lshp)
  }

  /** SemDeDup-style semantic near-dup ([[Similarity.semanticPairs]]:
    * k-means cells bound the pairwise-cosine blocks), held to the same
    * oracle-EXACT invariant standard as [[dedupEmbeddingLsh]]: the full
    * cluster-then-verify pipeline runs, and the singleton asserts
    * semantic ⊆ exact (each pair is exact-verified inside its cell, so
    * the subset holds by construction) and recall over the exact pair
    * set clears the measured floor. The entry runs `nAssign = 2`
    * (overlapping cells — the IVF-nprobe analog): this corpus's planted
    * pairs sit at cosine 0.45-0.51, right at the threshold, where
    * single-cell assignment loses boundary-straddling pairs (measured at
    * nAssign=1: 42.9/66.7/41.8% at sf0.001/0.01/0.1) while two-cell
    * assignment recovers them (85.7/93.3/78.7%, deterministic seeds).
    * Floor 72 follows the [[embeddingLshRecall]] convention: ONE lost
    * pair at sf0.001 (7-pair population, 14.3 points) trips, and
    * deterministic seeds mean there is no variance to absorb. `n_exact`
    * is oracle-derived from the [[dedupEmbedding]] pair SQL, so
    * exact-path drift also flips the hash.
    */
  def dedupSemantic(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val exact = Similarity.cosinePairs(emb, tnum = 9, tden = 20).cache()
    val sem = Similarity.semanticPairs(emb, nCells = 8, iters = 4,
      tnum = 9, tden = 20, nAssign = 2).cache()
    val ne = exact.agg(count(lit(1)).as("ne"))
    val ns = sem.agg(count(lit(1)).as("ns"))
    val extra = sem.join(exact, Seq("da", "db"), "left_anti")
      .agg(count(lit(1)).as("nx"))
    val out = ne.crossJoin(ns).crossJoin(extra).select(
      col("ne").cast("long").as("n_exact"),
      (col("nx") === 0L).as("subset_ok"),
      ((col("ns") - col("nx")) * 100L >= col("ne") * 72L).as("recall_ok"))
    materializedAndReleased(s, out, exact, sem)
  }

  /** Embedding near-dup cluster assignment: [[Cluster.connectedComponents]]
    * over the EXACT cosine pair graph (same edges as [[dedupEmbedding]]) —
    * the vector-side twin of [[dedupClusters]], fully oracle-exact via the
    * same recursive-CTE closure over the quantized-cosine pair SQL.
    */
  def dedupEmbeddingClusters(s: SparkSession, d: String): DataFrame =
    Cluster.connectedComponents(s,
      Similarity.cosinePairs(Tables.embeddings(s, d), tnum = 9, tden = 20))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
      .orderBy("vec_id")

  /** Near-dup cluster assignment: connected components over the exact
    * n-gram Jaccard pair graph (same edges as [[dedupNgram]]), one
    * `(doc_id, cluster_id = component min)` row per document appearing in
    * any pair. The transitive-closure step pair emission alone cannot
    * express — see [[graft.pipeline.Cluster]]. The DuckDB oracle computes
    * the same components via a recursive CTE, so the large-star/small-star
    * contraction is held to an independent exact closure.
    */
  def dedupClusters(s: SparkSession, d: String): DataFrame =
    Cluster.connectedComponents(s,
      Dedup.ngramJaccardPairs(Tables.documents(s, d), n = 3, tnum = 1, tden = 2))
      .orderBy("doc_id")

  /** Plan-audit variant of [[dedupClusters]]: ONE representative
    * contraction round via [[Cluster.planOf]], unexecuted and
    * unconverged — registered in [[planOnlyQueries]] so the audit tool
    * never needs a global flag that could leak wrong clusters into a
    * production call path.
    */
  private def dedupClustersPlan(s: SparkSession, d: String): DataFrame =
    Cluster.planOf(
      Dedup.ngramJaccardPairs(Tables.documents(s, d), n = 3, tnum = 1, tden = 2))
      .orderBy("doc_id")

  /** Benchmark decontamination over the documents table: docs 0-49 play
    * the eval set, the rest the training crawl; flag any training doc
    * sharing >= 5 distinct word-trigram shingles with an eval doc.
    */
  def textContamination(s: SparkSession, d: String): DataFrame =
    Dedup.contamination(Tables.documents(s, d), col("doc_id") < 50,
      n = 3, minShared = 5L).orderBy("train_id", "eval_id")

  /** The composed pre-training prep DAG as ONE declarative plan: exact
    * dedup keepers -> quality keep flag -> English only -> corpus stats
    * (surviving doc count + total whitespace tokens).
    *
    * Fused to ONE corpus scan: `n_tokens`, the quality keep flag, and the
    * language prediction are all pure per-row functions of `text`
    * (expression-level variants from [[TextAnalysis]]), so they evaluate
    * in a single projection and the filter pushes into the scan. The
    * dedup-keeper join folds into the group-by as well: every member of a
    * text group carries identical flags, so a group survives the filter
    * atomically and "count/sum over keeper rows" equals "count/sum over
    * surviving text groups" — no second pass over the corpus, no join.
    * One scan + one hash shuffle (the dedup group-by, keyed on text; at
    * 100 TB key on a 128-bit text hash — same note as [[Dedup.exact]]).
    * The oracle recomputes the original keeper-join composition in SQL,
    * so the equivalence itself is oracle-checked.
    */
  def pipelinePrep(s: SparkSession, d: String): DataFrame =
    corpusStats(
      prepFiltered(Tables.documents(s, d))
        .groupBy("text").agg(first(col("n_tokens")).as("n_tokens")))

  /** The per-row prep projection + keep/language filter — the ONE
    * Spark-side policy body shared by [[pipelinePrep]] and
    * [[pipelinePrepFull]] (their oracles share prepCtes the same way,
    * so neither side can drift between the two variants).
    */
  private def prepFiltered(docs: DataFrame): DataFrame =
    docs.select(col("text"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      TextAnalysis.keepExpr(col("text")).as("keep"),
      TextAnalysis.langPredExpr(col("text")).as("lang_pred"))
      .filter(col("keep") === 1 && col("lang_pred") === "en")

  private def corpusStats(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).cast("long").as("n_docs"),
      coalesce(sum(col("n_tokens").cast("long")), lit(0L)).as("total_tokens"))

  /** The FULL prep policy, [[pipelinePrep]] plus the near-dup stage:
    * exact-dedup keepers -> drop near-dup cluster non-keepers (connected
    * components over the [[dedupNgram]] pair graph; survivors are each
    * cluster's minimum id) -> quality keep -> English only -> corpus
    * stats. The cluster stage is iterative (star contraction), so unlike
    * [[pipelinePrep]] this is not ONE declarative plan — but the per-row
    * quality/langid functions still fuse into the scan projection, and
    * the near-dup subtraction is a single left-anti join against the
    * non-keeper id list (tiny: one id per dropped near-dup, broadcast at
    * any realistic dup rate). The oracle recomposes the whole policy in
    * SQL with a recursive-CTE closure, so the composition itself is
    * oracle-checked end-to-end.
    */
  def pipelinePrepFull(s: SparkSession, d: String): DataFrame =
    pipelinePrepFullWith(Cluster.connectedComponents(s, _))(s, d)

  /** Plan-audit variant of [[pipelinePrepFull]] (see [[dedupClustersPlan]]). */
  private def pipelinePrepFullPlan(s: SparkSession, d: String): DataFrame =
    pipelinePrepFullWith(Cluster.planOf)(s, d)

  /** The shared body: only the cluster step differs between the real
    * query (converged components) and the plan-audit variant (one
    * representative round, unexecuted).
    */
  private def pipelinePrepFullWith(clusterFn: DataFrame => DataFrame)
                                  (s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val clusters = clusterFn(
      Dedup.ngramJaccardPairs(docs, n = 3, tnum = 1, tden = 2))
    val nonKeepers = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    val exactKeepers = docs.groupBy("text").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    corpusStats(prepFiltered(
      docs.join(exactKeepers, "doc_id")
        .join(nonKeepers, Seq("doc_id"), "left_anti")))
  }

  /** The full prep DAG extended with the VECTOR dedup stage — text and
    * embedding near-dup removal in ONE composed plan: exact-dedup
    * keepers -> n-gram near-dup cluster non-keepers dropped ->
    * embedding-cosine losers dropped (a doc is dropped when its vector
    * has a lower-id neighbor at cos >= 9/20, the [[dedupEmbedding]]
    * threshold; doc_id = vec_id by testdata construction) -> quality ->
    * English -> corpus stats.
    *
    * Scale shape: both drop lists are near-dup-sized anti-join inputs
    * (one id per dropped doc — broadcast at any realistic dup rate), so
    * the corpus still pays ONE scan + the dedup group-by; the vector
    * stage adds only the pair computation, and a production corpus
    * swaps [[Similarity.cosinePairs]] for the bucketed
    * [[Similarity.lshCosinePairs]] without touching the composition
    * (both emit `(da, db)`).
    */
  def pipelinePrepEmb(s: SparkSession, d: String): DataFrame =
    pipelinePrepEmbWith(Cluster.connectedComponents(s, _))(s, d)

  /** Plan-audit variant (see [[dedupClustersPlan]]). */
  private def pipelinePrepEmbPlan(s: SparkSession, d: String): DataFrame =
    pipelinePrepEmbWith(Cluster.planOf)(s, d)

  /** The documented production swap of [[pipelinePrepEmb]]: identical
    * composition with the exact all-pairs vector stage replaced by the
    * bucketed [[Similarity.lshCosinePairsAuto]] pair stream (both emit
    * `(da, db)`). LSH pairs are exactly-verified candidates, so they
    * are a SUBSET of the exact pairs — this variant can only drop
    * fewer documents, never different ones (kept_exact ⊆ kept_lsh;
    * pinned in SimilaritySpec). Not a driver entry: its output is
    * recall-dependent, and its correctness claim is carried by the
    * subset relation plus the `embedding_lsh_recall` gates.
    */
  private[graft] def pipelinePrepEmbLsh(s: SparkSession,
                                        d: String): DataFrame =
    pipelinePrepEmbWith(Cluster.connectedComponents(s, _),
      emb => Similarity.lshCosinePairsAuto(emb, bands = 64, rBase = 8,
        tnum = 9, tden = 20))(s, d)

  private def pipelinePrepEmbWith(clusterFn: DataFrame => DataFrame,
                                  pairFn: DataFrame => DataFrame =
                                    Similarity.cosinePairs(_, tnum = 9, tden = 20))
                                 (s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val clusters = clusterFn(
      Dedup.ngramJaccardPairs(docs, n = 3, tnum = 1, tden = 2))
    val nonKeepers = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    val exactKeepers = docs.groupBy("text").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val embDrop = pairFn(Tables.embeddings(s, d))
      .select(col("db").as("doc_id")).distinct()
    corpusStats(prepFiltered(
      docs.join(exactKeepers, "doc_id")
        .join(nonKeepers, Seq("doc_id"), "left_anti")
        .join(embDrop, Seq("doc_id"), "left_anti")))
  }

  /** Funnel observability over the FULL prep policy: survivor counts
    * after each stage (exact dedup -> near-dup removal -> quality ->
    * English), one row of singleton aggregates — the report a pipeline
    * operator reads before shipping a corpus. Stage semantics are the
    * SAME composition as [[pipelinePrepFull]] (shared helpers), so
    * `n_en` here always equals that query's `n_docs`.
    */
  def pipelineFunnel(s: SparkSession, d: String): DataFrame =
    pipelineFunnelWith(Cluster.connectedComponents(s, _))(s, d)

  /** Plan-audit variant (see [[dedupClustersPlan]]). */
  private def pipelineFunnelPlan(s: SparkSession, d: String): DataFrame =
    pipelineFunnelWith(Cluster.planOf)(s, d)

  private def pipelineFunnelWith(clusterFn: DataFrame => DataFrame)
                                (s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val exactKeepers = docs.groupBy("text")
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(1).as("ex"))
    val nonKeepers = clusterFn(
      Dedup.ngramJaccardPairs(docs, n = 3, tnum = 1, tden = 2))
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), lit(1).as("nk"))
    // one-pass flag algebra: each doc carries its stage-survival bits,
    // ONE aggregate folds all five counts — no per-stage subtree replay,
    // no cross joins (stage nesting makes the products the survivor
    // counts of the SAME composition as pipelinePrepFull)
    docs.join(exactKeepers, Seq("doc_id"), "left")
      .join(nonKeepers, Seq("doc_id"), "left")
      .select(coalesce(col("ex"), lit(0)).as("ex"),
        coalesce(col("nk"), lit(0)).as("nk"),
        TextAnalysis.keepExpr(col("text")).as("kq"),
        when(TextAnalysis.langPredExpr(col("text")) === "en", 1)
          .otherwise(0).as("ke"))
      .select(col("ex"), (col("ex") * (lit(1) - col("nk"))).as("nr"),
        col("kq"), col("ke"))
      .agg(count(lit(1)).cast("long").as("n_total"),
        coalesce(sum(col("ex")), lit(0L)).cast("long").as("n_exact"),
        coalesce(sum(col("nr")), lit(0L)).cast("long").as("n_neardup"),
        coalesce(sum(col("nr") * col("kq")), lit(0L)).cast("long")
          .as("n_quality"),
        coalesce(sum(col("nr") * col("kq") * col("ke")), lit(0L))
          .cast("long").as("n_en"))
  }

  // --- similarity search ---

  def annTopk(s: SparkSession, d: String): DataFrame =
    Similarity.bruteForceTopK(Tables.embeddings(s, d), k = 3,
      queryPred = col("vec_id") < 100).orderBy("qid", "rank")

  /** Attribute-filtered exact top-k (hybrid search): neighbors must
    * share the query's label — metadata constraint + vector ranking,
    * and the label key makes the search join hash-partitionable.
    */
  def annFiltered(s: SparkSession, d: String): DataFrame =
    Similarity.filteredTopK(Tables.embeddings(s, d), k = 3,
      queryPred = col("vec_id") < 100).orderBy("qid", "rank")

  /** Banded-LSH top-k — approximate by design (rows-only); its recall
    * floor vs [[annTopk]] is the oracle-exact [[annRecall]] gate. At the
    * synthetic tables' low neighbor similarity (cos ~0.45-0.5, bit
    * agreement p ~0.65) bands=16, r=6 give expected recall
    * 1-(1-p^6)^16 ~ 0.7 at a ~bands/2^r = 25% background candidate rate;
    * production corpora with cos >= 0.85 neighbors run higher r at the
    * same recall for far fewer candidates.
    */
  private[graft] def annLshRows(s: SparkSession, d: String): DataFrame =
    Similarity.lshTopKAuto(Tables.embeddings(s, d), k = 3, bands = 16,
      rBase = 6, queryPred = col("vec_id") < 100).orderBy("qid", "rank")

  /** [[annLshRows]] under the probe-invariant gate
    * ([[probeInvariants]]): the full LSH search runs, and the emitted
    * singleton is oracle-exact — `n_queries` must equal the query
    * population the oracle counts, every query must return exactly k
    * distinct non-self neighbors ranked 1..k with monotone scores, and
    * (LSH ranks by EXACT dots over its candidates) every emitted score
    * must equal the recomputed exact dot. Recall floors stay with the
    * [[annRecall]] gate.
    */
  def annLsh(s: SparkSession, d: String): DataFrame =
    probeInvariants(s, d, annLshRows(s, d), k = 3, scoreCol = "dot",
      exactDots = true)

  // --- persisted ANN index lifecycle (build once → probe many) ---
  // The trained-ANN paths (IVF / PQ / IVF-PQ) run k-means at BUILD time
  // only: the `*_build` entries train and persist codebooks/codes/cells
  // as parquet ([[graft.pipeline.AnnIndex]]), and the probe entries
  // read them — a probe never pays training (the reference's load-time
  // index-build contract, storage.c:1389-1490). Probe entries
  // `ensure*` first, so they stay self-contained whatever order the
  // driver runs them in — after the first build the ensure is one
  // cheap fingerprint aggregate.

  private def annIvfDir(d: String) = s"${AnnIndex.rootFor(d)}/ivf-c16-i2"
  private def annPqDir(d: String) = s"${AnnIndex.rootFor(d)}/pq-m32-ks32-i2"
  private def annIvfPqDir(d: String) =
    s"${AnnIndex.rootFor(d)}/ivfpq-m32-ks32-i2-c16"

  private def ensureIvfIndex(s: SparkSession, d: String): Unit =
    Ivf.ensureIndex(Tables.embeddings(s, d), annIvfDir(d),
      nCells = 16, iters = 2)
  private def ensurePqIndex(s: SparkSession, d: String): Unit =
    Pq.ensureIndex(Tables.embeddings(s, d), annPqDir(d),
      m = 32, ks = 32, iters = 2)
  private def ensureIvfPqIndex(s: SparkSession, d: String): Unit =
    Pq.ensureIndexIvf(Tables.embeddings(s, d), annIvfPqDir(d),
      m = 32, ks = 32, iters = 2, nCells = 16)

  private def annQueries(s: SparkSession, d: String): DataFrame =
    Similarity.prepared(Tables.embeddings(s, d)).filter(annQueryPred)

  /** Oracle-exact invariant gate over a top-k probe output — the
    * `agg_approx_gate` pattern applied to the approximate ANN entries:
    * the probe's full search runs (it feeds every aggregate below), and
    * the singleton emitted instead of the raw approximate rows holds
    * the properties a correct probe guarantees BY CONSTRUCTION, so the
    * DuckDB oracle can derive the expected row in plain SQL:
    *
    *  - `n_queries` — distinct qids in the output; must equal the
    *    query population (`vec_id < 100`) the oracle counts. A query
    *    that loses all its candidates (broken bucketing/cells) shrinks
    *    this and fails the hash compare. Deterministic seeds + corpora
    *    make the full-coverage expectation exact at every driver SF
    *    (measured: 300 = 100×k rows at sf0.001/0.01/0.1 for all four
    *    probe paths).
    *  - `rows_ok` — every query returns exactly k distinct non-self
    *    neighbors ranked 1..k.
    *  - `monotone_ok` — scores are non-increasing in rank per query
    *    (the (score desc, nid asc) ranking contract).
    *  - `neighbors_ok` — every returned nid exists in the corpus (a
    *    stale persisted index surfaces here).
    *  - `scores_exact_ok` (exact-dot paths only: LSH and IVF rank
    *    their candidates by true integer dots) — every emitted score
    *    equals the dot recomputed from the corpus vectors.
    *
    * WHICH neighbors the probe returns is the one thing invariants
    * cannot pin (that is approximation quality) — that stays with the
    * measured-floor recall gates ([[annRecall]]/[[annPqRecall]]).
    */
  private def probeInvariants(s: SparkSession, d: String, raw: DataFrame,
                              k: Int, scoreCol: String,
                              exactDots: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, d)
    val probe = raw.cache()
    val w = Window.partitionBy("qid").orderBy("rank")
    val per = probe
      .withColumn("m",
        coalesce(col(scoreCol) <= lag(col(scoreCol), 1).over(w), lit(true)))
      .groupBy("qid").agg(
        count(lit(1)).as("n"), countDistinct(col("nid")).as("dn"),
        min(col("rank")).as("rmin"), max(col("rank")).as("rmax"),
        min(col("m").cast("int")).as("mono"),
        max((col("nid") === col("qid")).cast("int")).as("self"))
    val shape = per.agg(
      count(lit(1)).cast("long").as("n_queries"),
      coalesce(min((col("n") === k && col("dn") === k &&
        col("rmin") === 1 && col("rmax") === k &&
        col("self") === 0).cast("int")) === 1, lit(false)).as("rows_ok"),
      coalesce(min(col("mono")) === 1, lit(false)).as("monotone_ok"))
    val inCorpus = probe
      .join(emb.select(col("vec_id").as("nid")), Seq("nid"), "left_anti")
      .agg((count(lit(1)) === 0).as("neighbors_ok"))
    val base = shape.crossJoin(inCorpus)
    val out =
      if (!exactDots) base
      else {
        val p = Similarity.prepared(emb)
        val bad = probe
          .join(p.select(col("vec_id").as("qid"), col("q").as("eq")), "qid")
          .join(p.select(col("vec_id").as("nid"), col("q").as("en")), "nid")
          .filter(col(scoreCol) =!= LongArrayDot(col("eq"), col("en")))
          .agg((count(lit(1)) === 0).as("scores_exact_ok"))
        base.crossJoin(bad)
      }
    materializedAndReleased(s, out, probe)
  }

  /** Unconditional IVF index (re)build — the index-maintenance job a
    * production pipeline schedules per corpus snapshot — emitting an
    * oracle-EXACT invariant row read back from the PERSISTED parquet
    * (never from in-memory state, so a half-written index fails):
    * `coded_once_ok` — every corpus vector appears in exactly one
    * inverted list (list rows = distinct nids = corpus N, which also
    * pins the cell-size sum); `cells_ok` — the centroid codebook holds
    * exactly nCells entries and every list row's cell id is in range;
    * `vectors_match_ok` — each stored list vector is byte-equal to the
    * corpus vector it claims to be. `n_vectors` itself is the corpus
    * count the DuckDB oracle derives, so a build that drops, dups, or
    * corrupts any vector flips a hashed value. (The k-means replay
    * stays impractical in SQL — centroid QUALITY is what the
    * [[annRecall]] floor gates.)
    */
  def annIvfBuild(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Ivf.buildIndex(emb, annIvfDir(d), nCells = 16, iters = 2)
    val lists = s.read.parquet(s"${annIvfDir(d)}/lists")
    val cents = s.read.parquet(s"${annIvfDir(d)}/centroids")
    val p = Similarity.prepared(emb)
    val nv = emb.agg(count(lit(1)).as("nv"))
    val la = lists.agg(count(lit(1)).as("nl"),
      countDistinct(col("nid")).as("dl"),
      min(col("cell")).as("cmin"), max(col("cell")).as("cmax"))
    val ca = cents.agg(count(lit(1)).as("nc"))
    val vm = lists
      .join(p.select(col("vec_id").as("nid"), col("q").as("pq")), "nid")
      .agg(sum(when(col("nq") === col("pq"), 1L).otherwise(0L)).as("nm"))
    val out = nv.crossJoin(la).crossJoin(ca).crossJoin(vm).select(
      col("nv").cast("long").as("n_vectors"),
      (col("nl") === col("nv") && col("dl") === col("nv")).as("coded_once_ok"),
      (col("nc") === 16 &&
        coalesce(col("cmin") >= 0 && col("cmax") < 16, lit(false))).as("cells_ok"),
      (coalesce(col("nm"), lit(0L)) === col("nv")).as("vectors_match_ok"))
    materializedAndReleased(s, out)
  }

  /** Unconditional flat-PQ index (re)build; oracle-EXACT invariant row
    * read back from the persisted parquet: `coded_once_ok` — one packed
    * code row per corpus vector (rows = distinct nids = N);
    * `codebook_ok` — exactly m×ks centroids, all m subspaces present,
    * cid range exactly 0..ks−1 (which bounds every stored code, since
    * codes are min_by cids of this codebook); `code_len_ok` — every
    * packed code is exactly m bytes. Same rationale as [[annIvfBuild]].
    */
  def annPqBuild(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Pq.buildIndex(emb, annPqDir(d), m = 32, ks = 32, iters = 2)
    val cb = s.read.parquet(s"${annPqDir(d)}/codebook")
    val codes = s.read.parquet(s"${annPqDir(d)}/codes")
    val nv = emb.agg(count(lit(1)).as("nv"))
    val cba = cb.agg(count(lit(1)).as("ncb"),
      countDistinct(col("sub")).as("ds"),
      min(col("cid")).as("cidmin"), max(col("cid")).as("cidmax"))
    val coa = codes.agg(count(lit(1)).as("nco"),
      countDistinct(col("nid")).as("dco"),
      min(length(col("codes"))).as("lmin"),
      max(length(col("codes"))).as("lmax"))
    val out = nv.crossJoin(cba).crossJoin(coa).select(
      col("nv").cast("long").as("n_vectors"),
      (col("nco") === col("nv") && col("dco") === col("nv")).as("coded_once_ok"),
      (col("ncb") === 32 * 32 && col("ds") === 32 &&
        coalesce(col("cidmin") === 0 && col("cidmax") === 31,
          lit(false))).as("codebook_ok"),
      coalesce(col("lmin") === 32 && col("lmax") === 32,
        lit(false)).as("code_len_ok"))
    materializedAndReleased(s, out)
  }

  /** Unconditional IVF-PQ index (re)build; oracle-EXACT invariant row
    * read back from the persisted parquet — the [[annPqBuild]]
    * invariants plus the coarse layer's: exactly nCells coarse
    * centroids and every packed-code row's cell id in range
    * (`cells_ok`). `coded_once_ok` spanning the cell-partitioned codes
    * pins the per-cell size sum to the corpus count.
    */
  def annIvfPqBuild(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Pq.buildIndexIvf(emb, annIvfPqDir(d), m = 32, ks = 32, iters = 2,
      nCells = 16)
    val coarse = s.read.parquet(s"${annIvfPqDir(d)}/coarse")
    val cb = s.read.parquet(s"${annIvfPqDir(d)}/codebook")
    val codes = s.read.parquet(s"${annIvfPqDir(d)}/codes")
    val nv = emb.agg(count(lit(1)).as("nv"))
    val ga = coarse.agg(count(lit(1)).as("ng"))
    val cba = cb.agg(count(lit(1)).as("ncb"),
      countDistinct(col("sub")).as("ds"),
      min(col("cid")).as("cidmin"), max(col("cid")).as("cidmax"))
    val coa = codes.agg(count(lit(1)).as("nco"),
      countDistinct(col("nid")).as("dco"),
      min(length(col("codes"))).as("lmin"),
      max(length(col("codes"))).as("lmax"),
      min(col("cell")).as("cmin"), max(col("cell")).as("cmax"))
    val out = nv.crossJoin(ga).crossJoin(cba).crossJoin(coa).select(
      col("nv").cast("long").as("n_vectors"),
      (col("nco") === col("nv") && col("dco") === col("nv")).as("coded_once_ok"),
      (col("ng") === 16 &&
        coalesce(col("cmin") >= 0 && col("cmax") < 16, lit(false))).as("cells_ok"),
      (col("ncb") === 32 * 32 && col("ds") === 32 &&
        coalesce(col("cidmin") === 0 && col("cidmax") === 31,
          lit(false))).as("codebook_ok"),
      coalesce(col("lmin") === 32 && col("lmax") === 32,
        lit(false)).as("code_len_ok"))
    materializedAndReleased(s, out)
  }

  private def annIvfAppendDir(d: String) =
    s"${AnnIndex.rootFor(d)}/ivf-append-c16-i2"
  private def annIvfPqAppendDir(d: String) =
    s"${AnnIndex.rootFor(d)}/ivfpq-append-m32-ks32-i2-c16"

  /** INCREMENTAL index maintenance, driver-gated: build the IVF index
    * on the even half of the corpus, [[Ivf.appendIndex]] the odd half
    * (one broadcast-assign pass against the EXISTING centroids —
    * batch-proportional, no retrain), and emit an oracle-exact
    * invariant singleton over the PERSISTED result: the append was
    * taken (`append_applied_ok` — the corpus doubles, inside the
    * maxGrowth=3 gate), every corpus vector is coded exactly once
    * across build+append (`coded_once_ok`), every appended row's cell
    * and stored vector equal an independent re-assignment under the
    * stored centroids (`assign_match_ok` — append is the same
    * deterministic argmin as build-time assign), and the advanced meta
    * fingerprint matches the FULL corpus (`meta_current_ok` — ensure
    * would not rebuild). Uses its own index dir so the shared
    * [[annIvf]] lifecycle entries never see appended state.
    */
  def annIvfAppend(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val dir = annIvfAppendDir(d)
    val base = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    Ivf.buildIndex(base, dir, nCells = 16, iters = 2)
    val applied = Ivf.appendIndex(batch, dir, nCells = 16, iters = 2,
      maxGrowth = 3.0)
    val lists = s.read.parquet(s"$dir/lists")
    val cents = s.read.parquet(s"$dir/centroids")
    val nv = emb.agg(count(lit(1)).as("nv"))
    val nb = batch.agg(count(lit(1)).as("nb"))
    val la = lists.agg(count(lit(1)).as("nl"),
      countDistinct(col("nid")).as("dl"))
    val am = lists.filter(col("nid") % 2 === 1)
      .join(Ivf.assign(Similarity.prepared(batch), cents)
        .select(col("vec_id").as("nid"), col("cid"), col("q")), "nid")
      .agg(sum(when(col("cell") === col("cid") && col("nq") === col("q"),
        1L).otherwise(0L)).as("nmatch"))
    val out = nv.crossJoin(nb).crossJoin(la).crossJoin(am).select(
      col("nv").cast("long").as("n_vectors"),
      lit(applied).as("append_applied_ok"),
      (col("nl") === col("nv") && col("dl") === col("nv")).as("coded_once_ok"),
      (coalesce(col("nmatch"), lit(0L)) === col("nb")).as("assign_match_ok"),
      lit(AnnIndex.isCurrent(emb, dir, Seq(16, 2))).as("meta_current_ok"))
    materializedAndReleased(s, out)
  }

  /** [[annIvfAppend]] for the production IVF-PQ composition:
    * [[Pq.appendIndexIvf]] residual-encodes the odd half against the
    * EXISTING coarse centroids and codebooks and appends the packed
    * codes; `codes_match_ok` holds every appended row byte-equal to an
    * independent [[Pq.encodeIvf]] re-encoding under the stored
    * quantizers. Same gate/meta invariants as the IVF entry.
    */
  def annIvfPqAppend(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val dir = annIvfPqAppendDir(d)
    val base = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    Pq.buildIndexIvf(base, dir, m = 32, ks = 32, iters = 2, nCells = 16)
    val applied = Pq.appendIndexIvf(batch, dir, m = 32, ks = 32, iters = 2,
      nCells = 16, maxGrowth = 3.0)
    val codes = s.read.parquet(s"$dir/codes")
    val nv = emb.agg(count(lit(1)).as("nv"))
    val nb = batch.agg(count(lit(1)).as("nb"))
    val la = codes.agg(count(lit(1)).as("nl"),
      countDistinct(col("nid")).as("dl"))
    val cm = codes.filter(col("nid") % 2 === 1)
      .join(Pq.encodeIvf(batch, dir, m = 32)
        .select(col("nid"), col("codes").as("codes2"),
          col("cell").as("cell2")), "nid")
      .agg(sum(when(col("cell") === col("cell2") &&
        col("codes") === col("codes2"), 1L).otherwise(0L)).as("nmatch"))
    val out = nv.crossJoin(nb).crossJoin(la).crossJoin(cm).select(
      col("nv").cast("long").as("n_vectors"),
      lit(applied).as("append_applied_ok"),
      (col("nl") === col("nv") && col("dl") === col("nv")).as("coded_once_ok"),
      (coalesce(col("nmatch"), lit(0L)) === col("nb")).as("codes_match_ok"),
      lit(AnnIndex.isCurrent(emb, dir, Seq(32, 32, 2, 16)))
        .as("meta_current_ok"))
    materializedAndReleased(s, out)
  }

  private[graft] def annIvfRows(s: SparkSession, d: String): DataFrame = {
    ensureIvfIndex(s, d)
    Ivf.probeIndex(annIvfDir(d), annQueries(s, d), k = 3, nprobe = 4)
      .orderBy("qid", "rank")
  }

  /** IVF-bucketed ANN probe against the persisted index — coarse cells
    * + nprobe search at probe-only cost. The full probe runs
    * ([[annIvfRows]]) and the entry emits the oracle-exact
    * [[probeInvariants]] singleton; IVF ranks its cell candidates by
    * EXACT dots, so `scores_exact_ok` holds every emitted score to the
    * recomputed dot. The recall floor stays with [[annRecall]].
    */
  def annIvf(s: SparkSession, d: String): DataFrame =
    probeInvariants(s, d, annIvfRows(s, d), k = 3, scoreCol = "dot",
      exactDots = true)

  /** Product-quantization ANN probe against the persisted index:
    * candidates stored as m=32 subspace codes (~20 bytes standing in
    * for the 64-dim vector), scored by ADC table lookups — approximate
    * by design (rows-only); its recall floor vs [[annTopk]] is the
    * oracle-exact [[annPqRecall]] gate.
    */
  private[graft] def annPqRows(s: SparkSession, d: String): DataFrame = {
    ensurePqIndex(s, d)
    Pq.probeIndex(annPqDir(d), annQueries(s, d), k = 3, m = 32)
      .orderBy("qid", "rank")
  }

  /** The driver entry: the full ADC probe runs ([[annPqRows]]) and the
    * emitted singleton is the oracle-exact [[probeInvariants]] row (no
    * exact-dot check — ADC scores are approximate by design; ranking
    * fidelity is the [[annPqRecall]] floor).
    */
  def annPq(s: SparkSession, d: String): DataFrame =
    probeInvariants(s, d, annPqRows(s, d), k = 3, scoreCol = "score",
      exactDots = false)

  /** Recall gate for BOTH PQ paths against one exact computation
    * (the [[annRecall]] two-path pattern), probing the PERSISTED
    * indexes: flat PQ floor 60% (measured 69.0/66.7/65.7%
    * at sf0.001/0.01/0.1 — the strongest approximate path on these
    * thin-margin embeddings) and IVF-PQ floor 50% (residual encoding +
    * nprobe=8: measured 64.7/62.3/55.3% — up from 54.0/49.0/47.3% at
    * the r8 raw-vector nprobe=4 composition; see [[annIvfPq]] for the
    * calibration), plus the refined path ([[Pq.probeIndexIvfRefined]],
    * same pool exactly re-ranked) at floor 75% (measured
    * 87.7/83.7/82.7% — the +20-27 point IVFADC+R gain). All floors sit
    * ~5-8 points under their per-SF minima. The k-means replay is
    * impractical in SQL, so the oracle derives the population and the
    * expected all-pass booleans.
    */
  def annPqRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    ensurePqIndex(s, d); ensureIvfPqIndex(s, d)
    val exact = Similarity.bruteForceTopK(emb, k = 3, queryPred = annQueryPred)
      .select("qid", "nid").cache()
    val pq = Pq.probeIndex(annPqDir(d), annQueries(s, d), k = 3, m = 32)
      .select("qid", "nid")
    val ivfpq = Pq.probeIndexIvf(annIvfPqDir(d), annQueries(s, d),
      k = 3, m = 32, nprobe = 8).select("qid", "nid")
    val refined = Pq.probeIndexIvfRefined(annIvfPqDir(d), annQueries(s, d),
      emb, k = 3, m = 32, nprobe = 8, rerank = 12).select("qid", "nid")
    val tot = exact.agg(count(lit(1)).as("n_exact"))
    val ph = exact.intersect(pq).agg(count(lit(1)).as("pq_hits"))
    val ih = exact.intersect(ivfpq).agg(count(lit(1)).as("ivfpq_hits"))
    val rh = exact.intersect(refined).agg(count(lit(1)).as("refine_hits"))
    val out = tot.crossJoin(ph).crossJoin(ih).crossJoin(rh).select(
      col("n_exact").cast("long").as("n_exact"),
      (col("pq_hits") * 100L >= col("n_exact") * 60L).as("recall_ok"),
      (col("ivfpq_hits") * 100L >= col("n_exact") * 50L).as("ivfpq_recall_ok"),
      (col("refine_hits") * 100L >= col("n_exact") * 75L).as("refine_recall_ok"))
    materializedAndReleased(s, out, exact)
  }

  /** IVF-PQ probe against the persisted index — the standard
    * production composition (IVFADC): coarse cells bound the candidate
    * stream, packed RESIDUAL codes (v − c_cell, Jegou et al. §V) bound
    * the per-candidate cost, and the exact per-cell bias <q, c_cell>
    * completes the score. Probes nprobe=8 cells: ADC candidates cost
    * an m-entry lookup-sum (~free next to an exact dot), so IVFADC
    * conventionally probes wider than exact-ranking IVF —
    * an nprobe sweep measured recall 45/52/55% at nprobe=4
    * vs 65/62/55% at nprobe=8 across SFs. The 8-of-16 ratio is an
    * artifact of the toy cell count at driver scale; production sizes
    * nCells ~ sqrt(corpus) (e.g. 4096 cells at 1e9 vectors), where the
    * same curve sits at nprobe/nCells well under 1%. Rows-only; gated
    * through [[annPqRecall]].
    */
  private[graft] def annIvfPqRows(s: SparkSession, d: String): DataFrame = {
    ensureIvfPqIndex(s, d)
    Pq.probeIndexIvf(annIvfPqDir(d), annQueries(s, d), k = 3, m = 32,
      nprobe = 8).orderBy("qid", "rank")
  }

  /** The driver entry: the full IVFADC probe runs ([[annIvfPqRows]])
    * and the emitted singleton is the oracle-exact [[probeInvariants]]
    * row (bias + ADC scores are approximate by design; ranking
    * fidelity is the [[annPqRecall]] floor).
    */
  def annIvfPq(s: SparkSession, d: String): DataFrame =
    probeInvariants(s, d, annIvfPqRows(s, d), k = 3, scoreCol = "score",
      exactDots = false)

  /** IVF-PQ probe + exact refine ([[Pq.probeIndexIvfRefined]], IVFADC+R):
    * ADC nominates rerank=12 candidates per query, full-precision
    * re-scoring emits the top 3 by TRUE integer dot. Because refined
    * scores are exact, this entry's invariant singleton carries the
    * STRONG `scores_exact_ok` check the plain IVF-PQ entry cannot
    * (every emitted score equals the dot recomputed from the corpus) —
    * and the refine's recall gain over raw IVFADC is large and
    * measured: refined 87.7/83.7/82.7% vs raw
    * 64.7/62.3/55.3% at sf0.001/0.01/0.1 (+20-27 points — most of raw
    * IVFADC's loss here is ADC misranking inside the pool, exactly what
    * re-scoring evicts; refined recall can only be >= the same-pool ADC
    * ranking's, pinned in PqSpec). Recall is floor-gated at 75 in
    * [[annPqRecall]]'s `refine_recall_ok`.
    */
  private[graft] def annIvfPqRefineRows(s: SparkSession, d: String): DataFrame = {
    ensureIvfPqIndex(s, d)
    Pq.probeIndexIvfRefined(annIvfPqDir(d), annQueries(s, d),
      Tables.embeddings(s, d), k = 3, m = 32, nprobe = 8, rerank = 12)
      .orderBy("qid", "rank")
  }

  def annIvfPqRefine(s: SparkSession, d: String): DataFrame =
    probeInvariants(s, d, annIvfPqRefineRows(s, d), k = 3,
      scoreCol = "score", exactDots = true)

  /** Packed-int8 quantized top-k — [[annTopk]] on the 1-byte-per-dim
    * `binary` representation ([[Similarity.quantizedTopK]]): 8x less
    * vector payload through every join/shuffle/cache. Deterministic
    * quantization + integer dots, so unlike LSH/IVF this compressed
    * path is oracle-EXACT (the DuckDB twin replays the int8 bytes with
    * list arithmetic), and its ranking drift vs the uncompressed
    * reference is measured exactly by [[annQuantizedRecall]].
    */
  def annQuantized(s: SparkSession, d: String): DataFrame =
    Similarity.quantizedTopK(Tables.embeddings(s, d), k = 3,
      queryPred = col("vec_id") < 100).orderBy("qid", "rank")

  /** Ranking-fidelity gate for the int8 path: hit count of the
    * quantized top-3 against the long-quantized exact top-3. BOTH
    * sides are deterministic, so — unlike the LSH/IVF gates, where the
    * oracle can only replay the population — the oracle reproduces
    * `q8_hits` itself; a one-hit drift anywhere fails the hash
    * compare. The floor on `recall_ok` documents the acceptable
    * compression loss (measured 64.7/65.3/55.0% at sf0.001/0.01/0.1
    * over 300 exact slots each — the synthetic embeddings' neighbor
    * margins are unusually thin (cos ~0.45-0.5 planted similarity), so
    * int8 reshuffles many borderline ranks; production corpora with
    * separated neighbors sit far higher. Floor 50% is ~5 points under
    * the per-SF minimum, same calibration rule as the LSH/IVF gates).
    */
  def annQuantizedRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // feeds the totals row and the intersect — cache the k*|queries|
    // rows for the duration of this call (same shape as annRecall)
    val exact = Similarity.bruteForceTopK(emb, k = 3, queryPred = annQueryPred)
      .select("qid", "nid").cache()
    val q8 = Similarity.quantizedTopK(emb, k = 3, queryPred = annQueryPred)
      .select("qid", "nid")
    val tot = exact.agg(count(lit(1)).as("n_exact"))
    val hits = exact.intersect(q8).agg(count(lit(1)).as("q8_hits"))
    val out = tot.crossJoin(hits).select(
      col("n_exact").cast("long").as("n_exact"),
      col("q8_hits").cast("long").as("q8_hits"),
      (col("q8_hits") * 100L >= col("n_exact") * 50L).as("recall_ok"))
    materializedAndReleased(s, out, exact)
  }

  /** Oracle-exact recall gate for the approximate ANN paths: top-3
    * overlap of [[annLsh]] and [[annIvf]] against the exact
    * [[annTopk]], aggregated and held to floors the deterministic seeds
    * guarantee at every driver SF (measured: LSH 56.0/58.0/63.0% and
    * IVF 66.0/62.3/62.7% at sf0.001/0.01/0.1; floors 52% / 58% sit
    * within ~5 points of the per-SF minimum, so a 10-point recall
    * regression in either path actually trips). The oracle derives
    * `n_queries` and the expected all-pass booleans in plain SQL, so a
    * recall regression in either approximate path flips a boolean and
    * fails the hash compare — recall is part of the hard driver signal,
    * not just a spec.
    */
  def annRecall(s: SparkSession, d: String): DataFrame =
    annRecallWith(s, d, annQueryPred)

  private def annQueryPred: Column = col("vec_id") < 100

  /** Deterministic md5-priority sample predicate: keeps ids whose
    * 60-bit md5-derived priority falls in the lowest num/den of the
    * space — stable across runs, partitionings, and engines (the same
    * priority trick as [[graft.functions.ReservoirSample]]), so a
    * sampled gate is reproducible and, at driver scale, replayable by
    * the oracle.
    */
  def mdSamplePred(id: Column, num: Long, den: Long): Column =
    conv(substring(md5(id.cast("string")), 1, 15), 16, 10)
      .cast("long") % den < num

  /** The 100 TB gate shape: the driver entry [[annRecall]] scores EVERY
    * query brute-force against the corpus — the right exhaustive check
    * at verification SF, and corpus-quadratic by construction. A
    * production gate bounds that cost by sampling the QUERY set (the
    * candidate corpus stays full, so each sampled query's exact top-k is
    * still the true top-k): recall over a deterministic md5-priority
    * sample of num/den of the queries estimates corpus recall with cost
    * |sample| x |corpus| instead of |queries| x |corpus| — at 1e9
    * vectors, a 1e-5 sample is ~1e4 exact searches per gate run, a
    * nightly-job cost, while the sampler's determinism keeps successive
    * runs comparable (same queries, so a recall drop is a real
    * regression, not sampling noise).
    */
  def annRecallSampled(s: SparkSession, d: String,
                       num: Long, den: Long): DataFrame =
    annRecallWith(s, d, annQueryPred && mdSamplePred(col("vec_id"), num, den),
      lshFloor = 48L, ivfFloor = 54L)

  /** The driver-facing instance of the sampled gate (num/den = 1/2):
    * the 100 TB gate shape itself gets a CORRECTNESS row — the oracle
    * replays the md5-priority sample in SQL and derives the expected
    * sampled-population size, so a sampler drift OR a sampled-recall
    * collapse fails the hash compare. The sampled gate carries its OWN
    * floors (48/54) ~5 points under its per-SF minima — a half-size
    * query population has coarser recall granularity than the
    * exhaustive gate, so its floors calibrate to its own measurements:
    * sampled hits 84/156, 88/156, 91/156 (LSH: min 53.8%) and 104/156,
    * 92/156, 99/156 (IVF: min 59.0%) at sf0.001/0.01/0.1 with
    * deterministic seeds; the exhaustive
    * floors (52/58) would leave under ONE hit of margin on IVF@sf0.01.
    */
  def annRecallSampledHalf(s: SparkSession, d: String): DataFrame =
    annRecallSampled(s, d, num = 1L, den = 2L)

  private def annRecallWith(s: SparkSession, d: String, queryPred: Column,
                            lshFloor: Long = 52L,
                            ivfFloor: Long = 58L): DataFrame = {
    val emb = Tables.embeddings(s, d)
    // the exact list feeds THREE consumers (the totals row and both
    // intersects); uncached, each would replay the all-pairs brute-force
    // scoring — cache the k*|queries| rows for the duration of this call
    val exact = Similarity.bruteForceTopK(emb, k = 3, queryPred = queryPred)
      .select("qid", "nid").cache()
    val lsh = Similarity.lshTopKAuto(emb, k = 3, bands = 16, rBase = 6,
      queryPred = queryPred).select("qid", "nid")
    // the IVF side probes the same persisted index as [[annIvf]]
    // (identical results to inline training — the floors carry over)
    ensureIvfIndex(s, d)
    val ivf = Ivf.probeIndex(annIvfDir(d),
      Similarity.prepared(emb).filter(queryPred), k = 3, nprobe = 4)
      .select("qid", "nid")
    val tot = exact.agg(count(lit(1)).as("n_exact"),
      countDistinct(col("qid")).as("n_queries"))
    val lh = exact.intersect(lsh).agg(count(lit(1)).as("lsh_hits"))
    val ih = exact.intersect(ivf).agg(count(lit(1)).as("ivf_hits"))
    // 1x1 cross joins of singleton aggregates (the flagship pattern)
    val out = tot.crossJoin(lh).crossJoin(ih).select(
      col("n_queries").cast("long").as("n_queries"),
      (col("lsh_hits") * 100L >= col("n_exact") * lshFloor).as("lsh_recall_ok"),
      (col("ivf_hits") * 100L >= col("n_exact") * ivfFloor).as("ivf_recall_ok"))
    materializedAndReleased(s, out, exact)
  }

  /** Materialize a SINGLETON gate result eagerly (it is 1 row by
    * construction) so the caches that fed it can be released before
    * returning — callers without a per-query clearCache loop (verify
    * harness, ad-hoc sessions) must not accumulate one cached RDD per
    * gate invocation. The approximate paths' own internal caches stay
    * under the session clearCache contract; this releases only the
    * cache the gate itself created. The singleton require is load-
    * bearing: this collects to the driver, so a future non-singleton
    * caller must fail loudly rather than silently materialize a big
    * result.
    *
    * Plan inspection escape: with system property `graft.plan.only`
    * set (graft.tools.PlanAudit does), the plan is returned UNRUN —
    * otherwise an `.explain` of a gate query would execute the full
    * recall computation and then dump only a trivial parallelize scan.
    */
  private[graft] def materializedAndReleased(s: SparkSession, out: DataFrame,
                                             cached: DataFrame*): DataFrame = {
    if (sys.props.contains("graft.plan.only")) return out
    val rows = out.collect()
    cached.foreach(_.unpersist())
    require(rows.length == 1,
      s"gate result must be a singleton, got ${rows.length} rows")
    s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq, 1), out.schema)
  }

  /** Oracle-exact recall gate for [[dedupEmbeddingLsh]] — the last
    * approximate path, now held to the same standard as the ANN paths:
    * |LSH pairs ∩ exact pairs| / |exact pairs| with a floor the
    * deterministic hyperplane seeds guarantee at every driver SF
    * (banded LSH misses only pairs sharing no band; candidates are
    * verified exactly, so LSH pairs ⊆ exact pairs and the intersect
    * IS the LSH output size — measured (COVERAGE.md recall gates):
    * 71.4/86.7/86.5% at sf0.001/0.01/0.1 over 7/15/141 exact pairs.
    * The floor 66% sits ~5 points under the per-SF minimum — sf0.001's
    * 7-pair population makes one missed pair worth 14 points, so the
    * floor is where a ONE-pair regression there (or a 20-point collapse
    * at the larger SFs, e.g. the verdict's 6/15 scenario) trips while
    * deterministic-seed variance never does. `n_exact` itself is
    * oracle-derived (the [[dedupEmbedding]] SQL, aggregated), so a
    * recall collapse OR an exact-path drift flips the hash compare.
    */
  def embeddingLshRecall(s: SparkSession, d: String): DataFrame =
    embeddingLshRecallWith(s, d, lit(true))

  /** The 100 TB gate shape for the pairwise gate (see
    * [[annRecallSampled]] for the rationale): the exhaustive exact side
    * scores all document pairs — right at verification SF, quadratic at
    * corpus scale. Here the bounded variant samples DOCUMENTS (an
    * md5-priority num/den of vec_ids) and measures recall on the pairs
    * inside the sample: both sides see the identical sub-corpus, so the
    * ratio is still LSH-found / exact over a like-for-like population,
    * at (num/den)^2 of the exact cost.
    */
  def embeddingLshRecallSampled(s: SparkSession, d: String,
                                num: Long, den: Long): DataFrame =
    embeddingLshRecallWith(s, d, mdSamplePred(col("vec_id"), num, den))

  /** Driver-facing sampled pairwise gate (num/den = 1/2; see
    * [[annRecallSampledHalf]]): the oracle recomputes the exact pairs of
    * the SAMPLED sub-corpus, so `n_exact` checks the sampler and the
    * exact path together. Measured sampled hits 1/1, 3/3, 26/31 at
    * sf0.001/0.01/0.1 — above floor 66 with deterministic seeds.
    */
  def embeddingLshRecallSampledHalf(s: SparkSession, d: String): DataFrame =
    embeddingLshRecallSampled(s, d, num = 1L, den = 2L)

  private def embeddingLshRecallWith(s: SparkSession, d: String,
                                     docPred: Column): DataFrame = {
    val emb = Tables.embeddings(s, d).filter(docPred)
    val exact = Similarity.cosinePairs(emb, tnum = 9, tden = 20).cache()
    val lsh = Similarity.lshCosinePairsAuto(emb,
      bands = 64, rBase = 8, tnum = 9, tden = 20)
    val tot = exact.agg(count(lit(1)).as("n_exact"))
    val hits = exact.intersect(lsh).agg(count(lit(1)).as("lsh_hits"))
    val out = tot.crossJoin(hits).select(
      col("n_exact").cast("long").as("n_exact"),
      (col("lsh_hits") * 100L >= col("n_exact") * 66L).as("lsh_recall_ok"))
    materializedAndReleased(s, out, exact)
  }

  /** The sketch-family representative in the hard driver signal: a
    * deterministic bottom-k sample of lineitem order keys via the
    * [[graft.functions.ReservoirSample]] TypedImperativeAggregate.
    * Priorities are md5-derived (60-bit), so the DuckDB oracle computes
    * the identical sample with plain SQL — O(k) state, exact partial
    * merges, partitioning-independent, and oracle-exact.
    */
  def sampleReservoir(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .select(col("l_orderkey").cast("long").as("x"))
      .agg(ReservoirSample(col("x"), 16, 42L).as("sample"))
      .select(posexplode(col("sample")))
      .select(col("pos").cast("int").as("pos"), col("col").cast("long").as("v"))
      .orderBy("pos")
  }

  // --- text analysis ---

  def textTokens(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokens(Tables.documents(s, d))

  def textTokensBpe(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bpeTokens(Tables.documents(s, d))

  /** Learned BPE merge table (k = 8 rounds) — the oracle SQL is
    * GENERATED for the same k by [[bpeMergeSql]], so DuckDB replays the
    * identical iterative learning loop (pair counts, deterministic
    * argmax, canonical leftmost-first application) round for round.
    */
  def textBpeMerges(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bpeMerges(Tables.documents(s, d), k = bpeMergeRounds)
      .orderBy("rank")

  /** Per-document token counts under the LEARNED tokenizer (apply the
    * [[textBpeMerges]] merges back to the corpus — see
    * [[TextAnalysis.bpeEncodedCounts]]); oracle generated by
    * [[bpeEncodeSql]] over the same replayed chain. Learning runs the
    * BATCHED safe-prefix loop (fewer driver rounds; byte-identical to
    * the sequential loop by [[TextAnalysis.safeBatch]]'s guarantee,
    * which [[textBpeBatched]] holds to the sequential SQL oracle and
    * TextAnalysisSpec pins at this k) — the classic one-merge-per-round
    * shape stays exercised by [[textBpeMerges]].
    */
  def textBpeEncode(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bpeEncodedCounts(Tables.documents(s, d), k = bpeMergeRounds,
      batch = bpeMergeRounds)

  /** The BATCHED learning path (batch = k), answering to the SAME
    * sequential SQL replay oracle as [[textBpeMerges]] — the
    * batched-equals-sequential guarantee ([[TextAnalysis.safeBatch]])
    * is itself part of the hard driver signal, not only a spec.
    */
  def textBpeBatched(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bpeMerges(Tables.documents(s, d), k = bpeMergeRounds,
      batch = bpeMergeRounds).orderBy("rank")

  private val bpeMergeRounds = 8

  /** The BPE learning replay as chained CTEs, one block per round:
    * n{r} adds each symbol's successor, m{r} is the round's argmax pair
    * (count desc, then (lhs, rhs) byte order — the same tie-break the
    * engine uses), h{r} the kept merge heads (odd ranks within islands
    * of consecutive candidates), s{r} the rewritten symbol state.
    */
  private def bpeMergeSql(k: Int): String =
    bpeChainCtes(k) + "\n" + (1 to k).map(r =>
      s"SELECT CAST($r AS INTEGER) AS rank, a AS lhs, b AS rhs, CAST(cnt AS BIGINT) AS cnt FROM m$r")
      .mkString("", "\nUNION ALL\n", "\nORDER BY rank")

  /** Oracle for [[textBpeEncode]]: the same replayed chain, then each
    * word's post-merge symbol count joined back onto the corpus.
    * LEFT JOIN keeps wordless documents at count 0, matching the
    * engine's explode_outer.
    */
  private def bpeEncodeSql(k: Int): String =
    bpeChainCtes(k) + s""",
      |nsym AS MATERIALIZED (
      |  SELECT word, CAST(count(*) AS BIGINT) AS n_sym FROM s$k GROUP BY word),
      |docw AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      |  FROM documents),
      |perdoc AS (
      |  SELECT dw.doc_id, sum(n.n_sym) AS s
      |  FROM docw dw JOIN nsym n USING (word) GROUP BY dw.doc_id)
      |SELECT d.doc_id, CAST(coalesce(p.s, 0) AS BIGINT) AS n_bpe_tokens
      |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** The shared WITH chain through the final state s{k} (see
    * [[bpeMergeSql]] for the per-round block documentation).
    */
  private def bpeChainCtes(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH w AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |    FROM documents) GROUP BY word),
        |s0 AS MATERIALIZED (
        |  SELECT word, freq,
        |    generate_subscripts(string_split(word, ''), 1) - 1 AS pos,
        |    unnest(string_split(word, '')) AS sym
        |  FROM w)""".stripMargin)
    for (r <- 1 to k) {
      sb.append(s""",
        |n$r AS MATERIALIZED (
        |  SELECT word, freq, pos, sym,
        |    lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nsym
        |  FROM s${r - 1}),
        |m$r AS MATERIALIZED (
        |  SELECT sym AS a, nsym AS b, sum(freq) AS cnt FROM n$r
        |  WHERE nsym IS NOT NULL GROUP BY sym, nsym
        |  ORDER BY cnt DESC, a, b LIMIT 1),
        |h$r AS MATERIALIZED (
        |  SELECT word, pos FROM (
        |    SELECT word, pos,
        |      row_number() OVER (PARTITION BY word, grp ORDER BY pos) AS rn
        |    FROM (
        |      SELECT c.word, c.pos,
        |        c.pos - row_number() OVER (PARTITION BY c.word ORDER BY c.pos) AS grp
        |      FROM n$r c CROSS JOIN m$r m
        |      WHERE c.sym = m.a AND c.nsym = m.b))
        |  WHERE rn % 2 = 1),
        |s$r AS MATERIALIZED (
        |  SELECT word, freq,
        |    row_number() OVER (PARTITION BY word ORDER BY pos) - 1 AS pos, sym
        |  FROM (
        |    SELECT c.word, c.freq, c.pos,
        |      CASE WHEN h.pos IS NOT NULL THEN c.sym || c.nsym ELSE c.sym END AS sym
        |    FROM n$r c
        |    LEFT JOIN h$r h ON c.word = h.word AND c.pos = h.pos
        |    LEFT JOIN h$r d ON c.word = d.word AND c.pos = d.pos + 1
        |    WHERE d.pos IS NULL))""".stripMargin)
    }
    sb.toString
  }

  def textQuality(s: SparkSession, d: String): DataFrame =
    TextAnalysis.quality(Tables.documents(s, d))

  def textLangid(s: SparkSession, d: String): DataFrame =
    TextAnalysis.langId(Tables.documents(s, d))

  def textFingerprint(s: SparkSession, d: String): DataFrame =
    TextAnalysis.fingerprint(Tables.documents(s, d))

  def textVocab(s: SparkSession, d: String): DataFrame =
    TextAnalysis.vocabulary(Tables.documents(s, d), k = 50)
      .select(col("token"), col("freq").cast("long").as("freq"))

  /** Rare-token ratio vs the corpus df dictionary (rare = df <= 2). */
  def textRarity(s: SparkSession, d: String): DataFrame =
    TextAnalysis.rarity(Tables.documents(s, d), maxDf = 2L)
      .orderBy("doc_id")

  /** Winnowed rolling-hash fingerprints (md5-based -> oracle-exact). */
  def textWinnow(s: SparkSession, d: String): DataFrame =
    TextAnalysis.winnowedFingerprints(Tables.documents(s, d), k = 5, w = 8)
      .orderBy("doc_id", "fp")

  /** Substring-overlap pairs via shared winnow fingerprints — the
    * substring-dedup proxy (>= 2 shared fingerprints at (k=5, w=8)).
    */
  def dedupSubstring(s: SparkSession, d: String): DataFrame =
    TextAnalysis.substringOverlapPairs(Tables.documents(s, d), k = 5, w = 8,
      minShared = 2L).orderBy("da", "db")

  /** Substring-overlap span resolution (keep-first policy): the token
    * spans each higher-id near-duplicate drops because a lower-id
    * partner already carries them. Same (k, w, minShared) as
    * [[dedupSubstring]].
    */
  def dedupSpans(s: SparkSession, d: String): DataFrame =
    TextAnalysis.substringSpans(Tables.documents(s, d), k = 5, w = 8,
      minShared = 2L).orderBy("doc_id", "start_tok")

  /** Keep-longest span resolution: same overlap pairs, but the pair
    * member with more tokens keeps its text (ties to the lower id) —
    * the policy for boilerplate embedded in longer originals.
    */
  def dedupSpansLongest(s: SparkSession, d: String): DataFrame =
    TextAnalysis.substringSpans(Tables.documents(s, d), k = 5, w = 8,
      minShared = 2L, keepLongest = true).orderBy("doc_id", "start_tok")

  /** Span application: the corpus after executing the keep-first span
    * policy — per doc, surviving token count + md5 of the rebuilt text.
    */
  def dedupSpansApply(s: SparkSession, d: String): DataFrame =
    TextAnalysis.substringSpansApply(Tables.documents(s, d), k = 5, w = 8,
      minShared = 2L).orderBy("doc_id")

  /** Overlapping token-window chunks (width 64, stride 48 — 25%
    * overlap): the embedding/RAG context-window prep over documents.
    */
  def textChunks(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenChunks(Tables.documents(s, d), width = 64, stride = 48)
      .orderBy("doc_id", "chunk_id")

  /** Token-budget shard assignment: distributed prefix-sum scan packing
    * documents in doc_id order into 2048-token training shards.
    */
  def shardPack(s: SparkSession, d: String): DataFrame =
    Packing.tokenShards(Tables.documents(s, d), budget = 2048L, buckets = 8)
      .orderBy("doc_id")

  /** Concat-and-chunk sequence packing ([[Packing.sequencePack]],
    * seqLen 512): the corpus token stream cut into fixed-length
    * training sequences, one row per document × sequence intersection
    * with boundary metadata — the actual LLM-pretraining packer shape
    * (every sequence full at seqLen except the last; the row set IS
    * the trainer's attention/document-boundary mask input).
    */
  def corpusPackSequences(s: SparkSession, d: String): DataFrame =
    Packing.sequencePack(Tables.documents(s, d), seqLen = 512L, buckets = 8)
      .orderBy("seq_id", "doc_id")

  /** Per-source document cap ([[Mixture.capPerSource]], cap 10): the
    * per-domain cap of web curation — keep the 10 best documents per
    * source (quality-gate passers first, then longer, ties by id),
    * bounding any single source's mixture influence.
    */
  def corpusSourceCap(s: SparkSession, d: String): DataFrame =
    Mixture.capPerSource(Tables.documents(s, d), cap = 10)
      .orderBy("source", "rank")

  /** Epoch-weighted mixture expansion ([[Mixture.epochMix]]): 2.5
    * epochs of English, 1 of German, 0.4 of French — every document
    * expands into its deterministic copy count, the repetition-aware
    * manifest a pretraining run consumes (the weights-above-one-epoch
    * complement of [[corpusResample]]).
    */
  def corpusEpochMix(s: SparkSession, d: String): DataFrame =
    Mixture.epochMix(Tables.documents(s, d),
      Map("en" -> 25000, "de" -> 10000, "fr" -> 4000), seed = 42L)
      .orderBy("doc_id", "copy")

  /** Deterministic pseudorandom permutation of the corpus (seed 42) —
    * the shuffle-before-sharding step, exact global rank via the
    * priority-bucketed two-phase scan.
    */
  def corpusShuffle(s: SparkSession, d: String): DataFrame =
    Packing.deterministicShuffle(Tables.documents(s, d), seed = 42L,
      buckets = 8).orderBy("doc_id")

  /** Quality-decile assignment: exact global rank by document length
    * (ties by doc_id) + 1-based decile, via [[Packing.keyedQuantiles]]'
    * counting-sort two-phase scan — the curriculum/filter bucketing
    * step, with no corpus-sized single-partition window anywhere.
    */
  def corpusDeciles(s: SparkSession, d: String): DataFrame =
    Packing.keyedQuantiles(
      Tables.documents(s, d).select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars")),
      keyCol = "n_chars", n = 10)
      .withColumnRenamed("bucket", "decile").orderBy("doc_id")

  /** Deterministic 98/1/1 train/val/test assignment (seed 42): pure
    * per-row consistent-hash membership, no shuffle — adding documents
    * never moves existing ones between splits.
    */
  def corpusSplit(s: SparkSession, d: String): DataFrame =
    Mixture.split(Tables.documents(s, d), trainBp = 9800, valBp = 100,
      seed = 42L).orderBy("doc_id")

  /** The round-trip mixture targets for [[corpusResample]]. The driver
    * corpus is ~90% en + ~10% unknown, so these exercise all three
    * quota regimes: en is budget-limited (quota < population), unknown
    * is population-capped (quota clamp), es is vacuous (target with no
    * population — must contribute zero rows, not fail).
    */
  private val resampleTargets =
    Seq("en" -> 6000, "unknown" -> 3000, "es" -> 1000)

  /** Deterministic mixture resample: select the subset realizing a
    * 60/30/10 en/unknown/es target at a 300-doc budget (md5-priority
    * consistent sampling, seed 42). Runs the salted two-phase top-quota
    * — the 100 TB shape — whose result is provably salt-invariant, so
    * the same plain-window SQL oracle checks it.
    */
  def corpusResample(s: SparkSession, d: String): DataFrame =
    Mixture.resample(Tables.documents(s, d), resampleTargets.toMap,
      budget = 300L, seed = 42L, saltBuckets = 4).orderBy("lang", "doc_id")

  /** Gopher-style repetition filter metrics (integer percentages). */
  def textRepetition(s: SparkSession, d: String): DataFrame =
    TextAnalysis.repetition(Tables.documents(s, d)).orderBy("doc_id")

  /** PII scan + redacted fingerprint (per-row regex family). The driver
    * corpus contains no organic PII — raw counts would be all zeros and
    * the cross-engine redaction semantics never exercised — so the query
    * decorates each document with deterministic doc_id-derived spans
    * (email on ids % 3, ip % 4, phone % 5, ssn % 7) before scanning; the
    * oracle applies the identical decoration in SQL. Counts and the
    * redacted fingerprint therefore differ per row and any Java-vs-RE2
    * divergence in match boundaries or replacement fails the hash compare.
    */
  def textPii(s: SparkSession, d: String): DataFrame =
    TextAnalysis.piiScan(
      Tables.documents(s, d).select(col("doc_id"),
        piiDecorationCol.as("text")))
      .orderBy("doc_id")

  /** The doc_id-derived PII decoration over (`doc_id`, `text`) — the
    * driver corpus has no organic PII, so the spans that exercise the
    * cross-engine regex semantics are synthesized deterministically.
    * Shared by [[textPii]] and [[StreamQueries.streamQuality]]; its SQL
    * twin is [[piiDecorationSql]].
    */
  private[queries] def piiDecorationCol: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    def on(mod: Int, frag: org.apache.spark.sql.Column) =
      when(pmod(id, lit(mod.toLong)) === 0L, frag).otherwise(lit(""))
    concat(col("text"),
      on(3, concat(lit(" contact u"), id.cast("string"), lit("@example.org"))),
      on(4, concat(lit(" from 10.0.0."), pmod(id, lit(250L)).cast("string"))),
      on(5, lit(" call 555-123-4567")),
      on(7, lit(" ssn 987-65-4321")))
  }

  /** Per-doc top-3 TF-IDF terms (rational raw-idf scoring — engine-exact). */
  def textTfidf(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tfidfTopK(Tables.documents(s, d), k = 3)
      .orderBy("doc_id", "rank")

  /** Corpus-mixture stats: per (source, predicted language), the doc
    * count, token sum, and each cell's share of the corpus token budget
    * in basis points (integer-truncated) — the aggregation pass that
    * feeds data-mixing weights before training. One scan (lang/tokens
    * are per-row expressions) + one partial-aggregated group-by; the
    * grand total broadcasts as a 1-row aggregate.
    */
  def corpusMix(s: SparkSession, d: String): DataFrame = {
    // null source coalesces to a named bucket BEFORE the group-by: the
    // mixture report needs unattributed docs visible, and a raw null key
    // would order differently in Spark (NULLS FIRST) vs the DuckDB
    // oracle (NULLS LAST) — the sentinel makes the contract
    // engine-independent
    val base = Tables.documents(s, d).select(
      coalesce(col("source"), lit("(unknown)")).as("source"),
      TextAnalysis.langPredExpr(col("text")).as("lang_pred"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("nt"))
    val cells = base.groupBy("source", "lang_pred")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum(col("nt")), lit(0L)).as("tokens"))
    val total = cells.agg(coalesce(sum(col("tokens")), lit(0L)).as("total"))
    cells.crossJoin(broadcast(total))
      .select(col("source"), col("lang_pred"), col("n_docs"), col("tokens"),
        // integral div, not floor(a/b): Column./ rounds through double,
        // which drifts from the oracle's exact // once tokens*10000
        // passes 2^53 — corpus-level token sums get there
        when(col("total") === 0L, lit(0L))
          .otherwise(call_function("div", col("tokens") * 10000L, col("total")))
          .cast("long").as("share_bp"))
      .orderBy("source", "lang_pred")
  }

  // --- multimodal ---

  /** Real image decode end-to-end: synthesize one BMP per doc (dimensions
    * a function of doc_id), encode with the JDK BMP writer, decode with
    * javax.imageio — the reported width/height are the decoded raster's,
    * and n_bytes is the encoder's actual output size. The oracle
    * recomputes all three in closed form from doc_id (the BMP layout is
    * deterministic: 54-byte header + BGR rows padded to 4 bytes), so a
    * broken encode OR decode hash-mismatches.
    */
  def multimodalFeatures(s: SparkSession, d: String): DataFrame =
    Multimodal.extractFeatures(
        Multimodal.ingestImages(Tables.documents(s, d)))
      .toDF().select(col("doc_id"), col("n_bytes").cast("long"),
        col("width"), col("height"))
      .orderBy("doc_id")

  /** Frame sampling over binary payloads (256-byte frames, every 4th). */
  def multimodalFrames(s: SparkSession, d: String): DataFrame =
    Multimodal.frameSample(
        Multimodal.ingestFromText(Tables.documents(s, d)),
        frameBytes = 256, everyN = 4)
      .toDF().select(col("doc_id"), col("frame_ix"), col("n_bytes"))
      .orderBy("doc_id", "frame_ix")

  // --- event analytics (beyond reference parity: windows/sessions) ---

  def eventsWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        countDistinct(col("event_type")).cast("long").as("n_types"),
        sum(round(col("value") * 100).cast("long")).cast("long").as("cents"))
      .select(col("user_id").cast("long").as("user_id"), col("n_events"),
        col("n_types"), col("cents"))
      .orderBy("user_id")

  /** Event-time in epoch millis, robust to how the parquet timestamps
    * surface across testdata generations: LongType nanos (with
    * spark.sql.legacy.parquet.nanosAsLong), TIMESTAMP_NTZ (what Spark 4.1
    * infers for `Timestamp(isAdjustedToUTC=false)` µs parquet), or
    * TimestampType. The NTZ cast to TimestampType is exact because the
    * session timezone is pinned to UTC (build.sbt), matching the DuckDB
    * oracle's `epoch_ms(ts)` which also treats naive timestamps as UTC.
    * Integral division keeps full precision (a double division would
    * lose bits above 2^53).
    */
  private[queries] def eventMs(e: DataFrame): org.apache.spark.sql.Column =
    e.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        call_function("div", col("ts"), lit(1000000L))
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_millis(col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => unix_millis(col("ts"))
    }

  /** Tumbling 1-hour event-time windows per user: the batch counterpart
    * of [[graft.streaming.EventStreams.windowedStats]], integer window
    * keys (epoch-hour) so the DuckDB compare is exact.
    */
  def eventsTimeWindow(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.select(col("user_id"),
        call_function("div", eventMs(ev), lit(3600000L)).as("hour"),
        col("value"))
      .groupBy("user_id", "hour")
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(round(col("value") * 100).cast("long")).cast("long").as("cents"))
      .select(col("user_id").cast("long").as("user_id"), col("hour"),
        col("n_events"), col("cents"))
      .orderBy("user_id", "hour")
  }

  def eventsSessionize(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
    val e = ev.select(col("user_id"), eventMs(ev).as("ms"), col("event_id"))
    val w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    val gaps = e.withColumn("gap", col("ms") - lag(col("ms"), 1).over(w))
    gaps.groupBy("user_id")
      .agg((sum(when(col("gap") > 1800000L, 1).otherwise(0)) + 1L)
        .cast("long").as("n_sessions"))
      .select(col("user_id").cast("long").as("user_id"), col("n_sessions"))
      .orderBy("user_id")
  }

  val queries: Map[String, Q] = Map(
    "dedup_exact" -> dedupExact,
    "dedup_exact_hash" -> dedupExactHash,
    "dedup_incremental" -> dedupIncremental,
    "dedup_incremental_near" -> dedupIncrementalNear,
    "dedup_minhash" -> dedupMinhash,
    "dedup_ngram" -> dedupNgram,
    "dedup_simhash" -> dedupSimhash,
    "dedup_embedding" -> dedupEmbedding,
    "dedup_embedding_lsh" -> dedupEmbeddingLsh,
    "dedup_semantic" -> dedupSemantic,
    "dedup_embedding_clusters" -> dedupEmbeddingClusters,
    "ann_topk" -> annTopk,
    "ann_filtered" -> annFiltered,
    "ann_lsh" -> annLsh,
    "ann_ivf" -> annIvf,
    "ann_ivf_build" -> annIvfBuild,
    "ann_pq" -> annPq,
    "ann_pq_build" -> annPqBuild,
    "ann_ivfpq" -> annIvfPq,
    "ann_ivfpq_refine" -> annIvfPqRefine,
    "ann_ivfpq_build" -> annIvfPqBuild,
    "ann_ivf_append" -> annIvfAppend,
    "ann_ivfpq_append" -> annIvfPqAppend,
    "ann_pq_recall" -> annPqRecall,
    "ann_quantized" -> annQuantized,
    "ann_quantized_recall" -> annQuantizedRecall,
    "ann_recall" -> annRecall,
    "ann_recall_sampled" -> annRecallSampledHalf,
    "embedding_lsh_recall" -> embeddingLshRecall,
    "embedding_lsh_recall_sampled" -> embeddingLshRecallSampledHalf,
    "sample_reservoir" -> sampleReservoir,
    "text_contamination" -> textContamination,
    "pipeline_prep" -> pipelinePrep,
    "pipeline_prep_full" -> pipelinePrepFull,
    "pipeline_prep_emb" -> pipelinePrepEmb,
    "pipeline_funnel" -> pipelineFunnel,
    "text_tokens" -> textTokens,
    "text_tokens_bpe" -> textTokensBpe,
    "text_bpe_merges" -> textBpeMerges,
    "text_bpe_batched" -> textBpeBatched,
    "text_bpe_encode" -> textBpeEncode,
    "text_quality" -> textQuality,
    "text_langid" -> textLangid,
    "text_fingerprint" -> textFingerprint,
    "text_rarity" -> textRarity,
    "text_vocab" -> textVocab,
    "text_winnow" -> textWinnow,
    "text_repetition" -> textRepetition,
    "text_pii" -> textPii,
    "text_tfidf" -> textTfidf,
    "dedup_clusters" -> dedupClusters,
    "dedup_substring" -> dedupSubstring,
    "dedup_spans" -> dedupSpans,
    "dedup_spans_longest" -> dedupSpansLongest,
    "dedup_spans_apply" -> dedupSpansApply,
    "text_chunks" -> textChunks,
    "shard_pack" -> shardPack,
    "corpus_pack_sequences" -> corpusPackSequences,
    "corpus_epoch_mix" -> corpusEpochMix,
    "corpus_source_cap" -> corpusSourceCap,
    "corpus_shuffle" -> corpusShuffle,
    "corpus_deciles" -> corpusDeciles,
    "corpus_split" -> corpusSplit,
    "corpus_resample" -> corpusResample,
    "corpus_mix" -> corpusMix,
    "multimodal_features" -> multimodalFeatures,
    "multimodal_frames" -> multimodalFrames,
    "events_window" -> eventsWindow,
    "events_time_window" -> eventsTimeWindow,
    "events_sessionize" -> eventsSessionize,
  )

  /** Plan-audit substitutes for queries whose production form cannot be
    * `explain()`ed meaningfully: the cluster loop is driver-iterated
    * (explain would RUN every round, then dump the final checkpointed
    * projection). `graft.tools.PlanAudit` prefers these by name —
    * explicit substitution, never a global flag inside a correctness
    * path.
    */
  val planOnlyQueries: Map[String, Q] = Map(
    // the embedding-cluster closure driver-iterates like dedup_clusters:
    // one representative contraction round (see dedupClustersPlan)
    "dedup_embedding_clusters" -> ((s, d) =>
      Cluster.planOf(
        Similarity.cosinePairs(Tables.embeddings(s, d), tnum = 9, tden = 20))
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
        .orderBy("vec_id")),
    // build entries retrain+rewrite unconditionally by design (and now
    // emit collected invariant singletons); for plan inspection, ensure
    // (build only if missing) and return a representative read-back
    // aggregation over the persisted index
    "ann_ivf_build" -> ((s, d) => {
      ensureIvfIndex(s, d)
      s.read.parquet(s"${annIvfDir(d)}/lists")
        .groupBy("cell").agg(count(lit(1)).as("n_members")).orderBy("cell")
    }),
    "ann_pq_build" -> ((s, d) => {
      ensurePqIndex(s, d)
      s.read.parquet(s"${annPqDir(d)}/codes")
        .agg(count(lit(1)).as("n_codes"))
    }),
    "ann_ivfpq_build" -> ((s, d) => {
      ensureIvfPqIndex(s, d)
      s.read.parquet(s"${annIvfPqDir(d)}/codes")
        .groupBy("cell").agg(count(lit(1)).as("n_codes")).orderBy("cell")
    }),
    // append entries build+append eagerly; the plan that matters is the
    // batch-side broadcast assign/encode pass against the stored
    // quantizers — inspect it against the shared (ensured) index
    "ann_ivf_append" -> ((s, d) => {
      ensureIvfIndex(s, d)
      Ivf.assign(Similarity.prepared(
          Tables.embeddings(s, d).filter(col("vec_id") % 2 === 1)),
        s.read.parquet(s"${annIvfDir(d)}/centroids"))
    }),
    "ann_ivfpq_append" -> ((s, d) => {
      ensureIvfPqIndex(s, d)
      Pq.encodeIvf(Tables.embeddings(s, d).filter(col("vec_id") % 2 === 1),
        annIvfPqDir(d), m = 32)
    }),
    "dedup_clusters" -> dedupClustersPlan,
    "pipeline_prep_full" -> pipelinePrepFullPlan,
    "pipeline_prep_emb" -> pipelinePrepEmbPlan,
    "pipeline_funnel" -> pipelineFunnelPlan,
    "text_bpe_merges" -> ((s, d) =>
      TextAnalysis.bpeMergesPlanOf(Tables.documents(s, d))),
    "text_bpe_batched" -> ((s, d) =>
      TextAnalysis.bpeMergesPlanOf(Tables.documents(s, d))),
    "text_bpe_encode" -> ((s, d) =>
      TextAnalysis.bpeMergesPlanOf(Tables.documents(s, d))),
  )

  /** Exact word-3gram Jaccard pairs at tnum/tden, shared by the minhash
    * and ngram oracles (the LSH pipeline verifies candidates exactly, so
    * its output equals the exhaustive oracle w.h.p.).
    */
  /** The word-3gram Jaccard pair computation as a CTE list (no WITH, no
    * final select) ending in `pairs(da, db)` — shared by [[jaccardSql]]
    * and the recursive-closure cluster oracle.
    */
  private def jaccardPairCtes(tnum: Int, tden: Int): String =
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
       |pos AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks),
       |sh AS (
       |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
       |  FROM pos),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS xa, b.doc_id AS xb, count(*) AS i
       |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairs AS (
       |  SELECT CAST(xa AS BIGINT) AS da, CAST(xb AS BIGINT) AS db
       |  FROM inter JOIN sizes sa ON xa = sa.doc_id JOIN sizes sb ON xb = sb.doc_id
       |  WHERE i * $tden >= (sa.n + sb.n - i) * $tnum)""".stripMargin

  private def jaccardSql(tnum: Int, tden: Int): String =
    s"""WITH ${jaccardPairCtes(tnum, tden)}
       |SELECT da, db FROM pairs ORDER BY da, db""".stripMargin

  /** DuckDB twin of [[dedupClusters]]: the same Jaccard pair graph closed
    * transitively by a recursive CTE (min reachable id per vertex) — an
    * independent exact algorithm against the star-contraction loop.
    */
  private def clusterSql(tnum: Int, tden: Int): String =
    s"""WITH RECURSIVE ${jaccardPairCtes(tnum, tden)},
       |e AS (SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs),
       |reach(u, v) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u)
       |SELECT CAST(u AS BIGINT) AS doc_id, CAST(min(v) AS BIGINT) AS cluster_id
       |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin

  private val quantSql =
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

  /** DuckDB twin of [[graft.functions.FloatArrayQuantize8]]: per-vector
    * max-abs int8 quantization. Requires an enclosing CTE exposing `ma`
    * (the max of element-wise abs as DOUBLE); the fixed evaluation
    * order `(x * 127) / ma` and half-away-from-zero `round` match the
    * expression's bytes bit-for-bit. Zero vectors (ma = 0) quantize to
    * all zeros on both sides.
    */
  private val quant8Sql =
    """list_transform(embedding, x -> CASE WHEN ma = 0 THEN CAST(0 AS BIGINT)
      |    ELSE CAST(round(CAST(x AS DOUBLE) * 127 / ma) AS BIGINT) END)""".stripMargin

  /** DuckDB twin of [[Dedup.simhash]] + [[Dedup.simhashNearDups]]: the
    * 60-bit md5-derived signature, 15-bit banding, and hamming verify are
    * all plain SQL, so the near-dup output is oracle-exact. Generated
    * programmatically (15 digit defs, 60 vote sums) to match the Spark
    * expressions one-for-one.
    */
  private def simhashSql(maxHamming: Int): String = {
    def digit(j: Int) =
      s"CASE WHEN ascii(substr(h, ${j + 1}, 1)) <= 57 THEN ascii(substr(h, ${j + 1}, 1)) - 48" +
        s" ELSE ascii(substr(h, ${j + 1}, 1)) - 87 END AS v$j"
    val digitDefs = (0 until 15).map(digit).mkString(",\n  ")
    val voteDefs = (0 until 60).map { b =>
      s"SUM(CASE WHEN (v${b / 4} >> ${b % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(",\n  ")
    val sigSum = (0 until 60).map { b =>
      s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t FROM documents),
       |hashed AS (SELECT doc_id, md5(t) AS h FROM toks WHERE length(t) > 0),
       |dig AS (SELECT doc_id,
       |  $digitDefs
       |FROM hashed),
       |votes AS (SELECT doc_id,
       |  $voteDefs
       |FROM dig GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sigSum AS sh FROM votes),
       |bands AS (
       |  SELECT doc_id, sh, unnest([0, 1, 2, 3]) AS band,
       |    unnest([(sh >> 0) & 32767, (sh >> 15) & 32767,
       |            (sh >> 30) & 32767, (sh >> 45) & 32767]) AS bh
       |  FROM sig),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS xa, b.doc_id AS xb, a.sh AS ha, b.sh AS hb
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
       |SELECT CAST(xa AS BIGINT) AS da, CAST(xb AS BIGINT) AS db
       |FROM cand WHERE bit_count(xor(ha, hb)) <= $maxHamming ORDER BY da, db""".stripMargin
  }

  /** DuckDB twin of [[TextAnalysis.winnowedFingerprints]] at (k, w):
    * zipped unnest for token positions, window lead for k-grams, md5 of
    * the space-joined gram, frame min for the winnow.
    */
  /** The winnow CTE list ending in `fps(doc_id, fp)` distinct — shared
    * by [[winnowSql]] and the substring-overlap oracle.
    */
  private def winnowCtes(k: Int, w: Int): String = {
    val gram = (1 until k).map(o => s" || ' ' || lead(t, $o) OVER win").mkString
    s"""raw AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
       |toks AS (SELECT doc_id, unnest(w) AS t, unnest(range(1, len(w) + 1)) AS idx FROM raw),
       |tok2 AS (SELECT doc_id, t, idx FROM toks WHERE length(t) > 0),
       |grams AS (
       |  SELECT doc_id, idx, md5(t$gram) AS h, lead(t, ${k - 1}) OVER win AS tail
       |  FROM tok2 WINDOW win AS (PARTITION BY doc_id ORDER BY idx)),
       |winnow AS (
       |  SELECT doc_id, min(h) OVER fr AS fp, count(*) OVER fr AS span
       |  FROM grams WHERE tail IS NOT NULL
       |  WINDOW fr AS (PARTITION BY doc_id ORDER BY idx ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING)),
       |fps AS (SELECT DISTINCT doc_id, fp FROM winnow WHERE span = $w)""".stripMargin
  }

  private def winnowSql(k: Int, w: Int): String =
    s"""WITH ${winnowCtes(k, w)}
       |SELECT doc_id, fp FROM fps ORDER BY doc_id, fp""".stripMargin

  /** DuckDB twin of [[dedupSubstring]]: fingerprint co-occurrence over
    * the same winnow CTEs.
    */
  private def substringSql(k: Int, w: Int, minShared: Long): String =
    s"""WITH ${winnowCtes(k, w)}
       |SELECT CAST(a.doc_id AS BIGINT) AS da, CAST(b.doc_id AS BIGINT) AS db,
       |       CAST(count(*) AS BIGINT) AS shared
       |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $minShared
       |ORDER BY da, db""".stripMargin

  /** The [[dedupSpans]] CTE chain, shared with [[spansApplySql]]: winnow
    * CTEs nominate pairs, exact shared k-gram hashes of nominated docs
    * mark covered 1-based positions, a gaps-and-islands window merges
    * them into maximal spans, and `spansf` holds the result in the
    * Spark side's 0-based token offsets.
    */
  private def spanCtes(k: Int, w: Int, minShared: Long,
                       keepLongest: Boolean = false): String = {
    // orientation CTE: keep-first passes the (da < db) pairs through;
    // keep-longest flips each pair toward the doc with more tokens
    // (ties stay on the lower id) — mirroring substringSpans' policy
    val orient =
      if (!keepLongest) "pairs AS (SELECT da, db FROM pairs0)"
      else s"""tc AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
              |    ELSE len(string_split_regex(trim(text), '\\s+')) END AS nt
              |  FROM documents),
              |pairs AS (
              |  SELECT CASE WHEN tb.nt > ta.nt THEN p.db ELSE p.da END AS da,
              |         CASE WHEN tb.nt > ta.nt THEN p.da ELSE p.db END AS db
              |  FROM pairs0 p
              |  JOIN tc ta ON ta.doc_id = p.da
              |  JOIN tc tb ON tb.doc_id = p.db)""".stripMargin
    s"""${winnowCtes(k, w)},
       |pairs0 AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db
       |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $minShared),
       |$orient,
       |g AS (SELECT doc_id, idx, h FROM grams WHERE tail IS NOT NULL),
       |cov AS (
       |  SELECT DISTINCT p.db AS doc_id, lg.idx
       |  FROM pairs p
       |  JOIN g lg ON lg.doc_id = p.db
       |  JOIN g wg ON wg.doc_id = p.da AND wg.h = lg.h),
       |lagged AS (
       |  SELECT doc_id, idx,
       |    lag(idx) OVER (PARTITION BY doc_id ORDER BY idx) AS prev
       |  FROM cov),
       |isl AS (
       |  SELECT doc_id, idx,
       |    sum(CASE WHEN prev IS NULL OR idx > prev + $k THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY idx) AS island
       |  FROM lagged),
       |spansf AS (
       |  SELECT doc_id, min(idx) - 1 AS start_tok, max(idx) + ${k - 2} AS end_tok
       |  FROM isl GROUP BY doc_id, island)""".stripMargin
  }

  /** DuckDB twin of [[dedupSpans]] / [[dedupSpansLongest]]. */
  private def spansSql(k: Int, w: Int, minShared: Long,
                       keepLongest: Boolean = false): String =
    s"""WITH ${spanCtes(k, w, minShared, keepLongest)}
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(start_tok AS INT) AS start_tok,
       |  CAST(end_tok AS INT) AS end_tok,
       |  CAST(end_tok - start_tok + 1 AS INT) AS n_tokens
       |FROM spansf ORDER BY doc_id, start_tok""".stripMargin

  /** DuckDB twin of [[dedupSpansApply]]: untouched docs fingerprint by
    * pure whitespace normalization; span docs re-tokenize, drop covered
    * positions, and hash the space-rejoined survivors.
    */
  private def spansApplySql(k: Int, w: Int, minShared: Long): String =
    s"""WITH ${spanCtes(k, w, minShared)},
       |sdocs AS (SELECT DISTINCT doc_id FROM spansf),
       |raw2 AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents JOIN sdocs USING (doc_id)),
       |tk AS (SELECT doc_id, t, idx - 1 AS idx
       |  FROM (SELECT doc_id, unnest(w) AS t,
       |          unnest(range(1, len(w) + 1)) AS idx FROM raw2)
       |  WHERE length(t) > 0),
       |surv AS (SELECT tk.doc_id, tk.idx, tk.t FROM tk
       |  WHERE NOT EXISTS (SELECT 1 FROM spansf s
       |    WHERE s.doc_id = tk.doc_id
       |      AND tk.idx BETWEEN s.start_tok AND s.end_tok)),
       |reb AS (SELECT doc_id, count(*) AS n_kept,
       |    md5(string_agg(t, ' ' ORDER BY idx)) AS clean_fp
       |  FROM surv GROUP BY doc_id),
       |spanout AS (SELECT d.doc_id, coalesce(n_kept, 0) AS n_kept,
       |    coalesce(clean_fp, md5('')) AS clean_fp
       |  FROM sdocs d LEFT JOIN reb USING (doc_id)),
       |untouched AS (SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_kept,
       |    md5(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS clean_fp
       |  FROM documents ANTI JOIN sdocs USING (doc_id))
       |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_kept AS INT) AS n_kept,
       |  clean_fp
       |FROM (SELECT * FROM spanout UNION ALL SELECT * FROM untouched)
       |ORDER BY doc_id""".stripMargin

  /** DuckDB twin of [[textChunks]]: list slicing over the same token
    * array — `list_slice` clamps at the end like Spark's `slice`.
    */
  private[queries] def chunksSql(width: Int, stride: Int): String =
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents WHERE length(trim(text)) > 0),
       |c AS (SELECT doc_id, w,
       |    unnest(range(0, len(w), $stride)) AS start,
       |    generate_subscripts(range(0, len(w), $stride), 1) - 1 AS chunk_id
       |  FROM t),
       |sl AS (SELECT doc_id, chunk_id, start,
       |    list_slice(w, start + 1, start + $width) AS chunk FROM c)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(chunk_id AS INT) AS chunk_id,
       |  CAST(start AS INT) AS start_tok, CAST(len(chunk) AS INT) AS n_tokens,
       |  md5(array_to_string(chunk, ' ')) AS chunk_fp
       |FROM sl ORDER BY doc_id, chunk_id""".stripMargin

  /** DuckDB twin of [[shardPack]]: the distributed prefix sum collapses
    * to one window sum over doc_id order at oracle scale.
    */
  private def shardPackSql(budget: Long): String =
    s"""WITH t AS (SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       |    ELSE length(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (SELECT doc_id, n_tokens,
       |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
       |  FROM t)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(n_tokens AS INT) AS n_tokens,
       |  CAST(bef // $budget AS BIGINT) AS shard
       |FROM c ORDER BY doc_id""".stripMargin

  /** DuckDB twin of [[corpusPackSequences]]: the prefix sum collapses
    * to one window at oracle scale; each doc unnests its covering
    * sequence range and the slice bounds are the same arithmetic.
    */
  private def packSequencesSql(seqLen: Long): String =
    s"""WITH t AS (SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       |    ELSE length(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS nt
       |  FROM documents),
       |c AS (SELECT doc_id, nt,
       |    CAST(coalesce(sum(nt) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bef
       |  FROM t),
       |s AS (SELECT doc_id, nt, bef,
       |    unnest(range(bef // $seqLen, (bef + nt - 1) // $seqLen + 1)) AS seq_id
       |  FROM c WHERE nt > 0)
       |SELECT CAST(seq_id AS BIGINT) AS seq_id, CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(greatest(0, seq_id * $seqLen - bef) AS BIGINT) AS doc_start,
       |  CAST(greatest(0, bef - seq_id * $seqLen) AS BIGINT) AS seq_start,
       |  CAST(least((seq_id + 1) * $seqLen, bef + nt)
       |    - greatest(seq_id * $seqLen, bef) AS BIGINT) AS len
       |FROM s ORDER BY seq_id, doc_id""".stripMargin

  /** DuckDB twin of [[corpusSourceCap]]: the shared quality-gate CTEs
    * provide the keep flag and token counts; one per-source window
    * replays the (keep desc, nt desc, doc_id) ranking.
    */
  private def sourceCapSql(cap: Int): String =
    s"""WITH $qualityGateCtes,
       |k AS (SELECT q.doc_id, CAST(q.nt AS BIGINT) AS nt,
       |    CASE WHEN good.doc_id IS NOT NULL THEN 1 ELSE 0 END AS keep
       |  FROM q LEFT JOIN good ON q.doc_id = good.doc_id),
       |r AS (SELECT d.doc_id, d.source,
       |    row_number() OVER (PARTITION BY d.source
       |      ORDER BY k.keep DESC, k.nt DESC, d.doc_id ASC) AS rn
       |  FROM documents d JOIN k ON d.doc_id = k.doc_id)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
       |  CAST(rn AS BIGINT) AS rank
       |FROM r WHERE rn <= $cap ORDER BY source, rank""".stripMargin

  /** DuckDB twin of [[corpusEpochMix]]: lang argmax + md5 priority +
    * integer copy arithmetic + range unnest, replayed bit-for-bit.
    */
  private def epochMixSql(targets: Seq[(String, Int)], seed: Long): String = {
    val vals = targets.map { case (l, bp) => s"('$l', $bp)" }.mkString(", ")
    s"""WITH $langScoreCtes,
       |l AS ($langArgmaxSelect),
       |hp AS (SELECT doc_id, lang_pred AS lang,
       |    md5(concat('$seed:', CAST(doc_id AS VARCHAR))) AS h FROM l),
       |pp AS (SELECT doc_id, lang, $md5Priority60Sql AS pri FROM hp),
       |cc AS (SELECT doc_id, lang,
       |    (bp // 10000) + CASE WHEN pri % 10000 < bp % 10000
       |      THEN 1 ELSE 0 END AS copies
       |  FROM pp JOIN (VALUES $vals) AS t(lang, bp) USING (lang)),
       |e AS (SELECT doc_id, lang, unnest(range(0, copies)) AS copy
       |  FROM cc WHERE copies > 0)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
       |  CAST(copy AS BIGINT) AS copy
       |FROM e ORDER BY doc_id, copy""".stripMargin
  }

  /** DuckDB twin of [[corpusShuffle]]: one window rank over the
    * md5-derived priority at oracle scale.
    */
  private def corpusShuffleSql(seed: Long): String =
    s"""WITH ph AS (SELECT doc_id,
       |    md5(concat('$seed:', CAST(doc_id AS VARCHAR))) AS h FROM documents),
       |pp AS (SELECT doc_id, $md5Priority60Sql AS pri FROM ph)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(row_number() OVER (ORDER BY pri, doc_id) - 1 AS BIGINT) AS pos
       |FROM pp ORDER BY doc_id""".stripMargin

  /** DuckDB twin of [[corpusResample]]: lang argmax CTEs + md5-priority
    * ranking + integer quotas, replayed bit-for-bit.
    */
  private def resampleSql(targets: Seq[(String, Int)], budget: Long,
                          seed: Long): String = {
    val vals = targets.map { case (l, bp) => s"('$l', $bp)" }.mkString(", ")
    s"""WITH $langScoreCtes,
       |l AS ($langArgmaxSelect),
       |hp AS (SELECT doc_id, lang_pred AS lang,
       |    md5(concat('$seed:', CAST(doc_id AS VARCHAR))) AS h FROM l),
       |pp AS (SELECT doc_id, lang, $md5Priority60Sql AS pri FROM hp),
       |q AS (SELECT lang, least(count(*), ($budget * bp) // 10000) AS quota
       |  FROM pp JOIN (VALUES $vals) AS t(lang, bp) USING (lang)
       |  GROUP BY lang, bp),
       |r AS (SELECT doc_id, lang,
       |    row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rk
       |  FROM pp)
       |SELECT CAST(r.doc_id AS BIGINT) AS doc_id, r.lang
       |FROM r JOIN q USING (lang) WHERE rk <= quota
       |ORDER BY lang, doc_id""".stripMargin
  }

  /** DuckDB twin of [[sampleReservoir]]: distinct values, md5-derived
    * 60-bit priority (leading 15 hex digits, parsed with the same
    * ascii-digit pattern as [[simhashSql]]), bottom-k by (priority,
    * value).
    */
  /** SQL for the [[graft.functions.ReservoirSample]] 60-bit priority:
    * the integer value of the leading 15 hex digits of column `h`
    * (an md5 hex string) — shared by every sampling oracle.
    */
  private[queries] def md5Priority60Sql: String = {
    def digit(j: Int) = {
      val a = s"ascii(substr(h, ${j + 1}, 1))"
      s"(CASE WHEN $a <= 57 THEN $a - 48 ELSE $a - 87 END)"
    }
    (0 until 15)
      .map(j => s"(CAST(${digit(j)} AS BIGINT) << ${4 * (14 - j)})")
      .mkString(" + ")
  }

  private def reservoirSql(k: Int, seed: Long): String = {
    val pExpr = md5Priority60Sql
    s"""WITH vals AS (SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS v FROM lineitem),
       |pri AS (SELECT v, md5(concat('$seed:', CAST(v AS VARCHAR))) AS h FROM vals),
       |p AS (SELECT v, $pExpr AS p FROM pri),
       |ranked AS (SELECT v, row_number() OVER (ORDER BY p, v) - 1 AS pos FROM p)
       |SELECT CAST(pos AS INTEGER) AS pos, v FROM ranked WHERE pos < $k ORDER BY pos""".stripMargin
  }

  /** The prep-policy CTE list (exact-dedup keepers, token counts,
    * quality filter, language argmax) and its stats select — shared by
    * the [[pipelinePrep]] oracle and the [[pipelinePrepFull]] oracle
    * (which prepends the recursive near-dup closure and appends the
    * non-keeper subtraction), so the two policies cannot drift.
    */
  /** The language-ID scoring CTEs (`p`, `sc` with per-language integer
    * scores) — shared by the langid, prep, and corpus-mix oracles.
    */
  private[queries] val langScoreCtes: String =
    """p AS (SELECT doc_id,
      |  ' ' || regexp_replace(lower(text), '\s+', '  ', 'g') || ' ' AS t FROM documents),
      |sc AS (SELECT doc_id,
      |  (length(t)-length(replace(t,' the ','')))//5 + (length(t)-length(replace(t,' and ','')))//5
      |    + (length(t)-length(replace(t,' a ','')))//3 + (length(t)-length(replace(t,' of ','')))//4
      |    + (length(t)-length(replace(t,' to ','')))//4 AS s_en,
      |  (length(t)-length(replace(t,' el ','')))//4 + (length(t)-length(replace(t,' la ','')))//4
      |    + (length(t)-length(replace(t,' de ','')))//4 + (length(t)-length(replace(t,' que ','')))//5
      |    + (length(t)-length(replace(t,' y ','')))//3 AS s_es,
      |  (length(t)-length(replace(t,' der ','')))//5 + (length(t)-length(replace(t,' die ','')))//5
      |    + (length(t)-length(replace(t,' und ','')))//5 + (length(t)-length(replace(t,' das ','')))//5
      |    + (length(t)-length(replace(t,' ist ','')))//5 AS s_de,
      |  (length(t)-length(replace(t,' le ','')))//4 + (length(t)-length(replace(t,' la ','')))//4
      |    + (length(t)-length(replace(t,' et ','')))//4 + (length(t)-length(replace(t,' les ','')))//5
      |    + (length(t)-length(replace(t,' des ','')))//5 AS s_fr
      |FROM p)""".stripMargin

  /** The per-doc language argmax select (same tie order as the Spark
    * expression), usable after [[langScoreCtes]].
    */
  private[queries] val langArgmaxSelect: String =
    """SELECT doc_id, CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'unknown'
      |  WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
      |  WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
      |  WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
      |  ELSE 'fr' END AS lang_pred
      |FROM sc""".stripMargin

  /** Shared quality-gate CTEs (`q` token counts + `good` keep filter) —
    * the SQL twin of [[graft.pipeline.TextAnalysis.keepExpr]], reused by
    * the prep oracles and [[StreamQueries]]'s quality-filter oracle so
    * the keep policy cannot drift between them.
    */
  private[queries] val qualityGateCtes: String =
    s"""q AS (SELECT doc_id, text,
       |  CASE WHEN length(trim(text)) = 0 THEN 0
       |    ELSE length(string_split_regex(trim(text), '\\s+')) END AS nt FROM documents),
       |good AS (SELECT doc_id FROM q
       |  WHERE nt BETWEEN 5 AND 100000
       |    AND CASE WHEN nt = 0 THEN 0
       |      ELSE CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) * 100 // nt
       |      END BETWEEN 200 AND 1200
       |    AND length(regexp_replace(lower(text), '[^a-z]', '', 'g')) * 2 >= length(text))""".stripMargin

  /** DuckDB total-PII-count expression over `text`, generated from the
    * SAME [[graft.pipeline.TextAnalysis.piiPatterns]] list as the Spark
    * side (the [[piiSql]] pattern, reduced to one sum).
    */
  private[queries] def piiTotalSql: String =
    TextAnalysis.piiPatterns
      .map { case (_, re) => s"len(regexp_extract_all(text, '$re'))" }
      .mkString(" + ")

  private val prepCtes: String =
    s"""keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
       |$qualityGateCtes,
       |$langScoreCtes,
       |en AS (SELECT doc_id FROM sc
       |  WHERE greatest(s_en, s_es, s_de, s_fr) > 0 AND s_en = greatest(s_en, s_es, s_de, s_fr))""".stripMargin

  private val prepSelect: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(coalesce(sum(nt), 0) AS BIGINT) AS total_tokens
      |FROM q JOIN keepers USING (doc_id) JOIN good USING (doc_id) JOIN en USING (doc_id)""".stripMargin

  /** DuckDB twin of [[TextAnalysis.piiScan]], generated from the SAME
    * [[TextAnalysis.piiPatterns]] list so patterns and redaction order
    * cannot drift between the engines.
    */
  private def piiSql: String = {
    val counts = TextAnalysis.piiPatterns.map { case (name, re) =>
      s"  CAST(len(regexp_extract_all(text, '$re')) AS BIGINT) AS n_$name"
    }.mkString(",\n")
    val red = TextAnalysis.piiPatterns.foldLeft("text") { case (t, (name, re)) =>
      s"regexp_replace($t, '$re', '[${name.toUpperCase}]', 'g')"
    }
    s"WITH dec AS (SELECT doc_id, $piiDecorationSql AS text FROM documents)\n" +
      s"SELECT doc_id,\n$counts,\n  md5($red) AS red_fp\nFROM dec ORDER BY doc_id"
  }

  /** SQL twin of [[piiDecorationCol]]. Operators sit at line ENDS so the
    * fragment survives interpolation into an outer `stripMargin` string
    * (a leading `||` would lose its first bar to the outer margin strip).
    */
  private[queries] val piiDecorationSql: String =
    "text || " +
      "CASE WHEN doc_id % 3 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.org' ELSE '' END || " +
      "CASE WHEN doc_id % 4 = 0 THEN ' from 10.0.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END || " +
      "CASE WHEN doc_id % 5 = 0 THEN ' call 555-123-4567' ELSE '' END || " +
      "CASE WHEN doc_id % 7 = 0 THEN ' ssn 987-65-4321' ELSE '' END"

  val oracles: Map[String, String] = Map(
    "sample_reservoir" -> reservoirSql(k = 16, seed = 42L),
    "text_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |pos AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks),
        |sh AS (
        |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
        |  FROM pos)
        |SELECT CAST(a.doc_id AS BIGINT) AS train_id,
        |       CAST(b.doc_id AS BIGINT) AS eval_id,
        |       CAST(count(*) AS BIGINT) AS shared
        |FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id >= 50 AND b.doc_id < 50
        |GROUP BY 1, 2 HAVING count(*) >= 5
        |ORDER BY train_id, eval_id""".stripMargin,
    "pipeline_prep" -> s"WITH $prepCtes\n$prepSelect",
    "pipeline_prep_full" ->
      s"""WITH RECURSIVE ${jaccardPairCtes(1, 2)},
         |e AS (SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
         |nonkeep AS (SELECT u AS doc_id FROM reach GROUP BY u HAVING u != min(v)),
         |$prepCtes
         |$prepSelect
         |WHERE q.doc_id NOT IN (SELECT doc_id FROM nonkeep)""".stripMargin,
    "pipeline_prep_emb" ->
      s"""WITH RECURSIVE ${jaccardPairCtes(1, 2)},
         |e AS (SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
         |nonkeep AS (SELECT u AS doc_id FROM reach GROUP BY u HAVING u != min(v)),
         |qv AS (SELECT vec_id, $quantSql AS qe FROM embeddings),
         |nv AS (SELECT vec_id, CAST(list_dot_product(qe, qe) AS BIGINT) AS n2, qe FROM qv),
         |edrop AS (
         |  SELECT DISTINCT b.vec_id AS doc_id
         |  FROM nv a JOIN nv b ON a.vec_id < b.vec_id
         |  WHERE CAST(list_dot_product(a.qe, b.qe) AS BIGINT) > 0
         |    AND CAST(list_dot_product(a.qe, b.qe) AS BIGINT) * CAST(list_dot_product(a.qe, b.qe) AS BIGINT) * 400
         |        >= 81 * a.n2 * b.n2),
         |$prepCtes
         |$prepSelect
         |WHERE q.doc_id NOT IN (SELECT doc_id FROM nonkeep)
         |  AND q.doc_id NOT IN (SELECT doc_id FROM edrop)""".stripMargin,
    "pipeline_funnel" ->
      s"""WITH RECURSIVE ${jaccardPairCtes(1, 2)},
         |e AS (SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u),
         |nonkeep AS (SELECT u AS doc_id FROM reach GROUP BY u HAVING u != min(v)),
         |$prepCtes,
         |s2 AS (SELECT doc_id FROM keepers
         |  WHERE doc_id NOT IN (SELECT doc_id FROM nonkeep)),
         |s3 AS (SELECT doc_id FROM s2 JOIN good USING (doc_id)),
         |s4 AS (SELECT doc_id FROM s3 JOIN en USING (doc_id))
         |SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_total,
         |  CAST((SELECT count(*) FROM keepers) AS BIGINT) AS n_exact,
         |  CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_neardup,
         |  CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_quality,
         |  CAST((SELECT count(*) FROM s4) AS BIGINT) AS n_en""".stripMargin,
    "dedup_exact" ->
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    // the hash-keyed variant answers to the SAME by-text grouping
    "dedup_exact_hash" ->
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "dedup_incremental" ->
      """WITH st AS (SELECT DISTINCT md5(text) AS h FROM documents
        |  WHERE doc_id % 2 = 0),
        |bf AS (SELECT md5(text) AS h, MIN(doc_id) AS doc_id FROM documents
        |  WHERE doc_id % 2 = 1 GROUP BY 1)
        |SELECT CAST(bf.doc_id AS BIGINT) AS doc_id, bf.h AS h
        |FROM bf ANTI JOIN st ON bf.h = st.h ORDER BY doc_id""".stripMargin,
    "dedup_incremental_near" ->
      s"""WITH ${jaccardPairCtes(1, 2)},
         |st AS (SELECT DISTINCT md5(text) AS h FROM documents
         |  WHERE doc_id % 2 = 0),
         |bf AS (SELECT md5(text) AS h, MIN(doc_id) AS doc_id FROM documents
         |  WHERE doc_id % 2 = 1 GROUP BY 1),
         |exs AS (SELECT bf.doc_id, bf.h FROM bf ANTI JOIN st ON bf.h = st.h),
         |drops AS (
         |  SELECT CASE WHEN da % 2 = 1 AND db % 2 = 0 THEN da
         |              WHEN db % 2 = 1 THEN db END AS doc_id
         |  FROM pairs WHERE da % 2 = 1 OR db % 2 = 1)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, h FROM exs
         |WHERE doc_id NOT IN (SELECT doc_id FROM drops WHERE doc_id IS NOT NULL)
         |ORDER BY doc_id""".stripMargin,
    "dedup_minhash" -> jaccardSql(3, 5),
    "dedup_ngram" -> jaccardSql(1, 2),
    "dedup_clusters" -> clusterSql(1, 2),
    "dedup_simhash" -> simhashSql(maxHamming = 6),
    "text_winnow" -> winnowSql(k = 5, w = 8),
    "dedup_substring" -> substringSql(k = 5, w = 8, minShared = 2L),
    "dedup_spans" -> spansSql(k = 5, w = 8, minShared = 2L),
    "dedup_spans_longest" ->
      spansSql(k = 5, w = 8, minShared = 2L, keepLongest = true),
    "dedup_spans_apply" -> spansApplySql(k = 5, w = 8, minShared = 2L),
    "text_chunks" -> chunksSql(width = 64, stride = 48),
    "shard_pack" -> shardPackSql(budget = 2048L),
    "corpus_pack_sequences" -> packSequencesSql(seqLen = 512L),
    "corpus_epoch_mix" -> epochMixSql(
      Seq("en" -> 25000, "de" -> 10000, "fr" -> 4000), seed = 42L),
    "corpus_source_cap" -> sourceCapSql(cap = 10),
    "corpus_shuffle" -> corpusShuffleSql(seed = 42L),
    "corpus_split" ->
      s"""WITH ph AS (SELECT doc_id,
         |    md5(concat('42:', CAST(doc_id AS VARCHAR))) AS h FROM documents),
         |pp AS (SELECT doc_id, $md5Priority60Sql AS pri FROM ph)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  CASE WHEN pri % 10000 < 9800 THEN 'train'
         |       WHEN pri % 10000 < 9900 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM pp ORDER BY doc_id""".stripMargin,
    "corpus_deciles" ->
      """WITH lx AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
        |  FROM documents),
        |r AS (SELECT doc_id, n_chars,
        |    CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS rank,
        |    count(*) OVER () AS total
        |  FROM lx)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, n_chars, rank,
        |  CAST((rank - 1) * 10 // total + 1 AS INT) AS decile
        |FROM r ORDER BY doc_id""".stripMargin,
    "corpus_resample" ->
      resampleSql(resampleTargets, budget = 300L, seed = 42L),
    "text_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
        |t AS (SELECT doc_id, unnest(w) AS g FROM toks),
        |uni AS (SELECT doc_id, count(*) AS nt, count(DISTINCT g) AS nd
        |  FROM t WHERE length(g) > 0 GROUP BY 1),
        |pos AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks),
        |bc AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g, count(*) AS c
        |  FROM pos GROUP BY 1, 2),
        |bi AS (SELECT doc_id, sum(c) AS nb, max(c) AS topc FROM bc GROUP BY 1),
        |j AS (SELECT d.doc_id, coalesce(nt, 0) AS nt, coalesce(nd, 0) AS nd,
        |    coalesce(nb, 0) AS nb, coalesce(topc, 0) AS topc
        |  FROM documents d LEFT JOIN uni ON d.doc_id = uni.doc_id
        |  LEFT JOIN bi ON d.doc_id = bi.doc_id),
        |pct AS (SELECT doc_id, nt, nd, topc,
        |    CASE WHEN nt = 0 THEN 0 ELSE (nt - nd) * 100 // nt END AS dup_pct,
        |    CASE WHEN nb = 0 THEN 0 ELSE topc * 100 // nb END AS top_pct
        |  FROM j)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(nt AS BIGINT) AS n_tokens,
        |  CAST(nd AS BIGINT) AS n_distinct, CAST(dup_pct AS BIGINT) AS dup_token_pct,
        |  CAST(topc AS BIGINT) AS top_bigram_n, CAST(top_pct AS BIGINT) AS top_bigram_pct,
        |  CAST(CASE WHEN dup_pct <= 70 AND top_pct <= 20 THEN 1 ELSE 0 END AS INTEGER) AS keep_rep
        |FROM pct ORDER BY doc_id""".stripMargin,
    "text_pii" -> piiSql,
    "text_tfidf" ->
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t WHERE length(term) > 0 GROUP BY 1, 2),
        |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS nd FROM documents),
        |ranked AS (
        |  SELECT doc_id, term, tf, df,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY CAST(tf * nd AS DOUBLE) / df DESC, term ASC) AS rank
        |  FROM tf JOIN idf USING (term) CROSS JOIN n)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(rank AS INTEGER) AS rank, term,
        |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "dedup_embedding" ->
      s"""WITH q AS (SELECT vec_id, $quantSql AS qe FROM embeddings),
         |n AS (SELECT vec_id, CAST(list_dot_product(qe, qe) AS BIGINT) AS n2, qe FROM q)
         |SELECT CAST(a.vec_id AS BIGINT) AS da, CAST(b.vec_id AS BIGINT) AS db
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE CAST(list_dot_product(a.qe, b.qe) AS BIGINT) > 0
         |  AND CAST(list_dot_product(a.qe, b.qe) AS BIGINT) * CAST(list_dot_product(a.qe, b.qe) AS BIGINT) * 400
         |      >= 81 * a.n2 * b.n2
         |ORDER BY da, db""".stripMargin,
    "ann_filtered" ->
      s"""WITH q AS (SELECT vec_id, label, $quantSql AS qe FROM embeddings),
         |sims AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS nid, a.label AS label,
         |         CAST(list_dot_product(a.qe, b.qe) AS BIGINT) AS dot
         |  FROM q a JOIN q b ON a.label = b.label AND a.vec_id != b.vec_id
         |  WHERE a.vec_id < 100),
         |ranked AS (
         |  SELECT qid, nid, label, dot,
         |         row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rank
         |  FROM sims)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
         |       CAST(nid AS BIGINT) AS nid, dot, CAST(label AS INTEGER) AS label
         |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "ann_topk" ->
      s"""WITH q AS (SELECT vec_id, $quantSql AS qe FROM embeddings),
         |sims AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS nid,
         |         CAST(list_dot_product(a.qe, b.qe) AS BIGINT) AS dot
         |  FROM q a JOIN q b ON a.vec_id != b.vec_id WHERE a.vec_id < 100),
         |ranked AS (
         |  SELECT qid, nid, dot,
         |         row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rank
         |  FROM sims)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
         |       CAST(nid AS BIGINT) AS nid, dot
         |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "ann_quantized" ->
      s"""WITH m AS (SELECT vec_id, embedding,
         |  list_aggregate(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))), 'max') AS ma
         |  FROM embeddings),
         |q AS (SELECT vec_id, $quant8Sql AS q8 FROM m),
         |sims AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS nid,
         |         CAST(list_dot_product(a.q8, b.q8) AS BIGINT) AS dot
         |  FROM q a JOIN q b ON a.vec_id != b.vec_id WHERE a.vec_id < 100),
         |ranked AS (
         |  SELECT qid, nid, dot,
         |         row_number() OVER (PARTITION BY qid ORDER BY dot DESC, nid) AS rank
         |  FROM sims)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS INTEGER) AS rank,
         |       CAST(nid AS BIGINT) AS nid, dot
         |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "ann_quantized_recall" ->
      s"""WITH m AS (SELECT vec_id, embedding,
         |  list_aggregate(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))), 'max') AS ma
         |  FROM embeddings),
         |q AS (SELECT vec_id, $quantSql AS qe, $quant8Sql AS q8 FROM m),
         |ex AS (SELECT qid, nid FROM (
         |  SELECT a.vec_id AS qid, b.vec_id AS nid,
         |         row_number() OVER (PARTITION BY a.vec_id
         |           ORDER BY CAST(list_dot_product(a.qe, b.qe) AS BIGINT) DESC, b.vec_id) AS rnk
         |  FROM q a JOIN q b ON a.vec_id != b.vec_id WHERE a.vec_id < 100)
         |  WHERE rnk <= 3),
         |q8top AS (SELECT qid, nid FROM (
         |  SELECT a.vec_id AS qid, b.vec_id AS nid,
         |         row_number() OVER (PARTITION BY a.vec_id
         |           ORDER BY CAST(list_dot_product(a.q8, b.q8) AS BIGINT) DESC, b.vec_id) AS rnk
         |  FROM q a JOIN q b ON a.vec_id != b.vec_id WHERE a.vec_id < 100)
         |  WHERE rnk <= 3),
         |hits AS (SELECT count(*) AS h FROM
         |  (SELECT qid, nid FROM ex INTERSECT SELECT qid, nid FROM q8top)),
         |tot AS (SELECT count(*) AS n FROM ex)
         |SELECT CAST(tot.n AS BIGINT) AS n_exact, CAST(hits.h AS BIGINT) AS q8_hits,
         |       hits.h * 100 >= tot.n * 50 AS recall_ok
         |FROM tot, hits""".stripMargin,
    // Approximate ANN entries emit oracle-exact invariant singletons
    // (see probeInvariants / the *_build scaladocs): the oracle derives
    // the query/corpus population and the expected all-pass booleans.
    "ann_lsh" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS rows_ok,
        |  TRUE AS monotone_ok, TRUE AS neighbors_ok, TRUE AS scores_exact_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin,
    "ann_ivf" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS rows_ok,
        |  TRUE AS monotone_ok, TRUE AS neighbors_ok, TRUE AS scores_exact_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin,
    "ann_pq" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS rows_ok,
        |  TRUE AS monotone_ok, TRUE AS neighbors_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin,
    "ann_ivfpq" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS rows_ok,
        |  TRUE AS monotone_ok, TRUE AS neighbors_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin,
    // the refined probe re-scores with exact dots, so unlike raw IVFADC
    // it also carries scores_exact_ok
    "ann_ivfpq_refine" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS rows_ok,
        |  TRUE AS monotone_ok, TRUE AS neighbors_ok, TRUE AS scores_exact_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin,
    "ann_ivf_build" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors, TRUE AS coded_once_ok,
        |  TRUE AS cells_ok, TRUE AS vectors_match_ok
        |FROM embeddings""".stripMargin,
    "ann_pq_build" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors, TRUE AS coded_once_ok,
        |  TRUE AS codebook_ok, TRUE AS code_len_ok
        |FROM embeddings""".stripMargin,
    "ann_ivfpq_build" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors, TRUE AS coded_once_ok,
        |  TRUE AS cells_ok, TRUE AS codebook_ok, TRUE AS code_len_ok
        |FROM embeddings""".stripMargin,
    "ann_ivf_append" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        |  TRUE AS append_applied_ok, TRUE AS coded_once_ok,
        |  TRUE AS assign_match_ok, TRUE AS meta_current_ok
        |FROM embeddings""".stripMargin,
    "ann_ivfpq_append" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        |  TRUE AS append_applied_ok, TRUE AS coded_once_ok,
        |  TRUE AS codes_match_ok, TRUE AS meta_current_ok
        |FROM embeddings""".stripMargin,
    // dedup_embedding_lsh emits (n_exact, subset_ok, recall_ok): the
    // oracle recomputes the exact cosine-pair population (the
    // dedup_embedding SQL, aggregated) and expects both booleans true
    // (LSH pairs are exactly verified, so subset holds by construction;
    // the 66% floor is the embedding_lsh_recall calibration).
    "dedup_embedding_lsh" ->
      s"""WITH q AS (SELECT vec_id, $quantSql AS qe FROM embeddings),
         |n AS (SELECT vec_id, CAST(list_dot_product(qe, qe) AS BIGINT) AS n2, qe FROM q),
         |pairs AS (
         |  SELECT a.vec_id AS da, b.vec_id AS db
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id
         |  WHERE CAST(list_dot_product(a.qe, b.qe) AS BIGINT) > 0
         |    AND CAST(list_dot_product(a.qe, b.qe) AS BIGINT) * CAST(list_dot_product(a.qe, b.qe) AS BIGINT) * 400
         |        >= 81 * a.n2 * b.n2)
         |SELECT CAST(count(*) AS BIGINT) AS n_exact, TRUE AS subset_ok,
         |       TRUE AS recall_ok
         |FROM pairs""".stripMargin,
    // dedup_semantic mirrors dedup_embedding_lsh's invariant singleton:
    // n_exact recomputed from the exact cosine-pair SQL; semantic pairs
    // are exact-verified within their k-means cell (subset by
    // construction); the 72% floor is the measured recall calibration
    // (one lost pair at sf0.001's 7-pair population trips).
    "dedup_semantic" ->
      s"""WITH q AS (SELECT vec_id, $quantSql AS qe FROM embeddings),
         |n AS (SELECT vec_id, CAST(list_dot_product(qe, qe) AS BIGINT) AS n2, qe FROM q),
         |pairs AS (
         |  SELECT a.vec_id AS da, b.vec_id AS db
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id
         |  WHERE CAST(list_dot_product(a.qe, b.qe) AS BIGINT) > 0
         |    AND CAST(list_dot_product(a.qe, b.qe) AS BIGINT) * CAST(list_dot_product(a.qe, b.qe) AS BIGINT) * 400
         |        >= 81 * a.n2 * b.n2)
         |SELECT CAST(count(*) AS BIGINT) AS n_exact, TRUE AS subset_ok,
         |       TRUE AS recall_ok
         |FROM pairs""".stripMargin,
    // the vector-side clusterSql twin: recursive closure over the exact
    // quantized-cosine pair graph
    "dedup_embedding_clusters" ->
      s"""WITH RECURSIVE q AS (SELECT vec_id, $quantSql AS qe FROM embeddings),
         |n AS (SELECT vec_id, CAST(list_dot_product(qe, qe) AS BIGINT) AS n2, qe FROM q),
         |pairs AS (
         |  SELECT a.vec_id AS da, b.vec_id AS db
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id
         |  WHERE CAST(list_dot_product(a.qe, b.qe) AS BIGINT) > 0
         |    AND CAST(list_dot_product(a.qe, b.qe) AS BIGINT) * CAST(list_dot_product(a.qe, b.qe) AS BIGINT) * 400
         |        >= 81 * a.n2 * b.n2),
         |e AS (SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u)
         |SELECT CAST(u AS BIGINT) AS vec_id, CAST(min(v) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY u ORDER BY vec_id""".stripMargin,
    "ann_pq_recall" ->
      """SELECT CAST(count(*) * 3 AS BIGINT) AS n_exact, TRUE AS recall_ok,
        |  TRUE AS ivfpq_recall_ok, TRUE AS refine_recall_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin,
    // recall floors for ann_lsh/ann_ivf are oracle-checked through
    // ann_recall; dedup_embedding_lsh's through its own entry and
    // embedding_lsh_recall (n_exact derived from the exact-pairs SQL)
    "embedding_lsh_recall" ->
      s"""WITH q AS (SELECT vec_id, $quantSql AS qe FROM embeddings),
         |n AS (SELECT vec_id, CAST(list_dot_product(qe, qe) AS BIGINT) AS n2, qe FROM q),
         |pairs AS (
         |  SELECT a.vec_id AS da, b.vec_id AS db
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id
         |  WHERE CAST(list_dot_product(a.qe, b.qe) AS BIGINT) > 0
         |    AND CAST(list_dot_product(a.qe, b.qe) AS BIGINT) * CAST(list_dot_product(a.qe, b.qe) AS BIGINT) * 400
         |        >= 81 * a.n2 * b.n2)
         |SELECT CAST(count(*) AS BIGINT) AS n_exact, TRUE AS lsh_recall_ok
         |FROM pairs""".stripMargin,
    "ann_recall" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |       TRUE AS lsh_recall_ok, TRUE AS ivf_recall_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin,
    // the sampled gates replay the engine's md5-priority sample in SQL:
    // n_queries / n_exact are derived from the SAMPLED population, so a
    // sampler drift (different kept ids) or a sampled-recall collapse
    // (boolean flip) both fail the hash compare
    "ann_recall_sampled" ->
      s"""WITH pri AS (SELECT vec_id, md5(CAST(vec_id AS VARCHAR)) AS h
         |  FROM embeddings WHERE vec_id < 100),
         |samp AS (SELECT vec_id FROM pri WHERE ($md5Priority60Sql) % 2 < 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |       TRUE AS lsh_recall_ok, TRUE AS ivf_recall_ok
         |FROM samp""".stripMargin,
    "embedding_lsh_recall_sampled" ->
      s"""WITH pri AS (SELECT vec_id, embedding, md5(CAST(vec_id AS VARCHAR)) AS h
         |  FROM embeddings),
         |samp AS (SELECT vec_id, embedding FROM pri
         |  WHERE ($md5Priority60Sql) % 2 < 1),
         |q AS (SELECT vec_id, $quantSql AS qe FROM samp),
         |n AS (SELECT vec_id, CAST(list_dot_product(qe, qe) AS BIGINT) AS n2, qe FROM q),
         |pairs AS (
         |  SELECT a.vec_id AS da, b.vec_id AS db
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id
         |  WHERE CAST(list_dot_product(a.qe, b.qe) AS BIGINT) > 0
         |    AND CAST(list_dot_product(a.qe, b.qe) AS BIGINT) * CAST(list_dot_product(a.qe, b.qe) AS BIGINT) * 400
         |        >= 81 * a.n2 * b.n2)
         |SELECT CAST(count(*) AS BIGINT) AS n_exact, TRUE AS lsh_recall_ok
         |FROM pairs""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE length(string_split_regex(trim(text), '\s+')) END AS INTEGER) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_tokens_bpe" ->
      """SELECT doc_id, CAST(length(regexp_extract_all(text,
        |  '''(?:s|t|re|ve|m|ll|d)|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s'']+')) AS INTEGER) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_bpe_merges" -> bpeMergeSql(bpeMergeRounds),
    // the batched path must reproduce the SEQUENTIAL replay bit-for-bit
    "text_bpe_batched" -> bpeMergeSql(bpeMergeRounds),
    "text_bpe_encode" -> bpeEncodeSql(bpeMergeRounds),
    "text_quality" ->
      """WITH q AS (SELECT doc_id, text,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE length(string_split_regex(trim(text), '\s+')) END AS nt FROM documents)
        |SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_chars,
        |  CAST(nt AS INTEGER) AS n_tokens,
        |  CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS INTEGER) AS n_alpha,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS INTEGER) AS n_digit,
        |  CAST(CASE WHEN nt = 0 THEN 0
        |    ELSE CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) * 100 // nt
        |    END AS INTEGER) AS mean_tok_len_100,
        |  CAST(CASE WHEN nt BETWEEN 5 AND 100000
        |       AND CASE WHEN nt = 0 THEN 0
        |         ELSE CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) * 100 // nt
        |         END BETWEEN 200 AND 1200
        |       AND length(regexp_replace(lower(text), '[^a-z]', '', 'g')) * 2 >= length(text)
        |       THEN 1 ELSE 0 END AS INTEGER) AS keep
        |FROM q ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      s"""WITH $langScoreCtes
         |$langArgmaxSelect ORDER BY doc_id""".stripMargin,
    "corpus_mix" ->
      s"""WITH $langScoreCtes,
         |lang AS ($langArgmaxSelect),
         |toks AS (SELECT doc_id, coalesce(source, '(unknown)') AS source,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |    ELSE length(string_split_regex(trim(text), '\\s+')) END AS nt FROM documents),
         |cells AS (
         |  SELECT source, lang_pred, count(*) AS n_docs, coalesce(sum(nt), 0) AS tokens
         |  FROM toks JOIN lang USING (doc_id) GROUP BY 1, 2),
         |tot AS (SELECT coalesce(sum(tokens), 0) AS total FROM cells)
         |SELECT source, lang_pred, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(tokens AS BIGINT) AS tokens,
         |  CAST(CASE WHEN total = 0 THEN 0 ELSE tokens * 10000 // total END AS BIGINT) AS share_bp
         |FROM cells CROSS JOIN tot ORDER BY source, lang_pred""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_rarity" ->
      """WITH tk2 AS (SELECT doc_id, t FROM (
        |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
        |    FROM documents) WHERE length(t) > 0),
        |dfd AS (SELECT t, count(DISTINCT doc_id) AS df FROM tk2 GROUP BY t),
        |pd AS (SELECT tk2.doc_id, count(*) AS n_tokens,
        |    sum(CASE WHEN dfd.df <= 2 THEN 1 ELSE 0 END) AS n_rare
        |  FROM tk2 JOIN dfd USING (t) GROUP BY tk2.doc_id)
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
        |  CAST(coalesce(n_tokens, 0) AS INT) AS n_tokens,
        |  CAST(coalesce(n_rare, 0) AS INT) AS n_rare,
        |  CAST(CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0
        |    ELSE coalesce(n_rare, 0) * 1000 // n_tokens END AS INT) AS rare_permille
        |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
        |ORDER BY doc_id""".stripMargin,
    "text_vocab" ->
      """SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
        |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents)
        |WHERE length(token) > 0
        |GROUP BY token ORDER BY freq DESC, token ASC LIMIT 50""".stripMargin,
    "multimodal_features" ->
      """WITH dims AS (
        |  SELECT doc_id, 8 + doc_id % 32 AS w, 8 + doc_id % 24 AS h
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(54 + h * ((3 * w + 3) // 4 * 4) AS BIGINT) AS n_bytes,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height
        |FROM dims ORDER BY doc_id""".stripMargin,
    "multimodal_frames" ->
      """WITH d AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |nums AS (SELECT ix FROM generate_series(0, 1000000, 4) t(ix))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(ix AS INTEGER) AS frame_ix,
        |  CAST(LEAST(256, n - ix*256) AS INTEGER) AS n_bytes
        |FROM d JOIN nums ON ix <= (n + 255) // 256 - 1
        |ORDER BY doc_id, frame_ix""".stripMargin,
    "events_window" ->
      """SELECT CAST(user_id AS BIGINT) AS user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "events_time_window" ->
      """SELECT CAST(user_id AS BIGINT) AS user_id,
        |  CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS hour,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2 ORDER BY user_id, hour""".stripMargin,
    "events_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id FROM events),
        |g AS (SELECT user_id, ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS gap FROM e)
        |SELECT CAST(user_id AS BIGINT) AS user_id,
        |  CAST(1 + COUNT(*) FILTER (WHERE gap > 1800000) AS BIGINT) AS n_sessions
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
  )
}
