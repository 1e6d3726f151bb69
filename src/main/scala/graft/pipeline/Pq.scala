package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{AdcScore, IntArrayPack8, LongArrayDot, PqEncodeCodes, PqQueryTable}

/** Product quantization (PQ) approximate nearest-neighbor search
  * (Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011): the vector splits into `m` contiguous
  * subspaces, each quantized independently by a `ks`-centroid k-means
  * codebook, so a candidate is stored as `m` small codes — at m=8,
  * ks=16 that is 8 half-byte codes (~4 bytes) standing in for a 64-dim
  * vector, a ~64x payload compression, the representation a 1e9-vector
  * index actually keeps in memory. Queries score candidates with
  * asymmetric distance computation (ADC): the query's EXACT subvectors
  * dot every subspace centroid once (m x ks small dots per query),
  * and a candidate's approximate score is the sum of its codes' table
  * entries — no candidate vector is ever touched.
  *
  * Everything is distributed except the codebooks (m x ks x dim/m
  * integers — kilobytes, broadcast everywhere, the same
  * driver-crossing contract as [[Ivf]]'s coarse codebook). Training is
  * per-subspace Lloyd's run as ONE distributed job per round over the
  * (sub, cid) key — `m` independent k-means interleaved in the same
  * shuffles, not `m` sequential loops; [[Ivf]]'s coarse quantizer is
  * the same trainer at m = 1. Deterministic throughout (first-ks init
  * by vec_id, integer arithmetic, (d2, cid) tie-break), so results are
  * stable across runs and partitionings — but the k-means replay is
  * impractical in SQL, so the ANN entries emit rows-only results with
  * oracle-exact recall gates.
  *
  * The relational ADC shape: per-query lookup tables (m x ks dots of
  * the query's exact subvectors against the broadcast codebook) pack
  * into ONE array per query, candidate codes into ONE array per
  * candidate, and scoring is the brute-force broadcast shape —
  * query-table rows broadcast onto the candidate stream — with the
  * per-pair work an m-step table-lookup sum instead of a dim-step dot.
  * Candidate-side payload is the m-code array (~20 B), an 8x shrink
  * over even the packed-int8 path.
  *
  * LIFECYCLE: a production index is built ONCE and probed many times —
  * training charged to every search is the one plan that dies at 1e9
  * vectors. [[buildIndex]]/[[buildIndexIvf]] persist the codebooks and
  * packed codes as parquet (the reference's load-time index-build
  * pattern, storage.c:1389-1490), and [[probeIndex]]/[[probeIndexIvf]]
  * read them at pure probe cost. There is no train-per-query form.
  */
object Pq {

  /** Driver-local codebook: (sub, cid) ascending (sub major), centroids
    * flattened row-major plus squared norms — the literal operands of
    * the shuffle-free [[CodebookOps]] projections. One loader for both
    * table shapes: an IVF centroid table (no `sub` column) is the m = 1
    * codebook. The collect is the module's standing contract (m x ks x
    * dim/m integers — kilobytes; the codebook already crosses the driver
    * every training round). Cids are required contiguous 0..ks'-1 per
    * subspace — every builder writes them that way, a gap would
    * silently desync the flat layout, and it makes a centroid's
    * position in the flat layout its cid. An empty table (trained on an
    * empty corpus) loads with no centroids.
    */
  private[pipeline] final case class LocalCodebook(flat: Seq[Long],
                                                   cn2: Seq[Long], ks: Int) {
    def isEmpty: Boolean = cn2.isEmpty
    /** `m`-subspace codes of the `q` column ([[PqEncodeCodes]]). */
    def encode(m: Int): Column =
      PqEncodeCodes(col("q"), typedlit(flat), typedlit(cn2), m)
  }

  private[pipeline] def localCodebook(codebook: DataFrame,
                                      m: Int = 1): LocalCodebook = {
    val sub =
      if (codebook.columns.contains("sub")) col("sub").cast("int") else lit(0)
    val rows = codebook
      .select(sub, col("cid").cast("int"), col("c"), col("cn2").cast("long"))
      .collect().sortBy(r => (r.getInt(0), r.getInt(1)))
    require(rows.length % m == 0,
      s"codebook holds ${rows.length} centroids, not divisible into $m subspaces")
    val ks = rows.length / m
    rows.zipWithIndex.foreach { case (r, ix) =>
      require(r.getInt(0) == ix / ks && r.getInt(1) == ix % ks,
        s"codebook (sub, cid) not contiguous at row $ix: " +
          s"(${r.getInt(0)}, ${r.getInt(1)})")
    }
    LocalCodebook(rows.flatMap(_.getSeq[Long](2)).toSeq,
      rows.map(_.getLong(3)).toSeq, ks)
  }

  /** Train the m per-subspace codebooks on (vec_id, q) prepared
    * vectors: `(sub, cid, c, cn2)` — the one Lloyd's loop of the ANN
    * family ([[Ivf.train]] is this at m = 1). Deterministic first-ks
    * init by vec_id; every round is ONE job with a single reduced
    * shuffle — assignment is the [[LocalCodebook.encode]] projection
    * (strict `<` over ascending cids, so ties go to the smallest cid),
    * and the per-(sub, cell) means are per-dimension sums over the
    * exploded code column (map-side partials reduce each partition to
    * ≤ m x ks rows). An empty cell keeps its previous centroid (the
    * groupBy would silently drop its cid and shrink the codebook). An
    * empty corpus trains an empty table; zero-dimensional vectors keep
    * their init centroids.
    */
  def train(p: DataFrame, m: Int, ks: Int, iters: Int): DataFrame = {
    val spark = p.sparkSession
    import spark.implicits._
    val init = p.orderBy("vec_id").limit(ks).orderBy("vec_id")
      .select(col("q")).collect().map(_.getSeq[Long](0).toArray)
    val dim = init.headOption.fold(0)(_.length)
    require(dim % m == 0, s"dimension $dim not divisible into $m subspaces")
    val d = dim / m
    var cents: Seq[(Int, Int, Array[Long])] =
      for (s <- 0 until m; i <- init.indices)
        yield (s, i, init(i).slice(s * d, s * d + d))
    for (_ <- 1 to iters if d > 0) {
      val cb = LocalCodebook(
        cents.flatMap(_._3),
        cents.map(c => c._3.map(x => x * x).sum), init.length)
      // the div runs engine-side so truncation semantics can never
      // drift from the reference formulation; the subvector is sliced
      // once per row so each mean reads a literal index (a computed
      // index per element cost ~15% of an IVF round at dim 64)
      val meanExprs = (0 until d).map(j =>
        call_function("div", sum(element_at(col("v"), j + 1)),
          count(lit(1))).as(s"m$j"))
      val recomputed = p
        .select(posexplode(cb.encode(m)).as(Seq("sub", "cid")), col("q"))
        .select(col("sub"), col("cid"),
          slice(col("q"), col("sub") * d + 1, lit(d)).as("v"))
        .groupBy("sub", "cid")
        .agg(meanExprs.head, meanExprs.tail: _*)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          Array.tabulate(d)(j => r.getLong(j + 2)))
        .toMap
      cents = cents.map { case (s, i, prev) =>
        (s, i, recomputed.getOrElse((s, i), prev))
      }
    }
    cents.toDF("sub", "cid", "c")
      .withColumn("cn2", LongArrayDot(col("c"), col("c")))
  }

  /** One BYTE-PACKED code tuple per candidate — the stored index
    * representation: m codes ride as m bytes of `binary`
    * ([[graft.functions.IntArrayPack8]]). A single projection over the
    * prepared rows (encode + pack fused) — no shuffle, no explode.
    */
  private def packedCodes(p: DataFrame, codebook: DataFrame, m: Int,
                          keep: Seq[String] = Seq.empty): DataFrame = {
    val keepCols = keep.map(col)
    val cb = localCodebook(codebook, m)
    if (cb.isEmpty) p.select(col("vec_id") +: keepCols :+
      lit(Array.empty[Byte]).as("codes"): _*).filter(lit(false))
    else p.select(col("vec_id") +: keepCols :+
      IntArrayPack8(cb.encode(m)).as("codes"): _*)
  }

  /** One flat lookup TABLE per query: `tbl[sub * stride + cid]` =
    * <qs_sub, c>, computed in a single projection per query row
    * ([[PqQueryTable]] against the codebook literal — the
    * explode + broadcast join + collect_list assembly cost two shuffles
    * per search for the same table). `qs` is the prepared QUERY rows
    * `(vec_id, q)` — for the IVF-PQ residual composition the table is
    * still built from the FULL query vector (never a residual):
    * <q, cand> decomposes as <q, c_cell> + <q, r_cand>, so the codebook
    * side carries residual centroids while the query side stays exact.
    */
  private def queryTables(qs: DataFrame, m: Int,
                          codebook: DataFrame): DataFrame = {
    val cb = localCodebook(codebook, m)
    if (cb.isEmpty) qs.select(col("vec_id").as("qid"),
      typedlit(Seq.empty[Long]).as("tbl")).filter(lit(false))
    else qs.select(col("vec_id").as("qid"),
      PqQueryTable(col("q"), typedlit(cb.flat), m).as("tbl"))
  }

  /** The per-pair ADC lookup-sum — the native codegen'd
    * [[graft.functions.AdcScore]] (|q| x |n| evaluations per search;
    * the higher-order `aggregate(sequence(...))` form is interpreted
    * per element and dominated the query). Stride is derived inside
    * the expression from table length / code count, so a small-corpus
    * codebook (fewer than ks trained centroids) can never desync.
    */
  private def adcScore: Column =
    AdcScore(col("codes"), col("tbl"))

  /** Flat-PQ scoring: per (query, candidate) pair, sum the m table
    * entries the candidate's codes select — the brute-force broadcast
    * shape with a lookup-sum instead of a dot; rows through the plan =
    * |q| x |n|, never |q| x |n| x m.
    */
  private def scoreFlat(codes: DataFrame, qt: DataFrame, k: Int): DataFrame =
    Similarity.rankTopK(codes.crossJoin(broadcast(qt))
      .filter(col("qid") =!= col("nid"))
      .withColumn("score", adcScore), k, "score")

  /** Build the persisted flat-PQ index at `dir`: the KB codebook plus
    * one ~m-byte packed code row per candidate — training runs ONCE
    * here, `meta` written last ([[AnnIndex]]).
    */
  def buildIndex(emb: DataFrame, dir: String, m: Int, ks: Int,
                 iters: Int): Unit = {
    val p = Similarity.prepared(emb).cache()
    try {
      val codebook = train(p, m, ks, iters)
      codebook.coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook")
      packedCodes(p, codebook, m)
        .select(col("vec_id").as("nid"), col("codes"))
        .write.mode("overwrite").parquet(s"$dir/codes")
      AnnIndex.writeMeta(emb, dir, Seq(m, ks, iters))
    } finally p.unpersist()
  }

  def ensureIndex(emb: DataFrame, dir: String, m: Int, ks: Int,
                  iters: Int): Unit =
    if (!AnnIndex.isCurrent(emb, dir, Seq(m, ks, iters)))
      buildIndex(emb, dir, m, ks, iters)

  /** Probe the persisted flat-PQ index at probe-only cost. `queries`
    * is prepared query rows `(vec_id, q)` ([[Similarity.prepared]] +
    * predicate).
    */
  def probeIndex(dir: String, queries: DataFrame, k: Int, m: Int): DataFrame = {
    val spark = queries.sparkSession
    val codebook = spark.read.parquet(s"$dir/codebook")
    val codes = spark.read.parquet(s"$dir/codes")
    scoreFlat(codes, queryTables(queries, m, codebook), k)
  }

  /** RESIDUAL vectors per candidate — the IVFADC encoding (Jegou et
    * al. §V): each vector is stored as its coarse cell plus the PQ
    * codes of `v − coarse_centroid(v)`. Residuals concentrate around
    * zero with far less variance than raw vectors, so the same m x ks
    * codebook budget quantizes them much more finely — this is where
    * the composition's recall comes from (quantizing RAW vectors
    * inside coarse cells wastes the codebook re-describing the cell
    * offset the coarse id already encodes). All integer arithmetic —
    * residuals are exact long differences.
    * Returns `(vec_id, cell, q)` with `q` the residual.
    */
  private def residuals(p: DataFrame, coarse: DataFrame): DataFrame =
    Ivf.assign(p, coarse)
      .join(broadcast(coarse.select(col("cid"), col("c"))), "cid")
      .select(col("vec_id"), col("cid").as("cell"),
        zip_with(col("q"), col("c"), (a, b) => a - b).as("q"))

  /** IVF-PQ scoring. The probe stage is [[Ivf]]'s: nprobe nearest
    * coarse cells per query ([[Ivf.nearestCells]]), each carrying the
    * EXACT bias `<q, c_cell>` (centroid lookup by cell — no broadcast
    * re-join); candidates stream from the probed cells only (cell
    * equi-join), and the final score is `bias + ADC(codes, tbl)` where
    * the ADC term approximates `<q, residual>` — together an estimate
    * of the full `<q, cand>` under the decomposition cand = c_cell +
    * residual.
    */
  private def scoreIvf(queries: DataFrame, coarse: DataFrame,
                       codebook: DataFrame, codes: DataFrame,
                       k: Int, m: Int, nprobe: Int): DataFrame = {
    val cb = localCodebook(coarse)
    val dim = if (cb.isEmpty) 0 else cb.flat.length / cb.ks
    val centArrays: Seq[Seq[Long]] =
      (0 until cb.ks).map(i => cb.flat.slice(i * dim, (i + 1) * dim))
    val probes = queries
      .select(col("vec_id").as("qid"), col("q").as("qq"),
        Ivf.nearestCells(cb, nprobe).as("cell"))
      .select(col("qid"), col("cell"),
        LongArrayDot(col("qq"),
          element_at(typedlit(centArrays), col("cell") + 1)).as("bias"))
    val qt = queryTables(queries, m, codebook)
    Similarity.rankTopK(probes.join(codes, "cell")
      .filter(col("qid") =!= col("nid"))
      .join(broadcast(qt), "qid")
      .withColumn("score", col("bias") + adcScore), k, "score")
  }

  /** Build the persisted IVF-PQ index at `dir` — the standard
    * production ANN composition (Jegou et al. 2011 §V, IVFADC):
    * [[Ivf]]'s coarse quantizer restricts each query to its `nprobe`
    * nearest cells, and packed-code ADC scores only those cells'
    * members, so candidate cost per query drops from n to ~ n * nprobe
    * / nCells WHILE each candidate costs an m-entry lookup-sum instead
    * of a dim-step dot. Codes encode RESIDUALS v − c_cell (see
    * [[residuals]]); the two approximations (cell boundary loss x
    * quantization reorder) compound, so the composition carries its own
    * measured recall floor in the `ann_pq_recall` gate.
    *
    * Layout: coarse codebook + residual PQ codebook (both KB) + one
    * `(nid, codes)` row per candidate PARTITIONED BY CELL, so a probe's
    * cell equi-join prunes to the probed partitions — 4-byte cell id +
    * ~20-byte codes per candidate, floats nowhere. Trains the coarse
    * quantizer AND the residual codebooks ONCE; `meta` written last.
    */
  def buildIndexIvf(emb: DataFrame, dir: String, m: Int, ks: Int,
                    iters: Int, nCells: Int): Unit = {
    val p = Similarity.prepared(emb).cache()
    try {
      val coarse = Ivf.train(p, nCells, iters)
      coarse.coalesce(1).write.mode("overwrite").parquet(s"$dir/coarse")
      val res = residuals(p, coarse).cache()
      try {
        val codebook = train(res, m, ks, iters)
        codebook.coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook")
        packedCodes(res, codebook, m, keep = Seq("cell"))
          .select(col("vec_id").as("nid"), col("codes"), col("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
      } finally res.unpersist()
      AnnIndex.writeMeta(emb, dir, Seq(m, ks, iters, nCells))
    } finally p.unpersist()
  }

  def ensureIndexIvf(emb: DataFrame, dir: String, m: Int, ks: Int,
                     iters: Int, nCells: Int): Unit =
    if (!AnnIndex.isCurrent(emb, dir, Seq(m, ks, iters, nCells)))
      buildIndexIvf(emb, dir, m, ks, iters, nCells)

  /** INCREMENTAL IVF-PQ maintenance — [[Ivf.appendIndex]]'s contract
    * for the production composition: the batch is coarse-assigned,
    * residual-encoded against the EXISTING codebooks (two broadcast
    * joins, KB tables against batch rows only), and its packed codes
    * appended to the cell-partitioned parquet. Batch-proportional
    * cost; nothing existing is retrained or rewritten; meta written
    * LAST. Returns false untouched when growth past `maxGrowth` × the
    * trained size demands a retrain ([[AnnIndex.appendGate]]) —
    * residual codebooks fit to a drifted corpus are exactly the silent
    * recall decay the threshold turns into a loud rebuild decision.
    */
  def appendIndexIvf(batch: DataFrame, dir: String, m: Int, ks: Int,
                     iters: Int, nCells: Int,
                     maxGrowth: Double = 2.0): Boolean =
    AnnIndex.appendGate(batch, dir, Seq(m, ks, iters, nCells),
        maxGrowth) match {
      case None => false
      case Some(updated) =>
        encodeIvf(batch, dir, m)
          .write.mode("append").partitionBy("cell").parquet(s"$dir/codes")
        AnnIndex.writeMetaValues(batch.sparkSession, dir, updated)
        true
    }

  /** Residual-encode a batch against the index's EXISTING coarse
    * centroids and PQ codebooks (both KB broadcasts): `(nid, codes,
    * cell)` exactly as [[buildIndexIvf]] would store it — the same
    * deterministic argmin, so append-then-probe equals
    * build-time-assign for the same quantizers. Shared by
    * [[appendIndexIvf]] and the driver append entry's
    * recompute-equality invariant.
    */
  def encodeIvf(batch: DataFrame, dir: String, m: Int): DataFrame = {
    val spark = batch.sparkSession
    val coarse = spark.read.parquet(s"$dir/coarse")
    val codebook = spark.read.parquet(s"$dir/codebook")
    val res = residuals(Similarity.prepared(batch), coarse)
    packedCodes(res, codebook, m, keep = Seq("cell"))
      .select(col("vec_id").as("nid"), col("codes"), col("cell"))
  }

  /** Probe the persisted IVF-PQ index at probe-only cost. `queries` is
    * prepared query rows `(vec_id, q, n2)`.
    */
  def probeIndexIvf(dir: String, queries: DataFrame, k: Int, m: Int,
                    nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val coarse = spark.read.parquet(s"$dir/coarse")
    val codebook = spark.read.parquet(s"$dir/codebook")
    val codes = spark.read.parquet(s"$dir/codes")
    scoreIvf(queries, coarse, codebook, codes, k, m, nprobe)
  }

  /** [[probeIndexIvf]] with an exact REFINE (re-ranking) stage — Jegou
    * et al. 2011 §VI's IVFADC+R, the standard production
    * recall-recovery step: the ADC probe nominates `rerank` candidates
    * per query (rerank >= k), which are then re-scored EXACTLY against
    * the full-precision corpus vectors and the top k by true integer
    * dot are emitted (dot desc, nid asc — [[Similarity.bruteForceTopK]]'s
    * deterministic contract, so emitted scores are exact and
    * invariant-checkable, unlike ADC estimates).
    *
    * Cost: one candidate-id equi-join against the corpus at
    * |queries| × rerank rows — the full-precision vectors are touched
    * ONLY for nominated candidates, so the index payload stays codes
    * (the point of PQ) while ADC's quantization error is evicted from
    * the final ranking. The remaining loss is a true neighbor absent
    * from the rerank pool (coarse-cell loss or a deep ADC misrank) —
    * measured (COVERAGE.md, ANN PQ recall gate) and gated via the
    * `ann_ivfpq_refine` entry's recall floor. Saturated regime
    * (`nprobe` = all cells, `rerank` >= corpus) is EXACTLY brute force
    * — pinned in PqSpec.
    */
  def probeIndexIvfRefined(dir: String, queries: DataFrame, emb: DataFrame,
                           k: Int, m: Int, nprobe: Int,
                           rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    refineExact(probeIndexIvf(dir, queries, rerank, m, nprobe)
      .select(col("qid"), col("nid")), queries, emb, k)
  }

  /** The refine stage alone: exact re-ranking of a `(qid, nid)`
    * candidate pool — true integer dot, top k per query under the
    * (dot desc, nid asc) contract. The QUERY vector comes from the
    * caller's prepared `queries` rows (same table every probe stage
    * scores against), NOT a qid lookup in the corpus: out-of-corpus
    * queries re-rank like any other, and a corpus row that happens to
    * share a query's vec_id can never substitute its vector. Only the
    * NEIGHBOR side touches `emb` — full-precision vectors are fetched
    * for nominated candidates alone (the point of IVFADC+R).
    * Split out of [[probeIndexIvfRefined]] so a recall calibration can
    * re-rank any candidate pool with the SHIPPED refine semantics.
    */
  private[graft] def refineExact(cands: DataFrame, queries: DataFrame,
                                 emb: DataFrame, k: Int): DataFrame = {
    val p = Similarity.prepared(emb)
    val scored = cands
      .join(queries.select(col("vec_id").as("qid"), col("q").as("qq")), "qid")
      .join(p.select(col("vec_id").as("nid"), col("q").as("nq")), "nid")
      .withColumn("score", LongArrayDot(col("qq"), col("nq")))
      .select("qid", "nid", "score")
    Similarity.rankTopK(scored, k, "score")
  }
}
