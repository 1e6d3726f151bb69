package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.{Pq, Similarity}
import graft.queries.PipelineQueries

/** Product-quantization ANN: exactness in the saturated regime (every
  * vector its own centroid -> ADC degenerates to the exact dot),
  * partitioning-independence of the deterministic training, and the
  * driver-facing recall gate.
  */
class PqSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Build a flat-PQ index over `emb` in a fresh directory and probe it
    * with the corpus rows `pred` selects.
    */
  private def buildAndProbe(emb: DataFrame, m: Int, ks: Int, iters: Int,
                            pred: Column, k: Int): DataFrame = {
    val dir = tmpDir("pq-idx")
    Pq.buildIndex(emb, dir, m, ks, iters)
    Pq.probeIndex(dir, Similarity.prepared(emb).filter(pred), k, m)
  }

  test("one Lloyd round pins literal codebooks per subspace (m = 2)") {
    // IvfSpec's corpus in subspace 0 and its negation in subspace 1: the
    // subspaces train independently, and truncation toward zero keeps
    // the negated means exact negations ((-3) div 2 = -1 where a floor
    // gives -2)
    val p = IvfSpec.preparedRows(spark,
      IvfSpec.lloydCorpus.map(v => v ++ v.map(-_)))
    def trained(iters: Int) = Pq.train(p, m = 2, ks = 3, iters).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Long](2), r.getLong(3)))
      .sortBy(_._1).toSeq
    def expected(cents: Seq[Seq[Long]]) =
      Seq(cents, cents.map(_.map(-_))).zipWithIndex.flatMap { case (cs, sub) =>
        cs.zipWithIndex.map { case (c, cid) =>
          ((sub, cid), c, c.map(x => x * x).sum)
        }
      }
    assert(trained(1) == expected(IvfSpec.lloydRound1))
    assert(trained(2) == expected(IvfSpec.lloydRound2))
  }

  test("PQ with ks >= corpus size degenerates to exact ranking") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 24)
    // ks = 32 >= 24 vectors: first-ks init makes every subvector its own
    // centroid, assignment is identity, ADC tables ARE the exact dots
    val pq = buildAndProbe(emb, m = 32, ks = 32, iters = 2,
        col("vec_id") < 8, k = 3)
      .select("qid", "rank", "nid").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val exact = Similarity.bruteForceTopK(emb, k = 3,
      queryPred = col("vec_id") < 8)
      .select("qid", "rank", "nid").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(pq == exact)
  }

  test("PQ training and ranking are partitioning-independent") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def run(parts: Int) = buildAndProbe(emb.repartition(parts), m = 32,
        ks = 32, iters = 2, col("vec_id") < 40, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    assert(run(2) == run(11))
  }

  test("PQ recall gate holds at sf0.001 (flat and IVF-composed)") {
    val gate = PipelineQueries.annPqRecall(spark, sf).collect()(0)
    assert(gate.getLong(gate.fieldIndex("n_exact")) == 300)
    assert(gate.getBoolean(gate.fieldIndex("recall_ok")),
      "PQ recall below the 60% floor")
    assert(gate.getBoolean(gate.fieldIndex("ivfpq_recall_ok")),
      "IVF-PQ recall below the 50% floor")
  }

  test("residual IVF-PQ in the saturated all-probe regime equals brute force") {
    // ks >= corpus: every RESIDUAL subvector is its own centroid, so the
    // ADC term recovers <q, r_cand> exactly; with the exact per-cell
    // bias <q, c_cell> the score is the exact dot (the IVFADC
    // decomposition), and nprobe = nCells probes everything — the
    // composed path must reproduce brute force bit-for-bit
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 24)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "nid").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val dir = tmpDir("ivfpq-idx")
    Pq.buildIndexIvf(emb, dir, m = 32, ks = 32, iters = 2, nCells = 4)
    assert(rows(Pq.probeIndexIvf(dir,
        Similarity.prepared(emb).filter(col("vec_id") < 8), k = 3, m = 32,
        nprobe = 4)) ==
      rows(Similarity.bruteForceTopK(emb, k = 3,
        queryPred = col("vec_id") < 8)))
  }

  test("refined probe in the saturated regime equals brute force; refine beats or ties ADC on the same pool") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 24).cache()
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-ref").toString
    // LOSSY codebook (ks = 4 << 24): ADC ordering is genuinely
    // approximate, so the refine stage has real work to do
    Pq.buildIndexIvf(emb, dir, m = 32, ks = 4, iters = 2, nCells = 4)
    val pred = col("vec_id") < 8
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "nid").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // nprobe = all cells, rerank >= corpus: the pool is the whole corpus
    // and exact re-scoring IS brute force, whatever the codes lost
    assert(rows(Pq.probeIndexIvfRefined(dir,
        Similarity.prepared(emb).filter(pred), emb,
        k = 3, m = 32, nprobe = 4, rerank = 24)) ==
      rows(Similarity.bruteForceTopK(emb, k = 3, queryPred = pred)))
    // bounded pool: refined top-k hits >= the ADC ranking's on the same
    // (nprobe, rerank) pool — exact re-scoring can only fix misranks
    val exact = rows(Similarity.bruteForceTopK(emb, k = 3, queryPred = pred))
      .map(t => (t._1, t._3))
    val adc = rows(Pq.probeIndexIvf(dir,
        Similarity.prepared(emb).filter(pred), k = 3, m = 32, nprobe = 2))
      .map(t => (t._1, t._3))
    val ref = rows(Pq.probeIndexIvfRefined(dir,
        Similarity.prepared(emb).filter(pred), emb,
        k = 3, m = 32, nprobe = 2, rerank = 12))
      .map(t => (t._1, t._3))
    assert((ref & exact).size >= (adc & exact).size,
      s"refine ${(ref & exact).size} < adc ${(adc & exact).size}")
  }

  test("appendIndexIvf encodes the batch under the stored quantizers") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 200).cache()
    val base = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-app").toString
    Pq.buildIndexIvf(base, dir, m = 32, ks = 32, iters = 2, nCells = 8)
    assert(Pq.appendIndexIvf(batch, dir, m = 32, ks = 32, iters = 2,
      nCells = 8, maxGrowth = 3.0))
    // every corpus vector coded exactly once across build + append
    val codes = spark.read.parquet(s"$dir/codes").cache()
    assert(codes.count() == emb.count())
    assert(codes.select("nid").distinct().count() == emb.count())
    // appended rows byte-equal an independent re-encoding under the
    // stored coarse centroids + codebooks (same deterministic argmin)
    val stored = codes.filter(col("nid") % 2 === 1)
      .collect().map(r => (r.getLong(r.fieldIndex("nid")),
        r.getAs[Array[Byte]]("codes").toSeq,
        r.getInt(r.fieldIndex("cell")))).toSet
    val recoded = Pq.encodeIvf(batch, dir, m = 32)
      .collect().map(r => (r.getLong(r.fieldIndex("nid")),
        r.getAs[Array[Byte]]("codes").toSeq,
        r.getInt(r.fieldIndex("cell")))).toSet
    assert(stored == recoded)
    // probes need no change: every query still gets k ranked rows and
    // appended vectors are reachable candidates
    val probed = Pq.probeIndexIvf(dir,
      Similarity.prepared(emb).filter(col("vec_id") < 20), k = 3, m = 32,
      nprobe = 8).collect()
    assert(probed.length == 20 * 3)
    assert(probed.exists(_.getLong(2) % 2 == 1), "no appended nid surfaced")
    // growth gate: a batch tripling the trained size is refused untouched
    assert(!Pq.appendIndexIvf(emb, dir,
      m = 32, ks = 32, iters = 2, nCells = 8, maxGrowth = 1.0))
    codes.unpersist(); emb.unpersist()
  }

  test("IVF-PQ candidates are a subset ranked consistently") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val out = PipelineQueries.annIvfPqRows(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq, s"$qid ranks")
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sortBy(-_).toSeq,
        s"$qid scores not ranked")
      assert(!rs.exists(_._3 == qid), s"$qid returned itself")
    }
  }
}
