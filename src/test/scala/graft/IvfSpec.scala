package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{AnnIndex, Ivf, Similarity}

object IvfSpec {
  /** Six hand-built 2-d vectors whose first two Lloyd rounds at k = 3
    * (init: vectors 0..2) exercise every rule of the trainer:
    *  - round 1: cells {0, 4, 5}, {1, 3}, {2} -> (0, 22) div 3, (3, -4)
    *    div 2 = (1, -2) (truncation toward zero), (-6, -4);
    *  - round 2: vector 3 = (5, 3) is equidistant (d2 = 41) from cells 0
    *    and 1 and goes to cell 0, so cell 1 loses all its members and
    *    keeps its round-1 centroid; cell 2's sum (-16, -7) div 3
    *    truncates to (-5, -2), where a floor would give (-6, -3).
    */
  val lloydCorpus: Seq[Seq[Long]] = Seq(Seq(-8L, 4L), Seq(-2L, -7L),
    Seq(-6L, -4L), Seq(5L, 3L), Seq(-1L, 9L), Seq(9L, 9L))
  val lloydRound1: Seq[Seq[Long]] = Seq(Seq(0L, 7L), Seq(1L, -2L), Seq(-6L, -4L))
  val lloydRound2: Seq[Seq[Long]] = Seq(Seq(4L, 7L), Seq(1L, -2L), Seq(-5L, -2L))

  /** Prepared rows `(vec_id, q, n2)` over literal quantized vectors. */
  def preparedRows(spark: SparkSession, vecs: Seq[Seq[Long]]): DataFrame = {
    import spark.implicits._
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v, v.map(x => x * x).sum) }
      .toDF("vec_id", "q", "n2")
  }
}

/** IVF ANN vs exact brute force on synthetic clustered vectors: recall@k
  * must be high when the data actually clusters (the IVF assumption).
  */
class IvfSpec extends SparkSpec {

  /** 400 vectors in 8 well-separated clusters (dim 16), deterministic. */
  private def clustered() = {
    val spark0 = spark
    import spark0.implicits._
    val rnd = new java.util.Random(7)
    val centers = Array.fill(8, 16)(rnd.nextGaussian() * 10f)
    val rows = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.5).toFloat).toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  /** Build an index over `emb` in a fresh directory and probe it with
    * the corpus rows `pred` selects.
    */
  private def buildAndProbe(emb: DataFrame, nCells: Int, iters: Int,
                            pred: Column, k: Int, nprobe: Int): DataFrame = {
    val dir = tmpDir("ivf-idx")
    Ivf.buildIndex(emb, dir, nCells, iters)
    Ivf.probeIndex(dir, Similarity.prepared(emb).filter(pred), k, nprobe)
  }

  test("one Lloyd round pins literal centroids: truncating means, smallest-cid ties, empty cells keep theirs") {
    val p = IvfSpec.preparedRows(spark, IvfSpec.lloydCorpus)
    def trained(iters: Int) = Ivf.train(p, k = 3, iters).collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1), r.getLong(2))).sortBy(_._1).toSeq
    def expected(cents: Seq[Seq[Long]]) = cents.zipWithIndex
      .map { case (c, cid) => (cid, c, c.map(x => x * x).sum) }
    assert(trained(1) == expected(IvfSpec.lloydRound1))
    assert(trained(2) == expected(IvfSpec.lloydRound2))
    // round 2's assignment, under the round-1 centroids: vector 3's tie
    // goes to cell 0
    val cells = Ivf.assign(p, Ivf.train(p, k = 3, iters = 1)).select("vec_id", "cid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).sortBy(_._1).map(_._2).toSeq
    assert(cells == Seq(2, 2, 2, 0, 0, 0))
  }

  test("IVF top-k recall vs brute force on clustered data") {
    val emb = clustered().cache()
    val pred = col("vec_id") < 40
    val exact = Similarity.bruteForceTopK(emb, k = 5, queryPred = pred)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = buildAndProbe(emb, nCells = 8, iters = 2, pred, k = 5, nprobe = 2)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall $recall (${ivf.size} vs ${exact.size})")
  }

  test("persisted index: freshness check catches drift; ensure keeps a current index") {
    val emb = clustered().cache()
    val dir = java.nio.file.Files.createTempDirectory("ivf-idx").toString
    Ivf.buildIndex(emb, dir, nCells = 8, iters = 2)
    // current corpus + params -> current; changed params or corpus -> stale
    assert(graft.pipeline.AnnIndex.isCurrent(emb, dir, Seq(8L, 2L)))
    assert(!graft.pipeline.AnnIndex.isCurrent(emb, dir, Seq(8L, 3L)))
    assert(!graft.pipeline.AnnIndex.isCurrent(
      emb.filter(col("vec_id") < 100), dir, Seq(8L, 2L)))
    // ensure on a current index must NOT rebuild (meta untouched — a
    // single freshness file since the plain-file meta format)
    val metaFile = new java.io.File(s"$dir/meta")
    def metaStamp() = (metaFile.lastModified,
      new String(java.nio.file.Files.readAllBytes(metaFile.toPath)))
    val before = metaStamp()
    Ivf.ensureIndex(emb, dir, nCells = 8, iters = 2)
    assert(metaStamp() == before, "ensure rebuilt a current index")
  }

  test("IVF ranking within probed cells matches exact dot order") {
    val emb = clustered()
    val res = buildAndProbe(emb, nCells = 8, iters = 1,
      col("vec_id") === 0, k = 3, nprobe = 8)
    // nprobe = nCells -> probes everything -> must equal brute force
    val exact = Similarity.bruteForceTopK(emb, k = 3,
      queryPred = col("vec_id") === 0)
    assert(res.select("qid", "rank", "nid").orderBy("qid", "rank")
      .collect().toSeq ==
      exact.select("qid", "rank", "nid").orderBy("qid", "rank")
        .collect().toSeq)
  }

  test("appendIndex equals build-time assignment and advances the meta") {
    val emb = clustered().cache()
    val base = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("ivf-app").toString
    Ivf.buildIndex(base, dir, nCells = 8, iters = 2)
    assert(Ivf.appendIndex(batch, dir, nCells = 8, iters = 2,
      maxGrowth = 3.0))
    // probe over the appended index == probing an index whose batch
    // rows were assigned at build time under the SAME centroids: the
    // whole-corpus probe with nprobe = nCells must equal brute force,
    // which can only hold if every appended vector landed findable in
    // its argmin cell
    val pred = col("vec_id") < 20
    val probed = Ivf.probeIndex(dir, Similarity.prepared(emb).filter(pred),
        k = 3, nprobe = 8)
      .select("qid", "rank", "nid").orderBy("qid", "rank").collect().toSeq
    val exact = Similarity.bruteForceTopK(emb, k = 3, queryPred = pred)
      .select("qid", "rank", "nid").orderBy("qid", "rank").collect().toSeq
    assert(probed == exact)
    // meta fingerprint advanced to the FULL corpus (ensure won't
    // rebuild) while nTrained still records the build-time corpus
    assert(AnnIndex.isCurrent(emb, dir, Seq(8, 2)))
    val meta = AnnIndex.readMeta(spark, dir).get
    assert(meta.n == 400L && meta.nTrained == 200L, meta.toString)
  }

  test("appendIndex refuses growth past maxGrowth and leaves the index intact") {
    val emb = clustered().cache()
    val base = emb.filter(col("vec_id") < 100)
    val batch = emb.filter(col("vec_id") >= 100) // 3x the trained size
    val dir = java.nio.file.Files.createTempDirectory("ivf-stale").toString
    Ivf.buildIndex(base, dir, nCells = 8, iters = 2)
    assert(!Ivf.appendIndex(batch, dir, nCells = 8, iters = 2,
      maxGrowth = 2.0))
    // untouched: still current for the BASE corpus, counts unchanged
    assert(AnnIndex.isCurrent(base, dir, Seq(8, 2)))
    assert(spark.read.parquet(s"$dir/lists").count() == 100L)
  }
}
