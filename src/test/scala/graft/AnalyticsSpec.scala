package graft

import org.apache.spark.sql.functions._
import graft.operators.Layout
import graft.queries.AnalyticsQueries

/** The analytics driver queries at sf0.001 plus the operator properties
  * the oracles can't see: partitioning-independence of the stratified
  * sample, the approx gates actually holding, and the bucketed layout's
  * shuffle-free join plan.
  */
class AnalyticsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("filtered ANN respects the attribute constraint and subsets brute force") {
    import graft.queries.PipelineQueries
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = PipelineQueries.annFiltered(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(rows.nonEmpty)
    for ((qid, _, nid, _, lbl) <- rows) {
      assert(labels(nid) == labels(qid), s"neighbor $nid label mismatch for $qid")
      assert(lbl == labels(qid))
    }
    // per query: ranks are 1..n with dots non-increasing
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq, s"$qid ranks")
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sortBy(-_).toSeq,
        s"$qid dots not ranked")
    }
  }

  test("pipeline funnel counts are monotone and agree with the full prep") {
    import graft.queries.PipelineQueries
    val f = PipelineQueries.pipelineFunnel(spark, sf).collect()(0)
    val Seq(total, exact, near, quality, en) =
      Seq("n_total", "n_exact", "n_neardup", "n_quality", "n_en")
        .map(c => f.getLong(f.fieldIndex(c)))
    assert(total >= exact && exact >= near && near >= quality &&
      quality >= en && en >= 0, f.toString)
    val full = PipelineQueries.pipelinePrepFull(spark, sf).collect()(0)
    assert(en == full.getLong(full.fieldIndex("n_docs")),
      "funnel terminal stage must equal the full prep's survivor count")
  }

  test("vector-extended prep subsets the full prep and drops embedding losers") {
    import graft.pipeline.Similarity
    import graft.queries.PipelineQueries
    val full = PipelineQueries.pipelinePrepFull(spark, sf).collect()(0)
    val emb = PipelineQueries.pipelinePrepEmb(spark, sf).collect()(0)
    val (nFull, nEmb) = (full.getLong(0), emb.getLong(0))
    assert(nEmb > 0 && nEmb <= nFull,
      s"vector stage must only remove survivors: $nEmb vs $nFull")
    // the delta is bounded by the number of distinct cosine losers
    val losers = Similarity.cosinePairs(
      spark.read.parquet(s"$sf/embeddings.parquet"), tnum = 9, tden = 20)
      .select("db").distinct().count()
    assert(nFull - nEmb <= losers,
      s"dropped ${nFull - nEmb} but only $losers cosine losers exist")
  }

  test("stratified sample is k per stratum and partitioning-independent") {
    import graft.functions.ReservoirSample
    val spark0 = spark
    import spark0.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def sample(parts: Int): Seq[(String, Int, Long)] =
      docs.repartition(parts)
        .groupBy("source")
        .agg(ReservoirSample(col("doc_id"), 4, 7L).as("sample"))
        .select(col("source"), posexplode(col("sample")))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
        .toSeq.sorted
    val one = sample(1)
    assert(one == sample(13), "sample must not depend on partitioning")
    val bySource = one.groupBy(_._1)
    assert(bySource.nonEmpty && bySource.values.forall(_.size == 4))
    // each stratum's sample is drawn from that stratum only
    val membership = docs.select("source", "doc_id").collect()
      .map(r => r.getLong(1) -> r.getString(0)).toMap
    assert(one.forall { case (src, _, id) => membership(id) == src })
  }

  test("approx gates hold at sf0.001 (HLL within 5%, median rank within 1%)") {
    val row = AnalyticsQueries.aggApproxGate(spark, sf).collect().head
    assert(row.getLong(0) > 0)
    assert(row.getBoolean(1), "HLL estimate outside the 5% gate")
    assert(row.getBoolean(2), "approx median rank outside the 1% gate")
  }

  test("per-type top-k matches a brute-force ranking") {
    val got = AnalyticsQueries.eventsTopk(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val events = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_type"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = events.groupBy(_._1).toSeq.flatMap { case (tpe, rows) =>
      rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toSeq
        .sortBy { case (uid, cents) => (-cents, uid) }.take(3).zipWithIndex
        .map { case ((uid, cents), i) => (tpe, i + 1, uid, cents) }
    }.sorted
    assert(got.toSeq.sorted == expected)
  }

  test("bucketed layout join is exchange-free on the join key") {
    val spark0 = spark
    import spark0.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val wh = tmpDir("layoutspec")
      val l = Layout.writeBucketed(spark,
        (1 to 8000).map(i => (i.toLong % 211, i.toLong)).toDF("k", "a"),
        "graft_spec_l", s"$wh/l", "k", 8)
      val r = Layout.writeBucketed(spark,
        (1 to 2000).map(i => (i.toLong % 211, i.toLong * 10)).toDF("k", "b"),
        "graft_spec_r", s"$wh/r", "k", 8)
      val joined = l.join(r, "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      // layout never changes semantics
      val expected = {
        val lc = (1 to 8000).groupBy(_ % 211).view.mapValues(_.size)
        val rc = (1 to 2000).groupBy(_ % 211).view.mapValues(_.size)
        lc.map { case (k, n) => n.toLong * rc.getOrElse(k, 0) }.sum
      }
      assert(joined.count() == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("recall gate verdicts are stable under deterministic query/doc sampling") {
    // the 100 TB gate shape: the exact side over an md5-priority sample
    // instead of the full (quadratic) population — verdicts must agree
    // with the exhaustive gates the driver checks (both are
    // deterministic, so this pins agreement, not luck)
    import graft.queries.PipelineQueries
    val d = "/root/testdata/sf0.001"
    val ann = PipelineQueries.annRecallSampled(spark, d, 1L, 2L).collect()(0)
    assert(ann.getLong(0) == 52L, "md5 sampler kept a stable query subset")
    assert(ann.getBoolean(1) && ann.getBoolean(2),
      "sampled ANN recall verdicts hold")
    val emb = PipelineQueries.embeddingLshRecallSampled(spark, d, 3L, 4L)
      .collect()(0)
    assert(emb.getLong(0) == 3L, "sampled exact-pair population is bounded")
    assert(emb.getBoolean(1), "sampled embedding-LSH recall verdict holds")
    spark.catalog.clearCache()
  }

  test("gate materialization refuses a non-singleton result") {
    // materializedAndReleased collects to the driver — by construction
    // gates are 1 row, and a future caller passing anything bigger must
    // fail loudly rather than silently materialize a large result
    import graft.queries.PipelineQueries
    val spark0 = spark
    import spark0.implicits._
    val two = Seq(1, 2).toDF("x")
    val ex = intercept[IllegalArgumentException] {
      PipelineQueries.materializedAndReleased(spark, two)
    }
    assert(ex.getMessage.contains("singleton"))
    // the singleton path still round-trips value and schema
    val one = Seq(41).toDF("x")
    val back = PipelineQueries.materializedAndReleased(spark, one)
    assert(back.schema == one.schema && back.collect().map(_.getInt(0)).toSeq == Seq(41))
    // and the plan-audit escape returns the plan unrun (same object)
    sys.props("graft.plan.only") = "true"
    try assert(PipelineQueries.materializedAndReleased(spark, two) eq two)
    finally sys.props -= "graft.plan.only"
  }
}
