package graft

import org.apache.spark.sql.functions._
import graft.functions.{ByteArrayDot, FloatArrayQuantize8}
import graft.pipeline.Similarity
import graft.queries.PipelineQueries

/** The packed-int8 quantization family: exact byte contract of
  * `graft_q8` (max-abs scaling, half-away-from-zero rounding, zero
  * vector), the `graft_dot8` loop against a reference dot, the
  * fail-loud length mismatch, and the driver-facing top-k + recall
  * gate on real embeddings.
  */
class Int8VectorSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def q8Of(vs: Seq[Float]): Array[Byte] = {
    val spark0 = spark
    import spark0.implicits._
    Seq(Tuple1(vs.toArray)).toDF("embedding")
      .select(FloatArrayQuantize8(col("embedding")))
      .collect()(0).getAs[Array[Byte]](0)
  }

  test("graft_q8 packs max-abs int8: scale, signs, rounding, zero vector") {
    // ma = 2.0 -> scale 63.5/unit: 2.0->127, -2.0->-127, 1.0->63.5
    // rounds HALF AWAY FROM ZERO to 64, -1.0->-64, 0->0
    assert(q8Of(Seq(2.0f, -2.0f, 1.0f, -1.0f, 0.0f)).toSeq ==
      Seq[Byte](127, -127, 64, -64, 0))
    // the all-zero vector must not divide by zero
    assert(q8Of(Seq(0.0f, 0.0f, 0.0f)).toSeq == Seq[Byte](0, 0, 0))
    // single element is always +-127
    assert(q8Of(Seq(-0.25f)).toSeq == Seq[Byte](-127))
    // empty vector -> empty bytes
    assert(q8Of(Seq.empty).toSeq == Seq.empty)
  }

  test("graft_dot8 equals a reference dot over quantized bytes; mismatch throws") {
    val spark0 = spark
    import spark0.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(40)
    val p = emb.select(col("vec_id"), Similarity.quantize8(col("embedding")).as("q8"))
    val pairs = p.as("a").join(p.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.q8").as("x"), col("b.q8").as("y"),
        ByteArrayDot(col("a.q8"), col("b.q8")).as("dot"))
      .collect()
    assert(pairs.nonEmpty)
    for (r <- pairs) {
      val x = r.getAs[Array[Byte]]("x")
      val y = r.getAs[Array[Byte]]("y")
      val ref = x.zip(y).map { case (a, b) => a.toLong * b.toLong }.sum
      assert(r.getAs[Long]("dot") == ref)
    }
    val bad = intercept[Exception] {
      Seq((Array[Byte](1, 2), Array[Byte](1, 2, 3))).toDF("a", "b")
        .select(ByteArrayDot(col("a"), col("b")))
        .collect()
    }
    assert(bad.getMessage.contains("graft_dot8") ||
      bad.getCause != null && bad.getCause.getMessage.contains("graft_dot8"))
  }

  test("quantizedTopK obeys the ranking contract and the recall gate holds") {
    val rows = PipelineQueries.annQuantized(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq, s"$qid ranks")
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sortBy(-_).toSeq,
        s"$qid dots not ranked")
      assert(!rs.exists(_._3 == qid), s"$qid returned itself")
    }
    val gate = PipelineQueries.annQuantizedRecall(spark, sf).collect()(0)
    assert(gate.getLong(gate.fieldIndex("n_exact")) == 300)
    val hits = gate.getLong(gate.fieldIndex("q8_hits"))
    assert(hits > 0 && hits <= 300)
    assert(gate.getBoolean(gate.fieldIndex("recall_ok")),
      s"int8 ranking fidelity below floor: $hits/300")
  }
}
