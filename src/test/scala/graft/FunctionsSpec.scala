package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.pipeline.TextAnalysis

class FunctionsSpec extends SparkSpec {

  test("graft_dot computes exact integer dot products") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq((Array(1L, -2L, 3L), Array(4L, 5L, 6L)))
      .toDF("a", "b")
    val out = df.select(LongArrayDot(col("a"), col("b")))
      .collect().head.getLong(0)
    assert(out == 4L - 10L + 18L)
  }

  test("graft_dot throws on dimension mismatch instead of truncating") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq((Array(1L, 2L), Array(1L, 2L, 3L))).toDF("a", "b")
    val ex = intercept[Exception](
      df.select(LongArrayDot(col("a"), col("b"))).collect())
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else t.getMessage :: messages(t.getCause)
    assert(messages(ex).exists(m => m != null && m.contains("dimensions differ")),
      messages(ex).mkString(" | "))
  }

  test("all 11 natives evaluate on any session with no setup and register no function") {
    val cents = typedlit(Seq(1L, 0L, 0L, 0L, 1L, 0L)) // k=2, dim=3
    val cn2 = typedlit(Seq(1L, 1L))
    val langs = Seq("en" -> Seq(" the ", " and "), "es" -> Seq(" de ", " la "))
    // column-dependent inputs, so nothing constant-folds away
    def natives(s: SparkSession): Seq[Row] = {
      val a = array(col("id") + 1L, lit(-2L), lit(3L))
      val q8 = FloatArrayQuantize8(array(col("id").cast("float") + 0.5f,
        lit(-1.0f), lit(2.0f)))
      val codes = IntArrayPack8(array(col("id").cast("int"), lit(1)))
      val rows = s.range(3).select(
        LongArrayDot(a, typedlit(Seq(4L, 5L, 6L))),
        hex(q8),
        ByteArrayDot(q8, q8),
        hex(codes),
        AdcScore(codes, typedlit(Seq(10L, 20L, 30L, 40L, 50L, 60L))),
        CodebookTopN(a, cents, cn2, 2),
        PqEncodeCodes(a, cents, cn2, 1),
        PqQueryTable(a, cents, 1),
        LshBandHashes(a, typedlit(Seq(1L, 1L, 1L, -1L, 1L, -1L)), 2, 1),
        LangPred(concat(lit(" the "), col("id").cast("string"),
          lit(" de la ")), langs))
      val sample = s.range(100).agg(ReservoirSample(col("id"), 5, 3L))
      rows.orderBy(col("id")).collect().toSeq ++ sample.collect().toSeq
    }
    val want = natives(spark)
    assert(want.head.getLong(0) == 4L - 10L + 18L)
    assert(want.head.getString(9) == "es")
    assert(want.last.getSeq[Long](0).length == 5)
    assert(natives(spark.newSession()) == want)
    assert(natives(GraftSession.scoped(spark, Map.empty)) == want)

    SparkEntry.queries("ann_quantized_recall")(spark, "/root/testdata/sf0.001")
      .collect()
    spark.range(1).select(TextAnalysis.langPredExpr(lit(" the "))).collect()
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_"))
    assert(registered.isEmpty, registered.mkString(", "))
  }
}
