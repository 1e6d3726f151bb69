package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import graft.functions.{AdcScore, FloatArrayQuantize8, IntArrayPack8, LongArrayDot}

/** Fail-loud null-element contract of the codegen array expressions: a
  * null inside an input array must throw with a named position, never
  * silently read as 0 (which would quietly corrupt packs, ADC scores,
  * quantization scales, and dot products). Exercised through real
  * DataFrame queries so the CODEGEN path is what's under test, plus a
  * null-free sanity row proving the guard costs nothing semantically.
  */
class NullElementSpec extends SparkSpec {

  private def sparkImp = { val s = spark; s }

  private def interceptNull(body: => Unit, what: String): Unit = {
    val e = intercept[Exception](body)
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).exists(t => t.getMessage != null &&
        t.getMessage.contains("null")), s"$what: $e")
  }

  test("graft_pack8 throws on a null code element") {
    val spark0 = sparkImp
    import spark0.implicits._
    val ok = Seq(Tuple1(Array[java.lang.Integer](1, 2, 255))).toDF("a")
      .select(IntArrayPack8(col("a"))).collect()
    assert(ok(0).getAs[Array[Byte]](0).toSeq == Seq[Byte](1, 2, -1))
    interceptNull(
      Seq(Tuple1(Array[java.lang.Integer](1, null, 3))).toDF("a")
        .select(IntArrayPack8(col("a"))).collect(),
      "pack8")
  }

  test("graft_q8 throws on a null vector element") {
    val spark0 = sparkImp
    import spark0.implicits._
    interceptNull(
      Seq(Tuple1(Array[java.lang.Float](1.0f, null, 3.0f))).toDF("a")
        .select(FloatArrayQuantize8(col("a"))).collect(),
      "q8")
  }

  test("graft_dot throws on a null element on either side") {
    val spark0 = sparkImp
    import spark0.implicits._
    val good = Seq((Array[java.lang.Long](1L, 2L), Array[java.lang.Long](3L, 4L)))
      .toDF("x", "y")
      .select(LongArrayDot(col("x"), col("y"))).collect()
    assert(good(0).getLong(0) == 11L)
    interceptNull(
      Seq((Array[java.lang.Long](1L, null), Array[java.lang.Long](3L, 4L)))
        .toDF("x", "y")
        .select(LongArrayDot(col("x"), col("y"))).collect(),
      "dot left")
    interceptNull(
      Seq((Array[java.lang.Long](1L, 2L), Array[java.lang.Long](null, 4L)))
        .toDF("x", "y")
        .select(LongArrayDot(col("x"), col("y"))).collect(),
      "dot right")
  }

  test("graft_adc throws on a null ADC table entry") {
    val spark0 = sparkImp
    import spark0.implicits._
    def score(tbl: Array[java.lang.Long]): Long =
      Seq((Array[java.lang.Integer](0, 1), tbl)).toDF("codes", "tbl")
        .select(AdcScore(IntArrayPack8(col("codes")), col("tbl")))
        .collect()(0).getLong(0)
    // stride 2: codes (0,1) read tbl[0] and tbl[3]
    assert(score(Array[java.lang.Long](10L, 20L, 30L, 40L)) == 50L)
    interceptNull(
      score(Array[java.lang.Long](10L, 20L, 30L, null)), "adc")
  }
}
