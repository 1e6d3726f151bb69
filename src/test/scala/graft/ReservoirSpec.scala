package graft

import org.apache.spark.sql.functions._
import graft.functions.ReservoirSample

class ReservoirSpec extends SparkSpec {

  test("reservoir sample: size, membership, and rough uniformity") {
    val spark0 = spark
    import spark0.implicits._
    val n = 100000L
    val df = spark.range(n).toDF("x")
    val sample = df
      .agg(ReservoirSample(col("x"), 200, 42L).as("s"))
      .select(explode(col("s")).as("v"))
      .collect().map(_.getLong(0))
    assert(sample.length == 200)
    assert(sample.forall(v => v >= 0 && v < n))
    // rough uniformity: mean of a uniform sample of [0,n) ~ n/2 +- 4 sd
    val mean = sample.map(_.toDouble).sum / sample.length
    val sd = n / math.sqrt(12.0 * sample.length)
    assert(math.abs(mean - n / 2.0) < 4 * sd, s"mean $mean vs ${n / 2}")
  }

  test("reservoir smaller than k returns everything") {
    val spark0 = spark
    import spark0.implicits._
    val sample = spark.range(7).toDF("x")
      .agg(ReservoirSample(col("x"), 100, 1L).as("s"))
      .select(explode(col("s")).as("v"))
      .collect().map(_.getLong(0)).sorted
    assert(sample.toSeq == (0L until 7L))
  }

  test("heavy-hitter duplicates cannot flood the sample") {
    val spark0 = spark
    import spark0.implicits._
    // value 7 repeated 100k times + 1000 distinct values
    val df = Seq.fill(100000)(7L).toDF("x")
      .union(spark.range(1000, 2000).toDF("x"))
    val sample = df
      .agg(ReservoirSample(col("x"), 100, 5L).as("s"))
      .select(explode(col("s")).as("v"))
      .collect().map(_.getLong(0))
    assert(sample.length == 100)
    assert(sample.distinct.length == 100, "sample must be duplicate-free")
  }

  test("sample is deterministic across partitionings") {
    val spark0 = spark
    import spark0.implicits._
    def run(parts: Int): Seq[Long] =
      spark.range(50000).toDF("x").repartition(parts)
        .agg(ReservoirSample(col("x"), 64, 9L).as("s"))
        .select(explode(col("s")).as("v"))
        .collect().map(_.getLong(0)).toSeq
    assert(run(1) == run(13))
  }
}
