package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}
import graft.functions.FloatArrayQuantize8

/** ScalaCheck properties of the packed-int8 quantizer: range, sign
  * preservation, max-abs saturation, and zero handling hold for
  * arbitrary finite vectors, and the static helper (the single
  * implementation interpreted eval calls) agrees byte-for-byte with
  * the DataFrame (whole-stage codegen) path.
  */
object Int8Props extends Properties("Int8") {

  private val finiteFloat: Gen[Float] =
    Gen.chooseNum(-1e6f, 1e6f).suchThat(f => !f.isNaN && !f.isInfinite)

  private val vec: Gen[List[Float]] = Gen.listOfN(16, finiteFloat)

  private def q8(vs: Seq[Float]): Array[Byte] =
    FloatArrayQuantize8.quantize(
      new GenericArrayData(vs.map(x => x: Any).toArray))

  property("range, signs, saturation, zero vector") =
    Prop.forAll(vec) { vs =>
      val out = q8(vs)
      val ma = if (vs.isEmpty) 0.0 else vs.map(v => Math.abs(v.toDouble)).max
      val inRange = out.forall(b => b >= -127 && b <= 127)
      val signs = vs.zip(out).forall { case (x, b) =>
        b == 0 || (b > 0) == (x > 0f)
      }
      // some element attains max-abs; its byte must saturate at +-127
      val saturates = ma == 0.0 || vs.zip(out).exists { case (x, b) =>
        Math.abs(x.toDouble) == ma && Math.abs(b.toInt) == 127
      }
      val zeroSafe = ma != 0.0 || out.forall(_ == 0)
      inRange && signs && saturates && zeroSafe
    }

  property("helper equals the DataFrame (codegen) path") = {
    val spark = SparkSpec.spark
    import spark.implicits._
    Prop.forAll(Gen.listOfN(8, vec)) { vss =>
      val viaSpark = vss.zipWithIndex
        .map { case (vs, i) => (i.toLong, vs.toArray) }
        .toDF("id", "embedding")
        .select(col("id"),
          FloatArrayQuantize8(col("embedding")).as("q"))
        .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq)
        .toMap
      vss.zipWithIndex.forall { case (vs, i) =>
        viaSpark(i.toLong) == q8(vs).toSeq
      }
    }
  }
}
