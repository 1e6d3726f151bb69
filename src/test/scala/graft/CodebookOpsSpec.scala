package graft

import org.apache.spark.sql.functions._
import graft.functions.{CodebookTopN, PqEncodeCodes, PqQueryTable}
import graft.pipeline.{Ivf, Similarity}

/** Equivalence pins for the shuffle-free codebook projections
  * ([[CodebookOps]]): each expression must reproduce EXACTLY the
  * min_by(cid, struct(d2, cid)) contract the previous crossJoin +
  * groupBy assignment computed — same argmin, same smallest-cid
  * tie-break — because every ANN entry's oracle-hashed output rides on
  * those assignments being byte-identical.
  */
class CodebookOpsSpec extends SparkSpec {

  private val rnd = new scala.util.Random(4242)
  private def randVec(dim: Int): Array[Long] =
    Array.fill(dim)((rnd.nextInt(61) - 30).toLong)

  /** The reference semantics: min over cids of (d2, cid) lexicographic,
    * d2 = |q|^2 + |c|^2 - 2<q,c>.
    */
  private def refArgmin(q: Array[Long], cents: Seq[Array[Long]]): Int = {
    val n2 = q.map(x => x * x).sum
    cents.zipWithIndex.map { case (c, cid) =>
      val cn2 = c.map(x => x * x).sum
      val dot = q.zip(c).map { case (a, b) => a * b }.sum
      (n2 + cn2 - 2 * dot, cid)
    }.min._2
  }

  // The case keeps the name it had when the argmin was its own native;
  // that kernel is now PqEncodeCodes at m = 1, which Ivf.assign calls.
  test("CodebookArgmin matches the min_by(d2, cid) contract, ties to smallest cid") {
    val spark0 = spark
    import spark0.implicits._
    val dim = 8
    val k = 5
    // force ties: centroid 3 duplicates centroid 1 exactly
    val cents0 = Seq.fill(k)(randVec(dim)).toIndexedSeq
    val cents = cents0.updated(3, cents0(1).clone())
    val vecs = (0 until 200).map(i => (i.toLong, randVec(dim)))
    val flat = cents.flatMap(_.toSeq)
    val cn2 = cents.map(_.map(x => x * x).sum)
    val got = vecs.toDF("vec_id", "q")
      .select(col("vec_id"),
        PqEncodeCodes(col("q"),
          typedlit(flat), typedlit(cn2), 1).getItem(0).as("pos"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    vecs.foreach { case (id, q) =>
      assert(got(id) == refArgmin(q, cents), s"vec $id")
    }
    // the duplicate pair must always resolve to the smaller cid
    assert(!got.values.exists(_ == 3), "tie must break to the smaller cid")
  }

  test("Ivf.assign (projection) matches a direct min_by re-derivation on real vectors") {
    val spark0 = spark
    import spark0.implicits._
    val emb = (0 until 150)
      .map(i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 4 - 2)))
      .toDF("vec_id", "embedding")
    val p = Similarity.prepared(emb)
    val cents = Ivf.train(p, k = 6, iters = 2)
    val centLocal = cents.select("cid", "c").collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).sortBy(_._1)
    val got = Ivf.assign(p, cents).select("vec_id", "cid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val qs = p.select("vec_id", "q").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    qs.foreach { case (id, q) =>
      assert(got(id) == centLocal(refArgmin(q, centLocal.map(_._2).toSeq))._1,
        s"vec $id")
    }
  }

  test("CodebookTopN returns the n nearest positions ascending by (d2, cid)") {
    val spark0 = spark
    import spark0.implicits._
    val dim = 6
    val k = 7
    val cents0 = Seq.fill(k)(randVec(dim)).toIndexedSeq
    // force a tie pair: centroid 5 duplicates centroid 2
    val cents = cents0.updated(5, cents0(2).clone())
    val flat = cents.flatMap(_.toSeq)
    val cn2 = cents.map(_.map(x => x * x).sum)
    val vecs = (0 until 150).map(i => (i.toLong, randVec(dim)))
    def refTopN(q: Array[Long], n: Int): Seq[Int] = {
      val n2 = q.map(x => x * x).sum
      cents.zipWithIndex.map { case (c, cid) =>
        (n2 + c.map(x => x * x).sum -
          2 * q.zip(c).map { case (a, b) => a * b }.sum, cid)
      }.sorted.take(n).map(_._2)
    }
    for (n <- Seq(1, 3, k, k + 2)) {
      val got = vecs.toDF("vec_id", "q")
        .select(col("vec_id"),
          CodebookTopN(col("q"),
            typedlit(flat), typedlit(cn2), n).as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
      vecs.foreach { case (id, q) =>
        assert(got(id) == refTopN(q, n), s"vec $id n=$n")
      }
    }
  }

  test("PqEncodeCodes matches per-subspace argmin with smallest-cid ties") {
    val spark0 = spark
    import spark0.implicits._
    val m = 4
    val d = 3
    val ks = 5
    val cb = IndexedSeq.tabulate(m, ks)((_, _) => randVec(d))
    val flat = cb.flatten.flatMap(_.toSeq)
    val cn2 = cb.flatten.map(_.map(x => x * x).sum)
    val vecs = (0 until 200).map(i => (i.toLong, randVec(m * d)))
    val got = vecs.toDF("vec_id", "q")
      .select(col("vec_id"),
        PqEncodeCodes(col("q"),
          typedlit(flat), typedlit(cn2), m).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    vecs.foreach { case (id, q) =>
      val want = (0 until m).map { s =>
        refArgmin(q.slice(s * d, s * d + d), cb(s))
      }
      assert(got(id) == want, s"vec $id")
    }
  }

  test("PqQueryTable lays out <q_sub, c> in (sub major, cid minor) order") {
    val spark0 = spark
    import spark0.implicits._
    val m = 3
    val d = 4
    val ks = 4
    val cb = IndexedSeq.tabulate(m, ks)((_, _) => randVec(d))
    val flat = cb.flatten.flatMap(_.toSeq)
    val q = randVec(m * d)
    val tbl = Seq((1L, q)).toDF("vec_id", "q")
      .select(PqQueryTable(col("q"),
        typedlit(flat), m))
      .collect().head.getSeq[Long](0)
    assert(tbl.length == m * ks)
    for (s <- 0 until m; i <- 0 until ks) {
      val want = q.slice(s * d, s * d + d).zip(cb(s)(i))
        .map { case (a, b) => a * b }.sum
      assert(tbl(s * ks + i) == want, s"entry ($s, $i)")
    }
  }
}
