package graft

import org.apache.spark.sql.Row
import graft.pipeline.TextAnalysis

/** Unit coverage for the round-6 text-family additions: Gopher-style
  * repetition metrics, PII scan/redaction, and TF-IDF top-k. (End-to-end
  * equality with DuckDB is the driver's oracle check; these pin the
  * hand-computable semantics and edge cases.)
  */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("BPE merge learning: hand-computed rounds, island overlap, early stop") {
    // vocab: "aaaa" x2, "bb" x1.
    // round 1: (a,a) count 3 pairs x freq 2 = 6 beats (b,b)=1; canonical
    //   leftmost-first on a 3-candidate island keeps pos 0 and 2 ->
    //   "aaaa" becomes [aa, aa]
    // round 2: (aa,aa)=2 beats (b,b)=1 -> [aaaa]
    // round 3: only (b,b)=1 remains
    // round 4: no pairs left -> stops early at 3 merges despite k=5
    val docs = Seq((1L, "aaaa aaaa bb")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(docs, k = 5).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq((1, "a", "a", 6L), (2, "aa", "aa", 2L),
      (3, "b", "b", 1L)))
  }

  test("BPE encode counts post-merge symbols per doc; wordless docs are 0") {
    // after k=2 ((a,a) then (aa,aa)): "aaaa" -> [aaaa] = 1 symbol,
    // "bb" -> [b, b] = 2 (the (b,b) merge is round 3, not learned yet)
    val docs = Seq(
      (1L, "aaaa aaaa bb"), // 1 + 1 + 2 = 4
      (2L, "42 ... 17"),    // no alpha words -> 0, row still emitted
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncodedCounts(docs, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 4L, 2L -> 0L))
  }

  test("BPE merge tie-break is (lhs, rhs) byte order") {
    val docs = Seq((1L, "cd ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(docs, k = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // both pairs have count 1; (a,b) < (c,d) byte-wise
    assert(got.toSeq == Seq((1, "a", "b", 1L), (2, "c", "d", 1L)))
  }

  test("safeBatch: conflict stop, concat-collision conflict, 4x guard, cap") {
    def sb(ranked: Seq[(String, String, Long)], batch: Int) =
      TextAnalysis.safeBatch(ranked, batch)
    // complete conflict-free list: everything merges together
    val free = Seq(("a", "b", 100L), ("c", "d", 20L), ("e", "f", 3L))
    assert(sb(free, 3) == free)
    // first conflicting candidate stops the walk (shared symbol b)
    assert(sb(Seq(("a", "b", 100L), ("b", "c", 90L), ("d", "e", 80L)), 3) ==
      Seq(("a", "b", 100L)))
    // concat collision counts as a conflict: merging (x, y) creates "xy",
    // which can feed NEW ("xy", "z") adjacencies mid-batch
    assert(sb(Seq(("xy", "z", 100L), ("x", "y", 90L)), 2) ==
      Seq(("xy", "z", 100L)))
    // tail kept only strictly above 4x the stopper's count
    assert(sb(Seq(("a", "b", 100L), ("c", "d", 90L), ("e", "f", 85L),
      ("b", "x", 20L)), 4) ==
      Seq(("a", "b", 100L), ("c", "d", 90L), ("e", "f", 85L)))
    assert(sb(Seq(("a", "b", 100L), ("c", "d", 50L), ("b", "x", 20L)), 3) ==
      Seq(("a", "b", 100L)))
    // the argmax survives even when it ties the stopper (batch of one is
    // sequential by definition)
    assert(sb(Seq(("a", "b", 10L), ("b", "c", 10L)), 2) ==
      Seq(("a", "b", 10L)))
    // a kept SELF-pair raises the bound to its own count: merging (a, a)
    // can spawn (aa, aa) with up to cnt(a, a) adjacencies, invisible to
    // the stopper
    assert(sb(Seq(("a", "a", 6L), ("b", "b", 1L)), 2) ==
      Seq(("a", "a", 6L)))
    // a non-self argmax does NOT raise the bound; a later self-pair
    // guards only what follows it
    assert(sb(Seq(("a", "b", 100L), ("c", "c", 20L), ("e", "f", 3L)), 3) ==
      Seq(("a", "b", 100L), ("c", "c", 20L)))
    // the batch cap turns the next candidate into a conservative stopper
    assert(sb(Seq(("a", "b", 100L), ("c", "d", 90L), ("e", "f", 88L)), 2) ==
      Seq(("a", "b", 100L)), "cap stopper at 90: 4x exceeds (c,d)? no — " +
        "(c,d)=90 <= 4*90, so only the argmax survives")
  }

  test("batched BPE learning is byte-identical to sequential at k = 8") {
    def merges(docs: org.apache.spark.sql.DataFrame, batch: Int) =
      TextAnalysis.bpeMerges(docs, k = 8, batch = batch).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    // the driver corpus (the verdict's done-criterion)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sequential = merges(corpus, 1)
    for (b <- Seq(2, 4, 8))
      assert(merges(corpus, b) == sequential, s"driver corpus, batch=$b")
    // adversarial corpora: lhs==rhs islands, shared-symbol top pairs,
    // concat collisions, all-tie counts
    val nasty = Seq(
      "aaaa aaaa bb",
      "ab ab ba ba",
      "xy xy zw zw xyzw",
      "cd ab",
      "abc bcd cde abc abc dcba")
    for (c <- nasty; b <- Seq(2, 4)) {
      val docs = Seq((1L, c)).toDF("doc_id", "text")
      assert(merges(docs, b) == merges(docs, 1), s"corpus '$c', batch=$b")
    }
  }

  test("bpeAll yields both outputs from one pass, equal to the single entry points") {
    val docs = Seq((1L, "aaaa aaaa bb"), (2L, "the cat the")).toDF("doc_id", "text")
    val all = TextAnalysis.bpeAll(docs, k = 3, batch = 3)
    assert(all.merges.collect().toSeq ==
      TextAnalysis.bpeMerges(docs, k = 3).collect().toSeq)
    assert(all.encodedCounts.collect().toSeq ==
      TextAnalysis.bpeEncodedCounts(docs, k = 3).collect().toSeq)
  }

  test("rarity counts rare OCCURRENCES by document frequency") {
    // df: "common" in docs 1,2,3 (df=3); "dup" only in doc 2 (df=1,
    // three occurrences — all three count as rare); "solo" df=1;
    // doc 4 is blank -> zeros, not dropped
    val d = Seq(
      (1L, "common solo"),
      (2L, "common dup dup dup"),
      (3L, "common"),
      (4L, "   ")).toDF("doc_id", "text")
    val out = TextAnalysis.rarity(d, maxDf = 2L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 2, 1, 500),   // solo rare: 1/2
      (2L, 4, 3, 750),   // dup x3 rare: 3/4
      (3L, 1, 0, 0),
      (4L, 0, 0, 0)))
  }

  test("repetition metrics: hand-computed fractions and edge docs") {
    val docs = Seq(
      (1L, "a a a a"),          // 4 tokens, 1 distinct, bigram "a a" x3
      (2L, "w x y z"),          // all distinct, every bigram unique
      (3L, ""),                 // blank: all zeros
      (4L, "solo"),             // one token: no bigrams
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetition(docs).collect()
      .map(r => r.getLong(0) -> r).toMap

    assert(got(1L) == Row(1L, 4L, 1L, 75L, 3L, 100L, 0))
    assert(got(2L) == Row(2L, 4L, 4L, 0L, 1L, 33L, 0))
    assert(got(3L) == Row(3L, 0L, 0L, 0L, 0L, 0L, 1))
    assert(got(4L) == Row(4L, 1L, 1L, 0L, 0L, 0L, 1))
  }

  test("repetition keep flag compares the TRUNCATED percentage") {
    // 92 tokens, 27 distinct -> dup = 6500/92 = 70.65 -> floors to 70,
    // which passes the <=70 threshold; comparing the raw double would not
    val words = (1 to 27).map(i => s"w$i") ++ Seq.fill(65)("w1")
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val r = TextAnalysis.repetition(docs).collect().head
    assert(r.getLong(3) == 70L)
    assert(r.getLong(1) == 92L && r.getLong(2) == 27L)
  }

  test("pii scan counts planted spans and redacts them from the fingerprint") {
    val docs = Seq(
      (1L, "mail bob@example.com and alice@test.org from 10.0.0.1"),
      (2L, "call 555-123-4567 or +1 555 123 4567 ssn 123-45-6789"),
      (3L, "clean text with no identifiers at all"),
    ).toDF("doc_id", "text")
    val got = TextAnalysis.piiScan(docs).collect()
      .map(r => r.getLong(0) -> r).toMap

    assert(got(1L).getLong(1) == 2L, "two emails")
    assert(got(1L).getLong(2) == 1L, "one ip")
    assert(got(2L).getLong(3) == 2L, "two phone-shaped spans")
    assert(got(2L).getLong(4) == 1L, "one ssn")
    assert(got(3L).toSeq.slice(1, 5) == Seq(0L, 0L, 0L, 0L))

    // fingerprint is md5 of the REDACTED text: the clean doc's equals the
    // md5 of its raw text, the dirty doc's equals the md5 of the marker form
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(3L).getString(5) == md5hex("clean text with no identifiers at all"))
    assert(got(1L).getString(5) ==
      md5hex("mail [EMAIL] and [EMAIL] from [IP]"))
  }

  test("pii redaction is idempotent on already-redacted text") {
    val docs = Seq((1L, "reach me: joe@corp.io")).toDF("doc_id", "text")
    val once = TextAnalysis.piiScan(docs).collect().head.getString(5)
    // feed the redacted marker text back through: no PII left to find
    val redacted = Seq((1L, "reach me: [EMAIL]")).toDF("doc_id", "text")
    val r2 = TextAnalysis.piiScan(redacted).collect().head
    assert(r2.toSeq.slice(1, 5) == Seq(0L, 0L, 0L, 0L))
    assert(r2.getString(5) == once, "round-trip fingerprint stable")
  }

  test("tfidf ranks rare terms above common ones, ties broken by term") {
    // 'rare' appears only in doc 1 (df=1); 'shared' in all three (df=3).
    // Within doc 1: score(rare) = 1*3/1 = 3 > score(shared) = 2*3/3 = 2.
    val docs = Seq(
      (1L, "rare shared shared"),
      (2L, "shared zeta zeta"),
      (3L, "shared"),
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopK(docs, k = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getLong(3), r.getLong(4)))
      .toMap

    assert(got((1L, 1)) == ("rare", 1L, 1L))
    assert(got((1L, 2)) == ("shared", 2L, 3L))
    // doc 2: zeta tf=2 df=1 -> 6; shared tf=1 df=3 -> 1
    assert(got((2L, 1)) == ("zeta", 2L, 1L))
    assert(got((2L, 2)) == ("shared", 1L, 3L))
    // doc 3 has a single term -> a single row
    assert(got((3L, 1)) == ("shared", 1L, 3L))
    assert(!got.contains((3L, 2)))
  }

  test("substring overlap pairs docs sharing a long run, Jaccard-invisible") {
    // k=5, w=8: any shared token run of >= w+k-1 = 12 tokens guarantees a
    // shared winnow fingerprint. Docs 1 and 2 share a 20-token run inside
    // otherwise-disjoint text (whole-doc 5-gram Jaccard far below any
    // dedup threshold); doc 3 is unrelated.
    val shared = (1 to 20).map(i => s"run$i").mkString(" ")
    val docs = Seq(
      (1L, s"${(1 to 30).map(i => s"alpha$i").mkString(" ")} $shared"),
      (2L, s"$shared ${(1 to 30).map(i => s"beta$i").mkString(" ")}"),
      (3L, (1 to 60).map(i => s"gamma$i").mkString(" ")),
    ).toDF("doc_id", "text")
    val got = graft.pipeline.TextAnalysis
      .substringOverlapPairs(docs, k = 5, w = 8, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
    // the same corpus produces NO whole-doc near-dup pair at tau = 1/2
    val jacc = graft.pipeline.Dedup
      .ngramJaccardPairs(docs, n = 5, tnum = 1, tden = 2).count()
    assert(jacc == 0, "overlap must be invisible to whole-doc Jaccard")
  }

  test("tfidf equal-score ties are deterministic by term order") {
    // both terms tf=1, df=2 -> identical scores in both docs
    val docs = Seq((1L, "bb aa"), (2L, "aa bb")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopK(docs, k = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(got((1L, 1)) == "aa" && got((1L, 2)) == "bb")
    assert(got((2L, 1)) == "aa" && got((2L, 2)) == "bb")
  }

  test("native LangScores equals the composable replace-arithmetic form") {
    import org.apache.spark.sql.functions.col
    // adversarial: adjacent stopwords sharing a delimiter, overlapping
    // self-similar patterns, mixed case, unicode, blanks, ties
    val texts = Seq(
      "the the the and of a to",
      "el que la de y el perro",
      "der die und das ist haus",
      "le la et les des chat",
      "the el der le",             // 4-way tie -> argmax order decides
      "THE AND OF A TO",           // lowercased before scoring
      "a a a a a a",               // repeated 1-char stopword
      "",
      "   ",
      "nothing matching here xyz",
      "café naïve résumé the and", // multi-byte + en
      "the\tand\nof  a to",   // tabs/newlines in runs
    )
    val spark0 = spark
    import spark0.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val both = df.select(col("doc_id"),
        TextAnalysis.langPredExpr(col("text")).as("fast"),
        TextAnalysis.langPredExprComposable(col("text")).as("ref"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    for ((id, fast, ref) <- both)
      assert(fast == ref, s"doc $id: native=$fast composable=$ref")
    // and over the real driver corpus, row for row
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val agree = corpus.select(
        TextAnalysis.langPredExpr(col("text")) ===
          TextAnalysis.langPredExprComposable(col("text")))
      .collect().forall(_.getBoolean(0))
    assert(agree, "native and composable lang-id diverge on the corpus")
  }

  test("tokenChunks: strided windows, short tail, blank docs skipped") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6"), // 7 tokens: starts 0, 3, 6
      (2L, "a b"),                  // 2 tokens: one short chunk
      (3L, "   "),                  // blank: nothing
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tokenChunks(docs, width = 4, stride = 3)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
    assert(got.toSeq == Seq(
      (1L, 0, 0, 4, md5hex("t0 t1 t2 t3")),
      (1L, 1, 3, 4, md5hex("t3 t4 t5 t6")),
      (1L, 2, 6, 1, md5hex("t6")),
      (2L, 0, 0, 2, md5hex("a b"))))
    // every token position is covered by at least one chunk
    val covered = got.filter(_._1 == 1L)
      .flatMap(c => c._3 until (c._3 + c._4)).toSet
    assert(covered == (0 until 7).toSet)
  }
}
