package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language id, fingerprinting. All arithmetic is
  * integer-exact so DuckDB oracles reproduce results bit-for-bit; all
  * operators are per-row (narrow, no shuffle) — they scale linearly and
  * push straight through whole-stage codegen.
  */
object TextAnalysis {

  /** Whitespace token count. Blank text is 0 tokens — split of an empty
    * string yields one "" token, which would count as 1.
    */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+"))).cast("int")

  /** `(doc_id, n_tokens)`. */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokenCount(col("text")).as("n_tokens"))
      .orderBy("doc_id")

  /** BPE-style pre-tokenization pattern (the GPT-2 family shape, kept to
    * portable RE2/Java syntax): contraction suffixes, letter runs, digit
    * runs, non-alphanumeric punctuation runs. A real BPE vocab then splits
    * these further; the pre-token count is the standard cheap proxy for
    * token budget at corpus scale.
    */
  val bpePattern: String = "'(?:s|t|re|ve|m|ll|d)|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s']+"

  /** `(doc_id, n_bpe)`: BPE-ish pre-token count via regexp_count — per-row,
    * codegen'd, no shuffle. (The merge-learning loop itself is
    * [[bpeMerges]]; this is the cheap per-document budget proxy.)
    */
  def bpeTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(bpePattern)).cast("int").as("n_bpe"))
      .orderBy("doc_id")

  /** Learned BPE merge table: the real iterative merge-learning loop
    * (Sennrich et al. 2016), not a proxy. Vocabulary = lowercase alpha
    * word runs with corpus frequencies; symbols start as single
    * characters (no end-of-word marker — a documented simplification
    * that changes nothing about the loop's shape); each round counts
    * adjacent symbol pairs weighted by word frequency, merges the
    * most frequent pair (ties broken by (lhs, rhs) byte order — fully
    * deterministic, so a SQL oracle replays the identical k rounds),
    * and rewrites the symbol sequences with canonical leftmost-first
    * non-overlapping application (overlaps only arise when lhs == rhs;
    * islands of consecutive candidates keep their odd-ranked members).
    *
    * Scale shape: BPE learning is VOCAB-scale, not corpus-scale — the
    * word-frequency table is orders of magnitude smaller than the
    * corpus, so after the one corpus-wide word count every round's
    * windows/joins shuffle a chars-of-vocab-sized table hash-partitioned
    * by word. The loop is driver-iterated like [[Cluster]]: one
    * singleton argmax row crosses to the driver per round (never the
    * state), and each round's state is localCheckpoint'd to cut lineage.
    *
    * Returns `(rank, lhs, rhs, cnt)`, one row per learned merge, rank
    * ascending; stops early if the vocabulary runs out of pairs.
    */
  /** The corpus-scale prologue of [[bpeMerges]]: vocabulary with
    * frequencies, exploded to one row per (word, pos, char-symbol).
    */
  private def bpeInitialState(docs: DataFrame): DataFrame =
    docs
      .select(explode(regexp_extract_all(lower(col("text")),
        lit("[a-z]+"), lit(0))).as("word"))
      .groupBy("word").agg(count(lit(1)).cast("long").as("freq"))
      .select(col("word"), col("freq"), posexplode(split(col("word"), "")))
      .select(col("word"), col("freq"), col("pos").cast("int").as("pos"),
        col("col").as("sym"))

  private def bpeWithNext(state: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    state.withColumn("nsym",
      lead(col("sym"), 1).over(Window.partitionBy("word").orderBy("pos")))
  }

  /** ONE round's pair-count plan over the initial state, UNEXECUTED —
    * for plan audits only (the real loop is driver-iterated; see
    * [[graft.pipeline.Cluster.planOf]] for the same pattern).
    */
  def bpeMergesPlanOf(docs: DataFrame): DataFrame =
    bpeWithNext(bpeInitialState(docs)).filter(col("nsym").isNotNull)
      .groupBy("sym", "nsym").agg(sum(col("freq")).as("cnt"))

  def bpeMerges(docs: DataFrame, k: Int, batch: Int = 1): DataFrame =
    bpeLearn(docs, k, batch)._1

  /** Both BPE outputs from ONE learning pass: a pipeline composing the
    * merge table and the encoded counts (the common case — train the
    * tokenizer, then budget the corpus under it) pays one loop, not two.
    * The single-output entry points route through here.
    */
  final case class BpeOutputs(merges: DataFrame, encodedCounts: DataFrame)

  def bpeAll(docs: DataFrame, k: Int, batch: Int = 1): BpeOutputs = {
    val (merges, state) = bpeLearn(docs, k, batch)
    val nSyms = state
      .groupBy("word").agg(count(lit(1)).cast("long").as("n_sym"))
    val counts = docs
      .select(col("doc_id"), explode_outer(regexp_extract_all(lower(col("text")),
        lit("[a-z]+"), lit(0))).as("word"))
      .join(nSyms, Seq("word"), "left")
      .groupBy("doc_id")
      .agg(coalesce(sum(col("n_sym")), lit(0L)).as("n_bpe_tokens"))
      .orderBy("doc_id")
    BpeOutputs(merges, counts)
  }

  /** Token counts under the LEARNED tokenizer: apply the k merges of
    * [[bpeMerges]] back to the corpus and report each document's
    * post-merge symbol count — the number a token-budget pipeline
    * actually wants (the pre-token proxy [[bpeTokens]] over-counts by
    * whatever the merges compress). Because merge application is
    * deterministic PER WORD (context-free), the final training state
    * already carries every word's segmentation — encoding is a
    * vocab-sized join (word -> n_sym), never a second iterative pass:
    * `n_bpe_tokens(doc) = sum over word occurrences of n_sym(word)`.
    * Out-of-vocabulary words cannot arise when encoding the training
    * corpus itself; a serving-time encoder would fall back to
    * character count (= the untrained segmentation).
    */
  def bpeEncodedCounts(docs: DataFrame, k: Int, batch: Int = 1): DataFrame =
    bpeAll(docs, k, batch).encodedCounts

  /** Pick the prefix of one round's ranked pair list that is SAFE to
    * merge together in one application pass, i.e. provably yields the
    * byte-identical result sequential per-pair learning would. Walk the
    * list in rank order (cnt desc, then (lhs, rhs)) accumulating each
    * selected pair's key set {lhs, rhs, lhs+rhs}; stop at the first
    * candidate whose key set intersects the accumulated keys (or at the
    * batch cap), then keep only the prefix whose counts strictly exceed
    * 4x a running bound (the argmax itself is always kept — a batch of
    * one is sequential by definition). The bound starts at the
    * stopper's count and is raised to a kept pair's OWN count whenever
    * that pair is self-adjacent (lhs == rhs): merging (a, a) creates
    * the brand-new pair (aa, aa), whose count is bounded by cnt(a, a)
    * but by nothing the stopper sees — without the raise, "aaaa aaaa
    * bb" batches (b, b) alongside (a, a) while sequential learning
    * picks the emergent (aa, aa) first (caught by the equality spec).
    *
    * Why this is exact, not approximate: merging (a, b) can only change
    * the count of a pair whose key set intersects {a, b, a+b} — merges
    * destroy adjacencies only at consumed b-after-a positions, and
    * create only adjacencies involving the new symbol a+b (which may
    * string-equal a pre-existing symbol, hence the concat in the key).
    * Every such affected pair either ranks at-or-below the stopper (the
    * walk selected everything above it, and affected pairs are by
    * definition unselectable) or is a kept self-pair (two distinct kept
    * pairs can never chain — (rhs_j, lhs_l) shares a symbol with both,
    * so it conflicts unless it IS them, which forces the self case); so
    * its pre-round count is <= the running bound. A new count
    * decomposes over the <=4 ways each side can be an old occurrence or
    * a just-merged pair, each class injecting into one such old pair's
    * adjacencies — so no pair outside the kept prefix can exceed 4x the
    * bound at ANY point inside the batch. Kept pairs' own counts are
    * untouched by each other (disjoint key sets), so at every
    * within-batch step the kept pair IS the sequential argmax, with the
    * same recorded count and the same tie-break.
    */
  private[graft] def safeBatch(
      ranked: Seq[(String, String, Long)], batch: Int): Seq[(String, String, Long)] = {
    val selected = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var keys = Set.empty[String]
    var stopperCnt = 0L
    var stopped = false
    for (p <- ranked if !stopped) {
      val ck = Set(p._1, p._2, p._1 + p._2)
      if (selected.size >= batch || ck.exists(keys)) {
        stopperCnt = p._3
        stopped = true
      } else {
        selected += p
        keys ++= ck
      }
    }
    var bound = stopperCnt
    def raise(p: (String, String, Long)): Unit =
      if (p._1 == p._2) bound = bound max p._3
    raise(selected.head)
    val kept = scala.collection.mutable.ArrayBuffer(selected.head)
    var open = true
    for (p <- selected.tail if open) {
      if (p._3 > 4 * bound) { kept += p; raise(p) }
      else open = false
    }
    kept.toSeq
  }

  /** The learning loop shared by [[bpeMerges]] and [[bpeEncodedCounts]]
    * (via [[bpeAll]]): returns (merge table, final symbol state).
    *
    * `batch` bounds how many merges one Spark round may learn: each
    * round fetches the top batch+1 pairs and applies the provably-safe
    * prefix ([[safeBatch]]) in ONE window pass. batch = 1 is the
    * classic one-merge-per-round Sennrich loop; at a production vocab
    * (k = 32k–50k) one job cycle per merge means 32k+ driver
    * round-trips, and batching non-interacting merges divides that by
    * up to `batch` on the long skewed tail where top pairs rarely share
    * symbols (early rounds, where counts are close, batch narrows
    * automatically — the 4x-stopper guard keeps equality exact, never
    * heuristic). Output is byte-identical for every batch value
    * (spec-pinned at k = 8, and the batched driver query answers to the
    * SEQUENTIAL SQL replay oracle).
    */
  private def bpeLearn(docs: DataFrame, k: Int,
                       batch: Int = 1): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    require(k > 0, s"k ($k) must be positive")
    require(batch >= 1, s"batch ($batch) must be >= 1")
    var state = bpeInitialState(docs).localCheckpoint()
    val byWord = Window.partitionBy("word").orderBy("pos")
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= k && !exhausted) {
      val withNext = bpeWithNext(state)
      val top = withNext.filter(col("nsym").isNotNull)
        .groupBy("sym", "nsym").agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("sym").asc, col("nsym").asc)
        .limit(batch + 1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val ranked = top.toSeq.map(r =>
          (r.getString(0), r.getString(1), r.getLong(2)))
        val kept = safeBatch(ranked, batch).take(k - rank + 1)
        kept.zipWithIndex.foreach { case ((a, b, cnt), i) =>
          merges += ((rank + i, a, b, cnt))
        }
        // canonical leftmost-first application as pure window arithmetic
        // over the ONE (word, pos) ordering — no joins, so each round is
        // a single hash shuffle by word. With a batch, a candidate row
        // matches ANY kept pair; disjoint key sets guarantee consecutive
        // candidates always belong to the SAME pair (possible only when
        // lhs == rhs), so islands keep the one-pair shape: the run start
        // and every second position after it are merge heads, and the
        // row after each head is consumed.
        val cand = kept.map { case (a, b, _) =>
          col("sym") === a && col("nsym") === b
        }.reduce(_ || _)
        val runFrame = byWord.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        val marked = withNext
          .withColumn("cand", cand)
          .withColumn("run_start", col("cand") &&
            !coalesce(lag(col("cand"), 1).over(byWord), lit(false)))
          // for a candidate, the most recent run start at-or-before it
          // is ITS island's start (any non-candidate gap starts anew)
          .withColumn("rsp",
            max(when(col("run_start"), col("pos"))).over(runFrame))
          .withColumn("head",
            col("cand") && (col("pos") - col("rsp")) % 2 === 0)
          .withColumn("consumed",
            coalesce(lag(col("head"), 1).over(byWord), lit(false)))
        state = marked.filter(!col("consumed"))
          .select(col("word"), col("freq"), col("pos"),
            when(col("head"), concat(col("sym"), col("nsym")))
              .otherwise(col("sym")).as("sym"))
          .withColumn("pos", (row_number().over(byWord) - 1).cast("int"))
          .localCheckpoint()
        rank += kept.size
      }
    }
    val table = merges.result().toDF("rank", "lhs", "rhs", "cnt")
      .select(col("rank").cast("int"), col("lhs"), col("rhs"),
        col("cnt").cast("long"))
    (table, state)
  }

  /** Integer occurrence count of literal `kw` in `t` (no regex):
    * (len(t) - len(replace(t, kw, ''))) / len(kw) — exact in any engine.
    */
  def occurrences(t: Column, kw: String): Column =
    ((length(t) - length(regexp_replace(t, java.util.regex.Pattern.quote(kw), "")))
      / kw.length).cast("int")

  /** Mean token length in hundredths, integer-exact; 0 for blank docs. */
  private def meanTokLen100Expr(t: Column): Column = {
    val nToks = tokenCount(t)
    when(nToks === 0, lit(0)).otherwise(
      (length(regexp_replace(t, "\\s", "")).cast("long") * 100L / nToks)).cast("int")
  }

  /** The quality keep/drop flag as ONE per-row expression — the same
    * thresholds [[quality]] reports, exposed at expression level so a
    * composed pipeline (e.g. [[graft.queries.PipelineQueries.pipelinePrep]])
    * can evaluate it inside a single scan projection instead of joining
    * against a second pass over the corpus.
    */
  def keepExpr(t: Column): Column = {
    val nToks = tokenCount(t)
    val nAlpha = length(regexp_replace(lower(t), "[^a-z]", "")).cast("int")
    (nToks >= 5 && nToks <= 100000 &&
      meanTokLen100Expr(t) >= 200 && meanTokLen100Expr(t) <= 1200 &&
      nAlpha * 2 >= length(t).cast("int")).cast("int")
  }

  /** Quality metrics, all integers: char count, token count, alpha-char
    * count, digit count, mean token length (x100, integer division), and
    * a keep/drop flag from simple thresholds (the [[keepExpr]] predicate).
    */
  def quality(docs: DataFrame): DataFrame = {
    val t = col("text")
    val nChars = length(t).cast("int")
    val nToks = tokenCount(t)
    val nAlpha = length(regexp_replace(lower(t), "[^a-z]", "")).cast("int")
    val nDigit = length(regexp_replace(t, "[^0-9]", "")).cast("int")
    docs.select(col("doc_id"), nChars.as("n_chars"), nToks.as("n_tokens"),
        nAlpha.as("n_alpha"), nDigit.as("n_digit"),
        meanTokLen100Expr(t).as("mean_tok_len_100"), keepExpr(t).as("keep"))
      .orderBy("doc_id")
  }

  /** Stopword tables for the n-gram language-ID heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " a ", " of ", " to "),
    "es" -> Seq(" el ", " la ", " de ", " que ", " y "),
    "de" -> Seq(" der ", " die ", " und ", " das ", " ist "),
    "fr" -> Seq(" le ", " la ", " et ", " les ", " des "),
  )

  /** The fixed language order of the score vector (argmax tie order). */
  private val langOrder = Seq("en", "es", "de", "fr")

  /** The language-ID argmax as ONE per-row expression (same scores and
    * tie order as [[langId]]); expression-level so composed pipelines can
    * fold it into a single scan projection.
    *
    * Prediction runs through the native [[graft.functions.LangPred]]
    * expression — one codegen'd `indexOf` sweep with the argmax INSIDE
    * the node, so a filter context (the prep DAG's language gate, where
    * Spark performs no subexpression elimination) evaluates the scoring
    * exactly once per row. The composable `occurrences`-arithmetic form
    * remains below as [[langPredExprComposable]]: it IS the semantics
    * (it mirrors the SQL oracles' replace-length arithmetic), and
    * TextAnalysisSpec pins the native path equal to it. The trailing
    * coalesce reproduces the composable chain's null-text behavior (null
    * scores fall through every `when` to the `otherwise`).
    */
  def langPredExpr(text: Column): Column = {
    val p = graft.functions.LangPred(paddedExpr(text),
      langOrder.map(l => l -> stopwords(l).toSeq))
    // p is null on all-zero scores ("unknown") AND on null text,
    // where the composable when-chain falls through to its
    // `otherwise("fr")` — disambiguate on the cheap raw-null check
    coalesce(p, when(text.isNull, lit("fr")).otherwise(lit("unknown")))
  }

  /** Reference form of [[langPredExpr]]: per-stopword replace-length
    * occurrence arithmetic, the exact composition the DuckDB oracles
    * replay. Kept callable so the spec proves native == composable.
    */
  private[graft] def langPredExprComposable(text: Column): Column = {
    val padded = paddedExpr(text)
    val score = stopwords.map { case (lang, kws) =>
      lang -> kws.map(k => occurrences(padded, k)).reduce(_ + _)
    }
    argmaxExpr(score)
  }

  /** Double every whitespace run so adjacent stopwords don't share a
    * delimiter space: non-overlap counting of ' the the ' would see one
    * match because the first consumed the middle space.
    */
  private def paddedExpr(text: Column): Column =
    concat(lit(" "), regexp_replace(lower(text), "\\s+", "  "), lit(" "))

  private def argmaxExpr(score: Map[String, Column]): Column = {
    val best = langOrder.map(score).reduce((a, b) => greatest(a, b))
    when(best === 0, lit("unknown"))
      .when(score("en") === best, "en").when(score("es") === best, "es")
      .when(score("de") === best, "de").otherwise("fr")
  }

  /** Language ID: integer stopword-occurrence score per language over the
    * space-padded lowercased text; argmax with deterministic tie order
    * (en > es > de > fr > unknown at score 0).
    */
  def langId(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      langPredExpr(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  /** Corpus vocabulary: the `k` most frequent whitespace tokens with
    * exact counts (deterministic tie-break by token). The standard
    * corpus-stats pass before vocab/BPE training: one explode + one
    * hash-shuffle group-by + a top-k — at 100 TB the group-by is the
    * only wide stage, and the top-k moves k rows, not the vocabulary.
    */
  /** Corpus-statistics quality score: the rare-token ratio. A token is
    * RARE when its document frequency (distinct docs containing it) is
    * at most `maxDf`; per document this emits the token count, the
    * rare-token count, and `rare_permille = n_rare * 1000 div n_tokens`
    * (0 for empty docs) — integer-exact in every engine. High rarity
    * flags OCR noise, codes/hashes, and boilerplate-free junk that
    * per-row heuristics ([[quality]]) cannot see, because the signal IS
    * the corpus: the same string scores differently in different
    * corpora.
    *
    * Scale shape: one token explode (the shared tokenize convention) +
    * a distinct for df + ONE shuffle join of the token table against
    * the vocab-sized df dictionary, then a co-partitioned per-doc
    * aggregate. The dictionary is vocab-sized (Heaps' law: ~1e7-1e8
    * entries at 100 TB — a plain shuffle join; broadcast only if a df
    * floor prunes it first). Empty documents survive with zeros via
    * the id-spine left join.
    */
  def rarity(docs: DataFrame, maxDf: Long): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("t"))
      .filter(length(col("t")) > 0)
    val dfDict = toks.select("doc_id", "t").distinct()
      .groupBy("t").agg(count(lit(1)).as("df"))
    val perDoc = toks.join(dfDict, "t")
      .groupBy("doc_id").agg(
        count(lit(1)).cast("int").as("n_tokens"),
        sum(when(col("df") <= maxDf, 1).otherwise(0)).cast("int").as("n_rare"))
    docs.select(col("doc_id").cast("long").as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0)).as("n_tokens"),
        coalesce(col("n_rare"), lit(0)).as("n_rare"))
      .withColumn("rare_permille",
        when(col("n_tokens") === 0, 0)
          .otherwise(expr("(n_rare * 1000) div n_tokens")).cast("int"))
  }

  def vocabulary(docs: DataFrame, k: Int): DataFrame =
    docs.select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)

  /** Winnowed rolling-hash fingerprints (the MOSS scheme, Schleimer et
    * al. 2003): hash every token k-gram, then keep the minimum hash of
    * each sliding window of `w` consecutive k-grams (ties to the
    * rightmost, i.e. latest position). Guarantees: any shared run of
    * w+k-1 tokens between two documents shares at least one fingerprint,
    * and ~1/w of the k-gram hashes survive — a position-robust partial-
    * overlap signature at a fraction of the shingle volume.
    *
    * The k-gram hash is the md5 hex digest of the space-joined gram
    * (tokens are whitespace-free, so the join is unambiguous): any engine
    * computes it identically, and the winnow min is a plain lexicographic
    * min over lowercase-hex ASCII — bit-for-bit portable, unlike a
    * engine-private 64-bit hash. MOSS only needs *a* consistent hash
    * order, so the scheme is unchanged.
    *
    * `(doc_id, fp)` distinct. All window work (lead for k-grams, min over
    * a row frame for winnowing) is codegen'd; one doc_id shuffle total.
    */
  def winnowedFingerprints(docs: DataFrame, k: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && w >= 1)
    // gram construction shared with the dedup family (Dedup.gramTable):
    // one tokenization contract for shingles and winnow alike
    val grams = Dedup.gramTable(docs, k)
      .select(col("doc_id"), col("idx"),
        md5(to_binary(col("g"), lit("utf-8"))).as("h"))
    // winnow: min hash over each w-window of consecutive k-gram positions
    val frame = Window.partitionBy("doc_id").orderBy("idx")
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .select(col("doc_id"), min(col("h")).over(frame).as("fp"),
        count(lit(1)).over(frame).as("span"))
      .filter(col("span") === w) // only complete windows select
      .select("doc_id", "fp").distinct()
  }

  /** Substring-overlap pairs: documents sharing at least `minShared`
    * distinct winnowed fingerprints ([[winnowedFingerprints]] at (k, w)).
    * The winnow guarantee turns this into a substring-dedup proxy: any
    * shared token run of length >= w+k-1 forces at least one shared
    * fingerprint, so long verbatim overlaps (quotes, boilerplate,
    * near-complete copies with different tails) are caught even when
    * whole-document Jaccard stays far below any dedup threshold.
    *
    * Scale shape: fingerprint co-occurrence equi-join — identical to the
    * shingle co-occurrence of [[Dedup.ngramJaccardPairs]] but on a ~1/w
    * sample of grams, with the same hot-key characteristics (a fingerprint
    * shared by f docs fans out f^2; cap upstream like `maxDocFreq` if a
    * corpus has mega-duplicated boilerplate).
    */
  def substringOverlapPairs(docs: DataFrame, k: Int, w: Int,
                            minShared: Long): DataFrame = {
    // no cache: the two join sides are the same subplan modulo aliases,
    // so Spark's ReuseExchange computes the fingerprints once and reads
    // the shuffle output twice (pinned in WinnowSpec) — unlike a cache()
    // it leaves nothing behind in a long-lived session and holds no
    // corpus-sized block store at 100 TB
    val fp = winnowedFingerprints(docs, k, w)
    fp.select(col("doc_id").as("da"), col("fp"))
      .join(fp.select(col("doc_id").as("db"), col("fp")), "fp")
      .filter(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(col("da").cast("long"), col("db").cast("long"),
        col("shared").cast("long"))
  }

  /** Substring-overlap span resolution: given the candidate pairs of
    * [[substringOverlapPairs]] at the same (k, w, minShared), decide
    * WHICH token region is dropped from WHICH document — the step a prep
    * pipeline actually executes after pair discovery. Policies: keep-first
    * (default) — in every overlapping pair the lower doc_id keeps its
    * text untouched, and the higher doc_id drops every token covered by
    * a k-gram it shares with ANY of its lower-id partners; keep-longest
    * (`keepLongest = true`) — the pair member with more whitespace
    * tokens keeps instead (ties to the lower id), the policy that
    * preserves the most content when boilerplate fragments embed in
    * longer originals. Covered k-gram
    * positions (each covering tokens `[idx, idx+k-1]`) are merged into
    * maximal spans (overlapping-or-adjacent intervals coalesce), emitted
    * as `(doc_id, start_tok, end_tok, n_tokens)` — 0-based inclusive
    * token offsets, ordered.
    *
    * Note the candidate/verify split: winnowed fingerprints (a ~1/w
    * sample) nominate the PAIRS, but spans come from exact shared
    * k-grams of the nominated docs only — winnowing never truncates a
    * reported span, and no gram comparison ever runs outside the
    * candidate set.
    *
    * Scale shape: the pair list is tiny relative to the corpus (it only
    * holds actual near-duplicates), so the corpus is pruned to the
    * nominated docs BEFORE gram explosion — the per-token
    * posexplode+window work runs over candidate docs only, never
    * corpus-wide, and the exact-gram comparison is an equi-join on
    * (partner, gram-hash) between those two pruned sides. Interval merge
    * is one window over (doc_id, idx) — the same per-doc shuffle every
    * text operator here pays.
    */
  def substringSpans(docs: DataFrame, k: Int, w: Int,
                     minShared: Long, keepLongest: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // referenced three times below (partner map + both id prunes).
    // AQE stage reuse only covers the replicas partially (the shared
    // winnow shuffle, not the per-consumer downstream stages), so the
    // near-dup-count-sized pair list is materialized ONCE with an eager
    // localCheckpoint — measured 1.4x on the driver corpus. Unlike a
    // cache() it holds pair-list blocks (KB), not corpus blocks, and
    // cuts the nomination lineage. Skipped under the plan-only flag so
    // plan audits see the full unrun composition (gate precedent).
    val pairsRaw = substringOverlapPairs(docs, k, w, minShared)
      .select(col("da"), col("db"))
    val pairsFirst =
      if (sys.props.contains("graft.plan.only")) pairsRaw
      else pairsRaw.localCheckpoint()
    // policy = which side of each overlapping pair keeps its text.
    // keep-first (default): the lower doc_id (pairs arrive da < db).
    // keep-longest: the doc with MORE whitespace tokens keeps; ties fall
    // back to the lower id — a total order either way, so orientation
    // can never cycle. Token counts are computed only for the docs the
    // near-dup-sized pair list names, never corpus-wide.
    val pairs = if (!keepLongest) pairsFirst else {
      val ids = pairsFirst.select(col("da").as("doc_id"))
        .union(pairsFirst.select(col("db").as("doc_id"))).distinct()
      val tc = docs.join(ids, "doc_id")
        .select(col("doc_id"), tokenCount(col("text")).as("nt"))
      pairsFirst
        .join(tc.select(col("doc_id").as("da"), col("nt").as("na")), "da")
        .join(tc.select(col("doc_id").as("db"), col("nt").as("nb")), "db")
        .select(
          when(col("nb") > col("na"), col("db")).otherwise(col("da")).as("da"),
          when(col("nb") > col("na"), col("da")).otherwise(col("db")).as("db"))
    }
    // prune the corpus to candidate docs BEFORE the k-gram explosion:
    // the id lists are near-dup-count-sized (broadcast joins), so the
    // expensive per-token work never touches a non-duplicate document
    val loserDocs = docs.join(
      pairs.select(col("db").as("doc_id")).distinct(), "doc_id")
    val winnerDocs = docs.join(
      pairs.select(col("da").as("doc_id")).distinct(), "doc_id")
    // exact k-gram positions, hashed like the winnow path so the join
    // key is a fixed-width hex string rather than the gram text itself
    def hashedGrams(d: DataFrame) = Dedup.gramTable(d, k)
      .select(col("doc_id"), col("idx"),
        md5(to_binary(col("g"), lit("utf-8"))).as("h"))
    val loserGrams = hashedGrams(loserDocs)
      .join(pairs, col("doc_id") === col("db"))
      .select(col("db"), col("da"), col("idx"), col("h"))
    val winnerGrams = hashedGrams(winnerDocs)
      .select(col("doc_id").as("da"), col("h")).distinct()
    val covered = loserGrams
      .join(winnerGrams, Seq("da", "h"))
      .select(col("db").as("doc_id"), col("idx")).distinct()
    // gaps-and-islands: a covered gram at idx spans [idx, idx+k-1], so a
    // new island starts when the gap from the previous covered gram
    // exceeds k (idx = prev + k is contiguous and coalesces)
    val byDoc = Window.partitionBy("doc_id").orderBy("idx")
    covered
      .withColumn("prev", lag(col("idx"), 1).over(byDoc))
      .withColumn("new_isl",
        when(col("prev").isNull || col("idx") > col("prev") + k, 1)
          .otherwise(0))
      .withColumn("island", sum(col("new_isl")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(min(col("idx")).as("s"), max(col("idx")).as("e"))
      .select(col("doc_id").cast("long"),
        col("s").cast("int").as("start_tok"),
        (col("e") + (k - 1)).cast("int").as("end_tok"),
        (col("e") - col("s") + k).cast("int").as("n_tokens"))
  }

  /** Overlapping token-window chunking — the context-window prep step
    * for embedding/RAG pipelines: each document becomes the chunks
    * `[k*stride, k*stride + width)` over its whitespace tokens, emitted
    * as `(doc_id, chunk_id, start_tok, n_tokens, chunk_fp)` with the
    * fingerprint hashing the space-rejoined window (the rebuilt-text
    * convention of [[substringSpansApply]]). Every token position
    * belongs to at least one chunk; trailing chunks may be short; blank
    * documents emit nothing.
    *
    * Scale shape: NO token-level explode-join — one `sequence` explode
    * per document (n/stride rows) and a per-row `slice` over the token
    * array, so the fan-out is exactly the overlap factor width/stride
    * and everything stays in whole-stage codegen on one scan. No
    * shuffle at all until a consumer aggregates.
    */
  def tokenChunks(docs: DataFrame, width: Int, stride: Int): DataFrame = {
    require(width >= 1, s"width must be positive, got $width")
    require(stride >= 1, s"stride must be positive, got $stride")
    docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id").cast("long").as("doc_id"),
        split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"), col("w"),
        posexplode(sequence(lit(0), size(col("w")) - 1, lit(stride))))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_id"),
        col("col").cast("int").as("start_tok"),
        slice(col("w"), col("col") + 1, lit(width)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        size(col("chunk")).cast("int").as("n_tokens"),
        md5(to_binary(array_join(col("chunk"), " "), lit("utf-8")))
          .as("chunk_fp"))
  }

  /** Span application — executes [[substringSpans]]' keep-first policy
    * over the corpus: every document comes back as
    * `(doc_id, n_kept, clean_fp)` where `clean_fp` is the md5 of the
    * space-rejoined surviving tokens (dropped spans removed). Documents
    * with no spans NEVER tokenize: their fingerprint is the pure
    * per-row whitespace normalization (identical string to the token
    * rejoin by construction), so the explode/rebuild path only touches
    * the near-duplicate docs — at 100 TB the rebuild cost scales with
    * the duplicate set, not the corpus. Emitting the fingerprint rather
    * than the rebuilt text keeps the result oracle-hashable; a real
    * pipeline selects the rebuilt string from the same aggregate.
    */
  def substringSpansApply(docs: DataFrame, k: Int, w: Int,
                          minShared: Long,
                          keepLongest: Boolean = false): DataFrame = {
    // four downstream references (spanDocs feeds three subtrees, surv a
    // fourth) — materialize the span-count-sized list once, the same
    // policy (and plan-only escape) as the pair list inside
    // substringSpans; without this one action replays the whole span
    // pipeline per reference
    val spansRaw = substringSpans(docs, k, w, minShared, keepLongest)
      .select(col("doc_id"), col("start_tok"), col("end_tok"))
    val spans =
      if (sys.props.contains("graft.plan.only")) spansRaw
      else spansRaw.localCheckpoint()
    val spanDocs = spans.select("doc_id").distinct()
    val normFp = md5(to_binary(
      regexp_replace(trim(col("text")), "\\s+", " "), lit("utf-8")))
    val untouched = docs.join(spanDocs, Seq("doc_id"), "left_anti")
      .select(col("doc_id").cast("long"),
        tokenCount(col("text")).as("n_kept"), normFp.as("clean_fp"))
    val toks = docs.join(spanDocs, "doc_id")
      .select(col("doc_id"), posexplode(split(trim(col("text")), "\\s+")))
      .select(col("doc_id"), col("pos").as("idx"), col("col").as("w"))
      .filter(length(col("w")) > 0)
    val surv = toks.join(spans,
      toks("doc_id") === spans("doc_id") &&
        toks("idx") >= spans("start_tok") && toks("idx") <= spans("end_tok"),
      "left_anti")
    val rebuilt = surv.groupBy("doc_id").agg(
      count(lit(1)).cast("int").as("n_kept"),
      md5(to_binary(array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("w")))),
          x => x.getField("w")), " "), lit("utf-8"))).as("clean_fp"))
    val spanOut = spanDocs.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id").cast("long"),
        coalesce(col("n_kept"), lit(0)).cast("int").as("n_kept"),
        coalesce(col("clean_fp"),
          md5(to_binary(lit(""), lit("utf-8")))).as("clean_fp"))
    untouched.unionByName(spanOut)
  }

  /** Content-fingerprint expression: md5 of the whitespace-normalized
    * lowercase text — a deterministic, engine-portable document identity
    * for dedup joins. Shared with the streaming ingestion dedup
    * ([[graft.streaming.DocStreams]]).
    */
  def fingerprintExpr(text: Column): Column =
    md5(to_binary(regexp_replace(trim(lower(text)), "\\s+", " "), lit("utf-8")))

  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprintExpr(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Gopher-style repetition metrics (Rae et al. 2021 §A1.1, adapted from
    * lines to tokens — the driver corpus is single-line): per document,
    * the duplicate-token fraction and the most-frequent-bigram mass, both
    * as integer percentages (truncating division — exact in any engine).
    * `keep_rep` applies the classic thresholds: drop when more than 70%
    * of tokens are repeats or one bigram carries more than 20% of bigram
    * mass — the cheap filter that kills boilerplate/SEO spam before any
    * pairwise dedup runs.
    *
    * Scale shape: token/bigram tables come from the one shared
    * tokenization pipeline ([[Dedup.gramTable]]); two doc_id-keyed
    * group-bys (the same shuffle key, so they co-partition) and a
    * left join back to the id spine for blank docs. No all-pairs work,
    * state linear in distinct grams per doc.
    */
  def repetition(docs: DataFrame): DataFrame = {
    val uni = Dedup.gramTable(docs, 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("g")).as("n_distinct"))
    val bi = Dedup.gramTable(docs, 2)
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram_n"))
    // Column./ on longs is DOUBLE division — floor before comparing, so the
    // keep flag sees the same truncated percentage the output column carries
    val dupPct = when(col("n_tokens") === 0, lit(0L))
      .otherwise(floor((col("n_tokens") - col("n_distinct")) * 100L / col("n_tokens")))
    val topPct = when(col("n_bigrams") === 0, lit(0L))
      .otherwise(floor(col("top_bigram_n") * 100L / col("n_bigrams")))
    docs.select(col("doc_id")).join(uni, Seq("doc_id"), "left")
      .join(bi, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).cast("long").as("n_tokens"),
        coalesce(col("n_distinct"), lit(0L)).cast("long").as("n_distinct"),
        coalesce(col("n_bigrams"), lit(0L)).cast("long").as("n_bigrams"),
        coalesce(col("top_bigram_n"), lit(0L)).cast("long").as("top_bigram_n"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        dupPct.cast("long").as("dup_token_pct"),
        col("top_bigram_n"),
        topPct.cast("long").as("top_bigram_pct"),
        (dupPct <= 70L && topPct <= 20L).cast("int").as("keep_rep"))
  }

  /** PII patterns, kept to the regex subset Java and RE2 match
    * identically (no lookaround, no backrefs; greedy fixed classes, ASCII
    * `\b`). Redaction order is fixed (email, ip, phone, ssn) so engines
    * agree on overlapping spans.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ip" -> "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
    "phone" -> "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}",
    "ssn" -> "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b",
  )

  /** PII scan + redaction: per document, the match count of each PII
    * family and the md5 fingerprint of the fully-redacted text (each
    * family's spans replaced by its `[TAG]`, in [[piiPatterns]] order).
    * Per-row regexp expressions — narrow, codegen'd, no shuffle; at
    * 100 TB this runs inside the same scan projection as the rest of
    * the quality family.
    */
  def piiScan(docs: DataFrame): DataFrame = {
    val counts = piiPatterns.map { case (name, re) =>
      regexp_count(col("text"), lit(re)).cast("long").as(s"n_$name")
    }
    val redacted = piiPatterns.foldLeft(col("text")) { case (t, (name, re)) =>
      regexp_replace(t, re, s"[${name.toUpperCase}]")
    }
    docs.select(
      col("doc_id") +: counts :+ md5(to_binary(redacted, lit("utf-8"))).as("red_fp"): _*)
  }

  /** Per-document top-`k` TF-IDF terms `(doc_id, rank, term, tf, df)`.
    *
    * Scoring uses RAW idf — score = tf * N / df as an exact rational —
    * instead of the usual log-idf: ranking by a rational is engine-exact
    * (the ORDER BY key `(tf*N)/df` is one IEEE-754 division, which is
    * exactly rounded and therefore bit-identical in any engine, with a
    * deterministic term tie-break), where `ln` differs across libm
    * implementations in the last ulp. Raw idf is order-equivalent to
    * log-idf per document when tf is constant, and the plan is identical
    * if a production caller swaps the score expression.
    *
    * Plan shape at 100 TB: one (doc,term) group-by, one term-keyed df
    * group-by joined back on term (both partial-aggregated map-side), a
    * broadcast 1-row corpus count, and a per-doc top-k window — the
    * window's state is k rows per doc, and the df join key is the term
    * dictionary, not the corpus.
    */
  def tfidfTopK(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Dedup.gramTable(docs, 1)
      .groupBy(col("doc_id"), col("g").as("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(((col("tf") * col("n_docs")).cast("double") / col("df")).desc,
        col("term").asc)
    tf.join(df, "term").crossJoin(broadcast(nDocs))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("int").as("rank"), col("term"),
        col("tf").cast("long").as("tf"), col("df").cast("long").as("df"))
  }
}
