package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus mixture resampling: given target mixture weights (basis points
  * per language) and a document budget, deterministically select the
  * subset that realizes the target mix — the rebalancing step between
  * "measure the mixture" ([[graft.queries.PipelineQueries.corpusMix]])
  * and "train on it".
  *
  * Per language `d`: quota = min(count_d, budget * bp_d / 10000)
  * (integer-exact), then the quota-many docs with the smallest
  * md5-derived 60-bit priority win (ties by doc_id) — the same
  * consistent-sampling priority as [[graft.functions.ReservoirSample]],
  * so membership is a pure function of (seed, doc_id): stable across
  * runs, engines, and partitionings, and a SQL oracle replays it
  * bit-for-bit. Languages absent from `targetsBp` get quota 0.
  *
  * Scale shape: one corpus scan projects (doc_id, lang, priority) —
  * lang-id and priority are per-row codegen'd expressions; quotas come
  * from one lang-keyed group-by whose result is languages-sized
  * (broadcast join back); selection is a per-lang top-quota. With few
  * languages a plain per-lang window concentrates each language in one
  * partition, so `saltBuckets > 1` switches to the exact two-phase
  * top-k: a (lang, salt) local top-quota prunes the corpus to at most
  * salt x quota candidates per language (full parallelism on the wide
  * shuffle), then the global per-lang window ranks only the candidate
  * set — the union of per-salt top-q provably contains the global top-q,
  * so the result is IDENTICAL for every salt (pinned in PackingSpec).
  */
object Mixture {

  /** Deterministic train/validation/test assignment: every document
    * lands in exactly one split by its md5-derived priority mod 10000
    * (basis points — `trainBp` then `valBp` then the remainder to
    * test). Membership is a pure per-row function of (seed, doc_id):
    * no shuffle AT ALL (the projection fuses into the scan), stable
    * across runs/engines/partitionings, and — the property a training
    * pipeline actually relies on — ADDING documents never moves an
    * existing one between splits, because assignment depends only on
    * the row itself (the same consistent-hash contract as [[resample]];
    * contrast `randomSplit`, which reshuffles membership whenever the
    * corpus or partitioning changes).
    */
  def split(docs: DataFrame, trainBp: Int, valBp: Int,
            seed: Long): DataFrame = {
    require(trainBp >= 0 && valBp >= 0 && trainBp + valBp <= 10000,
      s"split basis points must be non-negative and sum <= 10000: " +
        s"train=$trainBp val=$valBp")
    val pri = conv(substring(md5(concat(lit(s"$seed:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    docs.select(col("doc_id").cast("long").as("doc_id"),
      when(pmod(pri, lit(10000L)) < trainBp, "train")
        .when(pmod(pri, lit(10000L)) < trainBp + valBp, "val")
        .otherwise("test").as("split"))
  }

  /** Per-source document cap — web-curation's per-domain cap (a handful
    * of sources dominate any crawl; capping bounds a single source's
    * influence on the mixture before [[resample]]/[[epochMix]] weigh
    * languages): keep at most `cap` documents per source, preferring
    * quality-gate passers, then longer documents, ties by doc_id — all
    * deterministic, so the kept set is stable and SQL-replayable.
    *
    * Scale shape: one corpus scan (keep flag and token count are
    * per-row codegen'd expressions) + one per-source window. A
    * pathological giant source concentrating a partition is the same
    * skew class the bottom-k aggregate
    * ([[graft.functions.ReservoirSample]]) or the Packing salt handles;
    * at a sane source cardinality the window is the right plan.
    */
  def capPerSource(docs: DataFrame, cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be positive, got $cap")
    val scored = docs.select(col("doc_id").cast("long").as("doc_id"),
      col("source"),
      TextAnalysis.keepExpr(col("text")).as("keep"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    val w = Window.partitionBy("source")
      .orderBy(col("keep").desc, col("n_tokens").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= cap)
      .select("doc_id", "source", "rank")
  }

  /** Epoch-weighted corpus expansion — [[resample]]'s complement for
    * mixture weights ABOVE one epoch (resample deliberately caps each
    * quota at the language's population): `epochsBp(lang)` basis points
    * of an epoch (25000 = 2.5 epochs) expand every document of that
    * language into `bp div 10000` full copies, plus one more iff its
    * md5-derived priority mod 10000 lands under `bp mod 10000` — the
    * standard pretraining mixture recipe ("2 epochs of wiki, 0.3 of
    * web"). Copy count is a pure per-row function of (seed, doc_id)
    * (the [[split]] consistent-hash contract): growing the corpus never
    * changes an existing document's repetition, and the realized
    * fraction converges to `bp mod 10000 / 10000` over the corpus.
    * Languages absent from the map contribute nothing.
    *
    * Output `(doc_id, lang, copy)` with copy in `[0, copies)` — the
    * repetition-aware manifest downstream shuffling/packing consumes
    * ([[Packing.deterministicShuffle]] keys can salt in `copy`).
    * Scale shape: one corpus scan + a languages-sized broadcast; the
    * expansion is a per-row sequence explode — no shuffle at all.
    */
  def epochMix(docs: DataFrame, epochsBp: Map[String, Int],
               seed: Long): DataFrame = {
    require(epochsBp.values.forall(_ >= 0),
      s"epoch weights must be non-negative basis points: $epochsBp")
    // sequence() materializes `copies` entries per row; an absurd weight
    // would be a per-row memory bomb, so bound it loudly (1000 epochs)
    require(epochsBp.values.forall(_ <= 10000000),
      s"epoch weights above 1000 epochs look like a unit error: $epochsBp")
    val spark = docs.sparkSession
    import spark.implicits._
    val targets = broadcast(epochsBp.toSeq.toDF("lang", "bp"))
    val scored = docs.select(col("doc_id").cast("long").as("doc_id"),
      TextAnalysis.langPredExpr(spark, col("text")).as("lang"),
      conv(substring(md5(concat(lit(s"$seed:"), col("doc_id").cast("string"))),
        1, 15), 16, 10).cast("long").as("pri"))
    scored.join(targets, Seq("lang"))
      .withColumn("copies",
        expr("bp div 10000").cast("long") +
          when(pmod(col("pri"), lit(10000L)) < (col("bp") % 10000).cast("long"),
            1L).otherwise(0L))
      .filter(col("copies") > 0)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(0L), col("copies") - 1L)).as("copy"))
  }

  def resample(docs: DataFrame, targetsBp: Map[String, Int], budget: Long,
               seed: Long, saltBuckets: Int = 1): DataFrame = {
    require(saltBuckets >= 1, s"saltBuckets must be positive, got $saltBuckets")
    require(budget >= 0, s"budget must be non-negative, got $budget")
    // quota arithmetic computes budget * bp (bp <= 10000) in Long —
    // bound budget so it cannot wrap negative and silently select nothing
    require(budget <= Long.MaxValue / 10000,
      s"budget too large for exact quota arithmetic: $budget")
    require(targetsBp.values.forall(bp => bp >= 0 && bp <= 10000),
      s"weights must be basis points in [0, 10000]: $targetsBp")
    val spark = docs.sparkSession
    import spark.implicits._
    val targets = broadcast(targetsBp.toSeq.toDF("lang", "bp"))
    val scored = docs.select(col("doc_id").cast("long").as("doc_id"),
      TextAnalysis.langPredExpr(spark, col("text")).as("lang"),
      conv(substring(md5(concat(lit(s"$seed:"), col("doc_id").cast("string"))),
        1, 15), 16, 10).cast("long").as("pri"))
    val quotas = scored.groupBy("lang").agg(count(lit(1)).as("n"))
      .join(targets, Seq("lang"), "inner")
      .select(col("lang"),
        least(col("n"), expr(s"(${budget}L * bp) div 10000L")).as("quota"))
    val quotaed = scored.join(broadcast(quotas), "lang")
    val w = Window.partitionBy("lang").orderBy(col("pri"), col("doc_id"))
    val candidates =
      if (saltBuckets == 1) quotaed
      else {
        // phase 1 of exact two-phase top-k: local top-quota within each
        // (lang, salt) slice — at most salt x quota rows per language
        // survive, and the global winners are all among them
        val wSalt = Window
          .partitionBy(col("lang"), pmod(hash(col("doc_id")), lit(saltBuckets)))
          .orderBy(col("pri"), col("doc_id"))
        quotaed.withColumn("srk", row_number().over(wSalt))
          .filter(col("srk") <= col("quota")).drop("srk")
      }
    candidates
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), col("lang"))
  }
}
