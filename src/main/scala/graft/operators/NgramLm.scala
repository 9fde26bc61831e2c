package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.TextExprs

/** Stupid-backoff n-gram language model scoring (Brants et al. 2007,
  * "Large Language Models in Machine Translation" §4) — the
  * CCNet-style perplexity filter: train gram counts on a reference
  * corpus, score every document by its per-token backoff probability,
  * keep documents whose perplexity sits in the accepted band. This is
  * the model-based quality gate real curation pipelines run between
  * the heuristic battery (C4/Gopher) and dedup.
  *
  * Scoring rule (order 2; order 3 adds one more backoff level,
  * S(w|u v) = c3(u v w)/c2(u v) else α·S(w|v)):
  *   - context seen:    S(w|v)   = c2(v w) / c1(v)
  *   - context unseen:  S(w|v)   = α · c1(w)⁺ / N        (α = 0.4)
  *   - document start:  S(w)     = c1(w)⁺ / N            (no α — the
  *     penalty applies to backing OFF an existing context, not to a
  *     position that never had one)
  * where ⁺ floors unseen unigrams at count 1 (same +1-floor stance as
  * the BM25 idf), N = total training tokens. Document score =
  * 10^(−avg log₁₀ S) — classic perplexity, lower = more fluent.
  *
  * Scale shape (the 100 TB contract):
  *   - gram construction is ROW-LOCAL (struct arrays built inside one
  *     projection, then one explode) — no per-doc window, no shuffle
  *     before the count aggregations;
  *   - counts cost one shuffle each (c1, c2[, c3]), pruned by
  *     `minCount` BEFORE any join — a pruned LM is bounded by
  *     vocabulary, not by corpus, so the scoring joins broadcast in
  *     practice (AQE decides; un-pruned counts degrade to shuffle
  *     joins, never to all-pairs);
  *   - scoring pre-aggregates to (doc, context, w, tf) so repeated
  *     grams join once and the average is tf-weighted (the ADVICE-r8
  *     lm-quality shuffle-diet pattern);
  *   - N crosses as a one-row broadcast;
  *   - [[dsirWeights]] scores BOTH its models over ONE pair stream
  *     (one tokenize+explode+pre-aggregate pass, both count sets
  *     joined onto it, one final aggregate) — never two scoring
  *     passes over the corpus.
  *
  * Tokenization is the engine-wide contract: lowered `\s+` splits
  * ([[TextExprs.tokens]] ≡ DuckDB `string_split_regex(lower(trim(t)),
  * '\s+')` non-empty), so oracle replays are exact.
  */
object NgramLm {

  /** pruned gram-count tables of one model; c3 is null for order 2 */
  private final case class Counts(
      c1: DataFrame, c2: DataFrame, c3: DataFrame, n: DataFrame)

  private def trainCounts(trainDf: DataFrame, trainText: String,
      minCount: Long, order: Int): Counts = {
    val trainToks = trainDf
      .select(TextExprs.tokens(col(trainText), lower = true).as("l"))
      .where(size(col("l")) > 0)
    val c1 = trainToks.select(explode(col("l")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .where(col("c") >= minCount)
    val n = c1.agg(sum(col("c")).as("n")) // one row
    val trainPairs = trainToks.select(explode(gramStructs(col("l"))).as("t"))
    val c2 = trainPairs
      .where(col("t.prev").isNotNull)
      .select(concat_ws(" ", col("t.prev"), col("t.w")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .where(col("c") >= minCount)
    val c3 = if (order < 3) null else trainPairs
      .where(col("t.prev2").isNotNull)
      .select(concat_ws(" ", col("t.prev2"), col("t.prev"), col("t.w")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .where(col("c") >= minCount)
    Counts(c1, c2, c3, n)
  }

  /** the (doc, context, w, tf) pre-aggregated scoring stream */
  private def scorePairs(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        TextExprs.tokens(col(textCol), lower = true).as("l"))
      .where(size(col("l")) > 0)
      .select(col("doc_id"), explode(gramStructs(col("l"))).as("t"))
      .groupBy(col("doc_id"), col("t.w").as("w"), col("t.prev").as("prev"),
        col("t.prev2").as("prev2"))
      .agg(count(lit(1)).as("tf"))

  /** left-join one model's count columns onto the pair stream, every
    * joined column suffixed `sfx` so two models can ride one stream */
  private def joinCounts(pairs: DataFrame, m: Counts, order: Int,
      sfx: String): DataFrame = {
    val c2r = m.c2.select(col("g").as(s"g2$sfx"), col("c").as(s"c2c$sfx"))
    val c1p = m.c1.select(col("g").as(s"gp$sfx"), col("c").as(s"c1prev$sfx"))
    val c1w = m.c1.select(col("g").as(s"gw$sfx"), col("c").as(s"c1w$sfx"))
    val joined2 = pairs
      .join(c2r, concat_ws(" ", col("prev"), col("w")) === col(s"g2$sfx"), "left")
      .drop(s"g2$sfx")
      .join(c1p, col("prev") === col(s"gp$sfx"), "left")
      .drop(s"gp$sfx")
      .join(c1w, col("w") === col(s"gw$sfx"), "left")
      .drop(s"gw$sfx")
    val joined = if (order < 3) joined2 else {
      val c3r = m.c3.select(col("g").as(s"g3$sfx"), col("c").as(s"c3c$sfx"))
      val c2p = m.c2.select(col("g").as(s"gpp$sfx"), col("c").as(s"c2p$sfx"))
      joined2
        .join(c3r, concat_ws(" ", col("prev2"), col("prev"), col("w"))
          === col(s"g3$sfx"), "left")
        .drop(s"g3$sfx")
        .join(c2p, concat_ws(" ", col("prev2"), col("prev"))
          === col(s"gpp$sfx"), "left")
        .drop(s"gpp$sfx")
    }
    joined.crossJoin(broadcast(m.n.select(col("n").as(s"n$sfx"))))
  }

  /** the per-position backoff probability from `sfx`-suffixed columns */
  private def sCol(alpha: Double, order: Int, sfx: String): Column = {
    val sUnigram = coalesce(col(s"c1w$sfx"), lit(1L)).cast(DoubleType) /
      col(s"n$sfx").cast(DoubleType)
    val sBigram = // value of the bigram chain GIVEN prev exists
      when(col(s"c2c$sfx").isNotNull,
        col(s"c2c$sfx").cast(DoubleType) / col(s"c1prev$sfx").cast(DoubleType))
        .otherwise(lit(alpha) * sUnigram)
    if (order == 2)
      when(col("prev").isNotNull, sBigram).otherwise(sUnigram)
    else
      when(col("prev2").isNotNull && col(s"c3c$sfx").isNotNull,
        col(s"c3c$sfx").cast(DoubleType) / col(s"c2p$sfx").cast(DoubleType))
        .when(col("prev2").isNotNull, lit(alpha) * sBigram)
        .when(col("prev").isNotNull, sBigram)
        .otherwise(sUnigram)
  }

  private def rounded4Ppl(avgLog: Column): Column =
    round(pow(lit(10.0), -avgLog), 4)

  /** (doc_id, n_tokens, ppl) for every row of `df`; `train` defaults
    * to scoring corpus itself (the self-scored fluency baseline).
    * `order` = 2 (bigram) or 3 (trigram with two-level backoff:
    * c3/c2 → α·(c2/c1) → α²-free unigram chain, each α charged only
    * when an EXISTING longer context was backed off).
    * Deterministic; empty documents score ppl 0.0 with 0 tokens. */
  def perplexity(df: DataFrame, textCol: String, idCol: String,
      train: Option[DataFrame] = None, trainTextCol: Option[String] = None,
      alpha: Double = 0.4, minCount: Long = 1, order: Int = 2): DataFrame = {
    require(order == 2 || order == 3, s"order must be 2 or 3, got $order")
    val m = trainCounts(train.getOrElse(df), trainTextCol.getOrElse(textCol),
      minCount, order)
    val scored = joinCounts(scorePairs(df, textCol, idCol), m, order, "")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        (sum(col("tf").cast(DoubleType) * log10(sCol(alpha, order, ""))) /
          sum(col("tf")).cast(DoubleType)).as("avg_log"))
    df.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(rounded4Ppl(col("avg_log")), lit(0.0)).as("ppl"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): weight each raw
    * document by the log-likelihood ratio between a TARGET-domain LM
    * and the RAW-corpus LM — here the two stupid-backoff models this
    * file already builds, so weight = log₁₀ ppl_raw − log₁₀ ppl_target
    * (positive ⇒ the doc looks more like the target domain than like
    * the background; both ppls 4-rounded first, so the weights equal
    * exactly what thresholding the two [[perplexity]] outputs would
    * give). Resampling composes downstream with the deterministic
    * samplers ([[Sampling]]): rank or threshold on `weight`. ONE
    * tokenize/explode/pre-aggregate pass scores both models; empty
    * docs carry weight 0. */
  def dsirWeights(df: DataFrame, textCol: String, idCol: String,
      target: DataFrame, targetTextCol: Option[String] = None,
      alpha: Double = 0.4, minCount: Long = 1, order: Int = 2): DataFrame = {
    require(order == 2 || order == 3, s"order must be 2 or 3, got $order")
    val mT = trainCounts(target, targetTextCol.getOrElse(textCol), minCount, order)
    val mR = trainCounts(df, textCol, minCount, order)
    val pairs = scorePairs(df, textCol, idCol)
    val scored = joinCounts(joinCounts(pairs, mT, order, "_t"), mR, order, "_r")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        (sum(col("tf").cast(DoubleType) * log10(sCol(alpha, order, "_t"))) /
          sum(col("tf")).cast(DoubleType)).as("avg_log_t"),
        (sum(col("tf").cast(DoubleType) * log10(sCol(alpha, order, "_r"))) /
          sum(col("tf")).cast(DoubleType)).as("avg_log_r"))
    df.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        // + 0.0 folds IEEE −0.0 (a tiny negative ratio rounded down)
        // into the +0.0 the oracle prints
        (round(when(col("n_tokens").isNotNull,
          log10(rounded4Ppl(col("avg_log_r"))) -
            log10(rounded4Ppl(col("avg_log_t"))))
          .otherwise(lit(0.0)), 4) + lit(0.0)).as("weight"))
  }

  /** CCNet's actual banding (Wenzek et al. 2020, "CCNet: Extracting
    * High Quality Monolingual Datasets"): per-LANGUAGE perplexity
    * bands — head (most fluent third), middle, tail.
    *
    * DEFAULT = the sampled-threshold path: band EDGES come from an
    * md5-sampled per-language quantile sketch (the
    * [[Sketches.quantileSample]] keep contract — hash48(doc_id,salt)
    * under `ratePerM`/1M), ranked by the prefix scan
    * ([[Sampling.orderStatistics]]), and broadcast back as buckets−1
    * rows per language. The threshold row is the sample's (ppl, doc_id)
    * order statistic at rank ⌈i·n/buckets⌉; a document lands ABOVE
    * threshold i iff (ppl, doc_id) > (t_ppl, t_doc) lexicographically,
    * so the sketch path converges to the exact banding as ratePerM →
    * 1M and the whole contract replays bit-identically in SQL. A
    * document whose language is NULL, or has an empty sample, lands in
    * bucket 0 (fail-open).
    *
    * `exact = true` is percent_rank within the language, ordered by
    * (ppl, doc_id): (rank − 1)/(n − 1), 0 for a one-row language, with
    * rank and n from the same scan ([[Sampling.withRank]]) — a language
    * of any size ranks in parallel, no row cap.
    *
    * Both paths rank by (ppl, doc_id), a total order because doc ids
    * are unique, the contract of every id-keyed stage.
    *
    * Returns (doc_id, lang, n_tokens, ppl, bucket ∈ [0, buckets),
    * band ∈ {head, middle, tail}). */
  def pplBuckets(df: DataFrame, textCol: String, idCol: String,
      langCol: String, buckets: Int = 3,
      train: Option[DataFrame] = None, alpha: Double = 0.4,
      minCount: Long = 1, order: Int = 2,
      exact: Boolean = false, ratePerM: Int = 250000,
      salt: String = "ppl-band-v1"): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(ratePerM > 0 && ratePerM <= 1000000,
      s"pplBuckets: ratePerM must be in (0, 1000000], got $ratePerM")
    val scored = perplexity(df, textCol, idCol, train, None, alpha,
      minCount, order)
    // the scored corpus is read twice on either path (the scan's range
    // bounds and its rows; the threshold sketch and the final join) —
    // materialize it once (the CURATE stage-boundary stance) so the LM
    // scoring pass, the dominant cost, never runs twice
    val pc = df.select(col(idCol).as("doc_id"), col(langCol))
      .join(scored, Seq("doc_id"))
      .transform(Materialize.checkpoint(_))
    val rankOrder = Seq(col("ppl"), col("doc_id"))
    val withBucket =
      if (exact) {
        // Spark's percent_rank arithmetic, so the buckets replay in SQL
        val pr = when(col("__n") > 1,
          (col("__rank") - 1).cast(DoubleType) / (col("__n") - 1).cast(DoubleType))
          .otherwise(lit(0.0))
        Sampling.withRank(pc, Seq(col(langCol)), rankOrder)
          .withColumn("bucket", least(floor(pr * buckets), lit(buckets - 1))
            .cast(LongType))
      } else {
        // 1. sample — pure (doc_id, salt) keep decision, so the sample
        //    (and every band edge) replays in SQL
        val samp = pc.filter(
          Sampling.hashBucket(col("doc_id"), salt, 1000000) < ratePerM)
        // 2. per-language order statistics over the sample
        val thr = Sampling.orderStatistics(samp.select(col(langCol), col("ppl"),
            col("doc_id")), Seq(col(langCol)), rankOrder,
            (1 until buckets).map(lit(_)))((qi, n) => ceil(qi * n / lit(buckets)))
          .groupBy(col(langCol))
          .agg(sort_array(collect_list(struct(col("__pick").as("qi"),
            col("ppl").as("t_ppl"), col("doc_id").as("t_doc"))))
            .as("__thrs"))
        // 3. thresholds broadcast back (buckets−1 rows per language);
        //    bucket = how many edges this doc's (ppl, doc_id) exceeds
        pc.join(broadcast(thr), Seq(langCol), "left")
          .withColumn("bucket", coalesce(
            size(filter(col("__thrs"), t =>
              col("ppl") > t("t_ppl") ||
                (col("ppl") === t("t_ppl") && col("doc_id") > t("t_doc")))),
            lit(0)).cast(LongType))
          .drop("__thrs")
      }
    withBucket
      .withColumn("band",
        when(col("bucket") === 0, "head")
          .when(col("bucket") === (buckets - 1), "tail")
          .otherwise("middle"))
      .select(col("doc_id"), col(langCol), col("n_tokens"), col("ppl"),
        col("bucket"), col("band"))
  }

  /** keep rows whose perplexity is within (minPpl, maxPpl] — CCNet
    * buckets by LM score; empty docs (ppl 0) fall below every band */
  def perplexityFilter(df: DataFrame, textCol: String, idCol: String,
      maxPpl: Double, minPpl: Double = 0.0,
      train: Option[DataFrame] = None, alpha: Double = 0.4,
      minCount: Long = 1, order: Int = 2): DataFrame = {
    val scoredDf = perplexity(df, textCol, idCol, train, None, alpha,
      minCount, order)
      .where(col("ppl") > minPpl && col("ppl") <= maxPpl)
      .select(col("doc_id"))
    df.join(scoredDf, df(idCol) === scoredDf("doc_id"), "left_semi")
  }

  /** row-local (w, prev, prev2) structs for every token position —
    * built in ONE projection and exploded once, so the token array is
    * never duplicated per output row and no per-doc window shuffle
    * exists. prev/prev2 are null where the document hasn't started
    * yet (positions 0 and 1). */
  private def gramStructs(l: Column): Column =
    transform(sequence(lit(1), size(l)),
      i => struct(element_at(l, i).as("w"),
        when(i > 1, element_at(l, i - 1)).as("prev"),
        when(i > 2, element_at(l, i - 2)).as("prev2")))
}
