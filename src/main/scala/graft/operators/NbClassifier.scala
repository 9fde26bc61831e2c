package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.TextExprs

/** Multinomial Naive Bayes text classification — the counts-based
  * stand-in for the fastText-style linear classifiers real curation
  * pipelines run for quality/domain/language labeling (e.g. the
  * GPT-3/CCNet quality filter shape: train on a labeled slice, score
  * the whole corpus, keep by predicted class). Counts-only math means
  * the whole model is exactly replayable in oracle SQL, unlike a
  * gradient-trained classifier.
  *
  * Model (Laplace +1 smoothing, natural log):
  *  - prior(c)      = log(docs_c / N)
  *  - lik(t, c)     = log((cnt(t,c) + 1) / (tokens_c + V))
  *  - score(d, c)   = prior(c) + Σ_{t ∈ d ∩ V} tf_t · lik(t, c)
  * where V = the training corpus's distinct vocabulary size; document
  * tokens OUTSIDE the training vocabulary are ignored (the standard
  * convention — they carry no class signal), in-vocab tokens unseen in
  * a class take the +1 floor. Tokenization is the engine's lowered
  * `\s+` contract (same as the LM-quality family).
  *
  * Scale shape (100 TB): training = ONE (label, token) count shuffle
  * over the labeled slice (labeled slices are small by construction —
  * the model is `vocab × classes`, prunable with `minCount`); scoring
  * = one (doc, token) tf pre-aggregate (the shuffle-diet stance: the
  * per-class join fans out over DISTINCT doc-tokens × classes, never
  * the raw token stream), with class priors/totals broadcast. The
  * per-doc argmax is a window over n_classes rows per doc. Ranking
  * uses the 6-decimal-rounded score (ties → label order) so the
  * decision replays across engines regardless of sub-ulp float
  * differences; the reported score rounds to 4 like lm_score.
  */
object NbClassifier {

  /** train on `labeled` (textCol + labelCol), classify every row of
    * `docs`; returns (doc_id, pred, score, n_tokens) — `pred` the
    * argmax class, `score` its rounded log-probability, `n_tokens`
    * the count of in-vocabulary tokens that scored. Documents with
    * ZERO in-vocab tokens fall back to the max-prior class. */
  def classify(labeled: DataFrame, textCol: String, labelCol: String,
      docs: DataFrame, idCol: String, minCount: Long = 1L): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    // r18 note: Par.widen on either side measured net-negative here —
    // the explodes feed map-side-combined aggregations, so the extra
    // exchange costs more than the kernel parallelism wins back
    // ---- training side: one (label, token) count shuffle
    val trainToks = labeled.select(col(labelCol).as("__c"),
      explode(TextExprs.tokens(col(textCol), lower = true)).as("tok"))
    val cl = trainToks.groupBy(col("__c"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      // read by vocab, totals AND the scoring join
      .transform(Materialize.checkpoint(_))
    // vocabulary = distinct tokens across the (pruned) model
    val vocab = cl.select(col("tok")).distinct()
    // vocab size and corpus size stay PLAN NODES (one-row frames that
    // broadcast into the scoring joins) instead of driver actions —
    // classify() issues no job beyond the model checkpoint itself
    val vocabSizeDf = cl.agg(countDistinct(col("tok")).as("__v"))
    // per-class token totals + doc priors (each a handful of rows)
    val classTotals = cl.groupBy(col("__c")).agg(sum(col("cnt")).as("ctok"))
    val priors = labeled.groupBy(col(labelCol).as("__c"))
      .agg(count(lit(1)).as("cdocs"))
    val nDocsDf = priors.agg(sum(col("cdocs")).as("__nd"))
    val classes = priors.join(classTotals, Seq("__c"), "left")
      .crossJoin(broadcast(nDocsDf))
      .select(col("__c"),
        log(col("cdocs").cast(DoubleType) / col("__nd").cast(DoubleType))
          .as("prior"),
        // a class with an empty (fully pruned) token table still scores:
        // every token takes the 1/(0 + V) floor
        coalesce(col("ctok"), lit(0L)).as("ctok"))
    // ---- scoring side: tf pre-aggregate, vocab-filtered BEFORE the fan-out
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(TextExprs.tokens(col(textCol), lower = true)).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .join(vocab, Seq("tok"), "left_semi")
    // (doc, tok) × classes, left-joined against the model counts; the
    // class list and totals broadcast (n_classes rows)
    val fanned = tf.crossJoin(broadcast(classes))
      .join(cl, Seq("__c", "tok"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val scored = fanned.groupBy(col("doc_id"), col("__c"))
      .agg(first(col("prior")).as("prior"), first(col("ctok")).as("ctok"),
        sum(col("tf")).as("n_tokens"),
        sum(col("tf").cast(DoubleType) *
          log(col("cnt").cast(DoubleType) + 1.0)).as("num"))
      .crossJoin(broadcast(vocabSizeDf))
      .withColumn("s", col("prior") + col("num") -
        col("n_tokens").cast(DoubleType) *
          log(col("ctok").cast(DoubleType) + col("__v").cast(DoubleType)))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(round(col("s"), 6).desc, col("__c").asc)
    val best = scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("__c").as("pred"),
        round(col("s"), 4).as("score"), col("n_tokens"))
    // zero-in-vocab docs: max-prior class (ties → label order), score =
    // the prior alone, n_tokens = 0
    val fallback = classes.orderBy(round(col("prior"), 6).desc, col("__c").asc)
      .limit(1).select(col("__c").as("__fc"), round(col("prior"), 4).as("__fs"))
    docs.select(col(idCol).as("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .crossJoin(broadcast(fallback))
      .select(col("doc_id"),
        coalesce(col("pred"), col("__fc")).as("pred"),
        coalesce(col("score"), col("__fs")).as("score"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
  }
}
