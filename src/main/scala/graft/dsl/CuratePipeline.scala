package graft.dsl

import scala.concurrent.Await
import scala.concurrent.duration._
import java.util.concurrent.TimeoutException

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.operators.{Dedup, Sampling, Sketches, TextOps}

/** Declarative curation pipeline — the reference's JSON-DSL surface
  * ([[JsonQuery]], `beacon-core/src/query/mod.rs`) extended over the
  * engine's training-data operators: a `stages` array applied in
  * order to a document table. Every stage preserves the row shape
  * (id + text + passenger columns), so stages compose like the
  * relational DSL's clauses do.
  *
  * {{{
  * {"stages": [
  *   {"op": "html_extract", "min_words": 5, "min_text_ratio": 0.25},
  *   {"op": "c4_clean", "require_pass": false},
  *   {"op": "normalize"},
  *   {"op": "gopher_filter", "min_words": 20},
  *   {"op": "pii_redact"},
  *   {"op": "dedup_paragraphs"},
  *   {"op": "dedup_exact"},
  *   {"op": "dedup_substrings", "shingle_n": 3, "min_docs": 2},
  *   {"op": "minhash_neardup", "bands": 4, "max_bucket": 50},
  *   {"op": "decontaminate", "benchmark_col": "is_bench", "max_frac": 0.05},
  *   {"op": "lm_quality_filter", "max_score": 9.0},
  *   {"op": "stratified_sample", "strata": "lang", "salt": "v1",
  *    "rates": {"en": 0.5}, "default_rate": 0.1},
  *   {"op": "temperature_sample", "group": "lang", "salt": "v1", "alpha": 0.5},
  *   {"op": "cap_per_group", "group": "source", "salt": "v1", "cap": 7},
  *   {"op": "mixture", "group": "source", "salt": "v1",
  *    "weights": {"wiki": 2.5}, "default_weight": 1.0},
  *   {"op": "repetition_filter", "max_dup_gram_frac": 0.2,
  *    "max_top_gram_frac": 0.2, "min_distinct_ratio": 0.3},
  *   {"op": "token_budget", "salt": "v1", "budget": 1000000000,
  *    "shard": "source"},
  *   {"op": "embed_text", "salt": "v1", "dim": 64},
  *   {"op": "semdedup", "vec_col": "embedding", "k": 256, "tau": 0.9},
  *   {"op": "image_hash", "payload_col": "payload"},
  *   {"op": "hash_neardup", "hash_col": "image_hash", "max_dist": 3},
  *   {"op": "chunk", "chunk_tokens": 512, "overlap_tokens": 64},
  *   {"op": "tokenize", "merges": [["e","r"], ["t","h"]]},
  *   {"op": "pack", "seq_len": 2048, "eos_id": 0, "shard": "source"}
  * ]}
  * }}}
  *
  * Scale (per-stage shuffle budget, the documented costs of the
  * operators each stage delegates to):
  *  - map-only, fuse into one projection pass over the scan:
  *    `html_extract`, `normalize`, `c4_clean`, `gopher_filter`, `pii_redact`,
  *    `stratified_sample` (codegen hash filter), `mixture` (hash CASE
  *    + sequence/explode).
  *  - one shuffle: `dedup_exact` (fingerprint window),
  *    `cap_per_group` (group window), `temperature_sample` (per-group
  *    count, joined back by broadcast).
  *  - one shuffle + semi-join back: `repetition_filter` (per-doc
  *    scalars are map-only; the top-gram rank shuffles on (doc,
  *    gram), bounded by tokens-per-doc), `hash_neardup` (banded
  *    16-bit Hamming self-join, never all-pairs, + connected
  *    components: one job per round, O(log diameter) rounds).
  *  - distributed prefix scan + semi-join back: `token_budget` (one
  *    range shuffle; per-partition sums broadcast back as offsets and
  *    added map-side — shard-local with `shard`).
  *  - bounded multi-shuffle: `dedup_paragraphs` (digest keeper agg +
  *    join-back + per-doc reassembly), `lm_quality_filter` (tf
  *    pre-aggregate, vocab counts, score join — corpus-relative, so
  *    the score is computed over the CURRENT stage input),
  *    `decontaminate` (benchmark shingle set broadcasts; corpus side
  *    is one map-side probe + per-doc count), `minhash_neardup`
  *    (banded LSH self-join — never all-pairs — + connected
  *    components: one job per round, O(log diameter) rounds),
  *    `perplexity_filter` (two count shuffles for the bigram LM +
  *    tf-pre-aggregated scoring joins; counts prune at min_count),
  *    `semdedup` (map-only cell assign against a broadcast codebook,
  *    ONE shuffle on the cell key for the within-cell threshold
  *    join — k tunes the quadratic per-cell term).
  *
  * Every stage preserves the (id, text, passenger) row shape and the
  * input column order; `mixture` additionally APPENDS an `epoch`
  * column and replicates rows, so it belongs at the end of a chain
  * (stages after it still compose — ids are simply no longer unique).
  * Two stages change shape on purpose, the trainer-feed tail:
  * `tokenize` appends `token_ids`/`n_bpe_tokens` (map-only encode
  * against a fixed merge table — inline or a merges.txt artifact via
  * `merges_path`; corpus-relative vocab, one bounded collect), and the
  * TERMINAL `pack` replaces documents with fixed-length sequences
  * (the same distributed prefix scan — shard-local with `shard` —
  * plus the one seq_id shuffle).
  * Stage order is the caller's policy — e.g. c4_clean before
  * normalize, because normalization collapses the newlines the line
  * rules read; dedup before sampling so survivors don't depend on
  * which duplicate the sampler kept. Id-keyed stages (`dedup_exact`,
  * the semi-join filters) assume UNIQUE ids — place them BEFORE the
  * replicating stages (`mixture`, `chunk`), whose output ids repeat
  * (a dedup keeper among equal ids would otherwise be tie-ambiguous).
  */
object CuratePipeline {
  import JsonQuery.DslException

  /** The CURATE body `json` applied to `df`: one lazy frame whose plan
    * every consumer (a CTAS, [[report]], a caller's action) runs.
    * Stages whose operators read their input more than once get that
    * input checkpointed first ([[materializeInput]]), as a job of its
    * own under the label `curate: <op> input checkpoint`, before this
    * returns. Every stage's output, and the seed, carries one
    * [[Observation]] counting its rows; an action over the frame
    * delivers them (`SHOW QUERY METRICS` records them per action).
    * Observations are per action: a partial action such as `show`
    * records partial counts. */
  def compile(df: DataFrame, json: String,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    run(df, json, textCol, idCol)._1

  /** The survivors of every stage, the "what did each stage drop" table
    * a production curation run records: (stage, op, rows_out), stage 0
    * = input. It runs [[compile]]'s plan once, by one noop write over
    * the compiled frame, and reads the rows from the observations that
    * plan delivers, so it costs what the CURATE statement costs and
    * keeps no copy of the corpus beyond compile's own input
    * checkpoints. A count that is not delivered within a fixed bound,
    * or that arrives without a value, fails the report naming its
    * stage; it never reads as 0. */
  def report(df: DataFrame, json: String,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (out, observed) = run(df, json, textCol, idCol)
    graft.operators.Par.withJobDescription(spark.sparkContext, "curate report")(
      out.write.format("noop").mode("overwrite").save())
    val deadline = System.nanoTime() + ObservationWait.toNanos
    observed.map { case (k, op, obs) =>
      val row = try Await.result(obs.future, (deadline - System.nanoTime()).max(0L).nanos)
        catch { case _: TimeoutException => throw new DslException(
          s"curate report: stage $k ($op) delivered no row count within $ObservationWait") }
      if (row.length == 0 || row.isNullAt(0)) throw new DslException(
        s"curate report: stage $k ($op) delivered an observation without a row count")
      (k, op, row.getLong(0))
    }.toDF("stage", "op", "rows_out")
  }

  /** how long [[report]] waits, in all, for its observations: the
    * listener bus delivers them after the action returns */
  private val ObservationWait = 60.seconds

  /** numbers each [[run]], so the observation names of two compiled
    * frames never clash within one plan */
  private val runs = new java.util.concurrent.atomic.AtomicLong()

  /** The one loop over a CURATE body's `stages`: per stage, read its
    * op, checkpoint its input when [[materializeInput]] names the op,
    * apply the stage and observe its row count. Returns the output
    * and the observations as (stage, op, observation), stage 0 = the
    * seed. */
  private def run(df: DataFrame, json: String, textCol: String,
      idCol: String): (DataFrame, Seq[(Int, String, Observation)]) = {
    val stages = JsonMethods.parse(json) \ "stages" match {
      case JArray(xs) => xs
      case _ => throw new DslException("curate body must have a 'stages' array")
    }
    val id = runs.incrementAndGet()
    val observed = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Observation)]
    def observe(out: DataFrame, op: String): DataFrame = {
      val obs = Observation(s"curate $id: ${observed.size} $op")
      observed += ((observed.size, op, obs))
      out.observe(obs, count(lit(1)).as("rows"))
    }
    val out = stages.zipWithIndex.foldLeft(observe(df, "input")) { case (cur, (st, k)) =>
      val op = st \ "op" match {
        case JString(s) => s
        case _ => throw new DslException(s"stage missing string 'op': $st")
      }
      // r17: fan the SEED out once when it arrives under-split (one
      // file / one row group — the gate corpus shape) AND the pipeline
      // opens with a CPU-bound row-kernel stage (url hygiene, HTML
      // extraction, media decode): those fronts otherwise run on the
      // scan's 1-2 splits while the machine idles. Model-first pipelines
      // skip it — their cost is shuffles and broadcast rounds, where the
      // extra exchange measured as a net loss. No-op at scale (Par.widen
      // derives the decision from input size) and for non-file seeds.
      val in = if (k == 0 && mapKernelOps(op)) graft.operators.Par.widen(cur) else cur
      // stage-boundary materialization: an operator that reads its
      // input several times (an LM trains on it, scores it, and the
      // verdict semi-joins back) would otherwise recompute everything
      // upstream per read, and the upstream observations would count
      // each read; the checkpoint runs the upstream once, in full —
      // the production stance of writing intermediates between
      // pipeline phases
      val staged =
        if (materializeInput(op))
          graft.operators.Par.withJobDescription(in.sparkSession.sparkContext,
            s"curate: $op input checkpoint")(graft.operators.Materialize.checkpoint(in))
        else in
      observe(applyStage(staged, op, st, textCol, idCol), op)
    }
    (out, observed.toSeq)
  }

  /** first-stage ops whose per-row kernel cost justifies the seed
    * fan-out (see run) — the TEXT-extraction fronts, where the
    * win was measured; media/embedding fronts (image_hash, embed_text,
    * …) benched net-negative under the same treatment (their pipelines
    * are bounded by the near-dup join rounds, not the map kernel) */
  private val mapKernelOps = Set("url_filter", "html_extract", "normalize",
    "c4_clean", "gopher_filter", "pii_redact")

  /** stages whose operators consume their input more than once, or
    * through a sample (a collect over a limit, a range-bounds sample):
    * the inputs [[run]] checkpoints */
  private val materializeInput = Set("lm_quality_filter", "perplexity_filter",
    "dsir_filter", "minhash_neardup", "decontaminate",
    "dedup_substrings", "tokenize", "nb_class_filter",
    "perceptron_filter", "repetition_filter", "token_budget",
    "semdedup", "hash_neardup", "quantile_filter", "pack",
    "cluster_balance", "ppl_band", "temperature_sample", "dedup_paragraphs")

  private def applyStage(df: DataFrame, op: String, st: JValue,
      textCol: String, idCol: String): DataFrame = {
    op match {
      case "url_filter" =>
        // crawl-frontier hygiene AHEAD of the html_extract front door:
        // normalize the URL column (fragment/tracker/default-port
        // strip) and drop rows by scheme, host blocklist (exact or
        // subdomain), or lowercased-URL regex (the C4 badword-in-URL
        // rule). Map-only; chain dedup_exact over the normalized
        // column for frontier dedup.
        val uc = strOr(st, "url_col", "url")
        val base =
          if (bool(st, "normalize", default = true))
            df.withColumn(uc, TextOps.urlNormalize(col(uc)))
          else df
        base.filter(TextOps.urlPass(col(uc),
          allowSchemes = strSeq(st, "allow_schemes", Seq("http", "https")),
          blockHosts = strSeq(st, "block_hosts", Nil),
          blockPatterns = strSeq(st, "block_patterns", Nil)))
      case "robots_filter" =>
        // crawl-frontier politeness inside the pipeline: left-join a
        // per-host robots.txt table (RFC 9309 bodies, one row per
        // host) on the URL column's host and keep rows the configured
        // agent may fetch; hosts without a robots row pass. The robots
        // table is a catalog/temp table named by `robots_table`.
        val uc = strOr(st, "url_col", "url")
        val robots = df.sparkSession.table(str(st, "robots_table"))
        graft.operators.Robots.filterFrontier(df, uc, robots,
          strOr(st, "host_col", "host"), strOr(st, "body_col", "body"),
          strOr(st, "agent", "*"))
      case "html_extract" =>
        // crawl-archive front door: raw HTML in textCol → main-content
        // text (tag strip + jusText-style block heuristic). Map-only;
        // pairs with a WARC scan upstream so CURATE TABLE covers
        // crawl-archive → trainer-sequences end-to-end.
        df.withColumn(textCol, TextOps.htmlExtractText(col(textCol),
          minWords = int(st, "min_words", 5),
          minTextRatio = dbl(st, "min_text_ratio", 0.25)))
      case "normalize" =>
        df.withColumn(textCol, TextOps.normalizeText(col(textCol)))
      case "c4_clean" =>
        val cleaned = df.withColumn(textCol, TextOps.c4CleanedText(col(textCol)))
        if (bool(st, "require_pass", default = true))
          cleaned.filter(TextOps.c4DocPass(col(textCol)))
        else cleaned
      case "gopher_filter" =>
        df.filter(TextOps.gopherPass(col(textCol),
          int(st, "min_words", 50), int(st, "max_words", 100000)))
      case "pii_redact" =>
        df.withColumn(textCol, TextOps.piiRedact(col(textCol)))
      case "dedup_exact" =>
        Dedup.exact(df, textCol, idCol)
      case "dedup_substrings" =>
        // corpus-self exact-substring cuts (Lee et al.): every token
        // span duplicated across ≥ min_docs documents is removed from
        // ALL copies — symmetric, so the result is partitioning-
        // independent. Costs one doc-frequency shuffle + one join-back.
        Dedup.dedupSubstrings(df, textCol, idCol,
          shingleN = int(st, "shingle_n", 3),
          minDocs = int(st, "min_docs", 2))
      case "cap_per_group" =>
        Sampling.capPerGroup(df, str(st, "group"), idCol,
          str(st, "salt"), int(st, "cap", -1) match {
            case n if n > 0 => n
            case _ => throw new DslException("cap_per_group needs a positive 'cap'")
          })
      case "dedup_paragraphs" =>
        // rebuild each doc's text from its surviving paragraphs, then
        // graft the new text back onto the full row (inner join: the
        // operator emits exactly one row per input doc)
        val sep = strOr(st, "sep", "\n\n")
        val rebuilt = TextOps.dedupParagraphs(df, textCol, idCol, sep)
          .select(col("doc_id").as(idCol), col("text").as("__curate_text"))
        df.join(rebuilt, Seq(idCol))
          .withColumn(textCol, col("__curate_text"))
          .select(df.columns.map(col): _*)
      case "minhash_neardup" =>
        // sigs → banded LSH candidates → connected components → each
        // cluster keeps its min-id member; non-keepers anti-join away.
        // Never all-pairs: candidates come from the band buckets, and
        // max_bucket caps degenerate boilerplate buckets.
        val shingleN = int(st, "shingle_n", 3)
        val k = int(st, "k", 8)
        val bands = int(st, "bands", 4)
        val maxBucket = int(st, "max_bucket", 0)
        if (maxBucket == 0) {
          // r17: identical-signature collapse before banding (the
          // hash_neardup trick, ported). Docs with the SAME k-vector
          // share every band bucket, so an n-member duplicate group
          // floods the buckets with n²/2 pairwise-certain candidates —
          // the LSH degenerate case on boilerplate-heavy corpora.
          // Collapsing each signature group to its min-id REP first is
          // result-identical UNCAPPED: any edge (x, member) implies
          // the edge (x, rep) (equal signatures ⇒ equal band keys), so
          // components over reps are the components over members
          // restricted to reps, the cluster min is always a rep, and
          // every non-rep loses to its rep by construction. (With a
          // bucket cap the collapse would change which buckets
          // overflow, i.e. the RESULT — the capped path keeps the
          // original plan.) A null signature means "no shingles", not
          // "equal": those rows never band, so they all survive and
          // stay out of the collapse. CONTRACT (ADVICE r17): idCol must
          // be non-null — id-keyed stages document unique ids already
          // (see the class doc), and this branch's keep-set semi-join
          // would silently drop a null id where the capped branch's
          // anti-join keeps it.
          val sc = df.sparkSession.sparkContext
          val sigs = graft.operators.Par.withJobDescription(sc,
            "curate: minhash sigs checkpoint") {
            graft.operators.Materialize.checkpoint(
              Dedup.minhashSignatures(df, textCol, idCol, shingleN, k))
          }
          val mhCols = (0 until k).map(j => col(s"mh$j"))
          val nonNull = sigs.filter(col("mh0").isNotNull)
          val reps = nonNull.groupBy(mhCols: _*)
            .agg(min(col(idCol)).as(idCol))
            .select(col(idCol) +: mhCols: _*)
          val pairs = Dedup.bandPairs(reps, idCol, k, bands, maxBucket)
          val repLosers = Dedup.connectedComponents(pairs, s"a_$idCol", s"b_$idCol")
            .filter(col("cluster_id") =!= col("id"))
            .select(col("id").as(idCol))
          val keptIds = reps.select(col(idCol))
            .join(repLosers, Seq(idCol), "left_anti")
            .unionByName(sigs.filter(col("mh0").isNull).select(col(idCol)))
          df.join(keptIds, Seq(idCol), "left_semi")
        } else {
          val pairs = Dedup.minhashCandidates(df, textCol, idCol,
            shingleN = shingleN, k = k, bands = bands, maxBucket = maxBucket)
          val losers = Dedup.connectedComponents(pairs, s"a_$idCol", s"b_$idCol")
            .filter(col("cluster_id") =!= col("id"))
            .select(col("id").as(idCol))
          df.join(losers, Seq(idCol), "left_anti")
        }
      case "decontaminate" =>
        // benchmark rows leave the stream entirely; train docs whose
        // distinct-shingle overlap with the benchmark set exceeds
        // max_frac leave with them. The benchmark shingle set
        // broadcasts (eval splits are small by construction).
        val bench = col(str(st, "benchmark_col"))
        val maxFrac = dbl(st, "max_frac", 0.0)
        val stats = Dedup.decontaminate(df, textCol, idCol, bench,
          shingleN = int(st, "shingle_n", 3))
        val tainted = stats.filter(col("contaminated_frac") > maxFrac)
          .select(col(idCol))
        df.filter(!bench).join(tainted, Seq(idCol), "left_anti")
      case "lm_quality_filter" =>
        // corpus-RELATIVE: the unigram LM is fit on the current stage
        // input, so a doc's score depends on what earlier stages kept.
        // Keep docs with rounded lm_score ≤ max_score (lower = less
        // surprising) and ≥ min_tokens tokens.
        val maxScore = dbl(st, "max_score", Double.NaN)
        if (maxScore.isNaN)
          throw new DslException("lm_quality_filter needs a numeric 'max_score'")
        val minTokens = int(st, "min_tokens", 1)
        val keep = TextOps.lmQualityScore(df, textCol, idCol)
          .filter(col("lm_score") <= maxScore && col("n_tokens") >= minTokens)
          .select(col("doc_id").as(idCol))
        df.join(keep, Seq(idCol), "left_semi")
      case "perplexity_filter" =>
        // corpus-RELATIVE like lm_quality_filter, but model-based: a
        // stupid-backoff bigram LM fit on the current stage input
        // (Brants et al. 2007 — the CCNet-style quality gate). Keep
        // docs with min_ppl < ppl ≤ max_ppl.
        val maxPpl = dbl(st, "max_ppl", Double.NaN)
        if (maxPpl.isNaN)
          throw new DslException("perplexity_filter needs a numeric 'max_ppl'")
        graft.operators.NgramLm.perplexityFilter(df, textCol, idCol,
          maxPpl = maxPpl, minPpl = dbl(st, "min_ppl", 0.0),
          alpha = dbl(st, "alpha", 0.4),
          minCount = int(st, "min_count", 1).toLong,
          order = int(st, "order", 2))
      case "dsir_filter" =>
        // model-based DOMAIN selection (Xie et al. 2023): weight each
        // doc by the target-vs-raw LM likelihood ratio and keep docs
        // at or above min_weight. The target slice is a SQL predicate
        // over the stage input (e.g. "lang = 'en'"); corpus-relative
        // like the other model-based stages.
        val targetWhere = str(st, "target_where")
        val keep = graft.operators.NgramLm.dsirWeights(df, textCol, idCol,
          target = df.filter(expr(targetWhere)),
          alpha = dbl(st, "alpha", 0.4),
          minCount = int(st, "min_count", 1).toLong,
          order = int(st, "order", 2))
          .filter(col("weight") >= dbl(st, "min_weight", 0.0))
          .select(col("doc_id").as(idCol))
        df.join(keep, Seq(idCol), "left_semi")
      case "repetition_filter" =>
        // Gopher repetition gate (Rae et al. 2021 App. A1 re-cut for
        // whitespace tokens): drop docs whose duplicate-gram fraction
        // or top-gram character share exceed the caps, or whose
        // distinct-token ratio falls below the floor. Thresholds
        // compare the profile's round(,6) values so an independent
        // replay agrees at the boundary. Docs the profile can't
        // assess (no shingles — empty/whitespace text) are dropped:
        // a repetition gate that can't measure a doc shouldn't pass
        // it, and the inner profile join encodes exactly that.
        val prof = TextOps.repetitionProfile(df, textCol, idCol,
          shingleN = int(st, "shingle_n", 3))
        val keep = prof.filter(
            col("dup_gram_frac") <= dbl(st, "max_dup_gram_frac", 1.0) &&
            col("top_gram_frac") <= dbl(st, "max_top_gram_frac", 1.0) &&
            col("distinct_token_ratio") >= dbl(st, "min_distinct_ratio", 0.0))
          .select(col(idCol))
        df.join(keep, Seq(idCol), "left_semi")
      case "token_budget" =>
        // reproducible ~budget-token subset (the data-mix sizing
        // step): rows order by the md5-bit contract on (id, salt) and
        // keep while the exclusive whitespace-token prefix sum stays
        // under budget (overshoot ≤ 1 doc). The sum is a distributed
        // scan either way; `shard` restarts it per shard, for
        // per-shard budgets.
        val salt = str(st, "salt")
        val budget = lng(st, "budget")
        val shard = strOpt(st, "shard")
        val baseCols = col(idCol) +: shard.map(col).toSeq
        val counts = df.select(baseCols :+
          size(graft.functions.TextExprs.tokens(col(textCol), lower = true))
            .cast("long").as("__n_tokens"): _*)
        val keep = Sampling.tokenBudgetSample(counts, "__n_tokens", idCol,
            salt, budget, shard)
          .filter(col("keep")).select(col(idCol))
        df.join(keep, Seq(idCol), "left_semi")
      case "quantile_filter" =>
        // data-driven threshold gate: the cut point is the q-th
        // percentile of `column` from the md5-sampled quantile sketch
        // (a picked real value, exactly replayable), not a hand-tuned
        // constant — "drop the shortest 10%" stays calibrated as the
        // corpus drifts. The sample ranks on the prefix scan (its jobs
        // run here); the one-row threshold rides as a broadcast frame.
        val column = str(st, "column")
        val q = dbl(st, "q", -1.0)
        if (q <= 0.0 || q > 1.0)
          throw new DslException(s"quantile_filter: 'q' must be in (0, 1], got $q")
        val keepAbove = strOr(st, "keep", "above") match {
          case "above" => true
          case "below" => false
          case other => throw new DslException(
            s"quantile_filter: 'keep' must be above|below, got $other")
        }
        val rate = int(st, "rate_per_m", 250000)
        val sk = Sketches.quantileSample(df, idCol, column, ratePerM = rate)
        // the threshold frame is forced to EXACTLY one row (count + min
        // over the estimate): an empty md5 sample (tiny corpus × low
        // rate_per_m) would otherwise make the crossJoin silently drop
        // the whole corpus — instead every surviving row raises loudly
        val thr = Sketches.quantileEstimate(sk, Seq(q))
          .agg(count(lit(1)).as("__thr_n"), min(col("est")).as("__thr"))
        val joined = df.crossJoin(broadcast(thr))
        val pred = if (keepAbove) col(column) >= col("__thr")
                   else col(column) <= col("__thr")
        joined.filter(
            when(col("__thr_n") === 0, raise_error(lit(
              s"quantile_filter: empty sample for '$column' — raise " +
                s"rate_per_m (got $rate) or shrink q"))).otherwise(pred))
          .drop("__thr", "__thr_n")
      case "embed_text" =>
        // deterministic signed-feature-hashing embedder (map-only,
        // md5-replayable): appends `out_col` so a downstream `semdedup`
        // works on tables that carry no vector column — the
        // self-contained semantic-dedup path
        df.withColumn(strOr(st, "out_col", "embedding"),
          graft.functions.TextExprs.embed_text(col(textCol),
            str(st, "salt"), int(st, "dim", 64)))
      case "sign_hash" =>
        // packs an embedding's SIGN BITS into one 64-bit hash column
        // (map-only) so a downstream `hash_neardup` dedups on it — the
        // quantized (training-free) alternative to `semdedup` for
        // coarse semantic dedup. Dimensions must fit one word; a wider
        // vector raises rather than silently truncating.
        val vecCol = str(st, "vec_col")
        val sig = graft.functions.VectorExprs.bit_sign(col(vecCol))
        df.withColumn(strOr(st, "out_col", "sign_hash"),
          when(size(sig) =!= 1, raise_error(concat(
              lit("sign_hash: vec_col must have 1..64 dimensions, got "),
              size(col(vecCol)).cast("string"))))
            .otherwise(element_at(sig, 1)))
      case "semdedup" =>
        // SemDeDup (Abbas et al. 2023) over an embedding column the
        // table already carries (`vec_col`): k-means cells bound the
        // pairwise work; within a cell a row drops iff a lower-id row
        // sits at cosine ≥ tau. Corpus-relative (the replayable
        // k-means trains on the stage input); round_cos ≥ 0 rounds
        // before thresholding so replays agree at the boundary.
        val vecCol = str(st, "vec_col")
        // `model_path` loads a saved codebook (IvfIndex.writeModel)
        // instead of training in-pipeline — the repeated-run shape:
        // train once on a reference corpus, reuse the cells everywhere
        val m = strOpt(st, "model_path") match {
          case Some(p) => graft.operators.IvfIndex.readModel(p)
          case None => graft.operators.IvfIndex.trainReplayable(df, idCol, vecCol,
            k = int(st, "k", 256), iters = int(st, "iters", 5),
            sampleSize = int(st, "sample_size", 50000))
        }
        val kept = graft.operators.Similarity.semDedup(df, idCol, vecCol, m,
            tau = dbl(st, "tau", 0.9), roundCos = int(st, "round_cos", 6))
          .filter(col("is_kept")).select(col(idCol))
        df.join(kept, Seq(idCol), "left_semi")
      case "cluster_balance" =>
        // cluster-balanced sampling (r15): IVF cells over `vec_col`
        // capped at `cap` rows each by the deterministic md5-rank —
        // de-biases head-heavy embedding regions before training.
        // Codebook trains corpus-relative or loads via `model_path`
        // (the semdedup contract).
        val vecCol = str(st, "vec_col")
        val cap = int(st, "cap", 0)
        if (cap <= 0) throw new DslException(
          "cluster_balance needs a positive integer 'cap'")
        val m = strOpt(st, "model_path") match {
          case Some(p) => graft.operators.IvfIndex.readModel(p)
          case None => graft.operators.IvfIndex.trainReplayable(df, idCol, vecCol,
            k = int(st, "k", 256), iters = int(st, "iters", 5),
            sampleSize = int(st, "sample_size", 50000))
        }
        val kept = graft.operators.Sampling.clusterBalancedSample(
            df, idCol, vecCol, m,
            strOr(st, "salt", "cluster-balance-v1"), cap)
          .select(col(idCol))
        df.join(kept, Seq(idCol), "left_semi")
      case "ppl_band" =>
        // CCNet band keep (r15): per-language perplexity terciles
        // (head = most fluent) — keep docs whose band is in `keep`.
        // Corpus-relative LM like perplexity_filter.
        val keepBands = strSeq(st, "keep", Nil)
        if (keepBands.isEmpty) throw new DslException(
          "ppl_band needs a non-empty 'keep' array of band names")
        val valid = Set("head", "middle", "tail")
        keepBands.find(!valid(_)).foreach { b =>
          throw new DslException(
            s"ppl_band: unknown band '$b' (head|middle|tail)")
        }
        val kept = graft.operators.NgramLm.pplBuckets(df, textCol, idCol,
            langCol = strOr(st, "lang_col", "lang"),
            alpha = dbl(st, "alpha", 0.4),
            minCount = int(st, "min_count", 1).toLong,
            order = int(st, "order", 2))
          .filter(col("band").isin(keepBands: _*))
          .select(col("doc_id").as(idCol))
        df.join(kept, Seq(idCol), "left_semi")
      case "image_hash" | "audio_hash" =>
        // map-only decode→hash pass over a BINARY payload column:
        // appends image_hash / audio_hash so a downstream
        // `hash_neardup` stage dedups a media table end-to-end inside
        // one CURATE pipeline. `codec: "fake"` selects the replayable
        // md5-surrogate stub (gates/offline); default is the real
        // JDK codec (PNG dHash / Goertzel spectral sketch).
        val payloadCol = str(st, "payload_col")
        val codec = strOr(st, "codec", "real") match {
          case "real" => graft.operators.Multimodal.ImageIoCodec
          case "fake" => graft.operators.Multimodal.FakeCodec
          case other => throw new DslException(
            s"codec must be 'real' or 'fake', got '$other'")
        }
        if (op == "image_hash")
          graft.operators.Multimodal.imageHashes(df, payloadCol, codec)
        else graft.operators.Multimodal.audioHashes(df, payloadCol, codec)
      case "hash_neardup" =>
        // near-dup removal over a PRECOMPUTED 64-bit perceptual hash
        // column (`hash_col` — image dHash, audio sketch, simhash):
        // banded Hamming candidates (16-bit bands, pigeonhole recall
        // for dist ≤ max_dist ≤ 3) → connected components → each
        // cluster keeps its min-id member. This is how the multimodal
        // near-dup paths reach CURATE TABLE: a decode/hash stage
        // upstream materializes the hash, this stage dedups on it.
        val hashCol = str(st, "hash_col")
        // identical hashes collapse to their min-id REPRESENTATIVE
        // before banding: a duplicate-heavy corpus (boilerplate media,
        // near-identical docs) otherwise floods the band buckets
        // quadratically with rows that are all pairwise distance 0
        // anyway. The rep carries its group through banding; the
        // group's non-reps drop unconditionally (distance 0 ≡ same
        // cluster, and the rep IS the group minimum). Uncapped this is
        // a pure plan optimization; with max_bucket it is also the
        // better semantics — dup groups dedup even when their bucket
        // would have overflowed the cap.
        // a NULL hash means "hash unknown", not "hash equal": null rows
        // never band (null keys drop from the equi-join) and must all
        // survive — grouping them would collapse unknowns into one
        // spurious dup group
        val sigs = df.select(col(idCol), col(hashCol))
        val reps = sigs.filter(col(hashCol).isNotNull)
          .groupBy(col(hashCol)).agg(min(col(idCol)).as(idCol))
          .select(col(idCol), col(hashCol))
        val pairs = Dedup.hashCandidates(reps,
          idCol, hashCol, maxDist = int(st, "max_dist", 3),
          maxBucket = int(st, "max_bucket", 0))
        // cluster min over reps == cluster min over all members,
        // because every rep is already its dup group's minimum
        val repLosers = Dedup.connectedComponents(pairs, s"a_$idCol", s"b_$idCol")
          .filter(col("cluster_id") =!= col("id"))
          .select(col("id").as(idCol))
        val keptIds = reps.select(col(idCol))
          .join(repLosers, Seq(idCol), "left_anti")
          .unionByName(sigs.filter(col(hashCol).isNull).select(col(idCol)))
        df.join(keptIds, Seq(idCol), "left_semi")
      case "stratified_sample" =>
        Sampling.stratifiedSample(df, str(st, "strata"), idCol,
          str(st, "salt"), rateMap(st, "rates"),
          defaultRate = dbl(st, "default_rate", 0.0))
      case "temperature_sample" =>
        Sampling.temperatureSample(df, str(st, "group"), idCol,
          str(st, "salt"), alpha = dbl(st, "alpha", 0.5))
      case "mixture" =>
        Sampling.materializeMixture(df, str(st, "group"), idCol,
          str(st, "salt"), rateMap(st, "weights"),
          defaultWeight = dbl(st, "default_weight", 1.0))
      case "nb_class_filter" =>
        // model-based CLASS gate (the GPT-3-style quality-filter
        // shape, classifier = multinomial NB): train on the stage
        // input's own labels (`label_col`), classify every row, keep
        // rows whose PREDICTED class is in `keep` — corpus-relative
        // like the other model-based stages. One (label, token) count
        // shuffle to train, a tf pre-aggregate × broadcast classes to
        // score, one semi-join back.
        val labelCol = str(st, "label_col")
        val keep = (st \ "keep") match {
          case JArray(xs) if xs.nonEmpty => xs.map {
            case JString(x) => x
            // a silently-dropped non-string entry would empty the
            // corpus (isInCollection(Nil) keeps nothing) — reject it
            case other => throw new DslException(
              s"'keep' entries must be strings, got $other")
          }
          case _ => throw new DslException(
            "nb_class_filter needs a non-empty 'keep' array")
        }
        val preds = graft.operators.NbClassifier.classify(df, textCol, labelCol,
          df, idCol, minCount = int(st, "min_count", 1).toLong)
        val keepIds = preds.filter(col("pred").isInCollection(keep))
          .select(col("doc_id").as(idCol))
        df.join(keepIds, Seq(idCol), "left_semi")
      case "perceptron_filter" =>
        // model-based gate, gradient flavor ([[Perceptron]]): train an
        // all-integer batch perceptron on the rows whose `label_col`
        // is NON-NULL (the label-a-slice, filter-the-corpus shape)
        // over the named count-feature columns, score every row, keep
        // by predicted sign ("keep": "positive" default / "negative").
        // Training = one grouping shuffle of the labeled slice, then one
        // job per round (`iters`) over its grouped profiles; scoring =
        // map-only with broadcast weights.
        val labelCol = str(st, "label_col")
        val featCols = strSeq(st, "feature_cols", Nil)
        if (featCols.isEmpty) throw new DslException(
          "perceptron_filter needs a non-empty 'feature_cols' array")
        val keepPred = strOr(st, "keep", "positive") match {
          case "positive" => true
          case "negative" => false
          case other => throw new DslException(
            s"perceptron_filter 'keep' must be positive|negative, got $other")
        }
        // a null feature would train as "skip" and score as null pred,
        // which the keep filter then drops for EITHER sign — rows would
        // vanish silently; fail loudly instead
        val px = array(featCols.map(c => col(c).cast("long")): _*)
        val withX = df.withColumn("__px",
          when(exists(px, v => v.isNull), raise_error(lit(
            "perceptron_filter: null value in feature_cols"))).otherwise(px))
        val w = graft.operators.Perceptron.train(
          withX.filter(col(labelCol).isNotNull), "__px", labelCol,
          iters = int(st, "iters", 5), k = featCols.size)
        graft.operators.Perceptron.score(withX, "__px", w)
          .filter(col("pred") === keepPred)
          .drop("__px", "score", "pred")
      case "frontier_schedule" =>
        // polite fetch assignment ([[Frontier.schedule]]): appends
        // host / fetch_slot / fetch_wave — one host one fetcher, at
        // most per_wave URLs per host per round, priority first. One
        // rank-window shuffle.
        graft.operators.Frontier.schedule(df,
          strOr(st, "url_col", "url"),
          perWave = int(st, "per_wave", 100),
          fetchers = int(st, "fetchers", 64),
          priorityCol = (st \ "priority_col") match {
            case JString(c) => Some(c)
            case _ => None
          },
          salt = strOr(st, "salt", "fetch-v1"))
      case "chunk" =>
        // shape-changing RAG-ingest stage: each doc becomes its
        // sliding-window chunks — text := chunk_text, and chunk_idx /
        // n_chunk_tokens APPEND (ids are no longer unique, like
        // `mixture`); passenger columns replicate per chunk IN PLACE
        // (explode on the row itself, no id join — a join would both
        // shuffle and cross-product duplicate ids). Row-local map
        // pass: a 100 TB corpus chunks at scan speed. The expressions
        // mirror [[TextOps.chunkDocuments]] exactly.
        val chunkTokens = int(st, "chunk_tokens", 512)
        val overlapTokens = int(st, "overlap_tokens", 0)
        require(overlapTokens >= 0 && chunkTokens > overlapTokens,
          s"chunk: need chunk_tokens > overlap_tokens >= 0, " +
            s"got ($chunkTokens, $overlapTokens)")
        val stride = chunkTokens - overlapTokens
        df.withColumn("__toks", graft.functions.TextExprs.tokens(col(textCol)))
          .withColumn("__n", size(col("__toks")))
          .withColumn("__nc", greatest(lit(1),
            ceil((col("__n") - lit(overlapTokens)).cast("double") / stride)
              .cast("int")))
          .withColumn("chunk_idx", explode(sequence(lit(0), col("__nc") - 1)))
          .withColumn(textCol, array_join(
            slice(col("__toks"), col("chunk_idx") * stride + 1, lit(chunkTokens)),
            " "))
          .withColumn("n_chunk_tokens",
            greatest(least(lit(chunkTokens), col("__n") - col("chunk_idx") * stride),
              lit(0)))
          .select(df.columns.map(col) :+ col("chunk_idx")
            :+ col("n_chunk_tokens"): _*)
      case "tokenize" =>
        // text → token ids: APPENDS token_ids (+ a count column) to the
        // row. `algo: bpe` (default) encodes against a fixed merge
        // table (inline `merges` pairs or a merges.txt-style artifact
        // at `merges_path` — the trained-vocab handoff); `algo:
        // wordpiece` greedy-longest-matches against a fixed `pieces`
        // array. Either way the id vocabulary is corpus-relative
        // (the CURRENT stage input's characters + the pieces/products,
        // like the other model-based stages): one job collects the
        // distinct characters, the driver numbers them and the pieces
        // (alphabet + piece count, bounded by construction), and the
        // map rides into encode, a map-only codegen pass.
        val lower = bool(st, "lower", default = true)
        val ids = strOr(st, "algo", "bpe") match {
          case "bpe" =>
            val merges = mergesOf(st)
            val vocabIds = graft.operators.Bpe.vocabIds(df, textCol, merges, lower)
            graft.operators.Bpe
              .encodeIds(df, textCol, idCol, merges, vocabIds, lower)
              .select(col("doc_id").as(idCol), col("token_ids"),
                col("n_bpe_tokens"))
          case "wordpiece" =>
            val pieces = strSeq(st, "pieces", Nil)
            if (pieces.isEmpty) throw new DslException(
              "tokenize: algo wordpiece needs a non-empty 'pieces' array")
            val vocabIds = graft.operators.Wordpiece.vocabIds(df, textCol, pieces, lower)
            graft.operators.Wordpiece
              .encodeIds(df, textCol, idCol, pieces, vocabIds, lower)
              .select(col("doc_id").as(idCol), col("token_ids"),
                col("n_wp_tokens"))
          case "byte_bpe" =>
            // GPT-2 byte-level family: merges are over MAPPED BYTE
            // chars (Ġ-space etc.), the vocabulary is CLOSED (byte
            // values + 256+rank — no corpus pass, no UNK id), and the
            // encoding is lossless byte-for-byte. Case-preserving by
            // contract, so `lower` is rejected rather than silently
            // ignored.
            if ((st \ "lower") != JNothing) throw new DslException(
              "tokenize: algo byte_bpe is byte-lossless and " +
                "case-preserving; 'lower' does not apply")
            // r15: an `encoder_path` (published GPT-2 encoder.json)
            // switches ids from the closed byte/256+rank scheme to the
            // production vocabulary's ids — the merges_path artifact
            // is the published vocab.bpe either way
            st \ "encoder_path" match {
              case JString(encPath) =>
                graft.operators.ByteBpe.encodeIdsPublished(
                    df, textCol, idCol, mergesOf(st),
                    graft.operators.ByteBpe.readGpt2Encoder(encPath))
                  .select(col("doc_id").as(idCol), col("token_ids"),
                    col("n_bbpe_tokens"))
              case JNothing =>
                graft.operators.ByteBpe
                  .encodeIds(df, textCol, idCol, mergesOf(st))
                  .select(col("doc_id").as(idCol), col("token_ids"),
                    col("n_bbpe_tokens"))
              case other => throw new DslException(
                s"'encoder_path' must be a string, got $other")
            }
          case "unigram" =>
            // `pieces` here are [piece, integer-log-prob-weight] pairs
            // (the artifact Unigram.train ships); `unk` is what a
            // single out-of-vocab character scores — ln p ≈ −10, IN
            // THE VOCABULARY'S UNITS (r16, ADVICE r15): −10·10⁹ at the
            // trainer's 1e9 scale, −10·10⁶ when pieces_path loaded a
            // published float-score .vocab (quantized at 1e6/nat). A
            // same-number default across scales would make unk 1000×
            // too negative for float vocabs and flip Viterbi wherever
            // an in-vocab piece covering an OOV char competes with
            // segmenting around it.
            // `boundary: true` (r16) = the SentencePiece word-boundary
            // contract: pieces_path loads with `▁` markers PRESERVED
            // and every word decodes as ▁+chars, so marked/bare
            // variants score in their own positional contexts
            val boundary = st \ "boundary" match {
              case JBool(b) => b
              case JNothing => false
              case other => throw new DslException(
                s"'boundary' must be a boolean, got $other")
            }
            val art = weightedPiecesOf(st, boundary)
            val weighted = art.pieces
            val unk = st \ "unk" match {
              case JInt(i) => i.toLong
              case JNothing =>
                if (art.floatScaled) -10L * graft.operators.Unigram.FloatScale else -10000000000L
              case other =>
                throw new DslException(s"'unk' must be an integer, got $other")
            }
            // byte-fallback vocabs (r17): the 256 <0xNN> pieces are
            // emitted symbols too, so they join the id vocabulary —
            // stable ids, same contract as any other piece
            val idPieces = weighted.map(_._1) ++ art.byteScores.toSeq
              .flatMap(_ => (0 until 256).map(b => f"<0x$b%02X>"))
            val vocabIds = graft.operators.Wordpiece.vocabIds(df, textCol, idPieces, lower)
            graft.operators.Unigram
              .encodeIds(df, textCol, idCol, weighted, unk, vocabIds, lower,
                boundary, art.byteScores)
              .select(col("doc_id").as(idCol), col("token_ids"),
                col("n_ug_tokens"))
          case other => throw new DslException(
            s"tokenize: unknown algo '$other' (bpe|byte_bpe|wordpiece|unigram)")
        }
        df.join(ids, Seq(idCol))
      case "pack" =>
        // terminal trainer-feed stage: concatenate token_ids in idCol
        // order and cut every seq_len tokens (sequences cross document
        // boundaries, GPT-style). Output rows are SEQUENCES
        // (seq_id, n_tokens, input_ids), not documents — put it last.
        // `shard` packs shard-locally in parallel (the 100 TB path);
        // `eos_id` appends the document separator before packing.
        if (!df.columns.contains("token_ids"))
          throw new DslException(
            "pack needs a 'token_ids' column — put a tokenize stage before it")
        val seqLen = int(st, "seq_len", -1) match {
          case n if n > 0 => n
          case _ => throw new DslException("pack needs a positive 'seq_len'")
        }
        val shard = st \ "shard" match {
          case JString(s) => Some(s)
          case JNothing => None
          case other => throw new DslException(s"'shard' must be a string, got $other")
        }
        val eos = st \ "eos_id" match {
          case JInt(i) => Some(i.toLong)
          case JNothing => None
          case other => throw new DslException(s"'eos_id' must be an integer, got $other")
        }
        // `segments: true` adds per-token source-document ordinals
        // within each sequence — the block-diagonal attention-mask
        // companion array
        Sampling.packTokenIds(df, "token_ids", idCol, seqLen, shard, eos,
          withSegments = bool(st, "segments", default = false))
      case other =>
        throw new DslException(s"unknown curate op '$other'")
    }
  }

  private def str(st: JValue, field: String): String = st \ field match {
    case JString(s) => s
    case _ => throw new DslException(s"stage needs string '$field': $st")
  }

  /** tokenize's unigram vocab: inline `"pieces": [["the", -5], …]` —
    * piece strings with integer scaled log-prob weights, the shape
    * [[graft.operators.Unigram.train]]'s (piece, weight) columns ship —
    * or `"pieces_path"` naming a vocab artifact (one `piece<TAB>weight`
    * line per entry, `#` comments) read through the ByteStore seam so
    * trained vocabs can live on the object store next to the data (the
    * [[mergesOf]] `merges_path` contract, for the unigram family) */
  private def weightedPiecesOf(st: JValue,
      boundary: Boolean = false): graft.operators.Unigram.VocabArtifact =
    (st \ "pieces", st \ "pieces_path") match {
      case (JArray(xs), JNothing) if xs.nonEmpty =>
        graft.operators.Unigram.VocabArtifact(xs.map {
          case JArray(List(JString(p), JInt(w))) => (p, w.toLong)
          case other => throw new DslException(
            s"each unigram piece must be a [piece, integer-weight] pair: $other")
        }, floatScaled = false, byteScores = None)
      case (JNothing, JString(path)) =>
        // r15: accepts the engine's own piece<TAB>integer-weight
        // format AND the published SentencePiece .vocab text format
        // (float scores, ▁ markers, control rows) — the documented
        // projection in [[graft.operators.Unigram.parseVocabArtifact]];
        // the flag says which scale the weights landed on (r16); a
        // full `<0xNN>` table rides along as the byte-fallback scores
        // (r17) so OOV characters decompose instead of scoring unk
        try graft.operators.Unigram.readVocab(path, preserveMarkers = boundary)
        catch {
          case e: IllegalArgumentException =>
            throw new DslException(
              s"unigram vocab at '$path': ${e.getMessage}")
        }
      case (JNothing, JNothing) => throw new DslException(
        "tokenize: algo unigram needs a non-empty 'pieces' array of " +
          "[piece, weight] pairs or a 'pieces_path'")
      case _ => throw new DslException(
        "tokenize takes 'pieces' or 'pieces_path', not both")
    }

  /** tokenize's merge table: inline `"merges": [["e","r"], …]`, or
    * `"merges_path"` naming a merges.txt-style artifact (one
    * whitespace-separated pair per line, `#` comments) read through
    * the ByteStore seam so vocab artifacts can live on the object
    * store next to the data */
  private def mergesOf(st: JValue): Seq[(String, String)] =
    (st \ "merges", st \ "merges_path") match {
      case (JArray(xs), JNothing) => xs.map {
        case JArray(List(JString(l), JString(r))) => (l, r)
        case other =>
          throw new DslException(s"each merge must be a [left, right] pair: $other")
      }
      case (JNothing, JString(path)) =>
        // r15: one parser for every merges artifact — the published
        // vocab.bpe semantics (keeps `# #`-style merges, skips only
        // the #version line and prose comments) live in
        // [[graft.operators.ByteBpe.readGpt2Merges]]
        try graft.operators.ByteBpe.readGpt2Merges(path)
        catch {
          case e: IllegalArgumentException =>
            throw new DslException(s"merges at '$path': ${e.getMessage}")
        }
      case (JNothing, JNothing) =>
        throw new DslException(
          "tokenize needs 'merges' (array of pairs) or 'merges_path'")
      case _ =>
        throw new DslException("tokenize takes 'merges' or 'merges_path', not both")
    }

  private def int(st: JValue, field: String, default: Int): Int = st \ field match {
    case JInt(i) => i.toInt
    case JNothing => default
    case other => throw new DslException(s"'$field' must be an integer, got $other")
  }

  private def lng(st: JValue, field: String): Long = st \ field match {
    case JInt(i) => i.toLong
    case JLong(l) => l
    case other => throw new DslException(s"stage needs integer '$field', got $other")
  }

  private def strOpt(st: JValue, field: String): Option[String] =
    st \ field match {
      case JString(s) => Some(s)
      case JNothing => None
      case other => throw new DslException(s"'$field' must be a string, got $other")
    }

  private def bool(st: JValue, field: String, default: Boolean): Boolean =
    st \ field match {
      case JBool(b) => b
      case JNothing => default
      case other => throw new DslException(s"'$field' must be a boolean, got $other")
    }

  private def strOr(st: JValue, field: String, default: String): String =
    st \ field match {
      case JString(s) => s
      case JNothing => default
      case other => throw new DslException(s"'$field' must be a string, got $other")
    }

  private def strSeq(st: JValue, field: String, default: Seq[String]): Seq[String] =
    st \ field match {
      case JArray(xs) => xs.map {
        case JString(s) => s
        case other =>
          throw new DslException(s"'$field' entries must be strings, got $other")
      }
      case JNothing => default
      case other => throw new DslException(s"'$field' must be a string array, got $other")
    }

  private def dbl(st: JValue, field: String, default: Double): Double =
    st \ field match {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      case JDecimal(d) => d.toDouble
      case JNothing => default
      case other => throw new DslException(s"'$field' must be numeric, got $other")
    }

  /** `{"en": 0.5, "zh": 1.0}` → ordered (stratum, rate) pairs; JSON
    * object order is preserved, so the compiled CASE chain is stable */
  private def rateMap(st: JValue, field: String): Seq[(String, Double)] =
    st \ field match {
      case JObject(fields) => fields.map {
        case JField(k, JDouble(d)) => k -> d
        case JField(k, JInt(i)) => k -> i.toDouble
        case JField(k, JDecimal(d)) => k -> d.toDouble
        case JField(k, other) =>
          throw new DslException(s"'$field.$k' must be numeric, got $other")
      }
      case JNothing => throw new DslException(s"stage needs object '$field': $st")
      case other => throw new DslException(s"'$field' must be an object, got $other")
    }
}
