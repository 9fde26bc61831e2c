package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{GraftSession, Tables}
import graft.operators.{AsOfJoin, Dedup, Multimodal, NgramLm, Similarity, TextOps}

/** Training-data pipeline operator coverage (builder brief): text
  * analysis, dedup family, similarity search, as-of join, multimodal
  * plumbing. Oracle SQL replays the exact same pipelines in DuckDB
  * (portable md5 hash family, identical expression shapes so doubles
  * come out bit-identical); xxhash64-based operators (simhash, LSH
  * planes) have no DuckDB equivalent and get rows-only checks.
  */
object QueriesData {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- text analysis profile (tokens, ratios, langid, fingerprint)
    "q_text_profile" -> { (s, dir) =>
      import s.implicits._
      val d = Tables.load(s, dir, "documents")
      val t = $"text"
      d.select(
        $"doc_id",
        TextOps.tokenCount(t).as("n_tokens"),
        TextOps.charCount(t).as("n_chars_c"),
        TextOps.punctRatio(t).as("punct_ratio"),
        TextOps.stopwordRatio(t).as("stopword_ratio"),
        TextOps.meanTokenLength(t).as("mean_token_len"),
        TextOps.langId(t).as("lang_pred"),
        TextOps.fingerprint(t).as("fp"),
        TextOps.qualityScore(t).as("quality"))
        .orderBy($"doc_id")
    },

    // ---- language distribution: predicted vs labeled
    "q_lang_confusion" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents")
        .groupBy($"lang", TextOps.langId($"text").as("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"lang_pred")
    },

    // ---- exact dedup groups
    "q_dedup_exact" -> { (s, dir) =>
      Dedup.exactGroups(Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("fp"))
    },

    // ---- minhash signatures (md5 family, k=8, word-3-gram shingles)
    "q_dedup_minhash_sigs" -> { (s, dir) =>
      Dedup.minhashSignatures(Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("doc_id"))
    },

    // ---- LSH candidate pairs (4 bands × 2 rows)
    "q_dedup_minhash_pairs" -> { (s, dir) =>
      Dedup.minhashCandidates(Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("a_doc_id"), col("b_doc_id"))
    },

    // ---- deterministic train/val/test split: membership is a pure
    // function of (key, salt) — the md5-family bit contract (low 48
    // bits of md5_number_lower) replayed verbatim by the oracle.
    "q_hash_split" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      graft.operators.Sampling.assignSplits(ev, "event_id", "split-v1",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
        .orderBy("split")
    },

    // ---- sequence packing: token-budgeted batch assignment by a scan
    // over doc order (batch_id = floor(exclusive cumsum / budget)); the
    // oracle replays the identical window arithmetic.
    // ---- token-level sequence packing: BPE ids concatenated in doc
    // order, cut every 64 tokens (sequences cross doc boundaries —
    // GPT-style pretraining packing); md5 over the space-joined ids
    "q_pack_token_ids" -> { (s, dir) =>
      val merges = Seq("e" -> "r", "t" -> "h", "th" -> "e",
        "i" -> "n", "a" -> "n", "an" -> "d")
      val docs = Tables.load(s, dir, "documents")
      val vocabIds = graft.operators.Bpe.vocabIds(docs, "text", merges)
      val ids = graft.operators.Bpe.encodeIds(docs, "text", "doc_id", merges, vocabIds)
        .select(col("doc_id"), col("token_ids"))
      graft.operators.Sampling.packTokenIds(ids, "token_ids", "doc_id", seqLen = 64)
        .select(col("seq_id"), col("n_tokens"),
          md5(array_join(transform(col("input_ids"), i => i.cast("string")), " ")
            .cast("binary")).as("ids_md5"))
        .orderBy(col("seq_id"))
    },

    // ---- packing with SEGMENT IDS (r14): the block-diagonal
    // attention-mask companion — each token carries its source
    // document's ordinal within the sequence (1,1,…,2,2,…). The oracle
    // replays it as a dense_rank over doc_id per sequence; the ids
    // stream must be unchanged from q_pack_token_ids.
    "q_pack_segments" -> { (s, dir) =>
      val merges = Seq("e" -> "r", "t" -> "h", "th" -> "e",
        "i" -> "n", "a" -> "n", "an" -> "d")
      val docs = Tables.load(s, dir, "documents")
      val vocabIds = graft.operators.Bpe.vocabIds(docs, "text", merges)
      val ids = graft.operators.Bpe.encodeIds(docs, "text", "doc_id", merges, vocabIds)
        .select(col("doc_id"), col("token_ids"))
      graft.operators.Sampling.packTokenIds(ids, "token_ids", "doc_id",
          seqLen = 64, withSegments = true)
        .select(col("seq_id"), col("n_tokens"),
          md5(array_join(transform(col("input_ids"), i => i.cast("string")), " ")
            .cast("binary")).as("ids_md5"),
          md5(array_join(transform(col("segment_ids"), i => i.cast("string")), " ")
            .cast("binary")).as("segs_md5"))
        .orderBy(col("seq_id"))
    },

    // ---- deterministic token-budget subset (r10): rows order by the
    // md5 bit contract and keep while the exclusive token prefix-sum
    // stays under budget — "a reproducible ~30k-token slice"; the
    // oracle replays the hash order and the window arithmetic
    "q_token_budget" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"),
        size(graft.functions.TextExprs.tokens(col("text"), lower = true))
          .cast("long").as("n_tokens"))
      graft.operators.Sampling.tokenBudgetSample(docs, "n_tokens", "doc_id",
          "budget-v1", budget = 30000L)
        .orderBy(col("doc_id"))
    },

    "q_pack_sequences" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("n_chars"))
      graft.operators.Sampling.packSequences(docs, "n_chars", "doc_id", budget = 4096)
        .orderBy("doc_id")
    },

    // ---- sliding-window document chunking (embedding/RAG ingest):
    // chunk i = tokens [i·48, i·48+64), 16-token overlap; the oracle
    // replays the identical token slicing and window arithmetic.
    "q_chunk_documents" -> { (s, dir) =>
      graft.operators.TextOps.chunkDocuments(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
        "text", "doc_id", chunkTokens = 64, overlapTokens = 16)
        .orderBy("doc_id", "chunk_idx")
    },

    // ---- pairs → clusters: connected components by min-label
    // propagation (cluster_id = min member id = the canonical keeper).
    // The oracle computes the identical transitive closure with a
    // recursive CTE over the same replayed LSH pairs.
    "q_dedup_clusters" -> { (s, dir) =>
      val pairs = Dedup.minhashCandidates(
        Tables.load(s, dir, "documents"), "text", "doc_id")
      Dedup.connectedComponents(pairs, "a_doc_id", "b_doc_id")
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },

    // ---- capped LSH pairs: the recommended production configuration.
    // maxBucket bounds a degenerate band bucket's pair fan-out (f²/2) —
    // at 100 TB a boilerplate signature otherwise dominates the output.
    // The cap bites at this sf (buckets of 3 exist; cap = 2) and the
    // oracle replays it with a window count, so the capped semantics
    // are hash-matched, not just the uncapped path.
    "q_dedup_minhash_pairs_capped" -> { (s, dir) =>
      Dedup.minhashCandidates(Tables.load(s, dir, "documents"), "text", "doc_id",
        maxBucket = 2)
        .orderBy(col("a_doc_id"), col("b_doc_id"))
    },

    // ---- exact n-gram jaccard over shingle-sharing pairs
    "q_ngram_jaccard" -> { (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("a_doc_id"), col("b_doc_id"))
    },

    // ---- Gopher-style repetition signals: distinct-token ratio,
    // duplicate-gram fraction, top-gram character share
    "q_repetition_profile" -> { (s, dir) =>
      TextOps.repetitionProfile(Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("doc_id"))
    },

    // ---- benchmark decontamination: doc_id % 97 = 0 plays the held-out
    // benchmark split; every training doc reports its distinct-shingle
    // overlap with the benchmark's union shingle set
    "q_decontaminate" -> { (s, dir) =>
      Dedup.decontaminate(Tables.load(s, dir, "documents"), "text", "doc_id",
        isBenchmark = col("doc_id") % 97 === 0)
        .orderBy(col("doc_id"))
    },

    // ---- span-level contamination: longest consecutive shared-shingle
    // run per (train, benchmark) pair — diagonal islands over the
    // positioned-shingle join; a run of r 3-shingles = r+2 verbatim
    // tokens
    "q_contamination_spans" -> { (s, dir) =>
      Dedup.contaminationSpans(Tables.load(s, dir, "documents"), "text", "doc_id",
        isBenchmark = col("doc_id") % 97 === 0, minRun = 2)
        .orderBy(col("train_id"), col("bench_id"))
    },

    // ---- corpus-self exact-substring duplication (Lee et al. 2021):
    // maximal consecutive runs of shingles occurring in ≥2 distinct
    // docs — the doc-frequency pass is one shuffle, islands run over
    // duplicated positions only
    "q_repeated_spans" -> { (s, dir) =>
      Dedup.repeatedSpans(Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("doc_id"), col("span_start"))
    },

    // ---- ...and the destructive form: every duplicated span cut from
    // every copy (symmetric, partitioning-independent); untouched docs
    // pass through verbatim — gate compares md5 digests of the results
    "q_substring_dedup" -> { (s, dir) =>
      Dedup.dedupSubstrings(Tables.load(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- capped variant: shingles in more than maxDocFreq docs leave
    // the join (a shingle in f docs contributes f² pairs); sizes are
    // computed on the same filtered relation so the Jaccard denominator
    // stays consistent. Cap = 3 bites at this sf (docfreq reaches 7).
    "q_ngram_jaccard_capped" -> { (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"), "text", "doc_id",
        maxDocFreq = 3)
        .orderBy(col("a_doc_id"), col("b_doc_id"))
    },

    // ---- brute-force cosine top-5 for 10 query vectors
    "q_embedding_knn" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val scored = Similarity.bruteForceTopK(
        emb, emb.filter($"vec_id" < 10), "vec_id", "embedding", k = 5)
      // rank on the rounded score so ranking and display agree across engines
      import org.apache.spark.sql.expressions.Window
      val base = emb.select($"vec_id".as("neighbor_id"), $"embedding".as("__cv"),
          Similarity.norm($"embedding").as("__cn"))
        .crossJoin(broadcast(emb.filter($"vec_id" < 10)
          .select($"vec_id".as("query_id"), $"embedding".as("__qv"),
            Similarity.norm($"embedding").as("__qn"))))
        .filter($"neighbor_id" =!= $"query_id")
        .select($"query_id", $"neighbor_id",
          round((Similarity.dot($"__qv", $"__cv") / ($"__qn" * $"__cn")), 6).as("cos"))
      val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id".asc)
      base.withColumn("rk", row_number().over(w).cast(LongType))
        .filter($"rk" <= 5)
        .select($"query_id", $"rk", $"neighbor_id", $"cos")
        .orderBy($"query_id", $"rk")
    },

    // ---- embedding near-duplicate pairs: LSH candidates + exact rerank.
    // Round 1 ran an all-pairs crossJoin(broadcast(corpus)) here — an
    // O(n²) scale-killer; the banded self-join shuffles O(n·bands) rows
    // and the oracle replays the identical candidate set from literal
    // plane values, so this is still fully hash-matched.
    "q_embedding_neardup" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val cands = Similarity.lshCandidatePairs(emb, "vec_id", "embedding",
        nPlanes = 16, seed = 42L, bandBits = 4)
      val vecs = emb.select($"vec_id", $"embedding")
      cands
        .join(vecs.toDF("a_id", "a_v"), "a_id")
        .join(vecs.toDF("b_id", "b_v"), "b_id")
        .select($"a_id", $"b_id",
          round(Similarity.cosine($"a_v", $"b_v"), 6).as("cos"))
        .filter($"cos" >= 0.3)
        .orderBy($"a_id", $"b_id")
    },

    // ---- as-of join: latest order at or before each event, per user
    // Morton (Z-order) key — the layout rewrite behind the reference's
    // "~34% faster on Morton-sorted data" claim (benchmarks/README.md):
    // plain shift/mask column arithmetic, replayed bit-for-bit by the
    // DuckDB oracle. Fixed quantization bounds are part of the key.
    "q_zorder_key" -> { (s, dir) =>
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
      val key = graft.operators.ZOrder.mortonKey(Seq(
        graft.operators.ZOrder.Dim("l_quantity", 0.0, 64.0),
        graft.operators.ZOrder.Dim("l_discount", 0.0, 0.11)))
      li.select($"l_orderkey", $"l_linenumber", key.as("zkey"))
        .orderBy($"l_orderkey", $"l_linenumber")
    },
    "q_asof_join" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .select($"event_id", $"user_id", $"ts".cast(TimestampNTZType).as("ts"))
      val ord = Tables.load(s, dir, "orders")
      AsOfJoin(ev, ord,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightTiebreak = "o_orderkey",
        rightValueCols = Seq("o_orderkey", "o_totalprice"))
        .select($"event_id", $"user_id", $"o_orderkey", $"o_totalprice")
        .orderBy($"event_id")
    },

    // ---- bucketed range join (no equi key): shipments falling inside
    // sampled 8-day order windows. Intervals explode to their covered
    // 7-day buckets → plain hash join + exact BETWEEN, never a
    // nested-loop; the oracle replays the semantics as a BETWEEN join.
    "q_range_join" -> { (s, dir) =>
      import s.implicits._
      val pts = Tables.load(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber",
          datediff($"l_shipdate", to_date(lit("1970-01-01")))
            .cast("long").as("ship_day"))
      val iv = Tables.load(s, dir, "orders")
        .filter($"o_orderkey" % 150 === 0)
        .select($"o_orderkey",
          datediff($"o_orderdate", to_date(lit("1970-01-01")))
            .cast("long").as("d0"))
        .withColumn("d1", col("d0") + 7)
      graft.operators.RangeJoin.pointInterval(pts, "ship_day",
          iv, "d0", "d1", bucketWidth = 7)
        .select($"l_orderkey", $"l_linenumber", $"o_orderkey", $"ship_day")
        .orderBy($"l_orderkey", $"l_linenumber", $"o_orderkey")
    },

    // ---- forward as-of with tolerance: the NEXT order within 30 days
    // of each event, per user — the mirror of q_asof_join's backward
    // carry (earliest time, LEAST tiebreak), matches past the bound
    // null out
    "q_asof_forward" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .select($"event_id", $"user_id", $"ts".cast(TimestampNTZType).as("ts"))
      val ord = Tables.load(s, dir, "orders")
      AsOfJoin(ev, ord,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightTiebreak = "o_orderkey",
        rightValueCols = Seq("o_orderkey", "o_totalprice"),
        direction = "forward",
        toleranceUs = Some(30L * 24 * 3600 * 1000000L))
        .select($"event_id", $"user_id", $"o_orderkey", $"o_totalprice")
        .orderBy($"event_id")
    },

    // ---- OHLC downsampling: daily value bars per event type — open/
    // close ride struct min/max ordered by (ts, event_id), one
    // partial-aggregated groupBy, no window pass
    "q_ohlc_bars" -> { (s, dir) =>
      import s.implicits._
      graft.operators.TimeSeries.ohlcBars(
          Tables.load(s, dir, "events"), "ts", "event_id", "value",
          groupCols = Seq("event_type"), barWidth = "1 day")
        .select($"bar_start".cast(TimestampNTZType).as("bar_start"),
          $"event_type", round($"bar_open", 4).as("bar_open"),
          round($"bar_high", 4).as("bar_high"),
          round($"bar_low", 4).as("bar_low"),
          round($"bar_close", 4).as("bar_close"), $"n")
        .orderBy($"bar_start", $"event_type")
    },

    // ---- funnel conversion report: the funnel rolled up to one row —
    // session count, sessions reaching each step, per-step conversion
    // off the previous step
    "q_funnel_report" -> { (s, dir) =>
      graft.operators.Sessions.funnelReport(
        Tables.load(s, dir, "events"), "user_id", "ts", "event_type",
        steps = Seq("view", "click", "purchase"), gapMinutes = 480)
    },

    // ---- dyadic EWMA over daily close bars: α=½ smoothing where the
    // whole computation is INTEGER (scaled values × power-of-two
    // weights, exact long sums) — summation order cannot move a bit,
    // so the oracle replays the smoothed series exactly; lag-capped
    // self-join bounds the work per element
    "q_ewma_bars" -> { (s, dir) =>
      import s.implicits._
      val bars = graft.operators.TimeSeries.ohlcBars(
          Tables.load(s, dir, "events"), "ts", "event_id", "value",
          groupCols = Seq("event_type"), barWidth = "1 day")
        .select($"event_type", $"bar_start", $"bar_close")
      graft.operators.TimeSeries.ewmaHalf(bars, Seq("event_type"),
          "bar_start", "bar_close", maxLag = 40, scale = 100L)
        .select($"event_type",
          $"bar_start".cast(TimestampNTZType).as("bar_start"),
          round($"bar_close", 4).as("bar_close"), $"ewma")
        .orderBy($"event_type", $"bar_start")
    },

    // ---- skew-resilient join: 3 hot keys own ~600 fact rows each
    // (the rest ~30); the CMS flags them, hot rows salt 8 ways, light
    // rows ride salt 0. The salting is an execution strategy — the
    // oracle replays a plain join.
    "q_skew_join" -> { (s, dir) =>
      import s.implicits._
      val left = Tables.load(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber",
          when($"l_partkey" % 100 < 3, $"l_partkey" % 3)
            .otherwise($"l_partkey").as("jkey"))
      val right = Tables.load(s, dir, "part")
        .select($"p_partkey",
          when($"p_partkey" % 100 < 3, $"p_partkey" % 3)
            .otherwise($"p_partkey").as("jkey"))
      graft.operators.Joins.skewJoin(left, right, "jkey",
          leftIdCol = "l_orderkey", salts = 8, heavyThreshold = 500)
        .select($"jkey", $"l_orderkey", $"l_linenumber", $"p_partkey")
        .orderBy($"jkey", $"l_orderkey", $"l_linenumber", $"p_partkey")
    },

    // ---- bloom-prefiltered semi join: the probe scan drops
    // non-matching rows map-side behind the broadcast bitmap, then
    // confirms exactly — result equals the plain semi join.
    "q_bloom_semijoin" -> { (s, dir) =>
      import s.implicits._
      val big = Tables.load(s, dir, "orders")
        .filter($"o_totalprice" > 350000.0)
        .select($"o_orderkey".as("l_orderkey"))
      graft.operators.Joins.bloomSemiJoin(
          Tables.load(s, dir, "lineitem"), big, "l_orderkey")
        .select($"l_orderkey", $"l_linenumber")
        .orderBy($"l_orderkey", $"l_linenumber")
    },

    // ---- gap sessionization (batch): a session breaks where the gap
    // from the user's previous event exceeds 8 h. One shuffle on the
    // user key; the ROWS-frame cumsum replays verbatim in the oracle.
    "q_sessionize" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Sessions.gapSessions(
          Tables.load(s, dir, "events"), "user_id", "ts",
          gapMinutes = 480, valueCol = Some("value"))
        .select($"user_id", $"session_seq",
          $"session_start".cast(TimestampNTZType).as("session_start"),
          $"session_end".cast(TimestampNTZType).as("session_end"),
          $"n_events", round($"total_value", 4).as("total_value"))
        .orderBy($"user_id", $"session_seq")
    },

    // ---- in-session conversion funnel view → click → purchase: step i
    // completes at the earliest matching event strictly after step i−1;
    // a skipped step blocks the rest. The per-step joins reuse the
    // session shuffle key; the oracle chains the same CTEs.
    "q_funnel_steps" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Sessions.funnel(
          Tables.load(s, dir, "events"), "user_id", "ts", "event_type",
          steps = Seq("view", "click", "purchase"), gapMinutes = 480)
        .select($"user_id", $"session_seq", $"step1_us", $"step2_us",
          $"step3_us", $"steps_completed")
        .orderBy($"user_id", $"session_seq")
    },

    // ---- md5-family sketches, candidates replayed by the oracle.
    // maxDist=3 honors the 4×16-bit banding recall guarantee (a pair
    // within Hamming d shares a band iff d ≤ 3) — round 1 asked for 16
    // and silently under-recalled.
    "q_simhash_pairs" -> { (s, dir) =>
      Dedup.simhashCandidates(Tables.load(s, dir, "documents"), "text", "doc_id",
        maxDist = 3)
        .orderBy(col("a_doc_id"), col("b_doc_id"))
    },
    "q_ann_lsh_topk" -> { (s, dir) =>
      Similarity.annTopK(Tables.load(s, dir, "embeddings"), "vec_id", "embedding",
        k = 5, nPlanes = 16, roundCos = 6)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rk").cast(LongType).as("rk"))
        .orderBy(col("query_id"), col("rk"))
    },
    // ---- IVF ANN: replayable k-means (deterministic sample order,
    // 6-decimal centroid rounding per iteration) trains on the driver;
    // the oracle unrolls the identical Lloyd's iterations in SQL, so
    // centroids, cell assignment, probe set and rerank all hash-match.
    "q_ivf_topk" -> { (s, dir) =>
      import graft.operators.IvfIndex
      val emb = Tables.load(s, dir, "embeddings")
      val m = IvfIndex.trainReplayable(emb, "vec_id", "embedding", k = 4, iters = 5)
      IvfIndex.topK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", m,
        k = 5, nProbe = 2, roundCos = 6)
        .select(col("query_id"), col("rk").cast(LongType).as("rk"),
          col("neighbor_id"), col("cos"))
        .orderBy(col("query_id"), col("rk"))
    },
    // ---- product quantization (Jégou et al. 2011): per-subspace
    // replayable codebooks, map-only codegen encode, ADC top-k over
    // the code scan (queries broadcast with precomputed LUTs). The
    // memory-bounded billion-vector path next to IVF and LSH.
    "q_pq_topk" -> { (s, dir) =>
      import graft.operators.PqIndex
      val emb = Tables.load(s, dir, "embeddings")
      val mdl = PqIndex.trainReplayable(emb, "vec_id", "embedding",
        m = 4, k = 4, iters = 3)
      PqIndex.adcTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", mdl, topK = 5)
        .select(col("query_id"), col("rk").cast(LongType).as("rk"),
          col("neighbor_id"), col("d"))
        .orderBy(col("query_id"), col("rk"))
    },

    // ---- index-model persistence: train → write the text artifact →
    // reload → probe. The artifact round-trips Double.toString
    // bit-exactly, so the reloaded model probes the SAME cells/codes
    // and the standing trainer oracles replay unchanged — save/load
    // sits inside the oracle loop, not beside it.
    "q_ivf_artifact" -> { (s, dir) =>
      import graft.operators.IvfIndex
      val emb = Tables.load(s, dir, "embeddings")
      val trained = IvfIndex.trainReplayable(emb, "vec_id", "embedding", k = 4, iters = 5)
      val tmp = java.nio.file.Files.createTempDirectory("graft-ivf").toString
      IvfIndex.writeModel(trained, s"$tmp/ivf_model.txt")
      val m = IvfIndex.readModel(s"$tmp/ivf_model.txt")
      IvfIndex.topK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", m,
        k = 5, nProbe = 2, roundCos = 6)
        .select(col("query_id"), col("rk").cast(LongType).as("rk"),
          col("neighbor_id"), col("cos"))
        .orderBy(col("query_id"), col("rk"))
    },
    "q_pq_artifact" -> { (s, dir) =>
      import graft.operators.PqIndex
      val emb = Tables.load(s, dir, "embeddings")
      val trained = PqIndex.trainReplayable(emb, "vec_id", "embedding",
        m = 4, k = 4, iters = 3)
      val tmp = java.nio.file.Files.createTempDirectory("graft-pq").toString
      PqIndex.writeModel(trained, s"$tmp/pq_model.txt")
      val mdl = PqIndex.readModel(s"$tmp/pq_model.txt")
      PqIndex.adcTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", mdl, topK = 5)
        .select(col("query_id"), col("rk").cast(LongType).as("rk"),
          col("neighbor_id"), col("d"))
        .orderBy(col("query_id"), col("rk"))
    },

    // ---- IVF-PQ composition: cells bound WHICH rows are scored,
    // codes bound HOW WIDE each candidate is — probe nProbe cells,
    // ADC-score only their codes. The oracle unrolls BOTH trainings.
    "q_ivfpq_topk" -> { (s, dir) =>
      import graft.operators.{IvfIndex, PqIndex}
      val emb = Tables.load(s, dir, "embeddings")
      val ivf = IvfIndex.trainReplayable(emb, "vec_id", "embedding", k = 4, iters = 5)
      val pq = PqIndex.trainReplayable(emb, "vec_id", "embedding",
        m = 4, k = 4, iters = 3)
      PqIndex.ivfPqTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", ivf, pq, topK = 5, nProbe = 2)
        .select(col("query_id"), col("rk").cast(LongType).as("rk"),
          col("neighbor_id"), col("d"))
        .orderBy(col("query_id"), col("rk"))
    },

    // ---- binary ANN: sign-bit signatures (1 bit/dim, packed longs)
    // + exact popcount-XOR Hamming, the memory-floor member of the
    // family. The oracle recomputes each pair's Hamming straight from
    // the float signs — an independent check of the packing kernel.
    "q_ann_hamming_topk" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.hammingTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rk"))
    },
    // ---- SQ8 ANN: per-vector int8 scalar quantization scored by the
    // EXACT integer dot of the codes — all-integer ranking, replayed
    // by the oracle as plain SQL.
    "q_ann_sq8_topk" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rk"))
    },
    // ---- Matryoshka prefix rerank: coarse top-m on the first 16
    // dims (the separately-materializable truncated column), exact
    // rerank of the candidates over all 64 — the corpus is never
    // shuffled in either stage. Rounded-before-rank both stages.
    "q_ann_prefix_rerank" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity.prefixRerankTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, prefixDims = 16, m = 25, roundCos = 6)
        .orderBy(col("query_id"), col("rk"))
    },
    // ---- banded-Hamming near-dup pairs over sign-bit signatures:
    // 4-bit bands give 16 bands over 64 dims, so recall is COMPLETE
    // for maxDist 15 (pigeonhole) and the closed-form oracle needs no
    // banding replay — the full pairwise filter IS the answer.
    "q_hamming_neardup" -> { (s, dir) =>
      Similarity.hammingNearDupPairs(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", maxDist = 15, bandBits = 4)
        .orderBy(col("a_vec_id"), col("b_vec_id"))
    },

    // ---- SemDeDup (Abbas et al. 2023): k-means cells bound the
    // pairwise work; within a cell a row is dropped iff a lower-id row
    // sits at cosine ≥ τ. Bounded slice: at scale k grows with n (cells
    // stay ~constant-sized); a fixed-k full-corpus run would measure
    // quadratic cell blowup, not the operator.
    "q_semdedup" -> { (s, dir) =>
      import graft.operators.{IvfIndex, Similarity}
      val emb = Tables.load(s, dir, "embeddings").filter(col("vec_id") < 2500)
      val m = IvfIndex.trainReplayable(emb, "vec_id", "embedding", k = 4, iters = 5)
      Similarity.semDedup(emb, "vec_id", "embedding", m, tau = 0.5, roundCos = 6)
        .orderBy(col("vec_id"))
    },
    "q_multimodal_decode" -> { (s, dir) =>
      val media = Multimodal.syntheticMediaTable(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      Multimodal.embedMedia(
        Multimodal.decodeImages(media, "payload", Multimodal.FakeCodec),
        "payload", codec = Multimodal.FakeCodec)
        .select(col("media_id"), col("decoded_width"), col("decoded_height"),
          round(col("mean_luma"), 6).as("mean_luma"),
          round(element_at(col("media_embedding"), 1).cast(DoubleType), 6).as("emb_0"))
        .orderBy(col("media_id"))
    },
    // ---- image near-dup (r10): perceptual-hash dedup over the media
    // table. The REAL path is ImageIoCodec's 9×8 dHash (spec'd on
    // generated PNGs — small edits flip few bits); the gate runs the
    // replayable md5-surrogate hash so the BANDED pair machinery
    // (16-bit buckets, pigeonhole recall for dist ≤ 3, exact Hamming
    // verify) replays in oracle SQL. Near-dup copies are seeded by
    // XORing a 2-bit pattern onto the hash — the deterministic
    // stand-in for a re-encoded image; exact copies seed dist 0.
    "q_image_neardup" -> { (s, dir) =>
      val media = Multimodal.syntheticMediaTable(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      val hashes = Multimodal.imageHashes(media, "payload", Multimodal.FakeCodec)
        .select(col("media_id"), col("image_hash"))
      val seeded = hashes
        .unionByName(hashes.filter(col("media_id") % 5 === 0)
          .select((col("media_id") + 1000000L).as("media_id"),
            col("image_hash").bitwiseXOR(lit(0x40002L)).as("image_hash")))
        .unionByName(hashes.filter(col("media_id") % 7 === 0)
          .select((col("media_id") + 2000000L).as("media_id"),
            col("image_hash")))
      graft.operators.Dedup.hashCandidates(seeded, "media_id", "image_hash",
          maxDist = 3)
        .orderBy(col("a_media_id"), col("b_media_id"))
    },

    // ---- audio near-dup (r11): spectral-sketch dedup over the media
    // table — the image near-dup's frequency-axis twin. The REAL path
    // is ImageIoCodec's 65-bin Goertzel adjacent-difference sketch
    // (spec'd on generated WAVs — a re-encoded copy of the same tone
    // mix flips few bits, a different mix flips many); the gate runs
    // the replayable md5-surrogate so the banded pair machinery
    // replays in oracle SQL. Near-dup copies seed by XORing a 2-bit
    // pattern (a slightly re-encoded clip); exact copies seed dist 0.
    "q_audio_neardup" -> { (s, dir) =>
      val media = Multimodal.syntheticMediaTable(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      val hashes = Multimodal.audioHashes(media, "payload", Multimodal.FakeCodec)
        .select(col("media_id"), col("audio_hash"))
      val seeded = hashes
        .unionByName(hashes.filter(col("media_id") % 6 === 0)
          .select((col("media_id") + 1000000L).as("media_id"),
            col("audio_hash").bitwiseXOR(lit(0x810L)).as("audio_hash")))
        .unionByName(hashes.filter(col("media_id") % 8 === 0)
          .select((col("media_id") + 2000000L).as("media_id"),
            col("audio_hash")))
      graft.operators.Dedup.hashCandidates(seeded, "media_id", "audio_hash",
          maxDist = 3)
        .orderBy(col("a_media_id"), col("b_media_id"))
    },

    // ---- video near-dup by sampled-frame fingerprints (r10):
    // demux-only exact matching at the encoded-access-unit level
    // (re-muxed/copied streams match; re-encoded ones are the GPU
    // perceptual stage's job). Seeds: full copies (4 shared frames)
    // and hybrids stitched from two donors (2 shared with each);
    // pairs = ids sharing ≥2 distinct fingerprints.
    "q_video_neardup" -> { (s, dir) =>
      val media = Multimodal.syntheticMediaTable(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      val fr = Multimodal.videoFingerprints(media, "payload", "media_id",
        n = 4, Multimodal.FakeCodec)
      val copies = fr.filter(col("media_id") % 6 === 0)
        .select((col("media_id") + 1000000L).as("media_id"),
          col("frame_idx"), col("frame_fp"))
      val hybridA = fr.filter(col("media_id") % 9 === 0 && col("frame_idx") < 2)
        .select((col("media_id") + 2000000L).as("media_id"),
          col("frame_idx"), col("frame_fp"))
      val hybridB = fr.filter((col("media_id") - 1) % 9 === 0 && col("frame_idx") >= 2)
        .select((col("media_id") - 1 + 2000000L).as("media_id"),
          col("frame_idx"), col("frame_fp"))
      val seeded = fr.unionByName(copies).unionByName(hybridA).unionByName(hybridB)
      graft.operators.Dedup.sharedFingerprintPairs(seeded, "media_id",
          "frame_fp", minShared = 2)
        .orderBy(col("a_media_id"), col("b_media_id"))
    },

    // ---- streaming: windowed stream aggregation replayed over the
    //      events drop must equal the batch oracle exactly
    "q_stream_daily" -> { (s, dir) =>
      import s.implicits._
      GraftSession.configure(s)
      val staged = stageEventsOnce(s, dir)
      val stream = graft.streaming.EventStreams.readEventStream(s, staged)
      val agg = graft.streaming.EventStreams.windowedCounts(stream, "1 day", "1 day")
      val qn = "stream_daily_gate"
      val q = graft.streaming.EventStreams.runToMemorySized(s, agg, qn)
      q.stop()
      s.table(qn).select(
          $"window_start".cast(TimestampNTZType).as("day"),
          $"event_type", $"n", round($"total_value", 4).as("total_value"))
        .orderBy($"day", $"event_type")
    },

    // ---- streaming OHLC: the BATCH downsampler applied unchanged to
    // the stream — open/close ride struct min/max, which merge
    // associatively across micro-batches, so the bars are
    // trigger-split invariant by construction and the batch oracle
    // replays them exactly (the batch/stream unification the
    // one-pass-agg design buys)
    "q_stream_ohlc" -> { (s, dir) =>
      import s.implicits._
      GraftSession.configure(s)
      val staged = stageOrderedEventsOnce(s, dir)
      val stream = s.readStream
        .schema(graft.streaming.EventStreams.eventSchema)
        .option("maxFilesPerTrigger", 2).parquet(staged)
        .withWatermark("ts", "40 days")
      val bars = graft.operators.TimeSeries.ohlcBars(
        stream, "ts", "event_id", "value",
        groupCols = Seq("event_type"), barWidth = "1 day")
      val qn = "stream_ohlc_gate"
      val q = graft.streaming.EventStreams.runToMemorySized(s, bars, qn)
      q.stop()
      s.table(qn).select(
          $"bar_start".cast(TimestampNTZType).as("bar_start"),
          $"event_type", round($"bar_open", 4).as("bar_open"),
          round($"bar_high", 4).as("bar_high"),
          round($"bar_low", 4).as("bar_low"),
          round($"bar_close", 4).as("bar_close"), $"n")
        .orderBy($"bar_start", $"event_type")
    },

    // ---- streaming sessionization: the flatMapGroupsWithState state
    // machine over a ts-ordered 6-file replay (one file per trigger);
    // the sink holds every CLOSED session — each user's final session
    // is still open in state at stream end, so the oracle is the batch
    // gap-session result minus each user's last session.
    "q_stream_sessions" -> { (s, dir) =>
      import s.implicits._
      GraftSession.configure(s)
      val staged = stageOrderedEventsOnce(s, dir)
      val stream = s.readStream
        .schema(graft.streaming.EventStreams.eventSchema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
        .as[graft.streaming.EventStreams.Event]
      val sessions = graft.streaming.EventStreams.sessionize(
        stream, gapMs = 480L * 60L * 1000L)
      val qn = "stream_sessions_gate"
      val q = graft.streaming.EventStreams.runToMemorySized(s, sessions.toDF(), qn,
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      q.stop()
      s.table(qn).select($"user_id",
          $"session_start".cast(TimestampNTZType).as("session_start"),
          $"session_end".cast(TimestampNTZType).as("session_end"),
          $"n_events", round($"total_value", 4).as("total_value"))
        .orderBy($"user_id", $"session_start")
    },

    // ---- stream-stream join: purchases within 2 h after a view by the
    // same user, both sides watermarked (the state-eviction contract);
    // inner-join emission is a set, so the batch oracle replays it
    // whatever the trigger split.
    "q_stream_join" -> { (s, dir) =>
      import s.implicits._
      GraftSession.configure(s)
      val staged = stageOrderedEventsOnce(s, dir)
      def src() = s.readStream
        .schema(graft.streaming.EventStreams.eventSchema)
        .option("maxFilesPerTrigger", 2).parquet(staged)
      val views = src().filter($"event_type" === "view")
        .select($"event_id".as("view_id"), $"user_id", $"ts".as("view_ts"))
      val buys = src().filter($"event_type" === "purchase")
        .select($"event_id".as("purchase_id"), $"user_id".as("p_user"),
          $"ts".as("purchase_ts"))
      val joined = graft.streaming.EventStreams.joinWithin(
        views, "view_ts", buys, "purchase_ts", "user_id", "p_user",
        within = "2 HOURS", watermark = "30 days")
      val qn = "stream_join_gate"
      // r15 (profiled): the stream-stream join keeps FOUR state stores
      // per shuffle partition, and every micro-batch commits all of
      // them — at 32 partitions × 3 triggers that is ~384 store
      // commits for a few thousand rows, which IS the gate's cost.
      // runToMemorySized right-sizes the state partitioning (r16: the
      // whole streaming family rides it); at the 100 TB design point
      // the same knob simply stays high.
      val q = graft.streaming.EventStreams.runToMemorySized(s,
        joined.select($"view_id", $"purchase_id", $"user_id",
          $"view_ts", $"purchase_ts"), qn,
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      q.stop()
      s.table(qn).select($"view_id", $"purchase_id", $"user_id",
          $"view_ts".cast(TimestampNTZType).as("view_ts"),
          $"purchase_ts".cast(TimestampNTZType).as("purchase_ts"))
        .orderBy($"view_id", $"purchase_id")
    },

    "q_multimodal_audio" -> { (s, dir) =>
      val media = Multimodal.syntheticMediaTable(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      Multimodal.embedAudioMedia(
        Multimodal.decodeAudio(media, "payload", Multimodal.FakeCodec),
        "payload", codec = Multimodal.FakeCodec)
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("duration_ms"), round(col("rms"), 6).as("rms"),
          round(element_at(col("audio_embedding"), 1).cast(DoubleType), 6).as("aemb_0"))
        .orderBy(col("media_id"))
    },
    "q_multimodal_resize" -> { (s, dir) =>
      val media = Multimodal.syntheticMediaTable(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      Multimodal.resizeImages(media, "payload", 224, 224, Multimodal.FakeCodec)
        .select(col("media_id"), hex(col("resized_payload")).as("resized_hex"))
        .orderBy(col("media_id"))
    },
    "q_multimodal_frames" -> { (s, dir) =>
      val media = Multimodal.syntheticMediaTable(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      Multimodal.sampleFrames(media, "payload", "media_id", n = 3, Multimodal.FakeCodec)
        .select(col("media_id"), col("frame_idx"), hex(col("frame_payload")).as("frame_hex"))
        .orderBy(col("media_id"), col("frame_idx"))
    },

    // ---- EXIF metadata (r14): REAL JPEG/TIFF parsing — marker-segment
    // walk, IFD entries, GPS rationals — over fixture JPEGs built
    // byte-exact from doc_id (the WARC writer/reader gate stance;
    // ExifSpec additionally pins the parser against hand-assembled
    // blobs including big-endian MM order). The oracle restates every
    // field closed-form; coordinates are exact fixture algebra
    // (deg + min/60 + sec100/100/3600) rounded at 9.
    "q_image_exif" -> { (s, dir) =>
      import graft.operators.Exif
      val d = col("doc_id")
      val payload = Exif.exif_jpeg(
        concat(lit("Cam-"), (d % 5).cast("string")),
        concat(lit("Mod-"), (d % 7).cast("string")),
        concat(lit("2026:08:15 12:34:0"), (d % 10).cast("string")),
        (d % 8 + 1).cast("int"),
        when(d % 2 === 0, "N").otherwise("S"),
        (d % 90).cast("int"), (d % 60).cast("int"), (d % 6000).cast("int"),
        when(d % 3 === 0, "E").otherwise("W"),
        (d % 180).cast("int"), (d * 7 % 60).cast("int"),
        (d * 13 % 6000).cast("int"))
      Tables.load(s, dir, "documents")
        .select(d, Exif.exif_metadata(payload).as("x"))
        .select(d, col("x.make"), col("x.model"), col("x.datetime"),
          col("x.orientation"),
          round(col("x.gps_lat"), 9).as("gps_lat"),
          round(col("x.gps_lon"), 9).as("gps_lon"))
        .orderBy(d)
    },

    // ---- deterministic stratified sampling: per-language keep rates
    // decided row-locally by the md5 bit contract; the gate returns the
    // surviving rows themselves so per-row membership (not just counts)
    // is hash-matched against the oracle's replay.
    "q_stratified_sample" -> { (s, dir) =>
      graft.operators.Sampling.stratifiedSample(
        Tables.load(s, dir, "documents"), "lang", "doc_id", "strat-v1",
        Seq("en" -> 0.25, "zh" -> 0.6, "de" -> 1.0), defaultRate = 0.1)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },

    // ---- PII scrub pass: counts + redaction over documents seeded
    // with deterministic synthetic PII (the corpus has none); the
    // oracle rebuilds the identical seeded text and replays the same
    // RE2-safe regexes, so counts AND the redacted bytes (via md5)
    // are bit-matched.
    "q_pii_profile" -> { (s, dir) =>
      val seeded = Tables.load(s, dir, "documents").select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" reach me at user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" from 10.0."), col("doc_id") % 200, lit(".17")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" call +1 555-0147")).otherwise(lit("")))
        .as("text"))
      TextOps.piiProfile(seeded, "text", "doc_id")
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          md5(col("redacted").cast("binary")).as("redacted_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- temperature mixture sampling: per-language keep rate
    // (n_min/n_lang)^0.5 (alpha = 0.5 → sqrt, correctly-rounded IEEE on
    // both engines), membership by the md5 bit contract; rows compared,
    // not counts
    "q_temperature_mix" -> { (s, dir) =>
      graft.operators.Sampling.temperatureSample(
        Tables.load(s, dir, "documents"), "lang", "doc_id", "temp-v1", alpha = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },

    // ---- unigram LM quality score: the corpus's own unigram
    // distribution scores every doc by mean negative token logprob
    "q_lm_quality" -> { (s, dir) =>
      TextOps.lmQualityScore(Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("doc_id"))
    },

    // ---- multinomial Naive Bayes classification (r10): the
    // fastText-style quality/domain classifier stand-in — trained on
    // the corpus's own lang labels, classifying every doc; Laplace +1,
    // vocab-ignored OOV, argmax on the 6-decimal-rounded score with
    // label tiebreak (the exactly-replayable decision contract)
    "q_nb_classify" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      graft.operators.NbClassifier.classify(docs, "text", "lang", docs, "doc_id")
        .orderBy(col("doc_id"))
    },

    // ---- batch perceptron (r12): the GRADIENT-trained counterpart of
    // q_nb_classify — all-integer Rosenblatt rounds, so 20 full-batch
    // updates replay bit-exactly as unrolled oracle CTEs. Features are
    // character/substring counts; training slice = even doc_ids; the
    // learned weights score EVERY doc (the train-on-slice,
    // score-the-corpus shape).
    "q_perceptron_quality" -> { (s, dir) =>
      val t = col("text")
      def cnt(sub: String): Column =
        (length(t) - length(replace(t, lit(sub), lit("")))).cast(LongType)
      // training (the even slice) and scoring both read the features —
      // cache them (the verify/bench harnesses sweep caches after)
      val feats = Tables.load(s, dir, "documents").select(
        col("doc_id"),
        array(cnt("."), cnt(" the ")).as("x"),
        (cnt(" the ") >= 10).as("label")).persist()
      val w = graft.operators.Perceptron.train(
        feats.filter(col("doc_id") % 2 === 0), "x", "label", iters = 20, k = 2)
      graft.operators.Perceptron.score(feats, "x", w)
        .select(col("doc_id"), col("score"), col("pred"), col("label"))
        .orderBy("doc_id")
    },

    // ---- mergeable sketches (r12): count-min frequency estimates and
    // a HyperLogLog distinct count, both on the md5 hash family so the
    // oracle rebuilds the SAME cells/registers bit-for-bit — unlike
    // approx_count_distinct, whose HLL++ no other engine replays.
    "q_sketch_cms" -> { (s, dir) =>
      val keyed = Tables.load(s, dir, "lineitem")
        .select((col("l_partkey") % 97).as("key"))
      val sk = graft.operators.Sketches.countMin(keyed, "key",
        width = 256, depth = 3)
      graft.operators.Sketches.cmsEstimate(sk, keyed.distinct(), "key")
        .orderBy("key")
    },

    "q_sketch_hll" -> { (s, dir) =>
      val keys = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("key"))
      graft.operators.Sketches.hllEstimate(
        graft.operators.Sketches.hllRegisters(keys, "key", p = 9))
    },

    // ---- Bloom filter: build on the even orderkeys, probe every
    // distinct orderkey — evens must all answer true (no false
    // negatives by construction), odds answer true only on the
    // deterministic md5 collisions the oracle reproduces bit-for-bit
    "q_sketch_bloom" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val build = li.filter(col("l_orderkey") % 2 === 0)
        .select(col("l_orderkey").as("key"))
      val sk = graft.operators.Sketches.bloomBuild(build, "key",
        m = 65536, k = 3)
      graft.operators.Sketches.bloomMightContain(
          sk, li.select(col("l_orderkey").as("key")).distinct(), "key")
        .orderBy("key")
    },

    // ---- sampled quantiles: md5-kept 25% of event values, type-1
    // (picked-value) quantiles over the sample — the mergeable
    // distributed-percentile sketch, replayed row-for-row by the oracle
    "q_sketch_quantile" -> { (s, dir) =>
      val sk = graft.operators.Sketches.quantileSample(
        Tables.load(s, dir, "events"), "event_id", "value",
        ratePerM = 250000)
      graft.operators.Sketches.quantileEstimate(
          sk, Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99))
        .orderBy("q")
    },

    // ---- sketch-thresholded curation: drop the shortest quartile by
    // the SAMPLED 25th length percentile (a data-driven cut point, not
    // a hand constant), then exact dedup — the quantile sketch feeding
    // CURATE TABLE
    "q_curate_quantile" -> { (s, dir) =>
      graft.dsl.CuratePipeline.compile(
          Tables.load(s, dir, "documents"),
          """{"stages": [
            {"op": "quantile_filter", "column": "n_chars", "q": 0.25,
             "keep": "above"},
            {"op": "dedup_exact"}]}""")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    // ---- grouped quantiles: per-language doc-length percentiles from
    // one md5-sampled pass — the ranks restart per group on the prefix
    // scan, so no single-partition stage exists at any group count
    "q_grouped_quantile" -> { (s, dir) =>
      graft.operators.Sketches.groupedQuantiles(
          Tables.load(s, dir, "documents"), Seq("lang"),
          "doc_id", "n_chars", qs = Seq(0.25, 0.5, 0.9),
          ratePerM = 500000)
        .orderBy("lang", "q")
    },

    // ---- streaming HLL (r12): the registers are a plain streaming
    // MAX aggregation, and register merge-invariance makes the sketch
    // trigger-split invariant by construction — the batch oracle
    // replays the arriving stream's registers exactly. p=5 keeps the
    // 500-key gate well above the (omitted) small-range-correction
    // zone.
    "q_stream_hll" -> { (s, dir) =>
      GraftSession.configure(s)
      val staged = stageDocsOnce(s, dir)
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = s.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 2).parquet(staged)
      val regs = graft.operators.Sketches.hllRegisters(
        stream.select(col("doc_id").as("key")), "key", p = 5)
      val qn = "stream_hll_gate"
      val q = graft.streaming.EventStreams.runToMemorySized(s, regs.registers, qn,
        mode = org.apache.spark.sql.streaming.OutputMode.Complete())
      q.stop()
      graft.operators.Sketches.hllEstimate(
        graft.operators.Sketches.HllSketch(s.table(qn), p = 5))
    },

    // ---- stupid-backoff bigram LM perplexity (Brants et al. 2007;
    // the CCNet-style model-based quality gate): self-trained counts,
    // α=0.4 backoff, +1-floored unigrams, document ppl = 10^(−avg
    // log10 S). Row-local gram construction (no per-doc window), two
    // count shuffles, tf-pre-aggregated scoring joins.
    "q_ngram_ppl" -> { (s, dir) =>
      NgramLm.perplexity(Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("doc_id"))
    },

    // ---- trigram order of the same model: two-level backoff, α per
    // backed-off level, document starts score by their longest
    // EXISTING context without penalty
    "q_ngram_ppl3" -> { (s, dir) =>
      NgramLm.perplexity(Tables.load(s, dir, "documents"), "text", "doc_id",
        order = 3)
        .orderBy(col("doc_id"))
    },

    // ---- DSIR importance weights (Xie et al. 2023): log-likelihood
    // ratio between the lang='en' target LM and the raw-corpus LM,
    // both the stupid-backoff models above — positive weight ⇒ doc
    // looks more target-like; resampling composes with the samplers
    "q_dsir_weights" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      NgramLm.dsirWeights(docs, "text", "doc_id",
        target = docs.filter(col("lang") === "en"))
        .orderBy(col("doc_id"))
    },

    // ---- BM25 keyword retrieval: top-25 docs for a 3-term query,
    // ranked on the 6-decimal-rounded score (ties → doc id)
    "q_bm25_topk" -> { (s, dir) =>
      TextOps.bm25TopK(Tables.load(s, dir, "documents"), "text", "doc_id",
        queryTerms = Seq("spark", "window", "join"), k = 25)
        .orderBy(col("rk"))
    },

    // ---- streaming exact-dedup: running (keeper, n_copies) state per
    // content digest over a multi-file document drop (2 files per
    // micro-batch, so state is genuinely maintained ACROSS batches);
    // the staged drop re-ingests every doc_id % 10 == 0 doc under a
    // shifted id, and the batch oracle over the same union must match
    // exactly — the min-keeper contract is micro-batch-split-invariant.
    "q_stream_dedup" -> { (s, dir) =>
      GraftSession.configure(s)
      val staged = stageDocsOnce(s, dir)
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = s.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 2).parquet(staged)
      val agg = graft.streaming.EventStreams.streamingDocDedup(stream, "text", "doc_id")
      val qn = "stream_dedup_gate"
      val q = graft.streaming.EventStreams.runToMemorySized(s, agg, qn)
      q.stop()
      s.table(qn).orderBy(col("digest"))
    },

    // ---- streaming curation capstone: normalize → quality gate →
    // exact dedup as ONE continuous pipeline over the multi-file
    // ingest — the map-only stages fuse into the scan, the dedup is
    // the one keyed-state stage, and every stage is the batch
    // operator's streaming twin, so the batch oracle replays the
    // whole chain.
    "q_stream_curate" -> { (s, dir) =>
      GraftSession.configure(s)
      val staged = stageDocsOnce(s, dir)
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = s.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 2).parquet(staged)
      val curated = stream
        .select(col("doc_id"), TextOps.normalizeText(col("text")).as("text"))
        .filter(TextOps.tokenCount(col("text")) >= 30)
      val agg = graft.streaming.EventStreams.streamingDocDedup(
        curated, "text", "doc_id")
      val qn = "stream_curate_gate"
      val q = graft.streaming.EventStreams.runToMemorySized(s, agg, qn)
      q.stop()
      s.table(qn).orderBy(col("digest"))
    },

    // ---- streaming NEAR-dup: the same multi-file ingest (every 10th
    // doc re-arrives as an exact copy), LSH-banded keyed state, one
    // candidate row per bucket collision with the exact equal-component
    // count; the ≥6/8 verdict is a stateless filter over the sink.
    // 2 files/trigger forces state to live ACROSS micro-batches.
    "q_stream_neardup" -> { (s, dir) =>
      GraftSession.configure(s)
      val staged = stageDocsOnce(s, dir)
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = s.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 2).parquet(staged)
      val cands = graft.streaming.EventStreams.streamingNearDupCandidates(
        stream, "text", "doc_id")
      val qn = "stream_neardup_gate"
      val q = graft.streaming.EventStreams.runToMemorySized(s, cands, qn,
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      q.stop()
      s.table(qn).where(col("n_eq") >= 6).distinct()
        .orderBy(col("a_doc_id"), col("b_doc_id"))
    },

    // ---- streaming HASH near-dup (r11): the q_image_neardup corpus
    // through the 64-bit-sketch twin — md5-surrogate hashes computed
    // IN-STREAM, exact re-arrivals (%10 re-entry) land dist-0 pairs,
    // %7 ids re-enter XOR'd by 2 bits (a re-encoded copy); banded
    // keyed state emits a candidate when the later id arrives, and
    // the pair SET is micro-batch-split invariant below the cap.
    // 2 files/trigger forces state to live across micro-batches.
    "q_stream_hash_neardup" -> { (s, dir) =>
      GraftSession.configure(s)
      val staged = stageDocsOnce(s, dir)
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = s.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 2).parquet(staged)
      val hashes = Multimodal.imageHashes(
          stream.select(col("doc_id"), col("text").cast(BinaryType).as("payload")),
          "payload", Multimodal.FakeCodec)
        .select(col("doc_id"), col("image_hash"))
      val seeded = hashes.unionByName(
        hashes.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            col("image_hash").bitwiseXOR(lit(0x40002L)).as("image_hash")))
      val cands = graft.streaming.EventStreams.streamingHashNearDup(
        seeded, "doc_id", "image_hash")
      val qn = "stream_hash_neardup_gate"
      val q = graft.streaming.EventStreams.runToMemorySized(s, cands, qn,
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      q.stop()
      s.table(qn).where(col("dist") <= 3).distinct()
        .orderBy(col("a_id"), col("b_id"))
    },

    // ---- paragraph-level dedup: boilerplate paragraphs are seeded
    // deterministically (the corpus is single-paragraph), each distinct
    // paragraph keeps its first (doc, pos) occurrence corpus-wide, docs
    // reassemble in order; text compared via md5 plus kept/dropped tallies
    "q_paragraph_dedup" -> { (s, dir) =>
      val boiler = array(
        lit("Subscribe to our newsletter for updates."),
        lit("All rights reserved."),
        lit("Click here to read more."),
        lit("Share this article on social media."))
      val seeded = Tables.load(s, dir, "documents").select(col("doc_id"), concat(
        col("text"), lit("\n\n"),
        element_at(boiler, (col("doc_id") % 4 + 1).cast("int")),
        when(col("doc_id") % 6 === 0,
          lit("\n\nCookie policy: this site uses cookies.")).otherwise(lit("")))
        .as("text"))
      TextOps.dedupParagraphs(seeded, "text", "doc_id")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"),
          col("n_kept"), col("n_dropped"))
        .orderBy(col("doc_id"))
    },

    // ---- deterministic per-domain cap: at most 7 docs survive per
    // source, chosen by the md5 bit contract's hash order; surviving
    // rows themselves are compared (membership, not counts)
    "q_domain_cap" -> { (s, dir) =>
      graft.operators.Sampling.capPerGroup(
        Tables.load(s, dir, "documents"), "source", "doc_id", "cap-v1", 7)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },

    // ---- mixture materialization: per-source epoch replication
    // (src0 ×2.5, src1 ×0.25, src2 ×0, rest ×1); every copy's epoch id
    // replayed row-for-row by the oracle's range() expansion
    "q_mixture_epochs" -> { (s, dir) =>
      graft.operators.Sampling.materializeMixture(
        Tables.load(s, dir, "documents"), "source", "doc_id", "mix-v1",
        Seq("src0" -> 2.5, "src1" -> 0.25, "src2" -> 0.0), defaultWeight = 1.0)
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    },

    // ---- BPE trainer round-0 statistics: weighted adjacent character
    // pairs over the distinct-word table, ranked (count desc, pair asc)
    // — the argmax the first merge fuses, replayed by a substr explode
    "q_bpe_pairs" -> { (s, dir) =>
      graft.operators.Bpe.pairStats(
        graft.operators.Bpe.wordTable(Tables.load(s, dir, "documents"), "text"))
        .orderBy(col("pair_count").desc, col("l_sym"), col("r_sym"))
        .limit(20)
    },

    // ---- BPE encode against a literal merge table: the deterministic
    // replace-chain contract means DuckDB replays the encoded bytes
    "q_bpe_encode" -> { (s, dir) =>
      val merges = Seq("e" -> "r", "t" -> "h", "th" -> "e",
        "i" -> "n", "a" -> "n", "an" -> "d")
      graft.operators.Bpe.encode(
        Tables.load(s, dir, "documents"), "text", "doc_id", merges)
        .select(col("doc_id"), col("n_bpe_tokens"),
          md5(col("bpe_text").cast("binary")).as("bpe_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- BPE vocabulary artifact: base characters (lexicographic ids)
    // + merge products (C+rank) — what a trained tokenizer ships
    "q_bpe_vocab" -> { (s, dir) =>
      val merges = Seq("e" -> "r", "t" -> "h", "th" -> "e",
        "i" -> "n", "a" -> "n", "an" -> "d")
      graft.operators.Bpe.vocab(
        Tables.load(s, dir, "documents"), "text", merges)
        .orderBy(col("token_id"))
    },

    // ---- text → token ids end-to-end: encode's symbol stream mapped
    // through the vocab artifact's ids; -1 is UNK (never hit here — the
    // vocab is built from the same corpus)
    "q_bpe_token_ids" -> { (s, dir) =>
      val merges = Seq("e" -> "r", "t" -> "h", "th" -> "e",
        "i" -> "n", "a" -> "n", "an" -> "d")
      val docs = Tables.load(s, dir, "documents")
      val vocabIds = graft.operators.Bpe.vocabIds(docs, "text", merges)
      graft.operators.Bpe.encodeIds(docs, "text", "doc_id", merges, vocabIds)
        .select(col("doc_id"), col("n_bpe_tokens"),
          md5(array_join(transform(col("token_ids"), i => i.cast("string")), " ")
            .cast("binary")).as("ids_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- byte-level pair statistics: the trainer's per-round ranking
    // input over byte-mapped GPT-2 pre-tokens (the [[ByteBpe.wordTable]]
    // seed) — the byte-level sibling of q_bpe_pairs, same deterministic
    // (count DESC, left, right) order contract
    "q_bytebpe_pairs" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"),
        regexp_replace(trim(translate(col("text"), "ae", "äé")), "\\s+", " ")
          .as("text"))
      graft.operators.Bpe.pairStats(
        graft.operators.ByteBpe.wordTable(docs, "text"))
        .orderBy(col("pair_count").desc, col("l_sym"), col("r_sym"))
        .limit(20)
    },

    // ---- byte-level BPE encode (GPT-2 family, r14): the corpus is
    // made NON-ASCII deterministically (a→ä, e→é) so the bytes→unicode
    // bijection is exercised for real — ä spreads to the two mapped
    // byte chars Ã ¤, a space becomes Ġ. The merge table crosses a
    // UTF-8 byte pair, a Ġ prefix, and a plain pair; the oracle
    // replays pre-tokens (first word bare, the rest space-glued),
    // the byte mapping, and the merge replaces closed-form.
    "q_bytebpe_encode" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"),
        regexp_replace(trim(translate(col("text"), "ae", "äé")), "\\s+", " ")
          .as("text"))
      graft.operators.ByteBpe.encode(docs, "text", "doc_id", byteBpeMerges)
        .select(col("doc_id"), col("n_bbpe_tokens"),
          md5(col("bbpe_text").cast("binary")).as("bbpe_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- byte-level token ids: the vocabulary is CLOSED by
    // construction — base ids are the byte values themselves (no
    // corpus pass, no UNK id exists), merge products take 256+rank.
    // The oracle maps each symbol through the same closed table.
    "q_bytebpe_ids" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"),
        regexp_replace(trim(translate(col("text"), "ae", "äé")), "\\s+", " ")
          .as("text"))
      graft.operators.ByteBpe.encodeIds(docs, "text", "doc_id", byteBpeMerges)
        .select(col("doc_id"), col("n_bbpe_tokens"),
          md5(array_join(transform(col("token_ids"), i => i.cast("string")), " ")
            .cast("binary")).as("ids_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- byte-level LOSSLESSNESS, the property the family exists
    // for: decode(encode_ids(t)) == t byte-for-byte on deliberately
    // messy text — multi-byte chars, contractions, a tab, a double
    // space, an astral emoji, trailing whitespace. The oracle is the
    // IDENTITY restatement of the input expression; any pre-tokenizer,
    // bijection, merge, or id-map defect breaks the hash.
    "q_bytebpe_roundtrip" -> { (s, dir) =>
      val messy = concat(translate(col("text"), "ae", "äé"),
        lit("\n it's  DON'T\tnaïve 3² 🚀 "))
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), messy.as("text"))
      graft.operators.ByteBpe.decodeIds(
          graft.operators.ByteBpe.encodeIds(docs, "text", "doc_id", byteBpeMerges),
          "token_ids", byteBpeMerges)
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },

    // ---- cluster-balanced sampling (r15): IVF cells as the balance
    // key, the deterministic md5-rank cap as the sampler — the oracle
    // unrolls the kmeans then replays the identical cap window.
    "q_cluster_balanced_sample" -> { (s, dir) =>
      import graft.operators.{IvfIndex, Sampling}
      val emb = Tables.load(s, dir, "embeddings")
      val m = IvfIndex.trainReplayable(emb, "vec_id", "embedding", k = 4, iters = 5)
      Sampling.clusterBalancedSample(emb, "vec_id", "embedding", m,
          "cbs-v1", cap = 30)
        .select(col("vec_id"), col("cell"))
        .orderBy(col("vec_id"))
    },

    // ---- the same two through the CURATE front door (r15)
    "q_curate_cluster_balance" -> { (s, dir) =>
      graft.dsl.CuratePipeline.compile(
          Tables.load(s, dir, "embeddings"),
          """{"stages": [
            {"op": "cluster_balance", "vec_col": "embedding",
             "k": 4, "iters": 5, "salt": "cbs-v1", "cap": 30}]}""",
          idCol = "vec_id")
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    },
    "q_curate_ppl_band" -> { (s, dir) =>
      graft.dsl.CuratePipeline.compile(
          Tables.load(s, dir, "documents"),
          """{"stages": [
            {"op": "ppl_band", "keep": ["head"]}]}""")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },

    // ---- CCNet perplexity bands (r15): per-language head/middle/tail
    // terciles by LM perplexity, percent_rank with doc_id tiebreak —
    // the oracle chains the standing stupid-backoff replay into the
    // same window arithmetic.
    "q_ppl_buckets" -> { (s, dir) =>
      graft.operators.NgramLm.pplBuckets(
          Tables.load(s, dir, "documents"), "text", "doc_id", "lang")
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("ppl"),
          col("bucket"), col("band"))
        .orderBy(col("doc_id"))
    },

    // ---- tokenizer fertility / compression metrics (r15): per-lang
    // tokens-per-byte, fertility (tokens per whitespace word) and
    // chars-per-token of the byte-BPE encode over the non-ASCII-ified
    // corpus — the standard cross-language tokenizer comparison; the
    // oracle re-aggregates the SAME per-doc token counts its
    // q_bytebpe_encode replay already pins.
    "q_tokenizer_fertility" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"),
        col("lang"),
        regexp_replace(trim(translate(col("text"), "ae", "äé")), "\\s+", " ")
          .as("text"))
      val enc = graft.operators.ByteBpe
        .encode(docs, "text", "doc_id", byteBpeMerges)
        .join(docs, "doc_id")
      graft.operators.TextOps
        .tokenizerStats(enc, Seq("lang"), "text", "n_bbpe_tokens")
        .orderBy(col("lang"))
    },

    // ---- published tokenizer artifact interop (r15): the gate writes
    // fixtures in the PUBLISHED formats — GPT-2 `vocab.bpe`
    // (`#version: 0.2` header + rank-ordered merges) + `encoder.json`
    // (symbol → production id, deliberately NOT the closed byte/rank
    // scheme so ids provably come from the artifact), and a
    // SentencePiece-style `.vocab` TSV (float log-prob scores, `▁`
    // word markers, `<unk>`/`<s>`/`</s>` control rows, a bare/marked
    // collision) — loads them back through the published-format
    // loaders, and encodes the messy non-ASCII corpus with both.
    // Oracle: the byte-level replay CTEs with the artifact's id table,
    // and the unigram segmentation enumeration (weights ×1e6 — argmax
    // and exact ties are scale-invariant).
    "q_tokenizer_artifact" -> { (s, dir) =>
      import graft.operators.{ByteBpe, Unigram}
      val tmp = java.nio.file.Files.createTempDirectory("graft-tok").toString
      graft.sources.io.ByteStore.writeString(s"$tmp/vocab.bpe",
        "#version: 0.2\nÃ ¤\nÃ ©\nĠ t\nĠt h\nt h\n")
      val encJson = {
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        val base = (0 until 256).map(b =>
          graft.functions.ByteBpeExprs.byteToChar(b).toString ->
            JInt(BigInt(3000 + b)))
        val prods = Seq("Ã¤" -> JInt(4000), "Ã©" -> JInt(4001),
          "Ġt" -> JInt(4002), "Ġth" -> JInt(4003), "th" -> JInt(4004))
        JsonMethods.compact(JsonMethods.render(JObject((base ++ prods).toList)))
      }
      graft.sources.io.ByteStore.writeString(s"$tmp/encoder.json", encJson)
      graft.sources.io.ByteStore.writeString(s"$tmp/spm.vocab",
        "<unk>\t0\n<s>\t0\n</s>\t0\n▁table\t-10.0\n▁the\t-5.0\nthe\t-7.0\n" +
          "he\t-4.0\nta\t-4.0\nab\t-2.0\nle\t-4.0\nwin\t-6.0\ndow\t-6.0\n" +
          "in\t-4.0\na\t-3.0\ne\t-3.0\nt\t-4.0\ns\t-4.0\n")
      val merges = ByteBpe.readGpt2Merges(s"$tmp/vocab.bpe")
      val encoder = ByteBpe.readGpt2Encoder(s"$tmp/encoder.json")
      val spm = Unigram.readVocab(s"$tmp/spm.vocab").pieces
      // r18: this gate runs TWO heavy encode kernels (byte-BPE + remap,
      // Viterbi) plus a broadcast build over a 1-split scan — all its
      // jobs measured single-task (guide §2.5); widen both seeds once
      val docs = graft.operators.Par.widen(Tables.load(s, dir, "documents"))
        .select(col("doc_id"),
          regexp_replace(trim(translate(col("text"), "ae", "äé")), "\\s+", " ")
            .as("text"))
      val bb = ByteBpe.encodeIdsPublished(docs, "text", "doc_id", merges, encoder)
        .select(col("doc_id"), col("n_bbpe_tokens"),
          md5(array_join(transform(col("token_ids"), i => i.cast("string")), " ")
            .cast("binary")).as("bids_md5"))
      val ug = Unigram.encode(
          graft.operators.Par.widen(Tables.load(s, dir, "documents")),
          "text", "doc_id", spm, unk = -9000000L)
        .select(col("doc_id"), col("n_ug_tokens"),
          md5(col("ug_text").cast("binary")).as("ug_md5"))
      bb.join(ug, "doc_id").orderBy(col("doc_id"))
    },

    // ---- SentencePiece word-boundary contexts (r16): a published-
    // format .vocab whose ▁-marked and bare variants carry DIFFERENT
    // scores, loaded with markers preserved; every word Viterbi-
    // decodes as ▁+chars so each variant competes only in its own
    // position. The oracle enumerates EVERY segmentation of each word
    // (recursive CTE), scores it with the same 1e6-quantized weights,
    // and replays the kernel's tie-break exactly (max score, then
    // lexicographically smallest reversed piece-start list — the
    // backpointer walk's smallest-j-per-cell preference).
    "q_tokenizer_boundary" -> { (s, dir) =>
      GraftSession.configure(s)
      val tmp = java.nio.file.Files.createTempDirectory("graft-ugb").toString
      graft.sources.io.ByteStore.writeString(s"$tmp/b.vocab",
        boundaryVocab.map { case (p, sc) => s"$p\t$sc" }.mkString("\n") + "\n")
      val pieces = graft.operators.Unigram.readVocab(s"$tmp/b.vocab",
        preserveMarkers = true).pieces
      val words = Tables.load(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("w"))
        .filter(col("w").rlike("^[a-z]{3,8}$"))
        .distinct().orderBy(col("w")).limit(400)
      graft.operators.Unigram.encode(words, "w", "w", pieces,
          unk = -10L * 1000000L, lower = false, boundary = true)
        .select(col("doc_id").as("word"), col("ug_text"),
          col("n_ug_tokens").as("n_pieces"))
        .orderBy(col("word"))
    },

    // ---- SentencePiece BYTE FALLBACK (r17): the boundary vocab plus
    // the full <0x00>..<0xFF> byte table (Llama-family artifacts) —
    // words carry OOV characters (ä/é/€, 2- and 3-byte UTF-8) that no
    // piece covers, and the Viterbi decomposes each into its UTF-8
    // byte pieces at the table's scores instead of scoring unk. The
    // oracle enumerates EVERY segmentation (recursive CTE) over a
    // unified edge table — pieces plus per-OOV-char byte edges whose
    // decomposition it derives itself from hex(encode(c)) — and
    // replays the kernel's exact tie-break.
    "q_tokenizer_bytefallback" -> { (s, dir) =>
      GraftSession.configure(s)
      val tmp = java.nio.file.Files.createTempDirectory("graft-ugbf").toString
      graft.sources.io.ByteStore.writeString(s"$tmp/bf.vocab",
        (boundaryVocab ++ byteFallbackRows)
          .map { case (p, sc) => s"$p\t$sc" }.mkString("\n") + "\n")
      val art = graft.operators.Unigram.readVocab(s"$tmp/bf.vocab",
        preserveMarkers = true)
      require(art.byteScores.isDefined, "byte table did not load")
      val words = Tables.load(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("w0"))
        .filter(col("w0").rlike("^[a-z]{3,8}$"))
        .distinct().orderBy(col("w0")).limit(300)
        .select(translate(col("w0"), "aeu", "äé€").as("w"))
      graft.operators.Unigram.encode(words, "w", "w", art.pieces,
          unk = -10L * 1000000L, lower = false, boundary = true,
          byteScores = art.byteScores)
        .select(col("doc_id").as("word"), col("ug_text"),
          col("n_ug_tokens").as("n_pieces"))
        .orderBy(col("word"))
    },

    // ---- WordPiece pair ranking (Wu et al. 2016): the likelihood-gain
    // criterion count(l,r)/(count(l)·count(r)) over the distinct-word
    // table — BPE's sibling trainer round, ratio rounded to 9 decimals
    // so both engines rank identical doubles
    "q_wordpiece_rank" -> { (s, dir) =>
      val words = graft.operators.Bpe.wordTable(
        Tables.load(s, dir, "documents"), "text")
      graft.operators.Wordpiece.pairScores(words)
        .select(col("l_sym"), col("r_sym"), col("pair_count"), col("score"))
        .orderBy(col("score").desc, col("l_sym"), col("r_sym"))
        .limit(20)
    },

    // ---- WordPiece greedy longest-match encode against a fixed piece
    // vocab — the inference half; the oracle replays the identical
    // longest-match walk as a recursive CTE over the distinct words
    "q_wordpiece_encode" -> { (s, dir) =>
      graft.operators.Wordpiece.encode(
          Tables.load(s, dir, "documents"), "text", "doc_id",
          vocab = Seq("the", "and", "ing", "er", "th", "in", "an",
            "re", "he", "at"))
        .select(col("doc_id"), col("n_wp_tokens"),
          md5(col("wp_text").cast("binary")).as("wp_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- WordPiece through CURATE to trainer sequences: tokenize
    // (algo=wordpiece, greedy longest-match ids over chars+pieces)
    // then pack — the second tokenizer family reaching the terminal
    // trainer-feed stage; the oracle chains the recursive segmentation
    // walk, the vocab id map, and the shared pack CTEs
    "q_curate_wordpiece" -> { (s, dir) =>
      graft.dsl.CuratePipeline.compile(
          Tables.load(s, dir, "documents"),
          """{"stages": [
            {"op": "tokenize", "algo": "wordpiece",
             "pieces": ["the", "and", "ing", "er", "th", "in", "an",
                        "re", "he", "at"]},
            {"op": "pack", "seq_len": 64}]}""")
        .select(col("seq_id"), col("n_tokens"),
          md5(array_join(transform(col("input_ids"), i => i.cast("string")),
            " ").cast("binary")).as("ids_md5"))
        .orderBy(col("seq_id"))
    },

    // ---- Unigram-LM seed candidates (Kudo 2018 §3): every substring
    // of the distinct words up to length 3, scored by corpus occurrence
    // count — pure integers, the trainer's seed-vocabulary round
    "q_unigram_seed" -> { (s, dir) =>
      graft.operators.Unigram.seedCandidates(
          Tables.load(s, dir, "documents"), "text", maxPieceLen = 3)
        .orderBy(col("cnt").desc, col("piece")).limit(30)
    },

    // ---- Unigram-LM Viterbi encode against a fixed integer-weighted
    // vocab — max-total-weight segmentation, ties toward the longer
    // last piece; the oracle ENUMERATES every segmentation per distinct
    // word (recursive CTE) and picks the same argmax, so the DP itself
    // is cross-checked, not replayed. The vocab plants a deliberate
    // tie: "table"(−10) vs t(−4)+ab(−2)+le(−4) — the tie-break rule is
    // inside the gate, not just the spec
    "q_unigram_encode" -> { (s, dir) =>
      graft.operators.Unigram.encode(
          Tables.load(s, dir, "documents"), "text", "doc_id",
          vocab = Seq("table" -> -10L, "the" -> -5L, "he" -> -4L,
            "ta" -> -4L, "ab" -> -2L, "le" -> -4L, "win" -> -6L,
            "dow" -> -6L, "in" -> -4L, "a" -> -3L, "e" -> -3L,
            "t" -> -4L, "s" -> -4L), unk = -9L)
        .select(col("doc_id"), col("n_ug_tokens"),
          md5(col("ug_text").cast("binary")).as("ug_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- Unigram through CURATE to trainer sequences: tokenize
    // (algo=unigram, Viterbi ids over chars+pieces) then pack — the
    // THIRD tokenizer family reaching the terminal trainer-feed stage;
    // the oracle chains the segmentation enumeration, the vocab id
    // map, and the shared pack CTEs
    "q_curate_unigram" -> { (s, dir) =>
      graft.dsl.CuratePipeline.compile(
          Tables.load(s, dir, "documents"),
          """{"stages": [
            {"op": "tokenize", "algo": "unigram", "unk": -9,
             "pieces": [["table", -10], ["the", -5], ["he", -4],
                        ["ta", -4], ["ab", -2], ["le", -4], ["win", -6],
                        ["dow", -6], ["in", -4], ["a", -3], ["e", -3],
                        ["t", -4], ["s", -4]]},
            {"op": "pack", "seq_len": 64}]}""")
        .select(col("seq_id"), col("n_tokens"),
          md5(array_join(transform(col("input_ids"), i => i.cast("string")),
            " ").cast("binary")).as("ids_md5"))
        .orderBy(col("seq_id"))
    },

    // ---- CURATE tokenize algo byte_bpe chained to the shared pack
    // CTEs: the GPT-2 family as a pipeline stage — the closed
    // vocabulary needs no corpus pass, so the stage issues no job
    // beyond the encode projection itself
    "q_curate_bytebpe" -> { (s, dir) =>
      graft.dsl.CuratePipeline.compile(
          Tables.load(s, dir, "documents").select(col("doc_id"),
            regexp_replace(trim(translate(col("text"), "ae", "äé")),
              "\\s+", " ").as("text")),
          """{"stages": [
            {"op": "tokenize", "algo": "byte_bpe",
             "merges": [["Ã","¤"], ["Ã","©"], ["Ġ","t"], ["Ġt","h"], ["t","h"]]},
            {"op": "pack", "seq_len": 64}]}""")
        .select(col("seq_id"), col("n_tokens"),
          md5(array_join(transform(col("input_ids"), i => i.cast("string")),
            " ").cast("binary")).as("ids_md5"))
        .orderBy(col("seq_id"))
    },

    // ---- C4 line+document cleaning (Raffel et al. 2020 §2.2): the
    // public rules, byte-replayable — terminal punctuation, ≥3 words,
    // javascript / lorem ipsum / '{' blocklist, ≥5-sentence doc gate
    "q_c4_clean" -> { (s, dir) =>
      graft.operators.TextOps.c4Clean(
        Tables.load(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("clean_md5"),
          col("n_lines_kept"), col("n_lines_dropped"), col("doc_pass"))
        .orderBy(col("doc_id"))
    },

    // ---- Gopher quality battery (Rae et al. 2021 App. A): per-rule
    // verdicts over exact integer counts; minWords lowered to 20 so the
    // synthetic corpus splits on it
    "q_gopher_rules" -> { (s, dir) =>
      graft.operators.TextOps.gopherRules(
        Tables.load(s, dir, "documents"), "text", "doc_id", minWords = 20)
        .orderBy(col("doc_id"))
    },

    // ---- declarative curation pipeline: the JSON-DSL surface over the
    // training-data operators — five composed stages, one oracle chain.
    // c4_clean precedes normalize because normalization collapses the
    // newlines the line rules read.
    "q_curate_pipeline" -> { (s, dir) =>
      val spec = """{"stages": [
        {"op": "c4_clean", "require_pass": false},
        {"op": "normalize"},
        {"op": "pii_redact"},
        {"op": "dedup_exact"},
        {"op": "cap_per_group", "group": "source", "salt": "cap-v1", "cap": 7}
      ]}"""
      graft.dsl.CuratePipeline.compile(Tables.load(s, dir, "documents"), spec)
        .select(col("doc_id"), col("source"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- per-stage curation report (r10): the same v1 chain audited —
    // one (stage, op, rows_out) row per stage; the oracle counts each
    // stage CTE
    "q_curate_report" -> { (s, dir) =>
      val spec = """{"stages": [
        {"op": "c4_clean", "require_pass": false},
        {"op": "normalize"},
        {"op": "pii_redact"},
        {"op": "dedup_exact"},
        {"op": "cap_per_group", "group": "source", "salt": "cap-v1", "cap": 7}
      ]}"""
      graft.dsl.CuratePipeline.report(
          Tables.load(s, dir, "documents").select("doc_id", "source", "text"), spec)
        .orderBy(col("stage"))
    },

    // ---- curation pipeline v2: the r8 operators as composable DSL
    // stages — paragraph dedup (seeded boilerplate), corpus-relative
    // LM-quality filter, stratified sampling, mixture materialization;
    // the oracle replays the chain as one CTE per stage. Every stage
    // changes the row set (500 → 301 → ~180 → ~190 at sf0.01).
    "q_curate_pipeline_v2" -> { (s, dir) =>
      val boiler = array(
        lit("Subscribe to our newsletter for updates."),
        lit("All rights reserved."),
        lit("Click here to read more."),
        lit("Share this article on social media."))
      val seeded = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), concat(
          col("text"), lit("\n\n"),
          element_at(boiler, (col("doc_id") % 4 + 1).cast("int")),
          when(col("doc_id") % 6 === 0,
            lit("\n\nCookie policy: this site uses cookies.")).otherwise(lit("")))
          .as("text"))
      val spec = """{"stages": [
        {"op": "dedup_paragraphs"},
        {"op": "lm_quality_filter", "max_score": 3.404},
        {"op": "stratified_sample", "strata": "lang", "salt": "strat-v2",
         "rates": {"en": 0.7, "zh": 0.9}, "default_rate": 0.4},
        {"op": "mixture", "group": "source", "salt": "mix-v2",
         "weights": {"src0": 2.5, "src1": 0.5}, "default_weight": 1.0}
      ]}"""
      graft.dsl.CuratePipeline.compile(seeded, spec)
        .select(col("doc_id"), col("lang"), col("source"), col("epoch"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy(col("doc_id"), col("epoch"))
    },

    // ---- curation pipeline v3: the MODEL-BASED stages chained — a
    // stupid-backoff perplexity band, DSIR target-domain selection
    // (both corpus-relative: each model trains on what the previous
    // stage kept), then exact dedup. Oracle = three prefixed LM CTE
    // chains feeding stage-by-stage CTEs.
    "q_curate_pipeline_v3" -> { (s, dir) =>
      val spec = """{"stages": [
        {"op": "perplexity_filter", "max_ppl": 30.5},
        {"op": "dsir_filter", "target_where": "lang = 'en'", "min_weight": -0.01},
        {"op": "dedup_exact"}
      ]}"""
      graft.dsl.CuratePipeline.compile(Tables.load(s, dir, "documents"), spec)
        .select(col("doc_id"), col("lang"), col("source"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- curation pipeline v4: the TRAINER-FEED tail — a filter
    // stage (per-source cap by the md5 bit contract) feeding
    // `tokenize` (BPE ids against a fixed merge table; the id
    // vocabulary is corpus-relative, ranked over what the cap kept)
    // and the terminal `pack` with SHARD-LOCAL packing (`shard:
    // source` — the 100 TB path: each shard packs in parallel with
    // shard-local sequence ids, no global window). Oracle = cap CTE →
    // the shared BPE-replay CTEs over the capped set → the packing
    // window replay PARTITIONED BY source.
    "q_curate_pipeline_v4" -> { (s, dir) =>
      val spec = """{"stages": [
        {"op": "cap_per_group", "group": "source", "salt": "cap-v1", "cap": 7},
        {"op": "tokenize", "merges": [["e","r"],["t","h"],["th","e"],
                                      ["i","n"],["a","n"],["an","d"]]},
        {"op": "pack", "seq_len": 64, "shard": "source"}
      ]}"""
      graft.dsl.CuratePipeline.compile(
          Tables.load(s, dir, "documents").select("doc_id", "source", "text"), spec)
        .select(col("source"), col("seq_id"), col("n_tokens"),
          md5(array_join(transform(col("input_ids"), i => i.cast("string")), " ")
            .cast("binary")).as("ids_md5"))
        .orderBy(col("source"), col("seq_id"))
    },

    // ---- curation pipeline v5 (r10): the classifier gate — NB
    // trained on the corpus's own lang labels keeps rows PREDICTED
    // 'en' (the GPT-3-style model-based quality filter shape), then
    // exact dedup over the survivors. Oracle = the shared NB CTE
    // chain + prediction filter + fingerprint dedup.
    "q_curate_pipeline_v5" -> { (s, dir) =>
      val spec = """{"stages": [
        {"op": "nb_class_filter", "label_col": "lang", "keep": ["en"]},
        {"op": "dedup_exact"}
      ]}"""
      graft.dsl.CuratePipeline.compile(Tables.load(s, dir, "documents"), spec)
        .select(col("doc_id"), col("lang"), col("source"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- FineWeb-style end-to-end recipe (r11): the full production
    // curation shape as ONE pipeline — line cleanup → normalize →
    // gopher battery → repetition gate → exact dedup → minhash
    // near-dup clusters → benchmark decontamination → NB class gate →
    // token-budget subset → BPE tokenize → shard-local pack. Eleven
    // stages, each replayed as its own oracle CTE. Seeds: every doc
    // gains sentence structure (the synthetic corpus has no terminal
    // punctuation, so c4's line rules would otherwise empty it), a
    // non-sentence boilerplate line c4 must drop, doc_id%13 exact
    // dupes, doc_id%17 near-dupes (one revision token differs), and
    // doc_id%97 plays the held-out benchmark split.
    "q_curate_fineweb" -> { (s, dir) =>
      graft.dsl.CuratePipeline.compile(fineWebSeed(s, dir), fineWebSpec)
        .select(col("source"), col("seq_id"), col("n_tokens"),
          md5(array_join(transform(col("input_ids"), i => i.cast("string")), " ")
            .cast("binary")).as("ids_md5"))
        .orderBy(col("source"), col("seq_id"))
    },

    // ---- ...and the same recipe audited: one (stage, op, rows_out)
    // row per stage — the curation run's survival funnel
    "q_curate_fineweb_report" -> { (s, dir) =>
      graft.dsl.CuratePipeline.report(fineWebSeed(s, dir), fineWebSpec)
        .orderBy(col("stage"))
    },

    // ---- SemDeDup as a CURATE stage (r11): the embedding-aware
    // dedup reachable from the pipeline DSL — k-means cells bound the
    // pairwise work, a row drops iff a lower-id cell-mate sits at
    // cosine ≥ tau; the stage keeps survivors only (vs q_semdedup's
    // full is_kept report)
    "q_curate_semdedup" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings").filter(col("vec_id") < 2500)
      val spec = """{"stages": [
        {"op": "semdedup", "vec_col": "embedding", "k": 4, "iters": 5,
         "tau": 0.5, "round_cos": 6}
      ]}"""
      graft.dsl.CuratePipeline.compile(emb, spec, textCol = "embedding",
          idCol = "vec_id")
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    },

    // ---- hash near-dup as a CURATE stage (r11): how the multimodal
    // near-dup paths reach CURATE TABLE — a decode/hash stage
    // upstream materializes a 64-bit perceptual hash; this stage
    // drops banded-Hamming cluster non-keepers. Same seeded corpus
    // as q_image_neardup (md5-surrogate hashes, XOR near-dups, exact
    // copies), so the replay contract carries over.
    "q_curate_hash_neardup" -> { (s, dir) =>
      val media = Multimodal.syntheticMediaTable(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      val hashes = Multimodal.imageHashes(media, "payload", Multimodal.FakeCodec)
        .select(col("media_id"), col("image_hash"))
      val seeded = hashes
        .unionByName(hashes.filter(col("media_id") % 5 === 0)
          .select((col("media_id") + 1000000L).as("media_id"),
            col("image_hash").bitwiseXOR(lit(0x40002L)).as("image_hash")))
        .unionByName(hashes.filter(col("media_id") % 7 === 0)
          .select((col("media_id") + 2000000L).as("media_id"),
            col("image_hash")))
      val spec = """{"stages": [
        {"op": "hash_neardup", "hash_col": "image_hash", "max_dist": 3}
      ]}"""
      graft.dsl.CuratePipeline.compile(seeded, spec, textCol = "image_hash",
          idCol = "media_id")
        .select(col("media_id"), col("image_hash"))
        .orderBy(col("media_id"))
    },

    // ---- HTML main-content extraction (r12): the crawl-archive →
    // text step — tag strip + jusText-style block heuristic over an
    // adversarial wrap (script with a bare '<', comment hiding a fake
    // <p>, link-dense nav, entity-bearing no-stopword footer). The
    // oracle rebuilds the identical HTML bytes and replays the
    // extraction block by block.
    "q_html_extract" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.htmlExtractText(docHtml(col("doc_id"), col("text"))).as("t"))
        .select(col("doc_id"),
          md5(col("t").cast("binary")).as("text_md5"),
          length(col("t")).cast(LongType).as("n_chars"),
          size(split(col("t"), "\n", -1)).cast(LongType).as("n_lines"))
        .orderBy(col("doc_id"))
    },

    // ---- URL canonicalization (r12): the crawl-frontier step between
    // a WARC scan's target_uri and html_extract — fragment strip,
    // scheme/host lowercase, default-port strip, tracking-param
    // removal, bare-/ drop. Adversarial seeds cover every rule plus a
    // non-default port and a schemeless URL; the oracle replays the
    // identical byte transforms.
    "q_url_normalize" -> { (s, dir) =>
      // norm2/host2 pin the r12 security rules against a CLOSED-FORM
      // expectation: userinfo drops (user@host must not bypass host
      // blocklists), dot segments collapse (/a/b/../c/./d/../../e-N
      // → /a/e-N — /p and /x/../p must dedup to one string)
      val d = col("doc_id").cast("string")
      val k = (col("doc_id") % 3).cast("string")
      val hardened = concat(lit("HTTP://user:pw@Host"), k,
        lit(".Example.com:80/a/b/../c/./d/../../e-"), d, lit("?utm_x=1&k=2"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), docUrl(col("doc_id")).as("url"),
          hardened.as("url2"))
        .select(col("doc_id"),
          TextOps.urlNormalize(col("url")).as("url_norm"),
          TextOps.urlHost(col("url")).as("host"),
          TextOps.urlScheme(col("url")).as("scheme"),
          TextOps.urlNormalize(col("url2")).as("norm2"),
          TextOps.urlHost(col("url2")).as("host2"))
        .orderBy(col("doc_id"))
    },

    // ---- SURT keys (r12): the sort/join key crawl indexes use —
    // reversed host labels, www-strip, non-default port kept, )/tail.
    // `surt` exercises the Column API, `surt_sql` the SQL registration
    // (whose template resolves a NESTED url_normalize call at analysis
    // fixpoint); both must answer the same closed form. `surt_bare`
    // pins the empty-tail `)/ ` rule.
    "q_url_surt" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), docUrl(col("doc_id")).as("url"))
        .select(col("doc_id"),
          TextOps.urlSurt(col("url")).as("surt"),
          expr("url_surt(url)").as("surt_sql"),
          TextOps.urlSurt(
            concat(lit("https://Bare.Example.org#sec-"),
              col("doc_id").cast("string"))).as("surt_bare"))
        .orderBy(col("doc_id"))
    },

    // ---- link graph (r12): outlink extraction resolved against the
    // page URL, then a host-level PageRank — the crawl-frontier
    // quality-weighting step. q_html_links pins every resolution class
    // against a CLOSED-FORM oracle (independent derivation from
    // doc_id, not a replay); q_host_rank runs hostEdges → 5 power
    // iterations against the same unrolled rounds in SQL.
    "q_html_links" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), linkBase(col("doc_id")).as("url"),
          linkHtml(col("doc_id")).as("html"))
        .select(col("doc_id"),
          posexplode(TextOps.htmlLinks(col("html"), col("url"))))
        .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
          col("col").as("link"))
        .orderBy("doc_id", "pos")
    },

    // ---- page metadata (r12): title / named meta (both attribute
    // orders and quote styles) / html-lang / sitemap loc extraction,
    // all against a CLOSED-FORM oracle. The title rides on the shared
    // docHtml wrap; the head fixture carries a reversed-order
    // single-quoted keywords meta and an entity-bearing description.
    "q_html_meta" -> { (s, dir) =>
      val d = col("doc_id").cast("string")
      val metaHtml = concat(
        lit("<!DOCTYPE html><html LANG=\"EN-us\"><head><meta charset=\"utf-8\">" +
          "<meta name=\"description\" content=\"Doc "), d,
        lit(" &amp; friends\"><meta content='kw-"), d,
        lit(",misc' name='keywords'></head><body></body></html>"))
      val sitemapXml = concat(
        lit("<?xml version=\"1.0\"?><urlset><url><loc> http://s.example/p/"), d,
        lit("?a=1&amp;b=2 </loc></url><url><loc>http://s.example/q/"), d,
        lit("</loc></url></urlset>"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.htmlTitle(docHtml(col("doc_id"), col("text"))).as("title"),
          TextOps.htmlMeta(metaHtml, "description").as("meta_desc"),
          TextOps.htmlMeta(metaHtml, "keywords").as("meta_kw"),
          TextOps.htmlMeta(metaHtml, "robots").as("meta_absent"),
          TextOps.htmlLang(metaHtml).as("lang"),
          array_join(TextOps.sitemapUrls(sitemapXml), "|").as("sitemap_urls"))
        .orderBy("doc_id")
    },

    "q_host_rank" -> { (s, dir) =>
      val pages = Tables.load(s, dir, "documents").select(
        concat(lit("http://h"), (col("doc_id") % 7).cast("string"),
          lit(".example/p/"), col("doc_id").cast("string")).as("url"),
        concat(
          lit("<a href=\"http://h"), ((col("doc_id") * 2 + 1) % 7).cast("string"),
          lit(".example/x\">a</a>"),
          lit("<a href=\"http://h"), ((col("doc_id") * 3 + 2) % 7).cast("string"),
          lit(".example/y\">b</a>"),
          lit("<a href='//h"), (col("doc_id") % 3).cast("string"),
          lit(".example/z'>c</a>"),
          lit("<a href=\"/self\">self</a>")).as("html"))
      val edges = graft.operators.LinkGraph.hostEdges(pages, "url", "html")
      graft.operators.LinkGraph.pageRank(edges, "src_host", "dst_host",
          iterations = 5)
        .orderBy("node")
    },

    // ---- link-graph triangles: per-host triangle counts + local
    // clustering coefficient over a 23-host sparse fixture (12
    // triangles, varied counts) via degree-ordered wedge orientation —
    // the communityness signal next to PageRank's centrality
    "q_link_triangles" -> { (s, dir) =>
      val pages = Tables.load(s, dir, "documents").select(
        concat(lit("http://g"), (col("doc_id") % 23).cast("string"),
          lit(".example/p/"), col("doc_id").cast("string")).as("url"),
        concat(
          lit("<a href=\"http://g"), ((col("doc_id") * 5 + 1) % 23).cast("string"),
          lit(".example/x\">a</a>"),
          lit("<a href=\"http://g"), ((col("doc_id") * 11 + 3) % 23).cast("string"),
          lit(".example/y\">b</a>"),
          lit("<a href=\"http://g"), ((col("doc_id") * 2 + 7) % 23).cast("string"),
          lit(".example/z\">c</a>")).as("html"))
      val edges = graft.operators.LinkGraph.hostEdges(pages, "url", "html")
      graft.operators.LinkGraph.triangles(edges, "src_host", "dst_host")
        .orderBy("node")
    },

    // ---- link-graph-budgeted frontier (r12): PageRank drives the
    // crawl BUDGET — only the top-3 hosts by rank keep their URLs,
    // then politeness scheduling assigns slots/waves. The oracle
    // replays the 5 power iterations, the host cut and the schedule
    // window in one chain.
    "q_frontier_budget" -> { (s, dir) =>
      val pages = Tables.load(s, dir, "documents").select(
        concat(lit("http://h"), (col("doc_id") % 7).cast("string"),
          lit(".example/p/"), col("doc_id").cast("string")).as("url"),
        concat(
          lit("<a href=\"http://h"), ((col("doc_id") * 2 + 1) % 7).cast("string"),
          lit(".example/x\">a</a>"),
          lit("<a href=\"http://h"), ((col("doc_id") * 3 + 2) % 7).cast("string"),
          lit(".example/y\">b</a>"),
          lit("<a href='//h"), (col("doc_id") % 3).cast("string"),
          lit(".example/z'>c</a>"),
          lit("<a href=\"/self\">self</a>")).as("html"))
      val edges = graft.operators.LinkGraph.hostEdges(pages, "url", "html")
      val ranks = graft.operators.LinkGraph.pageRank(edges,
        "src_host", "dst_host", iterations = 5)
      // top-3 hosts WITHOUT a global window (r17): orderBy().limit(k)
      // plans as TakeOrderedAndProject — per-partition top-k merged on
      // the driver — where the row_number window this replaced would
      // single-partition-sort the whole host table at web scale
      val topHosts = ranks
        .orderBy(col("rank").desc, col("node"))
        .limit(3)
        .select(col("node").as("host"), col("rank"))
      val frontier = pages.select(col("url"),
        TextOps.urlHost(col("url")).as("host"))
      graft.operators.Frontier.schedule(
          frontier.join(broadcast(topHosts), Seq("host")),
          "url", perWave = 5, fetchers = 4)
        .select(col("url"), col("host"), col("rank"),
          col("fetch_slot"), col("fetch_wave"))
        .orderBy("url")
    },

    // ---- robots politeness (r12): RFC 9309 group selection + rule
    // matching over a per-host robots table left-joined into the
    // frontier. Bodies cover longest-match allow-over-disallow, a
    // crawler-specific deny-all group shadowing a permissive star
    // group, a wildcard+anchor rule, a group for a DIFFERENT crawler
    // (inert), and a missing-robots host. The oracle states expected
    // fetchability CLOSED-FORM per doc_id — independent of the parser.
    "q_robots_frontier" -> { (s, dir) =>
      import s.implicits._
      val path = {
        val d = col("doc_id").cast("string")
        when(col("doc_id") % 4 === 0, concat(lit("/private/pub-"), d))
          .when(col("doc_id") % 4 === 1, concat(lit("/private/sec-"), d))
          .when(col("doc_id") % 4 === 2, concat(lit("/doc-"), d, lit(".pdf")))
          .otherwise(concat(lit("/page-"), d))
      }
      val frontier = Tables.load(s, dir, "documents").select(
        col("doc_id"),
        concat(lit("http://h"), (col("doc_id") % 5).cast("string"),
          lit(".example"), path).as("url"))
      val robots = Seq(
        ("h1.example", "User-agent: *\nDisallow: /private/\nAllow: /private/pub"),
        ("h2.example", "User-agent: graftbot\nDisallow: /\nUser-agent: *\nAllow: /"),
        ("h3.example", "User-agent: *\nDisallow: /*.pdf$"),
        ("h4.example", "User-agent: other\nDisallow: /"))
        .toDF("host", "body")
      graft.operators.Robots.filterFrontier(frontier, "url",
          robots, "host", "body", agent = "graftbot")
        .orderBy("doc_id")
    },

    // ---- crawl frontier round (r12 capstone): ONE full crawler
    // iteration chaining the whole frontier stack — outlink extraction
    // (mailto: drops), url normalization (tracking params collapse),
    // url_filter (ad-host drops), robots politeness (/private/ drops),
    // frontier dedup, and an anti-join against the visited set. The
    // oracle restates the surviving frontier closed-form from doc_id
    // arithmetic — it never parses HTML or robots bodies.
    "q_crawl_frontier_round" -> { (s, dir) =>
      import s.implicits._
      val pages = frontierPages(Tables.load(s, dir, "documents"))
      val robots = Seq("h0.example", "h1.example", "h2.example", "h3.example")
        .map((_, "User-agent: *\nDisallow: /private/")).toDF("host", "body")
      val visited = pages.select(TextOps.urlNormalize(col("url")).as("url"))
      val links = pages
        .select(explode(TextOps.htmlLinks(col("html"), col("url"))).as("raw"))
        .select(TextOps.urlNormalize(col("raw")).as("url"))
        .filter(TextOps.urlPass(col("url"), blockHosts = Seq("ads.example")))
      graft.operators.Robots
        .filterFrontier(links, "url", robots, "host", "body", agent = "graftbot")
        .distinct()
        .join(visited, Seq("url"), "left_anti")
        .orderBy("url")
    },

    // ---- STREAMING crawl frontier (r12): the same fixture, robots
    // bodies and visited set as q_crawl_frontier_round, but the pages
    // ARRIVE as a 2-files-per-trigger stream: outlinks extract
    // in-stream, robots politeness is a stream-static join, the seen
    // set is keyed dedup state living ACROSS micro-batches, and the
    // visited drop is a stream-static anti-join. The emitted URL set
    // is trigger-split invariant, so the BATCH capstone's closed-form
    // oracle replays it row for row.
    "q_stream_frontier" -> { (s, dir) =>
      GraftSession.configure(s)
      import s.implicits._
      val staged = stageDocsOnce(s, dir)
      val docSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val stream = s.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 2).parquet(staged)
      val robots = Seq("h0.example", "h1.example", "h2.example", "h3.example")
        .map((_, "User-agent: *\nDisallow: /private/")).toDF("host", "body")
      val visited = frontierPages(Tables.load(s, dir, "documents"))
        .select(TextOps.urlNormalize(col("url")).as("url"))
      val frontier = graft.streaming.EventStreams.streamingFrontier(
        frontierPages(stream), "url", "html", robots, visited,
        blockHosts = Seq("ads.example"), agent = "graftbot")
      val qn = "stream_frontier_gate"
      val q = graft.streaming.EventStreams.runToMemorySized(s, frontier, qn,
        mode = org.apache.spark.sql.streaming.OutputMode.Append())
      q.stop()
      s.table(qn).orderBy("url")
    },

    // ---- crawl-delay (r12): the de-facto pacing directive, resolved
    // through the SAME group selection as the allow/deny decisions —
    // named group beats star, pre-group delays are ignored, foreign
    // groups answer null. Closed-form oracle.
    "q_robots_delay" -> { (s, dir) =>
      val k = col("doc_id") % 4
      val body = when(k === 0, "User-agent: *\nDisallow: /x")
        .when(k === 1, "User-agent: graftbot\nCrawl-delay: 2.5\n" +
          "Disallow: /x\nUser-agent: *\nCrawl-delay: 10\nDisallow: /")
        .when(k === 2, "Crawl-delay: 9\nUser-agent: *\n" +
          "Crawl-delay: 7\nDisallow: /x")
        .otherwise("User-agent: other\nCrawl-delay: 3\nDisallow: /")
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.Robots.crawlDelay(body, lit("graftbot"))
            .as("delay"))
        .orderBy("doc_id")
    },

    // ---- robots Sitemap: surfacing (r14): the out-of-band frontier
    // bootstrap — Sitemap is a NON-GROUP record (RFC 9309 §2.4), so
    // every directive surfaces whatever group it sits in; duplicates
    // keep their first position, comments strip, the key is
    // case-insensitive, URL values keep their own colons. Closed-form
    // oracle (never parses a robots body).
    "q_robots_sitemaps" -> { (s, dir) =>
      val d = col("doc_id").cast("string")
      val k = col("doc_id") % 4
      val body = when(k === 0, concat(
          lit("Sitemap: http://h0.example/sm-"), d, lit(".xml\n"),
          lit("User-agent: *\nDisallow: /x\n"),
          lit("sitemap: http://h0.example/sm-"), d, lit(".xml\n"),
          lit("SiteMap: http://h0.example/extra.xml")))
        .when(k === 1, lit("User-agent: *\nDisallow: /private/"))
        .when(k === 2, concat(
          lit("User-agent: *\nSitemap: http://h2.example/a-"), d,
          lit(".xml # main\nDisallow: /")))
        .otherwise(lit("Sitemap:\nSitemap: http://h3.example/s.xml"))
      val robots = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("h"), k.cast("string"), lit(".example")).as("host"),
          body.as("body"))
      graft.operators.Robots.sitemapSeeds(robots, "host", "body")
        .orderBy(col("doc_id"), col("order"))
    },

    // ---- frontier scheduling (r12): the step after politeness —
    // fetch_slot (md5 host bucket: one host → one fetcher, stable
    // across runs) and fetch_wave (≤ perWave URLs per host per round,
    // priority first). The oracle replays the rank window and the md5
    // bucket contract verbatim.
    "q_frontier_schedule" -> { (s, dir) =>
      val d = col("doc_id")
      val urls = Tables.load(s, dir, "documents").select(
        d,
        concat(lit("http://h"), (d % 5).cast("string"),
          lit(".crawl.example/p/"), d.cast("string")).as("url"),
        (d % 3).cast("int").as("priority"))
      graft.operators.Frontier.schedule(urls, "url", perWave = 7,
          fetchers = 4, priorityCol = Some("priority"))
        .select(d, col("url"), col("host"),
          col("fetch_slot"), col("fetch_wave"))
        .orderBy("doc_id")
    },

    // ---- sitemap-seeded frontier (r12): sitemap <loc> extraction as
    // the seed source, chained through normalize → scheme/host gate →
    // robots politeness → frontier dedup. Survivors restated
    // closed-form (the oracle never parses XML or robots bodies).
    "q_sitemap_frontier" -> { (s, dir) =>
      import s.implicits._
      val d = col("doc_id").cast("string")
      val k = (col("doc_id") % 3).cast("string")
      val sitemaps = Tables.load(s, dir, "documents").select(
        concat(
          lit("<?xml version=\"1.0\"?><urlset><url><loc>http://S"), k,
          lit(".example/page/"), d, lit("?utm_source=x</loc></url>"),
          lit("<url><loc>\n  http://s"), k, lit(".example/private/"),
          (col("doc_id") % 5).cast("string"), lit(" </loc></url>"),
          lit("<url><loc>http://s"), k, lit(".example/page/"),
          (col("doc_id") % 100).cast("string"),
          lit("</loc></url></urlset>")).as("xml"))
      val robots = Seq("s0.example", "s1.example", "s2.example")
        .map((_, "User-agent: *\nDisallow: /private/")).toDF("host", "body")
      val seeds = sitemaps
        .select(explode(TextOps.sitemapUrls(col("xml"))).as("raw"))
        .select(TextOps.urlNormalize(col("raw")).as("url"))
        .filter(TextOps.urlPass(col("url")))
      graft.operators.Robots
        .filterFrontier(seeds, "url", robots, "host", "body", agent = "graftbot")
        .distinct()
        .orderBy("url")
    },

    // ---- CURATE frontier chain (r12): url_filter (normalize +
    // ad-host drop) into frontier_schedule — hygiene and politeness
    // scheduling as TWO PIPELINE STAGES. Oracle replays the surviving
    // hosts closed-form + the rank window + md5 bucket contract.
    "q_curate_frontier" -> { (s, dir) =>
      val d = col("doc_id")
      val urls = Tables.load(s, dir, "documents").select(
        d,
        concat(lit("http://H"), (d % 5).cast("string"),
          lit(".Example.net/p/"), d.cast("string"),
          lit("?utm_m=x")).as("url"),
        (d % 3).cast("int").as("prio"))
      graft.dsl.CuratePipeline.compile(urls, """{"stages": [
          {"op": "url_filter", "block_hosts": ["h4.example.net"]},
          {"op": "frontier_schedule", "per_wave": 3, "fetchers": 4,
           "priority_col": "prio"}]}""", idCol = "doc_id")
        .select(d, col("url"), col("host"),
          col("fetch_slot"), col("fetch_wave"))
        .orderBy("doc_id")
    },

    // ---- CURATE perceptron gate (r12): label HALF the corpus (even
    // doc_ids), train the all-integer perceptron inside the pipeline,
    // keep predicted-positive rows — the label-a-slice,
    // filter-the-corpus shape, gradient flavor. Same unrolled-round
    // oracle as q_perceptron_quality, filtered by the learned sign.
    "q_curate_perceptron" -> { (s, dir) =>
      val t = col("text")
      def cnt(sub: String): Column =
        (length(t) - length(replace(t, lit(sub), lit("")))).cast(LongType)
      val feats = Tables.load(s, dir, "documents").select(
        col("doc_id"), col("text"),
        cnt(".").as("f3"), cnt(" the ").as("f4"),
        when(col("doc_id") % 2 === 0, cnt(" the ") >= 10).as("qlabel"))
        .persist()
      graft.dsl.CuratePipeline.compile(feats, """{"stages": [
          {"op": "perceptron_filter", "label_col": "qlabel",
           "feature_cols": ["f3", "f4"], "iters": 20}]}""")
        .select("doc_id").orderBy("doc_id")
    },

    // ---- frontier curation (r12): url_filter (normalize + scheme
    // gate + host blocklist incl. subdomains + badword-in-URL regex)
    // chained into dedup_exact OVER THE URL COLUMN — frontier dedup as
    // one two-stage CURATE pipeline. Tracking-decorated +1M variants
    // normalize onto their originals and dedup away; the all-identical
    // %8=7 cluster keeps exactly its min doc_id.
    "q_curate_url_filter" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      val d = col("doc_id").cast("string")
      val base = when(col("doc_id") % 8 === 0,
          concat(lit("https://ads.example.com/banner/"), d))
        .when(col("doc_id") % 8 === 1,
          concat(lit("https://Track.ads.example.com/pix/"), d))
        .when(col("doc_id") % 8 === 2,
          concat(lit("http://games.example.com/casino/page-"), d))
        .when(col("doc_id") % 8 === 3,
          concat(lit("ftp://archive.example.io/data/"), d))
        .when(col("doc_id") % 8 === 4,
          concat(lit("HTTP://Shop.Example.COM:80/item/"), d,
            lit("?utm_source=x&ref="), d, lit("#top")))
        .when(col("doc_id") % 8 === 5,
          concat(lit("https://news.example.org/story-"), d))
        .when(col("doc_id") % 8 === 6,
          concat(lit("docs.example.net/guide/"), d))
        .otherwise(lit("https://WWW.Example.com:443/"))
      val seed = docs.select(col("doc_id"), base.as("url"))
        .unionByName(docs.filter(col("doc_id") % 8 === 5)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("https://News.example.org:443/story-"), d,
              lit("?utm_campaign=z#frag")).as("url")))
      val spec = """{"stages": [
        {"op": "url_filter", "block_hosts": ["ads.example.com"],
         "block_patterns": ["casino"]},
        {"op": "dedup_exact"}
      ]}"""
      graft.dsl.CuratePipeline.compile(seed, spec, textCol = "url",
          idCol = "doc_id")
        .select(col("doc_id"), col("url"))
        .orderBy(col("doc_id"))
    },

    // ---- FineWeb recipe v2 (r12): the same 11 stages behind an
    // html_extract front door — CURATE TABLE now covers crawl-archive
    // HTML → trainer sequences end-to-end. Twelve stages, all
    // replayed (the extraction as its own CTE chain ahead of v1's).
    "q_curate_fineweb_v2" -> { (s, dir) =>
      graft.dsl.CuratePipeline.compile(fineWebHtmlSeed(s, dir), fineWebSpecV2)
        .select(col("source"), col("seq_id"), col("n_tokens"),
          md5(array_join(transform(col("input_ids"), i => i.cast("string")), " ")
            .cast("binary")).as("ids_md5"))
        .orderBy(col("source"), col("seq_id"))
    },

    // ---- FineWeb recipe v3 (r12): the COMPLETE crawl shape as one
    // run — the seed pages write to a real 2-file WARC archive, read
    // back through the record-offset-split scanner, re-key by crawl id
    // (doc_id parsed from target_uri; lang/source re-attached by a
    // metadata join — the realistic crawl-side pattern), then
    // url_filter (an ad-host shard of the frontier drops whole) →
    // html_extract → the 11-stage chain. The oracle replays from the
    // source parquet minus the blocked %9 shard: the WARC round trip
    // is byte-identical (q_warc_scan pins it), so the remaining
    // pipeline is exactly v2's CTE chain over the filtered seed.
    "q_curate_fineweb_v3" -> { (s, dir) =>
      GraftSession.configure(s)
      val d = col("doc_id").cast("string")
      val uri = when(col("doc_id") % 9 === 0,
          concat(lit("https://ads.example.com/banner/"), d))
        .otherwise(concat(lit("https://Corpus.example.org:443/doc/"), d,
          lit("?utm_source=crawl")))
      val pages = fineWebHtmlSeed(s, dir).select(uri.as("uri"),
        col("text").as("html"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-fw3").toString
      graft.sources.WarcSource.Writer.write(pages, tmp, "uri", "html", files = 2)
      val recs = graft.sources.WarcSource.read(s, Seq(tmp), splitBytes = 64 * 1024)
        .filter(col("warc_type") === "response")
        .select(col("target_uri").as("url"),
          col("body").cast(StringType).as("text"),
          regexp_extract(col("target_uri"), "/([0-9]+)", 1)
            .cast(LongType).as("doc_id"))
      val meta = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          (col("doc_id") % 97 === 0).as("is_bench"))
      graft.dsl.CuratePipeline.compile(recs.join(meta, "doc_id"), fineWebSpecV3)
        .select(col("source"), col("seq_id"), col("n_tokens"),
          md5(array_join(transform(col("input_ids"), i => i.cast("string")), " ")
            .cast("binary")).as("ids_md5"))
        .orderBy(col("source"), col("seq_id"))
    },

    // ---- self-contained semantic dedup (r12): embed_text (signed
    // feature hashing, md5-replayable) chained into semdedup — the
    // semantic-dedup path with NO external vector column. e1 pins the
    // first embedding dim so the vectors themselves are oracle-checked,
    // not just the survivor set.
    "q_curate_embed_semdedup" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
      val spec = """{"stages": [
        {"op": "embed_text", "salt": "emb-v1", "dim": 16},
        {"op": "semdedup", "vec_col": "embedding", "k": 4, "iters": 3,
         "tau": 0.96, "round_cos": 6}
      ]}"""
      graft.dsl.CuratePipeline.compile(docs, spec)
        .select(col("doc_id"), col("lang"),
          round(element_at(col("embedding"), 1).cast(DoubleType), 6).as("e1"))
        .orderBy(col("doc_id"))
    },

    // ---- quantized semantic dedup, DSL end-to-end: embed_text →
    // sign_hash (64 sign bits packed into ONE long, training-free) →
    // hash_neardup over the packed hash. The cheap alternative to the
    // k-means semdedup path; the gate pins survivors AND their hash,
    // so BitSign itself is oracle-checked over the replayed vectors.
    "q_curate_signdedup" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val spec = """{"stages": [
        {"op": "embed_text", "salt": "sign-v1", "dim": 64},
        {"op": "sign_hash", "vec_col": "embedding", "out_col": "sign_hash"},
        {"op": "hash_neardup", "hash_col": "sign_hash", "max_dist": 1}
      ]}"""
      graft.dsl.CuratePipeline.compile(docs, spec)
        .select(col("doc_id"), col("sign_hash"))
        .orderBy(col("doc_id"))
    },

    // ---- RAG-ingest curation (r11): the shape-changing `chunk` stage
    // chained after a quality gate — docs that pass Gopher become
    // sliding-window chunks (64 tokens, 16 overlap), passengers
    // replicate per chunk; row-local, no shuffle
    "q_curate_chunk" -> { (s, dir) =>
      val spec = """{"stages": [
        {"op": "gopher_filter", "min_words": 25},
        {"op": "chunk", "chunk_tokens": 64, "overlap_tokens": 16}
      ]}"""
      graft.dsl.CuratePipeline.compile(
          Tables.load(s, dir, "documents").select("doc_id", "source", "text"), spec)
        .select(col("doc_id"), col("source"), col("chunk_idx"),
          md5(col("text").cast("binary")).as("chunk_md5"),
          col("n_chunk_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // ---- media curation end-to-end (r11): decode→hash→dedup INSIDE
    // one CURATE pipeline — the image_hash stage (surrogate codec for
    // the gate; the real PNG dHash is spec'd) appends the 64-bit hash,
    // hash_neardup drops banded-cluster non-keepers. Exact-copy seeds
    // (%7 payload duplicates) land dist-0 clusters.
    "q_curate_media" -> { (s, dir) =>
      val media = Multimodal.syntheticMediaTable(
          Tables.load(s, dir, "documents"), "doc_id", "text")
        .select(col("media_id"), col("payload"))
      val seeded = media.unionByName(media.filter(col("media_id") % 7 === 0)
        .select((col("media_id") + 2000000L).as("media_id"), col("payload")))
      val spec = """{"stages": [
        {"op": "image_hash", "payload_col": "payload", "codec": "fake"},
        {"op": "hash_neardup", "hash_col": "image_hash", "max_dist": 3}
      ]}"""
      graft.dsl.CuratePipeline.compile(seeded, spec, textCol = "payload",
          idCol = "media_id")
        .select(col("media_id"), col("image_hash"))
        .orderBy(col("media_id"))
    },

    // ---- canonical text normalization: NFC (codegen kernel) +
    // whitespace collapse + control strip + trim over text seeded with
    // combining sequences, tabs, VT and BEL; the oracle replays
    // nfc_normalize + the same explicit-class regexes → md5-compared
    "q_text_normalize" -> { (s, dir) =>
      val seeded = Tables.load(s, dir, "documents").select(col("doc_id"), concat(
        lit("  \tcafé "), col("text"),
        when(col("doc_id") % 2 === 0, lit("\n\nÅ end\u0007"))
          .otherwise(lit(" plain\u000B.")))
        .as("text"))
      val norm = TextOps.normalizeText(col("text"))
      seeded.select(col("doc_id"),
          md5(norm.cast("binary")).as("norm_md5"),
          length(norm).cast("long").as("norm_chars"))
        .orderBy(col("doc_id"))
    },
  )

  /** events staged as a streaming-source directory ONCE per sf dir and
    * process (VERDICT r3 Wrong #4: re-staging every invocation made the
    * gate measure the harness); the Spark _SUCCESS marker gates reuse */
  private def stageEventsOnce(s: SparkSession, dir: String): String =
    stageTableOnce(s, dir, "events", repartition = None)

  /** events restaged as `slices` SEQUENTIAL ts-range files with
    * strictly increasing mtimes, so the file-source stream (which
    * orders files by modification time) replays the event log IN EVENT
    * ORDER across micro-batches — the arrival contract the streaming
    * session state machine assumes (a backfill/replay run; live
    * ingestion gets in-order arrival from the source itself). The
    * plain multi-file stagers don't guarantee this: their parallel
    * write tasks finish in any order. */
  private def stageOrderedEventsOnce(s: SparkSession, dir: String,
      slices: Int = 6): String = {
    val src = new java.io.File(dir, "events.parquet")
    val key = java.lang.Long.toHexString(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$dir:events:tsorder$slices:${src.lastModified}:${src.length}"
          .getBytes("UTF-8"))
        .take(8).foldLeft(0L)((a, b) => (a << 8) | (b & 0xFFL)))
    val staged = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft-stream-stage-$key")
    if (!new java.io.File(staged, "_SUCCESS").exists()) {
      val tmp = new java.io.File(staged.getParentFile,
        s"${staged.getName}.tmp-${java.lang.ProcessHandle.current().pid()}")
      tmp.mkdirs()
      val ev = Tables.load(s, dir, "events")
      // global ts rank → `slices` contiguous ranges; the rank window is
      // single-partition but runs once, on the staging table, at test SF
      // checkpoint: the global rank window would otherwise re-run per slice
      val sliced = ev.withColumn("__rn",
          org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")))
        .localCheckpoint()
      val n = sliced.count()
      (0 until slices).foreach { i =>
        val lo = i * n / slices
        val hi = (i + 1) * n / slices
        val part = new java.io.File(tmp, s"slice$i")
        sliced.filter(col("__rn") > lo && col("__rn") <= hi).drop("__rn")
          .coalesce(1).write.mode("overwrite").parquet(part.toString)
        val f = part.listFiles().find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(tmp, f"part-$i%05d.parquet")
        java.nio.file.Files.move(f.toPath, dst.toPath)
        // mtime IS the stream's file order — make it strictly increasing
        dst.setLastModified(1700000000000L + i * 60000L)
        org.apache.commons.io.FileUtils.deleteDirectory(part)
      }
      new java.io.File(tmp, "_SUCCESS").createNewFile()
      try {
        java.nio.file.Files.move(tmp.toPath, staged.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.AccessDeniedException |
             _: java.nio.file.DirectoryNotEmptyException =>
          org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      }
    }
    staged.toString
  }

  /** documents restaged as a multi-file drop so the file-source stream
    * actually runs several micro-batches (maxFilesPerTrigger splits on
    * file boundaries); every doc_id % 10 == 0 doc re-enters under a
    * shifted id so the streaming dedup's copy-count/keeper contract is
    * actually exercised (the synthetic corpus has no exact dupes). */
  private def stageDocsOnce(s: SparkSession, dir: String): String =
    stageTableOnce(s, dir, "documents", repartition = Some(8),
      variant = "dup10", transform = d => d.unionByName(
        d.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)))

  private def stageTableOnce(s: SparkSession, dir: String, table: String,
      repartition: Option[Int], variant: String = "",
      transform: DataFrame => DataFrame = identity): String = {
    // key = path + source mtime/size: regenerated source data restages,
    // and two sf dirs can't collide on a 32-bit path hash alone
    val src = new java.io.File(dir, s"$table.parquet")
    val key = java.lang.Long.toHexString(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$dir:$table:$variant:${src.lastModified}:${src.length}".getBytes("UTF-8"))
        .take(8).foldLeft(0L)((a, b) => (a << 8) | (b & 0xFFL)))
    val staged = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft-stream-stage-$key")
    if (!new java.io.File(staged, "_SUCCESS").exists()) {
      // write to a process-unique dir and atomically rename into place so
      // two concurrent drivers (Bench + Verify on one sf dir) can't race
      // check-then-write or observe a half-written directory
      val tmp = new java.io.File(staged.getParentFile,
        s"${staged.getName}.tmp-${java.lang.ProcessHandle.current().pid()}")
      val base = transform(Tables.load(s, dir, table))
      repartition.fold(base)(base.repartition(_))
        .write.mode("overwrite").parquet(tmp.toString)
      try {
        java.nio.file.Files.move(tmp.toPath, staged.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.AccessDeniedException |
             _: java.nio.file.DirectoryNotEmptyException =>
          // another process won the race; its complete copy serves everyone
          org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      }
    }
    staged.toString
  }

  // ---------------------------------------------------------------- oracles

  private val stop12 = "['the','a','an','and','or','of','to','in','is','on','for','with']"

  /** shared CTE text: tokens + shingles over documents */
  private val tokCte =
    raw"""toks AS (
      SELECT doc_id, lang, text,
             list_filter(string_split_regex(trim(text), '\s+'), s -> len(s) > 0) AS tk,
             list_filter(string_split_regex(lower(trim(text)), '\s+'), s -> len(s) > 0) AS tkl
      FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                       i -> concat_ws(' ', tk[CAST(i AS INT)], tk[CAST(i + 1 AS INT)],
                                           tk[CAST(i + 2 AS INT)])) END AS sh
      FROM toks)"""

  private def mh(j: Int) =
    s"list_aggregate(list_transform(sh, s -> md5('$j:' || s)), 'min') AS mh$j"

  private val langPredSql =
    raw"""CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
          WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
          WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
          WHEN fr >= es AND fr > 0 THEN 'fr'
          WHEN es > 0 THEN 'es'
          ELSE 'unknown' END"""

  private val hitsCte =
    raw"""hits AS (
      SELECT doc_id, lang, text, tk, tkl,
        len(list_filter(tkl, s -> list_contains(['the','and','of','is','a'], s))) AS en,
        len(list_filter(tkl, s -> list_contains(['der','die','und','das','ist'], s))) AS de,
        len(list_filter(tkl, s -> list_contains(['le','la','et','les','est'], s))) AS fr,
        len(list_filter(tkl, s -> list_contains(['el','los','y','las','es'], s))) AS es
      FROM toks)"""

  /** 64-dim double-precision cosine with the engine's exact expression
    * shape (left-fold dot, sqrt-of-sumsq norms). */
  private def cosSqlDim(dim: Int): String =
    s"""list_sum(list_transform(range(1, ${dim + 1}), i ->
         CAST(q.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(c.embedding[CAST(i AS INT)] AS DOUBLE)))
       / (sqrt(list_sum(list_transform(range(1, ${dim + 1}), i ->
            CAST(q.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(q.embedding[CAST(i AS INT)] AS DOUBLE))))
        * sqrt(list_sum(list_transform(range(1, ${dim + 1}), i ->
            CAST(c.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(c.embedding[CAST(i AS INT)] AS DOUBLE)))))"""

  private val cosSql = cosSqlDim(64)

  /** literal ±1 plane matrix (16 planes × 64 dims, seed 42) — the same
    * values [[graft.functions.VectorExprs.LshBands]] derives on the
    * executors, so the oracle replays the exact candidate set. */
  private val planesSql: String = {
    val m = graft.operators.Similarity.planeMatrix(16, 64, 42L)
    m.map(_.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]"))
      .mkString("[", ",", "]")
  }

  /** CTEs: sign signatures → 4-bit band keys → distinct candidate pairs */
  private val lshCandCtes: String =
    s"""planes AS (SELECT $planesSql AS m),
      sigs AS (SELECT e.vec_id, e.embedding,
        list_transform(range(0, 16), p -> CASE WHEN list_sum(list_transform(range(1, 65), i ->
          CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * m[CAST(p AS INT) + 1][CAST(i AS INT)])) >= 0
          THEN 1 ELSE 0 END) AS s
        FROM embeddings e, planes),
      bands AS (SELECT vec_id, band,
          s[CAST(band*4+1 AS INT)] + s[CAST(band*4+2 AS INT)]*2
          + s[CAST(band*4+3 AS INT)]*4 + s[CAST(band*4+4 AS INT)]*8 AS key
        FROM sigs, (SELECT unnest(range(0, 4)) AS band) bd),
      cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        WHERE a.vec_id < b.vec_id)"""

  /** simhash replay: md5_number_lower token hashes → 64 bit votes →
    * 4×16-bit band keys (the full 64-bit signature never needs a signed
    * BIGINT round-trip; hamming = Σ bit_count over band xors) */
  private val simhashCtes: String =
    raw"""stoks AS (SELECT doc_id,
        list_filter(string_split_regex(lower(trim(text)), '\s+'), s -> len(s) > 0) AS tkl
      FROM documents),
    th AS (SELECT doc_id, unnest(tkl) AS t FROM stoks),
    bits AS (SELECT doc_id, b,
        CASE WHEN sum(CASE WHEN (md5_number_lower(t) >> CAST(b AS INT)) & 1 = 1
                           THEN 1 ELSE -1 END) > 0
             THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
      FROM th, (SELECT unnest(range(0, 64)) AS b) rb GROUP BY doc_id, b),
    rawkeys AS (SELECT doc_id,
        sum(CASE WHEN b BETWEEN 0 AND 15 THEN bit << CAST(b AS INT) ELSE 0 END) AS k0,
        sum(CASE WHEN b BETWEEN 16 AND 31 THEN bit << CAST(b - 16 AS INT) ELSE 0 END) AS k1,
        sum(CASE WHEN b BETWEEN 32 AND 47 THEN bit << CAST(b - 32 AS INT) ELSE 0 END) AS k2,
        sum(CASE WHEN b BETWEEN 48 AND 63 THEN bit << CAST(b - 48 AS INT) ELSE 0 END) AS k3
      FROM bits GROUP BY doc_id),
    skeys AS (SELECT d.doc_id, coalesce(k.k0, 0) AS k0, coalesce(k.k1, 0) AS k1,
        coalesce(k.k2, 0) AS k2, coalesce(k.k3, 0) AS k3
      FROM documents d LEFT JOIN rawkeys k ON k.doc_id = d.doc_id),
    sbanded AS (
      SELECT doc_id, 0 AS band, k0 AS key, k0, k1, k2, k3 FROM skeys UNION ALL
      SELECT doc_id, 1, k1, k0, k1, k2, k3 FROM skeys UNION ALL
      SELECT doc_id, 2, k2, k0, k1, k2, k3 FROM skeys UNION ALL
      SELECT doc_id, 3, k3, k0, k1, k2, k3 FROM skeys)"""

  /** SQL replay of [[graft.operators.IvfIndex.trainReplayable]] + topK:
    * Lloyd's unrolled as one CTE pair per iteration over the long-form
    * (vec_id, dim, x) relation; assignment/probe tie-breaks mirror the
    * engine (distance asc, centroid index asc). */
  /** Replayable IVF training + final assignment as a WITH body: unrolls
    * `iters` Lloyd's rounds over the first-`sampleSize`-by-id sample
    * (the [[graft.operators.IvfIndex.trainReplayable]] contract) and
    * ends with `fd` (every vector's distance to every final centroid)
    * and `fasg` (every vector's cell). Shared by the IVF top-k and
    * SemDeDup oracles. */
  private def ivfAssignCtes(k: Int, iters: Int, sampleSize: Int,
      base: String = "embeddings", dim: Int = 64): String = {
    val sb = new StringBuilder
    sb ++= s"""samp AS (SELECT * FROM $base ORDER BY vec_id LIMIT $sampleSize),
      long0 AS (SELECT vec_id, CAST(i AS INT) AS dim, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
        FROM samp, (SELECT unnest(range(1, ${dim + 1})) AS i) ii),
      alll AS (SELECT vec_id, CAST(i AS INT) AS dim, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
        FROM $base, (SELECT unnest(range(1, ${dim + 1})) AS i) ii),
      cent0 AS (SELECT vec_id AS c, dim, x FROM long0 WHERE vec_id < $k)"""
    for (t <- 0 until iters) sb ++= s""",
      d$t AS (SELECT l.vec_id, c.c, sum((l.x - c.x) * (l.x - c.x)) AS d
        FROM long0 l JOIN cent$t c USING (dim) GROUP BY 1, 2),
      a$t AS (SELECT vec_id, c AS cell FROM (
          SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
          FROM d$t) WHERE rn = 1),
      n$t AS (SELECT a.cell AS c, l.dim, round(avg(l.x), 6) AS x
        FROM a$t a JOIN long0 l USING (vec_id) GROUP BY 1, 2),
      cent${t + 1} AS (SELECT o.c, o.dim, coalesce(n.x, o.x) AS x
        FROM cent$t o LEFT JOIN n$t n ON n.c = o.c AND n.dim = o.dim)"""
    sb ++= s""",
      fd AS (SELECT l.vec_id, c.c, sum((l.x - c.x) * (l.x - c.x)) AS d
        FROM alll l JOIN cent$iters c USING (dim) GROUP BY 1, 2),
      fasg AS (SELECT vec_id, c AS cell FROM (
          SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
          FROM fd) WHERE rn = 1)"""
    sb.toString
  }

  /** SemDeDup replay: the shared IVF assignment, then a within-cell
    * lower-id-drops-higher-id threshold join — the identical
    * non-iterative contract [[graft.operators.Similarity.semDedup]]
    * computes, over the same bounded slice. */
  private def semDedupOracle(k: Int, iters: Int, sampleSize: Int,
      tau: Double, maxId: Long): String =
    s"""WITH ${ivfAssignCtes(k, iters, sampleSize,
        base = s"(SELECT * FROM embeddings WHERE vec_id < $maxId)")},
      dropped AS (SELECT DISTINCT b.vec_id AS drop_id
        FROM fasg a JOIN fasg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN embeddings q ON q.vec_id = a.vec_id
        JOIN embeddings c ON c.vec_id = b.vec_id
        WHERE round($cosSql, 6) >= $tau)
      SELECT f.vec_id, CAST(f.cell AS INTEGER) AS cell,
             (d.drop_id IS NULL) AS is_kept
      FROM fasg f LEFT JOIN dropped d ON d.drop_id = f.vec_id
      ORDER BY f.vec_id"""

  private def ivfOracle(k: Int, iters: Int, nProbe: Int, topK: Int,
      sampleSize: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH ${ivfAssignCtes(k, iters, sampleSize)}"
    sb ++= s""",
      qprobe AS (SELECT vec_id AS query_id, c AS cell FROM (
          SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
          FROM fd WHERE vec_id < 10) WHERE rn <= $nProbe),
      cands AS (SELECT p.query_id, f.vec_id AS neighbor_id
        FROM qprobe p JOIN fasg f ON f.cell = p.cell WHERE f.vec_id <> p.query_id),
      scored AS (SELECT s.query_id, s.neighbor_id, round($cosSql, 6) AS cos
        FROM cands s JOIN embeddings q ON q.vec_id = s.query_id
                     JOIN embeddings c ON c.vec_id = s.neighbor_id),
      ranked AS (SELECT query_id, neighbor_id, cos,
          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
        FROM scored)
      SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, cos
      FROM ranked WHERE rk <= $topK ORDER BY query_id, rk"""
    sb.toString
  }

  /** PQ replay: per-subspace Lloyd's unrolled exactly like
    * [[ivfAssignCtes]] but keyed (sub, sdim); codes by final argmin;
    * ADC = per-(query,sub,cell) distance joined to the code table and
    * summed per (query, neighbor). dim=64 hardwired like the IVF CTEs. */
  /** the BPE id-encoding replay (6 fixed merges over lowered \s+
    * words) as a CTE chain ending in `docids (doc_id, ids)` — shared
    * by the per-doc id gate, the token-packing gate and the curation
    * v4 chain (which runs it over a FILTERED source CTE, so the
    * corpus-relative char vocabulary ranks over what the filter kept) */
  private def bpeIdsCtesOver(src: String): String =
    raw"""toks2 AS (
           SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS w
           FROM $src),
         chars AS (SELECT DISTINCT substr(w, i, 1) AS symbol
                   FROM toks2, unnest(range(1, len(w) + 1)) t(i)),
         ranked AS (SELECT CAST(row_number() OVER (ORDER BY symbol) - 1 AS BIGINT) AS token_id,
                           symbol FROM chars),
         cc AS (SELECT count(*) AS n FROM chars),
         mg AS (SELECT CAST(cc.n + v.rk AS BIGINT) AS token_id, v.s AS symbol
                FROM cc, (VALUES (0, 'er'), (1, 'th'), (2, 'the'),
                                 (3, 'in'), (4, 'an'), (5, 'and')) AS v(rk, s)),
         vocab AS (SELECT token_id, symbol FROM ranked UNION ALL SELECT token_id, symbol FROM mg),
         vm AS (SELECT map(list(symbol ORDER BY token_id), list(token_id ORDER BY token_id)) AS m
                FROM vocab),
         enc AS (
           SELECT doc_id, list_transform(
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0),
             w -> replace(replace(replace(replace(replace(replace(
                    trim(regexp_replace(w, '(.)', '\1 ', 'g')),
                    'e r', 'er'), 't h', 'th'), 'th e', 'the'),
                    'i n', 'in'), 'a n', 'an'), 'an d', 'and')) AS ws
           FROM $src),
         docids AS (
           SELECT doc_id, list_transform(
             list_filter(flatten(list_transform(ws, w -> string_split(w, ' '))),
               s -> len(s) > 0),
             s -> coalesce(vm.m[s][1], -1)) AS ids
           FROM enc, vm)"""

  private val bpeIdsCtes: String = bpeIdsCtesOver("documents")

  /** the byte-level gates' fixed merge table: a UTF-8 byte pair (Ã ¤
    * reassembles ä's two bytes), the second byte pair for é, a Ġ-glued
    * prefix chain, and a plain in-word pair — every structural merge
    * kind the family has */
  private[graft] val byteBpeMerges: Seq[(String, String)] = Seq(
    "Ã" -> "¤", "Ã" -> "©", "Ġ" -> "t", "Ġt" -> "h", "t" -> "h")

  /** the byte-level BPE replay (GPT-2 family, r14) as a CTE chain
    * ending in `bdocs (doc_id, enc)`: the gate single-spaces the
    * corpus, so pre-tokens are the first word bare + each later word
    * with its glued leading space; the bytes→unicode bijection spreads
    * ä → Ã ¤ and é → Ã © (their UTF-8 bytes self-map) and the space →
    * Ġ; [[byteBpeMerges]] replays as ranked replaces per piece (never
    * across pieces — the per-element lambda IS the piece boundary). */
  private val byteBpeCtes: String =
    raw"""bsrc AS (SELECT doc_id,
           regexp_replace(trim(translate(text, 'ae', 'äé')), '\s+', ' ', 'g') AS text
           FROM documents),
         bpcs AS (SELECT doc_id,
           list_transform(string_split(text, ' '),
             (w, i) -> CASE WHEN i = 1 THEN w ELSE ' ' || w END) AS pieces
           FROM bsrc),
         benc AS (SELECT doc_id, list_transform(pieces, p ->
             replace(replace(replace(replace(replace(
               trim(regexp_replace(
                 replace(replace(replace(p, ' ', 'Ġ'), 'ä', 'Ã¤'), 'é', 'Ã©'),
                 '(.)', '\1 ', 'g')),
               'Ã ¤', 'Ã¤'), 'Ã ©', 'Ã©'), 'Ġ t', 'Ġt'), 'Ġt h', 'Ġth'),
               't h', 'th')) AS ws
           FROM bpcs),
         bdocs AS (SELECT doc_id, array_to_string(ws, ' ') AS enc FROM benc)"""

  /** symbol → id over the CLOSED byte-level vocabulary, for this
    * corpus+merge set: literal arms for the remapped / multi-char
    * symbols, ascii() for the self-mapped ASCII singles */
  private val byteBpeIdCase: String =
    """CASE WHEN s = 'Ã¤' THEN 256 WHEN s = 'Ã©' THEN 257
            WHEN s = 'Ġt' THEN 258 WHEN s = 'Ġth' THEN 259
            WHEN s = 'th' THEN 260 WHEN s = 'Ġ' THEN 32
            WHEN s = 'Ã' THEN 195 WHEN s = '¤' THEN 164
            WHEN s = '©' THEN 169 ELSE ascii(s) END"""

  /** the v1 curation chain (c4_clean → normalize → pii_redact →
    * dedup_exact → cap_per_group) as one CTE per stage, ending in
    * `cap` — shared by the pipeline gate and the per-stage report */
  private val curateV1Ctes: String =
    raw"""c4 AS (
          SELECT doc_id, source,
            coalesce(array_to_string(list_filter(string_split(text, chr(10)), x ->
              regexp_matches(x, '[.!?"]$$')
              AND len(list_filter(string_split_regex(x, '[ \t\x0B\f\r]+'), t -> len(t) > 0)) >= 3
              AND NOT contains(lower(x), 'javascript')
              AND NOT contains(lower(x), 'lorem ipsum')
              AND NOT contains(x, '{')), chr(10)), '') AS text
          FROM documents),
        norm AS (SELECT doc_id, source,
            trim(regexp_replace(regexp_replace(nfc_normalize(text),
              '[ \t\n\x0B\f\r]+', ' ', 'g'), '[\x00-\x08\x0E-\x1F\x7F]', '', 'g')) AS text
          FROM c4),
        pii AS (SELECT doc_id, source,
            regexp_replace(regexp_replace(regexp_replace(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
              '\+\d{1,2} \d{3}-\d{4}', '<PHONE>', 'g') AS text
          FROM norm),
        ded AS (SELECT doc_id, source, text FROM (
            SELECT doc_id, source, text,
              row_number() OVER (
                PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                ORDER BY doc_id) AS rn
            FROM pii) t WHERE rn = 1),
        cap AS (SELECT doc_id, source, text FROM (
            SELECT doc_id, source, text,
              row_number() OVER (PARTITION BY source ORDER BY
                (md5_number_lower(CAST(doc_id AS VARCHAR) || 'cap-v1')
                   % 281474976710656) % 1073741824, doc_id) AS rn
            FROM ded) t WHERE rn <= 7)"""

  /** [[graft.functions.TextExprs.embedKernel]] replayed as CTEs over
    * `src(doc_id, …, text)` → `emb(vec_id, embedding)`: token →
    * md5-bucketed signed count → L2-normalized REAL list. Every sum is
    * an exact small integer, so the doubles (and float casts) come out
    * bit-identical regardless of summation order. */
  private def embedCtes(src: String, salt: String, dim: Int): String =
    raw"""etok AS (SELECT doc_id, unnest(list_filter(
          string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS t
        FROM $src),
      ehash AS (SELECT doc_id,
          (md5_number_lower(t || '$salt') % 281474976710656) AS h FROM etok),
      ebs AS (SELECT doc_id, CAST(h % $dim AS INT) AS bucket,
          CASE WHEN (h // $dim) % 2 = 0 THEN -1.0 ELSE 1.0 END AS s FROM ehash),
      esum AS (SELECT doc_id, bucket, sum(s) AS v FROM ebs GROUP BY 1, 2),
      edense AS (SELECT d.doc_id, CAST(dd.b AS INT) AS b, coalesce(e.v, 0.0) AS v
        FROM (SELECT DISTINCT doc_id FROM $src) d
        CROSS JOIN (SELECT unnest(range(0, $dim)) AS b) dd
        LEFT JOIN esum e ON e.doc_id = d.doc_id AND e.bucket = dd.b),
      enorm AS (SELECT doc_id, sqrt(sum(v * v)) AS nrm FROM edense GROUP BY 1),
      emb AS MATERIALIZED (SELECT d.doc_id AS vec_id,
          list(CAST(CASE WHEN n.nrm > 0 THEN d.v / n.nrm ELSE 0.0 END AS REAL)
            ORDER BY d.b) AS embedding
        FROM edense d JOIN enorm n USING (doc_id) GROUP BY 1)"""

  /** Adversarial HTML wrap of a document: script with a bare `<`,
    * style with a comment inside, a comment containing a fake `<p>`,
    * a link-dense nav, a no-stopword footer with an entity, and each
    * text line as its own `<p>` block. Shared by q_html_extract,
    * q_warc_scan (the fixture payload) and the fineweb v2 seed; the
    * SQL twin below builds the identical bytes in DuckDB. */
  private[queries] def docHtml(docId: Column, text: Column): Column = concat(
    lit("<html><head><title>Doc "), docId.cast("string"),
    lit("</title><style type=\"text/css\">body { color: #222; } /* x < y */" +
      "</style><script>if (x < 3) { track(\"a&b\"); }</script></head>\n" +
      "<body>\n" +
      "<div class=\"nav\"><a href=\"/\">Home</a> | <a href=\"/about\">About</a>" +
      " | <a href=\"/contact\">Contact us</a></div>\n<h1>Doc "),
    docId.cast("string"),
    lit(" of the archive</h1>\n<!-- note: <p>not a block</p> -->\n<p>"),
    replace(text, lit("\n"), lit("</p>\n<p>")),
    lit("</p>\n<div class=\"share\">Please <a href=\"/share\">share</a>" +
      " <a href=\"/like\">like</a> <a href=\"/sub\">subscribe</a></div>\n" +
      "<footer>Copyright &amp; all rights reserved</footer>\n</body></html>"))

  /** [[docHtml]] as a DuckDB expression over (doc_id, `textExpr`) */
  private[queries] def docHtmlSql(textExpr: String): String =
    raw"""'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
      || '</title><style type="text/css">body { color: #222; } /* x < y */'
      || '</style><script>if (x < 3) { track("a&b"); }</script></head>' || chr(10)
      || '<body>' || chr(10)
      || '<div class="nav"><a href="/">Home</a> | <a href="/about">About</a>'
      || ' | <a href="/contact">Contact us</a></div>' || chr(10)
      || '<h1>Doc ' || CAST(doc_id AS VARCHAR) || ' of the archive</h1>' || chr(10)
      || '<!-- note: <p>not a block</p> -->' || chr(10)
      || '<p>' || replace($textExpr, chr(10), '</p>' || chr(10) || '<p>') || '</p>' || chr(10)
      || '<div class="share">Please <a href="/share">share</a>'
      || ' <a href="/like">like</a> <a href="/sub">subscribe</a></div>' || chr(10)
      || '<footer>Copyright &amp; all rights reserved</footer>' || chr(10) || '</body></html>'"""

  /** The frontier-round page fixture over a documents-shaped frame
    * (works on a STREAMING frame too — all row-local exprs): per doc a
    * page URL on one of four hosts and an html body whose links cover
    * every frontier rule — an art link with a tracking param, a
    * relative link, an ad-host link, a robots-blocked /private/ link,
    * a same-host /p/ link that may hit the visited set, and a mailto.
    * Shared by q_crawl_frontier_round and q_stream_frontier (one
    * closed-form oracle serves both). */
  private def frontierPages(df: DataFrame): DataFrame = {
    val d = col("doc_id").cast("string")
    df.select(
      col("doc_id"),
      concat(lit("http://h"), (col("doc_id") % 4).cast("string"),
        lit(".example/p/"), d).as("url"),
      concat(
        lit("<a href=\"http://h"), ((col("doc_id") + 1) % 4).cast("string"),
        lit(".example/art/"), (col("doc_id") % 10).cast("string"),
        lit("?utm_source=x\">n</a>"),
        lit("<a href='also-"), (col("doc_id") % 10).cast("string"),
        lit(".html'>r</a>"),
        lit("<a href=\"http://ads.example/x\">ad</a>"),
        lit("<a href=\"http://h"), ((col("doc_id") + 2) % 4).cast("string"),
        lit(".example/private/z-"), (col("doc_id") % 5).cast("string"),
        lit("\">p</a>"),
        lit("<a href=\"/p/"), ((col("doc_id") * 7 + 1) % 500).cast("string"),
        lit("\">v</a>"),
        lit("<a href=\"mailto:x@y.z\">m</a>")).as("html"))
  }

  /** the frontier round's surviving URL set restated from doc_id
    * arithmetic — shared by the batch and streaming capstones */
  private val frontierRoundOracle: String =
    """WITH cand AS (
        SELECT 'http://h' || CAST((doc_id + 1) % 4 AS VARCHAR)
          || '.example/art/' || CAST(doc_id % 10 AS VARCHAR) AS url
        FROM documents
        UNION
        SELECT 'http://h' || CAST(doc_id % 4 AS VARCHAR)
          || '.example/p/also-' || CAST(doc_id % 10 AS VARCHAR) || '.html'
        FROM documents
        UNION
        SELECT 'http://h' || CAST(doc_id % 4 AS VARCHAR)
          || '.example/p/' || CAST((doc_id * 7 + 1) % 500 AS VARCHAR)
        FROM documents),
      visited AS (
        SELECT 'http://h' || CAST(doc_id % 4 AS VARCHAR)
          || '.example/p/' || CAST(doc_id AS VARCHAR) AS url
        FROM documents)
      SELECT url FROM cand
      WHERE url NOT IN (SELECT url FROM visited)
      ORDER BY url"""

  /** q_perceptron_quality's oracle: 20 Rosenblatt rounds unrolled as
    * all-integer CTEs — each round folds the misclassified rows'
    * label-signed feature sums into the weights, bit-exactly the
    * engine's update rule. Features (f3 = '.' count, f4 = 5×' the '
    * count) against label f4 ≥ 10 CONVERGE inside 20 rounds at gate
    * scale — the trained filter separates, it doesn't keep-all. */
  private def perceptronSql(fin: String => String): String = {
    val fs = Seq("f3", "f4")
    val marg = s"l.y * (w.b + ${fs.map(c => s"w.$c * l.$c").mkString(" + ")})"
    def round(prev: String, cur: String): String =
      s"$cur AS (SELECT w.b + COALESCE(SUM(CASE WHEN $marg <= 0 THEN l.y END), 0) AS b, " +
        fs.map(c =>
          s"w.$c + COALESCE(SUM(CASE WHEN $marg <= 0 THEN l.y * l.$c END), 0) AS $c")
          .mkString(", ") +
        s" FROM $prev w CROSS JOIN l GROUP BY w.b, ${fs.map("w." + _).mkString(", ")})"
    val rounds = (1 to 20).map(i => round(s"w${i - 1}", s"w$i")).mkString(",\n        ")
    val dot = s"w.b + ${fs.map(c => s"w.$c * f.$c").mkString(" + ")}"
    s"""WITH f AS (SELECT doc_id,
          CAST(len(text) AS BIGINT) AS f1,
          CAST(len(text) - len(replace(text, ' ', '')) AS BIGINT) AS f2,
          CAST(len(text) - len(replace(text, '.', '')) AS BIGINT) AS f3,
          CAST(len(text) - len(replace(text, ' the ', '')) AS BIGINT) AS f4
        FROM documents),
        l AS (SELECT doc_id, f3, f4,
            CASE WHEN f4 >= 10 THEN 1 ELSE -1 END AS y
          FROM f WHERE doc_id % 2 = 0),
        w0 AS (SELECT CAST(0 AS BIGINT) AS b,
          CAST(0 AS BIGINT) AS f3, CAST(0 AS BIGINT) AS f4),
        $rounds
        ${fin(dot)}"""
  }

  private val perceptronOracle: String = perceptronSql(dot =>
    s"""SELECT f.doc_id, CAST($dot AS BIGINT) AS score, ($dot) > 0 AS pred,
          f.f4 >= 10 AS label
        FROM f CROSS JOIN w20 w ORDER BY f.doc_id""")

  /** the same trained weights, keeping predicted-positive rows only */
  private val curatePerceptronOracle: String = perceptronSql(dot =>
    s"""SELECT f.doc_id FROM f CROSS JOIN w20 w
        WHERE ($dot) > 0 ORDER BY f.doc_id""")

  /** Adversarial URL seed per document: default ports under mixed-case
    * schemes/hosts, tracking params before/between/after real ones,
    * fragments, a schemeless URL, and a non-default port on a non-http
    * scheme. The SQL twin below builds the identical bytes in DuckDB. */
  private[queries] def docUrl(docId: Column): Column = {
    val d = docId.cast("string")
    when(docId % 6 === 0, concat(lit("HTTP://Example.COM:80/path/to/page-"), d,
        lit("?utm_source=news&id="), d, lit("&utm_medium=email#frag")))
      .when(docId % 6 === 1,
        concat(lit("https://WWW.News.org:443/?gclid=abc"), d, lit("&q=term")))
      .when(docId % 6 === 2,
        concat(lit("http://cdn.example.com/item/"), d, lit(".html#sec-2")))
      .when(docId % 6 === 3, concat(lit("files.example.net/plain/"), d))
      .when(docId % 6 === 4,
        concat(lit("FTP://Archive.example.io:2121/data/"), d))
      .otherwise(concat(lit("https://Shop.example.com/p?fbclid=x"), d,
        lit("&a=1&msclkid=y&b=2")))
  }

  /** [[docUrl]] as a DuckDB expression over doc_id */
  private[queries] val docUrlSql: String =
    raw"""CASE CAST(doc_id % 6 AS INTEGER)
      WHEN 0 THEN 'HTTP://Example.COM:80/path/to/page-' || CAST(doc_id AS VARCHAR)
        || '?utm_source=news&id=' || CAST(doc_id AS VARCHAR) || '&utm_medium=email#frag'
      WHEN 1 THEN 'https://WWW.News.org:443/?gclid=abc' || CAST(doc_id AS VARCHAR) || '&q=term'
      WHEN 2 THEN 'http://cdn.example.com/item/' || CAST(doc_id AS VARCHAR) || '.html#sec-2'
      WHEN 3 THEN 'files.example.net/plain/' || CAST(doc_id AS VARCHAR)
      WHEN 4 THEN 'FTP://Archive.example.io:2121/data/' || CAST(doc_id AS VARCHAR)
      ELSE 'https://Shop.example.com/p?fbclid=x' || CAST(doc_id AS VARCHAR) || '&a=1&msclkid=y&b=2'
      END"""

  /** Adversarial outlink fixture for q_html_links: a base URL whose
    * resolution inputs are all non-trivial (mixed-case authority that
    * must survive as-is, non-default port, a directory-bearing path,
    * a query and a fragment), and a page whose anchors cover every
    * resolution class: absolute, protocol-relative (uppercase tag,
    * single quotes), rooted with fragment, path-relative, plus four
    * that must DROP (mailto:, javascript:, a non-web ftp://, an empty
    * href) and a duplicate that must stay. The oracle derives the
    * expected links CLOSED-FORM from doc_id — an independent
    * derivation, not a replay of the extraction expressions. */
  private[queries] def linkBase(docId: Column): Column = concat(
    lit("https://Host"), (docId % 5).cast("string"),
    lit(".Example.org:8443/sec/"), docId.cast("string"),
    lit("/page.html?x=1#top"))

  private[queries] def linkHtml(docId: Column): Column = {
    val d = docId.cast("string")
    concat(
      lit("<div><a href=\"http://other.example.com/abs/"), d, lit("\">one</a> "),
      lit("<A HREF='//cdn.example.net/lib/"), d, lit(".js'>two</A> "),
      lit("<a class=\"c\" href=\"/rooted/r"), d, lit(".html#frag\">three</a> "),
      lit("<a href=\"sibling-"), d, lit(".html\">four</a> "),
      lit("<a href=\"mailto:team@example.com\">m</a> "),
      lit("<a href=\"javascript:void(0)\">j</a> "),
      lit("<a href=\"ftp://files.example.net/f\">f</a> "),
      lit("<a href=\"\">e</a> "),
      lit("<a href=\"http://other.example.com/abs/"), d, lit("\">one again</a></div>"))
  }

  /** one PageRank power-iteration as a DuckDB CTE: `cur` from `prev`
    * over `edges(src, dst)` / `deg(src, out_deg)` / `nodes(node)` /
    * `nn(n)`, rounding to 9 decimals exactly like
    * [[graft.operators.LinkGraph.pageRank]] does per iteration */
  private def prIterSql(prev: String, cur: String): String =
    s"""$cur AS (SELECT nodes.node,
        round(CAST(0.15 AS DOUBLE) / nn.n
          + CAST(0.85 AS DOUBLE) * coalesce(m.mass, 0), 9) AS rank
      FROM nodes CROSS JOIN nn LEFT JOIN (
        SELECT edges.dst, sum($prev.rank / deg.out_deg) AS mass
        FROM edges JOIN $prev ON $prev.node = edges.src
        JOIN deg ON deg.src = edges.src
        GROUP BY edges.dst) m ON m.dst = nodes.node)"""

  /** [[graft.operators.TextOps.urlNormalize]] (plus urlHost/urlScheme)
    * replayed as CTEs over `src(doc_id, url)` → `outName(doc_id, url,
    * host, scheme)` with `url` normalized; offsets use the raw
    * hostport length, mirroring the Spark column exactly. */
  private[queries] def urlNormCtes(src: String, outName: String): String = {
    // the engine's 8-round dot-segment sequence, DuckDB dialect ('g'
    // flags — DuckDB replaces first-match by default, Spark globally)
    val seg = "(?:[^./][^/]*|[.][^./][^/]*|[.][.][^/]+)"
    val dollar = "$"
    val dotClean = (1 to 8).foldLeft("rawpath") { (p, _) =>
      val p1 = s"regexp_replace($p, '/[.]/', '/', 'g')"
      val p2 = s"regexp_replace($p1, '/[.]$dollar', '/', 'g')"
      val p3 = s"regexp_replace($p2, '/$seg/[.][.]/', '/', 'g')"
      val p4 = s"regexp_replace($p3, '/$seg/[.][.]$dollar', '/', 'g')"
      s"regexp_replace($p4, '^/[.][.](/|$dollar)', '/', 'g')"
    }
    raw"""u1 AS (SELECT doc_id, regexp_replace(trim(url), '#.*', '') AS t FROM $src),
      u2 AS (SELECT doc_id, t,
          lower(regexp_extract(t, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
          regexp_replace(t, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM u1),
      u3 AS (SELECT doc_id, scheme, rest,
          regexp_extract(rest, '^([^/?]*)', 1) AS rawhp FROM u2),
      u4 AS (SELECT doc_id, scheme,
          regexp_replace(lower(rawhp), '^.*@', '') AS hostport,
          CASE WHEN scheme = 'http'
               THEN regexp_replace(regexp_replace(lower(rawhp), '^.*@', ''), ':80${"$"}', '')
               WHEN scheme = 'https'
               THEN regexp_replace(regexp_replace(lower(rawhp), '^.*@', ''), ':443${"$"}', '')
               ELSE regexp_replace(lower(rawhp), '^.*@', '') END AS nhost,
          substr(rest, len(rawhp) + 1) AS tail FROM u3),
      u5 AS (SELECT doc_id, scheme, hostport, nhost, tail,
          regexp_extract(tail, '^([^?]*)', 1) AS rawpath FROM u4),
      u5b AS (SELECT doc_id, scheme, hostport, nhost, tail, rawpath,
          CASE WHEN strpos(rawpath, '/.') > 0 THEN $dotClean
               ELSE rawpath END AS path FROM u5),
      u6 AS (SELECT doc_id, scheme, hostport, nhost, path,
          -- coalesce: array_to_string([]) is NULL in DuckDB where
          -- Spark's array_join([]) is '' — the seam this CTE mirrors
          coalesce(array_to_string(list_filter(string_split(substr(tail, len(rawpath) + 2), '&'),
            p -> p <> '' AND NOT regexp_matches(p,
              '^(utm_[^=&]*|gclid|fbclid|msclkid)(=|${"$"})')), '&'), '') AS q2 FROM u5b),
      $outName AS (SELECT doc_id,
          CASE WHEN scheme = '' THEN '' ELSE scheme || '://' END || nhost ||
          CASE WHEN path = '/' AND q2 = '' THEN '' ELSE path END ||
          CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END AS url,
          regexp_replace(hostport, ':[0-9]+${"$"}', '') AS host,
          scheme FROM u6)"""
  }

  /** [[graft.operators.TextOps.htmlExtractText]] replayed as CTEs over
    * `src(doc_id, …, html)` → `outName(doc_id, <passengers>, text)`;
    * stage defaults (min_words 5, min_text_ratio 0.25). `passengers`
    * rides `s.`-qualified with a trailing comma, or empty. */
  private[queries] def htmlExtractCtes(src: String, outName: String,
      passengers: String): String =
    raw"""hxs AS (SELECT doc_id, string_split_regex(
        regexp_replace(regexp_replace(regexp_replace(html,
          '(?is)<script[^>]*>.*?</script[^>]*>', ' ', 'g'),
          '(?is)<style[^>]*>.*?</style[^>]*>', ' ', 'g'),
          '(?s)<!--.*?-->', ' ', 'g'),
        '(?i)</?(?:blockquote|figcaption|section|article|header|footer|aside|thead|tbody|table|title|figure|html|head|body|form|main|pre|nav|div|ul|ol|li|h1|h2|h3|h4|h5|h6|br|hr|tr|th|td|p)(?:[ \t\n\x0B\f\r/][^>]*)?>') AS bs
      FROM $src),
    hxb AS (SELECT doc_id, generate_subscripts(bs, 1) AS i, unnest(bs) AS b FROM hxs),
    hxm AS (SELECT doc_id, i, len(b) AS rawlen,
        len(string_split_regex(b, '(?i)<a[ \t\n\x0B\f\r>]')) - 1 AS nlinks,
        trim(regexp_replace(
          replace(replace(replace(replace(replace(replace(
            regexp_replace(b, '<[^>]*>', ' ', 'g'),
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
            '&nbsp;', ' '), '&amp;', '&'),
          '[ \t\n\x0B\f\r]+', ' ', 'g')) AS t
      FROM hxb),
    hxw AS (SELECT doc_id, i, t, nlinks, rawlen,
        list_filter(string_split_regex(t, '[ \t\n\x0B\f\r]+'), x -> len(x) > 0) AS words
      FROM hxm),
    hxk AS (SELECT doc_id, i, t FROM hxw
      WHERE len(words) >= 5
        AND len(list_filter(words, x -> list_contains($stop12, lower(x)))) >= 1
        AND nlinks * 3 <= len(words)
        AND len(t) >= rawlen * 0.25),
    $outName AS MATERIALIZED (SELECT s.doc_id, $passengers
        coalesce(x.text, '') AS text
      FROM $src s LEFT JOIN (SELECT doc_id, string_agg(t, chr(10) ORDER BY i) AS text
        FROM hxk GROUP BY doc_id) x USING (doc_id))"""

  /** the FineWeb-recipe seed: sentence structure + a non-sentence
    * boilerplate line + %13 exact dupes + %17 near-dupes + %97
    * benchmark split — shared by the gate and its report twin */
  private[graft] def fineWebSeed(s: SparkSession, dir: String): DataFrame = {
    val boiler = array(FwBoiler.map(lit): _*)
    Tables.load(s, dir, "documents").select(
      col("doc_id"), col("lang"), col("source"),
      (col("doc_id") % 97 === 0).as("is_bench"),
      concat(
        when(col("doc_id") % 13 === 0, lit(FwMirror))
          .when(col("doc_id") % 17 === 0, concat(lit(FwEngine),
            lit(" Revision note number "), col("doc_id").cast("string"),
            lit(" applies.")))
          .otherwise(concat(col("text"), lit("."))),
        lit("\nSubscribe now\n"),
        element_at(boiler, (col("doc_id") % 4 + 1).cast("int"))).as("text"))
  }

  private val FwMirror = "Welcome to the archived mirror of this page hosted " +
    "here for posterity by the site team so that readers keep access to the " +
    "original body text after the move."
  private val FwEngine = "This page describes the storage engine layout in " +
    "careful detail covering the row format the column format the page cache " +
    "the write ahead log and the compaction loop with worked examples for " +
    "every case."
  private val FwBoiler = Seq(
    "The quick brown fox jumps over the lazy dog today.",
    "All rights are reserved by the original author of this page.",
    "Please share this article with all of your friends online.",
    "This content is provided for informational purposes only to readers.")

  private[graft] val fineWebSpec = """{"stages": [
    {"op": "c4_clean", "require_pass": false},
    {"op": "normalize"},
    {"op": "gopher_filter", "min_words": 25},
    {"op": "repetition_filter", "max_dup_gram_frac": 0.02,
     "max_top_gram_frac": 0.15, "min_distinct_ratio": 0.42},
    {"op": "dedup_exact"},
    {"op": "minhash_neardup"},
    {"op": "decontaminate", "benchmark_col": "is_bench", "max_frac": 0.3},
    {"op": "nb_class_filter", "label_col": "lang", "keep": ["en"]},
    {"op": "token_budget", "salt": "fw-v1", "budget": 300, "shard": "source"},
    {"op": "tokenize", "merges": [["e","r"],["t","h"],["th","e"],
                                  ["i","n"],["a","n"],["an","d"]]},
    {"op": "pack", "seq_len": 64, "shard": "source"}
  ]}"""

  /** the 11-stage FineWeb chain, one CTE per stage (MATERIALIZED on
    * the hubs — the chain is deep enough that DuckDB's CTE inlining
    * otherwise recomputes the md5 towers many times over). Ends with
    * `tb` (token-budget survivors) and `sq` (packed sequences);
    * intermediate stage heads: c4, norm, gkept, rkept, ded, mnd,
    * dec, nbk. */
  /** the raw (pre-extraction) FineWeb seed text, as a SQL expression
    * over a `documents` row — shared by the v1 seed CTE and the v2
    * HTML wrap */
  private val fwSeedTextSql: String = {
    val boilerCase = s"""CASE doc_id % 4
      WHEN 0 THEN '${FwBoiler(0)}' WHEN 1 THEN '${FwBoiler(1)}'
      WHEN 2 THEN '${FwBoiler(2)}' ELSE '${FwBoiler(3)}' END"""
    raw"""CASE WHEN doc_id % 13 = 0 THEN '$FwMirror'
             WHEN doc_id % 17 = 0 THEN '$FwEngine'
               || ' Revision note number ' || CAST(doc_id AS VARCHAR) || ' applies.'
             ELSE text || '.' END
        || chr(10) || 'Subscribe now' || chr(10) || $boilerCase"""
  }

  /** the v2 recipe: the same 11 stages behind an `html_extract` front
    * door — the crawl-archive → trainer-sequences shape */
  private val fineWebSpecV2 =
    """{"stages": [{"op": "html_extract"},""" + fineWebSpec.drop("""{"stages": [""".length)

  /** v2 seed: the v1 seed text wrapped in adversarial HTML */
  private def fineWebHtmlSeed(s: SparkSession, dir: String): DataFrame =
    fineWebSeed(s, dir).withColumn("text", docHtml(col("doc_id"), col("text")))

  /** the v3 recipe: url_filter ahead of v2's 12 stages — the full
    * crawl shape (frontier gate → extraction → curation) */
  private val fineWebSpecV3 =
    """{"stages": [{"op": "url_filter", "block_hosts": ["ads.example.com"]},""" +
      fineWebSpecV2.drop("""{"stages": [""".length)

  /** the 11 post-seed stage CTEs, over whatever `seedCte` defines as
    * `fw0 (doc_id, lang, source, is_bench, text)` — v1 seeds clean
    * text, v2 seeds HTML and prepends the extraction replay */
  private def fineWebCtesFrom(seedCte: String): String = {
    raw"""$seedCte,
    c4 AS (SELECT doc_id, lang, source, is_bench,
        coalesce(array_to_string(list_filter(string_split(text, chr(10)), x ->
          regexp_matches(x, '[.!?"]$$')
          AND len(list_filter(string_split_regex(x, '[ \t\x0B\f\r]+'), t -> len(t) > 0)) >= 3
          AND NOT contains(lower(x), 'javascript')
          AND NOT contains(lower(x), 'lorem ipsum')
          AND NOT contains(x, '{')), chr(10)), '') AS text
      FROM fw0),
    norm AS MATERIALIZED (SELECT doc_id, lang, source, is_bench,
        trim(regexp_replace(regexp_replace(nfc_normalize(text),
          '[ \t\n\x0B\f\r]+', ' ', 'g'), '[\x00-\x08\x0E-\x1F\x7F]', '', 'g')) AS text
      FROM c4),
    gw AS (SELECT doc_id,
        list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), t -> len(t) > 0) AS words,
        list_filter(string_split(text, chr(10)), x -> len(x) > 0) AS lines
      FROM norm),
    gm AS (SELECT doc_id, len(words) AS n_words, len(lines) AS n_lines,
        CASE WHEN len(words) = 0 THEN 0.0
             ELSE CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE) / len(words) END AS mean_len,
        len(list_filter(words, x -> contains(x, '#') OR contains(x, '...') OR contains(x, '…'))) AS n_sym,
        len(list_filter(lines, x -> starts_with(x, '-') OR starts_with(x, '*') OR starts_with(x, '•'))) AS n_bul,
        len(list_filter(lines, x -> ends_with(x, '...') OR ends_with(x, '…'))) AS n_ell,
        len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
        len(list_filter($stop12,
            s -> list_contains(list_transform(words, x -> lower(x)), s))) AS n_stop
      FROM gw),
    gk AS (SELECT doc_id FROM gm WHERE
        (n_words >= 25 AND n_words <= 100000)
        AND (mean_len >= 3.0 AND mean_len <= 10.0)
        AND (n_sym <= n_words * 0.1)
        AND (n_lines = 0 OR n_bul <= n_lines * 0.9)
        AND (n_lines = 0 OR n_ell <= n_lines * 0.3)
        AND (n_words = 0 OR n_alpha >= n_words * 0.8)
        AND (n_stop >= 2)),
    gkept AS MATERIALIZED (SELECT n.* FROM norm n JOIN gk USING (doc_id)),
    rtoks AS (SELECT doc_id, text,
        list_filter(string_split_regex(trim(text), '\s+'), s -> len(s) > 0) AS tk
      FROM gkept),
    rsh AS MATERIALIZED (SELECT doc_id,
        CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
             ELSE list_transform(range(1, len(tk) - 1),
                  i -> concat_ws(' ', tk[CAST(i AS INT)], tk[CAST(i + 1 AS INT)],
                                      tk[CAST(i + 2 AS INT)])) END AS sh
      FROM rtoks),
    rscal AS (SELECT t.doc_id, len(trim(t.text)) AS chars,
           len(t.tk) AS n_tokens, len(list_distinct(t.tk)) AS n_dt,
           len(s.sh) AS n_grams, len(list_distinct(s.sh)) AS n_dg
      FROM rtoks t JOIN rsh s ON t.doc_id = s.doc_id),
    rgrams AS (SELECT doc_id, unnest(sh) AS g FROM rsh),
    rgc AS (SELECT doc_id, g, count(*) AS c FROM rgrams GROUP BY 1, 2),
    rtopg AS (SELECT doc_id, g, c, row_number() OVER (PARTITION BY doc_id
          ORDER BY c DESC, len(g) DESC, g ASC) AS rk FROM rgc),
    rprof AS (SELECT s.doc_id,
        round(CAST(s.n_dt AS DOUBLE) / s.n_tokens, 6) AS distinct_token_ratio,
        round(CAST(s.n_grams - s.n_dg AS DOUBLE) / s.n_grams, 6) AS dup_gram_frac,
        round(CAST(t.c * len(t.g) AS DOUBLE) / s.chars, 6) AS top_gram_frac
      FROM rscal s JOIN rtopg t ON t.doc_id = s.doc_id AND t.rk = 1),
    rkeep AS (SELECT doc_id FROM rprof
      WHERE dup_gram_frac <= 0.02 AND top_gram_frac <= 0.15
        AND distinct_token_ratio >= 0.42),
    rkept AS MATERIALIZED (SELECT g.* FROM gkept g JOIN rkeep USING (doc_id)),
    ded AS MATERIALIZED (SELECT doc_id, lang, source, is_bench, text FROM (
        SELECT *, row_number() OVER (
          PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
          ORDER BY doc_id) AS rn FROM rkept) t WHERE rn = 1),
    mtoks AS (SELECT doc_id,
        list_filter(string_split_regex(trim(text), '\s+'), s -> len(s) > 0) AS tk
      FROM ded),
    msh AS (SELECT doc_id,
        CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
             ELSE list_transform(range(1, len(tk) - 1),
                  i -> concat_ws(' ', tk[CAST(i AS INT)], tk[CAST(i + 1 AS INT)],
                                      tk[CAST(i + 2 AS INT)])) END AS sh
      FROM mtoks),
    msig AS MATERIALIZED (SELECT doc_id, ${(0 until 8).map(mh).mkString(", ")} FROM msh),
    mbands AS (
      SELECT doc_id, 0 AS band, mh0 || mh1 AS s FROM msig UNION ALL
      SELECT doc_id, 1, mh2 || mh3 FROM msig UNION ALL
      SELECT doc_id, 2, mh4 || mh5 FROM msig UNION ALL
      SELECT doc_id, 3, mh6 || mh7 FROM msig),
    mpairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM mbands a JOIN mbands b ON a.band = b.band AND a.s = b.s
      WHERE a.doc_id < b.doc_id),
    medges AS (SELECT a AS src, b AS dst FROM mpairs
               UNION SELECT b, a FROM mpairs),
    mreach(id, r) AS (
      SELECT DISTINCT src, src FROM medges
      UNION
      SELECT e.dst, r.r FROM medges e JOIN mreach r ON e.src = r.id),
    mclus AS (SELECT id, min(r) AS cluster_id FROM mreach GROUP BY id),
    mnd AS MATERIALIZED (SELECT d.* FROM ded d LEFT JOIN mclus c ON d.doc_id = c.id
            WHERE c.id IS NULL OR c.cluster_id = d.doc_id),
    dtk AS (SELECT doc_id, is_bench,
        list_filter(string_split_regex(trim(text), '\s+'), s -> len(s) > 0) AS tk
      FROM mnd),
    dsh AS (SELECT doc_id, is_bench,
        CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
             ELSE list_transform(range(1, len(tk) - 1),
                  i -> concat_ws(' ', tk[CAST(i AS INT)], tk[CAST(i + 1 AS INT)],
                                      tk[CAST(i + 2 AS INT)])) END AS sh
      FROM dtk),
    dds AS MATERIALIZED (SELECT doc_id, is_bench, unnest(list_distinct(sh)) AS s
      FROM dsh),
    dbench AS (SELECT DISTINCT s FROM dds WHERE is_bench),
    dtr AS (SELECT doc_id, s FROM dds WHERE NOT is_bench),
    dsizes AS (SELECT doc_id, count(*) AS n FROM dtr GROUP BY 1),
    dhits AS (SELECT dtr.doc_id, count(*) AS h
              FROM dtr JOIN dbench USING (s) GROUP BY 1),
    dfrac AS (SELECT z.doc_id,
        round(CAST(coalesce(h.h, 0) AS DOUBLE) / z.n, 6) AS f
      FROM dsizes z LEFT JOIN dhits h USING (doc_id)),
    dec AS MATERIALIZED (SELECT m.* FROM mnd m JOIN dfrac USING (doc_id)
            WHERE NOT m.is_bench AND dfrac.f <= 0.3),
    ${nbCtes("dec", "lang")},
    nbkeep AS (SELECT dd.doc_id FROM dec dd
               LEFT JOIN best b USING (doc_id) CROSS JOIN fb
               WHERE coalesce(b.pred, fb.fc) = 'en'),
    nbk AS MATERIALIZED (SELECT d.* FROM dec d JOIN nbkeep USING (doc_id)),
    tbtok AS (SELECT doc_id, source,
        CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
          x -> len(x) > 0)) AS BIGINT) AS n_toks,
        (md5_number_lower(CAST(doc_id AS VARCHAR) || 'fw-v1')
           % 281474976710656) % 1073741824 AS hb
      FROM nbk),
    tbkeep AS (SELECT doc_id FROM (
        SELECT doc_id, coalesce(sum(n_toks) OVER (PARTITION BY source
          ORDER BY hb, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        FROM tbtok) t WHERE off < 300),
    tb AS MATERIALIZED (SELECT n.* FROM nbk n JOIN tbkeep USING (doc_id)),
    ${bpeIdsCtesOver("tb")},
    fwsrc AS (SELECT d.doc_id, c.source, d.ids
              FROM docids d JOIN tb c USING (doc_id)),
    fwoffs AS (SELECT doc_id, source, ids,
        coalesce(sum(len(ids)) OVER (PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM fwsrc),
    fwex AS (SELECT source, off + generate_subscripts(ids, 1) - 1 AS gpos,
                    unnest(ids) AS id
             FROM fwoffs),
    fwpk AS (SELECT source, CAST(gpos // 64 AS BIGINT) AS seq_id,
                    gpos % 64 AS slot, id FROM fwex),
    sq AS (SELECT source, seq_id, count(*) AS n_tokens,
             md5(array_to_string(
               list(CAST(id AS VARCHAR) ORDER BY slot), ' ')) AS ids_md5
           FROM fwpk GROUP BY 1, 2)"""
  }

  private val fineWebCtes: String = fineWebCtesFrom(
    raw"""fw0 AS MATERIALIZED (SELECT doc_id, lang, source,
        (doc_id % 97 = 0) AS is_bench, $fwSeedTextSql AS text
      FROM documents)""")

  /** the multinomial-NB replay (train on `src`.`labelCol`, score every
    * `src` row) as a CTE chain ending in `best (doc_id, pred, score,
    * n_tokens)` + `fb (fc, fs)` — shared by the classify gate and the
    * curation nb_class_filter chain */
  private def nbCtes(src: String, labelCol: String): String =
    raw"""ttoks AS (
          SELECT $labelCol AS c, unnest(list_filter(
            string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS tok
          FROM $src),
        nbcl AS (SELECT c, tok, count(*) AS cnt FROM ttoks GROUP BY 1, 2),
        nbvocab AS (SELECT DISTINCT tok FROM nbcl),
        vs AS (SELECT count(*) AS v FROM nbvocab),
        ct AS (SELECT c, CAST(sum(cnt) AS BIGINT) AS ctok FROM nbcl GROUP BY 1),
        pr AS (SELECT $labelCol AS c, count(*) AS cdocs FROM $src GROUP BY 1),
        nn AS (SELECT count(*) AS nd FROM $src),
        classes AS (SELECT pr.c,
            ln(CAST(cdocs AS DOUBLE) / CAST(nd AS DOUBLE)) AS prior,
            coalesce(ctok, 0) AS ctok
          FROM pr CROSS JOIN nn LEFT JOIN ct ON pr.c = ct.c),
        dtf AS (SELECT doc_id, tok, count(*) AS tf FROM (
            SELECT doc_id, unnest(list_filter(
              string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS tok
            FROM $src) GROUP BY 1, 2),
        dtv AS (SELECT * FROM dtf WHERE tok IN (SELECT tok FROM nbvocab)),
        fan AS (SELECT d.doc_id, cls.c, cls.prior, cls.ctok, d.tf,
                  coalesce(nbcl.cnt, 0) AS cnt
                FROM dtv d CROSS JOIN classes cls
                LEFT JOIN nbcl ON nbcl.c = cls.c AND nbcl.tok = d.tok),
        sc AS (SELECT doc_id, c, any_value(prior) AS prior,
                 any_value(ctok) AS ctok,
                 CAST(sum(tf) AS BIGINT) AS n_tokens,
                 sum(CAST(tf AS DOUBLE) * ln(CAST(cnt AS DOUBLE) + 1.0)) AS num
               FROM fan GROUP BY 1, 2),
        sc2 AS (SELECT doc_id, c, n_tokens,
                  prior + num - CAST(n_tokens AS DOUBLE)
                    * ln(CAST(ctok AS DOUBLE) + CAST(v AS DOUBLE)) AS s
                FROM sc CROSS JOIN vs),
        best AS (SELECT doc_id, c AS pred, round(s, 4) AS score, n_tokens FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY round(s, 6) DESC, c ASC) AS rn FROM sc2) WHERE rn = 1),
        fb AS (SELECT c AS fc, round(prior, 4) AS fs FROM classes
               ORDER BY round(prior, 6) DESC, c ASC LIMIT 1)"""

  /** the token-packing window replay over `docids` (seqLen 64) —
    * shared by q_pack_token_ids and the curation v4 oracle */
  private val ohlcOracle: String =
      """WITH e AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
            AS bar_start, event_type, ts, event_id, value FROM events),
        r AS (SELECT *,
            row_number() OVER (PARTITION BY bar_start, event_type
              ORDER BY ts, event_id) AS ra,
            row_number() OVER (PARTITION BY bar_start, event_type
              ORDER BY ts DESC, event_id DESC) AS rd
          FROM e),
        a AS (SELECT bar_start, event_type, round(max(value), 4) AS bar_high,
            round(min(value), 4) AS bar_low, count(*) AS n
          FROM e GROUP BY 1, 2),
        o AS (SELECT bar_start, event_type, round(value, 4) AS bar_open
          FROM r WHERE ra = 1),
        c AS (SELECT bar_start, event_type, round(value, 4) AS bar_close
          FROM r WHERE rd = 1)
        SELECT a.bar_start, a.event_type, o.bar_open, a.bar_high,
          a.bar_low, c.bar_close, a.n
        FROM a
        JOIN o ON o.bar_start = a.bar_start AND o.event_type = a.event_type
        JOIN c ON c.bar_start = a.bar_start AND c.event_type = a.event_type
        ORDER BY a.bar_start, a.event_type"""

  /** The unigram-gate segmentation as a prefixable CTE chain (needs
    * WITH RECURSIVE): lowered corpus words → every segmentation under
    * the gate's fixed vocab, enumerated — each step consumes any
    * matching piece (or a single char at the `unk` floor) and prepends
    * its length to `rlens`, so the final ORDER BY (score DESC, rlens
    * DESC) picks exactly the engine DP's answer: max total weight,
    * ties toward the longer last piece, then the longer second-to-last
    * … (rlens strings are prefix-free — piece lengths sum to the word
    * length — so the string compare IS the lexicographic tie-break).
    * Exposes `wl (doc_id, widx, w)`, `dw (w)`, `chars (symbol)` and
    * `wseg (w, acc)`. */
  private val ugSegCtes: String =
    raw"""d AS (
           SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS ws
           FROM documents),
         wl AS (SELECT doc_id, i AS widx, ws[i] AS w
           FROM d, unnest(range(1, len(ws) + 1)) t(i)),
         dw AS (SELECT DISTINCT w FROM wl),
         chars AS (SELECT DISTINCT substr(w, i, 1) AS symbol
                   FROM dw, unnest(range(1, len(w) + 1)) t(i)),
         seg AS (
           SELECT w, CAST(1 AS BIGINT) AS pos, CAST('' AS VARCHAR) AS acc,
                  CAST(0 AS BIGINT) AS score, CAST('' AS VARCHAR) AS rlens
           FROM dw
           UNION ALL
           SELECT w, pos + l,
             (CASE WHEN acc = '' THEN '' ELSE acc || ' ' END) || piece,
             score + wt,
             CAST(l AS VARCHAR) || rlens
           FROM (
             SELECT s.w, s.pos, s.acc, s.score, s.rlens, t.l,
               substr(s.w, CAST(s.pos AS INT), t.l) AS piece,
               coalesce(CASE substr(s.w, CAST(s.pos AS INT), t.l)
                  WHEN 'table' THEN -10 WHEN 'the' THEN -5 WHEN 'he' THEN -4
                  WHEN 'ta' THEN -4 WHEN 'ab' THEN -2 WHEN 'le' THEN -4
                  WHEN 'win' THEN -6 WHEN 'dow' THEN -6 WHEN 'in' THEN -4
                  WHEN 'a' THEN -3 WHEN 'e' THEN -3 WHEN 't' THEN -4
                  WHEN 's' THEN -4 END,
                 CASE WHEN t.l = 1 THEN -9 END) AS wt
             FROM seg s, unnest([1, 2, 3, 4, 5]) t(l)
             WHERE s.pos + t.l <= len(s.w) + 1)
           WHERE wt IS NOT NULL),
         bestseg AS (SELECT w, acc,
             row_number() OVER (PARTITION BY w ORDER BY score DESC, rlens DESC) AS rn
           FROM seg WHERE pos = len(w) + 1),
         wseg AS (SELECT w, acc FROM bestseg WHERE rn = 1)"""

  private val packCtes: String =
    """offs AS (SELECT doc_id, ids,
             coalesce(sum(len(ids)) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           FROM docids),
         ex AS (SELECT off + generate_subscripts(ids, 1) - 1 AS gpos,
                       unnest(ids) AS id
                FROM offs),
         pk AS (SELECT CAST(gpos // 64 AS BIGINT) AS seq_id,
                       gpos % 64 AS slot, id FROM ex),
         sq AS (SELECT seq_id, count(*) AS n_tokens,
                  md5(array_to_string(
                    list(CAST(id AS VARCHAR) ORDER BY slot), ' ')) AS ids_md5
                FROM pk GROUP BY 1)"""

  /** stupid-backoff scoring as a prefixable CTE chain (no WITH):
    * counts from `trainFrom`, scores over `scoreFrom`; exposes
    * `${p}scored (doc_id, n_tokens, ppl)`. order 3 adds the trigram
    * level: c3/c2 when the trigram context hits, α·(bigram chain)
    * when an existing trigram context misses. */
  /** Band-edge CTEs over an already-defined `p(doc_id, lang, …, ppl)`:
    * the md5 sample keep (hash48(doc_id, 'ppl-band-v1') under
    * 250000/1M) + per-language order statistics at ranks ⌈i·n/3⌉ —
    * byte-for-byte the NgramLm.pplBuckets default sampled-threshold
    * contract, so both engines derive identical band edges. */
  private val pplBandCtes: String =
    """samp AS (SELECT lang, ppl, doc_id FROM p
           WHERE (md5_number_lower(CAST(doc_id AS VARCHAR) || 'ppl-band-v1')
              % 281474976710656) % 1000000 < 250000),
         ranked AS (SELECT lang, ppl, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY ppl, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n FROM samp),
         thr AS (SELECT r.lang, r.ppl AS t_ppl, r.doc_id AS t_doc
           FROM ranked r JOIN (VALUES (1), (2)) q(qi)
             ON r.rn = greatest(1, CAST(ceil(qi * r.n / 3.0) AS BIGINT)))"""

  /** q_tokenizer_boundary's .vocab fixture: every ascii letter bare
    * (encode never hits unk), the lone `▁` marker, and marked/bare
    * variants with deliberately DIFFERENT scores so positional context
    * changes segmentations. Scores are float text — both the artifact
    * file and the oracle's integer weights derive from this one list
    * (weight = round(score·1e6), the parseVocabArtifact quantization). */
  private val boundaryVocab: Seq[(String, String)] = Seq(
    "▁" -> "-2.8",
    "a" -> "-3.0", "b" -> "-4.3", "c" -> "-3.6", "d" -> "-3.4",
    "e" -> "-2.9", "f" -> "-4.0", "g" -> "-3.9", "h" -> "-3.85",
    "i" -> "-3.3", "j" -> "-5.6", "k" -> "-4.5", "l" -> "-3.45",
    "m" -> "-3.7", "n" -> "-3.2", "o" -> "-3.05", "p" -> "-3.8",
    "q" -> "-5.4", "r" -> "-3.1", "s" -> "-3.02", "t" -> "-3.75",
    "u" -> "-3.5", "v" -> "-4.4", "w" -> "-4.1", "x" -> "-5.0",
    "y" -> "-4.2", "z" -> "-5.2",
    "▁a" -> "-2.0", "▁t" -> "-3.0", "▁e" -> "-3.4", "▁o" -> "-3.1",
    "▁r" -> "-3.6", "▁i" -> "-2.9", "▁s" -> "-2.85", "▁w" -> "-3.3",
    "▁c" -> "-3.2", "▁m" -> "-3.25", "▁b" -> "-3.41", "▁d" -> "-3.15",
    "▁f" -> "-3.35", "▁h" -> "-3.01", "▁l" -> "-3.18", "▁n" -> "-3.12",
    "▁p" -> "-3.22", "▁g" -> "-3.28", "▁u" -> "-3.47",
    "th" -> "-3.0", "▁th" -> "-2.2", "he" -> "-2.6", "▁he" -> "-2.4",
    "in" -> "-2.7", "▁in" -> "-2.3", "an" -> "-2.81", "▁an" -> "-2.5",
    "er" -> "-2.9", "▁er" -> "-3.3", "on" -> "-2.95", "at" -> "-2.92",
    "en" -> "-3.01", "es" -> "-3.03", "re" -> "-3.06", "ed" -> "-3.12",
    "or" -> "-3.08", "ar" -> "-3.09", "st" -> "-3.11", "nd" -> "-3.13",
    "ng" -> "-2.97", "ing" -> "-2.75", "▁the" -> "-1.9", "the" -> "-2.85",
    "and" -> "-2.65", "ion" -> "-2.88", "ent" -> "-2.93")

  /** the same weights as SQL VALUES rows: (piece, round(score·1e6)) */
  private def boundaryVocabValues: String =
    boundaryVocab.map { case (p, sc) =>
      s"('$p', ${math.round(sc.toDouble * 1000000L)})"
    }.mkString(", ")

  /** q_tokenizer_bytefallback's byte table: all 256 `<0xNN>` pieces,
    * scores on a small closed-form cycle (−6.00 … −6.06 by byte % 7)
    * so the ORACLE derives the same weights from range(0,256) without
    * 256 literal rows. String scores are float-formatted — the file
    * stays in spm's log-prob scale like the boundary vocab. */
  private val byteFallbackRows: Seq[(String, String)] =
    (0 until 256).map { b =>
      ("<0x" + "%02X".format(b) + ">", "-6.0" + (b % 7).toString)
    }

  private def pplCtes(p: String, trainFrom: String, scoreFrom: String,
      order: Int = 2): String = {
    val bigramValue =
      """CASE WHEN c2.c IS NOT NULL THEN CAST(c2.c AS DOUBLE) / c1p.c
              ELSE 0.4 * CAST(coalesce(c1w.c, 1) AS DOUBLE) / n END"""
    val sExpr =
      if (order == 2)
        s"""CASE WHEN p.prev IS NOT NULL THEN $bigramValue
                 ELSE CAST(coalesce(c1w.c, 1) AS DOUBLE) / n END"""
      else
        s"""CASE WHEN p.prev2 IS NOT NULL AND c3.c IS NOT NULL
                   THEN CAST(c3.c AS DOUBLE) / c2pp.c
                 WHEN p.prev2 IS NOT NULL THEN 0.4 * ($bigramValue)
                 WHEN p.prev IS NOT NULL THEN $bigramValue
                 ELSE CAST(coalesce(c1w.c, 1) AS DOUBLE) / n END"""
    val prev2Col = if (order < 3) "" else
      s""",
                  lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS prev2"""
    val c3Cte = if (order < 3) "" else
      s""",
      ${p}c3 AS (SELECT prev2 || ' ' || prev || ' ' || w AS g, count(*) AS c
             FROM ${p}tpairs WHERE prev2 IS NOT NULL GROUP BY 1)"""
    val c3Joins = if (order < 3) "" else
      s"""
        LEFT JOIN ${p}c3 c3 ON c3.g = p.prev2 || ' ' || p.prev || ' ' || p.w
        LEFT JOIN ${p}c2 c2pp ON c2pp.g = p.prev2 || ' ' || p.prev"""
    raw"""${p}tbase AS (
        SELECT doc_id, list_filter(
          string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS l
        FROM $trainFrom),
      ${p}ttoks AS (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos
               FROM ${p}tbase WHERE len(l) > 0),
      ${p}tpairs AS (SELECT doc_id, pos, tok AS w,
                  lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev$prev2Col
                FROM ${p}ttoks),
      ${p}c1 AS (SELECT tok AS g, count(*) AS c FROM ${p}ttoks GROUP BY 1),
      ${p}tot AS (SELECT sum(c) AS n FROM ${p}c1),
      ${p}c2 AS (SELECT prev || ' ' || w AS g, count(*) AS c FROM ${p}tpairs
             WHERE prev IS NOT NULL GROUP BY 1)$c3Cte,
      ${p}sbase AS (
        SELECT doc_id, list_filter(
          string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS l
        FROM $scoreFrom),
      ${p}stoks AS (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos
               FROM ${p}sbase WHERE len(l) > 0),
      ${p}spairs AS (SELECT doc_id, pos, tok AS w,
                  lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev$prev2Col
                FROM ${p}stoks),
      ${p}scores AS (
        SELECT p.doc_id, $sExpr AS s
        FROM ${p}spairs p
        LEFT JOIN ${p}c2 c2 ON c2.g = p.prev || ' ' || p.w
        LEFT JOIN ${p}c1 c1p ON c1p.g = p.prev
        LEFT JOIN ${p}c1 c1w ON c1w.g = p.w$c3Joins
        CROSS JOIN ${p}tot),
      ${p}scored AS (SELECT doc_id, count(*) AS n_tokens,
                   round(pow(10, -avg(log10(s))), 4) AS ppl
                 FROM ${p}scores GROUP BY 1)"""
  }

  /** the PQ half as p-prefixed CTEs (no WITH) so it composes next to
    * [[ivfAssignCtes]]'s names in one statement; exposes pcodes
    * (vec_id, sub, cell) and plut (query_id, sub, c, d) */
  private def pqCtes(m: Int, k: Int, iters: Int, sampleSize: Int): String = {
    val subDim = 64 / m
    val sb = new StringBuilder
    sb ++= s"""psamp AS (SELECT * FROM embeddings ORDER BY vec_id LIMIT $sampleSize),
      plong AS (SELECT vec_id, CAST((i - 1) // $subDim AS INT) AS sub,
          CAST((i - 1) % $subDim AS INT) AS sdim,
          CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
        FROM psamp, (SELECT unnest(range(1, 65)) AS i) ii),
      palll AS (SELECT vec_id, CAST((i - 1) // $subDim AS INT) AS sub,
          CAST((i - 1) % $subDim AS INT) AS sdim,
          CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
        FROM embeddings, (SELECT unnest(range(1, 65)) AS i) ii),
      pcent0 AS (SELECT sub, vec_id AS c, sdim, x FROM plong WHERE vec_id < $k)"""
    for (t <- 0 until iters) sb ++= s""",
      pd$t AS (SELECT l.vec_id, l.sub, c.c, sum((l.x - c.x) * (l.x - c.x)) AS d
        FROM plong l JOIN pcent$t c ON c.sub = l.sub AND c.sdim = l.sdim
        GROUP BY 1, 2, 3),
      pa$t AS (SELECT vec_id, sub, c AS cell FROM (
          SELECT vec_id, sub, c, row_number() OVER (
            PARTITION BY vec_id, sub ORDER BY d ASC, c ASC) AS rn
          FROM pd$t) WHERE rn = 1),
      pn$t AS (SELECT a.sub, a.cell AS c, l.sdim, round(avg(l.x), 6) AS x
        FROM pa$t a JOIN plong l ON l.vec_id = a.vec_id AND l.sub = a.sub
        GROUP BY 1, 2, 3),
      pcent${t + 1} AS (SELECT o.sub, o.c, o.sdim, coalesce(n.x, o.x) AS x
        FROM pcent$t o LEFT JOIN pn$t n
          ON n.sub = o.sub AND n.c = o.c AND n.sdim = o.sdim)"""
    sb ++= s""",
      pfd AS (SELECT l.vec_id, l.sub, c.c, sum((l.x - c.x) * (l.x - c.x)) AS d
        FROM palll l JOIN pcent$iters c ON c.sub = l.sub AND c.sdim = l.sdim
        GROUP BY 1, 2, 3),
      pcodes AS (SELECT vec_id, sub, c AS cell FROM (
          SELECT vec_id, sub, c, row_number() OVER (
            PARTITION BY vec_id, sub ORDER BY d ASC, c ASC) AS rn
          FROM pfd) WHERE rn = 1),
      plut AS (SELECT vec_id AS query_id, sub, c, d FROM pfd WHERE vec_id < 10)"""
    sb.toString
  }

  private def pqOracle(m: Int, k: Int, iters: Int, sampleSize: Int,
      topK: Int): String =
    s"""WITH ${pqCtes(m, k, iters, sampleSize)},
      adc AS (SELECT l.query_id, f.vec_id AS neighbor_id, round(sum(l.d), 6) AS d
        FROM pcodes f JOIN plut l ON l.sub = f.sub AND l.c = f.cell
        WHERE f.vec_id <> l.query_id
        GROUP BY 1, 2),
      ranked AS (SELECT query_id, neighbor_id, d, row_number() OVER (
          PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rk
        FROM adc)
      SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, d
      FROM ranked WHERE rk <= $topK ORDER BY query_id, rk"""

  /** IVF-PQ replay: the IVF chain restricts candidates (qprobe × fasg),
    * the PQ chain scores them (pcodes × plut) */
  private def ivfPqOracle(ivfK: Int, ivfIters: Int, nProbe: Int,
      m: Int, k: Int, iters: Int, sampleSize: Int, topK: Int): String =
    s"""WITH ${ivfAssignCtes(ivfK, ivfIters, sampleSize)},
      qprobe AS (SELECT vec_id AS query_id, c AS cell FROM (
          SELECT vec_id, c, row_number() OVER (
            PARTITION BY vec_id ORDER BY d ASC, c ASC) AS rn
          FROM fd WHERE vec_id < 10) WHERE rn <= $nProbe),
      ${pqCtes(m, k, iters, sampleSize)},
      cand AS (SELECT p.query_id, f.vec_id AS neighbor_id
        FROM qprobe p JOIN fasg f ON f.cell = p.cell
        WHERE f.vec_id <> p.query_id),
      adc AS (SELECT c.query_id, c.neighbor_id, round(sum(l.d), 6) AS d
        FROM cand c
        JOIN pcodes pc ON pc.vec_id = c.neighbor_id
        JOIN plut l ON l.query_id = c.query_id
          AND l.sub = pc.sub AND l.c = pc.cell
        GROUP BY 1, 2),
      ranked AS (SELECT query_id, neighbor_id, d, row_number() OVER (
          PARTITION BY query_id ORDER BY d ASC, neighbor_id ASC) AS rk
        FROM adc)
      SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, d
      FROM ranked WHERE rk <= $topK ORDER BY query_id, rk"""

  val oracles: Map[String, String] = Map(
    "q_pq_topk" -> pqOracle(m = 4, k = 4, iters = 3, sampleSize = 50000, topK = 5),
    "q_ivfpq_topk" -> ivfPqOracle(ivfK = 4, ivfIters = 5, nProbe = 2,
      m = 4, k = 4, iters = 3, sampleSize = 50000, topK = 5),
    "q_ivf_topk" -> ivfOracle(k = 4, iters = 5, nProbe = 2, topK = 5, sampleSize = 50000),
    // artifact round trip is bit-exact, so the probe oracles replay
    // the same trainings — save/load sits inside the oracle loop
    "q_ivf_artifact" -> ivfOracle(k = 4, iters = 5, nProbe = 2, topK = 5, sampleSize = 50000),
    "q_pq_artifact" -> pqOracle(m = 4, k = 4, iters = 3, sampleSize = 50000, topK = 5),
    "q_semdedup" -> semDedupOracle(k = 4, iters = 5, sampleSize = 50000,
      tau = 0.5, maxId = 2500L),
    "q_simhash_pairs" ->
      s"""WITH $simhashCtes
        SELECT a_doc_id, b_doc_id, CAST(dist AS INTEGER) AS dist FROM (
          SELECT DISTINCT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id,
            bit_count(xor(a.k0, b.k0)) + bit_count(xor(a.k1, b.k1))
            + bit_count(xor(a.k2, b.k2)) + bit_count(xor(a.k3, b.k3)) AS dist
          FROM sbanded a JOIN sbanded b ON a.band = b.band AND a.key = b.key
          WHERE a.doc_id < b.doc_id)
        WHERE dist <= 3 ORDER BY a_doc_id, b_doc_id""",
    "q_ann_lsh_topk" ->
      s"""WITH $lshCandCtes,
        sym AS (SELECT a_id AS query_id, b_id AS neighbor_id FROM cand
                UNION ALL SELECT b_id, a_id FROM cand),
        scored AS (SELECT s.query_id, s.neighbor_id, round($cosSql, 6) AS cos
          FROM sym s JOIN embeddings q ON q.vec_id = s.query_id
                     JOIN embeddings c ON c.vec_id = s.neighbor_id),
        ranked AS (SELECT query_id, neighbor_id, cos,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id ASC) AS rk
          FROM scored)
        SELECT query_id, neighbor_id, cos, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""",
    // Hamming recomputed from the float signs (strictly-positive rule)
    // rather than from packed words — an independent check of BitSign
    "q_ann_hamming_topk" ->
      """WITH scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            CAST(len(list_filter(list_zip(q.embedding, c.embedding),
              x -> (x[1] > 0) <> (x[2] > 0))) AS INTEGER) AS ham
          FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
          WHERE q.vec_id < 10),
        ranked AS (SELECT query_id, neighbor_id, ham,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY ham ASC, neighbor_id ASC) AS rk
          FROM scored)
        SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, ham
        FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""",
    // the quantizer replayed verbatim: floor(127·x/max|x| + 0.5), then
    // the exact integer dot — every step integer or bit-reproducible
    "q_ann_sq8_topk" ->
      """WITH mx AS (
          SELECT vec_id, embedding,
            list_max(list_transform(embedding, x -> abs(x))) AS m
          FROM embeddings),
        codes AS (
          SELECT vec_id,
            CASE WHEN m > 0 THEN list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 127 / CAST(m AS DOUBLE)
                     + 0.5) AS INTEGER))
              ELSE list_transform(embedding, x -> CAST(0 AS INTEGER)) END AS code
          FROM mx),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            CAST(list_sum(list_transform(list_zip(q.code, c.code),
              x -> x[1] * x[2])) AS BIGINT) AS idot
          FROM codes q JOIN codes c ON c.vec_id <> q.vec_id
          WHERE q.vec_id < 10),
        ranked AS (SELECT query_id, neighbor_id, idot,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY idot DESC, neighbor_id ASC) AS rk
          FROM scored)
        SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, idot
        FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""",
    // both stages replayed: 16-dim coarse cosine → top-25 pool →
    // 64-dim exact rerank, identical rounding and tie-breaks
    "q_ann_prefix_rerank" ->
      s"""WITH qs AS (SELECT * FROM embeddings WHERE vec_id < 10),
        coarse AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            round(${cosSqlDim(16)}, 6) AS ccos
          FROM qs q JOIN embeddings c ON c.vec_id <> q.vec_id),
        cand AS (SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY ccos DESC, neighbor_id ASC) AS crk
            FROM coarse) WHERE crk <= 25),
        exact AS (SELECT s.query_id, s.neighbor_id, round($cosSql, 6) AS cos
          FROM cand s JOIN embeddings q ON q.vec_id = s.query_id
                      JOIN embeddings c ON c.vec_id = s.neighbor_id),
        ranked AS (SELECT query_id, neighbor_id, cos,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id ASC) AS rk
          FROM exact)
        SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, cos
        FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""",
    // complete pigeonhole recall at maxDist 15 with 16 bands means the
    // oracle is just the exact pairwise sign-mismatch filter
    "q_hamming_neardup" ->
      """SELECT a_vec_id, b_vec_id, dist FROM (
          SELECT a.vec_id AS a_vec_id, b.vec_id AS b_vec_id,
            CAST(len(list_filter(list_zip(a.embedding, b.embedding),
              x -> (x[1] > 0) <> (x[2] > 0))) AS INTEGER) AS dist
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        WHERE dist <= 15 ORDER BY a_vec_id, b_vec_id""",
    // md5 over VARCHAR hashes its UTF-8 bytes == the binary payload
    // (payload is the UTF-8 encoding of text)
    "q_multimodal_decode" ->
      """WITH m AS (SELECT doc_id AS media_id, text AS p FROM documents)
        SELECT media_id,
          CAST(16 + md5_number_lower(p) % 1024 AS INTEGER) AS decoded_width,
          CAST(16 + (md5_number_lower(p) >> 10) % 1024 AS INTEGER) AS decoded_height,
          round(((md5_number_lower(p) >> 20) % 256) / 255.0, 6) AS mean_luma,
          round(CAST(CAST(md5_number_lower(p || 'e0') % 1000 AS FLOAT) / CAST(1000.0 AS FLOAT) AS DOUBLE), 6) AS emb_0
        FROM m ORDER BY media_id""",
    // the md5-surrogate hash (two's-complement of md5_number_lower),
    // the seeded copies, the 16-bit band buckets and the Hamming
    // verify replayed bit-for-bit
    "q_image_neardup" ->
      """WITH u AS (SELECT doc_id AS media_id, md5_number_lower(text) AS uh FROM documents),
        h AS (SELECT media_id, CAST(CASE WHEN uh >= 9223372036854775808
                THEN CAST(uh AS HUGEINT) - 18446744073709551616
                ELSE CAST(uh AS HUGEINT) END AS BIGINT) AS hsh FROM u),
        seeded AS (
          SELECT media_id, hsh FROM h
          UNION ALL SELECT media_id + 1000000, xor(hsh, 262146) FROM h
            WHERE media_id % 5 = 0
          UNION ALL SELECT media_id + 2000000, hsh FROM h
            WHERE media_id % 7 = 0),
        banded AS (SELECT media_id, hsh, b AS band, (hsh >> (b * 16)) & 65535 AS key
                   FROM seeded, unnest([0, 1, 2, 3]) t(b)),
        pairs AS (SELECT DISTINCT a.media_id AS a_media_id,
                    b.media_id AS b_media_id,
                    CAST(bit_count(xor(a.hsh, b.hsh)) AS INTEGER) AS dist
                  FROM banded a JOIN banded b
                    ON a.band = b.band AND a.key = b.key
                  WHERE a.media_id < b.media_id)
        SELECT a_media_id, b_media_id, dist FROM pairs
        WHERE dist <= 3 ORDER BY a_media_id, b_media_id""",
    // streaming hash near-dup: the ingest (with %10 exact re-entries)
    // plus the in-stream %7 XOR seeds, banded 16-bit buckets, pair =
    // same-bucket collision with exact Hamming distance ≤ 3 — the
    // batch q_image_neardup replay over the streamed corpus
    "q_stream_hash_neardup" ->
      """WITH u AS (
          SELECT doc_id, md5_number_lower(text) AS uh FROM documents
          UNION ALL
          SELECT doc_id + 1000000, md5_number_lower(text) FROM documents
          WHERE doc_id % 10 = 0),
        h AS (SELECT doc_id, CAST(CASE WHEN uh >= 9223372036854775808
                THEN CAST(uh AS HUGEINT) - 18446744073709551616
                ELSE CAST(uh AS HUGEINT) END AS BIGINT) AS hsh FROM u),
        seeded AS (
          SELECT doc_id, hsh FROM h
          UNION ALL SELECT doc_id + 2000000, xor(hsh, 262146) FROM h
            WHERE doc_id % 7 = 0),
        banded AS (SELECT doc_id, hsh, b AS band, (hsh >> (b * 16)) & 65535 AS key
                   FROM seeded, unnest([0, 1, 2, 3]) t(b)),
        pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                    CAST(bit_count(xor(a.hsh, b.hsh)) AS INTEGER) AS dist
                  FROM banded a JOIN banded b
                    ON a.band = b.band AND a.key = b.key
                  WHERE a.doc_id < b.doc_id)
        SELECT a_id, b_id, dist FROM pairs
        WHERE dist <= 3 ORDER BY a_id, b_id""",
    // chunk stage: the gopher battery (min 25) gates, then the
    // q_chunk_documents token-slicing replay over the survivors
    "q_curate_chunk" ->
      raw"""WITH gw AS (SELECT doc_id,
            list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), t -> len(t) > 0) AS words,
            list_filter(string_split(text, chr(10)), x -> len(x) > 0) AS lines
          FROM documents),
        gm AS (SELECT doc_id, len(words) AS n_words, len(lines) AS n_lines,
            CASE WHEN len(words) = 0 THEN 0.0
                 ELSE CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE) / len(words) END AS mean_len,
            len(list_filter(words, x -> contains(x, '#') OR contains(x, '...') OR contains(x, '…'))) AS n_sym,
            len(list_filter(lines, x -> starts_with(x, '-') OR starts_with(x, '*') OR starts_with(x, '•'))) AS n_bul,
            len(list_filter(lines, x -> ends_with(x, '...') OR ends_with(x, '…'))) AS n_ell,
            len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
            len(list_filter(['the','a','an','and','or','of','to','in','is','on','for','with'],
                s -> list_contains(list_transform(words, x -> lower(x)), s))) AS n_stop
          FROM gw),
        gk AS (SELECT doc_id FROM gm WHERE
            (n_words >= 25 AND n_words <= 100000)
            AND (mean_len >= 3.0 AND mean_len <= 10.0)
            AND (n_sym <= n_words * 0.1)
            AND (n_lines = 0 OR n_bul <= n_lines * 0.9)
            AND (n_lines = 0 OR n_ell <= n_lines * 0.3)
            AND (n_words = 0 OR n_alpha >= n_words * 0.8)
            AND (n_stop >= 2)),
        gkept AS (SELECT d.doc_id, d.source, d.text
                  FROM documents d JOIN gk USING (doc_id)),
        cd AS (SELECT doc_id, source,
            list_filter(string_split_regex(trim(text), '\s+'), s -> len(s) > 0) AS tk
          FROM gkept),
        cm AS (SELECT doc_id, source, tk, len(tk) AS n,
            GREATEST(1, CAST(ceil((len(tk) - 16) / 48.0) AS BIGINT)) AS nc
          FROM cd),
        ce AS (SELECT doc_id, source, tk, n, unnest(range(nc)) AS i FROM cm)
        SELECT doc_id, source, CAST(i AS INT) AS chunk_idx,
          md5(array_to_string(tk[i*48 + 1 : i*48 + 64], ' ')) AS chunk_md5,
          CAST(GREATEST(LEAST(64, n - i*48), 0) AS INT) AS n_chunk_tokens
        FROM ce ORDER BY doc_id, chunk_idx""",
    // media curation: surrogate hash + exact-copy seeds + banded CC,
    // survivors keep their cluster min
    "q_curate_media" ->
      """WITH RECURSIVE
        u AS (SELECT doc_id AS media_id, md5_number_lower(text) AS uh FROM documents),
        h AS (SELECT media_id, CAST(CASE WHEN uh >= 9223372036854775808
                THEN CAST(uh AS HUGEINT) - 18446744073709551616
                ELSE CAST(uh AS HUGEINT) END AS BIGINT) AS hsh FROM u),
        seeded AS (
          SELECT media_id, hsh FROM h
          UNION ALL SELECT media_id + 2000000, hsh FROM h
            WHERE media_id % 7 = 0),
        banded AS (SELECT media_id, hsh, b AS band, (hsh >> (b * 16)) & 65535 AS key
                   FROM seeded, unnest([0, 1, 2, 3]) t(b)),
        pairs AS (SELECT a, b FROM (
            SELECT DISTINCT a.media_id AS a, b.media_id AS b,
              CAST(bit_count(xor(a.hsh, b.hsh)) AS INTEGER) AS dist
            FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
            WHERE a.media_id < b.media_id) WHERE dist <= 3),
        edges AS (SELECT a AS src, b AS dst FROM pairs
                  UNION SELECT b, a FROM pairs),
        reach(id, r) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.dst, r.r FROM edges e JOIN reach r ON e.src = r.id),
        clus AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        SELECT s.media_id, s.hsh AS image_hash
        FROM seeded s LEFT JOIN clus c ON s.media_id = c.id
        WHERE c.id IS NULL OR c.cluster_id = s.media_id
        ORDER BY s.media_id""",
    // the audio surrogate replays as md5_number_lower(p || 'ah')
    // (two's-complemented); seeds + banded Hamming pairs row-for-row
    "q_audio_neardup" ->
      """WITH u AS (SELECT doc_id AS media_id,
              md5_number_lower(text || 'ah') AS uh FROM documents),
        h AS (SELECT media_id, CAST(CASE WHEN uh >= 9223372036854775808
                THEN CAST(uh AS HUGEINT) - 18446744073709551616
                ELSE CAST(uh AS HUGEINT) END AS BIGINT) AS hsh FROM u),
        seeded AS (
          SELECT media_id, hsh FROM h
          UNION ALL SELECT media_id + 1000000, xor(hsh, 2064) FROM h
            WHERE media_id % 6 = 0
          UNION ALL SELECT media_id + 2000000, hsh FROM h
            WHERE media_id % 8 = 0),
        banded AS (SELECT media_id, hsh, b AS band, (hsh >> (b * 16)) & 65535 AS key
                   FROM seeded, unnest([0, 1, 2, 3]) t(b)),
        pairs AS (SELECT DISTINCT a.media_id AS a_media_id,
                    b.media_id AS b_media_id,
                    CAST(bit_count(xor(a.hsh, b.hsh)) AS INTEGER) AS dist
                  FROM banded a JOIN banded b
                    ON a.band = b.band AND a.key = b.key
                  WHERE a.media_id < b.media_id)
        SELECT a_media_id, b_media_id, dist FROM pairs
        WHERE dist <= 3 ORDER BY a_media_id, b_media_id""",
    // the stub's digest frames replay as md5(p || 'f<i>') hex, whose
    // md5_number_lower (two's-complemented) is the engine fingerprint;
    // seeds + the shared-count join replayed row-for-row
    "q_video_neardup" ->
      """WITH m AS (SELECT doc_id AS media_id, text AS p FROM documents),
        fru AS (SELECT media_id, CAST(i AS INTEGER) AS frame_idx,
                  md5_number_lower(md5(p || 'f' || CAST(i AS VARCHAR))) AS ufp
                FROM m, unnest([0, 1, 2, 3]) t(i)),
        fr AS (SELECT media_id, frame_idx,
                 CAST(CASE WHEN ufp >= 9223372036854775808
                   THEN CAST(ufp AS HUGEINT) - 18446744073709551616
                   ELSE CAST(ufp AS HUGEINT) END AS BIGINT) AS fp FROM fru),
        seeded AS (SELECT * FROM fr
          UNION ALL SELECT media_id + 1000000, frame_idx, fp FROM fr
            WHERE media_id % 6 = 0
          UNION ALL SELECT media_id + 2000000, frame_idx, fp FROM fr
            WHERE media_id % 9 = 0 AND frame_idx < 2
          UNION ALL SELECT media_id - 1 + 2000000, frame_idx, fp FROM fr
            WHERE (media_id - 1) % 9 = 0 AND frame_idx >= 2),
        d AS (SELECT DISTINCT media_id, fp FROM seeded),
        pairs AS (SELECT a.media_id AS a_media_id, b.media_id AS b_media_id,
                    count(*) AS n_shared
                  FROM d a JOIN d b ON a.fp = b.fp
                  WHERE a.media_id < b.media_id GROUP BY 1, 2)
        SELECT a_media_id, b_media_id, CAST(n_shared AS BIGINT) AS n_shared
        FROM pairs WHERE n_shared >= 2 ORDER BY a_media_id, b_media_id""",
    "q_multimodal_audio" ->
      """WITH m AS (SELECT doc_id AS media_id, text AS p FROM documents)
        SELECT media_id,
          CAST(8000 + md5_number_lower(p) % 40000 AS DOUBLE) AS sample_rate,
          CAST(1 + (md5_number_lower(p) >> 16) % 2 AS INTEGER) AS channels,
          CAST((md5_number_lower(p) >> 18) % 600000 AS BIGINT) AS duration_ms,
          round(((md5_number_lower(p) >> 24) % 1000) / 1000.0, 6) AS rms,
          round(CAST(CAST(md5_number_lower(p || 'a0') % 1000 AS FLOAT) / CAST(1000.0 AS FLOAT) AS DOUBLE), 6) AS aemb_0
        FROM m ORDER BY media_id""",
    "q_multimodal_resize" ->
      """SELECT doc_id AS media_id, upper(md5(text || 'r224x224')) AS resized_hex
         FROM documents ORDER BY media_id""",
    "q_multimodal_frames" ->
      """WITH m AS (SELECT doc_id AS media_id, text AS p FROM documents)
        SELECT media_id, CAST(i AS INTEGER) AS frame_idx,
               upper(md5(p || 'f' || i)) AS frame_hex
        FROM m, (SELECT unnest(range(0, 3)) AS i) r
        ORDER BY media_id, frame_idx""",
    "q_text_profile" ->
      raw"""WITH $tokCte, $hitsCte
        SELECT doc_id,
          CAST(len(tk) AS INTEGER) AS n_tokens,
          CAST(length(text) AS INTEGER) AS n_chars_c,
          CASE WHEN length(text) = 0 THEN 0.0
               ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
                    / CAST(length(text) AS INTEGER) END AS punct_ratio,
          CASE WHEN len(tkl) = 0 THEN 0.0
               ELSE CAST(len(list_filter(tkl, s -> list_contains($stop12, s))) AS DOUBLE)
                    / CAST(len(tkl) AS INTEGER) END AS stopword_ratio,
          CASE WHEN len(tk) = 0 THEN 0.0
               ELSE CAST(list_sum(list_transform(tk, s -> length(s))) AS DOUBLE)
                    / CAST(len(tk) AS INTEGER) END AS mean_token_len,
          $langPredSql AS lang_pred,
          md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
          greatest(0.0, least(1.0,
            least(CAST(len(tk) AS INTEGER) / 50.0, 1.0) * 0.4
            + greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
                ELSE CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
                     / CAST(length(text) AS INTEGER) END) * 5.0) * 0.3
            + (1.0 - abs((CASE WHEN len(tkl) = 0 THEN 0.0
                ELSE CAST(len(list_filter(tkl, s -> list_contains($stop12, s))) AS DOUBLE)
                     / CAST(len(tkl) AS INTEGER) END) - 0.4)) * 0.3)) AS quality
        FROM hits ORDER BY doc_id""",
    "q_lang_confusion" ->
      raw"""WITH $tokCte, $hitsCte
        SELECT lang, $langPredSql AS lang_pred, count(*) AS n
        FROM hits GROUP BY 1, 2 ORDER BY lang, lang_pred""",
    "q_dedup_exact" ->
      raw"""SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
          min(doc_id) AS kept_id, count(*) AS n_copies
        FROM documents GROUP BY 1 ORDER BY fp""",
    "q_dedup_minhash_sigs" ->
      raw"""WITH $tokCte
        SELECT doc_id, ${(0 until 8).map(mh).mkString(", ")}
        FROM sh ORDER BY doc_id""",
    "q_dedup_minhash_pairs" ->
      raw"""WITH $tokCte,
        sig AS (SELECT doc_id, ${(0 until 8).map(mh).mkString(", ")} FROM sh),
        bands AS (
          SELECT doc_id, 0 AS band, mh0 || mh1 AS s FROM sig UNION ALL
          SELECT doc_id, 1, mh2 || mh3 FROM sig UNION ALL
          SELECT doc_id, 2, mh4 || mh5 FROM sig UNION ALL
          SELECT doc_id, 3, mh6 || mh7 FROM sig)
        SELECT DISTINCT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id
        FROM bands a JOIN bands b ON a.band = b.band AND a.s = b.s
        WHERE a.doc_id < b.doc_id
        ORDER BY a_doc_id, b_doc_id""",
    "q_pack_sequences" ->
      """WITH d AS (SELECT doc_id, CAST(length(text) AS INT) AS n_chars FROM documents)
        SELECT doc_id, n_chars,
          CAST(floor((sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                      - n_chars) / 4096.0) AS BIGINT) AS batch_id
        FROM d ORDER BY doc_id""",
    // chunk=64, overlap=16 → stride 48; same token contract as toks
    "q_chunk_documents" ->
      raw"""WITH d AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             s -> len(s) > 0) AS tk
          FROM documents),
        m AS (SELECT doc_id, tk, len(tk) AS n,
                GREATEST(1, CAST(ceil((len(tk) - 16) / 48.0) AS BIGINT)) AS nc
              FROM d),
        e AS (SELECT doc_id, tk, n, unnest(range(nc)) AS i FROM m)
        SELECT doc_id, CAST(i AS INT) AS chunk_idx,
          array_to_string(tk[i*48 + 1 : i*48 + 64], ' ') AS chunk_text,
          CAST(GREATEST(LEAST(64, n - i*48), 0) AS INT) AS n_chunk_tokens
        FROM e ORDER BY doc_id, chunk_idx""",
    // low 48 bits via % 2^48 (unsigned), buckets of 10000: train <8000,
    // val <9000, test otherwise — the assignSplits cumulative ranges
    "q_hash_split" ->
      """WITH b AS (SELECT
           (md5_number_lower(CAST(event_id AS VARCHAR) || 'split-v1')
              % 281474976710656) % 10000 AS bk, value
         FROM events)
        SELECT CASE WHEN bk < 8000 THEN 'train'
                    WHEN bk < 9000 THEN 'val' ELSE 'test' END AS split,
          count(*) AS n, round(sum(value), 4) AS total_value
        FROM b GROUP BY 1 ORDER BY split""",
    "q_dedup_clusters" ->
      raw"""WITH RECURSIVE $tokCte,
        sig AS (SELECT doc_id, ${(0 until 8).map(mh).mkString(", ")} FROM sh),
        bands AS (
          SELECT doc_id, 0 AS band, mh0 || mh1 AS s FROM sig UNION ALL
          SELECT doc_id, 1, mh2 || mh3 FROM sig UNION ALL
          SELECT doc_id, 2, mh4 || mh5 FROM sig UNION ALL
          SELECT doc_id, 3, mh6 || mh7 FROM sig),
        pairs AS (
          SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
          FROM bands a JOIN bands b ON a.band = b.band AND a.s = b.s
          WHERE a.doc_id < b.doc_id),
        edges AS (SELECT a AS src, b AS dst FROM pairs
                  UNION SELECT b, a FROM pairs),
        reach(id, r) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.dst, r.r FROM edges e JOIN reach r ON e.src = r.id)
        SELECT id AS doc_id, min(r) AS cluster_id
        FROM reach GROUP BY id ORDER BY doc_id""",
    "q_dedup_minhash_pairs_capped" ->
      raw"""WITH $tokCte,
        sig AS (SELECT doc_id, ${(0 until 8).map(mh).mkString(", ")} FROM sh),
        bands0 AS (
          SELECT doc_id, 0 AS band, mh0 || mh1 AS s FROM sig UNION ALL
          SELECT doc_id, 1, mh2 || mh3 FROM sig UNION ALL
          SELECT doc_id, 2, mh4 || mh5 FROM sig UNION ALL
          SELECT doc_id, 3, mh6 || mh7 FROM sig),
        bands AS (SELECT doc_id, band, s FROM (
            SELECT doc_id, band, s, count(*) OVER (PARTITION BY band, s) AS bn
            FROM bands0)
          WHERE bn <= 2)
        SELECT DISTINCT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id
        FROM bands a JOIN bands b ON a.band = b.band AND a.s = b.s
        WHERE a.doc_id < b.doc_id
        ORDER BY a_doc_id, b_doc_id""",
    "q_ngram_jaccard_capped" ->
      raw"""WITH $tokCte,
        ds0 AS (SELECT doc_id, unnest(list_distinct(sh)) AS s FROM sh),
        ds AS (SELECT doc_id, s FROM (
            SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM ds0)
          WHERE df <= 3),
        sizes AS (SELECT doc_id, count(*) AS sz FROM ds GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id, count(*) AS n_common
          FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT i.a_doc_id, i.b_doc_id,
               CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.a_doc_id
        JOIN sizes sb ON sb.doc_id = i.b_doc_id
        ORDER BY a_doc_id, b_doc_id""",
    "q_ngram_jaccard" ->
      raw"""WITH $tokCte,
        ds AS (SELECT doc_id, unnest(list_distinct(sh)) AS s FROM sh),
        sizes AS (SELECT doc_id, count(*) AS sz FROM ds GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id, count(*) AS n_common
          FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT i.a_doc_id, i.b_doc_id,
               CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.a_doc_id
        JOIN sizes sb ON sb.doc_id = i.b_doc_id
        ORDER BY a_doc_id, b_doc_id""",
    "q_repetition_profile" ->
      raw"""WITH $tokCte,
        scal AS (
          SELECT t.doc_id, len(trim(t.text)) AS chars,
                 len(t.tk) AS n_tokens, len(list_distinct(t.tk)) AS n_dt,
                 len(s.sh) AS n_grams, len(list_distinct(s.sh)) AS n_dg
          FROM toks t JOIN sh s ON t.doc_id = s.doc_id),
        grams AS (SELECT doc_id, unnest(sh) AS g FROM sh),
        gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
        topg AS (
          SELECT doc_id, g, c,
                 row_number() OVER (PARTITION BY doc_id
                     ORDER BY c DESC, len(g) DESC, g ASC) AS rk
          FROM gc)
        SELECT s.doc_id, CAST(s.n_tokens AS BIGINT) AS n_tokens,
               round(CAST(s.n_dt AS DOUBLE) / s.n_tokens, 6) AS distinct_token_ratio,
               round(CAST(s.n_grams - s.n_dg AS DOUBLE) / s.n_grams, 6) AS dup_gram_frac,
               t.g AS top_gram,
               round(CAST(t.c * len(t.g) AS DOUBLE) / s.chars, 6) AS top_gram_frac
        FROM scal s JOIN topg t ON t.doc_id = s.doc_id AND t.rk = 1
        ORDER BY s.doc_id""",
    "q_decontaminate" ->
      raw"""WITH $tokCte,
        ds AS (SELECT doc_id, unnest(list_distinct(sh)) AS s FROM sh),
        bench AS (SELECT DISTINCT s FROM ds WHERE doc_id % 97 = 0),
        tr AS (SELECT doc_id, s FROM ds WHERE doc_id % 97 <> 0),
        sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM tr GROUP BY 1),
        hits AS (SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_hits
                 FROM tr JOIN bench ON tr.s = bench.s GROUP BY 1)
        SELECT z.doc_id, coalesce(h.n_hits, 0) AS n_hits, z.n_shingles,
               round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / z.n_shingles, 6)
                 AS contaminated_frac
        FROM sizes z LEFT JOIN hits h ON h.doc_id = z.doc_id
        ORDER BY z.doc_id""",
    // positioned shingles (1-based list index − 1 = the engine's
    // 0-based posexplode), diagonal islands via pt − row_number
    "q_contamination_spans" ->
      raw"""WITH $tokCte,
        pos AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, sh[CAST(i AS INT)] AS s
                FROM sh, unnest(range(1, len(sh) + 1)) t(i)),
        bench AS (SELECT doc_id AS bench_id, p AS pb, s FROM pos WHERE doc_id % 97 = 0),
        tr AS (SELECT doc_id AS train_id, p AS pt, s FROM pos WHERE doc_id % 97 <> 0),
        m AS (SELECT train_id, bench_id, pt, pt - pb AS diag
              FROM tr JOIN bench USING (s)),
        isl AS (SELECT train_id, bench_id, diag,
                  pt - row_number() OVER (PARTITION BY train_id, bench_id, diag ORDER BY pt) AS island
                FROM m),
        runs AS (SELECT train_id, bench_id, CAST(count(*) AS BIGINT) AS run
                 FROM isl GROUP BY train_id, bench_id, diag, island),
        mx AS (SELECT train_id, bench_id, max(run) AS max_run
               FROM runs GROUP BY 1, 2)
        SELECT train_id, bench_id, max_run, max_run + 2 AS span_tokens
        FROM mx WHERE max_run >= 2 ORDER BY train_id, bench_id""",
    // corpus-self duplicated spans: same positioned shingles, doc-freq
    // ≥ 2 instead of the benchmark split, islands per doc
    "q_repeated_spans" ->
      raw"""WITH $tokCte,
        pos AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, sh[CAST(i AS INT)] AS s
                FROM sh, unnest(range(1, len(sh) + 1)) t(i)),
        freq AS (SELECT s FROM pos GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
        hit AS (SELECT doc_id, p FROM pos JOIN freq USING (s)),
        isl AS (SELECT doc_id, p,
                  p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g
                FROM hit),
        sp AS (SELECT doc_id, min(p) AS span_start,
                 CAST(count(*) AS BIGINT) AS span_shingles
               FROM isl GROUP BY doc_id, g)
        SELECT doc_id, span_start, span_shingles, span_shingles + 2 AS span_tokens
        FROM sp ORDER BY doc_id, span_start""",
    // destructive form: spans widen by the shingle tail (n−1 tokens),
    // token indices in any span drop, untouched docs stay verbatim
    "q_substring_dedup" ->
      raw"""WITH $tokCte,
        pos AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, sh[CAST(i AS INT)] AS s
                FROM sh, unnest(range(1, len(sh) + 1)) t(i)),
        freq AS (SELECT s FROM pos GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
        hit AS (SELECT doc_id, p FROM pos JOIN freq USING (s)),
        isl AS (SELECT doc_id, p,
                  p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g
                FROM hit),
        sp AS (SELECT doc_id, min(p) AS span_start,
                 CAST(count(*) + 2 AS BIGINT) AS span_tokens
               FROM isl GROUP BY doc_id, g),
        dropped AS (SELECT doc_id, p2
                    FROM sp, unnest(range(span_start, span_start + span_tokens)) u(p2)),
        dl AS (SELECT doc_id, list(p2) AS dl FROM dropped GROUP BY doc_id),
        clean AS (
          SELECT t.doc_id,
            CASE WHEN d.dl IS NULL THEN t.text
                 -- array_to_string of an EMPTY list is NULL in DuckDB;
                 -- Spark's concat_ws gives '' — align on ''
                 ELSE coalesce(array_to_string(
                   list_where(t.tk,
                     list_transform(range(1, len(t.tk) + 1),
                       i -> NOT list_contains(d.dl, CAST(i - 1 AS BIGINT)))), ' '), '')
            END AS text
          FROM toks t LEFT JOIN dl d USING (doc_id))
        SELECT doc_id, md5(text) AS text_md5 FROM clean ORDER BY doc_id""",
    "q_embedding_knn" ->
      s"""WITH scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round($cosSql, 6) AS cos
          FROM embeddings q, embeddings c
          WHERE q.vec_id < 10 AND c.vec_id != q.vec_id),
        ranked AS (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id ASC) AS rk
          FROM scored)
        SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, cos
        FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""",
    "q_embedding_neardup" ->
      s"""WITH $lshCandCtes
          SELECT cd.a_id, cd.b_id, round($cosSql, 6) AS cos
          FROM cand cd JOIN embeddings q ON q.vec_id = cd.a_id
                       JOIN embeddings c ON c.vec_id = cd.b_id
          WHERE round($cosSql, 6) >= 0.3
          ORDER BY a_id, b_id""",
    "q_stream_daily" ->
      """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
         event_type, count(*) AS n, round(sum(value), 4) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY day, event_type""",
    // the mask-spread sequence replayed literally (0x00FF00FF,
    // 0x0F0F0F0F, 0x33333333, 0x55555555), x in even bits, y odd
    "q_zorder_key" ->
      """WITH q AS (SELECT l_orderkey, l_linenumber,
            CAST(least(greatest(floor((CAST(l_quantity AS DOUBLE) - 0.0) / CAST(64.0 AS DOUBLE) * 65536.0), 0.0), 65535.0) AS BIGINT) AS qx,
            CAST(least(greatest(floor((CAST(l_discount AS DOUBLE) - 0.0) / CAST(0.11 AS DOUBLE) * 65536.0), 0.0), 65535.0) AS BIGINT) AS qy
          FROM lineitem),
        s1 AS (SELECT *, (qx | (qx << 8)) & 16711935 AS x1, (qy | (qy << 8)) & 16711935 AS y1 FROM q),
        s2 AS (SELECT *, (x1 | (x1 << 4)) & 252645135 AS x2, (y1 | (y1 << 4)) & 252645135 AS y2 FROM s1),
        s3 AS (SELECT *, (x2 | (x2 << 2)) & 858993459 AS x3, (y2 | (y2 << 2)) & 858993459 AS y3 FROM s2),
        s4 AS (SELECT *, (x3 | (x3 << 1)) & 1431655765 AS x4, (y3 | (y3 << 1)) & 1431655765 AS y4 FROM s3)
        SELECT l_orderkey, l_linenumber, x4 | (y4 << 1) AS zkey
        FROM s4 ORDER BY l_orderkey, l_linenumber""",
    "q_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t FROM events),
        cand AS (
          SELECT e.event_id, o.o_orderkey, o.o_totalprice,
                 row_number() OVER (PARTITION BY e.event_id
                                    ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
          FROM ev e JOIN orders o
            ON o.o_custkey = e.user_id AND o.o_orderdate <= e.t)
        SELECT ev.event_id, ev.user_id, c.o_orderkey, c.o_totalprice
        FROM ev LEFT JOIN cand c ON c.event_id = ev.event_id AND c.rn = 1
        ORDER BY ev.event_id""",
    // the same session chain rolled up to the one-row conversion table
    "q_funnel_report" ->
      """WITH l AS (SELECT user_id, ts, event_type, epoch_us(ts) AS us,
            lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
          FROM events),
        s AS (SELECT user_id, event_type, us,
            sum(CASE WHEN prev IS NULL OR us - prev > 28800000000 THEN 1
                ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts
                ROWS UNBOUNDED PRECEDING) AS sid
          FROM l),
        base AS (SELECT DISTINCT user_id, CAST(sid AS BIGINT) AS sid FROM s),
        f1 AS (SELECT b.user_id, b.sid, min(x.us) AS t1
          FROM base b LEFT JOIN s x ON x.user_id = b.user_id
            AND CAST(x.sid AS BIGINT) = b.sid AND x.event_type = 'view'
          GROUP BY 1, 2),
        f2 AS (SELECT f1.user_id, f1.sid, f1.t1, min(x.us) AS t2
          FROM f1 LEFT JOIN s x ON x.user_id = f1.user_id
            AND CAST(x.sid AS BIGINT) = f1.sid AND x.event_type = 'click'
            AND x.us > coalesce(f1.t1, 9223372036854775807)
          GROUP BY 1, 2, 3),
        f3 AS (SELECT f2.user_id, f2.sid, f2.t1, f2.t2, min(x.us) AS t3
          FROM f2 LEFT JOIN s x ON x.user_id = f2.user_id
            AND CAST(x.sid AS BIGINT) = f2.sid AND x.event_type = 'purchase'
            AND x.us > coalesce(f2.t2, 9223372036854775807)
          GROUP BY 1, 2, 3, 4),
        agg AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions,
            CAST(sum(CASE WHEN t1 IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS reached_1,
            CAST(sum(CASE WHEN t2 IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS reached_2,
            CAST(sum(CASE WHEN t3 IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS reached_3
          FROM f3)
        SELECT n_sessions, reached_1, reached_2, reached_3,
          CASE WHEN n_sessions > 0
            THEN round(CAST(reached_1 AS DOUBLE) / n_sessions, 6)
            ELSE 0.0 END AS rate_1,
          CASE WHEN reached_1 > 0
            THEN round(CAST(reached_2 AS DOUBLE) / reached_1, 6)
            ELSE 0.0 END AS rate_2,
          CASE WHEN reached_2 > 0
            THEN round(CAST(reached_3 AS DOUBLE) / reached_2, 6)
            ELSE 0.0 END AS rate_3
        FROM agg""",
    // the same integer EWMA: scaled close values, power-of-two weight
    // shifts, exact long sums, one final division
    "q_ewma_bars" ->
      """WITH e AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
            AS bar_start, event_type, ts, event_id, value FROM events),
        r AS (SELECT *, row_number() OVER (PARTITION BY bar_start, event_type
            ORDER BY ts DESC, event_id DESC) AS rd FROM e),
        c AS (SELECT bar_start, event_type, value AS bar_close
          FROM r WHERE rd = 1),
        b AS (SELECT event_type, bar_start, bar_close,
            row_number() OVER (PARTITION BY event_type ORDER BY bar_start) AS rn,
            CAST(round(bar_close * 100) AS BIGINT) AS v
          FROM c),
        j AS (SELECT t.event_type, t.bar_start, t.bar_close,
            i.v AS vi, t.rn - i.rn AS k
          FROM b t JOIN b i ON i.event_type = t.event_type
            AND i.rn <= t.rn AND i.rn > t.rn - 41),
        a AS (SELECT event_type, bar_start, bar_close,
            sum(vi * (CAST(1 AS BIGINT) << (40 - k))) AS num,
            sum(CAST(1 AS BIGINT) << (40 - k)) AS den
          FROM j GROUP BY 1, 2, 3)
        SELECT event_type, bar_start, round(bar_close, 4) AS bar_close,
          round(num / (den * 100.0), 6) AS ewma
        FROM a ORDER BY event_type, bar_start""",
    // the forward window: earliest order ≥ ts within 30 days, least
    // orderkey on date ties
    "q_asof_forward" ->
      """WITH ev AS (SELECT event_id, user_id, ts AS t FROM events),
        cand AS (
          SELECT e.event_id, o.o_orderkey, o.o_totalprice,
                 row_number() OVER (PARTITION BY e.event_id
                                    ORDER BY o.o_orderdate ASC, o.o_orderkey ASC) AS rn
          FROM ev e JOIN orders o
            ON o.o_custkey = e.user_id AND o.o_orderdate >= e.t
            AND o.o_orderdate <= e.t + INTERVAL 30 DAY)
        SELECT ev.event_id, ev.user_id, c.o_orderkey, c.o_totalprice
        FROM ev LEFT JOIN cand c ON c.event_id = ev.event_id AND c.rn = 1
        ORDER BY ev.event_id""",
    // the batch bars — struct min/max merge makes the stream identical
    "q_stream_ohlc" -> ohlcOracle,
    // first/last by (ts, event_id) + extremes per (day, type)
    "q_ohlc_bars" -> ohlcOracle,
    // the plain join — salting must be invisible in the result
    "q_skew_join" ->
      """WITH l AS (SELECT l_orderkey, l_linenumber,
            CASE WHEN l_partkey % 100 < 3 THEN l_partkey % 3
                 ELSE l_partkey END AS jkey FROM lineitem),
        r AS (SELECT p_partkey,
            CASE WHEN p_partkey % 100 < 3 THEN p_partkey % 3
                 ELSE p_partkey END AS jkey FROM part)
        SELECT l.jkey, l.l_orderkey, l.l_linenumber, r.p_partkey
        FROM l JOIN r USING (jkey)
        ORDER BY jkey, l_orderkey, l_linenumber, p_partkey""",
    // the plain semi join — the bloom pre-filter must be invisible
    "q_bloom_semijoin" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders
          WHERE o_totalprice > 350000.0)
        ORDER BY l_orderkey, l_linenumber""",
    // the same pairs as a plain BETWEEN join (the bucket expansion is
    // an execution strategy, not a semantic)
    "q_range_join" ->
      """WITH p AS (SELECT l_orderkey, l_linenumber,
            date_diff('day', DATE '1970-01-01', l_shipdate) AS ship_day
          FROM lineitem),
        iv AS (SELECT o_orderkey,
            date_diff('day', DATE '1970-01-01', o_orderdate) AS d0
          FROM orders WHERE o_orderkey % 150 = 0)
        SELECT p.l_orderkey, p.l_linenumber, iv.o_orderkey, p.ship_day
        FROM p JOIN iv
          ON p.ship_day >= iv.d0 AND p.ship_day <= iv.d0 + 7
        ORDER BY l_orderkey, l_linenumber, o_orderkey""",
    // the identical µs gap-break cumsum (ROWS frame both engines),
    // then the per-session aggregates
    "q_sessionize" ->
      """WITH l AS (SELECT user_id, ts, value, epoch_us(ts) AS us,
            lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
          FROM events),
        s AS (SELECT user_id, ts, value,
            sum(CASE WHEN prev IS NULL OR us - prev > 28800000000 THEN 1
                ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts
                ROWS UNBOUNDED PRECEDING) AS sid
          FROM l)
        SELECT user_id, CAST(sid AS BIGINT) AS session_seq,
          min(ts) AS session_start, max(ts) AS session_end,
          count(*) AS n_events, round(sum(value), 4) AS total_value
        FROM s GROUP BY 1, 2 ORDER BY user_id, session_seq""",
    // the same sessions, then the three chained earliest-after-previous
    // step CTEs (a skipped step's coalesce(MAX) blocks the rest)
    "q_funnel_steps" ->
      """WITH l AS (SELECT user_id, ts, event_type, epoch_us(ts) AS us,
            lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
          FROM events),
        s AS (SELECT user_id, event_type, us,
            sum(CASE WHEN prev IS NULL OR us - prev > 28800000000 THEN 1
                ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts
                ROWS UNBOUNDED PRECEDING) AS sid
          FROM l),
        base AS (SELECT DISTINCT user_id, CAST(sid AS BIGINT) AS sid FROM s),
        f1 AS (SELECT b.user_id, b.sid, min(x.us) AS t1
          FROM base b LEFT JOIN s x ON x.user_id = b.user_id
            AND CAST(x.sid AS BIGINT) = b.sid AND x.event_type = 'view'
          GROUP BY 1, 2),
        f2 AS (SELECT f1.user_id, f1.sid, f1.t1, min(x.us) AS t2
          FROM f1 LEFT JOIN s x ON x.user_id = f1.user_id
            AND CAST(x.sid AS BIGINT) = f1.sid AND x.event_type = 'click'
            AND x.us > coalesce(f1.t1, 9223372036854775807)
          GROUP BY 1, 2, 3),
        f3 AS (SELECT f2.user_id, f2.sid, f2.t1, f2.t2, min(x.us) AS t3
          FROM f2 LEFT JOIN s x ON x.user_id = f2.user_id
            AND CAST(x.sid AS BIGINT) = f2.sid AND x.event_type = 'purchase'
            AND x.us > coalesce(f2.t2, 9223372036854775807)
          GROUP BY 1, 2, 3, 4)
        SELECT user_id, sid AS session_seq, t1 AS step1_us, t2 AS step2_us,
          t3 AS step3_us,
          CAST((CASE WHEN t1 IS NULL THEN 0 ELSE 1 END)
             + (CASE WHEN t2 IS NULL THEN 0 ELSE 1 END)
             + (CASE WHEN t3 IS NULL THEN 0 ELSE 1 END) AS BIGINT)
            AS steps_completed
        FROM f3 ORDER BY user_id, session_seq""",
    // the batch gap sessions minus each user's LAST session (still
    // open in streaming state when the replay ends)
    "q_stream_sessions" ->
      """WITH l AS (SELECT user_id, ts, value, epoch_us(ts) AS us,
            lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
          FROM events),
        s AS (SELECT user_id, ts, value,
            sum(CASE WHEN prev IS NULL OR us - prev > 28800000000 THEN 1
                ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts
                ROWS UNBOUNDED PRECEDING) AS sid
          FROM l),
        g AS (SELECT user_id, CAST(sid AS BIGINT) AS sid,
            min(ts) AS session_start, max(ts) AS session_end,
            CAST(count(*) AS INTEGER) AS n_events,
            round(sum(value), 4) AS total_value
          FROM s GROUP BY 1, 2),
        m AS (SELECT user_id, max(sid) AS last_sid FROM g GROUP BY 1)
        SELECT g.user_id, g.session_start, g.session_end, g.n_events,
          g.total_value
        FROM g JOIN m ON g.user_id = m.user_id AND g.sid < m.last_sid
        ORDER BY g.user_id, g.session_start""",
    // the same within-2h view→purchase pairs as a plain batch join
    "q_stream_join" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id,
          v.user_id, v.ts AS view_ts, p.ts AS purchase_ts
        FROM events v JOIN events p
          ON p.user_id = v.user_id
          AND v.event_type = 'view' AND p.event_type = 'purchase'
          AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR
        ORDER BY view_id, purchase_id""",
    // every EXIF field restated closed-form from doc_id — the engine
    // built real JPEG bytes and walked real IFDs to recover them
    "q_image_exif" ->
      """SELECT doc_id,
           'Cam-' || CAST(doc_id % 5 AS VARCHAR) AS make,
           'Mod-' || CAST(doc_id % 7 AS VARCHAR) AS model,
           '2026:08:15 12:34:0' || CAST(doc_id % 10 AS VARCHAR) AS datetime,
           CAST(doc_id % 8 + 1 AS INT) AS orientation,
           round((CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END) *
             ((doc_id % 90) + (doc_id % 60)/60.0
               + ((doc_id % 6000)/100.0)/3600.0), 9) AS gps_lat,
           round((CASE WHEN doc_id % 3 = 0 THEN 1 ELSE -1 END) *
             ((doc_id % 180) + ((doc_id * 7) % 60)/60.0
               + (((doc_id * 13) % 6000)/100.0)/3600.0), 9) AS gps_lon
         FROM documents ORDER BY doc_id""",
    // per-stratum keep thresholds over the same low-48-bit bucket as
    // q_hash_split; rows themselves are compared, not counts
    "q_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE (md5_number_lower(CAST(doc_id AS VARCHAR) || 'strat-v1')
                  % 281474976710656) % 10000
           < CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 6000
                       WHEN 'de' THEN 10000 ELSE 1000 END
         ORDER BY doc_id""",
    // identical seeded text + the same RE2-subset regexes (no
    // lookaround/backrefs) replayed with DuckDB's global regexp_replace
    "q_pii_profile" ->
      raw"""WITH seeded AS (
          SELECT doc_id, text ||
            CASE WHEN doc_id % 3 = 0
                 THEN ' reach me at user' || doc_id || '@example.com' ELSE '' END ||
            CASE WHEN doc_id % 4 = 0
                 THEN ' from 10.0.' || (doc_id % 200) || '.17' ELSE '' END ||
            CASE WHEN doc_id % 5 = 0 THEN ' call +1 555-0147' ELSE '' END AS text
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
          CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ips,
          CAST(len(regexp_extract_all(text, '\+\d{1,2} \d{3}-\d{4}')) AS INT) AS n_phones,
          md5(regexp_replace(regexp_replace(regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
            '\+\d{1,2} \d{3}-\d{4}', '<PHONE>', 'g')) AS redacted_md5
        FROM seeded ORDER BY doc_id""",
    // per-group sqrt keep rates over exact long counts; same low-48-bit
    // bucket contract
    "q_temperature_mix" ->
      """WITH n AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
         r AS (SELECT lang,
                 floor(10000.0 * sqrt((SELECT min(c) FROM n) / CAST(c AS DOUBLE))) AS thr
               FROM n)
         SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
         WHERE (md5_number_lower(CAST(d.doc_id AS VARCHAR) || 'temp-v1')
                  % 281474976710656) % 10000 < thr
         ORDER BY d.doc_id""",
    // corpus unigram logprobs replayed: same tokenization as tokCte's
    // lowered tokens; round(,4) absorbs summation-order float noise
    "q_lm_quality" ->
      raw"""WITH toks AS (
          SELECT doc_id, unnest(list_filter(
            string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS tok
          FROM documents),
        cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
        tot AS (SELECT sum(c) AS t FROM cnt),
        scored AS (
          SELECT doc_id, count(*) AS n_tokens,
                 -avg(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))) AS s
          FROM toks JOIN cnt USING (tok) CROSS JOIN tot GROUP BY doc_id)
        SELECT d.doc_id, coalesce(s.n_tokens, 0) AS n_tokens,
               round(coalesce(s.s, 0.0), 4) AS lm_score
        FROM documents d LEFT JOIN scored s USING (doc_id) ORDER BY d.doc_id""",
    // the NB model replayed count-for-count: (label, token) counts,
    // the identical cms cells rebuilt (md5 low-48 buckets), then the
    // same probe → min-over-rows estimate
    "q_sketch_cms" ->
      """WITH k AS (SELECT l_partkey % 97 AS key FROM lineitem),
        d AS (SELECT unnest(range(3)) AS i),
        h AS (SELECT key, md5_number_lower(CAST(key AS VARCHAR) || 'cms-v2')
            % 281474976710656 AS hv FROM k),
        cells AS (SELECT d.i,
            (hv % 256 + d.i * ((hv // 8192) % 256 * 2 + 1)) % 256 AS bucket,
            count(*) AS cnt
          FROM h CROSS JOIN d GROUP BY 1, 2),
        probes AS (SELECT DISTINCT key FROM k),
        ph AS (SELECT key, md5_number_lower(CAST(key AS VARCHAR) || 'cms-v2')
            % 281474976710656 AS hv FROM probes),
        pe AS (SELECT p.key, d.i,
            (hv % 256 + d.i * ((hv // 8192) % 256 * 2 + 1)) % 256 AS bucket
          FROM ph p CROSS JOIN d)
        SELECT pe.key, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est
        FROM pe LEFT JOIN cells c ON c.i = pe.i AND c.bucket = pe.bucket
        GROUP BY pe.key ORDER BY pe.key""",
    // the identical hll registers (idx = low 9 bits, rank via bin()
    // leading zeros), then the exact-dyadic-sum estimate
    "q_sketch_hll" ->
      """WITH h AS (SELECT md5_number_lower(CAST(l_orderkey AS VARCHAR) || 'hll-v1')
            % 281474976710656 AS hv FROM lineitem),
        reg AS (SELECT hv % 512 AS idx,
            max(CASE WHEN hv // 512 = 0 THEN 40
                ELSE 40 - length(bin(CAST(hv // 512 AS BIGINT))) END) AS r
          FROM h GROUP BY 1),
        a AS (SELECT sum(power(2.0, -r)) AS s,
            CAST(count(*) AS DOUBLE) AS nz FROM reg)
        SELECT round((0.7213 / (1 + 1.079 / 512)) * 512 * 512
          / (s + (512 - nz)), 4) AS distinct_est FROM a""",
    // the identical bit set (3 md5 hash rows over 65536 bits) rebuilt,
    // then the same all-k-positions-present probe
    "q_sketch_bloom" ->
      """WITH i AS (SELECT unnest(range(3)) AS i),
        build AS (SELECT DISTINCT l_orderkey AS key FROM lineitem
          WHERE l_orderkey % 2 = 0),
        bh AS (SELECT key, md5_number_lower(CAST(key AS VARCHAR) || 'bloom-v2')
            % 281474976710656 AS hv FROM build),
        bits AS (SELECT DISTINCT
            (hv % 65536 + i.i * ((hv // 8192) % 65536 * 2 + 1)) % 65536 AS pos
          FROM bh CROSS JOIN i),
        probes AS (SELECT DISTINCT l_orderkey AS key FROM lineitem),
        ph AS (SELECT key, md5_number_lower(CAST(key AS VARCHAR) || 'bloom-v2')
            % 281474976710656 AS hv FROM probes),
        pe AS (SELECT p.key,
            (hv % 65536 + i.i * ((hv // 8192) % 65536 * 2 + 1)) % 65536 AS pos
          FROM ph p CROSS JOIN i)
        SELECT pe.key, count(b.pos) = 3 AS maybe
        FROM pe LEFT JOIN bits b ON b.pos = pe.pos
        GROUP BY pe.key ORDER BY pe.key""",
    // the identical md5-kept sample, then the same rank-⌈q·n⌉ pick
    "q_sketch_quantile" ->
      """WITH s AS (SELECT CAST(value AS DOUBLE) AS v FROM events
          WHERE (md5_number_lower(CAST(event_id AS VARCHAR) || 'qsk-v1')
            % 281474976710656) % 1000000 < 250000),
        r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
            count(*) OVER () AS n FROM s),
        q AS (SELECT CAST(unnest([0.1, 0.25, 0.5, 0.75, 0.9, 0.99])
            AS DOUBLE) AS q)
        SELECT q.q, r.v AS est FROM r
        JOIN q ON r.rn = greatest(1, CAST(ceil(q.q * r.n) AS BIGINT))
        ORDER BY q.q""",
    // the same sampled threshold pick, then the filter + min-keeper
    // dedup over the survivors
    "q_curate_quantile" ->
      raw"""WITH s AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
          WHERE (md5_number_lower(CAST(doc_id AS VARCHAR) || 'qsk-v1')
            % 281474976710656) % 1000000 < 250000),
        r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
            count(*) OVER () AS n FROM s),
        thr AS (SELECT v AS t FROM r
          WHERE rn = greatest(1, CAST(ceil(0.25 * n) AS BIGINT))),
        f AS (SELECT d.doc_id, d.text, d.n_chars FROM documents d, thr
          WHERE d.n_chars >= thr.t),
        k AS (SELECT doc_id, row_number() OVER (
            PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
            ORDER BY doc_id) AS rk FROM f)
        SELECT f.doc_id, f.n_chars FROM f
        JOIN k ON k.doc_id = f.doc_id AND k.rk = 1
        ORDER BY f.doc_id""",
    // the identical grouped sample, rank-⌈q·n⌉ picked per language
    "q_grouped_quantile" ->
      """WITH s AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v FROM documents
          WHERE (md5_number_lower(CAST(doc_id AS VARCHAR) || 'qsk-v1')
            % 281474976710656) % 1000000 < 500000),
        r AS (SELECT lang, v,
            row_number() OVER (PARTITION BY lang ORDER BY v) AS rn,
            count(*) OVER (PARTITION BY lang) AS n FROM s),
        q AS (SELECT CAST(unnest([0.25, 0.5, 0.9]) AS DOUBLE) AS q)
        SELECT r.lang, q.q, r.v AS est FROM r
        JOIN q ON r.rn = greatest(1, CAST(ceil(q.q * r.n) AS BIGINT))
        ORDER BY lang, q""",
    // the arriving key set (originals + the %10 re-arrivals' shifted
    // ids) rebuilt, then the same 32 registers — duplicates can't move
    // a MAX register, so the trigger split is irrelevant
    "q_stream_hll" ->
      """WITH keys AS (
          SELECT doc_id AS key FROM documents
          UNION ALL SELECT doc_id + 1000000 FROM documents WHERE doc_id % 10 = 0),
        h AS (SELECT md5_number_lower(CAST(key AS VARCHAR) || 'hll-v1')
            % 281474976710656 AS hv FROM keys),
        reg AS (SELECT hv % 32 AS idx,
            max(CASE WHEN hv // 32 = 0 THEN 44
                ELSE 44 - length(bin(CAST(hv // 32 AS BIGINT))) END) AS r
          FROM h GROUP BY 1),
        a AS (SELECT sum(power(2.0, -r)) AS s,
            CAST(count(*) AS DOUBLE) AS nz FROM reg)
        SELECT round((0.7213 / (1 + 1.079 / 32)) * 32 * 32
          / (s + (32 - nz)), 4) AS distinct_est FROM a""",
    "q_perceptron_quality" -> perceptronOracle,
    "q_curate_perceptron" -> curatePerceptronOracle,
    // surviving hosts closed-form (h4 blocked, tracking param
    // normalized away) + the rank window + md5 bucket replayed
    "q_curate_frontier" ->
      """WITH u AS (SELECT doc_id,
            'http://h' || CAST(doc_id % 5 AS VARCHAR) || '.example.net/p/'
              || CAST(doc_id AS VARCHAR) AS url,
            CAST(doc_id % 3 AS INTEGER) AS prio,
            'h' || CAST(doc_id % 5 AS VARCHAR) || '.example.net' AS host
          FROM documents WHERE doc_id % 5 <> 4),
        r AS (SELECT *, row_number() OVER (
            PARTITION BY host ORDER BY prio DESC, url ASC) AS rk FROM u)
        SELECT doc_id, url, host,
          CAST((md5_number_lower(host || 'fetch-v1') % 281474976710656) % 4
            AS INTEGER) AS fetch_slot,
          CAST((rk - 1) // 3 AS INTEGER) AS fetch_wave
        FROM r ORDER BY doc_id""",
    // Laplace +1 over vocab V, prior ln(docs_c/N), argmax on
    // round(s,6) with label tiebreak; round(,4) on the reported score
    "q_nb_classify" ->
      s"""WITH ${nbCtes("documents", "lang")}
        SELECT d.doc_id, coalesce(b.pred, fb.fc) AS pred,
               coalesce(b.score, fb.fs) AS score,
               coalesce(b.n_tokens, 0) AS n_tokens
        FROM documents d LEFT JOIN best b USING (doc_id) CROSS JOIN fb
        ORDER BY d.doc_id""",
    // stupid backoff replayed as SQL: lag() builds the bigram context
    // (the engine builds it row-locally — same pairs), CASE mirrors the
    // seen-context / α-backoff / document-start rule exactly
    "q_ngram_ppl" ->
      s"""WITH ${pplCtes("", "documents", "documents")}
        SELECT d.doc_id, coalesce(s.n_tokens, 0) AS n_tokens,
               coalesce(s.ppl, 0.0) AS ppl
        FROM documents d LEFT JOIN scored s USING (doc_id)
        ORDER BY d.doc_id""",
    "q_ngram_ppl3" ->
      s"""WITH ${pplCtes("", "documents", "documents", order = 3)}
        SELECT d.doc_id, coalesce(s.n_tokens, 0) AS n_tokens,
               coalesce(s.ppl, 0.0) AS ppl
        FROM documents d LEFT JOIN scored s USING (doc_id)
        ORDER BY d.doc_id""",
    // DSIR (Xie et al. 2023): two stupid-backoff chains — the t-model
    // trained on the lang='en' target slice, the r-model on the whole
    // corpus — weight = log10 ppl_raw − log10 ppl_target
    "q_dsir_weights" ->
      s"""WITH ${pplCtes("t", "(SELECT * FROM documents WHERE lang = 'en')",
            "documents")},
        ${pplCtes("r", "documents", "documents")},
        tall AS (SELECT d.doc_id, coalesce(s.n_tokens, 0) AS n_tokens,
                   coalesce(s.ppl, 0.0) AS ppl
                 FROM documents d LEFT JOIN tscored s USING (doc_id)),
        rall AS (SELECT d.doc_id, coalesce(s.ppl, 0.0) AS ppl
                 FROM documents d LEFT JOIN rscored s USING (doc_id))
        SELECT t.doc_id, t.n_tokens,
               round(CASE WHEN t.n_tokens > 0
                 THEN log10(r.ppl) - log10(t.ppl) ELSE 0.0 END, 4) + 0.0 AS weight
        FROM tall t JOIN rall r USING (doc_id)
        ORDER BY t.doc_id""",
    // BM25 (k1=1.2, b=0.75, +1-floored idf) over the same lowered
    // tokens; N/avgdl from exact long aggregates; rank on round(s,6)
    "q_bm25_topk" ->
      raw"""WITH toks AS (
          SELECT doc_id, unnest(list_filter(
            string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS tok
          FROM documents),
        dlen AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        corpus AS (SELECT count(*) AS n_docs, sum(coalesce(dl, 0)) AS sum_dl
                   FROM documents d LEFT JOIN dlen USING (doc_id)),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
               WHERE tok IN ('spark', 'window', 'join') GROUP BY 1, 2),
        dfq AS (SELECT tok, count(*) AS dfc FROM tf GROUP BY 1),
        scored AS (
          SELECT doc_id, sum(
            ln((CAST(n_docs AS DOUBLE) - dfc + 0.5) / (CAST(dfc AS DOUBLE) + 0.5) + 1.0)
            * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
            / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 +
                0.75 * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) AS s
          FROM tf JOIN dfq USING (tok) JOIN dlen USING (doc_id) CROSS JOIN corpus
          GROUP BY doc_id),
        ranked AS (
          SELECT doc_id, row_number() OVER (ORDER BY round(s, 6) DESC, doc_id) AS rk, s
          FROM scored)
        SELECT doc_id, CAST(rk AS BIGINT) AS rk, round(s, 4) AS bm25
        FROM ranked WHERE rk <= 25 ORDER BY rk""",
    // the staged streaming drop = documents plus every doc_id % 10 == 0
    // doc re-ingested under a shifted id; batch replay of the same union
    "q_stream_dedup" ->
      """WITH ingest AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
         SELECT md5(text) AS digest, min(doc_id) AS keeper_doc_id,
           count(*) AS n_copies
         FROM ingest GROUP BY 1 ORDER BY digest""",
    // the same normalize → token gate → min-keeper dedup chain over
    // the same union ingest, replayed in batch
    "q_stream_curate" ->
      raw"""WITH ingest AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
         norm AS (
           SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(text),
             '[ \t\n\x0B\f\r]+', ' ', 'g'), '[\x00-\x08\x0E-\x1F\x7F]', '', 'g')) AS n
           FROM ingest),
         q AS (
           SELECT doc_id, n FROM norm
           WHERE len(list_filter(string_split_regex(trim(n), '\s+'),
             s -> len(s) > 0)) >= 30)
         SELECT md5(n) AS digest, min(doc_id) AS keeper_doc_id,
           count(*) AS n_copies
         FROM q GROUP BY 1 ORDER BY digest""",
    // streaming near-dup replay: sigs + bands over the SAME union
    // ingest, candidate pairs from band-bucket collisions, n_eq =
    // component-wise signature agreement, thresholded at 6/8
    "q_stream_neardup" ->
      raw"""WITH ingest AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0),
         itoks AS (SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), s -> len(s) > 0) AS tk
           FROM ingest),
         ish AS (SELECT doc_id,
             CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                  ELSE list_transform(range(1, len(tk) - 1),
                       i -> concat_ws(' ', tk[CAST(i AS INT)], tk[CAST(i + 1 AS INT)],
                                           tk[CAST(i + 2 AS INT)])) END AS sh
           FROM itoks),
         isig AS (SELECT doc_id, ${(0 until 8).map(mh).mkString(", ")} FROM ish),
         ibands AS (
           SELECT doc_id, 0 AS band, mh0 || mh1 AS s FROM isig UNION ALL
           SELECT doc_id, 1, mh2 || mh3 FROM isig UNION ALL
           SELECT doc_id, 2, mh4 || mh5 FROM isig UNION ALL
           SELECT doc_id, 3, mh6 || mh7 FROM isig),
         icand AS (SELECT DISTINCT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id
           FROM ibands a JOIN ibands b ON a.band = b.band AND a.s = b.s
           WHERE a.doc_id < b.doc_id),
         ineq AS (SELECT c.a_doc_id, c.b_doc_id,
             (CASE WHEN x.mh0 = y.mh0 THEN 1 ELSE 0 END +
              CASE WHEN x.mh1 = y.mh1 THEN 1 ELSE 0 END +
              CASE WHEN x.mh2 = y.mh2 THEN 1 ELSE 0 END +
              CASE WHEN x.mh3 = y.mh3 THEN 1 ELSE 0 END +
              CASE WHEN x.mh4 = y.mh4 THEN 1 ELSE 0 END +
              CASE WHEN x.mh5 = y.mh5 THEN 1 ELSE 0 END +
              CASE WHEN x.mh6 = y.mh6 THEN 1 ELSE 0 END +
              CASE WHEN x.mh7 = y.mh7 THEN 1 ELSE 0 END) AS n_eq
           FROM icand c JOIN isig x ON x.doc_id = c.a_doc_id
                        JOIN isig y ON y.doc_id = c.b_doc_id)
         SELECT a_doc_id, b_doc_id, CAST(n_eq AS INT) AS n_eq
         FROM ineq WHERE n_eq >= 6 ORDER BY a_doc_id, b_doc_id""",
    // same seeded boilerplate; keeper = min (doc, pos) per distinct
    // paragraph (encoded as doc*1e6+pos — gate docs have ≤ 3 paragraphs);
    // docs reassemble via ordered string_agg
    "q_paragraph_dedup" ->
      """WITH seeded AS (
           SELECT doc_id, text || chr(10) || chr(10) ||
             CASE doc_id % 4 WHEN 0 THEN 'Subscribe to our newsletter for updates.'
                             WHEN 1 THEN 'All rights reserved.'
                             WHEN 2 THEN 'Click here to read more.'
                             ELSE 'Share this article on social media.' END ||
             CASE WHEN doc_id % 6 = 0
                  THEN chr(10) || chr(10) || 'Cookie policy: this site uses cookies.'
                  ELSE '' END AS text
           FROM documents),
         p AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS paras FROM seeded),
         e AS (SELECT doc_id, unnest(list_zip(paras, range(1, len(paras) + 1))) AS z FROM p),
         q AS (SELECT doc_id, z[1] AS para, CAST(z[2] AS BIGINT) - 1 AS pos FROM e),
         k AS (SELECT para, min(doc_id * 1000000 + pos) AS keeper FROM q GROUP BY 1),
         kept AS (SELECT q.doc_id, q.pos, q.para FROM q JOIN k USING (para)
                  WHERE q.doc_id * 1000000 + q.pos = k.keeper),
         reb AS (SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text,
                        count(*) AS n_kept
                 FROM kept GROUP BY doc_id),
         base AS (SELECT doc_id, CAST(len(string_split(text, chr(10) || chr(10))) AS BIGINT) AS n_paras
                  FROM seeded)
         SELECT b.doc_id, md5(coalesce(r.text, '')) AS text_md5,
                coalesce(r.n_kept, 0) AS n_kept,
                b.n_paras - coalesce(r.n_kept, 0) AS n_dropped
         FROM base b LEFT JOIN reb r USING (doc_id) ORDER BY b.doc_id""",
    // at most 7 per source by the md5 bit contract's order (low 48 bits
    // % 2^30, ties → doc_id); membership compared row-for-row
    "q_domain_cap" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source, row_number() OVER (PARTITION BY source
             ORDER BY (md5_number_lower(CAST(doc_id AS VARCHAR) || 'cap-v1')
                         % 281474976710656) % 1073741824, doc_id) AS rn
           FROM documents) t
         WHERE rn <= 7 ORDER BY doc_id""",
    // copies = floor(w) + (bucket < frac(w)*10000); epochs expand via
    // the scalar range() list — row-for-row replay of every copy
    "q_mixture_epochs" ->
      """WITH c AS (
           SELECT doc_id, source,
             CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 WHEN 'src2' THEN 0 ELSE 1 END
             + CASE WHEN (md5_number_lower(CAST(doc_id AS VARCHAR) || 'mix-v1')
                            % 281474976710656) % 10000
                      < CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 2500 ELSE 0 END
                    THEN 1 ELSE 0 END AS copies
           FROM documents)
         SELECT * FROM (
           SELECT doc_id, source, unnest(range(0, copies)) AS epoch
           FROM c WHERE copies > 0) x
         ORDER BY doc_id, epoch""",
    // same lowered tokens → distinct words → weighted substr pairs;
    // hugeint sum cast back to the engine's long
    "q_bpe_pairs" ->
      raw"""WITH toks AS (
           SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS w
           FROM documents),
         words AS (SELECT w, count(*) AS cnt FROM toks GROUP BY 1),
         pairs AS (SELECT substr(w, i, 1) AS l_sym, substr(w, i + 1, 1) AS r_sym, cnt
                   FROM words, unnest(range(1, len(w))) t(i)),
         agg AS (SELECT l_sym, r_sym, CAST(sum(cnt) AS BIGINT) AS pair_count
                 FROM pairs GROUP BY 1, 2)
         SELECT l_sym, r_sym, pair_count FROM agg
         ORDER BY pair_count DESC, l_sym, r_sym LIMIT 20""",
    // the identical pair and symbol tallies, then the same one-division
    // ratio rounded at 9
    "q_wordpiece_rank" ->
      raw"""WITH toks AS (
           SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS w
           FROM documents),
         words AS (SELECT w, count(*) AS cnt FROM toks GROUP BY 1),
         pairs AS (SELECT substr(w, i, 1) AS l_sym, substr(w, i + 1, 1) AS r_sym, cnt
                   FROM words, unnest(range(1, len(w))) t(i)),
         agg AS (SELECT l_sym, r_sym, CAST(sum(cnt) AS BIGINT) AS pair_count
                 FROM pairs GROUP BY 1, 2),
         syms AS (SELECT sym, CAST(sum(cnt) AS BIGINT) AS sym_count FROM (
             SELECT substr(w, i, 1) AS sym, cnt
             FROM words, unnest(range(1, len(w) + 1)) t(i))
           GROUP BY 1)
         SELECT a.l_sym, a.r_sym, a.pair_count,
           round(a.pair_count / (ls.sym_count * rs.sym_count), 9) AS score
         FROM agg a
         JOIN syms ls ON ls.sym = a.l_sym
         JOIN syms rs ON rs.sym = a.r_sym
         ORDER BY score DESC, a.l_sym, a.r_sym LIMIT 20""",
    // the identical greedy longest-match walk (try 3, then 2, then the
    // single-char fallback) as a recursive CTE over the distinct words,
    // re-joined to each doc's word sequence
    "q_wordpiece_encode" ->
      raw"""WITH RECURSIVE d AS (
           SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS ws
           FROM documents),
         wl AS (SELECT doc_id, i AS widx, ws[i] AS w
           FROM d, unnest(range(1, len(ws) + 1)) t(i)),
         dw AS (SELECT DISTINCT w FROM wl),
         seg AS (
           SELECT w, CAST(1 AS BIGINT) AS pos, CAST('' AS VARCHAR) AS acc FROM dw
           UNION ALL
           SELECT w,
             pos + CASE WHEN substr(w, CAST(pos AS INT), 3) IN ('the','and','ing') THEN 3
                        WHEN substr(w, CAST(pos AS INT), 2) IN ('er','th','in','an','re','he','at') THEN 2
                        ELSE 1 END,
             (CASE WHEN acc = '' THEN '' ELSE acc || ' ' END) ||
               substr(w, CAST(pos AS INT),
                 CASE WHEN substr(w, CAST(pos AS INT), 3) IN ('the','and','ing') THEN 3
                      WHEN substr(w, CAST(pos AS INT), 2) IN ('er','th','in','an','re','he','at') THEN 2
                      ELSE 1 END)
           FROM seg WHERE pos <= len(w)),
         wseg AS (SELECT w, acc FROM seg WHERE pos = len(w) + 1),
         enc AS (SELECT wl.doc_id, wl.widx, ws2.acc
           FROM wl JOIN wseg ws2 ON ws2.w = wl.w),
         agg AS (SELECT doc_id,
             CAST(sum(len(string_split(acc, ' '))) AS BIGINT) AS n_wp_tokens,
             md5(string_agg(acc, ' | ' ORDER BY widx)) AS wp_md5
           FROM enc GROUP BY 1)
         SELECT d.doc_id, coalesce(a.n_wp_tokens, 0) AS n_wp_tokens,
           coalesce(a.wp_md5, md5('')) AS wp_md5
         FROM d LEFT JOIN agg a ON a.doc_id = d.doc_id
         ORDER BY d.doc_id""",
    // the recursive longest-match walk, the chars+pieces id map, then
    // the shared pack CTEs over the same docids shape
    "q_curate_wordpiece" ->
      raw"""WITH RECURSIVE d AS (
           SELECT doc_id, list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS ws
           FROM documents),
         wl AS (SELECT doc_id, i AS widx, ws[i] AS w
           FROM d, unnest(range(1, len(ws) + 1)) t(i)),
         dw AS (SELECT DISTINCT w FROM wl),
         seg AS (
           SELECT w, CAST(1 AS BIGINT) AS pos, CAST('' AS VARCHAR) AS acc FROM dw
           UNION ALL
           SELECT w,
             pos + CASE WHEN substr(w, CAST(pos AS INT), 3) IN ('the','and','ing') THEN 3
                        WHEN substr(w, CAST(pos AS INT), 2) IN ('er','th','in','an','re','he','at') THEN 2
                        ELSE 1 END,
             (CASE WHEN acc = '' THEN '' ELSE acc || ' ' END) ||
               substr(w, CAST(pos AS INT),
                 CASE WHEN substr(w, CAST(pos AS INT), 3) IN ('the','and','ing') THEN 3
                      WHEN substr(w, CAST(pos AS INT), 2) IN ('er','th','in','an','re','he','at') THEN 2
                      ELSE 1 END)
           FROM seg WHERE pos <= len(w)),
         wseg AS (SELECT w, acc FROM seg WHERE pos = len(w) + 1),
         chars AS (SELECT DISTINCT substr(w, i, 1) AS symbol
                   FROM dw, unnest(range(1, len(w) + 1)) t(i)),
         ranked AS (SELECT CAST(row_number() OVER (ORDER BY symbol) - 1 AS BIGINT)
                      AS token_id, symbol FROM chars),
         cc AS (SELECT count(*) AS n FROM chars),
         pc AS (SELECT CAST(cc.n + v.rk AS BIGINT) AS token_id, v.s AS symbol
                FROM cc, (VALUES (0, 'the'), (1, 'and'), (2, 'ing'),
                                 (3, 'er'), (4, 'th'), (5, 'in'), (6, 'an'),
                                 (7, 're'), (8, 'he'), (9, 'at')) AS v(rk, s)),
         vocab AS (SELECT token_id, symbol FROM ranked
                   UNION ALL SELECT token_id, symbol FROM pc),
         vm AS (SELECT map(list(symbol ORDER BY token_id),
                           list(token_id ORDER BY token_id)) AS m FROM vocab),
         docsyms AS (SELECT wl.doc_id, wl.widx, string_split(ws2.acc, ' ') AS syms
           FROM wl JOIN wseg ws2 ON ws2.w = wl.w),
         docsy AS (SELECT doc_id, widx, generate_subscripts(syms, 1) AS si,
                          unnest(syms) AS s FROM docsyms),
         withid AS (SELECT doc_id, widx, si, coalesce(vm.m[s][1], -1) AS id
           FROM docsy, vm),
         docids AS (SELECT doc_id, list(id ORDER BY widx, si) AS ids
           FROM withid GROUP BY doc_id),
         $packCtes
         SELECT seq_id, n_tokens, ids_md5 FROM sq ORDER BY seq_id""",
    // every substring of the distinct words up to length 3, weighted by
    // word counts — integers only, both engines tally the same table
    "q_unigram_seed" ->
      raw"""WITH toks AS (
           SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS w
           FROM documents),
         words AS (SELECT w, count(*) AS cnt FROM toks GROUP BY 1),
         subs AS (SELECT substr(w, i, l) AS piece, cnt
                  FROM words, unnest(range(1, len(w) + 1)) t(i),
                       unnest(range(1, 4)) u(l)
                  WHERE i + l - 1 <= len(w)),
         agg AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt
                 FROM subs GROUP BY 1)
         SELECT piece, cnt FROM agg ORDER BY cnt DESC, piece LIMIT 30""",
    // the segmentation ENUMERATION picks the same argmax the engine's
    // Viterbi DP computes (see ugSegCtes) — an independent cross-check
    // of the DP, not a replay of it
    "q_unigram_encode" ->
      s"""WITH RECURSIVE $ugSegCtes,
         enc AS (SELECT wl.doc_id, wl.widx, ws2.acc
           FROM wl JOIN wseg ws2 ON ws2.w = wl.w),
         agg AS (SELECT doc_id,
             CAST(sum(len(string_split(acc, ' '))) AS BIGINT) AS n_ug_tokens,
             md5(string_agg(acc, ' | ' ORDER BY widx)) AS ug_md5
           FROM enc GROUP BY 1)
         SELECT d.doc_id, coalesce(a.n_ug_tokens, 0) AS n_ug_tokens,
           coalesce(a.ug_md5, md5('')) AS ug_md5
         FROM d LEFT JOIN agg a ON a.doc_id = d.doc_id
         ORDER BY d.doc_id""",
    // the segmentation enumeration, the chars+pieces id map (pieces
    // already present as corpus characters drop, survivors re-rank
    // densely in vocab order — the Wordpiece.vocab contract), then the
    // shared pack CTEs
    "q_curate_unigram" ->
      s"""WITH RECURSIVE $ugSegCtes,
         ranked AS (SELECT CAST(row_number() OVER (ORDER BY symbol) - 1 AS BIGINT)
                      AS token_id, symbol FROM chars),
         cc AS (SELECT count(*) AS n FROM chars),
         pc AS (SELECT CAST(cc.n + row_number() OVER (ORDER BY v.rk) - 1 AS BIGINT)
                  AS token_id, v.s AS symbol
                FROM cc, (VALUES (0, 'table'), (1, 'the'), (2, 'he'),
                                 (3, 'ta'), (4, 'ab'), (5, 'le'), (6, 'win'),
                                 (7, 'dow'), (8, 'in'), (9, 'a'), (10, 'e'),
                                 (11, 't'), (12, 's')) AS v(rk, s)
                WHERE v.s NOT IN (SELECT symbol FROM chars)),
         vocab AS (SELECT token_id, symbol FROM ranked
                   UNION ALL SELECT token_id, symbol FROM pc),
         vm AS (SELECT map(list(symbol ORDER BY token_id),
                           list(token_id ORDER BY token_id)) AS m FROM vocab),
         docsyms AS (SELECT wl.doc_id, wl.widx, string_split(ws2.acc, ' ') AS syms
           FROM wl JOIN wseg ws2 ON ws2.w = wl.w),
         docsy AS (SELECT doc_id, widx, generate_subscripts(syms, 1) AS si,
                          unnest(syms) AS s FROM docsyms),
         withid AS (SELECT doc_id, widx, si, coalesce(vm.m[s][1], -1) AS id
           FROM docsy, vm),
         docids AS (SELECT doc_id, list(id ORDER BY widx, si) AS ids
           FROM withid GROUP BY doc_id),
         $packCtes
         SELECT seq_id, n_tokens, ids_md5 FROM sq ORDER BY seq_id""",
    // the identical rank-ordered replace chain per word ('|' separators
    // keep merges inside word boundaries), then symbol tally + md5
    "q_bpe_encode" ->
      raw"""WITH enc AS (
           SELECT doc_id, list_transform(
             list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0),
             w -> replace(replace(replace(replace(replace(replace(
                    trim(regexp_replace(w, '(.)', '\1 ', 'g')),
                    'e r', 'er'), 't h', 'th'), 'th e', 'the'),
                    'i n', 'in'), 'a n', 'an'), 'an d', 'and')) AS ws
           FROM documents)
         SELECT doc_id,
           CAST(coalesce(list_sum(list_transform(ws, e -> len(string_split(e, ' ')))), 0) AS BIGINT) AS n_bpe_tokens,
           md5(array_to_string(ws, ' | ')) AS bpe_md5
         FROM enc ORDER BY doc_id""",
    // same lowered tokenization; distinct chars ranked binary-lexicographic
    // (both engines collate UTF-8 bytes), merges take C+rank
    "q_bpe_vocab" ->
      raw"""WITH toks AS (
           SELECT unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS w
           FROM documents),
         chars AS (SELECT DISTINCT substr(w, i, 1) AS symbol
                   FROM toks, unnest(range(1, len(w) + 1)) t(i)),
         ranked AS (SELECT CAST(row_number() OVER (ORDER BY symbol) - 1 AS BIGINT) AS token_id,
                           symbol, 'char' AS kind FROM chars),
         c AS (SELECT count(*) AS n FROM chars),
         mg AS (SELECT CAST(c.n + v.rk AS BIGINT) AS token_id, v.s AS symbol, 'merge' AS kind
                FROM c, (VALUES (0, 'er'), (1, 'th'), (2, 'the'),
                                (3, 'in'), (4, 'an'), (5, 'and')) AS v(rk, s))
         SELECT token_id, symbol, kind
         FROM (SELECT * FROM ranked UNION ALL SELECT * FROM mg)
         ORDER BY token_id""",
    // vocab map lookup returns a list in DuckDB ([1] indexes it); the
    // flattened per-word symbol stream equals the engine's '|'-filtered
    // split of the textual encoding
    "q_bpe_token_ids" ->
      s"""WITH $bpeIdsCtes
         SELECT doc_id,
           CAST(len(ids) AS BIGINT) AS n_bpe_tokens,
           md5(coalesce(array_to_string(
             list_transform(ids, s -> CAST(s AS VARCHAR)), ' '), '')) AS ids_md5
         FROM docids ORDER BY doc_id""",
    // byte-level pair stats: pre-tokens (first bare, rest space-glued),
    // the byte mapping, adjacent char pairs, one aggregate — the same
    // restatement shape as q_bpe_pairs over mapped symbols
    "q_bytebpe_pairs" ->
      raw"""WITH bsrc AS (SELECT doc_id,
           regexp_replace(trim(translate(text, 'ae', 'äé')), '\s+', ' ', 'g') AS text
           FROM documents),
         toksb AS (SELECT unnest(list_transform(string_split(text, ' '),
             (w, i) -> CASE WHEN i = 1 THEN w ELSE ' ' || w END)) AS piece
           FROM bsrc),
         wordsb AS (SELECT replace(replace(replace(
               piece, ' ', 'Ġ'), 'ä', 'Ã¤'), 'é', 'Ã©') AS w,
             count(*) AS cnt
           FROM toksb GROUP BY 1),
         pairsb AS (SELECT substr(w, i, 1) AS l_sym, substr(w, i + 1, 1) AS r_sym, cnt
                   FROM wordsb, unnest(range(1, len(w))) t(i)),
         aggb AS (SELECT l_sym, r_sym, CAST(sum(cnt) AS BIGINT) AS pair_count
                 FROM pairsb GROUP BY 1, 2)
         SELECT l_sym, r_sym, pair_count FROM aggb
         ORDER BY pair_count DESC, l_sym, r_sym LIMIT 20""",
    // byte-level BPE (GPT-2 family): pre-tokens, byte bijection and
    // ranked merge replaces restated closed-form over the same
    // deterministically non-ASCII-ified corpus
    "q_bytebpe_encode" ->
      s"""WITH $byteBpeCtes
         SELECT doc_id,
           CAST(len(string_split(enc, ' ')) AS BIGINT) AS n_bbpe_tokens,
           md5(enc) AS bbpe_md5
         FROM bdocs ORDER BY doc_id""",
    // the CLOSED vocabulary: a single mapped char's id is its byte
    // value (ascii() for the self-mapped ASCII range, literal arms for
    // the remapped/UTF-8 chars), merge products take 256+rank
    "q_bytebpe_ids" ->
      s"""WITH $byteBpeCtes,
         bids AS (SELECT doc_id, list_transform(string_split(enc, ' '),
             s -> $byteBpeIdCase) AS ids
           FROM bdocs)
         SELECT doc_id,
           CAST(len(ids) AS BIGINT) AS n_bbpe_tokens,
           md5(array_to_string(list_transform(ids, x -> CAST(x AS VARCHAR)), ' '))
             AS ids_md5
         FROM bids ORDER BY doc_id""",
    // the byte-level id stream chained into the shared pack CTEs —
    // same closed-vocab CASE, same prefix-sum packing replay
    "q_curate_bytebpe" ->
      s"""WITH $byteBpeCtes,
         docids AS (SELECT doc_id, list_transform(string_split(enc, ' '),
             s -> $byteBpeIdCase) AS ids
           FROM bdocs),
         $packCtes
         SELECT seq_id, n_tokens, ids_md5 FROM sq ORDER BY seq_id""",
    // losslessness: the oracle is the IDENTITY restatement of the
    // messy input expression — the engine's encode→ids→decode chain
    // must reproduce it byte-for-byte
    "q_bytebpe_roundtrip" ->
      raw"""SELECT doc_id,
          translate(text, 'ae', 'äé')
            || chr(10) || ' it''s  DON''T' || chr(9) || 'naïve 3² 🚀 ' AS text
        FROM documents ORDER BY doc_id""",
    // CURATE twins: the same replays filtered to the kept set
    "q_curate_cluster_balance" ->
      s"""WITH ${ivfAssignCtes(4, 5, 50000)},
         capd AS (SELECT vec_id FROM (
             SELECT f.vec_id, row_number() OVER (PARTITION BY f.cell
               ORDER BY (md5_number_lower(CAST(f.vec_id AS VARCHAR) || 'cbs-v1')
                           % 281474976710656) % 1073741824, f.vec_id) AS rn
             FROM fasg f) t
           WHERE rn <= 30)
         SELECT e.vec_id, e.label
         FROM embeddings e JOIN capd USING (vec_id)
         ORDER BY e.vec_id""",
    "q_curate_ppl_band" ->
      s"""WITH ${pplCtes("", "documents", "documents")},
         p AS (SELECT d.doc_id, d.lang,
             coalesce(s.ppl, 0.0) AS ppl
           FROM documents d LEFT JOIN scored s USING (doc_id)),
         ${pplBandCtes},
         b AS (SELECT p.doc_id, p.lang,
             count(CASE WHEN p.ppl > t.t_ppl
               OR (p.ppl = t.t_ppl AND p.doc_id > t.t_doc)
               THEN 1 END) AS bucket
           FROM p LEFT JOIN thr t ON p.lang = t.lang
           GROUP BY p.doc_id, p.lang)
         SELECT doc_id, lang FROM b WHERE bucket = 0
         ORDER BY doc_id""",
    // kmeans unrolled to the final assignment, then the identical
    // md5-rank cap window per cell
    "q_cluster_balanced_sample" ->
      s"""WITH ${ivfAssignCtes(4, 5, 50000)},
         capd AS (SELECT vec_id, cell FROM (
             SELECT f.vec_id, f.cell, row_number() OVER (PARTITION BY f.cell
               ORDER BY (md5_number_lower(CAST(f.vec_id AS VARCHAR) || 'cbs-v1')
                           % 281474976710656) % 1073741824, f.vec_id) AS rn
             FROM fasg f) t
           WHERE rn <= 30)
         SELECT vec_id, CAST(cell AS INTEGER) AS cell
         FROM capd ORDER BY vec_id""",
    // the stupid-backoff scoring chained into the SAMPLED-threshold
    // banding (r16 scale fix): band edges are per-language order
    // statistics over the md5 sample, broadcast back — both engines
    // replay the identical sample + threshold + comparison contract
    "q_ppl_buckets" ->
      s"""WITH ${pplCtes("", "documents", "documents")},
         p AS (SELECT d.doc_id, d.lang,
             coalesce(s.n_tokens, 0) AS n_tokens,
             coalesce(s.ppl, 0.0) AS ppl
           FROM documents d LEFT JOIN scored s USING (doc_id)),
         ${pplBandCtes},
         b AS (SELECT p.doc_id, p.lang, p.n_tokens, p.ppl,
             count(CASE WHEN p.ppl > t.t_ppl
               OR (p.ppl = t.t_ppl AND p.doc_id > t.t_doc)
               THEN 1 END) AS bucket
           FROM p LEFT JOIN thr t ON p.lang = t.lang
           GROUP BY p.doc_id, p.lang, p.n_tokens, p.ppl)
         SELECT doc_id, lang, n_tokens, ppl, bucket,
           CASE bucket WHEN 0 THEN 'head' WHEN 2 THEN 'tail'
                ELSE 'middle' END AS band
         FROM b ORDER BY doc_id""",
    // per-lang re-aggregation of the byte-level replay's per-doc token
    // counts; ratios computed once per group, round 6
    "q_tokenizer_fertility" ->
      s"""WITH $byteBpeCtes,
         m AS (SELECT b.doc_id, d.lang, s.text,
             CAST(len(string_split(b.enc, ' ')) AS BIGINT) AS toks
           FROM bdocs b
           JOIN documents d USING (doc_id)
           JOIN bsrc s ON s.doc_id = b.doc_id),
         g AS (SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(toks) AS BIGINT) AS n_tokens,
             CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
             CAST(sum(len(text)) AS BIGINT) AS n_chars,
             CAST(sum(len(list_filter(string_split_regex(text, '\\s+'),
               x -> len(x) > 0))) AS BIGINT) AS n_words
           FROM m GROUP BY lang)
         SELECT lang, n_docs, n_tokens, n_bytes, n_chars, n_words,
           round(CAST(n_tokens AS DOUBLE) / n_bytes, 6) AS tokens_per_byte,
           round(CAST(n_tokens AS DOUBLE) / n_words, 6) AS fertility,
           round(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS chars_per_token
         FROM g ORDER BY lang""",
    // published-artifact interop: the byte-level replay CTEs with the
    // encoder.json fixture's id table (base 3000+byte, products
    // 4000+rank — provably artifact ids, not the closed scheme), plus
    // the unigram segmentation enumeration (fixture scores ×1e6 —
    // argmax and the planted table/t+ab+le tie are scale-invariant)
    "q_tokenizer_artifact" ->
      s"""WITH RECURSIVE $ugSegCtes, $byteBpeCtes,
         bids AS (SELECT doc_id, list_transform(string_split(enc, ' '),
             s -> CASE WHEN s = 'Ã¤' THEN 4000 WHEN s = 'Ã©' THEN 4001
                       WHEN s = 'Ġt' THEN 4002 WHEN s = 'Ġth' THEN 4003
                       WHEN s = 'th' THEN 4004 WHEN s = 'Ġ' THEN 3032
                       ELSE 3000 + ascii(s) END) AS ids
           FROM bdocs),
         bb AS (SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_bbpe_tokens,
             md5(array_to_string(list_transform(ids, x -> CAST(x AS VARCHAR)),
               ' ')) AS bids_md5
           FROM bids),
         uenc AS (SELECT wl.doc_id, wl.widx, ws2.acc
           FROM wl JOIN wseg ws2 ON ws2.w = wl.w),
         uagg AS (SELECT doc_id,
             CAST(sum(len(string_split(acc, ' '))) AS BIGINT) AS n_ug_tokens,
             md5(string_agg(acc, ' | ' ORDER BY widx)) AS ug_md5
           FROM uenc GROUP BY 1)
         SELECT b.doc_id, b.n_bbpe_tokens, b.bids_md5,
           coalesce(u.n_ug_tokens, 0) AS n_ug_tokens,
           coalesce(u.ug_md5, md5('')) AS ug_md5
         FROM bb b LEFT JOIN uagg u ON u.doc_id = b.doc_id
         ORDER BY b.doc_id""",
    // boundary-context Viterbi replayed by exhaustive segmentation
    // enumeration over ▁+word, same 1e6 weights, same tie-break (max
    // score, then longest-last-piece via the reversed-lengths string —
    // the kernel's smallest-j backpointer preference)
    "q_tokenizer_boundary" ->
      raw"""WITH RECURSIVE
         wsrc AS (SELECT DISTINCT w FROM (
             SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
             FROM documents)
           WHERE regexp_matches(w, '^[a-z]{3,8}$$')
           ORDER BY w LIMIT 400),
         sw AS (SELECT w, '▁' || w AS s FROM wsrc),
         pieces AS (SELECT * FROM (VALUES ${boundaryVocabValues}) v(p, wt)),
         seg AS (
           SELECT w, s, CAST(1 AS BIGINT) AS pos, CAST('' AS VARCHAR) AS acc,
                  CAST(0 AS BIGINT) AS score, CAST('' AS VARCHAR) AS rlens,
                  CAST(0 AS BIGINT) AS n
           FROM sw
           UNION ALL
           SELECT sg.w, sg.s, sg.pos + len(pc.p),
             (CASE WHEN sg.acc = '' THEN '' ELSE sg.acc || ' ' END) || pc.p,
             sg.score + pc.wt,
             CAST(len(pc.p) AS VARCHAR) || sg.rlens,
             sg.n + 1
           FROM seg sg JOIN pieces pc
             ON substr(sg.s, CAST(sg.pos AS INT), len(pc.p)) = pc.p
           WHERE sg.pos <= len(sg.s)),
         best AS (SELECT w, acc, n,
             row_number() OVER (PARTITION BY w
               ORDER BY score DESC, rlens DESC) AS rn
           FROM seg WHERE pos = len(s) + 1)
         SELECT w AS word, acc AS ug_text, n AS n_pieces
         FROM best WHERE rn = 1 ORDER BY word""",
    // byte-fallback Viterbi replayed by exhaustive enumeration over a
    // UNIFIED edge table: the boundary pieces plus, for every character
    // no single-char piece covers, a one-char edge whose emitted byte
    // pieces and summed score the oracle derives ITSELF from
    // hex(encode(c)) and the range(0,256) weight cycle — the UTF-8
    // decomposition is replayed, not hard-coded. Same tie-break.
    "q_tokenizer_bytefallback" ->
      raw"""WITH RECURSIVE
         wsrc AS (SELECT DISTINCT w AS w0 FROM (
             SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
             FROM documents)
           WHERE regexp_matches(w, '^[a-z]{3,8}$$')
           ORDER BY w0 LIMIT 300),
         sw AS (SELECT translate(w0, 'aeu', 'äé€') AS w,
             '▁' || translate(w0, 'aeu', 'äé€') AS s FROM wsrc),
         pieces AS (SELECT * FROM (VALUES ${boundaryVocabValues}) v(p, wt)),
         bfb AS (SELECT printf('<0x%02X>', i) AS bp,
             CAST(-(6000000 + (i % 7) * 10000) AS BIGINT) AS wt
           FROM range(0, 256) t(i)),
         chs AS (SELECT DISTINCT substr(s, CAST(i AS INT), 1) AS c
           FROM sw CROSS JOIN range(1, 10) t(i) WHERE i <= len(s)),
         oov AS (SELECT c FROM chs
           WHERE NOT EXISTS (SELECT 1 FROM pieces p WHERE p.p = c)),
         bfe AS (SELECT o.c, CAST(k AS INT) AS k,
             '<0x' || substr(hex(encode(o.c)),
               CAST((k - 1) * 2 + 1 AS INT), 2) || '>' AS bp
           FROM oov o CROSS JOIN range(1, 5) t(k)
           WHERE k <= len(hex(encode(o.c))) // 2),
         bfc AS (SELECT e.c, string_agg(e.bp, ' ' ORDER BY e.k) AS bfstr,
             sum(b.wt) AS bfwt, count(*) AS nb
           FROM bfe e JOIN bfb b ON b.bp = e.bp GROUP BY e.c),
         edge AS (
           SELECT p AS mtch, len(p) AS clen, p AS emit, wt,
                  CAST(1 AS BIGINT) AS n FROM pieces
           UNION ALL
           SELECT c, 1, bfstr, bfwt, nb FROM bfc),
         seg AS (
           SELECT w, s, CAST(1 AS BIGINT) AS pos, CAST('' AS VARCHAR) AS acc,
                  CAST(0 AS BIGINT) AS score, CAST('' AS VARCHAR) AS rlens,
                  CAST(0 AS BIGINT) AS n
           FROM sw
           UNION ALL
           SELECT sg.w, sg.s, sg.pos + e.clen,
             (CASE WHEN sg.acc = '' THEN '' ELSE sg.acc || ' ' END) || e.emit,
             sg.score + e.wt,
             CAST(e.clen AS VARCHAR) || sg.rlens,
             sg.n + e.n
           FROM seg sg JOIN edge e
             ON substr(sg.s, CAST(sg.pos AS INT), e.clen) = e.mtch
           WHERE sg.pos <= len(sg.s)),
         best AS (SELECT w, acc, n,
             row_number() OVER (PARTITION BY w
               ORDER BY score DESC, rlens DESC) AS rn
           FROM seg WHERE pos = len(s) + 1)
         SELECT w AS word, acc AS ug_text, n AS n_pieces
         FROM best WHERE rn = 1 ORDER BY word""",
    // the hash order (md5 low-48 % 2^30, ties → doc_id) and the
    // exclusive prefix-sum keep rule replayed verbatim
    "q_token_budget" ->
      raw"""WITH d AS (SELECT doc_id,
            CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
              x -> len(x) > 0)) AS BIGINT) AS n_tokens,
            (md5_number_lower(CAST(doc_id AS VARCHAR) || 'budget-v1')
               % 281474976710656) % 1073741824 AS hb
          FROM documents),
        k AS (SELECT doc_id, n_tokens,
            coalesce(sum(n_tokens) OVER (ORDER BY hb, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) < 30000 AS keep
          FROM d)
        SELECT doc_id, n_tokens, keep FROM k ORDER BY doc_id""",
    // token packing over the same per-doc id lists: exclusive prefix
    // offsets, global position // 64 = sequence, ordered reassembly
    "q_pack_token_ids" ->
      s"""WITH $bpeIdsCtes,
         $packCtes
         SELECT seq_id, n_tokens, ids_md5 FROM sq ORDER BY seq_id""",
    // the same packing with the document ordinal carried through: the
    // segment id is a dense_rank over doc_id within each sequence
    "q_pack_segments" ->
      s"""WITH $bpeIdsCtes,
         offs2 AS (SELECT doc_id, ids,
             coalesce(sum(len(ids)) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           FROM docids),
         ex2 AS (SELECT doc_id, off + generate_subscripts(ids, 1) - 1 AS gpos,
                        unnest(ids) AS id
                 FROM offs2),
         pk2 AS (SELECT CAST(gpos // 64 AS BIGINT) AS seq_id,
                        gpos % 64 AS slot, id, doc_id FROM ex2),
         sg AS (SELECT seq_id, slot, id,
                    dense_rank() OVER (PARTITION BY seq_id ORDER BY doc_id) AS seg
                FROM pk2),
         sq2 AS (SELECT seq_id, count(*) AS n_tokens,
                  md5(array_to_string(
                    list(CAST(id AS VARCHAR) ORDER BY slot), ' ')) AS ids_md5,
                  md5(array_to_string(
                    list(CAST(seg AS VARCHAR) ORDER BY slot), ' ')) AS segs_md5
                FROM sg GROUP BY 1)
         SELECT seq_id, n_tokens, ids_md5, segs_md5 FROM sq2 ORDER BY seq_id""",
    // each pipeline stage replayed as one CTE, chained in stage order;
    // dedup partitions on the fingerprint contract, the cap on the
    // md5 low-48-bit bucket contract
    "q_curate_pipeline" ->
      s"""WITH $curateV1Ctes
        SELECT doc_id, source, md5(text) AS text_md5
        FROM cap ORDER BY doc_id""",
    // the same stage CTEs counted: the per-stage audit table
    "q_curate_report" ->
      s"""WITH $curateV1Ctes
        SELECT * FROM (
          SELECT 0 AS stage, 'input' AS op, count(*) AS rows_out FROM documents
          UNION ALL SELECT 1, 'c4_clean', count(*) FROM c4
          UNION ALL SELECT 2, 'normalize', count(*) FROM norm
          UNION ALL SELECT 3, 'pii_redact', count(*) FROM pii
          UNION ALL SELECT 4, 'dedup_exact', count(*) FROM ded
          UNION ALL SELECT 5, 'cap_per_group', count(*) FROM cap)
        ORDER BY stage""",
    // v2 chain, one CTE per stage: seeded boilerplate → paragraph
    // dedup (first-occurrence keeper, reassembly in position order) →
    // corpus-relative unigram-LM filter (round(s,4) ≤ 3.404, ≥1 token)
    // → stratified lang sampling (md5 bit contract) → mixture epochs
    "q_curate_pipeline_v2" ->
      raw"""WITH seeded AS (
           SELECT doc_id, lang, source, text || chr(10) || chr(10) ||
             CASE doc_id % 4 WHEN 0 THEN 'Subscribe to our newsletter for updates.'
                             WHEN 1 THEN 'All rights reserved.'
                             WHEN 2 THEN 'Click here to read more.'
                             ELSE 'Share this article on social media.' END ||
             CASE WHEN doc_id % 6 = 0
                  THEN chr(10) || chr(10) || 'Cookie policy: this site uses cookies.'
                  ELSE '' END AS text
           FROM documents),
         p AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS paras FROM seeded),
         e AS (SELECT doc_id, unnest(list_zip(paras, range(1, len(paras) + 1))) AS z FROM p),
         q AS (SELECT doc_id, z[1] AS para, CAST(z[2] AS BIGINT) - 1 AS pos FROM e),
         k AS (SELECT para, min(doc_id * 1000000 + pos) AS keeper FROM q GROUP BY 1),
         kept AS (SELECT q.doc_id, q.pos, q.para FROM q JOIN k USING (para)
                  WHERE q.doc_id * 1000000 + q.pos = k.keeper),
         reb AS (SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text
                 FROM kept GROUP BY doc_id),
         dd AS (SELECT s.doc_id, s.lang, s.source, coalesce(r.text, '') AS text
                FROM seeded s LEFT JOIN reb r USING (doc_id)),
         toks AS (SELECT doc_id, unnest(list_filter(
             string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS tok FROM dd),
         cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
         tot AS (SELECT sum(c) AS t FROM cnt),
         scored AS (SELECT doc_id, count(*) AS n_tokens,
                round(-avg(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))), 4) AS s
           FROM toks JOIN cnt USING (tok) CROSS JOIN tot GROUP BY doc_id),
         lmk AS (SELECT dd.* FROM dd JOIN scored USING (doc_id)
                 WHERE scored.s <= 3.404 AND scored.n_tokens >= 1),
         strat AS (SELECT * FROM lmk
           WHERE (md5_number_lower(CAST(doc_id AS VARCHAR) || 'strat-v2')
                    % 281474976710656) % 10000
             < CASE lang WHEN 'en' THEN 7000 WHEN 'zh' THEN 9000 ELSE 4000 END),
         c AS (SELECT doc_id, lang, source, text,
             CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 ELSE 1 END
             + CASE WHEN (md5_number_lower(CAST(doc_id AS VARCHAR) || 'mix-v2')
                            % 281474976710656) % 10000
                      < CASE source WHEN 'src0' THEN 5000 WHEN 'src1' THEN 5000 ELSE 0 END
                    THEN 1 ELSE 0 END AS copies
           FROM strat)
         SELECT doc_id, lang, source, epoch, md5(text) AS text_md5 FROM (
           SELECT doc_id, lang, source, text, unnest(range(0, copies)) AS epoch
           FROM c WHERE copies > 0) x
         ORDER BY doc_id, epoch""",
    // v3: perplexity band over the raw corpus, then DSIR over the
    // band's survivors (both models retrain on the stage input — the
    // corpus-relative contract), then fingerprint dedup
    "q_curate_pipeline_v3" ->
      raw"""WITH ${pplCtes("f", "documents", "documents")},
         s1 AS (SELECT d.doc_id, d.lang, d.source, d.text FROM documents d
                JOIN fscored s USING (doc_id)
                WHERE s.ppl > 0 AND s.ppl <= 30.5),
         ${pplCtes("t", "(SELECT * FROM s1 WHERE lang = 'en')", "s1")},
         ${pplCtes("r", "s1", "s1")},
         wts AS (SELECT t.doc_id,
                   round(log10(r.ppl) - log10(t.ppl), 4) + 0.0 AS weight
                 FROM tscored t JOIN rscored r USING (doc_id)),
         s2 AS (SELECT s1.* FROM s1 JOIN wts USING (doc_id)
                WHERE weight >= -0.01),
         s3 AS (SELECT doc_id, lang, source, text FROM (
             SELECT doc_id, lang, source, text, row_number() OVER (
               PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
               ORDER BY doc_id) AS rn FROM s2) WHERE rn = 1)
         SELECT doc_id, lang, source, md5(text) AS text_md5 FROM s3
         ORDER BY doc_id""",
    // v4 trainer-feed tail: the per-source cap CTE (md5 bit contract),
    // then the SHARED BPE-replay CTEs over the capped set (the char
    // vocabulary ranks over what the cap kept — corpus-relative), then
    // the shared packing window replay
    "q_curate_pipeline_v4" ->
      s"""WITH cap AS (SELECT doc_id, source, text FROM (
             SELECT doc_id, source, text, row_number() OVER (PARTITION BY source
               ORDER BY (md5_number_lower(CAST(doc_id AS VARCHAR) || 'cap-v1')
                           % 281474976710656) % 1073741824, doc_id) AS rn
             FROM documents) t WHERE rn <= 7),
         ${bpeIdsCtesOver("cap")},
         withsrc AS (SELECT d.doc_id, c.source, d.ids
                     FROM docids d JOIN cap c USING (doc_id)),
         offs AS (SELECT doc_id, source, ids,
             coalesce(sum(len(ids)) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
           FROM withsrc),
         ex AS (SELECT source, off + generate_subscripts(ids, 1) - 1 AS gpos,
                       unnest(ids) AS id
                FROM offs),
         pk AS (SELECT source, CAST(gpos // 64 AS BIGINT) AS seq_id,
                       gpos % 64 AS slot, id FROM ex),
         sq AS (SELECT source, seq_id, count(*) AS n_tokens,
                  md5(array_to_string(
                    list(CAST(id AS VARCHAR) ORDER BY slot), ' ')) AS ids_md5
                FROM pk GROUP BY 1, 2)
         SELECT source, seq_id, n_tokens, ids_md5 FROM sq
         ORDER BY source, seq_id""",
    // v5: the shared NB chain decides membership (predicted 'en',
    // fallback class for zero-vocab docs), then fingerprint dedup
    "q_curate_pipeline_v5" ->
      s"""WITH ${nbCtes("documents", "lang")},
         keepids AS (SELECT dd.doc_id FROM documents dd
                     LEFT JOIN best b USING (doc_id) CROSS JOIN fb
                     WHERE coalesce(b.pred, fb.fc) = 'en'),
         s1 AS (SELECT d.doc_id, d.lang, d.source, d.text
                FROM documents d JOIN keepids USING (doc_id)),
         s2 AS (SELECT doc_id, lang, source, text FROM (
             SELECT doc_id, lang, source, text, row_number() OVER (
               PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
               ORDER BY doc_id) AS rn FROM s1) WHERE rn = 1)
         SELECT doc_id, lang, source, md5(text) AS text_md5 FROM s2
         ORDER BY doc_id""",
    // the full 11-stage FineWeb recipe, one CTE per stage (seed →
    // c4 → normalize → gopher → repetition → exact dedup → minhash
    // CC → decontaminate → NB gate → token budget → BPE → shard pack)
    "q_curate_fineweb" ->
      s"""WITH RECURSIVE $fineWebCtes
        SELECT source, seq_id, n_tokens, ids_md5 FROM sq
        ORDER BY source, seq_id""",
    // the same stage CTEs counted: the curation survival funnel
    "q_curate_fineweb_report" ->
      s"""WITH RECURSIVE $fineWebCtes
        SELECT * FROM (
          SELECT 0 AS stage, 'input' AS op, count(*) AS rows_out FROM fw0
          UNION ALL SELECT 1, 'c4_clean', count(*) FROM c4
          UNION ALL SELECT 2, 'normalize', count(*) FROM norm
          UNION ALL SELECT 3, 'gopher_filter', count(*) FROM gkept
          UNION ALL SELECT 4, 'repetition_filter', count(*) FROM rkept
          UNION ALL SELECT 5, 'dedup_exact', count(*) FROM ded
          UNION ALL SELECT 6, 'minhash_neardup', count(*) FROM mnd
          UNION ALL SELECT 7, 'decontaminate', count(*) FROM dec
          UNION ALL SELECT 8, 'nb_class_filter', count(*) FROM nbk
          UNION ALL SELECT 9, 'token_budget', count(*) FROM tb
          UNION ALL SELECT 10, 'tokenize', count(*) FROM tb
          UNION ALL SELECT 11, 'pack', count(*) FROM sq)
        ORDER BY stage""",
    // URL seed + the normalize/host/scheme CTE replay (identical bytes)
    "q_url_normalize" ->
      s"""WITH seed AS (SELECT doc_id, $docUrlSql AS url FROM documents),
        ${urlNormCtes("seed", "un")}
        SELECT doc_id, url AS url_norm, host, scheme,
          'http://host' || CAST(doc_id % 3 AS VARCHAR) || '.example.com/a/e-'
            || CAST(doc_id AS VARCHAR) || '?k=2' AS norm2,
          'host' || CAST(doc_id % 3 AS VARCHAR) || '.example.com' AS host2
        FROM un ORDER BY doc_id""",
    // expected outlinks derived CLOSED-FORM from doc_id: the five
    // surviving anchors in document order (absolute, protocol-relative
    // + base scheme, rooted + authority, relative + base dir, and the
    // duplicate absolute); the four droppers never appear
    "q_html_links" ->
      """WITH d AS (SELECT doc_id, CAST(doc_id % 5 AS VARCHAR) AS k,
            CAST(doc_id AS VARCHAR) AS i FROM documents),
        exp AS (
          SELECT doc_id, 0 AS pos,
            'http://other.example.com/abs/' || i AS link FROM d
          UNION ALL SELECT doc_id, 1,
            'https://cdn.example.net/lib/' || i || '.js' FROM d
          UNION ALL SELECT doc_id, 2,
            'https://Host' || k || '.Example.org:8443/rooted/r' || i || '.html' FROM d
          UNION ALL SELECT doc_id, 3,
            'https://Host' || k || '.Example.org:8443/sec/' || i || '/sibling-'
              || i || '.html' FROM d
          UNION ALL SELECT doc_id, 4,
            'http://other.example.com/abs/' || i FROM d)
        SELECT doc_id, CAST(pos AS BIGINT) AS pos, link FROM exp
        ORDER BY doc_id, pos""",
    // every SURT key stated closed-form from the docUrl classes:
    // tracking params drop, www. strips, the ftp non-default port
    // keeps, the schemeless host reverses too, the bare host answers )/
    "q_url_surt" ->
      """SELECT doc_id,
           CASE CAST(doc_id % 6 AS INTEGER)
             WHEN 0 THEN 'com,example)/path/to/page-' || CAST(doc_id AS VARCHAR)
               || '?id=' || CAST(doc_id AS VARCHAR)
             WHEN 1 THEN 'org,news)/?q=term'
             WHEN 2 THEN 'com,example,cdn)/item/' || CAST(doc_id AS VARCHAR) || '.html'
             WHEN 3 THEN 'net,example,files)/plain/' || CAST(doc_id AS VARCHAR)
             WHEN 4 THEN 'io,example,archive:2121)/data/' || CAST(doc_id AS VARCHAR)
             ELSE 'com,example,shop)/p?a=1&b=2'
           END AS surt,
           CASE CAST(doc_id % 6 AS INTEGER)
             WHEN 0 THEN 'com,example)/path/to/page-' || CAST(doc_id AS VARCHAR)
               || '?id=' || CAST(doc_id AS VARCHAR)
             WHEN 1 THEN 'org,news)/?q=term'
             WHEN 2 THEN 'com,example,cdn)/item/' || CAST(doc_id AS VARCHAR) || '.html'
             WHEN 3 THEN 'net,example,files)/plain/' || CAST(doc_id AS VARCHAR)
             WHEN 4 THEN 'io,example,archive:2121)/data/' || CAST(doc_id AS VARCHAR)
             ELSE 'com,example,shop)/p?a=1&b=2'
           END AS surt_sql,
           'org,example,bare)/' AS surt_bare
         FROM documents ORDER BY doc_id""",
    // each host class's effective delay stated closed-form: the named
    // graftbot group's 2.5 beats star's 10; the pre-group 9 is
    // ignored and star answers 7; no-delay and foreign groups → null
    "q_robots_delay" ->
      """SELECT doc_id,
           CASE CAST(doc_id % 4 AS INTEGER)
             WHEN 1 THEN 2.5 WHEN 2 THEN 7.0
             ELSE CAST(NULL AS DOUBLE) END AS delay
         FROM documents ORDER BY doc_id""",
    // the Sitemap rows restated closed-form from doc_id arithmetic —
    // dup dropped at first position, comment stripped, no-sitemap and
    // blank-value bodies contribute nothing
    "q_robots_sitemaps" ->
      """WITH d AS (SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS k
             FROM documents),
         r AS (
           SELECT doc_id, 'h0.example' AS host, 0 AS ord,
             'http://h0.example/sm-' || CAST(doc_id AS VARCHAR) || '.xml' AS sitemap_url
           FROM d WHERE k = 0
           UNION ALL
           SELECT doc_id, 'h0.example', 1, 'http://h0.example/extra.xml'
           FROM d WHERE k = 0
           UNION ALL
           SELECT doc_id, 'h2.example', 0,
             'http://h2.example/a-' || CAST(doc_id AS VARCHAR) || '.xml'
           FROM d WHERE k = 2
           UNION ALL
           SELECT doc_id, 'h3.example', 0, 'http://h3.example/s.xml'
           FROM d WHERE k = 3)
         SELECT doc_id, host, CAST(ord AS INTEGER) AS "order", sitemap_url
         FROM r ORDER BY doc_id, "order"""",
    // the rank window + md5 bucket contract replayed verbatim
    "q_frontier_schedule" ->
      """WITH u AS (SELECT doc_id,
            'http://h' || CAST(doc_id % 5 AS VARCHAR) || '.crawl.example/p/'
              || CAST(doc_id AS VARCHAR) AS url,
            CAST(doc_id % 3 AS INTEGER) AS priority,
            'h' || CAST(doc_id % 5 AS VARCHAR) || '.crawl.example' AS host
          FROM documents),
        r AS (SELECT *, row_number() OVER (
            PARTITION BY host ORDER BY priority DESC, url ASC) AS rk FROM u)
        SELECT doc_id, url, host,
          CAST((md5_number_lower(host || 'fetch-v1') % 281474976710656) % 4
            AS INTEGER) AS fetch_slot,
          CAST((rk - 1) // 7 AS INTEGER) AS fetch_wave
        FROM r ORDER BY doc_id""",
    // survivors closed-form: the page locs (tracking param and upper
    // case normalized away, the %100 variant deduped in), /private/
    // locs never appear
    "q_sitemap_frontier" ->
      """SELECT DISTINCT url FROM (
          SELECT 'http://s' || CAST(doc_id % 3 AS VARCHAR)
            || '.example/page/' || CAST(doc_id AS VARCHAR) AS url
          FROM documents
          UNION
          SELECT 'http://s' || CAST(doc_id % 3 AS VARCHAR)
            || '.example/page/' || CAST(doc_id % 100 AS VARCHAR)
          FROM documents)
        ORDER BY url""",
    // the surviving frontier restated from doc_id arithmetic: art
    // links (tracking param normalized away), same-host relative
    // links, and visited-page links that DON'T hit a real visited id;
    // ad-host, /private/ and mailto: links never appear
    "q_crawl_frontier_round" -> frontierRoundOracle,
    // the streaming twin emits the identical URL set (trigger-split
    // invariant dedup state), so the batch oracle serves it verbatim
    "q_stream_frontier" -> frontierRoundOracle,
    // fetchability stated closed-form: h0 has no robots (allowed),
    // h1 blocks /private/ except the /private/pub allow, h2 denies
    // graftbot everything, h3 denies *.pdf, h4's group is for another
    // crawler (inert)
    "q_robots_frontier" ->
      """WITH f AS (SELECT doc_id,
            'http://h' || CAST(doc_id % 5 AS VARCHAR) || '.example' ||
            CASE CAST(doc_id % 4 AS INTEGER)
              WHEN 0 THEN '/private/pub-' || CAST(doc_id AS VARCHAR)
              WHEN 1 THEN '/private/sec-' || CAST(doc_id AS VARCHAR)
              WHEN 2 THEN '/doc-' || CAST(doc_id AS VARCHAR) || '.pdf'
              ELSE '/page-' || CAST(doc_id AS VARCHAR) END AS url
          FROM documents)
        SELECT doc_id, url FROM f
        WHERE doc_id % 5 <> 2
          AND NOT (doc_id % 5 = 1 AND doc_id % 4 = 1)
          AND NOT (doc_id % 5 = 3 AND doc_id % 4 = 2)
        ORDER BY doc_id""",
    // every metadata value stated closed-form from doc_id; the absent
    // meta answers ''
    "q_html_meta" ->
      """SELECT doc_id,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           'Doc ' || CAST(doc_id AS VARCHAR) || ' & friends' AS meta_desc,
           'kw-' || CAST(doc_id AS VARCHAR) || ',misc' AS meta_kw,
           '' AS meta_absent,
           'en-us' AS lang,
           'http://s.example/p/' || CAST(doc_id AS VARCHAR) || '?a=1&b=2|'
             || 'http://s.example/q/' || CAST(doc_id AS VARCHAR) AS sitemap_urls
         FROM documents ORDER BY doc_id""",
    // host edges rebuilt closed-form (self-links excluded, parallel
    // links collapsed), then the same 5 rounded power iterations
    "q_host_rank" ->
      s"""WITH pages AS (SELECT doc_id,
            'h' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS src
          FROM documents),
        links AS (
          SELECT src, 'h' || CAST((doc_id * 2 + 1) % 7 AS VARCHAR)
            || '.example' AS dst FROM pages
          UNION ALL SELECT src, 'h' || CAST((doc_id * 3 + 2) % 7 AS VARCHAR)
            || '.example' FROM pages
          UNION ALL SELECT src, 'h' || CAST(doc_id % 3 AS VARCHAR)
            || '.example' FROM pages),
        edges AS (SELECT DISTINCT src, dst FROM links WHERE src <> dst),
        nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
        deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
        nn AS (SELECT count(*) AS n FROM nodes),
        r0 AS (SELECT node, round(CAST(1.0 AS DOUBLE) / nn.n, 9) AS rank
          FROM nodes CROSS JOIN nn),
        ${prIterSql("r0", "r1")},
        ${prIterSql("r1", "r2")},
        ${prIterSql("r2", "r3")},
        ${prIterSql("r3", "r4")},
        ${prIterSql("r4", "r5")}
        SELECT node, rank FROM r5 ORDER BY node""",
    // the identical degree-ordered orientation, wedge join and closing
    // edge, then the per-node unpivot count
    "q_link_triangles" ->
      """WITH pages AS (SELECT doc_id,
            'g' || CAST(doc_id % 23 AS VARCHAR) || '.example' AS src
          FROM documents),
        links AS (
          SELECT src, 'g' || CAST((doc_id * 5 + 1) % 23 AS VARCHAR)
            || '.example' AS dst FROM pages
          UNION ALL SELECT src, 'g' || CAST((doc_id * 11 + 3) % 23 AS VARCHAR)
            || '.example' FROM pages
          UNION ALL SELECT src, 'g' || CAST((doc_id * 2 + 7) % 23 AS VARCHAR)
            || '.example' FROM pages),
        e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM links WHERE src <> dst),
        und AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
        deg AS (SELECT a AS n, count(*) AS d FROM und GROUP BY 1),
        o AS (SELECT u.a AS u, u.b AS v, db.d AS dv
          FROM und u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b
          WHERE da.d < db.d OR (da.d = db.d AND u.a < u.b)),
        w AS (SELECT o1.u, o1.v AS v1, o2.v AS v2
          FROM o o1 JOIN o o2 ON o1.u = o2.u
          WHERE o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v)),
        tri AS (SELECT w.u AS m1, w.v1 AS m2, w.v2 AS m3
          FROM w JOIN o ON o.u = w.v1 AND o.v = w.v2),
        pn AS (SELECT n, count(*) AS n_triangles FROM (
            SELECT m1 AS n FROM tri UNION ALL SELECT m2 FROM tri
            UNION ALL SELECT m3 FROM tri)
          GROUP BY 1)
        SELECT deg.n AS node, deg.d AS degree,
          coalesce(pn.n_triangles, 0) AS n_triangles,
          CASE WHEN deg.d > 1 THEN round(2.0 * coalesce(pn.n_triangles, 0)
            / (deg.d * (deg.d - 1)), 6) ELSE 0.0 END AS clustering
        FROM deg LEFT JOIN pn ON pn.n = deg.n ORDER BY node""",
    // the same rank rounds, then the top-3 host cut and the schedule
    // window replayed in one chain
    "q_frontier_budget" ->
      s"""WITH pages AS (SELECT doc_id,
            'h' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS src
          FROM documents),
        links AS (
          SELECT src, 'h' || CAST((doc_id * 2 + 1) % 7 AS VARCHAR)
            || '.example' AS dst FROM pages
          UNION ALL SELECT src, 'h' || CAST((doc_id * 3 + 2) % 7 AS VARCHAR)
            || '.example' FROM pages
          UNION ALL SELECT src, 'h' || CAST(doc_id % 3 AS VARCHAR)
            || '.example' FROM pages),
        edges AS (SELECT DISTINCT src, dst FROM links WHERE src <> dst),
        nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
        deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
        nn AS (SELECT count(*) AS n FROM nodes),
        r0 AS (SELECT node, round(CAST(1.0 AS DOUBLE) / nn.n, 9) AS rank
          FROM nodes CROSS JOIN nn),
        ${prIterSql("r0", "r1")},
        ${prIterSql("r1", "r2")},
        ${prIterSql("r2", "r3")},
        ${prIterSql("r3", "r4")},
        ${prIterSql("r4", "r5")},
        th AS (SELECT node AS host, rank FROM r5
          ORDER BY rank DESC, node LIMIT 3),
        u AS (SELECT 'http://h' || CAST(doc_id % 7 AS VARCHAR)
              || '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
            'h' || CAST(doc_id % 7 AS VARCHAR) || '.example' AS host
          FROM documents),
        j AS (SELECT u.url, u.host, th.rank FROM u
          JOIN th ON th.host = u.host),
        rk AS (SELECT *, row_number() OVER (
            PARTITION BY host ORDER BY url ASC) AS rn FROM j)
        SELECT url, host, rank,
          CAST((md5_number_lower(host || 'fetch-v1') % 281474976710656) % 4
            AS INTEGER) AS fetch_slot,
          CAST((rn - 1) // 5 AS INTEGER) AS fetch_wave
        FROM rk ORDER BY url""",
    // frontier seed (+tracking-decorated variants) → normalize CTEs →
    // scheme/host/pattern gate → first-id-per-url dedup. Partitioning
    // by the normalized url matches Dedup.exact's fingerprint classes:
    // every normalized seed is already lowercase and whitespace-free.
    "q_curate_url_filter" ->
      s"""WITH seed AS (
          SELECT doc_id, CASE CAST(doc_id % 8 AS INTEGER)
            WHEN 0 THEN 'https://ads.example.com/banner/' || CAST(doc_id AS VARCHAR)
            WHEN 1 THEN 'https://Track.ads.example.com/pix/' || CAST(doc_id AS VARCHAR)
            WHEN 2 THEN 'http://games.example.com/casino/page-' || CAST(doc_id AS VARCHAR)
            WHEN 3 THEN 'ftp://archive.example.io/data/' || CAST(doc_id AS VARCHAR)
            WHEN 4 THEN 'HTTP://Shop.Example.COM:80/item/' || CAST(doc_id AS VARCHAR)
              || '?utm_source=x&ref=' || CAST(doc_id AS VARCHAR) || '#top'
            WHEN 5 THEN 'https://news.example.org/story-' || CAST(doc_id AS VARCHAR)
            WHEN 6 THEN 'docs.example.net/guide/' || CAST(doc_id AS VARCHAR)
            ELSE 'https://WWW.Example.com:443/' END AS url
          FROM documents
          UNION ALL
          SELECT doc_id + 1000000,
            'https://News.example.org:443/story-' || CAST(doc_id AS VARCHAR)
              || '?utm_campaign=z#frag'
          FROM documents WHERE doc_id % 8 = 5),
        ${urlNormCtes("seed", "un")},
        f AS (SELECT doc_id, url FROM un
          WHERE scheme IN ('http', 'https')
            AND NOT (host = 'ads.example.com'
              OR ends_with(host, '.ads.example.com'))
            AND NOT regexp_matches(lower(url), 'casino')),
        ded AS (SELECT doc_id, url FROM (
            SELECT doc_id, url,
              row_number() OVER (PARTITION BY url ORDER BY doc_id) AS rn
            FROM f)
          WHERE rn = 1)
        SELECT doc_id, url FROM ded ORDER BY doc_id""",
    // HTML wrap + block-by-block extraction replay (identical bytes)
    "q_html_extract" ->
      s"""WITH h AS (SELECT doc_id, ${docHtmlSql("text")} AS html FROM documents),
        ${htmlExtractCtes("h", "hx", "")}
        SELECT doc_id, md5(text) AS text_md5,
          CAST(len(text) AS BIGINT) AS n_chars,
          CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
        FROM hx ORDER BY doc_id""",
    // the 12-stage v2 recipe: html-wrapped seed → extraction CTEs →
    // the shared 11-stage chain
    "q_curate_fineweb_v2" ->
      s"""WITH RECURSIVE ${fineWebCtesFrom(
          raw"""fwraw AS MATERIALIZED (SELECT doc_id, lang, source,
              (doc_id % 97 = 0) AS is_bench,
              ${docHtmlSql(s"($fwSeedTextSql)")} AS html
            FROM documents),
          ${htmlExtractCtes("fwraw", "fw0", "s.lang, s.source, s.is_bench,")}""")}
        SELECT source, seq_id, n_tokens, ids_md5 FROM sq
        ORDER BY source, seq_id""",
    // v3 = v2's chain over the frontier survivors: the WARC round trip
    // is byte-identical (q_warc_scan) and the %9 ad-host shard drops
    // at url_filter, so the replay is the v2 CTEs minus that shard
    "q_curate_fineweb_v3" ->
      s"""WITH RECURSIVE ${fineWebCtesFrom(
          raw"""fwraw AS MATERIALIZED (SELECT doc_id, lang, source,
              (doc_id % 97 = 0) AS is_bench,
              ${docHtmlSql(s"($fwSeedTextSql)")} AS html
            FROM documents WHERE doc_id % 9 <> 0),
          ${htmlExtractCtes("fwraw", "fw0", "s.lang, s.source, s.is_bench,")}""")}
        SELECT source, seq_id, n_tokens, ids_md5 FROM sq
        ORDER BY source, seq_id""",
    // embed replay (exact-integer sums → bit-identical floats) feeding
    // the IVF-assignment + within-cell threshold-join semdedup replay
    // embed replay → HUGEINT sign packing (two's-complemented to the
    // engine's signed long) → banded pairs → CC min-label survivors
    "q_curate_signdedup" ->
      s"""WITH RECURSIVE src AS (SELECT doc_id, text FROM documents),
        ${embedCtes("src", "sign-v1", 64)},
        hs AS (SELECT vec_id AS doc_id,
            CAST(CASE WHEN s >= 9223372036854775808
                 THEN s - 18446744073709551616 ELSE s END AS BIGINT) AS sign_hash
          FROM (SELECT vec_id, list_sum(list_transform(range(1, 65), i ->
              CASE WHEN embedding[CAST(i AS INT)] > 0
                THEN CAST(1 AS HUGEINT) << CAST(i - 1 AS INT)
                ELSE CAST(0 AS HUGEINT) END)) AS s FROM emb)),
        banded AS (SELECT doc_id, sign_hash, b AS band,
            (sign_hash >> (b * 16)) & 65535 AS key
          FROM hs, unnest([0, 1, 2, 3]) t(b)),
        pairs AS (SELECT a, b FROM (
            SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
              bit_count(xor(a.sign_hash, b.sign_hash)) AS dist
            FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
            WHERE a.doc_id < b.doc_id) WHERE dist <= 1),
        edges AS (SELECT a AS eid, b AS dst FROM pairs
                  UNION SELECT b, a FROM pairs),
        reach(id, r) AS (
          SELECT DISTINCT eid, eid FROM edges
          UNION
          SELECT e.dst, r.r FROM edges e JOIN reach r ON e.eid = r.id),
        clus AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        SELECT h.doc_id, h.sign_hash
        FROM hs h LEFT JOIN clus c ON h.doc_id = c.id
        WHERE c.id IS NULL OR c.cluster_id = h.doc_id
        ORDER BY h.doc_id""",
    "q_curate_embed_semdedup" ->
      s"""WITH src AS (SELECT doc_id, lang, source, text FROM documents),
        ${embedCtes("src", "emb-v1", 16)},
        ${ivfAssignCtes(4, 3, 50000, base = "emb", dim = 16)},
        dropped AS (SELECT DISTINCT b.vec_id AS drop_id
          FROM fasg a JOIN fasg b ON a.cell = b.cell AND a.vec_id < b.vec_id
          JOIN emb q ON q.vec_id = a.vec_id
          JOIN emb c ON c.vec_id = b.vec_id
          WHERE round(${cosSqlDim(16)}, 6) >= 0.96)
        SELECT s.doc_id, s.lang,
          round(CAST(e.embedding[1] AS DOUBLE), 6) AS e1
        FROM src s JOIN emb e ON e.vec_id = s.doc_id
        LEFT JOIN dropped d ON d.drop_id = s.doc_id
        WHERE d.drop_id IS NULL
        ORDER BY s.doc_id""",
    // the semdedup stage = q_semdedup's IVF-assignment + within-cell
    // threshold-join replay, filtered to survivors (+ label join-back)
    "q_curate_semdedup" ->
      s"""WITH ${ivfAssignCtes(4, 5, 50000,
          base = "(SELECT * FROM embeddings WHERE vec_id < 2500)")},
        dropped AS (SELECT DISTINCT b.vec_id AS drop_id
          FROM fasg a JOIN fasg b ON a.cell = b.cell AND a.vec_id < b.vec_id
          JOIN embeddings q ON q.vec_id = a.vec_id
          JOIN embeddings c ON c.vec_id = b.vec_id
          WHERE round($cosSql, 6) >= 0.5)
        SELECT f.vec_id, e.label
        FROM fasg f JOIN embeddings e ON e.vec_id = f.vec_id
        LEFT JOIN dropped d ON d.drop_id = f.vec_id
        WHERE d.drop_id IS NULL
        ORDER BY f.vec_id""",
    // the hash_neardup stage = q_image_neardup's banded pairs + the
    // connected-components closure; survivors keep their cluster min
    "q_curate_hash_neardup" ->
      """WITH RECURSIVE
        u AS (SELECT doc_id AS media_id, md5_number_lower(text) AS uh FROM documents),
        h AS (SELECT media_id, CAST(CASE WHEN uh >= 9223372036854775808
                THEN CAST(uh AS HUGEINT) - 18446744073709551616
                ELSE CAST(uh AS HUGEINT) END AS BIGINT) AS hsh FROM u),
        seeded AS (
          SELECT media_id, hsh FROM h
          UNION ALL SELECT media_id + 1000000, xor(hsh, 262146) FROM h
            WHERE media_id % 5 = 0
          UNION ALL SELECT media_id + 2000000, hsh FROM h
            WHERE media_id % 7 = 0),
        banded AS (SELECT media_id, hsh, b AS band, (hsh >> (b * 16)) & 65535 AS key
                   FROM seeded, unnest([0, 1, 2, 3]) t(b)),
        pairs AS (SELECT a, b FROM (
            SELECT DISTINCT a.media_id AS a, b.media_id AS b,
              CAST(bit_count(xor(a.hsh, b.hsh)) AS INTEGER) AS dist
            FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
            WHERE a.media_id < b.media_id) WHERE dist <= 3),
        edges AS (SELECT a AS src, b AS dst FROM pairs
                  UNION SELECT b, a FROM pairs),
        reach(id, r) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.dst, r.r FROM edges e JOIN reach r ON e.src = r.id),
        clus AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        SELECT s.media_id, s.hsh AS image_hash
        FROM seeded s LEFT JOIN clus c ON s.media_id = c.id
        WHERE c.id IS NULL OR c.cluster_id = s.media_id
        ORDER BY s.media_id""",
    // the C4 §2.2 line rules verbatim: terminal punctuation, ≥3
    // whitespace words, javascript/lorem ipsum/'{' blocklist; doc gate
    // = ≥5 terminal-punctuation runs in the kept text
    "q_c4_clean" ->
      raw"""WITH l AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
         k AS (SELECT doc_id, len(ls) AS n_lines,
             list_filter(ls, x ->
               regexp_matches(x, '[.!?"]$$')
               AND len(list_filter(string_split_regex(x, '[ \t\x0B\f\r]+'), t -> len(t) > 0)) >= 3
               AND NOT contains(lower(x), 'javascript')
               AND NOT contains(lower(x), 'lorem ipsum')
               AND NOT contains(x, '{')) AS kept
           FROM l),
         c AS (SELECT doc_id, n_lines, len(kept) AS n_kept,
                      coalesce(array_to_string(kept, chr(10)), '') AS cleaned FROM k)
         SELECT doc_id, md5(cleaned) AS clean_md5,
           CAST(n_kept AS BIGINT) AS n_lines_kept,
           CAST(n_lines - n_kept AS BIGINT) AS n_lines_dropped,
           (len(string_split_regex(cleaned, '[.!?]+')) - 1 >= 5
            AND length(cleaned) > 0) AS doc_pass
         FROM c ORDER BY doc_id""",
    // the Gopher App. A battery on exact integer counts; mean ships
    // unrounded (one IEEE division — bit-identical across engines)
    "q_gopher_rules" ->
      raw"""WITH w AS (SELECT doc_id,
             list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), t -> len(t) > 0) AS words,
             list_filter(string_split(text, chr(10)), x -> len(x) > 0) AS lines
           FROM documents),
         m AS (SELECT doc_id, len(words) AS n_words, len(lines) AS n_lines,
             CASE WHEN len(words) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(words, x -> len(x))) AS DOUBLE) / len(words)
             END AS mean_len,
             len(list_filter(words, x -> contains(x, '#') OR contains(x, '...') OR contains(x, '…'))) AS n_sym,
             len(list_filter(lines, x -> starts_with(x, '-') OR starts_with(x, '*') OR starts_with(x, '•'))) AS n_bul,
             len(list_filter(lines, x -> ends_with(x, '...') OR ends_with(x, '…'))) AS n_ell,
             len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
             len(list_filter(['the','a','an','and','or','of','to','in','is','on','for','with'],
                 s -> list_contains(list_transform(words, x -> lower(x)), s))) AS n_stop
           FROM w)
         SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_len AS mean_word_len,
           (n_words >= 20 AND n_words <= 100000) AS rule_words,
           (mean_len >= 3.0 AND mean_len <= 10.0) AS rule_mean_len,
           (n_sym <= n_words * 0.1) AS rule_symbols,
           (n_lines = 0 OR n_bul <= n_lines * 0.9) AS rule_bullets,
           (n_lines = 0 OR n_ell <= n_lines * 0.3) AS rule_ellipsis,
           (n_words = 0 OR n_alpha >= n_words * 0.8) AS rule_alpha,
           (n_stop >= 2) AS rule_stopwords,
           ((n_words >= 20 AND n_words <= 100000)
            AND (mean_len >= 3.0 AND mean_len <= 10.0)
            AND (n_sym <= n_words * 0.1)
            AND (n_lines = 0 OR n_bul <= n_lines * 0.9)
            AND (n_lines = 0 OR n_ell <= n_lines * 0.3)
            AND (n_words = 0 OR n_alpha >= n_words * 0.8)
            AND (n_stop >= 2)) AS pass
         FROM m ORDER BY doc_id""",
    // same decomposed seeds; nfc_normalize + the identical explicit
    // character classes (no \s — Java and RE2 disagree on \x0B)
    "q_text_normalize" ->
      raw"""WITH seeded AS (
           SELECT doc_id, '  ' || chr(9) || 'cafe' || chr(769) || ' ' || text ||
             CASE WHEN doc_id % 2 = 0
                  THEN chr(10) || chr(10) || 'A' || chr(778) || ' end' || chr(7)
                  ELSE ' plain' || chr(11) || '.' END AS text
           FROM documents),
         norm AS (
           SELECT doc_id, trim(regexp_replace(regexp_replace(nfc_normalize(text),
             '[ \t\n\x0B\f\r]+', ' ', 'g'), '[\x00-\x08\x0E-\x1F\x7F]', '', 'g')) AS n
           FROM seeded)
         SELECT doc_id, md5(n) AS norm_md5, CAST(length(n) AS BIGINT) AS norm_chars
         FROM norm ORDER BY doc_id""",
  )
}
