package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RelationBridge
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.functions.TextExprs

/** Deduplication operators for training-data pipelines, each designed
  * for partition-parallel execution at corpus scale:
  *
  *  - exact: hash-groupBy on a canonical fingerprint — one shuffle on
  *    the 16-byte digest, keeps the smallest id per group.
  *  - MinHash + LSH: shingle → k minhashes → b bands; candidate pairs
  *    only materialize inside band buckets (the shuffle key is the band
  *    signature, so skewless data shuffles O(docs·b) tiny rows, never
  *    O(docs²) pairs).
  *  - SimHash: 64-bit sign-sum sketch; near-dup = small Hamming
  *    distance; bucketing on 16-bit bands guarantees recall for d ≤ 3
  *    (4 bands, pigeonhole) — callers asking for a larger radius get
  *    documented-approximate results.
  *  - n-gram Jaccard: exact verify step over candidate pairs via
  *    shingle-explode + join — the join key is the shingle, so
  *    co-occurrence is computed without a cross join. `maxDocFreq`
  *    drops ubiquitous shingles ("of the …") from the join: a shingle
  *    appearing in f docs contributes f² join pairs, so one hot shingle
  *    makes the join quadratic at corpus scale; capping document
  *    frequency bounds each shingle's contribution at maxDocFreq² with
  *    a small, quantifiable recall cost on boilerplate-heavy pairs.
  *
  * Caching stance: none. Round 1 persisted the exploded band/shingle
  * relations to avoid recomputing interpreted HOF minhashes on both
  * join sides; the native kernels ([[TextExprs]]) make recompute
  * cheaper than the cache write, and at 100 TB caching a corpus-sized
  * intermediate is itself the scale bug (VERDICT r1, ADVICE r1).
  *
  * Hash family note: minhash permutations are md5(j || ':' || shingle)
  * and simhash token hashes are the low 64 bits of md5 — deliberately
  * engine-portable (the DuckDB oracle replays the exact pipeline via
  * md5/md5_number_lower). The xxhash64 simhash variant stays available
  * as [[simhashXx]] at ~2× less hashing cost.
  */
object Dedup {

  // ------------------------------------------------------------ exact

  /** One row per distinct fingerprint: kept id (min), duplicate count. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(TextOps.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_copies"))

  /** The deduplicated view: first row (by id) per fingerprint. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(TextOps.fingerprint(col(textCol)))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // ---------------------------------------------------------- minhash

  /** j-th minhash of a shingle array (md5 family, lexicographic min). */
  def minhashExpr(shingleArr: Column, j: Int): Column =
    array_min(transform(shingleArr, s => md5(concat(lit(j.toString), lit(":"), s))))

  /** id + k minhash columns `mh0..mh{k-1}` over word-n-gram shingles.
    * One native kernel call computes all k mins in a single pass. */
  def minhashSignatures(
      df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, k: Int = 8): DataFrame = {
    val base = Par.widen(df).select(col(idCol),
      TextExprs.minhash_md5(TextExprs.word_shingles(col(textCol), shingleN), k).as("__mh"))
    val mhCols = (0 until k).map(j => col("__mh").getItem(j).as(s"mh$j"))
    base.select(col(idCol) +: mhCols: _*)
  }

  /** LSH candidate pairs: ids sharing at least one band signature.
    * k minhashes grouped into `bands` bands of k/bands rows each; one
    * shuffle on (band index, band signature). `maxBucket > 0` drops
    * band buckets holding more ids than the cap — a degenerate bucket
    * of f ids yields f²/2 pairs, so at corpus scale a boilerplate
    * signature would dominate the output; capped buckets trade those
    * (already near-useless) candidates for a hard bound. */
  def minhashCandidates(
      df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, k: Int = 8, bands: Int = 4,
      maxBucket: Int = 0): DataFrame =
    bandPairs(minhashSignatures(df, textCol, idCol, shingleN, k),
      idCol, k, bands, maxBucket)

  /** LSH band self-join over a PRECOMPUTED signature frame (`mh0..
    * mh{k-1}` + id) — the join half of [[minhashCandidates]], split out
    * (r17) so the pipeline's near-dup stage can collapse identical
    * signatures before banding. */
  private[graft] def bandPairs(sigs: DataFrame, idCol: String, k: Int,
      bands: Int, maxBucket: Int): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat((0 until rows).map(r => col(s"mh${b * rows + r}")): _*).as("sig"))
    }
    val exploded = sigs.select(col(idCol), explode(array(bandCols: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val capped = capBuckets(exploded, Seq("band", "sig"), maxBucket)
    val a = capped.toDF(s"a_$idCol", "band", "sig")
    val b = capped.toDF(s"b_$idCol", "band", "sig")
    a.join(b, Seq("band", "sig"))
      .filter(col(s"a_$idCol") < col(s"b_$idCol"))
      .select(col(s"a_$idCol"), col(s"b_$idCol"))
      .distinct()
  }

  /** window-count cap: keep rows whose bucket has ≤ max members
    * (shared with [[Similarity]]'s banded signature joins) */
  private[operators] def capBuckets(df: DataFrame, keys: Seq[String], max: Int): DataFrame =
    if (max <= 0) df
    else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(keys.map(col): _*)
      df.withColumn("__bn", count(lit(1)).over(w))
        .filter(col("__bn") <= max).drop("__bn")
    }

  // ---------------------------------------------------------- simhash

  /** 64-bit SimHash over tokens, md5 token-hash family (oracle-portable). */
  def simhash(text: Column): Column =
    TextExprs.simhash_md5(TextExprs.tokens(text, lower = true))

  /** xxhash64-family variant (cheaper, not replayable in DuckDB). */
  def simhashXx(text: Column): Column =
    graft.functions.VectorExprs.simhash64(TextExprs.tokens(text, lower = true))

  /** Hamming distance between two 64-bit sketches. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with Hamming ≤ maxDist, bucketed by 16-bit
    * bands. Recall contract: a pair within distance d shares a band iff
    * d ≤ 3 (pigeonhole over 4 bands) — for maxDist > 3 results are
    * band-limited (documented approximation). `maxBucket` caps
    * degenerate hot buckets as in [[minhashCandidates]]. */
  def simhashCandidates(
      df: DataFrame, textCol: String, idCol: String, maxDist: Int = 3,
      maxBucket: Int = 0): DataFrame =
    hashCandidates(df.select(col(idCol), simhash(col(textCol)).as("sh")),
      idCol, "sh", maxDist, maxBucket)

  /** Banded near-dup pairs over ANY precomputed 64-bit sketch column —
    * the shared engine under [[simhashCandidates]] and the image dHash
    * path ([[Multimodal.imageHashes]]): 16-bit band buckets (pigeonhole
    * recall: a pair within distance d shares a band iff d ≤ 3),
    * hot-bucket caps, exact Hamming verify on the candidates. */
  def hashCandidates(sigs: DataFrame, idCol: String, hashCol: String,
      maxDist: Int = 3, maxBucket: Int = 0): DataFrame = {
    val banded = sigs.select(col(idCol), col(hashCol).as("__sh"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col(hashCol), b * 16).bitwiseAND(0xFFFFL).as("key"))): _*)).as("bk"))
      .select(col(idCol), col("__sh"), col("bk.band"), col("bk.key"))
    val capped = capBuckets(banded, Seq("band", "key"), maxBucket)
    val a = capped.toDF(s"a_$idCol", "a_sh", "band", "key")
    val b = capped.toDF(s"b_$idCol", "b_sh", "band", "key")
    a.join(b, Seq("band", "key"))
      .filter(col(s"a_$idCol") < col(s"b_$idCol"))
      .select(col(s"a_$idCol"), col(s"b_$idCol"),
        hamming(col("a_sh"), col("b_sh")).as("dist"))
      // verify BEFORE the dedup shuffle: dist is deterministic per
      // pair, so the result is identical, but the distinct now moves
      // only qualifying pairs instead of every band collision
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** Near-dup pairs by SHARED-FINGERPRINT count — the exact-match
    * sibling of [[hashCandidates]] for multi-fingerprint media (e.g.
    * sampled video frames, [[Multimodal.videoFingerprints]]): ids
    * sharing ≥ `minShared` distinct fingerprints pair up. One join on
    * the fingerprint (never all-pairs); `maxFreq > 0` drops
    * fingerprints present in more than that many ids before the join —
    * the hot-bucket cap for boilerplate frames (intros, test cards). */
  def sharedFingerprintPairs(df: DataFrame, idCol: String, fpCol: String,
      minShared: Long = 1L, maxFreq: Int = 0): DataFrame = {
    val fps = capBuckets(
      df.select(col(idCol), col(fpCol).as("__fp")).distinct(),
      Seq("__fp"), maxFreq)
    val a = fps.toDF(s"a_$idCol", "__fp")
    val b = fps.toDF(s"b_$idCol", "__fp")
    a.join(b, Seq("__fp"))
      .filter(col(s"a_$idCol") < col(s"b_$idCol"))
      .groupBy(col(s"a_$idCol"), col(s"b_$idCol"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  // ----------------------------------------------------- n-gram jaccard

  /** Exact word-n-gram Jaccard for every id pair that shares at least
    * one (non-capped) shingle. `maxDocFreq > 0` excludes shingles
    * present in more than that many documents from the join (sizes are
    * computed on the same filtered relation, keeping the Jaccard
    * denominator consistent — the capped variant is Jaccard over the
    * rare-shingle profile). */
  def ngramJaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, minJaccard: Double = 0.0,
      maxDocFreq: Int = 0): DataFrame = {
    val shAll = Par.widen(df).select(col(idCol),
      explode(array_distinct(TextExprs.word_shingles(col(textCol), shingleN))).as("sh"))
    val sh = capBuckets(shAll, Seq("sh"), maxDocFreq)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val a = sh.toDF(s"a_$idCol", "sh")
    val b = sh.toDF(s"b_$idCol", "sh")
    val inter = a.join(b, "sh")
      .filter(col(s"a_$idCol") < col(s"b_$idCol"))
      .groupBy(col(s"a_$idCol"), col(s"b_$idCol"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.toDF(s"a_$idCol", "a_sz"), s"a_$idCol")
      .join(sizes.toDF(s"b_$idCol", "b_sz"), s"b_$idCol")
      .select(col(s"a_$idCol"), col(s"b_$idCol"),
        (col("n_common").cast(DoubleType) /
          (col("a_sz") + col("b_sz") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Benchmark decontamination: per training document, how many of its
    * distinct word n-grams appear ANYWHERE in the benchmark split —
    * the n-gram-overlap contamination check used when assembling
    * training corpora (the 13-gram test of GPT-3 appendix C / PaLM,
    * re-cut for this engine's whitespace shingles). `isBenchmark`
    * splits the input; every non-benchmark doc comes back with its
    * distinct-shingle count, overlap count, and overlap fraction.
    *
    * Shape at 100 TB: benchmark suites are tiny (eval sets, not
    * corpora), so the distinct benchmark-shingle set BROADCASTS and
    * the corpus side never shuffles for the probe — one map-side
    * semi-join pass plus the per-doc count aggregation. */
  def decontaminate(df: DataFrame, textCol: String, idCol: String,
      isBenchmark: Column, shingleN: Int = 3): DataFrame = {
    val sh = df.select(col(idCol), isBenchmark.as("__bench"),
        explode(array_distinct(TextExprs.word_shingles(col(textCol), shingleN)))
          .as("__s"))
    val bench = sh.filter(col("__bench")).select(col("__s")).distinct()
    val train = sh.filter(!col("__bench"))
    val sizes = train.groupBy(col(idCol))
      .agg(count(lit(1)).cast(LongType).as("n_shingles"))
    val hits = train.join(broadcast(bench), "__s")
      .groupBy(col(idCol)).agg(count(lit(1)).cast(LongType).as("__h"))
    sizes.join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__h"), lit(0L)).as("n_hits"),
        col("n_shingles"),
        round(coalesce(col("__h"), lit(0L)).cast(DoubleType) / col("n_shingles"), 6)
          .as("contaminated_frac"))
  }

  /** Span-level benchmark contamination — the exact-substring idea
    * (Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better") at shingle granularity: for every (train doc,
    * benchmark doc) pair sharing shingles, the longest run of
    * CONSECUTIVE shared shingle positions. A run of r shingles of
    * width n is r+n−1 tokens of verbatim quotation —
    * [[decontaminate]]'s set overlap asks "how much is shared", this
    * asks "how long a quote", which is what benchmark-leak audits
    * act on.
    *
    * Mechanics: positioned shingles join on content; inside a
    * (train, bench, pt−pb) diagonal a consecutive run has constant
    * pt − row_number (the islands trick), so one window + two
    * aggregations find every maximal run. The benchmark side
    * broadcasts (a held-out split is small by construction); the
    * shingle equi-join is the only shuffle; windows run over matched
    * positions only, a vanishing fraction of the corpus.
    *
    * Output: (train_id, bench_id, max_run, span_tokens) for pairs
    * with max_run ≥ minRun. */
  def contaminationSpans(df: DataFrame, textCol: String, idCol: String,
      isBenchmark: Column, shingleN: Int = 3, minRun: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = df.select(col(idCol).as("__id"), isBenchmark.as("__bench"),
      posexplode(TextExprs.word_shingles(col(textCol), shingleN)).as(Seq("__p", "__s")))
    val bench = sh.filter(col("__bench"))
      .select(col("__id").as("bench_id"), col("__p").as("__pb"), col("__s"))
    val train = sh.filter(!col("__bench"))
      .select(col("__id").as("train_id"), col("__p").as("__pt"), col("__s"))
    val matched = train.join(broadcast(bench), "__s")
      .select(col("train_id"), col("bench_id"), col("__pt"),
        (col("__pt") - col("__pb")).as("__diag"))
    val w = Window.partitionBy(col("train_id"), col("bench_id"), col("__diag"))
      .orderBy(col("__pt"))
    matched
      .withColumn("__isl", col("__pt") - row_number().over(w))
      .groupBy(col("train_id"), col("bench_id"), col("__diag"), col("__isl"))
      .agg(count(lit(1)).cast(LongType).as("__run"))
      .groupBy(col("train_id"), col("bench_id"))
      .agg(max(col("__run")).as("max_run"))
      .filter(col("max_run") >= minRun)
      .select(col("train_id"), col("bench_id"), col("max_run"),
        (col("max_run") + (shingleN - 1)).as("span_tokens"))
  }

  /** Corpus-self exact-substring duplication (Lee et al. 2021
    * ExactSubstr, re-cut at whitespace-shingle granularity): every
    * MAXIMAL span of consecutive shingle positions whose shingle occurs
    * in at least `minDocs` distinct documents. A run of r n-shingles is
    * r+n−1 tokens verbatim-duplicated somewhere else in the corpus —
    * the signal ExactSubstr cuts at 50 tokens; here the span length is
    * reported and the cut threshold is the caller's.
    *
    * Shape at 100 TB: the doc-frequency pass is ONE shuffle keyed on
    * shingle content with map-side partial aggregation; positions
    * rejoin the frequent-shingle set on the same key (an AQE-skew-
    * splittable equi-join — no all-pairs anywhere); the island windows
    * run per-document over DUPLICATED positions only, a small fraction
    * of the corpus. A production deployment would pre-hash shingles to
    * 64 bits to shrink the shuffle width (collision-tolerant for
    * dedup); the string key is kept here so the DuckDB oracle can
    * replay the join exactly.
    *
    * Output: (doc_id, span_start, span_shingles, span_tokens) per
    * maximal duplicated span. */
  def repeatedSpans(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = df.select(col(idCol),
      posexplode(TextExprs.word_shingles(col(textCol), shingleN)).as(Seq("__p", "__s")))
    val dupes = sh.groupBy(col("__s"))
      .agg(count_distinct(col(idCol)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("__s"))
    val hit = sh.join(dupes, "__s")
    val w = Window.partitionBy(col(idCol)).orderBy(col("__p"))
    hit
      .withColumn("__isl", col("__p") - row_number().over(w))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__p")).cast(LongType).as("span_start"),
        count(lit(1)).cast(LongType).as("span_shingles"))
      .select(col(idCol), col("span_start"), col("span_shingles"),
        (col("span_shingles") + (shingleN - 1)).as("span_tokens"))
  }

  /** Cut every duplicated span found by [[repeatedSpans]] out of the
    * text (symmetric removal — ALL copies go, which is deterministic
    * under any partitioning; keep-one-copy would depend on visit
    * order). Documents with no duplicated span pass through VERBATIM;
    * documents with cuts are re-joined from surviving tokens with
    * single spaces (whitespace normalizes — the price of token-level
    * surgery). Spans extend `shingleN−1` tokens past their last
    * shingle start, exactly the tokens the final shingle covers. */
  def dedupSubstrings(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, minDocs: Int = 2): DataFrame = {
    val spans = repeatedSpans(df, textCol, idCol, shingleN, minDocs)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_tokens"))).as("__spans"))
    df.join(spans, Seq(idCol), "left")
      .withColumn("__drop",
        when(col("__spans").isNull, array().cast("array<bigint>"))
          .otherwise(flatten(transform(col("__spans"),
            s => sequence(s("span_start"),
              s("span_start") + s("span_tokens") - 1)))))
      .withColumn(textCol,
        when(size(col("__drop")) === 0, col(textCol))
          .otherwise(concat_ws(" ",
            filter(TextExprs.tokens(col(textCol)),
              (_, i) => !array_contains(col("__drop"), i.cast(LongType))))))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  // --------------------------------------------------------- clusters

  /** Connected components of the undirected graph whose edges are the
    * rows of `pairs` (`aCol` – `bCol`): one row `(id, cluster_id)` per
    * distinct id, `cluster_id` the smallest id of its component in
    * Spark's ordering of the id type (UTF-8 byte order for strings).
    * Both columns keep the id column's type. As in a SQL join, a NULL id
    * matches nothing: it yields one `(NULL, NULL)` row and leaves its
    * partner a singleton unless other pairs connect it. A self-pair
    * `(x, x)` yields `(x, x)`. Ids are integral, decimal, boolean, date,
    * timestamp or UTF8_BINARY strings, types whose values compare by
    * equality; other id types are refused.
    *
    * Pregel-style min-label propagation (Gonzalez et al., OSDI 2014) on
    * the Catalyst values: both directions of every pair are
    * hash-partitioned once on their source id into
    * `spark.sql.shuffle.partitions` partitions and persisted there.
    * Labels `(id, label)` share that partitioner, so edges meet their
    * source's label in place and `labels ⟕ messages` is a narrow join;
    * only messages and the pointer jump move. One round:
    *  - an id whose label changed in the previous round (every id, in
    *    the first) sends it along its edges, as Pregel's vote to halt:
    *    an unchanged label already reached every neighbour, whose label
    *    can only have fallen since. The messages are min-combined
    *    map-side and shuffled once;
    *  - a pointer jump `L(x) ← min(L(x), L(L(x)))`: a request shuffle
    *    keyed by `L(x)` and an answer shuffle back to `x`. `L(x)` is an
    *    id of x's own component, so the jump stays inside it, and it
    *    doubles how far a label travels per round: a chain of diameter
    *    d settles in O(log d) rounds, not d;
    *  - the change flag, new label < label before the round.
    * The rounds run on [[Materialize.rounds]]: each round's labels are
    * checkpointed by the one action that counts changed labels (one job
    * per round, plus the checkpoint write in reliable mode), and the
    * loop stops at the first round that changes nothing. Then no edge
    * can lower either end, so both ends of every edge carry one label,
    * the component minimum (the classical fixpoint). Not converging in
    * `maxIter` rounds is an error. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    val (rows, id) = Materialize.keyPairs(pairs, aCol, bCol, "connectedComponents")
    val ord = PhysicalDataType.ordering(id.dataType)
    def least(a: Any, b: Any): Any = if (ord.lt(b, a)) b else a
    val part = Materialize.keyPartitioner(spark)
    Par.withJobDescription(spark.sparkContext, "cc: edges") {
      val edges = rows.flatMap { case (a, b) => Iterator(a -> b, b -> a) }
        .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
      // labels and the round's result: (id, (label, changed))
      def round(labels: RDD[(Any, (Any, Boolean))]): RDD[(Any, (Any, Boolean))] = {
        // edges and labels share `part`, so partition i of each holds the
        // same ids: the edges stream past a map of the ids that send
        val messages = edges.zipPartitions(labels) { (es, ls) =>
          val sending = ls.collect { case (x, (l, true)) if l != null => x -> l }.toMap
          es.flatMap { case (src, dst) => if (dst == null) None else sending.get(src).map(dst -> _) }
        }.reduceByKey(part, least(_, _))
        val propagated = labels.leftOuterJoin(messages, part)
          .mapValues { case ((l, _), m) => (m.fold(l)(least(l, _)), l) }
        val jumps = propagated
          .flatMap { case (x, (l, _)) => if (l == null) None else Some(l -> x) }
          .join(propagated, part)
          .map { case (_, (x, (ll, _))) => x -> ll }
        propagated.leftOuterJoin(jumps, part).mapValues { case ((l, before), ll) =>
          val jumped = ll.fold(l)(least(l, _))
          (jumped, jumped != before)
        }
      }
      try {
        // every id starts as its own label, marked changed so it sends
        val (labels, changed) = Materialize.rounds(spark, "cc", edges.mapPartitions(
          _.map(_._1).distinct.map(v => v -> (v, true)), preservesPartitioning = true),
          maxIter)(round)
        require(changed == 0, s"connectedComponents did not converge in $maxIter rounds")
        RelationBridge.ofInternalRows(spark,
          labels.map { case (x, (l, _)) => InternalRow(x, l) },
          StructType(Seq(id.copy(name = "id"), id.copy(name = "cluster_id"))))
      } finally edges.unpersist(blocking = false)
    }
  }
}
