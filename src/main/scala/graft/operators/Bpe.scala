package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.TextExprs

/** Distributed byte-pair-encoding primitives — the tokenizer-training
  * half of a training-data pipeline (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units").
  *
  * The trainer runs over the DISTINCT-WORD table (word, count), the
  * classical BPE formulation: at 100 TB of text the distinct-word table
  * is orders of magnitude smaller than the corpus (≈10⁸ rows at web
  * scale) and is the only thing the iterative rounds touch — the corpus
  * itself is read exactly once to build it. Each round is one shuffle
  * (pair-count aggregate with map-side partial sums) plus a map-only
  * merge pass; the per-round driver traffic is a single argmax row.
  * `localCheckpoint` between rounds keeps the plan flat (round r would
  * otherwise stack r merge projections).
  *
  * Encoding against a FIXED merge table ([[encode]]) is the map-only
  * hot path: one codegen kernel call per row
  * ([[TextExprs.BpeEncode]]), no shuffle at any corpus size.
  *
  * Determinism contract (oracle-replayable): pair ranking is
  * (count DESC, left ASC, right ASC); a merge is a literal
  * left-to-right non-overlapping replace, the same semantics as SQL
  * `replace`, so DuckDB replays encoded bytes exactly.
  */
object Bpe {

  /** Default trainer word-length ceiling — SentencePiece's own input
    * sanitization sits in this range. */
  val MaxWordLen: Int = 64

  /** Loud word-length gate for the trainer seed/explode paths: one
    * pathological unbroken token (minified JS, a base64 blob of length
    * L) surviving the curation gates creates O(L·maxPieceLen) seed
    * rows and a skewed straggler in every EM/merge round. Rather than
    * silently truncating or skipping, raise with a named error — the
    * require-and-raise stance every other operator takes; pre-clean
    * the corpus (or widen the ceiling deliberately) instead. Runs once
    * per DISTINCT word, codegen `when` + `raise_error`. */
  private[operators] def requireWordLen(w: Column, maxWordLen: Int,
      what: String): Column = {
    require(maxWordLen >= 1, s"maxWordLen must be >= 1, got $maxWordLen")
    when(length(w) > maxWordLen,
      raise_error(concat(
        lit(s"$what: token of length "), length(w).cast("string"),
        lit(s" exceeds maxWordLen=$maxWordLen — an unbroken token " +
          "(minified JS? base64?) makes a skewed trainer straggler; " +
          "pre-clean the corpus or raise maxWordLen. Prefix: '"),
        substring(w, 1, 32), lit("…'"))))
      .otherwise(w)
  }

  /** distinct-word symbol table: (cnt, syms) where syms starts as the
    * word's characters. The `transform` lambda runs once per DISTINCT
    * word, not per corpus row. */
  def wordTable(df: DataFrame, textCol: String, lower: Boolean = true,
      maxWordLen: Int = MaxWordLen): DataFrame =
    df.select(explode(TextExprs.tokens(col(textCol), lower)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"),
        requireWordLen(col("w"), maxWordLen, "bpe trainer").as("w"))
      .select(col("cnt"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms"))

  /** adjacent-pair statistics over a (cnt, syms) table: one shuffle,
    * partial aggregation shrinks heavy pairs before the wire */
  def pairStats(words: DataFrame): DataFrame =
    words.select(col("cnt"), explode(zip_with(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .groupBy(col("p.l").as("l_sym"), col("p.r").as("r_sym"))
      .agg(sum(col("cnt")).as("pair_count"))

  /** Learn `nMerges` merges: deterministic argmax training — pair
    * ranking is (count DESC, then lexicographic), stops early when no
    * pair reaches `minCount`. Returns the merge table
    * (rank, left, right, pair_count) — the artifact a tokenizer ships.
    *
    * `batch > 1` fuses up to `batch` merges per Spark round and is
    * EXACTLY equivalent to batch = 1 (same merges, same order, same
    * recorded counts), by construction: a batch is the maximal ranked
    * prefix of pairwise symbol-disjoint pairs such that every member
    * after the first strictly outranks every pair that shares a symbol
    * with the batch ("the barrier"). Disjointness makes members'
    * counts invariant under each other's merges; the barrier covers
    * the two ways a non-member could overtake a later member in the
    * sequential replay — a shared-symbol pair that keeps its count, or
    * a pair newly created next to a merge product, whose count is
    * bounded by the shared-symbol pair it consumed. A pre-existing
    * symbol equal to a merge product breaks that bound (its old and
    * new counts add), so a batch whose product collides with a live
    * symbol is truncated to the argmax alone. Per round the batch
    * costs one pair-count shuffle, one small barrier aggregate, and
    * ONE fused merge projection — a 32k-merge production vocab trains
    * in ~nMerges/batch rounds on a disjoint-rich corpus instead of
    * 32k sequential jobs. */
  def trainMerges(df: DataFrame, textCol: String, nMerges: Int,
      lower: Boolean = true, minCount: Long = 2L, batch: Int = 1): DataFrame =
    trainMergesCounted(df, textCol, nMerges, lower, minCount, batch)._1

  /** [[trainMerges]] plus the number of Spark rounds executed (the
    * count batching exists to cut — observable for specs). */
  def trainMergesCounted(df: DataFrame, textCol: String, nMerges: Int,
      lower: Boolean = true, minCount: Long = 2L,
      batch: Int = 1): (DataFrame, Int) =
    trainFromWords(wordTable(df, textCol, lower), nMerges, minCount, batch)

  /** The trainer loop over an ALREADY-BUILT (cnt, syms) symbol table —
    * the seam the byte-level family ([[ByteBpe]]) shares: same batched
    * argmax rounds, same determinism contract, different symbol seed
    * (byte-mapped GPT-2 pre-tokens instead of lowered whitespace
    * words). */
  def trainFromWords(words0: DataFrame, nMerges: Int,
      minCount: Long = 2L, batch: Int = 1): (DataFrame, Int) = {
    require(nMerges > 0, "nMerges must be positive")
    require(batch >= 1, "batch must be >= 1")
    val spark = words0.sparkSession
    var words = words0.transform(Materialize.checkpoint(_))
    val acc = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var rank = 0
    var rounds = 0
    var done = false
    while (rank < nMerges && !done) {
      val b = math.min(batch, nMerges - rank)
      // checkpoint only when the barrier aggregate will re-read stats
      val stats =
        if (b == 1) pairStats(words) else pairStats(words).transform(Materialize.checkpoint(_))
      val topK = stats
        .orderBy(col("pair_count").desc, col("l_sym"), col("r_sym"))
        .limit(math.max(4 * b, 8)).collect()
      rounds += 1
      if (topK.isEmpty || topK(0).getLong(2) < minCount) done = true
      else {
        // greedy ranked-order selection of symbol-disjoint pairs
        val selected = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
        val used = scala.collection.mutable.Set.empty[String]
        val products = scala.collection.mutable.ListBuffer.empty[String]
        var stop = false
        val it = topK.iterator
        while (!stop && selected.size < b && it.hasNext) {
          val row = it.next()
          val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
          if (c < minCount) stop = true
          else if (!used(l) && !used(r) && !used(l + r)) {
            selected += ((l, r, c))
            used ++= Seq(l, r, l + r)
            products += (l + r)
          }
        }
        // barrier: members after the argmax must STRICTLY outrank every
        // pair sharing a symbol with the batch (those pairs, and the
        // product-adjacent pairs they bound, are the only counts the
        // sequential replay could see move up between picks)
        val kept =
          if (selected.size <= 1) selected.toList
          else {
            val usedSeq = used.toList
            val isSelected = selected.map(p =>
              col("l_sym") === p._1 && col("r_sym") === p._2).reduce(_ || _)
            val touches = col("l_sym").isin(usedSeq: _*) ||
              col("r_sym").isin(usedSeq: _*)
            val prodTouch = col("l_sym").isin(products.toList: _*) ||
              col("r_sym").isin(products.toList: _*)
            val bar = stats.filter(touches && !isSelected)
              .agg(max(col("pair_count")).as("m"),
                max(when(prodTouch, col("pair_count"))).as("pm"))
              .collect()(0)
            val maxShared = if (bar.isNullAt(0)) Long.MinValue else bar.getLong(0)
            val productCollision = !bar.isNullAt(1)
            if (productCollision) selected.toList.take(1)
            else selected.head :: selected.toList.tail.takeWhile(_._3 > maxShared)
          }
        // ONE fused projection applies the whole batch (rank order —
        // disjointness makes the order immaterial, the chain keeps it
        // byte-equal to the sequential replay)
        val newSyms = kept.foldLeft(col("syms")) { case (c0, (l, r, _)) =>
          TextExprs.bpe_merge(c0, l, r)
        }
        words = words.withColumn("syms", newSyms).transform(Materialize.checkpoint(_))
        kept.foreach { case (l, r, c) => acc += ((rank, l, r, c)); rank += 1 }
      }
    }
    import spark.implicits._
    (acc.toSeq.toDF("rank", "left", "right", "pair_count"), rounds)
  }

  /** Persist a trained merge table as the merges.txt-style artifact
    * the CURATE `tokenize` stage's `merges_path` reads back (one
    * `left right` line per merge in RANK order, `#` comments) — the
    * train → artifact → encode handoff, for BOTH the char-level and
    * byte-level ([[ByteBpe]]) families. Symbols never contain
    * whitespace (char-level symbols come from whitespace-split words;
    * byte-level symbols map the space byte to Ġ), so the
    * whitespace-separated format is unambiguous. Bounded driver
    * artifact — the merge table is the vocab-sized training output,
    * not data (the [[Unigram.writeVocab]] stance). */
  def writeMerges(merges: DataFrame, path: String): Unit = {
    val rows = merges.select(col("rank"), col("left"), col("right"))
      .orderBy(col("rank")).collect()
    val sb = new StringBuilder("# bpe merges: left right, rank order\n")
    rows.foreach { r =>
      sb.append(r.getString(1)).append(' ').append(r.getString(2)).append('\n')
    }
    graft.sources.io.ByteStore.writeString(path, sb.toString)
  }

  /** The vocabulary artifact a trained tokenizer ships: base symbols
    * (every distinct character of the corpus's words) followed by the
    * merge products, with stable ids — characters take 0..C-1 in
    * Spark's string order, merge `rank` takes C+rank. Output:
    * (token_id, symbol, kind ∈ {char, merge}). */
  def vocab(df: DataFrame, textCol: String,
      merges: Seq[(String, String)], lower: Boolean = true): DataFrame =
    vocabFrame(df.sparkSession, vocabEntries(df, textCol, merges, lower))

  /** [[vocab]] as the symbol → token_id map [[encodeIds]] takes */
  def vocabIds(df: DataFrame, textCol: String,
      merges: Seq[(String, String)], lower: Boolean = true): Map[String, Long] =
    vocabEntries(df, textCol, merges, lower).map(e => e._2 -> e._1).toMap

  private def vocabEntries(df: DataFrame, textCol: String,
      merges: Seq[(String, String)], lower: Boolean): Seq[(Long, String, String)] =
    charsThen(df, textCol, lower, "merge")(_ => merges.map { case (l, r) => l + r })

  /** (token_id, symbol, kind) of a corpus-relative vocabulary: the
    * distinct characters of the corpus's words take 0..C-1 in Spark's
    * string order (UTF-8 bytes, that is code points — not Java's UTF-16
    * `String` order, which puts U+1F600 before U+FF21), then the
    * symbols `more` derives from them take C+i as `kind`. One job: a
    * per-doc distinct-char kernel and one distinct shuffle; the set is
    * bounded by the alphabet (thousands of rows even for CJK corpora),
    * so it is collected and numbered on the driver. */
  private[operators] def charsThen(df: DataFrame, textCol: String, lower: Boolean,
      kind: String)(more: Seq[String] => Seq[String]): Seq[(Long, String, String)] = {
    val chars = df.select(explode(TextExprs.distinct_chars(col(textCol), lower)))
      .distinct().collect().map(_.getString(0)).toSeq
      .sortWith((a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)
    chars.zipWithIndex.map { case (c, i) => (i.toLong, c, "char") } ++
      more(chars).zipWithIndex.map { case (m, i) => ((chars.size + i).toLong, m, kind) }
  }

  /** a vocabulary's (token_id, symbol, kind) rows as a frame */
  private[operators] def vocabFrame(spark: SparkSession,
      entries: Seq[(Long, String, String)]): DataFrame = {
    import spark.implicits._
    entries.toDF("token_id", "symbol", "kind")
  }

  /** Encode every document against a fixed merge table: map-only, one
    * codegen kernel call per row. Output: (doc_id, bpe_text — symbols
    * space-joined, words joined by " | " —, n_bpe_tokens). */
  def encode(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)], lower: Boolean = true): DataFrame =
    df.select(col(idCol).as("doc_id"),
        TextExprs.bpe_encode(col(textCol), merges, lower).as("e"))
      .select(col("doc_id"), col("e.enc").as("bpe_text"),
        col("e.n_syms").cast("long").as("n_bpe_tokens"))

  /** text → token ids, the pipeline's terminal artifact: [[encode]]'s
    * symbol stream mapped through the [[vocab]] ids. The vocab is
    * driver-bounded by construction (alphabet + merge count) and rides
    * as a literal map expression, so the pass stays map-only at any
    * corpus size. Symbols outside the vocab (characters unseen at
    * vocab-build time) take id −1, the UNK convention. (The textual
    * " | " word separator is filtered by literal match; a corpus whose
    * ALPHABET contains '|' would need an out-of-band separator.) */
  def encodeIds(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)], vocabIds: Map[String, Long],
      lower: Boolean = true): DataFrame =
    // one hash lookup per symbol (reference-object HashMap) — a literal
    // map's element_at is a linear scan per symbol, vocab-size× slower
    encode(df, textCol, idCol, merges, lower)
      .withColumn("token_ids", TextExprs.bpe_ids(col("bpe_text"), vocabIds))
      .select(col("doc_id"), col("token_ids"), col("n_bpe_tokens"))
}
