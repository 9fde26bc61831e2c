package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextExprs

/** Distributed WordPiece tokenizer primitives (Wu et al. 2016, "Google's
  * Neural Machine Translation System") — the likelihood-criterion
  * sibling of [[Bpe]]: training picks the pair maximizing
  * `count(l,r) / (count(l)·count(r))` (the corpus-likelihood gain of
  * fusing l+r) instead of BPE's raw pair count, and inference is GREEDY
  * LONGEST-MATCH against the final vocab ([[TextExprs.WpEncode]], one
  * codegen kernel call per row) instead of replaying merges.
  *
  * The trainer shares [[Bpe]]'s machinery and scale shape: it iterates
  * over the DISTINCT-WORD table, each round one pair-count shuffle +
  * one symbol-count shuffle + a single argmax row to the driver.
  * Scores round to 9 decimals (one double division — bit-identical
  * across engines), ties break (l, r) lexicographic, so training
  * replays deterministically in SQL.
  */
object Wordpiece {

  /** One round of WordPiece pair scoring over a (cnt, syms) table:
    * (l_sym, r_sym, pair_count, sym counts, score). `score` is the
    * likelihood-gain ratio rounded to 9 decimals. */
  def pairScores(words: DataFrame): DataFrame = {
    val pairs = Bpe.pairStats(words)
    val syms = words
      .select(col("cnt"), explode(col("syms")).as("sym"))
      .groupBy("sym").agg(sum(col("cnt")).as("sym_count"))
    pairs
      .join(syms.select(col("sym").as("l_sym"), col("sym_count").as("l_count")),
        "l_sym")
      .join(syms.select(col("sym").as("r_sym"), col("sym_count").as("r_count")),
        "r_sym")
      .select(col("l_sym"), col("r_sym"), col("pair_count"),
        col("l_count"), col("r_count"),
        round(col("pair_count") / (col("l_count") * col("r_count")), 9)
          .as("score"))
  }

  /** Learn `nMerges` pieces by the likelihood criterion: each round
    * fuses the (score DESC, l, r)-ranked argmax pair, stopping early
    * when no pair reaches `minCount` occurrences. Returns the vocab
    * extension table (rank, left, right, pair_count, score) — the
    * products, prepended to the corpus alphabet, are the greedy
    * encoder's piece set. Sequential argmax only (BPE's disjoint-batch
    * fusion doesn't carry over: a merge moves BOTH factor counts in
    * the ratio, so no prefix of the ranking is provably stable). */
  def trainPieces(df: DataFrame, textCol: String, nMerges: Int,
      lower: Boolean = true, minCount: Long = 2L): DataFrame = {
    require(nMerges > 0, "nMerges must be positive")
    val spark = df.sparkSession
    var words = Bpe.wordTable(df, textCol, lower).transform(Materialize.checkpoint(_))
    val acc = scala.collection.mutable.ListBuffer
      .empty[(Int, String, String, Long, Double)]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      val top = pairScores(words)
        .filter(col("pair_count") >= minCount)
        .orderBy(col("score").desc, col("l_sym"), col("r_sym"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val row = top(0)
        val (l, r) = (row.getString(0), row.getString(1))
        acc += ((rank, l, r, row.getLong(2), row.getDouble(5)))
        words = words
          .withColumn("syms", TextExprs.bpe_merge(col("syms"), l, r))
          .transform(Materialize.checkpoint(_))
        rank += 1
      }
    }
    import spark.implicits._
    acc.toSeq.toDF("rank", "left", "right", "pair_count", "score")
  }

  /** Encode every document against a fixed piece vocabulary: map-only
    * greedy longest-match, one codegen kernel call per row. Positions
    * no piece covers fall back to their single character, so the pass
    * is total. Output: (doc_id, wp_text — pieces space-joined, words
    * joined by " | " —, n_wp_tokens). */
  def encode(df: DataFrame, textCol: String, idCol: String,
      vocab: Seq[String], lower: Boolean = true): DataFrame =
    df.select(col(idCol).as("doc_id"),
        TextExprs.wp_encode(col(textCol), vocab, lower).as("e"))
      .select(col("doc_id"), col("e.enc").as("wp_text"),
        col("e.n_syms").cast("long").as("n_wp_tokens"))

  /** The id vocabulary a WordPiece tokenizer ships: the corpus's
    * distinct characters take 0..C−1 in Spark's string order (the char
    * fallback is always encodable), the pieces take C+i — the same id
    * contract as [[Bpe.vocab]], with pieces in place of merge
    * products. Pieces already present as corpus characters (or
    * repeated in the piece list) are dropped before id assignment and
    * the rest numbered densely in list order — every symbol maps to
    * EXACTLY one token_id. Output: (token_id, symbol, kind ∈ {char,
    * piece}). */
  def vocab(df: DataFrame, textCol: String, pieces: Seq[String],
      lower: Boolean = true): DataFrame =
    Bpe.vocabFrame(df.sparkSession, vocabEntries(df, textCol, pieces, lower))

  /** [[vocab]] as the symbol → token_id map [[encodeIds]] takes */
  def vocabIds(df: DataFrame, textCol: String, pieces: Seq[String],
      lower: Boolean = true): Map[String, Long] =
    vocabEntries(df, textCol, pieces, lower).map(e => e._2 -> e._1).toMap

  private def vocabEntries(df: DataFrame, textCol: String, pieces: Seq[String],
      lower: Boolean): Seq[(Long, String, String)] =
    Bpe.charsThen(df, textCol, lower, "piece")(chars => pieces.distinct.filterNot(chars.toSet))

  /** text → token ids: [[encode]]'s symbol stream mapped through the
    * [[vocab]] ids (same map-only id pass as [[Bpe.encodeIds]]; symbols
    * outside the vocab take −1). */
  def encodeIds(df: DataFrame, textCol: String, idCol: String,
      pieces: Seq[String], vocabIds: Map[String, Long],
      lower: Boolean = true): DataFrame =
    encode(df, textCol, idCol, pieces, lower)
      .withColumn("token_ids", TextExprs.bpe_ids(col("wp_text"), vocabIds))
      .select(col("doc_id"), col("token_ids"), col("n_wp_tokens"))
}
