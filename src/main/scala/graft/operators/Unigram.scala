package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextExprs

/** Distributed unigram-LM (SentencePiece) tokenizer primitives (Kudo
  * 2018, "Subword Regularization") — the third mainstream tokenizer
  * family next to [[Bpe]] and [[Wordpiece]]: the vocabulary is a set of
  * PIECES with log-probabilities, and inference is the Viterbi
  * maximum-likelihood segmentation ([[TextExprs.UgEncode]], one codegen
  * kernel call per row) rather than merge replay or greedy matching.
  *
  * Training here is the HARD-EM (Viterbi-EM) variant of Kudo's
  * algorithm: the E-step assigns each word its single best segmentation
  * under the current weights (instead of the full forward–backward
  * expectation) and the M-step re-estimates piece probabilities from
  * the resulting INTEGER occurrence counts. That choice is deliberate:
  * every per-round statistic is an exact long, so training replays
  * bit-identically across runs and cluster sizes — the determinism
  * contract every trainer in this package holds. The only float in the
  * loop is the log itself, taken once per round per vocab entry via
  * `StrictMath.log` (cross-platform deterministic by spec) and
  * immediately scaled + rounded to an integer weight.
  *
  * Scale shape (the [[Bpe]] stance): everything iterative runs over the
  * DISTINCT-WORD table — at 100 TB of text that table is orders of
  * magnitude smaller than the corpus, which is read exactly once. Per
  * EM round: one map-only Viterbi pass over distinct words + one
  * piece-count shuffle; the vocab itself is a bounded driver artifact
  * (seedSize + alphabet, thousands of rows) exactly like the merge
  * tables and id maps the other trainers ship.
  */
object Unigram {

  /** distinct-word table (w, cnt) — the corpus is read once. A word
    * past `maxWordLen` raises loudly ([[Bpe.requireWordLen]]): the
    * seed explode is L×maxPieceLen rows per word and each EM replay
    * is an O(L·maxPieceLen) DP, so one unbroken 100 MB token would be
    * a skewed straggler, not a correctness bug — gate it. */
  def wordCounts(df: DataFrame, textCol: String,
      lower: Boolean = true, maxWordLen: Int = Bpe.MaxWordLen): DataFrame =
    df.select(explode(TextExprs.tokens(col(textCol), lower)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(
        Bpe.requireWordLen(col("w"), maxWordLen, "unigram trainer").as("w"),
        col("cnt"))

  /** Seed-vocabulary candidates: every substring of the distinct words
    * with length 1..maxPieceLen, scored by its corpus occurrence count
    * (word count × positions — pure integers, so the oracle replays
    * the table exactly). One explode + one shuffle; the substring
    * blow-up is bounded by maxPieceLen × word length over DISTINCT
    * words, not corpus rows. Output: (piece, cnt). */
  def seedCandidates(df: DataFrame, textCol: String, maxPieceLen: Int = 4,
      lower: Boolean = true): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    seedFromWords(wordCounts(df, textCol, lower), maxPieceLen)
  }

  private def seedFromWords(words: DataFrame, maxPieceLen: Int): DataFrame =
    words
      .select(col("cnt"), col("w"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("cnt"), col("w"), col("i"),
        explode(sequence(lit(1), lit(maxPieceLen))).as("l"))
      .filter(col("i") + col("l") - 1 <= length(col("w")))
      .select(col("w").substr(col("i"), col("l")).as("piece"), col("cnt"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("cnt"))

  /** integer scaled log-prob weights from integer counts: one
    * StrictMath.log per vocab entry (bounded), round(scale·ln(c/total))
    * — the tabulate-once contract [[TextExprs.UgEncode]] documents */
  private def weightsOf(counts: Map[String, Long],
      scale: Long): Seq[(String, Long)] = {
    val total = counts.values.sum.toDouble
    counts.toSeq.sortBy(_._1).map { case (p, c) =>
      p -> math.round(scale.toDouble * StrictMath.log(c.toDouble / total))
    }
  }

  /** Learn a unigram vocabulary by EM over the distinct-word table:
    *  1. seed = the corpus alphabet (always kept — the encodability
    *     floor) + the top `seedSize` multi-char substrings by
    *     (count DESC, piece ASC);
    *  2. each of `emRounds` rounds re-estimates piece counts under the
    *     current integer weights (map-only kernel + one cnt-weighted
    *     shuffle), drops multi-char pieces below `minCount`, and
    *     re-tabulates weights — alphabet characters never drop (an
    *     unseen char floors at the smallest positive count).
    *     `em = "hard"` (Viterbi-EM) counts each word's single BEST
    *     segmentation — every statistic an exact long;
    *     `em = "soft"` is Kudo 2018's actual E-step: forward–backward
    *     posterior expectations per lattice edge, quantized to
    *     integer MILLIONTHS inside the row kernel, so the float work
    *     is row-local/fixed-order (bit-deterministic) and the
    *     corpus-level aggregation is still an exact integer sum
    *     (`minCount` is interpreted in occurrences either way);
    *  3. the final vocab prunes to `vocabSize`: all characters + the
    *     top remaining pieces by (count DESC, piece ASC).
    *
    * Deterministic by construction in both modes. Returns (piece,
    * weight, cnt, kind ∈ {char, piece}) — weight is the integer scaled
    * log-prob the encoder consumes; cnt is in occurrences (hard) or
    * occurrence-millionths (soft). */
  def train(df: DataFrame, textCol: String, vocabSize: Int,
      maxPieceLen: Int = 4, seedSize: Int = 200, emRounds: Int = 2,
      minCount: Long = 2L, lower: Boolean = true,
      scale: Long = 1000000000L, em: String = "hard"): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    require(emRounds >= 0, s"emRounds must be >= 0, got $emRounds")
    require(scale > 0, s"scale must be positive, got $scale")
    require(em == "hard" || em == "soft",
      s"em must be 'hard' or 'soft', got '$em'")
    // soft counts live in millionths; thresholds scale with them
    val quant = if (em == "soft") 1000000L else 1L
    val spark = df.sparkSession
    val words = wordCounts(df, textCol, lower).transform(Materialize.checkpoint(_))
    val cand = seedFromWords(words, maxPieceLen).transform(Materialize.checkpoint(_))
    // both driver pulls are bounded artifacts: the alphabet (≤ distinct
    // characters) and the ranked seed prefix (≤ seedSize rows)
    val charCounts = cand.filter(length(col("piece")) === 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val seedPieces = cand
      .filter(length(col("piece")) > 1 && col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("piece")).limit(math.max(seedSize, 0))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // OOV floor far below any real log-prob: during training every
    // single char is in-vocab, so unk never actually scores
    val unk = -100L * scale
    var counts: Map[String, Long] =
      (charCounts ++ seedPieces).map { case (p, c) => p -> c * quant }
    var round = 0
    while (round < emRounds) {
      val w = weightsOf(counts, scale)
      // E-step over the DISTINCT words (map-only kernel; lower=false —
      // words are already normalized), M-step: one cnt-weighted
      // piece-count shuffle, result ≤ vocab-size rows. Hard = each
      // word's Viterbi segmentation counted once (q ≡ 1); soft =
      // per-edge posterior expectations, integer-quantized in-row —
      // either way `cnt·q` sums exactly as longs.
      val perWord =
        if (em == "hard")
          words.select(col("cnt"),
            explode(split(TextExprs.ug_encode(col("w"), w, unk, lower = false)
              .getField("enc"), " ")).as("piece"),
            lit(1L).as("q"))
        else
          words.select(col("cnt"),
            explode(TextExprs.ug_expect(col("w"), w, unk, scale)).as("pq"))
            .select(col("cnt"), col("pq.piece").as("piece"),
              col("pq.q").as("q"))
      val observed = perWord
        .groupBy(col("piece")).agg(sum(col("cnt") * col("q")).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      counts =
        charCounts.keysIterator.map { c =>
          c -> math.max(observed.getOrElse(c, 0L), 1L)
        }.toMap ++
          observed.filter { case (p, c) =>
            cpLen(p) > 1 && c >= minCount * quant
          }
      round += 1
    }
    // final prune: alphabet + top pieces to vocabSize
    val chars = counts.filter(p => cpLen(p._1) == 1)
    val pieces = counts.filter(p => cpLen(p._1) > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }
      .take(math.max(vocabSize - chars.size, 0))
    val weights = weightsOf(chars ++ pieces, scale).toMap
    import spark.implicits._
    (chars ++ pieces).toSeq.sortBy(_._1)
      .map { case (p, c) =>
        (p, weights(p), c, if (cpLen(p) == 1) "char" else "piece")
      }
      .toDF("piece", "weight", "cnt", "kind")
  }

  /** code-point length — an astral (surrogate-pair) alphabet char is
    * ONE character for classification purposes, like everywhere else
    * in the tokenizer family */
  private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** Ship a trained vocab ([[train]]'s output frame) as the
    * `pieces_path` artifact CURATE's `tokenize` consumes: one
    * `piece<TAB>weight` line per entry, `#` header, piece-ascending
    * order (deterministic bytes). Pieces come from whitespace-split
    * tokens, so a tab can never appear inside one. Bounded driver
    * artifact (alphabet + vocabSize rows) — same stance as the id maps
    * every tokenizer stage collects. */
  def writeVocab(vocab: DataFrame, path: String): Unit = {
    val rows = vocab.select(col("piece"), col("weight"))
      .orderBy(col("piece")).collect()
    val sb = new StringBuilder(
      "# unigram vocab: piece<TAB>integer-scaled-log-prob\n")
    rows.foreach { r =>
      sb.append(r.getString(0)).append('\t').append(r.getLong(1)).append('\n')
    }
    graft.sources.io.ByteStore.writeString(path, sb.toString)
  }

  /** weight units per nat of a float log-prob score in a vocab artifact
    * ([[parseVocabArtifact]]) */
  final val FloatScale = 1000000L

  /** a parsed vocab artifact: lattice pieces, the float-scale fact, and
    * — when the file ships the COMPLETE `<0x00>`..`<0xFF>` table — the
    * SentencePiece BYTE-FALLBACK scores (r17): OOV characters decompose
    * into UTF-8 byte pieces instead of scoring unk. Only the full
    * 256-piece set extracts (spm's byte_fallback always writes all 256);
    * a partial set stays literal text pieces, as a code-corpus vocab can
    * legitimately learn `<0x00>`-shaped strings and pre-r17 artifacts
    * parsed them that way.
    *
    * `floatScaled` is true when the file carried float log-prob scores
    * and the weights were quantized at [[FloatScale]] units per nat —
    * callers deriving a default unk score MUST derive it in the file's
    * units (−10 nats is −10·FloatScale here, not the trainer's
    * −10·10⁹), or OOV competition flips against every piece. */
  final case class VocabArtifact(pieces: Seq[(String, Long)],
      floatScaled: Boolean, byteScores: Option[Array[Long]])

  /** Parse a vocab artifact in EITHER the engine's own format
    * (`piece<TAB>integer-scaled-weight`, [[writeVocab]]) or the
    * published SentencePiece `.vocab` text format
    * (`piece<TAB>float-log-prob`, `▁` word-boundary markers,
    * `<unk>`/`<s>`/`</s>` control rows) — the projection a production
    * spm vocab needs to drive [[encode]]:
    *  - float scores quantize to integer MILLIONTHS ([[FloatScale]]:
    *    Viterbi compares weight sums, so any uniform scale preserves the
    *    argmax; 1e-6 resolution is far below spm's printed 6-digit
    *    scores);
    *  - the CANONICAL spm control rows (`<unk>`, `<s>`, `</s>`,
    *    `<pad>`, `<mask>`, `<cls>`, `<sep>`, `<bos>`, `<eos>`) are
    *    skipped as id-table metadata; any other angle-bracketed piece
    *    (a real text token like `<br>`) loads normally;
    *  - a leading `▁` (U+2581) strips: spm marks word starts because
    *    it segments a space-joined stream, while this encoder runs
    *    per whitespace-split word — the word boundary is structural,
    *    so the marker is redundant here. When the bare and marked
    *    variant both exist the HIGHER score wins (the segmentation
    *    Viterbi would prefer anyway). Documented lossy projection:
    *    vocabs that score a piece differently word-initially vs
    *    word-internally collapse to the optimistic variant. */
  def parseVocabArtifact(content: String,
      preserveMarkers: Boolean = false): VocabArtifact = {
    val marker = '▁'
    val intRe = "-?\\d+"
    val floatRe = "-?\\d*\\.\\d+([eE]-?\\d+)?"
    // control-row skip is the CANONICAL spm set only — a real text
    // piece like `<br>` stays; likewise a `#`-piece line (`#<TAB>-8.2`)
    // stays and only tab-less `#` lines are comments
    val controls = Set("<unk>", "<s>", "</s>", "<pad>", "<mask>",
      "<cls>", "<sep>", "<bos>", "<eos>")
    val lines = content.split("\n").iterator.map(_.stripLineEnd)
      .filter(l => l.trim.nonEmpty &&
        !(l.trim.startsWith("#") && !l.contains('\t'))).toSeq
    val parsed = lines.map { l =>
      l.split("\t") match {
        case Array(p0, w0) => (p0, w0.trim)
        case _ => throw new IllegalArgumentException(
          s"bad vocab line (want piece<TAB>score): '$l'")
      }
    }
    // scale consistency: if ANY score is float-formatted the file is
    // in log-prob units and integer-formatted scores in it (e.g. "-10")
    // are the same units — scale them too, or a mixed file would rank
    // pieces across two incompatible scales
    val anyFloat = parsed.exists { case (p, w) =>
      !controls(p) && w.matches(floatRe)
    }
    def weightOf(p0: String, w: String): Long =
      if (w.matches(intRe))
        if (anyFloat) math.round(w.toDouble * FloatScale) else w.toLong
      else if (w.matches(floatRe)) math.round(w.toDouble * FloatScale)
      else throw new IllegalArgumentException(
        s"bad vocab score '$w' for piece '$p0' " +
          "(want integer weight or float log-prob)")
    // byte-fallback rows (r17): when the artifact carries the COMPLETE
    // `<0x00>`..`<0xFF>` table (what spm's byte_fallback always
    // writes), the rows are the byte-score table, not literal text —
    // extract them. A partial set stays LITERAL text pieces: a vocab
    // trained on code/hexdump corpora can legitimately learn a few
    // `<0x00>`-shaped strings, and pre-r17 artifacts parsed them that
    // way — only the full 256 signals the spm contract.
    val byteRe = "<0x[0-9A-Fa-f]{2}>".r
    val bytePieces = parsed.filter { case (p, _) => byteRe.matches(p) }
    val byteValues = bytePieces
      .map { case (p, _) => Integer.parseInt(p.substring(3, 5), 16) }
    val fullTable = byteValues.distinct.size == 256
    val byteScores: Option[Array[Long]] =
      if (!fullTable) None
      else {
        val t = new Array[Long](256)
        bytePieces.foreach { case (p, w) =>
          t(Integer.parseInt(p.substring(3, 5), 16)) = weightOf(p, w)
        }
        Some(t)
      }
    val raw = parsed.flatMap { case (p0, w) =>
      if (controls(p0) || (fullTable && byteRe.matches(p0))) None
      else {
        val weight = weightOf(p0, w)
        // preserveMarkers (r16): keep the piece verbatim — the
        // boundary-aware encode wants marked/bare variants distinct
        // with their OWN scores (the spm contract); the legacy
        // projection strips the marker and collapses by max below
        val p = if (preserveMarkers) p0
          else if (p0.nonEmpty && p0.charAt(0) == marker) p0.substring(1)
          else p0
        if (p.isEmpty) None else Some((p, weight))
      }
    }
    val merged = raw.groupBy(_._1).map { case (p, ws) =>
      (p, ws.map(_._2).max)
    }.toSeq.sortBy(_._1)
    require(merged.nonEmpty, "vocab artifact has no usable pieces")
    VocabArtifact(merged, anyFloat, byteScores)
  }

  /** read a vocab artifact ([[parseVocabArtifact]] formats) through
    * the ByteStore seam. `preserveMarkers` (r16) keeps `▁` word-boundary
    * markers for the boundary-aware encode ([[TextExprs.ugEncodeKernel]]'s
    * `boundary = true`): pieces keep their marked/bare identities and
    * their OWN scores instead of collapsing to the optimistic max —
    * published vocabularies that score word-initial pieces differently
    * segment exactly as SentencePiece would. */
  def readVocab(path: String, preserveMarkers: Boolean = false): VocabArtifact =
    parseVocabArtifact(graft.sources.io.ByteStore.readString(path), preserveMarkers)

  /** Encode every document against a fixed integer-weighted vocab:
    * map-only Viterbi, one codegen kernel call per row; a single char
    * outside the vocab scores `unk`, so the pass is total. Output:
    * (doc_id, ug_text — pieces space-joined, words joined by " | " —,
    * n_ug_tokens). */
  def encode(df: DataFrame, textCol: String, idCol: String,
      vocab: Seq[(String, Long)], unk: Long,
      lower: Boolean = true, boundary: Boolean = false,
      byteScores: Option[Array[Long]] = None): DataFrame = {
    require(vocab.nonEmpty, "unigram encode: empty vocab")
    // r18 note: a Par.widen here measured net-NEGATIVE on the small
    // unigram gates (the keyless repartition's local sort of full text
    // rows costs more than the Viterbi kernel wins back at gate scale);
    // heavy callers widen their input instead (q_tokenizer_artifact)
    df.select(col(idCol).as("doc_id"),
        TextExprs.ug_encode(col(textCol), vocab, unk, lower, boundary,
          byteScores.map(_.toSeq).getOrElse(Nil)).as("e"))
      .select(col("doc_id"), col("e.enc").as("ug_text"),
        col("e.n_syms").cast("long").as("n_ug_tokens"))
  }

  /** text → token ids: [[encode]]'s piece stream mapped through the
    * chars+pieces id vocabulary (the [[Wordpiece.vocab]] id contract —
    * corpus characters take 0..C−1, pieces C+i; symbols outside the
    * vocab take −1). Same map-only id pass as [[Bpe.encodeIds]]. */
  def encodeIds(df: DataFrame, textCol: String, idCol: String,
      vocab: Seq[(String, Long)], unk: Long, vocabIds: Map[String, Long],
      lower: Boolean = true, boundary: Boolean = false,
      byteScores: Option[Array[Long]] = None): DataFrame =
    encode(df, textCol, idCol, vocab, unk, lower, boundary, byteScores)
      .withColumn("token_ids", TextExprs.bpe_ids(col("ug_text"), vocabIds))
      .select(col("doc_id"), col("token_ids"), col("n_ug_tokens"))
}
