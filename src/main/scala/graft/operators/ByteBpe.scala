package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ByteBpeExprs

/** Byte-level BPE — the GPT-2 tokenizer family (Radford et al. 2019;
  * the public `openai/gpt-2` encoder contract: regex pre-tokenizer +
  * bytes→unicode bijection + char-level merges). What Llama-2/3,
  * GPT-NeoX and RoBERTa vocabularies ship; the third mainstream
  * tokenizer family next to [[Bpe]] (char-level) and [[Wordpiece]] /
  * [[Unigram]].
  *
  * Why a separate family and not a flag on [[Bpe]]: the contracts
  * differ in kind —
  *  - pieces come from the GPT-2 PRE-TOKENIZER (contractions, glued
  *    leading space, whitespace-run splitting), not whitespace words;
  *  - symbols are MAPPED BYTES, so the base vocabulary is closed at
  *    exactly 256 (ids = byte values — no corpus pass to rank an
  *    alphabet) and encoding is total: no UNK id exists;
  *  - no lowercasing, no " | " word separator, and decode is LOSSLESS
  *    byte-for-byte — `decodeIds(encodeIds(t)) == t` for every valid
  *    UTF-8 string, the property the family exists for.
  *
  * Scale: identical to [[Bpe]] by construction — training runs over
  * the distinct PRE-TOKEN table (orders of magnitude smaller than the
  * corpus; the corpus is read once to build it) through
  * [[Bpe.trainFromWords]], one pair-count shuffle per batched round;
  * encode/ids/decode are map-only codegen kernels
  * ([[graft.functions.ByteBpeExprs]]).
  */
object ByteBpe {

  /** Default trainer ceiling for the byte path, in MAPPED BYTES — the
    * unit the symbol arrays and merge rounds actually pay for. 4× the
    * char path's 64 (r16, ADVICE r15): non-ASCII text multiplies its
    * byte length (a CJK char is ~3 mapped bytes, so 64 MAPPED bytes is
    * only ~21 CJK chars — an ordinary sentence fragment, not a
    * pathological token). 256 mapped bytes keeps the straggler
    * protection (≈256-char ASCII / ~85-char CJK unbroken token) while
    * no longer hard-failing trainers on normal CJK corpora. */
  val MaxMappedByteLen: Int = 256

  /** distinct pre-token symbol table: (cnt, syms) where syms are the
    * piece's MAPPED BYTES as single chars. One explode + one count
    * shuffle; the per-piece byte mapping runs once per DISTINCT piece. */
  def wordTable(df: DataFrame, textCol: String,
      maxWordLen: Int = MaxMappedByteLen): DataFrame =
    df.select(explode(ByteBpeExprs.gpt2_split(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("bw", ByteBpeExprs.bytes_to_unicode(col("w")))
      // the straggler ceiling gates the MAPPED BYTE length — the unit
      // the trainer's symbol arrays and merge rounds actually pay for
      // (a 64-char CJK pre-token is ~192-256 byte symbols)
      .select(col("cnt"),
        Bpe.requireWordLen(col("bw"), maxWordLen, "byte-bpe trainer").as("bw"))
      .select(col("cnt"),
        expr("transform(sequence(1, length(bw)), i -> substring(bw, i, 1))")
          .as("syms"))

  /** Learn `nMerges` byte-level merges — [[Bpe.trainFromWords]] over
    * the byte-mapped pre-token table: same deterministic
    * (count DESC, left ASC, right ASC) argmax, same exact batching.
    * Returns (rank, left, right, pair_count). */
  def trainMerges(df: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 2L, batch: Int = 1): DataFrame =
    Bpe.trainFromWords(wordTable(df, textCol), nMerges, minCount, batch)._1

  /** Encode each document: (doc_id, bbpe_text — symbols space-joined,
    * flat across pieces —, n_bbpe_tokens). Map-only codegen. */
  def encode(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame =
    // r18: the per-row merge loop is CPU-bound and often fed straight
    // off a 1-2 split scan (guide §2.5 under-splitting) — widen first;
    // no-op at scale and for non-file sources
    Par.widen(df).select(col(idCol).as("doc_id"),
        ByteBpeExprs.byte_bpe_encode(col(textCol), merges).as("e"))
      .select(col("doc_id"), col("e.enc").as("bbpe_text"),
        col("e.n_syms").cast("long").as("n_bbpe_tokens"))

  /** text → token ids against the CLOSED vocabulary: byte value for
    * the 256 base symbols, 256+rank for merge products. Total — every
    * UTF-8 string encodes with no UNK. Map-only codegen. */
  def encodeIds(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame =
    encode(df, textCol, idCol, merges)
      .withColumn("token_ids",
        ByteBpeExprs.byte_bpe_ids(col("bbpe_text"), merges))
      .select(col("doc_id"), col("token_ids"), col("n_bbpe_tokens"))

  /** token ids → original text, byte-for-byte (the lossless inverse) */
  def decodeIds(df: DataFrame, idsCol: String,
      merges: Seq[(String, String)]): DataFrame =
    df.withColumn("text",
      ByteBpeExprs.byte_bpe_decode_ids(col(idsCol), merges))

  /** The vocabulary artifact: (token_id, symbol, kind) — 256 `byte`
    * rows (id = byte value, symbol = its mapped char) then one `merge`
    * row per product at 256+rank. Closed-form: no corpus pass. */
  def vocab(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(String, String)]): DataFrame = {
    val base = (0 until 256).map { b =>
      (b.toLong, ByteBpeExprs.byteToChar(b).toString, "byte")
    }
    val prods = merges.zipWithIndex.map { case ((l, r), i) =>
      (256L + i, l + r, "merge")
    }
    Bpe.vocabFrame(spark, base ++ prods)
  }

  // ----------------- published GPT-2 artifact interop (r15)
  // The byte mapping and merge replay here are already EXACTLY the
  // published `openai/gpt-2` encoder semantics, so loading the
  // production artifacts is a parser, not an algorithm: `vocab.bpe`
  // (a `#version: 0.2` header then one `left right` line per merge in
  // rank order) and `encoder.json` (mapped-byte symbol → token id).
  // Both read through the ByteStore seam so they can live on the
  // object store next to the data.

  /** read a published-format `vocab.bpe` / merges.txt: one
    * whitespace-separated pair per line in rank order. Header
    * handling is careful because the REAL GPT-2 vocab.bpe contains
    * legitimate merges whose left symbol is `#` (`# #` → `##` for
    * markdown/code text): only the `#version` line and `#`-prefixed
    * lines that cannot be a pair (prose comments) are skipped — a
    * `#`-leading line that splits into exactly two symbols is a merge
    * and is KEPT (the reference encoder skips only line one). */
  def readGpt2Merges(path: String): Seq[(String, String)] = {
    val merges = graft.sources.io.ByteStore.readString(path)
      .split("\n").iterator.map(_.trim)
      .filter(_.nonEmpty)
      .filterNot(_.startsWith("#version"))
      .flatMap { l =>
        l.split("\\s+") match {
          case Array(a, b) => Some((a, b))
          case _ if l.startsWith("#") => None // prose comment header
          case _ => throw new IllegalArgumentException(
            s"vocab.bpe at '$path': bad merges line '$l' " +
              "(want 'left right')")
        }
      }.toSeq
    require(merges.nonEmpty, s"vocab.bpe at '$path' has no merges")
    merges
  }

  /** read a published-format `encoder.json`: one JSON object mapping
    * each mapped-byte symbol (and merge product) to its token id */
  def readGpt2Encoder(path: String): Map[String, Long] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(graft.sources.io.ByteStore.readString(path)) match {
      case JObject(fields) if fields.nonEmpty => fields.map {
        case (sym, JInt(id)) => sym -> id.toLong
        case (sym, other) => throw new IllegalArgumentException(
          s"encoder.json at '$path': id of '$sym' must be an integer, " +
            s"got $other")
      }.toMap
      case _ => throw new IllegalArgumentException(
        s"encoder.json at '$path' must be a non-empty JSON object")
    }
  }

  /** text → token ids under a PUBLISHED id vocabulary (encoder.json):
    * same lossless byte-level encode, ids from the artifact instead of
    * the closed byte/256+rank scheme. Every symbol the merges can
    * produce must have an id — a gap raises at encode (the artifact
    * pair is inconsistent), never emits a wrong id. Map-only codegen. */
  def encodeIdsPublished(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)], encoder: Map[String, Long]): DataFrame = {
    // validate the closed surface up front: all 256 byte symbols and
    // every merge product need ids
    val missing = ((0 until 256).map(b => ByteBpeExprs.byteToChar(b).toString)
      ++ merges.map { case (l, r) => l + r }).filterNot(encoder.contains)
    require(missing.isEmpty,
      s"encoder.json is missing ids for ${missing.size} symbols the " +
        s"merge table can produce (first: '${missing.head}') — " +
        "vocab.bpe and encoder.json disagree")
    // the closed scheme (byte value / 256+rank) is a bijection onto
    // the symbol set, so published ids are a dense remap of it — the
    // lossless closed kernel does the work, one array lookup per token
    val remap: Array[Long] = Array.tabulate(256 + merges.length) { cid =>
      val sym =
        if (cid < 256) ByteBpeExprs.byteToChar(cid).toString
        else { val (l, r) = merges(cid - 256); l + r }
      encoder(sym)
    }
    // ONE array literal, not a CreateArray with vocab-size children:
    // the real GPT-2 artifact is 50k merges, and a 50k-child node
    // costs O(vocab) analysis on every query that mentions it
    val table = typedLit(remap.toSeq)
    encodeIds(df, textCol, idCol, merges)
      .withColumn("token_ids", transform(col("token_ids"),
        i => element_at(table, i.cast("int") + 1)))
      .select(col("doc_id"), col("token_ids"), col("n_bbpe_tokens"))
  }
}
