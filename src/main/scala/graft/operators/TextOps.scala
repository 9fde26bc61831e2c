package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextExprs

/** Text analysis for large-scale training-data pipelines: tokenization,
  * quality scoring, language ID, fingerprinting. All operators are
  * row-local (a 100 TB corpus is a map-only pass) and are built on the
  * single-pass native kernels in [[graft.functions.TextExprs]] — the
  * round-1 higher-order-function formulation evaluated an interpreted
  * lambda per token per language and measured 90× slower than the
  * DuckDB oracle; the native kernels compute identical values in one
  * scan of the string per row.
  *
  * All derived columns read fields of one `graft_text_stats(text)`
  * struct; within a single projection Spark's subexpression elimination
  * evaluates the kernel once per row no matter how many of these
  * columns appear.
  */
object TextOps {

  private def stats(text: Column): Column = TextExprs.text_stats(text)

  /** whitespace tokens of text; empty text → empty array */
  def tokens(text: Column): Column = TextExprs.tokens(text)

  def tokenCount(text: Column): Column = stats(text).getField("n_tokens")

  def charCount(text: Column): Column = length(text)

  /** fraction of characters that are ASCII punctuation */
  def punctRatio(text: Column): Column = {
    val len = length(text)
    when(len === 0, 0.0).otherwise(
      stats(text).getField("punct").cast(DoubleType) / len)
  }

  val defaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "on", "for", "with")

  /** fraction of tokens that are stopwords (native path for the default
    * list; arbitrary lists fall back to the composed formulation) */
  def stopwordRatio(text: Column, stopwords: Seq[String] = defaultStopwords): Column =
    if (stopwords == defaultStopwords) {
      val st = stats(text)
      val n = st.getField("n_tokens_l")
      when(n === 0, 0.0).otherwise(st.getField("n_stop").cast(DoubleType) / n)
    } else {
      val toks = TextExprs.tokens(text, lower = true)
      val sw = array(stopwords.map(lit): _*)
      when(size(toks) === 0, 0.0).otherwise(
        size(filter(toks, t => array_contains(sw, t))).cast(DoubleType) / size(toks))
    }

  /** mean token length */
  def meanTokenLength(text: Column): Column = {
    val st = stats(text)
    val n = st.getField("n_tokens")
    when(n === 0, 0.0).otherwise(
      st.getField("sum_tok_len").cast(DoubleType) / n)
  }

  /** Composite quality score in [0,1]: favors mid-length documents with
    * low punctuation noise and a natural stopword ratio — the standard
    * cheap pre-filter in front of expensive model-based scoring. */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast(DoubleType)
    val lengthScore = least(nTok / 50.0, lit(1.0))
    val punctScore = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 5.0)
    val swr = stopwordRatio(text)
    val swScore = lit(1.0) - abs(swr - 0.4)
    greatest(lit(0.0), least(lit(1.0),
      lengthScore * 0.4 + punctScore * 0.3 + swScore * 0.3))
  }

  /** Deterministic n-gram/marker language heuristic: CJK codepoints win
    * outright; otherwise the language whose marker-word hit count is
    * highest (ties resolve in fixed priority order); no hits → 'unknown'. */
  def langId(text: Column): Column = {
    val st = stats(text)
    val en = st.getField("hits_en")
    val de = st.getField("hits_de")
    val fr = st.getField("hits_fr")
    val es = st.getField("hits_es")
    when(st.getField("has_cjk"), "zh")
      .when(en >= de && en >= fr && en >= es && en > 0, "en")
      .when(de >= fr && de >= es && de > 0, "de")
      .when(fr >= es && fr > 0, "fr")
      .when(es > 0, "es")
      .otherwise("unknown")
  }

  /** canonical content fingerprint: md5 of lowercased,
    * whitespace-collapsed text — the exact-dedup key */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** word n-gram shingles (n consecutive tokens joined by one space);
    * docs shorter than n tokens fall back to a single whole-text shingle */
  def shingles(text: Column, n: Int): Column = TextExprs.word_shingles(text, n)

  /** Sliding-window document chunking (the embedding/RAG ingest shape):
    * chunk `i` covers whitespace tokens `[i·stride, i·stride + size)`
    * where `stride = size − overlap`, so consecutive chunks share
    * `overlap` tokens and every token lands in at least one chunk;
    * `nChunks = max(1, ⌈(n − overlap) / stride⌉)` (an empty or
    * shorter-than-size document still yields its one chunk). One output
    * row per chunk: (id, chunk_idx, chunk_text, n_chunk_tokens).
    *
    * Built entirely from codegen'd built-ins (split/sequence/explode/
    * slice/array_join) — a row-local map pass with no shuffle, so a
    * 100 TB corpus chunks at scan speed; the per-doc token array is
    * bounded by the document, never materialized across rows. */
  def chunkDocuments(df: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int, overlapTokens: Int = 0): DataFrame = {
    require(overlapTokens >= 0 && chunkTokens > overlapTokens,
      s"chunkDocuments: need chunkTokens > overlapTokens >= 0, got ($chunkTokens, $overlapTokens)")
    val stride = chunkTokens - overlapTokens
    val withToks = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .withColumn("__nc", greatest(lit(1),
        ceil((col("__n") - lit(overlapTokens)).cast(DoubleType) / stride).cast(IntegerType)))
    withToks
      .select(col(idCol), col("__toks"), col("__n"),
        explode(sequence(lit(0), col("__nc") - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        array_join(slice(col("__toks"), col("chunk_idx") * stride + 1, lit(chunkTokens)), " ")
          .as("chunk_text"),
        greatest(least(lit(chunkTokens), col("__n") - col("chunk_idx") * stride), lit(0))
          .as("n_chunk_tokens"))
  }

  /** Gopher-style repetition signals per document (Rae et al. 2021,
    * "Scaling Language Models", table A1's repetition filters re-cut
    * for whitespace tokens): distinct-token ratio, duplicate n-gram
    * fraction, and the character share of the single most frequent
    * n-gram (ties break deterministically: count desc, gram length
    * desc, gram asc — the same ORDER BY the oracle replays).
    *
    * Shape at 100 TB: the per-doc scalars are row-local (one map-only
    * pass over the corpus); only the top-gram rank needs a shuffle,
    * keyed on (doc, gram) — bounded by tokens-per-doc, never corpus-
    * wide. */
  def repetitionProfile(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3): DataFrame = {
    // r18 (guide §2.4 — remove shuffles outright): every signal here,
    // INCLUDING the top gram, is a per-document statistic, so the old
    // explode → (doc, gram) count shuffle → per-doc window → join-back
    // never needed a shuffle. One native kernel pass
    // ([[TextExprs.repProfileKernel]]) computes the identical numbers
    // (same tokenizations, same count/length/binary tie-break) and the
    // operator becomes map-only at any corpus size. A null text yields a
    // null profile and drops, exactly like the old inner join of a doc
    // with no exploded grams.
    // zero denominators (empty/whitespace docs) yield NULL ratios —
    // DuckDB's x/0 semantics, so replays agree — instead of an ANSI
    // DIVIDE_BY_ZERO; a NULL ratio then fails any threshold filter
    def safe(d: Column): Column = when(d =!= 0, d)
    // null text ⇒ no profile row (the old inner join of a doc with no
    // exploded grams). Filtering on the INPUT column — the kernel is
    // null iff its input is — keeps the predicate below the projection
    // (pushable to the scan) instead of re-evaluating the kernel in a
    // pushed-down isnotnull(__p) filter (guide §4.4's duplication).
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), TextExprs.rep_profile(col(textCol), shingleN).as("__p"))
      .select(col(idCol),
        col("__p.n_tokens").as("n_tokens"),
        round(col("__p.n_distinct_toks").cast(DoubleType) /
          safe(col("__p.n_tokens")), 6).as("distinct_token_ratio"),
        round((col("__p.n_grams") - col("__p.n_distinct_grams")).cast(DoubleType) /
          safe(col("__p.n_grams")), 6).as("dup_gram_frac"),
        col("__p.top_gram").as("top_gram"),
        round(col("__p.top_count") * length(col("__p.top_gram")).cast(DoubleType) /
          safe(col("__p.n_chars")), 6).as("top_gram_frac"))
  }

  /** PII patterns shared by [[piiProfile]] and its oracle: restricted
    * to the Java-regex ∩ RE2 subset (no backreferences, no lookaround)
    * so DuckDB replays them byte-identically. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\+\\d{1,2} \\d{3}-\\d{4}"

  /** PII detection + redaction per document — the scrub pass a training
    * corpus runs before anything else sees the text: count emails, IPv4
    * addresses and phone numbers, and emit the text with each match
    * replaced by a type tag. Row-local (map-only at any corpus size);
    * counts and the redaction chain use only codegen'd regexp built-ins.
    * Redaction order is fixed (email → ip → phone) so overlapping
    * matches resolve deterministically. */
  /** the redaction chain as a pure expression (fixed order — email,
    * then IP, then phone — for overlap determinism) */
  def piiRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  def piiProfile(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(t, lit(Ipv4Re), lit(0))).as("n_ips"),
      size(regexp_extract_all(t, lit(PhoneRe), lit(0))).as("n_phones"),
      piiRedact(t).as("redacted"))
  }

  /** CCNet-style unigram language-model quality score: the corpus's own
    * unigram distribution scores every document by mean negative token
    * log-probability (higher = more surprising/noisier — the cheap
    * perplexity stand-in that fronts model-based filtering when no
    * external LM is loaded). The raw token stream is pre-aggregated to
    * (doc_id, tok, tf) BEFORE the vocab join — the join input shrinks
    * by the term-frequency factor and stop-word keys lose their skew
    * (one row per (doc, token) however often the token repeats); the
    * per-doc mean is then tf-weighted, the same sum. Shuffles: the
    * (doc_id, tok) pre-aggregate (map-side combined), the vocab
    * groupBy over tf rows, the tf→count join + per-doc aggregate; the
    * corpus total rides along as a broadcast single-row aggregate,
    * never a driver collect. Tokenless documents score 0 with
    * n_tokens 0 (left join keeps them). */
  def lmQualityScore(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tf = df.select(col(idCol).as("doc_id"),
        explode(TextExprs.tokens(col(textCol), lower = true)).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val counts = tf.groupBy(col("tok")).agg(sum(col("tf")).as("c"))
    val total = counts.agg(sum(col("c")).as("t"))
    val scored = tf.join(counts, "tok")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        (-(sum(col("tf").cast(DoubleType) *
              log(col("c").cast(DoubleType) / col("t").cast(DoubleType))) /
            sum(col("tf")).cast(DoubleType)))
          .as("s"))
    df.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(coalesce(col("s"), lit(0.0)), 4).as("lm_score"))
  }

  /** BM25 keyword retrieval over the corpus for a literal query-term
    * set — the curation/search primitive (k1 = 1.2, b = 0.75, the
    * Robertson/Sparck-Jones idf with the +1 floor so idf never goes
    * negative). The exploded-token stream is filtered to the query
    * terms BEFORE any shuffle, so the heavy aggregations run over
    * |matching postings|, not the corpus; N and avgdl are exact-integer
    * aggregates (long sum / count — no order-dependent double sum)
    * broadcast alongside. Ranking uses the 6-decimal-rounded score
    * (ties → doc id) so rank agrees across engines regardless of
    * sub-ulp float differences. The ≤ k result rows are ranked on the
    * driver, so the call runs the retrieval before it returns. */
  def bm25TopK(df: DataFrame, textCol: String, idCol: String,
      queryTerms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "at least one query term")
    val toks = df.select(col(idCol).as("doc_id"),
      explode(TextExprs.tokens(col(textCol), lower = true)).as("tok"))
    val docLen = df.select(col(idCol).as("doc_id"),
      size(TextExprs.tokens(col(textCol), lower = true)).cast("long").as("dl"))
    val corpus = docLen.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = toks.filter(col("tok").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("dfc"))
    val avgdl = col("sum_dl").cast(DoubleType) / col("n_docs").cast(DoubleType)
    val idf = log((col("n_docs").cast(DoubleType) - col("dfc") + 0.5) /
      (col("dfc").cast(DoubleType) + 0.5) + 1.0)
    // association mirrors the oracle SQL exactly: (b * dl) / avgdl, then
    // (1 - b) + that, then k1 * (...) — double rounding is per-op, so the
    // op tree must match for bit-equal replays
    val w = idf * (col("tf").cast(DoubleType) * lit(k1 + 1.0)) /
      (col("tf").cast(DoubleType) +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast(DoubleType) / avgdl))
    val scored = tf.join(broadcast(dfreq), "tok")
      .join(docLen, "doc_id")
      .crossJoin(broadcast(corpus))
      .groupBy(col("doc_id")).agg(sum(w).as("s"))
    // top-k on the cluster (TakeOrderedAndProject: per-partition heaps,
    // no global sort); the ≤ k rows it collects arrive in rank order and
    // are numbered on the driver
    val top = scored.orderBy(round(col("s"), 6).desc, col("doc_id")).limit(k)
      .select(col("doc_id"), round(col("s"), 4).as("bm25"))
    val ranked = top.collect().iterator.zipWithIndex
      .map { case (r, i) => Row(r.get(0), i + 1L, r.get(1)) }.toSeq
    df.sparkSession.createDataFrame(java.util.Arrays.asList(ranked: _*),
      StructType(Seq(top.schema("doc_id"), StructField("rk", LongType, nullable = false),
        top.schema("bm25"))))
  }

  /** Canonical text normalization — the first pass of a corpus scrub:
    * Unicode NFC (codegen kernel, [[TextExprs.nfc_normalize]]), then
    * whitespace runs collapse to one space, then the remaining C0/DEL
    * control characters are stripped, then edge spaces trim. Row-local
    * and fully codegen'd (a 100 TB corpus is a map-only pass).
    *
    * The character classes are written out explicitly (no `\s`) because
    * Java regex and RE2 disagree on `\s` (`\x0B`): with literal classes
    * the DuckDB oracle replays the identical bytes. */
  def normalizeText(text: Column): Column = {
    val ws = "[ \\t\\n\\x0B\\f\\r]+"
    val ctl = "[\\x00-\\x08\\x0E-\\x1F\\x7F]"
    trim(regexp_replace(
      regexp_replace(TextExprs.nfc_normalize(text), ws, " "), ctl, ""))
  }

  /** HTML → main-content text: the extraction step between a crawl
    * archive ([[graft.sources.WarcSource]]) and the text pipeline —
    * tag stripping plus a jusText/trafilatura-style block heuristic
    * (Pomikálek 2011; Barbaresi 2021). The document splits into blocks
    * at block-level tag boundaries; a block survives when it reads
    * like prose: ≥ `minWords` words, at least one stopword of the
    * 12-word list, anchor density ≤ 1 link per 3 words, and a
    * text-to-markup ratio ≥ `minTextRatio` (boilerplate nav/footer
    * blocks are short, link-dense, and markup-heavy). Surviving
    * blocks re-join with `\n` — ready for `c4_clean`'s line rules.
    *
    * Row-local, built-ins only, RE2-safe patterns (explicit whitespace
    * classes, no `\s`, no backreferences — `<script>`/`<style>` strip
    * in separate passes for exactly that reason): the DuckDB oracle
    * replays the identical bytes, and a 100 TB crawl is a map-only
    * pass with no shuffle. */
  def htmlExtractText(html: Column, minWords: Int = 5,
      minTextRatio: Double = 0.25): Column = {
    val ws = "[ \\t\\n\\x0B\\f\\r]+"
    // longer names strictly before their prefixes (header|head, pre|p,
    // thead/tbody/table|th|tr|td, figcaption|figure) so leftmost-first
    // alternation picks the full tag in both Java regex and RE2
    val blockRe = "(?i)</?(?:blockquote|figcaption|section|article|header|" +
      "footer|aside|thead|tbody|table|title|figure|html|head|body|form|" +
      "main|pre|nav|div|ul|ol|li|h1|h2|h3|h4|h5|h6|br|hr|tr|th|td|p)" +
      "(?:[ \\t\\n\\x0B\\f\\r/][^>]*)?>"
    val deScripted = regexp_replace(
      regexp_replace(
        regexp_replace(html, "(?is)<script[^>]*>.*?</script[^>]*>", " "),
        "(?is)<style[^>]*>.*?</style[^>]*>", " "),
      "(?s)<!--.*?-->", " ")
    val sw = array(defaultStopwords.map(lit): _*)
    val scored = transform(split(deScripted, blockRe, -1), b => {
      val nLinks = size(split(b, "(?i)<a[ \\t\\n\\x0B\\f\\r>]", -1)) - 1
      // strip inline tags to a SPACE (unstyled words must not fuse),
      // then decode the common entities — '&amp;' strictly last
      val text = trim(regexp_replace(
        replaceEntities(regexp_replace(b, "<[^>]*>", " ")), ws, " "))
      val words = filter(split(text, ws, -1), t => length(t) > 0)
      val nWords = size(words)
      val nStop = size(filter(words, w => array_contains(sw, lower(w))))
      val keep = nWords >= minWords && nStop >= 1 &&
        nLinks * 3 <= nWords &&
        length(text).cast(DoubleType) >= length(b) * lit(minTextRatio)
      struct(text.as("t"), keep.as("k"))
    })
    array_join(
      transform(filter(scored, s => s.getField("k")), s => s.getField("t")),
      "\n")
  }

  private def replaceEntities(c: Column): Column = {
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    decoded.foldLeft(c) { case (acc, (e, r)) => replace(acc, lit(e), lit(r)) }
  }

  // ------------------------------------------------------ html metadata
  // Page metadata a curation pipeline reads before (or instead of)
  // full extraction: the title (dedup keys, quality features), named
  // meta values (description/keywords/robots), and the declared
  // language (a prior for langId). All row-local codegen built-ins,
  // RE2-safe, '' when absent — replayable in SQL and map-only at scale.

  /** first `<title>` content: entities decoded, whitespace collapsed */
  def htmlTitle(html: Column): Column = {
    val ws = "[ \\t\\n\\x0B\\f\\r]+"
    trim(regexp_replace(replaceEntities(
      regexp_extract(html, "(?i)<title[^>]*>([^<]*)", 1)), ws, " "))
  }

  /** content of `<meta name="name" content="…">` — either attribute
    * order, either quote style, name matched case-insensitively;
    * entities decoded; '' when absent */
  def htmlMeta(html: Column, name: String): Column = {
    val ws = "[ \\t\\n\\x0B\\f\\r]"
    val n = java.util.regex.Pattern.quote(name)
    val nameFirst =
      s"""(?i)<meta$ws[^>]*name$ws*=$ws*["']$n["'][^>]*content$ws*=$ws*["']([^"'>]*)["']"""
    val contentFirst =
      s"""(?i)<meta$ws[^>]*content$ws*=$ws*["']([^"'>]*)["'][^>]*name$ws*=$ws*["']$n["']"""
    val v1 = regexp_extract(html, nameFirst, 1)
    trim(replaceEntities(
      when(v1 =!= "", v1).otherwise(regexp_extract(html, contentFirst, 1))))
  }

  /** `lang` attribute of the `<html>` tag, lowercased; '' when absent */
  def htmlLang(html: Column): Column = {
    val ws = "[ \\t\\n\\x0B\\f\\r]"
    lower(regexp_extract(html,
      s"""(?i)<html$ws[^>]*lang$ws*=$ws*["']([^"'>]*)["']""", 1))
  }

  /** sitemap `<loc>` URLs in document order — both `urlset` page lists
    * and `sitemapindex` child-sitemap lists carry their URLs in `loc`
    * elements; values trim and entity-decode (`&amp;` is how sitemaps
    * escape `&`). The frontier-seeding counterpart of [[htmlLinks]]. */
  def sitemapUrls(xml: Column): Column = {
    val ws = "[ \\t\\n\\x0B\\f\\r]*"
    transform(
      regexp_extract_all(xml, lit(s"(?i)<loc$ws>([^<]*)</loc"), lit(1)),
      // Spark's trim() strips only spaces; sitemap locs routinely wrap
      // with newlines/tabs, so strip the full whitespace class
      u => replaceEntities(
        regexp_replace(u, "^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$", "")))
  }

  /** Global paragraph-level deduplication (the MassiveText/Gopher
    * scrub shape): every document is split into paragraphs, each
    * DISTINCT paragraph keeps exactly its first occurrence in corpus
    * order — lexicographic min (doc, position) — and documents are
    * reassembled from their surviving paragraphs in original order.
    * This is what removes boilerplate ("subscribe to our newsletter",
    * cookie banners) that exact whole-doc dedup can never touch.
    *
    * Scale shape: paragraphs shuffle once by content digest for the
    * keeper aggregate (map-side partial min shrinks heavy boilerplate
    * before the wire), the digest join back is AQE-skew-splittable,
    * and reassembly is one groupBy(doc) whose state is bounded by
    * document size. Nothing touches the driver.
    *
    * Output: (doc_id, text, n_kept, n_dropped) — one row per input
    * document; a document losing every paragraph yields empty text. */
  def dedupParagraphs(df: DataFrame, textCol: String, idCol: String,
      sep: String = "\n\n"): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(sep)
    val paras = df.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), sepRe, -1)).as(Seq("pos", "para")))
    val occ = paras
      .withColumn("pdig", md5(col("para").cast("binary")))
      .withColumn("occ", struct(col("doc_id"), col("pos")))
    val keepers = occ.groupBy(col("pdig")).agg(min(col("occ")).as("keeper"))
    val kept = occ.join(keepers, "pdig").filter(col("occ") === col("keeper"))
    val rebuilt = kept.groupBy(col("doc_id")).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("para")))),
        e => e.getField("para")), sep).as("text"),
      count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("doc_id"),
        size(split(col(textCol), sepRe, -1)).cast("long").as("n_paras"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text"), lit("")).as("text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_paras") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** C4-style line-and-document cleaning (after Raffel et al. 2020,
    * "Exploring the Limits of Transfer Learning…", §2.2).
    * Line level: keep a line iff it ends in terminal punctuation
    * (`.`/`!`/`?`/`"`), has ≥ 3 whitespace words, and contains none of
    * {`javascript` (any case), `lorem ipsum` (any case), `{`}. Document
    * level: the cleaned document passes iff it retains ≥ 5 sentences
    * (terminal-punctuation runs as the sentence proxy) and kept any
    * text at all.
    *
    * Deliberate deviations from the paper: §2.2 discards the whole
    * PAGE on `lorem ipsum` or `{` (curly brace = code smell) — here
    * both are line-level drops, which is less destructive on mixed
    * prose/code documents and composes with the line rules in one
    * pass; and the paper's "three sentences" page gate is applied as
    * the ≥5-sentence doc gate below. Engine and oracle implement the
    * same (deviating) semantics.
    *
    * Row-local, built-ins only, RE2-safe patterns (explicit whitespace
    * classes, no `\s`) — the DuckDB oracle replays the identical bytes,
    * and a 100 TB corpus is a map-only pass with no shuffle.
    *
    * Output: (doc_id, text · cleaned, n_lines_kept, n_lines_dropped,
    * doc_pass). */
  /** the C4 line predicate, shared by [[c4Clean]] and the curation
    * pipeline DSL */
  private def c4KeepLine(l: Column): Column = {
    val ws = "[ \\t\\x0B\\f\\r]+"
    // \z (end of input), NOT $: Java's $ also matches before a final
    // line terminator (\r, U+0085, U+2028/29) while the oracle's RE2 $
    // is end-of-string only — a CRLF corpus would diverge under $
    l.rlike("[.!?\"]\\z") &&
    size(filter(split(l, ws, -1), t => length(t) > 0)) >= 3 &&
    !lower(l).contains("javascript") &&
    !lower(l).contains("lorem ipsum") &&
    !l.contains("{")
  }

  /** text with only its C4-surviving lines, as a pure expression */
  def c4CleanedText(text: Column): Column =
    array_join(filter(split(text, "\n", -1), c4KeepLine _), "\n")

  /** the C4 document gate over already-cleaned text: ≥ 5 sentences
    * (terminal-punctuation runs — split on the runs; fragment count
    * minus one counts them) and non-empty */
  def c4DocPass(cleaned: Column): Column =
    (size(split(cleaned, "[.!?]+", -1)) - 1 >= 5) && length(cleaned) > 0

  def c4Clean(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val lines = split(col(textCol), "\n", -1)
    val kept = filter(lines, c4KeepLine _)
    val cleaned = array_join(kept, "\n")
    df.select(col(idCol).as("doc_id"),
        cleaned.as("text"),
        size(kept).cast(LongType).as("n_lines_kept"),
        (size(lines) - size(kept)).cast(LongType).as("n_lines_dropped"),
        c4DocPass(cleaned).as("doc_pass"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, "Scaling
    * Language Models: … Gopher", Appendix A — the public MassiveText
    * filter battery). Per document, on whitespace words and `\n` lines:
    *   - word count in [minWords, maxWords]            (rule_words)
    *   - mean word length in [3, 10]                   (rule_mean_len)
    *   - symbol-to-word ratio (`#` or `...`) ≤ 0.1     (rule_symbols)
    *   - ≤ 90% of lines start with a bullet (`-`/`*`/`•`) (rule_bullets)
    *   - ≤ 30% of lines end with an ellipsis (`...`/`…`)  (rule_ellipsis)
    *   - ≥ 80% of words contain a letter               (rule_alpha)
    *   - ≥ 2 distinct stopwords of a 12-word list      (rule_stopwords)
    * `pass` is their conjunction. Row-local built-ins only; the same
    * arithmetic replays in the oracle. Thresholds are the paper's. */
  private final case class GopherParts(nWords: Column, meanLen: Column,
      rules: Seq[(String, Column)]) {
    def pass: Column = rules.map(_._2).reduce(_ && _)
  }

  /** all counters come from ONE single-pass codegen kernel
    * ([[TextExprs.GopherStats]]) — the HOF formulation re-split the
    * text once per rule column and measured 12× DuckDB's wall time;
    * within a projection Spark's subexpression elimination evaluates
    * the kernel once per row no matter how many rules read it */
  private def gopherParts(text: Column, minWords: Int,
      maxWords: Int): GopherParts = {
    val st = TextExprs.gopher_stats(text)
    val nWords = st.getField("n_words")
    val nLines = st.getField("n_lines")
    val meanLen = when(nWords === 0, 0.0)
      .otherwise(st.getField("sum_word_len").cast(DoubleType) / nWords)
    GopherParts(nWords, meanLen, Seq(
      "rule_words" -> (nWords >= minWords && nWords <= maxWords),
      "rule_mean_len" -> (meanLen >= 3.0 && meanLen <= 10.0),
      "rule_symbols" -> (st.getField("n_symbol_words") <= nWords * 0.1),
      "rule_bullets" -> (nLines === 0 || st.getField("n_bullet_lines") <= nLines * 0.9),
      "rule_ellipsis" -> (nLines === 0 || st.getField("n_ellipsis_lines") <= nLines * 0.3),
      "rule_alpha" -> (nWords === 0 || st.getField("n_alpha_words") >= nWords * 0.8),
      "rule_stopwords" -> (st.getField("n_stop_distinct") >= 2)))
  }

  /** the battery's conjunction as a pure predicate, for filter stages */
  def gopherPass(text: Column, minWords: Int = 50,
      maxWords: Int = 100000): Column =
    gopherParts(text, minWords, maxWords).pass

  def gopherRules(df: DataFrame, textCol: String, idCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val p = gopherParts(col(textCol), minWords, maxWords)
    // mean ships UNROUNDED: it is one IEEE division of exact integers,
    // bit-identical across engines, while round() semantics at exact
    // halves differ (HALF_UP vs half-away)
    df.select(Seq(col(idCol).as("doc_id"),
        p.nWords.cast(LongType).as("n_words"),
        p.meanLen.as("mean_word_len")) ++
      p.rules.map { case (n, c) => c.as(n) }: _*)
      .withColumn("pass",
        p.rules.map(r => col(r._1)).reduce(_ && _))
  }

  // --------------------------------------------------------------- links

  /** Outlink targets of an HTML page, resolved against `baseUrl` —
    * the edge extractor of the crawl link graph ([[LinkGraph]]): every
    * `<a … href="…">` (either quote style, any attribute order, any
    * tag case) yields its target, fragment-stripped, then resolved:
    *
    *  - absolute `http(s)://…` passes through; any OTHER explicit
    *    scheme (`javascript:`, `mailto:`, `ftp://`, `data:`) drops —
    *    those are not crawlable page links;
    *  - protocol-relative `//authority/…` gets the base scheme;
    *  - rooted `/path` gets the base `scheme://authority` (authority
    *    keeps its case and port — resolution must not rewrite it);
    *  - relative `path` resolves against the base path's directory.
    *
    * Empty hrefs drop; duplicates keep document order (downstream edge
    * weights count them). Row-local codegen built-ins, RE2-safe
    * patterns, replayable in SQL — a 100 TB crawl is a map-only pass. */
  def htmlLinks(html: Column, baseUrl: Column): Column = {
    val ws = "[ \\t\\n\\x0B\\f\\r]"
    val hrefRe = s"(?i)<a$ws[^>]*href$ws*=$ws*[\"']([^\"'>]*)[\"']"
    val anyScheme = "^[A-Za-z][A-Za-z0-9+.-]*:"
    val t = regexp_replace(trim(baseUrl), "#.*", "")
    val scheme = lower(regexp_extract(t, urlSchemeRe, 1))
    val rest = regexp_replace(t, urlSchemeRe, "")
    val authority = regexp_extract(rest, "^([^/?]*)", 1)
    val root = concat(scheme, lit("://"), authority)
    val basePath = regexp_extract(rest, "^[^/?]*(/[^?]*)", 1)
    val baseDir = when(basePath === "", lit("/"))
      .otherwise(regexp_replace(basePath, "[^/]*$", ""))
    val resolved = transform(regexp_extract_all(html, lit(hrefRe), lit(1)), h0 => {
      val h = regexp_replace(h0, "#.*", "")
      val hScheme = lower(regexp_extract(h, urlSchemeRe, 1))
      when(h === "", lit(""))
        .when(hScheme === "http" || hScheme === "https", h)
        .when(hScheme =!= "", lit(""))     // non-web hierarchical scheme
        .when(h.rlike(anyScheme), lit("")) // opaque scheme: mailto:, javascript:
        .when(h.startsWith("//"), concat(scheme, lit(":"), h))
        .when(h.startsWith("/"), concat(root, h))
        .otherwise(concat(root, baseDir, h))
    })
    filter(resolved, l => l =!= "")
  }

  // ---------------------------------------------------------------- urls
  // Crawl-frontier URL hygiene (the step between a WARC scan's
  // `target_uri` and everything downstream): C4/RefinedWeb-style
  // pipelines normalize URLs, drop blocked hosts/patterns, and dedup
  // the frontier BEFORE fetch-side work. All row-local codegen
  // built-ins with RE2-safe patterns, so the DuckDB oracle replays
  // identical bytes and a 100 TB frontier is a map-only pass.

  private val urlSchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  /** query params dropped by normalization: click/campaign trackers
    * (utm_*, gclid, fbclid, msclkid) that fragment frontier dedup */
  private val urlTrackRe = "^(utm_[^=&]*|gclid|fbclid|msclkid)(=|$)"

  // r17: the four url functions are native codegen kernels
  // ([[graft.functions.UrlExprs]]) — the composed built-in formulations
  // below (`*Composed`) are kept as the executable spec: Column
  // composition DUPLICATES subtrees at every reference, and the
  // composed url_surt printed as ~400 KB of physical plan (seconds of
  // optimizer time per query, codegen spilling to interpreted). The
  // kernels run the identical pass sequence on the same primitives;
  // OperatorsSpec pins kernel == composed byte-for-byte on adversarial
  // and randomized URLs.

  /** lowercased scheme, '' when the URL carries none */
  def urlScheme(url: Column): Column =
    graft.functions.UrlExprs.url_scheme(url)

  private[graft] def urlSchemeComposed(url: Column): Column =
    lower(regexp_extract(trim(url), urlSchemeRe, 1))

  /** lowercased host without port or userinfo — the grouping key for
    * domain caps / per-site mixing ([[Sampling.capPerGroup]]).
    * Userinfo strips (RFC 3986: everything up to the authority's LAST
    * `@`): `http://x@ads.example/` must still block/join as
    * `ads.example`, or a crawled page's `user@host` links would bypass
    * blocklists, robots joins and per-host fetch slots. */
  def urlHost(url: Column): Column =
    graft.functions.UrlExprs.url_host(url)

  private[graft] def urlHostComposed(url: Column): Column = {
    val rest = regexp_replace(regexp_replace(trim(url), "#.*", ""),
      urlSchemeRe, "")
    lower(regexp_replace(regexp_replace(
      regexp_extract(rest, "^([^/?]*)", 1), "^.*@", ""), ":[0-9]+$", ""))
  }

  /** RFC 3986 dot-segment removal over a `/`-rooted path: a fixed
    * 8-round sequence of global regex passes (each round collapses one
    * nesting level of `/./` and `/seg/../`; `^/../` levels drop at the
    * root), guarded by a cheap `/.`-substring test so clean paths pay
    * nothing and keep their exact bytes. The SAME pass sequence runs
    * in the oracle's SQL twin, so results are byte-identical by
    * construction. Deeper than 8 levels of nesting is out of contract
    * (no real URL nests that far) — and [[urlPass]] DROPS any URL
    * whose path retains a dot segment, so the bound fails CLOSED in
    * frontier pipelines (an adversarial deep-nested alias is rejected,
    * never fetched under a wrong identity); `//..` (empty parent
    * segment) is left as-is — the one RFC corner this trades away. */
  private[graft] def removeDotSegments(path: Column): Column = {
    // a segment that is neither "." nor ".." (RE2-safe, no lookaround)
    val seg = "(?:[^./][^/]*|\\.[^./][^/]*|\\.\\.[^/]+)"
    val cleaned = (1 to 8).foldLeft(path) { (p, _) =>
      val p1 = regexp_replace(p, "/\\./", "/")
      val p2 = regexp_replace(p1, "/\\.$", "/")
      val p3 = regexp_replace(p2, s"/$seg/\\.\\./", "/")
      val p4 = regexp_replace(p3, s"/$seg/\\.\\.$$", "/")
      regexp_replace(p4, "^/\\.\\.(/|$)", "/")
    }
    when(instr(path, "/.") > 0, cleaned).otherwise(path)
  }

  /** Canonical URL: fragment stripped; scheme and host lowercased;
    * userinfo dropped; default ports (`:80` http, `:443` https)
    * stripped; dot segments removed from the path (RFC 3986 —
    * `/a/../p` and `/p` must dedup to one string and robots rules
    * must see the real path); tracking params removed from the query
    * (other params keep their order); a bare `/` path with no query
    * drops. Two URLs that fetch the same page under these rules
    * normalize to one string, so exact dedup on the result IS
    * frontier dedup. */
  def urlNormalize(url: Column): Column =
    graft.functions.UrlExprs.url_normalize(url)

  private[graft] def urlNormalizeComposed(url: Column): Column = {
    val t = regexp_replace(trim(url), "#.*", "")
    val scheme = lower(regexp_extract(t, urlSchemeRe, 1))
    val rest = regexp_replace(t, urlSchemeRe, "")
    // offsets use the RAW extract's length: lower() may change length
    // outside ASCII (Turkish dotted I), and the tail must cut where
    // the original hostport ended
    val rawHostport = regexp_extract(rest, "^([^/?]*)", 1)
    val hostport = regexp_replace(lower(rawHostport), "^.*@", "")
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .otherwise(hostport)
    val tail = rest.substr(length(rawHostport) + lit(1), length(rest))
    val rawPath = regexp_extract(tail, "^([^?]*)", 1)
    val path = removeDotSegments(rawPath)
    val query = tail.substr(length(rawPath) + lit(2), length(tail))
    val kept = filter(split(query, "&", -1),
      p => p =!= "" && !p.rlike(urlTrackRe))
    val q2 = array_join(kept, "&")
    concat(
      when(scheme === "", lit("")).otherwise(concat(scheme, lit("://"))),
      host,
      when(path === "/" && q2 === "", lit("")).otherwise(path),
      when(q2 === "", lit("")).otherwise(concat(lit("?"), q2)))
  }

  /** SURT (Sort-friendly URI Reordering Transform) key of the
    * NORMALIZED url — the sort/join key crawl indexes use (wayback /
    * Common Crawl CDX): host labels reversed and comma-joined (one
    * leading `www.` stripped), a non-default port kept after the host,
    * `)`, then the path+query (always `/`-rooted, `)/` when empty).
    * `http://www.Example.com:80/a?utm_x=1&b=2` → `com,example)/a?b=2`.
    * URLs of one page sort adjacent and one host's pages form one
    * contiguous key range — range-partition on this key and a 100 TB
    * index co-locates per-host work with zero extra shuffles. */
  def urlSurt(url: Column): Column =
    graft.functions.UrlExprs.url_surt(url)

  private[graft] def urlSurtComposed(url: Column): Column = {
    val rest = regexp_replace(urlNormalizeComposed(url), urlSchemeRe, "")
    val hostport = regexp_extract(rest, "^([^/?]*)", 1)
    val host = regexp_replace(hostport, ":[0-9]+$", "")
    val port = regexp_extract(hostport, "(:[0-9]+)$", 1)
    val bare = regexp_replace(host, "^www\\.", "")
    val tail = rest.substr(length(hostport) + lit(1), length(rest))
    concat(
      array_join(reverse(split(bare, "\\.")), ","), port, lit(")"),
      when(substring(tail, 1, 1) === "/", tail)
        .otherwise(concat(lit("/"), tail)))
  }

  /** true iff `url` survives the frontier gate: scheme allowed (empty
    * `allowSchemes` skips the check), host not on the blocklist (exact
    * or dot-suffix subdomain match), no blocklist pattern matches the
    * lowercased URL (the C4 badword-in-URL rule shape), and the PATH
    * carries no dot segments. The last rule fails CLOSED against the
    * [[removeDotSegments]] depth bound: crawl input is adversarial,
    * and a page nesting `a/../` deeper than 8 levels would otherwise
    * slip a `..` past normalization — defeating frontier dedup and
    * robots matching. Normalized URLs have no dot segments, so the
    * rule only ever drops hostile or unnormalized input. */
  def urlPass(url: Column, allowSchemes: Seq[String] = Seq("http", "https"),
      blockHosts: Seq[String] = Nil, blockPatterns: Seq[String] = Nil): Column = {
    val host = urlHost(url)
    val schemeOk =
      if (allowSchemes.isEmpty) lit(true)
      else urlScheme(url).isin(allowSchemes.map(_.toLowerCase): _*)
    val hostBlocked = blockHosts.map(_.toLowerCase)
      .map(h => host === h || host.endsWith("." + h))
      .reduceOption(_ || _).getOrElse(lit(false))
    val patBlocked = blockPatterns.map(p => lower(url).rlike(p))
      .reduceOption(_ || _).getOrElse(lit(false))
    // dot segment anywhere in the pre-query part (the query may
    // legitimately contain "/.." as data)
    val dotted = url.rlike("^[^?]*/\\.\\.?(/|\\?|$)")
    schemeOk && !hostBlocked && !patBlocked && !dotted
  }

  /** Standard per-document profile used by the gate queries. */
  def profile(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col("*"),
      tokenCount(t).as("n_tokens"),
      charCount(t).as("n_chars_computed"),
      round(punctRatio(t), 6).as("punct_ratio"),
      round(stopwordRatio(t), 6).as("stopword_ratio"),
      round(meanTokenLength(t), 6).as("mean_token_len"),
      langId(t).as("lang_pred"),
      fingerprint(t).as("fp"))
  }

  /** Tokenizer evaluation (r15): corpus-level fertility/compression
    * metrics per group — the standard way production pipelines compare
    * tokenizers across languages (tokens-per-byte = compression;
    * tokens-per-word = fertility; chars-per-token = inverse
    * granularity). Input is ANY encoded frame carrying the source text
    * and a token count (every tokenizer family here emits one); one
    * aggregation, integer sums, ratios computed once per group. At
    * 100 TB this is a single map-side-combined groupBy over columns
    * the encode pass already materialized. */
  def tokenizerStats(encoded: DataFrame, groupCols: Seq[String],
      textCol: String, nTokensCol: String): DataFrame = {
    require(groupCols.nonEmpty, "tokenizerStats needs grouping columns")
    val t = col(textCol)
    val words = size(filter(split(t, "\\s+"), x => length(x) > 0))
    encoded.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(nTokensCol)).as("n_tokens"),
        sum(octet_length(t)).as("n_bytes"),
        sum(length(t)).as("n_chars"),
        sum(words.cast("long")).as("n_words"))
      .withColumn("tokens_per_byte",
        round(col("n_tokens").cast("double") / col("n_bytes"), 6))
      .withColumn("fertility",
        round(col("n_tokens").cast("double") / col("n_words"), 6))
      .withColumn("chars_per_token",
        round(col("n_chars").cast("double") / col("n_tokens"), 6))
  }
}
