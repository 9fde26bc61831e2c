package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ByteBpeExprs
import graft.operators.ByteBpe

class ByteBpeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.build("local[4]", 4)

  // ------------------------------------------------------------ helpers

  private def kernelSplit(s: String): Seq[String] = {
    val a = ByteBpeExprs.gpt2SplitKernel(UTF8String.fromString(s))
    (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
  }

  /** the literal GPT-2 pattern as the independent reference —
    * java.util.regex supports the (?!…) lookahead the kernel unrolls;
    * \s is widened to the kernel's isWhitespace ∪ isSpaceChar class so
    * both sides pin the same whitespace set (NBSP, figure space) */
  private val wsCls = "\\p{javaWhitespace}\\p{javaSpaceChar}"
  private val gpt2Ref = java.util.regex.Pattern.compile(
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^" + wsCls +
      "\\p{L}\\p{N}]+|[" + wsCls + "]+(?![^" + wsCls + "])|[" + wsCls + "]+")

  private def refSplit(s: String): Seq[String] = {
    val m = gpt2Ref.matcher(s)
    val b = Seq.newBuilder[String]
    while (m.find()) b += m.group()
    b.result()
  }

  // -------------------------------------------------------------- tests

  test("published artifacts: vocab.bpe + encoder.json + spm .vocab load (r15)") {
    val fx = "src/test/resources/fixtures/tokenizer"
    // vocab.bpe: '#version' header skipped, rank order preserved
    val merges = ByteBpe.readGpt2Merges(s"$fx/vocab.bpe")
    assert(merges == Seq(("Ã", "¤"), ("Ã", "©"), ("Ġ", "t"),
      ("Ġt", "h"), ("t", "h")), merges)
    // encoder.json: \uXXXX-escaped keys unescape; closed surface covered
    val enc = ByteBpe.readGpt2Encoder(s"$fx/encoder.json")
    assert(enc.size == 261)
    assert(enc("Ġ") == 3032L, "space byte maps through the bijection")
    assert(enc("Ġth") == 4003L)
    // published-id encode: ids come from the artifact, not 256+rank
    import spark.implicits._
    val df = Seq((1L, "the th")).toDF("doc_id", "text")
    val ids = ByteBpe.encodeIdsPublished(df, "text", "doc_id", merges, enc)
      .collect()(0).getSeq[Long](1)
    // "the" → t,h,e pre-token: merges t+h → th(4004), e(3000+101);
    // " th" → Ġt(4002)+h? no — Ġt h merges to Ġth? wait: Ġ t → Ġt,
    // then Ġt h → Ġth (4003)
    assert(ids == Seq(4004L, 3101L, 4003L), ids)
    // a gap between the artifacts raises up front
    val e = intercept[IllegalArgumentException] {
      ByteBpe.encodeIdsPublished(df, "text", "doc_id",
        merges :+ (("th", "e")), enc)
    }
    assert(e.getMessage.contains("encoder.json is missing"), e.getMessage)
    // spm-style .vocab: control rows skip, ▁ strips, bare/marked
    // collision keeps the higher score, floats quantize to millionths
    val spm = graft.operators.Unigram.readVocab(s"$fx/fixture.vocab").pieces
    val m = spm.toMap
    assert(!m.contains("<unk>") && !m.contains("<s>"))
    assert(m("table") == -10000000L)
    assert(m("the") == -5000000L, "marked ▁the (-5.0) outranks bare the (-7.0)")
    assert(m.size == 13)
    // malformed score raises with the piece named
    val bad = intercept[IllegalArgumentException] {
      graft.operators.Unigram.parseVocabArtifact("x\tnot-a-number\n")
    }
    assert(bad.getMessage.contains("bad vocab score"), bad.getMessage)
    // scale consistency: a float anywhere puts the WHOLE file in
    // log-prob units — integer-formatted scores scale with it
    val mixed = graft.operators.Unigram
      .parseVocabArtifact("ab\t-10\ncd\t-5.0\n").pieces.toMap
    assert(mixed("ab") == -10000000L && mixed("cd") == -5000000L, mixed)
    // an all-integer file is the engine's own format: weights verbatim
    val ints = graft.operators.Unigram
      .parseVocabArtifact("ab\t-10\ncd\t-5\n").pieces.toMap
    assert(ints("ab") == -10L && ints("cd") == -5L, ints)
    // r15 review fixes: the REAL GPT-2 vocab.bpe carries merges whose
    // left symbol is '#' ("# #" → "##") — only #version and prose
    // comments skip
    val tmp = java.nio.file.Files.createTempDirectory("graft-bpefix")
    graft.sources.io.ByteStore.writeString(s"$tmp/m.bpe",
      "#version: 0.2\n# this is prose and not a pair at all\n# #\n## #\nĠ t\n")
    val hashMerges = ByteBpe.readGpt2Merges(s"$tmp/m.bpe")
    assert(hashMerges == Seq(("#", "#"), ("##", "#"), ("Ġ", "t")), hashMerges)
    // spm vocab: only CANONICAL control rows skip — <br> is a real
    // piece; a '#'-piece line (has a tab) is data, tab-less '#' lines
    // are comments
    val spm2 = graft.operators.Unigram.parseVocabArtifact(
      "# a comment line\n<unk>\t0\n<br>\t-6.0\n#\t-8.25\nab\t-2.0\n").pieces.toMap
    assert(!spm2.contains("<unk>"))
    assert(spm2("<br>") == -6000000L && spm2("#") == -8250000L, spm2)
  }

  test("published artifacts at PUBLISHED scale: 50k merges load, encode " +
      "runs, and the remap is one literal — not a 50k-child node (r16)") {
    import graft.functions.ByteBpeExprs.byteToChar
    // synthesize a GPT-2-sized artifact pair: 50,000 merges (all
    // products of two base byte symbols — every one replayable with
    // no chaining) + an encoder covering the closed surface with
    // non-identity ids, written in the published file formats
    val n = 50000
    val merges = (for {
      i <- 0 until 256; j <- 0 until 256
    } yield (byteToChar(i).toString, byteToChar(j).toString)).take(n)
    val tmp = java.nio.file.Files.createTempDirectory("gpt2scale")
    java.nio.file.Files.writeString(tmp.resolve("vocab.bpe"),
      "#version: 0.2\n" +
        merges.map { case (l, r) => s"$l $r" }.mkString("\n") + "\n")
    val encJson = new StringBuilder("{")
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }
    (0 until 256).foreach { b =>
      encJson ++= s""""${esc(byteToChar(b).toString)}": ${2 * b}, """ }
    merges.zipWithIndex.foreach { case ((l, r), k) =>
      encJson ++= s""""${esc(l + r)}": ${100000 + k}""" +
        (if (k == n - 1) "" else ", ") }
    encJson += '}'
    java.nio.file.Files.writeString(tmp.resolve("encoder.json"),
      encJson.toString)
    val loaded = ByteBpe.readGpt2Merges(tmp.resolve("vocab.bpe").toString)
    assert(loaded.size == n && loaded == merges)
    val enc = ByteBpe.readGpt2Encoder(tmp.resolve("encoder.json").toString)
    assert(enc.size == 256 + n)
    import spark.implicits._
    val df = Seq((1L, "the cat sat"), (2L, "zz qq")).toDF("doc_id", "text")
    val out = ByteBpe.encodeIdsPublished(df, "text", "doc_id", loaded, enc)
    // the published ids are exactly the closed ids pushed through the
    // artifact remap — verified against an independently built table
    val remap = Array.tabulate(256 + n) { cid =>
      if (cid < 256) 2L * cid else 100000L + (cid - 256) }
    val closed = ByteBpe.encodeIds(df, "text", "doc_id", loaded)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    out.collect().foreach { r =>
      assert(r.getSeq[Long](1) == closed(r.getLong(0)).map(i => remap(i.toInt)))
    }
    // plan-size pin (ADVICE r15): the remap must be ONE array literal.
    // With CreateArray the analyzed plan carries 50k child expressions;
    // the typedLit plan stays in the hundreds.
    val nodes = out.queryExecution.analyzed.expressions
      .map(e => e.collect { case x => x }.size).sum
    assert(nodes < 2000, s"analyzed plan carries $nodes expression nodes " +
      "- the vocab remap is being inlined child-per-id")
  }

  test("unigram boundary mode (r16): ▁-marked and bare variants score in " +
      "their OWN positions; CURATE 'boundary' knob wires through") {
    import spark.implicits._
    import graft.operators.Unigram
    val tmp = java.nio.file.Files.createTempDirectory("ugb")
    // word-initial 'th' is great (▁th −1.0), internal 'th' is terrible
    // (−9.0) — the r15 collapsed projection kept only max(−1, −9) = −1
    // for BOTH positions
    java.nio.file.Files.writeString(tmp.resolve("b.vocab"),
      "<unk>\t0.0\n▁\t-2.0\n▁th\t-1.0\nth\t-9.0\ne\t-2.0\nt\t-2.5\n" +
        "h\t-2.5\na\t-2.0\nm\t-2.5\nma\t-3.0\n▁ma\t-6.0\n")
    val art = Unigram.readVocab(tmp.resolve("b.vocab").toString,
      preserveMarkers = true)
    val (pieces, floatScaled) = (art.pieces, art.floatScaled)
    assert(floatScaled)
    // markers survive the parse, variants keep their own scores
    val pm = pieces.toMap
    assert(pm("▁th") == -1000000L && pm("th") == -9000000L)
    val df = Seq((1L, "the math")).toDF("doc_id", "text")
    val out = Unigram.encode(df, "text", "doc_id", pieces,
      unk = -10000000L, boundary = true).collect()(0)
    // "the": word-initial th uses the cheap ▁th (−1) + e = −3;
    // "math": internal th costs −9, so the lattice picks the lone
    // marker + bare pieces: ▁(−2) ma(−3) t(−2.5) h(−2.5) = −10, beating
    // ▁ma t h (−11) and anything through internal th — the positional
    // scores decide, not the collapsed max
    assert(out.getString(1) == "▁th e | ▁ ma t h", out.getString(1))
    // CURATE: the boundary knob loads markers and encodes positionally
    val piped = graft.dsl.CuratePipeline.compile(df,
      s"""{"stages": [{"op": "tokenize", "algo": "unigram",
           "pieces_path": "${tmp.resolve("b.vocab")}",
           "boundary": true}]}""")
      .collect()(0)
    assert(piped.getAs[Long]("n_ug_tokens") == 6L)
    // without boundary: the collapsed projection (r15 behavior) still
    // available — 'th' collapses to the optimistic −1 everywhere
    val flat = Unigram.encode(df, "text", "doc_id",
      Unigram.readVocab(tmp.resolve("b.vocab").toString).pieces,
      unk = -10000000L).collect()(0)
    assert(flat.getString(1).contains("th"), flat.getString(1))
  }

  test("unigram boundary Viterbi: randomized equivalence vs brute-force " +
      "segmentation enumeration — 50 trials, marked/bare vocabs (r16)") {
    import spark.implicits._
    import graft.operators.Unigram
    val rnd = new scala.util.Random(16082026L)
    // brute force: every segmentation of ▁+word, max total score, ties
    // by the kernel's backpointer preference (longest last piece, then
    // recursively leftward) — encoded as the reversed-lengths string
    def best(word: String, vocab: Map[String, Long], unk: Long): Seq[String] = {
      val s = "▁" + word
      def go(pos: Int): Seq[(List[String], Long, String)] =
        if (pos == s.length) Seq((Nil, 0L, ""))
        else (1 to math.min(4, s.length - pos)).flatMap { l =>
          val p = s.substring(pos, pos + l)
          val sc = vocab.get(p).orElse(if (l == 1) Some(unk) else None)
          sc.toSeq.flatMap { w =>
            go(pos + l).map { case (ps, tot, rl) =>
              (p :: ps, tot + w, rl + l.toString) }
          }
        }
      // rl accumulates suffix-first (the recursion appends the CURRENT
      // piece's length after the suffix's), i.e. already right-to-left
      // — exactly the kernel's backpointer walk order
      go(0).maxBy { case (_, tot, rl) => (tot, rl) }._1
    }
    val alpha = "abc"
    for (trial <- 1 to 50) {
      // random marked/bare vocab with independent scores
      val pieces = scala.collection.mutable.Map[String, Long]()
      alpha.foreach { c => pieces(c.toString) = -(1 + rnd.nextInt(9)).toLong * 1000000L }
      pieces("▁") = -(1 + rnd.nextInt(9)).toLong * 1000000L
      for (_ <- 1 to 6) {
        val core = (1 to (1 + rnd.nextInt(3)))
          .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
        val p = (if (rnd.nextBoolean()) "▁" else "") + core
        pieces(p) = -(1 + rnd.nextInt(12)).toLong * 1000000L
      }
      val unk = -(10 + rnd.nextInt(5)).toLong * 1000000L
      val words = Seq.fill(6)((1 to (1 + rnd.nextInt(5)))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
      val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val got = Unigram.encode(df, "text", "doc_id", pieces.toSeq.sortBy(_._1),
        unk, lower = false, boundary = true).collect()(0).getString(1)
      val want = words.map(w => best(w, pieces.toMap, unk).mkString(" "))
        .mkString(" | ")
      assert(got == want,
        s"trial $trial diverged\n vocab=$pieces unk=$unk\n words=$words\n" +
          s" kernel=$got\n brute=$want")
    }
  }

  test("unigram byte-fallback Viterbi: randomized equivalence vs brute-force " +
      "enumeration — OOV chars decompose into UTF-8 byte pieces, 2/3/4-byte " +
      "code points included (r17)") {
    import spark.implicits._
    import graft.operators.Unigram
    val rnd = new scala.util.Random(17082026L)
    def cps(s: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.result()
    }
    def bytePieces(cp: String, bs: Array[Long]): (Seq[String], Long) = {
      val bytes = cp.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      (bytes.toSeq.map(b => "<0x" + "%02X".format(b & 0xff) + ">"),
        bytes.map(b => bs(b & 0xff)).sum)
    }
    // brute force over CODE POINTS of ▁+word: piece edges from the
    // vocab, plus — for a single code point NO piece covers — its byte
    // decomposition; same (score, reversed-lengths) tie-break as the
    // r16 boundary spec
    def best(word: String, vocab: Map[String, Long], bs: Array[Long]): Seq[String] = {
      val s = cps("▁" + word)
      def go(pos: Int): Seq[(List[String], Long, String)] =
        if (pos == s.length) Seq((Nil, 0L, ""))
        else (1 to math.min(4, s.length - pos)).flatMap { l =>
          val p = s.slice(pos, pos + l).mkString
          val edge: Option[(Seq[String], Long)] =
            vocab.get(p).map(w => (Seq(p), w))
              .orElse(if (l == 1 && !vocab.contains(p))
                Some(bytePieces(p, bs)) else None)
          edge.toSeq.flatMap { case (emit, w) =>
            go(pos + l).map { case (ps, tot, rl) =>
              (emit.toList ::: ps, tot + w, rl + l.toString) }
          }
        }
      go(0).maxBy { case (_, tot, rl) => (tot, rl) }._1
    }
    val alpha = "abc"
    // 2-byte (ä), 3-byte (€) and 4-byte ASTRAL (𝄞 U+1D11E) OOV chars
    val oov = Vector("ä", "€", new String(Character.toChars(0x1D11E)))
    for (trial <- 1 to 40) {
      val pieces = scala.collection.mutable.Map[String, Long]()
      alpha.foreach { c =>
        pieces(c.toString) = -(1 + rnd.nextInt(9)).toLong * 1000000L }
      pieces("▁") = -(1 + rnd.nextInt(9)).toLong * 1000000L
      for (_ <- 1 to 6) {
        val core = (1 to (1 + rnd.nextInt(3)))
          .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
        pieces((if (rnd.nextBoolean()) "▁" else "") + core) =
          -(1 + rnd.nextInt(12)).toLong * 1000000L
      }
      val bs = Array.fill(256)(-(3 + rnd.nextInt(8)).toLong * 500000L)
      val words = Seq.fill(6)((1 to (1 + rnd.nextInt(5))).map { _ =>
        if (rnd.nextInt(4) == 0) oov(rnd.nextInt(oov.length))
        else alpha(rnd.nextInt(alpha.length)).toString
      }.mkString)
      val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val enc = Unigram.encode(df, "text", "doc_id",
        pieces.toSeq.sortBy(_._1), unk = -99000000L, lower = false,
        boundary = true, byteScores = Some(bs)).collect()(0)
      val got = enc.getString(1)
      val wantPieces = words.map(w => best(w, pieces.toMap, bs))
      val want = wantPieces.map(_.mkString(" ")).mkString(" | ")
      assert(got == want,
        s"trial $trial diverged\n vocab=$pieces\n words=$words\n" +
          s" kernel=$got\n brute=$want")
      // n_syms counts each byte piece (the id-stream length contract)
      assert(enc.getLong(2) == wantPieces.map(_.size).sum.toLong)
    }
    // the DSL path: a pieces_path artifact carrying the full byte table
    // engages fallback and byte pieces receive stable ids
    val tmp = java.nio.file.Files.createTempDirectory("ugbfdsl")
    val rows = Seq("▁\t-2.0", "a\t-3.0", "b\t-3.5") ++
      (0 until 256).map(b => "<0x" + "%02X".format(b) + ">\t-6.0")
    java.nio.file.Files.writeString(tmp.resolve("bf.vocab"),
      rows.mkString("\n") + "\n")
    val out = graft.dsl.CuratePipeline.compile(
      Seq((1L, "ab ä")).toDF("doc_id", "text"),
      s"""{"stages": [{"op": "tokenize", "algo": "unigram",
           "boundary": true,
           "pieces_path": "${tmp.resolve("bf.vocab")}"}]}""")
    val r = out.select("token_ids", "n_ug_tokens").collect()(0)
    // "ab" → ▁ a b (3 symbols); "ä" → ▁ + 2 byte pieces (3 symbols)
    assert(r.getLong(1) == 6L, r.toString)
    // every symbol resolved to a real id — byte pieces are in the id
    // vocabulary, so no -1 (OOV id) appears
    assert(r.getSeq[Long](0).forall(_ >= 0L), r.toString)
    // a PARTIAL <0xNN> set does NOT engage fallback: those rows stay
    // literal text pieces (a code/hexdump corpus can learn them) and
    // the artifact parses exactly as it did pre-r17
    val partial = Unigram.parseVocabArtifact(
      "▁\t-2.0\na\t-3.0\n<0x41>\t-4.0\n<0xFF>\t-4.5\n")
    assert(partial.byteScores.isEmpty)
    assert(partial.pieces.exists(_._1 == "<0x41>"), partial.pieces)
  }

  test("unigram pieces_path float .vocab: default unk lands in the FILE's " +
      "units (r16) — OOV competition is no longer 1000× distorted") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ugunk")
    // float scores → weights quantize at 1e6/nat: a = −2, aza = −18
    java.nio.file.Files.writeString(tmp.resolve("f.vocab"),
      "<unk>\t0.0\na\t-2.0\naza\t-18.0\n")
    val df = Seq((1L, "aza")).toDF("doc_id", "text")
    def toks(extra: String): Long = graft.dsl.CuratePipeline.compile(df,
      s"""{"stages": [{"op": "tokenize", "algo": "unigram",
           "pieces_path": "${tmp.resolve("f.vocab")}"$extra}]}""")
      .collect()(0).getAs[Long]("n_ug_tokens")
    // default unk = −10 nats in FILE units (−10e6): the a|z|a path
    // scores −2−10−2 = −14 nats, beating the terrible −18 piece —
    // SentencePiece's semantics (unk is a rare-piece score, not a
    // lexicographic floor)
    assert(toks("") == 3L)
    // the old cross-scale default (−10·10⁹ = −10000 nats here) made
    // any OOV path unbeatable and flipped this word to the one piece;
    // an EXPLICIT unk is still honored verbatim
    assert(toks(""", "unk": -10000000000""") == 1L)
    // trainer-scale integer artifacts keep the trainer default: same
    // shape at 1e9 units per nat — piece −18e9, char −2e9, unk −10e9
    java.nio.file.Files.writeString(tmp.resolve("i.vocab"),
      "a\t-2000000000\naza\t-18000000000\n")
    val intToks = graft.dsl.CuratePipeline.compile(df,
      s"""{"stages": [{"op": "tokenize", "algo": "unigram",
           "pieces_path": "${tmp.resolve("i.vocab")}"}]}""")
      .collect()(0).getAs[Long]("n_ug_tokens")
    assert(intToks == 3L)
    // and the scale flag itself
    assert(graft.operators.Unigram.readVocab(
      tmp.resolve("f.vocab").toString).floatScaled)
    assert(!graft.operators.Unigram.readVocab(
      tmp.resolve("i.vocab").toString).floatScaled)
  }

  test("byte-bpe: merge replay is symbol-boundary-aware (r16): a pattern " +
      "never fires inside a longer right symbol; repeats reach fixpoint") {
    import spark.implicits._
    // rank 0 builds 'he'; rank 1 is (t,h) — the pre-fix bare-string
    // replace matched 't h' inside 't he' and corrupted to 'the'
    val merges = Seq(("h", "e"), ("t", "h"))
    val out = ByteBpe.encode(Seq((1L, "the")).toDF("doc_id", "text"),
      "text", "doc_id", merges).collect()(0)
    assert(out.getString(1) == "t he" && out.getLong(2) == 2L, out)
    // back-to-back applications of ONE merge share a delimiter — the
    // single replace pass catches alternate pairs only; the fixpoint
    // loop finishes the job exactly like lowest-rank-first BPE
    val rep = ByteBpe.encode(Seq((1L, "aaaa")).toDF("doc_id", "text"),
      "text", "doc_id", Seq(("a", "a"))).collect()(0)
    assert(rep.getString(1) == "aa aa" && rep.getLong(2) == 2L, rep)
    // and ids stay total under both
    val ids = ByteBpe.encodeIds(Seq((1L, "the aaaa")).toDF("doc_id", "text"),
      "text", "doc_id", Seq(("h", "e"), ("t", "h"), ("a", "a"))).collect()(0)
    assert(ids.getSeq[Long](1).forall(i => i < 256 + 3))
  }

  test("byte-bpe: randomized replay equivalence (r16) — the boundary-aware " +
      "fixpoint kernel == reference lowest-rank-first BPE, 40 trials") {
    import spark.implicits._
    import graft.functions.ByteBpeExprs
    import org.apache.spark.unsafe.types.UTF8String
    // the published GPT-2 merge algorithm, implemented independently:
    // repeatedly find the lowest-rank adjacent pair and merge its
    // leftmost occurrence, until no pair is in the table
    def refBpe(piece: String, rank: Map[(String, String), Int]): Seq[String] = {
      val mapped = ByteBpeExprs.b2uKernel(UTF8String.fromString(piece)).toString
      val syms = scala.collection.mutable.ArrayBuffer(
        mapped.map(_.toString): _*)
      var go = true
      while (go && syms.length > 1) {
        var best = Int.MaxValue; var bi = -1
        var i = 0
        while (i < syms.length - 1) {
          val rk = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
          if (rk < best) { best = rk; bi = i }
          i += 1
        }
        if (bi < 0) go = false
        else { syms(bi) = syms(bi) + syms(bi + 1); syms.remove(bi + 1) }
      }
      syms.toSeq
    }
    val rnd = new scala.util.Random(20260816L)
    val alpha = "abcé" // é exercises the multi-byte mapping
    for (trial <- 1 to 40) {
      val words = Seq.fill(24)((1 to (1 + rnd.nextInt(7)))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
      val corpus = words.mkString(" ")
      val df = Seq((1L, corpus)).toDF("doc_id", "text")
      // trained tables are well-formed by construction (products of
      // earlier merges only) — the regime the fixpoint argument covers
      val merges = ByteBpe.trainMerges(df, "text",
          nMerges = 2 + rnd.nextInt(6), minCount = 1L)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      if (merges.nonEmpty) {
        val rank = merges.zipWithIndex.toMap
        val got = ByteBpe.encode(df, "text", "doc_id", merges)
          .collect()(0).getString(1)
        // reference: pre-tokenize exactly like the kernel, replay each
        // piece with true BPE, flatten with the same space join
        val pieces = {
          val a = ByteBpeExprs.gpt2SplitKernel(UTF8String.fromString(corpus))
          (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
        }
        val want = pieces.flatMap(p => refBpe(p, rank)).mkString(" ")
        assert(got == want,
          s"trial $trial diverged\n merges=$merges\n corpus=$corpus\n" +
            s" kernel=$got\n ref=$want")
      }
    }
  }

  test("byte-bpe: bytes→unicode bijection matches the published GPT-2 table; total roundtrip") {
    // the published anchors: printable ASCII self-maps, the excluded
    // bytes take 256+k — space→Ġ, \n→Ċ, \t→ĉ, DEL→ġ, NBSP-byte→ł, AD→Ń
    assert(ByteBpeExprs.byteToChar('A'.toInt) == 'A')
    assert(ByteBpeExprs.byteToChar(32) == 'Ġ') // Ġ
    assert(ByteBpeExprs.byteToChar(10) == 'Ċ') // Ċ
    assert(ByteBpeExprs.byteToChar(9) == 'ĉ')  // ĉ
    assert(ByteBpeExprs.byteToChar(0) == 'Ā')  // Ā
    assert(ByteBpeExprs.byteToChar(127) == 'ġ') // 34th excluded → 256+33
    assert(ByteBpeExprs.byteToChar(160) == 'ł') // ł
    assert(ByteBpeExprs.byteToChar(173) == 'Ń') // Ń
    assert(ByteBpeExprs.byteToChar(195) == 'Ã')      // self: [174,255]
    assert(ByteBpeExprs.byteToChar(164) == '¤')      // self: [161,172]
    // bijection: all 256 distinct, inverse closes
    assert(ByteBpeExprs.byteToChar.distinct.length == 256)
    (0 until 256).foreach { b =>
      assert(ByteBpeExprs.charToByte(ByteBpeExprs.byteToChar(b)) == b)
    }
    // u2b(b2u) is identity on arbitrary UTF-8 text
    val s = "naïve Ω 中文 🚀 tab\tnl\n"
    assert(ByteBpeExprs.u2bKernel(ByteBpeExprs.b2uKernel(
      UTF8String.fromString(s))).toString == s)
    // u2b is loud on a char outside the table
    intercept[IllegalArgumentException] {
      ByteBpeExprs.u2bKernel(UTF8String.fromString("Ā中"))
    }
  }

  test("byte-bpe: pre-tokenizer hand-derived GPT-2 cases") {
    assert(kernelSplit("Hello world") == Seq("Hello", " world"))
    // contraction splits; 3-space run yields its last space to the glue
    assert(kernelSplit("it's   done.") ==
      Seq("it", "'s", "  ", " done", "."))
    // case-sensitive contractions: 'T does NOT match (the GPT-2 quirk)
    assert(kernelSplit("don't DON'T") == Seq("don", "'t", " DON", "'", "T"))
    // \p{N} covers Nd, No (² ½) — digits and letters never share a run
    assert(kernelSplit("café 2² ½x") == Seq("café", " 2²", " ½", "x"))
    // single tab stands alone (only a literal space glues)
    assert(kernelSplit("a\tb") == Seq("a", "\t", "b"))
    // trailing whitespace is one piece (the (?!\S) arm)
    assert(kernelSplit("x  ") == Seq("x", "  "))
    // NBSP is whitespace but not a gluing space
    assert(kernelSplit("x \u00a0y") == Seq("x", " ", "\u00a0", "y"))
    // astral letters (Lu) join letter runs; emoji (So) are "other"
    assert(kernelSplit("𝔘nicode") == Seq("𝔘nicode"))
    assert(kernelSplit("🚀🚀 !") ==
      Seq("🚀🚀", " !"))
    assert(kernelSplit("") == Seq.empty)
    // every alternative's concatenation covers the input exactly
    assert(kernelSplit("it's   done.").mkString == "it's   done.")
  }

  test("byte-bpe: randomized pre-tokenizer equivalence — 400 trials vs the literal regex") {
    val rnd = new scala.util.Random(20260815L)
    // a deliberately nasty alphabet: gluing/non-gluing whitespace,
    // contraction fragments, astral letters/digits, emoji, marks
    val alpha: Array[String] = Array(
      "a", "b", "e", "l", "r", "s", "t", "v", "d", "m", "N", "'",
      " ", " ", " ", "\t", "\n", "\u00a0", "\u2007", "\u001c",
      "é", "ß", "Ω", "中", "²", "½", "٣", "3", "!", ",", ".", "-",
      "𝔘", "𝟜", "🚀")
    (1 to 400).foreach { trial =>
      val len = rnd.nextInt(31)
      val s = (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val got = kernelSplit(s)
      val want = refSplit(s)
      assert(got == want,
        s"trial $trial ${s.map(c => f"U+${c.toInt}%04X").mkString(",")}: " +
          s"got $got want $want")
      assert(got.mkString == s, s"trial $trial: pieces must cover the input")
    }
  }

  test("byte-bpe: encode/ids/decode — lossless roundtrip, closed vocab, no UNK") {
    val merges = Seq("Ã" -> "©", "Ġ" -> "t", "Ġt" -> "h", "e" -> "r")
    val patterns = merges.map { case (l, r) => s"$l $r" }.toArray
    val repls = merges.map { case (l, r) => l + r }.toArray
    val products = merges.map { case (l, r) => l + r }
    val prodIds = new java.util.HashMap[String, java.lang.Long]
    products.zipWithIndex.foreach { case (p, i) =>
      prodIds.put(p, java.lang.Long.valueOf(256L + i))
    }
    val rnd = new scala.util.Random(42L)
    val alpha = Array("t", "h", "e", "r", " ", "é", "中", "\n", "'s",
      "🚀", "2")
    (1 to 200).foreach { trial =>
      val s = (0 until rnd.nextInt(40)).map(_ =>
        alpha(rnd.nextInt(alpha.length))).mkString
      val enc = ByteBpeExprs.byteBpeEncodeKernel(
        UTF8String.fromString(s), patterns, repls)
      val encStr = enc.getUTF8String(0)
      // textual decode inverts
      assert(ByteBpeExprs.byteBpeDecodeKernel(encStr).toString == s,
        s"trial $trial: textual roundtrip")
      // ids are total (no UNK) and decode byte-for-byte
      val ids = ByteBpeExprs.byteBpeIdsKernel(encStr, prodIds)
      assert(ids.numElements() == enc.getInt(1), "n_syms == ids length")
      val back = ByteBpeExprs.byteBpeDecodeIdsKernel(ids, products.toArray)
      assert(back.toString == s, s"trial $trial: ids roundtrip")
      (0 until ids.numElements()).foreach { i =>
        val id = ids.getLong(i)
        assert(id >= 0 && id < 256 + products.size, s"id $id out of vocab")
      }
    }
    // a known encoding: "the" → Ġ-free piece: t h e → (e r)? no er.
    // "Ġthe" inside " the": Ġ t → Ġt, then Ġt h → Ġth, e stays
    val enc2 = ByteBpeExprs.byteBpeEncodeKernel(
      UTF8String.fromString("a the"), patterns, repls)
    assert(enc2.getUTF8String(0).toString == "a Ġth e")
    assert(enc2.getInt(1) == 3)
    // decode is loud on an out-of-vocab id
    intercept[IllegalArgumentException] {
      ByteBpeExprs.byteBpeDecodeIdsKernel(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array[Any](999L)), products.toArray)
    }
  }

  test("byte-bpe: codegen == interpreted over a DataFrame; merges never cross pieces") {
    val s = spark
    import s.implicits._
    val merges = Seq("e" -> "r", "Ġ" -> "w")
    val rows = Seq("water er", "the river", "érrr", "x\ty er").toDF("text")
      .withColumn("doc_id", monotonically_increasing_id())
    val out = ByteBpe.encodeIds(rows, "text", "doc_id", merges)
      .join(rows, "doc_id")
      .withColumn("back",
        graft.functions.ByteBpeExprs.byte_bpe_decode_ids(col("token_ids"), merges))
      .collect()
    out.foreach { r =>
      assert(r.getAs[String]("back") == r.getAs[String]("text"),
        s"roundtrip through the full column API for '${r.getAs[String]("text")}'")
    }
    // "water er": pieces [water][ er]: no merge crosses the boundary —
    // the trailing r of water and the leading Ġ of " er" never fuse
    val enc = ByteBpe.encode(rows.filter(col("text") === "water er"),
      "text", "doc_id", merges).head()
    assert(enc.getAs[String]("bbpe_text") == "w a t er Ġ er")
  }

  test("byte-bpe: CURATE tokenize algo byte_bpe — hand-derived ids; 'lower' rejected loudly") {
    val s = spark
    import s.implicits._
    val df = Seq((0L, "a the")).toDF("doc_id", "text")
    // products: Ã©=256, Ġt=257, Ġth=258, er=259; "a the" →
    // [a][ the] → a | Ġth e → ids [97, 258, 101]
    val out = graft.dsl.CuratePipeline.compile(df,
      """{"stages": [{"op": "tokenize", "algo": "byte_bpe",
           "merges": [["Ã","©"], ["Ġ","t"], ["Ġt","h"], ["e","r"]]}]}""")
      .head()
    assert(out.getAs[scala.collection.Seq[Long]]("token_ids").toSeq ==
      Seq(97L, 258L, 101L))
    assert(out.getAs[Long]("n_bbpe_tokens") == 3L)
    // byte-level is case-preserving by contract: 'lower' must not be
    // silently ignored
    val e = intercept[IllegalArgumentException] {
      graft.dsl.CuratePipeline.compile(df,
        """{"stages": [{"op": "tokenize", "algo": "byte_bpe",
             "lower": true, "merges": [["e","r"]]}]}""")
    }
    assert(e.getMessage.contains("case-preserving"))
  }

  test("byte-bpe: encodeIds plans MAP-ONLY — no exchange at any corpus size") {
    val s = spark
    import s.implicits._
    val df = Seq((0L, "some text"), (1L, "more text")).toDF("doc_id", "text")
    val plan = graft.operators.ByteBpe
      .encodeIds(df, "text", "doc_id", Seq("e" -> "r"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"byte-bpe encode must not shuffle:\n$plan")
    // the closed vocabulary means NO corpus pass either: the plan has
    // exactly one scan of the input
    assert("LocalTableScan|Scan".r.findAllIn(plan).size <= 2, plan)
  }

  test("byte-bpe: train → writeMerges artifact → CURATE merges_path replays inline exactly") {
    val s = spark
    import s.implicits._
    val corpus = Seq((0L, "the cat the hat"), (1L, "the bat"))
      .toDF("doc_id", "text")
    val merges = graft.operators.ByteBpe.trainMerges(corpus, "text", 4,
      minCount = 1L)
    val path = java.nio.file.Files.createTempDirectory("graft-bbpe")
      .resolve("merges.txt").toString
    graft.operators.Bpe.writeMerges(merges, path)
    val written = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    assert(written.startsWith("#") && written.trim.split("\n").length == 5)
    val inline = merges.orderBy("rank").collect()
      .map(r => s"""["${r.getString(1)}","${r.getString(2)}"]""").mkString(",")
    val viaPath = graft.dsl.CuratePipeline.compile(corpus,
      s"""{"stages": [{"op": "tokenize", "algo": "byte_bpe",
           "merges_path": "$path"}]}""")
      .orderBy("doc_id").collect()
      .map(r => r.getAs[scala.collection.Seq[Long]]("token_ids").toSeq)
    val viaInline = graft.dsl.CuratePipeline.compile(corpus,
      s"""{"stages": [{"op": "tokenize", "algo": "byte_bpe",
           "merges": [$inline]}]}""")
      .orderBy("doc_id").collect()
      .map(r => r.getAs[scala.collection.Seq[Long]]("token_ids").toSeq)
    assert(viaPath.toSeq == viaInline.toSeq)
    assert(viaPath.forall(_.nonEmpty))
  }

  test("byte-bpe: batched training equals sequential over tie-dense random corpora") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(20260815L)
    // tiny alphabet + spaces → heavy count ties; Ġ symbols exercise
    // multi-byte UTF-8 tie ordering in the (count, left, right) rank
    (1 to 6).foreach { trial =>
      val words = Array("ab", "aab", "ba", "abab", "bb", "aa")
      val text = (0 until 30 + rnd.nextInt(40))
        .map(_ => words(rnd.nextInt(words.length))).mkString(" ")
      val df = Seq(text).toDF("text")
      val seq1 = graft.operators.ByteBpe
        .trainMerges(df, "text", 8, minCount = 1L, batch = 1).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      val seq4 = graft.operators.ByteBpe
        .trainMerges(df, "text", 8, minCount = 1L, batch = 4).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      assert(seq1.toSeq == seq4.toSeq,
        s"trial $trial: batch=4 diverged from sequential\n${seq1.toSeq}\n${seq4.toSeq}")
    }
  }

  test("byte-bpe: trainer over byte-mapped pre-tokens — hand-derived merges, Ġ-aware") {
    val s = spark
    import s.implicits._
    val df = Seq("aa aa aa ab").toDF("text")
    // pre-tokens: [aa][ aa][ aa][ ab] → distinct: (aa,1) (Ġaa,2) (Ġab,1)
    // pairs: (a,a)=3, (Ġ,a)=3, (a,b)=1 — tie broken left ASC: 'a' < 'Ġ'
    // merge 0 = (a,a,3); then (Ġ,aa)=2 outranks (Ġ,a)=1, (a,b)=1
    val m = ByteBpe.trainMerges(df, "text", 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq == Seq((0, "a", "a", 3L), (1, "Ġ", "aa", 2L)))
    // the closed vocab artifact: 256 byte rows + the two products
    val v = ByteBpe.vocab(s, Seq("a" -> "a", "Ġ" -> "aa"))
    assert(v.count() == 258)
    assert(v.filter(col("kind") === "merge").orderBy("token_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((256L, "aa"), (257L, "Ġaa")))
    assert(v.filter(col("symbol") === "Ġ").head().getLong(0) == 32L)
  }
}
