package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level BPE kernels — the GPT-2 tokenizer family (Radford et al.
  * 2019; the public `openai/gpt-2` encoder contract, also what the
  * Llama-2/3, GPT-NeoX and RoBERTa vocabularies ship). Two public
  * pieces compose it:
  *
  *  1. a PRE-TOKENIZER that splits text into pieces before any merge
  *     can apply (so merges never cross a word/space boundary): the
  *     GPT-2 pattern
  *     `'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+`
  *     — contractions split off, a single leading space glues onto the
  *     following run, interior whitespace runs yield their last char to
  *     the next piece. [[gpt2SplitKernel]] is a hand-rolled scanner
  *     with exactly those semantics (no regex engine in the hot path);
  *     ByteBpeSpec replays it against `java.util.regex` with the
  *     literal pattern over randomized inputs.
  *  2. a BYTES→UNICODE bijection so every UTF-8 byte is one printable
  *     char and the char-level merge machinery applies unchanged:
  *     printable bytes map to themselves, the 68 others to 256+k. The
  *     base vocabulary is therefore CLOSED (exactly 256 symbols, ids =
  *     byte values) — encoding is total (no UNK, ever) and decoding is
  *     lossless byte-for-byte, the property this family exists for.
  *
  * Whitespace in the pre-tokenizer is the Unicode White_Space-ish union
  * `Character.isWhitespace || Character.isSpaceChar` (covers NBSP and
  * the control gaps Java's default `\s` misses); the reference pattern
  * in the spec uses `[\p{javaWhitespace}\p{javaSpaceChar}]` so both
  * sides pin the same class. No lowercasing anywhere — byte-level BPE
  * is case-preserving by contract (losslessness).
  *
  * All kernels are static (top-level object → static forwarders) so the
  * expressions stay inside WholeStageCodegen — the [[TextExprs]] stance.
  */
object ByteBpeExprs {

  // ---------------------------------------------------- byte bijection

  /** byte value → mapped char: [33,126] ∪ [161,172] ∪ [174,255] map to
    * themselves, the remaining 68 bytes to 256+k in ascending byte
    * order (0x20 ' ' → U+0120 'Ġ', 0x0A '\n' → U+010A 'Ċ'). */
  val byteToChar: Array[Char] = {
    val out = new Array[Char](256)
    var k = 0
    var b = 0
    while (b < 256) {
      if ((b >= 33 && b <= 126) || (b >= 161 && b <= 172) || (b >= 174 && b <= 255))
        out(b) = b.toChar
      else { out(b) = (256 + k).toChar; k += 1 }
      b += 1
    }
    out
  }

  /** mapped char code → byte value, −1 for chars outside the table
    * (dense: the largest mapped char is 256+67 = U+0143) */
  val charToByte: Array[Int] = {
    val out = Array.fill(256 + 68)(-1)
    var b = 0
    while (b < 256) { out(byteToChar(b)) = b; b += 1 }
    out
  }

  /** UTF-8 bytes of `s` → one mapped char per byte */
  def b2uKernel(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val sb = new java.lang.StringBuilder(bytes.length + (bytes.length >> 2))
    var i = 0
    while (i < bytes.length) { sb.append(byteToChar(bytes(i) & 0xff)); i += 1 }
    UTF8String.fromString(sb.toString)
  }

  /** inverse of [[b2uKernel]]: every char must be a mapped byte — loud
    * otherwise (a silent skip would un-losslessly decode) */
  def u2bKernel(s: UTF8String): UTF8String = {
    val str = s.toString
    val out = new Array[Byte](str.length)
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i).toInt
      val b = if (c < charToByte.length) charToByte(c) else -1
      if (b < 0) throw new IllegalArgumentException(
        f"byte_bpe decode: char U+$c%04X is not a mapped byte")
      out(i) = b.toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  // ----------------------------------------------------- pre-tokenizer

  @inline private def isWsCp(cp: Int): Boolean =
    Character.isWhitespace(cp) || Character.isSpaceChar(cp)

  /** \p{N} = Nd ∪ Nl ∪ No (decimal, letter-number, other-number) */
  @inline private def isNumCp(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
      t == Character.OTHER_NUMBER
  }

  /** piece class for the three ` ?X+` run alternatives */
  @inline private def runClass(cp: Int): Int =
    if (Character.isLetter(cp)) 0 else if (isNumCp(cp)) 1 else 2

  /** length of a contraction alternative starting at `i` (which holds
    * `'`), 0 if none — the literal, case-sensitive 's|'t|'re|'ve|'m|'ll|'d */
  private def contractionLen(str: String, i: Int): Int = {
    val n = str.length
    if (i + 1 >= n) return 0
    str.charAt(i + 1) match {
      case 's' | 't' | 'm' | 'd' => 2
      case 'r' | 'v' => if (i + 2 < n && str.charAt(i + 2) == 'e') 3 else 0
      case 'l' => if (i + 2 < n && str.charAt(i + 2) == 'l') 3 else 0
      case _ => 0
    }
  }

  /** GPT-2 pre-tokenization: the leftmost-alternation scan of the
    * pattern, hand-rolled. Code-point iteration throughout (astral
    * letters are single \p{L}s); whitespace chars are all BMP so the
    * ws-run arithmetic is char-indexed safely. */
  def gpt2SplitKernel(s: UTF8String): ArrayData = {
    val str = s.toString
    val n = str.length
    val out = new java.util.ArrayList[UTF8String](16)
    var i = 0
    while (i < n) {
      val c = str.charAt(i)
      val contr = if (c == '\'') contractionLen(str, i) else 0
      if (contr > 0) {
        out.add(UTF8String.fromString(str.substring(i, i + contr)))
        i += contr
      } else {
        val cp = str.codePointAt(i)
        if (!isWsCp(cp)) {
          // ` ?X+` with the optional space absent: maximal same-class run
          val cls = runClass(cp)
          var j = i
          while (j < n && {
            val q = str.codePointAt(j); !isWsCp(q) && runClass(q) == cls
          }) j += Character.charCount(str.codePointAt(j))
          out.add(UTF8String.fromString(str.substring(i, j)))
          i = j
        } else if (c == ' ' && i + 1 < n && !isWsCp(str.codePointAt(i + 1))) {
          // ` ?X+` glue: one literal space folds into the following run
          val cls = runClass(str.codePointAt(i + 1))
          var j = i + 1
          while (j < n && {
            val q = str.codePointAt(j); !isWsCp(q) && runClass(q) == cls
          }) j += Character.charCount(str.codePointAt(j))
          out.add(UTF8String.fromString(str.substring(i, j)))
          i = j
        } else {
          // whitespace run: `\s+(?!\S)` yields its last char to a
          // following piece (re-scanned — a space glues, another ws
          // char stands alone via the final `\s+`); at end-of-text the
          // whole run is one piece
          var e = i
          while (e < n && isWsCp(str.codePointAt(e))) e += 1
          if (e == n || e - i == 1) {
            out.add(UTF8String.fromString(str.substring(i, e)))
            i = e
          } else {
            out.add(UTF8String.fromString(str.substring(i, e - 1)))
            i = e - 1
          }
        }
      }
    }
    new GenericArrayData(out.toArray)
  }

  // ---------------------------------------------------- encode kernels

  /** byte-level BPE encode: pre-tokenize, byte-map each piece, replay
    * the merge table per piece (merges never cross piece boundaries),
    * flatten to one space-joined symbol stream. Symbols never contain
    * a literal space (byte 0x20 maps to Ġ) so the flat join is
    * unambiguous and [[byteBpeDecodeKernel]] inverts it exactly. */
  def byteBpeEncodeKernel(s: UTF8String, patterns: Array[String],
      repls: Array[String]): InternalRow = {
    val pieces = gpt2SplitKernel(s)
    val sb = new java.lang.StringBuilder
    var nSyms = 0
    var w = 0
    val nw = pieces.numElements()
    while (w < nw) {
      val bytes = pieces.getUTF8String(w).getBytes
      // sentinel spaces at both ends: every symbol is space-DELIMITED,
      // so the boundary-aware patterns " l r " can never match the
      // PREFIX of a longer right symbol (" Ġ t " must not fire inside
      // " Ġ th ") — the r16 fix; the old bare "l r" replace could
      // merge across symbol boundaries on vocabularies where one
      // symbol extends another
      val spaced = new java.lang.StringBuilder(bytes.length * 2 + 2)
      spaced.append(' ')
      var i = 0
      while (i < bytes.length) {
        spaced.append(byteToChar(bytes(i) & 0xff)).append(' ')
        i += 1
      }
      var enc = spaced.toString
      var m = 0
      while (m < patterns.length) {
        // per-merge fixpoint: one replace pass consumes the shared
        // delimiter of back-to-back applications (" a a a a " matches
        // once, not twice), so repeat until the length is stable —
        // with rank order this replays true BPE exactly on any
        // well-formed artifact (products only of earlier merges)
        var prevLen = -1
        while (enc.length != prevLen) {
          prevLen = enc.length
          enc = enc.replace(patterns(m), repls(m))
        }
        m += 1
      }
      var spaces = 0
      var j = 1
      val encEnd = enc.length - 1
      while (j < encEnd) { if (enc.charAt(j) == ' ') spaces += 1; j += 1 }
      nSyms += spaces + 1
      if (w > 0) sb.append(' ')
      if (encEnd > 1) sb.append(enc, 1, encEnd)
      w += 1
    }
    new GenericInternalRow(Array[Any](UTF8String.fromString(sb.toString), nSyms))
  }

  /** symbol stream → token ids. Total by construction: a symbol is a
    * single mapped char (id = its byte value) or a merge product (id =
    * 256 + rank, resolved through the reference-object map). */
  def byteBpeIdsKernel(enc: UTF8String,
      prodIds: java.util.HashMap[String, java.lang.Long]): ArrayData = {
    val str = enc.toString
    val out = new java.util.ArrayList[AnyRef](32)
    var i = 0
    val n = str.length
    while (i < n) {
      var j = i
      while (j < n && str.charAt(j) != ' ') j += 1
      if (j > i) {
        val id: Long =
          if (j - i == 1 && str.charAt(i) < charToByte.length &&
              charToByte(str.charAt(i)) >= 0)
            charToByte(str.charAt(i)).toLong
          else {
            val sym = str.substring(i, j)
            val v = prodIds.get(sym)
            if (v == null) throw new IllegalArgumentException(
              s"byte_bpe ids: symbol '$sym' is neither a mapped byte nor a merge product")
            v.longValue()
          }
        out.add(java.lang.Long.valueOf(id))
      }
      i = j + 1
    }
    new GenericArrayData(out.toArray)
  }

  /** token ids → original text, byte-for-byte: id < 256 is its byte,
    * id ≥ 256 resolves to its merge product's chars through the
    * reference-object array, then the byte bijection inverts. Loud on
    * an id outside the vocabulary. */
  def byteBpeDecodeIdsKernel(ids: ArrayData, products: Array[String]): UTF8String = {
    val n = ids.numElements()
    val bytes = new java.io.ByteArrayOutputStream(n * 2)
    var i = 0
    while (i < n) {
      val id = ids.getLong(i)
      if (id >= 0 && id < 256) bytes.write(id.toInt)
      else if (id >= 256 && id < 256 + products.length) {
        val p = products(id.toInt - 256)
        var j = 0
        while (j < p.length) {
          val c = p.charAt(j).toInt
          val b = if (c < charToByte.length) charToByte(c) else -1
          if (b < 0) throw new IllegalArgumentException(
            f"byte_bpe decode: product char U+$c%04X is not a mapped byte")
          bytes.write(b)
          j += 1
        }
      } else throw new IllegalArgumentException(
        s"byte_bpe decode: id $id outside the 256+${products.length} vocabulary")
      i += 1
    }
    UTF8String.fromBytes(bytes.toByteArray)
  }

  /** symbol stream → original text (the textual-encoding inverse):
    * drop the separator spaces, invert the byte bijection */
  def byteBpeDecodeKernel(enc: UTF8String): UTF8String = {
    val str = enc.toString
    val bytes = new java.io.ByteArrayOutputStream(str.length)
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i).toInt
      if (c != ' ') {
        val b = if (c < charToByte.length) charToByte(c) else -1
        if (b < 0) throw new IllegalArgumentException(
          f"byte_bpe decode: char U+$c%04X is not a mapped byte")
        bytes.write(b)
      }
      i += 1
    }
    UTF8String.fromBytes(bytes.toByteArray)
  }

  // -------------------------------------------------------- expressions

  case class Gpt2Split(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_gpt2_split"
    override def nullSafeEval(a: Any): Any =
      gpt2SplitKernel(a.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.ByteBpeExprs.gpt2SplitKernel($c);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  case class BytesToUnicode(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_bytes_to_unicode"
    override def nullSafeEval(a: Any): Any = b2uKernel(a.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.ByteBpeExprs.b2uKernel($c);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** whole-text byte-level BPE encode against a fixed merge table — the
    * [[TextExprs.BpeEncode]] stance (reference-object merge arrays,
    * map-only inside WholeStageCodegen) over GPT-2 pre-tokens */
  case class ByteBpeEncode(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression {
    // boundary-aware: the surrounding spaces pin both symbols whole
    private val patterns: Array[String] = merges.map { case (l, r) => s" $l $r " }.toArray
    private val repls: Array[String] = merges.map { case (l, r) => s" ${l + r} " }.toArray
    override def dataType: DataType = TextExprs.BpeEncode.schema
    override def prettyName: String = "graft_byte_bpe_encode"
    override def nullSafeEval(a: Any): Any =
      byteBpeEncodeKernel(a.asInstanceOf[UTF8String], patterns, repls)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val p = ctx.addReferenceObj("bbpePatterns", patterns, "java.lang.String[]")
      val r = ctx.addReferenceObj("bbpeRepls", repls, "java.lang.String[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.ByteBpeExprs.byteBpeEncodeKernel($c, $p, $r);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** symbol stream → ids against the closed 256+merges vocabulary */
  case class ByteBpeIds(child: Expression, products: Seq[String])
      extends UnaryExpression {
    private val prodIds: java.util.HashMap[String, java.lang.Long] = {
      val m = new java.util.HashMap[String, java.lang.Long](
        math.max(16, products.size * 2))
      products.zipWithIndex.foreach { case (p, i) =>
        m.put(p, java.lang.Long.valueOf(256L + i))
      }
      m
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_byte_bpe_ids"
    override def nullSafeEval(a: Any): Any =
      byteBpeIdsKernel(a.asInstanceOf[UTF8String], prodIds)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val m = ctx.addReferenceObj("bbpeProdIds", prodIds, "java.util.HashMap")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.ByteBpeExprs.byteBpeIdsKernel($c, $m);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** ids → text (lossless inverse of encode∘ids) */
  case class ByteBpeDecodeIds(child: Expression, products: Seq[String])
      extends UnaryExpression {
    private val prodArr: Array[String] = products.toArray
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_byte_bpe_decode"
    override def nullSafeEval(a: Any): Any =
      byteBpeDecodeIdsKernel(a.asInstanceOf[ArrayData], prodArr)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val p = ctx.addReferenceObj("bbpeProducts", prodArr, "java.lang.String[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.ByteBpeExprs.byteBpeDecodeIdsKernel($c, $p);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  // ------------------------------------------------- Column-level API

  def gpt2_split(text: Column): Column =
    ColumnBridge.column(Gpt2Split(ColumnBridge.expression(text)))

  def bytes_to_unicode(text: Column): Column =
    ColumnBridge.column(BytesToUnicode(ColumnBridge.expression(text)))

  def byte_bpe_encode(text: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(ByteBpeEncode(ColumnBridge.expression(text), merges))

  def byte_bpe_ids(enc: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(ByteBpeIds(ColumnBridge.expression(enc),
      merges.map { case (l, r) => l + r }))

  def byte_bpe_decode_ids(ids: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(ByteBpeDecodeIds(ColumnBridge.expression(ids),
      merges.map { case (l, r) => l + r }))
}
