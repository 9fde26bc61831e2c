package graft.sources.icechunk

import java.nio.{ByteBuffer, ByteOrder}

/** Hand-rolled FlatBuffers WIRE FORMAT — reader and builder — from the
  * published binary spec (google.github.io/flatbuffers/internals), the
  * same discipline as the EBML/ISO-BMFF demuxers: no generated code, no
  * schema compiler, just the byte layout.
  *
  * Layout recap (all little-endian):
  *  - root: uoffset32 at byte 0 → root table.
  *  - table: starts with soffset32 `s`; its vtable is at `table_pos - s`.
  *    vtable = [vtable_size:u16][table_size:u16][per-slot u16 offset from
  *    table start, 0 = field absent]. Field slot `i` lives at vtable byte
  *    `4 + 2*i`.
  *  - scalars: inline at the field offset. Missing → schema default.
  *  - strings: uoffset → [len:u32][bytes][NUL].
  *  - vectors: uoffset → [len:u32][elements] (elements inline for
  *    scalars/structs, uoffsets for tables/strings).
  *  - structs: inline at the field offset (fixed size, no vtable).
  *  - uoffsets are RELATIVE: target = field_pos + value (targets sit at
  *    higher addresses); soffsets signed: vtable = table_pos - value.
  *
  * The builder grows the buffer BACK-TO-FRONT like the reference
  * implementation (children first at high addresses, referrers prepended
  * below them), so every uoffset is positive by construction. Positions
  * are tracked as end-offsets (distance from buffer end), which are
  * stable under reallocation. Vtables are not deduplicated — the spec
  * permits that (dedup is an optional size optimization).
  *
  * Used for Icechunk snapshot/manifest payloads
  * (reference: beacon-icechunk reads repos via zarrs_icechunk,
  * /root/reference/Cargo.toml:167; the icechunk spec serializes metadata
  * as zstd-compressed flatbuffers).
  */
object FlatBuf {

  // ------------------------------------------------------------ reader

  def root(bytes: Array[Byte]): Table = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    new Table(buf, buf.getInt(0))
  }

  /** the spec's optional 4-byte file identifier (bytes 4..8, right after
    * the root uoffset) — None when the buffer is too short to carry one */
  def identifier(bytes: Array[Byte]): Option[String] =
    if (bytes.length < 8) None
    else Some(new String(bytes, 4, 4, java.nio.charset.StandardCharsets.US_ASCII))

  /** table accessor: field lookup by slot id through the vtable */
  final class Table(val buf: ByteBuffer, val pos: Int) {
    private val vtable = pos - buf.getInt(pos) // soffset
    private val vtSize = buf.getChar(vtable).toInt // u16

    /** absolute position of field `id`'s data, or 0 if absent */
    def fieldPos(id: Int): Int = {
      val at = 4 + 2 * id
      if (at + 2 > vtSize) 0
      else {
        val rel = buf.getChar(vtable + at).toInt // u16, 0 = absent
        if (rel == 0) 0 else pos + rel
      }
    }

    def i32(id: Int, dflt: Int = 0): Int = {
      val p = fieldPos(id); if (p == 0) dflt else buf.getInt(p)
    }
    def i64(id: Int, dflt: Long = 0L): Long = {
      val p = fieldPos(id); if (p == 0) dflt else buf.getLong(p)
    }
    def f64(id: Int, dflt: Double = 0.0): Double = {
      val p = fieldPos(id); if (p == 0) dflt else buf.getDouble(p)
    }
    def bool(id: Int, dflt: Boolean = false): Boolean = {
      val p = fieldPos(id); if (p == 0) dflt else buf.get(p) != 0
    }
    def str(id: Int): Option[String] = {
      val p = fieldPos(id)
      if (p == 0) None
      else {
        val s = p + buf.getInt(p) // uoffset
        val len = buf.getInt(s)
        val out = new Array[Byte](len)
        val dup = buf.duplicate(); dup.position(s + 4); dup.get(out)
        Some(new String(out, java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    def table(id: Int): Option[Table] = {
      val p = fieldPos(id)
      if (p == 0) None else Some(new Table(buf, p + buf.getInt(p)))
    }
    def vector(id: Int): Option[Vec] = {
      val p = fieldPos(id)
      if (p == 0) None else Some(new Vec(buf, p + buf.getInt(p)))
    }
  }

  /** vector accessor: `pos` is the length word */
  final class Vec(buf: ByteBuffer, pos: Int) {
    val length: Int = buf.getInt(pos)
    private val base = pos + 4
    def tableAt(i: Int): Table = {
      val p = base + 4 * i; new Table(buf, p + buf.getInt(p))
    }
    def bytes: Array[Byte] = {
      val out = new Array[Byte](length)
      val dup = buf.duplicate(); dup.position(base); dup.get(out)
      out
    }
  }

  // ----------------------------------------------------------- builder

  /** back-to-front builder. All positions handed out and accepted are
    * END-OFFSETS (distance from the final end of the buffer to the start
    * of the object) — stable under growth, and `uoffset = referrer_end -
    * target_end` is positive by construction. */
  final class Builder {
    private var buf = new Array[Byte](256)
    private var head = buf.length
    private def used: Int = buf.length - head

    private def grow(need: Int): Unit = {
      if (head >= need) return
      var n = buf.length
      while (n - (buf.length - head) < need) n *= 2
      val nb = new Array[Byte](n)
      System.arraycopy(buf, head, nb, n - used, used)
      head = n - used
      buf = nb
    }

    /** pad so that after prepending `size` more bytes the write ends up
      * aligned: (used + size) % align == 0. Absolute addresses are
      * N - endOffset, so finish() also pads N to maxAlign — together
      * they make every aligned end-offset an aligned absolute address. */
    private var maxAlign = 4
    private def prep(size: Int, align: Int): Unit = {
      if (align > maxAlign) maxAlign = align
      grow(size + align)
      while ((used + size) % align != 0) { head -= 1; buf(head) = 0 }
    }
    private def put8(v: Int): Unit = { head -= 1; buf(head) = v.toByte }
    private def put16(v: Int): Unit = {
      head -= 2
      buf(head) = v.toByte; buf(head + 1) = (v >> 8).toByte
    }
    private def put32(v: Int): Unit = {
      head -= 4
      buf(head) = v.toByte; buf(head + 1) = (v >> 8).toByte
      buf(head + 2) = (v >> 16).toByte; buf(head + 3) = (v >> 24).toByte
    }
    private def put64(v: Long): Unit = { put32((v >> 32).toInt); put32(v.toInt) }

    /** vector/string padding goes BEFORE the payload (at higher
      * addresses): the length word must sit immediately below the data,
      * itself 4-aligned, with the data start elemAlign-aligned */
    private def prepVec(payloadBytes: Int, elemAlign: Int): Unit = {
      if (elemAlign > maxAlign) maxAlign = elemAlign
      grow(payloadBytes + 4 + 8 + elemAlign)
      while ((used + payloadBytes + 4) % 4 != 0 ||
        (used + payloadBytes) % elemAlign != 0) { head -= 1; buf(head) = 0 }
    }

    def string(s: String): Int = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      prepVec(b.length + 1, 1)
      put8(0) // NUL terminator
      head -= b.length; System.arraycopy(b, 0, buf, head, b.length)
      put32(b.length)
      used
    }

    /** vector of uoffsets (tables or strings), given their end-offsets */
    def offsetVector(elems: Seq[Int]): Int = {
      prepVec(4 * elems.length, 4)
      elems.reverseIterator.foreach { e => put32(used + 4 - e) }
      put32(elems.length)
      used
    }
    def byteVector(bytes: Array[Byte]): Int = {
      prepVec(bytes.length, 1)
      head -= bytes.length; System.arraycopy(bytes, 0, buf, head, bytes.length)
      put32(bytes.length)
      used
    }

    // ----- table under construction
    private var slots: List[(Int, Int)] = Nil // (slot id, field end-offset)
    private var tblDataStart = 0

    def startTable(): Unit = { slots = Nil; tblDataStart = used }

    def slotUOffset(id: Int, targetEndOff: Int): Unit = {
      prep(4, 4); put32(used + 4 - targetEndOff)
      slots ::= (id -> used)
    }
    def slotI32(id: Int, v: Int, dflt: Int = 0): Unit =
      if (v != dflt) { prep(4, 4); put32(v); slots ::= (id -> used) }
    def slotI64(id: Int, v: Long, dflt: Long = 0L): Unit =
      if (v != dflt) { prep(8, 8); put64(v); slots ::= (id -> used) }
    def slotF64(id: Int, v: Double, dflt: Double = 0.0): Unit =
      if (v != dflt) { prep(8, 8); put64(java.lang.Double.doubleToLongBits(v)); slots ::= (id -> used) }
    def slotBool(id: Int, v: Boolean, dflt: Boolean = false): Unit =
      if (v != dflt) { prep(1, 1); put8(if (v) 1 else 0); slots ::= (id -> used) }
    /** inline struct: caller writes the struct's bytes via `write`
      * (back-to-front!), declaring total size and alignment */
    def slotStruct(id: Int, size: Int, align: Int)(write: this.type => Unit): Unit = {
      prep(size, align)
      write(this)
      slots ::= (id -> used)
    }
    def rawBytes(b: Array[Byte]): Unit = {
      head -= b.length; System.arraycopy(b, 0, buf, head, b.length)
    }

    def endTable(): Int = {
      prep(4, 4); put32(0) // soffset placeholder
      val tableEnd = used
      val maxSlot = if (slots.isEmpty) -1 else slots.map(_._1).max
      val vtBytes = 4 + 2 * (maxSlot + 1)
      val tblSize = tableEnd - tblDataStart
      prep(vtBytes, 2)
      val offs = new Array[Int](maxSlot + 1)
      slots.foreach { case (id, endOff) => offs(id) = tableEnd - endOff }
      offs.reverseIterator.foreach(put16)
      put16(tblSize)
      put16(vtBytes)
      val vtEnd = used
      // patch the soffset: vtable_pos = table_pos - soffset → soffset =
      // vtEnd - tableEnd (vtable sits at the lower absolute address)
      val idx = buf.length - tableEnd
      val s = vtEnd - tableEnd
      buf(idx) = s.toByte; buf(idx + 1) = (s >> 8).toByte
      buf(idx + 2) = (s >> 16).toByte; buf(idx + 3) = (s >> 24).toByte
      tableEnd
    }

    /** `ident`, when given, must be exactly 4 ASCII bytes — written at
      * the spec's file-identifier position (right after the root
      * uoffset), so readers can sniff the schema before walking */
    def finish(rootEndOff: Int, ident: String = null): Array[Byte] = {
      val identBytes =
        if (ident == null) null
        else {
          val b = ident.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          require(b.length == 4, s"file identifier must be 4 bytes: '$ident'")
          b
        }
      val header = if (identBytes == null) 4 else 8
      grow(header + maxAlign)
      while ((used + header) % maxAlign != 0) { head -= 1; buf(head) = 0 }
      if (identBytes != null) rawBytes(identBytes)
      put32(used + 4 - rootEndOff)
      java.util.Arrays.copyOfRange(buf, head, buf.length)
    }
  }
}
