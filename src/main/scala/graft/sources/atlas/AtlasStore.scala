package graft.sources.atlas

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.nd.{NdDataset, NdVariable}
import graft.sources.io.ByteStore

/** `read_atlas` — Beacon's cloud-optimized array store, re-expressed on
  * the shared ND flatten core.
  *
  * Semantics follow the reference's atlas bridge
  * (beacon-arrow-atlas/src/{lib,reader}.rs): a directory store marked by
  * `atlas.json` holds NAMED DATASETS, each a collection of N-dimensional
  * chunked arrays plus per-dataset and per-array attributes. Every array
  * becomes a column; dataset-level attributes become rank-0 (broadcast)
  * columns under their bare name; per-array attributes become
  * `{array}.{attr}` columns. A collection scan unions all datasets with
  * supercast widening (reader.rs test_support::build_widening_store).
  * Stored per-dataset (min, max, null_count, row_count) statistics let a
  * selective predicate skip whole datasets without opening their chunk
  * files, failing open on any unknown (datafusion/pruning.rs:1-15).
  *
  * On-disk layout (graft-native, honoring the documented semantics; the
  * atlas byte format itself lives in an external crate that is not part
  * of the reference tree):
  *  - `atlas.json` — datasets, dims, arrays (dtype/shape/chunks/fill/
  *    attrs/statistics), dataset attributes;
  *  - `<dataset>/<array>/c<i0>.<i1>….af` — one file per chunk, raw
  *    little-endian C-order (strings: per-element int32-length-prefixed
  *    UTF-8, NULL = length -1). A missing chunk file materializes as the
  *    array's fill value.
  */
object AtlasStore {

  final case class Stats(min: Double, max: Double, nullCount: Long, rowCount: Long)
  final case class AtlasArray(
      name: String, dims: Seq[String], shape: Seq[Int], chunks: Seq[Int],
      dtype: String, fill: Option[String], attrs: Map[String, String],
      stats: Option[Stats]) {
    def isString: Boolean = dtype == "string"
    /** fill in attr form so the shared CF decode nulls it */
    def attrsWithFill: Map[String, String] =
      fill.map(f => attrs + ("_FillValue" -> f)).getOrElse(attrs)
  }
  final case class Dataset(
      name: String, dims: Seq[(String, Int)], arrays: Seq[AtlasArray],
      attrs: Map[String, String]) {
    def array(n: String): Option[AtlasArray] = arrays.find(_.name == n)
  }
  final case class Store(root: String, datasets: Seq[Dataset]) {
    def dataset(n: String): Dataset = datasets.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(
        s"atlas dataset '$n' not in store $root (have ${datasets.map(_.name).mkString(",")})"))
  }

  // --------------------------------------------------------- metadata

  /** observables for specs: metadata parses and chunk-file opens */
  val metadataParses = new java.util.concurrent.atomic.AtomicLong(0)
  val chunkReads = new java.util.concurrent.atomic.AtomicLong(0)

  private val storeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Store]()

  /** per-JVM metadata cache, keyed by (path, marker mtime) — same
    * executor-side stance as [[graft.sources.zarr.ZarrStore.openCached]] */
  def openCached(path0: String): Store = {
    val root = ByteStore.toLocal(path0)
    val mtime = ByteStore.mtime(ByteStore.resolve(root, "atlas.json"))
    if (storeCache.size > 64) storeCache.clear()
    storeCache.computeIfAbsent((root, mtime), _ => open(path0))
  }

  def open(path0: String): Store = {
    metadataParses.incrementAndGet()
    val root = ByteStore.toLocal(path0)
    val marker = ByteStore.resolve(root, "atlas.json")
    require(ByteStore.exists(marker), s"not an atlas store (no atlas.json): $root")
    val meta = JsonMethods.parse(ByteStore.readString(marker))
    val datasets = (meta \ "datasets") match {
      case JObject(ds) => ds.map { case (name, d) => parseDataset(name, d) }
      case _ => throw new IllegalArgumentException(s"atlas.json has no datasets object: $marker")
    }
    Store(root, datasets)
  }

  private def parseDataset(name: String, d: JValue): Dataset = {
    val dims = (d \ "dims") match {
      case JObject(fs) => fs.map { case (k, v) => k -> jint(v) }
      case _ => Nil
    }
    val arrays = (d \ "arrays") match {
      case JObject(as) => as.map { case (an, a) =>
        val adims = (a \ "dims") match {
          case JArray(xs) => xs.collect { case JString(s) => s }
          case _ => Nil
        }
        val dimMap = dims.toMap
        val shape = adims.map(dn => dimMap.getOrElse(dn,
          throw new IllegalArgumentException(s"array $an references unknown dim $dn")))
        val chunks = (a \ "chunks") match {
          case JArray(xs) => xs.map(jint)
          case _ => shape
        }
        val JString(dtype) = (a \ "dtype"): @unchecked
        val fill = (a \ "fill_value") match {
          case JString(s) => Some(s)
          case JInt(n) => Some(n.toString)
          case JDouble(x) => Some(x.toString)
          case _ => None
        }
        val attrs = attrMap(a \ "attributes")
        val stats = (a \ "statistics") match {
          case o: JObject => Some(Stats(
            jdouble(o \ "min"), jdouble(o \ "max"),
            jlong(o \ "null_count"), jlong(o \ "row_count")))
          case _ => None
        }
        AtlasArray(an, adims, shape, chunks, dtype, fill, attrs, stats)
      }
      case _ => Nil
    }
    Dataset(name, dims, arrays, attrMap(d \ "attributes"))
  }

  private def attrMap(v: JValue): Map[String, String] = v match {
    case JObject(fs) => fs.map {
      case (k, JString(s)) => k -> s
      case (k, JInt(n)) => k -> n.toString
      case (k, JDouble(x)) => k -> x.toString
      case (k, JBool(b)) => k -> b.toString
      case (k, other) => k -> JsonMethods.compact(JsonMethods.render(other))
    }.toMap
    case _ => Map.empty
  }

  private def jint(v: JValue): Int = v match {
    case JInt(n) => n.toInt
    case JLong(n) => n.toInt
    case other => throw new IllegalArgumentException(s"expected int, got $other")
  }
  private def jlong(v: JValue): Long = v match {
    case JInt(n) => n.toLong
    case JLong(n) => n
    case _ => 0L
  }
  private def jdouble(v: JValue): Double = v match {
    case JDouble(x) => x
    case JInt(n) => n.toDouble
    case JLong(n) => n.toDouble
    case JString("NaN") => Double.NaN
    case _ => Double.NaN
  }

  // ---------------------------------------------------------- chunk io

  private def chunkFile(root: String, ds: String, a: AtlasArray, cidx: Array[Int]): String =
    ByteStore.resolve(root, s"$ds/${a.name}/c" + cidx.mkString(".") + ".af")

  private def fillOf(a: AtlasArray): Double =
    a.fill.map(f => if (f == "NaN") Double.NaN else f.toDouble).getOrElse(Double.NaN)

  /** one chunk, numeric: decode to double (missing file → fill) */
  private def readChunkNum(root: String, ds: String, a: AtlasArray, cidx: Array[Int]): Array[Double] = {
    val n = a.chunks.product
    val f = chunkFile(root, ds, a, cidx)
    if (!ByteStore.exists(f)) return Array.fill(n)(fillOf(a))
    chunkReads.incrementAndGet()
    val buf = ByteBuffer.wrap(ByteStore.readAll(f)).order(ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Double](n)
    var i = 0
    a.dtype match {
      case "int8" => while (i < n) { out(i) = buf.get().toDouble; i += 1 }
      case "int16" => while (i < n) { out(i) = buf.getShort.toDouble; i += 1 }
      case "int32" => while (i < n) { out(i) = buf.getInt.toDouble; i += 1 }
      case "int64" => while (i < n) { out(i) = buf.getLong.toDouble; i += 1 }
      case "float32" => while (i < n) { out(i) = buf.getFloat.toDouble; i += 1 }
      case "float64" => while (i < n) { out(i) = buf.getDouble; i += 1 }
      case other => throw new IllegalArgumentException(s"atlas dtype '$other' unsupported")
    }
    out
  }

  /** one chunk, string: int32-LE length-prefixed UTF-8, -1 = NULL */
  private def readChunkStr(root: String, ds: String, a: AtlasArray, cidx: Array[Int]): Array[String] = {
    val n = a.chunks.product
    val f = chunkFile(root, ds, a, cidx)
    if (!ByteStore.exists(f)) return new Array[String](n)
    chunkReads.incrementAndGet()
    val buf = ByteBuffer.wrap(ByteStore.readAll(f)).order(ByteOrder.LITTLE_ENDIAN)
    Array.fill(n) {
      val len = buf.getInt
      if (len < 0) null
      else {
        val b = new Array[Byte](len)
        buf.get(b)
        new String(b, StandardCharsets.UTF_8)
      }
    }
  }

  /** region [start, end) per array dim, assembled from chunk files
    * (odometer over overlapping chunks — same walk as the Zarr reader) */
  def readRegion(root: String, ds: String, a: AtlasArray,
      start: Array[Long], end: Array[Long]): (Array[Double], Array[String]) = {
    val rank = a.shape.length
    require(start.length == rank && end.length == rank)
    val rdims = Array.tabulate(rank)(i => (end(i) - start(i)).toInt)
    val n = math.max(rdims.map(_.toLong).product.toInt, 0)
    if (rank == 0) {
      return if (a.isString) (null, readChunkStr(root, ds, a, Array.empty))
      else (readChunkNum(root, ds, a, Array.empty), null)
    }
    val num = if (a.isString) null else new Array[Double](n)
    val str = if (a.isString) new Array[String](n) else null
    if (n == 0) return (num, str)
    val cshape = a.chunks.toArray
    val c0 = Array.tabulate(rank)(i => (start(i) / cshape(i)).toInt)
    val c1 = Array.tabulate(rank)(i => ((end(i) - 1) / cshape(i)).toInt)
    val cidx = c0.clone()
    var done = false
    while (!done) {
      if (a.isString)
        copyOverlap[String](readChunkStr(root, ds, a, cidx), cshape, cidx, str, rdims, start, end)
      else
        copyOverlap[Double](readChunkNum(root, ds, a, cidx), cshape, cidx, num, rdims, start, end)
      var d = rank - 1
      var carry = true
      while (carry && d >= 0) {
        cidx(d) += 1
        if (cidx(d) > c1(d)) { cidx(d) = c0(d); d -= 1 }
        else carry = false
      }
      if (carry) done = true
    }
    (num, str)
  }

  private def copyOverlap[T](chunk: Array[T], cshape: Array[Int], cidx: Array[Int],
      out: Array[T], rdims: Array[Int], start: Array[Long], end: Array[Long]): Unit = {
    val rank = cshape.length
    val lo = new Array[Long](rank)
    val hi = new Array[Long](rank)
    var d = 0
    while (d < rank) {
      val cLo = cidx(d).toLong * cshape(d)
      lo(d) = math.max(cLo, start(d))
      hi(d) = math.min(cLo + cshape(d), end(d))
      if (hi(d) <= lo(d)) return
      d += 1
    }
    val runLen = (hi(rank - 1) - lo(rank - 1)).toInt
    val nOuter = (0 until rank - 1).map(i => hi(i) - lo(i)).product
    val idx = new Array[Long](math.max(rank - 1, 0))
    var it = 0L
    val total = if (rank == 1) 1L else nOuter
    while (it < total) {
      var rem = it
      var k = rank - 2
      while (k >= 0) { val w = hi(k) - lo(k); idx(k) = rem % w; rem /= w; k -= 1 }
      var srcOff = lo(rank - 1) - cidx(rank - 1).toLong * cshape(rank - 1)
      var dstOff = lo(rank - 1) - start(rank - 1)
      var mulSrc = cshape(rank - 1).toLong
      var mulDst = rdims(rank - 1).toLong
      k = rank - 2
      while (k >= 0) {
        val g = lo(k) + idx(k)
        srcOff += (g - cidx(k).toLong * cshape(k)) * mulSrc
        dstOff += (g - start(k)) * mulDst
        mulSrc *= cshape(k)
        mulDst *= rdims(k)
        k -= 1
      }
      System.arraycopy(chunk, srcOff.toInt, out, dstOff.toInt, runLen)
      it += 1
    }
  }

  // -------------------------------------------------------- ND mapping

  /** one dataset restricted to a region, as the shared ND model. Arrays
    * not passing `keep` are skipped entirely (their chunks never open);
    * dataset attributes surface as rank-0 string variables (broadcast
    * columns under their bare name, reader.rs column-naming contract). */
  def regionDataset(store: Store, dsName: String, region: Seq[(String, Long, Long)],
      keep: String => Boolean = _ => true): NdDataset = {
    val ds = store.dataset(dsName)
    val bounds = region.map { case (d, a, b) => d -> (a, b) }.toMap
    val dims = region.map { case (d, a, b) => d -> (b - a).toInt } ++
      ds.dims.filterNot { case (d, _) => bounds.contains(d) }
    val vars = ds.arrays.filter(a => keep(a.name)).map { a =>
      val start = a.dims.map(d => bounds.get(d).map(_._1).getOrElse(0L)).toArray
      val end = a.dims.zip(a.shape).map { case (d, s) =>
        bounds.get(d).map(_._2).getOrElse(s.toLong)
      }.toArray
      val (num, str) = readRegion(store.root, dsName, a, start, end)
      NdVariable(a.name, a.dims, num, a.attrsWithFill, sdata = str)
    }
    val attrVars = ds.attrs.toSeq.sortBy(_._1).collect {
      case (k, v) if keep(k) => NdVariable(k, Seq.empty, null, Map.empty, sdata = Array(v))
    }
    NdDataset(dims, vars ++ attrVars)
  }

  /** metadata-only ND model (zero-length variables): schema and grid
    * planning without opening a single chunk file */
  def metaDataset(store: Store, dsName: String): NdDataset = {
    val ds = store.dataset(dsName)
    val vars = ds.arrays.map { a =>
      NdVariable(a.name, a.dims,
        if (a.isString) null else Array.empty[Double],
        a.attrsWithFill,
        sdata = if (a.isString) Array.empty[String] else null)
    }
    val attrVars = ds.attrs.toSeq.sortBy(_._1).map { case (k, v) =>
      NdVariable(k, Seq.empty, null, Map.empty, sdata = Array(v))
    }
    NdDataset(ds.dims, vars ++ attrVars)
  }

  // ------------------------------------------------------------ write

  /** Fixture/egress writer: adds one named dataset (the ND model) to the
    * store at `root`, computing the stored min/max/null statistics the
    * reader prunes on. Numeric variables are stored float64 chunks;
    * string variables as length-prefixed UTF-8. */
  object Writer {

    def writeDataset(root: Path, name: String, nd: NdDataset,
        attrs: Map[String, String] = Map.empty,
        chunkSizes: Map[String, Int] = Map.empty): Unit = {
      Files.createDirectories(root)
      val dimMap = nd.dims.toMap
      val arrays = nd.variables.map { v =>
        val shape = v.dims.map(dimMap)
        val chunks = v.dims.map(d => math.min(chunkSizes.getOrElse(d, 1024), dimMap(d)))
        val fill = v.attrs.get("_FillValue")
        val stats =
          if (v.isString) None
          else {
            val fillD = fill.map(f => if (f == "NaN") Double.NaN else f.toDouble)
            def isNull(x: Double) = x.isNaN || fillD.exists(f => !f.isNaN && f == x)
            val live = v.data.filterNot(isNull)
            Some(Stats(
              if (live.isEmpty) Double.NaN else live.min,
              if (live.isEmpty) Double.NaN else live.max,
              v.data.count(isNull).toLong, v.data.length.toLong))
          }
        val a = AtlasArray(v.name, v.dims, shape, chunks,
          if (v.isString) "string" else "float64", fill,
          v.attrs - "_FillValue", stats)
        writeChunks(root, name, a, v)
        a
      }
      mergeMarker(root, Dataset(name, nd.dims, arrays, attrs))
    }

    private def writeChunks(root: Path, ds: String, a: AtlasArray, v: NdVariable): Unit = {
      val dir = root.resolve(ds).resolve(a.name)
      Files.createDirectories(dir)
      val rank = a.shape.length
      if (rank == 0) {
        writeOneChunk(root, ds, a, Array.empty, v, Array.fill(0)(0L), Array.fill(0)(0L))
        return
      }
      val nChunks = Array.tabulate(rank)(i => (a.shape(i) + a.chunks(i) - 1) / a.chunks(i))
      val cidx = new Array[Int](rank)
      var done = false
      while (!done) {
        val start = Array.tabulate(rank)(i => cidx(i).toLong * a.chunks(i))
        val end = Array.tabulate(rank)(i =>
          math.min(start(i) + a.chunks(i), a.shape(i).toLong))
        writeOneChunk(root, ds, a, cidx, v, start, end)
        var d = rank - 1
        var carry = true
        while (carry && d >= 0) {
          cidx(d) += 1
          if (cidx(d) >= nChunks(d)) { cidx(d) = 0; d -= 1 }
          else carry = false
        }
        if (carry) done = true
      }
    }

    /** slice the variable's flat C-order data into one (padded) chunk */
    private def writeOneChunk(root: Path, ds: String, a: AtlasArray, cidx: Array[Int],
        v: NdVariable, start: Array[Long], end: Array[Long]): Unit = {
      val rank = a.shape.length
      val cVol = a.chunks.product
      val strides = new Array[Long](rank)
      var acc = 1L
      for (i <- (0 until rank).reverse) { strides(i) = acc; acc *= a.shape(i) }
      def globalIndex(local: Array[Int]): Long =
        (0 until rank).map(i => (start(i) + local(i)) * strides(i)).sum
      val out = ByteBuffer.allocate(
        if (a.isString)
          (0 until cVol).map { _ => 4 }.sum + v.sdata.map(s =>
            if (s == null) 0 else s.getBytes(StandardCharsets.UTF_8).length).sum
        else cVol * 8).order(ByteOrder.LITTLE_ENDIAN)
      val local = new Array[Int](rank)
      var i = 0
      while (i < cVol) {
        // local C-order index within the chunk
        var rem = i
        var k = rank - 1
        while (k >= 0) { local(k) = rem % a.chunks(k); rem /= a.chunks(k); k -= 1 }
        val inBounds = (0 until rank).forall(d => start(d) + local(d) < end(d))
        if (a.isString) {
          val s = if (inBounds && rank > 0) v.sdata(globalIndex(local).toInt)
            else if (rank == 0) v.sdata(0) else null
          if (s == null) out.putInt(-1)
          else {
            val b = s.getBytes(StandardCharsets.UTF_8)
            out.putInt(b.length); out.put(b)
          }
        } else {
          val x = if (inBounds && rank > 0) v.data(globalIndex(local).toInt)
            else if (rank == 0) v.data(0) else fillOf(a)
          out.putDouble(x)
        }
        i += 1
      }
      val bytes = java.util.Arrays.copyOf(out.array(), out.position())
      Files.write(Paths.get(chunkFile(root.toString, ds, a, cidx)), bytes)
    }

    private def mergeMarker(root: Path, ds: Dataset): Unit = {
      val marker = root.resolve("atlas.json")
      val existing: List[(String, JValue)] =
        if (Files.exists(marker))
          (JsonMethods.parse(Files.readString(marker)) \ "datasets") match {
            case JObject(fs) => fs
            case _ => Nil
          }
        else Nil
      def num(x: Double): JValue = if (x.isNaN) JString("NaN") else JDouble(x)
      val dsJson = JObject(
        "attributes" -> JObject(ds.attrs.toList.sortBy(_._1).map { case (k, v) => k -> JString(v) }),
        "dims" -> JObject(ds.dims.toList.map { case (k, v) => k -> JInt(v) }),
        "arrays" -> JObject(ds.arrays.toList.map { a =>
          a.name -> JObject(List(
            "dtype" -> JString(a.dtype),
            "dims" -> JArray(a.dims.toList.map(JString(_))),
            "chunks" -> JArray(a.chunks.toList.map(c => JInt(c))),
            "attributes" -> JObject(a.attrs.toList.sortBy(_._1).map { case (k, v) => k -> JString(v) })) ++
            a.fill.map(f => "fill_value" -> (JString(f): JValue)).toList ++
            a.stats.map(s => "statistics" -> (JObject(
              "min" -> num(s.min), "max" -> num(s.max),
              "null_count" -> JLong(s.nullCount),
              "row_count" -> JLong(s.rowCount)): JValue)).toList)
        }))
      val all = JObject(
        "atlas_format_version" -> JInt(1),
        "datasets" -> JObject(existing.filterNot(_._1 == ds.name) :+ (ds.name -> dsJson)))
      Files.write(marker,
        JsonMethods.pretty(JsonMethods.render(all)).getBytes(StandardCharsets.UTF_8))
    }
  }
}
