package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The engine's scalar function library (SURVEY.md §2.9).
  *
  * Implemented as native Catalyst expressions (not Scala UDFs) so they
  * participate in constant folding / null propagation; the geometry and
  * domain functions are interpreted (CodegenFallback) but are leaf math —
  * the hot path (comparisons, arithmetic) stays in whole-stage codegen.
  *
  * Registered into the session FunctionRegistry so both SQL text and the
  * JSON DSL (which resolves function names against the registry, like the
  * reference's Select::to_expr — beacon-core/src/query/mod.rs:115-222)
  * can call them.
  */
object GraftFunctions {

  val version = "0.1.0"

  /** interpreted-path-free kernels for the generated code (r16: the
    * hot point-in-polygon test was the one geo expression measured in
    * every sweep, and its CodegenFallback eval shared — and polluted —
    * the interpreter's megamorphic dispatch profile with every other
    * geo gate; a codegen callsite gets its own JIT profile) */
  def stWithinPointGeomKernel(g: AnyRef, lon: Double, lat: Double): Boolean =
    Geo.contains(g.asInstanceOf[Geo.Geom], lon, lat)
  def stWithinPointKernel(wkt: UTF8String, lon: Double, lat: Double): Boolean =
    Geo.contains(Geo.parseWktCached(wkt.toString), lon, lat)

  /** Point-in-geometry test: st_within_point(wkt, lon, lat) → boolean.
    * Reference: beacon-functions/src/geo/st_within_point.rs (WKT parse
    * LRU-cached per executor; see [[Geo.parseWktCached]]).
    *
    * Codegen-native (r16): NOT CodegenFallback — the one geo predicate
    * measured in every sweep must not evict its plan from
    * WholeStageCodegen (CollapseCodegenStages rejects any tree holding
    * a fallback expression) nor share the interpreter's megamorphic
    * dispatch profile with the rest of the geo family. A foldable WKT
    * argument — the dominant shape, a literal region against point
    * columns — is parsed ONCE at expression init and rides into the
    * generated code as a reference object, so the per-row work is
    * exactly the containment test. Input types are pinned (analyzer
    * casts coordinates to double) so generated code is monomorphic. */
  case class StWithinPoint(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with ImplicitCastInputTypes {
    // type inferred: AbstractDataType is private[sql], but covariance
    // lets Seq[DataType] satisfy the override
    override def inputTypes = Seq(StringType, DoubleType, DoubleType)
    override def dataType: DataType = BooleanType
    override def prettyName: String = "st_within_point"
    @transient private lazy val litGeom: Geo.Geom =
      if (first.foldable) {
        val v = first.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        if (v == null) null else Geo.parseWkt(v.toString)
      } else null
    override def nullSafeEval(wkt: Any, lon: Any, lat: Any): Any = {
      val g = if (litGeom != null) litGeom
        else Geo.parseWktCached(wkt.asInstanceOf[UTF8String].toString)
      Geo.contains(g, toD(lon), toD(lat))
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (wkt, lon, lat) =>
        if (litGeom != null) {
          val g = ctx.addReferenceObj("stwpGeom", litGeom, "java.lang.Object")
          s"${ev.value} = graft.functions.GraftFunctions" +
            s".stWithinPointGeomKernel($g, $lon, $lat);"
        } else
          s"${ev.value} = graft.functions.GraftFunctions" +
            s".stWithinPointKernel($wkt, $lon, $lat);")
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
  }

  /** st_geojson_as_wkt(geojson) → WKT string.
    * Reference: beacon-functions/src/geo/st_geojson_as_wkt.rs. */
  case class StGeoJsonAsWkt(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def prettyName: String = "st_geojson_as_wkt"
    override def nullSafeEval(v: Any): Any =
      UTF8String.fromString(Geo.geoJsonToWkt(v.asInstanceOf[UTF8String].toString))
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  /** pressure_to_depth_teos_10(pressure_dbar, latitude_deg) → depth (m,
    * positive down). UNESCO/Saunders-style approximation of TEOS-10
    * z_from_p; reference: blue_cloud/common/pressure_to_depth_teos_10.rs. */
  case class PressureToDepthTeos10(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "pressure_to_depth_teos_10"
    override def nullSafeEval(p0: Any, lat0: Any): Any = {
      val p = toD(p0); val lat = toD(lat0)
      val sin2 = { val s = math.sin(math.toRadians(lat)); s * s }
      val g = 9.780318 * (1.0 + (5.2788e-3 + 2.36e-5 * sin2) * sin2)
      ((((-1.82e-15 * p + 2.279e-10) * p - 2.2512e-5) * p + 9.72659) * p) /
        (g + 1.092e-6 * p)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(l, r)
  }

  /** map_units(from_unit, to_unit, value) → converted value (null when the
    * conversion is unknown). Reference: blue_cloud/seadatanet/map_units.rs. */
  case class MapUnits(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "map_units"
    override def nullSafeEval(fu: Any, tu: Any, v: Any): Any =
      Units.convert(fu.toString, tu.toString, toD(v)).map(Double.box).orNull
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
  }

  /** map_vocab(vocab_name, key) → mapped value or null. Replaces the
    * reference's ~35 hand-written vocabulary UDFs (blue_cloud sources) with one
    * data-driven lookup over registered tables (SURVEY.md §2.9 advice).
    * The mapping is resolved from [[VocabRegistry]] at plan time (driver)
    * and serialized with the expression, so executors never consult the
    * driver-side registry — required for cluster execution. */
  case class MapVocab(vocabName: String, mapping: Map[String, String], child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String = "map_vocab"
    override def nullSafeEval(key: Any): Any =
      mapping.get(key.toString).map(UTF8String.fromString).orNull
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  private[functions] def mapVocabExpr(args: Seq[Expression]): Expression = {
    require(args.length == 2, "map_vocab expects ('vocab_name', key)")
    val name = args.head match {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => throw new IllegalArgumentException(
        s"map_vocab vocabulary name must be a string literal, got $other")
    }
    MapVocab(name, VocabRegistry.get(name), args(1))
  }

  // ------------------------------------------------------------ helpers

  private def toD(v: Any): Double = v match {
    case d: java.lang.Double  => d
    case f: java.lang.Float   => f.toDouble
    case i: java.lang.Integer => i.toDouble
    case l: java.lang.Long    => l.toDouble
    case s: java.lang.Short   => s.toDouble
    case b: java.lang.Byte    => b.toDouble
    case d: Decimal           => d.toDouble
    case other => throw new IllegalArgumentException(s"not numeric: $other")
  }

  /** coalesce_label(c1, 'l1', c2, 'l2', …) → label paired with the first
    * non-null column (beacon-functions/src/util/coalesce_label.rs).
    * Compiled to a CaseWhen chain → fully codegen'd. */
  def coalesceLabelExpr(args: Seq[Expression]): Expression = {
    require(args.nonEmpty && args.length % 2 == 0,
      "coalesce_label expects (col1, label1, col2, label2, ...)")
    val branches = args.grouped(2).map { case Seq(c, l) => (IsNotNull(c), l) }.toSeq
    CaseWhen(branches, None)
  }

  /** non-throwing string→integral parse (trimmed; empty/garbage →
    * null). Spark's TRY-mode cast raises and catches a formatted
    * exception per failing row — on a column where most rows fail to
    * parse that exception traffic dominated the whole query (bench r2:
    * q_try_cast 3.9 s warm for 15k rows; ~0.2 s with this path). */
  def tryStringToLong(s: UTF8String): java.lang.Long = {
    val w = new UTF8String.LongWrapper
    if (s.trim.toLong(w)) java.lang.Long.valueOf(w.value) else null
  }

  case class TryStringToIntegral(child: Expression, target: DataType)
      extends UnaryExpression {
    override def dataType: DataType = target
    override def nullable: Boolean = true
    override def prettyName: String = "try_arrow_cast"
    override def nullSafeEval(v: Any): Any = {
      val l = tryStringToLong(v.asInstanceOf[UTF8String])
      if (l == null) null
      else target match {
        case LongType    => l.longValue()
        case IntegerType => if (l >= Int.MinValue && l <= Int.MaxValue) l.intValue() else null
        case ShortType   => if (l >= Short.MinValue && l <= Short.MaxValue) l.shortValue() else null
        case ByteType    => if (l >= Byte.MinValue && l <= Byte.MaxValue) l.byteValue() else null
        case _ => null
      }
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val box = ctx.freshName("parsed")
      val (cond, conv) = target match {
        case LongType    => ("true", s"$box.longValue()")
        case IntegerType => (s"$box >= Integer.MIN_VALUE && $box <= Integer.MAX_VALUE", s"$box.intValue()")
        case ShortType   => (s"$box >= Short.MIN_VALUE && $box <= Short.MAX_VALUE", s"$box.shortValue()")
        case ByteType    => (s"$box >= Byte.MIN_VALUE && $box <= Byte.MAX_VALUE", s"$box.byteValue()")
        case other => throw new IllegalStateException(s"$other")
      }
      nullSafeCodeGen(ctx, ev, c => s"""
        java.lang.Long $box = graft.functions.GraftFunctions.tryStringToLong($c);
        if ($box == null || !($cond)) { ${ev.isNull} = true; } else { ${ev.value} = $conv; }
      """)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** try_arrow_cast(expr, 'TypeName'): cast yielding NULL on failure, with
    * Arrow-style type names (beacon-functions/src/util/try_arrow_cast.rs).
    * String→integral resolves to the exception-free parser above; every
    * other combination keeps Catalyst's TRY-mode cast. The analyzer
    * resolves the child type after registration, so the dispatch lives
    * in a RuntimeReplaceable-style late binding: we inspect the child
    * type lazily via a CaseWhen on resolved types — simplest is to wrap
    * in a small resolver expression. */
  def tryArrowCastExpr(args: Seq[Expression]): Expression = {
    require(args.length == 2, "try_arrow_cast expects (expr, 'Type')")
    val tpe = args(1) match {
      case Literal(s: UTF8String, StringType) => ArrowTypeNames.parse(s.toString)
      case other => throw new IllegalArgumentException(
        s"try_arrow_cast type argument must be a string literal, got $other")
    }
    tpe match {
      case t @ (LongType | IntegerType | ShortType | ByteType) =>
        // parse path only when the input is (or coerces to) a string;
        // numeric inputs go through the ordinary cast
        TryCastDispatch(args.head, t)
      case _ => Cast(args.head, tpe, None, EvalMode.TRY)
    }
  }

  /** resolves to the right implementation once the child's type is known */
  case class TryCastDispatch(child: Expression, target: DataType)
      extends UnaryExpression with org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable {
    override def dataType: DataType = target
    override lazy val replacement: Expression = child.dataType match {
      case StringType => TryStringToIntegral(child, target)
      case _ => Cast(child, target, None, EvalMode.TRY)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  // --------------------------------------------------------- registration

  private def fr(spark: SparkSession) = spark.sessionState.functionRegistry

  def registerAll(spark: SparkSession): Unit = {
    val r = fr(spark)
    r.createOrReplaceTempFunction("st_within_point",
      es => StWithinPoint(es(0), es(1), es(2)), "built-in")
    r.createOrReplaceTempFunction("st_geojson_as_wkt",
      es => StGeoJsonAsWkt(es.head), "built-in")
    r.createOrReplaceTempFunction("st_wkb_as_wkt",
      es => GeoExprs.WkbToWkt(es.head), "built-in")
    r.createOrReplaceTempFunction("st_wkt_as_wkb",
      es => GeoExprs.WktToWkb(es.head), "built-in")
    r.createOrReplaceTempFunction("st_distance",
      es => GeoExprs.StDistance(es(0), es(1)), "built-in")
    r.createOrReplaceTempFunction("st_area",
      es => GeoExprs.StArea(es.head), "built-in")
    r.createOrReplaceTempFunction("st_intersects",
      es => GeoExprs.StIntersects(es(0), es(1)), "built-in")
    r.createOrReplaceTempFunction("st_contains",
      es => GeoExprs.StContains(es(0), es(1)), "built-in")
    r.createOrReplaceTempFunction("st_x",
      es => GeoExprs.nanAsNull(GeoExprs.StX(es.head)), "built-in")
    r.createOrReplaceTempFunction("st_y",
      es => GeoExprs.nanAsNull(GeoExprs.StY(es.head)), "built-in")
    r.createOrReplaceTempFunction("st_npoints",
      es => GeoExprs.StNPoints(es.head), "built-in")
    r.createOrReplaceTempFunction("st_perimeter",
      es => GeoExprs.StPerimeter(es.head), "built-in")
    r.createOrReplaceTempFunction("st_centroid",
      es => GeoExprs.StCentroid(es.head), "built-in")
    r.createOrReplaceTempFunction("st_dwithin",
      es => GeoExprs.StDwithin(es(0), es(1), Cast(
        GeoExprs.NumericArg(es(2), "st_dwithin distance"), DoubleType)),
      "built-in")
    r.createOrReplaceTempFunction("st_envelope",
      es => GeoExprs.StEnvelope(es.head), "built-in")
    r.createOrReplaceTempFunction("st_buffer",
      es => GeoExprs.StBuffer(es(0),
        Cast(GeoExprs.NumericArg(es(1), "st_buffer radius"), DoubleType),
        Cast(if (es.length > 2) GeoExprs.NumericArg(es(2), "st_buffer segments")
          else Literal(16), IntegerType)), "built-in")
    r.createOrReplaceTempFunction("st_intersection_area",
      es => GeoExprs.StIntersectionArea(es(0), es(1)), "built-in")
    r.createOrReplaceTempFunction("st_union",
      es => GeoExprs.StBoolean(es(0), es(1), union = true), "built-in")
    r.createOrReplaceTempFunction("st_intersection",
      es => GeoExprs.StBoolean(es(0), es(1), union = false), "built-in")
    r.createOrReplaceTempFunction("st_difference",
      es => GeoExprs.StDifference(es(0), es(1)), "built-in")
    r.createOrReplaceTempFunction("st_convex_hull",
      es => GeoExprs.StConvexHull(es.head), "built-in")
    r.createOrReplaceTempFunction("st_length",
      es => GeoExprs.StLength(es.head), "built-in")
    r.createOrReplaceTempFunction("st_point",
      es => GeoExprs.StPoint(Cast(es(0), DoubleType),
        Cast(es(1), DoubleType)), "built-in")
    r.createOrReplaceTempFunction("st_within",
      es => GeoExprs.StRelate2(es(0), es(1), 0), "built-in")
    r.createOrReplaceTempFunction("st_disjoint",
      es => GeoExprs.StRelate2(es(0), es(1), 1), "built-in")
    r.createOrReplaceTempFunction("st_equals",
      es => GeoExprs.StRelate2(es(0), es(1), 2), "built-in")
    r.createOrReplaceTempFunction("st_geometry_type",
      es => GeoExprs.StGeometryType(es.head), "built-in")
    r.createOrReplaceTempFunction("st_dimension",
      es => GeoExprs.StDimension(es.head), "built-in")
    r.createOrReplaceTempFunction("st_line_interpolate_point",
      es => GeoExprs.StLineInterpolate(es(0), Cast(es(1), DoubleType)),
      "built-in")
    r.createOrReplaceTempFunction("st_touches",
      es => GeoExprs.StRelate(es(0), es(1), 0), "built-in")
    r.createOrReplaceTempFunction("st_crosses",
      es => GeoExprs.StRelate(es(0), es(1), 1), "built-in")
    r.createOrReplaceTempFunction("st_overlaps",
      es => GeoExprs.StRelate(es(0), es(1), 2), "built-in")
    r.createOrReplaceTempFunction("st_transform",
      es => GeoExprs.StTransform(es(0),
        Cast(GeoExprs.NumericArg(es(1), "st_transform from_srid"), IntegerType),
        Cast(GeoExprs.NumericArg(es(2), "st_transform to_srid"), IntegerType)),
      "built-in")
    r.createOrReplaceTempFunction("st_simplify",
      es => GeoExprs.StSimplify(es(0), Cast(
        GeoExprs.NumericArg(es(1), "st_simplify tolerance"), DoubleType)),
      "built-in")
    r.createOrReplaceTempFunction("st_xmin",
      es => GeoExprs.StBound(es.head, 0), "built-in")
    r.createOrReplaceTempFunction("st_xmax",
      es => GeoExprs.StBound(es.head, 1), "built-in")
    r.createOrReplaceTempFunction("st_ymin",
      es => GeoExprs.StBound(es.head, 2), "built-in")
    r.createOrReplaceTempFunction("st_ymax",
      es => GeoExprs.StBound(es.head, 3), "built-in")
    r.createOrReplaceTempFunction("pressure_to_depth_teos_10",
      es => PressureToDepthTeos10(es(0), es(1)), "built-in")
    r.createOrReplaceTempFunction("exif_metadata",
      es => graft.operators.Exif.ExifParse(es.head), "built-in")
    r.createOrReplaceTempFunction("map_units",
      es => MapUnits(es(0), es(1), es(2)), "built-in")
    r.createOrReplaceTempFunction("map_vocab", mapVocabExpr, "built-in")
    r.createOrReplaceTempFunction("coalesce_label", coalesceLabelExpr, "built-in")
    r.createOrReplaceTempFunction("try_arrow_cast", tryArrowCastExpr, "built-in")
    r.createOrReplaceTempFunction("cast_int8_as_char",
      es => Chr(Cast(es.head, LongType)), "built-in")
    r.createOrReplaceTempFunction("graft_version",
      _ => Literal(UTF8String.fromString(version), StringType), "built-in")
    // reference-compatible alias (util/beacon_version.rs)
    r.createOrReplaceTempFunction("beacon_version",
      _ => Literal(UTF8String.fromString(version), StringType), "built-in")
    // ns-precision bridge (SURVEY §7.3 item 4): Spark timestamps stop
    // at µs, so `nanosAsLong` surfaces parquet ns columns as raw Long.
    // These make them usable without precision surprises: floor-to-µs
    // timestamp + the exact sub-µs remainder (floor semantics via Pmod
    // keep pre-epoch instants correct, where truncating div would not).
    r.createOrReplaceTempFunction("ns_to_timestamp", es => {
      val ns = Cast(es.head, LongType)
      MicrosToTimestamp(IntegralDivide(
        Subtract(ns, Pmod(ns, Literal(1000L))), Literal(1000L)))
    }, "built-in")
    r.createOrReplaceTempFunction("ns_submicros", es =>
      Pmod(Cast(es.head, LongType), Literal(1000L)), "built-in")
    // whole-token text match — the indexable full-text predicate
    r.createOrReplaceTempFunction("token_match", es =>
      TextExprs.TokenMatch(es(0), es(1)), "built-in")
    // vector/similarity kernels — the same codegen expressions the
    // Similarity operators compose, reachable from SQL text and the
    // JSON DSL's expression surface
    r.createOrReplaceTempFunction("vec_dot", es =>
      VectorExprs.VecDot(es(0), es(1)), "built-in")
    r.createOrReplaceTempFunction("vec_norm", es =>
      VectorExprs.VecNorm(es.head), "built-in")
    r.createOrReplaceTempFunction("vec_cosine", es =>
      VectorExprs.cosineExpr(es(0), es(1)), "built-in")
    r.createOrReplaceTempFunction("bit_sign", es =>
      VectorExprs.BitSign(es.head), "built-in")
    r.createOrReplaceTempFunction("hamming_dist", es =>
      VectorExprs.HammingDist(es(0), es(1)), "built-in")
    r.createOrReplaceTempFunction("sq8_encode", es =>
      VectorExprs.Sq8Encode(es.head), "built-in")
    r.createOrReplaceTempFunction("vec_idot", es =>
      VectorExprs.VecIDot(es(0), es(1)), "built-in")
    // crawl-frontier URL hygiene (r17): native codegen kernels — the
    // pre-r17 SQL-text templates re-parsed a ~40-call regex tower per
    // resolution and duplicated it per reference (url_surt printed as
    // ~400 KB of plan); UrlExprs runs the identical pass sequence in
    // one expression node, pinned byte-equal by OperatorsSpec's
    // differential suite against the composed reference formulation.
    r.createOrReplaceTempFunction("url_normalize", es =>
      UrlExprs.UrlNormalize(es.head), "built-in")
    r.createOrReplaceTempFunction("url_host", es =>
      UrlExprs.UrlHost(es.head), "built-in")
    r.createOrReplaceTempFunction("url_scheme", es =>
      UrlExprs.UrlScheme(es.head), "built-in")
    r.createOrReplaceTempFunction("url_surt", es =>
      UrlExprs.UrlSurt(es.head), "built-in")
  }

// ------------------------------------------------- Column-level API

  def st_within_point(wkt: Column, lon: Column, lat: Column): Column =
    ColumnBridge.column(StWithinPoint(
      ColumnBridge.expression(wkt),
      ColumnBridge.expression(lon.cast(DoubleType)),
      ColumnBridge.expression(lat.cast(DoubleType))))

  def st_geojson_as_wkt(geojson: Column): Column =
    ColumnBridge.column(StGeoJsonAsWkt(ColumnBridge.expression(geojson)))

  def pressure_to_depth_teos_10(p: Column, lat: Column): Column =
    ColumnBridge.column(PressureToDepthTeos10(
      ColumnBridge.expression(p.cast(DoubleType)),
      ColumnBridge.expression(lat.cast(DoubleType))))

  def map_units(from: Column, to: Column, v: Column): Column =
    ColumnBridge.column(MapUnits(
      ColumnBridge.expression(from), ColumnBridge.expression(to),
      ColumnBridge.expression(v.cast(DoubleType))))

  def map_vocab(vocabName: String, key: Column): Column =
    ColumnBridge.column(MapVocab(
      vocabName, VocabRegistry.get(vocabName), ColumnBridge.expression(key)))

  def coalesce_label(cols: Column*): Column =
    ColumnBridge.column(coalesceLabelExpr(cols.map(ColumnBridge.expression)))

  def try_arrow_cast(c: Column, arrowType: String): Column =
    ColumnBridge.column(Cast(
      ColumnBridge.expression(c), ArrowTypeNames.parse(arrowType), None, EvalMode.TRY))
}

/** Arrow type-name syntax accepted by try_arrow_cast — the reference uses
  * Arrow's own names ("Int32", "Utf8", "Float64", "Timestamp(ns)", …). */
object ArrowTypeNames {
  def parse(name: String): DataType = name.trim match {
    case "Int8"                       => ByteType
    case "Int16"                      => ShortType
    case "Int32"                      => IntegerType
    case "Int64"                      => LongType
    case "UInt8"                      => ShortType      // Spark has no unsigned: widen (SURVEY §1.2)
    case "UInt16"                     => IntegerType
    case "UInt32"                     => LongType
    case "UInt64"                     => DecimalType(20, 0)
    case "Float16" | "Float32"        => FloatType
    case "Float64"                    => DoubleType
    case "Boolean"                    => BooleanType
    case "Utf8" | "LargeUtf8" | "Utf8View" => StringType
    case "Binary" | "LargeBinary" | "BinaryView" => BinaryType
    case "Date32" | "Date64"          => DateType
    case s if s.startsWith("Timestamp") => TimestampType
    case s if s.startsWith("Decimal128(") || s.startsWith("Decimal(") =>
      val inner = s.substring(s.indexOf('(') + 1, s.length - 1).split(",")
      DecimalType(inner(0).trim.toInt, inner(1).trim.toInt)
    case other =>
      // fall back to Spark DDL names so both syntaxes work
      try CatalystSqlParser.parse(other)
      catch { case _: Exception =>
        throw new IllegalArgumentException(s"unknown type name: $other") }
  }

  private object CatalystSqlParser {
    def parse(s: String): DataType =
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(s)
  }
}

/** Multiplicative/affine unit conversions (map_units). */
object Units {
  // (from, to) → value transform; symmetric pairs are both present.
  private val affine: Map[(String, String), Double => Double] = {
    val mul: Seq[(String, String, Double)] = Seq(
      ("dbar", "pa", 1e4), ("dbar", "bar", 0.1), ("bar", "pa", 1e5),
      ("m", "cm", 100.0), ("m", "mm", 1000.0), ("m", "km", 0.001),
      ("km", "m", 1000.0), ("cm", "m", 0.01), ("mm", "m", 0.001),
      ("g/kg", "kg/kg", 0.001), ("kg/kg", "g/kg", 1000.0),
      ("ml/l", "umol/kg", 43.570),  // approximate O2 conversion at ρ≈1025 kg/m³
      ("pa", "dbar", 1e-4), ("bar", "dbar", 10.0), ("pa", "bar", 1e-5),
      ("s", "ms", 1000.0), ("ms", "s", 0.001),
      ("h", "s", 3600.0), ("s", "h", 1.0 / 3600.0),
    )
    val base = mul.map { case (f, t, k) => (f, t) -> ((v: Double) => v * k) }.toMap
    base ++ Map[(String, String), Double => Double](
      ("degc", "k")    -> (v => v + 273.15),
      ("k", "degc")    -> (v => v - 273.15),
      ("degc", "degf") -> (v => v * 9.0 / 5.0 + 32.0),
      ("degf", "degc") -> (v => (v - 32.0) * 5.0 / 9.0),
    )
  }

  private def norm(u: String): String = u.trim.toLowerCase
    .replace("°c", "degc").replace("celsius", "degc")
    .replace("°f", "degf").replace("fahrenheit", "degf")
    .replace("kelvin", "k").replace("decibar", "dbar")
    .replace("pascal", "pa").replace("meters", "m").replace("meter", "m")

  def convert(from: String, to: String, v: Double): Option[Double] = {
    val (f, t) = (norm(from), norm(to))
    if (f == t) Some(v) else affine.get((f, t)).map(_(v))
  }
}

/** Data-driven controlled-vocabulary registry (replaces 35 hand-written
  * mapping UDFs in the reference; SURVEY.md §2.9). Maps are loaded from
  * CSV resources or registered programmatically, then broadcast implicitly
  * via task closures (small lookup tables). */
object VocabRegistry {
  private val vocabs = new java.util.concurrent.ConcurrentHashMap[String, Map[String, String]]()

  def register(name: String, mapping: Map[String, String]): Unit =
    vocabs.put(name, mapping)

  def lookup(vocab: String, key: String): Option[String] =
    Option(vocabs.get(vocab)).flatMap(_.get(key))

  /** Plan-time resolution; unknown vocab = empty map (lookups yield null),
    * matching the tolerant behavior of the reference's mapping UDFs. */
  def get(vocab: String): Map[String, String] =
    Option(vocabs.get(vocab)).getOrElse(Map.empty)
}
