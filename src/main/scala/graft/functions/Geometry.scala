package graft.functions

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Minimal planar geometry for the engine's geo predicates.
  *
  * The reference exposes `st_within_point(wkt, lon, lat)` (point-in-geometry,
  * beacon-functions/src/geo/st_within_point.rs) and `st_geojson_as_wkt`
  * (geo/st_geojson_as_wkt.rs), plus a GeoJSON polygon filter in the JSON DSL
  * (beacon-core/src/query/filter/geo_json.rs). No JVM geometry library is
  * available in this build, so the needed subset — WKT/GeoJSON parsing for
  * POINT/POLYGON/MULTIPOLYGON and even-odd point-in-polygon — is implemented
  * directly. Boundary points count as inside (matching the common
  * `contains`-with-boundary behavior used for observation bounding).
  */
object Geo {

  /** A polygon ring is a closed sequence of (x, y). */
  final case class Ring(xs: Array[Double], ys: Array[Double]) {
    def size: Int = xs.length
  }
  /** outer ring + holes */
  final case class Polygon(outer: Ring, holes: Seq[Ring])

  sealed trait Geom
  final case class PointGeom(x: Double, y: Double) extends Geom
  final case class PolygonGeom(polygon: Polygon) extends Geom
  final case class MultiPolygonGeom(polygons: Seq[Polygon]) extends Geom
  /** an OPEN path — consecutive vertices only, NO closing segment
    * ([[Ring]] is reused as the coordinate-array container; unlike
    * polygon rings the first vertex is not repeated at the end) */
  final case class LineStringGeom(path: Ring) extends Geom
  final case class MultiLineStringGeom(paths: Seq[Ring]) extends Geom

  /** Even-odd ray casting; returns true on boundary as well. */
  def ringContains(r: Ring, x: Double, y: Double): Boolean = {
    var inside = false
    val n = r.size
    var i = 0
    var j = n - 1
    while (i < n) {
      val xi = r.xs(i); val yi = r.ys(i)
      val xj = r.xs(j); val yj = r.ys(j)
      // boundary check: point on segment (i,j)
      val cross = (xj - xi) * (y - yi) - (yj - yi) * (x - xi)
      if (cross == 0.0 &&
          x >= math.min(xi, xj) && x <= math.max(xi, xj) &&
          y >= math.min(yi, yj) && y <= math.max(yi, yj)) return true
      if ((yi > y) != (yj > y)) {
        val xint = xi + (y - yi) / (yj - yi) * (xj - xi)
        if (x < xint) inside = !inside
      }
      j = i
      i += 1
    }
    inside
  }

  def polygonContains(p: Polygon, x: Double, y: Double): Boolean =
    ringContains(p.outer, x, y) && !p.holes.exists { h =>
      // strictly inside a hole = excluded; hole boundary still counts as inside
      ringContains(h, x, y) && !onRingBoundary(h, x, y)
    }

  private def onRingBoundary(r: Ring, x: Double, y: Double): Boolean = {
    val n = r.size
    var i = 0
    var j = n - 1
    while (i < n) {
      val xi = r.xs(i); val yi = r.ys(i)
      val xj = r.xs(j); val yj = r.ys(j)
      val cross = (xj - xi) * (y - yi) - (yj - yi) * (x - xi)
      if (cross == 0.0 &&
          x >= math.min(xi, xj) && x <= math.max(xi, xj) &&
          y >= math.min(yi, yj) && y <= math.max(yi, yj)) return true
      j = i
      i += 1
    }
    false
  }

  /** point-on-open-path: consecutive segments only (no closing wrap) */
  private def onOpenPath(r: Ring, x: Double, y: Double): Boolean = {
    var i = 1
    while (i < r.size) {
      if (onSeg(r.xs(i - 1), r.ys(i - 1), r.xs(i), r.ys(i), x, y)) return true
      i += 1
    }
    r.size == 1 && r.xs(0) == x && r.ys(0) == y
  }

  def contains(g: Geom, x: Double, y: Double): Boolean = g match {
    case PointGeom(px, py)       => px == x && py == y
    case PolygonGeom(p)          => polygonContains(p, x, y)
    case MultiPolygonGeom(ps)    => ps.exists(polygonContains(_, x, y))
    case LineStringGeom(r)       => onOpenPath(r, x, y)
    case MultiLineStringGeom(rs) => rs.exists(onOpenPath(_, x, y))
  }

  // ---------------------------------------------------------------- WKT

  /** Parse POINT / LINESTRING / MULTILINESTRING / POLYGON /
    * MULTIPOLYGON WKT. Throws IllegalArgumentException on anything
    * else (matching a strict reference-style error). */
  def parseWkt(wkt: String): Geom = {
    val s = wkt.trim
    val upper = s.toUpperCase
    // the engine EMITS "<TAG> EMPTY" (boolean ops on disjoint inputs,
    // rings collapsing under simplify) — it must parse its own output.
    // Empties are the empty multi-geometry of their family; POINT
    // EMPTY stays unsupported (nothing here emits it).
    if (upper.endsWith(" EMPTY")) {
      return upper.stripSuffix(" EMPTY").trim match {
        case "POLYGON" | "MULTIPOLYGON" => MultiPolygonGeom(Nil)
        case "LINESTRING" | "MULTILINESTRING" => MultiLineStringGeom(Nil)
        case other => throw new IllegalArgumentException(
          s"unsupported empty WKT geometry: $wkt")
      }
    }
    if (upper.startsWith("POINT")) {
      val nums = parseNumbers(s.substring(5))
      require(nums.length == 2, s"POINT needs 2 coordinates: $wkt")
      PointGeom(nums(0), nums(1))
    } else if (upper.startsWith("MULTIPOLYGON")) {
      MultiPolygonGeom(parsePolygonList(s.substring("MULTIPOLYGON".length)))
    } else if (upper.startsWith("POLYGON")) {
      PolygonGeom(parsePolygonBody(s.substring("POLYGON".length)))
    } else if (upper.startsWith("MULTILINESTRING")) {
      val paths = splitTopLevelGroups(
        stripOuterParens(s.substring("MULTILINESTRING".length))).map(parseRing)
      require(paths.nonEmpty && paths.forall(_.size >= 2),
        s"MULTILINESTRING paths need >= 2 points each: $wkt")
      MultiLineStringGeom(paths)
    } else if (upper.startsWith("LINESTRING")) {
      val path = parseRing(s.substring("LINESTRING".length))
      require(path.size >= 2, s"LINESTRING needs >= 2 points: $wkt")
      LineStringGeom(path)
    } else throw new IllegalArgumentException(s"unsupported WKT geometry: $wkt")
  }

  /** "((x y, x y, ...), (hole...))" → Polygon */
  private def parsePolygonBody(body: String): Polygon = {
    val rings = splitTopLevelGroups(stripOuterParens(body)).map(parseRing)
    require(rings.nonEmpty, "POLYGON with no rings")
    Polygon(rings.head, rings.tail)
  }

  private def parsePolygonList(body: String): Seq[Polygon] =
    splitTopLevelGroups(stripOuterParens(body)).map(g => parsePolygonBody(g))

  private def parseRing(group: String): Ring = {
    val pts = stripOuterParens(group).split(",").map { pair =>
      val nums = parseNumbers(pair)
      require(nums.length == 2, s"ring coordinate needs 2 numbers: $pair")
      (nums(0), nums(1))
    }
    Ring(pts.map(_._1), pts.map(_._2))
  }

  private def parseNumbers(s: String): Array[Double] =
    s.replaceAll("[(),]", " ").trim.split("\\s+").filter(_.nonEmpty).map(_.toDouble)

  private def stripOuterParens(s0: String): String = {
    val s = s0.trim
    require(s.startsWith("(") && s.endsWith(")"), s"expected parenthesized group: $s0")
    s.substring(1, s.length - 1)
  }

  /** Split "(...),(...)" at depth-0 commas. */
  private def splitTopLevelGroups(s: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          out += s.substring(start, i).trim
          start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start).trim
    out.filter(_.nonEmpty).toSeq
  }

  // ------------------------------------------------------------- GeoJSON

  /** GeoJSON geometry document → WKT (Point / Polygon / MultiPolygon). */
  def geoJsonToWkt(json: String): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val ast = JsonMethods.parse(json)
    def coordsOf(v: JValue): JValue = v \ "coordinates"
    def num(v: JValue): Double = v match {
      case JDouble(d)  => d
      case JInt(i)     => i.toDouble
      case JLong(l)    => l.toDouble
      case JDecimal(d) => d.toDouble
      case other => throw new IllegalArgumentException(s"bad coordinate: $other")
    }
    def pt(v: JValue): String = v match {
      case JArray(xs) if xs.length >= 2 => s"${fmt(num(xs(0)))} ${fmt(num(xs(1)))}"
      case other => throw new IllegalArgumentException(s"bad point: $other")
    }
    def ring(v: JValue): String = v match {
      case JArray(pts) => pts.map(pt).mkString("(", ", ", ")")
      case other => throw new IllegalArgumentException(s"bad ring: $other")
    }
    def poly(v: JValue): String = v match {
      case JArray(rings) => rings.map(ring).mkString("(", ", ", ")")
      case other => throw new IllegalArgumentException(s"bad polygon: $other")
    }
    (ast \ "type") match {
      case JString("Point")        => s"POINT (${pt(coordsOf(ast))})"
      case JString("LineString")   => s"LINESTRING ${ring(coordsOf(ast))}"
      case JString("MultiLineString") => coordsOf(ast) match {
        case JArray(ls) => s"MULTILINESTRING ${ls.map(ring).mkString("(", ", ", ")")}"
        case other => throw new IllegalArgumentException(s"bad multilinestring: $other")
      }
      case JString("Polygon")      => s"POLYGON ${poly(coordsOf(ast))}"
      case JString("MultiPolygon") => coordsOf(ast) match {
        case JArray(ps) => s"MULTIPOLYGON ${ps.map(poly).mkString("(", ", ", ")")}"
        case other => throw new IllegalArgumentException(s"bad multipolygon: $other")
      }
      case JString("Feature")      => geoJsonToWkt(JsonMethods.compact(JsonMethods.render(ast \ "geometry")))
      case other => throw new IllegalArgumentException(s"unsupported GeoJSON type: $other")
    }
  }

  private def fmt(d: Double): String =
    if (d == d.toLong.toDouble) d.toLong.toString else d.toString

  // ----------------------------------------------------- parse cache
  // The reference keeps a 128Ki-entry LRU of parsed WKT per invocation
  // (beacon-functions/src/lib.rs:36-39). Executor-side equivalent: a
  // bounded per-JVM cache; WKT literals in a predicate repeat per row,
  // so hit rate is ~100% and parse cost is paid once per executor.
  private val cacheMax = 4096
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Geom]()

  def parseWktCached(wkt: String): Geom = {
    val hit = cache.get(wkt)
    if (hit != null) hit
    else {
      val g = parseWkt(wkt)
      if (cache.size < cacheMax) cache.put(wkt, g)
      g
    }
  }

  // ------------------------------------------------------ ST_* suite
  // Planar (Cartesian) semantics over the same POINT/POLYGON/
  // MULTIPOLYGON subset — the minimum viable slice of the reference's
  // geodatafusion registration (beacon-functions/src/lib.rs:32).

  /** shoelace area: |outer| − Σ|holes| per polygon, summed across a
    * multipolygon; points have zero area */
  def area(g: Geom): Double = g match {
    case PointGeom(_, _) => 0.0
    case PolygonGeom(p) => polyArea(p)
    case MultiPolygonGeom(ps) => ps.map(polyArea).sum
    case LineStringGeom(_) | MultiLineStringGeom(_) => 0.0
  }
  private def polyArea(p: Polygon): Double =
    math.max(0.0, ringAreaAbs(p.outer) - p.holes.map(ringAreaAbs).sum)
  private def ringAreaAbs(r: Ring): Double = {
    var s = 0.0
    var i = 0
    var j = r.size - 1
    while (i < r.size) {
      s += (r.xs(j) + r.xs(i)) * (r.ys(j) - r.ys(i))
      j = i
      i += 1
    }
    math.abs(s) / 2.0
  }

  private def rings(g: Geom): Seq[Ring] = g match {
    case PointGeom(_, _) => Nil
    case PolygonGeom(p) => p.outer +: p.holes
    case MultiPolygonGeom(ps) => ps.flatMap(p => p.outer +: p.holes)
    case LineStringGeom(_) | MultiLineStringGeom(_) => Nil
  }
  /** a line's open paths; empty for areal geometries and points */
  private def openPaths(g: Geom): Seq[Ring] = g match {
    case LineStringGeom(r) => Seq(r)
    case MultiLineStringGeom(rs) => rs
    case _ => Nil
  }
  /** every segment-bearing coordinate run: closed rings wrap, open
    * paths don't — the shared shape the pairwise segment tests walk */
  private def segRuns(g: Geom): Seq[(Ring, Boolean)] =
    rings(g).map((_, true)) ++ openPaths(g).map((_, false))
  def isLineal(g: Geom): Boolean = g match {
    case LineStringGeom(_) | MultiLineStringGeom(_) => true
    case _ => false
  }
  def isEmptyGeom(g: Geom): Boolean = g match {
    case MultiPolygonGeom(ps) => ps.isEmpty
    case MultiLineStringGeom(rs) => rs.isEmpty
    case _ => false
  }
  def isAreal(g: Geom): Boolean = g match {
    case PolygonGeom(_) | MultiPolygonGeom(_) => true
    case _ => false
  }
  private def vertices(g: Geom): Seq[(Double, Double)] = g match {
    case PointGeom(x, y) => Seq((x, y))
    case _ => segRuns(g).map(_._1)
      .flatMap(r => r.xs.indices.map(i => (r.xs(i), r.ys(i))))
  }

  @inline private def orient(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double): Double = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
  @inline private def onSeg(ax: Double, ay: Double, bx: Double, by: Double,
      px: Double, py: Double): Boolean =
    orient(ax, ay, bx, by, px, py) == 0.0 &&
      px >= math.min(ax, bx) && px <= math.max(ax, bx) &&
      py >= math.min(ay, by) && py <= math.max(ay, by)

  /** segment intersection, touching/collinear-overlap INCLUDED */
  private def segsIntersect(x1: Double, y1: Double, x2: Double, y2: Double,
      x3: Double, y3: Double, x4: Double, y4: Double): Boolean = {
    val d1 = orient(x3, y3, x4, y4, x1, y1)
    val d2 = orient(x3, y3, x4, y4, x2, y2)
    val d3 = orient(x1, y1, x2, y2, x3, y3)
    val d4 = orient(x1, y1, x2, y2, x4, y4)
    if (((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
        ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))) true
    else onSeg(x3, y3, x4, y4, x1, y1) || onSeg(x3, y3, x4, y4, x2, y2) ||
      onSeg(x1, y1, x2, y2, x3, y3) || onSeg(x1, y1, x2, y2, x4, y4)
  }

  /** strict interior crossing only (touching excluded) — the test
    * polygon-in-polygon containment needs */
  private def segsCrossProperly(x1: Double, y1: Double, x2: Double, y2: Double,
      x3: Double, y3: Double, x4: Double, y4: Double): Boolean = {
    val d1 = orient(x3, y3, x4, y4, x1, y1)
    val d2 = orient(x3, y3, x4, y4, x2, y2)
    val d3 = orient(x1, y1, x2, y2, x3, y3)
    val d4 = orient(x1, y1, x2, y2, x4, y4)
    ((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
      ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))
  }

  private def ringPairTest(a: Ring, b: Ring,
      test: (Double, Double, Double, Double, Double, Double, Double, Double) => Boolean): Boolean =
    runPairTest(a, aClosed = true, b, bClosed = true, test)

  /** pairwise segment test between two coordinate runs; a closed run
    * wraps (last→first), an open path doesn't */
  private def runPairTest(a: Ring, aClosed: Boolean, b: Ring, bClosed: Boolean,
      test: (Double, Double, Double, Double, Double, Double, Double, Double) => Boolean): Boolean = {
    var i = if (aClosed) 0 else 1
    var pi = if (aClosed) a.size - 1 else 0
    while (i < a.size) {
      var j = if (bClosed) 0 else 1
      var pj = if (bClosed) b.size - 1 else 0
      while (j < b.size) {
        if (test(a.xs(pi), a.ys(pi), a.xs(i), a.ys(i),
          b.xs(pj), b.ys(pj), b.xs(j), b.ys(j))) return true
        pj = j
        j += 1
      }
      pi = i
      i += 1
    }
    false
  }

  /** pairwise segment test across every run of two geometries */
  private def segPairAny(a: Geom, b: Geom,
      test: (Double, Double, Double, Double, Double, Double, Double, Double) => Boolean): Boolean =
    segRuns(a).exists { case (ra, ca) =>
      segRuns(b).exists { case (rb, cb) => runPairTest(ra, ca, rb, cb, test) }
    }

  /** boundary-inclusive intersection test: shared area, shared edge or
    * a single shared boundary point all count (the DE-9IM "intersects"
    * convention) */
  def intersects(a: Geom, b: Geom): Boolean = (a, b) match {
    case (PointGeom(x, y), _) => contains(b, x, y)
    case (_, PointGeom(x, y)) => contains(a, x, y)
    case _ =>
      vertices(a).exists { case (x, y) => contains(b, x, y) } ||
        vertices(b).exists { case (x, y) => contains(a, x, y) } ||
        segPairAny(a, b, segsIntersect)
  }

  private def holeRings(g: Geom): Seq[Ring] = g match {
    case PointGeom(_, _) => Nil
    case PolygonGeom(p) => p.holes
    case MultiPolygonGeom(ps) => ps.flatMap(_.holes)
    case LineStringGeom(_) | MultiLineStringGeom(_) => Nil
  }

  private def onBoundary(g: Geom, x: Double, y: Double): Boolean =
    rings(g).exists(onRingBoundary(_, x, y))

  /** boundary-inclusive containment: every vertex of `b` inside (or on
    * the boundary of) `a`, no PROPER edge crossing, and no hole of `a`
    * poking into `b`'s interior (probed at hole vertices and edge
    * midpoints — a hole overlapping `b` non-degenerately puts one of
    * those strictly inside `b`, or trips the proper-crossing test).
    * Exact for the polygon subset this engine parses up to degenerate
    * tangential contacts. */
  def containsGeom(a: Geom, b: Geom): Boolean = (a, b) match {
    // an empty operand contains and is contained by nothing (the
    // vacuous vertex check below would otherwise claim b ⊆ a)
    case _ if isEmptyGeom(a) || isEmptyGeom(b) => false
    case (_, PointGeom(x, y)) => contains(a, x, y)
    case (PointGeom(_, _), _) => false
    // 1-D can't contain 2-D
    case _ if isLineal(a) && isAreal(b) => false
    case _ =>
      def strictlyInB(x: Double, y: Double): Boolean =
        contains(b, x, y) && !onBoundary(b, x, y)
      vertices(b).forall { case (x, y) => contains(a, x, y) } &&
        !segPairAny(a, b, segsCrossProperly) &&
        // a lineal b probes its segment MIDPOINTS too: a chord between
        // two boundary points of a concave `a` (or a bend off a lineal
        // `a`) leaves `a` without ever properly crossing it — the
        // midpoint catches the non-degenerate escape
        (!isLineal(b) || openPaths(b).forall { r =>
          (1 until r.size).forall { i =>
            contains(a, (r.xs(i - 1) + r.xs(i)) / 2, (r.ys(i - 1) + r.ys(i)) / 2)
          }
        }) &&
        !holeRings(a).exists { h =>
          h.xs.indices.exists { i =>
            val j = if (i == 0) h.size - 1 else i - 1
            strictlyInB(h.xs(i), h.ys(i)) ||
              strictlyInB((h.xs(i) + h.xs(j)) / 2, (h.ys(i) + h.ys(j)) / 2)
          }
        } &&
        // a `b` that sits EXACTLY in a hole of `a` (rings coincide)
        // slips every boundary probe above — its centroid, when it is
        // provably an interior point of b, must still land inside a
        (b match {
          case PolygonGeom(p) => centroidInsideOk(a, Seq(p))
          case MultiPolygonGeom(ps) => centroidInsideOk(a, ps)
          case _ => true
        })
  }

  /** for each polygon whose own centroid is strictly interior to it
    * (convex and most concave shapes), that centroid must be inside
    * `a` — a cheap witness for coincident-ring containment holes */
  private def centroidInsideOk(a: Geom, ps: Seq[Polygon]): Boolean =
    ps.forall { p =>
      val g = PolygonGeom(p)
      val (cx, cy) = centroid(g)
      !(contains(g, cx, cy) && !onBoundary(g, cx, cy)) || contains(a, cx, cy)
    }

  @inline private def pointSegDist(px: Double, py: Double,
      x1: Double, y1: Double, x2: Double, y2: Double): Double = {
    val dx = x2 - x1
    val dy = y2 - y1
    val len2 = dx * dx + dy * dy
    val t =
      if (len2 == 0.0) 0.0
      else math.max(0.0, math.min(1.0, ((px - x1) * dx + (py - y1) * dy) / len2))
    val cx = x1 + t * dx
    val cy = y1 + t * dy
    // sqrt(dx²+dy²), not hypot: for exact-integer inputs both engines'
    // correctly-rounded sqrt agrees bit-for-bit; hypot may differ by 1
    // ulp from the oracle's sqrt formulation
    val ex = px - cx
    val ey = py - cy
    math.sqrt(ex * ex + ey * ey)
  }

  private def pointGeomDist(px: Double, py: Double, g: Geom): Double = g match {
    case PointGeom(x, y) =>
      val dx = px - x
      val dy = py - y
      math.sqrt(dx * dx + dy * dy)
    case _ =>
      if (contains(g, px, py)) 0.0
      else segRuns(g).foldLeft(Double.PositiveInfinity) { case (mn, (r, closed)) =>
        var m = mn
        var i = if (closed) 0 else 1
        var j = if (closed) r.size - 1 else 0
        while (i < r.size) {
          val d = pointSegDist(px, py, r.xs(j), r.ys(j), r.xs(i), r.ys(i))
          if (d < m) m = d
          j = i
          i += 1
        }
        m
      }
  }

  /** minimum planar distance; 0 when the geometries intersect. For the
    * polygon subset the closest pair is always (vertex, edge) in one
    * direction or the other, so the double vertex sweep is exact. */
  def distance(a: Geom, b: Geom): Double = {
    if (isEmptyGeom(a) || isEmptyGeom(b))
      throw new IllegalArgumentException(
        "st_distance: distance to an empty geometry is undefined")
    if (intersects(a, b)) return 0.0
    var mn = Double.PositiveInfinity
    vertices(a).foreach { case (x, y) =>
      val d = pointGeomDist(x, y, b); if (d < mn) mn = d
    }
    vertices(b).foreach { case (x, y) =>
      val d = pointGeomDist(x, y, a); if (d < mn) mn = d
    }
    mn
  }

  /** ST_X/ST_Y: the coordinate of a POINT; NaN for non-points (the
    * expression layer surfaces NaN as SQL NULL, PostGIS raises) */
  def pointX(g: Geom): Double = g match {
    case PointGeom(x, _) => x
    case _ => Double.NaN
  }
  def pointY(g: Geom): Double = g match {
    case PointGeom(_, y) => y
    case _ => Double.NaN
  }

  /** ST_NPoints: vertex count incl. the closing vertex of each ring */
  def nPoints(g: Geom): Int = g match {
    case PointGeom(_, _) => 1
    case PolygonGeom(p) => p.outer.size + p.holes.map(_.size).sum
    case MultiPolygonGeom(ps) =>
      ps.map(p => p.outer.size + p.holes.map(_.size).sum).sum
    case LineStringGeom(r) => r.size
    case MultiLineStringGeom(rs) => rs.map(_.size).sum
  }

  /** ST_Perimeter: total ring length (outer + holes); points and
    * lines 0 — perimeter is an AREAL measure (PostGIS convention;
    * [[length]] is the lineal one) */
  def perimeter(g: Geom): Double = g match {
    case PointGeom(_, _) => 0.0
    case PolygonGeom(p) => (p.outer +: p.holes).map(ringLength).sum
    case MultiPolygonGeom(ps) =>
      ps.flatMap(p => p.outer +: p.holes).map(ringLength).sum
    case LineStringGeom(_) | MultiLineStringGeom(_) => 0.0
  }

  /** ST_Length: total path length of a LINESTRING/MULTILINESTRING;
    * 0 for points and polygons — length is a LINEAL measure (PostGIS
    * convention; polygon outlines are [[perimeter]]). Stored paths
    * don't repeat their first vertex, so the consecutive-segment sum
    * [[ringLength]] computes is exactly the open-path length. */
  def length(g: Geom): Double = g match {
    case LineStringGeom(r) => ringLength(r)
    case MultiLineStringGeom(rs) => rs.map(ringLength).sum
    case _ => 0.0
  }
  private def ringLength(r: Ring): Double = {
    var s = 0.0
    var i = 1
    while (i < r.size) {
      val dx = r.xs(i) - r.xs(i - 1)
      val dy = r.ys(i) - r.ys(i - 1)
      s += math.sqrt(dx * dx + dy * dy)
      i += 1
    }
    s
  }

  /** ST_Centroid as WKT: points are their own centroid; polygons use
    * the area-weighted (shoelace) centroid of the outer ring minus
    * holes; multipolygons area-weight across members. Degenerate
    * (zero-area) polygons fall back to the vertex mean. */
  def centroidWkt(g: Geom): String = {
    val (cx, cy) = centroid(g)
    s"POINT (${fmt(cx)} ${fmt(cy)})"
  }
  def centroid(g: Geom): (Double, Double) = g match {
    // silent (0, 0) would be a lie — the loud-edges stance
    case _ if isEmptyGeom(g) => throw new IllegalArgumentException(
      "st_centroid: empty geometry has no centroid")
    case PointGeom(x, y) => (x, y)
    case PolygonGeom(p) => polyCentroid(Seq(p))
    case MultiPolygonGeom(ps) => polyCentroid(ps)
    case LineStringGeom(r) => lineCentroid(Seq(r))
    case MultiLineStringGeom(rs) => lineCentroid(rs)
  }

  /** lineal centroid: length-weighted mean of segment midpoints (the
    * PostGIS line centroid); a zero-length degenerate falls back to
    * the vertex mean */
  private def lineCentroid(paths: Seq[Ring]): (Double, Double) = {
    var len = 0.0; var cx = 0.0; var cy = 0.0
    paths.foreach { r =>
      var i = 1
      while (i < r.size) {
        val dx = r.xs(i) - r.xs(i - 1)
        val dy = r.ys(i) - r.ys(i - 1)
        val l = math.sqrt(dx * dx + dy * dy)
        len += l
        cx += l * (r.xs(i - 1) + r.xs(i)) / 2
        cy += l * (r.ys(i - 1) + r.ys(i)) / 2
        i += 1
      }
    }
    if (len == 0.0) {
      var n = 0; var sx = 0.0; var sy = 0.0
      paths.foreach { r =>
        var i = 0
        while (i < r.size) { sx += r.xs(i); sy += r.ys(i); n += 1; i += 1 }
      }
      (sx / math.max(n, 1), sy / math.max(n, 1))
    } else (cx / len, cy / len)
  }
  private def polyCentroid(ps: Seq[Polygon]): (Double, Double) = {
    // signed shoelace accumulation: holes (listed in either winding)
    // subtract because we normalize each ring's contribution sign
    var a = 0.0; var cx = 0.0; var cy = 0.0
    ps.foreach { p =>
      val (ra, rx, ry) = ringCentroidAcc(p.outer)
      a += ra; cx += rx; cy += ry
      p.holes.foreach { h =>
        val (ha, hx, hy) = ringCentroidAcc(h)
        a -= ha; cx -= hx; cy -= hy
      }
    }
    if (math.abs(a) < 1e-12) {
      // degenerate: mean of distinct vertices of the outer rings
      var n = 0; var sx = 0.0; var sy = 0.0
      ps.foreach { p =>
        var i = 0
        while (i < p.outer.size - 1) { // skip the closing vertex
          sx += p.outer.xs(i); sy += p.outer.ys(i); n += 1; i += 1
        }
      }
      (sx / math.max(n, 1), sy / math.max(n, 1))
    } else (cx / (3.0 * a), cy / (3.0 * a))
  }
  /** (|area|·sign-normalized, 6·area-weighted cx, cy) for one ring */
  private def ringCentroidAcc(r: Ring): (Double, Double, Double) = {
    var a = 0.0; var cx = 0.0; var cy = 0.0
    var i = 0
    var j = r.size - 1
    while (i < r.size) {
      val cross = r.xs(j) * r.ys(i) - r.xs(i) * r.ys(j)
      a += cross
      cx += (r.xs(j) + r.xs(i)) * cross
      cy += (r.ys(j) + r.ys(i)) * cross
      j = i
      i += 1
    }
    // normalize so every ring contributes positively (holes subtract
    // at the call site regardless of stored winding)
    val half = a / 2.0
    if (half < 0) (-half, -cx / 2.0, -cy / 2.0) else (half, cx / 2.0, cy / 2.0)
  }

  // -------------------------------------- envelope / dwithin / buffer

  /** (xmin, xmax, ymin, ymax); polygon bounds come from outer rings
    * (holes cannot extend the envelope) */
  def boundsOf(g: Geom): (Double, Double, Double, Double) = g match {
    case PointGeom(x, y) => (x, x, y, y)
    case PolygonGeom(p) => ringBounds(Seq(p.outer))
    case MultiPolygonGeom(ps) => ringBounds(ps.map(_.outer))
    case LineStringGeom(r) => ringBounds(Seq(r))
    case MultiLineStringGeom(rs) => ringBounds(rs)
  }

  private def ringBounds(rings: Seq[Ring]): (Double, Double, Double, Double) = {
    var x0 = Double.PositiveInfinity; var x1 = Double.NegativeInfinity
    var y0 = Double.PositiveInfinity; var y1 = Double.NegativeInfinity
    rings.foreach { r =>
      var i = 0
      while (i < r.size) {
        if (r.xs(i) < x0) x0 = r.xs(i); if (r.xs(i) > x1) x1 = r.xs(i)
        if (r.ys(i) < y0) y0 = r.ys(i); if (r.ys(i) > y1) y1 = r.ys(i)
        i += 1
      }
    }
    (x0, x1, y0, y1)
  }

  /** ST_Envelope: the axis-aligned bounding box as WKT — a POINT for
    * a point-degenerate box (PostGIS behavior), else the CCW box
    * polygon (a degenerate line-shaped box stays a zero-area POLYGON;
    * this slice has no LINESTRING type) */
  def envelopeWkt(g: Geom): String = {
    if (isEmptyGeom(g)) return "POLYGON EMPTY"
    val (x0, x1, y0, y1) = boundsOf(g)
    if (x0 == x1 && y0 == y1) s"POINT (${fmt(x0)} ${fmt(y0)})"
    else s"POLYGON ((${fmt(x0)} ${fmt(y0)}, ${fmt(x1)} ${fmt(y0)}, " +
      s"${fmt(x1)} ${fmt(y1)}, ${fmt(x0)} ${fmt(y1)}, ${fmt(x0)} ${fmt(y0)}))"
  }

  /** ST_Buffer on a POINT: the inscribed `segs`-gon of the radius-`r`
    * circle, vertices at angle 2πi/segs starting on the +x axis —
    * the deterministic fixed-segment shape an independent replay can
    * reconstruct. Non-points throw (this slice buffers points only —
    * the observation-radius use case). */
  /** Round-join, round-cap buffer — POINT discs (the original r11
    * surface, byte-identical), and since r14 LINESTRING corridors and
    * hole-free POLYGON outward expansion. `segs` is the TOTAL arc
    * segment count around a full circle (the r11 contract; PostGIS
    * quad_segs × 4); joins and caps subdivide their sweep at the same
    * angular pitch, with vertices ON the radius-r circle so fixture
    * measures have closed forms.
    *
    * Corridors are computed by DIRECT OFFSET TRACING — each side of
    * the path offsets by r, the outer side of every turn takes an arc
    * swept in the turn direction, the inner side takes the adjacent
    * offset-lines intersection (a trim) — NOT by unioning per-segment
    * rectangles, so the Greiner–Hormann general-position limits
    * (adjacent pieces meeting in collinear shared edges) never arise.
    * The domain is validated, not assumed: a trim falling outside
    * either adjacent offset segment, a path reversing direction, or a
    * traced ring that self-intersects (turns tighter than the radius,
    * path doubling back within r) raises a named error instead of
    * returning a wrong polygon. Trig goes through StrictMath for
    * cross-platform bit-determinism (the soft-EM stance). */
  def bufferWkt(g: Geom, r: Double, segs: Int): String = {
    require(r != 0 && !r.isNaN, s"st_buffer radius must be non-zero: $r")
    require(segs >= 4, s"st_buffer needs at least 4 segments: $segs")
    // r15: a NEGATIVE radius is erosion — inward offset, components
    // may split (MULTIPOLYGON) or vanish (POLYGON EMPTY)
    if (r < 0) return erodeWkt(g, -r, segs)
    g match {
      case PointGeom(cx, cy) =>
        // the r11 emission, byte-for-byte (starts at angle 0, CCW)
        val sb = new StringBuilder("POLYGON ((")
        var i = 0
        while (i <= segs) { // closing vertex repeats i = 0
          val a = 2.0 * math.Pi * (i % segs) / segs
          if (i > 0) sb.append(", ")
          // StrictMath like every other trig site in this file:
          // Math.cos/sin may use platform intrinsics that differ by an
          // ulp across architectures, breaking byte-identical replay
          sb.append(fmt(cx + r * StrictMath.cos(a))).append(' ')
            .append(fmt(cy + r * StrictMath.sin(a)))
          i += 1
        }
        sb.append("))").toString
      case LineStringGeom(path) =>
        val pts = dedupeConsecutive(openPathPts(path))
        require(pts.length >= 2,
          "st_buffer: a linestring needs two distinct points")
        ghToWkt(Seq(validateSimpleRing(pathBufferRing(pts, r, segs))))
      case PolygonGeom(p) =>
        require(p.holes.isEmpty,
          "st_buffer: polygons with holes are not supported")
        val ring = dedupeConsecutive(openCcw(p, "st_buffer"))
        ghToWkt(Seq(validateSimpleRing(ringBufferRing(ring, r, segs))))
      case MultiPolygonGeom(Nil) | MultiLineStringGeom(Nil) =>
        "POLYGON EMPTY" // buffer of an empty geometry is empty
      case MultiLineStringGeom(paths) =>
        val rings = paths.map { p =>
          val pts = dedupeConsecutive(openPathPts(p))
          require(pts.length >= 2,
            "st_buffer: a linestring needs two distinct points")
          validateSimpleRing(pathBufferRing(pts, r, segs))
        }
        // component corridors must be pairwise DISJOINT — overlapping
        // corridors would need a polygon union (the Greiner–Hormann
        // general-position territory this tracer exists to avoid), so
        // raise loudly instead of emitting overlapping components;
        // each traced corridor converts to a Ring once, not once per
        // (i, j) pair
        val ringObjs = rings.map(r => Ring(r.map(_._1), r.map(_._2)))
        var i = 0
        while (i < rings.length) {
          var j = i + 1
          while (j < rings.length) {
            val a = ringObjs(i)
            val b = ringObjs(j)
            if (ringPairTest(a, b, segsIntersect) ||
                ringContains(a, rings(j)(0)._1, rings(j)(0)._2) ||
                ringContains(b, rings(i)(0)._1, rings(i)(0)._2))
              throw new IllegalArgumentException(
                s"st_buffer: multilinestring corridors $i and $j overlap " +
                  "— unsupported input")
            j += 1
          }
          i += 1
        }
        ghToWkt(rings)
      case other => throw new IllegalArgumentException(
        s"st_buffer: unsupported geometry ${other.getClass.getSimpleName} — " +
          "POINT, LINESTRING and hole-free POLYGON only")
    }
  }

  // ------------------------------------------- polygon intersection

  /** Sutherland–Hodgman: clip `subject` (any simple ring) against a
    * CONVEX `clip` ring. Returns the clipped vertex list (unclosed;
    * empty = no overlap). Works in doubles with exact line-segment
    * parameter arithmetic — deterministic, no epsilon. */
  def clipRing(subject: Ring, clip: Ring): Array[(Double, Double)] = {
    // orientation of the clip ring (signed area) decides inside-ness
    var a2 = 0.0
    var i = 0; var j = clip.size - 1
    while (i < clip.size) {
      a2 += clip.xs(j) * clip.ys(i) - clip.xs(i) * clip.ys(j)
      j = i; i += 1
    }
    val ccw = a2 > 0
    def inside(ex: Double, ey: Double, fx: Double, fy: Double,
        px: Double, py: Double): Boolean = {
      val cross = (fx - ex) * (py - ey) - (fy - ey) * (px - ex)
      if (ccw) cross >= 0 else cross <= 0
    }
    var out = {
      // drop the closing duplicate if present
      val n = subject.size
      val m = if (n > 1 && subject.xs(0) == subject.xs(n - 1) &&
        subject.ys(0) == subject.ys(n - 1)) n - 1 else n
      Array.tabulate(m)(k => (subject.xs(k), subject.ys(k)))
    }
    val cn = clip.size
    val cm = if (cn > 1 && clip.xs(0) == clip.xs(cn - 1) &&
      clip.ys(0) == clip.ys(cn - 1)) cn - 1 else cn
    var e = 0
    while (e < cm && out.nonEmpty) {
      val (ex, ey) = (clip.xs(e), clip.ys(e))
      val (fx, fy) = (clip.xs((e + 1) % cm), clip.ys((e + 1) % cm))
      val in2 = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      var k = 0
      while (k < out.length) {
        val (sx, sy) = out((k + out.length - 1) % out.length)
        val (px, py) = out(k)
        val sIn = inside(ex, ey, fx, fy, sx, sy)
        val pIn = inside(ex, ey, fx, fy, px, py)
        def intersect(): (Double, Double) = {
          val dcx = fx - ex; val dcy = fy - ey
          val dpx = px - sx; val dpy = py - sy
          val denom = dcx * dpy - dcy * dpx
          val t = (dcx * (sy - ey) - dcy * (sx - ex)) / -denom
          (sx + t * dpx, sy + t * dpy)
        }
        if (pIn) { if (!sIn) in2 += intersect(); in2 += ((px, py)) }
        else if (sIn) in2 += intersect()
        k += 1
      }
      out = in2.toArray
      e += 1
    }
    out
  }

  /** ST_Intersection AREA of two polygons — the overlap measure
    * spatial dedup/coverage work needs, without a WKT geometry-
    * collection type. The CLIP side (b) must be convex (Sutherland–
    * Hodgman's contract); the subject may be any simple polygon.
    * Holes on the subject clip independently and subtract. Points and
    * degenerate overlaps yield 0. */
  def intersectionArea(a: Geom, b: Geom): Double = {
    def shoelace(pts: Array[(Double, Double)]): Double = {
      if (pts.length < 3) return 0.0
      var s = 0.0
      var i = 0; var j = pts.length - 1
      while (i < pts.length) {
        s += pts(j)._1 * pts(i)._2 - pts(i)._1 * pts(j)._2
        j = i; i += 1
      }
      math.abs(s) / 2.0
    }
    def convex(r: Ring): Boolean = {
      val n = if (r.size > 1 && r.xs(0) == r.xs(r.size - 1) &&
        r.ys(0) == r.ys(r.size - 1)) r.size - 1 else r.size
      if (n < 3) return false
      var sign = 0
      var i = 0
      while (i < n) {
        val (x0, y0) = (r.xs(i), r.ys(i))
        val (x1, y1) = (r.xs((i + 1) % n), r.ys((i + 1) % n))
        val (x2, y2) = (r.xs((i + 2) % n), r.ys((i + 2) % n))
        val cross = (x1 - x0) * (y2 - y1) - (y1 - y0) * (x2 - x1)
        if (cross != 0) {
          val s = if (cross > 0) 1 else -1
          if (sign == 0) sign = s else if (sign != s) return false
        }
        i += 1
      }
      true
    }
    val clipPolys: Seq[Polygon] = b match {
      case PolygonGeom(p) => Seq(p)
      case MultiPolygonGeom(ps) => ps
      case _ => return 0.0 // points and lines have zero area
    }
    val subjPolys: Seq[Polygon] = a match {
      case PolygonGeom(p) => Seq(p)
      case MultiPolygonGeom(ps) => ps
      case _ => return 0.0
    }
    clipPolys.map { cp =>
      require(cp.holes.isEmpty,
        "st_intersection_area: the second geometry must have no holes")
      if (convex(cp.outer)) {
        // convex clip: Sutherland–Hodgman, the exact original path
        subjPolys.map { sp =>
          val outer = shoelace(clipRing(sp.outer, cp.outer))
          val holes = sp.holes.map(h => shoelace(clipRing(h, cp.outer))).sum
          outer - holes
        }.sum
      } else {
        // CONCAVE clip (r12): the general Greiner–Hormann path —
        // subject rings (outer minus holes) clip independently
        subjPolys.map { sp =>
          val outer = ghRingIntersectionArea(sp.outer, cp.outer)
          val holes = sp.holes.map(h => ghRingIntersectionArea(h, cp.outer)).sum
          outer - holes
        }.sum
      }
    }.sum
  }

  /** intersection area of two simple rings via the general clipper */
  private def ghRingIntersectionArea(sr: Ring, cr: Ring): Double = {
    val what = "st_intersection_area"
    val s = openCcw(Polygon(sr, Nil), what)
    val c = openCcw(Polygon(cr, Nil), what)
    val crossings = ghCrossings(s, c, what)
    if (crossings.isEmpty) {
      if (polygonContains(Polygon(cr, Nil), s(0)._1, s(0)._2))
        math.abs(signedArea(s))
      else if (polygonContains(Polygon(sr, Nil), c(0)._1, c(0)._2))
        math.abs(signedArea(c))
      else 0.0
    } else {
      val (sh, _) = ghBuildMarked(s, c, Polygon(sr, Nil), Polygon(cr, Nil), crossings)
      // components of Jordan-domain intersections are simply connected:
      // every traced ring is an outer, the signed areas just sum
      ghTrace(sh, union = false).map(signedArea).sum
    }
  }

  // ------------------------------------- general polygon booleans
  // Greiner–Hormann clipping (Greiner & Hormann 1998, "Efficient
  // clipping of arbitrary polygons", ACM TOG 17(2)) — concave ×
  // concave intersection and union, multi-component results included.
  // Contract: both inputs are SIMPLE polygons without holes in general
  // position — a vertex lying exactly on the other ring's edge, or
  // collinear overlapping edges, raise a named error rather than
  // guessing (the perturbation-free algorithm's documented limit).

  private final class GhNode(val x: Double, val y: Double) {
    var next: GhNode = _
    var prev: GhNode = _
    var twin: GhNode = _
    var isIx = false    // intersection node
    var entry = false   // entering the other polygon when crossed
    var visited = false
  }

  /** open CCW vertex list of a no-hole polygon ring */
  private def openCcw(p: Polygon, what: String): Array[(Double, Double)] = {
    require(p.holes.isEmpty, s"$what: polygons with holes are not supported")
    val pts = openRing(p.outer)
    require(pts.length >= 3, s"$what: degenerate ring")
    if (signedArea(pts) >= 0) pts else pts.reverse
  }

  /** all proper pairwise edge crossings, as (subjEdge, t, clipEdge, u,
    * x, y); endpoint/collinear touches fail loudly */
  private def ghCrossings(s: Array[(Double, Double)], c: Array[(Double, Double)],
      what: String): Seq[(Int, Double, Int, Double, Double, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Int, Double, Double, Double)]
    var i = 0
    while (i < s.length) {
      val (p1x, p1y) = s(i); val (p2x, p2y) = s((i + 1) % s.length)
      var j = 0
      while (j < c.length) {
        val (q1x, q1y) = c(j); val (q2x, q2y) = c((j + 1) % c.length)
        val d1x = p2x - p1x; val d1y = p2y - p1y
        val d2x = q2x - q1x; val d2y = q2y - q1y
        val denom = d1x * d2y - d1y * d2x
        if (denom != 0) {
          val t = ((q1x - p1x) * d2y - (q1y - p1y) * d2x) / denom
          val u = ((q1x - p1x) * d1y - (q1y - p1y) * d1x) / denom
          if (t > 0 && t < 1 && u > 0 && u < 1)
            out += ((i, t, j, u, p1x + t * d1x, p1y + t * d1y))
          else if ((t == 0 || t == 1) && u >= 0 && u <= 1)
            throw new IllegalArgumentException(
              s"$what: vertex-on-edge touch at (${p1x + t * d1x}, ${p1y + t * d1y}) — general-position inputs required")
          else if ((u == 0 || u == 1) && t >= 0 && t <= 1)
            throw new IllegalArgumentException(
              s"$what: vertex-on-edge touch at (${q1x + u * d2x}, ${q1y + u * d2y}) — general-position inputs required")
        } else {
          // parallel: reject only collinear OVERLAP (distinct parallels are fine)
          val cross1 = (q1x - p1x) * d1y - (q1y - p1y) * d1x
          if (cross1 == 0) {
            val lo1 = math.min(p1x, p2x); val hi1 = math.max(p1x, p2x)
            val lo2 = math.min(q1x, q2x); val hi2 = math.max(q1x, q2x)
            val loy1 = math.min(p1y, p2y); val hiy1 = math.max(p1y, p2y)
            val loy2 = math.min(q1y, q2y); val hiy2 = math.max(q1y, q2y)
            if (math.max(lo1, lo2) < math.min(hi1, hi2) ||
                math.max(loy1, loy2) < math.min(hiy1, hiy2))
              throw new IllegalArgumentException(
                s"$what: collinear overlapping edges — general-position inputs required")
          }
        }
        j += 1
      }
      i += 1
    }
    out.toSeq
  }

  /** build both circular lists with intersection twins linked */
  private def ghBuild(s: Array[(Double, Double)], c: Array[(Double, Double)],
      crossings: Seq[(Int, Double, Int, Double, Double, Double)]): (GhNode, GhNode) = {
    def ring(pts: Array[(Double, Double)],
        inserts: Map[Int, Seq[(Double, GhNode)]]): GhNode = {
      val nodes = scala.collection.mutable.ArrayBuffer.empty[GhNode]
      var i = 0
      while (i < pts.length) {
        nodes += new GhNode(pts(i)._1, pts(i)._2)
        inserts.getOrElse(i, Nil).sortBy(_._1).foreach { case (_, n) => nodes += n }
        i += 1
      }
      var k = 0
      while (k < nodes.length) {
        nodes(k).next = nodes((k + 1) % nodes.length)
        nodes(k).prev = nodes((k + nodes.length - 1) % nodes.length)
        k += 1
      }
      nodes.head
    }
    val pairs = crossings.map { case (i, t, j, u, x, y) =>
      val a = new GhNode(x, y); a.isIx = true
      val b = new GhNode(x, y); b.isIx = true
      a.twin = b; b.twin = a
      (i, t, a, j, u, b)
    }
    val sHead = ring(s, pairs.groupBy(_._1).map { case (i, xs) =>
      i -> xs.map(p => (p._2, p._3)) })
    val cHead = ring(c, pairs.groupBy(_._4).map { case (j, xs) =>
      j -> xs.map(p => (p._5, p._6)) })
    (sHead, cHead)
  }

  /** build + entry-mark both lists in one step */
  private def ghBuildMarked(s: Array[(Double, Double)], c: Array[(Double, Double)],
      pa: Polygon, pb: Polygon,
      crossings: Seq[(Int, Double, Int, Double, Double, Double)]): (GhNode, GhNode) = {
    val (sHead, cHead) = ghBuild(s, c, crossings)
    ghMarkEntries(sHead, pb)
    ghMarkEntries(cHead, pa)
    (sHead, cHead)
  }

  /** mark entry/exit: walking the list, intersections alternate
    * starting from whether the list's head lies inside `other` */
  private def ghMarkEntries(head: GhNode, other: Polygon): Unit = {
    var inside = polygonContains(other, head.x, head.y)
    var cur = head
    do {
      if (cur.isIx) { cur.entry = !inside; inside = !inside }
      cur = cur.next
    } while (cur ne head)
  }

  private def ghCollect(head: GhNode): Seq[GhNode] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[GhNode]
    var cur = head
    do { if (cur.isIx) out += cur; cur = cur.next } while (cur ne head)
    out.toSeq
  }

  /** trace result rings; `union` flips the traversal direction rule */
  private def ghTrace(sHead: GhNode, union: Boolean): Seq[Array[(Double, Double)]] = {
    val rings = scala.collection.mutable.ArrayBuffer.empty[Array[(Double, Double)]]
    ghCollect(sHead).foreach { start =>
      if (!start.visited) {
        val ring = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
        var cur = start
        ring += ((cur.x, cur.y))
        do {
          cur.visited = true
          if (cur.twin != null) cur.twin.visited = true
          val forward = if (union) !cur.entry else cur.entry
          if (forward) {
            do { cur = cur.next; ring += ((cur.x, cur.y)) } while (!cur.isIx)
          } else {
            do { cur = cur.prev; ring += ((cur.x, cur.y)) } while (!cur.isIx)
          }
          cur = cur.twin
        } while ((cur ne start) && (cur.twin ne start))
        ring.remove(ring.length - 1) // the closing intersection repeats
        // union traverses both lists BACKWARD along the exterior, so its
        // raw rings come out with reversed orientation — normalize here
        // so outers are CCW-positive for both operations
        rings += (if (union) ring.reverse.toArray else ring.toArray)
      }
    }
    rings.toSeq
  }

  private def signedArea(pts: Array[(Double, Double)]): Double = {
    var s = 0.0
    var i = 0; var j = pts.length - 1
    while (i < pts.length) {
      s += pts(j)._1 * pts(i)._2 - pts(i)._1 * pts(j)._2
      j = i; i += 1
    }
    s / 2.0
  }

  /** canonical: rotate to lexicographically smallest vertex; outers
    * CCW, holes CW */
  private def canonRing(pts0: Array[(Double, Double)], ccw: Boolean): Array[(Double, Double)] = {
    val pts = if ((signedArea(pts0) > 0) == ccw) pts0 else pts0.reverse
    var best = 0
    var i = 1
    while (i < pts.length) {
      if (pts(i)._1 < pts(best)._1 ||
        (pts(i)._1 == pts(best)._1 && pts(i)._2 < pts(best)._2)) best = i
      i += 1
    }
    Array.tabulate(pts.length)(k => pts((best + k) % pts.length))
  }

  /** result rings → WKT. Trace orientation cannot distinguish holes
    * (a union's hole ring traces with the same handedness as its
    * outers), so classification is by CONTAINMENT DEPTH: a ring whose
    * lead vertex sits inside an odd number of other rings is a hole of
    * the outer that contains it. */
  private def ghToWkt(rings0: Seq[Array[(Double, Double)]]): String = {
    val rings = rings0.filter(r => r.length >= 3 && signedArea(r) != 0)
    if (rings.isEmpty) return "POLYGON EMPTY"
    def containsPt(outer: Array[(Double, Double)], x: Double, y: Double): Boolean =
      ringContains(Ring(outer.map(_._1), outer.map(_._2)), x, y)
    val depth = rings.map(r =>
      rings.count(o => (o ne r) && containsPt(o, r(0)._1, r(0)._2)))
    val outers = rings.zip(depth).collect { case (r, d) if d % 2 == 0 =>
      canonRing(r, ccw = true) }.sortBy(r => (r(0)._1, r(0)._2))
    val holes = rings.zip(depth).collect { case (r, d) if d % 2 == 1 =>
      canonRing(r, ccw = false) }
    val polys = outers.map { o =>
      (o, holes.filter(h => containsPt(o, h(0)._1, h(0)._2)))
    }
    def ringStr(r: Array[(Double, Double)]): String =
      "(" + (r :+ r(0)).map { case (x, y) => fmt(x) + " " + fmt(y) }
        .mkString(", ") + ")"
    def polyStr(p: (Array[(Double, Double)], Seq[Array[(Double, Double)]])): String =
      "(" + (p._1 +: p._2).map(ringStr).mkString(", ") + ")"
    if (polys.length == 1) "POLYGON " + polyStr(polys.head)
    else "MULTIPOLYGON (" + polys.map(polyStr).mkString(", ") + ")"
  }

  private def polyWkt(p: Array[(Double, Double)]): String =
    ghToWkt(Seq(canonRing(p, ccw = true)))

  /** st_intersection / st_union over two simple no-hole polygons */
  private val OpIntersection = 0
  private val OpUnion = 1
  private val OpDifference = 2

  /** one scaffold for all three Greiner–Hormann booleans — the
    * empty-operand short circuits, POLYGON type checks, crossing
    * detection, and no-crossing containment classification live
    * exactly once; the ops differ only in their per-branch outcomes,
    * in whether the subject's entry flags invert (difference =
    * A ∩ complement(B)), and in the trace-direction rule (union) */
  private def ghOp(a: Geom, b: Geom, op: Int): String = {
    val what = op match {
      case OpUnion => "st_union"
      case OpDifference => "st_difference"
      case _ => "st_intersection"
    }
    def asPoly(g: Geom): Polygon = g match {
      case PolygonGeom(p) => p
      case _ => throw new IllegalArgumentException(
        s"$what expects two POLYGON geometries")
    }
    // empty operands: ∩ with ∅ = ∅; ∪ with ∅ = the other side;
    // ∅ \ B = ∅ and A \ ∅ = A
    (isEmptyGeom(a), isEmptyGeom(b)) match {
      case (true, true) => return "POLYGON EMPTY"
      case (true, false) =>
        return if (op == OpUnion) polyWkt(openCcw(asPoly(b), what))
        else "POLYGON EMPTY"
      case (false, true) =>
        return if (op == OpIntersection) "POLYGON EMPTY"
        else polyWkt(openCcw(asPoly(a), what))
      case _ => ()
    }
    val pa = asPoly(a); val pb = asPoly(b)
    val s = openCcw(pa, what)
    val c = openCcw(pb, what)
    val crossings = ghCrossings(s, c, what)
    if (crossings.isEmpty) {
      val sInC = polygonContains(pb, s(0)._1, s(0)._2)
      val cInS = polygonContains(pa, c(0)._1, c(0)._2)
      return op match {
        case OpIntersection =>
          if (sInC) polyWkt(s)          // a ⊂ b
          else if (cInS) polyWkt(c)     // b ⊂ a
          else "POLYGON EMPTY"          // disjoint
        case OpUnion =>
          if (sInC) polyWkt(c)
          else if (cInS) polyWkt(s)
          else ghToWkt(Seq(canonRing(s, ccw = true), canonRing(c, ccw = true)))
        case _ =>                       // difference
          if (sInC) "POLYGON EMPTY"     // a ⊆ b
          else if (cInS)                // b punches a hole in a
            ghToWkt(Seq(canonRing(s, ccw = true), canonRing(c, ccw = false)))
          else polyWkt(s)               // disjoint
      }
    }
    val (sHead, _) = ghBuildMarked(s, c, pa, pb, crossings)
    if (op == OpDifference) ghInvertEntries(sHead)
    ghToWkt(ghTrace(sHead, union = op == OpUnion))
  }

  def unionWkt(a: Geom, b: Geom): String = ghOp(a, b, OpUnion)
  def intersectionWkt(a: Geom, b: Geom): String = ghOp(a, b, OpIntersection)

  /** st_difference (r15): A \ B over two simple no-hole polygons via
    * [[ghOp]] — the subject list's entry flags invert, the
    * intersection trace runs unchanged. No-crossing configurations
    * close-form: disjoint → A; B ⊂ A → A with hole B; A ⊆ B → EMPTY.
    * A severing clip yields MULTIPOLYGON. Same general-position
    * contract as the other booleans. */
  def differenceWkt(a: Geom, b: Geom): String = ghOp(a, b, OpDifference)

  /** flip every crossing's entry flag along one list — the classic
    * Greiner–Hormann way to turn the intersection trace into a
    * DIFFERENCE: A \ B = A ∩ complement(B), and complementing B is
    * exactly inverting what "entering B" means on the subject */
  private def ghInvertEntries(head: GhNode): Unit = {
    var cur = head
    do { if (cur.isIx) cur.entry = !cur.entry; cur = cur.next } while (cur ne head)
  }

  // ------------------------------------------- hull & simplification

  /** open vertex list of a ring (closing duplicate dropped) */
  private def openRing(r: Ring): Array[(Double, Double)] = {
    // strip EVERY trailing repeat of the first vertex — a doubled
    // closing point would survive a single strip and leave a
    // zero-length wrap segment downstream
    var n = r.size
    while (n > 1 && r.xs(0) == r.xs(n - 1) && r.ys(0) == r.ys(n - 1)) n -= 1
    Array.tabulate(n)(k => (r.xs(k), r.ys(k)))
  }

  /** ST_ConvexHull: hull of every vertex (Andrew's monotone chain,
    * strict turns — collinear mid-edge points drop). Holes never
    * contribute (they lie inside their outer). POINT for a single
    * distinct point; an all-collinear vertex set degrades to the
    * LINESTRING between its extreme points (PostGIS behavior — r14,
    * possible now that the model has a lineal type). */
  def convexHullWkt(g: Geom): String = {
    if (isEmptyGeom(g)) return "POLYGON EMPTY"
    val pts: Array[(Double, Double)] = (g match {
      case PointGeom(x, y) => Array((x, y))
      case PolygonGeom(p) => openRing(p.outer)
      case MultiPolygonGeom(ps) => ps.toArray.flatMap(p => openRing(p.outer))
      case LineStringGeom(r) => r.xs.indices.toArray.map(i => (r.xs(i), r.ys(i)))
      case MultiLineStringGeom(rs) =>
        rs.toArray.flatMap(r => r.xs.indices.map(i => (r.xs(i), r.ys(i))))
    }).distinct
    if (pts.length == 1)
      return s"POINT (${fmt(pts(0)._1)} ${fmt(pts(0)._2)})"
    val s = pts.sortBy(p => (p._1, p._2))
    def cross(o: (Double, Double), a: (Double, Double), b: (Double, Double)) =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    def chain(seq: IndexedSeq[(Double, Double)]) = {
      val st = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      seq.foreach { p =>
        while (st.length >= 2 && cross(st(st.length - 2), st(st.length - 1), p) <= 0)
          st.remove(st.length - 1)
        st += p
      }
      st
    }
    val hull = (chain(s).dropRight(1) ++ chain(s.reverse).dropRight(1)).toArray
    if (hull.length < 3) {
      val lo = s.head
      val hi = s.last
      return s"LINESTRING (${fmt(lo._1)} ${fmt(lo._2)}, ${fmt(hi._1)} ${fmt(hi._2)})"
    }
    polyWkt(hull)
  }

  /** ST_Simplify: Douglas–Peucker with the standard two-anchor ring
    * form — each ring anchors at its lead vertex and the vertex
    * farthest from it, then DP runs over the two open halves (a single
    * anchor's chords cross the interior and retain spurious points).
    * `tol` = max perpendicular deviation a removed vertex may have
    * from its local chord. A ring left with fewer than 3 distinct
    * vertices drops — a dropped outer drops its polygon (POLYGON
    * EMPTY when none remain), a dropped hole just disappears. */
  def simplifyWkt(g: Geom, tol: Double): String = {
    require(tol >= 0, "st_simplify: tolerance must be non-negative")
    g match {
      case PointGeom(x, y) => s"POINT (${fmt(x)} ${fmt(y)})"
      case PolygonGeom(p) => simplifiedToWkt(simplifyPolygon(p, tol).toSeq)
      case MultiPolygonGeom(ps) =>
        simplifiedToWkt(ps.flatMap(simplifyPolygon(_, tol)))
      // open paths anchor at their two ENDPOINTS (the classic DP form —
      // no wrap, no second-anchor search) and always survive
      case LineStringGeom(r) =>
        lineStr("LINESTRING", simplifyPath(r, tol))
      case MultiLineStringGeom(rs) if rs.isEmpty => "MULTILINESTRING EMPTY"
      case MultiLineStringGeom(rs) =>
        val ps = rs.map(simplifyPath(_, tol))
        if (ps.length == 1) lineStr("LINESTRING", ps.head)
        else "MULTILINESTRING (" + ps.map(p =>
          "(" + p.map { case (x, y) => fmt(x) + " " + fmt(y) }
            .mkString(", ") + ")").mkString(", ") + ")"
    }
  }

  private def lineStr(tag: String, pts: Array[(Double, Double)]): String =
    tag + " (" + pts.map { case (x, y) => fmt(x) + " " + fmt(y) }
      .mkString(", ") + ")"

  /** Douglas–Peucker over an OPEN path, endpoints fixed */
  private def simplifyPath(r: Ring, tol: Double): Array[(Double, Double)] = {
    val pts = r.xs.indices.map(i => (r.xs(i), r.ys(i))).toArray
    if (pts.length <= 2) return pts
    def lineDist(p: (Double, Double), a: (Double, Double), b: (Double, Double)): Double = {
      val bx = b._1 - a._1; val by = b._2 - a._2
      val len = math.sqrt(bx * bx + by * by)
      if (len == 0) math.hypot(p._1 - a._1, p._2 - a._2)
      else math.abs(bx * (p._2 - a._2) - by * (p._1 - a._1)) / len
    }
    val keep = Array.fill(pts.length)(false)
    keep(0) = true; keep(pts.length - 1) = true
    def dp(lo: Int, hi: Int): Unit = {
      if (hi <= lo + 1) return
      var best = -1; var bd = -1.0
      var k = lo + 1
      while (k < hi) {
        val d = lineDist(pts(k), pts(lo), pts(hi))
        if (d > bd) { bd = d; best = k }
        k += 1
      }
      if (bd > tol) { keep(best) = true; dp(lo, best); dp(best, hi) }
    }
    dp(0, pts.length - 1)
    pts.indices.filter(keep).map(pts).toArray
  }

  private def simplifyPolygon(p: Polygon, tol: Double)
      : Option[(Array[(Double, Double)], Seq[Array[(Double, Double)]])] =
    simplifyRing(openRing(p.outer), tol).map { o =>
      (o, p.holes.flatMap(h => simplifyRing(openRing(h), tol)))
    }

  private def simplifyRing(pts: Array[(Double, Double)],
      tol: Double): Option[Array[(Double, Double)]] = {
    if (pts.distinct.length < 3) return None
    // second anchor: farthest vertex from the lead
    var far = 1; var fd = -1.0
    var i = 1
    while (i < pts.length) {
      val dx = pts(i)._1 - pts(0)._1; val dy = pts(i)._2 - pts(0)._2
      val d = dx * dx + dy * dy
      if (d > fd) { fd = d; far = i }
      i += 1
    }
    val keep = Array.fill(pts.length)(false)
    keep(0) = true; keep(far) = true
    def lineDist(p: (Double, Double), a: (Double, Double), b: (Double, Double)): Double = {
      val bx = b._1 - a._1; val by = b._2 - a._2
      val len = math.sqrt(bx * bx + by * by)
      if (len == 0) math.hypot(p._1 - a._1, p._2 - a._2)
      else math.abs(bx * (p._2 - a._2) - by * (p._1 - a._1)) / len
    }
    // dp over chain indices lo..hi in ring order (hi may wrap past n)
    def at(k: Int) = pts(k % pts.length)
    def dp(lo: Int, hi: Int): Unit = {
      if (hi <= lo + 1) return
      var best = -1; var bd = -1.0
      var k = lo + 1
      while (k < hi) {
        val d = lineDist(at(k), at(lo), at(hi))
        if (d > bd) { bd = d; best = k }
        k += 1
      }
      if (bd > tol) { keep(best % pts.length) = true; dp(lo, best); dp(best, hi) }
    }
    dp(0, far)
    dp(far, pts.length) // wraps back to the lead anchor
    val kept = pts.indices.filter(keep).map(pts).toArray
    if (kept.distinct.length >= 3) Some(kept) else None
  }

  /** rings with explicit outer/hole structure → WKT (outers CCW,
    * holes CW, canonical lead vertex) */
  private def simplifiedToWkt(
      polys: Seq[(Array[(Double, Double)], Seq[Array[(Double, Double)]])]): String = {
    if (polys.isEmpty) return "POLYGON EMPTY"
    def ringStr(r: Array[(Double, Double)]): String =
      "(" + (r :+ r(0)).map { case (x, y) => fmt(x) + " " + fmt(y) }
        .mkString(", ") + ")"
    def polyStr(p: (Array[(Double, Double)], Seq[Array[(Double, Double)]])): String =
      "(" + (canonRing(p._1, ccw = true) +: p._2.map(canonRing(_, ccw = false)))
        .map(ringStr).mkString(", ") + ")"
    if (polys.length == 1) "POLYGON " + polyStr(polys.head)
    else "MULTIPOLYGON (" + polys.map(polyStr).mkString(", ") + ")"
  }

  // ------------------------------------------- st_buffer corridor trace
  // (the machinery behind the LINESTRING / POLYGON arms of
  // [[bufferWkt]]; POINT keeps its original direct emission)

  private def openPathPts(r: Ring): Array[(Double, Double)] =
    Array.tabulate(r.size)(i => (r.xs(i), r.ys(i)))

  private def dedupeConsecutive(
      pts: Array[(Double, Double)]): Array[(Double, Double)] = {
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    pts.foreach { p => if (out.isEmpty || out.last != p) out += p }
    out.toArray
  }

  /** arc around (cx, cy): from absolute angle `from`, sweeping the
    * SIGNED `delta`, in ceil(|delta| / (2π/segs)) equal steps — emits
    * INTERIOR points only; the caller supplies both exact endpoints
    * (an arc endpoint recomputed through cos/sin would land an ulp off
    * the chain's own offset point and defeat deduplication) */
  private def arcPts(cx: Double, cy: Double, r: Double, from: Double,
      delta: Double, segs: Int, out: mutable.ArrayBuffer[(Double, Double)]): Unit = {
    val maxStep = 2.0 * math.Pi / segs
    val steps = math.max(1, math.ceil(math.abs(delta) / maxStep - 1e-12).toInt)
    var j = 1
    while (j < steps) {
      val a = from + delta * j / steps
      out += ((cx + r * StrictMath.cos(a), cy + r * StrictMath.sin(a)))
      j += 1
    }
  }

  /** one offset side of a vertex run, walked FORWARD with arcs on the
    * outer side of each turn and validated trims on the inner side.
    * `side` = +1 for the left offset, −1 for the right. `closed` walks
    * the wrap junction too (polygon rings); open paths get their caps
    * from the caller. Appends to `out`; returns nothing. */
  private def offsetChain(pts: Array[(Double, Double)], r: Double, segs: Int,
      side: Int, closed: Boolean,
      out: mutable.ArrayBuffer[(Double, Double)],
      lenientTrims: Boolean = false): Unit = {
    val n = pts.length
    val segN = if (closed) n else n - 1
    def at(i: Int) = pts(i % n)
    // unit direction and side normal per segment
    val dx = new Array[Double](segN); val dy = new Array[Double](segN)
    val nx = new Array[Double](segN); val ny = new Array[Double](segN)
    val len = new Array[Double](segN)
    var i = 0
    while (i < segN) {
      val (ax, ay) = at(i); val (bx, by) = at(i + 1)
      val l = StrictMath.hypot(bx - ax, by - ay)
      // a zero-length segment would turn the unit direction into NaN
      // coordinates that sail through every later validity check —
      // refuse loudly instead of emitting NaN WKT
      if (l == 0) throw new IllegalArgumentException(
        s"st_buffer: zero-length segment at ($ax, $ay) — " +
          "remove repeated consecutive vertices first")
      len(i) = l
      dx(i) = (bx - ax) / l; dy(i) = (by - ay) / l
      nx(i) = -dy(i) * side; ny(i) = dx(i) * side
      i += 1
    }
    // junction at vertex v between segments a → b: either an arc
    // (outer) or a trim point replacing both offsets (inner)
    def junction(a: Int, b: Int): Unit = {
      val (vx, vy) = at(b)
      val cross = dx(a) * dy(b) - dy(a) * dx(b)
      val dot = dx(a) * dx(b) + dy(a) * dy(b)
      if (cross == 0 && dot < 0) throw new IllegalArgumentException(
        s"st_buffer: path reverses direction at ($vx, $vy) — " +
          "the offset would overlap itself")
      if (cross == 0) () // straight continuation: same offset point
      else if (cross * side < 0) {
        // outer side: arc from normal(a) to normal(b) swept in the
        // turn direction (= sign of cross), |delta| = the turn angle
        out += ((vx + r * nx(a), vy + r * ny(a)))
        val from = StrictMath.atan2(ny(a), nx(a))
        val delta = StrictMath.atan2(cross, dot)
        arcPts(vx, vy, r, from, delta, segs, out)
        out += ((vx + r * nx(b), vy + r * ny(b)))
      } else {
        // inner side: offset lines A + t·d(a) and B + s·d(b) intersect
        // at the trim; it must lie WITHIN both adjacent offset
        // segments or the corridor is self-intersecting here
        val ax0 = vx + r * nx(a); val ay0 = vy + r * ny(a)
        val bx0 = vx + r * nx(b); val by0 = vy + r * ny(b)
        val denom = dx(a) * dy(b) - dy(a) * dx(b)
        val t = ((bx0 - ax0) * dy(b) - (by0 - ay0) * dx(b)) / denom
        val s = ((bx0 - ax0) * dy(a) - (by0 - ay0) * dx(a)) / denom
        // lenientTrims (the erosion trace): an overshooting trim is
        // EXPECTED when the inward offset self-intersects — the loop
        // extraction downstream resolves it — so only the strict
        // (outward/corridor) trace rejects it here
        if (!lenientTrims && (t > 0 || -t > len(a) || s < 0 || s > len(b)))
          throw new IllegalArgumentException(
            s"st_buffer: segment shorter than the radius-$r trim at " +
              s"($vx, $vy) — the offset would self-intersect")
        out += ((ax0 + t * dx(a), ay0 + t * dy(a)))
      }
    }
    if (!closed) {
      out += ((at(0)._1 + r * nx(0), at(0)._2 + r * ny(0)))
      var k = 1
      while (k < segN) { junction(k - 1, k); k += 1 }
      out += ((at(segN)._1 + r * nx(segN - 1), at(segN)._2 + r * ny(segN - 1)))
    } else {
      var k = 0
      while (k < segN) { junction((k + segN - 1) % segN, k); k += 1 }
    }
  }

  /** point-to-segment distance */
  private def ptSegDist(px: Double, py: Double, x1: Double, y1: Double,
      x2: Double, y2: Double): Double = {
    val vx = x2 - x1; val vy = y2 - y1
    val l2 = vx * vx + vy * vy
    val t = if (l2 == 0) 0.0
      else math.max(0.0, math.min(1.0, ((px - x1) * vx + (py - y1) * vy) / l2))
    StrictMath.hypot(px - (x1 + t * vx), py - (y1 + t * vy))
  }

  /** close-approach WITNESSES between two segments: each endpoint and
    * midpoint of one projected onto the other, as (distance, midpoint
    * of the pair). For non-crossing 2D segments the minimum distance
    * is endpoint-to-segment, and the extra midpoint probes cover a
    * close region whose ends would both look bridged while its middle
    * is not. */
  private def segSegWitnesses(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double, dx2: Double,
      dy2: Double): Seq[(Double, Double, Double)] = {
    def proj(px: Double, py: Double, x1: Double, y1: Double,
        x2: Double, y2: Double): (Double, Double, Double) = {
      val vx = x2 - x1; val vy = y2 - y1
      val l2 = vx * vx + vy * vy
      val t = if (l2 == 0) 0.0
        else math.max(0.0, math.min(1.0, ((px - x1) * vx + (py - y1) * vy) / l2))
      val qx = x1 + t * vx; val qy = y1 + t * vy
      (StrictMath.hypot(px - qx, py - qy), (px + qx) / 2, (py + qy) / 2)
    }
    Seq(
      proj(ax, ay, cx, cy, dx2, dy2), proj(bx, by, cx, cy, dx2, dy2),
      proj((ax + bx) / 2, (ay + by) / 2, cx, cy, dx2, dy2),
      proj(cx, cy, ax, ay, bx, by), proj(dx2, dy2, ax, ay, bx, by),
      proj((cx + dx2) / 2, (cy + dy2) / 2, ax, ay, bx, by))
  }

  /** open-path corridor ring: left chain forward, end cap, right chain
    * backward (= left chain of the reversed path), start cap — every
    * arc swept clockwise, the ring canonicalizes later.
    *
    * Domain guard the ring-simplicity check alone CANNOT provide: when
    * two non-adjacent segments pass within 2r, their corridors
    * overlap; if that overlap is NOT bridged by the corridor of the
    * subpath connecting them (a hairpin's arms, unlike a dense smooth
    * track's neighboring segments), the direct trace yields a ring
    * that wrongly excludes the overlap — possibly a SIMPLE ring. The
    * witness: the midpoint of the close pair must lie within r of the
    * connecting subpath; otherwise raise. Dense smooth trajectories
    * (GPS tracks sampled every few meters, r much larger) pass — the
    * midpoint hugs the intermediate segments. */
  private def pathBufferRing(pts: Array[(Double, Double)], r: Double,
      segs: Int): Array[(Double, Double)] = {
    val n = pts.length
    var i = 0
    while (i < n - 1) {
      var j = i + 2
      while (j < n - 1) {
        segSegWitnesses(
          pts(i)._1, pts(i)._2, pts(i + 1)._1, pts(i + 1)._2,
          pts(j)._1, pts(j)._2, pts(j + 1)._1, pts(j + 1)._2)
          .foreach { case (d, mx, my) =>
            if (d < 2 * r) {
              // bridged iff the witness midpoint stays within r of the
              // connecting subpath (segments i+1 .. j-1)
              var bridged = false
              var k = i + 1
              while (!bridged && k < j) {
                bridged = ptSegDist(mx, my, pts(k)._1, pts(k)._2,
                  pts(k + 1)._1, pts(k + 1)._2) <= r
                k += 1
              }
              if (!bridged) throw new IllegalArgumentException(
                s"st_buffer: path passes within 2r of itself (segments $i " +
                  s"and $j, distance $d) with no bridging corridor — the " +
                  "trace would exclude the overlap; unsupported input")
            }
          }
        j += 1
      }
      i += 1
    }
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    offsetChain(pts, r, segs, side = 1, closed = false, out)
    // end cap: from the left normal of the last segment, −π sweep
    val m = pts.length
    val (lx, ly) = pts(m - 1); val (px, py) = pts(m - 2)
    val ll = StrictMath.hypot(lx - px, ly - py)
    // left-normal angle of direction d is atan2(dx, −dy) (n = (−dy, dx))
    arcPts(lx, ly, r, StrictMath.atan2((lx - px) / ll, (py - ly) / ll), -math.Pi, segs, out)
    val rev = pts.reverse
    offsetChain(rev, r, segs, side = 1, closed = false, out)
    // start cap: left normal of the reversed path's last segment
    val (fx, fy) = pts(0); val (qx, qy) = pts(1)
    val fl = StrictMath.hypot(qx - fx, qy - fy)
    arcPts(fx, fy, r, StrictMath.atan2((fx - qx) / fl, (qy - fy) / fl), -math.Pi, segs, out)
    dedupeRing(out)
  }

  /** outward polygon buffer ring: the CCW ring walked with RIGHT
    * (outward) offsets, arcs at convex vertices, trims at reflex ones */
  private def ringBufferRing(ring: Array[(Double, Double)], r: Double,
      segs: Int): Array[(Double, Double)] = {
    require(ring.length >= 3, "st_buffer: degenerate ring")
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    offsetChain(ring, r, segs, side = -1, closed = true, out)
    dedupeRing(out)
  }

  private def dedupeRing(
      out: mutable.ArrayBuffer[(Double, Double)]): Array[(Double, Double)] = {
    val d = mutable.ArrayBuffer.empty[(Double, Double)]
    out.foreach { p => if (d.isEmpty || d.last != p) d += p }
    while (d.length > 1 && d.head == d.last) d.remove(d.length - 1)
    d.toArray
  }

  /** the traced ring must be SIMPLE — any contact between non-adjacent
    * edges means the corridor folded onto itself (turn tighter than
    * the radius, path doubling back within r): raise, never emit a
    * self-intersecting polygon. O(m²) over the ring's own edges —
    * per-row geometry, m = path vertices + arc points. */
  private def validateSimpleRing(
      ring: Array[(Double, Double)]): Array[(Double, Double)] = {
    val m = ring.length
    require(m >= 3, "st_buffer: traced ring degenerate")
    var i = 0
    while (i < m) {
      val (x1, y1) = ring(i); val (x2, y2) = ring((i + 1) % m)
      var j = i + 2
      while (j < m) {
        val adjacentWrap = i == 0 && j == m - 1
        if (!adjacentWrap) {
          val (x3, y3) = ring(j); val (x4, y4) = ring((j + 1) % m)
          if (segsIntersect(x1, y1, x2, y2, x3, y3, x4, y4))
            throw new IllegalArgumentException(
              "st_buffer: offset self-intersects (turn tighter than the " +
                "radius or path doubling back within it) — unsupported input")
        }
        j += 1
      }
      i += 1
    }
    ring
  }

  // -------------------------- erosion (negative-radius buffer, r15)
  // Inward offset of a hole-free polygon by |r|: the same direct
  // offset trace as the outward side (arcs at REFLEX vertices, trims
  // at convex ones — the roles flip inward), but self-intersection of
  // the traced ring is a FEATURE here, not an error: it is exactly
  // how erosion splits a pinched polygon into components or vanishes
  // entirely. The trace is resolved by splitting every segment at its
  // self-intersection points and extracting loops with a stack walk;
  // loops that keep the original CCW orientation are real eroded
  // components, reversed (CW) loops are the collapsed waist artifacts
  // and are dropped. Every surviving vertex is then VALIDATED against
  // the definition (inside the polygon, ≥ r − 1e-6 from its boundary)
  // — configurations the loop heuristic cannot resolve (two waists
  // interacting within r of each other) raise a named error rather
  // than emit a wrong polygon, the same loud stance as the corridor
  // tracer's domain guards.

  /** one self-intersection point of two segments, computed ONCE and
    * shared by both so the loop walk's point matching is exact where
    * possible; collinear contact raises (the trace cannot happen to
    * produce it from finite-precision offsets without a degenerate
    * input) */
  private def segIntersectionPt(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double, dx2: Double, dy2: Double): (Double, Double) = {
    val rx = bx - ax; val ry = by - ay
    val sx = dx2 - cx; val sy = dy2 - cy
    val denom = rx * sy - ry * sx
    if (denom == 0)
      throw new IllegalArgumentException(
        "st_buffer: erosion trace produced collinear overlapping " +
          "offsets — unsupported input")
    // snap an endpoint-touch to the exact endpoint (T-junctions are
    // the common case: a trim corner landing on another offset line)
    val t = ((cx - ax) * sy - (cy - ay) * sx) / denom
    val u = ((cx - ax) * ry - (cy - ay) * rx) / denom
    if (t <= 1e-12) (ax, ay)
    else if (t >= 1 - 1e-12) (bx, by)
    else if (u <= 1e-12) (cx, cy)
    else if (u >= 1 - 1e-12) (dx2, dy2)
    else (ax + t * rx, ay + t * ry)
  }

  /** rebuild the closed traced ring with every self-intersection
    * point inserted into BOTH segments it lies on (same computed
    * point object — bit-identical on each side) */
  private def splitAtSelfIntersections(
      ring: Array[(Double, Double)]): Array[(Double, Double)] = {
    val m = ring.length
    val splits = Array.fill(m)(mutable.ArrayBuffer.empty[(Double, (Double, Double))])
    var i = 0
    while (i < m) {
      val (x1, y1) = ring(i); val (x2, y2) = ring((i + 1) % m)
      var j = i + 2
      while (j < m) {
        if (!(i == 0 && j == m - 1)) {
          val (x3, y3) = ring(j); val (x4, y4) = ring((j + 1) % m)
          if (segsIntersect(x1, y1, x2, y2, x3, y3, x4, y4)) {
            val p = segIntersectionPt(x1, y1, x2, y2, x3, y3, x4, y4)
            def param(sx: Double, sy: Double, ex: Double, ey: Double): Double =
              if (math.abs(ex - sx) >= math.abs(ey - sy))
                (p._1 - sx) / (ex - sx) else (p._2 - sy) / (ey - sy)
            splits(i) += ((param(x1, y1, x2, y2), p))
            splits(j) += ((param(x3, y3, x4, y4), p))
          }
        }
        j += 1
      }
      i += 1
    }
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    i = 0
    while (i < m) {
      out += ring(i)
      splits(i).sortBy(_._1).foreach { case (t, p) =>
        if (t > 1e-12 && t < 1 - 1e-12) out += p
      }
      i += 1
    }
    dedupeRing(out)
  }

  /** stack-walk loop extraction over a closed polyline: arriving
    * within `eps` of a point already on the stack closes the cycle
    * between as one loop; the residual stack closes as the final loop */
  private def extractLoops(pts: Array[(Double, Double)],
      eps: Double): Seq[Array[(Double, Double)]] = {
    val loops = mutable.ArrayBuffer.empty[Array[(Double, Double)]]
    val stack = mutable.ArrayBuffer.empty[(Double, Double)]
    pts.foreach { p =>
      val k = stack.lastIndexWhere(q =>
        math.abs(q._1 - p._1) <= eps && math.abs(q._2 - p._2) <= eps)
      if (k >= 0) {
        val loop = stack.slice(k, stack.length).toArray
        if (loop.length >= 3) loops += loop
        stack.remove(k + 1, stack.length - k - 1)
      } else stack += p
    }
    if (stack.length >= 3) loops += stack.toArray
    loops.toSeq
  }

  /** erosion of a geometry by radius r > 0 (the negative-buffer arm
    * of [[bufferWkt]]): POINT/LINESTRING erode to empty (they have no
    * interior to keep); polygons go through the inward offset trace.
    * A multipolygon erodes per DISJOINT component. */
  private def erodeWkt(g: Geom, r: Double, segs: Int): String = g match {
    case PointGeom(_, _) | LineStringGeom(_) | MultiLineStringGeom(_) =>
      "POLYGON EMPTY"
    case PolygonGeom(p) => erodeRings(Seq(p), r, segs)
    case MultiPolygonGeom(ps) => erodeRings(ps, r, segs)
  }

  /** the hole-free inward-offset loops of one CCW ring (the kept CCW
    * components of eroding the region it bounds) */
  private def erodeOuterLoops(ring: Array[(Double, Double)], r: Double,
      segs: Int): Seq[Array[(Double, Double)]] = {
    val out = mutable.ArrayBuffer.empty[(Double, Double)]
    // side = +1 is the LEFT (inward, for CCW) offset; lenient trims —
    // overshoots become self-intersections the loop walk resolves
    offsetChain(ring, r, segs, side = 1, closed = true, out,
      lenientTrims = true)
    extractLoops(splitAtSelfIntersections(dedupeRing(out)), 1e-9)
      .filter(l => l.length >= 3 && signedArea(l) > 1e-12)
  }

  private def ringOf(pts: Array[(Double, Double)]): Ring =
    Ring(pts.map(_._1), pts.map(_._2))

  /** Erosion of polygons, HOLES INCLUDED since late-r15 — the exact
    * set identity erode(P) = erode(outer) \ ⋃ dilate(hole_i, r):
    * x keeps a radius-r disc inside P iff the disc fits the outer
    * region AND misses every hole. Holes dilate through the outward
    * buffer tracer; dilations that CROSS an eroded component subtract
    * through [[differenceWkt]] (C-cuts, severs), strictly-interior
    * ones become result holes directly, and a dilation that swallows a
    * component removes it. Loud domain guards: hole dilations within
    * 2r of each other would need their union (raise), and every
    * emitted vertex is validated ≥ r from the FULL original boundary
    * and inside P — configurations the decomposition cannot resolve
    * raise rather than emit a wrong polygon. */
  private def erodeRings(ps: Seq[Polygon], r: Double, segs: Int): String = {
    val keptAll = mutable.ArrayBuffer.empty[Array[(Double, Double)]]
    ps.foreach { p =>
      val outerRing = dedupeConsecutive(openCcw(Polygon(p.outer, Nil), "st_buffer"))
      require(outerRing.length >= 3, "st_buffer: degenerate ring")
      var comps: List[Array[(Double, Double)]] =
        erodeOuterLoops(outerRing, r, segs).toList
      val holeRings = mutable.ArrayBuffer.empty[Array[(Double, Double)]]
      if (p.holes.nonEmpty && comps.nonEmpty) {
        // each hole's dilation is the outward buffer of the hole ring
        val dRings: Seq[Array[(Double, Double)]] = p.holes.map { h =>
          parseWkt(bufferWkt(PolygonGeom(Polygon(h, Nil)), r, segs)) match {
            case PolygonGeom(q) => dedupeConsecutive(openRing(q.outer))
            case other => throw new IllegalArgumentException(
              s"st_buffer: hole dilation produced ${other.getClass.getSimpleName}")
          }
        }
        // dilations within 2r of each other would need their union
        var i = 0
        while (i < dRings.length) {
          var j = i + 1
          while (j < dRings.length) {
            val a = ringOf(dRings(i)); val b = ringOf(dRings(j))
            if (ringPairTest(a, b, segsIntersect) ||
                ringContains(a, dRings(j)(0)._1, dRings(j)(0)._2) ||
                ringContains(b, dRings(i)(0)._1, dRings(i)(0)._2))
              throw new IllegalArgumentException(
                "st_buffer: erosion holes within 2r of each other — " +
                  "their dilations overlap; unsupported input")
            j += 1
          }
          i += 1
        }
        dRings.foreach { d =>
          val dRing = ringOf(d)
          val (crossing, clear) = comps.partition(c =>
            ringPairTest(ringOf(c), dRing, segsIntersect))
          if (crossing.nonEmpty) {
            val newComps = crossing.flatMap { c =>
              parseWkt(differenceWkt(
                PolygonGeom(Polygon(ringOf(c), Nil)),
                PolygonGeom(Polygon(dRing, Nil)))) match {
                case PolygonGeom(q) =>
                  holeRings ++= q.holes.map(h => dedupeConsecutive(openRing(h)))
                  Seq(dedupeConsecutive(openRing(q.outer)))
                case MultiPolygonGeom(qs) => qs.flatMap { q =>
                  holeRings ++= q.holes.map(h => dedupeConsecutive(openRing(h)))
                  Seq(dedupeConsecutive(openRing(q.outer)))
                }
                case _ => Nil // eroded component fully consumed
              }
            }
            comps = clear ++ newComps
          } else if (comps.exists(c =>
              ringContains(ringOf(c), d(0)._1, d(0)._2))) {
            holeRings += d // strictly interior: punches a hole
          } else {
            // outside every component, or swallowing one whole
            comps = comps.filterNot(c =>
              ringContains(dRing, c(0)._1, c(0)._2))
          }
        }
      }
      // validate against the definition over the FULL boundary: every
      // emitted vertex ≥ r from outer AND hole rings (trim corners and
      // arc points sit EXACTLY at r). Only vertices cut into a dilated
      // hole's CHORD (the difference path) legitimately dip to the
      // inscribed-polygon floor r·cos(π/segs) — the same area
      // convention the outward-buffer gates pin — so the relaxed floor
      // applies ONLY when holes exist; hole-free erosions keep the
      // strict floor (a dip there means loops genuinely interact).
      val rFloor =
        if (p.holes.isEmpty) r - 1e-6
        else r * StrictMath.cos(StrictMath.PI / segs) - 1e-6
      val boundaries: Seq[Array[(Double, Double)]] =
        outerRing +: p.holes.map(h => dedupeConsecutive(openRing(h)))
      (comps ++ holeRings).foreach { l =>
        l.foreach { case (x, y) =>
          var dMin = Double.PositiveInfinity
          boundaries.foreach { b =>
            var i = 0
            while (i < b.length) {
              val (x1, y1) = b(i); val (x2, y2) = b((i + 1) % b.length)
              val dd = ptSegDist(x, y, x1, y1, x2, y2)
              if (dd < dMin) dMin = dd
              i += 1
            }
          }
          if (dMin < rFloor || !polygonContains(p, x, y))
            throw new IllegalArgumentException(
              "st_buffer: erosion loops interact within the radius " +
                s"(vertex ($x, $y) is ${dMin} from the boundary, " +
                s"radius $r) — unsupported input")
        }
      }
      keptAll ++= comps
      keptAll ++= holeRings
    }
    if (keptAll.isEmpty) "POLYGON EMPTY" else ghToWkt(keptAll.toSeq)
  }

  // --------------------------------------- DE-9IM relate predicates
  // touches / crosses / overlaps over the POINT/LINESTRING/POLYGON
  // model. "Interior" follows the DE-9IM convention: a point IS its
  // interior, a line's boundary is its path endpoints (simplification:
  // every path endpoint of a multilinestring counts as boundary, not
  // the mod-2 rule), a polygon's boundary is its rings. Exact for
  // non-degenerate inputs; tangential vertex-only contacts share the
  // same documented caveat as [[containsGeom]].

  /** the path endpoints of a lineal geometry (its DE-9IM boundary) */
  private def lineEndpoints(g: Geom): Seq[(Double, Double)] =
    openPaths(g).flatMap(r =>
      Seq((r.xs(0), r.ys(0)), (r.xs(r.size - 1), r.ys(r.size - 1))))

  /** p lies on line g but is not one of its endpoints */
  private def onLineInterior(g: Geom, x: Double, y: Double): Boolean =
    contains(g, x, y) && !lineEndpoints(g).contains((x, y))

  /** collinear seg pair sharing a positive-length run; a zero-length
    * (repeated-vertex) segment can only share a point, never a run */
  private def segsOverlapCollinear(x1: Double, y1: Double, x2: Double, y2: Double,
      x3: Double, y3: Double, x4: Double, y4: Double): Boolean = {
    if ((x1 == x2 && y1 == y2) || (x3 == x4 && y3 == y4)) return false
    if (orient(x1, y1, x2, y2, x3, y3) != 0.0 ||
      orient(x1, y1, x2, y2, x4, y4) != 0.0) return false
    // project on the dominant axis; positive-length 1-D overlap
    val horiz = math.abs(x2 - x1) >= math.abs(y2 - y1)
    val (a1, a2, b1, b2) =
      if (horiz) (math.min(x1, x2), math.max(x1, x2), math.min(x3, x4), math.max(x3, x4))
      else (math.min(y1, y2), math.max(y1, y2), math.min(y3, y4), math.max(y3, y4))
    math.min(a2, b2) - math.max(a1, b1) > 0.0
  }

  /** do two lineal geometries share interior points? proper segment
    * crossings, a non-endpoint vertex of one on the interior of the
    * other, or a positive-length collinear run all count */
  private def lineLineInteriorsIntersect(a: Geom, b: Geom): Boolean = {
    def vertexHit(from: Geom, to: Geom): Boolean = {
      val ends = lineEndpoints(from).toSet
      openPaths(from).exists { r =>
        r.xs.indices.exists { i =>
          val v = (r.xs(i), r.ys(i))
          !ends.contains(v) && onLineInterior(to, v._1, v._2)
        }
      }
    }
    segPairAny(a, b, segsCrossProperly) ||
      vertexHit(a, b) || vertexHit(b, a) ||
      segPairAny(a, b, segsOverlapCollinear)
  }

  /** does any positive-length collinear run exist between a and b? */
  private def lineLineCollinearOverlap(a: Geom, b: Geom): Boolean =
    segPairAny(a, b, segsOverlapCollinear)

  /** does line l reach the strict interior of areal g? probes l's
    * vertices and segment midpoints (strictly inside = inside and not
    * on a ring) plus proper boundary crossings */
  private def lineEntersArealInterior(l: Geom, g: Geom): Boolean = {
    def strictlyIn(x: Double, y: Double): Boolean =
      contains(g, x, y) && !onBoundary(g, x, y)
    openPaths(l).exists { r =>
      r.xs.indices.exists(i => strictlyIn(r.xs(i), r.ys(i))) ||
        (1 until r.size).exists(i =>
          strictlyIn((r.xs(i - 1) + r.xs(i)) / 2, (r.ys(i - 1) + r.ys(i)) / 2))
    } || segPairAny(l, g, segsCrossProperly)
  }

  /** does line l have a point strictly outside areal g? probes l's
    * vertices and segment midpoints, plus the same proper-crossing
    * witness as the enter side — a segment transversally crossing a
    * ring has points on both sides of it, so a concave slot narrower
    * than the probe spacing still reads as an exit */
  private def lineExitsAreal(l: Geom, g: Geom): Boolean =
    openPaths(l).exists { r =>
      r.xs.indices.exists(i => !contains(g, r.xs(i), r.ys(i))) ||
        (1 until r.size).exists(i =>
          !contains(g, (r.xs(i - 1) + r.xs(i)) / 2, (r.ys(i - 1) + r.ys(i)) / 2))
    } || segPairAny(l, g, segsCrossProperly)

  /** do the interiors of a and b share a point? */
  private def interiorsIntersect(a: Geom, b: Geom): Boolean = (a, b) match {
    case (PointGeom(x, y), PointGeom(u, v)) => x == u && y == v
    case (PointGeom(x, y), g) if isLineal(g) => onLineInterior(g, x, y)
    case (g, PointGeom(x, y)) if isLineal(g) => onLineInterior(g, x, y)
    case (PointGeom(x, y), g) => contains(g, x, y) && !onBoundary(g, x, y)
    case (g, PointGeom(x, y)) => contains(g, x, y) && !onBoundary(g, x, y)
    case _ if isLineal(a) && isLineal(b) => lineLineInteriorsIntersect(a, b)
    case _ if isLineal(a) => lineEntersArealInterior(a, b)
    case _ if isLineal(b) => lineEntersArealInterior(b, a)
    case _ => arealInteriorsIntersect(a, b)
  }

  /** areal × areal interior intersection: positive overlap area (the
    * clip-based measure needs a hole-free clip side — tried in both
    * orders) or containment; when BOTH sides carry holes, fall back to
    * witnesses: a proper boundary crossing, or a vertex / edge
    * midpoint of one strictly inside the other (exact up to the same
    * tangential-contact caveat as [[containsGeom]]). */
  private def arealInteriorsIntersect(a: Geom, b: Geom): Boolean = {
    def contained = containsGeom(a, b) || containsGeom(b, a)
    def witnesses: Boolean = {
      def strictWitness(g: Geom, in: Geom): Boolean =
        rings(g).exists { r =>
          r.xs.indices.exists { i =>
            val j = if (i == 0) r.size - 1 else i - 1
            def strictlyIn(x: Double, y: Double) =
              contains(in, x, y) && !onBoundary(in, x, y)
            strictlyIn(r.xs(i), r.ys(i)) ||
              strictlyIn((r.xs(i) + r.xs(j)) / 2, (r.ys(i) + r.ys(j)) / 2)
          }
        }
      segPairAny(a, b, segsCrossProperly) ||
        strictWitness(a, b) || strictWitness(b, a) || contained
    }
    // the clip-based measure demands general position from the GH
    // crossing walk; boundary-contact inputs (adjacent parcels sharing
    // an edge, vertex-on-edge) are exactly what touches/overlaps ask
    // about, so a clip that refuses falls back to the witness answer
    // instead of propagating the raise
    def byArea(x: Geom, y: Geom): Option[Boolean] =
      try Some(intersectionArea(x, y) > 0.0)
      catch { case _: IllegalArgumentException => None }
    val area =
      if (holeRings(b).isEmpty) byArea(a, b)
      else if (holeRings(a).isEmpty) byArea(b, a)
      else None
    area match {
      case Some(positive) => positive || contained
      case None => witnesses
    }
  }

  /** ST_Touches: the geometries intersect but their interiors don't —
    * boundary-only contact */
  def touchesGeom(a: Geom, b: Geom): Boolean =
    intersects(a, b) && !interiorsIntersect(a, b)

  /** ST_Crosses: interiors intersect in a lower dimension than the
    * inputs span — a point-contact line pair, or a line passing
    * through a polygon (inside AND outside points). Never true for
    * point/point or areal/areal pairs. */
  def crossesGeom(a: Geom, b: Geom): Boolean = (a, b) match {
    case (PointGeom(_, _), _) | (_, PointGeom(_, _)) => false
    case _ if isLineal(a) && isLineal(b) =>
      lineLineInteriorsIntersect(a, b) && !lineLineCollinearOverlap(a, b)
    case _ if isLineal(a) && isAreal(b) =>
      lineEntersArealInterior(a, b) && lineExitsAreal(a, b)
    case _ if isAreal(a) && isLineal(b) =>
      lineEntersArealInterior(b, a) && lineExitsAreal(b, a)
    case _ => false
  }

  /** ST_Overlaps: same-dimension geometries whose interiors intersect
    * without either containing the other. Lines overlap on a shared
    * positive-length collinear run; polygons on a positive
    * intersection area. */
  def overlapsGeom(a: Geom, b: Geom): Boolean = (a, b) match {
    case _ if isLineal(a) && isLineal(b) =>
      lineLineCollinearOverlap(a, b) &&
        !containsGeom(a, b) && !containsGeom(b, a)
    case _ if isAreal(a) && isAreal(b) =>
      interiorsIntersect(a, b) &&
        !containsGeom(a, b) && !containsGeom(b, a)
    case _ => false
  }

  /** the WKT tag of a geometry (POINT / LINESTRING / MULTILINESTRING /
    * POLYGON / MULTIPOLYGON — the model's five types) */
  def geometryType(g: Geom): String = g match {
    case PointGeom(_, _) => "POINT"
    case LineStringGeom(_) => "LINESTRING"
    case MultiLineStringGeom(_) => "MULTILINESTRING"
    case PolygonGeom(_) => "POLYGON"
    case MultiPolygonGeom(_) => "MULTIPOLYGON"
  }

  /** topological dimension: 0 points, 1 lines, 2 polygons */
  def dimension(g: Geom): Int = g match {
    case PointGeom(_, _) => 0
    case LineStringGeom(_) | MultiLineStringGeom(_) => 1
    case PolygonGeom(_) | MultiPolygonGeom(_) => 2
  }

  /** ST_LineInterpolatePoint: the point at fraction `f` ∈ [0, 1] of a
    * LINESTRING's length, walked segment by segment (f = 0 → first
    * vertex, f = 1 → last; a zero-length line answers its first
    * vertex). Single LINESTRINGs only, the PostGIS contract. */
  def lineInterpolatePoint(g: Geom, f: Double): (Double, Double) = {
    require(f >= 0.0 && f <= 1.0,
      s"st_line_interpolate_point: fraction must be in [0, 1], got $f")
    val r = g match {
      case LineStringGeom(p) => p
      case other => throw new IllegalArgumentException(
        "st_line_interpolate_point expects a LINESTRING, got " +
          geometryType(other))
    }
    val total = ringLength(r)
    if (total == 0.0) return (r.xs(0), r.ys(0))
    val target = f * total
    var walked = 0.0
    var i = 1
    while (i < r.size) {
      val dx = r.xs(i) - r.xs(i - 1)
      val dy = r.ys(i) - r.ys(i - 1)
      val seg = math.sqrt(dx * dx + dy * dy)
      if (walked + seg >= target) {
        val t = if (seg == 0.0) 0.0 else (target - walked) / seg
        return (r.xs(i - 1) + t * dx, r.ys(i - 1) + t * dy)
      }
      walked += seg
      i += 1
    }
    (r.xs(r.size - 1), r.ys(r.size - 1))
  }

  // string-in entry points for the codegen expressions (one cached
  // parse per distinct WKT per executor)
  def stDistance(a: String, b: String): Double =
    distance(parseWktCached(a), parseWktCached(b))
  def stArea(a: String): Double = area(parseWktCached(a))
  def stIntersects(a: String, b: String): Boolean =
    intersects(parseWktCached(a), parseWktCached(b))
  def stContains(a: String, b: String): Boolean =
    containsGeom(parseWktCached(a), parseWktCached(b))
  def stX(a: String): Double = pointX(parseWktCached(a))
  def stY(a: String): Double = pointY(parseWktCached(a))
  def stNPoints(a: String): Int = nPoints(parseWktCached(a))
  def stPerimeter(a: String): Double = perimeter(parseWktCached(a))
  def stCentroid(a: String): String = centroidWkt(parseWktCached(a))
  def stDwithin(a: String, b: String, d: Double): Boolean =
    distance(parseWktCached(a), parseWktCached(b)) <= d
  def stEnvelope(a: String): String = envelopeWkt(parseWktCached(a))
  def stBuffer(a: String, r: Double, segs: Int): String =
    bufferWkt(parseWktCached(a), r, segs)
  def stIntersectionArea(a: String, b: String): Double =
    intersectionArea(parseWktCached(a), parseWktCached(b))
  def stUnion(a: String, b: String): String =
    unionWkt(parseWktCached(a), parseWktCached(b))
  def stIntersection(a: String, b: String): String =
    intersectionWkt(parseWktCached(a), parseWktCached(b))
  def stDifference(a: String, b: String): String =
    differenceWkt(parseWktCached(a), parseWktCached(b))
  def stConvexHull(a: String): String = convexHullWkt(parseWktCached(a))
  def stSimplify(a: String, tol: Double): String =
    simplifyWkt(parseWktCached(a), tol)
  def stLength(a: String): Double = length(parseWktCached(a))
  def stPoint(x: Double, y: Double): String =
    s"POINT (${fmt(x)} ${fmt(y)})"
  def stWithin(a: String, b: String): Boolean =
    containsGeom(parseWktCached(b), parseWktCached(a))
  def stDisjoint(a: String, b: String): Boolean =
    !intersects(parseWktCached(a), parseWktCached(b))
  /** topological equality: mutual boundary-inclusive containment (the
    * [[containsGeom]] convention both ways — vertex-set differences
    * along shared lines/rings don't break equality, mixed dimensions
    * always do) */
  def stEquals(a: String, b: String): Boolean = {
    val (ga, gb) = (parseWktCached(a), parseWktCached(b))
    containsGeom(ga, gb) && containsGeom(gb, ga)
  }
  def stGeometryType(a: String): String = geometryType(parseWktCached(a))
  def stDimension(a: String): Int = dimension(parseWktCached(a))
  def stLineInterpolatePointWkt(a: String, f: Double): String = {
    val (x, y) = lineInterpolatePoint(parseWktCached(a), f)
    stPoint(x, y)
  }
  def stTouches(a: String, b: String): Boolean =
    touchesGeom(parseWktCached(a), parseWktCached(b))
  def stCrosses(a: String, b: String): Boolean =
    crossesGeom(parseWktCached(a), parseWktCached(b))
  def stOverlaps(a: String, b: String): Boolean =
    overlapsGeom(parseWktCached(a), parseWktCached(b))
  def stXmin(a: String): Double = boundsOf(parseWktCached(a))._1
  def stXmax(a: String): Double = boundsOf(parseWktCached(a))._2
  def stYmin(a: String): Double = boundsOf(parseWktCached(a))._3
  def stYmax(a: String): Double = boundsOf(parseWktCached(a))._4

  // --------------------------------------------- CRS transform (r15)
  // The reference registers the full geodatafusion suite, which
  // carries coordinate transforms (beacon-functions/src/lib.rs:31).
  // We implement the pair that covers the dominant web/geo workload —
  // EPSG:4326 (lon/lat degrees) ↔ EPSG:3857 (WGS84 Web Mercator
  // meters) — as closed-form spherical-Mercator math (the projection's
  // published definition), StrictMath throughout so every executor on
  // every JVM produces bit-identical doubles. Unknown CRS pairs and
  // out-of-range coordinates raise loudly rather than guessing.

  /** WGS84 / Web Mercator sphere radius (meters) */
  val WebMercatorR: Double = 6378137.0
  /** Web Mercator's latitude of validity: atan(sinh(π)) in degrees —
    * the projection maps [−MaxLat, MaxLat] onto a square */
  val WebMercatorMaxLat: Double = 85.05112877980659

  private def fwdMercator(lon: Double, lat: Double): (Double, Double) = {
    if (lon < -180.0 || lon > 180.0 || lon.isNaN)
      throw new IllegalArgumentException(
        s"st_transform: longitude $lon out of [-180, 180] for EPSG:4326")
    if (lat < -WebMercatorMaxLat || lat > WebMercatorMaxLat || lat.isNaN)
      throw new IllegalArgumentException(
        s"st_transform: latitude $lat outside Web Mercator's validity " +
          s"range [-$WebMercatorMaxLat, $WebMercatorMaxLat]")
    (WebMercatorR * StrictMath.toRadians(lon),
      WebMercatorR * StrictMath.log(
        StrictMath.tan(StrictMath.PI / 4 + StrictMath.toRadians(lat) / 2)))
  }

  private def invMercator(x: Double, y: Double): (Double, Double) = {
    val bound = WebMercatorR * StrictMath.PI
    if (x < -bound - 1e-6 || x > bound + 1e-6 || x.isNaN)
      throw new IllegalArgumentException(
        s"st_transform: x $x outside Web Mercator's extent ±$bound")
    if (y < -bound - 1e-6 || y > bound + 1e-6 || y.isNaN)
      throw new IllegalArgumentException(
        s"st_transform: y $y outside Web Mercator's extent ±$bound")
    (StrictMath.toDegrees(x / WebMercatorR),
      StrictMath.toDegrees(
        2 * StrictMath.atan(StrictMath.exp(y / WebMercatorR)) - StrictMath.PI / 2))
  }

  private def mapCoords(g: Geom, f: (Double, Double) => (Double, Double)): Geom = {
    def ring(r: Ring): Ring = {
      val xs = new Array[Double](r.size); val ys = new Array[Double](r.size)
      var i = 0
      while (i < r.size) {
        val (x, y) = f(r.xs(i), r.ys(i)); xs(i) = x; ys(i) = y; i += 1
      }
      Ring(xs, ys)
    }
    g match {
      case PointGeom(x, y) => val (nx, ny) = f(x, y); PointGeom(nx, ny)
      case LineStringGeom(p) => LineStringGeom(ring(p))
      case MultiLineStringGeom(ps) => MultiLineStringGeom(ps.map(ring))
      case PolygonGeom(p) => PolygonGeom(Polygon(ring(p.outer), p.holes.map(ring)))
      case MultiPolygonGeom(ps) =>
        MultiPolygonGeom(ps.map(p => Polygon(ring(p.outer), p.holes.map(ring))))
    }
  }

  /** generic Geom → WKT over the codec's five types */
  def toWkt(g: Geom): String = {
    def ringStr(r: Ring): String =
      (0 until r.size).map(i => s"${fmt(r.xs(i))} ${fmt(r.ys(i))}")
        .mkString(", ")
    g match {
      case PointGeom(x, y) => s"POINT (${fmt(x)} ${fmt(y)})"
      case LineStringGeom(p) => s"LINESTRING (${ringStr(p)})"
      case MultiLineStringGeom(ps) =>
        "MULTILINESTRING " + ps.map(p => s"(${ringStr(p)})")
          .mkString("(", ", ", ")")
      case PolygonGeom(p) =>
        "POLYGON " + (p.outer +: p.holes.toIndexedSeq)
          .map(r => s"(${ringStr(r)})").mkString("(", ", ", ")")
      case MultiPolygonGeom(ps) =>
        "MULTIPOLYGON " + ps.map(p =>
          (p.outer +: p.holes.toIndexedSeq).map(r => s"(${ringStr(r)})")
            .mkString("(", ", ", ")")).mkString("(", ", ", ")")
    }
  }

  /** longitude DELTA wrapped into (−π, π] — a point 3° across the
    * antimeridian from a lon_0 near ±180 (UTM zones 1/60, Pacific
    * Albers rows) is NEAR the meridian, not 357° away. Identity (same
    * doubles) whenever the raw delta is already in range, so existing
    * in-range results are bit-unchanged. */
  @inline private def wrapLonRad(d: Double): Double =
    if (d > StrictMath.PI) d - 2 * StrictMath.PI
    else if (d < -StrictMath.PI) d + 2 * StrictMath.PI
    else d

  @inline private def wrapLonDeg(d: Double): Double =
    if (d > 180.0) d - 360.0 else if (d < -180.0) d + 360.0 else d

  /** a projected CRS: forward (lon/lat° → x/y meters) and inverse.
    * Serializable so a pinned projection rides inside a serialized
    * plan to every executor. */
  sealed trait Proj extends Serializable {
    def fwd(lon: Double, lat: Double): (Double, Double)
    def inv(x: Double, y: Double): (Double, Double)
  }

  // ---- Transverse Mercator, PARAMETERIZED (r16): the Snyder series
  // (eqs 8-9..8-25 and the 3-21 meridian arc; the same truncation
  // PROJ's tmerc/utm backends and every GIS textbook carry) driven by
  // the EPSG parameter set (ellipsoid a/f, lat_0, lon_0, k_0, false
  // E/N) instead of hard-coded WGS84+UTM constants — so EPSG:27700 or
  // any national TM grid is a parameter row, not a code change. UTM
  // (EPSG:326xx/327xx) is the same kernel with its published row.
  // Sub-mm accuracy within ~±10° of the central meridian; StrictMath
  // throughout (bit-determinism across executors).
  private val WgsA = 6378137.0
  private val WgsF = 1.0 / 298.257223563
  private val UtmK0 = 0.9996

  /** meridian arc length from the equator (Snyder 3-21) */
  private def meridianArc(a: Double, e2: Double, phi: Double): Double = {
    val e4 = e2 * e2; val e6 = e4 * e2
    a * ((1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256) * phi
      - (3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024) * StrictMath.sin(2 * phi)
      + (15 * e4 / 256 + 45 * e6 / 1024) * StrictMath.sin(4 * phi)
      - (35 * e6 / 3072) * StrictMath.sin(6 * phi))
  }

  private def utmCentralMeridian(zone: Int): Double =
    StrictMath.toRadians((zone - 1) * 6 - 180 + 3)

  /** lat0/lon0 in RADIANS; x0/y0 meters. `extentName` labels errors. */
  final case class Tm(a: Double, f: Double, lat0: Double, lon0: Double,
      k0: Double, x0: Double, y0: Double,
      extentName: String = "TM") extends Proj {
    val e2: Double = f * (2.0 - f)
    val ep2: Double = e2 / (1.0 - e2)
    // M(lat0): 0.0 exactly for equatorial origins (UTM), so the UTM
    // legs reproduce the pre-parameterized doubles bit-for-bit
    val m0: Double = if (lat0 == 0.0) 0.0 else meridianArc(a, e2, lat0)

    def fwd(lon: Double, lat: Double): (Double, Double) = {
      if (lat < -80.0 || lat > 84.0 || lat.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: latitude $lat outside the $extentName " +
            "transverse Mercator validity band [-80, 84]")
      if (lon < -180.0 || lon > 180.0 || lon.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: longitude $lon out of [-180, 180] for EPSG:4326")
      // the series is meaningless far from the central meridian — the
      // inverse leg's loud-extent stance, applied forward (ADVICE r15)
      val dLonDeg = wrapLonDeg(lon - StrictMath.toDegrees(lon0))
      if (dLonDeg < -15.0 || dLonDeg > 15.0)
        throw new IllegalArgumentException(
          s"st_transform: longitude $lon is ${math.abs(dLonDeg)}° from " +
            s"the $extentName central meridian " +
            s"(${StrictMath.toDegrees(lon0)}°) — beyond the series' " +
            "±15° validity; use the zone/CRS that covers this point")
      val phi = StrictMath.toRadians(lat)
      val sinP = StrictMath.sin(phi); val cosP = StrictMath.cos(phi)
      val tanP = StrictMath.tan(phi)
      val n = a / StrictMath.sqrt(1 - e2 * sinP * sinP)
      val t = tanP * tanP
      val c = ep2 * cosP * cosP
      val aA = wrapLonRad(StrictMath.toRadians(lon) - lon0) * cosP
      val a2 = aA * aA; val a3 = a2 * aA; val a4 = a2 * a2
      val a5 = a4 * aA; val a6 = a4 * a2
      val x = k0 * n * (aA + (1 - t + c) * a3 / 6
        + (5 - 18 * t + t * t + 72 * c - 58 * ep2) * a5 / 120) + x0
      val yN = k0 * (meridianArc(a, e2, phi) - m0 + n * tanP * (a2 / 2
        + (5 - t + 9 * c + 4 * c * c) * a4 / 24
        + (61 - 58 * t + t * t + 600 * c - 330 * ep2) * a6 / 720))
      (x, yN + y0)
    }

    def inv(x: Double, y: Double): (Double, Double) = {
      // loud extent guards: eastings within ~±10° of the central
      // meridian even with generous overlap (≪ 2e6 m of the false
      // easting), northings within the meridian quarter-arc plus the
      // false northing
      if (x.isNaN || x - x0 < -2000000.0 || x - x0 > 2000000.0)
        throw new IllegalArgumentException(
          s"st_transform: easting $x outside the $extentName plausible " +
            s"extent (2e6 m of the ${x0} m false easting) — wrong " +
            "zone/CRS or not projected meters")
      if (y.isNaN || y - y0 < -10100000.0 || y - y0 > 10100000.0)
        throw new IllegalArgumentException(
          s"st_transform: northing $y outside the $extentName extent " +
            s"(1.01e7 m of the ${y0} m false northing)")
      val m = (y - y0) / k0 + m0
      val mu = m / (a * (1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * e2 * e2 * e2 / 256))
      val sq = StrictMath.sqrt(1 - e2)
      val e1 = (1 - sq) / (1 + sq)
      val e1_2 = e1 * e1; val e1_3 = e1_2 * e1; val e1_4 = e1_2 * e1_2
      val phi1 = mu + (3 * e1 / 2 - 27 * e1_3 / 32) * StrictMath.sin(2 * mu) +
        (21 * e1_2 / 16 - 55 * e1_4 / 32) * StrictMath.sin(4 * mu) +
        (151 * e1_3 / 96) * StrictMath.sin(6 * mu) +
        (1097 * e1_4 / 512) * StrictMath.sin(8 * mu)
      val sinP1 = StrictMath.sin(phi1); val cosP1 = StrictMath.cos(phi1)
      val tanP1 = StrictMath.tan(phi1)
      val c1 = ep2 * cosP1 * cosP1
      val t1 = tanP1 * tanP1
      val oneMinus = 1 - e2 * sinP1 * sinP1
      val n1 = a / StrictMath.sqrt(oneMinus)
      val r1 = a * (1 - e2) / (oneMinus * StrictMath.sqrt(oneMinus))
      val d = (x - x0) / (n1 * k0)
      val d2 = d * d; val d3 = d2 * d; val d4 = d2 * d2
      val d5 = d4 * d; val d6 = d4 * d2
      val phi = phi1 - (n1 * tanP1 / r1) * (d2 / 2
        - (5 + 3 * t1 + 10 * c1 - 4 * c1 * c1 - 9 * ep2) * d4 / 24
        + (61 + 90 * t1 + 298 * c1 + 45 * t1 * t1 - 252 * ep2 - 3 * c1 * c1)
          * d6 / 720)
      val lam = lon0 + (d - (1 + 2 * t1 + c1) * d3 / 6
        + (5 - 2 * c1 + 28 * t1 - 3 * c1 * c1 + 8 * ep2 + 24 * t1 * t1)
          * d5 / 120) / cosP1
      // guard the recovered meridian DELTA (r17): a near-pole northing
      // passes the metric extent guards yet makes cosP1 ~ 0 and the
      // d/cosP1 series explode to thousands of degrees — a single-wrap
      // output would still be garbage. A legitimate TM recovery is
      // within the fwd leg's ±15° band; beyond ±25° is not a valid
      // projected point for this zone.
      val dlDeg = StrictMath.toDegrees(lam - lon0)
      if (dlDeg < -25.0 || dlDeg > 25.0 || dlDeg.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: ($x, $y) does not invert to a point near the " +
            s"$extentName central meridian (recovered delta ${dlDeg}°) — " +
            "not a valid projected point for this zone")
      // wrap the RECOVERED longitude too (ADVICE r16): a zone whose
      // central meridian sits near ±180 recovers lon0+delta outside
      // [-180, 180], which fwd and every EPSG:4326 consumer reject —
      // identity (same doubles) whenever already in range
      (wrapLonDeg(StrictMath.toDegrees(lam)), StrictMath.toDegrees(phi))
    }
  }

  /** (zone, south) of a UTM SRID, None if not UTM */
  private def utmOf(srid: Int): Option[(Int, Boolean)] =
    if (srid >= 32601 && srid <= 32660) Some((srid - 32600, false))
    else if (srid >= 32701 && srid <= 32760) Some((srid - 32700, true))
    else None

  /** the 120 UTM rows of the TM kernel, built once */
  private val utmProj: Array[Tm] = Array.tabulate(120) { i =>
    val south = i >= 60
    val zone = (i % 60) + 1
    Tm(WgsA, WgsF, lat0 = 0.0, lon0 = utmCentralMeridian(zone),
      k0 = UtmK0, x0 = 500000.0, y0 = if (south) 10000000.0 else 0.0,
      extentName = s"UTM zone $zone${if (south) "S" else "N"}")
  }

  // ---- Lambert conformal conic, 2 standard parallels (Snyder ch. 15,
  // eqs 15-1..15-11 and the iterative 7-9 inverse) — the projection
  // family behind most national grids. Registry carries the published
  // EPSG parameter sets; Lambert-93 (EPSG:2154, the French national
  // grid, GRS80 ellipsoid) ships first. StrictMath throughout.
  final case class Lcc(a: Double, f: Double,
      lat0: Double, lon0: Double, lat1: Double, lat2: Double,
      x0: Double, y0: Double) extends Proj {
    val e: Double = StrictMath.sqrt(f * (2 - f))
    private def mOf(phi: Double): Double = {
      val s = StrictMath.sin(phi)
      StrictMath.cos(phi) / StrictMath.sqrt(1 - e * e * s * s)
    }
    private def tOf(phi: Double): Double = {
      val s = StrictMath.sin(phi)
      StrictMath.tan(StrictMath.PI / 4 - phi / 2) /
        StrictMath.pow((1 - e * s) / (1 + e * s), e / 2)
    }
    val n: Double = (StrictMath.log(mOf(lat1)) - StrictMath.log(mOf(lat2))) /
      (StrictMath.log(tOf(lat1)) - StrictMath.log(tOf(lat2)))
    val bigF: Double = mOf(lat1) / (n * StrictMath.pow(tOf(lat1), n))
    val rho0: Double = a * bigF * StrictMath.pow(tOf(lat0), n)

    def fwd(lon: Double, lat: Double): (Double, Double) = {
      if (lon < -180.0 || lon > 180.0 || lon.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: longitude $lon out of [-180, 180] for EPSG:4326")
      if (lat < -89.0 || lat > 89.0 || lat.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: latitude $lat outside the Lambert conic's " +
            "validity band [-89, 89]")
      val phi = StrictMath.toRadians(lat)
      val rho = a * bigF * StrictMath.pow(tOf(phi), n)
      val th = n * wrapLonRad(StrictMath.toRadians(lon) - lon0)
      (x0 + rho * StrictMath.sin(th), y0 + rho0 - rho * StrictMath.cos(th))
    }

    def inv(x: Double, y: Double): (Double, Double) = {
      if (x.isNaN || y.isNaN || math.abs(x - x0) > 1.0e7 ||
          math.abs(y - y0) > 1.0e7)
        throw new IllegalArgumentException(
          s"st_transform: ($x, $y) outside the Lambert conic's " +
            "plausible extent (1e7 m of the false origin)")
      val dx = x - x0; val dy = rho0 - (y - y0)
      val rho = math.signum(n) * StrictMath.hypot(dx, dy)
      val tP = StrictMath.pow(rho / (a * bigF), 1.0 / n)
      // Snyder 14-11 note: for a SOUTHERN cone (n < 0) the signs of
      // (dx, dy) must reverse before the angle recovery — ρ is
      // negative there, so atan2 on the raw components lands θ ± π
      // and the longitude unwraps a whole branch away
      val th = if (n < 0) StrictMath.atan2(-dx, -dy)
        else StrictMath.atan2(dx, dy)
      var phi = StrictMath.PI / 2 - 2 * StrictMath.atan(tP)
      var i = 0
      while (i < 9) { // Snyder 7-9: converges to double precision fast
        val s = StrictMath.sin(phi)
        phi = StrictMath.PI / 2 - 2 * StrictMath.atan(
          tP * StrictMath.pow((1 - e * s) / (1 + e * s), e / 2))
        i += 1
      }
      // a point beyond the cone apex (y − y0 > ρ0) passes the metric
      // extent guard yet unwraps to a longitude DELTA beyond ±180
      // through θ/n — reject the meaningless coordinate loudly. The
      // guard runs on the delta (not the absolute longitude) so a
      // legitimate cross-antimeridian recovery from a lon_0 near ±180
      // wraps instead of raising (ADVICE r16); in-range results keep
      // their exact pre-wrap doubles.
      val dlDeg = StrictMath.toDegrees(th / n)
      val latDeg = StrictMath.toDegrees(phi)
      if (dlDeg < -180.0 || dlDeg > 180.0 || latDeg.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: ($x, $y) is beyond the Lambert cone's apex " +
            s"(unwraps to a ${dlDeg}° meridian delta) — not a valid " +
            "projected point")
      (wrapLonDeg(StrictMath.toDegrees(th / n + lon0)), latDeg)
    }
  }

  /** published EPSG parameter sets for the LCC registry */
  private val LccRegistry: Map[Int, Lcc] = Map(
    // Lambert-93 / RGF93 (EPSG:2154): GRS80, lat0 46.5°, lon0 3°,
    // parallels 44°/49°, false origin (700000, 6600000)
    2154 -> Lcc(a = 6378137.0, f = 1.0 / 298.257222101,
      lat0 = StrictMath.toRadians(46.5), lon0 = StrictMath.toRadians(3.0),
      lat1 = StrictMath.toRadians(44.0), lat2 = StrictMath.toRadians(49.0),
      x0 = 700000.0, y0 = 6600000.0))

  // ---- Lambert azimuthal EQUAL-AREA, ellipsoidal oblique aspect
  // (Snyder ch. 24, eqs 3-12, 24-2..24-21 with the 3-16 iterative
  // authalic→geodetic recovery) — EPSG:3035 (ETRS89-LAEA) is the grid
  // every EU statistical dataset ships on. Equal-area by construction:
  // the property statistics need and conformal projections can't give.
  final case class Laea(a: Double, f: Double,
      lat0: Double, lon0: Double, x0: Double, y0: Double) extends Proj {
    val e2: Double = f * (2 - f)
    val e: Double = StrictMath.sqrt(e2)
    private def qOf(phi: Double): Double = {
      val s = StrictMath.sin(phi)
      (1 - e2) * (s / (1 - e2 * s * s) -
        (1 / (2 * e)) * StrictMath.log((1 - e * s) / (1 + e * s)))
    }
    val qp: Double = qOf(StrictMath.PI / 2)
    val beta1: Double = StrictMath.asin(qOf(lat0) / qp)
    val rq: Double = a * StrictMath.sqrt(qp / 2)
    private val m1 = {
      val s = StrictMath.sin(lat0)
      StrictMath.cos(lat0) / StrictMath.sqrt(1 - e2 * s * s)
    }
    val bigD: Double = a * m1 / (rq * StrictMath.cos(beta1))

    def fwd(lon: Double, lat: Double): (Double, Double) = {
      if (lon < -180.0 || lon > 180.0 || lon.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: longitude $lon out of [-180, 180] for EPSG:4326")
      if (lat < -90.0 || lat > 90.0 || lat.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: latitude $lat out of [-90, 90] for EPSG:4326")
      val beta = StrictMath.asin(qOf(StrictMath.toRadians(lat)) / qp)
      val dl = wrapLonRad(StrictMath.toRadians(lon) - lon0)
      val sinB = StrictMath.sin(beta); val cosB = StrictMath.cos(beta)
      val sinB1 = StrictMath.sin(beta1); val cosB1 = StrictMath.cos(beta1)
      val denom = 1 + sinB1 * sinB + cosB1 * cosB * StrictMath.cos(dl)
      if (denom < 1e-12) throw new IllegalArgumentException(
        "st_transform: point antipodal to the LAEA projection center")
      val b = rq * StrictMath.sqrt(2 / denom)
      (x0 + b * bigD * cosB * StrictMath.sin(dl),
        y0 + (b / bigD) * (cosB1 * sinB -
          sinB1 * cosB * StrictMath.cos(dl)))
    }

    def inv(x: Double, y: Double): (Double, Double) = {
      if (x.isNaN || y.isNaN || math.abs(x - x0) > 1.3e7 ||
          math.abs(y - y0) > 1.3e7)
        throw new IllegalArgumentException(
          s"st_transform: ($x, $y) outside the LAEA plausible extent " +
            "(1.3e7 m of the false origin)")
      val dx = (x - x0) / bigD; val dy = bigD * (y - y0)
      val rho = StrictMath.hypot(dx, dy)
      if (rho < 1e-12)
        return (StrictMath.toDegrees(lon0), StrictMath.toDegrees(lat0))
      // rho > 2Rq is outside the projected disc: asin would yield NaN
      // and sail through silently — raise like every other domain edge
      if (rho > 2 * rq)
        throw new IllegalArgumentException(
          s"st_transform: ($x, $y) outside the LAEA projected disc " +
            s"(rho $rho > ${2 * rq})")
      val ce = 2 * StrictMath.asin(rho / (2 * rq))
      val sinCe = StrictMath.sin(ce); val cosCe = StrictMath.cos(ce)
      val sinB1 = StrictMath.sin(beta1); val cosB1 = StrictMath.cos(beta1)
      val qPrime = qp * (cosCe * sinB1 + dy * sinCe * cosB1 / rho)
      val lam = lon0 + StrictMath.atan2(dx * sinCe,
        rho * cosB1 * cosCe - dy * sinB1 * sinCe)
      // Snyder 3-16: authalic → geodetic, fixed-count iteration
      var phi = StrictMath.asin(qPrime / 2)
      var i = 0
      while (i < 9) {
        val s = StrictMath.sin(phi)
        val one = 1 - e2 * s * s
        phi = phi + one * one / (2 * StrictMath.cos(phi)) * (
          qPrime / (1 - e2) - s / one +
            (1 / (2 * e)) * StrictMath.log((1 - e * s) / (1 + e * s)))
        i += 1
      }
      // lam = lon0 + atan2(...) ∈ (−2π, 2π): one wrap recovers the
      // cross-antimeridian case (ADVICE r16), identity otherwise
      (wrapLonDeg(StrictMath.toDegrees(lam)), StrictMath.toDegrees(phi))
    }
  }

  private val LaeaRegistry: Map[Int, Laea] = Map(
    // ETRS89-extended / LAEA Europe (EPSG:3035): GRS80, center
    // (10°E, 52°N), false origin (4321000, 3210000)
    3035 -> Laea(a = 6378137.0, f = 1.0 / 298.257222101,
      lat0 = StrictMath.toRadians(52.0), lon0 = StrictMath.toRadians(10.0),
      x0 = 4321000.0, y0 = 3210000.0))

  // ---- Albers equal-area conic, 2 standard parallels (Snyder ch. 14,
  // eqs 14-1..14-11 with the same 3-16 authalic→geodetic iteration as
  // LAEA) — the projection behind EPSG:5070 (NAD83 / CONUS Albers),
  // the grid US national datasets ship on. Parameter-row driven.
  final case class Aea(a: Double, f: Double, lat0: Double, lon0: Double,
      lat1: Double, lat2: Double, x0: Double, y0: Double) extends Proj {
    val e2: Double = f * (2 - f)
    val e: Double = StrictMath.sqrt(e2)
    private def qOf(phi: Double): Double = {
      val s = StrictMath.sin(phi)
      (1 - e2) * (s / (1 - e2 * s * s) -
        (1 / (2 * e)) * StrictMath.log((1 - e * s) / (1 + e * s)))
    }
    private def mOf(phi: Double): Double = {
      val s = StrictMath.sin(phi)
      StrictMath.cos(phi) / StrictMath.sqrt(1 - e2 * s * s)
    }
    val n: Double = {
      val m1 = mOf(lat1); val m2 = mOf(lat2)
      (m1 * m1 - m2 * m2) / (qOf(lat2) - qOf(lat1))
    }
    val bigC: Double = { val m1 = mOf(lat1); m1 * m1 + n * qOf(lat1) }
    val rho0: Double = a * StrictMath.sqrt(bigC - n * qOf(lat0)) / n

    def fwd(lon: Double, lat: Double): (Double, Double) = {
      if (lon < -180.0 || lon > 180.0 || lon.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: longitude $lon out of [-180, 180] for EPSG:4326")
      if (lat < -90.0 || lat > 90.0 || lat.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: latitude $lat out of [-90, 90] for EPSG:4326")
      val under = bigC - n * qOf(StrictMath.toRadians(lat))
      if (under < 0) throw new IllegalArgumentException(
        s"st_transform: latitude $lat is beyond the Albers cone's " +
          "reach for these standard parallels")
      val rho = a * StrictMath.sqrt(under) / n
      val th = n * wrapLonRad(StrictMath.toRadians(lon) - lon0)
      (x0 + rho * StrictMath.sin(th), y0 + rho0 - rho * StrictMath.cos(th))
    }

    def inv(x: Double, y: Double): (Double, Double) = {
      if (x.isNaN || y.isNaN || math.abs(x - x0) > 1.0e7 ||
          math.abs(y - y0) > 1.0e7)
        throw new IllegalArgumentException(
          s"st_transform: ($x, $y) outside the Albers plausible extent " +
            "(1e7 m of the false origin)")
      val dx = x - x0; val dy = rho0 - (y - y0)
      val rho = math.signum(n) * StrictMath.hypot(dx, dy)
      // Snyder 14-11: southern cone (n < 0) reverses the component
      // signs before the angle recovery (see the Lcc.inv note)
      val th = if (n < 0) StrictMath.atan2(-dx, -dy)
        else StrictMath.atan2(dx, dy)
      val qPrime = (bigC - (rho * n / a) * (rho * n / a)) / n
      // beyond-apex guard on the meridian DELTA, then wrap the output
      // (ADVICE r16 — see the Lcc.inv note)
      val dlDeg = StrictMath.toDegrees(th / n)
      if (dlDeg < -180.0 || dlDeg > 180.0)
        throw new IllegalArgumentException(
          s"st_transform: ($x, $y) is beyond the Albers cone " +
            s"(unwraps to a ${dlDeg}° meridian delta) — not a valid " +
            "projected point")
      val lonDeg = wrapLonDeg(StrictMath.toDegrees(th / n + lon0))
      // Snyder 3-16: authalic → geodetic, fixed-count iteration
      var phi = StrictMath.asin(qPrime / 2)
      var i = 0
      while (i < 9) {
        val s = StrictMath.sin(phi)
        val one = 1 - e2 * s * s
        phi = phi + one * one / (2 * StrictMath.cos(phi)) * (
          qPrime / (1 - e2) - s / one +
            (1 / (2 * e)) * StrictMath.log((1 - e * s) / (1 + e * s)))
        i += 1
      }
      if (phi.isNaN) throw new IllegalArgumentException(
        s"st_transform: ($x, $y) does not invert to a geodetic " +
          "latitude under this Albers cone")
      (lonDeg, StrictMath.toDegrees(phi))
    }
  }

  // ---- Polar stereographic, ellipsoid (r17): Snyder ch. 21 polar
  // aspects — EPSG method 9810 "variant A" (scale factor k_0 at the
  // pole: the UPS grids EPSG:5041/5042) and 9829 "variant B" (standard
  // parallel lat_ts: the sea-ice/ice-sheet grids EPSG:3031/3413/3976/
  // 3995 every polar climate product ships on). ONE kernel serves both
  // poles via the published sign flip (Snyder p. 161: reverse the
  // signs of φ, λ−λ0, x and y for the south aspect). Conformal t(φ)
  // is the same series the Lcc/Mercator kernels use; the inverse runs
  // the fixed-count 7-9 iteration. StrictMath throughout.
  final case class Stere(a: Double, f: Double, south: Boolean,
      useTs: Boolean, latTs: Double, k0: Double, lon0: Double,
      x0: Double, y0: Double,
      extentName: String = "polar stereographic") extends Proj {
    val e2: Double = f * (2 - f)
    val e: Double = StrictMath.sqrt(e2)
    private def tOf(phi: Double): Double = {
      val s = StrictMath.sin(phi)
      StrictMath.tan(StrictMath.PI / 4 - phi / 2) /
        StrictMath.pow((1 - e * s) / (1 + e * s), e / 2)
    }
    /** ρ = rhoFac · t(φ): variant B ships a·m_c/t_c (Snyder 21-34),
      * variant A ships 2·a·k0/√((1+e)^(1+e)(1−e)^(1−e)) (21-33) */
    val rhoFac: Double =
      if (useTs) {
        val s = StrictMath.sin(latTs)
        val mc = StrictMath.cos(latTs) / StrictMath.sqrt(1 - e2 * s * s)
        a * mc / tOf(latTs)
      } else
        2.0 * a * k0 / StrictMath.sqrt(
          StrictMath.pow(1 + e, 1 + e) * StrictMath.pow(1 - e, 1 - e))
    // ρ at 45° across the equator from the pole — the loud-extent
    // ceiling both legs share (a polar grid used deep into the other
    // hemisphere is the wrong CRS, not a projection domain)
    private val rhoMax: Double = rhoFac * tOf(StrictMath.toRadians(-45.0))

    def fwd(lon: Double, lat: Double): (Double, Double) = {
      if (lon < -180.0 || lon > 180.0 || lon.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: longitude $lon out of [-180, 180] for EPSG:4326")
      if (lat < -90.0 || lat > 90.0 || lat.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: latitude $lat out of [-90, 90] for EPSG:4326")
      val sg = if (south) -1.0 else 1.0
      val phiE = sg * StrictMath.toRadians(lat)
      if (phiE < -StrictMath.PI / 4)
        throw new IllegalArgumentException(
          s"st_transform: latitude $lat is more than 45° into the " +
            s"opposite hemisphere for the $extentName " +
            s"${if (south) "south" else "north"} aspect — use the other " +
            "pole's grid")
      val dlE = sg * wrapLonRad(StrictMath.toRadians(lon) - lon0)
      val rho = rhoFac * tOf(phiE)
      (x0 + sg * rho * StrictMath.sin(dlE),
        y0 + sg * (-rho * StrictMath.cos(dlE)))
    }

    def inv(x: Double, y: Double): (Double, Double) = {
      if (x.isNaN || y.isNaN || math.abs(x - x0) > rhoMax ||
          math.abs(y - y0) > rhoMax)
        throw new IllegalArgumentException(
          s"st_transform: ($x, $y) outside the $extentName plausible " +
            s"extent (${rhoMax} m of the false origin)")
      val sg = if (south) -1.0 else 1.0
      val dxE = sg * (x - x0); val dyE = sg * (y - y0)
      val rho = StrictMath.hypot(dxE, dyE)
      if (rho < 1e-12)
        return (wrapLonDeg(StrictMath.toDegrees(lon0)), sg * 90.0)
      if (rho > rhoMax)
        throw new IllegalArgumentException(
          s"st_transform: ($x, $y) is ${rho} m from the $extentName " +
            s"pole — beyond the 45°-overlap extent ($rhoMax m)")
      val tP = rho / rhoFac
      // Snyder 7-9: conformal → geodetic, fixed-count iteration
      var phi = StrictMath.PI / 2 - 2 * StrictMath.atan(tP)
      var i = 0
      while (i < 9) {
        val s = StrictMath.sin(phi)
        phi = StrictMath.PI / 2 - 2 * StrictMath.atan(
          tP * StrictMath.pow((1 - e * s) / (1 + e * s), e / 2))
        i += 1
      }
      val dlE = StrictMath.atan2(dxE, -dyE)
      (wrapLonDeg(StrictMath.toDegrees(lon0 + sg * dlE)),
        StrictMath.toDegrees(sg * phi))
    }
  }

  /** the polar grids a climate data lake actually carries — WGS84
    * variant-B rows (NSIDC/Antarctic) and the variant-A UPS pair */
  private val StereRegistry: Map[Int, Stere] = Map(
    // EPSG:3031 — WGS84 / Antarctic Polar Stereographic (lat_ts 71°S)
    3031 -> Stere(WgsA, WgsF, south = true, useTs = true,
      latTs = StrictMath.toRadians(71.0), k0 = 1.0, lon0 = 0.0,
      x0 = 0.0, y0 = 0.0, extentName = "EPSG:3031"),
    // EPSG:3413 — WGS84 / NSIDC Sea Ice Polar Stereographic North
    // (lat_ts 70°N, lon_0 45°W)
    3413 -> Stere(WgsA, WgsF, south = false, useTs = true,
      latTs = StrictMath.toRadians(70.0), k0 = 1.0,
      lon0 = StrictMath.toRadians(-45.0), x0 = 0.0, y0 = 0.0,
      extentName = "EPSG:3413"),
    // EPSG:3976 — WGS84 / NSIDC Sea Ice Polar Stereographic South
    3976 -> Stere(WgsA, WgsF, south = true, useTs = true,
      latTs = StrictMath.toRadians(70.0), k0 = 1.0, lon0 = 0.0,
      x0 = 0.0, y0 = 0.0, extentName = "EPSG:3976"),
    // EPSG:3995 — WGS84 / Arctic Polar Stereographic (lat_ts 71°N)
    3995 -> Stere(WgsA, WgsF, south = false, useTs = true,
      latTs = StrictMath.toRadians(71.0), k0 = 1.0, lon0 = 0.0,
      x0 = 0.0, y0 = 0.0, extentName = "EPSG:3995"),
    // EPSG:5041/5042 — WGS84 / UPS North & South (variant A: k_0
    // 0.994 at the pole, false origin (2e6, 2e6))
    5041 -> Stere(WgsA, WgsF, south = false, useTs = false, latTs = 0.0,
      k0 = 0.994, lon0 = 0.0, x0 = 2000000.0, y0 = 2000000.0,
      extentName = "EPSG:5041 UPS North"),
    5042 -> Stere(WgsA, WgsF, south = true, useTs = false, latTs = 0.0,
      k0 = 0.994, lon0 = 0.0, x0 = 2000000.0, y0 = 2000000.0,
      extentName = "EPSG:5042 UPS South"))

  // ---- Mercator, ELLIPSOIDAL (r17): Snyder ch. 7 eqs 7-7/7-8 —
  // EPSG:3395 (WGS84 World Mercator), the grid nautical charts and
  // several global marine products ship on. NOT the spherical Web
  // Mercator special case above: y carries the conformal-latitude
  // correction (y = −a·k0·ln t(φ), the same t as Lcc/Stere), ~20 km
  // different at mid-latitudes. Inverse = the 7-9 iteration.
  final case class MercE(a: Double, f: Double, lon0: Double, k0: Double,
      x0: Double, y0: Double) extends Proj {
    val e2: Double = f * (2 - f)
    val e: Double = StrictMath.sqrt(e2)
    private def tOf(phi: Double): Double = {
      val s = StrictMath.sin(phi)
      StrictMath.tan(StrictMath.PI / 4 - phi / 2) /
        StrictMath.pow((1 - e * s) / (1 + e * s), e / 2)
    }
    // |y| at the ±84° validity edge — the inverse's loud ceiling
    private val yMax: Double =
      a * k0 * math.abs(StrictMath.log(tOf(StrictMath.toRadians(84.0))))

    def fwd(lon: Double, lat: Double): (Double, Double) = {
      if (lon < -180.0 || lon > 180.0 || lon.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: longitude $lon out of [-180, 180] for EPSG:4326")
      // the projection diverges at the poles — the TM validity band,
      // matching EPSG:3395's published ±84° usage extent
      if (lat < -84.0 || lat > 84.0 || lat.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: latitude $lat outside the ellipsoidal " +
            "Mercator validity band [-84, 84]")
      (x0 + a * k0 * wrapLonRad(StrictMath.toRadians(lon) - lon0),
        y0 - a * k0 * StrictMath.log(tOf(StrictMath.toRadians(lat))))
    }

    def inv(x: Double, y: Double): (Double, Double) = {
      val xBound = a * k0 * StrictMath.PI + 1e-6
      if (x.isNaN || x - x0 < -xBound || x - x0 > xBound)
        throw new IllegalArgumentException(
          s"st_transform: easting $x outside the ellipsoidal Mercator " +
            s"extent (±$xBound m of the ${x0} m false easting)")
      if (y.isNaN || math.abs(y - y0) > yMax + 1e-6)
        throw new IllegalArgumentException(
          s"st_transform: northing $y outside the ellipsoidal Mercator " +
            s"±84° validity extent (±$yMax m of the ${y0} m false northing)")
      val tP = StrictMath.exp(-(y - y0) / (a * k0))
      var phi = StrictMath.PI / 2 - 2 * StrictMath.atan(tP)
      var i = 0
      while (i < 9) {
        val s = StrictMath.sin(phi)
        phi = StrictMath.PI / 2 - 2 * StrictMath.atan(
          tP * StrictMath.pow((1 - e * s) / (1 + e * s), e / 2))
        i += 1
      }
      (wrapLonDeg(StrictMath.toDegrees(lon0 + (x - x0) / (a * k0))),
        StrictMath.toDegrees(phi))
    }
  }

  private val MercRegistry: Map[Int, MercE] = Map(
    // EPSG:3395 — WGS84 / World Mercator (1SP at the equator, k0 1)
    3395 -> MercE(WgsA, WgsF, lon0 = 0.0, k0 = 1.0, x0 = 0.0, y0 = 0.0))

  // ---- Equidistant cylindrical, ellipsoidal (r17): EPSG method 1028
  // (Snyder ch. 12) — EPSG:4087 (WGS84 World Equidistant Cylindrical)
  // and the plate-carrée grids quick-look global products ship on.
  // x scales by ν(φ_ts)·cos(φ_ts) at the standard parallel; y is the
  // meridian arc (the same Snyder 3-21 series the TM kernel carries),
  // inverted through the same e1 mu-series as Tm.inv.
  final case class Eqc(a: Double, f: Double, latTs: Double, lon0: Double,
      x0: Double, y0: Double) extends Proj {
    val e2: Double = f * (2 - f)
    /** ν(φ_ts)·cos(φ_ts): meters of easting per radian of longitude */
    val nuCos: Double = {
      val s = StrictMath.sin(latTs)
      a * StrictMath.cos(latTs) / StrictMath.sqrt(1 - e2 * s * s)
    }
    private val yMax: Double =
      meridianArc(a, e2, StrictMath.PI / 2) + 1e-6

    def fwd(lon: Double, lat: Double): (Double, Double) = {
      if (lon < -180.0 || lon > 180.0 || lon.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: longitude $lon out of [-180, 180] for EPSG:4326")
      if (lat < -90.0 || lat > 90.0 || lat.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: latitude $lat out of [-90, 90] for EPSG:4326")
      (x0 + nuCos * wrapLonRad(StrictMath.toRadians(lon) - lon0),
        y0 + meridianArc(a, e2, StrictMath.toRadians(lat)))
    }

    def inv(x: Double, y: Double): (Double, Double) = {
      val xBound = nuCos * StrictMath.PI + 1e-6
      if (x.isNaN || x - x0 < -xBound || x - x0 > xBound)
        throw new IllegalArgumentException(
          s"st_transform: easting $x outside the equidistant cylindrical " +
            s"extent (±$xBound m of the ${x0} m false easting)")
      if (y.isNaN || math.abs(y - y0) > yMax)
        throw new IllegalArgumentException(
          s"st_transform: northing $y outside the pole-to-pole meridian " +
            s"arc (±$yMax m of the ${y0} m false northing)")
      // Snyder 3-26: mu-series inversion of the meridian arc (the
      // Tm.inv footing recovery, shared truncation)
      val m = y - y0
      val mu = m / (a * (1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * e2 * e2 * e2 / 256))
      val sq = StrictMath.sqrt(1 - e2)
      val e1 = (1 - sq) / (1 + sq)
      val e1_2 = e1 * e1; val e1_3 = e1_2 * e1; val e1_4 = e1_2 * e1_2
      val phi = mu + (3 * e1 / 2 - 27 * e1_3 / 32) * StrictMath.sin(2 * mu) +
        (21 * e1_2 / 16 - 55 * e1_4 / 32) * StrictMath.sin(4 * mu) +
        (151 * e1_3 / 96) * StrictMath.sin(6 * mu) +
        (1097 * e1_4 / 512) * StrictMath.sin(8 * mu)
      (wrapLonDeg(StrictMath.toDegrees(lon0 + (x - x0) / nuCos)),
        StrictMath.toDegrees(phi))
    }
  }

  private val EqcRegistry: Map[Int, Eqc] = Map(
    // EPSG:4087 — WGS84 / World Equidistant Cylindrical (lat_ts 0)
    4087 -> Eqc(WgsA, WgsF, latTs = 0.0, lon0 = 0.0, x0 = 0.0, y0 = 0.0))

  /** Snyder 3-26: mu-series inversion of the meridian arc (footing
    * latitude), shared by the pseudocylindrical inverses. (Tm.inv and
    * Eqc.inv carry the identical truncation inline — bit-pinned by
    * their gates, so left untouched.) */
  private def invMeridianArc(a: Double, e2: Double, m: Double): Double = {
    val mu = m / (a * (1 - e2 / 4 - 3 * e2 * e2 / 64 - 5 * e2 * e2 * e2 / 256))
    val sq = StrictMath.sqrt(1 - e2)
    val e1 = (1 - sq) / (1 + sq)
    val e1_2 = e1 * e1; val e1_3 = e1_2 * e1; val e1_4 = e1_2 * e1_2
    mu + (3 * e1 / 2 - 27 * e1_3 / 32) * StrictMath.sin(2 * mu) +
      (21 * e1_2 / 16 - 55 * e1_4 / 32) * StrictMath.sin(4 * mu) +
      (151 * e1_3 / 96) * StrictMath.sin(6 * mu) +
      (1097 * e1_4 / 512) * StrictMath.sin(8 * mu)
  }

  // ---- Sinusoidal (r17 cont.): Snyder ch. 30 (eqs 30-8/30-9 forward,
  // 30-10..30-12 inverse) — the equal-area pseudocylindrical behind
  // the MODIS land grid (authalic sphere R = 6371007.181 m, an rf = 0
  // sphere row in the registry) and ESRI-style World Sinusoidal. y is
  // the meridian arc (the shared Snyder 3-21 series); x scales by
  // cosφ/√(1−e²sin²φ). Equal-area by construction — exactly why the
  // MODIS tile products ship on it.
  final case class Sinu(a: Double, f: Double, lon0: Double,
      x0: Double, y0: Double) extends Proj {
    val e2: Double = f * (2 - f)
    private val yMax: Double =
      meridianArc(a, e2, StrictMath.PI / 2) + 1e-6

    def fwd(lon: Double, lat: Double): (Double, Double) = {
      if (lon < -180.0 || lon > 180.0 || lon.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: longitude $lon out of [-180, 180] for EPSG:4326")
      if (lat < -90.0 || lat > 90.0 || lat.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: latitude $lat out of [-90, 90] for EPSG:4326")
      val phi = StrictMath.toRadians(lat)
      val s = StrictMath.sin(phi)
      val x = a * wrapLonRad(StrictMath.toRadians(lon) - lon0) *
        StrictMath.cos(phi) / StrictMath.sqrt(1 - e2 * s * s)
      (x0 + x, y0 + meridianArc(a, e2, phi))
    }

    def inv(x: Double, y: Double): (Double, Double) = {
      val xBound = a * StrictMath.PI + 1e-6
      if (x.isNaN || math.abs(x - x0) > xBound)
        throw new IllegalArgumentException(
          s"st_transform: easting $x outside the sinusoidal extent " +
            s"(±$xBound m of the ${x0} m false easting)")
      if (y.isNaN || math.abs(y - y0) > yMax)
        throw new IllegalArgumentException(
          s"st_transform: northing $y outside the pole-to-pole meridian " +
            s"arc (±$yMax m of the ${y0} m false northing)")
      val phi = invMeridianArc(a, e2, y - y0)
      val cosP = StrictMath.cos(phi)
      if (math.abs(cosP) < 1e-10) // pole: the x axis degenerates
        return (wrapLonDeg(StrictMath.toDegrees(lon0)),
          StrictMath.toDegrees(phi))
      val s = StrictMath.sin(phi)
      val dl = (x - x0) * StrictMath.sqrt(1 - e2 * s * s) / (a * cosP)
      // beyond a full half-turn at this latitude the easting is not a
      // point of the projection (the loud conic-apex stance)
      if (dl < -StrictMath.PI - 1e-9 || dl > StrictMath.PI + 1e-9 || dl.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: ($x, $y) is outside the sinusoidal lens at " +
            s"this latitude — not a valid projected point")
      (wrapLonDeg(StrictMath.toDegrees(lon0 + dl)), StrictMath.toDegrees(phi))
    }
  }

  // ---- Geostationary satellite view (r17 cont.): the CGMS LRIT/HRIT
  // normalized geostationary projection (CF grid_mapping
  // `geostationary`; the algorithm PROJ's `geos` carries) — the
  // native grid of GOES-R ABI (sweep axis x) and Meteosat SEVIRI /
  // Himawari AHI (sweep axis y) L1b/L2 products. Coordinates are
  // scanning angles scaled by the satellite height h: a full-disc
  // image spans ≈ ±5.5e6 m. Points beyond the visible disc reject
  // loudly in BOTH directions (fwd: the visibility determinant; inv:
  // the view ray misses the ellipsoid).
  final case class Geos(a: Double, f: Double, h: Double, sweepX: Boolean,
      lon0: Double, x0: Double, y0: Double) extends Proj {
    private val radiusP = 1.0 - f            // b/a (normalized polar radius)
    private val radiusP2 = radiusP * radiusP
    private val radiusPInv2 = 1.0 / radiusP2
    private val radiusG1 = h / a             // satellite height, normalized
    private val radiusG = 1.0 + radiusG1     // geocentric satellite radius
    private val cDet = radiusG * radiusG - 1.0

    def fwd(lon: Double, lat: Double): (Double, Double) = {
      if (lon < -180.0 || lon > 180.0 || lon.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: longitude $lon out of [-180, 180] for EPSG:4326")
      if (lat < -90.0 || lat > 90.0 || lat.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: latitude $lat out of [-90, 90] for EPSG:4326")
      val dl = wrapLonRad(StrictMath.toRadians(lon) - lon0)
      // geocentric latitude and normalized geocentric radius
      val phiC = StrictMath.atan(radiusP2 * StrictMath.tan(StrictMath.toRadians(lat)))
      val cosC = StrictMath.cos(phiC); val sinC = StrictMath.sin(phiC)
      val re = radiusP / StrictMath.sqrt(radiusP2 * cosC * cosC + sinC * sinC)
      val vx = re * cosC * StrictMath.cos(dl)
      val vy = re * cosC * StrictMath.sin(dl)
      val vz = re * sinC
      if ((radiusG - vx) * vx - vy * vy - vz * vz * radiusPInv2 < 0.0)
        throw new IllegalArgumentException(
          s"st_transform: ($lon, $lat) is beyond the horizon of the " +
            s"geostationary satellite at ${StrictMath.toDegrees(lon0)}°E — " +
            "not on the visible disc")
      val tmp = radiusG - vx
      if (sweepX)
        (x0 + a * radiusG1 * StrictMath.atan(vy / StrictMath.hypot(vz, tmp)),
          y0 + a * radiusG1 * StrictMath.atan(vz / tmp))
      else
        (x0 + a * radiusG1 * StrictMath.atan(vy / tmp),
          y0 + a * radiusG1 * StrictMath.atan(vz / StrictMath.hypot(vy, tmp)))
    }

    def inv(x: Double, y: Double): (Double, Double) = {
      // scan angles are geometrically < π/2 from boresight — a loose
      // units guard; the real disc test is the determinant below
      val bound = a * radiusG1 * (StrictMath.PI / 2)
      if (x.isNaN || math.abs(x - x0) > bound)
        throw new IllegalArgumentException(
          s"st_transform: easting $x outside the geostationary scan " +
            s"extent (±$bound m of the ${x0} m false easting)")
      if (y.isNaN || math.abs(y - y0) > bound)
        throw new IllegalArgumentException(
          s"st_transform: northing $y outside the geostationary scan " +
            s"extent (±$bound m of the ${y0} m false northing)")
      val xn = (x - x0) / (a * radiusG1)
      val yn = (y - y0) / (a * radiusG1)
      var vx = -1.0
      var vy = 0.0
      var vz = 0.0
      if (sweepX) {
        vz = StrictMath.tan(yn)
        vy = StrictMath.tan(xn) * StrictMath.hypot(1.0, vz)
      } else {
        vy = StrictMath.tan(xn)
        vz = StrictMath.tan(yn) * StrictMath.hypot(1.0, vy)
      }
      // intersect the view ray with the ellipsoid (quadratic in the
      // ray parameter); no real root = the scan angle misses the Earth
      val az = vz / radiusP
      val aq = vy * vy + az * az + vx * vx
      val bq = 2.0 * radiusG * vx
      val det = bq * bq - 4.0 * aq * cDet
      if (det < 0.0)
        throw new IllegalArgumentException(
          s"st_transform: ($x, $y) does not intersect the Earth — " +
            "outside the geostationary visible disc")
      val k = (-bq - StrictMath.sqrt(det)) / (2.0 * aq)
      vx = radiusG + k * vx
      vy *= k
      vz *= k
      val lam = StrictMath.atan2(vy, vx)
      val phiC = StrictMath.atan(vz * StrictMath.cos(lam) / vx)
      val phi = StrictMath.atan(radiusPInv2 * StrictMath.tan(phiC))
      (wrapLonDeg(StrictMath.toDegrees(lon0 + lam)), StrictMath.toDegrees(phi))
    }
  }

  // ---- geographic (unprojected) CRS (r17): a `longlat` registry row
  // is the identity "projection" — degrees in, degrees out — whose
  // whole point is the DATUM: wrapped in [[DatumShifted]] it makes any
  // geodetic CRS (OSGB36 geographic EPSG:4277, NAD27 EPSG:4267, …)
  // addressable as an st_transform target, the geographic↔geographic
  // datum shift a lake full of legacy-datum lon/lat columns needs.
  // Without datum keys it registers a WGS84-compatible alias (GRS80
  // rows: ETRS89 EPSG:4258, NAD83 EPSG:4269 — identity to double
  // precision at the towgs84 level, the published stance).
  final case class LongLat(a: Double, f: Double) extends Proj {
    def fwd(lon: Double, lat: Double): (Double, Double) = {
      if (lon < -180.0 || lon > 180.0 || lon.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: longitude $lon out of [-180, 180] for EPSG:4326")
      if (lat < -90.0 || lat > 90.0 || lat.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: latitude $lat out of [-90, 90] for EPSG:4326")
      (lon, lat)
    }
    def inv(x: Double, y: Double): (Double, Double) = {
      if (x.isNaN || x < -180.0 || x > 180.0)
        throw new IllegalArgumentException(
          s"st_transform: longitude $x out of [-180, 180] for a " +
            "geographic CRS")
      if (y.isNaN || y < -90.0 || y > 90.0)
        throw new IllegalArgumentException(
          s"st_transform: latitude $y out of [-90, 90] for a " +
            "geographic CRS")
      (x, y)
    }
  }

  // ---- 7-parameter Helmert datum shift (r16): the published EPSG
  // position-vector transformation (EPSG method 9606; PROJ `towgs84`
  // convention) between a LOCAL geodetic datum and WGS84 — rotations
  // in arc-seconds, scale in ppm. 2D transforms assume h = 0, the
  // standard stance for map-grid work. Without it, projecting WGS84
  // lon/lat straight onto a non-WGS84 grid (OSGB36, ~100 m offset) is
  // only ellipsoid-correct, not datum-correct.
  final case class Helmert(dx: Double, dy: Double, dz: Double,
      rx: Double, ry: Double, rz: Double, ppm: Double) extends Serializable {
    private val s = 1.0 + ppm * 1e-6
    private val rxR = StrictMath.toRadians(rx / 3600.0)
    private val ryR = StrictMath.toRadians(ry / 3600.0)
    private val rzR = StrictMath.toRadians(rz / 3600.0)
    /** local-datum geocentric → WGS84 geocentric (the towgs84 leg) */
    def toWgs(x: Double, y: Double, z: Double): (Double, Double, Double) =
      (dx + s * (x - rzR * y + ryR * z),
        dy + s * (rzR * x + y - rxR * z),
        dz + s * (-ryR * x + rxR * y + z))
    /** WGS84 geocentric → local-datum geocentric (exact inverse of the
      * small-angle forward matrix: R⁻¹ from the same skew terms) */
    def fromWgs(x: Double, y: Double, z: Double): (Double, Double, Double) = {
      val px = (x - dx) / s; val py = (y - dy) / s; val pz = (z - dz) / s
      // invert I + R_skew exactly (3×3 solve of the forward rotation)
      val det = 1.0 + rxR * rxR + ryR * ryR + rzR * rzR
      (((1 + rxR * rxR) * px + (rzR + rxR * ryR) * py +
        (rxR * rzR - ryR) * pz) / det,
        ((rxR * ryR - rzR) * px + (1 + ryR * ryR) * py +
          (rxR + ryR * rzR) * pz) / det,
        ((ryR + rxR * rzR) * px + (ryR * rzR - rxR) * py +
          (1 + rzR * rzR) * pz) / det)
    }
  }

  /** geodetic (lon°, lat°, h=0) → geocentric XYZ on ellipsoid (a, f) */
  private def geodeticToXyz(a: Double, f: Double, lon: Double,
      lat: Double): (Double, Double, Double) = {
    val e2 = f * (2 - f)
    val phi = StrictMath.toRadians(lat); val lam = StrictMath.toRadians(lon)
    val sinP = StrictMath.sin(phi); val cosP = StrictMath.cos(phi)
    val n = a / StrictMath.sqrt(1 - e2 * sinP * sinP)
    (n * cosP * StrictMath.cos(lam), n * cosP * StrictMath.sin(lam),
      n * (1 - e2) * sinP)
  }

  /** geocentric XYZ → geodetic (lon°, lat°) on ellipsoid (a, f):
    * fixed-count latitude iteration (converges to double precision in
    * a handful of rounds for surface points) */
  private def xyzToGeodetic(a: Double, f: Double, x: Double, y: Double,
      z: Double): (Double, Double) = {
    val e2 = f * (2 - f)
    val p = StrictMath.hypot(x, y)
    var phi = StrictMath.atan2(z, p * (1 - e2))
    var i = 0
    while (i < 8) {
      val sinP = StrictMath.sin(phi)
      val n = a / StrictMath.sqrt(1 - e2 * sinP * sinP)
      phi = StrictMath.atan2(z + e2 * n * sinP, p)
      i += 1
    }
    (StrictMath.toDegrees(StrictMath.atan2(y, x)), StrictMath.toDegrees(phi))
  }

  /** a projected CRS on a NON-WGS84 datum: WGS84 lon/lat shifts through
    * the Helmert parameters onto the local datum's ellipsoid before
    * projecting (and back after un-projecting) */
  final case class DatumShifted(inner: Proj, a: Double, f: Double,
      helmert: Helmert) extends Proj {
    private val WgsAC = 6378137.0
    private val WgsFC = 1.0 / 298.257223563
    def fwd(lon: Double, lat: Double): (Double, Double) = {
      // guard the WGS84 INPUT here: the geocentric round-trip below
      // normalizes any angle (lon 200 would silently become -160
      // before the inner projection's own guards could see it)
      if (lon < -180.0 || lon > 180.0 || lon.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: longitude $lon out of [-180, 180] for EPSG:4326")
      if (lat < -90.0 || lat > 90.0 || lat.isNaN)
        throw new IllegalArgumentException(
          s"st_transform: latitude $lat out of [-90, 90] for EPSG:4326")
      val (wx, wy, wz) = geodeticToXyz(WgsAC, WgsFC, lon, lat)
      val (lx, ly, lz) = helmert.fromWgs(wx, wy, wz)
      val (lLon, lLat) = xyzToGeodetic(a, f, lx, ly, lz)
      inner.fwd(lLon, lLat)
    }
    def inv(x: Double, y: Double): (Double, Double) = {
      val (lLon, lLat) = inner.inv(x, y)
      val (lx, ly, lz) = geodeticToXyz(a, f, lLon, lLat)
      val (wx, wy, wz) = helmert.toWgs(lx, ly, lz)
      xyzToGeodetic(WgsAC, WgsFC, wx, wy, wz)
    }
  }

  // ------------------------------- parameterized CRS registry (r16)
  // The reference reaches arbitrary EPSG codes through geodatafusion
  // (beacon-functions/src/lib.rs:31). Graft drives its four projection
  // kernels (tmerc / lcc / laea / aea — which between them cover the
  // overwhelming majority of projected national grids) from PARAMETER
  // ROWS: the named registries above are the seed rows, and any other
  // EPSG code registers at runtime from its published parameters — a
  // data row, not a code change.

  /** runtime-registered CRS rows (srid → projection) */
  private val dynamicCrs =
    new java.util.concurrent.ConcurrentHashMap[Int, Proj]()

  /** Register a CRS from its published EPSG parameters.
    * `family`: tmerc | lcc | laea | aea | stere | merc | eqc | sinu |
    * geos | longlat.
    * Angles in DEGREES (as EPSG publishes them); `a` meters; `rf` the
    * inverse flattening 1/f — `rf = 0` declares a SPHERE (f = 0; the
    * MODIS sinusoidal and other authalic-sphere grids). Keys (PROJ
    * naming): lat_0, lon_0, k_0 (tmerc / stere variant A / merc),
    * lat_1, lat_2 (conics), lat_ts (stere variant B), x_0, y_0, h +
    * sweep_x (geos: satellite height above the ellipsoid in meters and
    * the scan-axis flag — 1 for GOES-R ABI, absent/0 for the SEVIRI /
    * AHI y-sweep). `stere` is the POLAR aspect: lat_0 must be ±90
    * (picks the pole) and lat_ts/k_0 are mutually exclusive — EPSG
    * methods 9829/9810. `longlat` is a GEOGRAPHIC CRS (identity
    * coordinates; pair it with towgs84 keys for the
    * geographic↔geographic datum shift). Re-registering the same srid
    * with identical parameters is a no-op; a conflicting redefinition
    * raises. */
  def registerCrs(srid: Int, family: String, p: Map[String, Double]): Unit = {
    def need(k: String): Double = p.getOrElse(k,
      throw new IllegalArgumentException(
        s"register_crs EPSG:$srid ($family): missing parameter '$k'"))
    def opt(k: String, d: Double): Double = p.getOrElse(k, d)
    val a = need("a"); val rf = need("rf")
    require(a > 0 && (rf > 1 || rf == 0.0),
      s"register_crs EPSG:$srid: a must be positive and rf > 1 " +
        s"(or rf = 0 for a sphere); got a=$a, rf=$rf")
    val f = if (rf == 0.0) 0.0 else 1.0 / rf
    val proj: Proj = family match {
      case "tmerc" => Tm(a, f, StrictMath.toRadians(need("lat_0")),
        StrictMath.toRadians(need("lon_0")), opt("k_0", 1.0),
        opt("x_0", 0.0), opt("y_0", 0.0), extentName = s"EPSG:$srid")
      case "lcc" => Lcc(a, f, StrictMath.toRadians(need("lat_0")),
        StrictMath.toRadians(need("lon_0")),
        StrictMath.toRadians(need("lat_1")),
        StrictMath.toRadians(need("lat_2")), opt("x_0", 0.0), opt("y_0", 0.0))
      case "laea" => Laea(a, f, StrictMath.toRadians(need("lat_0")),
        StrictMath.toRadians(need("lon_0")), opt("x_0", 0.0), opt("y_0", 0.0))
      case "aea" => Aea(a, f, StrictMath.toRadians(need("lat_0")),
        StrictMath.toRadians(need("lon_0")),
        StrictMath.toRadians(need("lat_1")),
        StrictMath.toRadians(need("lat_2")), opt("x_0", 0.0), opt("y_0", 0.0))
      case "stere" =>
        // polar aspect only (the EPSG 9810/9829 methods): lat_0 = ±90
        // picks the pole; lat_ts (variant B) XOR k_0 (variant A)
        val lat0 = need("lat_0")
        if (lat0 != 90.0 && lat0 != -90.0)
          throw new IllegalArgumentException(
            s"register_crs EPSG:$srid (stere): lat_0 must be 90 or -90 " +
              s"(polar aspects only), got $lat0")
        if (p.contains("lat_ts") && p.contains("k_0"))
          throw new IllegalArgumentException(
            s"register_crs EPSG:$srid (stere): lat_ts (variant B) and " +
              "k_0 (variant A) are mutually exclusive")
        val south = lat0 < 0
        val ts = p.get("lat_ts")
        ts.foreach { t =>
          if (math.abs(t) >= 90.0 || t == 0.0 || (t < 0) != south)
            throw new IllegalArgumentException(
              s"register_crs EPSG:$srid (stere): lat_ts $t must be a " +
                s"non-zero parallel on the lat_0 = $lat0 pole's hemisphere")
        }
        Stere(a, f, south, useTs = ts.isDefined,
          latTs = StrictMath.toRadians(ts.map(math.abs).getOrElse(0.0)),
          k0 = opt("k_0", 1.0), lon0 = StrictMath.toRadians(need("lon_0")),
          x0 = opt("x_0", 0.0), y0 = opt("y_0", 0.0),
          extentName = s"EPSG:$srid")
      case "merc" => MercE(a, f, StrictMath.toRadians(need("lon_0")),
        opt("k_0", 1.0), opt("x_0", 0.0), opt("y_0", 0.0))
      case "eqc" => Eqc(a, f,
        StrictMath.toRadians(opt("lat_ts", 0.0)),
        StrictMath.toRadians(need("lon_0")), opt("x_0", 0.0), opt("y_0", 0.0))
      case "sinu" => Sinu(a, f, StrictMath.toRadians(need("lon_0")),
        opt("x_0", 0.0), opt("y_0", 0.0))
      case "geos" =>
        val h = need("h")
        require(h > 0, s"register_crs EPSG:$srid (geos): satellite " +
          s"height h must be positive meters, got $h")
        Geos(a, f, h, sweepX = opt("sweep_x", 0.0) != 0.0,
          StrictMath.toRadians(need("lon_0")), opt("x_0", 0.0), opt("y_0", 0.0))
      case "longlat" =>
        // geographic CRS: identity coordinates, the datum is the point
        // — almost always registered WITH towgs84 keys below
        LongLat(a, f)
      case other => throw new IllegalArgumentException(
        s"register_crs EPSG:$srid: unknown family '$other' " +
          "(tmerc|lcc|laea|aea|stere|merc|eqc|sinu|geos|longlat)")
    }
    // optional datum shift (EPSG 9606 / PROJ towgs84): any of the
    // seven keys engages the Helmert pipeline — WGS84 input shifts
    // onto the row's LOCAL datum before projecting. Absent = the
    // grid's datum is treated as WGS84-compatible (GRS80 rows).
    val datumKeys = Seq("dx", "dy", "dz", "rx", "ry", "rz", "ds")
    val shifted: Proj =
      if (datumKeys.exists(p.contains))
        DatumShifted(proj, a, f, Helmert(opt("dx", 0), opt("dy", 0),
          opt("dz", 0), opt("rx", 0), opt("ry", 0), opt("rz", 0),
          opt("ds", 0)))
      else proj
    builtinOf(srid) match {
      case Some(existing) if existing == shifted => () // idempotent
      case Some(existing) => throw new IllegalArgumentException(
        s"register_crs: EPSG:$srid is already defined as $existing — " +
          "refusing a conflicting redefinition")
      case None =>
        // putIfAbsent, not check-then-act (ADVICE r16): two concurrent
        // CONFLICTING registrations of the same srid must not both see
        // None and silently last-write-win past the contract above
        dynamicCrs.putIfAbsent(srid, shifted) match {
          case null => ()
          case existing if existing == shifted => () // idempotent
          case existing => throw new IllegalArgumentException(
            s"register_crs: EPSG:$srid is already defined as $existing — " +
              "refusing a conflicting redefinition")
        }
    }
  }

  /** the fixed rows: UTM ranges and the seed registries (never
    * shadowable by a runtime registration) */
  private def builtinOf(srid: Int): Option[Proj] =
    utmOf(srid).map { case (z, s) => utmProj(if (s) 60 + z - 1 else z - 1) }
      .orElse(LccRegistry.get(srid))
      .orElse(LaeaRegistry.get(srid))
      .orElse(StereRegistry.get(srid))
      .orElse(MercRegistry.get(srid))
      .orElse(EqcRegistry.get(srid))

  /** resolve a projected SRID: UTM range → the shared TM kernel rows,
    * then the seed registries, then runtime registrations */
  def crsOf(srid: Int): Option[Proj] =
    builtinOf(srid).orElse(Option(dynamicCrs.get(srid)))

  /** drop a runtime registration (DROP CRS; also the persistence
    * reload test seam). Builtins are untouchable — only the dynamic
    * map is consulted. Returns true when a registration was removed. */
  private[graft] def unregisterCrs(srid: Int): Boolean =
    dynamicCrs.remove(srid) != null

  /** the family keyword of a projection row (the registerCrs names) */
  def familyOf(p: Proj): String = p match {
    case _: Tm => "tmerc"
    case _: Lcc => "lcc"
    case _: Laea => "laea"
    case _: Aea => "aea"
    case _: Stere => "stere"
    case _: MercE => "merc"
    case _: Eqc => "eqc"
    case _: Sinu => "sinu"
    case _: Geos => "geos"
    case _: LongLat => "longlat"
    case d: DatumShifted => familyOf(d.inner) + "+towgs84"
  }

  /** every addressable CRS row: the special-cased spherical Mercator,
    * the two UTM ranges (as range rows — 120 concrete SRIDs), the
    * seed registries, and runtime registrations. (srid, family,
    * source, definition); range rows carry srid = range start. */
  def listCrs(): Seq[(Int, String, String, String)] = {
    val fixed = Seq(
      (3857, "merc_sph", "builtin", "WGS84 spherical Web Mercator"),
      (32601, "tmerc", "builtin", "UTM north zones 32601-32660 (WGS84)"),
      (32701, "tmerc", "builtin", "UTM south zones 32701-32760 (WGS84)"))
    val seeded = (LccRegistry ++ LaeaRegistry ++ StereRegistry ++
      MercRegistry ++ EqcRegistry).toSeq.map { case (srid, p) =>
      (srid, familyOf(p), "builtin", p.toString)
    }
    val dyn = dynamicCrs.asScala.toSeq.map { case (srid, p) =>
      (srid.toInt, familyOf(p), "registered", p.toString)
    }
    (fixed ++ seeded ++ dyn).sortBy(_._1)
  }

  /** st_transform(wkt, from_srid, to_srid) — every coordinate of the
    * geometry reprojected; 4326↔3857 (spherical Web Mercator),
    * 4326↔UTM (EPSG:32601-60 north, 32701-60 south), the seed
    * parameter rows (EPSG:2154 LCC, EPSG:3035 LAEA, the polar
    * stereographic family EPSG:3031/3413/3976/3995/5041/5042, and
    * EPSG:3395 ellipsoidal Mercator) and every
    * [[registerCrs]]-registered row supported; same-SRID identity. */
  def stTransform(wkt: String, from: Int, to: Int): String =
    stTransformPinned(wkt, from, to, null)

  /** [[stTransform]] with plan-pinned dynamic rows: an expression that
    * resolved its foldable SRIDs on the driver carries (srid, proj)
    * pairs, so runtime registrations reach every executor inside the
    * serialized plan instead of relying on a driver-local map. */
  def stTransformPinned(wkt: String, from: Int, to: Int,
      pinned: Array[(Int, Proj)]): String = {
    def resolve(srid: Int): Option[Proj] = {
      var i = 0
      if (pinned != null) while (i < pinned.length) {
        if (pinned(i)._1 == srid) return Some(pinned(i)._2)
        i += 1
      }
      crsOf(srid)
    }
    val g = parseWktCached(wkt)
    (from, to) match {
      case (a, b) if a == b => wkt
      case (4326, 3857) => toWkt(mapCoords(g, fwdMercator))
      case (3857, 4326) => toWkt(mapCoords(g, invMercator))
      case (4326, s) if resolve(s).isDefined =>
        toWkt(mapCoords(g, resolve(s).get.fwd))
      case (s, 4326) if resolve(s).isDefined =>
        toWkt(mapCoords(g, resolve(s).get.inv))
      case _ =>
        val named = (LccRegistry.keys ++ LaeaRegistry.keys ++
          StereRegistry.keys ++ MercRegistry.keys ++ EqcRegistry.keys ++
          dynamicCrs.keySet().asScala.map(_.toInt)).toSeq.sorted
        throw new IllegalArgumentException(
          s"st_transform: unsupported CRS pair EPSG:$from → EPSG:$to " +
            "(4326↔3857, 4326↔UTM 326xx/327xx, and 4326↔" +
            s"{${named.mkString(",")}} supported; register_crs adds " +
            "tmerc/lcc/laea/aea/stere/merc/eqc/sinu/geos/longlat " +
            "parameter rows)")
    }
  }
}
