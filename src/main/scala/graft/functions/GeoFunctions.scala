package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.udf

/** Geometry scalar functions — the reference's entire geometry surface
  * (SURVEY.md §2.7): WKB point/multipolygon construction (C3/C4,
  * reference filter.py:113-137 via osmium's WKBFactory), polygon
  * centroid (C8, ways_to_centroids.sql:2 `ST_Centroid`), and geodesic
  * area (C9, ways_to_centroids.sql:4 `ST_Area(geom::geography)`).
  *
  * No external geo library (offline build): WKB is hand-rolled
  * little-endian per the OGC spec; geodesic area uses the
  * Chamberlain–Duquette spherical-excess formula (published in "Some
  * algorithms for polygons on a sphere", JPL 2007 — the same algorithm
  * turf.js uses) on the WGS84 sphere. PostGIS computes on the spheroid,
  * so areas differ by up to ~0.5% — documented semantic deviation
  * (SURVEY.md §7.4.1); the 20,000 m² centroid threshold is applied to
  * the spherical value.
  *
  * Invalid rings (null, < 4 points, unclosed) yield null, feeding the
  * F6 invalid-geometry filter (reference filter.py:119-137 records ids
  * and excludes them).
  */
object GeoFunctions {

  /** WGS84 equatorial radius (m) — the sphere radius used for areas. */
  val EarthRadiusM: Double = 6378137.0

  // ---- pure core (shared by UDFs and tests) ----

  /** 21-byte little-endian WKB POINT (C3). */
  def wkbPointBytes(lon: Double, lat: Double): Array[Byte] = {
    val bb = ByteBuffer.allocate(21).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte).putInt(1).putDouble(lon).putDouble(lat)
    bb.array()
  }

  /** WKB MULTIPOLYGON with one polygon from rings (first = exterior,
    * rest = holes) (C4). Returns null on any invalid ring.
    */
  def wkbMultiPolygonBytes(rings: Seq[Seq[(Double, Double)]]): Array[Byte] =
    if (rings == null) null else wkbMultiPolygonPolygonsBytes(Seq(rings))

  /** General WKB MULTIPOLYGON: one entry per polygon, each a ring list
    * (first exterior, rest holes). Null when empty or any ring invalid.
    */
  def wkbMultiPolygonPolygonsBytes(
      polys: Seq[Seq[Seq[(Double, Double)]]]): Array[Byte] = {
    if (polys == null || polys.isEmpty ||
      polys.exists(p => p == null || p.isEmpty || p.exists(!ringValid(_)))) return null
    val size = 9 + polys.map(p => 9 + 4 + p.map(r => 4 + 16 * r.size).sum).sum
    val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte).putInt(6).putInt(polys.size)
    polys.foreach { rings =>
      bb.put(1.toByte).putInt(3).putInt(rings.size) // polygon, numRings
      rings.foreach { r =>
        bb.putInt(r.size)
        r.foreach { case (x, y) => bb.putDouble(x).putDouble(y) }
      }
    }
    bb.array()
  }

  /** WKB LINESTRING (type 2) — the pgsnapshot `ways.linestring` column
    * (schema.sql:194): open ways (roads — most of OSM) carry this
    * geometry; closed ways get a closed linestring, as Osmosis writes
    * them. Null when < 2 points.
    */
  def wkbLineStringBytes(path: Seq[(Double, Double)]): Array[Byte] = {
    if (path == null || path.size < 2) return null
    val bb = ByteBuffer.allocate(9 + 16 * path.size).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte).putInt(2).putInt(path.size)
    path.foreach { case (x, y) => bb.putDouble(x).putDouble(y) }
    bb.array()
  }

  /** EWKB = WKB with PostGIS' embedded-SRID flag — the on-the-wire
    * form a `geometry(…,4326)` column (reference schema.sql:102,194)
    * accepts in COPY text, and what the reference actually ships
    * (pyosmium's WKBFactory emits hex EWKB with SRID; plain WKB would
    * fail the column's typmod SRID check). Header surgery only: the
    * little-endian type word gains bit 0x20000000 and the 4-byte SRID
    * follows it; the coordinate payload is untouched, so this wraps
    * ANY of the WKB builders above.
    */
  def ewkbWithSridBytes(wkb: Array[Byte], srid: Int): Array[Byte] = {
    if (wkb == null) return null
    require(wkb.length >= 5 && wkb(0) == 1.toByte,
      "little-endian WKB expected")
    val tpe = ByteBuffer.wrap(wkb, 1, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
    val bb = ByteBuffer.allocate(wkb.length + 4).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte).putInt(tpe | 0x20000000).putInt(srid)
    bb.put(wkb, 5, wkb.length - 5)
    bb.array()
  }

  /** A linear ring needs ≥ 4 points and closure (F6 validity). */
  def ringValid(ring: Seq[(Double, Double)]): Boolean =
    ring != null && ring.size >= 4 && ring.head == ring.last

  /** Planar shoelace centroid of a simple closed ring (C8). The ring is
    * translated to its first vertex before the shoelace sums — cross
    * products of raw lon/lat (magnitudes ~1e2) around a tiny polygon
    * (area ~1e-6 deg²) cancel catastrophically otherwise, costing ~6
    * significant digits of centroid precision. Falls back to the vertex
    * mean for degenerate (zero-area) rings; null for invalid rings.
    */
  def centroidLonLat(ring: Seq[(Double, Double)]): Option[(Double, Double)] = {
    if (!ringValid(ring)) return None
    val (x0, y0) = ring.head
    var a = 0.0; var cx = 0.0; var cy = 0.0
    var i = 0
    while (i < ring.size - 1) {
      val x1 = ring(i)._1 - x0; val y1 = ring(i)._2 - y0
      val x2 = ring(i + 1)._1 - x0; val y2 = ring(i + 1)._2 - y0
      val cross = x1 * y2 - x2 * y1
      a += cross
      cx += (x1 + x2) * cross
      cy += (y1 + y2) * cross
      i += 1
    }
    if (math.abs(a) < 1e-30) {
      val pts = ring.dropRight(1)
      Some((pts.map(_._1).sum / pts.size, pts.map(_._2).sum / pts.size))
    } else Some((x0 + cx / (3 * a), y0 + cy / (3 * a)))
  }

  /** Spherical geodesic area in m² of a closed lon/lat ring (C9) —
    * Chamberlain–Duquette: A = R²/2 · |Σ (λ₂−λ₁)(2 + sin φ₁ + sin φ₂)|.
    * Null (None) for invalid rings.
    */
  def geodesicAreaM2(ring: Seq[(Double, Double)]): Option[Double] = {
    if (!ringValid(ring)) return None
    var s = 0.0
    var i = 0
    while (i < ring.size - 1) {
      val (lon1, lat1) = ring(i)
      val (lon2, lat2) = ring(i + 1)
      s += math.toRadians(lon2 - lon1) *
        (2 + math.sin(math.toRadians(lat1)) + math.sin(math.toRadians(lat2)))
      i += 1
    }
    Some(math.abs(s) * EarthRadiusM * EarthRadiusM / 2)
  }

  /** WGS84 first eccentricity squared. */
  val E2: Double = 0.00669437999014132
  private val Ecc = math.sqrt(E2)

  /** Snyder, "Map Projections — A Working Manual", eq. 3-12: the
    * authalic q-function; q(φ)/q(90°) = sin of the authalic latitude.
    */
  private def qAuth(latRad: Double): Double = {
    val s = math.sin(latRad)
    (1 - E2) * (s / (1 - E2 * s * s) +
      math.log((1 + Ecc * s) / (1 - Ecc * s)) / (2 * Ecc))
  }
  private val Qp = qAuth(math.Pi / 2)

  /** WGS84 authalic radius (≈ 6371007.181 m): the sphere with the
    * ellipsoid's surface area.
    */
  val AuthalicRadiusM: Double = EarthRadiusM * math.sqrt(Qp / 2)

  /** Spheroid-accuracy geodesic area (C9 option): map each vertex to its
    * authalic latitude and run Chamberlain–Duquette on the authalic
    * sphere. The authalic projection is exactly equal-area
    * (ellipsoid → sphere), so the only residual vs PostGIS
    * `ST_Area(geography)` (reference threshold site
    * ways_to_centroids.sql:4) is edge treatment — negligible for
    * OSM-building-sized rings, vs the ~0.1–0.5% the plain spherical
    * formula is off by. For a lon/lat-aligned rectangle this is EXACT:
    * Δλ·Ra²·Δsin β = Δλ·a²·Δq/2, the closed-form ellipsoid integral.
    */
  def geodesicAreaSpheroidM2(ring: Seq[(Double, Double)]): Option[Double] = {
    if (!ringValid(ring)) return None
    def sinAuth(latDeg: Double): Double =
      math.max(-1.0, math.min(1.0, qAuth(math.toRadians(latDeg)) / Qp))
    var s = 0.0
    var i = 0
    while (i < ring.size - 1) {
      val (lon1, lat1) = ring(i)
      val (lon2, lat2) = ring(i + 1)
      s += math.toRadians(lon2 - lon1) * (2 + sinAuth(lat1) + sinAuth(lat2))
      i += 1
    }
    Some(math.abs(s) * AuthalicRadiusM * AuthalicRadiusM / 2)
  }

  // ---- WKB decode (for tests / round-trips) ----

  def decodePoint(wkb: Array[Byte]): (Double, Double) = {
    val bb = ByteBuffer.wrap(wkb).order(
      if (wkb(0) == 1) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    bb.get(); require(bb.getInt() == 1, "not a WKB point")
    (bb.getDouble(), bb.getDouble())
  }

  def decodeLineString(wkb: Array[Byte]): Seq[(Double, Double)] = {
    val bb = ByteBuffer.wrap(wkb).order(
      if (wkb(0) == 1) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    bb.get(); require(bb.getInt() == 2, "not a WKB linestring")
    (0 until bb.getInt()).map(_ => (bb.getDouble(), bb.getDouble()))
  }

  def decodeMultiPolygon(wkb: Array[Byte]): Seq[Seq[Seq[(Double, Double)]]] = {
    val bb = ByteBuffer.wrap(wkb).order(
      if (wkb(0) == 1) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    bb.get(); require(bb.getInt() == 6, "not a WKB multipolygon")
    (0 until bb.getInt()).map { _ =>
      bb.get(); require(bb.getInt() == 3, "not a WKB polygon")
      (0 until bb.getInt()).map { _ =>
        (0 until bb.getInt()).map(_ => (bb.getDouble(), bb.getDouble()))
      }
    }
  }

  // ---- Column API (rings arrive as array<struct<lon,lat>>) ----

  private def rowRing(ring: Seq[Row]): Seq[(Double, Double)] =
    if (ring == null) null else ring.map(r => (r.getDouble(0), r.getDouble(1)))

  private val wkbPointUdf = udf((lon: Double, lat: Double) => wkbPointBytes(lon, lat))

  private val wkbMultiPolygonUdf = udf((ring: Seq[Row]) =>
    Option(wkbMultiPolygonBytes(Seq(rowRing(ring)).filter(_ != null))))

  private val wkbLineStringUdf = udf((path: Seq[Row]) =>
    Option(wkbLineStringBytes(rowRing(path))))

  /** Rings arrive as `array<array<array<double>>>` (nested Row inputs
    * have no UDF encoder); see [[wkb_multipolygon_rings]].
    */
  private val wkbMultiPolygonRingsUdf = udf((rings: Seq[Seq[Seq[Double]]]) =>
    Option(wkbMultiPolygonBytes(rings.map(_.map(p => (p(0), p(1)))))))

  /** First outer polygon carries the holes; additional outers become
    * their own hole-less polygons (hole-to-outer assignment by
    * containment is the osmium refinement; single-outer relations —
    * the typical building — are exact).
    */
  private val wkbAreasUdf = udf(
    (outers: Seq[Seq[Seq[Double]]], inners: Seq[Seq[Seq[Double]]]) => {
      val o = outers.map(_.map(p => (p(0), p(1))))
      val i = inners.map(_.map(p => (p(0), p(1))))
      Option(
        if (o.isEmpty) null
        else wkbMultiPolygonPolygonsBytes((o.head +: i) +: o.tail.map(Seq(_))))
    })

  /** Named result type so the struct column has (lon, lat) fields. */
  case class CentroidPt(lon: Double, lat: Double)

  private val centroidUdf = udf((ring: Seq[Row]) =>
    centroidLonLat(rowRing(ring)).map { case (x, y) => CentroidPt(x, y) })

  private val centroidWkbUdf = udf((ring: Seq[Row]) =>
    centroidLonLat(rowRing(ring)).map { case (x, y) => wkbPointBytes(x, y) })

  private val geodesicAreaUdf = udf((ring: Seq[Row]) => geodesicAreaM2(rowRing(ring)))

  private val geodesicAreaSpheroidUdf =
    udf((ring: Seq[Row]) => geodesicAreaSpheroidM2(rowRing(ring)))

  private val geodesicAreaEllipsoidUdf =
    udf((ring: Seq[Row]) => Ellipsoid.polygonAreaM2(rowRing(ring)))

  private val ewkbUdf =
    udf((wkb: Array[Byte], srid: Int) => ewkbWithSridBytes(wkb, srid))

  /** Any WKB column → EWKB with embedded SRID (default WGS84) — the
    * PostGIS COPY-text geometry form (see [[ewkbWithSridBytes]]).
    */
  def ewkb(wkb: Column, srid: Int = 4326): Column =
    ewkbUdf(wkb, org.apache.spark.sql.functions.lit(srid))

  /** C3 — node lon/lat → WKB point bytes. */
  def wkb_point(lon: Column, lat: Column): Column = wkbPointUdf(lon, lat)

  /** C4 — exterior ring → single-polygon WKB multipolygon; null if invalid (F6). */
  def wkb_multipolygon(ring: Column): Column = wkbMultiPolygonUdf(ring)

  /** C4 with holes — `array<ring>` (first exterior, rest interior, each
    * `array<struct<lon,lat>>`) → one-polygon WKB multipolygon; null if
    * any ring is invalid. The shape [[graft.operators.RelationAssembly]]
    * emits: `concat(array(outers[0]), inners)`.
    */
  def wkb_multipolygon_rings(rings: Column): Column =
    wkbMultiPolygonRingsUdf(org.apache.spark.sql.functions.transform(rings,
      r => org.apache.spark.sql.functions.transform(r,
        q => org.apache.spark.sql.functions.array(q.getField("lon"), q.getField("lat")))))

  /** pgsnapshot `ways.linestring` (schema.sql:194) — ordered way path →
    * WKB linestring; null when < 2 points.
    */
  def wkb_linestring(path: Column): Column = wkbLineStringUdf(path)

  private def ringsAsDoubles(rings: Column): Column =
    org.apache.spark.sql.functions.transform(rings,
      r => org.apache.spark.sql.functions.transform(r,
        q => org.apache.spark.sql.functions.array(q.getField("lon"), q.getField("lat"))))

  /** Assembled relation geometry ([[graft.operators.RelationAssembly]]
    * `outers`/`inners` columns) → WKB multipolygon; null when no valid
    * outer ring (F6).
    */
  def wkb_multipolygon_areas(outers: Column, inners: Column): Column =
    wkbAreasUdf(ringsAsDoubles(outers), ringsAsDoubles(inners))

  /** C8 — ST_Centroid as a struct<lon,lat> (oracle-friendly) or WKB;
    * one shoelace pass yields both coordinates.
    */
  def centroid(ring: Column): Column = centroidUdf(ring)
  def centroid_wkb(ring: Column): Column = centroidWkbUdf(ring)

  /** C9 — ST_Area(geom::geography) on the sphere, m²; null if invalid. */
  def geodesic_area(ring: Column): Column = geodesicAreaUdf(ring)

  /** C9, spheroid accuracy — authalic-latitude area, matching PostGIS
    * geography to well under 0.05% on OSM-scale rings; null if invalid.
    */
  def geodesic_area_spheroid(ring: Column): Column = geodesicAreaSpheroidUdf(ring)

  /** C9, EXACT ellipsoid — true-geodesic-edge polygon area
    * ([[Ellipsoid.polygonAreaM2]], the GeographicLib semantics PostGIS
    * geography computes). Costs microseconds per edge (inverse solve +
    * adaptive quadrature) vs nanoseconds for the authalic form, whose
    * residual against this one is pinned < 1e-5 relative on OSM-scale
    * rings (EllipsoidSpec threshold-band test) — use this for
    * threshold audits, the authalic form in the hot path.
    */
  def geodesic_area_ellipsoid(ring: Column): Column =
    geodesicAreaEllipsoidUdf(ring)

  private val geodesicDistanceUdf = udf(
    (lon1: Double, lat1: Double, lon2: Double, lat2: Double) =>
      Ellipsoid.geodesicDistanceM(lon1, lat1, lon2, lat2))

  /** Exact ellipsoidal geodesic distance in meters
    * ([[Ellipsoid.geodesicDistanceM]] — pinned to the published WGS84
    * quarter-meridian in EllipsoidSpec). ~0.3% tighter than
    * [[graft.operators.GeoJoin.haversineM]] and ~1000× the cost —
    * use for final measurements, the haversine for join pruning.
    */
  def geodesic_distance_ellipsoid(lon1: Column, lat1: Column,
      lon2: Column, lat2: Column): Column =
    geodesicDistanceUdf(lon1, lat1, lon2, lat2)

  /** Even-odd point-in-ring test as the [[PointInRing]] CODEGEN kernel
    * — the verify stage of
    * [[graft.operators.GeoJoin.pointsInPolygons]]. `ring` is
    * ARRAY<STRUCT<lon DOUBLE, lat DOUBLE, ...>> and must be closed;
    * boundary points follow the half-open crossing convention.
    */
  def point_in_ring(lon: Column, lat: Column, ring: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(PointInRing(
      org.apache.spark.sql.graft.Bridge.expression(lon),
      org.apache.spark.sql.graft.Bridge.expression(lat),
      org.apache.spark.sql.graft.Bridge.expression(ring)))

  /** Region-intersection test for two closed rings ([[RingsIntersect]]
    * — strict edge crossings + containment fallback; boundary contact
    * out of contract). The verify kernel of
    * [[graft.operators.GeoJoin.polygonsIntersect]].
    */
  def rings_intersect(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(RingsIntersect(
      org.apache.spark.sql.graft.Bridge.expression(a),
      org.apache.spark.sql.graft.Bridge.expression(b)))
}
