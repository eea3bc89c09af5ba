package graft.queries

import graft.functions.{GeoFunctions, HstoreCompat}
import graft.model.OsmModel
import graft.operators.{PoiClassifier, TagDimension, WayAssembly}
import graft.queries.Catalog.OrderByOnce
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column

/** Oracle-checked queries for the geometry / projection / post-process
  * surface (SURVEY.md §2.2 K5, §2.6 T1, §2.7 C1-C10, §2.8 U1, §2.10 X2,
  * §3.3) over the OSM-ways derivation [[Tables.osmWays]] (closed squares
  * whose centroid and spherical area have closed forms the DuckDB oracle
  * reproduces).
  */
object GeoQueries {

  /** The square-ring parameters as SQL, mirroring [[Tables.osmWays]]. */
  private val waySql =
    """(SELECT p_partkey AS id,
      |        CASE WHEN p_size <= 25 THEN 0.001 ELSE 0.1 END AS d,
      |        (p_retailprice % 300) - 150 AS lon0,
      |        (p_partkey % 120) - 60 AS lat0
      | FROM part) w""".stripMargin

  val all: Seq[Q] = Seq(

    Q("way_geodesic_area",
      (s, dir) => Tables.osmWays(s, dir)
        .select(col("id"),
          round(GeoFunctions.geodesic_area(col("ring")), 1).as("area_m2"))
        .orderByOnce(col("id")),
      Some(s"""SELECT id,
              |       round(abs(radians(d) * (2 + 2 * sin(radians(lat0)))
              |               - radians(d) * (2 + 2 * sin(radians(lat0 + d))))
              |             * 6378137.0 * 6378137.0 / 2, 1) AS area_m2
              |FROM $waySql
              |ORDER BY id""".stripMargin),
      doc = "C9: spherical geodesic area (Chamberlain-Duquette) vs closed form"),

    // The spheroid-accuracy C9 option: every step of the authalic
    // computation (Snyder q, clamp, Chamberlain-Duquette on the authalic
    // sphere) is plain arithmetic + sin/ln/sqrt, so the oracle mirrors
    // the Scala operation-for-operation — same literals, same
    // association — and both engines produce the same doubles.
    Q("way_geodesic_area_spheroid",
      (s, dir) => Tables.osmWays(s, dir)
        .select(col("id"),
          round(GeoFunctions.geodesic_area_spheroid(col("ring")), 1).as("area_m2"))
        .orderByOnce(col("id")),
      Some(s"""SELECT id,
              |       round(abs(radians(d) * (2 + r0 + r0)
              |               - radians(d) * (2 + r1 + r1))
              |             * ra * ra / 2, 1) AS area_m2
              |FROM (
              |  SELECT id, d,
              |         greatest(-1.0, least(1.0, q0 / qp)) AS r0,
              |         greatest(-1.0, least(1.0, q1 / qp)) AS r1,
              |         6378137.0 * sqrt(qp / 2) AS ra
              |  FROM (
              |    SELECT id, d,
              |           (1 - 0.00669437999014132)
              |             * (s0 / (1 - 0.00669437999014132 * s0 * s0)
              |               + ln((1 + e * s0) / (1 - e * s0)) / (2 * e)) AS q0,
              |           (1 - 0.00669437999014132)
              |             * (s1 / (1 - 0.00669437999014132 * s1 * s1)
              |               + ln((1 + e * s1) / (1 - e * s1)) / (2 * e)) AS q1,
              |           (1 - 0.00669437999014132)
              |             * (1.0 / (1 - 0.00669437999014132 * 1.0 * 1.0)
              |               + ln((1 + e * 1.0) / (1 - e * 1.0)) / (2 * e)) AS qp
              |    FROM (SELECT id, d,
              |                 sin(radians(lat0)) AS s0,
              |                 sin(radians(lat0 + d)) AS s1,
              |                 sqrt(0.00669437999014132) AS e
              |          FROM $waySql)))
              |ORDER BY id""".stripMargin),
      doc = "C9 spheroid option: authalic-latitude area vs the same formula in SQL"),

    // The EXACT-ellipsoid area law pinned ON DATA: per way, the
    // authalic area (oracle-recomputable in SQL, rounded) plus the
    // claim that the true geodesic-edge ellipsoidal area
    // (Ellipsoid.polygonAreaM2 — inverse solve + quadrature, not
    // SQL-expressible) sits within 1e-5 relative of it. The oracle
    // states residual_ok = TRUE a priori; if the exact solver ever
    // regresses, rows flip to FALSE and the hash breaks. The bound has
    // ~40x margin on these axis-aligned ways (lens residual ~2.5e-7 at
    // d = 0.1 deg; EllipsoidSpec pins the diagonal worst case).
    Q("way_area_ellipsoid_exact",
      (s, dir) => Tables.osmWays(s, dir)
        .select(col("id"),
          round(GeoFunctions.geodesic_area_spheroid(col("ring")), 1)
            .as("area_authalic_m2"),
          (abs(GeoFunctions.geodesic_area_ellipsoid(col("ring")) -
              GeoFunctions.geodesic_area_spheroid(col("ring"))) /
            GeoFunctions.geodesic_area_spheroid(col("ring")) < 1e-5)
            .as("residual_ok"))
        .orderByOnce(col("id")),
      Some(s"""SELECT id,
              |       round(abs(radians(d) * (2 + r0 + r0)
              |               - radians(d) * (2 + r1 + r1))
              |             * ra * ra / 2, 1) AS area_authalic_m2,
              |       TRUE AS residual_ok
              |FROM (
              |  SELECT id, d,
              |         greatest(-1.0, least(1.0, q0 / qp)) AS r0,
              |         greatest(-1.0, least(1.0, q1 / qp)) AS r1,
              |         6378137.0 * sqrt(qp / 2) AS ra
              |  FROM (
              |    SELECT id, d,
              |           (1 - 0.00669437999014132)
              |             * (s0 / (1 - 0.00669437999014132 * s0 * s0)
              |               + ln((1 + e * s0) / (1 - e * s0)) / (2 * e)) AS q0,
              |           (1 - 0.00669437999014132)
              |             * (s1 / (1 - 0.00669437999014132 * s1 * s1)
              |               + ln((1 + e * s1) / (1 - e * s1)) / (2 * e)) AS q1,
              |           (1 - 0.00669437999014132)
              |             * (1.0 / (1 - 0.00669437999014132 * 1.0 * 1.0)
              |               + ln((1 + e * 1.0) / (1 - e * 1.0)) / (2 * e)) AS qp
              |    FROM (SELECT id, d,
              |                 sin(radians(lat0)) AS s0,
              |                 sin(radians(lat0 + d)) AS s1,
              |                 sqrt(0.00669437999014132) AS e
              |          FROM $waySql)))
              |ORDER BY id""".stripMargin),
      doc = "C9 exact-ellipsoid pin: true geodesic-edge area (Karney-method inverse solve + quadrature) within 1e-5 relative of the authalic form on every way, asserted row-by-row against the oracle's a-priori TRUE"),

    // Distance-based spatial self-join (the "POIs within 30 km of each
    // other" primitive): grid-cell candidates (latitude bands +
    // per-band longitude tiling, 3x3 neighbor expansion, dateline
    // modulo, polar collapse) with an exact haversine verify — never a
    // nested-loop join (GeoJoinSpec plan-asserts). The oracle IS the
    // naive cross join: same haversine expression order, same
    // threshold; radius picked so the nearest pair sits 0.39 m off the
    // 30 km boundary at sf0.1 (1287 m at sf0.01) and 3e-4 m off any
    // 1 m rounding boundary — cross-engine libm ulps cannot flip a row.
    Q("poi_neighbor_join",
      (s, dir) => {
        import graft.operators.GeoJoin
        val n = Tables.osmNodes(s, dir)
          .filter(pmod(col("id"), lit(20)) === 0)
          .select(col("id"), col("lon"), col("lat"))
        GeoJoin.withinDistance(n, n, "id", "lon", "lat",
            "id", "lon", "lat", 30000.0, selfPairs = true)
          .select(col("id_a"), col("id_b"),
            round(col("dist_m"), 0).as("dist_m"))
          .orderByOnce(col("id_a"), col("id_b"))
      },
      Some("""WITH n AS (SELECT o_orderkey AS id,
             |             (o_totalprice % 360) - 180 AS lon,
             |             (o_totalprice % 170) - 85 AS lat
             |           FROM orders WHERE o_orderkey % 20 = 0),
             |p AS (SELECT a.id AS id_a, b.id AS id_b,
             |        2*6371000*asin(sqrt(pow(sin(radians(b.lat-a.lat)/2),2)
             |          + cos(radians(a.lat))*cos(radians(b.lat))
             |            * pow(sin(radians(b.lon-a.lon)/2),2))) AS d
             |      FROM n a JOIN n b ON a.id < b.id)
             |SELECT id_a, id_b, round(d, 0) AS dist_m
             |FROM p WHERE d <= 30000
             |ORDER BY id_a, id_b""".stripMargin),
      doc = "distance-based spatial self-join: banded-grid candidate keys + exact haversine verify vs the naive cross-join oracle; dateline wrap and polar collapse handled by the tiling"),

    // Radius-bounded k-nearest neighbors over the same point relation:
    // the "3 closest POIs within 100 km" primitive. rank<=k over the
    // per-point window rewrites to WindowGroupLimit (dense
    // neighborhoods prune map-side — PlanAudit-asserted in
    // GeoJoinSpec). Boundary gaps measured on this data: nearest
    // positive distance gap AT the rank-3 cut is 4.8e-7 m at sf0.1 and
    // exact ties break on id_b identically in both engines (duplicate
    // coordinates give bit-identical distances); min gap to a rounding
    // boundary 1.3e-4 m — cross-engine libm ulps (~1e-10 m) cannot
    // flip a row or a rank.
    Q("poi_nearest_k",
      (s, dir) => {
        import graft.operators.GeoJoin
        val n = Tables.osmNodes(s, dir)
          .filter(pmod(col("id"), lit(20)) === 0)
          .select(col("id"), col("lon"), col("lat"))
        GeoJoin.nearestNeighbors(n, n, "id", "lon", "lat",
            "id", "lon", "lat", 100000.0, k = 3, excludeSelf = true)
          .select(col("id_a"), col("rank"), col("id_b"),
            round(col("dist_m"), 0).as("dist_m"))
          .orderBy(col("id_a"), col("rank"))
      },
      Some("""WITH n AS (SELECT o_orderkey AS id,
             |             (o_totalprice % 360) - 180 AS lon,
             |             (o_totalprice % 170) - 85 AS lat
             |           FROM orders WHERE o_orderkey % 20 = 0),
             |p AS (SELECT a.id AS id_a, b.id AS id_b,
             |        2*6371000*asin(sqrt(pow(sin(radians(b.lat-a.lat)/2),2)
             |          + cos(radians(a.lat))*cos(radians(b.lat))
             |            * pow(sin(radians(b.lon-a.lon)/2),2))) AS d
             |      FROM n a JOIN n b ON a.id <> b.id),
             |r AS (SELECT id_a, id_b, d, row_number() OVER
             |        (PARTITION BY id_a ORDER BY d, id_b) AS rk
             |      FROM p WHERE d <= 100000)
             |SELECT id_a, CAST(rk AS INTEGER) AS rank, id_b,
             |       round(d, 0) AS dist_m
             |FROM r WHERE rk <= 3
             |ORDER BY id_a, rank""".stripMargin),
      doc = "radius-bounded k-nearest-neighbor join: grid candidates + exact haversine + WindowGroupLimit top-k per point vs the naive cross-join-and-rank oracle"),

    // The exact geodesic DISTANCE pinned on data (the
    // way_area_ellipsoid_exact discipline): per consecutive node pair,
    // the haversine distance (oracle-recomputable) plus the a-priori
    // claim that the ellipsoidal distance sits within the flattening
    // band (|d_ell - d_hav|/d_hav < 0.6%, the EllipsoidProperties
    // law). If the inverse solver regresses, rows flip FALSE and the
    // hash breaks.
    Q("poi_geodesic_distance",
      (s, dir) => {
        import graft.functions.GeoFunctions
        import graft.operators.GeoJoin
        val n = Tables.osmNodes(s, dir)
          .filter(pmod(col("id"), lit(20)) === 0)
          .select(col("id"), col("lon"), col("lat"))
        val nx = n.withColumn("id2", col("id") + 20)
        val pairs = n.select(col("id").as("id2"), col("lon").as("lon2"),
            col("lat").as("lat2"))
          .join(nx, Seq("id2"))
        pairs.select(col("id"), col("id2"),
            round(GeoJoin.haversineM(col("lon"), col("lat"),
              col("lon2"), col("lat2")), 0).as("hav_m"),
            (abs(GeoFunctions.geodesic_distance_ellipsoid(col("lon"),
                col("lat"), col("lon2"), col("lat2")) -
              GeoJoin.haversineM(col("lon"), col("lat"),
                col("lon2"), col("lat2"))) <=
              GeoJoin.haversineM(col("lon"), col("lat"),
                col("lon2"), col("lat2")) * 0.006)
              .as("band_ok"))
          .orderByOnce(col("id"))
      },
      Some("""WITH n AS (SELECT o_orderkey AS id,
             |             (o_totalprice % 360) - 180 AS lon,
             |             (o_totalprice % 170) - 85 AS lat
             |           FROM orders WHERE o_orderkey % 20 = 0)
             |SELECT a.id, b.id AS id2,
             |       round(2*6371000*asin(sqrt(
             |         pow(sin(radians(b.lat-a.lat)/2),2)
             |         + cos(radians(a.lat))*cos(radians(b.lat))
             |           * pow(sin(radians(b.lon-a.lon)/2),2))), 0) AS hav_m,
             |       TRUE AS band_ok
             |FROM n a JOIN n b ON b.id = a.id + 20
             |ORDER BY a.id""".stripMargin),
      doc = "exact ellipsoidal distance pinned on data: per node pair the haversine (oracle-recomputed) plus the a-priori claim the inverse-solver distance sits inside the 0.6% flattening band"),

    // Spatial CONTAINMENT join: which points fall inside which
    // way-area rings — grid-cell candidates over polygon bboxes +
    // exact ray-cast verify. Points derive
    // from orders ONTO the ways' coordinate lattice with half-step
    // offsets (+0.0005 on both axes): every way edge is a multiple of
    // 0.001°, so no point can sit ON a boundary and the oracle's
    // strict BETWEEN equals the engine's half-open ray cast — the
    // on-edge convention never fires. r19: the catalog default is the
    // GEOMETRY-NORMALIZING surface (pointsInPolygonsSafe) — identical
    // rows on this non-straddling lattice (the oracle is unchanged),
    // dateline-correct if a straddler ever enters; vs the plain join
    // it costs ONE extra OUTPUT-sized exchange (the seam de-dup
    // distinct), zero extra over the manual split-first recipe —
    // plan-pinned in PlanAuditSpec.
    Q("poi_in_way_area",
      (s, dir) => {
        import graft.operators.GeoJoin
        val pts = Tables.orders(s, dir).select(
          col("o_orderkey").as("id"),
          ((col("o_totalprice") % 300) - 150 + 0.0005).as("lon"),
          ((col("o_orderkey") % 120) - 60 +
            (col("o_orderkey") % 97) / 1000.0 + 0.0005).as("lat"))
        GeoJoin.pointsInPolygonsSafe(pts, Tables.osmWays(s, dir),
            "id", "lon", "lat", "id", "ring", cellDeg = 0.5)
          .orderBy(col("point_id"), col("poly_id"))
      },
      Some(s"""WITH pts AS (SELECT o_orderkey AS id,
             |               (o_totalprice % 300) - 150 + 0.0005 AS lon,
             |               (o_orderkey % 120) - 60
             |                 + (o_orderkey % 97) / 1000.0 + 0.0005 AS lat
             |             FROM orders)
             |SELECT p.id AS point_id, w.id AS poly_id
             |FROM pts p JOIN $waySql ON
             |  p.lon > w.lon0 AND p.lon < w.lon0 + w.d AND
             |  p.lat > w.lat0 AND p.lat < w.lat0 + w.d
             |ORDER BY point_id, poly_id""".stripMargin),
      doc = "point-in-polygon containment join through the geometry-normalizing DEFAULT surface (pointsInPolygonsSafe, r19): bbox grid-cell candidates + exact ray cast vs the strict-between oracle (points half-step off the edge lattice, so boundary conventions never fire)"),

    // The WHALE-SPLIT anchor (round 16): pointsInPolygonsAuto against
    // the SAME oracle as poi_in_way_area, at a deliberately fine
    // cellDeg (0.02 deg) with a low split threshold so the d=0.1 ways
    // (36 bbox cells each) take the coarse pass and the d=0.001 ways
    // the fine pass — BOTH passes run on real data and the union must
    // reproduce the naive strict-between oracle exactly. Single-pass
    // at this cellDeg emits 36 key rows per big way (fan-out cost);
    // auto bounds it at maxCellsPerPoly while keeping exactness —
    // the measured degradation case lives in SkewProbe (pipwhale).
    Q("poi_in_way_area_auto",
      (s, dir) => {
        import graft.operators.GeoJoin
        val pts = Tables.orders(s, dir).select(
          col("o_orderkey").as("id"),
          ((col("o_totalprice") % 300) - 150 + 0.0005).as("lon"),
          ((col("o_orderkey") % 120) - 60 +
            (col("o_orderkey") % 97) / 1000.0 + 0.0005).as("lat"))
        GeoJoin.pointsInPolygonsAuto(pts, Tables.osmWays(s, dir),
            "id", "lon", "lat", "id", "ring", cellDeg = 0.02,
            maxCellsPerPoly = 16L)
          .orderBy(col("point_id"), col("poly_id"))
      },
      Some(s"""WITH pts AS (SELECT o_orderkey AS id,
             |               (o_totalprice % 300) - 150 + 0.0005 AS lon,
             |               (o_orderkey % 120) - 60
             |                 + (o_orderkey % 97) / 1000.0 + 0.0005 AS lat
             |             FROM orders)
             |SELECT p.id AS point_id, w.id AS poly_id
             |FROM pts p JOIN $waySql ON
             |  p.lon > w.lon0 AND p.lon < w.lon0 + w.d AND
             |  p.lat > w.lat0 AND p.lat < w.lat0 + w.d
             |ORDER BY point_id, poly_id""".stripMargin),
      doc = "whale-split containment: two-pass grid (fine for small polygons, auto-coarsened for bbox whales) unions to the same naive oracle as the single-pass anchor"),

    // Point-to-POLYLINE distance join (the "nearest road" primitive):
    // segments key an expanded-bbox cell cover, points their own cell,
    // planar clamp-projection verify, min per (point, line) — exact
    // for every surviving row because any segment within R is a
    // candidate by construction. The oracle is the NAIVE form: every
    // (point, segment) pair (bbox-prefiltered at 0.6 deg ≥ the 20 km
    // radius in degrees, which drops only pairs that cannot pass the
    // radius filter), the same distance expression operation-for-
    // operation, min per pair. Boundary margins MEASURED on this data
    // at the 20 km radius: nearest min-distance to the radius cut
    // 93.3 m (sf0.01) / 5.44 m (sf0.1); nearest to a 1 m rounding
    // boundary 9.3e-3 / 3.2e-4 m — cross-engine libm ulps (~1e-6 m
    // here) cannot flip a row.
    Q("poi_near_way_line",
      (s, dir) => {
        import graft.operators.GeoJoin
        val pts = Tables.orders(s, dir)
          .filter(pmod(col("o_orderkey"), lit(20)) === 0)
          .select(col("o_orderkey").as("id"),
            ((col("o_totalprice") % 300) - 150 + 0.0005).as("lon"),
            ((col("o_orderkey") % 120) - 60 +
              (col("o_orderkey") % 97) / 1000.0 + 0.0005).as("lat"))
        val lines = Tables.osmWays(s, dir)
          .filter(pmod(col("id"), lit(5)) === 0)
        // r19: catalog default = the normalizing surface; identical
        // rows here (no path straddles, min over ONE part), one extra
        // OUTPUT-sized exchange for the across-parts min (PlanAuditSpec)
        GeoJoin.pointsNearLinesSafe(pts, lines, "id", "lon", "lat",
            "id", "ring", 20000.0, cellDeg = 0.5)
          .select(col("point_id"), col("line_id"),
            round(col("dist_m"), 0).as("dist_m"))
          .orderBy(col("point_id"), col("line_id"))
      },
      Some("""WITH pts AS (SELECT o_orderkey AS id,
             |               (o_totalprice % 300) - 150 + 0.0005 AS lon,
             |               (o_orderkey % 120) - 60
             |                 + (o_orderkey % 97) / 1000.0 + 0.0005 AS lat
             |             FROM orders WHERE o_orderkey % 20 = 0),
             |w AS (SELECT p_partkey AS id,
             |        CASE WHEN p_size <= 25 THEN 0.001 ELSE 0.1 END AS d,
             |        (p_retailprice % 300) - 150 AS lon0,
             |        (p_partkey % 120) - 60 AS lat0
             |      FROM part WHERE p_partkey % 5 = 0),
             |segs AS (SELECT id,
             |    CASE WHEN i = 0 THEN lon0 WHEN i = 1 THEN lon0 + d
             |         WHEN i = 2 THEN lon0 + d ELSE lon0 END AS alon,
             |    CASE WHEN i = 0 THEN lat0 WHEN i = 1 THEN lat0
             |         WHEN i = 2 THEN lat0 + d ELSE lat0 + d END AS alat,
             |    CASE WHEN i = 0 THEN lon0 + d WHEN i = 1 THEN lon0 + d
             |         WHEN i = 2 THEN lon0 ELSE lon0 END AS blon,
             |    CASE WHEN i = 0 THEN lat0 WHEN i = 1 THEN lat0 + d
             |         WHEN i = 2 THEN lat0 + d ELSE lat0 END AS blat
             |  FROM (SELECT id, d, lon0, lat0,
             |          unnest(generate_series(0, 3)) AS i FROM w)),
             |d1 AS (SELECT p.id AS pid, s.id AS lid,
             |         (s.blon - s.alon)
             |           * (111320.0 * cos(radians((s.alat + s.blat) / 2))) AS bx,
             |         (s.blat - s.alat) * 110574.0 AS by,
             |         (p.lon - s.alon)
             |           * (111320.0 * cos(radians((s.alat + s.blat) / 2))) AS px,
             |         (p.lat - s.alat) * 110574.0 AS py
             |       FROM pts p JOIN segs s
             |         ON p.lon >= least(s.alon, s.blon) - 0.6
             |        AND p.lon <= greatest(s.alon, s.blon) + 0.6
             |        AND p.lat >= least(s.alat, s.blat) - 0.6
             |        AND p.lat <= greatest(s.alat, s.blat) + 0.6),
             |d2 AS (SELECT pid, lid, px, py, bx, by,
             |         CASE WHEN bx * bx + by * by = 0 THEN 0.0
             |              ELSE greatest(0.0, least(1.0,
             |                (px * bx + py * by) / (bx * bx + by * by))) END AS t
             |       FROM d1),
             |d3 AS (SELECT pid, lid,
             |         sqrt((px - t * bx) * (px - t * bx)
             |            + (py - t * by) * (py - t * by)) AS dist
             |       FROM d2)
             |SELECT pid AS point_id, lid AS line_id,
             |       round(min(dist), 0) AS dist_m
             |FROM d3 GROUP BY pid, lid HAVING min(dist) <= 20000.0
             |ORDER BY point_id, line_id""".stripMargin),
      doc = "point-to-polyline distance join through the geometry-normalizing DEFAULT surface (pointsNearLinesSafe, r19): segment bbox-cover grid candidates + planar clamp-projection verify + exact min-per-line vs the naive point-x-segment oracle"),

    // POLAR-COMPLETE distance join (r18 — retires the clamp's "pairs
    // may be MISSED" contract): meridian research-station segments at
    // |lat| 86..89 vs points whose lon offsets reach far past the
    // 86-degree-clamped margin (1.55 deg at R=12 km) while the TRUE
    // margin at 89 deg is ~6.4 deg — a planted population of pairs
    // the pre-r18 fine grid provably missed (6 of 23 at sf0.01, 346
    // of 2,046 at sf0.1; the pnl_polar_clamp metric counted them;
    // now the polar (band, lon-cell) pass finds them). This corpus
    // is DENSE-polar by construction — every row sits poleward of
    // 86°, so pair count is output-quadratic in sf (the
    // way_line_in_area law) and the true margins are degrees wide;
    // sampling (%80 points, %20 segments) is sized so the 100×
    // composition stays in way_line_in_area's cost class rather
    // than dominating the catalog. The oracle is the NAIVE form
    // again: every
    // (point, segment) pair bbox-prefiltered at ±15 deg lon / ±0.25
    // deg lat (≥ the widest true margin, so only impossible pairs
    // drop), the identical distance expression, min per pair.
    Q("poi_near_way_line_polar",
      (s, dir) => {
        import graft.operators.GeoJoin
        val pts = Tables.orders(s, dir)
          .filter(pmod(col("o_orderkey"), lit(80)) === 0)
          .select(col("o_orderkey").as("id"),
            ((col("o_totalprice") % 340) - 170 + 0.0005).as("lon"),
            (lit(86.01) + (col("o_orderkey") % 300) / 100.0 +
              (col("o_orderkey") % 97) / 5000.0).as("lat"))
        val lines = Tables.part(s, dir)
          .filter(pmod(col("p_partkey"), lit(20)) === 0)
          .select(col("p_partkey").as("lid"),
            ((col("p_retailprice") % 340) - 170).as("lon0"),
            (lit(86.0) + (col("p_partkey") % 300) / 100.0).as("lat0"))
          .select(col("lid"), array(
            struct(col("lon0").as("lon"), col("lat0").as("lat")),
            struct(col("lon0").as("lon"),
              (col("lat0") + 0.02).as("lat"))).as("path"))
        GeoJoin.pointsNearLines(pts, lines, "id", "lon", "lat",
            "lid", "path", 12000.0, cellDeg = 0.5)
          .select(col("point_id"), col("line_id"),
            round(col("dist_m"), 0).as("dist_m"))
          .orderBy(col("point_id"), col("line_id"))
      },
      Some("""WITH pts AS (SELECT o_orderkey AS id,
             |               (o_totalprice % 340) - 170 + 0.0005 AS lon,
             |               86.01 + (o_orderkey % 300) / 100.0
             |                 + (o_orderkey % 97) / 5000.0 AS lat
             |             FROM orders WHERE o_orderkey % 80 = 0),
             |segs AS (SELECT p_partkey AS lid,
             |           (p_retailprice % 340) - 170 AS alon,
             |           86.0 + (p_partkey % 300) / 100.0 AS alat,
             |           (p_retailprice % 340) - 170 AS blon,
             |           86.0 + (p_partkey % 300) / 100.0 + 0.02 AS blat
             |         FROM part WHERE p_partkey % 20 = 0),
             |d1 AS (SELECT p.id AS pid, s.lid AS lid,
             |         (s.blon - s.alon)
             |           * (111320.0 * cos(radians((s.alat + s.blat) / 2))) AS bx,
             |         (s.blat - s.alat) * 110574.0 AS by,
             |         (p.lon - s.alon)
             |           * (111320.0 * cos(radians((s.alat + s.blat) / 2))) AS px,
             |         (p.lat - s.alat) * 110574.0 AS py
             |       FROM pts p JOIN segs s
             |         ON p.lon >= s.alon - 15.0 AND p.lon <= s.alon + 15.0
             |        AND p.lat >= s.alat - 0.25 AND p.lat <= s.blat + 0.25),
             |d2 AS (SELECT pid, lid, px, py, bx, by,
             |         CASE WHEN bx * bx + by * by = 0 THEN 0.0
             |              ELSE greatest(0.0, least(1.0,
             |                (px * bx + py * by) / (bx * bx + by * by))) END AS t
             |       FROM d1),
             |d3 AS (SELECT pid, lid,
             |         sqrt((px - t * bx) * (px - t * bx)
             |            + (py - t * by) * (py - t * by)) AS dist
             |       FROM d2)
             |SELECT pid AS point_id, lid AS line_id,
             |       round(min(dist), 0) AS dist_m
             |FROM d3 GROUP BY pid, lid HAVING min(dist) <= 12000.0
             |ORDER BY point_id, line_id""".stripMargin),
      doc = "polar-complete point-to-polyline join (r18): planted |lat| 86-89 pairs far past the cosine-clamped margin — provably missed by the pre-r18 fine grid — found via the polar lat-band exact pass vs the naive oracle"),

    // Polygon-polygon INTERSECTION join — ways vs the same ways
    // shifted a half lattice step (+0.0005°, both axes): the shift
    // guarantees no two rectangles ever share a boundary (edges live
    // on the 0.01°/1° lattice; every strict comparison clears by
    // ≥ 0.0005° ≈ 55 m), so the kernel's open-region convention and
    // the oracle's strict interval-overlap test are provably the same
    // predicate on axis-aligned rectangles (regions overlap iff both
    // axis intervals strictly overlap; crossings and containments
    // both reduce to it). Ordered cross pairs, including each way
    // against its own shifted copy (always overlapping — the mass
    // containment/crossing path).
    Q("way_area_intersect_join",
      (s, dir) => {
        import graft.operators.GeoJoin
        val ways = Tables.osmWays(s, dir).select(col("id"), col("ring"))
        val shifted = ways.select(col("id"),
          transform(col("ring"), p => struct(
            (p.getField("lon") + 0.0005).as("lon"),
            (p.getField("lat") + 0.0005).as("lat"))).as("ring"))
        GeoJoin.polygonsIntersect(ways, shifted, "id", "ring",
            "id", "ring", cellDeg = 0.5)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""SELECT w.id AS id_a, b.id AS id_b
             |FROM $waySql
             |JOIN (SELECT p_partkey AS id,
             |        CASE WHEN p_size <= 25 THEN 0.001 ELSE 0.1 END AS d,
             |        (p_retailprice % 300) - 150 + 0.0005 AS lon0,
             |        (p_partkey % 120) - 60 + 0.0005 AS lat0
             |      FROM part) b
             |  ON w.lon0 < b.lon0 + b.d AND b.lon0 < w.lon0 + w.d
             | AND w.lat0 < b.lat0 + b.d AND b.lat0 < w.lat0 + w.d
             |ORDER BY id_a, id_b""".stripMargin),
      doc = "polygon-polygon intersection join: shared-cell candidates from both bbox covers + strict-crossing/containment kernel verify vs the strict interval-overlap oracle (equivalent on the half-step-offset rectangle lattice)"),

    // Polyline-polyline CROSSING join — where way perimeters cross
    // the half-step-shifted perimeters. Same lattice-offset trick as
    // way_area_intersect_join: no segment pair can touch or overlap
    // collinearly, so the strict four-orientation test is unambiguous.
    // The crossing point is pure +/-/* /÷ IEEE arithmetic (no libm),
    // mirrored term-for-term in the oracle — both engines produce the
    // same doubles bit-for-bit; round(6) is display only. Every
    // self-shift pair crosses exactly twice (right edge × bottom
    // edge, top edge × left edge), so the pin exercises thousands of
    // crossings at every sf.
    Q("way_line_crossings",
      (s, dir) => {
        import graft.operators.GeoJoin
        val ways = Tables.osmWays(s, dir).select(col("id"), col("ring"))
        val shifted = ways.select(col("id"),
          transform(col("ring"), p => struct(
            (p.getField("lon") + 0.0005).as("lon"),
            (p.getField("lat") + 0.0005).as("lat"))).as("ring"))
        GeoJoin.polylineCrossings(ways, shifted, "id", "ring",
            "id", "ring", cellDeg = 0.5)
          .select(col("id_a"), col("seg_a"), col("id_b"), col("seg_b"),
            round(col("x"), 6).as("x"), round(col("y"), 6).as("y"))
          .orderBy(col("id_a"), col("id_b"), col("seg_a"), col("seg_b"))
      },
      // sa/sb are MATERIALIZED: DuckDB 1.0.0's IEJoin path over the
      // dictionary vectors that unnest+CASE produce hits an internal
      // "requires a flat vector" assertion; materializing the segment
      // relations flattens them (values identical either way).
      Some(s"""WITH sa AS MATERIALIZED (SELECT id,
             |    CAST(i AS INTEGER) AS seg,
             |    CASE WHEN i = 0 THEN lon0 WHEN i = 1 THEN lon0 + d
             |         WHEN i = 2 THEN lon0 + d ELSE lon0 END AS x1,
             |    CASE WHEN i = 0 THEN lat0 WHEN i = 1 THEN lat0
             |         WHEN i = 2 THEN lat0 + d ELSE lat0 + d END AS y1,
             |    CASE WHEN i = 0 THEN lon0 + d WHEN i = 1 THEN lon0 + d
             |         WHEN i = 2 THEN lon0 ELSE lon0 END AS x2,
             |    CASE WHEN i = 0 THEN lat0 WHEN i = 1 THEN lat0 + d
             |         WHEN i = 2 THEN lat0 + d ELSE lat0 END AS y2
             |  FROM (SELECT id, d, lon0, lat0,
             |          unnest(generate_series(0, 3)) AS i FROM $waySql)),
             |sb AS MATERIALIZED (SELECT id, seg,
             |         x1 + 0.0005 AS x1, y1 + 0.0005 AS y1,
             |         x2 + 0.0005 AS x2, y2 + 0.0005 AS y2 FROM sa),
             |cand AS (SELECT a.id AS id_a, a.seg AS seg_a,
             |           b.id AS id_b, b.seg AS seg_b,
             |           a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2,
             |           b.x1 AS bx1, b.y1 AS by1, b.x2 AS bx2, b.y2 AS by2
             |         FROM sa a JOIN sb b
             |           ON least(a.x1, a.x2) <= greatest(b.x1, b.x2)
             |          AND least(b.x1, b.x2) <= greatest(a.x1, a.x2)
             |          AND least(a.y1, a.y2) <= greatest(b.y1, b.y2)
             |          AND least(b.y1, b.y2) <= greatest(a.y1, a.y2)),
             |o AS (SELECT *,
             |        (ax2 - ax1) * (by1 - ay1) - (ay2 - ay1) * (bx1 - ax1) AS o1,
             |        (ax2 - ax1) * (by2 - ay1) - (ay2 - ay1) * (bx2 - ax1) AS o2,
             |        (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1) AS o3,
             |        (bx2 - bx1) * (ay2 - by1) - (by2 - by1) * (ax2 - bx1) AS o4,
             |        (ax2 - ax1) * (by2 - by1) - (ay2 - ay1) * (bx2 - bx1) AS den
             |      FROM cand)
             |SELECT id_a, seg_a, id_b, seg_b,
             |       round(ax1 + ((bx1 - ax1) * (by2 - by1)
             |             - (by1 - ay1) * (bx2 - bx1)) / den
             |             * (ax2 - ax1), 6) AS x,
             |       round(ay1 + ((bx1 - ax1) * (by2 - by1)
             |             - (by1 - ay1) * (bx2 - bx1)) / den
             |             * (ay2 - ay1), 6) AS y
             |FROM o WHERE o1 * o2 < 0 AND o3 * o4 < 0
             |ORDER BY id_a, id_b, seg_a, seg_b""".stripMargin),
      doc = "polyline crossing join: per-segment cell-cover candidates + strict four-orientation verify + parametric crossing point (pure IEEE arithmetic, bit-identical cross-engine) vs the naive segment-pair oracle on the offset lattice"),

    // Time-bounded proximity join (the moving-object shape): event
    // pairs within 200 km AND one hour of each other. The batch pin
    // of GeoJoin.withinDistanceEvents — the SAME plan runs
    // stream-stream with watermarks (GeoJoinSpec pins stream ≡ batch
    // across micro-batches incl. a dateline pair). Time comparisons
    // are exact integer microseconds (no boundary risk); distance
    // margins measured on this data: 468.8 m (sf0.01) / 3.60 m
    // (sf0.1) to the radius cut, 1.4e-4 / 6.3e-6 m to a rounding
    // boundary — 1000x above cross-engine libm ulp scale (~1e-9 m).
    Q("events_proximity_join",
      (s, dir) => {
        import graft.operators.GeoJoin
        val n = Tables.events(s, dir)
          .filter(pmod(col("event_id"), lit(3)) === 0)
          .select(col("event_id").as("id"), col("ts"),
            ((col("value") % 360) - 180).as("lon"),
            ((col("value") % 170) - 85).as("lat"))
        GeoJoin.withinDistanceEvents(n, n, "id", "lon", "lat", "ts",
            "id", "lon", "lat", "ts", radiusM = 200000.0,
            maxGapSeconds = 3600, selfPairs = true)
          .select(col("id_a"), col("id_b"),
            unix_micros(col("ts_a")).as("ts_a_us"),
            unix_micros(col("ts_b")).as("ts_b_us"),
            round(col("dist_m"), 0).as("dist_m"))
          // orderByOnce (r19, second look): the first A/B was called
          // inconclusive under load; a join-only probe (BASELINE.md
          // r19) then isolated the join itself at ~28 s / 375 GB
          // alloc — the catalog readings
          // (112–212 s, 1.09 TB) are the SORT of the ~100M-pair output
          // plus the sampler re-executing the join. Quiet re-probe:
          // as-is 263/153 s, fixed 152/146 s.
          .orderByOnce(col("id_a"), col("id_b"))
      },
      Some("""WITH n AS (SELECT event_id AS id, ts,
             |             (value % 360) - 180 AS lon,
             |             (value % 170) - 85 AS lat
             |           FROM events WHERE event_id % 3 = 0),
             |p AS (SELECT a.id AS id_a, b.id AS id_b,
             |        epoch_us(a.ts) AS ts_a_us, epoch_us(b.ts) AS ts_b_us,
             |        2*6371000*asin(sqrt(pow(sin(radians(b.lat-a.lat)/2),2)
             |          + cos(radians(a.lat))*cos(radians(b.lat))
             |            * pow(sin(radians(b.lon-a.lon)/2),2))) AS d
             |      FROM n a JOIN n b ON a.id < b.id
             |        AND b.ts >= a.ts - INTERVAL 3600 SECOND
             |        AND b.ts <= a.ts + INTERVAL 3600 SECOND)
             |SELECT id_a, id_b, ts_a_us, ts_b_us, round(d, 0) AS dist_m
             |FROM p WHERE d <= 200000
             |ORDER BY id_a, id_b""".stripMargin),
      doc = "time-bounded proximity join: grid candidates + haversine verify + event-time bound IN the join condition (the stream-stream moving-object plan, batch-pinned) vs the naive time-range cross-join oracle"),

    // Line-polygon intersection join (the matrix's remaining nuance,
    // composed from two already-oracled members): 3x-INFLATED way
    // perimeters (read as polylines), shifted ±0.0005 on both axes by
    // id parity, vs way REGIONS. Closed-form oracle on the offset
    // lattice: a perimeter touches a region iff their bboxes strictly
    // overlap AND the perimeter's square does not strictly CONTAIN
    // the region — a loop drawn AROUND a zone never enters it, the
    // case interval overlap alone gets wrong. The parity shift makes
    // BOTH semantic branches live in data: every even way's inflated
    // perimeter strictly contains its own square (1,000 excluded
    // loop-arounds at sf0.01; 52,888 at sf0.1), and at sf0.1 the odd
    // small perimeters sitting inside big ways exercise the
    // first-vertex fully-inside branch 14,301 times. Decision margins
    // are >= 0.0005 deg on every comparison, so the engine/oracle
    // float-association difference (~1e-13) cannot flip a pair.
    Q("way_line_in_area",
      (s, dir) => {
        import graft.operators.GeoJoin
        val ways = Tables.osmWays(s, dir).select(col("id"), col("ring"))
        val sh = when(pmod(col("id"), lit(2)) === 0, lit(-0.0005))
          .otherwise(lit(0.0005))
        val lo = array_min(transform(col("ring"), p => p.getField("lon")))
        val la = array_min(transform(col("ring"), p => p.getField("lat")))
        val lines = ways.select(col("id"),
          transform(col("ring"), p => struct(
            (lo + (p.getField("lon") - lo) * 3 + sh).as("lon"),
            (la + (p.getField("lat") - la) * 3 + sh).as("lat"))).as("path"))
        GeoJoin.linesIntersectPolygons(lines, ways, "id", "path",
            "id", "ring", cellDeg = 0.5)
          .orderBy(col("line_id"), col("poly_id"))
      },
      Some(s"""SELECT b.id AS line_id, w.id AS poly_id
             |FROM $waySql
             |JOIN (SELECT p_partkey AS id,
             |        3 * CASE WHEN p_size <= 25 THEN 0.001 ELSE 0.1 END AS d,
             |        (p_retailprice % 300) - 150
             |          + CASE WHEN p_partkey % 2 = 0
             |                 THEN -0.0005 ELSE 0.0005 END AS lon0,
             |        (p_partkey % 120) - 60
             |          + CASE WHEN p_partkey % 2 = 0
             |                 THEN -0.0005 ELSE 0.0005 END AS lat0
             |      FROM part) b
             |  ON w.lon0 < b.lon0 + b.d AND b.lon0 < w.lon0 + w.d
             | AND w.lat0 < b.lat0 + b.d AND b.lat0 < w.lat0 + w.d
             |WHERE NOT (b.lon0 < w.lon0 AND w.lon0 + w.d < b.lon0 + b.d
             |       AND b.lat0 < w.lat0 AND w.lat0 + w.d < b.lat0 + b.d)
             |ORDER BY line_id, poly_id""".stripMargin),
      doc = "line-polygon intersection join (crossings OR first-vertex containment, composed from oracled members) vs the closed-form overlap-and-not-contains oracle; parity-signed shifts keep both the loop-around-excluded and fully-inside branches live on data"),

    Q("way_centroids",
      (s, dir) => Tables.osmWays(s, dir)
        .filter(GeoFunctions.geodesic_area(col("ring")) <= OsmModel.CentroidAreaThreshold)
        .select((col("id") + OsmModel.CentroidIdOffset).as("id"),
          GeoFunctions.centroid(col("ring")).as("c"))
        .select(col("id"),
          round(col("c.lon"), 6).as("lon"),
          round(col("c.lat"), 6).as("lat"))
        .orderBy(col("id")),
      Some(s"""SELECT id + 36000000000 AS id,
              |       round(lon0 + d / 2, 6) AS lon,
              |       round(lat0 + d / 2, 6) AS lat
              |FROM $waySql
              |WHERE d = 0.001
              |ORDER BY id""".stripMargin),
      doc = "F8+C8+C10: ways_to_centroids.sql — area filter, shoelace centroid, id offset"),

    Q("way_union_offset",
      (s, dir) => Tables.osmNodes(s, dir).select(col("id"))
        .unionByName(
          Tables.osmWays(s, dir)
            .filter(GeoFunctions.geodesic_area(col("ring")) <= OsmModel.CentroidAreaThreshold)
            .select((col("id") + OsmModel.CentroidIdOffset).as("id")))
        .orderBy(col("id")),
      Some("""SELECT o_orderkey AS id FROM orders
             |UNION ALL
             |SELECT p_partkey + 36000000000 AS id FROM part WHERE p_size <= 25
             |ORDER BY id""".stripMargin),
      doc = "U1/K5: append centroid rows into nodes; offset keeps id space disjoint"),

    Q("way_nodes_explode",
      (s, dir) => WayAssembly.wayNodes(Tables.osmWays(s, dir))
        .orderBy(col("way_id"), col("pos")),
      Some("""SELECT id AS way_id, CAST(i AS INTEGER) AS pos, id * 10 + i AS node_id
             |FROM (SELECT p_partkey AS id, unnest(generate_series(0, 3)) AS i FROM part)
             |ORDER BY way_id, pos""".stripMargin),
      doc = "X2: UNNEST of the way node-ref array (unnest_bbox_way_nodes equivalent)"),

    Q("way_assembly",
      (s, dir) => {
        val ways = Tables.osmWays(s, dir)
        // node-location relation derived from the ring corners: ring[pos]
        // is the location of node ref nodes[pos]
        val nodeLoc = ways
          .select(col("ring"), posexplode(col("nodes")).as(Seq("pos", "node_id")))
          .select(col("node_id"),
            element_at(col("ring"), col("pos") + 1).getField("lon").as("lon"),
            element_at(col("ring"), col("pos") + 1).getField("lat").as("lat"))
        WayAssembly.assembleRings(ways.select(col("id"), col("nodes")), nodeLoc)
          .select(col("id"),
            size(col("ring")).as("n_points"),
            round(aggregate(col("ring"), lit(0.0),
              (acc, p) => acc + p.getField("lon")) / size(col("ring")), 6).as("avg_lon"),
            round(aggregate(col("ring"), lit(0.0),
              (acc, p) => acc + p.getField("lat")) / size(col("ring")), 6).as("avg_lat"))
          .orderBy(col("id"))
      },
      Some(s"""SELECT id, 4 AS n_points,
              |       round(lon0 + d / 2, 6) AS avg_lon,
              |       round(lat0 + d / 2, 6) AS avg_lat
              |FROM $waySql
              |ORDER BY id""".stripMargin),
      doc = "J2: explode node refs, shuffle-join locations, ordered collect_list reassembly"),

    Q("poi_project_compat",
      (s, dir) => {
        val settings = PoiQueries.baseSettings
        val dim = TagDimension.prepare(Tables.classificationDimDf(s), settings)
        val pairs = TagDimension.toPairs(dim, settings)
        PoiClassifier.classify(Tables.osmNodes(s, dir), pairs, settings)
          .select(col("id"),
            col("version"),
            col("user_id"),
            HstoreCompat.tstampFormatted(col("tstamp")).as("tstamp"),
            col("changeset_id"),
            HstoreCompat.tagsAsHstore(col("tags")).as("tags_hstore"))
          .orderByOnce(col("id"))
      },
      Some("""SELECT o_orderkey AS id,
             |       1 AS version,
             |       CAST(o_custkey AS INTEGER) AS user_id,
             |       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS tstamp,
             |       o_custkey AS changeset_id,
             |       CASE WHEN o_totalprice > 200000
             |            THEN '"name"=>"poi_' || o_orderkey || '","orderstatus"=>"' || o_orderstatus
             |                 || '","priority"=>"' || o_orderpriority || '"'
             |            ELSE '"orderstatus"=>"' || o_orderstatus
             |                 || '","priority"=>"' || o_orderpriority || '"' END AS tags_hstore
             |FROM orders
             |WHERE (o_orderstatus IN ('F', 'P') OR o_orderpriority = '1-URGENT')
             |ORDER BY id""".stripMargin),
      doc = "C2+C5+C6: Osmosis row projection with hstore text and %Y-%m-%d %H:%M:%S"),

    Q("sanitize_compat",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          HstoreCompat.sanitize(
            concat(substring(col("text"), 1, 40), lit("\\x\\\\y\"z\t\n\r"))).as("sanitized"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  replace(replace(replace(replace(replace(replace(
             |    substr(text, 1, 40) || chr(92) || 'x' || chr(92) || chr(92) || 'y'
             |      || '"z' || chr(9) || chr(10) || chr(13),
             |    chr(92) || chr(92), chr(92) || chr(92) || chr(92) || chr(92)),
             |    '"', chr(92) || chr(92) || '"'),
             |    chr(10) || chr(13), chr(92) || chr(92) || 'r'),
             |    chr(10), chr(92) || chr(92) || 'r'),
             |    chr(13), chr(92) || chr(92) || 'r'),
             |    chr(9), chr(92) || chr(92) || 't') AS sanitized
             |FROM documents
             |ORDER BY doc_id""".stripMargin),
      doc = "C1: the reference's exact escaping chain (reference-bug-compatible)"),

    Q("topk_per_brand",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("p_brand"))
          .orderBy(col("p_retailprice").desc, col("p_partkey"))
        Tables.part(s, dir)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("p_brand"), col("p_partkey"), col("rk"))
          .orderBy(col("p_brand"), col("rk"))
      },
      Some("""SELECT p_brand, p_partkey, CAST(rk AS INTEGER) AS rk
             |FROM (SELECT p_brand, p_partkey,
             |             row_number() OVER (PARTITION BY p_brand
             |                                ORDER BY p_retailprice DESC, p_partkey) AS rk
             |      FROM part)
             |WHERE rk <= 3
             |ORDER BY p_brand, rk""".stripMargin),
      doc = "T1: per-key top-k via window rank (TagInfo rp=100 source-side top-k)"),

    Q("poi_cell_density",
      (s, dir) => {
        val settings = PoiQueries.baseSettings
        val dim = TagDimension.prepare(Tables.classificationDimDf(s), settings)
        val pairs = TagDimension.toPairs(dim, settings)
        PoiClassifier.classify(Tables.osmNodes(s, dir), pairs, settings)
          .groupBy(graft.functions.SpatialCell
            .cellId(col("lon"), col("lat"), 10.0).as("cell"))
          .agg(count(lit(1)).as("n_pois"))
          .orderBy(col("cell"))
      },
      Some("""SELECT CAST(least(floor((lat + 90) / 10.0), 17) AS BIGINT) * 36
             |         + CAST(least(floor((lon + 180) / 10.0), 35) AS BIGINT) AS cell,
             |       count(*) AS n_pois
             |FROM (SELECT (o_totalprice % 360 - 180) AS lon,
             |             (o_totalprice % 170 - 85) AS lat
             |      FROM orders
             |      WHERE o_orderstatus IN ('F', 'P') OR o_orderpriority = '1-URGENT')
             |GROUP BY cell ORDER BY cell""".stripMargin),
      doc = "spatial grid-cell aggregation (z-order-lite layout key)"),

    // Antimeridian containment, the catalog DEFAULT (r19 migration):
    // planted dateline-straddling rectangles (the r16 VERDICT's
    // missing operator — "a dateline-straddling country polygon is
    // REAL data") go RAW into the geometry-normalizing surface
    // (pointsInPolygonsSafe: internal split + (id, part) rekey +
    // aggregate-back). The ORACLE operates on the pre-split halves
    // (hand-derived west/east rectangles), so a split that mangled
    // either piece breaks the hash. Points reach both sides of the
    // dateline (lon spans the full [-180, 180)); bounds end in
    // .xx3/.xx7 against point coords ending in .0005, so boundary
    // conventions never fire. Rect 3 does not straddle — the
    // pass-through branch rides the same query. The manual
    // split-first caller recipe keeps its own oracle as
    // way_dateline_containment_manual.
    Q("way_dateline_containment",
      (s, dir) => {
        import graft.operators.GeoJoin
        import s.implicits._
        val pts = Tables.orders(s, dir).select(
          col("o_orderkey").as("id"),
          ((col("o_totalprice") % 360) - 180 + 0.0005).as("lon"),
          ((col("o_orderkey") % 170) - 85 + 0.0005).as("lat"))
        val rects = Seq(
          (1L, 177.303, -176.297, -20.103, -4.897),
          (2L, 179.203, -178.597, 30.053, 44.353),
          (3L, 10.153, 20.853, -5.453, 8.253))
          .toDF("wid", "wlo", "elo", "sla", "nla")
        val polys = rects.select(col("wid"), expr(
          "array(named_struct('lon', wlo, 'lat', sla)," +
            " named_struct('lon', elo, 'lat', sla)," +
            " named_struct('lon', elo, 'lat', nla)," +
            " named_struct('lon', wlo, 'lat', nla)," +
            " named_struct('lon', wlo, 'lat', sla))").as("ring"))
        GeoJoin.pointsInPolygonsSafe(pts, polys, "id", "lon", "lat",
            "wid", "ring", cellDeg = 0.5)
          .orderBy(col("point_id"), col("poly_id"))
      },
      Some("""WITH pts AS (SELECT o_orderkey AS id,
             |               (o_totalprice % 360) - 180 + 0.0005 AS lon,
             |               (o_orderkey % 170) - 85 + 0.0005 AS lat
             |             FROM orders),
             |halves(wid, lo1, lo2, la1, la2) AS (VALUES
             |  (1, 177.303, 180.0, -20.103, -4.897),
             |  (1, -180.0, -176.297, -20.103, -4.897),
             |  (2, 179.203, 180.0, 30.053, 44.353),
             |  (2, -180.0, -178.597, 30.053, 44.353),
             |  (3, 10.153, 20.853, -5.453, 8.253))
             |SELECT p.id AS point_id, CAST(h.wid AS BIGINT) AS poly_id
             |FROM pts p JOIN halves h
             |  ON p.lon > h.lo1 AND p.lon < h.lo2
             | AND p.lat > h.la1 AND p.lat < h.la2
             |ORDER BY point_id, poly_id""".stripMargin),
      doc = "antimeridian containment through the geometry-normalizing DEFAULT surface (pointsInPolygonsSafe, r19 migration): RAW wrapped dateline rings in, vs the pre-split-halves oracle; points on BOTH sides of the dateline match"),

    // The MANUAL split-first caller recipe (the pre-r18 contract),
    // kept oracled as a regression: the SAME planted dateline
    // rectangles and the SAME pre-split-halves oracle as
    // way_dateline_containment, but the caller runs
    // splitAntimeridianRings itself and keys the plain grid join by
    // (wid, part). Passing against the identical oracle proves the
    // manual recipe and the normalizing surface stay interchangeable
    // (was way_dateline_containment_raw before the r19 default swap —
    // the raw-input form is now the default-named query above).
    Q("way_dateline_containment_manual",
      (s, dir) => {
        import graft.operators.GeoJoin
        import s.implicits._
        val pts = Tables.orders(s, dir).select(
          col("o_orderkey").as("id"),
          ((col("o_totalprice") % 360) - 180 + 0.0005).as("lon"),
          ((col("o_orderkey") % 170) - 85 + 0.0005).as("lat"))
        val rects = Seq(
          (1L, 177.303, -176.297, -20.103, -4.897),
          (2L, 179.203, -178.597, 30.053, 44.353),
          (3L, 10.153, 20.853, -5.453, 8.253))
          .toDF("wid", "wlo", "elo", "sla", "nla")
        val polys = rects.select(col("wid"), expr(
          "array(named_struct('lon', wlo, 'lat', sla)," +
            " named_struct('lon', elo, 'lat', sla)," +
            " named_struct('lon', elo, 'lat', nla)," +
            " named_struct('lon', wlo, 'lat', nla)," +
            " named_struct('lon', wlo, 'lat', sla))").as("ring"))
        val split = GeoJoin.splitAntimeridianRings(polys, "wid", "ring")
          .withColumn("pk", struct(col("wid"), col("part")))
        GeoJoin.pointsInPolygons(pts, split, "id", "lon", "lat",
            "pk", "ring", cellDeg = 0.5)
          .select(col("point_id"), col("poly_id.wid").as("poly_id"))
          .distinct()
          .orderBy(col("point_id"), col("poly_id"))
      },
      Some("""WITH pts AS (SELECT o_orderkey AS id,
             |               (o_totalprice % 360) - 180 + 0.0005 AS lon,
             |               (o_orderkey % 170) - 85 + 0.0005 AS lat
             |             FROM orders),
             |halves(wid, lo1, lo2, la1, la2) AS (VALUES
             |  (1, 177.303, 180.0, -20.103, -4.897),
             |  (1, -180.0, -176.297, -20.103, -4.897),
             |  (2, 179.203, 180.0, 30.053, 44.353),
             |  (2, -180.0, -178.597, 30.053, 44.353),
             |  (3, 10.153, 20.853, -5.453, 8.253))
             |SELECT p.id AS point_id, CAST(h.wid AS BIGINT) AS poly_id
             |FROM pts p JOIN halves h
             |  ON p.lon > h.lo1 AND p.lon < h.lo2
             | AND p.lat > h.la1 AND p.lat < h.la2
             |ORDER BY point_id, poly_id""".stripMargin),
      doc = "manual split-first containment recipe (regression twin of the r19 Safe default): caller-side splitAntimeridianRings + (wid, part)-keyed plain grid join vs the same pre-split-halves oracle"),

    // The r18 declared query, kept under its original name (the
    // driver contract never removes or renames a declared query):
    // RAW wrapped rings straight into pointsInPolygonsSafe — exactly
    // the body the r19 default (way_dateline_containment) absorbed,
    // against the identical pre-split-halves oracle. Redundant with
    // the default by construction since the r19 migration, retained
    // as the named r18 anchor of the raw-input contract.
    Q("way_dateline_containment_raw",
      (s, dir) => {
        import graft.operators.GeoJoin
        import s.implicits._
        val pts = Tables.orders(s, dir).select(
          col("o_orderkey").as("id"),
          ((col("o_totalprice") % 360) - 180 + 0.0005).as("lon"),
          ((col("o_orderkey") % 170) - 85 + 0.0005).as("lat"))
        val rects = Seq(
          (1L, 177.303, -176.297, -20.103, -4.897),
          (2L, 179.203, -178.597, 30.053, 44.353),
          (3L, 10.153, 20.853, -5.453, 8.253))
          .toDF("wid", "wlo", "elo", "sla", "nla")
        val polys = rects.select(col("wid"), expr(
          "array(named_struct('lon', wlo, 'lat', sla)," +
            " named_struct('lon', elo, 'lat', sla)," +
            " named_struct('lon', elo, 'lat', nla)," +
            " named_struct('lon', wlo, 'lat', nla)," +
            " named_struct('lon', wlo, 'lat', sla))").as("ring"))
        GeoJoin.pointsInPolygonsSafe(pts, polys, "id", "lon", "lat",
            "wid", "ring", cellDeg = 0.5)
          .orderBy(col("point_id"), col("poly_id"))
      },
      Some("""WITH pts AS (SELECT o_orderkey AS id,
             |               (o_totalprice % 360) - 180 + 0.0005 AS lon,
             |               (o_orderkey % 170) - 85 + 0.0005 AS lat
             |             FROM orders),
             |halves(wid, lo1, lo2, la1, la2) AS (VALUES
             |  (1, 177.303, 180.0, -20.103, -4.897),
             |  (1, -180.0, -176.297, -20.103, -4.897),
             |  (2, 179.203, 180.0, 30.053, 44.353),
             |  (2, -180.0, -178.597, 30.053, 44.353),
             |  (3, 10.153, 20.853, -5.453, 8.253))
             |SELECT p.id AS point_id, CAST(h.wid AS BIGINT) AS poly_id
             |FROM pts p JOIN halves h
             |  ON p.lon > h.lo1 AND p.lon < h.lo2
             | AND p.lat > h.la1 AND p.lat < h.la2
             |ORDER BY point_id, poly_id""".stripMargin),
      doc = "geometry-normalizing containment (r18, original name retained): RAW wrapped dateline rings through pointsInPolygonsSafe (internal split + rekey + aggregate-back) vs the same pre-split-halves oracle as the manual-recipe query"),

    // Polygon-polygon intersection across the dateline (r18): RAW
    // straddling rects on BOTH sides through polygonsIntersectSafe.
    // B rects come scaled from `part` in two bands (near-dateline,
    // where ~4% straddle, and a lon-10..19 control band that only the
    // non-straddling A rect can match); bounds end .x7/.x03/.021 vs
    // .x1/.x41 so no strict comparison ever sits on an equality, and
    // axis-aligned rects make kernel-intersect ≡ strict interval
    // overlap in UNWRAPPED space (the way_area_intersect_join
    // argument), which is exactly what the oracle computes.
    Q("way_dateline_poly_intersect",
      (s, dir) => {
        import graft.operators.GeoJoin
        import s.implicits._
        def wl(x: Column): Column =
          when(x > 180.0, x - 360.0).otherwise(x)
        val aRects = Seq(
          (1L, 177.303, 183.703, -20.103, -4.897),
          (2L, 179.203, 181.403, 30.053, 44.353),
          (3L, 10.153, 20.853, -5.453, 8.253))
          .toDF("aid", "lo1", "lo2", "la1", "la2")
        def rectRing(lo1: Column, lo2: Column, la1: Column,
            la2: Column): Column = array(
          struct(wl(lo1).as("lon"), la1.as("lat")),
          struct(wl(lo2).as("lon"), la1.as("lat")),
          struct(wl(lo2).as("lon"), la2.as("lat")),
          struct(wl(lo1).as("lon"), la2.as("lat")),
          struct(wl(lo1).as("lon"), la1.as("lat")))
        val a = aRects.select(col("aid"), rectRing(col("lo1"),
          col("lo2"), col("la1"), col("la2")).as("ring"))
        val b = Tables.part(s, dir).select(col("p_partkey").as("bid"),
            (when(pmod(col("p_partkey"), lit(2)) === 0, 176.17)
              .otherwise(10.17) +
              pmod(col("p_partkey"), lit(80)) / 10.0).as("lo1"),
            (pmod(col("p_partkey"), lit(90)) - 45 + 0.021).as("la1"))
          .select(col("bid"), rectRing(col("lo1"),
            col("lo1") + 0.41, col("la1"), col("la1") + 6.4).as("ring"))
        GeoJoin.polygonsIntersectSafe(a, b, "aid", "ring",
            "bid", "ring", cellDeg = 0.5)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH a(aid, lo1, lo2, la1, la2) AS (VALUES
             |  (1, 177.303, 183.703, -20.103, -4.897),
             |  (2, 179.203, 181.403, 30.053, 44.353),
             |  (3, 10.153, 20.853, -5.453, 8.253)),
             |b AS (SELECT p_partkey AS bid,
             |        CASE WHEN p_partkey % 2 = 0 THEN 176.17
             |             ELSE 10.17 END
             |          + (p_partkey % 80) / 10.0 AS lo1,
             |        (p_partkey % 90) - 45 + 0.021 AS la1
             |      FROM part)
             |SELECT CAST(a.aid AS BIGINT) AS id_a, b.bid AS id_b
             |FROM a JOIN b
             |  ON a.lo1 < b.lo1 + 0.41 AND b.lo1 < a.lo2
             | AND a.la1 < b.la1 + 6.4 AND b.la1 < a.la2
             |ORDER BY id_a, id_b""".stripMargin),
      doc = "dateline polygon-polygon intersection (r18): RAW straddling rects on both sides through polygonsIntersectSafe (split + rekey + map-back) vs strict unwrapped interval overlap — the axis-aligned equivalence proof carried from way_area_intersect_join"),

    // Multipolygon containment across the dateline (r18): an outer
    // AND its hole both straddle — the seam-parity case (the hole's
    // west piece rides the west part, its east piece the east part,
    // even-odd per part ≡ region containment) — plus a non-straddling
    // holed control. RAW geometry through pointsInMultipolygonsSafe;
    // the oracle works in unwrapped space (strictly-in-outer AND NOT
    // strictly-in-hole).
    Q("way_dateline_mp_containment",
      (s, dir) => {
        import graft.operators.GeoJoin
        import s.implicits._
        val pts = Tables.orders(s, dir).select(
          col("o_orderkey").as("id"),
          ((col("o_totalprice") % 360) - 180 + 0.0005).as("lon"),
          ((col("o_orderkey") % 170) - 85 + 0.0005).as("lat"))
        def wl(x: Double): Double = if (x > 180) x - 360 else x
        def ring(lo1: Double, lo2: Double, la1: Double,
            la2: Double): Seq[(Double, Double)] = Seq(
          (wl(lo1), la1), (wl(lo2), la1), (wl(lo2), la2),
          (wl(lo1), la2), (wl(lo1), la1))
        val mps = Seq(
          (1L, Seq(ring(177.303, 183.703, -20.103, -4.897)),
            Seq(ring(179.103, 181.503, -15.303, -10.097))),
          (2L, Seq(ring(10.153, 20.853, -5.453, 8.253)),
            Seq(ring(13.103, 17.603, -2.303, 4.207))))
          .toDF("wid", "rawout", "rawin")
          .select(col("wid"),
            expr("transform(rawout, r -> transform(r, " +
              "p -> named_struct('lon', p._1, 'lat', p._2)))")
              .as("outers"),
            expr("transform(rawin, r -> transform(r, " +
              "p -> named_struct('lon', p._1, 'lat', p._2)))")
              .as("inners"))
        GeoJoin.pointsInMultipolygonsSafe(pts, mps, "id", "lon", "lat",
            "wid", "outers", "inners", cellDeg = 0.5)
          .orderBy(col("point_id"), col("poly_id"))
      },
      Some("""WITH pts AS (SELECT o_orderkey AS id,
             |        (o_totalprice % 360) - 180 + 0.0005 AS lon,
             |        (o_orderkey % 170) - 85 + 0.0005 AS lat
             |      FROM orders),
             |u AS (SELECT id, lat,
             |        lon + CASE WHEN lon < 0 THEN 360 ELSE 0 END AS lonu,
             |        lon FROM pts)
             |SELECT id AS point_id, CAST(1 AS BIGINT) AS poly_id FROM u
             |WHERE lonu > 177.303 AND lonu < 183.703
             |  AND lat > -20.103 AND lat < -4.897
             |  AND NOT (lonu > 179.103 AND lonu < 181.503
             |           AND lat > -15.303 AND lat < -10.097)
             |UNION ALL
             |SELECT id, CAST(2 AS BIGINT) FROM u
             |WHERE lon > 10.153 AND lon < 20.853
             |  AND lat > -5.453 AND lat < 8.253
             |  AND NOT (lon > 13.103 AND lon < 17.603
             |           AND lat > -2.303 AND lat < 4.207)
             |ORDER BY point_id, poly_id""".stripMargin),
      doc = "dateline multipolygon containment (r18): outer AND hole both straddle — seam parity preserved by the multipolygon split (hole pieces ride their side's part) — RAW geometry through pointsInMultipolygonsSafe vs the unwrapped outer-minus-hole oracle"),

    // The PATH form of the split, replayed vertex-by-vertex in the
    // oracle: zigzag routes near the dateline (some straddling, some
    // not) split at each lon=180 crossing; per (line, part) the
    // vertex count and coordinate sums pin the whole decomposition —
    // part indexing, boundary-vertex interpolation (the lat of the
    // 180-crossing), east-side wrap-back to -180, and pass-through.
    // The oracle rebuilds the parts relationally: crossing flags via
    // lag(), part = prefix sum, boundary vertices joined in from the
    // crossing table on both adjacent parts.
    Q("way_dateline_route_parts",
      (s, dir) => {
        import graft.operators.GeoJoin
        val routes = Tables.events(s, dir)
          .filter(pmod(col("event_id"), lit(50)) === 0)
          .select(col("event_id").as("lid"),
            explode(sequence(lit(0), lit(3))).as("k"))
          .select(col("lid"), col("k"),
            (lit(178.0005) +
              pmod(col("lid") * 3 + col("k") * 7, lit(47)) / 10.0)
              .as("lonu"),
            (pmod(col("lid"), lit(80)) - 40 + col("k") * 0.1).as("lat"))
          .withColumn("lon",
            when(col("lonu") > 180, col("lonu") - 360)
              .otherwise(col("lonu")))
          .groupBy(col("lid"))
          .agg(transform(sort_array(collect_list(struct(
              col("k").as("k"), col("lon").as("lon"),
              col("lat").as("lat")))),
            x => struct(x.getField("lon").as("lon"),
              x.getField("lat").as("lat"))).as("path"))
        // per-vertex micro-degree quantization BEFORE summing: both
        // engines compute identical vertex doubles (same formula, same
        // op order), so the per-vertex round is engine-identical, and
        // the integer sum is association-free — a double sum rounded
        // after folding straddled a 1e-6 boundary on first verify
        // (spark 30.652512 vs duckdb 30.652513)
        GeoJoin.splitAntimeridianPaths(routes, "lid", "path")
          .select(col("lid").as("line_id"), col("part"),
            size(col("path")).as("n_vertices"),
            aggregate(col("path"), lit(0L), (a, p) =>
              a + round(p.getField("lon") * 1e6, 0).cast("long"))
              .as("lon_usum"),
            aggregate(col("path"), lit(0L), (a, p) =>
              a + round(p.getField("lat") * 1e6, 0).cast("long"))
              .as("lat_usum"))
          .orderBy(col("line_id"), col("part"))
      },
      Some("""WITH v AS (SELECT event_id AS lid, k,
             |    CAST(178.0005 AS DOUBLE)
             |      + ((event_id*3 + k*7) % 47)
             |        / CAST(10.0 AS DOUBLE) AS lonu,
             |    (event_id % 80) - 40
             |      + k * CAST(0.1 AS DOUBLE) AS lat
             |  FROM events, generate_series(0, 3) s(k)
             |  WHERE event_id % 50 = 0),
             |e AS (SELECT lid, k, lonu, lat,
             |        lag(lonu) OVER (PARTITION BY lid ORDER BY k) AS plon,
             |        lag(lat) OVER (PARTITION BY lid ORDER BY k) AS plat
             |      FROM v),
             |c AS (SELECT lid, k, lonu, lat, plon, plat,
             |        CASE WHEN plon IS NOT NULL
             |              AND (plon > 180) <> (lonu > 180)
             |             THEN 1 ELSE 0 END AS crossing
             |      FROM e),
             |pv AS (SELECT lid, k, lonu, lat, crossing,
             |         sum(crossing) OVER (PARTITION BY lid
             |                             ORDER BY k) AS part
             |       FROM c),
             |x AS (SELECT lid,
             |        sum(crossing) OVER (PARTITION BY lid
             |                            ORDER BY k) AS xi,
             |        plat + (180 - plon)/(lonu - plon)*(lat - plat)
             |          AS ylat
             |      FROM c WHERE crossing = 1),
             |sd AS (SELECT lid, part,
             |         max(CASE WHEN lonu > 180 THEN 1 ELSE 0 END)
             |           AS east
             |       FROM pv GROUP BY lid, part),
             |allv AS (
             |  SELECT lid, part,
             |         CASE WHEN lonu > 180 THEN lonu - 360
             |              ELSE lonu END AS lon,
             |         lat FROM pv
             |  UNION ALL
             |  SELECT x.lid, x.xi AS part,
             |         CASE WHEN s2.east = 1 THEN -180.0
             |              ELSE 180.0 END, x.ylat
             |  FROM x JOIN sd s2 ON s2.lid = x.lid AND s2.part = x.xi
             |  UNION ALL
             |  SELECT x.lid, x.xi - 1 AS part,
             |         CASE WHEN s2.east = 1 THEN -180.0
             |              ELSE 180.0 END, x.ylat
             |  FROM x JOIN sd s2 ON s2.lid = x.lid
             |                   AND s2.part = x.xi - 1)
             |SELECT lid AS line_id, CAST(part AS INT) AS part,
             |       count(*) AS n_vertices,
             |       CAST(sum(CAST(round(lon * 1000000) AS BIGINT))
             |         AS BIGINT) AS lon_usum,
             |       CAST(sum(CAST(round(lat * 1000000) AS BIGINT))
             |         AS BIGINT) AS lat_usum
             |FROM allv GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "antimeridian path split replayed relationally: crossing flags via lag, part = prefix sum, boundary-vertex lat interpolation joined into both adjacent parts, east wrap-back to -180 — per-part vertex counts and coordinate sums pin the whole decomposition"),

    // Line-in-MULTIPOLYGON (round 17): the courtyard-road case the
    // r16 matrix left open — a route inside a HOLE must NOT match.
    // Multipolygons derive from the big (d=0.1) ways: outer = the
    // square, hole = the middle third, island = the middle ninth
    // (island-in-hole nesting rides the same rows); a planted mp +
    // four planted segments pin each branch deterministically
    // (courtyard NO, annulus YES, island-interior YES, hole-boundary
    // crosser YES). Lines are horizontal segments on the .0005-offset
    // lattice, so the closed-form oracle (overlap outer AND NOT
    // (inside hole AND missing island)) is exact — bounds land on
    // thirds/ninths of 0.1, never on a .0005 coordinate.
    Q("way_line_in_multipolygon",
      (s, dir) => {
        import graft.operators.GeoJoin
        import s.implicits._
        def pt(a: Column, b: Column) =
          struct(a.as("lon"), b.as("lat"))
        def sq(x: Column, y: Column, w: Column) = array(
          pt(x, y), pt(x + w, y), pt(x + w, y + w), pt(x, y + w),
          pt(x, y))
        val big = Tables.part(s, dir).filter(col("p_size") > 25)
          .select(col("p_partkey").as("id"),
            ((col("p_retailprice") % 300) - 150).cast("double").as("x0"),
            ((col("p_partkey") % 120) - 60).cast("double").as("y0"),
            lit(0.1).as("d"))
          .unionByName(Seq((9000000L, 160.0, 70.0, 0.09))
            .toDF("id", "x0", "y0", "d"))
        val mp = big.select(col("id"),
          array(sq(col("x0"), col("y0"), col("d")),
            sq(col("x0") + col("d") * 4 / 9, col("y0") + col("d") * 4 / 9,
              col("d") / 9)).as("outers"),
          array(sq(col("x0") + col("d") / 3, col("y0") + col("d") / 3,
            col("d") / 3)).as("inners"))
        val segs = Tables.orders(s, dir).select(
            col("o_orderkey").as("lid"),
            ((col("o_totalprice") % 300) - 150 + 0.0005).as("x1"),
            ((col("o_orderkey") % 120) - 60 +
              (col("o_orderkey") % 97) / 1000.0 + 0.0005).as("y"),
            (lit(0.004) + (col("o_orderkey") % 4) * 0.01).as("len"))
          .unionByName(Seq(
            (9000001L, 160.0315, 70.0355, 0.004),
            (9000002L, 160.0055, 70.0155, 0.004),
            (9000003L, 160.0425, 70.0455, 0.004),
            (9000004L, 160.0455, 70.0355, 0.024))
            .toDF("lid", "x1", "y", "len"))
        val lines = segs.select(col("lid"),
          array(pt(col("x1"), col("y")),
            pt(col("x1") + col("len"), col("y"))).as("path"))
        GeoJoin.linesIntersectMultipolygons(lines, mp, "lid", "path",
            "id", "outers", "inners", cellDeg = 0.5)
          .orderBy(col("line_id"), col("poly_id"))
      },
      Some("""WITH w AS (SELECT p_partkey AS id,
             |             CAST(0.1 AS DOUBLE) AS d,
             |             (p_retailprice % 300) - 150 AS x0,
             |             (p_partkey % 120) - 60 AS y0
             |           FROM part WHERE p_size > 25
             |           UNION ALL
             |           SELECT 9000000, CAST(0.09 AS DOUBLE),
             |                  160.0, 70.0),
             |l AS (SELECT o_orderkey AS lid,
             |        (o_totalprice % 300) - 150 + 0.0005 AS x1,
             |        (o_orderkey % 120) - 60
             |          + (o_orderkey % 97)/1000.0 + 0.0005 AS y,
             |        0.004 + (o_orderkey % 4) * 0.01 AS len
             |      FROM orders
             |      UNION ALL
             |      SELECT * FROM (VALUES
             |        (9000001, 160.0315, 70.0355, 0.004),
             |        (9000002, 160.0055, 70.0155, 0.004),
             |        (9000003, 160.0425, 70.0455, 0.004),
             |        (9000004, 160.0455, 70.0355, 0.024))
             |        v(lid, x1, y, len))
             |SELECT CAST(l.lid AS BIGINT) AS line_id,
             |       CAST(w.id AS BIGINT) AS poly_id
             |FROM l JOIN w
             |  ON l.y > w.y0 AND l.y < w.y0 + w.d
             | AND l.x1 < w.x0 + w.d AND w.x0 < l.x1 + l.len
             |WHERE NOT (
             |  l.y > w.y0 + w.d/3 AND l.y < w.y0 + 2*w.d/3
             |  AND l.x1 > w.x0 + w.d/3
             |  AND l.x1 + l.len < w.x0 + 2*w.d/3
             |  AND NOT (l.y > w.y0 + 4*w.d/9 AND l.y < w.y0 + 5*w.d/9
             |           AND l.x1 < w.x0 + 5*w.d/9
             |           AND w.x0 + 4*w.d/9 < l.x1 + l.len))
             |ORDER BY line_id, poly_id""".stripMargin),
      doc = "line-in-multipolygon join (crossings against ALL rings OR even-odd parity of the first vertex): courtyard segments inside holes excluded, island-in-hole segments included, vs the closed-form nested-squares oracle with planted branch pins")
  )
}
