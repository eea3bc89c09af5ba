package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distance-based spatial joins — "which points lie within R meters of
  * each other", the geo operator the engine's join family (as-of,
  * range, bucketed) lacked. Same design discipline as
  * [[RangeJoin]]: candidates from a hash-equi-joinable GRID KEY, an
  * exact per-pair verify after, never a BroadcastNestedLoopJoin.
  *
  * Grid scheme: latitude bands of `cellLat` degrees (≥ R everywhere,
  * 1.2× safety margin on the spherical meridian degree), and within
  * each band longitude cells sized from the band edge FARTHEST from
  * the equator plus one band (the smallest cos a matching pair
  * touching this band can have — longitude degrees NARROW poleward,
  * so sizing from the wide edge would under-cover high-band pairs),
  * tiled so a whole ring is an integer number of cells
  * (`nCells = max(1, floor(360/cellLonDeg))`) — bands reaching
  * poleward of 85° collapse to ONE cell, so the poles need no special
  * casing and the dateline wraps by modulo. The probe side emits its
  * own cell; the build side expands to the 3×3 neighborhood,
  * computing each neighbor band's x-cell in THAT band's width
  * (adjacent bands tile differently — an equi-join on (band, xcell)
  * only works if both sides agree per band).
  *
  * Scale shape: one explode(≤9) on one side, one shuffle on the
  * (band, xcell) key, exact haversine verify on candidates only.
  * Candidate volume per point is bounded by the 3×3 cell population.
  * The adversarial head is NULL ISLAND — bad geocodes put a visible
  * fraction of any real corpus at one exact coordinate, and those
  * points are all GENUINELY within radius of each other: a C²/2
  * output clique no candidate stage can bound (the geo twin of the
  * mirror family's parking page). Decision rule, MEASURED (SkewProbe
  * `geojoin`, BASELINE r15): collapse identical coordinates first —
  * `groupBy(lon, lat).agg(min(id), count)` and join pairs over
  * representatives; the 5000-point clique that materializes 12.5M
  * raw pairs becomes ONE multiplicity row while the 25 true
  * cross-location pairs survive exactly. Self-join emits each
  * unordered pair once (id_a < id_b).
  */
object GeoJoin {

  /** Haversine distance in METERS (mean-radius sphere, R = 6371000) —
    * built-in functions only, so it stays inside whole-stage codegen
    * and a SQL oracle can reproduce it operation-for-operation. For
    * ellipsoid-exact point pairs use
    * [[graft.functions.Ellipsoid.geodesicDistanceM]] (scalar; ~0.3%
    * tighter, microseconds vs nanoseconds).
    */
  def haversineM(lon1: Column, lat1: Column, lon2: Column,
      lat2: Column): Column = {
    val dLat = radians(lat2 - lat1) / 2
    val dLon = radians(lon2 - lon1) / 2
    val h = pow(sin(dLat), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon), 2)
    lit(2 * 6371000.0) * asin(sqrt(h))
  }

  private val MPerLatDeg = 110574.0 // minimum meters per meridian degree
  private val MPerLonDegEq = 111320.0 // meters per longitude degree at φ=0
  private val PolarBandDeg = 85.0

  /** The proximity grid at one radius — latitude bands of `cellLat`
    * degrees, each tiled into its own whole number of longitude cells
    * (see the object doc). Both sides of [[withinDistance]] and
    * [[withinDistanceEvents]] key through ONE instance, so the build
    * and probe keys cannot disagree.
    */
  private final class ProximityGrid(radiusM: Double) {
    private val cellLat = 1.2 * radiusM / MPerLatDeg // degrees, ≥ R everywhere
    private val nBands = math.max(1, math.floor(180.0 / cellLat).toLong)

    /** Per-band longitude tiling: (nCells, cellLonDeg). Pure driver-side
      * arithmetic — bands are O(180/cellLat), broadcast as literals via
      * the expressions below.
      */
    private def bandCols(band: Column): (Column, Column) = {
      val e1 = lit(-90.0) + band * cellLat
      val e2 = e1 + cellLat
      // the largest |φ| a pair member matched through this band's keys
      // can sit at: the band's far edge plus one adjacent band
      val farAbs = least(lit(90.0),
        greatest(abs(e1), abs(e2)) + cellLat)
      val nCells = when(farAbs >= PolarBandDeg, lit(1L)).otherwise(
        greatest(lit(1L), floor(lit(360.0) /
          lit(1.2 * radiusM / MPerLonDegEq) * cos(radians(farAbs)))
          .cast("long")))
      (nCells, lit(360.0) / nCells)
    }

    def latBand(lat: Column): Column = least(lit(nBands - 1),
      greatest(lit(0L), floor((lat + 90.0) / cellLat).cast("long")))

    def xcell(band: Column, lon: Column): Column = {
      val (nCells, w) = bandCols(band)
      pmod(floor((lon + 180.0) / w).cast("long"), nCells)
    }

    /** Build-side keys: `df` gains `__band` and `__x`, one row per key
      * of the 3 bands × 3 x-cells around (`lon`, `lat`), each neighbor
      * band's x-cell in THAT band's tiling, duplicates removed.
      */
    def neighborhood(df: DataFrame, lon: String, lat: String)
        : DataFrame =
      df.withColumn("__b0", latBand(col(lat)))
        .withColumn("__band", explode(array_distinct(array(
          greatest(lit(0L), col("__b0") - 1), col("__b0"),
          least(lit(nBands - 1), col("__b0") + 1)))))
        .withColumn("__xc", xcell(col("__band"), col(lon)))
        .withColumn("__x", explode(array_distinct(transform(
          sequence(lit(-1), lit(1)), d => {
            val n = bandCols(col("__band"))._1
            pmod(col("__xc") + d, n)
          }))))
        .drop("__b0", "__xc")
  }

  /** All (a, b) pairs with haversine(a, b) ≤ `radiusM`. Output:
    * (id_a, id_b, dist_m), one row per matching pair (ids must be
    * unique per relation — a duplicated input id duplicates its
    * pairs). `selfPairs = true` treats a and b as the same relation
    * and emits unordered pairs once (id_a < id_b); false keeps every
    * cross match. The `b` side may be a STREAM: its per-row cell key
    * is stateless and the join is stream-static — the geofence shape
    * (events arriving, static POI set), append mode, no watermark
    * needed.
    */
  def withinDistance(a: DataFrame, b: DataFrame,
      aId: String, aLon: String, aLat: String,
      bId: String, bLon: String, bLat: String,
      radiusM: Double, selfPairs: Boolean = false): DataFrame = {
    require(radiusM > 0 && radiusM <= 1000000.0,
      "radiusM in (0, 1000 km]: the grid margin is sized for " +
        "city-to-region radii, not hemispheres")
    val grid = new ProximityGrid(radiusM)
    // probe side: its own cell
    val probe = b.select(col(bId).as("__ib"), col(bLon).as("__lob"),
        col(bLat).as("__lab"))
      .withColumn("__band", grid.latBand(col("__lab")))
      .withColumn("__x", grid.xcell(col("__band"), col("__lob")))
    val build = grid.neighborhood(a.select(col(aId).as("__ia"),
      col(aLon).as("__loa"), col(aLat).as("__laa")), "__loa", "__laa")
    // no trailing distinct: the probe row carries exactly ONE key and
    // the build row's 9 neighbor keys are array_distinct'ed, so a pair
    // joins at most once — which also keeps the plan stateless, so the
    // PROBE side streams (stream-static equi-join, append mode,
    // spec-pinned stream ≡ batch)
    build.join(probe, Seq("__band", "__x"))
      .withColumn("dist_m", haversineM(col("__loa"), col("__laa"),
        col("__lob"), col("__lab")))
      .filter(col("dist_m") <= radiusM)
      .filter(if (selfPairs) col("__ia") < col("__ib") else lit(true))
      .select(col("__ia").as("id_a"), col("__ib").as("id_b"),
        col("dist_m"))
  }

  /** Time-bounded proximity join — [[withinDistance]] with an
    * event-time bound: (a, b) pairs within `radiusM` meters whose
    * events are at most `maxGapSeconds` apart. The time bound rides
    * IN the join condition, which makes the same plan work THREE
    * ways: batch, stream-static, and STREAM-STREAM — the
    * moving-object shape ("which two vehicles came within 50 m of
    * each other within 5 minutes"), where Spark uses the join-range
    * condition to bound both sides' state and evict by watermark
    * (callers watermark BOTH inputs; append mode). The pair-joins-
    * at-most-once property of the grid (one probe key, array_distinct
    * build keys) is what keeps the stream-stream form workable — no
    * trailing distinct, which a streaming inner join could not
    * express. Output: (id_a, id_b, ts_a, ts_b, dist_m).
    *
    * The TIME BUCKET rides the join KEY, not just the condition.
    * Without it, candidate volume is Σ_cell k² over the WHOLE
    * history — a month of events in one busy cell pays the full
    * quadratic even though only same-hour pairs can match (measured
    * on the catalog data: 145M candidate evals, 14 s; bucketed,
    * ~1 s). With it, candidates scale with per-(cell, bucket)
    * density — the same law the streaming state already obeys. A
    * pair within `maxGapSeconds` differs by at most one bucket, so
    * the key is pure pruning; the exact time range still verifies in
    * the condition.
    *
    * The ±1 NEIGHBORHOOD explosion is split across the sides (r19):
    * the a-side explodes band and lon-cell (9 keys/row), the b-side
    * explodes the time bucket (3 keys/row) — 9N + 3N shuffled/sorted
    * rows instead of the previous all-on-one-side 27N + N (2.3×
    * fewer; at sf10g: shuffle write 1532 → 760 MB, sort spill
    * 3.5 GB → 0, BASELINE.md r19). Coverage is unchanged — each ±1
    * factor may be enumerated on either side, and exactly one
    * exploded combination matches per true pair, preserving the
    * pair-joins-at-most-once property the stream-stream form needs.
    */
  def withinDistanceEvents(a: DataFrame, b: DataFrame,
      aId: String, aLon: String, aLat: String, aTs: String,
      bId: String, bLon: String, bLat: String, bTs: String,
      radiusM: Double, maxGapSeconds: Long,
      selfPairs: Boolean = false): DataFrame = {
    require(radiusM > 0 && radiusM <= 1000000.0,
      "radiusM in (0, 1000 km]")
    require(maxGapSeconds >= 0, "maxGapSeconds >= 0")
    // Explosion REBALANCE (r19): the ±1 neighborhood factors split
    // across the two sides — band and lon-cell (9×) on the build side,
    // time bucket (3×) on the probe side — instead of all 27× on the
    // build. Each factor may be enumerated on either side (banda ∈
    // bandb±1 ⟺ bandb ∈ banda±1), each side's exploded key sets are
    // distinct, and exactly one combination matches per true pair, so
    // coverage and the pair-joins-at-most-once property are unchanged.
    // Shuffled/sorted row volume drops from 27·N + N to 9·N + 3·N
    // (2.3×); at sf10g alloc fell 319 → 166 GB (BASELINE.md r19), and
    // the stream-stream form's buffered state drops the same way.
    val grid = new ProximityGrid(radiusM)
    val bktUs = math.max(maxGapSeconds, 1L) * 1000000L
    val bucket = (ts: Column) => floor(unix_micros(ts) / bktUs).cast("long")
    val probe = b.select(col(bId).as("__ib"), col(bLon).as("__lob"),
        col(bLat).as("__lab"), col(bTs).as("__tsb"))
      .withColumn("__bandb", grid.latBand(col("__lab")))
      .withColumn("__xb", grid.xcell(col("__bandb"), col("__lob")))
      .withColumn("__bktb", explode(sequence(
        bucket(col("__tsb")) - 1, bucket(col("__tsb")) + 1)))
    val build = grid.neighborhood(a.select(col(aId).as("__ia"),
        col(aLon).as("__loa"), col(aLat).as("__laa"),
        col(aTs).as("__tsa")), "__loa", "__laa")
      .withColumn("__bkt", bucket(col("__tsa")))
    val gap = s"INTERVAL $maxGapSeconds SECONDS"
    // The ordered-pair cut (`__ia < __ib`, selfPairs) lives IN the
    // join condition, before the time-range tests, so id-rejected
    // candidate pairs never reach the haversine projection at all
    // (r19 — the dedup_embedding conjunct lesson, applied in the form
    // the A/B favored). The haversine itself deliberately STAYS a
    // post-join computed-once column + Filter rather than a join-
    // condition conjunct: the sf10g A/B (BASELINE.md r19) measured the
    // full move (trig in the condition, recomputed in the projection
    // for survivors) at 618 GB allocated vs 352 GB for this shape,
    // with no wall win — the condition-plus-projection double
    // evaluation costs more than the short-circuit saves.
    val idCut = if (selfPairs) col("__ia") < col("__ib") else lit(true)
    // A Δlat lower-bound precheck in the condition (meridional
    // distance ≤ haversine, rejects ~44% of grid candidates with two
    // float ops) was A/B-measured at sf10g and moved NEITHER wall nor
    // alloc_gb — the join's allocation floor is pair-iteration
    // machinery, not the trig verify — so it is deliberately absent.
    build.join(probe,
        col("__band") === col("__bandb") && col("__x") === col("__xb") &&
          col("__bkt") === col("__bktb") && idCut &&
          col("__tsb") >= col("__tsa") - expr(gap) &&
          col("__tsb") <= col("__tsa") + expr(gap))
      .withColumn("dist_m", haversineM(col("__loa"), col("__laa"),
        col("__lob"), col("__lab")))
      .filter(col("dist_m") <= radiusM)
      .select(col("__ia").as("id_a"), col("__ib").as("id_b"),
        col("__tsa").as("ts_a"), col("__tsb").as("ts_b"), col("dist_m"))
  }

  /** Point-in-ring test (even-odd rule / ray casting) for a closed
    * lon/lat ring — the verify kernel of [[pointsInPolygons]]. On-edge
    * points follow the half-open crossing convention; callers whose
    * correctness depends on boundary points must nudge them off the
    * boundary (the catalog query does) or pre-filter.
    */
  def pointInRing(lon: Double, lat: Double,
      ring: Seq[(Double, Double)]): Boolean = {
    var inside = false
    var i = 0
    while (i < ring.size - 1) {
      val (xi, yi) = ring(i); val (xj, yj) = ring(i + 1)
      if ((yi > lat) != (yj > lat)) {
        val xint = xi + (lat - yi) * (xj - xi) / (yj - yi)
        if (lon < xint) inside = !inside
      }
      i += 1
    }
    inside
  }

  /** Spatial CONTAINMENT join: (point, polygon) pairs where the point
    * lies inside the polygon's exterior ring — "which POI nodes fall
    * inside which way-areas", the reference-domain query the distance
    * join doesn't answer. Candidates come from a fixed `cellDeg` grid:
    * each polygon emits every cell its bbox covers, each point its own
    * cell, and candidates verify with the exact ray cast — the grid is
    * pure pruning, so `cellDeg` only trades candidate volume for key
    * fan-out. Size it near the MEDIAN polygon diameter. A whale
    * polygon (a country among buildings) emits bbox-area/cellDeg²
    * keys — but that fan-out is what SHARDS its verify work across
    * the cluster, measured, not argued (SkewProbe `geojoin` pip1m:
    * 1M points × 100k small polys + one continent-bbox whale at
    * cellDeg 0.5 → 865k genuine containments in 1.6 s, maxtask
    * 0.5 s — the whale distributes by construction). The real limit
    * is cellDeg ≪ whale extent (millions of key rows per geometry,
    * linear fan-out cost): [[pointsInPolygonsAuto]] splits such
    * outliers into their own coarser-grid pass automatically (since
    * round 16 — it was this scaladoc's caller recipe before).
    * Polygons crossing the antimeridian must be split first — their
    * lon bbox would cover the world — which is first-class since
    * round 17: run [[splitAntimeridianRings]] and key by (id, part).
    * For holes use [[pointsInMultipolygons]] (first-class since
    * round 16). Output: (point_id, poly_id).
    */
  private[graft] def pointsInPolygons(points: DataFrame, polys: DataFrame,
      pId: String, pLon: String, pLat: String,
      gId: String, ringCol: String, cellDeg: Double = 0.5): DataFrame = {
    require(cellDeg > 0, "cellDeg > 0")
    val cx = (lon: Column) => floor(lon / cellDeg).cast("long")
    val cy = (lat: Column) => floor(lat / cellDeg).cast("long")
    val pts = points.select(col(pId).as("__pid"), col(pLon).as("__plon"),
        col(pLat).as("__plat"))
      .withColumn("__cx", cx(col("__plon")))
      .withColumn("__cy", cy(col("__plat")))
    val lons = transform(col(ringCol), q => q.getField("lon"))
    val lats = transform(col(ringCol), q => q.getField("lat"))
    val pg = polys.select(col(gId).as("__gid"), col(ringCol).as("__ring"),
        array_min(lons).as("__lo1"), array_max(lons).as("__lo2"),
        array_min(lats).as("__la1"), array_max(lats).as("__la2"))
      .withColumn("__cx", explode(sequence(cx(col("__lo1")),
        cx(col("__lo2")))))
      .withColumn("__cy", explode(sequence(cy(col("__la1")),
        cy(col("__la2")))))
    pts.join(pg, Seq("__cx", "__cy"))
      // bbox pre-filter: cheap scalar compare kills most candidates
      // before the per-vertex ray cast
      .filter(col("__plon") >= col("__lo1") && col("__plon") <= col("__lo2") &&
        col("__plat") >= col("__la1") && col("__plat") <= col("__la2"))
      // exact verify: the graft_point_in_ring KERNEL (codegen'd ring
      // loop, bit-identical to pointInRing) — was a Scala UDF through
      // round 15, which evaluated interpreted per candidate and broke
      // the codegen span at exactly the hot per-row chain
      .filter(graft.functions.GeoFunctions.point_in_ring(
        col("__plon"), col("__plat"), col("__ring")))
      .select(col("__pid").as("point_id"), col("__gid").as("poly_id"))
      .distinct() // a pair can meet in several cells of the bbox cover
  }

  /** Spatial containment with automatic WHALE-POLYGON handling — the
    * two-pass form the [[pointsInPolygons]] scaladoc prescribed as a
    * caller recipe through round 15 ("split such outliers into their
    * own coarser-grid pass"), now an operator. The hazard: the fine
    * grid that prunes well for building-sized polygons makes a
    * continent-sized one emit bbox-area/cellDeg² key rows — at
    * cellDeg 0.05 a 60°×60° polygon is 1.44M exploded rows PER
    * GEOMETRY, linear fan-out cost that dwarfs its verify work.
    * Split: polygons whose bbox covers more than `maxCellsPerPoly`
    * fine cells run in their own pass on a COARSER grid sized from
    * the largest whale (cell = maxSide / √maxCellsPerPoly, so every
    * whale emits ≤ ~maxCellsPerPoly keys); everything else keeps the
    * fine grid. The two passes partition the polygon set, so the
    * union cannot duplicate a pair. Costs two tiny plan-time actions
    * (a 1-row max aggregate over the polygon relation — bounded
    * driver state); when no polygon exceeds the threshold the second
    * pass never runs and the plan is exactly [[pointsInPolygons]].
    * Same output contract: (point_id, poly_id).
    */
  private[graft] def pointsInPolygonsAuto(points: DataFrame, polys: DataFrame,
      pId: String, pLon: String, pLat: String,
      gId: String, ringCol: String, cellDeg: Double = 0.5,
      maxCellsPerPoly: Long = 4096L): DataFrame = {
    require(maxCellsPerPoly >= 4, "maxCellsPerPoly >= 4")
    val lons = transform(col(ringCol), q => q.getField("lon"))
    val lats = transform(col(ringCol), q => q.getField("lat"))
    def cells(deg: Double): Column = {
      val nx = floor(array_max(lons) / deg) - floor(array_min(lons) / deg) + 1
      val ny = floor(array_max(lats) / deg) - floor(array_min(lats) / deg) + 1
      (nx * ny).cast("long")
    }
    val sized = polys.withColumn("__ncells", cells(cellDeg))
    val small = sized.filter(col("__ncells") <= maxCellsPerPoly)
      .drop("__ncells")
    val whales = sized.filter(col("__ncells") > maxCellsPerPoly)
      .drop("__ncells")
    val fine = pointsInPolygons(points, small, pId, pLon, pLat,
      gId, ringCol, cellDeg)
    // 1-row driver aggregate: the largest whale bbox side, degrees
    val side = whales.agg(max(greatest(
      array_max(lons) - array_min(lons),
      array_max(lats) - array_min(lats))).as("s")).head()
    if (side.isNullAt(0)) fine
    else {
      val coarseDeg = math.max(cellDeg,
        side.getDouble(0) / math.sqrt(maxCellsPerPoly.toDouble))
      fine.unionByName(pointsInPolygons(points, whales, pId, pLon, pLat,
        gId, ringCol, coarseDeg))
    }
  }

  /** MULTIPOLYGON containment join — [[pointsInPolygons]] with holes
    * (and island-in-hole nesting) resolved INTERNALLY, the first-class
    * form of what the round-15 scaladoc left as a caller composition
    * ("inside(outer) ∧ ¬inside(any inner) — two calls and an
    * anti-join"). Input geometry is
    * [[RelationAssembly.assembleMultipolygons]]' exact output shape:
    * (`gId`, `outersCol`, `innersCol`) with each ring a closed
    * ARRAY<STRUCT<lon, lat>>. Semantics: EVEN-ODD over the whole ring
    * set — a point is inside iff an odd number of rings (outer or
    * inner) contain it, which on valid multipolygon nesting (rings
    * don't cross; inners sit inside outers) equals inside-some-outer ∧
    * not-inside-its-holes AND handles arbitrarily deep
    * island-in-hole-in-island nesting for free. Plan shape: each RING
    * keys the grid independently (a hole's small bbox prunes its own
    * candidates — the hole never rides its outer's fan-out), one
    * grouped count per candidate (point, relation), parity filter.
    * Output: (point_id, poly_id).
    */
  private[graft] def pointsInMultipolygons(points: DataFrame, mpolys: DataFrame,
      pId: String, pLon: String, pLat: String,
      gId: String, outersCol: String, innersCol: String,
      cellDeg: Double = 0.5): DataFrame = {
    val rings = mpolys.select(col(gId).as("__mid"),
        posexplode(concat(col(outersCol), col(innersCol)))
          .as(Seq("__ridx", "__mring")))
      .select(struct(col("__mid"), col("__ridx")).as("__rkey"),
        col("__mring"))
    pointsInPolygons(points, rings, pId, pLon, pLat,
        "__rkey", "__mring", cellDeg)
      .groupBy(col("point_id"), col("poly_id.__mid").as("poly_id"))
      .agg(count(lit(1)).as("__nrings"))
      .filter(pmod(col("__nrings"), lit(2L)) === 1)
      .select(col("point_id"), col("poly_id"))
  }

  /** Point-to-POLYLINE distance join — "which points lie within R
    * meters of which ways/roads", the primitive the family lacked
    * between [[withinDistance]] (point-point) and [[pointsInPolygons]]
    * (point-in-area). Input lines carry a path ARRAY<STRUCT<lon, lat>>
    * (open or closed — [[WayAssembly.assembleRings]]' output shape);
    * output is (point_id, line_id, dist_m) with dist_m the MINIMUM
    * over the line's segments, one row per line within radius.
    *
    * Candidates: each SEGMENT emits every `cellDeg` grid cell its bbox
    * expanded by the radius margin covers (lat margin R/110574°; lon
    * margin R/(111320·cos φ_far) sized at the segment's far-from-
    * equator latitude, so it dominates the verify's per-segment
    * latitude reference); each point emits its own cell. A point
    * within R of a segment therefore lands in a covered cell — the
    * grid is pure pruning. The min-aggregate over candidate segments
    * is EXACT for every surviving row: any segment within R is a
    * candidate by construction, so the candidate min equals the
    * global min whenever that min clears the radius filter.
    *
    * Verify metric: planar clamp-projection distance on the local
    * equirectangular plane at the segment's mean latitude —
    * `t = clamp(p·v / v·v, 0, 1); dist = |p − t·v|` with per-degree
    * meters (111320·cos φ̄, 110574). Built-ins only, operation-for-
    * operation reproducible in a SQL oracle; relative error vs the
    * geodesic is O((R/R_earth)²) + O(Δφ·tanφ̄) — the road-radius
    * regime this join exists for. Lines crossing the antimeridian
    * must be split upstream (or use [[pointsNearLinesSafe]], which
    * splits internally). POLAR-COMPLETE since r18: the lon margin
    * still clamps its cosine at 86°, but segments the clamp could
    * under-cover (mean |lat| > 86° is the only missable regime — see
    * the in-body proof sketch) additionally route through an exact
    * lat-band pass, and segments within 0.05° of a pole (where the
    * pass's own cosine cap would bind) emit the band's full cell
    * circle (r19), so no pair is missed at ANY latitude; the
    * `pnl_polar_exact_<n>.polar_segments` observe() metric (name
    * unique per call) counts the segments that took the polar pass.
    * A degenerate zero-length segment verifies as point-to-point
    * (t = 0).
    *
    * Scale shape: one explode per segment (linear in total vertices),
    * bbox-cover explode bounded by segment length / cellDeg, one
    * shuffle on the cell key, partial-aggregable min per (point,
    * line). A whale line (a 5000 km highway among city streets)
    * sharding across its cells is the fan-out that DISTRIBUTES its
    * verify work — the pip1m lesson; size `cellDeg` near the median
    * segment extent plus margin.
    */
  private[graft] def pointsNearLines(points: DataFrame, lines: DataFrame,
      pId: String, pLon: String, pLat: String,
      lId: String, pathCol: String,
      radiusM: Double, cellDeg: Double = 0.5): DataFrame =
    pnlCandidates(points, lines, pId, pLon, pLat, lId, pathCol,
        radiusM, cellDeg, carry = Nil)
      .groupBy(col("__pid"), col("__lid"))
      .agg(min(col("__d")).as("dist_m"))
      .filter(col("dist_m") <= radiusM)
      .select(col("__pid").as("point_id"), col("__lid").as("line_id"),
        col("dist_m"))

  /** The shared candidate relation behind [[pointsNearLines]] and
    * [[pointsNearLinesStream]]: fine-grid pass UNION polar exact pass,
    * one row per surviving (point, segment) candidate with the planar
    * clamp-projection distance in `__d` — NOT yet min-aggregated, so a
    * (point, line) pair can repeat (several segments; both passes).
    * `carry` names extra point-side columns to thread through (the
    * streaming twin carries its event-time column so the watermark tag
    * survives to the windowed aggregate).
    */
  private def pnlCandidates(points: DataFrame, lines: DataFrame,
      pId: String, pLon: String, pLat: String,
      lId: String, pathCol: String,
      radiusM: Double, cellDeg: Double, carry: Seq[String]): DataFrame = {
    require(radiusM > 0 && radiusM <= 1000000.0,
      "radiusM in (0, 1000 km]")
    require(cellDeg > 0, "cellDeg > 0")
    val cx = (lon: Column) => floor(lon / cellDeg).cast("long")
    val cy = (lat: Column) => floor(lat / cellDeg).cast("long")
    val pts = points.select(col(pId).as("__pid") +: col(pLon).as("__plon") +:
        col(pLat).as("__plat") +: carry.map(col): _*)
      .withColumn("__cx", cx(col("__plon")))
      .withColumn("__cy", cy(col("__plat")))
    // segments: consecutive vertex pairs of the path
    val p = col(pathCol)
    val segs = lines.select(col(lId).as("__lid"),
        posexplode(arrays_zip(
          slice(p, lit(1), greatest(size(p) - 1, lit(0))),
          slice(p, lit(2), greatest(size(p) - 1, lit(0)))))
          .as(Seq("__sidx", "__seg")))
      .select(col("__lid"),
        col("__seg").getField("0").getField("lon").as("__alon"),
        col("__seg").getField("0").getField("lat").as("__alat"),
        col("__seg").getField("1").getField("lon").as("__blon"),
        col("__seg").getField("1").getField("lat").as("__blat"))
    val latMargin = radiusM / MPerLatDeg
    val farLat = greatest(abs(col("__alat")), abs(col("__blat")))
    val farAbs = least(lit(86.0), farLat + latMargin)
    val lonMargin = lit(radiusM) / (lit(MPerLonDegEq) * cos(radians(farAbs)))
    // the clamp above caps the lon margin's cosine at 86° — poleward
    // of that the fine grid's candidate range under-covers, and the
    // POLAR EXACT PASS below picks those segments up instead (r18 —
    // the former "pairs may be MISSED" contract is retired). The
    // observe now counts segments ROUTED to the polar pass; its name
    // is unique per call (r17 ADVICE: two pointsNearLines composed
    // into one executed plan collided on the fixed observation name).
    val obsName = s"pnl_polar_exact_${pnlObsId.getAndIncrement()}"
    val segsGuarded = segs.observe(obsName,
      sum(when(greatest(abs(col("__alat")), abs(col("__blat"))) +
        latMargin > 86.0, 1L).otherwise(0L)).as("polar_segments"))
    val cand = segsGuarded
      .withColumn("__cx", explode(sequence(
        cx(least(col("__alon"), col("__blon")) - lonMargin),
        cx(greatest(col("__alon"), col("__blon")) + lonMargin))))
      .withColumn("__cy", explode(sequence(
        cy(least(col("__alat"), col("__blat")) - latMargin),
        cy(greatest(col("__alat"), col("__blat")) + latMargin))))
      .join(pts, Seq("__cx", "__cy"))
    // planar clamp-projection verify — every operation mirrors the
    // SQL oracle exactly (multiplication, not pow; same association)
    val kx = lit(MPerLonDegEq) *
      cos(radians((col("__alat") + col("__blat")) / 2))
    val ky = lit(MPerLatDeg)
    val bx = (col("__blon") - col("__alon")) * kx
    val by = (col("__blat") - col("__alat")) * ky
    val px = (col("__plon") - col("__alon")) * kx
    val py = (col("__plat") - col("__alat")) * ky
    val den = bx * bx + by * by
    val t = when(den === 0, lit(0.0))
      .otherwise(greatest(lit(0.0), least(lit(1.0),
        (px * bx + py * by) / den)))
    val dist = sqrt((px - t * bx) * (px - t * bx) +
      (py - t * by) * (py - t * by))
    // POLAR EXACT PASS (r18): the fine grid is exact only while the
    // clamp doesn't bind — a missed pair needs the segment's MEAN
    // |lat| > 86° (else cos(φ̄) ≥ cos 86° and the clamped margin still
    // covers), which forces the segment's min |lat| > 82° and the
    // matching point's |lat| > 82° − latMargin. The pass keys
    // (lat band, lon cell) with the [[withinDistance]] per-band
    // tiling discipline: each band's lon cell width is the FULL true
    // margin at the band's far latitude (≥ any pair's needed Δlon
    // there, so ±0 neighbor cells — segments expand their own range
    // by a per-segment margin instead), n = ⌊360/w⌋ cells tile the
    // circle exactly and pmod wraps indices, and within ~0.05° of the
    // pole (where the 89.95° cosine cap would bind and the capped
    // per-segment margin could under-cover — r18 ADVICE) segments
    // emit the FULL cell circle, so the cap can never cost a pair.
    // A lat-band-only key would be
    // QUADRATIC in the polar population — fine for real corpora
    // (sparse poleward of 82°) but a measured scale killer on a
    // dense-polar corpus (the planted catalog query at 100× ground
    // for >15 min band-only; celled, it runs with the catalog).
    // Verify is the SAME distance expression; the union can
    // duplicate a (point, line) candidate the fine pass also saw;
    // the min-aggregate absorbs it exactly.
    def polarN(band: Column): Column = {
      val far = least(lit(89.95),
        greatest(abs(band * cellDeg), abs((band + 1) * cellDeg)) +
          latMargin)
      greatest(lit(1L), floor(lit(360.0) /
        greatest(lit(cellDeg),
          lit(radiusM / MPerLonDegEq) / cos(radians(far))))
        .cast("long"))
    }
    def polarCellW(band: Column): Column = lit(360.0) / polarN(band)
    val polarSegs = segs.filter(farLat + latMargin > 86.0)
    val polarPts = pts.drop("__cx")
      .filter(abs(col("__plat")) > 82.0 - latMargin - cellDeg)
      .withColumn("__px", pmod(
        floor((col("__plon") + 180.0) / polarCellW(col("__cy")))
          .cast("long"), polarN(col("__cy"))))
    val polarCand = polarSegs
      .withColumn("__cy", explode(sequence(
        cy(least(col("__alat"), col("__blat")) - latMargin),
        cy(greatest(col("__alat"), col("__blat")) + latMargin))))
      .withColumn("__px", explode {
        val n = polarN(col("__cy"))
        val w = polarCellW(col("__cy"))
        // per-SEGMENT margin at ITS far latitude (≥ the verify's
        // cos(φ̄seg) requirement since φ̄seg ≤ farLat). The 89.95°
        // cosine cap can make mSeg UNDER-cover a segment whose mean
        // |lat| exceeds 89.95° (needed Δlon = R/(111320·cos φ̄seg)
        // blows past the capped value) — those segments emit the FULL
        // cell circle instead (r18 ADVICE: segment (0, 89.985)–
        // (0, 89.995) vs point (30, 89.99) at R=1000 m was missed by
        // both passes). Cap-binding segments are within 0.05° of the
        // pole, so the full circle there is O(n) rows per segment on
        // a tiny band — negligible, and it makes the "no pair missed
        // at ANY latitude" contract unconditional.
        val mSeg = lit(radiusM / MPerLonDegEq) /
          cos(radians(least(lit(89.95), farLat + latMargin)))
        val lo = floor((least(col("__alon"), col("__blon")) - mSeg +
          180.0) / w).cast("long")
        val hi = floor((greatest(col("__alon"), col("__blon")) + mSeg +
          180.0) / w).cast("long")
        when(hi - lo + 1 >= n || farLat + latMargin > 89.95,
            sequence(lit(0L), n - 1))
          .otherwise(array_distinct(transform(sequence(lo, hi),
            c => pmod(c, n))))
      })
      .join(polarPts, Seq("__cy", "__px"))
    val outCols = col("__pid") +: col("__lid") +: col("__d") +:
      carry.map(col)
    val fineD = cand.withColumn("__d", dist).select(outCols: _*)
    val polarD = polarCand.withColumn("__d", dist).select(outCols: _*)
    fineD.unionByName(polarD)
  }

  /** Watermarked event-time twin of [[pointsNearLines]] (r19 — the
    * verdict's bounded-state gap): points STREAM against a static line
    * set, aggregated per tumbling event-time window, so state is
    * bounded by the watermark horizon instead of growing with every
    * (point, line) pair ever seen. Output one row per
    * (window, point_id, line_id) with the min distance over that
    * window's points — append-mode-compatible (rows finalize when the
    * watermark passes the window end, and the state store evicts
    * them), unlike the r18 update-mode form whose min-forever state is
    * unbounded by design (fine for geofence sets, not infinite
    * streams).
    *
    * Loss accounting, the [[graft.streaming.EventStream]] discipline:
    * the `pnl_stream_candidates` observe() metric counts candidate
    * rows ARRIVING at the aggregate each micro-batch (late ones
    * included — observe sits upstream of the watermark filter), and
    * the aggregate's own `numRowsDroppedByWatermark` (on
    * `StreamingQueryProgress.stateOperators`) counts the late ones it
    * refused; arrivals − drops = rows accounted in some emitted
    * window. A fixed observe name is safe here (unlike the batch
    * op's per-call-unique polar counter) because one streaming query
    * owns its whole plan; the inner candidate pass still gets its
    * unique polar-segments name.
    *
    * `points` must carry the event-time column `tsCol`; the watermark
    * is applied HERE (before the stream-static joins) so the tag
    * survives through both candidate passes to the windowed aggregate.
    * Both joins are stream-static equi-joins on cell keys — stateless,
    * so the windowed min is the query's ONLY stateful operator.
    */
  def pointsNearLinesStream(points: DataFrame, lines: DataFrame,
      pId: String, pLon: String, pLat: String, tsCol: String,
      lId: String, pathCol: String,
      radiusM: Double, cellDeg: Double = 0.5,
      windowSize: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    pnlCandidates(points.withWatermark(tsCol, watermarkDelay), lines,
        pId, pLon, pLat, lId, pathCol, radiusM, cellDeg,
        carry = Seq(tsCol))
      .observe("pnl_stream_candidates",
        count(lit(1L)).as("candidate_rows"))
      .groupBy(window(col(tsCol), windowSize),
        col("__pid"), col("__lid"))
      .agg(min(col("__d")).as("dist_m"))
      .filter(col("dist_m") <= radiusM)
      .select(col("window"), col("__pid").as("point_id"),
        col("__lid").as("line_id"), col("dist_m"))

  // per-call suffix for pointsNearLines' observation name — two calls
  // composed into one executed plan must not collide (r17 ADVICE)
  private val pnlObsId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Polyline-polyline CROSSING join — where do roads cross roads
    * (bridge/junction detection), the line-line cell of the pairing
    * matrix. Emits one row per STRICTLY crossing segment pair with
    * the crossing point: (id_a, seg_a, id_b, seg_b, x, y). Strict
    * crossing = the classic four-orientation test (both sign products
    * negative); touching endpoints and collinear overlap are out of
    * contract, same convention as [[polygonsIntersect]]'s kernel.
    * Everything here is built-in Column arithmetic — the orientation
    * products and the parametric crossing point
    * (`t = cross(a1→b1, b1→b2) / cross(a1→a2, b1→b2)`,
    * `p = a1 + t·(a2−a1)`) fuse into the enclosing whole-stage span;
    * no kernel is needed because the verify is O(1) per candidate
    * pair, not a loop. Candidates: each segment keys its bbox's
    * `cellDeg` cell cover (no margin — crossing segments' bboxes
    * overlap, and overlapping bboxes share a cell), non-strict bbox
    * overlap pre-filter, distinct on the segment-pair key (a pair can
    * meet in several cells). `selfPairs = true` treats both relations
    * as one road set and keeps each unordered LINE pair once
    * (id_a < id_b — a line's self-crossings are not emitted).
    */
  def polylineCrossings(a: DataFrame, b: DataFrame,
      aId: String, aPath: String, bId: String, bPath: String,
      cellDeg: Double = 0.5, selfPairs: Boolean = false): DataFrame = {
    require(cellDeg > 0, "cellDeg > 0")
    def segs(df: DataFrame, id: String, path: String, tag: String)
        : DataFrame = {
      val p = col(path)
      df.select(col(id).as(s"__i$tag"),
          posexplode(arrays_zip(
            slice(p, lit(1), greatest(size(p) - 1, lit(0))),
            slice(p, lit(2), greatest(size(p) - 1, lit(0)))))
            .as(Seq(s"__s$tag", "__seg")))
        .select(col(s"__i$tag"), col(s"__s$tag"),
          col("__seg").getField("0").getField("lon").as(s"__x1$tag"),
          col("__seg").getField("0").getField("lat").as(s"__y1$tag"),
          col("__seg").getField("1").getField("lon").as(s"__x2$tag"),
          col("__seg").getField("1").getField("lat").as(s"__y2$tag"))
        .withColumn("__cx", explode(sequence(
          floor(least(col(s"__x1$tag"), col(s"__x2$tag")) / cellDeg)
            .cast("long"),
          floor(greatest(col(s"__x1$tag"), col(s"__x2$tag")) / cellDeg)
            .cast("long"))))
        .withColumn("__cy", explode(sequence(
          floor(least(col(s"__y1$tag"), col(s"__y2$tag")) / cellDeg)
            .cast("long"),
          floor(greatest(col(s"__y1$tag"), col(s"__y2$tag")) / cellDeg)
            .cast("long"))))
    }
    def cr(ax: Column, ay: Column, bx: Column, by: Column,
        cx: Column, cy: Column): Column =
      (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    val ca = segs(a, aId, aPath, "a")
    val cb = segs(b, bId, bPath, "b")
    val o1 = cr(col("__x1a"), col("__y1a"), col("__x2a"), col("__y2a"),
      col("__x1b"), col("__y1b"))
    val o2 = cr(col("__x1a"), col("__y1a"), col("__x2a"), col("__y2a"),
      col("__x2b"), col("__y2b"))
    val o3 = cr(col("__x1b"), col("__y1b"), col("__x2b"), col("__y2b"),
      col("__x1a"), col("__y1a"))
    val o4 = cr(col("__x1b"), col("__y1b"), col("__x2b"), col("__y2b"),
      col("__x2a"), col("__y2a"))
    val den = (col("__x2a") - col("__x1a")) * (col("__y2b") - col("__y1b")) -
      (col("__y2a") - col("__y1a")) * (col("__x2b") - col("__x1b"))
    // t = cross(b1 − a1, dB) / cross(dA, dB), written term-for-term the
    // way the SQL oracle mirrors it
    val t = ((col("__x1b") - col("__x1a")) * (col("__y2b") - col("__y1b")) -
      (col("__y1b") - col("__y1a")) * (col("__x2b") - col("__x1b"))) / den
    ca.join(cb, Seq("__cx", "__cy"))
      .filter(least(col("__x1a"), col("__x2a")) <=
          greatest(col("__x1b"), col("__x2b")) &&
        least(col("__x1b"), col("__x2b")) <=
          greatest(col("__x1a"), col("__x2a")) &&
        least(col("__y1a"), col("__y2a")) <=
          greatest(col("__y1b"), col("__y2b")) &&
        least(col("__y1b"), col("__y2b")) <=
          greatest(col("__y1a"), col("__y2a")))
      .filter(if (selfPairs) col("__ia") < col("__ib") else lit(true))
      .filter(o1 * o2 < 0 && o3 * o4 < 0)
      .withColumn("x", col("__x1a") + t * (col("__x2a") - col("__x1a")))
      .withColumn("y", col("__y1a") + t * (col("__y2a") - col("__y1a")))
      .select(col("__ia").as("id_a"), col("__sa").as("seg_a"),
        col("__ib").as("id_b"), col("__sb").as("seg_b"),
        col("x"), col("y"))
      .distinct()
  }

  /** Polygon-polygon INTERSECTION join — the last cell of the
    * family's pairing matrix (point-point [[withinDistance]],
    * point-line [[pointsNearLines]], point-polygon
    * [[pointsInPolygons]], now polygon-polygon): (a, b) pairs whose
    * enclosed regions overlap. Candidates: BOTH sides explode their
    * bbox's `cellDeg` cell cover and equi-join on the cell — two
    * overlapping regions have overlapping bboxes, and overlapping
    * bboxes always share a grid cell, so the cover is complete.
    * A strict bbox-overlap pre-filter kills most candidates before
    * the O(edges·edges) verify; the verify is the
    * `graft_rings_intersect` kernel ([[graft.functions.RingsIntersect]]
    * — strict edge crossings, containment fallback via the half-open
    * ray cast; boundary CONTACT is out of contract, same discipline
    * as [[pointsInPolygons]]: nudge tangent lattices upstream, as the
    * catalog query's half-step offset does). Whale polygons shard
    * across their cells exactly like the containment join's
    * (measured there); compose with the [[pointsInPolygonsAuto]]
    * split upstream if a continent meets a building-sized `cellDeg`.
    * `selfPairs = true` treats both relations as one and emits each
    * unordered pair once (id_a < id_b, the [[withinDistance]] rule).
    * Dateline-straddling rings: run [[splitAntimeridianRings]] first
    * and key by (id, part), same as the containment joins.
    * Output: (id_a, id_b).
    */
  private[graft] def polygonsIntersect(a: DataFrame, b: DataFrame,
      aId: String, aRing: String, bId: String, bRing: String,
      cellDeg: Double = 0.5, selfPairs: Boolean = false): DataFrame = {
    require(cellDeg > 0, "cellDeg > 0")
    def cover(df: DataFrame, id: String, ring: String, tag: String)
        : DataFrame = {
      val lons = transform(col(ring), q => q.getField("lon"))
      val lats = transform(col(ring), q => q.getField("lat"))
      df.select(col(id).as(s"__i$tag"), col(ring).as(s"__r$tag"),
          array_min(lons).as(s"__lo1$tag"), array_max(lons).as(s"__lo2$tag"),
          array_min(lats).as(s"__la1$tag"), array_max(lats).as(s"__la2$tag"))
        .withColumn("__cx", explode(sequence(
          floor(col(s"__lo1$tag") / cellDeg).cast("long"),
          floor(col(s"__lo2$tag") / cellDeg).cast("long"))))
        .withColumn("__cy", explode(sequence(
          floor(col(s"__la1$tag") / cellDeg).cast("long"),
          floor(col(s"__la2$tag") / cellDeg).cast("long"))))
    }
    cover(a, aId, aRing, "a").join(cover(b, bId, bRing, "b"),
        Seq("__cx", "__cy"))
      // strict bbox overlap: cheap scalar kill before the edge loops
      .filter(col("__lo1a") < col("__lo2b") && col("__lo1b") < col("__lo2a") &&
        col("__la1a") < col("__la2b") && col("__la1b") < col("__la2a"))
      .filter(if (selfPairs) col("__ia") < col("__ib") else lit(true))
      .filter(graft.functions.GeoFunctions.rings_intersect(
        col("__ra"), col("__rb")))
      .select(col("__ia").as("id_a"), col("__ib").as("id_b"))
      .distinct() // a pair can meet in several shared cells
  }

  /** [[polygonsIntersect]] with automatic WHALE handling on BOTH
    * sides — the [[pointsInPolygonsAuto]] discipline applied to the
    * polygon-polygon join (the round-16 record left it as a scaladoc
    * pointer). Polygons whose bbox covers more than `maxCellsPerPoly`
    * fine cells (on either relation) run in a COARSE-grid pass sized
    * from the largest whale across both relations
    * (cell = maxSide / √cap); the three passes partition the pair
    * space exactly — fine: small_a × small_b; coarse: whale_a × all_b
    * plus small_a × whale_b — so the union cannot duplicate a pair
    * and `selfPairs` composes unchanged. Two 1-row plan-time
    * aggregates (bounded driver state); with no whales the plan is
    * exactly single-pass [[polygonsIntersect]].
    */
  private[graft] def polygonsIntersectAuto(a: DataFrame, b: DataFrame,
      aId: String, aRing: String, bId: String, bRing: String,
      cellDeg: Double = 0.5, selfPairs: Boolean = false,
      maxCellsPerPoly: Long = 4096L): DataFrame = {
    require(maxCellsPerPoly >= 4, "maxCellsPerPoly >= 4")
    def parts(df: DataFrame, ring: String)
        : (DataFrame, DataFrame, DataFrame) = {
      val lons = transform(col(ring), q => q.getField("lon"))
      val lats = transform(col(ring), q => q.getField("lat"))
      val nc = ((floor(array_max(lons) / cellDeg) -
        floor(array_min(lons) / cellDeg) + 1) *
        (floor(array_max(lats) / cellDeg) -
          floor(array_min(lats) / cellDeg) + 1)).cast("long")
      val sized = df.withColumn("__ncells", nc)
      (sized.filter(col("__ncells") <= maxCellsPerPoly).drop("__ncells"),
        sized.filter(col("__ncells") > maxCellsPerPoly).drop("__ncells"),
        sized.filter(col("__ncells") > maxCellsPerPoly)
          .agg(max(greatest(array_max(lons) - array_min(lons),
            array_max(lats) - array_min(lats))).as("s")))
    }
    val (smallA, whaleA, sideA) = parts(a, aRing)
    val (smallB, whaleB, sideB) = parts(b, bRing)
    val fine = polygonsIntersect(smallA, smallB, aId, aRing, bId, bRing,
      cellDeg, selfPairs)
    val sA = sideA.head(); val sB = sideB.head()
    val maxSide = Seq(sA, sB).filterNot(_.isNullAt(0)).map(_.getDouble(0))
    if (maxSide.isEmpty) fine
    else {
      val coarseDeg = math.max(cellDeg,
        maxSide.max / math.sqrt(maxCellsPerPoly.toDouble))
      fine
        .unionByName(polygonsIntersect(whaleA, b, aId, aRing, bId, bRing,
          coarseDeg, selfPairs))
        .unionByName(polygonsIntersect(smallA, whaleB, aId, aRing,
          bId, bRing, coarseDeg, selfPairs))
    }
  }

  /** Line-polygon INTERSECTION join — which polylines touch which
    * polygon REGIONS (routes crossing a zone, roads entering an
    * area): the remaining nuance of the pairing matrix, built by
    * COMPOSITION from two members that already carry their own
    * oracles. A path intersects a simple ring's region iff (i) some
    * path segment strictly crosses some ring edge
    * ([[polylineCrossings]] against the ring read as a closed path),
    * or (ii) no edges cross and the path lies entirely inside —
    * decided by its FIRST vertex ([[pointsInPolygons]]). A path whose
    * region-of-travel fully CONTAINS the polygon without touching it
    * (e.g. a loop drawn around the zone) correctly does NOT match:
    * the path itself never enters the region. Same boundary-contact
    * convention as the components. Output: (line_id, poly_id).
    */
  def linesIntersectPolygons(lines: DataFrame, polys: DataFrame,
      lId: String, pathCol: String, gId: String, ringCol: String,
      cellDeg: Double = 0.5): DataFrame = {
    val crossed = polylineCrossings(lines,
        polys.select(col(gId).as("__pg"), col(ringCol).as("__pr")),
        lId, pathCol, "__pg", "__pr", cellDeg)
      .select(col("id_a").as("line_id"), col("id_b").as("poly_id"))
    val firstPts = lines.select(col(lId).as("__fl"),
      element_at(col(pathCol), 1).getField("lon").as("__flon"),
      element_at(col(pathCol), 1).getField("lat").as("__flat"))
    val inside = pointsInPolygons(firstPts, polys,
        "__fl", "__flon", "__flat", gId, ringCol, cellDeg)
      .select(col("point_id").as("line_id"), col("poly_id"))
    crossed.unionByName(inside).distinct()
  }

  /** Sutherland–Hodgman clip of an UNWRAPPED closed ring (lons in
    * [0, 360), the antimeridian at lon = 180) against one half-plane:
    * `west` keeps lon ≤ 180, else lon ≥ 180. Per directed edge the
    * classic four-case emission (in→in: [e]; in→out: [X]; out→in:
    * [X, e]; out→out: []) concatenates IN ORDER into the clipped
    * boundary — per-edge independent, so the whole clip is one
    * `transform` + `flatten`, no sequential fold. Against a convex
    * half-plane the result of a simple subject ring is a valid
    * boundary sequence (possibly with degenerate connector edges
    * along lon = 180 for multi-lobed subjects — measure-zero for the
    * ray-cast parity the containment joins use). Empty (< 3 vertices)
    * when the ring misses the half-plane entirely.
    */
  private def clipRingAt180(u: Column, west: Boolean): Column = {
    val n1 = greatest(size(u) - 1, lit(0))
    val edges = zip_with(slice(u, lit(1), n1), slice(u, lit(2), n1),
      (a, b) => struct(a.as("s"), b.as("e")))
    def inside(p: Column): Column =
      if (west) p.getField("lon") <= 180.0 else p.getField("lon") >= 180.0
    def xpt(sp: Column, ep: Column): Column = struct(
      lit(180.0).as("lon"),
      (sp.getField("lat") + (lit(180.0) - sp.getField("lon")) /
        (ep.getField("lon") - sp.getField("lon")) *
        (ep.getField("lat") - sp.getField("lat"))).as("lat"))
    val emitted = flatten(transform(edges, ed => {
      val sp = ed.getField("s"); val ep = ed.getField("e")
      val asPt = (p: Column) => struct(p.getField("lon").as("lon"),
        p.getField("lat").as("lat"))
      val none = slice(array(asPt(sp)), 1, 0)
      when(inside(sp) && inside(ep), array(asPt(ep)))
        .when(inside(sp) && !inside(ep), array(xpt(sp, ep)))
        .when(!inside(sp) && inside(ep), array(xpt(sp, ep), asPt(ep)))
        .otherwise(none)
    }))
    when(size(emitted) >= 3, concat(emitted, slice(emitted, 1, 1)))
      .otherwise(slice(emitted, 1, 0))
  }

  /** First-class ANTIMERIDIAN SPLIT for polygon rings — the operator
    * that retires the "geometries crossing the antimeridian must be
    * split upstream" caveat the grid joins carried through round 16
    * (a dateline-straddling country polygon is REAL data in the
    * reference domain; `filter.py` handles whatever osmium feeds it).
    * A ring STRADDLES iff some edge jumps |Δlon| > 180 (the wrapped
    * representation of a short dateline-crossing edge). Straddling
    * rings are unwrapped (lon < 0 → lon + 360, valid for rings
    * spanning < 180° of longitude — any real administrative area;
    * wider rings are out of contract, same as every grid join here),
    * clipped at lon = 180 into a WEST piece (kept as-is, lons in
    * (90, 180]) and an EAST piece (wrapped back by −360, lons in
    * [−180, −90)), each a closed ring the cell grids accept.
    * Non-straddling rings pass through UNCHANGED as their own single
    * part. Output: every input column, plus `part` (0 = west /
    * pass-through, 1 = east), with `ringCol` replaced by the piece —
    * key downstream joins by (id, part) (e.g.
    * `struct(col(id), col("part"))`) and aggregate matches back to
    * `id`; the pieces are interior-disjoint, so a point matches at
    * most one part and containment parity is preserved exactly.
    *
    * Scale shape: pure per-row Column arithmetic (transform/flatten
    * over the ring's own vertices) — NO shuffle, no explode beyond
    * the ≤ 2 output parts, fuses into the enclosing stage. The clip
    * is planar in lon/lat, the same edge model as the ray-cast and
    * crossing kernels it feeds.
    */
  def splitAntimeridianRings(polys: DataFrame, idCol: String,
      ringCol: String): DataFrame = {
    val r = col(ringCol)
    val n1 = greatest(size(r) - 1, lit(0))
    val edges = zip_with(slice(r, lit(1), n1), slice(r, lit(2), n1),
      (a, b) => struct(a.as("s"), b.as("e")))
    val straddles = exists(edges, ed =>
      abs(ed.getField("e").getField("lon") -
        ed.getField("s").getField("lon")) > 180.0)
    val unwrapped = transform(r, p => struct(
      when(p.getField("lon") < 0, p.getField("lon") + 360.0)
        .otherwise(p.getField("lon")).as("lon"),
      p.getField("lat").as("lat")))
    val west = clipRingAt180(unwrapped, west = true)
    val east = transform(clipRingAt180(unwrapped, west = false),
      p => struct((p.getField("lon") - 360.0).as("lon"),
        p.getField("lat").as("lat")))
    val asPiece = (part: Int, piece: Column) =>
      struct(lit(part).as("part"), piece.as("piece"))
    val passThrough = array(asPiece(0,
      transform(r, p => struct(p.getField("lon").as("lon"),
        p.getField("lat").as("lat")))))
    val clipped = filter(array(asPiece(0, west), asPiece(1, east)),
      x => size(x.getField("piece")) >= 4)
    // degenerate-sliver guard (r17 ADVICE): a straddling ring whose
    // BOTH clipped pieces fall under 4 vertices (a sliver touching
    // lon 180) must not vanish from the relation — fall back to
    // pass-through as part 0 so downstream joins still see the row
    // (its wrapped bbox over-covers, costing candidates, never
    // correctness; the loss-accounting discipline: no silent drops)
    val parts = when(straddles,
        when(size(clipped) > 0, clipped).otherwise(passThrough))
      .otherwise(passThrough)
    polys.withColumn("__amp", explode(parts))
      .withColumn("part", col("__amp.part"))
      .withColumn(ringCol, col("__amp.piece"))
      .drop("__amp")
  }

  /** [[splitAntimeridianRings]] for open POLYLINES: a
    * dateline-crossing path splits into parts at each lon = 180
    * crossing, with the interpolated boundary vertex CLOSING one part
    * (at lon 180) and OPENING the next (at lon −180), so every part
    * is a connected sub-path on one side of the antimeridian and the
    * union of parts traces the original path exactly. Handles any
    * number of crossings (a zigzag ferry route) — the part index is
    * the running crossing count, built by one `aggregate` fold over
    * the path's own vertices (per-row, NO shuffle, same contract as
    * the ring form: paths spanning < 180° of longitude). A vertex
    * exactly AT lon ±180 belongs to the part it arrived with (side =
    * lon > 180 after unwrap; no crossing fires until the path
    * strictly passes the line). Non-straddling paths pass through
    * unchanged as part 0. Output: every input column + `part`, with
    * `pathCol` replaced by the piece. Feed the parts to
    * [[pointsNearLines]] / [[polylineCrossings]] /
    * [[linesIntersectPolygons]] keyed by (id, part).
    */
  def splitAntimeridianPaths(lines: DataFrame, idCol: String,
      pathCol: String): DataFrame = {
    val p = col(pathCol)
    val n1 = greatest(size(p) - 1, lit(0))
    val edges = zip_with(slice(p, lit(1), n1), slice(p, lit(2), n1),
      (a, b) => struct(a.as("s"), b.as("e")))
    val straddles = exists(edges, ed =>
      abs(ed.getField("e").getField("lon") -
        ed.getField("s").getField("lon")) > 180.0)
    val u = transform(p, q => struct(
      when(q.getField("lon") < 0, q.getField("lon") + 360.0)
        .otherwise(q.getField("lon")).as("lon"),
      q.getField("lat").as("lat")))
    val folded = aggregate(slice(u, lit(2), n1),
      array(array(element_at(u, 1))),
      (acc, v) => {
        val last = element_at(acc, -1)
        val prev = element_at(last, -1)
        val crossing =
          (prev.getField("lon") > 180.0) =!= (v.getField("lon") > 180.0)
        val x = struct(lit(180.0).as("lon"),
          (prev.getField("lat") +
            (lit(180.0) - prev.getField("lon")) /
            (v.getField("lon") - prev.getField("lon")) *
            (v.getField("lat") - prev.getField("lat"))).as("lat"))
        val vPt = struct(v.getField("lon").as("lon"),
          v.getField("lat").as("lat"))
        val head = slice(acc, lit(1), size(acc) - 1)
        when(crossing,
            concat(head, array(concat(last, array(x))),
              array(array(x, vPt))))
          .otherwise(concat(head, array(concat(last, array(vPt)))))
      })
    // wrap east parts back: a part is east iff any interior vertex
    // sits past 180 (boundary vertices are exactly 180 and wrap to
    // −180 with the rest)
    val wrapped = transform(folded, (part, i) => {
      val isEast = exists(part, q => q.getField("lon") > 180.0)
      val body = when(isEast, transform(part, q => struct(
          (q.getField("lon") - 360.0).as("lon"),
          q.getField("lat").as("lat"))))
        .otherwise(part)
      struct(i.as("part"), body.as("piece"))
    })
    val parts = when(straddles,
        filter(wrapped, x => size(x.getField("piece")) >= 2))
      .otherwise(array(struct(lit(0).as("part"),
        transform(p, q => struct(q.getField("lon").as("lon"),
          q.getField("lat").as("lat"))).as("piece"))))
    lines.withColumn("__amp", explode(parts))
      .withColumn("part", col("__amp.part"))
      .withColumn(pathCol, col("__amp.piece"))
      .drop("__amp")
  }

  /** GEOMETRY-NORMALIZING containment join — the one-call DEFAULT
    * path that retires the caller recipe the grid joins documented
    * through r17 ("run [[splitAntimeridianRings]] first and key by
    * (id, part)"): RAW rings, dateline-straddling or not, whale or
    * not, go straight in. Internally: antimeridian split → rekey by
    * (id, part) → [[pointsInPolygonsAuto]] (so continent-bbox whales
    * take their coarse pass too) → matches aggregated back to the
    * ORIGINAL id. The split pieces are interior-disjoint, so the
    * final distinct only dedupes the measure-zero seam (a point at
    * exactly lon ±180). Same output contract: (point_id, poly_id).
    *
    * Scale shape: the split is per-row Column work (no shuffle), the
    * join is the probed auto-split grid join, and the de-dup rides
    * the join's existing distinct — normalization adds ZERO extra
    * shuffles over the manual recipe.
    */
  def pointsInPolygonsSafe(points: DataFrame, polys: DataFrame,
      pId: String, pLon: String, pLat: String,
      gId: String, ringCol: String, cellDeg: Double = 0.5,
      maxCellsPerPoly: Long = 4096L): DataFrame = {
    val split = splitAntimeridianRings(polys, gId, ringCol)
      .withColumn("__nk", struct(col(gId).as("id"), col("part")))
    pointsInPolygonsAuto(points, split, pId, pLon, pLat,
        "__nk", ringCol, cellDeg, maxCellsPerPoly)
      .select(col("point_id"), col("poly_id").getField("id").as("poly_id"))
      .distinct()
  }

  /** [[pointsInPolygonsSafe]] for the point-to-polyline distance
    * join: RAW paths (any number of dateline crossings) through
    * [[splitAntimeridianPaths]], the (id, part) rekey, and
    * [[pointsNearLines]] — with the per-(point, line) MINIMUM taken
    * across parts, so the output contract matches the unsplit
    * operator exactly (the crossing vertex is shared by both
    * adjacent parts at lon ±180, and the min absorbs the duplicate
    * distance). Output: (point_id, line_id, dist_m).
    */
  def pointsNearLinesSafe(points: DataFrame, lines: DataFrame,
      pId: String, pLon: String, pLat: String,
      lId: String, pathCol: String,
      radiusM: Double, cellDeg: Double = 0.5): DataFrame = {
    val split = splitAntimeridianPaths(lines, lId, pathCol)
      .withColumn("__nk", struct(col(lId).as("id"), col("part")))
    pointsNearLines(points, split, pId, pLon, pLat,
        "__nk", pathCol, radiusM, cellDeg)
      .groupBy(col("point_id"), col("line_id").getField("id").as("line_id"))
      .agg(min(col("dist_m")).as("dist_m"))
  }

  /** [[splitAntimeridianRings]] for MULTIPOLYGONS — every ring (outer
    * AND inner) of a straddling relation clips at lon 180 as one
    * unit, so hole parity survives the seam: a hole straddling the
    * dateline inside a straddling outer contributes its west piece to
    * the west part and its east piece to the east part, and even-odd
    * containment over each part equals containment in the original
    * region (clipping a region clips every ring of its boundary). A
    * relation STRADDLES iff ANY of its rings has an edge jumping
    * |Δlon| > 180 — two separate components on opposite sides of the
    * dateline (no straddling ring) correctly pass through unchanged,
    * since per-ring bboxes already key the grid tightly. Rings whose
    * clipped piece degenerates (< 4 vertices) drop from that side; a
    * straddling relation whose BOTH sides lose every OUTER falls back
    * to pass-through (the sliver discipline — no silent row drops).
    * Output: input columns + `part` (0 west / pass-through, 1 east)
    * with `outersCol`/`innersCol` replaced by the pieces; key
    * downstream by (id, part) or use [[pointsInMultipolygonsSafe]].
    * Same contract as the ring form: geometries spanning < 180° of
    * longitude; pure per-row Column work, NO shuffle.
    */
  def splitAntimeridianMultipolygons(mpolys: DataFrame, idCol: String,
      outersCol: String, innersCol: String): DataFrame = {
    def ringStraddles(r: Column): Column = {
      val n1 = greatest(size(r) - 1, lit(0))
      val edges = zip_with(slice(r, lit(1), n1), slice(r, lit(2), n1),
        (a, b) => struct(a.as("s"), b.as("e")))
      exists(edges, ed =>
        abs(ed.getField("e").getField("lon") -
          ed.getField("s").getField("lon")) > 180.0)
    }
    def unwrap(r: Column): Column = transform(r, p => struct(
      when(p.getField("lon") < 0, p.getField("lon") + 360.0)
        .otherwise(p.getField("lon")).as("lon"),
      p.getField("lat").as("lat")))
    def norm(r: Column): Column = transform(r, p => struct(
      p.getField("lon").as("lon"), p.getField("lat").as("lat")))
    def westOf(rs: Column): Column =
      filter(transform(rs, r => clipRingAt180(unwrap(r), west = true)),
        piece => size(piece) >= 4)
    def eastOf(rs: Column): Column =
      filter(transform(rs, r =>
          transform(clipRingAt180(unwrap(r), west = false),
            p => struct((p.getField("lon") - 360.0).as("lon"),
              p.getField("lat").as("lat")))),
        piece => size(piece) >= 4)
    val outers = col(outersCol)
    val inners = col(innersCol)
    val straddles = exists(concat(outers, inners), ringStraddles)
    val passThrough = array(struct(lit(0).as("part"),
      transform(outers, r => norm(r)).as("outers"),
      transform(inners, r => norm(r)).as("inners")))
    val clipped = filter(array(
        struct(lit(0).as("part"),
          westOf(outers).as("outers"), westOf(inners).as("inners")),
        struct(lit(1).as("part"),
          eastOf(outers).as("outers"), eastOf(inners).as("inners"))),
      side => size(side.getField("outers")) > 0)
    val parts = when(straddles,
        when(size(clipped) > 0, clipped).otherwise(passThrough))
      .otherwise(passThrough)
    mpolys.withColumn("__amp", explode(parts))
      .withColumn("part", col("__amp.part"))
      .withColumn(outersCol, col("__amp.outers"))
      .withColumn(innersCol, col("__amp.inners"))
      .drop("__amp")
  }

  /** [[pointsInPolygonsSafe]] for MULTIPOLYGONS: raw dateline-
    * straddling (outers, inners) geometry through
    * [[splitAntimeridianMultipolygons]], the (id, part) rekey, the
    * even-odd containment join, and matches aggregated back to the
    * original id. Parts are interior-disjoint so the distinct only
    * dedupes the measure-zero seam. Output: (point_id, poly_id).
    */
  def pointsInMultipolygonsSafe(points: DataFrame, mpolys: DataFrame,
      pId: String, pLon: String, pLat: String,
      gId: String, outersCol: String, innersCol: String,
      cellDeg: Double = 0.5): DataFrame = {
    val split = splitAntimeridianMultipolygons(mpolys, gId,
        outersCol, innersCol)
      .withColumn("__nk", struct(col(gId).as("id"), col("part")))
    pointsInMultipolygons(points, split, pId, pLon, pLat,
        "__nk", outersCol, innersCol, cellDeg)
      .select(col("point_id"), col("poly_id").getField("id").as("poly_id"))
      .distinct()
  }

  /** [[pointsInPolygonsSafe]] for the polygon-polygon join: BOTH
    * relations' raw rings split at the antimeridian, (id, part)
    * keys, [[polygonsIntersectAuto]] (whale-safe too), pairs mapped
    * back to original ids. Two regions intersect iff SOME part pair
    * intersects (clipping partitions each region), so the distinct
    * union over part pairs is exact; pairs of the SAME original id
    * (a straddler's own west×east — possible only via seam contact,
    * which the kernel keeps out of contract anyway) are dropped for
    * the self-join case, matching `selfPairs`' a ≠ b convention.
    * Output: (id_a, id_b).
    */
  def polygonsIntersectSafe(a: DataFrame, b: DataFrame,
      aId: String, aRing: String, bId: String, bRing: String,
      cellDeg: Double = 0.5, selfPairs: Boolean = false,
      maxCellsPerPoly: Long = 4096L): DataFrame = {
    val sa = splitAntimeridianRings(a, aId, aRing)
      .withColumn("__nka", struct(col(aId).as("id"), col("part")))
    val sb = splitAntimeridianRings(b, bId, bRing)
      .withColumn("__nkb", struct(col(bId).as("id"), col("part")))
    polygonsIntersectAuto(sa, sb, "__nka", aRing, "__nkb", bRing,
        cellDeg, selfPairs, maxCellsPerPoly)
      .select(col("id_a").getField("id").as("id_a"),
        col("id_b").getField("id").as("id_b"))
      .filter(if (selfPairs) col("id_a") =!= col("id_b") else lit(true))
      .distinct()
  }

  /** Line-MULTIPOLYGON intersection join — [[linesIntersectPolygons]]
    * with holes resolved internally, closing the gap the round-16
    * pairing matrix left: the simple-ring form takes outers alone, so
    * a route inside a courtyard (a hole) would WRONGLY match its
    * containing polygon. Same even-odd discipline as
    * [[pointsInMultipolygons]] and the same composition as the
    * simple-ring form: a path intersects the multipolygon REGION iff
    * (i) some path segment strictly crosses ANY ring edge — outer or
    * inner, since with even-odd parity every strict boundary crossing
    * has region on exactly one side, so the path touches region — or
    * (ii) nothing crosses and the path lies entirely inside one
    * region component, decided by its first vertex's ring-count
    * parity. Input geometry is
    * [[RelationAssembly.assembleMultipolygons]]' output shape
    * (`gId`, outers, inners — each ring closed). Output:
    * (line_id, poly_id).
    */
  def linesIntersectMultipolygons(lines: DataFrame, mpolys: DataFrame,
      lId: String, pathCol: String, gId: String,
      outersCol: String, innersCol: String,
      cellDeg: Double = 0.5): DataFrame = {
    val rings = mpolys.select(col(gId).as("__mg"),
        posexplode(concat(col(outersCol), col(innersCol)))
          .as(Seq("__mridx", "__mr")))
      .select(struct(col("__mg"), col("__mridx")).as("__rk"),
        col("__mr"))
    val crossed = polylineCrossings(lines, rings, lId, pathCol,
        "__rk", "__mr", cellDeg)
      .select(col("id_a").as("line_id"),
        col("id_b").getField("__mg").as("poly_id"))
      .distinct()
    val firstPts = lines.select(col(lId).as("__fl"),
      element_at(col(pathCol), 1).getField("lon").as("__flon"),
      element_at(col(pathCol), 1).getField("lat").as("__flat"))
    val inside = pointsInMultipolygons(firstPts, mpolys,
        "__fl", "__flon", "__flat", gId, outersCol, innersCol, cellDeg)
      .select(col("point_id").as("line_id"), col("poly_id"))
    crossed.unionByName(inside).distinct()
  }

  /** Radius-bounded k-NEAREST neighbors: per `a` point the k closest
    * `b` points within `radiusM` (ties on distance break on id_b —
    * exact-duplicate coordinates produce bit-identical distances, so
    * the tie rule is deterministic and engine-portable). Output:
    * (id_a, rank 1..k, id_b, dist_m). The radius bound is what keeps
    * this a join, not a scan: unbounded kNN must probe ever-wider
    * rings (an ANN problem — [[Similarity]] covers the embedding
    * flavor); a crawler/POI pipeline always has a "don't care beyond
    * X km" radius. `rank <= k` over the per-id_a window rewrites to
    * WindowGroupLimit, so a dense neighborhood's candidate list
    * prunes map-side before the sort ships (the doc_domain_cap
    * shape). `excludeSelf = true` drops id_a == id_b rows — pass it
    * for SELF-kNN (the same relation twice, where id_a == id_b is the
    * point itself). The default is FALSE: for cross-relation kNN two
    * DIFFERENT entities whose id spaces happen to coincide are a
    * genuine neighbor pair, and a default that silently dropped them
    * was a correctness trap (round-16 ADVICE; flipped from true).
    */
  def nearestNeighbors(a: DataFrame, b: DataFrame,
      aId: String, aLon: String, aLat: String,
      bId: String, bLon: String, bLat: String,
      radiusM: Double, k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    require(k >= 1, "k >= 1")
    import org.apache.spark.sql.expressions.Window
    val pairs = withinDistance(a, b, aId, aLon, aLat, bId, bLon, bLat,
        radiusM, selfPairs = false)
      .filter(if (excludeSelf) col("id_a") =!= col("id_b") else lit(true))
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("dist_m"), col("id_b"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("rank"), col("id_b"), col("dist_m"))
  }
}
