package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Grid-join correctness is set-equality against the brute-force
  * haversine cross join on adversarial point clouds — dateline
  * straddlers, high-latitude bands (where longitude cells narrow and
  * the band tilings disagree), polar caps, and the equator.
  */
class GeoJoinSpec extends SparkSpec {

  private def hav(lon1: Double, lat1: Double, lon2: Double,
      lat2: Double): Double = {
    // exact mirror of GeoJoin.haversineM's expression order
    val dLat = math.toRadians(lat2 - lat1) / 2
    val dLon = math.toRadians(lon2 - lon1) / 2
    val h = math.pow(math.sin(dLat), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.pow(math.sin(dLon), 2)
    2 * 6371000.0 * math.asin(math.sqrt(h))
  }

  private def cloud(seed: Int, n: Int): Seq[(Long, Double, Double)] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      val (lon, lat) = i % 5 match {
        case 0 => // mid-lat cluster (most pairs here)
          (10.0 + rnd.nextDouble() * 0.8, 45.0 + rnd.nextDouble() * 0.8)
        case 1 => // dateline straddle
          (179.5 + rnd.nextDouble() * 1.0 match {
            case l if l > 180 => l - 360; case l => l
          }, -20.0 + rnd.nextDouble() * 0.5)
        case 2 => // high-latitude band: lon cells are narrow here
          (rnd.nextDouble() * 360 - 180, 84.0 + rnd.nextDouble() * 2.5)
        case 3 => // polar cap
          (rnd.nextDouble() * 360 - 180, 89.0 + rnd.nextDouble() * 0.9)
        case _ => // equator straddle
          (-60.0 + rnd.nextDouble() * 0.6, -0.3 + rnd.nextDouble() * 0.6)
      }
      (i.toLong, lon, lat)
    }
  }

  test("withinDistance self-join == brute-force haversine at three radii " +
      "over dateline / high-lat / polar / equator clouds") {
    import spark.implicits._
    val pts = cloud(42, 250)
    val df = pts.toDF("id", "lon", "lat")
    for (radius <- Seq(5000.0, 50000.0, 400000.0)) {
      val got = GeoJoin.withinDistance(df, df, "id", "lon", "lat",
          "id", "lon", "lat", radius, selfPairs = true)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      val want = (for {
        a <- pts; b <- pts if a._1 < b._1
        if hav(a._2, a._3, b._2, b._3) <= radius
      } yield (a._1, b._1)).toSet
      assert(got == want,
        s"radius=$radius missing=${(want -- got).take(5)} " +
          s"extra=${(got -- want).take(5)} sizes=${got.size}/${want.size}")
      assert(want.nonEmpty) // the clouds must actually exercise pairs
    }
  }

  test("cross (a != b) join keeps every directed match; distances match " +
      "the scalar formula") {
    import spark.implicits._
    val a = Seq((1L, 10.0, 45.0), (2L, -179.9, -20.0), (3L, 0.0, 89.8))
      .toDF("id", "lon", "lat")
    val b = Seq((10L, 10.05, 45.02), (20L, 179.95, -20.01),
      (30L, 180.0 - 0.0, 89.85), (40L, 10.0, -45.0)).toDF("id", "lon", "lat")
    val got = GeoJoin.withinDistance(a, b, "id", "lon", "lat",
        "id", "lon", "lat", 60000.0)
      .as[(Long, Long, Double)].collect().map(r => ((r._1, r._2), r._3)).toMap
    // dateline pair ~15.6 km apart; the polar pair crosses the
    // pole: (0.2 + 0.15) deg of meridian ~ 39 km
    assert(got.keySet == Set((1L, 10L), (2L, 20L), (3L, 30L)))
    got.foreach { case ((ia, ib), d) =>
      val pa = Map(1L -> (10.0, 45.0), 2L -> (-179.9, -20.0),
        3L -> (0.0, 89.8))(ia)
      val pb = Map(10L -> (10.05, 45.02), 20L -> (179.95, -20.01),
        30L -> (180.0, 89.85))(ib)
      assert(math.abs(d - hav(pa._1, pa._2, pb._1, pb._2)) < 1e-9)
    }
  }

  test("nearestNeighbors == brute-force top-k by (dist, id); rank<=k " +
      "rewrites to WindowGroupLimit") {
    import spark.implicits._
    val pts = cloud(13, 200)
    val df = pts.toDF("id", "lon", "lat")
    val k = 3; val radius = 200000.0
    val got = GeoJoin.nearestNeighbors(df, df, "id", "lon", "lat",
        "id", "lon", "lat", radius, k, excludeSelf = true)
      .select($"id_a", $"rank", $"id_b")
      .as[(Long, Int, Long)].collect().toSet
    val want = pts.flatMap { a =>
      pts.filter(b => b._1 != a._1 &&
          hav(a._2, a._3, b._2, b._3) <= radius)
        .sortBy(b => (hav(a._2, a._3, b._2, b._3), b._1))
        .take(k).zipWithIndex
        .map { case (b, i) => (a._1, i + 1, b._1) }
    }.toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.nonEmpty)
    val plan = GeoJoin.nearestNeighbors(df, df, "id", "lon", "lat",
        "id", "lon", "lat", radius, k, excludeSelf = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(600))
  }

  test("nearestNeighbors default keeps id_a == id_b across DIFFERENT " +
      "relations (coinciding id spaces are not self-matches)") {
    import spark.implicits._
    // b's point with id 1 is a DIFFERENT entity than a's id 1 — and
    // it is the genuine nearest; the old excludeSelf=true default
    // silently dropped it (round-16 ADVICE)
    val a = Seq((1L, 10.0, 45.0)).toDF("id", "lon", "lat")
    val b = Seq((1L, 10.001, 45.0), (2L, 10.1, 45.0))
      .toDF("id", "lon", "lat")
    val got = GeoJoin.nearestNeighbors(a, b, "id", "lon", "lat",
        "id", "lon", "lat", 50000.0, k = 1)
      .select($"id_a", $"rank", $"id_b").as[(Long, Int, Long)]
      .collect().toSet
    assert(got == Set((1L, 1, 1L)), s"got=$got")
  }

  test("pointsInPolygons == brute-force ray cast; concave ring; hole " +
      "composition; cell-straddling polygons") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val pts = (1 to 300).map(i =>
      (i.toLong, rnd.nextDouble() * 4 - 2 + 10, rnd.nextDouble() * 4 - 2 + 45))
    // a square, an L-shaped CONCAVE ring, and a wide cell-straddler
    def ring(ps: (Double, Double)*): Seq[(Double, Double)] =
      ps.toSeq :+ ps.head
    val polys = Seq(
      (101L, ring((9.0, 44.0), (10.5, 44.0), (10.5, 45.5), (9.0, 45.5))),
      (102L, ring((10.0, 45.0), (12.0, 45.0), (12.0, 45.4), (10.4, 45.4),
        (10.4, 46.5), (10.0, 46.5))), // L-shape: concave corner
      (103L, ring((8.5, 43.5), (11.9, 43.6), (11.8, 46.9), (8.6, 46.8))))
    val ptsDf = pts.toDF("id", "lon", "lat")
    val polyDf = polys
      .map { case (id, r) => (id, r.map { case (lo, la) => (lo, la) }) }
      .toDF("gid", "rawring")
      .select($"gid", expr(
        "transform(rawring, p -> struct(p._1 AS lon, p._2 AS lat))")
        .as("ring"))
    val got = GeoJoin.pointsInPolygons(ptsDf, polyDf,
        "id", "lon", "lat", "gid", "ring", cellDeg = 0.7)
      .as[(Long, Long)].collect().toSet
    val want = (for {
      p <- pts; g <- polys
      if GeoJoin.pointInRing(p._2, p._3, g._2)
    } yield (p._1, g._1)).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.nonEmpty && want.exists(_._2 == 102L)) // concave hit
    // hole composition: outer 103 minus inner 101
    val outer = GeoJoin.pointsInPolygons(ptsDf,
      polyDf.filter($"gid" === 103L), "id", "lon", "lat", "gid", "ring")
    val inner = GeoJoin.pointsInPolygons(ptsDf,
      polyDf.filter($"gid" === 101L), "id", "lon", "lat", "gid", "ring")
    val holed = outer.join(inner.select($"point_id"), Seq("point_id"),
      "left_anti").as[(Long, Long)].collect().toSet
    val wantHoled = (for {
      p <- pts
      if GeoJoin.pointInRing(p._2, p._3, polys(2)._2)
      if !GeoJoin.pointInRing(p._2, p._3, polys(0)._2)
    } yield (p._1, 103L)).toSet
    assert(holed == wantHoled)
  }

  test("pointsInMultipolygons: holes excluded, island-in-hole included " +
      "(even-odd), two disjoint outers both match; == brute-force parity") {
    import spark.implicits._
    def ring(ps: (Double, Double)*): Seq[(Double, Double)] =
      ps.toSeq :+ ps.head
    // relation 1: outer 10x10 square with a 4x4 hole holding a 2x2
    // island (depth-3 nesting); relation 2: TWO disjoint outers
    val outer1 = ring((0.0, 40.0), (10.0, 40.0), (10.0, 50.0), (0.0, 50.0))
    val hole1 = ring((3.0, 43.0), (7.0, 43.0), (7.0, 47.0), (3.0, 47.0))
    val island1 = ring((4.0, 44.0), (6.0, 44.0), (6.0, 46.0), (4.0, 46.0))
    val outer2a = ring((20.0, 40.0), (22.0, 40.0), (22.0, 42.0), (20.0, 42.0))
    val outer2b = ring((25.0, 40.0), (27.0, 40.0), (27.0, 42.0), (25.0, 42.0))
    val mp = Seq(
      (1L, Seq(outer1, island1), Seq(hole1)),
      (2L, Seq(outer2a, outer2b), Seq.empty[Seq[(Double, Double)]]))
      .toDF("id", "rawouters", "rawinners")
      .select($"id",
        expr("transform(rawouters, r -> transform(r, " +
          "p -> struct(p._1 AS lon, p._2 AS lat)))").as("outers"),
        expr("transform(rawinners, r -> transform(r, " +
          "p -> struct(p._1 AS lon, p._2 AS lat)))").as("inners"))
    val rnd = new scala.util.Random(7)
    val pts = (1 to 500).map(i =>
      (i.toLong, rnd.nextDouble() * 30, 39.0 + rnd.nextDouble() * 12)) ++
      // planted: in-hole (must NOT match), on-island (must match),
      // in each disjoint outer (both match)
      Seq((901L, 3.5, 43.5), (902L, 5.0, 45.0), (903L, 21.0, 41.0),
        (904L, 26.0, 41.0))
    val got = GeoJoin.pointsInMultipolygons(pts.toDF("id", "lon", "lat"),
        mp, "id", "lon", "lat", "id", "outers", "inners", cellDeg = 1.5)
      .as[(Long, Long)].collect().toSet
    val rels = Map(
      1L -> (Seq(outer1, island1) ++ Seq(hole1)),
      2L -> Seq(outer2a, outer2b))
    val want = (for {
      p <- pts; (gid, rings) <- rels
      if rings.count(r => GeoJoin.pointInRing(p._2, p._3, r)) % 2 == 1
    } yield (p._1, gid)).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(!got.contains((901L, 1L))) // hole excluded
    assert(got.contains((902L, 1L)))  // island-in-hole included
    assert(got.contains((903L, 2L)) && got.contains((904L, 2L)))
  }

  test("pointsInPolygonsAuto == pointsInPolygons on a mixed corpus " +
      "with a whale; no-whale corpus takes the single-pass plan") {
    import spark.implicits._
    def ring(ps: (Double, Double)*): Seq[(Double, Double)] =
      ps.toSeq :+ ps.head
    val rnd = new scala.util.Random(31)
    // 60 building-sized polygons + one CONTINENT (80 deg wide)
    val polys = (1 to 60).map { i =>
      val x = rnd.nextDouble() * 40 - 20; val y = rnd.nextDouble() * 30 + 30
      (i.toLong, ring((x, y), (x + 0.02, y), (x + 0.02, y + 0.02),
        (x, y + 0.02)))
    } :+ (999L, ring((-40.0, 20.0), (40.0, 20.0), (40.0, 70.0), (-40.0, 70.0)))
    val pts = (1 to 400).map(i =>
      (i.toLong, rnd.nextDouble() * 100 - 50, rnd.nextDouble() * 60 + 15)) ++
      // planted at the first ten small polygons' centers (a random
      // point almost never lands in a 0.02-deg square)
      polys.take(10).map { case (gid, r) =>
        (900L + gid, r.head._1 + 0.01, r.head._2 + 0.01) }
    val ptsDf = pts.toDF("id", "lon", "lat")
    val polyDf = polys.toDF("gid", "rawring").select($"gid",
      expr("transform(rawring, p -> struct(p._1 AS lon, p._2 AS lat))")
        .as("ring"))
    val auto = GeoJoin.pointsInPolygonsAuto(ptsDf, polyDf,
        "id", "lon", "lat", "gid", "ring", cellDeg = 0.05,
        maxCellsPerPoly = 64)
      .as[(Long, Long)].collect().toSet
    val single = GeoJoin.pointsInPolygons(ptsDf, polyDf,
        "id", "lon", "lat", "gid", "ring", cellDeg = 0.05)
      .as[(Long, Long)].collect().toSet
    assert(auto == single,
      s"missing=${(single -- auto).take(5)} extra=${(auto -- single).take(5)}")
    assert(auto.exists(_._2 == 999L) && auto.exists(_._2 != 999L))
    // without whales the second pass never runs (plan == single-pass:
    // exactly one join, no union)
    val noWhale = GeoJoin.pointsInPolygonsAuto(ptsDf,
      polyDf.filter($"gid" =!= 999L), "id", "lon", "lat", "gid", "ring",
      cellDeg = 0.05, maxCellsPerPoly = 64)
    assert(!noWhale.queryExecution.executedPlan.toString.contains("Union"))
  }

  test("withinDistance streams on the probe side: geofence events " +
      "across micro-batches == batch (stream-static, append, stateless)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-geofence-").toString
    val fences = Seq((1L, 10.0, 45.0), (2L, -179.95, -20.0),
      (3L, 30.0, 60.0)).toDF("id", "lon", "lat")
    val f1 = Seq((100L, 10.02, 45.01), (101L, 120.0, 10.0))
    val f2 = Seq((102L, 179.98, -20.02), (103L, 30.05, 60.01))
    Seq(f1, f2).zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("id", "lon", "lat").coalesce(1)
        .write.mode("overwrite").json(s"$dir/f$i")
    }
    val staged = s"$dir/in"; new java.io.File(staged).mkdirs()
    def stage(i: Int): Unit =
      new java.io.File(s"$dir/f$i").listFiles()
        .filter(_.getName.endsWith(".json")).foreach { f =>
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(staged, s"f$i-${f.getName}"))
        }
    val stream = spark.readStream
      .schema("id LONG, lon DOUBLE, lat DOUBLE").json(staged)
    val q = GeoJoin.withinDistance(fences, stream, "id", "lon", "lat",
        "id", "lon", "lat", 10000.0)
      .writeStream.format("memory").queryName("geofence")
      .outputMode("append").start()
    stage(0); q.processAllAvailable()
    stage(1); q.processAllAvailable()
    q.stop()
    val got = spark.table("geofence").select($"id_a", $"id_b")
      .as[(Long, Long)].collect().toSet
    val batch = GeoJoin.withinDistance(fences,
        (f1 ++ f2).toDF("id", "lon", "lat"), "id", "lon", "lat",
        "id", "lon", "lat", 10000.0)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got == batch && got == Set((1L, 100L), (2L, 102L), (3L, 103L)),
      s"stream=$got batch=$batch")
  }

  test("pointsNearLines streams on the points side: update-mode min " +
      "across micro-batches == batch, including a polar-pass pair " +
      "(two stream-static joins + one update-mode aggregate)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pnlstream-").toString
    val lines = Seq(
      (201L, Seq((10.0, 44.99), (10.0, 45.01))),   // equatorward road
      (202L, Seq((0.0, 89.89), (0.0, 89.91))))     // polar station line
      .toDF("lid", "rawpath").select($"lid",
        expr("transform(rawpath, p -> named_struct('lon', p._1, " +
          "'lat', p._2))").as("path"))
    // batch 1: near the road + a polar point the 86-degree clamp
    // would have missed (0.9 deg of lon at 89.9 ~ 175 m); batch 2:
    // a CLOSER point for the same (pid, lid) pair — the update-mode
    // min must shrink, and the memory-sink min-over-updates equals
    // the final value because min only decreases
    val f1 = Seq((100L, 10.001, 45.0), (101L, 0.9, 89.9))
    val f2 = Seq((102L, 10.0005, 45.0), (100L, 10.0002, 45.0))
    Seq(f1, f2).zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("id", "lon", "lat").coalesce(1)
        .write.mode("overwrite").json(s"$dir/f$i")
    }
    val staged = s"$dir/in"; new java.io.File(staged).mkdirs()
    def stage(i: Int): Unit =
      new java.io.File(s"$dir/f$i").listFiles()
        .filter(_.getName.endsWith(".json")).foreach { f =>
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(staged, s"f$i-${f.getName}"))
        }
    val stream = spark.readStream
      .schema("id LONG, lon DOUBLE, lat DOUBLE").json(staged)
    val q = GeoJoin.pointsNearLines(stream, lines, "id", "lon", "lat",
        "lid", "path", radiusM = 1000.0, cellDeg = 0.5)
      .writeStream.format("memory").queryName("pnlstream")
      .outputMode("update").start()
    stage(0); q.processAllAvailable()
    stage(1); q.processAllAvailable()
    q.stop()
    // min over all emitted updates == the final per-pair value (the
    // aggregate is monotone decreasing), and the pair SET matches
    val got = spark.table("pnlstream")
      .groupBy($"point_id", $"line_id").agg(min($"dist_m").as("d"))
      .as[(Long, Long, Double)].collect()
      .map(r => ((r._1, r._2), r._3)).toMap
    val batch = GeoJoin.pointsNearLines(
        (f1 ++ f2).toDF("id", "lon", "lat"), lines,
        "id", "lon", "lat", "lid", "path",
        radiusM = 1000.0, cellDeg = 0.5)
      .as[(Long, Long, Double)].collect()
      .map(r => ((r._1, r._2), r._3)).toMap
    assert(got.keySet == batch.keySet,
      s"stream=${got.keySet} batch=${batch.keySet}")
    got.foreach { case (k, d) => assert(math.abs(d - batch(k)) < 1e-9, k) }
    // the polar-pass pair (formerly clamp-missed) arrived via stream
    assert(got.contains((101L, 202L)), got.toString)
    // batch 2's closer point actually shrank the (100, 201) distance
    val firstOnly = GeoJoin.pointsNearLines(
        f1.toDF("id", "lon", "lat"), lines, "id", "lon", "lat",
        "lid", "path", radiusM = 1000.0, cellDeg = 0.5)
      .as[(Long, Long, Double)].collect()
      .map(r => ((r._1, r._2), r._3)).toMap
    assert(got((100L, 201L)) < firstOnly((100L, 201L)))
  }

  test("pointsNearLinesStream (r19): watermark-bounded event-time twin — " +
      "per-window stream == batch, a late point is DROPPED and counted " +
      "by numRowsDroppedByWatermark while the candidate observe saw it " +
      "arrive, and the window state is EVICTED once the watermark passes") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pnlwm-").toString
    val lines = Seq(
      (201L, Seq((10.0, 44.99), (10.0, 45.01))),   // equatorward road
      (202L, Seq((0.0, 89.89), (0.0, 89.91))))     // polar station line
      .toDF("lid", "rawpath").select($"lid",
        expr("transform(rawpath, p -> named_struct('lon', p._1, " +
          "'lat', p._2))").as("path"))
    // stage 0: window 10:00 pairs (road + a polar-pass pair)
    // stage 1: ts 12:10 -> watermark 11:10 finalizes+evicts window 10
    // stage 2: a LATE 10:07 point (must be dropped AND counted) plus a
    //          fresh 12:15 point joining window 12
    // stage 3: ts 16:00 far point -> watermark 15:00 flushes window 12
    val stages = Seq(
      Seq((100L, 10.001, 45.0, "2026-01-01 10:05:00"),
        (101L, 0.9, 89.9, "2026-01-01 10:10:00")),
      Seq((102L, 10.0005, 45.0, "2026-01-01 12:10:00")),
      Seq((103L, 10.0002, 45.0, "2026-01-01 10:07:00"),
        (104L, 10.0008, 45.0, "2026-01-01 12:15:00")),
      Seq((105L, 50.0, 0.0, "2026-01-01 16:00:00")))
    stages.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("id", "lon", "lat", "ts").coalesce(1)
        .write.mode("overwrite").json(s"$dir/f$i")
    }
    val staged = s"$dir/in"; new java.io.File(staged).mkdirs()
    def stage(i: Int): Unit =
      new java.io.File(s"$dir/f$i").listFiles()
        .filter(_.getName.endsWith(".json")).foreach { f =>
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(staged, s"f$i-${f.getName}"))
        }
    val stream = spark.readStream
      .schema("id LONG, lon DOUBLE, lat DOUBLE, ts TIMESTAMP")
      .json(staged)
    val q = GeoJoin.pointsNearLinesStream(stream, lines,
        "id", "lon", "lat", "ts", "lid", "path",
        radiusM = 1000.0, cellDeg = 0.5,
        windowSize = "1 hour", watermarkDelay = "1 hour")
      .select($"window.start".cast("string").as("w"),
        $"point_id", $"line_id", $"dist_m")
      .writeStream.format("memory").queryName("pnlwm")
      .outputMode("append").start()
    val maxState = new scala.collection.mutable.ArrayBuffer[Long]()
    (0 until stages.size).foreach { i =>
      stage(i); q.processAllAvailable()
      maxState ++= q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsTotal))
    }
    val drops = q.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    val arrivals = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("pnl_stream_candidates"))
        .map(_.getLong(0))).sum
    val lastState = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    val got = spark.table("pnlwm")
      .as[(String, Long, Long, Double)].collect()
      .map(r => ((r._1, r._2, r._3), r._4)).toMap
    // batch equivalent over the NON-late points, grouped by hour
    val want = stages.flatten.filter(_._1 != 103L)
      .groupBy(_._4.take(13) + ":00:00")
      .flatMap { case (w, pts) =>
        GeoJoin.pointsNearLines(
            pts.map(p => (p._1, p._2, p._3)).toDF("id", "lon", "lat"),
            lines, "id", "lon", "lat", "lid", "path",
            radiusM = 1000.0, cellDeg = 0.5)
          .as[(Long, Long, Double)].collect()
          .map(r => ((w, r._1, r._2), r._3)).toSeq
      }.toMap
    assert(got.keySet == want.keySet,
      s"missing=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet}")
    got.foreach { case (k, d) => assert(math.abs(d - want(k)) < 1e-9, k) }
    assert(got.contains(("2026-01-01 10:00:00", 101L, 202L)),
      "the polar-pass pair did not stream through the windowed twin")
    // loss accounting: the late point's single candidate row arrived at
    // the observe but was refused by the watermark filter
    assert(drops == 1L, s"numRowsDroppedByWatermark=$drops")
    assert(arrivals == 5L, s"candidate arrivals=$arrivals")
    // bounded state: rows existed mid-run, and the final no-data batch
    // evicted everything once the watermark passed the last window
    assert(maxState.nonEmpty && maxState.max >= 2L, maxState.toString)
    assert(lastState == 0L, s"state not evicted: $lastState rows")
  }

  // exact mirror of pointsNearLines' planar clamp-projection verify
  private def segDist(plon: Double, plat: Double,
      alon: Double, alat: Double, blon: Double, blat: Double): Double = {
    val kx = 111320.0 * math.cos(math.toRadians((alat + blat) / 2))
    val ky = 110574.0
    val bx = (blon - alon) * kx; val by = (blat - alat) * ky
    val px = (plon - alon) * kx; val py = (plat - alat) * ky
    val den = bx * bx + by * by
    val t = if (den == 0) 0.0
      else math.max(0.0, math.min(1.0, (px * bx + py * by) / den))
    math.sqrt((px - t * bx) * (px - t * bx) + (py - t * by) * (py - t * by))
  }

  test("pointsNearLines == brute-force min-over-segments at two radii; " +
      "degenerate segment verifies point-to-point; long segments " +
      "straddle cells") {
    import spark.implicits._
    val rnd = new scala.util.Random(58)
    val pts = (1 to 300).map(i =>
      (i.toLong, 9.0 + rnd.nextDouble() * 4, 44.0 + rnd.nextDouble() * 4))
    // crooked multi-vertex roads, one 3-degree cell-straddling highway,
    // one DEGENERATE line (two identical vertices)
    val lines: Seq[(Long, Seq[(Double, Double)])] = (1 to 20).map { i =>
      val x0 = 9.0 + rnd.nextDouble() * 4; val y0 = 44.0 + rnd.nextDouble() * 4
      (100L + i, (0 to 4).scanLeft((x0, y0)) { case ((x, y), _) =>
        (x + (rnd.nextDouble() - 0.5) * 0.2, y + (rnd.nextDouble() - 0.5) * 0.2)
      }.map(identity))
    } ++ Seq(
      (201L, Seq((9.2, 44.5), (12.4, 46.8))), // straddles many 0.4-deg cells
      (202L, Seq((10.5, 45.5), (10.5, 45.5)))) // degenerate: a point
    val ptsDf = pts.toDF("id", "lon", "lat")
    val lineDf = lines.toDF("lid", "rawpath").select($"lid",
      expr("transform(rawpath, p -> struct(p._1 AS lon, p._2 AS lat))")
        .as("path"))
    for (radius <- Seq(3000.0, 25000.0)) {
      val got = GeoJoin.pointsNearLines(ptsDf, lineDf,
          "id", "lon", "lat", "lid", "path", radius, cellDeg = 0.4)
        .as[(Long, Long, Double)].collect()
        .map(r => ((r._1, r._2), r._3)).toMap
      val want = (for {
        p <- pts; (lid, path) <- lines
        d = path.sliding(2).map { s =>
          segDist(p._2, p._3, s.head._1, s.head._2, s.last._1, s.last._2)
        }.min
        if d <= radius
      } yield ((p._1, lid), d)).toMap
      assert(got.keySet == want.keySet,
        s"radius=$radius missing=${(want.keySet -- got.keySet).take(5)} " +
          s"extra=${(got.keySet -- want.keySet).take(5)}")
      got.foreach { case (k, d) => assert(math.abs(d - want(k)) < 1e-9, k) }
      assert(want.nonEmpty)
      // the degenerate line matches iff some point is within radius of
      // its single coordinate — and the min-agg reports THAT distance
      want.keys.find(_._2 == 202L).foreach { k =>
        assert(math.abs(got(k) -
          segDist(pts.find(_._1 == k._1).get._2,
            pts.find(_._1 == k._1).get._3,
            10.5, 45.5, 10.5, 45.5)) < 1e-9)
      }
    }
    // the straddler must have matches from points far apart in lon
    val gotWide = GeoJoin.pointsNearLines(ptsDf, lineDf,
        "id", "lon", "lat", "lid", "path", 25000.0, cellDeg = 0.4)
      .filter($"line_id" === 201L)
      .as[(Long, Long, Double)].collect()
    val lonSpread = gotWide.map(r => pts.find(_._1 == r._1).get._2)
    assert(lonSpread.nonEmpty && lonSpread.max - lonSpread.min > 1.5,
      s"straddler matched only a narrow lon range: $lonSpread")
    // plan: equi-join on the cell key, never a nested loop
    val plan = GeoJoin.pointsNearLines(ptsDf, lineDf,
        "id", "lon", "lat", "lid", "path", 3000.0, cellDeg = 0.4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("pointsNearLines is POLAR-COMPLETE (r18): pairs the 86-degree " +
      "cosine clamp under-covered are found by the polar exact pass; " +
      "brute-force parity at 89.9 degrees both hemispheres") {
    import spark.implicits._
    // point 0.9 deg of lon from a meridian segment at |lat| 89.9:
    // true east-west separation ~175 m << R=1000 m, but the clamped
    // lon margin (cos 86 -> 0.129 deg) left the point's 0.5-deg cell
    // uncovered — this exact pair was MISSED before r18 (the
    // pnl_polar_clamp loss contract)
    val pts = Seq(
      (1L, 0.9, 89.9), (2L, 0.9, -89.9), // the formerly-missed pairs
      (3L, 0.04, 89.9),                  // same-cell pair (always found)
      (4L, 10.0, 45.0),                  // equatorward control, no match
      // past the polar pass's own 89.95-degree cosine cap: needed
      // dlon blows past the capped per-segment margin, so without the
      // full-cell-circle arm this pair was missed by BOTH passes
      // (r18 ADVICE counterexample: true dist ~583 m at R=1000 m)
      (5L, 30.0, 89.99), (6L, 30.0, -89.99))
    val lines: Seq[(Long, Seq[(Double, Double)])] = Seq(
      (101L, Seq((0.0, 89.89), (0.0, 89.91))),
      (102L, Seq((0.0, -89.91), (0.0, -89.89))),
      (103L, Seq((10.0, 44.99), (10.0, 45.01))),
      (104L, Seq((0.0, 89.985), (0.0, 89.995))),
      (105L, Seq((0.0, -89.995), (0.0, -89.985))))
    val ptsDf = pts.toDF("id", "lon", "lat")
    val lineDf = lines.toDF("lid", "rawpath").select($"lid",
      expr("transform(rawpath, p -> struct(p._1 AS lon, p._2 AS lat))")
        .as("path"))
    val radius = 1000.0
    val got = GeoJoin.pointsNearLines(ptsDf, lineDf,
        "id", "lon", "lat", "lid", "path", radius, cellDeg = 0.5)
      .as[(Long, Long, Double)].collect()
      .map(r => ((r._1, r._2), r._3)).toMap
    val want = (for {
      p <- pts; (lid, path) <- lines
      d = path.sliding(2).map { s =>
        segDist(p._2, p._3, s.head._1, s.head._2, s.last._1, s.last._2)
      }.min
      if d <= radius
    } yield ((p._1, lid), d)).toMap
    assert(want.contains((1L, 101L)) && want.contains((2L, 102L)),
      "test geometry no longer plants the clamp-missable pairs")
    assert(want.contains((5L, 104L)) && want.contains((6L, 105L)),
      "test geometry no longer plants the cap-missable ultra-polar pairs")
    assert(got.keySet == want.keySet,
      s"missing=${want.keySet -- got.keySet} extra=${got.keySet -- want.keySet}")
    got.foreach { case (k, d) => assert(math.abs(d - want(k)) < 1e-9, k) }
    // the polar pass stays an equi-join (lat-band key), no nested loop
    val plan = GeoJoin.pointsNearLines(ptsDf, lineDf,
        "id", "lon", "lat", "lid", "path", radius, cellDeg = 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("pointsInPolygonsSafe / pointsNearLinesSafe: RAW dateline-" +
      "straddling geometry through the default surface == the manual " +
      "split-first recipe; ids aggregate back to the original key") {
    import spark.implicits._
    def wrapLon(l: Double): Double =
      if (l > 180) l - 360 else if (l < -180) l + 360 else l
    // straddling rect (unwrapped 177.3..183.7) + a non-straddler
    val rects = Seq(
      (1L, Seq((177.3, -20.0), (183.7, -20.0), (183.7, -5.0),
        (177.3, -5.0), (177.3, -20.0))),
      (2L, Seq((10.0, 40.0), (20.0, 40.0), (20.0, 50.0),
        (10.0, 50.0), (10.0, 40.0))))
    val polyDf = rects.map { case (id, r) =>
      (id, r.map { case (lo, la) => (wrapLon(lo), la) }) }
      .toDF("gid", "rawring").select($"gid",
        expr("transform(rawring, p -> struct(p._1 AS lon, p._2 AS lat))")
          .as("ring"))
    val rnd = new scala.util.Random(31)
    val pts = (1 to 300).map { i =>
      val lonU = 175.0 + rnd.nextDouble() * 13
      (i.toLong, wrapLon(lonU), -25.0 + rnd.nextDouble() * 25, lonU)
    }
    val ptsDf = pts.map(p => (p._1, p._2, p._3)).toDF("id", "lon", "lat")
    val gotSafe = GeoJoin.pointsInPolygonsSafe(ptsDf, polyDf,
        "id", "lon", "lat", "gid", "ring", cellDeg = 0.5)
      .as[(Long, Long)].collect().toSet
    // manual recipe (the r17 caller contract) must agree exactly
    val manual = {
      val split = GeoJoin.splitAntimeridianRings(polyDf, "gid", "ring")
        .withColumn("pk", struct($"gid", $"part"))
      GeoJoin.pointsInPolygons(ptsDf, split, "id", "lon", "lat",
          "pk", "ring", cellDeg = 0.5)
        .select($"point_id", $"poly_id.gid".as("poly_id"))
        .distinct().as[(Long, Long)].collect().toSet
    }
    assert(gotSafe == manual)
    // brute reference in unwrapped space: inside the rect bounds
    val wantIn = (for {
      p <- pts
      if p._4 > 177.3 && p._4 < 183.7 && p._3 > -20.0 && p._3 < -5.0
    } yield (p._1, 1L)).toSet
    assert(gotSafe.filter(_._2 == 1L) == wantIn)
    assert(gotSafe.exists { case (pid, g) => g == 1L &&
      pts.find(_._1 == pid).exists(_._2 < 0) }) // east-side match
    // paths: a straddling route near the rect's latitudes
    val lineDf = Seq(
      (201L, Seq((179.2, -10.0), (-179.2, -10.0)).map(p =>
        (wrapLon(p._1), p._2))),
      (202L, Seq((10.5, 45.0), (10.7, 45.0))))
      .toDF("lid", "rawpath").select($"lid",
        expr("transform(rawpath, p -> struct(p._1 AS lon, p._2 AS lat))")
          .as("path"))
    val nearPts = Seq(
      (11L, 179.9, -10.001), (12L, -179.9, -10.001), // both sides
      (13L, 10.6, 45.001)).toDF("id", "lon", "lat")
    val safe = GeoJoin.pointsNearLinesSafe(nearPts, lineDf,
        "id", "lon", "lat", "lid", "path", radiusM = 500.0,
        cellDeg = 0.5)
      .as[(Long, Long, Double)].collect()
      .map(r => ((r._1, r._2), r._3)).toMap
    // each planted point sits ~111 m off its line: all three match,
    // the dateline pair via the two split parts aggregated back
    assert(safe.keySet == Set((11L, 201L), (12L, 201L), (13L, 202L)),
      safe.toString)
    safe.foreach { case (_, d) => assert(d > 50 && d < 500, d) }
  }

  test("splitAntimeridianMultipolygons + pointsInMultipolygonsSafe: " +
      "straddling outer AND straddling hole keep even-odd parity " +
      "across the seam == brute unwrapped outer-minus-hole; " +
      "two-component no-straddle relation passes through") {
    import spark.implicits._
    def wl(x: Double): Double = if (x > 180) x - 360 else x
    def ring(lo1: Double, lo2: Double, la1: Double,
        la2: Double): Seq[(Double, Double)] = Seq(
      (wl(lo1), la1), (wl(lo2), la1), (wl(lo2), la2),
      (wl(lo1), la2), (wl(lo1), la1))
    val mps = Seq(
      // outer and hole BOTH straddle (the seam-parity case)
      (1L, Seq(ring(177.0, 186.0, -20.0, -5.0)),
        Seq(ring(179.0, 182.0, -15.0, -10.0))),
      // two components on opposite dateline sides, NO straddling
      // ring: must pass through part 0 untouched
      (2L, Seq(ring(178.0, 179.5, 10.0, 20.0),
        ring(180.5, 182.0, 10.0, 20.0)), Seq.empty[Seq[(Double, Double)]]))
      .toDF("wid", "rawout", "rawin")
      .select($"wid",
        expr("transform(rawout, r -> transform(r, " +
          "p -> named_struct('lon', p._1, 'lat', p._2)))").as("outers"),
        expr("transform(rawin, r -> transform(r, " +
          "p -> named_struct('lon', p._1, 'lat', p._2)))").as("inners"))
    val split = GeoJoin.splitAntimeridianMultipolygons(
      mps, "wid", "outers", "inners")
    val shape = split.select($"wid", $"part", size($"outers"),
        size($"inners")).as[(Long, Int, Int, Int)].collect().sorted
    // mp1: west part (outer piece + hole piece) and east part (same);
    // mp2: untouched single part with both outers
    assert(shape.toSeq == Seq((1L, 0, 1, 1), (1L, 1, 1, 1),
      (2L, 0, 2, 0)), shape.toSeq)
    val rnd = new scala.util.Random(83)
    val pts = (1 to 500).map { i =>
      val lonU = 175.0 + rnd.nextDouble() * 13
      (i.toLong, wl(lonU), -25.0 + rnd.nextDouble() * 50, lonU)
    }
    val got = GeoJoin.pointsInMultipolygonsSafe(
        pts.map(p => (p._1, p._2, p._3)).toDF("id", "lon", "lat"),
        mps, "id", "lon", "lat", "wid", "outers", "inners",
        cellDeg = 0.5)
      .as[(Long, Long)].collect().toSet
    val want = (for {
      p <- pts
      inOuter1 = p._4 > 177.0 && p._4 < 186.0 && p._3 > -20.0 && p._3 < -5.0
      inHole1 = p._4 > 179.0 && p._4 < 182.0 && p._3 > -15.0 && p._3 < -10.0
      inMp2 = (p._4 > 178.0 && p._4 < 179.5 ||
        p._4 > 180.5 && p._4 < 182.0) && p._3 > 10.0 && p._3 < 20.0
      m <- Seq(
        if (inOuter1 && !inHole1) Some((p._1, 1L)) else None,
        if (inMp2) Some((p._1, 2L)) else None).flatten
    } yield m).toSet
    assert(got == want,
      s"missing=${want -- got} extra=${got -- want}")
    // the hole-interior exclusion actually fired on data
    assert(pts.exists(p => p._4 > 179.0 && p._4 < 182.0 &&
      p._3 > -15.0 && p._3 < -10.0))
  }

  test("polygonsIntersectSafe: RAW straddling rects on both sides == " +
      "strict unwrapped interval overlap; self-part pairs excluded " +
      "under selfPairs") {
    import spark.implicits._
    def wl(x: Double): Double = if (x > 180) x - 360 else x
    def rectDf(rs: Seq[(Long, Double, Double, Double, Double)]) =
      rs.map { case (id, lo1, lo2, la1, la2) =>
        (id, Seq((wl(lo1), la1), (wl(lo2), la1), (wl(lo2), la2),
          (wl(lo1), la2), (wl(lo1), la1)))
      }.toDF("gid", "rawring").select($"gid",
        expr("transform(rawring, p -> named_struct('lon', p._1, " +
          "'lat', p._2))").as("ring"))
    val rnd = new scala.util.Random(97)
    val aRaw = (1 to 40).map { i =>
      val lo = 174.0 + rnd.nextDouble() * 10 // some straddle
      val la = -20.0 + rnd.nextDouble() * 40
      (i.toLong, lo, lo + 0.9 + rnd.nextDouble(), la,
        la + 3.0 + rnd.nextDouble())
    }
    val bRaw = (101 to 140).map { i =>
      val lo = 174.5 + rnd.nextDouble() * 10
      val la = -18.0 + rnd.nextDouble() * 40
      (i.toLong, lo, lo + 0.9 + rnd.nextDouble(), la,
        la + 3.0 + rnd.nextDouble())
    }
    val got = GeoJoin.polygonsIntersectSafe(rectDf(aRaw), rectDf(bRaw),
        "gid", "ring", "gid", "ring", cellDeg = 0.5)
      .as[(Long, Long)].collect().toSet
    val want = (for {
      a <- aRaw; b <- bRaw
      if a._2 < b._3 && b._2 < a._3 && a._4 < b._5 && b._4 < a._5
    } yield (a._1, b._1)).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.nonEmpty)
    // selfPairs on one relation with straddlers: each unordered pair
    // once, never a polygon against its own other part
    val self = GeoJoin.polygonsIntersectSafe(rectDf(aRaw), rectDf(aRaw),
        "gid", "ring", "gid", "ring", cellDeg = 0.5, selfPairs = true)
      .as[(Long, Long)].collect()
    assert(self.forall(p => p._1 < p._2), self.toSeq.take(5))
    val wantSelf = (for {
      a <- aRaw; b <- aRaw
      if a._1 < b._1
      if a._2 < b._3 && b._2 < a._3 && a._4 < b._5 && b._4 < a._5
    } yield (a._1, b._1)).toSet
    assert(self.toSet == wantSelf)
  }

  test("splitAntimeridianRings: a degenerate straddling sliver falls " +
      "back to pass-through instead of vanishing (r17 ADVICE)") {
    import spark.implicits._
    // malformed 2-vertex 'ring' hugging lon 180: both clipped pieces
    // come out under 4 vertices, so the parts array used to empty and
    // explode() dropped the row silently
    val polyDf = Seq(
      (1L, Seq((179.9999, 0.0), (-179.9999, 0.0))),
      (2L, Seq((10.0, 0.0), (11.0, 0.0), (11.0, 1.0), (10.0, 0.0))))
      .toDF("gid", "rawring").select($"gid",
        expr("transform(rawring, p -> struct(p._1 AS lon, p._2 AS lat))")
          .as("ring"))
    val split = GeoJoin.splitAntimeridianRings(polyDf, "gid", "ring")
      .select($"gid", $"part",
        expr("transform(ring, p -> struct(p.lon, p.lat))"))
      .as[(Long, Int, Seq[(Double, Double)])].collect()
    val sliver = split.filter(_._1 == 1L)
    assert(sliver.length == 1 && sliver.head._2 == 0, split.toSeq)
    assert(sliver.head._3 == Seq((179.9999, 0.0), (-179.9999, 0.0)))
    assert(split.count(_._1 == 2L) == 1) // non-straddler untouched
  }

  // reference mirror of the RingsIntersect kernel over Scala seqs
  private def refIntersects(a: Seq[(Double, Double)],
      b: Seq[(Double, Double)]): Boolean = {
    def cr(ax: Double, ay: Double, bx: Double, by: Double,
        cx: Double, cy: Double): Double =
      (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    val cross = a.sliding(2).exists(ea => b.sliding(2).exists { eb =>
      val o1 = cr(ea(0)._1, ea(0)._2, ea(1)._1, ea(1)._2, eb(0)._1, eb(0)._2)
      val o2 = cr(ea(0)._1, ea(0)._2, ea(1)._1, ea(1)._2, eb(1)._1, eb(1)._2)
      val o3 = cr(eb(0)._1, eb(0)._2, eb(1)._1, eb(1)._2, ea(0)._1, ea(0)._2)
      val o4 = cr(eb(0)._1, eb(0)._2, eb(1)._1, eb(1)._2, ea(1)._1, ea(1)._2)
      o1 * o2 < 0 && o3 * o4 < 0
    })
    cross || GeoJoin.pointInRing(a.head._1, a.head._2, b) ||
      GeoJoin.pointInRing(b.head._1, b.head._2, a)
  }

  test("polygonsIntersect == brute-force kernel reference on random " +
      "rects + concave C-shape; selfPairs emits each pair once; " +
      "bbox-trap notch excluded; no nested-loop join") {
    import spark.implicits._
    def ring(ps: (Double, Double)*): Seq[(Double, Double)] =
      ps.toSeq :+ ps.head
    val rnd = new scala.util.Random(77)
    val polys: Seq[(Long, Seq[(Double, Double)])] = (1 to 120).map { i =>
      val x = rnd.nextDouble() * 8 - 4; val y = 42 + rnd.nextDouble() * 8
      val w = 0.2 + rnd.nextDouble() * 1.5; val h = 0.2 + rnd.nextDouble() * 1.5
      (i.toLong, ring((x, y), (x + w, y), (x + w, y + h), (x, y + h)))
    } ++ Seq(
      // C-shape + a square parked in its notch: bboxes overlap,
      // regions don't — the candidate stage must not leak it through
      (201L, ring((20.0, 40.0), (30.0, 40.0), (30.0, 42.0), (22.0, 42.0),
        (22.0, 48.0), (30.0, 48.0), (30.0, 50.0), (20.0, 50.0))),
      (202L, ring((25.0, 44.0), (27.0, 44.0), (27.0, 46.0), (25.0, 46.0))))
    val df = polys.toDF("gid", "rawring").select($"gid",
      expr("transform(rawring, p -> struct(p._1 AS lon, p._2 AS lat))")
        .as("ring"))
    val got = GeoJoin.polygonsIntersect(df, df, "gid", "ring",
        "gid", "ring", cellDeg = 0.7, selfPairs = true)
      .as[(Long, Long)].collect()
    assert(got.length == got.toSet.size, "duplicate pairs emitted")
    val want = (for {
      a <- polys; b <- polys if a._1 < b._1
      if refIntersects(a._2, b._2)
    } yield (a._1, b._1)).toSet
    assert(got.toSet == want,
      s"missing=${(want -- got.toSet).take(5)} " +
        s"extra=${(got.toSet -- want).take(5)} n=${want.size}")
    assert(want.nonEmpty && !want.contains((201L, 202L)))
    val plan = GeoJoin.polygonsIntersect(df, df, "gid", "ring",
        "gid", "ring", cellDeg = 0.7, selfPairs = true)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("polygonsIntersectAuto == polygonsIntersect on corpora with " +
      "whales on either side; selfPairs never duplicates the " +
      "whale-small pairs split across passes; no-whale plan is " +
      "single-pass") {
    import spark.implicits._
    def ring(ps: (Double, Double)*): Seq[(Double, Double)] =
      ps.toSeq :+ ps.head
    val rnd = new scala.util.Random(404)
    val small = (1 to 80).map { i =>
      val x = rnd.nextDouble() * 30 - 15; val y = 35 + rnd.nextDouble() * 20
      (i.toLong, ring((x, y), (x + 0.4, y), (x + 0.4, y + 0.4), (x, y + 0.4)))
    }
    val whales = Seq(
      (901L, ring((-20.0, 30.0), (20.0, 30.0), (20.0, 60.0), (-20.0, 60.0))),
      (902L, ring((-5.0, 33.0), (25.0, 33.0), (25.0, 58.0), (-5.0, 58.0))))
    def df(ps: Seq[(Long, Seq[(Double, Double)])]) =
      ps.toDF("gid", "rawring").select($"gid",
        expr("transform(rawring, p -> struct(p._1 AS lon, p._2 AS lat))")
          .as("ring"))
    // SELF-join with whales in the one relation
    val all = df(small ++ whales)
    val auto = GeoJoin.polygonsIntersectAuto(all, all, "gid", "ring",
        "gid", "ring", cellDeg = 0.1, selfPairs = true,
        maxCellsPerPoly = 64)
      .as[(Long, Long)].collect()
    val single = GeoJoin.polygonsIntersect(all, all, "gid", "ring",
        "gid", "ring", cellDeg = 0.1, selfPairs = true)
      .as[(Long, Long)].collect().toSet
    assert(auto.length == auto.toSet.size,
      s"duplicates across passes: ${auto.groupBy(identity)
        .filter(_._2.length > 1).keys.take(3)}")
    assert(auto.toSet == single,
      s"missing=${(single -- auto.toSet).take(5)} " +
        s"extra=${(auto.toSet -- single).take(5)}")
    assert(single.contains((901L, 902L)) && single.exists(_._2 == 901L))
    // CROSS join with a whale only on the b side
    val autoX = GeoJoin.polygonsIntersectAuto(df(small), df(whales),
        "gid", "ring", "gid", "ring", cellDeg = 0.1,
        maxCellsPerPoly = 64)
      .as[(Long, Long)].collect().toSet
    val singleX = GeoJoin.polygonsIntersect(df(small), df(whales),
        "gid", "ring", "gid", "ring", cellDeg = 0.1)
      .as[(Long, Long)].collect().toSet
    assert(autoX == singleX && autoX.nonEmpty)
    // no whales -> exactly the single-pass plan (no Union)
    val noWhale = GeoJoin.polygonsIntersectAuto(df(small), df(small),
      "gid", "ring", "gid", "ring", cellDeg = 0.1, selfPairs = true,
      maxCellsPerPoly = 64)
    assert(!noWhale.queryExecution.executedPlan.toString.contains("Union"))
  }

  test("polylineCrossings == brute-force strict segment crossings with " +
      "exact crossing points; selfPairs keeps unordered line pairs once; " +
      "touching endpoints excluded; no nested-loop join") {
    import spark.implicits._
    val rnd = new scala.util.Random(910)
    val lines: Seq[(Long, Seq[(Double, Double)])] = (1 to 30).map { i =>
      val x0 = rnd.nextDouble() * 3; val y0 = 44 + rnd.nextDouble() * 3
      (i.toLong, (0 to 3).scanLeft((x0, y0)) { case ((x, y), _) =>
        (x + (rnd.nextDouble() - 0.5) * 1.2, y + (rnd.nextDouble() - 0.5) * 1.2)
      })
    } ++ Seq(
      // planted T-junction: touching endpoint, NOT a strict crossing
      (101L, Seq((10.0, 44.0), (12.0, 44.0))),
      (102L, Seq((11.0, 44.0), (11.0, 45.0))),
      // planted X: one clean crossing at (21.0, 44.5)
      (103L, Seq((20.0, 44.5), (22.0, 44.5))),
      (104L, Seq((21.0, 44.0), (21.0, 45.0))))
    val df = lines.toDF("lid", "rawpath").select($"lid",
      expr("transform(rawpath, p -> struct(p._1 AS lon, p._2 AS lat))")
        .as("path"))
    val got = GeoJoin.polylineCrossings(df, df, "lid", "path",
        "lid", "path", cellDeg = 0.8, selfPairs = true)
      .select($"id_a", $"seg_a", $"id_b", $"seg_b",
        round($"x", 9).as("x"), round($"y", 9).as("y"))
      .as[(Long, Int, Long, Int, Double, Double)].collect()
    assert(got.length == got.toSet.size, "duplicate crossings emitted")
    def cr(ax: Double, ay: Double, bx: Double, by: Double,
        cx: Double, cy: Double): Double =
      (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    val want = (for {
      a <- lines; b <- lines if a._1 < b._1
      (sa, ia) <- a._2.sliding(2).toSeq.zipWithIndex
      (sb, ib) <- b._2.sliding(2).toSeq.zipWithIndex
      o1 = cr(sa(0)._1, sa(0)._2, sa(1)._1, sa(1)._2, sb(0)._1, sb(0)._2)
      o2 = cr(sa(0)._1, sa(0)._2, sa(1)._1, sa(1)._2, sb(1)._1, sb(1)._2)
      o3 = cr(sb(0)._1, sb(0)._2, sb(1)._1, sb(1)._2, sa(0)._1, sa(0)._2)
      o4 = cr(sb(0)._1, sb(0)._2, sb(1)._1, sb(1)._2, sa(1)._1, sa(1)._2)
      if o1 * o2 < 0 && o3 * o4 < 0
      den = (sa(1)._1 - sa(0)._1) * (sb(1)._2 - sb(0)._2) -
        (sa(1)._2 - sa(0)._2) * (sb(1)._1 - sb(0)._1)
      t = ((sb(0)._1 - sa(0)._1) * (sb(1)._2 - sb(0)._2) -
        (sb(0)._2 - sa(0)._2) * (sb(1)._1 - sb(0)._1)) / den
    } yield (a._1, ia, b._1, ib,
      BigDecimal(sa(0)._1 + t * (sa(1)._1 - sa(0)._1))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(sa(0)._2 + t * (sa(1)._2 - sa(0)._2))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(got.toSet == want,
      s"missing=${(want -- got.toSet).take(3)} " +
        s"extra=${(got.toSet -- want).take(3)} n=${want.size}")
    assert(want.nonEmpty)
    // T-junction excluded, X crossing present at the exact point
    assert(!got.exists(r => r._1 == 101L && r._3 == 102L))
    assert(got.exists(r => r._1 == 103L && r._3 == 104L &&
      r._5 == 21.0 && r._6 == 44.5))
    val plan = GeoJoin.polylineCrossings(df, df, "lid", "path",
        "lid", "path", cellDeg = 0.8, selfPairs = true)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("withinDistanceEvents: STREAM-STREAM proximity join across " +
      "micro-batches == batch; time bound enforced both directions; " +
      "watermark state evicts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(min: Int) = new java.sql.Timestamp(7200000L + min * 60000L)
    // two vehicle feeds; pairs require <= 5 min gap AND <= 10 km
    val feedA = Seq(
      (1L, 10.00, 45.00, t(0)),   // near b=11 at t0 (pair)
      (2L, 10.00, 45.00, t(0)),   // near b=12 spatially, 30 min apart (no)
      (3L, 50.00, 10.00, t(10)),  // far from everything
      (4L, -179.99, -20.0, t(20))) // dateline pair with b=14
    val feedB = Seq(
      (11L, 10.02, 45.01, t(2)),
      (12L, 10.01, 45.00, t(30)),
      (13L, 60.00, 20.00, t(11)),
      (14L, 179.97, -20.01, t(18)))
    val inA = MemoryStream[(Long, Double, Double, java.sql.Timestamp)]
    val inB = MemoryStream[(Long, Double, Double, java.sql.Timestamp)]
    val q = GeoJoin.withinDistanceEvents(
        inA.toDF().toDF("id", "lon", "lat", "ts")
          .withWatermark("ts", "60 minutes"),
        inB.toDF().toDF("id", "lon", "lat", "ts")
          .withWatermark("ts", "60 minutes"),
        "id", "lon", "lat", "ts", "id", "lon", "lat", "ts",
        radiusM = 10000.0, maxGapSeconds = 300)
      .writeStream.format("memory").queryName("proximity")
      .outputMode("append").start()
    // split arrivals so a pair must match ACROSS batches (a=1 arrives
    // before b=11; b=14 before a=4)
    inA.addData(feedA.take(2): _*); inB.addData(feedB.drop(3): _*)
    q.processAllAvailable()
    inA.addData(feedA.drop(2): _*); inB.addData(feedB.take(3): _*)
    q.processAllAvailable()
    q.stop()
    import spark.implicits._
    val got = spark.table("proximity").select($"id_a", $"id_b")
      .as[(Long, Long)].collect().toSet
    val batch = GeoJoin.withinDistanceEvents(
        feedA.toDF("id", "lon", "lat", "ts"),
        feedB.toDF("id", "lon", "lat", "ts"),
        "id", "lon", "lat", "ts", "id", "lon", "lat", "ts",
        radiusM = 10000.0, maxGapSeconds = 300)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // a=1 and a=2 both sit within radius of b=11 inside the gap;
    // a=2 vs b=12 is spatially close but 30 min apart (cut by time);
    // a=4 vs b=14 pairs ACROSS the dateline
    assert(batch == Set((1L, 11L), (2L, 11L), (4L, 14L)), batch)
    assert(got == batch, s"stream=$got batch=$batch")
    // batch form == withinDistance + gap filter (composition identity)
    val viaFilter = GeoJoin.withinDistance(
        feedA.toDF("id", "lon", "lat", "ts"),
        feedB.toDF("id", "lon", "lat", "ts").withColumnsRenamed(
          Map("id" -> "id2", "ts" -> "ts2")),
        "id", "lon", "lat", "id2", "lon", "lat", 10000.0)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(viaFilter)) // proximity pairs minus the time cut
  }

  test("withinDistanceEvents == brute-force haversine + time gap at three " +
      "radii over dateline / high-lat / polar / equator clouds, " +
      "self and cross pairs") {
    import spark.implicits._
    // whole minutes over four gaps: pairs straddle several time
    // buckets and some sit exactly at |Δt| = gap
    val gapS = 600L
    val t0 = 1700000123L // not bucket-aligned
    val rnd = new scala.util.Random(9)
    val pts = cloud(42, 250).map { case (id, lon, lat) =>
      (id, lon, lat, t0 + 60L * rnd.nextInt(41)) }
    val df = pts.map { case (id, lon, lat, s) =>
        (id, lon, lat, new java.sql.Timestamp(s * 1000L)) }
      .toDF("id", "lon", "lat", "ts")
    for (radius <- Seq(5000.0, 50000.0, 400000.0);
        self <- Seq(true, false)) {
      val got = GeoJoin.withinDistanceEvents(df, df,
          "id", "lon", "lat", "ts", "id", "lon", "lat", "ts",
          radius, gapS, selfPairs = self)
        .select($"id_a", $"id_b").as[(Long, Long)].collect()
      val want = (for {
        a <- pts; b <- pts if !self || a._1 < b._1
        if math.abs(a._4 - b._4) <= gapS
        if hav(a._2, a._3, b._2, b._3) <= radius
      } yield (a._1, b._1)).toSet
      assert(got.length == got.toSet.size, s"radius=$radius self=$self " +
        "a pair joined more than once")
      assert(got.toSet == want,
        s"radius=$radius self=$self " +
          s"missing=${(want -- got).take(5)} " +
          s"extra=${(got.toSet -- want).take(5)} " +
          s"sizes=${got.length}/${want.size}")
      assert(want.exists { case (i, j) => i != j })
    }
  }

  test("linesIntersectPolygons == brute reference (crossings OR " +
      "first-vertex inside); loop-around path excluded; fully-inside " +
      "path included") {
    import spark.implicits._
    def ring(ps: (Double, Double)*): Seq[(Double, Double)] =
      ps.toSeq :+ ps.head
    val rnd = new scala.util.Random(202)
    val polys = (1 to 25).map { i =>
      val x = rnd.nextDouble() * 6; val y = 42 + rnd.nextDouble() * 6
      val w = 0.4 + rnd.nextDouble() * 1.6; val h = 0.4 + rnd.nextDouble() * 1.6
      (i.toLong, ring((x, y), (x + w, y), (x + w, y + h), (x, y + h)))
    } ++ Seq((201L, ring((20.2, 44.2), (20.8, 44.2), (20.8, 44.8), (20.2, 44.8))))
    val lines: Seq[(Long, Seq[(Double, Double)])] = (1 to 40).map { i =>
      val x0 = rnd.nextDouble() * 6; val y0 = 42 + rnd.nextDouble() * 6
      (i.toLong, (0 to 3).scanLeft((x0, y0)) { case ((x, y), _) =>
        (x + (rnd.nextDouble() - 0.5) * 2, y + (rnd.nextDouble() - 0.5) * 2)
      })
    } ++ Seq(
      // loop AROUND poly 201 without touching it: must NOT match
      (301L, ring((20.0, 44.0), (21.0, 44.0), (21.0, 45.0), (20.0, 45.0))),
      // short path fully INSIDE poly 201: must match via containment
      (302L, Seq((20.4, 44.4), (20.6, 44.5))))
    val lineDf = lines.toDF("lid", "rawpath").select($"lid",
      expr("transform(rawpath, p -> struct(p._1 AS lon, p._2 AS lat))")
        .as("path"))
    val polyDf = polys.toDF("gid", "rawring").select($"gid",
      expr("transform(rawring, p -> struct(p._1 AS lon, p._2 AS lat))")
        .as("ring"))
    val got = GeoJoin.linesIntersectPolygons(lineDf, polyDf,
        "lid", "path", "gid", "ring", cellDeg = 0.9)
      .as[(Long, Long)].collect().toSet
    def cr(ax: Double, ay: Double, bx: Double, by: Double,
        cx: Double, cy: Double): Double =
      (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    val want = (for {
      l <- lines; g <- polys
      crossed = l._2.sliding(2).exists(sa => g._2.sliding(2).exists { sb =>
        val o1 = cr(sa(0)._1, sa(0)._2, sa(1)._1, sa(1)._2, sb(0)._1, sb(0)._2)
        val o2 = cr(sa(0)._1, sa(0)._2, sa(1)._1, sa(1)._2, sb(1)._1, sb(1)._2)
        val o3 = cr(sb(0)._1, sb(0)._2, sb(1)._1, sb(1)._2, sa(0)._1, sa(0)._2)
        val o4 = cr(sb(0)._1, sb(0)._2, sb(1)._1, sb(1)._2, sa(1)._1, sa(1)._2)
        o1 * o2 < 0 && o3 * o4 < 0
      })
      if crossed || GeoJoin.pointInRing(l._2.head._1, l._2.head._2, g._2)
    } yield (l._1, g._1)).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.nonEmpty)
    assert(!got.contains((301L, 201L))) // the surrounding loop
    assert(got.contains((302L, 201L)))  // the fully-inside path
  }

  test("splitAntimeridianRings: straddling rect splits into west/east " +
      "closed rings, pass-through untouched, containment over the " +
      "split == brute ray cast in unwrapped space (concave straddler " +
      "included)") {
    import spark.implicits._
    def ring(ps: (Double, Double)*): Seq[(Double, Double)] =
      ps.toSeq :+ ps.head
    def wrapLon(l: Double): Double =
      if (l > 180) l - 360 else if (l < -180) l + 360 else l
    // rings authored in UNWRAPPED lon (170..190) then wrapped — the
    // form real dateline data arrives in
    val unwrapped = Seq(
      (1L, ring((177.3, -20.0), (183.7, -20.0), (183.7, -5.0),
        (177.3, -5.0))), // straddling rect
      (2L, ring((178.0, 10.0), (186.0, 10.0), (186.0, 16.0),
        (182.0, 16.0), (182.0, 13.0), (178.0, 13.0))), // concave L
      (3L, ring((10.0, 40.0), (20.0, 40.0), (20.0, 50.0),
        (10.0, 50.0)))) // no straddle: pass-through
    val polys = unwrapped.map { case (id, r) =>
      (id, r.map { case (lo, la) => (wrapLon(lo), la) }) }
    val polyDf = polys.toDF("gid", "rawring").select($"gid",
      expr("transform(rawring, p -> struct(p._1 AS lon, p._2 AS lat))")
        .as("ring"))
    val split = GeoJoin.splitAntimeridianRings(polyDf, "gid", "ring")
    val pieces = split.select($"gid", $"part",
        expr("transform(ring, p -> struct(p.lon, p.lat))"))
      .as[(Long, Int, Seq[(Double, Double)])].collect()
    // shape: 1 and 2 straddle -> two parts each; 3 passes through
    assert(pieces.count(_._1 == 1L) == 2)
    assert(pieces.count(_._1 == 2L) == 2)
    val p3 = pieces.filter(_._1 == 3L)
    assert(p3.length == 1 && p3.head._2 == 0 &&
      p3.head._3 == polys(2)._2) // byte-identical pass-through
    pieces.filter(_._1 != 3L).foreach { case (id, part, r) =>
      assert(r.head == r.last, s"$id/$part not closed")
      if (part == 0) assert(r.forall(p => p._1 >= 170 && p._1 <= 180), r)
      else assert(r.forall(p => p._1 >= -180 && p._1 <= -170), r)
    }
    // containment: points sprinkled on BOTH sides of the dateline
    val rnd = new scala.util.Random(7)
    val pts = (1 to 400).map { i =>
      val lonU = 175.0 + rnd.nextDouble() * 13 // unwrapped 175..188
      val lat = -25.0 + rnd.nextDouble() * 45
      (i.toLong, wrapLon(lonU), lat, lonU)
    }
    val ptsDf = pts.map(p => (p._1, p._2, p._3)).toDF("id", "lon", "lat")
    val got = GeoJoin.pointsInPolygons(ptsDf,
        split.withColumn("pk", struct($"gid", $"part")),
        "id", "lon", "lat", "pk", "ring", cellDeg = 0.7)
      .select($"point_id", $"poly_id.gid")
      .as[(Long, Long)].collect().toSet
    val want = (for {
      p <- pts; g <- unwrapped
      if GeoJoin.pointInRing(p._4, p._3, g._2) // unwrapped-space truth
    } yield (p._1, g._1)).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // both sides of the dateline actually matched
    assert(want.exists(w => pts(w._1.toInt - 1)._2 > 0) &&
      want.exists(w => pts(w._1.toInt - 1)._2 < 0), want.take(10))
  }

  test("splitAntimeridianPaths: double-crossing path yields 3 parts " +
      "with ±180 boundary vertices; pointsNearLines finds cross-" +
      "dateline pairs over the split that the wrapped path misses") {
    import spark.implicits._
    val path = Seq((178.0, 0.0), (-178.5, 1.0), (179.0, 2.0),
      (179.5, 2.5)) // crosses at edges 1 and 2
    val lineDf = Seq((1L, path)).toDF("lid", "rawpath").select($"lid",
      expr("transform(rawpath, p -> struct(p._1 AS lon, p._2 AS lat))")
        .as("path"))
    val parts = GeoJoin.splitAntimeridianPaths(lineDf, "lid", "path")
      .select($"part", expr("transform(path, p -> struct(p.lon, p.lat))"))
      .as[(Int, Seq[(Double, Double)])].collect().sortBy(_._1)
    assert(parts.map(_._1).toSeq == Seq(0, 1, 2), parts.toSeq)
    // crossing 1: between (178,0) and (181.5,1) unwrapped at t=2/3.5
    val y1 = 0.0 + (180.0 - 178.0) / 3.5 * 1.0
    // crossing 2: between (181.5,1) and (179,2) at t=1.5/2.5
    val y2 = 1.0 + (181.5 - 180.0) / 2.5 * 1.0
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-9
    val Seq(p0, p1, p2) = parts.map(_._2).toSeq
    assert(p0.head == ((178.0, 0.0)) && p0.last._1 == 180.0 &&
      close(p0.last._2, y1), p0)
    assert(p1.head._1 == -180.0 && close(p1.head._2, y1) &&
      p1(1) == ((-178.5, 1.0)) && p1.last._1 == -180.0 &&
      close(p1.last._2, y2), p1)
    assert(p2.head._1 == 180.0 && close(p2.head._2, y2) &&
      p2.last == ((179.5, 2.5)), p2)
    // non-straddling pass-through
    val calm = Seq((2L, Seq((10.0, 1.0), (11.0, 2.0))))
      .toDF("lid", "rawpath").select($"lid",
        expr("transform(rawpath, p -> struct(p._1 AS lon, p._2 AS lat))")
          .as("path"))
    val calmOut = GeoJoin.splitAntimeridianPaths(calm, "lid", "path")
      .select($"part", expr("transform(path, p -> struct(p.lon, p.lat))"))
      .as[(Int, Seq[(Double, Double)])].collect()
    assert(calmOut.toSeq == Seq((0, Seq((10.0, 1.0), (11.0, 2.0)))))
    // a point just west of the dateline near the path's east-side leg:
    // the WRAPPED path's planar verify puts it ~360 degrees away (no
    // match at any city radius); the split parts find it
    val pt = Seq((100L, -179.9, 0.65)).toDF("id", "lon", "lat")
    val splitParts = GeoJoin.splitAntimeridianPaths(lineDf, "lid", "path")
      .withColumn("lk", struct($"lid", $"part"))
    val found = GeoJoin.pointsNearLines(pt, splitParts,
        "id", "lon", "lat", "lk", "path", radiusM = 20000.0,
        cellDeg = 0.5)
      .select($"point_id", $"line_id.lid", $"dist_m")
      .as[(Long, Long, Double)].collect()
    assert(found.length == 1 && found.head._1 == 100L &&
      found.head._2 == 1L, found.toSeq)
    val unsplit = GeoJoin.pointsNearLines(pt, lineDf,
      "id", "lon", "lat", "lid", "path", radiusM = 20000.0, cellDeg = 0.5)
    assert(unsplit.count() == 0) // the caveat the operator retires
  }

  test("linesIntersectMultipolygons: courtyard path excluded, annulus " +
      "path included, hole-boundary crosser included, island-in-hole " +
      "path included == brute even-odd reference") {
    import spark.implicits._
    def ring(ps: (Double, Double)*): Seq[(Double, Double)] =
      ps.toSeq :+ ps.head
    val outer = ring((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0))
    val hole = ring((3.0, 3.0), (7.0, 3.0), (7.0, 7.0), (3.0, 7.0))
    val island = ring((4.5, 4.5), (5.5, 4.5), (5.5, 5.5), (4.5, 5.5))
    // mp 1: outer with a hole and an island inside the hole
    val mp = Seq((1L, Seq(outer, island), Seq(hole)))
      .toDF("gid", "rawouters", "rawinners")
      .select($"gid",
        expr("transform(rawouters, r -> transform(r, " +
          "p -> struct(p._1 AS lon, p._2 AS lat)))").as("outers"),
        expr("transform(rawinners, r -> transform(r, " +
          "p -> struct(p._1 AS lon, p._2 AS lat)))").as("inners"))
    val lines: Seq[(Long, Seq[(Double, Double)])] = Seq(
      (10L, Seq((3.6, 3.6), (4.2, 4.2))),      // courtyard: inside hole, NO
      (11L, Seq((1.0, 1.0), (2.0, 2.2))),      // annulus interior, YES
      (12L, Seq((3.5, 3.5), (2.0, 3.5))),      // hole -> annulus crosser, YES
      (13L, Seq((4.7, 4.7), (5.2, 5.1))),      // island-in-hole interior, YES
      (14L, Seq((-2.0, 5.0), (1.5, 5.0))),     // crosses outer, YES
      (15L, Seq((12.0, 12.0), (14.0, 13.0))))  // far outside, NO
    val lineDf = lines.toDF("lid", "rawpath").select($"lid",
      expr("transform(rawpath, p -> struct(p._1 AS lon, p._2 AS lat))")
        .as("path"))
    val got = GeoJoin.linesIntersectMultipolygons(lineDf, mp,
        "lid", "path", "gid", "outers", "inners", cellDeg = 2.0)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((11L, 1L), (12L, 1L), (13L, 1L), (14L, 1L)), got)
    // brute even-odd reference agrees: crossings against ANY ring OR
    // odd ring-containment parity of the first vertex
    def cr(ax: Double, ay: Double, bx: Double, by: Double,
        cx: Double, cy: Double): Double =
      (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    val rings = Seq(outer, island, hole)
    val want = (for {
      l <- lines
      crossed = rings.exists(r => l._2.sliding(2).exists(sa =>
        r.sliding(2).exists { sb =>
          val o1 = cr(sa(0)._1, sa(0)._2, sa(1)._1, sa(1)._2,
            sb(0)._1, sb(0)._2)
          val o2 = cr(sa(0)._1, sa(0)._2, sa(1)._1, sa(1)._2,
            sb(1)._1, sb(1)._2)
          val o3 = cr(sb(0)._1, sb(0)._2, sb(1)._1, sb(1)._2,
            sa(0)._1, sa(0)._2)
          val o4 = cr(sb(0)._1, sb(0)._2, sb(1)._1, sb(1)._2,
            sa(1)._1, sa(1)._2)
          o1 * o2 < 0 && o3 * o4 < 0
        }))
      parity = rings.count(r =>
        GeoJoin.pointInRing(l._2.head._1, l._2.head._2, r))
      if crossed || parity % 2 == 1
    } yield (l._1, 1L)).toSet
    assert(got == want, s"got=$got want=$want")
  }

  test("plan: splitAntimeridian(Rings|Paths) is shuffle-free — pure " +
      "per-row Column work, no Exchange in the executed plan") {
    import spark.implicits._
    val polyDf = Seq((1L, Seq((179.0, 0.0), (-179.0, 0.0), (-179.0, 1.0),
        (179.0, 1.0), (179.0, 0.0))))
      .toDF("gid", "rawring").select($"gid",
        expr("transform(rawring, p -> struct(p._1 AS lon, p._2 AS lat))")
          .as("ring"))
    val ringPlan = GeoJoin.splitAntimeridianRings(polyDf, "gid", "ring")
      .queryExecution.executedPlan.toString
    assert(!ringPlan.contains("Exchange"), ringPlan.take(600))
    val lineDf = polyDf.withColumnRenamed("ring", "path")
    val pathPlan = GeoJoin.splitAntimeridianPaths(lineDf, "gid", "path")
      .queryExecution.executedPlan.toString
    assert(!pathPlan.contains("Exchange"), pathPlan.take(600))
    val mpDf = polyDf.select($"gid", array($"ring").as("outers"),
      expr("array()").cast("array<array<struct<lon:double,lat:double>>>")
        .as("inners"))
    val mpPlan = GeoJoin.splitAntimeridianMultipolygons(
        mpDf, "gid", "outers", "inners")
      .queryExecution.executedPlan.toString
    assert(!mpPlan.contains("Exchange"), mpPlan.take(600))
  }

  test("plan: no cartesian/nested-loop join; one equi-join on the grid key") {
    import spark.implicits._
    val df = cloud(7, 50).toDF("id", "lon", "lat")
    val ev = df.withColumn("ts",
      timestamp_seconds(lit(1700000000L) + $"id" * 97))
    for (plan <- Seq(
        GeoJoin.withinDistance(df, df, "id", "lon", "lat",
          "id", "lon", "lat", 10000.0, selfPairs = true),
        GeoJoin.withinDistanceEvents(ev, ev, "id", "lon", "lat", "ts",
          "id", "lon", "lat", "ts", 10000.0, 600L, selfPairs = true))
      .map(_.queryExecution.executedPlan.toString)) {
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
      assert("(BroadcastHash|ShuffledHash|SortMerge)Join".r
        .findAllIn(plan).size == 1, plan.take(800))
    }
  }
}
