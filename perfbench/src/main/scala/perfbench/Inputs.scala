package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic OSM extract for the `poi_etl` workload, written to
  * PBF through the engine's own `osm-pbf` writer.
  *
  * Every object's tags and geometry follow from its id through residue
  * rules whose multipliers and offsets come from the seed, so the
  * number of POIs, areas and centroids the pipeline must produce is
  * known in closed form ([[Expected]]) without running it:
  *
  *  - node `id` in 1..n: class `m = (a·id + s) mod 1000`; the PbfProbe
  *    tag mix: amenity (5 values) for m < 20, shop=supermarket for
  *    20 ≤ m < 30, tourism=hotel for 30 ≤ m < 35 (the 3.5% that are
  *    POIs), a name for m < 28, highway=crossing for 100 ≤ m < 300,
  *    source=survey for 300 ≤ m < 400, untagged otherwise;
  *  - way `j` in 0..w-1 (id j+1) is a closed square over nodes
  *    4j+1..4j+4 with class `c = (b·j + t) mod 100`: amenity=school for
  *    c < 8, shop=supermarket for 8 ≤ c < 12 (POIs; small, hence a
  *    centroid, for c < 5 and 8 ≤ c < 10), amenity=restaurant with
  *    three missing node refs for 12 ≤ c < 14 (invalid geometry),
  *    building=yes (small) for 14 ≤ c < 60 and landuse=residential
  *    (large) otherwise;
  *  - relation `r` in 0..rel-1 (id 10^9 + r) is a multipolygon whose
  *    outer is a class-14 way, tagged tourism=hotel when
  *    (e·r + u) mod 10 < 6 (POI areas) and building=yes otherwise.
  *
  * Small squares are 0.0005° (≤ 3.1e3 m²), large ones 0.01° (≥ 6e5 m²)
  * within ±60° latitude, far from the 2e4 m² centroid threshold.
  */
final case class OsmExtract(seed: Long, nodes: Long, ways: Long, relations: Long) {
  require(nodes % 1000 == 0 && ways % 100 == 0 && relations % 10 == 0,
    "sizes must be whole residue cycles")
  require(nodes >= 4 * ways, "every way needs four corner nodes")
  private val rng = new java.util.Random(seed)
  private def coprime(mod: Int): Long = {
    val cands = (1 until mod).filter(x => BigInt(x).gcd(mod) == 1)
    cands(rng.nextInt(cands.size)).toLong
  }
  val a: Long = coprime(1000)
  val s: Long = rng.nextInt(1000).toLong
  val b: Long = coprime(100)
  val t: Long = rng.nextInt(100).toLong
  val e: Long = coprime(10)
  val u: Long = rng.nextInt(10).toLong
  val sx: Long = rng.nextInt(3000000).toLong
  val sy: Long = rng.nextInt(1200000).toLong
  /** Way index (mod 100) of class 14, the relations' outer members. */
  val j14: Long = (0L until 100L).find(j => (b * j + t) % 100 == 14).get

  def objects: Long = nodes + ways + relations

  /** The counts the pipeline must produce, by the residue rules above. */
  object Expected {
    val poiNodes: Long = nodes / 1000 * 35
    val centroids: Long = ways / 100 * 7
    val poiWays: Long = ways / 100 * 12
    val invalidWays: Long = ways / 100 * 2
    val poiRelations: Long = relations / 10 * 6
    /** Rows of `nodesWithCentroids`: POI nodes plus small-area centroids. */
    val nodeRows: Long = poiNodes + centroids
    /** Rows of the areas output: valid POI ways plus POI relations. */
    val areaRows: Long = poiWays + poiRelations
  }

  private def meta(id: Column): Seq[Column] = Seq(
    id.as("id"),
    (pmod(id, lit(7L)) + 1).cast("int").as("version"),
    pmod(id, lit(99991L)).cast("int").as("user_id"),
    // 2026-01-01T00:00:00Z plus up to a day
    timestamp_seconds(pmod(id, lit(86400L)) + 1767225600L).as("tstamp"),
    pmod(id, lit(7919L)).as("changeset_id"))
  private def tagMap(kv: (String, Column)*): Column =
    map_filter(map(kv.flatMap { case (k, v) => Seq(lit(k), v) }: _*),
      (_, v) => v.isNotNull)
  private def wayClass(j: Column): Column = pmod(j * b + t, lit(100L))
  private def side(j: Column): Column = {
    val c = wayClass(j)
    when(c < 5 || (c >= 8 && c < 10) || (c >= 12 && c < 60), lit(0.0005))
      .otherwise(lit(0.01))
  }
  private def lon0(j: Column): Column = pmod(j * 7919L + sx, lit(3000000L)) * 1e-4 - 150.0
  private def lat0(j: Column): Column = pmod(j * 104729L + sy, lit(1200000L)) * 1e-4 - 60.0

  def nodesDf(spark: SparkSession, parts: Int): DataFrame = {
    val id = col("id")
    val m = pmod(id * a + s, lit(1000L))
    val amen = array(Seq("restaurant", "cafe", "bar", "school", "bench").map(lit): _*)
    val j = floor((id - 1) / 4).cast("long")
    val k = pmod(id - 1, lit(4L))
    val corner = id <= lit(4 * ways)
    val d = side(j)
    spark.range(1, nodes + 1, 1, parts).select(meta(id) ++ Seq(
      tagMap(
        "amenity" -> when(m < 20, element_at(amen, (pmod(id, lit(5L)) + 1).cast("int"))),
        "shop" -> when(m >= 20 && m < 30, lit("supermarket")),
        "tourism" -> when(m >= 30 && m < 35, lit("hotel")),
        "name" -> when(m < 28, concat(lit("poi "), id.cast("string"))),
        "highway" -> when(m >= 100 && m < 300, lit("crossing")),
        "source" -> when(m >= 300 && m < 400, lit("survey"))).as("tags"),
      when(corner, lon0(j) + when(k === 1 || k === 2, d).otherwise(lit(0.0)))
        .otherwise(pmod(id * 7907L + sx, lit(3600000L)) * 1e-4 - 180.0).as("lon"),
      when(corner, lat0(j) + when(k >= 2, d).otherwise(lit(0.0)))
        .otherwise(pmod(id * 7901L + sy, lit(1700000L)) * 1e-4 - 85.0).as("lat"),
      lit(null).cast("string").as("user_name"),
      lit(true).as("visible")): _*)
  }

  def waysDf(spark: SparkSession, parts: Int): DataFrame = {
    val j = col("id")
    val c = wayClass(j)
    val first = j * 4 + 1
    val missing = lit(nodes + 10) + j * 3
    val invalid = c >= 12 && c < 14
    spark.range(0, ways, 1, parts).select(meta(j + 1) ++ Seq(
      tagMap(
        "amenity" -> when(c < 8, lit("school")).when(invalid, lit("restaurant")),
        "shop" -> when(c >= 8 && c < 12, lit("supermarket")),
        "building" -> when(c >= 14 && c < 60, lit("yes")),
        "landuse" -> when(c >= 60, lit("residential"))).as("tags"),
      when(invalid, array(first, missing, missing + 1, missing + 2, first))
        .otherwise(array(first, first + 1, first + 2, first + 3, first)).as("nodes"),
      lit(null).cast("string").as("user_name"),
      lit(true).as("visible")): _*)
  }

  def relationsDf(spark: SparkSession, parts: Int): DataFrame = {
    val r = col("id")
    val poi = pmod(r * e + u, lit(10L)) < 6
    val outerWay = pmod(r, lit(ways / 100)) * 100 + j14 + 1
    spark.range(0, relations, 1, parts).select(meta(r + 1000000000L) ++ Seq(
      tagMap(
        "type" -> lit("multipolygon"),
        "tourism" -> when(poi, lit("hotel")),
        "building" -> when(!poi, lit("yes")),
        "name" -> when(poi, concat(lit("hotel "), r.cast("string")))).as("tags"),
      array(struct(lit("W").as("member_type"), outerWay.as("member_id"),
        lit("outer").as("member_role"))).as("members"),
      lit(null).cast("string").as("user_name"),
      lit(true).as("visible")): _*)
  }

  /** Writes `<dir>/{nodes,ways,relations}` as blob-parallel PBF files. */
  def writePbf(spark: SparkSession, dir: String, parts: Int): Unit =
    Parallel.foreach(Seq("nodes" -> nodesDf(spark, parts), "ways" -> waysDf(spark, parts),
        "relations" -> relationsDf(spark, math.max(1, parts / 4)))) { case (kind, df) =>
      df.write.format("osm-pbf").option("kind", kind).mode("append").save(s"$dir/$kind")
    }
}

object OsmExtract {
  /** The TagInfo dimension the extract is classified against. */
  def dimension(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (Seq("restaurant", "cafe", "bar", "school", "bench").map(v => ("amenity", v, 100000L, true)) ++
      Seq(("shop", "supermarket", 100000L, true), ("tourism", "hotel", 100000L, true),
        ("building", "yes", 100000L, true), ("highway", "crossing", 100000L, true)))
      .toDF("key", "value", "count", "in_wiki")
  }

  /** The reference's settings for the three POI keys, except that COPY
    * flushes every 100 rows instead of 10,000: a pass writes a few
    * thousand rows, and at 10,000 every partition would be one flush.
    */
  val settings: graft.model.PoiSettings = graft.model.PoiSettings(
    keys = Seq("amenity", "shop", "tourism"), minOccurrences = 1L, writeAfter = 100)
}

/** Seeded catalog inputs derived from a committed copy of the engine's
  * sf0.01 test tables.
  *
  * Each seed keeps a seeded ~90% of the rows (by a hash of the row's
  * key; lineitem follows its order, the two dimension tables are kept
  * whole), then for `copies` > 1 replicates `documents`, `events`,
  * `orders` and `part` in the style of `graft.tools.ScaleGen`: copy c
  * renames every document token t to `t~<salt>` (a seeded salt per
  * copy, so no shingle is shared across copies), shifts keys and user
  * ids past the base range, and moves events 30 days later per copy
  * (beyond the proximity join's one-hour window). Within-copy structure
  * is preserved; cross-copy similarity is destroyed, so work grows
  * linearly with `copies`.
  */
object SfDerive {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  val Scaled: Set[String] = Set("documents", "events", "orders", "part")
  private val keyOf = Map("customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey", "lineitem" -> "l_orderkey",
    "events" -> "event_id", "documents" -> "doc_id", "embeddings" -> "vec_id")
  /** Key offset per copy: above every key of the base tables. */
  val Stride = 10000000L

  def load(spark: SparkSession, base: String, table: String): DataFrame =
    if (table == "events") graft.sources.Tables.events(spark, base)
    else graft.sources.Tables.table(spark, base, table)

  def derive(spark: SparkSession, base: String, seed: Long, table: String,
      copies: Int, keepPermille: Int): DataFrame = {
    val df = load(spark, base, table)
    val kept = keyOf.get(table) match {
      case Some(k) =>
        df.filter(pmod(xxhash64(lit(seed), col(k).cast("long")),
          lit(1000L)) < keepPermille)
      case None => df
    }
    val out =
      if (copies <= 1 || !Scaled(table)) kept
      else (0 until copies).map(c => replicate(kept, table, seed, c)).reduce(_ unionByName _)
    // the engine reads events' ts to a session-zone timestamp; write it
    // back zone-less, as the committed tables store it
    if (table == "events") out.withColumn("ts", col("ts").cast("timestamp_ntz")) else out
  }

  /** Salt of copy c (c > 0): a short seeded token suffix. */
  def salt(seed: Long, c: Int): String =
    java.lang.Long.toString(new java.util.Random(seed * 31 + c).nextInt(1 << 20), 36)

  private def replicate(df: DataFrame, table: String, seed: Long, c: Int): DataFrame =
    if (c == 0) df
    else {
      val off = lit(c * Stride)
      table match {
        case "documents" => df
          .withColumn("doc_id", col("doc_id") + off)
          .withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1~" + salt(seed, c)))
          .withColumn("n_chars", length(col("text")).cast(df.schema("n_chars").dataType))
        case "events" => df
          .withColumn("event_id", col("event_id") + off)
          .withColumn("user_id", col("user_id") + off)
          .withColumn("ts", col("ts") + make_interval(lit(0), lit(0), lit(0), lit(30 * c)))
        case "orders" => df
          .withColumn("o_orderkey", col("o_orderkey") + off)
        case "part" => df
          .withColumn("p_partkey", col("p_partkey") + off)
      }
    }

  /** Writes every table `tables` names under `dir` (one parquet each,
    * laid out like an engine sf directory).
    */
  def write(spark: SparkSession, base: String, dir: String, seed: Long,
      tables: Seq[String], copies: Int, keepPermille: Int): Unit =
    Parallel.foreach(tables) { t =>
      derive(spark, base, seed, t, copies, keepPermille)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
}

/** Runs independent Spark actions from concurrent driver threads, at
  * most `threads` at a time, so small writes do not each wait for a
  * whole scheduling round trip; rethrows the first failure.
  */
object Parallel {
  def foreach[A](items: Seq[A], threads: Int = Int.MaxValue)(f: A => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(threads, items.size)))
    try {
      val futures = items.map(a => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = f(a)
      }))
      futures.foreach { fu =>
        try fu.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdownNow()
  }
}
