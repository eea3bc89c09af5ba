package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver's deterministic parquet testdata
  * (TESTDATA.md) plus the deterministic OSM-shaped derivations the
  * reference-operator queries run on.
  *
  * The derivations exist because the harness testdata is TPC-H-ish while
  * the reference's data model is OSM-shaped (SURVEY.md §1); deriving
  * nodes/ways/dimension deterministically from the parquet tables lets
  * every reference operator be exercised end-to-end AND oracle-checked in
  * DuckDB by re-expressing the same derivation in ANSI SQL.
  */
object Tables {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    ParquetSchemaMemo.read(spark, s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  /** The events parquet's `ts` encoding has varied across testdata
    * generations: TIMESTAMP(NANOS) — which Spark's parquet reader
    * rejects outright (PARQUET_TYPE_ILLEGAL), so it must be read as the
    * physical INT64 and floor-divided to micros (integer `div` — float
    * division would lose precision at 1.7e18 ns) — versus plain
    * TIMESTAMP(MICROS)/NTZ, which reads natively. Resolve whichever is
    * on disk to one shape (session-tz TimestampType) so every consumer,
    * batch or streaming, sees identical `ts` semantics.
    */
  private[graft] val eventsLongSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
  }

  /** Read an events-shaped parquet path (file, dir, or glob), resolving
    * the on-disk `ts` encoding per the note above. A native read that
    * yields a timestamp `ts` wins; a LongType `ts` (raw INT64 nanos,
    * also what the streaming-spec fixtures write) or an illegal-type
    * failure (TIMESTAMP(NANOS) footer) falls back to the INT64 path.
    */
  private[graft] def readEvents(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    scala.util.Try(ParquetSchemaMemo.read(spark, path)).toOption
      .filter(df => df.schema.fieldNames.contains("ts") &&
        (df.schema("ts").dataType match {
          case TimestampType | TimestampNTZType => true
          case _ => false
        }))
      .map(df => df.withColumn("ts", col("ts").cast(TimestampType)))
      .getOrElse(
        spark.read.schema(eventsLongSchema).parquet(path)
          .withColumn("ts", timestamp_micros(expr("ts div 1000"))))
  }

  def events(spark: SparkSession, sfDir: String): DataFrame =
    readEvents(spark, s"$sfDir/events.parquet")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** OSM-nodes-shaped table derived from `orders` (schema:
    * [[graft.model.OsmModel.nodesSchema]] — Osmosis `nodes`,
    * reference schema.sql:95-103). `o_orderkey` is the unique PK the
    * OSM node id needs (schema.sql:96); lineitem has no unique natural
    * key in this testdata.
    *
    * Mapping (each column a simple ANSI-SQL-expressible function so the
    * DuckDB oracle can reproduce it):
    *   - id           = o_orderkey
    *   - version      = 1
    *   - user_id      = o_custkey
    *   - tstamp       = o_orderdate
    *   - changeset_id = o_custkey
    *   - tags         = { orderstatus → o_orderstatus,
    *                      priority → o_orderpriority,
    *                      name → 'poi_<id>' iff o_totalprice > 200000 }
    *   - lon/lat      = scaled totalprice folds
    */
  def osmNodes(spark: SparkSession, sfDir: String): DataFrame = {
    val o = orders(spark, sfDir)
    o.select(
      col("o_orderkey").as("id"),
      lit(1).cast("int").as("version"),
      col("o_custkey").cast("int").as("user_id"),
      col("o_orderdate").as("tstamp"),
      col("o_custkey").as("changeset_id"),
      map_filter(
        map(
          lit("orderstatus"), col("o_orderstatus"),
          lit("priority"), col("o_orderpriority"),
          lit("name"), when(col("o_totalprice") > 200000,
            concat(lit("poi_"), col("o_orderkey").cast("string")))),
        (_, v) => v.isNotNull).as("tags"),
      (col("o_totalprice") % 360 - 180).as("lon"),
      (col("o_totalprice") % 170 - 85).as("lat"))
  }

  /** OSM-ways-shaped table derived from `part` (schema:
    * [[graft.model.OsmModel.waysSchema]] — Osmosis `ways`,
    * schema.sql:186-195), with the exterior ring assembled as a closed
    * axis-aligned square so the DuckDB oracle can reproduce centroid and
    * spherical area in closed form:
    *   - id    = p_partkey
    *   - side  d = 0.001° if p_size <= 25 else 0.1°  (≈ small vs huge area)
    *   - lon0  = (p_retailprice % 300) - 150, lat0 = (p_partkey % 120) - 60
    *   - ring  = [(lon0,lat0),(lon0+d,lat0),(lon0+d,lat0+d),(lon0,lat0+d),(lon0,lat0)]
    *   - nodes = 4 synthetic node refs (id*10 .. id*10+3), feeding the
    *     J2/X2 explode-assembly queries
    */
  def osmWays(spark: SparkSession, sfDir: String): DataFrame = {
    val p = part(spark, sfDir)
    val d = when(col("p_size") <= 25, lit(0.001)).otherwise(lit(0.1))
    val lon0 = col("p_retailprice") % 300 - 150
    val lat0 = col("p_partkey") % 120 - 60
    def pt(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      struct(x.cast("double").as("lon"), y.cast("double").as("lat"))
    p.select(
      col("p_partkey").as("id"),
      lit(1).cast("int").as("version"),
      col("p_size").cast("int").as("user_id"),
      to_timestamp(lit("2024-01-01 00:00:00")).as("tstamp"),
      col("p_partkey").as("changeset_id"),
      map(lit("parttype"), col("p_type"), lit("brand"), col("p_brand")).as("tags"),
      array((0 to 3).map(i => col("p_partkey") * 10 + i): _*).as("nodes"),
      array(
        pt(lon0, lat0), pt(lon0 + d, lat0), pt(lon0 + d, lat0 + d),
        pt(lon0, lat0 + d), pt(lon0, lat0)).as("ring"))
  }

  /** OSM-multipolygon-relations-shaped table derived from `part`
    * (schema: [[graft.model.OsmModel.relationsSchema]] — Osmosis
    * `relations` + member array, schema.sql:105-138). One relation per
    * part with `p_partkey % 5 = 0`:
    *   - members[0..1]: TWO OPEN outer ways (the osmWays square split at
    *     opposite corners — exercises real ring stitching)
    *   - members[2] (only when `p_partkey % 10 = 0`): a closed inner
    *     ring (the inset square with side d/2 at lon0+d/4, lat0+d/4) —
    *     a hole, so assembled area has the closed form
    *     outer_area − inner_area the DuckDB oracle reproduces
    * Member way ids live at 5e6/7e6 (outers) and 6e6 (inner) + p_partkey.
    */
  def osmRelations(spark: SparkSession, sfDir: String): DataFrame = {
    val p = part(spark, sfDir).filter(col("p_partkey") % 5 === 0)
    def member(idc: org.apache.spark.sql.Column, role: String) =
      struct(lit("W").as("member_type"), idc.as("member_id"),
        lit(role).as("member_role"))
    val mA = member(col("p_partkey") + 5000000L, "outer")
    val mB = member(col("p_partkey") + 7000000L, "outer")
    val mI = member(col("p_partkey") + 6000000L, "inner")
    p.select(
      col("p_partkey").as("id"),
      lit(1).cast("int").as("version"),
      col("p_size").cast("int").as("user_id"),
      to_timestamp(lit("2024-01-01 00:00:00")).as("tstamp"),
      col("p_partkey").as("changeset_id"),
      map(lit("type"), lit("multipolygon"), lit("parttype"), col("p_type"),
        lit("brand"), col("p_brand")).as("tags"),
      when(col("p_partkey") % 10 === 0, array(mA, mB, mI))
        .otherwise(array(mA, mB)).as("members"))
  }

  /** Member-way geometry for [[osmRelations]]: (way_id, path). The two
    * outer halves share endpoint doubles bit-for-bit (same column
    * expressions), so the stitcher's exact endpoint matching holds.
    */
  def osmRelationWays(spark: SparkSession, sfDir: String): DataFrame = {
    val p = part(spark, sfDir).filter(col("p_partkey") % 5 === 0)
    val d = when(col("p_size") <= 25, lit(0.001)).otherwise(lit(0.1))
    val lon0 = col("p_retailprice") % 300 - 150
    val lat0 = col("p_partkey") % 120 - 60
    def pt(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      struct(x.cast("double").as("lon"), y.cast("double").as("lat"))
    val li0 = lon0 + d / 4
    val la0 = lat0 + d / 4
    val h = d / 2
    p.select(explode(array(
        struct((col("p_partkey") + 5000000L).as("way_id"),
          array(pt(lon0, lat0), pt(lon0 + d, lat0), pt(lon0 + d, lat0 + d))
            .as("path")),
        struct((col("p_partkey") + 7000000L).as("way_id"),
          array(pt(lon0 + d, lat0 + d), pt(lon0, lat0 + d), pt(lon0, lat0))
            .as("path")),
        struct((col("p_partkey") + 6000000L).as("way_id"),
          array(pt(li0, la0), pt(li0 + h, la0), pt(li0 + h, la0 + h),
            pt(li0, la0 + h), pt(li0, la0)).as("path")))).as("w"))
      .select(col("w.way_id").as("way_id"), col("w.path").as("path"))
  }

  /** The literal TagInfo-shaped dimension used by the oracle-checked
    * classification queries: exercises the threshold (MIN_OCCURENCES =
    * 1000, settings_default.py:17), the ';' multi-value drop and the
    * `in_wiki` drop (F5, filter.py:241-247).
    *
    * Kept literal (not read from data) so the DuckDB oracle can encode
    * the surviving pairs as a static predicate. Survivors after F5 +
    * threshold: (orderstatus→F), (orderstatus→P), (priority→1-URGENT).
    */
  val classificationDim: Seq[(String, String, Long, Boolean)] = Seq(
    ("orderstatus", "F", 5000L, true),      // survives
    ("orderstatus", "P", 1500L, true),      // survives
    ("orderstatus", "O", 900L, true),       // dropped: count ≤ 1000
    ("priority", "1-URGENT", 2000L, true),  // survives
    ("priority", "2-HIGH;X", 3000L, true),  // dropped: ';' multi-value (F5)
    ("priority", "3-MEDIUM", 3000L, false), // dropped: not in wiki (F5)
    // ways-side keys (only selected when settings.keys includes them)
    ("parttype", "PROMO", 3000L, true),     // survives
    ("parttype", "ECONOMY", 1500L, true),   // survives
    ("brand", "Brand#13", 2000L, true)      // survives
  )

  def classificationDimDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    classificationDim.toDF("key", "value", "count", "in_wiki")
  }
}
