package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Seeded inputs are reproducible and seed-sensitive, and the
  * `poi_etl` closed-form counts match what the engine produces.
  */
class InputsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private val base = "data/sf0.01"
  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def pbfHash(seed: Long): Seq[(Long, String)] = {
    val dir = tmp("pbf") + "/x"
    OsmExtract(seed, 4000L, 200L, 20L).writePbf(spark, dir, 2)
    Seq("nodes", "ways", "relations").map(k => ContentHash.of(
      spark.read.format("osm-pbf").option("kind", k).load(s"$dir/$k")))
  }

  test("the same seed yields the same PBF content, another seed different content") {
    val a = pbfHash(7L)
    assert(a == pbfHash(7L))
    val b = pbfHash(8L)
    assert(a.map(_._1) == b.map(_._1))
    assert(a.zip(b).forall { case (x, y) => x._2 != y._2 })
  }

  test("the same seed derives the same catalog tables, another seed different ones") {
    def hashes(seed: Long, copies: Int) = Seq("orders", "documents", "events").map(t =>
      ContentHash.of(SfDerive.derive(spark, base, seed, t, copies, 900)))
    assert(hashes(3L, 1) == hashes(3L, 1))
    assert(hashes(3L, 1).zip(hashes(4L, 1)).forall { case (x, y) => x != y })
    assert(hashes(3L, 2) == hashes(3L, 2))
    // copies scale the row count exactly
    assert(hashes(3L, 2).map(_._1) == hashes(3L, 1).map(_._1 * 2))
  }

  test("poi_etl closed-form counts match the engine's output") {
    for (seed <- Seq(1L, 2L)) {
      val x = OsmExtract(seed, 20000L, 1000L, 100L)
      val dir = tmp("poi") + "/pbf"
      x.writePbf(spark, dir, 2)
      def read(k: String) = spark.read.format("osm-pbf").option("kind", k).load(s"$dir/$k")
      val nodes = read("nodes")
      val ways = read("ways")
      val rings = graft.operators.WayAssembly.assembleRings(ways,
        nodes.select(col("id").as("node_id"), col("lon"), col("lat")))
      val r = graft.operators.PoiPipeline.runWithRelations(nodes, ways.join(rings, "id"),
        read("relations"), rings.select(col("id").as("way_id"), col("ring").as("path")),
        OsmExtract.dimension(spark), OsmExtract.settings)
      assert(nodes.count() + ways.count() + read("relations").count() == x.objects)
      assert(r.nodes.count() == x.Expected.poiNodes)
      assert(r.ways.count() == x.Expected.areaRows)
      assert(r.invalidWays.count() == x.Expected.invalidWays)
      assert(r.nodesWithCentroids.count() == x.Expected.nodeRows)
    }
  }

  test("residue-rule counts agree with a direct count of the generated tags") {
    val x = OsmExtract(5L, 10000L, 500L, 50L)
    val n = x.nodesDf(spark, 2)
    val poi = n.filter(col("tags").getItem("amenity").isNotNull ||
      col("tags").getItem("shop").isNotNull || col("tags").getItem("tourism").isNotNull)
    assert(poi.count() == x.Expected.poiNodes)
    val w = x.waysDf(spark, 2)
    assert(w.filter(col("tags").getItem("amenity").isNotNull ||
      col("tags").getItem("shop").isNotNull).count() ==
      x.Expected.poiWays + x.Expected.invalidWays)
  }

  test("the COPY sink flushes every writeAfter rows, per partition, in closed form") {
    import spark.implicits._
    CopyCounter.reset()
    val rows = (1 to 1050).map(i => s"$i\tx").toDF("row").repartition(3)
    graft.sinks.PoiSink.writeCopyTsv(rows, "nodes", "geom", OsmExtract.settings,
      new CountingCopyProvider)
    val t = CopyCounter.table("nodes")
    val parts = t.perPartition
    assert(parts.size == 3 && parts.values.map(_._2).sum == 1050)
    assert(parts.values.forall { case (f, r) =>
      f == PoiEtl.expectedFlushes(r, OsmExtract.settings.writeAfter) })
    assert(parts.values.exists(_._1 > 1))
    assert(t.maxFlush.get == OsmExtract.settings.writeAfter)
    assert(PoiEtl.expectedFlushes(0L, 100) == 0 && PoiEtl.expectedFlushes(100L, 100) == 1 &&
      PoiEtl.expectedFlushes(101L, 100) == 2)
  }

  test("spans nest, carry the run id, and tag the jobs they start") {
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    val t = new Tracer(true, "run-1", spark.sparkContext)
    t.span("queries", "q") {
      t.span("plan", "q")(())
      t.span("exec", "q")(spark.range(10).count())
    }
    org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)
    spark.sparkContext.removeSparkListener(probe)
    val s = t.spans.sortBy(_.id)
    assert(s.map(_.layer) == Seq("queries", "plan", "exec"))
    assert(s.map(_.parent) == Seq(0, 1, 1))
    assert(s.forall(_.run == "run-1"))
    assert(probe.jobs.values.toSet == Set(3))
    assert(spark.sparkContext.getLocalProperty(Tracer.SpanProperty) == null)
  }
}
