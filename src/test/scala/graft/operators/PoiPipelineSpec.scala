package graft.operators

import graft.model.{OsmModel, PoiSettings}
import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class PoiPipelineSpec extends SparkSpec {

  private val settings = PoiSettings(
    keys = Seq("orderstatus", "priority", "name", "parttype", "brand"),
    minOccurrences = 1000L)

  test("full pipeline: nodes + way centroids, disjoint id spaces, WKB geoms") {
    val r = PoiPipeline.run(
      Tables.osmNodes(spark, sf()), Tables.osmWays(spark, sf()),
      Tables.classificationDimDf(spark), settings)
    val n = r.nodes.count()
    val c = r.nodesWithCentroids.count()
    assert(n > 0 && c > n)
    assert(r.ways.count() > 0)
    assert(r.invalidWays.count() == 0) // all synthetic rings are valid
    // centroid rows sit in the offset id space and carry point WKB
    val centroidRows = r.nodesWithCentroids.filter(col("id") >= OsmModel.CentroidIdOffset)
    assert(centroidRows.count() == c - n)
    val geom = centroidRows.select("geom").head().getAs[Array[Byte]](0)
    assert(geom.length == 21 && geom(1) == 1) // WKB point
    // node rows carry point WKB too
    val ngeom = r.nodes.select("geom").head().getAs[Array[Byte]](0)
    assert(ngeom.length == 21)
  }

  test("runWithRelations unions classified relation areas into the ways output") {
    val base = PoiPipeline.run(
      Tables.osmNodes(spark, sf()), Tables.osmWays(spark, sf()),
      Tables.classificationDimDf(spark), settings)
    val withRels = PoiPipeline.runWithRelations(
      Tables.osmNodes(spark, sf()), Tables.osmWays(spark, sf()),
      Tables.osmRelations(spark, sf()), Tables.osmRelationWays(spark, sf()),
      Tables.classificationDimDf(spark), settings)
    val extra = withRels.ways.count() - base.ways.count()
    assert(extra > 0) // classified multipolygon areas joined the output
    // relation-derived rows are tagged type=multipolygon (way rows are
    // not); every one of them carries valid multi-ring WKB
    val relRows = withRels.ways
      .filter(element_at(col("tags"), "type") === "multipolygon")
    assert(relRows.count() == extra)
    assert(relRows.filter(col("geom").isNull).count() == 0)
  }

  test("skipWays settings short-circuit the way branch (F7)") {
    val r = PoiPipeline.run(
      Tables.osmNodes(spark, sf()), Tables.osmWays(spark, sf()),
      Tables.classificationDimDf(spark), settings.copy(skipWays = true))
    assert(r.ways.count() == 0)
    assert(r.nodesWithCentroids.count() == r.nodes.count())
  }

  test("trimTags (F9) strips keys from node and centroid tag bags") {
    val r = PoiPipeline.run(
      Tables.osmNodes(spark, sf()), Tables.osmWays(spark, sf()),
      Tables.classificationDimDf(spark), settings.copy(trimTags = Seq("brand", "name")))
    assert(r.nodesWithCentroids
      .filter(map_contains_key(col("tags"), "brand") ||
        map_contains_key(col("tags"), "name"))
      .count() == 0)
  }

  test("trimTags (F9) strips keys from relation areas too; an empty list is the identity") {
    val r = PoiPipeline.runWithRelations(
      Tables.osmNodes(spark, sf()), Tables.osmWays(spark, sf()),
      Tables.osmRelations(spark, sf()), Tables.osmRelationWays(spark, sf()),
      Tables.classificationDimDf(spark), settings.copy(trimTags = Seq("type")))
    assert(r.ways.count() > 0)
    assert(r.ways.union(r.invalidWays)
      .filter(map_contains_key(col("tags"), "type")).count() == 0)
    // the untrimmed plan carries no map_filter
    val tags = col("tags")
    assert(graft.functions.TagMatch.trimTags(tags, Nil) eq tags)
  }
}
