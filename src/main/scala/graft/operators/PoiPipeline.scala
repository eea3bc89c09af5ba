package graft.operators

import graft.model.{OsmModel, PoiSettings}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's full ETL as one composable transform — what
  * `filter.py OSMFILE` + `ways_to_centroids.sql` produce together
  * (SURVEY.md §3.1/§3.3): classify nodes and ways against the tag
  * dimension, project to Osmosis rows with WKB geometry, collapse small
  * ways to centroid nodes, and append them into the nodes relation.
  *
  * A user of the reference points this at their nodes/ways/dimension
  * tables instead of running the Python script + SQL file; sinks
  * ([[graft.sinks.PoiSink]]) then write parquet or JDBC.
  */
object PoiPipeline {

  final case class Result(nodes: DataFrame, ways: DataFrame,
      nodesWithCentroids: DataFrame, invalidWays: DataFrame)

  /** @param nodes OSM-nodes-shaped input ([[graft.model.OsmModel.nodesSchema]])
    * @param ways  OSM-ways-shaped input with assembled rings
    * @param dim   raw TagInfo dimension (key, value, count, in_wiki)
    */
  def run(nodes: DataFrame, ways: DataFrame, dim: DataFrame,
      settings: PoiSettings = PoiSettings()): Result =
    runPairs(nodes, ways, dimensionPairs(dim, settings), settings)

  /** The tag dimension's (key, value) pairs: the one eager step of a
    * pipeline build (a window top-k plus a collect), so each build
    * computes it once and hands it to every classify.
    */
  private def dimensionPairs(dim: DataFrame, settings: PoiSettings): Seq[(String, String)] =
    TagDimension.toPairs(TagDimension.prepare(dim, settings), settings)

  private def runPairs(nodes: DataFrame, ways: DataFrame, pairs: Seq[(String, String)],
      settings: PoiSettings): Result = {
    // A2 — progress instrumentation: the reference logs a line per 1M
    // objects evaluated (filter.py:213-228); the declarative analog is
    // an Observation-style metric riding the existing pass (no extra
    // job). Read them from a QueryExecutionListener or
    // df.observe-returned Observation.
    val poiNodes = PoiProjector.projectNodes(
      PoiClassifier.classify(nodes, pairs, settings), settings)
      .observe("poi_nodes", count(lit(1)).as("rows_kept"))

    if (settings.skipWays) {
      val emptyWays = PoiProjector.projectWays(ways.limit(0), settings)
      Result(poiNodes, emptyWays, poiNodes, emptyWays)
    } else {
      val classifiedWays = PoiClassifier.classify(ways, pairs, settings)
      val (poiWays, invalidWays) =
        PoiProjector.splitInvalid(PoiProjector.projectWays(classifiedWays, settings))
      // ways_to_centroids.sql post-process over the projected ways
      // relation: trim applies to its tags too (F9 happens at project)
      val trimmedWays =
        if (settings.trimTags.isEmpty) classifiedWays
        else classifiedWays.withColumn("tags", map_filter(col("tags"),
          (k, _) => !k.isin(settings.trimTags.map(x => x: Any): _*)))
      val centroids = WaysToCentroids.centroidRows(
        trimmedWays, OsmModel.CentroidAreaThreshold)
      Result(poiNodes, poiWays,
        WaysToCentroids.appendToNodes(poiNodes, centroids), invalidWays)
    }
  }

  /** Full ETL INCLUDING relation-derived areas — the reference's actual
    * F7 behavior (osmium feeds multipolygon-relation areas through the
    * same filter; the `isinstance` guard never fires,
    * filter.py:227-232). Relation multipolygons are assembled from
    * `wayPaths(way_id, path)`, classified with the same dimension, and
    * unioned into the areas output (their geometry already carries
    * holes; F6 split applies the same way). Ids stay the originating
    * relation ids (C5 `orig_id`) — callers whose way and relation id
    * spaces overlap can apply osmium's 2n / 2n+1 area-id convention
    * before the union; the relation rows remain identifiable by their
    * `type=multipolygon` tag either way.
    */
  def runWithRelations(nodes: DataFrame, ways: DataFrame,
      relations: DataFrame, wayPaths: DataFrame, dim: DataFrame,
      settings: PoiSettings = PoiSettings()): Result = {
    val pairs = dimensionPairs(dim, settings)
    val base = runPairs(nodes, ways, pairs, settings)
    if (settings.skipWays) base
    else {
      val areas = RelationAssembly.relationAreas(relations, wayPaths)
      val classified = PoiClassifier.classify(areas, pairs, settings)
      val trimmed =
        if (settings.trimTags.isEmpty) classified
        else classified.withColumn("tags", map_filter(col("tags"),
          (k, _) => !k.isin(settings.trimTags.map(x => x: Any): _*)))
      val (goodAreas, badAreas) = PoiProjector.splitInvalid(trimmed)
      base.copy(ways = base.ways.unionByName(goodAreas),
        invalidWays = base.invalidWays.unionByName(badAreas))
    }
  }
}
