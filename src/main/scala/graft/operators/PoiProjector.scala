package graft.operators

import graft.functions.{GeoFunctions, TagMatch}
import graft.model.PoiSettings
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Projection of classified objects into the Osmosis POI row shape
  * (SURVEY.md §2.7 C3–C6, §2.3 F9/F6; reference `_osm_as_pg_row`,
  * filter.py:139-152).
  *
  * Output schema: id, version, user_id, tstamp, changeset_id,
  * tags (trimmed map), geom (WKB bytes — point for nodes, multipolygon
  * for ways). Timestamps stay `TimestampType` internally; the COPY text
  * formatting lives in [[graft.functions.HstoreCompat]].
  */
object PoiProjector {

  private def trimTags(settings: PoiSettings) =
    TagMatch.trimTags(col("tags"), settings.trimTags) // F9

  /** Nodes: C3 point geometry from lon/lat. C5 id choice is structural
    * (nodes carry their own id; filter.py:142-144).
    */
  def projectNodes(classified: DataFrame, settings: PoiSettings): DataFrame =
    classified.select(
      col("id"), col("version"), col("user_id"), col("tstamp"),
      col("changeset_id"),
      trimTags(settings).as("tags"),
      GeoFunctions.wkb_point(col("lon"), col("lat")).as("geom"))

  /** Ways/areas: C4 multipolygon geometry from the assembled exterior
    * ring; invalid rings yield null geom (F6 feed). The way id is
    * already the originating id (C5 `orig_id()` semantics,
    * filter.py:142-144).
    */
  def projectWays(classified: DataFrame, settings: PoiSettings): DataFrame =
    classified.select(
      col("id"), col("version"), col("user_id"), col("tstamp"),
      col("changeset_id"),
      trimTags(settings).as("tags"),
      GeoFunctions.wkb_multipolygon(col("ring")).as("geom"))

  /** F6 — split valid rows from the invalid-geometry dead-letter branch
    * (reference records invalid ids and excludes them,
    * filter.py:119-137,185-203; the dead-letter dump is K3,
    * filter.py:71-77).
    */
  def splitInvalid(projected: DataFrame): (DataFrame, DataFrame) =
    (projected.filter(col("geom").isNotNull),
      projected.filter(col("geom").isNull))
}
