package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Spatial grid-cell layout — the "z-order-lite" physical-design aid
  * from SURVEY.md §4: the reference clusters its Postgres tables on a
  * spatial GiST index (schema.sql:264-289); the Spark analogue is
  * partitioning/sorting by a coarse spatial cell so spatially-local
  * queries prune files and co-locate joins.
  *
  * The cell id is a simple row-major grid index (codegen'd arithmetic,
  * reproducible in ANSI SQL) rather than an interleaved Morton code:
  * at file-pruning granularity the grid already gives the locality win,
  * and keeping it SQL-expressible keeps it oracle-checkable.
  */
object SpatialCell {

  /** Row-major cell id for a lon/lat at `cellDeg` resolution.
    * id = floor((lat+90)/cellDeg) * ncols + floor((lon+180)/cellDeg),
    * clamped into range so lon=180/lat=90 don't overflow the grid.
    */
  def cellId(lon: Column, lat: Column, cellDeg: Double): Column = {
    val ncols = math.ceil(360.0 / cellDeg).toLong
    val nrows = math.ceil(180.0 / cellDeg).toLong
    val xc = least(floor((lon + 180.0) / cellDeg), lit(ncols - 1)).cast("long")
    val yc = least(floor((lat + 90.0) / cellDeg), lit(nrows - 1)).cast("long")
    yc * ncols + xc
  }
}
