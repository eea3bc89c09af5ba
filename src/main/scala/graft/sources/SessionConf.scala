package graft.sources

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** The session's Hadoop configuration as one broadcast per scan or
  * write, the way Spark's own file scans ship it. The reader and writer
  * factories hold the broadcast handle, not the configuration: a
  * factory is deserialized once per task as part of the task binary,
  * and an inline `Configuration` (about 1,100 entries, 112 KB
  * serialized, each entry's source array gzipped) is decoded again every
  * time (measured in BASELINE.md). Built from `newHadoopConf()` at planning
  * time, so session-scoped filesystem options (`spark.conf.set("fs.…")`,
  * s3a credentials) still reach the executors — opening files with
  * `new Configuration()` there would silently drop them.
  */
object SessionConf {
  def broadcast(spark: SparkSession = SparkSession.active)
      : Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
}
