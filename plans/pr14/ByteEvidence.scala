import java.security.MessageDigest

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Writes osm-pbf, osm-xml and warc files from fixed inputs and prints
  * the sha256 of every file written, by path relative to the output
  * (`written_files.sha256` next to this file, identical on the parent
  * commit 97c83a1 and on the shared file-source frame). To re-run it,
  * copy it under `src/test/scala/` and run
  * `sbt "Test/runMain ByteEvidence <empty-out-dir> src/test/resources/sample.osm"`.
  */
object ByteEvidence {
  def main(args: Array[String]): Unit = {
    val Array(out, xml) = args
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.session.timeZone", "UTC").config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (kind <- Seq("nodes", "ways", "relations")) {
      val src = spark.read.format("osm-xml").option("kind", kind).load(xml)
      src.write.format("osm-pbf").option("kind", kind).mode("append").save(s"$out/pbf-$kind")
      src.write.format("osm-xml").option("kind", kind).mode("append").save(s"$out/xml-$kind")
    }
    val ts = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-04T05:06:07Z"))
    val rows = (1L to 20000L).map(id => Row(id, 1, 7, ts, 900L,
      Map("amenity" -> s"a$id", "name" -> s"n <&> $id"), (id % 360) - 180.0 + 0.5,
      (id % 170) - 85.0 + 0.25, "alice", id % 11 != 0))
    val big = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      graft.sources.osmxml.OsmXmlSource.nodesSchema)
    big.write.format("osm-pbf").option("kind", "nodes").mode("append").save(s"$out/pbf-big")
    big.write.format("osm-xml").option("kind", "nodes").mode("append").save(s"$out/xml-big")
    val recs = spark.range(0, 500, 1, 2).select(
      concat(lit("<urn:x:"), col("id").cast("string"), lit(">")).as("record_id"),
      lit("response").as("record_type"),
      concat(lit("http://h"), (col("id") % 7).cast("string"), lit(".ex/p/"), col("id").cast("string")).as("target_uri"),
      lit("2026-01-01T00:00:00Z").as("warc_date"),
      lit("text/html").as("content_type"),
      map(lit("X-Crawl"), concat(lit("seg-"), (col("id") % 3).cast("string"))).as("headers"),
      encode(concat(lit("<html><body>page "), col("id").cast("string"), lit("</body></html>")), "UTF-8").as("payload"))
    recs.write.format("warc").mode("append").save(s"$out/warc-plain")
    recs.write.format("warc").option("compression", "gzip").mode("append").save(s"$out/warc-gz")
    recs.write.format("warc").option("compression", "gzip").option("index", "true")
      .mode("append").save(s"$out/warc-gz-cdx")
    spark.stop()
    val root = java.nio.file.Paths.get(out)
    java.nio.file.Files.walk(root).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
      .map { p =>
        val h = MessageDigest.getInstance("SHA-256").digest(java.nio.file.Files.readAllBytes(p))
        s"${h.map("%02x".format(_)).mkString}  ${root.relativize(p)}"
      }.sorted.foreach(println)
  }
}
