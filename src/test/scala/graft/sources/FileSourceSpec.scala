package graft.sources

import java.net.URI
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** The file-source frame `osm-pbf`, `osm-xml` and `warc` share
  * ([[FileTable]]): the lister's hidden-file rule, the checked task
  * commit, the `kind` check of the OSM formats and column pruning.
  */
class FileSourceSpec extends SparkSpec {

  private def xmlPath = getClass.getResource("/sample.osm").getPath

  private def tmp(): String = Files.createTempDirectory("graft-filesource-").toString

  private def xmlNodes = spark.read.format("osm-xml").option("kind", "nodes").load(xmlPath)

  private def warcRecords = spark.range(3).select(
    concat(lit("<urn:x:"), col("id").cast("string"), lit(">")).as("record_id"),
    lit("response").as("record_type"),
    concat(lit("http://a.example/p"), col("id").cast("string")).as("target_uri"),
    encode(concat(lit("body "), col("id").cast("string")), "UTF-8").as("payload"))

  /** Each format with rows to write into it and the options that read
    * them back.
    */
  private def formats: Seq[(String, DataFrame, Map[String, String])] = Seq(
    ("osm-pbf", xmlNodes, Map("kind" -> "nodes")),
    ("osm-xml", xmlNodes, Map("kind" -> "nodes")),
    ("warc", warcRecords, Map.empty))

  private def write(format: String, df: DataFrame, opts: Map[String, String], dir: String): Unit =
    df.coalesce(1).write.format(format).options(opts).mode("append").save(dir)

  private def read(format: String, opts: Map[String, String], dir: String): DataFrame =
    spark.read.format(format).options(opts).load(dir)

  private def messages(t: Throwable): List[String] =
    if (t == null) Nil else Option(t.getMessage).toList ++ messages(t.getCause)

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("a refused rename fails the write, naming the temp and the part file") {
    withConf("fs.graftnorename.impl" -> classOf[RefusingRenameFileSystem].getName,
      "fs.graftnorename.impl.disable.cache" -> "true") {
      for ((format, df, opts) <- formats) {
        val ext = if (format == "osm-pbf") "osm.pbf" else if (format == "osm-xml") "osm" else "warc"
        val dir = "graftnorename://" + tmp() + "/out"
        val e = intercept[Exception](write(format, df, opts, dir))
        val named = s"(?s).*could not rename \\S*/\\.part-00000-\\d+\\.$ext\\.tmp to \\S*/part-00000\\.$ext\\b.*"
        assert(messages(e).exists(_.matches(named)), s"$format: ${messages(e)}")
      }
      // the CDX sidecar's rename is checked too
      withConf("fs.graftnorename.refuse" -> ".cdx") {
        val dir = "graftnorename://" + tmp() + "/out"
        val e = intercept[Exception](write("warc", warcRecords, Map("index" -> "true"), dir))
        val named = "(?s).*could not rename \\S*/\\.part-00000-\\d+\\.cdx\\.tmp to \\S*/part-00000\\.cdx\\b.*"
        assert(messages(e).exists(_.matches(named)), messages(e))
      }
    }
  }

  test("names starting with '.' (a dead writer's temp files) are never read") {
    for ((format, df, opts) <- formats) {
      val dir = tmp() + "/out"
      write(format, df, opts, dir)
      val Array(part) = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      val bytes = Files.readAllBytes(part.toPath)
      // one truncated temp file, and one whole copy of the part
      Files.write(Paths.get(dir, s".${part.getName.replace("part-00000", "part-00000-9")}.tmp"),
        bytes.take(bytes.length / 2))
      Files.write(Paths.get(dir, s".${part.getName.replace("part-00000", "part-00001-9")}.tmp"),
        bytes)
      val back = read(format, opts, dir).select(df.columns.head).collect().map(_.toString).sorted
      assert(back.toSeq == df.select(df.columns.head).collect().map(_.toString).sorted.toSeq,
        format)
    }
  }

  test("osm-pbf and osm-xml reject a kind other than nodes|ways|relations") {
    val dir = tmp() + "/nodes"
    write("osm-pbf", xmlNodes, Map("kind" -> "nodes"), dir)
    for (format <- Seq("osm-pbf", "osm-xml")) {
      val r = intercept[IllegalArgumentException](
        spark.read.format(format).option("kind", "way").load(dir).count())
      assert(r.getMessage.contains("nodes|ways|relations"), s"$format: ${r.getMessage}")
      val w = intercept[Exception](write(format, xmlNodes, Map("kind" -> "node"), tmp() + "/w"))
      assert(messages(w).exists(_.contains("nodes|ways|relations")), s"$format: ${messages(w)}")
    }
  }

  test("column pruning reaches the scan on every format (pruned ReadSchema, same values as a full read)") {
    val pruned = Map("osm-pbf" -> Seq("id", "lat"), "osm-xml" -> Seq("id", "lat"),
      "warc" -> Seq("target_uri", "content_length"))
    for ((format, df, opts) <- formats) {
      val dir = tmp() + "/out"
      write(format, df, opts, dir)
      val cols = pruned(format)
      val full = read(format, opts, dir)
      val narrow = full.select(cols.map(col): _*)
      val readSchema = narrow.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.scan.readSchema().fieldNames.toSeq
      }
      assert(readSchema.contains(cols), s"$format scan not pruned: $readSchema")
      assert(full.schema.length > cols.length)
      def sorted(rows: Seq[Seq[Any]]) = rows.map(_.mkString("|")).sorted
      val wide = full.collect().toSeq.map(r => cols.map(c => r.get(r.fieldIndex(c))))
      assert(wide.nonEmpty)
      assert(sorted(narrow.collect().toSeq.map(_.toSeq)) == sorted(wide), format)
    }
  }
}

/** A `LocalFileSystem` under the `graftnorename://` scheme whose
  * `rename` returns `false` when the target name ends with the session's
  * `fs.graftnorename.refuse` (every target by default).
  */
class RefusingRenameFileSystem extends LocalFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("graftnorename:///")
}) {
  override def getScheme: String = "graftnorename"
  override def rename(src: Path, dst: Path): Boolean =
    !dst.getName.endsWith(getConf.get("fs.graftnorename.refuse", "")) && super.rename(src, dst)
}
