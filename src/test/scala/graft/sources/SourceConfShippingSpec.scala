package graft.sources

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.sources.osmpbf.OsmPbfSource
import graft.sources.osmxml.OsmXmlSource
import graft.sources.warc.WarcSource
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, RawLocalFileSystem}
import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.PartitionReaderFactory
import org.apache.spark.sql.connector.write.{DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** How the graft sources ship the session's Hadoop conf to executors:
  * a broadcast handle inside each reader and writer factory, so the
  * per-task factory stays small (the inline conf is ~112 KiB), while
  * session-scoped filesystem options still reach the executor side.
  */
class SourceConfShippingSpec extends SparkSpec {

  private def xmlPath = getClass.getResource("/sample.osm").getPath

  private def tmp(): String = java.nio.file.Files.createTempDirectory("graft-conf-").toString

  private def table(src: TableProvider, schema: StructType, opts: (String, String)*): Table =
    src.getTable(schema, Array.empty[Transform], opts.toMap.asJava)

  private def readerFactory(t: Table): PartitionReaderFactory =
    t.asInstanceOf[SupportsRead].newScanBuilder(CaseInsensitiveStringMap.empty())
      .build().toBatch.createReaderFactory()

  private def writerFactory(t: Table, writeSchema: StructType): DataWriterFactory = {
    val info = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()
      override def queryId(): String = "conf-shipping"
      override def schema(): StructType = writeSchema
    }
    t.asInstanceOf[SupportsWrite].newWriteBuilder(info).build().toBatch
      .createBatchWriterFactory(new PhysicalWriteInfo { override def numPartitions(): Int = 1 })
  }

  /** Closure-serializer round trip, as the scheduler ships a factory
    * inside each task binary; returns the serialized size.
    */
  private def shippedBytes(factory: AnyRef): Int = {
    val ser = SparkEnv.get.closureSerializer.newInstance()
    val buf = ser.serialize(factory)
    val size = buf.remaining()
    val back = ser.deserialize[AnyRef](buf, getClass.getClassLoader)
    assert(back.getClass == factory.getClass)
    size
  }

  private val limit = 8 * 1024

  test("osm-pbf, osm-xml and warc reader and writer factories serialize under 8 KiB") {
    spark // the factories broadcast through the active session
    val pbfSchema = OsmXmlSource.nodesSchema
    val factories = Seq(
      "osm-pbf reader" -> readerFactory(table(new OsmPbfSource, pbfSchema, "path" -> tmp())),
      "osm-pbf writer" -> writerFactory(
        table(new OsmPbfSource, pbfSchema, "path" -> tmp(), "kind" -> "nodes"), pbfSchema),
      "osm-xml reader" -> readerFactory(table(new OsmXmlSource, pbfSchema, "path" -> tmp())),
      "osm-xml writer" -> writerFactory(table(new OsmXmlSource, pbfSchema, "path" -> tmp()), pbfSchema),
      "warc reader" -> readerFactory(table(new WarcSource, WarcSource.schema, "path" -> tmp())),
      "warc writer" -> writerFactory(
        table(new WarcSource, WarcSource.schema, "path" -> tmp()), WarcSource.schema),
      "warc micro-batch reader" ->
        table(new WarcSource, WarcSource.schema, "path" -> tmp()).asInstanceOf[SupportsRead]
          .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
          .toMicroBatchStream(tmp()).createReaderFactory())
    val sizes = factories.map { case (name, f) => name -> shippedBytes(f) }
    sizes.foreach { case (name, size) => assert(size < limit, s"$name ships $size bytes") }
  }

  test("a round-tripped reader factory still reads through the broadcast conf") {
    val src = spark.read.format("osm-xml").option("kind", "nodes").load(xmlPath)
    val dir = tmp() + "/pbf"
    src.write.format("osm-pbf").option("kind", "nodes").mode("append").save(dir)
    val batch = table(new OsmPbfSource, OsmXmlSource.nodesSchema, "path" -> dir, "kind" -> "nodes")
      .asInstanceOf[SupportsRead].newScanBuilder(CaseInsensitiveStringMap.empty()).build().toBatch
    val ser = SparkEnv.get.closureSerializer.newInstance()
    val factory = ser.deserialize[PartitionReaderFactory](
      ser.serialize(batch.createReaderFactory()), getClass.getClassLoader)
    val rows = batch.planInputPartitions().map { p =>
      val r = factory.createReader(p)
      var n = 0
      try while (r.next()) n += 1 finally r.close()
      n
    }.sum
    assert(rows == 3)
  }

  test("session-scoped filesystem options reach osm-pbf and osm-xml readers and writers") {
    // the scheme exists only in the session conf, and uncached, so every
    // executor-side getFileSystem must see the conf the driver planned with
    val keys = Seq("fs.graftsession.impl" -> classOf[SessionSchemeFileSystem].getName,
      "fs.graftsession.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      SessionSchemeFileSystem.opened.set(0)
      val base = "graftsession://" + tmp()
      def roundTrip(format: String, kind: String): (DataFrame, DataFrame) = {
        val src = spark.read.format("osm-xml").option("kind", kind).load(xmlPath)
        src.repartition(2).write.format(format).option("kind", kind).mode("append")
          .save(s"$base/$format-$kind")
        (src, spark.read.format(format).option("kind", kind).load(s"$base/$format-$kind"))
      }
      for (format <- Seq("osm-pbf", "osm-xml"); kind <- Seq("nodes", "ways")) {
        val (src, back) = roundTrip(format, kind)
        assert(back.select("id").orderBy("id").collect().toSeq ==
          src.select("id").orderBy("id").collect().toSeq, s"$format $kind")
      }
      assert(SessionSchemeFileSystem.opened.get > 0)
      // without the session options the scheme does not resolve at all
      keys.foreach { case (k, _) => spark.conf.unset(k) }
      intercept[Exception] {
        spark.read.format("osm-pbf").load(s"$base/osm-pbf-nodes").count()
      }
    } finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }
}

/** A `LocalFileSystem` served under its own `graftsession://` scheme,
  * registered only through session conf.
  */
class SessionSchemeFileSystem extends LocalFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("graftsession:///")
}) {
  override def getScheme: String = "graftsession"
  override def initialize(name: URI, conf: Configuration): Unit = {
    SessionSchemeFileSystem.opened.incrementAndGet()
    super.initialize(name, conf)
  }
}

object SessionSchemeFileSystem {
  val opened = new AtomicInteger(0)
}
