package graft.sources.osmxml

import java.util

import graft.model.OsmModel
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 reader for OSM XML files (`.osm`) — the reference's S1
  * input surface (SURVEY.md §2.1; osmium parses PBF/XML, filter.py:260)
  * as a first-class Spark source:
  *
  * {{{
  *   spark.read.format("osm-xml").option("kind", "nodes").load("data/berlin.osm")
  *   spark.read.format("osm-xml").option("kind", "ways").load(...)
  * }}}
  * Paths accept Hadoop globs (e.g. `extracts/` followed by `*.osm`).
  *
  * Schemas follow the Osmosis shapes ([[graft.model.OsmModel]]); ways
  * carry their ordered node refs (`nodes array<bigint>`), with geometry
  * assembled downstream by the J2 join ([[graft.operators.WayAssembly]])
  * — exactly the split osmium's location cache hides.
  *
  * Scale model: one input partition per file (OSM XML is a single
  * document — not line-splittable without an index; large extracts ship
  * as many regional files). Parsing is streaming StAX (JDK built-in,
  * zero dependencies): constant memory per partition regardless of file
  * size. PBF would reuse this scaffold with a protobuf block reader —
  * blocked here by the no-new-dependencies build.
  */
class OsmXmlSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "osm-xml"

  private def kindOf(options: CaseInsensitiveStringMap): String = {
    val k = options.getOrDefault("kind", "nodes")
    require(k == "nodes" || k == "ways" || k == "relations",
      s"osm-xml kind must be nodes|ways|relations, got $k")
    k
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OsmXmlSource.schemaFor(kindOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OsmXmlTable(schema,
      properties.getOrDefault("kind", "nodes"),
      Option(properties.get("path")).toSeq)
}

object OsmXmlSource {
  /** Osmosis nodes shape with decomposed lon/lat (OsmModel.nodesSchema). */
  val nodesSchema: StructType = OsmModel.nodesSchema
  /** Osmosis ways shape minus the assembled ring (refs only). */
  val waysSchema: StructType = StructType(OsmModel.waysSchema.fields.filterNot(_.name == "ring"))
  /** Osmosis relations shape with the ordered member array. */
  val relationsSchema: StructType = OsmModel.relationsSchema

  def schemaFor(kind: String): StructType = kind match {
    case "ways" => waysSchema
    case "relations" => relationsSchema
    case _ => nodesSchema
  }
}

private[osmxml] class OsmXmlTable(schema: StructType, kind: String, paths: Seq[String])
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"osm-xml($kind)"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  /** Write side: one `.osm` document per task under the target
    * directory (the read side scans directories/globs, so the output is
    * immediately re-readable). Temp-file + rename per task; `append`
    * mode only.
    */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(paths.size == 1, "osm-xml write needs exactly one target path")
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write {
          override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
            new OsmXmlBatchWrite(kind, paths.head, graft.sources.SessionConf.broadcast())
        }
    }
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      private var required: StructType = schema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = this
      override def readSchema(): StructType = required
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val conf = org.apache.spark.sql.SparkSession.active
          .sessionState.newHadoopConf()
        paths.flatMap { p =>
          val hp = new Path(p)
          val fs = hp.getFileSystem(conf)
          val stats = fs.globStatus(hp) match {
            case null => Array.empty[org.apache.hadoop.fs.FileStatus]
            case gs => gs.flatMap { s =>
              if (s.isDirectory) fs.listStatus(s.getPath).filter(_.isFile) else Array(s)
            }
          }
          stats.map(s => OsmXmlPartition(s.getPath.toString): InputPartition)
        }.toArray
      }
      override def createReaderFactory(): PartitionReaderFactory =
        new OsmXmlReaderFactory(kind, schema, required, graft.sources.SessionConf.broadcast())
    }
}

private[osmxml] case class OsmXmlPartition(path: String) extends InputPartition

private[osmxml] class OsmXmlReaderFactory(kind: String, full: StructType,
    required: StructType, conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    graft.sources.Pruning.project(
      new OsmXmlPartitionReader(partition.asInstanceOf[OsmXmlPartition].path, kind,
        conf.value.value),
      full, required)
}

/** Streaming StAX parse of one OSM XML file, emitting one InternalRow
  * per requested entity kind.
  */
private[osmxml] class OsmXmlPartitionReader(path: String, kind: String,
    conf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {

  import javax.xml.stream.XMLStreamConstants._

  private val hp = new Path(path)
  // transparent decompression by extension (.osm.bz2 / .osm.gz — the
  // forms planet extracts actually ship in; osmium reads them natively,
  // cf. /root/reference/README.md:7's format guidance). A compressed
  // XML file stays one partition — none of these codecs are splittable,
  // and the source's unit of parallelism is the file either way.
  private val in = {
    val raw = hp.getFileSystem(conf).open(hp)
    val codec =
      new org.apache.hadoop.io.compress.CompressionCodecFactory(conf).getCodec(hp)
    if (codec == null) raw else codec.createInputStream(raw)
  }
  private val reader = javax.xml.stream.XMLInputFactory.newInstance().createXMLStreamReader(in)

  private var row: InternalRow = _

  private val targetElement = kind match {
    case "ways" => "way"
    case "relations" => "relation"
    case _ => "node"
  }

  private def attr(name: String): String = {
    var i = 0
    while (i < reader.getAttributeCount) {
      if (reader.getAttributeLocalName(i) == name) return reader.getAttributeValue(i)
      i += 1
    }
    null
  }

  private def parseTimestampMicros(s: String): Any =
    if (s == null) null
    else {
      val i = java.time.Instant.parse(s)
      java.lang.Long.valueOf(i.getEpochSecond * 1000000L + i.getNano / 1000)
    }

  override def next(): Boolean = {
    while (reader.hasNext) {
      if (reader.next() == START_ELEMENT) {
        if (reader.getLocalName == targetElement) {
          row = readEntity(targetElement)
          return true
        }
      }
    }
    false
  }

  /** Osmosis `character(1)` member-type codes (schema.sql:116). */
  private def memberTypeCode(t: String): UTF8String = t match {
    case "node" => UTF8String.fromString("N")
    case "way" => UTF8String.fromString("W")
    case _ => UTF8String.fromString("R")
  }

  private def readEntity(el: String): InternalRow = {
    val id = attr("id").toLong
    val version = Option(attr("version")).map(s => Int.box(s.toInt)).orNull
    val uid = Option(attr("uid")).map(s => Int.box(s.toInt)).orNull
    val ts = parseTimestampMicros(attr("timestamp"))
    val changeset = Option(attr("changeset")).map(s => Long.box(s.toLong)).orNull
    val lon = Option(attr("lon")).map(s => Double.box(s.toDouble)).orNull
    val lat = Option(attr("lat")).map(s => Double.box(s.toDouble)).orNull
    // `visible` is absent in data extracts (deleted objects never ship
    // there) → true, matching osmium/Osmosis semantics; both attributes
    // must be read here, before the child loop advances the cursor
    val userName = Option(attr("user")).map(UTF8String.fromString).orNull
    val visible = Boolean.box(Option(attr("visible")).forall(_.toBoolean))

    val tagKeys = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val tagVals = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val refs = scala.collection.mutable.ArrayBuffer.empty[Long]
    val members = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var depth = 1
    while (depth > 0 && reader.hasNext) {
      reader.next() match {
        case START_ELEMENT =>
          reader.getLocalName match {
            case "tag" =>
              tagKeys += UTF8String.fromString(attr("k"))
              tagVals += UTF8String.fromString(attr("v"))
            case "nd" => refs += attr("ref").toLong
            case "member" =>
              members += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                Array[Any](memberTypeCode(attr("type")), attr("ref").toLong,
                  UTF8String.fromString(Option(attr("role")).getOrElse(""))))
            case _ =>
          }
          depth += 1
        case END_ELEMENT => depth -= 1
        case _ =>
      }
    }

    val tags = new ArrayBasedMapData(
      new GenericArrayData(tagKeys.toArray[Any]),
      new GenericArrayData(tagVals.toArray[Any]))
    val common = Array[Any](id, version, uid, ts, changeset, tags)
    val extra: Array[Any] = el match {
      case "node" => Array(lon, lat)
      case "way" => Array(new GenericArrayData(refs.toArray[Any]): ArrayData)
      case _ => Array(new GenericArrayData(members.toArray[Any]): ArrayData)
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      common ++ extra ++ Array[Any](userName, visible))
  }

  override def get(): InternalRow = row
  override def close(): Unit = { reader.close(); in.close() }
}
