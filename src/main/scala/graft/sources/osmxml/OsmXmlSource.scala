package graft.sources.osmxml

import java.util

import graft.model.OsmModel
import graft.sources.{FilePart, FileSource, FileTable, PartFormat, RowDecoder}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.LogicalWriteInfo
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

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
  * size. Listing, column pruning, the write chain and the task commit
  * are the shared file-source frame ([[graft.sources.FileTable]]), as
  * for `osm-pbf`.
  */
class OsmXmlSource extends OsmSourceProvider(new OsmXmlTable(_, _, _)) {
  override def shortName(): String = "osm-xml"
}

/** The `osm-pbf` and `osm-xml` providers: the `kind` option (`nodes` by
  * default) picks the table's schema ([[OsmXmlSource.schemaFor]]).
  */
private[sources] abstract class OsmSourceProvider(table: (StructType, String, Seq[String]) => Table)
    extends TableProvider with DataSourceRegister {
  private def kindOf(options: util.Map[String, String]): String = {
    val kind = options.getOrDefault("kind", "nodes")
    OsmXmlSource.schemaFor(kind)
    kind
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OsmXmlSource.schemaFor(kindOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    table(schema, kindOf(properties), Option(properties.get("path")).toSeq)
}

object OsmXmlSource {
  /** Osmosis nodes shape with decomposed lon/lat (OsmModel.nodesSchema). */
  val nodesSchema: StructType = OsmModel.nodesSchema
  /** Osmosis ways shape minus the assembled ring (refs only). */
  val waysSchema: StructType = StructType(OsmModel.waysSchema.fields.filterNot(_.name == "ring"))
  /** Osmosis relations shape with the ordered member array. */
  val relationsSchema: StructType = OsmModel.relationsSchema

  /** The schema of one `kind` for both OSM formats; any other kind fails. */
  def schemaFor(kind: String): StructType = kind match {
    case "nodes" => nodesSchema
    case "ways" => waysSchema
    case "relations" => relationsSchema
    case _ => throw new IllegalArgumentException(
      s"OSM kind must be nodes|ways|relations, got '$kind'")
  }
}

/** Write side: one `.osm` document per task under the target directory
  * (the read side scans directories/globs, so the output is immediately
  * re-readable).
  */
private[osmxml] class OsmXmlTable(schema: StructType, kind: String, paths: Seq[String])
    extends FileTable(s"osm-xml($kind)", schema, paths) {
  override def decoder: RowDecoder = XmlDecoder(kind)
  override def partFormat(info: LogicalWriteInfo): PartFormat = XmlPart(kind)
}

private[osmxml] case class XmlDecoder(kind: String) extends RowDecoder {
  override def open(p: InputPartition, conf: Configuration): PartitionReader[InternalRow] =
    new OsmXmlPartitionReader(p.asInstanceOf[FilePart].path, kind, conf)
}

/** Streaming StAX parse of one OSM XML file, emitting one InternalRow
  * per requested entity kind.
  */
private[osmxml] class OsmXmlPartitionReader(path: String, kind: String,
    conf: Configuration)
    extends PartitionReader[InternalRow] {

  import javax.xml.stream.XMLStreamConstants._

  // transparent decompression by extension (.osm.bz2 / .osm.gz — the
  // forms planet extracts actually ship in; osmium reads them natively).
  // A compressed XML file stays one partition — none of these codecs
  // are splittable, and the source's unit of parallelism is the file.
  private val in = FileSource.open(path, conf)
  private val reader = javax.xml.stream.XMLInputFactory.newInstance().createXMLStreamReader(in)

  private var row: InternalRow = _

  private val targetElement = kind.stripSuffix("s") // a checked kind: node, way or relation

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
