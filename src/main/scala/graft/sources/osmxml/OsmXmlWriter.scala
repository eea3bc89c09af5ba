package graft.sources.osmxml

import java.io.OutputStream

import graft.sources.{PartEncoder, PartFormat}
import org.apache.spark.sql.catalyst.InternalRow

/** Write-side of the `osm-xml` source: streams OSM XML 0.6 documents,
  * one file per task. Rows arrive in the source schemas
  * ([[graft.model.OsmModel]]). Null metadata attributes are omitted
  * (OSM XML's own optionality); `visible` is written only when false.
  */
private[osmxml] case class XmlPart(kind: String) extends PartFormat {
  override def ext: String = "osm"
  override def encoder(out: OutputStream, name: String): PartEncoder =
    new OsmXmlEncoder(kind, out)
}

private[osmxml] class OsmXmlEncoder(kind: String, os: OutputStream) extends PartEncoder {

  private val out = new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(os, java.nio.charset.StandardCharsets.UTF_8))
  out.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
  out.write("<osm version=\"0.6\" generator=\"graft-spark\">\n")

  private def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case '\n' => sb.append("&#10;")
      case '\r' => sb.append("&#13;")
      case '\t' => sb.append("&#9;")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def tsIso(micros: Long): String =
    java.time.Instant.ofEpochSecond(micros / 1000000L,
      (micros % 1000000L) * 1000L).toString

  private val elementName = kind.stripSuffix("s") // a checked kind: node, way or relation

  private val memberTypeName =
    Map("N" -> "node", "W" -> "way", "R" -> "relation")

  override def write(r: InternalRow): Unit = {
    val sb = new StringBuilder(256)
    sb.append("  <").append(elementName).append(" id=\"").append(r.getLong(0)).append('"')
    if (!r.isNullAt(1)) sb.append(" version=\"").append(r.getInt(1)).append('"')
    if (!r.isNullAt(2)) sb.append(" uid=\"").append(r.getInt(2)).append('"')
    val userOrd = if (kind == "nodes") 8 else 7
    if (!r.isNullAt(userOrd))
      sb.append(" user=\"").append(esc(r.getUTF8String(userOrd).toString)).append('"')
    if (!r.isNullAt(3)) sb.append(" timestamp=\"").append(tsIso(r.getLong(3))).append('"')
    if (!r.isNullAt(4)) sb.append(" changeset=\"").append(r.getLong(4)).append('"')
    if (!r.isNullAt(userOrd + 1) && !r.getBoolean(userOrd + 1))
      sb.append(" visible=\"false\"")
    if (kind == "nodes") {
      if (!r.isNullAt(7)) sb.append(" lat=\"").append(r.getDouble(7)).append('"')
      if (!r.isNullAt(6)) sb.append(" lon=\"").append(r.getDouble(6)).append('"')
    }
    val children = new StringBuilder
    if (kind == "ways" && !r.isNullAt(6)) {
      val refs = r.getArray(6)
      (0 until refs.numElements()).foreach(i =>
        children.append("    <nd ref=\"").append(refs.getLong(i)).append("\"/>\n"))
    }
    if (kind == "relations" && !r.isNullAt(6)) {
      val ms = r.getArray(6)
      (0 until ms.numElements()).foreach { i =>
        val m = ms.getStruct(i, 3)
        children.append("    <member type=\"")
          .append(memberTypeName(m.getUTF8String(0).toString))
          .append("\" ref=\"").append(m.getLong(1))
          .append("\" role=\"").append(esc(m.getUTF8String(2).toString))
          .append("\"/>\n")
      }
    }
    if (!r.isNullAt(5)) {
      val tags = r.getMap(5)
      (0 until tags.numElements()).foreach { t =>
        children.append("    <tag k=\"")
          .append(esc(tags.keyArray().getUTF8String(t).toString))
          .append("\" v=\"")
          .append(esc(tags.valueArray().getUTF8String(t).toString))
          .append("\"/>\n")
      }
    }
    if (children.isEmpty) sb.append("/>\n")
    else sb.append(">\n").append(children).append("  </").append(elementName).append(">\n")
    out.write(sb.toString)
  }

  override def finish(): Unit = { out.write("</osm>\n"); out.flush() }
}
