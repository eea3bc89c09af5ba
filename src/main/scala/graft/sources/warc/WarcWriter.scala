package graft.sources.warc

import java.io.OutputStream

import graft.sources.{PartEncoder, PartFormat}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Write side of the `warc` source: one `.warc` (or `.warc.gz`) file
  * per task. Rows arrive in any schema containing `payload binary`;
  * the named WARC headers (`record_id`, `record_type`, `target_uri`,
  * `warc_date`, `content_type`) are written when present, and a
  * `headers map<string,string>` column contributes any EXTRA headers
  * (named ones are skipped to keep the record unambiguous).
  * `Content-Length` is always computed from the payload — never
  * trusted from input.
  *
  * With `option("compression", "gzip")` each record is its own gzip
  * MEMBER (finish()ed against the shared file stream) — the Common
  * Crawl layout, which is what makes a `.warc.gz` segment seekable by
  * external byte-offset index while remaining a valid single gzip
  * stream to any concatenation-aware decoder (the read side's Hadoop
  * codec is one).
  */
private[warc] case class WarcPart(in: StructType, gzip: Boolean, index: Boolean)
    extends PartFormat {
  override def ext: String = if (gzip) "warc.gz" else "warc"
  override def encoder(out: OutputStream, name: String): PartEncoder =
    new WarcEncoder(in, gzip, index, out, name)
}

/** One task's records; with `index`, the `.cdx` sidecar committed next
  * to the part file after it.
  */
private[warc] class WarcEncoder(in: StructType, gzip: Boolean, index: Boolean,
    out: OutputStream, fileName: String) extends PartEncoder {

  private def ord(name: String): Int = in.fieldNames.indexOf(name)
  private val iPayload = ord("payload")
  require(iPayload >= 0, "warc write input needs a `payload` binary column")
  private val iId = ord("record_id")
  private val iType = ord("record_type")
  private val iUri = ord("target_uri")
  private val iDate = ord("warc_date")
  private val iCtype = ord("content_type")
  private val iHeaders = ord("headers")
  private val named = Set("warc-record-id", "warc-type", "warc-target-uri",
    "warc-date", "content-type", "content-length")

  private val crlf = "\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  // member index (CDX-style sidecar): byte offset + length per record,
  // accumulated as we write so offsets are exact for BOTH layouts
  private var bytesOut = 0L
  private val indexLines =
    if (index) new scala.collection.mutable.ArrayBuffer[String] else null

  override def write(r: InternalRow): Unit = {
    val payload =
      if (r.isNullAt(iPayload)) Array.emptyByteArray else r.getBinary(iPayload)
    val sb = new java.lang.StringBuilder(256)
    def header(name: String, i: Int): Unit =
      if (i >= 0 && !r.isNullAt(i))
        sb.append(name).append(": ")
          .append(r.getUTF8String(i).toString).append("\r\n")
    sb.append("WARC/1.0\r\n")
    header("WARC-Type", iType)
    header("WARC-Record-ID", iId)
    header("WARC-Target-URI", iUri)
    header("WARC-Date", iDate)
    header("Content-Type", iCtype)
    if (iHeaders >= 0 && !r.isNullAt(iHeaders)) {
      val m = r.getMap(iHeaders)
      (0 until m.numElements()).foreach { j =>
        val k = m.keyArray().getUTF8String(j).toString
        if (!named.contains(k.toLowerCase)) // named columns win
          sb.append(k).append(": ")
            .append(m.valueArray().getUTF8String(j).toString).append("\r\n")
      }
    }
    sb.append("Content-Length: ").append(payload.length).append("\r\n\r\n")
    val head = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val recLen: Long = if (gzip) {
      // one gzip member per record, appended to the shared file stream
      val member = new java.io.ByteArrayOutputStream(head.length + payload.length + 64)
      val gz = new java.util.zip.GZIPOutputStream(member)
      gz.write(head); gz.write(payload); gz.write(crlf); gz.write(crlf)
      gz.finish(); gz.close()
      out.write(member.toByteArray)
      member.size().toLong
    } else {
      out.write(head); out.write(payload); out.write(crlf); out.write(crlf)
      head.length.toLong + payload.length + 4
    }
    if (index) {
      def cell(i: Int): String =
        if (i >= 0 && !r.isNullAt(i)) r.getUTF8String(i).toString else "-"
      // CDXJ-shaped line: searchable key fields then the locator JSON
      // ({"offset","length","filename"} — the Common Crawl reader
      // contract: seek(offset), read `length` bytes, gunzip one member)
      indexLines += s"${cell(iUri)}\t${cell(iId)}\t" +
        s"""{"offset": $bytesOut, "length": $recLen, """ +
        s""""filename": "$fileName"}"""
    }
    bytesOut += recLen
  }

  override def sidecars: Seq[(String, Array[Byte])] =
    if (!index) Nil
    else Seq("cdx" -> indexLines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
