package graft.sources.warc

import java.util

import graft.sources.{FilePart, FileScan, FileSource, FileTable, PartFormat, PrunedReaderFactory, RowDecoder, SessionConf}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.LogicalWriteInfo
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 reader/writer for WARC (Web ARChive, ISO 28500) files
  * — the container format web crawls actually ship in (Common Crawl,
  * Internet Archive), and therefore the native ingest surface of a
  * crawl-scale training-data pipeline:
  *
  * {{{
  *   spark.read.format("warc").load("crawl/seg-00.warc")  // file, dir, or glob; .gz ok
  *   df.write.format("warc").mode("append").save("out/")  // response records
  * }}}
  *
  * Record framing (ISO 28500 §4): a `WARC/1.0` version line, CRLF
  * header lines (`Name: value`), an empty line, `Content-Length` bytes
  * of payload, and a CRLF CRLF record separator. The reader is a
  * streaming parse — constant memory per partition beyond the single
  * in-flight payload — and tolerates both CRLF and bare-LF headers
  * (real crawls contain both).
  *
  * Scale model: one input partition per file, matching how crawls are
  * laid out (Common Crawl ships ~1 GB `.warc.gz` segments by the tens
  * of thousands — file-level parallelism IS the intended splitting;
  * per-record gzip members make mid-file splits impossible without an
  * external index). Listing, column pruning, the write chain and the
  * task commit are the shared file-source frame
  * ([[graft.sources.FileTable]]), which the micro-batch stream and the
  * CDX sidecar use too; a payload-less metadata scan still reads the
  * bytes (the framing requires it) but never materializes them into
  * Spark rows. Listings skip `.cdx` sidecars.
  */
class WarcSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "warc"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WarcTable(schema, Option(properties.get("path")).toSeq)
}

object WarcSource {
  /** The named WARC headers every consumer needs, plus the full header
    * map (WARC headers are extensible) and the raw payload bytes.
    */
  val schema: StructType = StructType(Seq(
    StructField("record_id", StringType),        // WARC-Record-ID
    StructField("record_type", StringType),      // WARC-Type
    StructField("target_uri", StringType),       // WARC-Target-URI (null for warcinfo)
    StructField("warc_date", StringType),        // WARC-Date (ISO 8601, kept verbatim)
    StructField("content_type", StringType),     // Content-Type
    StructField("content_length", LongType),     // Content-Length (payload bytes)
    StructField("headers", MapType(StringType, StringType)),
    StructField("payload", BinaryType)))
}

private[warc] class WarcTable(schema: StructType, paths: Seq[String])
    extends FileTable("warc", schema, paths) {
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ)

  override def plan(session: SparkSession, conf: Configuration,
      files: Seq[FileStatus]): Seq[InputPartition] =
    super.plan(session, conf, files.filter(WarcTable.isSegment))

  override def decoder: RowDecoder = WarcDecoder

  override def partFormat(info: LogicalWriteInfo): PartFormat = WarcPart(info.schema(),
    gzip = "gzip".equalsIgnoreCase(info.options.getOrDefault("compression", "")),
    index = "true".equalsIgnoreCase(info.options.getOrDefault("index", "")))

  override def newScanBuilder(options: CaseInsensitiveStringMap): FileScan =
    new FileScan(this, paths) {
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new WarcMicroBatchStream(paths, checkpointLocation, readSchema(), SessionConf.broadcast())
    }
}

private[warc] object WarcTable {
  /** A listed file other than a `.cdx` index sidecar. */
  def isSegment(st: FileStatus): Boolean = !st.getPath.getName.endsWith(".cdx")
}

/** Streaming WARC ingest — `spark.readStream.format("warc").load(dir)`
  * over a landing directory crawl segments keep arriving in (the
  * Common Crawl consumption shape: new `.warc.gz` segments appear, are
  * processed exactly once, feed [[graft.streaming.CorpusStream.run]]).
  *
  * Offset model: the DISCOVERY LOG. Each `latestOffset()` lists the
  * input paths, appends any not-yet-seen files to an ordered log
  * (new files sorted by path for a deterministic order), and returns
  * the log length; a micro-batch [start, end) is files
  * `log[start until end]`, one input partition per file — identical
  * read parallelism and reader code to the batch scan. The log is
  * PERSISTED under the query's checkpoint location (rewrite + rename,
  * so a crash mid-write leaves the old log intact), which makes
  * restarts exact: a committed offset k means "the first k files of
  * the persisted log", regardless of what discovery order a fresh
  * listing would produce — the same file-index-log contract Spark's
  * built-in FileStreamSource keeps in its metadata log. Files are
  * assumed immutable once landed (the crawl-segment contract);
  * deletions of already-logged files fail the batch that reads them
  * rather than silently dropping records.
  */
private[warc] class WarcMicroBatchStream(paths: Seq[String],
    checkpointLocation: String, required: StructType,
    conf: Broadcast[SerializableConfiguration])
    extends MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private case class WarcOffset(n: Long) extends Offset {
    override def json(): String = n.toString
  }

  private val logPath = new Path(checkpointLocation, "graft-warc-file-log")
  private val fs = logPath.getFileSystem(conf.value.value)
  private val seen: scala.collection.mutable.ArrayBuffer[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    if (fs.exists(logPath)) {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(logPath), java.nio.charset.StandardCharsets.UTF_8))
      try {
        var l = in.readLine()
        while (l != null) { if (l.nonEmpty) buf += l; l = in.readLine() }
      } finally in.close()
    }
    buf
  }
  private val seenSet = scala.collection.mutable.HashSet.from(seen)

  private def discover(): Seq[String] =
    FileSource.list(paths, conf.value.value).filter(WarcTable.isSegment).map(_.getPath.toString)

  private def persistLog(): Unit = {
    val tmp = new Path(checkpointLocation, ".graft-warc-file-log.tmp")
    val out = fs.create(tmp, true)
    try out.write(seen.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    FileSource.commit(fs, tmp, logPath)
  }

  override def latestOffset(): Offset = {
    val fresh = discover().filterNot(seenSet.contains).sorted
    if (fresh.nonEmpty) {
      seen ++= fresh
      seenSet ++= fresh
      persistLog()
    }
    WarcOffset(seen.size.toLong)
  }

  override def initialOffset(): Offset = WarcOffset(0L)

  override def deserializeOffset(json: String): Offset =
    WarcOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[WarcOffset].n.toInt,
      end.asInstanceOf[WarcOffset].n.toInt)
    require(e <= seen.size,
      s"WARC stream offset $e beyond persisted file log (${seen.size}) — " +
        "checkpoint and file-log location disagree")
    (s until e).map(i => FilePart(seen(i)): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PrunedReaderFactory(WarcDecoder, WarcSource.schema, required, conf)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[warc] case object WarcDecoder extends RowDecoder {
  override def open(p: InputPartition, conf: Configuration): PartitionReader[InternalRow] =
    new WarcPartitionReader(p.asInstanceOf[FilePart].path, conf)
}

/** Streaming parse of one WARC file: version line → headers → payload
  * of exactly Content-Length bytes → record separator. Hadoop codec
  * auto-detection by extension handles `.warc.gz` (the Hadoop gzip
  * stream decodes concatenated members, which is how per-record-gzipped
  * crawl segments are laid out).
  */
private[warc] class WarcPartitionReader(path: String, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val in = new java.io.BufferedInputStream(FileSource.open(path, conf), 1 << 16)

  private var row: InternalRow = _

  /** One header/version line, CRLF or LF terminated, terminator
    * stripped; null at EOF before any byte.
    */
  private def readLine(): String = {
    val sb = new java.lang.StringBuilder(64)
    var c = in.read()
    if (c == -1) return null
    while (c != -1 && c != '\n') {
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }

  private def readFully(n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      require(r >= 0, s"truncated WARC payload in $path: got $off of $n bytes")
      off += r
    }
    buf
  }

  override def next(): Boolean = {
    // skip blank separator lines between records
    var line = readLine()
    while (line != null && line.isEmpty) line = readLine()
    if (line == null) return false
    require(line.startsWith("WARC/"),
      s"expected WARC version line in $path, got: ${line.take(60)}")
    val headers = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var h = readLine()
    while (h != null && h.nonEmpty) {
      val i = h.indexOf(':')
      require(i > 0, s"malformed WARC header in $path: ${h.take(60)}")
      headers += h.substring(0, i).trim -> h.substring(i + 1).trim
      h = readLine()
    }
    def get(name: String): String =
      headers.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }.orNull
    val len = Option(get("Content-Length")).map(_.toLong).getOrElse(0L)
    require(len <= Int.MaxValue, s"WARC payload over 2 GiB in $path")
    val payload = readFully(len.toInt)
    def utf8(s: String): UTF8String =
      if (s == null) null else UTF8String.fromString(s)
    val ks = headers.keys.toArray[Any].map(k => utf8(k.asInstanceOf[String]): Any)
    val vs = headers.values.toArray[Any].map(v => utf8(v.asInstanceOf[String]): Any)
    row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      utf8(get("WARC-Record-ID")),
      utf8(get("WARC-Type")),
      utf8(get("WARC-Target-URI")),
      utf8(get("WARC-Date")),
      utf8(get("Content-Type")),
      len,
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(ks),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(vs)),
      payload))
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}
