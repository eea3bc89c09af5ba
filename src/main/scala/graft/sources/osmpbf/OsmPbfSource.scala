package graft.sources.osmpbf

import java.io.OutputStream

import graft.sources.{FileTable, PartEncoder, PartFormat, RowDecoder}
import graft.sources.osmxml.OsmSourceProvider
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.LogicalWriteInfo
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for OSM PBF files — the reference's preferred
  * input ("PBF is quickest", README.md:7; S1 in SURVEY.md §2.1).
  *
  * {{{
  *   spark.read.format("osm-pbf").option("kind", "nodes").load("planet.osm.pbf")
  * }}}
  *
  * Wire format per the public spec (wiki.openstreetmap.org/wiki/PBF_Format):
  * a sequence of [4-byte BE length][BlobHeader][Blob] frames; each
  * OSMData blob zlib-compresses a PrimitiveBlock (string table +
  * primitive groups; dense nodes are delta-coded). Decoded with the
  * hand-rolled [[ProtoReader]] and `java.util.zip.Inflater` — no
  * dependencies.
  *
  * Scale model — this is why PBF beats XML at 100 TB: the driver scans
  * only the ~16-byte frame headers to index blob offsets (no
  * decompression), then plans input partitions the way Spark plans a
  * file scan. `FilePartition.maxSplitBytes` (the `spark.sql.files.*`
  * rule: `maxPartitionBytes`, `openCostInBytes`, `minPartitionNum`)
  * sets a split size; each file's contiguous data blobs are cut into
  * runs no larger than it, always on a blob boundary (a blob larger
  * than the split is a run by itself); and `FilePartition.getFilePartitions`
  * bin-packs the runs, so a planet file becomes hundreds of tasks, not
  * one per 8k-entity blob, and a directory of small part files packs
  * into few. A reader opens one stream per file in its partition and
  * inflates and streams that file's blobs in file order, one blob in
  * memory at a time. Listing, column pruning, the write chain and the
  * task commit are the shared file-source frame ([[graft.sources.FileTable]]).
  * Schemas and the `kind` option match the osm-xml source exactly.
  *
  * Malformed bytes fail with [[PbfFormatException]] naming the file and
  * blob offset; a blob never inflates past the spec's 32 MiB limit.
  */
class OsmPbfSource extends OsmSourceProvider(new OsmPbfTable(_, _, _)) {
  override def shortName(): String = "osm-pbf"
}

/** Write side: one `.osm.pbf` part file per task (an OSMHeader frame +
  * one OSMData blob per 8k entities), readable back by this source's
  * directory/glob scan, which packs small part files into shared input
  * partitions.
  */
private[osmpbf] class OsmPbfTable(schema: StructType, kind: String, paths: Seq[String])
    extends FileTable(s"osm-pbf($kind)", schema, paths) {

  override def decoder: RowDecoder = PbfDecoder(kind)

  override def partFormat(info: LogicalWriteInfo): PartFormat = {
    require(info.schema().fieldNames.sameElements(schema.fieldNames),
      s"osm-pbf($kind) write schema must be ${schema.fieldNames.mkString(", ")}; " +
        s"got ${info.schema().fieldNames.mkString(", ")}")
    PbfPart(kind)
  }

  /** Whole-blob runs bin-packed by Spark's file split rule. */
  override def plan(session: SparkSession, conf: Configuration,
      listed: Seq[FileStatus]): Seq[InputPartition] = {
    val files = listed.map(st => st -> OsmPbfTable.blobIndex(st.getPath.getFileSystem(conf), st))
    val openCost = session.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(session,
      files.map { case (st, _) => st.getLen + openCost }.sum)
    val runs = files.flatMap { case (st, frames) => OsmPbfTable.runs(st, frames, maxSplit) }
    val blobsOf = runs.map { case (pf, blobs) => (pf.filePath, pf.start) -> blobs }.toMap
    // runs stay in file order (Spark's file scans sort by size first),
    // so partitions, and the rows in them, follow the files' order.
    // Readers get the decoded Hadoop path (`toPath`) the blob index
    // read: `new Path` would quote the URL-encoded `SparkPath` again.
    FilePartition.getFilePartitions(session, runs.map(_._1), maxSplit)
      .map(fp => PbfBlobsPartition(fp.files.toSeq.map(pf =>
        pf.toPath.toString -> blobsOf((pf.filePath, pf.start)))))
  }
}

private[osmpbf] case class PbfDecoder(kind: String) extends RowDecoder {
  override def open(p: InputPartition, conf: Configuration): PartitionReader[InternalRow] =
    new PbfBlobReader(p.asInstanceOf[PbfBlobsPartition], kind, conf)
}

private[osmpbf] object OsmPbfTable {
  /** One OSMData blob per entry, in file order, from the frame headers
    * only: (frame start, the Blob message's offset and length).
    */
  def blobIndex(fs: FileSystem, st: FileStatus): Seq[(Long, PbfBlob)] = {
    val in = fs.open(st.getPath)
    val blobs = scala.collection.mutable.ArrayBuffer.empty[(Long, PbfBlob)]
    try {
      var offset = 0L
      val size = st.getLen
      while (offset < size) {
        val headerLen = in.readInt() // 4-byte BE
        // spec: BlobHeader < 64 KiB, Blob < 32 MiB
        if (headerLen < 0 || headerLen > (64 << 10))
          throw new PbfFormatException(
            s"malformed PBF frame at ${st.getPath}:$offset: BlobHeader length $headerLen")
        val headerBytes = new Array[Byte](headerLen)
        in.readFully(headerBytes)
        val hr = new ProtoReader(headerBytes)
        var blobType = ""
        var dataSize = 0
        while (hr.hasNext) hr.readTag() match {
          case (1, 2) => blobType = hr.readString()
          case (3, 0) => dataSize = hr.readVarint().toInt
          case (_, wt) => hr.skip(wt)
        }
        if (dataSize < 0 || dataSize > PbfBlobDecoder.MaxRawBlobSize)
          throw new PbfFormatException(
            s"malformed PBF frame at ${st.getPath}:$offset: Blob length $dataSize")
        val dataOffset = offset + 4 + headerLen
        if (blobType == "OSMData") blobs += offset -> PbfBlob(dataOffset, dataSize)
        offset = dataOffset + dataSize
        in.seek(offset)
      }
    } finally in.close()
    blobs.toSeq
  }

  /** Cuts one file's blobs into runs of contiguous frames spanning at
    * most `maxSplit` bytes; a blob whose frame alone is larger is a run
    * by itself. Each run is the byte range Spark's packing sizes.
    */
  def runs(st: FileStatus, frames: Seq[(Long, PbfBlob)],
      maxSplit: Long): Seq[(PartitionedFile, Seq[PbfBlob])] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(PartitionedFile, Seq[PbfBlob])]
    val run = scala.collection.mutable.ArrayBuffer.empty[PbfBlob]
    var runStart = 0L
    def close(): Unit = if (run.nonEmpty) {
      val end = run.last.offset + run.last.length
      out += PartitionedFile(InternalRow.empty, SparkPath.fromPath(st.getPath), runStart,
        end - runStart, Array.empty[String], st.getModificationTime, st.getLen) -> run.toSeq
      run.clear()
    }
    frames.foreach { case (frameStart, blob) =>
      if (run.nonEmpty && blob.offset + blob.length - runStart > maxSplit) close()
      if (run.isEmpty) runStart = frameStart
      run += blob
    }
    close()
    out.toSeq
  }
}

/** One OSMData blob: its Blob message's file offset and length. */
private[osmpbf] case class PbfBlob(offset: Long, length: Int)

/** One input partition: runs of whole blobs, each a Hadoop path and
  * that run's blobs in file order; runs of one file are adjacent.
  */
private[osmpbf] case class PbfBlobsPartition(runs: Seq[(String, Seq[PbfBlob])])
    extends InputPartition

/** Buffers rows and writes one OSMData blob per `blockSize` entities. */
private[osmpbf] case class PbfPart(kind: String) extends PartFormat {
  override def ext: String = "osm.pbf"
  override def encoder(out: OutputStream, name: String): PartEncoder = new PartEncoder {
    out.write(OsmPbfEncoder.headerFrame(kind))
    private val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]

    private def flush(): Unit = if (buf.nonEmpty) {
      out.write(OsmPbfEncoder.encodeBlock(kind, buf.toSeq))
      buf.clear()
    }

    override def write(row: InternalRow): Unit = {
      buf += row.copy()
      if (buf.size >= OsmPbfEncoder.DefaultBlockSize) flush()
    }
    override def finish(): Unit = flush()
  }
}

/** Streams a partition's rows: one input stream per file, kept open
  * across that file's adjacent runs, whose blobs are read and decoded
  * in file order, one blob in memory at a time.
  */
private[osmpbf] class PbfBlobReader(part: PbfBlobsPartition, kind: String,
    conf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {

  private val runs = part.runs.iterator
  private var path: String = _
  private var blobs: Iterator[PbfBlob] = Iterator.empty
  private var in: org.apache.hadoop.fs.FSDataInputStream = _
  private var rows: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _

  /** Decodes the next blob into `rows`; false after the last one. */
  private def nextBlob(): Boolean = {
    while (!blobs.hasNext) {
      if (!runs.hasNext) { close(); return false }
      val (p, bs) = runs.next()
      if (in == null || p != path) {
        close()
        val hp = new Path(p)
        in = hp.getFileSystem(conf).open(hp)
        path = p
      }
      blobs = bs.iterator
    }
    val b = blobs.next()
    val compressed = new Array[Byte](b.length)
    in.seek(b.offset)
    in.readFully(compressed)
    rows = new PbfBlobDecoder(kind, s"$path:${b.offset}").decode(compressed)
    true
  }

  override def next(): Boolean = {
    while (!rows.hasNext) if (!nextBlob()) return false
    current = rows.next()
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = if (in != null) { in.close(); in = null }
}

/** Malformed PBF bytes. The message names the file and byte offset of
  * the blob that failed (`where`) and what was wrong with it; the
  * decoder never lets an untrusted blob surface as a bare
  * `ArrayIndexOutOfBoundsException` or spin without progress.
  */
final class PbfFormatException(msg: String, cause: Throwable = null)
    extends java.io.IOException(msg, cause)

private[osmpbf] object PbfBlobDecoder {
  /** The PBF spec's cap on an uncompressed blob (wiki PBF_Format,
    * "File format"): a declared `raw_size` above it is refused, and an
    * undeclared one never grows the inflate buffer past it.
    */
  val MaxRawBlobSize: Int = 32 << 20
}

/** Blob bytes → rows of one kind (`nodes`, `ways` or `relations`),
  * decoded eagerly; `where` labels every error (file:offset).
  */
private[osmpbf] final class PbfBlobDecoder(kind: String, where: String) {
  import PbfBlobDecoder.MaxRawBlobSize

  private def corrupt(why: String): Nothing = throw new PbfFormatException(why)

  def decode(blob: Array[Byte]): Iterator[InternalRow] =
    try parsePrimitiveBlock(inflate(blob)).iterator
    catch {
      case e: PbfFormatException =>
        throw new PbfFormatException(s"malformed PBF blob at $where: ${e.getMessage}", e)
    }

  private def inflate(blob: Array[Byte]): Array[Byte] = {
    // Blob: 1=raw bytes, 2=raw_size, 3=zlib_data
    var raw: Array[Byte] = null
    var rawSize = -1L
    var zlib: Array[Byte] = null
    val br = new ProtoReader(blob)
    while (br.hasNext) br.readTag() match {
      case (1, 2) => val (o, l) = br.readBytes(); raw = blob.slice(o, o + l)
      case (2, 0) => rawSize = br.readVarint()
      case (3, 2) => val (o, l) = br.readBytes(); zlib = blob.slice(o, o + l)
      case (_, wt) => br.skip(wt)
    }
    if (raw != null) return raw
    if (zlib == null) corrupt("blob carries neither raw nor zlib_data")
    if (rawSize > MaxRawBlobSize)
      corrupt(s"raw_size $rawSize exceeds the $MaxRawBlobSize-byte blob limit")
    // raw_size is optional in the spec: when absent, loop inflate()
    // growing the buffer until finished() — a fixed guess would
    // silently truncate the block
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(zlib)
      var out = new Array[Byte](
        if (rawSize > 0) rawSize.toInt
        else math.min(math.max(zlib.length * 4, 1 << 16), MaxRawBlobSize))
      var n = 0
      while (!inf.finished()) {
        if (n == out.length) {
          // one byte of headroom past the cap lets a stream of exactly
          // MaxRawBlobSize bytes reach its trailer
          if (n > MaxRawBlobSize)
            corrupt(s"zlib data inflates past the $MaxRawBlobSize-byte blob limit")
          out = java.util.Arrays.copyOf(out, math.min(out.length * 2, MaxRawBlobSize + 1))
        }
        val read = inf.getBytesRead
        val got =
          try inf.inflate(out, n, out.length - n)
          catch { case e: java.util.zip.DataFormatException => corrupt(s"bad zlib data: ${e.getMessage}") }
        // no output and no input consumed: the stream cannot advance
        // (truncated input, or a preset dictionary the spec never uses)
        if (got == 0 && inf.getBytesRead == read && !inf.finished())
          corrupt(
            if (inf.needsDictionary()) "zlib data needs a preset dictionary"
            else if (inf.needsInput()) "truncated zlib data"
            else "zlib inflate made no progress")
        n += got
      }
      if (n > MaxRawBlobSize)
        corrupt(s"zlib data inflates past the $MaxRawBlobSize-byte blob limit")
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    } finally inf.end()
  }

  private def parsePrimitiveBlock(block: Array[Byte]): Iterator[InternalRow] = {
    val pr = new ProtoReader(block)
    var strings = Array.empty[UTF8String]
    var granularity = 100L
    var latOffset = 0L
    var lonOffset = 0L
    var dateGranularity = 1000L
    val groups = scala.collection.mutable.ArrayBuffer.empty[ProtoReader]
    while (pr.hasNext) pr.readTag() match {
      case (1, 2) => // StringTable: repeated bytes s = 1
        val st = pr.subReader()
        val acc = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
        while (st.hasNext) st.readTag() match {
          case (1, 2) => acc += UTF8String.fromString(st.readString())
          case (_, wt) => st.skip(wt)
        }
        strings = acc.toArray
      case (2, 2) => groups += pr.subReader()
      case (17, 0) => granularity = pr.readVarint()
      case (18, 0) => dateGranularity = pr.readVarint()
      case (19, 0) => latOffset = pr.readVarint()
      case (20, 0) => lonOffset = pr.readVarint()
      case (_, wt) => pr.skip(wt)
    }

    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    groups.foreach { g =>
      while (g.hasNext) g.readTag() match {
        case (2, 2) if kind == "nodes" => // DenseNodes
          out ++= parseDenseNodes(g.subReader(), strings, granularity,
            latOffset, lonOffset, dateGranularity)
        case (3, 2) if kind == "ways" =>
          out += parseWay(g.subReader(), strings, dateGranularity)
        case (4, 2) if kind == "relations" =>
          out += parseRelation(g.subReader(), strings, dateGranularity)
        case (_, wt) => g.skip(wt)
      }
    }
    out.iterator
  }

  private def tsMicros(raw: Long, dateGranularity: Long): Any =
    if (raw == 0) null else java.lang.Long.valueOf(raw * dateGranularity * 1000L)

  private def str(strings: Array[UTF8String], i: Long): UTF8String =
    if (i < 0 || i >= strings.length)
      corrupt(s"string-table index $i out of range [0, ${strings.length})")
    else strings(i.toInt)

  /** A parallel array must match the id array entry for entry; the
    * optional DenseInfo columns may also be absent (`optional`).
    */
  private def checkLength(name: String, a: Array[Long], n: Int,
      optional: Boolean = false): Unit =
    if (a.length != n && !(optional && a.isEmpty))
      corrupt(s"$name has ${a.length} entries for $n ids")

  private def longs() = new scala.collection.mutable.ArrayBuilder.ofLong

  private def parseDenseNodes(d: ProtoReader, strings: Array[UTF8String],
      granularity: Long, latOffset: Long, lonOffset: Long,
      dateGranularity: Long): Seq[InternalRow] = {
    val idsB, latsB, lonsB, keysValsB = longs()
    val versionsB, timestampsB, changesetsB, uidsB, usidsB, visiblesB = longs()
    // packed (wiretype 2) chunks concatenate; spec-legal UNPACKED
    // encodings (wiretype 0, one value per tag) append too instead of
    // falling into the skip case and silently dropping data
    while (d.hasNext) d.readTag() match {
      case (1, 2) => idsB ++= d.packedSVarints()
      case (1, 0) => idsB += d.readSVarint()
      case (5, 2) => // DenseInfo
        val di = d.subReader()
        while (di.hasNext) di.readTag() match {
          case (1, 2) => versionsB ++= di.packedVarints()
          case (1, 0) => versionsB += di.readVarint()
          case (2, 2) => timestampsB ++= di.packedSVarints()
          case (2, 0) => timestampsB += di.readSVarint()
          case (3, 2) => changesetsB ++= di.packedSVarints()
          case (3, 0) => changesetsB += di.readSVarint()
          case (4, 2) => uidsB ++= di.packedSVarints()
          case (4, 0) => uidsB += di.readSVarint()
          case (5, 2) => usidsB ++= di.packedSVarints() // user_sid, delta
          case (5, 0) => usidsB += di.readSVarint()
          case (6, 2) => visiblesB ++= di.packedVarints()
          case (6, 0) => visiblesB += di.readVarint()
          case (_, wt) => di.skip(wt)
        }
      case (8, 2) => latsB ++= d.packedSVarints()
      case (8, 0) => latsB += d.readSVarint()
      case (9, 2) => lonsB ++= d.packedSVarints()
      case (9, 0) => lonsB += d.readSVarint()
      case (10, 2) => keysValsB ++= d.packedVarints()
      case (10, 0) => keysValsB += d.readVarint()
      case (_, wt) => d.skip(wt)
    }
    val ids = idsB.result(); val lats = latsB.result(); val lons = lonsB.result()
    val keysVals = keysValsB.result()
    val versions = versionsB.result(); val timestamps = timestampsB.result()
    val changesets = changesetsB.result(); val uids = uidsB.result()
    val usids = usidsB.result(); val visibles = visiblesB.result()
    val n = ids.length
    checkLength("DenseNodes.lat", lats, n)
    checkLength("DenseNodes.lon", lons, n)
    checkLength("DenseInfo.version", versions, n, optional = true)
    checkLength("DenseInfo.timestamp", timestamps, n, optional = true)
    checkLength("DenseInfo.changeset", changesets, n, optional = true)
    checkLength("DenseInfo.uid", uids, n, optional = true)
    checkLength("DenseInfo.user_sid", usids, n, optional = true)
    checkLength("DenseInfo.visible", visibles, n, optional = true)
    var id = 0L; var lat = 0L; var lon = 0L; var ts = 0L; var cs = 0L; var uid = 0L
    var usid = 0L
    var kv = 0
    (0 until n).map { i =>
      id += ids(i); lat += lats(i); lon += lons(i)
      if (timestamps.nonEmpty) ts += timestamps(i)
      if (changesets.nonEmpty) cs += changesets(i)
      if (uids.nonEmpty) uid += uids(i)
      if (usids.nonEmpty) usid += usids(i)
      val keys = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
      val vals = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
      while (kv < keysVals.length && keysVals(kv) != 0) {
        if (kv + 1 == keysVals.length)
          corrupt(s"DenseNodes.keys_vals ends inside a key/value pair")
        keys += str(strings, keysVals(kv))
        vals += str(strings, keysVals(kv + 1))
        kv += 2
      }
      kv += 1 // the 0 separator
      new GenericInternalRow(Array[Any](
        id,
        if (versions.nonEmpty) Int.box(versions(i).toInt) else null,
        if (uids.nonEmpty) Int.box(uid.toInt) else null,
        if (timestamps.nonEmpty) tsMicros(ts, dateGranularity) else null,
        if (changesets.nonEmpty) Long.box(cs) else null,
        new ArrayBasedMapData(new GenericArrayData(keys.toArray[Any]),
          new GenericArrayData(vals.toArray[Any])),
        Double.box(1e-9 * (lonOffset + granularity * lon)),
        Double.box(1e-9 * (latOffset + granularity * lat)),
        if (usids.nonEmpty && usid != 0) str(strings, usid) else null,
        // visible absent → true (only history files carry deletions)
        Boolean.box(if (visibles.isEmpty) true else visibles(i) != 0L)))
    }
  }

  /** The Info fields ways and relations share:
    * (version, timestamp, changeset, uid, user name, visible).
    */
  private type Info = (Any, Any, Any, Any, Any, Any)
  private val NoInfo: Info = (null, null, null, null, null, Boolean.box(true))

  private def parseInfo(info: ProtoReader, strings: Array[UTF8String],
      dateGranularity: Long): Info = {
    var version: Any = null
    var ts: Any = null
    var changeset: Any = null
    var uid: Any = null
    var userName: Any = null
    var visible: Any = Boolean.box(true)
    while (info.hasNext) info.readTag() match {
      case (1, 0) => version = Int.box(info.readVarint().toInt)
      case (2, 0) => ts = tsMicros(info.readVarint(), dateGranularity)
      case (3, 0) => changeset = Long.box(info.readVarint())
      case (4, 0) => uid = Int.box(info.readVarint().toInt)
      case (5, 0) =>
        val sid = info.readVarint()
        if (sid != 0) userName = str(strings, sid)
      case (6, 0) => visible = Boolean.box(info.readVarint() != 0L)
      case (_, wt) => info.skip(wt)
    }
    (version, ts, changeset, uid, userName, visible)
  }

  private def tagMap(owner: String, keys: Array[Long], vals: Array[Long],
      strings: Array[UTF8String]): ArrayBasedMapData = {
    if (keys.length != vals.length)
      corrupt(s"$owner has ${keys.length} tag keys and ${vals.length} values")
    new ArrayBasedMapData(
      new GenericArrayData(keys.map(k => str(strings, k): Any)),
      new GenericArrayData(vals.map(v => str(strings, v): Any)))
  }

  private def parseWay(w: ProtoReader, strings: Array[UTF8String],
      dateGranularity: Long): InternalRow = {
    var id = 0L
    val keys, vals, refDeltas = longs()
    var info = NoInfo
    while (w.hasNext) w.readTag() match {
      case (1, 0) => id = w.readVarint()
      case (2, 2) => keys ++= w.packedVarints()
      case (2, 0) => keys += w.readVarint()
      case (3, 2) => vals ++= w.packedVarints()
      case (3, 0) => vals += w.readVarint()
      case (4, 2) => info = parseInfo(w.subReader(), strings, dateGranularity)
      case (8, 2) => refDeltas ++= w.packedSVarints()
      case (8, 0) => refDeltas += w.readSVarint()
      case (_, wt) => w.skip(wt)
    }
    val (version, ts, changeset, uid, userName, visible) = info
    var acc = 0L
    val refs = refDeltas.result().map { d => acc += d; acc }
    new GenericInternalRow(Array[Any](
      id, version, uid, ts, changeset,
      tagMap(s"way $id", keys.result(), vals.result(), strings),
      new GenericArrayData(refs), userName, visible))
  }

  /** Relation message (osmformat.proto): roles_sid=8 (string-table
    * indexes), memids=9 (delta-coded sint64), types=10 (enum
    * 0=NODE 1=WAY 2=RELATION → Osmosis N/W/R codes).
    */
  private def parseRelation(r: ProtoReader, strings: Array[UTF8String],
      dateGranularity: Long): InternalRow = {
    var id = 0L
    val keys, vals, rolesB, memidDeltasB, typesB = longs()
    var info = NoInfo
    while (r.hasNext) r.readTag() match {
      case (1, 0) => id = r.readVarint()
      case (2, 2) => keys ++= r.packedVarints()
      case (2, 0) => keys += r.readVarint()
      case (3, 2) => vals ++= r.packedVarints()
      case (3, 0) => vals += r.readVarint()
      case (4, 2) => info = parseInfo(r.subReader(), strings, dateGranularity)
      case (8, 2) => rolesB ++= r.packedVarints()
      case (8, 0) => rolesB += r.readVarint()
      case (9, 2) => memidDeltasB ++= r.packedSVarints()
      case (9, 0) => memidDeltasB += r.readSVarint()
      case (10, 2) => typesB ++= r.packedVarints()
      case (10, 0) => typesB += r.readVarint()
      case (_, wt) => r.skip(wt)
    }
    val (version, ts, changeset, uid, userName, visible) = info
    val roles = rolesB.result(); val memidDeltas = memidDeltasB.result()
    val types = typesB.result()
    if (types.length != memidDeltas.length)
      corrupt(s"relation $id has ${types.length} member types for ${memidDeltas.length} members")
    val typeCodes = Array(UTF8String.fromString("N"), UTF8String.fromString("W"),
      UTF8String.fromString("R"))
    var acc = 0L
    val members = memidDeltas.indices.map { i =>
      acc += memidDeltas(i)
      if (types(i) < 0 || types(i) > 2)
        corrupt(s"relation $id member type ${types(i)} is not 0, 1 or 2")
      new GenericInternalRow(Array[Any](
        typeCodes(types(i).toInt),
        acc,
        if (i < roles.length) str(strings, roles(i)) else UTF8String.fromString("")))
    }
    new GenericInternalRow(Array[Any](
      id, version, uid, ts, changeset,
      tagMap(s"relation $id", keys.result(), vals.result(), strings),
      new GenericArrayData(members.toArray[Any]), userName, visible))
  }
}
