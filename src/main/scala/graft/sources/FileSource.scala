package graft.sources

import java.io.{IOException, InputStream, OutputStream}
import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** The DataSource V2 frame the hand-written file formats (`osm-pbf`,
  * `osm-xml`, `warc`) share: the lister, the column-pruning scan, the
  * write chain and the task commit. A format keeps only its own parts:
  * its schema, how it plans input partitions from the listed files
  * (one per file unless it overrides [[plan]]), its [[RowDecoder]] and
  * its [[PartFormat]].
  *
  * Reads list each path ([[FileSource.list]]), plan, and decode each
  * partition at full width; [[PrunedReaderFactory]] projects the rows to
  * the scan's required columns. Writes produce one part file per task
  * ([[PartWriter]]); `append` mode only. The reader and writer factories
  * hold the session's Hadoop conf as one broadcast per scan or write
  * ([[SessionConf]]), not the conf itself.
  */
abstract class FileTable(tableName: String, fullSchema: StructType, paths: Seq[String])
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = tableName
  override def schema(): StructType = fullSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  /** Input partitions over the listed files: by default one per file. */
  def plan(session: SparkSession, conf: Configuration, files: Seq[FileStatus])
      : Seq[InputPartition] =
    files.map(f => FilePart(f.getPath.toString))

  def decoder: RowDecoder

  /** The part file each task writes; may reject the write's schema or options. */
  def partFormat(info: LogicalWriteInfo): PartFormat

  override def newScanBuilder(options: CaseInsensitiveStringMap): FileScan =
    new FileScan(this, paths)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(paths.size == 1, s"$tableName write needs exactly one target path")
    FileWrite(paths.head, partFormat(info), SessionConf.broadcast())
  }
}

/** The column-pruning scan of a [[FileTable]]. */
class FileScan(table: FileTable, paths: Seq[String])
    extends ScanBuilder with Scan with Batch with SupportsPushDownRequiredColumns {
  private var required: StructType = table.schema()
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = this
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val session = SparkSession.active
    val conf = session.sessionState.newHadoopConf()
    table.plan(session, conf, FileSource.list(paths, conf)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PrunedReaderFactory(table.decoder, table.schema(), required, SessionConf.broadcast())
}

/** A format's decoder of one planned partition to rows of its full
  * schema. Serializable: it ships inside the reader factory.
  */
trait RowDecoder extends Serializable {
  def open(partition: InputPartition, conf: Configuration): PartitionReader[InternalRow]
}

/** One whole file as an input partition. */
case class FilePart(path: String) extends InputPartition

/** Decodes each partition at full width and projects the rows to the
  * scan's required columns: the dominant cost is parsing the file bytes,
  * which every format pays regardless, while Spark-side row width,
  * codegen and shuffle see the narrow shape. Top-level (serializable):
  * an anonymous factory would capture the non-serializable scan.
  */
final class PrunedReaderFactory(decoder: RowDecoder, full: StructType,
    required: StructType, conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  private val ordinals =
    if (required.fieldNames.sameElements(full.fieldNames)) null
    else required.fieldNames.map(full.fieldIndex)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = decoder.open(partition, conf.value.value)
    if (ordinals == null) rows
    else new PartitionReader[InternalRow] {
      override def next(): Boolean = rows.next()
      override def get(): InternalRow = {
        val row = rows.get().asInstanceOf[GenericInternalRow]
        val out = new Array[Any](ordinals.length)
        var i = 0
        while (i < ordinals.length) { out(i) = row.values(ordinals(i)); i += 1 }
        new GenericInternalRow(out)
      }
      override def close(): Unit = rows.close()
    }
  }
}

/** A format's part file: its extension and the encoder of one task's
  * rows. Serializable: it ships inside the writer factory.
  */
trait PartFormat extends Serializable {
  /** The part file's extension, e.g. `osm.pbf`. */
  def ext: String
  /** Encodes into `out`, the temp file of the part file named `name`. */
  def encoder(out: OutputStream, name: String): PartEncoder
}

/** Encodes one task's rows into its part file. */
abstract class PartEncoder {
  def write(row: InternalRow): Unit
  /** Ends the file (a trailer, the last buffered block). */
  def finish(): Unit = ()
  /** Files committed next to the part after it: extension and bytes. */
  def sidecars: Seq[(String, Array[Byte])] = Nil
}

/** The write chain down to the per-task factory, which ships in each
  * task: the target directory, the part format and the conf broadcast.
  */
private[sources] final case class FileWrite(dir: String, part: PartFormat,
    conf: Broadcast[SerializableConfiguration])
    extends WriteBuilder with Write with BatchWrite with DataWriterFactory {
  override def build(): Write = this
  override def toBatch: BatchWrite = this
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = this
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new PartWriter(dir, part, partitionId, taskId, conf.value.value)
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** One task's part file: rows go to a hidden task-unique temp file
  * (`.part-NNNNN-<task>.<ext>.tmp`, which [[FileSource.list]] skips),
  * renamed to `part-NNNNN.<ext>` on commit, then the sidecars the same
  * way, so task retries never leave partial files visible.
  */
private[sources] final class PartWriter(dir: String, part: PartFormat,
    partitionId: Int, taskId: Long, conf: Configuration) extends DataWriter[InternalRow] {

  private val fs = new Path(dir).getFileSystem(conf)
  private def finalPath(ext: String) = new Path(dir, f"part-$partitionId%05d.$ext")
  private def tmpPath(ext: String) = new Path(dir, f".part-$partitionId%05d-$taskId.$ext.tmp")
  private val out = { fs.mkdirs(new Path(dir)); fs.create(tmpPath(part.ext), true) }
  private val encoder = part.encoder(out, finalPath(part.ext).getName)

  override def write(row: InternalRow): Unit = encoder.write(row)

  override def commit(): WriterCommitMessage = {
    encoder.finish(); out.close()
    FileSource.commit(fs, tmpPath(part.ext), finalPath(part.ext))
    encoder.sidecars.foreach { case (ext, bytes) =>
      val o = fs.create(tmpPath(ext), true)
      try o.write(bytes) finally o.close()
      FileSource.commit(fs, tmpPath(ext), finalPath(ext))
    }
    FileSource.Committed
  }

  override def abort(): Unit = { out.close(); fs.delete(tmpPath(part.ext), false) }
  override def close(): Unit = ()
}

object FileSource {
  /** The files under `paths`: each Hadoop glob's matches, a matched
    * directory's files one level down. Names starting with `.` (the
    * writers' temp files, hidden files) are skipped.
    */
  def list(paths: Seq[String], conf: Configuration): Seq[FileStatus] =
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      Option(fs.globStatus(hp)).toSeq.flatten.flatMap { s =>
        if (s.isDirectory) fs.listStatus(s.getPath).filter(_.isFile).toSeq else Seq(s)
      }
    }.filterNot(_.getPath.getName.startsWith("."))

  /** Opens `path`, decompressing by extension (`.gz`, `.bz2`: Hadoop's
    * codec factory). A compressed file is read whole by one reader.
    */
  def open(path: String, conf: Configuration): InputStream = {
    val hp = new Path(path)
    val raw = hp.getFileSystem(conf).open(hp)
    val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf).getCodec(hp)
    if (codec == null) raw else codec.createInputStream(raw)
  }

  /** Moves a finished temp file to `dst`, replacing it. A `false` from
    * `rename` fails, naming both paths: ignoring it would report a
    * committed file that is not there.
    */
  def commit(fs: FileSystem, tmp: Path, dst: Path): Unit = {
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst)) throw new IOException(s"could not rename $tmp to $dst")
  }

  /** The task commit message; the batch commit needs nothing from it. */
  case object Committed extends WriterCommitMessage
}
