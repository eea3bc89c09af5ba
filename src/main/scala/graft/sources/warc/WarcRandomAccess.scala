package graft.sources.warc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Random-access retrieval over CDX-indexed WARC segments — the
  * "fetch THESE pages out of a 100 TB crawl" path (the Common Crawl
  * index-server pattern: look up (segment, offset, length) in the CDX
  * index, range-read exactly one gzip member, never scan a segment).
  * The scan side ([[WarcSource]]) is for full passes; this is the
  * point-lookup side the same sidecar ([[WarcWriter]]'s
  * `option("index","true")`) enables.
  *
  * Scale shape: the index is a tiny relation (rows of ~100 bytes, one
  * per record) that joins/filters like any other; only the HITS touch
  * segment bytes. `fetch` repartitions hits BY SEGMENT and sorts by
  * offset within the partition, so each task opens each segment once
  * and seeks strictly forward — sequential-ish I/O against object
  * stores instead of random open/close per record. Bytes read =
  * Σ hit lengths, independent of corpus size.
  */
object WarcRandomAccess {

  final case class FetchedRecord(
      target_uri: String, record_id: String, segment: String, offset: Long,
      length: Long, record_type: String, warc_date: String,
      content_type: String, content_length: Long, payload: Array[Byte])

  /** CDX lines (a `value` string column) → the index relation:
    * (target_uri, record_id, segment, offset, length). `-` cells (a
    * record with no URI) become null. Works on a BATCH text read and
    * unchanged on `spark.readStream.text` — the streaming-selective-
    * ingest path: cdx sidecars arriving with their segments stream
    * through this parse, a predicate picks the wanted records, and
    * [[fetch]] range-reads only those (see WarcSourceSpec).
    */
  def indexFromLines(lines: DataFrame, dir: String): DataFrame = {
    val base = dir.stripSuffix("/")
    lines
      .select(split(col("value"), "\t", 3).as("f"))
      .select(
        nullif(col("f").getItem(0), lit("-")).as("target_uri"),
        nullif(col("f").getItem(1), lit("-")).as("record_id"),
        concat(lit(base + "/"),
          get_json_object(col("f").getItem(2), "$.filename")).as("segment"),
        // try_cast: EXTERNAL CDX sidecars are untrusted input — one
        // garbage/overflowing offset must not ANSI-kill the whole
        // index parse; corrupt rows carry null and [[fetch]] skips them
        expr("try_cast(get_json_object(f[2], '$.offset') AS BIGINT)")
          .as("offset"),
        expr("try_cast(get_json_object(f[2], '$.length') AS BIGINT)")
          .as("length"))
  }

  /** [[indexFromLines]] with the segment resolved NEXT TO each cdx
    * file (`input_file_name()`-derived directory) instead of a single
    * caller-supplied base — the form for multi-directory crawl
    * layouts and for file-backed streams, where each arriving sidecar
    * names its sibling segment.
    */
  def indexFromFileLines(lines: DataFrame): DataFrame =
    lines
      .select(split(col("value"), "\t", 3).as("f"),
        regexp_replace(input_file_name(), "/[^/]*$", "").as("__d"))
      .select(
        nullif(col("f").getItem(0), lit("-")).as("target_uri"),
        nullif(col("f").getItem(1), lit("-")).as("record_id"),
        concat(col("__d"), lit("/"),
          get_json_object(col("f").getItem(2), "$.filename")).as("segment"),
        // try_cast — see [[indexFromLines]]
        expr("try_cast(get_json_object(f[2], '$.offset') AS BIGINT)")
          .as("offset"),
        expr("try_cast(get_json_object(f[2], '$.length') AS BIGINT)")
          .as("length"))

  /** All CDX sidecars under `dir` as a relation. Plain
    * `spark.read.text` — the locator JSON contains quotes, which a
    * CSV parser would eat.
    */
  def readIndex(spark: SparkSession, dir: String): DataFrame = {
    val base = dir.stripSuffix("/")
    indexFromLines(spark.read.text(base + "/*.cdx"), base)
  }

  /** Materialize the CDX index as a PARQUET TABLE next to the
    * segments (`<dir>/_cdxindex`) — the sidecar-as-table pattern. The
    * r14 sf100 probe showed `doc_warc_fetch`'s 138× cost is index
    * BUILD dominated (re-parsing every CDX text line per query); a
    * crawl archive is written once and fetched many times, so the
    * parse belongs at write time. The table is range-partitioned by
    * `target_uri` and sorted within partitions, so a point lookup
    * prunes parquet row groups via min/max stats and the URI filter
    * pushes into the scan (`PushedFilters` — spec-asserted) instead
    * of string-splitting every line; the underscore prefix keeps
    * segment scans from reading it as data. `partitions = 0` leaves
    * the range shuffle at the session default — size it to ~128 MB
    * index files at archive scale. Returns the index path.
    */
  def persistIndex(spark: SparkSession, dir: String,
      partitions: Int = 0): String = {
    val base = dir.stripSuffix("/")
    val out = base + "/_cdxindex"
    val outMeta = new Path(out + "/_spark_metadata")
    val fs = outMeta.getFileSystem(spark.sessionState.newHadoopConf())
    // a streaming-sink transaction log under the BASE dir means a
    // pre-r16 stream wrote here: a batch overwrite would delete files
    // the log references, and a checkpoint-resumed stream would
    // recreate the log listing only post-overwrite micro-batches —
    // readers honoring _spark_metadata then silently miss every
    // overwritten row. compactIndex migrates such dirs (it folds the
    // committed rows and retires the log with the directory).
    require(!fs.exists(outMeta),
      s"$out carries a streaming sink log (_spark_metadata): " +
        "persistIndex must not overwrite a streamed index in place — " +
        "stop the stream and run compactIndex instead")
    val idx = readIndex(spark, base)
    val ranged =
      if (partitions > 0) idx.repartitionByRange(partitions, col("target_uri"))
      else idx.repartitionByRange(col("target_uri"))
    ranged.sortWithinPartitions(col("target_uri"))
      .write.mode("overwrite").parquet(out)
    out
  }

  private def liveQueryName(live: String): String = s"cdxindex-live:$live"

  /** The committed live-tail micro-batch directories under
    * `<dir>/_cdxindex-live` — `batch-<id>` dirs carrying the batch
    * write's `_SUCCESS` marker (an in-flight or crashed batch dir has
    * none and stays invisible until its idempotent replay commits).
    */
  private def committedTailDirs(spark: SparkSession, live: Path)
      : Seq[String] = {
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(live)) Seq.empty
    else fs.listStatus(live).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch-"))
      .filter(s => fs.exists(new Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.toString)
  }

  /** The persisted index as a relation — drop-in for [[readIndex]] in
    * front of [[fetch]], minus the per-query CDX parse. Reads the
    * UNION of the compacted base (`_cdxindex`, from [[persistIndex]] /
    * [[compactIndex]]) and the live streamed tail (`_cdxindex-live`,
    * from [[persistIndexStream]] — only micro-batch dirs whose
    * `_SUCCESS` marker committed surface, so a reader never sees a
    * half-written batch); either side may be absent. Rows live in
    * exactly one side by construction (compaction folds the tail into
    * the base and retires it), so the union never duplicates.
    */
  def readPersistedIndex(spark: SparkSession, dir: String): DataFrame = {
    val base = dir.stripSuffix("/")
    val fs = new Path(base).getFileSystem(spark.sessionState.newHadoopConf())
    val baseDir = Seq(base + "/_cdxindex").filter(p => fs.exists(new Path(p)))
    val tail = committedTailDirs(spark, new Path(base + "/_cdxindex-live"))
    val parts = baseDir ++ tail
    require(parts.nonEmpty, s"no persisted CDX index under $base — run " +
      "persistIndex or persistIndexStream first")
    spark.read.parquet(parts: _*)
  }

  /** The LIVE form of [[persistIndex]]: CDX sidecars arriving with
    * their segments stream through the parse and land in the live
    * tail (`<dir>/_cdxindex-live/batch-<id>`, one directory per
    * micro-batch) — the archive's index maintains itself as segments
    * land, no rebuild. Exactly-once WITHOUT a sink transaction log:
    * each batch id overwrites its own directory, so a replayed batch
    * is idempotent, and readers take only `_SUCCESS`-committed dirs.
    * (A `FileStreamSink` + `_spark_metadata` log would pin readers to
    * the log — which a later batch compaction overwrite orphans, and
    * whose batch-id continuity breaks the restart-after-compaction
    * lifecycle; the per-batch-dir layout has neither failure mode.)
    * [[indexFromFileLines]] resolves each sidecar's segment next to
    * the sidecar itself, so multi-directory landing zones work
    * unchanged. Tail batches are not range-partitioned; when file
    * count or lookup latency says so, STOP this query and run
    * [[compactIndex]] — then restart with the SAME checkpoint: the
    * source's seen-files log keeps old sidecars from re-ingesting,
    * and new batches open a fresh tail the reader unions with the
    * new base.
    */
  def persistIndexStream(spark: SparkSession, dir: String,
      checkpoint: String, landingGlob: String = "")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val base = dir.stripSuffix("/")
    val glob = if (landingGlob.nonEmpty) landingGlob else base + "/*.cdx"
    val live = base + "/_cdxindex-live"
    indexFromFileLines(spark.readStream.text(glob))
      .writeStream
      .queryName(liveQueryName(live))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$live/batch-$id")
      }
      .start()
  }

  /** Fold the streamed live tail into the compacted base — the
    * periodic compaction [[persistIndexStream]]'s lifecycle needs:
    * reads base ∪ committed tail, writes it range-partitioned +
    * sorted into a FRESH directory, then swaps (delete base, rename)
    * and retires the tail. Never writes over files any reader's
    * metadata references, so the overwrite-vs-sink-log hazard the
    * old in-place layout had cannot arise. The stream MUST be stopped
    * first (enforced: an active query named for this tail is refused
    * — [[persistIndexStream]] names its queries `cdxindex-live:<path>`;
    * a hand-rolled writer under a different name is the caller's
    * contract to stop). Restarting the stream afterwards with the
    * SAME checkpoint is exact: seen-file tracking skips ingested
    * sidecars, new batch dirs hold only new rows, and
    * [[readPersistedIndex]] unions tail + base. Also migrates pre-r16
    * in-place streamed dirs (a base carrying its own
    * `_spark_metadata`): the committed rows fold in, the log retires
    * with the swap. Concurrent READERS can race the swap window —
    * run it in the same maintenance window as the stream stop.
    * Returns the base path.
    */
  def compactIndex(spark: SparkSession, dir: String,
      partitions: Int = 0): String = {
    val base = dir.stripSuffix("/")
    val live = base + "/_cdxindex-live"
    val out = base + "/_cdxindex"
    require(!spark.streams.active.exists(_.name == liveQueryName(live)),
      s"a streaming query is still writing $live — stop it before " +
        "compacting (compaction retires the tail)")
    val idx = readPersistedIndex(spark, base)
    val ranged =
      if (partitions > 0) idx.repartitionByRange(partitions, col("target_uri"))
      else idx.repartitionByRange(col("target_uri"))
    val tmp = base + "/_cdxindex-compacting"
    ranged.sortWithinPartitions(col("target_uri"))
      .write.mode("overwrite").parquet(tmp)
    val fs = new Path(base).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(out), true)
    require(fs.rename(new Path(tmp), new Path(out)),
      s"rename $tmp -> $out failed")
    fs.delete(new Path(live), true)
    out
  }

  /** Fetch exactly the records the (filtered) index rows point at.
    * `index` needs columns `segment`, `offset`, `length` (the
    * [[readIndex]] shape, after whatever URI/id filtering or joining
    * selected the hits).
    */
  def fetch(index: DataFrame): Dataset[FetchedRecord] = {
    import index.sparkSession.implicits._
    val conf = graft.sources.SessionConf.broadcast(index.sparkSession)
    index.select(col("segment"), col("offset"), col("length"))
      // corrupt index rows (null offset/length from try_cast) are
      // unfetchable by definition — skip instead of NPE-ing the task
      .filter(col("segment").isNotNull && col("offset").isNotNull &&
        col("length").isNotNull)
      .repartition(col("segment"))
      .sortWithinPartitions(col("segment"), col("offset"))
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        val c = conf.value.value
        var curPath: String = null
        var stream: org.apache.hadoop.fs.FSDataInputStream = null
        def close(): Unit =
          if (stream != null) { stream.close(); stream = null; curPath = null }
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => close()))
        it.map { case (seg, off, len) =>
          if (seg != curPath) {
            close()
            val p = new Path(seg)
            stream = p.getFileSystem(c).open(p)
            curPath = seg
          }
          stream.seek(off)
          val buf = new Array[Byte](len.toInt)
          stream.readFully(buf)
          val member =
            if (seg.endsWith(".gz"))
              new java.util.zip.GZIPInputStream(
                new java.io.ByteArrayInputStream(buf)).readAllBytes()
            else buf
          parseMember(member, seg, off, len)
        }
      }
  }

  /** One decompressed member → record. The member-scoped twin of the
    * scan reader's framing parse: version line, header lines (CRLF or
    * bare LF), blank line, `Content-Length` payload bytes.
    */
  private[warc] def parseMember(bytes: Array[Byte], segment: String,
      offset: Long, length: Long): FetchedRecord = {
    val in = new java.io.ByteArrayInputStream(bytes)
    def readLine(): String = {
      val sb = new java.lang.StringBuilder(64)
      var c = in.read()
      if (c == -1) return null
      while (c != -1 && c != '\n') {
        if (c != '\r') sb.append(c.toChar)
        c = in.read()
      }
      sb.toString
    }
    var line = readLine()
    while (line != null && line.isEmpty) line = readLine()
    require(line != null && line.startsWith("WARC/"),
      s"not a WARC member at $segment:$offset")
    val headers = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var h = readLine()
    while (h != null && h.nonEmpty) {
      val i = h.indexOf(':')
      require(i > 0, s"malformed WARC header at $segment:$offset: ${h.take(60)}")
      headers += h.substring(0, i).trim -> h.substring(i + 1).trim
      h = readLine()
    }
    def get(name: String): String =
      headers.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }.orNull
    // fail FAST AND NAMED on a garbage Content-Length (untrusted
    // segment bytes): a non-numeric value would otherwise surface as a
    // bare NumberFormatException, a huge one as
    // NegativeArraySizeException — neither names the segment
    val len = Option(get("Content-Length")).map { v =>
      val n = try v.toLong catch {
        case _: NumberFormatException => -1L
      }
      require(n >= 0 && n <= bytes.length,
        s"invalid Content-Length '${v.take(30)}' at $segment:$offset")
      n
    }.getOrElse(0L)
    val payload = new Array[Byte](len.toInt)
    var got = 0
    while (got < len.toInt) {
      val r = in.read(payload, got, len.toInt - got)
      require(r >= 0, s"truncated member payload at $segment:$offset")
      got += r
    }
    FetchedRecord(get("WARC-Target-URI"), get("WARC-Record-ID"), segment,
      offset, length, get("WARC-Type"), get("WARC-Date"),
      get("Content-Type"), len, payload)
  }
}
