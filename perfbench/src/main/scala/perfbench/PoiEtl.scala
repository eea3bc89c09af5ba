package perfbench

import java.util.concurrent.atomic.AtomicLong

import graft.functions.HstoreCompat
import graft.operators.{PoiPipeline, TagDimension, WayAssembly}
import graft.sinks.{CopyConnection, CopyProvider, PoiSink}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** In-memory stand-in for Postgres COPY (the benchmark has no
  * database): counts flushes, rows and payload bytes per table and per
  * partition, tracks the largest flush, and sums xxhash64 (seed 42,
  * Spark's `xxhash64`) of every row so the COPY content can be compared
  * with the parquet output. Local mode runs executors in the driver
  * JVM, so the counters are plain statics.
  */
object CopyCounter {
  final class Table {
    val flushes, rows, bytes, maxFlush = new AtomicLong(0L)
    private var hash = BigInt(0)
    /** partition id -> (flushes, rows) */
    private val parts = scala.collection.mutable.Map.empty[Int, (Long, Long)]
    def add(partition: Int, rows: Long, h: BigInt): Unit = synchronized {
      hash += h
      val (f, r) = parts.getOrElse(partition, (0L, 0L))
      parts(partition) = (f + 1, r + rows)
    }
    def hashSum: BigInt = synchronized(hash)
    def perPartition: Map[Int, (Long, Long)] = synchronized(parts.toMap)
  }
  private val tables = new java.util.concurrent.ConcurrentHashMap[String, Table]()
  def table(name: String): Table = tables.computeIfAbsent(name, _ => new Table)
  def reset(): Unit = tables.clear()

  /** Table name from a `COPY <table> (...)` statement. */
  def tableOf(copySql: String): String = copySql.split("\\s+")(1)
}

final class CountingCopyProvider extends CopyProvider {
  def connect(): CopyConnection = new CopyConnection {
    def copyIn(copySql: String, data: String): Long = {
      val t = CopyCounter.table(CopyCounter.tableOf(copySql))
      var rows = 0L
      var bytes = 0L
      var h = BigInt(0)
      data.split("\n", -1).foreach { row =>
        val u = UTF8String.fromString(row)
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
        rows += 1
        bytes += u.numBytes + 1
      }
      t.flushes.incrementAndGet()
      t.rows.addAndGet(rows)
      t.bytes.addAndGet(bytes)
      t.maxFlush.getAndUpdate(m => math.max(m, rows))
      t.add(org.apache.spark.TaskContext.getPartitionId(), rows, h)
      rows
    }
    def close(): Unit = ()
  }
  def onError(rows: Seq[String], e: Throwable): Unit = ()
}

/** `poi_etl`: the paper's pipeline end to end over a seeded synthetic
  * extract ([[OsmExtract]]) written to PBF in set-up. A pass reads the
  * PBF, assembles way rings from node locations, classifies and
  * projects nodes, ways and multipolygon relations, appends the small
  * areas' centroids, encodes COPY rows and writes nodes and areas
  * through the COPY sink, and writes the nodes to parquet. The PBF
  * frames, rings and the two outputs are persisted, so the three
  * writes share one scan and one classification.
  *
  * The traced run times layers, so it runs the pass in stages instead:
  * each stage's output is persisted and counted before the next stage
  * starts, and each stage's span times that stage's own work. Both the
  * traced and the untraced passes of a traced run are staged, so their
  * difference is the tracing overhead alone.
  */
final class PoiEtl extends Workload {
  import PoiEtl.{Stats, expectedFlushes}
  val passSeconds = 3.0
  val Nodes = 50000L
  val Ways = 2500L
  val Relations = 250L
  /** PBF files per kind: one, so a kind is read as one task per 8,000-
    * entity blob (7 for the nodes) rather than per file and blob.
    */
  val PbfFiles = 1
  val WarmPasses = 7
  private val settings = OsmExtract.settings
  private var counts = Map.empty[String, Long]
  private var blobs = 0L
  private var last: Option[Stats] = None
  private var tracedStats = Seq.empty[Stats]
  private var passNo = 0

  def extract(seed: Long) = OsmExtract(seed, Nodes, Ways, Relations)
  private def pbfDir(ctx: Ctx) = ctx.dir("in/pbf")

  def prepare(ctx: Ctx): Unit = extract(ctx.seed).writePbf(ctx.spark, pbfDir(ctx), PbfFiles)

  /** [[WarmPasses]] untimed passes over the full extract. The JIT keeps
    * compiling through the first ten or so passes in a JVM, each faster
    * than the last; the timed passes start where it has settled.
    */
  def warm(ctx: Ctx): Unit =
    for (i <- 1 to WarmPasses) run(ctx, pbfDir(ctx), ctx.dir(s"warm/out$i"))

  def pass(ctx: Ctx): Seq[Op] = {
    passNo += 1
    val (ops, stats) = run(ctx, pbfDir(ctx), ctx.dir(s"out/pass$passNo"))
    stats.foreach { s =>
      // keep only the newest pass's parquet on disk
      last.foreach(p => Workload.rmrf(p.parquetDir))
      last = Some(s)
      if (ctx.tracer.enabled) tracedStats :+= s
    }
    ops
  }

  /** The pipeline's frames over the PBF at `in`, built by the public
    * calls a user makes; `keep` marks the frames worth persisting.
    */
  private final class Frames(ctx: Ctx, in: String, keep: DataFrame => DataFrame) {
    private def read(kind: String) =
      keep(ctx.spark.read.format("osm-pbf").option("kind", kind).load(s"$in/$kind"))
    val nodes: DataFrame = read("nodes")
    val ways: DataFrame = read("ways")
    val rels: DataFrame = read("relations")
    lazy val rings: DataFrame = keep(WayAssembly.assembleRings(ways,
      nodes.select(col("id").as("node_id"), col("lon"), col("lat"))))
    lazy val result: PoiPipeline.Result = PoiPipeline.runWithRelations(nodes,
      ways.join(rings, "id"), rels, rings.select(col("id").as("way_id"), col("ring").as("path")),
      OsmExtract.dimension(ctx.spark), settings)
  }

  private def run(ctx: Ctx, in: String, out: String): (Seq[Op], Option[Stats]) = {
    CopyCounter.reset()
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { cached += df; df.persist(StorageLevel.MEMORY_AND_DISK) }
    val ops = if (ctx.layered) staged(ctx, in, out, keep) else whole(ctx, in, out, keep)
    cached.foreach(_.unpersist(blocking = false))
    val stats =
      if (!ops.forall(_.ok)) None
      else {
        val n = CopyCounter.table("nodes")
        val a = CopyCounter.table("ways")
        Some(Stats(n.rows.get, a.rows.get, n.flushes.get + a.flushes.get,
          math.max(n.maxFlush.get, a.maxFlush.get), n.bytes.get + a.bytes.get, n.hashSum,
          Workload.dirBytes(out), out, (n.perPartition.values ++ a.perPartition.values).toSeq))
      }
    (ops, stats)
  }

  private def copy(ctx: Ctx, rows: DataFrame, table: String, geom: String): Unit =
    ctx.exec(s"copy_$table")(PoiSink.writeCopyTsv(tsv(rows), table, geom, settings,
      new CountingCopyProvider))

  /** The untraced pass: build everything, then the three writes. */
  private def whole(ctx: Ctx, in: String, out: String, keep: DataFrame => DataFrame): Seq[Op] = {
    var nwc, areas: DataFrame = null
    Seq(
      ctx.op("operators", "build") {
        ctx.build("pipeline") {
          val f = new Frames(ctx, in, keep)
          nwc = keep(f.result.nodesWithCentroids)
          areas = keep(f.result.ways)
        }
      },
      ctx.op("sinks", "copy_nodes")(copy(ctx, nwc, "nodes", "geom")),
      ctx.op("sinks", "copy_ways")(copy(ctx, areas, "ways", "linestring")),
      ctx.op("sinks", "parquet") {
        ctx.exec("parquet")(PoiSink.writeParquet(nwc, out, SaveMode.Overwrite))
      })
  }

  /** The traced run's pass: one persisted and counted stage per layer. */
  private def staged(ctx: Ctx, in: String, out: String, keep: DataFrame => DataFrame): Seq[Op] = {
    var f: Frames = null
    var res: PoiPipeline.Result = null
    var tsvNodes, tsvAreas: DataFrame = null
    Seq(
      ctx.op("sources", "pbf_scan") {
        f = ctx.build("pbf_read")(new Frames(ctx, in, keep))
        counts += "pbf" -> ctx.exec("pbf_scan")(f.nodes.count() + f.ways.count() + f.rels.count())
      },
      ctx.op("operators", "assemble_rings") {
        ctx.exec("assemble_rings")(ctx.build("assemble_rings")(f.rings).count())
      },
      ctx.op("operators", "tagdim") {
        val dim = ctx.build("tagdim")(TagDimension.prepare(OsmExtract.dimension(ctx.spark), settings))
        ctx.exec("tagdim")(TagDimension.toPairs(dim, settings))
      },
      ctx.op("operators", "classify_project") {
        res = ctx.build("classify_project") {
          val r = f.result
          r.copy(nodes = keep(r.nodes), ways = keep(r.ways), invalidWays = keep(r.invalidWays))
        }
        counts ++= ctx.exec("classify_project")(Map("poi_nodes" -> res.nodes.count(),
          "areas" -> res.ways.count(), "invalid" -> res.invalidWays.count()))
      },
      ctx.op("operators", "centroids") {
        res = res.copy(nodesWithCentroids = keep(res.nodesWithCentroids))
        counts += "node_rows" -> ctx.exec("centroids")(res.nodesWithCentroids.count())
      },
      ctx.op("functions", "tsv_encode") {
        val (n, a) = ctx.build("tsv_encode")((keep(tsv(res.nodesWithCentroids)), keep(tsv(res.ways))))
        tsvNodes = n; tsvAreas = a
        ctx.exec("tsv_encode")(n.count() + a.count())
      },
      ctx.op("sinks", "copy") {
        ctx.exec("copy_nodes")(PoiSink.writeCopyTsv(tsvNodes, "nodes", "geom", settings,
          new CountingCopyProvider))
        ctx.exec("copy_ways")(PoiSink.writeCopyTsv(tsvAreas, "ways", "linestring", settings,
          new CountingCopyProvider))
      },
      ctx.op("sinks", "parquet") {
        ctx.exec("parquet")(PoiSink.writeParquet(res.nodesWithCentroids, out, SaveMode.Overwrite))
      })
  }

  private def tsv(df: DataFrame): DataFrame =
    df.select(HstoreCompat.tsvRow(col("id"), col("version"), col("user_id"), col("tstamp"),
      col("changeset_id"), col("tags"), col("geom")).as("row"))

  /** Closed-form counts against the newest pass's COPY and parquet
    * outputs, the COPY-vs-parquet content hash and the flush size bound;
    * in the traced run also against each stage's counts.
    */
  def verify(ctx: Ctx): (Seq[Check], Seq[OracleCase]) = {
    val x = extract(ctx.seed).Expected
    def eq(n: String, got: Long, want: Long) = Check(n, got == want, s"got $got, want $want")
    val pipeline = if (counts.isEmpty) Nil else {
      val r = new Frames(ctx, pbfDir(ctx), identity)
      blobs = Seq(r.nodes, r.ways, r.rels).map(_.rdd.getNumPartitions.toLong).sum
      Seq(
        eq("pbf_objects", counts("pbf"), extract(ctx.seed).objects),
        eq("poi_nodes", counts("poi_nodes"), x.poiNodes),
        eq("areas", counts("areas"), x.areaRows),
        eq("invalid_ways", counts("invalid"), x.invalidWays),
        eq("node_rows", counts("node_rows"), x.nodeRows))
    }
    val sinks = last match {
      case None => Seq(Check("poi_etl.pass", ok = false, "no pass completed"))
      case Some(s) =>
        val parquet = ctx.spark.read.parquet(s.parquetDir)
        val pqHash = tsv(parquet).select(xxhash64(col("row")).cast("decimal(38,0)").as("h"))
          .agg(count(lit(1)), sum(col("h"))).head()
        Seq(
          eq("copy_node_rows", s.copyNodes, x.nodeRows),
          eq("copy_area_rows", s.copyAreas, x.areaRows),
          eq("parquet_rows", pqHash.getLong(0), x.nodeRows),
          Check("copy_hash_eq_parquet_hash", BigInt(pqHash.getDecimal(1).toBigInteger) == s.copyHash,
            s"copy ${s.copyHash}, parquet ${pqHash.getDecimal(1)}"),
          Check("flush_le_write_after", s.maxFlush <= settings.writeAfter,
            s"largest flush ${s.maxFlush} rows, writeAfter ${settings.writeAfter}"),
          Check("flushes_per_partition",
            s.partitions.forall { case (f, r) => f == expectedFlushes(r, settings.writeAfter) },
            "(flushes, rows) per partition " + s.partitions.mkString(", ") +
              s", want ceil(rows / ${settings.writeAfter}) flushes each"),
          Check("micro_batched", s.partitions.exists(_._1 > 1),
            "no partition flushed more than once"))
    }
    (pipeline ++ sinks, Nil)
  }

  /** One sample per pass that completed: a pass is one run of the
    * pipeline, the latency a user of the ETL sees.
    */
  override def latencySamples(passes: Seq[(Double, Seq[Op])]): Seq[Double] =
    passes.filter(_._2.forall(_.ok)).map(_._1)

  def inputObjects(ctx: Ctx): Long = extract(ctx.seed).objects
  def inputBytes(ctx: Ctx): Long = Workload.dirBytes(pbfDir(ctx))
  def outputBytes(ctx: Ctx): Long = last.map(s => s.copyBytes + s.parquetBytes).getOrElse(0L)

  def layerMetrics(ctx: Ctx, tracedOps: Seq[Op]): Seq[(String, Double)] = {
    def stage(n: String) = Workload.median(tracedOps.filter(o => o.name == n && o.ok).map(_.seconds))
    def stat(f: Stats => Long) = Workload.median(tracedStats.map(f(_).toDouble))
    val mb = 1024.0 * 1024.0
    Seq(
      "sources.pbf_scan_s" -> stage("pbf_scan"),
      "sources.pbf_rows" -> counts.getOrElse("pbf", 0L).toDouble,
      "sources.pbf_blobs" -> blobs.toDouble,
      "sources.pbf_mb" -> inputBytes(ctx) / mb,
      "operators.tagdim_s" -> stage("tagdim"),
      "operators.assemble_rings_s" -> stage("assemble_rings"),
      "operators.classify_project_s" -> stage("classify_project"),
      "operators.kept_ratio" -> (counts.getOrElse("poi_nodes", 0L) + counts.getOrElse("areas", 0L))
        .toDouble / extract(ctx.seed).objects,
      "operators.centroids_s" -> stage("centroids"),
      "operators.invalid_ways" -> counts.getOrElse("invalid", 0L).toDouble,
      "functions.tsv_encode_s" -> stage("tsv_encode"),
      "sinks.copy_s" -> stage("copy"),
      "sinks.copy_flushes" -> stat(_.flushes),
      "sinks.copy_rows" -> stat(s => s.copyNodes + s.copyAreas),
      "sinks.copy_mb" -> stat(_.copyBytes) / mb,
      "sinks.rows_per_flush" -> stat(s => s.copyNodes + s.copyAreas) / math.max(stat(_.flushes), 1.0),
      "sinks.parquet_s" -> stage("parquet"),
      "sinks.parquet_mb" -> stat(_.parquetBytes) / mb)
  }
}

object PoiEtl {
  /** What one pass wrote (`partitions`: COPY flushes and rows of each
    * partition of either table), for the output checks and the trace. */
  final case class Stats(copyNodes: Long, copyAreas: Long, flushes: Long, maxFlush: Long,
      copyBytes: Long, copyHash: BigInt, parquetBytes: Long, parquetDir: String,
      partitions: Seq[(Long, Long)])

  /** The flushes `writeCopyTsv` must make for a partition of `rows`
    * rows: one per full `writeAfter` batch, plus one for the remainder.
    */
  def expectedFlushes(rows: Long, writeAfter: Int): Long = (rows + writeAfter - 1) / writeAfter
}
