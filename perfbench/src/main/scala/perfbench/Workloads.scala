package perfbench

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** One timed operation: a catalog query, a heavy operator or a pipeline
  * stage. A failed operation is kept for the error count and never
  * used as a latency sample.
  */
final case class Op(name: String, seconds: Double, ok: Boolean, traced: Boolean,
    error: String = "")

/** An output check; a failing check counts as a failed operation. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A query output the runner compares against its DuckDB oracle. */
final case class OracleCase(query: String, outDir: String)

/** What a workload's timed passes share: the session, the tracer (a
  * no-op when tracing is off), the probe (absent when tracing is off),
  * the run's directories, and whether this is a traced run (whose
  * passes, traced or not, run in per-layer stages where a workload
  * needs them).
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val probe: Option[Probe],
    val seed: Long, val work: String, val base: String, val cores: Int,
    val layered: Boolean) {

  /** Drain the listener bus and hand the actions reported so far to
    * the innermost open span. Only in the traced run.
    */
  private def settle(): Unit = probe.foreach { p =>
    org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)
    p.takeQueryExecutions(Option(spark.sparkContext.getLocalProperty(Tracer.SpanProperty))
      .flatMap(_.toIntOption).getOrElse(0))
  }

  /** A builder call (layer `plan`): the public function that returns
    * the DataFrame, including any job it starts eagerly.
    */
  def build[A](name: String)(f: => A): A =
    tracer.span("plan", name) { val a = f; settle(); a }

  /** An action (layer `exec`). */
  def exec[A](name: String)(f: => A): A =
    tracer.span("exec", name) { val a = f; settle(); a }

  /** Times `body` as one operation inside a span of `layer`. */
  def op(layer: String, name: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    try {
      tracer.span(layer, name)(body)
      Op(name, (System.nanoTime() - t0) / 1e9, ok = true, traced = tracer.enabled)
    } catch {
      case e: Throwable =>
        Op(name, (System.nanoTime() - t0) / 1e9, ok = false, traced = tracer.enabled,
          error = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300))
    }
  }

  def dir(name: String): String = s"$work/$name"
}

trait Workload {
  /** About how long one pass takes on 4 cores; a run makes
    * round(--seconds / passSeconds) passes, at least one.
    */
  def passSeconds: Double
  /** Whether a traced run alternates whole traced and untraced passes
    * (T U U T); otherwise it runs [[overheadRepeats]], whose traced
    * operations give the per-layer metrics.
    */
  def overheadByPass: Boolean = true
  /** Untraced and traced repeats of the pass's operations, in an order
    * that warms neither side more than the other; `listen` registers
    * (true) or removes (false) the traced context's probe.
    */
  def overheadRepeats(plain: Ctx, traced: Ctx, listen: Boolean => Unit): (Seq[Op], Seq[Op]) = {
    val u = pass(plain)
    listen(true)
    try (u, pass(traced)) finally listen(false)
  }
  /** Generates the seeded inputs (set-up). */
  def prepare(ctx: Ctx): Unit
  /** Runs the workload's code path once on a small input (set-up). */
  def warm(ctx: Ctx): Unit
  /** One timed pass. */
  def pass(ctx: Ctx): Seq[Op]
  /** Untimed output checks after the timed passes. */
  def verify(ctx: Ctx): (Seq[Check], Seq[OracleCase])
  /** Objects in the input the passes read. */
  def inputObjects(ctx: Ctx): Long
  def inputBytes(ctx: Ctx): Long
  /** Bytes the workload's outputs occupy (COPY payload plus parquet). */
  def outputBytes(ctx: Ctx): Long
  /** Workload-specific per-layer metrics of the traced passes. */
  def layerMetrics(ctx: Ctx, tracedOps: Seq[Op]): Seq[(String, Double)]
  /** The latency samples of `query_p50_s` and `query_tail_s`, from the
    * untraced passes' (wall, operations): by default every successful
    * operation.
    */
  def latencySamples(passes: Seq[(Double, Seq[Op])]): Seq[Double] =
    passes.flatMap(_._2).filter(_.ok).map(_.seconds)
}

object Workload {
  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).map(_.filterNot(_.getName.startsWith(".")).map(walk).sum)
        .getOrElse(0L)
    walk(new java.io.File(path))
  }

  def rmrf(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2.0
    }

  /** Runs each query's builder and its noop write as one operation. */
  def queryOps(ctx: Ctx, layer: String, names: Seq[String], dir: String): Seq[Op] =
    names.map { q =>
      val fn = graft.SparkEntry.queries(q)
      val op = ctx.op(layer, q) {
        val df = ctx.build(q)(fn(ctx.spark, dir))
        ctx.exec(q)(noop(df))
      }
      // outside the timed window: drop anything the query persisted
      ctx.spark.catalog.clearCache()
      op
    }

  /** Writes each query's output as parquet for the runner's DuckDB
    * oracle comparison, `threads` queries at a time (untimed).
    */
  def oracleCases(ctx: Ctx, names: Seq[String], dir: String,
      threads: Int): (Seq[Check], Seq[OracleCase]) = {
    val results = new java.util.concurrent.ConcurrentHashMap[String, Either[Check, OracleCase]]()
    Parallel.foreach(names, threads) { q =>
      val out = ctx.dir(s"out/$q")
      results.put(q, try {
        graft.SparkEntry.queries(q)(ctx.spark, dir).write.mode(SaveMode.Overwrite).parquet(out)
        Right(OracleCase(q, out))
      } catch {
        case e: Throwable => Left(Check(s"$q.output", ok = false,
          (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)))
      })
    }
    ctx.spark.catalog.clearCache()
    val ordered = names.map(results.get)
    (ordered.collect { case Left(c) => c }, ordered.collect { case Right(o) => o })
  }

  def byName(n: String, listFile: String): Workload = n match {
    case "poi_etl" => new PoiEtl
    case "catalog_sweep" => new CatalogSweep(listFile)
    case "heavy_ops" => new HeavyOps
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Catalog entries that share one materialization per JVM (the
  * `shared_memo` families `graft.Bench` lists, plus
  * `doc_link_salsa_delta`, which reads the same HITS/SALSA memo) or a
  * per-session trained model: a second family member would be timed as
  * a memo read, so no workload runs them.
  */
object Memo {
  val families: Set[String] = Set(
    "doc_pipeline_full", "doc_pipeline_manifest", "doc_pipeline_shards",
    "mm_frame_dedup_real", "mm_frame_sample_real",
    "text_classifier_train", "text_quality_classifier",
    "dedup_minhash_lsh", "dedup_cc_clusters", "dedup_cc_star",
    "dedup_keep_canonical", "dedup_keep_best",
    "doc_link_hits", "doc_link_salsa", "doc_link_tkc", "doc_link_tkc_topk",
    "doc_link_hits_delta", "doc_link_salsa_delta",
    "doc_mirror_clusters", "doc_link_pagerank_mirrored")
}

/** `catalog_sweep`: a stratified subset of the short catalog queries,
  * each run once per pass to `noop` over the seeded sf0.01-derived
  * tables, in a seeded order that changes from pass to pass. The
  * candidate list (queries under about 1 s at sf0.1, outside the memo
  * families and `heavy_ops`, with a DuckDB oracle) is committed with
  * each query's time in the seed commit's sf0.01 bench. The subset is
  * the middle query of each of [[Strata]] equal strata of that time
  * order, among the candidates under [[MaxS]] there. It is the same for
  * every seed: with a seeded draw from the same strata, the pass time
  * moved by a quarter between seeds on a quiet machine. The seed sets
  * the input rows and the orders.
  */
final class CatalogSweep(listFile: String) extends Workload {
  val passSeconds = 15.0
  val Strata = 25
  val MaxS = 1.0
  val KeepPermille = 900
  private var checked: (Seq[Check], Seq[OracleCase]) = (Nil, Nil)
  private var passNo = 0

  /** (query, seconds it took in the seed commit's sf0.01 bench). */
  private lazy val candidates: Seq[(String, Double)] = {
    val src = scala.io.Source.fromFile(listFile)
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val p = l.split("\\s+"); (p(0), p(2).toDouble) }.toSeq
    finally src.close()
  }

  private lazy val byTime: Seq[String] =
    candidates.filter(_._2 < MaxS).sortBy(c => (c._2, c._1)).map(_._1)

  /** The timed queries. */
  lazy val subset: Seq[String] =
    (0 until Strata).map(i => byTime((2 * i + 1) * byTime.size / (2 * Strata)))

  /** The query order of pass `pass` (1, 2, ...) of a run with `seed`. */
  def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(subset)

  /** A traced run repeats each query back to back instead of making
    * whole traced and untraced passes.
    */
  override def overheadByPass: Boolean = false

  /** Each query's two repeats back to back, untraced first for the
    * queries at even positions and traced first for the others.
    */
  override def overheadRepeats(plain: Ctx, traced: Ctx,
      listen: Boolean => Unit): (Seq[Op], Seq[Op]) =
    order(plain.seed, 1).zipWithIndex.map { case (q, i) =>
      def u = Workload.queryOps(plain, "queries", Seq(q), inDir(plain)).head
      def t = { listen(true); try Workload.queryOps(traced, "queries", Seq(q), inDir(traced)).head
        finally listen(false) }
      if (i % 2 == 0) { val a = u; (a, t) } else { val b = t; (u, b) }
    }.unzip

  private def inDir(ctx: Ctx) = ctx.dir("in")

  def prepare(ctx: Ctx): Unit =
    SfDerive.write(ctx.spark, ctx.base, inDir(ctx), ctx.seed, SfDerive.Tables, 1, KeepPermille)

  /** Runs every timed query once, to parquet, over the run's own input,
    * one at a time in a seeded order:
    * the JVM, Spark's planning and execution paths and each query's
    * generated code are warm before the first timed query. These are
    * the outputs the runner compares with the DuckDB oracles; the timed
    * passes run the same queries over the same input to `noop`.
    */
  def warm(ctx: Ctx): Unit =
    checked = Workload.oracleCases(ctx, order(ctx.seed, 0), inDir(ctx), threads = 1)

  def pass(ctx: Ctx): Seq[Op] = {
    passNo += 1
    Workload.queryOps(ctx, "queries", order(ctx.seed, passNo), inDir(ctx))
  }

  def verify(ctx: Ctx): (Seq[Check], Seq[OracleCase]) = checked

  def inputObjects(ctx: Ctx): Long = SfDerive.Tables.map(t =>
    ctx.spark.read.parquet(s"${inDir(ctx)}/$t.parquet").count()).sum
  def inputBytes(ctx: Ctx): Long = Workload.dirBytes(inDir(ctx))
  def outputBytes(ctx: Ctx): Long = Workload.dirBytes(ctx.dir("out"))
  def layerMetrics(ctx: Ctx, tracedOps: Seq[Op]): Seq[(String, Double)] = Nil
}

/** `heavy_ops`: the carried performance items, each once per pass, over
  * a seeded ScaleGen-style scale-up ([[SfDerive]]) of the sf0.01 tables.
  */
final class HeavyOps extends Workload {
  val Queries: Seq[String] = Seq("events_proximity_join", "dedup_jaccard_pairs",
    "text_exact_substr_clean", "poi_in_way_area")
  val passSeconds = 16.0
  val Copies = 16
  private val tables = Seq("documents", "events", "orders", "part")
  private var rowsOut = Map.empty[String, Long]

  private def inDir(ctx: Ctx) = ctx.dir("in")

  def prepare(ctx: Ctx): Unit = {
    SfDerive.write(ctx.spark, ctx.base, inDir(ctx), ctx.seed, tables, Copies, 900)
    SfDerive.write(ctx.spark, ctx.base, ctx.dir("warm"), ctx.seed + 1, tables, 1, 100)
  }

  def warm(ctx: Ctx): Unit =
    Queries.foreach(q => Workload.noop(graft.SparkEntry.queries(q)(ctx.spark, ctx.dir("warm"))))

  def pass(ctx: Ctx): Seq[Op] = Workload.queryOps(ctx, "operators", Queries, inDir(ctx))

  def verify(ctx: Ctx): (Seq[Check], Seq[OracleCase]) = {
    val r = Workload.oracleCases(ctx, Queries, inDir(ctx), 2 * ctx.cores)
    rowsOut = r._2.map(o => o.query -> ctx.spark.read.parquet(o.outDir).count()).toMap
    r
  }

  def inputObjects(ctx: Ctx): Long =
    tables.map(t => ctx.spark.read.parquet(s"${inDir(ctx)}/$t.parquet").count()).sum
  def inputBytes(ctx: Ctx): Long = Workload.dirBytes(inDir(ctx))
  def outputBytes(ctx: Ctx): Long = Workload.dirBytes(ctx.dir("out"))

  def layerMetrics(ctx: Ctx, tracedOps: Seq[Op]): Seq[(String, Double)] =
    Queries.flatMap { q =>
      Seq(s"$q.s" -> Workload.median(tracedOps.filter(o => o.name == q && o.ok).map(_.seconds)),
        s"$q.rows_out" -> rowsOut.getOrElse(q, 0L).toDouble)
    }
}
