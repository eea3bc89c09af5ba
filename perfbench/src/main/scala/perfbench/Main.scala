package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: set-up, timed passes and output checks for one
  * workload. `perfbench/run.py` builds the harness, launches this main
  * and prints the final result line; see `perfbench/README.md`.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <dir> --base <sf dir> --catalog <list file> --cores <n> --result <file>
  * }}}
  */
object Main {
  /** One timed pass: whether it was traced (its spans and probe give the
    * per-layer metrics), its wall time, its operations and the seconds
    * the JIT spent compiling during it.
    */
  final case class Pass(traced: Boolean, wall: Double, ops: Seq[Op], jit: Double = 0.0)

  /** Every per-layer metric of `BENCHMARK.json`, in report order; a
    * traced run reports each one, 0 where the workload does not exercise
    * the layer. Workload-specific extras (the `heavy_ops` per-query
    * times) are reported beside them.
    */
  val PerLayer: Seq[String] = Seq(
    "plan.build_s", "plan.eager_jobs", "plan.analysis_s", "plan.optimization_s",
    "plan.planning_s",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.task_overhead_s", "sched.driver_only_s",
    "exec.task_s", "exec.cpu_s", "exec.busy_ratio", "exec.maxtask_s", "exec.task_skew",
    "exec.gc_s", "exec.alloc_gb", "exec.peak_exec_mb", "exec.spill_mb",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.input_mb",
    "sources.pbf_scan_s", "sources.pbf_rows", "sources.pbf_blobs", "sources.pbf_mb",
    "operators.tagdim_s", "operators.assemble_rings_s", "operators.classify_project_s",
    "operators.kept_ratio", "operators.centroids_s", "operators.invalid_ways",
    "functions.tsv_encode_s",
    "sinks.copy_s", "sinks.copy_flushes", "sinks.copy_rows", "sinks.copy_mb",
    "sinks.rows_per_flush", "sinks.parquet_s", "sinks.parquet_mb",
    "trace.wall_s", "trace.untraced_wall_s", "trace.overhead_ratio", "share.plan_driver_only")

  private def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Latency summary of successful samples: median, and the highest
    * percentile with at least ten samples beyond it (the largest sample
    * when there are fewer than eleven), with that percentile and the
    * number of samples beyond it.
    */
  def latency(samples: Seq[Double]): (Double, Double, Double, Int) = {
    val s = samples.sorted
    val n = s.size
    if (n == 0) (Double.NaN, Double.NaN, 0.0, 0)
    else if (n <= 10) (Workload.median(s), s.last, 100.0, 0)
    else (Workload.median(s), s(n - 11), 100.0 * (n - 10) / n, 10)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val cores = opt("cores").toInt
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val load = new Env.LoadTrace()
    val loadStart = Env.loadAvg()
    val wl = Workload.byName(workloadName, opt("catalog"))
    val run = s"$workloadName-$seed-${if (traced) "t" else "u"}-${System.currentTimeMillis()}"

    // set-up, once: SparkSession, seeded inputs, warm-up. `setup_s` runs
    // from JVM start to the end of the warm-up.
    val t0 = System.nanoTime()
    val jvmS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val spark = session(work, cores)
    def ctx(t: Tracer, p: Option[Probe]) =
      new Ctx(spark, t, p, seed, work, opt("base"), cores, traced)
    val plain = ctx(new Tracer(false, run, null), None)
    val t1 = System.nanoTime()
    wl.prepare(plain)
    val t2 = System.nanoTime()
    wl.warm(plain)
    val t3 = System.nanoTime()
    val setupPhases = Seq(jvmS, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
    val setupJit = Env.jitSeconds()
    val setupS = setupPhases.sum
    val probe = if (traced) Some(new Probe) else None
    val tracer = new Tracer(traced, run, spark.sparkContext)
    val tctx = ctx(tracer, probe)
    val (calSinglePre, calMtPre) = Env.calibrate(cores)

    // timed passes: closed loop, one client
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    var allocBytes = 0L
    var alloc0 = 0L
    // the probe listens, and allocation is counted, only while `c` is traced
    def listen(c: Ctx, on: Boolean): Unit = c.probe.foreach { p =>
      if (on) {
        spark.sparkContext.addSparkListener(p); spark.listenerManager.register(p)
        alloc0 = Probe.allocatedBytes()
      } else {
        allocBytes += Probe.allocatedBytes() - alloc0
        org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)
        spark.sparkContext.removeSparkListener(p); spark.listenerManager.unregister(p)
      }
    }
    def onePass(c: Ctx): Unit = {
      listen(c, on = true)
      val j0 = Env.jitSeconds()
      val t0 = System.nanoTime()
      val ops = wl.pass(c)
      val wall = (System.nanoTime() - t0) / 1e9
      listen(c, on = false)
      passes += Pass(c.tracer.enabled, wall, ops, Env.jitSeconds() - j0)
    }
    // a fixed pass count per run, about --seconds of passes: a count that
    // followed the clock would change the number of latency samples,
    // and with it which percentile is the tail, from run to run
    val count = math.max(1, math.round(seconds / wl.passSeconds).toInt)
    if (!traced) for (_ <- 0 until count) onePass(plain)
    else if (wl.overheadByPass) {
      // traced and untraced passes in T U U T order, equally warm: every
      // traced pass gives per-layer metrics and the tracing overhead
      for (i <- 0 until 4) onePass(if (i == 0 || i == 3) tctx else plain)
    } else {
      // each operation untraced and traced, back to back in balanced
      // order: the traced ones give the per-layer metrics, both sides
      // the tracing overhead
      val (u, t) = wl.overheadRepeats(plain, tctx, on => listen(tctx, on))
      passes += Pass(traced = false, u.map(_.seconds).sum, u)
      passes += Pass(traced = true, t.map(_.seconds).sum, t)
    }

    // untimed: output checks, calibration again, environment
    val tVerify = System.nanoTime()
    val (checks, oracle) = wl.verify(plain)
    val verifyS = (System.nanoTime() - tVerify) / 1e9
    val (calSinglePost, calMtPost) = Env.calibrate(cores)
    load.stop()

    val untraced = passes.filterNot(_.traced)
    val layerP = passes.filter(_.traced)
    val ops = passes.flatMap(_.ops)
    val samples = wl.latencySamples(untraced.map(p => (p.wall, p.ops)).toSeq)
    val (p50, tail, tailPct, beyond) = latency(samples)
    val wall = untraced.map(_.wall).sum
    val passWall = Workload.median(untraced.map(_.wall).toSeq)
    val objects = wl.inputObjects(plain)
    val inBytes = wl.inputBytes(plain)
    val outBytes = wl.outputBytes(plain)
    val attempted = ops.size + checks.size
    val failed = ops.count(!_.ok) + checks.count(!_.ok)

    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (wall, "s"),
      "objects_per_s" -> (objects * untraced.size / wall, "1/s"),
      "query_p50_s" -> (p50, "s"),
      "query_tail_s" -> (tail, "s"),
      "out_bytes_per_in_byte" -> (outBytes.toDouble / math.max(inBytes, 1L), "ratio"))
    val layerAll: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val tWall = Workload.median(layerP.map(_.wall).toSeq)
        val tMean = layerP.map(_.wall).sum / layerP.size
        val m = (Probe.layerMetrics(probe.get, tracer, layerP.size, tMean, cores, allocBytes) ++
          wl.layerMetrics(plain, layerP.flatMap(_.ops).toSeq)).toMap
        val planDriver = Seq("plan.build_s", "plan.analysis_s", "plan.optimization_s",
          "plan.planning_s", "sched.driver_only_s").map(m.getOrElse(_, 0.0)).sum
        m ++ Map("trace.wall_s" -> tWall, "trace.untraced_wall_s" -> passWall,
          "trace.overhead_ratio" -> (tWall / passWall - 1.0),
          "share.plan_driver_only" -> planDriver / tMean)
      }
    val layers = if (!traced) Nil else PerLayer.map(k => k -> layerAll.getOrElse(k, 0.0))
    val layerExtra = layerAll.filter(kv => !PerLayer.contains(kv._1)).toSeq.sortBy(_._1)

    def opJson(o: Op) = Json.obj(Seq("name" -> Json.str(o.name), "s" -> Json.num(o.seconds),
      "ok" -> o.ok.toString, "traced" -> o.traced.toString) ++
      (if (o.ok) Nil else Seq("error" -> Json.str(o.error))))
    val result = Json.obj(Seq(
      "workload" -> Json.str(workloadName),
      "seed" -> seed.toString,
      "trace" -> traced.toString,
      "cores" -> cores.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "e2e" -> Json.obj(e2e.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
      "layers_extra" -> Json.obj(layerExtra.map { case (k, v) => k -> Json.num(v) }),
      "detail" -> Json.obj(Seq(
        "setup_phases_s" -> Json.obj(Seq("jvm", "session", "inputs", "warm")
          .zip(setupPhases.map(Json.num))),
        "pass_wall_s" -> untraced.map(p => Json.num(p.wall)).mkString("[", ",", "]"),
        "pass_jit_s" -> untraced.map(p => Json.num(p.jit)).mkString("[", ",", "]"),
        "traced_pass_wall_s" -> passes.filter(_.traced).map(p => Json.num(p.wall))
          .mkString("[", ",", "]"),
        "verify_s" -> Json.num(verifyS),
        "setup_jit_s" -> Json.num(setupJit),
        "samples" -> samples.size.toString,
        "tail_percentile" -> Json.num(tailPct),
        "tail_samples_beyond" -> beyond.toString,
        "objects" -> objects.toString,
        "in_bytes" -> inBytes.toString,
        "out_bytes" -> outBytes.toString)),
      "ops" -> ops.map(opJson).mkString("[", ",", "]"),
      "checks" -> checks.map(c => Json.obj(Seq("name" -> Json.str(c.name),
        "ok" -> c.ok.toString, "detail" -> Json.str(c.detail)))).mkString("[", ",", "]"),
      "oracle" -> oracle.map(o => Json.obj(Seq("query" -> Json.str(o.query),
        "out" -> Json.str(o.outDir),
        "sql" -> graft.SparkEntry.oracleSql.get(o.query).map(Json.str).getOrElse("null"))))
        .mkString("[", ",", "]"),
      "env" -> Json.obj(Seq(
        "calib" -> Json.obj(Seq("threads" -> cores.toString,
          "single_pre_s" -> Json.num(calSinglePre), "mt_pre_s" -> Json.num(calMtPre),
          "single_post_s" -> Json.num(calSinglePost), "mt_post_s" -> Json.num(calMtPost))),
        "load_start" -> Json.str(loadStart), "load_end" -> Json.str(Env.loadAvg()),
        "load_trace" -> load.json))))
    java.nio.file.Files.write(java.nio.file.Paths.get(opt("result")),
      result.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (traced) java.nio.file.Files.write(java.nio.file.Paths.get(opt("result") + ".spans.json"),
      Tracer.json(tracer.spans).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
