package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every catalog query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Queries run in sorted-name order so run-to-run
  * timings are comparable (first query still pays JVM/codegen warm-up).
  *
  * Each query is executed to a noop DSv2 sink (`format("noop")`), which
  * consumes EVERY output column and preserves the query's own ordering —
  * unlike `.count()`, which lets Catalyst prune projections and drop the
  * ORDER BY, timing narrow queries as little more than a scan. Failures
  * are reported per-query in an `errors` object (a crashed query must
  * never masquerade as a fast one).
  */
object Bench {
  /** 1/5/15-minute system load — totals on this box have swung 61–103 s
    * for identical code purely with machine load, so every bench line
    * records the load context it ran under.
    */
  private def loadAvg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split(" ").take(3).mkString(" ")
    catch { case _: Exception => "unavailable" }

  /** Cumulative CPU jiffies from the aggregate `cpu` line of /proc/stat
    * (user nice system idle iowait irq softirq steal ...). Empty on
    * non-Linux; callers treat that as "trace unavailable".
    */
  private def statCpu(): Array[Long] =
    try scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).flatMap(s => scala.util.Try(s.toLong).toOption)
    catch { case _: Exception => Array.empty[Long] }

  /** Mid-run load trace: a daemon thread samples 1-minute load plus
    * whole-box busy%/iowait%/steal% (deltas over /proc/stat) every ~10 s.
    * Start/end load samples alone left mid-run interference invisible and
    * made "machine noise" unfalsifiable as an explanation for bench
    * swings; the trace makes it checkable sample by sample.
    */
  private def startLoadTrace(t0: Long,
      out: java.util.concurrent.ConcurrentLinkedQueue[String]): Unit = {
    def f1(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    val t = new Thread(() => {
      var prev = statCpu()
      while (true) {
        Thread.sleep(10000)
        val cur = statCpu()
        if (cur.length >= 5 && prev.length == cur.length) {
          val d = cur.zip(prev).map { case (a, b) => a - b }
          val total = math.max(d.sum, 1L)
          val idle = d(3)
          val iowait = d(4)
          val steal = if (d.length > 7) d(7) else 0L
          val busy = 100.0 * (total - idle - iowait) / total
          val sec = math.round((System.nanoTime() - t0) / 1e9)
          // loadAvg() returns "unavailable" when /proc/loadavg can't be
          // read; interpolating that unquoted would corrupt the JSON
          // line, so non-numeric load1 degrades to a JSON null
          val load1 = scala.util.Try(loadAvg().split(" ").head.toDouble)
            .toOption.map(_.toString).getOrElse("null")
          out.add(s"""{"t":$sec,"load1":$load1,"busy_pct":${f1(busy)}""" +
            s""","iowait_pct":${f1(100.0 * iowait / total)}""" +
            s""","steal_pct":${f1(100.0 * steal / total)}}""")
        }
        prev = cur
      }
    }, "bench-load-trace")
    t.setDaemon(true)
    t.start()
  }

  /** Per-query executor-memory evidence (r18 verdict task 1: the
    * sf10g composition-vs-isolated drift on `text_exact_substr_clean`
    * was blamed on "concurrent cache pressure" without data). Sums
    * task metrics between query boundaries — the query loop is
    * sequential and the bus is drained (`Bridge.waitListenerBus`)
    * before each read, so the deltas are exact per query:
    * spill (in-memory + disk bytes), JVM GC time, per-task peak
    * execution memory (MAX, the number a real cluster's executor
    * sizing cares about), shuffle write and input read volume, max
    * task wall (the serialized-tail signal), plus RDD-block eviction
    * counts from the block-update stream (`drop` = block gone,
    * `to_disk` = memory-pressure demotion of a MEMORY_AND_DISK block;
    * a direct DISK_ONLY persist would miscount as a demotion — the
    * catalog has none) and BlockManager storage-memory occupancy
    * sampled before/after each query (localCheckpoint blocks are NOT
    * SQL cache, so `clearCache()` does not free them — occupancy is
    * how leftover loop state shows up).
    */
  private[graft] final class MemListener
      extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    val memSpill, diskSpill, gcMs, shufWrite, input = new AtomicLong(0L)
    val peakExec, maxTaskMs = new AtomicLong(0L)
    val evictDrop, evictDisk = new AtomicLong(0L)
    // per-task fixed cost: Σ executorDeserializeTime is what every task
    // pays to unpack its task binary (RDD lineage, reader and writer
    // factories) before it runs
    val deserMs, tasks = new AtomicLong(0L)
    // jobs per query: eager probes, schema inference, checkpoints and
    // memo materialization each start one before or besides the
    // query's own execution
    val jobs = new AtomicLong(0L)
    override def onJobStart(
        js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet(): Unit
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = te.taskMetrics
      if (m != null) {
        deserMs.addAndGet(m.executorDeserializeTime)
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        gcMs.addAndGet(m.jvmGCTime)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(m.inputMetrics.bytesRead)
        peakExec.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
        maxTaskMs.getAndUpdate(p => math.max(p, te.taskInfo.duration))
      }
    }
    override def onBlockUpdated(
        bu: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit = {
      val info = bu.blockUpdatedInfo
      if (info.blockId.isRDD) {
        if (!info.storageLevel.isValid) evictDrop.incrementAndGet()
        else if (info.storageLevel.useDisk && !info.storageLevel.useMemory)
          evictDisk.incrementAndGet()
      }
    }
    def reset(): Unit = Seq(memSpill, diskSpill, gcMs, shufWrite, input,
      peakExec, maxTaskMs, evictDrop, evictDisk, deserMs, tasks, jobs).foreach(_.set(0L))
    /** One compact JSON object; bytes reported as integer MB. */
    def json(storePreMb: Long, storePostMb: Long,
        allocGb: Double = Double.NaN): String = {
      def mb(v: Long): Long = v >> 20
      // NEGATIVE alloc_gb is emitted as-is: it means threads died
      // mid-window and took their counters with them (the documented
      // undercount marker, seen on the substr family's loop sessions) —
      // suppressing it would leave the gap unexplained in the artifact
      val alloc = if (allocGb.isNaN) "" else f""""alloc_gb":$allocGb%.1f,"""
      s"""{"spill_mb":${mb(memSpill.get)},"dspill_mb":${mb(diskSpill.get)},""" +
        s""""gc_s":${gcMs.get / 1e3},"peak_exec_mb":${mb(peakExec.get)},""" +
        s""""shuf_w_mb":${mb(shufWrite.get)},"input_mb":${mb(input.get)},""" +
        s""""maxtask_s":${maxTaskMs.get / 1e3},""" + alloc +
        s""""deser_s":${deserMs.get / 1e3},"jobs":${jobs.get},"tasks":${tasks.get},""" +
        s""""evict_drop":${evictDrop.get},"evict_disk":${evictDisk.get},""" +
        s""""store_pre_mb":$storePreMb,"store_post_mb":$storePostMb}"""
    }
  }

  /** Total bytes allocated by ALL live JVM threads so far — the
    * pre/post delta per query is the number that turns "GC debt" from
    * an inference into an attribution (r19, ROADMAP candidate b): a
    * query whose in-window gc_s is high but whose OWN alloc_gb is low
    * is paying for a neighbor's debris; high alloc_gb names the
    * allocator directly. Local-mode caveat, documented not hidden:
    * task threads are pooled and long-lived so deltas are exact; a
    * thread that DIES mid-window takes its counter with it
    * (undercount), and threads born mid-window start at 0 (exact).
    */
  private[graft] def allocatedBytes(): Long = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    mx match {
      case sun: com.sun.management.ThreadMXBean if sun.isThreadAllocatedMemorySupported =>
        sun.getThreadAllocatedBytes(mx.getAllThreadIds).filter(_ > 0L).sum
      case _ => -1L
    }
  }

  /** BlockManager storage-memory occupancy (MB used) — local mode has
    * exactly one block manager entry.
    */
  private[graft] def storageUsedMb(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, rem) => max - rem }.sum >> 20

  @volatile private var calibSink = 0L

  /** Fixed deterministic CPU work (64-bit mix loop), immune to data and
    * caches — the yardstick that turns "the box was slow" into a
    * number. Run single-threaded and at `threads`-way occupancy, before
    * AND after the query loop: `single` ratios between two bench runs
    * measure per-core speed (incl. hypervisor steal); `mt/single` ≈ 1
    * on an idle box and grows with contention for the cores Spark is
    * about to assume it owns. Round 12's 206-vs-125 s driver-vs-builder
    * gap was adjudicated from load traces alone; this makes the
    * environment factor part of every artifact.
    */
  private def calibrate(threads: Int): (Double, Double) = {
    def mixWork(iters: Long): Long = {
      var h = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < iters) {
        h ^= i; h *= 0xC2B2AE3D27D4EB4FL; h ^= h >>> 29
        i += 1
      }
      h
    }
    val iters = 200000000L
    calibSink ^= mixWork(iters / 10) // JIT warm-up for the loop itself
    val t0 = System.nanoTime()
    calibSink ^= mixWork(iters)
    val single = (System.nanoTime() - t0) / 1e9
    val acc = new java.util.concurrent.atomic.AtomicLong()
    val t1 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => {
      acc.getAndAdd(mixWork(iters))
    }))
    ts.foreach(_.start()); ts.foreach(_.join())
    val mt = (System.nanoTime() - t1) / 1e9
    calibSink ^= acc.get()
    (single, mt)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val loadStart = loadAvg()
    val calibThreads = math.min(
      scala.util.Try(cpus.toInt).getOrElse(4), 32)
    val (calSinglePre, calMtPre) = calibrate(calibThreads)
    val benchT0 = System.nanoTime()
    val traceBuf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    startLoadTrace(benchT0, traceBuf)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warm-up so the alphabetically-first query isn't
    // penalized ~4s relative to the rest. A range query alone leaves the
    // parquet scan path, broadcast machinery, and noop sink cold — the
    // first real query used to absorb all of that (~2.5s); warm each.
    spark.range(1000).selectExpr("sum(id)").collect()
    locally {
      import org.apache.spark.sql.functions.broadcast
      val n = graft.sources.Tables.nation(spark, sfDir)
      val r = graft.sources.Tables.region(spark, sfDir)
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .write.format("noop").mode("overwrite").save()
      // the shingle/minhash kernels codegen-compile on first use (~3s);
      // bill that to warm-up, not to whichever dedup query sorts first
      import org.apache.spark.sql.functions.{col, concat_ws, lit}
      val tiny = spark.range(8).select(col("id"),
        concat_ws(" ", lit("a"), lit("b"), lit("c"), col("id").cast("string"),
          lit("d"), lit("e")).as("text"))
      graft.operators.Dedup.minhashLshPairs(tiny, "id", "text",
          k = 3, threshold = 0.8, bands = 16, rowsPerBand = 2)
        .write.format("noop").mode("overwrite").save()
    }
    val mem = new MemListener
    spark.sparkContext.addSparkListener(mem)
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val startOff = math.round((System.nanoTime() - benchT0) / 1e9)
      val storePre = storageUsedMb(spark)
      val allocPre = allocatedBytes()
      mem.reset()
      val t0 = System.nanoTime()
      val err = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable =>
          Some((e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage).replaceAll("[\"\\\\\n\r\t]", " ").take(160)).trim)
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // drain the async listener bus so the metric deltas read below
      // belong to THIS query, then snapshot memory evidence
      try org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)
      catch { case _: Exception => () }
      val allocGb =
        if (allocPre < 0) Double.NaN
        else (allocatedBytes() - allocPre) / (1024.0 * 1024 * 1024)
      val memJson = mem.json(storePre, storageUsedMb(spark), allocGb)
      // cleanup OUTSIDE the timed window: drop caches a query persisted
      // (LSH sketches etc.) so later queries aren't timed under another
      // query's storage footprint, and collect now so the freed blocks'
      // GC debt doesn't land on whichever query happens to run next
      // (observed as bimodal 10x spikes on the query after the dedup
      // block)
      spark.catalog.clearCache()
      System.gc()
      (name, elapsed, err, startOff, memJson)
    }
    val qs = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(m), _, _) => "\"" + k + "\":\"" + m + "\"" }
      .mkString("{", ",", "}")
    // wall-clock start offset (s) per query — lets the load trace be
    // aligned to exactly which query was running when a sample fired
    val starts = results.map { case (k, _, _, s, _) => "\"" + k + "\":" + s }
      .mkString("{", ",", "}")
    // per-query memory evidence (spill / GC / eviction / occupancy) —
    // the artifact-level answer to "was it cache pressure?"
    val memMap = results.map { case (k, _, _, _, m) => "\"" + k + "\":" + m }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val trace = {
      val it = traceBuf.iterator()
      val b = new StringBuilder("[")
      var first = true
      while (it.hasNext) { if (!first) b.append(','); b.append(it.next()); first = false }
      b.append(']').toString
    }
    val (calSinglePost, calMtPost) = calibrate(calibThreads)
    val load = s""""load":{"start":"$loadStart","end":"${loadAvg()}","cpus":"$cpus","trace":$trace},""" +
      s""""calib":{"threads":$calibThreads,"single_pre_s":$calSinglePre,"mt_pre_s":$calMtPre,""" +
      s""""single_post_s":$calSinglePost,"mt_post_s":$calMtPost}"""
    // the compact summary is the LAST key: log capture keeps the tail of
    // long lines, and the per-query map in front has twice outgrown the
    // capture window — totals must survive truncation machine-readably
    // Locale.ROOT: the f-interpolator uses the JVM default locale, and a
    // comma-decimal locale would emit invalid JSON here
    def f2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val slowest = results.sortBy(-_._2).take(10)
      .map { case (k, v, _, _, _) => "\"" + k + "\":" + f2(v) }
      .mkString("{", ",", "}")
    // catalog entries that are views of one shared materialization: the
    // alphabetically-first entry of each family pays the full chain and
    // the rest are timed as parquet-memo reads (see QueryMemo) — their
    // per-query numbers are NOT per-query chain costs. Recorded here so
    // the artifact carries its own attribution caveat; set
    // SPARK_GRAFT_MEMO=off for an unshared per-query attribution run.
    val memoNote = """"shared_memo":[""" +
      """"doc_pipeline_{full,manifest,shards}: one CorpusPipeline.run",""" +
      """"mm_frame_{dedup_real,sample_real}: one decoded-frames relation",""" +
      """"text_{classifier_train,quality_classifier}: train-once weights",""" +
      """"dedup_{minhash_lsh,cc_clusters,cc_star,keep_canonical,keep_best}: one LSH pair relation",""" +
      """"dedup_{keep_canonical,keep_best}: one star-CC labeling",""" +
      """"doc_link_{hits,salsa,tkc,tkc_topk,hits_delta}: one HITS + one SALSA run over the shared 23-host graph",""" +
      """"doc_mirror_clusters + doc_link_pagerank_mirrored: one mirror pair + star-CC alias table"]"""
    val summary = s""""summary":{"total_s":${f2(total)},"n_queries":${results.size},"n_errors":${results.count(_._3.isDefined)},"slowest":$slowest}"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"starts":$starts,"errors":$errs,"mem":$memMap,$load,"sf":"$sfDir",$memoNote,$summary}"""
    println(line)
    // ALSO write the full line to a file: the driver's log capture keeps
    // only the tail of long lines, which left round 12's 206-vs-125 s
    // driver-vs-builder gap undiagnosable per query from committed
    // artifacts. The file survives truncation; commit it each round.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"bench_last.json write failed: $e") }
    spark.stop()
  }
}
