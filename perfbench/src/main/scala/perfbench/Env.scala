package perfbench

/** Minimal JSON writing: the harness emits a handful of flat objects,
  * not worth a dependency.
  */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def str(s: String): String = "\"" + esc(s) + "\""
  /** Every digit, and never NaN/Infinity (invalid JSON). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** The environment a result was measured in, recorded with every
  * result so that a slow box can be identified rather than argued
  * about: the same fixed-work CPU calibration as `graft.Bench` (a
  * 64-bit mix loop, run single-threaded and at `threads`-way
  * occupancy, before and after the timed work) and a `/proc/stat`
  * busy/iowait/steal trace sampled through the run.
  */
object Env {
  @volatile private var sink = 0L

  private def mixWork(iters: Long): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < iters) {
      h ^= i; h *= 0xC2B2AE3D27D4EB4FL; h ^= h >>> 29
      i += 1
    }
    h
  }

  /** (single-thread seconds, threads-way seconds) for a fixed amount of
    * work. `graft.Bench` uses 2e8 iterations; a quarter of that keeps
    * the calibration under a second per call here, and the ratio
    * between two results is what matters.
    */
  def calibrate(threads: Int, iters: Long = 50000000L): (Double, Double) = {
    sink ^= mixWork(iters / 10)
    val t0 = System.nanoTime()
    sink ^= mixWork(iters)
    val single = (System.nanoTime() - t0) / 1e9
    val acc = new java.util.concurrent.atomic.AtomicLong()
    val t1 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => { acc.getAndAdd(mixWork(iters)); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    val mt = (System.nanoTime() - t1) / 1e9
    sink ^= acc.get()
    (single, mt)
  }

  /** Seconds the JIT compiler threads have spent compiling so far. */
  def jitSeconds(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def statCpu(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).flatMap(_.toLongOption)
      finally src.close()
    } catch { case _: Exception => Array.empty[Long] }

  def loadAvg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ").take(3).mkString(" ") finally src.close()
    } catch { case _: Exception => "unavailable" }

  /** Samples whole-box busy/iowait/steal percentages every `periodMs`
    * on a daemon thread until [[stop]]; [[json]] returns the samples.
    */
  final class LoadTrace(periodMs: Long = 2000L) {
    private val t0 = System.nanoTime()
    private val samples = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile private var running = true
    private val thread = new Thread(() => {
      var prev = statCpu()
      while (running) {
        try Thread.sleep(periodMs) catch { case _: InterruptedException => () }
        val cur = statCpu()
        if (cur.length >= 5 && prev.length == cur.length) {
          val d = cur.zip(prev).map { case (a, b) => a - b }
          val total = math.max(d.sum, 1L).toDouble
          val steal = if (d.length > 7) d(7) else 0L
          samples.add(Json.obj(Seq(
            "t_s" -> Json.num((System.nanoTime() - t0) / 1e9),
            "busy_pct" -> Json.num(100.0 * (total - d(3) - d(4)) / total),
            "iowait_pct" -> Json.num(100.0 * d(4) / total),
            "steal_pct" -> Json.num(100.0 * steal / total))))
        }
        prev = cur
      }
    }, "perfbench-load-trace")
    thread.setDaemon(true)
    thread.start()

    def stop(): Unit = { running = false; thread.interrupt(); thread.join(5000L) }
    def json: String = {
      val b = Seq.newBuilder[String]
      samples.forEach(s => b += s)
      b.result().mkString("[", ",", "]")
    }
  }
}
