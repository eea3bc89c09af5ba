package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev loop: time named catalog queries in isolation (same session
  * shape as Bench, same noop sink) without paying for the whole
  * catalog. `runMain graft.tools.QueryTime <sfDir> <query> [query ...]`
  * — each query runs `reps` times (env SPARK_GRAFT_REPS, default 3) so
  * scheduler-noise vs. plan cost separates. Every name is checked
  * against the catalog before the session starts: one unknown name
  * fails the run, so a typo never times a different query or nothing.
  */
object QueryTime {
  /** The requested names that are not catalog queries, in input order. */
  def unknownQueries(names: Seq[String]): Seq[String] =
    names.filterNot(graft.SparkEntry.queries.contains).distinct

  def main(args: Array[String]): Unit = {
    val status = run(args)
    if (status != 0) sys.exit(status)
  }

  /** Times the queries; returns the exit status (2: unknown names). */
  def run(args: Array[String]): Int = {
    require(args.length >= 2, "usage: QueryTime <sfDir> <query> [query ...]")
    val sfDir = args(0)
    val unknown = unknownQueries(args.toSeq.drop(1))
    if (unknown.nonEmpty) {
      Console.err.println(s"[qtime] unknown queries: ${unknown.mkString(", ")}")
      return 2
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // shuffle width is its own knob: a real cluster sizes partitions
    // to ~128 MB, not to core count
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect() // session warm-up
    // same per-query memory evidence as Bench (spill / GC / eviction /
    // occupancy), so isolated-vs-composition drift compares like for like
    val mem = new graft.Bench.MemListener
    spark.sparkContext.addSparkListener(mem)
    args.drop(1).foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // Fault-isolated per query: a probe run deliberately walks operators
      // up to (and past) their breaking scale, so one query's stage death
      // must not cost the measurements queued behind it.
      try {
        val times = (1 to reps).map { i =>
          val storePre = graft.Bench.storageUsedMb(spark)
          val allocPre = graft.Bench.allocatedBytes()
          mem.reset()
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val t = (System.nanoTime() - t0) / 1e9
          try org.apache.spark.sql.graft.Bridge.waitListenerBus(spark)
          catch { case _: Exception => () }
          val allocGb =
            if (allocPre < 0) Double.NaN
            else (graft.Bench.allocatedBytes() - allocPre) / (1024.0 * 1024 * 1024)
          println(s"[qtime-mem] $name rep$i " +
            mem.json(storePre, graft.Bench.storageUsedMb(spark), allocGb))
          t
        }
        println(f"[qtime] $name%-28s ${times.map(t => f"$t%.2f").mkString(" ")}s")
      } catch {
        case e: Throwable =>
          println(s"[qtime] $name FAILED: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
      }
    }
    spark.stop()
    0
  }
}
