package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-JVM materialize-once memo for catalog entries that are multiple
  * VIEWS of one deterministic upstream computation (the doc_pipeline_*
  * trio over one [[graft.operators.CorpusPipeline.run]], the
  * mm_frame_* pair over one decoded-frames relation). The production
  * shape is the same: materialize the expensive stage once, derive
  * every downstream artifact from that one output.
  *
  * The memo value is a PARQUET PATH on local temp disk, not a cached
  * DataFrame. A DataFrame value always strongly references its
  * SparkSession through the plan, so a WeakHashMap keyed by session
  * with DataFrame values (the round-12 pipeCache) never collects its
  * entries — sessions and their persisted MEMORY_AND_DISK blocks were
  * pinned for the JVM lifetime. A path string references nothing: the
  * writing session can be GC'd or stopped, any later session re-reads
  * the same files, and no storage-memory blocks outlive the query that
  * filled them. The files themselves are removed by a JVM shutdown
  * hook.
  *
  * Correctness contract: `build` must be a pure function of `key`
  * (include the sf dir in the key), and callers must not rely on row
  * order — a parquet round-trip, like any shuffle, has no ordering
  * guarantee, and every catalog query applies its own final orderBy.
  *
  * `SPARK_GRAFT_MEMO=off` disables memoization entirely (every entry
  * recomputes its own chain) — the switch for per-query bench
  * attribution runs, where sharing would bill the whole chain to the
  * alphabetically-first entry of each family.
  */
object QueryMemo {
  private val enabled: Boolean =
    !sys.env.get("SPARK_GRAFT_MEMO").exists(_.equalsIgnoreCase("off"))

  private lazy val root: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-memo-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(p.toFile)
    }, "graft-memo-cleanup"))
    p
  }

  private val paths = scala.collection.concurrent.TrieMap.empty[String, String]

  /** The materialized result of `build`, computed and written at most
    * once per JVM per `key` (atomic via TrieMap.getOrElseUpdate; a
    * lost race leaves an orphan temp subdir, never a wrong result),
    * read back through the CALLER's session (a repeat read skips the
    * schema-inference job, see [[graft.sources.ParquetSchemaMemo]]).
    */
  def materialized(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    if (!enabled) build
    else {
      val path = paths.getOrElseUpdate(key, {
        val out = root.resolve(java.util.UUID.randomUUID().toString).toString
        build.write.mode("overwrite").parquet(out)
        out
      })
      graft.sources.ParquetSchemaMemo.read(spark, path)
    }
}
