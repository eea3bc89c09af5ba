package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Parquet reads that infer a table's schema once per table state.
  *
  * `spark.read.parquet(path)` infers the schema with a Spark job
  * (`mergeSchemasInParallel`, one task even for a single file) every
  * time a DataFrame is built, so a catalog query that reads four tables
  * pays four jobs before it plans. A read given the schema starts none.
  * This memo keeps, per path, the schema Spark inferred last time with
  * two keys that say whether it still holds:
  *   - the data-file signature: a digest of the path, length and mtime
  *     of every file the read lists;
  *   - the session's parquet-relevant SQL confs (`spark.sql.parquet.*`,
  *     `spark.sql.legacy.parquet.*`, `spark.sql.caseSensitive`), which
  *     change what inference returns (`binaryAsString`, nanos handling,
  *     `mergeSchema`, ...).
  *
  * A hit reads with `spark.read.schema(s).parquet(path)` and compares the
  * signature of the listing Spark's own `InMemoryFileIndex` made for that
  * read, so the hit costs no extra listing. A miss (first read, changed
  * confs) is a plain `spark.read.parquet`, unchanged, and its schema is
  * stored with the signature of its own listing. A changed signature
  * (files rewritten, added or removed) drops the schema-given read and
  * falls back to the plain read: only that path lists twice, and it
  * pays the inference job anyway.
  *
  * Entries hold strings and a schema only, never a DataFrame or a
  * session (a DataFrame pins its session, see [[graft.queries.QueryMemo]]),
  * and there is one entry per path, replaced when the path changes.
  * A file rewritten in place with the same name, length and mtime is not
  * seen as changed; Spark's writers name every part file uniquely.
  */
object ParquetSchemaMemo {
  private final case class Entry(signature: String, confs: String, schema: StructType)

  private val entries = scala.collection.concurrent.TrieMap.empty[String, Entry]

  /** The DataFrame `spark.read.parquet(path)` returns, without its schema
    * inference job when the path and the confs are unchanged.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val confs = parquetConfs(spark)
    entries.get(path).filter(_.confs == confs).flatMap { e =>
      val df = spark.read.schema(e.schema).parquet(path)
      Option.when(signature(df).contains(e.signature))(df)
    }.getOrElse {
      val df = spark.read.parquet(path)
      signature(df).foreach(sig => entries.put(path, Entry(sig, confs, df.schema)))
      df
    }
  }

  /** Digest of (path, length, mtime) over the files the read's own file
    * index listed; None when the read is not a listed file relation.
    */
  private def signature(df: DataFrame): Option[String] =
    // the reader resolves its data source during analysis, which
    // building the DataFrame has already run
    df.queryExecution.analyzed match {
      case LogicalRelation(HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _),
          _, _, _, _) =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        index.allFiles().map(f =>
            s"${f.getPath}\u0000${f.getLen}\u0000${f.getModificationTime}\n")
          .sorted.foreach(s => md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        Some(md.digest().map(b => f"$b%02x").mkString)
      case _ => None
    }

  private def parquetConfs(spark: SparkSession): String =
    spark.conf.getAll.iterator
      .filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
          k == "spark.sql.caseSensitive"
      }
      .map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString("\n")
}
