package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import graft.queries.QueryMemo
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** A repeat parquet read of an unchanged table skips Spark's schema
  * inference job and still returns exactly what `spark.read.parquet`
  * returns; a changed table or changed parquet confs infer again.
  */
class ParquetSchemaMemoSpec extends SparkSpec {

  private def tmpPath(): String =
    java.nio.file.Files.createTempDirectory("graft-schema-memo-")
      .resolve("t.parquet").toString

  /** The body's result and the number of Spark jobs started while it ran. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    Bridge.waitListenerBus(spark)
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      Bridge.waitListenerBus(spark)
      (r, n.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("bytes(", ",", ")")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  private def assertSameAsPlainRead(df: DataFrame, path: String): Unit = {
    val plain = spark.read.parquet(path)
    assert(df.schema === plain.schema)
    assert(rows(df) === rows(plain))
  }

  private val schemaWithMetadata = StructType(Seq(
    StructField("id", LongType, nullable = false,
      new MetadataBuilder().putString("comment", "primary key").build()),
    StructField("name", StringType),
    StructField("score", DoubleType, nullable = false)))

  private def writeSample(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(1L, "a", 0.5), org.apache.spark.sql.Row(2L, null, 1.5)).asJava,
      schemaWithMetadata).write.mode("overwrite").parquet(path)
  }

  test("a re-read of an unchanged table starts no job and equals a plain read") {
    val path = tmpPath()
    writeSample(path)
    val (_, firstJobs) = jobsDuring(ParquetSchemaMemo.read(spark, path))
    assert(firstJobs >= 1, "the first read must infer the schema with a job")
    val (again, againJobs) = jobsDuring(ParquetSchemaMemo.read(spark, path))
    assert(againJobs === 0)
    assertSameAsPlainRead(again, path)
    assert(again.schema("id").metadata.getString("comment") === "primary key")
  }

  test("a table overwritten at the same path with other columns reads its new schema") {
    val path = tmpPath()
    writeSample(path)
    ParquetSchemaMemo.read(spark, path)
    ParquetSchemaMemo.read(spark, path)
    spark.range(3).selectExpr("id AS k", "CAST(id AS STRING) AS v", "id * 2 AS w")
      .write.mode("overwrite").parquet(path)
    val df = ParquetSchemaMemo.read(spark, path)
    assert(df.schema.fieldNames.toSeq === Seq("k", "v", "w"))
    assertSameAsPlainRead(df, path)
    val (_, jobs) = jobsDuring(ParquetSchemaMemo.read(spark, path))
    assert(jobs === 0, "the new schema must be stored for the next read")
  }

  test("toggling spark.sql.parquet.binaryAsString makes the next read infer again") {
    val path = tmpPath()
    spark.range(2).selectExpr("id", "CAST(CAST(id AS STRING) AS BINARY) AS b")
      .write.parquet(path)
    ParquetSchemaMemo.read(spark, path)
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, (!spark.conf.get(key, "false").toBoolean).toString)
      val (df, jobs) = jobsDuring(ParquetSchemaMemo.read(spark, path))
      assert(jobs >= 1)
      assertSameAsPlainRead(df, path)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val (_, restoredJobs) = jobsDuring(ParquetSchemaMemo.read(spark, path))
    assert(restoredJobs >= 1, "restoring the conf changes the key again")
  }

  test("catalog tables and QueryMemo re-reads start no job") {
    Tables.lineitem(spark, sf())
    val (li, liJobs) = jobsDuring(Tables.lineitem(spark, sf()))
    assert(liJobs === 0)
    assert(li.schema === spark.read.parquet(s"${sf()}/lineitem.parquet").schema)

    val key = s"parquet-schema-memo-spec-${java.util.UUID.randomUUID()}"
    var builds = 0
    def memo(): DataFrame = QueryMemo.materialized(spark, key) {
      builds += 1
      spark.range(5).selectExpr("id", "id % 2 AS parity")
    }
    val first = memo()
    val (second, secondJobs) = jobsDuring(memo())
    assert(secondJobs === 0)
    assert(builds === 1)
    assert(rows(second) === rows(first))
  }
}
