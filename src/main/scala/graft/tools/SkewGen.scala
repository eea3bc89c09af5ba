package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Adversarial-skew corpus generator — the axis [[ScaleGen]] cannot
  * test. ScaleGen's copies preserve every source distribution, so the
  * uniform stress never exercises the skew machinery the 100 TB design
  * depends on: the jaccard df cap never prunes, the salted
  * asof/stratified/pack variants never meet a giant key, and connected
  * components never sees a long chain. This tool rewrites a source sf
  * dir (typically a ScaleGen output) into the same table layout with
  * four deterministic, hash-seeded skews — the regime natural corpora
  * actually live in (OSM tag keys, web-crawl stop-words, and power-law
  * user activity are all Zipf-headed):
  *
  *   - documents: a 10-stop-word sentence is prepended to ~50% of docs
  *     (a hot shingle family, df ≈ N/2 per shingle — the head of a
  *     Zipf shingle distribution), and ~90% of docs collapse onto ONE
  *     `source` and ONE `lang` (giant mixture source / giant sampling
  *     stratum).
  *   - documents: a NEAR-DUP CHAIN of `chainLen` extra docs is
  *     appended, built as a sliding window over a private token stream
  *     (window `m`=38 tokens, step `s`=3, so with k=3 shingles
  *     J(i,i+1) = 33/39 ≈ 0.846 ≥ 0.8 but J(i,i+2) = 30/42 ≈ 0.714
  *     < 0.8): the near-dup graph at threshold 0.8 is one simple path
  *     of length `chainLen` — diameter = n, the worst case for
  *     label-propagation connected components.
  *   - events: ~50% of all events are reassigned to user_id 0 — the
  *     dominant key that serializes a keyed asof/sessionize window.
  *   - embeddings and the TPC-H tables copy verbatim (their skew paths
  *     are exercised elsewhere).
  *
  * All selections are murmur3-hash functions of the row id — no RNG,
  * same corpus on every run. Stress-timing only; the DuckDB oracle
  * gate stays on the harness's own sf0.01. To time a plain form against
  * its skew-safe twin, run both catalog anchors on the output:
  * `QueryTime <dstDir> events_asof_join events_asof_join_salted`
  * (BASELINE.md lists every anchor pair with the section that recorded
  * its result).
  *
  * usage: SkewGen <srcSfDir> <dstDir> [chainLen=10000]
  */
object SkewGen {
  /** Stop-word sentence prepended to the hot half of the corpus: 10
    * tokens → 8 hot k=3 shingles, each with document frequency ≈ N/2.
    */
  val hotPrefix = "the of and to in that it is was for"

  /** Sliding-window chain parameters (see scaladoc math). */
  val chainWindow = 38
  val chainStep = 3
  /** Chain doc_ids start here — far above any ScaleGen copy offset. */
  val chainIdBase = 1000000000L

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SkewGen <srcSfDir> <dstDir> [chainLen]")
    val (src, dst) = (args(0), args(1))
    val chainLen = if (args.length > 2) args(2).toInt else 10000
    require(chainLen >= 2, s"chainLen must be >= 2: $chainLen")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // documents: hot shingles + giant source/stratum + the chain
    val docs = spark.read.parquet(s"$src/documents.parquet")
    require(docs.agg(max(col("doc_id"))).head.getLong(0) < chainIdBase,
      s"documents.doc_id reaches the chain id base $chainIdBase")
    val skewedDocs = docs.select(
      col("doc_id"),
      when(pmod(hash(col("doc_id")), lit(2)) === 0,
        concat(lit(hotPrefix + " "), col("text"))).otherwise(col("text"))
        .as("text"),
      when(pmod(hash(col("doc_id"), lit(7)), lit(10)) < 9, lit("en"))
        .otherwise(col("lang")).as("lang"),
      when(pmod(hash(col("doc_id"), lit(13)), lit(10)) < 9, lit("src_hot"))
        .otherwise(col("source")).as("source"))
    // the chain: doc i = tokens [i·s, i·s+m) of a private stream; the
    // "chainw" token prefix shares nothing with the base corpus (or
    // with ScaleGen's t~c bijection), so chain docs pair only with
    // their chain neighbors
    val chain = spark.range(chainLen).select(
        (lit(chainIdBase) + col("id")).as("doc_id"),
        array_join(
          transform(
            sequence(col("id") * chainStep,
              col("id") * chainStep + chainWindow - 1),
            j => concat(lit("chainw"), j)), " ").as("text"),
        lit("en").as("lang"),
        lit("src_chain").as("source"))
    skewedDocs.unionByName(chain)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(col("doc_id"))
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    // events: user 0 takes ~50% of all rows (dominant asof/window key).
    // readEvents resolves whichever ts encoding the source generation
    // carries; the copy writes plain TimestampType, which it also reads.
    graft.sources.Tables.readEvents(spark, s"$src/events.parquet")
      .select(col("event_id"), col("ts"),
        when(pmod(hash(col("event_id")), lit(2)) === 0, lit(0L))
          .otherwise(col("user_id")).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(col("event_id"))
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    // non-targeted tables copy verbatim so catalog queries still resolve
    Seq("embeddings", "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")
      .foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
    println(s"[skewgen] wrote $dst (chain $chainLen) from $src")
    spark.stop()
  }
}
