package graft.tools

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Pins the invariants the SkewGen stress results (round-10
  * BASELINE.md, re-timed with QueryTime on the catalog anchor pairs)
  * depend on, at test scale:
  *
  *   1. the sliding-window chain construction really produces a simple
  *      path at threshold 0.8 (consecutive docs pair, skip-level docs
  *      don't) — the worst-case diameter graph the CC head-to-head ran
  *      on;
  *   2. the df cap's measured lossiness class: pruned hot shingles
  *      leave the intersection count but stay in the set sizes, so
  *      grouped+cap drops even EXACT duplicates that share hot
  *      shingles, while the prefix filter keeps them (exact);
  *   3. min-label and star contraction agree on a long chain (the
  *      13× timing winner returns the identical labeling).
  */
class SkewGenSpec extends SparkSpec {
  import spark.implicits._

  /** The SkewGen chain formula at test size. */
  private def chainDocs(n: Int) = spark.range(n).select(
    col("id").as("doc_id"),
    array_join(
      transform(
        sequence(col("id") * SkewGen.chainStep,
          col("id") * SkewGen.chainStep + SkewGen.chainWindow - 1),
        j => concat(lit("chainw"), j)), " ").as("text"))

  test("chain: near-dup graph at t=0.8 is exactly the consecutive pairs") {
    val n = 30
    val pairs = Dedup.jaccardPairsPrefix(chainDocs(n), "doc_id", "text",
        k = 3, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == (0L until n - 1).map(i => (i, i + 1)).toSet)
    // the docs pin the scaladoc math: J(i,i+1) = 33/39, J(i,i+2) = 30/42
    val j = Dedup.jaccardPairsPrefix(chainDocs(3), "doc_id", "text",
        k = 3, threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(j((0L, 1L)) == 33.0 / 39.0)
    assert(j((1L, 2L)) == 33.0 / 39.0)
    assert(j((0L, 2L)) == 30.0 / 42.0)
  }

  test("df cap loses exact duplicates sharing hot shingles; prefix keeps them") {
    // two IDENTICAL docs whose text is dominated by the hot sentence,
    // plus enough hot-only filler docs to push the hot shingles' df
    // over the cap. True J(0,1) = 1.0.
    val hot = SkewGen.hotPrefix // 10 tokens -> 8 hot shingles
    val dup = s"$hot unique1 unique2 unique3" // 13 tokens -> 11 shingles
    val filler = (2 to 40).map(i => (i.toLong, s"$hot filler$i"))
    val docs = (Seq((0L, dup), (1L, dup)) ++ filler).toDF("doc_id", "text")
    val capped = Dedup.jaccardPairsGrouped(docs, "doc_id", "text",
        k = 3, threshold = 0.8, maxShingleDf = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.jaccardPairsPrefix(docs, "doc_id", "text",
        k = 3, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the cap sees i = 3 surviving shared shingles of 11 per doc:
    // J_vis = 3/19 << 0.8 -> the exact-duplicate pair is LOST
    assert(!capped.contains((0L, 1L)),
      "expected the documented miss: cap drops the exact-dup pair")
    assert(exact.contains((0L, 1L)), "prefix filter must keep it")
    // and with the cap above every df, grouped is exact again
    val uncapped = Dedup.jaccardPairsGrouped(docs, "doc_id", "text",
        k = 3, threshold = 0.8, maxShingleDf = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped == exact)
  }

  test("min-label and star contraction agree on a 200-node chain") {
    val edges = spark.range(199)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val ml = Dedup.connectedComponents(edges, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val st = Dedup.connectedComponentsStar(edges, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(ml == st)
    assert(ml.size == 200 && ml.values.forall(_ == 0L))
  }
}
