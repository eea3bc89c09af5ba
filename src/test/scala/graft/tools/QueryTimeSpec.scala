package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** QueryTime checks every name against the catalog before it builds a
  * session: a misspelled name fails the run instead of timing nothing.
  */
class QueryTimeSpec extends AnyFunSuite {

  test("unknownQueries lists the names outside the catalog, once each, in order") {
    assert(QueryTime.unknownQueries(Seq("poi_classify_basic", "way_centroids")).isEmpty)
    assert(QueryTime.unknownQueries(
      Seq("poi_clasify_basic", "way_centroids", "nope", "poi_clasify_basic")) ===
      Seq("poi_clasify_basic", "nope"))
  }

  test("run exits 2 and names every unknown query before timing any") {
    val err = new java.io.ByteArrayOutputStream
    val status = Console.withErr(err) {
      QueryTime.run(Array("/nonexistent-sf-dir", "way_centroids", "nope", "also_nope"))
    }
    assert(status === 2)
    assert(err.toString.contains("unknown queries: nope, also_nope"))
  }

  test("the per-query memory line counts the jobs started, next to tasks") {
    val mem = new graft.Bench.MemListener
    (0 until 3).foreach(i =>
      mem.onJobStart(org.apache.spark.scheduler.SparkListenerJobStart(i, 0L, Seq.empty)))
    assert(mem.json(0L, 0L).contains("\"jobs\":3,\"tasks\":0,"))
    mem.reset()
    assert(mem.json(0L, 0L).contains("\"jobs\":0,"))
  }
}
