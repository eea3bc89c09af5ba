package graft.queries

import graft.operators.Dedup
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Oracle-checked dedup queries over `documents` / `embeddings`
  * (TESTDATA.md). The testdata plants 25 near-duplicate pairs at
  * shingle-Jaccard ≥ 0.9 (none between 0.5 and 0.9), so the 0.8
  * threshold is far from every pair — LSH recall and float noise can't
  * flip membership.
  */
object DedupQueries {

  /** Exact-Jaccard oracle used by both the inverted-index query and the
    * MinHash+LSH query (LSH + exact verify converges to the exact
    * result; miss probability ≤ 4e-8 at s ≥ 0.8 with b=16, r=2).
    * The jaccard double is bit-identical across engines: the same
    * integer division in IEEE 754.
    */
  private val jaccardOracle =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') l FROM documents),
      |s AS (SELECT DISTINCT doc_id,
      |             unnest(list_transform(range(1, len(l) - 1),
      |                    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
      |      FROM d),
      |cnt AS (SELECT doc_id, count(*) c FROM s GROUP BY doc_id),
      |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
      |          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT id_a, id_b, i / (ca.c + cb.c - i) AS jaccard
      |FROM inter
      |JOIN cnt ca ON id_a = ca.doc_id
      |JOIN cnt cb ON id_b = cb.doc_id
      |WHERE i / (ca.c + cb.c - i) >= 0.8
      |ORDER BY id_a, id_b""".stripMargin

  private val cosExpr =
    """list_inner_product(a.v, b.v)
      | / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v)))""".stripMargin

  /** The ONE MinHash+LSH near-dup pair relation five catalog entries
    * derive from (dedup_minhash_lsh, dedup_cc_clusters, dedup_cc_star,
    * dedup_keep_canonical, dedup_keep_best) — materialized once per
    * JVM per sf dir via [[QueryMemo]] (a parquet spill; the production
    * shape is the same: compute the candidate-pair relation once, fan
    * out every clustering/selection view from it).
    * `SPARK_GRAFT_MEMO=off` restores per-query recomputation for
    * bench attribution.
    */
  private def lshPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    QueryMemo.materialized(s, s"dedup_lshpairs|$dir") {
      Dedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text",
        k = 3, threshold = 0.8, bands = 16, rowsPerBand = 2)
    }

  /** The star-contraction labeling of [[lshPairs]], shared by
    * dedup_keep_canonical and dedup_keep_best (one O(log n) CC loop,
    * two selection passes — the [[graft.operators.Dedup.keepBestLabeled]]
    * fan-out shape). Memoized like the pair relation it closes over.
    */
  private def lshComponents(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    QueryMemo.materialized(s, s"dedup_lshcc|$dir") {
      Dedup.connectedComponentsStar(
        lshPairs(s, dir).select(col("id_a"), col("id_b")),
        "id_a", "id_b", idOut = "cid")
    }

  /** Shared by dedup_cc_clusters / dedup_cc_star: LSH near-dup pairs
    * unioned with exact-dup edges, closed into components by `ccAlgo`,
    * sized via a window.
    */
  private def ccClusterQuery(
      s: org.apache.spark.sql.SparkSession, dir: String,
      ccAlgo: (org.apache.spark.sql.DataFrame, String, String) => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val jp = lshPairs(s, dir).select(col("id_a"), col("id_b"))
    val exact = Tables.documents(s, dir).filter(col("doc_id") < 50)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 100000).as("id_b"))
    val cc = ccAlgo(jp.unionByName(exact), "id_a", "id_b")
    val byComp = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
    cc.select(col("doc_id"), col("component"),
        count(lit(1)).over(byComp).as("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** Recursive-CTE transitive closure over the same edge relation. */
  private val ccOracle =
    """WITH RECURSIVE
      |d AS (SELECT doc_id, string_split(text, ' ') l FROM documents),
      |s AS (SELECT DISTINCT doc_id,
      |             unnest(list_transform(range(1, len(l) - 1),
      |                    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
      |      FROM d),
      |cnt AS (SELECT doc_id, count(*) c FROM s GROUP BY doc_id),
      |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
      |          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |jp AS (SELECT id_a, id_b FROM inter
      |       JOIN cnt ca ON id_a = ca.doc_id
      |       JOIN cnt cb ON id_b = cb.doc_id
      |       WHERE i / (ca.c + cb.c - i) >= 0.8),
      |ex AS (SELECT doc_id AS id_a, doc_id + 100000 AS id_b
      |       FROM documents WHERE doc_id < 50),
      |alle AS (SELECT id_a, id_b FROM jp UNION SELECT id_a, id_b FROM ex),
      |edges AS (SELECT id_a AS u, id_b AS v FROM alle
      |          UNION SELECT id_b, id_a FROM alle),
      |reach(id, r) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT e.u, r.r FROM edges e JOIN reach r ON r.id = e.v),
      |comp AS (SELECT id, least(id, min(r)) AS component
      |         FROM reach GROUP BY id)
      |SELECT c.id AS doc_id, c.component, z.cluster_size
      |FROM comp c
      |JOIN (SELECT component, count(*) AS cluster_size
      |      FROM comp GROUP BY component) z USING (component)
      |ORDER BY doc_id""".stripMargin

  val all: Seq[Q] = Seq(

    Q("dedup_exact",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        // inject byte-identical duplicates so the grouping is non-trivial
        val withDups = docs.unionByName(
          docs.filter(col("doc_id") < 50)
            .select((col("doc_id") + 100000).as("doc_id"), col("text")))
        Dedup.exactCanonical(withDups, "doc_id", "text").orderBy(col("doc_id"))
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50)
             |SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS canonical_id
             |FROM all_docs
             |ORDER BY doc_id""".stripMargin),
      doc = "exact dedup: group on 128-bit content hash, canonical = min id"),

    // Priority-keep exact dedup: the injected duplicates carry a
    // HIGHER-priority source ('curated'), so every duplicated group's
    // canonical moves to the +100000 copy — the opposite of min-id,
    // proving the preference rule (not the id order) decides.
    Q("dedup_exact_priority",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"), col("source"))
        val withDups = docs.unionByName(
          docs.filter(col("doc_id") < 50)
            .select((col("doc_id") + 100000).as("doc_id"), col("text"),
              lit("curated").as("source")))
        Dedup.exactCanonicalBy(withDups, "doc_id", "text",
            when(col("source") === "curated", 0).otherwise(1))
          .orderBy(col("doc_id"))
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text, source FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000 AS doc_id, text, 'curated' AS source
             |  FROM documents WHERE doc_id < 50)
             |SELECT doc_id,
             |       first_value(doc_id) OVER (PARTITION BY text
             |         ORDER BY (CASE WHEN source = 'curated' THEN 0 ELSE 1 END),
             |                  doc_id) AS canonical_id
             |FROM all_docs
             |ORDER BY doc_id""".stripMargin),
      doc = "cross-source priority-keep exact dedup: canonical = lowest (source-priority, id) in each byte-identical group"),

    // The skew cap is ON by default (500 ≫ this corpus's max df of 25,
    // so the result is still exact and hash-matches the oracle); on a
    // natural corpus it bounds the per-shingle pair fan-out to cap², and
    // the observe("jaccard_skew_cap") metric reports what it pruned.
    // Dedup.jaccardPairsPrefix is the fully-exact alternative for
    // corpora where dropping stop-shingles is not acceptable.
    Q("dedup_jaccard_pairs",
      (s, dir) => Dedup.jaccardPairsGrouped(Tables.documents(s, dir), "doc_id", "text",
        k = 3, threshold = 0.8, maxShingleDf = 500)
        .orderBy(col("id_a"), col("id_b")),
      Some(jaccardOracle),
      doc = "exact n-gram Jaccard via grouped inverted lists, skew cap on (df>500 shingles pruned)"),

    // The heavy-head scale path against the SAME exact oracle: prefix
    // filtering never drops a true pair no matter how hot the shingle
    // head (hot shingles sort LAST in the df order and fall out of the
    // prefixes). Measured crossover on the SkewGen Zipf corpus (10
    // stop-words prepended to half the docs, round-10 BASELINE.md):
    // grouped+cap runs ~2x faster but silently loses 12-17% of true
    // pairs — including exact duplicates — while prefix stays exact.
    Q("dedup_jaccard_prefix",
      (s, dir) => Dedup.jaccardPairsPrefix(Tables.documents(s, dir), "doc_id", "text",
        k = 3, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b")),
      Some(jaccardOracle),
      doc = "exact n-gram Jaccard via prefix filtering (Bayardo/Chaudhuri) — the Zipf-head-safe exact path"),

    Q("dedup_minhash_lsh",
      (s, dir) => lshPairs(s, dir).orderBy(col("id_a"), col("id_b")),
      Some(jaccardOracle),
      doc = "MinHash(32) + LSH banding (16x2) + exact verify of candidates"),

    // Incremental ingest: odd doc_ids play the "new batch", even the
    // existing reference corpus; near-dup pairs only ACROSS the split
    // (the within-reference quadratic work never happens). The oracle
    // is the exact cross Jaccard over the same parity split.
    Q("dedup_cross_corpus",
      (s, dir) => {
        val doc = Tables.documents(s, dir)
        Dedup.minhashLshPairsCross(
            doc.filter(col("doc_id") % 2 === 1),
            doc.filter(col("doc_id") % 2 === 0),
            "doc_id", "text", k = 3, threshold = 0.8)
          .orderBy(col("id_new"), col("id_ref"))
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') l FROM documents),
             |s AS (SELECT DISTINCT doc_id,
             |             unnest(list_transform(range(1, len(l) - 1),
             |                    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
             |      FROM d),
             |cnt AS (SELECT doc_id, count(*) c FROM s GROUP BY doc_id),
             |inter AS (SELECT a.doc_id id_new, b.doc_id id_ref, count(*) i
             |          FROM s a JOIN s b ON a.sh = b.sh
             |          WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
             |          GROUP BY 1, 2)
             |SELECT id_new, id_ref, i / (ca.c + cb.c - i) AS jaccard
             |FROM inter
             |JOIN cnt ca ON id_new = ca.doc_id
             |JOIN cnt cb ON id_ref = cb.doc_id
             |WHERE i / (ca.c + cb.c - i) >= 0.8
             |ORDER BY id_new, id_ref""".stripMargin),
      doc = "cross-corpus near-dup (new batch vs reference): banded bucket equi-join, no reference self-pairing"),

    // MOSS winnowing pairs: sub-linear fingerprints feed the same
    // inverted-index pairing as Jaccard — the long-document dedup path.
    // Knobs are corpus-tuned, as MOSS's are: this synthetic corpus is
    // template-generated, so fingerprints with df > 50 are template
    // noise (the skew cap doubles as the noise filter — probed: planted
    // near-dup pairs share 50-58 capped fingerprints, noise pairs ≤ 18,
    // so minShared = 20 sits in the gap). Oracled: the winnow set is
    // SQL-expressible (see text_winnow_fingerprint) and the pairing is
    // a self-join; also golden-pinned in GoldenOutputSpec.
    Q("dedup_winnow_pairs",
      (s, dir) => Dedup.winnowPairs(Tables.documents(s, dir), "doc_id", "text",
        k = 8, w = 8, minShared = 20, maxFpDf = 50)
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH t AS (SELECT doc_id,
             |                  regexp_replace(lower(text), ' +', ' ', 'g') AS t
             |           FROM documents),
             |g AS (SELECT doc_id, i AS pos,
             |        CAST(list_reduce(
             |          list_prepend([CAST(0 AS HUGEINT)],
             |            list_transform(range(i, i + 8),
             |              j -> [CAST(unicode(substring(t, j, 1)) AS HUGEINT)])),
             |          (acc, x) -> [(acc[1] * 131 + x[1])
             |                       % 2305843009213693951])[1] AS BIGINT) AS h
             |      FROM (SELECT doc_id, t,
             |                   unnest(generate_series(1, length(t) - 8 + 1)) AS i
             |            FROM t)),
             |w AS (SELECT doc_id, pos, h,
             |        min(h) OVER (PARTITION BY doc_id ORDER BY pos
             |                     ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wm,
             |        count(*) OVER (PARTITION BY doc_id) AS n
             |      FROM g),
             |fps AS (SELECT DISTINCT doc_id, wm AS fp FROM w
             |        WHERE pos <= greatest(1, n - 8 + 1)),
             |df AS (SELECT fp, count(*) AS c FROM fps GROUP BY fp)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |       count(*) AS n_shared_fp
             |FROM fps a
             |JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
             |JOIN df ON df.fp = a.fp
             |WHERE df.c BETWEEN 2 AND 50
             |GROUP BY 1, 2
             |HAVING count(*) >= 20
             |ORDER BY id_a, id_b""".stripMargin),
      doc = "winnowing-fingerprint near-dup pairs (MOSS matching; sub-linear postings)"),

    // SimHash with the ORACLE-PORTABLE token-hash family: per token,
    // t61 = Rabin–Karp Σ bᵢ·131^i mod 2^61−1 (HUGEINT list_reduce, the
    // text_fingerprint_rolling mirror), then 64 hash bits = two IdHash
    // v3 words (SamplingQueries.hashSql) of t61 and t61 xor the MMIX
    // salt. Bit votes, sign threshold, 4×16-bit chunk banding, and the
    // hamming verify are then all plain integer SQL — the whole
    // operator hash-verifies against DuckDB instead of the former
    // rows-only check. (The XXH64 default family stays the 100 TB hot
    // path — DedupSpec covers it at unit level.) The fingerprint is
    // assembled unsigned (HUGEINT) so bit 63 survives, then converted
    // to two's-complement BIGINT to match the engine's Long.
    //
    // ASCII-CORPUS ASSUMPTION (same as text_fingerprint_rolling): the
    // engine's rollingHash61 hashes UTF-8 BYTES, while this oracle
    // hashes per-character CODE POINTS (unicode(substring(tok, i, 1)))
    // — identical only while every token byte is ASCII, which the
    // synthetic documents are. For a non-ASCII corpus the oracle would
    // need to derive UTF-8 bytes in SQL (encode()/blob indexing).
    Q("dedup_simhash",
      (s, dir) => Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 8, portableHash = true)
        .orderBy(col("id_a"), col("id_b")),
      Some {
        val t61Lo = SamplingQueries.hashSql("t61")
        val t61Hi = SamplingQueries.hashSql("xor(t61, 1442695040888963407)")
        s"""WITH tok AS (
          |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
          |th AS (
          |  SELECT doc_id, CAST(list_reduce(
          |      list_prepend([CAST(0 AS HUGEINT), CAST(1 AS HUGEINT)],
          |        list_transform(range(1, length(tok) + 1),
          |          i -> [CAST(unicode(substring(tok, i, 1)) AS HUGEINT),
          |                CAST(0 AS HUGEINT)])),
          |      (acc, x) -> [(acc[1] + x[1] * acc[2]) % 2305843009213693951,
          |                   (acc[2] * 131) % 2305843009213693951])[1] AS BIGINT)
          |    AS t61
          |  FROM tok),
          |tb AS (
          |  SELECT doc_id, $t61Lo AS lo, $t61Hi AS hi
          |  FROM th),
          |bits AS (
          |  SELECT doc_id, r.b,
          |         sum(CASE WHEN r.b < 32
          |                  THEN (lo // (CAST(1 AS BIGINT) << r.b)) % 2
          |                  ELSE (hi // (CAST(1 AS BIGINT) << (r.b - 32))) % 2
          |             END * 2 - 1) AS vote
          |  FROM tb CROSS JOIN (SELECT unnest(range(0, 64)) AS b) r
          |  GROUP BY doc_id, r.b),
          |fp AS (
          |  SELECT doc_id,
          |         sum(CASE WHEN vote > 0 THEN CAST(1 AS HUGEINT) << b ELSE 0 END)
          |           AS fh
          |  FROM bits GROUP BY doc_id),
          |fps AS (
          |  SELECT doc_id, fh,
          |         CAST(CASE WHEN fh >= 9223372036854775808
          |                   THEN fh - 18446744073709551616
          |                   ELSE fh END AS BIGINT) AS f
          |  FROM fp),
          |ch AS (
          |  SELECT doc_id, f, r.c,
          |         CAST((fh // (CAST(1 AS HUGEINT) << (16 * r.c))) % 65536 AS BIGINT)
          |           AS cv
          |  FROM fps CROSS JOIN (SELECT unnest(range(0, 4)) AS c) r)
          |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
          |       CAST(bit_count(xor(a.f, b.f)) AS INTEGER) AS hamming
          |FROM ch a JOIN ch b ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.f, b.f)) <= 8
          |ORDER BY id_a, id_b""".stripMargin
      },
      doc = "SimHash64 (portable hash family) + 16-bit chunk banding + hamming verify, DuckDB hash-verified"),

    // The brute-force O(n²) exact anchor the scale paths are measured
    // against — still quadratic WORK by definition, but since r19 it
    // runs the tile-evaluated kernel (CosineTileMatches): 610.8 s at
    // sf10g/100× in r18 → 28–38 s r19 (GC 263 → 1–5 s). Its LSH twin
    // dedup_embedding_lsh (6.9 s at sf10g) remains the scale path —
    // the anchor's n² fused loops lose at any corpus the sketches can
    // bucket, it exists to verify them.
    Q("dedup_embedding",
      (s, dir) => Dedup.embeddingNearDupPairs(Tables.embeddings(s, dir),
        "vec_id", "embedding", threshold = 0.45)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
        .orderBy(col("id_a"), col("id_b")),
      Some(s"""WITH e AS (SELECT vec_id,
              |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) v
              |           FROM embeddings)
              |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              |       round($cosExpr, 6) AS cos
              |FROM e a JOIN e b ON a.vec_id < b.vec_id
              |WHERE $cosExpr >= 0.45
              |ORDER BY id_a, id_b""".stripMargin),
      doc = "embedding-cosine near-dup pairs (brute-force exact baseline)"),

    // the SCALE path for embedding dedup: sign-LSH (random-hyperplane
    // sketches, 8 bands x 8 bits = 256 buckets/band) + exact cosine
    // verify of candidates only. The corpus plants no true near-dups
    // (max pairwise cos ≈ 0.51), so x2-scaled copies of the first 50
    // vectors are injected — scaling preserves direction exactly (x*2
    // is exact in IEEE float), giving 50 planted cos=1.0 pairs that
    // sketch identically and ALWAYS collide; threshold 0.9 sits in the
    // huge gap above every natural pair.
    Q("dedup_embedding_lsh",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
        val planted = emb.unionByName(
          emb.filter(col("vec_id") < 50)
            .select((col("vec_id") + 100000).as("vec_id"),
              transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
        // width auto-sized from the corpus count (chunkBits=0 default):
        // 8 bits at bench SFs, 16 at the sf10 stress scale — the pinned
        // chunkBits=8 form died at 200k vectors (round-10 BASELINE.md)
        Dedup.embeddingNearDupPairsSignLsh(planted, "vec_id", "embedding",
          threshold = 0.9)
          .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH all_e AS (
              |  SELECT vec_id, embedding FROM embeddings
              |  UNION ALL
              |  SELECT vec_id + 100000 AS vec_id,
              |         list_transform(embedding, x -> CAST(x * 2 AS REAL)) AS embedding
              |  FROM embeddings WHERE vec_id < 50),
              |e AS (SELECT vec_id,
              |             list_transform(embedding, x -> CAST(x AS DOUBLE)) v
              |      FROM all_e)
              |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              |       round($cosExpr, 6) AS cos
              |FROM e a JOIN e b ON a.vec_id < b.vec_id
              |WHERE $cosExpr >= 0.9
              |ORDER BY id_a, id_b""".stripMargin),
      doc = "embedding near-dup via sign-LSH bands + exact cosine verify (sub-quadratic)"),

    // SemDeDup end-to-end: the planted collinear copies (same device as
    // dedup_embedding_lsh — scaling by 2 is exact in float32, and
    // collinear vectors sketch identically so sign-LSH recall is
    // guaranteed, not probabilistic) must dedup back onto their
    // originals: survivors = every natural vector, copies gone. The
    // oracle recomputes the brute pair set and closes it with the same
    // recursive-CTE transitive closure the CC queries pin.
    Q("dedup_semantic_keep",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
        val planted = emb.unionByName(
          emb.filter(col("vec_id") < 50)
            .select((col("vec_id") + 100000).as("vec_id"),
              transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
        Dedup.semanticDedup(planted, "vec_id", "embedding",
            threshold = 0.9, method = "lsh")
          .select(col("vec_id"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH RECURSIVE all_e AS (
              |  SELECT vec_id, embedding FROM embeddings
              |  UNION ALL
              |  SELECT vec_id + 100000 AS vec_id,
              |         list_transform(embedding, x -> CAST(x * 2 AS REAL)) AS embedding
              |  FROM embeddings WHERE vec_id < 50),
              |e AS (SELECT vec_id,
              |             list_transform(embedding, x -> CAST(x AS DOUBLE)) v
              |      FROM all_e),
              |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
              |      FROM e a JOIN e b ON a.vec_id < b.vec_id
              |      WHERE $cosExpr >= 0.9),
              |edges AS (SELECT id_a AS u, id_b AS v FROM p
              |          UNION SELECT id_b, id_a FROM p),
              |reach(id, r) AS (
              |  SELECT u, v FROM edges
              |  UNION
              |  SELECT e2.u, r.r FROM edges e2 JOIN reach r ON r.id = e2.v),
              |comp AS (SELECT id, least(id, min(r)) AS component
              |         FROM reach GROUP BY id)
              |SELECT ae.vec_id
              |FROM all_e ae
              |LEFT JOIN comp c ON ae.vec_id = c.id
              |WHERE c.id IS NULL OR c.component = ae.vec_id
              |ORDER BY vec_id""".stripMargin),
      doc = "SemDeDup: embedding near-dup candidates -> cosine verify -> components -> keep min-id representative"),

    // Pair output -> canonical groups: union the Jaccard near-dup pairs
    // with exact-dup edges (the dedup_exact injection as an edge list),
    // so components chain through BOTH relations (a~b by Jaccard, a~a'
    // by content hash => {a, a', b} is one cluster) and the closure is
    // genuinely transitive, not just the input pairs echoed back.
    // LSH pair source (the scale path; converges to the oracle's
    // exact-Jaccard pair set — miss prob <= 4e-8 at s >= 0.8) —
    // grouped-jaccard is already benchmarked by dedup_jaccard_pairs.
    Q("dedup_cc_clusters",
      (s, dir) => ccClusterQuery(s, dir, Dedup.connectedComponents(_, _, _, idOut = "doc_id")),
      Some(ccOracle),
      doc = "connected components over near-dup pairs (min-label propagation) -> canonical cluster per doc"),

    // Same closure via the alternating large-star/small-star contraction
    // (the O(log n)-round path for long-chain graphs) — identical oracle
    // by construction, so both algorithms are value-checked end-to-end.
    Q("dedup_cc_star",
      (s, dir) => ccClusterQuery(s, dir, Dedup.connectedComponentsStar(_, _, _, idOut = "doc_id")),
      Some(ccOracle),
      doc = "connected components via large-star/small-star contraction (same clusters, O(log n) rounds)"),
    // The end of the dedup pipeline: the surviving corpus. A doc is kept
    // iff it is untouched by any near-dup relation OR it is its
    // component's canonical (min-id) representative. Left-join docs to
    // the component labeling — nodes only exist for docs that appear in
    // some pair, so the join is small-side bounded by |dup candidates|,
    // not |corpus|.
    Q("dedup_keep_canonical",
      (s, dir) => {
        // pair source is the SCALE path (MinHash+LSH + exact verify) —
        // it converges to the exact-Jaccard pair set the oracle computes
        // (miss probability <= 4e-8 at s >= 0.8 with 16x2 bands)
        // star contraction is the repo default for composite operators
        // (BASELINE rounds 9-10: min-label 13x worse on chain graphs and
        // the most load-sensitive driver-synchronized shape); min-label
        // coverage lives on in dedup_cc_clusters' head-to-head. The
        // labeling is the memoized one keep_best also reads.
        val cc = lshComponents(s, dir)
        Tables.documents(s, dir)
          .join(cc, col("doc_id") === col("cid"), "left")
          .filter(col("cid").isNull || col("component") === col("doc_id"))
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE
             |d AS (SELECT doc_id, string_split(text, ' ') l FROM documents),
             |s AS (SELECT DISTINCT doc_id,
             |             unnest(list_transform(range(1, len(l) - 1),
             |                    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
             |      FROM d),
             |cnt AS (SELECT doc_id, count(*) c FROM s GROUP BY doc_id),
             |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
             |          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2),
             |jp AS (SELECT id_a, id_b FROM inter
             |       JOIN cnt ca ON id_a = ca.doc_id
             |       JOIN cnt cb ON id_b = cb.doc_id
             |       WHERE i / (ca.c + cb.c - i) >= 0.8),
             |edges AS (SELECT id_a AS u, id_b AS v FROM jp
             |          UNION SELECT id_b, id_a FROM jp),
             |reach(id, r) AS (
             |  SELECT u, v FROM edges
             |  UNION
             |  SELECT e.u, r.r FROM edges e JOIN reach r ON r.id = e.v),
             |comp AS (SELECT id, least(id, min(r)) AS component
             |         FROM reach GROUP BY id)
             |SELECT doc.doc_id, doc.lang
             |FROM documents doc
             |LEFT JOIN comp c ON doc.doc_id = c.id
             |WHERE c.id IS NULL OR c.component = doc.doc_id
             |ORDER BY doc.doc_id""".stripMargin),
      doc = "surviving corpus after near-dup clustering: keep untouched docs + per-component canonical"),

    // Quality-aware variant of keep_canonical: per component keep the
    // HIGHEST-scoring member (score = n_chars — the longest copy of a
    // template cluster, the production recipe) with ties broken to the
    // lowest id. Same LSH pair source and recursive-CTE closure; the
    // oracle picks its winner with a windowed row_number over
    // (n_chars DESC, doc_id).
    Q("dedup_keep_best",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.keepBestLabeled(docs, lshComponents(s, dir), "doc_id",
            "n_chars", labelIdCol = "cid")
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE
             |d AS (SELECT doc_id, string_split(text, ' ') l FROM documents),
             |s AS (SELECT DISTINCT doc_id,
             |             unnest(list_transform(range(1, len(l) - 1),
             |                    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
             |      FROM d),
             |cnt AS (SELECT doc_id, count(*) c FROM s GROUP BY doc_id),
             |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
             |          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2),
             |jp AS (SELECT id_a, id_b FROM inter
             |       JOIN cnt ca ON id_a = ca.doc_id
             |       JOIN cnt cb ON id_b = cb.doc_id
             |       WHERE i / (ca.c + cb.c - i) >= 0.8),
             |edges AS (SELECT id_a AS u, id_b AS v FROM jp
             |          UNION SELECT id_b, id_a FROM jp),
             |reach(id, r) AS (
             |  SELECT u, v FROM edges
             |  UNION
             |  SELECT e.u, r.r FROM edges e JOIN reach r ON r.id = e.v),
             |comp AS (SELECT id, least(id, min(r)) AS component
             |         FROM reach GROUP BY id),
             |win AS (SELECT c.component, d.doc_id,
             |               row_number() OVER (PARTITION BY c.component
             |                 ORDER BY d.n_chars DESC, d.doc_id) AS rn
             |        FROM comp c JOIN documents d ON d.doc_id = c.id)
             |SELECT doc.doc_id, doc.lang
             |FROM documents doc
             |LEFT JOIN comp c ON doc.doc_id = c.id
             |LEFT JOIN win w ON w.component = c.component AND w.rn = 1
             |WHERE c.id IS NULL OR doc.doc_id = w.doc_id
             |ORDER BY doc.doc_id""".stripMargin),
      doc = "surviving corpus keeping each component's BEST member (score-max, min-id ties) instead of min-id")
  )
}
