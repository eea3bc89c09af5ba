package graft.operators

import graft.functions.{Sketches, TextFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (hash-group), exact-similarity (shingle inverted index),
  * MinHash+LSH (banded candidates + exact verify), SimHash (bit-banded
  * hamming candidates), and embedding-cosine near-dup.
  *
  * Scale notes (100 TB design point):
  *   - exact dedup groups on a 128-bit content hash, not the raw text —
  *     the shuffle carries 16 bytes + id per row instead of documents;
  *   - the Jaccard inverted index joins on shingles, so skew lives in
  *     hot shingles: callers cap document-frequency (`maxShingleDf`) to
  *     drop stop-shingles (the standard prefix-filter relaxation; with
  *     the cap disabled the result is exact);
  *   - MinHash/LSH replaces the all-pairs verify space with per-band
  *     bucket joins — O(candidates), recall 1-(1-s^r)^b;
  *   - brute-force embedding near-dup is the correctness baseline; the
  *     scalable ANN path is [[Similarity]].
  */
object Dedup {

  /** Exact dedup: canonical id = min id among byte-identical texts.
    * Output: (id, canonical_id) for every input row.
    */
  def exactCanonical(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol)))
    docs.select(col(idCol), min(col(idCol)).over(w).as("canonical_id"))
  }

  /** Exact dedup with a keep-priority: within each byte-identical
    * group the canonical row is the one with the LOWEST
    * (`priority`, id) — the cross-source preference rule of published
    * mixes ("when the same page appears in the curated dump and the
    * crawl, keep the curated copy"), which [[exactCanonical]]'s min-id
    * rule cannot express when the preferred copy carries the higher
    * id. Output: (`idCol`, canonical_id) for every input row.
    *
    * Scale shape: the window shuffle carries only (id, 16-byte content
    * hash, priority) — the text itself is hashed in the map stage and
    * never shuffles (an improvement over partitioning the raw-text
    * rows; duplicate groups are small, so the ordered window is a
    * per-group sort of a handful of rows).
    */
  def exactCanonicalBy(docs: DataFrame, idCol: String, textCol: String,
      priority: Column): DataFrame = {
    val base = docs.select(col(idCol), md5(col(textCol)).as("__h"),
      priority.as("__p"))
    val w = Window.partitionBy(col("__h")).orderBy(col("__p"), col(idCol))
    base.select(col(idCol), first(col(idCol)).over(w).as("canonical_id"))
  }

  /** Distinct (id, shingle-hash) relation — the inverted-index base.
    * Shingles are xxhash64'd at the explode so every downstream
    * shuffle/groupBy keys on 8-byte longs instead of k-word strings
    * (the same trick, same ≈2⁻⁵⁰-per-pair collision caveat, as
    * [[jaccardPairsPrefix]] — distinct shingles of one doc colliding
    * is the only way a result changes, and every consumer counts set
    * sizes in the same hashed domain).
    */
  private def shingled(docs: DataFrame, idCol: String, textCol: String, k: Int) =
    docs.select(col(idCol).as("__id"),
      explode(transform(TextFunctions.shingleSet(col(textCol), k),
        s => xxhash64(s))).as("sh"))

  /** Posting list → ordered candidate pair rows (id_a, id_b):
    * posexplode the SORTED `ids` array and explode each element's
    * tail slice, instead of `explode(orderedPairs(ids))`. The pair
    * set is identical (element i pairs with every j > i of a
    * sorted-distinct array). Why this shape (r19): the struct-array
    * form materializes all n(n−1)/2 boxed two-field rows of a posting
    * in ONE allocation — O(df²) bytes in a single object, a
    * G1-humongous allocation that turns one adversarially hot posting
    * into a guaranteed heap failure — where the largest single
    * allocation here is one primitive-backed tail slice, O(df) bytes.
    * A/B-measured at sf10g (QueryTime ×3, 25g heap): wall and
    * alloc_gb NEUTRAL on the catalog corpus (112–116 vs 119–140 GB;
    * overlapping wall bands) — kept for the allocation BOUND, not for
    * a local-mode win (the old form also drew one non-reproducing 8g
    * OOM during the A/B; the new form completed every rep there).
    */
  private def postingPairs(postings: DataFrame): DataFrame =
    postings
      .select(col("ids"), posexplode(col("ids")).as(Seq("__pi", "id_a")))
      .select(col("id_a"), explode(slice(col("ids"), col("__pi") + lit(2),
        size(col("ids")) - col("__pi") - lit(1))).as("id_b"))

  /** Exact shingle-set Jaccard pairs ≥ threshold via inverted-index
    * self-join (id_a < id_b). `maxShingleDf` > 0 drops shingles that
    * occur in more documents than the cap (skew guard; 0 = exact).
    * Output: (id_a, id_b, jaccard).
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.8, maxShingleDf: Long = 0L): DataFrame = {
    // persisted: the inverted-index self-join reads it twice and the
    // count/df branches once more — without the cache each consumer
    // re-shingles the corpus
    val sh0 = shingled(docs, idCol, textCol, k).persist(StorageLevel.MEMORY_AND_DISK)
    val sh =
      if (maxShingleDf <= 0) sh0
      else {
        val hot = sh0.groupBy(col("sh")).count()
          .filter(col("count") > maxShingleDf).select(col("sh"))
        sh0.join(broadcast(hot), Seq("sh"), "left_anti")
      }
    val cnt = sh.groupBy(col("__id")).agg(count(lit(1)).as("c"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(cnt.as("ca"), col("id_a") === col("ca.__id"))
      .join(cnt.as("cb"), col("id_b") === col("cb.__id"))
      .select(col("id_a"), col("id_b"),
        (col("i") / (col("ca.c") + col("cb.c") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Same contract as [[jaccardPairs]] with the intersection counts
    * produced from grouped inverted lists instead of a self-join: group
    * by shingle, keep postings with ≥ 2 docs (singleton shingles —
    * most of a natural corpus — never reach the pair stage), expand
    * each posting list to its ordered pairs with array combinatorics,
    * then count per pair. One shuffle fewer than the self-join and the
    * singleton fast-path; the per-shingle pair fan-out is bounded by
    * `maxShingleDf`² when the cap is set.
    *
    * THE CAP IS LOSSY ON ZIPF CORPORA — measured, not hypothetical
    * (SkewGen corpus, BASELINE.md round 10): a pruned posting's
    * shingle vanishes from the INTERSECTION count but stays in both
    * docs' set sizes, so every pair sharing hot shingles has its
    * Jaccard underestimated — even EXACT DUPLICATES can drop below
    * threshold. On a corpus with a 10-stop-word sentence prepended to
    * half the docs, cap=64 lost 12.3% of true pairs at 52k docs (all
    * of them hot+hot, true J ∈ [0.9, 1.0]) and 16.7% at 510k docs.
    * Decision rule (re-measured round 10 with BOTH paths on hashed
    * shingles): [[jaccardPairsPrefix]] is the DEFAULT at scale in both
    * df regimes — wall-clock is at par (510k-doc Zipf corpus: prefix
    * 14.3–18.5 s exact vs this path 14.0–26.2 s missing 16.7% of true
    * pairs to the cap; 500k-doc uniform corpus: prefix 16.2 s warm vs
    * 18.5 s) and prefix is exact, so the cap's recall loss buys
    * nothing. This path keeps two niches: SMALL corpora, where its
    * lower stage count dominates (5k docs: 1.7 s vs 3.5 s), and the
    * cap as a deliberately recall-tolerant HARD-BOUNDED-work mode (per-
    * shingle fan-out ≤ cap² no matter how adversarial the df head)
    * whose observe("jaccard_skew_cap") metric reports pruned
    * postings > 0 whenever the output may be incomplete.
    *
    * Memory-pressure clause (round-10 full-catalog sf10 run): under
    * execution-memory starvation (8g heap, local[32], 500k docs) THIS
    * path degraded 6.5× vs its isolated-warm time (196 s vs 30 s —
    * the posting-list aggregation spills hardest) while prefix
    * filtering only lost ~15%; memory-tight executors have one more
    * reason to prefer the prefix path.
    */
  def jaccardPairsGrouped(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.8, maxShingleDf: Long = 0L): DataFrame = {
    val sh = shingled(docs, idCol, textCol, k)
    // per-doc shingle count = size of the (distinct) shingle-HASH set —
    // computable map-side, no explode + groupBy shuffle needed; distinct
    // over hashes (not strings) keeps sizes in the same domain the
    // intersection counts in, so a within-doc collision can never skew
    // a jaccard above 1
    val cnt = docs.select(col(idCol).as("__id"),
      size(array_distinct(transform(TextFunctions.shingleSet(col(textCol), k),
        s => xxhash64(s)))).cast("long").as("c"))
    var postings = sh.groupBy(col("sh"))
      .agg(array_sort(collect_list(col("__id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    if (maxShingleDf > 0) postings = postings
      // free-rider metric on the normal pass: how many hot postings the
      // skew cap dropped (visible via the CollectMetrics/observe API)
      .observe("jaccard_skew_cap",
        sum(when(size(col("ids")) > maxShingleDf, 1L).otherwise(0L))
          .as("pruned_postings"))
      .filter(size(col("ids")) <= maxShingleDf)
    val inter = postingPairs(postings)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(cnt.as("ca"), col("id_a") === col("ca.__id"))
      .join(cnt.as("cb"), col("id_b") === col("cb.__id"))
      .select(col("id_a"), col("id_b"),
        (col("i") / (col("ca.c") + col("cb.c") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash signatures banded into (band, bandHash) bucket keys.
    * numHashes = bands · rowsPerBand.
    */
  def minhashBands(docs: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val sig = Sketches.minhash(
      TextFunctions.shingleSet(col(textCol), k), bands * rowsPerBand)
    docs.select(col(idCol).as("__id"), sig.as("sig"))
      .select(col("__id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
          .as(Seq("band", "bh")))
  }

  /** MinHash+LSH near-dup pairs: banded candidate generation, then
    * EXACT Jaccard verification of candidates only. With s ≥ 0.8,
    * b=16, r=2: P(miss) = (1-s²)¹⁶ ≤ 4e-8 — the verified output equals
    * [[jaccardPairs]] with near-certainty while never scoring non-
    * candidate pairs. Output: (id_a, id_b, jaccard).
    *
    * The shingle/MinHash sketch pipeline (a higher-order-function chain
    * that Spark evaluates interpreted, not codegen'd) is computed ONCE
    * per document and persisted; the band self-join and both verify
    * joins read the cached (id, shingles, sig) rows instead of
    * re-sketching the corpus per join side. At 100 TB the sketch pass is
    * the dominant scan — paying it once vs four times is the difference
    * between LSH beating the exact path and losing to it.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.8,
      bands: Int = 16, rowsPerBand: Int = 2): DataFrame = {
    // The cache holds the MinHash signature plus the verify set as
    // xxhash64'd longs — banding recall is untouched (the signature is
    // still computed from the string shingle set), but the verify
    // joins ship and intersect 8-byte longs instead of k-word strings,
    // and the persisted rows shrink accordingly (same collision caveat
    // as [[jaccardPairsPrefix]]).
    val sk = docs.select(col(idCol).as("__id"),
        TextFunctions.shingleSet(col(textCol), k).as("__shs"))
      .select(col("__id"),
        Sketches.minhash(col("__shs"), bands * rowsPerBand).as("sig"),
        array_sort(array_distinct(transform(col("__shs"), s => xxhash64(s)))).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // banding over the cached signature: explode+hash only (cheap)
    val b = sk.select(col("__id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        bi => hash(slice(col("sig"), bi * rowsPerBand + 1, lit(rowsPerBand)))))
        .as(Seq("band", "bh")))
    val cand = b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    val sets = sk.select(col("__id"), col("sh"))
    cand
      .join(sets.as("sa"), col("id_a") === col("sa.__id"))
      .join(sets.as("sb"), col("id_b") === col("sb.__id"))
      // zero-allocation sorted-merge intersect (r19): the sets are
      // array_sort(array_distinct(...))-built, so the merge count is
      // bit-identical to size(array_intersect(...)) without the
      // per-pair hash-set allocation of the builtin
      .withColumn("__i", Sketches.sortedIntersectSize(col("sa.sh"), col("sb.sh")))
      .select(col("id_a"), col("id_b"),
        (col("__i") / (size(col("sa.sh")) + size(col("sb.sh")) - col("__i")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Cross-corpus MinHash+LSH near-dup: pairs (id_new, id_ref) with
    * exact-verified Jaccard ≥ threshold between a NEW batch and an
    * existing REFERENCE corpus — the incremental-ingest twin of
    * [[minhashLshPairs]]: dedup a fresh crawl against what is already
    * ingested WITHOUT re-pairing the reference against itself (the
    * within-reference pair work, the quadratic-ish part, never
    * happens). Both sides are sketched once and persisted; candidates
    * come from an equi-join of band buckets across the two sides (no
    * self-join, no id-order condition — the id spaces may overlap or
    * even coincide), then exact Jaccard verify of candidates only.
    * The same banding recall bound applies (miss ≤ (1−s^r)^b). For
    * streaming arrival rather than batch-vs-batch, see
    * [[graft.streaming.EventStream]]'s near-dup stream, which keys the
    * same sketches into a state store. Output: (id_new, id_ref,
    * jaccard).
    */
  def minhashLshPairsCross(docsNew: DataFrame, docsRef: DataFrame,
      idCol: String, textCol: String, k: Int = 3, threshold: Double = 0.8,
      bands: Int = 16, rowsPerBand: Int = 2): DataFrame = {
    // signature from strings (recall unchanged), verify set as hashed
    // longs — see [[minhashLshPairs]] for the rationale
    def sketch(d: DataFrame) = d.select(col(idCol).as("__id"),
        TextFunctions.shingleSet(col(textCol), k).as("__shs"))
      .select(col("__id"),
        Sketches.minhash(col("__shs"), bands * rowsPerBand).as("sig"),
        array_sort(array_distinct(transform(col("__shs"), s => xxhash64(s)))).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def banded(sk: DataFrame) = sk.select(col("__id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        bi => hash(slice(col("sig"), bi * rowsPerBand + 1, lit(rowsPerBand)))))
        .as(Seq("band", "bh")))
    val skNew = sketch(docsNew)
    val skRef = sketch(docsRef)
    val cand = banded(skNew).as("a").join(banded(skRef).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.__id").as("id_new"), col("b.__id").as("id_ref"))
      .distinct()
    cand
      .join(skNew.select(col("__id"), col("sh")).as("sa"),
        col("id_new") === col("sa.__id"))
      .join(skRef.select(col("__id").as("__idr"), col("sh").as("shr")).as("sb"),
        col("id_ref") === col("sb.__idr"))
      // zero-allocation sorted-merge intersect — see minhashLshPairs
      .withColumn("__i", Sketches.sortedIntersectSize(col("sa.sh"), col("sb.shr")))
      .select(col("id_new"), col("id_ref"),
        (col("__i") / (size(col("sa.sh")) + size(col("sb.shr")) - col("__i")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact Jaccard pairs via classic prefix filtering (Chaudhuri et al.
    * "A Primitive Operator for Similarity Joins", ICDE 2006; Bayardo et
    * al. "Scaling Up All Pairs Similarity Search", WWW 2007): order all
    * shingles by ascending global document frequency (rarest first, ties
    * by shingle value — any total order works), index only each
    * document's first ⌊(1−t)·|x|⌋+1 shingles, generate candidate pairs
    * from that prefix inverted index, then verify candidates against the
    * FULL (xxhash64'd) shingle sets. Exact: J(x,y) ≥ t forces |x∩y| ≥ ⌈t·max(|x|,|y|)⌉,
    * so under a shared total order both prefixes must contain an element
    * of the intersection. Hot stop-shingles sort last and almost never
    * enter a prefix — the quadratic fan-out of [[jaccardPairs]] on
    * skewed natural corpora collapses without giving up exactness.
    * Output: (id_a, id_b, jaccard), identical to [[jaccardPairs]].
    *
    * Constant-factor note: the df join, per-document sort, and
    * candidate verify add ~4 extra stages, so on a SMALL dense corpus
    * (5k docs: 3.5 s vs grouped's 1.7) [[jaccardPairsGrouped]] is
    * still faster. Everywhere else this operator now wins — the
    * round-10 hashed-shingle rewrite (longs in every shuffle and the
    * verify intersect, Bayardo size-ratio filter before the
    * intersection) took 510k-doc runs from 84–101 s to 14.3–18.5 s on
    * the Zipf corpus and 16.2 s warm on the uniform one — at par or
    * ahead of grouped+cap in BOTH regimes (14.0–26.2 s lossy / 18.5 s
    * after ITS hash rewrite) while staying exact.
    *
    * Measured on the SkewGen Zipf corpus (BASELINE.md round 10; 510k docs, hot
    * shingles at df ≈ 255k, 32 threads): 30343 pairs — 27 MORE than
    * the pre-round-10 "exact" figure, recovered by the IEEE
    * prefix-length fix below — vs grouped+cap missing 16.7% of true
    * pairs outright. Uncapped grouped is not runnable there at all
    * (hot postings fan out ~255k² pairs per stop-shingle; OOMs a 48g
    * heap even at 52k docs).
    */
  def jaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.8): DataFrame = {
    // The entire pipeline — df counts, the per-doc (df, shingle) sort,
    // prefix pairing, and the verify intersection — runs on xxhash64'd
    // shingles, never the shingle STRINGS: every shuffle ships 8-byte
    // longs instead of ~k-word text, and the hot verify stage
    // intersects long arrays (measured 2.3× end-to-end at sf0.1, where
    // verify over 116k candidate string-array pairs was 60% of the
    // query). Exact modulo a 64-bit hash collision between two distinct
    // shingles of the SAME candidate pair (≈ n_doc²/2⁶⁴ ≈ 2⁻⁵⁰ per
    // pair — far below memory-error rates; any total order over
    // hashes preserves the prefix-filter guarantee, so collisions
    // only matter to the verified intersection count itself).
    val sets = docs.select(col(idCol).as("__id"),
        array_sort(array_distinct(transform(
          TextFunctions.shingleSet(col(textCol), k),
          s => xxhash64(s)))).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sh = sets.select(col("__id"), explode(col("sh")).as("sh"))
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // Per-document shingles in (df, hash) order; required prefix length
    // is n − ⌈t·n⌉ + 1 = floor((1−t)·n) + 1 in REAL arithmetic — but
    // that identity breaks under IEEE rounding: (1−0.8) evaluates to
    // 0.19999999999999996, so at n=10 the product floors to 1 where the
    // rational answer is 2, shortening the prefix by one and silently
    // missing true pairs (caught by the sf0.1 parity check: a J=0.8
    // subset pair (|x|=8 ⊂ |y|=10) whose only shared prefix element sat
    // at position 3). The +2 carries one unit of slack — the float
    // error in floor is at most 1 for any feasible n — trading ≤ one
    // extra indexed shingle per doc for unconditional exactness.
    val prefix = sh.join(dfreq, Seq("sh"))
      .groupBy(col("__id"))
      .agg(transform(array_sort(collect_list(struct(col("df"), col("sh")))),
        s => s.getField("sh")).as("ordered"))
      .select(col("__id"), explode(slice(col("ordered"), lit(1),
        (floor(lit(1.0 - threshold) * size(col("ordered"))) + 2).cast("int")))
        .as("sh"))
    val cand = postingPairs(prefix.groupBy(col("sh"))
        .agg(array_sort(collect_list(col("__id"))).as("ids"))
        .filter(size(col("ids")) >= 2))
      .distinct()
    cand
      .join(sets.as("sa"), col("id_a") === col("sa.__id"))
      .join(sets.as("sb"), col("id_b") === col("sb.__id"))
      // Bayardo length filter ahead of the intersection: J ≥ t forces
      // |x∩y| ≥ t·|x∪y| ≥ t·max(|x|,|y|), and the intersection can
      // never exceed min(|x|,|y|) — so size-ratio failures skip the
      // verify intersect entirely. floor (not ceil) keeps a one-unit
      // slack so IEEE rounding of t·max can never drop a pair the
      // final jaccard filter would keep.
      .filter(least(size(col("sa.sh")), size(col("sb.sh"))) >=
        floor(lit(threshold) *
          greatest(size(col("sa.sh")), size(col("sb.sh")))))
      // zero-allocation sorted-merge intersect — see minhashLshPairs
      .withColumn("__i", Sketches.sortedIntersectSize(col("sa.sh"), col("sb.sh")))
      .select(col("id_a"), col("id_b"),
        (col("__i") / (size(col("sa.sh")) + size(col("sb.sh")) - col("__i")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash near-dup pairs: 64-bit fingerprints, candidates share at
    * least one of 4 16-bit chunks (guarantees recall for hamming ≤ 3 by
    * pigeonhole), verified with bit_count(xor) ≤ maxHamming.
    * Output: (id_a, id_b, hamming).
    *
    * `portableHash` selects the token-hash family under the
    * fingerprint: false (default) = XXH64, the fastest kernel for the
    * 100 TB path; true = the rolling-hash/IdHash chain a DuckDB oracle
    * reproduces exactly (see [[graft.functions.SimHash64]]) — same
    * banding, same recall structure, different (but equally avalanched)
    * bits.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, portableHash: Boolean = false): DataFrame = {
    // persist the fingerprints: the chunk self-join would otherwise
    // re-evaluate the tokenize+SimHash pipeline on BOTH sides (the
    // same recompute trap minhashLshPairs had)
    val f = docs.select(col(idCol).as("__id"),
        Sketches.simhash(TextFunctions.words(col(textCol)), portableHash).as("f"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    fingerprintHammingPairs(f, "__id", "f", maxHamming)
  }

  /** Banded hamming near-dup pairs over ANY 64-bit fingerprint
    * relation — the candidate/verify core of [[simhashPairs]], shared
    * with the perceptual image hash ([[Multimodal.aHash64]]) and any
    * future 64-bit sketch: candidates share at least one of 4 16-bit
    * chunks (pigeonhole: guaranteed recall for hamming ≤ 3), verified
    * with bit_count(xor) ≤ `maxHamming`. The fingerprint relation is
    * 16 bytes/row — at 100 TB of media the pair join runs over hashes,
    * never payloads. Output: (id_a, id_b, hamming).
    *
    * IDENTICAL-FINGERPRINT MASS (failed decodes, black frames, blank
    * pages — every production media corpus has a head value): ids
    * sharing one fp collide in EVERY band, so the pair relation
    * carries a C(m,2) clique — 25% identical at 10⁹ images is 3×10¹⁶
    * pairs. Collapse identical fps FIRST (groupBy fp → min-id
    * canonical, membership edges id→canonical) and band only the
    * representatives: same components downstream, linear instead of
    * quadratic in the identical share (measured 2500× at 25%/20k —
    * BASELINE.md r14 `hamming` probe).
    */
  def fingerprintHammingPairs(fp: DataFrame, idCol: String, fpCol: String,
      maxHamming: Int = 3): DataFrame = {
    val chunks = fp.select(col(idCol).as("__id"), col(fpCol).as("__f"),
      posexplode(transform(sequence(lit(0), lit(3)),
        c => call_function("shiftright", col(fpCol), c * 16).bitwiseAND(lit(0xFFFFL))))
        .as(Seq("chunk", "cv")))
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        bit_count(col("a.__f").bitwiseXOR(col("b.__f"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-dup pairs (brute force, id_a < id_b).
    * Output: (id_a, id_b, cos). The all-pairs comparison is the exact
    * baseline; see [[Similarity]] for the sub-quadratic paths.
    *
    * Plan shape (r19, TILE-EVALUATED): both sides pack into rows of
    * `struct(ids: array<long>, flat: array<double>)` — vectors of one
    * uniform dimension laid END-TO-END (grouping key includes
    * `size(v)`, so mixed-dimension corpora split into uniform tiles
    * and cross-dimension pairs drop exactly as the join form dropped
    * them): the corpus into `rowBatches` batch rows (streamed,
    * repartitioned to cluster width) and `numBlocks` block rows
    * (broadcast — the SAME O(corpus) executor footprint the old
    * BuildRight nested-loop join shipped, just packed). Each
    * batch × block joined row evaluates a whole TILE in
    * [[graft.functions.CosineTileMatches]] over raw primitive reads —
    * zero per-pair allocation, and the batch side stays L2-resident
    * while the block streams through, so the naive plan's per-pair
    * memory traffic (512 B/pair from a broadcast two orders larger
    * than cache) collapses by the batch width. Same fused loop, same
    * accumulation order, so `cos` is bit-identical to the
    * join-condition form. Still exactly O(n²/2) fused-loop work —
    * brute force, not a candidate scheme; each unordered pair is
    * evaluated once. Measured at 20k vectors ×reps: naive join 17.7 s
    * → conjunct-ordered join 12.4 → tile kernel 0.6–0.9 s warm; at
    * sf10g/200k: 549.7 → 28–38 s (~17×), GC 263.5 → 1–5 s
    * (BASELINE r19).
    *
    * The trailing `repartition` of the SURVIVORS is recompute
    * insurance, not a partitioning choice: the compute-to-output ratio
    * here is extreme (O(n²) fused loops, a near-empty pair set), and a
    * downstream global sort — the catalog's orderBy, anyone's top-k —
    * would otherwise put a RangePartitioning directly above an
    * exchange-free subtree, whose boundary-sampling pass RE-EXECUTES
    * the whole join (measured: 109 s sorted vs 64 s unsorted at sf10g
    * before this line, vs 54 s sorted with it — AQE materializes the
    * tiny shuffle once and the sampler reads the shuffle files). The
    * hash key makes the shuffle reusable for the id_a-keyed groupBys
    * the CC/semantic-dedup consumers run next.
    *
    * The explicit `repartition(defaultParallelism)` is load-bearing:
    * a packed corpus is tiny on disk (200k × 64f ≈ 50 MB → 1–2 input
    * splits) and the cross join inherits the scan's width — the r19
    * one-file-corpus trap (66–85 s vs 17 s for the SAME data at
    * different file counts). One narrow shuffle of the (by definition
    * small) brute corpus buys full-width compute.
    */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numBlocks: Int = 64,
      rowBatches: Int = 1024): DataFrame = {
    require(numBlocks >= 1, s"numBlocks >= 1: $numBlocks")
    require(rowBatches >= 1, s"rowBatches >= 1: $rowBatches")
    val e = emb.select(col(idCol).as("__id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    // null-id / null-vector rows can never emit a pair (the join form
    // dropped them via null conditions) — exclude so packing stays dense
    def packed(groups: Int): DataFrame =
      e.filter(col("__id").isNotNull && col("v").isNotNull)
        .groupBy(pmod(xxhash64(col("__id")), lit(groups.toLong)).as("__g"),
          size(col("v")).as("__d"))
        .agg(collect_list(struct(col("__id").as("id"), col("v").as("v")))
          .as("__c"))
        .select(struct(
          transform(col("__c"), x => x.getField("id")).as("ids"),
          flatten(transform(col("__c"), x => x.getField("v"))).as("flat"))
          .as("__t"))
    val width = emb.sparkSession.sparkContext.defaultParallelism
    packed(rowBatches).withColumnRenamed("__t", "__batch")
      .repartition(width)
      .crossJoin(broadcast(packed(numBlocks).withColumnRenamed("__t", "__block")))
      .select(explode(graft.functions.CosineBlock.tileMatches(
        col("__batch"), col("__block"), threshold)).as("__m"))
      .select(col("__m").getField("id_a").as("id_a"),
        col("__m").getField("id_b").as("id_b"),
        col("__m").getField("cos").as("cos"))
      .repartition(col("id_a"))
  }

  /** IVF-bucketed embedding near-dup: vectors are multi-probe assigned
    * to their `nprobe` nearest cells ([[Similarity.multiProbeAssign]] —
    * map-side, no shuffle) and only pairs SHARING a probed cell are
    * cosine-verified; recall is the nprobe knob (the spec pins 100%
    * recall vs [[embeddingNearDupPairs]] on the testdata). Candidate
    * work is ~N²·nprobe²/numCells, so the win REQUIRES
    * numCells ≫ nprobe² — i.e. a corpus big enough to carry a large
    * centroid set AND a threshold high enough that few probes reach
    * full recall. For the general case (no fitted centroids, guaranteed
    * collision for collinear vectors) prefer
    * [[embeddingNearDupPairsSignLsh]]. Output: (id_a, id_b, cos).
    */
  /** Sign-LSH embedding near-dup — the cosine twin of
    * [[minhashLshPairs]]: random-hyperplane sketches
    * ([[graft.functions.SignSketchWide]], one narrow pass), banded
    * into `chunkBits`-bit chunks; candidates share ≥ 1 chunk value (by
    * pigeonhole this catches every pair within `bands − 1` sketch bits
    * — collinear near-dups sketch identically and ALWAYS collide),
    * then exact cosine verify of candidates only against the persisted
    * vectors.
    *
    * THE SCALE KNOBS, measured at the 100× stress run (BASELINE.md
    * round 9): bucket count per band is 2^chunkBits, so expected
    * RANDOM-pair candidate volume is ~N²·bands/2^chunkBits — still
    * quadratic in N at fixed width. At 20k vectors the default 256
    * buckets/band keeps occupancy ~80 and the constant is harmless; at
    * 200k vectors occupancy hits ~780 and the exact-verify join (which
    * ships both full vectors per candidate) spilled a disk. The fix is
    * more BUCKETS, not more bands: grow `chunkBits` with ~log2(N/500)
    * so occupancy stays flat, and grow `sketchWords` with it to hold
    * the band count (word 0 of the wide sketch equals the 64-bit
    * sketch, so widening never loses bits a narrow call banded on).
    * Measured at 220k vectors, threshold 0.9, words=2 + chunkBits=16
    * (8 bands × 65536 buckets): 100% of planted near-dups found in
    * ~10 s warm, scaling 5.2× for 10× data — where a pinned
    * 256-bucket config exhausted local disk. Since round 10 this rule
    * IS the default: chunkBits = 0 self-sizes both knobs from a
    * corpus count (see the inline note), so callers only pin widths to
    * reproduce a specific configuration.
    *
    * REGIME, also measured: random-hyperplane banding prunes only when
    * per-plane agreement p = 1 − θ/π is near 1, i.e. HIGH thresholds
    * (near-dup, cos ≳ 0.8). At cos 0.45 (p ≈ 0.65 vs 0.5 for random
    * pairs) no band shape separates signal from noise — the default
    * config measured 25% recall vs exact at sf1.0 (4149 of 16786
    * pairs) and wider bands only lower it. Moderate-similarity joins
    * belong to [[embeddingNearDupPairsIvf]] / [[embeddingNearDupPairs]]
    * or ANN retrieval ([[Similarity]]), not banding.
    * Output: (id_a, id_b, cos), id_a < id_b.
    */
  def embeddingNearDupPairsSignLsh(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, chunkBits: Int = 0,
      sketchWords: Int = 0): DataFrame = {
    // chunkBits = 0 (the default) self-sizes the sketch from the corpus
    // count per the measured round-9 rule (BASELINE.md): bucket count
    // 2^chunkBits must grow with N to hold per-band occupancy ~flat, or
    // candidate volume N²·bands/2^chunkBits goes quadratic — the
    // round-10 FULL-catalog sf10 run demonstrated it live: this very
    // operator at a pinned chunkBits = 8 died on 200k vectors (candidate
    // explosion → stage failure) while words=2/chunkBits=16 runs it in
    // seconds. Auto costs one narrow count() pass before the sketch
    // build, snaps to the divisors of 64 ({8,16,32}), and widens
    // sketchWords with it so band count stays 8 (word 0 is bit-equal
    // to the narrow sketch, so widening never loses bits an explicit
    // narrow call banded on). Boundaries follow the CANDIDATE-VOLUME
    // budget, not occupancy alone: expected random candidates
    // ≈ bands·N²/2^(chunkBits+1), and each candidate ships two full
    // vectors through the verify join, so candidates must stay O(10·N).
    // 16 bits holds that to ~800k vectors (22M candidates at 600k;
    // measured 6.7 s at 200k). The first draft's 6.5M boundary ignored
    // the budget and died at 2M vectors in the round-10 sf100 probe
    // (244M candidates → hundreds of GB of verify shuffle) — the same
    // bug class as the pinned 8-bit death, one decade later. 32 bits
    // costs a 4-word sketch (256 hyperplane dots/vector, map-side
    // linear) and holds candidates sub-N past 10^9 vectors.
    val autoBits =
      if (chunkBits > 0) chunkBits
      else {
        val n = emb.count()
        if (n <= 25600L) 8 else if (n <= 800000L) 16 else 32
      }
    val autoWords =
      if (sketchWords > 0) sketchWords
      else math.max(1, autoBits / 8)
    // upper bound 32: chunkBits = 64 would make `(1L << 64) - 1` wrap to
    // mask 0 (Java shifts are mod 64), silently sending every row to
    // bucket 0 — i.e. a full N² self-join instead of an error
    require(autoBits >= 1 && autoBits <= 32 && 64 % autoBits == 0,
      s"chunkBits must divide 64 and lie in [1, 32]: $autoBits")
    val bands = autoWords * 64 / autoBits
    val chunksPerWord = 64 / autoBits
    val mask = (1L << autoBits) - 1
    val sk = emb.select(col(idCol).as("__id"),
        transform(col(vecCol), x => x.cast("double")).as("v"),
        Sketches.signSketchWide(col(vecCol), autoWords).as("f"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded = sk.select(col("__id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => call_function("shiftright",
            element_at(col("f"), (floor(b / lit(chunksPerWord)) + 1).cast("int")),
            (b % lit(chunksPerWord)) * lit(autoBits))
          .bitwiseAND(lit(mask))))
        .as(Seq("chunk", "cv")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    cand
      .join(sk.select(col("__id"), col("v")).as("sa"), col("id_a") === col("sa.__id"))
      .join(sk.select(col("__id").as("__id2"), col("v").as("v2")).as("sb"),
        col("id_b") === col("sb.__id2"))
      .select(col("id_a"), col("id_b"),
        Sketches.cosineSim(col("v"), col("v2")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  def embeddingNearDupPairsIvf(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numCells: Int = 8, nprobe: Int = 2): DataFrame = {
    val centroids = Similarity.farthestFirstCentroids(emb, idCol, vecCol, numCells)
      .select(col("cid").as(idCol), col("cv").as(vecCol))
    val probed = Similarity.multiProbeAssign(emb, centroids, idCol, vecCol,
      nprobe = nprobe)
    probed.as("a").join(probed.as("b"),
        col("a.cell") === col("b.cell") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        Sketches.cosineSim(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** Connected components over a near-dup pair relation — the last step
    * of a dedup pipeline: pairwise output (from Jaccard / MinHash-LSH /
    * SimHash / embedding dedup) becomes canonical document groups, so
    * "keep one doc per component" is a single join away.
    *
    * Min-label propagation: every node starts labeled with its own id;
    * each round replaces a node's label with the min over its own and
    * its neighbors' labels; fixpoint = per-component min id. Each round
    * is one shuffle-join + one partial-aggregated groupBy on the edge
    * relation, converging in O(component diameter) rounds — near-dup
    * components are dense (cliques/stars from a shared source doc), so
    * diameter is small; the alternating large-star/small-star
    * contraction (Kiveris et al., MR-CC) is the O(log n) fallback if a
    * corpus ever produces long chains. Convergence is detected with a
    * cheap monotone witness: sum(label) strictly decreases while any
    * label changes, so one scalar aggregate per round replaces a
    * change-count join, and intermediates are persisted/unpersisted
    * round-to-round to keep lineage flat.
    *
    * NOTE: both CC loops run their conf overrides (AQE off,
    * `spark.sql.shuffle.partitions` sized from the edge count) on a
    * CLONED session — same SparkContext and cache manager, isolated
    * SQLConf — so the caller's session is NEVER mutated and queries
    * running concurrently on it plan under their own settings. The
    * result is re-rooted in the caller's session before returning.
    *
    * @return one row per node appearing in `pairs`:
    *         (`idCol`, component = min node id in its component)
    */
  /** Shuffle width for a CC fixpoint round: the session's width capped
    * by the measured edge count (≥1 task per ~500k edges). The session
    * value is user-supplied free text ("auto" on some managed
    * platforms, injected via spark-defaults where no set-time
    * validation runs) — a non-numeric value falls back to Spark's
    * default 200 rather than throwing mid-pipeline.
    */
  private[operators] def loopShufflePartitions(partsBefore: String, edgeCount: Long): Long =
    math.min(
      scala.util.Try(partsBefore.trim.toLong).toOption.filter(_ > 0).getOrElse(200L),
      edgeCount / 500000L + 1L)

  /** Re-root a loop's persisted state relation in the loop session
    * and, when the measured loop width is NARROWER than the relation's
    * cached partitioning, materialize a coalesced loop-width copy.
    *
    * Why: [[loopShufflePartitions]] sizes the per-round SHUFFLES from
    * the measured edge count, but the edge relation itself was
    * persisted under the caller's session width — so every round's
    * MAP stage still scheduled session-width tasks over it. At
    * local[32] that inverted the core-scaling of the iterative
    * small-state loops (doc_host_scores 8.2 s at 4 cores → 16.7 s at
    * 32: each tiny integer-exact round paid 32 tasks of scheduling
    * for 4 cores' worth of work). Coalescing ONCE before iterating
    * makes every subsequent round's task count follow the state
    * relation's size, not the session default — on a 1000-executor
    * cluster the same discipline keeps a 10³-host PageRank from
    * scheduling cluster-width no-op tasks per round, while a
    * 10⁹-edge graph (loopParts = session width) is returned
    * untouched, zero extra passes.
    *
    * The coalesced copy is persisted and counted here (one narrow
    * pass over already-cached partitions); callers unpersist BOTH the
    * returned frame and the parent relation when the loop ends —
    * `unpersist()` on the un-coalesced passthrough is a no-op-safe
    * duplicate of the parent's.
    */
  private[operators] def loopStateRelation(
      loopSession: org.apache.spark.sql.SparkSession,
      persisted: DataFrame, loopParts: Long): DataFrame = {
    val re = org.apache.spark.sql.graft.Bridge.inSession(loopSession, persisted)
    val cachedWidth = re.rdd.getNumPartitions
    if (loopParts < cachedWidth) {
      val narrow = re.coalesce(math.max(1L, loopParts).toInt).persist()
      narrow.count()
      narrow
    } else re
  }

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      idOut: String = "id", compOut: String = "component",
      maxIter: Int = 25): DataFrame = {
    val parent = pairs.sparkSession
    val e0 = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
    val edgesParent = e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct().persist()
    // materialize the edge relation — including whatever (possibly
    // expensive, AQE-dependent) pipeline produced `pairs` — under the
    // caller's settings BEFORE the loop session takes over
    val edgeCount = edgesParent.count()
    // AQE's per-stage materialization barriers add ~200-400ms latency to
    // every round of a fixpoint loop whose per-round data is tiny
    // relative to the stage overhead; the loop plans are simple enough
    // (one join + one groupBy) that static planning loses nothing. With
    // AQE suspended nothing coalesces the loop's shuffles either, so
    // size them from the measured edge count: a fixpoint over thousands
    // of edges runs single-task tiny rounds while a billion-edge graph
    // keeps the session's parallelism.
    //
    // The overrides live on a CLONED session (same SparkContext, same
    // cache manager, isolated SQLConf) — the caller's session is never
    // mutated, so a concurrent query planning on it mid-loop keeps the
    // caller's AQE/shuffle settings. Nothing to restore.
    val aqeKey = "spark.sql.adaptive.enabled"
    val partsKey = "spark.sql.shuffle.partitions"
    val partsBefore = parent.conf.get(partsKey, "200")
    val loopParts = loopShufflePartitions(partsBefore, edgeCount)
    val loopSession = org.apache.spark.sql.graft.Bridge.cloneSession(parent)
    loopSession.conf.set(aqeKey, "false")
    loopSession.conf.set(partsKey, loopParts.toString)
    // re-root the cached edges in the loop session (cache hit via the
    // shared CacheManager — data is not recomputed), coalesced to loop
    // width so each round's map stage schedules loopParts tasks
    val edges = loopStateRelation(loopSession, edgesParent, loopParts)
    try {
    // convergence witness: sum(label) strictly decreases while any label
    // changes (labels only move down), so sum-equality <=> fixpoint. The
    // sum runs in Decimal(38,0): exact, monotone, and safe from the
    // Long overflow an ANSI-mode sum(BIGINT) hits at billions of large
    // ids — without the mod-reduction that would break the
    // equality<=>no-change argument.
    val decSum = coalesce(sum(col("comp").cast(types.DecimalType(38, 0))),
      lit(0).cast(types.DecimalType(38, 0)))
    // round 0 fused into initialization: label = min(self, neighbors) —
    // for the star/clique components near-dup pair lists produce, this
    // IS the fixpoint and the loop only runs the convergence check
    var labels = edges.groupBy(col("u")).agg(min(col("v")).as("__mv"))
      .select(col("u").as("id"), least(col("u"), col("__mv")).as("comp")).persist()
    var witness = labels.agg(decSum).head().getDecimal(0)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // One join + one groupBy per round, ONE action: the witness agg
      // materializes the lazily-persisted `next` and computes the scalar
      // in the same job. The message relation unions three "edges" whose
      // v-side label is the candidate new label:
      //   (u, v)        neighbor labels  l(v)
      //   (id, id)      own label        l(id)
      //   (id, comp)    label-of-label   l(l(id)) — path halving free
      val msgs = edges
        .unionByName(labels.select(col("id").as("u"), col("id").as("v")))
        .unionByName(labels.select(col("id").as("u"), col("comp").as("v")))
      val next0 = msgs.join(labels.select(col("id"), col("comp")), msgs("v") === col("id"))
        .groupBy(col("u")).agg(min(col("comp")).as("comp"))
        .select(col("u").as("id"), col("comp"))
      // labels appears ~3x per round in the plan, so lineage grows ~3^k;
      // truncate periodically for graphs that need many rounds (lazy:
      // the witness aggregate below is the materializing action either
      // way, so truncation rounds cost no extra job)
      val next = if (it % 6 == 5) next0.localCheckpoint(false) else next0.persist()
      val w = next.agg(decSum).head().getDecimal(0)
      labels.unpersist()
      labels = next
      converged = w.compareTo(witness) == 0
      witness = w
      it += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents: no fixpoint after $maxIter rounds " +
          s"($edgeCount edges) — labeling may be non-final; raise maxIter " +
          "or use connectedComponentsStar for long-chain graphs")
    // hand back a lineage-truncated copy and drop the loop's cache —
    // returning the persisted frame itself would leak executor cache
    // per call (nothing downstream ever unpersists it). Re-rooted in
    // the CALLER's session so downstream composition (joins against
    // caller frames) stays single-session.
    val out = org.apache.spark.sql.graft.Bridge.inSession(parent,
      labels.select(col("id").as(idOut), col("comp").as(compOut))
        .localCheckpoint(true))
    labels.unpersist()
    out
    } finally {
      edges.unpersist()
      edgesParent.unpersist()
    }
  }

  /** Winnowing-fingerprint near-dup pairs — the MOSS matching step:
    * [[graft.functions.WinnowSet]] selects ~2/(w+1) of each document's
    * k-char-gram hashes (with the shared-substring guarantee), and the
    * usual inverted-index machinery pairs documents by shared
    * fingerprints. The SUB-LINEAR per-doc fingerprint set is what makes
    * this the long-document path: a 100-page document contributes
    * dozens of postings, not tens of thousands of shingles — the
    * posting relation shrinks by ~(w+1)/2 versus shingle-Jaccard
    * before any join happens. Same skew cap as
    * [[jaccardPairsGrouped]]; candidates are pairs sharing at least
    * `minShared` fingerprints (exact similarity verification is the
    * caller's policy — fingerprint overlap IS the MOSS score).
    */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 16, minShared: Long = 2L,
      maxFpDf: Long = 0L): DataFrame = {
    val fps = docs.select(col(idCol).as("__id"),
      explode(Sketches.winnowSet(
        regexp_replace(lower(col(textCol)), " +", " "), k, w)).as("fp"))
    var postings = fps.groupBy(col("fp"))
      .agg(array_sort(collect_list(col("__id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
    if (maxFpDf > 0) postings = postings.filter(size(col("ids")) <= maxFpDf)
    postingPairs(postings)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared_fp"))
      .filter(col("n_shared_fp") >= minShared)
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — the O(log n)-
    * round fallback to [[connectedComponents]] for graphs with long
    * chains, where min-label propagation needs O(diameter) rounds.
    * Near-dup graphs are star/clique-shaped (diameter 2-3), so the
    * simpler operator is the catalog default; this one exists for
    * corpora that chain (e.g. overlapping-window shingles of one long
    * document family).
    *
    * Measured on exactly that regime (SkewGen's sliding-window near-dup
    * chain, edges straight from minhashLshPairs; round-10 BASELINE.md):
    * 10k-doc chain — this operator 6.1–6.6 s vs min-label 81–88 s
    * (13×); 2k-doc chain — 3.9–4.5 s vs 66–72 s; identical labelings,
    * both converged. Min-label's label-of-label message gives it path
    * halving (O(log diameter) ROUNDS, not O(diameter)), but each of its
    * rounds joins the full edge relation three ways, while star
    * contraction's rounds shrink the edge set geometrically — the
    * chain's fixpoint arrives in fewer, cheaper rounds.
    *
    * Edges stay canonically oriented u > v. Large-star hangs every
    * above-min neighbor of u onto min(N(u) ∪ u); small-star re-hangs
    * the below-u neighborhood onto its min. At fixpoint every component
    * is a star rooted at its min id, read off directly as the labeling.
    * Convergence is detected with an order-insensitive edge-set witness
    * (count + sum of per-edge hashes) — both change monotonically-ish
    * but equality of BOTH to the previous round means the canonical
    * edge set is stable.
    */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
      idOut: String = "id", compOut: String = "component",
      maxIter: Int = 30): DataFrame = {
    def canon(df: DataFrame): DataFrame = df
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      // (v, m(u)) for v in N(u) with v > u; v > u >= m keeps orientation
      sym.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      val hang = e.join(m, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v")) // v > m: m is the min
      val root = m.select(col("u"), col("m").as("v"))
      canon(hang.unionByName(root))
    }

    def witness(e: DataFrame): (Long, Long) = {
      // hashes reduced mod a prime before summing — raw 64-bit sums
      // overflow under ANSI mode; ±1e9-bounded terms stay exact to ~9e9 edges
      val r = e.agg(count(lit(1)),
        coalesce(sum(pmod(xxhash64(col("u"), col("v")), lit(1000000007L))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    // each round references `e` ~a dozen times (sym unions, min joins),
    // so building rounds on raw lineage grows the LOGICAL plan
    // exponentially (persist caches data, not the plan) — OOM in the
    // analyzer after a handful of rounds. localCheckpoint truncates the
    // plan to the materialized partitions every round; the witness
    // aggregate doubles as the materializing action (see loop).
    val parent = pairs.sparkSession
    // lazy: the edgeCount action below materializes the checkpoint
    var e = canon(pairs.select(col(aCol).as("u"), col(bCol).as("v")))
      .localCheckpoint(false)
    // same loop-shuffle treatment as [[connectedComponents]], same
    // isolation: the AQE/width overrides live on a cloned session, the
    // caller's conf is never mutated, nothing to restore
    val aqeKey = "spark.sql.adaptive.enabled"
    val partsKey = "spark.sql.shuffle.partitions"
    val partsBefore = parent.conf.get(partsKey, "200")
    val edgeCount = e.count()
    val loopParts = loopShufflePartitions(partsBefore, edgeCount)
    val loopSession = org.apache.spark.sql.graft.Bridge.cloneSession(parent)
    loopSession.conf.set(aqeKey, "false")
    loopSession.conf.set(partsKey, loopParts.toString)
    e = org.apache.spark.sql.graft.Bridge.inSession(loopSession, e)
    // round 1's dozen references to `e` scan the parent-width
    // checkpoint; a narrow coalesce (no re-checkpoint — one round of
    // lineage) drops its map stages to loop width. Rounds 2+ already
    // inherit loopParts from the round shuffles.
    if (loopParts < e.rdd.getNumPartitions)
      e = e.coalesce(math.max(1L, loopParts).toInt)
    var w = witness(e)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // LAZY localCheckpoint: the logical plan is truncated to a
      // LogicalRDD at call time either way (eager only appends a
      // count() job), so making the witness aggregate the FIRST action
      // on the checkpoint-marked RDD materializes + caches the round's
      // partitions and computes the witness in ONE job — halving the
      // loop's jobs/round vs eager-checkpoint-then-aggregate (the two
      // forms timed a wash on the 10k-doc chain, BASELINE.md rounds 11–12)
      val next = smallStar(largeStar(e)).localCheckpoint(false)
      val w2 = witness(next)
      e.unpersist()
      e = next
      converged = w2 == w
      w = w2
      it += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponentsStar: no fixpoint after $maxIter rounds " +
          s"($edgeCount edges) — labeling may be non-final; raise maxIter")
    // fixpoint: every component is a star (member, root) + the root itself
    val labels = e.select(col("u").as(idOut), col("v").as(compOut))
      .unionByName(e.select(col("v").as(idOut), col("v").as(compOut)).distinct())
      .distinct()
    // truncate onto fresh partitions, drop the loop's final checkpoint,
    // and re-root in the caller's session — same hygiene as
    // [[connectedComponents]]
    val out = org.apache.spark.sql.graft.Bridge.inSession(parent,
      labels.localCheckpoint(true))
    e.unpersist()
    out
  }

  /** Quality-aware canonical selection: the surviving corpus after
    * near-dup clustering, keeping for each component the member with
    * the HIGHEST score (ties → lowest id) instead of the arbitrary
    * min-id member. This is what production dedup recipes actually do —
    * when a template cluster mixes a full article with its truncated
    * syndicated copies, min-id keeps whichever crawled first; score-max
    * keeps the best one (longest, highest quality-classifier margin,
    * preferred source — any numeric `scoreCol` the caller puts on
    * `docs`).
    *
    * Shuffle profile: component labeling is bounded by the docs that
    * appear in some pair (star contraction, O(log n) rounds); the
    * per-component winner is ONE partial-aggregated `max_by` — no
    * window, so no per-key row sort and a giant component costs its
    * share of a combine, not a single-task sort; survivors emerge from
    * one id equi-join + one component equi-join back onto `docs`, both
    * null-safe for untouched docs. At 100 TB the only corpus-sized
    * shuffles are the id joins; everything else is |candidate-pair|
    * sized.
    *
    * Type contract: `scoreCol` must be numeric — winners compare as
    * DOUBLE (a > 2^53 integral score loses sub-ulp distinctions; null
    * scores lose to any non-null score; an all-null component falls
    * back to min-id). `idCol` may be ANY orderable type (Long, string,
    * UUID-as-string …): the tie-break orders ids natively inside a
    * struct instead of negating them, so there is no numeric-id
    * requirement and no ANSI overflow at Long.MinValue. Internal
    * columns use a reserved `__k` prefix; `docs` carrying a
    * `component` (or any non-`__k*`) column joins through unharmed.
    *
    * @param docs  corpus carrying `idCol` and `scoreCol`
    * @param pairs near-dup pair relation (`aCol`, `bCol` id columns)
    * @return `docs` rows surviving: untouched docs + each component's
    *         best member, original columns intact
    */
  def keepBest(docs: DataFrame, pairs: DataFrame, idCol: String,
      scoreCol: String, aCol: String = "id_a", bCol: String = "id_b"): DataFrame =
    keepBestLabeled(docs,
      connectedComponentsStar(pairs, aCol, bCol, idOut = "__kid"),
      idCol, scoreCol, labelIdCol = "__kid", compCol = "component")

  /** [[keepBest]] over an ALREADY-COMPUTED component labeling — the
    * fan-out form when one clustering feeds several selection passes
    * (canonical-by-min-id AND best-by-score over the same components,
    * or a labeling reused across score columns): the O(log n) CC loop
    * runs once upstream, each selection pays only the joins.
    *
    * @param components (labelIdCol, compCol) — one row per labeled
    *                   doc; docs absent from it pass through untouched
    */
  def keepBestLabeled(docs: DataFrame, components: DataFrame, idCol: String,
      scoreCol: String, labelIdCol: String = "id",
      compCol: String = "component"): DataFrame = {
    val cc = components
      .select(col(labelIdCol).as("__kid"), col(compCol).as("__kcomp"))
    val scored = docs.select(col(idCol).as("__kid"), col(scoreCol).as("__ks"))
    // maximize (score, then LOWEST id) as min_by over (-score, id):
    // negating the DOUBLE-cast score instead of the id keeps any
    // orderable id type safe; null scores coalesce to -Inf (their
    // negation +Inf sorts last in the min), so they lose to any real
    // score and an all-null component degrades to min-id
    val best = cc.join(scored, "__kid")
      .groupBy(col("__kcomp"))
      .agg(min_by(col("__kid"),
        struct((-coalesce(col("__ks").cast("double"),
            lit(Double.NegativeInfinity))).as("__s"),
          col("__kid").as("__i"))).as("__keep"))
    docs.join(cc, col(idCol) === col("__kid"), "left")
      .join(best, Seq("__kcomp"), "left")
      .filter(col("__kid").isNull || col(idCol) === col("__keep"))
      .drop("__kid", "__kcomp", "__keep")
  }

  /** C4-style duplicated-span removal (Raffel et al. 2020 §2.2: "we
    * removed all but one of any three-sentence span occurring more than
    * once in the data set"), generalized to any literal line separator:
    * split each doc into spans, and for every span occurring more than
    * once CORPUS-WIDE keep only the occurrence(s) in the lowest-id doc,
    * then reassemble each doc's surviving spans in original order.
    * Intra-doc repeats inside the keeper doc all survive (the rule
    * prunes cross-doc boilerplate, not within-doc structure); docs whose
    * every span is pruned drop from the output.
    *
    * Shuffle profile — the honest global-group-by-span shape: one
    * partial-aggregated count keyed on a 64-bit span hash (spans, not
    * docs), one equi-join of the span relation against those stats
    * (hash-keyed, so the wide span string ships once per occurrence and
    * never as a join key), one doc-keyed groupBy to reassemble. No
    * broadcast: unlike a stop-word head, the duplicated-span set on a
    * crawl is NOT small. The xxhash64 keying accepts a 2^-64 per-pair
    * collision chance (two distinct spans sharing a hash would share
    * stats) — the same trade [[minhashBands]] makes.
    *
    * Skew-probed on the real-world worst case (BASELINE.md rounds
    * 11–12, `linededup`: 510k docs where ONE boilerplate span has df 249,852 ≈
    * N/2 — boilerplate IS the Zipf head): 5.5 s wall / 2.2 s max task
    * warm at local[32]. The count side is immune (partial aggregation),
    * and the span⋈stats equi-join survives the hot key because the
    * stats side carries ONE row per span hash — AQE's skew-join split
    * replicates it across the fat probe partitions. No salting needed;
    * leave AQE on for this operator.
    *
    * Output: (`idCol`, `textOut`) for every doc with ≥ 1 surviving span.
    */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", textOut: String = "text"): DataFrame = {
    val spans = docs.select(col(idCol).as("__id"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("pos", "span")))
      .withColumn("sh", xxhash64(col("span")))
    val stats = spans.groupBy(col("sh"))
      .agg(count(lit(1)).as("occurrences"), min(col("__id")).as("keeper"))
    spans.join(stats, "sh")
      .filter(col("occurrences") === 1 || col("__id") === col("keeper"))
      .groupBy(col("__id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("span")))),
          s => s.getField("span")), sep).as(textOut))
      .select(col("__id").as(idCol), col(textOut))
  }

  /** Exact-substring duplicate spans (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better" §4.1 ExactSubstr):
    * find, per document, the maximal character ranges every k-length
    * window of which appears ≥ `minCount` times corpus-wide (including
    * repeats inside the same document — the paper's definition). The
    * single-node reference implementation builds a suffix array over
    * the concatenated corpus; the Spark-first re-expression is
    * position-level hashing + relational algebra:
    *
    *   1. [[graft.functions.GramHashes]] emits every k-byte window's
    *      Rabin–Karp hash in one O(n) pass per doc (no per-window
    *      re-hash), posexploded to (id, pos, h) — one row per char;
    *   2. a partial-aggregated groupBy(h) counts occurrences —
    *      map-side combine collapses within-partition repeats, and the
    *      shuffle carries (8-byte hash, count), never text;
    *   3. positions join the df≥minCount hash set on h. The duplicated
    *      set on a crawl is boilerplate-sized, not corpus-sized, but
    *      not reliably broadcast-small — leave it a shuffle join and
    *      let AQE downgrade to broadcast when stats allow;
    *   4. duplicated windows merge into maximal spans with
    *      gaps-and-islands over a per-doc window — overlapping OR
    *      ADJACENT windows fuse, so a span is a contiguous duplicated
    *      region (what removal cuts), bounded per-task by doc length.
    *
    * The position relation is O(total corpus bytes) — inherent to
    * ExactSubstr (the suffix array is too). The 100 TB mitigation is a
    * winnow prefilter: by the [[graft.functions.WinnowSet]] guarantee
    * any shared substring of length ≥ w+k−1 shares a selected
    * fingerprint, so a first pass over the ~2/(w+1)-density fingerprint
    * relation finds candidate DOCS and the full per-position pass runs
    * only over those. Hash keying accepts the usual ≈2^-61 per-pair
    * collision odds (a collision could at worst mark one k-window
    * falsely duplicated).
    *
    * Skew-probed (BASELINE r13, 510k docs, hot-prefix windows at
    * df ≈ N/2, 100.7M duplicated positions = 20% of the corpus):
    * spans 57 s / maxtask 23.8 s warm at local[32], signatures stable
    * across reps. No whale key exists by construction — the stats side
    * of the hot join is one row per hash (AQE-splittable), and the
    * span-merge window keys on doc_id with per-doc work bounded by doc
    * length, so the max task tracks partition VOLUME, which finer
    * shuffle partitioning subdivides on a real cluster.
    *
    * Output: (`idCol`, `span_start`, `span_end`) — 1-based char
    * positions, end-exclusive, only for docs with ≥ 1 duplicated
    * window. Positions are byte offsets; for ASCII text those are char
    * offsets (see [[graft.functions.GramHashes]]).
    */
  def exactSubstrSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minCount: Long = 2L): DataFrame = {
    val grams = docs.select(col(idCol),
        posexplode(Sketches.gramHashes(col(textCol), k)).as(Seq("__p0", "__h")))
      .select(col(idCol), (col("__p0") + 1).as("pos"), col("__h"))
    val dup = grams.groupBy(col("__h"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minCount)
      .select(col("__h"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevEnd = max(col("pos") + lit(k))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    grams.join(dup, "__h")
      .withColumn("__brk", when(col("pos") > prevEnd, 1).otherwise(0))
      .withColumn("__island", sum(col("__brk")).over(w))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k)).as("span_end"))
      .drop("__island")
  }

  /** The winnow-prefiltered ExactSubstr scale path: find candidate
    * DOCS first with the ~2/(w+1)-density fingerprint relation, then
    * run the full per-position [[exactSubstrSpans]] pass over
    * candidates only. Two candidate sources:
    *
    *   - cross-doc: [[graft.functions.WinnowSet]] fingerprints with
    *     ≥ 2 distinct docs. By the winnowing guarantee any substring
    *     of length ≥ w+k−1 shared between two docs shares a selected
    *     fingerprint, so no doc participating in a long shared span
    *     can be missed;
    *   - intra-doc: winnow selects distinct VALUES per doc, so a
    *     within-doc repeat is invisible to the fingerprint df — it is
    *     caught instead by a narrow per-row check (the doc's window-
    *     hash array contains a duplicate value), exact for every
    *     repeat length ≥ k.
    *
    * CONTRACT — this is the recall-guaranteed approximation, not the
    * exact operator: duplicated regions whose every shared substring
    * is shorter than w+k−1 chars AND crosses a candidate/non-candidate
    * doc pair can be missed (within the returned candidates the pass
    * is the exact algorithm, so anything it reports is genuinely
    * duplicated). Use it when the duplicated-doc fraction is small —
    * the common crawl case — where the full per-position relation
    * (O(corpus bytes)) shrinks to O(candidate bytes). Measured
    * (BASELINE r13, `exactsubstr_pre`): on a 500k-doc corpus whose
    * duplicated-doc fraction approaches 1, the prefilter PAYS — full
    * 46.6 s vs prefiltered 75.3 s warm, with the expected −0.6%
    * below-guarantee span misses — so at high dup density run
    * [[exactSubstrSpans]] directly.
    */
  def exactSubstrSpansPrefiltered(docs: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int = 16, minCount: Long = 2L): DataFrame = {
    val fps = docs.select(col(idCol),
      explode(Sketches.winnowSet(col(textCol), k, w)).as("__fp"))
    val hot = fps.groupBy(col("__fp"))
      .agg(countDistinct(col(idCol)).as("__d"))
      .filter(col("__d") >= 2).select(col("__fp"))
    val crossDoc = fps.join(hot, "__fp").select(col(idCol)).distinct()
    val intraDoc = docs.filter {
      val hs = Sketches.gramHashes(col(textCol), k)
      size(hs) =!= size(array_distinct(hs))
    }.select(col(idCol))
    val candidates = crossDoc.union(intraDoc).distinct()
    exactSubstrSpans(docs.join(candidates, Seq(idCol), "left_semi"),
      idCol, textCol, k, minCount)
  }

  /** ExactSubstr removal: cut every duplicated span found by
    * [[exactSubstrSpans]] out of the text. Spans are collected per doc
    * (bounded by doc length), sorted, and stitched with one
    * `aggregate` higher-order fold — the keep-pieces concat stays
    * whole-stage-codegen'd, no UDF. Docs without duplicated spans pass
    * through byte-identical; a doc that is entirely duplicated spans
    * yields an empty string (kept, matching the paper's
    * cut-not-drop semantics).
    *
    * `materializeSpans = Some(true)` localCheckpoints the span
    * relation before the stitch join — the r16 profile's finding
    * (BASELINE.md, Round 16: ExactSubstr band root-caused)
    * behind the catalog's widest variance band: with the spans
    * subtree live inside the stitch plan, the O(corpus-positions)
    * explode/sort machinery runs concurrently with the docs-side scan
    * and the whole query read 72–146 s at sf10 (same corpus, same
    * hour); materialized first, the stitch joins a small settled
    * relation and the same work reads 47–59 s — 2.4× faster mean AND
    * a tight band. (GC itself was 1–3% of wall in both forms; the
    * G1 humongous traffic — 26–35 GB of ≥16 MB sorter pages at 32 MB
    * regions — is why the un-materialized form amplifies box load
    * into that band.) The span relation is O(docs with a duplicated
    * window) narrow rows — executor-local storage a 100 TB run
    * carries easily; pass `Some(false)` to keep the single-plan form.
    *
    * The default (`None`) SIZE-GATES the choice — the r16 unconditional
    * checkpoint traded +1.46 s at sf0.1 (where the whole query is
    * ~2.5 s and the checkpoint is pure overhead) for the −38 s sf10
    * win. The gate reads the optimizer's PLAN-TIME size statistic
    * first, but trusts it only in the ONE direction it can prove:
    * columnar file-source bytes UNDERestimate raw text chars 2-5x
    * (snappy/zstd), so `statBytes >= cut` implies `chars >= cut` and
    * materializes without firing a job; a stat BELOW the cut (or the
    * Long.MaxValue unknown-size sentinel) proves nothing — the r18
    * two-sided form could skip the sf10 win on a corpus whose
    * compressed bytes sat just under the cut — and falls back to one
    * narrow eager `sum(length(text))` scan, cheap exactly when the
    * corpus is genuinely small (r17/r18 ADVICE lineage: construction
    * stays side-effect-free for large stat-visible corpora; callers
    * with expensive stat-less upstream plans should persist `docs` or
    * pass `Some(_)` explicitly). A wide non-text table can
    * over-trigger the stat arm (sizeInBytes counts all columns) —
    * that errs toward materializing, the cheap direction at scale.
    * Default cut 32M chars — two orders above
    * the 1.5M-char sf0.1 corpus, five below the ~150M-char sf10 one,
    * so both measured regimes sit far from the cut under either
    * estimator.
    */
  def exactSubstrClean(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minCount: Long = 2L, textOut: String = "text",
      materializeSpans: Option[Boolean] = None,
      materializeMinChars: Long = 32L * 1024 * 1024): DataFrame = {
    val doMaterialize = materializeSpans.getOrElse {
      // plan-time stats decide only the ONE-SIDED cheap direction
      // (no job): columnar on-disk bytes typically UNDERestimate raw
      // text chars 2-5x (snappy/zstd), so statBytes >= cut proves
      // chars >= cut -> materialize. Below the cut (or at the
      // unknown-size sentinel) the stat CANNOT prove smallness —
      // compression could hide a large corpus — so fall back to the
      // narrow eager sum(length) probe, which is cheap exactly when
      // the corpus is genuinely small (r18 ADVICE: the two-sided form
      // could silently skip the measured -38 s sf10 checkpoint win on
      // a corpus whose compressed bytes sat just under the cut).
      val statBytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
      if (statBytes >= 0 && statBytes < BigInt(Long.MaxValue) / 4 &&
          statBytes >= materializeMinChars) true
      else {
        val chars = docs.agg(sum(length(col(textCol))).as("__c"))
          .head.getAs[Any]("__c") match {
            case null => 0L
            case v: java.lang.Number => v.longValue()
          }
        chars >= materializeMinChars
      }
    }
    val sp0 = exactSubstrSpans(docs, idCol, textCol, k, minCount)
    val spans = (if (doMaterialize) sp0.localCheckpoint() else sp0)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(
        struct(col("span_start").as("s"), col("span_end").as("e")))).as("__spans"))
    docs.join(spans, Seq(idCol), "left")
      .withColumn(textOut,
        when(col("__spans").isNull, col(textCol)).otherwise(
          expr(s"""concat(
            aggregate(__spans,
              struct(1 as cur, '' as acc),
              (a, sp) -> struct(sp.e as cur,
                concat(a.acc, substr($textCol, a.cur, sp.s - a.cur))),
              a -> a.acc),
            substr($textCol, element_at(__spans, -1).e))""")))
      .drop("__spans")
      .select(col(idCol), col(textOut))
  }

  /** SemDeDup-shaped semantic dedup (Abbas et al. 2023: cluster the
    * embeddings, prune within-cluster cosine near-dups, keep one
    * representative): near-dup pairs from a sub-quadratic candidate
    * path + exact cosine verify, closed into components, then one doc
    * kept per component (the min id — deterministic, like
    * [[exactCanonical]]). Candidate strategy:
    *
    *   - `"ivf"` (the paper's shape): [[Similarity.multiProbeAssign]]
    *     cells, pairs verified within shared cells. Recall depends on
    *     near-dups landing in a shared probed cell; the win condition
    *     (numCells >> nprobe²) and regime notes live on
    *     [[embeddingNearDupPairsIvf]].
    *   - `"lsh"`: sign-LSH banding ([[embeddingNearDupPairsSignLsh]]) —
    *     collinear near-dups sketch identically, so the high-threshold
    *     regime this operator targets gets guaranteed candidate
    *     collision; prefer it when no fitted cell structure is wanted.
    *
    * Returns the SURVIVORS: every input row minus non-canonical
    * near-dup members, all input columns intact.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, method: String = "lsh",
      numCells: Int = 8, nprobe: Int = 2): DataFrame = {
    // Collapse EXACT-duplicate vectors before any candidate path:
    // identical vectors are near-dups at every threshold (cos = 1) and
    // share every LSH band / IVF cell, so a mass of C identical vectors
    // (a failed-decode default embedding, an empty-doc vector — every
    // production embedding table has such a head) would push a C²/2
    // candidate clique through the verify join. Measured (BASELINE.md
    // rounds 11–12, `semantic`, 200k vectors with a 25% identical mass):
    // the collapsed path runs in seconds where the uncollapsed clique
    // is ~1.2e9 candidate pairs — structurally unrunnable. One
    // partial-aggregated groupBy on a 64-bit vector hash picks the
    // min-id representative per distinct vector, only representatives
    // enter the candidate path, and member→representative edges rejoin
    // the component graph — cos(member, x) ≡ cos(rep, x), so the
    // components (and therefore the survivors) are exactly those of
    // the uncollapsed run. The xxhash64 keying accepts the same 2^-64
    // false-merge chance as [[lineDedup]]'s span hash.
    val keyed = emb.select(col(idCol).as("__mid"),
      xxhash64(col(vecCol)).as("__vh"))
    val reps = keyed.groupBy(col("__vh")).agg(min(col("__mid")).as("__rid"))
    val tagged = keyed.join(reps, "__vh")
    val repEmb = emb.join(reps.select(col("__rid")),
      col(idCol) === col("__rid"), "leftsemi")
    val repPairs = (method match {
      case "ivf" => embeddingNearDupPairsIvf(repEmb, idCol, vecCol, threshold,
        numCells, nprobe)
      case "lsh" => embeddingNearDupPairsSignLsh(repEmb, idCol, vecCol, threshold)
      case other => throw new IllegalArgumentException(
        s"unknown method '$other' (expected ivf | lsh)")
    }).select(col("id_a"), col("id_b"))
    val dupEdges = tagged.filter(col("__mid") =!= col("__rid"))
      .select(col("__mid").as("id_a"), col("__rid").as("id_b"))
    val cc = connectedComponentsStar(repPairs.unionByName(dupEdges),
      "id_a", "id_b", idOut = "__cid")
    emb.join(cc, col(idCol) === col("__cid"), "left")
      .filter(col("__cid").isNull || col("component") === col(idCol))
      .drop("__cid", "component")
  }
}
