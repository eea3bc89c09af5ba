package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types

/** Deterministic sampling for training-data pipelines. Every form keys
  * off a portable hash of a stable id (split multiplicative mix +
  * murmur3 fmix32 avalanche — see [[Sampling.idHash]]) instead of an
  * RNG: the sample is reproducible across runs, engines (the hash is
  * plain integer arithmetic, expressible in ANSI SQL), partition
  * counts, and cluster sizes — `df.sample()` is none of those (seed +
  * partition-order dependent), which breaks train/eval split stability
  * when a corpus is re-partitioned.
  */
object Sampling {

  /** Version of [[idHash]]'s mixing function. Bump = every persisted
    * sample/split/pack assignment derived from the hash is invalidated
    * (see the re-keying note on [[idHash]]). History: 1 = single
    * multiply-mod round (aliased ids differing by 2^31); 2 = two-round
    * multiply-mod split mix (no aliasing, but measurably biased on
    * consecutive-id populations: the top bit of evens 2..1000 split
    * 33.6/66.4 — a 5-sigma monobit failure); 3 = murmur3 fmix32
    * finalizer over the split-multiplied words (worst monobit z = 2.4
    * across consecutive / strided / offset populations x 32 bits).
    */
  val hashVersion: Int = 3

  /** Hash in [0, 2^32): the id (reduced to [0, 2^62) — documented
    * domain edge; 61 bits of id entropy mix) splits into two 32-bit
    * words, each gets its own odd multiplier (Knuth's 2654435761;
    * xxHash's PRIME32_2), and the xor-folded result runs through the
    * murmur3 fmix32 avalanche. The multiplies before the fold keep
    * fixed-offset pairs from aliasing (property-tested at offsets 1, 2,
    * 2^31, 2^32, 2^33, 2^40 — SamplingSpec); fmix32 supplies the
    * per-bit uniformity the bare multiply-mod lattice lacked
    * (hash v2's top bit was 5 sigma biased on consecutive even ids).
    *
    * '''Hash version 3 — a re-keying, not a compatible upgrade.''' Each
    * version change re-keys EVERY id (v1 `idHash(42)` = 2529120690,
    * v2 = 1049638439, v3 = 1716251024), so every Bernoulli sample,
    * mixture, pack layout, and train/val/test split assignment migrates
    * across versions. The documented "membership never changes"
    * stability guarantee holds WITHIN a hash version: splits persisted
    * under an older version must be either re-derived or kept on a
    * pinned library release. [[hashVersion]] is exposed so pipelines
    * can stamp persisted splits with the hash that produced them and
    * fail fast on mismatch.
    *
    * Compiles to the [[graft.functions.IdHash]] kernel expression — ~10
    * Java statements inside whole-stage codegen (a `Column`-built chain
    * duplicates the tree 2^5-fold and crashed Janino; see the kernel's
    * scaladoc). The function itself is still plain integer arithmetic,
    * mirrored ANSI-safely (16-bit-halves multiplies) by the DuckDB
    * oracle in [[graft.queries.SamplingQueries.hashSql]] so the oracle
    * computes the identical sample.
    */
  def idHash(id: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.IdHash(
        org.apache.spark.sql.graft.Bridge.expression(id.cast("long"))))

  /** Deterministic Bernoulli sample: keeps ~`fraction` of rows, chosen
    * by hash threshold. Narrow (a pure filter — no shuffle, no window),
    * so it costs one codegen'd comparison per row at any scale, and a
    * row's membership never changes as the corpus grows.
    */
  def bernoulliByHash(df: DataFrame, idCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction must be in [0,1]: $fraction")
    df.filter(idHash(col(idCol)) < lit((fraction * 4294967296.0).toLong))
  }

  /** Deterministic stratified sample: exactly `n` rows per stratum
    * (fewer if the stratum is smaller), the n smallest hashes winning.
    * One shuffle on the stratum key + a per-partition sorted rank.
    *
    * Giant-stratum note: this rank-limit shape (`row_number() <= n`)
    * gets Catalyst's WindowGroupLimit pushdown (partial BEFORE the
    * stratum shuffle + final), so each map partition pre-prunes to its
    * own top n and the giant stratum never ships or sorts its full row
    * set — measured skew-IMMUNE on a 4.6M-row stratum (SkewGen,
    * round-10 BASELINE.md: max task 0.34 s plain vs 0.41 s salted).
    * [[stratifiedByHashSalted]] remains the pattern for keyed-window
    * shapes the pushdown does NOT match (running aggregates like
    * [[packLayout]], carry-forwards like asof — both measured heavily
    * skew-bound), and pins plain==salted end-to-end in the catalog.
    */
  def stratifiedByHash(df: DataFrame, stratumCol: String, idCol: String,
      n: Int, rankOut: String = "rk"): DataFrame = {
    require(n > 0, s"n must be positive: $n")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(idHash(col(idCol)), col(idCol))
    df.withColumn(rankOut, row_number().over(w)).filter(col(rankOut) <= n)
  }

  /** Data-mixing sampler — the mixture-recipe step of a pretraining
    * pipeline ("keep 100% of source A, 50% of B, 10% of everything
    * else"): a per-source keep rate applied with the same portable
    * id-hash, so the mixture is deterministic, repartition-stable, and
    * nested (raising a source's rate only ADDS documents). Still one
    * narrow codegen'd filter — no shuffle at any corpus size. Rates are
    * keep probabilities in [0,1]; upsampling (> 1 epoch of a source) is
    * a separate explode-by-epoch-count concern.
    */
  def mixtureByHash(df: DataFrame, idCol: String, sourceCol: String,
      rates: Map[String, Double], defaultRate: Double = 0.0): DataFrame = {
    require((rates.values.toSeq :+ defaultRate).forall(r => r >= 0 && r <= 1),
      s"rates must be in [0,1]: $rates default=$defaultRate")
    require(rates.nonEmpty, "empty mixture")
    val sorted = rates.toSeq.sortBy(_._1)
    val threshold = sorted.tail.foldLeft(
        when(col(sourceCol) === sorted.head._1,
          lit((sorted.head._2 * 4294967296.0).toLong))) {
        case (acc, (s, r)) =>
          acc.when(col(sourceCol) === s, lit((r * 4294967296.0).toLong))
      }.otherwise(lit((defaultRate * 4294967296.0).toLong))
    df.filter(idHash(col(idCol)) < threshold)
  }

  /** Temperature-scaled mixture rates: per-source keep probabilities
    * that reshape source mass from observed `n_i` toward `n_i^alpha`
    * (the standard multi-domain/multilingual rebalancing — alpha = 1
    * keeps the natural mix, alpha = 0 equalizes sources; pretraining
    * recipes typically use 0.3–0.7). rate_i = (n_min / n_i)^(1-alpha),
    * so the smallest source keeps 100% and every other source is
    * downsampled toward it — a pure-subsampling recipe (no epochs > 1;
    * compose with [[upsampleByEpochs]] to upweight instead of drop).
    *
    * One partial-aggregated count per source + a driver collect bounded
    * by source cardinality (a mixture recipe is small by contract —
    * same bound as the centroid-set collects in
    * [[graft.operators.Similarity]]); the returned map feeds
    * [[mixtureByHash]]'s narrow codegen'd filter, so applying the
    * mixture still touches each row exactly once with no shuffle.
    *
    * alpha = 0.5 computes via `sqrt`, which IEEE 754 requires to be
    * correctly rounded — so the rate (and the hash threshold derived
    * from it) is bit-identical in any compliant engine, and a DuckDB
    * oracle can recompute it exactly. Other exponents go through
    * `math.pow` (platform-dependent in the last ulp; fine for real
    * recipes, not for bit-exact oracles).
    */
  def temperatureRates(df: DataFrame, sourceCol: String,
      alpha: Double): Map[String, Double] = {
    require(alpha >= 0 && alpha <= 1, s"alpha must be in [0,1]: $alpha")
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty, "empty corpus")
    val nMin = counts.values.min
    val e = 1.0 - alpha
    counts.map { case (s, n) =>
      val ratio = nMin.toDouble / n.toDouble
      s -> (if (e == 0.5) math.sqrt(ratio) else math.pow(ratio, e))
    }
  }

  /** [[temperatureRates]] + [[mixtureByHash]] in one call: deterministic
    * temperature-balanced subsample of a multi-source corpus.
    */
  def temperatureMixture(df: DataFrame, idCol: String, sourceCol: String,
      alpha: Double): DataFrame =
    mixtureByHash(df, idCol, sourceCol, temperatureRates(df, sourceCol, alpha))

  /** Sequence-packing layout: order docs by the portable id-hash within
    * each stratum, run an EXCLUSIVE running weight total, and cut packs
    * at `cap`: (pack_id, pack_offset) per doc — deterministic under any
    * partitioning. One keyed window; the giant-stratum caveat applies
    * WITH FORCE here — a running aggregate gets no WindowGroupLimit
    * pushdown, so every row of the stratum flows through one task's
    * sort. Measured on a 4.6M-row stratum of 5M docs (SkewGen,
    * round-10 BASELINE.md): 11.7–16.3 s wall with an 11.4–12.9 s max
    * task here vs 1.7–4.0 s / 1.0–1.7 s max task for
    * [[packLayoutSalted]] — 7× wall-clock, 11× slowest-task. Use the
    * salted form past one partition's worth of stratum.
    */
  def packLayout(df: DataFrame, stratumCol: String, idCol: String,
      weightCol: String, cap: Long): DataFrame = {
    require(cap > 0, s"cap must be positive: $cap")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(idHash(col(idCol)), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("cum_before", coalesce(sum(col(weightCol)).over(w), lit(0L)))
      // exact integer floor-div (cum_before >= 0, so `div` floors):
      // floor(x / cap) promotes to DOUBLE and mis-bins past 2^53 —
      // e.g. cum_before = 2^60-1 lands in pack 2251799813685248 instead
      // of ...247 (spec-pinned). Real risk at the 100 TB design point:
      // a stratum's running token total exceeds 2^53 at ~9 PB-tokens.
      .withColumn("pack_id", expr(s"cum_before div ${cap}L"))
      .withColumn("pack_offset", pmod(col("cum_before"), lit(cap)))
      .drop("cum_before")
  }

  /** [[packLayout]] as a DISTRIBUTED prefix scan — the classic
    * two-phase form every runtime uses for scan at scale: bucket the
    * hash order into `buckets` contiguous ranges (order-preserving, so
    * the global ordering is untouched), run the running total within
    * (stratum, bucket) — the giant stratum's sort now splits `buckets`
    * ways — then lift each bucket by the exclusive cumulative total of
    * its predecessors (a window over ≤ `buckets` rows per stratum) via
    * an equi-join on (stratum, bucket). Byte-identical output to
    * [[packLayout]] (spec-pinned; the catalog query shares the oracle).
    *
    * The offsets side is `strata × buckets` rows. It is deliberately
    * NOT a static `broadcast()`: for the typical few-strata corpus AQE
    * broadcasts it at runtime (PlanAuditSpec pins that), while a
    * high-cardinality-strata call (where salting is unnecessary but
    * harmless) isn't forced into an oversized broadcast.
    */
  def packLayoutSalted(df: DataFrame, stratumCol: String, idCol: String,
      weightCol: String, cap: Long, buckets: Int = 32): DataFrame = {
    require(cap > 0, s"cap must be positive: $cap")
    require(buckets > 0 && 4294967296L % buckets == 0,
      s"buckets must divide 2^32: $buckets")
    val width = 4294967296L / buckets
    // h is non-negative, so `div` floors; bucket is monotone in h and
    // ties share a bucket — global (h, id) order is preserved
    val base = df.withColumn("__h", idHash(col(idCol)))
      .withColumn("__bk", expr(s"__h div ${width}L"))
    val w1 = Window.partitionBy(col(stratumCol), col("__bk"))
      .orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val inBucket = base.withColumn("__cin",
      coalesce(sum(col(weightCol)).over(w1), lit(0L)))
    val w2 = Window.partitionBy(col(stratumCol)).orderBy(col("__bk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col(stratumCol), col("__bk"))
      .agg(sum(col(weightCol)).as("__bt"))
      .withColumn("__off", coalesce(sum(col("__bt")).over(w2), lit(0L)))
      .select(col(stratumCol), col("__bk"), col("__off"))
    inBucket.join(offsets, Seq(stratumCol, "__bk"))
      .withColumn("cum_before", col("__cin") + col("__off"))
      // exact integer floor-div, same as [[packLayout]] (cum_before >= 0)
      .withColumn("pack_id", expr(s"cum_before div ${cap}L"))
      .withColumn("pack_offset", pmod(col("cum_before"), lit(cap)))
      .drop("cum_before", "__h", "__bk", "__cin", "__off")
  }

  /** Per-pack manifest — the consumable form of [[packLayout]]: one row
    * per (stratum, pack) with the ORDERED doc ids the pack concatenates
    * (offset order), plus doc/token totals. The id list is emitted as a
    * comma-joined string: engine-portable (a DuckDB `string_agg`
    * mirrors it exactly) and directly usable as a dataloader manifest.
    * One keyed aggregate over the layout; per-pack state is bounded by
    * `cap` (a pack holds at most `cap` unit-weight docs), so the
    * collect_list can't blow a partition regardless of corpus size.
    */
  def packManifest(layout: DataFrame, stratumCol: String, idCol: String,
      weightCol: String): DataFrame =
    layout.groupBy(col(stratumCol), col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(weightCol)).as("n_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pack_offset"), col(idCol)))),
            x => x.getField(idCol).cast("string")),
          ",").as("doc_ids"))

  /** Epoch-based upsampling — the other half of a mixture recipe
    * ("3.4 epochs of source A"): every row is replicated floor(e) times
    * and one extra time for a deterministic hash-selected `e − floor(e)`
    * fraction of rows, so the EXPECTED multiplicity is exactly `e` and
    * the realized copy set is reproducible and nested in `e`. The
    * fractional decision hashes `id + 1` so it is independent of the
    * (same-hash) downsampling filter a recipe typically composes with.
    * Narrow generate — rows replicate in place, no shuffle. Output
    * carries an `epoch` column (1-based copy index).
    */
  def upsampleByEpochs(df: DataFrame, idCol: String, sourceCol: String,
      epochs: Map[String, Double], defaultEpochs: Double = 1.0,
      epochOut: String = "epoch"): DataFrame = {
    require((epochs.values.toSeq :+ defaultEpochs).forall(_ >= 0),
      s"epoch counts must be >= 0: $epochs default=$defaultEpochs")
    require(epochs.nonEmpty, "empty epoch map")
    val sorted = epochs.toSeq.sortBy(_._1)
    def copiesFor(e: Double): Column = {
      val full = math.floor(e).toLong
      val fracThresh = ((e - full) * 4294967296.0).toLong
      // reduce before the +1 so the salt can't overflow at Long.MaxValue
      // (mod 2^62-1 keeps the salted value inside idHash's full-mixing
      // domain [0, 2^62) — only ids 2^62-1 apart share a salt)
      (lit(full) + when(idHash(pmod(col(idCol), lit(4611686018427387903L)) + 1) <
          lit(fracThresh), 1L)
        .otherwise(0L)).cast("int")
    }
    val copies = sorted.tail.foldLeft(
        when(col(sourceCol) === sorted.head._1, copiesFor(sorted.head._2))) {
        case (acc, (s, e)) => acc.when(col(sourceCol) === s, copiesFor(e))
      }.otherwise(copiesFor(defaultEpochs))
    df.withColumn("__nc", copies)
      .filter(col("__nc") >= 1)
      .select(df.columns.map(col) :+
        explode(sequence(lit(1), col("__nc"))).as(epochOut): _*)
  }

  /** Deterministic token-budget sample: the maximal hash-order prefix
    * of each stratum whose running weight stays within `budget` — "give
    * me 10B tokens of each language, reproducibly". A row survives iff
    * its exclusive running total plus its own weight fits, so the
    * selection is exactly the greedy prefix a sequential sampler would
    * take, at any partitioning. Composes [[packLayoutSalted]]'s
    * distributed prefix scan (the budget is NOT a pack cap — a doc
    * never splits), so a giant stratum's scan splits `buckets` ways.
    * Output: the surviving rows + `cum_before` (tokens consumed before
    * each, for auditability).
    */
  def tokenBudgetSample(df: DataFrame, stratumCol: String, idCol: String,
      weightCol: String, budget: Long, buckets: Int = 32): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    // cap = budget only to reuse the scan; the filter below is on the
    // running total itself, so cap never bins anything
    packLayoutSalted(df, stratumCol, idCol, weightCol, cap = budget, buckets)
      .withColumn("cum_before",
        col("pack_id") * budget + col("pack_offset"))
      .filter(col("cum_before") + col(weightCol) <= budget)
      .drop("pack_id", "pack_offset")
  }

  /** Deterministic dataloader shard layout — the last hop of a
    * training-data pipeline: every row gets a `shard` in
    * [0, numShards) (id-hash mod, so each shard is a uniform
    * pseudo-random subset and membership is repartition/growth-stable
    * within a hash version) and a dense 0-based `pos` within its shard
    * in portable hash order — exactly the (shard, position) contract a
    * distributed dataloader consumes. Implemented as the unit-weight
    * case of [[packLayoutSalted]] (cap = 1 makes the exclusive running
    * count the position), so the giant-shard prefix scan splits
    * `buckets` ways instead of serializing — sharding 100 TB into 64
    * shards is 64 × ~1.6 TB windows otherwise.
    */
  def shardLayout(df: DataFrame, idCol: String, numShards: Int,
      buckets: Int = 32): DataFrame = {
    require(numShards > 0, s"numShards must be positive: $numShards")
    val withShard = df.withColumn("shard",
      pmod(idHash(col(idCol)), lit(numShards.toLong)).cast("int"))
    packLayoutSalted(withShard.withColumn("__one", lit(1L)),
        stratumCol = "shard", idCol = idCol, weightCol = "__one",
        cap = 1, buckets = buckets)
      .withColumnRenamed("pack_id", "pos")
      .drop("pack_offset", "__one")
  }

  /** Deterministic negative sampling for contrastive training: each row
    * gets `k` pseudo-random negatives drawn from the corpus itself —
    * reproducible across runs/partitionings (no RNG), self-exclusive by
    * construction. Shape: (1) a dense 0-based index in portable hash
    * order via the distributed prefix scan ([[shardLayout]] with one
    * shard — the giant "stratum" still splits `buckets` ways); (2)
    * negative index j = (pos + 1 + (idHash(pos·k + j) mod (N−1))) mod N,
    * which can never equal pos; (3) one equi-join maps indexes back to
    * ids. N rides a broadcast scalar. Corpora with < 2 rows yield no
    * negatives. Output: (idCol, neg_rank 0..k−1, neg_id).
    */
  def negativeSamples(df: DataFrame, idCol: String, k: Int,
      buckets: Int = 32): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val idx = shardLayout(df.select(col(idCol)), idCol, numShards = 1, buckets)
      .select(col(idCol), col("pos"))
    val n = idx.agg(count(lit(1)).as("__n"))
    val negs = idx.crossJoin(broadcast(n))
      .filter(col("__n") > 1)
      .select(col(idCol), col("pos"), col("__n"),
        explode(sequence(lit(0), lit(k - 1))).as("neg_rank"))
      .withColumn("__negpos",
        pmod(col("pos") + 1 +
          pmod(idHash(col("pos") * k + col("neg_rank")), col("__n") - 1),
          col("__n")))
    negs.join(idx.select(col(idCol).as("neg_id"), col("pos").as("__negpos")),
        Seq("__negpos"))
      .select(col(idCol), col("neg_rank").cast("int").as("neg_rank"), col("neg_id"))
  }

  /** Curriculum bucketing: per-stratum quantile buckets (NTILE) over an
    * ordering signal (length, quality score, perplexity) — the
    * easy-to-hard schedule assignment. One keyed window; salt via
    * [[stratifiedByHashSalted]]'s two-phase pattern if a stratum
    * dominates.
    */
  def curriculumBuckets(df: DataFrame, stratumCol: String, orderCol: String,
      idCol: String, n: Int, bucketOut: String = "bucket"): DataFrame = {
    require(n > 0, s"n must be positive: $n")
    val w = Window.partitionBy(col(stratumCol)).orderBy(col(orderCol), col(idCol))
    df.withColumn(bucketOut, ntile(n).over(w))
  }

  /** The giant-stratum-safe form of [[stratifiedByHash]]: identical
    * output, two phases. Phase 1 ranks within (stratum, salt) — the salt
    * is a deterministic function of the id hash, so a stratum's sort is
    * split across `salts` window partitions instead of serializing
    * through one — and keeps each salt's top n. Any row in the stratum's
    * true top n is also in its own salt's top n, so the ≤ n·salts
    * survivors are a superset of the answer; phase 2 re-ranks that tiny
    * set per stratum with the same ordering. This is the standard salted
    * two-phase top-n; the same pattern un-skews any keyed window with a
    * dominant key (e.g. an [[AsofJoin]] build side concentrated on one
    * key — rank phase-1 on (key, salt(time)) there).
    */
  def stratifiedByHashSalted(df: DataFrame, stratumCol: String, idCol: String,
      n: Int, salts: Int = 16, rankOut: String = "rk"): DataFrame = {
    require(n > 0, s"n must be positive: $n")
    require(salts > 0, s"salts must be positive: $salts")
    val h = idHash(col(idCol))
    val w1 = Window.partitionBy(col(stratumCol), pmod(h, lit(salts.toLong)))
      .orderBy(h, col(idCol))
    val survivors = df.withColumn("__srk", row_number().over(w1))
      .filter(col("__srk") <= n).drop("__srk")
    val w2 = Window.partitionBy(col(stratumCol)).orderBy(h, col(idCol))
    survivors.withColumn(rankOut, row_number().over(w2)).filter(col(rankOut) <= n)
  }

  /** Leakage-safe train/val/test assignment: the split is decided per
    * near-dup GROUP, not per document, so two near-duplicates can never
    * land on opposite sides of a train/eval boundary (per-doc hash
    * splits leak: a doc and its 0.9-Jaccard twin are independent coin
    * flips, and at web-corpus dup rates thousands of eval docs get a
    * training-set twin — the contamination dedup + decontamination
    * exist to prevent, reintroduced by the splitter itself).
    *
    * `pairs` is any near-dup pair relation (Jaccard / MinHash-LSH /
    * SimHash / embedding); connected components close it into groups
    * ([[Dedup.connectedComponentsStar]] by default — near-dup CHAINS,
    * exactly what template boilerplate produces, are where min-label
    * propagation is measured 13× slower; `ccMinLabel = true` opts back
    * in for clique-shaped pair sets), every doc inherits its
    * component's min id as `group_id` (docs in no pair group alone),
    * and the split is the usual [[idHash]] range carve-up of
    * `group_id` — so on a pair-free corpus the assignment degrades to
    * exactly the per-doc hash split.
    *
    * `idCol` must be an integral column (the group id space is the CC
    * label space, i.e. long doc ids): a string-id corpus would cast to
    * null and silently route every unpaired doc to `defaultSplit`, so
    * non-integral ids are rejected up front. `docs` must not already
    * carry a `group_id`/`split` column — the output would otherwise
    * hold duplicate names that fail only on first downstream reference.
    *
    * Scale shape: the component labeling is bounded by the docs that
    * appear in some pair (|dup candidates|, not |corpus|), so the one
    * join is small-side broadcast-able; the hash carve-up is narrow.
    * Skew-probed on the chain corpus (BASELINE.md rounds 11–12, `split`:
    * 510k docs, a 10k-doc near-dup CHAIN as the pair graph): 0.4–0.5 s
    * wall end-to-end, and the chain collapses into ONE group_id that
    * routes ALL 10k members to a single split (measured train/val/test
    * = 409,906/49,777/50,317 — the 10k chain rode train whole). That
    * all-or-nothing routing is the leakage guarantee working as
    * designed; the group-size distribution a user should expect is
    * 1-doc groups for everything unpaired plus rare giant groups the
    * size of the largest boilerplate family, so split fractions are
    * honored only to ±(largest group)/N.
    *
    * @param splits (name, fraction) in carve order; the remainder gets
    *               `defaultSplit`. Fractions are of the 2^32 hash space.
    * @return docs plus (group_id, split)
    */
  def splitByGroup(docs: DataFrame, pairs: DataFrame, idCol: String,
      splits: Seq[(String, Double)], defaultSplit: String = "test",
      aCol: String = "id_a", bCol: String = "id_b",
      ccMinLabel: Boolean = false): DataFrame = {
    require(splits.map(_._2).sum <= 1.0 + 1e-9, "split fractions exceed 1")
    locally {
      import org.apache.spark.sql.types._
      val dt = docs.schema(idCol).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"splitByGroup needs an integral id column; '$idCol' is $dt — " +
          "a non-integral id casts to null and would silently send every " +
          s"unpaired doc to the '$defaultSplit' split")
      val taken = docs.columns.toSet.intersect(Set("group_id", "split"))
      require(taken.isEmpty,
        s"docs already has column(s) ${taken.mkString(", ")}; " +
          "splitByGroup appends group_id and split")
    }
    val cc =
      if (ccMinLabel)
        Dedup.connectedComponents(pairs, aCol, bCol,
          idOut = "__gid", compOut = "__gcomp")
      else
        Dedup.connectedComponentsStar(pairs, aCol, bCol,
          idOut = "__gid", compOut = "__gcomp")
    val gid = coalesce(col("__gcomp"), col(idCol).cast("long"))
    val h = idHash(gid)
    val thresholds = splits.scanLeft(0.0)(_ + _._2).tail
      .map(c => (c * 4294967296.0).toLong)
    val split = splits.map(_._1).zip(thresholds)
      .foldRight(lit(defaultSplit): Column) {
        case ((name, thr), els) => when(h < lit(thr), name).otherwise(els)
      }
    docs.join(cc, docs(idCol) === col("__gid"), "left")
      .select(docs.columns.map(col) :+ gid.as("group_id") :+ split.as("split"): _*)
  }

  /** The Efraimidis–Spirakis A-ES key for weighted sampling WITHOUT
    * replacement: `-ln(u) / w` with `u = (idHash(id)+1) / 2^32` ∈
    * (0, 1] — the k rows with the SMALLEST keys are a weighted sample
    * without replacement where heavier rows win proportionally more
    * often (Efraimidis & Spirakis 2006: u^(1/w) order statistics; the
    * -ln form is the same order, numerically tamer). Deterministic:
    * u comes from the portable [[idHash]], not an RNG, so the sample
    * is a pure function of (id, weight) — repartition-stable and
    * reproducible in the DuckDB oracle, which evaluates the identical
    * `-ln((hash+1)/2^32)/w` expression. (ln is the one non-integer
    * step in the sampling family; IEEE-double ln agrees across
    * engines to ≥15 significant digits, and selection/rank only flips
    * if two DISTINCT keys collide within 1 ulp — with continuous keys
    * that is a measure-zero boundary, and exact key TIES break by id.)
    */
  def aesKey(id: Column, weight: Column): Column =
    -log((idHash(id) + lit(1L)).cast("double") / lit(4294967296.0)) /
      weight.cast("double")

  /** Weighted sample without replacement: the `k` rows with the
    * smallest A-ES keys ([[aesKey]]), ranked 1..k. Rows with
    * non-positive or null weight are excluded (A-ES is defined for
    * w > 0; a null weight would otherwise sort first under NULLS
    * FIRST and poison the sample).
    *
    * Scale shape: `orderBy(key).limit(k)` compiles to
    * TakeOrderedAndProject — every partition keeps its own top k in a
    * bounded heap (no sort of the full corpus, no shuffle of anything
    * but P·k candidate rows), the driver merges O(P·k). At 100 TB the
    * cost is one scan plus a k-row heap per task; the rank column is
    * assigned on the k-row survivor set.
    */
  def weightedByHash(df: DataFrame, idCol: String, weightCol: String,
      k: Int, rankOut: String = "rk"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val key = aesKey(col(idCol), col(weightCol))
    val survivors = df
      .filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__aes", key)
      .orderBy(col("__aes"), col(idCol))
      .limit(k)
    val w = Window.orderBy(col("__aes"), col(idCol))
    survivors.withColumn(rankOut, row_number().over(w).cast("int"))
      .drop("__aes")
  }

  /** Per-stratum weighted sample without replacement: `n` rows per
    * stratum by smallest A-ES key — [[stratifiedByHash]] generalized
    * from uniform to weight-proportional inclusion. Same rank-limit
    * window shape, so Catalyst's WindowGroupLimit pushdown pre-prunes
    * each map partition to its own per-stratum top n BEFORE the
    * stratum shuffle (the giant-stratum-immune property measured on
    * [[stratifiedByHash]] carries over: the pushdown matches the
    * `row_number() <= n` filter regardless of the ordering
    * expression).
    */
  def weightedStratifiedByHash(df: DataFrame, stratumCol: String,
      idCol: String, weightCol: String, n: Int,
      rankOut: String = "rk"): DataFrame = {
    require(n > 0, s"n must be positive: $n")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(aesKey(col(idCol), col(weightCol)), col(idCol))
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn(rankOut, row_number().over(w).cast("int"))
      .filter(col(rankOut) <= n)
  }

  /** Fill-in-the-middle transform (Bavarian et al. 2022) — the code-
    * corpus preprocessing that teaches a causal LM to infill: for a
    * deterministic `rate` fraction of documents, pick two hash-derived
    * cut points, and re-emit the document in PSM order
    * (prefix-token + prefix + suffix-token + SUFFIX + middle-token +
    * MIDDLE). Everything is the portable id-hash — document selection
    * AND both cut points — so the transform is reproducible across
    * runs/partitionings and relationally replayable by the oracle
    * (same hashSql mirror as every sampler). Untouched docs pass
    * through with `fim_applied = false`.
    *
    * Scale shape: a pure per-row projection (three substrings + two
    * hash evaluations), narrow, scan-fused, no shuffle.
    */
  def fimTransform(docs: DataFrame, idCol: String, textCol: String,
      rate: Double = 0.5,
      prefixTok: String = "<|fim_prefix|>",
      suffixTok: String = "<|fim_suffix|>",
      middleTok: String = "<|fim_middle|>"): DataFrame = {
    require(rate >= 0 && rate <= 1, s"rate must be in [0,1]: $rate")
    val id = col(idCol)
    val n = length(col(textCol))
    val a = pmod(idHash(id * 2 + 1), n + 1)
    val b = pmod(idHash(id * 3 + 2), n + 1)
    val p1 = least(a, b)
    val p2 = greatest(a, b)
    val sel = idHash(id) < lit((rate * 4294967296.0).toLong)
    val fim = concat(
      lit(prefixTok), col(textCol).substr(lit(1), p1),
      lit(suffixTok), col(textCol).substr(p2 + 1, n - p2),
      lit(middleTok), col(textCol).substr(p1 + 1, p2 - p1))
    docs.withColumn("fim_applied", sel)
      .withColumn(textCol, when(sel, fim).otherwise(col(textCol)))
  }

  /** DOMAIN-MIXTURE REWEIGHTING — the DoReMi/Group-DRO shape (Xie et
    * al. 2023, "DoReMi: Optimizing Data Mixtures Speeds Up Language
    * Model Pretraining") as an integer-exact relational replay: each
    * round, domains whose mean loss EXCEEDS a reference gain mixture
    * weight multiplicatively, then weights renormalize — the
    * multiplicative-weights/Hedge update with `exp(η·excess)`
    * linearized to `1 + η·excess` (the Freund–Schapire (1+η)^loss
    * approximation), which keeps every step a Long expression both
    * engines floor identically (the pageRankInt discipline: scaled
    * longs, `div` everywhere, no float in the state).
    *
    * Fixed-point layout: `excess_q = (max(0, Σloss − n·ref) · scale)
    * div (n · ref)` — the domain's RELATIVE mean excess loss in
    * `scale` units (clamped at 0: only worse-than-reference domains
    * gain, the DRO max). Per round:
    * `u = w + ((w · excess_q) div scale · etaNum) div scale`, then
    * `w' = (u · 10^9) div Σu` — weights always renormalize to ≤ 1e9
    * total, so `rounds` iterations never grow magnitudes. Overflow
    * headroom (corrected r17 — the original claim was 4 orders
    * optimistic): after renormalization a DOMINANT domain holds
    * w ≈ 1e9, so u ≈ w·(1 + excess_q·etaNum/scale²) and the
    * renormalization's `u·10^9` crosses Long.Max once
    * excess_q·etaNum/scale² exceeds ~8 — mean loss only ~40–50×
    * refLoss at the defaults, realistic with n_chars losses and few
    * domains, and the wrap surfaced as a SILENT negative weight that
    * [[domainReweightMixture]] floored into dropping the domain's
    * docs. The operator therefore CLAMPS
    * `excess_q ≤ min(8·scale²/etaNum, 9e9)`, the largest value for
    * which every intermediate provably fits for w ≤ 1e9 — the Hedge
    * update saturates (a ≥40×-reference domain already takes the max
    * multiplicative bump each round; DRO ordering among saturated
    * domains is preserved by n_docs/renormalization, not lost) instead
    * of corrupting the state. The input side is guarded too (r18):
    * Σloss aggregates in Decimal(38,0) — exact to 10³⁸, matching the
    * oracle engine's int128 sum — and the pre-clamp
    * `(Σloss − n·ref)·scale` product stays decimal until AFTER the
    * `div`, so a domain whose excess once wrapped the old Long
    * arithmetic (Σexcess·scale > 2⁶³) now lands exactly on the capQ
    * saturation arm: an over-Long quotient is by definition ≥ capQ,
    * so `least` returns capQ whether the quotient evaluated exactly
    * (decimal headroom) or overflowed Long semantics upstream of the
    * clamp (ANSI errors loudly; non-ANSI nulls, which `least` skips —
    * both resolve to the same capped value, spec-pinned). No silent
    * negative-weight path remains. The domain relation is tiny
    * (thousands at web scale), so the unrolled `rounds`-deep lineage
    * is the cheap part; the corpus is touched ONCE by the initial
    * aggregate. Feed the output weights to [[weightedByHash]] /
    * [[mixtureByHash]] to materialize the tuned mixture. Output:
    * (domain, n_docs, excess_q, weight), Σweight ≤ 10^9 with < 1 unit
    * floor loss per domain per round.
    */
  def domainReweightInt(docs: DataFrame, domainCol: String,
      lossCol: String, refLoss: Long, rounds: Int = 3,
      etaNum: Long = 200000L, scale: Long = 1000000L): DataFrame = {
    require(refLoss > 0, "refLoss > 0")
    require(rounds >= 1 && rounds <= 64, "rounds in [1, 64]")
    require(scale >= 1000 && scale <= 1000000000L,
      s"scale in [1e3, 1e9]: $scale")
    require(etaNum >= 1 && etaNum <= scale,
      s"etaNum in [1, scale]: $etaNum")
    // largest excess_q for which u·1e9 provably fits in a Long at
    // w ≤ 1e9 (see scaladoc headroom math); 8·scale² ≤ 8e18 < Long.Max
    // under the scale require, and the 9e9 arm bounds w·excess_q
    val capQ = math.min(8L * scale * scale / etaNum, 9000000000L)
    val T = 1000000000L
    // Σloss in Decimal(38,0): exact where the old sum(CAST(long))
    // wrapped silently, and the (Σloss − n·ref)·scale product stays
    // decimal through the div — see the scaladoc saturation argument
    val e = docs.groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(lossCol).cast(types.DecimalType(38, 0))).as("__sl"))
      .withColumn("excess_q", expr(
        s"least((greatest(CAST(0 AS DECIMAL(38,0)), __sl - " +
          s"CAST(n_docs AS DECIMAL(38,0)) * $refLoss)" +
          s" * $scale) div (CAST(n_docs AS DECIMAL(38,0)) * $refLoss), " +
          s"CAST($capQ AS BIGINT))"))
      .select(col("domain"), col("n_docs"), col("excess_q"))
    var rel = e.withColumn("w", lit(scale))
    for (_ <- 1 to rounds) {
      val u = rel.withColumn("u", col("w") + expr(
        s"((w * excess_q) div $scale * $etaNum) div $scale"))
      val tot = u.agg(sum(col("u")).as("__tot"))
      rel = u.crossJoin(broadcast(tot))
        .withColumn("w", expr(s"(u * $T) div __tot"))
        .select(col("domain"), col("n_docs"), col("excess_q"), col("w"))
    }
    rel.withColumnRenamed("w", "weight")
  }

  /** The [[domainReweightInt]] weights APPLIED — the tuned mixture
    * materialized end-to-end: per-domain keep thresholds
    * `⌊(w_d / w_max) · 2³²⌋` (the highest-weight domain keeps
    * everything; others downsample proportionally — the
    * [[temperatureMixture]] float idiom: one correctly-rounded
    * division of exact integers times an exact power of two, so both
    * engines land the same threshold), then the [[mixtureByHash]]
    * deterministic hash filter. The weight relation is domain-sized
    * and BROADCASTS — the corpus never shuffles, each row is touched
    * once by a codegen'd filter.
    */
  def domainReweightMixture(docs: DataFrame, domainCol: String,
      idCol: String, lossCol: String, refLoss: Long, rounds: Int = 3,
      etaNum: Long = 200000L, scale: Long = 1000000L): DataFrame = {
    val w = domainReweightInt(docs, domainCol, lossCol, refLoss,
      rounds, etaNum, scale)
    val wmax = w.agg(max(col("weight")).as("__wmax"))
    val thr = w.crossJoin(broadcast(wmax))
      .withColumn("__thr", floor(col("weight").cast("double") /
        col("__wmax").cast("double") * lit(4294967296.0)).cast("long"))
      .select(col("domain").as(domainCol), col("__thr"))
    docs.join(broadcast(thr), Seq(domainCol))
      .filter(idHash(col(idCol)) < col("__thr"))
      .drop("__thr")
  }
}
