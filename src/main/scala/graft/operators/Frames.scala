package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.util.Actions

/** Frame-level operators (SURVEY.md §2.6-2.8, §2.2).
  *
  * All operators stay declarative (DataFrame plans) so Catalyst
  * prunes/pushes through them; nothing here collects to the driver
  * except the explicitly-eager guardrail ops that the reference also
  * materializes for (limit-with-warning, RDF sink).
  */
object Frames {

  /** Global window over a frame that is PROVABLY TINY (an already-
    * aggregated histogram, a per-bucket totals table, a topK slice —
    * never a corpus). A bare `Window.orderBy` is semantically right
    * here but trips WindowExec's "No Partition Defined" warning on
    * every run, burying real regressions in bench-log noise; keying
    * the partition on a constant clusters the same single bounded
    * partition without the alarm, and centralizes the boundedness
    * contract: call sites MUST only pass frames whose cardinality is
    * fixed by construction (score cardinality, bucket count, topV,
    * day span — never row count).
    *
    * The key must be NON-FOLDABLE: the r15 `lit(0)` was constant-
    * folded away, leaving partitionSpec empty — plan unchanged,
    * warning still firing. `pmod(xxhash64(keyCol), 1)` is 0 on every
    * row (so still ONE bounded partition, identical window results)
    * but depends on a column, so it survives the optimizer and
    * WindowExec sees a real partition key. `keyCol` is any plain
    * column of the frame (callers pass it explicitly because order
    * columns may carry SortOrder markers, which cannot be hashed).
    */
  def tinyWindow(keyCol: Column,
                 orderCols: Column*): org.apache.spark.sql.expressions.WindowSpec = {
    require(orderCols.nonEmpty, "tinyWindow needs at least one order column" +
      " (use tinyWindowTotal for unordered whole-frame totals)")
    Window.partitionBy(pmod(xxhash64(keyCol), lit(1L))).orderBy(orderCols: _*)
  }

  /** Unordered [[tinyWindow]] — a whole-frame total over a provably
    * tiny frame. Takes any column of the frame to derive the same
    * non-foldable constant partition key (value irrelevant: every row
    * keys to 0, one bounded partition).
    */
  def tinyWindowTotal(keyCol: Column): org.apache.spark.sql.expressions.WindowSpec =
    Window.partitionBy(pmod(xxhash64(keyCol), lit(1L)))

  /** Bulk-rename all columns with a prefix (Polars
    * `pl.all().name.prefix(...)`, wd_opencritic.py:96,138,180).
    */
  def prefixColumns(df: DataFrame, prefix: String): DataFrame =
    df.select(df.columns.map(c => col(c).as(prefix + c)).toSeq: _*)

  /** Name-aligned vertical concat (Polars `pl.concat`,
    * wd_tmdb.py:235-237,395-404). unionByName, not positional union.
    */
  def concatFrames(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_ unionByName _)

  /** Keep the first row per key under an explicit ordering (Polars
    * `unique(subset, maintain_order=True)`, wd_tmdb.py:231,317).
    * Polars' "input order" is made explicit via `order` columns —
    * at cluster scale input order is not stable, so the caller names
    * the tiebreak; `order` is ASCENDING lexicographic and should be
    * total within a key group for determinism.
    *
    * min_by(payload, struct(order)) aggregation rather than a
    * row_number window: hash-aggregate with map-side partials (each
    * task keeps one row per key before the shuffle) instead of
    * shuffling every row and sorting whole key partitions.
    */
  def uniqueFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    if (payload.isEmpty) df.distinct()
    else df.groupBy(keys.map(col): _*)
      .agg(min_by(struct(payload.map(col).toSeq: _*), struct(order: _*)).as("__m"))
      .select(df.columns.map(c =>
        if (keys.contains(c)) col(c) else col("__m").getField(c).as(c)).toSeq: _*)
  }

  /** Window formulation of [[uniqueFirst]] — reference semantics the
    * aggregate path is tested against; also accepts non-ascending
    * sort Columns.
    */
  def uniqueFirstWindow(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Drop EVERY row whose key appears more than once (Polars
    * `unique(key, keep="none")`, wd_opencritic.py:86).
    */
  def uniqueKeepNone(df: DataFrame, keys: Seq[String]): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    if (payload.isEmpty)
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
        .filter(col("__n") === 1).drop("__n")
    else
      // single hash-aggregate with map-side partials, not a window
      // count (which shuffles every row then sorts key partitions);
      // first() is deterministic here because surviving groups have
      // exactly one row
      df.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__n"),
          first(struct(payload.map(col).toSeq: _*)).as("__m"))
        .filter(col("__n") === 1)
        .select(df.columns.map(c =>
          if (keys.contains(c)) col(c) else col("__m").getField(c).as(c)).toSeq: _*)
  }

  /** Exact-n pseudo-random sample, seeded (Polars `sample(n, seed)`,
    * polars_utils.py:59-76). Deterministic given the seed: orders by
    * a seeded hash of the whole row, not `rand()` (which is
    * per-partition-indexed and so changes with partitioning).
    */
  def sampleExact(df: DataFrame, n: Int, seed: Long): DataFrame = {
    val key = xxhash64(lit(seed) +: df.columns.map(col).toSeq: _*)
    df.orderBy(key).limit(n)
  }

  /** Deterministic stratified sample: per-stratum keep fractions via
    * a multiplicative hash of a (unique) integer id column — the same
    * rows survive under any partitioning or engine, so the sample is
    * reproducible AND oracle-checkable (unlike rand()/sampleBy, which
    * depend on partition indexes). Pure map-side filter: no shuffle,
    * pushes down to the scan. Fractions are basis points of 1e4;
    * strata absent from the map keep `defaultFraction`.
    */
  /** Basis-point bucket from an id: two multiplicative rounds mod a
    * prime — one round leaves sequential ids stride-patterned (the
    * first product stays below the modulus for small ids), two rounds
    * mix to near-uniform. Portable to any SQL engine; products stay
    * < 2^62 under ANSI.
    */
  private[operators] def hashBucket(id: Column): Column =
    pmod(pmod(pmod(id.cast("long"), lit(1000000007L)) * lit(1000003L), lit(1000000007L))
      * lit(999983L), lit(1000000007L)) % 10000L

  /** Seeded portable hash, full [0, P) range: pure integer
    * arithmetic (products < 2^62), so any ANSI SQL engine replays it
    * bit-for-bit — the property that lets seeded samples be
    * oracle-checked instead of trusted. Mixing uses two QUADRATIC
    * rounds (squarings mod P): an affine map in id is
    * lattice-structured by the three-distance theorem — its "sample"
    * is near-evenly spaced over contiguous ids and its uniform
    * correlates linearly with id (the same structural weakness that
    * collapsed the affine Rademacher planes — see RademacherBuckets).
    */
  private[graft] val HashP = 1000000007L
  def portableHash(id: Column, seed: Long): Column =
    portableHash(id, lit(seed))

  /** Column-seed overload: the same mixer with the seed supplied per
    * row — what lets ONE pass hash under many seeds (e.g. the grouped
    * IVF cell split, where each oversized cell trains under seed+cell
    * but all cells share one job). portableHash(id, s) ==
    * portableHash(id, lit(s)) by construction.
    */
  def portableHash(id: Column, seed: Column): Column = {
    val h1 = pmod(id.cast("long") + seed.cast("long"), lit(HashP))
    val h2 = pmod(pmod(h1 * h1, lit(HashP)) * lit(1000003L) + lit(54321L), lit(HashP))
    pmod(h2 * h2, lit(HashP))
  }

  /** Exact-n seeded sample ordered by a portable hash of a unique id
    * column — same contract as [[sampleExact]] but reproducible in
    * any SQL engine (xxhash64 is Spark-only). The id tie-break makes
    * the cut deterministic even under hash collisions.
    */
  def sampleExactPortable(df: DataFrame, n: Int, seed: Long, idCol: String): DataFrame =
    df.orderBy(portableHash(col(idCol), seed), col(idCol)).limit(n)

  def stratifiedSampleDeterministic(df: DataFrame, strataCol: String,
                                    fractions: Map[String, Double], idCol: String,
                                    defaultFraction: Double = 0.0): DataFrame = {
    val bp = fractions.foldLeft(lit((defaultFraction * 10000).toLong): Column) {
      case (acc, (k, f)) => when(col(strataCol) === k, lit((f * 10000).toLong)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol)) < bp)
  }

  /** Rebalance a corpus toward target per-domain proportions by
    * deterministic downsampling — the domain-mixing step of a
    * training-data pipeline (web/books/code mixed to a recipe). The
    * keep-rate per domain is computed IN-PLAN from the actual
    * counts: the limiting domain (smallest count/weight ratio) is
    * kept whole and every other domain is thinned to match, so the
    * output follows `weights` as closely as the data allows with no
    * domain oversampled. Domains absent from `weights` are dropped.
    *
    * Scale shape: one map-side-combined count per domain (rows ∝
    * #domains), a broadcast join of the tiny rate table, then a
    * map-side hash filter — the corpus itself never shuffles.
    * Determinism: the per-row keep test is the multiplicative id
    * hash (same family as [[stratifiedSampleDeterministic]]), so the
    * selection is partitioning- and engine-independent; the rate
    * arithmetic is plain IEEE doubles in a fixed operation order,
    * which any SQL engine replays bit-for-bit.
    */
  def domainMix(df: DataFrame, domainCol: String, idCol: String,
                weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "domainMix: weights must be positive")
    val wcol = weights.foldLeft(lit(null).cast("double")) {
      case (acc, (k, wt)) => when(col(domainCol) === k, lit(wt)).otherwise(acc)
    }
    val counts = df.filter(col(domainCol).isin(weights.keys.toSeq: _*))
      .groupBy(col(domainCol)).agg(count(lit(1)).cast("double").as("__n"))
      .withColumn("__w", wcol)
    // the limiting domain: the largest feasible output keeps it whole
    val cmin = counts.agg(min(col("__n") / col("__w")).as("__cmin"))
    // the argmin domain gets bp = 10000 by exact double equality with
    // the min (not via the product formula: floor(10000*(n/w)*w/n)
    // IEEE-rounds to 9999 for ~9% of (n, w) pairs, silently dropping
    // the domain documented as kept whole). The oracle replays the
    // same equality on the same doubles.
    val rates = counts.crossJoin(cmin)
      .select(col(domainCol),
        when(col("__n") / col("__w") === col("__cmin"), lit(10000L))
          .otherwise(floor(lit(10000.0) * col("__cmin") * col("__w") / col("__n"))
            .cast("long")).as("__bp"))
    df.join(broadcast(rates), Seq(domainCol))
      .filter(hashBucket(col(idCol)) < col("__bp"))
      .drop("__bp")
  }

  /** Temperature-flattened multi-source sampling — the mT5/mC4
    * "alpha sampling" shape that up-weights small sources relative
    * to their raw share, at alpha = 1/2: source weight w_i =
    * floor(sqrt(n_i)). Unlike [[domainMix]] (caller-fixed target
    * rates), the mix here is DERIVED from the data, and the
    * per-source take is EXACT: the budget (`budgetNum/budgetDen` of
    * total docs) splits as target_i = budget·w_i div Σw, capped at
    * n_i, and each source keeps precisely its first `take_i`
    * documents in seeded [[portableHash]] order — not a Bernoulli
    * rate whose realized count wobbles.
    *
    * Every number is integer-exact and portable: sqrt is the one
    * float op, and IEEE sqrt is correctly rounded, so
    * floor(sqrt(bigint)) is bit-identical on any engine — the reason
    * this ships alpha = 1/2 rather than a pow(n, 0.3) whose
    * last-ulp is library-dependent. Scale shape: counts are one
    * map-side-combined aggregate, the rate card is source-sized and
    * broadcast, and the only corpus shuffle is the per-source
    * hash-order window (same class as [[tokenBudgetCuration]]; for a
    * pathological hot source, pre-thin or salt the window the same
    * way).
    */
  def temperatureMixSqrt(df: DataFrame, domainCol: String, idCol: String,
                         budgetNum: Long = 1L, budgetDen: Long = 2L,
                         seed: Long = 7L): DataFrame = {
    require(budgetNum > 0 && budgetDen > 0, "budget fraction must be positive")
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("n_docs"))
      .withColumn("w", floor(sqrt(col("n_docs").cast("double"))).cast("long"))
    val tot = counts.agg(sum(col("n_docs")).as("total_docs"),
      sum(col("w")).as("sum_w"))
    val ratesExact = counts.crossJoin(broadcast(tot))
      .select(col(domainCol), col("n_docs"), col("w"),
        least(col("n_docs"),
          expr(s"(total_docs * $budgetNum div $budgetDen) * w div sum_w"))
          .as("take"))
    val win = Window.partitionBy(col(domainCol))
      .orderBy(portableHash(col(idCol), seed), col(idCol))
    df.join(broadcast(ratesExact), Seq(domainCol))
      .withColumn("__rnk", row_number().over(win))
      .filter(col("__rnk") <= col("take"))
      .drop("__rnk")
  }

  /** Length-bucketed batching waste card: bucket documents by token
    * length (fixed width `bucketWidth` — exact integer division, no
    * float boundary), and per bucket report the padding cost of
    * batching within it: padded = n_docs · max_len vs the actual
    * token sum, waste as an integer micro-fraction. A final
    * `bucket = -1` row reports the same for ONE global batch padded
    * to the corpus max — the baseline dynamic batching beats. The
    * quantified "is length-bucketing worth it" trade beside the
    * packing cards ([[packSequencesFfd]] removes padding by
    * concatenation; bucketing keeps document alignment and this card
    * prices that choice).
    *
    * Scale: one tokenize pass, one bucket-keyed aggregate (map-side
    * combined), one single-row global aggregate — bucket count is
    * max_len/bucketWidth, bounded.
    */
  def lengthBucketWaste(docs: DataFrame, tokenCount: Column,
                        bucketWidth: Long = 16L): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val n = tokenCount.cast("long")
    val base = docs.select(n.as("n_tokens"))
      .withColumn("bucket", expr(s"n_tokens div $bucketWidth"))
    def card(grouped: DataFrame): DataFrame = grouped
      .select(col("bucket"), col("n_docs"), col("sum_tokens"),
        col("max_tokens"), (col("n_docs") * col("max_tokens")).as("padded"))
      .withColumn("waste_micro",
        expr("(padded - sum_tokens) * 1000000 div padded"))
    val perBucket = card(base.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
        max(col("n_tokens")).as("max_tokens")))
    val global = card(base.groupBy(lit(-1L).as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
        max(col("n_tokens")).as("max_tokens")))
    perBucket.unionByName(global).orderBy(col("bucket"))
  }

  /** UniMax-shape capped waterfilling (Chung et al. 2023): split a
    * token budget across sources as EQUALLY as possible subject to a
    * per-source repetition cap of `epochCap` epochs — a source may
    * contribute at most epochCap × its own tokens, so a tiny source
    * cannot be over-sampled into memorization while the freed budget
    * waterfills uniformly over the larger sources. The fairness
    * alternative to temperature sampling ([[temperatureMixSqrt]]),
    * completing the mixing family.
    *
    * The budget is SELF-SCALING: `(Σcaps · budgetPermille) div 1000`,
    * so the same permille exercises the same capped/waterfilled mix
    * at any corpus size. Allocation: sources ascend by (cap, name);
    * source i binds at its cap iff cap_i·(remaining sources) ≤
    * remaining budget (prefix-AND makes the capped set a prefix);
    * the rest all receive the water level
    * w = (budget − Σ capped caps) div (uncapped count). All integer
    * arithmetic — the ≤ (uncapped count − 1) tokens of remainder
    * stay unallocated by floor semantics, never redistributed
    * nondeterministically.
    *
    * Output: one row per source — (source, n_tokens, cap, allocated,
    * capped). Scale shape: ONE map-side-combined token-count
    * aggregate is the only corpus pass; everything after operates on
    * source-cardinality rows (dozens-to-thousands), where the global
    * rank window is bounded by construction.
    */
  def unimaxAllocation(docs: DataFrame, sourceCol: String,
                       tokenCount: Column, epochCap: Long = 2L,
                       budgetPermille: Long = 950L): DataFrame = {
    require(epochCap > 0, "epochCap must be positive")
    require(budgetPermille > 0, "budgetPermille must be positive")
    val sizes = docs.groupBy(col(sourceCol).as("source"))
      .agg(sum(tokenCount.cast("long")).as("n_tokens"))
      .withColumn("cap", col("n_tokens") * lit(epochCap))
    val w = tinyWindow(col("source"), col("cap").asc, col("source").asc) // source-cardinality frame
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = sizes
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("pcap", sum(col("cap")).over(cum))
    val tot = ranked.agg(max(col("rk")).as("n_src"),
      sum(col("cap")).as("sum_cap"))
    val flagged = ranked.crossJoin(broadcast(tot))
      .withColumn("budget", expr(s"sum_cap * $budgetPermille div 1000"))
      .withColumn("__c",
        when(col("cap") * (col("n_src") - col("rk") + 1L) <=
          col("budget") - (col("pcap") - col("cap")), 1L).otherwise(0L))
      .withColumn("capped", min(col("__c")).over(cum) === 1L)
    val level = flagged.groupBy().agg(
        coalesce(max(when(col("capped"), col("rk"))), lit(0L)).as("kstar"),
        coalesce(max(when(col("capped"), col("pcap"))), lit(0L)).as("pcapk"),
        max(col("budget")).as("budget"), max(col("n_src")).as("n_src"))
      .select(when(col("n_src") === col("kstar"), lit(Long.MaxValue))
        .otherwise(expr("(budget - pcapk) div (n_src - kstar)"))
        .as("w_level"))
    flagged.crossJoin(broadcast(level))
      .select(col("source"), col("n_tokens"), col("cap"),
        least(col("cap"), col("w_level")).as("allocated"), col("capped"))
  }

  /** Materialize a [[unimaxAllocation]] as an actual document
    * selection: each source keeps documents in seeded
    * [[portableHash]] order while its running token total stays
    * within the source's allocated budget — the deterministic "which
    * docs actually enter the mix" step after the allocation math.
    * A capped source's allocation covers its full token supply
    * (epochCap ≥ 1), so capped sources keep every document and the
    * repetition factor allocated/n_tokens is realized downstream by
    * the training loader; waterfilled sources cut at the water level.
    *
    * Scale shape: the allocation card is source-sized and broadcast;
    * the selection is ONE per-source hash-order window (the
    * [[temperatureMixSqrt]] / [[tokenBudgetCuration]] class).
    */
  def unimaxSelect(docs: DataFrame, sourceCol: String, idCol: String,
                   tokenCount: Column, epochCap: Long = 1L,
                   budgetPermille: Long = 700L, seed: Long = 7L): DataFrame = {
    val alloc = unimaxAllocation(docs, sourceCol, tokenCount, epochCap,
        budgetPermille)
      .select(col("source").as(sourceCol), col("allocated"))
    val win = Window.partitionBy(col(sourceCol))
      .orderBy(portableHash(col(idCol), seed), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("n_tokens", tokenCount.cast("long"))
      .join(broadcast(alloc), Seq(sourceCol))
      .withColumn("__cum", sum(col("n_tokens")).over(win))
      .filter(col("__cum") <= col("allocated"))
      .drop("__cum")
  }

  /** Per-domain token-budget curation: order each domain's documents
    * by a quality score (best first) and keep documents until the
    * domain's token budget is spent — the "take the best N tokens
    * per source" selection step between quality scoring and
    * training. A document is kept iff the running token total
    * through it (inclusive) stays within `budget`; ties in quality
    * break on ascending id so the cut is total and deterministic.
    *
    * Scale shape: the running total is a per-domain window — one
    * shuffle on the domain key, sort by (quality desc, id) within.
    * Training mixes have dozens-to-thousands of domains, each
    * bounded by its budget's doc count; for a pathological single
    * hot domain, pre-thin with [[domainMix]] or salt the window into
    * quality-quantile sub-ranges (same two-level prefix-sum shape as
    * [[packSequences]]).
    */
  def tokenBudgetCuration(df: DataFrame, domainCol: String, idCol: String,
                          tokenCol: Column, qualityCol: Column,
                          budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = Window.partitionBy(col(domainCol))
      .orderBy(qualityCol.desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum", sum(tokenCol.cast("long")).over(w))
      .filter(col("__cum") <= budget)
      .drop("__cum")
  }

  /** CDC-style upsert: apply `updates` onto `base` by key — updated
    * rows replace their base rows, new keys append. One anti-join
    * (the update key set broadcasts when small, shuffles when not)
    * plus a union: the merge-into shape without a table format.
    * Assumes `updates` has at most one row per key (enforce upstream
    * with uniqueFirst for latest-wins CDC streams).
    */
  def upsert(base: DataFrame, updates: DataFrame, key: String): DataFrame =
    updates.unionByName(
      base.join(updates.select(col(key)), Seq(key), "left_anti"))

  /** Deterministic weighted sample WITHOUT replacement (Efraimidis-
    * Spirakis A-ES): each row gets the key u^(1/w) with u a seeded
    * hash-uniform in (0,1]; the n largest keys are the sample.
    * Inclusion probability is proportional to weight; the hash makes
    * it reproducible under any partitioning. The top-n is a
    * TakeOrdered (per-partition heap of n, then a driver merge) — no
    * global sort, no shuffle of the losers. Quality-weighted corpus
    * subsampling is the training-pipeline use.
    */
  def weightedSampleDeterministic(df: DataFrame, n: Int, weightCol: String,
                                  idCol: String, seed: Long = 42L): DataFrame = {
    // u in (0,1]: the portable hash shifted to 1..P — engine-portable
    // (the former xxhash64 key made this op Spark-only and its sample
    // uncheckable against the oracle)
    val u = (portableHash(col(idCol), seed) + lit(1L)).cast("double") / lit(HashP.toDouble)
    // ln(u)/w is the standard overflow-safe form of u^(1/w) ranking
    // (monotone-equivalent); avoids pow() underflow at tiny weights
    val key = org.apache.spark.sql.functions.log(u) / col(weightCol)
    df.filter(col(weightCol) > 0)
      .withColumn("__wk", key)
      .orderBy(col("__wk").desc, col(idCol))
      .limit(n)
      .drop("__wk")
  }

  /** Partitioned parquet sink — the standard sharded-output shape for
    * pipeline stages: directory-partitioned by low-cardinality
    * columns (consumers prune partitions at the scan), file sizes
    * bounded by maxRecordsPerFile so downstream tasks stay uniform.
    */
  def writePartitionedParquet(df: DataFrame, path: String,
                              partitionCols: Seq[String],
                              maxRecordsPerFile: Long = 1000000L): Unit =
    df.write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(path)

  /** Deterministic train/val/test split: the multiplicative id hash
    * maps each row to a basis-point bucket, and splits own contiguous
    * [lo, hi) ranges — every row lands in exactly one split, the
    * assignment is partitioning- and engine-independent (same hash as
    * [[stratifiedSampleDeterministic]]), and the filter is map-side
    * only.
    */
  /** Token-budget sequence packing — the concatenate-then-chunk
    * assembly GPT-style pretraining uses: documents are laid out as
    * one token stream in ascending id order and cut every `budget`
    * tokens; each doc learns which training sequence its first token
    * lands in (`seq_id`), where (`seq_offset`), and how many
    * sequences it straddles (`n_seqs`).
    *
    * Scale shape: the global prefix sum is two-level — a window
    * partitioned by coarse id bucket (parallel, ~bucketSize rows
    * each) plus a tiny per-bucket-totals cumsum broadcast back. A
    * single un-partitioned window would drag the whole corpus
    * through one task; this shape keeps every shuffle bounded and is
    * asserted equal to the single-window formulation in tests.
    */
  def packSequences(df: DataFrame, idCol: String, tokenCol: String,
                    budget: Long, bucketSize: Long = 1L << 20): DataFrame = {
    require(budget > 0, "budget must be positive")
    val b = df.select(col(idCol).as("id"), col(tokenCol).cast("long").as("n"))
      .withColumn("bucket", floor(col("id") / bucketSize).cast("long"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("id"))
    val local = b.withColumn("local_cum", sum(col("n")).over(w))
    val totals = b.groupBy(col("bucket")).agg(sum(col("n")).as("tot"))
    // one row per bucket — the global window is over a frame that
    // is already tiny
    val wb = tinyWindow(col("bucket"), col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("prev", coalesce(sum(col("tot")).over(wb), lit(0L)))
      .select(col("bucket"), col("prev"))
    local.join(broadcast(offsets), Seq("bucket"))
      .withColumn("start", col("prev") + col("local_cum") - col("n"))
      .select(col("id"), col("n"), col("start"),
        floor(col("start") / budget).cast("long").as("seq_id"),
        (col("start") % budget).as("seq_offset"),
        when(col("n") === 0, lit(0L)).otherwise(
          floor((col("start") + col("n") - 1) / budget).cast("long") -
            floor(col("start") / budget).cast("long") + 1L).as("n_seqs"))
  }

  /** Document-preserving sequence packing — first-fit-decreasing bin
    * packing within hash shards, the OTHER standard pretraining batch
    * assembly next to [[packSequences]]' concat-then-chunk: no
    * document ever spans two training sequences. Docs are sharded by
    * the portable id hash, and within each shard placed in
    * (tokens DESC, id ASC) order into the FIRST already-open sequence
    * with enough remaining capacity, else a new sequence opens (the
    * classic FFD approximation to optimal bin packing — ≤ 11/9·OPT+1
    * bins). Output: one row per doc with its (shard, seq) assignment;
    * a doc longer than the budget cannot be packed whole and is
    * flagged `seq = -1` instead of silently truncated or dropped.
    *
    * Scale shape: FFD is inherently sequential, so the parallel unit
    * is the SHARD — `nShards` independent greedy folds, one task
    * each, no driver loop and no cross-shard traffic (one hash-
    * partition shuffle total). Each task buffers only its own shard's
    * (id, n) pairs — 16 bytes/doc, so ~60 MB per task at a billion
    * docs over 1k shards; size `nShards` ∝ corpus/docs-per-task. The
    * greedy fold is deterministic given the (n DESC, id ASC) total
    * order, which is what makes the whole placement replayable by an
    * external SQL engine as a per-shard recursive unrolling.
    *
    * Guards: ids must be numeric (the portable hash and the typed
    * fold both key on the long id) — a non-numeric or null id fails
    * loudly at the row, not as an opaque encoder NPE. And because
    * each task BUFFERS its shard, an undersized `nShards` at a large
    * corpus is an OOM in waiting: any shard exceeding
    * `maxDocsPerShard` rows aborts with the resize arithmetic in the
    * message instead of dying in the sort (the HTTP 50k-cap
    * discipline, polars_requests.py:99).
    */
  def packSequencesFfd(df: DataFrame, idCol: String, tokenCol: String,
                       budget: Long, nShards: Int = 8,
                       seed: Long = 7L,
                       maxDocsPerShard: Long = 4000000L): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(nShards > 0, "nShards must be positive")
    require(maxDocsPerShard > 0, "maxDocsPerShard must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    // try_cast, not cast: under ANSI a bad id would throw Spark's own
    // opaque CAST error before the loud per-row message below runs
    val idL = col(idCol).try_cast("long")
    val sharded = df.select(
        when(col(idCol).isNull || idL.isNull,
          raise_error(concat(lit(s"packSequencesFfd: id column '$idCol' must be numeric and non-null, got: "),
            coalesce(col(idCol).cast("string"), lit("NULL")))).cast("long"))
          .otherwise(idL).as("id"),
        col(tokenCol).cast("long").as("n"),
        pmod(portableHash(col(idCol), seed), lit(nShards.toLong))
          .cast("int").as("shard"))
      .as[(Long, Long, Int)]
    sharded.groupByKey(_._3).flatMapGroups { (shard, it) =>
      // one shard per task: buffer + sort is the documented memory
      // bound (16 bytes/doc); the fold itself is the FFD greedy
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
      var over = false
      while (it.hasNext && !over) {
        buf += it.next()
        if (buf.length > maxDocsPerShard) over = true
      }
      if (over) throw new IllegalStateException(
        s"packSequencesFfd: shard $shard exceeds maxDocsPerShard=$maxDocsPerShard " +
          s"rows with nShards=$nShards — raise nShards to about " +
          s"ceil(corpusDocs / $maxDocsPerShard) (each task buffers one whole " +
          "shard; this guard fires before the buffer can OOM the executor)")
      val docs = buf.toArray.sortBy { case (id, n, _) => (-n, id) }
      val rem = scala.collection.mutable.ArrayBuffer.empty[Long]
      docs.iterator.map { case (id, n, _) =>
        if (n > budget) (id, n, shard, -1L)
        else {
          var i = 0
          while (i < rem.length && rem(i) < n) i += 1
          if (i == rem.length) rem += (budget - n) else rem(i) -= n
          (id, n, shard, i.toLong)
        }
      }
    }.toDF("id", "n", "shard", "seq")
  }

  /** Exact global rank of every (group, value) row WITHOUT routing a
    * whole group through one task's sort. Shape:
    *
    *  1. `approx_percentile` cutpoints over the value domain (one tiny
    *     agg, collected to the driver — ≤ buckets-1 doubles, the same
    *     KB-sized-collect policy as IVF centroids — and inlined as
    *     LITERALS, so bucket assignment is a pure codegen'd function
    *     of the value: deterministic under recompute, no crossJoin,
    *     no broadcast. Accuracy only affects bucket BALANCE, never
    *     rank correctness);
    *  2. each row gets a bucket = #cutpoints <= value — monotone in
    *     the value;
    *  3. per-(group, bucket) COUNTS from a map-side-combined
    *     `groupBy(key, bucket).count()` (a groups×buckets-sized
    *     frame) -> cumulative offsets per group (windows over that
    *     tiny aggregate only);
    *  4. rank = offset + row_number within (group, bucket); the
    *     offsets frame joins back on (key, bucket) — the rank stream
    *     is already hash-partitioned on exactly those keys, so the
    *     big side does not re-shuffle (and the planner is free to
    *     broadcast the small side; no forced hint, so high-cardinality
    *     group keys degrade to a shuffle join instead of a driver
    *     memory hazard).
    *
    * The single corpus-sized shuffle is keyed by (group, bucket): a
    * 5-group corpus sorts in 5×`buckets` parallel tasks instead of 5.
    * No operator-internal persist: the corpus stream has exactly ONE
    * consumer (the rank window); cell sizes come from the tiny
    * aggregate, not a second pass over the staged ranks (round 4
    * materialized the whole corpus to MEMORY_AND_DISK per invocation
    * just to read one row per cell back out — at 100 TB that is a
    * silent full-input spill).
    * NULL values are dropped (the `percentile`/`quantile_cont`
    * null-skipping definition — counting them would shift every rank
    * and could select a null); a group whose values are ALL null
    * therefore vanishes from the output (callers that must keep such
    * groups left-join, as [[winsorizeByGroup]] does). Degenerate
    * case: a single repeated value collapses to one bucket — the same
    * bounded-by-duplicates hazard every exact-rank method has.
    */
  private[graft] def globalRankByGroup(df: DataFrame, keyCol: String,
                                       valCol: String,
                                       buckets: Int = 32): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val vals = df.select(col(keyCol), col(valCol))
      .filter(col(valCol).isNotNull)
    val cuts: Seq[Double] =
      if (buckets == 1) Nil
      else {
        val row = vals.agg(percentile_approx(col(valCol).cast("double"),
          array((1 until buckets).map(i => lit(i.toDouble / buckets)): _*),
          lit(10000)).as("__cuts")).head()
        if (row.isNullAt(0)) Nil else row.getSeq[Double](0)
      }
    val bucketed = vals.withColumn("__b",
      cuts.foldLeft(lit(0)) { (acc, c) =>
        acc + when(col(valCol).cast("double") >= lit(c), 1).otherwise(0) })
    val cells = bucketed.groupBy(col(keyCol), col("__b"))
      .agg(count(lit(1)).as("__cn"))
    val wOff = Window.partitionBy(col(keyCol)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = cells
      .withColumn("__off", coalesce(sum(col("__cn")).over(wOff), lit(0L)))
      .withColumn("__n", sum(col("__cn")).over(Window.partitionBy(col(keyCol))))
      .select(col(keyCol), col("__b"), col("__off"), col("__n"))
    val wCell = Window.partitionBy(col(keyCol), col("__b"))
    bucketed
      .withColumn("__lrk", row_number().over(wCell.orderBy(col(valCol))).cast("long"))
      .join(offs, Seq(keyCol, "__b"))
      .select(col(keyCol), col(valCol),
        (col("__off") + col("__lrk")).as("__rk"), col("__n"))
  }

  /** Exact per-group median by rank-offset selection: rank each value
    * inside its group ([[globalRankByGroup]] — bucket-parallel, no
    * single-task-per-group sort), keep only the one (odd n) or two
    * (even n) middle rows, and average them — the same linear
    * interpolation `percentile(0.5)` / DuckDB `quantile_cont(0.5)`
    * defines, and bit-identical to both for exactly-representable
    * inputs (integers, dyadic fractions), since the mean of two exact
    * doubles ≤ 2^52 is exact.
    *
    * Spark's exact `percentile` instead buffers a value->count map
    * per group in the aggregation buffer — a memory hazard once a
    * group's value DOMAIN outgrows executor heap, which a 100 TB
    * corpus with high-cardinality values will do. NULL values are
    * skipped, like `percentile` — with one divergence: a group whose
    * values are ALL null is absent from the output (where
    * `percentile` yields a NULL row); left-join if such groups must
    * be kept.
    */
  def exactMedianByGroup(df: DataFrame, keyCol: String, valCol: String,
                         outCol: String = "median"): DataFrame = {
    globalRankByGroup(df, keyCol, valCol)
      // odd n: both picks are the middle row; even n: rows n/2, n/2+1.
      // Column./ is DOUBLE division — floor back to the integer ranks
      // (exact: halves of a long count are exactly representable)
      .filter(col("__rk") === floor((col("__n") + 1L) / 2L).cast("long") ||
        col("__rk") === floor(col("__n") / 2L).cast("long") + 1L)
      .groupBy(col(keyCol))
      .agg((sum(col(valCol)).cast("double") / count(lit(1)).cast("double"))
        .as(outCol))
  }

  /** Exact per-group interpolated quantiles by the same rank-offset
    * selection as [[exactMedianByGroup]], generalized: for each
    * requested p the 0-based position is p*(n-1); the two bracketing
    * ranks are kept and interpolated lo + (hi-lo)*frac — the
    * `percentile`/`quantile_cont` definition — without ever buffering
    * a group's values in an aggregation buffer. Ranking is the
    * bucket-parallel [[globalRankByGroup]] (one corpus-sized shuffle
    * keyed by (group, bucket)) + a ≤2|ps|-rows-per-group aggregate.
    */
  def exactQuantilesByGroup(df: DataFrame, keyCol: String, valCol: String,
                            ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "quantiles must be in [0, 1]")
    val ranked = globalRankByGroup(df, keyCol, valCol)
    def pos(p: Double): Column = (col("__n") - 1L).cast("double") * lit(p)
    def lo(p: Double): Column = floor(pos(p)).cast("long") + 1L
    def hi(p: Double): Column = least(lo(p) + 1L, col("__n"))
    val keep = ps.map(p => col("__rk") === lo(p) || col("__rk") === hi(p))
      .reduce(_ || _)
    val aggs = ps.zipWithIndex.flatMap { case (p, i) => Seq(
      max(when(col("__rk") === lo(p), col(valCol))).as(s"__lo$i"),
      max(when(col("__rk") === hi(p), col(valCol))).as(s"__hi$i")) } :+
      max(col("__n")).as("__n")
    val outs = ps.zipWithIndex.map { case (p, i) =>
      val fpos = (col("__n") - 1L).cast("double") * lit(p)
      val frac = fpos - floor(fpos)
      (col(s"__lo$i").cast("double") +
        (col(s"__hi$i").cast("double") - col(s"__lo$i").cast("double")) * frac)
        .as(s"p$i") }
    ranked.filter(keep)
      .groupBy(col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(keyCol) +: outs: _*)
  }

  /** Per-group winsorization: clamp a value column to its group's
    * [pLo, pHi] interpolated percentiles — the standard outlier
    * treatment that keeps rows (unlike a MAD filter) while bounding
    * tail influence. Percentiles come from [[exactQuantilesByGroup]]
    * (rank-offset selection, no value-buffering aggregate) and the
    * group-sized cutoff frame broadcasts back, so the fact side
    * streams through with zero extra shuffles. Adds `<valCol>_w`
    * (double: cutoffs interpolate between values).
    *
    * Keeps EVERY input row: the cutoff join is a LEFT join, so a
    * group whose values are all null (no cutoffs — quantiles skip
    * nulls) passes through unclamped instead of being dropped, and a
    * null value stays null rather than collapsing to a cutoff.
    */
  def winsorizeByGroup(df: DataFrame, keyCol: String, valCol: String,
                       pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    require(pLo >= 0.0 && pHi <= 1.0 && pLo < pHi, "need 0 <= pLo < pHi <= 1")
    val cuts = exactQuantilesByGroup(df, keyCol, valCol, Seq(pLo, pHi))
      .select(col(keyCol), col("p0").as("__lo"), col("p1").as("__hi"))
    df.join(broadcast(cuts), Seq(keyCol), "left")
      .withColumn(s"${valCol}_w",
        // greatest/least skip nulls, so missing cutoffs (all-null
        // group) degrade to the identity clamp — but a null VALUE
        // must stay null, not become greatest(__lo, __hi)
        when(col(valCol).isNotNull,
          greatest(col("__lo"), least(col("__hi"), col(valCol).cast("double")))))
      .drop("__lo", "__hi")
  }

  /** Deterministic shuffle-shard for reproducible training order:
    * every row gets a (shard, pos) from a seeded portable hash of its
    * id — the same corpus, seed and shard count always yield the same
    * global order, on any engine and any partitioning. shard =
    * hash mod nShards; pos = rank within the shard by (hash, id).
    *
    * Scale shape: one shuffle keyed by shard, per-shard window sort
    * (parallel across shards — size nShards to your trainer's data
    * parallelism, NOT 1). Resharding is a re-run with a different
    * nShards; re-seeding gives an independent epoch order.
    */
  def deterministicShuffle(df: DataFrame, idCol: String, nShards: Int,
                           seed: Long = 42L): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val w = Window.partitionBy(col("shard")).orderBy(col("__h"), col(idCol))
    df.withColumn("__h", portableHash(col(idCol), seed))
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)).cast("int"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .drop("__h")
  }

  /** Shard manifest — the integrity record a resumable training
    * loader checks before (and after) consuming shards: per shard,
    * the exact row count, the ORDER-INDEPENDENT checksum (sum of
    * per-id portable hashes mod p — commutative, so any read order or
    * partitioning reproduces it), and the id span. Built on
    * [[deterministicShuffle]]'s seeded assignment so the manifest is
    * bit-identical across runs and engines; one map-side-combined
    * aggregate over the shard assignment, shard-count-sized output.
    */
  def shardManifest(df: DataFrame, idCol: String, nShards: Int,
                    seed: Long = 42L): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    // the same seeded hash+pmod assignment deterministicShuffle uses,
    // WITHOUT its per-shard position window — a manifest needs counts
    // and checksums, not ranks, so it stays one map-combined aggregate
    df.withColumn("shard",
        pmod(portableHash(col(idCol), seed), lit(nShards.toLong)).cast("int"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        // sum in Decimal(38,0): each hash is < 2^30 but a LongType sum
        // wraps at 2^63 (~9e9 rows/shard), diverging from the oracle's
        // 128-bit HUGEINT sum; decimal matches HUGEINT semantics to 1e38
        pmod(sum(portableHash(col(idCol), seed + 1)
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))),
          lit(HashP).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("long").as("checksum"),
        min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"))
      .orderBy(col("shard"))
  }

  def hashSplit(df: DataFrame, idCol: String, splits: Seq[(String, Double)],
                outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "at least one split")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9, "fractions must sum to 1")
    val bucket = hashBucket(col(idCol))
    // the LAST bound is pinned to 10000: cumulative per-fraction
    // rounding can land short (e.g. thirds -> 3333+3333+3333 = 9999),
    // which would leave bucket 9999 split-less
    val bounds = splits.scanLeft(0L) { case (acc, (_, f)) => acc + math.round(f * 10000) }
      .toIndexedSeq.updated(splits.length, 10000L)
    val assigned = splits.zip(bounds.zip(bounds.tail))
      .foldLeft(lit(null).cast("string")) {
        case (acc, ((name, _), (lo, hi))) =>
          when(bucket >= lo && bucket < hi, lit(name)).otherwise(acc)
      }
    df.withColumn(outCol, assigned)
  }

  /** Soft row cap: if over `n`, log a warning and take a seeded
    * sample of n (polars_utils.py:83-100 `limit` + LimitWarning), with
    * the seed [[printRdfStatements]] uses. Eager count, same as the
    * reference's len() check.
    */
  def limitWithWarning(df: DataFrame, n: Int = 250,
                       idCol: Option[String] = None): DataFrame = {
    val total = df.count()
    if (total <= n) df
    else {
      Actions.warn(s"result has $total rows, capping to $n (sampled)", Actions.LimitWarning)
      idCol match {
        // with a unique id the sample key is the portable hash, so an
        // external oracle reproduces the sampled rows
        case Some(id) => sampleExactPortable(df, n, 42L, id)
        case None => sampleExact(df, n, 42L)
      }
    }
  }

  /** RDF statement sink (polars_utils.py:106-123
    * `print_rdf_statements`): assert single-string-column schema,
    * apply the soft cap, print each statement. One Spark action: an
    * ordered take of `limit + 1` rows in the seeded [[sampleExact]]
    * order both bounds the collect and tells whether the frame was
    * over the cap, so every upstream side effect (the TMDB API calls)
    * runs exactly once.
    */
  def printRdfStatements(df: DataFrame, limit: Int = 250,
                         out: java.io.PrintStream = System.out): Unit = {
    require(df.columns.sameElements(Array("rdf_statement")) &&
      df.schema.head.dataType == org.apache.spark.sql.types.StringType,
      s"print_rdf_statements expects schema {rdf_statement: string}, got ${df.schema}")
    val rows = sampleExact(df, limit + 1, 42L).collect()
    if (rows.length > limit)
      Actions.warn(s"result has more than $limit rows, capping to $limit (sampled)",
        Actions.LimitWarning)
    rows.take(limit).foreach(r => out.println(r.getString(0)))
  }

  /** Scale-path RDF sink: same schema contract, but writes a text
    * file per partition instead of collecting (100 TB posture).
    */
  def writeRdfStatements(df: DataFrame, path: String): Unit = {
    require(df.columns.sameElements(Array("rdf_statement")),
      s"writeRdfStatements expects {rdf_statement}, got ${df.schema}")
    df.write.mode("overwrite").text(path)
  }
}
