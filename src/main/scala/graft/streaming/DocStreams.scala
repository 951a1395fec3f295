package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.operators.{Dedup, TextAnalysis}

/** Streaming document-ingest operators — the live twins of the batch
  * corpus-health tooling, written once against the unified
  * DataFrame API so the SAME declarative definition executes as a
  * batch job or a Structured Streaming query (asserted equal in
  * StreamingSpec).
  */
object DocStreams {

  /** Windowed per-source ingest health — the live dashboard feed
    * behind [[graft.operators.TextAnalysis.sourceHealthReport]]'s
    * batch card: per (event-time window, source), the doc count,
    * token volume, PII incidence, and hashed-linear-quality keep
    * count of arriving documents. The batch card's exact-duplicate
    * column is deliberately absent here: corpus-wide dup membership
    * needs unbounded state (every md5 ever seen) — in a live pipeline
    * that column comes from the periodic batch card, not the stream.
    *
    * One definition, both modes: on a static frame this is a plain
    * windowed aggregation; on a stream, pass `watermarkSeconds` so
    * state for closed windows is dropped (without it a streaming
    * aggregation accumulates windows forever). Every per-doc signal
    * is map-only (bound token array → score, staged PII regexes), so
    * the streaming plan is stateless up to the single windowed
    * aggregation — the canonical scalable shape.
    *
    * `docs` needs (tsCol timestamp, sourceCol string, textCol
    * string).
    */
  def sourceHealthWindowed(docs: DataFrame, weights: Array[Long],
                           windowSeconds: Long = 3600L,
                           watermarkSeconds: Option[Long] = None,
                           tsCol: String = "ts", sourceCol: String = "source",
                           textCol: String = "text"): DataFrame = {
    require(windowSeconds > 0, "window must be positive")
    val withWm = watermarkSeconds.fold(docs)(w =>
      docs.withWatermark(tsCol, s"$w seconds"))
    val perDoc = withWm.select(col(tsCol).as("ts"), col(sourceCol).as("source"),
        TextAnalysis.cleanTokens(col(textCol)).as("toks"),
        TextAnalysis.piiRedact(col(textCol)).as("p"))
      .select(col("ts"), col("source"),
        size(col("toks")).cast(LongType).as("n_tokens"),
        TextAnalysis.linearScoreExpr(col("toks"), weights).as("score"),
        (col("p.n_emails") + col("p.n_ipv4") + col("p.n_phones") > 0L)
          .as("has_pii"))
    perDoc
      .groupBy(window(col("ts"), s"$windowSeconds seconds"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("has_pii"), 1L).otherwise(0L)).as("n_pii_docs"),
        sum(when(col("score") >= 0L, 1L).otherwise(0L)).as("n_keep_quality"))
      .select(col("window.start").as("window_start"), col("source"),
        col("n_docs"), col("n_tokens"), col("n_pii_docs"),
        col("n_keep_quality"))
  }

  /** Windowed distribution-drift monitor — the live twin of the
    * batch drift cards ([[graft.operators.TextAnalysis.sourceTermDrift]]
    * / `termDriftBetween`): per event-time window, the Jensen–Shannon
    * divergence of the window's term distribution against a FIXED
    * reference distribution (yesterday's corpus, the last accepted
    * snapshot — from
    * [[graft.operators.TextAnalysis.referenceTermStats]], plan
    * literals). This is the alert feed that catches a crawler change
    * or encoding bug within one ingest window instead of at the next
    * batch card.
    *
    * One definition, both modes. The shape is what makes it stream-
    * legal AND scale-safe: each doc maps to a (K+1)-vector of
    * reference-term counts (`<rest>` last) — map-only — and the ONLY
    * stateful operator is a single windowed [[graft.functions.ArraySum]]
    * aggregation holding exactly K+1 longs per open window. A
    * (window, term) explode would need a second stateful aggregation
    * to reassemble the JS sum, which Structured Streaming restricts
    * and whose state would be vocabulary-sized. The JS finish is a
    * map-only zip over the aggregated vector (integer-exact micro
    * terms, long sums — the batch cards' float policy). Per-doc cost
    * is O(K · tokens) equality scans; hold K to O(100) for live
    * monitors (the batch cards own exact full-vocabulary drift).
    *
    * Windows whose documents carry zero tokens have no distribution:
    * js_micro is null (both modes; the declared oracle replays the
    * CASE).
    */
  def termDriftWindowed(docs: DataFrame, refTerms: Seq[String],
                        refCounts: Seq[Long], refTotal: Long,
                        windowSeconds: Long = 3600L,
                        watermarkSeconds: Option[Long] = None,
                        tsCol: String = "ts", textCol: String = "text"): DataFrame = {
    require(refTerms.nonEmpty && refTerms.length == refCounts.length,
      "reference terms/counts must be non-empty and aligned")
    // a duplicated term would double-count matching tokens, driving the
    // derived <rest> element (n_tok - sum(counts)) negative and silently
    // corrupting the JS score
    require(refTerms.distinct.size == refTerms.size,
      "reference terms must be distinct")
    require(refTotal >= refCounts.sum, "refTotal must cover the term counts")
    val k = refTerms.length
    val withWm = watermarkSeconds.fold(docs)(w =>
      docs.withWatermark(tsCol, s"$w seconds"))
    val termsLit = typedLit(refTerms)
    val perDoc = withWm.select(col(tsCol).as("ts"),
        TextAnalysis.cleanTokens(lower(col(textCol))).as("toks"))
      .select(col("ts"), size(col("toks")).cast(LongType).as("n_tok"),
        transform(termsLit, t =>
          size(filter(col("toks"), x => x === t)).cast(LongType)).as("counts"))
      .select(col("ts"), col("n_tok"),
        concat(col("counts"),
          array(col("n_tok") - aggregate(col("counts"), lit(0L),
            (a, x) => a + x))).as("vec"))
    val refRest = refTotal - refCounts.sum
    val refLit = typedLit(refCounts :+ refRest)
    val agged = perDoc
      .groupBy(window(col("ts"), s"$windowSeconds seconds"))
      .agg(count(lit(1)).as("n_docs"),
        graft.functions.NativeFunctions.arraySum(col("vec"), k + 1).as("v"))
      .select(col("window.start").as("window_start"), col("n_docs"),
        aggregate(col("v"), lit(0L), (a, x) => a + x).as("n_tokens"), col("v"))
    agged.select(col("window_start"), col("n_docs"), col("n_tokens"),
      when(col("n_tokens") === 0L, lit(null).cast(LongType))
        .otherwise(aggregate(
          zip_with(col("v"), refLit, (c, r) =>
            TextAnalysis.jsMicroTerm(c, col("n_tokens"), r, lit(refTotal))),
          lit(0L), (a, x) => a + x)).as("js_micro"))
  }

  /** Streaming windowed HLL distinct-term monitor — "how many
    * distinct terms arrived this window?", the live cardinality
    * signal (a crawler stuck on one template collapses it; an
    * encoding bug explodes it) whose exact form (per-window
    * countDistinct) needs a vocabulary-keyed second aggregation
    * Structured Streaming restricts. Shape: per-doc HLL register
    * vectors are MAP-ONLY (native [[graft.functions.HllRegisters]],
    * the [[graft.operators.Hll]] portable mixer), and the only
    * stateful operator is ONE windowed element-wise max (native
    * [[graft.functions.ArrayMax]] — m longs of state per window; max
    * is idempotent and commutative, so checkpoint merges and late
    * data are safe by construction). The estimator finish is a
    * map-only projection over the aggregated vector — the exact
    * arithmetic of the batch card, so the declared batch-mode oracle
    * replays windows, registers, branch choice and floored estimate
    * bit-for-bit.
    *
    * One definition, both modes: static frame → plain windowed agg;
    * stream → pass `watermarkSeconds`.
    */
  def distinctTermsWindowed(docs: DataFrame, m: Int = 256,
                            windowSeconds: Long = 3600L,
                            watermarkSeconds: Option[Long] = None,
                            tsCol: String = "ts",
                            textCol: String = "text"): DataFrame = {
    require(m >= 16 && m <= (1 << 16) && (m & (m - 1)) == 0,
      s"m must be a power of two in [16, 2^16], got $m")
    val withWm = watermarkSeconds.fold(docs)(w =>
      docs.withWatermark(tsCol, s"$w seconds"))
    val perDoc = withWm.select(col(tsCol).as("ts"),
      graft.functions.NativeFunctions.hllRegisters(
        graft.operators.Dedup.tokens(col(textCol)), m).as("regs"))
    val agged = perDoc
      .groupBy(window(col("ts"), s"$windowSeconds seconds"))
      .agg(count(lit(1)).as("n_docs"),
        graft.functions.NativeFunctions.arrayMax(col("regs"), m).as("v"))
    val mD = m.toDouble
    val vZero = size(filter(col("v"), x => x === 0L)).cast(LongType)
    // 2^-rank as 1/(1<<rank): exact dyadics, order-independent sum
    val hsum = aggregate(col("v"), lit(0.0), (a, r) =>
      a + lit(1.0) / call_function("shiftleft", lit(1L), r.cast("int")))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(mD))
    val raw = alpha * lit(mD) * lit(mD) / hsum
    val est = when(vZero > 0L && raw <= lit(2.5) * lit(mD),
      lit(mD) * log(lit(mD) / vZero.cast("double"))).otherwise(raw)
    agged.select(col("window.start").as("window_start"), col("n_docs"),
      vZero.as("v_zero"), floor(est).cast(LongType).as("est_distinct"))
  }

  /** Streaming windowed count-min grid — the live twin of
    * [[graft.operators.CountMin.cmsCounters]]: per event-time window,
    * the depth×width counter grid of the window's token stream. The
    * grid IS the monitor's state product: a stream materializes one
    * compact grid per window (≤ depth·width rows, vocabulary- and
    * volume-independent), and any term's per-window frequency is
    * answerable later through
    * [[graft.operators.CountMin.cmsEstimateByWindow]] without
    * re-scanning the corpus — the "was this spam marker surging at
    * 3am?" read a live ingest dashboard needs.
    *
    * Stream-legal shape: token → (j, pos) cell explosion is
    * stateless map-side work through the shared portable mixer, and
    * the ONLY stateful operator is a single windowed count aggregate
    * keyed by (window, j, pos) — at most depth·width longs of state
    * per open window, with map-side combine compressing every
    * partition's contribution to grid size before the one shuffle.
    * Counts are additive, so late-data merges are exact by
    * construction. One definition, both modes: static frame → plain
    * windowed agg (the declared oracle replays every cell count
    * bit-for-bit); stream → pass `watermarkSeconds`.
    */
  def cmsCountersWindowed(docs: DataFrame, depth: Int, width: Int,
                          windowSeconds: Long = 3600L,
                          watermarkSeconds: Option[Long] = None,
                          tsCol: String = "ts",
                          textCol: String = "text"): DataFrame = {
    graft.operators.CountMin.checkParams(depth, width)
    require(windowSeconds > 0, "window must be positive")
    val withWm = watermarkSeconds.fold(docs)(w =>
      docs.withWatermark(tsCol, s"$w seconds"))
    withWm.select(col(tsCol).as("ts"),
        explode(Dedup.tokens(col(textCol))).as("tok"))
      .select(col("ts"),
        explode(graft.operators.CountMin.cells(col("tok"), depth, width)).as("c"))
      .groupBy(window(col("ts"), s"$windowSeconds seconds"),
        col("c.j").as("j"), col("c.pos").as("pos"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("j"), col("pos"),
        col("cnt"))
  }

  /** Streaming near-duplicate ingest gate — the live twin of
    * [[graft.operators.Dedup.minhashNearDupPairsCross]]: as documents
    * arrive, flag every one that is a verified near-duplicate of a
    * STATIC reference corpus (yesterday's index), emitting (id, ts)
    * exactly once per flagged doc. This is the quarantine feed an
    * ingest pipeline consumes before a batch dedup pass ever runs.
    *
    * One definition, both modes: on a static frame it degenerates to
    * the batch cross-dedup's flagged-delta set (asserted equal in
    * StreamingSpec); on a stream, pass `watermarkSeconds` so the
    * exactly-once id suppression uses watermark-bounded state
    * (`dropDuplicatesWithinWatermark`).
    *
    * Scale shape: the stream side is map-only through shingle →
    * signature → band buckets (the same portable hash family as the
    * batch operators), then two STATELESS stream-static joins — the
    * (band, bucket) candidate probe against the corpus bucket index
    * and the corpus_id probe against the shingle-set table, both
    * built ONCE by [[graft.operators.Dedup.nearDupIndex]] and reused
    * every micro-batch. The stream's compact per-doc hash set (KBs)
    * rides through the candidate join for the exact-Jaccard verify;
    * the only stateful operator is the final per-id suppression.
    * Near-dups WITHIN the stream are deliberately out of scope — that
    * is a stream-stream band self-join with unbounded state; inside
    * one ingest window the periodic batch pass owns it.
    */
  def nearDupGateStream(docs: DataFrame, corpus: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        corpusIdCol: String = "doc_id",
                        corpusTextCol: String = "text",
                        numHashes: Int = 64, bands: Int = 16,
                        shingleWidth: Int = 3, threshold: Double = 0.8,
                        tsCol: String = "ts",
                        watermarkSeconds: Option[Long] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val (index, sets) = Dedup.nearDupIndex(corpus, corpusIdCol, corpusTextCol,
      numHashes, bands, shingleWidth)
    val sh = graft.functions.NativeFunctions.polyShingleHashes(
      Dedup.tokens(col(textCol)), shingleWidth)
    val withWm = watermarkSeconds.fold(docs)(w =>
      docs.withWatermark(tsCol, s"$w seconds"))
    val sig = withWm
      .select(col(idCol).as("id"), col(tsCol).as("ts"), sh.as("sh"))
      .withColumn("sig", Dedup.minhashSignature(col("sh"), numHashes))
      .withColumn("bk", Dedup.lshBucketsPoly(col("sig"), bands, r))
    val flagged = sig
      .select(col("id"), col("ts"), col("sh"), explode(col("bk")).as("b"))
      .select(col("id"), col("ts"), col("sh"), col("b.band"), col("b.bucket"))
      .join(index, Seq("band", "bucket"))
      .join(sets, Seq("corpus_id"))
      .withColumn("jaccard",
        size(array_intersect(col("sh"), col("corpus_sh"))).cast(DoubleType) /
          size(array_union(col("sh"), col("corpus_sh"))).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id"), col("ts"))
    if (watermarkSeconds.isDefined) flagged.dropDuplicatesWithinWatermark(Seq("id"))
    else flagged.dropDuplicates(Seq("id"))
  }

  /** Streaming Bloom decontamination gate — the live twin of
    * [[graft.operators.Bloom.contaminationCard]]: as documents
    * arrive, probe the reference set's shingle Bloom filter and emit
    * (id, ts, n_hits) for every doc sharing (probabilistically) a
    * w-shingle with it — exactly once per id.
    *
    * One definition, both modes: on a static frame this is a plain
    * map + filter; on a stream, pass `watermarkSeconds` so the
    * exactly-once id suppression uses watermark-bounded state.
    *
    * The scale story is even cleaner than [[bm25GateStream]]'s: the
    * bit array is built once ([[graft.operators.Bloom.buildBloomWords]]
    * — reference-panel-sized, done at plan build) and rides the
    * native probe expression, so the per-doc work is ONE pass over
    * its own shingles with zero joins and zero aggregation state; the
    * only stateful operator is the final per-id suppression. False
    * positives pass the gate by design — route gated ids through
    * [[graft.operators.Bloom.decontaminateExact]]'s confirm join in
    * the periodic batch pass when exactness matters.
    */
  def bloomGateStream(docs: DataFrame, words: Array[Long], mBits: Int,
                      kHashes: Int, shingleW: Int,
                      idCol: String = "doc_id", textCol: String = "text",
                      tsCol: String = "ts",
                      watermarkSeconds: Option[Long] = None): DataFrame = {
    val withWm = watermarkSeconds.fold(docs)(w =>
      docs.withWatermark(tsCol, s"$w seconds"))
    val flagged = withWm
      .select(col(idCol).as("id"), col(tsCol).as("ts"),
        graft.functions.NativeFunctions.polyShingleHashes(
          Dedup.tokens(col(textCol)), shingleW).as("sh"))
      .select(col("id"), col("ts"),
        graft.functions.NativeFunctions.bloomShingleHits(
          col("sh"), words, mBits, kHashes).as("n_hits"))
      .filter(col("n_hits") > 0)
    if (watermarkSeconds.isDefined) flagged.dropDuplicatesWithinWatermark(Seq("id"))
    else flagged.dropDuplicates(Seq("id"))
  }

  /** Streaming BM25 decontamination gate — the live twin of
    * [[graft.operators.Retrieval.bm25TopK]]'s retrieval side, turned
    * into an ingest filter: as documents arrive, score each against a
    * STATIC probe panel (benchmark eval questions, known-bad seeds)
    * under BM25 statistics from a STATIC reference corpus, and emit
    * (id, ts, probe_id, score_micro) for every doc whose best probe
    * score reaches `minScoreMicro` — exactly once per id. Ties in the
    * best score break to the smallest probe_id.
    *
    * One definition, both modes: on a static frame this is a plain
    * map + filter; on a stream, pass `watermarkSeconds` so the
    * exactly-once id suppression uses watermark-bounded state.
    *
    * Scale shape: everything the stream touches is MAP-ONLY — the
    * probe panel's terms, their reference document frequencies, and
    * the corpus length stats are collected ONCE at plan build (all
    * KB-sized: an eval panel is tens of probes, not a workload) and
    * baked into the scoring expression as literals, so each arriving
    * doc is scored from its own bound token array with zero joins and
    * zero aggregation state. The only stateful operator is the final
    * per-id suppression. Scoring is the same fixed-order
    * floor(term·1e6)-then-sum integer discipline as the batch
    * operator (term tf from the arriving doc; idf and the dl
    * normalizer from the reference corpus). For corpus-scale probe
    * sets use the batch [[graft.operators.Retrieval.bm25TopK]] — a
    * plan-literal panel is the streaming trade, not a general index.
    */
  def bm25GateStream(docs: DataFrame, corpus: DataFrame, probes: DataFrame,
                     minScoreMicro: Long,
                     idCol: String = "doc_id", textCol: String = "text",
                     probeIdCol: String = "probe_id",
                     probeTermsCol: String = "terms",
                     k1: Double = 1.2, b: Double = 0.75,
                     tsCol: String = "ts",
                     watermarkSeconds: Option[Long] = None): DataFrame = {
    // plan-build-time reference statistics — all panel/KB-sized
    val panel: Seq[(Long, Seq[String])] = probes
      .select(col(probeIdCol).cast(LongType).as("pid"),
        col(probeTermsCol).as("terms"))
      .collect().toSeq
      .map(r => r.getLong(0) -> r.getSeq[String](1).distinct)
    require(panel.nonEmpty, "probe panel must be non-empty")
    require(panel.map(_._1).distinct.size == panel.size,
      "probe ids must be unique")
    val probeTerms = panel.flatMap(_._2).distinct
    val termIdx: Map[String, Int] = probeTerms.zipWithIndex.toMap
    // ONE reference-corpus pass for n_docs, total_tokens AND every
    // panel term's df (df = docs whose one-pass term-frequency vector
    // is positive at that term — identical to the old distinct-token
    // explode, which walked the whole vocabulary per doc and cost a
    // SECOND corpus tokenize next to the stats pass)
    val corpusTf = corpus
      .select(TextAnalysis.cleanTokens(col(textCol)).as("cts"))
      .select(size(col("cts")).cast(LongType).as("dl"),
        graft.functions.NativeFunctions.termFreqs(col("cts"), probeTerms)
          .as("tf"))
    val aggs = count(lit(1)).as("n_docs") +:
      sum(col("dl")).as("total_tokens") +:
      probeTerms.indices.map(i =>
        sum(when(element_at(col("tf"), i + 1) > 0, 1L).otherwise(0L))
          .as(s"df_$i"))
    val statsRow = corpusTf.agg(aggs.head, aggs.tail: _*).head()
    val nDocs = statsRow.getLong(0)
    require(nDocs > 0, "reference corpus must be non-empty")
    val totalTokens = statsRow.getLong(1)
    val dfMap: Map[String, Long] = probeTerms.zipWithIndex
      .map { case (t, i) => t -> statsRow.getLong(2 + i) }
      .filter(_._2 > 0L).toMap

    // one term's micro score from the arriving doc's one-pass term-
    // frequency vector (the old formulation ran a filter-HOF token-
    // array walk per (probe, term) — O(panel terms · doc length)
    // interpreted lambdas per doc); terms the reference never saw
    // contribute 0 (no df -> no calibrated idf) rather than a made-up
    // weight
    def termScore(term: String): Column = dfMap.get(term) match {
      case None => lit(0L)
      case Some(df) =>
        val idf = math.log(1.0 +
          (nDocs.toDouble - df + 0.5) / (df.toDouble + 0.5))
        val tf = element_at(col("__tf"), termIdx(term) + 1)
          .cast(DoubleType)
        floor(lit(idf) * (tf * lit(k1 + 1.0)) /
          (tf + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("__dl") * lit(nDocs.toDouble) /
              lit(totalTokens.toDouble))) *
          lit(1000000.0)).cast(LongType)
    }

    val withWm = watermarkSeconds.fold(docs)(w =>
      docs.withWatermark(tsCol, s"$w seconds"))
    val base = withWm.select(col(idCol).as("id"), col(tsCol).as("ts"),
        TextAnalysis.cleanTokens(col(textCol)).as("__ts"))
      .withColumn("__dl", size(col("__ts")).cast(DoubleType))
      .withColumn("__tf",
        graft.functions.NativeFunctions.termFreqs(col("__ts"), probeTerms))
    // best probe per doc: array_max over (score, -probe_id) structs —
    // lexicographic struct order gives max score, ties to smallest id
    val scoreStructs = panel.map { case (pid, terms) =>
      struct(terms.map(termScore).reduce(_ + _).as("score_micro"),
        lit(-pid).as("neg_probe"))
    }
    val flagged = base
      .withColumn("__best", array_max(array(scoreStructs: _*)))
      .select(col("id"), col("ts"),
        (-col("__best.neg_probe")).as("probe_id"),
        col("__best.score_micro").as("score_micro"))
      .filter(col("score_micro") >= minScoreMicro)
    if (watermarkSeconds.isDefined) flagged.dropDuplicatesWithinWatermark(Seq("id"))
    else flagged.dropDuplicates(Seq("id"))
  }

  /** Live BM25 index maintenance — the streaming driver of
    * [[graft.operators.Retrieval.appendToBm25Index]]'s LSM split:
    * each micro-batch of NEW documents lands as one delta-sized
    * segment (O(batch) work, the base is never re-read), and every
    * `compactEvery` appends the segment chain folds back into one
    * bucketed layout. Wire it as a foreachBatch sink:
    *
    * {{{
    * val m = new Bm25IndexMaintainer(spark, basePrefix, "doc_id", "text",
    *   compactEvery = 8)
    * stream.writeStream.foreachBatch(m.appendBatch _).start()
    * ...
    * Retrieval.bm25TopKFromIndex(spark, m.currentPrefix, panel, ...)
    * }}}
    *
    * Exactly-once: segment prefixes are keyed by batchId, and a batch
    * whose stats table already exists (a foreachBatch retry) is
    * re-pointed to, not re-appended — the same idempotence the
    * parquet-sink gates rely on. Recovery after a restart re-derives
    * the newest prefix from the catalog ([[Bm25IndexMaintainer
    * .recoverLatestPrefix]]): doc counts are monotone under append
    * and preserved by compaction, so max n_docs (ties to the
    * lexicographically last name) IS the chain head.
    */
  final class Bm25IndexMaintainer(spark: org.apache.spark.sql.SparkSession,
                                  basePrefix: String, idCol: String,
                                  textCol: String, compactEvery: Int = 0,
                                  buckets: Int = 32, championC: Int = 0) {
    import graft.operators.Retrieval
    @volatile var currentPrefix: String =
      Bm25IndexMaintainer.recoverLatestPrefix(spark, basePrefix)
    /** Freshest champion derivation, maintained automatically on every
      * compaction tick when `championC` > 0. The champion is a DERIVED
      * artifact — without this hook a deployment that appends daily
      * serves a stale champion until someone remembers (the lineage
      * audit [[graft.operators.Retrieval.requireChampionFresh]] would
      * catch it loudly, but the maintainer's job is to not get there).
      * None until the first compaction has run.
      */
    @volatile var currentChampionPrefix: Option[String] = None
    private var appendsSinceCompact = 0

    def appendBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
      if (batch.isEmpty) return
      val segPrefix = s"${basePrefix}_b$batchId"
      if (spark.catalog.tableExists(s"${segPrefix}_stats")) {
        currentPrefix = segPrefix // retry of a completed batch: re-point
      } else {
        Retrieval.appendToBm25Index(spark, currentPrefix, batch, idCol,
          textCol, segPrefix, buckets)
        currentPrefix = segPrefix
        appendsSinceCompact += 1
      }
      if (compactEvery > 0 && appendsSinceCompact >= compactEvery) {
        val cp = s"${basePrefix}_c$batchId"
        if (!spark.catalog.tableExists(s"${cp}_stats"))
          Retrieval.compactBm25Index(spark, currentPrefix, cp, buckets)
        currentPrefix = cp
        appendsSinceCompact = 0
        // champion re-derivation rides the compaction tick: the new
        // compacted prefix names a new champion prefix, so the cached
        // gate derives fresh (and a batchId retry finds it idempotent)
        if (championC > 0)
          currentChampionPrefix =
            Some(Retrieval.bm25ChampionCached(spark, cp, championC, buckets))
      }
    }
  }

  object Bm25IndexMaintainer {
    /** Newest prefix of a maintenance chain: among the base and its
      * `_b*`/`_c*` descendants with a stats table, the max n_docs
      * (ties to the last name) — append-monotone, compaction-stable.
      */
    def recoverLatestPrefix(spark: org.apache.spark.sql.SparkSession,
                            basePrefix: String): String = {
      // chain members are EXACTLY _b{batchId} / _c{batchId} — a digit
      // anchor, not a bare startsWith, because derived artifacts also
      // live under the base's name (a champion `{base}_ch4_stats`
      // matches startsWith(`{base}_c`) and has no ids/digest tier, so
      // recovering onto it would break the next append)
      val chain = s"^${java.util.regex.Pattern.quote(basePrefix)}_[bc]\\d+_stats$$".r
      val names = spark.catalog.listTables().collect().map(_.name)
        .filter(n => n == s"${basePrefix}_stats" ||
          chain.pattern.matcher(n).matches())
        .map(_.stripSuffix("_stats"))
      if (names.isEmpty) basePrefix
      else names.map { p =>
        (spark.table(s"${p}_stats").head().getAs[Long]("n_docs"), p)
      }.max._2
    }
  }

  /** Live IVF index maintenance — the streaming driver of
    * [[graft.operators.IvfIndex.appendToIvfIndex]]'s frozen-centroid
    * append path: each micro-batch of NEW vectors is assigned with
    * the index's frozen centroids and lands in its cell partitions
    * (O(batch) work, base partitions untouched). Wire it as a
    * foreachBatch sink:
    *
    * {{{
    * val m = new IvfIndexMaintainer(spark, prefix, "vec_id",
    *   "embedding", centroids)
    * stream.writeStream.foreachBatch(m.appendBatch _).start()
    * ...
    * IvfIndex.ivfTopKFromIndex(spark, prefix, panel, k, centroids, ...)
    * }}}
    *
    * Exactly-once differs from [[Bm25IndexMaintainer]] BY DESIGN:
    * BM25 appends write per-batch SEGMENTS (new table prefixes), so a
    * retry is detected by the segment's existence; IVF appends mutate
    * the assignments table IN PLACE (an assignment row is a per-vector
    * fact — there is nothing to re-merge, so segments would buy
    * nothing), which means retries must be detected from a LEDGER.
    * That ledger is the stats table's lineage chain: every fold is
    * tagged `b{batchId}:{content-fingerprint}`, a retried batchId is
    * recognized and skipped before any write, and restart recovery is
    * free — the prefix never changes and the ledger IS the recovered
    * state. Recall drift under the frozen centroids remains the
    * monitored trade (`sim_recall_ivf_append`), never a silent effect.
    */
  final class IvfIndexMaintainer(spark: org.apache.spark.sql.SparkSession,
                                 prefix: String, idCol: String,
                                 vecCol: String,
                                 centroids: Array[Array[Float]],
                                 retrainEveryAppends: Int = 0,
                                 retrainCentroids: Int = 0) {
    import graft.operators.IvfIndex

    // the serving pointer: appends target the CURRENT index; a
    // retrain flips it to the retrained child prefix, and subsequent
    // batches assign with the FRESH centroids. Probes read these
    // through servingPrefix/servingCentroidSet.
    @volatile private var serving: String = prefix
    @volatile private var servingCents: Array[Array[Float]] = centroids
    private var appendsSinceRetrain = 0

    def servingPrefix: String = serving
    def servingCentroidSet: Array[Array[Float]] = servingCents

    def appendBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
      if (batch.isEmpty) return
      // HAZARD (the in-place-append twin of the segmented chain's
      // same-bucketed-union note): foreachBatch hands a DataFrame
      // bound to a CLONED SparkSession whose relation cache is
      // separate from the outer session's. An append executed through
      // the clone invalidates only the clone's cache — the outer
      // session would keep serving the PRE-APPEND file listing of the
      // mutated tables. So the whole fold runs under the batch's own
      // session (ledger read included, or a retry check could miss
      // fresh ledger entries), and the outer session's cached
      // relations are explicitly refreshed afterwards. The BM25
      // maintainer never faces this because its appends create NEW
      // table names, which no session has cached.
      val sp = batch.sparkSession
      val tag = s"b$batchId"
      // the retrained child's lineage CONTAINS the parent chain, so a
      // retried pre-retrain batchId still ledger-hits after the flip
      if (IvfIndex.lineageHasTag(sp, serving, tag)) return // retry: done
      IvfIndex.appendToIvfIndex(sp, serving, batch, idCol, vecCol,
        servingCents, lineageTag = tag)
      Seq("assign", "ids", "stats", "iddigest")
        .foreach(t => spark.catalog.refreshTable(s"${serving}_$t"))
      appendsSinceRetrain += 1
      if (retrainEveryAppends > 0 && appendsSinceRetrain >= retrainEveryAppends)
        retrainNow(sp)
    }

    /** Retrain the serving index from its own vectors and flip the
      * serving pointer — called automatically every
      * `retrainEveryAppends` folds, or directly by a drift monitor
      * when the `sim_recall_ivf_append`-style card crosses its
      * threshold (the measurement that makes retraining a policy,
      * not a guess). Idempotent via [[IvfIndex.ivfRetrainCached]]:
      * a crashed-then-retried retrain serves the already-built child.
      */
    def retrainNow(sp: org.apache.spark.sql.SparkSession = spark): Unit =
      synchronized {
        val n = if (retrainCentroids > 0) retrainCentroids
                else servingCents.length
        val (np, nc) = IvfIndex.ivfRetrainCached(sp, serving, n)
        serving = np
        servingCents = nc
        appendsSinceRetrain = 0
        Seq("assign", "ids", "stats", "iddigest", "centroids")
          .foreach(t => spark.catalog.refreshTable(s"${np}_$t"))
      }
  }

  /** Live exact-dedup index maintenance — the streaming driver of
    * [[graft.operators.DedupIndex]]: each micro-batch is GATED
    * against everything ever ingested (map-only digest probe; the
    * fps table is read only when the digest flags something) and only
    * the batch's new distinct texts are appended — O(batch) work, the
    * historical corpus is never re-read. The batch's rows, annotated
    * with (is_dup, dup_of), go wherever the caller's sink routes them;
    * this class maintains the INDEX side.
    *
    * Exactly-once follows the [[IvfIndexMaintainer]] ledger
    * discipline (appends are in-place, so the lineage ledger + the
    * intent marker are the idempotence record): a retried batchId is
    * recognized and skipped before any write. An all-dup batch
    * appends nothing and writes no ledger entry — a retry simply
    * re-gates to the same empty survivor set, so idempotence holds
    * without a record. The cloned-session cache hazard is the same
    * as IVF's and handled the same way.
    */
  final class DedupIndexMaintainer(spark: org.apache.spark.sql.SparkSession,
                                   prefix: String, idCol: String,
                                   textCol: String) {
    import graft.operators.{DedupIndex, IvfIndex}

    def appendBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
      if (batch.isEmpty) return
      val sp = batch.sparkSession
      val tag = s"b$batchId"
      if (IvfIndex.lineageHasTag(sp, prefix, tag)) return // retry: done
      val survivors = DedupIndex.gateNewDocs(sp, prefix, batch, idCol, textCol)
        .filter(!col("is_dup")).select(col("id"))
      val newDocs = batch.join(
        survivors.withColumnRenamed("id", idCol), Seq(idCol), "left_semi")
      if (!newDocs.isEmpty)
        DedupIndex.appendToDedupIndex(sp, prefix, newDocs, idCol, textCol,
          lineageTag = tag)
      Seq("fps", "fpdigest", "stats")
        .foreach(t => spark.catalog.refreshTable(s"${prefix}_$t"))
    }
  }

  /** Live near-dup index maintenance — the LSH twin of
    * [[DedupIndexMaintainer]]: every micro-batch's docs are appended
    * to the persisted signature index (an index RECORDS what exists;
    * whether a near-dup batch row is admitted downstream is the
    * caller's gate policy via
    * [[graft.operators.NearDupIndex.gateNearDups]]). Appends are
    * per-doc signature facts — exact by construction — and
    * exactly-once rests on the same lineage-ledger batchId tags +
    * intent marker as the other in-place maintainers. The id guard
    * inside the append refuses replayed rows that somehow bypass the
    * ledger.
    */
  final class NearDupIndexMaintainer(spark: org.apache.spark.sql.SparkSession,
                                     prefix: String, idCol: String,
                                     textCol: String) {
    import graft.operators.{IvfIndex, NearDupIndex}

    def appendBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
      if (batch.isEmpty) return
      val sp = batch.sparkSession
      val tag = s"b$batchId"
      if (IvfIndex.lineageHasTag(sp, prefix, tag)) return // retry: done
      NearDupIndex.appendToNearDupIndex(sp, prefix, batch, idCol, textCol,
        lineageTag = tag)
      Seq("buckets", "sets", "bkdigest", "stats")
        .foreach(t => spark.catalog.refreshTable(s"${prefix}_$t"))
    }
  }

  /** Live image near-dup index maintenance — the pixel-tier twin of
    * [[DedupIndexMaintainer]]: each micro-batch's (id, dhash, phash)
    * rows (hashed upstream by [[graft.operators.ImageHash
    * .imageHashes]]; undecodables filtered by the caller) append to
    * the persisted banded-Hamming index
    * ([[graft.operators.ImageHashIndex]], 128-bit dhash‖phash bands).
    * Admission policy stays the caller's via `gateImageMatches`;
    * exactly-once rests on the shared lineage-ledger batchId tags +
    * intent marker, with the id guard refusing replayed rows that
    * somehow bypass the ledger.
    */
  final class ImageIndexMaintainer(spark: org.apache.spark.sql.SparkSession,
                                   prefix: String, idCol: String,
                                   dhashCol: String, phashCol: String) {
    import graft.operators.{ImageHashIndex, IvfIndex}

    def appendBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
      if (batch.isEmpty) return
      val sp = batch.sparkSession
      val tag = s"b$batchId"
      if (IvfIndex.lineageHasTag(sp, prefix, tag)) return // retry: done
      ImageHashIndex.appendToImageIndex(sp, prefix, batch, idCol, dhashCol,
        phashCol, lineageTag = tag)
      Seq("hashes", "bands", "bdigest", "stats")
        .foreach(t => spark.catalog.refreshTable(s"${prefix}_$t"))
    }
  }

  /** Live edit-similarity (entity-resolution) index maintenance — the
    * fuzzy-key twin of [[DedupIndexMaintainer]]: each micro-batch's
    * records are appended to the persisted gram index
    * ([[graft.operators.EditIndex]] — full gram sets + strings +
    * SUM-folded freq hints + gram digest, all O(batch)); whether an
    * arriving record that fuzzy-matches history is admitted is the
    * caller's policy via [[graft.operators.EditIndex
    * .gateEditMatches]], exactly like the near-dup maintainer's
    * split. Exactly-once rests on the shared lineage-ledger batchId
    * tags + intent marker; the id guard inside the append refuses
    * replayed rows that somehow bypass the ledger.
    */
  final class EditIndexMaintainer(spark: org.apache.spark.sql.SparkSession,
                                  prefix: String, idCol: String,
                                  strCol: String) {
    import graft.operators.{EditIndex, IvfIndex}

    def appendBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
      if (batch.isEmpty) return
      val sp = batch.sparkSession
      val tag = s"b$batchId"
      if (IvfIndex.lineageHasTag(sp, prefix, tag)) return // retry: done
      EditIndex.appendToEditIndex(sp, prefix, batch, idCol, strCol,
        lineageTag = tag)
      // refresh whichever tables the index's strategy materialized
      // (deletion: dels; qgram: grams + gramfreq)
      Seq("dels", "grams", "strs", "gramfreq", "gdigest", "stats")
        .filter(t => sp.catalog.tableExists(s"${prefix}_$t"))
        .foreach(t => spark.catalog.refreshTable(s"${prefix}_$t"))
    }
  }

  /** Streaming maintainer for the incremental near-dup CLUSTERING
    * index: each micro-batch's docs are folded into the persisted
    * cluster assignments ([[graft.operators.ClusterIndex
    * .appendToClusterIndex]] — edges through the embedded LSH index,
    * merges via representatives), so `resolvedMembers` always answers
    * with what a from-scratch batch closure over everything streamed
    * so far would assign. Exactly-once via the lineage-ledger batchId
    * tag (a foreachBatch retry of a fully-applied batch is a no-op;
    * a crash mid-fold leaves the intent marker, which refuses further
    * work loudly rather than serving a half-merged clustering).
    */
  final class ClusterIndexMaintainer(spark: org.apache.spark.sql.SparkSession,
                                     prefix: String, idCol: String,
                                     textCol: String) {
    import graft.operators.ClusterIndex

    def appendBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
      if (batch.isEmpty) return
      val sp = batch.sparkSession
      val tag = s"b$batchId"
      if (ClusterIndex.lineageHasTag(sp, prefix, tag)) return // retry: done
      ClusterIndex.appendToClusterIndex(sp, prefix, batch, idCol, textCol,
        lineageTag = tag)
      Seq("members", "remap", "stats", "nd_buckets", "nd_sets",
        "nd_bkdigest", "nd_stats")
        .foreach(t => spark.catalog.refreshTable(s"${prefix}_$t"))
    }
  }

  /** The LIVE curation flagship — the composed micro-batched twin of
    * the `q_curation_gate` batch row, running the curation DAG's
    * admission stages online per batch:
    *
    *   (B) per-doc HEALTH gate — the Gopher rule set
    *       ([[graft.operators.TextAnalysis.gopherSignals]].pass);
    *   (C) TRAINED quality keep — the hashed-linear score under the
    *       FROZEN weights artifact passed at construction (the
    *       deployed train-once/serve-many shape: a stream must not
    *       retrain per batch), keep = score >= 0 (the
    *       text_quality_trained decision rule);
    *   (D) exact-dup gate vs the fingerprint index (+ in-batch
    *       keep-first) and near-dup gate vs the LSH index;
    *   admitted rows land under `admitDir/batch=<id>/` and BOTH
    *   indexes grow by them — so the NEXT batch is gated against
    *   everything admitted before it (the cross-batch semantics a
    *   one-shot union gate cannot express).
    *
    * Exactly-once follows [[IngestGatePipeline]]'s discipline
    * verbatim: per-batch overwrite output written before any append,
    * lineage-ledger batchId tags on both index folds, and the
    * committed output (never the live plan) feeding the appends.
    * StreamingSpec pins the stream row-equal to a sequential
    * per-batch replay of the batch operators over the same arrivals.
    */
  final class CurationStreamPipeline(spark: org.apache.spark.sql.SparkSession,
                                     ddPrefix: String, ndPrefix: String,
                                     weights: Array[Long], threshold: Double,
                                     admitDir: String, idCol: String,
                                     textCol: String) {
    import graft.operators.{DedupIndex, IvfIndex, NearDupIndex, TextAnalysis}

    def processBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
      if (batch.isEmpty) return
      val sp = batch.sparkSession
      val tag = s"b$batchId"
      val outPath = s"$admitDir/batch=$batchId"
      val ddDone = IvfIndex.lineageHasTag(sp, ddPrefix, tag)
      val ndDone = IvfIndex.lineageHasTag(sp, ndPrefix, tag)
      if (!ddDone && !ndDone) {
        val healthy = batch
          .withColumn("__g", TextAnalysis.gopherSignals(col(textCol)))
          .filter(col("__g.pass")).drop("__g")
        val quality = TextAnalysis.hashedLinearScore(healthy, idCol, textCol,
            weights)
          .filter(col("score") >= 0L)
          .select(col("id").as(idCol))
        val exact = DedupIndex.gateNewDocs(sp, ddPrefix, batch, idCol, textCol)
          .select(col("id").as(idCol), col("is_dup"))
        val nearIds = NearDupIndex.gateNearDups(sp, ndPrefix, batch,
            idCol, textCol, threshold)
          .select(col("delta_id").as(idCol)).distinct()
        val admitted = healthy
          .join(quality, Seq(idCol))
          .join(exact, Seq(idCol)).filter(!col("is_dup")).drop("is_dup")
          .join(nearIds, Seq(idCol), "left_anti")
        admitted.write.mode("overwrite").parquet(outPath)
      }
      val stable = sp.read.parquet(outPath)
      if (!stable.isEmpty) {
        if (!ddDone)
          DedupIndex.appendToDedupIndex(sp, ddPrefix, stable,
            idCol, textCol, lineageTag = tag)
        if (!ndDone)
          NearDupIndex.appendToNearDupIndex(sp, ndPrefix, stable,
            idCol, textCol, lineageTag = tag)
      }
      (Seq("fps", "fpdigest").map(t => s"${ddPrefix}_$t") ++
        Seq("buckets", "sets", "bkdigest").map(t => s"${ndPrefix}_$t") ++
        Seq(s"${ddPrefix}_stats", s"${ndPrefix}_stats"))
        .foreach(t => spark.catalog.refreshTable(t))
    }
  }

  /** The LIVE four-gate ingest pipeline — the deployment twin of the
    * `q_ingest_gate` batch flagship, actually running online: every
    * micro-batch is gated (exact-dup vs the fingerprint index +
    * in-batch first-occurrence, near-dup vs the LSH index, exact
    * two-tier decontamination vs the benchmark panel, quality floor),
    * ADMITTED rows land under `admitDir/batch=<id>/`, and both dedup
    * indexes grow by the admitted docs — so the NEXT batch is gated
    * against everything admitted before it. The indexes record the
    * ADMITTED corpus: a rejected text re-arriving is re-rejected by
    * the same gate that rejected it, never by the index.
    *
    * Exactly-once: the admitted output is a PER-BATCH directory
    * written with overwrite (a foreachBatch retry rewrites the same
    * content instead of appending duplicates), and the index appends
    * carry the lineage-ledger batchId tags. Cross-batch semantics are
    * the honest online ones: a batch-2 doc near-duplicating an
    * ADMITTED batch-1 doc is rejected — which a one-shot batch gate
    * over the union cannot express; StreamingSpec pins the stream
    * against a sequential per-batch replay of the batch operators.
    */
  final class IngestGatePipeline(spark: org.apache.spark.sql.SparkSession,
                                 ddPrefix: String, ndPrefix: String,
                                 ref: DataFrame, words: Array[Long],
                                 mBits: Int, kHashes: Int, shingleW: Int,
                                 qualityMin: Long, threshold: Double,
                                 admitDir: String, idCol: String,
                                 textCol: String) {
    import graft.operators.{Bloom, DedupIndex, IvfIndex, NearDupIndex, TextAnalysis}
    import org.apache.spark.sql.types.LongType

    def processBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
      if (batch.isEmpty) return
      val sp = batch.sparkSession
      val tag = s"b$batchId"
      val outPath = s"$admitDir/batch=$batchId"
      val ddDone = IvfIndex.lineageHasTag(sp, ddPrefix, tag)
      val ndDone = IvfIndex.lineageHasTag(sp, ndPrefix, tag)
      // RETRY discipline: the output dir is written BEFORE any index
      // append, so a ledger tag implies the output is committed. The
      // admitted plan reads the indexes it is about to grow — after a
      // partial commit, re-evaluating it would see its own rows as
      // duplicates and overwrite the good output with nothing. So the
      // output is rewritten ONLY when no append has committed yet
      // (index state = gate state, the recompute is bit-identical).
      if (!ddDone && !ndDone) {
        val exact = DedupIndex.gateNewDocs(sp, ddPrefix, batch, idCol, textCol)
          .select(col("id").as(idCol), col("is_dup"))
        val nearIds = NearDupIndex.gateNearDups(sp, ndPrefix, batch,
            idCol, textCol, threshold)
          .select(col("delta_id").as(idCol)).distinct()
        val contamIds = Bloom.decontaminateExact(batch, ref, idCol, textCol,
            words, mBits, kHashes, shingleW)
          .filter(col("contaminated")).select(col("id").as(idCol))
        val admitted = batch
          .join(exact, Seq(idCol)).filter(!col("is_dup")).drop("is_dup")
          .join(nearIds, Seq(idCol), "left_anti")
          .join(contamIds, Seq(idCol), "left_anti")
          .filter(floor(TextAnalysis.qualityScoreRaw(col(textCol)) *
            lit(10000.0) + lit(0.5)).cast(LongType) >= qualityMin)
        admitted.write.mode("overwrite").parquet(outPath)
      }
      // the COMMITTED output feeds the appends — never the live plan
      val stable = sp.read.parquet(outPath)
      if (!stable.isEmpty) {
        if (!ddDone)
          DedupIndex.appendToDedupIndex(sp, ddPrefix, stable,
            idCol, textCol, lineageTag = tag)
        if (!ndDone)
          NearDupIndex.appendToNearDupIndex(sp, ndPrefix, stable,
            idCol, textCol, lineageTag = tag)
      }
      (Seq("fps", "fpdigest").map(t => s"${ddPrefix}_$t") ++
        Seq("buckets", "sets", "bkdigest").map(t => s"${ndPrefix}_$t") ++
        Seq(s"${ddPrefix}_stats", s"${ndPrefix}_stats"))
        .foreach(t => spark.catalog.refreshTable(t))
    }
  }
}
