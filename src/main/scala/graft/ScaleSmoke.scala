package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bloom, CountMin, Dedup, Frames, Hll, Retrieval, Similarity, Temporal, TextAnalysis}

/** Scale-behavior smoke: replicates the sf0.1 corpus K-fold (ids
  * offset per replica so replicas are near-duplicates of each other —
  * the worst case for dedup operators) and times the heavy operators
  * at 1x and Kx. The point is the RATIO: an operator whose runtime
  * grows ~linearly in corpus size survives a 1000-executor scale-up;
  * quadratic growth shows up immediately as ratio >> K.
  *
  * Usage: sbt "runMain graft.ScaleSmoke [K]"   (default K=10)
  * Results are recorded in SCALE.md.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // fresh per-run warehouse (see [[BenchWarehouse]]): K=20 index
      // builds write GBs of managed tables — they must not pile up in
      // cwd's spark-warehouse across runs or leak into Verify's state
      .config("spark.sql.warehouse.dir", BenchWarehouse.freshDir("scale"))
      // a K=20 session accumulates tens of GB of shuffle files across
      // ~50 timed blocks; they are only reclaimed when their
      // ShuffleDependency objects are GC'd, and a single-JVM session
      // under memory headroom may not GC for the whole run — the
      // driver-side periodic GC bounds on-disk spill at roughly one
      // block's working set instead of the session's sum
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1 << 20).selectExpr("sum(id * 2)").collect()

    val docs1 = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("text")).cache()
    val n1 = docs1.count()
    // K replicas with disjoint id ranges; each replica's text gets a
    // distinct marker token appended so replicas are NEAR-duplicates
    // (jaccard just under 1), not exact ones — keeps pair counts
    // near-dup-shaped instead of exploding into K-cliques of identity
    val offset = 1000000L
    val docsK = (0 until k).map { r =>
      docs1.select((col("doc_id") + lit(r * offset)).as("doc_id"), col("lang"),
        concat(col("text"), lit(s" replica$r marker$r")).as("text"))
    }.reduce(_ unionByName _).repartition(32).cache()
    val nK = docsK.count()

    // events replicas: disjoint USER ranges, so per-key series sizes
    // stay constant and only key count grows — the honest linear
    // shape for the keyed temporal operators
    val ev1 = Tables.table(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts")).cache()
    val v1 = ev1.count()
    val evK = (0 until k).map { r =>
      ev1.select((col("event_id") + lit(r * offset)).as("event_id"),
        (col("user_id") + lit(r * offset)).as("user_id"),
        col("event_type"), col("ts"))
    }.reduce(_ unionByName _).repartition(32).cache()
    evK.count()

    val emb1 = Tables.table(spark, sfDir, "embeddings").cache()
    val e1 = emb1.count()
    val embK = (0 until k).map { r =>
      emb1.select((col("vec_id") + lit(r * offset)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionByName _).repartition(32).cache()
    val eK = embK.count()

    // embed_neardup needs replicas that are NOT near-dups of each
    // other (exact copies would form K-cliques: output — and so any
    // timing — quadratic in K by construction, not by operator).
    // Circularly rotating each replica's vector keeps every
    // within-replica cosine identical (rotation is an isometry) while
    // cross-replica pairs go near-orthogonal: pair count grows
    // exactly K-fold, the shape a linear operator must track.
    def rotated(e: org.apache.spark.sql.Column, r: Int): org.apache.spark.sql.Column =
      if (r == 0) e else concat(slice(e, r + 1, 64 - r), slice(e, 1, r))
    val embKr = (0 until k).map { r =>
      emb1.select((col("vec_id") + lit(r * offset)).as("vec_id"),
        rotated(col("embedding"), r).as("embedding"), col("label"))
    }.reduce(_ unionByName _).repartition(32).cache()
    embKr.count()

    // the q_curation_v2 composition (Gopher gate -> ppl-bucket drop ->
    // span-coverage cap -> exact dedup), parameterized by corpus
    def curationV2(docs: DataFrame): DataFrame = {
      val gated = docs.select(col("doc_id"), col("lang"), col("text"),
          TextAnalysis.gopherSignals(col("text")).as("g"))
        .filter(col("g.pass"))
      val ppl = TextAnalysis.perplexityBuckets(docs, "doc_id", "text", "lang")
        .select(col("id").as("doc_id"), col("bucket"))
      val spanCover = Dedup.duplicatedSpans(docs, "doc_id", "text", minLen = 8)
        .select(col("id").as("doc_id"), col("span_len"))
        .groupBy(col("doc_id")).agg(sum(col("span_len")).as("dup_tokens"))
      val kept = gated.join(ppl, Seq("doc_id"))
        .filter(col("bucket") =!= "tail")
        .join(spanCover, Seq("doc_id"), "left")
        .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
        .filter(col("dup_tokens") * 10L <= col("g.n_words") * 3L)
      Dedup.exactDedup(kept, "doc_id", "text")
    }

    def time(name: String)(f: => Long): (String, Double, Long) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      val rows = f
      val s = (System.nanoTime() - t0) / 1e9
      // measure, then drop, operator-INTERNAL persists (LSH signature
      // / fingerprint tables, both sides of the cross-dedup, DSIR
      // cells) so they don't occupy executor memory while later
      // blocks are timed — only the four corpus caches made before
      // any timing stay resident throughout. The reported footprint
      // is what a caller that never calls clearCache() would leave
      // resident PER QUERY — the number SCALE.md's clearCache-cadence
      // guidance is based on.
      val newInfos = spark.sparkContext.getRDDStorageInfo
        .filterNot(i => before(i.id))
      val memMb = newInfos.map(_.memSize).sum / 1e6
      val diskMb = newInfos.map(_.diskSize).sum / 1e6
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => before(id) }
        .values.foreach(_.unpersist(blocking = false))
      val cached = if (newInfos.isEmpty) "" else
        f"  [internal persists: ${newInfos.length}%d rdds, ${memMb}%.1f MB mem + ${diskMb}%.1f MB disk]"
      println(f"[scale] $name%-28s ${s}%8.2f s  ($rows rows)$cached")
      (name, s, rows)
    }

    println(s"[scale] corpus: $n1 docs -> $nK docs (${k}x); $e1 -> $eK embeddings")

    // fixed probe panel for the BM25 blocks (the 1x corpus's
    // every-50th doc): a query workload does not grow because the
    // index did
    val bm25Probes = docs1.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"),
        slice(TextAnalysis.cleanTokens(col("text")), 1, 5).as("qterms"))

    // fixed SQ8 query panel (every-50th 1x embedding) — like the BM25
    // probes: the query workload does not grow because the corpus did
    val sq8Queries = emb1.filter(col("vec_id") % 50 === 0).cache()
    sq8Queries.count()

    // fixed-size delta for the index-append blocks: a day's arrivals
    // do not grow because the historical index did (ids offset far
    // outside both corpora so the disjointness guard passes)
    val fixedDelta = docs1.limit(500)
      .select((col("doc_id") + 50000000L).as("doc_id"), col("text")).cache()
    fixedDelta.count()

    // fixed Bloom reference panel + bit array (built once — a
    // benchmark suite does not grow with the training corpus)
    val bloomRef = docs1.filter(col("doc_id") % 20 === 0)
    val bloomWords = Bloom.buildBloomWords(bloomRef, "text", 1 << 21, 4, 8)

    // fixed reference distribution for the windowed drift monitor —
    // a deployed monitor's reference (yesterday's corpus) does not
    // grow with today's window volume
    val driftRef = TextAnalysis.referenceTermStats(docs1, "text", topK = 64)

    // iteration aid: SPARK_GRAFT_SCALE_ONLY=scd2|r11 skips the carried
    // blocks and runs only the named new-block section (a failed new
    // block should not cost a full-session rerun to re-measure)
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
    val runMain = only.isEmpty
    val runDedup = only.isEmpty || only.contains("r11")
    val runScd2 = only.isEmpty || only.contains("scd2") || only.contains("r11")
    val runR12 = only.isEmpty || only.contains("r12")
    val runR12b = only.isEmpty || only.contains("r12b")
    val runR12c = only.isEmpty || only.contains("r12c")
    val runR12d = only.isEmpty || only.contains("r12d")
    val runR13 = only.isEmpty || only.contains("r13")
    val runR13b = only.isEmpty || only.contains("r13b")
    val runR13c = only.isEmpty || only.contains("r13c")
    val runR14 = only.isEmpty || only.contains("r14")
    val runR15 = only.isEmpty || only.contains("r15")
    val runR15b = only.isEmpty || only.contains("r15b")
    val results = (if (!runMain) Seq.empty[(String, Double, Long)] else Seq(
      time("minhash_lsh_1x") {
        Dedup.minhashNearDupPairs(docs1, "doc_id", "text", 64, 16, 3, 0.5)
          .queryExecution.toRdd.count() },
      time(s"minhash_lsh_${k}x") {
        Dedup.minhashNearDupPairs(docsK, "doc_id", "text", 64, 16, 3, 0.5)
          .queryExecution.toRdd.count() },
      time("simhash_1x") {
        Dedup.simhashNearDupPairs(docs1, "doc_id", "text", 3)
          .queryExecution.toRdd.count() },
      time(s"simhash_${k}x") {
        Dedup.simhashNearDupPairs(docsK, "doc_id", "text", 3)
          .queryExecution.toRdd.count() },
      time("exact_dedup_1x") {
        Dedup.exactDupGroups(docs1, "doc_id", "text")
          .queryExecution.toRdd.count() },
      time(s"exact_dedup_${k}x") {
        Dedup.exactDupGroups(docsK, "doc_id", "text")
          .queryExecution.toRdd.count() },
      time("ivf_topk_1x") {
        val c = Similarity.trainIvfCentroids(emb1, Similarity.suggestedCentroids(e1), 64, 1)
        Similarity.ivfTopK(emb1, emb1, 1, c, 4).queryExecution.toRdd.count() },
      time(s"ivf_topk_${k}x") {
        val c = Similarity.trainIvfCentroids(embK, Similarity.suggestedCentroids(eK), 64, 1)
        Similarity.ivfTopK(embK, embK, 1, c, 4).queryExecution.toRdd.count() },
      time(s"ivf_fixed16_${k}x") {
        val c = Similarity.trainIvfCentroids(embK, 16, 64, 1)
        Similarity.ivfTopK(embK, embK, 1, c, 4).queryExecution.toRdd.count() },
      time("lsh_topk_1x") {
        Similarity.lshTopK(emb1, emb1, 1, 64,
          numPlanes = Similarity.suggestedPlanes(e1)).queryExecution.toRdd.count() },
      time(s"lsh_topk_${k}x") {
        Similarity.lshTopK(embK, embK, 1, 64,
          numPlanes = Similarity.suggestedPlanes(eK)).queryExecution.toRdd.count() },
      time("line_dedup_1x") {
        Dedup.lineDedup(docs1, "doc_id", "text").queryExecution.toRdd.count() },
      time(s"line_dedup_${k}x") {
        Dedup.lineDedup(docsK, "doc_id", "text").queryExecution.toRdd.count() },
      time("cross_dedup_1x") {
        Dedup.minhashNearDupPairsCross(
          docs1.filter(col("doc_id") % 5 === 0), docs1.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", 64, 16, 3, 0.5).queryExecution.toRdd.count() },
      time(s"cross_dedup_${k}x") {
        Dedup.minhashNearDupPairsCross(
          docsK.filter(col("doc_id") % 5 === 0), docsK.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", 64, 16, 3, 0.5).queryExecution.toRdd.count() },
      time("embed_neardup_1x") {
        Similarity.cosineNearDupPairs(emb1, 64, 0.35,
          numPlanes = Similarity.suggestedPlanes(e1)).queryExecution.toRdd.count() },
      time(s"embed_neardup_${k}x") {
        Similarity.cosineNearDupPairs(embKr, 64, 0.35,
          numPlanes = Similarity.suggestedPlanes(eK)).queryExecution.toRdd.count() },
      time("ivf_pq_topk_1x") {
        val coarse = Similarity.trainIvfCentroids(emb1, Similarity.suggestedCentroids(e1), 64)
        val cbs = Similarity.trainPqCodebooks(emb1, 8, 16, 64)
        Similarity.ivfPqTopK(emb1, emb1, 1, coarse, cbs, nProbe = 4,
          shortlist = Similarity.suggestedShortlist(e1, 1))
          .queryExecution.toRdd.count() },
      time(s"ivf_pq_topk_${k}x") {
        val coarse = Similarity.trainIvfCentroids(embKr, Similarity.suggestedCentroids(eK), 64)
        val cbs = Similarity.trainPqCodebooks(embKr, 8, 16, 64)
        Similarity.ivfPqTopK(embKr, embKr, 1, coarse, cbs, nProbe = 4,
          shortlist = Similarity.suggestedShortlist(eK, 1))
          .queryExecution.toRdd.count() },
      time("sem_dedup_1x") {
        val c = Similarity.trainIvfCentroids(emb1, Similarity.suggestedCentroids(e1), 64, 1)
        Similarity.semanticDedupPairs(emb1, "vec_id", "embedding", c, 0.35)
          .queryExecution.toRdd.count() },
      time(s"sem_dedup_${k}x") {
        val c = Similarity.trainIvfCentroids(embKr, Similarity.suggestedCentroids(eK), 64, 1)
        Similarity.semanticDedupPairs(embKr, "vec_id", "embedding", c, 0.35)
          .queryExecution.toRdd.count() },
      time("span_cut_1x") {
        Dedup.spanDedup(docs1, "doc_id", "text", 8)
          .queryExecution.toRdd.count() },
      time(s"span_cut_${k}x") {
        Dedup.spanDedup(docsK, "doc_id", "text", 8)
          .queryExecution.toRdd.count() },
      time("dup_spans_1x") {
        Dedup.duplicatedSpans(docs1, "doc_id", "text", 8)
          .queryExecution.toRdd.count() },
      time(s"dup_spans_${k}x") {
        Dedup.duplicatedSpans(docsK, "doc_id", "text", 8)
          .queryExecution.toRdd.count() },
      time("winnow_pairs_1x") {
        Dedup.winnowingNearDupPairs(docs1, "doc_id", "text", 4, 4, 2)
          .queryExecution.toRdd.count() },
      time(s"winnow_pairs_${k}x") {
        Dedup.winnowingNearDupPairs(docsK, "doc_id", "text", 4, 4, 2)
          .queryExecution.toRdd.count() },
      time("jaccard_dford_1x") {
        Dedup.ngramJaccardPairsDfOrdered(docs1, "doc_id", "text", 3, 0.5)
          .queryExecution.toRdd.count() },
      time(s"jaccard_dford_${k}x") {
        // replicas are near-dups of each other: every shingle's df is
        // multiplied K-fold and cross-replica pairs are real near-dups
        // — the hot-shingle adversarial case the df-ordered prefix
        // index exists for
        Dedup.ngramJaccardPairsDfOrdered(docsK, "doc_id", "text", 3, 0.5)
          .queryExecution.toRdd.count() },
      time("pack_sequences_1x") {
        graft.operators.Frames.packSequences(
          docs1.select(col("doc_id"), size(split(trim(col("text")), "\\s+")).as("nt")),
          "doc_id", "nt", budget = 512, bucketSize = 1024)
          .queryExecution.toRdd.count() },
      time(s"pack_sequences_${k}x") {
        graft.operators.Frames.packSequences(
          docsK.select(col("doc_id"), size(split(trim(col("text")), "\\s+")).as("nt")),
          "doc_id", "nt", budget = 512, bucketSize = 1024)
          .queryExecution.toRdd.count() },
      // re-composed flagship: MinHash-LSH discovery -> bounded exact-
      // Jaccard verify -> best-quality survivor per component (the
      // documented 100 TB play; exact-pair discovery measured 61-155x
      // at 20x before the re-composition)
      time("cluster_best_1x") {
        val scored = docs1.withColumn("q", length(col("text")).cast("long"))
        val pairs = Dedup.minhashNearDupPairs(docs1, "doc_id", "text", 64, 32, 3, 0.5)
        Dedup.dedupByNearDupPreferring(scored, "doc_id", pairs, "q")
          .queryExecution.toRdd.count() },
      time(s"cluster_best_${k}x") {
        val scored = docsK.withColumn("q", length(col("text")).cast("long"))
        val pairs = Dedup.minhashNearDupPairs(docsK, "doc_id", "text", 64, 32, 3, 0.5)
        Dedup.dedupByNearDupPreferring(scored, "doc_id", pairs, "q")
          .queryExecution.toRdd.count() },
      // 5 groups TOTAL: the adversarial low-cardinality case for
      // per-group quantiles — the bucket-parallel rank keeps ~32
      // sort tasks per group instead of one task per group
      time("winsorize5_1x") {
        Frames.winsorizeByGroup(docs1.select((col("doc_id") % 5).as("grp"),
            length(col("text")).cast("long").as("v")), "grp", "v", 0.01, 0.99)
          .queryExecution.toRdd.count() },
      time(s"winsorize5_${k}x") {
        Frames.winsorizeByGroup(docsK.select((col("doc_id") % 5).as("grp"),
            length(col("text")).cast("long").as("v")), "grp", "v", 0.01, 0.99)
          .queryExecution.toRdd.count() },
      time("hard_neg_ivf_1x") {
        val c = Similarity.trainIvfCentroids(emb1, Similarity.suggestedCentroids(e1), 64, 1)
        Similarity.hardNegativesIvf(emb1, "label", 2, c, 4)
          .queryExecution.toRdd.count() },
      time(s"hard_neg_ivf_${k}x") {
        val c = Similarity.trainIvfCentroids(embKr, Similarity.suggestedCentroids(eK), 64, 1)
        Similarity.hardNegativesIvf(embKr, "label", 2, c, 4)
          .queryExecution.toRdd.count() },
      time("epoch_pack_1x") {
        val sh = Frames.deterministicShuffle(docs1.select(col("doc_id"),
            size(split(trim(col("text")), "\\s+")).cast("long").as("nt")), "doc_id", 8)
          .withColumn("ord", col("shard").cast("long") * lit(1000000L) + col("pos"))
        Frames.packSequences(sh, "ord", "nt", budget = 512, bucketSize = 1024)
          .queryExecution.toRdd.count() },
      time(s"epoch_pack_${k}x") {
        val sh = Frames.deterministicShuffle(docsK.select(col("doc_id"),
            size(split(trim(col("text")), "\\s+")).cast("long").as("nt")), "doc_id", 8)
          .withColumn("ord", col("shard").cast("long") * lit(1000000L) + col("pos"))
        Frames.packSequences(sh, "ord", "nt", budget = 512, bucketSize = 1024)
          .queryExecution.toRdd.count() },
      time("asof_nearest_1x") {
        val purch = ev1.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = Frames.uniqueFirst(ev1.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id")),
          Seq("user_id", "click_ts"), Seq(col("click_id")))
        Temporal.asofJoin(purch, clicks, Seq("user_id"), "ts", "click_ts",
          direction = "nearest").queryExecution.toRdd.count() },
      time(s"asof_nearest_${k}x") {
        val purch = evK.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = Frames.uniqueFirst(evK.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id")),
          Seq("user_id", "click_ts"), Seq(col("click_id")))
        Temporal.asofJoin(purch, clicks, Seq("user_id"), "ts", "click_ts",
          direction = "nearest").queryExecution.toRdd.count() },
      time("curation_v2_1x") { curationV2(docs1).queryExecution.toRdd.count() },
      time(s"curation_v2_${k}x") { curationV2(docsK).queryExecution.toRdd.count() },
      // the three round-5 map-only text ops: shape says linear, but the
      // gopher query proved shape claims don't bound per-row constants
      // — so they get measured ratios like every other stateful op
      // (repetitionSignals is the round-7 native rebuild)
      time("gopher_repetition_1x") {
        docs1.select(col("doc_id"),
          TextAnalysis.repetitionSignals(col("text")).as("r"))
          .queryExecution.toRdd.count() },
      time(s"gopher_repetition_${k}x") {
        docsK.select(col("doc_id"),
          TextAnalysis.repetitionSignals(col("text")).as("r"))
          .queryExecution.toRdd.count() },
      time("pii_redact_1x") {
        docs1.select(col("doc_id"),
          TextAnalysis.piiRedact(col("text")).as("p"))
          .queryExecution.toRdd.count() },
      time(s"pii_redact_${k}x") {
        docsK.select(col("doc_id"),
          TextAnalysis.piiRedact(col("text")).as("p"))
          .queryExecution.toRdd.count() },
      time("chunks_cover_1x") {
        TextAnalysis.chunkByTokens(docs1, "doc_id", "text", 64, 48)
          .queryExecution.toRdd.count() },
      time(s"chunks_cover_${k}x") {
        TextAnalysis.chunkByTokens(docsK, "doc_id", "text", 64, 48)
          .queryExecution.toRdd.count() },
      // round-7 stateful text ops: the bigram LM builds two Zipf-small
      // histograms (the internal-persist pattern), the source report
      // shuffles by md5 then by source — both need measured ratios
      time("bigram_logprob_1x") {
        TextAnalysis.bigramLogProb(docs1, "doc_id", "text")
          .queryExecution.toRdd.count() },
      time(s"bigram_logprob_${k}x") {
        TextAnalysis.bigramLogProb(docsK, "doc_id", "text")
          .queryExecution.toRdd.count() },
      time("source_report_1x") {
        TextAnalysis.sourceHealthReport(
          docs1.withColumn("source", (col("doc_id") % 20).cast("string")),
          "doc_id", "text", "source", "lang",
          TextAnalysis.demoQualityWeights(256))
          .queryExecution.toRdd.count() },
      time(s"source_report_${k}x") {
        TextAnalysis.sourceHealthReport(
          docsK.withColumn("source", (col("doc_id") % 20).cast("string")),
          "doc_id", "text", "source", "lang",
          TextAnalysis.demoQualityWeights(256))
          .queryExecution.toRdd.count() },
      // round-8 additions: the interpolated LM (adds one extra
      // broadcast lookup over the add-one sibling), the full
      // train->artifact->score loop (training is a token explode into
      // a 256-bucket aggregate — the shuffle must stay KB-sized), and
      // the curation_v3 flagship (the whole five-stage composition on
      // a replicated corpus; its near-dup/template families replicate
      // with the corpus, so discovery and closure grow with it)
      time("bigram_interp_1x") {
        TextAnalysis.bigramLogProbInterp(docs1, "doc_id", "text")
          .queryExecution.toRdd.count() },
      time(s"bigram_interp_${k}x") {
        TextAnalysis.bigramLogProbInterp(docsK, "doc_id", "text")
          .queryExecution.toRdd.count() },
      time("quality_trained_1x") {
        val w = TextAnalysis.loadWeights(
          TextAnalysis.trainBucketWeights(docs1, "text", col("lang") === "en", 256), 256)
        TextAnalysis.hashedLinearScore(docs1, "doc_id", "text", w)
          .queryExecution.toRdd.count() },
      time(s"quality_trained_${k}x") {
        val w = TextAnalysis.loadWeights(
          TextAnalysis.trainBucketWeights(docsK, "text", col("lang") === "en", 256), 256)
        TextAnalysis.hashedLinearScore(docsK, "doc_id", "text", w)
          .queryExecution.toRdd.count() },
      time("curation_v3_1x") {
        PipelineQueries.curationV3(docs1.withColumn("source",
            concat(lit("src"), (col("doc_id") % 20).cast("string"))))
          .queryExecution.toRdd.count() },
      time(s"curation_v3_${k}x") {
        PipelineQueries.curationV3(docsK.withColumn("source",
            concat(lit("src"), (col("doc_id") % 20).cast("string"))))
          .queryExecution.toRdd.count() },
      // round-8 closing additions. BM25: the probe panel is FIXED
      // (the 1x corpus's every-50th doc) while the corpus grows K-fold
      // — the deployed shape (a query workload does not grow because
      // the index did). Index build is linear; each probe term matches
      // ~K-fold more docs, so candidates grow ~K — linear overall.
      time("bm25_topk_1x") {
        Retrieval.bm25TopK(docs1, "doc_id", "text",
          bm25Probes, "query_id", "qterms", k = 10)
          .queryExecution.toRdd.count() },
      time(s"bm25_topk_${k}x") {
        Retrieval.bm25TopK(docsK, "doc_id", "text",
          bm25Probes, "query_id", "qterms", k = 10)
          .queryExecution.toRdd.count() },
      // temperature mix: count agg + broadcast card + per-source
      // window; source count held at 20 so per-source series grow K-fold
      time("temperature_mix_1x") {
        Frames.temperatureMixSqrt(docs1.withColumn("source",
            concat(lit("src"), (col("doc_id") % 20).cast("string"))),
          "source", "doc_id").queryExecution.toRdd.count() },
      time(s"temperature_mix_${k}x") {
        Frames.temperatureMixSqrt(docsK.withColumn("source",
            concat(lit("src"), (col("doc_id") % 20).cast("string"))),
          "source", "doc_id").queryExecution.toRdd.count() },
      // tokenizer fertility: 6 vocab-sized training aggregates (vocab
      // saturates, so training cost flattens) + one linear encode pass
      time("bpe_fertility_1x") {
        val m = TextAnalysis.trainBpeMerges(docs1, "text", merges = 6).map(_._1)
        docs1.select(col("doc_id"),
            TextAnalysis.bpeTokenCount(col("text"), m).as("n_bpe"))
          .groupBy(col("doc_id") % 20).agg(sum(col("n_bpe")))
          .queryExecution.toRdd.count() },
      time(s"bpe_fertility_${k}x") {
        val m = TextAnalysis.trainBpeMerges(docsK, "text", merges = 6).map(_._1)
        docsK.select(col("doc_id"),
            TextAnalysis.bpeTokenCount(col("text"), m).as("n_bpe"))
          .groupBy(col("doc_id") % 20).agg(sum(col("n_bpe")))
          .queryExecution.toRdd.count() },
      // SQ8 search: fixed query panel, corpus grows — the int8
      // broadcast-NL scoring is O(panel x corpus), so linear in K;
      // the exact re-rank stays panel x shortlist sized
      time("sq8_topk_1x") {
        Similarity.sqTopK(emb1, sq8Queries, k = 10,
            shortlist = Similarity.suggestedShortlist(e1, 10),
            excludeSelf = false)
          .queryExecution.toRdd.count() },
      time(s"sq8_topk_${k}x") {
        Similarity.sqTopK(embKr, sq8Queries, k = 10,
            shortlist = Similarity.suggestedShortlist(eK, 10),
            excludeSelf = false)
          .queryExecution.toRdd.count() },
      // Z-order layout: one 4-value stats pass + a map-only key
      // projection + the bucket-envelope agg — pure scan-bound, the
      // ratio should track raw data growth
      time("zorder_layout_1x") {
        val keyed = graft.operators.Layout.zorderKeyed(
          ev1.withColumn("uk", col("user_id").cast("long"))
            .withColumn("tk", unix_timestamp(col("ts")).cast("long")),
          col("uk"), col("tk"))
        keyed.groupBy(col("zbucket"))
          .agg(count(lit(1)), min(col("uk")), max(col("uk")))
          .queryExecution.toRdd.count() },
      time(s"zorder_layout_${k}x") {
        val keyed = graft.operators.Layout.zorderKeyed(
          evK.withColumn("uk", col("user_id").cast("long"))
            .withColumn("tk", unix_timestamp(col("ts")).cast("long")),
          col("uk"), col("tk"))
        keyed.groupBy(col("zbucket"))
          .agg(count(lit(1)), min(col("uk")), max(col("uk")))
          .queryExecution.toRdd.count() },
      // JS drift card: source count held at 20, per-source token mass
      // grows K-fold — one corpus-keyed count shuffle + vocab-sized
      // downstream; linear is the pass bar
      time("source_drift_1x") {
        TextAnalysis.sourceTermDrift(docs1.withColumn("source",
            concat(lit("src"), (col("doc_id") % 20).cast("string"))),
          "source", "text").queryExecution.toRdd.count() },
      time(s"source_drift_${k}x") {
        TextAnalysis.sourceTermDrift(docsK.withColumn("source",
            concat(lit("src"), (col("doc_id") % 20).cast("string"))),
          "source", "text").queryExecution.toRdd.count() },
      // snapshot drift: each side one map-combined histogram; the
      // vocab-sized full join is the only post-shuffle work
      time("snapshot_drift_1x") {
        TextAnalysis.termDriftBetween(
          docs1.filter(col("doc_id") % 2 === 0),
          docs1.filter(col("doc_id") % 2 === 1), "text")
          .queryExecution.toRdd.count() },
      time(s"snapshot_drift_${k}x") {
        TextAnalysis.termDriftBetween(
          docsK.filter(col("doc_id") % 2 === 0),
          docsK.filter(col("doc_id") % 2 === 1), "text")
          .queryExecution.toRdd.count() },
      // windowed drift monitor (batch mode): per-doc O(K·L) count
      // vectors, ONE array_sum_agg per window — linear is the bar;
      // window count held constant so state stays fixed
      time("drift_windowed_1x") {
        val (tm, cn, tt) = driftRef
        graft.streaming.DocStreams.termDriftWindowed(
            docs1.withColumn("ts",
              timestamp_seconds(pmod(col("doc_id"), lit(100000L)))),
            tm, cn, tt, windowSeconds = 3600L)
          .queryExecution.toRdd.count() },
      time(s"drift_windowed_${k}x") {
        val (tm, cn, tt) = driftRef
        graft.streaming.DocStreams.termDriftWindowed(
            docsK.withColumn("ts",
              timestamp_seconds(pmod(col("doc_id"), lit(100000L)))),
            tm, cn, tt, windowSeconds = 3600L)
          .queryExecution.toRdd.count() },
      // data-quality constraint suite: one fused conditional
      // aggregate over one scan — must track raw data growth
      time("data_quality_1x") {
        graft.operators.Quality.checkConstraints(docs1, Seq(
            "nonempty" -> (length(col("text")) > 0),
            "lang_known" -> col("lang").isin("en", "fr", "zh", "de", "es"),
            "id_positive" -> (col("doc_id") > 0L)))
          .queryExecution.toRdd.count() },
      time(s"data_quality_${k}x") {
        graft.operators.Quality.checkConstraints(docsK, Seq(
            "nonempty" -> (length(col("text")) > 0),
            "lang_known" -> col("lang").isin("en", "fr", "zh", "de", "es"),
            "id_positive" -> (col("doc_id") > 0L)))
          .queryExecution.toRdd.count() },
      // snapshot diff: both sides reduce to (id, md5) before the one
      // full-outer shuffle — fixed-width rows, linear
      time("snapshot_diff_docs_1x") {
        graft.operators.Quality.snapshotDiff(
            docs1.filter(col("doc_id") % 2 === 0),
            docs1.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
          .queryExecution.toRdd.count() },
      time(s"snapshot_diff_docs_${k}x") {
        graft.operators.Quality.snapshotDiff(
            docsK.filter(col("doc_id") % 2 === 0),
            docsK.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
          .queryExecution.toRdd.count() },
      // IVF-SQ8: the composed production index — cell gate bounds
      // candidates, int8 kernel ranks, exact re-rank panel-sized
      time("ivf_sq8_topk_1x") {
        val cents = Similarity.trainIvfCentroids(emb1,
          Similarity.suggestedCentroids(e1), dim = 64)
        Similarity.ivfSqTopK(emb1, sq8Queries, k = 10, cents, nProbe = 4,
            shortlist = Similarity.suggestedShortlist(e1, 10),
            excludeSelf = false)
          .queryExecution.toRdd.count() },
      time(s"ivf_sq8_topk_${k}x") {
        val cents = Similarity.trainIvfCentroids(embKr,
          Similarity.suggestedCentroids(eK), dim = 64)
        Similarity.ivfSqTopK(embKr, sq8Queries, k = 10, cents, nProbe = 4,
            shortlist = Similarity.suggestedShortlist(eK, 10),
            excludeSelf = false)
          .queryExecution.toRdd.count() },

      // FFD packing: the per-shard greedy fold is the parallel unit —
      // 32 shards on 32 cores; the ratio is the one hash-partition
      // shuffle plus the token-count scan
      time("pack_ffd_1x") {
        Frames.packSequencesFfd(
            docs1.select(col("doc_id"),
              size(TextAnalysis.tokens(col("text"))).as("n")),
            "doc_id", "n", budget = 512, nShards = 32)
          .queryExecution.toRdd.count() },
      time(s"pack_ffd_${k}x") {
        Frames.packSequencesFfd(
            docsK.select(col("doc_id"),
              size(TextAnalysis.tokens(col("text"))).as("n")),
            "doc_id", "n", budget = 512, nShards = 32)
          .queryExecution.toRdd.count() },

      // Bloom decontamination: the reference panel (and so the bit
      // array) is FIXED — a benchmark suite does not grow because the
      // corpus did; the probe is map-only, so the ratio is scan-bound
      time("bloom_decontam_1x") {
        Bloom.contaminationCard(docs1, "doc_id", "text", bloomWords,
            1 << 21, 4, 8)
          .queryExecution.toRdd.count() },
      time(s"bloom_decontam_${k}x") {
        Bloom.contaminationCard(docsK, "doc_id", "text", bloomWords,
            1 << 21, 4, 8)
          .queryExecution.toRdd.count() },
      time("decontam_two_tier_1x") {
        Bloom.decontaminateExact(docs1, bloomRef, "doc_id", "text",
            bloomWords, 1 << 21, 4, 8)
          .queryExecution.toRdd.count() },
      time(s"decontam_two_tier_${k}x") {
        Bloom.decontaminateExact(docsK, bloomRef, "doc_id", "text",
            bloomWords, 1 << 21, 4, 8)
          .queryExecution.toRdd.count() },

      // CMS / HLL: one grid- (register-) keyed aggregate — state is
      // corpus-independent, the ratio is token-stream throughput
      time("cms_heavy_1x") {
        CountMin.heavyHittersCard(docs1, "text", 4, 1024, 20)
          .queryExecution.toRdd.count() },
      time(s"cms_heavy_${k}x") {
        CountMin.heavyHittersCard(docsK, "text", 4, 1024, 20)
          .queryExecution.toRdd.count() },
      time("hll_distinct_1x") {
        Hll.hllDistinctCard(docs1, "text", 256)
          .queryExecution.toRdd.count() },
      time(s"hll_distinct_${k}x") {
        Hll.hllDistinctCard(docsK, "text", 256)
          .queryExecution.toRdd.count() },

      // index BUILD is corpus-linear by construction; APPENDING a
      // FIXED delta must be corpus-FLAT (ratio ~1) — the LSM claim:
      // maintenance scales with the day's arrivals, not with
      // everything ever ingested. The append writes one delta-sized
      // segment; its only base-sized touch is the 128 KB id digest.
      time("bm25_build_1x") {
        Retrieval.buildBm25Index(docs1, "doc_id", "text", "ss_bm25_1x"); n1 },
      time(s"bm25_build_${k}x") {
        Retrieval.buildBm25Index(docsK, "doc_id", "text", s"ss_bm25_${k}x"); nK },
      time("bm25_append_1x") {
        Retrieval.appendToBm25Index(spark, "ss_bm25_1x", fixedDelta,
          "doc_id", "text", "ss_bm25_1x_d"); 500L },
      time(s"bm25_append_${k}x") {
        Retrieval.appendToBm25Index(spark, s"ss_bm25_${k}x", fixedDelta,
          "doc_id", "text", s"ss_bm25_${k}x_d"); 500L },

      // CHAMPION probe: per-term candidate work is capped at c=64, so
      // the champion probe must stay corpus-FLAT as every probed
      // term's df grows K-fold, while the exact probe's candidate
      // volume grows with df. The derivation itself (one window over
      // the postings) is corpus-linear, paid once.
      {
        Seq("ss_bm25_1x_ch64", s"ss_bm25_${k}x_ch64").foreach { p =>
          Seq("postings", "termstats", "stats").foreach(s =>
            graft.operators.Bucketing.dropTableAndLocation(spark, s"${p}_$s"))
        }
        time("bm25_champ_derive_1x") {
          Retrieval.bm25ChampionCached(spark, "ss_bm25_1x", c = 64); n1 }
      },
      time(s"bm25_champ_derive_${k}x") {
        Retrieval.bm25ChampionCached(spark, s"ss_bm25_${k}x", c = 64); nK },
      time("bm25_probe_exact_1x") {
        Retrieval.bm25TopKFromIndex(spark, "ss_bm25_1x", bm25Probes,
          "query_id", "qterms", 10).queryExecution.toRdd.count() },
      time(s"bm25_probe_exact_${k}x") {
        Retrieval.bm25TopKFromIndex(spark, s"ss_bm25_${k}x", bm25Probes,
          "query_id", "qterms", 10).queryExecution.toRdd.count() },
      time("bm25_probe_champ_1x") {
        Retrieval.bm25TopKFromIndex(spark, "ss_bm25_1x_ch64", bm25Probes,
          "query_id", "qterms", 10).queryExecution.toRdd.count() },
      time(s"bm25_probe_champ_${k}x") {
        Retrieval.bm25TopKFromIndex(spark, s"ss_bm25_${k}x_ch64", bm25Probes,
          "query_id", "qterms", 10).queryExecution.toRdd.count() }
    )) ++ (if (!runDedup) Seq.empty[(String, Double, Long)] else Seq(
      // DEDUP-INDEX gate: a fixed 500-doc batch gated against a 1x vs
      // 20x historical fingerprint index. The CLEAN batch (texts in
      // neither corpus) must be corpus-FLAT — the digest clears it
      // map-only and the fps table is never read. The DIRTY batch
      // (all re-submissions) pays the tier-2 confirm: one read of the
      // fps table's (md5, keep_id) projection — index-sized but
      // two-column, the honest worst case the digest exists to make
      // rare.
      {
        Seq("ss_dd_1x", s"ss_dd_${k}x").foreach { p =>
          Seq("fps", "fpdigest", "stats").foreach(s =>
            graft.operators.Bucketing.dropTableAndLocation(spark, s"${p}_$s"))
        }
        time("dedup_build_1x") {
          graft.operators.DedupIndex.buildDedupIndex(
            docs1, "doc_id", "text", "ss_dd_1x"); n1 }
      },
      time(s"dedup_build_${k}x") {
        graft.operators.DedupIndex.buildDedupIndex(
          docsK, "doc_id", "text", s"ss_dd_${k}x"); nK },
      time("dedup_gate_clean_1x") {
        graft.operators.DedupIndex.gateNewDocs(spark, "ss_dd_1x",
          docs1.limit(500).select((col("doc_id") + 60000000L).as("doc_id"),
            concat(col("text"), lit(" cleannew")).as("text")),
          "doc_id", "text").queryExecution.toRdd.count() },
      time(s"dedup_gate_clean_${k}x") {
        graft.operators.DedupIndex.gateNewDocs(spark, s"ss_dd_${k}x",
          docs1.limit(500).select((col("doc_id") + 60000000L).as("doc_id"),
            concat(col("text"), lit(" cleannew")).as("text")),
          "doc_id", "text").queryExecution.toRdd.count() },
      time("dedup_gate_dirty_1x") {
        graft.operators.DedupIndex.gateNewDocs(spark, "ss_dd_1x",
          docs1.limit(500).select((col("doc_id") + 70000000L).as("doc_id"),
            col("text")),
          "doc_id", "text").queryExecution.toRdd.count() },
      time(s"dedup_gate_dirty_${k}x") {
        graft.operators.DedupIndex.gateNewDocs(spark, s"ss_dd_${k}x",
          docsK.limit(500).select((col("doc_id") + 80000000L).as("doc_id"),
            col("text")),
          "doc_id", "text").queryExecution.toRdd.count() },

      // NEAR-DUP index gate: same fixed-batch discipline for the LSH
      // tier — a batch whose buckets the index has never seen is
      // cleared by the map-only digest; colliding buckets pay
      // postings + sets reads for the collisions only.
      {
        Seq("ss_nd_1x", s"ss_nd_${k}x").foreach { p =>
          Seq("buckets", "sets", "bkdigest", "stats").foreach(s =>
            graft.operators.Bucketing.dropTableAndLocation(spark, s"${p}_$s"))
        }
        time("neardup_build_1x") {
          graft.operators.NearDupIndex.buildNearDupIndex(
            docs1, "doc_id", "text", "ss_nd_1x"); n1 }
      },
      time(s"neardup_build_${k}x") {
        graft.operators.NearDupIndex.buildNearDupIndex(
          docsK, "doc_id", "text", s"ss_nd_${k}x"); nK },
      // the probe batch's texts are vowel-rewritten so their shingles
      // (and so their buckets) exist in NEITHER corpus — the CLEAN
      // batch whose cost must not grow with the index
      time("neardup_gate_1x") {
        graft.operators.NearDupIndex.gateNearDups(spark, "ss_nd_1x",
          docs1.limit(500).select((col("doc_id") + 90000000L).as("doc_id"),
            translate(col("text"), "aeiou", "qqqqq").as("text")),
          "doc_id", "text", threshold = 0.8)
          .queryExecution.toRdd.count() },
      time(s"neardup_gate_${k}x") {
        graft.operators.NearDupIndex.gateNearDups(spark, s"ss_nd_${k}x",
          docs1.limit(500).select((col("doc_id") + 90000000L).as("doc_id"),
            translate(col("text"), "aeiou", "qqqqq").as("text")),
          "doc_id", "text", threshold = 0.8)
          .queryExecution.toRdd.count() }
    )) ++ (if (!runScd2) Seq.empty[(String, Double, Long)] else {
      // SCD2 fold: per-fold cost must be SNAPSHOT-sized, not
      // history-sized. The history lives in the lakehouse layout the
      // operator documents (partitioned by is_current); each fold
      // appends the newly-closed rows to the dead partition and
      // rewrites ONLY the current partition — already-closed history
      // is untouched storage the fold's scans prune. Snapshots use
      // the adversarial maximum churn (every id's payload moves every
      // version, so every fold closes the whole slice and the dead
      // partition grows a full snapshot per fold). Timed: the fold at
      // depth 2 vs the SAME fold at depth k+1 (dead partition ~k
      // snapshots deep) — flat ratio = the claim measured.
      val hdir = java.nio.file.Files
        .createTempDirectory("ss-scd2").toString
      def snapAt(v: Long) = ev1.select(col("event_id").as("id"),
        concat(col("event_type"), lit("_"), lit(v)).as("payload"))
      def foldStep(v: Long): Unit = {
        // partition discovery infers the is_current directory values
        // as STRING — cast back to the operator's boolean contract
        val hist = spark.read.parquet(hdir)
          .select(col("id"), col("payload"), col("valid_from"),
            col("valid_to"), col("is_current").cast("boolean").as("is_current"))
        val folded = graft.operators.Quality.scd2Apply(
          hist, snapAt(v), "id", "payload", v)
        // the lakehouse write set: newly-closed rows append to the
        // dead partition; the current partition is rewritten. Both
        // writes mutate directories their own lineage READS, so both
        // are localCheckpoint()ed first — checkpointing SEVERS the
        // lineage (a cache-evicted persist() would recompute from the
        // partially overwritten source and corrupt the fixture;
        // pinning must not depend on eviction policy)
        val newClosed = folded
          .filter(!col("is_current") && col("valid_to") === lit(v))
          .drop("is_current")
          .localCheckpoint()
        val newCur = folded.filter(col("is_current")).drop("is_current")
          .localCheckpoint()
        newClosed.write.mode("append").parquet(s"$hdir/is_current=false")
        newCur.write.mode("overwrite").parquet(s"$hdir/is_current=true")
      }
      graft.operators.Quality.scd2Init(snapAt(0), "id", "payload", 0L)
        .drop("is_current")
        .write.mode("overwrite").parquet(s"$hdir/is_current=true")
      foldStep(1) // depth-1 bootstrap (untimed, like the index builds)
      val r1 = time("scd2_fold_1x") { foldStep(2); v1 }
      (3L to k.toLong).foreach(foldStep) // grow the dead partition
      val rk = time(s"scd2_fold_${k}x") { foldStep(k + 1L); v1 }
      // negative control: materializing the FULL folded history
      // (what a consumer that ignores the layout pays) is
      // history-sized — the cost the current-slice fold avoids
      val rf = time(s"scd2_fold_full_${k}x") {
        graft.operators.Quality.scd2Apply(
            spark.read.parquet(hdir).select(col("id"), col("payload"),
              col("valid_from"), col("valid_to"),
              col("is_current").cast("boolean").as("is_current")),
            snapAt(k + 2L), "id", "payload", k + 2L)
          .queryExecution.toRdd.count()
      }
      Seq(r1, rk, rf)
    }) ++ (if (!runR12) Seq.empty[(String, Double, Long)] else {
      // ROUND-12 blocks: (a) FIXED-delta appends for the three
      // in-place index families — with the O(delta) digest union an
      // append's cost must be corpus-FLAT, the BM25 template
      // (bm25_append 1.0x is the bar); (b) the COMPOSED four-gate
      // ingest flagship (q_ingest_gate's exact plan) against a 1x vs
      // Kx admitted history — each gate is individually proven
      // corpus-FLAT for a clean batch, this measures that the
      // composition inherits it.
      import graft.operators.{DedupIndex, NearDupIndex, IvfIndex}
      // indexes for the section, built untimed (builds are timed in
      // the round-11 blocks; these exist to be gated/appended against)
      Seq("ss_ig_dd_1x", s"ss_ig_dd_${k}x", "ss_ig_nd_1x", s"ss_ig_nd_${k}x",
          "ss_ig_ivf_1x", s"ss_ig_ivf_${k}x").foreach { p =>
        spark.catalog.listTables().collect().map(_.name)
          .filter(_.startsWith(p))
          .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
      }
      DedupIndex.buildDedupIndex(docs1, "doc_id", "text", "ss_ig_dd_1x")
      DedupIndex.buildDedupIndex(docsK, "doc_id", "text", s"ss_ig_dd_${k}x")
      NearDupIndex.buildNearDupIndex(docs1, "doc_id", "text", "ss_ig_nd_1x")
      NearDupIndex.buildNearDupIndex(docsK, "doc_id", "text", s"ss_ig_nd_${k}x")
      val igCents = Similarity.trainIvfCentroids(emb1,
        nCentroids = Similarity.suggestedCentroids(e1), dim = 64, iterations = 1)
      IvfIndex.buildIvfIndex(emb1, "vec_id", "embedding", igCents, "ss_ig_ivf_1x")
      IvfIndex.buildIvfIndex(embK, "vec_id", "embedding", igCents,
        s"ss_ig_ivf_${k}x")
      // the composed gate: a fixed 500-doc CLEAN batch (vowel-
      // rewritten texts — novel shingles for both corpora) through
      // exact-dup, near-dup, decontamination (fixed reference panel:
      // benchmark suites do not grow with the archive) and the
      // quality floor, in ONE plan
      val igBatch = docs1.limit(500)
        .select((col("doc_id") + 95000000L).as("doc_id"),
          translate(col("text"), "aeiou", "qqqqq").as("text"))
        .cache()
      igBatch.count()
      val igRef = docs1.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), col("text"))
      val igWords = graft.operators.Bloom.buildBloomWords(igRef, "text",
        mBits = 1 << 15, kHashes = 4, shingleW = 8)
      def composedGate(ddPrefix: String, ndPrefix: String): Long = {
        val exact = DedupIndex.gateNewDocs(spark, ddPrefix, igBatch,
            "doc_id", "text")
          .select(col("id").as("doc_id"), col("is_dup").as("exact_dup"))
        val near = NearDupIndex.gateNearDups(spark, ndPrefix, igBatch,
            "doc_id", "text", threshold = 0.5)
          .select(col("delta_id").as("doc_id")).distinct()
          .withColumn("__nd", lit(true))
        val contam = graft.operators.Bloom.decontaminateExact(igBatch, igRef,
            "doc_id", "text", igWords, mBits = 1 << 15, kHashes = 4,
            shingleW = 8)
          .select(col("id").as("doc_id"), col("contaminated"))
        val quality = igBatch.select(col("doc_id"),
          (floor(TextAnalysis.qualityScoreRaw(col("text")) * lit(10000.0)
            + lit(0.5)).cast(org.apache.spark.sql.types.LongType) < 5000L)
            .as("low_quality"))
        exact.join(near, Seq("doc_id"), "left")
          .withColumn("near_dup", coalesce(col("__nd"), lit(false)))
          .drop("__nd")
          .join(contam, Seq("doc_id"))
          .join(quality, Seq("doc_id"))
          .select(col("doc_id"),
            (!col("exact_dup") && !col("near_dup") && !col("contaminated") &&
              !col("low_quality")).as("admit"))
          .queryExecution.toRdd.count()
      }
      val gates = Seq(
        time("ingest_gate_1x") { composedGate("ss_ig_dd_1x", "ss_ig_nd_1x") },
        time(s"ingest_gate_${k}x") {
          composedGate(s"ss_ig_dd_${k}x", s"ss_ig_nd_${k}x") })
      // FIXED-delta appends, timed AFTER the gates (appends mutate):
      // 500 new texts / vectors folded into the 1x vs Kx index — the
      // O(delta) claim measured
      def ddDelta(off: Long) = docs1.limit(500)
        .select((col("doc_id") + off).as("doc_id"),
          concat(col("text"), lit(s" apnew$off")).as("text"))
      def ivfDelta(off: Long) = emb1.limit(500)
        .select((col("vec_id") + off).as("vec_id"), col("embedding"))
      val appends = Seq(
        time("dedup_append_1x") {
          DedupIndex.appendToDedupIndex(spark, "ss_ig_dd_1x",
            ddDelta(96000000L), "doc_id", "text"); 500L },
        time(s"dedup_append_${k}x") {
          DedupIndex.appendToDedupIndex(spark, s"ss_ig_dd_${k}x",
            ddDelta(96000000L), "doc_id", "text"); 500L },
        time("neardup_append_1x") {
          NearDupIndex.appendToNearDupIndex(spark, "ss_ig_nd_1x",
            ddDelta(97000000L), "doc_id", "text"); 500L },
        time(s"neardup_append_${k}x") {
          NearDupIndex.appendToNearDupIndex(spark, s"ss_ig_nd_${k}x",
            ddDelta(97000000L), "doc_id", "text"); 500L },
        time("ivf_append_1x") {
          IvfIndex.appendToIvfIndex(spark, "ss_ig_ivf_1x",
            ivfDelta(98000000L), "vec_id", "embedding", igCents); 500L },
        time(s"ivf_append_${k}x") {
          IvfIndex.appendToIvfIndex(spark, s"ss_ig_ivf_${k}x",
            ivfDelta(98000000L), "vec_id", "embedding", igCents); 500L })
      gates ++ appends
    }) ++ (if (!runR12b) Seq.empty[(String, Double, Long)] else {
      // incremental CLUSTERING index: a fixed 500-doc delta (vowel-
      // rewritten — novel shingles, so a CLEAN batch: the honest
      // steady-state case where the gate clears everything and no
      // members scan happens) folded into a 1x vs Kx clustered
      // corpus. The O(batch) claim measured — assignments for the
      // batch at a cost independent of how much was ever clustered.
      import graft.operators.ClusterIndex
      Seq("ss_cl_1x", s"ss_cl_${k}x").foreach { p =>
        spark.catalog.listTables().collect().map(_.name)
          .filter(_.startsWith(p))
          .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
      }
      ClusterIndex.buildClusterIndex(docs1, "doc_id", "text", "ss_cl_1x")
      ClusterIndex.buildClusterIndex(docsK, "doc_id", "text", s"ss_cl_${k}x")
      def clDelta(off: Long) = docs1.limit(500)
        .select((col("doc_id") + off).as("doc_id"),
          translate(col("text"), "aeiou", "zzzzz").as("text"))
      Seq(
        time("cluster_append_1x") {
          ClusterIndex.appendToClusterIndex(spark, "ss_cl_1x",
            clDelta(99000000L), "doc_id", "text"); 500L },
        time(s"cluster_append_${k}x") {
          ClusterIndex.appendToClusterIndex(spark, s"ss_cl_${k}x",
            clDelta(99000000L), "doc_id", "text"); 500L })
    }) ++ (if (!runR12c) Seq.empty[(String, Double, Long)] else {
      // unigram tokenizer: TRAINING runs over the distinct-word table
      // (occurrence histogram is the only corpus-sized shuffle;
      // replicas add ~2 marker words each, so distinct words grow
      // slowly) — expected well below K. The APPLY side with a FIXED
      // pre-trained vocab is map-only — the honest linear shape a
      // per-row kernel must show. C4 signals likewise.
      val uniVocab = TextAnalysis.trainUnigramVocab(docs1, "text", 64, 4)
      Seq(
        time("unigram_train_1x") {
          TextAnalysis.trainUnigramVocab(docs1, "text", 64, 4).length.toLong },
        time(s"unigram_train_${k}x") {
          TextAnalysis.trainUnigramVocab(docsK, "text", 64, 4).length.toLong },
        time("unigram_apply_1x") {
          docs1.select(
            TextAnalysis.unigramTokenCount(col("text"), uniVocab).as("n"))
            .agg(sum(col("n"))).queryExecution.toRdd.count() },
        time(s"unigram_apply_${k}x") {
          docsK.select(
            TextAnalysis.unigramTokenCount(col("text"), uniVocab).as("n"))
            .agg(sum(col("n"))).queryExecution.toRdd.count() },
        time("c4_rules_1x") {
          docs1.select(TextAnalysis.c4Signals(col("text")).as("c"))
            .queryExecution.toRdd.count() },
        time(s"c4_rules_${k}x") {
          docsK.select(TextAnalysis.c4Signals(col("text")).as("c"))
            .queryExecution.toRdd.count() })
    }) ++ (if (!runR12d) Seq.empty[(String, Double, Long)] else {
      // round-12d: edit-similarity join, KMV sketching, DDSketch.
      //
      // Customer-name replicas translate their DIGITS into a
      // replica-private code-point block (replica 0 keeps 0-9), so:
      // within a replica the gram structure is ISOMORPHIC to 1x (same
      // candidate counts per replica), and across replicas no digit
      // gram is ever shared — d=1 near-pairs and prefix-gram groups
      // both grow exactly K-fold. This is the entity-population
      // growth shape (new corpora bring new vocabularies) a linear
      // operator must track at ~Kx. The OTHER growth axis — K-fold
      // density of the SAME gram vocabulary (every new name a
      // lookalike of existing ones) — makes sum_g C(cnt_g, 2)
      // candidates grow ~K^2 at any fixed q: that is output-adjacent
      // density, not an operator defect, and zero-padded keys defeat
      // the grow-q remedy (their zero-run grams stay corpus-common at
      // EVERY q — measured: q=5 on these names is 5x SLOWER than q=3
      // at 1x because low-entropy ids lean on mega-common grams once
      // prefixes need 6 entries). The deployable remedies for shared-
      // structure keys are key normalization (strip constant
      // prefixes/padding) or blocking on a higher-entropy derived
      // key, not longer grams.
      import graft.operators.{EditSimilarity, Kmv, Quantiles}
      def custNames(df: DataFrame, r: Int, off: Long): DataFrame = {
        val alphabet =
          if (r == 0) "0123456789"
          else (0 until 10).map(d => (0x4E00 + r * 10 + d).toChar).mkString
        df.select((col("c_custkey") + lit(off)).as("id"),
          translate(format_string("Customer#%09d", col("c_custkey")),
            "0123456789", alphabet).as("s"))
      }
      val custRaw = Tables.table(spark, sfDir, "customer")
      val cust1 = custNames(custRaw, 0, 0L).cache()
      cust1.count()
      val custK = (0 until k).map(r => custNames(custRaw, r, r * offset))
        .reduce(_ unionByName _).repartition(32).cache()
      custK.count()
      val gamma = Quantiles.gammaFor(0.01)
      val li1 = Tables.table(spark, sfDir, "lineitem")
        .select(col("l_extendedprice")).cache()
      li1.count()
      val liK = (0 until k).map(_ => li1).reduce(_ unionByName _)
        .repartition(32).cache()
      liK.count()
      def langTerms(df: DataFrame) = df.select(col("lang"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      val ddr = Seq(
        time("edit_join_1x") {
          EditSimilarity.editSimilarityJoin(cust1, "id", "s", 1, 3)
            .queryExecution.toRdd.count() },
        time(s"edit_join_${k}x") {
          EditSimilarity.editSimilarityJoin(custK, "id", "s", 1, 3)
            .queryExecution.toRdd.count() },
        // KMV: the sketch+estimate path only (the deployable side —
        // the overlap card's exact columns are the eval harness, not
        // the 100 TB plan). One vocab-sized distinct, then k-sized
        // bounded-heap state per group.
        time("kmv_sketch_1x") {
          Kmv.kmvEstimates(Kmv.kmvSketch(langTerms(docs1), "lang", "term",
            256), 256).queryExecution.toRdd.count() },
        time(s"kmv_sketch_${k}x") {
          Kmv.kmvEstimates(Kmv.kmvSketch(langTerms(docsK), "lang", "term",
            256), 256).queryExecution.toRdd.count() },
        // DDSketch: the row count RETURNED is the sketch size — the
        // bounded-state claim is that it stays put while input grows
        // K-fold; the quantile read runs on sketch-sized rows only
        time("ddsketch_1x") {
          Quantiles.ddSketch(li1, "l_extendedprice", gamma)
            .queryExecution.toRdd.count() },
        time(s"ddsketch_${k}x") {
          Quantiles.ddSketch(liK, "l_extendedprice", gamma)
            .queryExecution.toRdd.count() },
        time(s"ddsketch_read_${k}x") {
          Quantiles.ddQuantiles(
            Quantiles.ddSketch(liK, "l_extendedprice", gamma), gamma,
            Seq(500000L, 900000L, 990000L, 999000L))
            .queryExecution.toRdd.count() })
      Seq(cust1, custK, li1, liK).foreach(_.unpersist(blocking = false))
      ddr
    }) ++ (if (!runR13) Seq.empty[(String, Double, Long)] else {
      // ROUND-13: the edit INDEX family gets the gate/append-vs-
      // corpus rows every other index family already has, measured
      // on the deletion-neighborhood strategy that replaced
      // saturated-gram probing for small radii. Replica names
      // translate digits into replica-private code-point blocks (the
      // r12d shape): index size grows exactly K-fold while replicas
      // share no deletion-variant key. Probe and append batches
      // translate into PROBE-private blocks — clean batches sharing
      // no variant key with ANY index: the Bloom digest must drop
      // every probe key map-side, so gate and append cost must stay
      // corpus-FLAT (the bm25_append 1.0x template). The one-shot
      // edit join is also re-measured on BOTH strategies so the
      // deletion-tier win over saturated grams is a recorded number,
      // not a claim.
      import graft.operators.{EditIndex, EditSimilarity}
      def names13(df: DataFrame, r: Int, off: Long): DataFrame = {
        val alphabet =
          if (r == 0) "0123456789"
          else (0 until 10).map(d => (0x4E00 + r * 10 + d).toChar).mkString
        df.select((col("c_custkey") + lit(off)).as("id"),
          translate(format_string("Customer#%09d", col("c_custkey")),
            "0123456789", alphabet).as("s"))
      }
      val custRaw13 = Tables.table(spark, sfDir, "customer")
      val ed1 = names13(custRaw13, 0, 0L).cache()
      val edN = ed1.count()
      val edK = (0 until k).map(r => names13(custRaw13, r, r * offset))
        .reduce(_ unionByName _).repartition(32).cache()
      edK.count()
      // clean probe/append batches: digits into batch-private blocks
      def batch13(codeBase: Int, off: Long): DataFrame =
        custRaw13.limit(500)
          .select((col("c_custkey") + lit(off)).as("id"),
            translate(format_string("Customer#%09d", col("c_custkey")),
              "0123456789",
              (0 until 10).map(d => (codeBase + d).toChar).mkString).as("s"))
      val probe13 = batch13(0x3400, 93000000L).cache()
      probe13.count()
      Seq("ss_ed_1x", s"ss_ed_${k}x").foreach { p =>
        spark.catalog.listTables().collect().map(_.name)
          .filter(_.startsWith(p))
          .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
      }
      val edr = Seq(
        time("editidx_build_1x") {
          EditIndex.buildEditIndex(ed1, "id", "s", "ss_ed_1x", 1, 3); edN },
        time(s"editidx_build_${k}x") {
          EditIndex.buildEditIndex(edK, "id", "s", s"ss_ed_${k}x", 1, 3)
          edN * k },
        time("editidx_gate_1x") {
          EditIndex.gateEditMatches(spark, "ss_ed_1x", probe13, "id", "s")
            .queryExecution.toRdd.count() },
        time(s"editidx_gate_${k}x") {
          EditIndex.gateEditMatches(spark, s"ss_ed_${k}x", probe13, "id", "s")
            .queryExecution.toRdd.count() },
        time("editidx_append_1x") {
          EditIndex.appendToEditIndex(spark, "ss_ed_1x",
            batch13(0x3500, 94000000L), "id", "s"); 500L },
        time(s"editidx_append_${k}x") {
          EditIndex.appendToEditIndex(spark, s"ss_ed_${k}x",
            batch13(0x3500, 94000000L), "id", "s"); 500L },
        time("edit_join_del_1x") {
          EditSimilarity.editSimilarityJoin(ed1, "id", "s", 1,
            strategy = "deletion").queryExecution.toRdd.count() },
        time(s"edit_join_del_${k}x") {
          EditSimilarity.editSimilarityJoin(edK, "id", "s", 1,
            strategy = "deletion").queryExecution.toRdd.count() },
        time("edit_join_qgram_1x") {
          EditSimilarity.editSimilarityJoin(ed1, "id", "s", 1,
            strategy = "qgram").queryExecution.toRdd.count() },
        time(s"edit_join_qgram_${k}x") {
          EditSimilarity.editSimilarityJoin(edK, "id", "s", 1,
            strategy = "qgram").queryExecution.toRdd.count() })
      Seq(ed1, edK, probe13).foreach(_.unpersist(blocking = false))
      edr
    }) ++ (if (!runR13b) Seq.empty[(String, Double, Long)] else {
      // ROUND-13b: the IMAGE index's corpus-vs-delta rows. Replica
      // images come from disjoint doc-id ranges (bmp_near bases
      // differ → pixel content differs → hashes differ), so index
      // size grows K-fold without K-clique match growth. The probe
      // batch is FIXED (500 images from an id range outside both
      // corpora). Since r14 the bands cover the 128-bit dhash‖phash
      // concatenation (4×32-bit band values): the band keyspace is
      // 2^32, so a clean probe batch digest-clears corpus-FLAT like
      // the text families — the r13 16-bit saturation regime
      // (~262k rows) no longer exists; the r14 block below measures
      // clearing against an index past the OLD saturation point.
      import graft.operators.{ImageHash, ImageHashIndex, Multimodal}
      def imgHashes(ids: DataFrame): DataFrame =
        ImageHash.imageHashes(
            Multimodal.synthMediaBlobs(ids, "doc_id", "bmp_near")
              .withColumn("format", lit("bmp")),
            "id", "bytes", "format")
          .filter(col("dhash").isNotNull && col("phash").isNotNull)
          .select(col("id"), col("dhash"), col("phash"))
      val im1 = imgHashes(docs1.select(col("doc_id"))).cache()
      val imN = im1.count()
      val imK = imgHashes(
        (0 until k).map(r => docs1.select((col("doc_id") + lit(r * offset))
          .as("doc_id"))).reduce(_ unionByName _).repartition(32))
        .cache()
      imK.count()
      val imProbe = imgHashes(spark.range(500)
        .select((col("id") + 77000000L).as("doc_id"))).cache()
      imProbe.count()
      Seq("ss_im_1x", s"ss_im_${k}x").foreach { p =>
        spark.catalog.listTables().collect().map(_.name)
          .filter(_.startsWith(p))
          .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
      }
      val imr = Seq(
        time("imageidx_build_1x") {
          ImageHashIndex.buildImageIndex(im1, "id", "dhash", "phash", "ss_im_1x")
          imN },
        time(s"imageidx_build_${k}x") {
          ImageHashIndex.buildImageIndex(imK, "id", "dhash", "phash",
            s"ss_im_${k}x")
          imN * k },
        time("imageidx_gate_1x") {
          ImageHashIndex.gateImageMatches(spark, "ss_im_1x", imProbe,
            "id", "dhash", "phash").queryExecution.toRdd.count() },
        time(s"imageidx_gate_${k}x") {
          ImageHashIndex.gateImageMatches(spark, s"ss_im_${k}x", imProbe,
            "id", "dhash", "phash").queryExecution.toRdd.count() },
        time("imageidx_append_1x") {
          ImageHashIndex.appendToImageIndex(spark, "ss_im_1x",
            imgHashes(spark.range(500)
              .select((col("id") + 78000000L).as("doc_id"))),
            "id", "dhash", "phash"); 500L },
        time(s"imageidx_append_${k}x") {
          ImageHashIndex.appendToImageIndex(spark, s"ss_im_${k}x",
            imgHashes(spark.range(500)
              .select((col("id") + 78000000L).as("doc_id"))),
            "id", "dhash", "phash"); 500L })
      Seq(im1, imK, imProbe).foreach(_.unpersist(blocking = false))
      imr
    }) ++ (if (!runR13c) Seq.empty[(String, Double, Long)] else {
      // ROUND-13c: the composed engagement pipeline's batch twin at
      // 1x vs Kx events. Event replicas carry DISJOINT user ranges
      // (the evK shape), so per-actor series stay constant and only
      // actor count grows — the honest linear shape for a
      // composition of actor-keyed windows; all actors admitted (the
      // admission semi-join is measured as part of the plan).
      import graft.streaming.EventStreams
      def admitted(ev: DataFrame) =
        ev.select(col("user_id").as("id")).distinct()
      Seq(
        time("engagement_batch_1x") {
          EventStreams.engagementFactsBatch(
            Tables.table(spark, sfDir, "events")
              .select(col("event_id"), col("ts"), col("user_id"),
                col("event_type"), col("value")),
            admitted(ev1), "id").queryExecution.toRdd.count() },
        time(s"engagement_batch_${k}x") {
          val evKv = (0 until k).map { r =>
            Tables.table(spark, sfDir, "events")
              .select((col("event_id") + lit(r * offset)).as("event_id"),
                col("ts"),
                (col("user_id") + lit(r * offset)).as("user_id"),
                col("event_type"), col("value"))
          }.reduce(_ unionByName _).repartition(32)
          EventStreams.engagementFactsBatch(evKv, admitted(evKv), "id")
            .queryExecution.toRdd.count() })
    }) ++ (if (!runR14) Seq.empty[(String, Double, Long)] else {
      // ROUND-14 blocks.
      //
      // (a) WordPiece training past the OLD int64 refusal point: the
      // r13 code hard-refused corpora beyond ~9.2e6 symbol
      // occurrences (the int64-quantized merge score wrapped); the
      // DECIMAL(38,0) migration removed the ceiling. The Kx corpus
      // sits far past it — assert that, then train. Cost is
      // distinct-word-bounded (replication grows counts, not the
      // vocab), so the honest expectation is ~FLAT in K.
      import graft.operators.{AudioHash, EditSimilarity, ImageHashIndex, Multimodal}
      def symCount(docs: DataFrame): Long = docs
        .select(explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(col("w") =!= "")
        .agg(coalesce(sum(length(col("w"))), lit(0L))).head().getLong(0)
      val symsK = symCount(docsK)
      require(symsK > 9200000L,
        s"r14 wordpiece block: Kx corpus has $symsK symbol occurrences — " +
          "must exceed the OLD 9.2e6 int64 refusal point to prove the lift")
      println(s"[scale] r14 wordpiece: Kx corpus symbol occurrences = $symsK" +
        " (old code refused beyond 9200000)")
      val wpr = Seq(
        time("wordpiece_train_1x") {
          TextAnalysis.trainWordpieceMerges(docs1, "text", 2).size.toLong },
        time(s"wordpiece_train_${k}x") {
          TextAnalysis.trainWordpieceMerges(docsK, "text", 2).size.toLong })
      // (b) image index past the OLD band saturation point: 16-bit
      // bands saturated the band digest at ~nBands·65536 ≈ 262k
      // images, after which every clean probe paid ~n/65536 postings
      // per key. The r14 32-bit dhash‖phash bands put saturation at
      // ~1.7e10, so a CLEAN batch against a 300k-hash index (past the
      // OLD point) must digest-clear: gate cost ~ the probe's own
      // banding, candidates 0, and FLAT vs a 15k-hash index. Hashes
      // are synthetic 64-bit mixes (the index is hash-agnostic); the
      // clean batch draws from a disjoint mix domain.
      def synthHashes(lo: Long, hi: Long, dom: String): DataFrame =
        spark.range(lo, hi).select(col("id"),
          xxhash64(col("id"), lit(dom)).as("dhash"),
          xxhash64(col("id"), lit(dom), lit("p")).as("phash"))
      Seq("ss_im14s", "ss_im14b").foreach { p =>
        spark.catalog.listTables().collect().map(_.name)
          .filter(_.startsWith(p))
          .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
      }
      val probe14 = synthHashes(0L, 500L, "clean").cache(); probe14.count()
      val imr14 = Seq(
        time("imageidx14_build_15k") {
          ImageHashIndex.buildImageIndex(synthHashes(0L, 15000L, "idx"),
            "id", "dhash", "phash", "ss_im14s"); 15000L },
        time("imageidx14_build_300k") {
          ImageHashIndex.buildImageIndex(synthHashes(0L, 300000L, "idx"),
            "id", "dhash", "phash", "ss_im14b"); 300000L },
        time("imageidx14_gate_15k") {
          ImageHashIndex.gateImageMatches(spark, "ss_im14s",
            probe14, "id", "dhash", "phash").queryExecution.toRdd.count() },
        time("imageidx14_gate_300k") {
          ImageHashIndex.gateImageMatches(spark, "ss_im14b",
            probe14, "id", "dhash", "phash").queryExecution.toRdd.count() })
      probe14.unpersist(blocking = false)
      // (c) FastSS prefix pruning at d=2: postings per string drop
      // from C(len,<=2)+1 to C(12,<=2)+1. Names carry entropy in
      // their trailing digits, so the documented remedy applies —
      // key on reverse(s) (levenshtein is reversal-invariant). Rows:
      // postings counts pruned vs unpruned, then the d=2 join both
      // ways at 1x (same pair set by completeness).
      val custR = Tables.table(spark, sfDir, "customer")
        .select(col("c_custkey").as("id"),
          reverse(format_string("Customer#%09d", col("c_custkey"))).as("s"))
        .cache()
      val nCust = custR.count()
      def postings(pl: Int): Long = custR.select(explode(
        EditSimilarity.deletionVariants(col("s"), 2, pl)).as("v")).count()
      val postU = postings(0)
      val postP = postings(12)
      println(f"[scale] r14 fastss postings at d=2: unpruned $postU%d, " +
        f"pruned(12) $postP%d (${postU.toDouble / postP}%.1fx fewer) " +
        f"over $nCust%d names")
      val edr14 = Seq(
        time("edit_join_d2_unpruned") {
          EditSimilarity.editSimilarityJoin(custR, "id", "s", 2,
            strategy = "deletion").queryExecution.toRdd.count() },
        time("edit_join_d2_pruned12") {
          EditSimilarity.editSimilarityJoin(custR, "id", "s", 2,
            strategy = "deletion", prefixLen = 12)
            .queryExecution.toRdd.count() })
      custR.unpersist(blocking = false)
      // (d) audio fingerprint (map-only) + banded pairing at 1x/Kx:
      // replicas use disjoint doc-id ranges, so base groups (id div 4)
      // never span replicas — pair counts grow exactly K-fold, the
      // linear shape.
      def audioPairs(ids: DataFrame): Long = {
        val blobs = Multimodal.synthMediaBlobs(ids, "doc_id", "wav_near")
        val hashes = AudioHash.audioHashes(blobs, "id", "bytes", "format")
        AudioHash.audiohashPairs(hashes, "id", "audiohash", 3, 4)
          .queryExecution.toRdd.count()
      }
      val aur = Seq(
        time("audiohash_pairs_1x") {
          audioPairs(docs1.select(col("doc_id"))) },
        time(s"audiohash_pairs_${k}x") {
          audioPairs((0 until k).map(r => docs1.select(
              (col("doc_id") + lit(r * offset)).as("doc_id")))
            .reduce(_ unionByName _).repartition(32)) })
      wpr ++ imr14 ++ edr14 ++ aur
    }) ++ (if (!runR15) Seq.empty[(String, Double, Long)] else {
      import graft.operators.{Dedup, EditSimilarity, Multimodal, VideoHash}
      // ROUND-15: (a) video fingerprint (map-only Y4M decode +
      // windowed DCT) + banded pairing at 1x/Kx — the audio shape on
      // the frame tier; replicas use disjoint doc-id ranges so base
      // groups (id div 4) never span replicas.
      def videoPairs(ids: DataFrame): Long = {
        val blobs = Multimodal.synthMediaBlobs(ids, "doc_id", "y4m_near")
        val hashes = VideoHash.videoHashes(blobs, "id", "bytes", "format")
        VideoHash.vidhashPairs(hashes, "id", "vidhash", 3, 4)
          .queryExecution.toRdd.count()
      }
      val vid = Seq(
        time("videohash_pairs_1x") {
          videoPairs(docs1.select(col("doc_id"))) },
        time(s"videohash_pairs_${k}x") {
          videoPairs((0 until k).map(r => docs1.select(
              (col("doc_id") + lit(r * offset)).as("doc_id")))
            .reduce(_ unionByName _).repartition(32)) })
      // (b) connected components FORCED onto the distributed
      // min-label-propagation path: a 6M-edge chain graph (chains of
      // 12 vertices) exceeds the 5M-edge driver cap, so the dispatch
      // in connectedComponents takes the propagation loop — the
      // 100 TB closure path, which DedupSpec asserts correct but no
      // scale row had ever timed. Truth is analytic: every vertex's
      // component is its chain head (id - id % 12), checked exactly.
      val ccN = 6545456L // ceil(6M edges / 11 per chain) * 12 vertices
      val ccVerts = spark.range(ccN).select(col("id"))
      val ccEdges = spark.range(ccN)
        .filter(col("id") % 12 =!= 11 && col("id") + 1 < ccN)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      val cc = Seq(
        time("cc_propagation_6m") {
          val labels = Dedup.connectedComponents(ccVerts, ccEdges)
          val wrong = labels.filter(
            col("component") =!= col("id") - col("id") % 12).count()
          require(wrong == 0L,
            s"cc propagation mislabeled $wrong of $ccN chain vertices")
          ccN })
      // (c) the edit-join verify tier: char-count L1 prefilter on vs
      // off over the SAME r14 d=2 corpus shape (reversed zero-padded
      // names, prefixLen=12) — both runs use the banded threshold
      // Levenshtein; the delta isolates what the prefilter rejects
      // before the DP. Pair counts asserted identical (the filter is
      // a necessary condition, never a drop).
      val custR15 = Tables.table(spark, sfDir, "customer")
        .select(col("c_custkey").as("id"),
          reverse(format_string("Customer#%09d", col("c_custkey"))).as("s"))
        .cache()
      custR15.count()
      var pairsOff = 0L
      var pairsOn = 0L
      val ed15 = Seq(
        time("edit_verify_d2_nofilter") {
          pairsOff = EditSimilarity.editSimilarityJoin(custR15, "id", "s", 2,
            strategy = "deletion", prefixLen = 12, verifyPrefilter = false)
            .queryExecution.toRdd.count(); pairsOff },
        time("edit_verify_d2_l1filter") {
          pairsOn = EditSimilarity.editSimilarityJoin(custR15, "id", "s", 2,
            strategy = "deletion", prefixLen = 12, verifyPrefilter = true)
            .queryExecution.toRdd.count(); pairsOn })
      require(pairsOff == pairsOn,
        s"edit verify prefilter changed the pair set: $pairsOff vs $pairsOn")
      custR15.unpersist(blocking = false)
      vid ++ cc ++ ed15
    }) ++ (if (!runR15b) Seq.empty[(String, Double, Long)] else {
      // ROUND-15b: the BLOCKED, PARTITIONED digest past the old
      // broadcast ceiling. r14's literal-array digest capped at 2^26
      // bits (8 MB broadcast) and so saturated near 4M keys — clean
      // batches then fell through to the postings join. The r15 word
      // TABLE is join-probed, so a 5M-image index (20M band keys —
      // 5x the old saturation) sizes its digest to 2^29 bits and a
      // clean probe batch must still gate to ZERO candidates.
      import graft.operators.ImageHashIndex
      def synthHashes15(lo: Long, hi: Long, dom: String): DataFrame =
        spark.range(lo, hi).select(col("id"),
          xxhash64(col("id"), lit(dom)).as("dhash"),
          xxhash64(col("id"), lit(dom), lit("p")).as("phash"))
      Seq("ss_im15s", "ss_im15b").foreach { p =>
        spark.catalog.listTables().collect().map(_.name)
          .filter(_.startsWith(p))
          .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
      }
      val probe15 = synthHashes15(0L, 500L, "clean").cache(); probe15.count()
      val dg = Seq(
        time("blockdigest_build_1m") {
          ImageHashIndex.buildImageIndex(synthHashes15(0L, 1250000L, "idx"),
            "id", "dhash", "phash", "ss_im15s"); 1250000L },
        time("blockdigest_build_5m") {
          ImageHashIndex.buildImageIndex(synthHashes15(0L, 5000000L, "idx"),
            "id", "dhash", "phash", "ss_im15b"); 5000000L },
        time("blockdigest_gate_1m") {
          ImageHashIndex.gateImageMatches(spark, "ss_im15s",
            probe15, "id", "dhash", "phash").queryExecution.toRdd.count() },
        time("blockdigest_gate_5m") {
          ImageHashIndex.gateImageMatches(spark, "ss_im15b",
            probe15, "id", "dhash", "phash").queryExecution.toRdd.count() })
      val mb = spark.table("ss_im15b_stats").head().getAs[Int]("digest_mbits")
      println(f"[scale] r15b 5m-image digest sized to 2^${
        (math.log(mb.toDouble) / math.log(2.0)).round}%d bits " +
        f"(old cap 2^26) — clean gates above must be 0-candidate rows")
      probe15.unpersist(blocking = false)
      dg
    })

    println("[scale] ratios (Kx time / 1x time; linear operators stay near or below K):")
    val byName = results.map { case (n, s, _) => n -> s }.toMap
    Seq("minhash_lsh", "simhash", "exact_dedup", "ivf_topk", "lsh_topk",
        "line_dedup", "cross_dedup", "embed_neardup", "ivf_pq_topk",
        "sem_dedup", "span_cut", "dup_spans", "winnow_pairs", "jaccard_dford",
        "pack_sequences", "cluster_best", "winsorize5", "hard_neg_ivf",
        "epoch_pack", "asof_nearest", "curation_v2", "gopher_repetition",
        "pii_redact", "chunks_cover", "bigram_logprob",
        "source_report", "bigram_interp", "quality_trained",
        "curation_v3", "bm25_topk", "temperature_mix",
        "bpe_fertility", "sq8_topk", "zorder_layout",
        "source_drift", "snapshot_drift", "drift_windowed",
        "data_quality", "snapshot_diff_docs",
        "ivf_sq8_topk", "pack_ffd", "bloom_decontam",
        "decontam_two_tier", "cms_heavy", "hll_distinct",
        "bm25_build", "bm25_append", "bm25_champ_derive",
        "bm25_probe_exact", "bm25_probe_champ", "scd2_fold",
        "dedup_build", "dedup_gate_clean", "dedup_gate_dirty",
        "neardup_build", "neardup_gate",
        "ingest_gate", "dedup_append", "neardup_append",
        "ivf_append", "cluster_append",
        "unigram_train", "unigram_apply", "c4_rules",
        "edit_join", "kmv_sketch", "ddsketch",
        "editidx_build", "editidx_gate", "editidx_append",
        "edit_join_del", "edit_join_qgram",
        "imageidx_build", "imageidx_gate", "imageidx_append",
        "engagement_batch", "wordpiece_train",
        "audiohash_pairs", "videohash_pairs").foreach { base =>
      for (a <- byName.get(s"${base}_1x"); b <- byName.get(s"${base}_${k}x"))
        println(f"[scale]   $base%-24s ${b / a}%6.1fx at ${k}x data")
    }
    for (a <- byName.get(s"ivf_topk_${k}x"); b <- byName.get(s"ivf_fixed16_${k}x"))
      println(f"[scale]   ivf fixed-16 cells is ${b / a}%.1fx slower than sqrt-scaled cells at ${k}x")
    for (a <- byName.get(s"scd2_fold_${k}x"); b <- byName.get(s"scd2_fold_full_${k}x"))
      println(f"[scale]   scd2 full-history materialization is ${b / a}%.1fx the current-slice fold at ${k}x depth")
    for (a <- byName.get("imageidx14_gate_15k"); b <- byName.get("imageidx14_gate_300k"))
      println(f"[scale]   imageidx clean-gate at 300k hashes (past the OLD 262k saturation) is ${b / a}%.1fx the 15k gate (digest-cleared => ~1x)")
    for (a <- byName.get("edit_join_d2_unpruned"); b <- byName.get("edit_join_d2_pruned12"))
      println(f"[scale]   fastss pruned(12) d=2 join runs in ${b / a}%.2fx the unpruned time")
    spark.stop()
  }
}
