package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Frames, Temporal}

/** Physical-plan shape assertions: the scale properties the operators
  * are designed around (pushdown, pruning, broadcast, partial
  * aggregation, shuffle counts) asserted against executedPlan, so a
  * regression that silently de-optimizes a plan fails CI — not just a
  * benchmark.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  // WindowExec collector that also descends into persisted subtrees:
  // operators with an internal .persist (globalRankByGroup, LSH
  // signatures) hide their corpus-sized windows inside an
  // InMemoryRelation, which plain plan.collect does not traverse
  private def allWindows(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] = {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val here = p.collect { case w: WindowExec => w }
    // both wrappers are LEAF nodes to collect: descend explicitly
    val nested = p.collect {
      case s: InMemoryTableScanExec => s.relation.cachedPlan
      case a: AdaptiveSparkPlanExec => a.inputPlan
    }
    here ++ nested.distinct.flatMap(allWindows)
  }

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  test("filters and projections push down into the parquet scan") {
    val df = Tables.table(spark, TestSpark.sfDir, "orders")
      .filter(col("o_totalprice") > 1000.0)
      .select("o_orderkey", "o_totalprice")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,1000.0)]"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
      s"columns not pruned:\n$p")
  }

  test("small dimension joins broadcast (no shuffle of the fact side)") {
    val sup = Tables.table(spark, TestSpark.sfDir, "supplier")
    val nat = Tables.table(spark, TestSpark.sfDir, "nation")
    val p = plan(sup.join(nat, sup("s_nationkey") === nat("n_nationkey"), "left"))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected sort-merge join:\n$p")
  }

  test("uniqueFirst and topkRows aggregate with map-side partials") {
    val li = Tables.table(spark, TestSpark.sfDir, "lineitem")
    val uf = plan(Frames.uniqueFirst(li, Seq("l_orderkey"), Seq(col("l_linenumber"))))
    // partial min_by before the exchange, final after — exactly one shuffle
    assert(uf.contains("partial_min_by") || uf.contains("partial_minby") ||
      countOccurrences(uf, "min_by") >= 2, s"no partial min_by:\n$uf")
    assert(countOccurrences(uf, "Exchange") === 1, s"expected 1 shuffle:\n$uf")

    val tk = plan(li.groupBy(col("l_returnflag"))
      .agg(graft.functions.NativeFunctions.topkRows(
        struct((-col("l_extendedprice")).as("np")),
        struct(col("l_orderkey")), 3).as("tk")))
    assert(tk.contains("partial_topk_rows"), s"no partial top-k aggregation:\n$tk")
    assert(countOccurrences(tk, "Exchange") === 1, s"expected 1 shuffle:\n$tk")
  }

  test("asofJoin is the single-shuffle merge shape") {
    val left = Seq((1L, 10L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((10L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), 7L))
      .toDF("user_id", "click_ts", "click_id")
    val p = plan(Temporal.asofJoin(left, right, Seq("user_id"), "ts", "click_ts"))
    // one exchange for the union'd per-key sort; no join operator at all
    assert(countOccurrences(p, "Exchange") === 1, s"expected 1 shuffle:\n$p")
    assert(!p.contains("Join"), s"as-of should not plan a join:\n$p")
  }

  test("native cosine stays inside a whole-stage codegen span") {
    val e = Tables.table(spark, TestSpark.sfDir, "embeddings")
    // exchange-free plan: no AdaptiveSparkPlan wrapper, so codegen
    // spans are visible pre-execution
    val df = e.select(
      graft.operators.Similarity.cosine(col("embedding"), col("embedding")).as("c"))
    val p = plan(df)
    // "*(1)" is the whole-stage-codegen span marker in simpleString
    assert(p.contains("*(1) Project [cosine_similarity"),
      s"native cosine not in a codegen span:\n$p")
  }

  test("stratified sample is a pure scan-level filter (no shuffle, no agg)") {
    val p = plan(Frames.stratifiedSampleDeterministic(
      Tables.table(spark, TestSpark.sfDir, "orders"),
      "o_orderstatus", Map("F" -> 0.1), "o_orderkey"))
    assert(countOccurrences(p, "Exchange") === 0, s"sample must not shuffle:\n$p")
    assert(!p.contains("Aggregate"), s"sample must not aggregate:\n$p")
  }

  test("repetitionSignals plans one codegen'd map over the scan") {
    // round-6 verdict: the HOF build was the right SHAPE but quadratic
    // per doc (62.9 s = 28% of the bench). The native rebuild must stay
    // a single exchange-free Project with the expression inside a
    // whole-stage-codegen span — this assert pins both.
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val p = plan(docs.select(col("doc_id"),
      graft.operators.TextAnalysis.repetitionSignals(col("text")).as("r")))
    assert(countOccurrences(p, "Exchange") === 0, s"map stage must not shuffle:\n$p")
    assert(p.contains("*(1) Project"), s"not in a codegen span:\n$p")
    assert(p.contains("repetition_signals"), s"native expression missing:\n$p")
    // the declared query adds ONLY its output ordering (one range
    // exchange) — no Generate/Join/Window subtree may creep back in
    val q = plan(SparkEntry.queries("text_gopher_repetition")(spark, TestSpark.sfDir))
    assert(countOccurrences(q, "Exchange") === 1, s"expected only the orderBy shuffle:\n$q")
    assert(!q.contains("Generate") && !q.contains("Join") && !q.contains("Window"),
      s"unexpected operator in the repetition query:\n$q")
  }

  test("sourceHealthReport fuses per-doc signals into one map pass") {
    // design claim (TextAnalysis.sourceHealthReport): md5 + token
    // array + PII struct computed in ONE projection — per-doc signals
    // must never fan out into per-signal self-joins. Corpus shuffles:
    // the md5 dup-count aggregate + its join back, and the final
    // source aggregate (plus countDistinct's internal expand) — but
    // exactly ONE scan of documents per side of the md5 join, no
    // Window, no Generate.
    val p = plan(SparkEntry.queries("text_source_report")(spark, TestSpark.sfDir))
    assert(!p.contains("Window") && !p.contains("Generate"),
      s"unexpected operator in source report:\n$p")
    assert(countOccurrences(p, "Scan parquet") <= 2,
      s"per-signal joins re-scanning the corpus:\n$p")
    assert(p.contains("repetition_signals") === false) // wrong op guard
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"expected partial aggregation:\n$p")
  }

  test("recallReport is an equi-join plus single-row aggregates") {
    val truth = Seq((1L, 10L), (2L, 20L)).toDF("query_id", "nn_id")
    val approx = Seq((1L, 10L)).toDF("query_id", "nn_id")
    val p = plan(graft.operators.Similarity.recallReport(truth, approx))
    // the match side is an equi-join (hash or broadcast), never a
    // nested-loop; the final combine is a 1-row x 1-row cross (free)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected an equi-join for the match count:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"corpus-sized cartesian in recall report:\n$p")
  }

  test("q_curation_v3 composes through materialization barriers") {
    // the flagship's stage outputs (passDocs / kept / surv) are
    // persisted: without the barriers Catalyst re-plans — and
    // re-executes — the whole gate funnel once per downstream
    // consumer (first cut: the source-gate subtree appeared six
    // times, 272 Exchanges). The top-level plan must therefore read
    // cached stages, and its own joins must all be hash/broadcast
    // equi-joins on doc_id — composition adds no corpus-sized
    // nested loop and no new corpus shuffle beyond the components'.
    val df = SparkEntry.queries("q_curation_v3")(spark, TestSpark.sfDir)
    val p = plan(df)
    assert(p.contains("InMemoryTableScan"),
      s"expected persisted stage barriers in the flagship plan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"corpus-sized cartesian in the flagship:\n$p")
    // rows out: every surviving doc exactly once, train rows packed
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    rows.foreach { r =>
      if (r.getString(2) == "train") assert(!r.isNullAt(4) && !r.isNullAt(5))
      else assert(r.isNullAt(4) && r.isNullAt(5))
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("bigramLogProb broadcasts its histograms — no token-keyed stream shuffle") {
    // the Zipf discipline (unigramLogProb's contract, extended): the
    // per-occurrence bigram stream must meet its count tables via
    // BROADCAST joins at this vocab size — a SortMergeJoin here would
    // shuffle every occurrence of a hot bigram onto one reducer
    val p = plan(graft.operators.TextAnalysis.bigramLogProb(
      Tables.table(spark, TestSpark.sfDir, "documents"), "doc_id", "text"))
    assert(countOccurrences(p, "BroadcastHashJoin") === 2,
      s"expected both histogram joins broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"token-keyed shuffle of the occurrence stream:\n$p")
    // map-side partial aggregation on the per-doc sum
    assert(p.contains("HashAggregate"), s"expected hash aggregation:\n$p")
  }

  test("cube expands grouping sets BEFORE the partial aggregate (map-side combine)") {
    val p = plan(SparkEntry.queries("q_cube")(spark, TestSpark.sfDir))
    assert(p.contains("Expand"), s"expected Expand for grouping sets:\n$p")
    assert(p.contains("partial_sum"), s"expected map-side partial aggregation:\n$p")
  }

  test("MAD outlier stats rejoin the fact side via broadcast, never sort-merge") {
    val p = plan(SparkEntry.queries("q_mad_outliers")(spark, TestSpark.sfDir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast rejoins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"per-group stats must broadcast:\n$p")
  }

  test("DSIR: per-bucket ratio joins the occurrence stream via broadcast") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val p = plan(graft.operators.TextAnalysis.dsirLogWeights(
      docs.filter(col("source") =!= "src0"), docs.filter(col("source") === "src0"),
      "doc_id", "text"))
    // the 1024-bucket ratio table must come back to the raw occurrence
    // stream as a broadcast — a sort-merge here shuffles the whole
    // exploded corpus by bucket (1024 reducers for 100 TB of shingles)
    assert(p.contains("BroadcastHashJoin"), s"ratio join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"occurrence stream must not SMJ:\n$p")
  }

  test("unigramLogProb: token stream is never shuffled by token (vocab broadcasts)") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val p = plan(graft.operators.TextAnalysis.unigramLogProb(docs, "doc_id", "text"))
    // Zipf guard: joining per-occurrence tokens on the vocab key
    // sort-merge-style lands every "the" on one reducer; the vocab
    // histogram (distinct tokens) must broadcast instead
    assert(p.contains("BroadcastHashJoin"), s"vocab join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"token stream shuffled by token:\n$p")
  }

  test("bm25TopK: probe gate broadcasts into the tf table, top-k window per query") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val probes = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"),
        slice(split(trim(col("text")), "\\s+"), 1, 5).as("qterms"))
    val df = graft.operators.Retrieval.bm25TopK(docs, "doc_id", "text",
      probes, "query_id", "qterms", k = 10)
    val p = plan(df)
    // the candidate gate (panel terms x tf) and the single-row stats
    // must broadcast; a token-keyed sort-merge join would shuffle the
    // whole tf table to meet a panel-sized probe list
    assert(p.contains("BroadcastHashJoin"), s"probe gate must broadcast:\n$p")
    assert(countOccurrences(p, "SortMergeJoin") <= 1,
      s"only the doc-length attach may sort-merge:\n$p")
    // top-k is a per-query window, never a global sort of all candidates
    val wins = allWindows(df.queryExecution.sparkPlan)
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "top-k window must be partitioned by query_id")
  }

  test("bm25TopKFromIndex: probe plan touches ONLY the index tables — no corpus scan, no tf shuffle") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    // a LITERAL probe panel — the served shape: the panel arrives from
    // outside (a decontamination list, an audit query set), so the
    // probe plan must touch NO corpus file at all
    val probes = Seq((1L, Seq("the", "data", "pipeline")),
        (2L, Seq("quality", "tokens"))).toDF("query_id", "qterms")
    val prefix = graft.operators.Retrieval.bm25IndexCached(docs, "doc_id", "text")
    val df = graft.operators.Retrieval.bm25TopKFromIndex(spark, prefix,
      probes, "query_id", "qterms", k = 10)
    val p = plan(df)
    // the whole point of the persisted index: the probe never rescans
    // or re-tokenizes the corpus
    assert(!p.contains("documents.parquet"),
      s"probe plan rescans the corpus:\n$p")
    assert(!p.toLowerCase.contains("explode(cleantokens"),
      s"probe plan re-tokenizes the corpus:\n$p")
    // postings meet the panel through the broadcast gate — a
    // token-keyed sort-merge would shuffle the whole postings table
    assert(p.contains("BroadcastHashJoin"), s"probe gate must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"index probe must not shuffle any index table:\n$p")
    // and no aggregation EXCEPT the candidate-sized per-doc sum: the
    // tf/df/dl/stats aggregates were all paid at build time
    val aggs = df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("HashAggregate"))
    assert(aggs <= 6, s"probe plan re-aggregates index-build work:\n$p")
  }

  test("champion-index probe keeps the corpus-scan-free broadcast-gate plan") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val probes = Seq((1L, Seq("the", "data", "pipeline")),
        (2L, Seq("quality", "tokens"))).toDF("query_id", "qterms")
    val base = graft.operators.Retrieval.bm25IndexCached(docs, "doc_id", "text")
    val champ = graft.operators.Retrieval.bm25ChampionCached(spark, base, c = 64)
    val df = graft.operators.Retrieval.bm25TopKFromIndex(spark, champ,
      probes, "query_id", "qterms", k = 10)
    val p = plan(df)
    // the champion prefix is a full index layout, so the served probe
    // plan is IDENTICAL in shape: no corpus scan, no re-tokenize, the
    // broadcast candidate gate, no index-side shuffle — only the
    // postings files are smaller
    assert(!p.contains("documents.parquet"), s"champion probe rescans the corpus:\n$p")
    assert(!p.toLowerCase.contains("explode(cleantokens"),
      s"champion probe re-tokenizes:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"champion gate must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"champion probe must not shuffle any index table:\n$p")
    // and the plan reads the champion postings, not the base postings
    assert(p.contains(s"${champ}_postings"),
      s"probe must scan the champion postings:\n$p")
    assert(!p.contains(s"${base}_postings"),
      s"probe must not touch the base postings:\n$p")
  }

  test("bm25TopKFromIndexBigPanel: index side plans with ZERO Exchange — the panel moves, the postings never do") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    // a LITERAL synthesized panel (no file scan), so every file scan
    // in the probe plan is an index table by construction
    val probes = spark.range(1, 2000)
      .select(col("id").as("query_id"),
        array(concat(lit("tok"), (col("id") % 37).cast("string")),
          lit("the"), lit("data")).as("qterms"))
    val prefix = graft.operators.Retrieval.bm25IndexCached(docs, "doc_id", "text")
    val df = graft.operators.Retrieval.bm25TopKFromIndexBigPanel(spark, prefix,
      probes, "query_id", "qterms", k = 10)
    val p = plan(df)
    assert(!p.contains("documents.parquet"), s"probe plan rescans the corpus:\n$p")
    // both index joins sort-merge; a broadcast here would mean AQE
    // flipped the big-panel contract back to a panel-sized plan
    assert(countOccurrences(p, "SortMergeJoin") >= 2,
      s"index tables must meet the panel via sort-merge:\n$p")
    // structural pin: walking DOWN from any Exchange, an index-table
    // scan reachable without crossing a join means the index itself
    // was shuffled or broadcast — the exact cost this path avoids.
    // (Exchanges ABOVE a join move candidate-sized data: allowed.)
    def root(q: org.apache.spark.sql.DataFrame): SparkPlan =
      q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case other => other
      }
    def isJoin(n: SparkPlan): Boolean = n match {
      case _: SortMergeJoinExec | _: BroadcastHashJoinExec |
           _: ShuffledHashJoinExec | _: BroadcastNestedLoopJoinExec => true
      case _ => false
    }
    def reachesIndexScanWithoutJoin(n: SparkPlan): Boolean = n match {
      case f: FileSourceScanExec =>
        f.tableIdentifier.exists(_.table.startsWith("bm25_"))
      case j if isJoin(j) => false
      case other => other.children.exists(reachesIndexScanWithoutJoin)
    }
    val tree = root(df)
    val scans = tree.collect {
      case f: FileSourceScanExec if f.tableIdentifier.exists(_.table.startsWith("bm25_")) => f
    }
    assert(scans.size >= 2, s"expected postings+termstats scans in:\n$p")
    val offending = tree.collect {
      case e: ShuffleExchangeExec if e.children.exists(reachesIndexScanWithoutJoin) => e
      case e: BroadcastExchangeExec if e.children.exists(reachesIndexScanWithoutJoin) => e
    }
    assert(offending.isEmpty,
      s"index-table scan shuffled/broadcast before its join:\n${offending.mkString("\n")}\n$p")
  }

  test("near-dup cluster chain: hash-keyed pair self-join, broadcast canonical mapping") {
    import graft.operators.Dedup
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleWidth = 3, threshold = 0.5)
    val pp = plan(pairs)
    // the inverted-index self-join must meet on the shingle-hash key —
    // an all-pairs cartesian/BNL over documents is the quadratic
    // formulation this operator exists to avoid (size-ratio pruning
    // rides INSIDE the equi-join as a post-condition)
    assert(!pp.contains("CartesianProduct") &&
      !pp.contains("BroadcastNestedLoopJoin"),
      s"pair discovery degenerated to all-pairs:\n$pp")
    val cc = Dedup.connectedComponents(
      docs.select(col("doc_id").as("id")), pairs)
    val cp = plan(cc)
    // the component mapping is cluster-count-sized: it must broadcast
    // back onto the vertex set, never shuffle the corpus to meet it
    assert(cp.contains("BroadcastHashJoin"),
      s"canonical mapping must broadcast:\n$cp")
    assert(!cp.contains("SortMergeJoin"),
      s"corpus shuffled to meet the component mapping:\n$cp")
  }

  test("temperatureMixSqrt: rate card broadcasts; the exact take is one per-source window") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("source"))
    val df = Frames.temperatureMixSqrt(docs, "source", "doc_id")
    val p = plan(df)
    // the source-sized rate card must broadcast back — a source-keyed
    // sort-merge join would shuffle the corpus twice (join + window)
    assert(p.contains("BroadcastHashJoin"), s"rate card must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled to meet the card:\n$p")
    val wins = allWindows(df.queryExecution.sparkPlan)
    assert(wins.size === 1 && wins.head.partitionSpec.nonEmpty,
      "exact take must be exactly one per-source window")
  }

  test("perplexityBuckets: tercile cutoffs broadcast back to the scored stream") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val p = plan(graft.operators.TextAnalysis.perplexityBuckets(
      docs, "doc_id", "text", "lang"))
    // the cutoffs frame is languages-sized — joining it any other way
    // would shuffle the scored corpus by language (hot-language skew)
    assert(p.contains("BroadcastHashJoin"), s"cutoff join must broadcast:\n$p")
  }

  test("duplicatedSpans: duplicated-anchor filter is a semi-join (no row multiplication)") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val p = plan(graft.operators.Dedup.duplicatedSpans(docs, "doc_id", "text", 8))
    // a plain inner join against the dup-anchor table would multiply
    // each position by its duplicate count — boilerplate repeated a
    // million times would explode the row count
    assert(p.contains("LeftSemi"), s"anchor filter must be a semi-join:\n$p")
  }

  test("range-frame window is one exchange + one sort, no self-join") {
    val p = plan(SparkEntry.queries("q_window_range")(spark, TestSpark.sfDir))
    assert(p.contains("Window"), s"expected Window node:\n$p")
    assert(!p.contains("Join"), s"RANGE frame must not join:\n$p")
  }

  test("sketch expressions generate code (no fallback Project outside codegen)") {
    // EVERY native SelfComputeCodegen expression in one projection: a
    // single CodegenFallback regression anywhere forces the whole
    // Project out of whole-stage codegen and this assertion fails
    import graft.functions.NativeFunctions._
    val toks = graft.operators.Dedup.tokens(col("text"))
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val df = docs.select(
      graft.operators.Dedup.simhash(col("text")).as("sh"),
      polyShingleHashes(toks, 3).as("psh"),
      polyFingerprint(col("text")).as("fp"),
      minhashSignature(graft.operators.Dedup.shingleHashes(col("text"), 3), 16).as("sig"),
      shingleHashes(toks, 3).as("shh"),
      shingleStrings(toks, 3).as("shs"),
      polyWinnowFingerprints(toks, 4, 4).as("wfp"),
      langId(col("text"), graft.operators.TextAnalysis.LangMarkers).as("lang"),
      maxTokenFreq(toks).as("mtf"),
      tokenStats(toks, Seq("the", "a")).as("ts"),
      charSetCount(col("text"), ".,;").as("punct"),
      regexpCount(col("text"), "[A-Za-z]+").as("words"))
    val p = df.queryExecution.executedPlan.toString
    // a CodegenFallback expression forces the projection out of
    // whole-stage codegen; with real doGenCode the scan+project fuse
    // into one span ("*(1) Project ... *(1) ColumnarToRow")
    assert(p.contains("*(1) Project"), s"sketch projection fell out of codegen:\n$p")
  }

  test("vector expressions generate code (buckets / nearest cells stay in codegen)") {
    import graft.functions.NativeFunctions._
    val cents = Array(Array.fill(64)(0.1f), Array.fill(64)(-0.2f),
      Array.tabulate(64)(i => if (i % 2 == 0) 0.3f else -0.3f))
    val emb = Tables.table(spark, TestSpark.sfDir, "embeddings")
    val df = emb.select(
      rademacherBuckets(col("embedding"), 64, 6, 4).as("rb"),
      nearestCells(col("embedding"), cents, 2).as("cells"),
      cosineSim(col("embedding"), col("embedding")).as("self_sim"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project"), s"vector projection fell out of codegen:\n$p")
  }

  test("packSequences: heavy window hash-partitions by bucket; totals broadcast back") {
    val df = Tables.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), length(col("text")).as("nt"))
    val p = plan(Frames.packSequences(df, "doc_id", "nt", budget = 512, bucketSize = 128))
    // the per-row window must be parallel (hash exchange on bucket),
    // never a corpus-wide single-partition sort
    assert(p.contains("hashpartitioning(bucket"), s"bucket window not partitioned:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"bucket offsets must broadcast:\n$p")
    // the tiny bucket-totals cumsum rides tinyWindow's non-foldable
    // constant key (r16): one bounded partition through
    // hashpartitioning, so NO SinglePartition exchange exists anywhere
    assert(countOccurrences(p, "SinglePartition") == 0,
      s"expected zero SinglePartition exchanges (totals cumsum keys on the tinyWindow constant):\n$p")
  }

  test("lineDedup: first-occurrence aggregate has map-side partials, no window") {
    val df = Tables.table(spark, TestSpark.sfDir, "documents")
    val p = plan(graft.operators.Dedup.lineDedup(df, "doc_id", "text"))
    // min(struct(id,pos)) per line hash must partial-aggregate
    // (partial_min before the exchange), and nothing may sort the
    // whole exploded corpus in one task
    assert(p.contains("partial_min") || p.contains("partial min"),
      s"first-occurrence min not partially aggregated:\n$p")
    assert(!p.contains("SinglePartition"), s"unexpected global exchange:\n$p")
  }

  test("PQ ADC: query tables broadcast, native score kernel in-join, partial top-k shortlist") {
    import graft.operators.Similarity
    val e = Tables.table(spark, TestSpark.sfDir, "embeddings")
    val cbs = Similarity.trainPqCodebooks(e, m = 8, ksub = 16, dim = 64)
    val p = plan(Similarity.pqTopK(e, e, k = 2, cbs))
    // query tables are the broadcast side — the corpus code rows never shuffle
    assert(p.contains("Broadcast"), s"query ADC tables not broadcast:\n$p")
    assert(p.contains("pq_adc_score"), s"native ADC kernel missing:\n$p")
    // per-query shortlist reduces map-side before the one exchange
    assert(p.contains("partial_topk_pairs") || countOccurrences(p, "topk_pairs") >= 2,
      s"no partial top-k aggregation:\n$p")
  }

  test("PQ pipeline executes with codegen fallback disabled (generated code compiles)") {
    // a codegen COMPILE error (e.g. malformed generated Java from a
    // native expression) normally demotes the stage to interpreted
    // execution silently — a 2-3x slowdown with no functional signal.
    // With fallback off, the same bug fails loudly here.
    import graft.operators.Similarity
    val e = Tables.table(spark, TestSpark.sfDir, "embeddings")
    val cbs = Similarity.trainPqCodebooks(e, m = 8, ksub = 16, dim = 64)
    val old = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val n = Similarity.pqTopKReranked(e, e, k = 1, cbs, shortlist = 8).queryExecution.toRdd.count()
      assert(n > 0)
    } finally spark.conf.set("spark.sql.codegen.fallback", old)
  }

  test("per-group quantiles rank in (group, bucket) cells — no whole-group sort") {
    // the scale hazard: Window.partitionBy(key) on a low-cardinality
    // key routes each ENTIRE group through one task. globalRankByGroup
    // must (a) rank the corpus in (key, bucket) cells and (b) key-only
    // windows may consume only the cells AGGREGATE (groups x buckets
    // rows), never the corpus stream.
    val df = Tables.table(spark, TestSpark.sfDir, "orders")
      .select((col("o_orderkey") % 3).as("k"), col("o_totalprice").as("v"))
    val q = Frames.exactQuantilesByGroup(df, "k", "v", Seq(0.25, 0.75))
    val wins = allWindows(q.queryExecution.sparkPlan)
    assert(wins.exists(_.partitionSpec.size == 2),
      s"corpus rank should partition by (key, bucket):\n${plan(q)}")
    wins.filter(_.partitionSpec.size < 2).foreach { w =>
      // bounded inputs: key-only windows may consume only the
      // groups×buckets cell-count aggregate (__cn), never the corpus
      // stream — the round-4 shape read cells back out of a persisted
      // corpus-sized rank stream instead
      assert(w.child.toString.contains("__cn"),
        s"a key-only window consumes a non-bounded stream:\n$w")
    }
    // and the rework's point: NO operator-internal persist — the plan
    // must not contain an InMemoryRelation scan
    assert(!plan(q).contains("InMemoryTableScan"),
      s"unexpected operator-internal persist:\n${plan(q)}")
  }

  test("sqTopK: codes broadcast to the corpus scan; only the re-rank fetch may sort-merge") {
    val e = Tables.table(spark, TestSpark.sfDir, "embeddings")
    val df = graft.operators.Similarity.sqTopK(e, e.limit(20), k = 1, shortlist = 8)
    val p = plan(df)
    // the int8 query codes are broadcast against the streamed corpus
    // codes (nested-loop by contract, like brute force — but over 4x
    // smaller rows); the exact re-rank's corpus-vector fetch is the
    // one equi-join allowed to shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"SQ8 scoring must broadcast the query side:\n$p")
    assert(countOccurrences(p, "SortMergeJoin") <= 1,
      s"only the re-rank vector fetch may sort-merge:\n$p")
    // shortlist + final top-k are bounded-heap aggregates, not windows
    val wins = allWindows(df.queryExecution.sparkPlan)
    assert(wins.forall(_.partitionSpec.nonEmpty), "no global windows in SQ8 search")
  }

  test("zorderKeyed is map-only: zero exchanges after the one-row stats pass") {
    val o = Tables.table(spark, TestSpark.sfDir, "orders")
      .withColumn("ck", col("o_custkey").cast("long"))
      .withColumn("od", datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long"))
    val df = graft.operators.Layout.zorderKeyed(o, col("ck"), col("od"))
    val p = plan(df)
    // the curve key is shift/mask arithmetic on two literals-scaled
    // columns: the plan must be a pure scan+project — the write path
    // adds exactly one range exchange, nothing here may shuffle
    assert(!p.contains("Exchange"), s"zorder keying must not shuffle:\n$p")
    // "*(n)" node prefixes mark whole-stage-codegen stages in the
    // compact plan dump — the key math must not fall back to an
    // interpreted Project
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("zkey")),
      s"key math must stay in codegen:\n$p")
  }

  test("bloom contamination probe is map-only: zero exchanges, zero joins, codegen") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val words = graft.operators.Bloom.buildBloomWords(
      docs.filter(col("doc_id") % 20 === 0), "text", 1 << 15, 4, 8)
    val df = graft.operators.Bloom.contaminationCard(
      docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text", words, 1 << 15, 4, 8)
    val p = plan(df)
    // the whole point of the bloom gate vs the semi-join flavor: the
    // corpus-side probe plan is scan+filter+project — the bit array
    // rides the expression, so nothing shuffles and nothing joins
    assert(!p.contains("Exchange"), s"bloom probe must not shuffle:\n$p")
    assert(!p.contains("Join"), s"bloom probe must not join:\n$p")
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("bloom_shingle_hits")),
      s"probe must stay in codegen:\n$p")
  }

  test("cmsCounters: one grid-keyed aggregate with map-side partials") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val df = graft.operators.CountMin.cmsCounters(docs, "text", 4, 1024)
    val p = plan(df)
    // the whole point of the sketch: the occurrence stream reduces to
    // <= depth*width rows per partition BEFORE its one shuffle — the
    // wire cost is grid-sized, not vocab-sized
    assert(p.contains("partial_count"), s"cell counts must map-side combine:\n$p")
    assert(countOccurrences(p, "Exchange") === 1, s"expected 1 shuffle:\n$p")
  }

  test("sourceTermDrift: one corpus-keyed shuffle, bounded-heap top-K, broadcast grid") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val df = graft.operators.TextAnalysis.sourceTermDrift(docs, "source", "text", topK = 64)
    val p = plan(df)
    // the occurrence stream reduces in a partial (source, term) count
    // before its one shuffle; top-K terms come from the bounded-heap
    // aggregate (never a global vocab sort); the zero-fill grid joins
    // broadcast the K-term side
    assert(p.contains("partial_count"), s"token count must map-side combine:\n$p")
    assert(p.contains("topk_rows"), s"top-K must be the bounded-heap aggregate:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"K-term grid sides must broadcast:\n$p")
    val wins = allWindows(df.queryExecution.sparkPlan)
    assert(wins.isEmpty, "drift card needs no window at all")
  }

  test("termDriftWindowed: ONE stateful aggregation (array-sum vectors), map-only JS finish") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .withColumn("ts", timestamp_seconds(col("doc_id")))
    val (terms, counts, total) =
      graft.operators.TextAnalysis.referenceTermStats(docs, "text", topK = 16)
    val df = graft.streaming.DocStreams.termDriftWindowed(docs, terms, counts, total,
      windowSeconds = 60L)
    val p = plan(df)
    // the per-doc count vector is map-only; the single windowed
    // aggregate (the streaming-legal shape) is the ONLY exchange; the
    // JS finish is a projection over the aggregated vector
    assert(p.contains("array_sum_agg"), s"must aggregate count vectors:\n$p")
    assert(countOccurrences(p, "Exchange") <= 2,
      s"one aggregation exchange (+ at most a partial pair) allowed:\n$p")
    val wins = allWindows(df.queryExecution.sparkPlan)
    assert(wins.isEmpty, "no WindowExec anywhere in the drift monitor")
  }

  test("every declared query's unpartitioned windows are on the bounded allowlist") {
    // An unpartitioned Window moves ALL its input through one task.
    // Each allowlisted site below is a DOCUMENTED bounded window (the
    // input is a small aggregate, never the corpus); any new global
    // window in any declared query fails here until it is justified
    // and added with a comment.
    val allow: Map[String, Int] = Map(
      // packSequences bucket-totals prefix sum: input is ONE row per
      // bucket (<= n/bucketSize rows), never the token stream
      "q_pack_sequences" -> 1,
      // the same packSequences bucket-totals window inside the epoch
      // assembly composition
      "q_epoch_pack" -> 1,
      // forward + backward scans (and the gap-filled grid rank) over
      // the DAILY aggregate series: one row per calendar day — bounded
      // by the time span, not the corpus (events collapse in the
      // groupBy(day) BEFORE any window)
      "events_interpolate" -> 3,
      // the flagship's two documented bounded globals: (1) the median-
      // cutoff cumsum over the score HISTOGRAM — input is one row per
      // distinct integer per-token mean, bounded by the weight range,
      // never the corpus (the perplexityBuckets shape, global because
      // the cutoff is corpus-wide rather than per-language); (2) the
      // packSequences bucket-totals prefix sum (one row per bucket),
      // the same site allowlisted for q_pack_sequences/q_epoch_pack
      "q_curation_v3" -> 2,
      // the served flagship is the identical composition (stage (C)'s
      // weights come from the artifact instead of inline training) —
      // same two bounded windows as q_curation_v3
      "q_curation_v3_served" -> 2,
      // the derived-language flagship is the identical composition
      // (stage (C)'s seed label comes from the trained char-3-gram
      // classifier — a map-only scoring join, no new window) — the
      // same two bounded v3 windows, verified by plan diff (identical
      // Window operator sets). The interrupted build round added the
      // query without extending this allowlist.
      "q_curation_v4" -> 2,
      // benfordAudit's total runs over the 9-row digit card — the
      // input collapsed in the 9-key aggregate before the window
      "q_benford_audit" -> 1,
      // ddQuantiles' cumulative walk + total run over the SKETCH —
      // bounded at log_gamma(max/min) geometric buckets (a few
      // hundred rows for any physical quantity at alpha = 1%)
      // regardless of corpus size; two window sites (cum + n)
      "q_ddsketch_quantiles" -> 2,
      // the identical sketch-sized reads over the shard-merged sketch
      "q_ddsketch_merged" -> 2,
      // unimaxAllocation's rank / prefix-sum / prefix-AND windows run
      // over ONE ROW PER SOURCE (dozens-to-thousands, bounded by
      // construction — the corpus collapses in the token-count
      // aggregate BEFORE any window); the plan evaluates the chain
      // once for the per-source output and once for the water-level
      // aggregate, hence 2 x 3 sites
      "q_unimax_mix" -> 6,
      // the same source-sized allocation chain feeding the selection
      // (whose own running-total window is per-source PARTITIONED,
      // not global)
      "q_unimax_select" -> 3,
      // the Zipf rank window runs over the top-64 terms AFTER the
      // TakeOrdered cut — 64 rows by construction
      "text_zipf_slope" -> 1,
      // the cell-skew card's n_total runs over nCells rows (the
      // corpus collapsed in the cell-keyed count BEFORE the window)
      "sim_ivf_cell_skew" -> 1)
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val wins = allWindows(fn(spark, TestSpark.sfDir).queryExecution.sparkPlan)
          .filter(_.partitionSpec.isEmpty)
        if (wins.size > allow.getOrElse(name, 0))
          Seq(s"$name: ${wins.size} global windows (allowed ${allow.getOrElse(name, 0)})")
        else Nil
    }
    assert(offenders.isEmpty,
      s"unallowlisted global windows:\n${offenders.mkString("\n")}")
  }

  test("join strategy hints override the planner's default choice") {
    val o = Tables.table(spark, TestSpark.sfDir, "orders")
    val li = Tables.table(spark, TestSpark.sfDir, "lineitem")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    // default at this size: broadcast; the merge hint forces sort-merge
    val merged = plan(o.hint("merge").join(li, Seq("o_orderkey")))
    assert(merged.contains("SortMergeJoin"), s"merge hint ignored:\n$merged")
    val shuffled = plan(o.hint("shuffle_hash").join(li, Seq("o_orderkey")))
    assert(shuffled.contains("ShuffledHashJoin"), s"shuffle_hash hint ignored:\n$shuffled")
  }

  test("zone-map audits plan ONE corpus scan and one tiny-key aggregate exchange") {
    import graft.operators.Layout
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val p1 = plan(Layout.zoneMapAudit(docs, col("doc_id"), nFiles = 32))
    assert(countOccurrences(p1, "Scan parquet") === 1,
      s"both layouts must come off one scan:\n$p1")
    assert(countOccurrences(p1, "Exchange") === 1,
      s"expected only the 2x32-key aggregate exchange:\n$p1")
    assert(!p1.contains("Join"), s"the audit must not plan a join:\n$p1")
    val orders = Tables.table(spark, TestSpark.sfDir, "orders")
    val o2 = orders
      .withColumn("ck", col("o_custkey").cast("long"))
      .withColumn("od", datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long"))
    val p2 = plan(Layout.zorderPruneAudit(o2, col("ck"), col("od")))
    assert(countOccurrences(p2, "Scan parquet") === 1,
      s"all three layouts must come off one scan:\n$p2")
    assert(countOccurrences(p2, "Exchange") === 1,
      s"expected only the 3x64-key aggregate exchange:\n$p2")
    // the Morton key must be computed in a Project BEFORE the explode
    // (inside the Generate it loses subexpression sharing — measured
    // ~4x slower); the Generate's plan line must not carry the
    // interleave's shiftleft chain
    val gen = p2.linesIterator.find(_.contains("Generate")).getOrElse("")
    assert(!gen.contains("shiftleft"),
      s"Morton key leaked into the Generate:\n$gen")
  }

  test("t-closeness audit plans broadcast-only joins after one corpus shuffle") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val df = graft.operators.Quality.tClosenessAudit(docs, Seq("source"), "lang")
    val p = plan(df)
    assert(!p.contains("SortMergeJoin"),
      s"every grid attachment must broadcast:\n$p")
    assert(countOccurrences(p, "BroadcastHashJoin") >= 1 &&
      countOccurrences(p, "BroadcastNestedLoopJoin") >= 1,
      s"domain histogram + singleton total must enter as broadcasts:\n$p")
    // the corpus flows through exactly one partial-aggregated shuffle;
    // everything downstream is classes x domain sized
    assert(countOccurrences(p, "Scan parquet") <= 4,
      s"corpus must not rescan per grid side:\n$p")
  }

  test("unigram tokenizer apply path is map-only (vocab rides in the expression)") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val vocab = graft.operators.TextAnalysis.trainUnigramVocab(
      docs, "text", topK = 8, maxPieceLen = 3)
    val df = docs.select(col("doc_id"),
      graft.operators.TextAnalysis.unigramTokenCount(col("text"), vocab, 3).as("n"),
      graft.operators.TextAnalysis.unigramScoreSum(col("text"), vocab, 3).as("lp"))
    val p = plan(df)
    assert(!p.contains("Join"), s"segmentation must not join a vocab table:\n$p")
    assert(countOccurrences(p, "Exchange") === 0,
      s"segmentation must not shuffle:\n$p")
  }

  test("C4 rule card and mp4 decode are single-pass map-only plans") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val c4 = docs.select(col("doc_id"),
      graft.operators.TextAnalysis.c4Signals(col("text")).as("c"))
    val pc = plan(c4)
    assert(!pc.contains("Join") && countOccurrences(pc, "Exchange") === 0,
      s"C4 signals must be one map stage:\n$pc")
    val blobs = graft.operators.Multimodal.synthMediaBlobs(
      docs.select(col("doc_id")), "doc_id", "mp4")
    val dec = graft.operators.Multimodal.decodeMedia(blobs, "bytes", "format",
      new graft.operators.Multimodal.PureJvmCodec())
    val pd = plan(dec)
    assert(!pd.contains("Join") && countOccurrences(pd, "Exchange") === 0,
      s"decode must run where the bytes are:\n$pd")
  }

  test("edit-similarity join: every join is equi (no cartesian/nested-loop), levenshtein after the filter") {
    val cust = Tables.table(spark, TestSpark.sfDir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("s"))
    for (strat <- Seq("deletion", "qgram")) {
      val df = graft.operators.EditSimilarity.editSimilarityJoin(
        cust, "id", "s", maxDist = 1, q = 3, strategy = strat)
      val p = plan(df)
      // the whole point of both candidate filters: the naive form is
      // a cartesian product; the plan must never contain one
      assert(!p.contains("CartesianProduct"), s"[$strat] cartesian leaked:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"[$strat] non-equi join leaked:\n$p")
      // the deletion tier needs no frequency table and no rarity
      // window — candidate generation must stay window-free
      if (strat == "deletion")
        assert(!p.contains("Window"), s"[deletion] window leaked:\n$p")
    }
  }

  test("image dhash pairing: banded equi-join, no cartesian, map-only hashing") {
    val blobs = graft.operators.Multimodal.synthMediaBlobs(
        Tables.table(spark, TestSpark.sfDir, "documents").select(col("doc_id")),
        "doc_id", "bmp_near")
      .withColumn("format", lit("bmp"))
    val hashes = graft.operators.ImageHash.imageHashes(
      blobs, "id", "bytes", "format")
    val df = graft.operators.ImageHash.dhashPairs(hashes, "id", "dhash",
      maxBits = 3, nBands = 4)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian leaked:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"non-equi leaked:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), s"band join must be equi:\n$p")
  }

  test("DDSketch: one map-side-combined aggregate, quantile reads join the sketch to a broadcast panel") {
    val li = Tables.table(spark, TestSpark.sfDir, "lineitem")
    val gamma = graft.operators.Quantiles.gammaFor(0.01)
    val sk = graft.operators.Quantiles.ddSketch(li, "l_extendedprice", gamma)
    val ps = plan(sk)
    // partial_count before the exchange = map-side combine to
    // sketch-sized rows per partition
    assert(ps.contains("partial_count") || ps.contains("partial count"),
      s"sketch agg must partial-aggregate:\n$ps")
    assert(countOccurrences(ps, "Exchange") === 1,
      s"sketch is one bucket-keyed shuffle:\n$ps")
    val q = graft.operators.Quantiles.ddQuantiles(sk, gamma, Seq(500000L))
    val pq = plan(q)
    assert(pq.contains("BroadcastNestedLoopJoin") ||
      pq.contains("BroadcastHashJoin"),
      s"the quantile panel must broadcast:\n$pq")
  }

  test("KMV sketch: bounded-heap topk_rows aggregates with map-side partials") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val terms = docs.select(col("source"),
      explode(graft.operators.TextAnalysis.tokens(col("text"))).as("term"))
    val sk = graft.operators.Kmv.kmvSketch(terms, "source", "term", 64)
    val p = plan(sk)
    assert(p.contains("topk_rows"), s"native heap agg missing:\n$p")
    assert(p.contains("partial_topk_rows") || p.contains("partial topk_rows"),
      s"heap must partial-aggregate before the shuffle:\n$p")
    // no window sort of the vocab stream anywhere in the sketch path
    assert(!p.contains("Window"), s"sketch must not window-sort:\n$p")
  }

  test("filtered ANN: the metadata predicate pushes into the corpus parquet scan") {
    import graft.operators.Similarity
    val e = Tables.table(spark, TestSpark.sfDir, "embeddings")
    val cents = Similarity.trainIvfCentroids(e, nCentroids = 16, dim = 64,
      iterations = 1)
    val df = Similarity.ivfTopK(e.filter(col("label") < 5), e, k = 1, cents,
      nProbe = 4)
    val p = plan(df)
    assert(p.contains("LessThan(label,5)"),
      s"label predicate must reach the scan:\n$p")
  }

  test("attribution plans ONE actor exchange and ONE window (no touch join)") {
    val ev = Tables.table(spark, TestSpark.sfDir, "events")
    val df = Temporal.attributionFirstLast(ev, "user_id", "ts",
      "event_type", "event_id", "purchase", Seq("click", "view"), 3600L)
    val p = plan(df)
    assert(!p.contains("Join"), s"attribution must not plan a join:\n$p")
    val exec = df.queryExecution.executedPlan
    assert(allWindows(exec).size === 1,
      s"both extrema must share one WindowExec:\n$p")
    assert(countOccurrences(p, "Exchange") === 1,
      s"expected only the actor-key shuffle:\n$p")
  }
}
