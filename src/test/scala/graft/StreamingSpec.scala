package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def events = Tables.table(spark, TestSpark.sfDir, "events")

  test("approx sketches stay within error bounds of exact values") {
    import org.apache.spark.sql.functions._
    val exact = events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = SparkEntry.queries("q_approx_sketches")(spark, TestSpark.sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    approx.foreach { case (k, a) =>
      val e = exact(k)
      assert(math.abs(a - e).toDouble / e < 0.1, s"$k: approx $a vs exact $e")
    }
  }

  test("batch windowedAgg totals match a flat aggregation") {
    val windowed = EventStreams.windowedAgg(events, "1 hour")
    val total = windowed.agg(sum("n")).head().getLong(0)
    assert(total === events.count())
  }

  test("activeActorsWindowed: streaming multi-stateful chain matches batch exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-actw").toString
    val sample = events.limit(20000)
      .select("event_id", "ts", "user_id", "event_type", "value").cache()
    sample.coalesce(3).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = EventStreams.activeActorsWindowed(stream, "user_id", "1 hour",
        watermark = Some("2 hours"))
      .writeStream.outputMode("append").format("memory")
      .queryName("actw").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("select * from actw")
        .collect().map(r => r.get(0).toString -> r.getLong(2)).toMap
      val batch = EventStreams.activeActorsWindowed(sample, "user_id", "1 hour")
        .collect().map(r => r.get(0).toString -> r.getLong(2)).toMap
      assert(streamed.nonEmpty, "append mode emitted no closed windows")
      // every closed window's EXACT distinct-actor count matches batch
      // — dedup state and agg state composed correctly across
      // micro-batches (an actor spanning batches must count once)
      streamed.foreach { case (w, n) => assert(batch(w) === n, s"window $w") }
      // and the batch mode equals a direct groupBy countDistinct
      val direct = sample
        .groupBy(window(col("ts"), "1 hour")).agg(countDistinct("user_id"))
        .collect().map(r => r.getStruct(0).get(0).toString -> r.getLong(1)).toMap
      assert(batch === direct)
    } finally q.stop()
  }

  test("streaming windowed agg over the same data matches batch (memory sink)") {
    // stream the events table through a file source: rewrite to a temp
    // dir (micro-timestamps) so readStream sees the same rows
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    events.select("event_id", "ts", "user_id", "event_type", "value").coalesce(2)
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = EventStreams.streamingWindowedAgg(stream, "1 hour", watermark = "2 hours")
      .writeStream.outputMode("append").format("memory").queryName("winagg").start()
    try {
      q.processAllAvailable()
      // append mode only emits windows the watermark has passed; with
      // a finite file source everything except the tail is final
      val streamed = spark.sql("select * from winagg")
        .select("window_start", "event_type", "n")
        .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      val batch = EventStreams.windowedAgg(events, "1 hour")
        .select("window_start", "event_type", "n")
        .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed.nonEmpty)
      streamed.foreach { case (k, n) => assert(batch(k) === n, s"window $k") }
    } finally q.stop()
  }

  test("streaming windowed DDSketch matches batch sketch AND quantile reads") {
    import graft.operators.Quantiles
    val gamma = Quantiles.gammaFor(0.01)
    val dir = java.nio.file.Files.createTempDirectory("graft-ddsk").toString
    events.select("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(4).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = EventStreams.ddSketchWindowedStream(stream, gamma, "1 hour",
        watermark = "2 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName("ddsk").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("select * from ddsk")
      val batch = EventStreams.ddSketchWindowedBatch(events, gamma, "1 hour")
      val sKey = streamed.collect()
        .map(r => (r.get(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
      val bKey = batch.collect()
        .map(r => (r.get(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
      assert(sKey.nonEmpty, "append mode emitted no closed windows")
      // every closed window's sketch rows are count-identical to batch
      // (an event landing in an earlier micro-batch must fold into the
      // same (window, bucket) cell)
      sKey.foreach { case (k, n) => assert(bKey(k) === n, s"cell $k") }
      // quantile reads over the streamed sketch == reads over the
      // batch sketch for every closed window (the read is a pure
      // function of the sketch rows)
      val closed = sKey.keys.map(_._1).toSet
      val fromStream = Quantiles.ddQuantiles(
          streamed.withColumnRenamed("window_start", "w"), gamma,
          Seq(500000L, 900000L), groupCols = Seq("w"))
        .collect()
        .map(r => (r.get(0).toString, r.getLong(1)) -> r.getLong(7)).toMap
      val fromBatch = Quantiles.ddQuantiles(
          batch.withColumnRenamed("window_start", "w"), gamma,
          Seq(500000L, 900000L), groupCols = Seq("w"))
        .collect()
        .map(r => (r.get(0).toString, r.getLong(1)) -> r.getLong(7)).toMap
      fromStream.filter(k => closed(k._1._1)).foreach { case (k, est) =>
        assert(fromBatch(k) === est, s"quantile $k")
      }
    } finally q.stop()
  }

  test("streaming source-health windows match the batch definition exactly") {
    import graft.operators.TextAnalysis
    import graft.streaming.DocStreams
    val ws = TextAnalysis.demoQualityWeights(256)
    // documents with synthetic event times: one doc a minute, so the
    // corpus spans many 1-hour windows per source
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .select(
        timestamp_millis(lit(1700000000000L) + col("doc_id") * 60000L).as("ts"),
        col("source"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-docstream").toString
    docs.coalesce(2).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val q = DocStreams.sourceHealthWindowed(stream, ws, windowSeconds = 3600,
        watermarkSeconds = Some(7200))
      .writeStream.outputMode("append").format("memory")
      .queryName("srchealth").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.get(0).toString, r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      val streamed = spark.sql("select * from srchealth").collect()
        .map(key).toMap
      val batch = DocStreams.sourceHealthWindowed(docs, ws, windowSeconds = 3600)
        .collect().map(key).toMap
      assert(streamed.nonEmpty)
      // append mode withholds only windows the watermark hasn't passed;
      // every emitted window must match the batch run field-for-field
      streamed.foreach { case (k, v) => assert(batch(k) === v, s"window $k") }
    } finally q.stop()
  }

  test("streaming windowed drift matches the batch definition exactly") {
    import graft.operators.TextAnalysis
    import graft.streaming.DocStreams
    val corpus = Tables.table(spark, TestSpark.sfDir, "documents")
    val (terms, counts, total) =
      TextAnalysis.referenceTermStats(corpus, "text", topK = 32)
    val docs = corpus.select(
      timestamp_millis(lit(1700000000000L) + col("doc_id") * 60000L).as("ts"),
      col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-driftstream").toString
    docs.coalesce(2).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val q = DocStreams.termDriftWindowed(stream, terms, counts, total,
        windowSeconds = 3600, watermarkSeconds = Some(7200))
      .writeStream.outputMode("append").format("memory")
      .queryName("driftwin").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        r.get(0).toString -> ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) Long.MinValue else r.getLong(3)))
      val streamed = spark.sql("select * from driftwin").collect().map(key).toMap
      val batch = DocStreams.termDriftWindowed(docs, terms, counts, total,
          windowSeconds = 3600)
        .collect().map(key).toMap
      assert(streamed.nonEmpty)
      // the single array_sum_agg state + map-only JS finish must make
      // streaming and batch agree to the exact integer micro
      streamed.foreach { case (k, v) => assert(batch(k) === v, s"window $k") }
      // sanity: a same-corpus reference keeps windows in a low-JS band
      val jss = batch.values.map(_._3).filter(_ != Long.MinValue)
      assert(jss.nonEmpty && jss.forall(j => j >= -300L && j <= 693148L))
    } finally q.stop()
    // a duplicated reference term would double-count matching tokens and
    // drive the derived <rest> element negative — rejected at plan build
    val eDup = intercept[IllegalArgumentException] {
      DocStreams.termDriftWindowed(docs, Seq("a", "a"), Seq(1L, 1L), 10L)
    }
    assert(eDup.getMessage.contains("distinct"))
  }

  test("source-health window state survives a checkpointed restart") {
    import graft.operators.TextAnalysis
    import graft.streaming.DocStreams
    val ws = TextAnalysis.demoQualityWeights(256)
    val in = java.nio.file.Files.createTempDirectory("graft-dh-in").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-dh-ck").toString
    // memory sink cannot recover from a checkpoint; a file sink can,
    // and is the shape a real ingest-health pipeline restarts with
    val out = java.nio.file.Files.createTempDirectory("graft-dh-out").toString
    def write(rows: Seq[(String, String, String)]): Unit =
      rows.map { case (ts, src, text) => (java.sql.Timestamp.valueOf(ts), src, text) }
        .toDF("ts", "source", "text")
        .coalesce(1).write.mode("append").parquet(in)
    // batch 1: window W0 = [00:00, 01:00) is OPEN — partial counts for
    // two sources live only in the state store when the query dies
    write(Seq(
      ("2024-01-01 00:05:00", "web", "plain healthy document text with words"),
      ("2024-01-01 00:20:00", "web", "contact me at leak@example.com today"),
      ("2024-01-01 00:40:00", "wiki", "a second source in the same window")))
    val schema = spark.read.parquet(in).schema
    def start() = DocStreams.sourceHealthWindowed(
        spark.readStream.schema(schema).parquet(in),
        ws, windowSeconds = 3600, watermarkSeconds = Some(1800))
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ck).start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(out).isEmpty,
      "no window should close before the watermark passes W0")
    // while the query is DOWN: one LATE doc still inside W0 (must merge
    // into the recovered partial state, not start a fresh count) plus a
    // doc far enough ahead to push the watermark past W0's end
    write(Seq(
      ("2024-01-01 00:55:00", "web", "late arrival still in the first window"),
      ("2024-01-01 03:00:00", "web", "watermark pusher in a later window")))
    val q2 = start()
    try {
      q2.processAllAvailable()
      q2.processAllAvailable()  // let the advanced watermark close W0
      val closed = spark.read.parquet(out)
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      val w0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      // W0/web: 2 docs from before the kill + 1 late doc after restart;
      // a lost state store would report 1, a non-merging one 2
      val (nDocs, _, nPii, _) = closed((w0, "web"))
      assert(nDocs === 3L, s"recovered window must merge pre-kill state: $closed")
      assert(nPii === 1L)   // the leak@example.com doc counted exactly once
      assert(closed((w0, "wiki"))._1 === 1L)
      // exactly-once: the emitted rows equal the batch definition over
      // the union of both input batches, field for field
      val batch = DocStreams.sourceHealthWindowed(
          spark.read.parquet(in), ws, windowSeconds = 3600)
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      closed.foreach { case (k, v) => assert(batch(k) === v, s"window $k") }
    } finally q2.stop()
  }

  test("streaming windowed constraint checks match the batch definition exactly") {
    import graft.operators.Quality
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .select(timestamp_millis(lit(1700000000000L) + col("doc_id") * 60000L).as("ts"),
        col("text"), col("lang"))
    val checks = Seq(
      "nonempty" -> (length(trim(col("text"))) > 0),
      "lang_known" -> col("lang").isin("en", "fr", "zh"))
    val dir = java.nio.file.Files.createTempDirectory("graft-qstream").toString
    docs.coalesce(2).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val q = Quality.checkConstraintsWindowed(stream, checks,
        windowSeconds = 3600, watermarkSeconds = Some(7200))
      .writeStream.outputMode("append").format("memory")
      .queryName("qualwin").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.get(0).toString, r.getString(1)) -> ((r.getLong(2), r.getBoolean(3)))
      val streamed = spark.sql("select * from qualwin").collect().map(key).toMap
      val batch = Quality.checkConstraintsWindowed(docs, checks,
          windowSeconds = 3600)
        .collect().map(key).toMap
      assert(streamed.nonEmpty)
      streamed.foreach { case (k, v) => assert(batch(k) === v, s"window $k") }
    } finally q.stop()
  }

  test("windowed-drift array-sum state survives a checkpointed restart") {
    import graft.streaming.DocStreams
    // the drift monitor's window state is the custom ArraySum
    // aggregate's buffer — this test drives its serialize/deserialize
    // through a real state-store recovery, the one path no
    // uninterrupted run exercises
    val terms = Seq("alpha", "beta")
    val (counts, total) = (Seq(60L, 30L), 100L) // 10 tokens of <rest>
    val in = java.nio.file.Files.createTempDirectory("graft-dr-in").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-dr-ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft-dr-out").toString
    def write(rows: Seq[(String, String)]): Unit =
      rows.map { case (ts, text) => (java.sql.Timestamp.valueOf(ts), text) }
        .toDF("ts", "text")
        .coalesce(1).write.mode("append").parquet(in)
    // batch 1: window W0 open — its count VECTOR (alpha=2, beta=1,
    // rest=1) exists only as serialized ArraySum state at the kill
    write(Seq(
      ("2024-01-01 00:05:00", "alpha beta"),
      ("2024-01-01 00:20:00", "alpha other")))
    val schema = spark.read.parquet(in).schema
    def start() = DocStreams.termDriftWindowed(
        spark.readStream.schema(schema).parquet(in),
        terms, counts, total, windowSeconds = 3600,
        watermarkSeconds = Some(1800))
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ck).start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(spark.read.parquet(out).isEmpty,
      "no window may close before the watermark passes W0")
    // down: a late W0 doc (must MERGE into the recovered vector) and a
    // watermark pusher
    write(Seq(
      ("2024-01-01 00:50:00", "beta beta gamma"),
      ("2024-01-01 03:00:00", "alpha")))
    val q2 = start()
    try {
      q2.processAllAvailable()
      q2.processAllAvailable()
      val closed = spark.read.parquet(out).collect()
        .map(r => r.getTimestamp(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val w0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val (nDocs, nTokens, js) = closed(w0)
      assert(nDocs === 3L && nTokens === 7L,
        s"recovered vector must merge pre-kill counts: $closed")
      // exact-integer replay of the expected JS over the merged vector
      // (alpha=2, beta=3, rest=2 [other+gamma] of 7 vs ref 60/30/10 of 100)
      def term(cW: Long, cR: Long): Long = {
        val d = (cW * total + cR * nTokens).toDouble
        val p = if (cW == 0) 0.0
          else (0.5 * (cW.toDouble / nTokens)) * math.log(2.0 * cW * total / d)
        val q = if (cR == 0) 0.0
          else (0.5 * (cR.toDouble / total)) * math.log(2.0 * cR * nTokens / d)
        math.floor((p + q) * 1e6).toLong
      }
      val want = Seq((2L, 60L), (3L, 30L), (2L, 10L)).map { case (a, b) => term(a, b) }.sum
      assert(js === want, s"JS over the recovered vector: got $js want $want")
      // exactly-once vs the batch definition over both input batches
      val batch = DocStreams.termDriftWindowed(spark.read.parquet(in),
          terms, counts, total, windowSeconds = 3600)
        .collect().map(r => r.getTimestamp(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      closed.foreach { case (k, v) => assert(batch(k) === v, s"window $k") }
    } finally q2.stop()
  }

  test("streaming near-dup gate matches the batch cross-dedup flag set") {
    import graft.streaming.DocStreams
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"),
        timestamp_millis(lit(1700000000000L) + col("doc_id") * 60000L).as("ts"),
        col("text"))
    // the dedup_minhash_cross fixture split: %5==0 plays today's
    // delta, the rest the indexed reference corpus
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-gate").toString
    delta.coalesce(2).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val q = DocStreams.nearDupGateStream(stream, corpus, threshold = 0.5,
        watermarkSeconds = Some(7200))
      .writeStream.outputMode("append").format("memory")
      .queryName("ndgate").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("select id from ndgate").collect()
        .map(_.getLong(0))
      assert(streamed.length === streamed.distinct.length,
        "gate must emit each flagged id exactly once")
      // ground truth: the batch cross-dedup operator's flagged deltas
      val crossIds = graft.operators.Dedup.minhashNearDupPairsCross(
          delta, corpus, "doc_id", "text", threshold = 0.5)
        .select("delta_id").distinct().collect().map(_.getLong(0)).toSet
      assert(crossIds.nonEmpty, "fixture must contain cross near-dups")
      assert(streamed.toSet === crossIds)
      // one definition, both modes: the SAME gate run as a batch job
      // lands on the identical flag set
      val batchTwin = DocStreams.nearDupGateStream(delta, corpus,
          threshold = 0.5)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(batchTwin === crossIds)
    } finally q.stop()
  }

  test("streaming BM25 gate matches its batch twin and a JVM replay") {
    import graft.streaming.DocStreams
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"),
        timestamp_millis(lit(1700000000000L) + col("doc_id") * 60000L).as("ts"),
        col("text"))
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    // probe panel: first-4 tokens of three reference docs
    val probes = corpus.filter(col("doc_id") % 100 === 1)
      .limit(3)
      .select(col("doc_id").as("probe_id"),
        slice(split(trim(col("text")), "\\s+"), 1, 4).as("terms"))
    // independent JVM replay of the gate's scoring (same fixed-order
    // double math from plain Scala), to pick a threshold that splits
    // the delta AND to check every emitted (probe, score) pair
    val corpusToks = corpus.select("text").collect()
      .map(_.getString(0).trim.split("\\s+").toSeq.filter(_.nonEmpty))
    val nDocs = corpusToks.length.toLong
    val total = corpusToks.map(_.size.toLong).sum
    val dfm = corpusToks.flatMap(_.distinct).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val panel = probes.collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).distinct).toSeq
    assert(panel.size === 3)
    def replay(text: String): (Long, Long) = {
      val ts = text.trim.split("\\s+").toSeq.filter(_.nonEmpty)
      val dl = ts.size.toDouble
      val best = panel.map { case (pid, terms) =>
        val s = terms.map { term =>
          dfm.get(term).fold(0L) { df =>
            val idf = math.log(1.0 + (nDocs.toDouble - df + 0.5) / (df.toDouble + 0.5))
            val tf = ts.count(_ == term).toDouble
            math.floor(idf * (tf * (1.2 + 1.0)) /
              (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl * nDocs.toDouble / total.toDouble)) *
              1000000.0).toLong
          }
        }.sum
        (s, -pid)
      }.max
      (-best._2, best._1)
    }
    val deltaRows = delta.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val scores = deltaRows.map { case (id, t) => id -> replay(t) }.toMap
    val cut = scores.values.map(_._2).toSeq.sorted.apply(scores.size / 2)
    val expect = scores.filter { case (_, (_, s)) => s >= cut }
    assert(expect.nonEmpty && expect.size < scores.size,
      "threshold must split the delta")
    // batch twin
    val batchGot = DocStreams.bm25GateStream(delta, corpus, probes,
        minScoreMicro = cut)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(batchGot === expect)
    // streaming run over the same delta
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25gate").toString
    delta.coalesce(2).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val q = DocStreams.bm25GateStream(stream, corpus, probes,
        minScoreMicro = cut, watermarkSeconds = Some(7200))
      .writeStream.outputMode("append").format("memory")
      .queryName("bm25gate").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("select id, probe_id, score_micro from bm25gate")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      assert(streamed.length === streamed.map(_._1).distinct.length,
        "gate must emit each flagged id exactly once")
      assert(streamed.toMap === expect)
    } finally q.stop()
  }

  test("windowed HLL distinct monitor: stream == batch, accuracy tracks exact") {
    import graft.streaming.DocStreams
    val docs = Tables.table(spark, TestSpark.sfDir, "documents").select(
      timestamp_millis(lit(1700000000000L) + col("doc_id") * 60000L).as("ts"),
      col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-hllwin").toString
    docs.coalesce(2).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val q = DocStreams.distinctTermsWindowed(stream, m = 64,
        windowSeconds = 3600, watermarkSeconds = Some(7200))
      .writeStream.outputMode("append").format("memory")
      .queryName("hllwin").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        r.get(0).toString -> ((r.getLong(1), r.getLong(2), r.getLong(3)))
      val streamed = spark.sql("select * from hllwin").collect().map(key).toMap
      val batch = DocStreams.distinctTermsWindowed(docs, m = 64,
          windowSeconds = 3600)
        .collect().map(key).toMap
      // append mode only emits watermark-CLOSED windows, so streamed
      // is a (nonempty) prefix of the batch window set
      assert(streamed.nonEmpty)
      // one idempotent array_max_agg state + map-only estimator must
      // make streaming and batch agree bit-for-bit
      streamed.foreach { case (k, v) => assert(batch(k) === v, s"window $k") }
      // accuracy: per-window estimate within the 5-sigma HLL band of
      // the exact windowed distinct (the aggregation streaming forbids)
      val exact = docs.select(
          window(col("ts"), "3600 seconds")("start").as("w"),
          explode(graft.operators.Dedup.tokens(col("text"))).as("tok"))
        .groupBy("w").agg(countDistinct("tok").as("n"))
        .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
      val sigma = 1.04 / math.sqrt(64.0)
      batch.foreach { case (w, (_, _, est)) =>
        val ex = exact(w).toDouble
        assert(math.abs(est - ex) / ex < 5 * sigma, s"window $w: $est vs $ex")
      }
    } finally q.stop()
  }

  test("windowed CMS grid: stream == batch, est >= exact per window") {
    import graft.streaming.DocStreams
    import graft.operators.{CountMin, Dedup}
    val docs = Tables.table(spark, TestSpark.sfDir, "documents").select(
      timestamp_millis(lit(1700000000000L) + col("doc_id") * 60000L).as("ts"),
      col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-cmswin").toString
    docs.coalesce(2).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val q = DocStreams.cmsCountersWindowed(stream, depth = 4, width = 256,
        windowSeconds = 3600, watermarkSeconds = Some(7200))
      .writeStream.outputMode("append").format("memory")
      .queryName("cmswin").start()
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.get(0).toString, r.getInt(1), r.getLong(2)) -> r.getLong(3)
      val streamed = spark.sql("select * from cmswin").collect().map(key).toMap
      val batch = DocStreams.cmsCountersWindowed(docs, depth = 4, width = 256,
        windowSeconds = 3600).collect().map(key).toMap
      // append mode only emits watermark-CLOSED windows, so streamed
      // is a (nonempty) subset of the batch grid; counts are additive
      // so every emitted cell must agree exactly
      assert(streamed.nonEmpty)
      streamed.foreach { case (k, v) => assert(batch(k) === v, s"cell $k") }
      // the CMS law per window: min-over-depth estimate >= exact count
      // for every (window, term) of a probe panel
      val grid = DocStreams.cmsCountersWindowed(docs, depth = 4, width = 256,
        windowSeconds = 3600)
      val toks = docs.select(
        window(col("ts"), "3600 seconds")("start").as("window_start"),
        explode(Dedup.tokens(col("text"))).as("tok"))
      val top = toks.groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc).limit(8).select("tok")
      val est = CountMin.cmsEstimateByWindow(grid, top, "tok",
          depth = 4, width = 256)
        .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2))
        .toMap
      val exact = toks.join(top, Seq("tok")).groupBy("window_start", "tok")
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2))
        .toMap
      assert(exact.nonEmpty)
      exact.foreach { case (k, ex) =>
        assert(est(k) >= ex, s"CMS under-counted $k: ${est(k)} < $ex") }
    } finally q.stop()
  }

  test("bloom gate: stream == batch twin == JVM replay, exactly once per id") {
    import graft.streaming.DocStreams
    import graft.operators.Bloom
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val ref = docs.filter(col("doc_id") % 20 === 0)
    val delta = docs.filter(col("doc_id") % 20 =!= 0)
      .withColumn("ts", timestamp_millis(lit(1700000000000L) + col("doc_id") * 60000L))
      .select("doc_id", "ts", "text")
    // undersized filter ON PURPOSE: false positives must flow through
    // the gate identically in both modes
    val m = 1 << 15
    val words = Bloom.buildBloomWords(ref, "text", m, 4, 8)
    // independent JVM replay of build + probe (w=8 shingles)
    val P = 1000000007L
    def sh8(text: String): Seq[Long] = {
      val toks = text.trim.split("\\s+").toSeq
      val sh = if (toks.length < 8) Seq(toks.mkString(" "))
        else toks.sliding(8).map(_.mkString(" ")).toSeq
      sh.map(s => graft.functions.SketchExpressions.polyFold(s, 1000003L)).distinct
    }
    def pos(h: Long): Seq[Long] = {
      val h1 = ((h % P) + P) % P
      val h2 = (h1 * h1 % P * 1000003L + 54321L) % P
      (1 to 4).map(i => (h1 + i.toLong * h2) % P % m)
    }
    val bits = ref.select("text").collect()
      .flatMap(r => sh8(r.getString(0)).flatMap(pos)).toSet
    val expect = delta.select("doc_id", "text").collect().flatMap { r =>
      val hits = sh8(r.getString(1)).count(h => pos(h).forall(bits.contains))
      if (hits > 0) Some(r.getLong(0) -> hits) else None
    }.toMap
    assert(expect.nonEmpty, "fixture must flag something")
    // batch twin
    val batchGot = DocStreams.bloomGateStream(delta, words, m, 4, 8)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(batchGot === expect)
    // streaming run over the same delta
    val dir = java.nio.file.Files.createTempDirectory("graft-bloomgate").toString
    delta.coalesce(2).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema)
      .parquet(dir)
    val q = DocStreams.bloomGateStream(stream, words, m, 4, 8,
        watermarkSeconds = Some(7200))
      .writeStream.outputMode("append").format("memory")
      .queryName("bloomgate").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("select id, n_hits from bloomgate")
        .collect().map(r => r.getLong(0) -> r.getInt(1))
      assert(streamed.length === streamed.map(_._1).distinct.length,
        "gate must emit each flagged id exactly once")
      assert(streamed.toMap === expect)
    } finally q.stop()
  }

  test("sliding windows double-count each event exactly windowLen/slide times") {
    val sliding = EventStreams.windowedAgg(events, "2 hours", Some("1 hour"))
    val total = sliding.agg(sum("n")).head().getLong(0)
    assert(total === 2 * events.count())  // every event falls in exactly 2 windows
  }

  test("batch sessionization: gap splits sessions, counts preserved") {
    val df = Seq(
      (1L, "2024-01-01 00:00:00", 7L), (2L, "2024-01-01 00:10:00", 7L),
      (3L, "2024-01-01 02:00:00", 7L), (4L, "2024-01-01 00:00:00", 8L)
    ).map { case (id, ts, u) => (id, java.sql.Timestamp.valueOf(ts), u, "t", 1.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventStreams.sessionizeBatch(df, gapSeconds = 1800)
      .orderBy("user_id", "session_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSeq ===
      Seq((7L, 1L, 2L), (7L, 2L, 1L), (8L, 1L, 1L)))
  }

  test("watermark drops data arriving later than the lateness bound") {
    val dir = java.nio.file.Files.createTempDirectory("graft-late").toString
    def write(batch: Int, rows: Seq[(Long, String)]): Unit =
      rows.map { case (id, ts) => (id, java.sql.Timestamp.valueOf(ts), 7L, "t", 1.0) }
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(dir)
    write(1, Seq((1L, "2024-01-01 00:10:00")))
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = EventStreams.streamingWindowedAgg(stream, "1 hour", watermark = "30 minutes")
      .writeStream.outputMode("append").format("memory").queryName("late").start()
    try {
      q.processAllAvailable()
      // advance event time far past the first window + watermark,
      // then deliver a straggler INSIDE the long-closed first window
      write(2, Seq((2L, "2024-01-01 05:00:00")))
      q.processAllAvailable()
      write(3, Seq((3L, "2024-01-01 00:20:00")))   // > 30 min late
      q.processAllAvailable()
      val n = spark.sql("select sum(n) from late where event_type = 't'")
        .head().getLong(0)
      // the straggler was dropped: only events 1 and 2 are counted in
      // emitted (finalized) windows
      assert(n <= 2, s"late row leaked into finalized windows (n=$n)")
    } finally q.stop()
  }

  test("stream-static join enriches events against a dimension table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-enrich").toString
    Seq((1L, "2024-01-01 00:00:00", 7L), (2L, "2024-01-01 00:01:00", 9L))
      .map { case (id, ts, u) => (id, java.sql.Timestamp.valueOf(ts), u, "t", 1.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val users = Seq((7L, "alpha"), (8L, "beta")).toDF("user_id", "cohort")
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
      .join(users, Seq("user_id"), "left")  // stream-static join: no state, no watermark
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("enriched").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("select event_id, cohort from enriched")
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
      assert(rows === Map(1L -> "alpha", 2L -> null))
    } finally q.stop()
  }

  test("streaming exact dedup drops duplicate keys within the watermark") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup").toString
    Seq(
      (1L, "2024-01-01 00:00:00", 7L, "k1"), (2L, "2024-01-01 00:01:00", 7L, "k1"),
      (3L, "2024-01-01 00:02:00", 7L, "k2"), (4L, "2024-01-01 00:03:00", 8L, "k1")
    ).map { case (id, ts, u, k) => (id, java.sql.Timestamp.valueOf(ts), u, k, 1.0) }
      .toDF("event_id", "ts", "user_id", "dedup_key", "value")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = EventStreams.streamingExactDedup(stream, "1 hour", Seq("user_id", "dedup_key"))
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    try {
      q.processAllAvailable()
      val keys = spark.sql("select user_id, dedup_key from dedup")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      // duplicate (7,k1) suppressed; one row per distinct key pair
      assert(spark.sql("select * from dedup").count() === 3)
      assert(keys === Set((7L, "k1"), (7L, "k2"), (8L, "k1")))
    } finally q.stop()
  }

  test("streaming line dedup suppresses repeated lines, exempts blanks") {
    val dir = java.nio.file.Files.createTempDirectory("graft-linededup").toString
    Seq(
      (1L, "2024-01-01 00:00:00", "alpha\n\nshared line\nunique one"),
      (2L, "2024-01-01 00:01:00", "shared line\n\nbeta")
    ).map { case (id, ts, t) => (id, java.sql.Timestamp.valueOf(ts), t) }
      .toDF("doc_id", "ts", "text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = EventStreams.streamingLineDedup(stream, "1 hour", "doc_id", "text")
      .writeStream.outputMode("append").format("memory").queryName("linededup").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("select id, pos, line from linededup")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      // "shared line" survives exactly once; both docs land in one
      // micro-batch, and dropDuplicatesWithinWatermark makes no
      // first-by-id promise WITHIN a batch, so which doc's copy wins
      // is not asserted. Both blanks are exempt and pass; everything
      // else unique
      val shared = rows.filter(_._3 == "shared line")
      assert(shared.size === 1 && Set(1L, 2L).contains(shared.head._1))
      assert(rows.count(_._3 == "") === 2)
      assert(rows.map(_._3).count(_ == "beta") === 1)
      assert(rows.size === 6)
    } finally q.stop()
  }

  test("foreachBatch sink writes every micro-batch exactly once") {
    val src = java.nio.file.Files.createTempDirectory("graft-fbsrc").toString
    val out = java.nio.file.Files.createTempDirectory("graft-fbout").toString
    val sample = events.limit(1000)
      .select("event_id", "ts", "user_id", "event_type", "value")
    sample.coalesce(2).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = spark.readStream.schema(schema).parquet(src)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("append").parquet(out)
      }
      .start()
    try {
      q.processAllAvailable()
      val back = spark.read.parquet(out)
      assert(back.count() === sample.count())
      assert(back.select("event_id").distinct().count() ===
        sample.select("event_id").distinct().count())
    } finally q.stop()
  }

  test("streaming BM25 index maintenance: micro-batch appends answer like a full rebuild") {
    import graft.operators.Retrieval
    import graft.streaming.DocStreams
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text")).limit(300).cache()
    docs.count()
    val base = docs.filter(col("doc_id") % 3 === 0)
    val arriving = docs.filter(col("doc_id") % 3 =!= 0)
    // base index built once; the rest of the corpus arrives as a
    // stream in several micro-batches (one file per trigger)
    val basePrefix = "smnt_base"
    // rerun hygiene: a stale chain from a previous run would trip the
    // idempotence gate into serving old segments
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(basePrefix))
      .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
    Retrieval.buildBm25Index(base, "doc_id", "text", basePrefix)
    val src = java.nio.file.Files.createTempDirectory("graft-idxsrc").toString
    arriving.repartition(4).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val m = new DocStreams.Bm25IndexMaintainer(spark, basePrefix,
      "doc_id", "text", compactEvery = 2)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.foreachBatch(m.appendBatch _).start()
    try q.processAllAvailable() finally q.stop()
    assert(m.currentPrefix !== basePrefix, "stream appended nothing")
    // the maintained index answers bit-identically to the inline
    // full-corpus run — segment boundaries (and the mid-stream
    // compactions) are invisible
    val probes = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("query_id"),
        slice(graft.operators.TextAnalysis.cleanTokens(col("text")), 1, 5)
          .as("qterms"))
    val want = Retrieval.bm25TopK(docs, "doc_id", "text",
        probes, "query_id", "qterms", k = 10)
      .orderBy(col("query_id"), col("rank")).collect()
    val got = Retrieval.bm25TopKFromIndex(spark, m.currentPrefix,
        probes, "query_id", "qterms", k = 10)
      .orderBy(col("query_id"), col("rank")).collect()
    assert(want.nonEmpty && want.sameElements(got),
      "maintained index diverged from the inline full-corpus run")
    // recovery re-derives the chain head from the catalog alone
    assert(DocStreams.Bm25IndexMaintainer.recoverLatestPrefix(spark, basePrefix)
      === m.currentPrefix)
    // a retried batch id is re-pointed, never re-appended: replaying
    // batch 0's data under its id must neither create tables nor
    // move any stats row
    val tablesBefore = spark.catalog.listTables().collect().map(_.name).toSet
    val head = m.currentPrefix
    m.appendBatch(spark.read.parquet(src).limit(5), 0L)
    assert(m.currentPrefix === s"${basePrefix}_b0",
      "retry must re-point at the completed batch's segment")
    assert(spark.catalog.listTables().collect().map(_.name).toSet === tablesBefore,
      "retry created tables")
    assert(DocStreams.Bm25IndexMaintainer.recoverLatestPrefix(spark, basePrefix)
      === head, "retry moved the recovered chain head")
  }

  test("champion re-derivation rides compaction; a stale champion is loud") {
    import graft.operators.Retrieval
    import graft.streaming.DocStreams
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text")).limit(300).cache()
    docs.count()
    val base = docs.filter(col("doc_id") % 3 === 0)
    val arriving = docs.filter(col("doc_id") % 3 =!= 0)
    val basePrefix = "smch_base"
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(basePrefix))
      .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
    Retrieval.buildBm25Index(base, "doc_id", "text", basePrefix)
    // a champion derived BEFORE maintenance — the artifact that goes
    // stale the moment the index grows
    val chOld = Retrieval.bm25ChampionCached(spark, basePrefix, c = 4)
    assert(Retrieval.championIsFresh(spark, chOld, basePrefix))
    val src = java.nio.file.Files.createTempDirectory("graft-chsrc").toString
    arriving.repartition(4).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val m = new DocStreams.Bm25IndexMaintainer(spark, basePrefix,
      "doc_id", "text", compactEvery = 2, championC = 4)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.foreachBatch(m.appendBatch _).start()
    try q.processAllAvailable() finally q.stop()
    // the compaction tick re-derived the champion automatically, and
    // the derivation is fresh against the live chain head
    val chNew = m.currentChampionPrefix.getOrElse(
      fail("no champion derived — did the stream compact?"))
    Retrieval.requireChampionFresh(spark, chNew, m.currentPrefix)
    // the auto-maintained champion answers bit-identically to a
    // from-scratch derivation over the same chain head
    val probes = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("query_id"),
        slice(graft.operators.TextAnalysis.cleanTokens(col("text")), 1, 5)
          .as("qterms"))
    val got = Retrieval.bm25TopKFromIndex(spark, chNew,
        probes, "query_id", "qterms", k = 10)
      .orderBy(col("query_id"), col("rank")).collect()
    Seq("postings", "termstats", "stats").foreach(s =>
      graft.operators.Bucketing.dropTableAndLocation(spark, s"${chNew}_$s"))
    val fresh = Retrieval.bm25ChampionCached(spark, m.currentPrefix, c = 4)
    assert(fresh === chNew, "cached gate must re-derive under the same name")
    val want = Retrieval.bm25TopKFromIndex(spark, fresh,
        probes, "query_id", "qterms", k = 10)
      .orderBy(col("query_id"), col("rank")).collect()
    assert(want.nonEmpty && want.sameElements(got),
      "auto-maintained champion diverged from a fresh derivation")
    // the pre-maintenance champion is now STALE — and loudly so
    assert(!Retrieval.championIsFresh(spark, chOld, m.currentPrefix))
    assert(intercept[IllegalArgumentException] {
      Retrieval.requireChampionFresh(spark, chOld, m.currentPrefix)
    }.getMessage.contains("STALE"))
  }

  test("streaming dedup-index maintenance: gate + append across micro-batches") {
    import graft.operators.DedupIndex
    import graft.streaming.DocStreams
    val prefix = "sdd_mnt"
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix))
      .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
    DedupIndex.buildDedupIndex(
      Seq((1L, "base-one"), (2L, "base-two")).toDF("doc_id", "text"),
      "doc_id", "text", prefix)
    // three chronological micro-batches with IN-batch, CROSS-batch and
    // vs-INDEX duplicate arrivals
    val batches = Seq(
      Seq((10L, "alpha"), (11L, "beta"), (12L, "alpha")), // in-batch dup
      Seq((20L, "alpha"), (21L, "gamma")),                // cross-batch dup
      Seq((30L, "base-two"), (31L, "delta"))              // vs-index dup
    )
    val dir = java.nio.file.Files.createTempDirectory("graft-ddstream").toString
    var seen = Set.empty[String]
    val base = new java.io.File(dir).lastModified()
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(dir)
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("part-"))
      files.filterNot(f => seen(f.getName))
        .foreach(_.setLastModified(base + (i + 1) * 60000L))
      seen ++= files.map(_.getName)
    }
    val schema = spark.read.parquet(dir).schema
    val m = new DocStreams.DedupIndexMaintainer(spark, prefix,
      "doc_id", "text")
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .writeStream.foreachBatch(m.appendBatch _).start()
    try q.processAllAvailable() finally q.stop()
    // arrival-order keep-first: base keeps win, first arrivals win
    val got = spark.table(s"${prefix}_fps")
      .select("keep_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(1L, 2L, 10L, 11L, 21L, 31L),
      "streamed index diverged from arrival-order keep-first")
    // a FRESH maintainer instance replaying batch 0 is a ledger-only
    // no-op: same fps rows, nothing re-appended
    val m2 = new DocStreams.DedupIndexMaintainer(spark, prefix,
      "doc_id", "text")
    m2.appendBatch(batches.head.toDF("doc_id", "text"), 0L)
    assert(spark.table(s"${prefix}_fps").count() === 6L,
      "batch-0 replay must append nothing")
  }

  test("streaming edit-index maintenance: gate == brute cross after the stream drains") {
    import graft.operators.EditIndex
    import graft.streaming.DocStreams
    val cust = Tables.table(spark, "/root/testdata/sf0.001", "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("s")).cache()
    cust.count()
    val base = cust.filter(col("id") % 3 === 0)
    val arriving = cust.filter(col("id") % 3 =!= 0 && col("id") % 5 =!= 0)
    val probes = cust.filter(col("id") % 3 =!= 0 && col("id") % 5 === 0)
      .select((col("id") + 5000000L).as("id"), col("s"))
    val prefix = "sed_mnt"
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix))
      .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
    EditIndex.buildEditIndex(base, "id", "s", prefix, maxDist = 1, q = 3)
    val src = java.nio.file.Files.createTempDirectory("graft-edmnt").toString
    arriving.repartition(3).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val m = new DocStreams.EditIndexMaintainer(spark, prefix, "id", "s")
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.foreachBatch(m.appendBatch _).start()
    try q.processAllAvailable() finally q.stop()
    // the maintained index answers a probe exactly like a brute cross
    // against everything streamed (base + arrivals)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("delta_id", "index_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val admitted = base.unionByName(arriving)
    val want = probes.select(col("id").as("delta_id"), col("s").as("ds"))
      .join(admitted.select(col("id").as("index_id"), col("s").as("cs")),
        levenshtein(col("ds"), col("cs")) <= 1)
      .withColumn("dist", levenshtein(col("ds"), col("cs")).cast("long"))
      .select("delta_id", "index_id", "dist")
      .orderBy("delta_id", "index_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = rows(EditIndex.gateEditMatches(spark, prefix, probes, "id", "s"))
    assert(want.nonEmpty && got === want,
      "streamed edit index diverged from the brute cross")
    // replaying the first batch through a fresh maintainer instance
    // is a ledger no-op
    val n0 = spark.table(s"${prefix}_strs").count()
    val m2 = new DocStreams.EditIndexMaintainer(spark, prefix, "id", "s")
    m2.appendBatch(arriving.limit(5), 0L) // tag b0 is in the ledger
    assert(spark.table(s"${prefix}_strs").count() === n0,
      "batch-0 replay must append nothing")
  }

  test("streaming near-dup index maintenance: gates served mid-stream stay exact") {
    import graft.operators.{Dedup, NearDupIndex}
    import graft.streaming.DocStreams
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text")).limit(300).cache()
    docs.count()
    val base = docs.filter(col("doc_id") % 3 === 0)
    val arriving = docs.filter(col("doc_id") % 3 =!= 0)
    val prefix = "snd_mnt"
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix))
      .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
    NearDupIndex.buildNearDupIndex(base, "doc_id", "text", prefix)
    val src = java.nio.file.Files.createTempDirectory("graft-ndmnt").toString
    arriving.repartition(3).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val m = new DocStreams.NearDupIndexMaintainer(spark, prefix,
      "doc_id", "text")
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.foreachBatch(m.appendBatch _).start()
    try q.processAllAvailable() finally q.stop()
    // the maintained index gates a probe panel exactly like the
    // inline cross-pairs over the whole corpus
    val probes = docs.limit(60)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("delta_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val got = rows(NearDupIndex.gateNearDups(spark, prefix, probes,
      "doc_id", "text", threshold = 0.5))
    val want = rows(Dedup.minhashNearDupPairsCross(probes, docs,
      "doc_id", "text", threshold = 0.5))
    assert(want.nonEmpty && got === want,
      "streamed near-dup index diverged from the inline cross")
    // a replayed batch id is a ledger-only no-op
    val n1 = spark.table(s"${prefix}_sets").count()
    m.appendBatch(arriving.limit(5), 0L)
    assert(spark.table(s"${prefix}_sets").count() === n1,
      "batch-0 replay must append nothing")
  }

  test("streamed cluster index == batch closure over everything streamed") {
    import graft.operators.{ClusterIndex, Dedup}
    import graft.streaming.DocStreams
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text")).limit(300).cache()
    docs.count()
    val base = docs.filter(col("doc_id") % 3 === 0)
    val arriving = docs.filter(col("doc_id") % 3 =!= 0)
    val prefix = "scl_mnt"
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix))
      .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
    ClusterIndex.buildClusterIndex(base, "doc_id", "text", prefix,
      threshold = 0.5)
    val src = java.nio.file.Files.createTempDirectory("graft-clmnt").toString
    arriving.repartition(3).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val m = new DocStreams.ClusterIndexMaintainer(spark, prefix,
      "doc_id", "text")
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.foreachBatch(m.appendBatch _).start()
    try q.processAllAvailable() finally q.stop()
    // streamed assignments == from-scratch batch closure over the
    // full corpus (micro-batch boundaries are invisible)
    val got = ClusterIndex.resolvedMembers(spark, prefix)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
      threshold = 0.5)
    val want = Dedup.connectedComponents(
        docs.select(col("doc_id").as("id")), pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(want.values.toSet.size < want.size,
      "test slice produced no clusters at all")
    assert(got === want,
      "streamed clustering diverged from the batch closure")
    // a replayed batch id is a ledger-only no-op
    val n1 = spark.table(s"${prefix}_members").count()
    m.appendBatch(arriving.limit(5), 0L)
    assert(spark.table(s"${prefix}_members").count() === n1,
      "batch-0 replay must append nothing")
  }

  test("live ingest pipeline: four gates, cross-batch rejection, retry idempotence") {
    import graft.operators.{Bloom, DedupIndex, NearDupIndex}
    import graft.streaming.DocStreams
    Seq("igp_dd", "igp_nd").foreach(p =>
      spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(p))
        .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _)))
    val b1Text = "the quick brown fox jumps over the lazy dog again today"
    val refText = "contaminated reference passage with exactly eight grams inside it somewhere okay"
    val d10 = "the red panda sleeps in a tall tree near the river"
    val d21 = d10 + " tonight" // near-dup of d10 (9/10 shared 3-shingles)
    val d22 = "completely fresh statement about the mountain goats and their cheese"
    val base = Seq((1L, b1Text)).toDF("doc_id", "text")
    val ref = Seq((900L, refText)).toDF("doc_id", "text")
    DedupIndex.buildDedupIndex(base, "doc_id", "text", "igp_dd")
    NearDupIndex.buildNearDupIndex(base, "doc_id", "text", "igp_nd")
    val words = Bloom.buildBloomWords(ref, "text", mBits = 1 << 15,
      kHashes = 4, shingleW = 8)
    val admitDir = java.nio.file.Files.createTempDirectory("graft-igp").toString
    val pipe = new DocStreams.IngestGatePipeline(spark, "igp_dd", "igp_nd",
      ref, words, mBits = 1 << 15, kHashes = 4, shingleW = 8,
      qualityMin = 5000L, threshold = 0.5, admitDir, "doc_id", "text")
    val batches = Seq(
      // admit 10; 11 low-quality; 12 exact-dup of the BASE index;
      // 13 contaminated (shares 8-grams with the benchmark panel)
      Seq((10L, d10), (11L, "x"), (12L, b1Text), (13L, refText)),
      // 20 exact-dup of ADMITTED 10 (cross-batch); 21 NEAR-dup of
      // admitted 10 — the rejection a one-shot union gate cannot
      // express; 22 admits
      Seq((20L, d10), (21L, d21), (22L, d22)),
      // 30 re-arrives the REJECTED text d21: rejected docs are NOT
      // indexed, so it is not an exact dup — but it is still a
      // near-dup of admitted 10; 31 re-fails quality
      Seq((30L, d21), (31L, "x"))
    )
    val src = java.nio.file.Files.createTempDirectory("graft-igpsrc").toString
    var seen = Set.empty[String]
    val mbase = new java.io.File(src).lastModified()
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(src)
      val files = new java.io.File(src).listFiles()
        .filter(_.getName.startsWith("part-"))
      files.filterNot(f => seen(f.getName))
        .foreach(_.setLastModified(mbase + (i + 1) * 60000L))
      seen ++= files.map(_.getName)
    }
    val schema = spark.read.parquet(src).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.foreachBatch(pipe.processBatch _).start()
    try q.processAllAvailable() finally q.stop()
    def admittedIds: Seq[Long] = spark.read.parquet(admitDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(admittedIds === Seq(10L, 22L),
      "admitted set diverged from the expected gate decisions")
    // both indexes grew by exactly the admitted docs
    assert(spark.table("igp_dd_fps").count() === 3L)   // base + 10 + 22
    assert(spark.table("igp_nd_sets").count() === 3L)
    // a full-batch retry is idempotent: same output, nothing appended
    pipe.processBatch(batches.head.toDF("doc_id", "text"), 0L)
    assert(admittedIds === Seq(10L, 22L))
    assert(spark.table("igp_dd_fps").count() === 3L)
    assert(spark.table("igp_nd_sets").count() === 3L)
  }

  test("streaming IVF index maintenance: micro-batch appends answer like a full rebuild") {
    import graft.operators.{IvfIndex, Similarity}
    import graft.streaming.DocStreams
    val emb = Tables.table(spark, TestSpark.sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).limit(400).cache()
    emb.count()
    val base = emb.filter(col("vec_id") % 3 === 0)
    val arriving = emb.filter(col("vec_id") % 3 =!= 0)
    val cents = Similarity.trainIvfCentroids(base, nCentroids = 8, dim = 64,
      iterations = 1)
    val prefix = "sivf_mnt"
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix))
      .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
    IvfIndex.buildIvfIndex(base, "vec_id", "embedding", cents, prefix)
    val src = java.nio.file.Files.createTempDirectory("graft-ivfsrc").toString
    arriving.repartition(3).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val m = new DocStreams.IvfIndexMaintainer(spark, prefix, "vec_id",
      "embedding", cents)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.foreachBatch(m.appendBatch _).start()
    try q.processAllAvailable() finally q.stop()
    // the maintained index answers identically to the inline run over
    // the full corpus with the same frozen centroids — micro-batch
    // boundaries are invisible (assignment rows are per-vector facts)
    val want = Similarity.ivfTopK(emb, emb, k = 1, cents, nProbe = 4)
      .select(col("query_id"), col("id"), col("cos"))
      .orderBy(col("query_id")).collect()
    val got = IvfIndex.ivfTopKFromIndex(spark, prefix, emb, k = 1, cents,
        nProbe = 4)
      .select(col("query_id"), col("id"), col("cos"))
      .orderBy(col("query_id")).collect()
    assert(want.nonEmpty && want.sameElements(got),
      "maintained IVF index diverged from the inline full-corpus run")
    // exactly-once: a retried batchId is recognized from the lineage
    // ledger and skipped BEFORE any write — stats and row counts hold
    val statsBefore = spark.table(s"${prefix}_stats").head()
    val rowsBefore = spark.table(s"${prefix}_assign").count()
    m.appendBatch(spark.read.parquet(src).limit(7), 0L)
    assert(spark.table(s"${prefix}_stats").head() === statsBefore,
      "retry moved the stats row")
    assert(spark.table(s"${prefix}_assign").count() === rowsBefore,
      "retry appended rows")
    // restart recovery is ledger-driven: a FRESH maintainer instance
    // (no in-memory state) skips the same replayed batch
    val m2 = new DocStreams.IvfIndexMaintainer(spark, prefix, "vec_id",
      "embedding", cents)
    m2.appendBatch(spark.read.parquet(src).limit(7), 0L)
    assert(spark.table(s"${prefix}_assign").count() === rowsBefore,
      "restarted maintainer re-appended a ledgered batch")
  }

  test("mid-stream IVF retrain: serving flips to a fresh-geometry child index") {
    import graft.operators.{IvfIndex, Similarity}
    import graft.streaming.DocStreams
    val emb = Tables.table(spark, TestSpark.sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).limit(300).cache()
    emb.count()
    val base = emb.filter(col("vec_id") % 3 === 0)
    val arriving = emb.filter(col("vec_id") % 3 =!= 0)
    val cents = Similarity.trainIvfCentroids(base, nCentroids = 8, dim = 64,
      iterations = 1)
    val prefix = "sivf_rt"
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix))
      .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
    IvfIndex.buildIvfIndex(base, "vec_id", "embedding", cents, prefix)
    val src = java.nio.file.Files.createTempDirectory("graft-ivfrt").toString
    arriving.repartition(3).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    // retrain after every 3 appends: fires once, at the end of the
    // 3-file stream — the drift-policy hook exercised mid-pipeline
    val m = new DocStreams.IvfIndexMaintainer(spark, prefix, "vec_id",
      "embedding", cents, retrainEveryAppends = 3)
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.foreachBatch(m.appendBatch _).start()
    try q.processAllAvailable() finally q.stop()
    assert(m.servingPrefix !== prefix, "retrain tick did not fire")
    // the serving index now answers exactly like a one-shot rebuild
    // over the full corpus at fresh full-corpus-trained centroids
    val fresh = Similarity.trainIvfCentroids(emb, nCentroids = 8, dim = 64,
      iterations = 1)
    assert(IvfIndex.centroidFingerprint(m.servingCentroidSet) ===
      IvfIndex.centroidFingerprint(fresh),
      "mid-stream retrain diverged from fresh training over the union")
    val want = Similarity.ivfTopK(emb, emb, k = 1, fresh, nProbe = 4)
      .select(col("query_id"), col("id"), col("cos"))
      .orderBy(col("query_id")).collect()
    val got = IvfIndex.ivfTopKFromIndex(spark, m.servingPrefix, emb, k = 1,
        m.servingCentroidSet, nProbe = 4)
      .select(col("query_id"), col("id"), col("cos"))
      .orderBy(col("query_id")).collect()
    assert(want.nonEmpty && want.sameElements(got),
      "post-retrain serving index diverged from the rebuild")
    // the recall-drift card resets: post-retrain recall equals the
    // fresh-index recall (identical geometry, identical assignments)
    val truth = Similarity.bruteForceTopK(emb, emb, k = 1)
      .select(col("query_id"), col("id").as("nn_id"))
    val after = IvfIndex.ivfTopKFromIndex(spark, m.servingPrefix, emb, k = 1,
        m.servingCentroidSet, nProbe = 4)
      .select(col("query_id"), col("id").as("nn_id"))
    val freshIdx = IvfIndex.ivfIndexCached(emb, "vec_id", "embedding", fresh)
    val freshRun = IvfIndex.ivfTopKFromIndex(spark, freshIdx, emb, k = 1,
        fresh, nProbe = 4)
      .select(col("query_id"), col("id").as("nn_id"))
    assert(Similarity.recallReport(truth, after).head() ===
      Similarity.recallReport(truth, freshRun).head(),
      "drift card did not reset to the fresh-index recall after retrain")
    // a pre-retrain batchId retried AFTER the flip still ledger-hits:
    // the child's lineage contains the parent chain
    val rowsBefore = spark.table(s"${m.servingPrefix}_assign").count()
    m.appendBatch(spark.read.parquet(src).limit(5), 0L)
    assert(spark.table(s"${m.servingPrefix}_assign").count() === rowsBefore,
      "retried pre-retrain batch re-appended into the retrained child")
  }

  test("typed Aggregator (WeightedMean) matches the declarative formulation") {
    import graft.functions.TypedAgg
    val ds = events.limit(5000)
      .select(col("value").as("value"), (col("user_id") % 5 + 1).cast("double").as("weight"))
      .as[TypedAgg.Weighted]
    val typed = ds.select(TypedAgg.WeightedMean.toColumn).head()
    val decl = events.limit(5000)
      .select(col("value"), (col("user_id") % 5 + 1).cast("double").as("w"))
      .agg(sum(col("value") * col("w")) / sum(col("w"))).head().getDouble(0)
    assert(math.abs(typed - decl) < 1e-9)
  }

  test("stream-stream interval join matches the batch attribution join") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ssj").toString
    val sample = events.filter(col("user_id") <= 20)
      .select("event_id", "ts", "user_id", "event_type", "value")
    sample.coalesce(2).write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val views = stored.filter(col("event_type") === "view")
    val purchases = stored.filter(col("event_type") === "purchase")

    val schema = stored.schema
    val vStream = spark.readStream.schema(schema).parquet(dir)
      .filter(col("event_type") === "view")
    val pStream = spark.readStream.schema(schema).parquet(dir)
      .filter(col("event_type") === "purchase")
    val q = EventStreams.attributionJoinStream(vStream, pStream,
        windowSeconds = 3600, watermark = "2 hours")
      .writeStream.outputMode("append").format("memory").queryName("ssj").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("select purchase_id, view_id from ssj")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = EventStreams.attributionJoinBatch(views, purchases, 3600)
        .select("purchase_id", "view_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch.nonEmpty)
      // a finite source closes every band, so append-mode output is complete
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming per-window top-k matches the batch twin for closed windows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wtopk").toString
    // window 0: a x3, b x2, c x1; window 1: b x2, c x1; the 02:00
    // event advances the watermark far past both windows' ends
    val rows = Seq(
      (1L, "2024-01-01 00:00:01", "a"), (2L, "2024-01-01 00:00:02", "a"),
      (3L, "2024-01-01 00:00:03", "a"), (4L, "2024-01-01 00:00:04", "b"),
      (5L, "2024-01-01 00:00:05", "b"), (6L, "2024-01-01 00:00:06", "c"),
      (7L, "2024-01-01 00:01:01", "b"), (8L, "2024-01-01 00:01:02", "b"),
      (9L, "2024-01-01 00:01:03", "c"),
      (10L, "2024-01-01 02:00:00", "zz")
    ).map { case (id, ts, t) => (id, java.sql.Timestamp.valueOf(ts), 1L, t, 1.0) }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
      .as[EventStreams.Event]
    val q = EventStreams.topKPerWindowStream(stream, windowSeconds = 60, k = 2)
      .writeStream.outputMode("append").format("memory").queryName("wtopk").start()
    try {
      q.processAllAvailable()
      // a second empty pull lets the timeout for already-passed
      // watermarks fire in a fresh micro-batch
      q.processAllAvailable()
      val streamed = spark.sql("select * from wtopk")
        .as[EventStreams.WindowTopK].collect()
        .map(r => (r.window_start.getTime, r.rank, r.event_type, r.n)).toSet
      val closed = streamed.map(_._1)
      assert(closed.contains(java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime))
      assert(closed.contains(java.sql.Timestamp.valueOf("2024-01-01 00:01:00").getTime))
      val batch = EventStreams.topKPerWindowBatch(
          spark.read.parquet(dir), windowSeconds = 60, k = 2)
        .collect()
        .map(r => (r.getTimestamp(0).getTime, r.getInt(1), r.getString(2), r.getLong(3)))
        .filter(t => closed.contains(t._1)).toSet
      assert(streamed === batch)
      // ranked content: window 0 top-2 is a(3), b(2)
      val w0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      assert(streamed.filter(_._1 == w0) ===
        Set((w0, 1, "a", 3L), (w0, 2, "b", 2L)))
    } finally q.stop()
  }

  test("sessionization state survives a checkpointed restart (exactly-once emission)") {
    val in = java.nio.file.Files.createTempDirectory("graft-ckpt-in").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    // the memory sink does not support checkpoint recovery — a file
    // sink does, and is also the shape a real pipeline restarts with
    val out = java.nio.file.Files.createTempDirectory("graft-ckpt-out").toString
    def write(rows: Seq[(Long, String)]): Unit =
      rows.map { case (id, ts) => (id, java.sql.Timestamp.valueOf(ts), 7L, "t", 1.0) }
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(in)
    // batch 1: an open 2-event session
    write(Seq((1L, "2024-01-01 00:00:00"), (2L, "2024-01-01 00:10:00")))
    val schema = spark.read.parquet(in).schema
    def start() = EventStreams.sessionizeStream(
        spark.readStream.schema(schema).parquet(in).as[EventStreams.Event],
        gapSeconds = 1800)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", ck).start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    // nothing closed yet; the open session lives in the state store
    // batch 2 arrives while the query is DOWN; the restart must
    // recover the open session from the checkpoint and close it with
    // batch-1's timestamps
    write(Seq((3L, "2024-01-01 02:00:00")))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val closed = spark.read.schema(
          org.apache.spark.sql.Encoders.product[EventStreams.Session].schema)
        .parquet(out).as[EventStreams.Session].collect()
      assert(closed.length === 1)
      assert(closed.head.session_start === java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      assert(closed.head.n_events === 2)
    } finally q2.stop()
  }

  test("streaming sessionization equals the batch sessionizer session-for-session") {
    val ev = Tables.table(spark, TestSpark.sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value")).cache()
    ev.count()
    // batch truth over the complete table: the oracle-checked
    // definition (events_sessionize) carries correctness
    val batch = EventStreams.sessionizeBatch(ev, gapSeconds = 86400)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getLong(4)))
    // at end-of-stream each user's LAST session is still open in
    // state — the stream must emit exactly everything else
    val lastId = batch.groupBy(_._1).map { case (u, ss) => u -> ss.map(_._2).max }
    val wantClosed = batch.filter(t => lastId(t._1) != t._2)
      .map(t => (t._1, t._3, t._4, t._5)).toSet
    assert(wantClosed.nonEmpty, "test data produced no closeable sessions")
    // stream the table as FOUR chronological micro-batches (separate
    // files with strictly increasing mtimes so the file source
    // processes them in event-time order, like a real ingest)
    val dir = java.nio.file.Files.createTempDirectory("graft-sessfull").toString
    val sliced = ev.withColumn("slice",
      ntile(4).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts"), col("event_id")))).cache()
    var seen = Set.empty[String]
    val base = new java.io.File(dir).lastModified()
    for (i <- 1 to 4) {
      sliced.filter(col("slice") === i).drop("slice")
        .coalesce(1).write.mode("append").parquet(dir)
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("part-"))
      files.filterNot(f => seen(f.getName))
        .foreach(_.setLastModified(base + i * 60000L))
      seen ++= files.map(_.getName)
    }
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir).as[EventStreams.Event]
    val q = EventStreams.sessionizeStream(stream, gapSeconds = 86400)
      .writeStream.outputMode("append").format("memory")
      .queryName("sessfull").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
          "select user_id, session_start, session_end, n_events from sessfull")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1),
          r.getTimestamp(2), r.getLong(3))).toSet
      assert(got === wantClosed,
        "streamed sessions diverged from the batch sessionizer")
      // the claim is only interesting if sessions SPAN micro-batches:
      // some emitted session must straddle a slice boundary
      val bounds = sliced.groupBy(col("slice")).agg(max(col("ts")).as("m"))
        .collect().map(_.getTimestamp(1).getTime).sorted.dropRight(1)
      assert(got.exists { case (_, s, e, _) =>
        bounds.exists(b => s.getTime <= b && e.getTime > b) },
        "no emitted session spans a micro-batch boundary")
    } finally q.stop()
  }

  private def chronoSlices(ev: org.apache.spark.sql.DataFrame, n: Int,
                           tag: String): (String, org.apache.spark.sql.DataFrame) = {
    // stream a table as n chronological micro-batches: separate files
    // with strictly increasing mtimes so the file source processes
    // them in event-time order, like a real ingest
    val dir = java.nio.file.Files.createTempDirectory(tag).toString
    val sliced = ev.withColumn("slice",
      ntile(n).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts"), col("event_id")))).cache()
    var seen = Set.empty[String]
    val base = new java.io.File(dir).lastModified()
    for (i <- 1 to n) {
      sliced.filter(col("slice") === i).drop("slice")
        .coalesce(1).write.mode("append").parquet(dir)
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("part-"))
      files.filterNot(f => seen(f.getName))
        .foreach(_.setLastModified(base + i * 60000L))
      seen ++= files.map(_.getName)
    }
    (dir, sliced)
  }

  test("streaming funnel equals the batch funnel verdict-for-verdict") {
    val ev = Tables.table(spark, TestSpark.sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value")).cache()
    ev.count()
    // batch truth: the oracle-checked events_funnel definition minus
    // its final count — per-session verdicts
    val batch = EventStreams.funnelBatch(ev, gapSeconds = 86400)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // at end-of-stream each user's LAST session (funnel-worthy or
    // not) is still open in state; everything else must be emitted
    val lastSession = EventStreams.sessionizeBatch(ev, gapSeconds = 86400)
      .groupBy(col("user_id")).agg(max(col("session_id")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantClosed = batch.filter(t => lastSession(t._1) != t._2).toSet
    assert(wantClosed.nonEmpty, "test data produced no closeable verdicts")
    assert(wantClosed.exists(_._3) && wantClosed.exists(!_._3),
      "test data must exercise both verdicts")
    val (dir, sliced) = chronoSlices(ev, 4, "graft-funnel")
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir).as[EventStreams.Event]
    val q = EventStreams.funnelStream(stream, gapSeconds = 86400)
      .writeStream.outputMode("append").format("memory")
      .queryName("funnelmem").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("select user_id, session_id, converted from funnelmem")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(got === wantClosed,
        "streamed funnel verdicts diverged from the batch funnel")
      // the claim is only interesting if verdicts straddle slices:
      // some emitted session must span a micro-batch boundary
      val bounds = sliced.groupBy(col("slice")).agg(max(col("ts")).as("m"))
        .collect().map(_.getTimestamp(1).getTime).sorted.dropRight(1)
      val spans = EventStreams.sessionizeBatch(ev, gapSeconds = 86400)
        .collect().exists { r =>
          val s = r.getTimestamp(2).getTime; val e = r.getTimestamp(3).getTime
          lastSession(r.getLong(0)) != r.getLong(1) &&
            bounds.exists(b => s <= b && e > b)
        }
      assert(spans, "no emitted session spans a micro-batch boundary")
    } finally q.stop()
  }

  test("streaming attribution equals the batch RANGE-frame answer credit-for-credit") {
    import graft.operators.Temporal
    val ev = Tables.table(spark, TestSpark.sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value")).cache()
    ev.count()
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) -> (
      (if (r.isNullAt(2)) -1L else r.getLong(2)),
      Option(r.getString(3)).getOrElse(""),
      (if (r.isNullAt(4)) -1L else r.getLong(4)),
      Option(r.getString(5)).getOrElse(""))
    val batch = Temporal.attributionFirstLast(ev, "user_id", "ts",
        "event_type", "event_id", "purchase", Seq("click", "view", "signup"),
        windowSeconds = 86400L)
      .collect().map(key).toMap
    assert(batch.nonEmpty && batch.values.exists(_._1 >= 0) &&
      batch.values.exists(_._1 < 0),
      "test data must exercise both credited and uncredited conversions")
    val (dir, sliced) = chronoSlices(ev, 16, "graft-attr")
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir).as[EventStreams.Event]
    val q = EventStreams.attributionStream(stream, "purchase",
        Set("click", "view", "signup"), windowSeconds = 86400L)
      .writeStream.outputMode("append").format("memory")
      .queryName("attrmem").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("""select conv_id, actor, first_touch_id,
          first_touch_type, last_touch_id, last_touch_type from attrmem""")
        .collect().map(key).toMap
      assert(got === batch,
        "streamed attribution diverged from the batch RANGE-frame answer")
      // the claim is only interesting if some conversion's credited
      // touch arrived in an EARLIER micro-batch
      val sliceOf = sliced.select(col("event_id"), col("slice"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val crossBatch = batch.exists { case (cid, (fid, _, _, _)) =>
        fid >= 0 && sliceOf(fid) < sliceOf(cid)
      }
      assert(crossBatch, "no credit spans a micro-batch boundary")
    } finally q.stop()
  }

  test("streaming cohort facts rebuild the batch retention table row-for-row") {
    val ev = Tables.table(spark, TestSpark.sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value")).cache()
    ev.count()
    val periodSeconds = 7L * 86400L
    // batch truth: the oracle-checked events_cohort_retention operator
    val want = graft.operators.Temporal.cohortRetention(ev, "user_id", "ts",
        periodSeconds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(want.exists(_._2 > 0), "test data has no retention past offset 0")
    val (dir, sliced) = chronoSlices(ev, 4, "graft-cohort")
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir).as[EventStreams.Event]
    val q = EventStreams.cohortFactsStream(stream, periodSeconds)
      .writeStream.outputMode("append").format("memory")
      .queryName("cohortmem").start()
    try {
      q.processAllAvailable()
      val facts = spark.sql("select actor, cohort, period from cohortmem")
      // each (actor, period) fact is emitted EXACTLY once across the
      // whole stream — the state's whole point
      assert(facts.count() === facts.distinct().count(),
        "duplicate cohort facts emitted across micro-batches")
      val got = EventStreams.cohortRetentionFromFacts(facts)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      assert(got === want,
        "retention table from streamed facts diverged from batch")
      // actors must span micro-batches for the claim to bite: some
      // actor is active in different periods in different slices
      val spanning = sliced
        .select(col("user_id"),
          floor(unix_timestamp(col("ts")) / periodSeconds).as("p"),
          col("slice"))
        .groupBy(col("user_id"))
        .agg(countDistinct(col("p")).as("np"), countDistinct(col("slice")).as("ns"))
        .filter(col("np") > 1 && col("ns") > 1).count()
      assert(spanning > 0, "no actor spans micro-batches with >1 period")
    } finally q.stop()
  }

  test("streaming transition facts rebuild the batch Markov matrix row-for-row") {
    val ev = Tables.table(spark, TestSpark.sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value")).cache()
    ev.count()
    // batch truth: the oracle-checked events_transitions lag-window
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val want = ev.withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(want.nonEmpty, "test data has no transitions")
    val (dir, sliced) = chronoSlices(ev, 4, "graft-trans")
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir).as[EventStreams.Event]
    val q = EventStreams.transitionFactsStream(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("transmem").start()
    try {
      q.processAllAvailable()
      val facts = spark.sql("select user_id, prev_type, event_type from transmem")
      // exactly one fact per consecutive pair: total = events - actors
      val nActors = ev.select(col("user_id")).distinct().count()
      assert(facts.count() === ev.count() - nActors,
        "fact count must be events minus one per actor")
      val got = EventStreams.transitionsFromFacts(facts)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(got === want,
        "streamed transition matrix diverged from the batch lag-window")
      // the boundary pair must actually span micro-batches somewhere
      val sliceOf = sliced.select(col("event_id"), col("slice"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val pairsSpan = ev.withColumn("prev_id", lag(col("event_id"), 1).over(w))
        .filter(col("prev_id").isNotNull)
        .select(col("prev_id"), col("event_id"))
        .collect().exists(r => sliceOf(r.getLong(0)) != sliceOf(r.getLong(1)))
      assert(pairsSpan, "no consecutive pair spans a micro-batch boundary")
    } finally q.stop()
  }

  test("streaming path facts equal the batch session paths minus each actor's open tail") {
    val ev = Tables.table(spark, TestSpark.sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value")).cache()
    ev.count()
    // batch truth: the oracle-checked events_top_paths session table
    val us = unix_micros(col("ts"))
    val wu = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(us, col("event_id"))
    val sess = ev
      .withColumn("__new",
        when(us - lag(us, 1).over(wu) > lit(1800L * 1000000L) ||
          lag(us, 1).over(wu).isNull, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(
        wu.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("user_id"), col("__sid"))
      .agg(
        concat_ws(">", slice(transform(
          array_sort(collect_list(struct(us.as("us"),
            col("event_id").as("id"), col("event_type").as("tp")))),
          x => x.getField("tp")), 1, 8)).as("path"),
        max(when(col("event_type") === "purchase", true).otherwise(false))
          .as("conv"))
    val lastSid = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
    val want = sess
      .withColumn("__maxsid", max(col("__sid")).over(lastSid))
      .filter(col("__sid") < col("__maxsid")) // open tails stay in state
      .select(col("user_id"), col("path"), col("conv"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    assert(want.nonEmpty, "test data closes no sessions")
    val (dir, sliced) = chronoSlices(ev, 16, "graft-paths")
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir).as[EventStreams.Event]
    val q = EventStreams.pathFactsStream(stream, gapSeconds = 1800L)
      .writeStream.outputMode("append").format("memory")
      .queryName("pathmem").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("select user_id, path, converted from pathmem")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
        .groupBy(identity).map { case (k, v) => k -> v.size }
      assert(got === want,
        "streamed closed-session paths diverged from the batch session table")
      // histogram shape matches the batch top-paths columns
      val hist = EventStreams.topPathsFromFacts(
        spark.sql("select path, converted from pathmem")).collect()
      assert(hist.nonEmpty && hist.forall(r =>
        r.getLong(3) == r.getLong(2) * 1000000L / r.getLong(1)))
      // a session must span micro-batches for the claim to bite
      val sliceOf = sliced.select(col("event_id"), col("slice"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val spanning = ev
        .withColumn("__new",
          when(us - lag(us, 1).over(wu) > lit(1800L * 1000000L) ||
            lag(us, 1).over(wu).isNull, 1L).otherwise(0L))
        .withColumn("__sid", sum(col("__new")).over(
          wu.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
        .select(col("user_id"), col("__sid"), col("event_id"))
        .collect().groupBy(r => (r.getLong(0), r.getLong(1)))
        .exists(_._2.map(r => sliceOf(r.getLong(2))).distinct.size > 1)
      assert(spanning, "no session spans a micro-batch boundary")
    } finally q.stop()
  }

  test("streaming EWMA snapshots land bit-equal to the batch recursive fold") {
    val ev = Tables.table(spark, TestSpark.sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value")).cache()
    ev.count()
    // batch truth: the oracle-checked events_ewma fold (alpha = 0.5)
    val want = ev
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"), col("value"))))
        .as("evs"))
      .select(col("user_id"), size(col("evs")).cast("long").as("n"),
        aggregate(col("evs"), lit(Double.NaN),
          (acc, e) => when(isnan(acc), e.getField("value"))
            .otherwise(acc * lit(0.5) + e.getField("value") * lit(0.5)))
          .as("ewma"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val (dir, _) = chronoSlices(ev, 8, "graft-ewma")
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir).as[EventStreams.Event]
    val q = EventStreams.ewmaStream(stream, alpha = 0.5)
      .writeStream.outputMode("append").format("memory")
      .queryName("ewmamem").start()
    try {
      q.processAllAvailable()
      val snaps = spark.sql("select user_id, n_events, ewma_value from ewmamem")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // the latest snapshot per actor (n is monotone) IS the batch row,
      // bit-equal doubles included — both modes fold the identical
      // IEEE op sequence in the identical order
      val got = snaps.groupBy(_._1).map { case (u, s) =>
        val last = s.maxBy(_._2); u -> ((last._2, last._3)) }
      assert(got === want, "streamed EWMA diverged from the batch fold")
      // state did its job: actors touched in k batches emit k snapshots,
      // and at least one actor spans multiple batches
      assert(snaps.groupBy(_._1).exists(_._2.length > 1),
        "no actor folded across micro-batches")
    } finally q.stop()
  }

  test("streaming sessionization (flatMapGroupsWithState) closes sessions on gap") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sess").toString
    Seq(
      (1L, "2024-01-01 00:00:00", 7L), (2L, "2024-01-01 00:10:00", 7L),
      (3L, "2024-01-01 02:00:00", 7L)
    ).map { case (id, ts, u) => (id, java.sql.Timestamp.valueOf(ts), u, "t", 2.5) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
      .as[EventStreams.Event]
    val q = EventStreams.sessionizeStream(stream, gapSeconds = 1800)
      .writeStream.outputMode("append").format("memory").queryName("sessions").start()
    try {
      q.processAllAvailable()
      val closed = spark.sql("select * from sessions").as[EventStreams.Session].collect()
      // the 2-event session is closed by the 02:00 event; the open one stays in state
      assert(closed.length === 1)
      assert(closed.head.n_events === 2 && closed.head.sum_value === 5.0)
    } finally q.stop()
  }

  test("composed engagement pipeline: six twins in ONE query over admitted actors, stream == batch") {
    import graft.operators.{Bucketing, DedupIndex}
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("engidx"))
      .foreach(Bucketing.dropTableAndLocation(spark, _))
    // admission: the ingest-gate shape — an exact-dedup index over a
    // historical doc corpus gates the full doc set; admitted = docs
    // whose text was never admitted before. Built so some event
    // actors are admitted and some rejected.
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text"))
    DedupIndex.buildDedupIndex(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", "engidx")
    val admitted = DedupIndex.gateNewDocs(spark, "engidx", docs,
        "doc_id", "text")
      .filter(!col("is_dup")).select(col("id")).cache()
    val admittedIds = admitted.collect().map(_.getLong(0)).toSet
    val ev = events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value")).cache()
    ev.count()
    val actors = ev.select(col("user_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert((actors -- admittedIds).nonEmpty && (actors & admittedIds).nonEmpty,
      "fixture must admit some actors and reject others")
    def bag(rows: Seq[(String, Long, String, String)]) =
      rows.groupBy(identity).view.mapValues(_.size).toMap
    // batch twin (independent operators), open tails excluded for the
    // session kinds; ewma compared separately (stream snapshots per
    // micro-batch, latest == batch)
    val batchAll = EventStreams.engagementFactsBatch(ev, admitted, "id",
        excludeOpenTail = true)
      .collect().map(f => (f.kind, f.user_id, f.k, f.v)).toSeq
    val batchEwma = batchAll.filter(_._1 == "ewma")
    val batchRest = bag(batchAll.filterNot(_._1 == "ewma"))
    // the composed SINGLE streaming query
    val (dir, _) = chronoSlices(ev, 6, "graft-engage")
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir).as[EventStreams.Event]
    val q = EventStreams.engagementFactsStream(stream, admitted, "id")
      .writeStream.outputMode("append").format("memory")
      .queryName("engagemem").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("select kind, user_id, k, v from engagemem")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getString(3))).toSeq
      // every kind produced facts — the composition exercised all legs
      val kinds = got.map(_._1).toSet
      assert(kinds === Set("funnel", "attribution", "cohort", "path",
        "ewma", "transition"), s"missing legs: $kinds")
      // rejected actors never entered any state store
      assert(got.forall(f => admittedIds(f._2)),
        "a rejected actor's events leaked into the composed pipeline")
      // non-ewma kinds: exact multiset equality with the batch twin
      assert(bag(got.filterNot(_._1 == "ewma")) === batchRest,
        "composed stream facts diverged from the batch composition")
      // ewma: the LATEST snapshot per actor equals the batch fold
      // (bit-exact: v is the raw IEEE long)
      val latest = got.filter(_._1 == "ewma")
        .groupBy(_._2).values.map(_.maxBy(_._3.toLong)).toSet
      assert(latest === batchEwma.toSet,
        "latest streamed EWMA snapshots diverged from the batch fold")
    } finally q.stop()
    admitted.unpersist(blocking = false)
    ev.unpersist(blocking = false)
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("engidx"))
      .foreach(Bucketing.dropTableAndLocation(spark, _))
  }

  test("streaming AUDIO-index maintenance: the image maintainer folds audio words unchanged") {
    // the persisted audio index IS ImageHashIndex over
    // (envhash, audiohash); this pins the claim that the streaming
    // maintainer needs no audio-specific code — micro-batched audio
    // hashes fold exactly-once and the gate equals brute combined
    // truth over everything streamed
    import graft.streaming.DocStreams
    import graft.operators.{AudioHash, ImageHashIndex, Multimodal}
    val prefix = "saud_mnt"
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix))
      .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
    val blobs = Multimodal.synthMediaBlobs(
      spark.range(240L).select(col("id").as("doc_id")), "doc_id", "wav_near")
    val hashes = AudioHash.audioHashes(blobs, "id", "bytes", "format")
      .filter(col("audiohash").isNotNull && col("envhash").isNotNull)
      .select(col("id"), col("envhash"), col("audiohash"))
      .cache()
    hashes.count()
    val base = hashes.filter(col("id") % 3 === 0)
    val arriving = hashes.filter(col("id") % 3 =!= 0 && col("id") % 5 =!= 0)
    val probes = hashes.filter(col("id") % 3 =!= 0 && col("id") % 5 === 0)
      .select((col("id") + 5000000L).as("id"), col("envhash"),
        col("audiohash"))
    ImageHashIndex.buildImageIndex(base, "id", "envhash", "audiohash",
      prefix)
    val src = java.nio.file.Files.createTempDirectory("graft-audmnt").toString
    arriving.repartition(3).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val m = new DocStreams.ImageIndexMaintainer(spark, prefix, "id",
      "envhash", "audiohash")
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.foreachBatch(m.appendBatch _).start()
    try q.processAllAvailable() finally q.stop()
    val indexed = base.unionByName(arriving)
    val truth = probes.select(col("id").as("delta_id"),
        col("envhash").as("pe"), col("audiohash").as("pa"))
      .join(indexed.select(col("id").as("index_id"),
          col("envhash").as("ce"), col("audiohash").as("ca")),
        (bit_count(col("pe").bitwiseXOR(col("ce")))
          + bit_count(col("pa").bitwiseXOR(col("ca")))) <= 3)
      .withColumn("dist",
        (bit_count(col("pe").bitwiseXOR(col("ce")))
          + bit_count(col("pa").bitwiseXOR(col("ca")))).cast("long"))
      .select("delta_id", "index_id", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = ImageHashIndex.gateImageMatches(spark, prefix, probes,
        "id", "envhash", "audiohash")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === truth, "streamed audio index diverged from brute truth")
    assert(truth.nonEmpty, "fixture must exercise real matches")
    hashes.unpersist(blocking = false)
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix))
      .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
  }

  test("streaming image-index maintenance: gate == brute cross after the stream drains") {
    import graft.streaming.DocStreams
    import graft.operators.{ImageHash, ImageHashIndex, Multimodal}
    val prefix = "sim_mnt"
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix))
      .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
    val blobs = Multimodal.synthMediaBlobs(
        spark.range(240L).select(col("id").as("doc_id")), "doc_id", "bmp_near")
      .withColumn("format", lit("bmp"))
    val hashes = ImageHash.imageHashes(blobs, "id", "bytes", "format")
      .filter(col("dhash").isNotNull && col("phash").isNotNull)
      .select(col("id"), col("dhash"), col("phash"))
      .cache()
    hashes.count()
    val base = hashes.filter(col("id") % 3 === 0)
    val arriving = hashes.filter(col("id") % 3 =!= 0 && col("id") % 5 =!= 0)
    val probes = hashes.filter(col("id") % 3 =!= 0 && col("id") % 5 === 0)
      .select((col("id") + 5000000L).as("id"), col("dhash"), col("phash"))
    ImageHashIndex.buildImageIndex(base, "id", "dhash", "phash", prefix)
    val src = java.nio.file.Files.createTempDirectory("graft-immnt").toString
    arriving.repartition(3).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val m = new DocStreams.ImageIndexMaintainer(spark, prefix, "id", "dhash",
      "phash")
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.foreachBatch(m.appendBatch _).start()
    try q.processAllAvailable() finally q.stop()
    val indexed = base.unionByName(arriving)
    val truth = probes.select(col("id").as("delta_id"), col("dhash").as("dh"),
        col("phash").as("ph"))
      .join(indexed.select(col("id").as("index_id"), col("dhash").as("ch"),
          col("phash").as("cp")),
        (bit_count(col("dh").bitwiseXOR(col("ch")))
          + bit_count(col("ph").bitwiseXOR(col("cp")))) <= 3)
      .withColumn("dist",
        (bit_count(col("dh").bitwiseXOR(col("ch")))
          + bit_count(col("ph").bitwiseXOR(col("cp")))).cast("long"))
      .select("delta_id", "index_id", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = ImageHashIndex.gateImageMatches(spark, prefix, probes,
        "id", "dhash", "phash")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === truth, "streamed image index diverged from brute truth")
    assert(truth.nonEmpty, "fixture must exercise real matches")
    // batch-0 replay through a fresh maintainer appends nothing
    val statsBefore = spark.table(s"${prefix}_stats").head()
    val m2 = new DocStreams.ImageIndexMaintainer(spark, prefix, "id", "dhash",
      "phash")
    m2.appendBatch(arriving.limit(5), 0L)
    assert(spark.table(s"${prefix}_stats").head() === statsBefore,
      "replayed batch must be a no-op")
    hashes.unpersist(blocking = false)
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix))
      .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _))
  }
  test("streaming curation flagship == sequential batch-operator replay; gates fire; retry idempotent") {
    import graft.operators.{DedupIndex, NearDupIndex, TextAnalysis}
    import graft.streaming.DocStreams
    Seq("csp_dd", "csp_nd", "csq_dd", "csq_nd").foreach(p =>
      spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(p))
        .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _)))
    // health-passing docs: 60 distinct alpha words + stopwords per
    // name, pairwise shingle-disjoint across names
    def passText(name: String): String =
      ((0 until 56).map(j => s"w$name$j") ++ Seq("the", "a", "of", "to"))
        .mkString(" ")
    val A = passText("alpha"); val B = passText("bravo")
    val C = passText("charlie"); val D = passText("delta")
    // fails ONLY the trained-quality gate: health-shaped (50+ words,
    // stopwords, clean lengths) but built from the seed's negative
    // token, whose bucket weight is deeply negative by construction
    val Q = "the a " + Seq.fill(48)("zzzqq").mkString(" ")
    // positive seed carries 10x the negative's occurrence mass, so a
    // hashed-bucket collision between zzzqq and a w-token can never
    // flip an admitted doc's sign (each token's weight stays >= -30
    // against a +10-per-token baseline)
    val seed = ((0 until 10).map(i =>
        (5000L + i, Seq(A, B, C, D).mkString(" "), true)) :+
        ((5100L, Seq.fill(40)("zzzqq").mkString(" "), false)))
      .toDF("doc_id", "text", "label")
    val weights = TextAnalysis.loadWeights(
      TextAnalysis.trainBucketWeights(seed, "text", col("label"), 256), 256)
    val base = Seq((1L, A)).toDF("doc_id", "text")
    DedupIndex.buildDedupIndex(base, "doc_id", "text", "csp_dd")
    NearDupIndex.buildNearDupIndex(base, "doc_id", "text", "csp_nd")
    val admitDir = java.nio.file.Files.createTempDirectory("graft-csp").toString
    val pipe = new DocStreams.CurationStreamPipeline(spark, "csp_dd",
      "csp_nd", weights, threshold = 0.5, admitDir, "doc_id", "text")
    val batches = Seq(
      // 10 admits; 11 health-fails; 12 exact-dups the BASE; 13
      // quality-fails (health-shaped by construction)
      Seq((10L, B), (11L, "x"), (12L, A), (13L, Q)),
      // 20 exact-dups ADMITTED 10 (cross-batch); 21 near-dups
      // admitted 10; 22 admits
      Seq((20L, B), (21L, B + " tonight"), (22L, C)),
      // 30 re-arrives the REJECTED near-dup text: not exact (rejected
      // docs are never indexed) but still near-dup of admitted 10;
      // 31 admits
      Seq((30L, B + " tonight"), (31L, D))
    )
    val src = java.nio.file.Files.createTempDirectory("graft-cspsrc").toString
    var seen = Set.empty[String]
    val mbase = new java.io.File(src).lastModified()
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(src)
      val files = new java.io.File(src).listFiles()
        .filter(_.getName.startsWith("part-"))
      files.filterNot(f => seen(f.getName))
        .foreach(_.setLastModified(mbase + (i + 1) * 60000L))
      seen ++= files.map(_.getName)
    }
    val schema = spark.read.parquet(src).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream.foreachBatch(pipe.processBatch _).start()
    try q.processAllAvailable() finally q.stop()
    def admittedIds: Seq[Long] = spark.read.parquet(admitDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // ROW-EQUAL to the sequential per-batch replay of the SAME batch
    // operators over the same arrivals (fresh indexes, same base)
    DedupIndex.buildDedupIndex(base, "doc_id", "text", "csq_dd")
    NearDupIndex.buildNearDupIndex(base, "doc_id", "text", "csq_nd")
    var expected = Seq.empty[Long]
    batches.foreach { rows =>
      val batch = rows.toDF("doc_id", "text")
      val healthy = batch
        .withColumn("g", TextAnalysis.gopherSignals(col("text")))
        .filter(col("g.pass")).drop("g")
      val qual = TextAnalysis.hashedLinearScore(healthy, "doc_id", "text",
          weights)
        .filter(col("score") >= 0L).select(col("id").as("doc_id"))
      val exact = DedupIndex.gateNewDocs(spark, "csq_dd", batch,
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("is_dup"))
      val near = NearDupIndex.gateNearDups(spark, "csq_nd", batch,
          "doc_id", "text", 0.5)
        .select(col("delta_id").as("doc_id")).distinct()
      // eager localCheckpoint, not cache: the appends below WRITE the
      // tables this plan reads, and Spark re-caches invalidated plans
      // against the grown index (emptying the batch) — lineage must
      // be severed first (the pipeline's committed-output discipline)
      val admitted = healthy.join(qual, Seq("doc_id"))
        .join(exact, Seq("doc_id")).filter(!col("is_dup")).drop("is_dup")
        .join(near, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      if (!admitted.isEmpty) {
        DedupIndex.appendToDedupIndex(spark, "csq_dd", admitted,
          "doc_id", "text")
        NearDupIndex.appendToNearDupIndex(spark, "csq_nd", admitted,
          "doc_id", "text")
      }
      expected ++= admitted.select("doc_id").collect().map(_.getLong(0))
      admitted.unpersist(blocking = false)
    }
    assert(admittedIds === expected.sorted,
      "stream diverged from the sequential batch-operator replay")
    // every gate provably fired: hand-reasoned admissions
    assert(admittedIds === Seq(10L, 22L, 31L))
    // indexes grew by exactly the admitted docs
    assert(spark.table("csp_dd_fps").count() === 4L) // base + 10 + 22 + 31
    assert(spark.table("csp_nd_sets").count() === 4L)
    // full-batch retry is idempotent (ledger-driven, fresh instance)
    val pipe2 = new DocStreams.CurationStreamPipeline(spark, "csp_dd",
      "csp_nd", weights, threshold = 0.5, admitDir, "doc_id", "text")
    pipe2.processBatch(batches.head.toDF("doc_id", "text"), 0L)
    assert(admittedIds === Seq(10L, 22L, 31L))
    assert(spark.table("csp_dd_fps").count() === 4L)
    assert(spark.table("csp_nd_sets").count() === 4L)
    Seq("csp_dd", "csp_nd", "csq_dd", "csq_nd").foreach(p =>
      spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(p))
        .foreach(graft.operators.Bucketing.dropTableAndLocation(spark, _)))
  }
}
