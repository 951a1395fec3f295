package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Frames

class FramesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("prefixColumns renames every column") {
    val df = Seq((1, "a")).toDF("x", "y")
    assert(Frames.prefixColumns(df, "p_").columns.toSeq === Seq("p_x", "p_y"))
  }

  test("concatFrames aligns by name, not position") {
    val a = Seq((1, "a")).toDF("n", "s")
    val b = Seq(("b", 2)).toDF("s", "n")
    val out = Frames.concatFrames(Seq(a, b)).orderBy("n")
    assert(out.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "a"), (2, "b")))
  }

  test("uniqueFirst keeps first row per key by explicit order") {
    val df = Seq(("k", 2, "second"), ("k", 1, "first"), ("j", 9, "only")).toDF("k", "ord", "v")
    val out = Frames.uniqueFirst(df, Seq("k"), Seq(col("ord"))).orderBy("k")
    assert(out.select("v").collect().map(_.getString(0)).toSeq === Seq("only", "first"))
  }

  test("uniqueFirst (min_by aggregate) equals the window formulation on lineitem") {
    val li = Tables.table(spark, TestSpark.sfDir, "lineitem")
    val order = Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      col("l_quantity"), col("l_extendedprice"))
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("l_orderkey", "l_linenumber", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(key(Frames.uniqueFirst(li, Seq("l_orderkey"), order)) ===
      key(Frames.uniqueFirstWindow(li, Seq("l_orderkey"), order)))
  }

  test("topkRows bounded-heap aggregate equals the row_number window form") {
    val li = Tables.table(spark, TestSpark.sfDir, "lineitem")
    val ord = struct((-col("l_extendedprice")).as("np"), col("l_orderkey"),
      col("l_linenumber"), col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    val agg = li.groupBy(col("l_returnflag"))
      .agg(graft.functions.NativeFunctions.topkRows(ord,
        struct(col("l_orderkey"), col("l_linenumber")), 5).as("tk"))
      .select(col("l_returnflag"), posexplode(col("tk")).as(Seq("r0", "p")))
      .select(col("l_returnflag"), (col("r0") + 1).cast("long").as("rk"),
        col("p.payload.l_orderkey").as("l_orderkey"),
        col("p.payload.l_linenumber").as("l_linenumber"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    val win = li.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("l_returnflag"), col("rk").cast("long"), col("l_orderkey"), col("l_linenumber"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(agg === win)
  }

  test("uniqueKeepNone drops every row of duplicated keys (keep='none')") {
    val df = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
    val out = Frames.uniqueKeepNone(df, Seq("k"))
    assert(out.select("v").collect().map(_.getInt(0)).toSeq === Seq(3))
  }

  test("sampleExact returns exactly n rows, deterministic for a seed") {
    val df = (1 to 100).toDF("n")
    val s1 = Frames.sampleExact(df, 10, seed = 7L).collect().map(_.getInt(0)).toSeq
    val s2 = Frames.sampleExact(df, 10, seed = 7L).collect().map(_.getInt(0)).toSeq
    val s3 = Frames.sampleExact(df, 10, seed = 8L).collect().map(_.getInt(0)).toSeq
    assert(s1.size === 10); assert(s1 === s2); assert(s1 !== s3)
  }

  test("limitWithWarning passes small frames through, caps large ones") {
    val small = (1 to 5).toDF("n")
    assert(Frames.limitWithWarning(small, 10).count() === 5)
    val big = (1 to 100).toDF("n")
    assert(Frames.limitWithWarning(big, 10).count() === 10)
  }

  test("printRdfStatements asserts the sink schema contract") {
    val good = Seq("wd:Q1 wdt:P1 \"x\" .").toDF("rdf_statement")
    val bout = new java.io.ByteArrayOutputStream()
    Frames.printRdfStatements(good, out = new java.io.PrintStream(bout))
    assert(bout.toString.trim === "wd:Q1 wdt:P1 \"x\" .")
    val bad = Seq(1).toDF("x")
    intercept[IllegalArgumentException] { Frames.printRdfStatements(bad) }
  }

  test("printRdfStatements caps an over-limit frame to its seeded sample, warning once") {
    val df = (1 to 37).map(i => s"wd:Q$i wdt:P1 \"$i\" .").toDF("rdf_statement")
    val before = graft.util.Actions.recentWarnings()
    val bout = new java.io.ByteArrayOutputStream()
    Frames.printRdfStatements(df, limit = 10, out = new java.io.PrintStream(bout))
    val printed = bout.toString("UTF-8").split("\n").filter(_.nonEmpty).toSeq
    assert(printed.size === 10)
    assert(printed.toSet === Frames.sampleExact(df, 10, 42L).collect().map(_.getString(0)).toSet)
    val emitted = graft.util.Actions.recentWarnings().filterNot(w => before.exists(_ eq w))
    assert(emitted.count(_.category == "LimitWarning") === 1)
  }

  test("packSequences: two-level prefix sum equals single-window, invariants hold") {
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 500L).map(i => (i, (i * 37 % 90))).toDF("id", "n_tok")
    val packed = Frames.packSequences(df, "id", "n_tok", budget = 100, bucketSize = 64)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // single un-partitioned window reference
    val w = Window.orderBy(col("id")).rowsBetween(Window.unboundedPreceding, 0)
    val ref = df.withColumn("start", sum(col("n_tok")).over(w) - col("n_tok"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    ref.foreach { case (id, start) =>
      val (n, s, seqId, off, nSeqs) = packed(id)
      assert(s === start, s"start mismatch for $id")
      assert(seqId === start / 100 && off === start % 100)
      if (n == 0) assert(nSeqs === 0)
      else assert(nSeqs === (start + n - 1) / 100 - start / 100 + 1)
    }
  }

  test("packSequencesFfd: doc-preserving, budget-respected, FFD-greedy, deterministic") {
    // sizes span tiny to oversized (budget 100): id 1..400, n = id*53 % 130
    val df = (1L to 400L).map(i => (i, i * 53 % 130)).toDF("id", "n_tok")
    val out = Frames.packSequencesFfd(df, "id", "n_tok", budget = 100, nShards = 4)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    // every doc appears exactly once
    assert(rows.map(_._1).toSet.size === 400 && rows.length === 400)
    // oversized docs flagged, never placed; packable docs always placed
    rows.foreach { case (id, n, _, seq) =>
      if (n > 100) assert(seq === -1L, s"doc $id oversized but placed")
      else assert(seq >= 0L, s"doc $id packable but unplaced")
    }
    // no sequence over budget; sequence ids dense per shard from 0
    rows.filter(_._4 >= 0).groupBy(r => (r._3, r._4)).foreach { case ((sh, sq), ds) =>
      assert(ds.map(_._2).sum <= 100L, s"shard $sh seq $sq over budget")
    }
    rows.filter(_._4 >= 0).groupBy(_._3).foreach { case (sh, ds) =>
      val seqs = ds.map(_._4).toSet
      assert(seqs === (0L until seqs.size).toSet, s"shard $sh seq ids not dense")
    }
    // FFD in-JVM replay: identical placement (determinism + greedy law)
    val expect = rows.filter(_._2 <= 100).groupBy(_._3).flatMap { case (sh, ds) =>
      val rem = scala.collection.mutable.ArrayBuffer.empty[Long]
      ds.sortBy(d => (-d._2, d._1)).map { case (id, n, _, _) =>
        var i = 0
        while (i < rem.length && rem(i) < n) i += 1
        if (i == rem.length) rem += (100L - n) else rem(i) -= n
        (id, i.toLong)
      }.toSeq
    }.toMap
    rows.filter(_._2 <= 100).foreach { case (id, _, _, seq) =>
      assert(seq === expect(id), s"doc $id diverges from the FFD replay")
    }
    // partitioning-invariant: same assignment from a different input layout
    val out2 = Frames.packSequencesFfd(df.repartition(7), "id", "n_tok",
        budget = 100, nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    rows.foreach { case (id, _, _, seq) => assert(out2(id) === seq) }
    intercept[IllegalArgumentException] {
      Frames.packSequencesFfd(df, "id", "n_tok", budget = 0)
    }
  }

  test("packSequencesFfd: undersized nShards fails loudly before the buffer can OOM") {
    val df = (1L to 500L).map(i => (i, 10L)).toDF("id", "n_tok")
    val e = intercept[org.apache.spark.SparkException] {
      Frames.packSequencesFfd(df, "id", "n_tok", budget = 100, nShards = 2,
        maxDocsPerShard = 100L).count()
    }
    val msg = e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("maxDocsPerShard") && msg.contains("raise nShards"),
      s"guard message missing sizing guidance: $msg")
    // correctly-sized shards still pass under the same cap
    assert(Frames.packSequencesFfd(df, "id", "n_tok", budget = 100,
      nShards = 8, maxDocsPerShard = 100L).count() === 500L)
  }

  test("packSequencesFfd: non-numeric id fails loudly, not as a null-field NPE") {
    val df = Seq(("docA", 10L), ("docB", 20L)).toDF("id", "n_tok")
    val e = intercept[Exception] {
      Frames.packSequencesFfd(df, "id", "n_tok", budget = 100).count()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + msgs(t.getCause)
    assert(msgs(e).contains("must be numeric"),
      s"expected the loud id-type message, got: ${msgs(e)}")
  }

  test("weightedSampleDeterministic: partitioning-invariant, weight-biased, exact n") {
    val df = (1L to 1000L).map(i => (i, if (i <= 20) 1000.0 else 0.01))
      .toDF("id", "w")
    def ids(d: org.apache.spark.sql.DataFrame) =
      Frames.weightedSampleDeterministic(d, 20, "w", "id")
        .select("id").collect().map(_.getLong(0)).toSet
    val a = ids(df.repartition(1))
    val b = ids(df.repartition(7))
    assert(a === b, "same sample under any partitioning")
    assert(a.size === 20)
    assert(a.count(_ <= 20L) >= 18, s"heavy weights must dominate: $a")
  }

  test("JSONL sink/source roundtrip preserves rows and schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    val src = Tables.table(spark, TestSpark.sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    src.coalesce(2).write.mode("overwrite").json(dir)
    // explicit schema on read: at 100 TB schema inference is a full
    // extra pass over the data — always declare
    val back = spark.read.schema(src.schema).json(dir)
    assert(back.schema === src.schema)
    assert(back.count() === src.count())
    val a = src.orderBy("o_orderkey").collect().map(_.toSeq)
    val b = back.orderBy("o_orderkey").collect().map(_.toSeq)
    assert(a === b)
  }

  test("domainMix: limiting domain kept whole, mix tracks targets, partitioning-invariant") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val weights = Map("en" -> 0.4, "fr" -> 0.3, "zh" -> 0.3)
    val out = Frames.domainMix(docs, "lang", "doc_id", weights)
    val mix = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val in = docs.filter(col("lang").isin(weights.keys.toSeq: _*))
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // dropped domains never appear
    assert(mix.keySet.subsetOf(weights.keySet))
    // the limiting domain (min n/w) survives whole
    val limiting = weights.keys.minBy(k => in(k) / weights(k))
    assert(mix(limiting) === in(limiting))
    // output proportions within hash-granularity tolerance of targets
    val total = mix.values.sum.toDouble
    weights.foreach { case (k, w) =>
      assert(math.abs(mix(k) / total - w) < 0.1, s"$k: ${mix(k) / total} vs $w") }
    // deterministic under a different partitioning
    val re = Frames.domainMix(docs.repartition(13), "lang", "doc_id", weights)
    assert(re.select("doc_id").collect().map(_.getLong(0)).toSet ===
      out.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("temperatureMixSqrt: exact integer takes, flattened shares, partitioning-invariant") {
    import spark.implicits._
    // skewed synthetic corpus: big source 400 docs, small source 16
    val docs = ((0L until 400L).map(i => (i, "big")) ++
        (1000L until 1016L).map(i => (i, "small"))).toDF("doc_id", "source")
    val out = Frames.temperatureMixSqrt(docs, "source", "doc_id",
      budgetNum = 1L, budgetDen = 2L, seed = 7L)
    val kept = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact integer replay: w = floor(sqrt(n)); take = min(n, (T div 2)*w div sum_w)
    val n = Map("big" -> 400L, "small" -> 16L)
    val w = n.map { case (k, v) => k -> math.sqrt(v.toDouble).floor.toLong }
    val budget = (400L + 16L) / 2
    val want = n.map { case (k, v) =>
      k -> math.min(v, budget * w(k) / w.values.sum) }
    assert(kept === want)
    // temperature flattening: the small source's keep-RATE exceeds the big one's
    assert(kept("small").toDouble / n("small") > kept("big").toDouble / n("big"))
    // and shares move toward each other vs raw proportions
    assert(kept("small").toDouble / kept.values.sum > n("small").toDouble / n.values.sum)
    // selection is the same id set under a different partitioning
    val re = Frames.temperatureMixSqrt(docs.repartition(13), "source", "doc_id",
      budgetNum = 1L, budgetDen = 2L, seed = 7L)
    assert(re.select("doc_id").as[Long].collect().toSet ===
      out.select("doc_id").as[Long].collect().toSet)
    // output carries the rate card (n_docs, w, take) consistently
    out.select("source", "n_docs", "w", "take").distinct().collect().foreach { r =>
      val k = r.getString(0)
      assert(r.getLong(1) === n(k) && r.getLong(2) === w(k) && r.getLong(3) === want(k))
    }
  }

  test("tokenBudgetCuration: budget respected, best-quality docs selected first") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .withColumn("n_tokens", size(graft.operators.TextAnalysis.tokens(col("text"))).cast("long"))
      .withColumn("q", length(col("text")).cast("long"))
    val budget = 1500L
    val out = Frames.tokenBudgetCuration(docs, "lang", "doc_id",
      col("n_tokens"), col("q"), budget)
    // per-domain kept token totals stay within budget
    out.groupBy("lang").agg(sum("n_tokens").as("t")).collect()
      .foreach(r => assert(r.getLong(1) <= budget, s"${r.getString(0)} over budget"))
    // selection is the quality-ordered prefix: every kept doc sorts
    // strictly before every dropped doc of its domain
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val byDomain = docs.select("lang", "doc_id", "q").collect()
      .groupBy(_.getString(0))
    byDomain.foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (-r.getLong(2), r.getLong(1))).map(_.getLong(1))
      val keptIdx = sorted.zipWithIndex.filter { case (id, _) => kept(id) }.map(_._2)
      if (keptIdx.nonEmpty)
        assert(keptIdx.toSeq === (0 until keptIdx.length), "kept set is not a prefix")
    }
  }

  test("ORC sink/source roundtrip preserves rows, schema, and pushdown") {
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val src = Tables.table(spark, TestSpark.sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    src.coalesce(2).write.mode("overwrite").orc(dir)
    val back = spark.read.schema(src.schema).orc(dir)
    assert(back.schema === src.schema)
    val a = src.orderBy("o_orderkey").collect().map(_.toSeq)
    val b = back.orderBy("o_orderkey").collect().map(_.toSeq)
    assert(a === b)
    // predicate pushdown reaches the ORC scan like parquet
    val p = back.filter(col("o_totalprice") > 1000.0)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(o_totalprice,1000.0)"),
      s"ORC filter not pushed:\n$p")
  }

  test("exactMedianByGroup / exactQuantilesByGroup equal the percentile aggregate") {
    import graft.operators.Frames
    val orders = Tables.table(spark, TestSpark.sfDir, "orders")
      .select(col("o_orderpriority").as("k"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("v"))
    // median: rank-offset vs percentile(0.5), exact doubles both ways
    val med = Frames.exactMedianByGroup(orders, "k", "v", "m")
    val ref = orders.groupBy(col("k")).agg(percentile(col("v"), lit(0.5)).as("m"))
    assert(med.orderBy("k").collect().map(_.toSeq).toSeq ===
      ref.orderBy("k").collect().map(_.toSeq).toSeq)
    // odd/even group sizes and duplicate values interpolate correctly
    val tiny = Seq(("a", 1L), ("a", 3L), ("a", 3L), ("a", 10L),
      ("b", 5L), ("b", 6L), ("b", 7L)).toDF("k", "v")
    val tm = Frames.exactMedianByGroup(tiny, "k", "v", "m")
      .orderBy("k").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(tm.toSeq === Seq(("a", 3.0), ("b", 6.0)))
    // multi-quantile vs the native aggregate, within the 1e-6 quantum
    val qs = Frames.exactQuantilesByGroup(orders, "k", "v", Seq(0.5, 0.9, 0.99))
      .orderBy("k").collect()
    val refq = orders.groupBy(col("k"))
      .agg(expr("percentile(v, array(0.5, 0.9, 0.99))").as("ps"))
      .orderBy("k").collect()
    qs.zip(refq).foreach { case (a, b) =>
      val got = Seq(a.getDouble(1), a.getDouble(2), a.getDouble(3))
      val exp = b.getSeq[Double](1)
      got.zip(exp).foreach { case (g, e) =>
        assert(math.abs(g - e) < 1e-6, s"quantile diverged: $g vs $e") }
    }
  }

  test("deterministicShuffle: partitioning-invariant, dense per-shard positions") {
    import graft.operators.Frames
    val df = (1L to 2000L).toDF("id")
    val a = Frames.deterministicShuffle(df, "id", nShards = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val b = Frames.deterministicShuffle(df.repartition(13), "id", nShards = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(a === b)
    // positions are dense 0..n_shard-1 within every shard
    a.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).toSeq.sorted === (0L until rows.size).toSeq, s"shard $shard")
    }
    // shards are roughly balanced (multiplicative hash, 2000/8 = 250)
    val sizes = a.groupBy(_._2).view.mapValues(_.size)
    assert(sizes.values.min > 150 && sizes.values.max < 350, sizes.toMap.toString)
    // a different seed produces a different order
    val c = Frames.deterministicShuffle(df, "id", nShards = 8, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(c !== a)
  }

  test("winsorizeByGroup clamps tails to cutoffs, leaves the middle untouched") {
    import graft.operators.Frames
    val df = ((1L to 100L).map(i => ("g", i)) :+ (("g", 100000L))).toDF("k", "v")
    val out = Frames.winsorizeByGroup(df, "k", "v", 0.05, 0.95)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    // middle values unchanged
    assert(out(50L) === 50.0)
    // the outlier is pulled down to the p95 cutoff, not dropped
    assert(out(100000L) < 100000.0 && out(100000L) > 90.0)
    // nothing exceeds the cutoffs
    val vals = out.values
    assert(vals.max === out(100000L) && vals.min >= out(1L))
  }

  test("winsorizeByGroup keeps all-null groups and null values (left-join contract)") {
    import graft.operators.Frames
    val df = Seq(("a", Some(1L)), ("a", Some(2L)), ("a", Some(3L)),
      ("a", None), ("z", None), ("z", None)).toDF("k", "v")
    val out = Frames.winsorizeByGroup(df, "k", "v", 0.25, 0.75)
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    // every input row survives, including the all-null group's
    assert(out.length === 6)
    assert(out.count(_._1 == "z") === 2)
    // null values stay null — never collapse to a cutoff
    out.filter(_._2.isEmpty).foreach { r => assert(r._3.isEmpty, r.toString) }
    // non-null values in the live group are clamped into [p25, p75]
    val a = out.filter(r => r._1 == "a" && r._2.nonEmpty).map(_._3.get)
    assert(a.nonEmpty && a.forall(w => w >= 1.0 && w <= 3.0))
    // the all-null group is ALSO absent from the quantile frame itself
    val q = Frames.exactMedianByGroup(df, "k", "v", "m").collect()
    assert(q.map(_.getString(0)).toSeq === Seq("a"))
  }

  test("CSV sink/source roundtrip with header and explicit schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv").toString
    val src = Tables.table(spark, TestSpark.sfDir, "nation")
    src.coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.schema(src.schema).option("header", "true").csv(dir)
    assert(back.schema === src.schema)
    val a = src.orderBy(src.columns.map(col): _*).collect().map(_.toSeq)
    val b = back.orderBy(back.columns.map(col): _*).collect().map(_.toSeq)
    assert(a === b)
  }

  test("shardManifest: counts partition the input, checksum is order-independent and tamper-evident") {
    val df = (1L to 1000L).toDF("id")
    val m = Frames.shardManifest(df, "id", nShards = 8).collect()
    assert(m.map(_.getLong(1)).sum === 1000L, "counts must partition the input")
    assert(m.map(_.getInt(0)).toSeq === m.map(_.getInt(0)).sorted.toSeq)
    // order/partitioning independence: the checksum is a commutative sum
    val m2 = Frames.shardManifest(df.repartition(13).orderBy(rand(7)), "id", 8)
      .collect()
    assert(m.map(_.toSeq) === m2.map(_.toSeq))
    // tamper evidence: drop one row -> that shard's count AND checksum move
    val m3 = Frames.shardManifest(df.filter(col("id") =!= 500L), "id", 8)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val orig = m.map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val changed = orig.keySet.filter(k => orig(k) != m3(k))
    assert(changed.size === 1, "exactly the shard holding id 500 must change")
    val k = changed.head
    assert(m3(k)._1 === orig(k)._1 - 1)
    assert(m3(k)._2 !== orig(k)._2)
    // shard assignment matches deterministicShuffle's (same seed family)
    val viaShuffle = Frames.deterministicShuffle(df, "id", 8)
      .groupBy("shard").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(orig.view.mapValues(_._1).toMap === viaShuffle)
  }

  test("unimaxAllocation: JVM waterfilling replay, budget law, regimes") {
    import graft.operators.Frames
    // crafted sizes: tiny sources must cap, big ones waterfill
    val docs = Seq(("a", 10L), ("a", 10L), ("b", 100L), ("c", 500L),
      ("d", 900L), ("e", 950L)).toDF("source", "n")
    val out = Frames.unimaxAllocation(docs, "source", col("n"),
        epochCap = 2L, budgetPermille = 500L)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    // JVM replay of the waterfilling
    val sizes = Seq("a" -> 20L, "b" -> 100L, "c" -> 500L, "d" -> 900L,
      "e" -> 950L)
    val caps = sizes.map { case (s, n) => (s, n, n * 2L) }
      .sortBy { case (s, _, c) => (c, s) }
    val budget = caps.map(_._3).sum * 500L / 1000L
    var rem = budget; var m = caps.length.toLong; var capping = true
    var alloc = Map.empty[String, (Long, Boolean)]
    caps.foreach { case (s, _, c) =>
      if (capping && c * m <= rem) { alloc += s -> ((c, true)); rem -= c; m -= 1 }
      else { capping = false; alloc += s -> ((rem / m, false)) }
    }
    out.foreach { case (s, n, c, a, capped) =>
      assert(c === n * 2L)
      assert((a, capped) === alloc(s), s"source $s")
    }
    // budget law: total allocation within (uncapped count) of budget
    val total = out.map(_._4).sum
    val uncapped = out.count(!_._5).toLong
    assert(total <= budget && budget - total < math.max(uncapped, 1L))
    // no source ever exceeds its cap
    out.foreach { case (_, _, c, a, _) => assert(a <= c) }
    // all-capped regime: budget >= capped supply allocates every cap
    val full = Frames.unimaxAllocation(docs, "source", col("n"),
        epochCap = 2L, budgetPermille = 1000L)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getBoolean(4)))
    full.foreach { case (c, a, capped) => assert(a === c && capped) }
  }

  test("lengthBucketWaste: exact per-bucket padding math; bucketing beats the global batch") {
    import graft.operators.Frames
    val docs = Seq(3L, 5L, 14L, 17L, 20L, 64L).map(n => Tuple1(n))
      .toDF("n")
    val out = Frames.lengthBucketWaste(docs, col("n"), bucketWidth = 16L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // bucket 0: lens 3,5,14 -> padded 3*14=42, sum 22, waste 476190
    assert(out(0L) === ((3L, 22L, 14L, 42L, 476190L)))
    // bucket 1: lens 17,20 -> padded 40, sum 37, waste 75000
    assert(out(1L) === ((2L, 37L, 20L, 40L, 75000L)))
    // bucket 4: len 64 alone -> zero waste
    assert(out(4L) === ((1L, 64L, 64L, 64L, 0L)))
    // global: padded 6*64=384, sum 123, waste floor(261/384*1e6)
    assert(out(-1L) === ((6L, 123L, 64L, 384L, 679687L)))
    // bucketed waste strictly below the global batch's
    val bucketWaste = (out(0L)._4 + out(1L)._4 + out(4L)._4 -
      (out(0L)._2 + out(1L)._2 + out(4L)._2))
    assert(bucketWaste < out(-1L)._4 - out(-1L)._2)
  }

  test("unimaxSelect: per-source running totals respect allocations; capped sources keep all") {
    import graft.operators.Frames
    val docs = (1L to 40L).map { i =>
      val src = if (i <= 4) "small" else if (i <= 20) "mid" else "big"
      (i, src, 50L + (i % 7))
    }.toDF("id", "source", "n")
    val out = Frames.unimaxSelect(docs, "source", "id", col("n"),
        epochCap = 1L, budgetPermille = 600L, seed = 3L)
      .select(col("id"), col("source"), col("n_tokens"), col("allocated"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    val alloc = Frames.unimaxAllocation(docs, "source", col("n"),
        epochCap = 1L, budgetPermille = 600L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(3),
        r.getBoolean(4))).toMap
    // per-source kept tokens never exceed the allocation
    out.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.map(_._3).sum <= alloc(src)._2, s"source $src over budget")
    }
    // a capped source's allocation covers its full supply -> keeps all
    alloc.foreach { case (src, (nTok, a, capped)) =>
      if (capped) {
        assert(a >= nTok)
        assert(out.count(_._2 == src) === docs.filter(col("source") === src).count())
      }
    }
    assert(alloc.values.exists(_._3) && alloc.values.exists(!_._3),
      "fixture must exercise both regimes")
    // deterministic: same seed -> same selection regardless of partitioning
    val again = Frames.unimaxSelect(docs.repartition(13), "source", "id",
        col("n"), epochCap = 1L, budgetPermille = 600L, seed = 3L)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(again === out.map(_._1).sorted.toSeq)
  }
}
