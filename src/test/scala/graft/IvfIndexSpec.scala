package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Bucketing, IvfIndex, Similarity}

class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def emb = Tables.table(spark, TestSpark.sfDir, "embeddings")

  private def cleanup(prefix: String): Unit =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix))
      .foreach(Bucketing.dropTableAndLocation(spark, _))

  test("from-index probe is row-for-row identical to the inline IVF path") {
    val e = emb.limit(400).cache(); e.count()
    val cents = Similarity.trainIvfCentroids(e,
      nCentroids = 16, dim = 64, iterations = 1)
    val inline = Similarity.ivfTopK(e, e, k = 3, cents, nProbe = 4)
      .orderBy(col("query_id"), col("rank")).collect()
    val prefix = IvfIndex.ivfIndexCached(e, "vec_id", "embedding", cents)
    val fromIdx = IvfIndex.ivfTopKFromIndex(spark, prefix, e, k = 3, cents,
        nProbe = 4)
      .orderBy(col("query_id"), col("rank")).collect()
    assert(inline.nonEmpty && inline.sameElements(fromIdx),
      "index probe diverged from the inline path")
    // cache hit serves, never rebuilds
    assert(IvfIndex.ivfIndexCached(e, "vec_id", "embedding", cents) === prefix)
    // a mismatched centroid set is refused loudly, not scored wrong
    assert(intercept[IllegalArgumentException] {
      IvfIndex.ivfTopKFromIndex(spark, prefix, e, k = 3,
        cents.take(8), nProbe = 4)
    }.getMessage.contains("different centroid set"))
  }

  test("append with frozen centroids equals a rebuild with those centroids") {
    val e = emb.limit(400).cache(); e.count()
    val base = e.filter(col("vec_id") % 4 =!= 0)
    val delta = e.filter(col("vec_id") % 4 === 0)
    val cents = Similarity.trainIvfCentroids(base,
      nCentroids = 16, dim = 64, iterations = 1)
    val merged = IvfIndex.ivfAppendCached(base, delta, "vec_id", "embedding", cents)
    // reference: one-shot build over the FULL set with the SAME
    // frozen centroids
    cleanup("ivfref")
    IvfIndex.buildIvfIndex(e, "vec_id", "embedding", cents, "ivfref")
    def assignRows(t: String) = spark.table(s"${t}_assign")
      .select(col("id"), col("cell")).orderBy("id").collect().toSeq
    assert(assignRows(merged) === assignRows("ivfref"),
      "appended assignments diverge from the full build")
    val ms = spark.table(s"${merged}_stats").head()
    assert(ms.getAs[Long]("n_vecs") ===
      spark.table("ivfref_stats").head().getAs[Long]("n_vecs"))
    assert(ms.getAs[String]("lineage").contains("+"),
      "lineage missing the append record")
    // probes over the merged index match the rebuild
    val probes = e.filter(col("vec_id") % 10 === 0)
    val a = IvfIndex.ivfTopKFromIndex(spark, merged, probes, k = 2, cents)
      .orderBy(col("query_id"), col("rank")).collect()
    val b = IvfIndex.ivfTopKFromIndex(spark, "ivfref", probes, k = 2, cents)
      .orderBy(col("query_id"), col("rank")).collect()
    assert(a.nonEmpty && a.sameElements(b))
    // idempotent: the delta is in the lineage, a second call is a no-op
    val n1 = spark.table(s"${merged}_stats").head().getAs[Long]("n_vecs")
    assert(IvfIndex.ivfAppendCached(base, delta, "vec_id", "embedding", cents)
      === merged)
    assert(spark.table(s"${merged}_stats").head().getAs[Long]("n_vecs") === n1)
    // re-submitting known vectors fails loudly (digest flags, ids
    // table convicts) — never a silent duplicate candidate
    assert(intercept[IllegalArgumentException] {
      IvfIndex.appendToIvfIndex(spark, merged, delta.limit(3),
        "vec_id", "embedding", cents)
    }.getMessage.contains("re-submits"))
  }

  test("append hardening: empty delta, torn intent, wrong same-size centroids") {
    val e = emb.limit(200).cache(); e.count()
    val cents = Similarity.trainIvfCentroids(e,
      nCentroids = 8, dim = 64, iterations = 1)
    cleanup("ivfhard")
    IvfIndex.buildIvfIndex(e, "vec_id", "embedding", cents, "ivfhard")
    // empty delta is a NAMED failure, not an opaque bloom-build error
    assert(intercept[IllegalArgumentException] {
      IvfIndex.appendToIvfIndex(spark, "ivfhard",
        e.filter(col("vec_id") < 0), "vec_id", "embedding", cents)
    }.getMessage.contains("delta is empty"))
    // a DIFFERENT centroid set of the SAME size is refused by the
    // fingerprint check — n_cells alone would wave it through and the
    // probe would score against the wrong geometry silently
    val wrong = cents.map(_.clone())
    wrong(0)(0) = wrong(0)(0) + 1.0f
    assert(intercept[IllegalArgumentException] {
      IvfIndex.ivfTopKFromIndex(spark, "ivfhard", e.limit(5), k = 1, wrong)
    }.getMessage.contains("fingerprint mismatch"))
    assert(intercept[IllegalArgumentException] {
      IvfIndex.appendToIvfIndex(spark, "ivfhard", e.limit(5),
        "vec_id", "embedding", wrong)
    }.getMessage.contains("fingerprint mismatch"))
    // torn append: a leftover intent marker (crash between first write
    // and commit) makes probes AND appends fail loudly...
    spark.range(1).selectExpr("'x' as entry", "0L as n_vecs_before")
      .write.mode("overwrite").saveAsTable("ivfhard_intent")
    assert(intercept[IllegalArgumentException] {
      IvfIndex.ivfTopKFromIndex(spark, "ivfhard", e.limit(5), k = 1, cents)
    }.getMessage.contains("intent marker"))
    assert(intercept[IllegalArgumentException] {
      IvfIndex.appendToIvfIndex(spark, "ivfhard", e.limit(5),
        "vec_id", "embedding", cents)
    }.getMessage.contains("intent marker"))
    // ...and a rebuild (the named fix) clears the torn state
    IvfIndex.buildIvfIndex(e, "vec_id", "embedding", cents, "ivfhard")
    assert(IvfIndex.ivfTopKFromIndex(spark, "ivfhard", e.limit(5), k = 1,
      cents).count() > 0)
    // a SUCCESSFUL append leaves no marker behind (commit point drops it)
    val delta = e.limit(20)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
    IvfIndex.appendToIvfIndex(spark, "ivfhard", delta,
      "vec_id", "embedding", cents)
    assert(!spark.catalog.tableExists("ivfhard_intent"))
    cleanup("ivfhard")
  }

  test("lineage fingerprint membership is exact-entry, never substring") {
    import IvfIndex.lineageHasFingerprint
    assert(lineageHasFingerprint("abc+def", "def"))
    assert(lineageHasFingerprint("abc+b7:def", "def"), "tag:fp entry")
    assert(!lineageHasFingerprint("abc+def", "c+d"),
      "a window spanning two entries must not match")
    assert(!lineageHasFingerprint("xabcy", "abc"),
      "a substring inside an entry must not match")
    assert(!lineageHasFingerprint("abc+b7:xdef", "def"),
      "a suffix of a tagged fp must not match")
    // centroid fingerprint: deterministic, order- and bit-sensitive
    val a = Array(Array(1.0f, 2.0f), Array(3.0f, 4.0f))
    val b = Array(Array(3.0f, 4.0f), Array(1.0f, 2.0f))
    assert(IvfIndex.centroidFingerprint(a) === IvfIndex.centroidFingerprint(a))
    assert(IvfIndex.centroidFingerprint(a) !== IvfIndex.centroidFingerprint(b))
  }

  test("retrain equals a fresh full-corpus build; the drifted index is untouched") {
    val e = emb.limit(400).cache(); e.count()
    val base = e.filter(col("vec_id") % 4 =!= 0)
    val delta = e.filter(col("vec_id") % 4 === 0)
    val baseCents = Similarity.trainIvfCentroids(base,
      nCentroids = 8, dim = 64, iterations = 1)
    val drifted = IvfIndex.ivfAppendCached(base, delta, "vec_id",
      "embedding", baseCents)
    val statsBefore = spark.table(s"${drifted}_stats").head()
    val (rt, cents) = IvfIndex.ivfRetrainCached(spark, drifted,
      nCentroids = 8)
    // the retrained child equals a one-shot build over the full corpus
    // at the SAME retrained centroids: training from the index's own
    // (id, vec) rows is order-insensitive and integer-exact, so the
    // centroids equal full-corpus training too
    val fresh = Similarity.trainIvfCentroids(e, nCentroids = 8, dim = 64,
      iterations = 1)
    assert(IvfIndex.centroidFingerprint(cents) ===
      IvfIndex.centroidFingerprint(fresh),
      "retrained centroids diverged from fresh full-corpus training")
    cleanup("ivfrtref")
    IvfIndex.buildIvfIndex(e, "vec_id", "embedding", fresh, "ivfrtref")
    def assignRows(t: String) = spark.table(s"${t}_assign")
      .select(col("id"), col("cell")).orderBy("id").collect().toSeq
    assert(assignRows(rt) === assignRows("ivfrtref"),
      "retrained assignments diverge from the fresh build")
    // the DRIFTED index still serves, bit-identical stats — a crash
    // mid-retrain could never have torn it
    assert(spark.table(s"${drifted}_stats").head() === statsBefore)
    // lineage chains through the retrain record
    assert(spark.table(s"${rt}_stats").head().getAs[String]("lineage")
      .contains(">retrain("))
    // cached retrain is idempotent: second call loads, same prefix
    val statsRt = spark.table(s"${rt}_stats").head()
    val (rt2, cents2) = IvfIndex.ivfRetrainCached(spark, drifted,
      nCentroids = 8)
    assert(rt2 === rt && spark.table(s"${rt}_stats").head() === statsRt)
    assert(IvfIndex.centroidFingerprint(cents2) ===
      IvfIndex.centroidFingerprint(cents))
    // in-place retrain is refused; a tampered centroids table is loud
    assert(intercept[IllegalArgumentException] {
      IvfIndex.retrainIvfIndex(spark, drifted, drifted, 8)
    }.getMessage.contains("NEW index prefix"))
    spark.table(s"${rt}_centroids")
      .withColumn("cvec", transform(col("cvec"), x => x + lit(1.0f)))
      .write.mode("overwrite").format("noop").save() // exercise plan only
    import spark.implicits._
    val tampered = spark.table(s"${rt}_centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).map(_ + 1.0f)))
    tampered.toSeq.toDF("cell", "cvec").write.mode("overwrite")
      .saveAsTable(s"${rt}_centroids_tmp")
    spark.sql(s"DROP TABLE ${rt}_centroids")
    spark.sql(s"ALTER TABLE ${rt}_centroids_tmp RENAME TO ${rt}_centroids")
    assert(intercept[IllegalArgumentException] {
      IvfIndex.loadIndexCentroids(spark, rt)
    }.getMessage.contains("fingerprint"))
    cleanup("ivfrtref")
  }

  private def digestWords(table: String): Seq[(Long, Long)] =
    // the SEMANTIC digest: appended delta-word rows OR-fold per idx
    // (exactly what the index's own readDigest does)
    spark.table(table).groupBy(col("idx"))
      .agg(bit_or(col("word")).as("word")).orderBy("idx").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("append digest union == fresh-build digest (no resize crossed)") {
    cleanup("ivfdu"); cleanup("ivfdv")
    val e = emb.limit(300).cache(); e.count()
    val base = e.filter(col("vec_id") % 3 =!= 0)
    val delta = e.filter(col("vec_id") % 3 === 0)
    val cents = Similarity.trainIvfCentroids(base,
      nCentroids = 8, dim = 64, iterations = 1)
    IvfIndex.buildIvfIndex(base, "vec_id", "embedding", cents, "ivfdu")
    IvfIndex.appendToIvfIndex(spark, "ivfdu", delta, "vec_id", "embedding",
      cents)
    IvfIndex.buildIvfIndex(e, "vec_id", "embedding", cents, "ivfdv")
    assert(digestWords("ivfdu_iddigest") === digestWords("ivfdv_iddigest"),
      "O(delta) OR-union digest diverged from a full rebuild")
    cleanup("ivfdu"); cleanup("ivfdv")
  }

  test("append digest across a resize boundary == fresh-build digest") {
    cleanup("ivfdr"); cleanup("ivfds")
    // synthetic 4-dim vectors: 61k base + 9k delta crosses the 2^20
    // floor's 65536-id boundary, forcing the full-rebuild branch
    val mk = (a: Long, b: Long) => spark.range(a, b).select(
      col("id").as("vec_id"),
      array((col("id") % 7).cast("float"), (col("id") % 5).cast("float"),
        (col("id") % 3).cast("float"), lit(1.0f)).as("embedding"))
    val base = mk(0L, 61000L); val delta = mk(61000L, 70000L)
    val cents = Array(Array(0f, 0f, 0f, 1f), Array(6f, 4f, 2f, 1f))
    IvfIndex.buildIvfIndex(base, "vec_id", "embedding", cents, "ivfdr")
    val before = spark.table("ivfdr_stats").head().getAs[Int]("digest_mbits")
    IvfIndex.appendToIvfIndex(spark, "ivfdr", delta, "vec_id", "embedding",
      cents)
    val after = spark.table("ivfdr_stats").head().getAs[Int]("digest_mbits")
    assert(after === before * 2, s"expected a resize, got $before -> $after")
    IvfIndex.buildIvfIndex(base.unionByName(delta), "vec_id", "embedding",
      cents, "ivfds")
    assert(digestWords("ivfdr_iddigest") === digestWords("ivfds_iddigest"),
      "resize-boundary rebuild diverged from a fresh build")
    cleanup("ivfdr"); cleanup("ivfds")
  }

  test("splitOversizedCells: card flags the hot cell; split == fresh build; recall not worse") {
    Seq("ivfsk", "ivfsksp", "ivfskref").foreach(cleanup)
    val e0 = emb.limit(300).select(col("vec_id"), col("embedding"))
      .cache(); e0.count()
    // skewed corpus: 300 organic vectors + 150 exact copies of one —
    // the Zipf-hot-cell shape retrain cannot fix (fresh centroids
    // still put all copies in one cell)
    val hot = e0.orderBy(col("vec_id")).limit(1)
      .select(col("embedding")).head().getSeq[Float](0)
    val copies = spark.range(150)
      .select((col("id") + 900000L).as("vec_id"),
        typedLit(hot).as("embedding"))
    val skew = e0.unionByName(copies).cache(); skew.count()
    val cents = Similarity.trainIvfCentroids(skew, nCentroids = 8, dim = 64,
      iterations = 1, idCol = "vec_id", vecCol = "embedding")
    IvfIndex.buildIvfIndex(skew, "vec_id", "embedding", cents, "ivfsk")
    // the card flags at least the hot cell, covers every cell, and
    // its integer accounting closes
    val card = Similarity.ivfCellSkew(skew, "vec_id", "embedding", cents,
      oversizeFactor = 2).collect()
    assert(card.length === cents.length)
    assert(card.map(_.getAs[Long]("n")).sum === 450L)
    assert(card.exists(_.getAs[Boolean]("oversized")), "hot cell not flagged")
    val maxBefore = card.map(_.getAs[Long]("n")).max
    // split: expanded centroids, new index under a NEW prefix
    val expanded = IvfIndex.splitOversizedCells(spark, "ivfsk", "ivfsksp",
      cents, oversizeFactor = 2, seed = 7L)
    assert(expanded.length > cents.length, "no cell was split")
    // equivalence: the split index == a fresh one-shot build over the
    // same vectors at the SAME expanded centroid set
    IvfIndex.buildIvfIndex(skew, "vec_id", "embedding", expanded, "ivfskref")
    def assignRows(t: String) = spark.table(s"${t}_assign")
      .select(col("id"), col("cell")).orderBy("id").collect().toSeq
    assert(assignRows("ivfsksp") === assignRows("ivfskref"),
      "split assignments diverge from the fresh build")
    // the max cell shrank (the split's whole point)
    val sizesAfter = spark.table("ivfsksp_assign").groupBy(col("cell"))
      .agg(count(lit(1)).as("n")).collect().map(_.getAs[Long]("n"))
    assert(sizesAfter.max < maxBefore,
      s"split did not shrink the hot cell: ${sizesAfter.max} vs $maxBefore")
    // recall unchanged-or-better on a fixed panel (exact truth from
    // brute force; ANN truth from each index at the same probe budget)
    val panel = e0.filter(col("vec_id") % 10 === 0).cache(); panel.count()
    val truth = Similarity.bruteForceTopK(skew, panel, k = 1)
      .select(col("query_id"), col("id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def recall(prefix: String, cs: Array[Array[Float]]): Double = {
      val got = IvfIndex.ivfTopKFromIndex(spark, prefix, panel, k = 1, cs,
          nProbe = 2)
        .select(col("query_id"), col("id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      truth.count { case (q, nn) => got.get(q).contains(nn) }.toDouble /
        truth.size
    }
    val before = recall("ivfsk", cents)
    val after = recall("ivfsksp", expanded)
    assert(after >= before,
      s"split degraded recall: $before -> $after")
    // guards: in-place split refused; foreign centroid set refused
    assert(intercept[IllegalArgumentException] {
      IvfIndex.splitOversizedCells(spark, "ivfsk", "ivfsk", cents)
    }.getMessage.contains("NEW index prefix"))
    assert(intercept[IllegalArgumentException] {
      IvfIndex.splitOversizedCells(spark, "ivfsk", "ivfsksp2", expanded)
    }.getMessage.contains("centroid"))
    Seq(e0, skew, panel).foreach(_.unpersist(blocking = false))
    Seq("ivfsk", "ivfsksp", "ivfskref").foreach(cleanup)
  }

  test("grouped split: children == per-cell 2-means reference; jobs O(1) in oversized-cell count") {
    Seq("ivfgs", "ivfgssp").foreach(cleanup)
    // THREE hot cells, deterministically: centroids train on the
    // ORGANIC corpus alone, then the hot vectors are picked one from
    // each of three distinct cells — their copies land exactly in
    // those cells (same vector, same argmax), so the grouped pass has
    // guaranteed multi-cell work and the job-count assertion has
    // something to catch
    val e0 = emb.limit(300).select(col("vec_id"), col("embedding"))
      .cache(); e0.count()
    val cents = Similarity.trainIvfCentroids(e0, nCentroids = 8, dim = 64,
      iterations = 1, idCol = "vec_id", vecCol = "embedding")
    import graft.functions.NativeFunctions.nearestCells
    val hots = e0.select(col("vec_id"), col("embedding"),
        element_at(nearestCells(col("embedding"), cents, 1),
          1).as("cell"))
      .orderBy(col("cell"), col("vec_id"))
      .collect().groupBy(_.getInt(2)).toSeq.sortBy(_._1).take(3)
      .map(_._2.head.getSeq[Float](1))
    assert(hots.size === 3, "organic corpus must populate >= 3 cells")
    val copies = hots.zipWithIndex.map { case (h, i) =>
      spark.range(150).select((col("id") + lit(900000L + i * 10000L))
        .as("vec_id"), typedLit(h.toSeq).as("embedding"))
    }.reduce(_ unionByName _)
    val skew = e0.unionByName(copies).cache(); skew.count()
    IvfIndex.buildIvfIndex(skew, "vec_id", "embedding", cents, "ivfgs")
    // reference: the pre-grouping formulation — one trainIvfCentroids
    // per oversized cell under seed+cell, children in cell order
    val assign = spark.table("ivfgs_assign")
    val sizes = assign.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val expect = sizes.values.sum / cents.length
    val ovCells = cents.indices.filter { c =>
      val n = sizes.getOrElse(c, 0L); n > expect && n >= 2L }
    assert(ovCells.size >= 2, s"fixture must make >= 2 hot cells: $ovCells")
    val refChildren = ovCells.flatMap { c =>
      Similarity.trainIvfCentroids(
        assign.filter(col("cell") === c).select(col("id"), col("vec")),
        nCentroids = 2, dim = 64, iterations = 1,
        idCol = "id", vecCol = "vec", seed = 7L + c)
    }
    // count driver-blocking jobs during the grouped split
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val expanded = try {
      val r = IvfIndex.splitOversizedCells(spark, "ivfgs", "ivfgssp",
        cents, oversizeFactor = 1, seed = 7L)
      Thread.sleep(1000L) // let queued JobStart events drain
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    // children (the tail beyond the kept centroids) must be element-
    // identical to the sequential per-cell reference
    val kept = cents.indices.filterNot(ovCells.contains).size
    val gotChildren = expanded.drop(kept)
    assert(gotChildren.length === refChildren.length)
    gotChildren.zip(refChildren).zipWithIndex.foreach { case ((g, r), i) =>
      assert(g.toSeq === r.toSeq, s"child $i diverged from per-cell training")
    }
    // job bound: init + assignment-means + sizes + the build's own
    // jobs — a FIXED budget (~19 measured), not 2 extra jobs per
    // oversized cell. The pre-grouping loop paid one init collect +
    // one means collect PER CELL (~23 jobs at this fixture's 3 hot
    // cells), so this bound separates the two shapes while leaving
    // slack for scheduler jitter.
    assert(jobs.get() <= 21,
      s"split ran ${jobs.get()} jobs — expected an O(1) budget, " +
        "not O(oversized cells)")
    Seq(e0, skew).foreach(_.unpersist(blocking = false))
    Seq("ivfgs", "ivfgssp").foreach(cleanup)
  }

  test("ivfCellSkew on an empty corpus: all-zero card, no divide-by-zero") {
    val cents = Array(Array.fill(4)(0.5f), Array.fill(4)(-0.5f))
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val card = Similarity.ivfCellSkew(empty, "vec_id", "embedding", cents)
      .orderBy("cell").collect()
    assert(card.length === 2)
    assert(card.forall(r => r.getAs[Long]("n") === 0L &&
      r.getAs[Long]("skew_micro") === 0L && !r.getAs[Boolean]("oversized")))
  }

  test("probe plan prunes to the probed cells' partitions") {
    val e = emb.limit(400).cache(); e.count()
    val cents = Similarity.trainIvfCentroids(e,
      nCentroids = 16, dim = 64, iterations = 1)
    val prefix = IvfIndex.ivfIndexCached(e, "vec_id", "embedding", cents)
    // a panel probing FEW cells: one query vector, nProbe=2 of 16
    val panel = e.filter(col("vec_id") === e.select(min("vec_id")).head().getLong(0))
    val df = IvfIndex.ivfTopKFromIndex(spark, prefix, panel, k = 2, cents,
      nProbe = 2)
    df.collect() // finalize AQE so runtime pruning is visible
    val p = df.queryExecution.executedPlan.toString
    // the assignments scan must be partition-filtered on cell —
    // static or dynamic — never a full-table scan meeting the panel
    assert(p.contains("dynamicpruning") ||
      p.contains("PartitionFilters: [isnotnull(cell"),
      s"assignments scan is not cell-pruned:\n$p")
  }
}
