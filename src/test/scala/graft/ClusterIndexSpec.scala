package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Bucketing, ClusterIndex, Dedup}

class ClusterIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cleanup(prefix: String): Unit =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix))
      .foreach(Bucketing.dropTableAndLocation(spark, _))

  private def docs = Tables.table(spark, TestSpark.sfDir, "documents")
    .select(col("doc_id"), col("text"))

  private def assignments(prefix: String): Map[Long, Long] =
    ClusterIndex.resolvedMembers(spark, prefix)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def batchTruth(corpus: org.apache.spark.sql.DataFrame,
                         threshold: Double = 0.5,
                         bands: Int = 16): Map[Long, Long] = {
    val pairs = Dedup.minhashNearDupPairs(corpus, "doc_id", "text",
      bands = bands, threshold = threshold)
    Dedup.connectedComponents(corpus.select(col("doc_id").as("id")), pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("incremental clustering == batch closure, including cross-batch merges") {
    cleanup("t_clidx")
    val d = docs.limit(300).cache(); d.count()
    val base = d.filter(col("doc_id") % 3 === 0)
    val d1 = d.filter(col("doc_id") % 3 === 1)
    val d2 = d.filter(col("doc_id") % 3 === 2)
    ClusterIndex.buildClusterIndex(base, "doc_id", "text", "t_clidx",
      threshold = 0.5)
    ClusterIndex.appendToClusterIndex(spark, "t_clidx", d1, "doc_id", "text")
    ClusterIndex.appendToClusterIndex(spark, "t_clidx", d2, "doc_id", "text")
    val inc = assignments("t_clidx")
    val truth = batchTruth(d)
    assert(inc === truth,
      "incremental assignments diverged from the batch closure")
    // the slice must actually exercise merges for this to prove anything
    assert(truth.values.toSet.size < truth.size,
      "test slice produced no clusters at all")
    cleanup("t_clidx")
  }

  // Crafted-fixture texts: a bridge doc's Jaccard to either side is
  // necessarily < 0.5 (it contains both), so candidate recall needs
  // 32 bands of 2 (P[collide] at J=0.45 is ~1-3e-5 per pair, and the
  // fixed hash family makes the outcome fixed, not flaky); the threshold
  // sits below the bridge's exact Jaccard so verification keeps it.
  private val FixtureBands = 32
  private val aText = ("a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12 " +
    "a13 a14 a15 a16 a17 a18 a19 a20 a21 a22 a23 a24")
  private val bText = ("b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12 " +
    "b13 b14 b15 b16 b17 b18 b19 b20 b21 b22 b23 b24")
  private val cText = ("c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 " +
    "c13 c14 c15 c16 c17 c18 c19 c20 c21 c22 c23 c24")

  test("bridging arrival merges two existing clusters; min-id stays canonical") {
    cleanup("t_clbr")
    // two crafted clusters (near-identical long texts) + a bridge doc
    // overlapping both; ids chosen so the merged canonical id (10)
    // comes from cluster A
    val base = Seq(
      (10L, aText),
      (11L, aText + " a25"),
      (20L, bText),
      (21L, bText + " b25"),
      (30L, "totally unrelated content nothing shared here at all")
    ).toDF("doc_id", "text")
    ClusterIndex.buildClusterIndex(base, "doc_id", "text", "t_clbr",
      threshold = 0.3, bands = FixtureBands)
    val before = assignments("t_clbr")
    assert(before(10L) === before(11L))
    assert(before(20L) === before(21L))
    assert(before(10L) !== before(20L))
    assert(before(30L) === 30L)
    // the bridge: shares enough shingles with BOTH clusters
    val bridge = Seq((40L, aText + " " + bText)).toDF("doc_id", "text")
    ClusterIndex.appendToClusterIndex(spark, "t_clbr", bridge,
      "doc_id", "text")
    val after = assignments("t_clbr")
    val merged = Set(10L, 11L, 20L, 21L, 40L).map(after)
    assert(merged.size === 1 && merged.head === 10L,
      s"bridge must merge both clusters under min id 10, got $after")
    assert(after(30L) === 30L, "unrelated cluster must not move")
    // equivalence with a from-scratch rebuild over the union
    assert(after === batchTruth(base.union(bridge), threshold = 0.3,
      bands = FixtureBands))
    cleanup("t_clbr")
  }

  test("remap stays chain-free across successive merges") {
    cleanup("t_clch")
    // three clusters merged one at a time through bridges, each merge
    // touching the PREVIOUS merge's surviving id — the chain hazard
    val base = Seq(
      (100L, aText), (200L, bText), (300L, cText)
    ).toDF("doc_id", "text")
    ClusterIndex.buildClusterIndex(base, "doc_id", "text", "t_clch",
      threshold = 0.3, bands = FixtureBands)
    val b1 = Seq((400L, aText + " " + bText)).toDF("doc_id", "text")
    ClusterIndex.appendToClusterIndex(spark, "t_clch", b1, "doc_id", "text")
    val b2 = Seq((500L, bText + " " + cText)).toDF("doc_id", "text")
    ClusterIndex.appendToClusterIndex(spark, "t_clch", b2, "doc_id", "text")
    val after = assignments("t_clch")
    assert(Set(100L, 200L, 300L, 400L, 500L).map(after) === Set(100L))
    // no remap row's target is itself remapped (reads never recurse)
    val remap = spark.table("t_clch_remap")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val olds = remap.map(_._1).toSet
    assert(remap.forall { case (_, n) => !olds.contains(n) },
      s"remap has a chain: ${remap.toSeq}")
    assert(after === batchTruth(base.union(b1).union(b2), threshold = 0.3,
      bands = FixtureBands))
    cleanup("t_clch")
  }

  test("clean batch appends singletons and leaves the remap untouched") {
    cleanup("t_clcl")
    val d = docs.limit(60).cache(); d.count()
    ClusterIndex.buildClusterIndex(d, "doc_id", "text", "t_clcl",
      threshold = 0.5)
    val remapBefore = spark.table("t_clcl_remap").count()
    val fresh = Seq(
      (900001L, "qq ww ee rr tt yy uu ii oo pp"),
      (900002L, "aa ss dd ff gg hh jj kk ll zz")).toDF("doc_id", "text")
    ClusterIndex.appendToClusterIndex(spark, "t_clcl", fresh,
      "doc_id", "text")
    val a = assignments("t_clcl")
    assert(a(900001L) === 900001L && a(900002L) === 900002L)
    assert(spark.table("t_clcl_remap").count() === remapBefore)
    cleanup("t_clcl")
  }

  test("compaction folds the remap into members; answers invariant; appends keep working") {
    cleanup("t_clcp")
    val base = Seq(
      (100L, aText), (200L, bText), (300L, cText)
    ).toDF("doc_id", "text")
    ClusterIndex.buildClusterIndex(base, "doc_id", "text", "t_clcp",
      threshold = 0.3, bands = FixtureBands)
    ClusterIndex.appendToClusterIndex(spark, "t_clcp",
      Seq((400L, aText + " " + bText)).toDF("doc_id", "text"),
      "doc_id", "text")
    val before = assignments("t_clcp")
    assert(spark.table("t_clcp_remap").count() > 0, "merge must leave a remap row")
    ClusterIndex.compactClusterIndex(spark, "t_clcp")
    assert(assignments("t_clcp") === before,
      "compaction changed answers")
    assert(spark.table("t_clcp_remap").count() === 0,
      "compaction must empty the remap")
    // members now carry resolved ids directly
    val raw = spark.table("t_clcp_members")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(raw === before, "members must be rewritten at resolved ids")
    // the index keeps working: a post-compaction merge is correct
    ClusterIndex.appendToClusterIndex(spark, "t_clcp",
      Seq((500L, bText + " " + cText)).toDF("doc_id", "text"),
      "doc_id", "text")
    val after = assignments("t_clcp")
    assert(Set(100L, 200L, 300L, 400L, 500L).map(after) === Set(100L))
    assert(after === batchTruth(base
        .union(Seq((400L, aText + " " + bText)).toDF("doc_id", "text"))
        .union(Seq((500L, bText + " " + cText)).toDF("doc_id", "text")),
      threshold = 0.3, bands = FixtureBands))
    cleanup("t_clcp")
  }

  test("torn intent marker refuses reads and appends loudly") {
    cleanup("t_cltorn")
    val d = docs.limit(40).cache(); d.count()
    ClusterIndex.buildClusterIndex(d, "doc_id", "text", "t_cltorn",
      threshold = 0.5)
    spark.range(1).select(lit("x").as("entry"), lit(0L).as("n_docs_before"))
      .write.mode("overwrite").saveAsTable("t_cltorn_intent")
    assert(intercept[IllegalArgumentException] {
      ClusterIndex.resolvedMembers(spark, "t_cltorn")
    }.getMessage.contains("intent"))
    assert(intercept[IllegalArgumentException] {
      ClusterIndex.appendToClusterIndex(spark, "t_cltorn",
        Seq((1L, "a b c")).toDF("doc_id", "text"), "doc_id", "text")
    }.getMessage.contains("intent"))
    cleanup("t_cltorn")
  }

  test("re-submitting an already-clustered doc id is refused loudly") {
    cleanup("t_clre")
    val d = docs.limit(40).cache(); d.count()
    ClusterIndex.buildClusterIndex(d, "doc_id", "text", "t_clre",
      threshold = 0.5)
    assert(intercept[IllegalArgumentException] {
      ClusterIndex.appendToClusterIndex(spark, "t_clre", d.limit(1),
        "doc_id", "text")
    }.getMessage.contains("re-submits"))
    cleanup("t_clre")
  }
}
