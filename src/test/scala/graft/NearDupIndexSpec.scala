package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Bucketing, Dedup, NearDupIndex}

class NearDupIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cleanup(prefix: String): Unit =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix))
      .foreach(Bucketing.dropTableAndLocation(spark, _))

  private def docs = Tables.table(spark, TestSpark.sfDir, "documents")
    .select(col("doc_id"), col("text"))

  test("from-index gate equals the inline cross-pairs answer row-for-row") {
    val d = docs.limit(300).cache(); d.count()
    val corpus = d.filter(col("doc_id") % 5 =!= 0)
    val delta = d.filter(col("doc_id") % 5 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("delta_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val inline = rows(Dedup.minhashNearDupPairsCross(delta, corpus,
      "doc_id", "text", threshold = 0.5))
    assert(inline.nonEmpty, "test slice produced no near-dup pairs")
    val prefix = NearDupIndex.nearDupIndexCached(corpus, "doc_id", "text")
    val fromIdx = rows(NearDupIndex.gateNearDups(spark, prefix, delta,
      "doc_id", "text", threshold = 0.5))
    assert(fromIdx === inline, "index gate diverged from the inline cross")
    // cache hit serves the same prefix without a rebuild
    assert(NearDupIndex.nearDupIndexCached(corpus, "doc_id", "text") === prefix)
  }

  test("append is invisible: gate over built+appended equals full rebuild") {
    val d = docs.limit(300).cache(); d.count()
    val corpus = d.filter(col("doc_id") % 5 =!= 0)
    val c1 = corpus.filter(col("doc_id") % 4 =!= 1)
    val c2 = corpus.filter(col("doc_id") % 4 === 1)
    val delta = d.filter(col("doc_id") % 5 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("delta_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val merged = NearDupIndex.nearDupAppendCached(c1, c2, "doc_id", "text")
    val full = NearDupIndex.nearDupIndexCached(corpus, "doc_id", "text")
    val a = rows(NearDupIndex.gateNearDups(spark, merged, delta,
      "doc_id", "text", threshold = 0.5))
    val b = rows(NearDupIndex.gateNearDups(spark, full, delta,
      "doc_id", "text", threshold = 0.5))
    assert(a.nonEmpty && a === b, "appended index diverged from the rebuild")
    // idempotent: the delta is in the lineage, a second call is a no-op
    val n1 = spark.table(s"${merged}_sets").count()
    assert(NearDupIndex.nearDupAppendCached(c1, c2, "doc_id", "text") === merged)
    assert(spark.table(s"${merged}_sets").count() === n1)
    // re-submitting an indexed doc id is loud
    assert(intercept[IllegalArgumentException] {
      NearDupIndex.appendToNearDupIndex(spark, merged, c2.limit(1),
        "doc_id", "text")
    }.getMessage.contains("re-submits"))
  }

  test("cached append prefixes are distinct per signature params") {
    val d = docs.limit(40).cache(); d.count()
    val c1 = d.filter(col("doc_id") % 2 === 0)
    val c2 = d.filter(col("doc_id") % 2 === 1)
    // same corpora, different shingleWidth / bands must NOT collide
    // on one cached index (the probe would silently use the first
    // call's hashing)
    val p1 = NearDupIndex.nearDupAppendCached(c1, c2, "doc_id", "text")
    val p2 = NearDupIndex.nearDupAppendCached(c1, c2, "doc_id", "text",
      shingleWidth = 4)
    val p3 = NearDupIndex.nearDupAppendCached(c1, c2, "doc_id", "text",
      bands = 32)
    assert(Set(p1, p2, p3).size === 3,
      "signature params missing from the cache key")
    // and each serves an index whose recorded params match the request
    assert(spark.table(s"${p2}_stats").head().getAs[Int]("shingle_w") === 4)
    assert(spark.table(s"${p3}_stats").head().getAs[Int]("bands") === 32)
  }

  private def digestWords(table: String): Seq[(Long, Long)] =
    // the SEMANTIC digest: appended delta-word rows OR-fold per idx
    // (exactly what the index's own readDigest does)
    spark.table(table).groupBy(col("idx"))
      .agg(bit_or(col("word")).as("word")).orderBy("idx").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("append digest union == fresh-build digest (no resize crossed)") {
    cleanup("ndu"); cleanup("ndv")
    val mk = (a: Long, b: Long) => spark.range(a, b).selectExpr(
      "id as doc_id",
      "concat('alpha w', id, ' beta w', id + 1, ' gamma w', id + 2, ' end') as text")
    val base = mk(0L, 60L); val delta = mk(60L, 90L)
    NearDupIndex.buildNearDupIndex(base, "doc_id", "text", "ndu")
    NearDupIndex.appendToNearDupIndex(spark, "ndu", delta, "doc_id", "text")
    NearDupIndex.buildNearDupIndex(base.unionByName(delta), "doc_id", "text",
      "ndv")
    assert(digestWords("ndu_bkdigest") === digestWords("ndv_bkdigest"),
      "O(delta) OR-union digest diverged from a full rebuild")
    cleanup("ndu"); cleanup("ndv")
  }

  test("append digest across a resize boundary == fresh-build digest") {
    cleanup("ndr"); cleanup("nds")
    // keys = nDocs * bands; bands=64 puts the 2^20 floor's 65536-key
    // boundary at 1024 docs — 1000 base + 200 delta crosses it
    val mk = (a: Long, b: Long) => spark.range(a, b).selectExpr(
      "id as doc_id",
      "concat('tok', id, ' tok', id + 1, ' tok', id + 2, ' tok', id + 3) as text")
    val base = mk(0L, 1000L); val delta = mk(1000L, 1200L)
    NearDupIndex.buildNearDupIndex(base, "doc_id", "text", "ndr",
      numHashes = 64, bands = 64)
    val before = spark.table("ndr_stats").head().getAs[Int]("digest_mbits")
    NearDupIndex.appendToNearDupIndex(spark, "ndr", delta, "doc_id", "text")
    val after = spark.table("ndr_stats").head().getAs[Int]("digest_mbits")
    assert(after === before * 2, s"expected a resize, got $before -> $after")
    NearDupIndex.buildNearDupIndex(base.unionByName(delta), "doc_id", "text",
      "nds", numHashes = 64, bands = 64)
    assert(digestWords("ndr_bkdigest") === digestWords("nds_bkdigest"),
      "resize-boundary rebuild diverged from a fresh build")
    cleanup("ndr"); cleanup("nds")
  }

  test("all-new batch skips the index; empty delta and torn intent are loud") {
    cleanup("ndh")
    NearDupIndex.buildNearDupIndex(
      Seq((1L, "the quick brown fox jumps over the lazy dog today"))
        .toDF("doc_id", "text"),
      "doc_id", "text", "ndh")
    // the all-new fast path is BEHAVIORAL: with the postings and sets
    // tables dropped, a batch whose buckets the digest has never seen
    // still gates (to zero pairs) — the index is never read
    Bucketing.dropTableAndLocation(spark, "ndh_buckets")
    Bucketing.dropTableAndLocation(spark, "ndh_sets")
    val got = NearDupIndex.gateNearDups(spark, "ndh",
      Seq((9L, "completely unrelated words about melon harvesting seasons"))
        .toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5)
    assert(got.count() === 0L)
    assert(intercept[IllegalArgumentException] {
      NearDupIndex.appendToNearDupIndex(spark, "ndh",
        docs.filter(col("doc_id") < 0), "doc_id", "text")
    }.getMessage.contains("delta is empty"))
    spark.range(1).selectExpr("'x' as entry", "0L as n_docs_before")
      .write.mode("overwrite").saveAsTable("ndh_intent")
    assert(intercept[IllegalArgumentException] {
      NearDupIndex.gateNearDups(spark, "ndh",
        Seq((9L, "z")).toDF("doc_id", "text"), "doc_id", "text", 0.5)
    }.getMessage.contains("intent marker"))
    cleanup("ndh")
  }
}
