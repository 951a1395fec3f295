package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{IndexStore, Similarity}

class IndexStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-idxstore").toString

  test("IVF centroid artifact round-trips bit-for-bit and serves the identical search") {
    val e = Tables.table(spark, TestSpark.sfDir, "embeddings")
    val n = Similarity.suggestedCentroids(e.count())
    val trained = Similarity.trainIvfCentroids(e, n, dim = 64,
      iterations = 1)
    val path = tmpDir() + "/ivf"
    IndexStore.saveIvfCentroids(spark, trained, path)
    assert(IndexStore.exists(path))
    val loaded = IndexStore.loadIvfCentroids(spark, path, n, 64)
    // float32 through parquet must be an exact IEEE round-trip — the
    // whole bit-for-bit reproduction contract rests on this
    assert(loaded.length === trained.length)
    trained.indices.foreach(i => assert(
      loaded(i).map(java.lang.Float.floatToIntBits)
        .sameElements(trained(i).map(java.lang.Float.floatToIntBits)),
      s"centroid $i diverged through the artifact"))
    val a = Similarity.ivfTopK(e, e, k = 1, trained, nProbe = 4)
      .select(col("query_id"), col("id")).orderBy(col("query_id")).collect()
    val b = Similarity.ivfTopK(e, e, k = 1, loaded, nProbe = 4)
      .select(col("query_id"), col("id")).orderBy(col("query_id")).collect()
    assert(a.sameElements(b), "loaded-artifact search diverged from inline-trained")
  }

  test("served IVF-SQ8 search equals inline-trained (centroids are its only model)") {
    val e = Tables.table(spark, TestSpark.sfDir, "embeddings").limit(300)
    val n = 16
    val trained = Similarity.trainIvfCentroids(e, n, dim = 64,
      iterations = 1)
    val base = tmpDir()
    val served = IndexStore.ivfCentroidsCached(e, n, 64, base)
    val a = Similarity.ivfSqTopK(e, e, k = 1, trained, nProbe = 4,
        shortlist = 8)
      .select(col("query_id"), col("id")).orderBy(col("query_id")).collect()
    val b = Similarity.ivfSqTopK(e, e, k = 1, served, nProbe = 4,
        shortlist = 8)
      .select(col("query_id"), col("id")).orderBy(col("query_id")).collect()
    assert(a.sameElements(b), "served IVF-SQ8 diverged from inline-trained")
  }

  test("PQ codebook artifact round-trips bit-for-bit") {
    val e = Tables.table(spark, TestSpark.sfDir, "embeddings").limit(200)
    val cbs = Similarity.trainPqCodebooks(e, m = 8, ksub = 16, dim = 64,
      iterations = 1)
    val path = tmpDir() + "/pq"
    IndexStore.savePqCodebooks(spark, cbs, path)
    val loaded = IndexStore.loadPqCodebooks(spark, path, m = 8, ksub = 16, dsub = 8)
    (0 until 8).foreach(j => (0 until 16).foreach(c => assert(
      loaded(j)(c).map(java.lang.Float.floatToIntBits)
        .sameElements(cbs(j)(c).map(java.lang.Float.floatToIntBits)),
      s"codeword ($j, $c) diverged through the artifact")))
  }

  test("cached path: first call trains and saves, second call serves from the artifact") {
    val e = Tables.table(spark, TestSpark.sfDir, "embeddings").limit(300)
    val base = tmpDir()
    val n = 16
    val first = IndexStore.ivfCentroidsCached(e, n, 64, base)
    // exactly one artifact dir materialized under the base
    val entries = java.nio.file.Files.list(java.nio.file.Paths.get(base))
      .iterator()
    val dirs = Iterator.continually(entries).takeWhile(_.hasNext).map(_.next()).toList
    assert(dirs.size === 1 && IndexStore.exists(dirs.head.toString))
    // tamper-evidence of the KEY: mutate the saved artifact, the next
    // cached call must serve the mutated bytes (proving it did NOT
    // silently retrain) — validation still passes because the mutation
    // is well-formed
    val mutated = first.map(_.clone())
    mutated(0)(0) = mutated(0)(0) + 1.0f
    IndexStore.saveIvfCentroids(spark, mutated, dirs.head.toString)
    val second = IndexStore.ivfCentroidsCached(e, n, 64, base)
    assert(second(0)(0) === first(0)(0) + 1.0f,
      "cached call retrained instead of loading the artifact")
    // and a different corpus misses the cache (fingerprint key)
    IndexStore.ivfCentroidsCached(e.limit(200), 16, 64, base)
    val after = java.nio.file.Files.list(java.nio.file.Paths.get(base))
      .iterator()
    val dirs2 = Iterator.continually(after).takeWhile(_.hasNext).map(_.next()).toList
    assert(dirs2.size === 2, "different corpus must key a different artifact")
  }

  test("fingerprint covers vector CONTENT, not just ids") {
    // the regression that bit: sf0.001 and sf0.01 test tables share the
    // identical vec_id set with different vectors — an id-only key
    // would serve one corpus the other's model
    val a = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val b = Seq((1L, Seq(9.0f, 2.0f)), (2L, Seq(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val fa = IndexStore.corpusFingerprint(a, Seq("vec_id", "embedding"))
    val fb = IndexStore.corpusFingerprint(b, Seq("vec_id", "embedding"))
    assert(fa !== fb, "same ids + different vectors must fingerprint apart")
    // order-independence: a shuffled copy fingerprints identically
    val fa2 = IndexStore.corpusFingerprint(
      a.orderBy(col("vec_id").desc).repartition(7), Seq("vec_id", "embedding"))
    assert(fa === fa2)
  }

  test("BPE merge artifact round-trips in training order and serves identical counts") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val trained = graft.operators.TextAnalysis.trainBpeMerges(docs, "text", 6)
    val path = tmpDir() + "/bpe"
    IndexStore.saveBpeMerges(spark, trained, path)
    val loaded = IndexStore.loadBpeMerges(spark, path)
    assert(loaded === trained.map(_._1), "training order must survive the round trip")
    // cached path: second call must serve the artifact, not retrain
    val base = tmpDir()
    val m1 = IndexStore.bpeMergesCached(docs, "text", 6, base)
    val m2 = IndexStore.bpeMergesCached(docs, "text", 6, base)
    assert(m1 === trained.map(_._1) && m2 === m1)
    // served token counts equal inline-trained counts exactly
    val inline = docs.select(col("doc_id"),
        graft.operators.TextAnalysis.bpeTokenCount(col("text"), trained.map(_._1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val served = docs.select(col("doc_id"),
        graft.operators.TextAnalysis.bpeTokenCount(col("text"), m2).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served === inline)
  }

  test("WordPiece merge artifact: cached serve == inline training, order intact") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val trained = graft.operators.TextAnalysis
      .trainWordpieceMerges(docs, "text", 4)
    val base = tmpDir()
    val m1 = IndexStore.wordpieceMergesCached(docs, "text", 4, base)
    val m2 = IndexStore.wordpieceMergesCached(docs, "text", 4, base)
    assert(m1 === trained.map(_._1), "training order must survive")
    assert(m2 === m1, "second call must serve the artifact")
    // the induced vocab (and so every segmentation) is identical
    val vIn = graft.operators.TextAnalysis
      .wordpieceVocab(docs, "text", trained.map(_._1))
    val vSrv = graft.operators.TextAnalysis
      .wordpieceVocab(docs, "text", m2)
    assert(vSrv === vIn)
  }

  test("unigram vocab artifact round-trips canonically and serves identical cards") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val trained = graft.operators.TextAnalysis.trainUnigramVocab(
      docs, "text", topK = 16, maxPieceLen = 3)
    val path = tmpDir() + "/univoc"
    IndexStore.saveUnigramVocab(spark, trained, path)
    val loaded = IndexStore.loadUnigramVocab(spark, path)
    assert(loaded === trained, "canonical piece order must survive the round trip")
    val base = tmpDir()
    val v1 = IndexStore.unigramVocabCached(docs, "text", 16, 3, base)
    val v2 = IndexStore.unigramVocabCached(docs, "text", 16, 3, base)
    assert(v1 === trained && v2 === v1)
    // different params must NOT alias to the same artifact
    val v3 = IndexStore.unigramVocabCached(docs, "text", 8, 3, base)
    assert(v3.count(_._1.length > 1) <= 8)
    // served piece counts equal inline-trained counts exactly
    val inline = docs.select(col("doc_id"),
        graft.operators.TextAnalysis.unigramTokenCount(col("text"), trained, 3).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val served = docs.select(col("doc_id"),
        graft.operators.TextAnalysis.unigramTokenCount(col("text"), v2, 3).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served === inline)
  }

  test("malformed unigram vocab artifacts fail loudly at load") {
    val path = tmpDir() + "/baduni"
    def write(rows: Seq[(String, Long)]): Unit =
      rows.toDF("piece", "score_micro").write.mode("overwrite").parquet(path)
    write(Seq(("a", -100L), ("a", -200L)))       // duplicate piece
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadUnigramVocab(spark, path)
    }.getMessage.contains("duplicate"))
    write(Seq(("a", 0L)))                        // non-negative score
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadUnigramVocab(spark, path)
    }.getMessage.contains("non-negative"))
    write(Seq(("ab", -100L)))                    // no single-char tier
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadUnigramVocab(spark, path)
    }.getMessage.contains("single-char"))
    write(Seq(("", -100L)))                      // empty piece
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadUnigramVocab(spark, path)
    }.getMessage.contains("empty piece"))
  }

  test("malformed BPE artifacts fail loudly at load") {
    val path = tmpDir() + "/badbpe"
    def write(rows: Seq[(Int, String, Long)]): Unit =
      rows.toDF("rank", "merge", "cnt").write.mode("overwrite").parquet(path)
    val sep = "\u001F"
    // duplicate rank
    write(Seq((0, s"a${sep}b", 3L), (0, s"b${sep}c", 2L)))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadBpeMerges(spark, path)
    }.getMessage.contains("duplicate"))
    // rank hole (out of range)
    write(Seq((0, s"a${sep}b", 3L), (5, s"b${sep}c", 2L)))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadBpeMerges(spark, path)
    }.getMessage.contains("outside"))
    // merge without the separator (cannot come from training)
    write(Seq((0, "ab", 3L)))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadBpeMerges(spark, path)
    }.getMessage.contains("separator"))
    // non-positive count
    write(Seq((0, s"a${sep}b", 0L)))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadBpeMerges(spark, path)
    }.getMessage.contains("count"))
    // empty artifact
    spark.emptyDataFrame.select(lit(0).as("rank"), lit("x").as("merge"),
        lit(1L).as("cnt"))
      .write.mode("overwrite").parquet(path)
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadBpeMerges(spark, path)
    }.getMessage.contains("empty"))
  }

  test("Bloom bit-array artifact round-trips; malformed ones fail loudly") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .filter(col("doc_id") % 20 === 0)
    val m = 1 << 12
    val built = graft.operators.Bloom.buildBloomWords(docs, "text", m, 4, 8)
    val base = tmpDir()
    val w1 = IndexStore.bloomWordsCached(docs, "text", m, 4, 8, base)
    val w2 = IndexStore.bloomWordsCached(docs, "text", m, 4, 8, base)
    assert(w1.toSeq === built.toSeq && w2.toSeq === w1.toSeq)
    val path = tmpDir() + "/badbloom"
    def write(rows: Seq[(Int, Long)]): Unit =
      rows.toDF("w", "bits").write.mode("overwrite").parquet(path)
    // truncated (wrong word count)
    write(Seq((0, 5L)))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadBloomWords(spark, path, 128)
    }.getMessage.contains("words"))
    // duplicate word index
    write(Seq((0, 5L), (0, 6L)))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadBloomWords(spark, path, 128)
    }.getMessage.contains("duplicate"))
    // out-of-range word index
    write(Seq((0, 5L), (7, 6L)))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadBloomWords(spark, path, 128)
    }.getMessage.contains("outside"))
  }

  test("malformed artifacts fail loudly at load") {
    val path = tmpDir() + "/bad"
    def write(rows: Seq[(Int, Seq[Float])]): Unit =
      rows.toDF("cell", "vec").write.mode("overwrite").parquet(path)
    val v = Seq(1.0f, 2.0f)

    // wrong row count
    write(Seq((0, v)))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadIvfCentroids(spark, path, 2, 2)
    }.getMessage.contains("rows"))
    // duplicate cell
    write(Seq((0, v), (0, v)))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadIvfCentroids(spark, path, 2, 2)
    }.getMessage.contains("duplicate"))
    // out-of-range cell
    write(Seq((0, v), (5, v)))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadIvfCentroids(spark, path, 2, 2)
    }.getMessage.contains("outside"))
    // wrong vector width
    write(Seq((0, v), (1, Seq(1.0f))))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadIvfCentroids(spark, path, 2, 2)
    }.getMessage.contains("dim"))
    // non-finite entry
    write(Seq((0, v), (1, Seq(Float.NaN, 1.0f))))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadIvfCentroids(spark, path, 2, 2)
    }.getMessage.contains("non-finite"))
    // PQ: duplicate codeword
    val pqPath = tmpDir() + "/badpq"
    Seq((0, 0, v), (0, 0, v)).toDF("j", "cell", "vec")
      .write.mode("overwrite").parquet(pqPath)
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadPqCodebooks(spark, pqPath, 1, 2, 2)
    }.getMessage.contains("duplicate"))
  }

  test("CMS grid artifact round-trips bit-for-bit and the cached path serves it") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents").limit(200)
    val built = graft.operators.CountMin.cmsCounters(docs, "text", 4, 256)
    val base = tmpDir()
    val g1 = IndexStore.cmsGridCached(docs, "text", 4, 256, base)
    val g2 = IndexStore.cmsGridCached(docs, "text", 4, 256, base)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("j", "pos").collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val truth = built.select(col("j").cast("int"), col("pos"), col("cnt"))
    assert(rows(g1) === rows(truth), "served grid diverged from the built one")
    assert(rows(g2) === rows(g1), "second (cache-hit) load diverged")
  }

  test("malformed CMS grid artifacts fail loudly at load") {
    val path = tmpDir() + "/badcms"
    def write(rows: Seq[(Int, Long, Long)]): Unit =
      rows.toDF("j", "pos", "cnt").write.mode("overwrite").parquet(path)
    // duplicate cell
    write(Seq((1, 0L, 5L), (1, 0L, 6L)))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadCmsGrid(spark, path, 2, 16)
    }.getMessage.contains("duplicate"))
    // row index outside [1, depth]
    write(Seq((0, 0L, 5L)))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadCmsGrid(spark, path, 2, 16)
    }.getMessage.contains("row index"))
    write(Seq((3, 0L, 5L)))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadCmsGrid(spark, path, 2, 16)
    }.getMessage.contains("row index"))
    // position outside [0, width)
    write(Seq((1, 16L, 5L)))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadCmsGrid(spark, path, 2, 16)
    }.getMessage.contains("position"))
    // non-positive count
    write(Seq((1, 0L, 0L)))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadCmsGrid(spark, path, 2, 16)
    }.getMessage.contains("count"))
    // more rows than cells
    write((1 to 2).flatMap(j => (0 until 17).map(p => (j, p.toLong, 1L))))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadCmsGrid(spark, path, 2, 16)
    }.getMessage.toLowerCase.contains("more than"))
    // empty
    spark.emptyDataFrame.select(lit(1).as("j"), lit(0L).as("pos"),
        lit(1L).as("cnt"))
      .write.mode("overwrite").parquet(path)
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadCmsGrid(spark, path, 2, 16)
    }.getMessage.contains("empty"))
  }

  test("HLL register artifact round-trips bit-for-bit and the cached path serves it") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents").limit(200)
    val built = graft.operators.Hll.hllRegisters(docs, "text", 64)
    val base = tmpDir()
    val r1 = IndexStore.hllRegistersCached(docs, "text", 64, base)
    val r2 = IndexStore.hllRegistersCached(docs, "text", 64, base)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("bucket").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    val truth = built.select(col("bucket"), col("mj").cast("int"))
    assert(rows(r1) === rows(truth), "served registers diverged from the built ones")
    assert(rows(r2) === rows(r1), "second (cache-hit) load diverged")
  }

  test("malformed HLL register artifacts fail loudly at load") {
    val path = tmpDir() + "/badhll"
    def write(rows: Seq[(Long, Int)]): Unit =
      rows.toDF("bucket", "mj").write.mode("overwrite").parquet(path)
    // duplicate bucket
    write(Seq((0L, 3), (0L, 4)))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadHllRegisters(spark, path, 16)
    }.getMessage.contains("duplicate"))
    // bucket outside [0, m)
    write(Seq((16L, 3)))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadHllRegisters(spark, path, 16)
    }.getMessage.contains("bucket outside"))
    // rank outside [1, 31]
    write(Seq((0L, 0)))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadHllRegisters(spark, path, 16)
    }.getMessage.contains("rank"))
    write(Seq((0L, 32)))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadHllRegisters(spark, path, 16)
    }.getMessage.contains("rank"))
    // more rows than registers
    write((0 until 17).map(b => (b.toLong, 1)))
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadHllRegisters(spark, path, 16)
    }.getMessage.toLowerCase.contains("more than"))
    // empty
    spark.emptyDataFrame.select(lit(0L).as("bucket"), lit(1).as("mj"))
      .write.mode("overwrite").parquet(path)
    assert(intercept[IllegalArgumentException] {
      IndexStore.loadHllRegisters(spark, path, 16)
    }.getMessage.contains("empty"))
  }
}
