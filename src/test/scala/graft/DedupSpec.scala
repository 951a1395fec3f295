package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Frames}

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("shingles: w-grams over tokens; short text collapses to one shingle") {
    val df = Seq("a b c d", "a b").toDF("t")
      .select(Dedup.shingles(col("t"), 3).as("s"))
    assert(df.collect().map(_.getSeq[String](0)).toSeq ===
      Seq(Seq("a b c", "b c d"), Seq("a b")))
  }

  test("exactDedup keeps lowest id per identical text") {
    val df = Seq((3L, "same"), (1L, "same"), (2L, "other")).toDF("doc_id", "text")
    val out = Dedup.exactDedup(df, "doc_id", "text")
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  test("minhash LSH finds planted near-duplicates and matches exact jaccard") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val nearDup = base.replace("today", "tomorrow")
    val other = "completely different words entirely unrelated content goes here now"
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupPairs(df, "doc_id", "text",
      numHashes = 64, bands = 16, shingleWidth = 3, threshold = 0.3)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
    // exact jaccard of the planted pair: only the final shingle
    // differs -> 10 shared / 12 union
    assert(math.abs(got.head._3 - 10.0 / 12.0) < 1e-12)
  }

  test("prefix-filtered jaccard equals the count-based exact variant") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
    assert(key(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)) ===
      key(Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 3, 0.5)))
  }

  test("df-ordered prefix jaccard equals the count-based exact variant") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
    assert(key(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)) ===
      key(Dedup.ngramJaccardPairsDfOrdered(docs, "doc_id", "text", 3, 0.5)))
    // boundary threshold exactness carries over to the prefix-length
    // computation (10*0.3 rounds up in binary)
    val boundary = Seq((1L, "a b c d e f g h i j"), (2L, "a b c")).toDF("doc_id", "text")
    assert(key(Dedup.ngramJaccardPairsDfOrdered(boundary, "doc_id", "text", 1, 0.3)) ===
      Set((1L, 2L, math.round(0.3 * 1e9))))
  }

  test("minhash on the synthetic corpus agrees with exact ngram-jaccard pairs") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 64, 16, 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // verification step makes LSH ⊆ exact; banding at j>=0.5 with
    // b=16,r=4 catches >99.9% — on this corpus expect full recall
    assert(lsh.subsetOf(exact))
    assert(lsh === exact, s"LSH missed ${exact -- lsh}")
  }

  test("pairEvalReport: candidate recall/precision vs exact truth, integer-exact") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b")
    val cand = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      numHashes = 64, bands = 16, shingleWidth = 3)
    val r = Dedup.pairEvalReport(truth, cand).collect().head
    val (nT, nC, nM) = (r.getLong(0), r.getLong(1), r.getLong(2))
    // independent replay of the set arithmetic
    val tSet = truth.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val cSet = cand.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(nT === tSet.size.toLong)
    assert(nC === cSet.size.toLong)
    assert(nM === (tSet & cSet).size.toLong)
    assert(nT > 0 && nM > 0, "fixture corpus should have true near-dup pairs")
    assert(r.getLong(3) === nM * 1000000L / nT)
    assert(r.getLong(4) === nM * 1000000L / nC)
    // the candidate stage must surface every pair the VERIFIED
    // operator emits (verification only filters candidates)
    val verified = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        64, 16, 3, 0.5)
      .select("id_a", "id_b").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(verified.subsetOf(cSet))
  }

  test("pairEvalReport contract: empty truth loud, empty candidates null precision") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val some = Seq((1L, 2L)).toDF("id_a", "id_b")
    val e = intercept[Exception] {
      Dedup.pairEvalReport(empty, some).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("empty ground-truth pair set")),
      s"expected the raise_error contract message, got: $e")
    val out = Dedup.pairEvalReport(some, empty).collect().head
    assert(out.getLong(0) === 1L && out.getLong(1) === 0L && out.getLong(2) === 0L)
    assert(out.getLong(3) === 0L, "recall over an empty candidate set is 0")
    assert(out.isNullAt(4), "precision over an empty candidate set is NULL")
  }

  test("dedupByNearDupPreferring keeps the best-scored doc per cluster") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today", 10L),
      (2L, "the quick brown fox jumps over the lazy dog again and again tomorrow", 90L),
      (3L, "an unrelated standalone document about something else entirely", 50L)
    ).toDF("doc_id", "text", "score")
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.5)
    val kept = Dedup.dedupByNearDupPreferring(df, "doc_id", pairs, "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // cluster {1,2}: doc 2 wins on score (min-id canonical would keep 1)
    assert(kept === Set(2L, 3L))
    val keptMin = Dedup.dedupByNearDup(df, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptMin === Set(1L, 3L))
  }

  test("incrementalDedup drops exact/near dups vs corpus and within delta") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different historical content nothing like the rest here")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"),  // exact vs corpus
      (11L, "the quick brown fox jumps over the lazy dog again and again tomorrow"), // near vs corpus
      (12L, "a genuinely novel document with entirely fresh words in this delta"),
      (13L, "a genuinely novel document with entirely fresh words in this delta"),   // exact within delta
      (14L, "a genuinely novel document with entirely fresh words in that delta"),   // near within delta
      (15L, "another unrelated survivor speaking about absolutely nothing shared")
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(delta, corpus, "doc_id", "text",
      threshold = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(12L, 15L))
    // cross pairs alone: only between-side pairs, none within
    val cross = Dedup.minhashNearDupPairsCross(delta, corpus, "doc_id", "text",
      threshold = 0.5)
    val pairs = cross.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((10L, 1L), (11L, 1L)))
  }

  test("lshBucketsPoly folds each band's signature rows into one bucket mod 1e9+7") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents").limit(50)
    val (bands, rows) = (4, 3)
    val sig = Dedup.minhashSignature(
      graft.functions.NativeFunctions.polyShingleHashes(Dedup.tokens(col("text")), 3),
      bands * rows)
    val out = docs.select(sig.as("sig"), Dedup.lshBucketsPoly(sig, bands, rows).as("bk"))
      .collect()
    assert(out.length === 50)
    out.foreach { r =>
      val s = r.getSeq[Long](0)
      assert(s.length === bands * rows)
      val want = (0 until bands).map { b =>
        (b, s.slice(b * rows, (b + 1) * rows)
          .foldLeft(0L)((acc, x) => (acc * 1000003L + x) % 1000000007L))
      }
      val got = r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getInt(0), x.getLong(1)))
      assert(got === want)
    }
  }

  test("polyShingleHashes matches the HOF twin (distinct poly hash per shingle)") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val both = docs.select(
      graft.functions.NativeFunctions.polyShingleHashes(Dedup.tokens(col("text")), 3)
        .as("native"),
      array_distinct(transform(Dedup.shingles(col("text"), 3),
        s => graft.functions.NativeFunctions.polyFingerprint(s))).as("hof"))
    both.collect().foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
  }

  test("lineDedup keeps first occurrence per exact line, exempts blanks") {
    val df = Seq(
      (1L, "alpha\n\nshared line\nunique one"),
      (2L, "shared line\n\nbeta"),
      (3L, "shared line")).toDF("doc_id", "text")
    val out = Dedup.lineDedup(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1 owns every one of its lines (first occurrence of "shared line")
    assert(out(1L) === (("alpha\n\nshared line\nunique one", 4L, 4L)))
    // doc 2 loses "shared line" but keeps its blank (exempt) + "beta"
    assert(out(2L) === (("\nbeta", 2L, 3L)))
    // doc 3 was only the duplicated line -> empty
    assert(out(3L) === (("", 0L, 1L)))
  }

  test("minhash agrees with exact ngram-jaccard pairs and values") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    def key(df: org.apache.spark.sql.DataFrame) = df.select("id_a", "id_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
    val exact = key(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5))
    val minhash = key(Dedup.minhashNearDupPairs(docs, "doc_id", "text",
      64, 16, 3, 0.5))
    // poly hashes are distinct per shingle on this corpus, so the
    // verified jaccard VALUES must equal the exact n-gram ones, not
    // just the pair set
    assert(minhash === exact, s"minhash diverged: missed ${exact -- minhash}")
  }

  test("simhash: identical texts hash identically, near-dups are close") {
    val df = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
                 (2L, "alpha beta gamma delta epsilon zeta eta iota"),
                 (3L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val sigs = df.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(3L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(2L)) < 20)
    val pairs = Dedup.simhashNearDupPairs(df, "doc_id", "text", maxDist = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)))
  }

  test("native ShingleHashes matches the HOF formulation (values AND order)") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents").limit(100)
      .select(col("text"))
      .union(Seq("", "one", "one two", "a  b\tc   d").toDF("text"))
    val both = docs.select(
      Dedup.shingleHashes(col("text"), 3).as("native"),
      Dedup.shingleHashesHof(col("text"), 3).as("hof"))
    both.collect().foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
  }

  test("native ShingleStrings matches array_distinct over the HOF shingles") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents").limit(100)
      .select(col("text"))
      .union(Seq("", "one", "one two", "a  b\tc   d").toDF("text"))
    val both = docs.select(
      graft.functions.NativeFunctions.shingleStrings(Dedup.tokens(col("text")), 3).as("native"),
      array_distinct(Dedup.shingles(col("text"), 3)).as("hof"))
    both.collect().foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
  }

  test("native SimHash expression matches the HOF formulation on the corpus") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents").limit(100)
    val both = docs.select(
      Dedup.simhash(col("text")).as("native"),
      Dedup.simhashHof(col("text")).as("hof"))
    both.collect().foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("native MinHashSignature expression matches the HOF formulation") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents").limit(100)
    val base = docs.select(Dedup.shingleHashes(col("text"), 3).as("sh"))
    val both = base.select(
      Dedup.minhashSignature(col("sh"), 64).as("native"),
      Dedup.minhashSignatureHof(col("sh"), 64).as("hof"))
    both.collect().foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
  }

  test("MinHashSignature yields NULL on empty and all-null hash arrays") {
    import graft.functions.NativeFunctions
    val rows = Seq((Seq.empty[Option[Long]], Seq[Option[Long]](None),
        Seq[Option[Long]](None, Some(7L))))
      .toDF("empty", "allnull", "mixed")
      .select(
        NativeFunctions.minhashSignature(col("empty"), 16).as("e"),
        NativeFunctions.minhashSignature(col("allnull"), 16).as("a"),
        NativeFunctions.minhashSignature(col("mixed"), 16).as("m"))
      .head()
    assert(rows.isNullAt(0) && rows.isNullAt(1) && !rows.isNullAt(2))
  }

  test("size-ratio pruning keeps boundary pairs at inexact thresholds (t=0.3)") {
    // |A|=10 distinct 1-shingles, |B|=3 with B subset of A: Jaccard = 3/10 = t
    // exactly; 10*0.3 rounds up in binary, so a biased prune would drop it.
    val df = Seq((1L, "a b c d e f g h i j"), (2L, "a b c")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text",
      shingleWidth = 1, threshold = 0.3).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getDouble(2) === 0.3)
  }

  test("duplicatedSpans finds maximal shared passages, not whole docs") {
    val shared = (1 to 10).map(i => s"tok$i").mkString(" ") // 10 shared tokens
    val docs = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"$shared epsilon zeta eta theta iota kappa"),
      (3L, "totally unrelated words only here and nothing repeats at all")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs, "doc_id", "text", minLen = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the shared run is tokens [2,12) in doc 1 and [0,10) in doc 2:
    // anchors at 2,3,4 and 0,1,2 merge into one 10-token span each;
    // doc 3 has no duplicated 8-window and emits nothing
    assert(spans === Set((1L, 2L, 10L), (2L, 0L, 10L)))
    // below minLen nothing anchors: a 7-token shared run is invisible
    val short7 = (1 to 7).map(i => s"s$i").mkString(" ")
    val docs2 = Seq((1L, s"a b $short7 c"), (2L, s"$short7 x y z w v u t")).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(docs2, "doc_id", "text", minLen = 8).count() === 0L)
  }

  test("spanDedup keeps the globally-first copy of a passage, cuts later ones") {
    val shared = (1 to 10).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"$shared epsilon zeta eta theta iota kappa"),
      (3L, "nothing here repeats anywhere in this corpus at all")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", minLen = 8)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // doc 1 is the first occurrence -> untouched
    assert(out(0) === ((1L, s"alpha beta $shared gamma delta", 14L, 0L)))
    // doc 2's copy is cut; its unique tail survives
    assert(out(1) === ((2L, "epsilon zeta eta theta iota kappa", 6L, 10L)))
    // doc 3 untouched
    assert(out(2)._4 === 0L && out(2)._2.startsWith("nothing"))
  }

  test("leakageSafeSplit never lets a near-dup pair straddle the boundary") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleWidth = 3, threshold = 0.5)
    val out = Dedup.leakageSafeSplit(docs, "doc_id", pairs,
      Seq("train" -> 0.9, "val" -> 0.1))
    val splitOf = out.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val ps = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(ps.nonEmpty, "fixture should contain near-dup pairs")
    ps.foreach { case (a, b) =>
      assert(splitOf(a) === splitOf(b), s"pair ($a,$b) straddles the split")
    }
    // every doc assigned, both splits populated
    assert(splitOf.size === docs.count())
    assert(splitOf.values.toSet === Set("train", "val"))
    // the doc-level hash split DOES leak on this graph (the failure
    // mode this operator exists to prevent) — otherwise the test
    // above is vacuous
    val docLevel = Frames.hashSplit(docs.select(col("doc_id")), "doc_id",
        Seq("train" -> 0.9, "val" -> 0.1))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ps.exists { case (a, b) => docLevel(a) != docLevel(b) },
      "expected at least one leaking pair under the naive doc-level split")
  }

  test("bbitMinhashCard: identical texts estimate exactly 1e6; bounds and determinism") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text")).limit(200)
    val card = Dedup.bbitMinhashCard(docs, "doc_id", "text",
      bits = Seq(4, 1))
    val rows = card.collect()
    assert(rows.nonEmpty, "the corpus carries near-dup candidates")
    rows.foreach { r =>
      Seq("jacc_micro", "est_full_micro", "est_b4_micro", "est_b1_micro")
        .foreach { c =>
          val v = r.getAs[Long](c)
          assert(v >= 0L && v <= 1000000L, s"$c = $v out of [0, 1e6]")
        }
      // compression only ADDS collision noise: b-bit matches can
      // never be fewer than full-width matches, so after the bias
      // correction est_b >= is not guaranteed — but exact 1e6 pairs
      // must survive every width
      if (r.getAs[Long]("jacc_micro") == 1000000L) {
        assert(r.getAs[Long]("est_full_micro") === 1000000L)
        assert(r.getAs[Long]("est_b4_micro") === 1000000L)
        assert(r.getAs[Long]("est_b1_micro") === 1000000L)
      }
    }
    // the full-width estimate tracks exact Jaccard on real pairs
    val mae = rows.map(r => math.abs(r.getAs[Long]("est_full_micro") -
      r.getAs[Long]("jacc_micro"))).sum / rows.length
    assert(mae < 250000L, s"full-minhash MAE $mae too high")
    // deterministic under repartition
    val again = Dedup.bbitMinhashCard(docs.repartition(17), "doc_id", "text",
        bits = Seq(4, 1))
      .collect().map(_.toSeq).toSet
    assert(again === rows.map(_.toSeq).toSet)
  }

  test("windowAnchorHashes: native one-pass anchors == md5/slice/join HOF on real docs and edges") {
    import graft.operators.TextAnalysis
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (900001L, ""), (900002L, "one two"), (900003L, "a b c d e f g h i"),
        (900004L, null.asInstanceOf[String]),
        (900005L, "caf\u00e9 \ud83d\ude00 tok tok tok tok tok tok tok tok"))
        .toDF("doc_id", "text"))
    for (w <- Seq(1, 3, 8)) {
      val ts = TextAnalysis.tokens(col("text"))
      val native = docs.select(col("doc_id"),
          graft.functions.NativeFunctions.windowAnchorHashes(ts, w).as("a"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[String](1).toSeq))
      val hof = docs.select(col("doc_id"),
          Dedup.anchorHashesHof(ts, w).as("a"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[String](1).toSeq))
      assert(native.toSeq === hof.toSeq, s"anchor mismatch at w=$w")
    }
  }
}
