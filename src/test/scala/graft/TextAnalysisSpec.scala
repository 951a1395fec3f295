package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextAnalysis

class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("tokenCount counts whitespace tokens") {
    val df = Seq("one two  three", " padded ").toDF("t")
      .select(TextAnalysis.tokenCount(col("t")).as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq === Seq(3, 1))
  }

  test("bpeishTokenCount splits letter runs, digits, and marks") {
    val df = Seq("hello world42!").toDF("t")
      .select(TextAnalysis.bpeishTokenCount(col("t")).as("n"))
    // hello, world, 42, ! -> 4
    assert(df.head().getInt(0) === 4)
  }

  test("stopwordRatio and punctRatio compute expected fractions") {
    val df = Seq("the cat sat on a mat.").toDF("t").select(
      TextAnalysis.stopwordRatio(col("t")).as("sw"),
      TextAnalysis.punctRatio(col("t")).as("p"))
    val r = df.head()
    // tokens: the cat sat on a mat. -> 6 tokens, stopwords: the, on, a = 3
    assert(math.abs(r.getDouble(0) - 0.5) < 1e-12)
    assert(r.getDouble(1) > 0.0)
  }

  test("langId detects marker-heavy languages, 'und' without markers") {
    val df = Seq("the cat is in the house and it is fine",
                 "der hund ist nicht mit der katze und das ist gut",
                 "el perro es un animal y la casa es grande",
                 "xyzzy qwerty").toDF("t")
      .select(TextAnalysis.langId(col("t")).as("l"))
    assert(df.collect().map(_.getString(0)).toSeq === Seq("en", "de", "es", "und"))
  }

  test("native langIdFused equals the HOF langId on corpus + edge cases") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .select(col("text"))
      .union(Seq("", "   ", "THE Der el le", "the the der der",
        "mixed the und la dans").toDF("text"))
    val both = docs.select(
      TextAnalysis.langIdFused(col("text")).as("native"),
      TextAnalysis.langId(col("text")).as("hof"))
    both.collect().foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("fingerprint is order-sensitive; winnowing survives local edits") {
    val df = Seq(("a b c d e f g h", 1L), ("b a c d e f g h", 2L)).toDF("t", "id")
      .select(TextAnalysis.fingerprint(col("t")).as("fp"))
    val fps = df.collect().map(_.getLong(0))
    assert(fps(0) !== fps(1))

    val w = Seq("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12",
                "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 CHANGED").toDF("t")
      .select(TextAnalysis.winnowingFingerprints(col("t")).as("w"))
    val sets = w.collect().map(_.getSeq[Long](0).toSet)
    assert((sets(0) intersect sets(1)).nonEmpty)
  }

  test("polyFingerprint matches the portable code-point recurrence") {
    // acc = (acc*1000003 + cp) % 1000000007 over "ab c" = 232211428
    // (same value the DuckDB oracle's list_reduce computes)
    val rows = Seq("ab c", "", "ab d").toDF("t")
      .select(TextAnalysis.polyFingerprint(col("t")).as("fp")).collect()
    assert(rows(0).getLong(0) === 232211428L)
    assert(rows(1).getLong(0) === 0L)
    assert(rows(2).getLong(0) !== rows(0).getLong(0))

    val w = Seq("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12",
                "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 CHANGED").toDF("t")
      .select(TextAnalysis.winnowingFingerprintsPoly(col("t")).as("w"))
    val sets = w.collect().map(_.getSeq[Long](0).toSet)
    assert((sets(0) intersect sets(1)).nonEmpty)
  }

  test("native punctRatio matches the regexp_replace formulation") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents").limit(150)
      .select(col("text"))
      .union(Seq("", "a.b,c!", "no punct here", "[](),-;:!?'\"").toDF("text"))
    docs.select(
      TextAnalysis.punctRatio(col("text")).as("n"),
      TextAnalysis.punctRatioHof(col("text")).as("h"))
      .collect().foreach { r =>
        assert(r.isNullAt(0) === r.isNullAt(1))
        if (!r.isNullAt(0)) assert(r.getDouble(0) === r.getDouble(1))
      }
  }

  test("native regexpCount matches size(regexp_extract_all)") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents").limit(150)
      .select(col("text"))
      .union(Seq("", "a1!  b2?", "...").toDF("text"))
    val both = docs.select(
      TextAnalysis.bpeishTokenCount(col("text")).as("n"),
      TextAnalysis.bpeishTokenCountHof(col("text")).as("h"))
    both.collect().foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("native tokenStats matches the HOF stopword-ratio and mean-length") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents").limit(150)
      .select(col("text"))
      .union(Seq("", "the", "x y the of zz").toDF("text"))
    val both = docs.select(
      TextAnalysis.stopwordRatio(col("text")).as("sr_n"),
      TextAnalysis.stopwordRatioHof(col("text")).as("sr_h"),
      TextAnalysis.meanTokenLen(col("text")).as("ml_n"),
      TextAnalysis.meanTokenLenHof(col("text")).as("ml_h"))
    both.collect().foreach { r =>
      assert(r.getDouble(0) === r.getDouble(1))
      assert(r.getDouble(2) === r.getDouble(3))
    }
  }

  test("native poly winnowing matches the HOF formulation (values AND order)") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents").limit(150)
      .select(col("text"))
      .union(Seq("", "one", "one two three", "a b c d e f").toDF("text"))
    val both = docs.select(
      TextAnalysis.winnowingFingerprintsPoly(col("text")).as("native"),
      TextAnalysis.winnowingFingerprintsPolyHof(col("text")).as("hof"))
    both.collect().foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
  }

  test("qualityScore is within [0, 1.1] and higher for natural text") {
    val df = Seq("the quick brown fox jumps over the lazy dog and it is a fine " +
        "day for running in the park with friends enjoying it all the end of it",
        "spam").toDF("t")
      .select(TextAnalysis.qualityScore(col("t")).as("q"))
    val qs = df.collect().map(_.getDouble(0))
    assert(qs.forall(q => q >= 0.0 && q <= 1.1))
    assert(qs(0) > qs(1))
  }

  test("unigramLogProb: common-token docs score higher than rare-token docs") {
    // "alpha beta" appear in every doc; doc 3 is all hapaxes
    val df = Seq(
      (1L, "alpha beta alpha beta"),
      (2L, "alpha beta gamma delta"),
      (3L, "unique singleton oddity rarity")).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.values.forall(_._1 == 4L))              // 4 tokens each
    val mean = out.map { case (id, (n, s)) => id -> s.toDouble / n }
    assert(mean(1L) > mean(2L) && mean(2L) > mean(3L))
    // exact arithmetic: corpus has alpha=3, beta=3, six hapaxes, 12
    // tokens total -> doc1 = 4*floor(ln(3/12)*1e6), doc3 = 4*floor(ln(1/12)*1e6)
    val lp = (c: Long) => math.floor(math.log(c.toDouble / 12.0) * 1e6).toLong
    assert(out(1L)._2 === 4 * lp(3))
    assert(out(3L)._2 === 4 * lp(1))
  }

  test("trainBpeMerges learns the classic low/lower/lowest merges in order") {
    import graft.operators.TextAnalysis
    val sep = "\u001F"
    // vocab: low x3, lower x1, lowest x1 -> pair counts:
    // (l,o)=5 (o,w)=5 (w,e)=2 (e,r)=1 (e,s)=1 (s,t)=1
    val df = Seq("low lower lowest", "low low").toDF("text")
    val merges = TextAnalysis.trainBpeMerges(df, "text", merges = 4)
    assert(merges.map { case (p, n) => (p.replace(sep, " "), n) } === Seq(
      ("l o", 5L),      // ties with (o,w) at 5; pair-asc tie-break
      ("lo w", 5L),     // after merge, (lo,w) appears 5 times
      ("low e", 2L),    // lower + lowest
      ("lowe r", 1L)))  // three singletons tie; lexicographic
  }

  test("bpeTokenCount applies learned merges (encode side)") {
    import graft.operators.TextAnalysis
    val df = Seq("low lower lowest", "low low").toDF("text")
    val merges = TextAnalysis.trainBpeMerges(df, "text", merges = 4).map(_._1)
    val counts = df.select(TextAnalysis.bpeTokenCount(col("text"), merges).as("n"))
      .collect().map(_.getLong(0)).toSeq
    // low -> [low]; lower -> [lower]; lowest -> [lowe, s, t]
    assert(counts === Seq(1L + 1L + 3L, 2L))
  }

  test("BPE merges match whole symbols only — no boundary-crossing rewrites") {
    import graft.operators.TextAnalysis
    val sep = "\u001F"
    // force merge order (a,l) then (l,o): "al" x20 drives round 1,
    // "lo" x10 drives round 2. In "alo" (= [al, o] after round 1) the
    // substring l<sep>o exists ACROSS the symbol boundary; a naive
    // single-sep replace would fuse it into [alo]
    val df = Seq((("al " * 20) + ("lo " * 10) + "alo").trim).toDF("text")
    val merges = TextAnalysis.trainBpeMerges(df, "text", merges = 2)
    assert(merges.map(_._1.replace(sep, " ")) === Seq("a l", "l o"))
    val segs = df.select(TextAnalysis.bpeSegment(col("text"), merges.map(_._1)).as("s"))
      .head().getSeq[String](0)
    val aloSyms = segs.last.split(java.util.regex.Pattern.quote(sep)).filter(_.nonEmpty).toSeq
    assert(aloSyms === Seq("al", "o"), s"boundary-crossing merge corrupted 'alo': $aloSyms")
  }

  test("native bpeSegment equals the literal-replace chain on real documents") {
    import graft.operators.TextAnalysis
    val docs = Tables.table(TestSpark.spark, TestSpark.sfDir, "documents")
    val merges = TextAnalysis.trainBpeMerges(docs, "text", merges = 6).map(_._1)
    val both = docs.select(col("doc_id"),
        TextAnalysis.bpeSegment(col("text"), merges).as("native"),
        TextAnalysis.bpeSegmentReplace(col("text"), merges).as("chain"))
      .filter(not(col("native") <=> col("chain")))
    assert(both.count() === 0L, "native/replace-chain BPE segmentation diverged")
    // adversarial micro-cases: repeated chars (non-overlap), a merge
    // whose output is a later merge's input, empty text
    val tricky = Seq("aaaa", "abab ab a b", "", "a").toDF("text")
    val m2 = TextAnalysis.trainBpeMerges(tricky, "text", merges = 3).map(_._1)
    val diff = tricky.select(
        TextAnalysis.bpeSegment(col("text"), m2).as("n"),
        TextAnalysis.bpeSegmentReplace(col("text"), m2).as("c"))
      .filter(not(col("n") <=> col("c")))
    assert(diff.count() === 0L)
  }

  test("trainBpeMerges stops early when no pairs remain") {
    import graft.operators.TextAnalysis
    val df = Seq("a b a").toDF("text")  // single-char tokens only
    assert(TextAnalysis.trainBpeMerges(df, "text", merges = 3) === Seq.empty)
  }

  test("gopherSignals: counts and composed pass on crafted edge docs") {
    import graft.operators.TextAnalysis
    val good = (("the and " + "words ") * 20).trim            // 60 words, stopwords, alpha
    val bullets = "- a\n- b\n- c\n* d\n" + ("x " * 60).trim   // 4 bullet lines
    val symbols = ("## ### " * 30).trim                        // all-# words
    val df = Seq((1L, good), (2L, bullets), (3L, symbols)).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextAnalysis.gopherSignals(col("text")).as("g"))
      .orderBy("doc_id").collect()
    val g1 = out(0).getStruct(1)
    assert(g1.getAs[Long]("n_words") === 60L)
    assert(g1.getAs[Long]("n_stop_distinct") === 2L)
    assert(g1.getAs[Boolean]("pass"))
    val g2 = out(1).getStruct(1)
    assert(g2.getAs[Long]("n_bullet_lines") === 4L)
    assert(!g2.getAs[Boolean]("pass"))                         // no stopwords
    val g3 = out(2).getStruct(1)
    assert(g3.getAs[Long]("n_symbol") === 150L)                // 30*(2+3) hashes
    assert(!g3.getAs[Boolean]("pass"))                         // symbol ratio + alpha
  }

  test("perplexityBuckets: per-language terciles, monotone by score, partition-invariant") {
    import graft.operators.TextAnalysis
    val docs = Tables.table(TestSpark.spark, TestSpark.sfDir, "documents")
    val out = TextAnalysis.perplexityBuckets(docs, "doc_id", "text", "lang")
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    // per language: bucket sizes within one histogram-bin of n/3, and
    // bucket assignment monotone in score (tail <= middle <= head)
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val byBucket = rs.groupBy(_._4).view.mapValues(_.length).toMap
      assert(byBucket.keySet.subsetOf(Set("tail", "middle", "head")))
      val tailMax = rs.filter(_._4 == "tail").map(_._3).maxOption
      val midMin = rs.filter(_._4 == "middle").map(_._3).minOption
      val midMax = rs.filter(_._4 == "middle").map(_._3).maxOption
      val headMin = rs.filter(_._4 == "head").map(_._3).minOption
      for (t <- tailMax; m <- midMin) assert(t < m, s"$lang: tail/middle overlap")
      for (m <- midMax; h <- headMin) assert(m < h, s"$lang: middle/head overlap")
      // every tercile within one shared-score run of n/3
      val n = rs.length
      byBucket.get("tail").foreach(c => assert(c >= 1 && c <= n))
    }
    // partitioning cannot change the outcome
    val re = TextAnalysis.perplexityBuckets(docs.repartition(13), "doc_id", "text", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(re.sortBy(_._1).toSeq === rows.sortBy(_._1).toSeq)
  }

  test("dsirLogWeights: target-like raw docs outscore off-target docs; partition-invariant") {
    import graft.operators.TextAnalysis
    val target = Seq(
      (100L, "alpha beta gamma alpha beta"),
      (101L, "beta gamma alpha beta gamma")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "alpha beta gamma alpha beta"),   // looks like the target
      (2L, "zulu yankee xray whiskey victor") // off-target
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dsirLogWeights(raw, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2).toDouble / r.getLong(1)).toMap
    assert(out.size === 2)
    assert(out(1L) > out(2L),
      s"target-like doc should outscore off-target: $out")
    // deterministic under a different partitioning
    val re = TextAnalysis.dsirLogWeights(raw.repartition(7), target.repartition(3),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2).toDouble / r.getLong(1)).toMap
    assert(re === out)
  }

  test("native ShingleBucketCounts cells equal the HOF RLE formulation") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((9001L, ""), (9002L, "one"), (9003L, "a b"),
        (9004L, "x y x y x")).toDF("doc_id", "text"))
    val native = docs.select(col("doc_id").as("id"),
        explode(graft.functions.NativeFunctions.shingleBucketCounts(
          TextAnalysis.tokens(col("text")), 2, 1024)).as("c"))
      .select(col("id"), col("c.b"), col("c.k"))
    val hof = TextAnalysis.dsirCellsHof(docs, "doc_id", "text", 2, 1024)
    // values AND per-doc cell order (both ascending by bucket):
    // collect with a stable (id, b) sort and compare exactly
    val n = native.orderBy(col("id"), col("b")).collect().map(_.toSeq)
    val h = hof.orderBy(col("id"), col("b")).collect().map(_.toSeq)
    assert(n.length === h.length)
    assert(n.toSeq === h.toSeq)
    // occurrence counts, not a set: "x y x y x" -> 4 shingles,
    // "x y" twice and "y x" twice
    val counts = native.filter(col("id") === 9004L).collect()
      .map(_.getLong(2)).sorted.toSeq
    assert(counts === Seq(2L, 2L))
  }

  test("repetitionSignals counts duplicate lines/paras and top n-grams") {
    // 4 non-empty lines, "dup line" twice (1 dup occurrence, 8 dup chars);
    // 2 paragraphs, distinct; top 2-gram "dup line" occurs 2x in the
    // token stream (len 8 -> 16 chars)
    val text = "dup line\ndup line\nother text here\nmore words\n\nsecond para"
    val r = Seq(text).toDF("t")
      .select(TextAnalysis.repetitionSignals(col("t")).as("r"))
      .select("r.*").head()
    assert(r.getAs[Long]("n_lines") === 5)   // 4 from para1 + 1 from para2
    assert(r.getAs[Long]("dup_line_cnt") === 1)
    assert(r.getAs[Long]("dup_line_chars") === 8)
    assert(r.getAs[Long]("n_paras") === 2)
    assert(r.getAs[Long]("dup_para_cnt") === 0)
    // tokens: dup line dup line other text here more words second para
    // "dup line" appears twice; every other 2-gram once -> top2 = 2*8
    assert(r.getAs[Long]("top2_chars") === 16)
    // 16/57 chars = 28% in the top 2-gram > the 20% gate
    assert(!r.getAs[Boolean]("pass"))
    // a long all-unique doc passes every rule
    val clean = (1 to 40).map(i => s"unique$i word$i").mkString(" ")
    val c = Seq(clean).toDF("t")
      .select(TextAnalysis.repetitionSignals(col("t")).as("r"))
      .select("r.*").head()
    assert(c.getAs[Long]("dup_line_cnt") === 0)
    assert(c.getAs[Long]("dup5_occ") === 0)
    assert(c.getAs[Boolean]("pass"))
  }

  test("repetitionSignals flags a pathologically repetitive doc") {
    val bad = Array.fill(30)("spam spam spam").mkString("\n")
    val r = Seq(bad).toDF("t")
      .select(TextAnalysis.repetitionSignals(col("t")).as("r"))
      .select("r.*").head()
    assert(r.getAs[Long]("dup_line_cnt") === 29)
    assert(!r.getAs[Boolean]("pass"))
    // empty doc: all-zero signals, passes (nothing repeated)
    val z = Seq("").toDF("t")
      .select(TextAnalysis.repetitionSignals(col("t")).as("r"))
      .select("r.*").head()
    assert(z.getAs[Long]("n_lines") === 0)
    assert(z.getAs[Long]("top2_chars") === 0)
    assert(z.getAs[Boolean]("pass"))
  }

  test("topElement tie-breaks to the lexicographically smallest") {
    // "a b" and "b a" both occur twice in: a b a b a -> grams
    // [a b, b a, a b, b a] -> tie at 2, smallest wins in top2_chars
    val r = Seq("a b a b a").toDF("t")
      .select(TextAnalysis.repetitionSignals(col("t")).as("r"))
      .select("r.*").head()
    // top gram is "a b" (2 occurrences x 3 chars)
    assert(r.getAs[Long]("top2_chars") === 6)
  }

  test("native repetitionSignals equals the HOF twin on corpus + edge docs") {
    // edge docs target every divergence risk between the two builds:
    // space-only trim (tabs survive), \n\n para split vs lone blank
    // lines, multi-space token gaps, gram-count ties (lexicographic
    // tie-break), sub-n-token docs, and a non-BMP char (UTF-8 byte
    // order == code-point order; UTF-16 comparison would misorder it)
    val edges = Seq("", " ", "\t", "a", "a b", "one two one two one",
      "x\n\nx\n\nx", "  padded  \n\tpadded\npadded",
      "b a b a b", "😀 z 😀 z 😀",
      "l1\nl1\n\nl1\nl2\n\n\nl3", "w1 w2  w3\tw4\nw5")
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .select(col("text"))
      .union(edges.toDF("text"))
    val both = docs.select(
      TextAnalysis.repetitionSignals(col("text")).as("n"),
      TextAnalysis.repetitionSignalsHof(col("text")).as("h"))
    both.collect().foreach { r =>
      assert(r.getStruct(0) === r.getStruct(1), s"diverged on: $r")
    }
  }

  test("piiRedact masks emails, IPv4s, phones and counts them") {
    val r = Seq("mail bob.smith+x@corp.example.org from 192.168.0.1 " +
        "or call 555-123-4567 twice 555 987 6543")
      .toDF("t").select(TextAnalysis.piiRedact(col("t")).as("p"))
      .select("p.*").head()
    assert(r.getAs[String]("redacted") ===
      "mail <EMAIL> from <IP> or call <PHONE> twice <PHONE>")
    assert(r.getAs[Long]("n_emails") === 1)
    assert(r.getAs[Long]("n_ipv4") === 1)
    assert(r.getAs[Long]("n_phones") === 2)
    // a dotted phone is NOT an IPv4 (needs 4 octets) and redacts as phone
    val r2 = Seq("call 555.123.4567 now").toDF("t")
      .select(TextAnalysis.piiRedact(col("t")).as("p")).select("p.*").head()
    assert(r2.getAs[String]("redacted") === "call <PHONE> now")
    assert(r2.getAs[Long]("n_ipv4") === 0)
  }

  test("bigramLogProb equals an independent JVM replay on a tiny corpus") {
    val docs = Seq((1L, "a b a"), (2L, "b a"), (3L, "solo"), (4L, ""))
      .toDF("doc_id", "text")
    // corpus model: uni a:3 b:2 solo:1 (V=3); bigrams (a,b):1 (b,a):2
    val V = 3L
    def lp(c12: Long, c1: Long): Long =
      math.floor(math.log((c12 + 1).toDouble / (c1 + V).toDouble) * 1e6).toLong
    val expected = Map(
      1L -> (2L, lp(1, 3) + lp(2, 2)), // (a,b) then (b,a)
      2L -> (1L, lp(2, 2)))            // (b,a)
    val rows = TextAnalysis.bigramLogProb(docs, "doc_id", "text")
      .orderBy(col("id")).collect()
    // docs 3 (one token) and 4 (empty) have no bigrams -> no row
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    rows.foreach { r =>
      val (n, s) = expected(r.getLong(0))
      assert(r.getAs[Long]("n_bigrams") === n)
      assert(r.getAs[Long]("sum_lp_micro") === s)
    }
    // likelihood ordering: a doc made of corpus-frequent bigrams
    // outscores (per bigram) one made of unseen pairs
    val corpus = (1 to 20).map(i => (i.toLong, "x y x y x y")) :+ (99L, "q z")
    val sc = TextAnalysis.bigramLogProb(corpus.toDF("doc_id", "text"),
        "doc_id", "text")
      .withColumn("per_bg", col("sum_lp_micro") / col("n_bigrams"))
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("per_bg")).toMap
    assert(sc(1L) > sc(99L))
  }

  test("bigramLogProbInterp equals an independent JVM replay; lambda edges") {
    val docs = Seq((1L, "a b a"), (2L, "b a"), (3L, "solo"), (4L, ""))
      .toDF("doc_id", "text")
    // corpus: uni a:3 b:2 solo:1, total=6; bigrams (a,b):1 (b,a):2
    def lpInterp(c12: Long, c1: Long, c2: Long,
                 lNum: Long, lDen: Long): Long = {
      val p1m = c12 * 1000000L / c1
      val p2m = c2 * 1000000L / 6L
      val pim = math.max((lNum * p1m + (lDen - lNum) * p2m) / lDen, 1L)
      math.floor(math.log(pim.toDouble / 1e6) * 1e6).toLong
    }
    def run(lNum: Long, lDen: Long) =
      TextAnalysis.bigramLogProbInterp(docs, "doc_id", "text", lNum, lDen)
        .orderBy(col("id")).collect()
        .map(r => r.getLong(0) ->
          (r.getAs[Long]("n_bigrams"), r.getAs[Long]("sum_lp_micro"))).toMap
    // default-shape λ=3/4
    val r34 = run(3L, 4L)
    assert(r34.keySet === Set(1L, 2L))  // <2-token docs: no row
    assert(r34(1L) === ((2L,
      lpInterp(1, 3, 2, 3, 4) + lpInterp(2, 2, 3, 3, 4))))
    assert(r34(2L) === ((1L, lpInterp(2, 2, 3, 3, 4))))
    // λ=1: pure ML bigram; λ=0: pure unigram continuation
    assert(run(1L, 1L)(2L)._2 === lpInterp(2, 2, 3, 1, 1))
    assert(run(0L, 4L)(2L)._2 === lpInterp(2, 2, 3, 0, 4))
    // the unigram fallback keeps UNSEEN continuations finite: a test
    // doc whose bigrams never occur in corpus still gets the p2m
    // term, while rarer continuations score lower than frequent ones
    val corpus = ((1 to 20).map(i => (i.toLong, "x y x y x y"))
      :+ (99L, "q z")).toDF("doc_id", "text")
    val per = TextAnalysis.bigramLogProbInterp(corpus, "doc_id", "text")
      .withColumn("per_bg", col("sum_lp_micro") / col("n_bigrams"))
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("per_bg")).toMap
    assert(per(1L) > per(99L))
  }

  test("bigramLogProbKN equals an independent JVM replay; continuation property") {
    val docs = Seq((1L, "a b a"), (2L, "b a"), (3L, "solo"), (4L, ""))
      .toDF("doc_id", "text")
    // corpus: uni a:3 b:2 solo:1; bc (a,b):1 (b,a):2; nTypes=2;
    // followers a->1 b->1; predecessors b->1 a->1
    def lpKN(c12: Long, c1: Long, n1fw: Long, n1bw: Long, nTypes: Long): Long = {
      val d = 750000L
      val term1 = math.max((c12 * 1000000L - d) / c1, 0L)
      val lam = d * n1fw / c1
      val pcont = n1bw * 1000000L / nTypes
      val pkn = math.max(term1 + lam * pcont / 1000000L, 1L)
      math.floor(math.log(pkn.toDouble / 1e6) * 1e6).toLong
    }
    val rows = TextAnalysis.bigramLogProbKN(docs, "doc_id", "text")
      .orderBy(col("id")).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("sum_lp_micro"))).toMap
    assert(rows.keySet === Set(1L, 2L))  // <2-token docs: no row
    val ab = lpKN(1, 3, 1, 1, 2)
    val ba = lpKN(2, 2, 1, 1, 2)
    assert(rows(1L) === ((2L, ab + ba)))
    assert(rows(2L) === ((1L, ba)))
    // the Kneser–Ney continuation property: two probe bigrams with
    // IDENTICAL ML statistics (same c12, same context count) score
    // differently because 'm' completes four distinct contexts while
    // 'f' completes two — raw frequency alone cannot separate them
    val corpus = ((1 to 10).map(i => (i.toLong, "a m b m c m"))
      ++ (11 to 20).map(i => (i.toLong, "s f s f s f"))
      ++ Seq((98L, "x m"), (99L, "x f"))).toDF("doc_id", "text")
    val per = TextAnalysis.bigramLogProbKN(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("sum_lp_micro")).toMap
    assert(per(98L) > per(99L),
      s"diverse-context continuation must outscore the bound one: $per")
  }

  test("hashedLinearScore equals an independent JVM replay") {
    import graft.functions.SketchExpressions.polyFold
    val ws = TextAnalysis.demoQualityWeights(256)
    // weight vector sanity: closed form, zero-mean-ish, deterministic
    assert(ws.length === 256 && ws.min < 0L && ws.max > 0L)
    assert(ws(0) === (2654435761L % 1000003L) - 500001L)
    val docs = Seq("the quick brown fox", "", "   ", "a a a",
      "\tweird  spacing\n", "😀 unicode test")
    def replay(t: String): (Long, Long) = {
      val toks = t.split("\\s+").filter(_.nonEmpty)
      val score = toks.map(tok => ws((polyFold(tok, 1000003L) % 256L).toInt)).sum
      (toks.length.toLong, score)
    }
    val got = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val rows = TextAnalysis.hashedLinearScore(got, "doc_id", "text",
        ws, bias = 0L)
      .orderBy(col("id")).collect()
    rows.zip(docs).foreach { case (r, t) =>
      val (n, s) = replay(t)
      assert(r.getAs[Long]("n_tokens") === n, s"n_tokens for '$t'")
      assert(r.getAs[Long]("score") === s, s"score for '$t'")
      assert(r.getAs[Boolean]("keep") === (s >= 0L))
    }
    // a doc stuffed with one known-positive-weight token scores
    // monotonically higher with each repetition
    val posTok = "qualitytoken"
    val w = ws((polyFold(posTok, 1000003L) % 256L).toInt)
    val rep = Seq((1L, posTok), (2L, s"$posTok $posTok"))
      .toDF("doc_id", "text")
    val sc = TextAnalysis.hashedLinearScore(rep, "doc_id", "text", ws)
      .orderBy(col("id")).collect().map(_.getAs[Long]("score"))
    assert(sc(1) - sc(0) === w)
  }

  test("trainBucketWeights -> parquet artifact -> loadWeights round-trips") {
    import graft.functions.SketchExpressions.polyFold
    val docs = Seq(
      (1L, "good clean prose text", "en"), (2L, "more good text here", "en"),
      (3L, "ruido basura texto", "es"), (4L, "schlechter inhalt", "de"),
      (5L, "", "en"))
      .toDF("doc_id", "text", "lang")
    val artifact = TextAnalysis.trainBucketWeights(docs, "text",
      col("lang") === "en", 64)
    // weights are the signed occurrence balance per bucket: replay in
    // plain JVM code
    val expect = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    Seq(("good clean prose text", 1L), ("more good text here", 1L),
      ("ruido basura texto", -1L), ("schlechter inhalt", -1L))
      .foreach { case (t, s) =>
        t.split("\\s+").filter(_.nonEmpty).foreach { tok =>
          val b = (polyFold(tok, 1000003L) % 64L).toInt
          expect(b) = expect(b) + s
        }
      }
    val trained = artifact.collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    assert(trained === expect.toMap, s"trained=$trained expect=$expect")
    // the artifact path a real deployment takes: write parquet, read
    // it back, load — scores must be identical to the direct frame
    val dir = java.nio.file.Files.createTempDirectory("graft-model").toString
    artifact.write.mode("overwrite").parquet(dir)
    val wsDirect = TextAnalysis.loadWeights(artifact, 64)
    val wsParquet = TextAnalysis.loadWeights(spark.read.parquet(dir), 64)
    assert(wsDirect.toSeq === wsParquet.toSeq)
    val s1 = TextAnalysis.hashedLinearScore(docs, "doc_id", "text", wsParquet)
      .orderBy(col("id")).collect().map(_.getAs[Long]("score")).toSeq
    val s2 = TextAnalysis.hashedLinearScore(docs, "doc_id", "text", wsDirect)
      .orderBy(col("id")).collect().map(_.getAs[Long]("score")).toSeq
    assert(s1 === s2)
    // the trained scorer actually learned the seed signal: every
    // training doc is classified to its own side (tiny corpus, but a
    // sign flip here means the train/infer hash paths diverged)
    val scored = TextAnalysis.hashedLinearScore(docs, "doc_id", "text", wsDirect)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("score")).toMap
    assert(scored(1L) > 0L && scored(2L) > 0L)
    assert(scored(3L) < 0L && scored(4L) < 0L)
    assert(scored(5L) === 0L)  // empty doc scores the bias exactly
  }

  test("scoreThresholdSweep: PR table matches a plain JVM replay on the corpus") {
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val artifact = TextAnalysis.trainBucketWeights(docs, "text",
      col("lang") === "en", 256)
    val ws = TextAnalysis.loadWeights(artifact, 256)
    val scored = TextAnalysis.hashedLinearScore(docs, "doc_id", "text", ws)
      .join(docs.select(col("doc_id").as("id"),
        (col("lang") === "en").as("label")), Seq("id"))
    val out = TextAnalysis.scoreThresholdSweep(scored, "score", "label", 9)
      .orderBy(col("threshold")).collect()
    // independent replay: collect (score, label), rebuild the grid and
    // every count in plain Scala
    val sl = scored.select(col("score"), col("label")).collect()
      .map(r => (r.getLong(0), r.getBoolean(1)))
    val (smin, smax) = (sl.map(_._1).min, sl.map(_._1).max)
    val nPos = sl.count(_._2).toLong
    assert(nPos > 0, "fixture corpus needs en docs")
    val thresholds = (1 to 9)
      .map(k => smin + Math.floorDiv((smax - smin) * k, 10L)).distinct.sorted
    assert(out.map(_.getLong(0)).toSeq === thresholds)
    out.foreach { r =>
      val thr = r.getLong(0)
      val pred = sl.count(_._1 >= thr).toLong
      val tp = sl.count(p => p._1 >= thr && p._2).toLong
      assert(r.getLong(1) === nPos)
      assert(r.getLong(2) === pred)
      assert(r.getLong(3) === tp)
      if (pred == 0) assert(r.isNullAt(4))
      else assert(r.getLong(4) === tp * 1000000L / pred)
      assert(r.getLong(5) === tp * 1000000L / nPos)
      assert(r.getLong(6) === 2L * tp * 1000000L / (pred + nPos))
    }
    // recall is monotone non-increasing in the threshold; at the
    // lowest interior threshold someone must clear the bar
    val recalls = out.map(_.getLong(5)).toSeq
    assert(recalls === recalls.sorted.reverse)
    assert(out.head.getLong(2) > 0)
  }

  test("scoreThresholdSweep fails loudly when the panel has no positives") {
    val scored = Seq((1L, false), (-2L, false)).toDF("score", "label")
    val e = intercept[Exception] {
      TextAnalysis.scoreThresholdSweep(scored).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("no positive labels")),
      s"expected the raise_error contract message, got: $e")
    // constant-score panel: the 9-cut grid collapses to ONE distinct
    // threshold (smin = smax), not 9 duplicate rows
    val const = Seq((5L, true), (5L, false), (5L, true)).toDF("score", "label")
    val rows = TextAnalysis.scoreThresholdSweep(const).collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(0) === 5L)
    assert(rows.head.getLong(2) === 3L && rows.head.getLong(3) === 2L)
  }

  test("loadWeights fails loudly on malformed model artifacts") {
    val ok = Seq((0L, 5L), (3L, -2L)).toDF("bucket", "weight")
    val ws = TextAnalysis.loadWeights(ok, 4)
    assert(ws.toSeq === Seq(5L, 0L, 0L, -2L))  // missing buckets -> 0
    def boom(rows: Seq[(java.lang.Long, java.lang.Long)]): String =
      intercept[IllegalArgumentException] {
        TextAnalysis.loadWeights(
          rows.toDF("bucket", "weight"), 4)
      }.getMessage
    assert(boom(Seq((4L: java.lang.Long, 1L: java.lang.Long))).contains("outside"))
    assert(boom(Seq((-1L: java.lang.Long, 1L: java.lang.Long))).contains("outside"))
    assert(boom(Seq((1L: java.lang.Long, 1L: java.lang.Long),
      (1L: java.lang.Long, 2L: java.lang.Long))).contains("duplicate"))
    assert(boom(Seq((null: java.lang.Long, 1L: java.lang.Long))).contains("null"))
  }

  test("sourceHealthReport counts docs/dups/PII/quality/langs per source") {
    import graft.functions.SketchExpressions.polyFold
    val ws = TextAnalysis.demoQualityWeights(256)
    def score(t: String): Long =
      t.split("\\s+").filter(_.nonEmpty)
        .map(tok => ws((polyFold(tok, 1000003L) % 256L).toInt)).sum
    val docs = Seq(
      (1L, "shared text", "web", "en"),
      (2L, "shared text", "books", "en"), // cross-source exact dup: flags BOTH
      (3L, "unique a", "web", "fr"),
      (4L, "mail me x@y.com now", "web", "en"),
      (5L, "", "books", "en"))
    val r = TextAnalysis.sourceHealthReport(
        docs.toDF("doc_id", "text", "source", "lang"),
        "doc_id", "text", "source", "lang", ws)
      .orderBy(col("source")).collect()
    assert(r.map(_.getString(0)).toSeq === Seq("books", "web"))
    val books = r(0); val web = r(1)
    assert(web.getAs[Long]("n_docs") === 3)
    assert(web.getAs[Long]("n_tokens") === 8) // 2 + 2 + 4
    assert(web.getAs[Long]("n_dup_docs") === 1) // doc 1 (dup of books' doc 2)
    assert(web.getAs[Long]("n_pii_docs") === 1) // the email doc
    assert(web.getAs[Long]("n_langs") === 2)
    assert(books.getAs[Long]("n_docs") === 2)
    assert(books.getAs[Long]("n_tokens") === 2) // empty doc adds 0
    assert(books.getAs[Long]("n_dup_docs") === 1) // doc 2
    assert(books.getAs[Long]("n_pii_docs") === 0)
    assert(books.getAs[Long]("n_langs") === 1)
    // quality keep counts replay exactly (empty doc scores 0 -> kept)
    def keeps(ds: Seq[(Long, String, String, String)]) =
      ds.count(d => score(d._2) >= 0L).toLong
    assert(web.getAs[Long]("n_keep_quality") ===
      keeps(docs.filter(_._3 == "web")))
    assert(books.getAs[Long]("n_keep_quality") ===
      keeps(docs.filter(_._3 == "books")))
  }

  test("sourceTermDrift: single source diverges zero; disjoint sources diverge hard") {
    // one source == the corpus: every per-term ratio is exactly 1,
    // ln 1 = 0, so js_micro is EXACTLY zero (not merely small)
    val one = Seq((1L, "a b c a", "web"), (2L, "b c d", "web"))
      .toDF("doc_id", "text", "source")
    val r1 = TextAnalysis.sourceTermDrift(one, "source", "text").collect()
    assert(r1.length === 1)
    assert(r1(0).getAs[Long]("n_tokens") === 7L)
    assert(r1(0).getAs[Long]("js_micro") === 0L)

    // disjoint vocabularies, equal sizes: JS(source, corpus) per
    // source is 0.5*ln(4/3) + 0.25*ln(2/3) + 0.25*ln(2) ~ 0.21576
    val two = Seq((1L, "x x y y", "a"), (2L, "u u v v", "b"))
      .toDF("doc_id", "text", "source")
    val r2 = TextAnalysis.sourceTermDrift(two, "source", "text")
      .orderBy(col("source")).collect()
    val expected = 0.5 * math.log(4.0 / 3.0) + 0.25 * math.log(2.0 / 3.0) +
      0.25 * math.log(2.0)
    r2.foreach { r =>
      val js = r.getAs[Long]("js_micro").toDouble / 1e6
      assert(math.abs(js - expected) < 1e-4,
        s"${r.getString(0)}: js $js vs $expected")
    }

    // non-negativity on real corpus data + bounded by ln 2
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val rs = TextAnalysis.sourceTermDrift(docs, "source", "text", topK = 64)
      .collect()
    assert(rs.nonEmpty)
    rs.foreach { r =>
      val js = r.getAs[Long]("js_micro")
      // sum-of-floors can dip a hair below the true non-negative value
      assert(js >= -300 && js <= 693148, s"js_micro $js out of [0, ln2] band")
    }
  }

  test("sourceTermDrift <rest> bucket closes the distributions exactly") {
    // topK=1 forces almost everything into <rest>; totals must still
    // balance: the operator's counts are a true partition of tokens
    val docs = Seq((1L, "a a b", "s1"), (2L, "a c c c", "s2"))
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.sourceTermDrift(docs, "source", "text", topK = 1)
      .orderBy(col("source")).collect()
    assert(r.map(_.getAs[Long]("n_tokens")).toSeq === Seq(3L, 4L))
    // divergence still well-defined and positive (sources differ)
    assert(r.forall(_.getAs[Long]("js_micro") > 0L))
  }

  test("termDriftBetween: identical snapshots diverge exactly zero; disjoint near ln2") {
    val a = Seq((1L, "a b c a"), (2L, "b c d")).toDF("doc_id", "text")
    val same = TextAnalysis.termDriftBetween(a, a, "text").collect()
    assert(same.length === 1)
    assert(same(0).getAs[Long]("n_tokens_a") === 7L)
    assert(same(0).getAs[Long]("n_tokens_b") === 7L)
    assert(same(0).getAs[Long]("js_micro") === 0L)

    // fully disjoint vocabularies: JS(P, Q) = ln 2 exactly in the
    // continuous limit; sum-of-floors can undershoot by < 1e-6/term
    val b = Seq((1L, "x y z x"), (2L, "y z w")).toDF("doc_id", "text")
    val diff = TextAnalysis.termDriftBetween(a, b, "text").collect()
    val js = diff(0).getAs[Long]("js_micro").toDouble / 1e6
    assert(math.abs(js - math.log(2.0)) < 1e-4, s"disjoint js $js vs ln2")

    // symmetry: JS(A,B) == JS(B,A) (the micro floors see mirrored
    // term pairs, so the sums match exactly)
    val rev = TextAnalysis.termDriftBetween(b, a, "text").collect()
    assert(rev(0).getAs[Long]("js_micro") === diff(0).getAs[Long]("js_micro"))
    spark.sharedState.cacheManager.clearCache()
  }

  test("chunkByTokens covers every token with ragged last window") {
    val docs = Seq((1L, (1 to 100).map(i => s"t$i").mkString(" ")),
                   (2L, "a b c"), (3L, "   ")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkByTokens(docs, "doc_id", "text", 64, 48)
      .orderBy(col("id"), col("chunk_id")).collect()
    // doc 1: 100 tokens -> chunks at 0 (64 toks) and 48 (52 toks)
    // doc 2: 1 chunk of 3; doc 3: empty -> no chunks
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq ===
      Seq((1L, 0L, 64L), (1L, 1L, 52L), (2L, 0L, 3L)))
    val c1 = out(1).getString(2).split(" ")
    assert(c1.head === "t49" && c1.last === "t100")
    // stride == window -> disjoint cover
    val disjoint = TextAnalysis.chunkByTokens(docs, "doc_id", "text", 50, 50)
      .agg(sum(col("n_tokens"))).head().getLong(0)
    assert(disjoint === 103)
  }

  test("bpe fertility query: zero BPE-token sources emit NULL ratio, not an error") {
    import spark.implicits._
    // a source whose every doc segments to zero BPE tokens (empty
    // text): the chars-per-bpe ratio must be NULL by contract — the
    // guarded-div discipline from the recallReport advice class
    val dir = java.nio.file.Files.createTempDirectory("fertility").toString
    Seq((0L, "key agg row scan slow fast", "en", "srcA", 26L),
        (1L, "", "en", "srcB", 0L),
        (2L, "", "en", "srcB", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("text_bpe_fertility")(spark, dir)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("srcA", "srcB"))
    // srcA: real ratios, both defined
    assert(!out("srcA").isNullAt(5) && !out("srcA").isNullAt(6))
    assert(out("srcA").getLong(3) > 0)
    // srcB: the empty-string token still counts one word (split
    // contract) but zero BPE symbols -> fertility 0, chars ratio NULL
    assert(out("srcB").getLong(2) === 2L && out("srcB").getLong(3) === 0L)
    assert(out("srcB").getLong(5) === 0L)
    assert(out("srcB").isNullAt(6))
  }

  test("vocabCoverage: exact per-source OOV occurrence rates") {
    val docs = Seq(
      ("a", "x x y z"),   // 4 occurrences, 1 oov (z)
      ("a", "x q"),       // q oov
      ("b", "y y y"),     // all in vocab
      ("c", "w w w w")    // all oov
    ).toDF("source", "text")
    val vocab = Seq("x", "y", "q_not", "unused").toDF("token")
      .filter(col("token") =!= "q_not").union(Seq("x").toDF("token")) // dup x: distinct inside
    val out = TextAnalysis.vocabCoverage(docs, "source", "text", vocab)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(out("a") === ((6L, 2L, 333333L)))
    assert(out("b") === ((3L, 0L, 0L)))
    assert(out("c") === ((4L, 4L, 1000000L)))
    // vocab missing the token column is loud
    assert(intercept[IllegalArgumentException] {
      TextAnalysis.vocabCoverage(docs, "source", "text",
        Seq("x").toDF("word"))
    }.getMessage.contains("token"))
  }

  test("pmiCollocations: exact JVM replay; collocations outrank chance pairs") {
    // crafted corpus: "new york" always adjacent (true collocation);
    // "the"/"cat" frequent but independently placed
    val docs = Seq(
      "new york is big and the cat sat",
      "the dog saw new york from the hill",
      "a cat and the bird left new york today",
      "the cat ran while new york slept"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextAnalysis.pmiCollocations(docs, "text", topN = 50)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // JVM replay
    val toksPerDoc = docs.collect().map(_.getString(1).trim.split("\\s+")
      .filter(_.nonEmpty).toSeq)
    val uni = toksPerDoc.flatten.groupBy(identity)
      .map { case (w, g) => w -> g.length.toLong }
    val pairs = toksPerDoc.flatMap(ts => ts.zip(ts.drop(1)))
      .groupBy(identity).map { case (p, g) => p -> g.length.toLong }
    val nTok = uni.values.sum; val nPairs = pairs.values.sum
    def mu(x: Long) = math.floor(math.log(x.toDouble) * 1e6).toLong
    pairs.foreach { case ((a, b), c) =>
      val want = (c, uni(a), uni(b),
        mu(c) + 2 * mu(nTok) - mu(nPairs) - mu(uni(a)) - mu(uni(b)))
      assert(got((a, b)) === want, s"pair ($a,$b)")
    }
    // the true collocation scores far above a chance co-occurrence
    assert(got(("new", "york"))._4 > got(("the", "cat"))._4 + 500000L,
      "adjacent-by-construction pair must outrank chance pairs by >0.5 nat")
    // topN cut is honored and ordered by count
    val top2 = TextAnalysis.pmiCollocations(docs, "text", topN = 2)
      .collect().map(r => r.getLong(2)).toSeq
    assert(top2.length === 2 && top2 === top2.sorted.reverse)
  }

  test("zipfSlopeCard: exact JVM replay; ideal Zipf corpus slopes to -1000") {
    // exact replay on corpus docs
    val docs = Tables.table(spark, TestSpark.sfDir, "documents").limit(200)
      .select("doc_id", "text")
    val got = TextAnalysis.zipfSlopeCard(docs, "text").head()
    val freqs = docs.collect()
      .flatMap(r => Option(r.getString(1)).toSeq
        .flatMap(_.trim.split("\\s+").filter(_.nonEmpty)))
      .groupBy(identity).map { case (t, g) => (t, g.length.toLong) }.toSeq
      .sortBy { case (t, f) => (-f, t) }.take(64)
    val xy = freqs.zipWithIndex.map { case ((_, f), i) =>
      (math.floor(math.log((i + 1).toDouble) * 1000.0).toLong,
        math.floor(math.log(f.toDouble) * 1000.0).toLong) }
    val n = xy.length.toLong
    val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
    val sxy = xy.map(p => p._1 * p._2).sum
    val sxx = xy.map(p => p._1 * p._1).sum
    assert(got.getLong(0) === n)
    assert(got.getLong(1) === (n * sxy - sx * sy) * 1000L / (n * sxx - sx * sx),
      "slope diverged from the JVM moment replay")
    // an ideal Zipf corpus (freq proportional to 1/rank) slopes to ~-1000
    val ideal = (1 to 30).flatMap(i =>
      Seq.fill(math.max(1, 3000 / i))(s"t${('a' + i).toChar}$i"))
    val idf = Seq((1L, ideal.mkString(" "))).toDF("doc_id", "text")
    val slope = TextAnalysis.zipfSlopeCard(idf, "text").head().getLong(1)
    assert(slope > -1050 && slope < -950, s"ideal Zipf slope was $slope milli")
    // a flat corpus (every token equally frequent) slopes to ~0
    val flat = (1 to 30).flatMap(i => Seq.fill(10)(s"u$i"))
    val fdf = Seq((1L, flat.mkString(" "))).toDF("doc_id", "text")
    assert(TextAnalysis.zipfSlopeCard(fdf, "text").head().getLong(1) === 0L)
    assert(intercept[IllegalArgumentException] {
      TextAnalysis.zipfSlopeCard(docs, "text", topV = 1)
    }.getMessage.contains("at least 2"))
  }

  test("compression ratio: repetition compresses, prose less, randomness least; null guard") {
    val repetitive = ("lorem " * 400).trim
    val prose = (1 to 60).map(i =>
      s"sentence $i carries ${i * 37 % 101} distinct items and some variety.").mkString(" ")
    val rnd = new scala.util.Random(42)
    val noise = Array.fill(2400)((rnd.nextInt(94) + 33).toChar).mkString
    val df = Seq((1L, repetitive), (2L, prose), (3L, noise), (4L, ""),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextAnalysis.compressionRatioMicro(col("text")).as("r"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got(4L) === -1L && got(5L) === -1L, "empty/null text must be null")
    assert(got(1L) < got(2L) && got(2L) < got(3L),
      s"monotonicity violated: $got")
    assert(got(1L) < 100000L, "pure repetition must compress below 0.1")
    assert(got(3L) > 800000L, "uniform random text must barely compress")
    // deterministic: same input, same ratio, any partitioning
    val again = df.repartition(7).select(col("doc_id"),
        TextAnalysis.compressionRatioMicro(col("text")).as("r"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(again === got)
    // matches a direct java.util.zip computation bit-for-bit
    val d = new java.util.zip.Deflater(6, true)
    d.setInput(prose.getBytes("UTF-8")); d.finish()
    val buf = new Array[Byte](1 << 16)
    var n = 0L
    while (!d.finished()) n += d.deflate(buf)
    d.end()
    assert(got(2L) === n * 1000000L / prose.getBytes("UTF-8").length)
  }

  test("C4 rules: line keeps, sentence floor over kept text, page drops") {
    val good = (1 to 3).map(i => s"this line has enough words number $i.")
      .mkString("\n")
    val df = Seq(
      (1L, good),                                    // 3 kept lines, 3 sentences
      (2L, good + "\nshort line"),                   // extra line dropped (no punct, <5 words)
      (3L, "one good sentence right here today.\nanother good sentence right here."),
      (4L, good + " lorem ipsum"),                   // lorem kill
      (5L, good.replace("number", "{number")),       // brace kill
      (6L, "no terminal punctuation on this line\nnor here either")
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"), TextAnalysis.c4Signals(col("text")).as("c"))
      .select(col("doc_id"), col("c.n_lines"), col("c.n_kept_lines"),
        col("c.n_sentences_kept"), col("c.has_lorem"), col("c.has_brace"),
        col("c.pass"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4),
          r.getBoolean(5), r.getBoolean(6)))).toMap
    assert(got(1L) === ((3L, 3L, 3L, false, false, true)))
    assert(got(2L) === ((4L, 3L, 3L, false, false, true)),
      "the short unpunctuated line must be dropped, page still passes")
    assert(got(3L) === ((2L, 2L, 2L, false, false, false)),
      "two sentences is below the C4 floor")
    assert(got(4L)._4 === true && got(4L)._6 === false, "lorem ipsum kills the page")
    assert(got(5L)._5 === true && got(5L)._6 === false, "curly brace kills the page")
    assert(got(6L) === ((2L, 0L, 0L, false, false, false)),
      "no kept lines -> zero sentences -> fail")
  }

  test("unigram Viterbi: max-likelihood split, longer-piece tie rule, surrogate safety") {
    import graft.functions.UnigramViterbi
    // hand-built vocab: "ab" is much likelier than a·b separately, so
    // Viterbi must take the 2-char piece; score arithmetic is integer
    val vocab = Seq(("a", -3000000L), ("b", -3000000L), ("c", -2000000L),
      ("ab", -2500000L), ("bc", -5500000L))
    val m = UnigramViterbi.buildScoreMap(vocab)
    val r1 = UnigramViterbi.decode("abc", m, 4, -40000000L)
    // candidates: a|b|c = -8e6, ab|c = -4.5e6, a|bc = -8.5e6 → ab|c
    assert(r1.pieces.toSeq === Seq("ab", "c") && r1.scoreMicro === -4500000L)
    // tie: make a|b exactly equal ab — the LONGER last piece must win
    val tie = UnigramViterbi.buildScoreMap(
      Seq(("a", -2000000L), ("b", -2000000L), ("ab", -4000000L)))
    val r2 = UnigramViterbi.decode("ab", tie, 4, -40000000L)
    assert(r2.pieces.toSeq === Seq("ab"), "tie must resolve to the longer piece")
    // unknown char degrades to the unk-scored single char, never throws
    val r3 = UnigramViterbi.decode("axb", m, 4, -40000000L)
    assert(r3.pieces.toSeq === Seq("a", "x", "b") &&
      r3.scoreMicro === -46000000L)
    // surrogate pair stays one piece
    val emoji = new String(Character.toChars(0x1F600))
    val r4 = UnigramViterbi.decode(emoji + "a",
      UnigramViterbi.buildScoreMap(Seq((emoji, -1000000L), ("a", -1000000L))),
      4, -40000000L)
    assert(r4.pieces.toSeq === Seq(emoji, "a"))
  }

  test("unigram vocab training: every char kept, topK bound, pieces re-concatenate") {
    val docs = Seq((1L, "banana bandana"), (2L, "ban ban banana"),
      (3L, "cabana")).toDF("doc_id", "text")
    val vocab = TextAnalysis.trainUnigramVocab(docs, "text",
      topK = 8, maxPieceLen = 4)
    val pieces = vocab.map(_._1).toSet
    // segmentability guarantee: every corpus char is a piece
    assert(Set("a", "b", "c", "d", "n").subsetOf(pieces))
    assert(vocab.count(_._1.length > 1) <= 8, "topK bound violated")
    assert(vocab.forall(_._2 < 0L), "log-probs must be negative micro")
    // frequent substrings make the cut ("an" appears everywhere)
    assert(pieces.contains("an"))
    // applying the tokenizer: pieces re-concatenate to each word, and
    // the score expression equals the sum of the chosen pieces' scores
    val scoreOf = vocab.toMap
    val seg = docs.select(
        explode(filter(TextAnalysis.tokens(col("text")), w => w =!= "")).as("w"))
      .select(col("w"),
        graft.functions.NativeFunctions.unigramSegmentWord(col("w"), vocab, 4,
          TextAnalysis.UnigramUnkMicro).as("framed"),
        graft.functions.NativeFunctions.unigramScoreWord(col("w"), vocab, 4,
          TextAnalysis.UnigramUnkMicro).as("lp"))
      .collect()
    seg.foreach { r =>
      val ps = r.getString(1).split("\u001F").filter(_.nonEmpty).toSeq
      assert(ps.mkString("") === r.getString(0), "pieces must re-concatenate")
      assert(ps.map(scoreOf).sum === r.getLong(2),
        "score expression must equal the sum of chosen piece scores")
    }
    // per-doc card: n_pieces <= total chars, >= n_words
    val card = docs.select(col("doc_id"),
        size(filter(TextAnalysis.tokens(col("text")), w => w =!= ""))
          .cast("long").as("n_words"),
        TextAnalysis.unigramTokenCount(col("text"), vocab).as("n_pieces"))
      .collect()
    card.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), "at least one piece per word")
    }
  }

  test("unigramPieceStatsAgg: one-decode struct equals the two-pass count+score pair") {
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val vocab = TextAnalysis.trainUnigramVocab(docs, "text",
      topK = 64, maxPieceLen = 4)
    val both = docs.select(
      TextAnalysis.unigramTokenCount(col("text"), vocab).as("n_old"),
      TextAnalysis.unigramScoreSum(col("text"), vocab).as("lp_old"),
      TextAnalysis.unigramPieceStatsAgg(col("text"), vocab).as("u"))
    assert(both.filter(col("n_old") =!= col("u.n_pieces") ||
      col("lp_old") =!= col("u.lp_micro")).count() === 0L)
    // edge rows: empty text and whitespace-only text contribute (0, 0)
    val edge = Seq("", "   ", "one").toDF("text").select(
      TextAnalysis.unigramTokenCount(col("text"), vocab).as("n_old"),
      TextAnalysis.unigramScoreSum(col("text"), vocab).as("lp_old"),
      TextAnalysis.unigramPieceStatsAgg(col("text"), vocab).as("u"))
    assert(edge.filter(col("n_old") =!= col("u.n_pieces") ||
      col("lp_old") =!= col("u.lp_micro")).count() === 0L)
  }

  test("trainWordpieceMerges: likelihood ratio beats raw count, exact hand-computed rounds") {
    // "low"x3, "lower", "lowest": BPE would merge (l,o) first (count
    // 5); the likelihood objective merges (s,t) — count 1 but
    // P(st)=1.0 given either part — then ties (e,r)/(e,st) at 5e11
    // break on pair ASC to (e,r)
    val df = Seq("low low low lower lowest").toDF("text")
    val m = TextAnalysis.trainWordpieceMerges(df, "text", 2)
    assert(m.map(_._1) === Seq("s\u001Ft", "e\u001Fr"))
    assert(m.head._2 === 1000000000000L, "P(st | s, t) = 1 exactly")
    assert(m(1)._2 === 500000000000L)
  }

  test("trainWordpieceMerges: DECIMAL intermediates survive counts that wrap int64") {
    // 10M occurrences of the word "ab": the first round's pair (a,b)
    // has n = na = nb = 10^7, so the OLD int64 product n·10^12 = 10^19
    // > 2^63 would have wrapped negative (and the pre-r14 guard
    // refused the corpus outright at ~9.2e6 symbols). The DECIMAL(38,0)
    // path computes the exact quotient 10^19 / (10^7·10^7) = 10^5.
    val big = spark.range(10000000L).select(lit("ab").as("text"))
    val m = TextAnalysis.trainWordpieceMerges(big, "text", 1)
    assert(m === Seq(("a\u001Fb", 100000L)))
  }

  test("WordpieceGreedy: longest-match-first, ## decoration, whole-word UNK") {
    import graft.functions.WordpieceGreedy
    val vocab = WordpieceGreedy.buildVocabSet(
      Seq("l", "o", "w", "e", "r", "s", "t", "st", "er", "lowe"))
    def dec(w: String) = WordpieceGreedy.decode(w, vocab, 4).toSeq
    // greedy takes "lowe" (len 4) over "l": longest match wins even
    // when it forces more pieces later
    assert(dec("lower") === Seq("lowe", "##r"))
    assert(dec("lowest") === Seq("lowe", "##st"))
    assert(dec("st") === Seq("st"))
    assert(dec("") === Seq())
    // any unmatched position degrades the WHOLE word (BERT's rule)
    assert(dec("lowx") === Seq("[UNK]"))
    assert(dec("xlow") === Seq("[UNK]"))
    // surrogate pairs stay whole
    val v2 = WordpieceGreedy.buildVocabSet(Seq("😀", "a"))
    assert(WordpieceGreedy.decode("a😀", v2, 1).toSeq ===
      Seq("a", "##😀"))
  }

  test("wordpiece n_pieces: separator-count formula equals split+filter on the corpus") {
    // the r15 optimization counts pieces from the framing (2p separator
    // chars for p pieces) instead of regex-splitting every segment;
    // pin the two formulas equal over the real corpus INCLUDING the
    // guaranteed-[UNK] suffix word the declared query appends
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val pairs = TextAnalysis.trainWordpieceMerges(docs, "text", 4).map(_._1)
    val vocab = TextAnalysis.wordpieceVocab(docs, "text", pairs)
    val maxLen = vocab.map(p => p.codePointCount(0, p.length)).max
    val sepQ = java.util.regex.Pattern.quote("\u001F")
    val both = docs.select(col("doc_id"),
        TextAnalysis.wordpieceSegment(
          concat(col("text"), lit(" \u6587")), vocab, maxLen).as("segs"))
      .select(
        aggregate(col("segs"), lit(0L), (acc, seg) =>
          acc + size(filter(split(seg, sepQ), x => x =!= ""))).as("old"),
        aggregate(col("segs"), lit(0L), (acc, seg) =>
          acc + shiftright(length(seg) -
            length(replace(seg, lit("\u001F"), lit(""))), 1)
            .cast(org.apache.spark.sql.types.LongType)).as("nw"))
    assert(both.filter(col("old") =!= col("nw")).count() === 0L)
    assert(both.agg(sum(col("old"))).head.getLong(0) > 0L)
  }

  test("wordpieceSegment: corpus-trained vocab segments the corpus with zero UNK") {
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val pairs = TextAnalysis.trainWordpieceMerges(docs, "text", 4).map(_._1)
    val vocab = TextAnalysis.wordpieceVocab(docs, "text", pairs)
    val maxLen = vocab.map(p => p.codePointCount(0, p.length)).max
    val segs = docs.select(
      TextAnalysis.wordpieceSegment(col("text"), vocab, maxLen).as("segs"))
    val unk = segs.select(explode(col("segs")).as("s"))
      .filter(col("s").contains("[UNK]")).count()
    assert(unk === 0L, "training keeps every corpus char")
    // pieces re-concatenate to the word (strip framing and ##)
    val w = "lowest"
    val back = graft.functions.WordpieceGreedy.decode(w,
      graft.functions.WordpieceGreedy.buildVocabSet(vocab), maxLen)
      .map(_.stripPrefix("##")).mkString
    assert(back === w || back === "[UNK]")
  }

  test("trained lang-ID: held-out accuracy on the multilingual panel >= 95%") {
    val panel = TextAnalysis.synthLangDocs(
      spark.range(400L).select(col("id").as("doc_id")), "doc_id")
    val profiles = TextAnalysis.loadLangProfiles(
      TextAnalysis.trainLangProfiles(
        panel.filter(col("doc_id") % 5 =!= 0), "text", "lang", 1024), 1024)
    assert(profiles.map(_._1) === Seq("de", "en", "es", "fr"))
    val heldOut = TextAnalysis.langIdTrained(
        panel.filter(col("doc_id") % 5 === 0), "doc_id", "text", profiles)
      .join(panel.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val n = heldOut.count()
    val hits = heldOut.filter(col("lang_pred") === col("lang")).count()
    assert(n === 80L)
    assert(hits * 100L >= n * 95L,
      s"held-out accuracy ${hits}/$n below the 95% contract")
  }

  test("trained lang-ID: native one-pass scorer == HOF formulation on real docs and edge rows") {
    // the r16 native LangProfileScores must be value-identical to the
    // per-language charGrams+linearScoreExpr chain it replaced —
    // including empty/short/unicode/supplementary-codepoint/null rows
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (100001L, ""), (100002L, "zz"), (100003L, "ßÆ😀é x"),
        (100004L, null.asInstanceOf[String]),
        (100005L, "das ist ein schöner tag und wir müssen gehen"))
        .toDF("doc_id", "text"))
    val panel = TextAnalysis.synthLangDocs(
      spark.range(200L).select(col("id").as("doc_id")), "doc_id")
    val profiles = TextAnalysis.loadLangProfiles(
      TextAnalysis.trainLangProfiles(panel, "text", "lang", 1024), 1024)
    val native = TextAnalysis.langIdTrained(docs, "doc_id", "text", profiles)
      .orderBy("doc_id").collect().toSeq
    val hof = TextAnalysis.langIdTrainedHof(docs, "doc_id", "text", profiles)
      .orderBy("doc_id").collect().toSeq
    assert(native === hof)
  }

  test("wordpiece greedy: trie decode == hash-probe decode on trained vocab and adversarial words") {
    import graft.functions.WordpieceGreedy
    val docs = Tables.table(spark, TestSpark.sfDir, "documents")
    val vocab = TextAnalysis.wordpieceVocab(docs, "text",
      TextAnalysis.trainWordpieceMerges(docs, "text", merges = 8).map(_._1))
    val maxLen = vocab.map(p => p.codePointCount(0, p.length)).max
    val set = WordpieceGreedy.buildVocabSet(vocab)
    val trie = WordpieceGreedy.buildTrie(vocab)
    val words = docs.select(explode(TextAnalysis.cleanTokens(col("text"))).as("w"))
      .distinct().collect().map(_.getString(0)).toSeq ++
      Seq("", "a", "ß", "😀ab", "zzzzzz…", "ab😀cd")
    words.foreach { w =>
      assert(WordpieceGreedy.decodeTrie(w, trie, maxLen).toSeq ===
        WordpieceGreedy.decode(w, set, maxLen).toSeq,
        s"trie decode diverged on '$w'")
    }
  }

  test("termFreqs: one-pass counts == size(filter) per term, null/empty rows match") {
    import graft.functions.NativeFunctions
    val rows = Seq(
      (1L, Seq("the", "the", "und", "x")),
      (2L, Seq.empty[String]),
      (3L, Seq("é", "the", null)),
      (4L, null.asInstanceOf[Seq[String]]))
    val df = rows.toDF("id", "ts")
    // the second list repeats a term: it counts at both positions
    Seq(Seq("the", "und", "zz", "é"), Seq("the", "und", "the", "é")).foreach { terms =>
      val native = df.select(col("id"),
          NativeFunctions.termFreqs(col("ts"), terms).as("tf"))
        .orderBy("id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getSeq[Int](1).toSeq))
      val hof = df.select(col("id") +: terms.zipWithIndex.map { case (t, i) =>
          size(filter(col("ts"), x => x === lit(t))).as(s"c_$i") }: _*)
        .orderBy("id").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) null
          else terms.indices.map(i => r.getInt(i + 1)).toSeq))
      assert(native.toSeq === hof.toSeq, s"terms $terms")
    }
  }

  test("trained lang-ID: empty/gramless text predicts 'und', scoring is deterministic") {
    import spark.implicits._
    val panel = TextAnalysis.synthLangDocs(
      spark.range(100L).select(col("id").as("doc_id")), "doc_id")
    val profiles = TextAnalysis.loadLangProfiles(
      TextAnalysis.trainLangProfiles(panel, "text", "lang", 1024), 1024)
    val odd = Seq((1L, ""), (2L, "zz"), (3L, "das ist ein schöner tag und wir müssen gehen"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.langIdTrained(odd, "doc_id", "text", profiles)
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) === "und") // below gram width
    assert(out(0).getLong(2) === 0L)
    assert(out(2).getString(1) === "de")
    val again = TextAnalysis.langIdTrained(odd, "doc_id", "text", profiles)
      .orderBy("doc_id").collect()
    assert(out.toSeq === again.toSeq)
  }

  test("loadLangProfiles: malformed artifacts fail loudly, valid ones round-trip") {
    import spark.implicits._
    val good = Seq(("en", 3L, 10L), ("de", 3L, 7L), ("en", 5L, 2L))
      .toDF("lang", "bucket", "w_micro")
    val ps = TextAnalysis.loadLangProfiles(good, 8)
    assert(ps.map(_._1) === Seq("de", "en"))
    assert(ps.toMap.apply("en").toSeq === Seq(0L, 0L, 0L, 10L, 0L, 2L, 0L, 0L))
    intercept[IllegalArgumentException] {
      TextAnalysis.loadLangProfiles(
        Seq(("en", 9L, 1L)).toDF("lang", "bucket", "w_micro"), 8)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.loadLangProfiles(
        Seq(("en", 2L, 1L), ("en", 2L, 3L)).toDF("lang", "bucket", "w_micro"), 8)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.loadLangProfiles(
        Seq(("en", 2L, -4L)).toDF("lang", "bucket", "w_micro"), 8)
    }
  }
}
