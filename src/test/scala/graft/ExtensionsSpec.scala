package graft

import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions registers the native expressions for SQL") {
    // newSession(): isolated sessionState on the shared context, so
    // registrations don't leak into other suites and this works no
    // matter which suite built the context first.
    val spark = TestSpark.spark.newSession()
    GraftExtensions.install(spark)

    val cos = spark.sql(
      "SELECT cosine_similarity(array(1.0f, 2.0f), array(1.0f, 2.0f)) AS c")
      .head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)

    val sh = spark.sql(
      "SELECT simhash(array('a','b','c')) AS s, simhash(array('a','b','c')) AS s2")
      .head()
    assert(sh.getLong(0) === sh.getLong(1))
    // the one SimHash family, replayed on the JVM: each token hashes to
    // two code-point polynomial folds, poly1 * 2^30 + poly2, and bit b
    // is set where most tokens have it set
    def poly(t: String, m: Long): Long =
      t.codePoints().toArray.foldLeft(0L)((a, c) => (a * m + c) % 1000000007L)
    val hs = Seq("a", "b", "c").map(t => poly(t, 1000003L) * 1073741824L + poly(t, 1000033L))
    val expected = (0 until 63)
      .filter(b => hs.count(h => ((h >>> b) & 1L) == 1L) * 2 > hs.size)
      .map(1L << _).sum
    assert(sh.getLong(0) === expected)

    val mh = spark.sql(
      "SELECT size(minhash_signature(array(1L, 2L, 3L), 16)) AS n")
      .head().getInt(0)
    assert(mh === 16)

    // degenerate inputs: NULL signature (documented divergence from
    // the HOF twin, which yields an array of nulls)
    val degenerate = spark.sql(
      "SELECT minhash_signature(array(), 16) AS e, " +
        "minhash_signature(array(CAST(NULL AS BIGINT)), 16) AS a")
      .head()
    assert(degenerate.isNullAt(0) && degenerate.isNullAt(1))

    val fp = spark.sql("SELECT poly_fingerprint('ab c') AS fp").head().getLong(0)
    assert(fp === 232211428L)
    val shn = spark.sql(
      "SELECT size(shingle_hashes(array('a','b','c','d'), 3)) AS n").head().getInt(0)
    assert(shn === 2)
    // portable twin: hash of "a b" = poly fold over its code points
    assert(spark.sql("SELECT poly_shingle_hashes(array('a','b'), 2) AS s")
      .head().getSeq[Long](0) ===
      Seq(spark.sql("SELECT poly_fingerprint('a b') AS fp").head().getLong(0)))

    // aggregate registration: analyzer wraps the AggregateFunction
    val tk = spark.sql(
      """SELECT g, topk_rows(v, v * 10, 2) AS tk
        |FROM VALUES (1, 5L), (1, 3L), (1, 9L), (2, 1L) AS t(g, v)
        |GROUP BY g ORDER BY g""".stripMargin).collect()
    val row1 = tk(0).getSeq[org.apache.spark.sql.Row](1)
    assert(row1.map(r => (r.getLong(0), r.getLong(1))) === Seq((3L, 30L), (5L, 50L)))
    assert(tk(1).getSeq[org.apache.spark.sql.Row](1).length === 1)

    assert(spark.sql("SELECT regexp_count_graft('a1 b2 c', '[a-z][0-9]') AS n")
      .head().getInt(0) === 2)
    assert(spark.sql("SELECT charset_count('a.b,c', '.,') AS n")
      .head().getInt(0) === 2)
    assert(spark.sql("SELECT shingle_strings(array('a','b','c'), 2) AS s")
      .head().getSeq[String](0) === Seq("a b", "b c"))
    assert(spark.sql("SELECT max_token_freq(array('x','y','x')) AS n")
      .head().getInt(0) === 2)

    // PQ ADC kernel: m=2, ksub=2 -> tab[0*2+0] + tab[1*2+1]
    assert(spark.sql(
      "SELECT pq_adc_score(array(0, 1), array(10L, 20L, 30L, 40L), 2) AS s")
      .head().getLong(0) === 50L)
    assert(spark.sql(
      "SELECT pq_adc_score(array(2, 0), array(10L, 20L, 30L, 40L), 2) AS s")
      .head().isNullAt(0))

    // BPE segmentation: merge (l,o) then (lo,w) -> "low" = [low],
    // "lower" = [low, e, r]
    val sep = "\u001F"
    val seg = spark.sql(
      s"SELECT bpe_segment_word('lower', array('l${sep}o', 'lo${sep}w')) AS s")
      .head().getString(0)
    assert(seg.split(java.util.regex.Pattern.quote(sep)).filter(_.nonEmpty).toSeq ===
      Seq("low", "e", "r"))

    // element-wise vector-sum aggregate (the drift monitor's state)
    val vs = spark.sql(
      "SELECT array_sum_agg(v, 3) AS s FROM VALUES (array(1L, 2L, 3L)), " +
        "(array(10L, 20L, 30L)) AS t(v)")
      .head().getSeq[Long](0)
    assert(vs === Seq(11L, 22L, 33L))

    // element-wise vector-max aggregate (HLL register state)
    val vm = spark.sql(
      "SELECT array_max_agg(v, 3) AS s FROM VALUES (array(1L, 20L, 3L)), " +
        "(array(10L, 2L, 30L)) AS t(v)")
      .head().getSeq[Long](0)
    assert(vm === Seq(10L, 20L, 30L))

    // the builder-time class form wires the same triples
    assert(GraftExtensions.functions.map(_._1.funcName).toSet ===
      Set("cosine_similarity", "simhash", "minhash_signature",
        "poly_fingerprint", "shingle_hashes", "poly_shingle_hashes",
        "shingle_strings", "topk_rows", "pq_adc_score",
        "regexp_count_graft", "charset_count", "max_token_freq",
        "bpe_segment_word", "array_sum_agg", "array_max_agg"))
  }
}
