package graft

import org.apache.spark.sql.{GraftSqlShims, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{ArrayMax, ArraySum, BpeSegmentWord, CharSetCount, CosineSimilarity, MaxTokenFreq, MinHashSignature, PolyFingerprint, PolyShingleHashes, PqAdcScore, RegexpCount, ShingleHashes, ShingleStrings, SimHash, TopKRows}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions so `spark.sql` users get them too:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * spark.sql("SELECT cosine_similarity(a.embedding, b.embedding) ...")
  * }}}
  *
  * (Also loadable via spark.sql.extensions=graft.GraftExtensions, or
  * into an already-built session with GraftExtensions.install(spark).)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      /* arguments */ "", /* examples */ "", /* note */ "", /* group */ "misc_funcs",
      /* since */ "1.0.0", /* deprecated */ "", /* source */ "built-in")

  private def arity(name: String, n: Int, args: Seq[Expression]): Unit =
    require(args.length == n,
      s"$name requires $n argument(s), got ${args.length}")

  /** (identifier, info, builder) triples — the shape both
    * SparkSessionExtensions.injectFunction and
    * FunctionRegistry.registerFunction accept.
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_similarity"),
      info("cosine_similarity",
        "cosine_similarity(a, b) - cosine similarity of two float arrays"),
      (args: Seq[Expression]) => {
        arity("cosine_similarity", 2, args); CosineSimilarity(args(0), args(1))
      }),
    (FunctionIdentifier("simhash"),
      info("simhash", "simhash(tokens) - 63-bit SimHash of a string array " +
        "(code-point polynomial token hashes; oracle-replayable)"),
      (args: Seq[Expression]) => { arity("simhash", 1, args); SimHash(args.head) }),
    (FunctionIdentifier("minhash_signature"),
      info("minhash_signature",
        "minhash_signature(hashes, k) - k-wide MinHash signature of a " +
          "long array (closed-form hash family); NULL when the array is " +
          "empty or all-null"),
      (args: Seq[Expression]) => {
        arity("minhash_signature", 2, args)
        MinHashSignature(args(0), args(1).eval().asInstanceOf[Int])
      }),
    (FunctionIdentifier("poly_fingerprint"),
      info("poly_fingerprint",
        "poly_fingerprint(text) - portable code-point polynomial rolling hash " +
          "(acc*1000003+cp mod 1000000007)"),
      (args: Seq[Expression]) => {
        arity("poly_fingerprint", 1, args); PolyFingerprint(args.head)
      }),
    (FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes",
        "shingle_hashes(tokens, w) - distinct xxhash64 hashes of word w-shingles"),
      (args: Seq[Expression]) => {
        arity("shingle_hashes", 2, args)
        ShingleHashes(args(0), args(1).eval().asInstanceOf[Int])
      }),
    (FunctionIdentifier("poly_shingle_hashes"),
      info("poly_shingle_hashes",
        "poly_shingle_hashes(tokens, w) - distinct portable polynomial hashes " +
          "of word w-shingles (oracle-replayable; see poly_fingerprint)"),
      (args: Seq[Expression]) => {
        arity("poly_shingle_hashes", 2, args)
        PolyShingleHashes(args(0), args(1).eval().asInstanceOf[Int])
      }),
    (FunctionIdentifier("shingle_strings"),
      info("shingle_strings",
        "shingle_strings(tokens, w) - distinct word w-shingle strings, " +
          "first-occurrence order"),
      (args: Seq[Expression]) => {
        arity("shingle_strings", 2, args)
        ShingleStrings(args(0), args(1).eval().asInstanceOf[Int])
      }),
    (FunctionIdentifier("regexp_count_graft"),
      info("regexp_count_graft",
        "regexp_count_graft(text, pattern) - count of regex matches without " +
          "materializing them"),
      (args: Seq[Expression]) => {
        arity("regexp_count_graft", 2, args)
        RegexpCount(args(0), args(1).eval().asInstanceOf[UTF8String].toString)
      }),
    (FunctionIdentifier("charset_count"),
      info("charset_count",
        "charset_count(text, chars) - count of code points from a literal set"),
      (args: Seq[Expression]) => {
        arity("charset_count", 2, args)
        CharSetCount(args(0), args(1).eval().asInstanceOf[UTF8String].toString)
      }),
    (FunctionIdentifier("max_token_freq"),
      info("max_token_freq",
        "max_token_freq(tokens) - highest single-token occurrence count"),
      (args: Seq[Expression]) => {
        arity("max_token_freq", 1, args); MaxTokenFreq(args.head)
      }),
    (FunctionIdentifier("pq_adc_score"),
      info("pq_adc_score",
        "pq_adc_score(codes, tab, ksub) - product-quantization ADC score: " +
          "sum over subspaces j of tab[j*ksub + codes[j]]; NULL on a code " +
          "outside [0, ksub) or a table too short"),
      (args: Seq[Expression]) => {
        arity("pq_adc_score", 3, args)
        require(args(2).foldable, "pq_adc_score: ksub must be an integer literal")
        val ksub = args(2).eval() match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"pq_adc_score: ksub must be an integer literal, got $other")
        }
        PqAdcScore(args(0), args(1), ksub)
      }),
    (FunctionIdentifier("bpe_segment_word"),
      info("bpe_segment_word",
        "bpe_segment_word(word, merges) - framed BPE symbol string after " +
          "applying a learned merge list (array<string> literal of " +
          "sep-joined pairs, training order)"),
      (args: Seq[Expression]) => {
        arity("bpe_segment_word", 2, args)
        require(args(1).foldable, "bpe_segment_word: merges must be a literal array")
        val merges = args(1).eval() match {
          case a: org.apache.spark.sql.catalyst.util.ArrayData =>
            a.toObjectArray(org.apache.spark.sql.types.StringType)
              .map(_.asInstanceOf[UTF8String].toString).toSeq
          case other => throw new IllegalArgumentException(
            s"bpe_segment_word: merges must be an array literal, got $other")
        }
        BpeSegmentWord(args(0), merges)
      }),
    (FunctionIdentifier("topk_rows"),
      info("topk_rows",
        "topk_rows(ord, payload, k) - aggregate: k smallest rows by ord " +
          "(negate a field for descending) as array<struct<ord,payload>>, " +
          "best first; bounded-heap partial aggregation"),
      (args: Seq[Expression]) => {
        arity("topk_rows", 3, args)
        // returning the AggregateFunction: the analyzer wraps it in an
        // AggregateExpression during function resolution
        TopKRows(args(0), args(1), args(2).eval().asInstanceOf[Int])
      }),
    (FunctionIdentifier("array_sum_agg"),
      info("array_sum_agg",
        "array_sum_agg(v, len) - aggregate: element-wise sum of " +
          "fixed-length array<long> count vectors (len longs of state " +
          "per group; loud on length mismatch or null elements)"),
      (args: Seq[Expression]) => {
        arity("array_sum_agg", 2, args)
        ArraySum(args(0), args(1).eval().asInstanceOf[Int])
      }),
    (FunctionIdentifier("array_max_agg"),
      info("array_max_agg",
        "array_max_agg(v, len) - aggregate: element-wise max of " +
          "fixed-length array<long> register vectors (len longs of " +
          "state per group; idempotent, so streaming merges are safe; " +
          "loud on length mismatch or null elements)"),
      (args: Seq[Expression]) => {
        arity("array_max_agg", 2, args)
        ArrayMax(args(0), args(1).eval().asInstanceOf[Int])
      }))

  /** Register into an existing session (shell / shared test session) —
    * same triples the builder-time extension injects.
    */
  def install(spark: SparkSession): Unit = {
    val reg = GraftSqlShims.functionRegistry(spark)
    functions.foreach { case (id, fnInfo, builder) =>
      reg.registerFunction(id, fnInfo, builder)
    }
  }
}
