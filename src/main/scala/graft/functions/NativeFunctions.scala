package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShims}

/** Column wrappers for graft's native Catalyst expressions. */
object NativeFunctions {
  /** Fused-loop cosine similarity over two array<float> columns. */
  def cosineSim(a: Column, b: Column): Column =
    GraftSqlShims.column(
      CosineSimilarity(GraftSqlShims.expression(a), GraftSqlShims.expression(b)))

  /** Count of code points from a literal char set, one pass. */
  def charSetCount(text: Column, chars: String): Column =
    GraftSqlShims.column(CharSetCount(GraftSqlShims.expression(text), chars))

  /** Count of regex matches without materializing the match array. */
  def regexpCount(text: Column, pattern: String): Column =
    GraftSqlShims.column(RegexpCount(GraftSqlShims.expression(text), pattern))

  /** Highest single-token occurrence count, one hashmap pass. */
  def maxTokenFreq(tokens: Column): Column =
    GraftSqlShims.column(MaxTokenFreq(GraftSqlShims.expression(tokens)))

  /** One-pass token stats struct(n_tokens, n_stop, sum_len). */
  def tokenStats(tokens: Column, stopwords: Seq[String]): Column =
    GraftSqlShims.column(TokenStats(GraftSqlShims.expression(tokens), stopwords))

  /** One-pass winnowing fingerprints over poly-hashed w-shingles. */
  def polyWinnowFingerprints(tokens: Column, w: Int, window: Int): Column =
    GraftSqlShims.column(
      PolyWinnowFingerprints(GraftSqlShims.expression(tokens), w, window))

  /** Portable code-point polynomial rolling hash of a string. */
  def polyFingerprint(text: Column): Column =
    GraftSqlShims.column(PolyFingerprint(GraftSqlShims.expression(text)))

  /** Packed 16-nibble-lane folded character-count signature (one
    * long) for the edit-join L1 prefilter.
    */
  def charCountSig(text: Column): Column =
    GraftSqlShims.column(CharCountSig(GraftSqlShims.expression(text)))

  /** L1 distance between two [[charCountSig]] words — 16 codegen'd
    * shift/mask/abs terms; `<= 2·d` is necessary for ed <= d.
    */
  def charSigL1(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions._
    (0 until 16).map { k =>
      abs(shiftrightunsigned(a, 4 * k).bitwiseAND(lit(15L)) -
        shiftrightunsigned(b, 4 * k).bitwiseAND(lit(15L)))
    }.reduce(_ + _)
  }

  /** Distinct xxhash64 w-shingle hashes of a token array, one pass. */
  def shingleHashes(tokens: Column, w: Int): Column =
    GraftSqlShims.column(ShingleHashes(GraftSqlShims.expression(tokens), w))

  /** Distinct portable polynomial w-shingle hashes, one pass. */
  def polyShingleHashes(tokens: Column, w: Int): Column =
    GraftSqlShims.column(PolyShingleHashes(GraftSqlShims.expression(tokens), w))

  /** Count of shingle hashes whose k Bloom bit positions are all set
    * in the embedded bit array, one allocation-free pass.
    */
  def bloomShingleHits(shingleHashes: Column, words: Array[Long],
                       mBits: Int, kHashes: Int): Column =
    GraftSqlShims.column(BloomShingleHits(
      GraftSqlShims.expression(shingleHashes), words, mBits, kHashes))

  /** Distinct w-shingle strings of a token array, one pass. */
  def shingleStrings(tokens: Column, w: Int): Column =
    GraftSqlShims.column(ShingleStrings(GraftSqlShims.expression(tokens), w))

  /** Per-position w-token window MD5 anchors (lowercase hex) over a
    * token array, one pass — the duplicated-span detector's anchor
    * map. Empty array below w tokens.
    */
  def windowAnchorHashes(tokens: Column, w: Int): Column =
    GraftSqlShims.column(
      WindowAnchorHashes(GraftSqlShims.expression(tokens), w))

  /** Occurrence counts of a literal term list over a token array,
    * one pass: array<int>, entry i = count of tokens equal to
    * terms(i).
    */
  def termFreqs(tokens: Column, terms: Seq[String]): Column =
    GraftSqlShims.column(TermFreqs(GraftSqlShims.expression(tokens), terms))

  /** Per-language trained char-n-gram profile scores over lowercased
    * text, one pass: each gram hashed once, every profile's bucket
    * weight accumulated — array<long>, one entry per profile.
    */
  def langProfileScores(text: Column, profiles: Seq[Array[Long]],
                        n: Int): Column =
    GraftSqlShims.column(LangProfileScores(GraftSqlShims.expression(text),
      profiles.map(_.toSeq), n))

  /** Bucket histogram of portable poly w-shingle hashes, one pass:
    * array<struct<b,k>> ascending by bucket (DSIR feature cells).
    */
  def shingleBucketCounts(tokens: Column, w: Int, buckets: Int): Column =
    GraftSqlShims.column(
      ShingleBucketCounts(GraftSqlShims.expression(tokens), w, buckets))

  /** One-pass heuristic language ID (argmax of marker-word hits). */
  def langId(text: Column, markers: Seq[(String, Seq[String])]): Column =
    GraftSqlShims.column(LangIdHeuristic(GraftSqlShims.expression(text), markers))

  /** Single-pass 63-bit SimHash over an array<string> token column. */
  def simhash(tokens: Column): Column =
    GraftSqlShims.column(SimHash(GraftSqlShims.expression(tokens)))

  /** Single-pass MinHash signature over an array<long> hash column. */
  def minhashSignature(hashes: Column, numHashes: Int): Column =
    GraftSqlShims.column(
      MinHashSignature(GraftSqlShims.expression(hashes), numHashes))

  /** One-pass LSH bucket array (tables longs) for an array<float>:
    * +/-1 planes, integer-exact — see
    * [[graft.functions.RademacherBuckets]].
    */
  def rademacherBuckets(v: Column, dim: Int, numPlanes: Int, tables: Int): Column =
    GraftSqlShims.column(
      RademacherBuckets(GraftSqlShims.expression(v), dim, numPlanes, tables))

  /** The nProbe nearest centroid cells by cosine, best-first —
    * map-only IVF assignment/probing.
    */
  def nearestCells(v: Column, centroids: Array[Array[Float]], nProbe: Int): Column =
    GraftSqlShims.column(
      NearestCells(GraftSqlShims.expression(v), centroids, nProbe))

  /** PQ ADC lookup table for one query: m*ksub exact integer partial
    * dots of the quantized query subvectors with every codeword.
    */
  def pqAdcTable(qv: Column, codebook: Array[Array[Long]], ksub: Int): Column =
    GraftSqlShims.column(PqAdcTable(GraftSqlShims.expression(qv), codebook, ksub))

  /** PQ asymmetric-distance score: sum of per-subspace table lookups. */
  def pqAdcScore(codes: Column, tab: Column, ksub: Int): Column =
    GraftSqlShims.column(
      PqAdcScore(GraftSqlShims.expression(codes), GraftSqlShims.expression(tab), ksub))

  /** Bounded top-k aggregate column: array<struct<cos,id>> of the k
    * best (score desc, id asc) pairs; partial-aggregation friendly.
    */
  def topkPairs(score: Column, id: Column, k: Int): Column =
    GraftSqlShims.column(
      TopKPairs(GraftSqlShims.expression(score), GraftSqlShims.expression(id), k)
        .toAggregateExpression())

  /** Generic bounded top-k aggregate: the k smallest rows by `ord`
    * (negate a field for descending), payload carried alongside;
    * array<struct<ord,payload>> sorted ascending by ord.
    */
  def topkRows(ord: Column, payload: Column, k: Int): Column =
    GraftSqlShims.column(
      TopKRows(GraftSqlShims.expression(ord), GraftSqlShims.expression(payload), k)
        .toAggregateExpression())

  /** Element-wise sum of fixed-length long arrays — histogram-vector
    * aggregation with exactly `len` longs of state per group (ONE
    * stateful aggregation where an explode would need two).
    */
  def arraySum(v: Column, len: Int): Column =
    GraftSqlShims.column(
      ArraySum(GraftSqlShims.expression(v), len).toAggregateExpression())

  /** Element-wise max of fixed-length long arrays — HLL register
    * merging with exactly `len` longs of state per group; idempotent
    * and commutative, so streaming state merges are safe.
    */
  def arrayMax(v: Column, len: Int): Column =
    GraftSqlShims.column(
      ArrayMax(GraftSqlShims.expression(v), len).toAggregateExpression())

  /** Per-doc HLL register vector over an array<string> token column
    * (portable bucket/rank mixer), one pass.
    */
  def hllRegisters(tokens: Column, m: Int): Column =
    GraftSqlShims.column(HllRegisters(GraftSqlShims.expression(tokens), m))

  /** One-pass Gopher §A1.2 repetition-signal struct (15 fields). */
  def repetitionSignals(text: Column): Column =
    GraftSqlShims.column(RepetitionSignals(GraftSqlShims.expression(text)))

  /** Single-pass BPE segmentation of one word under a learned merge
    * list; returns the framed symbol string.
    */
  def bpeSegmentWord(word: Column, merges: Seq[String]): Column =
    GraftSqlShims.column(BpeSegmentWord(GraftSqlShims.expression(word), merges))

  /** Greedy longest-match WordPiece segmentation; framed piece string. */
  def wordpieceSegmentWord(word: Column, vocab: Seq[String],
                           maxLen: Int): Column =
    GraftSqlShims.column(WordpieceSegmentWord(GraftSqlShims.expression(word),
      vocab, maxLen))

  /** Viterbi unigram-LM segmentation of one word; framed piece string. */
  def unigramSegmentWord(word: Column, vocab: Seq[(String, Long)],
                         maxLen: Int, unkMicro: Long): Column =
    GraftSqlShims.column(UnigramSegmentWord(GraftSqlShims.expression(word),
      vocab, maxLen, unkMicro))

  /** Total micro log-prob of one word's Viterbi segmentation. */
  def unigramScoreWord(word: Column, vocab: Seq[(String, Long)],
                       maxLen: Int, unkMicro: Long): Column =
    GraftSqlShims.column(UnigramScoreWord(GraftSqlShims.expression(word),
      vocab, maxLen, unkMicro))

  /** ONE Viterbi decode per word returning both tokenizer outputs —
    * struct(n_pieces, lp_micro) — where the count+score projection
    * previously ran the identical DP twice.
    */
  def unigramPieceStats(word: Column, vocab: Seq[(String, Long)],
                        maxLen: Int, unkMicro: Long): Column =
    GraftSqlShims.column(UnigramPieceStats(GraftSqlShims.expression(word),
      vocab, maxLen, unkMicro))
}
