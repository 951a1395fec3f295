package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale posture (100 TB): signatures (MinHash, SimHash) are computed
  * per-row with higher-order functions over token arrays — NO shuffle
  * until the candidate-pair join, which shuffles only (id, bucket)
  * pairs, never full documents. Verification joins ship compact hash
  * arrays, not text.
  *
  * Exact-duplicate removal is a single hash-groupBy (map-side partial
  * aggregation on md5/xxhash of the text).
  */
object Dedup {

  /** 31-bit Mersenne prime: universal-hash modulus. Products
    * a*x (a,x < 2^31) stay < 2^62 — safe under ANSI overflow checks.
    */
  private val P31 = 2147483647L

  /** The closed-form MinHash family (a_j, b_j), j = 0..numHashes-1 —
    * fixed by construction, so an external SQL engine recomputes it.
    */
  private def hashParams(numHashes: Int): Seq[(Long, Long)] =
    (1 to numHashes).map(j =>
      ((j * 1000003L + 12345L) % P31, (j * 999983L + 54321L) % P31))

  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Word w-shingles joined with single spaces; whole text as one
    * shingle when shorter than w tokens.
    */
  def shingles(text: Column, w: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < w, array(array_join(toks, " ")))
      .otherwise(transform(sequence(lit(0), size(toks) - w),
        i => array_join(slice(toks, i + 1, lit(w)), " ")))
  }

  /** Distinct 64-bit shingle hashes — the compact set representation
    * used for exact n-gram Jaccard ([[ngramJaccardPairs]]). Full 64-bit
    * width so set Jaccard over hashes equals Jaccard over the shingle
    * strings (collision odds ~2^-64 per pair). Native one-pass
    * expression; hash/order parity with [[shingleHashesHof]] is
    * asserted in DedupSpec.
    */
  def shingleHashes(text: Column, w: Int): Column =
    graft.functions.NativeFunctions.shingleHashes(tokens(text), w)

  /** HOF reference formulation of [[shingleHashes]] — identical
    * hashes and first-occurrence order, four interpreted lambdas per
    * row.
    */
  def shingleHashesHof(text: Column, w: Int): Column =
    array_distinct(transform(shingles(text, w), s => xxhash64(s)))

  /** MinHash signature (array<long> of length numHashes) computed
    * entirely per-row: sig_j = min over shingles of (a_j*x+b_j) mod P
    * with x the shingle hash folded to 31 bits (keeps a*x+b < 2^62 —
    * ANSI-overflow-safe). No shuffle, no UDF — pure Catalyst
    * higher-order functions.
    */
  def minhashSignature(shingleHashes: Column, numHashes: Int): Column =
    graft.functions.NativeFunctions.minhashSignature(shingleHashes, numHashes)

  /** HOF reference formulation of the MinHash signature — identical
    * math, one interpreted pass per hash function; the native
    * expression is tested against it.
    */
  def minhashSignatureHof(shingleHashes: Column, numHashes: Int): Column = {
    val params = hashParams(numHashes)
    array(params.map { case (a, b) =>
      array_min(transform(shingleHashes, x => pmod(pmod(x, lit(P31)) * a + b, lit(P31))))
    }: _*)
  }

  /** LSH band buckets: array of (band, bucket) structs; two docs
    * sharing any band bucket are candidate near-duplicates. The bucket
    * is a polynomial fold, bucket_b = fold((acc,x) -> (acc*1000003 + x)
    * mod 1e9+7) over the band's signature slice. With sig values
    * < 2^31 the product stays < 2^51 — any SQL engine replays it
    * exactly.
    */
  def lshBucketsPoly(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        aggregate(slice(sig, b * rowsPerBand + 1, rowsPerBand), lit(0L),
          (acc, x) => (acc * lit(1000003L) + x) % lit(1000000007L)).as("bucket"))
    }: _*)

  /** Exact-duplicate groups: one row per distinct text hash with the
    * surviving (minimum) id and the duplicate count. Single
    * hash-aggregation; partial aggregation makes it map-mostly.
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup: keep the first row (by idCol) per exact text. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Frames.uniqueFirst(df, Seq(textCol), Seq(col(idCol)))

  /** C4-style line-level exact dedup across the whole corpus: every
    * exact line survives only at its globally-first occurrence
    * (ascending id, then line position); later occurrences are
    * dropped and documents reassembled from their surviving lines in
    * order. Lines shorter than `minChars` (default: empty lines) are
    * exempt and always kept — deduping "" across a corpus would strip
    * every blank separator after the first document.
    *
    * Scale shape: posexplode lines (map-only), key by md5 so the
    * first-occurrence aggregate and the winners join shuffle a fixed
    * 32-char key + (id, pos) instead of line text; one hash-aggregate
    * (map-side partial min), one equi-join, one per-doc re-aggregate.
    * Everything is linear in corpus lines — never quadratic, and the
    * only full-text shuffle is the final per-doc regroup, the same
    * volume as the input.
    *
    * Output: (id, clean_text, n_kept, n_lines) for every input row —
    * docs whose every line lost dedup come back with empty text.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                minChars: Int = 1): DataFrame = {
    val lines = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
    val keyed = lines.withColumn("exempt", length(col("line")) < minChars)
    val cands = keyed.filter(!col("exempt"))
      .withColumn("h", md5(col("line")))
    val first = cands.groupBy(col("h"))
      .agg(min(struct(col("id"), col("pos"))).as("f"))
    val winners = cands.join(first, Seq("h"))
      .filter(col("id") === col("f.id") && col("pos") === col("f.pos"))
      .select(col("id"), col("pos"), col("line"))
    val kept = keyed.filter(col("exempt")).select(col("id"), col("pos"), col("line"))
      .unionByName(winners)
    val rebuilt = kept.groupBy(col("id"))
      .agg(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("line")))),
          p => p.getField("line")), "\n").as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("id"),
        size(split(col(textCol), "\n", -1)).cast(LongType).as("n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("n_lines"))
  }

  /** Exact duplicated-SUBSTRING spans — the within/cross-document
    * repeated-passage detector of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499),
    * re-expressed with token anchors instead of a suffix array: a
    * token region is covered iff some corpus-duplicated `minLen`-token
    * window starts inside it, and maximal covered regions are exactly
    * the duplicated runs of length >= minLen. Pipeline:
    *
    *  1. per doc, one md5 anchor per token position (the minLen-token
    *     window starting there) — map-only, linear in corpus tokens;
    *  2. anchors occurring more than once anywhere (same doc counts)
    *     — one hash aggregate, then a left_semi join keeps the
    *     duplicated positions (semi: a million-fold-duplicated
    *     boilerplate anchor cannot multiply rows);
    *  3. per doc, gaps-and-islands over kept positions (window
    *     ordered by position, break when the next window no longer
    *     overlaps/touches) merges anchors into maximal spans.
    *
    * Returns (id, span_start, span_len) per maximal duplicated span,
    * positions 0-based in whitespace tokens. Docs with no duplicated
    * span emit no rows. Used for contamination audits and as the cut
    * list for span-level dedup (remove, not drop-the-doc).
    */
  /** HOF reference formulation of the window-anchor map — the
    * semantics [[graft.functions.WindowAnchorHashes]] is asserted
    * identical to (DedupSpec).
    */
  private[graft] def anchorHashesHof(ts: Column, minLen: Int): Column =
    when(size(ts) >= minLen,
      transform(sequence(lit(0), size(ts) - minLen),
        i => md5(array_join(slice(ts, i + 1, lit(minLen)), "\u0001"))))
      .otherwise(array().cast("array<string>"))

  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      minLen: Int = 8): DataFrame = {
    require(minLen >= 1, "minLen must be positive")
    // anchor map through the native one-pass hasher (r16): the HOF
    // formulation (kept as [[anchorHashesHof]], equality-tested)
    // built every window through an interpreted transform lambda plus
    // a slice array and a join string per position -- the dominant
    // map-side cost of the whole detector
    val pos = df.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("ts"))
      .select(col("id"), posexplode(
        graft.functions.NativeFunctions.windowAnchorHashes(
          col("ts"), minLen)).as(Seq("pos", "h")))
    val dup = pos.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1L).select(col("h"))
    val kept = pos.join(dup, Seq("h"), "left_semi").select(col("id"), col("pos"))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    kept
      // window [pos, pos+minLen) merges with the previous one unless
      // it starts past the previous end (first row: lag is null, the
      // comparison is null, otherwise-0 starts island 0)
      .withColumn("brk",
        when(col("pos") > lag(col("pos"), 1).over(w) + minLen, lit(1))
          .otherwise(lit(0)))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("id"), col("island"))
      .agg(min(col("pos")).cast(LongType).as("span_start"),
        (max(col("pos")) - min(col("pos")) + minLen).cast(LongType).as("span_len"))
      .select(col("id"), col("span_start"), col("span_len"))
  }

  /** Span-level dedup — the CUT step that [[duplicatedSpans]] is the
    * detector for (Lee et al. 2022 remove-the-substring, not
    * drop-the-doc): every maximal duplicated span is removed from the
    * corpus EXCEPT its globally-first occurrence. "First" is decided
    * per anchor window — the minimum (id, pos) occurrence of each
    * duplicated window wins — and a span survives iff it contains at
    * least one winning anchor, so the earliest copy of a repeated
    * passage keeps its text and every later copy is cut. All rules
    * are integer/min comparisons — an external engine replays the
    * whole cut decision exactly.
    *
    * Returns (id, clean_text, n_kept, n_cut): the document rebuilt
    * from surviving tokens (whitespace-normalized, like lineDedup's
    * rebuild), with kept/cut token counts. Same scale shape as the
    * detector plus one winners join keyed by the md5 anchor (one row
    * per position — no multiplication) and a final per-doc regroup,
    * the same volume as the input.
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
                minLen: Int = 8): DataFrame = {
    require(minLen >= 1, "minLen must be positive")
    val toks = df.select(col(idCol).as("id"),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("tpos", "tok")))
    // native one-pass anchor map -- the duplicatedSpans shape
    val pos = df.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("ts"))
      .select(col("id"), posexplode(
        graft.functions.NativeFunctions.windowAnchorHashes(
          col("ts"), minLen)).as(Seq("pos", "h")))
    // per duplicated anchor: the globally-first (id, pos) occurrence
    val firsts = pos.groupBy(col("h"))
      .agg(count(lit(1)).as("c"), min(struct(col("id"), col("pos"))).as("w"))
      .filter(col("c") > 1L)
      .select(col("h"), col("w"))
    val kept = pos.join(firsts, Seq("h"))
      .select(col("id"), col("pos"),
        (col("id") === col("w.id") && col("pos") === col("w.pos")).as("is_win"))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val spans = kept
      .withColumn("brk",
        when(col("pos") > lag(col("pos"), 1).over(w) + minLen, lit(1))
          .otherwise(lit(0)))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + minLen).as("span_end"),  // exclusive
        max(col("is_win")).as("keep_span"))
    val cuts = spans.filter(!col("keep_span"))
      .select(col("id"), col("span_start"), col("span_end"))
    // a token survives unless a cut span of its doc covers it
    val cut = toks.join(cuts,
        toks("id") === cuts("id") &&
          col("tpos") >= col("span_start") && col("tpos") < col("span_end"),
        "left_semi")
      .select(col("id"), col("tpos"))
    val survivors = toks.join(cut, Seq("id", "tpos"), "left_anti")
    val rebuilt = survivors.groupBy(col("id"))
      .agg(array_join(transform(
          sort_array(collect_list(struct(col("tpos"), col("tok")))),
          p => p.getField("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("id"),
        size(TextAnalysis.tokens(col(textCol))).cast(LongType).as("n_total"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_total") - coalesce(col("n_kept"), lit(0L))).as("n_cut"))
  }

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * Plan shape (scale-reviewed):
    *  1. per-row: shingle hashes -> signature -> band buckets (no shuffle)
    *  2. explode buckets, self-join on (band, bucket) — shuffles only
    *     (id, band, bucket); candidate pairs deduped
    *  3. join pairs back to shingle-hash arrays (compact), compute
    *     exact Jaccard via array_intersect/array_union, filter >= threshold
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    */
  /** The compact per-doc signature table shared by every MinHash
    * operator: (id, shingle-hash set, signature, band buckets). Every
    * step is integer-exact — polynomial shingle hashes, the
    * closed-form MinHash family, the polynomial band fold — so an
    * external SQL engine replays candidates and verified pairs.
    * PERSISTED deliberately: it is consumed more than once (bucket
    * explode + verification-join sides), and without a
    * materialization barrier Catalyst's InferFiltersFromGenerate
    * pushes a size(bk)>0 filter containing the ENTIRE signature
    * expression tree into the scan, re-running the 64-hash pipeline
    * per row in interpreted mode. State is linear in the corpus
    * (id + hash set + sig + 16 buckets/doc) and spills to disk — the
    * standard LSH-dedup shape.
    */
  private def lshSignatureBase(df: DataFrame, idCol: String, textCol: String,
                               numHashes: Int, bands: Int,
                               shingleWidth: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    df.select(col(idCol).as("id"), graft.functions.NativeFunctions.polyShingleHashes(
        tokens(col(textCol)), shingleWidth).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .withColumn("bk", lshBucketsPoly(col("sig"), bands, r))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Band-collision candidate pairs from a signature base: explode
    * buckets, self-join on (band, bucket) — shuffles only
    * (id, band, bucket) — and dedup. Returns (id_a, id_b), id_a < id_b.
    */
  private def bandCandidates(base: DataFrame): DataFrame = {
    val buckets = base.select(col("id"), explode(col("bk")).as("b"))
      .select(col("id"), col("b.band"), col("b.bucket"))
    buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
  }

  /** Raw LSH band-collision candidate pairs — the PRE-verification
    * stage of [[minhashNearDupPairs]], exposed for the banding tuning
    * loop: the (bands, rowsPerBand) S-curve trades candidate recall
    * against candidate precision, and both are invisible once exact
    * verification has filtered the output. Feed this and an exact
    * truth set (e.g. [[ngramJaccardPairs]]) to [[pairEvalReport]].
    */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            numHashes: Int = 64, bands: Int = 16,
                            shingleWidth: Int = 3): DataFrame =
    bandCandidates(lshSignatureBase(df, idCol, textCol, numHashes, bands,
      shingleWidth))

  /** b-bit minwise hashing evaluation card (Li & König, WWW 2010) —
    * the signature-COMPRESSION ladder: keeping only the lowest b bits
    * of each minhash slot shrinks stored signatures 64/b-fold (b=1:
    * 64 hashes in one machine word), at the price that unrelated
    * minima now collide with probability ~2^-b. The unbiased
    * correction Ĵ = (E_b − 2^-b)/(1 − 2^-b) — here in exact integer
    * micro-units: (matches·2^b − H)·10^6 div (H·(2^b − 1)), clamped
    * at 0 — recovers Jaccard with variance that grows as b falls;
    * this card puts the exact Jaccard, the full-width estimate and
    * each b-bit estimate side by side per LSH-candidate pair, so a
    * deployment picks its bits/accuracy point from measurement (the
    * recallReport discipline applied to signature width). Per-pair
    * math is HOFs over 64-slot arrays on candidate rows only; all
    * integers, so the oracle replays every estimate bit-for-bit.
    * Pairs whose shingle-set union is empty (two empty texts) are
    * excluded — Jaccard is undefined there.
    */
  def bbitMinhashCard(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 64, bands: Int = 16,
                      shingleWidth: Int = 3,
                      bits: Seq[Int] = Seq(4, 1)): DataFrame = {
    require(bits.nonEmpty && bits.forall(b => b >= 1 && b <= 16),
      s"bits must be in [1,16], got $bits")
    val base = lshSignatureBase(df, idCol, textCol, numHashes, bands,
      shingleWidth)
    val cand = bandCandidates(base)
    val withSides = cand
      .join(base.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("sig").as("sig_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("sh").as("sh_b"),
        col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("uni",
        size(col("sh_a")).cast("long") + size(col("sh_b")) - col("inter"))
      .filter(col("uni") > 0)
      .withColumn("mf", expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1L, 0L)), " +
          "0L, (a, v) -> a + v)"))
    val withBits = bits.foldLeft(withSides) { (acc, b) =>
      val mask = 1L << b
      acc.withColumn(s"m$b", expr(
        s"aggregate(zip_with(sig_a, sig_b, (x, y) -> " +
          s"IF(x % ${mask}L = y % ${mask}L, 1L, 0L)), 0L, (a, v) -> a + v)"))
    }
    val estCols = bits.map { b =>
      val scale = 1L << b
      greatest(lit(0L), expr(
        s"(m$b * ${scale}L - $numHashes) * 1000000L div " +
          s"(${numHashes.toLong * (scale - 1)}L)"))
        .as(s"est_b${b}_micro")
    }
    withBits.select(Seq(col("id_a"), col("id_b"),
      expr("inter * 1000000L div uni").as("jacc_micro"),
      expr(s"mf * 1000000L div $numHashes").as("est_full_micro")) ++
      estCols: _*)
  }

  /** Static reference-corpus index for the streaming ingest gate
    * ([[graft.streaming.DocStreams.nearDupGateStream]]): the corpus
    * reduced to a (band, bucket, corpus_id) bucket table plus a
    * (corpus_id, corpus_sh) shingle-set table, both backed by ONE
    * persisted signature pass. Built once per reference snapshot and
    * reused across every micro-batch — the stream never recomputes
    * corpus signatures.
    */
  def nearDupIndex(corpus: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   shingleWidth: Int = 3): (DataFrame, DataFrame) = {
    val base = lshSignatureBase(corpus, idCol, textCol, numHashes, bands,
      shingleWidth)
    val buckets = base.select(col("id").as("corpus_id"), explode(col("bk")).as("b"))
      .select(col("b.band"), col("b.bucket"), col("corpus_id"))
    val sets = base.select(col("id").as("corpus_id"), col("sh").as("corpus_sh"))
    (buckets, sets)
  }

  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          numHashes: Int = 64, bands: Int = 16,
                          shingleWidth: Int = 3,
                          threshold: Double = 0.8): DataFrame = {
    val base = lshSignatureBase(df, idCol, textCol, numHashes, bands,
      shingleWidth)
    val cands = bandCandidates(base)
    val sets = base.select(col("id"), col("sh"))
    cands
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Cross-corpus MinHash+LSH near-dup pairs: candidates BETWEEN a
    * delta and a reference corpus (never within either side) — the
    * daily-ingest shape: is anything in today's crawl a near-dup of
    * the historical corpus? Same signature/band machinery and the
    * same scale posture as [[minhashNearDupPairs]]; the bucket join
    * keys (band, bucket) across the two signature tables, so the
    * reference corpus is touched ~|delta buckets| / |bucket space|,
    * never rescanned per delta row.
    *
    * Returns (delta_id, corpus_id, jaccard), jaccard >= threshold.
    */
  def minhashNearDupPairsCross(delta: DataFrame, corpus: DataFrame,
                               idCol: String, textCol: String,
                               numHashes: Int = 64, bands: Int = 16,
                               shingleWidth: Int = 3,
                               threshold: Double = 0.8): DataFrame = {
    def sigTable(df: DataFrame): DataFrame =
      lshSignatureBase(df, idCol, textCol, numHashes, bands, shingleWidth)
    val db = sigTable(delta)
    val cb = sigTable(corpus)
    def buckets(base: DataFrame): DataFrame =
      base.select(col("id"), explode(col("bk")).as("b"))
        .select(col("id"), col("b.band"), col("b.bucket"))
    val cands = buckets(db).as("x").join(buckets(cb).as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
      .select(col("x.id").as("delta_id"), col("y.id").as("corpus_id"))
      .distinct()
    cands
      .join(db.select(col("id").as("delta_id"), col("sh").as("sh_a")), Seq("delta_id"))
      .join(cb.select(col("id").as("corpus_id"), col("sh").as("sh_b")), Seq("corpus_id"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("delta_id"), col("corpus_id"), col("jaccard"))
  }

  /** Incremental dedup — the production daily-ingest operator: keep
    * only delta rows that are neither exact nor near duplicates of
    * the reference corpus, nor of an earlier (lower-id) delta row.
    * Four stages, each linear-shuffle:
    *  1. exact-vs-corpus: anti-join on text md5;
    *  2. exact-within-delta: keep first id per text;
    *  3. near-vs-corpus: [[minhashNearDupPairsCross]] anti-join;
    *  4. near-within-delta: drop the HIGHER id of every near-dup pair
    *     (pairwise suppression — for non-clique chains this can drop
    *     more than clustering-canonical would keep; the conservative
    *     choice for training data).
    */
  def incrementalDedup(delta: DataFrame, corpus: DataFrame,
                       idCol: String, textCol: String,
                       numHashes: Int = 64, bands: Int = 16,
                       shingleWidth: Int = 3,
                       threshold: Double = 0.8): DataFrame = {
    val ch = corpus.select(md5(col(textCol)).as("__h")).distinct()
    val d1 = delta.withColumn("__h", md5(col(textCol)))
      .join(ch, Seq("__h"), "left_anti").drop("__h")
    val d2 = exactDedup(d1, idCol, textCol)
    val nearCorpus = minhashNearDupPairsCross(d2, corpus, idCol, textCol,
      numHashes, bands, shingleWidth, threshold)
    val d3 = d2.join(nearCorpus.select(col("delta_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
    val selfPairs = minhashNearDupPairs(d3, idCol, textCol,
      numHashes, bands, shingleWidth, threshold)
    d3.join(selfPairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")
  }

  /** MOSS-style near-dup candidate pairs via shared winnowing
    * fingerprints: each doc keeps only its window-minimum shingle
    * hashes (a guaranteed-coverage sample of ~1/window of the
    * shingles), pairs sharing >= minShared fingerprints surface. The
    * winnowing guarantee — any match of `w + window - 1` consecutive
    * tokens shares at least one fingerprint — is what plagiarism /
    * boilerplate detectors (MOSS) rely on; vs MinHash this catches
    * LOCAL overlap (one shared paragraph) that whole-set Jaccard
    * dilutes away. Shuffle volume is (fingerprint, id) pairs —
    * ~1/window of shingle volume, never text.
    */
  def winnowingNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                            shingleWidth: Int = 4, window: Int = 4,
                            minShared: Int = 2): DataFrame = {
    val fps = df.select(col(idCol).as("id"),
        explode(graft.operators.TextAnalysis.winnowingFingerprintsPoly(
          col(textCol), shingleWidth, window)).as("fp"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    fps.as("x").join(fps.as("y"),
        col("x.fp") === col("y.fp") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** 63-bit SimHash over tokens, computed per-row (bit 63 left clear
    * so the power-of-two sum stays within signed long under ANSI).
    */
  def simhash(text: Column): Column =
    graft.functions.NativeFunctions.simhash(tokens(text))

  /** HOF reference formulation of SimHash — the token hash
    * poly1(t) * 2^30 + poly2(t) as code-point folds (ascii() of each
    * one-code-point substring is its code point), then 63
    * interpreted aggregate passes; the native expression is tested
    * against it.
    */
  def simhashHof(text: Column): Column = {
    def poly(t: Column, mult: Long): Column =
      when(length(t) === 0, lit(0L)).otherwise(aggregate(
        transform(sequence(lit(1), length(t)), i => ascii(t.substr(i, lit(1)))),
        lit(0L), (acc, cp) => (acc * lit(mult) + cp) % lit(1000000007L)))
    val hs = transform(tokens(text),
      t => poly(t, 1000003L) * lit(1073741824L) + poly(t, 1000033L))
    (0 until 63).map { i =>
      val bitBalance = aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L)))
      when(bitBalance > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** SimHash near-duplicate pairs with Hamming distance <= maxDist.
    * Pigeonhole banding: split 63 bits into (maxDist+1) bands; pairs
    * within maxDist must agree on at least one whole band — join per
    * band, then verify with bit_count(xor).
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxDist: Int = 3): DataFrame = {
    val nBands = maxDist + 1
    val width = 63 / nBands
    // Persist: consumed by both sides of the band self-join; avoids
    // recomputing the 63-bit aggregation pipeline (see minhash note).
    val base = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded = base.select(col("id"), col("sig"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * width).bitwiseAND(lit((1L << width) - 1)).as("key"))
      }: _*)).as("b"))
      .select(col("id"), col("sig"), col("b.band"), col("b.key"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      // verify BEFORE the dedup shuffle: hamming is computed join-side
      // from the sigs already in hand, so far-apart candidate pairs
      // (the vast majority) never reach the distinct() exchange
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Exact n-gram-Jaccard similar pairs via an inverted shingle index:
    * explode distinct shingle hashes, join on shingle, count shared
    * shingles per pair via aggregation (no per-pair set
    * materialization), Jaccard from set sizes. Shuffles
    * (shingleHash, id) pairs — linear in corpus shingle count, never
    * quadratic in documents. Preferred when shingles are widely
    * shared (small vocabularies): the shared count falls out of the
    * join aggregate for free.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleWidth: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sets = df.select(col(idCol).as("id"),
        shingleHashes(col(textCol), shingleWidth).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val inv = sets.select(col("id"), size(col("sh")).as("n"), explode(col("sh")).as("h"))
    // size-ratio pruning (exact): jaccard >= t forces
    // t*max(|A|,|B|) <= min(|A|,|B|), so mismatched-size pairs are
    // dropped inside the join before the pair aggregation. The 1e-9
    // slack absorbs binary-representation error of t (e.g. 10*0.3 =
    // 3.0000000000000004) so boundary pairs whose true Jaccard equals
    // t are never pruned; the final jaccard >= t filter stays exact.
    inv.as("x").join(inv.as("y"),
        col("x.h") === col("y.h") && col("x.id") < col("y.id") &&
          col("x.n") * threshold <= col("y.n") + 1e-9 &&
          col("y.n") * threshold <= col("x.n") + 1e-9)
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.n").as("n_a"), col("y.n").as("n_b"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard", col("shared").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("shared")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      // the pair set is tiny (near-dup pairs only) and consumed by
      // several downstream ops (clustering, dedup) — persisting lets
      // CacheManager substitute it into any later plan containing the
      // same subtree, so pairs are computed once per session
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** MinHash Jaccard ESTIMATE from two signatures: the fraction of
    * agreeing components — E[estimate] = true Jaccard, stderr ≈
    * 1/sqrt(numHashes). The cheap pre-filter when exact verification
    * (array_intersect over full hash sets) is too expensive per
    * candidate; accuracy vs exact asserted in DedupSpec.
    */
  def minhashJaccardEstimate(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x)).cast(DoubleType) /
      size(sigA).cast(DoubleType)

  /** Connected components over near-duplicate pairs by iterative
    * min-label propagation: every vertex starts labeled with its own
    * id; each round every vertex takes the minimum label among itself
    * and its neighbors; convergence when no label changes. The
    * component label is the minimum vertex id — i.e. the canonical
    * document of a near-dup cluster.
    *
    * Scale: each round is one (src-keyed) shuffle join + one
    * aggregation; rounds needed = graph diameter (near-dup graphs are
    * shallow — chains of edits — so single digits; maxIter guards
    * pathological chains). Convergence is detected from sum(label),
    * which strictly decreases until fixpoint — one cheap scalar agg
    * per round, no row-wise diff join. For adversarial long-chain
    * graphs the large-star/small-star variant halves rounds; not
    * needed for dedup-shaped graphs.
    *
    * @param vertices one column `id` (every doc, so singletons label
    *                 themselves)
    * @param edges    columns `id_a`, `id_b` (undirected pairs)
    * @return (id, component) — component = min id reachable
    */
  /** Edge-count threshold below which the component labels are
    * computed with a driver-side union-find instead of iterative
    * distributed label propagation. Near-dup edge sets are tiny
    * relative to their corpus (pairs above a high Jaccard threshold);
    * when they fit comfortably on the driver, one collect + one
    * broadcast join replaces diameter-many shuffle rounds — the same
    * small-graph shortcut production CC implementations take. 5M
    * edges ~ 80 MB collected: well inside any driver heap.
    */
  private val DriverCcMaxEdges = 5000000L

  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          maxIter: Int = 20): DataFrame = {
    val idsAreLong =
      vertices.schema("id").dataType == LongType &&
        edges.schema("id_a").dataType == LongType &&
        edges.schema("id_b").dataType == LongType
    if (!idsAreLong)
      return connectedComponentsPropagation(vertices, edges, maxIter)
    // The dispatch count and the driver path's collect would each
    // evaluate the caller's edge pipeline from scratch — for LSH
    // near-dup pairs that is the whole signature/verify chain, and
    // the re-evaluation measurably dominated the curation_v3 closure
    // at 20x (V3Probe: 4.6M-pair pipeline ran twice inside one
    // closure call). Cache the edge list (two longs per row — MBs
    // even at the 5M driver cap) for the duration of the dispatch;
    // both terminal paths consume it eagerly enough to release it:
    // the driver path collects before returning, the propagation
    // path copies edges into its own persisted `und` on iteration 0.
    val cached = edges.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (cached.count() <= DriverCcMaxEdges)
        connectedComponentsDriver(vertices, cached)
      else {
        val out = connectedComponentsPropagation(vertices, cached, maxIter)
        // materialize und (the propagation loop already counts it)
        // before the finally releases the raw edge cache
        out
      }
    } finally cached.unpersist(blocking = false)
  }

  /** Distributed min-label-propagation path of [[connectedComponents]]
    * (public for direct use on graphs known to be large, and for the
    * equality assertion against the union-find path in tests).
    */
  def connectedComponentsPropagation(vertices: DataFrame, edges: DataFrame,
                                     maxIter: Int = 20): DataFrame = {
    val und = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // iterate ONLY over vertices with degree > 0: singletons are their
    // own components and never change, so they sit out the loop — in a
    // near-dup graph the active set is a small fraction of the corpus
    var labels = und.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // sum(component) is null on an empty vertex set — treat as
    // already-converged instead of NPEing
    def labelSum(df: org.apache.spark.sql.DataFrame): Long = {
      val r = df.agg(sum(col("component"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var prevSum = labelSum(labels)
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      val prop = und.join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min(col("component")).as("nbr"))
      // localCheckpoint (eager), not persist: each round's plan embeds
      // the previous round's — without truncation the logical plan
      // doubles per iteration and Catalyst re-analysis dominates past
      // ~10 rounds (a 40-edge chain graph took minutes in planning
      // alone). Checkpointing rebases the round on a LogicalRDD leaf,
      // keeping every iteration's plan — and its optimization time —
      // constant-size.
      val next = labels.join(prop, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr"), col("component"))).as("component"))
        .localCheckpoint(true)
      val nextSum = labelSum(next)
      labels.unpersist()
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      it += 1
    }
    und.unpersist()
    // singletons rejoin with themselves as the component
    vertices.select(col("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Small-graph path: collect the edge list, path-compressing
    * union-find on the driver (union by minimum root so the component
    * label is the minimum member id — identical semantics to the
    * propagation path), broadcast-join labels back onto the vertex
    * set. Output-equal to the distributed path (asserted in
    * DedupSpec).
    */
  private def connectedComponentsDriver(vertices: DataFrame,
                                        edges: DataFrame): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val es = edges.select(col("id_a"), col("id_b")).as[(Long, Long)].collect()
    // Primitive open-addressed id interning + int union-find. The
    // boxed HashMap[Long, Long] formulation measured ~60 s on a
    // 4.6M-edge near-dup clique graph (V3Probe at 20x) — every find
    // step boxed its key; this runs the same graph in well under a
    // second. Capacity is a power of two at load <= 0.5 for the
    // worst case of 2 distinct ids per edge.
    val nEdges = es.length
    val cap = math.max(16, Integer.highestOneBit(nEdges * 4 | 1) * 2)
    val keys = new Array[Long](cap)
    val slotUsed = new Array[Boolean](cap)
    val slotIdx = new Array[Int](cap)
    val ids = new Array[Long](math.max(1, 2 * nEdges))
    val parent = new Array[Int](math.max(1, 2 * nEdges))
    var n = 0
    def intern(x: Long): Int = {
      var h = java.lang.Long.hashCode(x * -7046029254386353131L) & (cap - 1)
      while (true) {
        if (!slotUsed(h)) {
          slotUsed(h) = true; keys(h) = x; slotIdx(h) = n
          ids(n) = x; parent(n) = n; n += 1
          return n - 1
        }
        if (keys(h) == x) return slotIdx(h)
        h = (h + 1) & (cap - 1)
      }
      0 // unreachable
    }
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    var e = 0
    while (e < nEdges) {
      val (a, b) = es(e)
      val ra = find(intern(a)); val rb = find(intern(b))
      if (ra != rb) { // union by min ID: the minimum id stays the label
        if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb
      }
      e += 1
    }
    val labels = Array.tabulate(n)(i => (ids(i), ids(find(i)))).toSeq
      .toDF("id", "component")
    vertices.select(col("id"))
      .join(broadcast(labels), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Near-dup-cluster dedup: keep one (minimum-id) document per
    * connected component of the near-duplicate pair graph.
    */
  def dedupByNearDup(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(df.select(col(idCol).as("id")), pairs)
    df.join(comp.filter(col("id") === col("component")).select(col("id").as(idCol)),
      Seq(idCol), "left_semi")
  }

  /** [[dedupByNearDup]] keeping the BEST-scored row per near-dup
    * cluster instead of the lowest id (ties -> lower id) — the
    * curation-grade choice: when a crawl holds five near-copies, keep
    * the highest-quality one. The per-component argmax is a
    * max(struct(score, -id)) hash aggregate: map-side partials, one
    * component-keyed shuffle, no window sort.
    */
  def dedupByNearDupPreferring(df: DataFrame, idCol: String, pairs: DataFrame,
                               scoreCol: String): DataFrame = {
    val comp = connectedComponents(df.select(col(idCol).as("id")), pairs)
    val winners = df.select(col(idCol), col(scoreCol))
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol))
      .groupBy(col("component"))
      .agg(max(struct(col(scoreCol), (-col(idCol)).as("nid"))).as("m"))
      .select((-col("m.nid")).as(idCol))
    df.join(winners, Seq(idCol), "left_semi")
  }

  /** Exact n-gram-Jaccard via a DOCUMENT-FREQUENCY-ordered prefix
    * index. Same prefix-filter theorem as [[ngramJaccardPairsPrefix]]
    * (any total order over shingles works), but sets are sorted by
    * ascending global document frequency, so each prefix holds a
    * document's RAREST shingles. Hot shingles — the quadratic
    * pair-generators of the inverted-index variant on small-vocabulary
    * corpora — are pushed out of prefixes and never joined on unless
    * a document consists almost entirely of them. Costs two extra
    * linear shuffles (df count, per-doc re-sort) to make the
    * candidate join sub-quadratic; exactness is preserved because
    * candidates are verified on the full hash sets.
    */
  def ngramJaccardPairsDfOrdered(df: DataFrame, idCol: String, textCol: String,
                                 shingleWidth: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sets = df.select(col(idCol).as("id"),
        shingleHashes(col(textCol), shingleWidth).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val exploded = sets.select(col("id"), explode(col("sh")).as("h"))
    val dfreq = exploded.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // re-sort each doc's shingles by (df asc, h asc) — a consistent
    // global order with the rarest shingles first
    val ordered = exploded.join(dfreq, Seq("h"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("oh"))
      .select(col("id"), transform(col("oh"), o => o.getField("h")).as("osh"),
        size(col("oh")).as("n"))
    // prefix length n - ceil(t*n) + 1; the 1e-9 slack keeps binary
    // representation error of t from shrinking the prefix by one
    // (over-long prefixes only add candidates, never lose pairs)
    val prefixLen = greatest(
      (col("n") - ceil(col("n") * threshold - 1e-9) + 1).cast(IntegerType), lit(1))
    val inv = ordered.select(col("id"), explode(slice(col("osh"), lit(1), prefixLen)).as("h"))
    val cands = inv.as("x").join(inv.as("y"),
        col("x.h") === col("y.h") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    cands
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("shared").cast(DoubleType) /
        (size(col("sh_a")) + size(col("sh_b")) - col("shared")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact n-gram-Jaccard via a PREFIX-FILTERED index (Bayardo/Xiao
    * position prefix): with shingle sets sorted by a global order,
    * any pair with Jaccard >= t shares an element within each set's
    * first n - ceil(t*n) + 1 elements, so only prefixes are indexed
    * and joined, then candidates verified on the full hash sets.
    * Same results as [[ngramJaccardPairs]] (asserted in tests);
    * preferred at high t over large vocabularies where prefix
    * collisions are rare — candidate count shrinks ~(1-t)^2 while
    * the count-based variant must join the full index.
    */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                              shingleWidth: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sets = df.select(col(idCol).as("id"),
        sort_array(shingleHashes(col(textCol), shingleWidth)).as("sh"))
      .withColumn("n", size(col("sh")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val prefixLen = (col("n") - ceil(col("n") * threshold) + 1).cast(IntegerType)
    val inv = sets.select(col("id"),
      explode(slice(col("sh"), lit(1), greatest(prefixLen, lit(1)))).as("h"))
    val cands = inv.as("x").join(inv.as("y"),
        col("x.h") === col("y.h") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    cands
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("shared").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("shared")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Leakage-safe train/val(/test) split: assign every near-dup
    * CLUSTER — not every doc — to a split, so no pair of
    * near-duplicates ever straddles an evaluation boundary (the
    * train/test-contamination failure mode a doc-level hash split
    * cannot prevent: two 0.9-Jaccard copies hash independently and
    * land on opposite sides ~2·p·(1−p) of the time). Composition of
    * two green primitives: [[connectedComponents]] over the supplied
    * near-dup pair graph gives each doc its cluster's canonical
    * (min) id, then [[Frames.hashSplit]] keyed on the CANONICAL id —
    * a map-only portable-hash range test, so every member of a
    * cluster inherits the identical split with no extra join or
    * shuffle past the components step. Returns (doc_id,
    * canonical_id, split).
    *
    * Scale shape: components is the bounded driver union-find /
    * propagation hybrid (near-dup edge sets are a small fraction of
    * the corpus); everything after is map-only. Singleton docs are
    * their own canonical — their assignment degenerates to the plain
    * doc-level hash split.
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
                       splits: Seq[(String, Double)]): DataFrame = {
    val comp = connectedComponents(df.select(col(idCol).as("id")), pairs)
      .select(col("id").as(idCol), col("component").as("canonical_id"))
    Frames.hashSplit(comp, "canonical_id", splits)
      .select(col(idCol), col("canonical_id"), col("split"))
  }

  /** Candidate-stage evaluation for near-dup banding — the dedup-side
    * analogue of [[Similarity.recallReport]], closing the tuning loop
    * a deployed LSH user runs: given the exact ground-truth pair set
    * (e.g. [[ngramJaccardPairs]] at the target threshold) and a
    * candidate pair set (e.g. [[minhashCandidatePairs]]), both as
    * (id_a, id_b) rows with id_a < id_b, emit one row (n_truth,
    * n_cand, n_matched, recall_micro, precision_micro) with both
    * ratios as exact integer micro-fractions (floor-div — no float
    * boundary for the oracle to diverge on). Candidate recall is what
    * the (bands, rowsPerBand) S-curve buys; candidate precision is
    * what the exact-verification stage pays for — neither is visible
    * from the verified output alone.
    *
    * Contract: an EMPTY ground-truth pair set fails loudly (an
    * evaluation without positives is meaningless — the
    * [[Similarity.recallReport]] contract); an empty CANDIDATE set is
    * a legitimate sweep point (bands too selective) and yields
    * precision_micro NULL through an explicit CASE both engines
    * share, with recall_micro 0.
    *
    * Scale shape: pair-set-sized, never corpus-sized — one
    * (id_a, id_b) equi-join plus three single-row aggregates.
    */
  def pairEvalReport(truth: DataFrame, cand: DataFrame): DataFrame = {
    val tN = truth.agg(count(lit(1)).as("n_truth"))
    val cN = cand.agg(count(lit(1)).as("n_cand"))
    val m = truth.join(cand, Seq("id_a", "id_b"))
      .agg(count(lit(1)).as("n_matched"))
    tN.crossJoin(cN).crossJoin(m)
      .select(col("n_truth"), col("n_cand"), col("n_matched"),
        expr("""CASE WHEN n_truth = 0
                THEN CAST(raise_error('pairEvalReport: empty ground-truth pair set') AS BIGINT)
                ELSE n_matched * 1000000 div n_truth END""").as("recall_micro"),
        expr("""CASE WHEN n_cand = 0 THEN CAST(NULL AS BIGINT)
                ELSE n_matched * 1000000 div n_cand END""").as("precision_micro"))
  }
}
