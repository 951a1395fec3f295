package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.NativeFunctions

/** Portable Bloom-filter decontamination — the MAP-ONLY benchmark-
  * overlap gate. [[Dedup]]'s `dedup_contamination` flavor answers the
  * same question ("does this training doc share a w-shingle with the
  * eval set?") with an exact shingle semi-join: correct, but the
  * corpus side pays an explode + shuffle per run. At 100 TB the scan
  * side of a decontamination pass must be join-free: build a Bloom
  * filter over the REFERENCE set's shingles once (reference panels
  * are test/benchmark suites — thousands of docs, not the corpus),
  * ship the bit array with the plan, and probe it per corpus row in a
  * native one-pass expression. Zero shuffles touch the corpus; the
  * filter costs mBits/8 bytes (32 KB at 2^21 bits).
  *
  * The price is false positives (never negatives). Both engines
  * replay the SAME bit arithmetic — portable shingle hashes
  * ([[graft.functions.PolyShingleHashes]]) and the double-squaring
  * position mixer ([[graft.functions.BloomShingleHits]]) — so the
  * probabilistic flags themselves are oracle-checkable bit-for-bit,
  * and [[bloomEval]] measures the FP rate against the exact join
  * truth (with the no-false-negative guarantee as a hard invariant:
  * `n_missed` is structurally 0).
  *
  * Sizing: fp ≈ (1 - e^(-k·n/m))^k for n reference shingles in m
  * bits; 10 bits/shingle at k=4 gives ~1.2% — size `mBits` to the
  * reference panel, not the corpus.
  */
object Bloom {

  private val P = 1000000007L

  /** The k bit positions of one shingle hash, as Columns (build side
    * only — the probe side computes the same sequence natively in
    * [[graft.functions.BloomShingleHits]]): h1 = h mod p, h2 =
    * square-mix(h1), pos_i = (h1 + i·h2) mod p mod mBits.
    */
  private[operators] def posColumns(h: Column, mBits: Int, kHashes: Int): Seq[Column] = {
    val h1 = pmod(h, lit(P))
    val h2 = pmod(pmod(h1 * h1, lit(P)) * lit(1000003L) + lit(54321L), lit(P))
    (1 to kHashes).map(i =>
      pmod(h1 + lit(i.toLong) * h2, lit(P)) % lit(mBits.toLong))
  }

  private def checkParams(mBits: Int, kHashes: Int): Unit = {
    require(mBits >= 64 && mBits % 64 == 0 && mBits <= (1 << 26),
      s"mBits must be a multiple of 64 in [64, 2^26], got $mBits")
    require(kHashes >= 1 && kHashes <= 8, s"kHashes must be in [1, 8], got $kHashes")
  }

  /** Build the bit array over the reference corpus's distinct
    * w-shingle hashes: explode positions, OR per 64-bit word (one
    * map-side-combined aggregate over ≤ mBits/64 groups), collect the
    * packed words. Loud on an empty reference — a silently all-zero
    * filter would "clear" every doc.
    */
  def buildBloomWords(ref: DataFrame, textCol: String, mBits: Int,
                      kHashes: Int, shingleW: Int): Array[Long] = {
    checkParams(mBits, kHashes)
    val rows = ref.select(explode(NativeFunctions.polyShingleHashes(
        Dedup.tokens(col(textCol)), shingleW)).as("h"))
      .select(explode(array(posColumns(col("h"), mBits, kHashes): _*)).as("pos"))
      .select(shiftright(col("pos"), 6).as("w"),
        call_function("shiftleft", lit(1L), pmod(col("pos"), lit(64L)).cast("int")).as("bit"))
      .groupBy("w").agg(bit_or(col("bit")).as("bits"))
      .collect()
    require(rows.nonEmpty, "bloom build: reference corpus has no shingles")
    val words = new Array[Long](mBits / 64)
    rows.foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    words
  }

  // ---- BLOCKED, PARTITIONED long-key digest ----------------------
  //
  // The literal-array digest above must collect to the driver and
  // broadcast inside an expression, which is what forced the 2^26
  // (8 MB) cap on every index family's fast path. The blocked form
  // removes both ceilings:
  //
  //   - REGISTER-BLOCKED: all kHashes probe bits land in ONE 64-bit
  //     word (word index from a second squaring round of the mixer —
  //     decorrelated from the in-word positions, the
  //     RademacherBuckets lesson), so a probe is one word lookup +
  //     one mask compare regardless of mBits. At the same ~16
  //     bits/key budget the FP rate stays in the same regime as the
  //     spread form (word loads concentrate: FP ≈ (load/64)^k with
  //     load ≈ 16·(64/16) bits ≈ 0.25 → ~0.4% at k=4 vs 0.24%) —
  //     the digest is a prefilter, so FP only costs confirms, never
  //     correctness.
  //   - PARTITIONED: the digest LIVES as (idx, word) rows and is
  //     probed by an equi-join on the word index — Catalyst
  //     broadcasts it while it is small and shuffles past the
  //     broadcast threshold, so mBits can grow to [[MaxBlockedMBits]]
  //     (2^30 bits = 128 MB = ~64M keys at 16 bits/key) with no
  //     driver collect anywhere on the build OR probe path.
  //
  // Append ≡ rebuild still holds: a key's (idx, word-mask)
  // contribution is a pure function of (key, mBits, kHashes), so
  // bit_or-folding appended delta rows with the base rows is
  // bit-equal to a from-scratch build at the same params.

  val MaxBlockedMBits: Long = 1L << 30

  private def checkBlockedParams(mBits: Long, kHashes: Int): Unit = {
    require(mBits >= 64 && mBits % 64 == 0 && mBits <= MaxBlockedMBits &&
      (mBits & (mBits - 1)) == 0,
      s"blocked digest mBits must be a 64-multiple power of two in [64, 2^30], got $mBits")
    require(kHashes >= 1 && kHashes <= 8, s"kHashes must be in [1, 8], got $kHashes")
  }

  /** Word index of a key's block: a THIRD mixing round (h2 squared
    * again) so block choice is decorrelated from the in-word bit
    * positions, which consume h1/h2.
    */
  private def blockedWordIdx(key: Column, mBits: Long): Column = {
    val h1 = pmod(key.cast("long"), lit(P))
    val h2 = pmod(pmod(h1 * h1, lit(P)) * lit(1000003L) + lit(54321L), lit(P))
    val h3 = pmod(pmod(h2 * h2, lit(P)) * lit(1000003L) + lit(54321L), lit(P))
    pmod(h3, lit(mBits / 64))
  }

  /** OR of the key's kHashes in-word bits: bit_i = (h1 + i·h2) mod 64. */
  private def blockedWordMask(key: Column, kHashes: Int): Column = {
    val h1 = pmod(key.cast("long"), lit(P))
    val h2 = pmod(pmod(h1 * h1, lit(P)) * lit(1000003L) + lit(54321L), lit(P))
    (1 to kHashes).map(i =>
      call_function("shiftleft", lit(1L),
        pmod(h1 + lit(i.toLong) * h2, lit(64L)).cast("int")))
      .reduce(_ bitwiseOR _)
  }

  /** The digest as (idx, word) NONZERO rows — one map-side-combined
    * aggregate over ≤ mBits/64 groups, never collected. Loud on an
    * empty key set (an all-zero digest would "clear" every probe).
    */
  def blockedDigestDf(keys: DataFrame, keyCol: String, mBits: Long,
                      kHashes: Int): DataFrame = {
    checkBlockedParams(mBits, kHashes)
    val df = keys
      .select(blockedWordIdx(col(keyCol), mBits).as("idx"),
        blockedWordMask(col(keyCol), kHashes).as("mask"))
      .groupBy(col("idx")).agg(bit_or(col("mask")).as("word"))
    df
  }

  /** Keep only the rows whose `key` is POSSIBLY in the digest (all k
    * in-word bits set) — the join-form probe: LEFT join on the word
    * index (missing word = definitely absent), one mask compare.
    * `digest` is the (idx, word) frame, possibly carrying appended
    * duplicate idx rows — folded here, lazily.
    */
  def blockedDigestFlagged(df: DataFrame, key: Column, digest: DataFrame,
                           mBits: Long, kHashes: Int): DataFrame = {
    checkBlockedParams(mBits, kHashes)
    val folded = digest.groupBy(col("idx")).agg(bit_or(col("word")).as("word"))
    df.withColumn("__d_idx", blockedWordIdx(key, mBits))
      .withColumn("__d_mask", blockedWordMask(key, kHashes))
      .join(folded, col("__d_idx") === col("idx"), "left")
      .filter(col("word").isNotNull &&
        col("word").bitwiseAND(col("__d_mask")) === col("__d_mask"))
      .drop("__d_idx", "__d_mask", "idx", "word")
  }

  /** Per-doc contamination card, entirely map-only: (id, n_shingles,
    * n_hits, contaminated). `n_hits` counts the doc's distinct
    * shingles whose k Bloom bits are all set; `contaminated` is the
    * gate a curation pipeline filters on. A NULL-text doc has no
    * shingles BY DEFINITION: it reads (0, 0, false) — it passes the
    * gate rather than propagating NULL into a downstream
    * `filter(!contaminated)` that would silently drop it.
    */
  def contaminationCard(corpus: DataFrame, idCol: String, textCol: String,
                        words: Array[Long], mBits: Int, kHashes: Int,
                        shingleW: Int): DataFrame = {
    checkParams(mBits, kHashes)
    corpus
      .select(col(idCol).as("id"),
        coalesce(
          NativeFunctions.polyShingleHashes(
            Dedup.tokens(col(textCol)), shingleW),
          array().cast("array<bigint>")).as("sh"))
      .select(col("id"), size(col("sh")).as("n_shingles"),
        NativeFunctions.bloomShingleHits(col("sh"), words, mBits, kHashes).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Two-tier EXACT decontamination — the deployment shape: the
    * map-only Bloom probe prefilters the corpus, and the exact
    * distinct-shingle semi-join confirms ONLY the flagged docs. No
    * false negatives means the prefilter loses nothing, so the result
    * is bit-identical to running the exact join over the whole corpus
    * — but the join (the only shuffle that scales with anything)
    * touches corpus·flag-rate rows instead of the corpus. The oracle
    * for this operator is the PLAIN exact truth with no Bloom
    * arithmetic at all: the filter must be invisible in the answer.
    * Output per corpus doc: (id, n_shared, contaminated) — distinct
    * shared shingle-hash count against the reference set.
    */
  def decontaminateExact(corpus: DataFrame, ref: DataFrame, idCol: String,
                         textCol: String, words: Array[Long], mBits: Int,
                         kHashes: Int, shingleW: Int): DataFrame = {
    def docShingles(df: DataFrame) = df.select(col(idCol).as("id"),
      explode(NativeFunctions.polyShingleHashes(
        Dedup.tokens(col(textCol)), shingleW)).as("h"))
    val suspects = contaminationCard(corpus, idCol, textCol, words, mBits,
        kHashes, shingleW)
      .filter(col("contaminated")).select(col("id"))
    val refH = docShingles(ref).select(col("h")).distinct()
    // shingles re-derive only for the flagged sliver; the big side of
    // the confirm join is suspects-sized, never corpus-sized
    val shared = docShingles(corpus.join(
        suspects.withColumnRenamed("id", idCol), Seq(idCol), "left_semi"))
      .join(refH, Seq("h"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_shared"))
    corpus.select(col(idCol).as("id")).join(shared, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** Bloom-vs-truth evaluation card (one row): flags from
    * [[contaminationCard]] against the exact distinct-shingle
    * semi-join truth. `n_missed` (truly contaminated but not flagged)
    * is structurally zero — a Bloom filter has no false negatives —
    * so a nonzero value is a portability bug, not a tuning problem;
    * `n_false_pos` is the tuning readout for `mBits`/`kHashes`.
    * Truth-side cost (the corpus shingle explode + join) is the eval
    * harness's price, paid here and not in the production gate.
    */
  def bloomEval(corpus: DataFrame, ref: DataFrame, idCol: String,
                textCol: String, words: Array[Long], mBits: Int,
                kHashes: Int, shingleW: Int): DataFrame = {
    def docShingles(df: DataFrame) = df.select(col(idCol).as("id"),
      explode(NativeFunctions.polyShingleHashes(
        Dedup.tokens(col(textCol)), shingleW)).as("h"))
    val flags = contaminationCard(corpus, idCol, textCol, words, mBits,
      kHashes, shingleW)
    val refH = docShingles(ref).select(col("h")).distinct()
    val truth = docShingles(corpus).join(refH, Seq("h"), "left_semi")
      .select(col("id")).distinct().withColumn("truly", lit(true))
    flags.join(truth, Seq("id"), "left").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_flagged"),
      sum(when(col("truly").isNotNull, 1L).otherwise(0L)).as("n_true"),
      sum(when(col("contaminated") && col("truly").isNull, 1L).otherwise(0L))
        .as("n_false_pos"),
      sum(when(!col("contaminated") && col("truly").isNotNull, 1L).otherwise(0L))
        .as("n_missed"))
  }
}
