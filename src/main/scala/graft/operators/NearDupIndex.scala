package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Persisted MinHash+LSH near-dup index — the NEAR-duplicate member
  * of the serve-many index split, beside [[DedupIndex]]'s exact tier:
  * "is anything in today's crawl a near-dup of the historical
  * corpus?" answered without recomputing a single historical
  * signature ([[Dedup.minhashNearDupPairsCross]] re-signatures the
  * whole corpus on every call — the one-shot shape this index
  * amortizes).
  *
  * Tables under a prefix:
  *   - `{prefix}_buckets` (band, bucket, corpus_id) — the LSH
  *     postings; a signature row is a PER-DOC FACT, so appends are
  *     exact by construction (the [[IvfIndex]] argument);
  *   - `{prefix}_sets` (corpus_id, corpus_sh) — the shingle-hash
  *     sets the exact-Jaccard verification tier reads, so candidates
  *     verify without the corpus TEXT;
  *   - `{prefix}_bkdigest` — Bloom words over mixed (band, bucket)
  *     keys: the map-only prefilter that lets an all-new batch (no
  *     bucket collisions) skip the index entirely;
  *   - `{prefix}_stats` — n_docs, lineage ledger, the SIGNATURE
  *     PARAMS (numHashes/bands/shingleWidth) — gates
  *     read them from here, so a probe can never silently use
  *     different hashing than the index was built with;
  *   - `{prefix}_intent` — torn-append marker (shared discipline).
  */
object NearDupIndex {

  private def requireNotTorn(spark: SparkSession, prefix: String,
                             op: String): Unit =
    require(!spark.catalog.tableExists(s"${prefix}_intent"),
      s"$op: near-dup index $prefix has a pending append intent marker " +
        s"(${prefix}_intent) — a prior append crashed mid-fold; rebuild " +
        "the index (or restore a consistent snapshot) first.")

  /** Mixed LONG key for the (band, bucket) Bloom — collisions only
    * add digest false positives, which the candidate join absorbs.
    * xxhash64, not an arithmetic fold: ANSI mode makes a wrapping
    * multiply an error, not a mix.
    */
  private def bucketKey(band: Column, bucket: Column): Column =
    xxhash64(band, bucket)

  private case class Meta(nDocs: Long, lineage: String, mBits: Int, k: Int,
                          numHashes: Int, bands: Int, shingleWidth: Int)

  private def readMeta(spark: SparkSession, prefix: String): Meta = {
    val r = spark.table(s"${prefix}_stats").head()
    Meta(r.getAs[Long]("n_docs"), r.getAs[String]("lineage"),
      r.getAs[Int]("digest_mbits"), r.getAs[Int]("digest_k"),
      r.getAs[Int]("num_hashes"), r.getAs[Int]("bands"),
      r.getAs[Int]("shingle_w"))
  }

  private def writeDigest(spark: SparkSession, prefix: String,
                          digest: DataFrame): Unit = {
    Bucketing.dropTableAndLocation(spark, s"${prefix}_bkdigest")
    digest.write.mode("overwrite").saveAsTable(s"${prefix}_bkdigest")
  }

  /** O(delta) digest maintenance: only the DELTA's nonzero words are
    * APPENDED as rows — the probe's bit_or fold per idx is exact
    * because Bloom bits only ever turn on, so the fold is order-free.
    * A full rewrite (mBits/64 rows — corpus-sized at 16 bits/key)
    * happens only at build and on resize boundaries, which also
    * compacts the appended rows away.
    */
  private def appendDigestWords(spark: SparkSession, prefix: String,
                                delta: DataFrame): Unit =
    delta.write.mode("append").saveAsTable(s"${prefix}_bkdigest")

  def buildNearDupIndex(corpus: DataFrame, idCol: String, textCol: String,
                        prefix: String, numHashes: Int = 64, bands: Int = 16,
                        shingleWidth: Int = 3, lineage: String = "full",
                        digestK: Int = 4): Unit = {
    val spark = corpus.sparkSession
    val (buckets, sets) = Dedup.nearDupIndex(corpus, idCol, textCol,
      numHashes, bands, shingleWidth)
    Bucketing.dropTableAndLocation(spark, s"${prefix}_buckets")
    buckets.write.mode("overwrite").saveAsTable(s"${prefix}_buckets")
    Bucketing.dropTableAndLocation(spark, s"${prefix}_sets")
    sets.write.mode("overwrite").saveAsTable(s"${prefix}_sets")
    val nDocs = spark.table(s"${prefix}_sets").count()
    val mBits = Retrieval.digestSizing(nDocs * bands)
    writeDigest(spark, prefix, Bloom.blockedDigestDf(
      spark.table(s"${prefix}_buckets")
        .select(bucketKey(col("band"), col("bucket")).as("bk")),
      "bk", mBits, digestK))
    Bucketing.dropTableAndLocation(spark, s"${prefix}_stats")
    spark.range(1).select(
        lit(nDocs).as("n_docs"), lit(lineage).as("lineage"),
        lit(mBits).as("digest_mbits"), lit(digestK).as("digest_k"),
        lit(numHashes).as("num_hashes"), lit(bands).as("bands"),
        lit(shingleWidth).as("shingle_w"))
      .write.mode("overwrite").saveAsTable(s"${prefix}_stats")
    Bucketing.dropTableAndLocation(spark, s"${prefix}_intent")
  }

  /** Near-dup pairs between a delta and the PERSISTED index —
    * row-for-row the [[Dedup.minhashNearDupPairsCross]] answer (the
    * signature params come from the index's own stats, so the probe
    * CANNOT hash differently than the build did). Plan shape: the
    * delta signatures are one map-only pass; the digest prefilter
    * drops every delta bucket the index has never seen (an all-new
    * batch skips the index entirely); surviving buckets join the
    * postings, and candidates verify by exact Jaccard against the
    * sets table — never against corpus text.
    *
    * Returns (delta_id, corpus_id, jaccard), jaccard >= threshold.
    */
  def gateNearDups(spark: SparkSession, prefix: String, delta: DataFrame,
                   idCol: String, textCol: String,
                   threshold: Double): DataFrame = {
    requireNotTorn(spark, prefix, "gateNearDups")
    val m = readMeta(spark, prefix)
    val (db, dsets) = Dedup.nearDupIndex(delta, idCol, textCol,
      m.numHashes, m.bands, m.shingleWidth)
    val deltaBuckets = db.select(col("corpus_id").as("delta_id"),
      col("band"), col("bucket"))
    val flagged = Bloom.blockedDigestFlagged(deltaBuckets,
      bucketKey(col("band"), col("bucket")),
      spark.table(s"${prefix}_bkdigest"), m.mBits, m.k)
    val empty = spark.range(0).select(lit(0L).as("delta_id"),
      lit(0L).as("corpus_id"), lit(0.0).as("jaccard"))
    if (flagged.isEmpty) empty
    else {
      val cands = flagged
        .join(spark.table(s"${prefix}_buckets"), Seq("band", "bucket"))
        .select(col("delta_id"), col("corpus_id")).distinct()
      cands
        .join(dsets.select(col("corpus_id").as("delta_id"),
          col("corpus_sh").as("sh_a")), Seq("delta_id"))
        .join(spark.table(s"${prefix}_sets")
          .select(col("corpus_id"), col("corpus_sh").as("sh_b")),
          Seq("corpus_id"))
        .withColumn("jaccard",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
        .filter(col("jaccard") >= threshold)
        .select(col("delta_id"), col("corpus_id"), col("jaccard"))
    }
  }

  /** Append NEW docs in O(delta): their buckets and shingle sets land
    * beside the existing postings (per-doc facts — probe answers over
    * build(base)+append(delta) are identical to build(base ∪ delta)),
    * the bucket digest grows by APPENDING the delta's nonzero Bloom
    * words as rows ([[appendDigestWords]] — the read-side OR-fold is
    * bit-identical to a full rebuild because word contributions are
    * per-key pure and bits only turn on; a full postings scan happens
    * only when the digest crosses a [[Retrieval.digestSizing]] resize
    * boundary), and the fold is bracketed by the intent marker. The
    * id guard refuses a corpus_id already in the sets table (an id
    * collision would fork verification).
    */
  def appendToNearDupIndex(spark: SparkSession, prefix: String,
                           newDocs: DataFrame, idCol: String, textCol: String,
                           lineageTag: String = ""): Unit = {
    require(!newDocs.isEmpty, "appendToNearDupIndex: delta is empty — " +
      "nothing to append (guard upstream, or skip the fold)")
    requireNotTorn(spark, prefix, "appendToNearDupIndex")
    val m = readMeta(spark, prefix)
    val deltaFp = IndexStore.corpusFingerprint(newDocs, Seq(idCol, textCol))
    val entry = if (lineageTag.nonEmpty) s"$lineageTag:$deltaFp" else deltaFp
    val (buckets, sets) = Dedup.nearDupIndex(newDocs, idCol, textCol,
      m.numHashes, m.bands, m.shingleWidth)
    val clash = spark.table(s"${prefix}_sets")
      .join(sets.select(col("corpus_id")), Seq("corpus_id"), "left_semi")
      .select(col("corpus_id")).limit(1).collect()
    require(clash.isEmpty,
      s"appendToNearDupIndex: delta re-submits doc id ${clash.headOption.map(_.get(0)).getOrElse("")} " +
        s"already in $prefix — append is for NEW docs; rebuild to replace")
    Bucketing.dropTableAndLocation(spark, s"${prefix}_intent")
    spark.range(1).select(lit(entry).as("entry"),
        lit(m.nDocs).as("n_docs_before"))
      .write.mode("overwrite").saveAsTable(s"${prefix}_intent")
    buckets.write.mode("append").saveAsTable(s"${prefix}_buckets")
    sets.write.mode("append").saveAsTable(s"${prefix}_sets")
    val nTotal = spark.table(s"${prefix}_sets").count()
    val mBits = Retrieval.digestSizing(nTotal * m.bands)
    if (mBits == m.mBits) {
      // O(delta) path: append only the delta's nonzero words — the
      // stored digest is never read, let alone rewritten (postings
      // are corpus×bands rows and the word array is corpus-sized at
      // 16 bits/key; a per-append touch of either is the cost this
      // index must not pay)
      val deltaKeys = buckets
        .select(bucketKey(col("band"), col("bucket")).as("bk"))
      if (!deltaKeys.isEmpty)
        appendDigestWords(spark, prefix,
          Bloom.blockedDigestDf(deltaKeys, "bk", mBits, m.k))
    } else
      // resize boundary: the one full-postings rebuild, amortized
      // log-many times over an index's lifetime (also compacts the
      // appended word rows away)
      writeDigest(spark, prefix, Bloom.blockedDigestDf(
        spark.table(s"${prefix}_buckets")
          .select(bucketKey(col("band"), col("bucket")).as("bk")),
        "bk", mBits, m.k))
    Bucketing.dropTableAndLocation(spark, s"${prefix}_stats")
    spark.range(1).select(
        lit(nTotal).as("n_docs"),
        lit(s"${m.lineage}+$entry").as("lineage"),
        lit(mBits).as("digest_mbits"), lit(m.k).as("digest_k"),
        lit(m.numHashes).as("num_hashes"), lit(m.bands).as("bands"),
        lit(m.shingleWidth).as("shingle_w"))
      .write.mode("overwrite").saveAsTable(s"${prefix}_stats")
    Bucketing.dropTableAndLocation(spark, s"${prefix}_intent") // commit
  }

  /** Build-once gate keyed by corpus fingerprint + signature params. */
  def nearDupIndexCached(corpus: DataFrame, idCol: String, textCol: String,
                         numHashes: Int = 64, bands: Int = 16,
                         shingleWidth: Int = 3,
                         namespace: String = "ndidx_v1"): String = {
    val spark = corpus.sparkSession
    val fp = IndexStore.corpusFingerprint(corpus, Seq(idCol, textCol))
    val prefix = s"${namespace}_${fp}_h${numHashes}b${bands}w${shingleWidth}"
    val have = Seq("buckets", "sets", "bkdigest", "stats")
      .forall(s => spark.catalog.tableExists(s"${prefix}_$s"))
    if (!have) buildNearDupIndex(corpus, idCol, textCol, prefix, numHashes,
      bands, shingleWidth, lineage = fp)
    prefix
  }

  /** Build-once gate for the appended composite, idempotent via the
    * lineage ledger.
    */
  def nearDupAppendCached(base: DataFrame, delta: DataFrame,
                          idCol: String, textCol: String,
                          numHashes: Int = 64, bands: Int = 16,
                          shingleWidth: Int = 3): String = {
    val spark = base.sparkSession
    val baseFp = IndexStore.corpusFingerprint(base, Seq(idCol, textCol))
    val deltaFp = IndexStore.corpusFingerprint(delta, Seq(idCol, textCol))
    // every signature param is part of the key — same corpora under
    // different (numHashes, bands, shingleWidth) must NOT resolve to
    // the same cached index, or the second caller would silently probe
    // with the first caller's hashing
    val prefix = s"ndidx_v1_${baseFp}_plus_${deltaFp}_h${numHashes}b$bands" +
      s"w$shingleWidth"
    val have = Seq("buckets", "sets", "bkdigest", "stats")
      .forall(s => spark.catalog.tableExists(s"${prefix}_$s"))
    if (!have) buildNearDupIndex(base, idCol, textCol, prefix, numHashes,
      bands, shingleWidth, lineage = baseFp)
    val lineage = spark.table(s"${prefix}_stats").head().getAs[String]("lineage")
    if (!IvfIndex.lineageHasFingerprint(lineage, deltaFp))
      appendToNearDupIndex(spark, prefix, delta, idCol, textCol)
    prefix
  }
}
