package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, FloatType, IntegerType}

/** Persisted ANN model artifacts — the train-once / serve-many side
  * of the similarity stack. Every `Similarity` index needs a small
  * trained model (IVF coarse centroids: cells × dim floats; PQ
  * codebooks: m × ksub × dim/m floats); retraining it inline on
  * every query run is correct but burns the k-means passes a deployed
  * index pays exactly once (the reference caches source-level fetches
  * the same way — wikidata.py:26 `@cache`; this is that idiom at
  * model-artifact scale).
  *
  * Discipline (the `TextAnalysis.loadWeights` contract): artifacts
  * are plain parquet — engine-neutral, schema-checked — and every
  * load REVALIDATES: exact row count, dense distinct key coverage,
  * exact vector width, finite float entries. A malformed or stale
  * artifact fails loudly at plan-build time, never as silently wrong
  * neighbors. Float32 values round-trip parquet bit-exactly, so a
  * loaded index reproduces the in-line-trained search bit-for-bit
  * (the `sim_topk_*_loaded` oracle rows hold the proof).
  *
  * Caching key: artifacts live under a caller-supplied base dir at a
  * path derived from the corpus FINGERPRINT (row count + order-
  * independent sum of per-row hashes over id AND vector content)
  * plus all training parameters. Any corpus or hyper-parameter change
  * misses the cache and retrains; a hit costs one KB-sized parquet
  * read instead of the Lloyd iteration.
  */
object IndexStore {

  /** Order-independent corpus fingerprint over id AND CONTENT
    * columns: row count + mod-p sum of per-row xxhash64 over all the
    * named columns — one map-side-combined aggregate; decimal sum so
    * the checksum is exact at any scale (the shardManifest rule).
    *
    * Content must be in the key: two corpora with the same id set but
    * different vectors (the sf0.001 vs sf0.01 test tables do exactly
    * this) would otherwise collide and serve each other's models.
    * This is a CACHE key, not an oracle-replayed value, so the
    * non-portable xxhash64 (which hashes array columns directly) is
    * the right tool.
    */
  def corpusFingerprint(df: DataFrame, cols: Seq[String]): String = {
    require(cols.nonEmpty, "fingerprint needs at least one column")
    val r = df.agg(count(lit(1)).as("n"),
      pmod(sum(pmod(xxhash64(cols.map(col): _*), lit(Frames.HashP))
          .cast(DecimalType(38, 0))),
        lit(Frames.HashP).cast(DecimalType(38, 0))).cast("long").as("h"))
      .head()
    s"n${r.getLong(0)}h${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }

  /** True when a prior `save*` completed at `path` (parquet commit
    * marker — a torn write never has one, so a crashed save retrains
    * instead of loading half an artifact).
    */
  def exists(path: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS"))

  // ---------------------------------------------------------------
  // IVF coarse centroids: rows (cell INT, vec ARRAY<FLOAT>)
  // ---------------------------------------------------------------

  def saveIvfCentroids(spark: SparkSession, centroids: Array[Array[Float]],
                       path: String): Unit = {
    import spark.implicits._
    require(centroids.nonEmpty, "no centroids to save")
    centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell", "vec")
      .coalesce(1) // KB-sized: one file keeps the artifact atomic + cheap to load
      .write.mode("overwrite").parquet(path)
  }

  /** Load + revalidate IVF centroids. Loud on: wrong row count, null
    * or out-of-range or duplicate cell ids, wrong vector width,
    * non-finite entries.
    */
  def loadIvfCentroids(spark: SparkSession, path: String,
                       nCentroids: Int, dim: Int): Array[Array[Float]] = {
    require(nCentroids > 0 && dim > 0, "nCentroids and dim must be positive")
    val rows = spark.read.parquet(path)
      .select(col("cell").cast(IntegerType), col("vec").cast(
        org.apache.spark.sql.types.ArrayType(FloatType)))
      .collect()
    require(rows.length == nCentroids,
      s"IVF artifact at $path has ${rows.length} rows, expected $nCentroids")
    val out = Array.ofDim[Array[Float]](nCentroids)
    rows.foreach { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1),
        s"IVF artifact at $path has a null cell or vector")
      val c = r.getInt(0)
      require(c >= 0 && c < nCentroids,
        s"IVF artifact cell $c outside [0, $nCentroids)")
      require(out(c) == null, s"IVF artifact has duplicate cell $c")
      val v = r.getSeq[Float](1).toArray
      require(v.length == dim,
        s"IVF artifact cell $c has dim ${v.length}, expected $dim")
      require(v.forall(x => !x.isNaN && !x.isInfinite),
        s"IVF artifact cell $c has a non-finite entry")
      out(c) = v
    }
    out
  }

  /** Train-once IVF centroids: load from the fingerprint+params-keyed
    * artifact when present, else train, save, and RE-LOAD (the served
    * path is always the validated artifact — a save/load asymmetry
    * could otherwise hide until the first cache hit).
    */
  def ivfCentroidsCached(corpus: DataFrame, nCentroids: Int, dim: Int,
                         baseDir: String, iterations: Int = 1,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         seed: Long = 42L): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    val fp = corpusFingerprint(corpus, Seq(idCol, vecCol))
    val path = s"$baseDir/ivf_${fp}_c${nCentroids}_d${dim}_i${iterations}_s$seed"
    if (!exists(path))
      saveIvfCentroids(spark, Similarity.trainIvfCentroids(corpus, nCentroids,
        dim, iterations, idCol, vecCol, seed), path)
    loadIvfCentroids(spark, path, nCentroids, dim)
  }

  // ---------------------------------------------------------------
  // PQ codebooks: rows (j INT, cell INT, vec ARRAY<FLOAT>)
  // ---------------------------------------------------------------

  def savePqCodebooks(spark: SparkSession, codebooks: Array[Array[Array[Float]]],
                      path: String): Unit = {
    import spark.implicits._
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "no codebooks to save")
    codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (v, c) => (j, c, v.toSeq) }
    }.toSeq.toDF("j", "cell", "vec")
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load + revalidate PQ codebooks: m subspaces × ksub codewords ×
    * dsub floats, same loudness contract as [[loadIvfCentroids]].
    */
  def loadPqCodebooks(spark: SparkSession, path: String,
                      m: Int, ksub: Int, dsub: Int): Array[Array[Array[Float]]] = {
    require(m > 0 && ksub > 0 && dsub > 0, "m, ksub, dsub must be positive")
    val rows = spark.read.parquet(path)
      .select(col("j").cast(IntegerType), col("cell").cast(IntegerType),
        col("vec").cast(org.apache.spark.sql.types.ArrayType(FloatType)))
      .collect()
    require(rows.length == m * ksub,
      s"PQ artifact at $path has ${rows.length} rows, expected ${m * ksub}")
    val out = Array.fill[Array[Float]](m, ksub)(null)
    rows.foreach { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2),
        s"PQ artifact at $path has a null subspace, cell or vector")
      val (j, c) = (r.getInt(0), r.getInt(1))
      require(j >= 0 && j < m, s"PQ artifact subspace $j outside [0, $m)")
      require(c >= 0 && c < ksub, s"PQ artifact cell $c outside [0, $ksub)")
      require(out(j)(c) == null, s"PQ artifact has duplicate codeword ($j, $c)")
      val v = r.getSeq[Float](2).toArray
      require(v.length == dsub,
        s"PQ artifact codeword ($j, $c) has dim ${v.length}, expected $dsub")
      require(v.forall(x => !x.isNaN && !x.isInfinite),
        s"PQ artifact codeword ($j, $c) has a non-finite entry")
      out(j)(c) = v
    }
    out
  }

  // ---------------------------------------------------------------
  // Bloom decontamination bit arrays: rows (w INT, bits LONG) — the
  // benchmark suite's shingle filter is built once when the suite is
  // versioned, then served to every ingest gate and curation run
  // ---------------------------------------------------------------

  def saveBloomWords(spark: SparkSession, words: Array[Long],
                     path: String): Unit = {
    import spark.implicits._
    require(words.nonEmpty, "no bloom words to save")
    words.zipWithIndex.map { case (b, w) => (w, b) }.toSeq
      .toDF("w", "bits")
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load + revalidate a Bloom bit array: exactly mBits/64 rows with
    * dense word indexes and no nulls. A truncated or permuted
    * artifact would silently clear (or scramble) reference shingles —
    * exactly the failure a decontamination gate must never eat.
    */
  def loadBloomWords(spark: SparkSession, path: String,
                     mBits: Int): Array[Long] = {
    require(mBits >= 64 && mBits % 64 == 0, "mBits must be a positive multiple of 64")
    val n = mBits / 64
    val rows = spark.read.parquet(path)
      .select(col("w").cast(IntegerType), col("bits").cast("long"))
      .collect()
    require(rows.length == n,
      s"bloom artifact at $path has ${rows.length} words, expected $n")
    val out = new Array[Long](n)
    val seen = new Array[Boolean](n)
    rows.foreach { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1),
        s"bloom artifact at $path has a null word or bits")
      val w = r.getInt(0)
      require(w >= 0 && w < n, s"bloom artifact word $w outside [0, $n)")
      require(!seen(w), s"bloom artifact has duplicate word $w")
      seen(w) = true
      out(w) = r.getLong(1)
    }
    out
  }

  /** Build-once Bloom filter — [[ivfCentroidsCached]]'s contract for
    * the decontamination bit array, keyed by the REFERENCE corpus
    * fingerprint and all gate parameters.
    */
  def bloomWordsCached(ref: DataFrame, textCol: String, mBits: Int,
                       kHashes: Int, shingleW: Int,
                       baseDir: String): Array[Long] = {
    val spark = ref.sparkSession
    val fp = corpusFingerprint(ref, Seq(textCol))
    val path = s"$baseDir/bloom_${fp}_m${mBits}_k${kHashes}_w$shingleW"
    if (!exists(path))
      saveBloomWords(spark,
        Bloom.buildBloomWords(ref, textCol, mBits, kHashes, shingleW), path)
    loadBloomWords(spark, path, mBits)
  }

  // ---------------------------------------------------------------
  // BPE tokenizer merges: rows (rank INT, merge STRING, cnt LONG) —
  // THE canonical training-pipeline artifact (a tokenizer is trained
  // once and versioned forever; retraining per job would silently
  // change every token count downstream)
  // ---------------------------------------------------------------

  def saveBpeMerges(spark: SparkSession, merges: Seq[(String, Long)],
                    path: String): Unit = {
    import spark.implicits._
    require(merges.nonEmpty, "no merges to save")
    merges.zipWithIndex.map { case ((m, c), r) => (r, m, c) }.toSeq
      .toDF("rank", "merge", "cnt")
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load + revalidate a merge list: dense ranks from 0 in training
    * order, non-null merges each containing the symbol separator
    * (a merge without it could never have come from training),
    * positive counts. Training order is the tokenizer — a permuted
    * artifact would silently re-segment every word, so order is
    * reconstructed from the explicit rank column, never file order.
    */
  def loadBpeMerges(spark: SparkSession, path: String): Seq[String] = {
    val rows = spark.read.parquet(path)
      .select(col("rank").cast(IntegerType), col("merge"), col("cnt").cast("long"))
      .collect()
    require(rows.nonEmpty, s"BPE artifact at $path is empty")
    val out = Array.ofDim[String](rows.length)
    rows.foreach { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2),
        s"BPE artifact at $path has a null rank, merge or count")
      val rank = r.getInt(0)
      require(rank >= 0 && rank < rows.length,
        s"BPE artifact rank $rank outside [0, ${rows.length})")
      require(out(rank) == null, s"BPE artifact has duplicate rank $rank")
      val m = r.getString(1)
      require(m.contains(TextAnalysis.BpeSep),
        s"BPE artifact rank $rank merge lacks the symbol separator")
      require(r.getLong(2) > 0L, s"BPE artifact rank $rank has count <= 0")
      out(rank) = m
    }
    out.toSeq
  }

  /** Train-once BPE merges — [[ivfCentroidsCached]]'s contract for
    * the tokenizer artifact. Note the artifact may hold FEWER than
    * `nMerges` rows when training exhausts the pair space; the loaded
    * list is whatever training produced, which is exactly what a
    * served tokenizer must replay.
    */
  def bpeMergesCached(corpus: DataFrame, textCol: String, nMerges: Int,
                      baseDir: String): Seq[String] = {
    require(nMerges > 0, "nMerges must be positive")
    val spark = corpus.sparkSession
    val fp = corpusFingerprint(corpus, Seq(textCol))
    val path = s"$baseDir/bpe_${fp}_m$nMerges"
    if (!exists(path))
      saveBpeMerges(spark,
        TextAnalysis.trainBpeMerges(corpus, textCol, nMerges), path)
    loadBpeMerges(spark, path)
  }

  /** Train-once language profiles — the BPE artifact contract for
    * the char-n-gram language classifier: fingerprint-keyed parquet
    * of (lang, bucket, w_micro) rows, trained+saved on first run,
    * validated LOUDLY at every load (the loadLangProfiles checks).
    * Integer weights round-trip parquet exactly, so a served
    * classifier scores bit-identically to the inline one.
    */
  def langProfilesCached(panel: DataFrame, textCol: String, langCol: String,
                         d: Int, baseDir: String)
      : Seq[(String, Array[Long])] = {
    val spark = panel.sparkSession
    val fp = corpusFingerprint(panel, Seq(langCol, textCol))
    val path = s"$baseDir/langprof_${fp}_d$d"
    if (!exists(path))
      TextAnalysis.trainLangProfiles(panel, textCol, langCol, d)
        .coalesce(1).write.mode("overwrite").parquet(path)
    TextAnalysis.loadLangProfiles(spark.read.parquet(path), d)
  }

  /** Train-once WordPiece merges — the BPE artifact contract
    * (format, fingerprint keying, load-time validation) with the
    * likelihood-objective trainer; score_q rides in the cnt slot
    * (always positive, and always int64-sized: score_q ≤ 10^12 since
    * every pair occurrence is an occurrence of each side), so the
    * loader's checks apply unchanged.
    */
  def wordpieceMergesCached(corpus: DataFrame, textCol: String, nMerges: Int,
                            baseDir: String): Seq[String] = {
    require(nMerges > 0, "nMerges must be positive")
    val spark = corpus.sparkSession
    val fp = corpusFingerprint(corpus, Seq(textCol))
    val path = s"$baseDir/wordpiece_${fp}_m$nMerges"
    if (!exists(path))
      saveBpeMerges(spark,
        TextAnalysis.trainWordpieceMerges(corpus, textCol, nMerges), path)
    loadBpeMerges(spark, path)
  }

  /** Persist a trained unigram-LM piece vocabulary (piece, micro
    * log-prob score) — the SentencePiece-family tokenizer artifact
    * beside the BPE merge list.
    */
  def saveUnigramVocab(spark: SparkSession, vocab: Seq[(String, Long)],
                       path: String): Unit = {
    import spark.implicits._
    require(vocab.nonEmpty, "no vocab to save")
    vocab.toDF("piece", "score_micro")
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load + revalidate a unigram vocab: non-null non-empty pieces,
    * each unique, strictly negative micro scores (a zero or positive
    * log-prob could never come from training), and at least one
    * single-char piece (without the char tier the Viterbi can dead-end
    * on an unreachable position). Order is canonical (piece ASC) so
    * the expression payload is deterministic regardless of file order.
    */
  def loadUnigramVocab(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val rows = spark.read.parquet(path)
      .select(col("piece"), col("score_micro").cast("long"))
      .collect()
    require(rows.nonEmpty, s"unigram vocab artifact at $path is empty")
    val out = rows.map { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1),
        s"unigram vocab artifact at $path has a null piece or score")
      val p = r.getString(0)
      require(p.nonEmpty, s"unigram vocab artifact at $path has an empty piece")
      require(r.getLong(1) < 0L,
        s"unigram vocab artifact piece '$p' has a non-negative score")
      (p, r.getLong(1))
    }.toSeq
    require(out.map(_._1).distinct.length == out.length,
      s"unigram vocab artifact at $path has duplicate pieces")
    require(out.exists(_._1.length == 1),
      s"unigram vocab artifact at $path lacks single-char pieces")
    out.sortBy(_._1)
  }

  /** Train-once unigram vocab — [[bpeMergesCached]]'s contract for
    * the other tokenizer family; prefix carries every training param
    * so two calls with different (topK, maxPieceLen) never alias.
    */
  def unigramVocabCached(corpus: DataFrame, textCol: String, topK: Int,
                         maxPieceLen: Int, baseDir: String): Seq[(String, Long)] = {
    require(topK > 0 && maxPieceLen >= 1, "bad unigram vocab params")
    val spark = corpus.sparkSession
    val fp = corpusFingerprint(corpus, Seq(textCol))
    val path = s"$baseDir/univoc_${fp}_k${topK}l$maxPieceLen"
    if (!exists(path))
      saveUnigramVocab(spark,
        TextAnalysis.trainUnigramVocab(corpus, textCol, topK, maxPieceLen), path)
    loadUnigramVocab(spark, path)
  }

  // ---------------------------------------------------------------
  // Sketch state: CMS counter grids (j INT, pos LONG, cnt LONG) and
  // HLL register tables (bucket LONG, mj INT). This is the state a
  // long-lived monitor accumulates (DocStreams.cmsCountersWindowed /
  // distinctTermsWindowed); both merge exactly (CMS by cell-sum, HLL
  // by bucket-max), so saved state from yesterday folds into today's
  // scan without re-reading anything. Unlike the centroid artifacts
  // these stay DataFrames end to end — a grid at width 2^22 is
  // millions of rows, so validation is ONE aggregate action, never a
  // driver collect.
  // ---------------------------------------------------------------

  def saveCmsGrid(grid: DataFrame, path: String): Unit =
    grid.select(col("j").cast(IntegerType), col("pos").cast("long"),
        col("cnt").cast("long"))
      .coalesce(1) // grid-sized (≤ depth·width rows): one file, atomic
      .write.mode("overwrite").parquet(path)

  /** Load + revalidate a CMS counter grid. Loud on: nulls, j outside
    * [1, depth], pos outside [0, width), non-positive counts,
    * duplicate (j, pos) cells, more rows than the grid has cells. A
    * corrupted grid would silently UNDER-estimate (min-over-rows
    * reads a clobbered cell) — the one failure CMS's est ≥ exact
    * contract can never show, hence the loudness.
    */
  def loadCmsGrid(spark: SparkSession, path: String, depth: Int,
                  width: Int): DataFrame = {
    CountMin.checkParams(depth, width)
    val grid = spark.read.parquet(path)
      .select(col("j").cast(IntegerType), col("pos").cast("long"),
        col("cnt").cast("long"))
    val c = grid.agg(
      count(lit(1)).as("n"),
      count_distinct(col("j"), col("pos")).as("n_cells"),
      sum(when(col("j").isNull || col("pos").isNull || col("cnt").isNull, 1L)
        .otherwise(0L)).as("n_null"),
      min(col("j")).as("j_min"), max(col("j")).as("j_max"),
      min(col("pos")).as("p_min"), max(col("pos")).as("p_max"),
      min(col("cnt")).as("c_min")).head()
    val n = c.getLong(0)
    require(n > 0, s"CMS artifact at $path is empty")
    require(c.getLong(2) == 0L, s"CMS artifact at $path has null cells")
    require(c.getLong(1) == n,
      s"CMS artifact at $path has duplicate (j, pos) cells (${c.getLong(1)} distinct of $n)")
    require(n <= depth.toLong * width,
      s"CMS artifact at $path has $n rows, more than the $depth x $width grid")
    require(c.getInt(3) >= 1 && c.getInt(4) <= depth,
      s"CMS artifact at $path has row index outside [1, $depth]")
    require(c.getLong(5) >= 0L && c.getLong(6) < width,
      s"CMS artifact at $path has position outside [0, $width)")
    require(c.getLong(7) > 0L, s"CMS artifact at $path has a count <= 0")
    grid
  }

  /** Build-once CMS counter grid — [[ivfCentroidsCached]]'s contract
    * for sketch state, keyed by corpus fingerprint + grid shape. The
    * served path is always the validated artifact.
    */
  def cmsGridCached(docs: DataFrame, textCol: String, depth: Int, width: Int,
                    baseDir: String): DataFrame = {
    val spark = docs.sparkSession
    val fp = corpusFingerprint(docs, Seq(textCol))
    val path = s"$baseDir/cms_${fp}_d${depth}_w$width"
    if (!exists(path))
      saveCmsGrid(CountMin.cmsCounters(docs, textCol, depth, width), path)
    loadCmsGrid(spark, path, depth, width)
  }

  def saveHllRegisters(regs: DataFrame, path: String): Unit =
    regs.select(col("bucket").cast("long"), col("mj").cast(IntegerType))
      .coalesce(1) // ≤ m rows
      .write.mode("overwrite").parquet(path)

  /** Load + revalidate an HLL register table. Loud on: nulls, bucket
    * outside [0, m), duplicate buckets, rank outside [1, 31], more
    * rows than registers. A clobbered register would silently skew
    * the harmonic mean — there is no downstream invariant to catch
    * it, so the load is where it fails.
    */
  def loadHllRegisters(spark: SparkSession, path: String, m: Int): DataFrame = {
    require(m >= 16 && m <= (1 << 16) && (m & (m - 1)) == 0,
      s"m must be a power of two in [16, 2^16], got $m")
    val regs = spark.read.parquet(path)
      .select(col("bucket").cast("long"), col("mj").cast(IntegerType))
    val c = regs.agg(
      count(lit(1)).as("n"),
      count_distinct(col("bucket")).as("n_buckets"),
      sum(when(col("bucket").isNull || col("mj").isNull, 1L).otherwise(0L))
        .as("n_null"),
      min(col("bucket")).as("b_min"), max(col("bucket")).as("b_max"),
      min(col("mj")).as("r_min"), max(col("mj")).as("r_max")).head()
    val n = c.getLong(0)
    require(n > 0, s"HLL artifact at $path is empty")
    require(c.getLong(2) == 0L, s"HLL artifact at $path has null registers")
    require(c.getLong(1) == n,
      s"HLL artifact at $path has duplicate buckets (${c.getLong(1)} distinct of $n)")
    require(n <= m.toLong, s"HLL artifact at $path has $n rows, more than $m registers")
    require(c.getLong(3) >= 0L && c.getLong(4) < m,
      s"HLL artifact at $path has bucket outside [0, $m)")
    require(c.getInt(5) >= 1 && c.getInt(6) <= 31,
      s"HLL artifact at $path has rank outside [1, 31]")
    regs
  }

  /** Build-once HLL register table — sketch-state twin of
    * [[cmsGridCached]], keyed by corpus fingerprint + m.
    */
  def hllRegistersCached(docs: DataFrame, textCol: String, m: Int,
                         baseDir: String): DataFrame = {
    val spark = docs.sparkSession
    val fp = corpusFingerprint(docs, Seq(textCol))
    val path = s"$baseDir/hll_${fp}_m$m"
    if (!exists(path))
      saveHllRegisters(Hll.hllRegisters(docs, textCol, m), path)
    loadHllRegisters(spark, path, m)
  }

  /** Train-once PQ codebooks — [[ivfCentroidsCached]]'s contract for
    * the product-quantizer artifact.
    */
  def pqCodebooksCached(corpus: DataFrame, m: Int, ksub: Int, dim: Int,
                        baseDir: String, iterations: Int = 1,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        seed: Long = 42L): Array[Array[Array[Float]]] = {
    require(m > 0 && dim % m == 0, s"dim $dim must divide into m $m subspaces")
    val spark = corpus.sparkSession
    val fp = corpusFingerprint(corpus, Seq(idCol, vecCol))
    val path = s"$baseDir/pq_${fp}_m${m}_k${ksub}_d${dim}_i${iterations}_s$seed"
    if (!exists(path))
      savePqCodebooks(spark, Similarity.trainPqCodebooks(corpus, m, ksub, dim,
        iterations, idCol, vecCol, seed), path)
    loadPqCodebooks(spark, path, m, ksub, dim / m)
  }
}
