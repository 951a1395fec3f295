package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.NativeFunctions

/** Persisted IVF vector index — the assignments side of the serve-many
  * split whose centroid side landed in [[IndexStore.ivfCentroidsCached]].
  * [[Similarity.ivfTopK]] re-assigns the whole corpus to cells on
  * every probe call (map-only, but a full corpus scan); at 100 TB the
  * scan IS the cost, so the deployed shape materializes the
  * assignment once as a catalog table PARTITIONED BY CELL:
  *
  *   - `{prefix}_assign` (id, vec, cell) — cell is the partition
  *     column, so a probe that touches nProbe of nCells cells reads
  *     that fraction of the files (partition pruning; the probe join
  *     broadcasts the panel's probe cells);
  *   - `{prefix}_ids` / `{prefix}_iddigest` — the exact and
  *     approximate membership tiers of the append guard (the
  *     discipline shared with the BM25 index);
  *   - `{prefix}_stats` — one row: n_vecs, n_cells, lineage, digest
  *     params.
  *
  * Incremental maintenance differs from BM25's segmented LSM because
  * an assignment row is a PER-VECTOR FACT (no cross-corpus statistics
  * to re-merge): appending new vectors assigned with the SAME frozen
  * centroids into the same partitioned table is exact by
  * construction — probe answers over build(base)+append(delta) are
  * bit-identical to build(base ∪ delta) with those centroids. What
  * changes under append is RECALL, not correctness: centroids frozen
  * at base-training time drift from the grown corpus, which is why
  * the recall harness ([[Similarity]] eval cards) exists — retrain +
  * rebuild is a policy decision the lineage chain records, never a
  * silent side effect.
  */
object IvfIndex {

  /** Order-sensitive FNV-1a fold of every centroid float's raw bits —
    * the identity of the TRAINED CENTROID SET, stored in the stats
    * table at build time and required to match at probe/append time.
    * A same-length but different centroid array would otherwise
    * silently probe the persisted assignments with the wrong geometry
    * (cell ids agree, contents don't).
    */
  def centroidFingerprint(centroids: Array[Array[Float]]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < centroids.length) {
      val c = centroids(i); var j = 0
      while (j < c.length) {
        val bits = java.lang.Float.floatToIntBits(c(j))
        var b = 0
        while (b < 4) {
          h ^= (bits >>> (8 * b)) & 0xff
          h *= 0x100000001b3L
          b += 1
        }
        j += 1
      }
      i += 1
    }
    h
  }

  private def requireCentroidsMatch(row: org.apache.spark.sql.Row,
                                    columns: Array[String], prefix: String,
                                    centroids: Array[Array[Float]]): Unit = {
    require(row.getAs[Int]("n_cells") == centroids.length,
      s"index $prefix was built with a different centroid set " +
        s"(${row.getAs[Int]("n_cells")} cells != ${centroids.length} passed)")
    require(columns.contains("centroid_fp") &&
      row.getAs[Long]("centroid_fp") == centroidFingerprint(centroids),
      s"index $prefix was built with a DIFFERENT centroid set of the " +
        "same size (centroid fingerprint mismatch) — probing the " +
        "persisted assignments with these centroids would be silently wrong")
  }

  /** Loud torn-append detector: the intent marker exists only between
    * an append's first mutation and its commit point, so its presence
    * outside a running fold means a prior append crashed mid-write
    * and the index tables may disagree (assign appended, digest/stats
    * stale). Checked before every probe and append.
    */
  private def requireNotTorn(spark: SparkSession, prefix: String,
                             op: String): Unit =
    require(!spark.catalog.tableExists(s"${prefix}_intent"),
      s"$op: index $prefix has a pending append intent marker " +
        s"(${prefix}_intent) — a prior append crashed between its first " +
        "write and its commit; the assign/ids/digest/stats tables may be " +
        "torn. Rebuild the index (or restore a consistent snapshot) " +
        "before serving or appending.")

  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Float]], prefix: String,
                    lineage: String = "full",
                    digestK: Int = Retrieval.DefaultDigestK): Unit = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val spark = corpus.sparkSession
    val assigned = assign(corpus, idCol, vecCol, centroids)
    Bucketing.dropTableAndLocation(spark, s"${prefix}_assign")
    assigned.write.mode("overwrite").partitionBy("cell")
      .saveAsTable(s"${prefix}_assign")
    Retrieval.writeIdTable(spark, prefix,
      spark.table(s"${prefix}_assign").select(col("id").as("doc_id")))
    val nVecs = spark.table(s"${prefix}_ids").count()
    val mBits = Retrieval.digestSizing(nVecs)
    Retrieval.writeIdDigest(spark, prefix,
      Bloom.blockedDigestDf(spark.table(s"${prefix}_ids"), "doc_id",
        mBits, digestK))
    Bucketing.dropTableAndLocation(spark, s"${prefix}_stats")
    spark.range(1).select(
        lit(nVecs).as("n_vecs"),
        lit(centroids.length).as("n_cells"),
        lit(lineage).as("lineage"),
        lit(mBits).as("digest_mbits"),
        lit(digestK).as("digest_k"),
        lit(centroidFingerprint(centroids)).as("centroid_fp"))
      .write.mode("overwrite").saveAsTable(s"${prefix}_stats")
    // a rebuild supersedes whatever torn state the marker recorded
    Bucketing.dropTableAndLocation(spark, s"${prefix}_intent")
  }

  /** Map-only cell assignment — ONE definition shared by build and
    * append, so a delta row lands in exactly the cell a full rebuild
    * with the same centroids would give it.
    */
  private def assign(vecs: DataFrame, idCol: String, vecCol: String,
                     centroids: Array[Array[Float]]): DataFrame =
    vecs.select(col(idCol).cast(LongType).as("id"), col(vecCol).as("vec"),
      element_at(NativeFunctions.nearestCells(col(vecCol), centroids, 1),
        1).as("cell"))

  /** IVF top-k against the PERSISTED assignments: identical scoring
    * chain to [[Similarity.ivfTopK]] (same native probe ranking, same
    * cosine, same top-k reduction), but the corpus side is the
    * cell-partitioned table — the probe plan reads the probed cells'
    * partitions instead of scanning and re-assigning every vector.
    * Floats round-trip parquet bit-exactly, so from-index results
    * equal the inline path row-for-row.
    */
  def ivfTopKFromIndex(spark: SparkSession, prefix: String,
                       queries: DataFrame, k: Int,
                       centroids: Array[Array[Float]], nProbe: Int = 4,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k > 0 && nProbe > 0, "k and nProbe must be positive")
    requireNotTorn(spark, prefix, "ivfTopKFromIndex")
    val stats = spark.table(s"${prefix}_stats")
    require(stats.columns.startsWith(Seq("n_vecs", "n_cells")),
      s"malformed stats table ${prefix}_stats")
    requireCentroidsMatch(stats.head(), stats.columns, prefix, centroids)
    val assigned = spark.table(s"${prefix}_assign")
    val qProbes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(NativeFunctions.nearestCells(col(vecCol), centroids, nProbe))
        .as("cell"))
    val scored = assigned.join(qProbes, Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        Similarity.cosine(col("qv"), col("vec")).as("cos"))
    Similarity.topKPerKey(scored, k)
  }

  /** Append NEW vectors to a persisted IVF index: assign the delta
    * with the index's FROZEN centroids and land the rows in their
    * cell partitions — O(delta) work, the base partitions are never
    * touched. The disjointness guard is the two-tier discipline from
    * [[Retrieval.appendToBm25Index]]: map-only digest probe over the
    * delta ids, exact confirm against the n_vecs-long ids table for
    * the Bloom-possible sliver only. Lineage records the fold.
    */
  def appendToIvfIndex(spark: SparkSession, prefix: String,
                       deltaVecs: DataFrame, idCol: String, vecCol: String,
                       centroids: Array[Array[Float]],
                       lineageTag: String = ""): Unit = {
    require(!deltaVecs.isEmpty, "appendToIvfIndex: delta is empty — " +
      "nothing to append (guard upstream, or skip the fold)")
    requireNotTorn(spark, prefix, "appendToIvfIndex")
    val stats = spark.table(s"${prefix}_stats")
    require(stats.columns.startsWith(Seq("n_vecs", "n_cells")),
      s"malformed stats table ${prefix}_stats")
    val row = stats.head()
    requireCentroidsMatch(row, stats.columns, prefix, centroids)
    val mBits = row.getAs[Int]("digest_mbits")
    val digestK = row.getAs[Int]("digest_k")
    val deltaFp = IndexStore.corpusFingerprint(deltaVecs, Seq(idCol, vecCol))
    // the lineage entry is the fold's ledger record: callers that
    // manage their own idempotence key (the streaming maintainer's
    // batchId) tag the fold so a RETRY is detectable by ledger lookup
    // alone — the content fingerprint stays recorded beside it
    val entry = if (lineageTag.nonEmpty) s"$lineageTag:$deltaFp" else deltaFp
    val assigned = assign(deltaVecs, idCol, vecCol, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val flagged = Bloom.blockedDigestFlagged(assigned, col("id"),
          Retrieval.idDigestDf(spark, prefix), mBits, digestK)
        .select(col("id").as("doc_id"))
      if (!flagged.isEmpty) {
        val clash = spark.table(s"${prefix}_ids")
          .join(flagged, Seq("doc_id"), "left_semi")
          .select(col("doc_id")).limit(1).collect()
        require(clash.isEmpty,
          s"appendToIvfIndex: delta re-submits vector id ${clash.headOption.map(_.get(0)).getOrElse("")} " +
            s"already in $prefix — append is for NEW vectors; rebuild to replace")
      }
      // ---- intent marker: written BEFORE the first mutation, dropped
      //      only after the stats overwrite (the commit point). The
      //      fold below is five non-atomic writes; a crash anywhere
      //      between leaves the marker behind, and every later probe,
      //      append, or retry fails loudly instead of serving (or
      //      silently duplicating into) a torn index ----
      Bucketing.dropTableAndLocation(spark, s"${prefix}_intent")
      spark.range(1).select(
          lit(entry).as("entry"),
          lit(row.getAs[Long]("n_vecs")).as("n_vecs_before"))
        .write.mode("overwrite").saveAsTable(s"${prefix}_intent")
      assigned.write.mode("append").partitionBy("cell")
        .saveAsTable(s"${prefix}_assign")
      assigned.select(col("id").as("doc_id"))
        .write.mode("append").saveAsTable(s"${prefix}_ids")
      val nDelta = assigned.count()
      // digest RE-SIZED for the grown count at every append (the
      // discipline the dedup/near-dup indexes and BM25 compaction
      // follow); same mBits → append only the delta ids' nonzero
      // words (the stored digest is never touched), resize boundary →
      // the one full ids-column rebuild that restores the sized FP
      // rate and compacts the appended word rows
      val newMBits = Retrieval.digestSizing(row.getAs[Long]("n_vecs") + nDelta)
      if (newMBits == mBits)
        Retrieval.appendIdDigestWords(spark, prefix,
          Bloom.blockedDigestDf(assigned.select(col("id").as("doc_id")),
            "doc_id", mBits, digestK))
      else
        Retrieval.writeIdDigest(spark, prefix,
          Bloom.blockedDigestDf(spark.table(s"${prefix}_ids"), "doc_id",
            newMBits, digestK))
      Bucketing.dropTableAndLocation(spark, s"${prefix}_stats")
      spark.range(1).select(
          lit(row.getAs[Long]("n_vecs") + nDelta).as("n_vecs"),
          lit(centroids.length).as("n_cells"),
          lit(s"${row.getAs[String]("lineage")}+$entry").as("lineage"),
          lit(newMBits).as("digest_mbits"),
          lit(digestK).as("digest_k"),
          lit(row.getAs[Long]("centroid_fp")).as("centroid_fp"))
        .write.mode("overwrite").saveAsTable(s"${prefix}_stats")
      Bucketing.dropTableAndLocation(spark, s"${prefix}_intent") // commit
    } finally assigned.unpersist(blocking = false)
  }

  /** Retrain tier — the IVF analog of [[Retrieval.compactBm25Index]]:
    * when the recall-drift card (`sim_recall_ivf_append`) says the
    * frozen centroids have drifted too far from the grown corpus,
    * train FRESH centroids from the index's own vectors, re-assign
    * everything, and write a complete new fingerprinted index under
    * `newPrefix`. The live index serves untouched until the new one
    * is complete — a crash mid-retrain loses only the retrain (the
    * same crash-safety argument as BM25 compaction, which is why an
    * in-place retrain is refused). The new index's lineage records
    * the retrain as a chain continuation, and its centroid set is
    * persisted beside it (`{newPrefix}_centroids`) so serving can
    * recover the geometry without the trainer — validated against
    * the stats fingerprint on load.
    *
    * Training reads (id, vec) straight from the assignments table:
    * init is an order-insensitive seeded hash pick and the mean
    * update is integer-exact, so retrained centroids equal
    * [[Similarity.trainIvfCentroids]] over the same rows however
    * they arrived — append-then-retrain is oracle-replayable as
    * one fresh training over the union corpus.
    */
  def retrainIvfIndex(spark: SparkSession, prefix: String, newPrefix: String,
                      nCentroids: Int, iterations: Int = 1,
                      seed: Long = 42L,
                      digestK: Int = Retrieval.DefaultDigestK): Array[Array[Float]] = {
    require(newPrefix != prefix,
      "retrain must write a NEW index prefix — the live index serves " +
        "until the retrained one is complete, and a crash mid-retrain " +
        "must leave it untouched (the compactBm25Index discipline)")
    require(nCentroids > 0, "nCentroids must be positive")
    requireNotTorn(spark, prefix, "retrainIvfIndex")
    val old = spark.table(s"${prefix}_stats").head()
    val vecs = spark.table(s"${prefix}_assign")
      .select(col("id"), col("vec"))
    val dim = vecs.select(size(col("vec"))).head().getInt(0)
    val cents = Similarity.trainIvfCentroids(vecs, nCentroids, dim,
      iterations, idCol = "id", vecCol = "vec", seed = seed)
    buildIvfIndex(vecs, "id", "vec", cents, newPrefix,
      lineage = s"${old.getAs[String]("lineage")}" +
        s">retrain(c$nCentroids,i$iterations,s$seed)",
      digestK = digestK)
    writeCentroidsTable(spark, newPrefix, cents)
    cents
  }

  /** Cell-SPLIT remediation — the [[Similarity.ivfCellSkew]] card's
    * fix, beside retrain (which fixes centroid DRIFT, not size skew:
    * a Zipf-clustered corpus keeps some cells huge under fresh
    * centroids, and an oversized cell is every probing query's tail
    * latency). Each cell whose population exceeds
    * oversizeFactor·(n_total div n_cells) — and has at least 2
    * members — is split via LOCAL 2-means over its own vectors
    * (seeded per cell, so the split is deterministic and portable
    * under the same discipline as training); survivors keep their
    * centroids. ALL oversized cells train in ONE grouped pass (the
    * trainPqCodebooks discipline: one windowed init job + one
    * cell-keyed Lloyd aggregation, element-identical to per-cell
    * training under seed+cell — IvfIndexSpec pins both the equality
    * and the O(1)-jobs shape), so a Zipf corpus with dozens of hot
    * cells pays a fixed job budget, not dozens of sequential
    * launches. The whole corpus is then re-assigned against the
    * expanded centroid set into a complete NEW fingerprinted index
    * under `newPrefix` — the live index serves untouched until the
    * split index is whole (the retrain/compaction crash-safety
    * discipline; an in-place split is refused). Passing `centroids`
    * is validated against the stats fingerprint exactly like append,
    * so a split can never run with a geometry the assignments were
    * not built with.
    *
    * Returns the expanded centroid set (also persisted beside the
    * new index). With no oversized cells the result is a verbatim
    * re-build — the contract "newPrefix holds a complete index"
    * holds unconditionally.
    */
  def splitOversizedCells(spark: SparkSession, prefix: String,
                          newPrefix: String,
                          centroids: Array[Array[Float]],
                          oversizeFactor: Int = 2, seed: Long = 42L,
                          digestK: Int = Retrieval.DefaultDigestK): Array[Array[Float]] = {
    require(newPrefix != prefix,
      "splitOversizedCells must write a NEW index prefix (the retrain " +
        "crash-safety discipline: the live index serves until the split " +
        "index is complete)")
    require(oversizeFactor >= 1, "oversizeFactor must be >= 1")
    requireNotTorn(spark, prefix, "splitOversizedCells")
    val stats = spark.table(s"${prefix}_stats")
    val old = stats.head()
    requireCentroidsMatch(old, stats.columns, prefix, centroids)
    val vecs = spark.table(s"${prefix}_assign")
      .select(col("id"), col("vec"), col("cell"))
    val sizes = vecs.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = sizes.values.sum
    val expected = total / centroids.length
    val oversized = centroids.indices.filter { c =>
      val n = sizes.getOrElse(c, 0L)
      n > oversizeFactor * expected && n >= 2L
    }.toSet
    val kept = centroids.indices.filterNot(oversized)
      .map(centroids(_)).toArray
    // GROUPED 2-means over all oversized cells at once — element-
    // identical to training each cell alone under seed+cell (the
    // trainPqCodebooks discipline: the grouping column rides through
    // init and mean update, every per-group computation is untouched)
    // but O(1) driver-blocking jobs per split tick instead of two per
    // oversized cell. Children are appended after the kept centroids
    // in cell order, so the expanded list (and every tie-break over
    // it) stays deterministic.
    val ovCells = centroids.indices.filter(oversized)
    val children: Array[Array[Float]] =
      if (ovCells.isEmpty) Array.empty
      else {
        import graft.functions.NativeFunctions.nearestCells
        val ovVecs = vecs
          .filter(col("cell").isin(ovCells.map(Int.box): _*))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // grouped init: each cell's 2 lowest rows under ITS OWN
          // seeded hash order (seed + cell as a column seed) — the
          // exact rows per-cell trainIvfCentroids' orderBy+limit(2)
          // picks. Oversized implies n >= 2, so both ranks exist.
          val hashCol =
            Frames.portableHash(col("id"), lit(seed) + col("cell").cast("long"))
          val byHash = org.apache.spark.sql.expressions.Window
            .partitionBy(col("cell")).orderBy(hashCol, col("id"))
          val inits: Map[Int, Array[Array[Float]]] = ovVecs
            .withColumn("rn", row_number().over(byHash))
            .filter(col("rn") <= 2)
            .select(col("cell"), col("rn"), col("vec"))
            .collect()
            .groupBy(_.getInt(0))
            .map { case (c, rows) =>
              c -> rows.sortBy(_.getInt(1)).map(_.getSeq[Float](2).toArray) }
          // one grouped Lloyd step: the child argmax is a CASE over
          // oversized cells, each branch the SAME 2-entry nearestCells
          // call per-cell training runs — one map-only pass, one
          // aggregation job for every cell's means together
          val childCol = ovCells.tail.foldLeft(
            when(col("cell") === ovCells.head,
              element_at(nearestCells(col("vec"), inits(ovCells.head), 1),
                1))) { (acc, c) =>
            acc.when(col("cell") === c,
              element_at(nearestCells(col("vec"), inits(c), 1), 1))
          }
          val assigned = ovVecs.select(col("cell"), col("vec"),
            childCol.as("child"))
          val means: Map[(Int, Int), Array[Float]] = assigned
            .select(col("cell"), col("child"),
              posexplode(transform(col("vec"),
                x => floor(x.cast("double") * lit(1048576.0))
                  .cast("long"))).as(Seq("pos", "qx")))
            .groupBy(col("cell"), col("child"), col("pos"))
            .agg(floor(sum(col("qx")).cast("double") / count(lit(1)))
              .cast("long").as("mq"))
            .groupBy(col("cell"), col("child"))
            .agg(sort_array(collect_list(struct(col("pos"), col("mq"))))
              .as("ps"))
            .select(col("cell"), col("child"), transform(col("ps"),
              p => (p.getField("mq").cast("double") / lit(1048576.0))
                .cast("float")).as("cv"))
            .collect()
            .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toArray)
            .toMap
          // per cell: child 0 then 1, an empty child keeping its init
          // (trainIvfCentroids' getOrElse fallback)
          ovCells.flatMap { c =>
            Seq(0, 1).map(j => means.getOrElse((c, j), inits(c)(j)))
          }.toArray
        } finally ovVecs.unpersist(blocking = false)
      }
    val expanded = kept ++ children
    buildIvfIndex(vecs.select(col("id"), col("vec")), "id", "vec", expanded,
      newPrefix,
      lineage = s"${old.getAs[String]("lineage")}" +
        s">split(f$oversizeFactor,s$seed,${oversized.size}cells)",
      digestK = digestK)
    writeCentroidsTable(spark, newPrefix, expanded)
    expanded
  }

  private def writeCentroidsTable(spark: SparkSession, prefix: String,
                                  cents: Array[Array[Float]]): Unit = {
    import spark.implicits._
    Bucketing.dropTableAndLocation(spark, s"${prefix}_centroids")
    cents.zipWithIndex.map { case (v, c) => (c, v.toSeq) }.toSeq
      .toDF("cell", "cvec").coalesce(1)
      .write.mode("overwrite").saveAsTable(s"${prefix}_centroids")
  }

  /** Load the centroid set persisted beside a retrained index,
    * validated against the stats table's centroid fingerprint — a
    * centroids table that drifted from the assignments (partial
    * write, manual edit) is refused, never served.
    */
  def loadIndexCentroids(spark: SparkSession, prefix: String): Array[Array[Float]] = {
    val out = spark.table(s"${prefix}_centroids").orderBy("cell").collect()
      .map(_.getSeq[Float](1).toArray)
    val st = spark.table(s"${prefix}_stats").head()
    require(st.getAs[Long]("centroid_fp") == centroidFingerprint(out),
      s"centroids table ${prefix}_centroids does not match the index's " +
        "recorded centroid fingerprint — refusing to serve a geometry " +
        "the assignments were not built with")
    out
  }

  /** Retrain-once gate: the retrained index lives under a params-keyed
    * child prefix of the index it retrains, so a retry (or a second
    * session) serves the existing retrained index instead of training
    * again. Returns (newPrefix, centroids).
    */
  def ivfRetrainCached(spark: SparkSession, prefix: String, nCentroids: Int,
                       iterations: Int = 1, seed: Long = 42L): (String, Array[Array[Float]]) = {
    val newPrefix = s"${prefix}_rtc${nCentroids}i${iterations}s$seed"
    val have = Seq("assign", "ids", "iddigest", "stats", "centroids")
      .forall(s => spark.catalog.tableExists(s"${newPrefix}_$s"))
    val cents =
      if (have) loadIndexCentroids(spark, newPrefix)
      else retrainIvfIndex(spark, prefix, newPrefix, nCentroids, iterations,
        seed)
    (newPrefix, cents)
  }

  /** True when the index's lineage already records a fold tagged
    * `tag` (written via [[appendToIvfIndex]]'s `lineageTag`) — the
    * ledger read the streaming maintainer's exactly-once rests on:
    * because IVF appends mutate the table IN PLACE, a retried
    * micro-batch cannot be detected by a per-batch table prefix the
    * way the segmented BM25 chain does it; the lineage ledger is the
    * idempotence record instead.
    */
  def lineageHasTag(spark: SparkSession, prefix: String, tag: String): Boolean =
    spark.table(s"${prefix}_stats").head().getAs[String]("lineage")
      .split('+').exists(_.startsWith(s"$tag:"))

  /** Exact lineage-entry membership for a content fingerprint:
    * entries are '+'-separated, each `fp` or `tag:fp` — compare the
    * fp component exactly, never a raw substring (a window spanning
    * another entry, or an fp inside a `tag:fp` token, must not match).
    */
  def lineageHasFingerprint(lineage: String, fp: String): Boolean =
    lineage.split('+').exists(e => e.substring(e.lastIndexOf(':') + 1) == fp)

  /** Build-once gate keyed by corpus fingerprint + centroid count.
    * (Namespace v2: the stats schema grew the centroid_fp column —
    * v1 tables from older sessions are never reused.)
    */
  def ivfIndexCached(corpus: DataFrame, idCol: String, vecCol: String,
                     centroids: Array[Array[Float]],
                     namespace: String = "ivfidx_v2"): String = {
    val spark = corpus.sparkSession
    val fp = IndexStore.corpusFingerprint(corpus, Seq(idCol, vecCol))
    val prefix = s"${namespace}_${fp}_c${centroids.length}"
    val have = Seq("assign", "ids", "iddigest", "stats")
      .forall(s => spark.catalog.tableExists(s"${prefix}_$s"))
    if (!have) buildIvfIndex(corpus, idCol, vecCol, centroids, prefix,
      lineage = fp)
    prefix
  }

  /** Build-once gate for the APPENDED index: because the append
    * mutates the assignments table in place, the composite lives
    * under its OWN prefix (base fingerprint + delta fingerprint) —
    * the base-only index keyed by [[ivfIndexCached]] is never
    * silently grown. Idempotent: a delta already in the lineage is
    * not re-appended.
    */
  def ivfAppendCached(baseVecs: DataFrame, deltaVecs: DataFrame,
                      idCol: String, vecCol: String,
                      centroids: Array[Array[Float]]): String = {
    val spark = baseVecs.sparkSession
    val baseFp = IndexStore.corpusFingerprint(baseVecs, Seq(idCol, vecCol))
    val deltaFp = IndexStore.corpusFingerprint(deltaVecs, Seq(idCol, vecCol))
    val prefix = s"ivfidx_v2_${baseFp}_plus_${deltaFp}_c${centroids.length}"
    val have = Seq("assign", "ids", "iddigest", "stats")
      .forall(s => spark.catalog.tableExists(s"${prefix}_$s"))
    if (!have)
      buildIvfIndex(baseVecs, idCol, vecCol, centroids, prefix,
        lineage = baseFp)
    val lineage = spark.table(s"${prefix}_stats").head().getAs[String]("lineage")
    if (!lineageHasFingerprint(lineage, deltaFp))
      appendToIvfIndex(spark, prefix, deltaVecs, idCol, vecCol, centroids)
    prefix
  }
}
