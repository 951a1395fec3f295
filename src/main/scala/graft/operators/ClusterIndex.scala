package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental near-dup CLUSTERING index — the online counterpart of
  * batch [[Dedup.connectedComponents]] over the verified MinHash+LSH
  * pair graph.
  *
  * The batch operator answers "which docs form a near-dup cluster"
  * for a corpus it can see all at once; a 100 TB archive ingesting
  * daily cannot re-run a corpus-wide closure per batch. This index
  * maintains cluster assignments ACROSS appends with the same answer
  * a full rebuild would give (the equivalence the oracle pins):
  * arrivals are signatured once, edges are found through the
  * persisted LSH index (delta vs everything-ever plus delta-internal
  * pairs), and merges propagate through cluster REPRESENTATIVES —
  * an existing cluster is an equivalence class, so one edge into any
  * member connects the whole class via its id, and nothing
  * corpus-sized is ever recomputed.
  *
  * Tables under `prefix`:
  *   - `{prefix}_nd_*` — a full [[NearDupIndex]] (postings, shingle
  *     sets, bucket Bloom digest, stats, intent marker): the edge
  *     oracle for every future batch.
  *   - `{prefix}_members` — (doc_id, cluster_id) as assigned at
  *     insert time. APPEND-ONLY: merges never rewrite it.
  *   - `{prefix}_remap` — (old_cid, new_cid), kept fully resolved
  *     (no chains). Merge-history-sized — the one table merges
  *     rewrite, and it is tiny by construction.
  *   - `{prefix}_stats` — n_docs, lineage ledger, threshold.
  *   - `{prefix}_intent` — torn-append marker (shared discipline).
  *
  * Why append-only members + a remap table: when a bridging arrival
  * merges clusters c1 < c2, the truthful new id for every member of
  * c2 is c1 — but rewriting c2's member rows is O(|c2|) per merge,
  * and adversarial streams (one bridge per batch into an ever-growing
  * cluster) make that quadratic. Instead the merge appends one
  * (c2 -> c1) remap row; [[resolvedMembers]] serves reads through a
  * broadcast of the remap (coalesce(new, old)) — O(merges-ever) extra
  * state, O(delta) merge cost, exact answers. The remap stays
  * chain-free because each merge batch rewrites rows POINTING AT a
  * merged id in the same pass (x->c2 becomes x->c1), so reads never
  * recurse.
  *
  * Scale shape per append: a CLEAN
  * batch (no index hits) costs the map-only digest gate + per-doc
  * signature appends — corpus-FLAT. A batch WITH cross edges adds
  * one two-column scan of `members` to resolve matched ids to their
  * current clusters (the same dirty-tier trade [[DedupIndex]] makes:
  * the gate keeps it rare) and a driver union-find over the BATCH's
  * edges + touched representatives, loudly capped like
  * [[Dedup.connectedComponents]]'s driver path.
  *
  * Reference: reference near-dup tooling clusters offline
  * (josh/wikidatabots has no online counterpart); semantics follow
  * the public MinHash/LSH + connected-components construction.
  */
object ClusterIndex {

  /** Driver-side cap on (batch edges + touched representatives) per
    * append — same small-graph rationale as Dedup's union-find path:
    * near-dup edges of ONE batch are batch-sized, and 5M edges ~80 MB
    * collected. Exceeding it means the batch itself is corpus-scale —
    * split it upstream.
    */
  private val DriverMergeMaxEdges = 5000000L

  private def requireNotTorn(spark: SparkSession, prefix: String,
                             op: String): Unit =
    require(!spark.catalog.tableExists(s"${prefix}_intent"),
      s"$op: cluster index $prefix has a pending append intent marker " +
        s"(${prefix}_intent) — a prior append crashed mid-fold; rebuild " +
        "from the last good corpus snapshot")

  private case class Meta(nDocs: Long, lineage: String, threshold: Double)

  private def readMeta(spark: SparkSession, prefix: String): Meta = {
    val r = spark.table(s"${prefix}_stats").head()
    Meta(r.getAs[Long]("n_docs"), r.getAs[String]("lineage"),
      r.getAs[Double]("threshold"))
  }

  private def writeStats(spark: SparkSession, prefix: String,
                         nDocs: Long, lineage: String,
                         threshold: Double): Unit = {
    Bucketing.dropTableAndLocation(spark, s"${prefix}_stats")
    spark.range(1).select(lit(nDocs).as("n_docs"),
        lit(lineage).as("lineage"), lit(threshold).as("threshold"))
      .write.mode("overwrite").saveAsTable(s"${prefix}_stats")
  }

  /** Build the index from a base corpus: the embedded [[NearDupIndex]]
    * plus the batch closure's assignments ([[Dedup
    * .connectedComponents]] over [[Dedup.minhashNearDupPairs]] — the
    * same candidate-and-verify semantics every future append's gate
    * applies, so appended assignments extend this graph, never a
    * different one).
    */
  def buildClusterIndex(corpus: DataFrame, idCol: String, textCol: String,
                        prefix: String, threshold: Double = 0.5,
                        numHashes: Int = 64, bands: Int = 16,
                        shingleWidth: Int = 3,
                        lineage: String = "full"): Unit = {
    val spark = corpus.sparkSession
    NearDupIndex.buildNearDupIndex(corpus, idCol, textCol, s"${prefix}_nd",
      numHashes, bands, shingleWidth, lineage)
    val pairs = Dedup.minhashNearDupPairs(corpus, idCol, textCol,
      numHashes, bands, shingleWidth, threshold)
    val comp = Dedup.connectedComponents(
      corpus.select(col(idCol).cast("long").as("id")),
      pairs.select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b")))
    Bucketing.dropTableAndLocation(spark, s"${prefix}_members")
    comp.select(col("id").as("doc_id"), col("component").as("cluster_id"))
      .write.mode("overwrite").saveAsTable(s"${prefix}_members")
    Bucketing.dropTableAndLocation(spark, s"${prefix}_remap")
    spark.range(0).select(lit(0L).as("old_cid"), lit(0L).as("new_cid"))
      .write.mode("overwrite").saveAsTable(s"${prefix}_remap")
    val n = spark.table(s"${prefix}_members").count()
    writeStats(spark, prefix, n, lineage, threshold)
    Bucketing.dropTableAndLocation(spark, s"${prefix}_intent")
  }

  /** Current assignments: the append-only members served through the
    * fully-resolved remap — one broadcast hash join, no corpus
    * shuffle. This IS the read path; `cluster_id` here always equals
    * what a from-scratch rebuild over the same docs would assign.
    */
  def resolvedMembers(spark: SparkSession, prefix: String): DataFrame = {
    requireNotTorn(spark, prefix, "resolvedMembers")
    val remap = spark.table(s"${prefix}_remap")
    spark.table(s"${prefix}_members")
      .join(broadcast(remap), col("cluster_id") === col("old_cid"), "left")
      .select(col("doc_id"),
        coalesce(col("new_cid"), col("cluster_id")).as("cluster_id"))
  }

  /** Fold a batch of NEW docs into the clustering in O(batch):
    *
    *  1. edges = gate(batch vs index) resolved to current cluster
    *     representatives, plus batch-internal verified pairs;
    *  2. driver union-find over (batch ids ∪ touched reps) — loudly
    *     capped, batch-sized by contract;
    *  3. bracketed by the intent marker: nd-index append (per-doc
    *     facts), members append (batch rows at their final ids),
    *     remap rewrite (merge-history-sized) with chain collapse,
    *     stats/ledger.
    *
    * Re-submitting a fully-applied batch is refused by the embedded
    * nd index's id guard; the lineage ledger lets a maintainer skip
    * the fold without touching the guard.
    */
  def appendToClusterIndex(spark: SparkSession, prefix: String,
                           delta: DataFrame, idCol: String, textCol: String,
                           lineageTag: String = ""): Unit = {
    require(!delta.isEmpty, "appendToClusterIndex: delta is empty — " +
      "nothing to append (guard upstream, or skip the fold)")
    requireNotTorn(spark, prefix, "appendToClusterIndex")
    val m = readMeta(spark, prefix)
    val nd = spark.table(s"${prefix}_nd_stats").head()
    val (numHashes, bands, shingleW) =
      (nd.getAs[Int]("num_hashes"), nd.getAs[Int]("bands"),
        nd.getAs[Int]("shingle_w"))
    val deltaFp = IndexStore.corpusFingerprint(delta, Seq(idCol, textCol))
    val entry = if (lineageTag.nonEmpty) s"$lineageTag:$deltaFp" else deltaFp

    // -- edge discovery BEFORE any mutation (the gate must see the
    //    index as of the previous commit) --
    val cross = NearDupIndex.gateNearDups(spark, s"${prefix}_nd", delta,
      idCol, textCol, m.threshold)
    // resolve matched member ids to their CURRENT cluster: the one
    // members read this fold pays, and only when the gate found hits
    // (a clean batch never reaches this join's non-empty branch)
    val resolved = resolvedMembers(spark, prefix)
    val crossRep = cross
      .join(resolved, cross("corpus_id") === resolved("doc_id"))
      .select(col("delta_id").cast("long").as("a"),
        col("cluster_id").cast("long").as("b"))
    val inner = Dedup.minhashNearDupPairs(delta, idCol, textCol,
        numHashes, bands, shingleW, m.threshold)
      .select(col("id_a").cast("long").as("a"),
        col("id_b").cast("long").as("b"))
    val deltaIds = delta.select(col(idCol).cast("long").as("a")).distinct()

    // -- driver union-find (batch-scale by contract; loud cap) --
    val crossEdges = crossRep.collectAsBatch("cross-edge list")
    val edges = crossEdges ++ inner.collectAsBatch("inner-edge list")
    val ids = deltaIds.select(col("a"), col("a")).collectAsBatch("id list")
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(x: Long, y: Long): Unit = {
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) {
        // min-id root keeps "cluster id = min member id" exact: an
        // existing rep is itself the min of its class, so the merged
        // root is the true global min of the merged membership
        if (rx < ry) parent(ry) = rx else parent(rx) = ry
      }
    }
    ids.foreach { case (a, _) => find(a); () }
    edges.foreach { case (a, b) => union(a, b) }

    val newMembers = ids.map { case (a, _) => (a, find(a)) }
    // remap entries come ONLY from touched cluster REPRESENTATIVES
    // (cross-edge b's): delta ids never appear as a members
    // cluster_id from an earlier batch, so a remap row for one would
    // be dead weight in the broadcast
    val merges = crossEdges.map(_._2).distinct
      .map(r => (r, find(r))).filter { case (r, g) => r != g }

    // -- bracketed fold --
    Bucketing.dropTableAndLocation(spark, s"${prefix}_intent")
    spark.range(1).select(lit(entry).as("entry"),
        lit(m.nDocs).as("n_docs_before"))
      .write.mode("overwrite").saveAsTable(s"${prefix}_intent")
    NearDupIndex.appendToNearDupIndex(spark, s"${prefix}_nd", delta,
      idCol, textCol, lineageTag)
    import spark.implicits._
    newMembers.toSeq.toDF("doc_id", "cluster_id").coalesce(1)
      .write.mode("append").saveAsTable(s"${prefix}_members")
    if (merges.nonEmpty) {
      // rewrite the remap chain-free: old rows pointing AT a merged
      // rep are redirected in the same pass, and rows for the reps
      // themselves are appended — reads never follow two hops
      val mergeMap = merges.toMap
      val old = spark.table(s"${prefix}_remap")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val rewritten = old.map { case (o, n) => (o, mergeMap.getOrElse(n, n)) }
      val all = (rewritten ++ merges).toSeq
      Bucketing.dropTableAndLocation(spark, s"${prefix}_remap")
      all.toDF("old_cid", "new_cid").coalesce(1)
        .write.mode("overwrite").saveAsTable(s"${prefix}_remap")
    }
    writeStats(spark, prefix, m.nDocs + ids.length,
      s"${m.lineage}+$entry", m.threshold)
    Bucketing.dropTableAndLocation(spark, s"${prefix}_intent") // commit
  }

  /** Maintenance tick (the BM25-compaction analog): fold the remap
    * INTO members — every member row rewritten at its resolved id,
    * remap emptied. One O(members) pass, paid when an operator
    * chooses to (merge-heavy epochs grow the remap broadcast; folding
    * resets the read path to a bare table scan). Answers are
    * invariant by construction: [[resolvedMembers]] before ==
    * members-as-written after; the fold is bracketed by the intent
    * marker, and the lineage records a `compact{n}` entry so the
    * ledger shows when the rewrite happened.
    */
  def compactClusterIndex(spark: SparkSession, prefix: String): Unit = {
    requireNotTorn(spark, prefix, "compactClusterIndex")
    val m = readMeta(spark, prefix)
    val resolved = resolvedMembers(spark, prefix)
      // sever lineage from the table being overwritten (the scd2
      // fold lesson: a cache eviction mid-overwrite would recompute
      // from a half-written source)
      .localCheckpoint(true)
    Bucketing.dropTableAndLocation(spark, s"${prefix}_intent")
    spark.range(1).select(lit(s"compact:${m.nDocs}").as("entry"),
        lit(m.nDocs).as("n_docs_before"))
      .write.mode("overwrite").saveAsTable(s"${prefix}_intent")
    Bucketing.dropTableAndLocation(spark, s"${prefix}_members")
    resolved.write.mode("overwrite").saveAsTable(s"${prefix}_members")
    Bucketing.dropTableAndLocation(spark, s"${prefix}_remap")
    spark.range(0).select(lit(0L).as("old_cid"), lit(0L).as("new_cid"))
      .write.mode("overwrite").saveAsTable(s"${prefix}_remap")
    writeStats(spark, prefix, m.nDocs,
      s"${m.lineage}+compact${m.nDocs}", m.threshold)
    Bucketing.dropTableAndLocation(spark, s"${prefix}_intent") // commit
  }

  /** Lineage-ledger membership (maintainer idempotence — mirrors
    * [[IvfIndex.lineageHasTag]]).
    */
  def lineageHasTag(spark: SparkSession, prefix: String, tag: String): Boolean =
    spark.table(s"${prefix}_stats").head().getAs[String]("lineage")
      .split('+').exists(_.startsWith(s"$tag:"))

  /** Build-once/append-many cache for the oracle query: base + deltas
    * keyed by corpus fingerprints and signature params (the
    * [[NearDupIndex.nearDupAppendCached]] discipline — every
    * signature param is part of the key).
    */
  def clusterAppendCached(base: DataFrame, deltas: Seq[DataFrame],
                          idCol: String, textCol: String,
                          threshold: Double = 0.5,
                          numHashes: Int = 64, bands: Int = 16,
                          shingleWidth: Int = 3): String = {
    val spark = base.sparkSession
    val fps = (base +: deltas)
      .map(IndexStore.corpusFingerprint(_, Seq(idCol, textCol)))
    val prefix = s"clidx_v1_${fps.mkString("_")}_t${(threshold * 1000).toInt}" +
      s"h${numHashes}b${bands}w$shingleWidth"
    val have = Seq("members", "remap", "stats", "nd_sets", "nd_buckets",
      "nd_bkdigest", "nd_stats")
      .forall(s => spark.catalog.tableExists(s"${prefix}_$s"))
    if (!have)
      buildClusterIndex(base, idCol, textCol, prefix, threshold,
        numHashes, bands, shingleWidth, lineage = fps.head)
    deltas.zip(fps.tail).foreach { case (d, fp) =>
      if (!IvfIndex.lineageHasFingerprint(
          readMeta(spark, prefix).lineage, fp))
        appendToClusterIndex(spark, prefix, d, idCol, textCol)
    }
    prefix
  }

  /** Bounded driver collect for the per-batch merge graph. */
  private implicit class BatchCollect(df: DataFrame) {
    def collectAsBatch(what: String): Array[(Long, Long)] = {
      val rows = df.limit((DriverMergeMaxEdges + 1).toInt).collect()
      require(rows.length <= DriverMergeMaxEdges,
        s"appendToClusterIndex: batch $what exceeds $DriverMergeMaxEdges " +
          "rows — the batch is corpus-scale; split it upstream")
      rows.map(r => (r.getLong(0), r.getLong(1)))
    }
  }
}
