package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Approximate-nearest-neighbor / similarity search over an
  * `array<float>` embedding column.
  *
  * Scale posture: the query side is assumed small (broadcastable);
  * the corpus side streams. Brute force is the exact baseline
  * (broadcast-nested-loop, no corpus shuffle except the final
  * per-query top-k reduction); the LSH variant prunes candidates by
  * random-hyperplane bucket so the join touches a fraction of the
  * corpus.
  */
object Similarity {

  /** float -> double, element-wise; double math keeps cosine
    * deterministic and avoids float accumulation error.
    */
  def asDouble(v: Column): Column = transform(v, _.cast(DoubleType))

  /** Sequential-fold dot product via zip_with + aggregate (codegen-
    * free HOFs, but per-row and shuffle-free).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null when either vector has zero norm.
    * Native fused-loop Catalyst expression (codegen) — see
    * [[graft.functions.CosineSimilarity]].
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.NativeFunctions.cosineSim(a, b)

  /** Higher-order-function formulation of cosine — kept as the
    * reference implementation the native expression is tested
    * against (identical element-order math).
    */
  def cosineHof(a: Column, b: Column): Column = {
    val ad = asDouble(a); val bd = asDouble(b)
    dot(ad, bd) / nullif(l2Norm(ad) * l2Norm(bd), lit(0.0))
  }

  /** Exact brute-force top-k: for every row of `queries`, the k
    * nearest corpus rows by cosine. `queries` is broadcast — corpus
    * never shuffles until the per-query top-k (rows out of the join
    * are already only (query_id, id, cos)).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("cv"))
    val joined = c.join(q,
      if (excludeSelf) col("id") =!= col("query_id") else lit(true))
    val scored = joined.select(col("query_id"), col("id"),
      cosine(col("qv"), col("cv")).as("cos"))
    topKPerKey(scored, k)
  }

  /** Hard-negative mining for contrastive training: for every vector,
    * the k most-similar vectors with a DIFFERENT label (the negatives
    * that are hardest to separate — the pairs a contrastive loss
    * learns most from). Exact baseline: broadcast self-join with
    * self/same-label exclusion, per-query bounded-heap top-k. Label
    * comparison is SQL null-unsafe (null-label rows never match) —
    * matches the declared oracle. Quadratic by construction; the
    * scale path is [[hardNegativesIvf]].
    */
  def hardNegativesBruteForce(df: DataFrame, labelCol: String, k: Int,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    val q = df.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(labelCol).as("qlab"))
    val c = broadcast(df.select(col(idCol).as("id"), col(vecCol).as("cv"),
      col(labelCol).as("clab")))
    val scored = q.join(c,
        col("id") =!= col("query_id") && col("clab") =!= col("qlab"))
      .select(col("query_id"), col("id"), cosine(col("qv"), col("cv")).as("cos"))
    topKPerKey(scored, k)
  }

  /** IVF scale path for hard-negative mining: probe `nProbe` coarse
    * cells per query, score only same-cell different-label candidates
    * (each corpus row lives in exactly one cell, so no candidate
    * dedup is needed), bounded-heap top-k. Candidate volume follows
    * the IVF sizing law (~corpus x nProbe / cells); recall vs the
    * exact baseline is asserted in SimilaritySpec. Raise nProbe when
    * labels are strongly clustered (a query's own cell may then hold
    * mostly same-label rows).
    */
  def hardNegativesIvf(df: DataFrame, labelCol: String, k: Int,
                       centroids: Array[Array[Float]], nProbe: Int,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = df.select(col(idCol).as("id"), col(vecCol).as("cv"),
      col(labelCol).as("clab"),
      element_at(graft.functions.NativeFunctions.nearestCells(
        col(vecCol), centroids, 1), 1).as("cell"))
    val probes = df.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(labelCol).as("qlab"),
      explode(graft.functions.NativeFunctions.nearestCells(
        col(vecCol), centroids, nProbe)).as("cell"))
    val scored = probes.join(assigned, Seq("cell"))
      .filter(col("id") =!= col("query_id") && col("clab") =!= col("qlab"))
      .select(col("query_id"), col("id"), cosine(col("qv"), col("cv")).as("cos"))
    topKPerKey(scored, k)
  }

  /** Per-query top-k reduction, always via partial aggregation (each
    * map task reduces its slice to <= k rows per query BEFORE the
    * shuffle — n_queries x k rows move instead of every scored pair):
    * k=1 through declarative max(struct) (codegen), k>1 through the
    * custom bounded-heap [[graft.functions.TopKPairs]]
    * TypedImperativeAggregate. Tie-break matches the row_number
    * window formulation (highest cos, then lowest id) — equality
    * with the window path asserted in SimilaritySpec.
    */
  private[operators] def topKPerKey(scored: DataFrame, k: Int): DataFrame =
    if (k == 1) {
      scored.groupBy(col("query_id"))
        .agg(max(struct(col("cos"), (-col("id")).as("nid"))).as("m"))
        .select(col("query_id"), lit(1).as("rank"),
          (-col("m.nid")).as("id"), col("m.cos").as("cos"))
    } else {
      scored.groupBy(col("query_id"))
        .agg(graft.functions.NativeFunctions.topkPairs(col("cos"), col("id"), k).as("tk"))
        .select(col("query_id"), posexplode(col("tk")).as(Seq("r0", "p")))
        .select(col("query_id"), (col("r0") + 1).cast(IntegerType).as("rank"),
          col("p.id").as("id"), col("p.cos").as("cos"))
    }

  /** row_number-window formulation of per-query top-k — the reference
    * semantics the aggregate path is tested against.
    */
  def topKPerKeyWindow(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), col("cos"))
  }

  /** Random-hyperplane sign bits (deterministic, seeded): the
    * classic cosine-LSH signature. Returns a long bucket id of
    * `numPlanes` bits (<= 62).
    */
  def hyperplaneBucket(v: Column, dim: Int, numPlanes: Int, seed: Long = 42L): Column = {
    require(numPlanes <= 62)
    val rnd = new scala.util.Random(seed)
    val planes = Seq.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
    val vd = asDouble(v)
    planes.zipWithIndex.map { case (p, i) =>
      val proj = aggregate(zip_with(vd, typedLit(p.toSeq), (x, w) => x * w),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Multi-table LSH ANN (OR-amplification): `tables` independent
    * random-plane signatures of `numPlanes` bits each; a corpus row is
    * a candidate if it shares ANY table's bucket with the query.
    * Optional multi-probe additionally flips each signature bit once
    * (numPlanes extra probes per table).
    *
    * Scale shape: equi-join keyed by (table, bucket) — the corpus is
    * touched ~tables/2^numPlanes per probe, never scanned per query.
    * Candidates are deduped BEFORE cosine scoring so each pair is
    * scored once. Recall < 1 by construction; exactness is
    * bruteForceTopK's job (recall asserted in ScalaTest).
    *
    * The planes are the Rademacher (+/-1) family over 2^20-quantized
    * entries ([[graft.functions.RademacherBuckets]]): the bucket
    * decision is exact integer arithmetic, so an external SQL oracle
    * reproduces the candidate sets bit-for-bit.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              numPlanes: Int = 6, tables: Int = 8, multiProbe: Boolean = false,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // native one-pass bucket computation over all tables
    def buckets(v: Column): Column =
      transform(
        graft.functions.NativeFunctions.rademacherBuckets(v, dim, numPlanes, tables),
        (b, t) => struct(t.cast(IntegerType).as("t"), b.as("b")))
    // persist both bucket tables: InferFiltersFromGenerate otherwise
    // clones the (tables x planes) projection pipeline into scan-level
    // filters and re-runs it per row interpreted (same pathology as
    // the MinHash signature tables — see Dedup)
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("cv"),
        explode(buckets(col(vecCol))).as("tb"))
      .select(col("id"), col("cv"), col("tb.t").as("t"), col("tb.b").as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val qb = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(buckets(col(vecCol))).as("tb"))
      .select(col("query_id"), col("qv"), col("tb.t").as("t"), col("tb.b").as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val q =
      if (multiProbe)
        qb.select(col("query_id"), col("qv"), col("t"),
          explode(array(lit(0L) +: (0 until numPlanes).map(i => lit(1L << i)): _*)).as("m"))
          .select(col("query_id"), col("qv"), col("t"), col("b").bitwiseXOR(col("m")).as("b"))
      else qb
    // score BEFORE dedup: cosine per candidate-occurrence is cheap
    // (native fused loop) while dropDuplicates over rows carrying two
    // 64-float vectors shuffles ~50x more bytes than (q, id, cos)
    val scored = c.join(q, Seq("t", "b"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"), cosine(col("qv"), col("cv")).as("cos"))
      .dropDuplicates("query_id", "id")
    topKPerKey(scored, k)
  }

  /** Embedding-cosine near-duplicate pairs over one corpus: bucket by
    * hyperplane signature, pair within bucket, verify cosine >=
    * threshold. The same LSH-candidate shape as Dedup.minhash — both
    * shuffle (bucket, id) only.
    */
  def cosineNearDupPairs(df: DataFrame, dim: Int, threshold: Double,
                         numPlanes: Int = 8, idCol: String = "vec_id",
                         vecCol: String = "embedding", seed: Long = 42L): DataFrame = {
    val b = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      hyperplaneBucket(col(vecCol), dim, numPlanes, seed).as("bucket"))
    b.as("x").join(b.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        cosine(col("x.v"), col("y.v")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-shaped semantic near-dup pairs (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the IVF coarse
    * quantizer, then run the all-pairs cosine test only WITHIN each
    * cell — the quadratic pair join is bounded by (cell size)², and
    * with sqrt-scaled cells (the [[suggestedCentroids]] law) expected
    * cell size is sqrt(n), keeping total candidate volume ~linear.
    * Cross-cell near-dups are missed by construction — that is the
    * SemDeDup trade (the paper dedups within k-means clusters for
    * exactly this bound); raise recall with more Lloyd iterations or
    * fewer cells, or use [[cosineNearDupPairs]]'s hyperplane buckets
    * for an orthogonal candidate generator.
    *
    * Centroids from [[trainIvfCentroids]] make the whole pipeline —
    * training, assignment, within-cell pairs — replayable by an
    * external engine; the
    * declared `dedup_semantic` query is hash-checked end to end.
    */
  def semanticDedupPairs(df: DataFrame, idCol: String, vecCol: String,
                         centroids: Array[Array[Float]], threshold: Double): DataFrame = {
    val assigned = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      element_at(graft.functions.NativeFunctions.nearestCells(
        col(vecCol), centroids, 1), 1).as("cell"))
    assigned.as("x").join(assigned.as("y"),
        col("x.cell") === col("y.cell") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        cosine(col("x.v"), col("y.v")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** IVF sizing law: cells ∝ sqrt(corpus) keeps (members per cell) x
    * (queries probing it) — and so candidate-join volume — linear in
    * corpus size. A fixed cell count makes self-ANN quadratic: 10x
    * data at 16 cells measured 20x runtime; sqrt-scaled
    * cells restore ~linear growth.
    */
  def suggestedCentroids(corpusSize: Long): Int =
    math.max(16, math.ceil(math.sqrt(corpusSize.toDouble)).toInt)

  /** IVF cell-imbalance card — the probe-latency-skew twin of the
    * recall-drift card: retrain fixes centroid DRIFT, but a
    * Zipf-clustered corpus makes some cells huge even with fresh
    * centroids, and a probe touching an oversized cell pays its size
    * (the straggler cell IS the probe's tail latency at scale). One
    * map-only assignment + one cell-keyed count; every published
    * number is an exact integer so the oracle replays the card from
    * its retrained centroids. Zero-member cells appear with n = 0 —
    * dead cells are the card's other finding (wasted probe budget).
    *
    * Output per cell: (cell, n, n_total, expected = n_total div
    * nCells, skew_micro = n·10^6 div n_total, oversized = n >
    * oversizeFactor·expected). `oversized` rows are the
    * [[IvfIndex.splitOversizedCells]] work-list.
    */
  def ivfCellSkew(corpus: DataFrame, idCol: String, vecCol: String,
                  centroids: Array[Array[Float]], oversizeFactor: Int = 2): DataFrame = {
    require(oversizeFactor >= 1, "oversizeFactor must be >= 1")
    import graft.functions.NativeFunctions.nearestCells
    val spark = corpus.sparkSession
    val counts = corpus.select(
        element_at(nearestCells(col(vecCol), centroids, 1), 1)
          .as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val allCells = spark.range(centroids.length.toLong)
      .select(col("id").cast("int").as("cell"))
    allCells.join(counts, Seq("cell"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("n_total", sum(col("n")).over(
        Frames.tinyWindowTotal(col("cell")))) // nCells rows
      .withColumn("expected", expr(s"n_total div ${centroids.length}L"))
      // greatest(1, ·): an EMPTY corpus yields an all-zero card (every
      // cell dead, skew 0) instead of a divide-by-zero error under
      // ANSI mode — the card stays readable for the degenerate input
      .withColumn("skew_micro", expr("n * 1000000L div greatest(1L, n_total)"))
      .withColumn("oversized", col("n") > lit(oversizeFactor) * col("expected"))
  }

  /** IVF (inverted-file) coarse quantizer: deterministic seeded
    * sample of the corpus as initial centroids, refined with
    * `iterations` Lloyd steps computed distributively (assignment is
    * a broadcast-centroid argmax; the new centroid mean is a
    * (cell, position) aggregation — shuffles n x dim scalars, never
    * gathers vectors to one node). Centroids (small: nCentroids x
    * dim) are collected to the driver for broadcasting into search.
    *
    * Training is oracle-reproducible: init picks rows by the seeded
    * [[Frames.portableHash]] of the id, and the mean update runs in
    * the exact integer domain — entries quantize to
    * floor(x * 2^20) longs, per-(cell,pos) means are
    * floor(sum / count), and the centroid entry is mean / 2^20 cast
    * to float (a dyadic rational well inside float precision, so both
    * engines hold the identical value). Summation order cannot matter
    * in integers — the one spot cross-row float accumulation would
    * diverge between engines.
    */
  def trainIvfCentroids(corpus: DataFrame, nCentroids: Int, dim: Int,
                        iterations: Int = 1, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        seed: Long = 42L): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var centroids: Array[Array[Float]] = corpus
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .orderBy(Frames.portableHash(col("id"), seed), col("id"))
      .limit(nCentroids)
      .collect().map(_.getSeq[Float](1).toArray)
    var it = 0
    while (it < iterations) {
      // map-only assignment: nearest cell per row via the native
      // single-pass expression (no corpus x centroid join, no
      // vector-keyed aggregation)
      val assigned = corpus.select(col(vecCol).as("v"),
        element_at(graft.functions.NativeFunctions.nearestCells(
          col(vecCol), centroids, 1), 1).as("cell"))
      val means = assigned
        .select(col("cell"), posexplode(transform(col("v"),
          x => floor(x.cast("double") * lit(1048576.0)).cast("long"))).as(Seq("pos", "qx")))
        .groupBy(col("cell"), col("pos"))
        .agg(floor(sum(col("qx")).cast("double") / count(lit(1))).cast("long").as("mq"))
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("pos"), col("mq")))).as("ps"))
        .select(col("cell"), transform(col("ps"),
          p => (p.getField("mq").cast("double") / lit(1048576.0)).cast("float")).as("cv"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
      centroids = centroids.indices.map(i => means.getOrElse(i, centroids(i))).toArray
      it += 1
    }
    centroids
  }

  /** Product-quantization codebooks: the embedding space is split
    * into `m` contiguous subspaces of `dim / m` dims and each gets
    * its own `ksub`-codeword quantizer, trained with the same
    * distributed, integer-exact, oracle-reproducible Lloyd iteration
    * as [[trainIvfCentroids]] —
    * per subspace, over the sliced subvectors. Returns
    * `m x ksub x (dim/m)` floats (a few KB — driver-held,
    * broadcast into encode/search as literals).
    *
    * Why PQ at 100 TB: codes compress a vector to m small ints
    * (64 x 4B floats -> 8 bytes at m=8), so the searchable corpus
    * representation shrinks ~30x — it stays in memory/page cache
    * where raw vectors spill — and candidate scoring becomes m table
    * lookups instead of a dim-length float loop.
    */
  def trainPqCodebooks(corpus: DataFrame, m: Int, ksub: Int, dim: Int,
                       iterations: Int = 1, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       seed: Long = 42L): Array[Array[Array[Float]]] = {
    require(m > 0 && dim % m == 0, s"dim $dim must divide into m $m subspaces")
    val dsub = dim / m
    // All m subspaces train in ONE init collect + ONE Lloyd
    // aggregation per iteration (j is just another grouping column),
    // not m sequential trainings — m x fewer driver-blocking jobs.
    // Output is element-identical to per-subspace trainIvfCentroids:
    // the init sample orders by the id hash (same rows, sliced), and
    // the mean update groups by (j, cell, pos) with the same
    // arithmetic (the integer means make this exact, which the
    // sim_topk_pq oracle relies on).
    val initRows: Array[Array[Float]] = corpus
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .orderBy(Frames.portableHash(col("id"), seed), col("id"))
      .limit(ksub)
      .collect().map(_.getSeq[Float](1).toArray)
    var codebooks: Array[Array[Array[Float]]] =
      Array.tabulate(m)(j => initRows.map(r => r.slice(j * dsub, (j + 1) * dsub)))
    var it = 0
    while (it < iterations) {
      val subCols = (0 until m).map { j =>
        val sv = slice(col(vecCol), j * dsub + 1, dsub)
        struct(lit(j).as("j"),
          element_at(graft.functions.NativeFunctions.nearestCells(
            sv, codebooks(j), 1), 1).as("cell"),
          sv.as("sv"))
      }
      val assigned = corpus.select(explode(array(subCols: _*)).as("s"))
        .select(col("s.j").as("j"), col("s.cell").as("cell"), col("s.sv").as("sv"))
      val means = assigned
        .select(col("j"), col("cell"), posexplode(transform(col("sv"),
          x => floor(x.cast("double") * lit(1048576.0)).cast("long"))).as(Seq("pos", "qx")))
        .groupBy(col("j"), col("cell"), col("pos"))
        .agg(floor(sum(col("qx")).cast("double") / count(lit(1))).cast("long").as("mq"))
        .groupBy(col("j"), col("cell"))
        .agg(sort_array(collect_list(struct(col("pos"), col("mq")))).as("ps"))
        .select(col("j"), col("cell"), transform(col("ps"),
          p => (p.getField("mq").cast("double") / lit(1048576.0)).cast("float")).as("cv"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toArray).toMap
      codebooks = Array.tabulate(m)(j =>
        codebooks(j).indices.map(c => means.getOrElse((j, c), codebooks(j)(c))).toArray)
      it += 1
    }
    codebooks
  }

  private def pqCodesExpr(codebooks: Array[Array[Array[Float]]], vecCol: String): Column = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    array((0 until m).map { j =>
      element_at(graft.functions.NativeFunctions.nearestCells(
        slice(col(vecCol), j * dsub + 1, dsub), codebooks(j), 1), 1)
    }: _*)
  }

  /** PQ-encode: each row's vector becomes `m` codes — per subspace,
    * the nearest codeword by the same native single-pass ranking the
    * IVF assignment uses. Map-only (no shuffle); output is
    * (id, codes array<int>).
    */
  def pqEncode(df: DataFrame, codebooks: Array[Array[Array[Float]]],
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    df.select(col(idCol).as("id"),
      pqCodesExpr(codebooks, vecCol).as("codes"))

  /** Quantized flat codebook (entry j*ksub+c = codeword as
    * floor(x * 2^20) longs — dyadic-exact for trained centroids) and
    * per-entry squared norms.
    */
  private[graft] def quantizedCodebook(codebooks: Array[Array[Array[Float]]])
      : (Seq[Seq[Long]], Seq[Long]) = {
    val cbQ: Seq[Seq[Long]] = codebooks.flatMap(_.map(_.map(x =>
      math.floor(x.toDouble * 1048576.0).toLong).toSeq)).toSeq
    (cbQ, cbQ.map(_.map(x => x * x).sum))
  }

  /** Corpus side of ADC: (id, codes, [extra...], nsq) — codes
    * map-only, nsq the exact reconstructed norm2 from the quantized
    * codebook. `extra` lets a caller keep more vector-derived
    * columns (e.g. the IVF coarse cell) from the same projection.
    */
  private def pqCodesWithNorm(corpus: DataFrame, codebooks: Array[Array[Array[Float]]],
                              nsqQ: Seq[Long], idCol: String, vecCol: String,
                              extra: Seq[Column] = Nil): DataFrame = {
    val m = codebooks.length
    val ksub = codebooks(0).length
    corpus.select(Seq(col(idCol).as("id"),
        pqCodesExpr(codebooks, vecCol).as("codes")) ++ extra: _*)
      .withColumn("nsq", aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
          (c, j) => get(typedLit(nsqQ), j * ksub + c)),
        lit(0L), (acc, v) => acc + v))
  }

  /** Exact-cosine re-rank of a (query_id, id) shortlist: full
    * vectors are fetched for ONLY the shortlist rows (queries
    * broadcast; the corpus side is an equi-join on id), re-scored
    * with the native cosine and reduced to the final top-k.
    */
  private def exactRerank(short: DataFrame, corpus: DataFrame, queries: DataFrame,
                          k: Int, idCol: String, vecCol: String): DataFrame = {
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cv = corpus.select(col(idCol).as("id"), col(vecCol).as("cv"))
    val scored = short.join(broadcast(qv), Seq("query_id"))
      .join(cv, Seq("id"))
      .select(col("query_id"), col("id"), cosine(col("qv"), col("cv")).as("cos"))
    topKPerKey(scored, k)
  }

  /** Query side of ADC: (query_id, tab) — the m*ksub exact integer
    * partial dots of the quantized query subvectors with every
    * codeword, via the fused native [[graft.functions.PqAdcTable]]
    * builder (its HOF twin is kept below for the parity test; the
    * interpreted chain measured ~0.7 ms per query row — longer than
    * scoring the candidates the table feeds).
    */
  private[graft] def pqQueryTab(queries: DataFrame, cbQ: Seq[Seq[Long]],
                                ksub: Int, idCol: String, vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"),
      graft.functions.NativeFunctions.pqAdcTable(
        transform(col(vecCol),
          x => floor(x.cast(DoubleType) * lit(1048576.0)).cast(LongType)),
        cbQ.map(_.toArray).toArray, ksub).as("tab"))

  /** HOF reference formulation of [[pqQueryTab]]'s table — the
    * semantics the native builder is asserted identical to.
    */
  private[graft] def pqQueryTabHof(queries: DataFrame, cbQ: Seq[Seq[Long]],
                                   m: Int, ksub: Int, dsub: Int,
                                   idCol: String, vecCol: String): DataFrame = {
    val qq = queries.select(col(idCol).as("query_id"),
      transform(col(vecCol),
        x => floor(x.cast(DoubleType) * lit(1048576.0)).cast(LongType)).as("qv"))
    val subIdx = (i: Column) => ((i - pmod(i, lit(ksub))) / lit(ksub)).cast(IntegerType)
    val tab = transform(sequence(lit(0), lit(m * ksub - 1)), i =>
      aggregate(
        zip_with(
          slice(col("qv"), subIdx(i) * dsub + 1, lit(dsub)),
          get(typedLit(cbQ), i),
          (a, b) => a * b),
        lit(0L), (acc, v) => acc + v))
    qq.select(col("query_id"), tab.as("tab"))
  }

  /** Approximate cosine = int_dot(q, recon) / ||recon|| — the query's
    * own norm is constant per query and cannot change its ranking.
    * Both operands are exact integers identical in any engine, so
    * the IEEE divide/sqrt is bit-portable.
    */
  private def adcCosine(ksub: Int): Column =
    graft.functions.NativeFunctions.pqAdcScore(col("codes"), col("tab"), ksub)
      .cast(DoubleType) / sqrt(col("nsq").cast(DoubleType))

  /** PQ ANN search via asymmetric distance computation: the corpus
    * is scored in code space (m table lookups per candidate — the
    * native [[graft.functions.PqAdcScore]] kernel) against a
    * per-query lookup table of exact integer partial dot products
    * (query subvectors and codewords quantized to floor(x * 2^20);
    * entry j*ksub+c = quantized-dot(query_j, codeword_{j,c})). The
    * approximate score is the integer dot of the query with the
    * reconstructed corpus vector over its reconstructed norm —
    * ranking is exact-arithmetic, so an external SQL engine replays
    * it bit-for-bit. Returns (query_id, rank, id, cos) like the
    * sibling top-k operators; `cos` here is the ADC approximation.
    *
    * Scale shape: codes are computed map-only and are ~30x smaller
    * than the vectors they replace; queries (with their m*ksub-entry
    * tables) broadcast; the only shuffle is the per-query top-k
    * partial-aggregate reduction. Recall < 1 by quantization;
    * asserted against bruteForceTopK in SimilaritySpec. Self-ANN
    * with brute ADC stays quadratic — compose with IVF
    * ([[ivfPqTopK]]) for the corpus-scale path.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             codebooks: Array[Array[Array[Float]]],
             idCol: String = "vec_id", vecCol: String = "embedding",
             excludeSelf: Boolean = true): DataFrame = {
    val m = codebooks.length
    val ksub = codebooks(0).length
    val dsub = codebooks(0)(0).length
    val (cbQ, nsqQ) = quantizedCodebook(codebooks)
    val codes = pqCodesWithNorm(corpus, codebooks, nsqQ, idCol, vecCol)
    val qtab = pqQueryTab(queries, cbQ, ksub, idCol, vecCol)
    val scored = codes.filter(col("nsq") > 0L)
      .join(broadcast(qtab),
        if (excludeSelf) col("id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("id"), adcCosine(ksub).as("cos"))
    topKPerKey(scored, k)
  }

  /** IVF-PQ (the FAISS IVFADC shape — the PQ scale path): coarse
    * centroids prune the candidate set (each query probes its
    * `nProbe` nearest cells), ADC scores only the members of probed
    * cells, and the exact re-rank touches only the shortlist.
    * Corpus-side state per row is one cell id + m codes; the
    * candidate join volume follows the IVF sizing law (sqrt-scaled
    * cells keep it linear in corpus size) while scoring stays in
    * code space. Self-ANN with brute ADC ([[pqTopK]]) is quadratic
    * in corpus size by construction — THIS is the composition that
    * survives 100 TB.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                coarse: Array[Array[Float]], codebooks: Array[Array[Array[Float]]],
                nProbe: Int, shortlist: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                excludeSelf: Boolean = true): DataFrame = {
    require(shortlist >= k, "shortlist must be >= k")
    import graft.functions.NativeFunctions.nearestCells
    val m = codebooks.length
    val ksub = codebooks(0).length
    val dsub = codebooks(0)(0).length
    val (cbQ, nsqQ) = quantizedCodebook(codebooks)
    val codes = pqCodesWithNorm(corpus, codebooks, nsqQ, idCol, vecCol,
      extra = Seq(element_at(nearestCells(col(vecCol), coarse, 1), 1).as("cell")))
    // probes (query_id, cell) and tables (query_id, tab) broadcast
    // SEPARATELY: joining the m*ksub-long table onto the exploded
    // probe rows first would ship it nProbe times per query
    val probes = queries.select(col(idCol).as("query_id"),
      explode(nearestCells(col(vecCol), coarse, nProbe)).as("cell"))
    val qtab = pqQueryTab(queries, cbQ, ksub, idCol, vecCol)
    val short = topKPerKey(
      codes.filter(col("nsq") > 0L)
        .join(broadcast(probes), Seq("cell"))
        .filter(if (excludeSelf) col("id") =!= col("query_id") else lit(true))
        .join(broadcast(qtab), Seq("query_id"))
        .select(col("query_id"), col("id"), adcCosine(ksub).as("cos")),
      shortlist).select(col("query_id"), col("id"))
    exactRerank(short, corpus, queries, k, idCol, vecCol)
  }

  /** PQ shortlist sizing law: the ADC score orders candidates only
    * approximately (m small codes per vector), so the shortlist the
    * exact re-rank sees must grow with corpus size to keep recall
    * flat — ∝ sqrt(n) (measured: fixed 32 drops top-1 hit-rate from
    * 0.71 to 0.46 on a 4x corpus; 2*sqrt(n) holds ~0.75 at both).
    */
  def suggestedShortlist(corpusSize: Long, k: Int): Int =
    math.max(4 * k, math.ceil(2.0 * math.sqrt(corpusSize.toDouble)).toInt)

  /** The production PQ search shape: ADC shortlist + exact re-rank.
    * [[pqTopK]] scans only code rows (8 bytes/vector) to produce a
    * `shortlist`-sized candidate set per query; the full vectors are
    * then fetched for ONLY those candidates (an equi-join on id —
    * queries x shortlist rows, not the corpus) and re-scored with
    * exact cosine. Recall is set by the shortlist size
    * ([[suggestedShortlist]]); the expensive exact scoring touches
    * a vanishing fraction of the corpus.
    */
  def pqTopKReranked(corpus: DataFrame, queries: DataFrame, k: Int,
                     codebooks: Array[Array[Array[Float]]], shortlist: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     excludeSelf: Boolean = true): DataFrame = {
    require(shortlist >= k, "shortlist must be >= k")
    val short = pqTopK(corpus, queries, shortlist, codebooks, idCol, vecCol,
        excludeSelf)
      .select(col("query_id"), col("id"))
    exactRerank(short, corpus, queries, k, idCol, vecCol)
  }

  /** IVF ANN search: assign corpus rows to their nearest centroid
    * cell once; each query probes its `nProbe` nearest cells and
    * scores only those members. Equi-join on cell id — the corpus is
    * touched ~nProbe/nCentroids per query batch. Recall grows with
    * nProbe; exactness is bruteForceTopK's job.
    *
    * FILTERED search ("nearest WITHIN a metadata predicate") is pure
    * composition: pass `corpus.filter(pred)` — assignment is a
    * per-row map over the centroids, so pre-filtering changes
    * nothing about where survivors land, and the predicate pushes
    * into the corpus parquet scan BEFORE any vector work (pinned in
    * PlanShapeSpec; oracle-checked as sim_topk_ivf_filtered).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              centroids: Array[Array[Float]], nProbe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.NativeFunctions.nearestCells
    // both sides are map-only expressions: cell assignment (nProbe=1)
    // and query probe cells (top-nProbe) come from the same native
    // single-pass ranking — the only shuffle left is the cell equi-join
    // and the per-query top-k reduction
    val assigned = corpus.select(col(idCol).as("id"), col(vecCol).as("cvv"),
      element_at(nearestCells(col(vecCol), centroids, 1), 1).as("cell"))
    val qProbes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(nearestCells(col(vecCol), centroids, nProbe)).as("cell"))
    val scored = assigned.join(qProbes, Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"), cosine(col("qv"), col("cvv")).as("cos"))
    topKPerKey(scored, k)
  }

  /** Scalar-quantized (int8) ANN: the memory-bandwidth tier between
    * full-precision brute force and PQ. Corpus AND query vectors are
    * symmetric-int8 quantized ([[Embeddings.quantizeInt8]] — 4x
    * smaller than float32, the codes column is what a deployed index
    * keeps hot); candidates are ranked by CODE-SPACE cosine over the
    * per-row float-cast code arrays through the native codegen'd
    * kernel ([[graft.functions.CosineSimilarity]] — every elementwise
    * product and partial sum an exact integer in double, so the fixed
    * op sequence is bit-portable and an external
    * SQL engine replays the shortlist ranking exactly). The `shortlist` best
    * code-space candidates per query are then re-scored with exact
    * float cosine on the full vectors ([[exactRerank]] — an equi-join
    * touching only queries x shortlist rows).
    *
    * Zero vectors quantize to all-zero codes (null scale); their
    * code norm is 0 and the guard pins their score to -2.0 (below
    * any cosine) on both engines instead of NULL/NaN ordering skew.
    *
    * Scale shape: quantization is map-only; the scoring join is
    * broadcast-nested-loop over the CODES (the int8 scan is ~4x
    * cheaper than the float scan brute force pays, the classic
    * SQ speedup); the exact re-rank touches a vanishing fraction.
    * Self-ANN over a whole corpus stays quadratic in candidates by
    * construction — at corpus scale bound candidates first with IVF
    * cells (compose like [[ivfPqTopK]]) and keep this as the
    * within-cell scorer.
    */
  def sqTopK(corpus: DataFrame, queries: DataFrame, k: Int, shortlist: Int,
             idCol: String = "vec_id", vecCol: String = "embedding",
             excludeSelf: Boolean = true): DataFrame = {
    require(shortlist >= k, "shortlist must be >= k")
    def codeNormSq(codes: Column): Column =
      aggregate(codes, lit(0L), (a, c) =>
        a + c.cast(LongType) * c.cast(LongType))
    // the int8->float cast is hoisted to the PER-ROW projections: a
    // `transform` lambda is a CodegenFallback higher-order function,
    // so leaving it inside the per-PAIR score projection (the old
    // codeCosine shape) interpreted two lambdas and allocated two
    // arrays for every one of the N_c x N_q candidate pairs — the
    // dominant cost of the whole query (measured ~20x the fused
    // kernel). Casting once per row feeds the native codegen'd
    // cosine kernel identical float values, so every score — and the
    // shortlist — is bit-identical.
    val c = Embeddings.quantizeInt8(corpus, vecCol)
      .select(col(idCol).as("id"),
        transform(col("codes"), _.cast(FloatType)).as("ccf"),
        codeNormSq(col("codes")).as("nc"))
    val q = broadcast(Embeddings.quantizeInt8(queries, vecCol)
      .select(col(idCol).as("query_id"),
        transform(col("codes"), _.cast(FloatType)).as("qcf"),
        codeNormSq(col("codes")).as("nq")))
    val joined = c.join(q,
      if (excludeSelf) col("id") =!= col("query_id") else lit(true))
    val scored = joined.select(col("query_id"), col("id"),
      when(col("nq") === 0L || col("nc") === 0L, lit(-2.0))
        .otherwise(graft.functions.NativeFunctions.cosineSim(
          col("qcf"), col("ccf"))).as("cos"))
    val short = topKPerKey(scored, shortlist).select(col("query_id"), col("id"))
    exactRerank(short, corpus, queries, k, idCol, vecCol)
  }

  /** Code-space cosine (the int8 tiers' shortlist scorer): int8
    * codes cast to float are EXACT (|c| <= 127), every product and
    * partial sum stays an exact integer in double (dot <= 127²·dim <
    * 2^53), so the native kernel's fixed op sequence produces the
    * same bits in any engine — DuckDB's list_cosine_similarity
    * replays it bit-for-bit (the same pairing every exact re-rank
    * relies on). Two lessons are baked into the call sites: the dot
    * itself through [[graft.functions.CosineSimilarity]], not a
    * zip_with/aggregate HOF (~10x slower interpreted, profiled in
    * round 8), and the int8->float cast hoisted to the per-ROW
    * projections, never per pair (`transform` is an interpreted
    * CodegenFallback — r16).
    */
  /** Binary (1-bit sign) quantized ANN — the extreme end of the
    * quantization ladder (float32 -> int8 SQ -> PQ -> 1 bit): each
    * vector keeps only its per-dimension SIGN, packed into two 32-bit
    * words per 64 dims, and candidates are ranked by Hamming
    * similarity — `bit_count(xor)` over the packed words, the
    * cheapest per-pair scorer that exists (two long ops per 64 dims;
    * 32x smaller than float32, the memory-bandwidth win binary
    * embeddings are deployed for). The `shortlist` best Hamming
    * candidates are re-scored with exact float cosine
    * ([[exactRerank]]).
    *
    * Packing is a per-ROW map-only fold (the HOF cost the sqTopK
    * kernel lesson warns about lands once per row here, never per
    * pair); the per-PAIR hot path is pure codegen'd long arithmetic.
    * Two words instead of one: the fold is acc*2+bit, and a 64-bit
    * accumulator would overflow the sign bit under ANSI arithmetic —
    * 32-bit halves stay exact. The Hamming score is surfaced as
    * (d - 2h)/d (the standard cosine proxy; d a power of two keeps
    * the double exact) so ranking and the external SQL replay share
    * one deterministic (score DESC, id ASC) order, ties included.
    *
    * Scale shape: quantization map-only; scoring is a broadcast
    * nested-loop over 16 bytes/vector; exact re-rank touches
    * queries x shortlist rows. Self-ANN stays quadratic in
    * candidates by construction — at corpus scale bound candidates
    * with IVF cells first and keep this as the within-cell scorer.
    */
  def signTopK(corpus: DataFrame, queries: DataFrame, k: Int, shortlist: Int,
               dim: Int,
               idCol: String = "vec_id", vecCol: String = "embedding",
               excludeSelf: Boolean = true): DataFrame = {
    require(shortlist >= k, "shortlist must be >= k")
    require(dim >= 1 && dim <= 64 && Integer.bitCount(dim) == 1,
      "signTopK packs one 64-dim block into two words; power-of-two dim <= 64")
    val half = dim / 2
    def packWord(v: Column, from: Int, until: Int): Column =
      aggregate(
        transform(typedLit((from until until).toList),
          i => when(element_at(asDouble(v), i + 1) > 0.0, 1L).otherwise(0L)),
        lit(0L), (acc, b) => acc * 2L + b)
    def packed(df: DataFrame, idAs: String, w1: String, w2: String) =
      df.select(col(idCol).as(idAs),
        packWord(col(vecCol), 0, half).as(w1),
        packWord(col(vecCol), half, dim).as(w2))
    val c = packed(corpus, "id", "c1", "c2")
    val q = broadcast(packed(queries, "query_id", "q1", "q2"))
    val joined = c.join(q,
      if (excludeSelf) col("id") =!= col("query_id") else lit(true))
    val h = bit_count(col("q1").bitwiseXOR(col("c1"))) +
      bit_count(col("q2").bitwiseXOR(col("c2")))
    val scored = joined.select(col("query_id"), col("id"),
      ((lit(dim) - lit(2) * h).cast(DoubleType) / lit(dim.toDouble)).as("cos"))
    val short = topKPerKey(scored, shortlist).select(col("query_id"), col("id"))
    exactRerank(short, corpus, queries, k, idCol, vecCol)
  }

  /** The composed corpus-scale SQ8 index, IVF-SQ8: coarse-cell
    * probing bounds the candidate set (~nProbe/cells of the corpus),
    * int8 code-space cosine ranks it 4x cheaper than float scan, and
    * only the shortlist sees exact cosine — [[ivfPqTopK]]'s shape
    * with the SQ scorer in place of ADC. Same exact-integer shortlist
    * arithmetic as [[sqTopK]], so an external SQL engine replays the
    * whole chain (portable k-means + cell gate + int-dot rank +
    * re-rank) bit-for-bit.
    */
  def ivfSqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                coarse: Array[Array[Float]], nProbe: Int, shortlist: Int,
                idCol: String = "vec_id", vecCol: String = "embedding",
                excludeSelf: Boolean = true): DataFrame = {
    require(shortlist >= k, "shortlist must be >= k")
    import graft.functions.NativeFunctions.nearestCells
    def codeNormSq(codes: Column): Column =
      aggregate(codes, lit(0L), (a, c) =>
        a + c.cast(LongType) * c.cast(LongType))
    // int8->float cast hoisted to the per-row projections — the
    // sqTopK rule: a per-pair `transform` lambda is interpreted and
    // allocates per candidate pair; per-row casting feeds the native
    // kernel identical floats at a per-ROW cost
    val c = Embeddings.quantizeInt8(corpus, vecCol)
      .select(col(idCol).as("id"),
        transform(col("codes"), _.cast(FloatType)).as("ccf"),
        codeNormSq(col("codes")).as("nc"),
        element_at(nearestCells(col(vecCol), coarse, 1), 1).as("cell"))
    val probes = queries.select(col(idCol).as("query_id"),
      explode(nearestCells(col(vecCol), coarse, nProbe)).as("cell"))
    val qcodes = Embeddings.quantizeInt8(queries, vecCol)
      .select(col(idCol).as("query_id"),
        transform(col("codes"), _.cast(FloatType)).as("qcf"),
        codeNormSq(col("codes")).as("nq"))
    // probes and codes broadcast SEPARATELY (the ivfPqTopK rule):
    // attaching the dim-long query codes to the exploded probe rows
    // first would ship them nProbe times per query
    val scored = c.join(broadcast(probes), Seq("cell"))
      .filter(if (excludeSelf) col("id") =!= col("query_id") else lit(true))
      .join(broadcast(qcodes), Seq("query_id"))
      .select(col("query_id"), col("id"),
        when(col("nq") === 0L || col("nc") === 0L, lit(-2.0))
          .otherwise(graft.functions.NativeFunctions.cosineSim(
            col("qcf"), col("ccf"))).as("cos"))
    val short = topKPerKey(scored, shortlist).select(col("query_id"), col("id"))
    exactRerank(short, corpus, queries, k, idCol, vecCol)
  }

  /** ANN recall evaluation harness — the tuning loop every deployed
    * approximate index needs: given the exact ground-truth neighbor
    * set (from [[bruteForceTopK]] on a sample) and an approximate
    * result set (IVF/LSH/PQ), both as (query_id, nn_id) rows, emit
    * one row (n_truth, n_matched, recall_micro) with recall as an
    * exact integer micro-fraction (floor-div — no float boundary for
    * the oracle to diverge on). At 100 TB the truth side is a sampled
    * query panel; the operator is truth-side-sized: one equi-join on
    * (query_id, nn_id) and two single-row aggregates.
    *
    * Contract for an EMPTY ground-truth panel: loud failure, never a
    * silently-null recall row. Spark's `div` yields NULL on a zero
    * divisor while DuckDB's `//` errors — without the explicit guard
    * the two engines disagree exactly when the evaluation is
    * meaningless. Both sides now raise: here via `raise_error`, the
    * oracle via its own division-by-zero error.
    */
  /** Centroid-prototypicality card (the SemDeDup-family outlier
    * signal): each vector's cosine to its NEAREST trained centroid,
    * micro-floored — low scores are embedding-space outliers
    * (garbage, mislabeled, off-distribution docs), the rows a
    * curation pass reviews or drops first. Map-only: cell assignment
    * is the shared native probe (identical to the IVF index's), the
    * centroid table is centroid-count-sized and broadcast, and the
    * score is one native cosine per row — no corpus shuffle at all
    * until a caller ranks the output.
    */
  def centroidPrototypicality(vecs: DataFrame,
                              centroids: Array[Array[Float]],
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val spark = vecs.sparkSession
    import spark.implicits._
    val cdf = centroids.zipWithIndex.map { case (v, i) => (i, v) }
      .toSeq.toDF("cell", "cv")
    vecs.select(col(idCol).as("id"), col(vecCol).as("v"),
        element_at(graft.functions.NativeFunctions.nearestCells(col(vecCol),
          centroids, 1), 1).as("cell"))
      .join(broadcast(cdf), Seq("cell"))
      .select(col("id"), col("cell"),
        floor(cosine(col("v"), col("cv")) * lit(1000000.0))
          .cast(LongType).as("proto_micro"))
  }

  /** Label-margin card (the confident-learning / mislabel-suspect
    * signal): per vector, cosine to its OWN label's mean-pool
    * centroid minus the best cosine to any OTHER label's centroid —
    * a negative margin says the embedding sits closer to another
    * class's center than its own, the first rows a label-audit pass
    * reviews. Returns the `k` worst margins.
    *
    * Exactness: centroids come from [[Embeddings.meanPoolVectors]]
    * (integer-quantized sums — the portable cross-row mean), cosines
    * from the double HOF formulation (bit-identical to DuckDB
    * `list_cosine_similarity` over DOUBLE[]), and the margin is a
    * DIFFERENCE OF ALREADY-FLOORED micro longs — no float boundary
    * of its own.
    *
    * Scale shape: the centroid pass is ONE (label, pos) shuffle of
    * dim×L cells; the scoring pass is MAP-ONLY — L is a bounded
    * class count by contract, the L centroid literals ride the plan,
    * and each row evaluates its own-label cosine plus L-1 others.
    * TakeOrdered(k) finishes it; the corpus never shuffles.
    */
  def labelMargin(vecs: DataFrame, k: Int = 20,
                  labelCol: String = "label", idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be positive")
    // a null label has no "own" centroid: scoring it would produce a
    // null margin, and nulls-first ascending sort would let unlabeled
    // rows crowd the k worst-margin slots — drop them from centroids
    // AND from scoring (an unlabeled row is not a mislabel SUSPECT)
    val cents = Embeddings.meanPoolVectors(vecs, labelCol, vecCol)
      .collect().map(r => (r.get(0), r.getSeq[Double](1)))
      .filter(_._1 != null)
    require(cents.length >= 2,
      "labelMargin needs at least two labels (no 'other' centroid otherwise)")
    val own = coalesce(cents.map { case (l, c) =>
      when(col(labelCol) === lit(l), cosineHof(col(vecCol), typedLit(c))) }: _*)
    val other = greatest(cents.map { case (l, c) =>
      when(col(labelCol) =!= lit(l), cosineHof(col(vecCol), typedLit(c))) }: _*)
    vecs.filter(col(labelCol).isNotNull)
      .select(col(idCol).as("id"), col(labelCol).as("label"),
        floor(own * lit(1000000.0)).cast(LongType).as("own_micro"),
        floor(other * lit(1000000.0)).cast(LongType).as("other_micro"))
      .withColumn("margin_micro", col("own_micro") - col("other_micro"))
      .orderBy(col("margin_micro").asc, col("id").asc).limit(k)
  }

  /** Greedy k-center (Gonzalez farthest-first) coreset selection —
    * the diversity-first data-selection pass: pick `k` embedding rows
    * such that every corpus point is close to some pick, by starting
    * from the smallest id and repeatedly taking the point LEAST
    * similar to everything selected so far (argmin of max-cosine, ties
    * to the smallest id — a total, engine-independent order on the
    * floor(·10^6) integer similarity). The classic 2-approximation to
    * the k-center cover, and the standard greedy seed for
    * diversity-aware subset selection over embeddings.
    *
    * Output: (rank 1..k, id, maxsim_micro) — maxsim_micro is the
    * picked point's max cosine (micro-floored) to the picks BEFORE
    * it; null for the rank-1 seed. maxsim_micro is non-decreasing in
    * rank — it IS the coverage curve: stopping at the first rank
    * whose maxsim_micro exceeds a threshold gives the smallest
    * diverse set at that radius.
    *
    * Scale shape: greedy k-center is inherently k SEQUENTIAL rounds;
    * each round is one fully-distributed scan of the (id, vec)
    * projection (persisted across rounds) scoring max-cosine against
    * ≤ k broadcast literal centers, reduced by a TakeOrdered(1) —
    * never a pairwise join, never corpus × corpus. k is bounded and
    * small by contract (a selection budget), so the driver loop is k
    * plan launches, not a per-row loop.
    */
  def kCenterCoreset(vecs: DataFrame, k: Int, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be positive")
    val spark = vecs.sparkSession
    import spark.implicits._
    val base = vecs.select(col(idCol).cast(LongType).as("id"),
      col(vecCol).as("v")).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val seed = base.orderBy(col("id")).limit(1).collect()
      require(seed.nonEmpty, "kCenterCoreset: empty input")
      var picks = Vector[(Long, Array[Float])](
        (seed(0).getLong(0), seed(0).getSeq[Float](1).toArray))
      var out = Vector[(Int, Long, Option[Long])]((1, picks.head._1, None))
      for (r <- 2 to k if picks.size == r - 1) {
        val maxSim = array_max(array(picks.map { case (_, c) =>
          cosine(col("v"), typedLit(c)) }: _*))
        val next = base.filter(!col("id").isin(picks.map(_._1): _*))
          .select(col("id"), col("v"),
            floor(maxSim * lit(1000000.0)).cast(LongType).as("m"))
          .orderBy(col("m").asc, col("id").asc).limit(1).collect()
        if (next.nonEmpty) {
          picks :+= ((next(0).getLong(0), next(0).getSeq[Float](1).toArray))
          out :+= ((r, next(0).getLong(0), Some(next(0).getLong(2))))
        }
      }
      out.toDF("rank", "id", "maxsim_micro")
    } finally base.unpersist(blocking = false)
  }

  def recallReport(truth: DataFrame, approx: DataFrame): DataFrame = {
    val matched = truth.join(approx, Seq("query_id", "nn_id"))
      .agg(count(lit(1)).as("n_matched"))
    truth.agg(count(lit(1)).as("n_truth")).crossJoin(matched)
      .select(col("n_truth"), col("n_matched"),
        expr("""CASE WHEN n_truth = 0
                THEN CAST(raise_error('recallReport: empty ground-truth panel') AS BIGINT)
                ELSE n_matched * 1000000 div n_truth END""").as("recall_micro"))
  }
}
