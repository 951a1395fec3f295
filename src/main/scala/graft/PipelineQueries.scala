package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Bloom, Dedup, Embeddings, Frames, IndexStore, IvfIndex, Layout, Quality, Retrieval, Similarity, Temporal, TextAnalysis, TextClean}
import graft.streaming.EventStreams

/** Training-data-pipeline operators (SURVEY.md §7.6 / north-star) as
  * verifiable queries: deduplication, similarity search, text
  * analysis. Queries whose algorithm DuckDB can replicate exactly
  * carry an oracle; LSH/hash-seeded ops (xxhash64 has no DuckDB
  * equivalent) are declared without one → the driver's rows-only
  * check applies, and their correctness is asserted in ScalaTest
  * against the exact-algorithm counterparts instead.
  */
object PipelineQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** Artifact cache root for the train-once/serve-many index queries.
    * Entries are keyed by corpus fingerprint + training params (see
    * [[IndexStore]]); the `v1` segment versions the TRAINING
    * algorithm — bump it if k-means/codebook arithmetic ever changes
    * so stale artifacts can't resurrect old models.
    */
  private val artifactDir: String =
    sys.props("java.io.tmpdir") + "/graft-index-artifacts/v1"

  /** DDSketch accuracy for the quantile queries: α = 1% →
    * γ = 1.01/0.99. The ln(γ) divisor and midpoint constant are
    * inlined into the oracle SQL as JVM-printed doubles so both
    * engines parse identical IEEE values ([[graft.operators.Quantiles]]).
    */
  private val ddGamma: Double = graft.operators.Quantiles.gammaFor(0.01)
  private val ddLnG: String =
    graft.operators.Quantiles.sqlDouble(math.log(ddGamma))
  private val ddMidC: String =
    graft.operators.Quantiles.sqlDouble(100.0 * 2.0 / (1.0 + ddGamma))

  /** The round-8 flagship composition, parameterized by corpus so it
    * can run on replicated data: source health gate ->
    * Gopher rule + repetition gates -> trained-quality median keep ->
    * one LSH closure feeding canonical dedup AND the leakage-safe
    * split -> deterministic shuffle + sequence packing. `raw` needs
    * (doc_id, source, lang, text). Unordered; the declared query adds
    * the total order. See the q_curation_v3 oracle for the DuckDB
    * replay of all five stages.
    *
    * `weightsArtifactDir`: when set, stage (C)'s quality weights are
    * a TRAIN-ONCE parquet model artifact (the `IndexStore` serve-many
    * discipline, keyed by the raw corpus fingerprint so a corpus
    * change retrains) instead of an inline training pass — the shape
    * a deployed curation pipeline runs. `loadWeights` revalidates the
    * loaded frame either way, and integer weights round-trip parquet
    * exactly, so the served pipeline is bit-identical to the inline
    * one (q_curation_v3_served shares q_curation_v3's oracle).
    */
  /** `langSeedProfiles`: when set (the v4 variant), stage (C)'s
    * quality-seed label comes from the TRAINED language classifier
    * applied to the augmented corpus — the curation pipeline derives
    * its language instead of trusting an upstream column (real crawl
    * curation has no trusted lang). Mutually exclusive with the
    * served-weights artifact (the two parameterize the same stage).
    */
  def curationV3(raw: DataFrame,
                 weightsArtifactDir: Option[String] = None,
                 langSeedProfiles: Option[Seq[(String, Array[Long])]] = None)
      : DataFrame = {
    require(weightsArtifactDir.isEmpty || langSeedProfiles.isEmpty,
      "served weights and derived-lang seeding parameterize the same stage")
      val template = "the modern data pipeline gathers raw web documents " +
        "and filters them with care because quality matters more than " +
        "volume for training large models so each stage removes noise " +
        "duplicated passages low information pages and finally packs " +
        "clean tokens into fixed length sequences ready for the " +
        "optimizer to consume item "
      val aug = raw.select(col("doc_id"), col("source"), col("lang"),
        when(pmod(col("doc_id"), lit(25L)) === 7L,
            concat(lit(template), col("doc_id").cast(StringType)))
          .when(col("source").isin("src3", "src7", "src11") &&
              pmod(col("doc_id"), lit(40L)) < 20L,
            concat(col("text"), lit(" contact admin@corp-test.org from 10.1.2.3")))
          .when(col("source").isin("src5", "src13") &&
              pmod(col("doc_id"), lit(60L)) < 20L,
            lit("duplicate boilerplate notice please ignore this repeated message"))
          .otherwise(col("text")).as("text"))
      // (A) source health gate: the per-source card, filtered
      val keptSources = TextAnalysis.sourceHealthReport(aug, "doc_id", "text",
          "source", "lang", TextAnalysis.demoQualityWeights(256))
        .filter(col("n_dup_docs") * 10L <= col("n_docs") &&
          col("n_pii_docs") * 10L <= col("n_docs"))
        .select(col("source"))
      val gated = aug.join(broadcast(keptSources), Seq("source"))
      // (B) Gopher rules + repetition gates, one fused map projection.
      // passDocs and kept are materialization barriers: each is
      // consumed by several downstream stages (scoring + join here;
      // LSH discovery, closure vertices and the final projection for
      // kept) and without the persist Catalyst re-plans — and
      // re-EXECUTES — the whole upstream funnel per consumer (first
      // cut of this query: 272 Exchanges, the gate subtree duplicated
      // six times). State is linear in the POST-gate corpus and
      // spills to disk — the LSH signature-table policy; the bench/
      // verify harness clearCache() between queries reclaims it.
      val passDocs = gated
        .withColumn("g", TextAnalysis.gopherSignals(col("text")))
        .withColumn("r", TextAnalysis.repetitionSignals(col("text")))
        .filter(col("g.pass") && col("r.pass"))
        .select(col("doc_id"), col("source"), col("text"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // (C) trained quality keep: weights learned from the full
      // augmented corpus (en seed), scored per doc, kept when the
      // per-token mean score reaches the corpus MEDIAN — a
      // scale-free decision boundary (a fixed absolute threshold
      // shifts with corpus mix; the median is the CCNet-bucket
      // discipline). score_q = floor(score/n_tokens) is an exact
      // small rational both engines floor identically; the cutoff
      // comes from a score-cardinality-sized histogram (the
      // perplexityBuckets shape — bounded global window over the
      // aggregate, never a corpus sort).
      val weightsFrame = weightsArtifactDir match {
        case Some(dir) =>
          val spark = raw.sparkSession
          val fp = graft.operators.IndexStore.corpusFingerprint(raw,
            Seq("doc_id", "source", "lang", "text"))
          val path = s"$dir/qweights_${fp}_d256"
          if (!graft.operators.IndexStore.exists(path))
            TextAnalysis.trainBucketWeights(aug, "text", col("lang") === "en", 256)
              .coalesce(1).write.mode("overwrite").parquet(path)
          spark.read.parquet(path)
        case None =>
          langSeedProfiles match {
            case Some(ps) =>
              // derive the language per augmented doc (one map-only
              // scoring pass) and seed training from the PREDICTION
              TextAnalysis.trainBucketWeights(
                aug.join(TextAnalysis.langIdTrained(aug, "doc_id", "text", ps)
                  .select(col("doc_id"), col("lang_pred")), Seq("doc_id")),
                "text", col("lang_pred") === "en", 256)
            case None =>
              TextAnalysis.trainBucketWeights(aug, "text",
                col("lang") === "en", 256)
          }
      }
      val weights = TextAnalysis.loadWeights(weightsFrame, 256)
      // scoredAll has THREE consumers (the histogram under qCum, the
      // corpus total under qCut, and the keep join) — without the
      // persist each consumer re-tokenizes and re-scores the cached
      // passDocs text, and the whole scoring subtree (two global
      // windows included) is triplicated in the plan. State is three
      // narrow columns per post-gate doc (id-table-sized, the surv
      // policy); the r16 plan dump carries ONE scoring chain.
      val scoredAll = TextAnalysis.hashedLinearScore(passDocs, "doc_id", "text",
          weights)
        .filter(col("n_tokens") > 0L)
        .withColumn("score_q",
          floor(col("score").cast(DoubleType) / col("n_tokens").cast(DoubleType))
            .cast(LongType))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val qHist = scoredAll.groupBy(col("score_q")).agg(count(lit(1)).as("c"))
      val qCum = qHist.withColumn("cum",
        sum(col("c")).over(Frames.tinyWindow(col("score_q"), col("score_q"))))
      val qCut = qCum.crossJoin(broadcast(qHist.agg(sum(col("c")).as("n"))))
        .agg(min(when(col("cum") * 2L >= col("n"), col("score_q"))).as("cut"))
      val kept = passDocs.join(
        scoredAll.crossJoin(broadcast(qCut))
          .filter(col("score_q") >= col("cut"))
          .select(col("id").as("doc_id"), col("n_tokens")),
        Seq("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // (D) one LSH discovery + closure serves dedup AND split
      val pairs = Dedup.minhashNearDupPairs(kept, "doc_id", "text",
        numHashes = 64, bands = 32, shingleWidth = 3, threshold = 0.5)
      val split = Dedup.leakageSafeSplit(kept, "doc_id", pairs,
        Seq("train" -> 0.9, "val" -> 0.1))
      val canon = split.filter(col("doc_id") === col("canonical_id"))
        .select(col("doc_id"), col("split"))
      // surv feeds both the pack branch and the final projection; the
      // persist caps it at one evaluation of the closure + joins
      // (columns only — no text — so state is id-table-sized)
      val surv = kept.select(col("doc_id"), col("source"), col("n_tokens"))
        .join(canon, Seq("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // (E) pack the train split: deterministic shuffle-shard order,
      // token-budget prefix-sum packing
      val shuffled = Frames.deterministicShuffle(
          surv.filter(col("split") === "train")
            .select(col("doc_id"), col("n_tokens")),
          "doc_id", nShards = 8, seed = 42L)
        .withColumn("ord", col("shard").cast(LongType) * lit(1000000L) + col("pos"))
      val packed = Frames.packSequences(shuffled, "ord", "n_tokens",
        budget = 512, bucketSize = 128)
      val packIdx = packed.join(shuffled.select(col("ord"), col("doc_id")),
          packed("id") === col("ord"))
        .select(col("doc_id"), col("seq_id"), col("seq_offset"))
      surv.join(packIdx, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("split"), col("n_tokens"),
          col("seq_id"), col("seq_offset"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- exact deduplication (hash-groupBy) ----
    "dedup_exact_groups" -> ((s, d) =>
      Dedup.exactDupGroups(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("text_md5"))),

    "dedup_exact_keep_first" -> ((s, d) =>
      Dedup.exactDedup(t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // ---- exact n-gram Jaccard near-dup pairs. Inverted-index
    //      count-based variant: on this corpus's tiny vocabulary the
    //      per-pair shared-count falls out of the join aggregation,
    //      beating both prefix-filtered variants (whose per-candidate
    //      array_intersect verification dominates when every shingle
    //      is common). All three variants are result-equal
    //      (DedupSpec); df-ordered prefix is the scale path for
    //      realistic Zipfian vocabularies. ----
    "dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
          shingleWidth = 3, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- MinHash+LSH near-dup pairs, portable hash family: the
    //      DuckDB oracle replays shingling, the 64-hash signature,
    //      banding and the exact-Jaccard verification via list folds
    //      — the full LSH pipeline is hash-matched, not just
    //      row-counted ----
    "dedup_minhash_lsh" -> ((s, d) =>
      Dedup.minhashNearDupPairs(t(s, d, "documents"), "doc_id", "text",
          numHashes = 64, bands = 16, shingleWidth = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))),

    // ---- LSH banding tuning report: recall AND precision of the RAW
    //      band-collision candidate stage against the exact n-gram
    //      Jaccard truth at the target threshold — the S-curve numbers
    //      a deployed user reads when picking (bands, rowsPerBand),
    //      invisible from the verified pair output. The oracle
    //      re-derives BOTH sides (exact inverted-pair truth and the
    //      full portable shingle→signature→band candidate pipeline)
    //      and must land on the identical three counts ----
    "dedup_lsh_eval" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          shingleWidth = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val cand = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
        numHashes = 64, bands = 16, shingleWidth = 3)
      Dedup.pairEvalReport(truth, cand)
    }),

    // ---- MOSS-style winnowing-fingerprint near-dup candidates:
    //      local-overlap detection (a shared paragraph surfaces even
    //      when whole-doc Jaccard is low) ----
    "dedup_winnow_pairs" -> ((s, d) =>
      Dedup.winnowingNearDupPairs(t(s, d, "documents"), "doc_id", "text",
          shingleWidth = 4, window = 4, minShared = 2)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- corpus unigram log-prob (perplexity-proxy quality): rare-
    //      token documents score low. ln quantized per token to
    //      integer microbits, summed as longs (portable) ----
    "text_unigram_logprob" -> ((s, d) =>
      TextAnalysis.unigramLogProb(t(s, d, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tok"), col("sum_lp_micro"))
        .orderBy(col("doc_id"))),

    // ---- bigram LM log-likelihood (Laplace-smoothed p(w2|w1), the
    //      next LM order up from the unigram score): map-side bigram
    //      stream from the bound token array, Zipf-small histograms
    //      broadcast back, floor(ln x 1e6) integer terms ----
    "text_bigram_logprob" -> ((s, d) =>
      TextAnalysis.bigramLogProb(t(s, d, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"), col("sum_lp_micro"))
        .orderBy(col("doc_id"))),

    // ---- interpolated (Jelinek-Mercer) bigram LM, λ = 3/4: the
    //      CCNet-family smoothing one step up from add-one —
    //      integer-exact micro-probability mixing (p1m/p2m/pim all
    //      floor-div), one unigram histogram reused for context AND
    //      continuation lookups; oracle replays the mix exactly ----
    "text_bigram_interp" -> ((s, d) =>
      TextAnalysis.bigramLogProbInterp(t(s, d, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"), col("sum_lp_micro"))
        .orderBy(col("doc_id"))),

    // ---- Kneser–Ney bigram LM, D = 3/4: absolute discounting plus
    //      CONTINUATION unigrams (distinct-predecessor counts over
    //      distinct-bigram types, not raw frequency) — the smoothing
    //      deployed LM pipelines actually use. Integer-exact staged
    //      micro math (term1/λ/pcont all bounded ≤ 10⁶ so no 100 TB
    //      overflow cliff); oracle replays histogram, follower/
    //      predecessor counts and the staged formula exactly ----
    "text_bigram_kn" -> ((s, d) =>
      TextAnalysis.bigramLogProbKN(t(s, d, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"), col("sum_lp_micro"))
        .orderBy(col("doc_id"))),

    // ---- per-window top-k heavy hitters (batch twin of the
    //      streaming flatMapGroupsWithState operator; the streaming
    //      path is asserted equal in StreamingSpec) ----
    "events_window_topk" -> ((s, d) =>
      EventStreams.topKPerWindowBatch(t(s, d, "events"), windowSeconds = 3600, k = 3)
        .select(unix_millis(col("window_start")).as("win_ms"),
          col("rank"), col("event_type"), col("n"))
        .orderBy(col("win_ms"), col("rank"))),

    // ---- distributed BPE tokenizer training: 6 merge rounds learned
    //      from the token vocabulary (pair counting = one aggregate
    //      per round; merge = literal replace). Exact counts and
    //      total tie-breaks — the oracle replays every round ----
    "text_bpe_merges" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.trainBpeMerges(t(s, d, "documents"), "text", merges = 6)
        .zipWithIndex.map { case ((pair, n), i) =>
          (i + 1, pair.replace("\u001F", " "), n) }
        .toDF("rank", "pair", "n")
        .orderBy(col("rank"))
    }),

    // ---- WordPiece training (the THIRD tokenizer family: BERT's
    //      likelihood-ratio merges): same loop as BPE, argmax by the
    //      exact-quantized score n_ab·10^12 div (n_a·n_b), computed
    //      in DECIMAL(38,0) intermediates (oracle: HUGEINT — same
    //      exact integers) so BIGINT-scale corpora train without the
    //      old ~9.2e6-symbol int64 wrap. Oracle replays every round
    //      including the per-round symbol counts ----
    "text_wordpiece_merges" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.trainWordpieceMerges(t(s, d, "documents"), "text",
          merges = 8)
        .zipWithIndex.map { case ((pair, sq), i) =>
          (i + 1L, pair.replace("\u001F", " "), sq) }
        .toDF("rank", "pair", "score_q")
        .orderBy(col("rank"))
    }),

    // ---- WordPiece encode: greedy longest-match-first segmentation
    //      under the induced vocab (chars + fused pieces), '##'
    //      continuation decoration, BERT's whole-word [UNK] rule —
    //      exercised on EVERY row by a guaranteed-unknown suffix
    //      word. The oracle replays train + vocab + the greedy cursor
    //      walk ----
    "text_wordpiece_tokens" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val mergePairs = TextAnalysis.trainWordpieceMerges(docs, "text",
        merges = 8).map(_._1)
      val vocab = TextAnalysis.wordpieceVocab(docs, "text", mergePairs)
      val maxLen = vocab.map(p => p.codePointCount(0, p.length)).max
      docs.select(col("doc_id"),
          TextAnalysis.wordpieceSegment(concat(col("text"), lit(" 文")),
            vocab, maxLen).as("segs"))
        .select(col("doc_id"),
          size(col("segs")).cast(LongType).as("n_words"),
          // n_pieces from the framing alone: pieces are sep-framed
          // with TWO separators between adjacent pieces and one at
          // each end (UnigramViterbi.frame), pieces are never empty
          // and never contain the separator, so a p-piece segment
          // holds exactly 2p separator chars - count = sepChars >> 1.
          // Identical integers to the old per-segment regex
          // split+filter (equality pinned in TextAnalysisSpec),
          // without allocating a split array per segment.
          aggregate(col("segs"), lit(0L), (acc, seg) =>
            acc + shiftright(length(seg) -
              length(replace(seg, lit("\u001F"), lit(""))), 1)
              .cast(LongType)).as("n_pieces"),
          aggregate(col("segs"), lit(0L), (acc, seg) =>
            acc + when(seg === lit("\u001F[UNK]\u001F"), 1L).otherwise(0L))
            .as("n_unk"))
        .orderBy(col("doc_id"))
    }),

    // ---- served WordPiece encode: the merge list loads from the
    //      fingerprint-keyed parquet artifact (the BPE artifact
    //      contract with the likelihood trainer); strings round-trip
    //      parquet exactly, so it shares text_wordpiece_tokens'
    //      oracle ----
    "text_wordpiece_tokens_served" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val mergePairs = IndexStore.wordpieceMergesCached(docs, "text",
        nMerges = 8, baseDir = artifactDir)
      val vocab = TextAnalysis.wordpieceVocab(docs, "text", mergePairs)
      val maxLen = vocab.map(p => p.codePointCount(0, p.length)).max
      docs.select(col("doc_id"),
          TextAnalysis.wordpieceSegment(concat(col("text"), lit(" 文")),
            vocab, maxLen).as("segs"))
        .select(col("doc_id"),
          size(col("segs")).cast(LongType).as("n_words"),
          // n_pieces from the framing alone: pieces are sep-framed
          // with TWO separators between adjacent pieces and one at
          // each end (UnigramViterbi.frame), pieces are never empty
          // and never contain the separator, so a p-piece segment
          // holds exactly 2p separator chars - count = sepChars >> 1.
          // Identical integers to the old per-segment regex
          // split+filter (equality pinned in TextAnalysisSpec),
          // without allocating a split array per segment.
          aggregate(col("segs"), lit(0L), (acc, seg) =>
            acc + shiftright(length(seg) -
              length(replace(seg, lit("\u001F"), lit(""))), 1)
              .cast(LongType)).as("n_pieces"),
          aggregate(col("segs"), lit(0L), (acc, seg) =>
            acc + when(seg === lit("\u001F[UNK]\u001F"), 1L).otherwise(0L))
            .as("n_unk"))
        .orderBy(col("doc_id"))
    }),

    // ---- BPE encode: per-doc token counts after applying the 6
    //      learned merges (train + apply, both oracle-replayed) ----
    "text_bpe_tokens" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = TextAnalysis.trainBpeMerges(docs, "text", merges = 6).map(_._1)
      docs.select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast(LongType).as("n_words"),
          TextAnalysis.bpeTokenCount(col("text"), merges).as("n_bpe"))
        .orderBy(col("doc_id"))
    }),

    // ---- served BPE encode: the merge list loads from the
    //      fingerprint-keyed parquet tokenizer artifact (trained+saved
    //      on first run, rank-validated at every load) — THE canonical
    //      train-once artifact; a tokenizer retrained per job would
    //      silently change every downstream token count. Same oracle
    //      as text_bpe_tokens: strings round-trip parquet exactly ----
    "text_bpe_tokens_served" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = IndexStore.bpeMergesCached(docs, "text", nMerges = 6,
        baseDir = artifactDir)
      docs.select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast(LongType).as("n_words"),
          TextAnalysis.bpeTokenCount(col("text"), merges).as("n_bpe"))
        .orderBy(col("doc_id"))
    }),

    // ---- tokenizer fertility card: per-source BPE tokens-per-word
    //      and chars-per-BPE-token after the 6 learned merges — the
    //      "how efficiently does this tokenizer encode each source"
    //      audit (fertility >> 1 flags sources the vocab fits badly).
    //      Ratios are integer micro-units of exact long sums; zero
    //      denominators yield NULL by contract (both engines) ----
    "text_bpe_fertility" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val merges = TextAnalysis.trainBpeMerges(docs, "text", merges = 6).map(_._1)
      docs.select(col("source"),
          size(TextAnalysis.tokens(col("text"))).cast(LongType).as("n_words"),
          TextAnalysis.bpeTokenCount(col("text"), merges).as("n_bpe"),
          length(regexp_replace(trim(col("text")), "\\s+", ""))
            .cast(LongType).as("n_chars"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("sum_words"),
          sum(col("n_bpe")).as("sum_bpe"), sum(col("n_chars")).as("sum_chars"))
        .withColumn("fertility_micro",
          when(col("sum_words") === 0, lit(null))
            .otherwise(expr("sum_bpe * 1000000 div sum_words")))
        .withColumn("chars_per_bpe_micro",
          when(col("sum_bpe") === 0, lit(null))
            .otherwise(expr("sum_chars * 1000000 div sum_bpe")))
        .orderBy(col("source"))
    }),

    // ---- unigram-LM (SentencePiece-family) tokenizer: the OTHER
    //      tokenizer family beside BPE — a trained piece inventory
    //      (all chars + top-64 substrings, floor-micro ln scores)
    //      segmented per word by an integer Viterbi (native codegen
    //      expression, ties to the longer piece). The oracle retrains
    //      the vocab in SQL and replays the DP with a recursive CTE
    //      carrying a 4-slot sliding dp window ----
    "text_unigram_tokens" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val vocab = TextAnalysis.trainUnigramVocab(docs, "text",
        topK = 64, maxPieceLen = 4)
      // ONE Viterbi DP per word (r15): count and score come from the
      // same decode — identical integers to the old two-pass pair
      docs.select(col("doc_id"),
          size(filter(TextAnalysis.tokens(col("text")), w => w =!= ""))
            .cast(LongType).as("n_words"),
          TextAnalysis.unigramPieceStatsAgg(col("text"), vocab).as("u"))
        .select(col("doc_id"), col("n_words"),
          col("u.n_pieces").as("n_pieces"),
          col("u.lp_micro").as("sum_lp_micro"))
        .orderBy(col("doc_id"))
    }),

    // ---- served unigram tokenize: the vocab loads from the
    //      fingerprint-keyed parquet artifact (trained+saved on first
    //      run, validated at every load) — same train-once contract
    //      as the BPE artifact; same oracle as text_unigram_tokens ----
    "text_unigram_tokens_served" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val vocab = IndexStore.unigramVocabCached(docs, "text",
        topK = 64, maxPieceLen = 4, baseDir = artifactDir)
      // ONE Viterbi DP per word (r15) — see text_unigram_tokens
      docs.select(col("doc_id"),
          size(filter(TextAnalysis.tokens(col("text")), w => w =!= ""))
            .cast(LongType).as("n_words"),
          TextAnalysis.unigramPieceStatsAgg(col("text"), vocab).as("u"))
        .select(col("doc_id"), col("n_words"),
          col("u.n_pieces").as("n_pieces"),
          col("u.lp_micro").as("sum_lp_micro"))
        .orderBy(col("doc_id"))
    }),

    // ---- DSIR-style importance log-weights: hashed-bigram bucket
    //      distributions (portable poly hash mod 1024), target =
    //      src0 docs, raw = the rest; per-occurrence quantized
    //      ln(p_target/p_raw) summed as longs — the data-selection
    //      score that tilts a crawl toward a target domain ----
    "text_dsir_weights" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.dsirLogWeights(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", shingleWidth = 2, buckets = 1024)
        .select(col("id").as("doc_id"), col("n_grams"), col("sum_lr_micro"))
        .orderBy(col("doc_id"))
    }),

    // ---- deterministic shuffle-shard: reproducible (shard, pos)
    //      training order from the seeded portable hash — identical
    //      on any engine/partitioning (epoch ordering for trainers) ----
    "q_shuffle_shards" -> ((s, d) =>
      Frames.deterministicShuffle(
          t(s, d, "documents").select(col("doc_id")), "doc_id", nShards = 8, seed = 42L)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("doc_id"))),

    // ---- 3-dimensional Z-order: the N-way round-robin interleave
    //      (customer x order-day x price), bucket envelopes as the
    //      pruning evidence on ALL THREE dims; the oracle replays the
    //      48-term bit cycle exactly ----
    "q_zorder3_layout" -> ((s, d) => {
      val o = t(s, d, "orders")
        .withColumn("ck", col("o_custkey").cast(LongType))
        .withColumn("od", datediff(col("o_orderdate").cast(DateType),
          lit("1970-01-01").cast(DateType)).cast(LongType))
        .withColumn("tp", floor(col("o_totalprice")).cast(LongType))
      Layout.zorderKeyedN(o, Seq(col("ck"), col("od"), col("tp")),
          bits = 10, bucketBits = 6)
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("ck")).as("min_ck"), max(col("ck")).as("max_ck"),
          min(col("od")).as("min_od"), max(col("od")).as("max_od"),
          min(col("tp")).as("min_tp"), max(col("tp")).as("max_tp"))
        .orderBy(col("zbucket"))
    }),

    // ---- data-quality profiling: one aggregate pass for every
    //      requested numeric column (counts exact, float stats as
    //      integer cents), stacked to a column-per-row card ----
    "q_data_profile" -> ((s, d) =>
      Quality.profileNumeric(t(s, d, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .orderBy(col("column"))),

    // ---- declarative constraint suite: every check is a conditional
    //      count fused into ONE scan (null predicate = violation, the
    //      deequ convention); discount_cap is deliberately tight so
    //      the suite exercises the failing path ----
    "q_data_quality" -> ((s, d) =>
      Quality.checkConstraints(t(s, d, "lineitem"), Seq(
          "quantity_range" -> col("l_quantity").between(1.0, 50.0),
          "discount_cap" -> (col("l_discount") <= 0.05),
          "positive_price" -> (col("l_extendedprice") > 0.0),
          "valid_flag" -> col("l_returnflag").isin("A", "N", "R"),
          "tax_bounds" -> col("l_tax").between(0.0, 0.08)))
        .orderBy(col("check"))),

    // ---- windowed constraint monitoring (batch mode of the
    //      streaming twin): per 60-second event-time window (doc_id
    //      as epoch seconds), violation counts per check — quality
    //      gates on the live feed; streaming equality asserted in
    //      StreamingSpec ----
    "q_quality_windowed" -> ((s, d) =>
      Quality.checkConstraintsWindowed(
          t(s, d, "documents").withColumn("ts", timestamp_seconds(col("doc_id"))),
          Seq("nonempty" -> (length(trim(col("text"))) > 0),
            "lang_known" -> col("lang").isin("en", "fr", "zh", "de", "es"),
            "short_docs" -> (col("n_chars") <= 500L)),
          windowSeconds = 60L)
        .select(unix_timestamp(col("window_start")).as("win_start"),
          col("check"), col("n_violations"), col("pass"))
        .orderBy(col("win_start"), col("check"))),

    // ---- structural integrity card: FK orphans (lineitem -> orders)
    //      and key-uniqueness violations (customer PK), one row ----
    "q_data_integrity" -> ((s, d) =>
      Quality.referentialViolations(t(s, d, "lineitem"), "l_orderkey",
          t(s, d, "orders"), "o_orderkey")
        .crossJoin(Quality.uniquenessViolations(t(s, d, "customer"),
          Seq("c_custkey")))),

    // ---- snapshot diff — the corpus-refresh audit: ids added,
    //      removed, changed (md5 differs) and unchanged between two
    //      snapshot views of the documents table ----
    "q_snapshot_diff" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val a = docs.filter(col("doc_id") % 11 =!= 0)
      val b = docs.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Quality.snapshotDiff(a, b, "doc_id", "text")
    }),

    // ---- SCD Type-2 history: two corpus snapshots folded into
    //      row-level validity intervals — unchanged rows ride
    //      through open, changed rows close at v2 with an open
    //      successor, removed rows close with no successor, added
    //      rows open at v2. The oracle replays the full-outer fold
    //      and every interval class ----
    "q_scd2_history" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val a = docs.filter(col("doc_id") % 11 =!= 0)
      val b = docs.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      val h1 = Quality.scd2Init(a, "doc_id", "text", version = 1L)
      Quality.scd2Apply(h1, b, "doc_id", "text", version = 2L)
        .orderBy(col("id"), col("valid_from"))
    }),

    // ---- SCD2 point-in-time read: the history folded from two
    //      snapshots, read back AS OF version 1 — time travel must
    //      return EXACTLY the v1 snapshot (closed rows visible, v2
    //      arrivals invisible). The oracle replays the fold and the
    //      interval filter ----
    "q_scd2_asof" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val a = docs.filter(col("doc_id") % 11 =!= 0)
      val b = docs.filter(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      val h = Quality.scd2Apply(
        Quality.scd2Init(a, "doc_id", "text", version = 1L),
        b, "doc_id", "text", version = 2L)
      Quality.scd2AsOf(h, version = 1L).orderBy(col("id"))
    }),

    // ---- shard manifest: deterministic shard assignment + exact
    //      per-shard row counts and ORDER-INDEPENDENT checksums (sum
    //      of per-id portable hashes mod p) — the integrity record a
    //      resumable training loader verifies before consuming ----
    "q_shard_manifest" -> ((s, d) =>
      Frames.shardManifest(t(s, d, "documents").select(col("doc_id")),
        "doc_id", nShards = 8)),

    // ---- Z-order (Morton) layout clustering: rank-bucket two
    //      dimensions, interleave their bits, cluster on the key's
    //      top bits — the lakehouse OPTIMIZE ZORDER shape that makes
    //      parquet min/max stats prune scans on EITHER dimension.
    //      Integer-exact end-to-end (long division + shift/mask), so
    //      the oracle replays the curve bit-for-bit; the per-bucket
    //      envelope (min/max of both dims) IS the pruning evidence:
    //      each bucket covers a small rectangle, not a full-range
    //      stripe ----
    "q_zorder_layout" -> ((s, d) => {
      val o = t(s, d, "orders")
        .withColumn("ck", col("o_custkey").cast(LongType))
        .withColumn("od", datediff(col("o_orderdate").cast(DateType),
          lit("1970-01-01").cast(DateType)).cast(LongType))
      Layout.zorderKeyed(o, col("ck"), col("od"), bits = 16, bucketBits = 6)
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("ck")).as("min_ck"), max(col("ck")).as("max_ck"),
          min(col("od")).as("min_od"), max(col("od")).as("max_od"))
        .orderBy(col("zbucket"))
    }),

    // ---- 2-D pruning audit: the OPTIMIZE ZORDER case quantified.
    //      The same orders rows under z-order buckets vs a ck-sorted
    //      vs an od-sorted layout; per-file 2-D envelopes and which
    //      files a conjunctive range predicate must read. Z-order
    //      reads ~sel(ck)·sel(od) of the files; each single-dim sort
    //      reads the full stripe of its unsorted dimension ----
    "q_zorder_prune" -> ((s, d) => {
      val o = t(s, d, "orders")
        .withColumn("ck", col("o_custkey").cast(LongType))
        .withColumn("od", datediff(col("o_orderdate").cast(DateType),
          lit("1970-01-01").cast(DateType)).cast(LongType))
      Layout.zorderPruneAudit(o, col("ck"), col("od"),
          bits = 16, bucketBits = 6)
        .orderBy(col("layout"), col("file_id"))
    }),

    // ---- zone-map pruning audit: the same rows under a range-
    //      clustered vs a hashed file layout, each file's min/max
    //      envelope (= its parquet footer stats), and which files a
    //      range predicate must read. The contrast quantifies why
    //      layout work pays at scan time: clustered reads
    //      O(selectivity) of the files, hashed reads all of them ----
    "q_zonemap_prune" -> ((s, d) =>
      Layout.zoneMapAudit(t(s, d, "documents"), col("doc_id"), nFiles = 32)
        .orderBy(col("layout"), col("file_id"))),

    // ---- small-file compaction planner: manifest = per-(source,
    //      hash-file) byte totals; per partition, files below the
    //      size floor are FFD-packed into target-capacity output
    //      groups (bytes DESC, file_id ASC placement — deterministic,
    //      so the oracle unrolls the identical greedy), big files
    //      keep grp = -1 ----
    "q_compaction_plan" -> ((s, d) => {
      val manifest = t(s, d, "documents")
        .groupBy(col("source"),
          pmod(Frames.portableHash(col("doc_id"), 11L), lit(64L)).as("file_id"))
        .agg(sum(col("n_chars")).as("bytes"))
      Layout.compactionPlan(manifest, "source", "file_id", "bytes",
          targetDiv = 4L, smallDiv = 4L)
        .orderBy(col("partition"), col("file_id"))
    }),

    // ---- epoch assembly: deterministic shuffle THEN token-budget
    //      sequence packing in shuffled order — the reproducible
    //      "which 512-token training sequence does each doc land in
    //      this epoch" pipeline ----
    "q_epoch_pack" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val shuffled = Frames.deterministicShuffle(
          docs.select(col("doc_id"),
            size(TextAnalysis.tokens(col("text"))).cast(LongType).as("n_tokens")),
          "doc_id", nShards = 8, seed = 42L)
        .withColumn("ord", col("shard").cast(LongType) * lit(1000000L) + col("pos"))
      val packed = Frames.packSequences(shuffled, "ord", "n_tokens",
        budget = 512, bucketSize = 128)
      packed.join(shuffled.select(col("ord"), col("doc_id")),
          packed("id") === col("ord"))
        .select(col("doc_id"), col("id").as("ord"), col("n"), col("start"),
          col("seq_id"), col("seq_offset"))
        .orderBy(col("doc_id"))
    }),

    // ---- the round-3 flagship composition — a modern pretraining
    //      curation DAG: Gopher rule gate -> CCNet perplexity bucket
    //      (drop the tail) -> duplicated-span coverage cap (<= 30% of
    //      tokens) -> exact dedup keep-first. Every stage is an
    //      individually oracle-checked operator; this locks the
    //      composition. ----
    "q_curation_v2" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val gated = docs.select(col("doc_id"), col("lang"), col("text"),
          TextAnalysis.gopherSignals(col("text")).as("g"))
        .filter(col("g.pass"))
      val ppl = TextAnalysis.perplexityBuckets(docs, "doc_id", "text", "lang")
        .select(col("id").as("doc_id"), col("bucket"))
      val spanCover = Dedup.duplicatedSpans(docs, "doc_id", "text", minLen = 8)
        .select(col("id").as("doc_id"), col("span_len"))
        .groupBy(col("doc_id")).agg(sum(col("span_len")).as("dup_tokens"))
      val kept = gated.join(ppl, Seq("doc_id"))
        .filter(col("bucket") =!= "tail")
        .join(spanCover, Seq("doc_id"), "left")
        .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
        .filter(col("dup_tokens") * 10L <= col("g.n_words") * 3L)
      Dedup.exactDedup(kept, "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("bucket"),
          col("g.n_words").as("n_words"), col("dup_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ---- the round-8 flagship composition — the full 100 TB
    //      curation shape assembled from this round's pieces:
    //      (A) per-SOURCE health gate (drop sources over 10% exact-dup
    //          or PII incidence — the ingest-health card as a filter),
    //      (B) per-DOC Gopher rule + repetition gates,
    //      (C) TRAINED hashed-linear quality keep (weights learned
    //          in-plan from the lang='en' seed, per-token-normalized
    //          decision boundary, integer cross-multiplied),
    //      (D) MinHash-LSH near-dup discovery -> ONE connected-
    //          components closure serving BOTH canonical-keep dedup
    //          AND the leakage-safe train/val split (clusters never
    //          straddle the eval boundary),
    //      (E) deterministic shuffle-shard + token-budget sequence
    //          packing of the train split.
    //      The corpus is deterministically augmented (PII-heavy
    //      sources, boilerplate-dup sources, a cross-source near-dup
    //      template family) so every gate provably fires at every sf —
    //      both engines build the identical augmented corpus, the
    //      text_pii_redact fixture pattern. Every stage is an
    //      individually-green operator; this locks the composition. ----
    "q_curation_v3" -> ((s, d) =>
      curationV3(t(s, d, "documents")).orderBy(col("doc_id"))),

    // ---- the SERVED flagship: identical composition, but stage
    //      (C)'s quality weights load from the fingerprint-keyed
    //      parquet model artifact (trained+saved on first run) — the
    //      deployed train-once/serve-many shape. Same oracle as
    //      q_curation_v3: integer weights round-trip parquet exactly,
    //      so served must equal inline bit-for-bit ----
    "q_curation_v3_served" -> ((s, d) =>
      curationV3(t(s, d, "documents"), weightsArtifactDir = Some(artifactDir))
        .orderBy(col("doc_id"))),

    // ---- the DERIVED-LANGUAGE flagship: identical composition, but
    //      stage (C)'s quality seed comes from the trained char-3-gram
    //      language classifier applied to the augmented corpus (real
    //      crawl curation derives its language; it never has a
    //      trusted lang column). The classifier trains on the
    //      deterministic multilingual panel's split; the oracle
    //      replays panel, profiles, per-doc argmax AND the whole v3
    //      chain downstream of the re-seeded weights ----
    "q_curation_v4" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val panel = TextAnalysis.synthLangDocs(docs.select(col("doc_id")),
        "doc_id")
      val profiles = TextAnalysis.loadLangProfiles(
        TextAnalysis.trainLangProfiles(
          panel.filter(col("doc_id") % 5 =!= 0), "text", "lang", 1024), 1024)
      curationV3(docs, langSeedProfiles = Some(profiles))
        .orderBy(col("doc_id"))
    }),

    // ---- Gopher-style quality rule set: exact integer signals +
    //      cross-multiplied threshold tests, replayed verbatim by the
    //      oracle (no float boundaries anywhere) ----
    "text_gopher_rules" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.gopherSignals(col("text")).as("g"))
        .select(col("doc_id"), col("g.n_words"), col("g.wlen_q4"),
          col("g.n_symbol"), col("g.n_lines"), col("g.n_bullet_lines"),
          col("g.n_ellipsis_lines"), col("g.n_alpha_words"),
          col("g.n_stop_distinct"), col("g.pass"))
        .orderBy(col("doc_id"))),

    // ---- C4-style line-level cleaning card: terminal-punct +
    //      min-words line keeps, sentence floor over KEPT text,
    //      lorem-ipsum/brace page drops — integer/boolean signals
    //      replayed verbatim by the oracle ----
    "text_c4_rules" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.c4Signals(col("text")).as("c"))
        .select(col("doc_id"), col("c.n_lines"), col("c.n_kept_lines"),
          col("c.n_sentences_kept"), col("c.has_lorem"), col("c.has_brace"),
          col("c.pass"))
        .orderBy(col("doc_id"))),

    // ---- Bloom file-skipping audit: the point-lookup leg of the
    //      layout trio (zone maps = ranges, z-order = conjunctive
    //      ranges, per-file Blooms = equality probes). min/max prunes
    //      a hashed layout not at all; the Bloom tier stays selective
    //      under either layout — quantified per probe key ----
    "q_bloom_skip_audit" -> ((s, d) =>
      graft.operators.Layout.bloomSkipAudit(
          t(s, d, "documents"), col("doc_id"))
        .orderBy(col("layout"), col("probe_key"))),

    // ---- exact duplicated-substring spans (Lee et al. 2022 shape):
    //      maximal token regions covered by corpus-duplicated 8-token
    //      windows, merged per doc by gaps-and-islands ----
    "dedup_substring_spans" -> ((s, d) =>
      Dedup.duplicatedSpans(t(s, d, "documents"), "doc_id", "text", minLen = 8)
        .select(col("id").as("doc_id"), col("span_start"), col("span_len"))
        .orderBy(col("doc_id"), col("span_start"))),

    // ---- span-level CUT dedup: every duplicated passage survives
    //      only at its globally-first occurrence; later copies are
    //      removed from the text, not the doc ----
    "dedup_span_cut" -> ((s, d) =>
      Dedup.spanDedup(t(s, d, "documents"), "doc_id", "text", minLen = 8)
        .select(col("id").as("doc_id"), col("clean_text"),
          col("n_kept"), col("n_cut"))
        .orderBy(col("doc_id"))),

    // ---- CCNet-style perplexity bucketing: per-language head/middle/
    //      tail terciles of the mean-token-logprob score, cutoffs from
    //      a bounded score histogram (never a corpus sort) ----
    "text_ppl_buckets" -> ((s, d) =>
      TextAnalysis.perplexityBuckets(t(s, d, "documents"), "doc_id", "text", "lang")
        .select(col("id").as("doc_id"), col("lang"), col("score_q"), col("bucket"))
        .orderBy(col("doc_id"))),

    // ---- SemDeDup-shaped semantic dedup: portable IVF clustering,
    //      all-pairs cosine only within a cell, connected components,
    //      keep each cluster's canonical member. The oracle retrains
    //      the identical centroids and replays assignment, within-cell
    //      pairs and the closure ----
    "dedup_semantic" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = Similarity.trainIvfCentroids(e,
        nCentroids = Similarity.suggestedCentroids(e.count()), dim = 64,
        iterations = 1)
      val pairs = Similarity.semanticDedupPairs(e, "vec_id", "embedding",
        cents, threshold = 0.3)
      Dedup.dedupByNearDup(e, "vec_id", pairs)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    // ---- near-dup dedup keeping the best-QUALITY doc per cluster
    //      (curation-grade survivor choice; argmax aggregate, no
    //      window). Pair DISCOVERY is MinHash-LSH banding — the
    //      100 TB play: candidates only from band-bucket
    //      collisions, exact Jaccard verified on that bounded set,
    //      never all-pairs (exact-pair discovery measured 61-155x at
    //      20x corpus). bands=32/r=2, NOT 16/4: the S-curve midpoint
    //      (1/32)^(1/2) ≈ 0.18 sits well BELOW the Jaccard threshold
    //      0.5, so true pairs at threshold similarity are discovered
    //      with probability 1-(1-0.5^2)^32 ≈ 0.9998 (16/4's midpoint
    //      was exactly 0.5 — only ~64% recall at the decision
    //      boundary, a loss the oracle could not surface because it
    //      replays the same hash family). Portable hash family so the
    //      DuckDB oracle replays discovery AND verification
    //      bit-exactly ----
    "dedup_cluster_best" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val scored = docs.withColumn("quality_q4",
        floor(TextAnalysis.qualityScoreRaw(col("text")) * lit(10000.0) + lit(0.5))
          .cast(LongType))
      val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        numHashes = 64, bands = 32, shingleWidth = 3, threshold = 0.5)
      Dedup.dedupByNearDupPreferring(scored, "doc_id", pairs, "quality_q4")
        .select(col("doc_id"), col("quality_q4"))
        .orderBy(col("doc_id"))
    }),

    // ---- b-bit minwise hashing eval card: the signature-compression
    //      ladder measured per LSH-candidate pair — exact Jaccard vs
    //      the full 64-slot estimate vs the bias-corrected b=4 and
    //      b=1 estimates (64/b-fold smaller signatures), all exact
    //      integer micro-units the oracle replays slot-for-slot ----
    "dedup_bbit_eval" -> ((s, d) =>
      Dedup.bbitMinhashCard(t(s, d, "documents"), "doc_id", "text",
          numHashes = 64, bands = 16, shingleWidth = 3, bits = Seq(4, 1))
        .orderBy(col("id_a"), col("id_b"))),

    // ---- cross-corpus near-dup pairs (the daily-ingest shape): the
    //      doc_id%5==0 slice plays today's delta, the rest the
    //      historical corpus; pairs only BETWEEN the sides ----
    "dedup_minhash_cross" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.minhashNearDupPairsCross(
          docs.filter(col("doc_id") % 5 === 0), docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", numHashes = 64, bands = 16, shingleWidth = 3,
          threshold = 0.5)
        .orderBy(col("delta_id"), col("corpus_id"))
    }),

    // ---- edit-distance similarity self-join (entity resolution /
    //      fuzzy key matching): all customer-name pairs within
    //      Levenshtein 1, found through the q-gram prefix filter —
    //      an equi-join on each string's q·d+1 rarest grams — never
    //      the all-pairs product the naive form is. COMPLETE, unlike
    //      q_fuzzy_pairs' first-token blocking (a heuristic that
    //      misses pairs differing in their first word by design).
    //      Verification is exact, so the oracle replays the whole
    //      filter+verify composition gram-for-gram ----
    "dedup_edit_join" -> ((s, d) =>
      graft.operators.EditSimilarity.editSimilarityJoin(
          t(s, d, "customer").select(col("c_custkey").as("id"),
            col("c_name").as("s")),
          "id", "s", maxDist = 1, q = 3)
        .orderBy(col("a_id"), col("b_id"))),

    // ---- the FastSS-pruned deletion join at d=2: variants generate
    //      from the first 12 chars only (79 keys per string instead
    //      of 172 — the truncation lemma keeps completeness at every
    //      prefix length). c_name's entropy sits in its trailing
    //      digits, so the documented remedy applies: key on
    //      reverse(name) — levenshtein is reversal-invariant, so the
    //      pair set and distances are exactly the unreversed ones.
    //      The oracle replays truncation, variant generation, and
    //      the exact verify. The %7 slice keeps the d=2 output
    //      bench-sized (the FULL-corpus d=2 pair set is genuinely
    //      ~quadratic in lookalikes — 4M pairs at sf0.1, a 2-minute
    //      row) and,
    //      unlike a %5/%10 slice, keeps LAST-digit variety so the
    //      reversed prefix retains its leading entropy ----
    "dedup_edit_join_pruned" -> ((s, d) =>
      graft.operators.EditSimilarity.editSimilarityJoin(
          t(s, d, "customer").filter(col("c_custkey") % 7 === 0)
            .select(col("c_custkey").as("id"),
              reverse(col("c_name")).as("s")),
          "id", "s", maxDist = 2, strategy = "deletion", prefixLen = 12)
        .orderBy(col("a_id"), col("b_id"))),

    // ---- PERSISTED edit-similarity index, gated (the daily-arrivals
    //      entity-resolution shape): the %5==0 customers play today's
    //      batch, the rest the admitted master data. TRUE edit-
    //      distance semantics — the one-sided prefix filter is
    //      complete under any term order because the index stores
    //      FULL gram sets — so the oracle is an honest brute-force
    //      cross join, a stronger check than replaying the filter ----
    "dedup_editidx_gate" -> ((s, d) => {
      val cust = t(s, d, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      val prefix = graft.operators.EditIndex.editIndexCached(
        cust.filter(col("id") % 5 =!= 0), "id", "name", maxDist = 1, q = 3)
      graft.operators.EditIndex.gateEditMatches(s, prefix,
          cust.filter(col("id") % 5 === 0), "id", "name")
        .orderBy(col("delta_id"), col("index_id"))
    }),

    // ---- the same gate after an O(delta) APPEND: the master data is
    //      built from 3/4 of the corpus side and the last quarter is
    //      folded in via appendToEditIndex — the gate answer must be
    //      row-for-row the dedup_editidx_gate answer (append ≡
    //      rebuild; shares its oracle) ----
    "dedup_editidx_append" -> ((s, d) => {
      val cust = t(s, d, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      val corp = cust.filter(col("id") % 5 =!= 0)
      val prefix = graft.operators.EditIndex.editAppendCached(
        corp.filter(col("id") % 4 =!= 1), corp.filter(col("id") % 4 === 1),
        "id", "name", maxDist = 1, q = 3)
      graft.operators.EditIndex.gateEditMatches(s, prefix,
          cust.filter(col("id") % 5 === 0), "id", "name")
        .orderBy(col("delta_id"), col("index_id"))
    }),

    // ---- token-budget sequence packing (concatenate-then-chunk
    //      pretraining batch assembly): which 512-token training
    //      sequence each doc starts in, at what offset, spanning how
    //      many. bucketSize=128 so the two-level prefix sum crosses
    //      bucket boundaries even at sf0.001 ----
    "q_pack_sequences" -> ((s, d) =>
      Frames.packSequences(
          t(s, d, "documents").select(col("doc_id"),
            size(TextAnalysis.tokens(col("text"))).as("n_tokens")),
          "doc_id", "n_tokens", budget = 512, bucketSize = 128)
        .select(col("id").as("doc_id"), col("n"), col("start"),
          col("seq_id"), col("seq_offset"), col("n_seqs"))
        .orderBy(col("doc_id"))),

    // ---- DOCUMENT-PRESERVING sequence packing (first-fit-decreasing
    //      bin packing within hash shards): no doc ever spans two
    //      training sequences; docs longer than the budget are flagged
    //      seq=-1 instead of silently split. The deterministic
    //      (tokens DESC, id ASC) placement order makes the greedy fold
    //      replayable: the oracle unrolls FFD per shard as a recursive
    //      CTE carrying the open-sequence capacity list and must land
    //      on the identical (shard, seq) assignment for every doc ----
    "q_pack_ffd" -> ((s, d) =>
      Frames.packSequencesFfd(
          t(s, d, "documents").select(col("doc_id"),
            size(TextAnalysis.tokens(col("text"))).as("n_tokens")),
          "doc_id", "n_tokens", budget = 512, nShards = 8)
        .select(col("id").as("doc_id"), col("n"), col("shard"), col("seq"))
        .orderBy(col("doc_id"))),

    // ---- packing-efficiency card: the quantified trade between the
    //      two assembly shapes. concat-then-chunk packs EVERY token
    //      (docs split at boundaries; waste = only the final
    //      sequence's tail) vs FFD (docs intact, oversized excluded;
    //      waste = per-sequence residuals). One row per method:
    //      (n_seqs, n_tokens packed, padding_tokens) ----
    "q_pack_efficiency" -> ((s, d) => {
      val toks = t(s, d, "documents").select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).as("n_tokens"))
      val ffd = Frames.packSequencesFfd(toks, "doc_id", "n_tokens",
        budget = 512, nShards = 8)
      val f = ffd.filter(col("seq") >= 0)
        .agg(countDistinct(col("shard"), col("seq")).as("n_seqs"),
          sum(col("n")).as("n_tokens"))
        .select(lit("ffd").as("method"), col("n_seqs"), col("n_tokens"),
          (col("n_seqs") * lit(512L) - col("n_tokens")).as("padding_tokens"))
      val c = toks.agg(sum(col("n_tokens")).as("tot"))
        .select(lit("concat").as("method"),
          expr("(tot + 511) div 512").as("n_seqs"), col("tot").as("n_tokens"),
          (expr("(tot + 511) div 512") * lit(512L) - col("tot")).as("padding_tokens"))
      c.unionByName(f).orderBy(col("method"))
    }),

    // ---- C4-style corpus-wide line dedup: each exact line survives
    //      only at its first (id, pos) occurrence; docs reassembled.
    //      Empty lines exempt ----
    "dedup_lines" -> ((s, d) =>
      Dedup.lineDedup(t(s, d, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("clean_text"), col("n_kept"), col("n_lines"))
        .orderBy(col("doc_id"))),

    // ---- SimHash near-dup pairs, portable token hashes: the oracle
    //      recomputes per-bit votes, signatures, pigeonhole bands and
    //      Hamming distances. maxDist=3 (the operator default): tight
    //      banding keeps the pigeonhole bands wide (15 bits), so
    //      candidate collisions — and the output — stay near-dup-sized ----
    "dedup_simhash" -> ((s, d) =>
      Dedup.simhashNearDupPairs(t(s, d, "documents"), "doc_id", "text", maxDist = 3)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- brute-force exact ANN: top-1 cosine neighbor for every
    //      vector. The streamed corpus side is repartitioned to the
    //      session parallelism: the test fixture is one small parquet
    //      file (1-2 scan splits), which would serialize the O(n²)
    //      cosine work; a real 100 TB corpus has natural scan
    //      parallelism and skips this. ----
    "sim_topk_bruteforce" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.bruteForceTopK(e.repartition(s.sparkContext.defaultParallelism), e, k = 1)
        .select(col("query_id"), col("id").as("nn_id"))
        .orderBy(col("query_id"))
    }),

    // ---- exact cosine near-dup pairs (broadcast self-join; streamed
    //      side spread as above) ----
    "sim_cosine_pairs" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val a = e.repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.join(broadcast(b), col("id_a") < col("id_b"))
        .filter(Similarity.cosine(col("va"), col("vb")) >= 0.5)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- embedding-cosine near-dup DEDUP: pairs above the cosine
    //      threshold -> connected components -> keep each cluster's
    //      canonical member. Exact pairs here (oracle-checkable, the
    //      broadcast self-join); at corpus scale swap the pair stage
    //      for Similarity.cosineNearDupPairs (hyperplane-LSH
    //      candidates, same output columns — recall asserted in
    //      SimilaritySpec) ----
    "dedup_embedding" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val a = e.repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      val pairs = a.join(broadcast(b), col("id_a") < col("id_b"))
        .filter(Similarity.cosine(col("va"), col("vb")) >= 0.3)
        .select(col("id_a"), col("id_b"))
      Dedup.dedupByNearDup(e, "vec_id", pairs)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    // ---- hard-negative mining (contrastive training): top-2 most
    //      similar DIFFERENT-label vectors per query; exact broadcast
    //      baseline (IVF scale path recall-tested in ScalaTest) ----
    "sim_hard_negatives" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.hardNegativesBruteForce(
          e.repartition(s.sparkContext.defaultParallelism), "label", k = 2)
        .select(col("query_id"), col("rank"), col("id").as("neg_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- hard-negative mining, IVF scale path: same contract as
    //      sim_hard_negatives but candidates come only from nProbe
    //      coarse cells (~corpus x nProbe / cells scored pairs — the
    //      100 TB shape; the exact query above is the quadratic
    //      baseline). Portable centroid training (hash init + integer
    //      mean updates) lets the oracle retrain identical centroids
    //      and replay assignment, probing, label filter and ranking ----
    "sim_hard_negatives_ivf" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = Similarity.trainIvfCentroids(e,
        nCentroids = Similarity.suggestedCentroids(e.count()), dim = 64,
        iterations = 1)
      Similarity.hardNegativesIvf(e, "label", k = 2, cents, nProbe = 4)
        .select(col("query_id"), col("rank"), col("id").as("neg_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- LSH-bucketed ANN (scale path; recall checked in ScalaTest).
    //      Portable Rademacher planes over quantized entries: the
    //      oracle recomputes every bucket, candidate set and cosine
    //      ranking — the ANN pipeline is hash-matched end to end ----
    "sim_topk_lsh" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.lshTopK(e, e, k = 1, dim = 64, numPlanes = 6, tables = 8)
        .select(col("query_id"), col("rank"), col("id").as("nn_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- IVF ANN (coarse-quantizer scale path; recall in ScalaTest).
    //      Cell count follows the sqrt sizing law — fixed cells make
    //      self-ANN quadratic (measured 4.3x slower at 10x corpus) ----
    //      Portable training (hash init + exact integer mean updates)
    //      lets the oracle retrain the identical centroids and replay
    //      assignment, probing and ranking — k-means included ----
    "sim_topk_ivf" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = Similarity.trainIvfCentroids(e,
        nCentroids = Similarity.suggestedCentroids(e.count()), dim = 64, iterations = 1)
      Similarity.ivfTopK(e, e, k = 1, cents, nProbe = 4)
        .select(col("query_id"), col("id").as("nn_id"))
        .orderBy(col("query_id"))
    }),

    // ---- IVF cell-imbalance card (probe-latency-skew twin of the
    //      recall-drift card): per-cell population, exact-integer
    //      share and the oversized work-list splitOversizedCells
    //      consumes. Portable training lets the oracle retrain the
    //      identical centroids and replay assignment + the card ----
    "sim_ivf_cell_skew" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = Similarity.trainIvfCentroids(e,
        nCentroids = Similarity.suggestedCentroids(e.count()), dim = 64,
        iterations = 1)
      Similarity.ivfCellSkew(e, "vec_id", "embedding", cents,
          oversizeFactor = 2)
        .select(col("cell").cast(LongType).as("cell"), col("n"),
          col("n_total"), col("expected"), col("skew_micro"), col("oversized"))
        .orderBy(col("cell"))
    }),

    // ---- FILTERED ANN (the production "nearest WITHIN a metadata
    //      predicate" shape): pure composition — cell assignment is a
    //      per-row map over centroids, so pre-filtering the corpus
    //      side changes nothing about where survivors land, and the
    //      predicate pushes into the corpus parquet scan BEFORE any
    //      vector work (PlanShapeSpec pins PushedFilters). Queries
    //      whose probed cells hold no eligible neighbor drop out on
    //      both engines ----
    "sim_topk_ivf_filtered" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = Similarity.trainIvfCentroids(e,
        nCentroids = Similarity.suggestedCentroids(e.count()), dim = 64,
        iterations = 1)
      Similarity.ivfTopK(e.filter(col("label") < 5), e, k = 1, cents,
          nProbe = 4)
        .select(col("query_id"), col("id").as("nn_id"))
        .orderBy(col("query_id"))
    }),

    // ---- train-once / serve-many IVF: centroids come from the
    //      persisted parquet model artifact (trained+saved on first
    //      run, loaded+REVALIDATED on every run — loud on malformed),
    //      then the identical probe/rank chain as sim_topk_ivf. Same
    //      oracle: float32 round-trips parquet bit-exactly, so the
    //      loaded index must reproduce the inline-trained result
    //      bit-for-bit ----
    "sim_topk_ivf_loaded" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = IndexStore.ivfCentroidsCached(e,
        nCentroids = Similarity.suggestedCentroids(e.count()), dim = 64,
        baseDir = artifactDir, iterations = 1)
      Similarity.ivfTopK(e, e, k = 1, cents, nProbe = 4)
        .select(col("query_id"), col("id").as("nn_id"))
        .orderBy(col("query_id"))
    }),

    // ---- PERSISTED IVF assignments: the corpus is assigned to cells
    //      ONCE and materialized as a cell-partitioned catalog table;
    //      the probe reads probed-cell partitions instead of
    //      re-scanning and re-assigning every vector per panel (at
    //      100 TB the scan is the cost). Same centroids, same scoring
    //      chain, floats round-trip parquet → same oracle as
    //      sim_topk_ivf ----
    "sim_topk_ivf_idx" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = IndexStore.ivfCentroidsCached(e,
        nCentroids = Similarity.suggestedCentroids(e.count()), dim = 64,
        baseDir = artifactDir, iterations = 1)
      val prefix = IvfIndex.ivfIndexCached(e, "vec_id", "embedding", cents)
      IvfIndex.ivfTopKFromIndex(s, prefix, e, k = 1, cents, nProbe = 4)
        .select(col("query_id"), col("id").as("nn_id"))
        .orderBy(col("query_id"))
    }),

    // ---- INCREMENTAL IVF: centroids train on the 4/5 base corpus
    //      and FREEZE; every 5th vector arrives later and is assigned
    //      with the frozen centroids into the same cell-partitioned
    //      table (assignment rows are per-vector facts — append is
    //      exact by construction, recall drift is the monitored
    //      trade). The oracle replays base-subset training + all-row
    //      assignment ----
    "sim_topk_ivf_append" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val base = e.filter(col("vec_id") % 5 =!= 0)
      val delta = e.filter(col("vec_id") % 5 === 0)
      val cents = Similarity.trainIvfCentroids(base,
        nCentroids = Similarity.suggestedCentroids(base.count()), dim = 64,
        iterations = 1)
      val prefix = IvfIndex.ivfAppendCached(base, delta, "vec_id",
        "embedding", cents)
      IvfIndex.ivfTopKFromIndex(s, prefix, e, k = 1, cents, nProbe = 4)
        .select(col("query_id"), col("id").as("nn_id"))
        .orderBy(col("query_id"))
    }),

    // ---- centroid-prototypicality outliers: the 20 vectors LEAST
    //      similar to their own nearest trained centroid — the
    //      embedding-space garbage/off-distribution review list
    //      (SemDeDup-family signal). Training, assignment and the
    //      micro-floored score fully replayed ----
    "sim_centroid_outliers" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cents = Similarity.trainIvfCentroids(e,
        nCentroids = Similarity.suggestedCentroids(e.count()), dim = 64,
        iterations = 1)
      Similarity.centroidPrototypicality(e, cents)
        .orderBy(col("proto_micro").asc, col("id").asc).limit(20)
        .select(col("id"), col("cell"), col("proto_micro"))
    }),

    // ---- label-margin mislabel suspects: the 20 vectors whose
    //      cosine to their OWN label centroid most trails the best
    //      OTHER label centroid (negative margin = sits in another
    //      class's territory). Centroids via the portable quantized
    //      mean; margin = difference of floored micro cosines ----
    "sim_label_margin" -> ((s, d) =>
      Similarity.labelMargin(t(s, d, "embeddings"), k = 20)),

    // ---- k-anonymity audit: histogram of quasi-identifier
    //      equivalence-class sizes over (lang, source) — k=1 rows
    //      are re-identifiable singletons ----
    "q_kanon_audit" -> ((s, d) =>
      graft.operators.Quality.kAnonymityAudit(
        t(s, d, "documents"), Seq("lang", "source")).orderBy(col("k"))),

    // ---- k-anonymity suppression: the release transform — every
    //      surviving row is hidden among >= kMin-1 others on the
    //      quasi-identifiers; the class size rides along as k ----
    "q_kanon_suppress" -> ((s, d) =>
      graft.operators.Quality.kAnonymitySuppress(
          t(s, d, "documents"), Seq("lang", "source"), kMin = 3)
        .select(col("doc_id"), col("lang"), col("source"), col("k"))
        .orderBy(col("doc_id"))),

    // ---- l-diversity audit: k-anonymity's companion — a k-safe
    //      class with ONE sensitive value still discloses it
    //      (homogeneity attack); histogram of distinct-sensitive
    //      counts per QI class ----
    "q_ldiv_audit" -> ((s, d) =>
      graft.operators.Quality.lDiversityAudit(
        t(s, d, "documents"), Seq("source"), "lang").orderBy(col("l"))),

    // ---- l-diversity suppression: rows in classes holding < lMin
    //      distinct sensitive values are dropped; l rides along ----
    "q_ldiv_suppress" -> ((s, d) =>
      graft.operators.Quality.lDiversitySuppress(
          t(s, d, "documents"), Seq("source"), "lang", lMin = 5)
        .select(col("doc_id"), col("source"), col("lang"), col("l"))
        .orderBy(col("doc_id"))),

    // ---- t-closeness audit: the privacy trio's third leg — a
    //      k-safe, l-diverse class still leaks by SKEW when its
    //      sensitive distribution diverges from the corpus's; total
    //      variation per class in exact integer micro-units
    //      (Σ|c(v)·N − g(v)·n| / (2·n·N), DECIMAL(38,0) products) ----
    "q_tclose_audit" -> ((s, d) =>
      graft.operators.Quality.tClosenessAudit(
        t(s, d, "documents"), Seq("source"), "lang").orderBy(col("source"))),

    // ---- t-closeness suppression: rows in classes farther than
    //      tMax from the corpus-wide sensitive distribution are
    //      dropped; t_micro rides along ----
    "q_tclose_suppress" -> ((s, d) =>
      graft.operators.Quality.tClosenessSuppress(
          t(s, d, "documents"), Seq("source"), "lang", tMaxMicro = 120000L)
        .select(col("doc_id"), col("source"), col("lang"), col("t_micro"))
        .orderBy(col("doc_id"))),

    // ---- DP count release (plumbing): per-key counts + two-sided
    //      geometric (discrete Laplace) noise from the inverse CDF,
    //      clamped at zero — the publication step after the privacy
    //      audits. Noise here is SEEDED-deterministic (replayable;
    //      NOT actually private — the documented stub; production
    //      swaps in a CSPRNG draw) ----
    "q_dp_counts" -> ((s, d) =>
      graft.operators.Quality.dpNoisyCounts(
          t(s, d, "documents"), Seq("lang", "source"),
          epsilon = 0.5, seed = 7L)
        .orderBy(col("lang"), col("source"))),

    // ---- DP sum/mean release with per-contributor bounding: clamp
    //      order totals (cents), keep <= 3 rows per customer per
    //      status (ranked by clamped value — sensitivity bounded at
    //      maxPerActor·clampHi), then geometric noise at scale Δ/ε
    //      on the sum and maxPerActor/ε on the count (an actor owns
    //      up to maxPerActor KEPT rows); mean = post-processing of
    //      the two releases. Same seeded-replayable (NOT private)
    //      noise stub as q_dp_counts ----
    "q_dp_sum" -> ((s, d) =>
      graft.operators.Quality.dpNoisySum(
          t(s, d, "orders").select(col("o_orderstatus"), col("o_custkey"),
            floor(col("o_totalprice") * 100 + lit(0.5)).cast(LongType)
              .as("cents")),
          Seq("o_orderstatus"), "o_custkey", "cents",
          clampLo = 0L, clampHi = 30000000L, maxPerActor = 3,
          epsilon = 0.5, seed = 11L)
        .orderBy(col("o_orderstatus"))),

    // ---- DP BUDGET LEDGER card: a scripted release sequence against
    //      one table under a 1.0-ε (10^6 µ) sequential-composition
    //      cap — counts at ε=0.4 admitted, a sum at ε=0.3 admitted
    //      (cumulative 700000µ), then a third release at ε=0.5
    //      REFUSED loudly (1200000µ > cap; the refusal is asserted,
    //      then recorded as the card's admitted=false row). Spends
    //      are release-id idempotent, so bench's cold+serve replay
    //      lands on the identical card. n_keys ties each admitted
    //      release to the data it published ----
    "q_dp_budget" -> ((s, d) => {
      import graft.operators.Quality
      val docs = t(s, d, "documents")
      val ledger = "dp_ledger_v1"
      val cap = 1000000L
      val r1 = Quality.dpNoisyCountsBudgeted(docs, Seq("lang", "source"),
        epsilon = 0.4, seed = 7L, ledger, "corpus_v1",
        "r1_lang_source_counts", cap)
      val n1 = r1.count()
      val r2 = Quality.dpNoisySumBudgeted(
        t(s, d, "orders").select(col("o_orderstatus"), col("o_custkey"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast(LongType)
            .as("cents")),
        Seq("o_orderstatus"), "o_custkey", "cents",
        clampLo = 0L, clampHi = 30000000L, maxPerActor = 3,
        epsilon = 0.3, seed = 11L, ledger, "corpus_v1", "r2_status_sum", cap)
      val n2 = r2.count()
      val refused =
        try {
          Quality.dpNoisyCountsBudgeted(docs, Seq("lang"), epsilon = 0.5,
            seed = 7L, ledger, "corpus_v1", "r3_lang_counts", cap)
          false
        } catch { case _: IllegalArgumentException => true }
      require(refused, "q_dp_budget: the over-cap release must be refused")
      import s.implicits._
      val nKeys = Seq(("r1_lang_source_counts", n1), ("r2_status_sum", n2))
        .toDF("release_id", "n_keys")
      Quality.dpLedgerCard(s, ledger)
        .filter(col("table_id") === "corpus_v1")
        .join(nKeys, Seq("release_id"))
        .select(col("seq"), col("release_id"), col("mechanism"),
          col("eps_micro"), col("delta"), col("n_keys"),
          col("cum_eps_micro"), lit(true).as("admitted"))
        .unionByName(s.range(1).select(lit(3L).as("seq"),
          lit("r3_lang_counts").as("release_id"), lit("counts").as("mechanism"),
          lit(500000L).as("eps_micro"), lit(1L).as("delta"),
          lit(0L).as("n_keys"), lit(700000L).as("cum_eps_micro"),
          lit(false).as("admitted")))
        .orderBy(col("seq"))
    }),

    // ---- greedy k-center coreset: 8 maximally-diverse embedding
    //      rows by farthest-first selection (seed = min id; then
    //      argmin of max-cosine-to-selected, ties to smallest id, on
    //      the micro-floored integer similarity). maxsim_micro is
    //      the coverage curve. The oracle replays all 7 greedy
    //      rounds via a recursive CTE carrying the selected-center
    //      list ----
    "sim_coreset_kcenter" -> ((s, d) =>
      Similarity.kCenterCoreset(t(s, d, "embeddings"), k = 8)
        .orderBy(col("rank"))),

    // ---- ANN recall@1 report: IVF result vs the exact brute-force
    //      ground truth — one (query_id, nn_id) equi-join, recall as
    //      an exact integer micro-fraction. The oracle re-derives
    //      BOTH sides (the correlated-subquery truth and the full
    //      portable k-means + probe + rank IVF replay) and must land
    //      on the identical matched count ----
    "sim_recall_ivf" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val truth = Similarity.bruteForceTopK(
          e.repartition(s.sparkContext.defaultParallelism), e, k = 1)
        .select(col("query_id"), col("id").as("nn_id"))
      val cents = Similarity.trainIvfCentroids(e,
        nCentroids = Similarity.suggestedCentroids(e.count()), dim = 64,
        iterations = 1)
      val approx = Similarity.ivfTopK(e, e, k = 1, cents, nProbe = 4)
        .select(col("query_id"), col("id").as("nn_id"))
      Similarity.recallReport(truth, approx)
    }),

    // ---- recall DRIFT under frozen centroids: the exact same
    //      recall@1 card, but the index is the base-trained +
    //      delta-appended deployment (sim_topk_ivf_append's shape).
    //      Comparing this row against sim_recall_ivf quantifies what
    //      freezing costs as the corpus grows — the measurement that
    //      turns "retrain and rebuild?" into a policy decision
    //      instead of a guess ----
    "sim_recall_ivf_append" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val base = e.filter(col("vec_id") % 5 =!= 0)
      val delta = e.filter(col("vec_id") % 5 === 0)
      val truth = Similarity.bruteForceTopK(
          e.repartition(s.sparkContext.defaultParallelism), e, k = 1)
        .select(col("query_id"), col("id").as("nn_id"))
      val cents = Similarity.trainIvfCentroids(base,
        nCentroids = Similarity.suggestedCentroids(base.count()), dim = 64,
        iterations = 1)
      val prefix = IvfIndex.ivfAppendCached(base, delta, "vec_id",
        "embedding", cents)
      val approx = IvfIndex.ivfTopKFromIndex(s, prefix, e, k = 1, cents,
          nProbe = 4)
        .select(col("query_id"), col("id").as("nn_id"))
      Similarity.recallReport(truth, approx)
    }),

    // ---- RETRAIN tier: the drifted deployment above (base-trained
    //      frozen centroids + appended delta) retrains from the
    //      index's OWN vectors into a new fingerprinted child index,
    //      and the probe answers must equal a fresh full-corpus
    //      build — training init is an order-insensitive seeded hash
    //      pick and the portable mean is integer-exact, so
    //      append-then-retrain replays as one fresh training over
    //      the union. Oracle: sim_topk_ivf's full replay, verbatim ----
    "sim_topk_ivf_retrain" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val base = e.filter(col("vec_id") % 5 =!= 0)
      val delta = e.filter(col("vec_id") % 5 === 0)
      val baseCents = Similarity.trainIvfCentroids(base,
        nCentroids = Similarity.suggestedCentroids(base.count()), dim = 64,
        iterations = 1)
      val drifted = IvfIndex.ivfAppendCached(base, delta, "vec_id",
        "embedding", baseCents)
      val (rt, cents) = IvfIndex.ivfRetrainCached(s, drifted,
        nCentroids = Similarity.suggestedCentroids(e.count()))
      IvfIndex.ivfTopKFromIndex(s, rt, e, k = 1, cents, nProbe = 4)
        .select(col("query_id"), col("id").as("nn_id"))
        .orderBy(col("query_id"))
    }),

    // ---- recall AFTER retrain: the remediation card that closes the
    //      drift loop — sim_recall_ivf_append measures what freezing
    //      costs, this row proves retraining gives it back (it must
    //      land exactly on sim_recall_ivf's fresh-index recall) ----
    "sim_recall_ivf_retrain" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val base = e.filter(col("vec_id") % 5 =!= 0)
      val delta = e.filter(col("vec_id") % 5 === 0)
      val truth = Similarity.bruteForceTopK(
          e.repartition(s.sparkContext.defaultParallelism), e, k = 1)
        .select(col("query_id"), col("id").as("nn_id"))
      val baseCents = Similarity.trainIvfCentroids(base,
        nCentroids = Similarity.suggestedCentroids(base.count()), dim = 64,
        iterations = 1)
      val drifted = IvfIndex.ivfAppendCached(base, delta, "vec_id",
        "embedding", baseCents)
      val (rt, cents) = IvfIndex.ivfRetrainCached(s, drifted,
        nCentroids = Similarity.suggestedCentroids(e.count()))
      val approx = IvfIndex.ivfTopKFromIndex(s, rt, e, k = 1, cents,
          nProbe = 4)
        .select(col("query_id"), col("id").as("nn_id"))
      Similarity.recallReport(truth, approx)
    }),

    // ---- matryoshka truncation eval: recall@1 when search uses only
    //      the first 16 / 32 of 64 embedding dimensions (the
    //      dimension-vs-quality trade of prefix-truncatable
    //      embeddings — 4x/2x less vector IO and memory if recall
    //      holds). Both truth and truncated runs are by-contract
    //      exact brute force; the slice is the only difference, so
    //      the oracle replays everything with list slices ----
    "sim_recall_matryoshka" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val par = s.sparkContext.defaultParallelism
      val truth = Similarity.bruteForceTopK(e.repartition(par), e, k = 1)
        .select(col("query_id"), col("id").as("nn_id"))
      Seq(16, 32).map { dim =>
        val tr = e.select(col("vec_id"),
          slice(col("embedding"), 1, dim).as("embedding"))
        val approx = Similarity.bruteForceTopK(tr.repartition(par), tr, k = 1)
          .select(col("query_id"), col("id").as("nn_id"))
        Similarity.recallReport(truth, approx)
          .select(lit(dim).as("dim"), col("n_truth"), col("n_matched"),
            col("recall_micro"))
      }.reduce(_ unionByName _).orderBy(col("dim"))
    }),

    // ---- ANN recall@10 for the LSH index: the cross-index tuning
    //      comparison a deployed user actually runs (IVF vs LSH vs PQ
    //      at matched k). Truth is brute-force top-10; the LSH side is
    //      the identical portable Rademacher-plane replay as
    //      sim_topk_lsh at k=10, so the oracle re-derives both sides
    //      and must land on the identical matched count ----
    "sim_recall_lsh" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val truth = Similarity.bruteForceTopK(
          e.repartition(s.sparkContext.defaultParallelism), e, k = 10)
        .select(col("query_id"), col("id").as("nn_id"))
      val approx = Similarity.lshTopK(e, e, k = 10, dim = 64, numPlanes = 6,
          tables = 8)
        .select(col("query_id"), col("id").as("nn_id"))
      Similarity.recallReport(truth, approx)
    }),

    // ---- ANN recall@10 for the COMPOSED IVF-PQ index: with this row
    //      the tuning matrix is complete — every index family (LSH /
    //      IVF / PQ / IVF-PQ) has an oracle-replayed recall@k row
    //      against the same brute-force truth, which is the table a
    //      deployed user actually reads when picking an index ----
    "sim_recall_ivfpq" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val n = e.count()
      val truth = Similarity.bruteForceTopK(
          e.repartition(s.sparkContext.defaultParallelism), e, k = 10)
        .select(col("query_id"), col("id").as("nn_id"))
      val coarse = Similarity.trainIvfCentroids(e,
        nCentroids = Similarity.suggestedCentroids(n), dim = 64,
        iterations = 1)
      val cbs = Similarity.trainPqCodebooks(e, m = 8, ksub = 16, dim = 64,
        iterations = 1)
      val approx = Similarity.ivfPqTopK(e, e, k = 10, coarse, cbs, nProbe = 4,
          shortlist = Similarity.suggestedShortlist(n, 10))
        .select(col("query_id"), col("id").as("nn_id"))
      Similarity.recallReport(truth, approx)
    }),

    // ---- ANN recall@10 for the PQ index (ADC shortlist + exact
    //      re-rank): shortlist follows the k-aware sizing law
    //      (max(4k, 2*sqrt(n))), so the recall row exercises exactly
    //      the production search shape at k=10 ----
    "sim_recall_pq" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val truth = Similarity.bruteForceTopK(
          e.repartition(s.sparkContext.defaultParallelism), e, k = 10)
        .select(col("query_id"), col("id").as("nn_id"))
      val cbs = Similarity.trainPqCodebooks(e, m = 8, ksub = 16, dim = 64,
        iterations = 1)
      val approx = Similarity.pqTopKReranked(e, e, k = 10, cbs,
          shortlist = Similarity.suggestedShortlist(e.count(), 10))
        .select(col("query_id"), col("id").as("nn_id"))
      Similarity.recallReport(truth, approx)
    }),

    // ---- product-quantization ANN (ADC shortlist + exact re-rank):
    //      8 subspaces x 16 codewords, portable integer-exact
    //      training, encoding and table-lookup scoring; the sqrt-
    //      scaled shortlist feeds an exact cosine re-rank. The
    //      oracle retrains every per-subspace codebook, re-encodes
    //      the corpus and replays shortlist AND re-rank exactly ----
    "sim_topk_pq" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cbs = Similarity.trainPqCodebooks(e, m = 8, ksub = 16, dim = 64,
        iterations = 1)
      Similarity.pqTopKReranked(e, e, k = 1, cbs,
          shortlist = Similarity.suggestedShortlist(e.count(), 1))
        .select(col("query_id"), col("id").as("nn_id"))
        .orderBy(col("query_id"))
    }),

    // ---- train-once / serve-many PQ: codebooks from the persisted
    //      parquet model artifact ([[IndexStore.pqCodebooksCached]]),
    //      then the identical ADC shortlist + exact re-rank as
    //      sim_topk_pq — same oracle, bit-for-bit ----
    "sim_topk_pq_loaded" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cbs = IndexStore.pqCodebooksCached(e, m = 8, ksub = 16, dim = 64,
        baseDir = artifactDir, iterations = 1)
      Similarity.pqTopKReranked(e, e, k = 1, cbs,
          shortlist = Similarity.suggestedShortlist(e.count(), 1))
        .select(col("query_id"), col("id").as("nn_id"))
        .orderBy(col("query_id"))
    }),

    // ---- the COMPOSED production index, SERVED: both trained parts
    //      (coarse centroids AND codebooks) load from their parquet
    //      model artifacts — the full train-once/serve-many shape of
    //      the index a deployment actually runs. Same oracle as
    //      sim_topk_ivfpq, bit-for-bit ----
    "sim_topk_ivfpq_loaded" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val n = e.count()
      val coarse = IndexStore.ivfCentroidsCached(e,
        nCentroids = Similarity.suggestedCentroids(n), dim = 64,
        baseDir = artifactDir, iterations = 1)
      val cbs = IndexStore.pqCodebooksCached(e, m = 8, ksub = 16, dim = 64,
        baseDir = artifactDir, iterations = 1)
      Similarity.ivfPqTopK(e, e, k = 1, coarse, cbs, nProbe = 4,
          shortlist = Similarity.suggestedShortlist(n, 1))
        .select(col("query_id"), col("id").as("nn_id"))
        .orderBy(col("query_id"))
    }),

    // ---- the COMPOSED production index, IVF-PQ: coarse-cell probing
    //      bounds the candidate set (~nProbe/cells of the corpus),
    //      ADC code scoring ranks it without touching vectors, and
    //      only the sqrt-scaled shortlist sees exact cosine. The
    //      oracle replays BOTH trainings (portable coarse k-means +
    //      per-subspace codebooks from the same hash seed), the cell
    //      gate, the ADC table lookups, shortlist and re-rank ----
    "sim_topk_ivfpq" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val n = e.count()
      val coarse = Similarity.trainIvfCentroids(e,
        nCentroids = Similarity.suggestedCentroids(n), dim = 64,
        iterations = 1)
      val cbs = Similarity.trainPqCodebooks(e, m = 8, ksub = 16, dim = 64,
        iterations = 1)
      Similarity.ivfPqTopK(e, e, k = 1, coarse, cbs, nProbe = 4,
          shortlist = Similarity.suggestedShortlist(n, 1))
        .select(col("query_id"), col("id").as("nn_id"))
        .orderBy(col("query_id"))
    }),

    // ---- scalar-quantized (int8) ANN: code-space integer cosine
    //      shortlist (4x cheaper scan than float brute force) + exact
    //      re-rank — the memory-bandwidth tier between brute force
    //      and PQ. Every shortlist operand is an exact integer, so
    //      the oracle replays quantization, the int-dot ranking and
    //      the re-rank bit-for-bit ----
    "sim_topk_sq8" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.sqTopK(e.repartition(s.sparkContext.defaultParallelism), e,
          k = 1, shortlist = Similarity.suggestedShortlist(e.count(), 1))
        .select(col("query_id"), col("id").as("nn_id"))
        .orderBy(col("query_id"))
    }),

    // ---- binary (1-bit sign) quantization: Hamming shortlist over
    //      packed sign words + exact re-rank — the 32x-compression
    //      end of the quantization ladder ----
    "sim_topk_sign" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      Similarity.signTopK(e.repartition(s.sparkContext.defaultParallelism), e,
          k = 1, shortlist = Similarity.suggestedShortlist(e.count(), 1),
          dim = 64)
        .select(col("query_id"), col("id").as("nn_id"))
        .orderBy(col("query_id"))
    }),

    // ---- recall@10 for sign-bit Hamming vs exact truth — the
    //      quantization ladder's last rung measured ----
    "sim_recall_sign" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val truth = Similarity.bruteForceTopK(
          e.repartition(s.sparkContext.defaultParallelism), e, k = 10)
        .select(col("query_id"), col("id").as("nn_id"))
      val approx = Similarity.signTopK(
          e.repartition(s.sparkContext.defaultParallelism), e, k = 10,
          shortlist = Similarity.suggestedShortlist(e.count(), 10), dim = 64)
        .select(col("query_id"), col("id").as("nn_id"))
      Similarity.recallReport(truth, approx)
    }),

    // ---- recall@10 for the SQ8 index vs exact truth — completes the
    //      recall tuning matrix (IVF / LSH / PQ / IVF-PQ / SQ8) ----
    "sim_recall_sq8" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val truth = Similarity.bruteForceTopK(
          e.repartition(s.sparkContext.defaultParallelism), e, k = 10)
        .select(col("query_id"), col("id").as("nn_id"))
      val approx = Similarity.sqTopK(
          e.repartition(s.sparkContext.defaultParallelism), e, k = 10,
          shortlist = Similarity.suggestedShortlist(e.count(), 10))
        .select(col("query_id"), col("id").as("nn_id"))
      Similarity.recallReport(truth, approx)
    }),

    // ---- the composed corpus-scale SQ8 index, IVF-SQ8: coarse-cell
    //      probe gate bounds candidates, int8 code-space cosine ranks
    //      them (4x cheaper scan than float), exact re-rank on the
    //      shortlist only. The oracle replays portable k-means, the
    //      cell gate, quantization, the int-dot ranking AND the
    //      re-rank ----
    "sim_topk_ivfsq8" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val n = e.count()
      val cents = Similarity.trainIvfCentroids(e,
        nCentroids = Similarity.suggestedCentroids(n), dim = 64,
        iterations = 1)
      Similarity.ivfSqTopK(e, e, k = 1, cents, nProbe = 4,
          shortlist = Similarity.suggestedShortlist(n, 1))
        .select(col("query_id"), col("id").as("nn_id"))
        .orderBy(col("query_id"))
    }),

    // ---- the composed SQ8 index, SERVED: coarse centroids load from
    //      the parquet model artifact. SQ8 itself is model-free —
    //      per-vector symmetric scales derive from each vector at scan
    //      time — so the centroids are the ONLY trained part and this
    //      closes the served-index family (IVF / PQ / IVF-PQ /
    //      IVF-SQ8 all have train-once twins). Same oracle as
    //      sim_topk_ivfsq8, bit-for-bit ----
    "sim_topk_ivfsq8_loaded" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val n = e.count()
      val cents = IndexStore.ivfCentroidsCached(e,
        nCentroids = Similarity.suggestedCentroids(n), dim = 64,
        baseDir = artifactDir, iterations = 1)
      Similarity.ivfSqTopK(e, e, k = 1, cents, nProbe = 4,
          shortlist = Similarity.suggestedShortlist(n, 1))
        .select(col("query_id"), col("id").as("nn_id"))
        .orderBy(col("query_id"))
    }),

    // ---- recall@10 for the composed IVF-SQ8 index vs exact truth —
    //      the sixth and final row of the index tuning matrix
    //      (IVF / LSH / PQ / IVF-PQ / SQ8 / IVF-SQ8) ----
    "sim_recall_ivfsq8" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val n = e.count()
      val truth = Similarity.bruteForceTopK(
          e.repartition(s.sparkContext.defaultParallelism), e, k = 10)
        .select(col("query_id"), col("id").as("nn_id"))
      val cents = Similarity.trainIvfCentroids(e,
        nCentroids = Similarity.suggestedCentroids(n), dim = 64,
        iterations = 1)
      val approx = Similarity.ivfSqTopK(e, e, k = 10, cents, nProbe = 4,
          shortlist = Similarity.suggestedShortlist(n, 10))
        .select(col("query_id"), col("id").as("nn_id"))
      Similarity.recallReport(truth, approx)
    }),

    // ---- embedding ops: norms (sequential IEEE fold — identical in
    //      the oracle's list_reduce), exact quantized mean-pool
    //      centroids, int8 quantization ----
    "q_embed_norms" -> ((s, d) =>
      t(s, d, "embeddings")
        .withColumn("sum_sq", aggregate(Embeddings.asDouble(col("embedding")),
          lit(0.0), (acc, x) => acc + x * x))
        .select(col("vec_id"), col("sum_sq"), sqrt(col("sum_sq")).as("norm"),
          size(col("embedding")).as("dim"))
        .orderBy(col("vec_id"))),

    "q_embed_centroids" -> ((s, d) =>
      Embeddings.meanPoolQuantized(t(s, d, "embeddings"), "label", "embedding")
        .orderBy(col("label"), col("pos"))),

    "q_embed_quant" -> ((s, d) =>
      Embeddings.quantizeInt8(t(s, d, "embeddings"), "embedding")
        .select(col("vec_id"),
          floor(col("scale") * lit(1000000.0) + lit(0.5)).cast(LongType).as("scale_q6"),
          aggregate(col("codes"), lit(0L), (a, c) => a + c.cast(LongType)).as("sum_codes"),
          size(filter(col("codes"), c => abs(c) === 127)).as("n_sat"))
        .orderBy(col("vec_id"))),

    // ---- the flagship composed curation plan: exact dedup → quality
    //      gate → per-language stratified sample, one declarative
    //      DAG (what a training-data pipeline actually runs). Every
    //      stage is individually oracle-checked elsewhere; this locks
    //      the composition. ----
    "q_curation_pipeline" -> ((s, d) => {
      val deduped = Dedup.exactDedup(t(s, d, "documents"), "doc_id", "text")
      val scored = deduped.withColumn("quality_q4",
        floor(TextAnalysis.qualityScoreRaw(col("text")) * lit(10000.0) + lit(0.5))
          .cast(LongType))
      val gated = scored.filter(col("quality_q4") >= 5000L)
      Frames.stratifiedSampleDeterministic(gated, "lang",
          Map("en" -> 0.5), "doc_id", defaultFraction = 0.25)
        .select(col("doc_id"), col("lang"), col("quality_q4"))
        .orderBy(col("doc_id"))
    }),

    // ---- domain mixing: rebalance the corpus to a target language
    //      recipe (en 0.4 / fr 0.3 / zh 0.3). Keep-rates are computed
    //      IN-PLAN from the actual counts — the limiting domain stays
    //      whole, the rest thin to match — and the per-row keep test
    //      is the portable multiplicative id hash, so the oracle
    //      recomputes the rates and replays the selection exactly ----
    "q_domain_mix" -> ((s, d) =>
      Frames.domainMix(t(s, d, "documents"), "lang", "doc_id",
          Map("en" -> 0.4, "fr" -> 0.3, "zh" -> 0.3))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    // ---- sqrt-temperature source mix (mT5/mC4 alpha sampling at
    //      alpha = 1/2): weights DERIVED from the data as
    //      floor(sqrt(n_i)), a half-corpus budget split as
    //      budget·w_i div Σw, and an EXACT per-source take in seeded
    //      portable-hash order — every number integer (IEEE sqrt is
    //      correctly rounded), so the oracle replays weights,
    //      targets, and the selection itself ----
    "q_temperature_mix" -> ((s, d) =>
      Frames.temperatureMixSqrt(
          t(s, d, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id", budgetNum = 1L, budgetDen = 2L, seed = 7L)
        .select(col("doc_id"), col("source"), col("n_docs"), col("w"),
          col("take"))
        .orderBy(col("doc_id"))),

    // ---- length-bucketed batching waste: per 16-token length
    //      bucket, the padding cost of batching within it vs one
    //      global batch padded to the corpus max (bucket = -1) —
    //      the integer-exact "is dynamic batching worth it" card
    //      beside the packing family ----
    "q_length_bucket_waste" -> ((s, d) =>
      Frames.lengthBucketWaste(t(s, d, "documents"),
        size(TextAnalysis.cleanTokens(col("text"))).cast(LongType),
        bucketWidth = 16L)),

    // ---- UniMax capped waterfilling: split a self-scaling token
    //      budget (95% of the 2-epoch capped supply) as equally as
    //      possible across sources, small sources binding at their
    //      epoch cap, the rest waterfilled to one integer level —
    //      the fairness alternative to temperature sampling. Every
    //      number integer; the oracle replays ranks, prefix sums,
    //      the capped prefix and the water level ----
    "q_unimax_mix" -> ((s, d) =>
      Frames.unimaxAllocation(t(s, d, "documents"), "source",
          size(TextAnalysis.cleanTokens(col("text"))).cast(LongType),
          epochCap = 2L, budgetPermille = 950L)
        .orderBy(col("source"))),

    // ---- UniMax SELECTION: the allocation realized as a document
    //      set — per source, keep docs in seeded portable-hash order
    //      until the allocated token budget is spent (epochCap=1,
    //      70% budget → capped sources keep everything, waterfilled
    //      sources cut at the water level). Allocation math AND the
    //      per-source running-total cut replayed ----
    "q_unimax_select" -> ((s, d) =>
      Frames.unimaxSelect(
          t(s, d, "documents").select(col("doc_id"), col("source"), col("text")),
          "source", "doc_id",
          size(TextAnalysis.cleanTokens(col("text"))).cast(LongType),
          epochCap = 1L, budgetPermille = 700L, seed = 7L)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("allocated"))
        .orderBy(col("doc_id"))),

    // ---- per-domain token-budget curation: keep each language's
    //      best-quality documents until a 2,000-token budget is
    //      spent (quality desc, doc_id tiebreak; running total
    //      inclusive — the "best N tokens per source" selection step
    //      between scoring and training) ----
    "q_token_budget" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_tokens",
          size(TextAnalysis.tokens(col("text"))).cast(LongType))
        .withColumn("quality_q4",
          floor(TextAnalysis.qualityScoreRaw(col("text")) * lit(10000.0) + lit(0.5))
            .cast(LongType))
      Frames.tokenBudgetCuration(docs, "lang", "doc_id", col("n_tokens"),
          col("quality_q4"), budget = 2000L)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality_q4"))
        .orderBy(col("doc_id"))
    }),

    // ---- fixed-edge histogram: manual bucketing expression (floor
    //      of the scaled value, clamped) — identical IEEE arithmetic
    //      in the oracle, single partial-aggregated groupBy ----
    "q_histogram" -> ((s, d) => {
      val bucket = least(greatest(
        floor(col("value") / lit(50.0)).cast(LongType), lit(0L)), lit(9L))
      t(s, d, "events")
        .groupBy(col("event_type"), bucket.as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("bucket"))
    }),

    // ---- sessionized funnel: of sessions containing a click, the
    //      share that also purchase at-or-after the first click
    //      (sessionize → conditional aggregation; all exact) ----
    "events_funnel" -> ((s, d) =>
      // ONE definition both modes: EventStreams.funnelBatch is the
      // sessionize + per-session conversion fold whose streaming twin
      // (funnelStream) emits the same verdicts from per-actor state
      EventStreams.funnelBatch(t(s, d, "events"), gapSeconds = 1800L)
        .groupBy(col("converted")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("converted"))),

    // ---- windowed EXACT active actors (batch mode of the streaming
    //      engagement monitor; one definition both modes — streaming
    //      chains event-time dedup into the windowed count, the
    //      multi-stateful shape): distinct users per tumbling day ----
    "events_active_windowed" -> ((s, d) =>
      EventStreams.activeActorsWindowed(t(s, d, "events"), "user_id", "1 day")
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          date_format(col("window_end"), "yyyy-MM-dd HH:mm:ss").as("window_end"),
          col("n_active"))
        .orderBy(col("window_start"))),

    // ---- cohort retention: users bucketed by first-event week, then
    //      per (cohort, week offset) the share still active — exact
    //      integer micro-fractions; offset 0 is the built-in
    //      retention=10^6 sanity row. Fully replayed ----
    "events_cohort_retention" -> ((s, d) =>
      Temporal.cohortRetention(t(s, d, "events"), "user_id", "ts",
        periodSeconds = 7L * 86400L)),

    // ---- exact percentiles (interpolated), quantized to 1e-6 so the
    //      engines' interpolation op-order difference cannot surface;
    //      the approximate twin is q_approx_sketches. Rank-offset
    //      selection (sort + bracketing rows), NOT the value-buffering
    //      `percentile` aggregate — same scale rationale as
    //      Frames.exactMedianByGroup ----
    "q_exact_percentiles" -> ((s, d) =>
      Frames.exactQuantilesByGroup(t(s, d, "events"), "event_type", "value",
          Seq(0.5, 0.9, 0.99))
        .select(col("event_type"),
          floor(col("p0") * lit(1000000.0) + lit(0.5)).cast(LongType).as("p50_q6"),
          floor(col("p1") * lit(1000000.0) + lit(0.5)).cast(LongType).as("p90_q6"),
          floor(col("p2") * lit(1000000.0) + lit(0.5)).cast(LongType).as("p99_q6"))
        .orderBy(col("event_type"))),

    // ---- approximate sketch aggregates (HLL++ distinct, quantile
    //      digest) in PROPERTY form: the sketch values themselves are
    //      engine-internal, so the query emits the exact aggregates
    //      (oracle-verified) plus booleans asserting each sketch
    //      landed inside its published error bound — the oracle pins
    //      those to TRUE, so a sketch drifting out of bounds is a
    //      hash mismatch, not an untested warning ----
    "q_approx_sketches" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id")).as("au"),
          percentile_approx(col("value"), lit(0.5), lit(1000)).as("ap50"),
          percentile_approx(col("value"), lit(0.99), lit(1000)).as("ap99"),
          expr("percentile(value, 0.45)").as("lo45"),
          expr("percentile(value, 0.55)").as("hi55"),
          expr("percentile(value, 0.98)").as("lo98"),
          max(col("value")).as("vmax"))
        .select(col("event_type"), col("exact_users"),
          // default HLL++ rsd is 0.05 — ONE standard deviation, not a
          // hard cap (measured 5-7% on 1500-distinct groups at
          // sf0.1); the asserted envelope is 3 sigma
          (abs(col("au") - col("exact_users")).cast(DoubleType) /
            col("exact_users") <= 0.15).as("hll_within_3sigma"),
          // percentile_approx returns an observed value whose RANK is
          // within accuracy^-1 of the target; the bands (p45..p55,
          // p98..max) are orders of magnitude wider than 1/1000 at
          // the thousands-of-rows-per-group scale this runs at
          (col("ap50") >= col("lo45") && col("ap50") <= col("hi55"))
            .as("p50_within_rank_bounds"),
          (col("ap99") >= col("lo98") && col("ap99") <= col("vmax"))
            .as("p99_within_rank_bounds"))
        .orderBy(col("event_type"))),

    // ---- Benford first-digit audit: the fabricated-data detector —
    //      leading-digit distribution of extended price vs the
    //      log10(1+1/d) law, exact integer counts/micro-rates, one
    //      9-key map-side-combined aggregate. Expectations are
    //      precomputed micro literals shared verbatim with the
    //      oracle ----
    "q_benford_audit" -> ((s, d) =>
      Quality.benfordAudit(t(s, d, "lineitem"), "l_extendedprice")
        .orderBy(col("digit"))),

    // ---- portable DDSketch quantiles (relative-error, mergeable,
    //      fully replayable — unlike percentile_approx above): p50 /
    //      p90 / p99 / p999 of extended price from a geometric-bucket
    //      count table a few hundred rows long. The only corpus
    //      shuffle is map-side combined to sketch size ----
    "q_ddsketch_quantiles" -> ((s, d) =>
      graft.operators.Quantiles.ddQuantiles(
          graft.operators.Quantiles.ddSketch(
            t(s, d, "lineitem"), "l_extendedprice", ddGamma),
          ddGamma, Seq(500000L, 900000L, 990000L, 999000L))
        .orderBy(col("q_micro"))),

    // ---- DDSketch mergeability, oracle-pinned: 8 supplier-shard
    //      sketches folded back together must answer EXACTLY like the
    //      one-shot global sketch (bucket counts add) — the property
    //      that makes the sketch deployable per-executor / per-day
    //      and foldable later. Shares q_ddsketch_quantiles' oracle ----
    "q_ddsketch_merged" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val shards = (0 until 8).map(i =>
        graft.operators.Quantiles.ddSketch(
          li.filter(pmod(col("l_suppkey"), lit(8)) === i),
          "l_extendedprice", ddGamma))
      graft.operators.Quantiles.ddQuantiles(
          graft.operators.Quantiles.mergeSketches(shards),
          ddGamma, Seq(500000L, 900000L, 990000L, 999000L))
        .orderBy(col("q_micro"))
    }),

    // ---- per-window DDSketch (the streaming-shaped read): hourly
    //      p50/p90 of event value from per-window sketches — state is
    //      windows x buckets, the monitoring card a live pipeline
    //      keeps where a full sort per window is unpayable ----
    "events_ddsketch_windowed" -> ((s, d) =>
      graft.operators.Quantiles.ddQuantiles(
          graft.operators.Quantiles.ddSketch(
            t(s, d, "events").withColumn("w", date_trunc("hour", col("ts"))),
            "value", ddGamma, groupCols = Seq("w")),
          ddGamma, Seq(500000L, 900000L), groupCols = Seq("w"))
        .orderBy(col("w"), col("q_micro"))),

    // ---- text analysis: token counts + quality signals ----
    "text_stats" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"),
          length(col("text")).as("n_chars_computed"),
          TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
          TextAnalysis.meanTokenLen(col("text")).as("mean_token_len"))
        .orderBy(col("doc_id"))),

    // quantized to integer 1e-4 steps: floor is bit-stable across
    // engines where double round() tie behavior is not
    "text_quality" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          floor(TextAnalysis.qualityScoreRaw(col("text")) * lit(10000.0) + lit(0.5))
            .cast(LongType).as("quality_q4"))
        .orderBy(col("doc_id"))),

    // ---- text cleaning: markup strip, PII redaction, whitespace
    //      normalization (RE2-safe patterns — the oracle replays the
    //      identical pipeline) ----
    "text_clean" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          TextClean.cleaned(col("text")).as("cleaned"),
          floor(coalesce(TextClean.shrinkRatio(col("text")), lit(0.0)) * lit(1000000.0)
            + lit(0.5)).cast(LongType).as("shrink_q6"))
        .orderBy(col("doc_id"))),

    // ---- repetition / boilerplate signals (Gopher-style filters) ----
    "text_repetition" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.dupLineFraction(col("text")).as("dup_line_frac"),
          TextAnalysis.maxTokenFreqRatio(col("text")).as("max_tok_frac"))
        .orderBy(col("doc_id"))),

    // ---- language ID heuristic (native one-pass; HOF twin asserted
    //      identical in TextAnalysisSpec) ----
    "text_lang_id" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.langIdFused(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))),

    // ---- TRAINED language ID: char-3-gram frequency profiles
    //      (integer micro-weights — no logs, no floats) fitted on
    //      the deterministic multilingual panel's train split
    //      (doc_id % 5 ≠ 0), applied as one map-only scoring pass to
    //      every panel doc. The panel is synthesized in-plan from
    //      public stopword lists (the synthMediaBlobs discipline —
    //      the testdata lang column is measured-uncorrelated with
    //      its text); the oracle replays panel, training counts,
    //      every profile weight and every argmax ----
    "text_langid_trained" -> ((s, d) => {
      val panel = TextAnalysis.synthLangDocs(
        t(s, d, "documents").select(col("doc_id")), "doc_id")
      val profiles = TextAnalysis.loadLangProfiles(
        TextAnalysis.trainLangProfiles(
          panel.filter(col("doc_id") % 5 =!= 0), "text", "lang", 1024), 1024)
      TextAnalysis.langIdTrained(panel, "doc_id", "text", profiles)
        .join(panel.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("lang_pred"), col("score"))
        .orderBy(col("doc_id"))
    }),

    // ---- SERVED trained language ID: the profiles load from the
    //      fingerprint-keyed parquet model artifact (trained+saved on
    //      first run, validated loudly at every load) — integer
    //      weights round-trip parquet exactly, so served shares the
    //      inline query's oracle bit-for-bit ----
    "text_langid_trained_served" -> ((s, d) => {
      val panel = TextAnalysis.synthLangDocs(
        t(s, d, "documents").select(col("doc_id")), "doc_id")
      val profiles = IndexStore.langProfilesCached(
        panel.filter(col("doc_id") % 5 =!= 0), "text", "lang", 1024,
        artifactDir)
      TextAnalysis.langIdTrained(panel, "doc_id", "text", profiles)
        .join(panel.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("lang_pred"), col("score"))
        .orderBy(col("doc_id"))
    }),

    // ---- sliding-window aggregation (rows-only; overlapping
    //      windows are asserted against tumbling totals in tests) ----
    "events_sliding_window" -> ((s, d) =>
      EventStreams.windowedAgg(t(s, d, "events"), "2 hours", Some("1 hour"))
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("ws"),
          col("event_type"), col("n"))
        .orderBy(col("ws"), col("event_type"))),

    // ---- as-of join: each purchase matched to the user's latest
    //      click at-or-before it (backward inclusive). Right side
    //      deduped per (user, ts) so ties are deterministic; DuckDB's
    //      native ASOF JOIN is the oracle. ----
    "q_asof_clicks" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = Frames.uniqueFirst(
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id")),
        Seq("user_id", "click_ts"), Seq(col("click_id")))
      Temporal.asofJoin(purchases, clicks, Seq("user_id"), "ts", "click_ts")
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("p_ts"),
          col("click_id"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"))
        .orderBy(col("event_id"), col("user_id"))
    }),

    // ---- nearest-strategy as-of join (Polars join_asof
    //      strategy='nearest'): smallest absolute microsecond gap,
    //      ties to the backward match; one shuffle + one sort ----
    "q_asof_nearest" -> ((s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = Frames.uniqueFirst(
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id")),
        Seq("user_id", "click_ts"), Seq(col("click_id")))
      Temporal.asofJoin(purchases, clicks, Seq("user_id"), "ts", "click_ts",
          direction = "nearest")
        .select(col("event_id"), col("user_id"), col("click_id"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"))
        .orderBy(col("event_id"), col("user_id"))
    }),

    // ---- interval-containment (range) join: every event matched to
    //      its session's interval via hour-bucketed equi-join ----
    "events_range_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val sessions = EventStreams.sessionizeBatch(ev, gapSeconds = 1800)
        .select(col("user_id"), col("session_id"),
          col("session_start"), col("session_end"))
      Temporal.rangeJoinBucketed(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        sessions, Seq("user_id"), "ts", "session_start", "session_end")
        .select(col("event_id"), col("user_id"), col("session_id"))
        .orderBy(col("event_id"), col("user_id"), col("session_id"))
    }),

    // ---- near-dup clustering: connected components over the exact
    //      jaccard pair graph; canonical = min doc_id per cluster ----
    "dedup_cluster_canonical" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleWidth = 3, threshold = 0.5)
      Dedup.connectedComponents(docs.select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("component").as("canonical_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- INCREMENTAL near-dup clustering: the corpus arrives in
    //      three folds (build + two appends); resolved cluster
    //      assignments must equal the batch closure over the whole
    //      corpus's verified LSH pair graph — merges found through
    //      the persisted index and propagated via representatives,
    //      never a corpus-wide recomputation ----
    "dedup_cluster_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val prefix = graft.operators.ClusterIndex.clusterAppendCached(
        docs.filter(col("doc_id") % 3 === 0),
        Seq(docs.filter(col("doc_id") % 3 === 1),
          docs.filter(col("doc_id") % 3 === 2)),
        "doc_id", "text", threshold = 0.5)
      graft.operators.ClusterIndex.resolvedMembers(s, prefix)
        .orderBy(col("doc_id"))
    }),

    // ---- top converting paths: per gap-session, the ordered
    //      event-type path (capped at 8 steps), aggregated into
    //      (path, sessions, conversions, micro-rate) — the "which
    //      journeys convert" card. One user shuffle for sessions,
    //      one path shuffle for the histogram; the per-session sort
    //      is array_sort over a collected struct list (bounded by
    //      the cap after slicing, collected per session) ----
    "events_top_paths" -> ((s, d) => {
      val us = unix_micros(col("ts"))
      val wu = Window.partitionBy(col("user_id")).orderBy(us, col("event_id"))
      val sess = t(s, d, "events")
        .withColumn("__new",
          when(us - lag(us, 1).over(wu) > lit(1800L * 1000000L) ||
            lag(us, 1).over(wu).isNull, 1L).otherwise(0L))
        .withColumn("__sid", sum(col("__new")).over(
          Window.partitionBy(col("user_id")).orderBy(us, col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val paths = sess.groupBy(col("user_id"), col("__sid"))
        .agg(
          concat_ws(">", slice(transform(
            array_sort(collect_list(struct(us.as("us"),
              col("event_id").as("id"), col("event_type").as("tp")))),
            x => x.getField("tp")), 1, 8)).as("path"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("__conv"))
      paths.groupBy(col("path"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("__conv")).as("n_converted"))
        .select(col("path"), col("n_sessions"), col("n_converted"),
          expr("n_converted * 1000000 div n_sessions").as("conv_micro"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(50)
    }),

    // ---- first/last-touch conversion attribution: per purchase, the
    //      touch that started and the touch that closed the journey
    //      within a 1h lookback — one actor-keyed shuffle, RANGE-frame
    //      extrema, no conversions x touches join blowup ----
    "events_attribution" -> ((s, d) =>
      Temporal.attributionFirstLast(t(s, d, "events"), "user_id", "ts",
          "event_type", "event_id", convType = "purchase",
          touchTypes = Seq("click", "view", "signup"),
          windowSeconds = 3600L)
        .orderBy(col("conv_id"))),

    // ---- the COMPOSED engagement pipeline's batch twin, oracle-
    //      checked end to end: a dedup-shaped admission (docs whose
    //      text was never in the %3==0 corpus) filters the actors,
    //      then all six engagement twins' facts union into one
    //      normalized table — funnel verdicts, attribution credits,
    //      cohort facts, session paths, micro-floored EWMA, Markov
    //      transitions. The streaming form of the same composition
    //      is StreamingSpec's stream ≡ batch claim ----
    "events_engagement_batch" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") % 3 === 0).select(col("text"))
      val admitted = docs.join(corpus, Seq("text"), "left_anti")
        .select(col("doc_id").as("id"))
      graft.streaming.EventStreams.engagementFactsBatch(
          t(s, d, "events"), admitted, "id", ewmaEncoding = "micro")
        .toDF()
        .orderBy(col("kind"), col("user_id"), col("k"), col("v"))
    }),

    // ---- gap-based sessionization (batch twin of the streaming op) ----
    "events_sessionize" -> ((s, d) =>
      EventStreams.sessionizeBatch(t(s, d, "events"), gapSeconds = 1800)
        .select(col("user_id"), col("session_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_id"))),

    // ---- multimodal plumbing as a declared query (rows-only: the
    //      deterministic stub codec has no cross-engine oracle; the
    //      schema/lifecycle contract is ScalaTest-verified). Blobs
    //      are derived from document text so the fixture needs no
    //      binary files; the decode path, partition lifecycle, and
    //      feature plumbing are the real ones. ----
    "multimodal_features" -> ((s, d) => {
      val blobs = t(s, d, "documents")
        .select(col("doc_id"),
          encode(substring(col("text"), 1, 256), "UTF-8").as("bytes"),
          lit("txt").as("format"))
      graft.operators.Multimodal.decodeMedia(blobs, "bytes", "format")
        .select(col("doc_id"),
          col("decoded.meta.format").as("fmt"),
          col("decoded.meta.duration_ms").as("n_bytes"),
          size(col("decoded.features")).as("dim"))
        .orderBy(col("doc_id"))
    }),

    // ---- REAL image decode, oracle-checked end to end: BMP bytes
    //      are synthesized in-plan from id-indexed formulas, parsed
    //      by the pure-JVM codec (bottom-up rows, BGR order, stride
    //      padding all undone), and the oracle predicts the decoded
    //      dims/corner-pixel/sums from the formulas alone — a parser
    //      bug in any of the three layout rules fails the hash ----
    "multimodal_decode_bmp" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "bmp")
      graft.operators.Multimodal.decodeMedia(blobs, "bytes", "format",
          new graft.operators.Multimodal.PureJvmCodec())
        .select(col("id").as("doc_id"),
          col("decoded.meta.width").cast(LongType).as("width"),
          col("decoded.meta.height").cast(LongType).as("height"),
          element_at(col("decoded.features"), 3).cast(LongType).as("r00"),
          element_at(col("decoded.features"), 4).cast(LongType).as("g00"),
          element_at(col("decoded.features"), 5).cast(LongType).as("b00"),
          element_at(col("decoded.features"), 6).cast(LongType).as("sum_rgb"),
          element_at(col("decoded.features"), 7).cast(LongType).as("max_chan"))
        .orderBy(col("doc_id"))
    }),

    // ---- REAL compressed-image decode: deterministic PNG fixtures
    //      (stored-block zlib, so the bytes are a pure function of
    //      the pixel formula) decoded through the ACTUAL javax.imageio
    //      reader — header-capped against decompression bombs. PNG is
    //      lossless, so the oracle predicts the decoded features from
    //      the same formula the BMP path uses: identical oracle SQL ----
    "multimodal_decode_png" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "png")
      graft.operators.Multimodal.decodeMedia(blobs, "bytes", "format",
          new graft.operators.Multimodal.PureJvmCodec())
        .select(col("id").as("doc_id"),
          col("decoded.meta.width").cast(LongType).as("width"),
          col("decoded.meta.height").cast(LongType).as("height"),
          element_at(col("decoded.features"), 3).cast(LongType).as("r00"),
          element_at(col("decoded.features"), 4).cast(LongType).as("g00"),
          element_at(col("decoded.features"), 5).cast(LongType).as("b00"),
          element_at(col("decoded.features"), 6).cast(LongType).as("sum_rgb"),
          element_at(col("decoded.features"), 7).cast(LongType).as("max_chan"))
        .orderBy(col("doc_id"))
    }),

    // ---- PIXEL-TIER image hashing (dHash + aHash over a shared
    //      9×8 integer luma grid): BMP near-dup fixtures (groups of
    //      4 ids share a base image modulo a top-left-pixel nudge)
    //      are decoded through the real ImageIO reader and hashed
    //      with all-integer arithmetic — the oracle re-derives every
    //      bit of both 64-bit words from the pixel formula alone ----
    "multimodal_dhash" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
          t(s, d, "documents").select(col("doc_id")), "doc_id", "bmp_near")
        .withColumn("format", lit("bmp")) // fixture label -> payload format
      graft.operators.ImageHash.imageHashes(blobs, "id", "bytes", "format")
        .select(col("id").as("doc_id"), col("dhash"), col("ahash"),
          col("phash"))
        .orderBy(col("doc_id"))
    }),

    // ---- pHash near-dup pairing: the DCT-tier hash through the
    //      same banded-Hamming blocking — frequency-domain structure
    //      where dHash reads local gradients. Brute-force oracle ----
    "multimodal_phash_pairs" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
          t(s, d, "documents").select(col("doc_id")), "doc_id", "bmp_near")
        .withColumn("format", lit("bmp")) // fixture label -> payload format
      val hashes = graft.operators.ImageHash.imageHashes(
        blobs, "id", "bytes", "format")
      graft.operators.ImageHash.dhashPairs(hashes, "id", "phash",
          maxBits = 3, nBands = 4)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ---- image near-dup pairing over the dHash words: banded-
    //      Hamming equi-join (4×16-bit bands; pigeonhole-complete
    //      for dist <= 3) + codegen bit_count(xor) verify — never
    //      all-pairs. Oracle is an honest brute-force Hamming join
    //      over formula-derived hashes, the stronger check ----
    "multimodal_dhash_pairs" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
          t(s, d, "documents").select(col("doc_id")), "doc_id", "bmp_near")
        .withColumn("format", lit("bmp")) // fixture label -> payload format
      val hashes = graft.operators.ImageHash.imageHashes(
        blobs, "id", "bytes", "format")
      graft.operators.ImageHash.dhashPairs(hashes, "id", "dhash",
          maxBits = 3, nBands = 4)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ---- PERSISTED image near-dup index, gated (the daily crawl
    //      shape): %5==0 images play today's batch, the rest the
    //      admitted archive; banded-Hamming postings over the
    //      128-bit dhash‖phash concatenation (4×32-bit bands — band
    //      keyspace 2^32, so the digest never saturates at realistic
    //      corpus sizes) + band digest; verification is the exact
    //      COMBINED distance bit_count(d⊕d')+bit_count(p⊕p').
    //      Brute-force oracle ----
    "dedup_imageidx_gate" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
          t(s, d, "documents").select(col("doc_id")), "doc_id", "bmp_near")
        .withColumn("format", lit("bmp"))
      val hashes = graft.operators.ImageHash.imageHashes(
          blobs, "id", "bytes", "format")
        .filter(col("dhash").isNotNull && col("phash").isNotNull)
        .select(col("id"), col("dhash"), col("phash"))
      val prefix = graft.operators.ImageHashIndex.imageIndexCached(
        hashes.filter(col("id") % 5 =!= 0), "id", "dhash", "phash")
      graft.operators.ImageHashIndex.gateImageMatches(s, prefix,
          hashes.filter(col("id") % 5 === 0), "id", "dhash", "phash")
        .orderBy(col("delta_id"), col("index_id"))
    }),

    // ---- the same gate after an O(delta) APPEND (append ≡ rebuild;
    //      shares the oracle) ----
    "dedup_imageidx_append" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
          t(s, d, "documents").select(col("doc_id")), "doc_id", "bmp_near")
        .withColumn("format", lit("bmp"))
      val hashes = graft.operators.ImageHash.imageHashes(
          blobs, "id", "bytes", "format")
        .filter(col("dhash").isNotNull && col("phash").isNotNull)
        .select(col("id"), col("dhash"), col("phash"))
      val corp = hashes.filter(col("id") % 5 =!= 0)
      val prefix = graft.operators.ImageHashIndex.imageAppendCached(
        corp.filter(col("id") % 4 =!= 1), corp.filter(col("id") % 4 === 1),
        "id", "dhash", "phash")
      graft.operators.ImageHashIndex.gateImageMatches(s, prefix,
          hashes.filter(col("id") % 5 === 0), "id", "dhash", "phash")
        .orderBy(col("delta_id"), col("index_id"))
    }),

    // ---- audio spectral fingerprint (the near-dup family's audio
    //      member): WAV samples → 256 area-mapped buckets (8 windows
    //      × 32 points) → per-window quantized-integer DCT (the
    //      pHash basis) → lower-median sign fold to one 64-bit word.
    //      The oracle replays samples, buckets, every DCT
    //      coefficient and the median rule bit-for-bit ----
    "multimodal_audiohash" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "wav")
      graft.operators.AudioHash.audioHashes(blobs, "id", "bytes", "format")
        .select(col("id").as("doc_id"), col("audiohash"), col("envhash"))
        .orderBy(col("doc_id"))
    }),

    // ---- PERSISTED audio near-dup index, gated: the two audio words
    //      (envelope gradients ‖ spectral signs — amplitude dynamics
    //      and frequency structure are independent views) form the
    //      same 128-bit two-word shape as dhash‖phash, so the index
    //      IS ImageHashIndex reused verbatim: 4×32-bit bands, band
    //      digest, combined-distance verify, O(delta) appends.
    //      Brute-force combined-distance oracle ----
    "dedup_audioidx_gate" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "wav_near")
      val hashes = graft.operators.AudioHash.audioHashes(
          blobs, "id", "bytes", "format")
        .filter(col("audiohash").isNotNull && col("envhash").isNotNull)
        .select(col("id"), col("envhash"), col("audiohash"))
      val prefix = graft.operators.ImageHashIndex.imageIndexCached(
        hashes.filter(col("id") % 5 =!= 0), "id", "envhash", "audiohash",
        namespace = "audidx_v1")
      graft.operators.ImageHashIndex.gateImageMatches(s, prefix,
          hashes.filter(col("id") % 5 === 0), "id", "envhash", "audiohash")
        .orderBy(col("delta_id"), col("index_id"))
    }),

    // ---- the same gate after an O(delta) APPEND (append ≡ rebuild;
    //      shares the oracle) ----
    "dedup_audioidx_append" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "wav_near")
      val hashes = graft.operators.AudioHash.audioHashes(
          blobs, "id", "bytes", "format")
        .filter(col("audiohash").isNotNull && col("envhash").isNotNull)
        .select(col("id"), col("envhash"), col("audiohash"))
      val corp = hashes.filter(col("id") % 5 =!= 0)
      val prefix = graft.operators.ImageHashIndex.imageAppendCached(
        corp.filter(col("id") % 4 =!= 1), corp.filter(col("id") % 4 === 1),
        "id", "envhash", "audiohash", namespace = "audidx_v1")
      graft.operators.ImageHashIndex.gateImageMatches(s, prefix,
          hashes.filter(col("id") % 5 === 0), "id", "envhash", "audiohash")
        .orderBy(col("delta_id"), col("index_id"))
    }),

    // ---- audio near-dup pairing over the spectral fingerprints:
    //      the banded-Hamming machinery reused verbatim on the
    //      wav_near panel (groups of 4 clips sharing a sample
    //      formula up to a first-samples nudge). Brute-force
    //      Hamming oracle over SQL-derived fingerprints ----
    "multimodal_audiohash_pairs" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "wav_near")
      val hashes = graft.operators.AudioHash.audioHashes(
        blobs, "id", "bytes", "format")
      graft.operators.AudioHash.audiohashPairs(hashes, "id", "audiohash",
          maxBits = 3, nBands = 4)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ---- video spatiotemporal fingerprint (the near-dup family's
    //      LAST modality): Y4M luma frames → 8 temporal windows × 32
    //      area-mapped spatial cells → per-window quantized-integer
    //      DCT (the shared pHash basis) → lower-median sign fold to
    //      one 64-bit word, plus the 65-bucket brightness-envelope
    //      word. The oracle replays pixels, window-cell means, every
    //      DCT coefficient and both sign rules bit-for-bit ----
    "multimodal_videohash" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "y4m")
      graft.operators.VideoHash.videoHashes(blobs, "id", "bytes", "format")
        .select(col("id").as("doc_id"), col("vidhash"), col("envhash"))
        .orderBy(col("doc_id"))
    }),

    // ---- PERSISTED video near-dup index, gated: the two video words
    //      (brightness dynamics ‖ windowed spatial-frequency signs —
    //      independent views) form the same 128-bit two-word shape
    //      as dhash‖phash, so the index IS ImageHashIndex reused
    //      verbatim: 4×32-bit bands, band digest, combined-distance
    //      verify, O(delta) appends. Brute-force combined-distance
    //      oracle ----
    "dedup_vididx_gate" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "y4m_near")
      val hashes = graft.operators.VideoHash.videoHashes(
          blobs, "id", "bytes", "format")
        .filter(col("vidhash").isNotNull && col("envhash").isNotNull)
        .select(col("id"), col("envhash"), col("vidhash"))
      val prefix = graft.operators.ImageHashIndex.imageIndexCached(
        hashes.filter(col("id") % 5 =!= 0), "id", "envhash", "vidhash",
        namespace = "vididx_v1")
      graft.operators.ImageHashIndex.gateImageMatches(s, prefix,
          hashes.filter(col("id") % 5 === 0), "id", "envhash", "vidhash")
        .orderBy(col("delta_id"), col("index_id"))
    }),

    // ---- the same gate after an O(delta) APPEND (append ≡ rebuild;
    //      shares the oracle) ----
    "dedup_vididx_append" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "y4m_near")
      val hashes = graft.operators.VideoHash.videoHashes(
          blobs, "id", "bytes", "format")
        .filter(col("vidhash").isNotNull && col("envhash").isNotNull)
        .select(col("id"), col("envhash"), col("vidhash"))
      val corp = hashes.filter(col("id") % 5 =!= 0)
      val prefix = graft.operators.ImageHashIndex.imageAppendCached(
        corp.filter(col("id") % 4 =!= 1), corp.filter(col("id") % 4 === 1),
        "id", "envhash", "vidhash", namespace = "vididx_v1")
      graft.operators.ImageHashIndex.gateImageMatches(s, prefix,
          hashes.filter(col("id") % 5 === 0), "id", "envhash", "vidhash")
        .orderBy(col("delta_id"), col("index_id"))
    }),

    // ---- video near-dup pairing over the spatiotemporal
    //      fingerprints: the banded-Hamming machinery reused verbatim
    //      on the y4m_near panel (groups of 4 clips sharing a luma
    //      formula up to a first-pixels nudge). Brute-force Hamming
    //      oracle over SQL-derived fingerprints ----
    "multimodal_videohash_pairs" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "y4m_near")
      val hashes = graft.operators.VideoHash.videoHashes(
        blobs, "id", "bytes", "format")
      graft.operators.VideoHash.vidhashPairs(hashes, "id", "vidhash",
          maxBits = 3, nBands = 4)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ---- REAL audio decode (RIFF/WAVE chunk walk, PCM-16 LE
    //      samples): same synth-then-parse-then-predict scheme ----
    "multimodal_decode_wav" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "wav")
      graft.operators.Multimodal.decodeMedia(blobs, "bytes", "format",
          new graft.operators.Multimodal.PureJvmCodec())
        .select(col("id").as("doc_id"),
          col("decoded.meta.duration_ms").as("dur_ms"),
          element_at(col("decoded.features"), 3).cast(LongType).as("n_samples"),
          element_at(col("decoded.features"), 4).cast(LongType).as("s_first"),
          element_at(col("decoded.features"), 5).cast(LongType).as("s_last"),
          element_at(col("decoded.features"), 6).cast(LongType).as("sum_abs"))
        .orderBy(col("doc_id"))
    }),

    // ---- compressed audio, G.711 mu-law: one companded byte per
    //      sample, decoded by the public ITU table arithmetic — a
    //      pure function of the byte, so the oracle replays the
    //      decode expression over the fixture's byte formula and the
    //      feature aggregates must match exactly ----
    "multimodal_decode_mulaw" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "wav_mulaw")
      graft.operators.Multimodal.decodeMedia(blobs, "bytes", "format",
          new graft.operators.Multimodal.PureJvmCodec())
        .select(col("id").as("doc_id"),
          col("decoded.meta.duration_ms").as("dur_ms"),
          element_at(col("decoded.features"), 3).cast(LongType).as("n_samples"),
          element_at(col("decoded.features"), 4).cast(LongType).as("s_first"),
          element_at(col("decoded.features"), 5).cast(LongType).as("s_last"),
          element_at(col("decoded.features"), 6).cast(LongType).as("sum_abs"))
        .orderBy(col("doc_id"))
    }),

    // ---- compressed audio, G.711 A-law: same discipline, xor-0x55
    //      pre-step and the segment-cased expansion ----
    "multimodal_decode_alaw" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "wav_alaw")
      graft.operators.Multimodal.decodeMedia(blobs, "bytes", "format",
          new graft.operators.Multimodal.PureJvmCodec())
        .select(col("id").as("doc_id"),
          col("decoded.meta.duration_ms").as("dur_ms"),
          element_at(col("decoded.features"), 3).cast(LongType).as("n_samples"),
          element_at(col("decoded.features"), 4).cast(LongType).as("s_first"),
          element_at(col("decoded.features"), 5).cast(LongType).as("s_last"),
          element_at(col("decoded.features"), 6).cast(LongType).as("sum_abs"))
        .orderBy(col("doc_id"))
    }),

    // ---- compressed audio, IMA ADPCM: a sequential clamped
    //      predictor fold over 4-bit codes — the oracle unrolls the
    //      fold as a recursive CTE carrying (predictor, step index,
    //      running sum|s|) and must land on the identical first/last/
    //      sum features for every doc ----
    "multimodal_decode_adpcm" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "wav_adpcm")
      graft.operators.Multimodal.decodeMedia(blobs, "bytes", "format",
          new graft.operators.Multimodal.PureJvmCodec())
        .select(col("id").as("doc_id"),
          col("decoded.meta.duration_ms").as("dur_ms"),
          element_at(col("decoded.features"), 3).cast(LongType).as("n_samples"),
          element_at(col("decoded.features"), 4).cast(LongType).as("s_first"),
          element_at(col("decoded.features"), 5).cast(LongType).as("s_last"),
          element_at(col("decoded.features"), 6).cast(LongType).as("sum_abs"))
        .orderBy(col("doc_id"))
    }),

    // ---- MP3 frame-header metadata: duration/bitrate from walking
    //      validated Layer III headers behind the ID3v2 tag — no
    //      sample decode (the cheap audit tier for compressed audio);
    //      fixture frames are header-deterministic, so every reported
    //      field is formula-predictable ----
    "multimodal_decode_mp3" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "mp3")
      graft.operators.Multimodal.decodeMedia(blobs, "bytes", "format",
          new graft.operators.Multimodal.PureJvmCodec())
        .select(col("id").as("doc_id"),
          col("decoded.meta.duration_ms").as("dur_ms"),
          element_at(col("decoded.features"), 2).cast(LongType).as("sample_rate"),
          element_at(col("decoded.features"), 3).cast(LongType).as("n_samples"),
          element_at(col("decoded.features"), 4).cast(LongType).as("bitrate_kbps"),
          element_at(col("decoded.features"), 5).cast(LongType).as("n_frames"))
        .orderBy(col("doc_id"))
    }),

    // ---- FLAC STREAMINFO metadata: rate/channels/bit-depth/total
    //      samples (→ duration) from the mandatory first metadata
    //      block — no frame decode; every field formula-predictable
    //      from the fixture parameters ----
    "multimodal_decode_flac" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "flac")
      graft.operators.Multimodal.decodeMedia(blobs, "bytes", "format",
          new graft.operators.Multimodal.PureJvmCodec())
        .select(col("id").as("doc_id"),
          col("decoded.meta.duration_ms").as("dur_ms"),
          element_at(col("decoded.features"), 1).cast(LongType).as("channels"),
          element_at(col("decoded.features"), 2).cast(LongType).as("sample_rate"),
          element_at(col("decoded.features"), 3).cast(LongType).as("n_samples"),
          element_at(col("decoded.features"), 4).cast(LongType).as("bits"))
        .orderBy(col("doc_id"))
    }),

    // ---- OGG Vorbis metadata: channels/rate/nominal bitrate from
    //      the BOS identification header, duration from the LAST
    //      page's granule position (total PCM samples) — the
    //      standard cheap duration estimate, no packet decode ----
    "multimodal_decode_ogg" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "ogg")
      graft.operators.Multimodal.decodeMedia(blobs, "bytes", "format",
          new graft.operators.Multimodal.PureJvmCodec())
        .select(col("id").as("doc_id"),
          col("decoded.meta.duration_ms").as("dur_ms"),
          element_at(col("decoded.features"), 1).cast(LongType).as("channels"),
          element_at(col("decoded.features"), 2).cast(LongType).as("sample_rate"),
          element_at(col("decoded.features"), 3).cast(LongType).as("n_samples"),
          element_at(col("decoded.features"), 4).cast(LongType).as("bitrate_kbps"))
        .orderBy(col("doc_id"))
    }),

    // ---- JPEG SOF metadata: dimensions/channels/precision from the
    //      frame header marker walk (APPn/COM/DQT skipped by length)
    //      — no entropy decode; every field formula-predictable from
    //      the fixture geometry ----
    "multimodal_decode_jpeg" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "jpeg")
      graft.operators.Multimodal.decodeMedia(blobs, "bytes", "format",
          new graft.operators.Multimodal.PureJvmCodec())
        .select(col("id").as("doc_id"),
          col("decoded.meta.width").as("width"),
          col("decoded.meta.height").as("height"),
          element_at(col("decoded.features"), 3).cast(LongType).as("channels"),
          element_at(col("decoded.features"), 4).cast(LongType).as("bits"))
        .orderBy(col("doc_id"))
    }),

    // ---- GIF logical-screen-descriptor decode: LE dims + global
    //      color table size from the packed byte — the remaining
    //      common crawl image format beside PNG/BMP/JPEG ----
    "multimodal_decode_gif" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "gif")
      graft.operators.Multimodal.decodeMedia(blobs, "bytes", "format",
          new graft.operators.Multimodal.PureJvmCodec())
        .select(col("id").as("doc_id"),
          col("decoded.meta.width").as("width"),
          col("decoded.meta.height").as("height"),
          element_at(col("decoded.features"), 3).cast(LongType).as("palette"),
          element_at(col("decoded.features"), 4).cast(LongType).as("version"))
        .orderBy(col("doc_id"))
    }),

    // ---- ISO-BMFF (MP4) box walk: the video tier — mvhd
    //      timescale/duration and the first nonzero tkhd 16.16 dims,
    //      both FullBox versions exercised by the fixture (id%4==0
    //      builds the 64-bit v1 layout); duration_ms is the
    //      cross-version invariant the oracle predicts ----
    "multimodal_decode_mp4" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "mp4")
      graft.operators.Multimodal.decodeMedia(blobs, "bytes", "format",
          new graft.operators.Multimodal.PureJvmCodec())
        .select(col("id").as("doc_id"),
          col("decoded.meta.width").as("width"),
          col("decoded.meta.height").as("height"),
          col("decoded.meta.duration_ms").as("dur_ms"),
          element_at(col("decoded.features"), 3).cast(LongType).as("n_tracks"),
          element_at(col("decoded.features"), 4).cast(LongType).as("timescale"))
        .orderBy(col("doc_id"))
    }),

    // ---- JPEG EXIF orientation: APP1-embedded TIFF IFD walked in
    //      BOTH byte orders (fixture alternates II/MM by parity) with
    //      a LONG-typed decoy tag the reader must skip — the rotate-
    //      before-pixel-work metadata a crawled-image pipeline must
    //      honor ----
    "multimodal_decode_exif" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "jpeg_exif")
      graft.operators.Multimodal.decodeMedia(blobs, "bytes", "format",
          new graft.operators.Multimodal.PureJvmCodec())
        .select(col("id").as("doc_id"),
          col("decoded.meta.width").as("width"),
          col("decoded.meta.height").as("height"),
          element_at(col("decoded.features"), 5).cast(LongType)
            .as("orientation"),
          element_at(col("decoded.features"), 6).cast(LongType)
            .as("byte_order"))
        .orderBy(col("doc_id"))
    }),

    // ---- WebM/Matroska EBML walk: the OTHER web video container —
    //      vint-coded elements instead of fixed boxes; Info timescale
    //      + float Duration -> dur_ms, first video TrackEntry's
    //      pixel dims; id%3==0 fixtures use wide size-vints AND an
    //      unknown-length Segment (the streamed-Matroska shape) ----
    "multimodal_decode_webm" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "webm")
      graft.operators.Multimodal.decodeMedia(blobs, "bytes", "format",
          new graft.operators.Multimodal.PureJvmCodec())
        .select(col("id").as("doc_id"),
          col("decoded.meta.width").as("width"),
          col("decoded.meta.height").as("height"),
          col("decoded.meta.duration_ms").as("dur_ms"),
          element_at(col("decoded.features"), 3).cast(LongType).as("n_tracks"),
          element_at(col("decoded.features"), 4).cast(LongType).as("timescale"))
        .orderBy(col("doc_id"))
    }),

    // ---- AVIF/HEIF meta walk: the still-image side of ISO-BMFF —
    //      ispe spatial extents + pixi channels/depth out of
    //      meta→iprp→ipco, all three admitted brands cycled by the
    //      fixture (id%3: avif / mif1 / heic) ----
    "multimodal_decode_avif" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "avif")
      graft.operators.Multimodal.decodeMedia(blobs, "bytes", "format",
          new graft.operators.Multimodal.PureJvmCodec())
        .select(col("id").as("doc_id"),
          col("decoded.meta.width").as("width"),
          col("decoded.meta.height").as("height"),
          element_at(col("decoded.features"), 3).cast(LongType).as("channels"),
          element_at(col("decoded.features"), 4).cast(LongType).as("depth"),
          element_at(col("decoded.features"), 5).cast(LongType).as("brand"))
        .orderBy(col("doc_id"))
    }),

    // ---- WebP RIFF decode: all three first-chunk layouts (lossy
    //      VP8 sync walk, lossless VP8L bit-packing, extended VP8X
    //      24-bit canvas), variant cycled by the fixture ----
    "multimodal_decode_webp" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "webp")
      graft.operators.Multimodal.decodeMedia(blobs, "bytes", "format",
          new graft.operators.Multimodal.PureJvmCodec())
        .select(col("id").as("doc_id"),
          col("decoded.meta.width").as("width"),
          col("decoded.meta.height").as("height"),
          element_at(col("decoded.features"), 3).cast(LongType).as("variant"),
          element_at(col("decoded.features"), 4).cast(LongType).as("alpha"))
        .orderBy(col("doc_id"))
    }),

    // ---- TIFF IFD walk in BOTH byte orders (fixture alternates
    //      II/MM by id parity; a one-sided parser fails half the
    //      corpus) with mixed SHORT/LONG value fields ----
    "multimodal_decode_tiff" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "tiff")
      graft.operators.Multimodal.decodeMedia(blobs, "bytes", "format",
          new graft.operators.Multimodal.PureJvmCodec())
        .select(col("id").as("doc_id"),
          col("decoded.meta.width").as("width"),
          col("decoded.meta.height").as("height"),
          element_at(col("decoded.features"), 3).cast(LongType).as("spp"),
          element_at(col("decoded.features"), 4).cast(LongType).as("big_endian"))
        .orderBy(col("doc_id"))
    }),

    // ---- video frame sampling: MP4 duration → synthetic 25 fps
    //      frame count → 4 evenly-spread indices via
    //      sampleFrameIndices, exploded to one row per sampled frame
    //      (the pure-plan half of video sampling; the per-frame
    //      decode goes back through decodeMedia). Fixture durations
    //      are all > 160 ms so the long-video branch is the one the
    //      oracle predicts; the short-video passthrough is
    //      ScalaTest-covered ----
    "multimodal_frame_sample" -> ((s, d) => {
      val blobs = graft.operators.Multimodal.synthMediaBlobs(
        t(s, d, "documents").select(col("doc_id")), "doc_id", "mp4")
      graft.operators.Multimodal.decodeMedia(blobs, "bytes", "format",
          new graft.operators.Multimodal.PureJvmCodec())
        .select(col("id").as("doc_id"),
          expr("decoded.meta.duration_ms div 40").cast(IntegerType)
            .as("nf"))
        .select(col("doc_id"), col("nf"),
          explode(graft.operators.Multimodal.sampleFrameIndices(
            col("nf"), 4)).as("fi"))
        .select(col("doc_id"), col("nf").cast(LongType).as("n_frames"),
          col("fi").cast(LongType).as("frame_idx"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // ---- document fingerprinting: portable code-point polynomial
    //      hashes (whole-text rolling fp + winnowing count), exactly
    //      reproduced by the DuckDB oracle via list folds. The
    //      xxhash-based fingerprint/winnowing variants stay in
    //      TextAnalysis (ScalaTest-verified). ----
    "text_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.polyFingerprint(col("text")).as("fp"),
          size(TextAnalysis.winnowingFingerprintsPoly(col("text"))).as("n_winnow"))
        .orderBy(col("doc_id"))),

    // ---- time-series gap fill: dense per-type daily grid (sequence
    //      over the global day span, exploded) left-joined onto the
    //      sparse daily aggregate, missing days zero-filled. The grid
    //      side is (types x days) — tiny — so the join broadcasts. ----
    "events_gapfill" -> ((s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"))
      val daily = ev.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      val grid = ev.select(col("event_type")).distinct()
        .crossJoin(ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day")))
      grid.join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("event_type"), col("day"))
    }),

    // ---- event-sequence transition counts (first-order Markov
    //      matrix): lag(event_type) per user over time order, then a
    //      plain pair aggregation ----
    "events_transitions" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("prev_type"), col("event_type"))
    }),

    // ---- portable count-min sketch heavy-hitters card: the exact
    //      top-20 terms (the eval side) against their CMS estimates
    //      from a 4x1024 counter grid. Cell positions come from the
    //      shared portable mixer, so the oracle rebuilds the exact
    //      counter table and every min-over-rows estimate, hash
    //      collisions included; est_n >= exact_n is the CMS law both
    //      engines must land on ----
    "text_cms_heavy_hitters" -> ((s, d) =>
      graft.operators.CountMin.heavyHittersCard(t(s, d, "documents"), "text",
        depth = 4, width = 1024, topK = 20)),

    // ---- streaming windowed CMS monitor, batch mode (stream ≡ batch
    //      is StreamingSpec's job): per 60-second event-time window
    //      (doc_id as epoch seconds) ONE stateful count aggregate
    //      builds the window's 4x1024 counter grid — ≤ depth·width
    //      longs of state per window — then cmsEstimateByWindow reads
    //      per-window estimates for the corpus top-5 panel. exact_n
    //      rides along so the CMS law (est ≥ exact, per window) is a
    //      cross-engine invariant; the oracle rebuilds every windowed
    //      cell count, both hash stages and the min-read exactly ----
    "text_cms_windowed" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val grid = graft.streaming.DocStreams.cmsCountersWindowed(
          docs.withColumn("ts", timestamp_seconds(col("doc_id"))),
          depth = 4, width = 1024, windowSeconds = 60L)
        .withColumn("window_start", unix_timestamp(col("window_start")))
      val toks = docs.select(expr("doc_id div 60 * 60").as("window_start"),
        explode(graft.operators.Dedup.tokens(col("text"))).as("tok"))
      val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc).limit(5).select(col("tok"))
      val est = graft.operators.CountMin.cmsEstimateByWindow(grid, top, "tok",
        depth = 4, width = 1024)
      val exactWin = toks.join(top, Seq("tok"))
        .groupBy(col("window_start"), col("tok"))
        .agg(count(lit(1)).as("exact_n"))
        .withColumnRenamed("tok", "term")
      est.join(exactWin, Seq("window_start", "term"), "left")
        .select(col("window_start").as("win_start"), col("term"),
          coalesce(col("exact_n"), lit(0L)).as("exact_n"), col("est_n"))
        .orderBy(col("win_start"), col("term"))
    }),

    // ---- portable HyperLogLog distinct-count card: exact distinct
    //      (the eval side) vs the 256-register HLL estimate. Bucket/
    //      rank from the shared portable mixer; the 2^-rank harmonic
    //      terms are exact dyadics (order-independent sums), so both
    //      engines land on the identical register table, branch
    //      choice and floored estimate ----
    "text_hll_distinct" -> ((s, d) =>
      graft.operators.Hll.hllDistinctCard(t(s, d, "documents"), "text", m = 256)),

    // ---- per-source vocabulary-richness card: HLL distinct terms
    //      keyed by source (a template-spam source collapses it) —
    //      one (source, bucket)-keyed aggregate, groups·m rows total.
    //      Same bit-exact replay, GROUP BY source ----
    "text_hll_by_source" -> ((s, d) =>
      graft.operators.Hll.hllDistinctByGroup(t(s, d, "documents"), "text",
          "source", m = 64)
        .orderBy(col("source"))),

    // ---- SERVED CMS heavy-hitters: the counter grid loads from the
    //      corpus-fingerprint-keyed parquet artifact (built+saved on
    //      first run, cell-range/dup/count-validated at every load) —
    //      a monitor's accumulated state survives the job that built
    //      it. Longs round-trip parquet exactly, so the card shares
    //      text_cms_heavy_hitters' oracle bit-for-bit ----
    "text_cms_served" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val grid = IndexStore.cmsGridCached(docs, "text", depth = 4,
        width = 1024, baseDir = artifactDir)
      graft.operators.CountMin.heavyHittersCardFrom(grid, docs, "text",
        depth = 4, width = 1024, topK = 20)
    }),

    // ---- MERGED CMS heavy-hitters: grids built independently over
    //      the even-id and odd-id halves of the corpus, then folded
    //      by per-cell SUM — CMS state is additive, so the merged
    //      grid must equal the single-pass grid bit-for-bit and the
    //      split is invisible in the answer (same oracle). This is
    //      the yesterday's-grid + today's-scan deployment fold ----
    "text_cms_merged" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ga = graft.operators.CountMin.cmsCounters(
        docs.filter(col("doc_id") % 2 === 0), "text", depth = 4, width = 1024)
      val gb = graft.operators.CountMin.cmsCounters(
        docs.filter(col("doc_id") % 2 =!= 0), "text", depth = 4, width = 1024)
      graft.operators.CountMin.heavyHittersCardFrom(
        graft.operators.CountMin.mergeGrids(ga, gb), docs, "text",
        depth = 4, width = 1024, topK = 20)
    }),

    // ---- SERVED HLL distinct card: the register table loads from
    //      the corpus-fingerprint-keyed artifact (bucket-range/dup/
    //      rank-validated at every load); shares text_hll_distinct's
    //      oracle — register state round-trips exactly ----
    "text_hll_served" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val regs = IndexStore.hllRegistersCached(docs, "text", m = 256,
        baseDir = artifactDir)
      graft.operators.Hll.cardFromRegisters(docs, "text", regs, m = 256)
    }),

    // ---- MERGED HLL distinct card: register tables built over the
    //      even/odd corpus halves, folded by per-bucket MAX — HLL
    //      merge is idempotent, so the merged registers equal the
    //      single-pass table bit-for-bit (same oracle as
    //      text_hll_distinct; the split is invisible) ----
    "text_hll_merged" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ra = graft.operators.Hll.hllRegisters(
        docs.filter(col("doc_id") % 2 === 0), "text", m = 256)
      val rb = graft.operators.Hll.hllRegisters(
        docs.filter(col("doc_id") % 2 =!= 0), "text", m = 256)
      graft.operators.Hll.cardFromRegisters(docs, "text",
        graft.operators.Hll.mergeRegisters(ra, rb), m = 256)
    }),

    // ---- KMV theta-sketch overlap card: per source pair, distinct /
    //      union / INTERSECTION / Jaccard estimates of shared
    //      vocabulary from 256-value sketches — the set algebra HLL
    //      cannot do — beside their exact truths (the eval-card
    //      mold). The sketch path's only corpus-width work is one
    //      (source, hash) distinct + a bounded-heap agg; every pair
    //      estimate runs on k-sized rows. The pair list itself is a
    //      broadcast nested-loop over the per-source card (sources x
    //      sources, dozens of rows). Small sources at sf0.001 hold
    //      fewer than k distinct tokens, exercising the exact-
    //      degradation branch the oracle also replays ----
    "text_kmv_overlap" -> ((s, d) =>
      graft.operators.Kmv.overlapCard(
          t(s, d, "documents").select(col("source"),
            explode(TextAnalysis.tokens(col("text"))).as("term")),
          "source", "term", k = 256)
        .orderBy(col("src_a"), col("src_b"))),

    // ---- corpus-weighted term ranking: top-3 tokens per document by
    //      tf x (N/df). The score is one exact IEEE division of
    //      integers (no transcendentals), so ranking and value are
    //      bit-identical cross-engine; ties break on token. ----
    "text_top_terms" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .filter(col("token") =!= "")
      val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val nDocs = t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, Seq("token")).crossJoin(nDocs)
        .withColumn("score",
          col("tf").cast(DoubleType) * col("n_docs") / col("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("token"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("token"), col("score"))
        .orderBy(col("doc_id"), col("rk"))
    }),

    // ---- PMI collocations: the 20 most frequent adjacent bigrams
    //      with pointwise mutual information as five integer-exact
    //      micro-ln terms (no product near 2^53) — collocation
    //      survival / boilerplate-flood card. Fully replayed ----
    "text_pmi_collocations" -> ((s, d) =>
      TextAnalysis.pmiCollocations(t(s, d, "documents"), "text", topN = 20)),

    // ---- per-source vocabulary coverage: OOV occurrence rate of
    //      each source against the global top-16 token head — the
    //      per-source tail-mass / tokenizer-coverage signal, all
    //      integer counts + one div ----
    "text_vocab_coverage" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val vocab = docs
        .select(explode(TextAnalysis.cleanTokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token")).limit(16)
      TextAnalysis.vocabCoverage(docs, "source", "text", vocab)
    }),

    // ---- Zipf slope: least-squares slope of ln(freq) vs ln(rank)
    //      over the top-64 terms — the "does this corpus still look
    //      like language" one-number drift card (natural text ≈
    //      −1000 milli). Integer-milli ln values, exact long moment
    //      sums, one floor division — replayed end-to-end ----
    "text_zipf_slope" -> ((s, d) =>
      TextAnalysis.zipfSlopeCard(t(s, d, "documents"), "text")),

    // ---- BM25 lexical retrieval: inverted-index top-10 per probe;
    //      probes = every 50th doc's first-5 tokens. Per-term scores
    //      floor to integer micro-units BEFORE the per-doc sum, so
    //      ranking is exact and order-independent cross-engine ----
    "text_bm25_topk" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val probes = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"),
          slice(TextAnalysis.cleanTokens(col("text")), 1, 5).as("qterms"))
      Retrieval.bm25TopK(docs, "doc_id", "text",
          probes, "query_id", "qterms", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- pseudo-relevance-feedback expansion (RM3 family): probe ->
    //      top-5 docs vote their 3 heaviest NEW terms (exact-integer
    //      tf weights, token ties) -> the expanded query rescored
    //      through the identical BM25 chain. The oracle replays BOTH
    //      passes and the expansion vote ----
    "text_bm25_prf" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val probes = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"),
          slice(TextAnalysis.cleanTokens(col("text")), 1, 5).as("qterms"))
      Retrieval.bm25TopKExpanded(docs, "doc_id", "text",
          probes, "query_id", "qterms", k = 10, kFb = 5, nExpand = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- BM25 against the PERSISTED bucketed inverted index:
    //      build-once (fingerprint-keyed catalog tables — postings
    //      with denormalized doc lengths, term stats, corpus stats),
    //      then a probe that touches ONLY the index tables: no corpus
    //      scan, no tokenize, no tf shuffle (plan-pinned in
    //      PlanShapeSpec). Bit-identical to text_bm25_topk by shared
    //      scoring code — same oracle ----
    "text_bm25_topk_idx" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val probes = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"),
          slice(TextAnalysis.cleanTokens(col("text")), 1, 5).as("qterms"))
      val prefix = Retrieval.bm25IndexCached(docs, "doc_id", "text")
      Retrieval.bm25TopKFromIndex(s, prefix, probes, "query_id", "qterms", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- BM25 BIG-PANEL probe against the same persisted index: a
    //      10x denser panel (every 5th doc) served through the
    //      sort-merge path the token-bucketed postings were written
    //      for — the panel shuffles BY TOKEN onto the index's bucket
    //      layout, the postings/termstats side plans with ZERO
    //      Exchange (pinned in PlanShapeSpec). Same scoring tail as
    //      bm25TopK, so the oracle is the inline replay with only the
    //      probe selector changed ----
    "text_bm25_topk_bigpanel" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val probes = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("query_id"),
          slice(TextAnalysis.cleanTokens(col("text")), 1, 5).as("qterms"))
      val prefix = Retrieval.bm25IndexCached(docs, "doc_id", "text")
      Retrieval.bm25TopKFromIndexBigPanel(s, prefix, probes,
          "query_id", "qterms", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- INCREMENTAL index maintenance: the index is built over
    //      6/7ths of the corpus, then every 7th doc arrives as a
    //      delta and is FOLDED IN (postings union, termstats df-sum,
    //      stats component-sum — exact by doc-id disjointness, no
    //      base re-tokenize) — the daily-append path at 100 TB. The
    //      probe against the merged index must be bit-identical to
    //      the full-corpus inline run, so the oracle IS
    //      text_bm25_topk's: the split is invisible in the answer ----
    "text_bm25_topk_delta" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val base = docs.filter(col("doc_id") % 7 =!= 0)
      val delta = docs.filter(col("doc_id") % 7 === 0)
      val probes = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"),
          slice(TextAnalysis.cleanTokens(col("text")), 1, 5).as("qterms"))
      val prefix = Retrieval.bm25AppendCached(base, delta, "doc_id", "text")
      Retrieval.bm25TopKFromIndex(s, prefix, probes, "query_id", "qterms", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- CHAMPION-LIST probe: the same panel served from the
    //      impact-pruned postings (per token keep only the top-64
    //      postings by floor(tf·10^6/dl), ties to smallest doc_id) —
    //      the layout that caps per-term probe cost at c candidate
    //      rows regardless of df, i.e. regardless of corpus size.
    //      Surviving contributions are bit-identical to the exact
    //      index's (df/stats untouched); the oracle replays the
    //      pruning window and the full scoring chain over it ----
    "text_bm25_topk_champion" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val probes = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"),
          slice(TextAnalysis.cleanTokens(col("text")), 1, 5).as("qterms"))
      val base = Retrieval.bm25IndexCached(docs, "doc_id", "text")
      val champ = Retrieval.bm25ChampionCached(s, base, c = 64)
      Retrieval.bm25TopKFromIndex(s, champ, probes, "query_id", "qterms", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- champion-list recall curve: top-10 agreement between the
    //      exact index and the champion index at pruning depths
    //      c = 64 and 256 over the same panel — the
    //      cost-vs-coverage tuning table (per-term probe cost is
    //      capped at c, this card is what the cap costs), with BOTH
    //      runs at each depth and the match counts replayed
    //      end-to-end by the oracle ----
    "text_bm25_recall_champion" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val probes = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"),
          slice(TextAnalysis.cleanTokens(col("text")), 1, 5).as("qterms"))
      val base = Retrieval.bm25IndexCached(docs, "doc_id", "text")
      val truth = Retrieval.bm25TopKFromIndex(s, base, probes,
          "query_id", "qterms", k = 10)
        .select(col("query_id"), col("doc_id").as("nn_id"))
      Seq(64, 256).map { c =>
        val champ = Retrieval.bm25ChampionCached(s, base, c = c)
        val approx = Retrieval.bm25TopKFromIndex(s, champ, probes,
            "query_id", "qterms", k = 10)
          .select(col("query_id"), col("doc_id").as("nn_id"))
        Similarity.recallReport(truth, approx)
          .select(lit(c).as("c"), col("n_truth"), col("n_matched"),
            col("recall_micro"))
      }.reduce(_ unionByName _).orderBy(col("c"))
    }),

    // ---- hybrid retrieval: BM25 lexical top-10 and dense cosine
    //      top-10 for the same query panel, merged by reciprocal-rank
    //      fusion — pure integer arithmetic (10^9 div (60 + rank)),
    //      no score calibration across systems. The oracle replays
    //      BOTH runs and the fusion bit-for-bit ----
    "sim_rrf_hybrid" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val probes = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"),
          slice(TextAnalysis.cleanTokens(col("text")), 1, 5).as("qterms"))
      val lexical = Retrieval.bm25TopK(docs, "doc_id", "text",
          probes, "query_id", "qterms", k = 10)
        .select(col("query_id"), col("rank"), col("doc_id").as("id"))
      val e = t(s, d, "embeddings")
      val dense = Similarity.bruteForceTopK(
          e.repartition(s.sparkContext.defaultParallelism),
          e.filter(col("vec_id") % 50 === 0), k = 10)
        .select(col("query_id"), col("rank"), col("id"))
      Retrieval.rrfFuse(Seq(lexical, dense), k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- MMR diversified re-rank: brute-force top-20 shortlist per
    //      panel query, then greedy lambda=0.7 relevance-vs-redundancy
    //      selection of 5 — one bounded fold per query, ties to the
    //      smallest id; the oracle replays the greedy rounds stage by
    //      stage (cosine bit-matches list_cosine_similarity) ----
    "sim_mmr_rerank" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") % 50 === 0)
      val sl = Similarity.bruteForceTopK(emb, queries, k = 20)
        .select(col("query_id"), col("id"), col("cos").as("rel"))
      val cands = sl.join(
        emb.select(col("vec_id").as("id"), col("embedding").as("vec")),
        Seq("id"))
      Retrieval.mmrRerank(cands, k = 5, lambda = 0.7)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- the BM25 decontamination gate's BATCH twin as an oracle
    //      row (the streaming mode itself is not oracle-checkable;
    //      this pins the scoring semantics both modes share): delta =
    //      every 5th doc, reference = the rest, probes = first-4
    //      tokens of every 200th reference doc; flag best-probe
    //      scores >= 1.3 (micro) — a threshold that splits the delta
    //      at every sf ----
    "text_bm25_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val delta = docs.filter(col("doc_id") % 5 === 0)
        .withColumn("ts", timestamp_millis(lit(1700000000000L) +
          col("doc_id") * 60000L))
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val probes = docs
        .filter(col("doc_id") % 200 === 1 && col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("probe_id"),
          slice(TextAnalysis.cleanTokens(col("text")), 1, 4).as("terms"))
      graft.streaming.DocStreams.bm25GateStream(delta, corpus, probes,
          minScoreMicro = 1300000L)
        .select(col("id"), col("probe_id"), col("score_micro"))
        .orderBy(col("id"))
    }),

    // ---- per-probe retrieval diagnostics over the same BM25 run:
    //      fill depth, rank-1 score, rank-1/rank-k spread ----
    "text_bm25_diag" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val probes = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("query_id"),
          slice(TextAnalysis.cleanTokens(col("text")), 1, 5).as("qterms"))
      Retrieval.bm25QueryDiagnostics(
          Retrieval.bm25TopK(docs, "doc_id", "text",
            probes, "query_id", "qterms", k = 10))
        .orderBy(col("query_id"))
    }),

    // ---- the ONLINE ingest-gate flagship (the streaming twin of the
    //      q_curation_v3 offline flagship): a day's arrivals flow
    //      through all four admission gates in one declarative plan —
    //      exact-dup vs the persisted fingerprint index (+ in-batch
    //      first-occurrence), near-dup vs the persisted LSH index,
    //      exact 8-gram decontamination vs the benchmark panel (the
    //      two-tier bloom+confirm whose ANSWER is exact), and the
    //      quality floor. Every gate is individually oracle-checked
    //      elsewhere; this locks the composition ----
    "q_ingest_gate" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val base = docs.filter(col("doc_id") % 3 =!= 0)
      val arrivals = docs.filter(col("doc_id") % 3 === 0)
        .unionByName(docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val ref = docs.filter(col("doc_id") % 20 === 0)
      val ddPrefix = graft.operators.DedupIndex.dedupIndexCached(
        base, "doc_id", "text")
      val ndPrefix = graft.operators.NearDupIndex.nearDupIndexCached(
        base, "doc_id", "text")
      val exact = graft.operators.DedupIndex.gateNewDocs(s, ddPrefix,
          arrivals, "doc_id", "text")
        .select(col("id").as("doc_id"), col("is_dup").as("exact_dup"))
      val near = graft.operators.NearDupIndex.gateNearDups(s, ndPrefix,
          arrivals, "doc_id", "text", threshold = 0.5)
        .select(col("delta_id").as("doc_id")).distinct()
        .withColumn("__nd", lit(true))
      val words = Bloom.buildBloomWords(ref, "text", mBits = 1 << 15,
        kHashes = 4, shingleW = 8)
      val contam = Bloom.decontaminateExact(arrivals, ref, "doc_id", "text",
          words, mBits = 1 << 15, kHashes = 4, shingleW = 8)
        .select(col("id").as("doc_id"), col("contaminated"))
      val quality = arrivals.select(col("doc_id"),
        (floor(TextAnalysis.qualityScoreRaw(col("text")) * lit(10000.0)
          + lit(0.5)).cast(LongType) < 5000L).as("low_quality"))
      exact.join(near, Seq("doc_id"), "left")
        .withColumn("near_dup", coalesce(col("__nd"), lit(false)))
        .drop("__nd")
        .join(contam, Seq("doc_id"))
        .join(quality, Seq("doc_id"))
        .select(col("doc_id"), col("exact_dup"), col("near_dup"),
          col("contaminated"), col("low_quality"),
          (!col("exact_dup") && !col("near_dup") && !col("contaminated") &&
            !col("low_quality")).as("admit"))
        .orderBy(col("doc_id"))
    }),

    // ---- the CURATION ADMISSION gate, composed: the batch twin of
    //      the streaming curation flagship
    //      (DocStreams.CurationStreamPipeline — StreamingSpec pins
    //      the stream row-equal to a sequential per-batch replay of
    //      exactly these operators). Arrivals are gated by (B) the
    //      Gopher health rules, (C) the TRAINED hashed-linear quality
    //      keep under weights learned from the BASE corpus (the
    //      frozen-artifact discipline — a stream cannot retrain per
    //      batch), and (D) the exact-dup fingerprint index gate
    //      (+ in-batch keep-first) and the near-dup LSH index gate.
    //      Every stage replays in the oracle ----
    "q_curation_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val base = docs.filter(col("doc_id") % 5 =!= 0)
      val arrivals = docs.filter(col("doc_id") % 5 === 0)
      val weights = TextAnalysis.loadWeights(
        TextAnalysis.trainBucketWeights(base, "text",
          col("lang") === "en", 256), 256)
      val ddPrefix = graft.operators.DedupIndex.dedupIndexCached(
        base, "doc_id", "text")
      val ndPrefix = graft.operators.NearDupIndex.nearDupIndexCached(
        base, "doc_id", "text")
      val health = arrivals.select(col("doc_id"),
          TextAnalysis.gopherSignals(col("text")).as("g"))
        .select(col("doc_id"), col("g.pass").as("health_pass"))
      val qual = TextAnalysis.hashedLinearScore(arrivals, "doc_id", "text",
          weights)
        .select(col("id").as("doc_id"), (col("score") >= 0L).as("quality_keep"))
      val exact = graft.operators.DedupIndex.gateNewDocs(s, ddPrefix,
          arrivals, "doc_id", "text")
        .select(col("id").as("doc_id"), col("is_dup").as("exact_dup"))
      val near = graft.operators.NearDupIndex.gateNearDups(s, ndPrefix,
          arrivals, "doc_id", "text", threshold = 0.5)
        .select(col("delta_id").as("doc_id")).distinct()
        .withColumn("__nd", lit(true))
      health.join(qual, Seq("doc_id")).join(exact, Seq("doc_id"))
        .join(near, Seq("doc_id"), "left")
        .withColumn("near_dup", coalesce(col("__nd"), lit(false)))
        .drop("__nd")
        .select(col("doc_id"), col("health_pass"), col("quality_keep"),
          col("exact_dup"), col("near_dup"),
          (col("health_pass") && col("quality_keep") && !col("exact_dup") &&
            !col("near_dup")).as("admit"))
        .orderBy(col("doc_id"))
    }),

    // ---- near-dup gate from the PERSISTED LSH index: row-for-row
    //      the inline cross-pairs answer (dedup_minhash_cross), but
    //      the historical corpus is never re-signatured — the probe
    //      reads postings + shingle sets for colliding buckets only.
    //      Signature params come from the index's own stats ----
    "dedup_neardup_idx" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val prefix = graft.operators.NearDupIndex.nearDupIndexCached(
        docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
        numHashes = 64, bands = 16, shingleWidth = 3)
      graft.operators.NearDupIndex.gateNearDups(s, prefix,
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
          threshold = 0.5)
        .orderBy(col("delta_id"), col("corpus_id"))
    }),

    // ---- O(delta) near-dup index maintenance: the corpus arrives in
    //      two folds (build + append); the gate over the grown index
    //      must be bit-identical to the inline cross-pairs against
    //      the whole corpus — the append is invisible ----
    "dedup_neardup_idx_append" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val c1 = corpus.filter(col("doc_id") % 4 =!= 1)
      val c2 = corpus.filter(col("doc_id") % 4 === 1)
      val prefix = graft.operators.NearDupIndex.nearDupAppendCached(
        c1, c2, "doc_id", "text",
        numHashes = 64, bands = 16, shingleWidth = 3)
      graft.operators.NearDupIndex.gateNearDups(s, prefix,
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
          threshold = 0.5)
        .orderBy(col("delta_id"), col("corpus_id"))
    }),

    // ---- INCREMENTAL exact dedup: gate a day's arrivals against the
    //      persisted fingerprint index of everything ever ingested —
    //      map-only digest probe, fps table read only for flagged
    //      texts. The delta mixes genuinely-new docs, re-submissions
    //      of indexed texts, and in-batch duplicates; dup_of names
    //      the surviving id in every case ----
    "dedup_index_gate" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val base = docs.filter(col("doc_id") % 3 =!= 0)
      val dupArrivals = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val delta = docs.filter(col("doc_id") % 3 === 0)
        .unionByName(dupArrivals)
      val prefix = graft.operators.DedupIndex.dedupIndexCached(
        base, "doc_id", "text")
      graft.operators.DedupIndex.gateNewDocs(s, prefix, delta,
          "doc_id", "text")
        .select(col("id"), col("is_dup"), col("dup_of"))
        .orderBy(col("id"))
    }),

    // ---- the gated append: after folding the delta's survivors in,
    //      the index's survivor set is exactly arrival-order
    //      keep-first dedup over base-then-delta (an indexed text's
    //      keep_id never moves; new texts keep their first delta id) ----
    "dedup_index_appended" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val base = docs.filter(col("doc_id") % 3 =!= 0)
      val dupArrivals = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val delta = docs.filter(col("doc_id") % 3 === 0)
        .unionByName(dupArrivals)
      val prefix = graft.operators.DedupIndex.dedupAppendCached(
        base, delta, "doc_id", "text")
      s.table(s"${prefix}_fps")
        .select(col("text_md5"), col("keep_id"))
        .orderBy(col("text_md5"))
    }),

    // ---- decontamination: flag eval-split documents sharing any word
    //      8-gram with the train split. Shingle STRINGS join directly
    //      (portable; at 100 TB the same plan runs over shingle
    //      hashes — semantics identical, bytes-on-wire smaller). The
    //      distinct (eval_shingle x train) match collapses before the
    //      per-doc count, so hot boilerplate 8-grams cannot explode
    //      the aggregation ----
    "dedup_contamination" -> ((s, d) => {
      val w = 8
      // native one-pass distinct shingle strings: the HOF formulation
      // (transform+array_join+slice per window) was the dominant
      // map-side cost; in-row dedup also shrinks the explode
      def grams(df: DataFrame) = df.select(col("doc_id"),
        explode(graft.functions.NativeFunctions.shingleStrings(
          Dedup.tokens(col("text")), w)).as("g"))
      val docs = t(s, d, "documents")
      val evalG = grams(docs.filter(col("doc_id") % 100 === 0))
      // train side never needs per-doc attribution — one global
      // distinct over bare grams, not a (doc, gram) dedup first
      val trainG = grams(docs.filter(col("doc_id") % 100 =!= 0))
        .select(col("g")).distinct()
      val hits = evalG.join(trainG, Seq("g"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared_8grams"))
      docs.filter(col("doc_id") % 100 === 0).select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shared_8grams"), lit(0L)).as("n_shared_8grams"),
          (coalesce(col("n_shared_8grams"), lit(0L)) > 0).as("contaminated"))
        .orderBy(col("doc_id"))
    }),

    // ---- portable Bloom decontamination card: the MAP-ONLY twin of
    //      dedup_contamination's exact semi-join. Reference = every
    //      20th doc; its shingle Bloom bits (2^21 bits, k=4) ride the
    //      plan as a 32 KB literal and the corpus probe is one native
    //      pass per row — zero shuffles touch the corpus. The flags
    //      are PROBABILISTIC (false positives by design) yet oracle-
    //      exact: DuckDB re-derives the reference bit SET and replays
    //      every shingle's four positions relationally, landing on
    //      the identical n_hits — false positives included ----
    "text_bloom_decontam" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val words = Bloom.buildBloomWords(docs.filter(col("doc_id") % 20 === 0),
        "text", mBits = 1 << 21, kHashes = 4, shingleW = 8)
      Bloom.contaminationCard(docs.filter(col("doc_id") % 20 =!= 0),
          "doc_id", "text", words, mBits = 1 << 21, kHashes = 4, shingleW = 8)
        .select(col("id").as("doc_id"), col("n_shingles"), col("n_hits"),
          col("contaminated"))
        .orderBy(col("doc_id"))
    }),

    // ---- Bloom-vs-truth tuning card: the bloom flags against the
    //      exact distinct-shingle semi-join. n_missed is structurally
    //      0 (no false negatives — a nonzero value is a portability
    //      bug); n_false_pos is the mBits/kHashes sizing readout ----
    "text_bloom_eval" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ref = docs.filter(col("doc_id") % 20 === 0)
      val corpus = docs.filter(col("doc_id") % 20 =!= 0)
      val words = Bloom.buildBloomWords(ref, "text", mBits = 1 << 21,
        kHashes = 4, shingleW = 8)
      Bloom.bloomEval(corpus, ref, "doc_id", "text", words,
        mBits = 1 << 21, kHashes = 4, shingleW = 8)
    }),

    // ---- served Bloom gate: the bit array loads from the
    //      reference-fingerprint-keyed parquet artifact (built+saved
    //      on first run, length/density-validated at every load) —
    //      the suite is versioned once, every run serves it. Same
    //      oracle as text_bloom_decontam: longs round-trip exactly ----
    "text_bloom_decontam_served" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val words = IndexStore.bloomWordsCached(
        docs.filter(col("doc_id") % 20 === 0), "text",
        mBits = 1 << 21, kHashes = 4, shingleW = 8, baseDir = artifactDir)
      Bloom.contaminationCard(docs.filter(col("doc_id") % 20 =!= 0),
          "doc_id", "text", words, mBits = 1 << 21, kHashes = 4, shingleW = 8)
        .select(col("id").as("doc_id"), col("n_shingles"), col("n_hits"),
          col("contaminated"))
        .orderBy(col("doc_id"))
    }),

    // ---- TWO-TIER exact decontamination — the deployment shape:
    //      map-only Bloom prefilter, exact shingle semi-join confirm
    //      over ONLY the flagged sliver. Deliberately run with the
    //      UNDERSIZED 2^15-bit filter so the prefilter false-
    //      positives — and the confirm must erase them: the oracle is
    //      the PLAIN exact truth with zero Bloom arithmetic, proving
    //      the filter is invisible in the answer at any sizing ----
    "text_decontam_two_tier" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ref = docs.filter(col("doc_id") % 20 === 0)
      val corpus = docs.filter(col("doc_id") % 20 =!= 0)
      val words = Bloom.buildBloomWords(ref, "text", mBits = 1 << 15,
        kHashes = 4, shingleW = 8)
      Bloom.decontaminateExact(corpus, ref, "doc_id", "text", words,
          mBits = 1 << 15, kHashes = 4, shingleW = 8)
        .select(col("id").as("doc_id"), col("n_shared"), col("contaminated"))
        .orderBy(col("doc_id"))
    }),

    // ---- streaming Bloom gate, batch mode (the stream ≡ batch twin
    //      is StreamingSpec's job): arriving docs probe the reference
    //      bit array map-only and flagged ids emit exactly once ----
    "text_bloom_gate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ref = docs.filter(col("doc_id") % 20 === 0)
      val delta = docs.filter(col("doc_id") % 20 =!= 0)
        .withColumn("ts", timestamp_millis(lit(1700000000000L) +
          col("doc_id") * 60000L))
      val words = Bloom.buildBloomWords(ref, "text", mBits = 1 << 21,
        kHashes = 4, shingleW = 8)
      graft.streaming.DocStreams.bloomGateStream(delta, words,
          mBits = 1 << 21, kHashes = 4, shingleW = 8)
        .select(col("id"), col("n_hits"))
        .orderBy(col("id"))
    }),

    // ---- the UNDERSIZED negative control: 2^15 bits saturates and
    //      false-positives on purpose, proving the oracle replays the
    //      probabilistic flags — FPs included — bit-for-bit (the
    //      right-sized row above has no FPs to disagree on). n_missed
    //      stays structurally 0 at any sizing ----
    "text_bloom_eval_small" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ref = docs.filter(col("doc_id") % 20 === 0)
      val corpus = docs.filter(col("doc_id") % 20 =!= 0)
      val words = Bloom.buildBloomWords(ref, "text", mBits = 1 << 15,
        kHashes = 4, shingleW = 8)
      Bloom.bloomEval(corpus, ref, "doc_id", "text", words,
        mBits = 1 << 15, kHashes = 4, shingleW = 8)
    }),

    // ---- per-key EWMA: a recursive metric no SQL window expresses —
    //      computed as a sequential HOF fold over the key's
    //      time-ordered values (alpha = 0.5 is exactly representable,
    //      and both engines fold the identical op sequence, so the
    //      result is bit-stable). State per key is its event list:
    //      fine for bounded per-key history; beyond that the
    //      streaming sessionizer shape (flatMapGroupsWithState) is
    //      the scale path ----
    "events_ewma" -> ((s, d) => {
      val ordered = t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"), col("value"))))
          .as("evs"))
      ordered.select(col("user_id"), size(col("evs")).cast(LongType).as("n_events"),
          aggregate(col("evs"), lit(Double.NaN),
            (acc, e) => when(isnan(acc), e.getField("value"))
              .otherwise(acc * lit(0.5) + e.getField("value") * lit(0.5)))
            .as("ewma_value"))
        .orderBy(col("user_id"))
    }),

    // ---- context chunking: overlapping token windows (64 tokens,
    //      stride 32) per document — the standard pretraining prep
    //      reshape. Pure per-row HOFs (sequence/slice/array_join) +
    //      posexplode: map-only until the presentation sort ----
    "text_chunks" -> ((s, d) => {
      val win = 64; val stride = 32
      val toks = split(trim(col("text")), "\\s+")
      t(s, d, "documents")
        .select(col("doc_id"), toks.as("t"))
        .select(col("doc_id"), size(col("t")).as("n"),
          posexplode(transform(
            sequence(lit(0), size(col("t")) - 1, lit(stride)),
            st => struct(st.as("chunk_start"),
              least(lit(win), size(col("t")) - st).as("n_chunk_tokens"),
              array_join(slice(col("t"), st + 1, lit(win)), " ").as("chunk_text"))))
            .as(Seq("chunk_idx", "c")))
        .select(col("doc_id"), col("chunk_idx"),
          col("c.chunk_start").as("chunk_start"),
          col("c.n_chunk_tokens").as("n_chunk_tokens"),
          col("c.chunk_text").as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ---- linear interpolation over a gap-filled daily series: missing
    //      days get prev + (next-prev) * elapsed/gap between their
    //      nearest known neighbors (cents-exact endpoints; one double
    //      op tree per row). The forward/backward scans are two
    //      window passes — no self-join ----
    "events_interpolate" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("event_type") === "purchase")
        .select(to_date(col("ts")).as("day"),
          floor(col("value") * lit(100.0) + lit(0.5)).cast(LongType).as("cents"))
      val daily = ev.groupBy(col("day")).agg(sum(col("cents")).as("v"))
      // thin the series to every-3rd day so there ARE gaps to fill
      val sparse = daily.filter(dayofmonth(col("day")) % 3 === 0)
      val grid = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
      val series = grid.join(sparse, Seq("day"), "left")
      val wAll = Frames.tinyWindow(col("day"), col("day")) // day-span-sized series
      val back = wAll.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = wAll.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      series
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
        .withColumn("pd", last(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(back))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
        .withColumn("nd", first(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(fwd))
        .withColumn("interp_cents",
          when(col("v").isNotNull, col("v").cast(DoubleType))
            .when(col("pv").isNotNull && col("nv").isNotNull,
              col("pv") + (col("nv") - col("pv")).cast(DoubleType) *
                datediff(col("day"), col("pd")) / datediff(col("nd"), col("pd")))
            .otherwise(coalesce(col("pv"), col("nv")).cast(DoubleType)))
        .select(col("day"), col("v").as("observed_cents"), col("interp_cents"))
        .orderBy(col("day"))
    }),

    // ---- character-distribution Gini impurity: a transcendental-free
    //      diversity score (1 - sum(c^2)/n^2 over per-char counts) —
    //      integer arithmetic until one final exact division, so the
    //      oracle hash-matches without quantization ----
    "text_char_gini" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg((lit(1.0) -
          sum(col("c") * col("c")).cast(DoubleType) /
            (sum(col("c")) * sum(col("c"))).cast(DoubleType)).as("char_gini"))
        .orderBy(col("doc_id"))),

    // ---- Gopher repetition rules (§A1.2): within-doc duplicate
    //      line/paragraph fractions, top-n-gram char fractions, dup
    //      5-gram fraction — exact integer signals, map-only. The
    //      FULL §A1.2 rule set with the composed pass flag;
    //      text_repetition above keeps the two cheap scalar signals ----
    "text_gopher_repetition" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.repetitionSignals(col("text")).as("r"))
        .select(col("doc_id"), col("r.n_lines"), col("r.dup_line_cnt"),
          col("r.dup_line_chars"), col("r.line_chars"), col("r.n_paras"),
          col("r.dup_para_cnt"), col("r.dup_para_chars"), col("r.para_chars"),
          col("r.top2_chars"), col("r.top3_chars"), col("r.top4_chars"),
          col("r.n_5grams"), col("r.dup5_occ"), col("r.n_chars"),
          col("r.pass"))
        .orderBy(col("doc_id"))),

    // ---- PII redaction: email/IPv4/phone masking + per-category
    //      counts. The corpus text is augmented with deterministic
    //      doc_id-derived PII so every row provably exercises all
    //      three automata (both engines build the identical string) ----
    "text_pii_redact" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast(StringType), lit("@example.com or 10.0."),
            pmod(col("doc_id"), lit(256L)).cast(StringType),
            lit(".7 tel 555-123-4567")).as("txt"))
        .select(col("doc_id"), TextAnalysis.piiRedact(col("txt")).as("p"))
        .select(col("doc_id"), col("p.redacted"), col("p.n_emails"),
          col("p.n_ipv4"), col("p.n_phones"))
        .orderBy(col("doc_id"))),

    // ---- hashed linear quality scorer (FineWeb/fasttext shape):
    //      token -> portable poly-hash bucket -> broadcast weight
    //      lookup -> integer sum + threshold. The oracle rebuilds the
    //      demo weight vector from its closed form and replays the
    //      whole inference path ----
    "text_quality_linear" -> ((s, d) =>
      TextAnalysis.hashedLinearScore(t(s, d, "documents"), "doc_id", "text",
          TextAnalysis.demoQualityWeights(256))
        .select(col("id").as("doc_id"), col("n_tokens"), col("score"),
          col("keep"))
        .orderBy(col("doc_id"))),

    // ---- trained-weights inference: the full train -> artifact ->
    //      score loop. Weights are LEARNED from the corpus (per-bucket
    //      signed occurrence balance against a lang='en' seed label —
    //      the fasttext-filter bootstrap), materialized as a
    //      (bucket, weight) model-artifact frame, loaded through the
    //      same loadWeights path a parquet artifact takes (parquet
    //      round-trip asserted in TextAnalysisSpec), and bound into
    //      the one-pass scorer. The oracle retrains the identical
    //      weights and replays the inference ----
    "text_quality_trained" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val artifact = TextAnalysis.trainBucketWeights(docs, "text",
        col("lang") === "en", 256)
      val ws = TextAnalysis.loadWeights(artifact, 256)
      TextAnalysis.hashedLinearScore(docs, "doc_id", "text", ws)
        .select(col("id").as("doc_id"), col("n_tokens"), col("score"),
          col("keep"))
        .orderBy(col("doc_id"))
    }),

    // ---- threshold-sweep PR curve for the TRAINED scorer: the
    //      calibration table between training and deploying a keep
    //      cutoff — per interior threshold, predicted/true-positive
    //      counts plus precision/recall/F1 as integer micro-
    //      fractions. Oracle retrains the weights, rescores, and
    //      replays the identical threshold grid and counts ----
    "text_quality_pr_sweep" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val artifact = TextAnalysis.trainBucketWeights(docs, "text",
        col("lang") === "en", 256)
      val ws = TextAnalysis.loadWeights(artifact, 256)
      val scored = TextAnalysis.hashedLinearScore(docs, "doc_id", "text", ws)
        .join(docs.select(col("doc_id").as("id"),
          (col("lang") === "en").as("label")), Seq("id"))
      TextAnalysis.scoreThresholdSweep(scored, "score", "label", nCuts = 9)
        .orderBy(col("threshold"))
    }),

    // ---- per-source corpus health card: docs/tokens/exact-dup
    //      membership/PII incidence/quality-keep/lang spread per
    //      source — one fused map pass + the md5 dup-count join +
    //      one source-sized aggregate ----
    "text_source_report" -> ((s, d) =>
      TextAnalysis.sourceHealthReport(t(s, d, "documents"), "doc_id", "text",
          "source", "lang", TextAnalysis.demoQualityWeights(256))
        .orderBy(col("source"))),

    // ---- the composed per-source AUDIT card: health counts (dups,
    //      PII, quality keeps, langs) joined with the JS drift score,
    //      integer micro rates and explicit pass gates — the one
    //      table a corpus owner reviews before accepting a source
    //      into the training mix. The oracle replays BOTH component
    //      chains and the gates ----
    "q_corpus_audit" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val health = TextAnalysis.sourceHealthReport(docs, "doc_id", "text",
        "source", "lang", TextAnalysis.demoQualityWeights(256))
      val drift = TextAnalysis.sourceTermDrift(docs, "source", "text",
          topK = 256)
        .select(col("source"), col("js_micro"))
      // LEFT join: a source whose documents all tokenize to zero tokens
      // has a health row but no drift row — exactly the pathological
      // source an accept gate must surface, so it stays visible with a
      // null js_micro that FAILS the gate (coalesce to false)
      health.join(drift, Seq("source"), "left")
        .withColumn("dup_rate_micro", expr("n_dup_docs * 1000000 div n_docs"))
        .withColumn("pii_rate_micro", expr("n_pii_docs * 1000000 div n_docs"))
        .withColumn("pass", col("dup_rate_micro") < 500000L &&
          col("pii_rate_micro") < 500000L &&
          coalesce(col("js_micro") < 300000L, lit(false)))
        .orderBy(col("source"))
    }),

    // ---- per-source distribution DRIFT: Jensen–Shannon divergence
    //      of each source's term distribution vs the whole corpus
    //      over the top-256 terms + a <rest> bucket — integer counts
    //      end-to-end, per-term micro-quantized contributions summed
    //      as longs (no cross-row float accumulation); the oracle
    //      replays histogram, top-K tie-break, zero-fill grid and
    //      the JS op tree exactly ----
    "text_source_drift" -> ((s, d) =>
      TextAnalysis.sourceTermDrift(t(s, d, "documents"), "source", "text",
          topK = 256)
        .orderBy(col("source"))),

    // ---- windowed drift monitor (batch mode of the streaming twin):
    //      per 60-second event-time window (doc_id as epoch seconds),
    //      JS divergence of the window's term distribution vs the
    //      corpus reference (top-64 + <rest>, plan literals from
    //      referenceTermStats). ONE stateful aggregation: the native
    //      array_sum_agg over per-doc count vectors ----
    // ---- streaming windowed HLL distinct-term monitor, batch mode
    //      (stream ≡ batch is StreamingSpec's job): per-doc register
    //      vectors map-only, ONE windowed array_max_agg, estimator
    //      finish as a projection. The oracle replays windows,
    //      registers, branch and floored estimate bit-for-bit ----
    "text_hll_windowed" -> ((s, d) =>
      graft.streaming.DocStreams.distinctTermsWindowed(
          t(s, d, "documents").withColumn("ts", timestamp_seconds(col("doc_id"))),
          m = 64, windowSeconds = 60L)
        .select(unix_timestamp(col("window_start")).as("win_start"),
          col("n_docs"), col("v_zero"), col("est_distinct"))
        .orderBy(col("win_start"))),

    "text_drift_windowed" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val (terms, counts, total) =
        TextAnalysis.referenceTermStats(docs, "text", topK = 64)
      graft.streaming.DocStreams.termDriftWindowed(
          docs.withColumn("ts", timestamp_seconds(col("doc_id"))),
          terms, counts, total, windowSeconds = 60L)
        .select(unix_timestamp(col("window_start")).as("win_start"),
          col("n_docs"), col("n_tokens"), col("js_micro"))
        .orderBy(col("win_start"))
    }),

    // ---- snapshot-vs-snapshot drift: one JS number between two
    //      corpora's term distributions (crawl N vs N+1) — the check
    //      a corpus-refresh job runs before swapping the training
    //      mix. Sides here are the even/odd doc_id halves; top-K of
    //      the combined distribution + <rest>, integer-exact ----
    "text_snapshot_drift" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.termDriftBetween(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text", topK = 256)
    }),

    // ---- leakage-safe train/val split: near-dup CLUSTERS assigned
    //      to splits via the portable hash of the cluster canonical,
    //      so no near-dup pair straddles the eval boundary; oracle
    //      replays pair graph, closure, and the hash range test ----
    "dedup_leakage_safe_split" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleWidth = 3, threshold = 0.5)
      Dedup.leakageSafeSplit(docs, "doc_id", pairs,
          Seq("train" -> 0.9, "val" -> 0.1))
        .orderBy(col("doc_id"))
    }),

    // ---- minimal-cover token chunking (64-token windows, stride
    //      48): unlike text_chunks above (a window at EVERY stride
    //      start, so tails shed sub-stride mini-chunks), this is the
    //      pre-embedding contract — no window starts past n-window,
    //      ragged last window, every token covered exactly once by
    //      the non-overlap, >= 1 chunk per non-empty doc ----
    "text_chunks_cover" -> ((s, d) =>
      TextAnalysis.chunkByTokens(t(s, d, "documents"), "doc_id", "text",
          window = 64, stride = 48)
        .select(col("id").as("doc_id"), col("chunk_id"), col("chunk_text"),
          col("n_tokens"))
        .orderBy(col("doc_id"), col("chunk_id")))
  )

  /** Shared DuckDB replay of [[TextAnalysis.trainBpeMerges]]'s
    * training loop: `rounds` chained CTE blocks, each = pair counts
    * over the current vocabulary, argmax (count desc, pair asc),
    * literal merge. Ends with v`rounds` (the merged vocabulary) and
    * m0..m`rounds-1` (the chosen merges) in scope.
    */
  /** The framed-merge replace: sep+a+sep+sep+b+sep -> sep+ab+sep
    * (whole-symbol match — see TextAnalysis's BPE framing note);
    * no-op via an unmatchable needle when round `r` was exhausted.
    */
  private def bpeMergeExpr(acc: String, r: Int): String =
    s"""replace($acc,
        COALESCE(chr(31) || replace((SELECT p FROM m$r), chr(31), chr(31) || chr(31)) || chr(31), chr(30)),
        COALESCE(chr(31) || replace((SELECT p FROM m$r), chr(31), '') || chr(31), ''))"""

  /** WordPiece training replay: [[bpeTrainCtes]]' round structure
    * with the likelihood-ratio argmax — each round adds a symbol-
    * count CTE and scores pairs as n_ab·10^12 // (n_a·n_b), ties on
    * pair ASC (the exact quantized objective
    * [[graft.operators.TextAnalysis.trainWordpieceMerges]] declares).
    * Starts WITH RECURSIVE so the tokens oracle can append its
    * cursor-walk CTE.
    */
  private def wordpieceTrainCtes(rounds: Int): String = {
    val init =
      """WITH RECURSIVE v0 AS MATERIALIZED (
           SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
             chr(31) || array_to_string(list_filter(string_split(w, ''), c -> c <> ''),
               chr(31) || chr(31)) || chr(31) AS syms
           FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents)
           WHERE w <> '' AND strpos(w, chr(31)) = 0 GROUP BY w)"""
    val roundCtes = (0 until rounds).map { r =>
      s""",
         s$r AS MATERIALIZED (SELECT cnt, list_filter(string_split(syms, chr(31)), x -> x <> '') AS ss FROM v$r),
         c$r AS MATERIALIZED (SELECT sym, CAST(SUM(cnt) AS BIGINT) AS ns FROM (
             SELECT cnt, unnest(ss) AS sym FROM s$r) GROUP BY sym),
         e$r AS (SELECT cnt, unnest(CASE WHEN len(ss) > 1
             THEN list_transform(range(1, len(ss)), i -> ss[i] || chr(31) || ss[i+1])
             ELSE []::VARCHAR[] END) AS p FROM s$r),
         p$r AS MATERIALIZED (SELECT p, CAST(SUM(cnt) AS BIGINT) AS n FROM e$r GROUP BY p),
         m$r AS MATERIALIZED (SELECT p, n, score_q FROM (
             SELECT pr.p, pr.n,
               CAST(pr.n AS HUGEINT) * 1000000000000
                 // (CAST(ca.ns AS HUGEINT) * CAST(cb.ns AS HUGEINT)) AS score_q
             FROM p$r pr
             JOIN c$r ca ON ca.sym = string_split(pr.p, chr(31))[1]
             JOIN c$r cb ON cb.sym = string_split(pr.p, chr(31))[2])
           ORDER BY score_q DESC, p LIMIT 1),
         v${r + 1} AS MATERIALIZED (SELECT cnt, ${bpeMergeExpr("syms", r)} AS syms FROM v$r)"""
    }.mkString
    init + roundCtes
  }

  /** The learned WordPiece merge list as rows. */
  private def wordpieceMergesOracleSql(rounds: Int): String = {
    val sel = (0 until rounds).map { r =>
      s"SELECT ${r + 1} AS rank, replace((SELECT p FROM m$r), chr(31), ' ') AS pair, (SELECT score_q FROM m$r) AS score_q"
    }.mkString("\n UNION ALL ")
    s"""${wordpieceTrainCtes(rounds)}
       SELECT CAST(rank AS BIGINT) AS rank, pair,
         CAST(score_q AS BIGINT) AS score_q
       FROM ($sel) WHERE pair IS NOT NULL ORDER BY rank"""
  }

  /** Per-doc WordPiece piece counts: the induced vocab (every corpus
    * char + each merge's fused piece), a precomputed match table, and
    * the greedy longest-match cursor walk as a recursive CTE (one
    * path per word — greedy has no ties). Each doc's text gets the
    * guaranteed-unknown ' 文' suffix word so the [UNK] rule is
    * exercised on every row.
    */
  private def wordpieceTokensOracleSql(rounds: Int): String = {
    val vocabSel = (0 until rounds).map { r =>
      s"SELECT replace(p, chr(31), '') AS p FROM m$r"
    }.mkString("\n UNION ")
    s"""${wordpieceTrainCtes(rounds)},
       wpv AS MATERIALIZED (
         SELECT DISTINCT c AS p FROM (
           SELECT unnest(list_filter(string_split(w, ''), c -> c <> '')) AS c
           FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
                 FROM documents)
           WHERE w <> '' AND strpos(w, chr(31)) = 0)
         UNION
         $vocabSel),
       tok AS (SELECT doc_id,
           unnest(string_split_regex(trim(text || ' 文'), '\\s+')) AS w
         FROM documents),
       words AS (SELECT DISTINCT w FROM tok),
       pos AS (SELECT w, unnest(range(1, len(w) + 1)) AS st FROM words),
       mm AS (
         SELECT pos.w, pos.st, len(v.p) AS l FROM pos JOIN wpv v
           ON len(v.p) <= len(pos.w) - pos.st + 1
           AND v.p = substr(pos.w, pos.st, len(v.p))),
       best AS MATERIALIZED (SELECT w, st, MAX(l) AS l FROM mm GROUP BY w, st),
       walk AS (
         SELECT w, CAST(1 AS BIGINT) AS st, CAST(0 AS BIGINT) AS np
         FROM words
         UNION ALL
         SELECT r.w, r.st + b.l, r.np + 1
         FROM walk r JOIN best b ON b.w = r.w AND b.st = r.st
         WHERE r.st <= len(r.w)),
       card AS (
         SELECT w.w,
           COALESCE(MAX(CASE WHEN k.st = len(w.w) + 1 THEN k.np END), 1)
             AS npieces,
           CASE WHEN MAX(CASE WHEN k.st = len(w.w) + 1 THEN k.np END)
             IS NULL THEN 1 ELSE 0 END AS unk
         FROM words w LEFT JOIN walk k ON k.w = w.w
         GROUP BY w.w),
       agg AS (
         SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(c.npieces) AS BIGINT) AS n_pieces,
           CAST(SUM(c.unk) AS BIGINT) AS n_unk
         FROM tok t JOIN card c ON c.w = t.w GROUP BY t.doc_id)
       SELECT doc_id, n_words, n_pieces, n_unk FROM agg ORDER BY doc_id"""
  }

  private def bpeTrainCtes(rounds: Int): String = {
    val init =
      """WITH v0 AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
             chr(31) || array_to_string(list_filter(string_split(w, ''), c -> c <> ''),
               chr(31) || chr(31)) || chr(31) AS syms
           FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents)
           WHERE w <> '' AND strpos(w, chr(31)) = 0 GROUP BY w)"""
    val roundCtes = (0 until rounds).map { r =>
      s""",
         s$r AS (SELECT cnt, list_filter(string_split(syms, chr(31)), x -> x <> '') AS ss FROM v$r),
         e$r AS (SELECT cnt, unnest(CASE WHEN len(ss) > 1
             THEN list_transform(range(1, len(ss)), i -> ss[i] || chr(31) || ss[i+1])
             ELSE []::VARCHAR[] END) AS p FROM s$r),
         p$r AS (SELECT p, CAST(SUM(cnt) AS BIGINT) AS n FROM e$r GROUP BY p),
         m$r AS (SELECT p, n FROM p$r ORDER BY n DESC, p LIMIT 1),
         v${r + 1} AS (SELECT cnt, ${bpeMergeExpr("syms", r)} AS syms FROM v$r)"""
    }.mkString
    init + roundCtes
  }

  /** The learned merge list as rows (exhausted rounds emit nothing —
    * matches trainBpeMerges' early stop).
    */
  private def bpeOracleSql(rounds: Int): String = {
    val sel = (0 until rounds).map { r =>
      s"SELECT ${r + 1} AS rank, replace((SELECT p FROM m$r), chr(31), ' ') AS pair, (SELECT n FROM m$r) AS n"
    }.mkString("\n UNION ALL ")
    s"""${bpeTrainCtes(rounds)}
       SELECT rank, pair, n FROM ($sel) WHERE pair IS NOT NULL ORDER BY rank"""
  }

  /** Per-document BPE token counts after applying the learned merges
    * (the encode side): each word's symbols fold through the same
    * `rounds` whole-symbol replaces the training chose.
    */
  private def bpeTokensOracleSql(rounds: Int): String = {
    val segExpr = (0 until rounds).foldLeft("syms")(bpeMergeExpr)
    s"""${bpeTrainCtes(rounds)},
       tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents),
       base AS (SELECT doc_id,
         chr(31) || COALESCE(array_to_string(list_filter(string_split(w, ''), c -> c <> ''),
           chr(31) || chr(31)), '') || chr(31) AS syms
         FROM tok),
       segd AS (SELECT doc_id, $segExpr AS seg FROM base)
       SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(len(list_filter(string_split(seg, chr(31)), x -> x <> ''))) AS BIGINT) AS n_bpe
       FROM segd GROUP BY doc_id ORDER BY doc_id"""
  }

  /** Per-source tokenizer fertility: the encode chain of
    * [[bpeTokensOracleSql]] aggregated by source, with whitespace-
    * stripped char counts and integer-micro ratios (NULL on zero
    * denominators — the contract both engines share).
    */
  private def bpeFertilityOracleSql(rounds: Int): String = {
    val segExpr = (0 until rounds).foldLeft("syms")(bpeMergeExpr)
    s"""${bpeTrainCtes(rounds)},
       tok AS (SELECT doc_id, source, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents),
       base AS (SELECT doc_id, source,
         chr(31) || COALESCE(array_to_string(list_filter(string_split(w, ''), c -> c <> ''),
           chr(31) || chr(31)), '') || chr(31) AS syms
         FROM tok),
       segd AS (SELECT doc_id, source, $segExpr AS seg FROM base),
       perdoc AS (SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(len(list_filter(string_split(seg, chr(31)), x -> x <> ''))) AS BIGINT) AS n_bpe
         FROM segd GROUP BY 1, 2),
       chars AS (SELECT doc_id,
         CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS BIGINT) AS n_chars
         FROM documents),
       agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_words) AS BIGINT) AS sum_words,
         CAST(SUM(n_bpe) AS BIGINT) AS sum_bpe,
         CAST(SUM(c.n_chars) AS BIGINT) AS sum_chars
         FROM perdoc p JOIN chars c USING (doc_id) GROUP BY source)
       SELECT source, n_docs, sum_words, sum_bpe, sum_chars,
         CASE WHEN sum_words = 0 THEN NULL ELSE sum_bpe * 1000000 // sum_words END AS fertility_micro,
         CASE WHEN sum_bpe = 0 THEN NULL ELSE sum_chars * 1000000 // sum_bpe END AS chars_per_bpe_micro
       FROM agg ORDER BY source"""
  }

  /** MMR greedy selection unrolled to `k` stages (the same unrolling
    * idiom as the BPE merge rounds): stage i scores every not-yet-
    * selected candidate as lambda·rel − (1−lambda)·max cosine to the
    * union of stages 1..i−1, then picks the (mmr desc, id asc)
    * argmax per query. Shortlist = brute-force top-`n` per panel
    * query; cosine is DuckDB's list_cosine_similarity, which
    * bit-matches the native expression.
    */
  private def mmrOracleSql(k: Int, n: Int): String = {
    val lam = "CAST(0.7 AS DOUBLE)"
    // CAST(... AS DOUBLE[]) everywhere: on FLOAT lists DuckDB
    // accumulates in float32 (~2e-8 off); on DOUBLE lists it
    // bit-matches the native expression's float->double loop
    val init = s"""WITH cand AS (
         SELECT a.vec_id AS query_id, b.vec_id AS id,
           list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS rel,
           CAST(b.embedding AS DOUBLE[]) AS vec
         FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
         WHERE a.vec_id % 50 = 0
         QUALIFY ROW_NUMBER() OVER (PARTITION BY a.vec_id
           ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) <= $n)"""
    val stages = (1 to k).map { i =>
      if (i == 1)
        s""",
         s1 AS (SELECT query_id, id, rel, vec,
             $lam * rel - (1.0 - $lam) * 0.0 AS mmr FROM cand),
         pick1 AS (SELECT query_id, id, rel, vec, mmr FROM s1
           QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY mmr DESC, id) = 1)"""
      else {
        val prev = (1 until i).map(j =>
          s"SELECT query_id, id, vec FROM pick$j").mkString(" UNION ALL ")
        s""",
         prev$i AS ($prev),
         s$i AS (SELECT c.query_id, c.id, c.rel, c.vec,
             $lam * c.rel - (1.0 - $lam) *
               (SELECT MAX(list_cosine_similarity(c.vec, p.vec)) FROM prev$i p
                WHERE p.query_id = c.query_id) AS mmr
           FROM cand c
           WHERE NOT EXISTS (SELECT 1 FROM prev$i p2
             WHERE p2.query_id = c.query_id AND p2.id = c.id)),
         pick$i AS (SELECT query_id, id, rel, vec, mmr FROM s$i
           QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY mmr DESC, id) = 1)"""
      }
    }.mkString
    val sel = (1 to k).map(i =>
      s"SELECT query_id, $i AS rank, id, rel, mmr FROM pick$i")
      .mkString("\n UNION ALL ")
    s"$init$stages\n SELECT query_id, rank, id, rel, mmr FROM ($sel) ORDER BY query_id, rank"
  }

  /** Shared CTE chain for the BM25 oracles: tf/dl/stats/dfreq from
    * the whitespace tokenizer, the every-50th-doc first-5-token
    * probe panel, per-term micro scores in the exact operation order
    * [[graft.operators.Retrieval.bm25TopK]] uses (idf ln is the only
    * transcendental; constants written as the same double-literal
    * folds), and the rank-cut top-10.
    */
  private def bm25OracleCtes: String =
    """WITH toks AS (
         SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS token
         FROM documents),
       tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
       dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_tokens FROM dl),
       dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
       qt AS (
         SELECT DISTINCT doc_id AS query_id,
           unnest(list_slice(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''), 1, 5)) AS token
         FROM documents WHERE doc_id % 50 = 0),
       cand AS (
         SELECT q.query_id, tf.doc_id, tf.tf, f.df FROM qt q
         JOIN dfreq f USING (token) JOIN tf ON tf.token = q.token),
       term AS (
         SELECT c.query_id, c.doc_id,
           CAST(floor(
             ln(1.0 + (CAST(s.n_docs AS DOUBLE) - c.df + 0.5) / (CAST(c.df AS DOUBLE) + 0.5)) *
             (CAST(c.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
             (CAST(c.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * ((1.0 - CAST(0.75 AS DOUBLE)) +
               CAST(0.75 AS DOUBLE) * CAST(l.dl AS DOUBLE) * s.n_docs / s.total_tokens)) *
             1000000.0) AS BIGINT) AS ts_micro
         FROM cand c JOIN dl l USING (doc_id) CROSS JOIN stats s),
       perdoc AS (
         SELECT query_id, doc_id, CAST(SUM(ts_micro) AS BIGINT) AS score_micro,
           CAST(COUNT(*) AS BIGINT) AS n_terms
         FROM term GROUP BY 1, 2),
       ranked AS (
         SELECT query_id, doc_id, score_micro, n_terms,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rank
         FROM perdoc),
       topk AS (
         SELECT query_id, rank, doc_id, score_micro, n_terms FROM ranked WHERE rank <= 10)"""

  /** [[bm25OracleCtes]] with the probe-panel modulus swapped — the
    * big-panel query probes every 5th doc instead of every 50th, and
    * the oracle differs ONLY in that selector (the meeting strategy
    * is invisible in the answer by construction).
    */
  private def bm25OracleCtesMod(probeMod: Int): String =
    bm25OracleCtes.replace("doc_id % 50 = 0", s"doc_id % $probeMod = 0")

  /** Champion-list replay CTEs to append after [[bm25OracleCtes]]: the
    * per-token impact pruning window (floor(tf·10^6/dl) desc, doc_id
    * asc, keep `c`) and a second scoring chain over the pruned
    * postings, all CTE names suffixed with `sfx` so two pruning
    * depths can coexist in one oracle (the recall curve). `topk`
    * stays the exact run; `topk$sfx` is the champion run at depth c.
    */
  private def bm25ChampionChain(c: Int, sfx: String): String =
    s""",
       champ$sfx AS (
         SELECT doc_id, token, tf FROM (
           SELECT tf.doc_id, tf.token, tf.tf,
             ROW_NUMBER() OVER (PARTITION BY tf.token
               ORDER BY (tf.tf * 1000000) // l.dl DESC, tf.doc_id) AS crk
           FROM tf JOIN dl l USING (doc_id))
         WHERE crk <= $c),
       cand$sfx AS (
         SELECT q.query_id, ch.doc_id, ch.tf, f.df FROM qt q
         JOIN dfreq f USING (token) JOIN champ$sfx ch ON ch.token = q.token),
       term$sfx AS (
         SELECT c.query_id, c.doc_id,
           CAST(floor(
             ln(1.0 + (CAST(s.n_docs AS DOUBLE) - c.df + 0.5) / (CAST(c.df AS DOUBLE) + 0.5)) *
             (CAST(c.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
             (CAST(c.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * ((1.0 - CAST(0.75 AS DOUBLE)) +
               CAST(0.75 AS DOUBLE) * CAST(l.dl AS DOUBLE) * s.n_docs / s.total_tokens)) *
             1000000.0) AS BIGINT) AS ts_micro
         FROM cand$sfx c JOIN dl l USING (doc_id) CROSS JOIN stats s),
       perdoc$sfx AS (
         SELECT query_id, doc_id, CAST(SUM(ts_micro) AS BIGINT) AS score_micro,
           CAST(COUNT(*) AS BIGINT) AS n_terms
         FROM term$sfx GROUP BY 1, 2),
       ranked$sfx AS (
         SELECT query_id, doc_id, score_micro, n_terms,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rank
         FROM perdoc$sfx),
       topk$sfx AS (
         SELECT query_id, rank, doc_id, score_micro, n_terms FROM ranked$sfx WHERE rank <= 10)"""

  /** One recall row (c, n_truth, n_matched, recall_micro) comparing
    * the exact `topk` run against the champion run `topk$sfx`.
    */
  private def bm25ChampionRecallRow(c: Int, sfx: String): String =
    s"""SELECT $c AS c,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM topk) AS n_truth,
         (SELECT CAST(COUNT(*) AS BIGINT)
          FROM topk t JOIN topk$sfx a
            ON t.query_id = a.query_id AND t.doc_id = a.doc_id) AS n_matched,
         ((SELECT CAST(COUNT(*) AS BIGINT)
           FROM topk t JOIN topk$sfx a
             ON t.query_id = a.query_id AND t.doc_id = a.doc_id) * 1000000)
           // (SELECT CAST(COUNT(*) AS BIGINT) FROM topk) AS recall_micro"""

  /** Apply literal substitutions to an oracle SQL string, failing
    * loudly if a target no longer matches — a silent no-op patch
    * would ship an oracle that tests the WRONG semantics.
    */
  /** Shared CTE prefix for the pixel-hash oracles: re-derives the
    * bmp_near fixture's 9×8 integer luma grid and both 64-bit hashes
    * (dHash gradient bits, aHash above-mean bits) from the pixel
    * formula alone — every step integer ((299r+587g+114b)//1000
    * luma, area-mapped cell means, bit 63 folded in as the signed
    * two's-complement minimum so the word lands in BIGINT exactly
    * like the JVM's 1L<<63.
    */
  /** Quantized DCT basis (8×32) as a DuckDB list-of-lists literal —
    * JVM-computed once, shared verbatim by both engines (the
    * benfordExpectedMicro discipline).
    */
  private lazy val dctBasisSql: String =
    graft.operators.ImageHash.dctBasisQ
      .map(_.mkString("[", ", ", "]"))
      .mkString("[", ",\n           ", "]")

  private def imageDhashOracle(select: String): String =
    s"""WITH p AS (
         SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS v
         FROM documents),
       d AS (
         SELECT doc_id, base, v,
           4 + base % 13 AS w, 3 + base % 11 AS h
         FROM p),
       lum AS (
         SELECT doc_id, w, h,
           list_transform(range(0, w * h), i ->
             (299 * (((base * 31 + (3*i + 0) * 7) % 256 +
                 CASE WHEN 3*i + 0 < 3 THEN v ELSE 0 END) % 256)
            + 587 * (((base * 31 + (3*i + 1) * 7) % 256 +
                 CASE WHEN 3*i + 1 < 3 THEN v ELSE 0 END) % 256)
            + 114 * (((base * 31 + (3*i + 2) * 7) % 256 +
                 CASE WHEN 3*i + 2 < 3 THEN v ELSE 0 END) % 256)) // 1000)
           AS lm
         FROM d),
       grid AS (
         SELECT doc_id, w, h,
           list_transform(range(0, 72), gi ->
             CAST(list_sum(list_transform(
               range((gi // 9) * h // 8,
                 greatest((gi // 9) * h // 8 + 1, ((gi // 9) + 1) * h // 8)),
               y -> list_sum(list_transform(
                 range((gi % 9) * w // 9,
                   greatest((gi % 9) * w // 9 + 1, ((gi % 9) + 1) * w // 9)),
                 x -> lm[y * w + x + 1]))))
             // ((greatest((gi // 9) * h // 8 + 1, ((gi // 9) + 1) * h // 8)
                 - (gi // 9) * h // 8)
               * (greatest((gi % 9) * w // 9 + 1, ((gi % 9) + 1) * w // 9)
                 - (gi % 9) * w // 9)) AS BIGINT))
           AS g
         FROM lum),
       hashes89 AS (
         SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 63), b ->
             CASE WHEN g[(b // 8) * 9 + (b % 8) + 2] >
                       g[(b // 8) * 9 + (b % 8) + 1]
               THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)
           + CASE WHEN g[7 * 9 + 7 + 2] > g[7 * 9 + 7 + 1]
               THEN -9223372036854775807 - 1 ELSE 0 END AS dhash,
           CAST(list_sum(list_transform(range(0, 63), b ->
             CASE WHEN g[(b // 8) * 9 + (b % 8) + 1] > list_sum(g) // 72
               THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)
           + CASE WHEN g[7 * 9 + 7 + 1] > list_sum(g) // 72
               THEN -9223372036854775807 - 1 ELSE 0 END AS ahash
         FROM grid),
       bs AS (SELECT $dctBasisSql AS t),
       grid32 AS (
         SELECT doc_id, w, h,
           list_transform(range(0, 1024), gi ->
             CAST(list_sum(list_transform(
               range((gi // 32) * h // 32,
                 greatest((gi // 32) * h // 32 + 1, ((gi // 32) + 1) * h // 32)),
               y -> list_sum(list_transform(
                 range((gi % 32) * w // 32,
                   greatest((gi % 32) * w // 32 + 1, ((gi % 32) + 1) * w // 32)),
                 x -> lm[y * w + x + 1]))))
             // ((greatest((gi // 32) * h // 32 + 1, ((gi // 32) + 1) * h // 32)
                 - (gi // 32) * h // 32)
               * (greatest((gi % 32) * w // 32 + 1, ((gi % 32) + 1) * w // 32)
                 - (gi % 32) * w // 32)) AS BIGINT))
           AS g32
         FROM lum),
       sgrid AS (
         SELECT doc_id, g32,
           list_transform(range(0, 8), u ->
             list_transform(range(0, 32), y ->
               list_sum(list_transform(range(0, 32), x ->
                 t[u + 1][x + 1] * g32[y * 32 + x + 1]))))
           AS sv
         FROM grid32, bs),
       dct AS (
         SELECT doc_id,
           list_transform(range(0, 64), b ->
             list_sum(list_transform(range(0, 32), y ->
               t[(b // 8) + 1][y + 1] * sv[(b % 8) + 1][y + 1])))
           AS dv
         FROM sgrid, bs),
       hashes32 AS (
         SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 63), b ->
             CASE WHEN dv[b + 1] > list_sort(dv)[32]
               THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)
           + CASE WHEN dv[64] > list_sort(dv)[32]
               THEN -9223372036854775807 - 1 ELSE 0 END AS phash
         FROM dct)
       $select"""

  /** Audio spectral-fingerprint replay: fixture sample formula → 256
    * area-mapped bucket means (integer division truncates toward zero
    * in BOTH engines) → per-window DCT through the SAME inlined
    * quantized basis the pHash oracle uses → lower-median sign fold,
    * bit 63 as the signed minimum. `sampleExpr` is the fixture's
    * sample formula over `i` (and the near-panel's base/v columns);
    * `nExpr` its length formula.
    */
  private def audioHashOracle(select: String, nExpr: String,
                              sampleExpr: String): String =
    s"""WITH p AS (
         SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS v
         FROM documents),
       smp AS (
         SELECT doc_id, n,
           list_transform(range(0, n), i -> $sampleExpr) AS s
         FROM (SELECT doc_id, base, v, $nExpr AS n FROM p)),
       buck AS (
         SELECT doc_id,
           list_transform(range(0, 256), tt ->
             CAST(list_sum(list_transform(
               range(tt * n // 256,
                 greatest(tt * n // 256 + 1, (tt + 1) * n // 256)),
               i -> s[i + 1]))
             // (greatest(tt * n // 256 + 1, (tt + 1) * n // 256)
                 - tt * n // 256) AS BIGINT))
           AS pb
         FROM smp),
       bs AS (SELECT $dctBasisSql AS t),
       dct AS (
         SELECT doc_id,
           list_transform(range(0, 64), b ->
             list_sum(list_transform(range(0, 32), j ->
               t[(b % 8) + 1][j + 1] * pb[(b // 8) * 32 + j + 1])))
           AS dv
         FROM buck, bs),
       ah AS (
         SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 63), b ->
             CASE WHEN dv[b + 1] > list_sort(dv)[32]
               THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)
           + CASE WHEN dv[64] > list_sort(dv)[32]
               THEN -9223372036854775807 - 1 ELSE 0 END AS audiohash
         FROM dct),
       ebuck AS (
         SELECT doc_id,
           list_transform(range(0, 65), tt ->
             CAST(list_sum(list_transform(
               range(tt * n // 65,
                 greatest(tt * n // 65 + 1, (tt + 1) * n // 65)),
               i -> abs(CAST(s[i + 1] AS BIGINT))))
             // (greatest(tt * n // 65 + 1, (tt + 1) * n // 65)
                 - tt * n // 65) AS BIGINT))
           AS qb
         FROM smp),
       eh AS (
         SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 63), b ->
             CASE WHEN qb[b + 2] > qb[b + 1]
               THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)
           + CASE WHEN qb[65] > qb[64]
               THEN -9223372036854775807 - 1 ELSE 0 END AS envhash
         FROM ebuck),
       ahx AS (
         SELECT a.doc_id, a.audiohash, e.envhash
         FROM ah a JOIN eh e ON a.doc_id = e.doc_id)
       $select"""

  /** DuckDB replay of [[graft.operators.VideoHash]]: per doc the
    * full luma list (frame-major, then row-major), 8 temporal
    * windows × 32 spatial cells of integer means, the shared 8×32
    * quantized DCT basis per window, the lower-median sign fold
    * (vidhash), and the 65-bucket brightness-envelope gradient fold
    * (envhash) — every product and truncation exact BIGINT, so the
    * oracle predicts both words bit-for-bit from the fixture
    * formulas. Geometry and luma expressions are parameters (the
    * plain `y4m` panel keys on doc_id; `y4m_near` on base/v).
    */
  private def videoHashOracle(select: String, wExpr: String, hExpr: String,
                              fExpr: String, lumExpr: String): String = {
    // area-map bucket bounds, replayed verbatim at each use site:
    // [i·n/g, greatest(i·n/g + 1, (i+1)·n/g)) — the nonempty-cell rule
    def lo(i: String, n: String, g: Int) = s"(($i) * ($n) // $g)"
    def hi(i: String, n: String, g: Int) =
      s"greatest(${lo(i, n, g)} + 1, ((($i) + 1) * ($n) // $g))"
    val (f0, f1) = (lo("tt // 32", "fn", 8), hi("tt // 32", "fn", 8))
    val (y0, y1) = (lo("(tt % 32) // 8", "h", 4), hi("(tt % 32) // 8", "h", 4))
    val (x0, x1) = (lo("tt % 8", "w", 8), hi("tt % 8", "w", 8))
    val (e0, e1) = (lo("tt", "fn", 65), hi("tt", "fn", 65))
    s"""WITH p AS (
         SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS v
         FROM documents),
       smp AS (
         SELECT doc_id, w, h, fn,
           list_transform(range(0, fn * h * w), i -> $lumExpr) AS s
         FROM (SELECT doc_id, base, v, $wExpr AS w, $hExpr AS h,
                 $fExpr AS fn FROM p)),
       buck AS (
         SELECT doc_id,
           list_transform(range(0, 256), tt ->
             CAST(list_sum(list_transform(range($f0, $f1), f ->
               list_sum(list_transform(range($y0, $y1), y ->
                 list_sum(list_transform(range($x0, $x1), x ->
                   s[f * h * w + y * w + x + 1]))))))
             // (($f1 - $f0) * ($y1 - $y0) * ($x1 - $x0)) AS BIGINT))
           AS pb
         FROM smp),
       bs AS (SELECT $dctBasisSql AS t),
       dct AS (
         SELECT doc_id,
           list_transform(range(0, 64), b ->
             list_sum(list_transform(range(0, 32), j ->
               t[(b % 8) + 1][j + 1] * pb[(b // 8) * 32 + j + 1])))
           AS dv
         FROM buck, bs),
       vh AS (
         SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 63), b ->
             CASE WHEN dv[b + 1] > list_sort(dv)[32]
               THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)
           + CASE WHEN dv[64] > list_sort(dv)[32]
               THEN -9223372036854775807 - 1 ELSE 0 END AS vidhash
         FROM dct),
       ebuck AS (
         SELECT doc_id,
           list_transform(range(0, 65), tt ->
             CAST(list_sum(list_transform(range($e0, $e1), f ->
               list_sum(list_slice(s, f * h * w + 1, (f + 1) * h * w))))
             // (($e1 - $e0) * h * w) AS BIGINT))
           AS qb
         FROM smp),
       eh AS (
         SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 63), b ->
             CASE WHEN qb[b + 2] > qb[b + 1]
               THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)
           + CASE WHEN qb[65] > qb[64]
               THEN -9223372036854775807 - 1 ELSE 0 END AS envhash
         FROM ebuck),
       vhx AS (
         SELECT a.doc_id, a.vidhash, e.envhash
         FROM vh a JOIN eh e ON a.doc_id = e.doc_id)
       $select"""
  }

  /** DuckDB replay of the trained char-3-gram language classifier:
    * the synthetic multilingual panel (langs/wordlists inlined from
    * the ONE Scala definition — the dctBasisSql discipline), the
    * train-split profile counts and integer micro-weights, and the
    * per-doc argmax over the four profile dot-products — all exact
    * BIGINT, no float anywhere.
    */
  private lazy val langIdTrainedOracle: String = {
    val wl = "[" + TextAnalysis.LangPanelWords.map(_._2.mkString("['", "', '", "']"))
      .mkString(", ") + "]"
    val ls = TextAnalysis.LangPanelWords.map(_._1).mkString("['", "', '", "']")
    s"""WITH wl AS (SELECT $wl AS w, $ls AS langs),
       panel AS (
         SELECT doc_id, CAST(doc_id % 4 AS INT) + 1 AS li,
           30 + doc_id % 20 AS nw
         FROM documents),
       txt AS (
         SELECT doc_id, langs[li] AS lang,
           lower(array_to_string(list_transform(range(0, nw),
             j -> w[li][CAST((doc_id * 7 + j * 13) % 24 AS INT) + 1]), ' '))
           AS t
         FROM panel, wl),
       grams AS (
         SELECT doc_id,
           list_transform(range(1, greatest(len(t) - 1, 1)),
             i -> substring(t, CAST(i AS INT), 3)) AS gs
         FROM txt),
       occ AS (
         SELECT doc_id,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(list_filter(string_split(u.g, ''), c -> c <> ''),
               c -> CAST(unicode(c) AS BIGINT))),
             (a, b) -> (a * 1000003 + b) % 1000000007) % 1024 AS BIGINT)
           AS bucket
         FROM grams, LATERAL (SELECT unnest(gs) AS g) u),
       cnt AS (
         SELECT t.lang, o.bucket, CAST(count(*) AS BIGINT) AS c
         FROM occ o JOIN txt t USING (doc_id)
         WHERE o.doc_id % 5 <> 0 GROUP BY 1, 2),
       tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tc FROM cnt GROUP BY 1),
       prof AS (
         SELECT c.lang AS cl, c.bucket, c.c * 1000000 // t.tc AS wm
         FROM cnt c JOIN tot t USING (lang)),
       sc AS (
         SELECT o.doc_id, p.cl, CAST(sum(p.wm) AS BIGINT) AS s
         FROM occ o JOIN prof p USING (bucket) GROUP BY 1, 2),
       allsc AS (
         SELECT t.doc_id, t.lang, l.cl, COALESCE(sc.s, 0) AS s
         FROM txt t CROSS JOIN (SELECT unnest(langs) AS cl FROM wl) l
         LEFT JOIN sc ON sc.doc_id = t.doc_id AND sc.cl = l.cl),
       best AS (
         SELECT doc_id, lang, CAST(max(s) AS BIGINT) AS score
         FROM allsc GROUP BY 1, 2),
       pred AS (
         SELECT a.doc_id, min(a.cl) AS lp
         FROM allsc a JOIN best b USING (doc_id)
         WHERE a.s = b.score GROUP BY 1)
       SELECT b.doc_id, b.lang,
         CASE WHEN b.score > 0 THEN p.lp ELSE 'und' END AS lang_pred,
         b.score
       FROM best b JOIN pred p USING (doc_id) ORDER BY b.doc_id"""
  }

  /** The language-derivation CTE chain injected into the v4 flagship
    * oracle: the trained-classifier replay (panel, profiles) from
    * [[langIdTrainedOracle]], then the same scoring fold applied to
    * the AUGMENTED corpus's text — yielding one (doc_id, lang_pred)
    * row per aug doc for the re-seeded quality stage.
    */
  private lazy val langIdPredCtes: String = {
    val wl = "[" + TextAnalysis.LangPanelWords.map(_._2.mkString("['", "', '", "']"))
      .mkString(", ") + "]"
    val ls = TextAnalysis.LangPanelWords.map(_._1).mkString("['", "', '", "']")
    s"""lwl AS (SELECT $wl AS w, $ls AS langs),
         lpan AS (
           SELECT doc_id, CAST(doc_id % 4 AS INT) + 1 AS li,
             30 + doc_id % 20 AS nw
           FROM documents),
         ltxt AS (
           SELECT doc_id, langs[li] AS lang,
             lower(array_to_string(list_transform(range(0, nw),
               j -> w[li][CAST((doc_id * 7 + j * 13) % 24 AS INT) + 1]), ' '))
             AS t
           FROM lpan, lwl),
         lgr AS (
           SELECT doc_id,
             list_transform(range(1, greatest(len(t) - 1, 1)),
               i -> substring(t, CAST(i AS INT), 3)) AS gs
           FROM ltxt),
         locc AS (
           SELECT doc_id,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(u.g, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007) % 1024 AS BIGINT)
             AS bucket
           FROM lgr, LATERAL (SELECT unnest(gs) AS g) u),
         lcnt AS (
           SELECT t.lang, o.bucket, CAST(count(*) AS BIGINT) AS c
           FROM locc o JOIN ltxt t USING (doc_id)
           WHERE o.doc_id % 5 <> 0 GROUP BY 1, 2),
         ltot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tc FROM lcnt GROUP BY 1),
         lprof AS (
           SELECT c.lang AS cl, c.bucket, c.c * 1000000 // t.tc AS wm
           FROM lcnt c JOIN ltot t USING (lang)),
         lagt AS (SELECT doc_id, lower(text) AS t FROM aug),
         lagr AS (
           SELECT doc_id,
             list_transform(range(1, greatest(len(t) - 1, 1)),
               i -> substring(t, CAST(i AS INT), 3)) AS gs
           FROM lagt),
         laocc AS (
           SELECT doc_id,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(u.g, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007) % 1024 AS BIGINT)
             AS bucket
           FROM lagr, LATERAL (SELECT unnest(gs) AS g) u),
         lsc AS (
           SELECT o.doc_id, p.cl, CAST(sum(p.wm) AS BIGINT) AS s
           FROM laocc o JOIN lprof p USING (bucket) GROUP BY 1, 2),
         lall AS (
           SELECT a.doc_id, l.cl, COALESCE(lsc.s, 0) AS s
           FROM aug a CROSS JOIN (SELECT unnest(langs) AS cl FROM lwl) l
           LEFT JOIN lsc ON lsc.doc_id = a.doc_id AND lsc.cl = l.cl),
         lbest AS (SELECT doc_id, CAST(max(s) AS BIGINT) AS bs
                   FROM lall GROUP BY 1),
         lminc AS (
           SELECT a.doc_id, min(a.cl) AS lp
           FROM lall a JOIN lbest b USING (doc_id)
           WHERE a.s = b.bs GROUP BY 1),
         lpred AS (
           SELECT b.doc_id,
             CASE WHEN b.bs > 0 THEN m.lp ELSE 'und' END AS lang_pred
           FROM lbest b JOIN lminc m USING (doc_id)),"""
  }

  private def patched(sql: String, subs: (String, String)*): String =
    subs.foldLeft(sql) { case (acc, (from, to)) =>
      require(acc.contains(from), s"oracle patch target missing: $from")
      acc.replace(from, to)
    }

  private val oracleSqlBase: Map[String, String] = Map(
    "sim_mmr_rerank" -> mmrOracleSql(5, 20),
    "sim_coreset_kcenter" ->
      """WITH RECURSIVE sel AS (
           SELECT 1 AS rank,
             (SELECT MIN(vec_id) FROM embeddings) AS id,
             CAST(NULL AS BIGINT) AS maxsim_micro,
             [(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
               WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings))] AS cents,
             [(SELECT MIN(vec_id) FROM embeddings)] AS ids
           UNION ALL
           SELECT sel.rank + 1, nxt.id, nxt.m,
             list_append(sel.cents, nxt.emb), list_append(sel.ids, nxt.id)
           FROM sel CROSS JOIN LATERAL (
             SELECT e.vec_id AS id, CAST(e.embedding AS DOUBLE[]) AS emb,
               CAST(floor(list_max(list_transform(sel.cents,
                 c -> list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c)))
                 * 1000000.0) AS BIGINT) AS m
             FROM embeddings e
             WHERE NOT list_contains(sel.ids, e.vec_id)
             ORDER BY m ASC, e.vec_id ASC
             LIMIT 1) nxt
           WHERE sel.rank < 8
         )
         SELECT CAST(rank AS INTEGER) AS rank, id, maxsim_micro
         FROM sel ORDER BY rank""",
    // Full portable k-means replay (identical CTE chain to sim_topk_ivf),
    // then each vector's nearest-cell assignment and the DOUBLE-precision
    // micro-floored cosine to that centroid — the 20 least-prototypical
    // rows. The DOUBLE[] cast on BOTH sides of the scoring cosine is what
    // bit-matches graft's native CosineSimilarity (proved by the
    // sim_coreset_kcenter oracle); the FLOAT-precision cosine in a2 is
    // only an ORDER key and matches NearestCells' scoring.
    "sim_centroid_outliers" ->
      """WITH n AS (SELECT count(*) AS cnt FROM embeddings),
         hx AS (
           SELECT vec_id, embedding,
             ((((vec_id + 42) % 1000000007) * ((vec_id + 42) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v
           FROM embeddings),
         init AS (
           SELECT vec_id, embedding,
             ROW_NUMBER() OVER (ORDER BY (v * v) % 1000000007, vec_id) - 1 AS cell
           FROM hx
           QUALIFY cell < (SELECT greatest(16, CAST(ceil(sqrt(cnt)) AS BIGINT)) FROM n)),
         a0 AS (
           SELECT e.vec_id, i.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, i.embedding) DESC, i.cell) AS rk
           FROM embeddings e CROSS JOIN init i),
         a1 AS (SELECT vec_id, cell FROM a0 WHERE rk = 1),
         q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
           FROM embeddings),
         mp AS (
           SELECT a1.cell, p.pos,
             CAST(floor(CAST(sum(p.qx) AS DOUBLE) / count(*)) AS BIGINT) AS mq
           FROM a1 JOIN q USING (vec_id),
             LATERAL (SELECT unnest(qv) AS qx, generate_subscripts(qv, 1) AS pos) p
           GROUP BY a1.cell, p.pos),
         upd AS (
           SELECT cell, list_transform(array_agg(mq ORDER BY pos),
             m -> CAST(m / 1048576.0 AS FLOAT)) AS cv
           FROM mp GROUP BY cell),
         cents AS (
           SELECT i.cell, COALESCE(u.cv, i.embedding) AS cv
           FROM init i LEFT JOIN upd u USING (cell)),
         a2 AS (
           SELECT e.vec_id, e.embedding, c.cell, c.cv,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cell) AS rk
           FROM embeddings e CROSS JOIN cents c),
         scored AS (
           SELECT vec_id AS id, cell,
             CAST(floor(list_cosine_similarity(
               CAST(embedding AS DOUBLE[]), CAST(cv AS DOUBLE[])) * 1000000.0)
               AS BIGINT) AS proto_micro
           FROM a2 WHERE rk = 1)
         SELECT id, cell, proto_micro FROM scored
         ORDER BY proto_micro ASC, id ASC LIMIT 20""",
    // Label centroids replayed via the portable quantized mean (the
    // q_embed_centroids recipe regrouped into DOUBLE[] per label),
    // DOUBLE-precision cosines, margin as a difference of floored
    // micro longs — no float boundary of its own.
    "sim_label_margin" ->
      """WITH ex AS (
           SELECT label, u.pos AS pos, CAST(u.x AS DOUBLE) AS x
           FROM embeddings,
             unnest(list_transform(range(0, len(embedding)),
               i -> {'pos': i, 'x': embedding[i + 1]})) AS r(u)),
         cm AS (
           SELECT label, pos,
             CAST(SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) /
               CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS c
           FROM ex GROUP BY label, pos),
         cv AS (
           SELECT label, array_agg(c ORDER BY pos) AS cent
           FROM cm GROUP BY label),
         sims AS (
           SELECT e.vec_id AS id, e.label AS own_label, c.label AS clabel,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cent) AS cos
           FROM embeddings e CROSS JOIN cv c),
         agg AS (
           SELECT id, own_label AS label,
             CAST(floor(MAX(CASE WHEN clabel = own_label THEN cos END)
               * 1000000.0) AS BIGINT) AS own_micro,
             CAST(floor(MAX(CASE WHEN clabel <> own_label THEN cos END)
               * 1000000.0) AS BIGINT) AS other_micro
           FROM sims GROUP BY id, own_label)
         SELECT id, label, own_micro, other_micro,
           own_micro - other_micro AS margin_micro
         FROM agg ORDER BY margin_micro ASC, id ASC LIMIT 20""",
    // Composition of four individually-proven replays: the exact-dup
    // window+join (dedup_index_gate), the MinHash cross replay
    // (dedup_minhash_cross, arrivals-vs-base), the exact shared-8gram
    // semi-join (text_decontam_two_tier), and the quality formula
    // (q_curation_pipeline).
    "q_ingest_gate" ->
      """WITH arr AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0),
         base AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
         bk0 AS (SELECT text, MIN(doc_id) AS keep_id FROM base GROUP BY text),
         dd0 AS (
           SELECT doc_id, text,
             ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           FROM arr),
         ex AS (
           SELECT dd0.doc_id,
             (bk0.keep_id IS NOT NULL OR dd0.rn > 1) AS exact_dup
           FROM dd0 LEFT JOIN bk0 USING (text)),
         u AS (
           SELECT doc_id, text, TRUE AS is_delta FROM arr
           UNION ALL SELECT doc_id, text, FALSE FROM base),
         t3 AS (
           SELECT doc_id, is_delta,
             string_split_regex(trim(text), '\s+') AS toks
           FROM u),
         hs AS (
           SELECT doc_id, is_delta, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(range(0, len(toks) - 2),
                 i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
             END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(s, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007))) AS sh
           FROM t3),
         sg AS (
           SELECT doc_id, is_delta, sh,
             list_transform(range(0, 64), j ->
               list_min(list_transform(sh, x ->
                 (((j + 1) * 1000003 + 12345) % 2147483647 * x
                   + ((j + 1) * 999983 + 54321) % 2147483647) % 2147483647))) AS sig
           FROM hs),
         bkb AS (
           SELECT doc_id, is_delta, b.band AS band,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_slice(sig, b.band * 4 + 1, b.band * 4 + 4)),
               (a, x) -> (a * 1000003 + x) % 1000000007) AS bucket
           FROM sg, (SELECT unnest(range(0, 16)) AS band) b),
         cand AS (
           SELECT DISTINCT x.doc_id AS delta_id, y.doc_id AS corpus_id
           FROM bkb x JOIN bkb y
             ON x.band = y.band AND x.bucket = y.bucket
             AND x.is_delta AND NOT y.is_delta),
         nv AS (
           SELECT DISTINCT c.delta_id
           FROM cand c JOIN hs a ON a.doc_id = c.delta_id
             JOIN hs b ON b.doc_id = c.corpus_id AND NOT b.is_delta
           WHERE a.is_delta AND
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               >= 0.5),
         t8 AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM arr),
         h8 AS (
           SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(range(0, len(toks) - 7),
                 i -> array_to_string(list_slice(toks, i + 1, i + 8), ' '))
             END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(s, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007))) AS sh
           FROM t8),
         tr AS (
           SELECT string_split_regex(trim(text), '\s+') AS toks
           FROM documents WHERE doc_id % 20 = 0),
         r8 AS (
           SELECT DISTINCT unnest(list_distinct(list_transform(
             CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(range(0, len(toks) - 7),
                 i -> array_to_string(list_slice(toks, i + 1, i + 8), ' '))
             END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(s, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007)))) AS h
           FROM tr),
         ct AS (
           SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
           FROM (SELECT doc_id, unnest(sh) AS h FROM h8) c
           JOIN r8 USING (h) GROUP BY c.doc_id),
         q AS (
           SELECT doc_id,
             least(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 50.0, 1.0) AS len_score,
             least((CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                 t -> t IN ('the','a','an','of','to','and','in','is','it','for','on','with'))) AS DOUBLE) /
               CAST(NULLIF(len(string_split_regex(trim(text), '\s+')), 0) AS DOUBLE)) * 5.0, 1.0) AS stop_score,
             least(coalesce(CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE) /
               CAST(NULLIF(length(text), 0) AS DOUBLE), 0.0) * 2.0, 1.0) AS punct_penalty
           FROM arr),
         sc AS (
           SELECT doc_id,
             CAST(floor(((len_score * 0.5 + stop_score * 0.4) * (1.0 - punct_penalty * 0.5) + 0.1)
               * 10000.0 + 0.5) AS BIGINT) AS q4
           FROM q)
         SELECT ex.doc_id, ex.exact_dup,
           (nv.delta_id IS NOT NULL) AS near_dup,
           COALESCE(ct.n_shared, 0) > 0 AS contaminated,
           sc.q4 < 5000 AS low_quality,
           (NOT ex.exact_dup AND nv.delta_id IS NULL
             AND COALESCE(ct.n_shared, 0) = 0 AND sc.q4 >= 5000) AS admit
         FROM ex
         LEFT JOIN nv ON nv.delta_id = ex.doc_id
         LEFT JOIN ct ON ct.doc_id = ex.doc_id
         JOIN sc ON sc.doc_id = ex.doc_id
         ORDER BY ex.doc_id""",
    "dedup_index_gate" ->
      """WITH base AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
         bk AS (SELECT text, MIN(doc_id) AS keep_id FROM base GROUP BY text),
         delta AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0),
         dd AS (
           SELECT doc_id, text,
             ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn,
             MIN(doc_id) OVER (PARTITION BY text) AS first_id
           FROM delta)
         SELECT dd.doc_id AS id,
           (bk.keep_id IS NOT NULL OR dd.rn > 1) AS is_dup,
           COALESCE(bk.keep_id,
             CASE WHEN dd.rn > 1 THEN dd.first_id END) AS dup_of
         FROM dd LEFT JOIN bk USING (text) ORDER BY id""",
    "dedup_index_appended" ->
      """WITH base AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
         bk AS (SELECT text, MIN(doc_id) AS keep_id FROM base GROUP BY text),
         delta AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0),
         dnew AS (
           SELECT d.text, MIN(d.doc_id) AS keep_id FROM delta d
           WHERE NOT EXISTS (SELECT 1 FROM bk WHERE bk.text = d.text)
           GROUP BY d.text),
         fps AS (
           SELECT text, keep_id FROM bk
           UNION ALL SELECT text, keep_id FROM dnew)
         SELECT md5(text) AS text_md5, keep_id
         FROM fps ORDER BY text_md5""",
    "q_kanon_audit" ->
      """WITH c AS (
           SELECT lang, source, CAST(count(*) AS BIGINT) AS k
           FROM documents GROUP BY lang, source)
         SELECT k, CAST(count(*) AS BIGINT) AS n_classes,
           CAST(k * count(*) AS BIGINT) AS n_rows
         FROM c GROUP BY k ORDER BY k""",
    "q_ldiv_audit" ->
      """WITH c AS (
           SELECT source, CAST(count(DISTINCT lang) AS BIGINT) AS l,
             CAST(count(*) AS BIGINT) AS n
           FROM documents GROUP BY source)
         SELECT l, CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(n) AS BIGINT) AS n_rows
         FROM c GROUP BY l ORDER BY l""",
    "q_ldiv_suppress" ->
      """WITH c AS (
           SELECT source, CAST(count(DISTINCT lang) AS BIGINT) AS l
           FROM documents GROUP BY source)
         SELECT d.doc_id, d.source, d.lang, c.l
         FROM documents d JOIN c ON c.source = d.source
         WHERE c.l >= 5 ORDER BY d.doc_id""",
    "q_kanon_suppress" ->
      """WITH c AS (
           SELECT doc_id, lang, source,
             CAST(count(*) OVER (PARTITION BY lang, source) AS BIGINT) AS k
           FROM documents)
         SELECT doc_id, lang, source, k FROM c
         WHERE k >= 3 ORDER BY doc_id""",
    "q_dp_budget" ->
      """WITH nk AS (
           SELECT
             (SELECT CAST(COUNT(*) AS BIGINT) FROM
               (SELECT DISTINCT lang, source FROM documents)) AS n1,
             (SELECT CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)
               FROM orders) AS n2)
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS seq,
             'r1_lang_source_counts' AS release_id, 'counts' AS mechanism,
             CAST(400000 AS BIGINT) AS eps_micro, CAST(1 AS BIGINT) AS delta,
             n1 AS n_keys, CAST(400000 AS BIGINT) AS cum_eps_micro,
             true AS admitted FROM nk
           UNION ALL
           SELECT 2, 'r2_status_sum', 'sum', 300000, 90000000, n2,
             700000, true FROM nk
           UNION ALL
           SELECT 3, 'r3_lang_counts', 'counts', 500000, 1, 0,
             700000, false FROM nk)
         ORDER BY seq""",
    "q_dp_counts" ->
      """WITH c AS (
           SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
           FROM documents GROUP BY 1, 2),
         h AS (
           SELECT lang, source, n,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(
                 COALESCE(lang, chr(1)) || chr(31) || COALESCE(source, chr(1)),
                 ''), ch -> ch <> ''),
                 ch -> CAST(unicode(ch) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007) AS hh
           FROM c),
         z AS (
           SELECT lang, source, n,
             ((((hh + 7) % 1000000007) * ((hh + 7) % 1000000007)
               % 1000000007 * 1000003 + 54321) % 1000000007) AS m1,
             ((((hh + 8) % 1000000007) * ((hh + 8) % 1000000007)
               % 1000000007 * 1000003 + 54321) % 1000000007) AS m2
           FROM h),
         w AS (
           SELECT lang, source, n,
             (m1 * m1) % 1000000007 AS ph1,
             (m2 * m2) % 1000000007 AS ph2
           FROM z),
         nz AS (
           SELECT lang, source, n,
             (CASE WHEN ph2 % 2 = 0 THEN 1 ELSE -1 END)
               * CAST(FLOOR(ln(CAST(ph1 + 1 AS DOUBLE) / 1000000008.0)
                 / (-0.5)) AS BIGINT) AS noise
           FROM w)
         SELECT lang, source, n, noise,
           GREATEST(CAST(0 AS BIGINT), n + noise) AS n_noisy
         FROM nz ORDER BY lang, source""",
    "q_dp_sum" ->
      """WITH v AS (
           SELECT o_orderstatus AS st, o_custkey,
             LEAST(GREATEST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT),
               0), 30000000) AS cv
           FROM orders),
         b AS (
           SELECT st, cv,
             ROW_NUMBER() OVER (PARTITION BY st, o_custkey ORDER BY cv) AS rn
           FROM v),
         s AS (
           SELECT st, CAST(COUNT(*) AS BIGINT) AS n_kept,
             CAST(SUM(cv) AS BIGINT) AS sum_clamped
           FROM b WHERE rn <= 3 GROUP BY st),
         h AS (
           SELECT st, n_kept, sum_clamped,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(COALESCE(st, chr(1)), ''),
                 ch -> ch <> ''),
                 ch -> CAST(unicode(ch) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007) AS hh
           FROM s),
         z AS (
           SELECT st, n_kept, sum_clamped,
             ((((hh + 11) % 1000000007) * ((hh + 11) % 1000000007)
               % 1000000007 * 1000003 + 54321) % 1000000007) AS m1,
             ((((hh + 12) % 1000000007) * ((hh + 12) % 1000000007)
               % 1000000007 * 1000003 + 54321) % 1000000007) AS m2,
             ((((hh + 13) % 1000000007) * ((hh + 13) % 1000000007)
               % 1000000007 * 1000003 + 54321) % 1000000007) AS m3,
             ((((hh + 14) % 1000000007) * ((hh + 14) % 1000000007)
               % 1000000007 * 1000003 + 54321) % 1000000007) AS m4
           FROM h),
         w AS (
           SELECT st, n_kept, sum_clamped,
             (m1 * m1) % 1000000007 AS ph1, (m2 * m2) % 1000000007 AS ph2,
             (m3 * m3) % 1000000007 AS ph3, (m4 * m4) % 1000000007 AS ph4
           FROM z),
         nz AS (
           SELECT st, n_kept, sum_clamped,
             sum_clamped + (CASE WHEN ph2 % 2 = 0 THEN 1 ELSE -1 END)
               * CAST(FLOOR(ln(CAST(ph1 + 1 AS DOUBLE) / 1000000008.0)
                 * 90000000.0 / (-0.5)) AS BIGINT) AS sum_noisy,
             GREATEST(CAST(0 AS BIGINT),
               n_kept + (CASE WHEN ph4 % 2 = 0 THEN 1 ELSE -1 END)
                 * CAST(FLOOR(ln(CAST(ph3 + 1 AS DOUBLE) / 1000000008.0)
                   * 3.0 / (-0.5)) AS BIGINT)) AS n_noisy
           FROM w)
         SELECT st AS o_orderstatus, n_kept, sum_clamped, sum_noisy, n_noisy,
           GREATEST(CAST(0 AS BIGINT), sum_noisy) * 1000000
             // GREATEST(CAST(1 AS BIGINT), n_noisy) AS mean_micro
         FROM nz ORDER BY o_orderstatus""",
    "q_tclose_audit" ->
      """WITH b AS (SELECT source, lang FROM documents WHERE lang IS NOT NULL),
         cv AS (SELECT source, lang, CAST(COUNT(*) AS HUGEINT) AS cnt
                FROM b GROUP BY 1, 2),
         cls AS (SELECT source, CAST(SUM(cnt) AS HUGEINT) AS n
                 FROM cv GROUP BY 1),
         gv AS (SELECT lang, CAST(COUNT(*) AS HUGEINT) AS gcnt
                FROM b GROUP BY 1),
         tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS nn FROM b),
         grid AS (
           SELECT c.source, c.n, g.gcnt, t.nn,
             COALESCE(v.cnt, CAST(0 AS HUGEINT)) AS cnt
           FROM cls c CROSS JOIN gv g CROSS JOIN tot t
           LEFT JOIN cv v
             ON v.source IS NOT DISTINCT FROM c.source AND v.lang = g.lang)
         SELECT source, CAST(n AS BIGINT) AS n,
           CAST((CAST(1000000 AS HUGEINT) * SUM(ABS(cnt * nn - gcnt * n)))
             // (CAST(2 AS HUGEINT) * n * nn) AS BIGINT) AS t_micro
         FROM grid GROUP BY source, n, nn ORDER BY source""",
    "q_tclose_suppress" ->
      """WITH b AS (SELECT source, lang FROM documents WHERE lang IS NOT NULL),
         cv AS (SELECT source, lang, CAST(COUNT(*) AS HUGEINT) AS cnt
                FROM b GROUP BY 1, 2),
         cls AS (SELECT source, CAST(SUM(cnt) AS HUGEINT) AS n
                 FROM cv GROUP BY 1),
         gv AS (SELECT lang, CAST(COUNT(*) AS HUGEINT) AS gcnt
                FROM b GROUP BY 1),
         tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS nn FROM b),
         grid AS (
           SELECT c.source, c.n, g.gcnt, t.nn,
             COALESCE(v.cnt, CAST(0 AS HUGEINT)) AS cnt
           FROM cls c CROSS JOIN gv g CROSS JOIN tot t
           LEFT JOIN cv v
             ON v.source IS NOT DISTINCT FROM c.source AND v.lang = g.lang),
         card AS (
           SELECT source, CAST(n AS BIGINT) AS n,
             CAST((CAST(1000000 AS HUGEINT) * SUM(ABS(cnt * nn - gcnt * n)))
               // (CAST(2 AS HUGEINT) * n * nn) AS BIGINT) AS t_micro
           FROM grid GROUP BY source, n, nn)
         SELECT d.doc_id, d.source, d.lang, c.t_micro
         FROM documents d
         JOIN card c ON c.source IS NOT DISTINCT FROM d.source
         WHERE c.t_micro <= 120000 ORDER BY d.doc_id""",
    "text_bm25_gate" ->
      """WITH ctoks AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts
           FROM documents WHERE doc_id % 5 <> 0),
         stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(ts)) AS BIGINT) AS total_tokens FROM ctoks),
         cdf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
           FROM (SELECT DISTINCT doc_id, unnest(ts) AS token FROM ctoks) GROUP BY token),
         probes AS (
           SELECT doc_id AS probe_id,
             list_slice(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''), 1, 4) AS terms
           FROM documents WHERE doc_id % 200 = 1 AND doc_id % 5 <> 0),
         pt AS (SELECT DISTINCT probe_id, unnest(terms) AS token FROM probes),
         dtoks AS (
           SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts
           FROM documents WHERE doc_id % 5 = 0),
         dterm AS (
           SELECT d.doc_id, p.probe_id, p.token,
             CAST(len(list_filter(d.ts, x -> x = p.token)) AS DOUBLE) AS tf,
             CAST(len(d.ts) AS DOUBLE) AS dl
           FROM dtoks d CROSS JOIN pt p),
         term AS (
           SELECT q.doc_id, q.probe_id,
             CASE WHEN f.df IS NULL THEN 0
               ELSE CAST(floor(
                 ln(1.0 + (CAST(s.n_docs AS DOUBLE) - f.df + 0.5) / (CAST(f.df AS DOUBLE) + 0.5)) *
                 (q.tf * (CAST(1.2 AS DOUBLE) + 1.0)) /
                 (q.tf + CAST(1.2 AS DOUBLE) * ((1.0 - CAST(0.75 AS DOUBLE)) +
                   CAST(0.75 AS DOUBLE) * q.dl * s.n_docs / s.total_tokens)) *
                 1000000.0) AS BIGINT) END AS ts_micro
           FROM dterm q LEFT JOIN cdf f USING (token) CROSS JOIN stats s),
         perprobe AS (
           SELECT doc_id, probe_id, CAST(SUM(ts_micro) AS BIGINT) AS score_micro
           FROM term GROUP BY 1, 2),
         best AS (
           SELECT doc_id AS id, probe_id, score_micro,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_micro DESC, probe_id) AS rk
           FROM perprobe)
         SELECT id, probe_id, score_micro FROM best
         WHERE rk = 1 AND score_micro >= 1300000 ORDER BY id""",
    "text_pmi_collocations" ->
      """WITH ts AS (
           SELECT list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts
           FROM documents),
         pairs AS (
           SELECT ts[i] AS w1, ts[i+1] AS w2
           FROM ts, unnest(range(1, len(ts))) AS r(i)),
         uni AS (
           SELECT w, CAST(COUNT(*) AS BIGINT) AS c
           FROM (SELECT unnest(ts) AS w FROM ts) GROUP BY w),
         pc AS (
           SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair
           FROM pairs GROUP BY w1, w2),
         top AS (
           SELECT w1, w2, n_pair FROM pc
           ORDER BY n_pair DESC, w1, w2 LIMIT 20),
         tot AS (
           SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS n_tok,
             (SELECT CAST(SUM(n_pair) AS BIGINT) FROM pc) AS n_pairs_total)
         SELECT t.w1, t.w2, t.n_pair, a.c AS n_a, b.c AS n_b,
           CAST(floor(ln(CAST(t.n_pair AS DOUBLE)) * 1000000.0) AS BIGINT)
             + 2 * CAST(floor(ln(CAST(x.n_tok AS DOUBLE)) * 1000000.0) AS BIGINT)
             - CAST(floor(ln(CAST(x.n_pairs_total AS DOUBLE)) * 1000000.0) AS BIGINT)
             - CAST(floor(ln(CAST(a.c AS DOUBLE)) * 1000000.0) AS BIGINT)
             - CAST(floor(ln(CAST(b.c AS DOUBLE)) * 1000000.0) AS BIGINT) AS pmi_micro
         FROM top t
         JOIN uni a ON a.w = t.w1
         JOIN uni b ON b.w = t.w2
         CROSS JOIN tot x
         ORDER BY t.n_pair DESC, t.w1, t.w2""",
    "text_vocab_coverage" ->
      """WITH toks AS (
           SELECT source, unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS token
           FROM documents),
         vocab AS (
           SELECT token FROM (
             SELECT token, CAST(COUNT(*) AS BIGINT) AS freq FROM toks
             GROUP BY token ORDER BY freq DESC, token LIMIT 16)),
         probed AS (
           SELECT t.source, v.token AS hit
           FROM toks t LEFT JOIN vocab v ON v.token = t.token)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(CASE WHEN hit IS NULL THEN 1 END) AS BIGINT) AS n_oov,
           (CAST(COUNT(CASE WHEN hit IS NULL THEN 1 END) AS BIGINT) * 1000000)
             // CAST(COUNT(*) AS BIGINT) AS oov_micro
         FROM probed GROUP BY source ORDER BY source""",
    "text_zipf_slope" ->
      """WITH toks AS (
           SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS token
           FROM documents),
         freq AS (
           SELECT token, CAST(COUNT(*) AS BIGINT) AS freq FROM toks
           GROUP BY token ORDER BY freq DESC, token LIMIT 64),
         xy AS (
           SELECT
             CAST(floor(ln(CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS DOUBLE)) * 1000.0) AS BIGINT) AS x,
             CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000.0) AS BIGINT) AS y
           FROM freq),
         m AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x*y) AS BIGINT) AS sxy,
             CAST(SUM(x*x) AS BIGINT) AS sxx
           FROM xy)
         SELECT n AS n_terms,
           CAST(((n*sxy - sx*sy) * 1000) // (n*sxx - sx*sx) AS BIGINT) AS slope_milli
         FROM m""",
    "text_bm25_topk" -> (bm25OracleCtes +
      "\n SELECT query_id, rank, doc_id, score_micro, n_terms FROM topk ORDER BY query_id, rank"),
    "text_bm25_prf" -> (bm25OracleCtes +
      """,
       fb AS (SELECT query_id, doc_id FROM topk WHERE rank <= 5),
       expw AS (
         SELECT f.query_id, tf.token, CAST(SUM(tf.tf) AS BIGINT) AS w
         FROM fb f JOIN tf ON tf.doc_id = f.doc_id
         GROUP BY 1, 2),
       expq AS (
         SELECT query_id, token FROM (
           SELECT e.query_id, e.token,
             ROW_NUMBER() OVER (PARTITION BY e.query_id
               ORDER BY e.w DESC, e.token) AS r
           FROM expw e
           WHERE NOT EXISTS (
             SELECT 1 FROM qt q
             WHERE q.query_id = e.query_id AND q.token = e.token))
         WHERE r <= 3),
       qt2 AS (
         SELECT query_id, token FROM qt
         UNION
         SELECT query_id, token FROM expq),
       cand2 AS (
         SELECT q.query_id, tf.doc_id, tf.tf, f.df FROM qt2 q
         JOIN dfreq f USING (token) JOIN tf ON tf.token = q.token),
       term2 AS (
         SELECT c.query_id, c.doc_id,
           CAST(floor(
             ln(1.0 + (CAST(s.n_docs AS DOUBLE) - c.df + 0.5) / (CAST(c.df AS DOUBLE) + 0.5)) *
             (CAST(c.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
             (CAST(c.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * ((1.0 - CAST(0.75 AS DOUBLE)) +
               CAST(0.75 AS DOUBLE) * CAST(l.dl AS DOUBLE) * s.n_docs / s.total_tokens)) *
             1000000.0) AS BIGINT) AS ts_micro
         FROM cand2 c JOIN dl l USING (doc_id) CROSS JOIN stats s),
       perdoc2 AS (
         SELECT query_id, doc_id, CAST(SUM(ts_micro) AS BIGINT) AS score_micro,
           CAST(COUNT(*) AS BIGINT) AS n_terms
         FROM term2 GROUP BY 1, 2),
       ranked2 AS (
         SELECT query_id, doc_id, score_micro, n_terms,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rank
         FROM perdoc2),
       topk2 AS (
         SELECT query_id, rank, doc_id, score_micro, n_terms FROM ranked2 WHERE rank <= 10)
       SELECT query_id, rank, doc_id, score_micro, n_terms FROM topk2 ORDER BY query_id, rank"""),
    "text_bm25_topk_bigpanel" -> (bm25OracleCtesMod(5) +
      "\n SELECT query_id, rank, doc_id, score_micro, n_terms FROM topk ORDER BY query_id, rank"),
    "text_bm25_topk_champion" -> (bm25OracleCtes + bm25ChampionChain(64, "2") +
      "\n SELECT query_id, rank, doc_id, score_micro, n_terms FROM topk2 ORDER BY query_id, rank"),
    "text_bm25_recall_champion" -> (bm25OracleCtes +
      bm25ChampionChain(64, "_c64") + bm25ChampionChain(256, "_c256") + "\n" +
      bm25ChampionRecallRow(64, "_c64") + "\n UNION ALL\n" +
      bm25ChampionRecallRow(256, "_c256") + "\n ORDER BY c"),
    "sim_rrf_hybrid" -> (bm25OracleCtes +
      """,
       dense0 AS (
         SELECT a.vec_id AS query_id, b.vec_id AS id,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
             ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
               b.vec_id) AS rank
         FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
         WHERE a.vec_id % 50 = 0),
       dense AS (SELECT query_id, id, rank FROM dense0 WHERE rank <= 10),
       contrib AS (
         SELECT query_id, doc_id AS id,
           CAST(1000000000 // (60 + rank) AS BIGINT) AS c FROM topk
         UNION ALL
         SELECT query_id, id,
           CAST(1000000000 // (60 + rank) AS BIGINT) AS c FROM dense),
       fused AS (
         SELECT query_id, id, CAST(SUM(c) AS BIGINT) AS rrf_micro,
           CAST(COUNT(*) AS BIGINT) AS n_runs
         FROM contrib GROUP BY 1, 2),
       rk AS (
         SELECT query_id, id, rrf_micro, n_runs,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY rrf_micro DESC, id) AS rank
         FROM fused)
       SELECT query_id, CAST(rank AS INTEGER) AS rank, id, rrf_micro, n_runs
       FROM rk WHERE rank <= 10 ORDER BY query_id, rank"""),
    "text_bm25_diag" -> (bm25OracleCtes +
      """,
       diag AS (
         SELECT query_id, MAX(rank) AS depth,
           MAX(CASE WHEN rank = 1 THEN score_micro END) AS best_micro,
           MIN(score_micro) AS worst_micro,
           MAX(CASE WHEN rank = 1 THEN n_terms END) AS best_n_terms
         FROM topk GROUP BY query_id)
       SELECT query_id, depth, best_micro, worst_micro, best_n_terms,
         best_micro - worst_micro AS spread_micro
       FROM diag ORDER BY query_id"""),
    "text_bpe_merges" -> bpeOracleSql(6),
    "text_wordpiece_merges" -> wordpieceMergesOracleSql(8),
    "text_wordpiece_tokens" -> wordpieceTokensOracleSql(8),
    "text_wordpiece_tokens_served" -> wordpieceTokensOracleSql(8),
    "text_unigram_tokens" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, unnest(list_filter(
             string_split_regex(trim(text), '\s+'), t -> t <> '')) AS w
           FROM documents),
         words AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM toks GROUP BY w),
         cand AS (
           SELECT p, CAST(SUM(cnt) AS BIGINT) AS n FROM (
             SELECT cnt, unnest([substr(w, st, l)
               FOR st IN range(1, len(w) - CAST(l AS BIGINT) + 2)]) AS p
             FROM words, (VALUES (1), (2), (3), (4)) lt(l)
             WHERE len(w) >= l) u
           GROUP BY p),
         chars AS (SELECT p, n FROM cand WHERE len(p) = 1),
         multi AS (SELECT p, n FROM cand WHERE len(p) > 1
                   ORDER BY n DESC, p LIMIT 64),
         vocab AS (SELECT p, n FROM chars UNION ALL SELECT p, n FROM multi),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM vocab),
         sc AS (SELECT p, CAST(floor(ln(CAST(n AS DOUBLE) / CAST(t AS DOUBLE))
                  * 1000000) AS BIGINT) AS s
                FROM vocab, tot),
         m AS (
           SELECT pos.w AS w, pos.e AS e, len(v.p) AS l, v.s AS s
           FROM (SELECT w, unnest(range(1, len(w) + 1)) AS e FROM words) pos
           JOIN sc v ON len(v.p) <= pos.e
             AND v.p = substr(pos.w, pos.e - len(v.p) + 1, len(v.p))),
         rec AS (
           SELECT w, CAST(0 AS BIGINT) AS i,
             CAST(0 AS BIGINT) AS s0, CAST(0 AS BIGINT) AS n0,
             CAST(NULL AS BIGINT) AS s1, CAST(NULL AS BIGINT) AS n1,
             CAST(NULL AS BIGINT) AS s2, CAST(NULL AS BIGINT) AS n2,
             CAST(NULL AS BIGINT) AS s3, CAST(NULL AS BIGINT) AS n3
           FROM words
           UNION ALL
           SELECT w, i,
             greatest(coalesce(c1, -4611686018427387904),
               coalesce(c2, -4611686018427387904),
               coalesce(c3, -4611686018427387904),
               coalesce(c4, -4611686018427387904)) AS s0,
             CASE
               WHEN c4 IS NOT NULL AND c4 >= coalesce(c1, c4)
                 AND c4 >= coalesce(c2, c4) AND c4 >= coalesce(c3, c4)
                 THEN pn3 + 1
               WHEN c3 IS NOT NULL AND c3 >= coalesce(c1, c3)
                 AND c3 >= coalesce(c2, c3)
                 THEN pn2 + 1
               WHEN c2 IS NOT NULL AND c2 >= coalesce(c1, c2)
                 THEN pn1 + 1
               ELSE pn0 + 1 END AS n0,
             ps0 AS s1, pn0 AS n1, ps1 AS s2, pn1 AS n2, ps2 AS s3, pn2 AS n3
           FROM (
             SELECT r.w AS w, r.i + 1 AS i,
               r.s0 + m1.s AS c1, r.s1 + m2.s AS c2,
               r.s2 + m3.s AS c3, r.s3 + m4.s AS c4,
               r.s0 AS ps0, r.n0 AS pn0, r.s1 AS ps1, r.n1 AS pn1,
               r.s2 AS ps2, r.n2 AS pn2, r.n3 AS pn3
             FROM rec r
             LEFT JOIN m m1 ON m1.w = r.w AND m1.e = r.i + 1 AND m1.l = 1
             LEFT JOIN m m2 ON m2.w = r.w AND m2.e = r.i + 1 AND m2.l = 2
             LEFT JOIN m m3 ON m3.w = r.w AND m3.e = r.i + 1 AND m3.l = 3
             LEFT JOIN m m4 ON m4.w = r.w AND m4.e = r.i + 1 AND m4.l = 4
             WHERE r.i < len(r.w)) q),
         card AS (SELECT w, n0 AS npieces, s0 AS lp
                  FROM rec WHERE i = len(w)),
         agg AS (
           SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(c.npieces) AS BIGINT) AS n_pieces,
             CAST(SUM(c.lp) AS BIGINT) AS sum_lp_micro
           FROM toks t JOIN card c ON c.w = t.w GROUP BY t.doc_id)
         SELECT d.doc_id,
           CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE(a.n_pieces, 0) AS BIGINT) AS n_pieces,
           CAST(COALESCE(a.sum_lp_micro, 0) AS BIGINT) AS sum_lp_micro
         FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
         ORDER BY d.doc_id""",
    "text_bpe_tokens" -> bpeTokensOracleSql(6),
    "text_bpe_fertility" -> bpeFertilityOracleSql(6),
    "q_curation_pipeline" ->
      """WITH dedup AS (
           SELECT * FROM documents
           WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY text)),
         q AS (
           SELECT doc_id, lang,
             least(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 50.0, 1.0) AS len_score,
             least((CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                 t -> t IN ('the','a','an','of','to','and','in','is','it','for','on','with'))) AS DOUBLE) /
               CAST(NULLIF(len(string_split_regex(trim(text), '\s+')), 0) AS DOUBLE)) * 5.0, 1.0) AS stop_score,
             least(coalesce(CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE) /
               CAST(NULLIF(length(text), 0) AS DOUBLE), 0.0) * 2.0, 1.0) AS punct_penalty
           FROM dedup),
         scored AS (
           SELECT doc_id, lang,
             CAST(floor(((len_score * 0.5 + stop_score * 0.4) * (1.0 - punct_penalty * 0.5) + 0.1)
               * 10000.0 + 0.5) AS BIGINT) AS quality_q4
           FROM q)
         SELECT doc_id, lang, quality_q4 FROM scored
         WHERE quality_q4 >= 5000
           AND ((((doc_id % 1000000007) * 1000003 % 1000000007) * 999983) % 1000000007) % 10000 <
             (CASE lang WHEN 'en' THEN 5000 ELSE 2500 END)
         ORDER BY doc_id""",
    "q_domain_mix" ->
      """WITH c AS (
           SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n,
             CASE lang WHEN 'en' THEN CAST(0.4 AS DOUBLE)
                       WHEN 'fr' THEN CAST(0.3 AS DOUBLE)
                       WHEN 'zh' THEN CAST(0.3 AS DOUBLE) END AS w
           FROM documents WHERE lang IN ('en', 'fr', 'zh') GROUP BY lang),
         m AS (SELECT MIN(n / w) AS cmin FROM c),
         r AS (SELECT lang,
                 CASE WHEN n / w = cmin THEN 10000
                      ELSE CAST(floor(CAST(10000.0 AS DOUBLE) * cmin * w / n) AS BIGINT) END AS bp
               FROM c, m)
         SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.lang
         WHERE ((((d.doc_id % 1000000007) * 1000003 % 1000000007) * 999983) % 1000000007) % 10000 < r.bp
         ORDER BY d.doc_id""",
    "q_temperature_mix" ->
      """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source),
         w AS (SELECT source, n_docs, CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS w FROM c),
         t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs, CAST(SUM(w) AS BIGINT) AS sum_w FROM w),
         r AS (SELECT source, n_docs, w,
                 least(n_docs, (total_docs * 1 // 2) * w // sum_w) AS take FROM w, t),
         h AS (SELECT doc_id, source,
                 ((((doc_id + 7) % 1000000007) * ((doc_id + 7) % 1000000007))
                   % 1000000007 * 1000003 + 54321) % 1000000007 AS v
               FROM documents),
         s2 AS (SELECT doc_id, source, (v * v) % 1000000007 AS hh FROM h),
         rk AS (SELECT s2.doc_id, s2.source, r.n_docs, r.w, r.take,
                  ROW_NUMBER() OVER (PARTITION BY s2.source ORDER BY s2.hh, s2.doc_id) AS rnk
                FROM s2 JOIN r USING (source))
         SELECT doc_id, source, n_docs, w, take FROM rk WHERE rnk <= take
         ORDER BY doc_id""",
    "q_length_bucket_waste" ->
      """WITH n AS (
           SELECT CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
           FROM documents),
         b AS (SELECT n_tokens, n_tokens // 16 AS bucket FROM n),
         per AS (
           SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
             CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
           FROM b GROUP BY bucket
           UNION ALL
           SELECT CAST(-1 AS BIGINT), CAST(COUNT(*) AS BIGINT),
             CAST(SUM(n_tokens) AS BIGINT), CAST(MAX(n_tokens) AS BIGINT)
           FROM b)
         SELECT bucket, n_docs, sum_tokens, max_tokens,
           n_docs * max_tokens AS padded,
           ((n_docs * max_tokens - sum_tokens) * 1000000) // (n_docs * max_tokens) AS waste_micro
         FROM per ORDER BY bucket""",
    "q_unimax_mix" ->
      """WITH sizes AS (
           SELECT source, CAST(SUM(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
         caps AS (SELECT source, n_tokens, n_tokens * 2 AS cap FROM sizes),
         ranked AS (
           SELECT source, n_tokens, cap,
             CAST(ROW_NUMBER() OVER (ORDER BY cap ASC, source ASC) AS BIGINT) AS rk,
             CAST(SUM(cap) OVER (ORDER BY cap ASC, source ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pcap
           FROM caps),
         tot AS (SELECT CAST(MAX(rk) AS BIGINT) AS n_src, CAST(SUM(cap) AS BIGINT) AS sum_cap FROM ranked),
         flagged AS (
           SELECT r.*, t.n_src, (t.sum_cap * 950) // 1000 AS budget,
             CASE WHEN r.cap * (t.n_src - r.rk + 1) <= (t.sum_cap * 950) // 1000 - (r.pcap - r.cap)
               THEN 1 ELSE 0 END AS c
           FROM ranked r, tot t),
         pref AS (
           SELECT *, MIN(c) OVER (ORDER BY rk
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS capped
           FROM flagged),
         lvl AS (
           SELECT COALESCE(MAX(CASE WHEN capped THEN rk END), 0) AS kstar,
             COALESCE(MAX(CASE WHEN capped THEN pcap END), 0) AS pcapk,
             MAX(budget) AS budget, MAX(n_src) AS n_src
           FROM pref),
         wl AS (
           SELECT CASE WHEN n_src = kstar THEN 9223372036854775807
             ELSE (budget - pcapk) // (n_src - kstar) END AS w_level
           FROM lvl)
         SELECT p.source, p.n_tokens, p.cap,
           CAST(least(p.cap, w.w_level) AS BIGINT) AS allocated, p.capped
         FROM pref p, wl w ORDER BY p.source""",
    "q_unimax_select" ->
      """WITH sizes AS (
           SELECT source, CAST(SUM(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
         caps AS (SELECT source, n_tokens, n_tokens * 1 AS cap FROM sizes),
         ranked AS (
           SELECT source, n_tokens, cap,
             CAST(ROW_NUMBER() OVER (ORDER BY cap ASC, source ASC) AS BIGINT) AS rk,
             CAST(SUM(cap) OVER (ORDER BY cap ASC, source ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pcap
           FROM caps),
         tot AS (SELECT CAST(MAX(rk) AS BIGINT) AS n_src, CAST(SUM(cap) AS BIGINT) AS sum_cap FROM ranked),
         flagged AS (
           SELECT r.*, t.n_src, (t.sum_cap * 700) // 1000 AS budget,
             CASE WHEN r.cap * (t.n_src - r.rk + 1) <= (t.sum_cap * 700) // 1000 - (r.pcap - r.cap)
               THEN 1 ELSE 0 END AS c
           FROM ranked r, tot t),
         pref AS (
           SELECT *, MIN(c) OVER (ORDER BY rk
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS capped
           FROM flagged),
         lvl AS (
           SELECT COALESCE(MAX(CASE WHEN capped THEN rk END), 0) AS kstar,
             COALESCE(MAX(CASE WHEN capped THEN pcap END), 0) AS pcapk,
             MAX(budget) AS budget, MAX(n_src) AS n_src
           FROM pref),
         alloc AS (
           SELECT p.source, CAST(least(p.cap, w.w_level) AS BIGINT) AS allocated
           FROM pref p, (
             SELECT CASE WHEN n_src = kstar THEN 9223372036854775807
               ELSE (budget - pcapk) // (n_src - kstar) END AS w_level
             FROM lvl) w),
         d AS (
           SELECT doc_id, source,
             CAST(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens,
             ((((doc_id + 7) % 1000000007) * ((doc_id + 7) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v
           FROM documents),
         h AS (SELECT doc_id, source, n_tokens, (v * v) % 1000000007 AS hh FROM d),
         cum AS (
           SELECT h.doc_id, h.source, h.n_tokens, a.allocated,
             SUM(h.n_tokens) OVER (PARTITION BY h.source ORDER BY h.hh, h.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
           FROM h JOIN alloc a USING (source))
         SELECT doc_id, source, n_tokens, allocated
         FROM cum WHERE c <= allocated ORDER BY doc_id""",
    "q_token_budget" ->
      """WITH q AS (
           SELECT doc_id, lang,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             least(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 50.0, 1.0) AS len_score,
             least((CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                 t -> t IN ('the','a','an','of','to','and','in','is','it','for','on','with'))) AS DOUBLE) /
               CAST(NULLIF(len(string_split_regex(trim(text), '\s+')), 0) AS DOUBLE)) * 5.0, 1.0) AS stop_score,
             least(coalesce(CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE) /
               CAST(NULLIF(length(text), 0) AS DOUBLE), 0.0) * 2.0, 1.0) AS punct_penalty
           FROM documents),
         scored AS (
           SELECT doc_id, lang, n_tokens,
             CAST(floor(((len_score * 0.5 + stop_score * 0.4) * (1.0 - punct_penalty * 0.5) + 0.1)
               * 10000.0 + 0.5) AS BIGINT) AS quality_q4
           FROM q),
         cum AS (
           SELECT doc_id, lang, n_tokens, quality_q4,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY quality_q4 DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
           FROM scored)
         SELECT doc_id, lang, n_tokens, quality_q4 FROM cum
         WHERE c <= 2000 ORDER BY doc_id""",
    "q_histogram" ->
      """SELECT event_type,
           least(greatest(CAST(floor(value / 50.0) AS BIGINT), 0), 9) AS bucket,
           COUNT(*) AS n
         FROM events GROUP BY 1, 2 ORDER BY event_type, bucket""",
    "events_active_windowed" ->
      """WITH up AS (
           SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events)
         SELECT strftime(d, '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(d + INTERVAL 1 DAY, '%Y-%m-%d %H:%M:%S') AS window_end,
           CAST(COUNT(*) AS BIGINT) AS n_active
         FROM up GROUP BY d ORDER BY window_start""",
    "events_cohort_retention" ->
      """WITH up AS (
           SELECT DISTINCT user_id AS actor,
             CAST(floor(floor(epoch(ts)) / 604800.0) AS BIGINT) AS period
           FROM events),
         coh AS (SELECT actor, MIN(period) AS cohort FROM up GROUP BY actor),
         sizes AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_cohort
           FROM coh GROUP BY cohort),
         act AS (
           SELECT c.cohort, up.period - c.cohort AS "offset",
             CAST(COUNT(*) AS BIGINT) AS n_active
           FROM up JOIN coh c USING (actor) GROUP BY 1, 2)
         SELECT a.cohort, a."offset", a.n_active, s.n_cohort,
           (a.n_active * 1000000) // s.n_cohort AS retention_micro
         FROM act a JOIN sizes s USING (cohort)
         ORDER BY a.cohort, a."offset"""",
    "events_funnel" ->
      """WITH w AS (
           SELECT user_id, ts, event_id, event_type,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         b AS (
           SELECT user_id, ts, event_type,
             CASE WHEN prev_ts IS NULL
                    OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS is_new,
             event_id
           FROM w),
         s AS (
           SELECT user_id, ts, event_type,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM b),
         agg AS (
           SELECT user_id, session_id,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
             MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
           FROM s GROUP BY 1, 2)
         SELECT (last_purchase IS NOT NULL AND last_purchase >= first_click) AS converted,
           COUNT(*) AS n_sessions
         FROM agg WHERE first_click IS NOT NULL
         GROUP BY 1 ORDER BY converted""",
    "q_exact_percentiles" ->
      """SELECT event_type,
           CAST(floor(quantile_cont(value, 0.5) * 1000000.0 + 0.5) AS BIGINT) AS p50_q6,
           CAST(floor(quantile_cont(value, 0.9) * 1000000.0 + 0.5) AS BIGINT) AS p90_q6,
           CAST(floor(quantile_cont(value, 0.99) * 1000000.0 + 0.5) AS BIGINT) AS p99_q6
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_embed_norms" ->
      """SELECT vec_id,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(embedding, x -> CAST(x AS DOUBLE))),
             (a, b) -> a + b * b) AS sum_sq,
           sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(embedding, x -> CAST(x AS DOUBLE))),
             (a, b) -> a + b * b)) AS norm,
           len(embedding) AS dim
         FROM embeddings ORDER BY vec_id""",
    "q_embed_centroids" ->
      """WITH ex AS (
           SELECT label, u.pos AS pos, CAST(u.x AS DOUBLE) AS x
           FROM embeddings,
             unnest(list_transform(range(0, len(embedding)),
               i -> {'pos': i, 'x': embedding[i + 1]})) AS r(u))
         SELECT label, pos,
           CAST(SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_q6,
           COUNT(*) AS n,
           CAST(SUM(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) /
             CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS centroid
         FROM ex GROUP BY label, pos ORDER BY label, pos""",
    "q_embed_quant" ->
      """WITH s AS (
           SELECT vec_id,
             127.0 / NULLIF(list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))), 0.0) AS scale,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         q AS (
           SELECT vec_id, scale,
             list_transform(v, x ->
               CASE WHEN scale IS NULL THEN 0
                 ELSE CAST(greatest(-127, least(127,
                   CAST(floor(x * scale + 0.5) AS BIGINT))) AS INTEGER) END) AS codes
           FROM s)
         SELECT vec_id,
           CAST(floor(scale * 1000000.0 + 0.5) AS BIGINT) AS scale_q6,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(codes, c -> CAST(c AS BIGINT))), (a, b) -> a + b) AS sum_codes,
           len(list_filter(codes, c -> abs(c) = 127)) AS n_sat
         FROM q ORDER BY vec_id""",
    "q_asof_nearest" ->
      """WITH p AS (
           SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (
           SELECT user_id, ts AS cts, MIN(event_id) AS click_id
           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         j AS (
           SELECT p.event_id, c.click_id, c.cts,
             ROW_NUMBER() OVER (PARTITION BY p.event_id ORDER BY
               abs(epoch_us(p.ts) - epoch_us(c.cts)),
               CASE WHEN epoch_us(c.cts) <= epoch_us(p.ts) THEN 0 ELSE 1 END) AS rk
           FROM p JOIN c USING (user_id))
         SELECT p.event_id, p.user_id, j.click_id,
           strftime(j.cts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
         FROM p LEFT JOIN (SELECT event_id, click_id, cts FROM j WHERE rk = 1) j
           USING (event_id)
         ORDER BY p.event_id, p.user_id""",
    "q_asof_clicks" ->
      """WITH p AS (
           SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (
           SELECT user_id, ts AS click_ts, MIN(event_id) AS click_id
           FROM events WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS p_ts,
           c.click_id,
           strftime(c.click_ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
         FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.click_ts
         ORDER BY p.event_id, p.user_id""",
    "events_range_join" ->
      """WITH w AS (
           SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         b AS (
           SELECT user_id, ts, event_id,
             CASE WHEN prev_ts IS NULL
                    OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS is_new
           FROM w),
         s AS (
           SELECT user_id, ts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM b),
         sess AS (
           SELECT user_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end
           FROM s GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, sess.session_id
         FROM events e JOIN sess
           ON e.user_id = sess.user_id
           AND e.ts BETWEEN sess.session_start AND sess.session_end
         ORDER BY e.event_id, e.user_id, sess.session_id""",
    "dedup_cluster_canonical" ->
      """WITH RECURSIVE d AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3
               THEN [array_to_string(string_split_regex(trim(text), '\s+'), ' ')]
               ELSE list_transform(range(0, len(string_split_regex(trim(text), '\s+')) - 2),
                 i -> array_to_string(list_slice(string_split_regex(trim(text), '\s+'), i+1, i+3), ' '))
             END) AS sh
           FROM documents),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM d a JOIN d b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.sh, b.sh)) > 0
             AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
               CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.5),
         e AS (
           SELECT id_a AS src, id_b AS dst FROM p
           UNION ALL SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r2.id, e.dst FROM reach r2 JOIN e ON e.src = r2.r)
         SELECT id AS doc_id, MIN(r) AS canonical_id
         FROM reach GROUP BY id ORDER BY doc_id""",
    "events_top_paths" ->
      """WITH e AS (
           SELECT event_id, user_id, event_type, epoch_us(ts) AS us
           FROM events),
         w AS (
           SELECT *, CASE WHEN lag(us) OVER
               (PARTITION BY user_id ORDER BY us, event_id) IS NULL
             OR us - lag(us) OVER
               (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
             THEN 1 ELSE 0 END AS is_new
           FROM e),
         s AS (
           SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
             ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
           FROM w),
         p AS (
           SELECT user_id, sid,
             array_to_string(list_slice(
               list(event_type ORDER BY us, event_id), 1, 8), '>') AS path,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS conv
           FROM s GROUP BY user_id, sid),
         h AS (
           SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
             CAST(sum(conv) AS BIGINT) AS n_converted
           FROM p GROUP BY path)
         SELECT path, n_sessions, n_converted,
           CAST(n_converted * 1000000 // n_sessions AS BIGINT) AS conv_micro
         FROM h ORDER BY n_sessions DESC, path LIMIT 50""",
    "events_engagement_batch" ->
      """WITH corp AS (SELECT text FROM documents WHERE doc_id % 3 = 0),
         adm AS (
           SELECT doc_id AS id FROM documents d
           WHERE NOT EXISTS (SELECT 1 FROM corp c WHERE c.text = d.text)),
         ev AS (
           SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value
           FROM events e
           WHERE EXISTS (SELECT 1 FROM adm a WHERE a.id = e.user_id)),
         fw AS (
           SELECT user_id, ts, event_id, event_type,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM ev),
         fsx AS (
           SELECT user_id, ts, event_type, event_id,
             CAST(SUM(CASE WHEN prev_ts IS NULL
                 OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
               THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
           FROM fw),
         fagg AS (
           SELECT user_id, sid,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS fstart,
             MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS lend
           FROM fsx GROUP BY 1, 2),
         funnel AS (
           SELECT 'funnel' AS kind, user_id, CAST(sid AS VARCHAR) AS k,
             CAST(lend IS NOT NULL AND lend >= fstart AS VARCHAR) AS v
           FROM fagg WHERE fstart IS NOT NULL),
         ac AS (
           SELECT event_id, user_id, epoch_us(ts) AS us
           FROM ev WHERE event_type = 'purchase'),
         at2 AS (
           SELECT event_id, user_id, event_type, epoch_us(ts) AS us
           FROM ev WHERE event_type IN ('click', 'view', 'signup')),
         aj AS (
           SELECT c.event_id AS conv_id, t.event_id AS tid, t.event_type AS ttp,
             ROW_NUMBER() OVER (PARTITION BY c.event_id
               ORDER BY t.us ASC, t.event_id ASC) AS rf,
             ROW_NUMBER() OVER (PARTITION BY c.event_id
               ORDER BY t.us DESC, t.event_id DESC) AS rl
           FROM ac c JOIN at2 t ON t.user_id = c.user_id
             AND t.us BETWEEN c.us - 86400000000 AND c.us),
         af AS (SELECT conv_id, tid AS fid, ttp AS ftp FROM aj WHERE rf = 1),
         al AS (SELECT conv_id, tid AS lid, ttp AS ltp FROM aj WHERE rl = 1),
         attr AS (
           SELECT 'attribution' AS kind, c.user_id AS user_id,
             CAST(c.event_id AS VARCHAR) AS k,
             CAST(COALESCE(f.fid, -1) AS VARCHAR) || ':' ||
               COALESCE(f.ftp, '') || '>' ||
               CAST(COALESCE(l.lid, -1) AS VARCHAR) || ':' ||
               COALESCE(l.ltp, '') AS v
           FROM ac c LEFT JOIN af f ON f.conv_id = c.event_id
                     LEFT JOIN al l ON l.conv_id = c.event_id),
         cper AS (
           SELECT DISTINCT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS period
           FROM ev),
         coh AS (
           SELECT 'cohort' AS kind, user_id,
             CAST(MIN(period) OVER (PARTITION BY user_id) AS VARCHAR) AS k,
             CAST(period AS VARCHAR) AS v
           FROM cper),
         pw AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS pus
           FROM ev),
         psx AS (
           SELECT user_id, event_id, event_type, us,
             CAST(SUM(CASE WHEN pus IS NULL OR us - pus > 1800000000
               THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
           FROM pw),
         pagg AS (
           SELECT user_id, sid,
             array_to_string(list_slice(
               list(event_type ORDER BY us, event_id), 1, 8), '>') AS path,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
           FROM psx GROUP BY 1, 2),
         paths AS (
           SELECT 'path' AS kind, user_id, path AS k,
             CAST(conv = 1 AS VARCHAR) AS v
           FROM pagg),
         eper AS (
           SELECT user_id, COUNT(*) AS n,
             list(value ORDER BY ts, event_id) AS vs
           FROM ev GROUP BY user_id),
         ew AS (
           SELECT 'ewma' AS kind, user_id, CAST(n AS VARCHAR) AS k,
             CAST(CAST(floor(list_reduce(vs,
               (acc, x) -> acc * 0.5 + x * 0.5) * 1000000.0) AS BIGINT)
               AS VARCHAR) AS v
           FROM eper),
         tw AS (
           SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS ptp
           FROM ev),
         trans AS (
           SELECT 'transition' AS kind, user_id, ptp AS k, event_type AS v
           FROM tw WHERE ptp IS NOT NULL),
         allf AS (
           SELECT * FROM funnel UNION ALL SELECT * FROM attr
           UNION ALL SELECT * FROM coh UNION ALL SELECT * FROM paths
           UNION ALL SELECT * FROM ew UNION ALL SELECT * FROM trans)
         SELECT kind, user_id, k, v FROM allf
         ORDER BY kind, user_id, k, v""",
    "events_attribution" ->
      """WITH c AS (
           SELECT event_id, user_id, epoch_us(ts) AS us
           FROM events WHERE event_type = 'purchase'),
         t AS (
           SELECT event_id, user_id, event_type, epoch_us(ts) AS us
           FROM events WHERE event_type IN ('click', 'view', 'signup')),
         j AS (
           SELECT c.event_id AS conv_id, t.event_id AS tid,
             t.event_type AS ttp,
             ROW_NUMBER() OVER (PARTITION BY c.event_id
               ORDER BY t.us ASC, t.event_id ASC) AS rf,
             ROW_NUMBER() OVER (PARTITION BY c.event_id
               ORDER BY t.us DESC, t.event_id DESC) AS rl
           FROM c JOIN t ON t.user_id = c.user_id
             AND t.us BETWEEN c.us - 3600000000 AND c.us),
         f AS (SELECT conv_id, tid AS first_touch_id,
                 ttp AS first_touch_type FROM j WHERE rf = 1),
         l AS (SELECT conv_id, tid AS last_touch_id,
                 ttp AS last_touch_type FROM j WHERE rl = 1)
         SELECT c.event_id AS conv_id, c.user_id AS actor,
           f.first_touch_id, f.first_touch_type,
           l.last_touch_id, l.last_touch_type
         FROM c LEFT JOIN f ON f.conv_id = c.event_id
                LEFT JOIN l ON l.conv_id = c.event_id
         ORDER BY conv_id""",
    "events_sessionize" ->
      """WITH w AS (
           SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         b AS (
           SELECT user_id, ts, event_id,
             CASE WHEN prev_ts IS NULL
                    OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS is_new
           FROM w),
         s AS (
           SELECT user_id, ts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM b)
         SELECT user_id, session_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           COUNT(*) AS n_events
         FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""",
    "dedup_exact_groups" ->
      """SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
         FROM documents GROUP BY md5(text) ORDER BY text_md5""",
    "dedup_exact_keep_first" ->
      """SELECT doc_id, n_chars FROM documents
         WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY text)
         ORDER BY doc_id""",
    "dedup_ngram_jaccard" ->
      """WITH d AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3
               THEN [array_to_string(string_split_regex(trim(text), '\s+'), ' ')]
               ELSE list_transform(range(0, len(string_split_regex(trim(text), '\s+')) - 2),
                 i -> array_to_string(list_slice(string_split_regex(trim(text), '\s+'), i+1, i+3), ' '))
             END) AS sh
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
         FROM d a JOIN d b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.sh, b.sh)) > 0
           AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.5
         ORDER BY id_a, id_b""",
    "dedup_minhash_lsh" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
         hs AS (
           SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(range(0, len(toks) - 2),
                 i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
             END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(s, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007))) AS sh
           FROM t),
         sg AS (
           SELECT doc_id, sh,
             list_transform(range(0, 64), j ->
               list_min(list_transform(sh, x ->
                 (((j + 1) * 1000003 + 12345) % 2147483647 * x
                   + ((j + 1) * 999983 + 54321) % 2147483647) % 2147483647))) AS sig
           FROM hs),
         bk AS (
           SELECT doc_id, b.band AS band,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_slice(sig, b.band * 4 + 1, b.band * 4 + 4)),
               (a, x) -> (a * 1000003 + x) % 1000000007) AS bucket
           FROM sg, (SELECT unnest(range(0, 16)) AS band) b),
         cand AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bk x JOIN bk y
             ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         v AS (
           SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
               CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
           FROM cand c JOIN hs a ON a.doc_id = c.id_a JOIN hs b ON b.doc_id = c.id_b)
         SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= 0.5 ORDER BY id_a, id_b""",
    "dedup_lsh_eval" ->
      """WITH td AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3
               THEN [array_to_string(string_split_regex(trim(text), '\s+'), ' ')]
               ELSE list_transform(range(0, len(string_split_regex(trim(text), '\s+')) - 2),
                 i -> array_to_string(list_slice(string_split_regex(trim(text), '\s+'), i+1, i+3), ' '))
             END) AS sh
           FROM documents),
         tr AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM td a JOIN td b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.sh, b.sh)) > 0
             AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
               CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.5),
         t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
         hs AS (
           SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(range(0, len(toks) - 2),
                 i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
             END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(s, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007))) AS sh
           FROM t),
         sg AS (
           SELECT doc_id, sh,
             list_transform(range(0, 64), j ->
               list_min(list_transform(sh, x ->
                 (((j + 1) * 1000003 + 12345) % 2147483647 * x
                   + ((j + 1) * 999983 + 54321) % 2147483647) % 2147483647))) AS sig
           FROM hs),
         bk AS (
           SELECT doc_id, b.band AS band,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_slice(sig, b.band * 4 + 1, b.band * 4 + 4)),
               (a, x) -> (a * 1000003 + x) % 1000000007) AS bucket
           FROM sg, (SELECT unnest(range(0, 16)) AS band) b),
         cand AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bk x JOIN bk y
             ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         n AS (
           SELECT (SELECT count(*) FROM tr) AS n_truth,
                  (SELECT count(*) FROM cand) AS n_cand,
                  (SELECT count(*) FROM tr JOIN cand USING (id_a, id_b)) AS n_matched)
         SELECT n_truth, n_cand, n_matched,
           n_matched * 1000000 // n_truth AS recall_micro,
           CASE WHEN n_cand = 0 THEN NULL
                ELSE n_matched * 1000000 // n_cand END AS precision_micro
         FROM n""",
    "sim_recall_ivfsq8" ->
      """WITH n AS (SELECT count(*) AS cnt FROM embeddings),
         hx AS (
           SELECT vec_id, embedding,
             ((((vec_id + 42) % 1000000007) * ((vec_id + 42) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v
           FROM embeddings),
         init AS (
           SELECT vec_id, embedding,
             ROW_NUMBER() OVER (ORDER BY (v * v) % 1000000007, vec_id) - 1 AS cell
           FROM hx
           QUALIFY cell < (SELECT greatest(16, CAST(ceil(sqrt(cnt)) AS BIGINT)) FROM n)),
         a0 AS (
           SELECT e.vec_id, i.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, i.embedding) DESC, i.cell) AS rk
           FROM embeddings e CROSS JOIN init i),
         a1 AS (SELECT vec_id, cell FROM a0 WHERE rk = 1),
         q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
           FROM embeddings),
         mp AS (
           SELECT a1.cell, p.pos,
             CAST(floor(CAST(sum(p.qx) AS DOUBLE) / count(*)) AS BIGINT) AS mq
           FROM a1 JOIN q USING (vec_id),
             LATERAL (SELECT unnest(qv) AS qx, generate_subscripts(qv, 1) AS pos) p
           GROUP BY a1.cell, p.pos),
         upd AS (
           SELECT cell, list_transform(array_agg(mq ORDER BY pos),
             m -> CAST(m / 1048576.0 AS FLOAT)) AS cv
           FROM mp GROUP BY cell),
         cents AS (
           SELECT i.cell, COALESCE(u.cv, i.embedding) AS cv
           FROM init i LEFT JOIN upd u USING (cell)),
         a2 AS (
           SELECT e.vec_id, c.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cell) AS rk
           FROM embeddings e CROSS JOIN cents c),
         assign AS (SELECT vec_id AS id, cell FROM a2 WHERE rk = 1),
         probes AS (SELECT vec_id AS query_id, cell FROM a2 WHERE rk <= 4),
         cand AS (
           SELECT DISTINCT p.query_id, a.id FROM probes p JOIN assign a USING (cell)
           WHERE a.id <> p.query_id),
         z AS (
           SELECT vec_id,
             127.0 / NULLIF(list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))), 0.0) AS scale,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         cz AS (
           SELECT vec_id,
             CASE WHEN scale IS NULL THEN list_transform(v, x -> 0.0)
               ELSE list_transform(v, x -> CAST(greatest(-127, least(127,
                 CAST(floor(x * scale + 0.5) AS BIGINT))) AS DOUBLE)) END AS cd
           FROM z),
         nn AS (SELECT vec_id, cd, list_dot_product(cd, cd) AS nsq FROM cz),
         sc AS (
           SELECT c.query_id, c.id,
             CASE WHEN a.nsq = 0 OR b.nsq = 0 THEN -2.0
               ELSE list_cosine_similarity(a.cd, b.cd)
             END AS code_cos
           FROM cand c
           JOIN nn a ON a.vec_id = c.query_id
           JOIN nn b ON b.vec_id = c.id),
         short AS (
           SELECT query_id, id FROM (
             SELECT query_id, id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY code_cos DESC, id) AS rk
             FROM sc)
           WHERE rk <= (SELECT greatest(40, CAST(ceil(2.0 *
             sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) FROM embeddings)),
         rr AS (
           SELECT s.query_id, s.id,
             ROW_NUMBER() OVER (PARTITION BY s.query_id
               ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC,
                 s.id) AS rk
           FROM short s
           JOIN embeddings qe ON qe.vec_id = s.query_id
           JOIN embeddings ce ON ce.vec_id = s.id),
         ivfsq AS (SELECT query_id, id AS nn_id FROM rr WHERE rk <= 10),
         bf0 AS (
           SELECT a.vec_id AS query_id, b.vec_id AS nn_id,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
               ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
                 b.vec_id) AS rk
           FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id),
         bf AS (SELECT query_id, nn_id FROM bf0 WHERE rk <= 10),
         m AS (SELECT count(*) AS n_matched
               FROM bf JOIN ivfsq USING (query_id, nn_id)),
         tq AS (SELECT count(*) AS n_truth FROM bf)
         SELECT CAST(tq.n_truth AS BIGINT) AS n_truth,
           CAST(m.n_matched AS BIGINT) AS n_matched,
           CAST(m.n_matched * 1000000 // tq.n_truth AS BIGINT) AS recall_micro
         FROM tq, m""",
    "sim_topk_ivfsq8" ->
      """WITH n AS (SELECT count(*) AS cnt FROM embeddings),
         hx AS (
           SELECT vec_id, embedding,
             ((((vec_id + 42) % 1000000007) * ((vec_id + 42) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v
           FROM embeddings),
         init AS (
           SELECT vec_id, embedding,
             ROW_NUMBER() OVER (ORDER BY (v * v) % 1000000007, vec_id) - 1 AS cell
           FROM hx
           QUALIFY cell < (SELECT greatest(16, CAST(ceil(sqrt(cnt)) AS BIGINT)) FROM n)),
         a0 AS (
           SELECT e.vec_id, i.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, i.embedding) DESC, i.cell) AS rk
           FROM embeddings e CROSS JOIN init i),
         a1 AS (SELECT vec_id, cell FROM a0 WHERE rk = 1),
         q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
           FROM embeddings),
         mp AS (
           SELECT a1.cell, p.pos,
             CAST(floor(CAST(sum(p.qx) AS DOUBLE) / count(*)) AS BIGINT) AS mq
           FROM a1 JOIN q USING (vec_id),
             LATERAL (SELECT unnest(qv) AS qx, generate_subscripts(qv, 1) AS pos) p
           GROUP BY a1.cell, p.pos),
         upd AS (
           SELECT cell, list_transform(array_agg(mq ORDER BY pos),
             m -> CAST(m / 1048576.0 AS FLOAT)) AS cv
           FROM mp GROUP BY cell),
         cents AS (
           SELECT i.cell, COALESCE(u.cv, i.embedding) AS cv
           FROM init i LEFT JOIN upd u USING (cell)),
         a2 AS (
           SELECT e.vec_id, c.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cell) AS rk
           FROM embeddings e CROSS JOIN cents c),
         assign AS (SELECT vec_id AS id, cell FROM a2 WHERE rk = 1),
         probes AS (SELECT vec_id AS query_id, cell FROM a2 WHERE rk <= 4),
         cand AS (
           SELECT DISTINCT p.query_id, a.id FROM probes p JOIN assign a USING (cell)
           WHERE a.id <> p.query_id),
         z AS (
           SELECT vec_id,
             127.0 / NULLIF(list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))), 0.0) AS scale,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         cz AS (
           SELECT vec_id,
             CASE WHEN scale IS NULL THEN list_transform(v, x -> 0.0)
               ELSE list_transform(v, x -> CAST(greatest(-127, least(127,
                 CAST(floor(x * scale + 0.5) AS BIGINT))) AS DOUBLE)) END AS cd
           FROM z),
         nn AS (SELECT vec_id, cd, list_dot_product(cd, cd) AS nsq FROM cz),
         sc AS (
           SELECT c.query_id, c.id,
             CASE WHEN a.nsq = 0 OR b.nsq = 0 THEN -2.0
               ELSE list_cosine_similarity(a.cd, b.cd)
             END AS code_cos
           FROM cand c
           JOIN nn a ON a.vec_id = c.query_id
           JOIN nn b ON b.vec_id = c.id),
         short AS (
           SELECT query_id, id FROM (
             SELECT query_id, id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY code_cos DESC, id) AS rk
             FROM sc)
           WHERE rk <= (SELECT greatest(4, CAST(ceil(2.0 *
             sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) FROM embeddings)),
         rr AS (
           SELECT s.query_id, s.id,
             ROW_NUMBER() OVER (PARTITION BY s.query_id
               ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC,
                 s.id) AS rk
           FROM short s
           JOIN embeddings qe ON qe.vec_id = s.query_id
           JOIN embeddings ce ON ce.vec_id = s.id)
         SELECT query_id, id AS nn_id FROM rr WHERE rk = 1 ORDER BY query_id""",
    "sim_topk_sq8" ->
      """WITH z AS (
           SELECT vec_id,
             127.0 / NULLIF(list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))), 0.0) AS scale,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         cz AS (
           SELECT vec_id,
             CASE WHEN scale IS NULL THEN list_transform(v, x -> 0.0)
               ELSE list_transform(v, x -> CAST(greatest(-127, least(127,
                 CAST(floor(x * scale + 0.5) AS BIGINT))) AS DOUBLE)) END AS cd
           FROM z),
         n AS (SELECT vec_id, cd, list_dot_product(cd, cd) AS nsq FROM cz),
         sc AS (
           SELECT a.vec_id AS query_id, b.vec_id AS id,
             CASE WHEN a.nsq = 0 OR b.nsq = 0 THEN -2.0
               ELSE list_cosine_similarity(a.cd, b.cd)
             END AS code_cos
           FROM n a JOIN n b ON b.vec_id <> a.vec_id),
         short AS (
           SELECT query_id, id FROM (
             SELECT query_id, id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY code_cos DESC, id) AS rk
             FROM sc)
           WHERE rk <= (SELECT greatest(4, CAST(ceil(2.0 *
             sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) FROM embeddings)),
         rr AS (
           SELECT s.query_id, s.id,
             ROW_NUMBER() OVER (PARTITION BY s.query_id
               ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC,
                 s.id) AS rk
           FROM short s
           JOIN embeddings qe ON qe.vec_id = s.query_id
           JOIN embeddings ce ON ce.vec_id = s.id)
         SELECT query_id, id AS nn_id FROM rr WHERE rk = 1 ORDER BY query_id""",
    "sim_topk_sign" ->
      """WITH sc AS (
           SELECT a.vec_id AS query_id, b.vec_id AS id,
             len(list_filter(range(0, 64),
               i -> (a.embedding[i+1] > 0) <> (b.embedding[i+1] > 0))) AS h
           FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id),
         short AS (
           SELECT query_id, id FROM (
             SELECT query_id, id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY h ASC, id) AS rk
             FROM sc)
           WHERE rk <= (SELECT greatest(4, CAST(ceil(2.0 *
             sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) FROM embeddings)),
         rr AS (
           SELECT s.query_id, s.id,
             ROW_NUMBER() OVER (PARTITION BY s.query_id
               ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC,
                 s.id) AS rk
           FROM short s
           JOIN embeddings qe ON qe.vec_id = s.query_id
           JOIN embeddings ce ON ce.vec_id = s.id)
         SELECT query_id, id AS nn_id FROM rr WHERE rk = 1 ORDER BY query_id""",
    "sim_recall_sign" ->
      """WITH sc AS (
           SELECT a.vec_id AS query_id, b.vec_id AS id,
             len(list_filter(range(0, 64),
               i -> (a.embedding[i+1] > 0) <> (b.embedding[i+1] > 0))) AS h
           FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id),
         short AS (
           SELECT query_id, id FROM (
             SELECT query_id, id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY h ASC, id) AS rk
             FROM sc)
           WHERE rk <= (SELECT greatest(40, CAST(ceil(2.0 *
             sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) FROM embeddings)),
         rr AS (
           SELECT s.query_id, s.id,
             ROW_NUMBER() OVER (PARTITION BY s.query_id
               ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC,
                 s.id) AS rk
           FROM short s
           JOIN embeddings qe ON qe.vec_id = s.query_id
           JOIN embeddings ce ON ce.vec_id = s.id),
         sg AS (SELECT query_id, id AS nn_id FROM rr WHERE rk <= 10),
         bf0 AS (
           SELECT a.vec_id AS query_id, b.vec_id AS nn_id,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
               ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
                 b.vec_id) AS rk
           FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id),
         bf AS (SELECT query_id, nn_id FROM bf0 WHERE rk <= 10),
         m AS (SELECT count(*) AS n_matched
               FROM bf JOIN sg USING (query_id, nn_id)),
         tt AS (SELECT count(*) AS n_truth FROM bf)
         SELECT CAST(m.n_matched AS BIGINT) AS n_matched,
           CAST(tt.n_truth AS BIGINT) AS n_truth,
           CAST(m.n_matched * 1000000 // tt.n_truth AS BIGINT) AS recall_micro
         FROM m, tt""",
    "sim_recall_sq8" ->
      """WITH z AS (
           SELECT vec_id,
             127.0 / NULLIF(list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))), 0.0) AS scale,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         cz AS (
           SELECT vec_id,
             CASE WHEN scale IS NULL THEN list_transform(v, x -> 0.0)
               ELSE list_transform(v, x -> CAST(greatest(-127, least(127,
                 CAST(floor(x * scale + 0.5) AS BIGINT))) AS DOUBLE)) END AS cd
           FROM z),
         n AS (SELECT vec_id, cd, list_dot_product(cd, cd) AS nsq FROM cz),
         sc AS (
           SELECT a.vec_id AS query_id, b.vec_id AS id,
             CASE WHEN a.nsq = 0 OR b.nsq = 0 THEN -2.0
               ELSE list_cosine_similarity(a.cd, b.cd)
             END AS code_cos
           FROM n a JOIN n b ON b.vec_id <> a.vec_id),
         short AS (
           SELECT query_id, id FROM (
             SELECT query_id, id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY code_cos DESC, id) AS rk
             FROM sc)
           WHERE rk <= (SELECT greatest(40, CAST(ceil(2.0 *
             sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) FROM embeddings)),
         rr AS (
           SELECT s.query_id, s.id,
             ROW_NUMBER() OVER (PARTITION BY s.query_id
               ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC,
                 s.id) AS rk
           FROM short s
           JOIN embeddings qe ON qe.vec_id = s.query_id
           JOIN embeddings ce ON ce.vec_id = s.id),
         sq AS (SELECT query_id, id AS nn_id FROM rr WHERE rk <= 10),
         bf0 AS (
           SELECT a.vec_id AS query_id, b.vec_id AS nn_id,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
               ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
                 b.vec_id) AS rk
           FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id),
         bf AS (SELECT query_id, nn_id FROM bf0 WHERE rk <= 10),
         m AS (SELECT count(*) AS n_matched
               FROM bf JOIN sq USING (query_id, nn_id)),
         tq AS (SELECT count(*) AS n_truth FROM bf)
         SELECT CAST(tq.n_truth AS BIGINT) AS n_truth,
           CAST(m.n_matched AS BIGINT) AS n_matched,
           CAST(m.n_matched * 1000000 // tq.n_truth AS BIGINT) AS recall_micro
         FROM tq, m""",
    "sim_topk_bruteforce" ->
      """SELECT a.vec_id AS query_id,
           (SELECT b.vec_id FROM embeddings b WHERE b.vec_id <> a.vec_id
            ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id
            LIMIT 1) AS nn_id
         FROM embeddings a ORDER BY query_id""",
    "dedup_winnow_pairs" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(range(0, len(toks) - 3),
                 i -> array_to_string(list_slice(toks, i + 1, i + 4), ' '))
             END AS shingles
           FROM t),
         h AS (
           SELECT doc_id,
             list_transform(shingles,
               s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(list_filter(string_split(s, ''), c -> c <> ''),
                   c -> CAST(unicode(c) AS BIGINT))),
                 (a, b) -> (a * 1000003 + b) % 1000000007)) AS hs
           FROM sh),
         wf AS (
           SELECT doc_id,
             CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
               ELSE list_distinct(list_transform(range(0, len(hs) - 3),
                 i -> list_min(list_slice(hs, i + 1, i + 4))))
             END AS fps
           FROM h),
         e AS (SELECT doc_id, unnest(fps) AS fp FROM wf)
         SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS shared_fps
         FROM e x JOIN e y ON x.fp = y.fp AND x.doc_id < y.doc_id
         GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY id_a, id_b""",
    "events_window_topk" ->
      """WITH c AS (
           SELECT CAST(floor(CAST(epoch_ms(ts) AS DOUBLE) / 3600000.0) AS BIGINT) * 3600000 AS win_ms,
                  event_type, COUNT(*) AS n
           FROM events GROUP BY 1, 2),
         r AS (
           SELECT win_ms, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY win_ms ORDER BY n DESC, event_type) AS rank
           FROM c)
         SELECT win_ms, rank, event_type, n FROM r WHERE rank <= 3
         ORDER BY win_ms, rank""",
    "text_dsir_weights" ->
      """WITH t AS (
           SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, source,
             CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(range(0, len(toks) - 1),
                 i -> array_to_string(list_slice(toks, i + 1, i + 2), ' '))
             END AS gs
           FROM t),
         occ AS (
           SELECT doc_id, source,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(u.g, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007) % 1024 AS b
           FROM sh, LATERAL (SELECT unnest(gs) AS g) u),
         ct AS (SELECT b, COUNT(*) AS ct FROM occ WHERE source = 'src0' GROUP BY b),
         cr AS (SELECT b, COUNT(*) AS cr FROM occ WHERE source <> 'src0' GROUP BY b),
         tt AS (SELECT COUNT(*) AS tt FROM occ WHERE source = 'src0'),
         tr AS (SELECT COUNT(*) AS tr FROM occ WHERE source <> 'src0'),
         ratio AS (
           SELECT r.b,
             CAST(floor(ln(
               CAST((COALESCE(ct.ct, 0) + 1) * (tr.tr + 1024) AS DOUBLE) /
               CAST((COALESCE(cr.cr, 0) + 1) * (tt.tt + 1024) AS DOUBLE))
               * 1000000.0) AS BIGINT) AS lr_micro
           FROM (SELECT unnest(range(0, 1024)) AS b) r
           LEFT JOIN ct USING (b) LEFT JOIN cr USING (b), tt, tr)
         SELECT o.doc_id, COUNT(*) AS n_grams,
           CAST(SUM(r.lr_micro) AS BIGINT) AS sum_lr_micro
         FROM occ o JOIN ratio r USING (b)
         WHERE o.source <> 'src0'
         GROUP BY o.doc_id ORDER BY o.doc_id""",
    "text_unigram_logprob" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents),
         uni AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
         tot AS (SELECT COUNT(*) AS total FROM toks)
         SELECT t.doc_id, COUNT(*) AS n_tok,
           CAST(SUM(CAST(floor(ln(CAST(u.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE))
             * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_lp_micro
         FROM toks t JOIN uni u USING (tok) CROSS JOIN tot
         GROUP BY t.doc_id ORDER BY t.doc_id""",
    "text_bigram_logprob" ->
      """WITH ts AS (
           SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ts
           FROM documents),
         toks AS (SELECT unnest(ts) AS w1 FROM ts),
         uni AS (SELECT w1, COUNT(*) AS c1 FROM toks GROUP BY w1),
         v AS (SELECT COUNT(*) AS vs FROM uni),
         bg AS (
           SELECT doc_id, ts[u.i + 1] AS w1, ts[u.i + 2] AS w2
           FROM ts, LATERAL (SELECT unnest(range(0, greatest(len(ts) - 1, 0))) AS i) u),
         bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2)
         SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(floor(ln(CAST(bc.c12 + 1 AS DOUBLE) / CAST(u.c1 + v.vs AS DOUBLE))
             * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_lp_micro
         FROM bg b
         JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
         JOIN uni u ON u.w1 = b.w1
         CROSS JOIN v
         GROUP BY b.doc_id ORDER BY b.doc_id""",
    "text_bigram_interp" ->
      """WITH ts AS (
           SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ts
           FROM documents),
         toks AS (SELECT unnest(ts) AS w1 FROM ts),
         uni AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM toks GROUP BY w1),
         tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS total FROM uni),
         bg AS (
           SELECT doc_id, ts[u.i + 1] AS w1, ts[u.i + 2] AS w2
           FROM ts, LATERAL (SELECT unnest(range(0, greatest(len(ts) - 1, 0))) AS i) u),
         bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2),
         sc AS (
           SELECT b.doc_id,
             greatest((3 * (bc.c12 * 1000000 // u1.c1)
               + 1 * (u2.c1 * 1000000 // t.total)) // 4, 1) AS pim
           FROM bg b
           JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
           JOIN uni u1 ON u1.w1 = b.w1
           JOIN uni u2 ON u2.w1 = b.w2
           CROSS JOIN tot t)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(floor(ln(CAST(pim AS DOUBLE) / 1000000.0)
             * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_lp_micro
         FROM sc GROUP BY doc_id ORDER BY doc_id""",
    "text_bigram_kn" ->
      """WITH ts AS (
           SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ts
           FROM documents),
         toks AS (SELECT unnest(ts) AS w1 FROM ts),
         uni AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM toks GROUP BY w1),
         bg AS (
           SELECT doc_id, ts[u.i + 1] AS w1, ts[u.i + 2] AS w2
           FROM ts, LATERAL (SELECT unnest(range(0, greatest(len(ts) - 1, 0))) AS i) u),
         bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2),
         nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntypes FROM bc),
         fw AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS n1fw FROM bc GROUP BY w1),
         bw AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1bw FROM bc GROUP BY w2),
         sc AS (
           SELECT b.doc_id,
             greatest(
               greatest((bc.c12 * 1000000 - 750000) // u1.c1, 0)
                 + (750000 * fw.n1fw // u1.c1)
                   * (bw.n1bw * 1000000 // nt.ntypes) // 1000000,
               1) AS pkn
           FROM bg b
           JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
           JOIN uni u1 ON u1.w1 = b.w1
           JOIN fw ON fw.w1 = b.w1
           JOIN bw ON bw.w2 = b.w2
           CROSS JOIN nt)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(floor(ln(CAST(pkn AS DOUBLE) / 1000000.0)
             * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_lp_micro
         FROM sc GROUP BY doc_id ORDER BY doc_id""",
    "q_approx_sketches" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS hll_within_3sigma, TRUE AS p50_within_rank_bounds,
           TRUE AS p99_within_rank_bounds
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_benford_audit" -> {
      val vals = graft.operators.Quality.benfordExpectedMicro
        .map { case (d, e) => s"($d, $e)" }.mkString(", ")
      s"""WITH expd AS (
           SELECT CAST(digit AS BIGINT) AS digit,
             CAST(exp_micro AS BIGINT) AS exp_micro
           FROM (VALUES $vals) AS t(digit, exp_micro)),
         v AS (
           SELECT l_extendedprice AS x FROM lineitem
           WHERE l_extendedprice > 0),
         dg AS (
           SELECT CASE WHEN d0 > 9 THEN 1 WHEN d0 < 1 THEN 9 ELSE d0 END
             AS digit, COUNT(*) AS n_d
           FROM (SELECT CAST(FLOOR(x / POWER(10.0, FLOOR(LOG10(x))))
                   AS BIGINT) AS d0 FROM v)
           GROUP BY 1),
         j AS (
           SELECT e.digit, CAST(COALESCE(d.n_d, 0) AS BIGINT) AS n_d,
             e.exp_micro
           FROM expd e LEFT JOIN dg d USING (digit)),
         t AS (SELECT *, CAST(SUM(n_d) OVER () AS BIGINT) AS n FROM j)
         SELECT digit, n_d, n, n_d * 1000000 // n AS obs_micro, exp_micro,
           abs(n_d * 1000000 // n - exp_micro) AS dev_micro
         FROM t WHERE n > 0 ORDER BY digit""" },
    "q_ddsketch_quantiles" ->
      s"""WITH v AS (
           SELECT l_extendedprice AS x FROM lineitem
           WHERE l_extendedprice > 0),
         sk AS (
           SELECT CAST(CEIL(ln(x) / $ddLnG) AS BIGINT) AS bucket,
             COUNT(*) AS cnt
           FROM v GROUP BY 1),
         c AS (
           SELECT bucket, cnt,
             CAST(SUM(cnt) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER () AS BIGINT) AS n
           FROM sk),
         q AS (
           SELECT CAST(unnest([500000, 900000, 990000, 999000]) AS BIGINT)
             AS q_micro),
         hit AS (
           SELECT q.q_micro, c.bucket, c.cnt, c.cum, c.n,
             ROW_NUMBER() OVER (PARTITION BY q.q_micro ORDER BY c.bucket) AS rn
           FROM q JOIN c ON c.cum > (q.q_micro * (c.n - 1)) // 1000000)
         SELECT q_micro, (q_micro * (n - 1)) // 1000000 AS rank_k,
           bucket, cnt, cum, n,
           CAST(FLOOR($ddMidC * exp(CAST(bucket AS DOUBLE) * $ddLnG))
             AS BIGINT) AS est_cents
         FROM hit WHERE rn = 1 ORDER BY q_micro""",
    "events_ddsketch_windowed" ->
      s"""WITH v AS (
           SELECT date_trunc('hour', ts) AS w, value AS x FROM events
           WHERE value > 0),
         sk AS (
           SELECT w, CAST(CEIL(ln(x) / $ddLnG) AS BIGINT) AS bucket,
             COUNT(*) AS cnt
           FROM v GROUP BY 1, 2),
         c AS (
           SELECT w, bucket, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY w ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER (PARTITION BY w) AS BIGINT) AS n
           FROM sk),
         q AS (
           SELECT CAST(unnest([500000, 900000]) AS BIGINT) AS q_micro),
         hit AS (
           SELECT c.w, q.q_micro, c.bucket, c.cnt, c.cum, c.n,
             ROW_NUMBER() OVER (PARTITION BY c.w, q.q_micro
               ORDER BY c.bucket) AS rn
           FROM q JOIN c ON c.cum > (q.q_micro * (c.n - 1)) // 1000000)
         SELECT w, q_micro, (q_micro * (n - 1)) // 1000000 AS rank_k,
           bucket, cnt, cum, n,
           CAST(FLOOR($ddMidC * exp(CAST(bucket AS DOUBLE) * $ddLnG))
             AS BIGINT) AS est_cents
         FROM hit WHERE rn = 1 ORDER BY w, q_micro""",
    "text_kmv_overlap" ->
      """WITH tt AS (
           SELECT DISTINCT source AS grp,
             unnest(string_split_regex(trim(text), '\s+')) AS term
           FROM documents),
         h AS (
           SELECT DISTINCT grp,
             ((fp * fp % 1000000007) * 1000003 + 54321) % 1000000007 AS u
           FROM (
             SELECT grp, list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(term, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007) AS fp
             FROM tt)),
         sk AS (
           SELECT grp, u, rn FROM (
             SELECT grp, u,
               ROW_NUMBER() OVER (PARTITION BY grp ORDER BY u) AS rn
             FROM h) WHERE rn <= 256),
         per AS (
           SELECT grp, COUNT(*) AS m, MAX(u) AS theta,
             CASE WHEN COUNT(*) < 256 THEN COUNT(*)
               ELSE 255000001785 // MAX(u) END AS est
           FROM sk GROUP BY grp),
         prs AS (
           SELECT a.grp AS src_a, b.grp AS src_b, a.est AS est_a,
             b.est AS est_b
           FROM per a JOIN per b ON a.grp < b.grp),
         side AS (
           SELECT p.src_a, p.src_b, s.u,
             MAX(CASE WHEN s.grp = p.src_a THEN 1 ELSE 0 END) AS has_a,
             MAX(CASE WHEN s.grp = p.src_b THEN 1 ELSE 0 END) AS has_b
           FROM prs p JOIN sk s ON s.grp = p.src_a OR s.grp = p.src_b
           GROUP BY 1, 2, 3),
         ranked AS (
           SELECT *,
             ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY u) AS rn,
             COUNT(*) OVER (PARTITION BY src_a, src_b) AS m_u
           FROM side),
         th AS (
           SELECT src_a, src_b, u AS theta FROM ranked WHERE rn = 256),
         ks AS (
           SELECT r.src_a, r.src_b,
             CAST(MAX(m_u) AS BIGINT) AS m_union,
             COALESCE(MAX(t.theta), 1000000007) AS theta,
             CAST(SUM(CASE WHEN has_a = 1 AND has_b = 1
               AND u < COALESCE(t.theta, 1000000007)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_ib,
             CAST(SUM(CASE WHEN has_a = 1 AND has_b = 0
               AND u < COALESCE(t.theta, 1000000007)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_ab,
             CAST(SUM(CASE WHEN has_a = 0 AND has_b = 1
               AND u < COALESCE(t.theta, 1000000007)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_ba
           FROM ranked r LEFT JOIN th t USING (src_a, src_b)
           GROUP BY 1, 2),
         eg AS (SELECT grp, COUNT(*) AS exact_n FROM tt GROUP BY grp),
         ei AS (
           SELECT a.grp AS src_a, b.grp AS src_b, COUNT(*) AS exact_inter
           FROM tt a JOIN tt b ON a.term = b.term AND a.grp < b.grp
           GROUP BY 1, 2)
         SELECT p.src_a, p.src_b, p.est_a, p.est_b,
           CASE WHEN k.m_union < 256 THEN k.m_union
             ELSE 255000001785 // k.theta END AS est_union,
           CASE WHEN k.theta = 1000000007 THEN k.n_ib
             ELSE k.n_ib * 1000000007 // k.theta END AS est_inter,
           CASE WHEN k.theta = 1000000007 THEN k.n_ab
             ELSE k.n_ab * 1000000007 // k.theta END AS est_a_minus_b,
           CASE WHEN k.theta = 1000000007 THEN k.n_ba
             ELSE k.n_ba * 1000000007 // k.theta END AS est_b_minus_a,
           k.n_ib * 1000000 // LEAST(255, k.m_union) AS jacc_micro,
           ea.exact_n AS exact_a, eb.exact_n AS exact_b,
           ea.exact_n + eb.exact_n - COALESCE(i.exact_inter, 0) AS exact_union,
           COALESCE(i.exact_inter, 0) AS exact_inter,
           ea.exact_n - COALESCE(i.exact_inter, 0) AS exact_a_minus_b,
           eb.exact_n - COALESCE(i.exact_inter, 0) AS exact_b_minus_a,
           COALESCE(i.exact_inter, 0) * 1000000
             // (ea.exact_n + eb.exact_n - COALESCE(i.exact_inter, 0))
             AS exact_jacc_micro
         FROM prs p
         JOIN ks k USING (src_a, src_b)
         JOIN eg ea ON ea.grp = p.src_a
         JOIN eg eb ON eb.grp = p.src_b
         LEFT JOIN ei i USING (src_a, src_b)
         ORDER BY p.src_a, p.src_b""",
    "dedup_cluster_best" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
         hs AS (
           SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(range(0, len(toks) - 2),
                 i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
             END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(s, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007))) AS sh
           FROM t),
         sg AS (
           SELECT doc_id, sh,
             list_transform(range(0, 64), j ->
               list_min(list_transform(sh, x ->
                 (((j + 1) * 1000003 + 12345) % 2147483647 * x
                   + ((j + 1) * 999983 + 54321) % 2147483647) % 2147483647))) AS sig
           FROM hs),
         bk AS (
           SELECT doc_id, b.band AS band,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_slice(sig, b.band * 2 + 1, b.band * 2 + 2)),
               (a, x) -> (a * 1000003 + x) % 1000000007) AS bucket
           FROM sg, (SELECT unnest(range(0, 32)) AS band) b),
         cand AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bk x JOIN bk y
             ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         p AS (
           SELECT c.id_a, c.id_b
           FROM cand c JOIN hs a ON a.doc_id = c.id_a JOIN hs b ON b.doc_id = c.id_b
           WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.5),
         e AS (
           SELECT id_a AS src, id_b AS dst FROM p
           UNION ALL SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r2.id, e.dst FROM reach r2 JOIN e ON e.src = r2.r),
         comp AS (SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id),
         q AS (
           SELECT doc_id,
             least(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 50.0, 1.0) AS len_score,
             least((CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                 t -> t IN ('the','a','an','of','to','and','in','is','it','for','on','with'))) AS DOUBLE) /
               CAST(NULLIF(len(string_split_regex(trim(text), '\s+')), 0) AS DOUBLE)) * 5.0, 1.0) AS stop_score,
             least(coalesce(CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE) /
               CAST(NULLIF(length(text), 0) AS DOUBLE), 0.0) * 2.0, 1.0) AS punct_penalty
           FROM documents),
         scored AS (
           SELECT doc_id,
             CAST(floor(((len_score * 0.5 + stop_score * 0.4) * (1.0 - punct_penalty * 0.5) + 0.1)
               * 10000.0 + 0.5) AS BIGINT) AS quality_q4
           FROM q),
         best AS (
           SELECT c.doc_id, s.quality_q4,
             ROW_NUMBER() OVER (PARTITION BY c.component
               ORDER BY s.quality_q4 DESC, c.doc_id) AS rk
           FROM comp c JOIN scored s USING (doc_id))
         SELECT doc_id, quality_q4 FROM best WHERE rk = 1 ORDER BY doc_id""",
    "dedup_cluster_incremental" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         hs AS (
           SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(range(0, len(toks) - 2),
                 i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
             END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(s, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007))) AS sh
           FROM t),
         sg AS (
           SELECT doc_id, sh,
             list_transform(range(0, 64), j ->
               list_min(list_transform(sh, x ->
                 (((j + 1) * 1000003 + 12345) % 2147483647 * x
                   + ((j + 1) * 999983 + 54321) % 2147483647) % 2147483647))) AS sig
           FROM hs),
         bk AS (
           SELECT doc_id, b.band AS band,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_slice(sig, b.band * 4 + 1, b.band * 4 + 4)),
               (a, x) -> (a * 1000003 + x) % 1000000007) AS bucket
           FROM sg, (SELECT unnest(range(0, 16)) AS band) b),
         cand AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bk x JOIN bk y
             ON x.band = y.band AND x.bucket = y.bucket
             AND x.doc_id < y.doc_id),
         p AS (
           SELECT c.id_a, c.id_b
           FROM cand c JOIN hs a ON a.doc_id = c.id_a
                       JOIN hs b ON b.doc_id = c.id_b
           WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.5),
         e AS (
           SELECT id_a AS src, id_b AS dst FROM p
           UNION ALL SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r2.id, e.dst FROM reach r2 JOIN e ON e.src = r2.r)
         SELECT id AS doc_id, MIN(r) AS cluster_id
         FROM reach GROUP BY id ORDER BY doc_id""",
    "dedup_editidx_gate" ->
      """WITH delta AS (
           SELECT c_custkey AS delta_id, c_name AS s FROM customer
           WHERE c_custkey % 5 = 0 AND c_name IS NOT NULL),
         corp AS (
           SELECT c_custkey AS index_id, c_name AS s FROM customer
           WHERE c_custkey % 5 <> 0 AND c_name IS NOT NULL)
         SELECT d.delta_id, c.index_id,
           CAST(levenshtein(d.s, c.s) AS BIGINT) AS dist
         FROM delta d JOIN corp c
           ON abs(length(d.s) - length(c.s)) <= 1
           AND levenshtein(d.s, c.s) <= 1
         ORDER BY delta_id, index_id""",
    "dedup_edit_join" ->
      """WITH strs AS (
           SELECT c_custkey AS id, c_name AS s FROM customer
           WHERE c_name IS NOT NULL),
         g AS (
           SELECT id, s, list_distinct(list_prepend(s,
             list_transform(range(1, length(s) + 1),
               i -> substr(s, 1, i - 1) || substr(s, i + 1, length(s)))))
             AS vars
           FROM strs),
         gl AS (SELECT id, s, unnest(vars) AS v FROM g),
         cand AS (
           SELECT DISTINCT a.id AS a_id, a.s AS a_s, b.id AS b_id, b.s AS b_s
           FROM gl a JOIN gl b ON a.v = b.v AND a.id < b.id
             AND abs(length(a.s) - length(b.s)) <= 1)
         SELECT a_id, b_id, CAST(levenshtein(a_s, b_s) AS BIGINT) AS dist
         FROM cand WHERE levenshtein(a_s, b_s) <= 1
         ORDER BY a_id, b_id""",
    "dedup_edit_join_pruned" ->
      """WITH strs AS (
           SELECT c_custkey AS id, reverse(c_name) AS s FROM customer
           WHERE c_name IS NOT NULL AND c_custkey % 7 = 0),
         g AS (
           SELECT id, s, substr(s, 1, 12) AS p FROM strs),
         vv AS (
           SELECT id, s, list_distinct(list_concat(
             list_prepend(p,
               list_transform(range(1, length(p) + 1),
                 i -> substr(p, 1, i - 1) || substr(p, i + 1, length(p)))),
             flatten(list_transform(range(1, length(p)),
               i -> list_transform(range(i + 1, length(p) + 1),
                 j -> substr(p, 1, i - 1) || substr(p, i + 1, j - i - 1)
                   || substr(p, j + 1, length(p)))))))
             AS vars
           FROM g),
         gl AS (SELECT id, s, unnest(vars) AS v FROM vv),
         cand AS (
           SELECT DISTINCT a.id AS a_id, a.s AS a_s, b.id AS b_id, b.s AS b_s
           FROM gl a JOIN gl b ON a.v = b.v AND a.id < b.id
             AND abs(length(a.s) - length(b.s)) <= 2)
         SELECT a_id, b_id, CAST(levenshtein(a_s, b_s) AS BIGINT) AS dist
         FROM cand WHERE levenshtein(a_s, b_s) <= 2
         ORDER BY a_id, b_id""",
    "dedup_bbit_eval" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         hs AS (
           SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(range(0, len(toks) - 2),
                 i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
             END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(s, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007))) AS sh
           FROM t),
         sg AS (
           SELECT doc_id, sh,
             list_transform(range(0, 64), j ->
               list_min(list_transform(sh, x ->
                 (((j + 1) * 1000003 + 12345) % 2147483647 * x
                   + ((j + 1) * 999983 + 54321) % 2147483647) % 2147483647))) AS sig
           FROM hs),
         bk AS (
           SELECT doc_id, b.band AS band,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_slice(sig, b.band * 4 + 1, b.band * 4 + 4)),
               (a, x) -> (a * 1000003 + x) % 1000000007) AS bucket
           FROM sg, (SELECT unnest(range(0, 16)) AS band) b),
         cand AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bk x JOIN bk y
             ON x.band = y.band AND x.bucket = y.bucket
             AND x.doc_id < y.doc_id),
         p AS (
           SELECT c.id_a, c.id_b, a.sh AS sh_a, a.sig AS sig_a,
             b.sh AS sh_b, b.sig AS sig_b
           FROM cand c JOIN sg a ON a.doc_id = c.id_a
           JOIN sg b ON b.doc_id = c.id_b),
         m AS (
           SELECT id_a, id_b,
             CAST(len(list_intersect(sh_a, sh_b)) AS BIGINT) AS i,
             CAST(len(sh_a) + len(sh_b)
               - len(list_intersect(sh_a, sh_b)) AS BIGINT) AS u,
             CAST(len(list_filter(range(1, 65),
               j -> sig_a[j] = sig_b[j])) AS BIGINT) AS mf,
             CAST(len(list_filter(range(1, 65),
               j -> sig_a[j] % 16 = sig_b[j] % 16)) AS BIGINT) AS m4,
             CAST(len(list_filter(range(1, 65),
               j -> sig_a[j] % 2 = sig_b[j] % 2)) AS BIGINT) AS m1
           FROM p)
         SELECT id_a, id_b,
           i * 1000000 // u AS jacc_micro,
           mf * 1000000 // 64 AS est_full_micro,
           greatest(0, (m4 * 16 - 64) * 1000000 // 960) AS est_b4_micro,
           greatest(0, (m1 * 2 - 64) * 1000000 // 64) AS est_b1_micro
         FROM m WHERE u > 0 ORDER BY id_a, id_b""",
    "dedup_minhash_cross" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
             doc_id % 5 = 0 AS is_delta
           FROM documents),
         hs AS (
           SELECT doc_id, is_delta, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(range(0, len(toks) - 2),
                 i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
             END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(s, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007))) AS sh
           FROM t),
         sg AS (
           SELECT doc_id, is_delta, sh,
             list_transform(range(0, 64), j ->
               list_min(list_transform(sh, x ->
                 (((j + 1) * 1000003 + 12345) % 2147483647 * x
                   + ((j + 1) * 999983 + 54321) % 2147483647) % 2147483647))) AS sig
           FROM hs),
         bk AS (
           SELECT doc_id, is_delta, b.band AS band,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_slice(sig, b.band * 4 + 1, b.band * 4 + 4)),
               (a, x) -> (a * 1000003 + x) % 1000000007) AS bucket
           FROM sg, (SELECT unnest(range(0, 16)) AS band) b),
         cand AS (
           SELECT DISTINCT x.doc_id AS delta_id, y.doc_id AS corpus_id
           FROM bk x JOIN bk y
             ON x.band = y.band AND x.bucket = y.bucket
             AND x.is_delta AND NOT y.is_delta),
         v AS (
           SELECT c.delta_id, c.corpus_id,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
               CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
           FROM cand c JOIN hs a ON a.doc_id = c.delta_id JOIN hs b ON b.doc_id = c.corpus_id)
         SELECT delta_id, corpus_id, jaccard FROM v
         WHERE jaccard >= 0.5 ORDER BY delta_id, corpus_id""",
    "multimodal_decode_bmp" ->
      """WITH p AS (
           SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
           FROM documents),
         f AS (
           SELECT doc_id, w, h,
             list_transform(range(0, w * h * 3),
               k -> (doc_id * 31 + k * 7) % 256) AS px
           FROM p)
         SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(px[1] AS BIGINT) AS r00,
           CAST(px[2] AS BIGINT) AS g00,
           CAST(px[3] AS BIGINT) AS b00,
           CAST(list_sum(px) AS BIGINT) AS sum_rgb,
           CAST(list_max(px) AS BIGINT) AS max_chan
         FROM f ORDER BY doc_id""",
    "multimodal_dhash" -> imageDhashOracle(
      """SELECT a.doc_id, a.dhash, a.ahash, b.phash
         FROM hashes89 a JOIN hashes32 b USING (doc_id)
         ORDER BY a.doc_id"""),
    "multimodal_dhash_pairs" -> imageDhashOracle(
      """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS dist
         FROM hashes89 a JOIN hashes89 b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
         ORDER BY a_id, b_id"""),
    "multimodal_phash_pairs" -> imageDhashOracle(
      """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS dist
         FROM hashes32 a JOIN hashes32 b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.phash, b.phash)) <= 3
         ORDER BY a_id, b_id"""),
    "dedup_imageidx_gate" -> imageDhashOracle(
      """SELECT a.doc_id AS delta_id, b.doc_id AS index_id,
           CAST(bit_count(xor(a.dhash, b.dhash))
              + bit_count(xor(pa.phash, pb.phash)) AS BIGINT) AS dist
         FROM hashes89 a, hashes89 b, hashes32 pa, hashes32 pb
         WHERE pa.doc_id = a.doc_id AND pb.doc_id = b.doc_id
           AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
           AND bit_count(xor(a.dhash, b.dhash))
             + bit_count(xor(pa.phash, pb.phash)) <= 3
         ORDER BY delta_id, index_id"""),
    "multimodal_audiohash" -> audioHashOracle(
      "SELECT doc_id, audiohash, envhash FROM ahx ORDER BY doc_id",
      nExpr = "32 + doc_id % 96",
      sampleExpr = "(doc_id * 7919 + i * 2503) % 65536 - 32768"),
    "dedup_audioidx_gate" -> audioHashOracle(
      """SELECT a.doc_id AS delta_id, b.doc_id AS index_id,
           CAST(bit_count(xor(a.envhash, b.envhash))
              + bit_count(xor(a.audiohash, b.audiohash)) AS BIGINT) AS dist
         FROM ahx a, ahx b
         WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
           AND bit_count(xor(a.envhash, b.envhash))
             + bit_count(xor(a.audiohash, b.audiohash)) <= 3
         ORDER BY delta_id, index_id""",
      nExpr = "32 + base % 96",
      sampleExpr = """((base * 7919 + i * 2503) % 65536 +
        CASE WHEN i < 3 THEN v ELSE 0 END) % 65536 - 32768"""),
    "multimodal_audiohash_pairs" -> audioHashOracle(
      """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.audiohash, b.audiohash)) AS BIGINT) AS dist
         FROM ah a JOIN ah b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.audiohash, b.audiohash)) <= 3
         ORDER BY a_id, b_id""",
      nExpr = "32 + base % 96",
      sampleExpr = """((base * 7919 + i * 2503) % 65536 +
        CASE WHEN i < 3 THEN v ELSE 0 END) % 65536 - 32768"""),
    "multimodal_videohash" -> videoHashOracle(
      "SELECT doc_id, vidhash, envhash FROM vhx ORDER BY doc_id",
      wExpr = "8 + doc_id % 5", hExpr = "6 + doc_id % 3",
      fExpr = "8 + doc_id % 9",
      lumExpr = "(doc_id * 31 + i * 7) % 256"),
    "dedup_vididx_gate" -> videoHashOracle(
      """SELECT a.doc_id AS delta_id, b.doc_id AS index_id,
           CAST(bit_count(xor(a.envhash, b.envhash))
              + bit_count(xor(a.vidhash, b.vidhash)) AS BIGINT) AS dist
         FROM vhx a, vhx b
         WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
           AND bit_count(xor(a.envhash, b.envhash))
             + bit_count(xor(a.vidhash, b.vidhash)) <= 3
         ORDER BY delta_id, index_id""",
      wExpr = "8 + base % 5", hExpr = "6 + base % 3",
      fExpr = "8 + base % 9",
      lumExpr = """(base * 31 + i * 7 +
        CASE WHEN i < 3 THEN v ELSE 0 END) % 256"""),
    "multimodal_videohash_pairs" -> videoHashOracle(
      """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.vidhash, b.vidhash)) AS BIGINT) AS dist
         FROM vh a JOIN vh b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.vidhash, b.vidhash)) <= 3
         ORDER BY a_id, b_id""",
      wExpr = "8 + base % 5", hExpr = "6 + base % 3",
      fExpr = "8 + base % 9",
      lumExpr = """(base * 31 + i * 7 +
        CASE WHEN i < 3 THEN v ELSE 0 END) % 256"""),
    "multimodal_decode_wav" ->
      """WITH p AS (
           SELECT doc_id, 32 + doc_id % 96 AS n FROM documents),
         s AS (
           SELECT doc_id, n,
             list_transform(range(0, n),
               i -> (doc_id * 7919 + i * 2503) % 65536 - 32768) AS smp
           FROM p)
         SELECT doc_id,
           CAST(n * 1000 // 8000 AS BIGINT) AS dur_ms,
           CAST(n AS BIGINT) AS n_samples,
           CAST(smp[1] AS BIGINT) AS s_first,
           CAST(smp[n] AS BIGINT) AS s_last,
           CAST(list_sum(list_transform(smp, x -> abs(x))) AS BIGINT) AS sum_abs
         FROM s ORDER BY doc_id""",
    "multimodal_decode_mulaw" ->
      """WITH p AS (
           SELECT doc_id, 32 + doc_id % 96 AS n FROM documents),
         s AS (
           SELECT doc_id, n,
             list_transform(range(0, n), i ->
               CASE WHEN (255 - (doc_id * 131 + i * 29) % 256) >= 128
                 THEN 132 - ((((255 - (doc_id * 131 + i * 29) % 256) % 16) * 8 + 132)
                   * (1 << (((255 - (doc_id * 131 + i * 29) % 256) // 16) % 8)))
                 ELSE ((((255 - (doc_id * 131 + i * 29) % 256) % 16) * 8 + 132)
                   * (1 << (((255 - (doc_id * 131 + i * 29) % 256) // 16) % 8))) - 132
               END) AS smp
           FROM p)
         SELECT doc_id,
           CAST(n * 1000 // 8000 AS BIGINT) AS dur_ms,
           CAST(n AS BIGINT) AS n_samples,
           CAST(smp[1] AS BIGINT) AS s_first,
           CAST(smp[n] AS BIGINT) AS s_last,
           CAST(list_sum(list_transform(smp, x -> abs(x))) AS BIGINT) AS sum_abs
         FROM s ORDER BY doc_id""",
    "multimodal_decode_alaw" ->
      """WITH p AS (
           SELECT doc_id, 32 + doc_id % 96 AS n FROM documents),
         a AS (
           SELECT doc_id, n,
             list_transform(range(0, n),
               i -> xor((doc_id * 131 + i * 29) % 256, 85)) AS av
           FROM p),
         s AS (
           SELECT doc_id, n,
             list_transform(av, v ->
               CASE WHEN v >= 128 THEN 1 ELSE -1 END *
               CASE (v // 16) % 8
                 WHEN 0 THEN (v % 16) * 16 + 8
                 WHEN 1 THEN (v % 16) * 16 + 264
                 ELSE ((v % 16) * 16 + 264) * (1 << ((v // 16) % 8 - 1))
               END) AS smp
           FROM a)
         SELECT doc_id,
           CAST(n * 1000 // 8000 AS BIGINT) AS dur_ms,
           CAST(n AS BIGINT) AS n_samples,
           CAST(smp[1] AS BIGINT) AS s_first,
           CAST(smp[n] AS BIGINT) AS s_last,
           CAST(list_sum(list_transform(smp, x -> abs(x))) AS BIGINT) AS sum_abs
         FROM s ORDER BY doc_id""",
    "multimodal_decode_adpcm" ->
      """WITH RECURSIVE p AS (
           SELECT doc_id,
             16 + 2 * (doc_id % 8) AS nn,
             (doc_id * 7919) % 65536 - 32768 AS pred0,
             doc_id % 89 AS idx0
           FROM documents),
         tabs AS (
           SELECT
             [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,
              60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,
              307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,
              1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,
              4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,
              12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,
              32767] AS st,
             [-1,-1,-1,-1,2,4,6,8,-1,-1,-1,-1,2,4,6,8] AS adj),
         r AS (
           SELECT doc_id, nn, 0 AS i, pred0 AS pred, idx0 AS idx,
             abs(pred0) AS sabs
           FROM p
           UNION ALL
           SELECT doc_id, nn, i + 1,
             greatest(-32768, least(32767,
               pred + CASE WHEN nib >= 8 THEN -diff ELSE diff END)) AS pred,
             greatest(0, least(88, idx + adj[nib + 1])) AS idx,
             sabs + abs(greatest(-32768, least(32767,
               pred + CASE WHEN nib >= 8 THEN -diff ELSE diff END)))
           FROM (
             SELECT r.doc_id, r.nn, r.i, r.pred, r.idx, r.sabs, tabs.adj,
               (r.doc_id * 13 + r.i * 5) % 16 AS nib,
               tabs.st[r.idx + 1] // 8
                 + (((r.doc_id * 13 + r.i * 5) % 16) % 2) * (tabs.st[r.idx + 1] // 4)
                 + ((((r.doc_id * 13 + r.i * 5) % 16) // 2) % 2) * (tabs.st[r.idx + 1] // 2)
                 + ((((r.doc_id * 13 + r.i * 5) % 16) // 4) % 2) * tabs.st[r.idx + 1]
                 AS diff
             FROM r, tabs WHERE r.i < r.nn) x)
         SELECT doc_id,
           CAST((nn + 1) * 1000 // 8000 AS BIGINT) AS dur_ms,
           CAST(nn + 1 AS BIGINT) AS n_samples,
           CAST((doc_id * 7919) % 65536 - 32768 AS BIGINT) AS s_first,
           CAST(pred AS BIGINT) AS s_last,
           CAST(sabs AS BIGINT) AS sum_abs
         FROM r WHERE i = nn ORDER BY doc_id""",
    "multimodal_decode_mp3" ->
      """SELECT doc_id,
           CAST((2 + doc_id % 4) * 1152 * 1000 // 44100 AS BIGINT) AS dur_ms,
           CAST(44100 AS BIGINT) AS sample_rate,
           CAST((2 + doc_id % 4) * 1152 AS BIGINT) AS n_samples,
           CAST(128 AS BIGINT) AS bitrate_kbps,
           CAST(2 + doc_id % 4 AS BIGINT) AS n_frames
         FROM documents ORDER BY doc_id""",
    "multimodal_decode_flac" ->
      """SELECT doc_id,
           CAST((1000 + doc_id % 4096) * 1000
             // (8000 * (1 + doc_id % 3)) AS BIGINT) AS dur_ms,
           CAST(1 + doc_id % 2 AS BIGINT) AS channels,
           CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate,
           CAST(1000 + doc_id % 4096 AS BIGINT) AS n_samples,
           CAST(16 AS BIGINT) AS bits
         FROM documents ORDER BY doc_id""",
    "multimodal_decode_ogg" ->
      """SELECT doc_id,
           CAST((2000 + doc_id % 4096) * 1000
             // (8000 * (1 + doc_id % 3)) AS BIGINT) AS dur_ms,
           CAST(1 + doc_id % 2 AS BIGINT) AS channels,
           CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate,
           CAST(2000 + doc_id % 4096 AS BIGINT) AS n_samples,
           CAST(64 + doc_id % 8 AS BIGINT) AS bitrate_kbps
         FROM documents ORDER BY doc_id""",
    "multimodal_decode_gif" ->
      """SELECT doc_id,
           CAST(8 + doc_id % 200 AS INTEGER) AS width,
           CAST(8 + doc_id % 160 AS INTEGER) AS height,
           CAST(1 << CAST(1 + doc_id % 8 AS INTEGER) AS BIGINT) AS palette,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 87 ELSE 89 END AS BIGINT) AS version
         FROM documents ORDER BY doc_id""",
    "multimodal_decode_jpeg" ->
      """SELECT doc_id,
           CAST(16 + doc_id % 240 AS INTEGER) AS width,
           CAST(16 + doc_id % 180 AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 3 END AS BIGINT) AS channels,
           CAST(8 AS BIGINT) AS bits
         FROM documents ORDER BY doc_id""",
    "multimodal_decode_mp4" ->
      """SELECT doc_id,
           CAST(16 + doc_id % 304 AS INTEGER) AS width,
           CAST(16 + doc_id % 176 AS INTEGER) AS height,
           CAST((10000 + doc_id % 90000) * 1000
             // (1000 * (1 + doc_id % 3)) AS BIGINT) AS dur_ms,
           CAST(1 + doc_id % 3 AS BIGINT) AS n_tracks,
           CAST(1000 * (1 + doc_id % 3) AS BIGINT) AS timescale
         FROM documents ORDER BY doc_id""",
    "multimodal_decode_exif" ->
      """SELECT doc_id,
           CAST(16 + doc_id % 240 AS INTEGER) AS width,
           CAST(16 + doc_id % 180 AS INTEGER) AS height,
           CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
           CAST(1 + doc_id % 2 AS BIGINT) AS byte_order
         FROM documents ORDER BY doc_id""",
    "multimodal_decode_webm" ->
      """SELECT doc_id,
           CAST(16 + doc_id % 624 AS INTEGER) AS width,
           CAST(16 + doc_id % 344 AS INTEGER) AS height,
           CAST((30000 + doc_id % 90000) * (500000 * (1 + doc_id % 2))
             // 1000000 AS BIGINT) AS dur_ms,
           CAST(1 + doc_id % 2 AS BIGINT) AS n_tracks,
           CAST(500000 * (1 + doc_id % 2) AS BIGINT) AS timescale
         FROM documents ORDER BY doc_id""",
    "multimodal_decode_avif" ->
      """SELECT doc_id,
           CAST(8 + doc_id % 320 AS INTEGER) AS width,
           CAST(8 + doc_id % 240 AS INTEGER) AS height,
           CAST(1 + doc_id % 4 AS BIGINT) AS channels,
           CAST(CASE WHEN doc_id % 4 = 3 THEN 10 ELSE 8 END AS BIGINT) AS depth,
           CAST(doc_id % 3 AS BIGINT) AS brand
         FROM documents ORDER BY doc_id""",
    "multimodal_decode_webp" ->
      """SELECT doc_id,
           CAST(8 + doc_id % 300 AS INTEGER) AS width,
           CAST(8 + doc_id % 200 AS INTEGER) AS height,
           CAST(doc_id % 3 AS BIGINT) AS variant,
           CAST(CASE WHEN doc_id % 3 <> 0 AND doc_id % 2 = 1
             THEN 1 ELSE 0 END AS BIGINT) AS alpha
         FROM documents ORDER BY doc_id""",
    "multimodal_decode_tiff" ->
      """SELECT doc_id,
           CAST(8 + doc_id % 500 AS INTEGER) AS width,
           CAST(8 + doc_id % 400 AS INTEGER) AS height,
           CAST(1 + doc_id % 4 AS BIGINT) AS spp,
           CAST(doc_id % 2 AS BIGINT) AS big_endian
         FROM documents ORDER BY doc_id""",
    "multimodal_frame_sample" ->
      """WITH m AS (
           SELECT doc_id,
             ((10000 + doc_id % 90000) * 1000
               // (1000 * (1 + doc_id % 3))) // 40 AS n_frames
           FROM documents)
         SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
           CAST(r.i * n_frames // 4 AS BIGINT) AS frame_idx
         FROM m, range(4) r(i)
         ORDER BY doc_id, frame_idx""",
    "multimodal_features" ->
      """SELECT doc_id,
           CASE WHEN octet_length(encode(substr(text, 1, 256))) = 0
             THEN NULL ELSE 'txt' END AS fmt,
           CASE WHEN octet_length(encode(substr(text, 1, 256))) = 0
             THEN NULL
             ELSE CAST(octet_length(encode(substr(text, 1, 256))) AS BIGINT) END AS n_bytes,
           CASE WHEN octet_length(encode(substr(text, 1, 256))) = 0
             THEN NULL ELSE CAST(16 AS INTEGER) END AS dim
         FROM documents ORDER BY doc_id""",
    "q_pack_sequences" ->
      """WITH tc AS (
           SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
           FROM documents),
         c AS (
           SELECT doc_id, n,
             CAST(SUM(n) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS start
           FROM tc)
         SELECT doc_id, n, start,
           start // 512 AS seq_id, start % 512 AS seq_offset,
           CASE WHEN n = 0 THEN 0
             ELSE (start + n - 1) // 512 - start // 512 + 1 END AS n_seqs
         FROM c ORDER BY doc_id""",
    "q_pack_ffd" ->
      """WITH RECURSIVE tc AS (
           SELECT doc_id AS id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
           FROM documents),
         h AS (
           SELECT id, n,
             ((((id + 7) % 1000000007) * ((id + 7) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v
           FROM tc),
         sh AS (
           SELECT id, n, CAST((v * v) % 1000000007 % 8 AS INTEGER) AS shard
           FROM h),
         ord AS (
           SELECT id, n, shard,
             CAST(ROW_NUMBER() OVER (PARTITION BY shard
               ORDER BY n DESC, id) AS BIGINT) AS rn
           FROM sh WHERE n <= 512),
         ffd AS (
           SELECT shard, CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS id,
                  CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS seq,
                  CAST([] AS BIGINT[]) AS rem
           FROM (SELECT DISTINCT shard FROM ord)
           UNION ALL
           SELECT shard, rn, id, n,
             CASE WHEN pos = 0 THEN CAST(len(rem0) AS BIGINT)
                  ELSE pos - 1 END AS seq,
             CASE WHEN pos = 0 THEN list_append(rem0, 512 - n)
                  ELSE list_concat(list_concat(
                         rem0[1:CAST(pos - 1 AS INTEGER)],
                         [rem0[CAST(pos AS INTEGER)] - n]),
                         rem0[CAST(pos + 1 AS INTEGER):len(rem0)]) END AS rem
           FROM (
             SELECT f.shard AS shard, f.rn + 1 AS rn, o.id AS id, o.n AS n,
                    f.rem AS rem0,
                    CAST(COALESCE(list_position(
                      list_transform(f.rem, r -> r >= o.n), true), 0)
                      AS BIGINT) AS pos
             FROM ffd f JOIN ord o
               ON o.shard = f.shard AND o.rn = f.rn + 1))
         SELECT id AS doc_id, n, shard, seq FROM (
           SELECT id, n, shard, seq FROM ffd WHERE rn > 0
           UNION ALL
           SELECT id, n, shard, CAST(-1 AS BIGINT) AS seq
           FROM sh WHERE n > 512)
         ORDER BY doc_id""",
    "q_pack_efficiency" ->
      """WITH RECURSIVE tc AS (
           SELECT doc_id AS id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
           FROM documents),
         h AS (
           SELECT id, n,
             ((((id + 7) % 1000000007) * ((id + 7) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v
           FROM tc),
         sh AS (
           SELECT id, n, CAST((v * v) % 1000000007 % 8 AS INTEGER) AS shard
           FROM h),
         ord AS (
           SELECT id, n, shard,
             CAST(ROW_NUMBER() OVER (PARTITION BY shard
               ORDER BY n DESC, id) AS BIGINT) AS rn
           FROM sh WHERE n <= 512),
         ffd AS (
           SELECT shard, CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS id,
                  CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS seq,
                  CAST([] AS BIGINT[]) AS rem
           FROM (SELECT DISTINCT shard FROM ord)
           UNION ALL
           SELECT shard, rn, id, n,
             CASE WHEN pos = 0 THEN CAST(len(rem0) AS BIGINT)
                  ELSE pos - 1 END AS seq,
             CASE WHEN pos = 0 THEN list_append(rem0, 512 - n)
                  ELSE list_concat(list_concat(
                         rem0[1:CAST(pos - 1 AS INTEGER)],
                         [rem0[CAST(pos AS INTEGER)] - n]),
                         rem0[CAST(pos + 1 AS INTEGER):len(rem0)]) END AS rem
           FROM (
             SELECT f.shard AS shard, f.rn + 1 AS rn, o.id AS id, o.n AS n,
                    f.rem AS rem0,
                    CAST(COALESCE(list_position(
                      list_transform(f.rem, r -> r >= o.n), true), 0)
                      AS BIGINT) AS pos
             FROM ffd f JOIN ord o
               ON o.shard = f.shard AND o.rn = f.rn + 1)),
         fstat AS (
           SELECT (SELECT CAST(COUNT(*) AS BIGINT)
                   FROM (SELECT DISTINCT shard, seq FROM ffd WHERE rn > 0)) AS n_seqs,
                  (SELECT CAST(SUM(n) AS BIGINT) FROM ffd WHERE rn > 0) AS n_tokens),
         cstat AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM tc)
         SELECT 'concat' AS method, (tot + 511) // 512 AS n_seqs,
           tot AS n_tokens, ((tot + 511) // 512) * 512 - tot AS padding_tokens
         FROM cstat
         UNION ALL
         SELECT 'ffd' AS method, n_seqs, n_tokens,
           n_seqs * 512 - n_tokens AS padding_tokens
         FROM fstat
         ORDER BY method""",
    "dedup_lines" ->
      """WITH l AS (
           SELECT doc_id, u.pos, u.line FROM documents,
             LATERAL (SELECT unnest(string_split(text, chr(10))) AS line,
                             generate_subscripts(string_split(text, chr(10)), 1) AS pos) u),
         k AS (
           SELECT doc_id, pos, line,
             CASE WHEN length(line) < 1 THEN 1
               ELSE ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) END AS rk
           FROM l),
         r AS (
           SELECT doc_id,
             array_to_string(array_agg(line ORDER BY pos), chr(10)) AS clean_text,
             count(*) AS n_kept
           FROM k WHERE rk = 1 GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(r.clean_text, '') AS clean_text,
           COALESCE(r.n_kept, 0) AS n_kept,
           CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines
         FROM documents d LEFT JOIN r USING (doc_id) ORDER BY d.doc_id""",
    "dedup_simhash" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
         h AS (
           SELECT doc_id,
             list_transform(toks, tok ->
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(list_filter(string_split(tok, ''), c -> c <> ''),
                   c -> CAST(unicode(c) AS BIGINT))),
                 (a, b) -> (a * 1000003 + b) % 1000000007) * 1073741824
               + list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(list_filter(string_split(tok, ''), c -> c <> ''),
                   c -> CAST(unicode(c) AS BIGINT))),
                 (a, b) -> (a * 1000033 + b) % 1000000007)) AS hs
           FROM t),
         sg AS (
           SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 63), b -> CASE WHEN
               list_sum(list_transform(hs, hv ->
                 CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
               THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sig
           FROM h),
         bd AS (
           SELECT doc_id, sig, bb.b AS band, (sig >> (bb.b * 15)) & 32767 AS key
           FROM sg, (SELECT unnest(range(0, 4)) AS b) bb)
         SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
           CAST(bit_count(xor(x.sig, y.sig)) AS INTEGER) AS hamming
         FROM bd x JOIN bd y
           ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
         WHERE bit_count(xor(x.sig, y.sig)) <= 3
         ORDER BY id_a, id_b""",
    "sim_topk_lsh" ->
      """WITH v AS (
           SELECT vec_id, embedding,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS q
           FROM embeddings),
         tb AS (
           SELECT vec_id, tt.t AS t,
             list_sum(list_transform(range(0, 6), p -> CASE WHEN
               list_sum(list_transform(range(0, 64), i ->
                 CASE WHEN
                   ((((((tt.t * 6 + p) * 64 + i + 12345) % 1000000007)
                       * ((tt.t * 6 + p) * 64 + i + 12345)) % 1000000007
                      * 1000003 + 54321) % 1000000007)
                   * ((((((tt.t * 6 + p) * 64 + i + 12345) % 1000000007)
                       * ((tt.t * 6 + p) * 64 + i + 12345)) % 1000000007
                      * 1000003 + 54321) % 1000000007)
                   % 1000000007 % 2 = 0
                   THEN q[CAST(i + 1 AS INTEGER)]
                   ELSE -q[CAST(i + 1 AS INTEGER)] END)) >= 0
               THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END)) AS b
           FROM v, (SELECT unnest(range(0, 8)) AS t) tt),
         cand AS (
           SELECT DISTINCT cq.vec_id AS query_id, cc.vec_id AS id
           FROM tb cq JOIN tb cc
             ON cq.t = cc.t AND cq.b = cc.b AND cc.vec_id <> cq.vec_id),
         ranked AS (
           SELECT c.query_id, c.id,
             ROW_NUMBER() OVER (PARTITION BY c.query_id
               ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC, c.id) AS rk
           FROM cand c
           JOIN embeddings qe ON qe.vec_id = c.query_id
           JOIN embeddings ce ON ce.vec_id = c.id)
         SELECT query_id, CAST(1 AS INTEGER) AS rank, id AS nn_id
         FROM ranked WHERE rk = 1 ORDER BY query_id, rank""",
    "sim_hard_negatives" ->
      """WITH s AS (
           SELECT a.vec_id AS query_id, b.vec_id AS id,
             list_cosine_similarity(a.embedding, b.embedding) AS cos
           FROM embeddings a JOIN embeddings b
             ON b.vec_id <> a.vec_id AND b.label <> a.label),
         r AS (
           SELECT query_id, id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cos DESC, id) AS rank
           FROM s)
         SELECT query_id, rank, id AS neg_id FROM r WHERE rank <= 2
         ORDER BY query_id, rank""",
    "sim_hard_negatives_ivf" ->
      """WITH n AS (SELECT count(*) AS cnt FROM embeddings),
         hx AS (
           SELECT vec_id, embedding,
             ((((vec_id + 42) % 1000000007) * ((vec_id + 42) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v
           FROM embeddings),
         init AS (
           SELECT vec_id, embedding,
             ROW_NUMBER() OVER (ORDER BY (v * v) % 1000000007, vec_id) - 1 AS cell
           FROM hx
           QUALIFY cell < (SELECT greatest(16, CAST(ceil(sqrt(cnt)) AS BIGINT)) FROM n)),
         a0 AS (
           SELECT e.vec_id, i.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, i.embedding) DESC, i.cell) AS rk
           FROM embeddings e CROSS JOIN init i),
         a1 AS (SELECT vec_id, cell FROM a0 WHERE rk = 1),
         q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
           FROM embeddings),
         mp AS (
           SELECT a1.cell, p.pos,
             CAST(floor(CAST(sum(p.qx) AS DOUBLE) / count(*)) AS BIGINT) AS mq
           FROM a1 JOIN q USING (vec_id),
             LATERAL (SELECT unnest(qv) AS qx, generate_subscripts(qv, 1) AS pos) p
           GROUP BY a1.cell, p.pos),
         upd AS (
           SELECT cell, list_transform(array_agg(mq ORDER BY pos),
             m -> CAST(m / 1048576.0 AS FLOAT)) AS cv
           FROM mp GROUP BY cell),
         cents AS (
           SELECT i.cell, COALESCE(u.cv, i.embedding) AS cv
           FROM init i LEFT JOIN upd u USING (cell)),
         a2 AS (
           SELECT e.vec_id, c.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cell) AS rk
           FROM embeddings e CROSS JOIN cents c),
         assign AS (SELECT vec_id AS id, cell FROM a2 WHERE rk = 1),
         probes AS (SELECT vec_id AS query_id, cell FROM a2 WHERE rk <= 4),
         cand AS (
           SELECT DISTINCT p.query_id, a.id FROM probes p JOIN assign a USING (cell)
           WHERE a.id <> p.query_id),
         ranked AS (
           SELECT c.query_id, c.id,
             ROW_NUMBER() OVER (PARTITION BY c.query_id
               ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC, c.id) AS rank
           FROM cand c
           JOIN embeddings qe ON qe.vec_id = c.query_id
           JOIN embeddings ce ON ce.vec_id = c.id
           WHERE ce.label <> qe.label)
         SELECT query_id, rank, id AS neg_id FROM ranked WHERE rank <= 2
         ORDER BY query_id, rank""",
    "sim_topk_ivf" ->
      """WITH n AS (SELECT count(*) AS cnt FROM embeddings),
         hx AS (
           SELECT vec_id, embedding,
             ((((vec_id + 42) % 1000000007) * ((vec_id + 42) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v
           FROM embeddings),
         init AS (
           SELECT vec_id, embedding,
             ROW_NUMBER() OVER (ORDER BY (v * v) % 1000000007, vec_id) - 1 AS cell
           FROM hx
           QUALIFY cell < (SELECT greatest(16, CAST(ceil(sqrt(cnt)) AS BIGINT)) FROM n)),
         a0 AS (
           SELECT e.vec_id, i.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, i.embedding) DESC, i.cell) AS rk
           FROM embeddings e CROSS JOIN init i),
         a1 AS (SELECT vec_id, cell FROM a0 WHERE rk = 1),
         q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
           FROM embeddings),
         mp AS (
           SELECT a1.cell, p.pos,
             CAST(floor(CAST(sum(p.qx) AS DOUBLE) / count(*)) AS BIGINT) AS mq
           FROM a1 JOIN q USING (vec_id),
             LATERAL (SELECT unnest(qv) AS qx, generate_subscripts(qv, 1) AS pos) p
           GROUP BY a1.cell, p.pos),
         upd AS (
           SELECT cell, list_transform(array_agg(mq ORDER BY pos),
             m -> CAST(m / 1048576.0 AS FLOAT)) AS cv
           FROM mp GROUP BY cell),
         cents AS (
           SELECT i.cell, COALESCE(u.cv, i.embedding) AS cv
           FROM init i LEFT JOIN upd u USING (cell)),
         a2 AS (
           SELECT e.vec_id, c.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cell) AS rk
           FROM embeddings e CROSS JOIN cents c),
         assign AS (SELECT vec_id AS id, cell FROM a2 WHERE rk = 1),
         probes AS (SELECT vec_id AS query_id, cell FROM a2 WHERE rk <= 4),
         cand AS (
           SELECT p.query_id, a.id FROM probes p JOIN assign a USING (cell)
           WHERE a.id <> p.query_id),
         ranked AS (
           SELECT c.query_id, c.id,
             ROW_NUMBER() OVER (PARTITION BY c.query_id
               ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC, c.id) AS rk
           FROM cand c
           JOIN embeddings qe ON qe.vec_id = c.query_id
           JOIN embeddings ce ON ce.vec_id = c.id)
         SELECT query_id, id AS nn_id FROM ranked WHERE rk = 1 ORDER BY query_id""",
    "sim_ivf_cell_skew" ->
      """WITH n AS (SELECT count(*) AS cnt FROM embeddings),
         hx AS (
           SELECT vec_id, embedding,
             ((((vec_id + 42) % 1000000007) * ((vec_id + 42) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v
           FROM embeddings),
         init AS (
           SELECT vec_id, embedding,
             ROW_NUMBER() OVER (ORDER BY (v * v) % 1000000007, vec_id) - 1 AS cell
           FROM hx
           QUALIFY cell < (SELECT greatest(16, CAST(ceil(sqrt(cnt)) AS BIGINT)) FROM n)),
         a0 AS (
           SELECT e.vec_id, i.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, i.embedding) DESC, i.cell) AS rk
           FROM embeddings e CROSS JOIN init i),
         a1 AS (SELECT vec_id, cell FROM a0 WHERE rk = 1),
         q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
           FROM embeddings),
         mp AS (
           SELECT a1.cell, p.pos,
             CAST(floor(CAST(sum(p.qx) AS DOUBLE) / count(*)) AS BIGINT) AS mq
           FROM a1 JOIN q USING (vec_id),
             LATERAL (SELECT unnest(qv) AS qx, generate_subscripts(qv, 1) AS pos) p
           GROUP BY a1.cell, p.pos),
         upd AS (
           SELECT cell, list_transform(array_agg(mq ORDER BY pos),
             m -> CAST(m / 1048576.0 AS FLOAT)) AS cv
           FROM mp GROUP BY cell),
         cents AS (
           SELECT i.cell, COALESCE(u.cv, i.embedding) AS cv
           FROM init i LEFT JOIN upd u USING (cell)),
         a2 AS (
           SELECT e.vec_id, c.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cell) AS rk
           FROM embeddings e CROSS JOIN cents c),
         assign AS (SELECT vec_id AS id, cell FROM a2 WHERE rk = 1),
         sizes AS (
           SELECT c.cell, CAST(COUNT(a.id) AS BIGINT) AS n
           FROM cents c LEFT JOIN assign a USING (cell) GROUP BY c.cell),
         tot AS (
           SELECT CAST(SUM(n) AS BIGINT) AS n_total,
             CAST(COUNT(*) AS BIGINT) AS ncells
           FROM sizes)
         SELECT s.cell, s.n, t.n_total, t.n_total // t.ncells AS expected,
           s.n * 1000000 // greatest(1, t.n_total) AS skew_micro,
           s.n > 2 * (t.n_total // t.ncells) AS oversized
         FROM sizes s, tot t ORDER BY s.cell""",
    "sim_recall_ivf" ->
      """WITH n AS (SELECT count(*) AS cnt FROM embeddings),
         hx AS (
           SELECT vec_id, embedding,
             ((((vec_id + 42) % 1000000007) * ((vec_id + 42) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v
           FROM embeddings),
         init AS (
           SELECT vec_id, embedding,
             ROW_NUMBER() OVER (ORDER BY (v * v) % 1000000007, vec_id) - 1 AS cell
           FROM hx
           QUALIFY cell < (SELECT greatest(16, CAST(ceil(sqrt(cnt)) AS BIGINT)) FROM n)),
         a0 AS (
           SELECT e.vec_id, i.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, i.embedding) DESC, i.cell) AS rk
           FROM embeddings e CROSS JOIN init i),
         a1 AS (SELECT vec_id, cell FROM a0 WHERE rk = 1),
         q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
           FROM embeddings),
         mp AS (
           SELECT a1.cell, p.pos,
             CAST(floor(CAST(sum(p.qx) AS DOUBLE) / count(*)) AS BIGINT) AS mq
           FROM a1 JOIN q USING (vec_id),
             LATERAL (SELECT unnest(qv) AS qx, generate_subscripts(qv, 1) AS pos) p
           GROUP BY a1.cell, p.pos),
         upd AS (
           SELECT cell, list_transform(array_agg(mq ORDER BY pos),
             m -> CAST(m / 1048576.0 AS FLOAT)) AS cv
           FROM mp GROUP BY cell),
         cents AS (
           SELECT i.cell, COALESCE(u.cv, i.embedding) AS cv
           FROM init i LEFT JOIN upd u USING (cell)),
         a2 AS (
           SELECT e.vec_id, c.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cell) AS rk
           FROM embeddings e CROSS JOIN cents c),
         assign AS (SELECT vec_id AS id, cell FROM a2 WHERE rk = 1),
         probes AS (SELECT vec_id AS query_id, cell FROM a2 WHERE rk <= 4),
         cand AS (
           SELECT p.query_id, a.id FROM probes p JOIN assign a USING (cell)
           WHERE a.id <> p.query_id),
         ranked AS (
           SELECT c.query_id, c.id,
             ROW_NUMBER() OVER (PARTITION BY c.query_id
               ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC, c.id) AS rk
           FROM cand c
           JOIN embeddings qe ON qe.vec_id = c.query_id
           JOIN embeddings ce ON ce.vec_id = c.id),
         ivf AS (SELECT query_id, id AS nn_id FROM ranked WHERE rk = 1),
         bf AS (
           SELECT a.vec_id AS query_id,
             (SELECT b.vec_id FROM embeddings b WHERE b.vec_id <> a.vec_id
              ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id
              LIMIT 1) AS nn_id
           FROM embeddings a),
         m AS (SELECT count(*) AS n_matched
               FROM bf JOIN ivf USING (query_id, nn_id)),
         tq AS (SELECT count(*) AS n_truth FROM bf)
         SELECT CAST(tq.n_truth AS BIGINT) AS n_truth,
           CAST(m.n_matched AS BIGINT) AS n_matched,
           CAST(m.n_matched * 1000000 // tq.n_truth AS BIGINT) AS recall_micro
         FROM tq, m""",
    "sim_recall_lsh" ->
      """WITH v AS (
           SELECT vec_id, embedding,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS q
           FROM embeddings),
         tb AS (
           SELECT vec_id, tt.t AS t,
             list_sum(list_transform(range(0, 6), p -> CASE WHEN
               list_sum(list_transform(range(0, 64), i ->
                 CASE WHEN
                   ((((((tt.t * 6 + p) * 64 + i + 12345) % 1000000007)
                       * ((tt.t * 6 + p) * 64 + i + 12345)) % 1000000007
                      * 1000003 + 54321) % 1000000007)
                   * ((((((tt.t * 6 + p) * 64 + i + 12345) % 1000000007)
                       * ((tt.t * 6 + p) * 64 + i + 12345)) % 1000000007
                      * 1000003 + 54321) % 1000000007)
                   % 1000000007 % 2 = 0
                   THEN q[CAST(i + 1 AS INTEGER)]
                   ELSE -q[CAST(i + 1 AS INTEGER)] END)) >= 0
               THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END)) AS b
           FROM v, (SELECT unnest(range(0, 8)) AS t) tt),
         cand AS (
           SELECT DISTINCT cq.vec_id AS query_id, cc.vec_id AS id
           FROM tb cq JOIN tb cc
             ON cq.t = cc.t AND cq.b = cc.b AND cc.vec_id <> cq.vec_id),
         ranked AS (
           SELECT c.query_id, c.id,
             ROW_NUMBER() OVER (PARTITION BY c.query_id
               ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC, c.id) AS rk
           FROM cand c
           JOIN embeddings qe ON qe.vec_id = c.query_id
           JOIN embeddings ce ON ce.vec_id = c.id),
         lsh AS (SELECT query_id, id AS nn_id FROM ranked WHERE rk <= 10),
         bf0 AS (
           SELECT a.vec_id AS query_id, b.vec_id AS nn_id,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
               ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS rk
           FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id),
         bf AS (SELECT query_id, nn_id FROM bf0 WHERE rk <= 10),
         m AS (SELECT count(*) AS n_matched
               FROM bf JOIN lsh USING (query_id, nn_id)),
         tq AS (SELECT count(*) AS n_truth FROM bf)
         SELECT CAST(tq.n_truth AS BIGINT) AS n_truth,
           CAST(m.n_matched AS BIGINT) AS n_matched,
           CAST(m.n_matched * 1000000 // tq.n_truth AS BIGINT) AS recall_micro
         FROM tq, m""",
    "sim_recall_pq" ->
      """WITH sub AS (
           SELECT e.vec_id, jj.j, list_slice(e.embedding, jj.j*8+1, jj.j*8+8) AS sv
           FROM embeddings e CROSS JOIN (SELECT unnest(range(0, 8)) AS j) jj),
         hx AS (
           SELECT vec_id,
             ((((vec_id + 42) % 1000000007) * ((vec_id + 42) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v
           FROM embeddings),
         init AS (
           SELECT s.j, s.sv,
             ROW_NUMBER() OVER (PARTITION BY s.j
               ORDER BY (h.v * h.v) % 1000000007, s.vec_id) - 1 AS cell
           FROM sub s JOIN hx h USING (vec_id)
           QUALIFY cell < 16),
         a0 AS (
           SELECT s.vec_id, s.j, i.cell,
             ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
               ORDER BY list_cosine_similarity(s.sv, i.sv) DESC, i.cell) AS rk
           FROM sub s JOIN init i ON i.j = s.j),
         a1 AS (SELECT vec_id, j, cell FROM a0 WHERE rk = 1),
         qsub AS (
           SELECT vec_id, j, list_transform(sv,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
           FROM sub),
         mp AS (
           SELECT a1.j, a1.cell, p.pos,
             CAST(floor(CAST(sum(p.qx) AS DOUBLE) / count(*)) AS BIGINT) AS mq
           FROM a1 JOIN qsub USING (vec_id, j),
             LATERAL (SELECT unnest(qv) AS qx, generate_subscripts(qv, 1) AS pos) p
           GROUP BY a1.j, a1.cell, p.pos),
         upd AS (
           SELECT j, cell, list_transform(array_agg(mq ORDER BY pos),
             m2 -> CAST(m2 / 1048576.0 AS FLOAT)) AS cv
           FROM mp GROUP BY j, cell),
         cents AS (
           SELECT i.j, i.cell, COALESCE(u.cv, i.sv) AS cv
           FROM init i LEFT JOIN upd u ON u.j = i.j AND u.cell = i.cell),
         enc0 AS (
           SELECT s.vec_id, s.j, c.cell,
             ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
               ORDER BY list_cosine_similarity(s.sv, c.cv) DESC, c.cell) AS rk
           FROM sub s JOIN cents c ON c.j = s.j),
         codes AS (SELECT vec_id, j, cell FROM enc0 WHERE rk = 1),
         cq AS (
           SELECT j, cell, list_transform(cv,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS cwq
           FROM cents),
         ptab AS (
           SELECT q.vec_id AS query_id, q.j, c.cell,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, 9), i2 -> q.qv[i2] * c.cwq[i2])),
               (a, b) -> a + b) AS pdot
           FROM qsub q JOIN cq c ON c.j = q.j),
         ns AS (
           SELECT j, cell, list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(cwq, x -> x * x)), (a, b) -> a + b) AS nsq1
           FROM cq),
         rn AS (
           SELECT k.vec_id, sum(n2.nsq1) AS nsq
           FROM codes k JOIN ns n2 ON n2.j = k.j AND n2.cell = k.cell
           GROUP BY k.vec_id),
         scores AS (
           SELECT p.query_id, k.vec_id AS id, sum(p.pdot) AS dt
           FROM codes k JOIN ptab p ON p.j = k.j AND p.cell = k.cell
           WHERE k.vec_id <> p.query_id GROUP BY 1, 2),
         nsc AS (
           SELECT s.query_id, s.id,
             CAST(s.dt AS DOUBLE) / sqrt(CAST(r.nsq AS DOUBLE)) AS score
           FROM scores s JOIN rn r ON r.vec_id = s.id WHERE r.nsq > 0),
         shortlist AS (
           SELECT query_id, id FROM (
             SELECT query_id, id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS rk
             FROM nsc)
           WHERE rk <= (SELECT greatest(40, CAST(ceil(2.0 * sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))
                        FROM embeddings)),
         rr AS (
           SELECT sl.query_id, sl.id,
             ROW_NUMBER() OVER (PARTITION BY sl.query_id
               ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC, sl.id) AS rk2
           FROM shortlist sl
           JOIN embeddings qe ON qe.vec_id = sl.query_id
           JOIN embeddings ce ON ce.vec_id = sl.id),
         pq AS (SELECT query_id, id AS nn_id FROM rr WHERE rk2 <= 10),
         bf0 AS (
           SELECT a.vec_id AS query_id, b.vec_id AS nn_id,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
               ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS rk
           FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id),
         bf AS (SELECT query_id, nn_id FROM bf0 WHERE rk <= 10),
         m AS (SELECT count(*) AS n_matched
               FROM bf JOIN pq USING (query_id, nn_id)),
         tq AS (SELECT count(*) AS n_truth FROM bf)
         SELECT CAST(tq.n_truth AS BIGINT) AS n_truth,
           CAST(m.n_matched AS BIGINT) AS n_matched,
           CAST(m.n_matched * 1000000 // tq.n_truth AS BIGINT) AS recall_micro
         FROM tq, m""",
    "sim_topk_pq" ->
      """WITH sub AS (
           SELECT e.vec_id, jj.j, list_slice(e.embedding, jj.j*8+1, jj.j*8+8) AS sv
           FROM embeddings e CROSS JOIN (SELECT unnest(range(0, 8)) AS j) jj),
         hx AS (
           SELECT vec_id,
             ((((vec_id + 42) % 1000000007) * ((vec_id + 42) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v
           FROM embeddings),
         init AS (
           SELECT s.j, s.sv,
             ROW_NUMBER() OVER (PARTITION BY s.j
               ORDER BY (h.v * h.v) % 1000000007, s.vec_id) - 1 AS cell
           FROM sub s JOIN hx h USING (vec_id)
           QUALIFY cell < 16),
         a0 AS (
           SELECT s.vec_id, s.j, i.cell,
             ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
               ORDER BY list_cosine_similarity(s.sv, i.sv) DESC, i.cell) AS rk
           FROM sub s JOIN init i ON i.j = s.j),
         a1 AS (SELECT vec_id, j, cell FROM a0 WHERE rk = 1),
         qsub AS (
           SELECT vec_id, j, list_transform(sv,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
           FROM sub),
         mp AS (
           SELECT a1.j, a1.cell, p.pos,
             CAST(floor(CAST(sum(p.qx) AS DOUBLE) / count(*)) AS BIGINT) AS mq
           FROM a1 JOIN qsub USING (vec_id, j),
             LATERAL (SELECT unnest(qv) AS qx, generate_subscripts(qv, 1) AS pos) p
           GROUP BY a1.j, a1.cell, p.pos),
         upd AS (
           SELECT j, cell, list_transform(array_agg(mq ORDER BY pos),
             m2 -> CAST(m2 / 1048576.0 AS FLOAT)) AS cv
           FROM mp GROUP BY j, cell),
         cents AS (
           SELECT i.j, i.cell, COALESCE(u.cv, i.sv) AS cv
           FROM init i LEFT JOIN upd u ON u.j = i.j AND u.cell = i.cell),
         enc0 AS (
           SELECT s.vec_id, s.j, c.cell,
             ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
               ORDER BY list_cosine_similarity(s.sv, c.cv) DESC, c.cell) AS rk
           FROM sub s JOIN cents c ON c.j = s.j),
         codes AS (SELECT vec_id, j, cell FROM enc0 WHERE rk = 1),
         cq AS (
           SELECT j, cell, list_transform(cv,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS cwq
           FROM cents),
         ptab AS (
           SELECT q.vec_id AS query_id, q.j, c.cell,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, 9), i2 -> q.qv[i2] * c.cwq[i2])),
               (a, b) -> a + b) AS pdot
           FROM qsub q JOIN cq c ON c.j = q.j),
         ns AS (
           SELECT j, cell, list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(cwq, x -> x * x)), (a, b) -> a + b) AS nsq1
           FROM cq),
         rn AS (
           SELECT k.vec_id, sum(n2.nsq1) AS nsq
           FROM codes k JOIN ns n2 ON n2.j = k.j AND n2.cell = k.cell
           GROUP BY k.vec_id),
         scores AS (
           SELECT p.query_id, k.vec_id AS id, sum(p.pdot) AS dt
           FROM codes k JOIN ptab p ON p.j = k.j AND p.cell = k.cell
           WHERE k.vec_id <> p.query_id GROUP BY 1, 2),
         nsc AS (
           SELECT s.query_id, s.id,
             CAST(s.dt AS DOUBLE) / sqrt(CAST(r.nsq AS DOUBLE)) AS score
           FROM scores s JOIN rn r ON r.vec_id = s.id WHERE r.nsq > 0),
         shortlist AS (
           SELECT query_id, id FROM (
             SELECT query_id, id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS rk
             FROM nsc)
           WHERE rk <= (SELECT greatest(4, CAST(ceil(2.0 * sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))
                        FROM embeddings)),
         rr AS (
           SELECT sl.query_id, sl.id,
             ROW_NUMBER() OVER (PARTITION BY sl.query_id
               ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC, sl.id) AS rk2
           FROM shortlist sl
           JOIN embeddings qe ON qe.vec_id = sl.query_id
           JOIN embeddings ce ON ce.vec_id = sl.id)
         SELECT query_id, id AS nn_id FROM rr WHERE rk2 = 1 ORDER BY query_id""",
    "sim_topk_ivfpq" ->
      """WITH n AS (SELECT count(*) AS cnt FROM embeddings),
         hx AS (
           SELECT vec_id, embedding,
             ((((vec_id + 42) % 1000000007) * ((vec_id + 42) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v
           FROM embeddings),
         init AS (
           SELECT vec_id, embedding,
             ROW_NUMBER() OVER (ORDER BY (v * v) % 1000000007, vec_id) - 1 AS cell
           FROM hx
           QUALIFY cell < (SELECT greatest(16, CAST(ceil(sqrt(cnt)) AS BIGINT)) FROM n)),
         a0 AS (
           SELECT e.vec_id, i.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, i.embedding) DESC, i.cell) AS rk
           FROM embeddings e CROSS JOIN init i),
         a1 AS (SELECT vec_id, cell FROM a0 WHERE rk = 1),
         q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
           FROM embeddings),
         mp AS (
           SELECT a1.cell, p.pos,
             CAST(floor(CAST(sum(p.qx) AS DOUBLE) / count(*)) AS BIGINT) AS mq
           FROM a1 JOIN q USING (vec_id),
             LATERAL (SELECT unnest(qv) AS qx, generate_subscripts(qv, 1) AS pos) p
           GROUP BY a1.cell, p.pos),
         upd AS (
           SELECT cell, list_transform(array_agg(mq ORDER BY pos),
             m -> CAST(m / 1048576.0 AS FLOAT)) AS cv
           FROM mp GROUP BY cell),
         cents AS (
           SELECT i.cell, COALESCE(u.cv, i.embedding) AS cv
           FROM init i LEFT JOIN upd u USING (cell)),
         a2 AS (
           SELECT e.vec_id, c.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cell) AS rk
           FROM embeddings e CROSS JOIN cents c),
         assign AS (SELECT vec_id AS id, cell FROM a2 WHERE rk = 1),
         probes AS (SELECT vec_id AS query_id, cell FROM a2 WHERE rk <= 4),
         psub AS (
           SELECT e.vec_id, jj.j, list_slice(e.embedding, jj.j*8+1, jj.j*8+8) AS sv
           FROM embeddings e CROSS JOIN (SELECT unnest(range(0, 8)) AS j) jj),
         pinit AS (
           SELECT s.j, s.sv,
             ROW_NUMBER() OVER (PARTITION BY s.j
               ORDER BY (h.v * h.v) % 1000000007, s.vec_id) - 1 AS cell
           FROM psub s JOIN hx h USING (vec_id)
           QUALIFY cell < 16),
         pa0 AS (
           SELECT s.vec_id, s.j, i.cell,
             ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
               ORDER BY list_cosine_similarity(s.sv, i.sv) DESC, i.cell) AS rk
           FROM psub s JOIN pinit i ON i.j = s.j),
         pa1 AS (SELECT vec_id, j, cell FROM pa0 WHERE rk = 1),
         qsub AS (
           SELECT vec_id, j, list_transform(sv,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
           FROM psub),
         pmp AS (
           SELECT pa1.j, pa1.cell, p.pos,
             CAST(floor(CAST(sum(p.qx) AS DOUBLE) / count(*)) AS BIGINT) AS mq
           FROM pa1 JOIN qsub USING (vec_id, j),
             LATERAL (SELECT unnest(qv) AS qx, generate_subscripts(qv, 1) AS pos) p
           GROUP BY pa1.j, pa1.cell, p.pos),
         pupd AS (
           SELECT j, cell, list_transform(array_agg(mq ORDER BY pos),
             m2 -> CAST(m2 / 1048576.0 AS FLOAT)) AS cv
           FROM pmp GROUP BY j, cell),
         pcents AS (
           SELECT i.j, i.cell, COALESCE(u.cv, i.sv) AS cv
           FROM pinit i LEFT JOIN pupd u ON u.j = i.j AND u.cell = i.cell),
         enc0 AS (
           SELECT s.vec_id, s.j, c.cell,
             ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
               ORDER BY list_cosine_similarity(s.sv, c.cv) DESC, c.cell) AS rk
           FROM psub s JOIN pcents c ON c.j = s.j),
         codes AS (SELECT vec_id, j, cell FROM enc0 WHERE rk = 1),
         cq AS (
           SELECT j, cell, list_transform(cv,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS cwq
           FROM pcents),
         ptab AS (
           SELECT q2.vec_id AS query_id, q2.j, c.cell,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, 9), i2 -> q2.qv[i2] * c.cwq[i2])),
               (a, b) -> a + b) AS pdot
           FROM qsub q2 JOIN cq c ON c.j = q2.j),
         ns AS (
           SELECT j, cell, list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(cwq, x -> x * x)), (a, b) -> a + b) AS nsq1
           FROM cq),
         rn AS (
           SELECT k.vec_id, sum(n2.nsq1) AS nsq
           FROM codes k JOIN ns n2 ON n2.j = k.j AND n2.cell = k.cell
           GROUP BY k.vec_id),
         candpairs AS (
           SELECT DISTINCT pr.query_id, asg.id
           FROM probes pr JOIN assign asg USING (cell)
           WHERE asg.id <> pr.query_id),
         scores AS (
           SELECT cp.query_id, cp.id, sum(p.pdot) AS dt
           FROM candpairs cp
           JOIN codes k2 ON k2.vec_id = cp.id
           JOIN ptab p ON p.query_id = cp.query_id
             AND p.j = k2.j AND p.cell = k2.cell
           GROUP BY cp.query_id, cp.id),
         nsc AS (
           SELECT s.query_id, s.id,
             CAST(s.dt AS DOUBLE) / sqrt(CAST(r.nsq AS DOUBLE)) AS score
           FROM scores s JOIN rn r ON r.vec_id = s.id WHERE r.nsq > 0),
         shortlist AS (
           SELECT query_id, id FROM (
             SELECT query_id, id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS rk
             FROM nsc)
           WHERE rk <= (SELECT greatest(4, CAST(ceil(2.0 * sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))
                        FROM embeddings)),
         rr AS (
           SELECT sl.query_id, sl.id,
             ROW_NUMBER() OVER (PARTITION BY sl.query_id
               ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC, sl.id) AS rk2
           FROM shortlist sl
           JOIN embeddings qe ON qe.vec_id = sl.query_id
           JOIN embeddings ce ON ce.vec_id = sl.id)
         SELECT query_id, id AS nn_id FROM rr WHERE rk2 = 1 ORDER BY query_id""",
    "sim_recall_ivfpq" ->
      """WITH n AS (SELECT count(*) AS cnt FROM embeddings),
         hx AS (
           SELECT vec_id, embedding,
             ((((vec_id + 42) % 1000000007) * ((vec_id + 42) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v
           FROM embeddings),
         init AS (
           SELECT vec_id, embedding,
             ROW_NUMBER() OVER (ORDER BY (v * v) % 1000000007, vec_id) - 1 AS cell
           FROM hx
           QUALIFY cell < (SELECT greatest(16, CAST(ceil(sqrt(cnt)) AS BIGINT)) FROM n)),
         a0 AS (
           SELECT e.vec_id, i.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, i.embedding) DESC, i.cell) AS rk
           FROM embeddings e CROSS JOIN init i),
         a1 AS (SELECT vec_id, cell FROM a0 WHERE rk = 1),
         q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
           FROM embeddings),
         mp AS (
           SELECT a1.cell, p.pos,
             CAST(floor(CAST(sum(p.qx) AS DOUBLE) / count(*)) AS BIGINT) AS mq
           FROM a1 JOIN q USING (vec_id),
             LATERAL (SELECT unnest(qv) AS qx, generate_subscripts(qv, 1) AS pos) p
           GROUP BY a1.cell, p.pos),
         upd AS (
           SELECT cell, list_transform(array_agg(mq ORDER BY pos),
             m -> CAST(m / 1048576.0 AS FLOAT)) AS cv
           FROM mp GROUP BY cell),
         cents AS (
           SELECT i.cell, COALESCE(u.cv, i.embedding) AS cv
           FROM init i LEFT JOIN upd u USING (cell)),
         a2 AS (
           SELECT e.vec_id, c.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cell) AS rk
           FROM embeddings e CROSS JOIN cents c),
         assign AS (SELECT vec_id AS id, cell FROM a2 WHERE rk = 1),
         probes AS (SELECT vec_id AS query_id, cell FROM a2 WHERE rk <= 4),
         psub AS (
           SELECT e.vec_id, jj.j, list_slice(e.embedding, jj.j*8+1, jj.j*8+8) AS sv
           FROM embeddings e CROSS JOIN (SELECT unnest(range(0, 8)) AS j) jj),
         pinit AS (
           SELECT s.j, s.sv,
             ROW_NUMBER() OVER (PARTITION BY s.j
               ORDER BY (h.v * h.v) % 1000000007, s.vec_id) - 1 AS cell
           FROM psub s JOIN hx h USING (vec_id)
           QUALIFY cell < 16),
         pa0 AS (
           SELECT s.vec_id, s.j, i.cell,
             ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
               ORDER BY list_cosine_similarity(s.sv, i.sv) DESC, i.cell) AS rk
           FROM psub s JOIN pinit i ON i.j = s.j),
         pa1 AS (SELECT vec_id, j, cell FROM pa0 WHERE rk = 1),
         qsub AS (
           SELECT vec_id, j, list_transform(sv,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
           FROM psub),
         pmp AS (
           SELECT pa1.j, pa1.cell, p.pos,
             CAST(floor(CAST(sum(p.qx) AS DOUBLE) / count(*)) AS BIGINT) AS mq
           FROM pa1 JOIN qsub USING (vec_id, j),
             LATERAL (SELECT unnest(qv) AS qx, generate_subscripts(qv, 1) AS pos) p
           GROUP BY pa1.j, pa1.cell, p.pos),
         pupd AS (
           SELECT j, cell, list_transform(array_agg(mq ORDER BY pos),
             m2 -> CAST(m2 / 1048576.0 AS FLOAT)) AS cv
           FROM pmp GROUP BY j, cell),
         pcents AS (
           SELECT i.j, i.cell, COALESCE(u.cv, i.sv) AS cv
           FROM pinit i LEFT JOIN pupd u ON u.j = i.j AND u.cell = i.cell),
         enc0 AS (
           SELECT s.vec_id, s.j, c.cell,
             ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
               ORDER BY list_cosine_similarity(s.sv, c.cv) DESC, c.cell) AS rk
           FROM psub s JOIN pcents c ON c.j = s.j),
         codes AS (SELECT vec_id, j, cell FROM enc0 WHERE rk = 1),
         cq AS (
           SELECT j, cell, list_transform(cv,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS cwq
           FROM pcents),
         ptab AS (
           SELECT q2.vec_id AS query_id, q2.j, c.cell,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, 9), i2 -> q2.qv[i2] * c.cwq[i2])),
               (a, b) -> a + b) AS pdot
           FROM qsub q2 JOIN cq c ON c.j = q2.j),
         ns AS (
           SELECT j, cell, list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(cwq, x -> x * x)), (a, b) -> a + b) AS nsq1
           FROM cq),
         rn AS (
           SELECT k.vec_id, sum(n2.nsq1) AS nsq
           FROM codes k JOIN ns n2 ON n2.j = k.j AND n2.cell = k.cell
           GROUP BY k.vec_id),
         candpairs AS (
           SELECT DISTINCT pr.query_id, asg.id
           FROM probes pr JOIN assign asg USING (cell)
           WHERE asg.id <> pr.query_id),
         scores AS (
           SELECT cp.query_id, cp.id, sum(p.pdot) AS dt
           FROM candpairs cp
           JOIN codes k2 ON k2.vec_id = cp.id
           JOIN ptab p ON p.query_id = cp.query_id
             AND p.j = k2.j AND p.cell = k2.cell
           GROUP BY cp.query_id, cp.id),
         nsc AS (
           SELECT s.query_id, s.id,
             CAST(s.dt AS DOUBLE) / sqrt(CAST(r.nsq AS DOUBLE)) AS score
           FROM scores s JOIN rn r ON r.vec_id = s.id WHERE r.nsq > 0),
         shortlist AS (
           SELECT query_id, id FROM (
             SELECT query_id, id,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS rk
             FROM nsc)
           WHERE rk <= (SELECT greatest(40, CAST(ceil(2.0 * sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))
                        FROM embeddings)),
         rr AS (
           SELECT sl.query_id, sl.id,
             ROW_NUMBER() OVER (PARTITION BY sl.query_id
               ORDER BY list_cosine_similarity(qe.embedding, ce.embedding) DESC, sl.id) AS rk2
           FROM shortlist sl
           JOIN embeddings qe ON qe.vec_id = sl.query_id
           JOIN embeddings ce ON ce.vec_id = sl.id),
         ivfpq AS (SELECT query_id, id AS nn_id FROM rr WHERE rk2 <= 10),
         bf0 AS (
           SELECT a.vec_id AS query_id, b.vec_id AS nn_id,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
               ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS rk
           FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id),
         bf AS (SELECT query_id, nn_id FROM bf0 WHERE rk <= 10),
         m AS (SELECT count(*) AS n_matched
               FROM bf JOIN ivfpq USING (query_id, nn_id)),
         tq AS (SELECT count(*) AS n_truth FROM bf)
         SELECT CAST(tq.n_truth AS BIGINT) AS n_truth,
           CAST(m.n_matched AS BIGINT) AS n_matched,
           CAST(m.n_matched * 1000000 // tq.n_truth AS BIGINT) AS recall_micro
         FROM tq, m""",
    "sim_cosine_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.5
         ORDER BY id_a, id_b""",
    "q_zorder3_layout" ->
      """WITH base AS (
           SELECT o_custkey AS ck,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS od,
             CAST(floor(o_totalprice) AS BIGINT) AS tp
           FROM orders),
         b AS (
           SELECT min(ck) AS min_a, max(ck) AS max_a,
                  min(od) AS min_b, max(od) AS max_b,
                  min(tp) AS min_c, max(tp) AS max_c
           FROM base),
         qz AS (
           SELECT ck, od, tp,
             CASE WHEN max_a = min_a THEN 0
               ELSE ((ck - min_a) * 1023) // (max_a - min_a) END AS qa,
             CASE WHEN max_b = min_b THEN 0
               ELSE ((od - min_b) * 1023) // (max_b - min_b) END AS qb,
             CASE WHEN max_c = min_c THEN 0
               ELSE ((tp - min_c) * 1023) // (max_c - min_c) END AS qc
           FROM base, b),
         k AS (
           SELECT ck, od, tp,
             CAST(list_sum(list_transform(range(0, 10),
               i -> (((qa >> i) & 1) << (3*i))
                  + (((qb >> i) & 1) << (3*i+1))
                  + (((qc >> i) & 1) << (3*i+2))))
             AS BIGINT) AS zkey
           FROM qz)
         SELECT zkey >> 24 AS zbucket, count(*) AS n_rows,
           min(ck) AS min_ck, max(ck) AS max_ck,
           min(od) AS min_od, max(od) AS max_od,
           min(tp) AS min_tp, max(tp) AS max_tp
         FROM k GROUP BY 1 ORDER BY 1""",
    "q_data_profile" ->
      """WITH s AS (
           SELECT 'l_discount' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(CASE WHEN l_discount IS NULL THEN 1 END) AS BIGINT) AS n_nulls,
             CAST(COUNT(DISTINCT l_discount) AS BIGINT) AS n_distinct,
             CAST(MIN(CAST(floor(CAST(l_discount AS DOUBLE) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS min_cents,
             CAST(MAX(CAST(floor(CAST(l_discount AS DOUBLE) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS max_cents,
             CAST(SUM(CAST(floor(CAST(l_discount AS DOUBLE) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
           FROM lineitem
           UNION ALL
           SELECT 'l_extendedprice', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(CASE WHEN l_extendedprice IS NULL THEN 1 END) AS BIGINT),
             CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
             CAST(MIN(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)) AS BIGINT),
             CAST(MAX(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)) AS BIGINT),
             CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           FROM lineitem
           UNION ALL
           SELECT 'l_quantity', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) AS BIGINT),
             CAST(COUNT(DISTINCT l_quantity) AS BIGINT),
             CAST(MIN(CAST(floor(CAST(l_quantity AS DOUBLE) * 100.0 + 0.5) AS BIGINT)) AS BIGINT),
             CAST(MAX(CAST(floor(CAST(l_quantity AS DOUBLE) * 100.0 + 0.5) AS BIGINT)) AS BIGINT),
             CAST(SUM(CAST(floor(CAST(l_quantity AS DOUBLE) * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           FROM lineitem)
         SELECT * FROM s ORDER BY "column"""",
    "q_data_quality" ->
      """WITH c AS (
           SELECT 'discount_cap' AS "check",
             CAST(SUM(CASE WHEN COALESCE(l_discount <= 0.05, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS n_violations
           FROM lineitem
           UNION ALL
           SELECT 'positive_price',
             CAST(SUM(CASE WHEN COALESCE(l_extendedprice > 0.0, FALSE) THEN 0 ELSE 1 END) AS BIGINT)
           FROM lineitem
           UNION ALL
           SELECT 'quantity_range',
             CAST(SUM(CASE WHEN COALESCE(l_quantity BETWEEN 1.0 AND 50.0, FALSE) THEN 0 ELSE 1 END) AS BIGINT)
           FROM lineitem
           UNION ALL
           SELECT 'tax_bounds',
             CAST(SUM(CASE WHEN COALESCE(l_tax BETWEEN 0.0 AND 0.08, FALSE) THEN 0 ELSE 1 END) AS BIGINT)
           FROM lineitem
           UNION ALL
           SELECT 'valid_flag',
             CAST(SUM(CASE WHEN COALESCE(l_returnflag IN ('A','N','R'), FALSE) THEN 0 ELSE 1 END) AS BIGINT)
           FROM lineitem)
         SELECT "check", n_violations, n_violations = 0 AS pass
         FROM c ORDER BY "check"""",
    "q_quality_windowed" ->
      """WITH base AS (
           SELECT (doc_id // 60) * 60 AS win, text, lang, n_chars FROM documents),
         c AS (
           SELECT win, 'lang_known' AS "check",
             CAST(SUM(CASE WHEN COALESCE(lang IN ('en','fr','zh','de','es'), FALSE)
               THEN 0 ELSE 1 END) AS BIGINT) AS n_violations
           FROM base GROUP BY win
           UNION ALL
           SELECT win, 'nonempty',
             CAST(SUM(CASE WHEN COALESCE(length(trim(text)) > 0, FALSE)
               THEN 0 ELSE 1 END) AS BIGINT)
           FROM base GROUP BY win
           UNION ALL
           SELECT win, 'short_docs',
             CAST(SUM(CASE WHEN COALESCE(n_chars <= 500, FALSE)
               THEN 0 ELSE 1 END) AS BIGINT)
           FROM base GROUP BY win)
         SELECT win AS win_start, "check", n_violations,
           n_violations = 0 AS pass
         FROM c ORDER BY win_start, "check"""",
    "q_data_integrity" ->
      """WITH o AS (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_orphans
           FROM lineitem l
           WHERE l.l_orderkey IS NOT NULL
             AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
         u AS (
           SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS n_violations,
             CAST(COUNT(CASE WHEN c > 1 THEN 1 END) AS BIGINT) AS n_duplicate_keys
           FROM (SELECT c_custkey, COUNT(*) AS c FROM customer GROUP BY 1))
         SELECT o.n_orphans, u.n_violations, u.n_duplicate_keys FROM o, u""",
    "q_snapshot_diff" ->
      """WITH a AS (
           SELECT doc_id, COALESCE(text, '') AS text
           FROM documents WHERE doc_id % 11 <> 0),
         b AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN COALESCE(text, '') || ' v2'
               ELSE COALESCE(text, '') END AS text
           FROM documents WHERE doc_id % 13 <> 0),
         j AS (
           SELECT a.text AS ta, b.text AS tb
           FROM a FULL JOIN b ON a.doc_id = b.doc_id)
         SELECT
           CAST(COUNT(CASE WHEN ta IS NULL THEN 1 END) AS BIGINT) AS n_added,
           CAST(COUNT(CASE WHEN tb IS NULL THEN 1 END) AS BIGINT) AS n_removed,
           CAST(COUNT(CASE WHEN ta IS NOT NULL AND tb IS NOT NULL AND ta <> tb THEN 1 END) AS BIGINT) AS n_changed,
           CAST(COUNT(CASE WHEN ta = tb THEN 1 END) AS BIGINT) AS n_unchanged
         FROM j""",
    "q_scd2_history" ->
      """WITH a AS (
           SELECT doc_id AS id, text AS payload
           FROM documents WHERE doc_id % 11 <> 0),
         b AS (
           SELECT doc_id AS id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS payload
           FROM documents WHERE doc_id % 13 <> 0),
         j AS (
           SELECT COALESCE(a.id, b.id) AS id, a.payload AS pa, b.payload AS pb,
             a.id IS NOT NULL AS ina, b.id IS NOT NULL AS inb
           FROM a FULL JOIN b ON a.id = b.id),
         hist AS (
           SELECT id, pa AS payload, CAST(1 AS BIGINT) AS valid_from,
             CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
           FROM j WHERE ina AND inb AND pa IS NOT DISTINCT FROM pb
           UNION ALL
           SELECT id, pa, CAST(1 AS BIGINT), CAST(2 AS BIGINT), FALSE
           FROM j WHERE ina AND (NOT inb OR pa IS DISTINCT FROM pb)
           UNION ALL
           SELECT id, pb, CAST(2 AS BIGINT), CAST(NULL AS BIGINT), TRUE
           FROM j WHERE inb AND (NOT ina OR pa IS DISTINCT FROM pb))
         SELECT id, payload, valid_from, valid_to, is_current
         FROM hist ORDER BY id, valid_from""",
    "q_scd2_asof" ->
      """SELECT doc_id AS id, text AS payload
         FROM documents WHERE doc_id % 11 <> 0 ORDER BY id""",
    "q_shard_manifest" ->
      """WITH h1 AS (
           SELECT doc_id,
             ((((doc_id + 42) % 1000000007) * ((doc_id + 42) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v42,
             ((((doc_id + 43) % 1000000007) * ((doc_id + 43) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v43
           FROM documents),
         h AS (
           SELECT doc_id, (v42 * v42) % 1000000007 AS h42,
             (v43 * v43) % 1000000007 AS h43
           FROM h1),
         s AS (SELECT doc_id, CAST(h42 % 8 AS INTEGER) AS shard, h43 FROM h)
         SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(h43) % 1000000007 AS BIGINT) AS checksum,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
         FROM s GROUP BY 1 ORDER BY 1""",
    "q_zorder_layout" ->
      """WITH base AS (
           SELECT o_custkey AS ck,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS od
           FROM orders),
         b AS (
           SELECT min(ck) AS min_a, max(ck) AS max_a,
                  min(od) AS min_b, max(od) AS max_b
           FROM base),
         qz AS (
           SELECT ck, od,
             CASE WHEN max_a = min_a THEN 0
               ELSE ((ck - min_a) * 65535) // (max_a - min_a) END AS qa,
             CASE WHEN max_b = min_b THEN 0
               ELSE ((od - min_b) * 65535) // (max_b - min_b) END AS qb
           FROM base, b),
         k AS (
           SELECT ck, od,
             CAST(list_sum(list_transform(range(0, 16),
               i -> (((qa >> i) & 1) << (2*i)) + (((qb >> i) & 1) << (2*i+1))))
             AS BIGINT) AS zkey
           FROM qz)
         SELECT zkey >> 26 AS zbucket, count(*) AS n_rows,
           min(ck) AS min_ck, max(ck) AS max_ck,
           min(od) AS min_od, max(od) AS max_od
         FROM k GROUP BY 1 ORDER BY 1""",
    "q_zorder_prune" ->
      """WITH base AS (
           SELECT o_custkey AS a,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS b
           FROM orders),
         bd AS (
           SELECT min(a) AS min_a, max(a) AS max_a,
                  min(b) AS min_b, max(b) AS max_b
           FROM base),
         p AS (
           SELECT min_a, max_a, min_b, max_b,
             min_a + (max_a - min_a) * 25 // 100 AS lo_a,
             min_a + (max_a - min_a) * 35 // 100 AS hi_a,
             min_b + (max_b - min_b) * 40 // 100 AS lo_b,
             min_b + (max_b - min_b) * 60 // 100 AS hi_b
           FROM bd),
         qz AS (
           SELECT a, b,
             CASE WHEN max_a = min_a THEN 0
               ELSE ((a - min_a) * 65535) // (max_a - min_a) END AS qa,
             CASE WHEN max_b = min_b THEN 0
               ELSE ((b - min_b) * 65535) // (max_b - min_b) END AS qb,
             ((a - min_a) * 64) // (max_a - min_a + 1) AS fa,
             ((b - min_b) * 64) // (max_b - min_b + 1) AS fb
           FROM base, bd),
         k AS (
           SELECT a, b, fa, fb,
             CAST(list_sum(list_transform(range(0, 16),
               i -> (((qa >> i) & 1) << (2*i)) + (((qb >> i) & 1) << (2*i+1))))
             AS BIGINT) >> 26 AS zb
           FROM qz),
         lf AS (
           SELECT a, b, 'zorder' AS layout, zb AS file_id FROM k
           UNION ALL
           SELECT a, b, 'sorted_a' AS layout, fa AS file_id FROM k
           UNION ALL
           SELECT a, b, 'sorted_b' AS layout, fb AS file_id FROM k),
         z AS (
           SELECT layout, file_id, CAST(count(*) AS BIGINT) AS n_rows,
             min(a) AS min_a, max(a) AS max_a,
             min(b) AS min_b, max(b) AS max_b
           FROM lf GROUP BY 1, 2)
         SELECT layout, file_id, n_rows,
           z.min_a AS min_a, z.max_a AS max_a,
           z.min_b AS min_b, z.max_b AS max_b,
           NOT (z.max_a < p.lo_a OR z.min_a > p.hi_a OR
                z.max_b < p.lo_b OR z.min_b > p.hi_b) AS must_read
         FROM z, p ORDER BY layout, file_id""",
    "q_zonemap_prune" ->
      """WITH b AS (
           SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
         p AS (
           SELECT mn, mx, mx - mn AS span,
             mn + (mx - mn) * 25 // 100 AS lo,
             mn + (mx - mn) * 35 // 100 AS hi
           FROM b),
         h1 AS (
           SELECT doc_id,
             ((((doc_id + 97) % 1000000007) * ((doc_id + 97) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v
           FROM documents),
         lf AS (
           SELECT d.doc_id AS k, 'clustered' AS layout,
             ((d.doc_id - p.mn) * 32) // (p.span + 1) AS file_id
           FROM documents d, p
           UNION ALL
           SELECT h1.doc_id AS k, 'hashed' AS layout,
             ((v * v) % 1000000007) % 32 AS file_id
           FROM h1),
         z AS (
           SELECT layout, file_id, CAST(count(*) AS BIGINT) AS n_rows,
             min(k) AS min_key, max(k) AS max_key
           FROM lf GROUP BY 1, 2)
         SELECT layout, file_id, n_rows, min_key, max_key,
           NOT (max_key < p.lo OR min_key > p.hi) AS must_read
         FROM z, p ORDER BY layout, file_id""",
    "q_compaction_plan" ->
      """WITH RECURSIVE h1 AS (
           SELECT source, n_chars,
             ((((doc_id + 11) % 1000000007) * ((doc_id + 11) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v
           FROM documents),
         m AS (
           SELECT source AS partition,
             CAST(((v * v) % 1000000007) % 64 AS BIGINT) AS file_id,
             CAST(SUM(n_chars) AS BIGINT) AS bytes
           FROM h1 GROUP BY 1, 2),
         caps AS (
           SELECT partition, SUM(bytes) // 4 + 1 AS cap,
             (SUM(bytes) // 4 + 1) // 4 AS floor_b
           FROM m GROUP BY 1),
         ord AS (
           SELECT m.partition, m.file_id, m.bytes, c.cap,
             CAST(ROW_NUMBER() OVER (PARTITION BY m.partition
               ORDER BY m.bytes DESC, m.file_id) AS BIGINT) AS rn
           FROM m JOIN caps c ON c.partition = m.partition
           WHERE m.bytes < c.floor_b),
         ffd AS (
           SELECT partition, CAST(0 AS BIGINT) AS rn,
                  CAST(NULL AS BIGINT) AS file_id,
                  CAST(NULL AS BIGINT) AS bytes, CAST(NULL AS BIGINT) AS grp,
                  CAST([] AS BIGINT[]) AS rem
           FROM (SELECT DISTINCT partition FROM ord)
           UNION ALL
           SELECT partition, rn, file_id, bytes,
             CASE WHEN pos = 0 THEN CAST(len(rem0) AS BIGINT)
                  ELSE pos - 1 END AS grp,
             CASE WHEN pos = 0 THEN list_append(rem0, cap - bytes)
                  ELSE list_concat(list_concat(
                         rem0[1:CAST(pos - 1 AS INTEGER)],
                         [rem0[CAST(pos AS INTEGER)] - bytes]),
                         rem0[CAST(pos + 1 AS INTEGER):len(rem0)]) END AS rem
           FROM (
             SELECT f.partition AS partition, f.rn + 1 AS rn,
                    o.file_id AS file_id, o.bytes AS bytes, o.cap AS cap,
                    f.rem AS rem0,
                    CAST(COALESCE(list_position(
                      list_transform(f.rem, r -> r >= o.bytes), true), 0)
                      AS BIGINT) AS pos
             FROM ffd f JOIN ord o
               ON o.partition = f.partition AND o.rn = f.rn + 1))
         SELECT partition, file_id, bytes, grp FROM (
           SELECT partition, file_id, bytes, grp FROM ffd WHERE rn > 0
           UNION ALL
           SELECT m.partition, m.file_id, m.bytes, CAST(-1 AS BIGINT) AS grp
           FROM m JOIN caps c ON c.partition = m.partition
           WHERE m.bytes >= c.floor_b)
         ORDER BY partition, file_id""",
    "q_shuffle_shards" ->
      """WITH h AS (
           SELECT doc_id,
             ((((doc_id + 42) % 1000000007) * ((doc_id + 42) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v
           FROM documents),
         s AS (
           SELECT doc_id, (v * v) % 1000000007 AS hh FROM h),
         r AS (
           SELECT doc_id, CAST(hh % 8 AS INTEGER) AS shard,
             CAST(ROW_NUMBER() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id) - 1
               AS BIGINT) AS pos
           FROM s)
         SELECT doc_id, shard, pos FROM r ORDER BY doc_id""",
    "q_epoch_pack" ->
      """WITH h AS (
           SELECT doc_id,
             ((((doc_id + 42) % 1000000007) * ((doc_id + 42) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v
           FROM documents),
         s2 AS (SELECT doc_id, (v * v) % 1000000007 AS hh FROM h),
         r AS (
           SELECT doc_id, hh % 8 AS shard,
             ROW_NUMBER() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id) - 1 AS pos
           FROM s2),
         o AS (SELECT doc_id, CAST(shard * 1000000 + pos AS BIGINT) AS ord FROM r),
         tc AS (
           SELECT o.doc_id, o.ord,
             CAST(len(string_split_regex(trim(d.text), '\s+')) AS BIGINT) AS n
           FROM o JOIN documents d USING (doc_id)),
         c AS (
           SELECT doc_id, ord, n,
             CAST(SUM(n) OVER (ORDER BY ord
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS start
           FROM tc)
         SELECT doc_id, ord, n, start,
           start // 512 AS seq_id, start % 512 AS seq_offset
         FROM c ORDER BY doc_id""",
    "q_curation_v2" ->
      """WITH gr AS (
           SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
               w -> CAST(length(w) AS BIGINT))) AS BIGINT) AS sum_len,
             CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
             CAST(floor(CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE)
               / 3.0) AS BIGINT) AS n_ell_occ,
             string_split(text, chr(10)) AS lines,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         gs AS (
           SELECT doc_id, n_words,
             CASE WHEN n_words > 0
               THEN CAST(floor(CAST(sum_len * 10000 AS DOUBLE) /
                 CAST(n_words AS DOUBLE)) AS BIGINT) ELSE 0 END AS wlen_q4,
             n_hash + n_ell_occ AS n_symbol,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lines,
               l -> substr(ltrim(l), 1, 1) IN ('-', '*', chr(8226)))) AS BIGINT)
               AS n_bullet_lines,
             CAST(len(list_filter(lines,
               l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), chr(8230))))
               AS BIGINT) AS n_ellipsis_lines,
             CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
               AS BIGINT) AS n_alpha_words,
             CAST(len(list_intersect(list_distinct(toks),
               ['the','a','an','of','to','and','in','is','it','for','on','with']))
               AS BIGINT) AS n_stop_distinct
           FROM gr),
         gpass AS (
           SELECT doc_id, n_words FROM gs
           WHERE n_words >= 50 AND n_words <= 100000 AND
             wlen_q4 >= 30000 AND wlen_q4 <= 100000 AND
             n_symbol * 10 <= n_words AND
             n_bullet_lines * 10 <= n_lines * 9 AND
             n_ellipsis_lines * 10 <= n_lines * 3 AND
             n_alpha_words * 10 >= n_words * 8 AND
             n_stop_distinct >= 2),
         ptoks AS (
           SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents),
         uni AS (SELECT tok, COUNT(*) AS cnt FROM ptoks GROUP BY tok),
         tot AS (SELECT COUNT(*) AS total FROM ptoks),
         psc AS (
           SELECT t.doc_id, COUNT(*) AS n_tok,
             CAST(SUM(CAST(floor(ln(CAST(u.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE))
               * 1000000.0) AS BIGINT)) AS BIGINT) AS slp
           FROM ptoks t JOIN uni u USING (tok) CROSS JOIN tot
           GROUP BY t.doc_id),
         sq AS (
           SELECT d.doc_id, d.lang,
             CAST(floor(CAST(s2.slp AS DOUBLE) / CAST(s2.n_tok AS DOUBLE)) AS BIGINT) AS score_q
           FROM documents d JOIN psc s2 USING (doc_id) WHERE s2.n_tok > 0),
         hist AS (SELECT lang, score_q, COUNT(*) AS c FROM sq GROUP BY 1, 2),
         cm AS (
           SELECT lang, score_q, c,
             SUM(c) OVER (PARTITION BY lang ORDER BY score_q) AS cum
           FROM hist),
         t2 AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM hist GROUP BY lang),
         cuts AS (
           SELECT cm.lang,
             MIN(CASE WHEN cm.cum >= CAST(floor((t2.n + 2) / 3.0) AS BIGINT)
               THEN cm.score_q END) AS c1,
             MIN(CASE WHEN cm.cum >= CAST(floor((t2.n * 2 + 2) / 3.0) AS BIGINT)
               THEN cm.score_q END) AS c2
           FROM cm JOIN t2 USING (lang) GROUP BY cm.lang),
         pbuck AS (
           SELECT s3.doc_id, s3.lang,
             CASE WHEN s3.score_q <= c.c1 THEN 'tail'
                  WHEN s3.score_q <= c.c2 THEN 'middle'
                  ELSE 'head' END AS bucket
           FROM sq s3 JOIN cuts c USING (lang)),
         st AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents),
         sp AS (
           SELECT doc_id, u.pos,
             md5(array_to_string(list_slice(st.ts, u.pos + 1, u.pos + 8), chr(1))) AS h
           FROM st, LATERAL (
             SELECT unnest(range(0, greatest(len(ts) - 7, 0))) AS pos) u),
         sd AS (SELECT h FROM sp GROUP BY h HAVING COUNT(*) > 1),
         sk AS (SELECT sp.doc_id, sp.pos FROM sp JOIN sd USING (h)),
         sb AS (
           SELECT doc_id, pos,
             CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
               THEN 1 ELSE 0 END AS brk
           FROM sk),
         si AS (
           SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
           FROM sb),
         spans AS (
           SELECT doc_id, CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_len
           FROM si GROUP BY doc_id, island),
         cover AS (
           SELECT doc_id, CAST(SUM(span_len) AS BIGINT) AS dup_tokens
           FROM spans GROUP BY doc_id),
         keep0 AS (
           SELECT g.doc_id, pb.lang, d.text, g.n_words, pb.bucket,
             COALESCE(cv.dup_tokens, 0) AS dup_tokens
           FROM gpass g
           JOIN documents d USING (doc_id)
           JOIN pbuck pb USING (doc_id)
           LEFT JOIN cover cv USING (doc_id)
           WHERE pb.bucket <> 'tail'
             AND COALESCE(cv.dup_tokens, 0) * 10 <= g.n_words * 3),
         firsts AS (SELECT text, MIN(doc_id) AS keep_id FROM keep0 GROUP BY text)
         SELECT k.doc_id, k.lang, k.bucket, k.n_words, k.dup_tokens
         FROM keep0 k JOIN firsts f ON f.text = k.text AND f.keep_id = k.doc_id
         ORDER BY k.doc_id""",
    "q_curation_v3" ->
      """WITH RECURSIVE aug AS (
           SELECT doc_id, source, lang,
             CASE WHEN doc_id % 25 = 7
               THEN 'the modern data pipeline gathers raw web documents and filters them with care because quality matters more than volume for training large models so each stage removes noise duplicated passages low information pages and finally packs clean tokens into fixed length sequences ready for the optimizer to consume item ' || CAST(doc_id AS VARCHAR)
             WHEN source IN ('src3','src7','src11') AND doc_id % 40 < 20
               THEN text || ' contact admin@corp-test.org from 10.1.2.3'
             WHEN source IN ('src5','src13') AND doc_id % 60 < 20
               THEN 'duplicate boilerplate notice please ignore this repeated message'
             ELSE text END AS text
           FROM documents),
         hsh AS (SELECT doc_id, source, md5(text) AS h FROM aug),
         hc AS (SELECT h, COUNT(*) AS c FROM hsh GROUP BY h),
         pii AS (
           SELECT doc_id,
             (len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0
              OR len(regexp_extract_all(
                regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g'),
                '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) > 0
              OR len(regexp_extract_all(
                regexp_replace(
                  regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                    '<EMAIL>', 'g'),
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) > 0) AS has_pii
           FROM aug),
         gate AS (
           SELECT s.source
           FROM hsh s JOIN hc USING (h) JOIN pii USING (doc_id)
           GROUP BY s.source
           HAVING SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) * 10 <= COUNT(*)
              AND SUM(CASE WHEN has_pii THEN 1 ELSE 0 END) * 10 <= COUNT(*)),
         docs1 AS (SELECT a.doc_id, a.source, a.text FROM aug a JOIN gate USING (source)),
         gg AS (
           SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
               w -> CAST(length(w) AS BIGINT))) AS BIGINT) AS sum_len,
             CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
             CAST(floor(CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE)
               / 3.0) AS BIGINT) AS n_ell_occ,
             string_split(text, chr(10)) AS lines,
             string_split_regex(trim(text), '\s+') AS toks
           FROM docs1),
         gs2 AS (
           SELECT doc_id, n_words,
             CASE WHEN n_words > 0
               THEN CAST(floor(CAST(sum_len * 10000 AS DOUBLE) /
                 CAST(n_words AS DOUBLE)) AS BIGINT) ELSE 0 END AS wlen_q4,
             n_hash + n_ell_occ AS n_symbol,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lines,
               l -> substr(ltrim(l), 1, 1) IN ('-', '*', chr(8226)))) AS BIGINT)
               AS n_bullet_lines,
             CAST(len(list_filter(lines,
               l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), chr(8230))))
               AS BIGINT) AS n_ellipsis_lines,
             CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
               AS BIGINT) AS n_alpha_words,
             CAST(len(list_intersect(list_distinct(toks),
               ['the','a','an','of','to','and','in','is','it','for','on','with']))
               AS BIGINT) AS n_stop_distinct
           FROM gg),
         gp AS (
           SELECT doc_id, n_words,
             (n_words >= 50 AND n_words <= 100000 AND
              wlen_q4 >= 30000 AND wlen_q4 <= 100000 AND
              n_symbol * 10 <= n_words AND
              n_bullet_lines * 10 <= n_lines * 9 AND
              n_ellipsis_lines * 10 <= n_lines * 3 AND
              n_alpha_words * 10 >= n_words * 8 AND
              n_stop_distinct >= 2) AS pass
           FROM gs2),
         rb AS (
           SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             list_filter(list_transform(string_split(text, chr(10)),
               l -> trim(l)), l -> l <> '') AS lines,
             list_filter(list_transform(string_split(text, chr(10) || chr(10)),
               l -> trim(l)), l -> l <> '') AS paras,
             list_filter(string_split_regex(trim(text), '\s+'),
               x -> x <> '') AS ts
           FROM docs1),
         rpc AS (
           SELECT doc_id, n_chars,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS dup_line_cnt,
             CAST(COALESCE(list_sum(list_transform(lines, l -> length(l))), 0)
               - COALESCE(list_sum(list_transform(list_distinct(lines),
                   l -> length(l))), 0) AS BIGINT) AS dup_line_chars,
             CAST(COALESCE(list_sum(list_transform(lines, l -> length(l))), 0)
               AS BIGINT) AS line_chars,
             CAST(len(paras) AS BIGINT) AS n_paras,
             CAST(len(paras) - len(list_distinct(paras)) AS BIGINT) AS dup_para_cnt,
             CAST(COALESCE(list_sum(list_transform(paras, p -> length(p))), 0)
               - COALESCE(list_sum(list_transform(list_distinct(paras),
                   p -> length(p))), 0) AS BIGINT) AS dup_para_chars,
             CAST(COALESCE(list_sum(list_transform(paras, p -> length(p))), 0)
               AS BIGINT) AS para_chars,
             ts
           FROM rb),
         rg2 AS (SELECT doc_id, unnest(list_transform(range(0, greatest(len(ts) - 1, 0)),
                   pos -> array_to_string(list_slice(ts, pos + 1, pos + 2), ' '))) AS g
                 FROM rpc),
         rg3 AS (SELECT doc_id, unnest(list_transform(range(0, greatest(len(ts) - 2, 0)),
                   pos -> array_to_string(list_slice(ts, pos + 1, pos + 3), ' '))) AS g
                 FROM rpc),
         rg4 AS (SELECT doc_id, unnest(list_transform(range(0, greatest(len(ts) - 3, 0)),
                   pos -> array_to_string(list_slice(ts, pos + 1, pos + 4), ' '))) AS g
                 FROM rpc),
         rg5 AS (SELECT doc_id, unnest(list_transform(range(0, greatest(len(ts) - 4, 0)),
                   pos -> array_to_string(list_slice(ts, pos + 1, pos + 5), ' '))) AS g
                 FROM rpc),
         rt2 AS (SELECT doc_id, CAST(c * length(g) AS BIGINT) AS top2_chars FROM (
                   SELECT doc_id, g, COUNT(*) AS c,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY COUNT(*) DESC, g ASC) AS rn
                   FROM rg2 GROUP BY doc_id, g) WHERE rn = 1),
         rt3 AS (SELECT doc_id, CAST(c * length(g) AS BIGINT) AS top3_chars FROM (
                   SELECT doc_id, g, COUNT(*) AS c,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY COUNT(*) DESC, g ASC) AS rn
                   FROM rg3 GROUP BY doc_id, g) WHERE rn = 1),
         rt4 AS (SELECT doc_id, CAST(c * length(g) AS BIGINT) AS top4_chars FROM (
                   SELECT doc_id, g, COUNT(*) AS c,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY COUNT(*) DESC, g ASC) AS rn
                   FROM rg4 GROUP BY doc_id, g) WHERE rn = 1),
         rd5 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_5grams,
                   CAST(COUNT(*) - COUNT(DISTINCT g) AS BIGINT) AS dup5_occ
                 FROM rg5 GROUP BY doc_id),
         rp AS (
           SELECT p.doc_id,
             (p.dup_line_cnt * 10 <= p.n_lines * 3 AND
              p.dup_line_chars * 10 <= p.line_chars * 2 AND
              p.dup_para_cnt * 10 <= p.n_paras * 3 AND
              p.dup_para_chars * 10 <= p.para_chars * 2 AND
              COALESCE(rt2.top2_chars, 0) * 10 <= p.n_chars * 2 AND
              COALESCE(rt3.top3_chars, 0) * 100 <= p.n_chars * 18 AND
              COALESCE(rt4.top4_chars, 0) * 100 <= p.n_chars * 16 AND
              COALESCE(rd5.dup5_occ, 0) * 100 <= COALESCE(rd5.n_5grams, 0) * 15) AS pass
           FROM rpc p
           LEFT JOIN rt2 ON rt2.doc_id = p.doc_id
           LEFT JOIN rt3 ON rt3.doc_id = p.doc_id
           LEFT JOIN rt4 ON rt4.doc_id = p.doc_id
           LEFT JOIN rd5 ON rd5.doc_id = p.doc_id),
         qtok AS (
           SELECT a.doc_id, a.lang,
             list_filter(string_split_regex(trim(a.text), '\s+'), x -> x <> '') AS ts
           FROM aug a),
         qocc0 AS (SELECT doc_id, lang, unnest(ts) AS tok FROM qtok),
         qocc AS (
           SELECT doc_id, lang,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(tok, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007) % 256 AS BIGINT) AS bucket
           FROM qocc0),
         qw AS (
           SELECT bucket,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE -1 END) AS BIGINT) AS weight
           FROM qocc GROUP BY bucket),
         qsc AS (
           SELECT o.doc_id, CAST(SUM(qw.weight) AS BIGINT) AS score
           FROM qocc o JOIN qw USING (bucket) GROUP BY o.doc_id),
         qn AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM qtok),
         qpass AS (
           SELECT d.doc_id, qn.n_tokens,
             CAST(floor(CAST(COALESCE(qsc.score, 0) AS DOUBLE) /
               CAST(qn.n_tokens AS DOUBLE)) AS BIGINT) AS score_q
           FROM docs1 d
           JOIN gp ON gp.doc_id = d.doc_id
           JOIN rp ON rp.doc_id = d.doc_id
           JOIN qn ON qn.doc_id = d.doc_id
           LEFT JOIN qsc ON qsc.doc_id = d.doc_id
           WHERE gp.pass AND rp.pass AND qn.n_tokens > 0),
         qh AS (SELECT score_q, COUNT(*) AS c FROM qpass GROUP BY score_q),
         qcum AS (SELECT score_q, SUM(c) OVER (ORDER BY score_q) AS cum FROM qh),
         qtot AS (SELECT SUM(c) AS n FROM qh),
         qcut AS (SELECT MIN(CASE WHEN cum * 2 >= n THEN score_q END) AS cut
                  FROM qcum, qtot),
         docs2 AS (
           SELECT q.doc_id, d.source, d.text, q.n_tokens
           FROM qpass q JOIN docs1 d USING (doc_id), qcut
           WHERE q.score_q >= qcut.cut),
         dt AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM docs2),
         dhs AS (
           SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(range(0, len(toks) - 2),
                 i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
             END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(s, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007))) AS sh
           FROM dt),
         dsg AS (
           SELECT doc_id, sh,
             list_transform(range(0, 64), j ->
               list_min(list_transform(sh, x ->
                 (((j + 1) * 1000003 + 12345) % 2147483647 * x
                   + ((j + 1) * 999983 + 54321) % 2147483647) % 2147483647))) AS sig
           FROM dhs),
         dbk AS (
           SELECT doc_id, b.band AS band,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_slice(sig, b.band * 2 + 1, b.band * 2 + 2)),
               (a, x) -> (a * 1000003 + x) % 1000000007) AS bucket
           FROM dsg, (SELECT unnest(range(0, 32)) AS band) b),
         dcand AS (
           SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM dbk x JOIN dbk y
             ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
         dp AS (
           SELECT c.id_a, c.id_b
           FROM dcand c JOIN dhs a ON a.doc_id = c.id_a JOIN dhs b ON b.doc_id = c.id_b
           WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.5),
         de AS (
           SELECT id_a AS src, id_b AS dst FROM dp
           UNION ALL SELECT id_b, id_a FROM dp),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM docs2
           UNION
           SELECT r2.id, de.dst FROM reach r2 JOIN de ON de.src = r2.r),
         comp AS (SELECT id AS doc_id, MIN(r) AS canonical_id FROM reach GROUP BY id),
         canon AS (
           SELECT doc_id,
             CASE WHEN ((((canonical_id % 1000000007) * 1000003 % 1000000007)
                          * 999983) % 1000000007) % 10000 < 9000
                  THEN 'train' ELSE 'val' END AS split
           FROM comp WHERE doc_id = canonical_id),
         ph AS (
           SELECT c.doc_id,
             ((((c.doc_id + 42) % 1000000007) * ((c.doc_id + 42) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v
           FROM canon c WHERE c.split = 'train'),
         ps AS (SELECT doc_id, (v * v) % 1000000007 AS hh FROM ph),
         pr AS (
           SELECT doc_id, hh % 8 AS shard,
             ROW_NUMBER() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id) - 1 AS pos
           FROM ps),
         po AS (SELECT doc_id, CAST(shard * 1000000 + pos AS BIGINT) AS ord FROM pr),
         ptc AS (SELECT po.doc_id, po.ord, d2.n_tokens AS n
                 FROM po JOIN docs2 d2 USING (doc_id)),
         pc AS (
           SELECT doc_id, ord, n,
             CAST(SUM(n) OVER (ORDER BY ord
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS start
           FROM ptc),
         pk AS (SELECT doc_id, start // 512 AS seq_id, start % 512 AS seq_offset FROM pc)
         SELECT c.doc_id, d2.source, c.split, d2.n_tokens,
           pk.seq_id, pk.seq_offset
         FROM canon c
         JOIN docs2 d2 USING (doc_id)
         LEFT JOIN pk USING (doc_id)
         ORDER BY c.doc_id""",
    "q_bloom_skip_audit" ->
      """WITH b AS (SELECT CAST(MIN(doc_id) AS BIGINT) AS mn,
                  CAST(MAX(doc_id) AS BIGINT) AS mx FROM documents),
         hh AS (SELECT doc_id AS k,
                  (doc_id + 97) % 1000000007 AS a1 FROM documents),
         fh AS (SELECT k,
                  (((a1 * a1 % 1000000007 * 1000003 + 54321) % 1000000007)
                   * ((a1 * a1 % 1000000007 * 1000003 + 54321) % 1000000007)
                   % 1000000007) % 16 AS file_h
                FROM hh),
         lay AS (
           SELECT d.doc_id AS k, 'clustered' AS layout,
             (d.doc_id - b.mn) * 16 // (b.mx - b.mn + 1) AS file_id
           FROM documents d, b
           UNION ALL
           SELECT f.k, 'hashed', f.file_h FROM fh f),
         stats AS (SELECT layout, file_id, MIN(k) AS mnk, MAX(k) AS mxk
                   FROM lay GROUP BY 1, 2),
         pos AS (
           SELECT DISTINCT layout, file_id,
             ((k % 1000000007) + i.i *
               (((k % 1000000007) * (k % 1000000007) % 1000000007
                 * 1000003 + 54321) % 1000000007)) % 1000000007 % 4096 AS pos
           FROM lay, (SELECT unnest(range(1, 5)) AS i) i),
         pr AS (
           SELECT DISTINCT b.mn + (b.mx - b.mn) * f.f // 100 AS probe_key
           FROM b, (VALUES (13), (37), (61), (83)) f(f)
           UNION
           SELECT b.mx + g.g FROM b, (VALUES (1), (2), (3), (4)) g(g)),
         prf AS (
           SELECT p.probe_key,
             EXISTS(SELECT 1 FROM documents d
                    WHERE d.doc_id = p.probe_key) AS present
           FROM pr p),
         ppos AS (
           SELECT DISTINCT probe_key,
             ((probe_key % 1000000007) + i.i *
               (((probe_key % 1000000007) * (probe_key % 1000000007)
                 % 1000000007 * 1000003 + 54321) % 1000000007))
               % 1000000007 % 4096 AS pos
           FROM pr, (SELECT unnest(range(1, 5)) AS i) i),
         need AS (SELECT probe_key, COUNT(*) AS need FROM ppos GROUP BY 1),
         bh AS (
           SELECT x.layout, x.probe_key, COUNT(*) AS n_files_bloom FROM (
             SELECT s.layout, s.file_id, pp.probe_key, COUNT(*) AS got
             FROM pos s JOIN ppos pp ON pp.pos = s.pos
             GROUP BY 1, 2, 3) x
           JOIN need n ON n.probe_key = x.probe_key AND x.got = n.need
           GROUP BY 1, 2),
         rh AS (
           SELECT s.layout, p.probe_key, COUNT(*) AS n_files_range
           FROM stats s, pr p
           WHERE p.probe_key BETWEEN s.mnk AND s.mxk
           GROUP BY 1, 2),
         grid AS (
           SELECT l.layout, p.probe_key, p.present
           FROM (VALUES ('clustered'), ('hashed')) l(layout), prf p)
         SELECT g.layout, CAST(g.probe_key AS BIGINT) AS probe_key, g.present,
           CAST(COALESCE(bh.n_files_bloom, 0) AS BIGINT) AS n_files_bloom,
           CAST(COALESCE(rh.n_files_range, 0) AS BIGINT) AS n_files_range
         FROM grid g
         LEFT JOIN bh ON bh.layout = g.layout AND bh.probe_key = g.probe_key
         LEFT JOIN rh ON rh.layout = g.layout AND rh.probe_key = g.probe_key
         ORDER BY g.layout, g.probe_key""",
    "text_c4_rules" ->
      """WITH c AS (
           SELECT doc_id,
             string_split(text, chr(10)) AS lines,
             list_filter(string_split(text, chr(10)), l ->
               len(list_filter(string_split_regex(trim(l), '\s+'),
                 w -> w <> '')) >= 5
               AND regexp_matches(rtrim(l), '[.!?"]$')) AS kept,
             (lower(text) LIKE '%lorem ipsum%') AS has_lorem,
             (text LIKE '%{%') AS has_brace
           FROM documents),
         s AS (
           SELECT doc_id,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(kept) AS BIGINT) AS n_kept_lines,
             CAST(COALESCE(list_sum(list_transform(kept,
               l -> len(regexp_extract_all(l, '[.!?]')))), 0) AS BIGINT)
               AS n_sentences_kept,
             has_lorem, has_brace
           FROM c)
         SELECT doc_id, n_lines, n_kept_lines, n_sentences_kept,
           has_lorem, has_brace,
           (n_sentences_kept >= 3 AND NOT has_lorem AND NOT has_brace) AS pass
         FROM s ORDER BY doc_id""",
    "text_gopher_rules" ->
      """WITH g AS (
           SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
               w -> CAST(length(w) AS BIGINT))) AS BIGINT) AS sum_len,
             CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
             CAST(floor(CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE)
               / 3.0) AS BIGINT) AS n_ell_occ,
             string_split(text, chr(10)) AS lines,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         s AS (
           SELECT doc_id, n_words,
             CASE WHEN n_words > 0
               THEN CAST(floor(CAST(sum_len * 10000 AS DOUBLE) /
                 CAST(n_words AS DOUBLE)) AS BIGINT) ELSE 0 END AS wlen_q4,
             n_hash + n_ell_occ AS n_symbol,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lines,
               l -> substr(ltrim(l), 1, 1) IN ('-', '*', chr(8226)))) AS BIGINT)
               AS n_bullet_lines,
             CAST(len(list_filter(lines,
               l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), chr(8230))))
               AS BIGINT) AS n_ellipsis_lines,
             CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
               AS BIGINT) AS n_alpha_words,
             CAST(len(list_intersect(list_distinct(toks),
               ['the','a','an','of','to','and','in','is','it','for','on','with']))
               AS BIGINT) AS n_stop_distinct
           FROM g)
         SELECT doc_id, n_words, wlen_q4, n_symbol, n_lines, n_bullet_lines,
           n_ellipsis_lines, n_alpha_words, n_stop_distinct,
           (n_words >= 50 AND n_words <= 100000 AND
            wlen_q4 >= 30000 AND wlen_q4 <= 100000 AND
            n_symbol * 10 <= n_words AND
            n_bullet_lines * 10 <= n_lines * 9 AND
            n_ellipsis_lines * 10 <= n_lines * 3 AND
            n_alpha_words * 10 >= n_words * 8 AND
            n_stop_distinct >= 2) AS pass
         FROM s ORDER BY doc_id""",
    "dedup_span_cut" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents),
         p AS (
           SELECT doc_id, u.pos,
             md5(array_to_string(list_slice(t.ts, u.pos + 1, u.pos + 8), chr(1))) AS h
           FROM t, LATERAL (
             SELECT unnest(range(0, greatest(len(ts) - 7, 0))) AS pos) u),
         pw AS (
           SELECT doc_id, pos,
             COUNT(*) OVER (PARTITION BY h) AS c,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
           FROM p),
         k AS (SELECT doc_id, pos, (rn = 1) AS is_win FROM pw WHERE c > 1),
         b AS (
           SELECT doc_id, pos, is_win,
             CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
               THEN 1 ELSE 0 END AS brk
           FROM k),
         i AS (
           SELECT doc_id, pos, is_win,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
           FROM b),
         spans AS (
           SELECT doc_id, MIN(pos) AS s0, MAX(pos) + 8 AS s1,
             MAX(CASE WHEN is_win THEN 1 ELSE 0 END) AS kw
           FROM i GROUP BY doc_id, island),
         cuts AS (SELECT doc_id, s0, s1 FROM spans WHERE kw = 0),
         tok AS (
           SELECT doc_id, u.tpos, u.tok FROM t,
             LATERAL (SELECT unnest(ts) AS tok,
               generate_subscripts(ts, 1) - 1 AS tpos) u),
         surv AS (
           SELECT tk.doc_id, tk.tpos, tk.tok FROM tok tk
           WHERE NOT EXISTS (SELECT 1 FROM cuts c
             WHERE c.doc_id = tk.doc_id AND tk.tpos >= c.s0 AND tk.tpos < c.s1)),
         rb AS (
           SELECT doc_id,
             array_to_string(array_agg(tok ORDER BY tpos), ' ') AS clean_text,
             COUNT(*) AS n_kept
           FROM surv GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(rb.clean_text, '') AS clean_text,
           CAST(COALESCE(rb.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(len(string_split_regex(trim(d.text), '\s+'))
             - COALESCE(rb.n_kept, 0) AS BIGINT) AS n_cut
         FROM documents d LEFT JOIN rb USING (doc_id) ORDER BY d.doc_id""",
    "dedup_substring_spans" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents),
         p AS (
           SELECT doc_id, u.pos,
             md5(array_to_string(list_slice(t.ts, u.pos + 1, u.pos + 8), chr(1))) AS h
           FROM t, LATERAL (
             SELECT unnest(range(0, greatest(len(ts) - 7, 0))) AS pos) u),
         d AS (SELECT h FROM p GROUP BY h HAVING COUNT(*) > 1),
         k AS (SELECT p.doc_id, p.pos FROM p JOIN d USING (h)),
         b AS (
           SELECT doc_id, pos,
             CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
               THEN 1 ELSE 0 END AS brk
           FROM k),
         i AS (
           SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
           FROM b)
         SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_len
         FROM i GROUP BY doc_id, island ORDER BY doc_id, span_start""",
    "text_ppl_buckets" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents),
         uni AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
         tot AS (SELECT COUNT(*) AS total FROM toks),
         sc AS (
           SELECT t.doc_id, COUNT(*) AS n_tok,
             CAST(SUM(CAST(floor(ln(CAST(u.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE))
               * 1000000.0) AS BIGINT)) AS BIGINT) AS slp
           FROM toks t JOIN uni u USING (tok) CROSS JOIN tot
           GROUP BY t.doc_id),
         sq AS (
           SELECT d.doc_id, d.lang,
             CAST(floor(CAST(s.slp AS DOUBLE) / CAST(s.n_tok AS DOUBLE)) AS BIGINT) AS score_q
           FROM documents d JOIN sc s USING (doc_id) WHERE s.n_tok > 0),
         hist AS (SELECT lang, score_q, COUNT(*) AS c FROM sq GROUP BY 1, 2),
         cm AS (
           SELECT lang, score_q, c,
             SUM(c) OVER (PARTITION BY lang ORDER BY score_q) AS cum
           FROM hist),
         t2 AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM hist GROUP BY lang),
         cuts AS (
           SELECT cm.lang,
             MIN(CASE WHEN cm.cum >= CAST(floor((t2.n + 2) / 3.0) AS BIGINT)
               THEN cm.score_q END) AS c1,
             MIN(CASE WHEN cm.cum >= CAST(floor((t2.n * 2 + 2) / 3.0) AS BIGINT)
               THEN cm.score_q END) AS c2
           FROM cm JOIN t2 USING (lang) GROUP BY cm.lang)
         SELECT s.doc_id, s.lang, s.score_q,
           CASE WHEN s.score_q <= c.c1 THEN 'tail'
                WHEN s.score_q <= c.c2 THEN 'middle'
                ELSE 'head' END AS bucket
         FROM sq s JOIN cuts c USING (lang) ORDER BY s.doc_id""",
    "dedup_semantic" ->
      """WITH RECURSIVE n AS (SELECT count(*) AS cnt FROM embeddings),
         hx AS (
           SELECT vec_id, embedding,
             ((((vec_id + 42) % 1000000007) * ((vec_id + 42) % 1000000007))
               % 1000000007 * 1000003 + 54321) % 1000000007 AS v
           FROM embeddings),
         init AS (
           SELECT vec_id, embedding,
             ROW_NUMBER() OVER (ORDER BY (v * v) % 1000000007, vec_id) - 1 AS cell
           FROM hx
           QUALIFY cell < (SELECT greatest(16, CAST(ceil(sqrt(cnt)) AS BIGINT)) FROM n)),
         a0 AS (
           SELECT e.vec_id, i.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, i.embedding) DESC, i.cell) AS rk
           FROM embeddings e CROSS JOIN init i),
         a1 AS (SELECT vec_id, cell FROM a0 WHERE rk = 1),
         q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
           FROM embeddings),
         mp AS (
           SELECT a1.cell, p.pos,
             CAST(floor(CAST(sum(p.qx) AS DOUBLE) / count(*)) AS BIGINT) AS mq
           FROM a1 JOIN q USING (vec_id),
             LATERAL (SELECT unnest(qv) AS qx, generate_subscripts(qv, 1) AS pos) p
           GROUP BY a1.cell, p.pos),
         upd AS (
           SELECT cell, list_transform(array_agg(mq ORDER BY pos),
             m -> CAST(m / 1048576.0 AS FLOAT)) AS cv
           FROM mp GROUP BY cell),
         cents AS (
           SELECT i.cell, COALESCE(u.cv, i.embedding) AS cv
           FROM init i LEFT JOIN upd u USING (cell)),
         a2 AS (
           SELECT e.vec_id, c.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cell) AS rk
           FROM embeddings e CROSS JOIN cents c),
         assign AS (SELECT vec_id, cell FROM a2 WHERE rk = 1),
         p AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM assign x JOIN assign y ON x.cell = y.cell AND x.vec_id < y.vec_id
           JOIN embeddings a ON a.vec_id = x.vec_id
           JOIN embeddings b ON b.vec_id = y.vec_id
           WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.3),
         e2 AS (
           SELECT id_a AS src, id_b AS dst FROM p
           UNION ALL SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT vec_id, vec_id FROM embeddings
           UNION
           SELECT r2.id, e2.dst FROM reach r2 JOIN e2 ON e2.src = r2.r),
         canon AS (SELECT id, MIN(r) AS canonical FROM reach GROUP BY id)
         SELECT m.vec_id, m.label FROM embeddings m
         JOIN canon c ON c.id = m.vec_id AND c.canonical = m.vec_id
         ORDER BY m.vec_id""",
    "dedup_embedding" ->
      """WITH RECURSIVE p AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.3),
         e AS (
           SELECT id_a AS src, id_b AS dst FROM p
           UNION ALL SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT vec_id, vec_id FROM embeddings
           UNION
           SELECT r2.id, e.dst FROM reach r2 JOIN e ON e.src = r2.r),
         canon AS (SELECT id, MIN(r) AS canonical FROM reach GROUP BY id)
         SELECT m.vec_id, m.label FROM embeddings m
         JOIN canon c ON c.id = m.vec_id AND c.canonical = m.vec_id
         ORDER BY m.vec_id""",
    "text_stats" ->
      """SELECT doc_id,
           len(string_split_regex(trim(text), '\s+')) AS n_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpeish,
           length(text) AS n_chars_computed,
           CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
             t -> t IN ('the','a','an','of','to','and','in','is','it','for','on','with'))) AS DOUBLE) /
             CAST(NULLIF(len(string_split_regex(trim(text), '\s+')), 0) AS DOUBLE) AS stopword_ratio,
           CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'), t -> length(t))) AS DOUBLE) /
             CAST(NULLIF(len(string_split_regex(trim(text), '\s+')), 0) AS DOUBLE) AS mean_token_len
         FROM documents ORDER BY doc_id""",
    "events_sliding_window" ->
      """WITH e AS (
           SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
         w AS (
           SELECT event_type,
             unnest([es // 3600 * 3600, es // 3600 * 3600 - 3600]) AS wss
           FROM e)
         SELECT strftime(make_timestamp(wss * 1000000), '%Y-%m-%d %H:%M:%S') AS ws,
           event_type, COUNT(*) AS n
         FROM w GROUP BY 1, 2 ORDER BY 1, 2""",
    "text_quality" ->
      """WITH q AS (
           SELECT doc_id,
             least(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) / 50.0, 1.0) AS len_score,
             least((CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                 t -> t IN ('the','a','an','of','to','and','in','is','it','for','on','with'))) AS DOUBLE) /
               CAST(NULLIF(len(string_split_regex(trim(text), '\s+')), 0) AS DOUBLE)) * 5.0, 1.0) AS stop_score,
             least(coalesce(CAST(length(regexp_replace(text, '[^.,;:!?''"()\[\]-]', '', 'g')) AS DOUBLE) /
               CAST(NULLIF(length(text), 0) AS DOUBLE), 0.0) * 2.0, 1.0) AS punct_penalty
           FROM documents)
         SELECT doc_id,
           CAST(floor(((len_score * 0.5 + stop_score * 0.4) * (1.0 - punct_penalty * 0.5) + 0.1)
             * 10000.0 + 0.5) AS BIGINT) AS quality_q4
         FROM q ORDER BY doc_id""",
    "text_fingerprint" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks, text FROM documents),
         sh AS (
           SELECT doc_id, text,
             CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(range(0, len(toks) - 3),
                 i -> array_to_string(list_slice(toks, i + 1, i + 4), ' '))
             END AS shingles
           FROM t),
         h AS (
           SELECT doc_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007) AS fp,
             list_transform(shingles,
               s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(list_filter(string_split(s, ''), c -> c <> ''),
                   c -> CAST(unicode(c) AS BIGINT))),
                 (a, b) -> (a * 1000003 + b) % 1000000007)) AS hs
           FROM sh)
         SELECT doc_id, fp,
           CASE WHEN len(hs) <= 4 THEN 1
             ELSE len(list_distinct(list_transform(range(0, len(hs) - 3),
               i -> list_min(list_slice(hs, i + 1, i + 4)))))
           END AS n_winnow
         FROM h ORDER BY doc_id""",
    "text_repetition" ->
      """WITH t AS (
           SELECT doc_id,
             list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents)
         SELECT doc_id,
           CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) /
             CAST(NULLIF(len(lines), 0) AS DOUBLE) AS dup_line_frac,
           CAST(list_max(list_transform(list_distinct(toks),
             t2 -> len(list_filter(toks, x -> x = t2)))) AS DOUBLE) /
             CAST(NULLIF(len(toks), 0) AS DOUBLE) AS max_tok_frac
         FROM t ORDER BY doc_id""",
    "text_clean" ->
      """WITH c AS (
           SELECT doc_id, text,
             trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               text,
               '<[^>]+>', ' ', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\d{6,}', '<NUM>', 'g'),
               '[\x00-\x1f\x7f]', '', 'g'),
               '\s+', ' ', 'g')) AS cleaned
           FROM documents)
         SELECT doc_id, cleaned,
           CAST(floor(coalesce(
             CAST(length(text) - length(cleaned) AS DOUBLE) /
               CAST(NULLIF(length(text), 0) AS DOUBLE), 0.0) * 1000000.0 + 0.5) AS BIGINT) AS shrink_q6
         FROM c ORDER BY doc_id""",
    "text_lang_id" ->
      """WITH s AS (
           SELECT doc_id,
             len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               t -> t IN ('the','a','of','to','and','is','in','it'))) AS s_en,
             len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               t -> t IN ('der','die','das','und','ist','ein','nicht','mit'))) AS s_de,
             len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               t -> t IN ('el','la','de','y','es','que','un','una'))) AS s_es,
             len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               t -> t IN ('le','la','les','et','est','que','une','dans'))) AS s_fr
           FROM documents)
         SELECT doc_id,
           CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
                WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
                WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
                WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred
         FROM s ORDER BY doc_id""",
    "text_langid_trained" -> langIdTrainedOracle,
    "events_gapfill" ->
      """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day FROM events),
         daily AS (SELECT event_type, day, COUNT(*) AS n FROM ev GROUP BY 1, 2),
         grid AS (
           SELECT t.event_type, unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY))::DATE AS day
           FROM (SELECT DISTINCT event_type FROM ev) t,
                (SELECT min(day) AS d0, max(day) AS d1 FROM ev) b)
         SELECT g.event_type, g.day, COALESCE(d.n, 0) AS n
         FROM grid g LEFT JOIN daily d USING (event_type, day)
         ORDER BY g.event_type, g.day""",
    "events_transitions" ->
      """WITH l AS (
           SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
           FROM events)
         SELECT prev_type, event_type, COUNT(*) AS n FROM l
         WHERE prev_type IS NOT NULL
         GROUP BY prev_type, event_type ORDER BY prev_type, event_type""",
        "text_cms_heavy_hitters" ->
      """WITH toks AS (
           SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
         h AS (
           SELECT tok, list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(tok, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007) AS h1
           FROM toks),
         hp AS (SELECT tok, h1,
             (h1 * h1 % 1000000007 * 1000003 + 54321) % 1000000007 AS h2 FROM h),
         cells AS (
           SELECT tok, j.j AS j, (h1 + j.j * h2) % 1000000007 % 1024 AS pos
           FROM hp, (SELECT unnest(range(1, 5)) AS j) j),
         counters AS (
           SELECT j, pos, CAST(count(*) AS BIGINT) AS cnt FROM cells GROUP BY j, pos),
         exact AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_n FROM toks GROUP BY tok),
         top AS (SELECT tok, exact_n FROM exact ORDER BY exact_n DESC, tok LIMIT 20),
         th AS (
           SELECT tok, exact_n, list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(tok, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007) AS h1
           FROM top),
         tp AS (SELECT tok, exact_n, h1,
             (h1 * h1 % 1000000007 * 1000003 + 54321) % 1000000007 AS h2 FROM th),
         tc AS (
           SELECT tok, exact_n, j.j AS j, (h1 + j.j * h2) % 1000000007 % 1024 AS pos
           FROM tp, (SELECT unnest(range(1, 5)) AS j) j),
         est AS (
           SELECT tok, exact_n, MIN(COALESCE(c.cnt, 0)) AS est_n
           FROM tc LEFT JOIN counters c USING (j, pos) GROUP BY tok, exact_n)
         SELECT tok AS term, exact_n, CAST(est_n AS BIGINT) AS est_n
         FROM est ORDER BY exact_n DESC, term""",
        "text_cms_windowed" ->
      """WITH b AS (
           SELECT (doc_id // 60) * 60 AS win,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         occ AS (SELECT win, unnest(toks) AS tok FROM b),
         h AS (
           SELECT win, tok, list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(tok, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007) AS h1
           FROM occ),
         hp AS (SELECT win, tok, h1,
             (h1 * h1 % 1000000007 * 1000003 + 54321) % 1000000007 AS h2 FROM h),
         cells AS (
           SELECT win, j.j AS j, (h1 + j.j * h2) % 1000000007 % 1024 AS pos
           FROM hp, (SELECT unnest(range(1, 5)) AS j) j),
         counters AS (
           SELECT win, j, pos, CAST(count(*) AS BIGINT) AS cnt
           FROM cells GROUP BY win, j, pos),
         exact AS (SELECT tok, count(*) AS n FROM occ GROUP BY tok),
         top AS (SELECT tok FROM exact ORDER BY n DESC, tok LIMIT 5),
         th AS (
           SELECT tok, list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(tok, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007) AS h1
           FROM top),
         tp AS (SELECT tok, h1,
             (h1 * h1 % 1000000007 * 1000003 + 54321) % 1000000007 AS h2 FROM th),
         tc AS (
           SELECT tok, j.j AS j, (h1 + j.j * h2) % 1000000007 % 1024 AS pos
           FROM tp, (SELECT unnest(range(1, 5)) AS j) j),
         wins AS (SELECT DISTINCT win FROM counters),
         est AS (
           SELECT w.win, tc.tok, MIN(COALESCE(c.cnt, 0)) AS est_n
           FROM wins w CROSS JOIN tc
           LEFT JOIN counters c ON c.win = w.win AND c.j = tc.j AND c.pos = tc.pos
           GROUP BY w.win, tc.tok),
         ew AS (
           SELECT win, tok, CAST(count(*) AS BIGINT) AS exact_n
           FROM occ JOIN top USING (tok) GROUP BY win, tok)
         SELECT est.win AS win_start, est.tok AS term,
           COALESCE(ew.exact_n, CAST(0 AS BIGINT)) AS exact_n,
           CAST(est.est_n AS BIGINT) AS est_n
         FROM est LEFT JOIN ew ON ew.win = est.win AND ew.tok = est.tok
         ORDER BY win_start, term""",
            "text_hll_windowed" ->
      """WITH b AS (
           SELECT (doc_id // 60) * 60 AS win, doc_id,
             string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         occ AS (SELECT win, unnest(toks) AS tok FROM b),
         h AS (
           SELECT win, list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(tok, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007) AS h1
           FROM occ),
         hp AS (SELECT win, h1,
             (h1 * h1 % 1000000007 * 1000003 + 54321) % 1000000007 AS h2 FROM h),
         br AS (
           SELECT win, h1 % 64 AS bucket,
             CASE WHEN h2 = 0 THEN 31
                  ELSE CAST(bit_count((h2 & (-h2)) - 1) + 1 AS INTEGER) END AS rank
           FROM hp),
         regs AS (SELECT win, bucket, MAX(rank) AS mj FROM br GROUP BY win, bucket),
         agg AS (SELECT win, CAST(COUNT(*) AS BIGINT) AS n_regs,
             SUM(1.0 / (CAST(1 AS BIGINT) << mj)) AS hs FROM regs GROUP BY win),
         nd AS (SELECT win, CAST(COUNT(*) AS BIGINT) AS n_docs FROM b GROUP BY win)
         SELECT nd.win AS win_start, nd.n_docs,
           CAST(64 - a.n_regs AS BIGINT) AS v_zero,
           CAST(floor(CASE WHEN (64 - a.n_regs) > 0 AND
               (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0 /
                 (a.hs + CAST(64 - a.n_regs AS DOUBLE)) <= 2.5 * 64.0
             THEN 64.0 * ln(64.0 / CAST(64 - a.n_regs AS DOUBLE))
             ELSE (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0 /
                 (a.hs + CAST(64 - a.n_regs AS DOUBLE)) END) AS BIGINT) AS est_distinct
         FROM nd JOIN agg a USING (win)
         ORDER BY win_start""",
        "text_hll_by_source" ->
      """WITH toks AS (
           SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents),
         h AS (
           SELECT source, tok, list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(tok, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007) AS h1
           FROM toks),
         hp AS (SELECT source, h1,
             (h1 * h1 % 1000000007 * 1000003 + 54321) % 1000000007 AS h2 FROM h),
         br AS (
           SELECT source, h1 % 64 AS bucket,
             CASE WHEN h2 = 0 THEN 31
                  ELSE CAST(bit_count((h2 & (-h2)) - 1) + 1 AS INTEGER) END AS rank
           FROM hp),
         regs AS (SELECT source, bucket, MAX(rank) AS mj
                  FROM br GROUP BY source, bucket),
         agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_regs,
             SUM(1.0 / (CAST(1 AS BIGINT) << mj)) AS hs FROM regs GROUP BY source),
         ex AS (SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_distinct
                FROM toks GROUP BY source)
         SELECT ex.source, ex.exact_distinct,
           CAST(64 - a.n_regs AS BIGINT) AS v_zero,
           CAST(floor(CASE WHEN (64 - a.n_regs) > 0 AND
               (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0 /
                 (a.hs + CAST(64 - a.n_regs AS DOUBLE)) <= 2.5 * 64.0
             THEN 64.0 * ln(64.0 / CAST(64 - a.n_regs AS DOUBLE))
             ELSE (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0 /
                 (a.hs + CAST(64 - a.n_regs AS DOUBLE)) END) AS BIGINT) AS est_distinct
         FROM ex JOIN agg a USING (source)
         ORDER BY source""",
    "text_hll_distinct" ->
      """WITH toks AS (
           SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
         h AS (
           SELECT tok, list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(tok, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007) AS h1
           FROM toks),
         hp AS (SELECT tok, h1,
             (h1 * h1 % 1000000007 * 1000003 + 54321) % 1000000007 AS h2 FROM h),
         br AS (
           SELECT h1 % 256 AS bucket,
             CASE WHEN h2 = 0 THEN 31
                  ELSE CAST(bit_count((h2 & (-h2)) - 1) + 1 AS INTEGER) END AS rank
           FROM hp),
         regs AS (SELECT bucket, MAX(rank) AS mj FROM br GROUP BY bucket),
         hit AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_regs,
             SUM(1.0 / (CAST(1 AS BIGINT) << mj)) AS hsum_hit FROM regs),
         ex AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_distinct FROM toks)
         SELECT ex.exact_distinct,
           CAST(256 - n_regs AS BIGINT) AS v_zero,
           CAST(floor(CASE WHEN (256 - n_regs) > 0 AND
               (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 /
                 (hsum_hit + CAST(256 - n_regs AS DOUBLE)) <= 2.5 * 256.0
             THEN 256.0 * ln(256.0 / CAST(256 - n_regs AS DOUBLE))
             ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 /
                 (hsum_hit + CAST(256 - n_regs AS DOUBLE)) END) AS BIGINT) AS est_distinct
         FROM ex, hit""",
    "text_top_terms" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks WHERE token <> '' GROUP BY 1, 2),
         dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
         n AS (SELECT COUNT(*) AS n_docs FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.token, CAST(tf.tf AS DOUBLE) * n.n_docs / dfreq.df AS score
           FROM tf JOIN dfreq USING (token) CROSS JOIN n),
         ranked AS (
           SELECT doc_id, token, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rk
           FROM scored)
         SELECT doc_id, rk, token, score FROM ranked WHERE rk <= 3
         ORDER BY doc_id, rk""",
    "dedup_contamination" ->
      """WITH d AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
         sh AS (
           SELECT doc_id, CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
             ELSE list_transform(range(1, len(t) - 6),
               i -> array_to_string(list_slice(t, i, i + 7), ' ')) END AS gs
           FROM d),
         g AS (SELECT DISTINCT doc_id, g FROM (SELECT doc_id, unnest(gs) AS g FROM sh)),
         evalg AS (SELECT * FROM g WHERE doc_id % 100 = 0),
         traing AS (SELECT DISTINCT g FROM g WHERE doc_id % 100 <> 0),
         hits AS (
           SELECT e.doc_id, COUNT(*) AS n FROM evalg e
           JOIN traing t ON t.g = e.g GROUP BY e.doc_id)
         SELECT d2.doc_id, COALESCE(h.n, 0) AS n_shared_8grams,
           COALESCE(h.n, 0) > 0 AS contaminated
         FROM (SELECT doc_id FROM documents WHERE doc_id % 100 = 0) d2
         LEFT JOIN hits h USING (doc_id) ORDER BY doc_id""",
    "text_bloom_decontam" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
         hs AS (
           SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(range(0, len(toks) - 7),
                 i -> array_to_string(list_slice(toks, i + 1, i + 8), ' '))
             END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(s, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007))) AS sh
           FROM t),
         refpos AS (
           SELECT DISTINCT
             ((u.h + i.i * ((u.h * u.h % 1000000007 * 1000003 + 54321) % 1000000007))
               % 1000000007) % 2097152 AS pos
           FROM (SELECT unnest(sh) AS h FROM hs WHERE doc_id % 20 = 0) u,
                (SELECT unnest(range(1, 5)) AS i) i),
         dp AS (
           SELECT DISTINCT doc_id, h,
             ((h + i.i * ((h * h % 1000000007 * 1000003 + 54321) % 1000000007))
               % 1000000007) % 2097152 AS pos
           FROM (SELECT doc_id, unnest(sh) AS h FROM hs WHERE doc_id % 20 <> 0) c,
                (SELECT unnest(range(1, 5)) AS i) i),
         sm AS (
           SELECT dp.doc_id, dp.h, count(*) AS n_pos, count(r.pos) AS n_set
           FROM dp LEFT JOIN refpos r ON r.pos = dp.pos
           GROUP BY dp.doc_id, dp.h),
         hit AS (
           SELECT doc_id,
             CAST(SUM(CASE WHEN n_set = n_pos THEN 1 ELSE 0 END) AS INTEGER) AS n_hits
           FROM sm GROUP BY doc_id)
         SELECT hs.doc_id, CAST(len(hs.sh) AS INTEGER) AS n_shingles,
           COALESCE(hit.n_hits, 0) AS n_hits,
           COALESCE(hit.n_hits, 0) > 0 AS contaminated
         FROM hs LEFT JOIN hit USING (doc_id)
         WHERE hs.doc_id % 20 <> 0
         ORDER BY doc_id""",
    "text_bloom_eval" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
         hs AS (
           SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(range(0, len(toks) - 7),
                 i -> array_to_string(list_slice(toks, i + 1, i + 8), ' '))
             END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(s, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007))) AS sh
           FROM t),
         refpos AS (
           SELECT DISTINCT
             ((u.h + i.i * ((u.h * u.h % 1000000007 * 1000003 + 54321) % 1000000007))
               % 1000000007) % 2097152 AS pos
           FROM (SELECT unnest(sh) AS h FROM hs WHERE doc_id % 20 = 0) u,
                (SELECT unnest(range(1, 5)) AS i) i),
         dp AS (
           SELECT DISTINCT doc_id, h,
             ((h + i.i * ((h * h % 1000000007 * 1000003 + 54321) % 1000000007))
               % 1000000007) % 2097152 AS pos
           FROM (SELECT doc_id, unnest(sh) AS h FROM hs WHERE doc_id % 20 <> 0) c,
                (SELECT unnest(range(1, 5)) AS i) i),
         sm AS (
           SELECT dp.doc_id, dp.h, count(*) AS n_pos, count(r.pos) AS n_set
           FROM dp LEFT JOIN refpos r ON r.pos = dp.pos
           GROUP BY dp.doc_id, dp.h),
         flags AS (
           SELECT hs.doc_id,
             COALESCE(hit.n_hits, 0) > 0 AS contaminated
           FROM hs LEFT JOIN (
             SELECT doc_id,
               SUM(CASE WHEN n_set = n_pos THEN 1 ELSE 0 END) AS n_hits
             FROM sm GROUP BY doc_id) hit USING (doc_id)
           WHERE hs.doc_id % 20 <> 0),
         truth AS (
           SELECT DISTINCT c.doc_id
           FROM (SELECT doc_id, unnest(sh) AS h FROM hs WHERE doc_id % 20 <> 0) c
           JOIN (SELECT DISTINCT unnest(sh) AS h FROM hs WHERE doc_id % 20 = 0) r
             USING (h))
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN f.contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(SUM(CASE WHEN tr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN f.contaminated AND tr.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN NOT f.contaminated AND tr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missed
         FROM flags f LEFT JOIN truth tr USING (doc_id)""",
    "text_bloom_eval_small" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
         hs AS (
           SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(range(0, len(toks) - 7),
                 i -> array_to_string(list_slice(toks, i + 1, i + 8), ' '))
             END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(s, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007))) AS sh
           FROM t),
         refpos AS (
           SELECT DISTINCT
             ((u.h + i.i * ((u.h * u.h % 1000000007 * 1000003 + 54321) % 1000000007))
               % 1000000007) % 32768 AS pos
           FROM (SELECT unnest(sh) AS h FROM hs WHERE doc_id % 20 = 0) u,
                (SELECT unnest(range(1, 5)) AS i) i),
         dp AS (
           SELECT DISTINCT doc_id, h,
             ((h + i.i * ((h * h % 1000000007 * 1000003 + 54321) % 1000000007))
               % 1000000007) % 32768 AS pos
           FROM (SELECT doc_id, unnest(sh) AS h FROM hs WHERE doc_id % 20 <> 0) c,
                (SELECT unnest(range(1, 5)) AS i) i),
         sm AS (
           SELECT dp.doc_id, dp.h, count(*) AS n_pos, count(r.pos) AS n_set
           FROM dp LEFT JOIN refpos r ON r.pos = dp.pos
           GROUP BY dp.doc_id, dp.h),
         flags AS (
           SELECT hs.doc_id,
             COALESCE(hit.n_hits, 0) > 0 AS contaminated
           FROM hs LEFT JOIN (
             SELECT doc_id,
               SUM(CASE WHEN n_set = n_pos THEN 1 ELSE 0 END) AS n_hits
             FROM sm GROUP BY doc_id) hit USING (doc_id)
           WHERE hs.doc_id % 20 <> 0),
         truth AS (
           SELECT DISTINCT c.doc_id
           FROM (SELECT doc_id, unnest(sh) AS h FROM hs WHERE doc_id % 20 <> 0) c
           JOIN (SELECT DISTINCT unnest(sh) AS h FROM hs WHERE doc_id % 20 = 0) r
             USING (h))
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN f.contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(SUM(CASE WHEN tr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN f.contaminated AND tr.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN NOT f.contaminated AND tr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missed
         FROM flags f LEFT JOIN truth tr USING (doc_id)""",
    "text_decontam_two_tier" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
         hs AS (
           SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(range(0, len(toks) - 7),
                 i -> array_to_string(list_slice(toks, i + 1, i + 8), ' '))
             END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(s, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007))) AS sh
           FROM t),
         refh AS (SELECT DISTINCT unnest(sh) AS h FROM hs WHERE doc_id % 20 = 0),
         shared AS (
           SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
           FROM (SELECT doc_id, unnest(sh) AS h FROM hs WHERE doc_id % 20 <> 0) c
           JOIN refh USING (h) GROUP BY c.doc_id)
         SELECT hs.doc_id, COALESCE(sr.n_shared, 0) AS n_shared,
           COALESCE(sr.n_shared, 0) > 0 AS contaminated
         FROM hs LEFT JOIN shared sr USING (doc_id)
         WHERE hs.doc_id % 20 <> 0
         ORDER BY doc_id""",
    "text_bloom_gate" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
         hs AS (
           SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(range(0, len(toks) - 7),
                 i -> array_to_string(list_slice(toks, i + 1, i + 8), ' '))
             END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(s, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007))) AS sh
           FROM t),
         refpos AS (
           SELECT DISTINCT
             ((u.h + i.i * ((u.h * u.h % 1000000007 * 1000003 + 54321) % 1000000007))
               % 1000000007) % 2097152 AS pos
           FROM (SELECT unnest(sh) AS h FROM hs WHERE doc_id % 20 = 0) u,
                (SELECT unnest(range(1, 5)) AS i) i),
         dp AS (
           SELECT DISTINCT doc_id, h,
             ((h + i.i * ((h * h % 1000000007 * 1000003 + 54321) % 1000000007))
               % 1000000007) % 2097152 AS pos
           FROM (SELECT doc_id, unnest(sh) AS h FROM hs WHERE doc_id % 20 <> 0) c,
                (SELECT unnest(range(1, 5)) AS i) i),
         sm AS (
           SELECT dp.doc_id, dp.h, count(*) AS n_pos, count(r.pos) AS n_set
           FROM dp LEFT JOIN refpos r ON r.pos = dp.pos
           GROUP BY dp.doc_id, dp.h),
         hit AS (
           SELECT doc_id,
             CAST(SUM(CASE WHEN n_set = n_pos THEN 1 ELSE 0 END) AS INTEGER) AS n_hits
           FROM sm GROUP BY doc_id)
         SELECT doc_id AS id, n_hits FROM hit WHERE n_hits > 0
         ORDER BY id""",
    "events_ewma" ->
      """WITH per AS (
           SELECT user_id, COUNT(*) AS n_events,
             list(value ORDER BY ts, event_id) AS vs
           FROM events GROUP BY user_id)
         SELECT user_id, n_events,
           list_reduce(vs, (acc, x) -> acc * 0.5 + x * 0.5) AS ewma_value
         FROM per ORDER BY user_id""",
    "text_chunks" ->
      """WITH d AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
         c AS (
           SELECT doc_id, unnest(list_transform(range(0, len(t), 32),
             (st, i) -> struct_pack(
               chunk_idx := CAST(i - 1 AS INTEGER),
               chunk_start := CAST(st AS INTEGER),
               n_chunk_tokens := CAST(least(64, len(t) - st) AS INTEGER),
               chunk_text := array_to_string(list_slice(t, st + 1, st + 64), ' ')))) AS u
           FROM d)
         SELECT doc_id, u.chunk_idx AS chunk_idx, u.chunk_start AS chunk_start,
                u.n_chunk_tokens AS n_chunk_tokens, u.chunk_text AS chunk_text
         FROM c ORDER BY doc_id, chunk_idx""",
    "events_interpolate" ->
      """WITH ev AS (
           SELECT CAST(ts AS DATE) AS day, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase'),
         daily AS (SELECT day, CAST(SUM(cents) AS BIGINT) AS v FROM ev GROUP BY day),
         sparse AS (SELECT * FROM daily WHERE dayofmonth(day) % 3 = 0),
         grid AS (
           SELECT unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY))::DATE AS day
           FROM (SELECT min(day) AS d0, max(day) AS d1 FROM ev) b),
         series AS (
           SELECT g.day, s.v FROM grid g LEFT JOIN sparse s USING (day)),
         scanned AS (
           SELECT day, v,
             last_value(v IGNORE NULLS) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
             first_value(v IGNORE NULLS) OVER (ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
           FROM series)
         SELECT day, v AS observed_cents,
           CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                  pv + CAST(nv - pv AS DOUBLE) * datediff('day', pd, day) / datediff('day', pd, nd)
                ELSE CAST(COALESCE(pv, nv) AS DOUBLE) END AS interp_cents
         FROM scanned ORDER BY day""",
    "text_char_gini" ->
      """WITH ch AS (
           SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
         cnt AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2)
         SELECT doc_id,
           1.0 - CAST(sum(c * c) AS DOUBLE) / CAST(sum(c) * sum(c) AS DOUBLE) AS char_gini
         FROM cnt GROUP BY doc_id ORDER BY doc_id""",
    "text_gopher_repetition" ->
      """WITH base AS (
           SELECT doc_id, text,
             CAST(length(text) AS BIGINT) AS n_chars,
             list_filter(list_transform(string_split(text, chr(10)),
               l -> trim(l)), l -> l <> '') AS lines,
             list_filter(list_transform(string_split(text, chr(10) || chr(10)),
               l -> trim(l)), l -> l <> '') AS paras,
             list_filter(string_split_regex(trim(text), '\s+'),
               x -> x <> '') AS ts
           FROM documents),
         piece AS (
           SELECT doc_id, n_chars,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS dup_line_cnt,
             CAST(COALESCE(list_sum(list_transform(lines, l -> length(l))), 0)
               - COALESCE(list_sum(list_transform(list_distinct(lines),
                   l -> length(l))), 0) AS BIGINT) AS dup_line_chars,
             CAST(COALESCE(list_sum(list_transform(lines, l -> length(l))), 0)
               AS BIGINT) AS line_chars,
             CAST(len(paras) AS BIGINT) AS n_paras,
             CAST(len(paras) - len(list_distinct(paras)) AS BIGINT) AS dup_para_cnt,
             CAST(COALESCE(list_sum(list_transform(paras, p -> length(p))), 0)
               - COALESCE(list_sum(list_transform(list_distinct(paras),
                   p -> length(p))), 0) AS BIGINT) AS dup_para_chars,
             CAST(COALESCE(list_sum(list_transform(paras, p -> length(p))), 0)
               AS BIGINT) AS para_chars,
             ts
           FROM base),
         g2 AS (SELECT doc_id, array_to_string(list_slice(ts, u.pos + 1, u.pos + 2), ' ') AS g
                FROM piece, LATERAL (SELECT unnest(range(0, greatest(len(ts) - 1, 0))) AS pos) u),
         g3 AS (SELECT doc_id, array_to_string(list_slice(ts, u.pos + 1, u.pos + 3), ' ') AS g
                FROM piece, LATERAL (SELECT unnest(range(0, greatest(len(ts) - 2, 0))) AS pos) u),
         g4 AS (SELECT doc_id, array_to_string(list_slice(ts, u.pos + 1, u.pos + 4), ' ') AS g
                FROM piece, LATERAL (SELECT unnest(range(0, greatest(len(ts) - 3, 0))) AS pos) u),
         g5 AS (SELECT doc_id, array_to_string(list_slice(ts, u.pos + 1, u.pos + 5), ' ') AS g
                FROM piece, LATERAL (SELECT unnest(range(0, greatest(len(ts) - 4, 0))) AS pos) u),
         t2 AS (SELECT doc_id, CAST(c * length(g) AS BIGINT) AS top2_chars FROM (
                  SELECT doc_id, g, COUNT(*) AS c,
                    ROW_NUMBER() OVER (PARTITION BY doc_id
                      ORDER BY COUNT(*) DESC, g ASC) AS rn
                  FROM g2 GROUP BY doc_id, g) WHERE rn = 1),
         t3 AS (SELECT doc_id, CAST(c * length(g) AS BIGINT) AS top3_chars FROM (
                  SELECT doc_id, g, COUNT(*) AS c,
                    ROW_NUMBER() OVER (PARTITION BY doc_id
                      ORDER BY COUNT(*) DESC, g ASC) AS rn
                  FROM g3 GROUP BY doc_id, g) WHERE rn = 1),
         t4 AS (SELECT doc_id, CAST(c * length(g) AS BIGINT) AS top4_chars FROM (
                  SELECT doc_id, g, COUNT(*) AS c,
                    ROW_NUMBER() OVER (PARTITION BY doc_id
                      ORDER BY COUNT(*) DESC, g ASC) AS rn
                  FROM g4 GROUP BY doc_id, g) WHERE rn = 1),
         d5 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_5grams,
                  CAST(COUNT(*) - COUNT(DISTINCT g) AS BIGINT) AS dup5_occ
                FROM g5 GROUP BY doc_id),
         j AS (
           SELECT p.doc_id, p.n_lines, p.dup_line_cnt, p.dup_line_chars,
             p.line_chars, p.n_paras, p.dup_para_cnt, p.dup_para_chars,
             p.para_chars,
             COALESCE(t2.top2_chars, 0) AS top2_chars,
             COALESCE(t3.top3_chars, 0) AS top3_chars,
             COALESCE(t4.top4_chars, 0) AS top4_chars,
             COALESCE(d5.n_5grams, 0) AS n_5grams,
             COALESCE(d5.dup5_occ, 0) AS dup5_occ,
             p.n_chars
           FROM piece p
           LEFT JOIN t2 ON t2.doc_id = p.doc_id
           LEFT JOIN t3 ON t3.doc_id = p.doc_id
           LEFT JOIN t4 ON t4.doc_id = p.doc_id
           LEFT JOIN d5 ON d5.doc_id = p.doc_id)
         SELECT doc_id, n_lines, dup_line_cnt, dup_line_chars, line_chars,
           n_paras, dup_para_cnt, dup_para_chars, para_chars,
           top2_chars, top3_chars, top4_chars, n_5grams, dup5_occ, n_chars,
           (dup_line_cnt * 10 <= n_lines * 3 AND
            dup_line_chars * 10 <= line_chars * 2 AND
            dup_para_cnt * 10 <= n_paras * 3 AND
            dup_para_chars * 10 <= para_chars * 2 AND
            top2_chars * 10 <= n_chars * 2 AND
            top3_chars * 100 <= n_chars * 18 AND
            top4_chars * 100 <= n_chars * 16 AND
            dup5_occ * 100 <= n_5grams * 15) AS pass
         FROM j ORDER BY doc_id""",
    "text_pii_redact" ->
      """WITH aug AS (
           SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) ||
             '@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
             '.7 tel 555-123-4567' AS txt
           FROM documents),
         s1 AS (SELECT doc_id, txt,
             regexp_replace(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t1 FROM aug),
         s2 AS (SELECT doc_id, txt, t1,
             regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
               '<IP>', 'g') AS t2 FROM s1)
         SELECT doc_id,
           regexp_replace(t2, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g')
             AS redacted,
           CAST(len(regexp_extract_all(txt,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(t1,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(t2,
             '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS BIGINT) AS n_phones
         FROM s2 ORDER BY doc_id""",
    "text_quality_linear" ->
      """WITH w AS (
           SELECT list_transform(range(0, 256),
             b -> (b + 1) * 2654435761 % 1000003 - 500001) AS ws),
         tok AS (
           SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ts
           FROM documents),
         sc AS (
           SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
             CAST(COALESCE(list_sum(list_transform(ts,
               t -> ws[CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(list_filter(string_split(t, ''), c -> c <> ''),
                        c -> CAST(unicode(c) AS BIGINT))),
                      (a, b) -> (a * 1000003 + b) % 1000000007) % 256 AS INT) + 1])), 0)
               AS BIGINT) AS score
           FROM tok, w)
         SELECT doc_id, n_tokens, score, score >= 0 AS keep
         FROM sc ORDER BY doc_id""",
    "text_quality_trained" ->
      """WITH tok AS (
           SELECT doc_id, lang,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ts
           FROM documents),
         occ AS (
           SELECT t.doc_id, t.lang,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(u.tok, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007) % 256 AS BIGINT) AS bucket
           FROM tok t, LATERAL (SELECT unnest(t.ts) AS tok) u),
         w AS (
           SELECT bucket,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE -1 END) AS BIGINT) AS weight
           FROM occ GROUP BY bucket),
         sc AS (
           SELECT o.doc_id, CAST(sum(w.weight) AS BIGINT) AS score
           FROM occ o JOIN w USING (bucket) GROUP BY o.doc_id)
         SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
           CAST(COALESCE(s.score, 0) AS BIGINT) AS score,
           COALESCE(s.score, 0) >= 0 AS keep
         FROM tok t LEFT JOIN sc s USING (doc_id) ORDER BY t.doc_id""",
    "text_quality_pr_sweep" ->
      """WITH tok AS (
           SELECT doc_id, lang,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ts
           FROM documents),
         occ AS (
           SELECT t.doc_id, t.lang,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(u.tok, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007) % 256 AS BIGINT) AS bucket
           FROM tok t, LATERAL (SELECT unnest(t.ts) AS tok) u),
         w AS (
           SELECT bucket,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE -1 END) AS BIGINT) AS weight
           FROM occ GROUP BY bucket),
         sc AS (
           SELECT o.doc_id, CAST(sum(w.weight) AS BIGINT) AS score
           FROM occ o JOIN w USING (bucket) GROUP BY o.doc_id),
         lab AS (
           SELECT t.doc_id, CAST(COALESCE(s.score, 0) AS BIGINT) AS score,
             t.lang = 'en' AS y
           FROM tok t LEFT JOIN sc s USING (doc_id)),
         b AS (
           SELECT min(score) AS smin, max(score) AS smax,
             CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
           FROM lab),
         thr AS (
           SELECT DISTINCT n_pos, smin + (smax - smin) * k // 10 AS threshold
           FROM b, (SELECT unnest(range(1, 10)) AS k) ks(k)),
         agg AS (
           SELECT threshold, n_pos,
             CAST(sum(CASE WHEN score >= threshold THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pred_pos,
             CAST(sum(CASE WHEN score >= threshold AND y THEN 1 ELSE 0 END) AS BIGINT)
               AS tp
           FROM lab, thr GROUP BY threshold, n_pos)
         SELECT threshold, n_pos, n_pred_pos, tp,
           CASE WHEN n_pred_pos = 0 THEN NULL
                ELSE tp * 1000000 // n_pred_pos END AS precision_micro,
           tp * 1000000 // n_pos AS recall_micro,
           2 * tp * 1000000 // (n_pred_pos + n_pos) AS f1_micro
         FROM agg ORDER BY threshold""",
    "text_drift_windowed" ->
      """WITH toks AS (
           SELECT (doc_id // 60) * 60 AS win,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
           FROM documents),
         tf AS (SELECT term, COUNT(*) AS c FROM toks WHERE term <> '' GROUP BY 1),
         ref AS (
           SELECT term, CAST(c AS BIGINT) AS c FROM (
             SELECT term, c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rk
             FROM tf) WHERE rk <= 64),
         tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_ref FROM tf),
         reftop AS (SELECT CAST(SUM(c) AS BIGINT) AS t_ref FROM ref),
         wtok AS (
           SELECT (doc_id // 60) * 60 AS win,
             CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
               t -> t <> '')) AS BIGINT) AS n_tok
           FROM documents),
         wd AS (SELECT win, COUNT(*) AS n_docs,
                  CAST(SUM(n_tok) AS BIGINT) AS n_w
                FROM wtok GROUP BY 1),
         wt AS (SELECT win, term, COUNT(*) AS c_w FROM toks
                WHERE term <> '' GROUP BY 1, 2),
         grid AS (
           SELECT w.win, r.term, r.c AS c_ref,
             CAST(COALESCE(wt.c_w, 0) AS BIGINT) AS c_w
           FROM (SELECT DISTINCT win FROM wtok) w CROSS JOIN ref r
           LEFT JOIN wt ON wt.win = w.win AND wt.term = r.term),
         gridtop AS (SELECT win, CAST(SUM(c_w) AS BIGINT) AS top_w
                     FROM grid GROUP BY 1),
         allr AS (
           SELECT win, c_w, c_ref FROM grid
           UNION ALL
           SELECT g.win, wd.n_w - g.top_w, tot.n_ref - reftop.t_ref
           FROM gridtop g JOIN wd USING (win), tot, reftop),
         js AS (
           SELECT a.win,
             CASE WHEN wd.n_w = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(floor((
                 (CASE WHEN a.c_w = 0 THEN 0.0 ELSE
                   (0.5 * (CAST(a.c_w AS DOUBLE) / CAST(wd.n_w AS DOUBLE))) *
                   ln(CAST(2 * a.c_w * tot.n_ref AS DOUBLE) /
                      CAST(a.c_w * tot.n_ref + a.c_ref * wd.n_w AS DOUBLE)) END)
               + (CASE WHEN a.c_ref = 0 THEN 0.0 ELSE
                   (0.5 * (CAST(a.c_ref AS DOUBLE) / CAST(tot.n_ref AS DOUBLE))) *
                   ln(CAST(2 * a.c_ref * wd.n_w AS DOUBLE) /
                      CAST(a.c_w * tot.n_ref + a.c_ref * wd.n_w AS DOUBLE)) END)
               ) * 1000000.0) AS BIGINT) END AS js_t
           FROM allr a JOIN wd USING (win), tot),
         jsw AS (SELECT win, CAST(SUM(js_t) AS BIGINT) AS js_micro
                 FROM js GROUP BY 1)
         SELECT wd.win AS win_start, wd.n_docs, wd.n_w AS n_tokens,
           CASE WHEN wd.n_w = 0 THEN NULL ELSE jsw.js_micro END AS js_micro
         FROM wd JOIN jsw USING (win) ORDER BY 1""",
    "text_snapshot_drift" ->
      """WITH ta AS (
           SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
           FROM documents WHERE doc_id % 2 = 0),
         tb AS (
           SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
           FROM documents WHERE doc_id % 2 = 1),
         ha AS (SELECT term, COUNT(*) AS c_a FROM ta WHERE term <> '' GROUP BY 1),
         hb AS (SELECT term, COUNT(*) AS c_b FROM tb WHERE term <> '' GROUP BY 1),
         bo AS (
           SELECT term, CAST(COALESCE(c_a, 0) AS BIGINT) AS c_a,
             CAST(COALESCE(c_b, 0) AS BIGINT) AS c_b
           FROM ha FULL JOIN hb USING (term)),
         top AS (
           SELECT term, c_a, c_b FROM (
             SELECT term, c_a, c_b,
               ROW_NUMBER() OVER (ORDER BY (c_a + c_b) DESC, term) AS rk
             FROM bo) WHERE rk <= 256),
         tot AS (SELECT CAST(SUM(c_a) AS BIGINT) AS n_a,
                        CAST(SUM(c_b) AS BIGINT) AS n_b FROM bo),
         ts AS (SELECT CAST(SUM(c_a) AS BIGINT) AS t_a,
                       CAST(SUM(c_b) AS BIGINT) AS t_b FROM top),
         allr AS (
           SELECT term, c_a, c_b FROM top
           UNION ALL
           SELECT '<rest>', tot.n_a - ts.t_a, tot.n_b - ts.t_b FROM tot, ts),
         js AS (
           SELECT CAST(floor((
             (CASE WHEN c_a = 0 THEN 0.0 ELSE
               (0.5 * (CAST(c_a AS DOUBLE) / CAST(tot.n_a AS DOUBLE))) *
               ln(CAST(2 * c_a * tot.n_b AS DOUBLE) /
                  CAST(c_a * tot.n_b + c_b * tot.n_a AS DOUBLE)) END)
           + (CASE WHEN c_b = 0 THEN 0.0 ELSE
               (0.5 * (CAST(c_b AS DOUBLE) / CAST(tot.n_b AS DOUBLE))) *
               ln(CAST(2 * c_b * tot.n_a AS DOUBLE) /
                  CAST(c_a * tot.n_b + c_b * tot.n_a AS DOUBLE)) END)
           ) * 1000000.0) AS BIGINT) AS js_t
           FROM allr, tot)
         SELECT tot.n_a AS n_tokens_a, tot.n_b AS n_tokens_b,
           CAST(SUM(js_t) AS BIGINT) AS js_micro
         FROM js, tot GROUP BY 1, 2""",
    "text_source_drift" ->
      """WITH toks AS (
           SELECT source,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
           FROM documents),
         tf AS (
           SELECT source, term, COUNT(*) AS c_s FROM toks
           WHERE term <> '' GROUP BY 1, 2),
         ct AS (SELECT term, CAST(SUM(c_s) AS BIGINT) AS c_c FROM tf GROUP BY 1),
         top AS (
           SELECT term, c_c FROM (
             SELECT term, c_c,
               ROW_NUMBER() OVER (ORDER BY c_c DESC, term) AS rk
             FROM ct) WHERE rk <= 256),
         tot AS (SELECT source, CAST(SUM(c_s) AS BIGINT) AS n_s FROM tf GROUP BY 1),
         nc AS (SELECT CAST(SUM(c_c) AS BIGINT) AS n_c FROM ct),
         stc AS (SELECT CAST(SUM(c_c) AS BIGINT) AS s_top_c FROM top),
         grid AS (
           SELECT t.source, t.n_s, p.term, p.c_c,
             CAST(COALESCE(tf.c_s, 0) AS BIGINT) AS c_s
           FROM tot t CROSS JOIN top p
           LEFT JOIN tf ON tf.source = t.source AND tf.term = p.term),
         tops AS (SELECT source, CAST(SUM(c_s) AS BIGINT) AS top_s
                  FROM grid GROUP BY 1),
         rest AS (
           SELECT t.source, t.n_s, '<rest>' AS term,
             nc.n_c - stc.s_top_c AS c_c, t.n_s - tops.top_s AS c_s
           FROM tot t JOIN tops ON tops.source = t.source, nc, stc),
         allr AS (
           SELECT source, n_s, term, c_c, c_s FROM grid
           UNION ALL
           SELECT source, n_s, term, c_c, c_s FROM rest),
         js AS (
           SELECT source, n_s,
             CAST(floor((
               (CASE WHEN c_s = 0 THEN 0.0 ELSE
                 (0.5 * (CAST(c_s AS DOUBLE) / CAST(n_s AS DOUBLE))) *
                 ln(CAST(2 * c_s * nc.n_c AS DOUBLE) /
                    CAST(c_s * nc.n_c + c_c * n_s AS DOUBLE)) END)
             + (CASE WHEN c_c = 0 THEN 0.0 ELSE
                 (0.5 * (CAST(c_c AS DOUBLE) / CAST(nc.n_c AS DOUBLE))) *
                 ln(CAST(2 * c_c * n_s AS DOUBLE) /
                    CAST(c_s * nc.n_c + c_c * n_s AS DOUBLE)) END)
             ) * 1000000.0) AS BIGINT) AS js_t
           FROM allr, nc)
         SELECT source, n_s AS n_tokens, CAST(SUM(js_t) AS BIGINT) AS js_micro
         FROM js GROUP BY 1, 2 ORDER BY source""",
    "q_corpus_audit" ->
      """WITH w AS (
           SELECT list_transform(range(0, 256),
             b -> (b + 1) * 2654435761 % 1000003 - 500001) AS ws),
         base AS (
           SELECT doc_id, source, lang, md5(text) AS h,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ts
           FROM documents),
         s1 AS (SELECT doc_id,
             len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t1
           FROM documents),
         s2 AS (SELECT doc_id, ne,
             len(regexp_extract_all(t1,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS ni,
             regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
               '<IP>', 'g') AS t2
           FROM s1),
         s3 AS (SELECT doc_id, ne, ni,
             len(regexp_extract_all(t2, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS np
           FROM s2),
         sc AS (
           SELECT b.doc_id, b.source, b.lang, b.h,
             CAST(len(b.ts) AS BIGINT) AS n_tokens,
             CAST(COALESCE(list_sum(list_transform(b.ts,
               t -> ws[CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(list_filter(string_split(t, ''), c -> c <> ''),
                        c -> CAST(unicode(c) AS BIGINT))),
                      (a, b) -> (a * 1000003 + b) % 1000000007) % 256 AS INT) + 1])), 0)
               AS BIGINT) AS score,
             (s3.ne + s3.ni + s3.np) > 0 AS has_pii
           FROM base b JOIN s3 USING (doc_id), w),
         dup AS (SELECT h, COUNT(*) AS c FROM base GROUP BY h),
         health AS (
           SELECT sc.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(sc.n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN dup.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
           CAST(SUM(CASE WHEN sc.has_pii THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
           CAST(SUM(CASE WHEN sc.score >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_quality,
           CAST(COUNT(DISTINCT sc.lang) AS BIGINT) AS n_langs
         FROM sc JOIN dup ON sc.h = dup.h
         GROUP BY sc.source),
         toks AS (
           SELECT source,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
           FROM documents),
         tf AS (
           SELECT source, term, COUNT(*) AS c_s FROM toks
           WHERE term <> '' GROUP BY 1, 2),
         ct AS (SELECT term, CAST(SUM(c_s) AS BIGINT) AS c_c FROM tf GROUP BY 1),
         top AS (
           SELECT term, c_c FROM (
             SELECT term, c_c,
               ROW_NUMBER() OVER (ORDER BY c_c DESC, term) AS rk
             FROM ct) WHERE rk <= 256),
         tot AS (SELECT source, CAST(SUM(c_s) AS BIGINT) AS n_s FROM tf GROUP BY 1),
         nc AS (SELECT CAST(SUM(c_c) AS BIGINT) AS n_c FROM ct),
         stc AS (SELECT CAST(SUM(c_c) AS BIGINT) AS s_top_c FROM top),
         grid AS (
           SELECT t.source, t.n_s, p.term, p.c_c,
             CAST(COALESCE(tf.c_s, 0) AS BIGINT) AS c_s
           FROM tot t CROSS JOIN top p
           LEFT JOIN tf ON tf.source = t.source AND tf.term = p.term),
         tops AS (SELECT source, CAST(SUM(c_s) AS BIGINT) AS top_s
                  FROM grid GROUP BY 1),
         rest AS (
           SELECT t.source, t.n_s, '<rest>' AS term,
             nc.n_c - stc.s_top_c AS c_c, t.n_s - tops.top_s AS c_s
           FROM tot t JOIN tops ON tops.source = t.source, nc, stc),
         allr AS (
           SELECT source, n_s, term, c_c, c_s FROM grid
           UNION ALL
           SELECT source, n_s, term, c_c, c_s FROM rest),
         js AS (
           SELECT source, n_s,
             CAST(floor((
               (CASE WHEN c_s = 0 THEN 0.0 ELSE
                 (0.5 * (CAST(c_s AS DOUBLE) / CAST(n_s AS DOUBLE))) *
                 ln(CAST(2 * c_s * nc.n_c AS DOUBLE) /
                    CAST(c_s * nc.n_c + c_c * n_s AS DOUBLE)) END)
             + (CASE WHEN c_c = 0 THEN 0.0 ELSE
                 (0.5 * (CAST(c_c AS DOUBLE) / CAST(nc.n_c AS DOUBLE))) *
                 ln(CAST(2 * c_c * n_s AS DOUBLE) /
                    CAST(c_s * nc.n_c + c_c * n_s AS DOUBLE)) END)
             ) * 1000000.0) AS BIGINT) AS js_t
           FROM allr, nc),
         drift AS (
           SELECT source, n_s AS n_tokens, CAST(SUM(js_t) AS BIGINT) AS js_micro
         FROM js GROUP BY 1, 2)
         SELECT h.source, h.n_docs, h.n_tokens, h.n_dup_docs, h.n_pii_docs,
           h.n_keep_quality, h.n_langs, dr.js_micro,
           CAST(h.n_dup_docs * 1000000 // h.n_docs AS BIGINT) AS dup_rate_micro,
           CAST(h.n_pii_docs * 1000000 // h.n_docs AS BIGINT) AS pii_rate_micro,
           (h.n_dup_docs * 1000000 // h.n_docs < 500000 AND
            h.n_pii_docs * 1000000 // h.n_docs < 500000 AND
            COALESCE(dr.js_micro < 300000, FALSE)) AS pass
         FROM health h LEFT JOIN drift dr USING (source) ORDER BY h.source""",
    "text_source_report" ->
      """WITH w AS (
           SELECT list_transform(range(0, 256),
             b -> (b + 1) * 2654435761 % 1000003 - 500001) AS ws),
         base AS (
           SELECT doc_id, source, lang, md5(text) AS h,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ts
           FROM documents),
         s1 AS (SELECT doc_id,
             len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS t1
           FROM documents),
         s2 AS (SELECT doc_id, ne,
             len(regexp_extract_all(t1,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS ni,
             regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
               '<IP>', 'g') AS t2
           FROM s1),
         s3 AS (SELECT doc_id, ne, ni,
             len(regexp_extract_all(t2, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS np
           FROM s2),
         sc AS (
           SELECT b.doc_id, b.source, b.lang, b.h,
             CAST(len(b.ts) AS BIGINT) AS n_tokens,
             CAST(COALESCE(list_sum(list_transform(b.ts,
               t -> ws[CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(list_filter(string_split(t, ''), c -> c <> ''),
                        c -> CAST(unicode(c) AS BIGINT))),
                      (a, b) -> (a * 1000003 + b) % 1000000007) % 256 AS INT) + 1])), 0)
               AS BIGINT) AS score,
             (s3.ne + s3.ni + s3.np) > 0 AS has_pii
           FROM base b JOIN s3 USING (doc_id), w),
         dup AS (SELECT h, COUNT(*) AS c FROM base GROUP BY h)
         SELECT sc.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(sc.n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN dup.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
           CAST(SUM(CASE WHEN sc.has_pii THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
           CAST(SUM(CASE WHEN sc.score >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_quality,
           CAST(COUNT(DISTINCT sc.lang) AS BIGINT) AS n_langs
         FROM sc JOIN dup ON sc.h = dup.h
         GROUP BY sc.source ORDER BY sc.source""",
    "dedup_leakage_safe_split" ->
      """WITH RECURSIVE d AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3
               THEN [array_to_string(string_split_regex(trim(text), '\s+'), ' ')]
               ELSE list_transform(range(0, len(string_split_regex(trim(text), '\s+')) - 2),
                 i -> array_to_string(list_slice(string_split_regex(trim(text), '\s+'), i+1, i+3), ' '))
             END) AS sh
           FROM documents),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM d a JOIN d b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.sh, b.sh)) > 0
             AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
               CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.5),
         e AS (
           SELECT id_a AS src, id_b AS dst FROM p
           UNION ALL SELECT id_b, id_a FROM p),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT r2.id, e.dst FROM reach r2 JOIN e ON e.src = r2.r),
         comp AS (
           SELECT id AS doc_id, MIN(r) AS canonical_id
           FROM reach GROUP BY id)
         SELECT doc_id, canonical_id,
           CASE WHEN ((((canonical_id % 1000000007) * 1000003 % 1000000007)
                        * 999983) % 1000000007) % 10000 < 9000
                THEN 'train' ELSE 'val' END AS split
         FROM comp ORDER BY doc_id""",
    "text_chunks_cover" ->
      """WITH tok AS (
           SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ts
           FROM documents),
         n AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n
               FROM tok WHERE len(ts) > 0),
         c AS (SELECT doc_id, ts, n, u.i AS chunk_id
               FROM n, LATERAL (SELECT unnest(range(0,
                 1 + CASE WHEN n <= 64 THEN 0
                     ELSE CAST(floor((n - 64 + 47) / 48.0) AS BIGINT) END)) AS i) u)
         SELECT doc_id, chunk_id,
           array_to_string(list_slice(ts, chunk_id * 48 + 1, chunk_id * 48 + 64),
             ' ') AS chunk_text,
           least(64, n - chunk_id * 48) AS n_tokens
         FROM c ORDER BY doc_id, chunk_id"""
  )

  /** The train-once/serve-many twins share their parent's oracle: the
    * loaded artifact must reproduce the inline-trained search
    * BIT-FOR-BIT (float32 round-trips parquet exactly), so the DuckDB
    * replay that retrains is the correct ground truth for the loaded
    * path too — any save/load corruption shows up as a hash mismatch.
    */
  val oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    // DDSketch shard-merge ≡ one-shot global sketch (bucket counts
    // add), so the merged query answers against the global oracle
    "q_ddsketch_merged" -> oracleSqlBase("q_ddsketch_quantiles"),
    "sim_topk_ivf_loaded" -> oracleSqlBase("sim_topk_ivf"),
    // edit-index append ≡ rebuild: the gate over build(3/4)+append(1/4)
    // answers against the same brute-force truth as the one-shot build
    "dedup_editidx_append" -> oracleSqlBase("dedup_editidx_gate"),
    "dedup_imageidx_append" -> oracleSqlBase("dedup_imageidx_gate"),
    "dedup_audioidx_append" -> oracleSqlBase("dedup_audioidx_gate"),
    "dedup_vididx_append" -> oracleSqlBase("dedup_vididx_gate"),
    // served language profiles ≡ inline: integer micro-weights
    // round-trip parquet exactly
    "text_langid_trained_served" -> oracleSqlBase("text_langid_trained"),
    // v4 flagship: the v3 chain with stage (C)'s seed label replaced
    // by the classifier's DERIVED language — inject the full
    // classifier replay (panel → profiles → per-aug-doc argmax) and
    // rebind qtok's lang to the prediction
    "q_curation_v4" -> patched(oracleSqlBase("q_curation_v3"),
      "hsh AS (SELECT doc_id, source, md5(text) AS h FROM aug)," ->
        (langIdPredCtes +
          "\n         hsh AS (SELECT doc_id, source, md5(text) AS h FROM aug),"),
      "SELECT a.doc_id, a.lang," -> "SELECT a.doc_id, lpred.lang_pred AS lang,",
      "FROM aug a)," -> "FROM aug a JOIN lpred USING (doc_id)),"),
    // filtered ANN: identical assignment/probe chain, candidates
    // restricted to the predicate's survivors
    "sim_topk_ivf_filtered" -> patched(oracleSqlBase("sim_topk_ivf"),
      "assign AS (SELECT vec_id AS id, cell FROM a2 WHERE rk = 1)," ->
        ("assign AS (SELECT a2.vec_id AS id, a2.cell FROM a2 " +
          "JOIN embeddings le ON le.vec_id = a2.vec_id " +
          "WHERE a2.rk = 1 AND le.label < 5),")),
    // persisted near-dup index: the gate (and the gate over a
    // built-then-appended index) answers row-for-row the inline
    // cross-pairs query — the index layout and the append fold are
    // invisible to the oracle
    // the composed admission gate: exact-dup (text keep-first vs base
    // + in-batch), the portable LSH cross chain (the minhash_cross
    // fragments on the %5 split), the Gopher rule card over arrivals,
    // and the trained hashed-linear keep with weights fitted on the
    // BASE corpus only — every stage a proven oracle fragment
    "q_curation_gate" ->
      """WITH arr AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
         base AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
         bk0 AS (SELECT text, MIN(doc_id) AS keep_id FROM base GROUP BY text),
         dd0 AS (
           SELECT doc_id, text,
             ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           FROM arr),
         ex AS (
           SELECT dd0.doc_id,
             (bk0.keep_id IS NOT NULL OR dd0.rn > 1) AS exact_dup
           FROM dd0 LEFT JOIN bk0 USING (text)),
         u AS (
           SELECT doc_id, text, TRUE AS is_delta FROM arr
           UNION ALL SELECT doc_id, text, FALSE FROM base),
         t3 AS (
           SELECT doc_id, is_delta,
             string_split_regex(trim(text), '\s+') AS toks
           FROM u),
         hs AS (
           SELECT doc_id, is_delta, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
               ELSE list_transform(range(0, len(toks) - 2),
                 i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))
             END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(s, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007))) AS sh
           FROM t3),
         sg AS (
           SELECT doc_id, is_delta, sh,
             list_transform(range(0, 64), j ->
               list_min(list_transform(sh, x ->
                 (((j + 1) * 1000003 + 12345) % 2147483647 * x
                   + ((j + 1) * 999983 + 54321) % 2147483647) % 2147483647))) AS sig
           FROM hs),
         bkb AS (
           SELECT doc_id, is_delta, b.band AS band,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_slice(sig, b.band * 4 + 1, b.band * 4 + 4)),
               (a, x) -> (a * 1000003 + x) % 1000000007) AS bucket
           FROM sg, (SELECT unnest(range(0, 16)) AS band) b),
         cand AS (
           SELECT DISTINCT x.doc_id AS delta_id, y.doc_id AS corpus_id
           FROM bkb x JOIN bkb y
             ON x.band = y.band AND x.bucket = y.bucket
             AND x.is_delta AND NOT y.is_delta),
         nv AS (
           SELECT DISTINCT c.delta_id
           FROM cand c JOIN hs a ON a.doc_id = c.delta_id
             JOIN hs b ON b.doc_id = c.corpus_id AND NOT b.is_delta
           WHERE a.is_delta AND
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               >= 0.5),
         gg AS (
           SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
               w -> CAST(length(w) AS BIGINT))) AS BIGINT) AS sum_len,
             CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
             CAST(floor(CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE)
               / 3.0) AS BIGINT) AS n_ell_occ,
             string_split(text, chr(10)) AS lines,
             string_split_regex(trim(text), '\s+') AS toks
           FROM arr),
         gs2 AS (
           SELECT doc_id, n_words,
             CASE WHEN n_words > 0
               THEN CAST(floor(CAST(sum_len * 10000 AS DOUBLE) /
                 CAST(n_words AS DOUBLE)) AS BIGINT) ELSE 0 END AS wlen_q4,
             n_hash + n_ell_occ AS n_symbol,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lines,
               l -> substr(ltrim(l), 1, 1) IN ('-', '*', chr(8226)))) AS BIGINT)
               AS n_bullet_lines,
             CAST(len(list_filter(lines,
               l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), chr(8230))))
               AS BIGINT) AS n_ellipsis_lines,
             CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
               AS BIGINT) AS n_alpha_words,
             CAST(len(list_intersect(list_distinct(toks),
               ['the','a','an','of','to','and','in','is','it','for','on','with']))
               AS BIGINT) AS n_stop_distinct
           FROM gg),
         hp AS (
           SELECT doc_id,
             (n_words >= 50 AND n_words <= 100000 AND
              wlen_q4 >= 30000 AND wlen_q4 <= 100000 AND
              n_symbol * 10 <= n_words AND
              n_bullet_lines * 10 <= n_lines * 9 AND
              n_ellipsis_lines * 10 <= n_lines * 3 AND
              n_alpha_words * 10 >= n_words * 8 AND
              n_stop_distinct >= 2) AS health_pass
           FROM gs2),
         qtok AS (
           SELECT doc_id, lang,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ts
           FROM documents),
         qocc AS (
           SELECT t.doc_id, t.lang,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(u2.tok, ''), c -> c <> ''),
                 c -> CAST(unicode(c) AS BIGINT))),
               (a, b) -> (a * 1000003 + b) % 1000000007) % 256 AS BIGINT) AS bucket
           FROM qtok t, LATERAL (SELECT unnest(t.ts) AS tok) u2),
         qw AS (
           SELECT bucket,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE -1 END) AS BIGINT) AS weight
           FROM qocc WHERE doc_id % 5 <> 0 GROUP BY bucket),
         qsc AS (
           SELECT o.doc_id, CAST(sum(qw.weight) AS BIGINT) AS score
           FROM qocc o JOIN qw USING (bucket)
           WHERE o.doc_id % 5 = 0 GROUP BY o.doc_id),
         ql AS (
           SELECT a.doc_id, COALESCE(qsc.score, 0) >= 0 AS quality_keep
           FROM arr a LEFT JOIN qsc USING (doc_id))
         SELECT a.doc_id, hp.health_pass, ql.quality_keep, ex.exact_dup,
           (nv.delta_id IS NOT NULL) AS near_dup,
           (hp.health_pass AND ql.quality_keep AND NOT ex.exact_dup
             AND nv.delta_id IS NULL) AS admit
         FROM arr a
         JOIN hp ON hp.doc_id = a.doc_id
         JOIN ql ON ql.doc_id = a.doc_id
         JOIN ex ON ex.doc_id = a.doc_id
         LEFT JOIN nv ON nv.delta_id = a.doc_id
         ORDER BY a.doc_id""",
    "dedup_neardup_idx" -> oracleSqlBase("dedup_minhash_cross"),
    "dedup_neardup_idx_append" -> oracleSqlBase("dedup_minhash_cross"),
    // persisted assignments: same centroids, same chain, floats
    // round-trip parquet — the index layout is invisible
    "sim_topk_ivf_idx" -> oracleSqlBase("sim_topk_ivf"),
    // retrain resets the drifted deployment to fresh-build geometry:
    // order-insensitive init + integer-exact portable means make
    // retrained centroids equal full-corpus training, so BOTH rows
    // replay as the fresh-index oracles verbatim
    "sim_topk_ivf_retrain" -> oracleSqlBase("sim_topk_ivf"),
    "sim_recall_ivf_retrain" -> oracleSqlBase("sim_recall_ivf"),
    "sim_recall_matryoshka" ->
      """WITH bf AS (
           SELECT a.vec_id AS query_id,
             (SELECT b.vec_id FROM embeddings b WHERE b.vec_id <> a.vec_id
              ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id
              LIMIT 1) AS nn_id
           FROM embeddings a),
         t16 AS (
           SELECT a.vec_id AS query_id,
             (SELECT b.vec_id FROM embeddings b WHERE b.vec_id <> a.vec_id
              ORDER BY list_cosine_similarity(a.embedding[1:16], b.embedding[1:16]) DESC, b.vec_id
              LIMIT 1) AS nn_id
           FROM embeddings a),
         t32 AS (
           SELECT a.vec_id AS query_id,
             (SELECT b.vec_id FROM embeddings b WHERE b.vec_id <> a.vec_id
              ORDER BY list_cosine_similarity(a.embedding[1:32], b.embedding[1:32]) DESC, b.vec_id
              LIMIT 1) AS nn_id
           FROM embeddings a),
         n AS (SELECT count(*) AS c FROM bf),
         m16 AS (SELECT count(*) AS c FROM bf JOIN t16 USING (query_id, nn_id)),
         m32 AS (SELECT count(*) AS c FROM bf JOIN t32 USING (query_id, nn_id))
         SELECT * FROM (
           SELECT CAST(16 AS INTEGER) AS dim, CAST(n.c AS BIGINT) AS n_truth,
             CAST(m16.c AS BIGINT) AS n_matched,
             CAST(m16.c * 1000000 // n.c AS BIGINT) AS recall_micro
           FROM n, m16
           UNION ALL
           SELECT CAST(32 AS INTEGER), CAST(n.c AS BIGINT),
             CAST(m32.c AS BIGINT), CAST(m32.c * 1000000 // n.c AS BIGINT)
           FROM n, m32)
         ORDER BY dim""",
    // the frozen-centroid recall card: same patch as the topk twin
    "sim_recall_ivf_append" -> patched(oracleSqlBase("sim_recall_ivf"),
      "WITH n AS (SELECT count(*) AS cnt FROM embeddings)," ->
        ("WITH base AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),\n" +
          "         n AS (SELECT count(*) AS cnt FROM base),"),
      "AS v\n           FROM embeddings)," -> "AS v\n           FROM base),",
      "FROM embeddings e CROSS JOIN init i" -> "FROM base e CROSS JOIN init i"),
    // incremental: training restricted to the 4/5 base corpus (the
    // frozen-centroid deployment), assignment over ALL rows
    "sim_topk_ivf_append" -> patched(oracleSqlBase("sim_topk_ivf"),
      "WITH n AS (SELECT count(*) AS cnt FROM embeddings)," ->
        ("WITH base AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),\n" +
          "         n AS (SELECT count(*) AS cnt FROM base),"),
      "AS v\n           FROM embeddings)," -> "AS v\n           FROM base),",
      "FROM embeddings e CROSS JOIN init i" -> "FROM base e CROSS JOIN init i"),
    "sim_topk_pq_loaded" -> oracleSqlBase("sim_topk_pq"),
    "text_bm25_topk_idx" -> oracleSqlBase("text_bm25_topk"),
    // the merge is exact by doc-id disjointness, so the delta-built
    // index must answer identically to the full-corpus inline run
    "text_bm25_topk_delta" -> oracleSqlBase("text_bm25_topk"),
    "q_curation_v3_served" -> oracleSqlBase("q_curation_v3"),
    "sim_topk_ivfpq_loaded" -> oracleSqlBase("sim_topk_ivfpq"),
    "sim_topk_ivfsq8_loaded" -> oracleSqlBase("sim_topk_ivfsq8"),
    "text_bpe_tokens_served" -> oracleSqlBase("text_bpe_tokens"),
    "text_unigram_tokens_served" -> oracleSqlBase("text_unigram_tokens"),
    "text_bloom_decontam_served" -> oracleSqlBase("text_bloom_decontam"),
    // sketch state round-trips parquet exactly (longs/ints), and both
    // merges are exact (CMS cell-sum, HLL bucket-max), so the served
    // and merged cards must land on the one-shot cards' bytes
    "text_cms_served" -> oracleSqlBase("text_cms_heavy_hitters"),
    "text_cms_merged" -> oracleSqlBase("text_cms_heavy_hitters"),
    "text_hll_served" -> oracleSqlBase("text_hll_distinct"),
    "text_hll_merged" -> oracleSqlBase("text_hll_distinct"),
    // PNG is lossless and the fixture uses the BMP pixel formula, so a
    // correct ImageIO decode must land on the identical feature rows
    "multimodal_decode_png" -> oracleSqlBase("multimodal_decode_bmp"))
}
