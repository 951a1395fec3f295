package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Text-analysis operators for training-data pipelines: token
  * counting, quality scoring, language identification, document
  * fingerprinting. All pure per-row Column expressions — no UDFs, no
  * shuffles; they vectorize through whole-stage codegen (plain
  * functions) or per-row HOF eval (aggregate/transform).
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish sub-token count: letter runs, digit runs, and single
    * non-alphanumeric marks counted separately (a cheap proxy for
    * byte-pair tokenizer output length). Native match COUNT — the
    * extract_all idiom (kept as the HOF twin) allocates every match
    * just to take the array's size.
    */
  def bpeishTokenCount(text: Column): Column =
    graft.functions.NativeFunctions.regexpCount(lower(text), "[a-z]+|[0-9]+|[^a-z0-9\\s]")

  /** extract_all formulation of [[bpeishTokenCount]] (parity-tested). */
  def bpeishTokenCountHof(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Ratio of punctuation characters to total characters (null-safe
    * on empty text). Native one-pass counter — the regexp_replace
    * twin below builds a stripped copy of every document.
    */
  def punctRatio(text: Column): Column =
    graft.functions.NativeFunctions.charSetCount(text, ".,;:!?'\"()[]-").cast(DoubleType) /
      nullif(length(text), lit(0)).cast(DoubleType)

  /** regexp_replace formulation of [[punctRatio]] (parity-tested). */
  def punctRatioHof(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]-]", "")).cast(DoubleType) /
      nullif(length(text), lit(0)).cast(DoubleType)

  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "to", "and", "in", "is", "it", "for", "on", "with")

  /** One-pass native token statistics (count, stopword hits, summed
    * lengths) — the HOF formulations below cost one interpreted
    * lambda per token per metric.
    */
  def tokenStats(text: Column, stopwords: Seq[String] = EnglishStopwords): Column =
    graft.functions.NativeFunctions.tokenStats(tokens(text), stopwords)

  /** Fraction of tokens that are stopwords — a standard quality
    * signal (too low = keyword spam, too high = boilerplate).
    */
  def stopwordRatio(text: Column, stopwords: Seq[String] = EnglishStopwords): Column = {
    val ts = tokenStats(text, stopwords)
    ts.getField("n_stop").cast(DoubleType) /
      nullif(ts.getField("n_tokens"), lit(0)).cast(DoubleType)
  }

  /** HOF reference formulation of [[stopwordRatio]] (parity-tested). */
  def stopwordRatioHof(text: Column, stopwords: Seq[String] = EnglishStopwords): Column =
    size(filter(tokens(text), t => t.isin(stopwords: _*))).cast(DoubleType) /
      nullif(size(tokens(text)), lit(0)).cast(DoubleType)

  /** Mean token length. */
  def meanTokenLen(text: Column): Column = {
    val ts = tokenStats(text, Nil)
    ts.getField("sum_len").cast(DoubleType) /
      nullif(ts.getField("n_tokens"), lit(0)).cast(DoubleType)
  }

  /** HOF reference formulation of [[meanTokenLen]] (parity-tested). */
  def meanTokenLenHof(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => acc + length(t)).cast(DoubleType) /
      nullif(size(tokens(text)), lit(0)).cast(DoubleType)

  /** Unrounded composite quality score in ~[0,1]: length sweet-spot,
    * stopword presence, low punctuation noise. Pure IEEE-double
    * arithmetic in a fixed operation order, so any engine repeating
    * the formula bit-matches (the DuckDB oracle does).
    */
  def qualityScoreRaw(text: Column): Column = {
    val n = tokenCount(text).cast(DoubleType)
    val lenScore = least(n / lit(50.0), lit(1.0))
    val stopScore = least(stopwordRatio(text) * lit(5.0), lit(1.0))
    val punctPenalty = least(coalesce(punctRatio(text), lit(0.0)) * lit(2.0), lit(1.0))
    (lenScore * lit(0.5) + stopScore * lit(0.4)) * (lit(1.0) - punctPenalty * lit(0.5)) + lit(0.1)
  }

  /** [[qualityScoreRaw]] rounded to 4 decimals (HALF_UP — engines
    * differ on double rounding ties, so oracle queries quantize the
    * raw score with floor instead of using this).
    */
  def qualityScore(text: Column): Column = round(qualityScoreRaw(text), 4)

  /** Language marker words for the n-gram/stopword language-ID
    * heuristic. Deliberately tiny — this is a heuristic operator, not
    * a model.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "is", "in", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "es" -> Seq("el", "la", "de", "y", "es", "que", "un", "una"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "une", "dans"))

  /** Per-language marker-hit count. */
  def langScore(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(lower(text)), t => t.isin(markers: _*)))

  /** One-pass native form of [[langId]] — the declared text_lang_id
    * query uses this; the HOF form below is the reference semantics
    * it is asserted identical to. The HOF tree re-evaluates each
    * language's interpreted filter/isin score in every argmax
    * comparison (~24 token-array passes per row).
    */
  def langIdFused(text: Column): Column =
    graft.functions.NativeFunctions.langId(text, LangMarkers)

  /** Heuristic language ID: argmax of marker-hit counts, 'und'
    * (undetermined) when no marker hits at all. Ties break in
    * LangMarkers declaration order (en first) — deterministic.
    */
  def langId(text: Column): Column = {
    val scores = LangMarkers.map { case (lang, ms) => (lang, langScore(text, ms)) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  // ---- TRAINED language ID: char-n-gram frequency profiles ----

  /** Languages and wordlists for the deterministic multilingual
    * PANEL the trained classifier is fitted and evaluated on. The
    * driver testdata's `lang` column is synthetic-uncorrelated with
    * its text (measured: every language draws from one shared
    * vocabulary), so — exactly like the media fixtures — the panel
    * synthesizes language-bearing text in-plan from public stopword
    * lists, and the oracle replays the same formula. 24 words per
    * language, langs in sorted order (the tie-break order).
    */
  val LangPanelWords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein",
      "eine", "zu", "von", "auf", "für", "über", "aber", "auch", "wenn",
      "wir", "sie", "haben", "werden", "durch", "schön", "müssen"),
    "en" -> Seq("the", "of", "and", "to", "in", "is", "was", "for", "that",
      "with", "they", "at", "be", "this", "have", "from", "one", "had",
      "word", "but", "not", "what", "all", "were"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "ser", "se", "no",
      "haber", "por", "con", "su", "para", "como", "estar", "tener", "más",
      "pero", "sus", "año", "también", "está"),
    "fr" -> Seq("le", "de", "un", "être", "et", "à", "il", "avoir", "ne",
      "je", "son", "que", "se", "qui", "dans", "en", "du", "elle", "au",
      "pour", "pas", "vous", "par", "sur"))

  /** Deterministic multilingual panel: lang = langs[id mod 4],
    * 30 + id mod 20 words, word j = wordlist[(id·7 + j·13) mod 24] —
    * a pure formula of the id, replayed verbatim by the oracle (the
    * synthMediaBlobs discipline for text).
    */
  def synthLangDocs(df: DataFrame, idCol: String): DataFrame = {
    val langs = LangPanelWords.map(_._1)
    val wordArrays = LangPanelWords.map { case (_, ws) =>
      array(ws.map(lit): _*) }
    df.select(col(idCol).cast(LongType).as("doc_id"))
      .withColumn("li", pmod(col("doc_id"), lit(4L)).cast("int"))
      .select(col("doc_id"),
        element_at(array(langs.map(lit): _*), col("li") + 1).as("lang"),
        array_join(
          transform(sequence(lit(0L), lit(29L) + pmod(col("doc_id"), lit(20L))),
            j => element_at(element_at(array(wordArrays: _*), col("li") + 1),
              pmod(col("doc_id") * 7L + j * 13L, lit(24L)).cast("int") + 1)),
          " ").as("text"))
  }

  /** Sliding character n-grams (spaces included — word boundaries
    * carry language signal, the Cavnar–Trenkle padding insight).
    * Empty array below n chars; `text` must be a BOUND column (the
    * wordGrams contract — the lambda re-evaluates it per element).
    */
  def charGrams(text: Column, n: Int): Column =
    when(length(text) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n))))

  /** One-pass training for the char-n-gram language profiles: per
    * (language, hashed-gram bucket), the integer micro-frequency
    * weight count·10^6 div total(language) — a per-language
    * frequency profile, INTEGER-EXACT end to end (the trained-filter
    * discipline: no logs, no floats, so the oracle replays every
    * weight). Emits the model ARTIFACT as (lang, bucket, w_micro)
    * rows — ≤ langs·d — ready to write to parquet and reload with
    * [[loadLangProfiles]].
    *
    * Scale shape: one map pass (gram explode → O(gram) native hash)
    * into a (langs·d)-cardinality groupBy — map-side partials cap
    * every task's output, so the shuffle moves KBs regardless of
    * corpus size; the per-language totals ride a partitioned window
    * over the aggregate (bounded, langs·d rows).
    */
  def trainLangProfiles(df: DataFrame, textCol: String, langCol: String,
                        d: Int, n: Int = 3): DataFrame = {
    require(d > 0 && n > 0, "need positive bucket count and gram width")
    val counts = df
      .select(col(langCol).as("lang"), lower(col(textCol)).as("t"))
      .select(col("lang"), explode(charGrams(col("t"), n)).as("g"))
      .select(col("lang"),
        pmod(graft.functions.NativeFunctions.polyFingerprint(col("g")),
          lit(d.toLong)).as("bucket"))
      .groupBy(col("lang"), col("bucket")).agg(count(lit(1)).as("c"))
    counts
      .withColumn("tc", sum(col("c")).over(
        Window.partitionBy(col("lang"))))
      .select(col("lang"), col("bucket"),
        expr("c * 1000000 div tc").as("w_micro"))
  }

  /** Load trained language profiles from a model-artifact frame
    * ((lang, bucket, w_micro) rows) — KB-sized, collected once and
    * bound into [[langIdTrained]] as plan literals. Malformed
    * artifacts fail LOUDLY (the loadWeights contract); langs return
    * sorted (the deterministic tie-break order).
    */
  def loadLangProfiles(artifact: DataFrame, d: Int)
      : Seq[(String, Array[Long])] = {
    require(d > 0, "need at least one weight bucket")
    val rows = artifact.select(col("lang").cast(StringType),
      col("bucket").cast(LongType), col("w_micro").cast(LongType)).collect()
    val seen = scala.collection.mutable.Set.empty[(String, Long)]
    val byLang = scala.collection.mutable.Map.empty[String, Array[Long]]
    rows.foreach { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2),
        "language-profile artifact has a null lang, bucket or weight")
      val (lang, b, w) = (r.getString(0), r.getLong(1), r.getLong(2))
      require(b >= 0 && b < d, s"profile bucket $b outside [0, $d)")
      require(w >= 0, s"profile weight $w negative — not a frequency")
      require(seen.add((lang, b)), s"duplicate profile bucket ($lang, $b)")
      byLang.getOrElseUpdate(lang, Array.fill(d)(0L))(b.toInt) = w
    }
    require(byLang.nonEmpty, "language-profile artifact is empty")
    byLang.toSeq.sortBy(_._1)
  }

  /** Trained language ID — one map-only scoring pass: per language,
    * the doc's gram stream dotted with that language's frequency
    * profile (each term an O(gram) native hash + an O(1)
    * literal-array lookup, the [[linearScoreExpr]] shape ×
    * languages); prediction = argmax, ties to the sorted-first
    * language, 'und' when no gram hits any profile. Integer sums end
    * to end — the oracle replays every score.
    */
  def langIdTrained(df: DataFrame, idCol: String, textCol: String,
                    profiles: Seq[(String, Array[Long])],
                    n: Int = 3): DataFrame = {
    require(profiles.nonEmpty, "need at least one language profile")
    val sorted = profiles.sortBy(_._1)
    // one native pass per row: every gram hashed ONCE and looked up in
    // all profiles (the HOF twin below re-hashed the gram array once
    // per language through interpreted lambdas — ~n_langs x the hash
    // work plus a materialized gram-string array per row). The ss
    // array is referenced once per language downstream; CollapseProject
    // keeps multi-referenced non-cheap projections separate, so the
    // scorer runs once per row.
    val scored = df
      .select(col(idCol).as("doc_id"), lower(col(textCol)).as("t"))
      .select(col("doc_id"),
        graft.functions.NativeFunctions.langProfileScores(col("t"),
          sorted.map(_._2), n).as("ss"))
      .select(col("doc_id") +: sorted.indices.map(i =>
        element_at(col("ss"), i + 1).as(s"s_$i")): _*)
    val best = sorted.indices.map(i => col(s"s_$i")).reduce(greatest(_, _))
    val pred = sorted.zipWithIndex.foldRight(lit("und"): Column) {
      case (((lang, _), i), acc) =>
        when(col(s"s_$i") === col("score") && col("score") > 0L, lit(lang))
          .otherwise(acc)
    }
    scored.withColumn("score", best)
      .select(col("doc_id"), pred.as("lang_pred"), col("score"))
  }

  /** HOF reference formulation of [[langIdTrained]] — the semantics
    * the native one-pass scorer is asserted identical to
    * (TextAnalysisSpec).
    */
  private[graft] def langIdTrainedHof(df: DataFrame, idCol: String,
                                      textCol: String,
                                      profiles: Seq[(String, Array[Long])],
                                      n: Int = 3): DataFrame = {
    require(profiles.nonEmpty, "need at least one language profile")
    val sorted = profiles.sortBy(_._1)
    val scored = df
      .select(col(idCol).as("doc_id"), lower(col(textCol)).as("t"))
      .select(col("doc_id"), charGrams(col("t"), n).as("gs"))
      .select(col("doc_id") +: sorted.zipWithIndex.map { case ((_, ws), i) =>
        linearScoreExpr(col("gs"), ws).as(s"s_$i") }: _*)
    val best = sorted.indices.map(i => col(s"s_$i")).reduce(greatest(_, _))
    val pred = sorted.zipWithIndex.foldRight(lit("und"): Column) {
      case (((lang, _), i), acc) =>
        when(col(s"s_$i") === col("score") && col("score") > 0L, lit(lang))
          .otherwise(acc)
    }
    scored.withColumn("score", best)
      .select(col("doc_id"), pred.as("lang_pred"), col("score"))
  }

  /** Gopher-style repetition signals: fraction of duplicate lines and
    * the most-frequent-token share — high values mark boilerplate /
    * template spam. Both SQL-expressible for the oracle; the token
    * share uses a native one-pass counter ([[graft.functions.MaxTokenFreq]]).
    */
  def dupLineFraction(text: Column): Column = {
    val lines = filter(split(text, "\n"), l => trim(l) =!= "")
    (size(lines) - size(array_distinct(lines))).cast(DoubleType) /
      nullif(size(lines), lit(0)).cast(DoubleType)
  }

  /** Most-frequent single token's share of all tokens. */
  def maxTokenFreqRatio(text: Column): Column =
    graft.functions.NativeFunctions.maxTokenFreq(tokens(text)).cast(DoubleType) /
      nullif(size(tokens(text)), lit(0)).cast(DoubleType)

  /** Most-frequent word n-gram's share of all n-grams (Gopher's
    * top-n-gram repetition filter; n=2..4 typical). Same one-pass
    * counter over the shingle strings.
    */
  def maxNgramFreqRatio(text: Column, n: Int): Column = {
    val sh = Dedup.shingles(text, n)
    graft.functions.NativeFunctions.maxTokenFreq(sh).cast(DoubleType) /
      nullif(size(sh), lit(0)).cast(DoubleType)
  }

  private val FpMod = 1000000007L  // prime modulus keeps the rolling product < 2^62 (ANSI-safe)
  private val FpBase = 1000003L

  /** Polynomial rolling-hash fingerprint of the whole token stream.
    * Order-sensitive (unlike MinHash): re-ordered documents get
    * different fingerprints.
    */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => pmod(acc * FpBase + pmod(xxhash64(t), lit(FpMod)), lit(FpMod)))

  /** Portable order-sensitive document fingerprint: the code-point
    * polynomial rolling hash over the whole text (native single-pass
    * expression; reproducible in the DuckDB oracle via list_reduce).
    */
  def polyFingerprint(text: Column): Column =
    graft.functions.NativeFunctions.polyFingerprint(text)

  /** Winnowing-style fingerprint set: min shingle-hash per sliding
    * window of `window` shingles, distinct. Robust to local edits;
    * the standard document-fingerprinting scheme.
    */
  def winnowingFingerprints(text: Column, shingleWidth: Int = 4, window: Int = 4): Column =
    winnowingOver(transform(Dedup.shingles(text, shingleWidth), s => xxhash64(s)), window)

  /** [[winnowingFingerprints]] with the portable polynomial shingle
    * hash instead of xxhash64 — same selection scheme, oracle-
    * reproducible values. Native one-pass expression; the HOF twin
    * below is the tested reference semantics (the HOF pipeline costs
    * ~3 interpreted lambdas per shingle-window — minutes at sf0.1).
    */
  def winnowingFingerprintsPoly(text: Column, shingleWidth: Int = 4, window: Int = 4): Column =
    graft.functions.NativeFunctions.polyWinnowFingerprints(tokens(text), shingleWidth, window)

  /** HOF reference formulation of [[winnowingFingerprintsPoly]]. */
  def winnowingFingerprintsPolyHof(text: Column, shingleWidth: Int = 4, window: Int = 4): Column =
    winnowingOver(transform(Dedup.shingles(text, shingleWidth),
      s => graft.functions.NativeFunctions.polyFingerprint(s)), window)

  private def winnowingOver(hs: Column, window: Int): Column =
    sort_array(array_distinct(
      when(size(hs) <= window, array(array_min(hs)))
        .otherwise(transform(sequence(lit(0), size(hs) - window),
          i => array_min(slice(hs, i + 1, lit(window)))))))

  /** Corpus unigram log-probability per document — the classic
    * perplexity-proxy quality signal: tokens that are rare in the
    * corpus drag a document's mean log-prob down (gibberish, boiler-
    * plate explosions, wrong-language text all score low).
    *
    * Scale shape: one explode (map-only), one vocab-sized unigram
    * aggregate (map-side partials), the corpus total as a 1-row
    * aggregate joined back by broadcast, one token->count equi-join
    * (vocab side is Zipf-small — broadcastable far beyond test
    * scale), one per-doc re-aggregate. Everything linear.
    *
    * Float policy: ln(p) is quantized per TOKEN to integer
    * microbits — floor(ln(cnt/total) * 1e6) — and documents sum
    * longs, so cross-row accumulation order cannot change the
    * result and an external oracle reproduces it exactly.
    *
    * Returns (id, n_tok, sum_lp_micro); mean log-prob =
    * sum_lp_micro / n_tok / 1e6.
    */
  /** DSIR-style hashed n-gram importance log-weights: score each raw
    * document by how much its n-gram distribution looks like a
    * TARGET corpus — the data-selection step that tilts a web-scale
    * crawl toward a quality domain before training. Features are
    * occurrence counts over `buckets` hashed n-gram buckets
    * (portable polynomial shingle hash mod buckets); the weight is
    * log w(doc) = sum over the doc's n-gram occurrences of
    * ln(p_target[b] / p_raw[b]), with Laplace (+1) smoothing.
    * Feed the (exponentiated) weights to
    * [[Frames.weightedSampleDeterministic]] to resample, or keep the
    * top fraction by mean log-weight.
    *
    * Scale shape: both corpora explode to (id, bucket) occurrences
    * map-only; the bucket count tables are `buckets` rows (map-side
    * combined, then broadcast); the only raw-corpus shuffle is the
    * per-doc re-aggregate. The log-ratio is quantized per OCCURRENCE
    * to integer microbits and documents sum longs — accumulation
    * order cannot change the result, so an external oracle replays
    * it exactly (same policy as [[unigramLogProb]]).
    *
    * Returns (id, n_grams, sum_lr_micro) for raw docs; mean log
    * importance = sum_lr_micro / n_grams / 1e6.
    */
  def dsirLogWeights(raw: DataFrame, target: DataFrame, idCol: String,
                     textCol: String, shingleWidth: Int = 2,
                     buckets: Int = 1024): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    // Per-document (bucket, count) cells computed IN-ROW by the
    // native one-pass ShingleBucketCounts expression (hash each
    // shingle occurrence, count into a primitive long[buckets],
    // emit ascending) — map-only, at most `buckets` cells per doc,
    // ZERO shuffles. This shape won across four designs: round 2
    // persisted raw occurrences (map-only but per-occurrence
    // footprint), round 3 pre-aggregated with groupBy(id, bucket)
    // (re-shuffled the occurrence stream, 4.3 -> 6.2 s), round 4
    // run-length-encoded in-row via sort_array + index HOFs (right
    // shape, but an O(L log L) sort + two struct lambdas + a
    // try_element_at per element), round 5 fused it into one native
    // pass (profiled 2.2x faster cold). The HOF twin below is
    // kept as the reference semantics, asserted bit-identical in
    // TextAnalysisSpec.
    def cells(df: DataFrame) =
      df.select(col(idCol).as("id"),
          explode(graft.functions.NativeFunctions.shingleBucketCounts(
            tokens(col(textCol)), shingleWidth, buckets)).as("c"))
        .select(col("id"), col("c.b").as("b"), col("c.k").as("k"))
    // The cell stream feeds BOTH the bucket histogram and the final
    // per-doc join (n_grams = Σk, sum_lr = Σ lr*k re-derive exactly).
    // The persist stays referenced by the returned plan, so (as with
    // Dedup's signature tables) it cannot be unpersisted here;
    // CacheManager also substitutes it into later plans sharing the
    // subtree. Callers running many corpora through a long session
    // should clearCache() between batches.
    val rawOcc = cells(raw)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the target histogram is read twice (ratio join + tt total) —
    // at most `buckets` rows, but computing it is a full pass over
    // the target corpus; persist keeps that one-pass
    val ct = cells(target).groupBy(col("b")).agg(sum(col("k")).as("ct"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cr = rawOcc.groupBy(col("b")).agg(sum(col("k")).as("cr"))
    // totals fall out of the bucket histograms (sum over <= `buckets`
    // rows) — no extra pass over either corpus
    val tt = ct.agg(coalesce(sum(col("ct")), lit(0L)).as("tt"))
    val tr = cr.agg(coalesce(sum(col("cr")), lit(0L)).as("tr"))
    val all = raw.sparkSession.range(buckets).select(col("id").as("b"))
    // each factor is cast to double BEFORE the multiply: web-scale
    // corpora put tr/tt near 1e13 and the Long*Long product would
    // silently wrap (throw under ANSI). Exact-representable factors
    // (< 2^53) make double*double bit-identical to the integer
    // product, so the quantized oracle replay is unchanged.
    val ratio = all.join(ct, Seq("b"), "left").join(cr, Seq("b"), "left")
      .crossJoin(tt).crossJoin(tr)
      .select(col("b"),
        floor(log(
          ((coalesce(col("ct"), lit(0L)) + 1L).cast(DoubleType) *
            (col("tr") + buckets).cast(DoubleType)) /
          ((coalesce(col("cr"), lit(0L)) + 1L).cast(DoubleType) *
            (col("tt") + buckets).cast(DoubleType)))
          * lit(1000000.0)).cast(LongType).as("lr_micro"))
    rawOcc.join(broadcast(ratio), Seq("b"))
      .groupBy(col("id"))
      .agg(sum(col("k")).as("n_grams"),
        sum(col("lr_micro") * col("k")).as("sum_lr_micro"))
  }

  /** HOF reference formulation of the DSIR (bucket, count) cells —
    * sort the doc's shingle-hash buckets, mark run starts with an
    * index-aware transform+filter, run-length-encode. Kept as the
    * tested twin of the native [[graft.functions.ShingleBucketCounts]]
    * path [[dsirLogWeights]] runs on (values AND cell order asserted
    * identical in TextAnalysisSpec). The try_element_at index is
    * clamped to >= 1 STRUCTURALLY: element_at(_, 0) throws
    * INVALID_INDEX_OF_ZERO even in the try_ variant, and relying on
    * Or short-circuit to keep the 0 away from the right disjunct
    * would hang correctness on Catalyst never reordering it; at
    * i == 0 the clamp reads bs[0] = p.b itself, so the right disjunct
    * is false and the i === 0 disjunct decides.
    */
  private[graft] def dsirCellsHof(df: DataFrame, idCol: String, textCol: String,
                                  shingleWidth: Int, buckets: Int): DataFrame = {
    val bs = sort_array(transform(Dedup.shingles(col(textCol), shingleWidth),
      g => pmod(graft.functions.NativeFunctions.polyFingerprint(g),
        lit(buckets.toLong))))
    df.select(col(idCol).as("id"), bs.as("bs"))
      .select(col("id"), col("bs"),
        filter(transform(col("bs"), (x, i) => struct(x.as("b"), i.as("i"))),
          p => p.getField("i") === 0 ||
            try_element_at(col("bs"), greatest(p.getField("i"), lit(1))) =!=
              p.getField("b"))
          .as("st"))
      .select(col("id"), explode(transform(col("st"), (p, j) =>
        struct(p.getField("b").as("b"),
          (coalesce(try_element_at(col("st"), j + lit(2)).getField("i"),
            size(col("bs"))) - p.getField("i")).cast(LongType).as("k"))))
        .as("c"))
      .select(col("id"), col("c.b").as("b"), col("c.k").as("k"))
  }

  // ---- BPE internals ----
  // Symbol framing: every symbol is wrapped sep+symbol+sep, so TWO
  // separators stand between adjacent symbols and one guards each
  // word boundary. A merge is then the literal replace of
  // sep+a+sep+sep+b+sep with sep+ab+sep, which can only match WHOLE
  // adjacent symbols: with single-sep framing the pattern "l<sep>o"
  // also matches INSIDE [al, o] (boundary-crossing merge), and
  // adjacent pair occurrences share their boundary sep so runs
  // under-merge ("a a a a" merged (a,a) must give [aa, aa]).
  // Symbols recover as the non-empty sep-split parts.
  private[operators] val BpeSep = "\u001F"
  private def bpeCharSyms(w: Column): Column =
    concat(lit(BpeSep),
      // (?!^) splits between every pair of CODE POINTS but ALSO
      // matches the end boundary, leaving a trailing "" element —
      // filter it exactly like the oracle's
      // list_filter(string_split(w, ''), c <> ''). The lookbehind
      // guard keeps surrogate PAIRS whole: without it a non-BMP char
      // (emoji, CJK-ext) becomes two lone-surrogate symbols.
      array_join(filter(split(w, "(?!^)(?<![\uD800-\uDBFF])"), c => c =!= ""),
        BpeSep + BpeSep),
      lit(BpeSep))
  private def bpeSymbols(syms: Column): Column =
    filter(split(syms, java.util.regex.Pattern.quote(BpeSep)), x => x =!= "")
  private def bpeApplyMerge(syms: Column, pair: String): Column =
    replace(syms,
      lit(BpeSep + pair.replace(BpeSep, BpeSep + BpeSep) + BpeSep),
      lit(BpeSep + pair.replace(BpeSep, "") + BpeSep))

  /** Distributed BPE tokenizer training: learn `merges` byte-pair
    * merges from the corpus, the classic word-frequency formulation
    * (Sennrich et al.) — train on the DISTINCT token vocabulary
    * weighted by occurrence count, never the raw corpus. Each round
    * counts adjacent symbol pairs across the vocabulary (one
    * map-side-combined aggregate), picks the most frequent
    * (count desc, pair asc — total and engine-portable), and merges
    * it everywhere (a literal left-to-right whole-symbol replace,
    * map-only — see the framing note above). Tokens containing the
    * separator itself are excluded from training (they would corrupt
    * symbol framing).
    *
    * Scale shape: vocabulary ∝ distinct tokens (Zipf-small relative
    * to the corpus); per round one aggregate over ~|vocab| x
    * avg-token-len pair rows and one driver collect of a single
    * row. The merge list (the trained tokenizer) is driver-sized by
    * construction. Exact integer counts and literal string ops
    * throughout — an external SQL engine replays every round
    * bit-for-bit.
    *
    * Integer-ceiling audit (r14): the argmax ranks RAW int64 pair
    * counts — no product, no quantization — so the trainer is exact
    * up to 2^63-1 total pair occurrences (~9.2e18 tokens), i.e. no
    * practical ceiling. [[trainWordpieceMerges]]'s ratio score is the
    * one that needed DECIMAL intermediates; [[trainUnigramVocab]]'s
    * micro-ln scores are double-based by declared policy (no integer
    * product to wrap).
    *
    * Returns the merge list in training order:
    * (pair-with-separator, summed count at merge time).
    */
  def trainBpeMerges(df: DataFrame, textCol: String, merges: Int): Seq[(String, Long)] = {
    require(merges > 0, "merges must be positive")
    val vocab = df.select(explode(tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "" && !col("w").contains(BpeSep))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), bpeCharSyms(col("w")).as("syms"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = Seq.newBuilder[(String, Long)]
    var applied = List.empty[String]  // training order, reversed
    var r = 0
    var exhausted = false
    while (r < merges && !exhausted) {
      // round r's vocabulary = the base vocab with the merges so far
      // folded into the expression (replace chains are cheap on short
      // symbol strings) — one aggregate job per round, no per-round
      // persist/materialize cycle
      val symsCol = applied.reverse.foldLeft(col("syms"))(bpeApplyMerge)
      val ss = bpeSymbols(symsCol)
      val top = vocab
        .select(col("cnt"),
          explode(when(size(ss) > 1,
            transform(sequence(lit(0), size(ss) - 2),
              i => concat(element_at(ss, i + 1), lit(BpeSep), element_at(ss, i + 2))))
            .otherwise(array().cast("array<string>"))).as("p"))
        .groupBy(col("p")).agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("p"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        out += ((pair, top(0).getLong(1)))
        applied = pair :: applied
      }
      r += 1
    }
    vocab.unpersist(blocking = false)
    out.result()
  }

  /** Apply a learned BPE merge list ([[trainBpeMerges]] output order
    * matters) to a text column: per whitespace token, symbols start
    * as code points and merges apply with the training-order replay
    * semantics. Returns the per-token framed symbol strings as an
    * array — use [[bpeTokenCount]] or split on the separator for
    * symbol lists.
    *
    * Implementation is the single-pass native expression
    * [[graft.functions.BpeSegmentWord]] (one rank-map encode loop per
    * word): per-word cost is independent of merge-list size, so
    * production-scale tokenizers (100k merges) work — the old
    * one-replace-expression-per-merge chain (kept as
    * [[bpeSegmentReplace]], equality asserted in TextAnalysisSpec)
    * rebuilt the framed string per merge and broke expression
    * analysis past a few hundred merges.
    */
  def bpeSegment(text: Column, merges: Seq[String]): Column =
    transform(tokens(text), w =>
      graft.functions.NativeFunctions.bpeSegmentWord(w, merges))

  /** WordPiece-objective tokenizer training (Schuster & Nakajima 2012;
    * BERT's tokenizer) — the THIRD tokenizer family beside BPE
    * (count-greedy merges) and unigram-LM (Viterbi over a scored
    * inventory): the SAME merge loop as [[trainBpeMerges]], but each
    * round fuses the pair maximizing the LIKELIHOOD ratio
    * count(ab) / (count(a)·count(b)) — the fusion that most increases
    * corpus likelihood under a unigram model — rather than raw count
    * (raw count loves fusing two independently-common symbols; the
    * ratio demands they co-occur beyond chance). The score is
    * quantized exactly: score_q = n_ab·10^12 div (n_a·n_b) with ties
    * on pair ASC — a total, engine-portable objective the oracle
    * replays round-for-round. Symbol counts are the CURRENT round's
    * (merges applied), like the pair counts. The intermediate
    * products compute in DECIMAL(38,0) (the oracle uses HUGEINT —
    * identical exact integers), so no count a BIGINT can hold wraps
    * the score: n·10^12 needs ≤ 38 digits for n ≤ 10^25 and
    * n_a·n_b ≤ (2^63)^2 < 10^38. The QUOTIENT always fits int64
    * because n_a ≥ n_ab and n_b ≥ n_ab (every occurrence of the
    * pair is an occurrence of each side), so score_q ≤ 10^12.
    *
    * Scale shape is [[trainBpeMerges]]'s plus one symbol-count
    * aggregate per round (both map-side combined over the DISTINCT
    * word vocabulary, never the corpus).
    *
    * Returns (pair-with-separator, score_q) in training order.
    */
  def trainWordpieceMerges(df: DataFrame, textCol: String,
                           merges: Int): Seq[(String, Long)] = {
    require(merges > 0, "merges must be positive")
    val vocab = df.select(explode(tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "" && !col("w").contains(BpeSep))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), bpeCharSyms(col("w")).as("syms"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = Seq.newBuilder[(String, Long)]
    var applied = List.empty[String]
    var r = 0
    var exhausted = false
    while (r < merges && !exhausted) {
      val symsCol = applied.reverse.foldLeft(col("syms"))(bpeApplyMerge)
      val ss = bpeSymbols(symsCol)
      // ONE vocab scan per round (was two: a symbol-count explode AND
      // a separate pair explode — 16 aggregate passes for 8 rounds).
      // Every symbol position i emits one entry: its symbol as `a`,
      // and for non-final positions the adjacent pair as (p, b).
      // Grouping the entries by (a, p, b) yields the pair counts
      // directly (p determines a and b), and the symbol counts fall
      // out of the SAME small aggregated frame by re-summing over `a`
      // — every symbol occurrence is exactly one entry's left side.
      // All counts are the identical integers the two-pass form
      // produced, so the argmax and the oracle replay are unchanged.
      val cells = vocab
        .select(col("cnt"),
          explode(transform(sequence(lit(0), size(ss) - 1),
            i => struct(
              element_at(ss, i + 1).as("a"),
              when(i < size(ss) - 1,
                concat(element_at(ss, i + 1), lit(BpeSep),
                  element_at(ss, i + 2))).as("p"),
              when(i < size(ss) - 1, element_at(ss, i + 2)).as("b")))).as("e"))
        .groupBy(col("e.a").as("a"), col("e.p").as("p"), col("e.b").as("b"))
        .agg(sum(col("cnt")).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val symCnt = cells.groupBy(col("a").as("sym"))
        .agg(sum(col("n")).as("ns"))
      val top = cells.filter(col("p").isNotNull)
        .select(col("p"), col("a"), col("b"), col("n"))
        .join(symCnt.select(col("sym").as("a"), col("ns").as("na")), Seq("a"))
        .join(symCnt.select(col("sym").as("b"), col("ns").as("nb")), Seq("b"))
        // DECIMAL(38,0) intermediates: n·10^12 and na·nb both exceed
        // int64 once symbol occurrences pass ~9.2e6 / ~3e9, which a
        // real corpus does by sf1. The quotient is ≤ 10^12 (na ≥ n,
        // nb ≥ n), so the int64 `div` result never overflows.
        .withColumn("score_q", expr(
          "cast(n as decimal(25,0)) * 1000000000000 div " +
            "(cast(na as decimal(19,0)) * cast(nb as decimal(19,0)))"))
        .orderBy(col("score_q").desc, col("p"))
        .limit(1).collect()
      cells.unpersist(blocking = false)
      if (top.isEmpty) exhausted = true
      else {
        out += ((top(0).getAs[String]("p"), top(0).getAs[Long]("score_q")))
        applied = top(0).getAs[String]("p") :: applied
      }
      r += 1
    }
    vocab.unpersist(blocking = false)
    out.result()
  }

  /** Segmentation vocabulary induced by a WordPiece merge list: every
    * single code point seen in training (the segmentability floor,
    * exactly [[trainUnigramVocab]]'s guarantee) plus each merge's
    * fused piece. Driver-sized: alphabet + merge count.
    */
  def wordpieceVocab(df: DataFrame, textCol: String,
                     mergePairs: Seq[String]): Seq[String] = {
    val chars = df.select(explode(tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "" && !col("w").contains(BpeSep))
      .select(explode(bpeSymbols(bpeCharSyms(col("w")))).as("c"))
      .distinct().collect().map(_.getString(0)).toSeq
    (chars ++ mergePairs.map(_.replace(BpeSep, ""))).distinct.sorted
  }

  /** Greedy longest-match-first WordPiece segmentation of a text
    * column under an induced vocab — one framed piece string per
    * whitespace token ([[graft.functions.WordpieceGreedy]]; the
    * deployed simplification is documented there: one position-
    * independent vocab, '##' as output decoration). Map-only; the
    * vocab rides in the expression like the BPE merge list.
    */
  def wordpieceSegment(text: Column, vocab: Seq[String],
                       maxPieceLen: Int): Column =
    transform(tokens(text), w =>
      graft.functions.NativeFunctions.wordpieceSegmentWord(w, vocab,
        maxPieceLen))

  /** The literal-replace-chain formulation of [[bpeSegment]]: one
    * whole-symbol framed replace per merge, exactly the op sequence
    * the DuckDB oracle replays. Reference semantics for tests; use
    * [[bpeSegment]] (same output, one pass) everywhere else.
    */
  def bpeSegmentReplace(text: Column, merges: Seq[String]): Column =
    transform(tokens(text), w =>
      merges.foldLeft(bpeCharSyms(w))(bpeApplyMerge))

  /** BPE token count after applying `merges`: total symbols across
    * the document's words.
    */
  def bpeTokenCount(text: Column, merges: Seq[String]): Column =
    aggregate(bpeSegment(text, merges),
      lit(0L),
      (acc, s) => acc + size(bpeSymbols(s)).cast("long"))

  /** Train a unigram-LM (SentencePiece-family) piece vocabulary — the
    * OTHER tokenizer family beside BPE: instead of greedy merges, a
    * piece inventory with log-probs that a Viterbi decode segments
    * against. Deterministic, SQL-replayable derivation:
    *
    *  - candidate pieces = every substring of length 1..`maxPieceLen`
    *    of every distinct word, at EVERY start position, weighted by
    *    the word's corpus count (the substring stream runs over the
    *    Zipf-small DISTINCT-word table, never per occurrence);
    *  - ALL single-char pieces are kept (segmentability guarantee);
    *    multi-char pieces keep the top `topK` by (count DESC, piece
    *    ASC) — an exact global top-K over the candidate histogram;
    *  - score(p) = floor(10⁶·ln(cnt(p)/total)) with total = Σ counts
    *    over the SELECTED vocab — the same exact-integer-rational ln
    *    discipline as [[unigramLogProb]], replayed by DuckDB
    *    bit-for-bit.
    *
    * Scale: one word-key shuffle for the histogram, one piece-key
    * shuffle for the candidate counts (both distinct-key sized), a
    * TakeOrdered top-K, and a charset-bounded single-char collect —
    * the returned vocab is driver-sized by construction (topK +
    * |charset|). Returned sorted by piece for a deterministic
    * expression payload.
    */
  def trainUnigramVocab(df: DataFrame, textCol: String, topK: Int = 64,
                        maxPieceLen: Int = 4): Seq[(String, Long)] = {
    require(topK > 0 && maxPieceLen >= 1, "bad unigram vocab params")
    val words = df.select(explode(tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val cand = words
      .select(col("cnt"), explode(flatten(
        transform(sequence(lit(1), least(length(col("w")), lit(maxPieceLen))),
          l => transform(sequence(lit(1), length(col("w")) - l + 1,
              lit(1)),
            st => col("w").substr(st, l))))).as("p"))
      .groupBy(col("p")).agg(sum(col("cnt")).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chars = cand.filter(length(col("p")) === 1).collect()
    val multi = cand.filter(length(col("p")) > 1)
      .orderBy(col("n").desc, col("p")).limit(topK).collect()
    cand.unpersist(blocking = false)
    val sel = (chars ++ multi).map(r => (r.getString(0), r.getLong(1)))
    val total = sel.map(_._2).sum
    require(total > 0, "trainUnigramVocab: empty corpus")
    sel.sortBy(_._1).map { case (p, n) =>
      (p, math.floor(math.log(n.toDouble / total.toDouble) * 1000000.0).toLong)
    }.toSeq
  }

  /** Score floor for a code point unseen at training time: only
    * reachable when segmenting text OUTSIDE the training corpus —
    * documented serving degradation, never an oracle path.
    */
  val UnigramUnkMicro: Long = -40000000L

  /** Viterbi piece count per document under a trained unigram vocab:
    * total pieces across the document's words ([[bpeTokenCount]]'s
    * shape for the other tokenizer family).
    */
  def unigramTokenCount(text: Column, vocab: Seq[(String, Long)],
                        maxPieceLen: Int = 4): Column =
    aggregate(
      transform(tokens(text), w =>
        graft.functions.NativeFunctions.unigramSegmentWord(
          w, vocab, maxPieceLen, UnigramUnkMicro)),
      lit(0L),
      (acc, s) => acc + size(bpeSymbols(s)).cast("long"))

  /** Total Viterbi micro log-prob per document (sum over words) —
    * the unigram-LM analog of [[unigramLogProb]]'s corpus score, but
    * over LEARNED pieces instead of whole tokens.
    */
  def unigramScoreSum(text: Column, vocab: Seq[(String, Long)],
                      maxPieceLen: Int = 4): Column =
    aggregate(
      filter(tokens(text), w => w =!= ""),
      lit(0L),
      (acc, w) => acc + graft.functions.NativeFunctions.unigramScoreWord(
        w, vocab, maxPieceLen, UnigramUnkMicro))

  /** Per-document struct(n_pieces, lp_micro) from ONE Viterbi decode
    * per word — the exact integers of
    * ([[unigramTokenCount]], [[unigramScoreSum]]) (equality pinned in
    * TextAnalysisSpec) at half the DP cost: the two-column projection
    * ran the identical per-word DP twice, once to frame pieces and
    * once to score them. Empty words contribute (0, 0) — what the old
    * pair's zero-piece framing and empties filter produced.
    */
  def unigramPieceStatsAgg(text: Column, vocab: Seq[(String, Long)],
                           maxPieceLen: Int = 4): Column =
    aggregate(
      transform(tokens(text), w =>
        graft.functions.NativeFunctions.unigramPieceStats(w, vocab,
          maxPieceLen, UnigramUnkMicro)),
      struct(lit(0L).as("n_pieces"), lit(0L).as("lp_micro")),
      (acc, s) => struct(
        (acc.getField("n_pieces") + s.getField("n_pieces")).as("n_pieces"),
        (acc.getField("lp_micro") + s.getField("lp_micro")).as("lp_micro")))

  /** Gopher-style document quality rules (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1), as one map-only struct of exact integer
    * signals plus the composed pass flag. Every signal is an integer
    * count and every threshold test an integer comparison (ratios are
    * cross-multiplied), so an external engine replays the whole rule
    * set bit-for-bit — no float boundary coin-flips. Signals:
    *
    *  - n_words, wlen_q4 (mean word length × 1e4, floored)
    *  - n_symbol ('#' chars + non-overlapping "..." occurrences)
    *  - n_lines, n_bullet_lines (ltrim starts - * •),
    *    n_ellipsis_lines (rtrim ends "..." or "…")
    *  - n_alpha_words (words containing a [A-Za-z] char)
    *  - n_stop_distinct (distinct stopwords present)
    *
    * pass = words in [minWords, maxWords] ∧ mean wlen in [3, 10] ∧
    * symbols ≤ 10% of words ∧ bullets ≤ 90% of lines ∧ ellipsis
    * lines ≤ 30% ∧ alpha words ≥ 80% ∧ ≥ 2 distinct stopwords.
    */
  def gopherSignals(text: Column, minWords: Long = 50L,
                    maxWords: Long = 100000L,
                    stopwords: Seq[String] = EnglishStopwords): Column = {
    val toks = tokens(text)
    val nWords = size(toks).cast(LongType)
    val sumLen = aggregate(toks, lit(0L), (a, w) => a + length(w).cast(LongType))
    val wlenQ4 = when(nWords > 0L,
      floor((sumLen * 10000L).cast(DoubleType) / nWords.cast(DoubleType))
        .cast(LongType)).otherwise(lit(0L))
    val nHash = (length(text) - length(replace(text, lit("#"), lit("")))).cast(LongType)
    val nEllOcc = floor(
      (length(text) - length(replace(text, lit("..."), lit("")))).cast(DoubleType)
        / lit(3.0)).cast(LongType)
    val nSymbol = nHash + nEllOcc
    val lines = split(text, "\n", -1)
    val nLines = size(lines).cast(LongType)
    val nBullet = size(filter(lines,
      l => substring(ltrim(l), 1, 1).isin("-", "*", "\u2022"))).cast(LongType)
    val nEllLines = size(filter(lines,
      l => rtrim(l).endsWith("...") || rtrim(l).endsWith("\u2026"))).cast(LongType)
    val nAlpha = size(filter(toks, w => w.rlike("[A-Za-z]"))).cast(LongType)
    val nStop = size(array_intersect(array_distinct(toks),
      array(stopwords.map(lit): _*))).cast(LongType)
    val pass = nWords >= minWords && nWords <= maxWords &&
      wlenQ4 >= 30000L && wlenQ4 <= 100000L &&
      nSymbol * 10L <= nWords &&
      nBullet * 10L <= nLines * 9L &&
      nEllLines * 10L <= nLines * 3L &&
      nAlpha * 10L >= nWords * 8L &&
      nStop >= 2L
    struct(nWords.as("n_words"), wlenQ4.as("wlen_q4"), nSymbol.as("n_symbol"),
      nLines.as("n_lines"), nBullet.as("n_bullet_lines"),
      nEllLines.as("n_ellipsis_lines"), nAlpha.as("n_alpha_words"),
      nStop.as("n_stop_distinct"), pass.as("pass"))
  }

  /** C4-style line-level cleaning signals (Raffel et al. 2020,
    * arXiv:1910.10683 §2.2) — the OTHER famous web-filter family
    * beside [[gopherSignals]], and the line-granular one: C4 keeps
    * only lines that end in terminal punctuation AND hold at least
    * `minLineWords` words, then drops any page whose kept text has
    * fewer than `minSentences` sentences, mentions "lorem ipsum", or
    * contains a curly brace (code leak-through). One map-only struct
    * of exact integer/boolean signals — counts and substring tests
    * only, no float anywhere — so an external engine replays the rule
    * set bit-for-bit:
    *
    *  - n_lines, n_kept_lines (terminal-punct + ≥ minLineWords)
    *  - n_sentences_kept ([.!?] occurrences within KEPT lines — the
    *    sentence proxy applied after line filtering, as C4 does)
    *  - has_lorem (case-insensitive), has_brace, pass
    */
  def c4Signals(text: Column, minLineWords: Long = 5L,
                minSentences: Long = 3L): Column = {
    val lines = split(text, "\n", -1)
    val nLines = size(lines).cast(LongType)
    def lineWords(l: Column): Column =
      size(filter(split(trim(l), "\\s+"), w => w =!= "")).cast(LongType)
    val kept = filter(lines, l =>
      lineWords(l) >= minLineWords && rtrim(l).rlike("[.!?\"]$"))
    val nKept = size(kept).cast(LongType)
    val sentKept = aggregate(kept, lit(0L),
      (a, l) => a + regexp_count(l, lit("[.!?]")).cast(LongType))
    val hasLorem = lower(text).contains("lorem ipsum")
    val hasBrace = text.contains("{")
    val pass = sentKept >= minSentences && !hasLorem && !hasBrace
    struct(nLines.as("n_lines"), nKept.as("n_kept_lines"),
      sentKept.as("n_sentences_kept"), hasLorem.as("has_lorem"),
      hasBrace.as("has_brace"), pass.as("pass"))
  }

  /** zlib compression ratio in micro-units — the cheap
    * repetition/randomness proxy beside the rule cards (see
    * [[graft.functions.DeflateRatioMicro]]). Null/empty text → null;
    * otherwise floor(10⁶·deflate_len/raw_len). Filter policy belongs
    * to the caller: drop ratio ≲ 0.25·10⁶ as boilerplate/spam, flag
    * ratio near 10⁶ as non-text. Map-only; NOT oracle-replayable
    * (deflate output is engine-specific) — ScalaTest-verified.
    */
  def compressionRatioMicro(text: Column, level: Int = 6): Column =
    when(text.isNotNull && length(text) > 0,
      org.apache.spark.sql.GraftSqlShims.column(
        graft.functions.DeflateRatioMicro(
          org.apache.spark.sql.GraftSqlShims.expression(text), level)))
      .otherwise(lit(null).cast(LongType))

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359): score each document by its mean per-token
    * corpus log-probability (the [[unigramLogProb]] perplexity proxy,
    * quantized to integer microbits — portable), then split each
    * LANGUAGE into head/middle/tail terciles. The tercile cutoffs are
    * computed from a per-language HISTOGRAM of quantized scores
    * (bounded rows: languages × distinct scores), never by sorting
    * the corpus — the window that ranks the histogram is
    * histogram-sized, so the shape survives 100 TB. Boundary ties
    * share a bucket (cutoffs are score values, not row ranks), which
    * is what makes the output engine-replayable.
    *
    * Returns (id, lang, score_q, bucket); docs with zero tokens are
    * dropped (no defined score).
    */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
                        langCol: String): DataFrame = {
    val scored = unigramLogProb(df, idCol, textCol).filter(col("n_tok") > 0L)
    val langs = df.select(col(idCol).as("id"), col(langCol).as("lang"))
    val sc = scored.join(langs, Seq("id"))
      .withColumn("score_q",
        floor(col("sum_lp_micro").cast(DoubleType) / col("n_tok").cast(DoubleType))
          .cast(LongType))
    val hist = sc.groupBy(col("lang"), col("score_q")).agg(count(lit(1)).as("c"))
    val wcum = Window.partitionBy(col("lang")).orderBy(col("score_q"))
    val cum = hist.withColumn("cum", sum(col("c")).over(wcum))
    val tot = hist.groupBy(col("lang")).agg(sum(col("c")).as("n"))
    // ceil(n/3) and ceil(2n/3) rank targets; the cutoff is the
    // smallest score whose cumulative count reaches the target
    def k(mult: Int) =
      floor((col("n") * mult + lit(2L)).cast(DoubleType) / lit(3.0)).cast(LongType)
    val cuts = cum.join(tot, Seq("lang"))
      .groupBy(col("lang"))
      .agg(min(when(col("cum") >= k(1), col("score_q"))).as("c1"),
        min(when(col("cum") >= k(2), col("score_q"))).as("c2"))
    sc.join(broadcast(cuts), Seq("lang"))
      .select(col("id"), col("lang"), col("score_q"),
        when(col("score_q") <= col("c1"), lit("tail"))
          .when(col("score_q") <= col("c2"), lit("middle"))
          .otherwise(lit("head")).as("bucket"))
  }

  /** Corpus unigram log-probability per document (perplexity-proxy
    * quality score). The raw token stream is NEVER shuffled by token:
    * joining per-occurrence tokens on the vocab key would land every
    * occurrence of "the" on one reducer (Zipf skew — the classic
    * 100 TB scale-killer). Instead the vocab histogram (Zipf-small:
    * distinct tokens, not occurrences) is measured once at plan
    * build; if it fits a broadcast (`vocabBroadcastMax`) the join is
    * map-side, so the only shuffles are the two map-side-combined
    * aggregates (vocab count, per-doc sum). Oversized vocabularies
    * fall back to [[Skew.saltedJoin]], which spreads each hot token
    * over `saltFactor` reducers. `total` is derived from the
    * histogram (sum over vocab-sized rows) — no second corpus scan.
    *
    * Plan-build cost: one eager vocab count (materializes the persist
    * the returned plan reuses). The persist stays referenced by the
    * plan, so callers batching many corpora should clearCache()
    * between batches (same policy as [[dsirLogWeights]]).
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String,
                     vocabBroadcastMax: Long = 8000000L,
                     saltFactor: Int = 16): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("tok"))
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocabSize = uni.count()
    val total = uni.agg(coalesce(sum(col("cnt")), lit(0L)).as("total"))
    val joined =
      if (vocabSize <= vocabBroadcastMax) toks.join(broadcast(uni), Seq("tok"))
      else Skew.saltedJoin(toks, uni, "tok", saltFactor)
    joined
      .join(broadcast(total))
      .withColumn("lp_micro",
        floor(log(col("cnt").cast(DoubleType) / col("total").cast(DoubleType))
          * lit(1000000.0)).cast(LongType))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("lp_micro")).as("sum_lp_micro"))
  }

  /** Corpus bigram log-likelihood per document — the next LM order up
    * from [[unigramLogProb]] in the CCNet-style quality-scoring
    * family: add-one (Laplace) smoothed p(w2|w1) = (c12 + 1) /
    * (c1 + V) over adjacent token pairs, scored as the same
    * floor(ln·10⁶) integer terms the unigram path uses (each log
    * argument is an exact integer rational both engines form
    * identically as doubles). Emits (id, n_bigrams, sum_lp_micro);
    * docs with fewer than two tokens have no bigrams and no row —
    * same contract as the unigram path for empty docs.
    *
    * Scale shape, same discipline as [[unigramLogProb]]: the bigram
    * stream is built MAP-SIDE from the bound token array (adjacent
    * pairs via an index transform — never a positional self-join of
    * an exploded token stream), both count tables are
    * distinct-gram-sized (Zipf-small), and each joins back by
    * broadcast when it fits (`vocabBroadcastMax`) or a salted join
    * when it does not — the per-occurrence stream is never shuffled
    * by a token key. Two persists (unigram + bigram histograms) stay
    * referenced by the returned plan: clearCache() between corpora,
    * the [[dsirLogWeights]] policy.
    */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String,
                    vocabBroadcastMax: Long = 8000000L,
                    saltFactor: Int = 16): DataFrame = {
    val ts = df.select(col(idCol).as("id"), cleanTokens(col(textCol)).as("ts"))
    // adjacent pairs from the BOUND array (ts is a materialized
    // attribute, so the captured reference in the lambda is an O(1)
    // read — the wordGrams binding contract)
    val bgs = ts.select(col("id"),
        explode(filter(transform(col("ts"), (t, i) =>
          when(i < size(col("ts")) - 1,
            struct(t.as("w1"), element_at(col("ts"), i + 2).as("w2")))),
          p => p.isNotNull)).as("p"))
      .select(col("id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val toks = ts.select(explode(col("ts")).as("w1"))
    val uni = toks.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocabSize = uni.count()
    val big = bgs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .withColumn("bg", concat_ws(" ", col("w1"), col("w2")))
      .drop("w1", "w2")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBigrams = big.count()
    val keyed = bgs.withColumn("bg", concat_ws(" ", col("w1"), col("w2")))
    val withBig =
      if (nBigrams <= vocabBroadcastMax) keyed.join(broadcast(big), Seq("bg"))
      else Skew.saltedJoin(keyed, big, "bg", saltFactor)
    val withUni =
      if (vocabSize <= vocabBroadcastMax) withBig.join(broadcast(uni), Seq("w1"))
      else Skew.saltedJoin(withBig, uni, "w1", saltFactor)
    withUni
      .withColumn("lp_micro",
        floor(log((col("c12") + lit(1L)).cast(DoubleType) /
          (col("c1") + lit(vocabSize)).cast(DoubleType)) * lit(1000000.0))
          .cast(LongType))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_micro")).as("sum_lp_micro"))
  }

  /** Interpolated (Jelinek-Mercer) bigram log-likelihood — the
    * smoothing the CCNet LM family actually uses one step up from
    * add-one: p(w2|w1) = λ·p_ML(w2|w1) + (1−λ)·p_uni(w2), with
    * λ = lambdaNum/lambdaDen. Mixing is INTEGER-EXACT in
    * micro-probability space so the oracle replays it with plain
    * floor division: p1m = c12·10⁶ div c1, p2m = c2·10⁶ div total,
    * pim = (λnum·p1m + (λden−λnum)·p2m) div λden, clamped to ≥ 1
    * (a rare continuation under a huge corpus can floor both terms
    * to 0; the clamp puts a −6·ln10 floor on the per-bigram term
    * instead of a −∞). The only float is ln(pim/10⁶) — one exact
    * small-integer rational, the same portable shape as every LM
    * sibling. Working in micro space also bounds every intermediate:
    * terms stay ≤ λden·10⁶ and the pre-division products c12·10⁶ /
    * c2·10⁶ stay in int64 for any gram under ~9·10¹² occurrences —
    * no overflow cliff at 100 TB, where mixing raw c12·total
    * cross-products would blow past 2⁶³.
    *
    * Same scale discipline as [[bigramLogProb]]: adjacent pairs
    * map-side from the bound token array, Zipf-small histograms
    * broadcast below `vocabBroadcastMax` (salted join above), the
    * per-occurrence stream never shuffled by a token key; the
    * unigram histogram is reused for BOTH the c1 (context) and c2
    * (continuation) lookups and `total` derives from it — one
    * histogram build, three map-side joins. Emits (id, n_bigrams,
    * sum_lp_micro); docs with <2 tokens have no row.
    */
  def bigramLogProbInterp(df: DataFrame, idCol: String, textCol: String,
                          lambdaNum: Long = 3L, lambdaDen: Long = 4L,
                          vocabBroadcastMax: Long = 8000000L,
                          saltFactor: Int = 16): DataFrame = {
    require(lambdaDen > 0 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      s"need 0 <= lambdaNum <= lambdaDen, got $lambdaNum/$lambdaDen")
    val ts = df.select(col(idCol).as("id"), cleanTokens(col(textCol)).as("ts"))
    val bgs = ts.select(col("id"),
        explode(filter(transform(col("ts"), (t, i) =>
          when(i < size(col("ts")) - 1,
            struct(t.as("w1"), element_at(col("ts"), i + 2).as("w2")))),
          p => p.isNotNull)).as("p"))
      .select(col("id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val toks = ts.select(explode(col("ts")).as("w1"))
    val uni = toks.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocabSize = uni.count()
    val total = uni.agg(coalesce(sum(col("c1")), lit(0L)).as("total"))
    val big = bgs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .withColumn("bg", concat_ws(" ", col("w1"), col("w2")))
      .drop("w1", "w2")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBigrams = big.count()
    val keyed = bgs.withColumn("bg", concat_ws(" ", col("w1"), col("w2")))
    val withBig =
      if (nBigrams <= vocabBroadcastMax) keyed.join(broadcast(big), Seq("bg"))
      else Skew.saltedJoin(keyed, big, "bg", saltFactor)
    val withC1 =
      if (vocabSize <= vocabBroadcastMax) withBig.join(broadcast(uni), Seq("w1"))
      else Skew.saltedJoin(withBig, uni, "w1", saltFactor)
    val uniW2 = uni.select(col("w1").as("w2"), col("c1").as("c2"))
    val withC2 =
      if (vocabSize <= vocabBroadcastMax) withC1.join(broadcast(uniW2), Seq("w2"))
      else Skew.saltedJoin(withC1, uniW2, "w2", saltFactor)
    withC2.join(broadcast(total))
      .withColumn("p1m", expr("c12 * 1000000 div c1"))
      .withColumn("p2m", expr("c2 * 1000000 div total"))
      .withColumn("pim", expr(
        s"greatest(($lambdaNum * p1m + ${lambdaDen - lambdaNum} * p2m) div $lambdaDen, 1)"))
      .withColumn("lp_micro",
        floor(log(col("pim").cast(DoubleType) / lit(1000000.0)) * lit(1000000.0))
          .cast(LongType))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_micro")).as("sum_lp_micro"))
  }

  /** Kneser–Ney bigram log-likelihood — the smoothing modern LM
    * pipelines actually deploy (absolute discounting + CONTINUATION
    * unigrams): p_KN(w2|w1) = max(c12−D,0)/c1 + D·N1+(w1·)/c1 ·
    * N1+(·w2)/nTypes, where N1+(w1·)/N1+(·w2) are the distinct
    * follower/predecessor counts and nTypes the distinct-bigram
    * count — "how many contexts has w2 completed" rather than "how
    * often has w2 occurred", the correction that fixes
    * high-frequency-but-context-bound words ("Francisco" scores low
    * despite being frequent, because it follows only "San").
    *
    * INTEGER-EXACT micro formulation with D = discountNum/discountDen
    * pre-scaled to D_micro = discountNum·10⁶ div discountDen (exact
    * for the canonical 3/4), then staged so every intermediate is
    * bounded regardless of corpus size:
    *   term1 = greatest((c12·10⁶ − D_micro) div c1, 0)        ≤ 10⁶
    *   λ_m   = D_micro·N1fw div c1                            < 10⁶
    *     (N1fw ≤ c1 — each distinct follower occurs ≥ once)
    *   pcont = N1bw·10⁶ div nTypes                            ≤ 10⁶
    *   p_KN  = greatest(term1 + λ_m·pcont div 10⁶, 1)
    * The staging matters at 100 TB: the naive D·N1fw·pcont triple
    * product overflows int64 for vocabularies past ~10⁹, while every
    * product above stays ≤ 10¹². The ≥1 clamp is the family's −6·ln10
    * floor; the only float is ln(p/10⁶), one exact small-integer
    * rational. Emits (id, n_bigrams, sum_lp_micro); docs with <2
    * tokens have no row.
    *
    * Same scale discipline as [[bigramLogProbInterp]]: adjacent pairs
    * map-side from the bound token array; the bigram histogram is
    * built ONCE and reused for c12, the follower counts, the
    * predecessor counts AND nTypes; all lookup tables are Zipf-small
    * and broadcast below `vocabBroadcastMax` (salted join above) —
    * the per-occurrence stream is never shuffled by a token key.
    */
  def bigramLogProbKN(df: DataFrame, idCol: String, textCol: String,
                      discountNum: Long = 3L, discountDen: Long = 4L,
                      vocabBroadcastMax: Long = 8000000L,
                      saltFactor: Int = 16): DataFrame = {
    require(discountDen > 0 && discountNum >= 0 && discountNum <= discountDen,
      s"need 0 <= discountNum <= discountDen, got $discountNum/$discountDen")
    val dMicro = discountNum * 1000000L / discountDen
    val ts = df.select(col(idCol).as("id"), cleanTokens(col(textCol)).as("ts"))
    val bgs = ts.select(col("id"),
        explode(filter(transform(col("ts"), (t, i) =>
          when(i < size(col("ts")) - 1,
            struct(t.as("w1"), element_at(col("ts"), i + 2).as("w2")))),
          p => p.isNotNull)).as("p"))
      .select(col("id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val toks = ts.select(explode(col("ts")).as("w1"))
    val uni = toks.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocabSize = uni.count()
    val bigRaw = bgs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nTypes = bigRaw.count()
    val big = bigRaw.withColumn("bg", concat_ws(" ", col("w1"), col("w2")))
      .select(col("bg"), col("c12"))
    val n1fw = bigRaw.groupBy(col("w1")).agg(count(lit(1)).as("n1fw"))
    val n1bw = bigRaw.select(col("w2")).groupBy(col("w2"))
      .agg(count(lit(1)).as("n1bw"))
    val keyed = bgs.withColumn("bg", concat_ws(" ", col("w1"), col("w2")))
    def maybeBroadcast(stream: DataFrame, table: DataFrame, key: String,
                       rows: Long): DataFrame =
      if (rows <= vocabBroadcastMax) stream.join(broadcast(table), Seq(key))
      else Skew.saltedJoin(stream, table, key, saltFactor)
    val joined =
      maybeBroadcast(
        maybeBroadcast(
          maybeBroadcast(
            maybeBroadcast(keyed, big, "bg", nTypes),
            uni, "w1", vocabSize),
          n1fw, "w1", vocabSize),
        n1bw, "w2", vocabSize)
    joined
      .withColumn("term1", expr(s"greatest((c12 * 1000000 - $dMicro) div c1, 0)"))
      .withColumn("lam", expr(s"$dMicro * n1fw div c1"))
      .withColumn("pcont", expr(s"n1bw * 1000000 div ${nTypes}"))
      .withColumn("pkn", expr("greatest(term1 + lam * pcont div 1000000, 1)"))
      .withColumn("lp_micro",
        floor(log(col("pkn").cast(DoubleType) / lit(1000000.0)) * lit(1000000.0))
          .cast(LongType))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_micro")).as("sum_lp_micro"))
  }

  // ---- Gopher repetition rules (Rae et al. 2021 §A1.2) ----

  /** Non-empty whitespace tokens (empty docs give [] not [""]). */
  private[graft] def cleanTokens(text: Column): Column =
    filter(tokens(text), t => t =!= "")

  /** Word n-grams joined by single spaces; empty when the doc has
    * fewer than `n` tokens. `ts` must be a bound column (not a
    * recomputed expression) — callers select the token array first.
    */
  private def wordGrams(ts: Column, n: Int): Column =
    filter(
      transform(ts, (_, i) =>
        when(i <= size(ts) - n, array_join(slice(ts, i + 1, lit(n)), " "))),
      g => g.isNotNull)

  /** Count (desc) of the most frequent element, ties to the
    * lexicographically SMALLEST element — a single sorted fold, no
    * shuffle: sort the array, run-length scan with a (cur, ck, best,
    * bk) accumulator; strict `>` keeps the earliest (= smallest) run
    * on ties, exactly `row_number() over (order by cnt desc, g asc)
    * = 1` in an external engine. Returns struct(top, topk).
    */
  private def topElement(arr: Column): Column =
    aggregate(sort_array(arr),
      struct(lit("").as("cur"), lit(0L).as("ck"),
        lit("").as("best"), lit(0L).as("bk")),
      (a, x) => {
        val newRun = x =!= a.getField("cur")
        val promote = newRun && a.getField("ck") > a.getField("bk")
        struct(
          x.as("cur"),
          when(newRun, lit(1L)).otherwise(a.getField("ck") + 1L).as("ck"),
          when(promote, a.getField("cur")).otherwise(a.getField("best")).as("best"),
          when(promote, a.getField("ck")).otherwise(a.getField("bk")).as("bk"))
      },
      a => struct(
        when(a.getField("ck") > a.getField("bk"), a.getField("cur"))
          .otherwise(a.getField("best")).as("top"),
        greatest(a.getField("ck"), a.getField("bk")).as("topk")))

  private def sumLen(arr: Column): Column =
    aggregate(arr, lit(0L), (a, x) => a + length(x).cast(LongType))

  /** Gopher-style WITHIN-document repetition rules (Rae et al. 2021,
    * arXiv:2112.11446 §A1.2) as one map-only struct of exact integer
    * signals plus the composed pass flag — the repetition half of the
    * quality gate ([[gopherSignals]] is the other half; the single
    * scalar signals [[dupLineFraction]]/[[maxTokenFreqRatio]] remain
    * as the cheap standalone probes). Semantics,
    * chosen integer-exact so an external engine replays them
    * bit-for-bit:
    *
    *  - lines / paragraphs are the trimmed non-empty pieces of a
    *    literal "\n" / "\n\n" split; a duplicate is any occurrence
    *    BEYOND the first of an identical piece (`size -
    *    size(array_distinct)`), duplicate chars the trimmed chars of
    *    those occurrences
    *  - topN_chars (n = 2,3,4): occurrences × chars of the most
    *    frequent word n-gram (ties to the smallest gram), vs the
    *    document's total chars
    *  - dup5_occ: 5-gram occurrences beyond their gram's first
    *    (the n=5 representative of Gopher's dup-n-gram family;
    *    occurrence-fraction, not char-coverage — documented variant)
    *
    * pass = dup lines ≤30% ∧ dup line chars ≤20% ∧ dup paras ≤30% ∧
    * dup para chars ≤20% ∧ top-2-gram ≤20% ∧ top-3-gram ≤18% ∧
    * top-4-gram ≤16% of chars ∧ dup 5-grams ≤15% — every test a
    * cross-multiplied integer comparison, no float boundaries.
    *
    * Scale shape: the native one-pass
    * [[graft.functions.RepetitionSignals]] expression — map-only,
    * no shuffle, hashmap accumulators, O(chars + tokens·gramwidth)
    * per row, inside WholeStageCodegen. [[repetitionSignalsHof]] is
    * the kept HOF reference twin (value-identical, asserted in
    * TextAnalysisSpec) whose captured-expression re-evaluation made
    * it quadratic per document.
    */
  def repetitionSignals(text: Column): Column =
    graft.functions.NativeFunctions.repetitionSignals(text)

  /** HOF reference formulation of [[repetitionSignals]] — the
    * original Column-algebra build (split/trim/filter pieces, wordGrams
    * + topElement folds). Quadratic per document: Catalyst HOFs
    * re-evaluate the captured tokenize chain per array element (the
    * wordGrams binding contract this very file documents), so it costs
    * O(tokens²) per gram order — 62.9 s at sf0.1 vs ~1 s native. Kept
    * private[graft] as the independently-derived semantic oracle the
    * native expression is differential-tested against.
    */
  private[graft] def repetitionSignalsHof(text: Column): Column = {
    def pieces(sep: String) =
      filter(transform(split(text, sep, -1), l => trim(l)), l => l =!= "")
    val lines = pieces("\n")
    val paras = pieces("\n\n")
    val ts = cleanTokens(text)
    val nChars = length(text).cast(LongType)
    def dupCnt(arr: Column) =
      (size(arr) - size(array_distinct(arr))).cast(LongType)
    def dupChars(arr: Column) = sumLen(arr) - sumLen(array_distinct(arr))
    def topChars(n: Int) = {
      val t = topElement(wordGrams(ts, n))
      t.getField("topk") * length(t.getField("top")).cast(LongType)
    }
    val g5 = wordGrams(ts, 5)
    val nLines = size(lines).cast(LongType)
    val nParas = size(paras).cast(LongType)
    val dLineCnt = dupCnt(lines)
    val dLineChars = dupChars(lines)
    val lineChars = sumLen(lines)
    val dParaCnt = dupCnt(paras)
    val dParaChars = dupChars(paras)
    val paraChars = sumLen(paras)
    val top2 = topChars(2)
    val top3 = topChars(3)
    val top4 = topChars(4)
    val n5 = size(g5).cast(LongType)
    val d5 = dupCnt(g5)
    val pass = dLineCnt * 10L <= nLines * 3L &&
      dLineChars * 10L <= lineChars * 2L &&
      dParaCnt * 10L <= nParas * 3L &&
      dParaChars * 10L <= paraChars * 2L &&
      top2 * 10L <= nChars * 2L &&
      top3 * 100L <= nChars * 18L &&
      top4 * 100L <= nChars * 16L &&
      d5 * 100L <= n5 * 15L
    struct(nLines.as("n_lines"), dLineCnt.as("dup_line_cnt"),
      dLineChars.as("dup_line_chars"), lineChars.as("line_chars"),
      nParas.as("n_paras"), dParaCnt.as("dup_para_cnt"),
      dParaChars.as("dup_para_chars"), paraChars.as("para_chars"),
      top2.as("top2_chars"), top3.as("top3_chars"), top4.as("top4_chars"),
      n5.as("n_5grams"), d5.as("dup5_occ"), nChars.as("n_chars"),
      pass.as("pass"))
  }

  // ---- PII redaction ----

  /** ASCII-conservative PII patterns, valid in BOTH Java regex and
    * RE2 (no lookaround, no backrefs; \d and \b agree between the
    * engines on ASCII) so an external engine applies the identical
    * automaton.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** Typed PII redaction for web-scale corpora: mask emails, IPv4
    * addresses, and US-style phone numbers with typed placeholder
    * tokens, returning the redacted text plus per-category match
    * counts (the audit signal — redaction rates per source/domain are
    * a standard corpus health metric). [[TextClean.cleaned]] is the
    * untyped cousin (one `<NUM>` bucket for all digit runs, no
    * counts); this is the variant a compliance pipeline reports on. Stages apply in a fixed order
    * (email → ipv4 → phone), each matching against the PREVIOUS
    * stage's output, so the three automata compose deterministically
    * (a dotted phone can never double-count as an IP fragment: the IP
    * stage saw it first and the placeholders contain no digits).
    *
    * Scale shape: three regexp passes per row, map-only, fully
    * codegen'd — no shuffle, no dictionary state.
    */
  def piiRedact(text: Column): Column = {
    def cnt(c: Column, re: String) =
      size(regexp_extract_all(c, lit(re), lit(0))).cast(LongType)
    val afterEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "<IP>")
    val afterPhone = regexp_replace(afterIp, PhoneRe, "<PHONE>")
    struct(afterPhone.as("redacted"),
      cnt(text, EmailRe).as("n_emails"),
      cnt(afterEmail, Ipv4Re).as("n_ipv4"),
      cnt(afterIp, PhoneRe).as("n_phones"))
  }

  // ---- hashed linear quality scoring ----

  /** Deterministic zero-mean-ish demo weights for
    * [[hashedLinearScore]]: w(b) = ((b+1)·2654435761) mod 1000003 −
    * 500001 (Knuth's multiplicative constant). A stand-in for trained
    * classifier weights with the same replay property: any SQL engine
    * rebuilds the identical vector from the closed form, so the
    * oracle can verify the full inference path without shipping a
    * model artifact.
    */
  def demoQualityWeights(d: Int): Array[Long] =
    Array.tabulate(d)(b => ((b + 1) * 2654435761L) % 1000003L - 500001L)

  /** FineWeb-style hashed linear quality classifier INFERENCE at
    * corpus scale — the fasttext-shaped scorer labs run over every
    * candidate document: tokenize, hash each token into one of
    * `weights.length` feature buckets (portable code-point poly fold,
    * so the trained-model replay is engine-independent), sum the
    * bucket weights plus a bias, keep docs scoring ≥ 0. Training is a
    * model-side concern; this operator is the 100 TB-side half —
    * given ANY weight vector it scores the corpus in one pass.
    * Emits (id, n_tokens, score, keep), integer-exact.
    *
    * Scale shape: map-only — the weight vector rides along as a plan
    * literal (KBs), the token array is bound to a materialized column
    * BEFORE the per-element lambda consumes it (the wordGrams binding
    * discipline: Catalyst HOFs re-evaluate captured non-attribute
    * expressions per element), and each element's work is an O(token)
    * native hash plus an O(1) literal-array lookup. No shuffle, no
    * state, no driver loop.
    */
  /** The scoring fold shared by [[hashedLinearScore]],
    * [[sourceHealthReport]] and the streaming twin: `ts` must be a
    * BOUND column (the wordGrams contract) — every per-element term
    * is then an O(token) native hash + an O(1) literal-array lookup.
    */
  private[graft] def linearScoreExpr(ts: Column, weights: Array[Long],
                                     bias: Long = 0L): Column = {
    require(weights.nonEmpty, "need at least one weight bucket")
    val d = weights.length
    aggregate(
      transform(ts, tok => element_at(
        lit(weights),
        (pmod(graft.functions.NativeFunctions.polyFingerprint(tok),
          lit(d.toLong)) + 1L).cast("int"))),
      lit(bias), (acc, w) => acc + w)
  }

  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String,
                        weights: Array[Long], bias: Long = 0L): DataFrame =
    df.select(col(idCol).as("id"), cleanTokens(col(textCol)).as("ts"))
      .select(col("id"), size(col("ts")).cast(LongType).as("n_tokens"),
        linearScoreExpr(col("ts"), weights, bias).as("score"))
      .withColumn("keep", col("score") >= 0L)

  /** One-pass training for the hashed linear scorer: per hash bucket,
    * the signed occurrence balance Σ(+1 per token occurrence in a
    * `label`-true doc, −1 otherwise) — the integer-exact numerator of
    * a naive-Bayes log-odds weight, the classic fasttext-filter
    * bootstrap (label a seed corpus, train, score everything else).
    * Emits the model ARTIFACT as a (bucket, weight) frame — d rows —
    * ready to write to parquet and reload with [[loadWeights]].
    *
    * Scale shape: one map pass (token explode → O(token) native hash)
    * into a d-cardinality groupBy — map-side partials reduce every
    * task's output to ≤ d rows, so the shuffle moves KBs regardless
    * of corpus size. No driver state; the label is any Boolean
    * column expression.
    */
  def trainBucketWeights(df: DataFrame, textCol: String, label: Column,
                         d: Int): DataFrame = {
    require(d > 0, "need at least one weight bucket")
    df.select(label.as("y"), explode(cleanTokens(col(textCol))).as("tok"))
      .select(pmod(graft.functions.NativeFunctions.polyFingerprint(col("tok")),
          lit(d.toLong)).as("bucket"),
        when(col("y"), 1L).otherwise(-1L).as("s"))
      .groupBy(col("bucket")).agg(sum(col("s")).as("weight"))
  }

  /** Load a trained weight vector from a model-artifact frame
    * ((bucket, weight) rows, e.g. `spark.read.parquet(modelPath)`) —
    * the day-one FineWeb-style inference path: the artifact is
    * KB-sized (d buckets), collected once on the driver and bound
    * into [[hashedLinearScore]] as a plan literal. Missing buckets
    * default to weight 0; a null, out-of-range, or duplicate bucket
    * fails LOUDLY — a malformed artifact must never silently
    * scramble every score downstream.
    */
  def loadWeights(artifact: DataFrame, d: Int, bucketCol: String = "bucket",
                  weightCol: String = "weight"): Array[Long] = {
    require(d > 0, "need at least one weight bucket")
    val rows = artifact
      .select(col(bucketCol).cast(LongType), col(weightCol).cast(LongType))
      .collect()
    val ws = Array.fill(d)(0L)
    val seen = scala.collection.mutable.Set.empty[Long]
    rows.foreach { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1),
        "model artifact has a null bucket or weight")
      val b = r.getLong(0)
      require(b >= 0 && b < d, s"model artifact bucket $b outside [0, $d)")
      require(seen.add(b), s"model artifact has duplicate bucket $b")
      ws(b.toInt) = r.getLong(1)
    }
    ws
  }

  /** Threshold-sweep evaluation for a document quality scorer — the
    * calibration table a user reads before picking the keep cutoff
    * (the step between [[trainBucketWeights]] and deploying
    * [[hashedLinearScore]] at 100 TB): given per-doc (score, label)
    * rows, emit one row per interior threshold
    * t_k = smin + (smax−smin)·k div (nCuts+1), k = 1..nCuts, with
    * predicted-positive / true-positive counts and precision, recall
    * and F1 as exact integer micro-fractions (floor-div — no float
    * boundary for the oracle to diverge on).
    *
    * Contracts: a panel with NO positive labels fails loudly (every
    * recall is undefined — the [[Similarity.recallReport]] contract);
    * a threshold nobody clears is a legitimate sweep point and yields
    * precision_micro NULL via an explicit CASE both engines share.
    * Degenerate constant-score panels collapse to one distinct
    * threshold in both engines (thresholds are deduped before the
    * sweep).
    *
    * Scale shape: one narrow bounds pass (min/max/positive count),
    * then the corpus crossed with the ≤ nCuts broadcast threshold
    * rows into a groupBy(threshold) — map-side partials reduce every
    * task's output to ≤ nCuts rows, so the shuffle moves KBs
    * regardless of corpus size. No per-score histogram state, so an
    * adversarial all-distinct score distribution costs nothing.
    */
  def scoreThresholdSweep(scored: DataFrame, scoreCol: String = "score",
                          labelCol: String = "label",
                          nCuts: Int = 9): DataFrame = {
    require(nCuts > 0, "need at least one threshold cut")
    val s = scored.select(col(scoreCol).cast(LongType).as("s"),
      col(labelCol).cast(BooleanType).as("y"))
    val bounds = s.agg(min(col("s")).as("smin"), max(col("s")).as("smax"),
      sum(when(col("y"), 1L).otherwise(0L)).as("np"))
    val thr = bounds.select(
        expr("""CASE WHEN np IS NULL OR np = 0
                THEN CAST(raise_error('scoreThresholdSweep: no positive labels in the panel') AS BIGINT)
                ELSE np END""").as("n_pos"),
        col("smin"), col("smax"),
        explode(sequence(lit(1), lit(nCuts))).as("k"))
      .select(col("n_pos"),
        (col("smin") + expr(s"(smax - smin) * k div ${nCuts + 1}"))
          .as("threshold"))
      .distinct()
    s.crossJoin(broadcast(thr))
      .groupBy(col("threshold"), col("n_pos"))
      .agg(
        sum(when(col("s") >= col("threshold"), 1L).otherwise(0L)).as("n_pred_pos"),
        sum(when(col("s") >= col("threshold") && col("y"), 1L).otherwise(0L)).as("tp"))
      .select(col("threshold"), col("n_pos"), col("n_pred_pos"), col("tp"),
        expr("""CASE WHEN n_pred_pos = 0 THEN CAST(NULL AS BIGINT)
                ELSE tp * 1000000 div n_pred_pos END""").as("precision_micro"),
        expr("tp * 1000000 div n_pos").as("recall_micro"),
        expr("2 * tp * 1000000 div (n_pred_pos + n_pos)").as("f1_micro"))
  }

  /** Per-source corpus health card — the monitoring table a training
    * pipeline recomputes every ingest: document and token counts,
    * exact-duplicate membership (corpus-wide, so cross-source copies
    * count in BOTH sources), PII incidence, hashed-linear quality
    * keep counts, and language spread, one row per source. Integer-
    * exact throughout.
    *
    * Scale shape: ONE fused map pass computes every per-doc signal in
    * the same projection (md5 content hash, bound token array →
    * n_tokens + linear score, staged PII counts) — no per-signal
    * joins; then one (hash → count) aggregate with a join back keyed
    * by the md5 (the exact-dedup shape), and one final partial-
    * aggregated groupBy(source) whose output is source-cardinality-
    * sized. Two corpus shuffles total, both keyed and linear.
    */
  def sourceHealthReport(df: DataFrame, idCol: String, textCol: String,
                         sourceCol: String, langCol: String,
                         weights: Array[Long]): DataFrame = {
    val perDoc = df.select(col(sourceCol).as("source"), col(langCol).as("lang"),
        md5(col(textCol)).as("h"), cleanTokens(col(textCol)).as("ts"),
        piiRedact(col(textCol)).as("p"))
      .select(col("source"), col("lang"), col("h"),
        size(col("ts")).cast(LongType).as("n_tokens"),
        linearScoreExpr(col("ts"), weights).as("score"),
        (col("p.n_emails") + col("p.n_ipv4") + col("p.n_phones") > 0L)
          .as("has_pii"))
    val dupCounts = perDoc.groupBy(col("h")).agg(count(lit(1)).as("c"))
    perDoc.join(dupCounts, Seq("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("c") > 1L, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(when(col("has_pii"), 1L).otherwise(0L)).as("n_pii_docs"),
        sum(when(col("score") >= 0L, 1L).otherwise(0L)).as("n_keep_quality"),
        countDistinct(col("lang")).as("n_langs"))
  }

  /** Per-source distribution-drift card: Jensen–Shannon divergence of
    * each source's term distribution against the whole corpus — the
    * monitoring signal that catches a crawler change, an encoding
    * bug, or a source going spammy BEFORE it contaminates a training
    * mix (corpus snapshots drift; JS is the symmetric, bounded
    * [0, ln 2] comparison standard practice reaches for).
    *
    * The divergence runs over the corpus's `topK` terms plus one
    * aggregate `<rest>` bucket — the standard bounded-vocabulary
    * drift formulation: it caps the per-source comparison at K+1
    * integer count pairs, which is what makes the card both cheap
    * and replayable. All distributions stay exact integer counts;
    * every float is derived per ROW from exact integers with a fixed
    * op tree — per-term contributions are quantized to floor(·1e6)
    * micro-units and summed as longs, so no cross-row float
    * accumulation exists anywhere (the one thing that can never be
    * made engine-portable). Per-term algebra avoids materializing
    * m = (p+q)/2: p/m = 2·c_s·n_c / (c_s·n_c + c_c·n_s) — an exact
    * integer ratio (bound: n_s·n_c < 2^53; at genuine 100 TB token
    * counts run the card on a sampled panel, which is how drift is
    * monitored in practice anyway).
    *
    * Scale shape: ONE corpus-sized shuffle (the (source, term) count
    * with map-side combine); the corpus histogram re-aggregates the
    * source histogram (vocab-sized, Zipf-small — never a second
    * corpus scan); top-K selection is the bounded-heap
    * [[graft.functions.TopKRows]] aggregate (struct ord = (-count,
    * term): count desc, term asc — deterministic, no global window
    * sort); the zero-fill grid is sources × K rows, built from
    * broadcast-tiny sides only. The per-occurrence token stream is
    * never shuffled by bare term key.
    */
  def sourceTermDrift(df: DataFrame, sourceCol: String, textCol: String,
                      topK: Int = 256): DataFrame = {
    import graft.functions.NativeFunctions.topkRows
    val st = df.select(col(sourceCol).as("source"),
        explode(cleanTokens(lower(col(textCol)))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("c_s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ct = st.groupBy(col("term")).agg(sum(col("c_s")).as("c_c"))
    val top = ct.agg(topkRows(
        struct((-col("c_c")).as("nc"), col("term").as("t")),
        struct(col("term"), col("c_c")), topK).as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.payload.term").as("term"), col("e.payload.c_c").as("c_c"))
    val totals = st.groupBy(col("source")).agg(sum(col("c_s")).as("n_s"))
    val nc = ct.agg(coalesce(sum(col("c_c")), lit(0L)).as("n_c"))
    val sTopC = top.agg(coalesce(sum(col("c_c")), lit(0L)).as("s_top_c"))
    // source counts restricted to top terms: broadcast the K-term
    // list into the vocab-sized histogram — map-side, output <=
    // sources x K rows
    val present = st.join(broadcast(top.select(col("term"))), Seq("term"))
    val grid = totals.crossJoin(broadcast(top))
      .join(present, Seq("source", "term"), "left")
      .withColumn("c_s", coalesce(col("c_s"), lit(0L)))
    val topS = grid.groupBy(col("source")).agg(sum(col("c_s")).as("top_s"))
    val rest = totals.join(topS, Seq("source"))
      .crossJoin(broadcast(nc)).crossJoin(broadcast(sTopC))
      .select(col("source"), col("n_s"), lit("<rest>").as("term"),
        (col("n_c") - col("s_top_c")).as("c_c"),
        (col("n_s") - col("top_s")).as("c_s"))
    val all = grid.select(col("source"), col("n_s"), col("term"), col("c_c"), col("c_s"))
      .unionByName(rest)
      .crossJoin(broadcast(nc))
    all.withColumn("js_t",
        jsMicroTerm(col("c_s"), col("n_s"), col("c_c"), col("n_c")))
      .groupBy(col("source"), col("n_s"))
      .agg(sum(col("js_t")).as("js_micro"))
      .select(col("source"), col("n_s").as("n_tokens"), col("js_micro"))
  }

  /** One term's Jensen–Shannon contribution between distributions
    * P = cA/nA and Q = cB/nB, as floor(·1e6) integer micro-units:
    * 0.5·p·ln(p/m) + 0.5·q·ln(q/m) with m = (p+q)/2 — algebraically
    * p/m = 2·cA·nB / (cA·nB + cB·nA), so every log argument and
    * probability is an exact integer ratio with a fixed op tree
    * (both CASE legs are the zero-count limits). Shared by the
    * source-vs-corpus card and the snapshot-vs-snapshot comparison.
    */
  private[graft] def jsMicroTerm(cA: Column, nA: Column, cB: Column, nB: Column): Column = {
    val d = (cA * nB + cB * nA).cast(DoubleType)
    val conP = when(cA === 0L, lit(0.0)).otherwise(
      (lit(0.5) * (cA.cast(DoubleType) / nA.cast(DoubleType))) *
        log((lit(2L) * cA * nB).cast(DoubleType) / d))
    val conQ = when(cB === 0L, lit(0.0)).otherwise(
      (lit(0.5) * (cB.cast(DoubleType) / nB.cast(DoubleType))) *
        log((lit(2L) * cB * nA).cast(DoubleType) / d))
    floor((conP + conQ) * lit(1000000.0)).cast(LongType)
  }

  /** Reference term statistics for the streaming drift monitor: the
    * corpus's `topK` terms (count desc, term asc — the same bounded-
    * heap selection as the drift cards) with their counts and the
    * corpus total, COLLECTED (KB-sized: topK strings + longs) so a
    * stream can score arriving windows against a fixed reference
    * distribution as plan literals. Returns (terms, counts, total).
    */
  def referenceTermStats(df: DataFrame, textCol: String,
                         topK: Int = 256): (Seq[String], Seq[Long], Long) = {
    import graft.functions.NativeFunctions.topkRows
    val ct = df.select(explode(cleanTokens(lower(col(textCol)))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val top = ct.agg(topkRows(
          struct((-col("c")).as("nc"), col("term").as("t")),
          struct(col("term"), col("c")), topK).as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.payload.term"), col("e.payload.c"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val total = ct.agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0)
      (top.map(_._1).toSeq, top.map(_._2).toSeq, total)
    } finally ct.unpersist(blocking = false)
  }

  /** Snapshot-to-snapshot drift: ONE Jensen–Shannon number between
    * two corpora's term distributions (crawl N vs crawl N+1, before
    * vs after a pipeline change) — the alert a corpus-refresh job
    * checks before swapping a training mix to the new snapshot.
    * Same bounded-vocabulary formulation as [[sourceTermDrift]]:
    * top-K terms of the COMBINED distribution (count desc, term asc,
    * bounded-heap selection) plus one `<rest>` bucket; all counts
    * exact integers, per-term micros summed as longs. Emits one row
    * (n_tokens_a, n_tokens_b, js_micro).
    *
    * Scale shape: one map-side-combined (side, term) count per
    * corpus (their union is read once), vocab-sized everything
    * after, no window, no driver state beyond the aggregates.
    */
  def termDriftBetween(dfA: DataFrame, dfB: DataFrame, textCol: String,
                       topK: Int = 256): DataFrame = {
    import graft.functions.NativeFunctions.topkRows
    def hist(df: DataFrame, cName: String) =
      df.select(explode(cleanTokens(lower(col(textCol)))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as(cName))
    val ha = hist(dfA, "c_a")
    val hb = hist(dfB, "c_b")
    val both = ha.join(hb, Seq("term"), "full")
      .select(col("term"), coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val top = both.agg(topkRows(
        struct((-(col("c_a") + col("c_b"))).as("nc"), col("term").as("t")),
        struct(col("term"), col("c_a"), col("c_b")), topK).as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.payload.term").as("term"), col("e.payload.c_a").as("c_a"),
        col("e.payload.c_b").as("c_b"))
    val totals = both.agg(coalesce(sum(col("c_a")), lit(0L)).as("n_a"),
      coalesce(sum(col("c_b")), lit(0L)).as("n_b"))
    val topSums = top.agg(coalesce(sum(col("c_a")), lit(0L)).as("t_a"),
      coalesce(sum(col("c_b")), lit(0L)).as("t_b"))
    val rest = totals.crossJoin(broadcast(topSums))
      .select(lit("<rest>").as("term"), (col("n_a") - col("t_a")).as("c_a"),
        (col("n_b") - col("t_b")).as("c_b"))
    val all = top.unionByName(rest).crossJoin(broadcast(totals))
    all.withColumn("js_t",
        jsMicroTerm(col("c_a"), col("n_a"), col("c_b"), col("n_b")))
      .groupBy(col("n_a"), col("n_b"))
      .agg(sum(col("js_t")).as("js_micro"))
      .select(col("n_a").as("n_tokens_a"), col("n_b").as("n_tokens_b"),
        col("js_micro"))
  }

  // ---- token-window chunking ----

  /** Overlapping token-window chunking — the standard pre-embedding /
    * context-packing split: windows of `window` tokens advancing by
    * `stride` (overlap = window - stride), last window ragged, every
    * token covered, one chunk minimum per non-empty doc. Emits
    * (id, chunk_id, chunk_text, n_tokens); chunk k starts at token
    * k·stride, so `n_chunks = 1 + ceil((n - window) / stride)` for
    * n > window else 1.
    *
    * Scale shape: per-row transform + explode — map-only, no
    * shuffle; output size is corpus tokens × (window/stride)
    * overlap factor, carried as chunk rows, never as driver state.
    */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
                    window: Int = 64, stride: Int = 48): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      "need 0 < stride <= window")
    df.select(col(idCol).as("id"), cleanTokens(col(textCol)).as("ts"))
      .select(col("id"), col("ts"), size(col("ts")).cast(LongType).as("n"))
      .filter(col("n") > 0L)
      .select(col("id"), col("ts"), col("n"),
        explode(sequence(lit(0L),
          when(col("n") <= window, lit(0L))
            // exact integer ceil((n - window) / stride)
            .otherwise(floor(((col("n") - window) + (stride - 1)) / stride))))
          .as("chunk_id"))
      .select(col("id"), col("chunk_id"),
        array_join(slice(col("ts"), (col("chunk_id") * stride + 1L).cast("int"),
          lit(window)), " ").as("chunk_text"),
        least(lit(window.toLong), col("n") - col("chunk_id") * stride)
          .as("n_tokens"))
  }

  /** PMI collocation card: the `topN` most frequent adjacent bigrams
    * with their pointwise mutual information — the collocation-
    * extraction signal ("new york" vs "the of") a tokenizer/vocab
    * evaluation reads to see whether multi-word units survive
    * tokenization, and a drift card for boilerplate floods (template
    * spam shows as high-count LOW-PMI pairs).
    *
    * PMI = ln(p(ab) / (p(a)·p(b))) decomposed as
    * μ(c_ab) + 2·μ(N_tok) − μ(N_pair) − μ(c_a) − μ(c_b) where
    * μ(x) = floor(ln(x)·10^6): each ln is of an exact INTEGER, so
    * the five micro terms replay bit-for-bit and their integer
    * combination is order-independent — no product ever risks the
    * 2^53 double boundary (c_ab·N_tok² would).
    *
    * Scale shape: adjacent pairs are map-side from the bound token
    * array; the (w1, w2) count is THE corpus shuffle (map-side
    * combined); the top-N cut is a TakeOrdered; unigram counts join
    * the FIXED topN rows (broadcast of N rows into a vocab-sized
    * aggregate output — never corpus-sized).
    */
  def pmiCollocations(docs: DataFrame, textCol: String,
                      topN: Int = 20): DataFrame = {
    require(topN > 0, "topN must be positive")
    val ts = docs.select(cleanTokens(col(textCol)).as("ts"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val bgs = ts.select(
          explode(filter(transform(col("ts"), (t, i) =>
            when(i < size(col("ts")) - 1,
              struct(t.as("w1"), element_at(col("ts"), i + 2).as("w2")))),
            p => p.isNotNull)).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val uni = ts.select(explode(col("ts")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val pairCounts = bgs.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n_pair"))
      val top = pairCounts
        .orderBy(col("n_pair").desc, col("w1"), col("w2")).limit(topN)
      val totals = uni.agg(sum(col("c")).as("n_tok"))
        .crossJoin(pairCounts.agg(sum(col("n_pair")).as("n_pairs_total")))
      def lnMicro(c: Column): Column =
        floor(log(c.cast(DoubleType)) * lit(1000000.0)).cast(LongType)
      top
        .join(uni.select(col("w").as("w1"), col("c").as("n_a")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c").as("n_b")), Seq("w2"))
        .crossJoin(broadcast(totals))
        .select(col("w1"), col("w2"), col("n_pair"), col("n_a"), col("n_b"),
          (lnMicro(col("n_pair")) + lit(2L) * lnMicro(col("n_tok")) -
            lnMicro(col("n_pairs_total")) - lnMicro(col("n_a")) -
            lnMicro(col("n_b"))).as("pmi_micro"))
        .orderBy(col("n_pair").desc, col("w1"), col("w2"))
    } finally ts.unpersist(blocking = false)
  }

  /** Per-source vocabulary-coverage card: what fraction of each
    * source's token OCCURRENCES fall outside a reference vocabulary —
    * the OOV-rate a tokenizer/vocab evaluation reads (high OOV =
    * vocab retraining candidate; near-zero OOV on a supposedly rich
    * source = template spam). `vocab` is one `token` column — a real
    * tokenizer's vocab, or a corpus-derived head (the card query
    * feeds the global top-V, making this the per-source tail-mass
    * signal).
    *
    * Integer-exact: occurrence counts are longs, the rate is one
    * truncating div per source. Scale shape: vocab broadcasts (vocab
    * ≪ corpus by definition), the probe is a map-side hash lookup on
    * the exploded tokens, and the per-source rollup is ONE map-side-
    * combined aggregate — the corpus never shuffles by token.
    */
  def vocabCoverage(docs: DataFrame, sourceCol: String, textCol: String,
                    vocab: DataFrame): DataFrame = {
    require(vocab.columns.contains("token"),
      "vocab needs a `token` column")
    val toks = docs.select(col(sourceCol).as("source"),
      explode(cleanTokens(col(textCol))).as("token"))
    toks.join(broadcast(vocab.select(col("token")).distinct()
        .withColumn("__in", lit(1L))), Seq("token"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__in").isNull, 1)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        expr("n_oov * 1000000 div n_tokens").as("oov_micro"))
      .orderBy(col("source"))
  }

  /** Zipf-slope corpus-health card: least-squares slope of
    * ln(frequency) against ln(rank) over the `topV` most frequent
    * terms — natural-language corpora sit near −1; template spam,
    * boilerplate floods, or tokenizer damage bend the curve, so the
    * slope is the one-number "does this corpus still look like
    * language" drift signal.
    *
    * Portability: ranks (freq desc, token asc) are total; x =
    * floor(ln(rank)·10^3) and y = floor(ln(freq)·10^3) are integer
    * millis (the bigram-LM ln discipline), all moment sums are exact
    * longs, and the slope is ONE truncating integer division
    * (num·10^3 div den → slope_milli ≈ −1000 for Zipfian text;
    * truncation matches DuckDB's integer `//`, which is not floor) —
    * the milli scale keeps num·10^3 under 2^53 so the division
    * operands stay exactly representable everywhere.
    *
    * Scale shape: one tokenize + one (token) count aggregate (THE
    * corpus shuffle), a TakeOrdered(topV) cut, then all arithmetic on
    * topV rows. topV is a bounded constant — the single-partition
    * rank window is over topV rows, never the vocabulary.
    */
  def zipfSlopeCard(docs: DataFrame, textCol: String,
                    topV: Int = 64): DataFrame = {
    require(topV >= 2, "need at least 2 ranked terms for a slope")
    val freq = docs
      .select(explode(cleanTokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token")).limit(topV)
    val w = Frames.tinyWindow(col("token"), col("freq").desc, col("token")) // topV-sized frame
    val xy = freq.withColumn("rank", row_number().over(w).cast(LongType))
      .select(
        floor(log(col("rank").cast(DoubleType)) * lit(1000.0))
          .cast(LongType).as("x"),
        floor(log(col("freq").cast(DoubleType)) * lit(1000.0))
          .cast(LongType).as("y"))
    xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n").as("n_terms"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) * lit(1000L))
          .as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"))
      // `div` truncates toward zero on longs, matching DuckDB's
      // integer `//` (which is NOT floor division: -7 // 2 = -3) —
      // the sign-safe choice for a negative slope
      .select(col("n_terms"), expr("num div den").as("slope_milli"))
  }
}
