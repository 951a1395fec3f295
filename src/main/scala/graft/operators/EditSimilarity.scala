package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Edit-distance similarity self-join WITHOUT the all-pairs blowup —
  * the q-gram prefix-filter family (Gravano et al., VLDB 2001 "Using
  * q-grams in a DBMS"; Xiao et al.'s Ed-Join line). The entity-
  * resolution / fuzzy-key-matching primitive a curation pipeline
  * needs when near-dup text hashing is too coarse: "which records
  * have ALMOST the same name/title/url" with an exact Levenshtein
  * guarantee.
  *
  * Why not the obvious join: `a JOIN b ON levenshtein(a,b) <= d` is
  * a cartesian product — 10^9 rows is 10^18 distance computations.
  * The prefix filter makes it an equi-join on each string's q·d+1
  * globally RAREST q-grams:
  *
  *   - an edit operation destroys at most q of a string's distinct
  *     q-grams, so ed(x,y) <= d implies |G(x) ∩ G(y)| >= |G(x)| − q·d;
  *   - therefore (the prefix-filter lemma) the (q·d+1)-smallest
  *     grams of x and of y under ANY common total order must
  *     intersect — we order by (global frequency ASC, gram ASC), so
  *     the join keys are the rarest grams each string owns and the
  *     candidate set is Σ_g C(cnt_g, 2) over those rare grams, never
  *     all-pairs. A corpus where even the rarest grams are shared by
  *     everyone is a corpus where everyone genuinely IS similar — a
  *     quadratic OUTPUT, not a quadratic plan.
  *
  * Strings with <= q·d distinct q-grams get no guarantee from the
  * lemma (the whole gram set can be destroyed), so they fall back to
  * an exact length-band equi-join (|len(x)−len(y)| <= d is necessary
  * for ed <= d): each such string is exploded to its 2d+1 admissible
  * lengths and equi-joined on length — bounded by how many degenerate
  * strings exist, never by the corpus.
  *
  * Candidate cost is Σ_g C(cnt_g, 2) over prefix grams, so it scales
  * with how many strings SHARE rare grams. Corpus growth that brings
  * new vocabulary (new entity populations) grows candidates linearly
  * (measured at 20x with gram-disjoint replicas); growth that
  * densifies the SAME gram vocabulary (ever
  * more lookalikes) grows candidates quadratically at ANY q — and on
  * low-entropy keys (zero-padded ids) longer grams do NOT help:
  * their padding-run grams stay corpus-common at every q (measured:
  * q=5 on zero-padded names is 5x slower than q=3 because a 6-entry
  * prefix is forced to include mega-common grams). The deployable
  * remedies for shared-structure keys are normalization (strip
  * constant prefixes/padding) or a higher-entropy blocking key.
  * Completeness holds at EVERY q (the lemma is q-independent), so
  * all such tuning trades only cost.
  *
  * Plan shape (the 100 TB audit): one distinct-gram explode (map-only,
  * <= len rows per string), one map-side-combinable gram-frequency
  * agg, one id-keyed window for prefix selection, one equi-join on
  * rare grams with the length band applied IN the join, map-only
  * Levenshtein verification on candidates only. No driver state, no
  * cartesian product.
  *
  * Verification is exact (`levenshtein`), so the filter tier only
  * needs completeness — proved against brute force in
  * EditSimilaritySpec across substitutions, indels, repeats,
  * degenerate shorts and unicode.
  *
  * THE LOW-ENTROPY-KEY REMEDY (strategy = "deletion", the default for
  * maxDist <= 2): on shared-structure keys (zero-padded ids, constant
  * prefixes) the gram space SATURATES — every "rare" gram is still
  * corpus-common, so candidates densify quadratically at any q (the
  * analysis above). The deletion-neighborhood scheme (Bocek et al.
  * 2007 "Fast Similarity Search in Large Dictionaries"; popularized
  * as SymSpell) swaps the blocking key from a q-char window to the
  * WHOLE STRING MINUS UP TO d CHARACTERS:
  *
  *   - D_d(x) = { x with any <= d characters deleted } (including x
  *     itself). If ed(x,y) <= d, fix an optimal alignment: delete
  *     from x its substituted+deleted characters (<= d of them) and
  *     from y its substituted+inserted characters (<= d) — the
  *     remainders are the SAME string, so D_d(x) ∩ D_d(y) ≠ ∅.
  *     Completeness holds for every d, any alphabet, any length —
  *     including the short strings the gram lemma abandons, so this
  *     tier has NO degenerate fallback.
  *   - The key carries all of the string's entropy except d chars:
  *     two strings collide only if they really are within a few
  *     edits (or a 64-bit hash collision, which the exact verify
  *     absorbs). Saturated gram vocabularies are irrelevant.
  *   - Cost: |x|·d variant keys per string (len+1 at d=1), each a
  *     64-bit xxhash — the postings table is (len·d)× the corpus,
  *     the join is a hash equi-join whose per-key cardinality is the
  *     number of GENUINE lookalikes, never the gram-share count.
  *     The trade is key count growing as C(len, d): right for keys/
  *     names/titles at d <= 2, wrong for long texts or large d —
  *     which is what the q-gram tier remains for.
  *
  * Returns (a_id, b_id, dist) with a_id < b_id, dist <= maxDist,
  * one row per qualifying pair (self-pairs excluded). Reference has
  * no counterpart (extension track); cf. josh/wikidatabots's exact
  * joins in wd_tmdb.py:52 for the exact-key shape this relaxes.
  */
object EditSimilarity {

  /** Strategy resolution shared with [[EditIndex]]: deletion
    * neighborhoods win while the variant count C(len, d) stays
    * name-key-sized; grams take over for larger radii.
    */
  def resolveStrategy(strategy: String, maxDist: Int): String =
    strategy match {
      case "auto" => if (maxDist <= 2) "deletion" else "qgram"
      case s @ ("qgram" | "deletion") =>
        require(s != "deletion" || maxDist <= 2,
          s"editSimilarity: strategy 'deletion' supports maxDist <= 2 " +
            s"(variant count grows as C(len, d)); got $maxDist — use 'qgram'")
        s
      case other => throw new IllegalArgumentException(
        s"editSimilarity: unknown strategy '$other' (auto|qgram|deletion)")
    }

  /** All variants of `s` with up to `maxDist` characters deleted
    * (including `s` itself), distinct — the deletion-neighborhood
    * blocking keys. Pure column expression, map-side codegen.
    *
    * FASTSS PREFIX PRUNING (`prefixLen` > 0): variants are generated
    * from the first `prefixLen` characters ONLY (the string is
    * truncated BEFORE deletion — SymSpell's prefix indexing), cutting
    * the postings per string from C(len, <= d)+1 to
    * C(prefixLen, <= d)+1 — at d=2 on len-18 keys with prefixLen=12,
    * 172 -> 79 keys, and the saving compounds with length.
    *
    * COMPLETENESS (the two-sided truncation lemma): if ed(x, y) <= d
    * then D_d(x↾ℓ) ∩ D_d(y↾ℓ) ≠ ∅ for EVERY ℓ >= 1 (↾ℓ = first ℓ
    * chars). Proof: the untruncated lemma gives a common string c
    * reached by deleting position sets Sx from x (|Sx| <= d) and Sy
    * from y (|Sy| <= d). Deleting Sx ∩ [1..ℓ] from x↾ℓ yields the
    * first ℓ−|Sx ∩ [1..ℓ]| characters of c; likewise for y — both
    * are PREFIXES of c, so one is a prefix of the other, differing by
    * k = ||Sx ∩ [1..ℓ]| − |Sy ∩ [1..ℓ]|| trailing characters. The
    * longer side deletes its last k kept characters too, for a total
    * of max(|Sx ∩ [1..ℓ]|, |Sy ∩ [1..ℓ]|) <= d deletions per side —
    * so the SHORTER prefix of c is a common member of both truncated
    * neighborhoods. Verification stays the exact levenshtein on the
    * FULL strings (it always was — key equality never implied a
    * distance bound), so pruning trades candidate discrimination,
    * never correctness.
    *
    * THE TRADE: the key now carries only the prefix's entropy.
    * Corpora whose strings share a constant PREFIX (zero-padded ids,
    * "Customer#…") collapse onto few keys and verify quadratically —
    * for those, normalize first (strip the constant prefix) or key on
    * `reverse(s)` (levenshtein is reversal-invariant, so pairs and
    * distances are unchanged). prefixLen <= 0 keeps the whole string (no
    * pruning — the default).
    */
  def deletionVariants(s: Column, maxDist: Int,
                       prefixLen: Int = 0): Column = {
    require(maxDist >= 1 && maxDist <= 2,
      s"deletionVariants: maxDist $maxDist outside 1..2")
    require(prefixLen <= 0 || prefixLen > maxDist,
      s"deletionVariants: prefixLen $prefixLen must exceed maxDist " +
        s"$maxDist (a prefix the budget can fully delete keys everything " +
        "to the empty string)")
    val p = if (prefixLen > 0) s.substr(lit(1), lit(prefixLen)) else s
    val del1 = when(length(p) >= 1,
      transform(sequence(lit(1), length(p)),
        i => concat(p.substr(lit(1), i - 1), p.substr(i + 1, length(p)))))
      .otherwise(array().cast("array<string>"))
    val base = concat(array(p), del1)
    if (maxDist == 1) array_distinct(base)
    else {
      // delete positions i < j: p[1..i-1] ++ p[i+1..j-1] ++ p[j+1..]
      val del2 = when(length(p) >= 2,
        flatten(transform(sequence(lit(1), length(p) - 1),
          i => transform(sequence(i + 1, length(p)),
            j => concat(p.substr(lit(1), i - 1),
              p.substr(i + 1, j - i - 1),
              p.substr(j + 1, length(p)))))))
        .otherwise(array().cast("array<string>"))
      array_distinct(concat(base, del2))
    }
  }

  /** `verifyPrefilter`: gate each candidate through the packed
    * character-count L1 bound (L1(sig_a, sig_b) <= 2·d is necessary
    * for ed <= d — [[graft.functions.CharCountSig]]) before the
    * banded Levenshtein. Sound at any setting (the bound only
    * rejects provable non-matches, spec-asserted), but OFF by
    * default: a round-15 scale run measured the d=2 full-corpus verify
    * tier at 63 s without vs 106 s with the filter — on match-dense
    * candidate sets (the self-join norm: candidates come from
    * variant-key equality, so most ARE matches) the filter rejects
    * almost nothing and its signature carry + 16-term compare is
    * pure overhead, while the banded threshold Levenshtein is
    * already O(len·d). Turn it on only for collision-heavy keys
    * where most candidates are non-matches.
    */
  def editSimilarityJoin(df: DataFrame, idCol: String, strCol: String,
                         maxDist: Int, q: Int = 3,
                         strategy: String = "auto",
                         prefixLen: Int = 0,
                         verifyPrefilter: Boolean = false): DataFrame = {
    require(maxDist >= 0, s"editSimilarityJoin: maxDist $maxDist < 0")
    require(q >= 1, s"editSimilarityJoin: q $q < 1")
    if (maxDist == 0) {
      // ed = 0 is an exact self-join on the string itself
      val strs = df.select(col(idCol).as("id"), col(strCol).as("s"))
        .filter(col("s").isNotNull)
      return strs.select(col("id").as("a_id"), col("s"))
        .join(strs.select(col("id").as("b_id"), col("s")), Seq("s"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), lit(0L).as("dist"))
        .distinct()
    }
    resolveStrategy(strategy, maxDist) match {
      case "deletion" =>
        deletionJoin(df, idCol, strCol, maxDist, prefixLen, verifyPrefilter)
      case _ => qgramJoin(df, idCol, strCol, maxDist, q, verifyPrefilter)
    }
  }

  /** Deletion-neighborhood self-join: explode each string to its
    * variant-key hashes, hash equi-join, exact verify, distinct.
    * One map-only explode per side, one equi-join shuffle keyed on
    * 64-bit hashes (collisions only ADD candidates — the levenshtein
    * verify absorbs them), the final distinct on match-set-sized
    * rows. No windows, no frequency table, no degenerate tier.
    */
  private def deletionJoin(df: DataFrame, idCol: String, strCol: String,
                           maxDist: Int, prefixLen: Int,
                           verifyPrefilter: Boolean): DataFrame = {
    // when the prefilter is on, the signature is computed ONCE per
    // input row (before the variant explode replicates it) — 8 bytes
    // carried per side; when off, nothing is computed or carried
    val sigCol =
      if (verifyPrefilter) graft.functions.NativeFunctions.charCountSig(col("s"))
      else lit(0L)
    val keys = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(col("s").isNotNull)
      .select(col("id"), col("s"), sigCol.as("sig"),
        explode(deletionVariants(col("s"), maxDist, prefixLen)).as("v"))
      .select(col("id"), col("s"), col("sig"), xxhash64(col("v")).as("vk"))
    val cand = keys
      .select(col("id").as("a_id"), col("s").as("a_s"),
        col("sig").as("a_sig"), col("vk"))
      .join(keys.select(col("id").as("b_id"), col("s").as("b_s"),
        col("sig").as("b_sig"), col("vk")), Seq("vk"))
      .filter(col("a_id") < col("b_id") &&
        abs(length(col("a_s")) - length(col("b_s"))) <= maxDist)
    val gated =
      if (verifyPrefilter)
        cand.filter(graft.functions.NativeFunctions.charSigL1(
          col("a_sig"), col("b_sig")) <= 2L * maxDist)
      else cand
    // threshold Levenshtein: the banded O(len·d) early-exit DP
    // (returns −1 past the threshold) — distances on kept rows are
    // identical to the full DP's
    gated
      .withColumn("dist",
        levenshtein(col("a_s"), col("b_s"), maxDist).cast("long"))
      .filter(col("dist") >= 0L)
      .select(col("a_id"), col("b_id"), col("dist"))
      .distinct()
  }

  /** NOTE the execution contract: this path ends in an EAGER
    * localCheckpoint — the full query runs at CALL time and the
    * returned frame is the materialized (match-set-sized) result
    * held in executor storage, not a lazy plan. That is what lets
    * the internal gram-prefix cache release deterministically; the
    * trade is that on a cluster with dynamic allocation the blocks
    * are non-reliable (an executor decommission loses them and they
    * cannot recompute — re-call the join). Callers needing a lazy
    * frame or reliable storage should persist the result themselves.
    */
  private def qgramJoin(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int, q: Int,
                        verifyPrefilter: Boolean): DataFrame = {
    val prefixLen = q * maxDist + 1
    val strs = df
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(col("s").isNotNull)
      .withColumn("sig",
        if (verifyPrefilter)
          graft.functions.NativeFunctions.charCountSig(col("s"))
        else lit(0L))
    // distinct q-grams per string; strings shorter than q contribute
    // themselves as their single gram (they are always in the
    // degenerate tier below, but the gram keeps frequency totals and
    // the oracle replay aligned)
    val withGrams = strs
      .withColumn("grams", array_distinct(
        when(length(col("s")) < q, array(col("s")))
          .otherwise(transform(sequence(lit(0), length(col("s")) - q),
            i => col("s").substr(i + lit(1), lit(q))))))
      .withColumn("n_grams", size(col("grams")))
    val gl = withGrams.select(col("id"), col("s"), col("sig"), col("n_grams"),
      explode(col("grams")).as("gram"))
    // global gram document-frequency: the total order the prefix
    // filter sorts by. Computed over ALL strings (the oracle replays
    // the same choice); map-side combine keeps the shuffle at
    // distinct-gram cardinality.
    val freq = gl.groupBy("gram").agg(count(lit(1)).as("f"))
    val byRarity = Window.partitionBy(col("id"))
      .orderBy(col("f"), col("gram")) // total: grams distinct per id
    // materialization barrier: the self-join references this subtree
    // TWICE — without the persist Catalyst re-plans (and re-EXECUTES)
    // the gram explode + freq aggregate + rarity window per side (the
    // q_curation_v3 lesson). State is prefixLen rows per string; the
    // caller's clearCache cadence reclaims it (the LSH-family
    // internal-persist contract).
    val pref = gl.filter(col("n_grams") >= prefixLen)
      .join(freq, Seq("gram"))
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= prefixLen)
      .select(col("id"), col("s"), col("sig"), col("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // no intermediate distinct: a pair sharing several prefix grams is
    // verified that many times (levenshtein on bounded-length strings
    // is cheaper than exchanging candidate rows to dedup them first);
    // the output distinct below collapses multiplicity on the final
    // match set, which is orders of magnitude smaller
    val cand = pref.select(col("id").as("a_id"), col("s").as("a_s"),
        col("sig").as("a_sig"), col("gram"))
      .join(pref.select(col("id").as("b_id"), col("s").as("b_s"),
        col("sig").as("b_sig"), col("gram")), Seq("gram"))
      .filter(col("a_id") < col("b_id") &&
        abs(length(col("a_s")) - length(col("b_s"))) <= maxDist)
      .select(col("a_id"), col("a_s"), col("a_sig"),
        col("b_id"), col("b_s"), col("b_sig"))
    // degenerate tier: <= q·d distinct grams -> exact length-band
    // equi-join against everything (2d+1 keys per degenerate string)
    val shortSide = withGrams.filter(col("n_grams") < prefixLen)
      .select(col("id").as("x_id"), col("s").as("x_s"),
        col("sig").as("x_sig"),
        explode(sequence(length(col("s")) - maxDist,
          length(col("s")) + maxDist)).as("lb"))
    val shortCand = shortSide
      .join(strs.select(col("id").as("y_id"), col("s").as("y_s"),
        col("sig").as("y_sig"), length(col("s")).as("lb")), Seq("lb"))
      .filter(col("x_id") =!= col("y_id"))
      .select(
        least(col("x_id"), col("y_id")).as("a_id"),
        when(col("x_id") < col("y_id"), col("x_s"))
          .otherwise(col("y_s")).as("a_s"),
        when(col("x_id") < col("y_id"), col("x_sig"))
          .otherwise(col("y_sig")).as("a_sig"),
        greatest(col("x_id"), col("y_id")).as("b_id"),
        when(col("x_id") < col("y_id"), col("y_s"))
          .otherwise(col("x_s")).as("b_s"),
        when(col("x_id") < col("y_id"), col("y_sig"))
          .otherwise(col("x_sig")).as("b_sig"))
    // one distinct at the very end: tiers are disjoint by
    // construction (cand: both sides have >= prefixLen grams;
    // shortCand: at least one side has fewer), so this only collapses
    // within-tier multiplicity (shared prefix grams / double-found
    // short-short pairs) — and it runs on the MATCH set, after the
    // distance filter has discarded the candidate bulk
    val allCand = cand.unionByName(shortCand)
    val gated =
      if (verifyPrefilter)
        allCand.filter(graft.functions.NativeFunctions.charSigL1(
          col("a_sig"), col("b_sig")) <= 2L * maxDist)
      else allCand
    // threshold Levenshtein: banded O(len·d) early-exit DP, −1 past
    // the threshold — kept-row distances identical to the full DP's
    val result = gated
      .withColumn("dist",
        levenshtein(col("a_s"), col("b_s"), maxDist).cast("long"))
      .filter(col("dist") >= 0L)
      .select(col("a_id"), col("b_id"), col("dist"))
      .distinct()
      // eager checkpoint materializes the (match-set-sized) result
      // NOW, so the internal gram-prefix cache can be released
      // deterministically instead of leaning on a caller clearCache
      // cadence; lineage is severed, so the unpersist below can never
      // trigger a recompute of the uncached subtree
      .localCheckpoint()
    pref.unpersist(blocking = false)
    result
  }
}
