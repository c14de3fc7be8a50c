package graft.llm

import graft.{Q, Tables}
import graft.Q.QFn
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Deduplication family (SURVEY.md §2d): exact (hash), near-dup by
 * token-set Jaccard, n-gram (token-bigram) Jaccard, MinHash+LSH, and
 * SimHash — the standard training-corpus dedup toolchain.
 *
 * Exact-small vs approximate-at-scale pairing: `dedup_near` /
 * `ngram_jaccard` are the O(candidate-pairs) exact formulations used as
 * the oracle stand-ins at test sf; `minhash_lsh` (banded signatures →
 * bucket self-join → verify) and `simhash` (64-bit sketch, hamming
 * neighborhoods) are the 100 TB paths: candidate generation is
 * linear-ish in #docs × #bands, never all-pairs. Thresholds (0.95
 * token-set, 0.3 bigram) are calibrated on the synthetic corpus — its
 * tiny shared vocabulary skews raw token-set Jaccard high
 * (FIXTURES.md), while bigrams discriminate sharply.
 */
object Dedup {

  /** (doc_id, tok) with per-doc distinct tokens. */
  private[llm] def distinctTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))

  /** (doc_id, tok) distinct token *bigrams*. */
  private def distinctBigrams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), explode(array_distinct(
        expr("transform(slice(toks, 1, size(toks) - 1), (x, i) -> concat(x, '_', toks[i + 1]))")))
        .as("tok"))

  /**
   * Exact Jaccard pairs over a (doc_id, tok) relation with df-ordered
   * PREFIX-FILTER blocking (AllPairs/PPJoin; round-2 per VERDICT.md):
   * order every doc's tokens by global document frequency (rarest
   * first); if j(r,s) ≥ t, the first common token in that order sits
   * within the first |r|−⌈t·|r|⌉+1 tokens of r AND the first
   * |s|−⌈t·|s|⌉+1 of s — so blocking only on those prefixes is EXACT
   * while joining on a doc's *rarest* tokens instead of all of them.
   * On a Zipf vocabulary this removes the stop-token blowup entirely;
   * even on this corpus's adversarial 31-token vocab it cuts the
   * candidate join input ~10× at t=0.95 (prefix ≈ 2 of ~20 tokens).
   *
   * Verification then needs the full token sets (the prefix join can't
   * count intersections): candidates pull each side's sorted
   * xxhash64-token array and the codegen'd merge-scan kernel
   * ([[graft.plans.JaccardSortedLong]]) computes exact Jaccard — set
   * cardinalities are hash-invariant, so values match the string-set
   * form bit-for-bit (same property minhash_lsh's verify relies on).
   */
  private[llm] def jaccardPairsRaw(toks0: DataFrame, thresh: Double): DataFrame =
    jaccardPairsParts(toks0, thresh)._1

  /** [[jaccardPairsRaw]] plus handles to its internal caches, so
    * consumers that MATERIALIZE the pair frame (the connected-components
    * fixpoint) can release the O(corpus-tokens) token-side caches before
    * their own loop starts instead of dragging them through every round
    * (VERDICT r9 #1 — bounded cache footprint for the CC consumers). */
  private[llm] def jaccardPairsParts(toks0: DataFrame, thresh: Double)
      : (DataFrame, Seq[Q.Owned]) = {
    // The (doc_id, tok) explode feeds THREE consumers (df counts, the
    // prefix stack, tokArrays) and the prefix frame feeds its own
    // self-join twice — persist both or every reference re-reads and
    // re-windows the corpus (measured r8: the un-persisted plan spent
    // ~6× the stage work on recomputation; 19.6 → 5.8 s at sf0.1).
    // MEMORY_AND_DISK default: at 100 TB these are the (doc, tok) and
    // prefix-token frames — O(corpus tokens), spill-safe, same
    // discipline as text_ngram_lm's persisted explode.
    val toksOwned = Q.ownPersist(toks0)
    val toks = toksOwned.df
    val df = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))
    val prefixOwned = Q.ownPersist(toks
      .join(Q.maybeBroadcast(df), "tok") // token dimension: tiny here; conf-gated for corpus-scale dictionaries
      .withColumn("rk", row_number().over(wDoc))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("rk") <= col("n") - ceil(col("n") * lit(thresh)) + 1)
      .select(col("doc_id"), col("tok")))
    val prefix = prefixOwned.df
    // Candidates are NOT deduped here: a pair surfaces once per shared
    // prefix token (≤ prefix length, ~2 on this corpus), so running the
    // cheap merge-scan verify on the slightly-inflated stream and
    // deduping AFTER the ≥ thresh filter shrinks the distinct's shuffle
    // from the full candidate volume (13.4 M rows at sf0.1) to the
    // surviving pairs (~0.4 M) — the verify is map-side either way.
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val tokArraysOwned = Q.ownPersist(toks
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(xxhash64(col("tok")))).as("toks")))
    val tokArrays = tokArraysOwned.df
    // Per-doc side tables: broadcast only below the conf-gated row
    // threshold (graft.Q.maybeBroadcast); above it the planner shuffles
    // on doc id — hard-coding the hint would OOM at 10⁸ docs.
    val out = cands
      .join(Q.maybeBroadcast(tokArrays.select(col("doc_id").as("doc_a"), col("toks").as("ta"))), "doc_a")
      .join(Q.maybeBroadcast(tokArrays.select(col("doc_id").as("doc_b"), col("toks").as("tb"))), "doc_b")
      .withColumn("jaccard", graft.plans.VectorExprs.jaccardSorted(col("ta"), col("tb")))
      .filter(col("jaccard") >= thresh)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .distinct()
    (out, Seq(toksOwned, prefixOwned, tokArraysOwned))
  }

  /** [[jaccardPairsRaw]] + the oracle's total order — registry surface.
    * Internal consumers (components, curate) take the raw frame: their
    * first op is a shuffle, so a global sort here would be pure waste. */
  private[llm] def jaccardPairs(toks: DataFrame, thresh: Double): DataFrame =
    jaccardPairsRaw(toks, thresh).orderBy(col("doc_a"), col("doc_b"))

  /** Public exact arm for the optimizer's TokenSelfJoin rewrite
    * (plans/SimilarityRewrite.scala): prefix-filtered exact Jaccard over
    * (doc_id, text) rows. */
  def exactJaccardPairs(docs: DataFrame, thresh: Double): DataFrame =
    jaccardPairs(distinctTokens(docs), thresh)

  // ---- MinHash + LSH (the at-scale near-dedup path; non-oracle) ----

  // Band geometry tuned to the 0.95 threshold ON THIS CORPUS: its tiny
  // vocabulary puts most random pairs at Jaccard 0.5–0.8, so few rows per
  // band (classic 16×4) admits nearly every pair as a candidate. 5 bands
  // of 12 rows: P(candidate | j=0.95) = 1-(1-0.95^12)^5 ≈ 0.98 (recall
  // holds) while P(j=0.8) ≈ 0.30 and P(j=0.7) ≈ 0.07 (the bulk prunes).
  //
  // Default JUSTIFIED BY SWEEP (r5, raw output in band_sweep.txt; recall = fraction
  // of exact j≥0.95 pairs surfaced as candidates):
  //
  //   corpus        b   rows  candidates  recall   full lsh sec
  //   sf0.1         4    15    1 251 561  0.9758       1.4
  //   sf0.1         5    12    2 120 152  1.0000       1.8   ← default
  //   sf0.1         6    10    2 767 057  1.0000       2.0
  //   sf0.1        10     6    6 317 571  1.0000       4.6
  //   stress s10    4    15       11 984  0.9987       3.6
  //   stress s10    5    12       11 998  0.9998       3.1   ← default
  //   stress s10    6    10       12 002  1.0000       3.1
  //   stress s10   10     6       75 492  1.0000       3.1
  //
  // b=4 is the only cheaper point and it LOSES true pairs (2.4% at
  // sf0.1); b≥6 buys no recall on either corpus while growing the
  // candidate stage 1.3–6×. b=5 is the knee on both, so it stays the
  // default; sharper thresholds (j→1) want fewer/wider bands and
  // noisier near-dup regimes more bands — that's what the conf is for.
  val MinHashK = 60   // signature length
  val LshBands = 5    // default: 5 bands × 12 rows

  /** Conf key overriding the band count (must divide [[MinHashK]]):
    * banding geometry is a CORPUS property (sharper thresholds want more
    * rows/band, noisier near-dups want more bands), so at scale it's a
    * tuning knob, not a code edit — same pattern as the simjoin/broadcast
    * thresholds. Output is unaffected as long as recall holds (candidates
    * are exact-verified); only candidate volume moves. */
  val LshBandsKey = "spark.graft.minhash.bands"

  private[graft] def lshBands(docs: DataFrame): Int = {
    val b = docs.sparkSession.conf.get(LshBandsKey, LshBands.toString).toInt
    require(b > 0 && MinHashK % b == 0,
      s"$LshBandsKey=$b must positively divide MinHashK=$MinHashK")
    b
  }

  /** doc_id → MinHash signature via the custom Aggregator over the
    * (doc_id, tok) RELATION (the demonstrative UDAF surface, SURVEY.md
    * §7b): the right form when tokens arrive as rows — distributive min
    * merge, so the shuffle carries k longs per doc, not tokens. */
  def signatures(docs: DataFrame): DataFrame = {
    val minhash = udaf(new MinHashAgg(MinHashK))
    distinctTokens(docs)
      .groupBy(col("doc_id"))
      .agg(minhash(col("tok")).as("sig"))
  }

  /** The same signatures as a pure IN-ROW expression — the right form
    * when tokens sit in an array column (they do here: one split() away):
    * one token pass per row folding a 60-long min-array, fully inside
    * whole-stage codegen, ZERO shuffle (the UDAF form pays explode +
    * hash-agg exchange for collocation the row already had). Bit-identical
    * to [[signatures]] — `xxhash64(i, t)` is the same seeded family the
    * UDAF replays (parity-tested in LlmSpec). Round-2: the swap from the
    * UDAF cut the signature stage from 3 Spark jobs to expressions;
    * round 4: the HOF lambda chain (two k-long allocations per token per
    * row, interpreted dispatch) became the codegen'd
    * [[graft.plans.MinHashSig]] kernel — same values, one tight loop. */
  def signaturesInline(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.plans.VectorExprs.minhashSig(
        array_distinct(split(col("text"), " ")), MinHashK).as("sig"))

  /** Banded candidate stage of [[minhashLsh]] — (doc_a, doc_b) emitted
    * exactly once per banding match, BEFORE any verification. Split out
    * so scale instrumentation (StressBench) can count candidates with
    * the same code the operator runs: the candidate count is THE number
    * that must grow sub-quadratically for the banding claim to hold.
    *
    * Band key = xxhash64 of the 12-long signature slice: an 8-byte join
    * key instead of a ~120-char concat string — smaller banding exchange
    * and cheaper equality. A hash collision can only ADD a candidate,
    * and every candidate is exact-verified by the caller, so correctness
    * is unaffected. The `firstMatchOnly` predicate accepts a (band, key)
    * match only when no EARLIER band also matches — exactly-once
    * emission evaluated inside the hash join on flat longs, replacing a
    * whole-stream distinct() (round 4, lever 2). */
  private[graft] def lshCandidatePairs(sigs: DataFrame, nBands: Int): DataFrame = {
    val rows = MinHashK / nBands
    val keyCols = (0 until nBands).map(b => s"k$b")
    val keyed = sigs.select(col("doc_id") +:
      (0 until nBands).map(b =>
        xxhash64(slice(col("sig"), b * rows + 1, rows)).as(keyCols(b))): _*)
    val banded = keyed
      .select((col("doc_id") +: keyCols.map(col)) :+
        posexplode(array(keyCols.map(col): _*)): _*)
      .select(Seq(col("doc_id"), col("pos").as("band"),
        col("col").as("band_key")) ++ keyCols.map(col): _*)
    val firstMatchOnly: Column = (1 until nBands).map { i =>
      (col("a.band") === i) &&
        (0 until i).map(j => col(s"a.k$j") =!= col(s"b.k$j")).reduce(_ && _)
    }.foldLeft((col("a.band") === 0): Column)(_ || _)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id") && firstMatchOnly)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
  }

  /** Candidate pairs straight from a documents frame — the
    * instrumentation entry point ([[lshCandidatePairs]] over
    * [[signaturesInline]] with the conf-resolved band count). */
  def lshCandidates(docs: DataFrame): DataFrame =
    lshCandidatePairs(signaturesInline(docs), lshBands(docs))

  /**
   * Candidate pairs from banded LSH, thinned by a signature-estimate
   * pre-filter, then exact-Jaccard verified.
   *
   * Four scale levers (each measured at sf0.1 — the naive version spent
   * ~230 s in the verification join alone):
   *  1. banding bounds candidate generation (never all-pairs);
   *  2. FIRST-MATCHING-BAND dedup (round 4): a pair agreeing on k bands
   *     would surface k times; instead of a `distinct()` over the whole
   *     candidate stream (was ~2.2 s of the 3.4 s total at sf0.1 — the
   *     single largest stage), the join predicate only accepts a match at
   *     band b when every earlier band's keys differ, so each pair is
   *     emitted EXACTLY once and the shuffle disappears. The per-band
   *     keys ride as flat long columns (codegen'd compares, no array
   *     allocation — an array/zip_with spelling of the same predicate
   *     measured 1.7× SLOWER than the distinct it replaces);
   *  3. the MinHash estimate (matching signature fraction) is a 60-long
   *     compare per candidate — it discards most sub-threshold candidates
   *     before any token array is touched (0.10 slack ≈ 3σ of the
   *     estimator at k=60, so true positives survive);
   *  4. one per-doc table (doc_id, sig, toks) is broadcast once per
   *     side — the candidate stream never shuffles its payload, and the
   *     signature and token arrays of a doc ride the same build (two
   *     broadcast builds per verify, not four: AQE never reuses a
   *     broadcast across the differently-aliased sides).
   * At cluster scale lever 4 flips to a shuffle join on doc_id once the
   * doc dimension outgrows broadcast; the rest are unchanged.
   *
   * Deliberately NOT a stop-band filter (the textbook "drop super-heavy
   * buckets" trick, VERDICT r3 #3): measured on this corpus at sf0.1 the
   * heavy buckets ARE the true near-dup clusters — capping buckets at
   * 200 rows keeps only 20 078 of the 190 922 true j ≥ 0.95 pairs. A
   * stop-band is sound only when heavy buckets are semantic noise
   * (stop-words); here they carry the answer, so the cost cut comes from
   * lever 2 instead (same output, bit-for-bit).
   */
  def minhashLsh(docs: DataFrame, thresh: Double): DataFrame = {
    // The per-doc frame feeds banding and both verify sides; the
    // persist keeps its one scan single-computation. Cache LIFECYCLE
    // belongs to the session runner: a lazily-returned DataFrame has no
    // after-materialization hook, so Verify/Bench clearCache() between
    // queries (round-1 ADVICE: nothing stays pinned across queries).
    val perDoc = Q.ownPersist(sigsAndToks(docs)).df
    val cands = lshCandidatePairs(
      perDoc.select(col("doc_id"), col("sig")), lshBands(docs))
    verifyPairs(cands, perDoc, perDoc, thresh)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** (doc_id, sig, toks) in one scan: the MinHash signature and the
    * sorted token-hash array of every doc — the per-doc frame
    * [[verifyPairs]] takes, built the same way by [[minhashLsh]] and
    * the streaming sink. */
  private[graft] def sigsAndToks(docs: DataFrame): DataFrame = {
    val distinctToks = array_distinct(split(col("text"), " "))
    docs.select(col("doc_id"),
      graft.plans.VectorExprs.minhashSig(distinctToks, MinHashK).as("sig"),
      graft.plans.VectorExprs.tokenHashesSorted(distinctToks).as("toks"))
  }

  /** Token sets as SORTED xxhash64 arrays: set cardinalities (and hence
    * Jaccard) are preserved, verification becomes a codegen'd merge scan
    * (graft.plans.JaccardSortedLong) instead of string-array set ops;
    * the array itself comes from the TokenHashesSorted kernel (round 4 —
    * the transform lambda + generic-comparator sort it replaces were
    * interpreted). */
  private[graft] def tokenArrays(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.plans.VectorExprs.tokenHashesSorted(
        array_distinct(split(col("text"), " "))).as("toks"))

  /** Signature-estimate pre-filter + exact-Jaccard verification over
    * PRECOMPUTED per-doc frames (doc_id, sig, toks), one per pair side —
    * the shared core of [[minhashLsh]] and the streaming near-dedup sink
    * ([[graft.streaming.NearDedupStream]]): ONE code path, so the
    * stream's cross-epoch verdicts are bit-parity with the batch
    * operator by construction, not by re-implementation. `perDocA` must
    * hold every candidate's doc_a and `perDocB` every doc_b; the batch
    * operator passes one frame for both, the sink only its batch as the
    * doc_b side (every doc_b is a batch doc). Each side is broadcast
    * once (lever 4); the estimate filter stays ahead of the Jaccard
    * merge scan, so most sub-threshold candidates never touch a token
    * array. Output: (doc_a, doc_b, jaccard round-4dp), unordered. */
  private[graft] def verifyPairs(cands: DataFrame, perDocA: DataFrame,
      perDocB: DataFrame, thresh: Double): DataFrame = {
    val minMatches = math.ceil((thresh - 0.10) * MinHashK).toInt
    def side(perDoc: DataFrame, s: String) = Q.maybeBroadcast(perDoc.select(
      col("doc_id").as(s"doc_$s"), col("sig").as(s"sig_$s"),
      col("toks").as(s"t$s")))
    cands
      .join(side(perDocA, "a"), "doc_a")
      .join(side(perDocB, "b"), "doc_b")
      .filter(graft.plans.VectorExprs.sigMatch(col("sig_a"), col("sig_b")) >= minMatches)
      .withColumn("jaccard", graft.plans.VectorExprs.jaccardSorted(col("ta"), col("tb")))
      .filter(col("jaccard") >= thresh)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Keep/drop verdict per document from the [[minhashLsh]] pair
    * relation: a document is DROPPED iff some smaller-id document is a
    * verified near-dup (i.e. it appears as doc_b of a pair); dup_of =
    * the smallest such partner, carrying that pair's jaccard. This is
    * the BATCH TWIN of the streaming near-dedup sink
    * ([[graft.streaming.NearDedupStream]]) — StreamingSpec asserts the
    * stream's cross-epoch verdicts match this frame bit-for-bit under
    * monotone doc_id delivery, the text_quality_gate pattern (one
    * semantics, batch and stream). Rows-only registry row (sketch-based
    * candidates, like minhash_lsh). */
  def neardedupVerdicts(docs: DataFrame, thresh: Double): DataFrame =
    verdictsFromPairs(docs.select(col("doc_id")), minhashLsh(docs, thresh))

  /** (doc_id) frame + (doc_a, doc_b, jaccard) pairs → per-doc verdicts
    * (doc_id, kept, dup_of, jaccard) ordered by doc_id — shared by
    * [[neardedupVerdicts]] and the streaming sink's per-epoch verdict
    * step (one spelling of "smallest dup partner wins"). */
  private[graft] def verdictsFromPairs(ids: DataFrame,
      pairs: DataFrame): DataFrame = {
    val wv = Window.partitionBy(col("doc_b")).orderBy(col("doc_a"))
    val dups = pairs
      .withColumn("rn", row_number().over(wv)).filter(col("rn") === 1)
      .select(col("doc_b").as("doc_id"), col("doc_a").as("dup_of"),
        col("jaccard"))
    ids.join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of").isNull.as("kept"),
        col("dup_of"), col("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** 64-bit SimHash per document (sketch-based near-dup at scale;
    * non-oracle — property-tested). Pure in-row expression: one token
    * pass folds a 64-int weight vector (±1 per bit per token), then the
    * majority rule packs the bits — no explode, no bit crossJoin, no
    * shuffle (round 2; the relational form paid per-bit row expansion
    * plus two hash-agg exchanges for per-row arithmetic). Widened 32→64
    * bits in round 3 (VERDICT r2 item 3): the wider sketch is what makes
    * 16-bit pigeonhole bands possible in [[simhashPairs]], and one more
    * long per doc is free. Bits come straight off xxhash64(tok) (j-th
    * bit = (h >> j) & 1); packing ORs disjoint single-bit longs, so the
    * sign bit (j = 63) needs no overflow care. */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(
      """aggregate(
        |  zip_with(
        |    aggregate(array_distinct(split(text, ' ')),
        |      transform(sequence(0, 63), j -> 0),
        |      (acc, t) -> zip_with(acc,
        |        transform(sequence(0, 63), j -> if(((xxhash64(t) >> j) & 1) = 1, 1, -1)),
        |        (a, x) -> a + x)),
        |    sequence(0, 63),
        |    (w, j) -> if(w > 0, shiftleft(cast(1 as bigint), j), cast(0 as bigint))),
        |  cast(0 as bigint), (acc, b) -> acc | b)""".stripMargin).as("simhash"))

  /**
   * Hamming-radius neighbor pairs over the 64-bit SimHash sketch.
   * Pigeonhole banding: split the 64 bits into 4 16-bit bands; any pair
   * within hamming distance ≤ 3 differs in at most 3 bands, so it MUST
   * agree exactly on at least one band — the band-key self-join is
   * exact for r ≤ 3, never all-pairs, then `bit_count(a^b)` filters to
   * the radius. Round 3 (VERDICT r2 item 3): the former 32-bit/8-bit-band
   * form had a FIXED 256-key bucket space per band → candidates ~n²/256,
   * quadratic-shaped at corpus scale. 16-bit keys give 65 536
   * buckets/band, and near-dup sketches concentrate mass far below
   * uniform occupancy — candidates now scale with true bucket occupancy,
   * the same mechanism as minhash_lsh's bands.
   */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-band pigeonhole is only exact for hamming <= 3")
    val sh = simhash(docs)
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(expr("transform(sequence(0, 3), b -> (simhash >> (b * 16)) & 65535)")))
      .select(col("doc_id"), col("simhash"), col("pos").as("band"), col("col").as("bkey"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ---- Oracle-checkable verdict arms (r16 — VERDICT r15 #3/#6) ----
  //
  // The ann_ivf_verdict recipe applied to the sketch side: the
  // PRODUCTION arms ([[minhashLsh]], [[simhashPairs]]) band on
  // Spark-only hash functions (xxhash64) and keep their recall/property
  // gates; these twins band on an md5-DERIVED fixed hash family spelled
  // identically in DuckDB SQL, so the banding candidate-generation
  // MECHANISM itself hash-matches end-to-end. Verify-scale by declared
  // design (tiny k, generated 60-term SQL); the scale path remains the
  // codegen'd production arms. What stays unproven by oracle after
  // these: only the genuinely engine-divergent sketches (HLL, CMS, GK,
  // PQ codebooks).

  /** Verdict-family MinHash geometry: 4 bands × 12 rows (k = 48) — the
    * production 60/5×12 shape, one band narrower. P(candidate | j) =
    * 1−(1−j¹²)⁴: 0.955 at the 0.95 threshold, 0.25 at 0.8, 0.03 at
    * 0.7. The first r16 cut used k=16 at 4×4 rows, whose
    * P(candidate | 0.8) ≈ 0.88 admitted nearly every pair on this
    * high-baseline-Jaccard corpus (FIXTURES.md: random pairs sit at
    * 0.5–0.8) — the row cost 52 s at sf0.1, pricing an accidental
    * all-pairs join, not the banding mechanism. 12-row bands restore
    * the bulk pruning the production sweep table documents. */
  val VerdictMinHashK = 48
  val VerdictLshBands = 4

  /**
   * Banded MinHash-LSH near-dup pairs with an md5-derived hash family:
   * sig_i(doc) = MIN over tokens of md5('i:' || tok) (hex STRINGS —
   * lowercase-hex ASCII min orders identically in both engines), band
   * key = md5 of the concatenated 12-signature slice, candidates = pairs
   * sharing any band key (exactly the [[minhashLsh]] mechanism), then
   * EXACT token-set Jaccard ≥ `thresh` verification — the Spark side
   * runs the sorted-hash merge kernel, the oracle spells inter/union
   * counts over string tokens; both reduce to one IEEE division with
   * identical integer operands (the dedup_near-proven equivalence).
   * Output: (doc_a, doc_b, jaccard 4dp), the minhash_lsh output shape.
   */
  def minhashLshVerdict(docs: DataFrame, thresh: Double): DataFrame = {
    val k = VerdictMinHashK; val bands = VerdictLshBands; val rows = k / bands
    val toks = Q.ownPersist(distinctTokens(docs)).df
    val sigCols = (0 until k).map(i =>
      min(md5(concat(lit(s"$i:"), col("tok")))).as(s"h$i"))
    val sigs = toks.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    val bk = Q.ownPersist(sigs.select(col("doc_id") +:
      (0 until bands).map(b => md5(concat(
        (b * rows until (b + 1) * rows).map(i => col(s"h$i")): _*)).as(s"k$b")): _*)).df
    // Candidate stream: one equi self-join per band, deduped once. The
    // per-doc band frame rides the conf-gated broadcast; above the gate
    // the planner shuffles on the band key — the scale-safe shape.
    val cand = (0 until bands).map { b =>
      bk.select(col("doc_id").as("doc_a"), col(s"k$b").as("bkey"))
        .join(Q.maybeBroadcast(
          bk.select(col("doc_id").as("doc_b"), col(s"k$b").as("bkey"))), Seq("bkey"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
    }.reduce(_ union _).distinct()
    // Exact verification rides the codegen'd sorted-xxhash64 merge scan
    // (the dedup_near pattern, oracle-proven: identical token-set
    // cardinalities ⇒ identical jaccard VALUE as the oracle's
    // string-token spelling — one IEEE division with the same integer
    // operands on both engines).
    val tokArr = Q.ownPersist(tokenArrays(docs)).df
    cand
      .join(Q.maybeBroadcast(tokArr.select(col("doc_id").as("doc_a"), col("toks").as("ta"))), Seq("doc_a"))
      .join(Q.maybeBroadcast(tokArr.select(col("doc_id").as("doc_b"), col("toks").as("tb"))), Seq("doc_b"))
      .withColumn("jaccard", graft.plans.VectorExprs.jaccardSorted(col("ta"), col("tb")))
      .filter(col("jaccard") >= thresh)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 60-bit SimHash sketch from an md5-derived per-token value: the
    * first 15 hex nibbles of md5(tok) decode (via ascii arithmetic —
    * the one hex→int spelling both engines share) into one positive
    * BIGINT; bit j of the sketch is the sign of Σ_tokens (±1 by bit j
    * of that value); the bits pack back into one BIGINT as a sum of
    * exact powers of two. Every step integer-deterministic in both
    * engines. */
  private[graft] def simhashVerdictSketch(docs: DataFrame): DataFrame = {
    def dig(i: Int): Column = {
      val a = ascii(substring(col("h"), i + 1, 1))
      when(a >= 97, a - 87).otherwise(a - 48).cast("long")
    }
    val v = (0 until 15).map(i => dig(i) * lit(1L << (4 * (14 - i)))).reduce(_ + _)
    val tv = distinctTokens(docs).withColumn("h", md5(col("tok")))
      .select(col("doc_id"), v.as("v"))
    val sumCols = (0 until 60).map(j =>
      sum(when(shiftright(col("v"), j).bitwiseAND(lit(1L)) === 1, 1)
        .otherwise(-1)).as(s"s$j"))
    tv.groupBy(col("doc_id")).agg(sumCols.head, sumCols.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("sk"))
  }

  /** Hamming-radius pairs over [[simhashVerdictSketch]] with the SAME
    * pigeonhole banding as [[simhashPairs]] (4 × 15-bit bands — exact
    * for hamming ≤ 3), oracle-checkable end-to-end: band keys are
    * shift/mask arithmetic, the verdict is bit_count(xor) — both
    * spelled identically in DuckDB. Output (doc_a, doc_b, hamming). */
  def simhashPairsVerdict(docs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-band pigeonhole is only exact for hamming <= 3")
    val sk = Q.ownPersist(simhashVerdictSketch(docs)).df
    val bk = Q.ownPersist(sk.select(col("doc_id") +: col("sk") +:
      (0 until 4).map(b =>
        shiftright(col("sk"), b * 15).bitwiseAND(lit(32767L)).as(s"k$b")): _*)).df
    val cand = (0 until 4).map { b =>
      bk.select(col("doc_id").as("doc_a"), col("sk").as("ska"), col(s"k$b").as("bkey"))
        .join(Q.maybeBroadcast(bk.select(
          col("doc_id").as("doc_b"), col("sk").as("skb"), col(s"k$b").as("bkey"))),
          Seq("bkey"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("ska"), col("skb"))
    }.reduce(_ union _).distinct()
    cand
      .withColumn("hamming", bit_count(col("ska").bitwiseXOR(col("skb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Neighbor cap for [[editDistanceRank]]'s within-group pairing (must
    * match the literal 16 in the dedup_editdist oracle SQL). */
  val EditDistNeighbors = 16

  /** Distance cap for [[editDistanceRank]] — distances beyond it report
    * the cap itself (must match the literal 24 in the oracle SQL). 24
    * covers every interesting near-copy regime on ~250-char docs while
    * keeping the banded DP ~5× cheaper than the full table. */
  val EditDistCap = 24

  /**
   * Surface divergence WITHIN canonical groups: docs whose token SETS are
   * identical (the dedup_groups signature) can still differ in order /
   * repetition — Levenshtein distance over the raw text ranks which
   * "duplicates" are literal copies (dist 0) vs paraphrase-like
   * rearrangements (the keep-best signal a curation pass uses).
   *
   * Blocking by the group signature keeps the pair space to within-group
   * pairs (one equi self-join), and — round 4, VERDICT r3 #6 — each doc
   * pairs only with its next `maxNeighbors` group-mates in doc_id rank
   * order, so one hot signature (empty docs, boilerplate) costs
   * O(group × K) Levenshtein calls, never O(group²): a 10 M-doc
   * boilerplate cluster at 100 TB stays linear in the cluster. Rank
   * adjacency is the right neighborhood for the ranking use-case (the
   * dist-0 copies it exists to surface are transitive), and the window
   * rank is deterministic, so the DuckDB oracle replicates the cap
   * exactly.
   *
   * Distances are CAPPED at [[EditDistCap]] (r5): the signal this op
   * exists for lives at small distances (literal copies and
   * near-copies); past the cap every pair is equally "heavily
   * rearranged" and the exact number is noise. The cap is also the
   * perf lever — Spark's thresholded `levenshtein(a, b, k)` runs the
   * banded O(k·n) DP with early aborts (length-difference gate, band
   * minimum exceeding k) instead of the full O(n²) table. Measured at
   * sf0.1 in bench_all: 33.6 s (the single slowest registry entry)
   * → 1.0 s — heavily-rearranged pairs blow past the cap within a few
   * DP rows and abort. Both engines spell the cap (Spark maps the
   * -1 over-threshold sentinel to the cap; DuckDB takes LEAST with
   * it), so the oracle still hash-matches.
   */
  def editDistanceRank(documents: DataFrame, maxNeighbors: Int): DataFrame = {
    val sig = md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " ")))))
    val wSig = Window.partitionBy(col("sig")).orderBy(col("doc_id"))
    val docs = documents
      .select(col("doc_id"), col("text"), sig.as("sig"))
      .withColumn("rk", row_number().over(wSig))
    val capped = levenshtein(col("a.text"), col("b.text"), EditDistCap)
    docs.as("a")
      .join(docs.as("b"),
        col("a.sig") === col("b.sig") &&
        col("b.rk") > col("a.rk") && col("b.rk") <= col("a.rk") + maxNeighbors)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        when(capped < 0, lit(EditDistCap)).otherwise(capped)
          .cast("long").as("edit_dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /**
   * Connected components over an undirected pair graph (doc_a, doc_b) —
   * the clustering step that turns near-dup PAIRS into dedup GROUPS
   * (component id = min doc_id; keep one doc per component). Distributed
   * min-label propagation: every doc starts labeled with itself; each
   * round pulls the minimum label across its neighbors; fixpoint after
   * O(component diameter) rounds. Each round is ONE join + ONE hash agg
   * (both shuffle by doc key) driven by a single action — the standard
   * Spark formulation for iterative graph algorithms (what GraphX does
   * under the hood), so 100 TB of pairs just means wider shuffles, not
   * deeper plans. Near-dup graphs have tiny diameters (dups cluster
   * tightly), so rounds stay single digits regardless of corpus size.
   * Per-round label frames are persisted and the previous round's cache
   * dropped as soon as its successor materializes, so live cache is one
   * label set + edges no matter how many rounds run; plan depth grows
   * one fixed layer per round, bounded by the same tiny diameter.
   *
   * O(log n) escape hatch (VERDICT r12 #1): the near-dup graphs this
   * was built for have constant diameter, but graph_components_* feeds
   * it a THRESHOLDED kNN graph over a smeared embedding manifold —
   * a class that can form chains whose diameter grows with n, where
   * pure min-label pays O(D) join+agg rounds. After
   * `spark.graft.ccJumpAfter` rounds (default 4 — near-dup fixpoints
   * measure 2 through s30, so production dedup plans are bit-identical
   * to the pre-r13 builder) every further propagate round is followed
   * by POINTER-JUMPING TO CLOSURE: repeat `lbl ← lbl(lbl)` (a
   * self-join of the cached label frame, tree depth halving per jump)
   * until no label changes — the Shiloach–Vishkin shortcut (Shiloach
   * & Vishkin 1982; the same doubling behind MapReduce CC à la
   * Kiveris et al. 2014). Closure, not a single interleaved jump,
   * is load-bearing: with label trees flattened every round, the next
   * propagate merges whole components through their roots (a star
   * contraction) instead of advancing a 1-hop wavefront — the r13
   * stress smoke measured a single interleaved jump at 34 rounds on
   * the id-permuted s1 kNN graph vs 11 total steps for closure, and
   * a planted 1024-chain converges in ~jumpAfter + 2·log₂(n) steps
   * instead of n (LlmSpec pins both the chain and the parity). The
   * fixpoint predicate is unchanged — at convergence every label is
   * stable under BOTH neighbor-min and jump, labels are equal across
   * every (symmetric) edge, hence constant per component and equal to
   * the component min — so the output is identical to the min-label
   * arm for ANY input (parity-asserted in LlmSpec with the jump forced
   * on from round 0), and every oracle hash is untouched. Each step
   * (propagate or jump) is exactly ONE job, PLUS one extra
   * materialization job on every 8th step — the eager localCheckpoint
   * that truncates the physical RDD lineage (ADVICE r13: the
   * one-job-per-round accounting must count it). Checkpoint blocks
   * live outside the CacheManager, so each checkpoint is unpersisted
   * as soon as its successor checkpoint materializes, and the final
   * one is registered in [[graft.Q.registerCheckpoint]] for the
   * runner's post-materialization drain — no label frame outlives its
   * query (ADVICE r13's session-lifetime leak).
   */
  /** Fixpoint STEPS (propagate + jump actions, = jobs) of the most
    * recent [[connectedComponents]] run — read by StressBench to
    * record iteration count per scale (VERDICT r5 item 2: total cost
    * is steps × one full join+agg shuffle, so if steps grew linearly
    * with corpus size the algorithm would be super-linear; near-dup
    * components have constant diameter by construction, so their
    * recorded series must stay flat, and the thresholded-kNN series is
    * bounded ~ccJumpAfter + O(log n) by the jump-to-closure arm). The
    * propagation loop is driver-eager, so the value is final when the
    * function returns. */
  @volatile var lastCcRounds: Int = -1

  /** Conf key: rounds of pure min-label propagation before each
    * further round is followed by pointer-jumping to closure (see the
    * Scaladoc above). Default 4; `0` forces jumping from the first
    * round (the parity/chain tests), `Int.MaxValue` recovers the pure
    * min-label arm. */
  val CcJumpAfterKey = "spark.graft.ccJumpAfter"

  def connectedComponents(pairs0: DataFrame,
      inputPersisted: Boolean = false): DataFrame = {
    val ccJumpAfter = pairs0.sparkSession.conf
      .get(CcJumpAfterKey, "4").toInt
    // The symmetric edge union reads the pair frame twice — persist it
    // or the caller's whole pair pipeline (candidate join + verify)
    // executes once per union branch. Callers that already hold the
    // pair frame (or a projection of it) in cache pass
    // `inputPersisted = true` so we don't materialize a SECOND copy of
    // the pair set for the fixpoint loop's duration (ADVICE r8);
    // ownPersist additionally catches the case where the identical
    // plan is already cached (repeated query in one session) without
    // a double-persist attempt (VERDICT r9 #2).
    val pairsOwned =
      if (inputPersisted) Q.Owned(pairs0, owned = false)
      else Q.ownPersist(pairs0)
    val pairs = pairsOwned.df
    val edgesOwned = Q.ownPersist(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
    val edges = edgesOwned.df
    // Initial label frame: ownPersist — a repeated CC over the same
    // edge set (test sequences) would otherwise re-persist an
    // identical plan. Per-round frames below contain a fresh
    // LogicalRDD leaf each round, so plain persist can never collide.
    var cachedOwned = Q.ownPersist(
      edges.select(col("src").as("doc")).distinct()
        .withColumn("lbl", col("doc")))
    var labels = cachedOwned.df
    var steps = 0
    // Most recent localCheckpoint-ed label frame (every 8th step) —
    // unpersisted when its successor checkpoint materializes; the last
    // one is registered for the runner's drain (ADVICE r13).
    var pendingCkpt: org.apache.spark.sql.DataFrame = null
    // One fixpoint step: hash-agg the round's candidate labels from
    // `branches` to a per-doc min, LEFT-JOIN that onto the label frame
    // keyed on doc, take the least of (own, candidate) label, count how
    // many strictly decreased, and swap the label cache. r18 (VERDICT
    // r17 #3): the pre-r18 spelling unioned the full label frame into
    // the candidate agg, which forced the step's one exchange to carry
    // candidates PLUS all n label rows — a union's output has no
    // partitioning, so the labels' own hash(doc) layout (preserved
    // across steps by the flattenToLeaf/localCheckpoint partitioning
    // claim in GraftShims) was re-shuffled every step. The join form
    // exchanges only the candidate stream: the label side streams
    // exchange-free on its claimed layout, and the SHUFFLE_HASH hint
    // keeps the probe sort-free and broadcast-free (one build of the
    // candidate min per partition — the same per-partition hash-map
    // class as the old agg; a broadcast here would both add a per-step
    // build job and hold the n-row label min on the driver). Outputs
    // are identical: every doc appears exactly once either way (the
    // old self-leg / the left join), candidate docs are a subset of the
    // label universe (propagate emits edge srcs; jump emits label docs;
    // hook emits label VALUES, which are themselves doc ids), min over
    // union-with-self ≡ least(own, min-of-candidates), and the old
    // label rides the join's left side directly instead of as a tagged
    // union column. The changed-count still needs no second action
    // (VERDICT r8 item 4): each step is exactly one job, one shuffle
    // round — now over candidate rows only.
    def advance(branches: DataFrame => DataFrame): Long = {
      val candMin = branches(labels)
        .groupBy(col("doc"))
        .agg(min(col("lbl")).as("cand"))
      val next = labels.join(candMin.hint("shuffle_hash"), Seq("doc"), "left")
        .select(col("doc"),
          least(col("lbl"), coalesce(col("cand"), col("lbl"))).as("lbl"),
          col("lbl").as("old"))
        .withColumn("chg", (col("lbl") < col("old")).cast("long"))
        .persist()
      val chgRow = next.agg(sum(col("chg"))).first()
      val chg = if (chgRow.isNullAt(0)) 0L else chgRow.getLong(0)
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"[cc-debug] step=${steps + 1} changed=$chg")
      // next is materialized — the previous step's label cache is dead.
      cachedOwned.release()
      cachedOwned = Q.Owned(next, owned = true)
      // Re-root on the cached data as a flat leaf: the next step
      // references labels twice (join + union), so carrying the full
      // plan would DOUBLE the logical tree every step — exponential
      // analysis cost over a large upstream pair pipeline. Every 8th
      // step additionally truncates the PHYSICAL lineage: the flat
      // logical leaf still wraps an RDD whose object graph chains
      // through every prior step's RDD, and past a few dozen steps
      // that chain overflows the stack inside task serialization
      // (found by the r13 stress smoke at 34 steps) — the kmeans/NND
      // loops' localCheckpoint discipline, applied sparsely so the
      // common tiny-diameter fixpoint never pays the extra pass.
      steps += 1
      val flat = org.apache.spark.sql.GraftShims.flattenToLeaf(next)
        .select(col("doc"), col("lbl"))
      labels =
        if (steps % 8 == 0) {
          // Eager: one extra job (counted in the Scaladoc). The new
          // checkpoint is a complete snapshot, so the previous one's
          // blocks are dead — unpersist instead of leaking one label
          // frame per 8 steps for the session lifetime (ADVICE r13).
          // r18: the partitioning-preserving spelling — a stock
          // localCheckpoint would drop the label layout and re-insert
          // the per-step label exchange for the following 8 steps.
          val ck = org.apache.spark.sql.GraftShims
            .localCheckpointKeepPartitioning(flat)
          if (pendingCkpt != null)
            org.apache.spark.sql.GraftShims.unpersistLeafRdd(pendingCkpt)
          pendingCkpt = ck
          ck
        } else flat
      chg
    }
    // Branch builders. Propagate: each doc pulls its neighbors' labels
    // across the (symmetric, cached) edge set — the min-label
    // wavefront, 1 graph hop per step. Jump: each doc pulls its
    // LABEL'S label via a self-join of the flat cached label frame
    // (renamed projections keep the conditions unambiguous) — the
    // Shiloach–Vishkin shortcut. Hook: each edge's candidate targets
    // the ROOT — doc l(src) receives l(dst) (both endpoints resolved
    // through the label map) — so whole stars merge through their
    // roots; hooking members instead (plain propagate) re-degrades to
    // a 1-hop wavefront because a member's discovery never reaches
    // its root (measured: 88 steps vs 24 on the id-permuted s1 kNN
    // graph).
    val propagate = (l: DataFrame) =>
      edges.join(l, col("dst") === col("doc"))
        .select(col("src").as("doc"), col("lbl"))
    val jump = (l: DataFrame) => {
      val parents = l.select(col("doc").as("p_doc"), col("lbl").as("p_lbl"))
      l.join(parents, col("lbl") === col("p_doc"))
        .select(col("doc"), col("p_lbl").as("lbl"))
    }
    val hook = (l: DataFrame) => {
      val ls = l.select(col("doc").as("s_doc"), col("lbl").as("s_lbl"))
      val ld = l.select(col("doc").as("d_doc"), col("lbl").as("d_lbl"))
      edges.join(ls, col("src") === col("s_doc"))
        .join(ld, col("dst") === col("d_doc"))
        .select(col("s_lbl").as("doc"), col("d_lbl").as("lbl"))
    }
    // The fixpoint (see the Scaladoc). Phase 1: pure min-label for up
    // to `ccJumpAfter` rounds — tiny-diameter near-dup graphs converge
    // here with bit-identical plans and job counts to the pre-r13
    // builder. Phase 2 (Shiloach–Vishkin): flatten every label tree by
    // pointer-jumping to CLOSURE, then alternate root-to-root hook
    // rounds with re-closure. The exit test is sound ONLY because a
    // hook round always runs on flat trees: flatness turns "hook
    // changed nothing" into l(u) = l(v) across every symmetric edge —
    // labels constant per component and equal to the component min.
    // (Without flatness a no-change hook round can coexist with
    // unmerged components: l(l(u)) ≤ l(v) both ways is satisfiable
    // with l(u) ≠ l(v) on deep trees.) Hook shrinks the distinct-root
    // count geometrically, closure re-flattens in ~1 productive jump,
    // so total steps sit near ccJumpAfter + O(log n) regardless of
    // diameter or id layout.
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < ccJumpAfter) {
      changed = advance(propagate)
      rounds += 1
    }
    if (changed > 0) {
      def closure(): Unit = {
        var jc = 1L
        while (jc > 0) jc = advance(jump)
      }
      closure()
      while (changed > 0) {
        changed = advance(hook)
        if (changed > 0) closure()
      }
    }
    lastCcRounds = steps
    edgesOwned.release()
    pairsOwned.release()
    // The last checkpoint may back the returned (lazy) frame's
    // recompute path — reaped by the runner's post-materialization
    // drain, never here.
    if (pendingCkpt != null) Q.registerCheckpoint(pendingCkpt)
    val bySize = Window.partitionBy(col("lbl"))
    labels
      .select(col("doc").as("doc_id"), col("lbl").as("component_id"),
        count(lit(1)).over(bySize).as("component_size"))
      .orderBy(col("doc_id"))
  }

  /**
   * Exact-Jaccard connected components with a BOUNDED cache footprint
   * (VERDICT r9 #1: the r9 driver run stalled on exactly the two
   * CC-backed heavy entries — the fixpoint loop was running with the
   * whole pair pipeline's token-side caches still resident). Order of
   * operations: materialize the pair frame ONCE (a count action while
   * the (doc,tok)/prefix/token-array caches are hot, so the candidate
   * join + verify run exactly one time), then RELEASE those
   * O(corpus-tokens) caches before the first CC round — the loop holds
   * only (pairs, edges, one label frame) for its whole duration. The
   * pair cache itself is dropped as soon as the fixpoint returns: the
   * result frame is re-rooted on the final round's own cache, so
   * nothing downstream re-reads the pair pipeline.
   */
  private[llm] def componentsOverTokenPairs(toks: DataFrame,
      thresh: Double): DataFrame = {
    val (raw, internals) = jaccardPairsParts(toks, thresh)
    val pairsOwned = Q.ownPersist(raw)
    pairsOwned.df.count()
    internals.foreach(_.release())
    val comps = connectedComponents(pairsOwned.df, inputPersisted = true)
    pairsOwned.release()
    comps
  }

  /**
   * Repeated-n-gram coverage — the corpus-internal boilerplate signal
   * (the span-dedup statistic of Lee et al., "Deduplicating Training
   * Data Makes Language Models Better", 2022): for every doc, what
   * fraction of its n-grams also occur ≥ `hotMin` times corpus-wide?
   * Docs with high coverage are templated/boilerplate and get dropped
   * or span-trimmed by a curation pass; this op computes the per-doc
   * audit table that decision reads.
   *
   * Shape: one explode feeds BOTH the global n-gram counts and the
   * per-doc probe (no second corpus scan); the hot set is small by
   * construction (only grams with cnt ≥ hotMin survive) → conf-gated
   * broadcast semi-join; per-doc rollup is one hash agg keyed on
   * doc_id. Coverage is reported in integer basis points (n_hot ×
   * 10⁴ div n_grams) — a double ratio can floor differently across
   * engines at exact ties. At 100 TB the gram key becomes
   * xxhash64(gram) to shrink exchange width (kept as the exact string
   * here so the oracle comparison is collision-free by construction).
   */
  /** The (n, hotMin) geometry shared by the audit ([[hotNgramCover]] /
    * dedup_ngram_cover) and the transform ([[spanTrim]] /
    * dedup_spantrim) — one constant pair so the two registry rows can
    * never desynchronize. */
  val SpanN = 3
  val SpanHotMin = 3L

  /** Shared candidate stage of [[hotNgramCover]] and [[spanTrim]]:
    * the positioned gram explode (doc_id, start [1-based], gram) and
    * the corpus-hot gram set derived from it. Factored so "audit and
    * transform read the same hot set" is structural, not a comment —
    * any future change to the gram spelling or hot threshold hits both
    * consumers. Returns the gram frame PERSISTED (it feeds both the
    * global count and the per-doc probe; the session runner owns cache
    * lifecycle, per the convention at the top of this file). */
  private def hotGramParts(documents: DataFrame, n: Int, hotMin: Long)
      : (DataFrame, DataFrame) = {
    val grams = Q.ownPersist(documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(toks) - $n), i -> array_join(slice(toks, i + 1, $n), ' '))")))
      .select(col("doc_id"), (col("pos") + 1).as("start"), col("col").as("gram"))).df
    val hot = grams.groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= hotMin).select(col("gram"))
    (grams, hot)
  }

  def hotNgramCover(documents: DataFrame, n: Int, hotMin: Long): DataFrame = {
    val (grams, hot) = hotGramParts(documents, n, hotMin)
    val hotPerDoc = grams.join(Q.maybeBroadcast(hot), Seq("gram"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hot"))
    documents
      .select(col("doc_id"),
        greatest(size(split(col("text"), " ")) - (n - 1), lit(0))
          .cast("long").as("n_grams"))
      .join(hotPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hot"), lit(0L)).as("n_hot"),
        when(col("n_grams") > 0,
          expr("coalesce(n_hot, 0L) * 10000 div n_grams"))
          .otherwise(0L).as("hot_bp"))
      .orderBy(col("doc_id"))
  }

  /**
   * Span-level dedup TRANSFORM (round 9) — the other half of the Lee
   * et al. 2022 span-dedup story: [[hotNgramCover]] computes the audit
   * (how much of each doc is corpus-hot boilerplate); this op APPLIES
   * the trim — every token covered by any n-gram occurring ≥ hotMin
   * times corpus-wide is dropped, and the surviving tokens re-join
   * into the cleaned text a pretraining pipeline actually feeds the
   * tokenizer. Exact-substring dedup via suffix arrays is the paper's
   * full machinery; hot-n-gram span removal is its streaming-friendly
   * approximation with the same plan shape as the audit: ONE explode
   * feeds both the global gram counts and the per-doc hit positions
   * (no second corpus scan), the hot set joins back broadcast-gated,
   * and the per-doc trim is a bounded HOF over (starts, positions) —
   * starts per doc ≤ grams per doc, so the collect_set is
   * model-input-sized, never corpus-sized.
   *
   * Determinism: positions and counts are integers; the trim predicate
   * (i ∈ [s, s+n−1] for any hot start s) is the same arithmetic in
   * both engines, so the row is fully oracle-checked including the
   * reconstructed text.
   */
  def spanTrim(documents: DataFrame, n: Int, hotMin: Long): DataFrame = {
    val base = documents.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val (grams, hot) = hotGramParts(documents, n, hotMin)
    val starts = grams.join(Q.maybeBroadcast(hot), Seq("gram"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("start"))).as("starts"))
    base.join(starts, Seq("doc_id"), "left")
      .withColumn("starts",
        coalesce(col("starts"), expr("CAST(array() AS ARRAY<INT>)")))
      .withColumn("kept", expr(
        s"filter(sequence(1, size(toks)), i -> NOT exists(starts, s -> i >= s AND i <= s + ${n - 1}))"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_dropped"),
        expr("array_join(transform(kept, i -> element_at(toks, i)), ' ')")
          .as("trimmed_text"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, QFn] = Map(
    "dedup_exact" -> ((s, d) => {
      // Hash-groupBy exact dedup: keep the lowest doc_id per md5(text).
      val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "dedup_near" -> ((s, d) =>
      jaccardPairs(distinctTokens(Tables.documents(s, d)), 0.95)),

    "ngram_jaccard" -> ((s, d) =>
      jaccardPairs(distinctBigrams(Tables.documents(s, d)), 0.3)),

    "dedup_groups" -> ((s, d) => {
      // Canonicalization: docs with identical token SETS form a group
      // (group id = min doc_id). At scale this collapses exact-duplicate
      // mass before any pairwise work — the cheap first stage of a dedup
      // pipeline (3935 distinct sets among 5000 docs at sf0.1).
      val sig = md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " ")))))
      val w = Window.partitionBy(col("sig"))
      Tables.documents(s, d)
        .withColumn("sig", sig)
        .select(col("doc_id"),
          min(col("doc_id")).over(w).as("group_id"),
          count(lit(1)).over(w).as("group_size"))
        .orderBy(col("doc_id"))
    }),

    "minhash_lsh" -> ((s, d) => minhashLsh(Tables.documents(s, d), 0.95)),

    // r16 (VERDICT r15 #3): the fixed-md5-family verdict arm — the
    // banding mechanism hash-matched against DuckDB; the murmur3/xxhash
    // production arm above keeps its recall gate.
    "minhash_lsh_verdict" -> ((s, d) =>
      minhashLshVerdict(Tables.documents(s, d), 0.95)),

    // Batch twin of the streaming near-dedup sink; rows-only (sketch
    // candidates). StreamingSpec pins stream-vs-batch bit-parity.
    "dedup_near_verdicts" -> ((s, d) =>
      neardedupVerdicts(Tables.documents(s, d), 0.95)),

    "simhash" -> ((s, d) => simhash(Tables.documents(s, d)).orderBy(col("doc_id"))),

    // Non-oracle (xxhash64 sketch isn't SQL-expressible); rows-only gate.
    // Recovery of constructed near-identical pairs is property-tested in
    // LlmSpec.
    "simhash_pairs" -> ((s, d) => simhashPairs(Tables.documents(s, d), 3)),

    // r16 (VERDICT r15 #6): the md5-derived-sketch verdict arm — the
    // pigeonhole banding + bit_count(xor) verdict hash-matched against
    // DuckDB; the xxhash64 production arm keeps its property gates.
    "simhash_pairs_verdict" -> ((s, d) =>
      simhashPairsVerdict(Tables.documents(s, d), 3)),

    "dedup_editdist" -> ((s, d) =>
      editDistanceRank(Tables.documents(s, d), EditDistNeighbors)),

    // Pair source is conf-picked like pipeline_curate's
    // (`spark.graft.components.pairStrategy` = exact | lsh): exact
    // Jaccard pairs by default — the arm Verify oracle-checks — and the
    // banded MinHash-LSH candidate stream when set to "lsh", the 100 TB
    // composition measured as dedup_components_lsh in BENCH_stress.json.
    // Bench's heavy tier sets "lsh" (VERDICT r10 #1a): the tier budget
    // gates the SCALE arm; the exact arm's cost still rides in
    // bench_all.json, where no conf is set.
    "dedup_components" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      if (s.conf.getOption("spark.graft.components.pairStrategy")
          .contains("lsh"))
        connectedComponents(minhashLsh(docs, 0.95))
      else componentsOverTokenPairs(distinctTokens(docs), 0.95)
    }),

    "tokjoin_auto" -> ((s, d) =>
      // Declared token-similarity join (TokenSelfJoin node): the optimizer
      // picks prefix-filtered exact Jaccard vs MinHash-LSH from stats —
      // exact at verify scale, so the oracle is dedup_near's SQL.
      graft.plans.SimilarityJoin.jaccardSelfJoin(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          "doc_id", "text", 0.95)
        .orderBy(col("doc_a"), col("doc_b"))),

    "dedup_ngram_cover" -> ((s, d) =>
      hotNgramCover(Tables.documents(s, d), SpanN, SpanHotMin)),

    "dedup_spantrim" -> ((s, d) =>
      // Audit and transform share hotGramParts AND the SpanN/SpanHotMin
      // geometry — the same hot set by construction.
      spanTrim(Tables.documents(s, d), SpanN, SpanHotMin)))

  private def jaccardOracle(tokenCte: String, thresh: Double): String =
    s"""WITH t AS ($tokenCte),
       | s AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
       | p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |       FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       | ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
       |FROM p JOIN s sa ON p.doc_a = sa.doc_id JOIN s sb ON p.doc_b = sb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= $thresh
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Generated DuckDB oracle for [[minhashLshVerdict]] — every constant
    * interpolated from the Scala side (the ADVICE r9 single-sourcing
    * rule), every hash step the exact md5 spelling the DataFrame code
    * runs. */
  private def minhashVerdictOracle(thresh: Double): String = {
    val k = VerdictMinHashK; val bands = VerdictLshBands; val rows = k / bands
    val sigCols = (0 until k)
      .map(i => s"MIN(MD5('$i:' || tok)) AS h$i").mkString(", ")
    val bandCols = (0 until bands).map(b =>
      "MD5(" + (b * rows until (b + 1) * rows).map(i => s"h$i")
        .mkString(" || ") + s") AS k$b").mkString(", ")
    val candUnion = (0 until bands).map(b =>
      s"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bk a " +
        s"JOIN bk b ON a.k$b = b.k$b AND a.doc_id < b.doc_id")
      .mkString(" UNION ALL ")
    s"""WITH t AS (SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS tok FROM documents),
       | sig AS (SELECT doc_id, $sigCols FROM t GROUP BY doc_id),
       | bk AS (SELECT doc_id, $bandCols FROM sig),
       | cand AS (SELECT DISTINCT doc_a, doc_b FROM ($candUnion)),
       | s AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
       | p AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
       |       FROM cand c JOIN t a ON a.doc_id = c.doc_a
       |       JOIN t b ON b.doc_id = c.doc_b AND b.tok = a.tok
       |       GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       | ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
       |FROM p JOIN s sa ON p.doc_a = sa.doc_id JOIN s sb ON p.doc_b = sb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= $thresh
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Generated DuckDB oracle for [[simhashPairsVerdict]] — the 60-term
    * bit sums, power-of-two packing, shift/mask band keys, and
    * bit_count(xor) verdict, all integer-exact in both engines. */
  private def simhashVerdictOracle(maxHamming: Int): String = {
    def dig(i: Int): String =
      s"(CASE WHEN ASCII(SUBSTR(h,${i + 1},1)) >= 97 " +
        s"THEN ASCII(SUBSTR(h,${i + 1},1)) - 87 " +
        s"ELSE ASCII(SUBSTR(h,${i + 1},1)) - 48 END)"
    val vExpr = (0 until 15)
      .map(i => s"CAST(${dig(i)} AS BIGINT) * ${1L << (4 * (14 - i))}")
      .mkString(" + ")
    val sums = (0 until 60).map(j =>
      s"SUM(CASE WHEN (v >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val sk = (0 until 60).map(j =>
      s"(CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    val bandCols = (0 until 4)
      .map(b => s"(sk >> ${b * 15}) & 32767 AS k$b").mkString(", ")
    val candUnion = (0 until 4).map(b =>
      s"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sk AS ska, b.sk AS skb " +
        s"FROM bk a JOIN bk b ON a.k$b = b.k$b AND a.doc_id < b.doc_id")
      .mkString(" UNION ALL ")
    s"""WITH t AS (SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS tok FROM documents),
       | tv AS (SELECT doc_id, $vExpr AS v FROM (SELECT doc_id, MD5(tok) AS h FROM t)),
       | sums AS (SELECT doc_id, $sums FROM tv GROUP BY doc_id),
       | skt AS (SELECT doc_id, $sk AS sk FROM sums),
       | bk AS (SELECT doc_id, sk, $bandCols FROM skt),
       | cand AS (SELECT DISTINCT doc_a, doc_b, ska, skb FROM ($candUnion))
       |SELECT doc_a, doc_b, CAST(bit_count(xor(ska, skb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(ska, skb)) <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "minhash_lsh_verdict" -> minhashVerdictOracle(0.95),
    "simhash_pairs_verdict" -> simhashVerdictOracle(3),
    // n-gram slices are toks[i:i+(n-1)] (DuckDB slices are 1-based
    // inclusive); RANGE is empty when LEN(toks) < n, matching the Spark
    // guard. SpanN/SpanHotMin are INTERPOLATED (ADVICE r9) so the
    // geometry truly is single-sourced — changing the constants can no
    // longer silently desync these rows from the Scala side.
    "dedup_ngram_cover" ->
      s"""WITH d AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks
        |           FROM documents),
        | tot AS (SELECT doc_id,
        |    CAST(GREATEST(LEN(toks) - ${SpanN - 1}, 0) AS BIGINT) AS n_grams FROM d),
        | g AS (SELECT doc_id,
        |    UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks) - $SpanN + 2),
        |      i -> ARRAY_TO_STRING(toks[i:i+${SpanN - 1}], ' '))) AS gram
        |   FROM d WHERE LEN(toks) >= $SpanN),
        | hot AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= $SpanHotMin),
        | hp AS (SELECT doc_id, COUNT(*) AS n_hot
        |        FROM g JOIN hot USING (gram) GROUP BY doc_id)
        |SELECT doc_id, n_grams,
        | CAST(COALESCE(n_hot, 0) AS BIGINT) AS n_hot,
        | CASE WHEN n_grams > 0
        |   THEN COALESCE(n_hot, 0) * 10000 // n_grams ELSE 0 END AS hot_bp
        |FROM tot LEFT JOIN hp USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Same hot set as dedup_ngram_cover; the trim predicate is pure
    // integer arithmetic over (position, hot-start) pairs, so the
    // reconstructed text hash-matches too.
    "dedup_spantrim" ->
      s"""WITH d AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks
        |           FROM documents),
        | g AS (SELECT doc_id,
        |    UNNEST(RANGE(1, LEN(toks) - $SpanN + 2)) AS start,
        |    UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks) - $SpanN + 2),
        |      i -> ARRAY_TO_STRING(toks[i:i+${SpanN - 1}], ' '))) AS gram
        |   FROM d WHERE LEN(toks) >= $SpanN),
        | hot AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= $SpanHotMin),
        | sh AS (SELECT DISTINCT doc_id, start FROM g JOIN hot USING (gram)),
        | st AS (SELECT doc_id, LIST(start ORDER BY start) AS starts
        |        FROM sh GROUP BY doc_id),
        | r AS (SELECT d.doc_id, d.toks,
        |    COALESCE(st.starts, CAST([] AS BIGINT[])) AS starts
        |   FROM d LEFT JOIN st USING (doc_id)),
        | k AS (SELECT doc_id, toks,
        |    LIST_FILTER(RANGE(1, LEN(toks) + 1), i ->
        |      LEN(LIST_FILTER(starts, s -> i >= s AND i <= s + ${SpanN - 1})) = 0)
        |      AS kept
        |   FROM r)
        |SELECT doc_id,
        | CAST(LEN(toks) AS BIGINT) AS n_tokens,
        | CAST(LEN(toks) - LEN(kept) AS BIGINT) AS n_dropped,
        | COALESCE(ARRAY_TO_STRING(LIST_TRANSFORM(kept, i -> toks[i]), ' '),
        |   '') AS trimmed_text
        |FROM k ORDER BY doc_id""".stripMargin,

    // EditDistCap/EditDistNeighbors interpolated — same single-sourcing
    // as the Span constants above.
    "dedup_editdist" ->
      s"""WITH g AS (SELECT doc_id, text,
        |  MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))), ' '))
        |    AS sig
        | FROM documents),
        | r AS (SELECT doc_id, text, sig,
        |  ROW_NUMBER() OVER (PARTITION BY sig ORDER BY doc_id) AS rk FROM g)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST(LEAST(LEVENSHTEIN(a.text, b.text), $EditDistCap) AS BIGINT) AS edit_dist
        |FROM r a JOIN r b ON a.sig = b.sig AND b.rk > a.rk AND b.rk <= a.rk + $EditDistNeighbors
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_exact" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY MD5(text) ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    "dedup_near" -> jaccardOracle(
      "SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS tok FROM documents",
      0.95),

    // tokjoin_auto expands to the exact arm at verify scale → same oracle
    // as dedup_near (pair columns identical).
    "tokjoin_auto" -> jaccardOracle(
      "SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS tok FROM documents",
      0.95),

    "dedup_groups" ->
      """WITH t AS (SELECT doc_id,
        |  MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(STRING_SPLIT(text, ' '))), ' '))
        |  AS sig FROM documents)
        |SELECT doc_id,
        | MIN(doc_id) OVER (PARTITION BY sig) AS group_id,
        | COUNT(*) OVER (PARTITION BY sig) AS group_size
        |FROM t ORDER BY doc_id""".stripMargin,

    "ngram_jaccard" -> jaccardOracle(
      """SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
        |   RANGE(1, LEN(STRING_SPLIT(text, ' '))),
        |   i -> STRING_SPLIT(text, ' ')[i] || '_' || STRING_SPLIT(text, ' ')[i + 1])))
        |   AS tok FROM documents""".stripMargin,
      0.3),

    // Same pair graph as dedup_near; components via transitive closure
    // (recursive CTE) — DuckDB's exact fixpoint vs Spark's label
    // propagation must agree doc-for-doc.
    "dedup_components" ->
      """WITH RECURSIVE
        | t AS (SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS tok
        |       FROM documents),
        | s AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
        | p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        |       FROM t a JOIN t b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        | pairs AS (SELECT doc_a, doc_b
        |           FROM p JOIN s sa ON p.doc_a = sa.doc_id
        |                  JOIN s sb ON p.doc_b = sb.doc_id
        |           WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.95),
        | e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |       UNION ALL SELECT doc_b, doc_a FROM pairs),
        | r(a, b) AS (SELECT a, b FROM e
        |             UNION
        |             SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
        | lab AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component_id
        |         FROM r GROUP BY a)
        |SELECT doc_id, component_id,
        | COUNT(*) OVER (PARTITION BY component_id) AS component_size
        |FROM lab ORDER BY doc_id""".stripMargin
    // minhash_lsh / simhash: sketch-based, engine-specific hashes → rows-only
    // gate; recall property-tested against dedup_near in LlmSpec.
  )
}
