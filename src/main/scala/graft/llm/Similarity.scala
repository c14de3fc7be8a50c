package graft.llm

import graft.{Q, Tables}
import graft.Q.QFn
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Similarity search over the `embeddings` table (SURVEY.md §2d):
 * brute-force cosine top-k as the exact baseline, kNN label vote on top,
 * embedding-space near-dup pairs, and an IVF-bucketed ANN variant as the
 * scale path.
 *
 * All dot products promote float elements to double inside the lambda
 * (float×float would round differently from DuckDB's double math), and
 * cosine is always dot / (sqrt(na)·sqrt(nb)) — the same expression the
 * oracle SQL spells out, rounded to 4 dp on both engines.
 *
 * Scale notes (100 TB): probes are broadcast (a probe set is small by
 * definition), so brute-force is a single scan of the corpus — no
 * shuffle — followed by a per-probe top-k window over (probe_id), which
 * aggregates k·#partitions rows. The O(n²) self-join in `embed_neardup`
 * is the oracle stand-in; `ann_ivf` is the scale path: corpus assigned
 * to nearest centroid once (nlist buckets), probes search nprobe
 * buckets → candidate set is nprobe/nlist of the corpus. Centroids here
 * derive from the label column (k-means lives upstream in a real
 * pipeline); the mechanism — bucket join + in-bucket rerank — is the
 * part that must scale.
 */
object Similarity {

  /** dot(a, b) in double via zip_with + aggregate — the general HOF form
    * (works for any numeric element type, e.g. double centroids). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** dot over float arrays via the codegen'd kernel ([[graft.plans.DotF32]])
    * — same left-to-right double accumulation as the HOF form (bit-identical
    * results, so the DuckDB oracle is unaffected), ~no per-element lambda
    * dispatch or intermediate array. */
  def dotFast(a: Column, b: Column): Column = graft.plans.VectorExprs.dotF32(a, b)

  def sumSq(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))

  /** cosine(a, b) over float vectors, rounded to 4 dp (§7d rule 3). */
  def cos4(a: Column, b: Column): Column =
    round(dotFast(a, b) / (sqrt(dotFast(a, a)) * sqrt(dotFast(b, b))), 4)

  /** The calibrated exact near-dup cosine threshold — ONE knob shared by
    * every Spark arm and every oracle spelling that claims "embed_neardup's
    * predicate" (embed_neardup, simjoin_auto, dedup_semantic[_verdict],
    * Graph.graph_diversity_select). Recalibrating it here moves all of
    * them together; a drifted copy was the review-pass risk this removes. */
  val NeardupCos = 0.35

  /** cosine from a pairwise dot and per-side precomputed squared norms —
    * norms are attached to each side BEFORE the pair join, saving 2/3 of
    * the kernel work on O(n²) pair streams. Same arithmetic, same value. */
  def cos4Pre(dotAB: Column, sqA: Column, sqB: Column): Column =
    round(dotAB / (sqrt(sqA) * sqrt(sqB)), 4)

  /** Exact top-k neighbors for the fixed probe set vec_id < 10. */
  def bruteTopK(s: SparkSession, d: String, k: Int): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"),
        dotFast(col("embedding"), col("embedding")).as("sq"))
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("sq").as("p_sq"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("label"),
        cos4Pre(dotFast(col("p_emb"), col("embedding")), col("p_sq"), col("sq"))
          .as("cos_sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /**
   * Matryoshka-style two-stage retrieval (round 9; Kusupati et al.
   * 2022, "Matryoshka Representation Learning", arXiv:2205.13147 —
   * public): score every candidate with the PREFIX of the embedding
   * (first 16 of 64 dims — MRL-trained embeddings front-load
   * information exactly so this truncation works), keep the top
   * rerankFactor·k per probe, then rerank those exactly on the full
   * vector. The coarse pass streams 4× fewer floats per candidate —
   * at 100 TB the scan is memory-bandwidth-bound, so the prefix dot is
   * the same class of win as PQ's code stream, WITHOUT a trained
   * codebook (useful when the index must be built in one pass).
   *
   * Unlike the k-means family this is fully deterministic — both
   * stages are rounded cosines with vec_id tiebreaks — so the row is
   * ORACLE-CHECKED (rare for an ANN op): DuckDB ranks the same
   * 4-dp-rounded prefix cosine, cuts the same rerank window, and
   * reranks the same full cosine, hash-equal. Recall vs the exact
   * top-k is additionally property-gated in LlmSpec: 0.94 measured at
   * sf0.01 even on this UNTRAINED corpus (the prefix carries ~1/4 of
   * the energy; the 64×k rerank window absorbs the blur), gated ≥ 0.8.
   */
  def annMrl(s: SparkSession, d: String, k: Int,
      rerankFactor: Int = PqRerankFactor): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        expr(s"slice(embedding, 1, $MrlPrefixDim)").as("e16"),
        dotFast(col("embedding"), col("embedding")).as("sq"))
      .withColumn("sq16", dotFast(col("e16"), col("e16")))
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("e16").as("p16"), col("sq").as("p_sq"), col("sq16").as("p_sq16"))
    val wCoarse = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos16").desc, col("vec_id"))
    // The coarse cut carries ONLY (probe_id, vec_id, cos16) into its
    // window exchange — the annPq discipline: shuffling the full
    // 64-float payload for every candidate would put ~520 bytes/row
    // through the exchange and negate the prefix-bandwidth win; the
    // 320 survivors re-join the corpus (and the 10-row probe frame) to
    // fetch floats for the exact rerank.
    val cands = emb.crossJoin(broadcast(probes.select(col("probe_id"),
        col("p16"), col("p_sq16"))))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cos4Pre(dotFast(col("p16"), col("e16")), col("p_sq16"), col("sq16"))
          .as("cos16"))
      .withColumn("crn", row_number().over(wCoarse))
      .filter(col("crn") <= rerankFactor * k)
      .select(col("probe_id"), col("vec_id"))
    val wTop = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    cands
      .join(emb.select(col("vec_id"), col("embedding"), col("sq")), "vec_id")
      .join(broadcast(probes.select(col("probe_id"), col("p_emb"),
        col("p_sq"))), "probe_id")
      .select(col("probe_id"), col("vec_id"),
        cos4Pre(dotFast(col("p_emb"), col("embedding")), col("p_sq"),
          col("sq")).as("cos_sim"))
      .withColumn("rn", row_number().over(wTop).cast("long"))
      .filter(col("rn") <= k)
      .orderBy(col("probe_id"), col("rn"))
  }

  // ---- Random-hyperplane LSH (pairwise vector near-dup at scale) ----
  //
  // The missing twin of minhash_lsh on the embedding side (VERDICT.md r1
  // item 3): `embed_neardup` is an all-pairs cartesian — correct as the
  // oracle stand-in, quadratic at 100 TB. Here each vector gets a 192-bit
  // sign signature against fixed Gaussian hyperplanes; 16 bands × 12 bits
  // turn the pair stream into a bucket self-join. P(bit match) for angle
  // θ is 1 − θ/π, so a cos-0.97 near-dup pair matches a 12-bit band with
  // p≈0.92^12≈0.38 and survives 16 bands with ≈0.9995 recall, while a
  // random pair (cos≈0, p=0.5) survives with ≈16·0.5^12 ≈ 0.4% — the
  // candidate set is ~250× smaller than all-pairs, then exact-cosine
  // verified with the DotF32 kernel. NOTE this corpus has no planted
  // vector dups (max pairwise cos ≈ 0.5, pure Gaussian tail — measured),
  // so recall is property-tested with planted noisy copies in LlmSpec;
  // the registry query reports the verified strongest candidates.

  val HplBitsPerBand = 12
  val HplBands = 16
  val HplBits: Int = HplBitsPerBand * HplBands // 192

  /** Widest band the plane pool supports. 24 bits = 16.7 M buckets per
    * band — enough to keep occupancy O(1) to ~10⁸ vectors; past that the
    * knob to turn is MORE BANDS (recall), not more bits. */
  val HplMaxBitsPerBand = 24

  /** Conf: bits per band — "auto" (default) sizes the band width from
    * the corpus' estimated row count; an integer pins it. */
  val HplBitsKey = "spark.graft.hyperplane.bitsPerBand"

  /** Fixed-seed Gaussian hyperplanes, generated once at the maximum
    * width (16 bands × 24 bits = 384 planes ≈ 98 KB as a plan constant);
    * a narrower configuration uses the leading slice, so the first 192
    * planes — and therefore every 12-bit signature — are bit-identical
    * to rounds 1–4. Signatures are a pure function of the vector:
    * reproducible across sessions and executors. */
  private lazy val hyperplanes: Seq[Seq[Float]] = {
    val rng = new java.util.Random(0x6e617264L) // deterministic (JVM LCG spec)
    Seq.fill(HplBands * HplMaxBitsPerBand)(Seq.fill(64)(rng.nextGaussian().toFloat))
  }

  /** The same planes flattened row-major for the codegen kernel. */
  private lazy val hyperplanesFlat: Array[Float] =
    hyperplanes.flatten.toArray

  /**
   * Band width for this corpus — the fix for the ONE quadratic growth
   * the r5 stress sweep found: with a FIXED 12-bit band the bucket
   * count per band is constant (4096), so occupancy grows ∝ n and
   * candidate pairs grow ∝ n² (measured 1.17 M → 115 M over a 10×
   * span, e ≈ 2.0). Scaling bits with log₂(n) holds occupancy — and so
   * candidates-per-row — roughly constant: bits = ⌈log₂(n)⌉ − 3 targets
   * ~8 rows per bucket (re-measured after the fix: 1.17 M → 17.6 M over
   * the same 10× span, e ≈ 1.18 — the residual over 1.0 is the discrete
   * bit steps, 12→13→15 bits across the three scales). Clamped to
   * [12, 24]: never narrower than the calibrated
   * default (test-scale corpora keep their round-1–4 signatures
   * bit-for-bit), never wider than the plane pool. Recall trade, from
   * P(bit) = 1 − θ/π: planted-dup pairs (cos ≥ 0.99) keep ≈ 1.0 recall
   * at any width here; boundary pairs (cos ≈ 0.9) drop from ≈ 0.93
   * (12 bits) to ≈ 0.81 (15 bits) — at the corpus sizes that trigger
   * widening, raise `HplBandsKey`-equivalent geometry via this conf or
   * accept the trade (documented in SURVEY §2d). The estimate is
   * driver-side plan stats via [[graft.plans.StatsEst]] (rowCount when
   * the plan or its leaves carry one — ANALYZE, Range — else leaf bytes
   * over ~280 B/row, the measured on-disk size of an incompressible
   * 64-float row) — no job runs to decide, same contract as
   * maybeBroadcast and the simjoin rewrite. The divisor is the SHARED
   * per-modality compressed constant ([[graft.plans.StatsEst
   * .EstRowBytesVec]] = 40, ADVICE r5): the first cut used 280 B here
   * while the simjoin rewrite estimated the same modality at 40 B —
   * under-counting rows ~7× on the compressible test corpora, sizing
   * bands ~3 bits narrower than target and re-admitting ~8× bucket
   * occupancy (partially the quadratic this fix exists to kill).
   * Over-counting (real corpora compress less) errs WIDE, which only
   * costs recall at the documented boundary regime — the safe side.
   */
  private[graft] def bitsPerBandFor(emb: DataFrame): Int = {
    val conf = emb.sparkSession.conf
    conf.get(HplBitsKey, "auto") match {
      case "auto" =>
        val estRows = graft.plans.StatsEst.estimatedRows(
          emb.queryExecution.optimizedPlan, graft.plans.StatsEst.EstRowBytesVec)
        val bits = math.ceil(
          math.log(estRows.max(BigInt(1)).toDouble) / math.log(2)).toInt - 3
        math.min(HplMaxBitsPerBand, math.max(HplBitsPerBand, bits))
      case pinned =>
        // Validate HERE, naming the conf key: an unvalidated over-pool
        // width that happens to divide the plane pool (e.g. 32, since
        // 24576 % 2048 == 0) would make hyperplanesFlat.take return the
        // whole pool and the kernel silently re-derive 12 bands × 32
        // bits — quietly lowering recall; non-numeric pins would fail
        // later with an obscure kernel type-check error (ADVICE r5).
        val b = try pinned.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$HplBitsKey must be 'auto' or an integer, got '$pinned'")
        }
        require(b >= 1 && b <= HplMaxBitsPerBand,
          s"$HplBitsKey=$b out of range [1, $HplMaxBitsPerBand]")
        b
    }
  }

  /** vec_id, embedding, squared norm, and the 16 packed band keys —
    * round 4: computed by the [[graft.plans.HyperplaneBands]] kernel (one
    * embedding read, sign bits folded in place) instead of per-plane
    * DotF32 calls inside a transform lambda plus an aggregate bit fold
    * (the HOF spelling; kernel parity-pinned in KernelSpec). Band width
    * is corpus-sized by [[bitsPerBandFor]]. */
  def hyperplaneSigs(emb: DataFrame): DataFrame = {
    val bits = bitsPerBandFor(emb)
    emb.select(col("vec_id"), col("embedding"),
      dotFast(col("embedding"), col("embedding")).as("sq"),
      graft.plans.VectorExprs.hyperplaneBands(
        col("embedding"), hyperplanesFlat.take(HplBands * bits * 64),
        bits, 64).as("bands"))
  }

  /** The HOF reference formulation of [[hyperplaneSigs]]'s band keys —
    * kept ONLY as the parity oracle for KernelSpec. */
  private[graft] def hyperplaneBandsHof(emb: Column): Column = {
    val planes = typedlit(hyperplanes)
    transform(sequence(lit(0), lit(HplBands - 1)), b =>
      aggregate(
        slice(transform(sequence(lit(0), lit(HplBits - 1)), h =>
            when(dotFast(emb, element_at(planes, h + 1)) > 0, 1).otherwise(0)),
          b * HplBitsPerBand + 1, lit(HplBitsPerBand)),
        lit(0), (acc, x) => acc * 2 + x))
  }

  /** LSH candidate pairs + exact verified cosine ≥ thresh. Candidate
    * generation is a band-key self-join (one shuffle by band key, never
    * all-pairs); verification attaches vectors per side — broadcast at
    * this sf, flips to a shuffle join on vec_id once the corpus outgrows
    * broadcast (same note as minhash_lsh). */
  /** Band-bucket candidate stage of [[hyperplanePairs]] — split out so
    * scale instrumentation (StressBench) counts candidates with the same
    * code the operator runs (the sub-quadratic growth claim is about
    * THIS frame, not the verified output). */
  private[graft] def hyperplaneCandidatePairs(sigs: DataFrame): DataFrame = {
    val banded = sigs
      .select(col("vec_id"), posexplode(col("bands")))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("bkey"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
  }

  /** Candidate pairs straight from an embeddings frame — the
    * instrumentation entry point. */
  def lshCandidates(emb: DataFrame): DataFrame =
    hyperplaneCandidatePairs(hyperplaneSigs(emb))

  def hyperplanePairs(emb: DataFrame, thresh: Double): DataFrame = {
    // Persisted for the same reason as minhashLsh's per-doc frame: four
    // subtrees (both banding sides + both verify sides) would recompute
    // the 192-dot signature scan; the runner clearCache()s between queries.
    val sigs = graft.Q.ownPersist(hyperplaneSigs(emb)).df
    val cands = hyperplaneCandidatePairs(sigs)
    val sides = sigs.select(col("vec_id"), col("embedding"), col("sq"))
    // Conf-gated broadcast (graft.Q.maybeBroadcast): below the row
    // threshold the per-vector side table broadcasts; above, the planner
    // shuffles the candidate stream on vec_id instead of OOMing a hint.
    cands
      .join(Q.maybeBroadcast(sides.select(col("vec_id").as("vec_a"),
        col("embedding").as("ea"), col("sq").as("sqa"))), "vec_a")
      .join(Q.maybeBroadcast(sides.select(col("vec_id").as("vec_b"),
        col("embedding").as("eb"), col("sq").as("sqb"))), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        cos4Pre(dotFast(col("ea"), col("eb")), col("sqa"), col("sqb")).as("cos_sim"))
      .filter(col("cos_sim") >= thresh)
  }

  /** Exact all-pairs cosine ≥ thresh over (vec_id, embedding) as
    * `(vec_a, vec_b, cos_sim)`. Squared norms are computed once per
    * vector, not per pair. Both predicates live in the join condition,
    * CHEAP ONE FIRST: a post-join `.filter(cos >= t)` gets pushed into
    * the BNLJ condition *ahead of* `vec_a < vec_b` (measured via
    * explain), making every ordered pair pay the 64-dim kernel —
    * hand-ordering the conjuncts halves the evaluations and
    * short-circuits the expensive one. Quadratic by design: the oracle
    * stand-in and the small-corpus arm of the simjoin rewrite; the scale
    * arm is [[hyperplanePairs]]. */
  def exactPairs(emb: DataFrame, thresh: Double): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"),
      dotFast(col("embedding"), col("embedding")).as("sq"))
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("sq").as("sqa"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("sq").as("sqb"))
    val cos = cos4Pre(dotFast(col("ea"), col("eb")), col("sqa"), col("sqb"))
    a.join(b, col("vec_a") < col("vec_b") && cos >= thresh)
      .select(col("vec_a"), col("vec_b"), cos.as("cos_sim"))
  }

  /**
   * Full kNN-GRAPH build (round 10) — the JOIN form of similarity
   * search: top-k nearest neighbors for EVERY corpus vector, not just
   * a probe set (sim_topk answers 10 probes; this materializes the
   * neighbor graph that semantic dedup, label propagation, kNN
   * classification at corpus scale, and graph-based curation consume).
   * Exact arm: all-pairs rounded cosine + per-src top-k window — the
   * O(n²) oracle stand-in, embed_neardup's discipline (norms attached
   * per side BEFORE the pair join; the window input carries only
   * (src, dst, cos_sim)). Scale arm: [[knnGraphBlocked]].
   */
  def knnGraph(emb: DataFrame, k: Int): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"),
      dotFast(col("embedding"), col("embedding")).as("sq"))
    val a = e.select(col("vec_id").as("src"), col("embedding").as("ea"),
      col("sq").as("sqa"))
    val b = e.select(col("vec_id").as("dst"), col("embedding").as("eb"),
      col("sq").as("sqb"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos_sim").desc, col("dst"))
    a.join(b, col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        cos4Pre(dotFast(col("ea"), col("eb")), col("sqa"), col("sqb"))
          .as("cos_sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .orderBy(col("src"), col("rn"))
  }

  /**
   * kNN graph via MULTI-PROBE IVF — the 100 TB arm of [[knnGraph]]:
   * every vector acts as its own probe and pairs with the vectors of
   * its nprobe nearest k-means buckets (single-cluster SemDeDup
   * blocking was measured at 0.24 edge recall on this near-uniform
   * corpus — generic kNN neighbors, unlike near-dups, do NOT
   * concentrate in one cell; multi-probe is what IVF search itself
   * does for exactly this reason). Stages: (1) per-row top-nprobe
   * bucket choice — the centroid table rides as an expression literal
   * (bounded ≤ 4096 centroids, the documented collect bound) and the
   * L2 argsort happens INSIDE the row projection, so bucket choice
   * adds zero shuffle, exactly like the codegen'd argmin of
   * [[assignClusters]]; (2) explode to n·nprobe (src, bucket) rows;
   * (3) bucket equi-join against the assigned corpus — everything
   * shuffles by bucket id; (4) per-src top-k window over the narrow
   * (src, dst, cos_sim) stream. Candidate volume: n sources × nprobe
   * buckets × n/nlist per bucket ≈ 1.5·n^1.75 at the (nlist ≈ √n,
   * nprobe ≈ 1.5·√nlist) geometry — sub-quadratic by the n^0.25 the
   * probed fraction shrinks with, and deliberately NOT the
   * single-cluster n^1.5 (that geometry measured 0.24 edge recall
   * here: multi-probe buys its recall by paying an nprobe factor).
   * Committed r11 stress fit s1→s3 e_time 1.25 at s1 10.8 s / s3
   * 42.7 s (final-HEAD sweep; an earlier idle-window sweep measured
   * 9.2/36.0, e 1.237) — the codegen'd bucket-choice kernel cut the
   * constants 18–23% vs the r10 HOF sweep (11.9/43.7 s, e 1.18,
   * idle-to-idle; smaller fixed
   * costs expose more of the analytic exponent, which a one-off r10
   * s10 probe at 509 s had already put at ≈ 1.6 over the longer
   * span). LlmSpec gates edge recall vs the exact graph. Non-oracle
   * (k-means centroids), rows-only check. For workloads that need the
   * full graph cheaper, [[knnGraphRefine]] seeds here and refines at
   * linear n·k² per round (r11 final-HEAD fit: e_time 0.896).
   */
  def knnGraphBlocked(emb: DataFrame, k: Int): DataFrame = {
    val (nlist, nprobe) = ivfGeometry(emb, 1)
    val (centroids, assigned0) = trainAssign(emb, nlist)
    // Handle intentionally discarded (ADVICE r10): the cache must live
    // until the caller materializes the RESULT frame built over it, so
    // its release belongs to the runner's per-query clearCache, the
    // repo-wide lifecycle for operator-persisted intermediates.
    val assigned = graft.Q.ownPersist(assigned0).df
    // Bounded collect (≤ 4096 centroids — same bound as the PQ LUT
    // literals): the centroid table becomes a per-row expression so
    // bucket choice never shuffles the corpus.
    // Float-cast-then-double matches the value the assignment kernel
    // actually compares against (NearestCentroidF32 carries float
    // centroids), so a vector's nearest probe bucket agrees with its
    // own assigned cl up to exact ties.
    val cb = centroids.collect()
      .map(r => (r.getInt(0).toLong,
        r.getSeq[Double](1).map(_.toFloat).toArray))
      .sortBy(_._1)
    // r11 (VERDICT r10 #4): bucket choice is the codegen'd top-nprobe
    // kernel — the centroid matrix rides into whole-stage codegen as a
    // ≤ 1 MB plan constant exactly like the assignment argmin's, so the
    // per-row L2-vs-all-centroids argsort that was an interpreted HOF
    // (transform→array_sort→slice, ~nlist× the work and outside codegen)
    // is now a tight primitive loop. Bit-parity with the HOF spelling
    // ([[nearBucketsHofSql]]) is pinned by KernelSpec, including exact
    // ties (ascending-cl order).
    val dim = cb.headOption.map(_._2.length).getOrElse(0)
    val nearBuckets = graft.plans.VectorExprs.nearestCentroids(
      col("ea"), cb.flatMap(_._2), cb.map(_._1), dim, nprobe)
    val srcProbes = emb
      .select(col("vec_id").as("src"), col("embedding").as("ea"),
        dotFast(col("embedding"), col("embedding")).as("sqa"))
      .select(col("src"), col("ea"), col("sqa"),
        explode(nearBuckets).as("cl"))
    val corpus = assigned.select(col("cl").cast("long").as("cl"),
      col("vec_id").as("dst"), col("embedding").as("eb"),
      dotFast(col("embedding"), col("embedding")).as("sqb"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos_sim").desc, col("dst"))
    srcProbes.join(corpus, Seq("cl"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        cos4Pre(dotFast(col("ea"), col("eb")), col("sqa"), col("sqb"))
          .as("cos_sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .orderBy(col("src"), col("rn"))
  }

  /** The interpreted HOF spelling of the top-nprobe bucket choice that
    * [[graft.plans.NearestCentroidsF32]] replaced (r11) — retained as
    * the kernel's parity ORACLE: KernelSpec evaluates both over the
    * same centroid pack and asserts bit-identical id arrays, exact
    * ties included. Reads columns `ea` (array<float>), `cbv`
    * (array<array<double>>, float-cast-then-double centroid values in
    * ascending-id order) and `cbi` (array<bigint>, the matching ids). */
  private[graft] def nearBucketsHofSql(nCent: Int, nprobe: Int): String =
    s"""transform(
       |  slice(array_sort(transform(sequence(1, $nCent),
       |    j -> struct(
       |      aggregate(zip_with(ea, element_at(cbv, j),
       |        (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
       |        CAST(0.0 AS DOUBLE), (a, v) -> a + v) AS d,
       |      element_at(cbi, j) AS cl))), 1, $nprobe),
       |  s -> s.cl)""".stripMargin

  /** The (vec_id, embedding, sq) projection every refine round joins
    * against — squared norms computed once per vector, shared across
    * rounds via one persist. */
  private[graft] def refineEmbFrame(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      dotFast(col("embedding"), col("embedding")).as("sq"))

  /** One NN-descent round: degree-capped undirected adjacency →
    * shared-endpoint closure join → exact re-score → per-src top-k.
    * `eOwned` is the persisted [[refineEmbFrame]]; `edges` the current
    * persisted edge frame (NOT released here — the caller owns it).
    * Returns the next round's persisted, materialized edge frame.
    * Package-visible so LlmSpec can drive rounds incrementally off ONE
    * blocked seed: the seed's k-means nondeterminism makes recall
    * comparisons across separate knnGraphRefine invocations invalid,
    * and the monotonicity property below is within-seed by nature. */
  private[graft] def refineRound(eOwned: graft.Q.Owned, edges: graft.Q.Owned,
      k: Int): graft.Q.Owned = {
    val (plan, und) = refineRoundPlan(eOwned, edges, k)
    val next = graft.Q.ownPersist(plan)
    next.df.count()
    und.release()
    next
  }

  /** The round as a LAZY plan plus the round's internal adjacency cache
    * (r17 optimization round; guide §1.2/§2.4). Split from
    * [[refineRound]] so [[knnGraphNndBody]] can `localCheckpoint` the
    * plan DIRECTLY — one materialization pass per round instead of the
    * pre-r17 persist+count inside refineRound followed by a second
    * cache-read pass into the checkpoint. The caller must release the
    * returned adjacency cache once the plan is materialized. */
  private[graft] def refineRoundPlan(eOwned: graft.Q.Owned,
      edges: graft.Q.Owned, k: Int): (DataFrame, graft.Q.Owned) = {
    val wCap = Window.partitionBy(col("src"))
      .orderBy(col("cos_sim").desc, col("dst"))
    // Degree-capped undirected adjacency: ≤ 2k rows per node, ranked
    // by (cos desc, dst) — a node in a hub-dense region CAN have its
    // own out-edges outranked by ≥ 2k stronger in-pointers, which is
    // why the candidate pool below re-includes the uncapped current
    // edges; the cap's job is only to bound the closure join.
    // ONE exchange for dedup + rank (r17, guide §2.4 "share one
    // exchange"): an explicit repartition by src satisfies BOTH the
    // (src, dst) grouped dedup (clustering by a key subset co-locates
    // every (src, dst) group) and the per-src rank window — the
    // pre-r17 shape paid two back-to-back exchanges, hash(src, dst)
    // then hash(src), over the same 2·n·2k-row stream. Same rows out:
    // the dedup and the (cos desc, dst)-ordered rank are deterministic
    // under any physical layout.
    val und = graft.Q.ownPersist(edges.df
      .union(edges.df.select(col("dst").as("src"), col("src").as("dst"),
        col("cos_sim")))
      .repartition(col("src"))
      .groupBy(col("src"), col("dst")).agg(max(col("cos_sim")).as("cos_sim"))
      .withColumn("cr", row_number().over(wCap))
      .filter(col("cr") <= 2 * k)
      .select(col("src"), col("dst")))
    // No eager count (r18): the flat leaf below captures the PERSISTED
    // plan's RDD, so the first consumer inside the round's one
    // materialization job computes-and-caches each partition and every
    // later reference reads the cache — the pre-r18 count() was a whole
    // extra pass over the adjacency per round (5 rounds × nk rows) that
    // bought nothing but eagerness (guide §5: one materialization pass
    // per round). Release ordering is unchanged: the caller releases
    // `und` only after the round's checkpoint materializes. Caveat: the
    // compute-once guarantee of a cold cache holds per block manager,
    // so on a multi-executor cluster (unlike the local[N] runs) both
    // self-join sides can recompute the persisted subtree on different
    // executors inside that one job — duplicated work, not wrong
    // results (ROADMAP Open item 1).
    // Self-join over a FLAT LEAF of the materialized cache, not the
    // persisted plan (r18): when `edges` is a partitioning-claimed
    // checkpoint leaf, the analyzer's self-join dedup rewrites one
    // branch's attribute ids and the claimed HashPartitioning's ids no
    // longer canonicalize against the CacheManager entry — that branch
    // silently RECOMPUTED the whole adjacency build inline (measured:
    // +2 stages, +2x0.7 MB shuffle per round; the only repo instance of
    // the hazard, now documented on the shim). A leaf self-join shares
    // one RDD on both sides, so no cache lookup can miss; the leaf also
    // carries the cache's hash(src) layout for the closure join's y
    // side and the downstream dedup/window.
    val undLeaf = org.apache.spark.sql.GraftShims.flattenToLeaf(und.df)
    // Candidate pool = the capped closure ∪ the capped adjacency ∪
    // the UNCAPPED current edges: the cap may evict a node's own
    // out-edges (≥ 2k stronger in-pointers outrank its weakest
    // out-edge), so re-including edges.df — only n·k rows — makes
    // each round's per-src top-k a superset selection over its
    // current edges. Displacement then implies membership: the exact
    // top-k is the k best under the same (cos desc, dst) total order,
    // so anything that outranks a kept exact-top-k row is itself
    // exact-top-k — per-src recall is MONOTONE non-decreasing across
    // rounds by construction (r11 review pass; pinned by LlmSpec's
    // per-src monotonicity test).
    // Candidate dedup + final rank share ONE exchange too (r17, same
    // §2.4 move as `und` above): repartition the union by src, then
    // the (src, dst) dedup AND the downstream per-src top-k window —
    // the broadcast embedding attaches preserve partitioning — all run
    // inside that one shuffle. The pre-r17 shape exchanged the widest
    // frame of the round (the ≤ 4·n·k² candidate stream) twice:
    // hash(src, dst) for distinct(), hash(src) for the window.
    val cand = undLeaf.as("x").join(undLeaf.as("y"),
        col("x.dst") === col("y.src"))
      .select(col("x.src").as("src"), col("y.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
      .union(undLeaf)
      .union(edges.df.select(col("src"), col("dst")))
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
    // Embedding attach via Q.maybeBroadcast (r12, found at stress s30):
    // the per-vector side (~300 B/row) outgrows Spark's auto-broadcast
    // estimate from ~30 k vectors, so unhinted these joins sort-merge —
    // each round then SORTS the ≤ 4·n·k² candidate stream twice (its
    // widest frames), and at 600 k vectors (s30) the round drowns in
    // sort spill: 829 s vs 63 s at s10, gc only 1.2% of wall. With the
    // conf-gated broadcast (8M-row threshold, falling back to the
    // shuffle join a cluster-scale corpus needs) the candidate stream
    // never sorts for the attach — only the per-src top-k window
    // shuffles it, as (src, dst, cos) narrow rows.
    val scored = cand
      .join(Q.maybeBroadcast(eOwned.df.select(col("vec_id").as("src"),
        col("embedding").as("ea"), col("sq").as("sqa"))), Seq("src"))
      .join(Q.maybeBroadcast(eOwned.df.select(col("vec_id").as("dst"),
        col("embedding").as("eb"), col("sq").as("sqb"))), Seq("dst"))
      .select(col("src"), col("dst"),
        cos4Pre(dotFast(col("ea"), col("eb")), col("sqa"), col("sqb"))
          .as("cos_sim"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos_sim").desc, col("dst"))
    val plan = scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("src"), col("dst"), col("cos_sim"))
    (plan, und)
  }

  /**
   * NN-DESCENT refinement of the kNN graph (round 11, VERDICT r10 #5)
   * — the standard CPU route BELOW [[knnGraphBlocked]]'s n^1.75
   * candidate class (Dong, Moses & Li, "Efficient k-nearest neighbor
   * graph construction for generic similarity measures", WWW 2011):
   * seed with the multi-probe graph's edges, then iterate the local
   * closure "my neighbor's neighbors are probably my neighbors" —
   * each round scores the UNION of current edges and
   * neighbor-of-neighbor candidates over the UNDIRECTED graph
   * (reversed edges included: a vector that many others point at is a
   * hub worth exploring through), keeps top-k per src, and converges
   * in 2–3 rounds because the graph's diameter under this closure
   * shrinks geometrically.
   *
   * Scale shape: each round is (a) a per-node DEGREE-CAPPED undirected
   * adjacency build — out-edges plus reverse edges, ranked by cos and
   * truncated to 2k per node (NN-descent's reverse-neighbor SAMPLING:
   * without the cap, hub vectors that thousands of nodes point at
   * contribute deg² candidate pairs and the closure goes quadratic in
   * the hub degree — the uncapped first cut measured 150 s at stress
   * s1 against the seed's 9 s for exactly this reason; the capped
   * closure is the algorithm as published, ρ·k sampled neighbors, made
   * deterministic by ranking on (cos desc, dst) instead of sampling) —
   * then (b) the self-join of that capped list on the shared endpoint,
   * ≤ 4·n·k² candidate rows by construction, LINEAR in n for fixed k
   * (vs blocked's n^1.75), (c) two vec_id-keyed embedding joins to
   * attach vectors, and (d) one per-src top-k window. All shuffles key
   * on vec_id/src; no stage ever holds more than O(n·k²) narrow rows.
   * The embedding side is persisted once across rounds; each round's
   * edge frame is materialized and the previous round's released (the
   * fixpoint-loop cache discipline of connectedComponents).
   *
   * Non-oracle (the seed inherits k-means nondeterminism); LlmSpec
   * gates edge recall ≥ 0.85 vs the exact graph at sf0.01 — above the
   * blocked seed's measured 0.753, i.e. refinement must BUY recall,
   * not just move cost.
   */
  def knnGraphRefine(emb: DataFrame, k: Int, rounds: Int = 2): DataFrame = {
    val eOwned = graft.Q.ownPersist(refineEmbFrame(emb))
    // One materialization per round (r17, the knnGraphNndBody shape):
    // seed and rounds are eager localCheckpoints — the pre-r17 loop
    // persisted+counted each round inside refineRound, a second full
    // pass per round; checkpointing the round PLAN materializes once
    // and truncates the (blocked-seed-sized) lineage as a bonus.
    var edges = org.apache.spark.sql.GraftShims.localCheckpointKeepPartitioning(
      knnGraphBlocked(emb, k)
        .select(col("src"), col("dst"), col("cos_sim")))
    var r = 0
    while (r < rounds) {
      // r18 (VERDICT r17 #3): partitioning-preserving checkpoints — the
      // round plan ends in the per-src top-k window, so the leaf's rows
      // are hash(src)-laid-out; claiming that layout makes the FINAL
      // ranking window below (and any hash(src)-keyed consumer of the
      // returned graph) exchange-free. The within-round union legs
      // still repartition — a union output carries no partitioning
      // regardless of its legs, so the round-internal exchanges are
      // genuine re-keying, not claim losses.
      val (plan, und) = refineRoundPlan(eOwned,
        graft.Q.Owned(edges, owned = false), k)
      val ck = org.apache.spark.sql.GraftShims
        .localCheckpointKeepPartitioning(plan)
      und.release()
      org.apache.spark.sql.GraftShims.unpersistLeafRdd(edges)
      edges = ck
      r += 1
    }
    // Final ranking only — the rounds carry exact cos_sim with them, so
    // no re-scoring join: the same output shape as knnGraph/
    // knnGraphBlocked, making the three arms drop-in twins.
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos_sim").desc, col("dst"))
    // The final checkpoint backs the returned lazy frame — registered
    // for the runner's post-materialization drain (ADVICE r13); the
    // embedding cache is runner-released per the documented handle-leak
    // convention (ADVICE r10), as is knnGraphBlocked's assigned cache.
    graft.Q.registerCheckpoint(edges)
      .withColumn("rn", row_number().over(w).cast("long"))
      .orderBy(col("src"), col("rn"))
  }

  /**
   * End-to-end LINEAR kNN-graph build (round 11, completing VERDICT r10
   * #5): NN-descent over a hyperplane-LSH + hash-ring seed instead of
   * [[knnGraphRefine]]'s multi-probe seed. The refine arm buys its
   * recall from a seed that is itself the n^1.75 blocked graph, so that
   * PIPELINE stays super-linear end-to-end; this arm replaces the seed
   * with two linear-class frames and lets the descent rounds do the
   * locality work (Dong, Moses & Li, WWW 2011 seed from RANDOM graphs —
   * the LSH seed is strictly better-informed than that):
   *
   *   - hyperplane-LSH candidate pairs ([[hyperplaneCandidatePairs]],
   *     the embed_lshpairs machinery: HplBands bands × stats-sized
   *     bits; measured e_time 0.63 / e_rows ~1.15 as
   *     embed_lsh_candidates in BENCH_stress.json) — locality;
   *   - a deterministic hash-ring (pmod(xxhash64(vec_id), ≈n̂/64)
   *     buckets; lead() over the per-bucket id order is a PARTITIONED
   *     window, no global sort) — ≥ 1 edge per node even where LSH
   *     isolates it (singleton hash buckets are the only gap at ~64
   *     expected occupancy), and the random-exploration edges the
   *     published algorithm seeds with.
   *
   * Both frames are scored exactly, symmetrized, and cut to top-K per
   * src at a WORKING degree K = max(12, 4k); then [[refineRound]] — the
   * identical machinery knnGraphRefine uses, same 2K degree cap, same
   * monotone per-src recall — runs `rounds` times at K, and only the
   * final ranking cuts to the caller's k. The working degree is the
   * published algorithm's load-bearing knob: descent explores through a
   * node's CURRENT neighbor list, and at small K the closure frontier
   * is too narrow to escape a weak seed. Measured recall@3 per round on
   * the sf0.01 corpus (seed 0.05 — generic kNN neighbors share a
   * near-dup-sized band only ~11% of the time, so the seed is
   * ring-random plus a high-cos LSH backbone): K=3 → 0.12 end-state;
   * K=8 → 0.09/0.25/0.45/0.63/0.73/0.76, plateauing BELOW the family
   * gate; K=12 → 0.09/0.35/0.74/0.90/0.94/0.95 — the geometric
   * neighborhood-doubling the convergence argument needs, restored.
   * Each round is ≤ 4·n·K² candidate rows — the K² constant and the
   * round count trade LINEAR factors for recall, never the n^1.75
   * class.
   *
   * Deterministic given catalog stats (band widths are stats-sized,
   * like the IVF geometry), so rows-only rather than oracle-pinned;
   * LlmSpec gates edge recall vs the exact graph at sf0.01.
   */
  def knnGraphNnd(emb: DataFrame, k: Int, rounds: Int = 5): DataFrame = {
    val nEst = graft.plans.StatsEst.estimatedRows(
        emb.queryExecution.optimizedPlan, graft.plans.StatsEst.EstRowBytesVec)
      .max(BigInt(1)).toLong
    knnGraphNndBody(emb, k, rounds, nEst)
  }

  private def knnGraphNndBody(emb: DataFrame, k: Int, rounds: Int,
      nEst: Long): DataFrame = {
    val eOwned = graft.Q.ownPersist(refineEmbFrame(emb))
    eOwned.df.count()
    // Seed part 1: LSH locality pairs. Band keys are DERIVED from the
    // already-cached eOwned frame and persisted NARROW — (vec_id,
    // bands) only — so the corpus embedding/sq columns are cached once,
    // not twice, and the band self-join's two sides share one band
    // computation (hyperplanePairs persists for the same reason; stats
    // for the band-width sizing still come from the source frame).
    val bits = bitsPerBandFor(emb)
    val sigs = graft.Q.ownPersist(eOwned.df.select(col("vec_id"),
      graft.plans.VectorExprs.hyperplaneBands(
        col("embedding"), hyperplanesFlat.take(HplBands * bits * 64),
        bits, 64).as("bands")))
    val lshPairs = hyperplaneCandidatePairs(sigs.df)
    // Seed part 2: hash-ring exploration edges, normalized to the
    // vec_a < vec_b invariant lshPairs carries so the union dedupes.
    // (nEst comes from the wrapper — one stats estimate serves both
    // the ring-bucket sizing and the partition scaling.)
    val nBuckets = math.max(1L, nEst / 64)
    val wRing = Window.partitionBy(col("bk")).orderBy(col("vec_id"))
    val ring = emb
      .select(col("vec_id"),
        pmod(xxhash64(col("vec_id")), lit(nBuckets)).as("bk"))
      .withColumn("nxt", lead(col("vec_id"), 1).over(wRing))
      .filter(col("nxt").isNotNull)
      .select(least(col("vec_id"), col("nxt")).as("vec_a"),
        greatest(col("vec_id"), col("nxt")).as("vec_b"))
    // Persisted before the symmetrizing union: both union branches read
    // the whole seed-scoring subtree (distinct + two embedding joins +
    // the cosine kernel), and ReuseExchange dedupes only the exchanges
    // below it — unpersisted, the seed scoring would execute twice.
    // Embedding sides go through Q.maybeBroadcast (r12, found at
    // stress s30): the per-vector frame (~300 B/row) exceeds Spark's
    // 10 MB auto-broadcast estimate from ~30 k vectors, so unhinted,
    // every attach join SORT-MERGE-joins — i.e. fully sorts — the
    // candidate stream; see the refineRound comment for the measured
    // cost. Conf-gated: past the 8M-row threshold it falls back to the
    // shuffle join a >billion-vector cluster corpus genuinely needs.
    val scored = graft.Q.ownPersist(lshPairs.union(ring).distinct()
      .join(Q.maybeBroadcast(eOwned.df.select(col("vec_id").as("vec_a"),
        col("embedding").as("ea"), col("sq").as("sqa"))), Seq("vec_a"))
      .join(Q.maybeBroadcast(eOwned.df.select(col("vec_id").as("vec_b"),
        col("embedding").as("eb"), col("sq").as("sqb"))), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cos4Pre(dotFast(col("ea"), col("eb")), col("sqa"), col("sqb"))
          .as("cos_sim")))
    val sym = scored.df
      .select(col("vec_a").as("src"), col("vec_b").as("dst"), col("cos_sim"))
      .union(scored.df
        .select(col("vec_b").as("src"), col("vec_a").as("dst"),
          col("cos_sim")))
    val kWork = math.max(12, 4 * k)
    val wTop = Window.partitionBy(col("src"))
      .orderBy(col("cos_sim").desc, col("dst"))
    // Eager localCheckpoint (the kmeans-loop discipline) rather than
    // persist: the LSH seed's plan is an order of magnitude bigger than
    // the blocked seed's, and refineRound references its edge frame ~4×
    // per round — without lineage truncation the round-3 plan is ~5³ ×
    // seed and the per-action explainString alone OOMs the heap.
    var edges = org.apache.spark.sql.GraftShims.localCheckpointKeepPartitioning(
      sym
        .withColumn("rn", row_number().over(wTop).cast("long"))
        .filter(col("rn") <= kWork)
        .select(col("src"), col("dst"), col("cos_sim")))
    sigs.release()
    scored.release()
    var r = 0
    while (r < rounds) {
      // One materialization per round (r17): checkpoint the round PLAN
      // directly — the eager localCheckpoint both truncates lineage and
      // materializes, so the pre-r17 persist+count inside refineRound
      // followed by a cache-read pass into the checkpoint paid a whole
      // extra pass over the edge frame every round. The new checkpoint
      // is a complete snapshot, so the PREVIOUS round's checkpoint
      // blocks are dead — unpersist them instead of leaking one edge
      // frame per round for the session lifetime (ADVICE r13;
      // clearCache cannot see checkpoint blocks); the round's internal
      // adjacency cache is released once the checkpoint materializes.
      val (plan, und) = refineRoundPlan(eOwned,
        graft.Q.Owned(edges, owned = false), kWork)
      // r18: partitioning-preserving checkpoint (see knnGraphRefine's
      // loop comment) — the final kWork→k ranking window below runs
      // exchange-free on the claimed hash(src) layout.
      val ck = org.apache.spark.sql.GraftShims
        .localCheckpointKeepPartitioning(plan)
      und.release()
      org.apache.spark.sql.GraftShims.unpersistLeafRdd(edges)
      edges = ck
      r += 1
    }
    // Same output shape/ordering as knnGraph/knnGraphBlocked/
    // knnGraphRefine — the four arms are drop-in twins; the final
    // ranking cuts the working-degree graph to the caller's k. The
    // embedding cache is released by the runner's per-query clearCache,
    // the documented handle-leak convention (ADVICE r10); the final
    // checkpoint backs the returned lazy frame and is registered for
    // the runner's post-materialization drain (ADVICE r13).
    graft.Q.registerCheckpoint(edges)
      .withColumn("rn", row_number().over(wTop).cast("long"))
      .filter(col("rn") <= k)
      .orderBy(col("src"), col("rn"))
  }

  /** Fixed nlist/nprobe geometry of [[knnGraphFixedPivots]] — literal
    * constants (NOT stats-derived like ivfGeometry) so the Spark plan
    * and the DuckDB oracle can never diverge on a stats refresh. Sized
    * for the sf0.01 verify corpus (~6 k vectors → 64 ≈ √n pivots,
    * 8 ≈ 1.5·√nlist probes — the same geometry rules as the trained
    * index, frozen). */
  val FixedPivotNlist = 64
  val FixedPivotNprobe = 8

  /**
   * Deterministic multi-probe kNN graph (round 11, VERDICT r10 #6) —
   * the ORACLE arm of [[knnGraphBlocked]]: the same mechanism
   * (partition the corpus by nearest pivot; every vector probes its
   * nprobe nearest pivots; exact cosine + per-src top-k inside the
   * probed cells) with FIXED hash-derived pivots instead of trained
   * centroids — the nlist vectors with the smallest md5(vec_id) are
   * the pivots, so the whole computation is deterministic and
   * DuckDB-expressible end-to-end, and the 144th oracle row
   * hash-checks the multi-probe mechanism itself (dedup_semantic got
   * its verdict twin the same way in r9). k-means buys recall, not
   * correctness; this arm trades recall for a hash-matchable truth.
   *
   * Verify-scale arm by design (n×nlist probe-choice frame via a
   * broadcast cross join — the trained arm's kernel does this inside
   * codegen); the scale path remains knnGraphBlocked.
   */
  def knnGraphFixedPivots(emb: DataFrame, k: Int): DataFrame = {
    val pivots = emb
      .select(col("vec_id").as("pid"), col("embedding").as("pv"))
      .orderBy(md5(col("pid").cast("string")), col("pid"))
      .limit(FixedPivotNlist)
    val l2 = expr(
      """aggregate(zip_with(emb_v, pv,
        |  (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) *
        |            (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
        |  CAST(0.0 AS DOUBLE), (a, v) -> a + v)""".stripMargin)
    val wNear = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist").asc, col("pid"))
    val ranked = emb
      .select(col("vec_id"), col("embedding").as("emb_v"))
      .crossJoin(broadcast(pivots))
      .select(col("vec_id"), col("pid"), l2.as("dist"))
      .withColumn("r", row_number().over(wNear))
    val assign = ranked.filter(col("r") === 1)
      .select(col("vec_id"), col("pid"))
    val probesF = ranked.filter(col("r") <= FixedPivotNprobe)
      .select(col("vec_id"), col("pid"))
    val sides = refineEmbFrame(emb)
    val wTop = Window.partitionBy(col("src"))
      .orderBy(col("cos_sim").desc, col("dst"))
    probesF.select(col("vec_id").as("src"), col("pid"))
      .join(assign.select(col("vec_id").as("dst"), col("pid")), Seq("pid"))
      .filter(col("src") =!= col("dst"))
      .join(sides.select(col("vec_id").as("src"),
        col("embedding").as("ea"), col("sq").as("sqa")), Seq("src"))
      .join(sides.select(col("vec_id").as("dst"),
        col("embedding").as("eb"), col("sq").as("sqb")), Seq("dst"))
      .select(col("src"), col("dst"),
        cos4Pre(dotFast(col("ea"), col("eb")), col("sqa"), col("sqb"))
          .as("cos_sim"))
      .withColumn("rn", row_number().over(wTop).cast("long"))
      .filter(col("rn") <= k)
      .orderBy(col("src"), col("rn"))
  }

  /** Hyperplane-LSH banding with an ORACLE-EXACT integer spelling
    * (r16 — the minhash/simhash verdict recipe applied to the vector
    * side): embeddings quantize to integer codes c_i =
    * floor(double(x_i)·1000) (floor of one deterministic IEEE multiply
    * — no round-half semantics to reconcile between engines), the 16
    * hyperplanes are ±1 vectors derived from md5('j:i')'s first nibble
    * (top bit set → +1), a vector's signature bit j is the SIGN of the
    * integer dot Σ_i c_i·h_ji, the bits pack into two 8-bit band keys,
    * and candidates are pairs sharing either key — exactly the
    * [[hyperplanePairs]] banding mechanism, every step
    * integer-deterministic in both engines. Output: each candidate
    * pair with its integer quantized dot product (vec_a, vec_b, qdot).
    *
    * Verify-scale arm by declared design; the scale path remains the
    * HOF/codegen [[hyperplanePairs]] (embed_lshpairs), which keeps its
    * recall property gate. Scale shape is still sound though: the
    * 16×64 hyperplane frame is a broadcast, codes/sums are keyed
    * shuffles on vec_id, the band self-joins are equi-joins. */
  def embedLshVerdict(emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    val codes = Q.ownPersist(emb
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("i"),
        floor(col("col").cast("double") * 1000).cast("long").as("c"))).df
    val a = ascii(substring(md5(concat(col("j").cast("string"), lit(":"),
      col("i").cast("string"))), 1, 1))
    val dig = when(a >= 97, a - 87).otherwise(a - 48)
    val hyper = s.range(16).select(col("id").as("j"))
      .crossJoin(s.range(64).select(col("id").as("i")))
      .select(col("j"), col("i"),
        when(dig >= 8, lit(1L)).otherwise(lit(-1L)).as("h"))
    val sumCols = (0 until 16).map(j =>
      sum(when(col("j") === j, col("c") * col("h")).otherwise(0L)).as(s"s$j"))
    val sums = codes.join(broadcast(hyper), Seq("i"))
      .groupBy(col("vec_id")).agg(sumCols.head, sumCols.tail: _*)
    val bk = Q.ownPersist(sums.select(col("vec_id"),
      (0 until 8).map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _).as("k0"),
      (8 until 16).map(j => when(col(s"s$j") > 0, lit(1L << (j - 8))).otherwise(lit(0L)))
        .reduce(_ + _).as("k1"))).df
    val cand = Seq("k0", "k1").map { kc =>
      bk.select(col("vec_id").as("vec_a"), col(kc).as("bkey"))
        .join(Q.maybeBroadcast(
          bk.select(col("vec_id").as("vec_b"), col(kc).as("bkey"))), Seq("bkey"))
        .filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"))
    }.reduce(_ union _).distinct()
    cand
      .join(codes.select(col("vec_id").as("vec_a"), col("i"), col("c").as("ca")), Seq("vec_a"))
      .join(codes.select(col("vec_id").as("vec_b"), col("i"), col("c").as("cb")), Seq("vec_b", "i"))
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(sum(col("ca") * col("cb")).as("qdot"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Verdict-PQ geometry (r17 — VERDICT r16 #3): 8 subspaces × 8 dims
    * over the 64-dim embeddings, 8 fixed centroids per subspace. Small
    * by design — the arm proves the encode+ADC MECHANISM, not trained
    * recall; [[productQuantize]]/[[annPq]] keep the 128-centroid
    * k-means geometry and their property/recall gates. */
  val VerdictPqM = 8
  val VerdictPqSub = 8
  val VerdictPqK = 8

  /**
   * Oracle-checkable fixed-codebook PQ (r17 — VERDICT r16 #3, the
   * verdict recipe applied to the last unproven ANN mechanism): the
   * k-means training of [[annPq]] is engine-divergent, but with FIXED
   * codebooks the encode (per-subspace argmin) and ADC scoring
   * (per-probe lookup-table sums over codes) are pure integer pipelines
   * both engines spell identically. Codebook = the [[VerdictPqK]]
   * corpus vectors with smallest md5(vec_id) (the annIvfFixedPivots
   * spelling), sliced per subspace; all float data first
   * floor-quantizes to integer codes c_i = floor(double(x_i)·1000)
   * (the embedLshVerdict quantization — one deterministic IEEE
   * multiply, no round-half semantics). Encode: code_j(y) = argmin
   * over centroids of the integer L2 distance on subspace j, ties to
   * the lowest centroid rank. ADC: probe (vec_id < 10) precomputes the
   * integer dot of its subspace-j slice against every centroid —
   * exactly [[annPq]]'s LUT — and a corpus vector's score is the sum
   * of 8 table lookups selected by its codes. Output per probe: top-k
   * corpus vectors by ADC score (ties by vec_id), with the integer
   * score — (probe_id, vec_id, adc, rn).
   *
   * Verify-scale arm by declared design; the scale path remains
   * [[annPq]]'s codegen LUT kernel. The shape is still scale-sound:
   * the quantized-dim frame is a keyed shuffle on vec_id, the centroid
   * frame is a 64-row broadcast (8 pivots × 8 subspaces of 8 dims =
   * 512 dim-rows), encode is one hash agg over n·[[VerdictPqK]]·64
   * rows, and the ADC join probes the 640-row broadcast LUT.
   */
  def annPqVerdict(emb: DataFrame, k: Int): DataFrame = {
    val m = VerdictPqM; val sub = VerdictPqSub
    // (vec_id, i, c): per-dim integer quantization (embedLshVerdict's).
    val qc = Q.ownPersist(emb
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("i"),
        floor(col("col").cast("double") * 1000).cast("long").as("c"))).df
    val pivOrder = Window.orderBy(md5(col("pid").cast("string")), col("pid"))
    // 1-based centroid rank r over the md5-smallest pivots; the single-
    // partition window runs over VerdictPqK rows post-limit (bounded).
    val piv = emb.select(col("vec_id").as("pid"))
      .orderBy(md5(col("pid").cast("string")), col("pid")).limit(VerdictPqK)
      .withColumn("r", row_number().over(pivOrder))
    val cent = broadcast(piv
      .join(qc.select(col("vec_id").as("pid"), col("i"), col("c").as("cc")),
        Seq("pid"))
      .select(col("r"), col("i"), col("cc")))
    // Encode: integer L2 per (vector, subspace, centroid), argmin with
    // ties to the lowest rank via the lexicographic struct-min (equals
    // the oracle's ROW_NUMBER ... ORDER BY dist, r pick).
    val enc = qc.join(cent, Seq("i"))
      .groupBy(col("vec_id"), expr(s"i div $sub").as("j"), col("r"))
      .agg(sum((col("c") - col("cc")) * (col("c") - col("cc"))).as("dist"))
      .groupBy(col("vec_id"), col("j"))
      .agg(min(struct(col("dist"), col("r"))).as("mn"))
      .select(col("vec_id"), col("j"), col("mn.r").as("code"))
    // Probe LUTs: integer dot of each probe's subspace slice against
    // every centroid — m·VerdictPqK rows per probe, broadcast.
    val lut = broadcast(qc.filter(col("vec_id") < 10).join(cent, Seq("i"))
      .groupBy(col("vec_id"), expr(s"i div $sub").as("j"), col("r"))
      .agg(sum(col("c") * col("cc")).as("d"))
      .select(col("vec_id").as("probe_id"), col("j"), col("r").as("code"),
        col("d")))
    val wTop = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    enc.join(lut, Seq("j", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(col("d")).as("adc"))
      .withColumn("rn", row_number().over(wTop).cast("long"))
      .filter(col("rn") <= k)
      .orderBy(col("probe_id"), col("rn"))
  }

  /** Deterministic fixed-pivot arm of [[annIvf]] (r15 — VERDICT r14
    * #5): the knn_graph_blocked_verdict precedent applied to the IVF
    * RETRIEVAL path. Pivots are the [[FixedPivotNlist]] smallest
    * md5(vec_id) vectors (a deterministic spread, no k-means); every
    * corpus vector is assigned to its nearest pivot's cell (full L2
    * over double-cast values); the ten probes (vec_id < 10) scan their
    * [[FixedPivotNprobe]] nearest cells and rerank EXACTLY (rounded
    * cosine, ties by vec_id) — so the bucket-prune + rerank MECHANISM
    * of IVF itself gets a hash-matched DuckDB oracle, while the
    * k-means-trained [[annIvf]] keeps its recall property gate (its
    * clustering buys recall, not correctness). Verify-scale arm by
    * design (the n×nlist probe-choice frame is a broadcast cross join
    * — the trained arm does the same argmin inside the
    * NearestCentroidF32 codegen kernel); the scale path remains
    * [[annIvf]]. */
  def annIvfFixedPivots(emb: DataFrame, k: Int): DataFrame = {
    val pivots = emb
      .select(col("vec_id").as("pid"), col("embedding").as("pv"))
      .orderBy(md5(col("pid").cast("string")), col("pid"))
      .limit(FixedPivotNlist)
    val l2 = expr(
      """aggregate(zip_with(emb_v, pv,
        |  (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) *
        |            (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),
        |  CAST(0.0 AS DOUBLE), (a, v) -> a + v)""".stripMargin)
    val wNear = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist").asc, col("pid"))
    // Persisted: the pivot-distance ranking feeds BOTH the corpus cell
    // assignment (r = 1) and the probes' cell choice (r <= nprobe);
    // handle leaked to the runner's per-query clearCache (the
    // documented convention — the lazy result is built over it).
    val ranked = graft.Q.ownPersist(emb
      .select(col("vec_id"), col("embedding").as("emb_v"))
      .crossJoin(broadcast(pivots))
      .select(col("vec_id"), col("pid"), l2.as("dist"))
      .withColumn("r", row_number().over(wNear))).df
    val assign = ranked.filter(col("r") === 1)
      .select(col("vec_id"), col("pid"))
    val probes = ranked
      .filter(col("vec_id") < 10 && col("r") <= FixedPivotNprobe)
      .select(col("vec_id").as("probe_id"), col("pid"))
    val sides = refineEmbFrame(emb)
    val wTop = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    probes.join(assign, Seq("pid"))
      .filter(col("probe_id") =!= col("vec_id"))
      .join(sides.select(col("vec_id").as("probe_id"),
        col("embedding").as("ea"), col("sq").as("sqa")), Seq("probe_id"))
      .join(sides.select(col("vec_id"),
        col("embedding").as("eb"), col("sq").as("sqb")), Seq("vec_id"))
      .select(col("probe_id"), col("vec_id"),
        cos4Pre(dotFast(col("ea"), col("eb")), col("sqa"), col("sqb"))
          .as("cos_sim"))
      .withColumn("rn", row_number().over(wTop).cast("long"))
      .filter(col("rn") <= k)
      .orderBy(col("probe_id"), col("rn"))
  }

  /** Mean vector per cluster, computed distributed: posexplode to
    * (cl, pos, x), avg per component, re-assemble ordered by pos
    * (struct array_sort orders by first field). */
  private def meanByCluster(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cl"), posexplode(col("embedding")))
      .groupBy(col("cl"), col("pos"))
      .agg(avg(col("col").cast("double")).as("m"))
      .groupBy(col("cl"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cl"), expr("transform(pm, x -> x.m)").as("centroid"))

  /** Nearest-centroid (min L2) assignment of every corpus vector —
    * centroids (with precomputed squared norms) broadcast, one scan,
    * map-side argmin per vector. ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖²; the ‖x‖²
    * term is constant per vector, so `csq − 2x·c` orders identically
    * and saves a kernel pass. L2 (not max-dot) is the metric mean
    * updates actually descend on — max-dot assignment paired with a
    * mean update shrinks centroid norms and DIVERGES (measured: the
    * objective test caught it).
    *
    * r7 (the stress sweep priced the r6 shape): assignment is now ONE
    * codegen'd projection — [[graft.plans.NearestCentroidF32]] carries
    * the packed centroid matrix into whole-stage codegen as a plan
    * constant and emits the argmin cluster id per row. No cross join,
    * no aggregate, no shuffle: scan shape at any corpus size. The r6
    * crossJoin + `min_by(struct(cl, embedding), struct(c_dist, cl))`
    * spelling assumed the n×nlist frame would collapse in a map-side
    * HASH aggregate; in fact min_by over an array-bearing struct is
    * not hash-aggregable and Spark planned a SortAggregate — sorting
    * the exploded stream (each row carrying the full embedding,
    * ~27 GB at stress s10) twice. Measured: the r7 sweep's ann_ivf
    * build spent 124 s of 135 s there at s10; the kernel does the same
    * 89.6 M distance evaluations inside codegen in ~2 s.
    *
    * The centroid collect is a bounded driver fetch (≤ 4096 × 64
    * floats ≈ 1 MB off an eagerly-checkpointed k-row frame) — the same
    * accepted class as the k-seed fetch above. Metric and tie parity
    * with the r6 frame is bit-exact (float-cast centroids, double
    * accumulation, ties → lowest cl; see the kernel's Scaladoc). */
  private def assignClusters(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val (flat, ids, dim) = collectCentroidsF32(centroids)
    emb.select(col("vec_id"), col("embedding"),
      graft.plans.VectorExprs.nearestCentroid(col("embedding"), flat, ids, dim)
        .as("cl"))
  }

  /** Pack the (cl, centroid) frame into a row-major float matrix + id
    * map for [[graft.plans.NearestCentroidF32]], ascending cl (the
    * kernel's tie order). Bounded: k ≤ 4096 rows × dim floats. */
  private def collectCentroidsF32(centroids: DataFrame)
      : (Array[Float], Array[Int], Int) = {
    val rows = centroids
      .select(col("cl").cast("int"),
        expr("transform(centroid, x -> cast(x as float))").as("cf"))
      .orderBy(col("cl")).collect()
    require(rows.nonEmpty, "no centroids to pack")
    val dim = rows(0).getSeq[Float](1).length
    val ids = rows.map(_.getInt(0))
    val flat = new Array[Float](rows.length * dim)
    var c = 0
    while (c < rows.length) {
      val v = rows(c).getSeq[Float](1)
      var j = 0
      while (j < dim) { flat(c * dim + j) = v(j); j += 1 }
      c += 1
    }
    (flat, ids, dim)
  }

  /**
   * Deterministic distributed k-means (Lloyd): init = the k lowest
   * ids in xxhash64 order (a deterministic spread — reproducible across
   * runs and engines, never sample()), then
   * `iters` rounds of broadcast-centroids → min-L2 assign → per-cluster
   * mean. Each round is one corpus scan + one (cl, pos) hash agg; the
   * centroid frame stays k×64 doubles, always broadcastable. Empty
   * clusters simply drop out (standard k-means caveat; reseeding is an
   * upstream policy choice). At 100 TB the same loop holds — k-means cost
   * is iters × (scan + tiny agg), never pairwise.
   */
  def kmeans(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    // Init = the k smallest ids in xxhash64 ORDER (r6) — a deterministic
    // pseudo-random spread. The r1–r5 "k lowest vec_ids" seeding was fine
    // at k=10, but corpus-sized nlist (≈√n, VERDICT r5 item 1) breaks
    // it: with ids laid out cluster-contiguously the lowest √n ids all
    // sit in the first few natural clusters, Lloyd's 3 rounds can't
    // migrate centroids across the space, and most seeds collapse into
    // empty clusters. Hashing the id decorrelates seed choice from id
    // layout while staying a pure function of the data (reproducible
    // across runs/engines — never sample()). Selection is explicit
    // orderBy + limit, not an id-value filter (ADVICE r2: value filters
    // assume dense ids). The cluster index is the seed's rank — attached
    // via a k-row driver collect + broadcast join rather than a rank
    // window: a global `Window.orderBy` plans an unpartitioned
    // WindowExec, and k rows is exactly the bounded-collect shape the
    // bucket-pruning reads already use. TakeOrderedAndProject returns
    // the ids in seed order, so the array index IS the rank.
    val s = emb.sparkSession
    import s.implicits._
    val seedIds = emb.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(k)
      .select(col("vec_id").cast("long")).collect().map(_.getLong(0))
    val seedRank = broadcast(
      seedIds.zipWithIndex.toSeq.toDF("vec_id", "cl"))
    // Driver-held centroid relation (r17 optimization round; guide §1.2
    // "remove unnecessary passes"): the centroid frame is ≤ k ≤ 4096
    // rows and every round COLLECTS it anyway (the assign kernel packs
    // a float matrix driver-side), so each round's means are collected
    // straight off the aggregation plan and re-rooted as a LOCAL
    // relation — one job per Lloyd round where the pre-r17 loop paid
    // an eager localCheckpoint job (block-manager write of k rows)
    // PLUS the collect that re-read it. meanByCluster's plan — and
    // therefore every partial-aggregation add order — is unchanged, so
    // the centroid doubles are bit-identical; the k-row driver hold is
    // the same bounded class as the seed-id fetch above.
    def localize(cdf: DataFrame): DataFrame = {
      val rows = cdf.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), cdf.schema)
    }
    var centroids = localize(emb
      .join(seedRank, "vec_id")
      .select(col("cl"),
        expr("transform(embedding, x -> cast(x as double))").as("centroid")))
    for (_ <- 1 to iters)
      centroids = localize(meanByCluster(assignClusters(emb, centroids)))
    // A local relation needs no checkpoint registration — there are no
    // executor-side blocks for the runner drain to reap.
    centroids
  }

  /**
   * IVF index geometry sized from the corpus (r6 — VERDICT r5 item 1,
   * the last fixed-geometry sketch): nlist ≈ ⌈√n̂⌉ holds per-bucket
   * occupancy to ≈ √n̂, and nprobe ≈ ⌈√nlist⌉ ≈ n̂^¼ makes the probed
   * FRACTION nprobe/nlist ≈ n̂^(−¼) SHRINK as the corpus grows —
   * candidates per probe ≈ n·nprobe/nlist ≈ n^¾, exponent < 1
   * (measured: BENCH_stress.json `ann_ivf_candidates` e_rows 0.747
   * over s1–s30, 25 459 → 327 740 candidate rows for 30× the corpus —
   * the r7 sweep with every scale ANALYZEd). The r5
   * fixed nlist=10/nprobe=3 scanned a constant 30 % of the corpus at
   * ANY size — an O(n) scan dressed as ANN, the same bug class the
   * hyperplane band fix proved real. n̂ is driver-side plan stats
   * ([[graft.plans.StatsEst]], shared divisor EstRowBytesVec) — no job
   * runs to decide, same contract as bitsPerBandFor. Clamps: nlist
   * ≥ 10 keeps tiny corpora at the r1–r5 geometry; nlist ≤ 4096 bounds
   * the centroid broadcast (4096 × 64 doubles ≈ 2 MB) — past ~16 M
   * vectors the fraction keeps shrinking via nprobe staying ⌈√nlist⌉
   * while occupancy grows, the standard IVF-flat degradation point
   * where a real deployment re-trains with a coarser quantizer. */
  private[graft] def ivfGeometry(emb: DataFrame, minNprobe: Int): (Int, Int) = {
    val n = graft.plans.StatsEst.estimatedRows(
        emb.queryExecution.optimizedPlan, graft.plans.StatsEst.EstRowBytesVec)
      .max(BigInt(1)).toDouble
    val nlist = math.min(4096, math.max(10, math.ceil(math.sqrt(n)).toInt))
    // 1.5·√nlist: the constant factor is a recall calibration (bare
    // √nlist measured recall 0.68 at sf0.01, just under the 0.7 gate;
    // 1.5× measures ≥ 0.8 there) — it scales the probed fraction by a
    // constant, so the n^(−¼) shrink (the exponent claim) is unchanged.
    val nprobe = math.min(nlist,
      math.max(minNprobe, math.ceil(1.5 * math.sqrt(nlist.toDouble)).toInt))
    (nlist, nprobe)
  }

  /** Index build + probe-side bucket choice, shared by [[annIvf]] and
    * the candidate instrumentation. Returns (assigned corpus, probe
    * buckets). K-means trains on a deterministic hash SAMPLE of
    * ≈ nlist × 64 vectors (FAISS's recommended points-per-centroid
    * band; training on the full corpus would make each Lloyd round
    * n × nlist — the sample keeps training ∝ 64·nlist² ≈ 64·n̂ linear),
    * then every corpus vector is assigned once against the final
    * centroids: n × nlist kernel distances, the textbook IVF-flat
    * build cost (n^1.5 at nlist=√n) — amortized across every query the
    * index serves; the per-query win is the n^¾ candidate set. */
  /** Train k-means on the bounded hash sample (≈ 64 pts/centroid, the
    * FAISS band) and assign every corpus vector once — the shared build
    * step of the IVF index and [[semanticDedup]]'s cluster blocking.
    * Returns (centroids, assigned (vec_id, embedding, cl)). */
  private def trainAssign(emb: DataFrame, nlist: Int): (DataFrame, DataFrame) = {
    val nEst = graft.plans.StatsEst.estimatedRows(
        emb.queryExecution.optimizedPlan, graft.plans.StatsEst.EstRowBytesVec)
      .max(BigInt(1)).toLong
    val sampleMod = math.max(1L, nEst / (nlist.toLong * 64))
    val train =
      if (sampleMod <= 1) emb
      else emb.filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)
    val centroids = kmeans(train, nlist, 3)
    (centroids, assignClusters(emb, centroids))
  }

  private def ivfParts(s: SparkSession, d: String, minNprobe: Int,
      nprobeOverride: Option[Int] = None): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, d)
    val (nlist, nprobeGeo) = ivfGeometry(emb, minNprobe)
    // Override exists for the recall-vs-nprobe curve (StressBench):
    // the geometry's 1.5·√nlist is the calibrated DEFAULT; the curve
    // measures what the knob buys around it. Clamped to [1, nlist] —
    // Some(0) would silently produce an empty probe set and a
    // zero-recall row that reads as a regression, not a misuse.
    val nprobe = nprobeOverride.map(_.max(1).min(nlist)).getOrElse(nprobeGeo)
    val (centroids, assignedRaw) = trainAssign(emb, nlist)
    val cb = broadcast(centroids)
    val assigned = assignedRaw
      .select(col("vec_id"), col("embedding"), col("cl").as("bucket"))
    // Probes pick their nprobe nearest buckets (same L2 metric as the
    // corpus assignment), then the caller reranks exactly. The probe
    // set is 10 × nlist rows — window argmin is fine at that size.
    val wProbe = Window.partitionBy(col("probe_id"))
      .orderBy(col("c_dist").asc, col("cl"))
    val probeBuckets = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
      .crossJoin(cb)
      .select(col("probe_id"), col("p_emb"), col("cl"),
        (sumSq(col("centroid")) - lit(2.0) * dot(col("p_emb"), col("centroid")))
          .as("c_dist"))
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= nprobe)
      .select(col("probe_id"), col("p_emb"), col("cl").as("bucket"))
    (assigned, probeBuckets)
  }

  /**
   * SemDeDup-style semantic dedup parts (Abbas et al. 2023, "SemDeDup:
   * Data-efficient learning at web-scale through semantic
   * deduplication", arXiv:2303.09540 — public): cluster the embedding
   * space with the SAME bounded-sample k-means the IVF index trains
   * (k ≈ ⌈√n⌉ from plan stats), then search for near-duplicate pairs
   * ONLY within a cluster. All-pairs cost drops from n² to Σ|cluster|²
   * ≈ n²/k (n^1.5 at k=√n), and each cluster is an independent join
   * group — the shuffle key is the cluster id, so the pair stage
   * partitions perfectly at any corpus size. Every candidate is
   * verified with the exact rounded cosine, so PRECISION is 1.0 by
   * construction (every emitted pair is a true pair of [[exactPairs]]);
   * what clustering trades is RECALL — pairs straddling a cluster
   * boundary are never compared. Recall vs the exact all-pairs arm is
   * property-gated in LlmSpec (the paper's finding: dup pairs
   * concentrate inside clusters, so the loss is small).
   *
   * Returns (assigned (vec_id, embedding, cl), verified within-cluster
   * pairs (cl, vec_a, vec_b, cos_sim)).
   */
  private def semanticParts(emb: DataFrame, thresh: Double)
      : (DataFrame, graft.Q.Owned) = {
    val (nlist, _) = ivfGeometry(emb, 1)
    // assigned feeds both pair sides and the verdict join — persist, or
    // each reference re-runs the centroid-argmin scan over the corpus.
    // Handles here and below intentionally discarded: released by the
    // runner's per-query clearCache once the caller materializes the
    // result built over them (ADVICE r10).
    val (_, assigned0) = trainAssign(emb, nlist)
    val assigned = graft.Q.ownPersist(assigned0).df
    val e = assigned.select(col("cl"), col("vec_id"), col("embedding"),
      dotFast(col("embedding"), col("embedding")).as("sq"))
    val a = e.select(col("cl"), col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("sq").as("sqa"))
    val b = e.select(col("cl"), col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("sq").as("sqb"))
    val cos = cos4Pre(dotFast(col("ea"), col("eb")), col("sqa"), col("sqb"))
    // pairs feed connectedComponents' symmetric edge union (2 refs) —
    // persist so the within-cluster join runs once.
    val pairs = graft.Q.ownPersist(a.join(b, Seq("cl"))
      .filter(col("vec_a") < col("vec_b") && cos >= thresh)
      .select(col("cl"), col("vec_a"), col("vec_b"), cos.as("cos_sim")))
    (assigned, pairs)
  }

  /** The UNFILTERED within-cluster pair frame — [[semanticParts]]'
    * candidate stage before the cosine verify, exposed for the stress
    * sweep: its row count is the Σ|cluster|² ≈ n^1.5 blocking claim
    * (the exact arm scans n²). */
  def semanticCandidates(emb: DataFrame): DataFrame = {
    val (nlist, _) = ivfGeometry(emb, 1)
    val (_, assigned0) = trainAssign(emb, nlist)
    val assigned = graft.Q.ownPersist(assigned0).df
    val a = assigned.select(col("cl"), col("vec_id").as("vec_a"))
    val b = assigned.select(col("cl"), col("vec_id").as("vec_b"))
    a.join(b, Seq("cl")).filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
  }

  /** [[semanticParts]]' verified pair frame — LlmSpec's recall-gate
    * entry point (compared against [[exactPairs]] at the same
    * threshold). */
  def semanticPairs(emb: DataFrame, thresh: Double): DataFrame =
    semanticParts(emb, thresh)._2.df
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))

  /**
   * The per-vector SemDeDup verdict table: within-cluster dup pairs →
   * connected components → keep only each component's canonical
   * (minimum-id) member. Output (vec_id, cl, component_id, keep) for
   * EVERY corpus vector (singletons keep themselves) — the frame a
   * curation pipeline anti-joins its corpus against.
   */
  def semanticDedup(emb: DataFrame, thresh: Double): DataFrame = {
    val (assigned, pairsOwned) = semanticParts(emb, thresh)
    // pairs is already persisted by semanticParts — the projection hits
    // that cache, so CC must not materialize a second copy (ADVICE r8).
    val comps = Dedup.connectedComponents(
      pairsOwned.df.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")),
      inputPersisted = true)
    // comps returns re-rooted on the final round's own cache (flat
    // LogicalRDD leaf), so the pair frame is dead weight from here —
    // drop it rather than pinning the pair set for the session (the
    // Verify/Bench runners clearCache per query, ad-hoc sessions don't).
    pairsOwned.release()
    assigned.select(col("vec_id"), col("cl").cast("long").as("cl"))
      .join(comps.select(col("doc_id").as("vec_id"), col("component_id")),
        Seq("vec_id"), "left")
      .withColumn("component_id",
        coalesce(col("component_id"), col("vec_id")))
      .withColumn("keep",
        (col("component_id") === col("vec_id")).cast("long"))
      .select(col("vec_id"), col("cl"), col("component_id"), col("keep"))
      .orderBy(col("vec_id"))
  }

  /**
   * The ORACLE arm of [[semanticDedup]] (VERDICT r8 item 6): identical
   * components-and-keep verdict, but over the EXACT cosine pair frame
   * instead of the k-means-blocked one — every stage (rounded cosine
   * threshold join → connected components → canonical-member keep) is
   * deterministic and SQL-expressible, so the full verdict path gets a
   * hash-matched DuckDB oracle (recursive-CTE reachability, the
   * dedup_components shape) while the clustered arm keeps its
   * recall/precision property gate. Test-sf arm only by construction —
   * the all-pairs stage is the n² plan the clustered arm exists to
   * avoid; at scale the verdict path is exercised through
   * [[semanticDedup]] with the identical downstream code.
   */
  def semanticVerdictExact(emb: DataFrame, thresh: Double): DataFrame = {
    val pairsOwned = graft.Q.ownPersist(exactPairs(emb, thresh))
    val pairs = pairsOwned.df
    val comps = Dedup.connectedComponents(
      pairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")),
      inputPersisted = true)
    // comps is re-rooted on its own cache — release the O(n²) exact
    // pair frame instead of pinning it for the session.
    pairsOwned.release()
    emb.select(col("vec_id"))
      .join(comps.select(col("doc_id").as("vec_id"), col("component_id")),
        Seq("vec_id"), "left")
      .withColumn("component_id",
        coalesce(col("component_id"), col("vec_id")))
      .withColumn("keep",
        (col("component_id") === col("vec_id")).cast("long"))
      .select(col("vec_id"), col("component_id"), col("keep"))
      .orderBy(col("vec_id"))
  }

  /** The candidate frame an IVF probe scans (bucket join, BEFORE exact
    * rerank) — the scale-instrumentation entry point (StressBench): its
    * row count over the stress span is the sub-linear-fraction claim. */
  def ivfCandidates(s: SparkSession, d: String): DataFrame = {
    val (assigned, probeBuckets) = ivfParts(s, d, 3)
    assigned.join(broadcast(probeBuckets), "bucket")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"))
  }

  /** IVF-style ANN: corpus-sized k-means buckets ([[ivfGeometry]]) —
    * probes only score vectors in their nprobe nearest buckets.
    * `minNprobe` floors the probe width (recall knob). */
  def annIvf(s: SparkSession, d: String, k: Int, minNprobe: Int): DataFrame = {
    val (assigned, probeBuckets) = ivfParts(s, d, minNprobe)
    val wTop = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    assigned.join(broadcast(probeBuckets), "bucket")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cos4(col("p_emb"), col("embedding")).as("cos_sim"))
      .withColumn("rn", row_number().over(wTop).cast("long"))
      .filter(col("rn") <= k)
      .orderBy(col("probe_id"), col("rn"))
  }

  /**
   * Symmetric int8 scalar quantization of the embedding column — the
   * 4× compression step an ANN index applies before storing vectors
   * (FAISS's SQ8 shape): per vector, scale = max|x| / 127, codes =
   * round-half-up(x / scale) ∈ [-127, 127], plus the reconstruction
   * error the recall budget is planned against. Pure per-row expression
   * work — scan shape, one projection, zero shuffle (plan-pinned); the
   * HOF lambdas evaluate interpreted, but there is no data movement, so
   * at 100 TB this runs as a projection inside the index-build scan.
   *
   * Determinism: the rounding is spelled floor(x/scale + 0.5) in BOTH
   * engines (Spark's round() is HALF_UP BigDecimal, DuckDB's is
   * banker's-adjacent for doubles — never rely on either); float
   * elements promote to double before any arithmetic; error stats are
   * reported in parts-per-million (×10⁶) so 4-dp rounding keeps real
   * precision. scale is floored at Double.MinPositiveValue so an
   * all-zero embedding yields codes of all zeros (and mse 0) instead of
   * NULL/NaN — the operator is total, not dependent on the fixture's
   * unit-norm guarantee (which makes max|x| ≥ 1/√64 here anyway, so the
   * floor never fires on this corpus and the oracle parity is unchanged).
   */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("scale", expr(
        "greatest(aggregate(embedding, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(CAST(x AS DOUBLE)))) / 127, 4.9e-324d)"))
      .withColumn("codes", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))"))
      .select(col("vec_id"),
        round(col("scale") * lit(1e6), 4).as("scale_ppm"),
        expr("aggregate(codes, 0L, (a, c) -> a + c)").as("codes_sum"),
        array_max(col("codes")).as("codes_max"),
        round(expr(
          """aggregate(zip_with(embedding, codes,
            |  (x, c) -> (CAST(x AS DOUBLE) - c * scale) * (CAST(x AS DOUBLE) - c * scale)),
            |  CAST(0.0 AS DOUBLE), (a, v) -> a + v)""".stripMargin)
          / size(col("embedding")) * lit(1e6), 4).as("mse_ppm"))
      .orderBy(col("vec_id"))

  /**
   * Product quantization (round 8; 7-bit subquantizers since round 9) —
   * the FAISS-PQ compression step that completes this package's ANN
   * family (SQ8 [[quantizeInt8]] stores 8 bits/dim; PQ stores 7 bits
   * per 8-dim SUBSPACE = 56 bits/vector, a 36× compression over
   * float32): split each 64-dim vector into m = 8 subvectors, train a
   * 128-centroid codebook per subspace on a deterministic hash-sample
   * (≈ 128×64 vectors, FAISS's points-per-centroid band — training
   * cost is bounded regardless of corpus size), then encode every
   * vector as 8 base-128 digits packed into one BIGINT (128⁸ = 2^56
   * fits signed 64; the round-8 4-bit/nibble geometry measured recall
   * 0.60 at the s10 stress scale — its 16-cell subspace resolution is
   * below this corpus's neighbor margins once distractors number
   * ~200 k, and widening rerank plateaued at 0.64, so the fix is code
   * RESOLUTION, not candidate width — FAISS's standard ks=256 answer,
   * capped at 128 to keep one-BIGINT packing). Emits the per-vector
   * reconstruction MSE (ppm) the recall budget is planned against,
   * like the SQ8 twin.
   *
   * Scale shape: training touches only the bounded sample (8 small
   * k-means runs, centroid frames ≤ 128×8 doubles); corpus encoding is
   * ONE scan — per subspace a codegen'd [[graft.plans.NearestCentroidF32]]
   * argmin over a 128×8 matrix carried as a plan constant, zero shuffle,
   * zero joins. At 100 TB the encode is a projection inside the
   * index-build scan, exactly like SQ8. Codes are DENSE positions into
   * each codebook (the kernel's id array is positional), so the packed
   * code decodes by base-128 digit regardless of empty-cluster drops.
   *
   * Non-oracle (sketch row): k-means codebooks aren't SQL-expressible;
   * property-gated in LlmSpec instead — identical vectors encode
   * identically, and mean reconstruction error beats the 1-centroid
   * (global-mean-per-subspace) baseline by a wide margin.
   */
  /** PQ geometry: 64-dim vectors → 8 subspaces × 8 dims, 128 centroids
    * per subspace (7 bits per subspace, 56 bits per vector). */
  /** Default ADC rerank width multiplier (FAISS's efSearch analog):
    * top-(factor·k) ADC candidates get the exact-cosine rerank.
    * Calibrated on the fixture corpus (r9, VERDICT r8 item 5), then
    * re-measured at the stress scales after the 7-bit resolution bump —
    * the curve lives as `ann_pq_recall_w*` rows in BENCH_stress.json
    * (basis points, s1 + s10). 64× clears the ≥ 0.8 LlmSpec gate with
    * margin; still O(k) per probe — vanishing against corpus size. */
  val PqRerankFactor = 64

  /** MRL coarse-scan prefix length (first dims of the 64-float
    * embedding) — single-sourced into annMrl's plan AND its DuckDB
    * oracle (ADVICE r9). */
  val MrlPrefixDim = 16

  private val PqM = 8
  private val PqSubDim = 8
  private val PqK = 128

  /** Train the per-subspace PQ codebooks on a deterministic hash sample
    * (≤ PqK×64 vectors). Codebook j is row-major (nCentroids×subDim);
    * empty k-means clusters drop, so codes are DENSE positions.
    *
    * Training is DRIVER-SIDE over the bounded sample — deliberately,
    * not as a shortcut: PQ codebooks train on a fixed-size sample by
    * design (FAISS's points-per-centroid contract), so the training
    * set is ≤ 8192×64 floats ≈ 2 MB at ANY corpus size — the same
    * accepted bounded-fetch class as the centroid packing the IVF
    * kernel already does. The first cut reused the distributed
    * [[kmeans]] per subspace: 8 × (seed collect + 2 eager-checkpointed
    * Lloyd rounds) = 24 tiny Spark jobs, 14.1 s of pure scheduling at
    * sf0.1 (bench_all r8 first pass) for 16-centroid codebooks. One
    * sample collect + local Lloyd does the same math in milliseconds;
    * corpus-sized work remains exclusively in the encode scan. */
  private def pqTrain(emb: DataFrame): Seq[(Array[Float], Int)] = {
    val nEst = graft.plans.StatsEst.estimatedRows(
        emb.queryExecution.optimizedPlan, graft.plans.StatsEst.EstRowBytesVec)
      .max(BigInt(1)).toLong
    val sampleMod = math.max(1L, nEst / (PqK.toLong * 64))
    val train =
      if (sampleMod <= 1) emb
      else emb.filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)
    // deterministic hash-ordered sample, bounded fetch (TakeOrdered)
    val vecs: Array[Array[Float]] = train
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(PqK * 64)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    require(vecs.nonEmpty, "empty embedding corpus")
    (0 until PqM).map { j =>
      val sub = vecs.map(v => v.slice(j * PqSubDim, (j + 1) * PqSubDim))
      // seeds = first PqK sample vectors (the sample is already in
      // deterministic hash order); 2 Lloyd rounds, L2, ties -> lowest
      // index — the same metric/tie rules as the encode kernel
      var cents: Array[Array[Double]] =
        sub.take(PqK).map(_.map(_.toDouble))
      for (_ <- 1 to 2) {
        val sums = Array.fill(cents.length)(new Array[Double](PqSubDim))
        val cnts = new Array[Long](cents.length)
        sub.foreach { x =>
          var best = 0
          var bd = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            var d = 0.0
            var i = 0
            while (i < PqSubDim) {
              val dx = x(i) - cents(c)(i); d += dx * dx; i += 1
            }
            if (d < bd) { bd = d; best = c }
            c += 1
          }
          var i = 0
          while (i < PqSubDim) { sums(best)(i) += x(i); i += 1 }
          cnts(best) += 1
        }
        cents = cents.indices.filter(cnts(_) > 0)
          .map(c => sums(c).map(_ / cnts(c))).toArray
      }
      val flat = new Array[Float](cents.length * PqSubDim)
      for (c <- cents.indices; i <- 0 until PqSubDim)
        flat(c * PqSubDim + i) = cents(c)(i).toFloat
      (flat, PqSubDim)
    }
  }

  /** Nested-literal view of the codebooks for expression-side lookups. */
  private def pqBookSeq(books: Seq[(Array[Float], Int)]): Seq[Seq[Seq[Float]]] =
    books.map { case (flat, dim) => flat.grouped(dim).map(_.toSeq).toSeq }

  /** Append dense code columns c0..c7 — one codegen'd argmin per
    * subspace, the whole encode stays a single scan projection. */
  private def pqEncode(emb: DataFrame,
      books: Seq[(Array[Float], Int)]): DataFrame =
    (0 until PqM).foldLeft(emb) { (df, j) =>
      val (flat, dim) = books(j)
      df.withColumn(s"c$j", graft.plans.VectorExprs.nearestCentroid(
        expr(s"slice(embedding, ${j * PqSubDim + 1}, $PqSubDim)"),
        flat, Array.tabulate(flat.length / dim)(identity), dim))
    }

  def productQuantize(emb: DataFrame): DataFrame = {
    val (m, subDim) = (PqM, PqSubDim)
    val books = pqTrain(emb)
    val cbSeq = pqBookSeq(books)
    val coded = pqEncode(emb, books)
    val packed = (0 until m).map(j => s"CAST(c$j AS BIGINT) * ${1L << (7 * j)}L")
      .mkString(" + ")
    val mseTerms = (0 until m).map { j =>
      s"""aggregate(zip_with(slice(embedding, ${j * subDim + 1}, $subDim),
         |  element_at(element_at(cb, ${j + 1}), c$j + 1),
         |  (x, c) -> (CAST(x AS DOUBLE) - CAST(c AS DOUBLE))
         |          * (CAST(x AS DOUBLE) - CAST(c AS DOUBLE))),
         |  CAST(0.0 AS DOUBLE), (a, v) -> a + v)""".stripMargin
    }.mkString("(", " + ", s") / ${m * subDim}")
    coded
      .withColumn("cb", typedlit(cbSeq))
      .select(col("vec_id"),
        expr(packed).as("pq_code"),
        round(expr(mseTerms) * lit(1e6), 4).as("mse_ppm"))
      .orderBy(col("vec_id"))
  }

  /**
   * ADC-scored ANN over the PQ codes (round 8) — the query half of
   * [[productQuantize]], completing the package's similarity ladder
   * (brute [[bruteTopK]] → hyperplane LSH → IVF → PQ-ADC, the FAISS
   * composition used at billion scale): each probe precomputes ONE
   * lookup table of its dot products against every codebook centroid
   * (≤ 8×128 = 1024 doubles, computed once per probe), and a
   * candidate's approximate score is then 8 array lookups over its
   * code digits — never a 64-float dot. The ADC top-(rerankFactor·k)
   * candidates are exactly reranked with true cosine and the top-k
   * emitted, so code compression costs recall only through candidate
   * selection. Rerank width is the recall knob (FAISS's efSearch
   * analog) for margin noise; code RESOLUTION (PqK) is the knob for
   * distractor density — the r8 4-bit geometry saturated at 0.64
   * recall at the s10 stress scale no matter the width, which is what
   * drove the 7-bit bump (see [[productQuantize]]).
   *
   * Scale shape: corpus side carries (vec_id, c0..c7) — 56 bits of
   * payload per vector instead of 256 bytes of floats; the probe LUT
   * frame is 10 rows and broadcast; scoring is a projection over the
   * code stream (no shuffle before the bounded per-probe top-k). At
   * 100 TB this is the memory-bandwidth win PQ exists for: the scan
   * streams codes, not vectors, and only ~4k·k candidates per probe
   * ever touch float data again. Non-oracle (k-means codebooks);
   * recall vs the exact [[bruteTopK]] oracle is gated in LlmSpec.
   */
  /** Probe-side ADC plumbing shared by [[annPq]] and [[annIvfPq]]:
    * the LUT-builder SQL (dot of each probe subvector against every
    * codebook centroid — ≤ 8×128 doubles, computed once per probe row),
    * the ADC score SQL over code columns c0..c7 (8 array lookups, never
    * a float dot), and the per-subspace centroid counts. Offsets handle
    * ragged codebooks (empty k-means clusters drop). */
  private def pqAdcParts(books: Seq[(Array[Float], Int)])
      : (String, String, Seq[Int]) = {
    val sizes = books.map { case (flat, dim) => flat.length / dim }
    val offs = sizes.scanLeft(0)(_ + _)
    val lutExpr = "flatten(transform(sequence(0, " + (PqM - 1) + "), j -> " +
      "transform(sequence(0, element_at(cbl, j + 1)), c -> " +
      "aggregate(zip_with(slice(p_emb, j * " + PqSubDim + " + 1, " + PqSubDim +
      "), element_at(element_at(cb, j + 1), c + 1), " +
      "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      "CAST(0.0 AS DOUBLE), (a, v) -> a + v))))"
    val adcScore = (0 until PqM)
      .map(j => s"element_at(lut, ${offs(j)} + c$j + 1)").mkString(" + ")
    (lutExpr, adcScore, sizes)
  }

  /** Hard row bound for the UNCONDITIONAL rerank-survivor broadcast in
    * [[annPq]]/[[annIvfPq]] (ADVICE r12): the pin deliberately bypasses
    * Q.maybeBroadcast's stats gates — the optimizer cannot see the
    * window-rank filter's selectivity, and its misestimate is exactly
    * what flipped the join to SortMergeJoin at stress s30 — so the
    * bound is enforced where it IS driver-known: nProbes (fixed 10) ×
    * rerankFactor × k at the function boundary. 4 M narrow (long,long)
    * rows ≈ 64 MB broadcast worst case, far under executor headroom
    * and far over any sane rerank width. */
  val MaxRerankBroadcastRows = 4000000L

  def annPq(s: SparkSession, d: String, k: Int,
      rerankFactor: Int = PqRerankFactor): DataFrame = {
    require(10L * rerankFactor * k <= MaxRerankBroadcastRows,
      s"annPq: rerank survivor bound 10*$rerankFactor*$k exceeds " +
        s"$MaxRerankBroadcastRows rows — the pinned broadcast would " +
        s"not be driver-safe (see MaxRerankBroadcastRows)")
    val emb = Tables.embeddings(s, d)
    val books = pqTrain(emb)
    val cbSeq = pqBookSeq(books)
    val (lutExpr, adcScore, sizes) = pqAdcParts(books)
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
      .withColumn("cb", typedlit(cbSeq))
      .withColumn("cbl", typedlit(sizes.map(_ - 1)))
      .withColumn("lut", expr(lutExpr))
      .select(col("probe_id"), col("p_emb"), col("lut"))
    val codes = pqEncode(emb, books)
      .select(col("vec_id") +: (0 until PqM).map(j => col(s"c$j")): _*)
    val wAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    // ADC stream is cut to (probe_id, vec_id, adc) BEFORE the per-probe
    // window (ADVICE r9): the LUT lookups happen in the broadcast-join
    // projection map-side, so the window's exchange shuffles 3 narrow
    // columns per candidate — never the 64-float probe vector or the
    // ≤1024-double LUT. p_emb re-joins from the 10-row probe frame only
    // for the rerankFactor·k survivors (the annMrl pattern).
    val cands = codes
      .join(broadcast(probes.select(col("probe_id"), col("lut"))),
        col("vec_id") =!= col("probe_id"))
      .withColumn("adc", expr(adcScore))
      .select(col("probe_id"), col("vec_id"), col("adc"))
      .withColumn("crn", row_number().over(wAdc))
      .filter(col("crn") <= rerankFactor * k)
      .select(col("probe_id"), col("vec_id"))
    val wTop = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    // broadcast PINNED on the rerank survivors (≤ probes·rerankFactor·k
    // rows by construction): the optimizer cannot see the window-rank
    // filter's selectivity, so at large corpora its estimate crosses
    // the auto-broadcast threshold and the join flips to shuffling the
    // WHOLE embedding table into a SortMergeJoin (measured at stress
    // s30 on the IVF-PQ twin: 7.2 → 21.3 s, VERDICT r11 #8). The hint
    // keeps the corpus scan streaming, the same discipline as the
    // bounded probe-frame broadcasts.
    broadcast(cands).join(emb, "vec_id")
      .join(broadcast(probes.select(col("probe_id"), col("p_emb"))), "probe_id")
      .select(col("probe_id"), col("vec_id"),
        cos4(col("p_emb"), col("embedding")).as("cos_sim"))
      .withColumn("rn", row_number().over(wTop).cast("long"))
      .filter(col("rn") <= k)
      .orderBy(col("probe_id"), col("rn"))
  }

  /**
   * IVF-PQ (round 9) — the composed index that completes the ANN
   * ladder, and the configuration FAISS actually runs at billion scale
   * (IndexIVFPQ): the IVF coarse quantizer prunes the SEARCH SPACE
   * (probes score only their nprobe nearest of nlist k-means buckets —
   * the measured n^¾ candidate fraction of [[annIvf]]), and PQ
   * compresses the PAYLOAD those candidates carry (56-bit packed codes,
   * ADC-scored via the per-probe LUT — the measured linear code-stream
   * scan of [[annPq]]). Codes quantize the raw vectors against the
   * corpus-trained codebooks (FAISS's `by_residual=false` mode; the
   * residual variant needs residual-trained codebooks for no change in
   * the plan shape). The two stages multiply: the ADC scan touches
   * n^¾ · 8 bytes of packed 56-bit codes instead of n · 256 bytes of
   * floats, and only the top rerankFactor·k reranked candidates per
   * probe ever read float data.
   *
   * Plan shape at 100 TB: ONE encode scan over the bucket-assigned
   * corpus (coarse argmin + 8 codegen'd subspace argmins fused into the
   * same projection, zero shuffle), a broadcast of the ≤ 10×nprobe
   * probe rows (each with its ≤ 128-double LUT), the bucket equi-join
   * that prunes the scan, and the bounded per-probe top-k windows. The
   * index build (k-means + assignment) amortizes across every query it
   * serves, exactly as in [[annIvf]].
   *
   * Non-oracle (k-means both in the coarse and product quantizers);
   * recall vs exact [[bruteTopK]] is gated in LlmSpec — the composed
   * recall is the product of the stages' (bucket-miss × code-blur), so
   * the gate sits below either component's own.
   */
  def annIvfPq(s: SparkSession, d: String, k: Int,
      rerankFactor: Int = PqRerankFactor,
      nprobeOverride: Option[Int] = None): DataFrame = {
    // Same boundary bound as [[annPq]] — see MaxRerankBroadcastRows.
    require(10L * rerankFactor * k <= MaxRerankBroadcastRows,
      s"annIvfPq: rerank survivor bound 10*$rerankFactor*$k exceeds " +
        s"$MaxRerankBroadcastRows rows — the pinned broadcast would " +
        s"not be driver-safe (see MaxRerankBroadcastRows)")
    val emb = Tables.embeddings(s, d)
    val (assigned, probeBuckets) = ivfParts(s, d, 3, nprobeOverride)
    val books = pqTrain(emb)
    val cbSeq = pqBookSeq(books)
    val (lutExpr, adcScore, sizes) = pqAdcParts(books)
    val codes = pqEncode(assigned, books)
      .select(col("vec_id") +: col("bucket") +:
        (0 until PqM).map(j => col(s"c$j")): _*)
    val probes = probeBuckets
      .withColumn("cb", typedlit(cbSeq))
      .withColumn("cbl", typedlit(sizes.map(_ - 1)))
      .withColumn("lut", expr(lutExpr))
      .select(col("probe_id"), col("p_emb"), col("bucket"), col("lut"))
    val wAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc").desc, col("vec_id"))
    // Same exchange-width discipline as [[annPq]] (ADVICE r9): the
    // bucket equi-join carries only (bucket, probe_id, lut), adc is
    // computed in that projection, and the window shuffles the narrow
    // (probe_id, vec_id, adc) stream — the "n^¾ · 8 bytes of packed
    // codes" claim now holds through the exchange too. p_emb re-joins
    // from the bounded probe frame for the rerank survivors only.
    val cands = codes
      .join(broadcast(probes.select(col("bucket"), col("probe_id"), col("lut"))),
        Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("adc", expr(adcScore))
      .select(col("probe_id"), col("vec_id"), col("adc"))
      .withColumn("crn", row_number().over(wAdc))
      .filter(col("crn") <= rerankFactor * k)
      .select(col("probe_id"), col("vec_id"))
    val wTop = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    // Same rerank-join broadcast pin as [[annPq]] — this is the join
    // that flipped to SortMergeJoin at stress s30 (VERDICT r11 #8).
    broadcast(cands).join(emb, "vec_id")
      .join(broadcast(probes.select(col("probe_id"), col("p_emb"))
        .dropDuplicates("probe_id")), "probe_id")
      .select(col("probe_id"), col("vec_id"),
        cos4(col("p_emb"), col("embedding")).as("cos_sim"))
      .withColumn("rn", row_number().over(wTop).cast("long"))
      .filter(col("rn") <= k)
      .orderBy(col("probe_id"), col("rn"))
  }

  val queries: Map[String, QFn] = Map(
    "sim_topk" -> ((s, d) =>
      bruteTopK(s, d, 5)
        .select(col("probe_id"), col("vec_id"), col("cos_sim"), col("rn"))
        .orderBy(col("probe_id"), col("rn"))),
    "embed_pq" -> ((s, d) => productQuantize(Tables.embeddings(s, d))),
    "ann_pq" -> ((s, d) => annPq(s, d, 5)),

    "knn_label" -> ((s, d) => {
      // Majority label among the 5 nearest neighbors; ties break to the
      // smaller label (deterministic — never mode(), whose tie winner is
      // implementation-defined).
      val wVote = Window.partitionBy(col("probe_id"))
        .orderBy(col("votes").desc, col("label"))
      bruteTopK(s, d, 5)
        .groupBy(col("probe_id"), col("label"))
        .agg(count(lit(1)).as("votes"))
        .withColumn("vr", row_number().over(wVote))
        .filter(col("vr") === 1)
        .select(col("probe_id"), col("label").as("pred_label"), col("votes"))
        .orderBy(col("probe_id"))
    }),

    "embed_neardup" -> ((s, d) =>
      // Exact near-dup pairs in embedding space (threshold calibrated on
      // the corpus: cos >= 0.35 keeps a few hundred pairs at sf0.01).
      exactPairs(Tables.embeddings(s, d), NeardupCos)
        .orderBy(col("vec_a"), col("vec_b"))),

    "simjoin_auto" -> ((s, d) =>
      // The declared similarity-join operator: CosineSelfJoin logical node,
      // expanded by SimilarityJoinRewrite — cost-based exact-vs-LSH choice
      // (graft.plans.SimilarityRewrite). At verify sf the stats pick the
      // exact plan, so the oracle is the same SQL as embed_neardup;
      // PlanShapeSpec pins both expansions' plan shapes.
      graft.plans.SimilarityJoin.cosineSelfJoin(
          Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", NeardupCos)
        .orderBy(col("vec_a"), col("vec_b"))),

    "ann_ivf" -> ((s, d) => annIvf(s, d, 5, 3)),

    // Deterministic fixed-pivot arm of ann_ivf — full DuckDB oracle
    // (hash-checks IVF's bucket-prune + exact-rerank mechanism itself;
    // the trained arm keeps its recall property gate).
    "ann_ivf_verdict" -> ((s, d) =>
      annIvfFixedPivots(Tables.embeddings(s, d), 5)),

    // r17 (VERDICT r16 #3): fixed-codebook PQ — the encode+ADC
    // mechanism hash-checked end-to-end over integer-quantized codes
    // and md5-smallest pivots; the k-means-trained embed_pq/ann_pq
    // keep their property/recall gates.
    "ann_pq_verdict" -> ((s, d) =>
      annPqVerdict(Tables.embeddings(s, d), 5)),

    // r16: the hyperplane-banding mechanism hash-checked end-to-end
    // over integer-quantized codes and md5-derived ±1 hyperplanes; the
    // HOF/codegen embed_lshpairs keeps its recall gate.
    "embed_lshpairs_verdict" -> ((s, d) =>
      embedLshVerdict(Tables.embeddings(s, d))),

    "knn_graph" -> ((s, d) =>
      knnGraph(Tables.embeddings(s, d), 3)),

    // Non-oracle (k-means blocking); edge recall vs knn_graph gated in
    // LlmSpec. Candidate class is n^1.75 (multi-probe), NOT
    // semantic_candidates' single-cluster n^1.5 — see knnGraphBlocked's
    // Scaladoc for the geometry arithmetic and the measured fits.
    "knn_graph_blocked" -> ((s, d) =>
      knnGraphBlocked(Tables.embeddings(s, d), 3)),

    // NN-descent refinement over the blocked seed — non-oracle like its
    // seed (k-means); LlmSpec gates edge recall ≥ 0.85 (> the seed's
    // 0.753) vs the exact graph.
    "knn_graph_refine" -> ((s, d) =>
      knnGraphRefine(Tables.embeddings(s, d), 3)),

    // End-to-end LINEAR arm: NN-descent over the hyperplane-LSH +
    // hash-ring seed — no n^1.75 blocked stage anywhere in the
    // pipeline. Rows-only (band widths are stats-sized); LlmSpec gates
    // edge recall vs the exact graph.
    "knn_graph_nnd" -> ((s, d) =>
      knnGraphNnd(Tables.embeddings(s, d), 3)),

    // Deterministic fixed-pivot arm of knn_graph_blocked — full DuckDB
    // oracle (hash-checks the multi-probe mechanism itself).
    "knn_graph_blocked_verdict" -> ((s, d) =>
      knnGraphFixedPivots(Tables.embeddings(s, d), 3)),

    "ann_ivfpq" -> ((s, d) => annIvfPq(s, d, 5)),

    "ann_mrl" -> ((s, d) => annMrl(s, d, 5)),

    "dedup_semantic" -> ((s, d) =>
      // SemDeDup verdicts at embed_neardup's calibrated threshold —
      // sketch row (cluster assignment isn't SQL-expressible); precision
      // 1.0 by construction, recall property-gated in LlmSpec.
      semanticDedup(Tables.embeddings(s, d), NeardupCos)),

    "dedup_semantic_verdict" -> ((s, d) =>
      // Oracle arm of dedup_semantic: the same components-and-keep
      // verdict over the exact pair frame (deterministic, recursive-CTE
      // expressible) — hash-matched in DuckDB.
      semanticVerdictExact(Tables.embeddings(s, d), NeardupCos)),

    "embed_lshpairs" -> ((s, d) => {
      // Strongest verified near-dup candidates surfaced by the
      // hyperplane-LSH index, top-100 (TakeOrderedAndProject — no global
      // sort). thresh = -1 keeps every verified candidate because this
      // corpus tops out at cos ≈ 0.5; the realistic ≥ 0.9 regime is
      // exercised with planted duplicates in LlmSpec. Non-oracle
      // (signatures aren't SQL-expressible); rows-only gate.
      hyperplanePairs(Tables.embeddings(s, d), -1.0)
        .orderBy(col("cos_sim").desc, col("vec_a"), col("vec_b"))
        .limit(100)
    }),

    "embed_quantize" -> ((s, d) => quantizeInt8(Tables.embeddings(s, d))))

  private val embCte =
    """e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
      |      FROM embeddings),
      |p AS (SELECT vec_id AS probe_id, emb AS p_emb FROM e WHERE vec_id < 10),
      |topk AS (
      |  SELECT probe_id, vec_id, label, cos_sim,
      |    ROW_NUMBER() OVER (PARTITION BY probe_id
      |      ORDER BY cos_sim DESC, vec_id) AS rn
      |  FROM (
      |    SELECT p.probe_id, e.vec_id, e.label,
      |      ROUND(
      |        LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> p_emb[i] * emb[i]))
      |        / (SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> p_emb[i] * p_emb[i])))
      |         * SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> emb[i] * emb[i])))),
      |        4) AS cos_sim
      |    FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id) t)""".stripMargin

  /** All-pairs rounded cosine + per-src rank — the exact kNN-graph CTE
    * chain (ends in `r` with (src, dst, cos_sim, rn)). Shared between
    * the knn_graph oracle and [[Graph]]'s pagerank-over-kNN oracle so
    * the edge relation has ONE DuckDB spelling. */
  private[llm] val knnGraphCtes =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
      |           FROM embeddings),
      | n AS (SELECT vec_id, emb,
      |    LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> emb[i] * emb[i])) AS sq
      |   FROM e),
      | p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
      |    ROUND(
      |      LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> a.emb[i] * b.emb[i]))
      |      / (SQRT(a.sq) * SQRT(b.sq)), 4) AS cos_sim
      |   FROM n a JOIN n b ON a.vec_id <> b.vec_id),
      | r AS (SELECT src, dst, cos_sim,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY src
      |      ORDER BY cos_sim DESC, dst) AS BIGINT) AS rn
      |   FROM p)""".stripMargin

  /** Generated DuckDB oracle for [[embedLshVerdict]] — the identical
    * integer pipeline: floor-quantized codes, md5-nibble hyperplane
    * signs, 16 conditional-sum signature bits, two 8-bit packed band
    * keys, band self-join union, integer dot payload. */
  private def embedLshVerdictOracle: String = {
    val sums = (0 until 16).map(j =>
      s"SUM(CASE WHEN h.j = $j THEN c.c * h.h ELSE 0 END) AS s$j")
      .mkString(", ")
    val k0 = (0 until 8).map(j =>
      s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    val k1 = (8 until 16).map(j =>
      s"(CASE WHEN s$j > 0 THEN ${1L << (j - 8)} ELSE 0 END)").mkString(" + ")
    val dig = "(CASE WHEN ASCII(SUBSTR(MD5(j.range || ':' || i.range), 1, 1)) >= 97 " +
      "THEN ASCII(SUBSTR(MD5(j.range || ':' || i.range), 1, 1)) - 87 " +
      "ELSE ASCII(SUBSTR(MD5(j.range || ':' || i.range), 1, 1)) - 48 END)"
    s"""WITH c AS (SELECT vec_id, r.range AS i,
       |        CAST(FLOOR(CAST(embedding[r.range + 1] AS DOUBLE) * 1000) AS BIGINT) AS c
       |      FROM embeddings, range(0, 64) r),
       | h AS (SELECT j.range AS j, i.range AS i,
       |        CASE WHEN $dig >= 8 THEN 1 ELSE -1 END AS h
       |       FROM range(0, 16) j, range(0, 64) i),
       | s AS (SELECT c.vec_id, $sums FROM c JOIN h ON h.i = c.i GROUP BY c.vec_id),
       | bk AS (SELECT vec_id, $k0 AS k0, $k1 AS k1 FROM s),
       | cand AS (SELECT DISTINCT vec_a, vec_b FROM (
       |     SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |     FROM bk a JOIN bk b ON a.k0 = b.k0 AND a.vec_id < b.vec_id
       |     UNION ALL
       |     SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |     FROM bk a JOIN bk b ON a.k1 = b.k1 AND a.vec_id < b.vec_id))
       |SELECT cand.vec_a, cand.vec_b, CAST(SUM(ca.c * cb.c) AS BIGINT) AS qdot
       |FROM cand JOIN c ca ON ca.vec_id = cand.vec_a
       |JOIN c cb ON cb.vec_id = cand.vec_b AND cb.i = ca.i
       |GROUP BY 1, 2
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** Generated DuckDB oracle for [[annPqVerdict]] — geometry constants
    * interpolated from the same vals the Spark plan reads (ADVICE r9);
    * the quantized-dim CTE is the embedLshVerdictOracle spelling, the
    * pivot CTE the annIvfFixedPivots spelling, and the encode argmin is
    * ROW_NUMBER ... ORDER BY dist, r — exactly the lexicographic
    * struct-min the Spark side computes. */
  private def annPqVerdictOracle(k: Int): String =
    s"""WITH q AS (SELECT vec_id, r.range AS i,
       |        CAST(FLOOR(CAST(embedding[r.range + 1] AS DOUBLE) * 1000) AS BIGINT) AS c
       |      FROM embeddings, range(0, ${VerdictPqM * VerdictPqSub}) r),
       | piv AS (SELECT vec_id AS pid,
       |    CAST(ROW_NUMBER() OVER (
       |      ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id) AS INTEGER) AS r
       |   FROM embeddings
       |   ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $VerdictPqK),
       | cent AS (SELECT p.r, q.i, q.c AS cc FROM piv p
       |          JOIN q ON q.vec_id = p.pid),
       | d AS (SELECT v.vec_id, v.i // $VerdictPqSub AS j, c.r,
       |    CAST(SUM((v.c - c.cc) * (v.c - c.cc)) AS BIGINT) AS dist
       |   FROM q v JOIN cent c ON c.i = v.i GROUP BY 1, 2, 3),
       | code AS (SELECT vec_id, j, r AS code FROM d
       |   QUALIFY ROW_NUMBER() OVER (
       |     PARTITION BY vec_id, j ORDER BY dist, r) = 1),
       | lut AS (SELECT v.vec_id AS probe_id, v.i // $VerdictPqSub AS j,
       |    c.r AS code, CAST(SUM(v.c * c.cc) AS BIGINT) AS d
       |   FROM q v JOIN cent c ON c.i = v.i
       |   WHERE v.vec_id < 10 GROUP BY 1, 2, 3),
       | adc AS (SELECT l.probe_id, co.vec_id,
       |    CAST(SUM(l.d) AS BIGINT) AS adc
       |   FROM code co JOIN lut l ON l.j = co.j AND l.code = co.code
       |   WHERE co.vec_id <> l.probe_id GROUP BY 1, 2),
       | r AS (SELECT probe_id, vec_id, adc,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY adc DESC, vec_id) AS BIGINT) AS rn FROM adc)
       |SELECT probe_id, vec_id, adc, rn FROM r
       |WHERE rn <= $k ORDER BY probe_id, rn""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "embed_lshpairs_verdict" -> embedLshVerdictOracle,
    "ann_pq_verdict" -> annPqVerdictOracle(5),
    // All-pairs rounded cosine + per-src top-k — the shared spelling of
    // embCte generalized from the 10-probe frame to every vector.
    "knn_graph" ->
      s"""WITH $knnGraphCtes
         |SELECT src, dst, cos_sim, rn FROM r
         |WHERE rn <= 3 ORDER BY src, rn""".stripMargin,

    // The fixed-pivot multi-probe graph, end-to-end: pivots = the
    // FixedPivotNlist smallest md5(vec_id) vectors; every vector joins
    // the cells of its FixedPivotNprobe nearest pivots (full-L2 over
    // the double-cast values — LIST_SUM left-folds like Spark's
    // aggregate, proven bit-identical by fn_vector); rounded cosine +
    // per-src top-k inside the probed cells. Geometry constants are
    // interpolated from the same vals the Spark plan reads.
    "knn_graph_blocked_verdict" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |           FROM embeddings),
         | piv AS (SELECT vec_id AS pid, emb AS pv FROM e
         |         ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id
         |         LIMIT $FixedPivotNlist),
         | d AS (SELECT e.vec_id, piv.pid,
         |    LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),
         |      i -> (e.emb[i] - piv.pv[i]) * (e.emb[i] - piv.pv[i]))) AS dist
         |   FROM e CROSS JOIN piv),
         | rk AS (SELECT vec_id, pid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, pid) AS r
         |   FROM d),
         | n AS (SELECT vec_id, emb,
         |    LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> emb[i] * emb[i])) AS sq
         |   FROM e),
         | cand AS (SELECT p.vec_id AS src, a.vec_id AS dst
         |   FROM rk p JOIN rk a ON p.pid = a.pid AND a.r = 1
         |   WHERE p.r <= $FixedPivotNprobe AND p.vec_id <> a.vec_id),
         | sc AS (SELECT c.src, c.dst,
         |    ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),
         |        i -> x.emb[i] * y.emb[i]))
         |      / (SQRT(x.sq) * SQRT(y.sq)), 4) AS cos_sim
         |   FROM cand c JOIN n x ON c.src = x.vec_id
         |               JOIN n y ON c.dst = y.vec_id),
         | r AS (SELECT src, dst, cos_sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY src
         |      ORDER BY cos_sim DESC, dst) AS BIGINT) AS rn FROM sc)
         |SELECT src, dst, cos_sim, rn FROM r
         |WHERE rn <= 3 ORDER BY src, rn""".stripMargin,

    // The fixed-pivot IVF retrieval, end-to-end: same pivot choice and
    // cell assignment as knn_graph_blocked_verdict's CTE chain, with
    // the candidate stage probe-side (the ten probes' nprobe nearest
    // cells) and the exact rounded-cosine rerank + per-probe top-k
    // (k = 5, the ann_ivf registry row's k).
    "ann_ivf_verdict" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |           FROM embeddings),
         | piv AS (SELECT vec_id AS pid, emb AS pv FROM e
         |         ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id
         |         LIMIT $FixedPivotNlist),
         | d AS (SELECT e.vec_id, piv.pid,
         |    LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),
         |      i -> (e.emb[i] - piv.pv[i]) * (e.emb[i] - piv.pv[i]))) AS dist
         |   FROM e CROSS JOIN piv),
         | rk AS (SELECT vec_id, pid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, pid) AS r
         |   FROM d),
         | n AS (SELECT vec_id, emb,
         |    LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> emb[i] * emb[i])) AS sq
         |   FROM e),
         | cand AS (SELECT p.vec_id AS probe_id, a.vec_id
         |   FROM rk p JOIN rk a ON p.pid = a.pid AND a.r = 1
         |   WHERE p.vec_id < 10 AND p.r <= $FixedPivotNprobe
         |     AND p.vec_id <> a.vec_id),
         | sc AS (SELECT c.probe_id, c.vec_id,
         |    ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),
         |        i -> x.emb[i] * y.emb[i]))
         |      / (SQRT(x.sq) * SQRT(y.sq)), 4) AS cos_sim
         |   FROM cand c JOIN n x ON c.probe_id = x.vec_id
         |               JOIN n y ON c.vec_id = y.vec_id),
         | r AS (SELECT probe_id, vec_id, cos_sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
         |      ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rn FROM sc)
         |SELECT probe_id, vec_id, cos_sim, rn FROM r
         |WHERE rn <= 5 ORDER BY probe_id, rn""".stripMargin,

    // LIST_SUM left-folds like Spark's aggregate (proven bit-identical by
    // fn_vector); the rounding is the shared floor(+0.5) spelling.
    "embed_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |           FROM embeddings),
        | s AS (SELECT vec_id, emb,
        |    LIST_MAX(LIST_TRANSFORM(emb, x -> ABS(x))) / 127 AS scale FROM e),
        | q AS (SELECT vec_id, emb, scale,
        |    LIST_TRANSFORM(emb, x -> CAST(FLOOR(x / scale + 0.5) AS BIGINT))
        |      AS codes
        |   FROM s)
        |SELECT vec_id,
        | ROUND(scale * 1e6, 4) AS scale_ppm,
        | CAST(LIST_SUM(codes) AS BIGINT) AS codes_sum,
        | CAST(LIST_MAX(codes) AS BIGINT) AS codes_max,
        | ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(emb) + 1),
        |     i -> (emb[i] - codes[i] * scale) * (emb[i] - codes[i] * scale)))
        |   / LEN(emb) * 1e6, 4) AS mse_ppm
        |FROM q ORDER BY vec_id""".stripMargin,

    "sim_topk" ->
      s"""WITH $embCte
         |SELECT probe_id, vec_id, cos_sim, rn FROM topk
         |WHERE rn <= 5 ORDER BY probe_id, rn""".stripMargin,

    // Both stages are the shared rounded-cosine spelling (LIST_SUM
    // left-folds like Spark's aggregate); prefix dim and the
    // rerankFactor×k window are interpolated from the same constants
    // the plan reads (ADVICE r9; k = 5 is the registry row's k).
    "ann_mrl" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |           FROM embeddings),
        | p AS (SELECT vec_id AS probe_id, emb AS p_emb FROM e
        |       WHERE vec_id < 10),
        | c AS (SELECT p.probe_id, e.vec_id, p.p_emb, e.emb,
        |    ROUND(
        |      LIST_SUM(LIST_TRANSFORM(RANGE(1, ${MrlPrefixDim + 1}), i -> p_emb[i] * emb[i]))
        |      / (SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, ${MrlPrefixDim + 1}),
        |           i -> p_emb[i] * p_emb[i])))
        |       * SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, ${MrlPrefixDim + 1}),
        |           i -> emb[i] * emb[i])))), 4) AS cos16
        |   FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id),
        | w AS (SELECT * FROM c QUALIFY ROW_NUMBER() OVER (
        |    PARTITION BY probe_id ORDER BY cos16 DESC, vec_id) <= ${PqRerankFactor * 5}),
        | r AS (SELECT probe_id, vec_id,
        |    ROUND(
        |      LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> p_emb[i] * emb[i]))
        |      / (SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),
        |           i -> p_emb[i] * p_emb[i])))
        |       * SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),
        |           i -> emb[i] * emb[i])))), 4) AS cos_sim
        |   FROM w)
        |SELECT probe_id, vec_id, cos_sim,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
        |    ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rn
        |FROM r QUALIFY rn <= 5 ORDER BY probe_id, rn""".stripMargin,

    "knn_label" ->
      s"""WITH $embCte,
         |votes AS (
         |  SELECT probe_id, label, COUNT(*) AS votes FROM topk
         |  WHERE rn <= 5 GROUP BY probe_id, label)
         |SELECT probe_id, label AS pred_label, votes FROM votes
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY probe_id
         |  ORDER BY votes DESC, label) = 1
         |ORDER BY probe_id""".stripMargin,

    "embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |           FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        | ROUND(
        |   LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> a.emb[i] * b.emb[i]))
        |   / (SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> a.emb[i] * a.emb[i])))
        |    * SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> b.emb[i] * b.emb[i])))),
        |   4) AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE ROUND(
        |   LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> a.emb[i] * b.emb[i]))
        |   / (SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> a.emb[i] * a.emb[i])))
        |    * SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> b.emb[i] * b.emb[i])))),
        |   4) >= $NeardupCos
        |ORDER BY vec_a, vec_b""".stripMargin,

    // The exact-arm SemDeDup verdict: embed_neardup's pair predicate
    // feeding dedup_components' recursive-CTE reachability, then the
    // canonical-member keep flag over EVERY corpus vector.
    "dedup_semantic_verdict" ->
      s"""WITH RECURSIVE
        | e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |       FROM embeddings),
        | pairs AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |   FROM e a JOIN e b ON a.vec_id < b.vec_id
        |   WHERE ROUND(
        |     LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> a.emb[i] * b.emb[i]))
        |     / (SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> a.emb[i] * a.emb[i])))
        |      * SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> b.emb[i] * b.emb[i])))),
        |     4) >= $NeardupCos),
        | ed AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |        UNION ALL SELECT doc_b, doc_a FROM pairs),
        | r(a, b) AS (SELECT a, b FROM ed
        |             UNION
        |             SELECT r.a, ed.b FROM r JOIN ed ON r.b = ed.a),
        | lab AS (SELECT a AS vec_id, LEAST(a, MIN(b)) AS component_id
        |         FROM r GROUP BY a)
        |SELECT v.vec_id,
        | COALESCE(lab.component_id, v.vec_id) AS component_id,
        | CAST(COALESCE(lab.component_id, v.vec_id) = v.vec_id AS BIGINT)
        |   AS keep
        |FROM e v LEFT JOIN lab ON v.vec_id = lab.vec_id
        |ORDER BY v.vec_id""".stripMargin,

    // simjoin_auto expands to the exact plan at verify scale (stats-based
    // auto), so its oracle is the same exact-cosine SQL.
    "simjoin_auto" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |           FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        | ROUND(
        |   LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> a.emb[i] * b.emb[i]))
        |   / (SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> a.emb[i] * a.emb[i])))
        |    * SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> b.emb[i] * b.emb[i])))),
        |   4) AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE ROUND(
        |   LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> a.emb[i] * b.emb[i]))
        |   / (SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> a.emb[i] * a.emb[i])))
        |    * SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> b.emb[i] * b.emb[i])))),
        |   4) >= $NeardupCos
        |ORDER BY vec_a, vec_b""".stripMargin
    // ann_ivf: approximate (bucketed) → rows-only gate; recall vs sim_topk
    // is property-tested in LlmSpec.
    // embed_lshpairs: signatures aren't SQL-expressible → rows-only gate;
    // recall property-tested in LlmSpec.
  )
}
