package graft

import scala.collection.mutable

import graft.Profile.Measured
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/**
 * Scale-growth benchmark over the builder-owned stress corpus
 * (VERDICT r4 item 1): runs the heavy dedup/similarity/range-join
 * families at 1×/3×/10×/30× of sf0.1-equivalent size and emits
 * BENCH_stress.json with, per query and scale:
 *
 *   - wall seconds, result rows, executed join strategies, gc seconds,
 *     cpu_share (the same self-diagnosis fields as bench.json);
 *   - the time/rows growth EXPONENTS, least-squares slope of ln(y) on
 *     ln(scale) over every measured scale (a 1.5-order-of-magnitude
 *     span) — the number the 100 TB claim rests on: e ≈ 1 is linear
 *     scaling, e ≈ 2 means the operator went quadratic and its scale
 *     story is wrong;
 *   - for the two LSH families, the CANDIDATE-PAIR counts (the frame
 *     before verification, counted by the operators' own candidate
 *     stages) and their growth exponent — banding's sub-quadratic
 *     candidate growth is the claim that separates LSH from all-pairs.
 *
 * Methodology matches Bench: first-touch timings in one warm JVM, each
 * point one [[Profile.forced]] run (row count plus checksum, with the
 * cache/checkpoint/GC hygiene after it) on a [[Profile.session]] at
 * `SPARK_GRAFT_CPUS` cores (32 when unset; the artifact records the
 * count as `cpus`). The sweep is one table of (scales, rows) blocks
 * ([[sweep]]), and the artifact a pure function of the points
 * ([[artifact]]). The curate pipeline runs its LSH arm
 * (`spark.graft.curate.pairStrategy=lsh`) — the 100 TB configuration,
 * not the small-corpus oracle arm.
 *
 * Reading the artifact: `join_range_binned`'s OUTPUT grows ~quadratically
 * in the scale factor BY CONSTRUCTION (both probe rows and per-bin
 * density scale linearly, and the true join result is their product) —
 * for that entry the scale claim is `sec_per_mrow` staying flat
 * (time tracking output, candidates ∝ rows-per-bin), not e_time ≈ 1.
 */
object StressBench {

  val stressQueries: Seq[String] = Seq(
    "minhash_lsh", "dedup_near", "tokjoin_auto", "text_tfidf",
    // r14: query-driven sparse retrieval — rides the tfidf/bm25
    // skeleton (two hash aggs + probe join + per-probe window), so
    // e_time ≈ 1 is the pass bar like text_tfidf's.
    "text_search_bm25",
    "pipeline_curate", "pipeline_decontaminate",
    "embed_lshpairs", "sim_topk", "join_range_binned",
    // r5 breadth: the event/window families — one shuffle by a key
    // whose per-key work is scale-invariant in this corpus (disjoint
    // key-shifted copies), so e_time ≈ 1 is the pass bar, not a hope.
    "event_sessionize", "event_ewma", "join_asof",
    "topk_per_group", "window_time_rolling",
    // r6: the corpus-sized IVF index (VERDICT r5 item 1). Its e_time is
    // the INDEX BUILD (n × nlist ≈ n^1.5 kernel distances — textbook
    // IVF-flat, amortized across every query the index serves); the
    // sub-linear claim is the ann_ivf_candidates row: candidates ≈
    // 10·n·nprobe/nlist ≈ n^¾ (e_rows < 1), vs the r5 fixed geometry's
    // constant 30% corpus fraction.
    "ann_ivf",
    // r8: the PQ pair. embed_pq is one encode scan (driver-trained
    // bounded-sample codebooks + per-subspace codegen argmin) — e_time
    // ≈ 1 is the pass bar. ann_pq's ADC scan is linear in codes with a
    // 10-partition per-probe top-(16k) window sort behind it; e_time
    // near 1 says the code-stream scan, not the float corpus, is what
    // scales.
    "embed_pq", "ann_pq",
    // r9: the composed IVF-PQ index (FAISS's IndexIVFPQ shape). Its
    // e_time is still the k-means build + assignment (n^1.5 kernel,
    // shared with ann_ivf); the query side multiplies ann_ivf's n^¾
    // candidate pruning with ann_pq's packed-code ADC payload.
    "ann_ivfpq",
    // r8: semantic dedup + DSIR selection. dedup_semantic's cost model
    // is the k-means build (same class as ann_ivf) plus the
    // within-cluster pair scan — candidate volume Σ|cluster|² ≈ n²/k ≈
    // n^1.5 at k=√n, measured directly by the semantic_candidates row
    // (e_rows ≈ 1.5 is the DESIGN, not a failure; the point is it's
    // n^1.5, not the exact arm's n²). curate_dsir is two hash aggs +
    // one model join + the two-phase rank — e_time ≈ 1 is the pass bar.
    "dedup_semantic", "curate_dsir")

  /** r10: the multi-probe kNN graph — measured at the TWO SMALLEST
    * scales only. Its honest cost is the n^1.75 multi-probe candidate
    * stream (n sources × nprobe ∝ n^0.25 buckets × n^0.5 bucket width
    * — a full-corpus graph build, the job FAISS runs on GPU farms),
    * so the larger stress scales would spend sweep-hours re-measuring
    * a known class: the committed s1→s3 fit is e_time 1.18 (constants
    * dominate small scales), and a one-off s10 probe during round 10
    * measured 509 s — ≈ 1.6 over s1→s10 against that run's s1,
    * approaching the analytic exponent; sub-quadratic either way,
    * which is the design claim (the exact arm is n²). */
  val knnGraphScales = 2

  /** r11: the end-to-end LINEAR graph build (knn_graph_nnd: LSH+ring
    * seed, NN-descent rounds at working degree 12) rides ONE scale
    * further than its super-linear siblings — its n·K² rounds are
    * linear in n, so the s10 point the n^1.75 blocked arm priced at
    * 509 s in round 10 costs ~60 s here. The committed s10 row is the
    * demonstration that the linear arm reaches corpus sizes the
    * blocked-seeded pipeline cannot.
    *
    * r12 (VERDICT r11 #7) added the s30 point (600 k vectors); r16
    * (VERDICT r15 #5) moved the last composed rows (pagerank /
    * triangles over the NND edges) up to this same span — every
    * NND-family arm now rides the full s1–s30 range (the former
    * 3-scale containment tier is gone), with pagerank_nnd additionally
    * priced at s100 in the fresh-context block. Gates stay RELATIVE to
    * the co-measured edge source. */
  val nndBuildScales = 4

  /** The registry `simjoin_auto` (cos ≥ 0.35) is NOT in the sweep: below
    * the 0.8 recall floor auto correctly refuses LSH, and the exact
    * answer it computes is itself near-quadratic in size (~40 M pairs at
    * s10 — the first sweep measured its s3 form at 52.6 s as a
    * CartesianProduct, which is what motivated the floor). The planner
    * story at scale is instead measured at the near-dup threshold the
    * banding is calibrated for: s1 (20 k vectors) sits AT the measured
    * crossover — where exact (9.3 s) and LSH (10.8 s) genuinely cost
    * the same, so either choice is correct and the r5 estimator change
    * (leaf-bytes row estimation) legitimately moved it from exact to
    * LSH — while s3/s10 are clearly past it and must pick LSH. The
    * chosen arm is recorded per scale in the strategy field. */
  def simjoinAutoNearDup(spark: SparkSession, dir: String) =
    graft.plans.SimilarityJoin.cosineSelfJoin(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", 0.9, "auto")

  /** Decontamination's Bloom scale arm (r5): holdout-gram Bloom bits
    * broadcast as a pre-filter on the train gram stream, exact join
    * verifies — measured here so the arm's build cost (count + bloom
    * aggregate over the SMALL side) and filter win are on the record
    * next to the exact arm's numbers. */
  def decontBloom(spark: SparkSession, dir: String) = {
    val c = spark.conf
    c.set(graft.llm.Curate.DecontStrategyKey, "bloom")
    try graft.llm.Curate.decontaminate(Tables.documents(spark, dir))
    finally c.unset(graft.llm.Curate.DecontStrategyKey)
  }

  /** Decontamination's exact arm PINNED (the registry default is auto,
    * which flips past the crossover): its cost curve recorded beside
    * the bloom rows at s1–s100 IS the measured bloom-vs-broadcast
    * crossover VERDICT r5 item 5 asked for. */
  def decontExact(spark: SparkSession, dir: String) = {
    val c = spark.conf
    c.set(graft.llm.Curate.DecontStrategyKey, "exact")
    try graft.llm.Curate.decontaminate(Tables.documents(spark, dir))
    finally c.unset(graft.llm.Curate.DecontStrategyKey)
  }

  /** The UNSALTED shuffle join over the skewed corpus — join_salted's
    * exact output shape minus the salt, so the two rows read side by
    * side: what the manual arm buys vs what AQE's automatic split
    * recovers on its own. */
  def plainShuffleJoin(spark: SparkSession, dir: String) =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        Q.moneySum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))

  /** What a swept row measures at one scale dir: a registry query, a
    * local DataFrame (both checksum-forced), or a non-DataFrame action
    * whose figures — row-name suffix → the count recorded as `rows` —
    * share one measured run. */
  private[graft] sealed trait Body
  private[graft] final case class Query(name: String) extends Body
  private[graft] final case class Frame(f: (SparkSession, String) => DataFrame)
      extends Body
  private[graft] final case class Action(strategy: String,
      f: (SparkSession, String) => Seq[(String, Long)]) extends Body

  /** One swept row. `cc` is the cc_rounds key prefix under which the
    * row's fixpoint step count is recorded per scale. */
  private[graft] final case class Arm(name: String, body: Body,
      cc: Option[String] = None)

  /** The row that measures the registry query of its own name. */
  private def query(name: String, cc: Option[String] = None): Arm =
    Arm(name, Query(name), cc)

  /** One corpus scale: name, size factor, which table directories it
    * holds, and whether it has a skew dir. */
  private[graft] final case class Scale(name: String, factor: Double,
      tables: Set[String], skew: Boolean)

  /** Recall, in basis points (10000 = 1.00), of each approximate top-5
    * id set vs the exact cosine top-5 over the 10 fixture probes, keyed
    * by row-name suffix. ann_pq's curve over rerank widths is the
    * measurement behind [[graft.llm.Similarity.PqRerankFactor]]'s
    * default. */
  private def recall(spark: SparkSession, dir: String,
      approx: Seq[(String, () => DataFrame)]): Seq[(String, Long)] = {
    def ids(df: DataFrame) = df.select(col("probe_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = ids(llm.Similarity.bruteTopK(spark, dir, 5))
    approx.map { case (suffix, df) =>
      suffix -> math.round((exact & ids(df())).size.toDouble / exact.size * 10000) }
  }

  /** The rows the s100 banded block and the uniform sweep share. */
  private val simjoinNd09 = Arm("simjoin_auto_nd09", Frame(simjoinAutoNearDup))
  private val decontBloomArm = Arm("pipeline_decont_bloom", Frame(decontBloom))
  private val decontExactArm = Arm("pipeline_decont_exact", Frame(decontExact))
  // The Bloom BUILD alone (its load-time cost; probe ≈ the bloom row
  // minus this); rows = the filter's sized-for gram count.
  private val bloomBuild = Arm("decont_bloom_build", Action("bloom_build",
    (s, d) => Seq("" -> llm.Curate.buildHoldoutBloom(Tables.documents(s, d))._2)))
  // LSH candidate-pair counts via the operators' own candidate stages
  private val minhashCandidates = Arm("minhash_lsh_candidates",
    Frame((s, d) => llm.Dedup.lshCandidates(Tables.documents(s, d))))
  private val embedCandidates = Arm("embed_lsh_candidates",
    Frame((s, d) => llm.Similarity.lshCandidates(Tables.embeddings(s, d))))

  /** The sweep, in execution order: blocks of (scales, rows). Each block
    * runs scale by scale — an untimed ANALYZE of the scale dir, so its
    * points plan on that scale's TRUE rowCounts, then the block's rows in
    * order. The skew sweep and the s100 fresh-context rows follow it
    * (see `main`). */
  private[graft] def sweep(uniform: Seq[String],
      s100: Seq[String]): Seq[(Seq[String], Seq[Arm])] = {
    val nnd = uniform.take(nndBuildScales)
    Seq(
      uniform -> (stressQueries.map(query(_)) ++ Seq(
        simjoinNd09, decontBloomArm,
        // The decont crossover (VERDICT r5 item 5): exact arm beside the
        // bloom arm, plus the bloom build alone — three curves that
        // locate where bloom starts paying.
        decontExactArm, bloomBuild, minhashCandidates, embedCandidates,
        // IVF probe-scan volume BEFORE rerank — the fraction-shrink claim:
        // rows ≈ 10 probes × n × nprobe/nlist ≈ n^¾ ⇒ e_rows ≈ 0.75.
        Arm("ann_ivf_candidates", Frame((s, d) =>
          llm.Similarity.ivfCandidates(s, d).select("probe_id", "vec_id"))),
        // SemDeDup's blocked pair volume BEFORE the cosine filter — the
        // Σ|cluster|² ≈ n^1.5 claim measured directly (vs the exact arm's
        // n²): e_rows ≈ 1.5 by design, and the gap to 2.0 is the win.
        Arm("semantic_candidates", Frame((s, d) =>
          llm.Similarity.semanticCandidates(Tables.embeddings(s, d)).select("vec_a", "vec_b"))),
        // Iterative-shuffle evidence (VERDICT r5 item 2): components over
        // the LSH pair graph — the 100 TB composition (the registry
        // entry's exact-jaccard pair source is the small-corpus oracle
        // arm). The cost model is fixpoint rounds × one full join+agg
        // shuffle, so BOTH seconds and rounds are recorded: constant
        // near-dup diameters must keep rounds flat as the corpus grows.
        Arm("dedup_components_lsh", Frame((s, d) => llm.Dedup.connectedComponents(
          llm.Dedup.minhashLsh(Tables.documents(s, d), 0.95))), cc = Some("")))),
      // Multi-probe kNN graph: smallest [[knnGraphScales]] scales only.
      // knn_graph_refine (r11) rides the same scales: its seed IS
      // knn_graph_blocked, so the pair prices seed-vs-refined at
      // identical corpus sizes.
      uniform.take(knnGraphScales) -> Seq(query("knn_graph_blocked"),
        query("knn_graph_refine")),
      // The linear arm reaches further than its super-linear siblings —
      // see [[nndBuildScales]].
      nnd -> Seq(query("knn_graph_nnd")),
      // The composed NND-family rows, priced over the SAME linear edge
      // build and gated RELATIVE to the co-measured knn_graph_nnd source
      // in artifact_check. Triangles: the wedge join fans by oriented
      // out-degree (bounded by the graph's k), so its growth class should
      // be its edge source's.
      nnd -> Seq(Arm("graph_triangles_nnd", Frame((s, d) => llm.Graph.triangles(
        llm.Similarity.knnGraphNnd(Tables.embeddings(s, d), 3)
          .select(col("src"), col("dst")))))),
      nnd -> Seq(query("graph_diversity_select_nnd")),
      // The components family's linear arm; its SV fixpoint step counts
      // land in cc_rounds under "knn_<scale>" and must stay under the
      // 40-step artifact envelope — a linearly growing series is the
      // regression the planted-chain test guards in miniature.
      nnd -> Seq(query("graph_components_nnd", cc = Some("knn_"))),
      // The exact arm anchors at s1 only: its edge build is the n² exact
      // kNN graph; the s1 row pins the absolute cost for the
      // exact-vs-linear read.
      uniform.take(1) -> Seq(query("graph_components_knn")),
      // The co-purchase graph: a linear within-order pair fan whose EDGE
      // set saturates (StressGen reuses the s1 part key space), so the
      // rows price a linear scan + the fixpoint on a growing-density
      // graph. Step counts land under "cp_<scale>"; the weighted rank,
      // seeded+weighted rank and hop-distance siblings share the fan and
      // are gated ≤ 1.2 in artifact_check.
      uniform -> Seq(query("graph_components_copurchase", cc = Some("cp_")),
        query("graph_pagerank_copurchase"), query("graph_ppr_weighted"),
        query("graph_bfs_seeds")),
      // graph_ppr shares Graph.pprOver with the registry row. The stress
      // corpus has no customer table, so the seed frame anchors on the
      // same ten customers via orders' o_custkey.
      uniform -> Seq(Arm("graph_ppr", Frame((s, d) => llm.Graph.pprOver(s, d,
        Tables.orders(s, d).filter(col("o_custkey") <= 10)
          .select((col("o_custkey") * 2).as("node")))))),
      // 10 fixed integer-PageRank rounds over the customer→supplier
      // digraph, whose distinct edge set saturates while the derivation
      // scan grows ×factor (gated e_time ≤ 1.2).
      uniform -> Seq(query("graph_pagerank")),
      nnd -> Seq(query("graph_pagerank_nnd")),
      // Recall curves at the smallest and (when present) the s10 scale:
      // recall is a per-probe neighborhood property, so the two points
      // pin that it does not collapse as the corpus grows. ONE run per
      // scale per curve — the exact ground truth and the index builds
      // dominate and are width/nprobe-independent — so a curve's points
      // share that run's seconds; recall (rows, in basis points) is the
      // gated claim. The ivfpq curve's default-geometry point (nprobe ≈
      // 1.5·√nlist grows with the corpus) is gated in artifact_check.
      (uniform.take(1) ++ uniform.filter(_ == "s10")).distinct -> Seq(
        Arm("ann_pq_recall", Action("pq_recall", (s, d) => recall(s, d,
          Seq(16, 32, 64, 128).map(w =>
            s"_w$w" -> (() => llm.Similarity.annPq(s, d, 5, w)))))),
        Arm("ann_ivfpq_recall", Action("ivfpq_nprobe", (s, d) => recall(s, d,
          (Seq(2, 4, 8, 16).map(Option(_)) :+ None).map(np =>
            s"_${np.fold("default")(n => s"p$n")}" ->
              (() => llm.Similarity.annIvfPq(s, d, 5, nprobeOverride = np))))))),
      // s100: banded families only (VERDICT r5 item 8) — the corpus
      // carries only documents (1 M) + embeddings (2 M). s100 is where
      // the decont auto gate's crossover lands, so the exact arm measures
      // what auto escapes FROM and the registry default picks bloom.
      s100 -> (Seq("minhash_lsh", "tokjoin_auto", "embed_lshpairs",
        "embed_pq", "ann_pq").map(query(_)) ++ Seq(simjoinNd09, decontBloomArm,
        decontExactArm, query("pipeline_decontaminate"), bloomBuild,
        minhashCandidates, embedCandidates)))
  }

  /** The skew sweep's rows: three registry queries, recorded as
    * `<query>_skew`, and the unsalted shuffle join. */
  private val skewArms = Seq("event_sessionize", "topk_per_group",
    "join_salted").map(q => Arm(s"${q}_skew", Query(q))) :+
    Arm("join_plain_skew", Frame(plainShuffleJoin))

  /** The s100 rows that each run in a fresh SparkContext (see `main`). */
  private val s100FreshArms = Seq(query("knn_graph_nnd"),
    query("graph_components_nnd", cc = Some("knn_")), query("graph_pagerank_nnd"))

  /** Every registry query the sweep runs. */
  private[graft] def registryQueries: Seq[String] =
    (sweep(Seq("s1"), Seq("s100")).flatMap(_._2) ++ skewArms ++ s100FreshArms)
      .collect { case Arm(_, Query(q), _) => q }.distinct

  /** The BENCH_stress.json artifact: per row and scale the measured
    * point, then the growth exponents — the least-squares slope of ln(y)
    * on ln(scale factor) over every scale with a valid measurement — and
    * `sec_per_mrow`; figures rounded to 3 decimals, NaN as `null`. */
  private[graft] def artifact(root: String, cpus: Int, scales: Seq[Scale],
      results: Seq[(String, Seq[(String, Measured)])],
      ccRounds: Seq[(String, Int)], confNotes: Seq[(String, String)]): JObject = {
    val factor = scales.map(s => s.name -> s.factor).toMap
    def fit(points: Seq[(String, Measured)])(y: Measured => Double): JValue = {
      val pts = points.collect { case (s, m) if y(m) > 0 && factor.contains(s) =>
        (math.log(factor(s)), math.log(y(m))) }
      val n = pts.size
      val mx = pts.map(_._1).sum / n
      val my = pts.map(_._2).sum / n
      val den = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
      Profile.round3(if (n < 2 || den == 0) Double.NaN
        else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / den)
    }
    val queries = results.map { case (name, points) =>
      name -> (JObject(points.map { case (s, m) => s -> (
        ("sec" -> Profile.round3(m.sec)) ~ ("rows" -> m.rows) ~
        ("strategy" -> m.strategy) ~ ("gc_sec" -> Profile.round3(m.gcSec)) ~
        ("cpu_share" -> Profile.round3(m.metrics.cpuShare)): JValue) }.toList) ~
        ("e_time" -> fit(points)(_.sec)) ~
        ("e_rows" -> fit(points)(_.rows.toDouble)) ~
        ("sec_per_mrow" -> JObject(points.map { case (s, m) =>
          s -> Profile.round3(if (m.rows > 0) m.sec / (m.rows / 1e6) else Double.NaN)
        }.toList)))
    }
    val sizes = scales.map { s =>
      s.name -> (JObject(Seq("docs" -> ("documents", 10000L),
          "embeddings" -> ("embeddings", 20000L),
          "lineitem" -> ("lineitem", 600000L), "orders" -> ("orders", 150000L))
        .collect { case (k, (t, n)) if s.tables(t) =>
          k -> (JInt(n * s.factor.toInt): JValue) }.toList) ~
        ("skew" -> s.skew))
    }
    ("metric" -> "stress") ~ ("unit" -> "sec") ~ ("cpus" -> cpus) ~
      ("scales" -> JObject(sizes.toList)) ~
      ("queries" -> JObject(queries.toList)) ~
      ("cc_rounds" -> JObject(ccRounds.map { case (k, n) => k -> (JInt(n): JValue) }.toList)) ~
      ("conf_notes" -> JObject(confNotes.map { case (k, v) => k -> (JString(v): JValue) }.toList)) ~
      ("root" -> root)
  }

  def main(args: Array[String]): Unit = {
    val root = if (args.length > 0) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_STRESS_ROOT", "stressdata")
    def dirExists(p: String): Boolean =
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p))
    // Exponents are the least-squares slope over ALL scale points (r5
    // late), not the endpoint ratio — one noisy endpoint cannot swing
    // the fit. s100 (VERDICT r5 item 8) holds documents+embeddings ONLY,
    // so only the banded rows run there; the fits pick up the extra
    // half-order of magnitude because s100 is part of `scales`.
    val scales = Seq(("s1", 1.0), ("s3", 3.0), ("s10", 10.0), ("s30", 30.0),
        ("s100", 100.0))
      .collect { case (s, f) if dirExists(s"$root/$s") =>
        Scale(s, f, Set("documents", "embeddings", "lineitem", "orders")
          .filter(t => dirExists(s"$root/$s/$t.parquet")), dirExists(s"$root/$s/skew")) }
    val (s100, uniform) = scales.map(_.name).partition(_ == "s100")
    require(uniform.nonEmpty,
      s"no stress scale directories under '$root' — run graft.StressGen first")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // Curate runs its LSH arm — the 100 TB configuration, not the
    // small-corpus oracle arm.
    def freshSession(): SparkSession = {
      val s = Profile.session(cpus)
      s.conf.set("spark.graft.curate.pairStrategy", "lsh")
      s
    }
    // var, not val: the s100 fresh-context rows restart the CONTEXT
    // (same warm JVM) — see that block for why.
    var spark = freshSession()
    val metricsListener = new RunMetricsListener
    spark.sparkContext.addSparkListener(metricsListener)

    // name -> scale -> point, insertion-ordered for stable JSON
    val results = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, Measured]]
    // fixpoint rounds per scale key (VERDICT r5 item 2)
    val ccRounds = mutable.LinkedHashMap.empty[String, Int]
    // "query:scale" -> sizing note for points measured under a conf
    // that differs from the sweep default (ADVICE r14: the s100 arms'
    // per-corpus sizing must ride in the artifact beside the fits that
    // consume those points).
    val confNotes = mutable.LinkedHashMap.empty[String, String]
    val out = sys.env.getOrElse("SPARK_GRAFT_STRESS_OUT", "BENCH_stress.json")
    def json(): String = compact(render(artifact(root, cpus, scales,
      results.toSeq.map { case (n, pts) => n -> pts.toSeq }, ccRounds.toSeq,
      confNotes.toSeq)))
    // Flush the artifact after EVERY recorded row (r14): the r14 s100
    // NND attempt OOM'd an executor thread, SparkUncaughtExceptionHandler
    // halted the JVM, and the end-of-run write never happened — a
    // 50-minute sweep lost to its last row. A dying row now costs
    // exactly itself.
    def writeOut(): Unit =
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json() + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[stress] write $out failed: $e") }

    // One arm at one dir. The fixpoint rounds probe is reset BEFORE the
    // run and recorded only on success (ADVICE r6): a failed scale must
    // not re-record the previous scale's count.
    def run(arm: Arm, dir: String): Seq[(String, Measured)] = {
      llm.Dedup.lastCcRounds = -1
      def forced(df: => DataFrame) = Seq(arm.name ->
        Profile.forced(spark, metricsListener, df))
      arm.body match {
        case Query(q) => forced(SparkEntry.queries(q)(spark, dir))
        case Frame(f) => forced(f(spark, dir))
        case Action(strategy, f) =>
          var figures = Seq.empty[(String, Long)]
          val m = Profile.measure(spark, metricsListener)(f(spark, dir)) { fs =>
            figures = fs
            (fs.size.toLong, BigInt(0), strategy)
          }
          if (m.ok) figures.map { case (suffix, n) => (arm.name + suffix) -> m.copy(rows = n) }
          else Seq(arm.name -> m)
      }
    }
    def point(arm: Arm, scale: String, dir: String): Unit = {
      for ((name, m) <- run(arm, dir)) {
        results.getOrElseUpdate(name, mutable.LinkedHashMap.empty)(scale) = m
        println(f"[stress] $scale%-4s $name%-28s ${m.sec}%8.2f s  " +
          f"rows=${m.rows}%-10d gc=${m.gcSec}%5.2f " +
          f"cpu=${m.metrics.cpuShare}%5.2f  ${m.strategy}" +
          m.error.fold("")(e => s"  $e"))
        if (m.ok) arm.cc.foreach(p => ccRounds(p + scale) = llm.Dedup.lastCcRounds)
      }
      writeOut()
    }

    val table = sweep(uniform, s100)
    // UNTIMED warmup: the first sweep's s1 column was first-touch
    // polluted (JIT, codegen compile, parquet footer caches — minhash_lsh
    // read 5.9 s at s1 vs 1.7 s at 3× the data). One pass of the first
    // block at the SMALLEST EXISTING scale (ADVICE r5) pays all of that
    // outside the timed loop, so the exponents fit ALGORITHMIC growth.
    val warmDir = s"$root/${uniform.head}"
    sources.CatalogStats.registerAndAnalyze(spark, warmDir)
    table.head._2.foreach(run(_, warmDir))
    for ((span, arms) <- table; scale <- span) {
      val dir = s"$root/$scale"
      sources.CatalogStats.registerAndAnalyze(spark, dir)
      arms.foreach(point(_, scale, dir))
    }

    // ---- Zipf-skew sweep (VERDICT r5 item 3) ----
    // The uniform corpus's pass bar (per-key work invariant, e_time ≈ 1)
    // deliberately cannot see hot keys; these dirs re-key events/orders/
    // lineitem with a Zipf draw (hottest key ~5 % of ALL rows at every
    // scale — StressGen.writeSkew). Measured arms:
    //  - join_salted_skew: the MANUAL arm — salt spreads the hot join
    //    key across reducers, so e_time ≤ ~1.1 is the pass bar;
    //  - join_plain_skew: the UNSALTED shuffle join under AQE — the pass
    //    marker is the `+skew` strategy suffix (OptimizeSkewedJoin split
    //    the hot partition at stress scale, not just in PlanShapeSpec);
    //  - event_sessionize_skew / topk_per_group_skew: per-key windows,
    //    where the hot key's work is inherently serial (a session is a
    //    time-ordered scan of ONE user) — recorded as the honest cost of
    //    skew on window operators, with AQE unable to help.
    // Broadcast is disabled for the two joins: at 100 TB neither side
    // broadcasts, and a broadcast join has no skew problem to measure.
    // AQE's skew gates shrink WITH the corpus (8 MB threshold, factor 2
    // vs the hot partition's ~2.5× median here): at 100 TB the DEFAULT
    // gates (256 MB, 5×) trip on the same code path — a 5 % hot key is
    // a multi-TB partition.
    val skewScales = scales.filter(_.skew).map(_.name).filterNot(s100.contains)
    if (skewScales.nonEmpty) {
      val skewConfs = Seq(
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
          (8L * 1024 * 1024).toString,
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
          (4L * 1024 * 1024).toString,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val savedSkew = skewConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
      skewConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        skewArms.foreach(run(_, s"$root/${skewScales.head}/skew"))
        for (scale <- skewScales; arm <- skewArms)
          point(arm, scale, s"$root/$scale/skew")
      } finally savedSkew.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    // r14 (VERDICT r13 #3): the flagship LINEAR claim measured a full
    // half-decade past everything so far — the NN-descent build over
    // the 2 M-vector s100 corpus, then the components arm at its edge
    // source's scale (the SV step-series point knn_s100, where O(log n)
    // could finally bend) and the composed centrality arm.
    // graph_triangles_nnd deliberately stops at s30: its wedge fan is
    // the same bounded-k class the s30 point already prices. These run
    // LAST: the first attempt OOM'd the executor threads and halted the
    // JVM (an uncatchable SparkUncaughtExceptionHandler exit), so the
    // riskiest rows must not be able to cost anything but themselves
    // (the per-row writeOut preserves everything before them). Two
    // confs are sized for the corpus, exactly as a deployment would size
    // them, and recorded per point in conf_notes, next to the fits that
    // consume the s100 numbers (ADVICE r14):
    //  - broadcastSideMaxBytes 256 MB → 1.5 GB: at 2 M vectors the
    //    embedding attach frame (~600 MB) exceeds the conservative
    //    cluster default, and the SMJ fallback SORTS the ~300 M-pair
    //    candidate stream WITH a 64-float payload attached — a ~90 GB
    //    spill that filled the disk (measured; the 16 g run before it
    //    OOM'd in the same stage). Broadcasting the vector table is
    //    the FAISS memory model: the wide stream never moves, only the
    //    narrow (src, dst, cos) streams shuffle.
    //  - shuffle partitions (the core count) → 128: the ~1.1 G-row/round
    //    refine candidate stream at 32 partitions puts ~35 M-row working sets
    //    on each concurrent task.
    // Launch the sweep at -Xmx32g (the broadcast + torrent blocks need
    // the headroom; 16 g measured insufficient even before this stage).
    val s100Conf = "shuffle.partitions=128, broadcastSideMaxBytes=1.5g, " +
      s"fresh SparkContext (s1-s30 points: $cpus / 256m, shared context)"
    for (scale <- s100; arm <- s100FreshArms) {
      val dir = s"$root/$scale"
      // Fresh CONTEXT per row, same warm JVM: a long sweep (and each
      // row before) leaves the block manager holding reachable-but-
      // uncollected broadcast pieces (the r10 "accumulated broadcast
      // debt" class), and the second r14 attempt died building the NND
      // arm's 600 MB embedding broadcast on exactly that debt while the
      // standalone run passed in a fresh JVM. Restarting the
      // SparkContext resets the block manager deterministically;
      // JIT/codegen/parquet-footer warmth lives in the JVM and survives.
      Q.drainCheckpoints(spark)
      spark.stop()
      spark = freshSession()
      spark.sparkContext.addSparkListener(metricsListener)
      sources.CatalogStats.registerAndAnalyze(spark, dir)
      spark.conf.set("spark.sql.shuffle.partitions", "128")
      spark.conf.set(Q.BroadcastSideMaxBytesKey, (1536L * 1024 * 1024).toString)
      confNotes(s"${arm.name}:$scale") = s100Conf
      point(arm, scale, dir)
    }

    println(json())
    writeOut()
    spark.stop()
  }
}
