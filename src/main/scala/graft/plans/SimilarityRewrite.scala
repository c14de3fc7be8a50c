package graft.plans

import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DoubleType

/**
 * Whole-operator similarity join as a first-class plan citizen — the
 * SURVEY.md §4 artifact: a custom `LogicalPlan` node + `Rule[LogicalPlan]`
 * that lets the OPTIMIZER, not the query author, choose between the exact
 * quadratic plan and the hyperplane-LSH plan.
 *
 * The user declares intent ([[SimilarityJoin.cosineSelfJoin]]): "all pairs
 * with cosine ≥ t". [[CosineSelfJoin]] carries that declaration through
 * analysis unchanged; [[SimilarityJoinRewrite]] then expands it into one of
 * two ordinary Catalyst subtrees:
 *
 *  - **exact**: pair BNLJ with conjunct-ordered condition + DotF32 kernel
 *    ([[graft.llm.Similarity.exactPairs]]) — optimal when n² pair work is
 *    cheaper than building signatures (small corpora, probes, unit tests);
 *  - **lsh**: 192-bit random-hyperplane signatures, band-bucket self-join,
 *    exact-cosine verify ([[graft.llm.Similarity.hyperplanePairs]]) —
 *    candidates ∝ bucket occupancy, never all-pairs; recall ≈ 0.9995 at
 *    the calibrated banding for the near-dup regime (cos ≥ 0.9).
 *
 * `strategy = "auto"` is cost-based on TWO axes: the child's estimated
 * row count (rowCount when CBO/ANALYZE has it, else leaf-relation bytes
 * over a measured compressed bytes-per-row — see [[SimilarityJoinRewrite
 * estimatedRows]]) against `spark.graft.simjoin.autoLshRowThreshold` (default
 * 20 000 — the crossover MEASURED in the r5 stress sweep, where the
 * exact pair scan and the LSH pipeline cost the same ~10 s), AND the
 * similarity threshold against the banding geometry's calibrated regime
 * (`lshMinCosine` 0.8 / `lshMinJaccard` 0.9): below the floor the true
 * answer is itself near-quadratic in size and banded recall collapses,
 * so auto stays exact no matter the corpus — see [[SimilarityJoinRewrite
 * .LshMinCosineKey]]. This mirrors how Spark itself promotes BHJ vs SMJ
 * on `autoBroadcastJoinThreshold`; here the trade is
 * exactness-certain-cost vs bounded-recall-linear-cost, and callers can
 * pin `"exact"` / `"lsh"` explicitly.
 *
 * Scale note (100 TB): the decision happens per-query on driver-side
 * stats — no data is read to decide. At cluster scale the same node and
 * rule work unchanged; only the threshold conf moves.
 */
case class CosineSelfJoin(
    child: LogicalPlan,
    idAttr: Attribute,
    vecAttr: Attribute,
    threshold: Double,
    strategy: String,
    override val output: Seq[Attribute])
  extends UnaryNode {
  import org.apache.spark.sql.catalyst.expressions.AttributeSet
  // The pair/cosine attributes originate here, not in the child — without
  // this, CheckAnalysis reports them as missing inputs.
  override def producedAttributes: AttributeSet = AttributeSet(output)
  // The node consumes exactly the id and vector ATTRIBUTES (exprIds, not
  // names — resolved once at construction, ADVICE r2: a child with
  // duplicate column names after a join would make name lookup ambiguous
  // at optimization time). Declaring references lets ColumnPruning drop
  // every OTHER child column (correct) instead of inserting an empty
  // Project under a node with no references.
  override def references: AttributeSet = AttributeSet(Seq(idAttr, vecAttr))
  override protected def withNewChildInternal(newChild: LogicalPlan): CosineSelfJoin =
    copy(child = newChild)
}

/**
 * The token-set twin of [[CosineSelfJoin]]: "all pairs with Jaccard ≥ t
 * over each doc's token set". Arms: prefix-filtered exact AllPairs join
 * ([[graft.llm.Dedup.exactJaccardPairs]]) vs banded MinHash-LSH
 * ([[graft.llm.Dedup.minhashLsh]]) — with these two nodes the optimizer
 * owns the exact-vs-approximate decision for BOTH similarity modalities
 * (vectors and token sets) behind one declarative API.
 */
case class TokenSelfJoin(
    child: LogicalPlan,
    idAttr: Attribute,
    textAttr: Attribute,
    threshold: Double,
    strategy: String,
    override val output: Seq[Attribute])
  extends UnaryNode {
  import org.apache.spark.sql.catalyst.expressions.AttributeSet
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def references: AttributeSet = AttributeSet(Seq(idAttr, textAttr))
  override protected def withNewChildInternal(newChild: LogicalPlan): TokenSelfJoin =
    copy(child = newChild)
}

object SimilarityJoinRewrite extends Rule[LogicalPlan] {

  /** Row count above which auto prefers the LSH arm for the VECTOR
    * modality. Default 20 000 — set by MEASUREMENT, not guess (r5 stress
    * sweep, local[32]): at 20 k vectors the exact pair scan and the LSH
    * pipeline cost the same (9.3 s vs 10.8 s); at 60 k the exact arm is
    * a 52.6 s CartesianProduct while LSH stays single-digit. The
    * crossover is the point where n²/2 kernel evaluations outweigh the
    * signature scan + bucket join — ~2·10⁸ pairs on this hardware. */
  val ThresholdKey = "spark.graft.simjoin.autoLshRowThreshold"

  /** TOKEN-modality crossover — its own key and constant because the
    * two exact kernels cost nothing alike per pair (VERDICT r6 #1: a
    * dot product over two fixed 64-float arrays vs a prefix-filtered
    * token-set intersection over ~100-token docs — the r6 catalog-stats
    * fix fed TRUE rowCounts into auto and the shared 20 k vector
    * constant promptly kept a 22 s exact plan at 5 k docs where the
    * ~4 s LSH plan was designed to run). Default 1 500, measured by
    * a sweep (r7, local[32], sf0.1 doc-prefix subsets — table in
    * tok_crossover.txt): exact/LSH seconds are
    * 1.28/0.77 at 500 docs, 1.69/0.52 at 1 500, 2.60/0.70 at 2 000,
    * 19.44/2.70 at 5 000 — the exact arm is already past its n² knee
    * by 2 000 and LSH's fixed pipeline cost never exceeds ~1 s under
    * it. The default is NOT the wall-time crossover (LSH wins at every
    * measured size on this corpus): below 1 500 rows the exact arm is
    * kept because it guarantees byte-exact pairs for ≤ 1 s of extra
    * cost — the same sweep shows banded recall drop its first pairs at
    * 3 000 docs (190 922 of 190 925 at 5 000) — while above it
    * exactness costs unboundedly more and auto switches to the banded
    * arm. sf0.01's 500-doc registry corpus stays under the cutoff
    * (exact → byte-identical oracle); sf0.1's 5 000 docs sit safely
    * above. */
  val TokThresholdKey = "spark.graft.tokjoin.autoLshRowThreshold"

  /** Similarity floor below which auto REFUSES the LSH arm regardless of
    * size. Banding is calibrated for the near-dup regime: at cos ≥ 0.9
    * the 16×12 geometry keeps recall ≥ 0.93, but at cos 0.35 a band
    * match is so unlikely that recall collapses to a few percent
    * (measured: the s10 stress corpus has ~40 M true pairs at 0.35; the
    * banded arm surfaces 2.7 M). A low-threshold query asks for an
    * answer that is itself ~quadratic in size — no sub-quadratic
    * candidate scheme can produce it faithfully, so the only honest
    * plans are exact (cost ∝ the output the user asked for) or an
    * explicit `strategy = "lsh"` opt-in to bounded recall. */
  val LshMinCosineKey = "spark.graft.simjoin.lshMinCosine"

  /** Jaccard twin of [[LshMinCosineKey]]: MinHash banding (5×12) holds
    * recall ≥ 0.98 at j ≥ 0.95 and ≈ 0.8 at j = 0.9, but j = 0.7 is
    * ~7% — same collapse, same rule. */
  val LshMinJaccardKey = "spark.graft.simjoin.lshMinJaccard"

  /** Per-modality compressed bytes-per-row constants live in
    * [[StatsEst]] (ADVICE r5: band sizing used 280 B for the same
    * modality this rule estimated at 40 B — one constant per modality,
    * shared by every caller). The first bench_all run proved the
    * uncompressed-estimate 280 B mis-sized a 50 k-doc corpus as 910
    * rows and silently kept a 21 s exact arm where the 2 s LSH arm was
    * the designed choice. */
  private val EstRowBytesVec = StatsEst.EstRowBytesVec
  private val EstRowBytesTok = StatsEst.EstRowBytesTok

  /** Auto arm choice, shared by both modalities: LSH iff the corpus is
    * past the modality's measured crossover AND the threshold sits in
    * the regime the banding geometry is calibrated for. */
  private def autoUsesLsh(child: LogicalPlan, threshold: Double,
      minThresholdKey: String, minThresholdDefault: String,
      rowThresholdKey: String, rowThresholdDefault: String,
      bytesPerRow: Int): Boolean = {
    StatsEst.estimatedRows(child, bytesPerRow) >
      BigInt(conf.getConfString(rowThresholdKey, rowThresholdDefault).toLong) &&
      threshold >= conf.getConfString(minThresholdKey, minThresholdDefault).toDouble
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case sj: CosineSelfJoin =>
      val spark = SparkSession.active
      // Project by the carried AttributeReferences, not names: immune to
      // duplicate column names in the child and exact about what is read.
      val emb = GraftShims.ofRows(spark, Project(Seq(
        Alias(sj.idAttr, "vec_id")(), Alias(sj.vecAttr, "embedding")()), sj.child))
      val useLsh = sj.strategy match {
        case "exact" => false
        case "lsh" => true
        case _ => autoUsesLsh(sj.child, sj.threshold, LshMinCosineKey, "0.8",
          ThresholdKey, "20000", EstRowBytesVec)
      }
      val pairs =
        if (useLsh) graft.llm.Similarity.hyperplanePairs(emb, sj.threshold)
        else graft.llm.Similarity.exactPairs(emb, sj.threshold)
      splice(pairs, sj.output)

    case tj: TokenSelfJoin =>
      val spark = SparkSession.active
      val docs = GraftShims.ofRows(spark, Project(Seq(
        Alias(tj.idAttr, "doc_id")(), Alias(tj.textAttr, "text")()), tj.child))
      val useLsh = tj.strategy match {
        case "exact" => false
        case "lsh" => true
        case _ => autoUsesLsh(tj.child, tj.threshold, LshMinJaccardKey, "0.9",
          TokThresholdKey, "1500", EstRowBytesTok)
      }
      val pairs =
        if (useLsh) graft.llm.Dedup.minhashLsh(docs, tj.threshold)
        else graft.llm.Dedup.exactJaccardPairs(docs, tj.threshold)
      splice(pairs, tj.output)
  }

  /** Optimize the expanded sub-plan in its own QueryExecution (this rule
    * may run in the post-hoc extraOptimizations batch, after the main
    * pushdown/pruning batches have already passed over the outer plan),
    * then splice it under the node's original attribute ids so parent
    * operators' references stay resolved. */
  private def splice(pairs: DataFrame, out: Seq[Attribute]): LogicalPlan = {
    val sub = pairs.queryExecution.optimizedPlan
    Project(sub.output.zip(out).map { case (a, o) =>
      Alias(a, o.name)(exprId = o.exprId) }, sub)
  }
}

object SimilarityJoin {

  /**
   * All pairs (a, b) with `idCol(a) < idCol(b)` and
   * `round(cosine(vecCol(a), vecCol(b)), 4) ≥ threshold`, as
   * `(vec_a, vec_b, cos_sim)`. `strategy`: `"auto"` (optimizer picks by
   * stats), `"exact"`, or `"lsh"`.
   */
  def cosineSelfJoin(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, strategy: String = "auto"): DataFrame = {
    require(Set("auto", "exact", "lsh")(strategy), s"bad strategy $strategy")
    val spark = df.sparkSession
    ensureRegistered(spark)
    val analyzed = df.queryExecution.analyzed
    val id = resolveOne(analyzed, idCol)
    val out = Seq(
      AttributeReference("vec_a", id.dataType, id.nullable)(),
      AttributeReference("vec_b", id.dataType, id.nullable)(),
      AttributeReference("cos_sim", DoubleType)())
    GraftShims.ofRows(spark,
      CosineSelfJoin(analyzed, id, resolveOne(analyzed, vecCol), threshold,
        strategy, out))
  }

  /**
   * All pairs (a, b) with `idCol(a) < idCol(b)` and exact token-set
   * `jaccard ≥ threshold` (tokens = whitespace split of `textCol`), as
   * `(doc_a, doc_b, jaccard)`. `strategy` as in [[cosineSelfJoin]].
   */
  def jaccardSelfJoin(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, strategy: String = "auto"): DataFrame = {
    require(Set("auto", "exact", "lsh")(strategy), s"bad strategy $strategy")
    val spark = df.sparkSession
    ensureRegistered(spark)
    val analyzed = df.queryExecution.analyzed
    val id = resolveOne(analyzed, idCol)
    val out = Seq(
      AttributeReference("doc_a", id.dataType, id.nullable)(),
      AttributeReference("doc_b", id.dataType, id.nullable)(),
      AttributeReference("jaccard", DoubleType)())
    GraftShims.ofRows(spark,
      TokenSelfJoin(analyzed, id, resolveOne(analyzed, textCol), threshold,
        strategy, out))
  }

  /** Name → AttributeReference, exactly once, at construction time —
    * ambiguity (duplicate names after a join) fails HERE with a clear
    * message instead of at optimization time (ADVICE r2). */
  private def resolveOne(plan: LogicalPlan, name: String): Attribute = {
    val matches = plan.output.filter(_.name == name)
    require(matches.size == 1,
      s"column '$name' must resolve to exactly one attribute; " +
        s"found ${matches.size} among ${plan.output.map(_.name).mkString(", ")}")
    matches.head
  }

  /** Idempotently add the rewrite to the session (config-time path is
    * `spark.sql.extensions=graft.plans.GraftExtensions`). */
  def ensureRegistered(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.contains(SimilarityJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SimilarityJoinRewrite
  }
}
