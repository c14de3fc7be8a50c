package graft

/** Physical-plan assertions: the declared join strategies and pushdowns
  * actually materialize (SURVEY.md §4 — these are the properties that
  * matter at 100 TB, asserted at test sf). */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  private object Aqe extends org.apache.spark.sql.execution.adaptive
    .AdaptiveSparkPlanHelper

  /** Hash keys (column names) of every shuffle Exchange in `df`'s plan. */
  private def shuffleKeys(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    Aqe.collect(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            h.expressions.map(_.references.map(_.name).mkString("+"))
          case other => Seq(other.toString)
        }
    }

  test("join_broadcast plans BroadcastHashJoin") {
    assert(plan("join_broadcast").contains("BroadcastHashJoin"))
  }

  test("join_sortmerge plans SortMergeJoin") {
    assert(plan("join_sortmerge").contains("SortMergeJoin"))
  }

  test("join_theta_range plans BroadcastNestedLoopJoin (small side broadcast)") {
    assert(plan("join_theta_range").contains("BroadcastNestedLoopJoin"))
  }

  test("sort_limit plans TakeOrderedAndProject (no global sort)") {
    assert(plan("sort_limit").contains("TakeOrderedAndProject"))
  }

  test("scan_project pushes the filter into the parquet scan") {
    val p = plan("scan_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]")
      || p.contains("GreaterThan(l_quantity"))
  }

  test("scan_project prunes columns (ReadSchema has only the 4 needed)") {
    val p = plan("scan_project")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_quantity") && !read.contains("l_shipdate"))
  }

  test("scan_pruned_date: the day predicate reaches the scan as a PartitionFilter") {
    val p = plan("scan_pruned_date")
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.nonEmpty, "no PartitionFilters entry in the scan:\n" +
      p.linesIterator.take(12).mkString("\n"))
    assert(scanLine.contains("d#") && scanLine.contains("2024-01-15"),
      s"date predicate not in PartitionFilters: $scanLine")
    // pruning means the predicate is NOT a post-scan row filter on d
    assert(!p.linesIterator.exists(l =>
        l.trim.startsWith("+- Filter") && l.contains("d#")),
      "date predicate left as a post-scan Filter — pruning failed")
  }

  test("AQE splits a skewed shuffle-join partition (the automatic arm of the skew story)") {
    // join_salted is the MANUAL skew arm; at cluster scale the first
    // line of defense is AQE's OptimizeSkewedJoin splitting an outsized
    // partition into parallel sub-reads. Thresholds here are shrunk so
    // test-sized data trips the same code path a 100 TB hot key would:
    // one key carries ~100k rows (≫ the others), the skewed-partition
    // gate is 64 KB, and the post-AQE SMJ must carry the skew marker.
    val s = spark
    import org.apache.spark.sql.functions.{col, concat, count, lit, sum, when}
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val fact = s.range(110000)
        .select(when(col("id") < 100000, 7L).otherwise(col("id") % 97).as("k"),
          col("id").as("payload"))
      val dim = s.range(97).select(col("id").as("k"),
        concat(lit("d"), col("id")).as("label"))
      val joined = fact.join(dim, "k").agg(count(lit(1)), sum(col("payload")))
      // collect(), not head(): head() routes through a separate
      // limit(1) QueryExecution, leaving THIS plan's AQE unfinalized
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") && p.contains("skew=true"),
        s"AQE did not mark the skewed SMJ partition:\n${p.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("text_zipf: vocabulary never crosses an unpartitioned window — limit before rank") {
    val p = plan("text_zipf")
    // the r4 wart: row_number over Window.orderBy(...) ranked the FULL
    // vocabulary through one partition. The fix ranks AFTER a top-50
    // TakeOrderedAndProject, with no window at all.
    assert(!p.contains("Window"), s"text_zipf still plans a window:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      "vocabulary top-k lost its TakeOrderedAndProject shape")
  }

  test("text_tfidf, text_lm_score, text_bm25: corpus-count broadcast only; no shuffled cartesian anywhere") {
    for (q <- Seq("text_tfidf", "text_lm_score", "text_bm25",
        "text_search_bm25")) {
      val p = plan(q)
      // the 1-row corpus-count frame may broadcast (BNLJ build side of
      // one row); a ShuffledCartesian/CartesianProduct would mean the
      // dictionary join degenerated
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian")
      assert(p.contains("HashAggregate"), s"$q lost its hash aggregation")
    }
  }

  test("graph_components_copurchase: within-order pair join is hash/merge on l_orderkey, never a cartesian") {
    // The registry row's RESULT plan is re-rooted on the CC fixpoint's
    // cache (an ExistingRDD leaf), so the pair build must be pinned on
    // its own subplan — the exact spelling the query feeds
    // connectedComponents. The pair fan must ride the order-key equi
    // join (bounded by order size); a CartesianProduct or BNLJ here
    // would mean the a.l_partkey < b.l_partkey conjunct displaced the
    // equi key and the plan went lineitem × lineitem.
    // Pin the SHARED helper itself (r14: copurchaseEdges feeds the
    // components and weighted-pagerank rows; r15 adds graph_ppr_weighted
    // and graph_bfs_seeds), so the pin covers exactly the spelling every
    // caller runs.
    val p = llm.Graph.copurchaseEdges(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"co-purchase pair join lost its equi key:\n$p")
    assert(p.contains("HashAggregate"),
      "threshold count lost its hash aggregation")
    assert(p.contains("l_orderkey"),
      "pair join no longer keyed on the order key")
  }

  test("copurchaseEdges: one shuffle Exchange keyed on (doc_a, doc_b); the distinct adds none") {
    // The (ok, doc_a, doc_b) distinct rides the pair join's l_orderkey
    // clustering, so the fan is deduped before the only exchange of its
    // own: hash(doc_a, doc_b) into the weight count (node 14 of
    // plans/r18/copurchase_edges_after.txt). Broadcast joins off gives
    // the pair join the shuffle shape it has at capture scale.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val keys = shuffleKeys(llm.Graph.copurchaseEdges(spark, sf0001))
      assert(keys.count(_ == Seq("doc_a", "doc_b")) === 1, keys)
      assert(keys.filterNot(_ == Seq("doc_a", "doc_b"))
        .forall(_ == Seq("l_orderkey")), keys)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("refineRoundPlan: one NN-descent round plans exactly one shuffle Exchange, keyed on src") {
    // The candidate dedup and the final per-src top-k ride one
    // repartition by src (node 13 of plans/r18/refine_round_after.txt);
    // the embedding sides broadcast and the capped adjacency is read
    // from its cache. The seed is checkpointed as the NND loop holds its
    // edge frame between rounds.
    val emb = Tables.embeddings(spark, sf0001)
    val eOwned = Q.ownPersist(llm.Similarity.refineEmbFrame(emb))
    eOwned.df.count()
    val seed = llm.Similarity.knnGraph(emb, 3)
      .select("src", "dst", "cos_sim").localCheckpoint(true)
    val (round, und) = llm.Similarity.refineRoundPlan(
      eOwned, Q.Owned(seed, owned = false), 3)
    try assert(shuffleKeys(round) === Seq(Seq("src")))
    finally {
      und.release(); eOwned.release()
      org.apache.spark.sql.GraftShims.unpersistLeafRdd(seed)
    }
  }

  test("bfsFrom round shape: a checkpointed frontier layer broadcasts into the edge join (r15)") {
    // The BFS round's scale contract: the frontier side goes through
    // Q.maybeBroadcast, and a localCheckpoint-backed layer carries real
    // sizeInBytes (LogicalRDD stats), so at sane layer sizes the round
    // is one scan + hash probe of the persisted edges — never an SMJ
    // that re-sorts the whole edge table every round. This pins both
    // halves: the stats are usable (not defaultSizeInBytes, which
    // would silently disable the gate forever) and the join plans as a
    // BroadcastHashJoin.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val layer = (1L to 1000L).map(i => (i, 1L)).toDF("node", "dist")
      .localCheckpoint(true)
    val frontier = layer.filter(col("dist") === 1).select(col("node"))
    val st = frontier.queryExecution.optimizedPlan.stats
    assert(st.sizeInBytes > 0 && st.sizeInBytes < 1000000,
      s"checkpointed frontier stats unusable: ${st.sizeInBytes}")
    val e = (1L to 5000L).map(i => (i, i + 1)).toDF("src", "dst")
    val p = e.join(Q.maybeBroadcast(frontier), col("node") === col("src"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"BFS frontier did not broadcast into the edge join:\n$p")
  }

  test("embed_quantize is pure scan shape: projection only, no data exchange") {
    val p = plan("embed_quantize")
    // the only exchange allowed is the final verify ORDER BY's rangepartitioning
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"quantization introduced a data exchange:\n${exchanges.mkString("\n")}")
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      "quantization should be a single projection over the scan")
  }

  test("dedup_ngram_cover: hot-set probe is a broadcast semi-join, never a nested loop") {
    val p = plan("dedup_ngram_cover")
    assert(p.contains("LeftSemi"), "hot-gram probe lost its semi-join shape")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "hot-gram probe degenerated to a nested loop")
  }

  test("stream_enrich: dimension join is a broadcast left join (stream side never shuffles)") {
    val p = plan("stream_enrich")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"),
      s"enrichment dim join is not a broadcast left join:\n${p.linesIterator.take(12).mkString("\n")}")
  }

  test("runtime bloom filter: a selective dim filter injects might_contain into the fact scan side") {
    // The 100 TB lever Spark itself provides for selective SMJ joins: the
    // filtered (small) side builds a bloom filter at runtime and the fact
    // side probes it BEFORE the shuffle — shuffle volume drops to ~the
    // match rate. Default size thresholds target real clusters, so the
    // test lowers them to fire at test sf; the assertion is that the
    // engine's query shapes are ELIGIBLE (no pattern in our plans blocks
    // the injection).
    val c = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> c.getOption(k))
    try {
      c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // creationSideThreshold is the MAX creation-side size (default 10M,
      // our filtered orders fit); applicationSideScanSizeThreshold is the
      // MIN fact-side size (default 10G, targets real clusters) — lower
      // only the latter so the rule fires at test sf
      c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1b")
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = graft.Tables.lineitem(spark, sf001)
      val sel = graft.Tables.orders(spark, sf001)
        .filter(org.apache.spark.sql.functions.col("o_totalprice") > 500000)
      val plan = li.join(sel,
          org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("bloom"),
        "runtime bloom filter was not injected into the probe side:\n" +
          plan.linesIterator.take(16).mkString("\n"))
    } finally saved.foreach { case (k, v) =>
      v.fold(c.unset(k))(c.set(k, _))
    }
  }

  test("agg_group does partial aggregation before the shuffle") {
    val p = plan("agg_group")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"))
  }

  test("join_asof shuffles once by user_id and windows in-partition") {
    val p = plan("join_asof")
    assert(p.contains("Window"))
    assert(p.contains("hashpartitioning(user_id"),
      "as-of window should partition by user_id")
  }

  test("minhash_lsh verification joins are broadcast (no payload shuffle)") {
    val p = plan("minhash_lsh")
    assert(p.contains("BroadcastHashJoin"),
      "sig/token side tables should broadcast")
  }

  test("banded candidate stages emit each pair once: no aggregate over the pair columns") {
    // The shared banding operator dedups inside the join (first shared
    // band); a distinct() over the candidate stream would show up as a
    // HashAggregate grouping by the pair ids.
    def pairAggs(df: org.apache.spark.sql.DataFrame, ids: Set[String]) =
      Aqe.collect(df.queryExecution.executedPlan) {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
            if a.groupingExpressions.exists(_.references.exists(r => ids(r.name))) => a
      }
    val sh = SparkEntry.queries("simhash_pairs")(spark, sf0001)
    assert(pairAggs(sh, Set("doc_a", "doc_b")).isEmpty,
      "simhash_pairs aggregates its candidate pairs")
    val hp = graft.llm.Similarity.lshCandidates(Tables.embeddings(spark, sf0001))
    assert(pairAggs(hp, Set("vec_a", "vec_b")).isEmpty,
      "hyperplane candidates aggregate their pairs")
  }

  test("bandedPairs adds no broadcast hint by default: with auto-broadcast off its band join shuffles") {
    // The candidate arms leave the banding join to Spark's own threshold,
    // so past it they shuffle instead of broadcasting bands x rows.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val nBands = 8
    val keyed = (1L to 1000L).map(i => i -> Seq.fill(nBands)(i % 7)).toDF("id", "ks")
    val k = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "-1")
    try {
      val p = graft.llm.Dedup.bandedPairs(keyed, "id",
          (0 until nBands).map(b => col("ks")(b)), ("id_a", "id_b"))
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"), "banded side broadcast by a hint")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        "banding join did not plan as a shuffle join")
    } finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  test("maybeBroadcast floors the byte estimate at 8 B per field per row: a compact int side flips at rows x 8 x fields") {
    // A materialized cache reports its real row count and its columnar
    // size, far below what the rows occupy as UnsafeRows once broadcast.
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    val (n, fields) = (20000L, 4)
    val side = spark.range(n)
      .select((0 until fields).map(i => (col("id") + i).cast("int").as(s"c$i")): _*)
      .cache()
    try {
      side.count()
      val st = side.queryExecution.optimizedPlan.stats
      val floor = BigInt(n) * 8 * fields
      assert(st.rowCount.contains(BigInt(n)), s"no row count: $st")
      assert(st.sizeInBytes < floor - 1, s"size estimate already at the floor: $st")
      def hinted(gate: BigInt): Boolean = {
        spark.conf.set(Q.BroadcastSideMaxBytesKey, gate.toString)
        try Q.maybeBroadcast(side).queryExecution.analyzed.exists {
          case h: ResolvedHint => h.hints.strategy.contains(BROADCAST)
          case _ => false
        } finally spark.conf.unset(Q.BroadcastSideMaxBytesKey)
      }
      assert(hinted(floor), "a side at the floor must broadcast")
      assert(!hinted(floor - 1), "the gate read Spark's columnar size, not the row floor")
    } finally side.unpersist()
  }

  test("bandedPairs' broadcast hint judges the gate at the exploded side's size (bands x rows)") {
    // Spark estimates the posexplode as one row per input row, so a gate
    // read off that estimate alone would admit a side nBands times larger.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val nBands = 8
    val keyed = (1L to 1000L).map(i => i -> Seq.fill(nBands)(i % 7)).toDF("id", "ks")
    def bSide(): (Boolean, BigInt) = {
      val j = graft.llm.Dedup.bandedPairs(keyed, "id",
          (0 until nBands).map(b => col("ks")(b)), ("id_a", "id_b"), hintBroadcast = true)
        .queryExecution.optimizedPlan
        .collectFirst { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.get
      (j.hint.rightHint.exists(_.strategy.contains(
        org.apache.spark.sql.catalyst.plans.logical.BROADCAST)), j.right.stats.sizeInBytes)
    }
    val (hinted, side) = bSide()
    assert(hinted, "small banded side should broadcast under the default gate")
    def withByteGate(bytes: BigInt): Boolean = {
      spark.conf.set(Q.BroadcastSideMaxBytesKey, bytes.toString)
      try bSide()._1 finally spark.conf.unset(Q.BroadcastSideMaxBytesKey)
    }
    // The side in the joined plan may be pruned narrower than the one
    // the gate judged, never wider: a gate of half the exploded estimate
    // must refuse, twice the exploded estimate must admit.
    assert(!withByteGate(side * nBands / 2), "gate ignores the explode fan-out")
    assert(withByteGate(side * nBands * 2), "gate over-counts the explode fan-out")
  }

  test("LSH verify joins are conf-gated: low broadcastSideThreshold flips them to shuffle joins") {
    // Below the row threshold the per-doc side tables broadcast (the
    // default plan, pinned above); above it graft.Q.maybeBroadcast emits
    // NO hint, and with Spark's own auto-broadcast off the planner must
    // fall back to shuffle joins — the shape that survives 10⁸ docs
    // instead of OOMing the driver (VERDICT r2 item 2).
    val confs = Seq(
      Q.BroadcastSideThresholdKey -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    // The jaccard/LSH operators persist their shared subtrees (r8); a
    // prior broadcast-mode test leaves those cached with the BHJ frozen
    // inside the InMemoryRelation's child plan, which this test's string
    // assertions would see even though every LIVE join correctly flips
    // to SMJ. Plan from a clean cache — the runner owns cache lifecycle
    // (same discipline as Bench's per-query clearCache).
    spark.catalog.clearCache()
    try {
      for (q <- Seq("minhash_lsh", "dedup_near")) {
        val p = plan(q)
        assert(!p.contains("BroadcastHashJoin"),
          s"$q still broadcasts with threshold 0")
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"$q verify join did not fall back to a shuffle join")
      }
      val hp = graft.llm.Similarity
        .hyperplanePairs(Tables.embeddings(spark, sf0001), -1.0)
        .queryExecution.executedPlan.toString
      assert(!hp.contains("BroadcastHashJoin"),
        "hyperplanePairs still broadcasts with threshold 0")
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      // Drop the SMJ-frozen InMemoryRelations cached while the
      // thresholds were zeroed, or a later plan-shape test would read
      // stale shuffle-join plans out of the cache (ADVICE r8).
      spark.catalog.clearCache()
    }
  }

  test("sample_weighted plans TakeOrderedAndProject (bounded top-k, no global sort)") {
    val p = plan("sample_weighted")
    assert(p.contains("TakeOrderedAndProject"),
      "weighted sample lost its top-k reduction — a global sort would " +
        "shuffle the full corpus at 100 TB")
  }

  test("curate_temperature_mix broadcasts the per-source target frame") {
    // The 5-row target frame must reach the doc stream as a broadcast —
    // a shuffle join here would repartition the whole corpus to join
    // against 5 rows.
    val p = plan("curate_temperature_mix")
    assert(p.contains("BroadcastHashJoin"),
      "per-source targets no longer broadcast")
  }

  test("ann_mrl: coarse pass broadcasts probes; no shuffle before the per-probe windows") {
    val p = plan("ann_mrl")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "probe frame no longer broadcast in the coarse scan")
    assert(!p.contains("CartesianProduct"),
      "coarse scan degenerated to a non-broadcast cartesian")
  }

  test("pipeline_decontaminate: shingle probe joins hash-based, never a nested loop or cartesian") {
    val p = plan("pipeline_decontaminate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "decontamination degenerated to an all-pairs shape")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), "no equi join found in the probe")
  }

  test("pipeline_decont_bloom: probe is native might_contain inside codegen, no Scala UDF (VERDICT r8)") {
    val p = plan("pipeline_decont_bloom")
    assert(p.contains("might_contain"),
      "native BloomFilterMightContain missing from the bloom probe plan")
    assert(!p.contains("UDF("),
      "Scala UDF found in the decontamination plan — the train-gram " +
        "probe must stay inside whole-stage codegen")
  }

  test("zero unpartitioned windows across the ENTIRE registry (VERDICT r11 #2)") {
    // r8 pinned this for pipeline_pack/curate_dsir only (their P-row
    // offset windows run under a constant key that
    // EliminateWindowPartitions must not strip) — which is exactly why
    // the two global windows in graph_diversity_select's oracle arm
    // landed in r11 without a test failing. The sweep now collects
    // Window nodes from EVERY registry row's optimized plan: an
    // unpartitioned window is a single-partition global sort at scale,
    // so a new one must be an explicit, allowlisted oracle-arm choice
    // with a registered scale arm — never an accident.
    // Note the sweep sees the RETURNED frame's plan; stages an
    // operator runs eagerly (fixpoint rounds behind localCheckpoint)
    // are covered by their own family plan tests. Building the frames
    // EXECUTES the ~10 eager rows (NND builds, pagerank/CC fixpoints,
    // PQ training) — ~1.5 min at sf0.001 — an accepted cost: the very
    // row this sweep exists for (diversity_select, r11) was an eager
    // one, so an eager-row exclusion list would reopen the exact
    // blind spot.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val allowed = Set(
      // The hash-matched oracle arm of D4 selection: the exact top
      // ⌊m/4⌋ prototype cut is a total order BY CONSTRUCTION (the
      // whole point is hash parity with DuckDB's ROW_NUMBER OVER
      // (ORDER BY ...)); bounded by the n² exact-pair base it already
      // sits on. The scale arm is graph_diversity_select_nnd
      // (approx-quantile cutoff, zero global windows — swept here).
      "graph_diversity_select",
      // r17 verdict arm: the centroid-rank window runs over the
      // md5-smallest pivot frame AFTER .limit(VerdictPqK) — ≤ 8 rows
      // at any sf by construction (it appears twice in the optimized
      // tree because the centroid subtree feeds both the encode join
      // and the probe-LUT join). Scale arm: ann_pq (k-means codebooks,
      // per-probe-partitioned ADC window — swept here).
      "ann_pq_verdict",
      // r17 compaction planner: the NFD cumulative-chunking window is
      // inherently a total order over the pack input, but that input
      // is FILE METADATA — one row per date partition of events
      // (thousands at 100 TB, growth ∝ calendar days × loads), never
      // corpus rows; the corpus-scale work (sizes) is the upstream
      // #partitions-group agg. Same bounded-frame class as the IVF
      // centroid frames, so no separate scale arm exists or is needed.
      "layout_compact")
    val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.optimizedPlan
      val n = plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.size
      spark.catalog.clearCache()
      if (n > 0 && !allowed.contains(name)) Some(s"$name ($n)") else None
    }
    assert(bad.isEmpty, s"unpartitioned window(s) in: ${bad.mkString(", ")}")
  }

  test("allowlisted global windows are bounded BY PLAN, not by comment (r17)") {
    // The two r17 allowlist entries above claim their unpartitioned
    // windows never see corpus rows; pin that in the optimized tree so
    // a refactor that widens the input re-fails the sweep.
    import org.apache.spark.sql.catalyst.plans.logical.{
      Window => LWindow, GlobalLimit => LGlobalLimit, Aggregate => LAggregate}
    // ann_pq_verdict: every global window sits above a Limit(VerdictPqK).
    val pq = SparkEntry.queries("ann_pq_verdict")(spark, sf0001)
      .queryExecution.optimizedPlan
    val pqWins = pq.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    assert(pqWins.nonEmpty, "expected the pivot-rank window in the plan")
    pqWins.foreach { w =>
      val lims = w.child.collect { case l: LGlobalLimit => l }
      assert(lims.nonEmpty,
        "pivot-rank window input lost its limit — now corpus-sized")
    }
    spark.catalog.clearCache()
    // layout_compact: the global window's input is the per-date
    // metadata aggregate (one row per partition), not event rows.
    val lc = SparkEntry.queries("layout_compact")(spark, sf0001)
      .queryExecution.optimizedPlan
    val lcWins = lc.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    assert(lcWins.nonEmpty, "expected the NFD cumulative window in the plan")
    lcWins.foreach { w =>
      val aggs = w.child.collect { case a: LAggregate
        if a.groupingExpressions.nonEmpty => a }
      assert(aggs.nonEmpty,
        "NFD window input lost the per-partition metadata aggregate")
    }
    spark.catalog.clearCache()
  }

  test("ann_pq/ann_ivfpq: the ADC window's input is the narrow (probe_id, vec_id, adc) stream (ADVICE r9)") {
    // The per-probe top-(rerankFactor·k) window shuffles by probe_id;
    // its input must never carry the 64-float probe vector or the
    // ≤1024-double LUT — that exchange width is the whole point of PQ.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (q <- Seq("ann_pq", "ann_ivfpq")) {
      val plan = SparkEntry.queries(q)(spark, sf0001)
        .queryExecution.optimizedPlan
      val adcWindows = plan.collect {
        case w: LWindow if w.child.output.exists(_.name == "adc") => w
      }
      assert(adcWindows.nonEmpty, s"$q: ADC window not found")
      for (w <- adcWindows) {
        val cols = w.child.output.map(_.name).toSet
        assert(!cols.contains("p_emb") && !cols.contains("lut"),
          s"$q: wide columns ride the ADC window exchange: $cols")
      }
    }
  }

  test("cell-probe arms: probe and pivot choice run in the kernel — no nested-loop join, one window per top-k cut (sf0.001)") {
    // Every cell-blocked arm picks its probe cells (and the pivot arms
    // their corpus cells) inside the codegen'd NearestCentroidsF32
    // projection: no vector × cell cross join, and no per-vector rank
    // window. The windows left are the top-k cuts (ann_ivfpq also has
    // its ADC cut), none partitioned by vec_id.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for ((q, cuts) <- Seq("ann_ivf" -> 1, "ann_ivfpq" -> 2, "ann_ivf_verdict" -> 1,
        "knn_graph_blocked_verdict" -> 1)) {
      val df = SparkEntry.queries(q)(spark, sf0001)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q plans a nested-loop join:\n$p")
      val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      val byVec = windows.filter(_.partitionSpec.exists(_.references.exists(_.name == "vec_id")))
      assert(byVec.isEmpty, s"$q ranks per vec_id:\n${byVec.mkString("\n")}")
      assert(windows.size === cuts, s"$q: ${windows.size} windows, expected $cuts")
      spark.catalog.clearCache()
    }
  }

  test("text_quality_gate: one scan over documents, zero joins, zero exchanges below the sort (VERDICT r9 #7)") {
    val p = plan("text_quality_gate")
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan") || l.contains("Scan parquet"))
    assert(scans == 1, s"expected exactly one documents scan, got $scans:\n$p")
    assert(!p.contains("Join"), "the fused gate must not join — all four " +
      "signals are per-row expressions")
    // Only the verify-sort exchange may appear: everything below it is a
    // pure scan projection at any corpus size.
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1, s"fused gate shuffles more than the sort:\n$p")
  }

  test("text_ngram_lm: model-table join is hash-based; corpus count broadcast only") {
    val p = plan("text_ngram_lm")
    assert(!p.contains("CartesianProduct"), "ngram_lm planned a cartesian")
    assert(p.contains("HashAggregate"), "ngram_lm lost its hash aggregation")
  }

  test("join_bucketed: SortMergeJoin over bucketed scans with no Exchange below the join") {
    val p = plan("join_bucketed")
    val joinAt = p.indexOf("SortMergeJoin")
    assert(joinAt >= 0, "bucketed join should plan SortMergeJoin")
    // The plan tree prints the join's children (the table scans) after the
    // join line: no Exchange may appear there — bucket layout IS the
    // partitioning. The groupBy's Exchange sits above the join and is fine.
    assert(!p.substring(joinAt).contains("Exchange"),
      "bucketed join inputs must not be re-shuffled")
    assert(p.contains("Bucketed: true"), "scans should report bucketed reads")
  }

  test("join_range_binned: the no-equi-key range join plans as an equi join on bins, never a nested loop") {
    val p = plan("join_range_binned")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      "binned range join should be an equi join on the bin key")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"),
      "range join fell back to a nested loop — binning not effective")
  }

  test("join_range_binned keeps its probe broadcast after a FULL headline sequence in one session") {
    // Reproduces the driver bench's long-session planner state (VERDICT
    // r3 #1: the pin held standalone but the driver artifact recorded a
    // 59 s entry): execute every headline query first, then assert the
    // EXECUTED (post-AQE) join_range_binned plan is still the broadcast
    // equi-join, never a nested loop.
    Bench.headline.filter(SparkEntry.queries.contains).foreach { name =>
      SparkEntry.queries(name)(spark, sf0001).count()
      spark.catalog.clearCache()
    }
    val agg = SparkEntry.queries("join_range_binned")(spark, sf0001)
      .groupBy().count()
    agg.head()
    val strategy = Profile.joinStrategies(agg.queryExecution.executedPlan.toString)
    assert(strategy === "BroadcastHashJoin",
      s"probe broadcast lost after a full headline session: $strategy")
  }

  test("join_salted: value-invariance is oracle-checked; salt spreads the key space") {
    val p = plan("join_salted")
    // The salted join is still a single equi-join (key + salt), never a
    // nested-loop; the explode on the build side is a Generate.
    assert(p.contains("Generate"), "build side should explode salt values")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"))
  }

  test("simjoin: auto expands to the exact BNLJ plan under the stats cutoff, lsh to band-bucket joins") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    def planOf(strategy: String): String =
      graft.plans.SimilarityJoin.cosineSelfJoin(emb, "vec_id", "embedding",
        0.35, strategy).queryExecution.executedPlan.toString
    // 500 rows ≈ 194 KB << the 100k-row auto cutoff → exact arm.
    val auto = planOf("auto")
    assert(auto.contains("BroadcastNestedLoopJoin"),
      "auto under cutoff should expand to the exact pair BNLJ")
    assert(!auto.contains("CosineSelfJoin"), "logical node must not survive")
    // Forced LSH arm: band-bucket equi-joins, never a nested-loop pair scan.
    val lsh = planOf("lsh")
    assert(!lsh.contains("BroadcastNestedLoopJoin") && !lsh.contains("Cartesian"),
      "lsh arm must not contain an all-pairs join")
    assert(lsh.contains("Generate"), "lsh arm explodes band keys")
    // Auto flips to LSH when the stats cutoff drops below the corpus size
    // — but only for thresholds inside the banding's calibrated regime.
    val key = graft.plans.SimilarityJoinRewrite.ThresholdKey
    spark.conf.set(key, "100")
    try {
      def planAt(threshold: Double): String =
        graft.plans.SimilarityJoin.cosineSelfJoin(emb, "vec_id", "embedding",
          threshold, "auto").queryExecution.executedPlan.toString
      assert(!planAt(0.9).contains("BroadcastNestedLoopJoin"),
        "auto above cutoff should expand to the LSH arm at near-dup thresholds")
      // cos 0.35 < the 0.8 recall floor: the answer is inherently dense,
      // banded recall would collapse — auto must stay exact even over
      // the row cutoff (the caller can still pin "lsh" explicitly).
      assert(planAt(0.35).contains("BroadcastNestedLoopJoin"),
        "auto below the recall floor must keep the exact arm")
    } finally spark.conf.unset(key)
  }

  test("simjoin: attrs resolve by exprId — duplicate sibling names tolerated, ambiguous targets fail fast") {
    import org.apache.spark.sql.functions.{col, lit}
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"), lit(1).as("tag"))
    // Post-join child with TWO `tag` columns (the common dup-name shape);
    // id/vec are unique → the rewrite must not trip on the duplicates.
    val dup = emb.join(
      emb.select(col("vec_id").as("vid2"), lit(2).as("tag")),
      col("vec_id") === col("vid2"))
    val n = graft.plans.SimilarityJoin
      .cosineSelfJoin(dup, "vec_id", "embedding", 0.35, "exact").count()
    assert(n > 0, "rewrite produced no pairs on a dup-named child")
    // An ambiguous TARGET column errors at construction, not mid-optimize.
    val dupId = emb.as("x").join(emb.as("y"), col("x.vec_id") === col("y.vec_id"))
    val e = intercept[IllegalArgumentException] {
      graft.plans.SimilarityJoin.cosineSelfJoin(dupId, "vec_id", "embedding", 0.35)
    }
    assert(e.getMessage.contains("exactly one attribute"))
  }

  test("catalog stats drive the simjoin auto arm: ANALYZE flips the decision the size estimate gets wrong") {
    import org.apache.spark.sql.functions.{col, expr}
    val s = spark
    // 100 rows × ~10 KB of incompressible hex — the shape where bytes-based
    // row estimation fails hard: sizeInBytes/280 sees thousands of "rows".
    val dir = java.nio.file.Files.createTempDirectory("graft_stats").toString + "/docs"
    s.range(100).select(col("id").as("doc_id"),
      expr("array_join(transform(sequence(0, 319), " +
        "i -> md5(cast(id * 1000 + i as string))), ' ')").as("text"))
      .write.parquet(dir)
    // A plain external table: CatalogStats.register would set footer
    // statistics, and this test needs a table without any first.
    s.sql(s"CREATE TABLE graft_stats_docs USING parquet LOCATION '$dir'")
    graft.sources.CatalogStats.enableCbo(s)
    // Token modality → the token crossover key (r7: per-modality keys).
    val key = graft.plans.SimilarityJoinRewrite.TokThresholdKey
    s.conf.set(key, "1000")
    def planOf(): String = graft.plans.SimilarityJoin.jaccardSelfJoin(
      s.table("graft_stats_docs"), "doc_id", "text", 0.95, "auto")
      .queryExecution.executedPlan.toString
    try {
      // ABSENT stats: fall back to sizeInBytes/280 ≈ 3500 rows > 1000 →
      // the auto arm wrongly (but safely) expands to LSH (no Window node).
      assert(graft.sources.CatalogStats.planRowCount(s.table("graft_stats_docs")).isEmpty,
        "setup: unanalyzed table should carry no row count")
      assert(!planOf().contains("Window"),
        "without stats the size estimate should push auto over the cutoff to LSH")
      // PRESENT stats: ANALYZE persists rowCount=100; the same query now
      // plans on the true count — 100 < 1000 → exact prefix-filter arm.
      graft.sources.CatalogStats.analyze(s, "graft_stats_docs", Seq("doc_id"))
      assert(graft.sources.CatalogStats.planRowCount(s.table("graft_stats_docs"))
        === Some(BigInt(100)), "ANALYZE should surface rowCount on the plan")
      assert(planOf().contains("Window"),
        "with catalog stats auto should pick the exact arm by true row count")
    } finally {
      s.conf.unset(key)
      s.conf.unset("spark.sql.cbo.enabled")
      s.conf.unset("spark.sql.cbo.joinReorder.enabled")
      s.sql("DROP TABLE IF EXISTS graft_stats_docs")
    }
  }

  test("registerAndAnalyze: catalog rowCounts reach Tables.load plans with no job at query time") {
    val s = spark
    // The measured-path entry Verify/Bench/StressBench call at setup
    // (VERDICT r5 item 4): after it, Tables.load on the SAME dir
    // resolves through the catalog and every stats-driven decision
    // plans on true rowCounts without running a single job.
    graft.sources.CatalogStats.registerAndAnalyze(s, sf0001)
    try {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      s.sparkContext.addSparkListener(l)
      try {
        val n = graft.sources.CatalogStats.planRowCount(
          Tables.documents(s, sf0001))
        // a stats consumer sizing itself at plan time (IVF geometry)
        val (nlist, _) = graft.llm.Similarity.ivfGeometry(
          Tables.embeddings(s, sf0001), 3)
        org.apache.spark.graftbridge.ListenerDrain.drain(s.sparkContext)
        assert(n.exists(_ > 0),
          "catalog rowCount should reach the Tables.load plan")
        assert(nlist >= 10, "geometry should size itself from plan stats")
        assert(jobs.get() === 0,
          "plan-time stats must not run a counting job")
      } finally s.sparkContext.removeSparkListener(l)
      // any OTHER dir keeps the plain path read (no persisted stats)
      assert(graft.sources.CatalogStats.planRowCount(
        Tables.documents(s, sf001)).isEmpty,
        "non-catalog dirs should keep the bare path read")
    } finally {
      s.conf.unset(graft.sources.CatalogStats.CatalogDirKey)
      s.conf.unset("spark.sql.cbo.enabled")
      s.conf.unset("spark.sql.cbo.joinReorder.enabled")
      Tables.names.foreach(n =>
        s.sql(s"DROP TABLE IF EXISTS ${graft.sources.CatalogStats.tableName(n)}"))
    }
  }

  test("tokjoin: auto expands to the prefix-filter exact arm under the cutoff, lsh to banded minhash") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    def planOf(strategy: String): String =
      graft.plans.SimilarityJoin.jaccardSelfJoin(docs, "doc_id", "text",
        0.95, strategy).queryExecution.executedPlan.toString
    // The exact arm's prefix filter ranks tokens with a row_number Window;
    // the LSH arm has no window at all — a clean structural discriminator.
    // The cutoff is pinned ABOVE the byte-estimate: a 50-row parquet
    // file still weighs ~65 KB (footer/dictionary floor), so the
    // no-stats estimate reads ~5 k "rows" — deliberately erring toward
    // LSH (safe direction); ANALYZE supplies truth on measured paths
    // (the catalog-stats test below pins that flip).
    val tokKey = graft.plans.SimilarityJoinRewrite.TokThresholdKey
    spark.conf.set(tokKey, "10000")
    try {
      assert(planOf("auto").contains("Window"),
        "auto under cutoff should expand to the prefix-filtered exact arm")
      assert(!planOf("lsh").contains("Window"),
        "lsh arm should band signatures, not window-rank tokens")
      // Per-modality crossovers (r7, VERDICT r6 #1): the token arm reads
      // TokThresholdKey, NOT the vector key — dropping the vector cutoff
      // to 1 must not flip the under-cutoff token join to LSH.
      spark.conf.set(graft.plans.SimilarityJoinRewrite.ThresholdKey, "1")
      try assert(planOf("auto").contains("Window"),
        "token auto must ignore the vector row-threshold key")
      finally spark.conf.unset(graft.plans.SimilarityJoinRewrite.ThresholdKey)
      // ...and the token key flips it: cutoff 10 < any estimate → banded.
      spark.conf.set(tokKey, "10")
      assert(!planOf("auto").contains("Window"),
        "token auto over its own cutoff should pick the banded arm")
    } finally spark.conf.unset(tokKey)
  }
}
