package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into Spark's `private[sql]` Column/Dataset constructors
  * so the engine can expose custom Catalyst expressions as `Column`s and
  * custom `LogicalPlan` nodes as `DataFrame`s (Spark 4 wraps Columns in
  * ColumnNodes; `classic.ExpressionUtils.column` / `classic.Dataset.ofRows`
  * are the supported internal conversions). */
object GraftShims {
  def exprColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every queued listener event is delivered — lets tests
    * count jobs/stages deterministically (the bus is async; a plain
    * listener read races the events it is counting). */
  def waitListenerBusEmpty(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Persist a table's statistics in the session catalog: the
    * `CatalogStatistics(sizeInBytes, rowCount)` that `ANALYZE TABLE …
    * COMPUTE STATISTICS` writes, from numbers the caller already has. */
  def setTableStats(spark: SparkSession, table: String, sizeInBytes: BigInt,
      rowCount: BigInt): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalog.alterTableStats(
      catalyst.TableIdentifier(table),
      Some(catalyst.catalog.CatalogStatistics(sizeInBytes, Some(rowCount))))

  /** A table's catalog entry (statistics, location, type), as stored. */
  def catalogTable(spark: SparkSession,
      table: String): catalyst.catalog.CatalogTable =
    spark.asInstanceOf[classic.SparkSession].sessionState.catalog
      .getTableMetadata(catalyst.TableIdentifier(table))

  /** True when the frame's analyzed plan already has a CacheManager
    * entry (same-result match — the exact check `persist()` itself runs
    * before warning "Asked to cache already cached data"). Lets
    * operator code take cache OWNERSHIP explicitly instead of
    * re-persisting blind: see [[graft.Q.ownPersist]]. */
  def isCached(df: DataFrame): Boolean = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds).isDefined
  }

  /** Unpersist the RDD blocks behind an (eager) `localCheckpoint`-ed
    * frame (ADVICE r13): checkpoint blocks live OUTSIDE the
    * CacheManager, so `spark.catalog.clearCache()` never reaps them —
    * without this, every iterative fixpoint leaks one label/rank frame
    * per checkpoint for the session lifetime. Walks the analyzed plan
    * for `LogicalRDD` leaves and unpersists their RDDs (non-blocking).
    * Caller contract: the frame's data must no longer be needed — a
    * localCheckpoint's lineage is truncated, so a later cache-loss
    * recompute through it would fail (the documented localCheckpoint
    * trade-off; in practice the successor frame is itself materialized
    * before this is called).
    *
    * ADVICE r14: refuses (loudly) any frame that is not a single-leaf
    * checkpoint snapshot. Every call site passes the direct result of
    * `localCheckpoint`/`flattenToLeaf` — exactly one `LogicalRDD` leaf;
    * a derived/joined frame could carry OTHER LogicalRDD leaves over
    * still-cached RDDs, and unpersisting those collaterally causes
    * "block not found" recompute failures with truncated lineage. */
  def unpersistLeafRdd(df: DataFrame): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val leaves = ds.queryExecution.analyzed.collect {
      case lr: execution.LogicalRDD => lr
    }
    require(leaves.length == 1,
      s"unpersistLeafRdd: expected exactly one LogicalRDD leaf, found " +
        s"${leaves.length} — pass the direct localCheckpoint/flattenToLeaf " +
        s"frame, not a derived plan (collateral unpersist hazard)")
    leaves.head.rdd.unpersist(blocking = false)
  }

  /** The id of the single `LogicalRDD` leaf behind a checkpoint frame —
    * same single-leaf contract (and loud refusal) as [[unpersistLeafRdd]].
    * ADVICE r15: the checkpoint ledger records this small strong int
    * instead of a weak reference to the Dataset WRAPPER — the wrapper is
    * unreachable the moment the query builder returns (derived frames
    * reference only the logical plan), so a GC during execution cleared
    * the ref and the deterministic drain silently degraded to the async
    * ContextCleaner path. An int pins nothing and stays drainable. */
  def leafRddId(df: DataFrame): Int = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val leaves = ds.queryExecution.analyzed.collect {
      case lr: execution.LogicalRDD => lr
    }
    require(leaves.length == 1,
      s"leafRddId: expected exactly one LogicalRDD leaf, found " +
        s"${leaves.length} — pass the direct localCheckpoint/flattenToLeaf " +
        s"frame, not a derived plan")
    leaves.head.rdd.id
  }

  /** Unpersist an RDD by id (non-blocking) — `SparkContext.unpersistRDD`
    * is `private[spark]`, reachable from this package. Removing an id the
    * ContextCleaner already reaped is a harmless no-op, so a ledger drain
    * can never fail on a frame that was GC-reclaimed in the meantime. */
  def unpersistRddId(spark: SparkSession, id: Int): Unit =
    spark.sparkContext.unpersistRDD(id, blocking = false)

  /** Re-root a (typically persisted) frame as a flat `LogicalRDD` leaf —
    * the lineage-truncation half of `Dataset.localCheckpoint` without
    * its extra materialization job: iterative algorithms that reference
    * the previous round's output TWICE per round (join + union) would
    * otherwise double their logical plan every round. The physical RDD
    * is captured AFTER planning, so a persisted input reads its cache;
    * rows are defensively copied exactly as `checkpoint` does (columnar
    * cache scans emit reused row buffers).
    *
    * r18: the leaf CLAIMS the executed plan's output partitioning (see
    * [[preservedPartitioning]]) — `LogicalRDD.fromDataset` rewrites
    * stats and constraints but drops partitioning on the floor
    * (UnknownPartitioning(0) in every captured r17 fixpoint plan), so
    * every fixpoint round re-exchanged an iterated frame whose rows
    * were already laid out on the round key. */
  def flattenToLeaf(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    // Same size gate as localCheckpointKeepPartitioning, from the plan's
    // size ESTIMATE (nothing is materialized here to weigh).
    val minPerPart = ds.sparkSession.conf
      .get("spark.graft.checkpointClaimMinPartBytes", (1L << 20).toString)
      .toLong
    val est = ds.queryExecution.optimizedPlan.stats.sizeInBytes
    val claimWorthwhile =
      est >= BigInt(minPerPart) * math.max(1, rdd.getNumPartitions)
    classic.Dataset.ofRows(ds.sparkSession,
      partitionedLeaf(ds, rdd, claim = claimWorthwhile))
  }

  /** `Dataset.localCheckpoint(eager = true)` with the executed plan's
    * output partitioning preserved on the checkpoint leaf (r18 —
    * VERDICT r17 #3). Identical materialization semantics to the
    * built-in (same `execute().map(_.copy())` + RDD localCheckpoint +
    * eager count); only the leaf's partitioning METADATA differs, so a
    * downstream consumer keyed on the same columns skips its Exchange.
    * Safe by construction: the claim is read from the SAME executed
    * plan instance that produced the checkpointed RDD, and is dropped
    * (UnknownPartitioning, today's behavior) whenever it cannot be
    * rewritten onto the leaf output 1:1 — see [[preservedPartitioning]].
    *
    * KNOWN HAZARD (performance, not correctness — measured r18): a
    * frame that is `persist()`ed, whose plan CONTAINS a claimed leaf,
    * and is then SELF-JOINED, silently loses CacheManager matching on
    * the join branch the analyzer deduplicates — `newInstance()`
    * rewrites the branch's attribute ids and the claimed
    * HashPartitioning's ids no longer canonicalize against the cache
    * entry, so that branch recomputes the persisted subtree inline.
    * (UnknownPartitioning leaves are id-free, which is why the stock
    * checkpoint never hits this.) Consumers that self-join such a
    * persisted frame must flatten it to its own leaf first
    * ([[flattenToLeaf]] — a leaf self-join shares one RDD on both
    * sides, no cache lookup involved); refineRoundPlan's capped
    * adjacency is the pattern's one in-repo instance. */
  def localCheckpointKeepPartitioning(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val rdd = ds.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    rdd.count()
    // SIZE GATE (r18, measured): preserving a layout pins the NEXT
    // round's work to this leaf's partition count, where a dropped
    // claim lets the round re-exchange through an AQE-coalescible
    // shuffle. For frames below ~1 MB/partition the re-exchange is the
    // cheaper side — AQE collapses the tiny round to a handful of
    // tasks, while a preserved full-width layout launches
    // numPartitions near-empty tasks per round stage (measured on
    // graph_ppr at sf0.1: +3 s over 10 rounds). At 100 TB scale the
    // iterated frames hold orders of magnitude more than the floor per
    // partition and the claim always survives — the same
    // bytes-per-partition logic AQE's own coalescing applies, pointed
    // the other way. The floor is conf-able
    // (spark.graft.checkpointClaimMinPartBytes; 0 forces the claim —
    // used by the property tests).
    val bytes = ds.sparkSession.sparkContext.getRDDStorageInfo
      .find(_.id == rdd.id).map(i => i.memSize + i.diskSize).getOrElse(0L)
    val minPerPart = ds.sparkSession.conf
      .get("spark.graft.checkpointClaimMinPartBytes", (1L << 20).toString)
      .toLong
    val claimWorthwhile =
      bytes >= minPerPart * math.max(1, rdd.getNumPartitions)
    classic.Dataset.ofRows(ds.sparkSession,
      partitionedLeaf(ds, rdd, claim = claimWorthwhile))
  }

  /** Build the flat `LogicalRDD` leaf for `ds` over `rdd`, claiming
    * [[preservedPartitioning]]. Mirrors `LogicalRDD.fromDataset`'s
    * stats/constraints rewrite (the leaf keeps CBO cardinality). */
  private def partitionedLeaf(ds: classic.Dataset[_],
      rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      claim: Boolean = true): execution.LogicalRDD = {
    val analyzed = ds.queryExecution.analyzed
    val part =
      if (claim) preservedPartitioning(ds, rdd.getNumPartitions)
      else catalyst.plans.physical.UnknownPartitioning(0)
    val (stats, constraints) = execution.LogicalRDD
      .rewriteStatsAndConstraints(analyzed, ds.queryExecution.optimizedPlan)
    execution.LogicalRDD(analyzed.output, rdd, part, Nil,
      isStreaming = false, None)(
      ds.sparkSession.asInstanceOf[classic.SparkSession], stats, constraints)
  }

  /** The partitioning an eagerly executed frame's rows ACTUALLY carry,
    * rewritten onto the analyzed output's attribute ids — or
    * `UnknownPartitioning` when that cannot be done soundly. The claim
    * is taken from the FINAL physical plan (post-AQE: `toRdd` on an
    * `AdaptiveSparkPlanExec` finalizes before returning the RDD), whose
    * partition layout is exactly the captured RDD's; it is kept only
    * when (a) it is hash-shaped (`HashPartitioningLike` — plain or
    * AQE-coalesced — possibly inside a join's `PartitioningCollection`)
    * or `SinglePartition`, (b) every attribute it references maps onto
    * the leaf output positionally (`buildOutputAssocForRewrite`, the
    * same assoc `fromDataset` uses for stats), and (c) its partition
    * count equals the RDD's real partition count (tripwire against a
    * plan/RDD mismatch). Anything else degrades to Unknown — i.e. to
    * the stock `localCheckpoint` behavior, never to a wrong claim. */
  private def preservedPartitioning(ds: classic.Dataset[_],
      rddPartitions: Int): catalyst.plans.physical.Partitioning = {
    import catalyst.plans.physical._
    import catalyst.expressions.{Attribute, AttributeMap}
    val unknown = UnknownPartitioning(0)
    try {
      val finalPlan = ds.queryExecution.executedPlan match {
        case a: execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val assocOpt = execution.LogicalRDD.buildOutputAssocForRewrite(
        finalPlan.output, ds.queryExecution.analyzed.output)
      def rewrite(p: Partitioning): Partitioning = p match {
        case SinglePartition => SinglePartition
        case h: HashPartitioningLike =>
          assocOpt match {
            case Some(assoc) =>
              val attrMap = AttributeMap(assoc)
              val refsMapped = h.references.forall(attrMap.contains)
              if (refsMapped && h.numPartitions == rddPartitions)
                h.transformUp {
                  case a: Attribute => attrMap(a)
                }.asInstanceOf[Partitioning]
              else unknown
            case None => unknown
          }
        case PartitioningCollection(ps) =>
          // The frame is partitioned by EVERY member simultaneously
          // (join outputs; alias-propagated projections) — keep every
          // member that survives the rewrite, so a consumer keyed on
          // ANY of the equivalent spellings matches.
          ps.map(rewrite).filter(_ != unknown) match {
            case Seq() => unknown
            case Seq(one) => one
            case many => PartitioningCollection(many)
          }
        case _ => unknown
      }
      rewrite(finalPlan.outputPartitioning)
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graft] partitioning not preserved: $e")
      unknown
    }
  }
}
