package graft

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * Shared helpers encoding the DuckDB-oracle determinism rules
 * (SURVEY.md §7d / FIXTURES.md gotchas):
 *
 *  - money math accumulates in DECIMAL (exact, associative — immune to
 *    partial-aggregation order differing from DuckDB's single-threaded
 *    sum), final result cast to DOUBLE so output schemas match;
 *  - DECIMAL scale 4, not 2: `l_extendedprice*(1-l_discount)` has exactly
 *    four decimal digits, so the double→decimal cast at scale 4 never has
 *    to round — scale 2 would hit half-up-vs-binary tie divergence
 *    between Spark (rounds the shortest decimal rendering) and DuckDB
 *    (rounds the exact binary value);
 *  - unavoidable double outputs (avg, stddev, corr, cosine) are rounded
 *    to 4 dp on both engines;
 *  - averages are `CAST(sum_decimal AS DOUBLE) / count` on BOTH engines —
 *    one IEEE-754 double division with identical operands is bit-stable
 *    across engines, unlike each engine's own avg() implementation.
 */
object Q {
  /** Signature of every entry in SparkEntry.queries. */
  type QFn = (SparkSession, String) => DataFrame

  /** Exact decimal view of a money/measure column. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  /** SUM with exact decimal accumulation, double result. */
  def moneySum(c: Column): Column = sum(dec(c)).cast("double")

  /** AVG as one double division over the exact decimal sum. */
  def moneyAvg(c: Column): Column =
    round(sum(dec(c)).cast("double") / count(lit(1)), 4)

  /** Round-to-4dp for double outputs compared against DuckDB. */
  def r4(c: Column): Column = round(c, 4)

  /** Conf key gating [[maybeBroadcast]]: maximum estimated ROW COUNT of a
    * side table that may still be broadcast. */
  val BroadcastSideThresholdKey = "spark.graft.broadcastSideThreshold"

  /** Conf key gating [[maybeBroadcast]] by estimated PAYLOAD BYTES: rows
    * alone miss wide payloads (8M rows of 60-long minhash signatures is
    * ~4 GB — far past what a driver/executor can hold), so the byte gate
    * closes the gap between Spark's 10 MB autoBroadcast default and the
    * row gate. Default 256 MB. */
  val BroadcastSideMaxBytesKey = "spark.graft.broadcastSideMaxBytes"

  /** Fallback bytes-per-row when CBO row counts are absent (same estimate
    * the simjoin rewrite uses — see SimilarityRewrite.EstRowBytes). */
  private val EstRowBytes = 280L

  /** A persist with explicit ownership (VERDICT r9 #2): `df` plus
    * whether THIS call created the cache entry. Only the owner
    * unpersists — re-persisting a plan the CacheManager already holds
    * is benign (Spark dedups) but logs "Asked to cache already cached
    * data", and at 100 TB that warning marks exactly the unclear
    * cache-ownership the r9 heavy-tier stall grew out of. */
  final case class Owned(df: DataFrame, owned: Boolean) {
    def release(): Unit = if (owned) df.unpersist()
  }

  /** Persist `df` unless its analyzed plan is already cached; the
    * returned [[Owned]] records who must release it. All operator-
    * internal persists go through here so a repeated query (tests,
    * ad-hoc sessions without the runners' per-query clearCache) reuses
    * the existing entry instead of double-persisting. */
  def ownPersist(df: DataFrame): Owned =
    if (org.apache.spark.sql.GraftShims.isCached(df)) Owned(df, owned = false)
    else Owned(df.persist(), owned = true)

  /** The distinct values of `df`'s one non-null int column, collected
    * in ONE stage: each partition returns its own set and the driver
    * takes their union. For small domains such as bucket ids, where a
    * `distinct().collect()` plans a hash aggregate and an exchange (two
    * jobs under AQE) only to return a handful of ints; each partition
    * ships at most the domain's size. */
  def distinctInts(df: DataFrame): Set[Int] = {
    implicit val ints: Encoder[Int] = Encoders.scalaInt
    df.as[Int].mapPartitions(_.toSet.iterator).collect().toSet
  }

  /** Per-SESSION ledger of the FINAL `localCheckpoint`-ed frame of
    * each iterative fixpoint (ADVICE r13, rebuilt per ADVICE r14).
    * Checkpoint RDD blocks live outside the CacheManager, so the
    * runners' per-query `spark.catalog.clearCache()` cannot reap them;
    * fixpoints whose RESULT may still read their last checkpoint
    * register it here instead of unpersisting blind, and runners call
    * [[drainCheckpoints]] right after clearCache — once the query's
    * result is materialized — so nothing checkpoint-shaped outlives
    * its query. Intermediate checkpoints are unpersisted inline by the
    * fixpoints themselves as soon as their successor materializes.
    *
    * Ledger properties (ADVICE r14, re-designed per ADVICE r15):
    *  - entries are the checkpoint leaf's RDD ID — a small strong int,
    *    not a reference to the frame. ADVICE r15 found the r14 weak
    *    reference to the Dataset WRAPPER was garbage the moment the
    *    query builder returned (derived results reference only the
    *    logical plan), so any GC during execution cleared the ref and
    *    the deterministic drain silently no-op'd, reverting to the
    *    async ContextCleaner path — exactly the block-manager-debt
    *    class the ledger exists to close. An id pins no blocks (a
    *    never-draining notebook caller accumulates only ints, and the
    *    ContextCleaner still reaps the blocks once the caller drops
    *    its result — unpersistRDD on a reaped id is a no-op), yet
    *    stays drainable for the ledger's whole lifetime;
    *  - the ledger is keyed by SparkSession (itself weakly held), so in
    *    a multi-session JVM one session's drain can never unpersist
    *    checkpoint blocks a concurrently running query in ANOTHER
    *    session still needs. */
  private val sessionCheckpoints = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.ArrayBuffer[Int]]()

  /** Record a final fixpoint checkpoint for the runner to reap. Must be
    * called with the DIRECT localCheckpoint/flattenToLeaf frame (single
    * LogicalRDD leaf — enforced loudly by GraftShims.leafRddId). */
  def registerCheckpoint(df: DataFrame): DataFrame = synchronized {
    val id = org.apache.spark.sql.GraftShims.leafRddId(df)
    val buf = sessionCheckpoints.computeIfAbsent(df.sparkSession,
      _ => scala.collection.mutable.ArrayBuffer.empty)
    buf += id
    df
  }

  /** Unpersist every checkpoint RDD REGISTERED UNDER `spark`'s
    * ledger entry (other sessions' entries are untouched). Safe to
    * call only once the registering queries' results are materialized
    * (the runners' per-query boundary). Per-id failures are
    * logged-and-skipped (ADVICE r14): a stopped SparkContext must not
    * abort the drain mid-loop and leave the ledger half-cleared — the
    * remove() below clears it up front, so even a throwing id costs
    * only itself (its blocks then fall to the ContextCleaner). An id
    * the ContextCleaner already reaped unpersists as a no-op. */
  def drainCheckpoints(spark: SparkSession): Unit = synchronized {
    val buf = sessionCheckpoints.remove(spark)
    if (buf != null) buf.foreach { id =>
      try org.apache.spark.sql.GraftShims.unpersistRddId(spark, id)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] checkpoint drain skipped rdd $id: $e")
      }
    }
  }

  /**
   * Conf-gated broadcast hint for LSH verify-join side tables (VERDICT r2
   * item 2). An explicit `broadcast()` is honored by Spark
   * UNCONDITIONALLY — a hard-coded hint on a per-doc signature/token
   * table would OOM the driver once the corpus outgrows memory (10⁸
   * docs). Decision is driver-side only (logical-plan `Statistics`, no
   * data read) and gated on BOTH axes: estimated rows (CBO row count when
   * present, else sizeInBytes/280) at or below
   * `spark.graft.broadcastSideThreshold` (default 8 000 000 rows) AND
   * estimated payload at or below `spark.graft.broadcastSideMaxBytes`
   * (default 256 MB — rows alone would admit a ~4 GB wide-signature
   * broadcast) → broadcast hash join, no shuffle of the big candidate
   * stream; above either → no hint, so the planner falls back to a
   * shuffle join keyed on the join column — the scale-safe shape. Mirrors
   * how Spark itself promotes BHJ on `autoBroadcastJoinThreshold`; both
   * expansions are plan-pinned in PlanShapeSpec.
   *
   * The byte estimate is floored at 8 B per field per row, the fixed
   * width of an UnsafeRow: Spark sizes an int at 4 B and an array at
   * one element, so an int-heavy side with a known row count would
   * otherwise pass the byte gate at about twice its size.
   *
   * `fanOut` scales both estimates for a side that explodes k rows per
   * input row: Spark estimates a Generate at one row per input row.
   * `rowsOf`, when given, is a frame with at least as many rows as
   * `side` whose estimate the gates read instead of `side`'s own — for
   * a per-key side whose estimate the joins under it inflate.
   */
  def maybeBroadcast(side: DataFrame, fanOut: Int = 1,
      rowsOf: Option[DataFrame] = None): DataFrame = {
    val conf = side.sparkSession.conf
    val rowThreshold = conf.get(BroadcastSideThresholdKey, "8000000").toLong
    val byteThreshold = conf
      .get(BroadcastSideMaxBytesKey, (256L * 1024 * 1024).toString).toLong
    val st = rowsOf.getOrElse(side).queryExecution.optimizedPlan.stats
    val estRows = st.rowCount.getOrElse(st.sizeInBytes / EstRowBytes) * fanOut
    val estBytes = (st.sizeInBytes * fanOut).max(estRows * 8 * side.schema.length)
    if (estRows <= BigInt(rowThreshold) && estBytes <= BigInt(byteThreshold))
      broadcast(side)
    else side
  }
}
