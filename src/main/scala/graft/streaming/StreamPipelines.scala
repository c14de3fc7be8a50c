package graft.streaming

import graft.Q
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, StreamingQuery, TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.sql.types._

/** Canonical event record for typed streaming ops (mirrors
  * events.parquet after the ns→µs conversion, FIXTURES.md). */
case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                 event_type: String, value: Double, props: String)

/** Per-user streaming state and its update record. */
case class UserState(count: Long, lastTsMillis: Long)
case class UserUpdate(user_id: Long, total_events: Long, last_ts_millis: Long)

/** Per-user EWMA state (α = 0.5) and its per-event output record. */
case class EwmaState(ewma: Double, n: Long)
case class EwmaUpdate(user_id: Long, event_id: Long, value: Double, ewma_bp: Long)
object EventOrder {
  /** Within-micro-batch ordering key for stateful folds: whole seconds
    * rescaled to nanos plus the sub-second nanos. getTime MUST truncate
    * to seconds before the add — getNanos re-encodes the full
    * sub-second part, so using raw millis would double-count it. One
    * definition shared by every stateful op and its parity test; a
    * drifted copy would silently break the bit-parity contract. */
  def key(e: Event): (Long, Long) =
    (e.ts.getTime / 1000 * 1000000000L + e.ts.getNanos, e.event_id)
}

case class HoltState(l: Double, b: Double, n: Long)
case class HoltUpdate(user_id: Long, event_id: Long, value: Double,
  level_bp: Long, trend_bp: Long, forecast_bp: Long)

/** Per-user first/last-touch attribution state ("" = no channel event
  * seen yet, lastTsNanos = -1) and the per-purchase output record
  * (nanos instead of Timestamp so the update is encoder-trivial; the
  * parity test rescales the batch twin's timestamps the same way). */
case class AttribState(firstTouch: String, lastTouch: String,
  lastTsNanos: Long)
case class AttributionUpdate(user_id: Long, event_id: Long, value: Double,
  last_touch: String, last_touch_ts_nanos: Long, first_touch: String)

/**
 * Structured Streaming surface (SURVEY.md §2c `stream_watermark` /
 * `stream_stateful`): the same event transformations as the batch twins
 * in [[EventOps]], wired as incremental queries. Verified with
 * MemoryStream in StreamingSpec (the driver's Verify is batch-only, so
 * these are deliberately non-oracle).
 *
 * Scale notes (100 TB/day event streams): state is partitioned by group
 * key across executors (state store per shuffle partition); watermarks
 * bound state size (windows older than watermark are evicted); the
 * stateful op uses Update output so the sink sees deltas, not scans.
 */
object StreamPipelines {

  /** Free a dead localCheckpoint snapshot from inside a `finally`
    * WITHOUT masking the primary failure (ADVICE r15): if the parquet
    * write threw and the unpersist also throws (stopped context after
    * executor death, the single-leaf require), a bare call would
    * replace the original write exception with the cleanup one. Same
    * log-and-skip discipline as Q.drainCheckpoints. */
  private def freeSnapshot(df: org.apache.spark.sql.DataFrame): Unit =
    try org.apache.spark.sql.GraftShims.unpersistLeafRdd(df)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graft] snapshot unpersist skipped: $e")
    }

  /** Runs `body` with its jobs described as `name` followed by the
    * description they would otherwise carry (a stream batch's `id = …
    * runId = … batch = N`), then restores that description. Structured
    * Streaming gives every job of a foreachBatch sink the batch's
    * description and call site, so without this the event log and
    * [[graft.Profile]]'s job log cannot tell a sink's steps apart. */
  private[streaming] def step[T](spark: SparkSession, name: String)
      (body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(Option(prev).fold(name)(p => s"$name: ${p.trim}"))
    try body finally sc.setJobDescription(prev)
  }

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Production entry: incremental file-stream over an events directory
    * (new parquet files picked up per micro-batch). `maxFilesPerTrigger`
    * bounds epoch size — at scale it's the backpressure knob that keeps a
    * backlog catch-up from producing one giant micro-batch.
    *
    * A stream source needs an explicit schema, so the ts encoding can't
    * be dispatched per-batch the way [[graft.Tables.load]] does — it is
    * probed ONCE from the directory's current footers via a batch read
    * (cheap: footer-only) and the matching normalization is applied.
    * Files appended later must keep the probed encoding, which is the
    * standard contract for a schema-pinned file stream. */
  def readEvents(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.Tables.tune(spark)
    val tsType = spark.read.parquet(dir).schema("ts").dataType
    val reader = spark.readStream
      .schema(StructType(eventSchema.map {
        case f if f.name == "ts" => f.copy(dataType = tsType)
        case f => f
      }))
    val raw = maxFilesPerTrigger.fold(reader)(n =>
      reader.option("maxFilesPerTrigger", n)).parquet(dir)
    tsType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /**
   * Tumbling 1 h counts with a 1 h watermark, append mode: a window is
   * emitted once the watermark passes its end, and rows arriving more
   * than 1 h late are dropped — the semantics the batch twin
   * `stream_tumbling` cannot express.
   */
  def tumblingWithWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n_events"))

  /**
   * Incremental scheduled run: process exactly the files that appeared
   * since the last invocation, then stop — the engine equivalent of
   * plankton's cron trigger + param-hash skip-if-done (SURVEY.md §2e):
   * the checkpoint IS the "which work is already complete" record, and
   * re-running is idempotent (exactly-once file-sink semantics).
   */
  def mirrorAvailableNow(spark: SparkSession, srcDir: String,
      schema: StructType, outDir: String, checkpointDir: String): Unit = {
    val q = spark.readStream.schema(schema).parquet(srcDir)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append")
      .start()
    q.awaitTermination()
  }

  /**
   * Per-user session aggregates with a 30-minute inactivity gap — the
   * shared core of the batch twin (`stream_session` in [[EventOps]],
   * DuckDB-oracled) and the streaming form below: one function, two
   * execution modes, so the session rule cannot drift between them.
   * `session_window` end = last event + gap, so last_ts = end − 30 m.
   */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("w.start").cast("timestamp_ntz").as("session_start"),
        (col("w.end") - expr("INTERVAL 30 MINUTES")).cast("timestamp_ntz")
          .as("last_ts"),
        col("n_events"))

  /**
   * Streaming session windows (VERDICT r4 item 8): the watermarked,
   * append-mode form of [[sessionAgg]]. Sessions are MERGED in the state
   * store as events arrive (two provisional sessions < 30 m apart
   * coalesce), and a session is emitted exactly once — when the
   * watermark passes its end (last event + gap), i.e. when no on-time
   * event can extend it any more. Events later than the watermark delay
   * are dropped, never resurrecting an emitted session.
   *
   * Scale notes (100 TB/day): state shuffles by user_id (the session
   * key), sessions-in-progress are the only state (bounded by active
   * users × watermark horizon), and append mode means the sink sees each
   * closed session once — the exact production sessionization contract.
   */
  def sessionizeWithWatermark(events: DataFrame,
      delay: String = "1 hour"): DataFrame =
    sessionAgg(events.withWatermark("ts", delay))

  /**
   * Streaming dedup with BOUNDED state: duplicates of an event_id are
   * dropped only while the id is within the 10-minute watermark horizon —
   * after the watermark passes, state for old ids is evicted (unlike
   * plain streaming dropDuplicates, whose state grows forever). The
   * at-scale contract for at-least-once sources: upstream retries land
   * within minutes, so a bounded horizon gives exactly-once output with
   * O(events-per-horizon) state per partition.
   */
  def dedupWithinWatermark(events: Dataset[Event]): Dataset[Event] =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /**
   * Stream–static enrichment — the most common production streaming
   * shape: every event joined against a slowly-changing dimension table
   * (here customer → market segment), rolled up per (segment,
   * event_type). The dimension side is broadcast: a static DataFrame in
   * a stream–static join is re-resolvable per micro-batch, so dimension
   * updates between batches are picked up without restarting the query,
   * and the stream side never shuffles for the join. LEFT join +
   * UNKNOWN bucket: an event whose user is missing from the dimension
   * must surface (silently dropping unmatched events is the classic
   * enrichment bug), so the miss count is visible in the output.
   *
   * This SAME function builds both the streaming query (StreamingSpec,
   * complete mode) and the oracle-checked batch twin
   * (`stream_enrich` in [[EventOps]]) — parity by construction.
   */
  def enrichBySegment(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .join(broadcast(dim), events("user_id") === dim("c_custkey"), "left")
      .groupBy(coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), Q.moneySum(col("value")).as("sum_value"))

  /**
   * Stream–stream INTERVAL join: each click joined to the same user's
   * purchases within [click_ts, click_ts + 10 min]. Both sides carry a
   * 10-minute watermark and the join condition bounds event time in BOTH
   * directions, so the state store provably evicts: a buffered click can
   * be dropped once the purchase watermark passes click_ts + 10 min, a
   * buffered purchase once the click watermark passes purchase_ts. At
   * 100 TB/day this is the only viable formulation — an unbounded-time
   * stream join buffers forever. State partitions by user_id (the equi
   * key); append mode emits each matched pair exactly once.
   */
  def clickPurchaseJoin(clicks: Dataset[Event],
      purchases: Dataset[Event]): DataFrame = {
    val c = clicks.filter(col("event_type") === "click")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases.filter(col("event_type") === "purchase")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value").as("amount"))
    c.join(p,
        col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("amount"))
  }

  /**
   * Per-user running counter + last-seen timestamp via
   * `transformWithState` — Spark 4's current arbitrary-stateful API
   * (SURVEY.md §2c names it first). State lives in a named ValueState
   * per grouping key inside the RocksDB state store, which this operator
   * REQUIRES: set `spark.sql.streaming.stateStore.providerClass` to
   * `...state.RocksDBStateStoreProvider` on the session (StreamingSpec
   * does; the HDFS-backed default store rejects transformWithState).
   *
   * Scale notes (100 TB/day): identical placement to the legacy twin —
   * state partitioned by key across executors — but RocksDB spills
   * state to local disk + changelog, so per-executor state is bounded
   * by disk, not heap, and TTLConfig can evict idle users.
   */
  def statefulUserCounts(events: Dataset[Event]): Dataset[UserUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new StatefulProcessor[Long, Event, UserUpdate] {
          @transient private var st: ValueState[UserState] = _
          override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
            st = getHandle.getValueState[UserState](
              "userState", Encoders.product[UserState], TTLConfig.NONE)
          override def handleInputRows(uid: Long, rows: Iterator[Event],
              timers: TimerValues): Iterator[UserUpdate] = {
            var cur = if (st.exists()) st.get() else UserState(0L, 0L)
            rows.foreach { e =>
              cur = UserState(cur.count + 1, math.max(cur.lastTsMillis, e.ts.getTime))
            }
            st.update(cur)
            Iterator(UserUpdate(uid, cur.count, cur.lastTsMillis))
          }
        },
        TimeMode.None(), OutputMode.Update())
  }

  /**
   * Per-user EWMA (α = 0.5) via `transformWithState` — the STREAMING twin
   * of the batch `event_ewma` operator (EventOps): identical fold,
   * identical floor(x·10⁴ + 0.5) basis-point output, state = one
   * (ewma, n) pair per user in the RocksDB store. This is the 100 TB
   * form of the op — the batch twin collects per-user arrays to be
   * oracle-checkable; here state is O(1) per key and each event costs
   * one multiply-add.
   *
   * Within a micro-batch rows arrive partition-ordered, not
   * time-ordered, so the fold sorts each batch's rows by (ts nanos,
   * event_id) first; ACROSS batches order is arrival order — the same
   * contract every streaming EWMA has (a late event folds late). The
   * parity test feeds batches in timeline order and asserts bit-equal
   * trajectories against the batch twin.
   */
  def statefulEwma(events: Dataset[Event]): Dataset[EwmaUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new StatefulProcessor[Long, Event, EwmaUpdate] {
          @transient private var st: ValueState[EwmaState] = _
          override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
            st = getHandle.getValueState[EwmaState](
              "ewmaState", Encoders.product[EwmaState], TTLConfig.NONE)
          override def handleInputRows(uid: Long, rows: Iterator[Event],
              timers: TimerValues): Iterator[EwmaUpdate] = {
            var cur = if (st.exists()) st.get() else EwmaState(Double.NaN, 0L)
            val out = rows.toSeq
              .sortBy(EventOrder.key)
              .map { e =>
                val next =
                  if (cur.n == 0L) e.value else 0.5 * e.value + 0.5 * cur.ewma
                cur = EwmaState(next, cur.n + 1)
                EwmaUpdate(uid, e.event_id, e.value,
                  math.floor(next * 10000 + 0.5).toLong)
              }
            st.update(cur)
            out.iterator
          }
        },
        TimeMode.None(), OutputMode.Append())
  }

  /**
   * Per-user Holt level+trend smoothing (α = β = 0.5) via
   * `transformWithState` — the STREAMING twin of the batch `event_holt`
   * operator (EventOps), completing the same exact-arm/scale-arm
   * pairing statefulEwma gives event_ewma: identical fold (including
   * the expanded trend spelling 0.25·v − 0.25·l' + 0.75·b' — see the
   * batch twin's Scaladoc for why), identical basis-point output,
   * state = one (l, b, n) triple per user in the RocksDB store. O(1)
   * state per key; three multiplies per event.
   */
  def statefulHolt(events: Dataset[Event]): Dataset[HoltUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new StatefulProcessor[Long, Event, HoltUpdate] {
          @transient private var st: ValueState[HoltState] = _
          override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
            st = getHandle.getValueState[HoltState](
              "holtState", Encoders.product[HoltState], TTLConfig.NONE)
          override def handleInputRows(uid: Long, rows: Iterator[Event],
              timers: TimerValues): Iterator[HoltUpdate] = {
            var cur = if (st.exists()) st.get()
                      else HoltState(Double.NaN, Double.NaN, 0L)
            val out = rows.toSeq
              .sortBy(EventOrder.key)
              .map { e =>
                val (l, b) =
                  if (cur.n == 0L) (e.value, 0.0)
                  else (0.5 * e.value + 0.5 * (cur.l + cur.b),
                    0.25 * e.value - 0.25 * cur.l + 0.75 * cur.b)
                cur = HoltState(l, b, cur.n + 1)
                HoltUpdate(uid, e.event_id, e.value,
                  math.floor(l * 10000 + 0.5).toLong,
                  math.floor(b * 10000 + 0.5).toLong,
                  math.floor((l + b) * 10000 + 0.5).toLong)
              }
            st.update(cur)
            out.iterator
          }
        },
        TimeMode.None(), OutputMode.Append())
  }

  /**
   * Per-user first-/last-touch attribution via `transformWithState` —
   * the STREAMING twin of the batch `event_attribution` operator
   * (VERDICT r9 #6, completing the ewma/holt pairing): state is ONE
   * (first_touch, last_touch, last_ts) triple per user, each channel
   * event (click/view/signup) overwrites the last-touch slots and
   * fills first-touch once, each purchase EMITS the current state —
   * the strictly-before-current-row semantics of the batch twin's
   * `rowsBetween(unboundedPreceding, -1)` frame falls out of the fold
   * order for free. O(1) state per key, zero arithmetic per event; at
   * a 100 TB/day event stream this is the attribution form that never
   * re-reads history.
   *
   * Same within-micro-batch ordering contract as the other stateful
   * folds ([[EventOrder.key]]); across batches order is arrival order.
   */
  def statefulAttribution(events: Dataset[Event]): Dataset[AttributionUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new StatefulProcessor[Long, Event, AttributionUpdate] {
          @transient private var st: ValueState[AttribState] = _
          override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
            st = getHandle.getValueState[AttribState](
              "attribState", Encoders.product[AttribState], TTLConfig.NONE)
          override def handleInputRows(uid: Long, rows: Iterator[Event],
              timers: TimerValues): Iterator[AttributionUpdate] = {
            var cur = if (st.exists()) st.get() else AttribState("", "", -1L)
            val out = Seq.newBuilder[AttributionUpdate]
            rows.toSeq.sortBy(EventOrder.key).foreach { e =>
              e.event_type match {
                case "purchase" =>
                  out += AttributionUpdate(uid, e.event_id, e.value,
                    if (cur.lastTouch.isEmpty) "none" else cur.lastTouch,
                    cur.lastTsNanos,
                    if (cur.firstTouch.isEmpty) "none" else cur.firstTouch)
                case t if t == "click" || t == "view" || t == "signup" =>
                  // EventOrder.key's nanos component — the ONE shared
                  // definition, per its drift warning.
                  cur = AttribState(
                    if (cur.firstTouch.isEmpty) t else cur.firstTouch, t,
                    EventOrder.key(e)._1)
                case _ => // errors and purchases are not channels
              }
            }
            st.update(cur)
            out.result().iterator
          }
        },
        TimeMode.None(), OutputMode.Append())
  }

  /**
   * Keyed-upsert streaming terminal ("MERGE INTO" against a plain-parquet
   * target) via foreachBatch — the production load step the append-only
   * file sink cannot express (VERDICT r2 item 5): highest-orderCol-wins
   * per key, not append — and not arrival-order: a late epoch carrying an
   * older version of a key leaves newer target state intact.
   *
   * Target layout: `target/data` is a parquet table hash-partitioned
   * into `nBuckets` directories by key (`_bucket = pmod(xxhash64(key),
   * n)`); `target/_epochs/<batchId>` is an applied-epoch ledger.
   *
   * Exactly-once across restarts: after a crash, foreachBatch REPLAYS
   * the last unacknowledged epoch (same batchId, same data — that is the
   * documented contract). Two guards make the replay safe:
   *  1. the ledger — a batchId whose marker exists is skipped outright;
   *  2. the merge itself is idempotent (upserting rows already present
   *     produces an identical target), covering a crash BETWEEN the data
   *     write and the marker write.
   *
   * Scale shape (100 TB target): a batch touches only the buckets its
   * keys hash into — the current-state read is partition-pruned to those
   * directories and dynamic partition overwrite rewrites exactly those,
   * so per-batch cost is O(batch + touched-buckets), independent of
   * total target size. The bucket list is a driver-side collect bounded
   * by `nBuckets` ints, never data. On a warehouse this same pipeline is
   * what a transactional format's MERGE INTO executes (pruned read →
   * key dedup → partition rewrite); plain parquet + a ledger reproduces
   * it with only-idempotence (not isolation) guarantees, which is the
   * right trade for a single-writer streaming sink. Its jobs run under
   * the descriptions `upsert buckets`, `upsert merge` and `upsert write`.
   */
  def upsertBatch(target: String, keyCol: String, orderCol: String,
      nBuckets: Int)(batch: DataFrame, batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val marker = new Path(new Path(target, "_epochs"), batchId.toString)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) return // replayed epoch: already fully applied
    // CONTRACT: orderCol must totally order rows within a key (a unique
    // sequence / event id, not a coarse timestamp) — on ties the
    // surviving row is partition-order-dependent, which breaks the
    // replay-idempotence guarantee the ledger otherwise provides.
    val bucket = pmod(xxhash64(col(keyCol)), lit(nBuckets)).cast("int")
    val dataDir = new Path(target, "data").toString
    if (!fs.exists(new Path(dataDir))) {
      // First write: last-write-wins within the batch (a micro-batch can
      // carry several versions of a key; exactly one row per key may
      // survive).
      val wKey = Window.partitionBy(col(keyCol)).orderBy(col(orderCol).desc)
      val upserts = batch
        .withColumn("_rn", row_number().over(wKey)).filter(col("_rn") === 1)
        .drop("_rn")
        .withColumn("_bucket", bucket)
      step(spark, "upsert write") {
        upserts.write.partitionBy("_bucket").mode("overwrite").parquet(dataDir)
      }
    } else {
      // A bucket depends on the key alone, so the batch keys give the
      // touched set without evaluating the merge.
      val affected = step(spark, "upsert buckets") {
        Q.distinctInts(batch.select(bucket)).toSeq
      }
      // orderCol-wins across epochs, not arrival-order-wins: a later epoch
      // carrying a LOWER orderCol (late/out-of-order delivery) must not
      // clobber newer target state — the documented contract and the
      // upsert_latest batch twin both order by orderCol globally. Union
      // target ∪ raw batch and keep the max-orderCol row per key: the one
      // window ranks the batch's own versions of a key together with the
      // target's, so several versions in one batch need no window of
      // their own. `_is_new` breaks exact-orderCol ties toward the batch row, which
      // is only reachable when orderCol is not unique per key (outside
      // the contract above) and keeps even that case deterministic.
      val wMerge = Window.partitionBy(col(keyCol))
        .orderBy(col(orderCol).desc, col("_is_new").desc)
      val merged = step(spark, "upsert merge") {
        // mergeSchema + allowMissingColumns: the source schema may EVOLVE
        // between epochs (a column added upstream); old rows surface the
        // new column as null, epochs missing a column write nulls — the
        // standard additive-evolution contract (tested in StreamingSpec).
        val current = spark.read.option("mergeSchema", "true").parquet(dataDir)
          .filter(col("_bucket").isin(affected: _*)) // partition-pruned read
        current.withColumn("_is_new", lit(0))
          .unionByName(batch.withColumn("_bucket", bucket)
            .withColumn("_is_new", lit(1)), allowMissingColumns = true)
          .withColumn("_rn", row_number().over(wMerge))
          .filter(col("_rn") === 1).drop("_rn", "_is_new")
          // materialize BEFORE overwriting the directories being read —
          // Spark refuses (or corrupts) an overwrite of its own input
          .localCheckpoint(true)
      }
      val overwriteKey = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(overwriteKey)
      spark.conf.set(overwriteKey, "dynamic")
      try step(spark, "upsert write") {
        merged.write.partitionBy("_bucket").mode("overwrite").parquet(dataDir)
      } finally {
        prev match {
          case Some(v) => spark.conf.set(overwriteKey, v)
          case None => spark.conf.unset(overwriteKey)
        }
        // the snapshot is dead whether the write succeeded or threw —
        // free its checkpoint blocks INSIDE the finally (ADVICE r14;
        // clearCache cannot reap checkpoint RDDs)
        freeSnapshot(merged)
      }
    }
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
  }

  /**
   * Small-file compaction for an upsert target. Every epoch writes a
   * fresh file set into each bucket it touches, so a hot key's bucket
   * accumulates O(epochs) files — reads degrade via listing and
   * per-file open overhead long before data volume matters (the classic
   * streaming-sink operational chore). Rewrites ONLY buckets whose file
   * count exceeds `maxFilesPerBucket`, repartitioned by bucket so each
   * compacted bucket lands as a single file, through the same
   * dynamic-partition-overwrite path as the merge (untouched buckets
   * are never read or written). Same single-writer contract as
   * [[upsertBatch]] — run it between epochs. Returns the number of
   * buckets compacted; row data is unchanged (asserted in StreamingSpec).
   */
  def compactUpsertTarget(spark: SparkSession, target: String,
      maxFilesPerBucket: Int = 4): Int = {
    import org.apache.hadoop.fs.Path
    val dataDir = new Path(target, "data")
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dataDir)) return 0
    val crowded = fs.listStatus(dataDir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_bucket="))
      .filter(st => fs.listStatus(st.getPath)
        .count(f => f.getPath.getName.endsWith(".parquet")) > maxFilesPerBucket)
      .map(st => st.getPath.getName.stripPrefix("_bucket=").toInt)
    if (crowded.isEmpty) return 0
    // mergeSchema: after additive evolution a bucket mixes old/new file
    // schemas — a single-footer inference would silently drop the evolved
    // column from every rewritten bucket (ADVICE r3).
    val compacted = spark.read.option("mergeSchema", "true")
      .parquet(dataDir.toString)
      .filter(col("_bucket").isin(crowded: _*))
      .repartition(crowded.size, col("_bucket")) // one task → one file per bucket
      .localCheckpoint(true) // materialize before overwriting its own input
    val overwriteKey = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(overwriteKey)
    spark.conf.set(overwriteKey, "dynamic")
    try compacted.write.partitionBy("_bucket").mode("overwrite")
      .parquet(dataDir.toString)
    finally {
      prev match {
        case Some(v) => spark.conf.set(overwriteKey, v)
        case None => spark.conf.unset(overwriteKey)
      }
      // same ADVICE r14 discipline as the merge paths: the compaction
      // snapshot is dead either way — never leak its checkpoint blocks
      freeSnapshot(compacted)
    }
    crowded.size
  }

  /** Current upsert-target state: exactly one row per key. */
  def readUpsertTarget(spark: SparkSession, target: String): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(new org.apache.hadoop.fs.Path(target, "data").toString)
      .drop("_bucket")

  /**
   * Additive-merge streaming terminal — the incremental MATERIALIZED
   * VIEW twin of [[upsertBatch]]: each epoch's per-key deltas (row count
   * + sums of `sumCols`) FOLD INTO the target instead of replacing it.
   * Addition is not idempotent, so the epoch ledger is load-bearing
   * correctness here, not an optimization: a replayed epoch must be
   * skipped outright or every total doubles (asserted in StreamingSpec).
   * A crash between the data write and the marker write can still
   * re-apply one epoch — a transactional table format closes that last
   * window by committing both atomically; the ledger bounds exposure to
   * exactly one epoch either way.
   *
   * Same scale shape as the upsert: deltas aggregate map-side to #keys,
   * only touched buckets are read (partition-pruned) and rewritten
   * (dynamic overwrite), and the merge is union + re-aggregate — no
   * driver-side state beyond the bucket list.
   */
  def aggregateBatch(target: String, keyCol: String, sumCols: Seq[String],
      nBuckets: Int)(batch: DataFrame, batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val marker = new Path(new Path(target, "_epochs"), batchId.toString)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) return // replay: totals must not double
    val aggs = count(lit(1)).as("n_rows") +:
      sumCols.map(c => sum(col(c)).as(s"sum_$c"))
    val bucket = pmod(xxhash64(col(keyCol)), lit(nBuckets)).cast("int")
    val deltas = batch.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
      .withColumn("_bucket", bucket)
    val dataDir = new Path(target, "data").toString
    if (!fs.exists(new Path(dataDir))) {
      deltas.write.partitionBy("_bucket").mode("overwrite").parquet(dataDir)
    } else {
      // The batch keys give the touched set without evaluating the
      // delta aggregate a second time.
      val affected = Q.distinctInts(batch.select(bucket)).toSeq
      val current = spark.read.option("mergeSchema", "true").parquet(dataDir)
        .filter(col("_bucket").isin(affected: _*))
      // union + re-aggregate folds existing totals and new deltas in one
      // hash agg — handles new keys and existing keys uniformly
      val valueCols = "n_rows" +: sumCols.map(c => s"sum_$c")
      val merged = current.unionByName(deltas, allowMissingColumns = true)
        .groupBy(col(keyCol), col("_bucket"))
        .agg(sum(col(valueCols.head)).as(valueCols.head),
          valueCols.tail.map(c => sum(col(c)).as(c)): _*)
        .localCheckpoint(true)
      val overwriteKey = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(overwriteKey)
      spark.conf.set(overwriteKey, "dynamic")
      try merged.write.partitionBy("_bucket").mode("overwrite").parquet(dataDir)
      finally {
        prev match {
          case Some(v) => spark.conf.set(overwriteKey, v)
          case None => spark.conf.unset(overwriteKey)
        }
        // the snapshot is dead whether the write succeeded or threw —
        // free its checkpoint blocks INSIDE the finally (ADVICE r14;
        // clearCache cannot reap checkpoint RDDs)
        freeSnapshot(merged)
      }
    }
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
  }

  /** Wire [[upsertBatch]] as a streaming sink. Checkpointed: a restart
    * resumes at the first unapplied epoch; a replayed epoch is absorbed
    * by the ledger/idempotence guards. */
  def startUpsert(src: DataFrame, target: String, keyCol: String,
      orderCol: String, nBuckets: Int, checkpointDir: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : StreamingQuery = {
    val w = src.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .foreachBatch((df: DataFrame, id: Long) =>
        upsertBatch(target, keyCol, orderCol, nBuckets)(df, id))
    trigger.fold(w)(w.trigger).start()
  }

  /**
   * The same per-user counter on the older flatMapGroupsWithState API
   * (kept as the portability surface: it runs on the default HDFS-backed
   * state store; StreamingSpec asserts both APIs produce identical
   * aggregates).
   */
  def statefulUserCountsLegacy(events: Dataset[Event]): Dataset[UserUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[UserState]) =>
          var st = state.getOption.getOrElse(UserState(0L, 0L))
          it.foreach { e =>
            st = UserState(st.count + 1, math.max(st.lastTsMillis, e.ts.getTime))
          }
          state.update(st)
          Iterator(UserUpdate(uid, st.count, st.lastTsMillis))
      }
  }
}
