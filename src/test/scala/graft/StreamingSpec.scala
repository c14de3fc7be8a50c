package graft

import graft.streaming.{Event, EventOrder, StreamPipelines}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** MemoryStream-driven checks for the Structured Streaming surface
  * (SURVEY.md §5.4): watermark late-drop and stateful accumulation. */
class StreamingSpec extends SparkSpec {

  private def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
  private def ev(id: Long, t: Timestamp, user: Long = 1L, typ: String = "click") =
    Event(id, t, user, typ, 1.0, "{}")

  test("watermark: windows finalize after watermark passes; late rows dropped") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val in = MemoryStream[Event]
    val q = StreamPipelines.tumblingWithWatermark(in.toDF())
      .writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    try {
      // two events in [10:00, 11:00)
      in.addData(ev(1, ts(10, 15)), ev(2, ts(10, 45)))
      q.processAllAvailable()
      // nothing finalized yet (watermark still at 9:45)
      assert(s.sql("SELECT * FROM wm_out").count() === 0)
      // advance event time to 13:00 → watermark 12:00 → 10:00 window closes
      in.addData(ev(3, ts(13, 0)))
      q.processAllAvailable()
      val closed = s.sql("SELECT n_events FROM wm_out WHERE w_start = '2024-01-01 10:00:00'")
        .collect().map(_.getLong(0))
      assert(closed.toSeq === Seq(2L))
      // a >1h-late row for the closed window must be dropped
      in.addData(ev(4, ts(10, 5)))
      in.addData(ev(5, ts(14, 30))) // push watermark again
      q.processAllAvailable()
      val after = s.sql("SELECT n_events FROM wm_out WHERE w_start = '2024-01-01 10:00:00'")
        .collect().map(_.getLong(0))
      assert(after.toSeq === Seq(2L), "late row leaked into a finalized window")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: dups inside the horizon collapse; state evicts after it") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val in = MemoryStream[Event]
    val q = StreamPipelines.dedupWithinWatermark(in.toDS())
      .writeStream.format("memory").queryName("ddw_out")
      .outputMode("append").start()
    try {
      // same event_id three times within the horizon → exactly one row
      in.addData(ev(1, ts(10, 0)), ev(1, ts(10, 1)), ev(1, ts(10, 2)))
      q.processAllAvailable()
      assert(s.sql("SELECT * FROM ddw_out WHERE event_id = 1").count() === 1)
      // push the watermark far past 10:00 + 10 min → id-1 state evicted
      in.addData(ev(2, ts(12, 0)))
      q.processAllAvailable()
      // a *late replay* of id 1 now reappears: bounded state traded
      // eternal exactly-once for horizon exactly-once (the documented
      // dropDuplicatesWithinWatermark semantics)
      in.addData(ev(1, ts(12, 1)))
      q.processAllAvailable()
      assert(s.sql("SELECT * FROM ddw_out WHERE event_id = 1").count() === 2)
    } finally q.stop()
  }

  test("streaming session windows: provisional sessions merge, finalize on watermark, match the batch twin; late rows dropped") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val in = MemoryStream[Event]
    val q = StreamPipelines.sessionizeWithWatermark(in.toDF(), delay = "0 seconds")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // user 1: events at 10:00 and 10:20 — one session (gap < 30 m).
      // The 10:20 event arrives in a LATER micro-batch than 10:00, so the
      // state store must merge two provisional sessions, not just extend.
      in.addData(ev(1, ts(10, 0), user = 1))
      q.processAllAvailable()
      in.addData(ev(2, ts(10, 20), user = 1), ev(3, ts(10, 5), user = 2))
      q.processAllAvailable()
      // watermark = 10:20 < every session end → nothing finalized yet
      assert(s.sql("SELECT * FROM sess_out").count() === 0)
      // 12:00 event pushes the watermark past both session ends
      in.addData(ev(4, ts(12, 0), user = 1))
      q.processAllAvailable()
      val closed = s.table("sess_out").collect()
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[java.time.LocalDateTime]("session_start").toString,
          r.getAs[Long]("n_events"))).toSet
      assert(closed === Set(
        (1L, "2024-01-01T10:00", 2L), // merged across micro-batches
        (2L, "2024-01-01T10:05", 1L)))
      // a late event that WOULD have merged into user 1's closed session
      // (watermark is 12:00 > 10:10) must be dropped, not resurrect it
      in.addData(ev(5, ts(10, 10), user = 1))
      in.addData(ev(6, ts(14, 0), user = 3)) // advance watermark → close 12:00 session
      q.processAllAvailable()
      val n1 = s.sql(
        "SELECT n_events FROM sess_out WHERE user_id = 1 AND session_start = '2024-01-01 10:00:00'")
        .collect().map(_.getLong(0)).toSeq
      assert(n1 === Seq(2L), "late row resurrected or duplicated a closed session")
      // PARITY: every finalized session equals the batch twin (the same
      // sessionAgg function, oracle-checked as stream_session) run over
      // the on-time rows. The 14:00 session is still open in the stream,
      // so compare the batch result minus that one in-flight session.
      val onTime = Seq(ev(1, ts(10, 0), user = 1), ev(2, ts(10, 20), user = 1),
        ev(3, ts(10, 5), user = 2), ev(4, ts(12, 0), user = 1))
      val batch = StreamPipelines.sessionAgg(onTime.toDF())
        .collect()
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[java.time.LocalDateTime]("session_start").toString,
          r.getAs[Long]("n_events"))).toSet
      val streamed = s.table("sess_out").collect()
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[java.time.LocalDateTime]("session_start").toString,
          r.getAs[Long]("n_events"))).toSet
      assert(streamed === batch,
        "finalized streaming sessions diverged from the batch twin")
    } finally q.stop()
  }

  test("stream-static enrichment: dimension join enriches across micro-batches; unmatched users land in UNKNOWN") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY")).toDF("c_custkey", "c_mktsegment")
    val in = MemoryStream[Event]
    val q = StreamPipelines.enrichBySegment(in.toDF(), dim)
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("complete").start()
    try {
      // user 1 → BUILDING, user 99 → no dim row → UNKNOWN
      in.addData(ev(1, ts(10, 0), user = 1), ev(2, ts(10, 5), user = 99))
      q.processAllAvailable()
      // second micro-batch accumulates into the same groups
      in.addData(ev(3, ts(10, 10), user = 1), ev(4, ts(10, 15), user = 2, typ = "view"))
      q.processAllAvailable()
      val got = s.sql(
        "SELECT segment, event_type, n_events, sum_value FROM enrich_out")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      // the streaming result must equal the SAME function run in batch
      val batch = StreamPipelines.enrichBySegment(
          Seq(ev(1, ts(10, 0), user = 1), ev(2, ts(10, 5), user = 99),
            ev(3, ts(10, 10), user = 1), ev(4, ts(10, 15), user = 2, typ = "view")).toDF(),
          dim)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got === batch)
      assert(got.contains(("BUILDING", "click", 2L, 2.0)))
      assert(got.exists(_._1 == "UNKNOWN"), "left-join miss path not surfaced")
    } finally q.stop()
  }

  test("stream-stream interval join: clicks match purchases within 10 min; out-of-range never emitted") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = StreamPipelines.clickPurchaseJoin(clicks.toDS(), purchases.toDS())
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      // user 1: click 10:00, purchases at 10:05 (in range) and 10:20 (out);
      // user 2: purchase with no prior click in range.
      clicks.addData(ev(1, ts(10, 0), user = 1))
      purchases.addData(
        ev(101, ts(10, 5), user = 1, typ = "purchase"),
        ev(102, ts(10, 20), user = 1, typ = "purchase"),
        ev(103, ts(10, 5), user = 2, typ = "purchase"))
      q.processAllAvailable()
      val rows = s.sql("SELECT user_id, click_id, purchase_id FROM ssj_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows === Set((1L, 1L, 101L)),
        s"exactly the in-range pair should match, got $rows")
      // a second in-range purchase arriving later still matches the
      // buffered click (state not yet evicted: watermark hasn't passed)
      purchases.addData(ev(104, ts(10, 9), user = 1, typ = "purchase"))
      q.processAllAvailable()
      val rows2 = s.sql("SELECT purchase_id FROM ssj_out")
        .collect().map(_.getLong(0)).toSet
      assert(rows2 === Set(101L, 104L))
    } finally q.stop()
  }

  test("AvailableNow incremental runs: each invocation processes only new files, idempotently") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_incr").toString
    val (src, out, cp) = (s"$base/src", s"$base/out", s"$base/cp")
    val events = Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val schema = events.schema
    // run 1: first batch of files
    events.filter(org.apache.spark.sql.functions.col("event_id") < 500)
      .coalesce(1).write.mode("append").parquet(src)
    graft.streaming.StreamPipelines.mirrorAvailableNow(spark, src, schema, out, cp)
    val n1 = spark.read.parquet(out).count()
    assert(n1 === 500)
    // run 2: new files appear; same checkpoint → only the delta processed
    events.filter(org.apache.spark.sql.functions.col("event_id") >= 500)
      .coalesce(1).write.mode("append").parquet(src)
    graft.streaming.StreamPipelines.mirrorAvailableNow(spark, src, schema, out, cp)
    assert(spark.read.parquet(out).count() === 1000)
    // run 3: nothing new → no duplicates (idempotent re-run)
    graft.streaming.StreamPipelines.mirrorAvailableNow(spark, src, schema, out, cp)
    assert(spark.read.parquet(out).count() === 1000)
    assert(spark.read.parquet(out).select("event_id").distinct().count() === 1000)
  }

  test("upsert sink: last-write-wins per key; a replayed epoch does not double-apply") {
    val s = spark
    import s.implicits._
    val target = java.nio.file.Files.createTempDirectory("graft_upsert").toString + "/t"
    def state = StreamPipelines.readUpsertTarget(s, target).collect()
      .map(r => r.getAs[Long]("k") -> ((r.getAs[String]("v"), r.getAs[Long]("seq"))))
      .toMap
    // epoch 0: key 1 appears twice in-batch — the later seq must win
    val b0 = Seq((1L, "a", 1L), (1L, "b", 2L), (2L, "c", 1L)).toDF("k", "v", "seq")
    StreamPipelines.upsertBatch(target, "k", "seq", 4)(b0, 0L)
    val afterB0 = Map(1L -> (("b", 2L)), 2L -> (("c", 1L)))
    assert(state === afterB0)
    // REPLAY of epoch 0 — the crash-recovery delivery foreachBatch
    // documents — must be a no-op (ledger skip)
    StreamPipelines.upsertBatch(target, "k", "seq", 4)(b0, 0L)
    assert(state === afterB0, "replayed epoch double-applied")
    // epoch 1: update key 2, insert key 3, key 1 untouched
    val b1 = Seq((2L, "d", 3L), (3L, "e", 1L)).toDF("k", "v", "seq")
    StreamPipelines.upsertBatch(target, "k", "seq", 4)(b1, 1L)
    assert(state === Map(1L -> (("b", 2L)), 2L -> (("d", 3L)), 3L -> (("e", 1L))))
    // exactly one row per key survives any sequence of epochs
    assert(StreamPipelines.readUpsertTarget(s, target).groupBy("k").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).count() === 0)
  }

  test("upsert sink schema evolution: a column added mid-stream widens the target; old rows read as null") {
    val s = spark
    import s.implicits._
    val target = java.nio.file.Files.createTempDirectory("graft_evolve").toString + "/t"
    StreamPipelines.upsertBatch(target, "k", "seq", 4)(
      Seq((1L, "a", 1L)).toDF("k", "v", "seq"), 0L)
    // epoch 1 arrives with a NEW column
    StreamPipelines.upsertBatch(target, "k", "seq", 4)(
      Seq((2L, "b", 1L, "extra")).toDF("k", "v", "seq", "note"), 1L)
    val out = StreamPipelines.readUpsertTarget(s, target).collect()
      .map(r => r.getAs[Long]("k") -> Option(r.getAs[String]("note"))).toMap
    assert(out === Map(1L -> None, 2L -> Some("extra")))
    // epoch 2 WITHOUT the column still merges; the key it updates nulls it
    StreamPipelines.upsertBatch(target, "k", "seq", 4)(
      Seq((2L, "c", 2L)).toDF("k", "v", "seq"), 2L)
    val out2 = StreamPipelines.readUpsertTarget(s, target).collect()
      .map(r => r.getAs[Long]("k") ->
        ((r.getAs[String]("v"), Option(r.getAs[String]("note"))))).toMap
    assert(out2 === Map(1L -> (("a", None)), 2L -> (("c", None))))
  }

  test("additive-merge sink: per-key totals accumulate across epochs; a replayed epoch must not double them") {
    val s = spark
    import s.implicits._
    val target = java.nio.file.Files.createTempDirectory("graft_aggsink").toString + "/t"
    def apply(rows: Seq[(Long, Double)], id: Long) =
      StreamPipelines.aggregateBatch(target, "k", Seq("value"), 4)(
        rows.toDF("k", "value"), id)
    def state = s.read.parquet(target + "/data").collect()
      .map(r => r.getAs[Long]("k") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Double]("sum_value")))).toMap
    apply(Seq((1L, 1.0), (1L, 2.0), (2L, 10.0)), 0L)
    assert(state === Map(1L -> ((2L, 3.0)), 2L -> ((1L, 10.0))))
    apply(Seq((1L, 4.0), (3L, 7.0)), 1L)
    val want = Map(1L -> ((3L, 7.0)), 2L -> ((1L, 10.0)), 3L -> ((1L, 7.0)))
    assert(state === want)
    // REPLAY epoch 1: addition is not idempotent, the ledger must gate it
    apply(Seq((1L, 4.0), (3L, 7.0)), 1L)
    assert(state === want, "replayed epoch doubled the totals")
    // exactly one row per key always
    assert(state.size === s.read.parquet(target + "/data").count())
  }

  test("upsert compaction: crowded buckets collapse to one file each; state and skipped buckets unchanged") {
    val s = spark
    import s.implicits._
    val target = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    // Crowding comes from write parallelism, not epoch count (each epoch
    // rewrites the buckets it touches): 40 keys spread over the 4 shuffle
    // partitions → every task writes into both buckets → ~4 files each.
    // AQE would coalesce this toy shuffle to one task (hiding the
    // at-scale many-tasks-per-bucket shape), so pin it off for the writes.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = s.conf.getOption(coalesceKey)
    s.conf.set(coalesceKey, "false")
    try {
      val b0 = (1L to 40L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "seq")
      StreamPipelines.upsertBatch(target, "k", "seq", 2)(b0, 1L)
      // a merge epoch over a few keys keeps the multi-task write shape
      val b1 = Seq((1L, "x", 2L), (2L, "y", 2L)).toDF("k", "v", "seq")
      StreamPipelines.upsertBatch(target, "k", "seq", 2)(b1, 2L)
    } finally prevCoalesce match {
      case Some(v) => s.conf.set(coalesceKey, v)
      case None => s.conf.unset(coalesceKey)
    }
    def state = StreamPipelines.readUpsertTarget(s, target).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    def filesPerBucket = {
      val dataDir = new org.apache.hadoop.fs.Path(target, "data")
      val fs = dataDir.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(dataDir).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("_bucket="))
        .map(st => st.getPath.getName ->
          fs.listStatus(st.getPath).count(_.getPath.getName.endsWith(".parquet")))
        .toMap
    }
    val before = state
    assert(filesPerBucket.values.exists(_ > 2), "setup: no crowded bucket")
    val n = StreamPipelines.compactUpsertTarget(s, target, maxFilesPerBucket = 2)
    assert(n >= 1, "no bucket compacted")
    assert(filesPerBucket.values.forall(_ <= 2),
      s"crowded buckets remain: $filesPerBucket")
    assert(state === before, "compaction changed the data")
    // idempotent: nothing left over the threshold
    assert(StreamPipelines.compactUpsertTarget(s, target, 2) === 0)
  }

  test("upsert sink end-to-end: checkpointed restarts resume at the next epoch; re-runs apply nothing twice") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft_upsert_e2e").toString
    val (src, target, cp) = (s"$base/src", s"$base/target", s"$base/cp")
    val events = Tables.events(spark, sf0001)
      .select("event_id", "user_id", "event_type", "value")
    val schema = events.schema
    def runOnce(): Unit = {
      val q = StreamPipelines.startUpsert(
        spark.readStream.schema(schema).parquet(src),
        target, "user_id", "event_id", 8, cp,
        Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      q.awaitTermination()
    }
    // run 1: first half of the events
    events.filter(col("event_id") < 500).coalesce(1).write.mode("append").parquet(src)
    runOnce()
    val users1 = StreamPipelines.readUpsertTarget(spark, target)
    assert(users1.count() === users1.select("user_id").distinct().count(),
      "target must hold one row per key")
    // run 2 (a RESTART on the same checkpoint): second half arrives —
    // per-user state must now reflect each user's highest event_id overall
    events.filter(col("event_id") >= 500).coalesce(1).write.mode("append").parquet(src)
    runOnce()
    val got = StreamPipelines.readUpsertTarget(spark, target).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("event_id")).toMap
    val want = events.groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("event_id").as("m")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want, "upsert state diverged from batch last-write-wins")
    // run 3: nothing new → no epoch, state unchanged (idempotent re-run)
    runOnce()
    val again = StreamPipelines.readUpsertTarget(spark, target).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("event_id")).toMap
    assert(again === want)
  }

  test("upsert sink: a later epoch carrying a LOWER orderCol does not clobber newer state") {
    val s = spark
    import s.implicits._
    val target = java.nio.file.Files.createTempDirectory("graft_ooo").toString + "/t"
    def state = StreamPipelines.readUpsertTarget(s, target).collect()
      .map(r => r.getAs[Long]("k") -> ((r.getAs[String]("v"), r.getAs[Long]("seq"))))
      .toMap
    StreamPipelines.upsertBatch(target, "k", "seq", 4)(
      Seq((1L, "new", 5L)).toDF("k", "v", "seq"), 0L)
    // late/out-of-order delivery: epoch 1 carries an OLDER version of key
    // 1 — orderCol-wins must keep seq 5, not arrival-order-overwrite it
    StreamPipelines.upsertBatch(target, "k", "seq", 4)(
      Seq((1L, "stale", 3L), (2L, "x", 1L)).toDF("k", "v", "seq"), 1L)
    assert(state === Map(1L -> (("new", 5L)), 2L -> (("x", 1L))),
      "late epoch clobbered newer target state")
  }

  test("upsert sink: an epoch merging into a target plans one Window and names each step's jobs") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.window.WindowExec
    val target = java.nio.file.Files.createTempDirectory("graft_upsert_win").toString + "/t"
    StreamPipelines.upsertBatch(target, "k", "seq", 4)(
      Seq((1L, "a", 1L), (2L, "b", 4L)).toDF("k", "v", "seq"), 0L)
    // epoch 1 carries two versions of key 1 and a stale one of key 2:
    // the one merge window must rank them all against the target
    val b1 = Seq((1L, "c", 3L), (1L, "d", 2L), (2L, "x", 3L), (3L, "e", 1L))
      .toDF("k", "v", "seq")
    var descs = Seq.empty[String]
    val plans = executedPlansOf {
      descs = jobsOf(StreamPipelines.upsertBatch(target, "k", "seq", 4)(b1, 1L))
    }
    assert(descs.toSet === Set("upsert buckets", "upsert merge", "upsert write"),
      "every epoch-1 job is named by its upsert step")
    val windows = plans.flatMap(p => Aqe.collect(p) { case w: WindowExec => w })
    assert(windows.size === 1,
      s"epoch 1 planned ${windows.size} windows:\n${plans.mkString("\n")}")
    val state = StreamPipelines.readUpsertTarget(s, target).collect()
      .map(r => r.getAs[Long]("k") -> ((r.getAs[String]("v"), r.getAs[Long]("seq"))))
      .toMap
    assert(state === Map(1L -> (("c", 3L)), 2L -> (("b", 4L)), 3L -> (("e", 1L))))
  }

  test("upsert compaction after schema evolution: the evolved column survives the rewrite") {
    val s = spark
    import s.implicits._
    val target = java.nio.file.Files.createTempDirectory("graft_evcomp").toString + "/t"
    // epoch 0 spreads old-schema rows over both buckets; epoch 1 adds a
    // NEW column but touches only key 1's bucket — so after it the data
    // dir mixes old-schema files (the untouched bucket) with new-schema
    // files, the exact layout where a single-footer schema inference in
    // compaction would silently drop `note` (ADVICE r3, medium).
    StreamPipelines.upsertBatch(target, "k", "seq", 2)(
      (1L to 8L).map(k => (k, s"v$k", 1L)).toDF("k", "v", "seq"), 0L)
    StreamPipelines.upsertBatch(target, "k", "seq", 2)(
      Seq((1L, "v1b", 2L, "extra")).toDF("k", "v", "seq", "note"), 1L)
    val n = StreamPipelines.compactUpsertTarget(s, target, maxFilesPerBucket = 0)
    assert(n >= 1, "setup: nothing compacted")
    val out = StreamPipelines.readUpsertTarget(s, target).collect()
      .map(r => r.getAs[Long]("k") -> Option(r.getAs[String]("note"))).toMap
    assert(out(1L) === Some("extra"), "compaction dropped the evolved column's data")
    assert((2L to 8L).forall(out(_) === None))
  }

  test("production path e2e: readEvents file-stream → upsert sink survives an injected crash + restart and matches the batch twin") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, struct}
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("graft_prod_e2e").toString
    val (src, target, cp) = (s"$base/src", s"$base/target", s"$base/cp")
    // Source files carry the RAW nanos-long ts (exactly what lands in the
    // ingest directory at production): 4 files → 4 micro-batches under
    // maxFilesPerTrigger=1.
    Tables.tune(spark)
    val raw = spark.read.parquet(s"$sf0001/events.parquet")
    for (q <- 0 to 3) {
      raw.filter(col("event_id") % 4 === q).coalesce(1)
        .write.mode("append").parquet(src)
    }
    // The sink's total order must match the batch twin's (ts DESC,
    // event_id DESC) — a struct orderCol gives exactly that lexicographic
    // comparison.
    def stream = StreamPipelines.readEvents(spark, src, maxFilesPerTrigger = Some(1))
      .withColumn("ord", struct(col("ts"), col("event_id")))
    // Run 1 "crashes" after epoch 1 is fully applied but before the
    // checkpoint commits it — the worst-case replay foreachBatch documents.
    val q1 = stream.writeStream
      .option("checkpointLocation", cp).outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamPipelines.upsertBatch(target, "user_id", "ord", 8)(df, id)
        if (id == 1L) throw new RuntimeException("injected crash")
      }
      .trigger(Trigger.AvailableNow()).start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    // Restart on the same checkpoint through the production entry point:
    // epoch 1 is REPLAYED (ledger must absorb it), epochs 2–3 proceed.
    val q2 = StreamPipelines.startUpsert(stream, target, "user_id", "ord", 8,
      cp, Some(Trigger.AvailableNow()))
    q2.awaitTermination()
    // Operational chore between runs: compaction must not change state.
    StreamPipelines.compactUpsertTarget(spark, target, maxFilesPerBucket = 2)
    val got = StreamPipelines.readUpsertTarget(spark, target).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("event_id"), r.getAs[Double]("value")))).toMap
    val want = graft.streaming.EventOps.queries("upsert_latest")(spark, sf0001)
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("event_id"), r.getAs[Double]("value")))).toMap
    assert(got === want, "post-restart upsert target diverged from the batch upsert_latest twin")
  }

  test("stateful Holt streaming twin matches the batch event_holt trajectory bit-for-bit (sf0.001)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // Timeline order, micro-batch boundaries mid-user — level AND
      // trend state must carry the fold across epochs.
      val all = Tables.events(s, sf0001).as[Event].collect()
        .sortBy(EventOrder.key)
      val in = MemoryStream[Event]
      val q = StreamPipelines.statefulHolt(in.toDS())
        .writeStream.format("memory").queryName("holt_stream_out")
        .outputMode("append").start()
      try {
        all.grouped(700).foreach { chunk =>
          in.addData(chunk.toSeq); q.processAllAvailable()
        }
        val got = s.table("holt_stream_out").collect()
          .map(r => r.getAs[Long]("event_id") ->
            ((r.getAs[Long]("level_bp"), r.getAs[Long]("trend_bp"),
              r.getAs[Long]("forecast_bp")))).toMap
        val want = streaming.EventOps.queries("event_holt")(s, sf0001)
          .collect()
          .map(r => r.getAs[Long]("event_id") ->
            ((r.getAs[Long]("level_bp"), r.getAs[Long]("trend_bp"),
              r.getAs[Long]("forecast_bp")))).toMap
        assert(got.size === want.size)
        assert(got === want, "streaming Holt diverged from the batch twin")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => s.conf.set(providerKey, v)
        case None => s.conf.unset(providerKey)
      }
    }
  }

  test("stateful EWMA streaming twin matches the batch event_ewma trajectory bit-for-bit (sf0.001)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // Feed the full sf0.001 timeline in order, split across several
      // micro-batches (boundaries land mid-user on purpose — state must
      // carry the fold across epochs).
      val all = Tables.events(s, sf0001).as[Event].collect()
        .sortBy(EventOrder.key)
      val in = MemoryStream[Event]
      val q = StreamPipelines.statefulEwma(in.toDS())
        .writeStream.format("memory").queryName("ewma_stream_out")
        .outputMode("append").start()
      try {
        all.grouped(700).foreach { chunk =>
          in.addData(chunk.toSeq); q.processAllAvailable()
        }
        val got = s.table("ewma_stream_out").collect()
          .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("ewma_bp")).toMap
        val want = streaming.EventOps.queries("event_ewma")(s, sf0001)
          .collect()
          .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("ewma_bp")).toMap
        assert(got.size === want.size)
        assert(got === want,
          "streaming EWMA diverged from the batch twin")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => s.conf.set(providerKey, v)
        case None => s.conf.unset(providerKey)
      }
    }
  }

  test("stateful: transformWithState per-user counter accumulates across micro-batches and matches the legacy API") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    // transformWithState requires the RocksDB state store provider.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def run(name: String, mk: org.apache.spark.sql.Dataset[Event] =>
          org.apache.spark.sql.Dataset[graft.streaming.UserUpdate]): Map[Long, Long] = {
        val in = MemoryStream[Event]
        val q = mk(in.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode("update").start()
        try {
          in.addData(ev(1, ts(10, 0), user = 7), ev(2, ts(10, 1), user = 7))
          q.processAllAvailable()
          in.addData(ev(3, ts(10, 2), user = 7), ev(4, ts(9, 0), user = 8))
          q.processAllAvailable()
          s.sql(s"SELECT user_id, max(total_events) FROM $name GROUP BY user_id")
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        } finally q.stop()
      }
      val tws = run("state_out_tws", StreamPipelines.statefulUserCounts)
      assert(tws(7L) === 3L)
      assert(tws(8L) === 1L)
      val legacy = run("state_out_legacy", StreamPipelines.statefulUserCountsLegacy)
      assert(legacy === tws, "legacy flatMapGroupsWithState diverged from transformWithState")
    } finally {
      prev match {
        case Some(v) => s.conf.set(providerKey, v)
        case None => s.conf.unset(providerKey)
      }
    }
  }

  test("text_quality_gate composes onto a stream unchanged: per-doc verdicts match the batch gate (sf0.001)") {
    // The fused gate is pure per-row expressions, so the SAME function
    // applies to a readStream frame with no code change — the property
    // that lets one curation definition serve both the backfill scan
    // and the live ingest path. Fed in micro-batches; per-doc verdicts
    // must equal the batch row's exactly.
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val docs = Tables.documents(s, sf0001)
      .selectExpr("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].collect()
    val in = MemoryStream[(Long, String, String, String, Long)]
    val stream = in.toDF()
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = graft.llm.TextOps.qualityGate(stream)
      .writeStream.format("memory").queryName("gate_stream_out")
      .outputMode("append").start()
    try {
      docs.grouped(200).foreach { c => in.addData(c.toSeq); q.processAllAvailable() }
      val got = s.table("gate_stream_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Int]("keep"), r.getAs[String]("reason")))).toMap
      val want = SparkEntry.queries("text_quality_gate")(s, sf0001).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Int]("keep"), r.getAs[String]("reason")))).toMap
      assert(got.size === want.size)
      assert(got === want, "streaming gate verdicts diverged from batch")
    } finally q.stop()
  }

  test("stateful attribution streaming twin matches batch event_attribution across a stop/restart (sf0.001)") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import java.nio.file.Files
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // Timeline order; the query is STOPPED mid-timeline and restarted
      // on the same checkpoint — first/last-touch state must survive the
      // restart for the post-restart purchases to attribute correctly
      // (VERDICT r9 #6's crash/restart requirement).
      val all = Tables.events(s, sf0001).as[Event].collect()
        .sortBy(EventOrder.key)
      val (half1, half2) = all.splitAt(all.length / 2)
      val cp = Files.createTempDirectory("graft_attr_cp").toString
      val out = Files.createTempDirectory("graft_attr_out").toString
      val in = MemoryStream[Event]
      // foreachBatch parquet append: the memory sink cannot recover from
      // a checkpoint, and an epoch replayed after the restart would
      // append duplicates — the event_id-keyed Map dedups them, which is
      // exactly the idempotence consumers of an append sink rely on.
      def start() =
        StreamPipelines.statefulAttribution(in.toDS())
          .writeStream
          .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.AttributionUpdate], _: Long) =>
            b.write.mode("append").parquet(out); () }
          .option("checkpointLocation", cp)
          .outputMode("append").start()
      val q1 = start()
      try half1.grouped(700).foreach { c => in.addData(c.toSeq); q1.processAllAvailable() }
      finally q1.stop()
      val q2 = start()
      try half2.grouped(700).foreach { c => in.addData(c.toSeq); q2.processAllAvailable() }
      finally q2.stop()
      val got = s.read.parquet(out).collect().map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[String]("last_touch"),
          r.getAs[Long]("last_touch_ts_nanos"),
          r.getAs[String]("first_touch")))).toMap
      def nanos(ts: Any): Long = ts match {
        case null => -1L
        case t: java.time.LocalDateTime =>
          t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L + t.getNano
      }
      val want = streaming.EventOps.queries("event_attribution")(s, sf0001)
        .collect().map(r => r.getAs[Long]("event_id") ->
          ((r.getAs[String]("last_touch"),
            nanos(r.getAs[Any]("last_touch_ts")),
            r.getAs[String]("first_touch")))).toMap
      assert(got.size === want.size,
        s"purchase count diverged: stream ${got.size} vs batch ${want.size}")
      assert(got === want, "streaming attribution diverged from the batch twin")
    } finally {
      prev match {
        case Some(v) => s.conf.set(providerKey, v)
        case None => s.conf.unset(providerKey)
      }
    }
  }

  test("streaming near-dedup e2e: file-stream sink matches the batch dedup_near_verdicts twin bit-for-bit, is batching-invariant, and survives an injected crash + restart") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.NearDedupStream
    val base = Files.createTempDirectory("graft_neardedup_e2e").toString
    val (src, t1, cp1) = (s"$base/src", s"$base/t1", s"$base/cp1")
    val (t2, cp2) = (s"$base/t2", s"$base/cp2")
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    // Monotone delivery (the sink's parity contract): quartile files by
    // doc_id RANGE, named so the file source's (mtime, path) order is
    // the id order.
    val mm = docs.selectExpr("min(doc_id)", "max(doc_id)").collect()(0)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val step = (hi - lo) / 4 + 1
    Files.createDirectories(Paths.get(src))
    for (q <- 0 to 3) {
      val tmp = s"$base/tmp$q"
      docs.filter(col("doc_id") >= lo + q * step &&
          col("doc_id") < lo + (q + 1) * step)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(src, f"chunk-$q%02d.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    def stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    // Run 1 "crashes" after epoch 1's data writes are applied but before
    // the checkpoint commits it — the worst-case replay the per-epoch
    // overwrite layout + ledger must absorb.
    val q1 = stream.writeStream
      .option("checkpointLocation", cp1).outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        NearDedupStream.neardedupBatch(t1, 0.95, 8)(df, id)
        if (id == 1L) throw new RuntimeException("injected crash")
      }
      .trigger(Trigger.AvailableNow()).start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    val q2 = NearDedupStream.startNearDedup(stream, t1, 0.95, 8, cp1,
      Some(Trigger.AvailableNow()))
    q2.awaitTermination()
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getLong(0) -> ((r.getBoolean(1), Option(r.get(2)), Option(r.get(3))))
    }.toMap
    val streamed = asMap(NearDedupStream.readVerdicts(spark, t1))
    val batch = asMap(
      graft.llm.Dedup.queries("dedup_near_verdicts")(spark, sf0001))
    assert(streamed === batch,
      "4-epoch streamed verdicts diverged from the batch twin")
    assert(streamed.values.exists(!_._1),
      "corpus surfaced no dups — the parity assertion is vacuous")
    // Batching invariance: the whole corpus in ONE epoch must produce
    // the identical verdict frame (the pair relation must not see batch
    // boundaries).
    def stream1 = spark.readStream.schema(docs.schema).parquet(src)
    val q3 = NearDedupStream.startNearDedup(stream1, t2, 0.95, 8, cp2,
      Some(Trigger.AvailableNow()))
    q3.awaitTermination()
    assert(asMap(NearDedupStream.readVerdicts(spark, t2)) === batch,
      "single-epoch verdicts diverged — the pair relation leaked batch boundaries")
  }

  test("streaming near-dedup: replay after a first-epoch crash between the bands and payload writes recovers (no bands-without-payload crash loop) and stays bit-parity") {
    // ADVICE r11 (medium): writes go verdicts -> bands -> payload ->
    // marker. A crash in the bands->payload window on the FIRST
    // data-bearing epoch used to leave havePast=true with no payload
    // dir — every replay threw on spark.read.parquet(payloadDir), a
    // permanent crash loop. Simulated here by running epoch 0 fully,
    // then deleting payload/ and the ledger marker (exactly the
    // partial state that window leaves), then replaying.
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    import graft.streaming.NearDedupStream
    val base = Files.createTempDirectory("graft_neardedup_crashwin").toString
    val t = s"$base/t"
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val mid = docs.selectExpr("percentile(doc_id, 0.5)").collect()(0)
      .getDouble(0).toLong
    val half1 = docs.filter(col("doc_id") <= mid)
    val half2 = docs.filter(col("doc_id") > mid)
    NearDedupStream.neardedupBatch(t, 0.95, 8)(half1, 0L)
    // Erase what the crash window never wrote: payload + marker (the
    // verdicts and bands of epoch 0 remain, as after the real crash).
    def rmTree(p: String): Unit = {
      val f = new java.io.File(p)
      if (f.isDirectory) f.listFiles.foreach(c => rmTree(c.getPath))
      f.delete(); ()
    }
    rmTree(s"$t/payload")
    rmTree(s"$t/_epochs/0")
    // The NASTIER variant of the same window (r12 review pass): the
    // payload write crashed after the committer's setupJob mkdir'd
    // the output tree but before any file committed — the payload
    // ROOT exists holding only a `_temporary` dir. A guard that
    // tests directory existence instead of committed content reads
    // this as havePast=true and dies in schema inference on replay.
    Files.createDirectories(
      java.nio.file.Paths.get(s"$t/payload/epoch=0/_temporary"))
    // Replay epoch 0 (same batchId, as the uncommitted checkpoint
    // would), then deliver epoch 1 normally.
    NearDedupStream.neardedupBatch(t, 0.95, 8)(half1, 0L)
    NearDedupStream.neardedupBatch(t, 0.95, 8)(half2, 1L)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getLong(0) -> ((r.getBoolean(1), Option(r.get(2)), Option(r.get(3))))
    }.toMap
    val streamed = asMap(NearDedupStream.readVerdicts(spark, t))
    val batch = asMap(
      graft.llm.Dedup.queries("dedup_near_verdicts")(spark, sf0001))
    assert(streamed === batch,
      "post-crash-window replay verdicts diverged from the batch twin")
  }

  test("streaming near-dedup: store compaction folds committed epochs, cuts files, keeps verdicts bit-parity through further epochs, and is idempotent") {
    // VERDICT r11 #4: the O(epochs × buckets) small-file accumulation
    // chore. Two stores run the SAME four quarter-epochs; one compacts
    // after epoch 2 (and again, for idempotence) before the final two
    // epochs arrive — the cross-epoch candidate reads after compaction
    // go against the consolidated store, so verdict parity here proves
    // the fold kept both the data and the bucket-pruning property.
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    import graft.streaming.NearDedupStream
    val base = Files.createTempDirectory("graft_neardedup_compact").toString
    val (tc, tu) = (s"$base/compacted", s"$base/plain")
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val mm = docs.selectExpr("min(doc_id)", "max(doc_id)").collect()(0)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val step = (hi - lo) / 4 + 1
    def quarter(q: Int) = docs.filter(col("doc_id") >= lo + q * step &&
      col("doc_id") < lo + (q + 1) * step)
    def countFiles(p: String): Int = {
      val f = new java.io.File(p)
      if (!f.exists) 0
      else if (f.isFile) (if (f.getName.endsWith(".parquet")) 1 else 0)
      else f.listFiles.map(c => countFiles(c.getPath)).sum
    }
    for (q <- 0 to 1; t <- Seq(tc, tu))
      NearDedupStream.neardedupBatch(t, 0.95, 8)(quarter(q), q.toLong)
    val filesBefore = countFiles(tc)
    val folded = NearDedupStream.compactStore(spark, tc)
    assert(folded >= 6, s"expected >= 2 epochs x 3 sides folded, got $folded")
    val filesAfter = countFiles(tc)
    assert(filesAfter < filesBefore,
      s"compaction did not cut files: $filesBefore -> $filesAfter")
    // Idempotence: a second compaction finds one consolidated epoch per
    // side and must no-op (nothing to fold).
    assert(NearDedupStream.compactStore(spark, tc) === 0,
      "re-compaction was not a no-op")
    for (q <- 2 to 3; t <- Seq(tc, tu))
      NearDedupStream.neardedupBatch(t, 0.95, 8)(quarter(q), q.toLong)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getLong(0) -> ((r.getBoolean(1), Option(r.get(2)), Option(r.get(3))))
    }.toMap
    val compacted = asMap(NearDedupStream.readVerdicts(spark, tc))
    assert(compacted === asMap(NearDedupStream.readVerdicts(spark, tu)),
      "verdicts diverged between the compacted and uncompacted stores")
    assert(compacted === asMap(
      graft.llm.Dedup.queries("dedup_near_verdicts")(spark, sf0001)),
      "compacted-store verdicts diverged from the batch twin")
    assert(compacted.values.exists(!_._1),
      "corpus surfaced no dups — the parity assertions are vacuous")
  }

  test("streaming near-dedup: auto-compaction policy fires mid-stream at the conf threshold and keeps verdicts bit-parity (VERDICT r12 #3)") {
    // The r12 compactStore was correct but a manual chore — nothing
    // triggered it, so a continuously-ingesting sink still accumulated
    // O(epochs) dirs. With the threshold at 2, four data epochs must
    // fold the store down MID-STREAM (no manual call anywhere), and
    // the post-compaction cross-epoch reads must keep the verdicts at
    // bit-parity with the batch twin.
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    import graft.streaming.NearDedupStream
    val base = Files.createTempDirectory("graft_neardedup_autocompact").toString
    val t = s"$base/t"
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val mm = docs.selectExpr("min(doc_id)", "max(doc_id)").collect()(0)
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val step = (hi - lo) / 4 + 1
    def quarter(q: Int) = docs.filter(col("doc_id") >= lo + q * step &&
      col("doc_id") < lo + (q + 1) * step)
    def epochDirs(side: String): Seq[String] = {
      val f = new java.io.File(s"$t/$side")
      if (!f.isDirectory) Nil
      else f.listFiles.toSeq.map(_.getName).filter(_.startsWith("epoch="))
    }
    spark.conf.set(NearDedupStream.CompactAfterEpochsKey, "2")
    try {
      for (q <- 0 to 3)
        NearDedupStream.neardedupBatch(t, 0.95, 8)(quarter(q), q.toLong)
      // 4 epochs at threshold 2: the policy fired at least once (after
      // epoch 2 the bands side held 3 > 2 dirs), so the store must now
      // hold a NEGATIVE consolidated epoch and at most threshold + 1
      // dirs per side — not the 4 an unpoliced run accumulates.
      val bands = epochDirs("bands")
      assert(bands.exists(_.startsWith("epoch=-")),
        s"no consolidated (negative) epoch — policy never fired: $bands")
      assert(bands.size <= 3,
        s"bands side holds ${bands.size} epoch dirs at threshold 2: $bands")
      // Ledger markers are all retained (absorbed-epoch replays no-op).
      assert((0 to 3).forall(q =>
        new java.io.File(s"$t/_epochs/$q").exists), "ledger marker lost")
      def asMap(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
        r.getLong(0) -> ((r.getBoolean(1), Option(r.get(2)), Option(r.get(3))))
      }.toMap
      val streamed = asMap(NearDedupStream.readVerdicts(spark, t))
      assert(streamed === asMap(
        graft.llm.Dedup.queries("dedup_near_verdicts")(spark, sf0001)),
        "auto-compacted store verdicts diverged from the batch twin")
      assert(streamed.values.exists(!_._1),
        "corpus surfaced no dups — the parity assertion is vacuous")
    } finally spark.conf.unset(NearDedupStream.CompactAfterEpochsKey)
  }

  /** Runs `body` and returns the description of every Spark job it
    * started ("" for a job without one) — found through a thread-local
    * property, which Spark copies into the broadcast and subquery
    * threads a query spawns, so every job of `body` is counted and no
    * job of anything else. */
  private def jobsOf(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val key = "graft.test.jobBudget"
    val tag = java.util.UUID.randomUUID().toString
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag)
          descs.add(Option(e.properties.getProperty("spark.job.description"))
            .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    sc.setLocalProperty(key, tag)
    try body
    finally {
      sc.setLocalProperty(key, null)
      org.apache.spark.graftbridge.ListenerDrain.drain(sc)
      sc.removeSparkListener(l)
    }
    import scala.jdk.CollectionConverters._
    descs.asScala.toSeq
  }

  private object Aqe extends org.apache.spark.sql.execution.adaptive
    .AdaptiveSparkPlanHelper

  /** Runs `body` and returns the executed plan of every action it ran. */
  private def executedPlansOf(body: => Unit)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val lm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager
    lm.register(l)
    try body
    finally {
      org.apache.spark.graftbridge.ListenerDrain.drain(spark.sparkContext)
      lm.unregister(l)
    }
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  /** Runs `body` and returns the cached plans of every in-memory
    * relation with exactly the columns `cols` that the actions of
    * `body` scanned, directly or under another cached relation. */
  private def cachedPlansOf(cols: Seq[String])(body: => Unit)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    def relations(p: SparkPlan): Seq[InMemoryRelation] =
      Aqe.collect(p) { case s: InMemoryTableScanExec => s.relation }
        .flatMap(r => r +: relations(r.cachedPlan))
    executedPlansOf(body).flatMap(relations)
      .filter(_.output.map(_.name) == cols).map(_.cachedPlan)
  }

  test("Q.distinctInts: the same set as distinct().collect(), in one job with no Exchange, on a multi-partition and an empty frame") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import org.apache.spark.sql.execution.exchange.Exchange
    val many = spark.range(0, 10000, 1, 6)
      .select(pmod(col("id") * 7919, lit(13)).cast("int").as("_bucket"))
    for ((name, df) <- Seq("multi-partition" -> many,
        "empty" -> many.filter(col("_bucket") < 0))) {
      val want = df.distinct().collect().map(_.getInt(0)).toSet
      var got = Set.empty[Int]
      var jobs = 0
      val plans = executedPlansOf {
        jobs = jobsOf { got = Q.distinctInts(df) }.size
      }
      assert(got === want, s"$name frame")
      assert(jobs === 1, s"$name frame ran $jobs jobs")
      assert(plans.nonEmpty, s"$name frame: no action recorded")
      for (p <- plans)
        assert(Aqe.collect(p) { case e: Exchange => e }.isEmpty,
          s"$name frame plans an exchange:\n$p")
    }
    assert(many.rdd.getNumPartitions === 6)
  }

  test("streaming near-dedup: per-epoch job budget — one materializing action per epoch, no schema-inference jobs on the store") {
    // Budget: 9 jobs for epoch 0 (no store yet) and 12 for epoch 1
    // (cross-epoch store reads and verify). A re-added eager count, a
    // second touched-bucket action, a bucket set collected through an
    // aggregate, an inferred-schema store read, a third verify
    // broadcast or a sorted verdict write pushes an epoch over budget.
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    import graft.streaming.NearDedupStream
    val t = s"${Files.createTempDirectory("graft_neardedup_budget")}/t"
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val mid = docs.selectExpr("percentile(doc_id, 0.5)").collect()(0)
      .getDouble(0).toLong
    var e0, e1 = Seq.empty[String]
    val perDoc = cachedPlansOf(Seq("doc_id", "sig", "toks")) {
      e0 = jobsOf(NearDedupStream.neardedupBatch(t, 0.95, 8)(
        docs.filter(col("doc_id") <= mid), 0L))
      e1 = jobsOf(NearDedupStream.neardedupBatch(t, 0.95, 8)(
        docs.filter(col("doc_id") > mid), 1L))
    }
    // The per-doc frame (doc_id, sig, toks) keeps the batch's scan
    // splits: its one cached build shuffles nothing.
    assert(perDoc.nonEmpty, "no action scanned the per-doc cache")
    for (p <- perDoc)
      assert(Aqe.collect(p) {
        case e: org.apache.spark.sql.execution.exchange.Exchange => e
      }.isEmpty, s"the per-doc cache plans an exchange:\n$p")
    assert(e0.size <= 9, s"epoch 0 (no store yet) ran ${e0.size} jobs, budget 9")
    assert(e1.size <= 12,
      s"epoch 1 (cross-epoch verify) ran ${e1.size} jobs, budget 12")
    // Every job is named by the sink step that ran it.
    val steps = Seq("touched buckets", "verify + verdicts", "bands write",
      "payload write").map("near-dedup " + _)
    assert(e0.toSet === steps.toSet, "epoch 0 job descriptions")
    assert(e1.toSet === (steps :+ "near-dedup cross candidates").toSet,
      "epoch 1 job descriptions")
  }

  test("streaming near-dedup: full-row duplicates inside an epoch yield one verdict per doc, equal to the batch twin") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    import graft.streaming.NearDedupStream
    val t = s"${Files.createTempDirectory("graft_neardedup_duprows")}/t"
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val mid = docs.selectExpr("percentile(doc_id, 0.5)").collect()(0)
      .getDouble(0).toLong
    val h1 = docs.filter(col("doc_id") <= mid)
    val h2 = docs.filter(col("doc_id") > mid)
    NearDedupStream.neardedupBatch(t, 0.95, 8)(h1.union(h1.limit(3)), 0L)
    NearDedupStream.neardedupBatch(t, 0.95, 8)(h2.union(h2.limit(2)), 1L)
    val streamed = NearDedupStream.readVerdicts(spark, t).collect()
    val batch = graft.llm.Dedup.queries("dedup_near_verdicts")(spark, sf0001)
      .collect()
    assert(streamed.length === streamed.map(_.getLong(0)).distinct.length,
      "a duplicated doc_id surfaced more than one verdict row")
    assert(streamed.toSeq === batch.toSeq,
      "verdicts over duplicated rows diverged from the batch twin")
    assert(batch.exists(!_.getBoolean(1)),
      "corpus surfaced no dups — the parity assertion is vacuous")
  }

  test("streaming near-dedup: an empty epoch writes only its ledger marker and releases its caches; the next data epoch stays bit-parity") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    import graft.streaming.NearDedupStream
    val t = s"${Files.createTempDirectory("graft_neardedup_empty")}/t"
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val lo = docs.selectExpr("min(doc_id)").collect()(0).getLong(0)
    spark.catalog.clearCache()
    NearDedupStream.neardedupBatch(t, 0.95, 8)(
      docs.filter(col("doc_id") < lo), 0L)
    assert(new java.io.File(s"$t/_epochs/0").isFile,
      "empty epoch left no ledger marker")
    for (side <- Seq("bands", "payload", "verdicts"))
      assert(!new java.io.File(s"$t/$side/epoch=0").exists,
        s"empty epoch wrote a $side epoch directory")
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty,
      "empty epoch left a cached frame behind")
    NearDedupStream.neardedupBatch(t, 0.95, 8)(docs, 1L)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getLong(0) -> ((r.getBoolean(1), Option(r.get(2)), Option(r.get(3))))
    }.toMap
    val streamed = asMap(NearDedupStream.readVerdicts(spark, t))
    assert(streamed === asMap(
      graft.llm.Dedup.queries("dedup_near_verdicts")(spark, sf0001)),
      "verdicts after an empty epoch diverged from the batch twin")
    assert(streamed.values.exists(!_._1),
      "corpus surfaced no dups — the parity assertion is vacuous")
  }

  test("streaming near-dedup: the explicit store schemas equal the schemas Spark infers from the per-epoch and the compacted store") {
    // The sink reads bands and payload with BandsSchema / PayloadSchema
    // instead of inferring them; a writer change those constants miss
    // would read as null columns, not fail. Pin them to what a reader
    // infers from both store shapes: per-epoch dirs and the negative
    // consolidated epoch compactStore writes.
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StructType
    import graft.streaming.NearDedupStream
    val t = s"${Files.createTempDirectory("graft_neardedup_schema")}/t"
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val mid = docs.selectExpr("percentile(doc_id, 0.5)").collect()(0)
      .getDouble(0).toLong
    NearDedupStream.neardedupBatch(t, 0.95, 8)(docs.filter(col("doc_id") <= mid), 0L)
    NearDedupStream.neardedupBatch(t, 0.95, 8)(docs.filter(col("doc_id") > mid), 1L)
    def check(shape: String): Unit =
      for ((side, schema) <- Seq("bands" -> NearDedupStream.BandsSchema,
          "payload" -> NearDedupStream.PayloadSchema)) {
        val dir = s"$t/$side"
        val inferred = spark.read.parquet(dir).schema
        val partCols = Set("epoch", "_bucket", "_pbucket")
        assert(StructType(inferred.filterNot(f => partCols(f.name))) === schema,
          s"$shape $side store: inferred data columns ${inferred.simpleString}")
        assert(spark.read.schema(schema).parquet(dir).schema === inferred,
          s"$shape $side store: explicit-schema read differs from inference")
      }
    check("per-epoch")
    assert(NearDedupStream.compactStore(spark, t) >= 6, "nothing compacted")
    for (side <- Seq("bands", "payload"))
      assert(new java.io.File(s"$t/$side").list().toSeq
        .exists(_.startsWith("epoch=-")), s"$side store was not compacted")
    check("compacted")
  }
}
