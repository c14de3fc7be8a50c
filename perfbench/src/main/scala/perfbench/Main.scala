package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.{Q, SparkEntry, Tables}
import graft.operators.Relational
import graft.sources.CatalogStats
import graft.streaming.{NearDedupStream, StreamPipelines}

/** Benchmark program: runs one workload against the engine's public
  * functions and prints one JSON result as its last line.
  *
  *   perfbench.Main --workload <relational_etl|stream_ingest>
  *     --seed <n> --seconds <s> --trace <0|1> --root <checkout dir>
  *     [--record-expected]
  *
  * A run starts the session and sets up the workload [[SetupReps]] times
  * (setup_s is the median), then measures passes until `--seconds` have
  * passed. With `--trace 0` it reports set-up time and the work counts of
  * the passes, which do not depend on how warm the JVM is. With
  * `--trace 1` it first runs [[WarmupPasses]] discarded passes, then the
  * measured passes alternate between untraced and traced: spans are
  * recorded only in traced passes, so the per-layer numbers come from
  * traced passes, the pass and epoch times from untraced ones, and the
  * tracing overhead is the difference of the two medians. */
object Main {

  val RelationalOps: Seq[String] = Seq(
    "scan_pruned_date", "filter_pred", "agg_group", "join_inner", "join_bucketed",
    "window_rank", "topk_per_group", "upsert_latest", "cdc_snapshot_diff", "fn_json",
    "pivot_wide", "subquery_corr")

  val Workloads: Seq[String] = Seq("relational_etl", "stream_ingest")

  /** The committed sf0.01 tables, read in place. Most are directories of
    * up to four parquet files, which registration points an external table
    * at; customer, nation and region are single files as in the engine's
    * own test data, which registration copies into a repartitioned
    * warehouse table. */
  val DataDir = "perfbench/data/sf0.01"

  val SetupReps = 3
  val WarmupPasses = 1
  /** Arrival files per stream: each is one micro-batch of each sink. */
  val ArrivalFiles = 2
  val NearDupThreshold = 0.95
  val SinkBuckets = 8

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      root: String, record: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("root", "."),
      argv.contains("--record-expected"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    a
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try new Run(parse(argv)).run()
      catch { case e: Throwable =>
        e.printStackTrace()
        2
      }
    sys.exit(code)
  }
}

/** Per-pass measurements. Layer counters come from [[Probe]]. */
final case class PassResult(index: Int, warmup: Boolean, traced: Boolean, wallS: Double,
    opS: Seq[(String, Double)], total: Counters, layers: Map[String, Counters],
    cache: CacheStats, planPhasesS: Map[String, Double], exchanges: Int,
    gcS: Double, processCpuS: Double, heapLiveMb: Double, selfS: Map[String, Double],
    stream: Map[String, Double])

final class Run(a: Main.Args) {
  import Main._

  private val root = new File(a.root).getAbsoluteFile
  private val results = new File(root, "perfbench/work/results")
  private val work = new File(root, s"perfbench/work/${a.workload}")
  private val dataDir = new File(root, DataDir).getPath
  // two task slots leave the other cores to the driver thread, the JIT and
  // the listener threads, so a pass does not wait on the scheduler
  private val cores = math.max(1, math.min(2, Runtime.getRuntime.availableProcessors))
  private val probe = new Probe
  private var spark: SparkSession = _
  private val tracer = new Tracer(a.trace, Option(spark).map(_.sparkContext))
  private val expected = loadExpected()
  private var attempted = 0L
  private var failed = 0L

  // streaming progress, in arrival order, and query names by id
  private val queryNames = mutable.Map.empty[java.util.UUID, String]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def log(s: String): Unit = println(s"perfbench $s")
  private def phase(name: String): Unit =
    log(f"phase $name%s done at ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, secs(t0))
  }
  private def drain(): Unit =
    org.apache.spark.graftbridge.ListenerDrain.drain(spark.sparkContext)

  private def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"perfbench FAILED: $what")
  }

  // ---- session and setup ------------------------------------------------

  private def startSession(): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(probe)
    s.streams.addListener(streamListener)
    s
  }

  private val setupParts = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private def part[T](name: String)(body: => T): T = {
    val (r, t) = timed(tracer.span(name, "setup")(body))
    setupParts.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += t
    r
  }

  private def eventsSrc = new File(work, "arrivals/events").getPath
  private def docsSrc = new File(work, "arrivals/documents").getPath

  /** Session start plus the workload's set-up; returns its wall time. */
  private def setupOnce(): Double = {
    if (spark != null) spark.stop()
    val t0 = System.nanoTime()
    tracer.span("setup") {
      spark = part("session")(startSession())
      if (a.workload == "stream_ingest") part("split")(splitArrivals())
      else {
        part("analyze")(CatalogStats.registerAndAnalyze(spark, dataDir))
        part("warehouse") {
          Relational.ensureBucketedTables(spark, dataDir)
          Relational.ensureDatePartitionedEvents(spark, dataDir)
        }
      }
    }
    secs(t0)
  }

  /** Splits events and documents into [[ArrivalFiles]] files each. Events
    * go to a file chosen by a hash of the seed and the event id. Documents
    * keep doc_id order across files (the near-dedup sink's delivery
    * contract); the seed moves each cut by up to a fiftieth of a file, so
    * epochs stay the same size from seed to seed. */
  private def splitArrivals(): Unit = {
    deleteTree(new File(work, "arrivals"))
    val events = spark.read.parquet(s"$dataDir/events.parquet")
      .withColumn("_f", pmod(xxhash64(lit(a.seed), col("event_id")), lit(ArrivalFiles)))
    val docs = spark.read.parquet(s"$dataDir/documents.parquet").select("doc_id", "text")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val rnd = new scala.util.Random(a.seed)
    val per = ids.length / ArrivalFiles
    val cuts = (1 until ArrivalFiles).map { k =>
      ids(k * per + rnd.nextInt(per / 25 + 1) - per / 50) }
    val docsF = docs.withColumn("_f",
      cuts.map(c => (col("doc_id") >= c).cast("int")).reduce(_ + _))
    writeArrivals(events, eventsSrc)
    writeArrivals(docsF, docsSrc)
  }

  /** One parquet file per `_f` value, named and timestamped in `_f` order
    * so the file source delivers them in that order. */
  private def writeArrivals(df: DataFrame, dest: String): Unit = {
    val tmp = dest + "-tmp"
    df.repartition(col("_f")).write.partitionBy("_f").mode("overwrite").parquet(tmp)
    Files.createDirectories(Paths.get(dest))
    val t0 = System.currentTimeMillis() - 3600 * 1000L
    (0 until ArrivalFiles).foreach { f =>
      val parts = new File(tmp, s"_f=$f").listFiles.filter(_.getName.endsWith(".parquet"))
      require(parts.length == 1, s"arrival file $f of $dest has ${parts.length} parts")
      val out = Paths.get(dest, f"arrival-$f%02d.parquet")
      Files.move(parts.head.toPath, out, StandardCopyOption.REPLACE_EXISTING)
      out.toFile.setLastModified(t0 + f * 1000L)
    }
    deleteTree(new File(tmp))
  }

  // ---- passes -------------------------------------------------------------

  private val checksumCols = (df: DataFrame) =>
    Seq(count(lit(1)).as("n"),
      sum(xxhash64(struct(df.columns.sorted.map(c => col(s"`$c`")).toSeq: _*))
        .cast("decimal(38,0)")).as("chk"))

  /** Exact order-independent fingerprint: row count and the sum of every
    * row's 64-bit hash. */
  private def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cs = checksumCols(df)
    val r = df.agg(cs.head, cs.tail: _*).collect().head
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  private val recorded = mutable.LinkedHashMap.empty[String, String]

  private def checkOp(name: String, n: Long, chk: java.math.BigDecimal): Unit = {
    val got = s"$n\t${chk.toPlainString}"
    if (a.record) recorded(name) = got
    else if (!expected.get(name).contains(got))
      fail(s"$name: got rows/checksum $got, expected ${expected.getOrElse(name, "none")}")
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private def batchPass(index: Int, warmup: Boolean, traced: Boolean): PassResult = {
    val ops = new scala.util.Random(a.seed * 1000003L + index).shuffle(RelationalOps)
    val opTimes = mutable.ArrayBuffer.empty[(String, Double)]
    val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var exchanges = 0
    measured(index, warmup, traced) {
      ops.foreach { name =>
        attempted += 1
        val t0 = System.nanoTime()
        tracer.span("op", op = name) {
          try {
            val df = tracer.span("build", "build")(SparkEntry.queries(name)(spark, dataDir))
            val cs = checksumCols(df)
            val agg = df.agg(cs.head, cs.tail: _*)
            tracer.span("plan", "plan")(agg.queryExecution.executedPlan)
            val row = tracer.span("exec", "exec")(agg.collect().head)
            checkOp(name, row.getLong(0), row.getDecimal(1))
            if (traced) {
              agg.queryExecution.tracker.phases.foreach { case (p, s) =>
                phases(p) += s.durationMs / 1e3 }
              exchanges += Plans.collectWithSubqueries(agg.queryExecution.executedPlan) {
                case e: Exchange => e }.size
            }
          } catch { case e: Exception => fail(s"$name threw $e") }
          // the runner owns the lifecycle of operator-persisted frames
          tracer.span("cleanup", "cleanup") {
            spark.catalog.clearCache()
            Q.drainCheckpoints(spark)
          }
        }
        opTimes += name -> secs(t0)
      }
      (opTimes.toSeq, phases.toMap, exchanges, Map.empty[String, Double])
    }
  }

  private def passDir(index: Int) = new File(work, s"stream/pass-$index")

  private def streamPass(index: Int, warmup: Boolean, traced: Boolean): PassResult = {
    val dir = passDir(index)
    deleteTree(dir)
    deleteTree(passDir(index - 1))
    val upsert = new File(dir, "upsert").getPath
    val neardup = new File(dir, "neardedup").getPath
    measured(index, warmup, traced) {
      val from = progress.synchronized(progress.size)
      val streams = Seq[(String, () => StreamingQuery)](
        "upsert" -> (() => StreamPipelines.startUpsert(
          StreamPipelines.readEvents(spark, eventsSrc, Some(1)), upsert, "user_id",
          "event_id", SinkBuckets, new File(dir, "upsert-ckpt").getPath,
          Some(Trigger.AvailableNow()))),
        "neardedup" -> (() => NearDedupStream.startNearDedup(
          spark.readStream.schema(spark.read.parquet(docsSrc).schema)
            .option("maxFilesPerTrigger", 1).parquet(docsSrc),
          neardup, NearDupThreshold, SinkBuckets, new File(dir, "neardedup-ckpt").getPath,
          Some(Trigger.AvailableNow()))))
      tracer.span("streams", "stream") {
        streams.foreach { case (n, q) => start(n, q()).foreach { case (_, q) => await(n, q) } }
      }
      drain()
      val epochs = progress.synchronized(progress.drop(from).toList)
        .map(_.progress).filter(_.numInputRows > 0)
      attempted += epochs.size
      val dur = (k: String) => epochs.map(p =>
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
      val sinks = Seq(new File(upsert), new File(neardup))
      val files = sinks.flatMap(listFiles)
      val sinkBytes = files.map(_.length).sum.toDouble
      val arrivalBytes = Seq(eventsSrc, docsSrc).flatMap(d => listFiles(new File(d)))
        .map(_.length).sum.toDouble
      val epochDirs = dirsUnder(new File(neardup)).count(_.getName.startsWith("epoch="))
      val ops = epochs.map(p => s"epoch-${queryNames(p.id)}-${p.batchId}" -> p.batchDuration / 1e3)
      val sinkS = (n: String) => ops.collect { case (k, t) if k.startsWith(s"epoch-$n-") => t }.sum
      (ops, Map.empty[String, Double], 0, Map(
        "upsert_s" -> sinkS("upsert"), "neardedup_s" -> sinkS("neardedup"),
        "add_batch_s" -> dur("addBatch"), "query_planning_s" -> dur("queryPlanning"),
        "wal_commit_s" -> dur("walCommit"), "sink_write_mb" -> sinkBytes / 1e6,
        "sink_files" -> files.size.toDouble, "epoch_dirs" -> epochDirs.toDouble,
        "store_ratio" -> sinkBytes / arrivalBytes))
    }
  }

  private def start(name: String, q: => StreamingQuery): Option[(String, StreamingQuery)] =
    try {
      val started = q
      queryNames(started.id) = name
      Some(name -> started)
    } catch { case e: Exception =>
      attempted += 1
      fail(s"stream $name did not start: $e")
      None
    }

  private def await(name: String, q: StreamingQuery): Unit =
    try q.awaitTermination()
    catch { case e: Exception =>
      attempted += 1
      fail(s"stream $name threw $e")
    }

  /** Once per run, outside timing: the last pass's upsert target must equal
    * batch last-write-wins per user, and its near-dedup verdicts must equal
    * the `dedup_near_verdicts` batch twin. */
  private def checkStream(index: Int): Unit = {
    val dir = passDir(index)
    val checks = Seq[(String, () => DataFrame, () => DataFrame)](
      ("upsert state vs batch last-write-wins",
        () => StreamPipelines.readUpsertTarget(spark, new File(dir, "upsert").getPath),
        () => Tables.events(spark, dataDir)
          .withColumn("_rn", row_number().over(
            Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)))
          .filter(col("_rn") === 1).drop("_rn")),
      ("near-dedup verdicts vs dedup_near_verdicts",
        () => NearDedupStream.readVerdicts(spark, new File(dir, "neardedup").getPath),
        () => SparkEntry.queries("dedup_near_verdicts")(spark, dataDir)))
    checks.foreach { case (what, streamed, batch) =>
      attempted += 1
      try {
        val (s, b) = (fingerprint(streamed()), fingerprint(batch()))
        if (s != b || s._1 == 0) fail(s"$what: streamed $s, batch $b")
      } catch { case e: Exception => fail(s"$what threw $e") }
    }
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ > 0).sum
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Runs one pass body between counter resets, then collects garbage
    * outside the timed window and records the live heap. The tracer
    * records spans only while a traced pass runs. */
  private def measured(index: Int, warmup: Boolean, traced: Boolean)(
      body: => (Seq[(String, Double)], Map[String, Double], Int, Map[String, Double]))
      : PassResult = {
    drain()
    probe.reset()
    val spanFrom = tracer.spans.size
    val (gc0, cpu0) = (gcMs, osBean.getProcessCpuTime)
    tracer.enabled = traced
    val t0 = System.nanoTime()
    val (ops, phases, exchanges, stream) =
      try tracer.span("pass", op = s"pass-$index")(body)
      finally tracer.enabled = a.trace
    val wall = secs(t0)
    val (gc1, cpu1) = (gcMs, osBean.getProcessCpuTime)
    drain()
    val (total, layers, cache) = probe.snapshot()
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    val self = tracer.selfSeconds
    val selfByName = tracer.spans.drop(spanFrom).groupBy(_.name)
      .map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
    val r = PassResult(index, warmup, traced, wall, ops, total, layers, cache, phases,
      exchanges, (gc1 - gc0) / 1e3, (cpu1 - cpu0) / 1e9, heapMb, selfByName, stream)
    log(f"pass $index%d ${if (warmup) "warmup" else if (traced) "traced" else "measured"}%s " +
      f"wall_s=$wall%.4f ops=${ops.size}%d stages=${total.stages}%d")
    r
  }

  // ---- run ------------------------------------------------------------------

  /** A frame persisted, unpersisted and persisted again must read 2 builds
    * and 1 rebuild; a frame persisted once and read twice must read 1. */
  private def cacheSelfTest(): Unit = {
    def window(body: => Unit): CacheStats = {
      drain(); probe.reset(); body; drain(); probe.snapshot()._3
    }
    val df = spark.range(0, 100000, 1, cores).selectExpr("id", "id % 97 AS k")
    val once = window { df.persist(); df.count(); df.count(); df.unpersist(true) }
    val twice = window {
      df.persist(); df.count(); df.unpersist(true)
      df.persist(); df.count(); df.count(); df.unpersist(true)
    }
    attempted += 2
    if (once.builds != 1 || once.rebuilds != 0)
      fail(s"cache self-test: frame built once reads $once")
    if (twice.builds != 2 || twice.rebuilds != 1)
      fail(s"cache self-test: frame built twice reads $twice")
  }

  def run(): Int = {
    deleteTree(work)
    Files.createDirectories(results.toPath)
    val pass = (i: Int, warm: Boolean, traced: Boolean) =>
      if (a.workload == "stream_ingest") streamPass(i, warm, traced)
      else batchPass(i, warm, traced)
    val passes = mutable.ArrayBuffer.empty[PassResult]
    // The first set-up runs in a cold JVM and pays for class loading. A
    // batch set-up registers new tables, and the first pass over them
    // generates and compiles its code again, so the warm-up passes run on
    // the session of the last set-up.
    val setupTimes = (1 to SetupReps).map(_ => setupOnce())
    phase("setup")
    val warmup = if (a.trace) WarmupPasses else 0
    if (a.trace) {
      (1 to warmup).foreach(i => passes += pass(i, true, false))
      phase("warm-up")
      cacheSelfTest()
      phase("cache self-test")
    }
    val t0 = System.nanoTime()
    var i = warmup
    // with tracing, passes come in pairs of one untraced and one traced;
    // the seed picks which comes first and the order swaps from pair to
    // pair, so neither kind always gets the less warmed-up slot
    var tracedFirst = a.seed % 2 != 0
    while (secs(t0) < a.seconds || (a.trace && passes.count(_.traced) == 0)) {
      val order = if (!a.trace) Seq(false) else Seq(tracedFirst, !tracedFirst)
      tracedFirst = !tracedFirst
      order.foreach { traced => i += 1; passes += pass(i, false, traced) }
    }
    phase("measure")
    if (a.workload == "stream_ingest") checkStream(i)
    if (a.record) writeExpected()
    // batch workloads store what set-up writes to the warehouse
    val storeRatio = listFiles(new File(work, "warehouse")).map(_.length).sum.toDouble /
      listFiles(new File(dataDir)).map(_.length).sum
    val result = new Report(a, cores, setupTimes, setupParts.map { case (k, v) =>
      k -> v.toSeq }.toMap, passes.toSeq, attempted, failed, tracer, storeRatio)
    result.write(results)
    spark.stop()
    phase("run")
    0
  }

  // ---- files ------------------------------------------------------------------

  private def expectedFile = new File(root, "perfbench/expected.tsv")

  private def loadExpected(): Map[String, String] =
    if (!expectedFile.exists) Map.empty
    else Files.readAllLines(expectedFile.toPath).asScala.filter(_.nonEmpty).map { l =>
      val Array(k, n, c) = l.split("\t"); k -> s"$n\t$c" }.toMap

  private def writeExpected(): Unit = {
    val merged = (loadExpected() ++ recorded).toSeq.sortBy(_._1)
    Files.write(expectedFile.toPath,
      merged.map { case (k, v) => s"$k\t$v\n" }.mkString.getBytes("UTF-8"))
  }

  private def listFiles(d: File): Seq[File] =
    Option(d.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) listFiles(f) else Seq(f))

  private def dirsUnder(d: File): Seq[File] =
    Option(d.listFiles).toSeq.flatten.filter(_.isDirectory).flatMap(f => f +: dirsUnder(f))

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
