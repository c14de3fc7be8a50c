package graft

import scala.collection.mutable

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/**
 * Query profiler and the one measuring core: [[session]] builds the
 * session, [[measure]] / [[forced]] time one run into a [[Measured]]
 * row, and Bench and StressBench are drivers over them. Per registry
 * query it runs one untimed warm-up and then `reps` checksum-forced
 * executions (row count plus the exact sum of `xxhash64` over every
 * column, so column pruning cannot delete unmeasured work) and returns
 * one JSON object holding
 *
 *  - `session`: master, cpus, shuffle partitions, whether the tables
 *    plan on catalog stats, and the pinned confs — the context a number
 *    is read against;
 *  - `reps`: per rep the [[Measured]] row — wall s, rows, checksum, the
 *    [[RunMetrics]] fields, cpu share, the post-AQE join strategies, GC
 *    seconds and the failure message;
 *  - `jobs` / `stages`: the last rep's per-job log (job id, stage ids,
 *    SQL execution and root execution ids, the call site of the action
 *    that started its execution, seconds — `null` when the job's start
 *    was never seen)
 *    and per-stage name and shuffle-write bytes, which attribute a
 *    stage or shuffle delta to the job that grew.
 *
 * With a plans directory it also writes `<dir>/<query>.txt`: the result
 * frame's formatted plan and the AQE-final executed plan of the
 * checksum aggregate with its Exchange count, so before/after plan
 * evidence can be committed and read without running Spark.
 *
 * Usage: runMain graft.Profile <query>... <sfDir> [--reps=N] [--cpus=N]
 *          [--no-analyze] [-c key=value ...] [--plans=<dir>]
 *
 * The core count is `--cpus=N`, then `SPARK_GRAFT_CPUS`, then the
 * JVM's available processors; shuffle partitions follow it.
 */
object Profile {

  private val Usage = "usage: Profile <query>... <sfDir> [--reps=N] " +
    "[--cpus=N] [--no-analyze] [-c k=v ...] [--plans=<dir>]"

  /** The one session every measuring runner builds: `local[cpus]`,
    * `cpus` shuffle partitions, UTC, UI off, WARN logging, and the gates
    * [[Q.maybeBroadcast]] reads pinned explicitly, so no conf drift in a
    * long run can flip a broadcast side. Every runner keeps the default
    * `./spark-warehouse`: catalog copies are content-keyed and never
    * overwritten ([[sources.CatalogStats.register]]), so Bench's
    * heavy-tier child registers beside its parent without deleting the
    * parent's table files. */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.conf.set(Q.BroadcastSideThresholdKey, "8000000")
    s.conf.set(Q.BroadcastSideMaxBytesKey, (256L * 1024 * 1024).toString)
    s
  }

  /** Profile `queries` on a caller-owned session: the session's confs
    * and listeners are as they were when this returns. `confs` (the
    * ones the caller pinned) are only recorded in the `session` object;
    * `analyze` there is whether `sfDir` plans on catalog stats. */
  def run(spark: SparkSession, sfDir: String, queries: Seq[String],
      reps: Int, plansDir: Option[String] = None,
      confs: Seq[(String, String)] = Nil): Seq[JObject] = {
    require(reps > 0, s"reps must be positive, got $reps")
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sc = spark.sparkContext
    val master = sc.master
    val session: JObject =
      ("master" -> master) ~
      ("cpus" -> "local\\[(\\d+)\\]".r.findFirstMatchIn(master)
        .map(_.group(1).toInt).getOrElse(sc.defaultParallelism)) ~
      ("shuffle_partitions" ->
        spark.conf.get("spark.sql.shuffle.partitions").toInt) ~
      ("analyze" -> spark.conf.getOption(sources.CatalogStats.CatalogDirKey)
        .contains(sfDir)) ~
      ("confs" -> JObject(confs.map { case (k, v) => (k, JString(v)) }.toList))
    val metrics = new RunMetricsListener
    val jobLog = new JobLog
    sc.addSparkListener(metrics)
    sc.addSparkListener(jobLog)
    try queries.map { query =>
      val fn = SparkEntry.queries(query)
      // What the last rep's inspection saw before the hygiene (so the
      // result frame's plan still sees the query's caches): the
      // aggregate's executed plan, the formatted plan when asked, and
      // the job log. Empty when the rep failed.
      var seen: Option[(String, Option[String], JArray, JArray)] = None
      def once(explain: Boolean): Measured = {
        jobLog.reset()
        seen = None
        forced(spark, metrics, fn(spark, sfDir), (df, executed) =>
          seen = Some((executed, Option.when(explain)(df.queryExecution
            .explainString(ExplainMode.fromString("formatted"))),
            jobLog.jobsJson, jobLog.stagesJson)))
      }
      once(explain = false) // untimed warm-up
      val runs = (1 to reps).map(i =>
        once(explain = i == reps && plansDir.nonEmpty))
      val planFile = for (dir <- plansDir; (executed, Some(f), _, _) <- seen)
        yield writePlan(dir, query, sfDir, session, f, executed)
      ("query" -> query) ~ ("sf_dir" -> sfDir) ~ ("session" -> session) ~
        ("reps" -> JArray(runs.map(_.json).toList)) ~
        ("jobs" -> seen.fold(JArray(Nil))(_._3)) ~
        ("stages" -> seen.fold(JArray(Nil))(_._4)) ~
        ("plan_file" -> planFile.map(JString(_)).getOrElse(JNull))
    } finally {
      sc.removeSparkListener(metrics)
      sc.removeSparkListener(jobLog)
    }
  }

  /** One measured run, the row every runner records: wall seconds (-1
    * when the run failed — a crash mid-query must be machine-visible,
    * never its partial elapsed time folded into a green-looking total),
    * rows (-1 on failure), the checksum, the post-AQE join strategies
    * ("err" on failure), JVM GC seconds inside the timed window, the
    * work counters of the run's stages, and the failure message. */
  final case class Measured(sec: Double, rows: Long, checksum: BigInt,
      strategy: String, gcSec: Double, metrics: RunMetrics,
      error: Option[String] = None) {
    def ok: Boolean = error.isEmpty
    def json: JObject =
      ("sec" -> sec) ~ ("rows" -> rows) ~ ("checksum" -> checksum) ~
      ("stages" -> metrics.stages) ~
      ("shuffle_read_bytes" -> metrics.shuffleReadBytes) ~
      ("shuffle_write_bytes" -> metrics.shuffleWriteBytes) ~
      ("disk_spill_bytes" -> metrics.diskSpillBytes) ~
      ("memory_spill_bytes" -> metrics.memorySpillBytes) ~
      ("peak_execution_memory" -> metrics.peakExecutionMemory) ~
      ("executor_run_ms" -> metrics.executorRunMillis) ~
      ("executor_cpu_ns" -> metrics.executorCpuNanos) ~
      ("cpu_share" -> metrics.cpuShare) ~
      ("join_strategies" -> strategy) ~ ("gc_sec" -> gcSec) ~
      ("error" -> error.map(JString(_)).getOrElse(JNull))
  }

  /** The one measuring primitive. `body` runs inside the timed window;
    * `outcome` reads its result into (rows, checksum, strategies) after
    * the clock stops. `metrics` is reset first, so the row's counters
    * are the body's stages alone; the GC delta covers the timed window.
    * A failure becomes the -1 row with its message. The hygiene follows
    * every run, a failed one too: operator-persisted caches and fixpoint
    * checkpoints are released, and a GC lets the context cleaner reap
    * dead broadcast blocks before the next timed window instead of
    * inside it. */
  private[graft] def measure[A](spark: SparkSession,
      metrics: RunMetricsListener)(body: => A)(
      outcome: A => (Long, BigInt, String)): Measured = {
    val sc = spark.sparkContext
    def drained() = { ListenerDrain.drain(sc); metrics.snapshotAndReset() }
    drained()
    val gc0 = gcMillis()
    def gcSec = (gcMillis() - gc0) / 1e3
    val t0 = System.nanoTime()
    try {
      val a = body
      val sec = (System.nanoTime() - t0) / 1e9
      val gc = gcSec
      val m = drained()
      val (rows, checksum, strategy) = outcome(a)
      Measured(sec, rows, checksum, strategy, gc, m)
    } catch {
      case e: Throwable =>
        Measured(-1.0, -1L, 0, "err", gcSec, drained(), Some(e.toString.take(300)))
    } finally {
      spark.catalog.clearCache()
      Q.drainCheckpoints(spark)
      System.gc()
    }
  }

  /** Runs `query` once, checksum-forced, as every runner measures it:
    * row count plus the exact sum of `xxhash64` over every column (as
    * DECIMAL(38,0), so the sum cannot overflow and does not depend on
    * row order), so column pruning cannot delete work the count does
    * not depend on (a projected window rank, an EWMA state), and
    * `collect` rather than `head`, whose separate limit(1) plan would
    * leave this plan's AQE unfinalized. `inspect` sees the result frame
    * and the AQE-final plan of the aggregate before the hygiene. */
  private[graft] def forced(spark: SparkSession, metrics: RunMetricsListener,
      query: => DataFrame,
      inspect: (DataFrame, String) => Unit = (_, _) => ()): Measured =
    measure(spark, metrics) {
      val df = query
      val h = df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
      // The DOUBLE sum is order-sensitive on purpose: the optimizer
      // drops a Sort under an aggregate whose functions all ignore row
      // order, and the run must keep the result frame's ORDER BY work.
      val agg = h.agg(count(lit(1)).as("n"),
        sum(col("h").cast("decimal(38,0)")).as("chk"),
        sum(col("h").cast("double")).as("keep_order"))
      (df, agg, agg.collect()(0))
    } { case (df, agg, r) =>
      val executed = agg.queryExecution.executedPlan.toString
      inspect(df, executed)
      (r.getLong(0),
        if (r.isNullAt(1)) BigInt(0) else BigInt(r.getDecimal(1).toBigInteger),
        joinStrategies(executed))
    }

  /** Join-strategy fingerprint of an executed plan: the distinct physical
    * join operators present, worst-first, so a flipped join strategy is
    * machine-visible in every artifact row. */
  def joinStrategies(plan: String): String = {
    val tokens = Seq("BroadcastNestedLoopJoin", "CartesianProduct",
      "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    val found = tokens.filter(plan.contains)
    val base = if (found.isEmpty) "none" else found.mkString("+")
    // AQE's OptimizeSkewedJoin tags split partitions `skew=true` in the
    // final plan — surfaced here so artifacts record WHEN the automatic
    // skew arm actually fired (the stress skew sweep's pass marker).
    if (plan.contains("skew=true")) base + "+skew" else base
  }

  /** Cumulative JVM GC wall time: a row's delta separates "the host was
    * slow" from "the JVM was collecting" when an entry spikes. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** A figure rounded to 3 decimals; NaN and infinities are `null`. */
  def round3(d: Double): JValue =
    if (d.isNaN || d.isInfinite) JNull else JDouble(math.round(d * 1000) / 1000.0)

  private def writePlan(dir: String, query: String, sfDir: String,
      session: JObject, formatted: String, executed: String): String = {
    val exchanges = "Exchange".r.findAllIn(executed).length
    val body =
      s"== query: $query  sf: $sfDir ==\n" +
      s"== session: ${compact(render(session))} ==\n\n" +
      "== RESULT FRAME explain(formatted) ==\n" +
      formatted +
      "\n\n== EXECUTED (AQE-final) plan of the checksum aggregate ==\n" +
      s"== executed-plan Exchange mentions: $exchanges ==\n" + executed + "\n"
    val path = java.nio.file.Paths.get(dir, s"$query.txt")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, body)
    path.toString
  }

  /** Per-job and per-stage log of one execution. Entries are keyed by
    * id, so a job whose start event was never seen (listener added
    * mid-job, or an event dropped off a full bus) reports `null`
    * seconds instead of a made-up duration. A job run for a SQL
    * execution (its `spark.sql.execution.id` property) is named by that
    * execution's description — the call site of the action, also for
    * the query-stage jobs AQE submits from a pool thread, whose own
    * call site names that thread — and records the execution's id and
    * its root execution's id. */
  private class JobLog extends SparkListener {
    private case class Job(stages: Seq[Int] = Nil,
        callSite: Option[String] = None, execution: Option[Long] = None,
        start: Option[Long] = None, end: Option[Long] = None)
    private val jobs = mutable.Map.empty[Int, Job]
    private val stages = mutable.Map.empty[Int, (String, Long)]
    // execution id -> (root execution id, description)
    private val executions = mutable.Map.empty[Long, (Long, String)]

    def reset(): Unit = synchronized {
      jobs.clear(); stages.clear(); executions.clear()
    }

    // Call site: the one set on the job, else its last stage's name —
    // the fallback Spark's own status store names jobs by.
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      jobs(e.jobId) = jobs.getOrElse(e.jobId, Job()).copy(
        stages = e.stageIds, start = Some(e.time),
        callSite = props.flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)),
        execution = props.flatMap(p => Option(p.getProperty(
          org.apache.spark.sql.execution.SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(_.toLongOption))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs(e.jobId) = jobs.getOrElse(e.jobId, Job()).copy(end = Some(e.time))
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        synchronized {
          executions(x.executionId) =
            (x.rootExecutionId.getOrElse(x.executionId), x.description)
        }
      case _ =>
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val m = e.stageInfo.taskMetrics
        stages(e.stageInfo.stageId) = (e.stageInfo.name,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten)
      }

    private def orNull[A](a: Option[A])(f: A => JValue): JValue =
      a.map(f).getOrElse(JNull)

    def jobsJson: JArray = synchronized {
      JArray(jobs.toList.sortBy(_._1).map { case (id, j) =>
        val exec = j.execution.flatMap(executions.get)
        ("job" -> id) ~ ("stage_ids" -> j.stages.toList) ~
        ("execution_id" -> orNull(j.execution)(JInt(_))) ~
        ("root_execution_id" -> orNull(exec)(x => JInt(x._1))) ~
        ("call_site" -> orNull(exec.map(_._2).orElse(j.callSite))(JString(_))) ~
        ("sec" -> (for (s <- j.start; t <- j.end)
          yield JDouble((t - s) / 1e3)).getOrElse(JNull))
      })
    }

    def stagesJson: JArray = synchronized {
      JArray(stages.toList.sortBy(_._1).map { case (id, (name, bytes)) =>
        ("stage" -> id) ~ ("name" -> name) ~ ("shuffle_write_bytes" -> bytes)
      })
    }
  }

  def main(args: Array[String]): Unit = {
    val valued = Seq("--reps=", "--cpus=", "--plans=")
    @annotation.tailrec
    def parse(rest: List[String], positional: Vector[String],
        flags: Vector[String], confs: Vector[(String, String)])
        : (Vector[String], Vector[String], Vector[(String, String)]) =
      rest match {
        case "-c" :: kv :: tail => kv.split("=", 2) match {
          case Array(k, v) if k.nonEmpty =>
            parse(tail, positional, flags, confs :+ (k -> v))
          case _ => throw new IllegalArgumentException(
            s"-c expects key=value, got '$kv'")
        }
        case "-c" :: Nil => throw new IllegalArgumentException(
          s"-c needs key=value; $Usage")
        case f :: tail if f.startsWith("-") =>
          require(f == "--no-analyze" || valued.exists(f.startsWith),
            s"unknown flag $f; $Usage")
          parse(tail, positional, flags :+ f, confs)
        case a :: tail => parse(tail, positional :+ a, flags, confs)
        case Nil => (positional, flags, confs)
      }
    val (positional, flags, confs) =
      parse(args.toList, Vector.empty, Vector.empty, Vector.empty)
    require(positional.length >= 2, Usage)
    val (queries, sfDir) = (positional.init, positional.last)
    def flag(name: String) = flags.find(_.startsWith(s"--$name="))
      .map(_.stripPrefix(s"--$name="))
    val reps = flag("reps").getOrElse("2")
    require(reps.matches("\\d+") && reps.toIntOption.exists(_ > 0),
      s"--reps must be a positive integer, got '$reps'")
    val cpus = flag("cpus").orElse(sys.env.get("SPARK_GRAFT_CPUS"))
      .getOrElse(Runtime.getRuntime.availableProcessors.toString)
    require(cpus.matches("\\d+") && cpus.toIntOption.exists(_ > 0),
      s"core count must be a positive integer, got '$cpus' " +
        "(--cpus=N or SPARK_GRAFT_CPUS)")
    // getOrCreate() would hand back a live session with its master
    // unchanged (and overwrite its confs): profiling it would silently
    // measure another core count.
    val live = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).map(_.sparkContext.master)
    require(live.forall(_ == s"local[$cpus]"),
      s"a live session runs at ${live.getOrElse("")}, not local[$cpus]; " +
        s"stop it before profiling at $cpus cores")
    val spark = session(cpus.toInt)
    try {
      if (!flags.contains("--no-analyze"))
        sources.CatalogStats.registerAndAnalyze(spark, sfDir)
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      run(spark, sfDir, queries, reps.toInt, flag("plans"), confs)
        .foreach(j => println(compact(render(j))))
    } finally spark.stop()
  }
}
