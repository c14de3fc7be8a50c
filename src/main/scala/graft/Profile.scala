package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/**
 * Query profiler: the one answer to "why was this query slow". Per
 * registry query it runs one untimed warm-up and then `reps`
 * checksum-forced executions (row count plus the sum of `xxhash64` over
 * every column, Bench's methodology, so column pruning cannot delete
 * unmeasured work) and returns one JSON object holding
 *
 *  - `session`: master, cpus, shuffle partitions, whether the tables
 *    plan on ANALYZE stats, and the pinned confs — the context a number
 *    is read against;
 *  - `reps`: per rep wall s, rows, checksum, the [[RunMetrics]] fields,
 *    cpu share and the post-AQE join strategies;
 *  - `jobs` / `stages`: the last rep's per-job log (job id, stage ids,
 *    call site, seconds — `null` when the job's start was never seen)
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
      // The result frame's plan is taken after the timed section but
      // before the hygiene below, so it still sees the query's caches.
      def once(explain: Boolean): Rep = {
        org.apache.spark.graftbridge.ListenerDrain.drain(sc)
        metrics.snapshotAndReset()
        jobLog.reset()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val agg = df.agg(count(lit(1)).as("n"),
          sum(xxhash64(struct(df.columns.map(col): _*)).cast("double")).as("chk"))
        val r = agg.collect()(0)
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.spark.graftbridge.ListenerDrain.drain(sc)
        val executed = agg.queryExecution.executedPlan.toString
        val rep = Rep(sec, r.getLong(0),
          if (r.isNullAt(1)) 0.0 else r.getDouble(1),
          metrics.snapshotAndReset(), Bench.joinStrategies(executed),
          executed, jobLog.jobsJson, jobLog.stagesJson,
          if (explain) Some(df.queryExecution.explainString(
            ExplainMode.fromString("formatted"))) else None)
        spark.catalog.clearCache()
        Q.drainCheckpoints(spark)
        System.gc()
        rep
      }
      once(explain = false) // untimed warm-up
      val runs = (1 to reps).map(i =>
        once(explain = i == reps && plansDir.nonEmpty))
      val last = runs.last
      val planFile = for (dir <- plansDir; formatted <- last.formatted)
        yield writePlan(dir, query, sfDir, session, formatted, last.executed)
      ("query" -> query) ~ ("sf_dir" -> sfDir) ~ ("session" -> session) ~
        ("reps" -> JArray(runs.map(_.json).toList)) ~
        ("jobs" -> last.jobs) ~ ("stages" -> last.stages) ~
        ("plan_file" -> planFile.map(JString(_)).getOrElse(JNull))
    } finally {
      sc.removeSparkListener(metrics)
      sc.removeSparkListener(jobLog)
    }
  }

  /** One checksum-forced execution. */
  private case class Rep(sec: Double, rows: Long, checksum: Double,
      m: RunMetrics, strategies: String, executed: String, jobs: JArray,
      stages: JArray, formatted: Option[String]) {
    def json: JObject =
      ("sec" -> sec) ~ ("rows" -> rows) ~ ("checksum" -> checksum) ~
      ("stages" -> m.stages) ~
      ("shuffle_read_bytes" -> m.shuffleReadBytes) ~
      ("shuffle_write_bytes" -> m.shuffleWriteBytes) ~
      ("disk_spill_bytes" -> m.diskSpillBytes) ~
      ("memory_spill_bytes" -> m.memorySpillBytes) ~
      ("peak_execution_memory" -> m.peakExecutionMemory) ~
      ("executor_run_ms" -> m.executorRunMillis) ~
      ("executor_cpu_ns" -> m.executorCpuNanos) ~
      ("cpu_share" -> m.cpuShare) ~
      ("join_strategies" -> strategies)
  }

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
    * seconds instead of a made-up duration. */
  private class JobLog extends SparkListener {
    private case class Job(stages: Seq[Int] = Nil,
        callSite: Option[String] = None, start: Option[Long] = None,
        end: Option[Long] = None)
    private val jobs = mutable.Map.empty[Int, Job]
    private val stages = mutable.Map.empty[Int, (String, Long)]

    def reset(): Unit = synchronized { jobs.clear(); stages.clear() }

    // Call site: the one set on the job, else its last stage's name —
    // the fallback Spark's own status store names jobs by.
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = jobs.getOrElse(e.jobId, Job()).copy(
        stages = e.stageIds, start = Some(e.time),
        callSite = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs(e.jobId) = jobs.getOrElse(e.jobId, Job()).copy(end = Some(e.time))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val m = e.stageInfo.taskMetrics
        stages(e.stageInfo.stageId) = (e.stageInfo.name,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten)
      }

    def jobsJson: JArray = synchronized {
      JArray(jobs.toList.sortBy(_._1).map { case (id, j) =>
        ("job" -> id) ~ ("stage_ids" -> j.stages.toList) ~
        ("call_site" -> j.callSite.map(JString(_)).getOrElse(JNull)) ~
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
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-profile")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      spark.conf.set(Q.BroadcastSideThresholdKey, "8000000")
      spark.conf.set(Q.BroadcastSideMaxBytesKey, (256L * 1024 * 1024).toString)
      if (!flags.contains("--no-analyze"))
        sources.CatalogStats.registerAndAnalyze(spark, sfDir)
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      run(spark, sfDir, queries, reps.toInt, flag("plans"), confs)
        .foreach(j => println(compact(render(j))))
    } finally spark.stop()
  }
}
