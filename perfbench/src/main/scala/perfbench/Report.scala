package perfbench

import java.io.File
import java.nio.file.Files

/** Turns the passes of one run into the metrics the benchmark declares,
  * prints them by name, writes the full result and spans to the work
  * directory and prints the one-line JSON result last. */
final class Report(a: Main.Args, cores: Int, setupTimes: Seq[Double],
    setupParts: Map[String, Seq[Double]], passes: Seq[PassResult], attempted: Long,
    failed: Long, tracer: Tracer, storeRatio: Double) {
  import Report._

  private val plain = passes.filter(p => !p.warmup && !p.traced)
  private val traced = passes.filter(_.traced)

  private def per(ps: Seq[PassResult])(f: PassResult => Double): Double =
    median(ps.map(f))

  /** End-to-end metrics, from the untraced measured passes: set-up time
    * and the work a pass does. */
  val endToEnd: Seq[(String, Double, String)] = {
    val m = per(plain) _
    Seq(
      ("setup_s", median(setupTimes), "s"),
      ("jobs", m(_.total.jobs.toDouble), "count"),
      ("stages", m(_.total.stages.toDouble), "count"),
      ("tasks", m(_.total.tasks.toDouble), "count"),
      ("shuffle_mb", m(_.total.shuffleBytes / 1e6), "MB"),
      ("peak_exec_mb", m(_.total.peakExecBytes / 1e6), "MB"),
      ("store_ratio", if (a.workload == "stream_ingest")
        m(_.stream.getOrElse("store_ratio", 0.0)) else storeRatio, "ratio"))
  }

  /** Pass and epoch times, from the untraced passes that follow the
    * warm-up of a traced run; then per-layer metrics, from the traced
    * passes. */
  val perLayer: Seq[(String, Double, String)] = {
    val m = per(traced) _
    def layer(p: PassResult, l: String) = p.layers.getOrElse(l, new Counters)
    def setup(k: String) = median(setupParts.getOrElse(k, Nil))
    def self(k: String) = m(_.selfS.getOrElse(k, 0.0))
    val untracedPass = median(plain.map(_.wallS))
    val tracedPass = median(traced.map(_.wallS))
    val epochs = plain.flatMap(_.opS.map(_._2))
    Seq(
      ("pass_s", untracedPass, "s"),
      ("epoch_p50_s", percentile(epochs, 0.5), "s"),
      ("epoch_p90_s", percentile(epochs, 0.9), "s"),
      ("task_s", per(plain)(_.total.taskRunMs / 1e3), "s"),
      ("sources.analyze_s", setup("analyze"), "s"),
      ("sources.warehouse_write_s", setup("warehouse"), "s"),
      ("sources.split_s", setup("split"), "s"),
      ("sources.input_mb", m(_.total.inputBytes / 1e6), "MB"),
      ("build_s", self("build"), "s"),
      ("build_jobs", m(layer(_, "build").jobs.toDouble), "count"),
      ("build_task_s", m(layer(_, "build").taskRunMs / 1e3), "s"),
      ("plan_s", self("plan"), "s"),
      ("plan.analysis_s", m(_.planPhasesS.getOrElse("analysis", 0.0)), "s"),
      ("plan.optimization_s", m(_.planPhasesS.getOrElse("optimization", 0.0)), "s"),
      ("plan.planning_s", m(_.planPhasesS.getOrElse("planning", 0.0)), "s"),
      ("plan.exchanges", m(_.exchanges.toDouble), "count"),
      ("exec_s", self("exec"), "s"),
      ("exec.jobs", m(layer(_, "exec").jobs.toDouble), "count"),
      ("exec.tasks", m(layer(_, "exec").tasks.toDouble), "count"),
      ("exec.task_cpu_s", m(layer(_, "exec").taskCpuNs / 1e9), "s"),
      ("exec.spill_mb", m(_.total.spillBytes / 1e6), "MB"),
      ("driver_cpu_s", m(p => p.processCpuS - p.total.taskCpuNs / 1e9), "s"),
      ("cleanup_s", self("cleanup"), "s"),
      ("cache.builds", m(_.cache.builds.toDouble), "count"),
      ("cache.rebuilds", m(_.cache.rebuilds.toDouble), "count"),
      ("cache.build_ratio", m(_.cache.buildRatio), "ratio"),
      ("cache.peak_mb", m(_.cache.peakBytes / 1e6), "MB"),
      ("broadcast.count", m(_.cache.broadcasts.toDouble), "count"),
      ("broadcast_mb", m(_.cache.broadcastBytes / 1e6), "MB"),
      ("stream.jobs", m(layer(_, "stream").jobs.toDouble), "count"),
      ("stream.task_s", m(layer(_, "stream").taskRunMs / 1e3), "s"),
      ("stream.upsert_s", m(_.stream.getOrElse("upsert_s", 0.0)), "s"),
      ("stream.neardedup_s", m(_.stream.getOrElse("neardedup_s", 0.0)), "s"),
      ("stream.add_batch_s", m(_.stream.getOrElse("add_batch_s", 0.0)), "s"),
      ("stream.query_planning_s", m(_.stream.getOrElse("query_planning_s", 0.0)), "s"),
      ("stream.wal_commit_s", m(_.stream.getOrElse("wal_commit_s", 0.0)), "s"),
      ("stream.sink_write_mb", m(_.stream.getOrElse("sink_write_mb", 0.0)), "MB"),
      ("stream.sink_files", m(_.stream.getOrElse("sink_files", 0.0)), "count"),
      ("stream.epoch_dirs", m(_.stream.getOrElse("epoch_dirs", 0.0)), "count"),
      ("jvm.heap_live_mb", m(_.heapLiveMb), "MB"),
      ("jvm.gc_s", m(_.gcS), "s"),
      ("jvm.cpu_s", m(_.processCpuS), "s"),
      ("jvm.peak_rss_mb", peakRssMb, "MB"),
      ("self.pass_s", self("pass"), "s"),
      ("self.op_s", self("op"), "s"),
      ("trace.pass_s", tracedPass, "s"),
      ("trace.overhead_s", tracedPass - untracedPass, "s"))
  }

  def env: Seq[(String, Any)] = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    Seq(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "master" -> s"local[$cores]",
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "shuffle_partitions" -> cores,
      "xmx" -> rt.getInputArguments.toArray.map(_.toString)
        .find(_.startsWith("-Xmx")).getOrElse(s"${Runtime.getRuntime.maxMemory >> 20}m"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version"),
      "git_commit" -> System.getProperty("perfbench.commit", "unknown"),
      "source_sha256" -> System.getProperty("perfbench.source", "unknown"),
      "data" -> "sf0.01",
      "setup_reps" -> setupTimes.size,
      "warmup_passes" -> passes.count(_.warmup),
      "measured_passes" -> plain.size,
      "traced_passes" -> traced.size,
      "epochs_per_run" -> plain.map(_.opS.size).sum)
  }

  def write(work: File): Unit = {
    val log = (s: String) => println(s"perfbench $s")
    log("env " + json(env))
    log("setup_s " + setupTimes.map(fmt).mkString(" "))
    log("pass_wall_s " + passes.map(p =>
      s"${p.index}${if (p.warmup) "w" else if (p.traced) "t" else ""}=${fmt(p.wallS)}")
      .mkString(" "))
    val n = plain.size
    val e = plain.map(_.opS.size).sum
    endToEnd.foreach { case (k, v, u) =>
      val basis = k match {
        case "setup_s" => s"median of ${setupTimes.size} set-ups"
        case "store_ratio" => "bytes on disk over bytes of input"
        case _ => s"median of $n passes"
      }
      log(f"metric $k%s = ${fmt(v)}%s $u%s ($basis%s)")
    }
    log(s"metric ops_failed = $failed of $attempted attempted")
    if (a.trace) perLayer.foreach { case (k, v, u) =>
      val basis = k match {
        case "pass_s" | "task_s" => s"median of $n untraced passes"
        case "epoch_p50_s" | "epoch_p90_s" => s"over $e epochs of $n untraced passes"
        case "sources.analyze_s" | "sources.warehouse_write_s" | "sources.split_s" =>
          s"median of ${setupTimes.size} set-ups"
        case _ => s"median of ${traced.size} traced passes"
      }
      log(f"layer $k%s = ${fmt(v)}%s $u%s ($basis%s)")
    }

    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    val self = tracer.selfSeconds
    val spans = tracer.spans.map(s => json(Seq("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op, "start_s" -> s.startNs / 1e9,
      "end_s" -> s.endNs / 1e9, "self_s" -> self(s.id))))
    val full = json(Seq(
      "env" -> RawJson(json(env)),
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "setup_s" -> RawJson(setupTimes.map(fmt).mkString("[", ",", "]")),
      "passes" -> RawJson(passes.map(p => json(Seq("index" -> p.index,
        "warmup" -> p.warmup, "traced" -> p.traced, "wall_s" -> p.wallS,
        "stages" -> p.total.stages, "ops" -> RawJson(json(p.opS))))).mkString("[", ",", "]")),
      "end_to_end" -> RawJson(metricsJson(endToEnd)),
      "per_layer" -> RawJson(metricsJson(perLayer))))
    Files.write(new File(work, s"result-$tag.json").toPath, full.getBytes("UTF-8"))
    if (a.trace)
      Files.write(new File(work, s"trace-$tag.json").toPath,
        spans.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
    println(json(Seq("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> RawJson(metricsJson(if (a.trace) perLayer else endToEnd)))))
  }
}

object Report {
  final case class RawJson(s: String)

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def fmt(d: Double): String = java.math.BigDecimal.valueOf(d).toPlainString

  /** Peak resident set size of this process, from Linux procfs. */
  def peakRssMb: Double = {
    val f = new File("/proc/self/status")
    if (!f.exists) 0.0
    else Files.readAllLines(f.toPath).toArray.map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1e3).getOrElse(0.0)
  }

  def metricsJson(ms: Seq[(String, Double, String)]): String =
    json(ms.map { case (k, v, u) => k -> RawJson(json(Seq("value" -> v, "unit" -> u))) })

  def json(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case RawJson(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else fmt(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(other.toString)
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
