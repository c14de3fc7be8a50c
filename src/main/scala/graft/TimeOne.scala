package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Single-query timing harness for bisecting regressions: runs ONE
 * registry query under exactly Bench's methodology (checksum-forced
 * execution, post-AQE strategy fingerprint, cpu_share/GC self-diagnosis)
 * with arbitrary session confs pinned from the command line — the tool
 * the r6 pipeline_curate 26.5→48.1 s question needed (was it CBO
 * join-reorder, catalog stats, or the arm itself? One run per
 * hypothesis answers it; rerun-to-rerun variance on an idle host is the
 * error bar).
 *
 * Usage: runMain graft.TimeOne <query> <sfDir> [reps] [--no-analyze]
 *          [-c key=value ...]
 * Each rep is first-touch in the same JVM after one untimed warmup.
 */
object TimeOne {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeOne <query> <sfDir> [reps] [--no-analyze] [-c k=v ...]")
    val query = args(0)
    val sfDir = args(1)
    val reps = args.drop(2).find(_.matches("\\d+")).map(_.toInt).getOrElse(2)
    val noAnalyze = args.contains("--no-analyze")
    val confs = args.zipWithIndex.collect {
      case ("-c", i) if i + 1 < args.length => args(i + 1) }
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    // Core count honors --cpus=N, then $SPARK_GRAFT_CPUS like Bench
    // (r18 — so the s10 core-scaling probe can run the same harness at
    // 8 vs 32; the flag exists because a warm sbt server pins the env).
    val cpus = args.find(_.startsWith("--cpus="))
      .map(_.stripPrefix("--cpus="))
      .orElse(sys.env.get("SPARK_GRAFT_CPUS"))
      .getOrElse("32")
    require(cpus.matches("\\d+") && cpus.toIntOption.exists(_ > 0),
      s"core count must be a positive integer, got '$cpus' " +
        "(--cpus=N or SPARK_GRAFT_CPUS)")
    // getOrCreate() would hand back a live session with its master
    // unchanged (and overwrite its confs): timing it would silently
    // measure another core count.
    val live = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).map(_.sparkContext.master)
    require(live.forall(_ == s"local[$cpus]"),
      s"a live session runs at ${live.getOrElse("")}, not local[$cpus]; " +
        s"stop it before timing at $cpus cores")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-timeone")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set(Q.BroadcastSideThresholdKey, "8000000")
    spark.conf.set(Q.BroadcastSideMaxBytesKey, (256L * 1024 * 1024).toString)
    if (!noAnalyze) sources.CatalogStats.registerAndAnalyze(spark, sfDir)
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val metricsListener = new RunMetricsListener
    spark.sparkContext.addSparkListener(metricsListener)
    val fn = SparkEntry.queries(query)
    def once(timedLabel: Option[String]): Unit = {
      org.apache.spark.graftbridge.ListenerDrain.drain(spark.sparkContext)
      metricsListener.snapshotAndReset()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val agg = df.agg(count(lit(1)).as("n"),
        sum(xxhash64(struct(df.columns.map(col): _*)).cast("double")).as("chk"))
      val rows = agg.collect()(0).getLong(0)
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graftbridge.ListenerDrain.drain(spark.sparkContext)
      val m = metricsListener.snapshotAndReset()
      val strat = Bench.joinStrategies(agg.queryExecution.executedPlan.toString)
      timedLabel.foreach { lbl =>
        // stages + shuffle bytes (r17): the optimization rounds' primary
        // A/B evidence — "2 Exchange → 1" claims need the stage count
        // and shuffled volume, not just wall seconds.
        // taskSec (r18): total executor task wall — the DUPLICATED-WORK
        // signal. Concurrent broadcast-build futures racing on a cold
        // cache each recompute the subtree; that waste overlaps on idle
        // local cores (invisible in `sec`) but shows up here.
        println(f"[timeone] $lbl $query%-24s ${sec}%7.2f s rows=$rows%-9d " +
          f"cpu=${m.cpuShare}%5.2f stages=${m.stages}%-4d " +
          f"shufMB=${(m.shuffleReadBytes + m.shuffleWriteBytes) / 1e6}%8.1f " +
          f"taskSec=${m.executorRunMillis / 1e3}%7.1f  " +
          f"$strat")
      }
      spark.catalog.clearCache()
      Q.drainCheckpoints(spark)
      System.gc()
    }
    once(None) // untimed warmup
    (1 to reps).foreach(i => once(Some(s"rep$i")))
    spark.stop()
  }
}
