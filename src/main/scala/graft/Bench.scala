package graft

import graft.Profile.Measured
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/**
 * Headline benchmark (driver contract): runs a representative query per
 * operator family on SPARK_GRAFT_SF_DIR and prints ONE JSON line.
 * Timings are first-touch inside one warm JVM — the same methodology as
 * BASELINE.md's six-query suite, so the 2× envelope compares
 * like-for-like.
 *
 * Robustness (round-2, VERDICT.md): round 1's artifact was unusable —
 * the JSON line picked up sbt's `[info]` prefix (parse failure) and the
 * host was contended (5× inflation). Two answers:
 *  1. the JSON line is ALSO written to a file (bench.json, or
 *     $SPARK_GRAFT_BENCH_OUT), so a log prefix can never corrupt it;
 *  2. every row records the work behind its wall seconds, from the
 *     [[RunMetrics]] its stages report: `task_sec` (executor task
 *     time), `cpu_sec` (executor CPU time), `cpu_share`, `stages`,
 *     `shuffle_write_bytes`, `gc_sec` and the post-AQE join strategies
 *     (heavy rows add spill bytes); the line also records the `cpus`
 *     and `shuffle_partitions` it ran under. Seconds are reported raw.
 *     A row whose task and CPU seconds grew did more work (a plan or
 *     arm regression, or work duplicated across threads); one whose
 *     wall seconds grew at flat task and CPU seconds waited on the host.
 *     tools/artifact_check.py gates the raw totals against their
 *     budgets; gating a change on host-independent counters (jobs,
 *     stages, tasks, shuffle bytes) is perfbench's job.
 *
 * The near-dup family is represented by `minhash_lsh` (the at-scale
 * path), not the all-pairs exact `dedup_near`, which exists as the
 * sf0.01 oracle stand-in — benchmarking a deliberately quadratic oracle
 * at sf0.1 would measure the wrong algorithm (SURVEY.md §2d scale notes).
 *
 * Reading bench_all.json (--all mode): the tail above ~2.5 s is, by
 * design, the EXACT oracle arms of operators whose scale path is a
 * separate registry entry or conf arm — dedup_near / sql_neardup /
 * ngram_jaccard (exact pairwise truth; scale twin minhash_lsh),
 * dedup_components (connected components over those exact pairs; at
 * scale the pair source is the LSH candidate stream), pipeline_curate
 * (default exact pair arm; `spark.graft.curate.pairStrategy=lsh` is the
 * measured scale arm, see BENCH_stress.json), simhash_pairs (exact
 * hamming≤3 guarantee). Their cost is the price of oracle-checkable
 * exactness at sf0.1, not a scale defect; regressions in them still
 * matter, which is why --all records them. (dedup_editdist left this
 * list in r5: capping distances at EditDistCap cut its banded DP from
 * 33.6 s to ~1 s with the oracle still hash-matching.)
 */
object Bench {

  /** Representative spread: scan/filter, agg, joins, window, events,
    * text, vectors — including both baseline perf risks (cosine
    * self-join, window rank). */
  val headline: Seq[String] = Seq(
    "filter_pred", "agg_group", "join_inner", "join_broadcast",
    "window_rank", "topk_per_group", "stream_tumbling", "stream_session",
    "fn_json", "text_wordcount", "text_quality", "dedup_exact",
    "minhash_lsh", "sim_topk", "knn_label", "embed_neardup", "sort_limit",
    "pivot_wide", "subquery_corr", "embed_lshpairs", "simjoin_auto",
    "join_bucketed", "scan_pruned_date", "text_tfidf", "upsert_latest",
    "join_range_binned", "pipeline_decontaminate", "pipeline_datamix",
    "cdc_snapshot_diff", "dedup_ngram_cover", "text_entropy",
    "stream_enrich", "pipeline_observe", "text_quality_gate",
    "text_search_bm25")

  /** Second measurement tier (r6 — VERDICT r5 item 7): the heavy
    * entries that previously only got round-over-round signal via the
    * builder-run bench_all now ride in the driver's own artifact, under
    * their OWN budget so the headline total stays comparable to r1–r5
    * and BASELINE.md. Membership: the five slowest bench_all entries —
    * all deliberate exact-oracle arms whose scale twins run beside them
    * (dedup_near/ngram_jaccard/sql_neardup ↔ minhash_lsh;
    * dedup_components' exact pair source ↔ the LSH pair stream measured
    * in BENCH_stress.json; pipeline_curate's exact pair arm ↔ its
    * conf-swapped LSH arm) — plus the pipeline family reps absent from
    * the headline (rag, chunkdedup, the bloom decont arm) and the
    * remaining > 2.5 s registry entries (simhash_pairs' exact hamming
    * guarantee, ann_ivf's index build, tokjoin_auto's exact arm,
    * agg_percentiles' five-column exact percentile scan). Budget:
    * [[HeavyBudgetSec]] cumulative at sf0.1 on an idle host — each
    * entry is EXPLAINED (oracle exactness or index build), not excused;
    * a breach means an arm regressed or a scale twin went missing.
    * r11: pipeline_curate and dedup_components run their conf-swapped
    * LSH (scale) arms HERE — their exact oracle arms are priced in
    * bench_all.json instead (VERDICT r10 #1a). */
  val heavy: Seq[String] = Seq(
    "pipeline_curate", "dedup_components", "dedup_near", "ngram_jaccard",
    "sql_neardup", "pipeline_rag", "pipeline_chunkdedup",
    "pipeline_decont_bloom", "simhash_pairs", "ann_ivf", "tokjoin_auto",
    "agg_percentiles")

  /** Idle-host cumulative budget for the [[heavy]] tier at sf0.1, gated
    * on the RAW tier total. Re-based r8: the jaccardPairs persist fix
    * cut the tier's measured total from 145.8 s to ~55 s, so the r6
    * 150 s budget no longer gated anything — 90 s keeps ~1.6× headroom
    * for host noise while a real arm regression (any big entry
    * doubling) still breaches. r11 (VERDICT r10 #1): the two CC-backed
    * entries benchmark their conf-swapped SCALE arms (see the conf sets
    * in the heavy-tier child below), cutting the idle tier to ~half. */
  val HeavyBudgetSec = 90.0

  /** The per-row maps of one tier, keyed by query: seconds under
    * `secKey`, every other map under `prefix` + its name. */
  private def rowFields(rows: Seq[(String, Measured)], secKey: String,
      prefix: String): JObject = {
    def byRow(f: Measured => JValue) = JObject(rows.map { case (n, m) => n -> f(m) }.toList)
    (secKey -> byRow(m => JDouble(m.sec))) ~
      (s"${prefix}strategies" -> byRow(m => JString(m.strategy))) ~
      (s"${prefix}gc_sec" -> byRow(m => JDouble(m.gcSec))) ~
      (s"${prefix}cpu_share" -> byRow(m => Profile.round3(m.metrics.cpuShare))) ~
      (s"${prefix}task_sec" -> byRow(m => JDouble(m.metrics.executorRunMillis / 1e3))) ~
      (s"${prefix}cpu_sec" -> byRow(m => Profile.round3(m.metrics.executorCpuNanos / 1e9))) ~
      (s"${prefix}stages" -> byRow(m => JInt(m.metrics.stages))) ~
      (s"${prefix}shuffle_write_bytes" -> byRow(m => JInt(m.metrics.shuffleWriteBytes)))
  }

  /** Per-query failure messages, not just the -1 sentinel: a failed run
    * explains itself in the artifact. */
  private def errorsJson(rows: Seq[(String, Measured)]): JObject =
    JObject(rows.flatMap { case (n, m) => m.error.map(e => n -> (JString(e): JValue)) }.toList)

  private def failed(rows: Seq[(String, Measured)]): List[String] =
    rows.collect { case (n, m) if !m.ok => n }.toList

  /** The heavy tier's fields, spliced verbatim into the parent's line.
    * `heavy_gc_total` sums the same rows as `heavy_total` (failed rows
    * excluded), or artifact_check's gc-vs-excess breach fingerprint
    * would compare GC from N rows against elapsed from N−1. */
  private def heavyFields(rows: Seq[(String, Measured)], setupSec: Double,
      extraFailed: Seq[String] = Nil): JObject = {
    val ok = rows.map(_._2).filter(_.ok)
    rowFields(rows, "heavy", "heavy_") ~
      ("heavy_spill_bytes" -> JObject(rows.map { case (n, m) =>
        n -> (JInt(m.metrics.diskSpillBytes + m.metrics.memorySpillBytes): JValue) }.toList)) ~
      ("heavy_gc_total" -> ok.map(_.gcSec).sum) ~
      ("heavy_failed" -> (failed(rows) ++ extraFailed)) ~
      ("heavy_errors" -> errorsJson(rows)) ~
      ("heavy_total" -> ok.map(_.sec).sum) ~
      ("heavy_jvm_setup_sec" -> setupSec) ~
      ("heavy_budget_sec" -> HeavyBudgetSec)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // --all (or SPARK_GRAFT_BENCH_ALL=1): full-registry coverage mode
    // (VERDICT r4 item 6) — every SparkEntry query, not just the
    // headline entries, with the same per-query strategy/gc/cpu_share
    // self-diagnosis fields. The headline artifact stays the driver
    // contract; this mode exists so NON-headline operators have a perf
    // regression signal too, written to bench_all.json by default so it
    // never clobbers the driver's bench.json. To re-time a few rows,
    // name them to `graft.Profile`.
    val allMode = args.contains("--all") ||
      sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1")
    // --heavy-tier=<path>: INTERNAL child mode (r17). The canonical run
    // spawns a FRESH JVM for the heavy tier and this is its entry: run
    // ONLY the tier (catalog registration, the conf-swapped heavy suite),
    // write the tier's JSON fields to <path>, exit. See the spawn site
    // for why the tier runs in its own process.
    val heavyTierArg = args.find(_.startsWith("--heavy-tier="))
    val heavyTierMode = heavyTierArg.isDefined
    // The tier child shares the parent's warehouse: its registration
    // reuses the parent's content-keyed catalog copies and never
    // overwrites or deletes them (sources.CatalogStats.register).
    val spark = Profile.session(cpus.toInt)
    // Per-query stage metrics (round 4): executor task time, CPU time,
    // stages and shuffle bytes — the work behind each row's seconds.
    val metricsListener = new RunMetricsListener
    spark.sparkContext.addSparkListener(metricsListener)
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

    // Catalog registration at load time, outside every per-query window
    // (footer statistics plus the single-file copies, paid once per load
    // and reported separately like bucket_setup_sec): the measured
    // queries then plan on catalog rowCounts, so the artifact's recorded
    // strategies are the stats-informed ones a production deployment
    // would run (VERDICT r5 item 4).
    val analyzeSec =
      if (heavyTierMode) -1.0
      else time(sources.CatalogStats.registerAndAnalyze(spark, sfDir))
    // One-time warehouse CTAS work (bucketed join tables, date-partitioned
    // events) is write-amortized setup cost, not steady-state query cost —
    // create ahead of the timed loop so join_bucketed measures the
    // zero-Exchange SMJ and scan_pruned_date the pruned scan (VERDICT r2
    // item 4). The write cost is reported separately.
    val bucketSetupSec =
      if (heavyTierMode) -1.0
      else time {
        try {
          operators.Relational.ensureBucketedTables(spark, sfDir)
          operators.Relational.ensureDatePartitionedEvents(spark, sfDir)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] warehouse setup failed: $e") }
      }
    // Each query is one checksum-forced execution (Profile.forced) with
    // the runner's cache and checkpoint hygiene after it. A name missing
    // from the registry fails its row instead of vanishing from the suite.
    def runSuite(names: Seq[String]): Seq[(String, Measured)] = names.map { name =>
      val m = Profile.forced(spark, metricsListener,
        SparkEntry.queries(name)(spark, sfDir))
      m.error.foreach(e => System.err.println(s"[bench] $name failed: $e"))
      name -> m
    }

    if (heavyTierMode) {
      // Child JVM: register first (stats-informed plans, parity with the
      // parent's strategy pins), then the tier. It benchmarks the
      // conf-swapped SCALE arms of the two CC-backed entries (r11 —
      // VERDICT r10 #1): pipeline_curate's banded-LSH pair stage and
      // dedup_components over the LSH candidate stream (both
      // parity/property-tested; the exact oracle arms stay in Verify and
      // bench_all, where these confs are never set) — the tier prices
      // the 100 TB composition, not the sf0.1 oracle stand-in.
      val outPath = heavyTierArg.get.split("=", 2)(1)
      try {
        val setupSec = time(sources.CatalogStats.registerAndAnalyze(spark, sfDir))
        spark.conf.set("spark.graft.curate.pairStrategy", "lsh")
        spark.conf.set("spark.graft.components.pairStrategy", "lsh")
        java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
          compact(render(heavyFields(runSuite(heavy), setupSec))))
      } finally spark.stop()
      return
    }

    val results = runSuite(if (allMode) SparkEntry.queries.keys.toSeq.sorted else headline)
    // Heavy tier AFTER the headline, in a FRESH CHILD JVM (r17 —
    // VERDICT r16 #1); skipped in --all mode where every entry runs
    // anyway. A fresh process does two things a
    // context restart cannot: a JVM that has executed the 35-query
    // headline runs the tier's parallel bursts persistently slower even
    // idle (JIT/allocation-path aging, measured r17: neither a context
    // restart nor explicit full GCs recover it), so the fork keeps that
    // aging out of the tier's raw seconds. The child inherits this
    // JVM's flags/classpath/env, runs ONLY the tier (--heavy-tier mode
    // above), and writes its JSON fields to a temp file the parent
    // splices in; child stdout is redirected to OUR stderr so the
    // parent's one-line JSON contract stays clean. Spawn/exit anomalies surface as a
    // "__heavy_tier_process" entry in heavy_failed — loud, never
    // silently green. The child's session build + registration is
    // `heavy_jvm_setup_sec`, outside every budget window.
    def spawnHeavyTier(): JObject = {
      import scala.jdk.CollectionConverters._
      val tmp = java.nio.file.Files.createTempFile("graft_heavy_", ".json")
      val errFragment = heavyFields(
        heavy.map(_ -> Measured(-1.0, -1L, 0, "err", 0.0,
          RunMetrics(0, 0, 0, 0, 0, 0, 0, 0), Some("heavy-tier child failed"))),
        -1.0, Seq("__heavy_tier_process")) merge
        JObject("heavy_total" -> JDouble(-1.0))
      try {
        val javaBin = java.nio.file.Paths.get(
          System.getProperty("java.home"), "bin", "java").toString
        val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.asScala.toSeq.filterNot(a =>
            a.startsWith("-agentlib") || a.startsWith("-javaagent"))
        val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq(
          "-cp", System.getProperty("java.class.path"),
          "graft.Bench", s"--heavy-tier=$tmp")).asJava
        val pb = new ProcessBuilder(cmd)
        pb.redirectErrorStream(true)
        val p = pb.start()
        val drain = new Thread(() => {
          val in = p.getInputStream
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { System.err.write(buf, 0, n); n = in.read(buf) }
        })
        drain.setDaemon(true)
        drain.start()
        val done = p.waitFor(20, java.util.concurrent.TimeUnit.MINUTES)
        if (!done) { p.destroyForcibly(); p.waitFor() }
        val frag = new String(java.nio.file.Files.readAllBytes(tmp), "UTF-8")
        if (!done || p.exitValue() != 0 || frag.trim.isEmpty) {
          System.err.println(s"[bench] heavy-tier child failed " +
            s"(timedOut=${!done}, exit=${if (done) p.exitValue() else -1}, " +
            s"fragBytes=${frag.length})")
          errFragment
        } else parse(frag).asInstanceOf[JObject]
      } catch { case e: Throwable =>
        System.err.println(s"[bench] heavy-tier spawn failed: $e")
        errFragment
      } finally {
        try java.nio.file.Files.deleteIfExists(tmp)
        catch { case _: Throwable => }
      }
    }
    val modeFields: JObject =
      if (allMode) JObject("mode" -> JString("all")) else spawnHeavyTier()
    val heavyOk = allMode || (modeFields \ "heavy_failed") == JArray(Nil)
    // Comparability contract (ADVICE r7): `value` sums only the queries
    // that ran, so a run with failures is NOT comparable to a clean one
    // — the r7 contended artifact read as a 40% "speedup" because 8
    // sentinel entries silently shrank the summed set. n_queries/n_ok
    // make the summed set explicit and `complete` is the machine gate:
    // artifact consumers (tools/artifact_check.py) must reject
    // complete=false as a canonical artifact.
    val ok = results.map(_._2).filter(_.ok)
    val line = compact(render(
      ("metric" -> "total") ~ ("value" -> ok.map(_.sec).sum) ~ ("unit" -> "sec") ~
        rowFields(results, "queries", "") ~
        ("n_queries" -> results.length) ~ ("n_ok" -> ok.length) ~
        ("errors" -> errorsJson(results)) ~
        ("failed" -> failed(results)) ~
        ("bucket_setup_sec" -> bucketSetupSec) ~ ("analyze_sec" -> analyzeSec) ~
        ("cpus" -> cpus.toInt) ~
        ("shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt) ~
        modeFields ~
        ("complete" -> (ok.length == results.length && heavyOk)) ~
        ("sf" -> sfDir)))
    println(line)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (allMode) "bench_all.json" else "bench.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $out failed: $e") }
    // VERDICT r13 #6: the driver's stdout-tail parser has never worked
    // because sbt's [success] banner follows the JSON line — mirror the
    // line to a FIXED filename (regardless of mode/out override) so any
    // consumer can read the last run without log framing, and re-print
    // it after spark.stop() so it is the final line THIS process emits.
    if (out != "bench_last.json")
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_last.json"), line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] write bench_last.json failed: $e") }
    spark.stop()
    println(line)
  }
}
