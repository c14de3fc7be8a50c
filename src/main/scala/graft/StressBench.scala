package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Scale-growth benchmark over the builder-owned stress corpus
 * (VERDICT r4 item 1): runs the heavy dedup/similarity/range-join
 * families at 1×/3×/10×/30× of sf0.1-equivalent size and emits
 * BENCH_stress.json with, per query and scale:
 *
 *   - wall seconds, result rows, executed join strategies, gc seconds,
 *     cpu_share (the same self-diagnosis fields as bench.json);
 *   - the time/rows growth EXPONENTS, least-squares slope of ln(y) on
 *     ln(scale) over every measured scale (a 1.5-order-of-magnitude
 *     span) — the number the 100 TB claim rests on: e ≈ 1 is linear
 *     scaling, e ≈ 2 means the operator went quadratic and its scale
 *     story is wrong;
 *   - for the two LSH families, the CANDIDATE-PAIR counts (the frame
 *     before verification, counted by the operators' own candidate
 *     stages) and their growth exponent — banding's sub-quadratic
 *     candidate growth is the claim that separates LSH from all-pairs.
 *
 * Methodology matches Bench: first-touch timings in one warm JVM,
 * result forced via groupBy().count() (also yielding the row count),
 * caches cleared and an untimed GC between entries. The curate pipeline
 * runs its LSH arm (`spark.graft.curate.pairStrategy=lsh`) — the 100 TB
 * configuration, not the small-corpus oracle arm.
 *
 * Reading the artifact: `join_range_binned`'s OUTPUT grows ~quadratically
 * in the scale factor BY CONSTRUCTION (both probe rows and per-bin
 * density scale linearly, and the true join result is their product) —
 * for that entry the scale claim is `sec_per_mrow` staying flat
 * (time tracking output, candidates ∝ rows-per-bin), not e_time ≈ 1.
 */
object StressBench {

  val stressQueries: Seq[String] = Seq(
    "minhash_lsh", "dedup_near", "tokjoin_auto", "text_tfidf",
    // r14: query-driven sparse retrieval — rides the tfidf/bm25
    // skeleton (two hash aggs + probe join + per-probe window), so
    // e_time ≈ 1 is the pass bar like text_tfidf's.
    "text_search_bm25",
    "pipeline_curate", "pipeline_decontaminate",
    "embed_lshpairs", "sim_topk", "join_range_binned",
    // r5 breadth: the event/window families — one shuffle by a key
    // whose per-key work is scale-invariant in this corpus (disjoint
    // key-shifted copies), so e_time ≈ 1 is the pass bar, not a hope.
    "event_sessionize", "event_ewma", "join_asof",
    "topk_per_group", "window_time_rolling",
    // r6: the corpus-sized IVF index (VERDICT r5 item 1). Its e_time is
    // the INDEX BUILD (n × nlist ≈ n^1.5 kernel distances — textbook
    // IVF-flat, amortized across every query the index serves); the
    // sub-linear claim is the ann_ivf_candidates row: candidates ≈
    // 10·n·nprobe/nlist ≈ n^¾ (e_rows < 1), vs the r5 fixed geometry's
    // constant 30% corpus fraction.
    "ann_ivf",
    // r8: the PQ pair. embed_pq is one encode scan (driver-trained
    // bounded-sample codebooks + per-subspace codegen argmin) — e_time
    // ≈ 1 is the pass bar. ann_pq's ADC scan is linear in codes with a
    // 10-partition per-probe top-(16k) window sort behind it; e_time
    // near 1 says the code-stream scan, not the float corpus, is what
    // scales.
    "embed_pq", "ann_pq",
    // r9: the composed IVF-PQ index (FAISS's IndexIVFPQ shape). Its
    // e_time is still the k-means build + assignment (n^1.5 kernel,
    // shared with ann_ivf); the query side multiplies ann_ivf's n^¾
    // candidate pruning with ann_pq's packed-code ADC payload.
    "ann_ivfpq",
    // r8: semantic dedup + DSIR selection. dedup_semantic's cost model
    // is the k-means build (same class as ann_ivf) plus the
    // within-cluster pair scan — candidate volume Σ|cluster|² ≈ n²/k ≈
    // n^1.5 at k=√n, measured directly by the semantic_candidates row
    // (e_rows ≈ 1.5 is the DESIGN, not a failure; the point is it's
    // n^1.5, not the exact arm's n²). curate_dsir is two hash aggs +
    // one model join + the two-phase rank — e_time ≈ 1 is the pass bar.
    "dedup_semantic", "curate_dsir")

  /** r10: the multi-probe kNN graph — measured at the TWO SMALLEST
    * scales only. Its honest cost is the n^1.75 multi-probe candidate
    * stream (n sources × nprobe ∝ n^0.25 buckets × n^0.5 bucket width
    * — a full-corpus graph build, the job FAISS runs on GPU farms),
    * so the larger stress scales would spend sweep-hours re-measuring
    * a known class: the committed s1→s3 fit is e_time 1.18 (constants
    * dominate small scales), and a one-off s10 probe during round 10
    * measured 509 s — ≈ 1.6 over s1→s10 against that run's s1,
    * approaching the analytic exponent; sub-quadratic either way,
    * which is the design claim (the exact arm is n²). */
  val knnGraphScales = 2

  /** r11: the end-to-end LINEAR graph build (knn_graph_nnd: LSH+ring
    * seed, NN-descent rounds at working degree 12) rides ONE scale
    * further than its super-linear siblings — its n·K² rounds are
    * linear in n, so the s10 point the n^1.75 blocked arm priced at
    * 509 s in round 10 costs ~60 s here. The committed s10 row is the
    * demonstration that the linear arm reaches corpus sizes the
    * blocked-seeded pipeline cannot.
    *
    * r12 (VERDICT r11 #7) added the s30 point (600 k vectors); r16
    * (VERDICT r15 #5) moved the last composed rows (pagerank /
    * triangles over the NND edges) up to this same span — every
    * NND-family arm now rides the full s1–s30 range (the former
    * 3-scale containment tier is gone), with pagerank_nnd additionally
    * priced at s100 in the fresh-context block. Gates stay RELATIVE to
    * the co-measured edge source. */
  val nndBuildScales = 4

  /** The registry `simjoin_auto` (cos ≥ 0.35) is NOT in the sweep: below
    * the 0.8 recall floor auto correctly refuses LSH, and the exact
    * answer it computes is itself near-quadratic in size (~40 M pairs at
    * s10 — the first sweep measured its s3 form at 52.6 s as a
    * CartesianProduct, which is what motivated the floor). The planner
    * story at scale is instead measured at the near-dup threshold the
    * banding is calibrated for: s1 (20 k vectors) sits AT the measured
    * crossover — where exact (9.3 s) and LSH (10.8 s) genuinely cost
    * the same, so either choice is correct and the r5 estimator change
    * (leaf-bytes row estimation) legitimately moved it from exact to
    * LSH — while s3/s10 are clearly past it and must pick LSH. The
    * chosen arm is recorded per scale in the strategy field. */
  def simjoinAutoNearDup(spark: SparkSession, dir: String) =
    graft.plans.SimilarityJoin.cosineSelfJoin(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", 0.9, "auto")

  /** Decontamination's Bloom scale arm (r5): holdout-gram Bloom bits
    * broadcast as a pre-filter on the train gram stream, exact join
    * verifies — measured here so the arm's build cost (count + bloom
    * aggregate over the SMALL side) and filter win are on the record
    * next to the exact arm's numbers. */
  def decontBloom(spark: SparkSession, dir: String) = {
    val c = spark.conf
    c.set(graft.llm.Curate.DecontStrategyKey, "bloom")
    try graft.llm.Curate.decontaminate(Tables.documents(spark, dir))
    finally c.unset(graft.llm.Curate.DecontStrategyKey)
  }

  /** Decontamination's exact arm PINNED (the registry default is auto,
    * which flips past the crossover): its cost curve recorded beside
    * the bloom rows at s1–s100 IS the measured bloom-vs-broadcast
    * crossover VERDICT r5 item 5 asked for. */
  def decontExact(spark: SparkSession, dir: String) = {
    val c = spark.conf
    c.set(graft.llm.Curate.DecontStrategyKey, "exact")
    try graft.llm.Curate.decontaminate(Tables.documents(spark, dir))
    finally c.unset(graft.llm.Curate.DecontStrategyKey)
  }

  /** The UNSALTED shuffle join over the skewed corpus — join_salted's
    * exact output shape minus the salt, so the two rows read side by
    * side: what the manual arm buys vs what AQE's automatic split
    * recovers on its own. */
  def plainShuffleJoin(spark: SparkSession, dir: String) =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        Q.moneySum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))

  case class Entry(sec: Double, rows: Long, strategy: String,
      gcSec: Double, cpuShare: Double)

  /** (width, recall) per rerank width — recall of ann_pq's top-k id set
    * vs the exact cosine top-k, over the 10 fixture probes: the
    * measurement behind [[graft.llm.Similarity.PqRerankFactor]]'s
    * default. */
  private def recallCurve(spark: SparkSession, dir: String, k: Int,
      widths: Seq[Int]): Seq[(Int, Double)] = {
    val exact = llm.Similarity.bruteTopK(spark, dir, k)
      .select(col("probe_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    widths.map { w =>
      val approx = llm.Similarity.annPq(spark, dir, k, w)
        .select(col("probe_id"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (w, (exact & approx).size.toDouble / exact.size)
    }
  }

  def main(args: Array[String]): Unit = {
    val root = if (args.length > 0) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_STRESS_ROOT", "stressdata")
    // s30 present → a 1.5-order-of-magnitude span; exponents are the
    // least-squares slope over ALL scale points (r5 late), not the
    // endpoint ratio — one noisy endpoint can no longer swing the fit.
    def dirExists(p: String): Boolean =
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p))
    val uniformScales = Seq(("s1", 1.0), ("s3", 3.0), ("s10", 10.0), ("s30", 30.0))
      .filter { case (s, _) => dirExists(s"$root/$s") }
    require(uniformScales.nonEmpty,
      s"no stress scale directories under '$root' — run graft.StressGen first")
    // s100 (VERDICT r5 item 8): documents+embeddings ONLY — StressGen
    // writes just the tables the banded LSH families read, so the full
    // suite never runs there; the banded subset below does, and the
    // exponent fits pick the extra half-order-of-magnitude up because
    // s100 is part of `scales`.
    val s100 = Seq(("s100", 100.0)).filter { case (s, _) => dirExists(s"$root/$s") }
    val scales = uniformScales ++ s100
    def freshSession(): SparkSession = {
      val s = SparkSession.builder()
        .master("local[32]")
        .appName("graft-stressbench")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      // Same explicit gates as Bench so plan shapes match the sf0.1
      // pins; curate runs its scale arm.
      s.conf.set(Q.BroadcastSideThresholdKey, "8000000")
      s.conf.set(Q.BroadcastSideMaxBytesKey, (256L * 1024 * 1024).toString)
      s.conf.set("spark.graft.curate.pairStrategy", "lsh")
      s
    }
    // var, not val: the s100 NND arm at the sweep's end restarts the
    // CONTEXT (same warm JVM) — see that block for why.
    var spark = freshSession()
    val metricsListener = new RunMetricsListener
    spark.sparkContext.addSparkListener(metricsListener)

    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).filter(_ > 0).sum
    }

    def measure(mk: () => org.apache.spark.sql.DataFrame): Entry = {
      org.apache.spark.graftbridge.ListenerDrain.drain(spark.sparkContext)
      metricsListener.snapshotAndReset()
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      var rows = -1L
      var strategy = "err"
      try {
        // Force EVERY output column through a checksum, not
        // groupBy().count(): under a bare count, column pruning deletes
        // any computation the row count doesn't depend on — a window
        // rank that is projected but never filtered, session ids, EWMA
        // values — and the "measurement" collapses to a parquet count
        // (caught in r5: event_sessionize at s10 read 0.20 s flat).
        // xxhash64 over the full row struct makes all columns
        // load-bearing; its per-row cost is noise next to the operator.
        val df = mk()
        val agg = df.agg(count(lit(1)).as("n"),
          // cast to double: a BIGINT sum of hashes overflows, and under
          // ANSI (Spark 4 default) that throws instead of wrapping
          sum(xxhash64(struct(df.columns.map(col): _*)).cast("double")).as("chk"))
        // collect(), not head(): head() runs a separate limit(1) plan,
        // leaving this plan's AQE unfinalized — the strategy field must
        // be the FINAL adaptive plan
        rows = agg.collect()(0).getLong(0)
        strategy = Bench.joinStrategies(agg.queryExecution.executedPlan.toString)
      } catch {
        case e: Throwable => System.err.println(s"[stress] failed: $e")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val gcSec = (gcMillis() - gc0) / 1e3
      org.apache.spark.graftbridge.ListenerDrain.drain(spark.sparkContext)
      val m = metricsListener.snapshotAndReset()
      spark.catalog.clearCache()
      Q.drainCheckpoints(spark)
      System.gc()
      Entry(if (rows >= 0) sec else -1.0, rows, strategy, gcSec, m.cpuShare)
    }

    /** Times a driver-side action that is NOT a DataFrame collect (the
      * Bloom build: count + bloom aggregate) under the same
      * drain/GC/cpu-share discipline as measure(); `body` returns the
      * row count to record (the filter's sized-for gram count). */
    def measureRaw(body: () => Long, strategy: String): Entry = {
      org.apache.spark.graftbridge.ListenerDrain.drain(spark.sparkContext)
      metricsListener.snapshotAndReset()
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      var rows = -1L
      try rows = body()
      catch { case e: Throwable => System.err.println(s"[stress] failed: $e") }
      val sec = (System.nanoTime() - t0) / 1e9
      val gcSec = (gcMillis() - gc0) / 1e3
      org.apache.spark.graftbridge.ListenerDrain.drain(spark.sparkContext)
      val m = metricsListener.snapshotAndReset()
      spark.catalog.clearCache()
      Q.drainCheckpoints(spark)
      System.gc()
      Entry(if (rows >= 0) sec else -1.0, rows,
        if (rows >= 0) strategy else "err", gcSec, m.cpuShare)
    }

    // name -> scale -> entry, insertion-ordered for stable JSON
    val results = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[String, Entry]]
    // dedup_components_lsh fixpoint rounds per scale (VERDICT r5 item 2)
    val ccRounds = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // "query:scale" -> sizing note for points measured under a conf
    // that differs from the sweep default (ADVICE r14: the s100 arms'
    // per-corpus shuffle/broadcast sizing must ride in the artifact
    // beside the fits that consume those points).
    val confNotes = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def fmt(d: Double): String =
      if (d.isNaN || d.isInfinite) "null"
      else (math.round(d * 1000) / 1000.0).toString
    // Least-squares slope of ln(y) on ln(scale factor) over every scale
    // with a valid measurement — the growth exponent.
    def fitSlope(pts: Seq[(Double, Double)]): Double =
      if (pts.size < 2) Double.NaN
      else {
        val n = pts.size
        val mx = pts.map(_._1).sum / n
        val my = pts.map(_._2).sum / n
        val den = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
        if (den == 0) Double.NaN
        else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / den
      }
    def renderJson(): String = {
      val qJson = results.map { case (name, byScale) =>
        val eTime = fitSlope(scales.flatMap { case (s, f) =>
          byScale.get(s).filter(_.sec > 0).map(e => (math.log(f), math.log(e.sec))) })
        val eRows = fitSlope(scales.flatMap { case (s, f) =>
          byScale.get(s).filter(_.rows > 0).map(e => (math.log(f), math.log(e.rows.toDouble))) })
        val secPerMrow = byScale.map { case (s, e) =>
          val v = if (e.rows > 0) e.sec / (e.rows / 1e6) else Double.NaN
          s""""$s":${fmt(v)}"""
        }.mkString("{", ",", "}")
        val entries = byScale.map { case (s, e) =>
          s""""$s":{"sec":${fmt(e.sec)},"rows":${e.rows},""" +
            s""""strategy":"${e.strategy}","gc_sec":${fmt(e.gcSec)},""" +
            s""""cpu_share":${fmt(e.cpuShare)}}"""
        }.mkString(",")
        s""""$name":{$entries,"e_time":${fmt(eTime)},"e_rows":${fmt(eRows)},""" +
          s""""sec_per_mrow":$secPerMrow}"""
      }.mkString("{", ",", "}")
      val sizes = scales.map { case (s, f) =>
        val present = Seq(
          "docs" -> ("documents", 10000L * f.toInt),
          "embeddings" -> ("embeddings", 20000L * f.toInt),
          "lineitem" -> ("lineitem", 600000L * f.toInt),
          "orders" -> ("orders", 150000L * f.toInt))
          .collect { case (k, (t, n)) if dirExists(s"$root/$s/$t.parquet") =>
            s""""$k":$n""" }
        s""""$s":{${present.mkString(",")},"skew":${dirExists(s"$root/$s/skew")}}"""
      }.mkString("{", ",", "}")
      val ccJson = ccRounds.map { case (s, n) => s""""$s":$n""" }
        .mkString("{", ",", "}")
      val confJson = confNotes.map { case (k, v) => s""""$k":"$v"""" }
        .mkString("{", ",", "}")
      s"""{"metric":"stress","unit":"sec","scales":$sizes,""" +
        s""""queries":$qJson,"cc_rounds":$ccJson,""" +
        s""""conf_notes":$confJson,"root":"$root"}"""
    }
    val out = sys.env.getOrElse("SPARK_GRAFT_STRESS_OUT", "BENCH_stress.json")
    // Flush the artifact after EVERY recorded row (r14): the r14 s100
    // NND attempt OOM'd an executor thread, SparkUncaughtExceptionHandler
    // halted the JVM, and the end-of-run write never happened — a
    // 50-minute sweep lost to its last row. The file is small (~50 KB)
    // and the sweep is idle-host by contract, so the per-row rewrite is
    // free; a dying row now costs exactly itself.
    def writeOut(): Unit =
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(out), renderJson() + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[stress] write $out failed: $e") }
    def record(name: String, scale: String, e: Entry): Unit = {
      results.getOrElseUpdate(name,
        scala.collection.mutable.LinkedHashMap.empty[String, Entry])(scale) = e
      println(f"[stress] $scale%-4s $name%-28s ${e.sec}%8.2f s  " +
        f"rows=${e.rows}%-10d gc=${e.gcSec}%5.2f cpu=${e.cpuShare}%5.2f  ${e.strategy}")
      writeOut()
    }

    // UNTIMED warmup: the first sweep's s1 column was first-touch
    // polluted (JIT, codegen compile, parquet footer caches — minhash_lsh
    // read 5.9 s at s1 vs 1.7 s at 3× the data). One full pass of the
    // suite at the SMALLEST EXISTING scale (ADVICE r5: a hardcoded s1
    // with s1 absent would just log failures and the first measured
    // scale would re-absorb the first-touch cost) pays all of that
    // outside the timed loop, so the exponents fit ALGORITHMIC growth.
    val warmDir = s"$root/${scales.head._1}"
    sources.CatalogStats.registerAndAnalyze(spark, warmDir)
    for (name <- stressQueries)
      measure(() => SparkEntry.queries(name)(spark, warmDir))
    measure(() => simjoinAutoNearDup(spark, warmDir))
    measure(() => decontBloom(spark, warmDir))
    measure(() => llm.Dedup.lshCandidates(Tables.documents(spark, warmDir)))
    measure(() => llm.Similarity.lshCandidates(Tables.embeddings(spark, warmDir)))
    measure(() => llm.Similarity.ivfCandidates(spark, warmDir))
    measure(() => llm.Similarity.semanticCandidates(
      Tables.embeddings(spark, warmDir)))
    measure(() => llm.Dedup.connectedComponents(
      llm.Dedup.minhashLsh(Tables.documents(spark, warmDir), 0.95)))

    for ((scale, _) <- uniformScales) {
      val dir = s"$root/$scale"
      // Untimed per-scale ANALYZE: each scale's measurements plan on
      // that scale's TRUE rowCounts (the load-time contract); the
      // counting scans happen outside every measured window.
      sources.CatalogStats.registerAndAnalyze(spark, dir)
      for (name <- stressQueries)
        record(name, scale, measure(() => SparkEntry.queries(name)(spark, dir)))
      record("simjoin_auto_nd09", scale,
        measure(() => simjoinAutoNearDup(spark, dir)))
      record("pipeline_decont_bloom", scale,
        measure(() => decontBloom(spark, dir)))
      // The decont crossover (VERDICT r5 item 5): exact arm beside the
      // bloom arm, plus the bloom BUILD alone (its load-time cost; probe
      // ≈ the bloom row minus this) — three curves that locate where
      // bloom starts paying.
      record("pipeline_decont_exact", scale,
        measure(() => decontExact(spark, dir)))
      record("decont_bloom_build", scale, measureRaw(
        () => llm.Curate.buildHoldoutBloom(Tables.documents(spark, dir))._2,
        "bloom_build"))
      // LSH candidate-pair counts via the operators' own candidate stages
      record("minhash_lsh_candidates", scale,
        measure(() => llm.Dedup.lshCandidates(Tables.documents(spark, dir))))
      record("embed_lsh_candidates", scale,
        measure(() => llm.Similarity.lshCandidates(Tables.embeddings(spark, dir))))
      // IVF probe-scan volume BEFORE rerank — the fraction-shrink claim:
      // rows ≈ 10 probes × n × nprobe/nlist ≈ n^¾ ⇒ e_rows ≈ 0.75.
      record("ann_ivf_candidates", scale,
        measure(() => llm.Similarity.ivfCandidates(spark, dir)))
      // SemDeDup's blocked pair volume BEFORE the cosine filter — the
      // Σ|cluster|² ≈ n^1.5 claim measured directly (vs the exact arm's
      // n²): e_rows ≈ 1.5 by design, and the gap to 2.0 is the win.
      record("semantic_candidates", scale,
        measure(() => llm.Similarity.semanticCandidates(
          Tables.embeddings(spark, dir))))
      // Iterative-shuffle evidence (VERDICT r5 item 2): components over
      // the LSH pair graph — the 100 TB composition (the registry
      // entry's exact-jaccard pair source is the small-corpus oracle
      // arm; its scale twin feeds the same clustering step here). The
      // cost model is fixpoint rounds × one full join+agg shuffle, so
      // BOTH seconds and rounds are recorded (cc_rounds below): constant
      // near-dup diameters must keep rounds flat as the corpus grows.
      // Reset the rounds probe BEFORE the run and record it only on
      // success (ADVICE r6): measure() swallows exceptions, so a failed
      // scale would otherwise re-record the previous scale's count and
      // fabricate the flat-rounds evidence this row exists to provide.
      llm.Dedup.lastCcRounds = -1
      val ccEntry = measure(() => llm.Dedup.connectedComponents(
        llm.Dedup.minhashLsh(Tables.documents(spark, dir), 0.95)))
      record("dedup_components_lsh", scale, ccEntry)
      if (ccEntry.rows >= 0) ccRounds(scale) = llm.Dedup.lastCcRounds
    }

    // Multi-probe kNN graph: smallest [[knnGraphScales]] scales only —
    // see the constant's Scaladoc for why. Runs after the main
    // per-scale loops (ADVICE r10: the recall-curve and s100 blocks
    // follow it), so the JVM/parquet caches are thoroughly warm; the
    // row's unique codegen compiles once inside the s1 window (~2% of
    // its 12 s) — accepted rather than adding a warmup the committed
    // artifact predates. knn_graph_refine (r11) rides the same scales:
    // its seed IS knn_graph_blocked, so the pair of rows prices
    // seed-vs-refined at identical corpus sizes; the refinement's own
    // claim is the LINEAR n·k² candidate class per round (vs the
    // seed's n^1.75), so its e_time fit should sit near the seed's
    // lower edge despite doing strictly more work.
    for ((scale, _) <- uniformScales.take(knnGraphScales)) {
      val dir = s"$root/$scale"
      sources.CatalogStats.registerAndAnalyze(spark, dir)
      record("knn_graph_blocked", scale,
        measure(() => SparkEntry.queries("knn_graph_blocked")(spark, dir)))
      record("knn_graph_refine", scale,
        measure(() => SparkEntry.queries("knn_graph_refine")(spark, dir)))
    }

    // The linear arm reaches further than its super-linear siblings —
    // see [[nndBuildScales]].
    for ((scale, _) <- uniformScales.take(nndBuildScales)) {
      val dir = s"$root/$scale"
      sources.CatalogStats.registerAndAnalyze(spark, dir)
      record("knn_graph_nnd", scale,
        measure(() => SparkEntry.queries("knn_graph_nnd")(spark, dir)))
    }

    // r12: the composed NND-family rows (VERDICT r11 #1/#3) — local
    // clustering and D4 diversity selection priced over the SAME
    // linear edge build the rest of the family rides.
    // graph_triangles_nnd is the one-line composition
    // triangles(knnGraphNnd edges): the wedge join fans by oriented
    // out-degree (bounded by the graph's k), so its growth class
    // should be its edge source's — this row measures the m^1.5
    // wedge-fan claim at the scales the NND family reaches.
    // graph_diversity_select_nnd is the registry row (NND edges →
    // pagerank → edge-derived near-dup drop → approx-quantile
    // cutoff). Both gated RELATIVE to the co-measured knn_graph_nnd
    // source in artifact_check (≤ source + 0.3, the
    // graph_pagerank_nnd precedent).
    // r16 (VERDICT r15 #5): triangles follows the family frontier to
    // s30 — nndBuildScales like its edge source (the wedge fan is
    // bounded by the graph's k, so the extra half-decade prices the
    // same linear build + bounded fan).
    for ((scale, _) <- uniformScales.take(nndBuildScales)) {
      val dir = s"$root/$scale"
      sources.CatalogStats.registerAndAnalyze(spark, dir)
      record("graph_triangles_nnd", scale,
        measure(() => llm.Graph.triangles(
          llm.Similarity.knnGraphNnd(Tables.embeddings(spark, dir), 3)
            .select(col("src"), col("dst")))))
    }
    // r13 (VERDICT r12 #5): diversity selection follows its edge
    // source to the s30 frontier — [[nndBuildScales]], one half-decade
    // past the other composed rows; its gate in artifact_check is the
    // fit RELATIVE to the co-measured knn_graph_nnd over the same span.
    for ((scale, _) <- uniformScales.take(nndBuildScales)) {
      val dir = s"$root/$scale"
      sources.CatalogStats.registerAndAnalyze(spark, dir)
      record("graph_diversity_select_nnd", scale,
        measure(() =>
          SparkEntry.queries("graph_diversity_select_nnd")(spark, dir)))
    }

    // r13 (VERDICT r12 #1): price the components family. The linear
    // arm (thresholded NND edges → shared CC fixpoint) rides
    // [[nndBuildScales]] like the other composed rows; its artifact_check
    // gate is relative to the co-measured knn_graph_nnd source. The
    // fixpoint STEP count per scale lands in cc_rounds under
    // "knn_<scale>" (beside the near-dup series): with the r13
    // Shiloach–Vishkin closure+hook arm the count is bounded
    // ~ccJumpAfter + O(log n) even though this graph class chains
    // with permuted ids (measured 21 at s1 vs 88 for naive
    // member-propagate), so the series must stay under the 40-step
    // artifact envelope — a linearly growing series here is the
    // exact regression the planted-chain test guards in miniature.
    // r14 (VERDICT r13 #2): the components arm and its step series now
    // ride [[nndBuildScales]] — the same s30 frontier as its edge
    // source and the diversity composition, closing the family at one
    // standard; cc_rounds gains the knn_s30 point the O(log n) claim
    // was missing past s10.
    for ((scale, _) <- uniformScales.take(nndBuildScales)) {
      val dir = s"$root/$scale"
      sources.CatalogStats.registerAndAnalyze(spark, dir)
      llm.Dedup.lastCcRounds = -1
      val compEntry = measure(() =>
        SparkEntry.queries("graph_components_nnd")(spark, dir))
      record("graph_components_nnd", scale, compEntry)
      if (compEntry.rows >= 0)
        ccRounds(s"knn_$scale") = llm.Dedup.lastCcRounds
    }
    // The exact arm anchors at s1 only: its edge build is the n² exact
    // kNN graph — a larger point would re-price a known-quadratic
    // stage (the knn_graph_blocked precedent), while the s1 row pins
    // the absolute cost next to the linear arm's s1 for the
    // exact-vs-linear read.
    for ((scale, _) <- uniformScales.take(1)) {
      val dir = s"$root/$scale"
      sources.CatalogStats.registerAndAnalyze(spark, dir)
      record("graph_components_knn", scale,
        measure(() =>
          SparkEntry.queries("graph_components_knn")(spark, dir)))
    }
    // r13b: the co-purchase components row rides the full uniform
    // span — its lineitem-side cost is the linear within-order pair
    // fan (order size bounded ~7), while the EDGE set saturates
    // (StressGen reuses the s1 part key space, so co-occurrence
    // counts inflate and the graph densifies toward one giant
    // component) — the graph_pagerank corpus shape: the row prices a
    // linear scan + the SV fixpoint on a growing-density graph. Step
    // counts land in cc_rounds under "cp_<scale>" beside the knn_*
    // series, same 40-step envelope.
    for ((scale, _) <- uniformScales) {
      val dir = s"$root/$scale"
      sources.CatalogStats.registerAndAnalyze(spark, dir)
      llm.Dedup.lastCcRounds = -1
      val cpEntry = measure(() =>
        SparkEntry.queries("graph_components_copurchase")(spark, dir))
      record("graph_components_copurchase", scale, cpEntry)
      if (cpEntry.rows >= 0)
        ccRounds(s"cp_$scale") = llm.Dedup.lastCcRounds
      // r14: the weighted-centrality sibling over the SAME pair fan
      // (shared copurchaseEdges spelling) — prices the weighted rank
      // split on the saturating co-occurrence graph across the full
      // span; expected class = graph_pagerank's (linear pair scan +
      // bounded fixpoint), gated ≤ 1.2 in artifact_check like its
      // uniform parent.
      record("graph_pagerank_copurchase", scale,
        measure(() =>
          SparkEntry.queries("graph_pagerank_copurchase")(spark, dir)))
      // r15: the composed seeded+weighted rank and the hop-distance row
      // over the SAME pair fan — both the linear-scan + bounded-rounds
      // class of their parents (PPR's per-node seed terms are literals;
      // BFS is ≤ BfsMaxHops frontier joins), gated ≤ 1.2 in
      // artifact_check like graph_pagerank_copurchase.
      record("graph_ppr_weighted", scale,
        measure(() =>
          SparkEntry.queries("graph_ppr_weighted")(spark, dir)))
      record("graph_bfs_seeds", scale,
        measure(() =>
          SparkEntry.queries("graph_bfs_seeds")(spark, dir)))
    }
    // graph_ppr rides the priced graph_pagerank machinery (plan delta
    // = the seed-anchored teleport/dangling terms on the node spine),
    // so it spans the full uniform range like its parent; the pair of
    // rows reading ~equal per scale IS the evidence the seeded
    // variant adds no growth class. The stress corpus has no customer
    // table (StressGen writes only the tables the sweep families
    // read), so the seed frame anchors on the same ten customers via
    // orders' o_custkey — identical seeds whenever custkeys 1..10
    // have orders (they do in this corpus), and the registry plan
    // shape either way (the decontBloom local-composition precedent).
    for ((scale, _) <- uniformScales) {
      val dir = s"$root/$scale"
      sources.CatalogStats.registerAndAnalyze(spark, dir)
      // ADVICE r13: the arm shares Graph.pprOver with the registry row
      // (one spelling; only the seed DERIVATION differs, because this
      // corpus has no customer table), so a registry change re-prices
      // here automatically instead of silently diverging.
      record("graph_ppr", scale,
        measure(() => llm.Graph.pprOver(spark, dir,
          Tables.orders(spark, dir).filter(col("o_custkey") <= 10)
            .select((col("o_custkey") * 2).as("node")))))
    }

    // r11 graph family. graph_pagerank = 10 fixed integer-PageRank
    // rounds over the customer→supplier digraph. In THIS corpus the
    // replicated orders reuse the s1 customer/supplier key spaces
    // (StressGen shifts order keys only), so the distinct edge set
    // saturates toward the bipartite limit while the lineitem⋈orders
    // derivation scan grows ×factor — the row prices the linear scan
    // plus a bounded-node fixpoint (artifact_check gates e_time ≤ 1.2:
    // the ≈1 analytic bar for the scan plus host-noise margin; per
    // round the cost stays one rank-by-node shuffle join + one
    // map-side-combined contribution agg, the 100 TB round shape).
    // graph_pagerank_nnd rides nndBuildScales: the composed 100 TB arm of
    // kNN-graph centrality — knn_graph_nnd's LINEAR edge build over a
    // node set that DOES grow ×factor (embeddings replicate with
    // fresh ids) + the same 10 rounds; its fit should sit near its
    // edge source's (the rounds add O(n·k) work per round).
    for ((scale, _) <- uniformScales) {
      val dir = s"$root/$scale"
      sources.CatalogStats.registerAndAnalyze(spark, dir)
      record("graph_pagerank", scale,
        measure(() => SparkEntry.queries("graph_pagerank")(spark, dir)))
    }
    // r16 (VERDICT r15 #5): the composed centrality arm closes at the
    // family frontier — nndBuildScales here (s30), its s100 point in
    // the fresh-context block at the sweep's end.
    for ((scale, _) <- uniformScales.take(nndBuildScales)) {
      val dir = s"$root/$scale"
      sources.CatalogStats.registerAndAnalyze(spark, dir)
      record("graph_pagerank_nnd", scale,
        measure(() => SparkEntry.queries("graph_pagerank_nnd")(spark, dir)))
    }

    // ---- ann_pq recall-vs-rerank-width curve (VERDICT r8 item 5) ----
    // Ground truth is the exact bruteTopK per width; recall is recorded
    // in BASIS POINTS in the rows field (10000 = 1.00) so the curve
    // sits in the artifact next to the PQ timing rows. Measured at the
    // smallest and (when present) a mid uniform scale — recall is a
    // per-probe neighborhood property, so the two points pin that it
    // does not collapse as the corpus grows.
    // ONE harness run per scale for the whole curve (r9): the exact
    // bruteTopK ground truth and the PQ training dominate the cost and
    // are width-independent, so per-width timings would price the
    // shared harness, not the width under measurement — recallCurve's
    // widths parameter exists precisely to amortize them. The four
    // rows share that one measured wall time; recall (the rows field,
    // basis points) is the gated claim. distinct guards the degenerate
    // case where s10 is also the smallest existing scale.
    for ((scale, _) <- (uniformScales.headOption.toSeq ++
        uniformScales.find(_._1 == "s10").toSeq).distinct) {
      val dir = s"$root/$scale"
      sources.CatalogStats.registerAndAnalyze(spark, dir)
      val t0 = System.nanoTime()
      val curve =
        try recallCurve(spark, dir, 5, Seq(16, 32, 64, 128))
        catch { case e: Throwable =>
          System.err.println(s"[stress] pq_recall failed: $e"); Nil }
      val sec = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Q.drainCheckpoints(spark)
      System.gc()
      for ((w, r) <- curve)
        record(s"ann_pq_recall_w$w", scale,
          Entry(sec, math.round(r * 10000), "pq_recall", 0.0, 1.0))
      // ---- ann_ivfpq recall-vs-nprobe curve (r10) ----
      // The r9 verdict's diagnosis made a testable claim: the composed
      // index's recall ceiling is the IVF stage's bucket recall, so
      // "raising the gate means raising nprobe, not rerankFactor".
      // This curve measures what the nprobe knob actually buys (recall
      // in basis points in the rows field, same convention as the PQ
      // width curve; one shared wall time per scale — ground truth and
      // the k-means/PQ builds dominate and are nprobe-independent).
      val t1 = System.nanoTime()
      // Whole block inside the try (ground truth included, like the PQ
      // curve): a collect failure here must cost this curve, never the
      // rest of the sweep. The per-np rebuild re-runs the nprobe-
      // independent k-means/PQ builds 4×; accepted — the block is
      // ~30 s/scale at two scales, and threading a shared build
      // through annIvfPq would complicate the measured operator for a
      // harness-only saving.
      // The DEFAULT-geometry point rides beside the fixed-nprobe curve
      // (VERDICT r10 #3): the curve's fixed probes are a SHRINKING
      // fraction of nlist ≈ √n as the corpus grows, so its mid-points
      // legitimately fall with scale — the claim that needed measuring
      // is that the default nprobe ≈ 1.5·√nlist (which GROWS with the
      // corpus) holds recall as n grows. Recorded as
      // ann_ivfpq_recall_default, gated in artifact_check (≥ 0.8 at the
      // smallest scale; within 200 bp of the fixed-p16 point wherever
      // both exist — the tolerance absorbs k-means build jitter between
      // the two independently-trained indexes; measured margin is
      // +1200 bp at s10, nowhere near it).
      val npCurve =
        try {
          val exact = llm.Similarity.bruteTopK(spark, dir, 5)
            .selectExpr("probe_id", "vec_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          def recallAt(np: Option[Int]): Double = {
            val got = llm.Similarity.annIvfPq(spark, dir, 5,
                nprobeOverride = np)
              .selectExpr("probe_id", "vec_id").collect()
              .map(r => (r.getLong(0), r.getLong(1))).toSet
            (exact & got).size.toDouble / exact.size
          }
          Seq(2, 4, 8, 16).map(np => (s"p$np", recallAt(Some(np)))) :+
            ("default", recallAt(None))
        }
        catch { case e: Throwable =>
          System.err.println(s"[stress] ivfpq_nprobe failed: $e"); Nil }
      val sec1 = (System.nanoTime() - t1) / 1e9
      spark.catalog.clearCache()
      Q.drainCheckpoints(spark)
      System.gc()
      for ((label, r) <- npCurve)
        record(s"ann_ivfpq_recall_$label", scale,
          Entry(sec1, math.round(r * 10000), "ivfpq_nprobe", 0.0, 1.0))
    }

    // ---- s100: banded families only (VERDICT r5 item 8) ----
    // Half an order of magnitude more span for the queries whose scale
    // story is the product's thesis: banded MinHash, hyperplane LSH,
    // the auto arms' LSH side, and the Bloom decontamination arm. The
    // corpus carries only documents (1 M) + embeddings (2 M); the
    // relational families stop at s30.
    for ((scale, _) <- s100) {
      val dir = s"$root/$scale"
      sources.CatalogStats.registerAndAnalyze(spark, dir)
      for (name <- Seq("minhash_lsh", "tokjoin_auto", "embed_lshpairs",
          "embed_pq", "ann_pq"))
        record(name, scale, measure(() => SparkEntry.queries(name)(spark, dir)))
      record("simjoin_auto_nd09", scale,
        measure(() => simjoinAutoNearDup(spark, dir)))
      record("pipeline_decont_bloom", scale,
        measure(() => decontBloom(spark, dir)))
      // s100 is where the auto gate's crossover lands (estimated holdout
      // grams ≈ 17 M > the 8 M broadcast row budget): the exact arm here
      // measures what auto is escaping FROM, the registry default
      // (pipeline_decontaminate, auto) picks bloom on its own.
      record("pipeline_decont_exact", scale,
        measure(() => decontExact(spark, dir)))
      record("pipeline_decontaminate", scale,
        measure(() => SparkEntry.queries("pipeline_decontaminate")(spark, dir)))
      record("decont_bloom_build", scale, measureRaw(
        () => llm.Curate.buildHoldoutBloom(Tables.documents(spark, dir))._2,
        "bloom_build"))
      record("minhash_lsh_candidates", scale,
        measure(() => llm.Dedup.lshCandidates(Tables.documents(spark, dir))))
      record("embed_lsh_candidates", scale,
        measure(() => llm.Similarity.lshCandidates(Tables.embeddings(spark, dir))))
    }
    // (knn_graph_nnd's s100 point runs LAST, after the skew sweep —
    // see that block for the JVM-halt rationale.)

    // ---- Zipf-skew sweep (VERDICT r5 item 3) ----
    // The uniform corpus's pass bar (per-key work invariant, e_time ≈ 1)
    // deliberately cannot see hot keys; these dirs re-key events/orders/
    // lineitem with a Zipf draw (hottest key ~5 % of ALL rows at every
    // scale — StressGen.writeSkew). Measured arms:
    //  - join_salted_skew: the MANUAL arm — salt spreads the hot join
    //    key across reducers, so e_time ≤ ~1.1 is the pass bar;
    //  - join_plain_skew: the UNSALTED shuffle join under AQE — the pass
    //    marker is the `+skew` strategy suffix (OptimizeSkewedJoin split
    //    the hot partition at stress scale, not just in PlanShapeSpec);
    //  - event_sessionize_skew / topk_per_group_skew: per-key windows,
    //    where the hot key's work is inherently serial (a session is a
    //    time-ordered scan of ONE user) — recorded as the honest cost of
    //    skew on window operators, with AQE unable to help.
    // Broadcast is disabled for the two joins: at 100 TB neither side
    // broadcasts, and a broadcast join has no skew problem to measure.
    // AQE's skew gates shrink WITH the corpus (8 MB threshold, factor 2
    // vs the hot partition's ~2.5× median here): at 100 TB the DEFAULT
    // gates (256 MB, 5×) trip on the same code path — a 5 % hot key is
    // a multi-TB partition.
    val skewScales = uniformScales.filter { case (s, _) =>
      dirExists(s"$root/$s/skew") }
    if (skewScales.nonEmpty) {
      val skewConfs = Seq(
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
          (8L * 1024 * 1024).toString,
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
          (4L * 1024 * 1024).toString,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val savedSkew = skewConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
      skewConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val warmSkew = s"$root/${skewScales.head._1}/skew"
        for (name <- Seq("event_sessionize", "topk_per_group", "join_salted"))
          measure(() => SparkEntry.queries(name)(spark, warmSkew))
        measure(() => plainShuffleJoin(spark, warmSkew))
        for ((scale, _) <- skewScales) {
          val dir = s"$root/$scale/skew"
          for (name <- Seq("event_sessionize", "topk_per_group", "join_salted"))
            record(s"${name}_skew", scale,
              measure(() => SparkEntry.queries(name)(spark, dir)))
          record("join_plain_skew", scale,
            measure(() => plainShuffleJoin(spark, dir)))
        }
      } finally savedSkew.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    // r14 (VERDICT r13 #3): the flagship LINEAR claim measured a full
    // half-decade past everything so far — the NN-descent build over
    // the 2 M-vector s100 corpus. Runs LAST, alone: the first attempt
    // OOM'd the executor threads and halted the JVM (an uncatchable
    // SparkUncaughtExceptionHandler exit), so the riskiest row must not
    // be able to cost anything but itself (the per-row writeOut above
    // preserves everything before it). Two confs are sized for the
    // corpus, exactly as a deployment would size them (the brief's
    // "size shuffle partitions / broadcast gates at the target SF").
    // They are NOT restored — these are the sweep's last arms by design
    // — and the sizing discontinuity vs the s1–s30 points (32 shuffle
    // partitions, 256 MB broadcast gate, shared context) is recorded
    // per-point in the artifact's conf_notes field, next to the fits
    // that consume the s100 numbers (ADVICE r14: a least-squares
    // exponent whose largest point ran under different sizing must say
    // so in the artifact, not in a code comment):
    //  - broadcastSideMaxBytes 256 MB → 1.5 GB: at 2 M vectors the
    //    embedding attach frame (~600 MB) exceeds the conservative
    //    cluster default, and the SMJ fallback SORTS the ~300 M-pair
    //    candidate stream WITH a 64-float payload attached — a ~90 GB
    //    spill that filled the disk (measured; the 16 g run before it
    //    OOM'd in the same stage). Broadcasting the vector table is
    //    the FAISS memory model: the wide stream never moves, only the
    //    narrow (src, dst, cos) streams shuffle.
    //  - shuffle partitions 32 → 128: the ~1.1 G-row/round refine
    //    candidate stream at 32 partitions puts ~35 M-row working sets
    //    on each concurrent task.
    // Launch the sweep at -Xmx32g (the broadcast + torrent blocks need
    // the headroom; 16 g measured insufficient even before this stage).
    for ((scale, _) <- s100) {
      val dir = s"$root/$scale"
      // Fresh CONTEXT, same warm JVM: 75 minutes of sweep leave the
      // block manager holding reachable-but-uncollected broadcast
      // pieces (the r10 "accumulated broadcast debt" class), and the
      // second r14 attempt died building this arm's 600 MB embedding
      // broadcast on exactly that debt while the standalone run passed
      // in a fresh JVM. Restarting the SparkContext resets the block
      // manager deterministically; JIT/codegen/parquet-footer warmth
      // lives in the JVM and survives.
      def s100Session(): Unit = {
        Q.drainCheckpoints(spark)
        spark.stop()
        spark = freshSession()
        spark.sparkContext.addSparkListener(metricsListener)
        sources.CatalogStats.registerAndAnalyze(spark, dir)
        spark.conf.set("spark.sql.shuffle.partitions", "128")
        spark.conf.set(Q.BroadcastSideMaxBytesKey,
          (1536L * 1024 * 1024).toString)
      }
      val s100Conf = "shuffle.partitions=128, broadcastSideMaxBytes=1.5g, " +
        "fresh SparkContext (s1-s30 points: 32 / 256m, shared context)"
      s100Session()
      confNotes(s"knn_graph_nnd:$scale") = s100Conf
      record("knn_graph_nnd", scale,
        measure(() => SparkEntry.queries("knn_graph_nnd")(spark, dir)))
      // r15 (VERDICT r14 #1 of the frontier asks): the composed
      // components arm priced at its EDGE SOURCE's scale — the one
      // graph class that chains gets its SV step-series point at 2 M
      // nodes (cc_rounds knn_s100), where O(log n) could finally bend.
      // Its own fresh context: the NND build above leaves ~650 s of
      // broadcast/checkpoint debt, exactly the class the restart
      // exists to clear.
      s100Session()
      llm.Dedup.lastCcRounds = -1
      confNotes(s"graph_components_nnd:$scale") = s100Conf
      val compEntry = measure(() =>
        SparkEntry.queries("graph_components_nnd")(spark, dir))
      record("graph_components_nnd", scale, compEntry)
      if (compEntry.rows >= 0)
        ccRounds(s"knn_$scale") = llm.Dedup.lastCcRounds
      // r16 (VERDICT r15 #5): the composed centrality arm at 2 M nodes
      // — the last composed row behind the family frontier. Same
      // fresh-context + corpus sizing recipe; the s100 point joins the
      // s1–s30 series under the relative gate (e ≤ source + 0.3).
      // graph_triangles_nnd deliberately stops at s30: its wedge fan
      // is the same bounded-k class the s30 point already prices, and
      // a third ~15-minute s100 arm buys no new growth information
      // for its cost (the containment trade recorded here, not
      // silently).
      s100Session()
      confNotes(s"graph_pagerank_nnd:$scale") = s100Conf
      record("graph_pagerank_nnd", scale,
        measure(() => SparkEntry.queries("graph_pagerank_nnd")(spark, dir)))
    }
    // ADVICE r15: restore the s100 sizing confs once the block ends —
    // correct-by-ordering is a trap for any arm later appended after
    // this loop (it would silently run under s100 sizing with no
    // conf_notes entry). conf_notes already records the s100 sizing
    // per-point, so restoration costs nothing.
    if (s100.nonEmpty) {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.conf.set(Q.BroadcastSideMaxBytesKey,
        (256L * 1024 * 1024).toString)
    }

    val line = renderJson()
    println(line)
    writeOut()
    spark.stop()
  }
}
