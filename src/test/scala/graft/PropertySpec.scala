package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._

/** ScalaCheck-generator-driven properties (SURVEY.md §5.3) over generated
  * frames: dedup idempotence, Jaccard algebra, set-op algebra, running-sum
  * invariant. Sampling uses fixed seeds (no scalatest bridge dependency,
  * and deterministic across runs). */
class PropertySpec extends SparkSpec {

  private val params = Gen.Parameters.default

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).map(i => g.pureApply(params, Seed(42L + i)))

  private val docsGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(1, 30)
    texts <- Gen.listOfN(n, Gen.nonEmptyListOf(
      Gen.oneOf("join", "scan", "filter", "agg", "sort", "window", "merge"))
      .map(_.mkString(" ")))
  } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  test("exact dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    val s = spark
    import s.implicits._
    samples(docsGen, 8).foreach { rows =>
      val df = rows.toDF("doc_id", "text")
      def dedup(d: org.apache.spark.sql.DataFrame) = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
        d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      }
      val once = dedup(df)
      val twice = dedup(once)
      assert(once.count() === twice.count())
      assert(once.select(coalesce(sum(col("doc_id")), lit(0L))).head.getLong(0) ===
        twice.select(coalesce(sum(col("doc_id")), lit(0L))).head.getLong(0))
    }
  }

  test("jaccard_sorted is symmetric, bounded, and 1.0 on self") {
    val s = spark
    import s.implicits._
    val arrGen = Gen.nonEmptyListOf(Gen.choose(-1000L, 1000L)).map(_.distinct.sorted)
    samples(Gen.zip(arrGen, arrGen), 25).foreach { case (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val r = df.select(
        graft.plans.VectorExprs.jaccardSorted(col("a"), col("b")),
        graft.plans.VectorExprs.jaccardSorted(col("b"), col("a")),
        graft.plans.VectorExprs.jaccardSorted(col("a"), col("a")))
        .head
      val (ab, ba, aa) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      assert(ab === ba)
      assert(ab >= 0.0 && ab <= 1.0)
      assert(aa === 1.0)
    }
  }

  test("set algebra: |A∩B| + |A\\B| == |A| on distinct key sets") {
    val s = spark
    import s.implicits._
    val keysGen = Gen.listOf(Gen.choose(0, 50)).map(_.distinct)
    samples(Gen.zip(keysGen, keysGen), 8).foreach { case (ka, kb) =>
      val a = ka.toDF("k")
      val b = kb.toDF("k")
      assert(a.intersect(b).count() + a.except(b).count() === ka.size)
    }
  }

  test("running sum's final row equals the group total (generated groups)") {
    val s = spark
    import s.implicits._
    val rowsGen = for {
      n <- Gen.choose(1, 40)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 3), Gen.choose(-100, 100)))
    } yield rows.zipWithIndex.map { case ((g, v), i) => (g, i, v) }
    samples(rowsGen, 8).foreach { rows =>
      val df = rows.toDF("g", "seq", "v")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("seq"))
        .rowsBetween(Long.MinValue, 0)
      val last = df.withColumn("run", sum(col("v")).over(w))
        .groupBy(col("g")).agg(max_by(col("run"), col("seq")).as("final"))
      val direct = df.groupBy(col("g")).agg(sum(col("v")).as("total"))
      val bad = last.join(direct, "g").filter(col("final") =!= col("total")).count()
      assert(bad === 0)
    }
  }

  test("range-join binning is exact: bin equi-join + residual equals the naive range join (generated days)") {
    val s = spark
    import s.implicits._
    val W = 30 // window/bin width, as in join_range_binned
    val daysGen = Gen.listOfN(40, Gen.choose(0, 120))
    samples(Gen.zip(daysGen, daysGen), 6).foreach { case (probeDays, buildDays) =>
      val probe = probeDays.zipWithIndex.map { case (d, i) => (i.toLong, d) }
        .toDF("pid", "pday")
      val build = buildDays.zipWithIndex.map { case (d, i) => (i.toLong, d) }
        .toDF("bid", "bday")
      // ground truth: naive quadratic range join
      val naive = probe.crossJoin(build)
        .filter(col("bday") >= col("pday") && col("bday") < col("pday") + W)
        .select("pid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // binned: probe explodes into its two overlapping bins, equi-join,
      // residual filter — must be EXACTLY the naive pair set
      val pb = probe.withColumn("bin0", floor(col("pday") / W))
        .withColumn("bin", explode(array(col("bin0"), col("bin0") + 1)))
      val bb = build.withColumn("bin", floor(col("bday") / W))
      val binned = pb.join(bb, "bin")
        .filter(col("bday") >= col("pday") && col("bday") < col("pday") + W)
        .select("pid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(binned === naive,
        s"missing=${(naive -- binned).take(5)} extra=${(binned -- naive).take(5)}")
    }
  }

  test("agg_approx_quantile tracks the exact percentile (rank error bounded by n/accuracy)") {
    // At sf0.001 each group's n ≪ accuracy=10⁶, so the sketch's rank
    // error bound (Greenwald-Khanna: ≤ n/accuracy) allows at most the
    // neighboring order statistic — relative value error stays tiny.
    // (Since r10 the row is also hash-oracled vs QUANTILE_DISC at the
    // verify sf; this test keeps the SKETCH property pinned.)
    val approx = SparkEntry.queries("agg_approx_quantile")(spark, sf0001)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val exact = Tables.lineitem(spark, sf0001)
      .groupBy(col("l_returnflag"))
      .agg(percentile(col("l_extendedprice"), lit(0.5)).as("p50"),
        percentile(col("l_extendedprice"), lit(0.9)).as("p90"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (g, (e50, e90)) =>
      val (a50, a90) = approx(g)
      assert(math.abs(a50 - e50) / e50 < 0.01, s"$g p50: approx $a50 vs exact $e50")
      assert(math.abs(a90 - e90) / e90 < 0.01, s"$g p90: approx $a90 vs exact $e90")
    }
  }

  test("SQL function surface: dot_f32 / jaccard_sorted usable from spark.sql") {
    graft.plans.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT dot_f32(array(cast(1.0 as float), cast(2.0 as float)),
        |              array(cast(3.0 as float), cast(4.0 as float))) AS d,
        |       jaccard_sorted(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS j,
        |       sig_match(array(1L, 2L, 3L), array(1L, 9L, 3L)) AS m""".stripMargin)
      .head
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 0.5)
    assert(r.getInt(2) === 2)
  }

  test("sample_weighted: per-weight-decile inclusion tracks PPS expectation (VERDICT r9)") {
    // Sequential Poisson sampling (Ohlsson 1998): P(doc i sampled) ≈
    // n·w_i/Σw for n ≪ N. The r9 LCG's correlated low bits could not
    // honestly claim this; the md5-derived u can, and this pins it:
    // group docs into weight deciles, compare observed inclusion
    // counts against Σπ_i per decile. Everything is deterministic
    // (fixed corpus, fixed hash), so the tolerances encode the PPS
    // property with sampling-noise headroom (~2·√exp), not the
    // specific draw.
    val docs = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1).toDouble))
    val n = 100
    val wSum = docs.map(_._2).sum
    val pi = docs.map { case (id, w) => id -> math.min(1.0, n * w / wSum) }.toMap
    val byW = docs.sortBy(_._2).map(_._1)
    val decileOf = byW.zipWithIndex
      .map { case (id, i) => id -> math.min(9, i * 10 / byW.length) }.toMap
    val sampled = SparkEntry.queries("sample_weighted")(spark, sf001)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(sampled.size === n)
    val obs = (0 until 10).map(d => sampled.count(id => decileOf(id) == d))
    val exp = (0 until 10).map(d =>
      pi.collect { case (id, p) if decileOf(id) == d => p }.sum)
    val totalDev = obs.zip(exp).map { case (o, e) => math.abs(o - e) }.sum
    assert(totalDev <= 2.0 * exp.map(math.sqrt).sum,
      s"decile deviation $totalDev too large: obs=$obs exp=${exp.map(e => f"$e%.1f")}")
    // The headline PPS signal: heavy docs are sampled more often.
    assert(obs.drop(5).sum > obs.take(5).sum,
      s"top-weight half not over-sampled: obs=$obs")
  }

  test("partitioning-preserving checkpoint: joins/aggs identical with and " +
    "without the claim, and the claim is real (r18 — VERDICT r17 #3)") {
    val s = spark
    import s.implicits._
    // Force the claim on these deliberately tiny frames (the size gate
    // would otherwise drop it — at production sizes it fires on its own).
    s.conf.set("spark.graft.checkpointClaimMinPartBytes", "0")
    try {
    // Generated frames with skewed keys (dupes, negatives, a hot key) so
    // a WRONG partitioning claim — rows not actually laid out by
    // hash(key) — would surface as split groups / dropped join matches.
    val rowsGen: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(50, 400)
      ks <- Gen.listOfN(n, Gen.frequency(
        (3, Gen.choose(-40L, 40L)), (1, Gen.const(7L))))
    } yield ks.zipWithIndex.map { case (k, i) => (k, i.toLong) }
    samples(rowsGen, 6).foreach { rows =>
      val base = rows.toDF("k", "v").repartition(col("k"))
      val stock = base.localCheckpoint(true)
      val shim = org.apache.spark.sql.GraftShims
        .localCheckpointKeepPartitioning(base)
      // The shim must actually claim a hash layout on the leaf (else
      // this test silently passes while preserving nothing).
      val claimed = shim.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.outputPartitioning
      }
      assert(claimed.nonEmpty &&
        claimed.head.toString.toLowerCase.contains("hashpartitioning"),
        s"shim leaf lost the layout claim: $claimed")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
      // Aggregation keyed on the claimed column: a false claim makes the
      // exchange-free hash agg emit one group per partition-fragment.
      val aggS = stock.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("c"))
      val aggP = shim.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("c"))
      assert(canon(aggS) === canon(aggP), "groupBy diverged under the claim")
      // Join keyed on the claimed column (inner + left): a false claim
      // mis-co-locates probe rows and silently drops matches.
      val other = rows.take(rows.length / 2).map { case (k, v) => (k, v * 3) }
        .toDF("k", "w")
      val jS = stock.join(other, Seq("k"))
      val jP = shim.join(other, Seq("k"))
      assert(canon(jS) === canon(jP), "inner join diverged under the claim")
      val ljS = stock.join(other, Seq("k"), "left")
      val ljP = shim.join(other, Seq("k"), "left")
      assert(canon(ljS) === canon(ljP), "left join diverged under the claim")
      // Window partitioned on the claimed column — the NND/refine final
      // top-k shape.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("v"))
      val wS = stock.withColumn("rn", row_number().over(w))
      val wP = shim.withColumn("rn", row_number().over(w))
      assert(canon(wS) === canon(wP), "window rank diverged under the claim")
      shim.unpersist(); stock.unpersist()
    }
    // What the claim buys, at the scale shape (broadcast joins off): a
    // groupBy and an inner join keyed on the claimed column plan no
    // shuffle Exchange over the shim leaf, and one each over the stock
    // localCheckpoint leaf.
    val prevBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val sp = s.conf.get("spark.sql.shuffle.partitions").toInt
      val base = s.range(0, 20000).select(col("id").as("k"),
        (col("id") * 31 % 1013).as("v")).repartition(sp, col("k"))
      val other = s.range(0, 20000).select(col("id").as("k"),
        (col("id") % 7).as("w"))
      val stock = base.localCheckpoint(true)
      val shim = org.apache.spark.sql.GraftShims
        .localCheckpointKeepPartitioning(base)
      object H extends org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanHelper
      def leafExchanges(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect()
        H.collect(df.queryExecution.executedPlan) {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
              if H.find(e.child)(_.isInstanceOf[
                org.apache.spark.sql.execution.RDDScanExec]).nonEmpty => e
        }.length
      }
      for ((leaf, ck, want) <- Seq(("stock", stock, 1), ("shim", shim, 0))) {
        assert(leafExchanges(ck.groupBy("k").agg(sum("v"))) === want,
          s"groupBy over the $leaf leaf")
        assert(leafExchanges(ck.join(other, Seq("k"))) === want,
          s"inner join over the $leaf leaf")
      }
      shim.unpersist(); stock.unpersist()
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    } finally s.conf.unset("spark.graft.checkpointClaimMinPartBytes")
  }

  test("connectedComponents join-form step: parity with a naive min-label " +
    "reference on random graphs (r18 — VERDICT r17 #3)") {
    val s = spark
    import s.implicits._
    val edgeGen: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(2, 60)
      m <- Gen.choose(1, 120)
      es <- Gen.listOfN(m,
        Gen.zip(Gen.choose(0L, n.toLong), Gen.choose(0L, n.toLong)))
    } yield es.filter { case (a, b) => a != b }
    samples(edgeGen, 6).filter(_.nonEmpty).foreach { es =>
      val pairs = es.toDF("doc_a", "doc_b")
      val got = llm.Dedup.connectedComponents(pairs)
        .select("doc_id", "component_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // Driver-side reference: min label to closure over the symmetric
      // edge set.
      val sym = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      var lbl = sym.keys.map(k => k -> k).toMap
      var moved = true
      while (moved) {
        moved = false
        val nxt = lbl.map { case (d, l) =>
          val cand = (sym(d).map(lbl) + l).min
          if (cand < l) moved = true
          d -> cand
        }
        lbl = nxt
      }
      // Reference labels are stable fixpoints of neighbor-min, hence the
      // component min — exactly connectedComponents' contract.
      assert(got === lbl,
        s"CC labels diverged from naive reference on ${es.length} edges")
      spark.catalog.clearCache()
      Q.drainCheckpoints(spark)
    }
  }
}
