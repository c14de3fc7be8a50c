package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.json4s._

/** graft.Profile: the session guards of its `main`, the JSON shape of
  * `Profile.run` on a caller-owned session, and the entry-point
  * allowlist that keeps one-off probe mains from coming back. */
class ProfileSpec extends SparkSpec {

  test("Profile refuses a bad core count and a live session at another master") {
    val live = spark.sparkContext.master
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    val other = if (live == "local[2]") "3" else "2"
    val e = intercept[IllegalArgumentException](
      Profile.main(Array("agg_group", sf0001, s"--cpus=$other")))
    assert(e.getMessage.contains(live), e.getMessage)
    intercept[IllegalArgumentException](
      Profile.main(Array("agg_group", sf0001, "--cpus=4x")))
    assert(spark.conf.get("spark.sql.shuffle.partitions") === partitions,
      "the refused run still rewrote the live session's confs")
  }

  test("Profile.run: session, per-rep counters, checksum and job log (sf0.001)") {
    // The direct aggregate runs first: the table loader pins its
    // parquet read confs on first use, which is not Profile's doing.
    val df = SparkEntry.queries("agg_group")(spark, sf0001)
    val direct = df.agg(count(lit(1)),
      sum(xxhash64(struct(df.columns.map(col): _*)).cast("decimal(38,0)"))).head()
    val confsBefore = spark.conf.getAll
    val plans = java.nio.file.Files.createTempDirectory("graft_profile")
    val Seq(p) = Profile.run(spark, sf0001, Seq("agg_group"), 2,
      Some(plans.toString))
    assert(!spark.sparkContext.isStopped, "run stopped the caller's session")
    assert(spark.conf.getAll === confsBefore, "run changed the session's confs")

    val session = p \ "session"
    assert((session \ "master") === JString(spark.sparkContext.master))
    assert((session \ "cpus") === JInt(
      spark.sparkContext.master.stripPrefix("local[").stripSuffix("]").toInt))
    assert((session \ "shuffle_partitions") ===
      JInt(spark.conf.get("spark.sql.shuffle.partitions").toInt))
    assert((session \ "analyze") === JBool(spark.conf
      .getOption(sources.CatalogStats.CatalogDirKey).contains(sf0001)))
    assert((session \ "confs") === JObject())

    val JArray(reps) = p \ "reps"
    assert(reps.length === 2)
    for (r <- reps) {
      for (f <- Seq("sec", "stages", "shuffle_read_bytes",
          "shuffle_write_bytes", "disk_spill_bytes", "memory_spill_bytes",
          "peak_execution_memory", "executor_run_ms", "executor_cpu_ns",
          "cpu_share", "join_strategies", "gc_sec"))
        assert((r \ f) !== JNothing, s"rep lacks $f")
      assert((r \ "error") === JNull)
      assert((r \ "rows") === JInt(direct.getLong(0)))
      assert((r \ "checksum") === JInt(BigInt(direct.getDecimal(1).toBigInteger)))
    }

    // The job log covers exactly the last rep's completed stages.
    val JArray(jobs) = p \ "jobs"
    val JArray(stages) = p \ "stages"
    assert(jobs.nonEmpty && stages.nonEmpty)
    // A job run for a SQL execution is named by its action, AQE's
    // query-stage jobs too (not by the pool thread that submits them);
    // a file-listing job runs outside any execution.
    assert(jobs.exists(j => (j \ "execution_id").isInstanceOf[JInt]),
      "no job recorded its SQL execution")
    for (j <- jobs) {
      assert((j \ "job").isInstanceOf[JInt])
      if ((j \ "execution_id").isInstanceOf[JInt])
        assert((j \ "root_execution_id").isInstanceOf[JInt], s"execution start not seen: $j")
      else assert((j \ "execution_id") === JNull && (j \ "root_execution_id") === JNull)
      val JString(name) = j \ "call_site"
      assert(!name.contains("CompletableFuture"), s"job named after the AQE pool thread: $j")
      assert((j \ "sec").isInstanceOf[JDouble], s"job start not seen: $j")
      val JArray(ids) = j \ "stage_ids"
      assert(ids.nonEmpty)
    }
    assert(stages.length.toLong === (reps.last \ "stages").asInstanceOf[JInt].num)
    assert(stages.map(s => (s \ "shuffle_write_bytes").asInstanceOf[JInt].num).sum
      === (reps.last \ "shuffle_write_bytes").asInstanceOf[JInt].num)
    assert(stages.forall(s => (s \ "name").isInstanceOf[JString]))

    val JString(planFile) = p \ "plan_file"
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(planFile)))
    assert(planFile.endsWith("agg_group.txt"))
    assert(body.contains("explain(formatted)") &&
      body.contains("executed-plan Exchange mentions:"), body.take(500))
  }

  test("the checksum is exact and ignores row order: 1 vs 7 partitions") {
    // Large-magnitude hashes summed in another partition order round
    // differently as DOUBLE; the exact sum cannot.
    val metrics = new RunMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    try {
      def rows(parts: Int) = spark.range(0, 50000, 1, parts)
        .select(col("id"), (col("id") * 7919).as("v"))
      val Seq(one, seven) = Seq(1, 7).map(p =>
        Profile.forced(spark, metrics, rows(p)))
      assert(one.ok && seven.ok, s"${one.error} ${seven.error}")
      assert(one.rows === 50000L && seven.rows === 50000L)
      assert(one.checksum === seven.checksum)
      val df = rows(3)
      val direct = df.agg(sum(xxhash64(struct(df.columns.map(col): _*))
        .cast("decimal(38,0)"))).head().getDecimal(0)
      assert(one.checksum === BigInt(direct.toBigInteger))
    } finally spark.sparkContext.removeSparkListener(metrics)
  }

  test("a failed body is the -1 row with its message, and the hygiene still runs") {
    val metrics = new RunMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    try {
      val cached = spark.range(10).toDF("x").cache()
      cached.count()
      val m = Profile.forced(spark, metrics,
        throw new IllegalStateException("boom"))
      assert(!m.ok && m.error.exists(_.contains("boom")), m.error)
      assert(m.sec === -1.0 && m.rows === -1L && m.strategy === "err")
      assert(cached.storageLevel === StorageLevel.NONE,
        "the failed run left the cache in place")
    } finally spark.sparkContext.removeSparkListener(metrics)
  }

  test("main entry points under src/main are limited to the allowlist") {
    val allowed = Set("Bench", "StressBench", "StressGen", "Verify",
      "Profile")
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under the cwd")
    val objectRe = """\bobject\s+(\w+)""".r
    val mainRe = """\bdef\s+main\s*\(""".r
    val mains = java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f))
        mainRe.findAllMatchIn(src).map { m =>
          objectRe.findAllMatchIn(src.take(m.start)).toSeq.lastOption
            .fold(s"$f (no enclosing object)")(_.group(1))
        }
      }
    assert(mains.nonEmpty, "scan found no main at all")
    val extra = mains.filterNot(allowed)
    assert(extra.isEmpty, s"main outside the allowlist: ${extra.mkString(", ")}")
  }
}
