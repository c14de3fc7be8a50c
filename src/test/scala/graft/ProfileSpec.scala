package graft

import org.apache.spark.sql.functions._
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
      sum(xxhash64(struct(df.columns.map(col): _*)).cast("double"))).head()
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
          "cpu_share", "join_strategies"))
        assert((r \ f) !== JNothing, s"rep lacks $f")
      assert((r \ "rows") === JInt(direct.getLong(0)))
      assert((r \ "checksum") === JDouble(direct.getDouble(1)))
    }

    // The job log covers exactly the last rep's completed stages.
    val JArray(jobs) = p \ "jobs"
    val JArray(stages) = p \ "stages"
    assert(jobs.nonEmpty && stages.nonEmpty)
    for (j <- jobs) {
      assert((j \ "job").isInstanceOf[JInt])
      assert((j \ "call_site") !== JNothing)
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

  test("main entry points under src/main are limited to the allowlist") {
    val allowed = Set("Bench", "StressBench", "StressGen", "Verify",
      "ProbeCalib", "Profile")
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
