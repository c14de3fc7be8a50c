package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._

/** Dev probe (r18): per-job stage/shuffle log for one registry query —
  * attributes a stage/shuffle delta to the specific job that grew.
  * Measurement harness only. */
object JobLogProbe {
  def main(args: Array[String]): Unit = {
    val query = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val confs = args.zipWithIndex.collect {
      case ("-c", i) if i + 1 < args.length => args(i + 1) }
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set(Q.BroadcastSideThresholdKey, "8000000")
    spark.conf.set(Q.BroadcastSideMaxBytesKey, (256L * 1024 * 1024).toString)
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) }
    sources.CatalogStats.registerAndAnalyze(spark, sfDir)
    val stageWrite = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stageName = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    // Boxed values: a missing key must read as null, not as 0.
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stageWrite.put(e.stageInfo.stageId,
          e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        stageName.put(e.stageInfo.stageId,
          e.stageInfo.name.take(60))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        // "?" when the probe never saw the job start (listener added
        // mid-job, or an event dropped off a full bus).
        val secs = Option(jobStart.remove(e.jobId))
          .fold("     ?")(t0 => f"${(e.time - t0) / 1e3}%6.2f")
        println(f"[job ${e.jobId}%3d end] $secs s")
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobStart.put(e.jobId, java.lang.Long.valueOf(e.time))
        println(s"[job ${e.jobId}] stages=${e.stageIds.mkString(",")} " +
          Option(e.properties.getProperty("callSite.short")).getOrElse(""))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val df = SparkEntry.queries(query)(spark, sfDir)
    import org.apache.spark.sql.functions._
    df.agg(count(lit(1)), sum(xxhash64(struct(df.columns.map(col): _*))
      .cast("double"))).collect()
    org.apache.spark.graftbridge.ListenerDrain.drain(spark.sparkContext)
    import scala.jdk.CollectionConverters._
    val total = stageWrite.values.asScala.map(_.toLong).sum
    println(f"[total] stages=${stageWrite.size} shufMB=${total / 1e6}%.1f")
    stageWrite.asScala.toSeq.sortBy(_._1).foreach { case (id, b) =>
      if (b > 100000) println(f"[stage $id%4d] ${b / 1e6}%8.2f MB  ${stageName.get(id)}")
    }
    spark.stop()
  }
}
