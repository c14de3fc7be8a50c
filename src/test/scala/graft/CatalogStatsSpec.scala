package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.catalog.CatalogTableType

import graft.sources.CatalogStats

/** Catalog registration (`sources.CatalogStats`): footer statistics equal
  * to ANALYZE's, a job budget of copy writes only, and copies that a
  * second registration of the same dir neither rewrites nor deletes. */
class CatalogStatsSpec extends SparkSpec {

  for (dir <- Seq(sf0001, sf001))
    test(s"footer statistics equal ANALYZE's on every table of ${Paths.get(dir).getFileName}") {
      val s = spark
      Tables.tune(s)
      for (n <- Tables.names) {
        val (reg, ref) = (s"stats_reg_$n", s"stats_ref_$n")
        try {
          CatalogStats.register(s, reg, s"$dir/$n.parquet")
          val t = GraftShims.catalogTable(s, reg)
          assert(t.tableType === CatalogTableType.EXTERNAL, n)
          // the reference: a plain table over the same files, ANALYZEd
          s.sql(s"CREATE TABLE $ref USING parquet LOCATION '${t.location}'")
          CatalogStats.analyze(s, ref)
          val (got, want) = (t.stats.get, GraftShims.catalogTable(s, ref).stats.get)
          assert(got.sizeInBytes === want.sizeInBytes, s"$n sizeInBytes")
          assert(got.rowCount.isDefined && got.rowCount === want.rowCount,
            s"$n rowCount")
          assert(s.table(reg).schema === s.table(ref).schema, s"$n schema")
        } finally Seq(reg, ref).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      }
    }

  test("registration runs only copy-write jobs, and none in a fresh session over the same warehouse") {
    val s = spark
    withFreshSource { dir =>
      val descriptions = ArrayBuffer.empty[String]
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          descriptions.synchronized {
            descriptions += Option(j.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse("")
          }
      }
      def jobsOf(session: org.apache.spark.sql.SparkSession): Seq[String] = {
        descriptions.synchronized(descriptions.clear())
        CatalogStats.registerAndAnalyze(session, dir)
        org.apache.spark.graftbridge.ListenerDrain.drain(s.sparkContext)
        descriptions.synchronized(descriptions.toList)
      }
      s.sparkContext.addSparkListener(l)
      try {
        val first = jobsOf(s)
        assert(first.nonEmpty, "sf0.001 has tables large enough to copy")
        assert(first.forall(_.startsWith(CatalogStats.CopyJobDescription)),
          s"registration ran a job that is not a copy write: $first")
        assert(jobsOf(s.newSession()) === Nil,
          "a registration over existing copies should run no job")
      } finally s.sparkContext.removeSparkListener(l)
      // one-partition copies are skipped: region registers in place,
      // lineitem (4 partitions at local[4]) from its copy
      def location(n: String) =
        GraftShims.catalogTable(s, CatalogStats.tableName(n)).location.getPath
      assert(location("region") === s"$dir/region.parquet")
      assert(!location("lineitem").startsWith(dir))
    }
  }

  test("a second registration of a dir leaves frames over the first one readable") {
    val s = spark
    withFreshSource { dir =>
      CatalogStats.registerAndAnalyze(s, dir)
      assert(!GraftShims.catalogTable(s, CatalogStats.tableName("lineitem"))
        .location.getPath.startsWith(dir), "lineitem should read its copy")
      val lineitem = Tables.lineitem(s, dir)
      // a fresh session shares the warehouse and the external catalog
      CatalogStats.registerAndAnalyze(s.newSession(), dir)
      assert(lineitem.count() ===
        s.read.parquet(s"$dir/lineitem.parquet").count())
    }
  }

  /** Runs `body` on a private copy of sf0.001 (new paths, so new copy
    * keys) and then drops the tables, confs and copies registration made. */
  private def withFreshSource(body: String => Unit): Unit = {
    val s = spark
    val dir = Files.createTempDirectory("graft_catalog_src")
    Tables.names.foreach(n =>
      Files.copy(Paths.get(sf0001, s"$n.parquet"), dir.resolve(s"$n.parquet")))
    try body(dir.toString)
    finally {
      val tables = Tables.names.map(CatalogStats.tableName)
        .filter(s.catalog.tableExists)
      val copies = tables.map(t => GraftShims.catalogTable(s, t).location)
        .filterNot(_.getPath.startsWith(dir.toString))
      tables.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      Seq(CatalogStats.CatalogDirKey, "spark.sql.cbo.enabled",
        "spark.sql.cbo.joinReorder.enabled").foreach(s.conf.unset)
      copies.foreach(u =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(u)))
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
