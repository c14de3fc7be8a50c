package graft

import graft.sources.Formats
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Source/sink round-trips (parquet, orc, avro, csv, json, xml) and
  * partition-pruned reads over the events table. */
class IoSpec extends SparkSpec {

  private lazy val base = Files.createTempDirectory("graft_io").toString

  private def fingerprint(df: org.apache.spark.sql.DataFrame) =
    df.agg(
      count(lit(1)), sum(col("event_id")),
      max(col("ts")).cast("string"),
      round(sum(col("value").cast("decimal(18,4)")).cast("double"), 4))
      .head.toSeq

  test("events round-trip through parquet, orc, avro, csv, json, xml") {
    val src = Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val want = fingerprint(src)
    for (fmt <- Seq("parquet", "orc", "avro", "csv", "json", "xml")) {
      val path = s"$base/events_$fmt"
      Formats.write(src, path, fmt)
      val back = Formats.read(spark, path, fmt,
        if (Set("csv", "json", "xml")(fmt)) Some(src.schema) else None)
      assert(fingerprint(back) === want, s"round-trip mismatch for $fmt")
    }
  }

  test("graft-range DSv2 source: short-name lookup, exact rows, slice-parallel partitions") {
    val df = spark.read.format("graft-range")
      .option("start", "100").option("end", "1100").option("slices", "5")
      .load()
    assert(df.schema.fieldNames.toSeq === Seq("id", "id_squared", "gauss"))
    assert(df.count() === 1000)
    // slices become real input partitions — the parallel-read contract
    assert(df.rdd.getNumPartitions === 5)
    val agg = df.agg(
        min(col("id")), max(col("id")), sum(col("id")),
        min(col("gauss")), max(col("gauss"))).head
    assert(agg.getLong(0) === 100L && agg.getLong(1) === 1099L)
    assert(agg.getLong(2) === (100L to 1099L).sum)
    assert(agg.getDouble(3) >= 0.0 && agg.getDouble(4) < 1.0)
    // deterministic: two reads agree row-for-row
    val again = spark.read.format("graft-range")
      .option("start", "100").option("end", "1100").option("slices", "3")
      .load()
    assert(df.exceptAll(again).count() === 0)
  }

  test("graft-range DSv2 source: column pruning reaches the connector (pruned ReadSchema, values intact)") {
    val df = spark.read.format("graft-range")
      .option("start", "0").option("end", "1000").option("slices", "4")
      .load()
    val pruned = df.select(col("id_squared"))
    // DSv2 prints the scan's (pruned) output on the BatchScan node
    val plan = pruned.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("id_squared") && !scanLine.contains("gauss"),
      s"pruning did not reach the scan: $scanLine")
    // values survive the pruned read path (reader computes by column name)
    val s = pruned.agg(sum(col("id_squared"))).head.getLong(0)
    assert(s === (0L until 1000L).map(i => i * i).sum)
    // a pruned single-column read of gauss still lands in [0, 1)
    val g = df.select(col("gauss")).agg(max(col("gauss"))).head.getDouble(0)
    assert(g < 1.0 && g >= 0.0)
  }

  test("graft-range DSv2 source: filter pushdown prunes slices at planning and leaves no residual Filter") {
    def src = spark.read.format("graft-range")
      .option("start", "0").option("end", "100000").option("slices", "8")
      .load()
    // selective range conjunction: [99000, 100000) sits entirely in the
    // last of 8 slices — planning must produce 1 partition, not 8
    val sel = src.filter(col("id") >= 99000 && col("id") < 100000)
    assert(sel.rdd.getNumPartitions === 1,
      "range predicate did not prune planned slices")
    val scan = sel.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.get
    assert(scan.description().contains("pushed=[99000,100000)"),
      s"pushed interval missing from scan description: ${scan.description()}")
    // fully-enforced conjuncts are consumed: no residual FilterExec
    // ("Filter (" is the exec node; "RuntimeFilters: []" on the scan is not)
    assert(!sel.queryExecution.executedPlan.toString.contains("Filter ("),
      "pushed range predicate left a residual Filter node")
    // pruned read returns exactly the full-scan-then-filter rows
    assert(sel.count() === 1000)
    assert(sel.agg(sum(col("id"))).head.getLong(0) === (99000L until 100000L).sum)
    // a non-pushable predicate (modulo) stays residual and still works
    val mixed = src.filter(col("id") >= 99000 && col("id") % 7 === 0)
    assert(mixed.rdd.getNumPartitions === 1)
    assert(mixed.queryExecution.executedPlan.toString.contains("Filter ("),
      "modulo residual was wrongly consumed")
    assert(mixed.count() === 99000L.until(100000L).count(_ % 7 == 0))
    // empty pushed interval plans zero partitions and returns zero rows
    val empty = src.filter(col("id") < 0)
    assert(empty.rdd.getNumPartitions === 0)
    assert(empty.count() === 0)
  }

  test("graft-range DSv2 source: limit pushdown clamps planned work, global limit still applies") {
    val df = spark.read.format("graft-range")
      .option("start", "0").option("end", "100000").option("slices", "8")
      .load()
      .limit(5)
    // 5 rows fit in the first slice; the other 7 are never planned
    assert(df.rdd.getNumPartitions === 1,
      "pushed limit did not clamp planned slices")
    assert(df.count() === 5)
    // partial-push contract: Spark's own limit still sits on top, so the
    // result is exactly 5 rows even though the source could emit more
    assert(df.collect().map(_.getAs[Long]("id")).toSeq === Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("graft-range DSv2 source: complete aggregate pushdown answers count/min/max from planning arithmetic") {
    def src = spark.read.format("graft-range")
      .option("start", "0").option("end", "100000").option("slices", "8")
      .load()
    // ungrouped count/min/max on id: closed-form over the pushed
    // interval — Spark must plan NO aggregate node, and the answer
    // composes with filter pushdown (interval narrowed first)
    val agg = src.filter(col("id") >= 90000)
      .agg(count(lit(1)).as("n"), min(col("id")).as("mn"), max(col("id")).as("mx"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"),
      s"complete agg pushdown still planned an aggregate:\n$plan")
    val scan = agg.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.get
    assert(scan.description().contains("aggs=[count,min,max]"),
      s"pushed aggs missing from scan description: ${scan.description()}")
    val row = agg.head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) ===
      ((10000L, 90000L, 99999L)))
    // an unsupported aggregate (sum) is declined: Spark aggregates raw
    // rows as before, values still correct
    val declined = src.filter(col("id") >= 99000).agg(sum(col("id")).as("s"))
    assert(declined.queryExecution.executedPlan.toString.contains("HashAggregate"),
      "sum should NOT be pushed — the source must decline it")
    assert(declined.head.getLong(0) === (99000L until 100000L).sum)
    // empty interval: count 0, null min/max — the closed form's edge
    val empty = src.filter(col("id") < 0)
      .agg(count(lit(1)), min(col("id")), max(col("id"))).head()
    assert(empty.getLong(0) === 0L && empty.isNullAt(1) && empty.isNullAt(2))
  }

  test("run metrics listener: a shuffling query reports stages and non-zero shuffle bytes") {
    val listener = new RunMetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.graftbridge.ListenerDrain.drain(spark.sparkContext)
      listener.snapshotAndReset()
      // groupBy forces a shuffle; count() forces execution
      Tables.lineitem(spark, sf0001)
        .groupBy(col("l_partkey")).agg(sum(col("l_quantity"))).count()
      org.apache.spark.graftbridge.ListenerDrain.drain(spark.sparkContext)
      val m = listener.snapshotAndReset()
      assert(m.stages >= 2, s"expected map+reduce stages, got ${m.stages}")
      assert(m.shuffleWriteBytes > 0, "groupBy produced no shuffle write bytes")
      assert(m.shuffleReadBytes > 0, "groupBy produced no shuffle read bytes")
      assert(m.peakExecutionMemory > 0)
      // counters reset after snapshot
      val empty = listener.snapshotAndReset()
      assert(empty.stages === 0 && empty.shuffleWriteBytes === 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("partitioned write + partition-pruned read") {
    val src = Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val path = s"$base/events_part"
    Formats.write(src, path, "parquet", partitionBy = Seq("event_type"))
    val clicks = Formats.read(spark, path, "parquet")
      .filter(col("event_type") === "click")
    // pruning reaches the scan: the partition filter shows up as a
    // PartitionFilters entry, not a post-scan Filter
    val plan = clicks.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"),
      plan.linesIterator.take(8).mkString("\n"))
    assert(clicks.count() ===
      src.filter(col("event_type") === "click").count())
  }

  test("events ts normalization is vintage-proof: nanos-long, NTZ-micros and UTC-micros read identically (VERDICT r8)") {
    // The r7 driver bench lost all 8 events-family queries because the
    // testdata regenerated with a new ts encoding while the conversion
    // was pinned to the old one. Tables.load now dispatches on the
    // arriving type (Tables.scala); this writes the same instants in
    // all three vintages and pins that the next encoding flip fails
    // HERE, in-suite, not in the driver's bench.
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("graft_vintage").toString
    val micros = Seq( // instants with sub-second parts, around DST edges
      1705312245123456L, 1719792000000001L, 1672531199999999L)
    val rows = micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }
    // vintage 1: TIMESTAMP(MICROS) adjusted-to-UTC -> TimestampType (no-op branch)
    rows.toDF("event_id", "us")
      .select(col("event_id"), expr("timestamp_micros(us)").as("ts"))
      .write.parquet(s"$base/v_tz/events.parquet")
    // vintage 2: TIMESTAMP(MICROS) isAdjustedToUTC=false -> TimestampNTZType (cast branch)
    rows.toDF("event_id", "us")
      .select(col("event_id"),
        expr("timestamp_micros(us)").cast("timestamp_ntz").as("ts"))
      .write.parquet(s"$base/v_ntz/events.parquet")
    // vintage 3: INT64 nanos read as LongType (the nanosAsLong legacy
    // branch -- a plain BIGINT column arrives as the same LongType the
    // TIMESTAMP(NANOS) flag produced, exercising the same dispatch arm)
    rows.toDF("event_id", "us")
      .select(col("event_id"), (col("us") * 1000L).as("ts"))
      .write.parquet(s"$base/v_nanos/events.parquet")
    def norm(dir: String) = Tables.events(s, dir)
      .select(col("event_id"), col("ts").cast("string").as("ts"))
      .orderBy(col("event_id")).collect().toSeq
    val tz = norm(s"$base/v_tz")
    assert(tz.map(_.getString(1)) === Seq(
      "2024-01-15 09:50:45.123456", "2024-07-01 00:00:00.000001",
      "2022-12-31 23:59:59.999999"), "UTC-micros vintage read wrong instants")
    assert(norm(s"$base/v_ntz") === tz, "NTZ vintage diverged from UTC-micros")
    assert(norm(s"$base/v_nanos") === tz, "nanos vintage diverged from UTC-micros")
    for (v <- Seq("v_tz", "v_ntz", "v_nanos"))
      assert(Tables.events(s, s"$base/$v").schema("ts").dataType
        === org.apache.spark.sql.types.TimestampType,
        s"$v did not normalize to TimestampType")
  }
}
