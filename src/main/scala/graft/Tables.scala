package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Source layer: loaders for the ten driver-generated parquet tables at
 * `/root/testdata/sf{0.001,0.01,0.1}/` (schemas: /root/repo/FIXTURES.md).
 *
 * Reference note (SURVEY.md §0): the reference checkout at /root/reference
 * was empty at survey time; `johnshiver/plankton` is an ETL orchestrator
 * whose "sources" are arbitrary user task code, so our source layer is
 * Spark's native parquet reader (schema from footers, vectorized read,
 * predicate pushdown / column pruning for free).
 *
 * Every query obtains inputs here, so identical scans share lineage and
 * Catalyst/AQE can reuse exchanges across subtrees of one plan.
 *
 * Scale note (100 TB): at cluster scale these would be partitioned tables
 * (events partitioned by date, lineitem by ship-month); the loader is the
 * single choke-point where `spark.read.parquet(dir)` would become a
 * partition-pruned catalog read. Nothing else in the engine would change.
 */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Idempotent session tuning every loader applies.
    *
    * `nanosAsLong`: through round 7 events.ts was parquet INT64
    * TIMESTAMP(NANOS), which Spark 4.1.2 refuses by default
    * ([PARQUET_TYPE_ILLEGAL], FIXTURES.md gotcha #1); the flag read it
    * as LongType nanos on the vectorized path. The round-8 testdata
    * regeneration switched ts to TIMESTAMP(MICROS) (see [[load]]) — the
    * flag is now a no-op on the driver corpora but kept so a nanos
    * corpus remains readable.
    */
  def tune(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    tune(spark)
    // Catalog resolution (r6, VERDICT r5 item 4): when the runner has
    // registered exactly this directory
    // (sources.CatalogStats.registerAndAnalyze: footer statistics, and a
    // repartitioned copy for a single-file source), read through the
    // catalog so persisted rowCounts reach plan stats — the stats-driven
    // arms then decide on truth instead of leaf-byte estimates, with no
    // counting job at query time. Same parquet relation otherwise
    // (pushdown/pruning unchanged). Registration is
    // per-table since r7 (stress dirs carry a subset of the ten names),
    // so a name missing from the catalog keeps its path read.
    val viaCatalog = spark.conf
      .getOption(sources.CatalogStats.CatalogDirKey).contains(dir) &&
      spark.catalog.tableExists(sources.CatalogStats.tableName(name))
    val df =
      if (viaCatalog) spark.table(sources.CatalogStats.tableName(name))
      else spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") {
      // ts arrives in one of three encodings depending on corpus vintage,
      // so normalization dispatches on the ACTUAL read type (the round-7
      // driver bench failed all 8 events-family headline queries with
      // DATATYPE_MISMATCH because the testdata regeneration silently
      // switched nanos → micros mid-round and the conversion was pinned
      // to the nanos shape):
      //  - LongType: legacy INT64 TIMESTAMP(NANOS) read via nanosAsLong.
      //    ns → µs with *integer* division — the long nanos (~1.7e18)
      //    exceed a double's 53-bit mantissa, so `col/1000` (double
      //    divide) can be off by 1 µs; `DIV` stays in long arithmetic.
      //  - TimestampNTZType: current driver corpora, TIMESTAMP(MICROS)
      //    isAdjustedToUTC=false. Cast to TimestampType under the pinned
      //    UTC session zone — same wall-clock instant, and downstream
      //    window/watermark ops expect the instant-semantics type.
      //  - TimestampType: our own stress corpora (written with
      //    outputTimestampType=TIMESTAMP_MICROS, adjusted-to-UTC) — no-op.
      // DuckDB reads all three as TIMESTAMP µs, so oracles agree.
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    } else df
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
