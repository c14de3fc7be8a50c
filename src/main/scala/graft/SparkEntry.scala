package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.Q.QFn

/**
 * Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
 *
 * Each operator family lives in its own object (operators/, functions/,
 * streaming/, llm/); this object only merges their `queries`/`oracleSql`
 * maps. Duplicate keys across families are a bug — caught by
 * SparkEntrySpec.
 */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_group")(spark, "/root/testdata/sf0.001")

  private[graft] def groups: Seq[(Map[String, QFn], Map[String, String])] = Seq(
    (operators.Relational.queries, operators.Relational.oracleSql),
    (operators.Aggregates.queries, operators.Aggregates.oracleSql),
    (operators.Windows.queries, operators.Windows.oracleSql),
    (operators.SetOps.queries, operators.SetOps.oracleSql),
    (operators.Reshape.queries, operators.Reshape.oracleSql),
    (operators.Profiling.queries, operators.Profiling.oracleSql),
    (operators.Sql.queries, operators.Sql.oracleSql),
    (operators.Layout.queries, operators.Layout.oracleSql),
    (functions.ScalarFns.queries, functions.ScalarFns.oracleSql),
    (streaming.EventOps.queries, streaming.EventOps.oracleSql),
    (sources.SourceOps.queries, sources.SourceOps.oracleSql),
    (llm.TextOps.queries, llm.TextOps.oracleSql),
    (llm.Dedup.queries, llm.Dedup.oracleSql),
    (llm.Curate.queries, llm.Curate.oracleSql),
    (llm.Similarity.queries, llm.Similarity.oracleSql),
    (llm.Multimodal.queries, llm.Multimodal.oracleSql),
    (llm.Graph.queries, llm.Graph.oracleSql))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, QFn] = groups.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = groups.map(_._2).reduce(_ ++ _)
}
