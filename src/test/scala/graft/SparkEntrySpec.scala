package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract-level checks on the SparkEntry registry (no Spark needed). */
class SparkEntrySpec extends AnyFunSuite {

  test("no duplicate query keys across operator families") {
    val total = SparkEntry.groups.map(_._1.size).sum
    assert(SparkEntry.queries.size === total,
      "a query key is defined in more than one family object")
  }

  test("every oracleSql key has a corresponding query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql without query: $orphans")
  }

  test("every bench headline name is a registered query (typos would silently drop a bench entry)") {
    for ((runner, names) <- Seq("Bench.headline" -> Bench.headline,
        "Bench.heavy" -> Bench.heavy,
        "StressBench" -> StressBench.registryQueries)) {
      val missing = names.filterNot(SparkEntry.queries.contains)
      assert(missing.isEmpty, s"$runner names not in the registry: $missing")
    }
    assert(StressBench.registryQueries.containsSlice(StressBench.stressQueries))
  }

  test("oracle SQL strings are DuckDB-shaped (no read_parquet paths, bare table names)") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.contains("read_parquet"), s"$name embeds a path")
      assert(sql.trim.nonEmpty)
    }
  }
}
