package graft

import org.scalatest.funsuite.AnyFunSuite

/** The round-7 lesson, made mechanical: a query landed in
  * `SparkEntry.queries` with no oracle and an analysis-time error, and
  * nothing failed until the judge ran it. This spec is the guard — every
  * registered query MUST have a DuckDB oracle (the driver's correctness
  * gate only checks queries it has SQL for), and every oracle must point
  * at a registered query. No session needed; this is a pure contract
  * check, so it can never be skipped by a slow suite.
  */
class OracleCoverageSpec extends AnyFunSuite {

  test("every registered query has an oracle, and vice versa") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    val unverified = queries diff oracles
    val dangling = oracles diff queries
    assert(unverified.isEmpty,
      s"queries registered with NO DuckDB oracle (add oracleSql or don't register): $unverified")
    assert(dangling.isEmpty,
      s"oracle SQL for unregistered queries: $dangling")
  }

  test("BASELINE_QUERIES.json value equals the sum of its per-query pins") {
    // Round 14 landed two re-pins without refreshing the declared total
    // (237.878 vs the 244.105 its own entries summed to), silently skewing
    // every ratio gate that read `value`. Keep the file self-consistent.
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get("BASELINE_QUERIES.json"))
    val pins = """"(q\d+)":\s*([0-9.]+)""".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toDouble).toMap
    val declared = """"value":\s*([0-9.]+)""".r.findFirstMatchIn(text)
      .map(_.group(1).toDouble)
      .getOrElse(fail("BASELINE_QUERIES.json has no \"value\" field"))
    val sum = pins.values.sum
    assert(math.abs(sum - declared) < 1e-3,
      f"pin sum $sum%.3f != declared value $declared%.3f — re-pin scripts must refresh the total")
    // and the pin surface must track the registry: every registered query
    // has a pin, every pin names a registered query (prefix before '_')
    val registered = SparkEntry.queries.keySet.map(_.takeWhile(_ != '_'))
    val unpinned = registered diff pins.keySet
    val stale = pins.keySet diff registered
    assert(unpinned.isEmpty, s"registered queries with no BASELINE_QUERIES pin: $unpinned")
    assert(stale.isEmpty, s"pins for unregistered queries: $stale")
  }

  test("oracle SQL is non-trivial and aliased column names are lowercase") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty && sql.length > 20, s"$name: oracle SQL looks like a stub")
      // the driver's compare sorts columns by name before hashing; Spark
      // lowercases nothing, DuckDB preserves case — mixed-case aliases are
      // the classic silent hash-mismatch, so keep the contract visible here
      val castTypes = Set("INT", "BIGINT", "DOUBLE", "FLOAT", "VARCHAR", "DECIMAL",
        "TIMESTAMP", "DATE", "BOOLEAN", "HUGEINT", "SMALLINT", "TINYINT")
      "(?i)\\bAS\\s+([A-Za-z_][A-Za-z0-9_]*)".r.findAllMatchIn(sql).foreach { m =>
        val alias = m.group(1) // either a column alias or a CAST target type
        assert(alias == alias.toLowerCase || castTypes.contains(alias.toUpperCase),
          s"$name: mixed-case alias '$alias' will hash-mismatch the Spark column")
      }
    }
  }

  test("SPARK_GRAFT_ONLY selects by whole query-name prefix; unset selects everything") {
    assert(SparkEntry.selected("q21_x", Some("q21")))
    assert(SparkEntry.selected("q21", Some("q45, q21")))
    assert(!SparkEntry.selected("q210_y", Some("q21")))
    assert(SparkEntry.selected("q210_y", None))
  }
}
