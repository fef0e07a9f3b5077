package graft

/** Smoke: every registered query runs at sf0.001 and returns a stable,
  * non-degenerate schema. The value-level gate is the DuckDB differential
  * (scripts/check.py / driver Verify) — this spec catches regressions that
  * break a query before the next differential run.
  */
class QueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("oracle map only names registered queries") {
    val qs = Queries.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
    assert(Queries.oracleSql(spark, dir).keySet.subsetOf(qs))
  }

  test("captured oracles are values: evaluated for a dir, nothing built first") {
    val captured = Queries.all.collect {
      case (n, _, Some(_: Queries.Captured)) => n
    }.toSet
    assert(captured.size == 9)
    val full = Queries.oracleSql(spark, dir)
    assert(full.size == 198)
    assert(full.keySet == SparkEntry.oracleSql.keySet ++ captured)
    assert(Queries.oracleSql(spark, dir) == full)
    assert(SparkEntry.oracleSql == full -- captured)
  }

  for ((name, fn, _) <- Queries.all) {
    test(s"$name runs and has columns") {
      val df = fn(spark, dir)
      assert(df.columns.nonEmpty)
      df.count() // forces execution
    }
  }
}
