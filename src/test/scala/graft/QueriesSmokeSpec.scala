package graft

/** Every driver-contract query must at least execute on sf0.001 — the same
  * smoke the driver applies to entry(). Full value-level checking happens
  * against the DuckDB oracles (tools/compare_oracle.py at sf0.01).
  */
class QueriesSmokeSpec extends SparkSpec {

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries impl: $missing")
  }

  test("query filter: bench roster resolves, a subset selects, an unknown name is refused") {
    assert(Bench.roster.size == 29)
    assert(Verify.selectQueries(Bench.roster.mkString(",")) == Bench.roster)
    assert(Verify.selectQueries("q_components,q_pagerank") ==
      Seq("q_components", "q_pagerank"))
    val e = intercept[IllegalArgumentException](
      Verify.selectQueries("q_components,q_nope"))
    assert(e.getMessage.contains("q_nope") && !e.getMessage.contains("q_components"))
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name executes on sf0.001") {
      val df = fn(spark, "/root/testdata/sf0.001")
      assert(df.count() >= 0)
    }
  }
}
