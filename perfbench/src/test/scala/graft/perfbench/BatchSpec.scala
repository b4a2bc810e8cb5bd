package graft.perfbench

/** The registry check: a query's row count must match the vendored
  * expectation, read from the executed plan's observed metric. */
class BatchSpec extends SparkSuite {
  private val cfg = Config("batch_registry", 1, 1, trace = false, "data/sf0.01",
    "data/expected_rows_sf0.01.json", "target/test-out", "test")

  test("expected rows cover the whole registry") {
    val rows = ExpectedRows.load(cfg.expectedRows)
    assert(rows.keySet == graft.SparkEntry.registry.map(_.name).toSet)
  }

  test("a right row count passes and a wrong one fails the run") {
    val q = graft.SparkEntry.registry.find(_.name == "q1_agg").get
    val rows = ExpectedRows.load(cfg.expectedRows)
    val ok = new Batch(spark, cfg)
    ok.runQuery("RelQueries", q, cfg.dataDir, rows, None)
    assert(ok.result.failed == 0, ok.result.errors)
    val wrong = new Batch(spark, cfg)
    wrong.runQuery("RelQueries", q, cfg.dataDir, rows.updated("q1_agg", rows("q1_agg") + 1), None)
    assert(wrong.result.failed == 1)
    assert(wrong.result.errors.head.contains("rows"))
  }
}
