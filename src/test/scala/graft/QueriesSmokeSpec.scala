package graft

/** Every registered query must execute at sf0.001 — the cheap local
  * version of the driver's t1 smoke, so a broken entry never waits for
  * the driver to find it. Rows-only queries (no DuckDB oracle) also get a
  * determinism double-run: the driver's hash compare assumes re-running a
  * query reproduces it bit-for-bit. */
class QueriesSmokeSpec extends SparkSpec {

  private val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet

  test("bench headline names are all registered queries") {
    val missing = Bench.headline.toSet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"headline without queries: $missing")
  }

  test("oracle map only references registered queries") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name executes at sf0.001") {
      val df = fn(spark, sfDir)
      val rows = df.collect()
      assert(df.columns.nonEmpty)
      if (rowsOnly(name)) {
        val again = fn(spark, sfDir).collect()
        assert(rows.map(_.toString).sorted.toSeq ==
          again.map(_.toString).sorted.toSeq,
          s"$name is not deterministic across runs")
      }
    }
  }

  test("query artifacts land under one scratch root, not in the temp dir") {
    val tmpDir = new java.io.File(System.getProperty("java.io.tmpdir"))
    def leftovers() = tmpDir.list().toSet.filter(n =>
      n.startsWith("graft-layout") || n.startsWith("graft-export-q"))
    val before = leftovers()
    for (name <- Seq("q_layout_scan", "q_export_shards"))
      SparkEntry.queries(name)(spark, sfDir).collect()
    assert((leftovers() -- before).isEmpty, leftovers() -- before)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).collect().nonEmpty)
  }
}
