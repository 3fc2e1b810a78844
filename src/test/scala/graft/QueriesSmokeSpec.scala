package graft

/** Every registered query must execute at sf0.001 — the cheap local
  * version of the driver's t1 smoke, so a broken entry never waits for
  * the driver to find it. */
class QueriesSmokeSpec extends SparkSpec {

  test("registry holds exactly the committed query names") {
    val committed = scala.io.Source.fromFile("src/test/resources/query_names.txt")
    val names = try committed.getLines().map(_.trim).filter(_.nonEmpty).toSeq
      finally committed.close()
    assert(names.distinct == names)
    assert(graft.queries.Query.all.map(_.name).sorted == names.sorted)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
  }

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
      df.collect()
      assert(df.columns.nonEmpty)
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
    // the round-trip queries read back what they wrote: every file they
    // read must lie under the scratch root, whatever an earlier run left
    val root = SparkEntry.scratchDir("probe").getParent.toString + "/"
    for (name <- Seq("q_json_roundtrip", "q_orc_roundtrip")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val outside = df.inputFiles
        .filterNot(f => new java.net.URI(f).getPath.startsWith(root))
      assert(df.inputFiles.nonEmpty, s"$name reads no files")
      assert(outside.isEmpty,
        s"$name reads outside $root: ${outside.mkString(", ")}")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).collect().nonEmpty)
  }
}
