package graft

import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils

/** The bench's streaming entries, one run each at sf0.001: every entry
  * goes through `Bench.streamEntry`, which must leave no temp tree or
  * memory-sink view behind and must turn a failed run into a missing
  * sample rather than an aborted bench. */
class BenchSpec extends SparkSpec {

  private val streamingNames =
    Seq("s_windowed_counts", "s_ingest_corpus", "s_hll_users", "s_substring_ingest")

  private def benchTrees(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .fold(Set.empty[String])(_.filter(_.startsWith("graft-bench-")).toSet)

  private def benchViews(): Seq[String] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("bench_")).toSeq

  test("the four streaming entries run ok and leave no temp tree or view") {
    val trees = benchTrees()
    spark.conf.set("spark.sql.shuffle.partitions", "6")
    val entries =
      try Bench.streamingEntries(spark, sfDir, runs = 1)
      finally {
        // the streaming section restores the caller's partition count
        assert(spark.conf.get("spark.sql.shuffle.partitions") == "6")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
      }
    assert(entries.map(_.name) == streamingNames)
    entries.foreach(e => assert(e.ok && e.samples.size == 1, e.name))
    assert(benchTrees() -- trees == Set.empty)
    assert(benchViews().isEmpty)
  }

  test("a run whose fixture is missing records no sample; the others still run") {
    // an sf dir with documents but no events: the two events entries
    // fail in their setup
    val sf = tempDir("graft-benchspec-sf")
    try {
      Files.copy(Paths.get(s"$sfDir/documents.parquet"),
        sf.resolve("documents.parquet"))
      val trees = benchTrees()
      val byName =
        Bench.streamingEntries(spark, sf.toString, runs = 1).map(e => e.name -> e).toMap
      assert(byName.keys.toSet == streamingNames.toSet)
      assert(byName("s_windowed_counts").samples.isEmpty)
      assert(byName("s_hll_users").samples.isEmpty)
      assert(byName("s_ingest_corpus").ok && byName("s_substring_ingest").ok)
      assert(benchTrees() -- trees == Set.empty)
      assert(benchViews().isEmpty)
    } finally FileUtils.deleteQuietly(sf.toFile)
  }

  test("a failed check records no sample and still deletes the run's tree") {
    val trees = benchTrees()
    val e = Bench.streamEntry(spark, "s_failing_check", runs = 2) { run =>
      Files.copy(Paths.get(s"$sfDir/events.parquet"), run.dir.resolve("events.parquet"))
      val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
      () => spark.readStream.schema(schema).parquet(run.dir.toString)
        .writeStream.format("memory").queryName(run.view).outputMode("append")
    }(_ => require(false, "check failed on purpose"))
    assert(e.samples.isEmpty && !e.ok && e.med == -1.0)
    assert(benchTrees() -- trees == Set.empty)
    assert(benchViews().isEmpty)
  }
}
