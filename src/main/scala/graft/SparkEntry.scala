package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Query

/** Driver contract — every operator from SURVEY.md §2 (parity surface) plus
  * the LLM-data-pipeline extension operators, each as a named query with a
  * DuckDB-equivalent oracle. The queries live in `graft.queries`, one
  * file per family, each a [[graft.queries.Query]] record holding its
  * frame and its oracle side by side; the two maps here are derived once
  * from that registry.
  *
  * Float-safety convention for oracle parity: per-row double arithmetic is
  * bit-exact across engines (same IEEE ops), so it is emitted raw; multi-row
  * double SUM/AVG depend on summation order, so sums go through an exact
  * DECIMAL(18,2) accumulator (the fixtures are 2-decimal money values) and
  * come back as double — bit-exact on both engines by construction.
  */
object SparkEntry {

  /** Every query's frame builder, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.all.map(q => q.name -> q.build).toMap

  /** Every query's DuckDB oracle text, by name; reading it renders all. */
  lazy val oracleSql: Map[String, String] =
    Query.all.map(q => q.name -> q.oracle).toMap

  /** A fresh directory for a query's artifacts, under one per-JVM root
    * a shutdown hook deletes. The tree lives until JVM exit, not until
    * the query function returns: the frame it returns reads the tree
    * lazily. */
  private[graft] def scratchDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix)

  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)))
    root
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The corpus
    * curation pipeline exercises the engine end-to-end: quality scoring
    * (expression layer) -> exact similarity join (codegen'd shingles,
    * prefix-filtered index) -> anti-join -> aggregation. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_corpus_curate")(spark, "/root/testdata/sf0.001")
}
