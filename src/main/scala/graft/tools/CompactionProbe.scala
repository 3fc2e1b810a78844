package graft.tools

import org.apache.spark.sql.functions._

/** Measures what index compaction buys (VERDICT r12 #6): fragment a
  * standing gram index and a signature index with many micro-batch
  * appends (each append lands >= 1 small file per touched bucket /
  * directory), time the PROBE path on the fragmented index, compact,
  * and time the probe again — probe latency is file-count-bound, so
  * the delta is the compaction's value and the compaction's own cost
  * is what it charges for it. Probes run `reps` times each and report
  * the MIN (the file-listing cost is the steady component; first-run
  * JIT noise is not). Usage:
  *   CompactionProbe [sfDir] [nAppends] [reps]
  * Findings land as a SCALING.md row (sf1: see the compaction entry).
  */
object CompactionProbe {
  def main(args: Array[String]): Unit = {
    val sf = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val nAppends = if (args.length > 1) args(1).toInt else 50
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.GraftSession.create("local[8]", 8)
    spark.sparkContext.setLogLevel("ERROR")
    def timed[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    def minTime[A](n: Int)(f: => A): Double =
      (1 to n).map(_ => timed(f)._1).min
    def fileCount(dir: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum)
          .getOrElse(0L)
        else 1L
      walk(new java.io.File(dir))
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    println(s"[compact] corpus docs: $nDocs, appends: $nAppends")

    // ---- gram index -------------------------------------------------
    val gIdx = java.nio.file.Files.createTempDirectory("compact-gram")
      .toString
    val (buildS, _) = timed(graft.ops.Dedup.saveGramIndex(
      docs.where(pmod(col("doc_id"), lit(2)) === 0), gIdx, "text", 8, 64))
    println(f"[compact] saveGramIndex: $buildS%.2f s")
    // fragment: nAppends disjoint odd-id slices (novel docs per append)
    val odd = docs.where(pmod(col("doc_id"), lit(2)) === 1)
    (0 until nAppends).foreach { i =>
      graft.ops.Dedup.appendToGramIndex(
        odd.where(pmod(col("doc_id"), lit(2L * nAppends)) === 2 * i + 1),
        gIdx, "doc_id", "text")
    }
    val probe = docs.limit(2000)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    def gramProbe(): Long = graft.ops.Dedup.exciseAgainstIndex(
      probe, gIdx, "doc_id", "text", 8)
      .agg(sum(col("removed_tokens"))).head.getLong(0)
    val filesBefore = fileCount(s"$gIdx/grams")
    val beforeS = minTime(reps)(gramProbe())
    val (compactS, _) = timed(graft.ops.Dedup.compactGramIndex(spark, gIdx))
    val filesAfter = fileCount(s"$gIdx/grams")
    val afterS = minTime(reps)(gramProbe())
    println(f"[compact] gram: files $filesBefore -> $filesAfter, " +
      f"probe $beforeS%.2f -> $afterS%.2f s (min of $reps), " +
      f"compaction $compactS%.2f s")

    // ---- signature index --------------------------------------------
    val sIdx = java.nio.file.Files.createTempDirectory("compact-sig")
      .toString
    val (sBuildS, _) = timed(graft.ops.Dedup.saveSignatureIndex(
      docs.where(pmod(col("doc_id"), lit(2)) === 0), sIdx,
      "doc_id", "text"))
    println(f"[compact] saveSignatureIndex: $sBuildS%.2f s")
    (0 until nAppends).foreach { i =>
      graft.ops.Dedup.appendToSignatureIndex(
        odd.where(pmod(col("doc_id"), lit(2L * nAppends)) === 2 * i + 1),
        sIdx, "doc_id", "text")
    }
    val sigMeta = graft.ops.Dedup.readIndexMeta(spark, sIdx)
    def sigProbe(): Long = graft.ops.Dedup.incrementalNearDups(
      probe, sIdx, "doc_id", "text",
      sigMeta.getAs[Int]("shingle_n"), sigMeta.getAs[Int]("bands"),
      sigMeta.getAs[Int]("rows_per_band"), 0.5).count()
    val sFilesBefore = fileCount(s"$sIdx/sets") + fileCount(s"$sIdx/buckets")
    val sBeforeS = minTime(reps)(sigProbe())
    val (sCompactS, _) = timed(
      graft.ops.Dedup.compactSignatureIndex(spark, sIdx, targetFiles = 8))
    val sFilesAfter = fileCount(s"$sIdx/sets") + fileCount(s"$sIdx/buckets")
    val sAfterS = minTime(reps)(sigProbe())
    println(f"[compact] sig: files $sFilesBefore -> $sFilesAfter, " +
      f"probe $sBeforeS%.2f -> $sAfterS%.2f s (min of $reps), " +
      f"compaction $sCompactS%.2f s")
    spark.stop()
  }
}
