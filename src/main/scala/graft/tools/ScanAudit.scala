package graft.tools

/** Runtime scan audit: executes each headline query at a small SF and
  * counts materialized FileScans vs ReusedExchanges in the final
  * adaptive plan — the quickest detector for the branch-specialization
  * trap (column pruning de-canonicalizing shared subtrees so AQE
  * re-materializes a corpus scan per consumer).
  *
  * `ScanAudit [--plan] [q_name ...]` audits the named queries (default:
  * the batch headline) at SPARK_GRAFT_SF_DIR (default sf0.001);
  * `--plan` also prints each final plan. */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.GraftSession.create("local[8]", 8)
    spark.sparkContext.setLogLevel("ERROR")
    val (flags, given) = args.toSeq.partition(_ == "--plan")
    val names = if (given.nonEmpty) given else graft.Bench.headline
    names.foreach { name =>
      try {
        val fin = finalPlan(graft.SparkEntry.queries(name)(spark, sf))
        val scans = "FileScan parquet".r.findAllIn(fin).size
        val reused = "ReusedExchange".r.findAllIn(fin).size
        println(f"[scanaudit] $name%-24s scans=$scans reused=$reused")
        if (flags.nonEmpty) println(fin)
      } catch { case e: Throwable =>
        // String.valueOf: a bare NPE has a null message, and calling
        // .take on it would abort the remaining audit
        println(s"[scanaudit] $name ERROR ${String.valueOf(e.getMessage).take(80)}")
      }
    }
    spark.stop()
  }

  /** Execute the frame and return its FINAL adaptive plan string (AQE
    * applies exchange reuse at runtime; the initial plan hides it).
    * Shared with PlanSpec's runtime plan-shape goldens. */
  def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }
}
