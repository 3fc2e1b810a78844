package graft.tools

/** Scratch timer for one registered query: BenchOne <name> [sfDir] [runs].
  * Each run is Bench's own measurement (`Bench.queryRun`: clearCache
  * before each run, toRdd.count() to defeat column pruning), so numbers
  * are comparable. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.create(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    graft.Bench.warmup(spark, sfDir)
    (1 to runs).foreach { i =>
      val secs = graft.Bench.queryRun(spark, name, sfDir)
      println(f"[benchone] $name run$i $secs%.2fs " +
        s"(cachedTables=${spark.sharedState.cacheManager.isEmpty})")
    }
    spark.stop()
  }
}
