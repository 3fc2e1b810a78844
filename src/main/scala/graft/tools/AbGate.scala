package graft.tools

/** Bracketed same-JVM A/B of a gated strategy conf:
  * AbGate <confKey> <valueA> <valueB> <query> [query...] — runs each
  * query alternately under valueA / valueB (3 rounds each, interleaved
  * ABAB.. so JIT/heat drift brackets both arms), each run Bench's own
  * measurement (`Bench.queryRun`: clearCache, toRdd.count()). Round 16:
  * built for spark.graft.confirm.explodeMinBytes (0 = always
  * pair-explode, default = two-join at test SFs), reusable for any
  * plan-time conf. */
object AbGate {
  def main(args: Array[String]): Unit = {
    val key = args(0); val va = args(1); val vb = args(2)
    val queries = args.drop(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.create(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    graft.Bench.warmup(spark, sfDir)
    queries.foreach { q =>
      // one discarded run per arm to JIT the query's own codepaths
      Seq(va, vb).foreach { v =>
        spark.conf.set(key, v)
        graft.Bench.queryRun(spark, q, sfDir)
      }
      val times = collection.mutable.Map("A" -> List.empty[Double],
        "B" -> List.empty[Double])
      (1 to 3).foreach { _ =>
        Seq(("A", va), ("B", vb)).foreach { case (arm, v) =>
          spark.conf.set(key, v)
          times(arm) = times(arm) :+ graft.Bench.queryRun(spark, q, sfDir)
        }
      }
      def fmt(xs: List[Double]) =
        f"med=${xs.sorted.apply(xs.size / 2)}%.3f min=${xs.min}%.3f " +
          xs.map(x => f"$x%.2f").mkString("[", ",", "]")
      println(s"[abgate] $q A($key=$va) ${fmt(times("A"))}")
      println(s"[abgate] $q B($key=$vb) ${fmt(times("B"))}")
    }
    spark.stop()
  }
}
