package graft.ops

import org.apache.spark.sql.DataFrame

/** Shared materialization point for the iterative operators (the
  * connected-components loop [[Graph.minLabelComponents]] behind
  * [[Dedup.nearDupClusters]] and [[Graph.connectedComponents]],
  * [[Graph.pageRank]], [[Graph.bfsHops]]):
  * every round must truncate lineage (plans roughly double per
  * iteration otherwise — measured OOM merely stringifying one around
  * 30 rounds), and HOW it truncates is a deployment decision, not an
  * algorithm one.
  *
  * - `dir = None` (default): eager `localCheckpoint` — blocks stored on
  *   executors, zero external storage, the right single-JVM/local-mode
  *   choice. NOT fault-tolerant: losing an executor loses the blocks
  *   and the job must restart from the source.
  * - `dir = Some(path)`: eager RELIABLE `checkpoint` to `path` (HDFS/
  *   object store on a real cluster) — rounds survive executor loss,
  *   the right choice for a 100 TB run where hours of iterations
  *   shouldn't replay because one of 1000 executors died.
  *
  * The two paths are observationally identical (same rows, same
  * convergence — pinned by spec); only failure recovery differs. The
  * context's checkpoint dir is set only when it does not already lie
  * under `path` (SparkContext appends a unique child per set call —
  * re-setting per round would scatter state across directories), so
  * a later caller's `path` is honored, not silently replaced by the
  * first caller's. */
private[graft] object Checkpoints {
  def materialize(df: DataFrame, dir: Option[String]): DataFrame =
    dir match {
      case Some(path) =>
        val sc = df.sparkSession.sparkContext
        val root = new org.apache.hadoop.fs.Path(path)
        val qualified = root.getFileSystem(sc.hadoopConfiguration)
          .makeQualified(root).toString
        if (!sc.getCheckpointDir.exists(_.startsWith(s"$qualified/")))
          sc.setCheckpointDir(path)
        df.checkpoint(eager = true)
      case None => df.localCheckpoint(eager = true)
    }
}
