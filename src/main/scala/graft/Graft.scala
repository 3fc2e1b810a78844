package graft

import org.apache.spark.sql.SparkSession

/** One-stop session setup: registers all custom Catalyst functions
  * (idempotent, per-session). Call before using graft.ops on a session. */
object Graft {
  def init(spark: SparkSession): SparkSession = {
    // quiet idempotence: re-registering via createOrReplaceTempFunction
    // logs a "replaced a previously registered function" warning per
    // function per call, burying real warnings when many queries each
    // init the same session — so skip when already registered (dot_f is
    // the sentinel; all functions register together)
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("dot_f"))) {
      graft.functions.VectorExprs.register(spark)
      graft.functions.TextExprs.register(spark)
      graft.functions.ShingleExprs.register(spark)
      graft.functions.BpeEncode.register(spark)
      graft.functions.NumericExprs.register(spark)
      graft.functions.SketchExprs.register(spark)
    }
    // rollup routing (idempotent): rewrites matching aggregations over
    // a Rollup.register'd base table to read the saved rollup. Runs in
    // extraOptimizations — after pushdown/pruning settle into the
    // Project/Filter chain the rule walks
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.RollupRouting))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RollupRouting
    spark
  }

  /** A whole-number `spark.graft.*` setting, `default` when unset; a
    * value that is not `what` (e.g. "a byte count") fails naming the
    * key. */
  private[graft] def longSetting(spark: SparkSession, key: String,
      default: Long, what: String): Long = {
    val raw = spark.conf.get(key, default.toString)
    raw.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"$key must be $what, got '$raw'"))
  }
}
