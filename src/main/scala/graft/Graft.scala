package graft

import org.apache.spark.sql.SparkSession

/** One-stop session setup: registers the custom Catalyst functions of
  * [[GraftExtensions.table]] (idempotent, per-session). Call before using
  * graft.ops on a session. Also home to the typed `spark.graft.*`
  * settings. */
object Graft {
  def init(spark: SparkSession): SparkSession = {
    // per name, leave what the registry already holds: an earlier init
    // (ops call init per query on shared sessions) or GraftExtensions
    // at session build
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    GraftExtensions.table.foreach { case (id, info, build) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, build)
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

  /** A whole-number `spark.graft.*` setting: its key, its value when
    * unset, and its unit — a value that is not `unit` (e.g. "a byte
    * count") fails naming the key. */
  private[graft] final case class LongSetting(key: String, default: Long,
      unit: String) {
    def get(spark: SparkSession): Long = {
      val raw = spark.conf.get(key, default.toString)
      raw.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$key must be $unit, got '$raw'"))
    }
  }

  /** Corpus size estimate (bytes) at or above which the near-dup
    * confirms' pair attach streams the corpus once and regroups by pair
    * (`Dedup.attachPair`). */
  private[graft] val ConfirmExplodeMinBytes = LongSetting(
    "spark.graft.confirm.explodeMinBytes", 1L << 30, "a byte count")

  /** Corpus size estimate (bytes) at or above which `Dedup.jaccardPairs`
    * shares one explicit token exchange between its df aggregate and
    * prefix join-back. */
  private[graft] val SharedTokExchangeMinBytes = LongSetting(
    "spark.graft.jaccard.sharedTokExchangeMinBytes", 1L << 30,
    "a byte count")

  /** Minimum age (milliseconds) a SUPERSEDED committed rollup version
    * must reach before the GC may delete it — the time floor under the
    * write-cycle-keyed grace (VERDICT r14 #1): without it, a script
    * rebuilding twice in quick succession (a dim-set iteration, a
    * per-partition backfill loop) GCs the version a dashboard query
    * planned seconds ago. 10 minutes by default — generous against any
    * routed read of a dim-cardinality-sized artifact, and retention
    * stays bounded at one version per rebuild inside the window (at
    * the feature's hourly-refresh pitch: one). */
  private[graft] val RollupGcMinAgeMs = LongSetting(
    "spark.graft.rollup.gcMinAgeMs", 600000L,
    "a whole number of milliseconds")
}
