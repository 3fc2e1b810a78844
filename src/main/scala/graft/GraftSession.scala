package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** Session factory with the scale-tuned defaults this engine assumes.
  * One place to encode the 100 TB posture: AQE on (runtime re-planning,
  * partition coalescing, skew-join splitting), shuffle partitions sized
  * to the machine (not Spark's legacy 200), bounded scan partitions, UTC,
  * the nanos-parquet compatibility flag the fixtures need, and the two
  * settings that let a long-lived session reuse its compiled classes
  * ([[SessionReuseConf]]). */
object GraftSession {
  /** Capacity of Spark's JVM-wide codegen cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100).
    *
    * The cache is an LRU keyed by (context class loader, generated
    * source). Spark's 100 entries are fewer than one pass of graft's own
    * query mix generates, so a repeated pass evicts classes it needs
    * again and pays the Janino compile, the class load and the JIT
    * warm-up once more for each. Sized from graft's mix, counted as
    * `CodegenMetrics.METRIC_COMPILATION_TIME` deltas under an unbounded
    * cache: one cold `graft.Bench` pass at sf0.1 compiles 942 distinct
    * classes (26 in the warm-up, 916 in the 50 batch entries); 2000 is
    * the smallest round number that holds them with about 2x headroom.
    * A warm perfbench `mixed_sf01` pass (119 classes cold) then compiles
    * nothing.
    *
    * Cost: a cached class stays loaded, about 8 KB of metaspace each.
    * After that `graft.Bench` pass and a full GC, metaspace held 7.6 MB
    * more than under the 100-entry cache; a full cache bounds it near
    * 16 MB. On a 4-core VM with JDK 17, perfbench's peak RSS moved +2.7%
    * on `mixed_sf01` and 0% on `ingest_stream` (BENCH_NOTES.md).
    *
    * The setting is static: the first session in a JVM that generates
    * code fixes the capacity for every later one. A session built
    * without [[builder]] keeps Spark's 100 unless it sets the key at
    * build time. */
  val CodegenCacheEntries: Int = 2000

  /** The settings that let one long-lived JVM reuse its compiled classes,
    * as one value that [[builder]] and every spec session builder apply:
    *
    *  - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]];
    *  - `spark.sql.artifact.isolation.enabled` = false.
    *
    * Artifact isolation keeps the artifacts a session adds with
    * `addArtifact` (jars, files, REPL classes) apart from other sessions'.
    * To do that, each session's jobs carry its session id, and the
    * executor runs their tasks under a class loader of that session's
    * own. A streaming query runs in a clone of its session, with a new
    * id, so each stream start brings a new loader; and since the codegen
    * cache is keyed on (loader, source), every stream start compiled
    * again the classes its previous start had compiled. Per warm pass of
    * perfbench's `ingest_stream` (four streams started again each pass),
    * on a 4-core VM with JDK 17: 114 compiles (0.49 s) with isolation
    * on; 1 with it off, and 0 once `StreamOps.hllDistinct`'s state
    * encoder was resolved once (BENCH_NOTES.md). Jobs, stages, tasks and
    * state rows were equal. With it on, dead streams' classes also
    * filled the cache at 114 entries a pass and would evict the batch
    * working set after about 16 passes.
    *
    * What it gives up is only that isolation: artifacts added with
    * `addArtifact`, a Spark Connect feature, become visible to every
    * other session that has the setting off. graft makes no
    * `addArtifact` or `ArtifactManager` call.
    *
    * The isolation flag is a session-level SQL setting, not a static
    * one, but Spark reads it only when a session is created; setting it
    * on a running session does nothing. */
  val SessionReuseConf: Map[String, String] = Map(
    StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key -> CodegenCacheEntries.toString,
    SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key -> "false")

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // big-big shuffle joins with a selective side: build a bloom filter
      // from the filtered side and drop fact rows BEFORE the shuffle
      // (ScaleOpsSpec pins the rewrite; thresholds stay Spark's defaults,
      // sized for real clusters rather than the test fixtures)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(SessionReuseConf)

  /** Build + register the engine's custom Catalyst functions. */
  def create(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession =
    Graft.init(builder(master, shufflePartitions).getOrCreate())
}
