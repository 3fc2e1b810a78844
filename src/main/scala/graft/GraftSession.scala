package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf

/** Session factory with the scale-tuned defaults this engine assumes.
  * One place to encode the 100 TB posture: AQE on (runtime re-planning,
  * partition coalescing, skew-join splitting), shuffle partitions sized
  * to the machine (not Spark's legacy 200), bounded scan partitions, UTC,
  * the nanos-parquet compatibility flag the fixtures need, and a codegen
  * cache that holds graft's working set ([[CodegenCacheEntries]]). */
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
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
        CodegenCacheEntries.toLong)

  /** Build + register the engine's custom Catalyst functions. */
  def create(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession =
    Graft.init(builder(master, shufflePartitions).getOrCreate())
}
