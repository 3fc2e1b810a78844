package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Table loaders and exact-sum helpers shared by the query families. */
private[queries] object Fixtures {

  /** A file of the checkout's own test data (`src/test/resources/data`),
    * as an absolute path resolved against the working directory, so a
    * frame and its oracle read the fixtures of the checkout the process
    * runs from. */
  def dataFile(name: String): String =
    new java.io.File(s"src/test/resources/data/$name").getAbsolutePath

  /** Parquet table loader (fresh plan per call, so self-joins get distinct
    * attribute ids). */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Exact decimal-accumulated sum of a 2-decimal double column. */
  def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Exact DECIMAL(28,8) sum rounded to `scale` IN DECIMAL, then cast.
    * The rounding must happen before the cast: a cents value's integer
    * representation stays below 2^53, so both engines' decimal->double
    * conversions reduce to one correctly-rounded IEEE division and agree
    * bit-for-bit — whereas casting the scale-8 sum first double-rounds
    * and measurably diverges by 1 ulp across engines at sf >= 0.1
    * (DuckDB float-divides its int128; Spark casts the exact decimal). */
  def dsum8r(c: Column, scale: Int = 2): Column =
    round(sum(c.cast(DecimalType(28, 8))), scale).cast("double")

  /** Epoch-microseconds LONG for the events `ts` column under EITHER
    * fixture representation the driver has shipped: parquet
    * TIMESTAMP(NANOS) read as a nanos LONG (spark.sql.legacy.parquet
    * .nanosAsLong — rounds <= 6), or TIMESTAMP(MICROS) read as a
    * timestamp (round-7 regeneration; NTZ when the file is not
    * UTC-adjusted). Integer `div` keeps full precision (a double
    * division would lose bits above 2^53); the NTZ->LTZ cast is an
    * identity wall-clock mapping under the UTC session timezone, so
    * unix_micros here equals DuckDB's epoch_us(ts) on the same file. */
  def tsUsLong(df: DataFrame): Column =
    graft.ops.TimeSeries.epochMicros(df, "ts")

  /** events with ts normalized — expose both an epoch-seconds long and a
    * microsecond timestamp, whatever physical form `ts` arrived in. */
  def events(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").withColumn("__ts_us", tsUsLong(t(s, dir, "events")))
      .withColumn("ts_sec", expr("__ts_us div 1000000"))
      .withColumn("ts_us", timestamp_micros(col("__ts_us")))
      .drop("__ts_us")

  /** events with ts_us as a PLAIN LONG of epoch-micros (not a timestamp)
    * — the form the as-of join and funnel order by; one definition so no
    * query silently shadows the timestamp column with a long. */
  def eventsUsLong(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    raw.withColumn("ts_us", tsUsLong(raw))
  }
}
