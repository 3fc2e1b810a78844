package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable HyperLogLog sketches as plain DataFrames (Flajolet 2007).
  *
  * Spark's `approx_count_distinct` answers one query; what a 100 TB
  * pipeline needs is the SKETCH as a first-class, persistable object:
  * sketch each day's partition once (a full scan), save the m-row
  * register table to parquet, then answer "distinct over any union of
  * days" by merging register tables — max per bucket — without ever
  * rescanning the data. That mirrors the Misra-Gries heavy-hitter
  * design in [[graft.ops.Freq]]: the sketch is rows, merge is an
  * aggregate, no opaque binary blobs, no driver state.
  *
  * Determinism contract: the hash is md5-derived (60 bits — 15 hex
  * digits, so the ANSI long cast can't overflow), register math is
  * pure integers (rho via `length(bin(w))`, harmonic sum scaled by
  * 2^(width+1) so it's an exact BIGINT), and the one float division
  * happens once at estimate time — the same estimate on every engine,
  * every run, every retry. The DuckDB oracle restates the whole
  * construction in SQL.
  *
  * Scale shape: sketch = one hash-aggregate producing ≤ m rows
  * (partial max map-side — the full m-register table never shuffles
  * more than once); merge = union + the same aggregate; estimate =
  * a single-row aggregate over ≤ m rows. Error ~ 1.04/sqrt(m).
  */
object Hll {

  /** 60-bit deterministic hash of a salted key: the first 15 md5 hex
    * digits of `key ++ salt` (15, so the ANSI long cast can't
    * overflow). One form behind the registers here (salt ":hll"),
    * [[Kmv]]'s bottom-k (":kmv") and [[Sampling]]'s selection
    * priorities (":" + seed) — distinct salts keep the streams
    * independent on the same key. */
  private[graft] def hash60(key: Column, salt: String): Column =
    conv(substring(md5(concat(key.cast("string"), lit(salt))), 1, 15),
      16, 10).cast("long")

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** JVM twin of [[hash60]], bit for bit: the first 15 hex digits of
    * the digest are its top 60 bits, so the first 8 bytes read
    * big-endian and shifted right by 4 — no hex round trip, one digest
    * per thread. */
  private[graft] def jvmHash60(key: String, salt: String): Long =
    java.nio.ByteBuffer.wrap(md5Digest.get
      .digest((key + salt).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      .getLong >>> 4

  /** rho = leading-zero count within the (60-p)-bit suffix, plus one:
    * computed as width+1 - bitlength(w), with bitlength via the
    * binary-string length (exact integers end to end — no log2, whose
    * non-correctly-rounded libm would misplace powers of two). */
  private def rhoOf(w: Column, p: Int): Column = {
    val width = 60 - p
    when(w === 0, lit(width + 1))
      .otherwise(lit(width + 1) - length(bin(w)))
  }

  /** Sketch a key column: ≤ 2^p register rows (bucket, reg). */
  def sketch(df: DataFrame, keyCol: String, p: Int): DataFrame =
    sketchOver(df, Nil, keyCol, p)

  /** Per-group sketches: (group, bucket, reg) — the shape for "distinct
    * users per source over any date range" style rollups. */
  def sketchBy(df: DataFrame, groupCol: String, keyCol: String, p: Int): DataFrame =
    sketchOver(df, Seq(groupCol), keyCol, p)

  /** The one sketch body: (keys..., bucket, reg) register rows; the
    * global sketch is the grouped one over no key. */
  private def sketchOver(df: DataFrame, keys: Seq[String], keyCol: String,
      p: Int): DataFrame = {
    require(p >= 4 && p <= 16, "p must be in [4, 16]")
    val m = 1 << p
    val ks = keys.map(col)
    // `div`, not `/`: Spark's / on longs is DOUBLE division, and a
    // 60-bit hash doesn't fit a double's 53-bit mantissa
    // null keys are not observations (approx_count_distinct semantics;
    // unguarded they'd mint a (null, null) register row that inflates
    // n_present at estimate time)
    df.where(col(keyCol).isNotNull)
      .select(ks :+ hash60(col(keyCol), ":hll").as("h"): _*)
      .select(ks ++ Seq((col("h") % m).cast("int").as("bucket"),
        rhoOf(expr(s"h div ${m}L"), p).cast("int").as("rho")): _*)
      .groupBy(ks :+ col("bucket"): _*).agg(max(col("rho")).as("reg"))
  }

  /** Merge sketches built with the same p: register-wise max. Works on
    * global sketches (bucket, reg) and grouped ones (group, bucket,
    * reg) alike — pass the key columns the sketches carry. */
  def merge(a: DataFrame, b: DataFrame,
      keyCols: Seq[String] = Seq("bucket")): DataFrame =
    a.unionByName(b).groupBy(keyCols.map(col): _*)
      .agg(max(col("reg")).as("reg"))

  /** The bias constant α_m of the HLL estimate (Flajolet 2007). */
  private def alpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1 + 1.079 / m)
  }

  /** The HLL estimate over one register set, as a Column pair builder:
    * scaled harmonic sum (exact BIGINT) and present-bucket count feed
    * one closed-form double expression. */
  private def estimateExpr(m: Int, p: Int,
      scaledSum: Column, nPresent: Column): Column = {
    val width = 60 - p
    val scale = width + 1                    // empty register ⇒ 2^scale
    val v = lit(m) - nPresent                // empty buckets
    val s = scaledSum + v.cast("long") * lit(1L << scale)
    val raw = lit(alpha(m)) * m * m * lit(math.pow(2, scale)) / s
    // small-range (linear counting) correction; the large-range 32-bit
    // correction is unnecessary at a 60-bit hash
    when(raw <= 2.5 * m && v > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / v)).otherwise(raw)
  }

  /** Estimate distinct count from a global sketch: one row,
    * (est_n double, n_buckets int). */
  def estimate(sk: DataFrame, p: Int): DataFrame = estimateOver(sk, Nil, p)

  /** Estimate per group from a grouped sketch: (group, est_n). */
  def estimateBy(sk: DataFrame, groupCol: String, p: Int): DataFrame =
    estimateOver(sk, Seq(groupCol), p).drop("n_buckets")

  /** The one estimate body: (keys..., est_n, n_buckets), one row per
    * key. */
  private def estimateOver(sk: DataFrame, keys: Seq[String], p: Int): DataFrame = {
    val m = 1 << p
    val scale = 60 - p + 1
    val ks = keys.map(col)
    // coalesce: on an EMPTY global sketch sum() is null and the whole
    // estimate chain would go null — with s_scaled=0 the v=m
    // linear-counting branch fires and correctly yields est_n = 0.0
    sk.groupBy(ks: _*)
      .agg(
        coalesce(sum(expr(s"shiftleft(CAST(1 AS BIGINT), $scale - reg)")),
          lit(0L)).as("s_scaled"),
        count(lit(1)).cast("int").as("n_present"))
      .select(ks ++ Seq(
        estimateExpr(m, p, col("s_scaled"), col("n_present")).as("est_n"),
        col("n_present").as("n_buckets")): _*)
  }

  /** One-shot convenience: sketch + estimate. */
  def distinctEstimate(df: DataFrame, keyCol: String, p: Int): DataFrame =
    estimate(sketch(df, keyCol, p), p)

  // --------------------------------------------------------------------
  // JVM-side mirror of the expression pipeline above, for stateful
  // STREAMING use (graft.streaming.StreamOps.hllDistinct keeps one
  // register array per key in mapGroupsWithState). Bit-compatible with
  // the SQL path by construction: same md5-derived 60-bit hash, same
  // rho, same association order in the estimate — the streaming parity
  // spec asserts exact double equality against estimateBy.
  // --------------------------------------------------------------------

  /** (bucket, rho) for one key — the JVM twin of the sketch columns. */
  private[graft] def bucketRho(key: String, p: Int): (Int, Int) = {
    val h = jvmHash60(key, ":hll")
    val m = 1 << p
    val w = h / m
    val width = 60 - p
    val rho =
      if (w == 0) width + 1
      else width + 1 - (64 - java.lang.Long.numberOfLeadingZeros(w))
    ((h % m).toInt, rho)
  }

  /** Estimate from a full register array (0 = never observed) — the
    * JVM twin of [[estimate]], same arithmetic in the same order. */
  private[graft] def estimateJvm(regs: Array[Int], p: Int): Double = {
    val m = 1 << p
    require(regs.length == m, s"expected $m registers")
    val scale = 60 - p + 1
    var sScaled = 0L; var nPresent = 0
    var i = 0
    while (i < m) {
      if (regs(i) > 0) { nPresent += 1; sScaled += 1L << (scale - regs(i)) }
      i += 1
    }
    val v = m - nPresent
    val s = sScaled + v.toLong * (1L << scale)
    val raw = alpha(m) * m * m * math.pow(2, scale) / s
    // StrictMath, not math.log: Spark's Log expression evaluates via
    // StrictMath, and the hardware-intrinsic Math.log differs by 1 ulp
    // on some inputs — enough to break exact stream/batch parity
    if (raw <= 2.5 * m && v > 0) m.toDouble * StrictMath.log(m.toDouble / v)
    else raw
  }
}
