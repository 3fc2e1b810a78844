package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout control: cluster a table on its dominant filter columns at
  * write time so downstream scans prune instead of reading everything.
  *
  * The reference's sources are an extension trait with no layout notion
  * (reference: src/datasource/table.rs:9 — scan() returns all partitions);
  * at 100 TB layout IS the difference between a query touching 100 TB or
  * 1 TB. Two complementary mechanisms, both write-side:
  *
  *  - hive-style `partitionBy` directories (Frame.write) — coarse keys with
  *    bounded cardinality (date, source); pruning happens at planning time
  *    from directory names.
  *  - range-clustering (this op) — high-cardinality orderable keys
  *    (timestamps, ids): `repartitionByRange` puts disjoint key ranges in
  *    separate files and the in-file sort tightens every parquet row-group's
  *    min/max stats, so a range filter skips whole files/row groups at read
  *    time even though the key is not a directory.
  *
  * The write costs one range-exchange (sampled boundaries, balanced output
  * files — no skewed 10 GB file next to empty ones); reads with a range
  * predicate on the cluster key then touch ~selectivity of the bytes.
  * LayoutSpec pins the read-side contract: the predicate reaches the scan
  * as PushedFilters and the clustered readback equals the source query.
  */
object Layout {

  /** Rewrite `df` as `numFiles` parquet files range-clustered and
    * internally sorted on `cols`. */
  def writeClustered(df: DataFrame, path: String, numFiles: Int,
      cols: String*): Unit = {
    require(cols.nonEmpty, "writeClustered requires at least one cluster column")
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    df.repartitionByRange(numFiles, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Z-value of N numeric columns: each is min/max-scaled to `bits` bits
    * (the min/max pairs are 2N scalars computed by one tiny aggregate up
    * front — the only non-per-row step) and the bits are interleaved
    * round-robin, so rows close in EVERY dimension get close z-values.
    * Unrolls to a flat chain of shift/mask/or terms — pure codegen, no
    * UDF. Bit layout for dimension d of n at bit i: position
    * `n*i + (n-1-d)` — for n=2 this is the classic (2i+1, 2i)
    * interleave. */
  private def zValue(cols: Seq[Column], bounds: Seq[(Double, Double)],
      bits: Int): Column = {
    def scaled(c: Column, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else least(greatest(
          ((c.cast("double") - lit(lo)) / lit(hi - lo) * lit((1L << bits) - 1)),
          lit(0.0)), lit(((1L << bits) - 1).toDouble))
        .cast("long")
    val n = cols.length
    val s = cols.zip(bounds).map { case (c, (lo, hi)) => scaled(c, lo, hi) }
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      s.zipWithIndex.foldLeft(acc) { case (a, (sc, d)) =>
        a.bitwiseOR(shiftleft(
          shiftrightunsigned(sc, i).bitwiseAND(lit(1L)), n * i + (n - 1 - d)))
      }
    }
  }

  /** Rewrite `df` z-ordered on two numeric columns: files are
    * range-partitioned and sorted on the interleaved-bit z-value, so each
    * file covers a small rectangle of the (colA, colB) plane and a range
    * predicate on EITHER column (or both) skips most files via parquet
    * min/max stats — the multi-dimensional complement of
    * [[writeClustered]], which buys pruning on one ordering only.
    *
    * Cost: one scalar min/max aggregate over the two columns (to fix the
    * bit scaling) plus the same single range-exchange as writeClustered.
    * The z column is dropped before the write — layout only, never schema. */
  def writeZOrdered(df: DataFrame, path: String, numFiles: Int,
      colA: String, colB: String, bits: Int = 16): Unit =
    writeZOrderedN(df, path, numFiles, Seq(colA, colB), bits)

  /** N-dimensional z-ordered rewrite — [[writeZOrdered]] generalized:
    * files cover small boxes of the N-column key space, buying min/max
    * stat pruning for range predicates on ANY subset of the columns.
    * Pruning power per dimension dilutes as N grows (each file's box
    * halves per dimension only every N z-bits), so 2–4 dimensions is
    * the practical sweet spot. `bits * N` must fit a signed long. */
  def writeZOrderedN(df: DataFrame, path: String, numFiles: Int,
      cols: Seq[String], bits: Int = 16): Unit = {
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    require(cols.size >= 2, s"z-ordering needs >= 2 columns, got ${cols.size}")
    require(bits > 0 && bits * cols.size <= 62,
      s"bits * dimensions must fit a long: got $bits * ${cols.size}")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
    val mmRow = df.agg(aggs.head, aggs.tail: _*)
      .collect()(0).toSeq.map {
        case null => 0.0
        case d: Double => d
      }
    val bounds = mmRow.grouped(2).map { case Seq(lo, hi) => (lo, hi) }.toSeq
    // File boundaries are EXACT equi-depth z-quantiles, not
    // repartitionByRange's sampled ones: the sampler draws with an
    // RDD-id-dependent seed, so two runs of the same write can lay the
    // same corpus out differently (and a 100-rows-per-partition sample
    // sets boundaries with real variance at production partition
    // counts). Here the distinct-z domain aggregates once (map-side
    // combined), the distributed prefix cascade ([[Profile.domainPrefix]]
    // — never an unpartitioned window) assigns each z value its bucket
    // under [[Profile.binByQuantile]]'s integer-CDF rule, and the write
    // is value-deterministic: same corpus → same file boundaries, every
    // run, every retry. A z value heavier than one bucket width stays
    // in one file (its bucket), so heavy ties yield FEWER files, never
    // a straddled value.
    val withZ = df
      .withColumn("_zk", coalesce(zValue(cols.map(col), bounds, bits),
        lit(-1L)))
    val cnts = withZ.groupBy(col("_zk").as("u"))
      .agg(count(lit(1)).as("n_v"))
    val mapping = Profile.domainPrefix(cnts, "u", Seq("n_v"))
      .select(col("u").as("_zk"),
        least(lit((numFiles - 1).toLong),
          expr(s"cum_n_v * $numFiles div tot_n_v")).as("_b"))
    // exact bucket -> partition map: repartition()'s exchange hashes
    // with murmur3(seed 42), so pin each bucket to its own partition by
    // routing through a driver-found long whose hash lands on that
    // residue — a deterministic identity partitioner in pure DataFrame
    // terms, no RDD round-trip
    val pins = hashPins(numFiles)
    withZ.join(mapping, Seq("_zk"))
      .repartition(numFiles,
        element_at(lit(pins), col("_b").cast("int") + 1))
      .sortWithinPartitions(col("_zk"))
      .drop("_zk", "_b")
      .write.mode("overwrite").parquet(path)
  }

  /** For each residue b in [0, n): a long x with
    * pmod(murmur3_hash(x, seed 42), n) == b — what lets a DataFrame
    * `repartition(n, ...)` act as an exact value->partition assignment.
    * Expected search cost is n·H(n) hash evaluations (coupon
    * collector), driver-side, microseconds at realistic file counts. */
  private[ops] def hashPins(n: Int): Array[Long] = {
    val pins = new Array[Long](n)
    val found = new Array[Boolean](n)
    var remaining = n
    var x = 0L
    while (remaining > 0) {
      val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
        .hash(x, org.apache.spark.sql.types.LongType, 42L).toInt
      val b = ((h % n) + n) % n
      if (!found(b)) { found(b) = true; pins(b) = x; remaining -= 1 }
      x += 1
    }
    pins
  }

  /** Compact a parquet directory into files of roughly `targetFileBytes`
    * (computed from the directory's current on-disk size, so the output
    * file count adapts to the data): the small-file fix for corpora
    * ingested by many tiny micro-batches, where a 100 TB table fragmented
    * into millions of KB-files spends its scan time on open/footer
    * overhead instead of IO. One round-robin exchange, no sort — pair with
    * [[writeClustered]]/[[writeZOrdered]] when the table also needs an
    * ordering. Writes to `outPath` (never in place — the caller swaps
    * directories after validating). Returns the output file count. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetFileBytes: Long = 128L << 20): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(inPath != outPath, "compact never rewrites in place; give a fresh outPath")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inPath), spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(inPath)).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    spark.read.parquet(inPath)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(outPath)
    nFiles
  }

  /** Write with parquet bloom filters on the named high-cardinality
    * columns: an equality predicate can then skip whole row groups whose
    * bloom filter excludes the value — the point-lookup complement of
    * min/max stat pruning ([[writeClustered]]/[[writeZOrdered]]), and it
    * works on UNSORTED data, where min/max ranges cover everything. The
    * reader side is free: parquet-mr evaluates pushed equality filters
    * against the bloom at row-group granularity. Size `expectedNdv` to
    * the column's distinct count per file — too low inflates the false-
    * positive rate and the filter stops skipping.
    *
    * Dictionary interplay (parquet-mr semantics): a column whose every
    * page stays dictionary-encoded gets NO bloom — the dictionary is
    * already an exact membership filter. Blooms materialize exactly
    * when they're needed: once a 100 TB-scale file's cardinality
    * overflows the dictionary page and encoding falls back to plain.
    * `extraOptions` passes further parquet writer knobs through. */
  def writeWithBloom(df: DataFrame, path: String, bloomCols: Seq[String],
      expectedNdv: Long = 1000000L,
      extraOptions: Map[String, String] = Map.empty): Unit = {
    require(bloomCols.nonEmpty, "writeWithBloom needs at least one column")
    bloomCols.foldLeft(df.write.mode("overwrite").options(extraOptions)) {
      (w, c) =>
        w.option(s"parquet.bloom.filter.enabled#$c", "true")
          .option(s"parquet.bloom.filter.expected.ndv#$c", expectedNdv.toString)
    }.parquet(path)
  }

  /** Idempotent partition-level re-ingest (dynamic partition overwrite):
    * land `df` into the hive-partitioned table at `path`, replacing ONLY
    * the partitions present in `df` and leaving every other partition's
    * files physically untouched. This is the batch-recovery contract a
    * 100 TB ingest needs: a failed or reprocessed slice (a day, a crawl
    * shard) re-lands its own partitions wholesale, re-running the same
    * batch is a no-op at the table level, and no job ever rewrites data
    * it didn't produce. Spark's STATIC overwrite (the default) would
    * instead truncate the whole table — the per-write option pins the
    * dynamic mode regardless of session configuration. */
  def upsertPartitions(df: DataFrame, path: String,
      partCols: Seq[String]): Unit = {
    require(partCols.nonEmpty, "upsertPartitions needs at least one partition column")
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*).parquet(path)
  }

  /** Atomic MULTI-TABLE snapshot commit through
    * [[DirCommit.commitVersion]]: every table writes under one fresh
    * `data_v<N>/<table>`, and the version's `_committed` marker lands
    * only after EVERY write succeeds. Readers resolve the highest
    * committed version and read all its tables from that one
    * directory, so a crash after any subset of table writes leaves
    * them on the previous consistent snapshot — no torn reads across
    * tables; the next commit deletes the uncommitted leftover. Every
    * committed version is kept until [[vacuumSnapshots]]. Returns the
    * committed version.
    *
    * This is the cross-TABLE atomicity complement to
    * [[upsertPartitions]] (within-table idempotent re-lands) and the
    * streaming rollup sink's batch-id fence (exactly-once deltas). */
  def commitSnapshot(tables: Map[String, DataFrame], path: String): Long = {
    require(tables.nonEmpty, "commitSnapshot needs at least one table")
    require(tables.keys.forall(n => n.nonEmpty && !n.contains('/') &&
        !n.startsWith(".") && !n.startsWith("_")),
      "table names must be plain directory names")
    val (fs, root) = snapshotRoot(path)
    DirCommit.commitVersion(fs, root, Long.MaxValue, 0L) { dir =>
      tables.toSeq.sortBy(_._1).foreach { case (name, df) =>
        df.write.parquet(new Path(dir, name).toString)
      }
    }
  }

  /** Delete committed versions below the newest `keepLast`. Nothing at
    * or above the current version goes: a directory above it may be an
    * in-flight commit's next version (the next commit sweeps it if it
    * is a crashed one). Readers pinned to vacuumed versions lose time
    * travel, not correctness. */
  def vacuumSnapshots(path: String, keepLast: Int): Unit = {
    require(keepLast >= 1, "keepLast must retain at least the current version")
    val (fs, root) = snapshotRoot(path)
    DirCommit.committedVersions(fs, root).dropRight(keepLast)
      .foreach(v => fs.delete(DirCommit.versionDir(root, v), true))
  }

  /** The committed snapshot's version (0 when nothing is committed). */
  def currentVersion(path: String): Long = {
    val (fs, root) = snapshotRoot(path)
    DirCommit.currentVersion(fs, root)
  }

  /** Read one table of the CURRENT committed snapshot. A commit landing
    * concurrently is invisible until its marker. */
  def readSnapshot(spark: SparkSession, path: String,
      table: String): DataFrame = {
    val (fs, root) = snapshotRoot(path)
    val v = DirCommit.currentVersion(fs, root)
    require(v > 0, s"no committed snapshot at $path")
    val dir = DirCommit.versionDir(root, v)
    if (!fs.exists(new Path(dir, table))) {
      val has = fs.listStatus(dir).filter(_.isDirectory)
        .map(_.getPath.getName).sorted
      throw new NoSuchElementException(s"table '$table' not in snapshot " +
        s"at $path (has ${has.mkString(", ")})")
    }
    spark.read.parquet(new Path(dir, table).toString)
  }

  /** A snapshot root and its own filesystem, configured from the
    * active session. */
  private def snapshotRoot(path: String): (FileSystem, Path) = {
    val root = new Path(path)
    (root.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration),
      root)
  }

  /** Trainer-facing sharded export: write `df` into `nShards`
    * hive-partitioned shard directories with a content MANIFEST the
    * consumer can verify shard-by-shard — (shard, n_rows, digest_hi,
    * digest_lo), where the digest is an ORDER-FREE exact sum of per-row
    * 48-bit md5 prefixes on the row key, carried as two BIGINT limbs
    * (sum of the high 24 bits, sum of the low 24 bits; total =
    * digest_hi * 2^24 + digest_lo). Two int64 limbs stay exact to
    * ~2^39 rows per shard with no wide-decimal types that downstream
    * engines render differently. Shard assignment is the md5 bucket of the
    * same key: deterministic across runs, retries, partitionings, and
    * engines (a downstream reader can recompute both columns in any
    * system and prove it holds the same rows — no reliance on parquet
    * file bytes, which are never byte-stable).
    *
    * Scale shape: one repartition on the shard column co-locates each
    * shard's rows into one file write; the manifest is an nShards-row
    * aggregate of 8-byte digests. The input is computed twice (once
    * for the write, once for the manifest) — at 100 TB prefer a
    * stable source over recompute-sensitive upstream randomness, or
    * checkpoint first; the digest algebra itself is retry-stable by
    * construction. Returns the manifest (also written
    * as `_manifest.tsv` next to the shards — underscore-prefixed so
    * parquet readers of the directory skip it, like _SUCCESS).
    *
    * FORMAT NOTE (v2, round 8): the manifest columns changed from
    * (shard, n_rows, rows_digest) to (shard, n_rows, digest_hi,
    * digest_lo) — the two-limb split below is what keeps the sums
    * exact in int64 at 100 TB shard sizes. The TSV carries its header
    * line precisely so consumers can key on column NAMES, not
    * positions; a reader that checks the header sees the break
    * loudly instead of silently mis-parsing (ADVICE r8). */
  def exportShards(df: DataFrame, path: String, keyCol: String,
      nShards: Int): DataFrame = {
    require(nShards >= 1, "nShards must be positive")
    // a NULL key would shard to NULL (a __HIVE_DEFAULT_PARTITION__
    // directory) and then NPE in the manifest's getLong AFTER the data
    // write completed (r11 self-review) — fail before any byte lands
    val keyStr = when(col(keyCol).isNotNull, col(keyCol).cast("string"))
      .otherwise(raise_error(lit(
        s"exportShards: NULL $keyCol — every row needs a shardable key")))
    val digest =
      conv(substring(md5(keyStr.cast("binary")), 1, 12), 16, 10).cast("long")
    val sharded = df
      .withColumn("shard", pmod(digest, lit(nShards.toLong)))
      .withColumn("_row_digest", digest)
    sharded
      .repartition(col("shard"))
      .drop("_row_digest")
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    // two-limb accumulator: a raw BIGINT sum of 48-bit row digests
    // would overflow around 2^15 worst-case rows per shard (ANSI would
    // at least raise, but the export must WORK at 100 TB) — summing the
    // 24-bit halves separately keeps each limb exact to ~2^39 rows per
    // shard in plain int64, with no wide-decimal output type
    val manifest = sharded
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("_row_digest div 16777216")).as("digest_hi"),
        sum(col("_row_digest") % lit(16777216L)).as("digest_lo"))
      .orderBy(col("shard"))
    val lines = "shard\tn_rows\tdigest_hi\tdigest_lo\n" +
      manifest.collect().map(r =>
        s"${r.getLong(0)}\t${r.getLong(1)}\t${r.getLong(2)}\t${r.getLong(3)}")
        .mkString("\n")
    val out = new Path(path, "_manifest.tsv")
    DirCommit.writeText(out.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration), out, lines)
    manifest
  }
}
