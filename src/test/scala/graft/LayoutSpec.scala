package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.ops.Layout

/** ops/Layout: a clustered rewrite must change only the physical layout —
  * same rows back, range predicate pushed to the scan, and the written
  * files must cover disjoint cluster-key ranges (the property row-group
  * stat pruning depends on). */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private lazy val src = spark.read.parquet(s"$sfDir/lineitem.parquet")

  private def clusteredPath(): String = {
    val path = tempDir("graft-layout-spec")
      .resolve("lineitem").toString
    Layout.writeClustered(src, path, 4, "l_shipdate")
    path
  }

  test("readback equals the source, filtered or not") {
    val path = clusteredPath()
    val back = spark.read.parquet(path)
    assert(back.count() == src.count())
    val pred = col("l_shipdate") >= "1996-03-01" && col("l_shipdate") < "1996-04-01"
    val a = back.where(pred).groupBy("l_returnflag").count()
      .as[(String, Long)].collect().toSet
    val b = src.where(pred).groupBy("l_returnflag").count()
      .as[(String, Long)].collect().toSet
    assert(a.nonEmpty && a == b)
  }

  test("range predicate reaches the clustered scan as a pushed filter") {
    val path = clusteredPath()
    val plan = spark.read.parquet(path)
      .where(col("l_shipdate") >= "1996-03-01")
      .select("l_shipdate", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "GreaterThanOrEqual(l_shipdate,"), s"no pushdown:\n$plan")
    // column pruning intact through the rewrite (2 of 16 columns read)
    assert(plan.contains("ReadSchema: struct<l_quantity:double,l_shipdate:timestamp_ntz>"),
      s"scan reads more than the projection:\n$plan")
  }

  test("files cover disjoint shipdate ranges (the stat-pruning contract)") {
    val path = clusteredPath()
    val ranges = spark.read.parquet(path)
      .select(input_file_name().as("f"), col("l_shipdate"))
      .groupBy("f").agg(min("l_shipdate").as("lo"), max("l_shipdate").as("hi"))
      .select("lo", "hi").as[(String, String)].collect()
      .sortBy(_._1)
    assert(ranges.length == 4) // numFiles respected
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"overlapping file ranges: $hi1 > $lo2")
      case _ =>
    }
  }

  test("rejects bad arguments up front") {
    intercept[IllegalArgumentException] { Layout.writeClustered(src, "/tmp/x", 0, "l_shipdate") }
    intercept[IllegalArgumentException] { Layout.writeClustered(src, "/tmp/x", 4) }
    intercept[IllegalArgumentException] {
      Layout.writeZOrdered(src, "/tmp/x", 0, "l_orderkey", "l_partkey") }
    intercept[IllegalArgumentException] {
      Layout.writeZOrdered(src, "/tmp/x", 4, "l_orderkey", "l_partkey", bits = 0) }
    intercept[IllegalArgumentException] { Layout.compact(spark, "/tmp/x", "/tmp/x") }
    intercept[IllegalArgumentException] { Layout.compact(spark, "/tmp/x", "/tmp/y", 0L) }
  }

  test("z-order readback equals the source; schema untouched") {
    val path = tempDir("graft-zorder-spec")
      .resolve("lineitem").toString
    Layout.writeZOrdered(src, path, 8, "l_orderkey", "l_partkey")
    val back = spark.read.parquet(path)
    assert(back.schema == src.schema) // the _z helper column never leaks
    val key = src.columns.map(col)
    assert(back.select(key: _*).except(src.select(key: _*)).isEmpty)
    assert(back.count() == src.count())
  }

  test("z-order layout is value-deterministic: two writes produce " +
      "identical file boundaries") {
    // the old repartitionByRange path sampled boundaries with an
    // RDD-id-dependent seed — the same write in a different session
    // history laid files out differently (the full-suite flake this
    // pins); exact integer-CDF buckets depend on values only
    def fileRanges(p: String): Set[(Long, Long, Long)] =
      spark.read.parquet(p)
        .select(input_file_name().as("f"),
          col("l_orderkey").cast("long").as("v"))
        .groupBy("f")
        .agg(min("v").as("lo"), max("v").as("hi"), count(lit(1)).as("n"))
        .select("lo", "hi", "n").as[(Long, Long, Long)].collect().toSet
    val p1 = tempDir("graft-zdet-spec")
      .resolve("a").toString
    val p2 = tempDir("graft-zdet-spec")
      .resolve("b").toString
    Layout.writeZOrdered(src, p1, 8, "l_orderkey", "l_partkey")
    // interleave unrelated jobs so the second write's RDD ids differ —
    // the exact perturbation that flipped the sampled-boundary layout
    spark.range(1000).select(sum("id")).collect()
    Layout.writeZOrdered(src, p2, 8, "l_orderkey", "l_partkey")
    assert(fileRanges(p1) == fileRanges(p2))
  }

  test("z-order files cover small rectangles on BOTH dimensions") {
    val path = tempDir("graft-zorder-spec")
      .resolve("lineitem").toString
    Layout.writeZOrdered(src, path, 8, "l_orderkey", "l_partkey")
    def spans(p: String, c: String): Seq[Long] =
      spark.read.parquet(p)
        .select(input_file_name().as("f"), col(c).cast("long").as("v"))
        .groupBy("f").agg((max("v") - min("v")).as("span"))
        .select("span").as[Long].collect().toSeq
    val Seq(okGlobal, pkGlobal) = src
      .agg(max("l_orderkey") - min("l_orderkey"),
        max(col("l_partkey").cast("long")) - min(col("l_partkey").cast("long")))
      .as[(Long, Long)].collect().toSeq.flatMap(t => Seq(t._1, t._2))
    // files cover narrow rectangles ON AVERAGE on both axes (mean, not
    // max: the one file straddling a major z-curve boundary legitimately
    // spans wide on one axis; a single-column sort would instead give
    // near-full-span files on the whole other axis)
    val okSpans = spans(path, "l_orderkey")
    val pkSpans = spans(path, "l_partkey")
    assert(okSpans.size == 8 && pkSpans.size == 8)
    def mean(xs: Seq[Long]) = xs.sum.toDouble / xs.size
    assert(mean(okSpans) < okGlobal * 0.8, s"orderkey spans $okSpans vs $okGlobal")
    assert(mean(pkSpans) < pkGlobal * 0.8, s"partkey spans $pkSpans vs $pkGlobal")
    // contrast: cluster on orderkey alone and partkey files stay full-span
    val flat = tempDir("graft-zorder-spec")
      .resolve("flat").toString
    Layout.writeClustered(src, flat, 8, "l_orderkey")
    assert(spans(flat, "l_partkey").exists(_ >= pkGlobal * 9 / 10))
  }

  test("compact merges a fragmented directory without changing the rows") {
    val dir = tempDir("graft-compact-spec")
    val fragged = dir.resolve("fragged").toString
    src.limit(5000).repartition(40).write.parquet(fragged)
    def nFiles(p: String) =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFiles(fragged) == 40)
    val out = dir.resolve("compacted").toString
    // target far above the data size -> everything folds into one file
    val planned = Layout.compact(spark, fragged, out, targetFileBytes = 1L << 30)
    assert(planned == 1 && nFiles(out) == 1)
    val key = src.columns.map(col)
    assert(spark.read.parquet(out).select(key: _*)
      .except(spark.read.parquet(fragged).select(key: _*)).isEmpty)
    assert(spark.read.parquet(out).count() == 5000)
  }

  test("3-dim z-order files cover small boxes on all three dimensions") {
    val path = tempDir("graft-zorder3-spec")
      .resolve("lineitem").toString
    Layout.writeZOrderedN(src, path, 8,
      Seq("l_orderkey", "l_partkey", "l_suppkey"))
    def meanSpan(c: String): Double = {
      val spans = spark.read.parquet(path)
        .select(input_file_name().as("f"), col(c).cast("long").as("v"))
        .groupBy("f").agg((max("v") - min("v")).as("span"))
        .select("span").as[Long].collect()
      spans.sum.toDouble / spans.length
    }
    def globalSpan(c: String): Long = src
      .agg(max(col(c).cast("long")) - min(col(c).cast("long")))
      .as[Long].collect().head
    // 8 files = one z-bit per dimension: every file should halve each
    // axis on average (mean, not max — boundary-straddling files span
    // wide legitimately)
    for (c <- Seq("l_orderkey", "l_partkey", "l_suppkey"))
      assert(meanSpan(c) < globalSpan(c) * 0.85,
        s"$c mean span ${meanSpan(c)} vs global ${globalSpan(c)}")
    // round-trip: layout only
    assert(spark.read.parquet(path).count() == src.count())
  }

  test("writeWithBloom writes a bloom filter for the named column only") {
    val dir = tempDir("graft-bloom-spec")
      .resolve("t").toString
    // a 1 KB dictionary page forces the encoder off the dictionary path
    // at this fixture's cardinality — parquet-mr only materializes a
    // bloom once the column is not fully dictionary-encoded (at real
    // scale the cardinality itself overflows the default 1 MB page)
    Layout.writeWithBloom(src.limit(5000), dir, Seq("l_partkey"),
      extraOptions = Map("parquet.dictionary.page.size" -> "1024"))
    val file = {
      val d = java.nio.file.Paths.get(dir)
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.toSeq
        .find(_.getFileName.toString.startsWith("part-")).get.toString
      finally s.close()
    }
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file),
        spark.sessionState.newHadoopConf()))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns.asScala
      val offs = cols.map(c => c.getPath.toDotString -> c.getBloomFilterOffset).toMap
      assert(offs("l_partkey") >= 0, "l_partkey must carry a bloom filter")
      assert(offs("l_orderkey") == -1, "unlisted columns must not pay for one")
    } finally reader.close()
    // the rewrite changes layout only: a point lookup reads back equal
    val probe = src.limit(5000).where(col("l_partkey") === 42L).count()
    assert(spark.read.parquet(dir).where(col("l_partkey") === 42L).count()
      == probe)
  }

  test("upsertPartitions replaces only the batch's partitions, idempotently") {
    val dir = tempDir("graft-upsert-spec")
      .resolve("t").toString
    val base = Seq((1, "a"), (2, "b"), (3, "a"), (4, "c"))
      .toDF("id", "part")
    base.write.mode("overwrite").partitionBy("part").parquet(dir)

    def files(sub: String): Seq[(String, Long)] = {
      val d = java.nio.file.Paths.get(dir, sub)
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.toSeq
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .map(p => (p.getFileName.toString, java.nio.file.Files.size(p)))
        .sortBy(_._1)
      finally s.close()
    }
    val bBefore = files("part=b")
    val cBefore = files("part=c")

    val batch = Seq((9, "a")).toDF("id", "part")
    Layout.upsertPartitions(batch, dir, Seq("part"))
    val out1 = spark.read.parquet(dir).as[(Int, String)].collect().toSet
    // partition a replaced WHOLESALE (old rows 1 and 3 gone), b/c intact
    assert(out1 == Set((9, "a"), (2, "b"), (4, "c")))
    // untouched partitions keep their exact physical files
    assert(files("part=b") == bBefore && files("part=c") == cBefore)

    // re-landing the same batch is a table-level no-op
    Layout.upsertPartitions(batch, dir, Seq("part"))
    assert(spark.read.parquet(dir).as[(Int, String)].collect().toSet == out1)
    assert(files("part=b") == bBefore && files("part=c") == cBefore)
  }

  test("snapshot commit: cross-table atomicity, torn writes invisible") {
    val root = tempDir("graft-snap").toString
    val a1 = Seq((1, "x")).toDF("id", "v")
    val b1 = Seq((1, 10L)).toDF("id", "n")
    assert(Layout.commitSnapshot(Map("a" -> a1, "b" -> b1), root) == 1L)
    assert(Layout.currentVersion(root) == 1L)
    // v2 changes BOTH tables in one commit
    val a2 = Seq((1, "x"), (2, "y")).toDF("id", "v")
    val b2 = Seq((2, 20L)).toDF("id", "n")
    assert(Layout.commitSnapshot(Map("a" -> a2, "b" -> b2), root) == 2L)
    assert(Layout.readSnapshot(spark, root, "a")
      .as[(Int, String)].collect().toSet == Set((1, "x"), (2, "y")))
    assert(Layout.readSnapshot(spark, root, "b")
      .as[(Int, Long)].collect().toSet == Set((2, 20L)))
    // a torn v3 (one table's data lands, the marker never does):
    // readers of BOTH tables stay on v2 — no cross-table mix
    Seq((99, "torn")).toDF("id", "v").write.parquet(s"$root/data_v3/a")
    assert(Layout.currentVersion(root) == 2L)
    assert(Layout.readSnapshot(spark, root, "a")
      .as[(Int, String)].collect().toSet == Set((1, "x"), (2, "y")))
    // a retry after the torn write commits v3 cleanly ON TOP
    assert(Layout.commitSnapshot(Map("a" -> a1, "b" -> b1), root) == 3L)
    assert(Layout.readSnapshot(spark, root, "a")
      .as[(Int, String)].collect().toSet == Set((1, "x")))
    // unknown table fails loudly; illegal names rejected
    intercept[NoSuchElementException](Layout.readSnapshot(spark, root, "zz"))
    intercept[IllegalArgumentException](
      Layout.commitSnapshot(Map("../evil" -> a1), root))
  }

  test("vacuumSnapshots: old history and torn orphans go, current survives") {
    val root = tempDir("graft-snap-gc").toString
    val t = Seq((1, "x")).toDF("id", "v")
    (1 to 4).foreach(_ => Layout.commitSnapshot(Map("a" -> t), root))
    // a directory ABOVE the committed version could be a torn orphan OR
    // an in-flight commit — vacuum must leave it alone (deleting a
    // racing commit's half-written version would corrupt its commit);
    // the next commit sweeps it
    Seq((9, "torn")).toDF("id", "v").write.parquet(s"$root/data_v9/a")
    Layout.vacuumSnapshots(root, keepLast = 2)
    def dirs = new java.io.File(root).list().toSet
    assert(dirs == Set("data_v3", "data_v4", "data_v9"), s"got $dirs")
    // the committed snapshot still reads
    assert(Layout.readSnapshot(spark, root, "a").count() == 1L)
    assert(Layout.currentVersion(root) == 4L)
    assert(Layout.commitSnapshot(Map("a" -> t), root) == 5L)
    assert(dirs == Set("data_v3", "data_v4", "data_v5"), s"got $dirs")
    intercept[IllegalArgumentException](Layout.vacuumSnapshots(root, 0))
  }

  test("exportShards: consumer re-derives the manifest from the shards") {
    import org.apache.spark.sql.functions._
    val out = tempDir("graft-export-spec").toString
    val df = spark.range(0, 500).toDF("id")
    val manifest = Layout.exportShards(df, out, "id", nShards = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        r.getLong(2), r.getLong(3)))).toMap
    assert(manifest.keySet == Set(0L, 1L, 2L, 3L))
    assert(manifest.values.map(_._1).sum == 500L, "no row lost")
    // a consumer reads the shard DIRECTORIES back and recomputes all
    // manifest columns from row content alone
    // hive-partition inference types the shard directory as INT;
    // normalize for the comparison
    val redo = spark.read.parquet(out)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(conv(substring(md5(CAST(id AS STRING)), 1, 12)" +
          ", 16, 10) AS BIGINT) div 16777216")).as("hi"),
        sum(expr("CAST(conv(substring(md5(CAST(id AS STRING)), 1, 12)" +
          ", 16, 10) AS BIGINT) % 16777216")).as("lo"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        r.getLong(2), r.getLong(3)))).toMap
    assert(redo == manifest, "shard content must prove the manifest")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(out, "_manifest.tsv")))
  }

  test("a snapshot at a file: URI commits under the URI's path") {
    val root = tempDir("graft-snap-uri")
    val uri = root.resolve("snap").toUri.toString
    assert(uri.startsWith("file:/"))
    val t = Seq((1, "x")).toDF("id", "v")
    assert(Layout.commitSnapshot(Map("a" -> t), uri) == 1L)
    assert(Layout.currentVersion(uri) == 1L)
    assert(Layout.readSnapshot(spark, uri, "a")
      .as[(Int, String)].collect().toSeq == Seq((1, "x")))
    assert(root.resolve("snap/data_v1/_committed").toFile.exists())
    assert(!new java.io.File("file:").exists(),
      "no relative file: tree in the working directory")
  }

  test("exportShards at a file: URI writes its manifest under the URI's path") {
    val root = tempDir("graft-export-uri")
    val uri = root.resolve("out").toUri.toString
    Layout.exportShards(spark.range(0, 50).toDF("id"), uri, "id", nShards = 2)
    assert(root.resolve("out/_manifest.tsv").toFile.exists())
    assert(!new java.io.File("file:").exists())
  }

  test("a snapshot root in the manifest layout is refused by path") {
    val root = tempDir("graft-snap-old").toString
    Seq((1, "x")).toDF("id", "v").write.parquet(s"$root/a/v1")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "manifest"),
      "version\t1\na\tv1")
    val refusals = Seq(
      intercept[IllegalStateException](Layout.currentVersion(root)),
      intercept[IllegalStateException](Layout.readSnapshot(spark, root, "a")),
      intercept[IllegalStateException](
        Layout.commitSnapshot(Map("a" -> spark.range(1).toDF("id")), root)))
    refusals.foreach(e => assert(e.getMessage.contains(s"artifact at $root ") &&
      e.getMessage.contains("`manifest`"), e.getMessage))
    assert(new java.io.File(root).list().toSet == Set("a", "manifest"),
      "a refused root is left untouched")
  }
}
