package graft

import java.nio.file.{Files, Path, Paths}

import graft.engine.Catalog

/** Orphan-directory reclamation guards on `Catalog.addBucketedTable`:
  * only a directory whose TOP LEVEL carries Spark-output markers may be
  * deleted; user-owned directories (even ones containing a nested Spark
  * output) are left in place; illegal names fail up front on every path. */
class CatalogSpec extends SparkSpec {

  private def warehouse: Path = Paths.get(
    spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    .toAbsolutePath.normalize

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes("UTF-8"))
  }

  private def rmTree(p: Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(p)
    val all = try s.iterator().asScala.toSeq finally s.close()
    all.reverse.foreach(Files.deleteIfExists(_))
  }

  private val df = {
    val s = spark
    import s.implicits._
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
  }

  test("orphan with top-level _SUCCESS is reclaimed and overwritten") {
    val dir = warehouse.resolve("cat_orphan_ok")
    try {
      rmTree(dir)
      write(dir.resolve("_SUCCESS"), "")
      write(dir.resolve("part-00000-dead.parquet"), "stale")
      val c = new Catalog(spark)
      c.addBucketedTable("cat_orphan_ok", df, "k", 2)
      assert(c.table("cat_orphan_ok").df.count() == 3)
    } finally {
      spark.sql("DROP TABLE IF EXISTS cat_orphan_ok"); rmTree(dir)
    }
  }

  test("aborted write leaving only _temporary is reclaimed") {
    val dir = warehouse.resolve("cat_orphan_tmp")
    try {
      rmTree(dir)
      Files.createDirectories(dir.resolve("_temporary").resolve("0"))
      val c = new Catalog(spark)
      c.addBucketedTable("cat_orphan_tmp", df, "k", 2)
      assert(c.table("cat_orphan_tmp").df.count() == 3)
    } finally {
      spark.sql("DROP TABLE IF EXISTS cat_orphan_tmp"); rmTree(dir)
    }
  }

  test("user directory with only a NESTED Spark output is never deleted") {
    val dir = warehouse.resolve("cat_user_dir")
    val keep = dir.resolve("notes.txt")
    try {
      rmTree(dir)
      write(keep, "user data, not Spark's")
      // a Spark output buried one level down must not make the parent fair game
      write(dir.resolve("nested_out").resolve("_SUCCESS"), "")
      val c = new Catalog(spark)
      val e = intercept[Exception] {
        c.addBucketedTable("cat_user_dir", df, "k", 2)
      }
      assert(e.getMessage.contains("LOCATION_ALREADY_EXISTS")
        || e.getMessage.toLowerCase.contains("already exists"),
        s"expected a location-exists failure, got: ${e.getMessage}")
      assert(Files.exists(keep), "user file must survive")
      assert(Files.exists(dir.resolve("nested_out").resolve("_SUCCESS")),
        "nested output must survive")
    } finally {
      spark.sql("DROP TABLE IF EXISTS cat_user_dir"); rmTree(dir)
    }
  }

  test("strict JSON ingestion honors the malformed-record policy") {
    val path = "src/test/resources/data/docs_malformed.jsonl"
    val ddl = "id BIGINT, text STRING, lang STRING"
    val c = new Catalog(spark)
    // DROPMALFORMED: the 3 broken lines vanish, 5 clean rows remain
    c.addJsonTableStrict("dirty_drop", path, ddl)
    assert(c.table("dirty_drop").df.count() == 5)
    // PERMISSIVE with a declared corrupt column captures the raw line
    c.addJsonTableStrict("dirty_keep", path,
      ddl + ", _corrupt_record STRING", "PERMISSIVE")
    // (Spark refuses plans referencing ONLY the corrupt column — keep a
    // data column in the projection)
    val bad = c.table("dirty_keep").df
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("_corrupt_record"))
      .collect().filter(!_.isNullAt(1))
    assert(bad.length == 3)
    // FAILFAST surfaces the first broken line as an error
    c.addJsonTableStrict("dirty_fail", path, ddl, "FAILFAST")
    intercept[Exception] { c.table("dirty_fail").df.count() }
    intercept[IllegalArgumentException] {
      c.addJsonTableStrict("x", path, ddl, "LENIENT")
    }
  }

  test("catalog save/load round-trips file-backed registrations") {
    val reg = tempDir("graft-catalog").resolve("catalog.tsv").toString
    val c = new Catalog(spark)
      .addParquetTable("cat_nation", s"$sfDir/nation.parquet")
      .addCsvTable("cat_people", s"$dataDir/people.csv")
      .addJsonTableStrict("cat_dirty", s"$dataDir/docs_malformed.jsonl",
        "id BIGINT, text STRING, lang STRING", "DROPMALFORMED")
      .register("cat_mem", df) // DataFrame-only: skipped on save
    c.save(reg)
    val loaded = Catalog.load(spark, reg)
    assert(loaded.tableNames == Seq("cat_dirty", "cat_nation", "cat_people"))
    assert(loaded.table("cat_nation").df.count()
      == c.table("cat_nation").df.count())
    assert(loaded.table("cat_dirty").df.count() == 5) // policy survives
    intercept[NoSuchElementException] { loaded.table("cat_mem") }
  }

  test("illegal table name rejected before any write, on both paths") {
    val c = new Catalog(spark)
    intercept[IllegalArgumentException] {
      c.addBucketedTable("../escape", df, "k", 2)
    }
    // same rejection when a table of a legal name exists (the guard must
    // not be skipped just because the cleanup branch is)
    try {
      c.addBucketedTable("cat_live", df, "k", 2)
      intercept[IllegalArgumentException] {
        c.addBucketedTable("cat_live/../cat_live", df, "k", 2)
      }
    } finally spark.sql("DROP TABLE IF EXISTS cat_live")
  }
}
