package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (same config surface as the
  * driver-contract mains), plus one temp root per suite: every
  * [[tempDir]] lands under it and `afterAll` deletes it. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse-test")
      // the codegen capacity is JVM-wide and fixed by the first session
      // to generate code, so every builder in the forked test JVM applies
      // the same settings
      .config(GraftSession.SessionReuseConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Graft.init(s)
    s
  }

  val dataDir = "src/test/resources/data"
  val sfDir = "/root/testdata/sf0.001"

  private var tempRoot: Option[Path] = None

  /** A fresh directory under this suite's temp root. */
  def tempDir(prefix: String): Path = synchronized {
    val root = tempRoot.getOrElse(Files.createTempDirectory("graft-spec-"))
    tempRoot = Some(root)
    Files.createTempDirectory(root, prefix)
  }

  override def afterAll(): Unit =
    try tempRoot.foreach(r => FileUtils.deleteQuietly(r.toFile))
    finally super.afterAll()
}
