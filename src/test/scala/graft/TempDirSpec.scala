package graft

import java.nio.file.{Path, Paths}
import org.scalatest.{Args, Reporter}
import org.scalatest.events.Event

/** A suite's [[SparkSpec.tempDir]] trees share one root directly under
  * `java.io.tmpdir`, and the suite's `afterAll` deletes it. */
class TempDirSpec extends SparkSpec {

  test("a suite's temp root is gone once the suite has run") {
    var made = Seq.empty[Path]
    class Inner extends SparkSpec {
      test("writes under two temp dirs") {
        made = Seq(tempDir("graft-inner-a"), tempDir("graft-inner-b"))
        spark.range(3).write.parquet(made.head.resolve("t").toString)
      }
    }
    val quiet = new Reporter { def apply(e: Event): Unit = () }
    assert(new Inner().run(None, Args(quiet)).succeeds())
    assert(made.size == 2 && made.map(_.getParent).distinct.size == 1)
    val root = made.head.getParent
    assert(root.getParent ==
      Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath.normalize)
    assert(!root.toFile.exists(), s"$root survived its suite")
  }
}
