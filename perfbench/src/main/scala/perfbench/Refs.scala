package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Reference digests (refs.json: operation name -> "cols", "digest"). */
final class Refs(ref: Map[String, (String, String)]) {
  val mismatches = mutable.ArrayBuffer.empty[String]

  /** Whether a result matches its reference; a miss is kept for the log. */
  def check(name: String, d: Digest): Boolean =
    ref.get(name) match {
      case Some((cols, digest)) if cols == d.cols && digest == d.toString => true
      case Some((cols, digest)) =>
        mismatches += s"$name: got ${d.cols} $d, want $cols $digest"
        false
      case None =>
        mismatches += s"$name: no reference"
        false
    }
}

object Refs {
  def load(p: Path): Refs = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(p)).get("refs")
    new Refs(root.fields().asScala.map { e =>
      e.getKey -> (e.getValue.get("cols").asText, e.getValue.get("digest").asText)
    }.toMap)
  }
}
