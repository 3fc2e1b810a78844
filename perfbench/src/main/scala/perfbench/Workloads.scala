package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.StreamOps

/** One operation's outcome: a query execution, or one stream drained. */
final case class Op(name: String, seconds: Double, ok: Boolean,
    buildS: Double = 0, catalystOptS: Double = 0, catalystPlanS: Double = 0,
    execS: Double = 0, plan: Layers.PlanCounts = Layers.NoPlan,
    batches: Seq[Map[String, Double]] = Nil, sinkS: Double = 0)

/** A pass's operations, and for streams the artifacts it wrote: bytes
  * on disk per input byte, and files. */
final case class PassResult(ops: Seq[Op], writeAmp: Double = 0,
    files: Long = 0)

/** What a workload runs. `dataDir` holds its input tables; `work` is a
  * working directory the workload owns for the life of the process. */
trait Workload {
  def name: String
  def dataDir(data: Path): Path
  /** Untimed artifacts, built as part of set-up. */
  def setupArtifacts(spark: SparkSession, data: Path, work: Path): Unit = ()
  def pass(ctx: PassContext): PassResult
}

final case class PassContext(spark: SparkSession, data: Path, work: Path,
    index: Int, rng: scala.util.Random, refs: Refs, tracer: Tracer)

/** A batch workload: every query of `queries` once per pass over the
  * sf0.1 tables, in an order the seed permutes, each from an empty SQL
  * cache (as graft.Bench). */
final case class BatchWorkload(name: String, queries: Seq[String])
    extends Workload {
  def dataDir(data: Path): Path = data.resolve("base")

  def pass(ctx: PassContext): PassResult = PassResult(
    ctx.rng.shuffle(queries).map(q => Workloads.query(ctx, q, dataDir(ctx.data))))
}

object Workloads {
  val all: Seq[Workload] = Seq(
    BatchWorkload("mixed_sf01", Seq("q_join_left", "q_tpch_q3",
      "q_asof_join", "q_rollup_route", "q_quality_classifier", "q_tfidf")),
    IngestStream)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $n; known: ${all.map(_.name).mkString(", ")}"))

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** One query: build the frame through SparkEntry (analysis and any
    * eager jobs), optimise and plan it, then execute it to completion
    * with the result digested next to the data. */
  def query(ctx: PassContext, name: String, dir: Path): Op = {
    val spark = ctx.spark
    val tr = ctx.tracer
    spark.catalog.clearCache()
    try tr.span("op", name) {
      val t0 = System.nanoTime()
      val df = tr.span("entry.build", name) {
        graft.SparkEntry.queries(name)(spark, dir.toString)
      }
      val t1 = System.nanoTime()
      val qe = df.queryExecution
      tr.span("catalyst", name)(qe.executedPlan)
      val t2 = System.nanoTime()
      val digest = tr.span("exec", name)(Digest.of(df))
      val t3 = System.nanoTime()
      val phases = qe.tracker.phases
      def phase(p: String) = phases.get(p).map(s => (s.endTimeMs - s.startTimeMs) / 1e3)
        .getOrElse(0.0)
      val ok = ctx.refs.check(name, digest)
      Op(name, secs(t0, t3), ok, buildS = secs(t0, t1),
        catalystOptS = phase("optimization"), catalystPlanS = phase("planning"),
        execS = secs(t2, t3), plan = Layers.planCounts(qe.executedPlan))
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        Op(name, 0.0, ok = false)
    }
  }
}

/** Four file-source streams, each drained one file per micro-batch:
  * windowed counts and the HLL distinct sketch over events, the corpus
  * ingest over documents, and the substring-dedup ingest of odd-id
  * documents against a gram index of even-id documents. The cut files
  * are written by run.py from the seed, contiguous in event or ingest
  * time. */
object IngestStream extends Workload {
  val name = "ingest_stream"
  def dataDir(data: Path): Path = data.resolve("base")
  val Streams = Seq("s_windowed_counts", "s_hll_distinct", "s_ingest_corpus",
    "s_substring_ingest")

  /** The gram index of the even-id documents, the standing corpus the
    * substring ingest excises against (16 buckets, as graft.Bench). */
  def buildIndex(spark: SparkSession, data: Path, idx: Path): Unit = {
    Dirs.rm(idx)
    graft.ops.Dedup.saveGramIndex(
      spark.read.parquet(s"${dataDir(data)}/documents.parquet")
        .select("doc_id", "text").where(pmod(col("doc_id"), lit(2)) === 0),
      idx.toString, "text", minLen = 8, buckets = 16)
  }

  override def setupArtifacts(spark: SparkSession, data: Path, work: Path): Unit =
    buildIndex(spark, data, work.resolve("gramidx"))

  def pass(ctx: PassContext): PassResult = {
    val spark = ctx.spark
    val dir = ctx.work.resolve(s"pass-${ctx.index}")
    Dirs.rm(dir)
    Files.createDirectories(dir)
    Dirs.copyTree(ctx.work.resolve("gramidx"), dir.resolve("gramidx"))
    val cuts = ctx.work.resolve("cuts")
    Seq("events", "docs", "odd").foreach(s =>
      Dirs.copyInOrder(cuts.resolve(s), dir.resolve(s)))
    val before = Dirs.usage(dir)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      math.min(4, prev.toInt).toString)
    try {
      val ops = Streams.map(s => ctx.tracer.span("op", s)(drain(ctx, s, dir)))
      val after = Dirs.usage(dir)
      val input = Seq("events", "docs", "odd").map(s =>
        Dirs.usage(dir.resolve(s))._1).sum
      PassResult(ops, (after._1 - before._1).toDouble / input,
        after._2 - before._2)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      Dirs.rm(dir)
    }
  }

  private def drain(ctx: PassContext, stream: String, dir: Path): Op = {
    val spark = ctx.spark
    val tag = s"${stream}_p${ctx.index}"
    val ckpt = dir.resolve(s"ckpt-$stream").toString
    val sub = stream match {
      case "s_ingest_corpus" => "docs"
      case "s_substring_ingest" => "odd"
      case _ => "events"
    }
    val files = spark.readStream
      .schema(spark.read.parquet(dir.resolve(sub).toString).schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.resolve(sub).toString)
    var sinkNs = 0L
    var delivered: Digest = null
    try {
      val t0 = System.nanoTime()
      val q: StreamingQuery = ctx.tracer.span("stream", stream) {
        stream match {
          case "s_windowed_counts" =>
            StreamOps.windowedCounts(StreamOps.withEventTime(files))
              .writeStream.format("memory").queryName(tag).outputMode("complete")
              .option("checkpointLocation", ckpt).start()
          case "s_hll_distinct" =>
            StreamOps.hllDistinct(files, "event_type", "user_id", 6)
              .writeStream.format("memory").queryName(tag).outputMode("update")
              .option("checkpointLocation", ckpt).start()
          case "s_ingest_corpus" =>
            StreamOps.ingestCorpus(withIngestTs(files))
              .writeStream.format("memory").queryName(tag).outputMode("complete")
              .option("checkpointLocation", ckpt).start()
          case "s_substring_ingest" =>
            StreamOps.substringDedupIngest(files,
                dir.resolve("gramidx").toString, checkpoint = ckpt) { (cleaned, _) =>
              val s0 = System.nanoTime()
              val d = Digest.of(cleaned)
              delivered = if (delivered == null) d else delivered + d
              sinkNs += System.nanoTime() - s0
            }.start()
        }
      }
      ctx.tracer.span("stream.drain", stream) {
        q.processAllAvailable()
        q.stop()
      }
      val t1 = System.nanoTime()
      q.exception.foreach(e => throw e)
      val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble / 1e3 }
        val states = p.stateOperators.toSeq
        d.toMap ++ Map(
          "stateCommit" -> states.map(_.commitTimeMs).sum / 1e3,
          "stateRows" -> states.map(_.numRowsTotal).sum.toDouble,
          "stateBytes" -> states.map(_.memoryUsedBytes).sum.toDouble)
      }
      val result = ctx.tracer.span("check", stream) {
        stream match {
          case "s_windowed_counts" => Digest.of(spark.table(tag).select(
            col("window_start").cast("string").as("hour"), col("event_type"),
            col("n"), col("sum_value")))
          case "s_hll_distinct" => Digest.of(lastPerGroup(spark, tag))
          case "s_ingest_corpus" => Digest.of(spark.table(tag))
          case "s_substring_ingest" => delivered
        }
      }
      Op(stream, (t1 - t0) / 1e9, ctx.refs.check(stream, result),
        batches = batches, sinkS = sinkNs / 1e9)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $stream failed: $e")
        Op(stream, 0.0, ok = false)
    } finally spark.sql(s"DROP VIEW IF EXISTS `$tag`")
  }

  /** Ingest clock: one document per second from 2024-01-01 00:00 UTC.
    * (graft.Bench starts it at the epoch; Spark's first watermark is 0
    * and treats an event at exactly 0 as late, so doc 0 would be dropped
    * from the stream but kept by the batch form.) */
  def withIngestTs(docs: DataFrame): DataFrame =
    docs.withColumn("ingest_ts",
      timestamp_micros(col("doc_id") * 1000000L + 1704067200000000L))

  /** The update-mode sink's final estimate per group: its last row. */
  def lastPerGroup(spark: SparkSession, table: String): DataFrame = {
    val t = spark.table(table)
    val rows = t.collect().groupBy(_.getString(0)).values.map(_.last).toSeq
    spark.createDataFrame(rows.asJava, t.schema)
  }

  /** The batch form of each stream, on the whole input at once: the
    * reference its streamed result must equal. */
  def batchForms(spark: SparkSession, data: Path, work: Path): Map[String, DataFrame] = {
    val docs = spark.read.parquet(s"${dataDir(data)}/documents.parquet")
    val events = spark.read.parquet(s"${dataDir(data)}/events.parquet")
    val hll = StreamOps.hllDistinct(events, "event_type", "user_id", 6).toDF()
    val idx = work.resolve("gramidx-ref")
    buildIndex(spark, data, idx)
    var cleaned: DataFrame = null
    StreamOps.substringDedupIngestBatch(
      docs.select("doc_id", "text").where(pmod(col("doc_id"), lit(2)) === 1),
      0L, idx.toString, "doc_id", "text") { (c, _) => cleaned = c.localCheckpoint() }
    Map("s_hll_distinct" -> hll,
      "s_ingest_corpus" -> StreamOps.ingestCorpus(withIngestTs(docs)),
      "s_substring_ingest" -> cleaned)
  }
}

/** File helpers for the per-pass stream inputs and artifacts. */
object Dirs {
  def rm(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** Copies the parquet parts of `src` in name order, with strictly
    * increasing modification times, so a file source reading one file
    * per trigger takes them in that order. */
  def copyInOrder(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    val parts = {
      val s = Files.list(src)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq.sorted
      finally s.close()
    }
    val base = System.currentTimeMillis() - 1000L * parts.length
    parts.zipWithIndex.foreach { case (p, i) =>
      val t = dst.resolve(p.getFileName.toString)
      Files.copy(p, t)
      Files.setLastModifiedTime(t,
        java.nio.file.attribute.FileTime.fromMillis(base + 1000L * i))
    }
  }

  /** (bytes, regular files) under `p`. */
  def usage(p: Path): (Long, Long) = if (!Files.exists(p)) (0L, 0L) else {
    val s = Files.walk(p)
    try {
      val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (fs.map(Files.size).sum, fs.length.toLong)
    } finally s.close()
  }
}
