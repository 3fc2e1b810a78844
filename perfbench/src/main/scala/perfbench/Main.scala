package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. run.py builds it, writes the inputs and
  * calls it as
  * {{{
  *   perfbench.Main run --workload W --seed N --seconds S --trace 0|1
  *                      --data DIR --work DIR --refs refs.json
  *   perfbench.Main oracle-sql --out FILE      (the oracle SQL of every query)
  *   perfbench.Main refs --data DIR --work DIR --duck DIR --out FILE
  * }}}
  * `run` prints one JSON result line last on stdout. */
object Main {
  /** Set-ups per run; set-up time is their median. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    args.headOption match {
      case Some("run") =>
        val r = new Run(Workloads.byName(opt("workload")), opt("seed").toLong,
          opt("seconds").toDouble, opt("trace") == "1", Paths.get(opt("data")),
          Paths.get(opt("work")), Refs.load(Paths.get(opt("refs"))))
        println(r.run())
      case Some("oracle-sql") =>
        val names = Workloads.all.collect { case b: BatchWorkload => b.queries }
          .flatten.distinct :+ "q_events_hourly"
        Files.writeString(Paths.get(opt("out")),
          Json.obj(names.map(n => n -> graft.SparkEntry.oracleSql(n))))
      case Some("refs") =>
        Files.writeString(Paths.get(opt("out")), references(Paths.get(opt("data")),
          Paths.get(opt("work")), Paths.get(opt("duck"))))
      case other =>
        System.err.println(s"usage: Main run|oracle-sql|refs ... (got $other)")
        sys.exit(2)
    }
  }

  def cores: Int = Runtime.getRuntime.availableProcessors

  def session(): SparkSession = {
    val s = graft.GraftSession.create(s"local[$cores]", cores)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Digests for refs.json: every DuckDB oracle result under `duck`
    * (one parquet directory per query), graft's own result of the same
    * query for comparison, and the batch form of each stream. */
  def references(data: Path, work: Path, duck: Path): String = {
    val spark = session()
    val duckRefs, graftRes = mutable.LinkedHashMap.empty[String, Digest]
    val base = data.resolve("base").toString
    Files.list(duck).toArray.map(_.asInstanceOf[Path].getFileName.toString).sorted
      .foreach { q =>
        duckRefs(q) = Digest.of(spark.read.parquet(duck.resolve(q).toString))
        if (q != "q_events_hourly")
          graftRes(q) = Digest.of(graft.SparkEntry.queries(q)(spark, base))
      }
    duckRefs("s_windowed_counts") = duckRefs.remove("q_events_hourly").get
    IngestStream.batchForms(spark, data, work).foreach { case (n, df) =>
      duckRefs(n) = Digest.of(df) }
    def js(m: mutable.Map[String, Digest]) = m.toSeq.map { case (k, d) =>
      k -> Map("cols" -> d.cols, "digest" -> d.toString, "rows" -> d.rows) }
    Json.obj(Seq("refs" -> js(duckRefs).toMap, "graft" -> js(graftRes).toMap))
  }
}

/** One benchmark run of one workload. */
final class Run(wl: Workload, seed: Long, seconds: Double, trace: Boolean,
    data: Path, work: Path, refs: Refs) {
  import Run.PassStats
  private val rng = new scala.util.Random(seed)

  def run(): String = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L -
      (System.currentTimeMillis() * 1000000L - System.nanoTime())
    // set up `Setups` times; all but the last session are stopped again
    val setups = (1 to Main.Setups).map { i =>
      val t0 = if (i == 1) jvmStart else System.nanoTime()
      val spark = Main.session()
      val t1 = System.nanoTime()
      graft.Bench.warmup(spark, wl.dataDir(data).toString)
      val t2 = System.nanoTime()
      wl.setupArtifacts(spark, data, work)
      val t3 = System.nanoTime()
      if (i < Main.Setups) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      Run.log(f"set-up $i: ${(t3 - t0) / 1e9}%.2f s")
      (spark, Seq(t3 - t0, t1 - t0, t2 - t1).map(_ / 1e9))
    }
    val spark = setups.last._1
    val setupS = Stats.median(setups.map(_._2(0)))
    val tracer = new Tracer(spark.sparkContext, wl.name)
    val layers = if (trace) Some(new Layers(spark.sparkContext)) else None

    val host0 = HostStat.sample()
    val passes = mutable.ArrayBuffer.empty[PassStats]
    def runPass(i: Int): Unit = {
      // in the traced run, warm passes alternate traced and untraced so
      // the tracing overhead is measured in the same process
      val traced = trace && (i == 0 || i % 2 == 1)
      tracer.on = traced
      tracer.pass = i
      layers.foreach(_.on = traced)
      layers.foreach(_.take())
      val (cg0, gc0, cpu0) =
        (Layers.codegen(), Layers.gcSeconds(), Layers.cpuSeconds())
      val t0 = System.nanoTime()
      val res = tracer.span("pass", s"pass-$i")(wl.pass(
        PassContext(spark, data, work, i, rng, refs, tracer)))
      val t1 = System.nanoTime()
      Run.log(f"pass $i: ${(t1 - t0) / 1e9}%.2f s")
      val (cg1, cpu1) = (Layers.codegen(), Layers.cpuSeconds())
      val counters = layers.map(_.take()).getOrElse(Map.empty)
      val layerFigures = if (!traced) Map.empty[String, Double]
        else layerMetrics(res, counters, cg1._1 - cg0._1, cg1._2 - cg0._2,
          Layers.gcSeconds() - gc0)
      passes += PassStats(i, traced, res.ops.map(_.seconds).sum, cpu1 - cpu0,
        res.ops, layerFigures)
    }
    runPass(0)
    val t0 = System.nanoTime()
    // warm passes until `seconds` have passed, at least one; the traced
    // run needs two traced and one untraced warm pass
    val minWarm = if (trace) 3 else 1
    var i = 1
    while (i <= minWarm || (System.nanoTime() - t0) / 1e9 < seconds) {
      runPass(i)
      i += 1
    }
    val host1 = HostStat.sample()
    val (steal, other) = HostStat.fractions(host0, host1)
    Run.log(f"host steal $steal%.4f, other cpu $other%.4f")

    val warm = passes.drop(1)
    val allOps = passes.flatMap(_.ops)
    val failed = allOps.count(!_.ok)
    refs.mismatches.distinct.foreach(m => System.err.println(s"[perfbench] mismatch $m"))
    val exactOk = !trace || exactCountersAgree(warm.filter(_.traced).toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        Seq(("setup_s", setupS, "s"),
          ("first_pass_s", passes.head.seconds, "s"),
          ("run_s", Stats.median(warm.map(_.seconds).toSeq), "s"),
          ("run_cpu_s", Stats.median(warm.map(_.cpuS).toSeq), "s"),
          ("peak_rss_mb", Layers.peakRssMb(), "MB"))
      } else {
        val traced = warm.filter(_.traced).toSeq
        val untraced = warm.filter(!_.traced).toSeq
        val keys = traced.head.layers.keys.toSeq.sorted
        Seq(("session.start_s", Stats.median(setups.map(_._2(1))), "s"),
          ("session.warmup_s", Stats.median(setups.map(_._2(2))), "s")) ++
        keys.map(k => (k, Stats.median(traced.map(_.layers(k))), Run.unit(k))) ++
        Seq(("host.steal_frac", steal, "ratio"),
          ("host.other_cpu_frac", other, "ratio"),
          ("trace.overhead_s", Stats.median(traced.map(_.seconds)) -
            Stats.median(untraced.map(_.seconds)), "s"))
      }
    if (trace) {
      val batchTimes = warm.filter(_.traced).flatMap(_.ops).flatMap(_.batches)
        .map(_.getOrElse("triggerExecution", 0.0)).toSeq
      if (batchTimes.nonEmpty) Run.log(s"micro-batch latency: n=${batchTimes.length}, " +
        Seq(0.5, 0.9).map(p => s"p${(p * 100).round}=" + Stats.quantileIfSupported(
          batchTimes, p).map(q => f"$q%.3f s").getOrElse(
          s"unsupported (needs ${Stats.minSamples(p)} samples)")).mkString(", "))
      Files.writeString(work.resolve(s"trace-${wl.name}-$seed.jsonl"), tracer.toJsonLines)
      System.err.println(s"[perfbench] spans: ${work.resolve(s"trace-${wl.name}-$seed.jsonl")}")
    }
    spark.stop()
    Run.log("stopped")
    Json.obj(Seq("correct" -> (failed == 0 && exactOk),
      "attempted" -> allOps.length, "failed" -> failed,
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }
        .toMap))
  }

  /** Per-layer figures of one traced pass. */
  private def layerMetrics(res: PassResult, c: Map[String, ExecCounters],
      compiles: Long, compileS: Double, gcS: Double): Map[String, Double] = {
    val ops = res.ops
    val batches = ops.flatMap(_.batches)
    def bsum(keys: String*) = batches.map(b => keys.map(b.getOrElse(_, 0.0)).sum).sum
    val execKinds = Seq("exec", "stream").flatMap(c.get)
    val execWall = ops.map(_.execS).sum +
      (if (ops.exists(_.batches.nonEmpty)) ops.map(_.seconds).sum else 0.0)
    val taskS = execKinds.map(_.runMs).sum / 1e3
    val passS = ops.map(_.seconds).sum
    val lastBatch = ops.flatMap(_.batches.lastOption)
    val batchTimes = batches.map(_.getOrElse("triggerExecution", 0.0))
    Map(
      "trace.pass_s" -> passS,
      "entry.build_s" -> ops.map(_.buildS).sum,
      "entry.jobs" -> c.get("entry").map(_.jobs).getOrElse(0L).toDouble,
      "catalyst.optimize_s" -> ops.map(_.catalystOptS).sum,
      "catalyst.plan_s" -> ops.map(_.catalystPlanS).sum,
      "codegen.compiles" -> compiles.toDouble,
      "codegen.compile_s" -> compileS,
      "exec.s" -> ops.map(_.execS).sum,
      "exec.jobs" -> execKinds.map(_.jobs).sum.toDouble,
      "exec.stages" -> execKinds.map(_.stages).sum.toDouble,
      "exec.tasks" -> execKinds.map(_.tasks).sum.toDouble,
      "exec.task_s" -> taskS,
      "exec.task_cpu_s" -> execKinds.map(_.cpuNs).sum / 1e9,
      "exec.busy_frac" -> (if (execWall > 0) taskS / (execWall * Main.cores) else 0.0),
      "exec.shuffle_read_mb" -> execKinds.map(_.shuffleRead).sum / 1e6,
      "exec.shuffle_write_mb" -> execKinds.map(_.shuffleWrite).sum / 1e6,
      "exec.spill_mb" -> execKinds.map(_.spill).sum / 1e6,
      "exec.skew_max" -> (if (execKinds.isEmpty) 0.0 else execKinds.map(_.skewMax).max),
      "plan.exchanges" -> ops.map(_.plan.exchanges).sum.toDouble,
      "plan.reused" -> ops.map(_.plan.reused).sum.toDouble,
      "plan.broadcasts" -> ops.map(_.plan.broadcasts).sum.toDouble,
      "plan.scans" -> ops.map(_.plan.scans).sum.toDouble,
      "streaming.batches" -> batches.length.toDouble,
      "streaming.batch_p50_s" -> Stats.quantileIfSupported(batchTimes, 0.5).getOrElse(0.0),
      "streaming.add_batch_s" -> bsum("addBatch"),
      "streaming.planning_s" -> bsum("queryPlanning"),
      "streaming.offsets_s" -> bsum("latestOffset", "getBatch"),
      "streaming.log_s" -> bsum("walCommit", "commitOffsets"),
      "streaming.state_commit_s" -> bsum("stateCommit"),
      "streaming.state_rows" -> lastBatch.map(_.getOrElse("stateRows", 0.0)).sum,
      "streaming.state_mb" -> lastBatch.map(_.getOrElse("stateBytes", 0.0)).sum / 1e6,
      "artifact.write_amp" -> res.writeAmp,
      "artifact.files" -> res.files.toDouble,
      "sink.s" -> ops.map(_.sinkS).sum,
      "jvm.gc_s" -> gcS,
      "jvm.heap_after_gc_mb" -> Layers.heapAfterGcMb())
  }

  /** The counters that must repeat exactly across warm passes, and
    * across runs with the same seed (compared with the last traced run's
    * record under `work`). A difference is reported and fails the run. */
  private def exactCountersAgree(traced: Seq[PassStats]): Boolean = {
    val exact = traced.map(_.layers.filter { case (k, _) => Run.exact(k) })
    val record = work.resolve(s"exact-${wl.name}-$seed.json")
    val previous = if (Files.exists(record)) Some(Files.readString(record)) else None
    val mine = Json.obj(exact.head.toSeq.sortBy(_._1))
    Files.writeString(record, mine)
    val same = exact.forall(_ == exact.head) && previous.forall(_ == mine)
    if (!same) System.err.println(
      s"[perfbench] EXACT COUNTERS DIFFER: passes ${exact.mkString(" | ")}" +
        previous.map(p => s"; previous run $p").getOrElse(""))
    same
  }
}

object Run {
  private val t0 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f $msg")

  final case class PassStats(index: Int, traced: Boolean, seconds: Double,
      cpuS: Double, ops: Seq[Op], layers: Map[String, Double])

  /** Counters that must not move between warm passes or same-seed runs;
    * codegen.compiles is left out on purpose (it moves by one or two). */
  val ExactCounters: Seq[String] = Seq("exec.jobs", "exec.stages", "exec.tasks",
    "plan.exchanges", "plan.reused", "plan.broadcasts", "plan.scans",
    "streaming.batches")
  def exact(k: String): Boolean = ExactCounters.contains(k)

  def unit(k: String): String =
    if (k.endsWith("_s") || k.endsWith(".s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("frac") || k == "artifact.write_amp" ||
      k == "exec.skew_max") "ratio"
    else "count"
}
