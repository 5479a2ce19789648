package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's main: one JVM, one serial client, one workload.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --root DIR
  *      [--size bench|smoke] [--trace-out FILE] [--oracle-out DIR]
  * }}}
  *
  * Set-up (session start, staging the seeded lake, and the operations of
  * one warm-up pass) is timed as `setup_s`. The warm-up pass also checks
  * every output against its reference, outside the operations' timing.
  * Whole passes then run while they fit in `--seconds`; each must
  * reproduce the checked digests. A traced run (`--trace 1`) instead runs
  * an untraced, a traced and another untraced pass. The last stdout line
  * is the result object; progress and diagnostics go to stderr.
  */
object Main {
  // ---- counters the workloads report into (one serial client) ----
  private val recall = ArrayBuffer.empty[Double]
  private var candidates = 0L
  private var matches = 0L
  private var cells = 0L
  private var rasterBytes = 0L
  private var rasterWrites = 0L
  /** Whether this run traces; the per-layer ratios need extra counts. */
  var tracing = false
  def noteRecall(r: Double): Unit = recall += r
  def noteMatches(dropped: Long, pairs: Long): Unit = { matches = dropped; candidates = pairs }
  def noteCells(n: Long): Unit = cells = n
  def noteRaster(path: String): Unit = {
    rasterBytes += Harness.dirBytes(new File(path)); rasterWrites += 1
  }

  val Modules = Seq("plans", "cube", "ml", "sources", "functions", "dedup", "sim", "streaming")
  val ModuleMetrics = Seq("call_s" -> "s", "action_s" -> "s", "jobs" -> "count",
    "task_cpu_s" -> "s", "shuffle_mb" -> "MB", "spill_mb" -> "MB",
    "critical_task_s" -> "s", "failed_tasks" -> "count")
  val EngineMetrics = Seq(
    "spark.analysis_s" -> "s", "spark.optimization_s" -> "s", "spark.planning_s" -> "s",
    "spark.codegen_s" -> "s", "spark.codegen_classes" -> "count", "spark.jobs" -> "count",
    "spark.tasks" -> "count", "spark.task_queue_s" -> "s", "spark.task_overhead_s" -> "s",
    "spark.gc_s" -> "s", "spark.input_mb" -> "MB", "spark.output_mb" -> "MB",
    "spark.shuffle_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.plan_nodes" -> "count",
    "core.cached_mb" -> "MB", "core.fanout_exchanges" -> "count",
    "sim.rows_scanned_per_result" -> "ratio", "sim.files_per_probe" -> "ratio",
    "sim.probe_recall" -> "ratio", "dedup.candidates_per_match" -> "ratio",
    "sources.bytes_per_cell" -> "B", "streaming.batch_p50_s" -> "s",
    "trace.overhead_s" -> "s")

  private def arg(args: Array[String], name: String, default: Option[String] = None): String = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) args(i + 1)
    else default.getOrElse(throw new IllegalArgumentException(s"missing --$name"))
  }

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** The session `graft.Bench` uses (shuffle partitions = cores, AQE
    * coalescing floor 1m, nanosAsLong, UTC, no UI), with every scratch
    * directory under `root`. */
  def session(root: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(root, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").toString)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.hadoop.hadoop.tmp.dir", new File(root, "hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = Workloads(arg(args, "workload"))
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    tracing = traced
    val root = new File(arg(args, "root")).getAbsoluteFile
    val size = Size(arg(args, "size", Some("bench")))
    val traceOut = arg(args, "trace-out", Some(""))
    val oracleOut = arg(args, "oracle-out", Some(new File(root, "oracle").toString))
    root.mkdirs()
    val load0 = Harness.loadAvg

    val spark = session(root)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    try {
      // Set-up: stage the seeded lake, then one pass warms JIT, class
      // loading and codegen. That pass is also the checking pass: each
      // operation's checks run after its timed region and are not part of
      // set-up.
      val plan = Inputs.plan(seed, size)
      val lake = new File(root, "lake").toString
      val ts = System.nanoTime()
      Inputs.stage(spark, lake, workload.tables, seed, size, plan)
      workload.prepare(spark, lake, root.toString, plan, size)
      val stageS = (System.nanoTime() - ts) / 1e9

      var passNo = 0
      def runPass(tracer: Option[Tracer], checking: Boolean): (Pass, Ctx) = {
        passNo += 1
        val dir = new File(root, s"pass-$passNo")
        dir.mkdirs()
        val c = new Ctx(spark, lake, dir.toString, plan, size, tracer, checking, oracleOut)
        val pass = Harness.pass(workload, c)
        Harness.deleteTree(dir)
        (pass, c)
      }

      val tw = System.nanoTime()
      val (checked, checkCtx) = runPass(None, checking = true)
      val warmS = (System.nanoTime() - tw) / 1e9
      val setupS = sessionS + stageS + checked.wall
      log(f"set-up: session $sessionS%.2f s, staging $stageS%.2f s, warm-up operations " +
        f"${checked.wall}%.2f s (the checking pass took $warmS%.2f s with its checks and sweeps)")
      val checkedRuns = checked.runs.map(r => r.op.name -> r.digest).toMap

      // Whole passes while the next one is predicted to fit in the budget.
      def loop(budget: Double, tracer: Option[Tracer]): Seq[Pass] = {
        val passes = ArrayBuffer.empty[Pass]
        val start = System.nanoTime()
        def elapsed = (System.nanoTime() - start) / 1e9
        while (passes.isEmpty || elapsed + passes.last.wall <= budget) {
          val (p, _) = runPass(tracer, checking = false)
          passes += p
          log(f"pass ${passes.size}: wall ${p.wall}%.3f s, cpu ${p.cpu}%.3f s, " +
            f"heap ${p.heapMb}%.1f MB${if (tracer.isDefined) " (traced)" else ""}")
        }
        passes.toSeq
      }

      // A traced run brackets its traced passes with untraced ones; the
      // tracing overhead compares the traced pass with the one after it.
      val untraced0 = loop(if (traced) 0 else seconds, None)
      val tracer = if (traced) Some(new Tracer(spark)) else None
      tracer.foreach(_.start())
      val tracedPasses = tracer.map(t => loop(0, Some(t))).getOrElse(Nil)
      tracer.foreach(_.stop())
      val untraced = untraced0 ++ (if (traced) loop(0, None) else Nil)

      val timed = untraced ++ tracedPasses
      val failures = ArrayBuffer.empty[String]
      (checked +: timed).foreach(_.runs.foreach { r =>
        r.error.foreach(failures += _)
        if (r.error.isEmpty && r.digest.isDefined && r.digest != checkedRuns(r.op.name))
          failures += s"${r.op.name}: output digest ${r.digest} differs from the checked ${checkedRuns(r.op.name)}"
      })
      tracer.foreach(_.spanSumViolations.foreach(failures += _))
      val attempted = (checked +: timed).map(_.runs.size).sum
      failures.distinct.take(20).foreach(f => log(s"FAILED $f"))

      if (checkCtx.oracleKeys.nonEmpty) {
        val sql = graft.SparkEntry.oracleSql
        Files.writeString(Paths.get(oracleOut, "oracle_sql.json"),
          Json(checkCtx.oracleKeys.distinct.map(k => k -> sql(k)).toMap))
      }

      untraced.flatMap(_.runs).groupBy(_.op.name).toSeq
        .sortBy { case (_, rs) => -rs.map(_.wall).sum }.take(12).foreach { case (n, rs) =>
          log(f"  op $n%-28s median ${Harness.median(rs.map(_.wall))}%8.3f s over ${rs.size}")
        }
      val probeMs = untraced.flatMap(_.probes).map(_ * 1000)
      val above = probeMs.count(_ > Harness.percentile(probeMs, 0.9))
      val load1 = Harness.loadAvg
      log(f"probe samples ${probeMs.size}, p50 ${Harness.median(probeMs)}%.1f ms, " +
        f"p90 ${Harness.percentile(probeMs, 0.9)}%.1f ms with $above samples beyond it" +
        (if (above < 10) " (too few to report)" else "") + f"; loadavg $load0%.2f -> $load1%.2f")

      val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
      if (!traced) {
        metrics("setup_s") = (setupS, "s")
        metrics("wall_s") = (Harness.median(untraced.map(_.wall)), "s")
        metrics("cpu_s") = (Harness.median(untraced.map(_.cpu)), "s")
        metrics("retained_heap_mb") = (untraced.map(_.heapMb).max, "MB")
        metrics("probe_p50_ms") = (Harness.median(probeMs), "ms")
        // a p90 is reported only with at least ten samples beyond it
        if (above >= 10) metrics("probe_p90_ms") = (Harness.percentile(probeMs, 0.9), "ms")
        metrics("index_write_s") = (Harness.median(untraced.map(_.writes)), "s")
      } else tracer.foreach { t =>
        val n = tracedPasses.size.toDouble
        def per(v: Double) = v / n
        for (m <- Modules) {
          val accs = Seq("call", "action").flatMap(k => t.layers.get((m, k)))
          def sum(f: Acc => Double) = per(accs.map(f).sum)
          val values = Map(
            "call_s" -> per(t.layerSeconds.getOrElse((m, "call"), 0.0)),
            "action_s" -> per(t.layerSeconds.getOrElse((m, "action"), 0.0)),
            "jobs" -> sum(_.jobs.toDouble),
            "task_cpu_s" -> sum(_.taskCpuNs / 1e9),
            "shuffle_mb" -> sum(_.shuffleBytes / 1048576.0),
            "spill_mb" -> sum(_.spillBytes / 1048576.0),
            "critical_task_s" -> sum(_.criticalMs / 1000.0),
            "failed_tasks" -> sum(_.failedTasks.toDouble))
          ModuleMetrics.foreach { case (k, u) => metrics(s"$m.$k") = (values(k), u) }
        }
        val all = t.layers.values.toSeq
        def total(f: Acc => Double) = per(all.map(f).sum)
        // single-vector ANN requests, whether a workload times them as
        // probes or as jobs
        val simProbes = tracedPasses.flatMap(_.runs)
          .filter(r => r.op.module == "sim" && r.op.name.contains("probe"))
        val probeNames = simProbes.map(_.op.name).toSet
        val probeAccs = t.byOp.filter { case (k, _) => probeNames(k) }.values
        val probeRows = simProbes.flatMap(_.digest).map(_.rows).sum
        val bm = t.batchMs.map(_ / 1000.0).toSeq
        val values = Map(
          "spark.analysis_s" -> per(t.analysisMs / 1000.0),
          "spark.optimization_s" -> per(t.optimizationMs / 1000.0),
          "spark.planning_s" -> per(t.planningMs / 1000.0),
          "spark.codegen_s" -> per(t.codegenMs / 1000.0),
          "spark.codegen_classes" -> per(t.codegenCompiles.toDouble),
          "spark.jobs" -> total(_.jobs.toDouble),
          "spark.tasks" -> total(_.tasks.toDouble),
          "spark.task_queue_s" -> total(_.queueMs / 1000.0),
          "spark.task_overhead_s" -> total(_.overheadMs / 1000.0),
          "spark.gc_s" -> per(t.gcMs / 1000.0),
          "spark.input_mb" -> total(_.inputBytes / 1048576.0),
          "spark.output_mb" -> total(_.outputBytes / 1048576.0),
          "spark.shuffle_mb" -> total(_.shuffleBytes / 1048576.0),
          "spark.spill_mb" -> total(_.spillBytes / 1048576.0),
          "spark.plan_nodes" -> per(t.planNodes.toDouble),
          "core.cached_mb" -> t.cachedMbMax,
          "core.fanout_exchanges" -> per(t.fanoutExchanges.toDouble),
          "sim.rows_scanned_per_result" ->
            (if (probeRows > 0) probeAccs.map(_.recordsRead).sum.toDouble / probeRows else 0.0),
          "sim.files_per_probe" ->
            (if (simProbes.nonEmpty) t.scanFilesByOp.filter { case (k, _) => probeNames(k) }
              .values.sum.toDouble / simProbes.size else 0.0),
          "sim.probe_recall" -> (if (recall.nonEmpty) recall.sum / recall.size else 0.0),
          "dedup.candidates_per_match" ->
            (if (matches > 0) candidates.toDouble / matches else 0.0),
          "sources.bytes_per_cell" ->
            (if (cells > 0 && rasterWrites > 0) rasterBytes.toDouble / rasterWrites / cells else 0.0),
          "streaming.batch_p50_s" -> (if (bm.nonEmpty) Harness.median(bm) else 0.0),
          "trace.overhead_s" -> (Harness.median(tracedPasses.map(_.wall)) - untraced.last.wall))
        EngineMetrics.foreach { case (k, u) => metrics(k) = (values(k), u) }
        log(f"traced op wall ${t.opWallSum}%.3f s, of which module call+action spans ${t.layerWallSum}%.3f s")
        if (traceOut.nonEmpty) {
          new File(traceOut).getAbsoluteFile.getParentFile.mkdirs()
          Files.writeString(Paths.get(traceOut), t.spansJson)
          log(s"trace spans -> $traceOut")
        }
      }

      log(f"failed_frac ${failures.size.toDouble / attempted}%.4f (${failures.size} of $attempted operations)")
      metrics.foreach { case (k, (v, u)) => log(f"  $k%-32s $v%14.6f $u") }
      val result = mutable.LinkedHashMap[String, Any](
        "correct" -> failures.isEmpty,
        "attempted" -> attempted,
        "failed" -> failures.size,
        "metrics" -> metrics.map { case (k, (v, u)) =>
          k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u)
        })
      println(Json(result))
    } finally {
      spark.stop()
    }
  }
}
