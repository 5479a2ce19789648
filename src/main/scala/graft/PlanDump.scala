package graft

import org.apache.spark.scheduler._
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import graft.Battery.timed

/** Optimization-round measurement harness (guide §1): for each named query
  * writes `.explain("formatted")` to <outDir>/<key>.txt and, with
  * GRAFT_PROFILE=1, executes the query with the bench's count() action and
  * records job/stage/task counts (and, as `build`, the jobs the query
  * builder itself ran), shuffle bytes and spill from a listener —
  * the plan-shape evidence OPTIMIZATION_r14.md cites. Never part of the
  * timed bench; a pure read-side instrument.
  *
  * Usage: tools/run_local.sh graft.PlanDump <outDir> <key> [key...]
  *        (or "all" for every declared query)
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Battery.session()
    Files.createDirectories(Paths.get(outDir))
    val keys =
      if (args.length > 1 && args(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args.drop(1).toSeq
    val profile = sys.env.get("GRAFT_PROFILE").contains("1")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shufRead = new AtomicLong(0L)
    val shufWrite = new AtomicLong(0L)
    val spill = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        shufRead.addAndGet(s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(s.stageInfo.taskMetrics.diskBytesSpilled)
      }
    })

    keys.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown key: $name")
        case Some(fn) =>
          // build covers the query-builder call INCLUDING any materializing
          // actions inside it (regime-switch counts, pinned-intermediate
          // counts, driver training loops); plan is the Catalyst
          // analyze/optimize/plan cost of the RETURNED tree; exec the
          // bench's count() action.
          jobs.set(0); stages.set(0); tasks.set(0)
          shufRead.set(0L); shufWrite.set(0L); spill.set(0L)
          val r = Battery.timeKey(spark, sfDir, "plandump", name, fn) { df =>
            // the builder's own jobs, read once the async bus has drained
            val built = if (profile) { Thread.sleep(300); jobs.get } else 0
            // forces analysis + planning
            val (_, tPlan) = timed(df.queryExecution.executedPlan)
            Files.writeString(Paths.get(s"$outDir/$name.txt"),
              df.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode))
            if (profile) {
              val (n, wall) = timed(df.count())
              // listener events are async; give the bus a beat to drain
              Thread.sleep(300)
              Some((tPlan, wall, n, built))
            } else None
          }
          r.out.foreach {
            case Some((tPlan, wall, n, built)) =>
              System.err.println(f"[plandump] $name%-28s build ${r.build}%7.3f  plan $tPlan%6.3f  exec $wall%7.3f s  " +
                f"jobs ${jobs.get}%3d (build $built%3d)  stages ${stages.get}%4d  tasks ${tasks.get}%5d  " +
                f"shufR ${shufRead.get / 1e6}%9.1f MB  shufW ${shufWrite.get / 1e6}%9.1f MB  " +
                f"spill ${spill.get / 1e6}%7.1f MB  rows $n")
            case None => System.err.println(s"[plandump] $name -> $outDir/$name.txt")
          }
      }
    }
    spark.stop()
  }
}
