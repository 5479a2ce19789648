package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters, summed over the tasks of the jobs a layer started. */
final class Acc {
  var jobs = 0L; var tasks = 0L; var failedTasks = 0L
  var taskCpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  var inputBytes = 0L; var outputBytes = 0L; var recordsRead = 0L
  var criticalMs = 0L; var queueMs = 0L; var overheadMs = 0L
}

/** A traced interval. Spans of one operation share `op`; `parent` links
  * run → operation → module call or action → Spark job → stage. */
final case class Span(id: Int, parent: Int, name: String, kind: String, op: Int,
                      startMs: Long, var endMs: Long = -1L,
                      attrs: mutable.Map[String, Any] = mutable.LinkedHashMap.empty)

/** Where a job's work is charged: a module's call or action span of one
  * operation. */
private final case class Bucket(module: String, kind: String, op: String, spanId: Int)

/** The traced run's instruments. Everything here is what Spark offers an
  * outside caller: one job group per module span, a `SparkListener`, a
  * `QueryExecutionListener` reading each query's planning tracker and
  * executed plan, Spark's codegen metrics and a `StreamingQueryListener`.
  * Spans stay in memory until the run writes them out. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val lock = new Object
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  spans += Span(0, -1, "run", "run", -1, System.currentTimeMillis())

  private var opSeq = 0
  private var opSpan: Span = null
  private var opName = ""
  @volatile private var current: Bucket = Bucket("none", "none", "", 0)
  private val bySpan = mutable.Map.empty[Int, Bucket]

  val layers = mutable.LinkedHashMap.empty[(String, String), Acc]
  val layerSeconds = mutable.LinkedHashMap.empty[(String, String), Double]
  val byOp = mutable.LinkedHashMap.empty[String, Acc]
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  var planNodes = 0L; var fanoutExchanges = 0L
  val scanFilesByOp = mutable.LinkedHashMap.empty[String, Long]
  val batchMs = ArrayBuffer.empty[Long]
  var cachedMbMax = 0.0
  var opWallSum = 0.0
  var layerWallSum = 0.0
  val spanSumViolations = ArrayBuffer.empty[String]
  private var opLayerSeconds = 0.0

  private def acc(b: Bucket): Acc = layers.getOrElseUpdate((b.module, b.kind), new Acc)
  private def opAcc(b: Bucket): Acc = byOp.getOrElseUpdate(b.op, new Acc)
  private def newSpan(parent: Int, name: String, kind: String, op: Int, start: Long): Span =
    lock.synchronized {
      val s = Span(nextId, parent, name, kind, op, start)
      nextId += 1
      spans += s
      s
    }

  def beginOp(op: Op): Unit = {
    opSeq += 1
    opName = op.name
    opSpan = newSpan(0, op.name, "operation", opSeq, System.currentTimeMillis())
    opSpan.attrs("module") = op.module
    opSpan.attrs("op_kind") = op.kind
    opLayerSeconds = 0.0
    current = Bucket(op.module, "call", op.name, opSpan.id)
  }

  def endOp(op: Op, wall: Double): Unit = {
    opSpan.endMs = System.currentTimeMillis()
    opSpan.attrs("wall_s") = wall
    opWallSum += wall
    layerWallSum += opLayerSeconds
    if (opLayerSeconds > wall + 1e-6)
      spanSumViolations += f"${op.name}: call+action ${opLayerSeconds}%.4f s > wall $wall%.4f s"
    val mb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    cachedMbMax = math.max(cachedMbMax, mb)
  }

  /** A module call or action: its own job group, so every job and query it
    * starts is charged to it, even when the listener sees the events late. */
  def span[T](module: String, kind: String)(body: => T): T = {
    val s = newSpan(opSpan.id, s"$module.$kind", kind, opSeq, System.currentTimeMillis())
    val b = Bucket(module, kind, opName, s.id)
    lock.synchronized(bySpan(s.id) = b)
    val outer = current
    current = b
    sc.setJobGroup(s"graftbench-${s.id}", s"$opName $module.$kind", false)
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = (System.nanoTime() - t0) / 1e9
      s.endMs = System.currentTimeMillis()
      s.attrs("seconds") = dt
      lock.synchronized {
        layerSeconds((module, kind)) = layerSeconds.getOrElse((module, kind), 0.0) + dt
      }
      opLayerSeconds += dt
      sc.clearJobGroup()
      current = outer
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** The bucket of a job group. A group the tracer did not set (a stream's
    * micro-batches run under their own) is bound to the span current when
    * its first job is seen. */
  private val groupBucket = mutable.Map.empty[String, Bucket]
  private def bucketOf(group: Option[String]): Bucket = group match {
    case Some(g) if g.startsWith("graftbench-") =>
      Try(g.stripPrefix("graftbench-").toInt).toOption.flatMap(bySpan.get).getOrElse(current)
    case Some(g) => groupBucket.getOrElseUpdate(g, current)
    case None => current
  }
  private val execBucket = mutable.Map.empty[Long, Bucket]
  private val SentinelGroup = "graftbench-sentinel"
  private var sentinelJob = -1
  private val drained = new java.util.concurrent.CountDownLatch(1)

  private val jobBucket = mutable.Map.empty[Int, (Bucket, Span)]
  private val stageBucket = mutable.Map.empty[Int, (Bucket, Span)]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val stageMaxTask = mutable.Map.empty[(Int, Int), Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      if (group.contains(SentinelGroup)) sentinelJob = e.jobId
      else {
        val b = bucketOf(group)
        val s = Span(nextId, b.spanId, s"job ${e.jobId}", "job", opSeq, e.time)
        nextId += 1
        spans += s
        jobBucket(e.jobId) = (b, s)
        acc(b).jobs += 1
        opAcc(b).jobs += 1
        e.stageIds.foreach(id => if (!stageBucket.contains(id)) stageBucket(id) = (b, s))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      if (e.jobId == sentinelJob) drained.countDown()
      jobBucket.remove(e.jobId).foreach { case (_, s) => s.endMs = e.time }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      val i = e.stageInfo
      stageSubmit((i.stageId, i.attemptNumber())) =
        i.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val key = (i.stageId, i.attemptNumber())
      stageBucket.get(i.stageId).foreach { case (b, job) =>
        val crit = stageMaxTask.getOrElse(key, 0L)
        acc(b).criticalMs += crit
        opAcc(b).criticalMs += crit
        val s = Span(nextId, job.id, s"stage ${i.stageId}.${i.attemptNumber()}", "stage",
          job.op, i.submissionTime.getOrElse(job.startMs))
        nextId += 1
        s.endMs = i.completionTime.getOrElse(System.currentTimeMillis())
        s.attrs("tasks") = i.numTasks
        s.attrs("critical_task_ms") = crit
        spans += s
      }
      stageSubmit.remove(key); stageMaxTask.remove(key)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        lock.synchronized(execBucket(s.executionId) = bucketOf(s.jobGroupId))
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageBucket.get(e.stageId).foreach { case (b, _) => taskEnd(b, e) }
    }
  }

  private def taskEnd(b: Bucket, e: SparkListenerTaskEnd): Unit = {
      val info = e.taskInfo
      val key = (e.stageId, e.stageAttemptId)
      val dur = info.duration
      stageMaxTask(key) = math.max(stageMaxTask.getOrElse(key, 0L), dur)
      Seq(acc(b), opAcc(b)).foreach { a =>
        a.tasks += 1
        if (info.failed || info.killed || info.attemptNumber > 0) a.failedTasks += 1
        stageSubmit.get(key).foreach(t => a.queueMs += math.max(0L, info.launchTime - t))
        val m = e.taskMetrics
        if (m != null) {
          a.taskCpuNs += m.executorCpuTime
          a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inputBytes += m.inputMetrics.bytesRead
          a.recordsRead += m.inputMetrics.recordsRead
          a.outputBytes += m.outputMetrics.bytesWritten
          a.overheadMs += math.max(0L, dur - m.executorRunTime)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lock.synchronized {
        val ph = qe.tracker.phases
        analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
        optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
        planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
        Try(planNodes += qe.optimizedPlan.collect { case p => p }.size)
        Try {
          val exec = qe.executedPlan
          val par = sc.defaultParallelism
          fanoutExchanges += PlanWalk.collect(exec) {
            case s: ShuffleExchangeExec if (s.outputPartitioning match {
              case RoundRobinPartitioning(n) => n == par && n > 1
              case _ => false
            }) => s
          }.size
          val files = PlanWalk.collectWithSubqueries(exec) {
            case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          }.sum
          val op = execBucket.remove(qe.id).getOrElse(current).op
          scanFilesByOp(op) = scanFilesByOp.getOrElse(op, 0L) + files
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) lock.synchronized(batchMs += e.progress.batchDuration)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def codegen = org.apache.spark.metrics.source.CodegenMetrics
  private var cg0 = (0L, 0L)
  var codegenCompiles = 0L
  var codegenMs = 0.0
  private var gc0 = 0L
  var gcMs = 0L

  private def gcTotal: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean])
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Attach the listeners and zero the process-wide counters. */
  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    cg0 = (codegen.METRIC_COMPILATION_TIME.getCount,
      codegen.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount)
    gc0 = gcTotal
  }

  /** Detach the listeners once every event posted so far has reached them:
    * a sentinel job is run, and its end event is the last one awaited. */
  def stop(): Unit = {
    sc.setJobGroup(SentinelGroup, "graftbench tracer sentinel", false)
    try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
    if (!drained.await(120, java.util.concurrent.TimeUnit.SECONDS))
      throw new IllegalStateException("listener events still pending after 120 s")
    val compiles = codegen.METRIC_COMPILATION_TIME.getCount - cg0._1
    codegenCompiles = codegen.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount - cg0._2
    // Dropwizard keeps a sample of compile times, not their sum: the total
    // is the number of compilations times the sampled mean.
    codegenMs = compiles * codegen.METRIC_COMPILATION_TIME.getSnapshot.getMean
    gcMs = gcTotal - gc0
    spans.head.endMs = System.currentTimeMillis()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def spansJson: String = lock.synchronized {
    spans.map { s =>
      Json(mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "kind" -> s.kind, "op" -> s.op, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs) ++ s.attrs)
    }.mkString("[\n", ",\n", "\n]")
  }
}
