package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. sf0.001 keeps the suite fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites

  /** `body`'s value and the Spark jobs it started, each named by its
    * last stage (the call site, e.g. "collect at Ann.scala:300"). Jobs are
    * counted by a listener that only sees jobs carrying this thread's
    * marker property; the list is read after the listener has seen one
    * sentinel job, which the bus delivers after every earlier job. */
  protected def jobsRun[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(SparkSpec.Marker)) match {
          case Some("body") => jobs.add(e.stageInfos.maxBy(_.stageId).name)
          case Some("sentinel") => sentinelSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(SparkSpec.Marker, "body")
      val a = try body finally sc.setLocalProperty(SparkSpec.Marker, "sentinel")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(SparkSpec.Marker, null)
      assert(sentinelSeen.await(60, TimeUnit.SECONDS),
        "the listener never saw the sentinel job")
      (a, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  private val Marker = "graft.spec-jobs"

  /** Pinned at 4 threads whatever SPARK_GRAFT_CPUS says: specs assert
    * partition counts of this session. */
  lazy val session: SparkSession = Battery.session(cpus = 4)
}
