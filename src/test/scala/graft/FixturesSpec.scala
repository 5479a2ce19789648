package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Fixtures

/** The build-once contract of [[Fixtures]] on tiny in-memory inputs: one
  * build per key under a race, nesting, no cached failure or leftover dir,
  * ordered arrival files, and drains that clean up and never collide. */
class FixturesSpec extends SparkSpec {

  private def key(t: String) = s"fixtures_spec:$t:${System.nanoTime()}"

  test("two threads racing on one key run the build once") {
    val k = key("race")
    val builds = new AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val both = Seq.fill(2)(Future {
      start.await()
      Fixtures.once(k) { builds.incrementAndGet(); Thread.sleep(200); "v" }
    })
    start.countDown()
    assert(both.map(Await.result(_, 30.seconds)) == Seq("v", "v"))
    assert(builds.get() == 1)
  }

  test("a once nested in another once's build returns") {
    val (outer, inner) = (key("outer"), key("inner"))
    val v = Future(Fixtures.once(outer)(Fixtures.once(inner)(1) + 1))
    assert(Await.result(v, 30.seconds) == 2)
    assert(Fixtures.once(inner)(-1) == 1)
  }

  test("a throwing build caches nothing and leaves no dir; " +
       "the next call retries") {
    val k = key("throw")
    var made: String = null
    intercept[IllegalStateException](Fixtures.once[String](k) {
      made = Fixtures.dir("doomed")
      Files.write(Paths.get(made, "partial"), Array[Byte](1))
      throw new IllegalStateException("transient")
    })
    assert(made != null && !Files.exists(Paths.get(made)))
    assert(Fixtures.once(k)("retried") == "retried")
  }

  test("stage writes partitions in order with increasing mtimes") {
    val (_, stage) = Fixtures.stage(spark.range(0, 30, 1, 3).toDF("id"))
    val files = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    assert(files.map(_.getName) ==
      Seq("arrival-00000.parquet", "arrival-00001.parquet",
        "arrival-00002.parquet"))
    assert(files.map(f => spark.read.parquet(f.getPath)
      .agg(min("id")).head().getLong(0)) == Seq(0L, 10L, 20L))
    val mtimes = files.map(_.lastModified())
    assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b }, mtimes)
  }

  test("a drain replays the arrivals in order and deletes the staging dir") {
    val (arrivals, stage) =
      Fixtures.stage(spark.range(0, 30, 1, 3).toDF("id"))
    val firsts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    Fixtures.drain(arrivals.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        firsts.add(b.agg(min("id")).head().getLong(0)); ()
      }.start(), stage)
    assert(firsts.toArray.toSeq == Seq(0L, 10L, 20L))
    assert(!Files.exists(Paths.get(stage)))
  }

  test("two complete-mode drains active at once in one session " +
       "do not collide") {
    val tag = key("complete")
    // each query's first batch waits until the other query is running too
    val meet = udf { (id: Long, q: String) =>
      FixturesSpec.arrived(tag + q)
      val until = System.currentTimeMillis() + 20000
      while (FixturesSpec.count(tag) < 2 && System.currentTimeMillis() < until)
        Thread.sleep(10)
      id
    }
    val outs = Seq("a", "b").map { q =>
      Future {
        val (arrivals, stage) =
          Fixtures.stage(spark.range(0, 6, 1, 2).toDF("id"))
        Fixtures.drainComplete(
          arrivals.agg(sum(meet(col("id"), lit(q))).as("s")), "spec", stage)(
          identity)
      }
    }.map(Await.result(_, 60.seconds))
    assert(outs.distinct.size == 2)
    assert(outs.map(spark.read.parquet(_).head().getLong(0)) == Seq(15L, 15L))
    assert(FixturesSpec.count(tag) == 2)
  }
}

object FixturesSpec {
  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def arrived(q: String): Unit = { seen.add(q); () }
  def count(tag: String): Int = {
    var n = 0
    seen.forEach(q => if (q.startsWith(tag)) n += 1)
    n
  }
}
