package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The build-once fixtures of the query battery: on-disk indexes, streamed
  * lifecycles, STAC catalogs and model items, built once per (JVM, key)
  * and read by every later call.
  *
  *  - [[once]] runs one build per key, also under concurrent first access.
  *    A build that throws caches nothing and deletes the dirs it made, so
  *    a transient failure is retried by the next call, never cached.
  *  - [[dir]] hands out dirs under one per-JVM root below `java.io.tmpdir`
  *    (`graft_fixtures_*`), which one shutdown hook deletes.
  *  - [[stage]] writes a DataFrame's partitions as arrival files whose
  *    mtimes increase with the partition index, and reads them back as a
  *    stream of one file per trigger in that order.
  *  - [[drain]] and [[drainComplete]] run a stream over everything staged,
  *    stop it and delete its staging and store dirs.
  */
object Fixtures {

  /** The per-JVM root every [[dir]] lives under. */
  lazy val root: Path = {
    val r = Files.createTempDirectory("graft_fixtures_")
    sys.addShutdownHook(drop(r.toString))
    r
  }

  private val built = new ConcurrentHashMap[String, AnyRef]()
  private val locks = new ConcurrentHashMap[String, AnyRef]()
  /** The dirs made so far by the build running on this thread. */
  private val made = new ThreadLocal[ArrayBuffer[Path]]()

  /** The value `build` returned for `key`, built on the first call. Builds
    * of different keys may nest; a thread waits only for its own key. */
  def once[A](key: String)(build: => A): A = {
    val hit = built.get(key)
    if (hit != null) hit.asInstanceOf[A]
    else locks.computeIfAbsent(key, _ => new Object).synchronized {
      val raced = built.get(key)
      if (raced != null) raced.asInstanceOf[A]
      else {
        val outer = made.get()
        val mine = ArrayBuffer.empty[Path]
        made.set(mine)
        val v = try build catch { case e: Throwable =>
          mine.foreach(p => drop(p.toString)); throw e
        } finally made.set(outer)
        built.put(key, v.asInstanceOf[AnyRef])
        v
      }
    }
  }

  /** A fresh empty dir `<name>_*` under the per-JVM root. */
  def dir(name: String): String = {
    val p = Files.createTempDirectory(root, name + "_")
    Option(made.get()).foreach(_ += p)
    p.toString
  }

  /** Delete `path` and everything below it; a missing path is a no-op. */
  def drop(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))

  /** Write `df`'s partitions as `arrival-%05d.parquet`, one file per
    * non-empty partition in partition order, with mtimes a minute apart in
    * that order. Returns them as a file-source stream that reads one file
    * per trigger, oldest first, and the staging dir. */
  def stage(df: DataFrame): (DataFrame, String) = {
    val tmp = dir("stage_tmp")
    df.write.mode("overwrite").parquet(tmp)
    val out = dir("stage")
    val base = System.currentTimeMillis() - 86400000L
    new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).zipWithIndex.foreach { case (f, k) =>
        // Files.move throws on failure: no arrival is silently missing
        val dst =
          Files.move(f.toPath, Paths.get(out, f"arrival-$k%05d.parquet"))
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(base + k * 60000L))
      }
    drop(tmp)
    (df.sparkSession.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(out), out)
  }

  /** Run `q` over everything its source holds, stop it, then delete
    * `scratch` (the staging and store dirs no result reads). */
  def drain(q: StreamingQuery, scratch: String*): Unit =
    try q.processAllAvailable() finally { q.stop(); scratch.foreach(drop) }

  /** [[drain]] a complete-mode aggregate `agg` through a memory sink whose
    * query name is unique to this call, write `finish` of its final table
    * to a fresh [[dir]] `name` and return that dir. */
  def drainComplete(agg: DataFrame, name: String, scratch: String*)(
      finish: DataFrame => DataFrame): String = {
    val view = "graft_fixture_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val s = agg.sparkSession
    try {
      drain(agg.writeStream.format("memory").queryName(view)
        .outputMode("complete").start(), scratch: _*)
      val out = dir(name)
      finish(s.table(view)).write.mode("overwrite").parquet(out)
      out
    } finally s.catalog.dropTempView(view)
  }
}
