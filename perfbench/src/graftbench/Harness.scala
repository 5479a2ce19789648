package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Order-free digest of a whole result: row count plus the sum of a 64-bit
  * hash over every column. Hashing every column keeps Catalyst from pruning
  * any output column away, so the digest costs what full output costs. */
final case class Digest(rows: Long, hash: java.math.BigDecimal)

object Digest {
  def of(df: DataFrame): Digest = {
    val cols = df.columns.toSeq.map(c => col("`" + c.replace("`", "``") + "`"))
    val r = df.select(xxhash64(cols: _*).cast("decimal(20,0)").as("_h"))
      .agg(count(lit(1)), sum(col("_h"))).head()
    Digest(r.getLong(0),
      Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
}

/** One operation of a workload: a call into one module of the library, and
  * the materialization of what it returned. `kind` is `job`, `probe` (a
  * single interactive request, timed on its own) or `write` (index, model or
  * raster maintenance). The body returns the digest of its output, or
  * `None` when the operation's output is a written artifact that a later
  * operation reads back. */
final case class Op(name: String, module: String, kind: String,
                    body: Ctx => Option[Digest])

/** What an operation sees: the session, the run's lake, a fresh scratch
  * directory for this pass, and the hooks that trace module boundaries. */
final class Ctx(val spark: SparkSession, val lake: String, val dir: String,
                val plan: Plan, val size: Size, val tracer: Option[Tracer],
                val checking: Boolean, oracleDir: String) {
  val errors = ArrayBuffer.empty[String]
  val oracleKeys = ArrayBuffer.empty[String]
  private val pending = ArrayBuffer.empty[() => Unit]

  /** Time the public call into `module` (including any job it runs eagerly). */
  def call[T](module: String)(body: => T): T =
    tracer.fold(body)(_.span(module, "call")(body))

  /** Materialize every column of a DataFrame that `module` returned. */
  def out(module: String, df: DataFrame): Option[Digest] =
    Some(tracer.fold(Digest.of(df))(_.span(module, "action")(Digest.of(df))))

  def check(ok: Boolean, msg: => String): Unit = if (!ok) errors += msg

  /** On the checking pass, run `body` after the operation's timed region. */
  def verify(body: => Unit): Unit = if (checking) pending += (() => body)

  /** On the checking pass, keep `df` for the DuckDB replay of the oracle SQL
    * that the library ships for query key `key`. */
  def oracle(key: String, df: => DataFrame): Unit = verify {
    df.write.mode("overwrite").parquet(s"$oracleDir/$key")
    oracleKeys += key
  }

  /** Run the deferred checks of the operation that just ended. */
  def drainChecks(): Unit = {
    val todo = pending.toList
    pending.clear()
    todo.foreach(_())
  }
}

/** A workload: the operations of one pass, built fresh for every pass so
  * that no state (index, model, raster) survives from one pass to the next,
  * and the untimed preparation its passes share. */
trait Workload {
  def name: String
  /** The lake tables the workload reads; only these are staged. */
  def tables: Seq[String]
  def prepare(spark: SparkSession, lake: String, root: String, plan: Plan,
              size: Size): Unit = ()
  def ops(c: Ctx): Seq[Op]
}

final case class OpRun(op: Op, wall: Double, cpu: Double,
                       digest: Option[Digest], error: Option[String])

final case class Pass(runs: Seq[OpRun], heapMb: Double) {
  def wall: Double = runs.map(_.wall).sum
  def cpu: Double = runs.map(_.cpu).sum
  def probes: Seq[Double] = runs.filter(_.op.kind == "probe").map(_.wall)
  def writes: Double = runs.filter(_.op.kind == "write").map(_.wall).sum
}

object Harness {
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val memBean = java.lang.management.ManagementFactory.getMemoryMXBean

  def cpuSeconds: Double = osBean.getProcessCpuTime / 1e9
  def loadAvg: Double = osBean.getSystemLoadAverage

  /** Release what the previous operation pinned, the way `graft.Bench`
    * sweeps between queries; `gc` adds the blocking unpersist and a full
    * collection. Returns the heap still in use afterwards, in MB. */
  def sweep(spark: SparkSession, gc: Boolean): Double = {
    graft.core.CacheScope.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = gc))
    if (gc) System.gc()
    memBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** One pass over a workload's operations. A full sweep precedes every
    * operation except a probe that follows a probe, which gets the light
    * sweep (a full collection per single request would dominate the run).
    * Sweeps and the checks of a checking pass are outside the timed
    * region. */
  def pass(w: Workload, c: Ctx): Pass = {
    val runs = ArrayBuffer.empty[OpRun]
    var heap = 0.0
    var prevKind = ""
    w.ops(c).foreach { op =>
      val full = !(op.kind == "probe" && prevKind == "probe")
      val h = sweep(c.spark, gc = full)
      if (full) heap = math.max(heap, h)
      prevKind = op.kind
      val before = c.errors.size
      c.tracer.foreach(_.beginOp(op))
      val c0 = cpuSeconds
      val t0 = System.nanoTime()
      val res = try Right(op.body(c)) catch {
        case e: Throwable => Left(s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSeconds - c0
      c.tracer.foreach(_.endOp(op, wall))
      try c.drainChecks() catch {
        case e: Throwable => c.errors += s"${op.name} check: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      val err = res.left.toOption.orElse(
        if (c.errors.size > before) Some(c.errors.drop(before).mkString("; ")) else None)
      runs += OpRun(op, wall, cpu, res.toOption.flatten, err)
    }
    heap = math.max(heap, sweep(c.spark, gc = true))
    Pass(runs.toSeq, heap)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o: Option[_] => o.fold("null")(apply)
    case other => quote(other.toString)
  }

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
