package graft

import java.lang.management.ManagementFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The driver harness Bench, Verify, PlanDump and the tools share: one
  * local session factory, the `GRAFT_ONLY` key filter, the between-key
  * release, the JSON helpers and the per-key step that builds a key's
  * frame, runs the caller's action on it and times both. */
object Battery {

  type Query = (SparkSession, String) => DataFrame

  /** Worker threads of a driver main: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** The session of every main and of the specs: `local[cpus]`, shuffle
    * partitions = cpus, session time zone UTC, `nanosAsLong` (events.parquet
    * stores TIMESTAMP(NANOS)), UI off, log level WARN. Anything else is
    * Spark's default unless a `-Dspark.*` system property sets it, e.g.
    * through `JAVA_TOOL_OPTIONS`. */
  def session(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Keys named by a `GRAFT_ONLY=k1,k2` value: trimmed, empties dropped. */
  def onlyKeys(v: String): Set[String] =
    v.split(",").map(_.trim).filter(_.nonEmpty).toSet

  /** `GRAFT_ONLY`, the local-iteration key filter of Bench and Verify. The
    * driver never sets it, so its runs cover the whole battery. */
  def only: Option[Set[String]] = sys.env.get("GRAFT_ONLY").map(onlyKeys)

  def picked(only: Option[Set[String]]): Map[String, Query] =
    only.fold(SparkEntry.queries)(o =>
      SparkEntry.queries.filter { case (k, _) => o(k) })

  /** A JSON string literal of `s`: quote, backslash and every control
    * character escaped, so a key, an oracle's SQL text or a verdict can
    * never make an artifact invalid JSON. */
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def r3(x: Double): Double = math.rint(x * 1000) / 1000

  /** A JSON object of key → value rounded to 3 decimals, in `kvs` order. */
  def jobj(kvs: Iterable[(String, Double)]): String =
    kvs.map { case (k, v) => s"${jstr(k)}:${r3(v)}" }.mkString("{", ",", "}")

  /** `body`'s result and its wall seconds. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    (body, (System.nanoTime() - t0) / 1e9)
  }

  /** Between-key release. Operators that pin data (jaccardAuto's candidate
    * set, the BPE vocab iterates) leave the unpersist to the pipeline; in a
    * 200-key battery the leftovers would tax every later key. The unpersist
    * BLOCKS, so its cleanup is paid here and not inside the next key (that
    * backlog once showed up as wall-not-cpu inflation on the ml_* keys). */
  def release(spark: SparkSession): Unit = {
    graft.core.CacheScope.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
  private def cpuNanos: Long = osBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }
  private def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** One key's run, in seconds: the build (-1 if it threw), build plus
    * action (`wall`), process CPU (-1 without a counter) and stop-the-world
    * GC; the load average at its start (-1 if unknown); and the action's
    * result, None when the build or the action threw. */
  final case class KeyRun[A](key: String, build: Double, wall: Double,
                             cpu: Double, gc: Double, load: Double,
                             out: Option[A]) {
    def failed: Boolean = out.isEmpty
  }

  /** The per-key step of every battery: [[release]] what the previous key
    * left (plus a collection when `gc`, so its heap debt is paid before
    * the clock starts too), build `key`'s frame, run `action` on it, and
    * time it all. A throw is logged as `[tag] key failed: message`. */
  def timeKey[A](spark: SparkSession, sfDir: String, tag: String,
                 key: String, query: Query, gc: Boolean = false)
                (action: DataFrame => A): KeyRun[A] = {
    release(spark)
    if (gc) System.gc()
    val load = osBean.getSystemLoadAverage
    val (g0, c0) = (gcMillis, cpuNanos)
    var build = -1.0
    val (out, wall) = timed {
      try {
        val (df, b) = timed(query(spark, sfDir))
        build = b
        Some(action(df))
      } catch { case e: Throwable =>
        System.err.println(s"[$tag] $key failed: ${e.getMessage}")
        None
      }
    }
    val cpu = if (c0 >= 0) (cpuNanos - c0) / 1e9 else -1.0
    KeyRun(key, build, wall, cpu, (gcMillis - g0) / 1e3, load, out)
  }
}
