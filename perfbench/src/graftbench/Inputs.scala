package graftbench

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Input sizes of one benchmark run. `Bench` is the measured size; `Smoke`
  * is the smaller one the smoke test and the archive dump run. */
final case class Size(name: String, docs: Int, minWords: Int, maxWords: Int,
                      lineitems: Int, events: Int, vectors: Int,
                      probes: Int, treeCount: Int, treeDepth: Int)

object Size {
  val Bench = Size("bench", docs = 100, minWords = 25, maxWords = 60,
    lineitems = 8000, events = 8000, vectors = 800, probes = 10,
    treeCount = 2, treeDepth = 3)
  val Smoke = Size("smoke", docs = 40, minWords = 20, maxWords = 50,
    lineitems = 1500, events = 1000, vectors = 300, probes = 2,
    treeCount = 2, treeDepth = 3)
  def apply(name: String): Size = name match {
    case "bench" => Bench
    case "smoke" => Smoke
    case other => throw new IllegalArgumentException(s"unknown size '$other'")
  }
}

/** The seeded properties of a run's inputs that the checks read back. */
final case class Plan(seed: Long, dupShare: Double, gridExtent: (Int, Int, Int, Int),
                      zones: Seq[(String, (Int, Int, Int, Int))],
                      eventWindow: (String, String), eventBands: Seq[String],
                      probeIds: Seq[Long])

/** Seeded generator of the lake the program reads: the same table names and
  * column types as the testdata lake (`documents`, `embeddings`, `events`,
  * `lineitem`), each written as one parquet file. The same seed gives the
  * same rows. */
object Inputs {

  private val vocab: Array[String] = (
    "data table scan join key value row column batch stream window sort " +
    "group filter merge query part order line customer spark fast slow big " +
    "small vector hash index shard model train score tree forest cell grid " +
    "band pixel time series cube raster layer tile map zone field sensor " +
    "image cloud river forest crop soil water urban road coast mountain " +
    "season summer winter spring autumn signal noise pattern trend sample " +
    "metric count ratio share level rate peak mean median range scale").split(" ")

  private val stop: Map[String, Array[String]] = graft.functions.TextFunctions
    .langStopwords.filter(_._1 != "zh").map { case (l, w) => l -> w.toArray }.toMap
  private val langs = Array("en", "en", "en", "de", "es", "fr")

  def plan(seed: Long, size: Size): Plan = {
    val r = new Random(seed * 7919 + 17)
    // Extents and windows have a fixed size at a seeded position, so the
    // seed moves the inputs without changing how much work they make.
    val x0 = r.nextInt(12); val y0 = r.nextInt(12)
    val x1 = x0 + 52; val y1 = y0 + 52
    val mx = x0 + 16 + r.nextInt(20)
    val zones = Seq("west" -> (x0, mx, y0, y1), "east" -> (mx, x1, y0, y1))
    val d0 = 2 + r.nextInt(6); val d1 = d0 + 18
    val bands = r.shuffle(Seq("click", "view", "purchase", "signup", "error")).take(2)
    Plan(seed,
      dupShare = 0.15 + 0.10 * r.nextDouble(),
      gridExtent = (x0, x1, y0, y1), zones = zones,
      eventWindow = (f"2024-01-$d0%02d", f"2024-01-$d1%02d"),
      eventBands = bands.sorted,
      probeIds = Seq.fill(size.probes)(r.nextInt(size.vectors).toLong))
  }

  private def words(r: Random, lang: String, n: Int): Array[String] = {
    val sw = stop(lang)
    Array.fill(n) {
      if (r.nextDouble() < 0.3) sw(r.nextInt(sw.length))
      else vocab(math.min(vocab.length - 1,
        (math.abs(r.nextGaussian()) * vocab.length / 2.5).toInt))
    }
  }

  /** documents: originals plus a seeded share of near copies (one or two
    * words replaced) of earlier documents under fresh ids. */
  def documents(spark: SparkSession, seed: Long, size: Size, p: Plan): DataFrame = {
    import spark.implicits._
    val r = new Random(seed * 31 + 1)
    val texts = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String)]
    val nDup = math.round(size.docs * p.dupShare).toInt
    (0 until size.docs).foreach { i =>
      val lang = langs(r.nextInt(langs.length))
      val n = size.minWords + r.nextInt(size.maxWords - size.minWords + 1)
      val w = words(r, lang, n)
      if (r.nextDouble() < 0.1) w(r.nextInt(n)) = "#tag"
      if (r.nextDouble() < 0.1) w(n - 1) = w(n - 1) + "..."
      texts += ((i.toLong, w.mkString(" "), lang, s"src${r.nextInt(8)}"))
    }
    (0 until nDup).foreach { j =>
      val (_, t, lang, src) = texts(r.nextInt(size.docs))
      val w = t.split(" ")
      (0 until 1 + r.nextInt(2)).foreach(_ => w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.length)))
      texts += (((size.docs + j).toLong, w.mkString(" "), lang, src))
    }
    texts.toSeq.map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** embeddings: 16 Gaussian clusters in 64 dims, label = cluster mod 10. */
  def embeddings(spark: SparkSession, seed: Long, size: Size): DataFrame = {
    import spark.implicits._
    val r = new Random(seed * 131 + 3)
    val centers = Array.fill(16, 64)(r.nextGaussian().toFloat * 0.3f)
    (0 until size.vectors).map { i =>
      val c = r.nextInt(16)
      val v = Array.tabulate(64)(d => centers(c)(d) + r.nextGaussian().toFloat * 0.12f)
      (i.toLong, v.toSeq, c % 10)
    }.toDF("vec_id", "embedding", "label")
  }

  /** events: one month of timestamped values, five event types. */
  def events(spark: SparkSession, seed: Long, size: Size): DataFrame = {
    import spark.implicits._
    val r = new Random(seed * 977 + 5)
    val types = Array("click", "view", "purchase", "signup", "error")
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val span = 30L * 86400L * 1000L
    val ts = Array.fill(size.events)((r.nextDouble() * span).toLong).sorted
    ts.indices.map { i =>
      (i.toLong, new Timestamp(t0 + ts(i)), r.nextInt(100).toLong,
        types(r.nextInt(types.length)), math.round(r.nextDouble() * 2000) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** lineitem: the columns of the TPC-H table the grid collection reads,
    * plus the rest of its schema. */
  def lineitem(spark: SparkSession, seed: Long, size: Size): DataFrame = {
    import spark.implicits._
    val r = new Random(seed * 4099 + 7)
    val flags = Array("A", "N", "R")
    val t0 = Timestamp.valueOf("1995-01-01 00:00:00").getTime
    (0 until size.lineitems).map { i =>
      (i.toLong / 4, r.nextInt(4096).toLong, r.nextInt(512).toLong, i % 4 + 1,
        (1 + r.nextInt(50)).toDouble, math.round(r.nextDouble() * 1e6) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, flags(r.nextInt(3)),
        if (r.nextBoolean()) "O" else "F",
        new Timestamp(t0 + r.nextInt(2000) * 86400000L))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate")
  }

  /** Write the named tables of the lake under `dir`, one file per table. */
  def stage(spark: SparkSession, dir: String, tables: Seq[String], seed: Long, size: Size,
            p: Plan): Unit = tables.foreach { name =>
    val df = name match {
      case "documents" => documents(spark, seed, size, p)
      case "embeddings" => embeddings(spark, seed, size)
      case "events" => events(spark, seed, size)
      case "lineitem" => lineitem(spark, seed, size)
    }
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
  }
}
