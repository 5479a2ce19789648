package graft.core

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter,
  GroupReadSupport}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelationWithTable, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetReadSupport, ParquetToSparkSchemaConverter,
  SparkToParquetSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  IntegerType, StructType}

/** Readers for the driver-generated testdata lake (TESTDATA.md).
  *
  * Plain parquet scans: column pruning and predicate pushdown happen in the
  * callers' plans (verified via `PushedFilters` in explain output). At
  * cluster scale these paths would be a partitioned table; nothing here
  * assumes single-file inputs.
  */
object Tables {

  /** Id offset for synthetic twin corpora (dedup fixtures union a mutated
    * copy of every document/vector under `id + TwinShift`; the cluster
    * fixture adds a second copy at `id + TwinShift2`). 10⁹ leaves ~7
    * orders of magnitude of headroom over any replica corpus this harness
    * will see (the r13 ceiling was 10⁵, which a 20× docs replica already
    * touched); ids are int64 everywhere, and DuckDB's BIGINT addition
    * takes the same literal, so both engines shift identically.
    * Every twin builder still asserts max(id) < TwinShift — growth past
    * the ceiling must fail loudly, never silently corrupt the corpora. */
  val TwinShift: Long = 1000000000L
  val TwinShift2: Long = 2 * TwinShift

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** The one parquet reader of graft: `spark.read.parquet(paths)` with the
    * data schema taken from ONE footer read on the driver, so a read runs
    * no Spark job. Without a schema, `spark.read.parquet` runs a job to read
    * one footer (Spark's non-merging inference touches one file too), a
    * fixed cost paid by every lake, index, sidecar and fixture read.
    *
    * The footer is the first data file found under the paths in order: a
    * path that is a file, else the first file by name below it, skipping
    * `_`- and `.`-prefixed names and descending into `k=v` partition dirs.
    * The schema follows Spark's own rule: the Spark row-metadata JSON when
    * the footer carries it, else the footer schema through the session's
    * converter (so `nanosAsLong` and friends apply). Partition columns
    * still come from Spark's path inference. Paths with no data file (a
    * missing path, an empty dir, a glob) go to `spark.read.parquet`, so the
    * caller gets Spark's own error or inference. */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    paths.iterator.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      try firstDataFile(fs, fs.getFileStatus(path))
      catch { case _: java.io.FileNotFoundException => None }
    }.nextOption() match {
      case Some(f) =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        val meta = try reader.getFooter.getFileMetaData finally reader.close()
        val schema = Option(meta.getKeyValueMetaData
            .get(ParquetReadSupport.SPARK_METADATA_KEY))
          .map(DataType.fromJson(_).asInstanceOf[StructType])
          .getOrElse(new ParquetToSparkSchemaConverter(
            spark.sessionState.conf).convert(meta.getSchema))
        spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** Write a sidecar — a few rows of index metadata (centroids, codebooks,
    * a bucket count) — as ONE parquet file under `dir`, replacing what was
    * there, on the driver through parquet-hadoop: no Spark job. The file
    * has the parquet schema Spark's writer derives from `schema` and
    * carries `schema` in its footer like a Spark-written file, so
    * [[parquet]] and `spark.read.parquet` read it as before. Columns are
    * non-null ints, doubles or arrays of them. */
  def writeSidecar(spark: SparkSession, dir: String, schema: StructType,
                   rows: Seq[Row]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val d = new Path(dir)
    d.getFileSystem(conf).delete(d, true)
    val message = new SparkToParquetSchemaConverter().convert(schema)
    val groups = new SimpleGroupFactory(message)
    val out = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(d, SidecarFile), conf))
      .withConf(conf).withType(message)
      .withExtraMetaData(
        Map(ParquetReadSupport.SPARK_METADATA_KEY -> schema.json).asJava)
      .build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      schema.fields.indices.foreach(i =>
        put(g, schema(i).name, schema(i).dataType, r.get(i)))
      out.write(g)
    } finally out.close()
  }

  /** The rows of a sidecar dir under `schema`, read on the driver through
    * parquet-hadoop (no Spark job): the read half of [[writeSidecar]].
    * Arrays come back as `Seq`s. */
  def readSidecar(spark: SparkSession, dir: String,
                  schema: StructType): Seq[Row] = {
    val in = ParquetReader.builder(new GroupReadSupport(),
      new Path(dir, SidecarFile)).withConf(spark.sessionState.newHadoopConf())
      .build()
    try Iterator.continually(in.read()).takeWhile(_ != null)
      .map(g => Row.fromSeq(schema.fields.toSeq.map(c =>
        get(g, c.name, c.dataType))))
      .toVector
    finally in.close()
  }

  private val SidecarFile = "part-00000.parquet"

  /** One sidecar value into `g`, in the standard three-level LIST layout
    * (`list` / `element`) for arrays, as Spark writes them. */
  private def put(g: Group, name: String, t: DataType, v: Any): Unit =
    (t, v) match {
      case (IntegerType, i: Int) => g.append(name, i)
      case (DoubleType, x: Double) => g.append(name, x)
      case (ArrayType(et, _), xs: scala.collection.Seq[_]) =>
        val list = g.addGroup(name)
        xs.foreach(x => put(list.addGroup("list"), "element", et, x))
      case _ => throw new IllegalArgumentException(
        s"sidecar column $name: cannot write $v as $t")
    }

  private def get(g: Group, name: String, t: DataType): Any = t match {
    case IntegerType => g.getInteger(name, 0)
    case DoubleType => g.getDouble(name, 0)
    case ArrayType(et, _) =>
      val list = g.getGroup(name, 0)
      Vector.tabulate(list.getFieldRepetitionCount("list"))(i =>
        get(list.getGroup("list", i), "element", et))
    case _ => throw new IllegalArgumentException(
      s"sidecar column $name: cannot read $t")
  }

  private def firstDataFile(fs: FileSystem,
                            st: FileStatus): Option[FileStatus] =
    if (st.isFile) Some(st)
    else fs.listStatus(st.getPath).sortBy(_.getPath.getName).iterator
      .filterNot { c =>
        val n = c.getPath.getName
        n.startsWith("_") || n.startsWith(".") ||
          (c.isDirectory && !n.contains("="))
      }
      .flatMap(firstDataFile(fs, _)).nextOption()

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")
  /** events.parquet stores `ts` as TIMESTAMP(NANOS), which Spark has no
    * native type for. Sessions set spark.sql.legacy.parquet.nanosAsLong, and
    * this reader converts the nano count to a microsecond TimestampType with
    * integer division (a double intermediate would lose precision at 1e18).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    // Defensive: a driver-owned session may not carry this conf, and without
    // it the TIMESTAMP(NANOS) column throws before our Long fallback can run.
    // It is a runtime SQLConf, so setting it at read time is safe.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(s, d, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    else if (raw.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampNTZType)
      // parquet written without isAdjustedToUTC reads as TIMESTAMP_NTZ,
      // which watermarks, unix_micros and the Timestamp encoders reject —
      // normalize to TimestampType at the reader (session TZ is pinned
      // UTC, so the wall-clock interpretation matches the DuckDB oracle's
      // naive read exactly, and downstream code keeps ONE timestamp type)
      raw.withColumn("ts", col("ts").cast("timestamp"))
    else raw
  }
  /** events with a [from, to) time filter applied to the RAW nanosecond
    * column before the timestamp conversion. Predicates on the converted
    * `timestamp_micros(ts DIV 1000)` expression cannot reach the parquet
    * scan (only IsNotNull pushes); a plain Long comparison pushes as a
    * row-group min/max filter — at 100 TB this is the difference between
    * scanning a day and scanning the lake. Mirrors openEO semantics, where
    * the temporal extent belongs to load_collection itself.
    */
  def eventsRanged(s: SparkSession, d: String, from: String, to: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(s, d, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType) {
      // Nano bounds derived IN the session timezone (same interpretation as
      // filterTemporal and the oracle); the expression is foldable, so
      // constant folding turns it into a literal that still pushes to the
      // parquet scan. JVM-default-TZ parsing here would shift the selected
      // row range whenever session TZ != host TZ.
      def ns(t: String): Column =
        unix_micros(lit(t).cast("timestamp")) * lit(1000L)
      raw.filter(col("ts") >= ns(from) && col("ts") < ns(to))
        .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    } else {
      // NTZ storage: compare against NTZ literals so the predicate stays on
      // the raw column (pushable to the scan) and only THEN normalize the
      // type — a cast on the column side would block row-group pruning.
      val ntz = raw.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampNTZType
      val tt = if (ntz) "timestamp_ntz" else "timestamp"
      raw.filter(col("ts") >= lit(from).cast(tt) &&
          col("ts") < lit(to).cast(tt))
        .withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  /** Estimated scan-split count of `df`'s leaf files, mirroring Spark's
    * packing rule (each file charged its size plus one open cost, bins of
    * maxPartitionBytes). The files are the ones `df.inputFiles` names, de-
    * duplicated by path like it. Over-estimating is safe here: the floor
    * then skips a repartition that large inputs do not need anyway. */
  private def estScanSplits(df: DataFrame): Long = {
    val conf = df.sparkSession.sessionState.conf
    val maxSplit = math.max(1L, conf.filesMaxPartitionBytes)
    val lens = df.queryExecution.optimizedPlan.collect {
      case LogicalRelationWithTable(r: HadoopFsRelation, _) => r.location
    }.flatMap {
      case i: PartitioningAwareFileIndex => i.allFiles()
      case i => i.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus))
    }.map(f => f.getPath.toUri.toString -> f.getLen).toMap
    val cost = lens.values.map(_ + conf.filesOpenCostInBytes).sum
    math.max(1L, (cost + maxSplit - 1) / maxSplit)
  }

  /** Scan-parallelism floor for CPU-dense per-row pipelines (tokenize →
    * shingle → md5 chains cost orders of magnitude more CPU per byte than
    * the scan itself). A parquet scan parallelizes at row-group
    * granularity, so a source written as one file with one row group —
    * this harness's testdata lake, or any small dimension snapshot — runs
    * its entire downstream map work in ONE task no matter how many cores
    * the cluster has; no split-size config can recover parallelism that
    * the file layout does not carry (guide §6: minPartitionNum floors the
    * SPLIT count, not the row-group count).
    *
    * When (and only when) the scan's file layout caps parallelism below
    * the session's default parallelism, redistribute round-robin to the
    * core count before the expensive map work. The repartition shuffles
    * the raw rows once — O(input) bytes, the cheapest possible exchange —
    * and is a provable no-op at lake scale, where any real table already
    * carries ≥ cores splits and this returns `df` unchanged; it is
    * therefore a floor, not a local-mode tuning constant. Row order
    * within partitions changes, which every operator in this repo is
    * already pinned to tolerate (partition-count invariance is bitwise-
    * verified per round at two core counts and two scale factors).
    *
    * The decision reads the FILE LAYOUT of the plan's scans (leaf file
    * sizes vs `spark.sql.files.maxPartitionBytes`), never `df.rdd` — the
    * r14 probe materialized an RDD lineage per query build (a fixed
    * driver tax on every sub-second query) and threw on streaming plans.
    * The sizes are the `FileStatus`es the plan's file indexes already
    * listed, so the decision costs no FS call and has no cache of its own
    * that could outlive a rewritten file or keep an IO failure as a 0-byte
    * file. Streaming inputs pass through untouched: micro-batch
    * parallelism is the source's concern, and a static floor computed at
    * plan-build time would be meaningless there. Apply it ONLY on paths
    * whose downstream work is CPU-dense; for a cheap map or a tiny
    * aggregation the exchange is pure cost (the r14 lesson: a blanket
    * floor taxed ~180 sub-second queries and broke the map-only plan
    * pins). */
  def fanOut(df: DataFrame): DataFrame = {
    if (df.isStreaming) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (estScanSplits(df) >= target) df else df.repartition(target)
    }
  }
}
