package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, MetadataBuilder, TimestampType}

import graft.core.{Fixtures, Tables}
import graft.sim.{Ann, InvertedIndex}

/** [[Tables.parquet]] reads the schema `spark.read.parquet` infers, from
  * one driver-side footer read and with no Spark job, on every layout
  * graft reads: the testdata lake, Spark-written dirs, partitioned index
  * layouts with appended files and sidecars. */
class ParquetReadSpec extends SparkSpec {

  /** `body`'s value and the number of Spark jobs it started. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val (a, jobs) = jobsRun(body)
    (a, jobs.size)
  }

  /** Same schema as Spark's inference, with 0 jobs against its ≥ 1. */
  private def assertSameSchema(path: String): Unit = {
    val (inferred, inferJobs) = jobsOf(spark.read.parquet(path).schema)
    val (read, readJobs) = jobsOf(Tables.parquet(spark, path).schema)
    assert(read == inferred, s"$path: schema differs")
    assert(readJobs == 0, s"$path: Tables.parquet started $readJobs jobs")
    assert(inferJobs >= 1,
      s"$path: the job counter saw no job for spark.read.parquet")
  }

  private def subdirs(path: String): Seq[String] =
    new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getPath).sorted.toSeq

  test("every lake table of every testdata scale factor") {
    val lakes = new java.io.File(sfDir).getParentFile.listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("sf")).sortBy(_.getName)
    val tables = lakes.flatMap(_.listFiles()
      .filter(_.getName.endsWith(".parquet"))).map(_.getPath).sorted
    assert(tables.length >= 10, s"no lake tables found next to $sfDir")
    tables.foreach(assertSameSchema)
  }

  test("events and eventsRanged keep ts a timestamp and start no job") {
    val (ev, evJobs) = jobsOf(Tables.events(spark, sfDir))
    val (rng, rngJobs) = jobsOf(Tables.eventsRanged(spark, sfDir,
      "2024-01-01", "2024-02-01"))
    assert(ev.schema("ts").dataType == TimestampType)
    assert(rng.schema("ts").dataType == TimestampType)
    assert(rng.schema == ev.schema)
    assert(evJobs == 0 && rngJobs == 0,
      s"events started $evJobs jobs, eventsRanged $rngJobs")
  }

  test("a Spark-written directory with _SUCCESS and field metadata") {
    val out = Fixtures.dir("parquet_read_success")
    val tagged = new MetadataBuilder().putString("comment", "tagged").build()
    spark.range(20).select(col("id"),
        col("id").cast("int").as("i", tagged),
        struct(col("id").as("a"), array(col("id")).as("b")).as("s"),
        map(col("id"), lit("v")).as("m"),
        col("id").cast("decimal(12,3)").as("d"),
        current_timestamp().as("t"))
      .repartition(3).write.mode("overwrite").parquet(out)
    assert(new java.io.File(out, "_SUCCESS").exists())
    assertSameSchema(out)
    assert(Tables.parquet(spark, out).schema("i").metadata == tagged)
  }

  test("an IVF-PQ layout after add and delete: every sidecar, and the " +
       "partition column cell") {
    val emb = Tables.embeddings(spark, sfDir)
    val path = Fixtures.dir("parquet_read_ivfpq")
    Ann.ivfPqBuild(emb.filter(col("vec_id") % 2 === 0), path,
      nlist = 8, m = 4, ksub = 16, dims = 64)
    Ann.ivfPqAdd(emb.filter(col("vec_id") % 2 === 1), path)
    Ann.ivfDelete(spark, path, emb.filter(col("vec_id") < 5))
    val dirs = subdirs(path)
    assert(Seq("centroids", "codebooks", "data", "tombstones")
      .forall(n => dirs.exists(_.endsWith("/" + n))), dirs.mkString(", "))
    dirs.foreach(assertSameSchema)
    val data = Tables.parquet(spark, s"$path/data").schema
    assert(data.fieldNames.last == "cell" &&
      data("cell").dataType == IntegerType, data.treeString)
  }

  test("an InvertedIndex layout after add") {
    val docs = Tables.documents(spark, sfDir)
    val path = Fixtures.dir("parquet_read_inv")
    InvertedIndex.build(docs.filter(col("doc_id") % 2 === 0), path,
      nBuckets = 8)
    InvertedIndex.add(docs.filter(col("doc_id") % 2 === 1), path)
    val dirs = subdirs(path)
    assert(Seq("doclens", "meta", "postings", "stats")
      .forall(n => dirs.exists(_.endsWith("/" + n))), dirs.mkString(", "))
    dirs.foreach(assertSameSchema)
  }

  test("a missing path fails like spark.read.parquet") {
    val missing = Fixtures.dir("parquet_read_missing") + "/absent"
    def failure(read: => DataFrame): Class[_] =
      intercept[Exception](read).getClass
    assert(failure(Tables.parquet(spark, missing)) ==
      failure(spark.read.parquet(missing)))
  }
}
