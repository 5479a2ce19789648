package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.Battery.{jobj, jstr, r3, timed}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Battery.session()
    try run(spark, sfDir, outDir, Battery.picked(Battery.only))
    finally spark.stop()
  }

  /** Dump each of `queries` to `<outDir>/<key>`, then verify_times.json and
    * oracle_sql.json. A key's old directory is deleted before the key is
    * built: `mode("overwrite")` only runs once the build succeeded, so a
    * key whose builder throws would otherwise leave an earlier run's
    * parquet for the hash gate to compare. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          queries: Map[String, Battery.Query]): Unit = {
    new java.io.File(outDir).mkdirs()
    // Per-query wall + loadavg samples land in verify_times.json so runs
    // that already execute the whole battery (the invariance legs run it
    // twice per sf) double as free timing measurements. These are
    // VERIFY-leg numbers — they include the repartition(1) parquet write
    // and run without Bench's warmup/best-of-N machinery — so they rank
    // and diff queries across legs; Bench stays the official wall-clock.
    val (runs, total) = timed(queries.toSeq.map { case (name, fn) =>
      System.err.println(s"[verify] $name")
      val dir = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(dir, true)
      // repartition(1), NOT coalesce(1): coalesce collapses every map-only
      // query's entire compute into a single task (no shuffle boundary
      // upstream), which turns the heavier per-doc text/dedup expressions
      // into one-core stragglers at larger SF. The explicit shuffle keeps
      // compute on all cores and still lands one file per query dir.
      Battery.timeKey(spark, sfDir, "verify", name, fn)(
        _.repartition(1).write.mode("overwrite").parquet(dir.toString))
    })
    val loads = runs.map(_.load).filter(_ >= 0)
    Files.writeString(Paths.get(s"$outDir/verify_times.json"),
      s"""{"kind":"verify_leg","total":${r3(total)},""" +
        s""""cpus":"${spark.sparkContext.defaultParallelism}",""" +
        s""""sf":${jstr(sfDir)},"loadavg_mean":${
          r3(if (loads.nonEmpty) loads.sum / loads.size else -1)},""" +
        s""""queries":${jobj(runs.map(r => r.key -> r.wall))}}""")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
