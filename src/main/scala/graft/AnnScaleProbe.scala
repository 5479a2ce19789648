package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Battery.{r3, timed}
import graft.core.{Fixtures, Tables}
import graft.sim.Ann

/** The at-rest ANN scale-point harness (SCALE.md §5b): build the IVF-PQ
  * and residual-IVF-PQ layouts on a replica corpus at `Ann.nlistFor`-scaled
  * cells — NOT the gate fixtures' pinned nlist=16, which exists for oracle
  * determinism, but the cell count the 100 TB sizing rule would actually
  * pick for the corpus — then measure the probe path and PROVE the
  * pruning claim from the executed scan's own metrics (numFiles read vs
  * the layout's total; the partition IN-filter is the probes-read-
  * nProbe/nlist contract, the same check AnnSpec pins at fixture scale).
  *
  * Usage: tools/run_local.sh graft.AnnScaleProbe [sfDir]
  * (default .scale/sf2 — the 20x embeddings replica from
  * tools/make_sf2_emb.py), on `SPARK_GRAFT_CPUS` threads (default 4; the
  * SCALE.md table ran at 32). Prints one JSON line.
  */
object AnnScaleProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/.scale/sf2")
    val spark = Battery.session()
    try run(spark, sfDir) finally spark.stop()
  }

  private def run(spark: SparkSession, sfDir: String): Unit = {
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val nlist = Ann.nlistFor(n)
    val queries = emb.filter(col("vec_id") < 20) // the gate's qset shape
    System.err.println(s"[ann-scale] n=$n nlistFor=$nlist")

    def measure(tag: String, build: String => Unit,
                probe: String => org.apache.spark.sql.DataFrame): String = {
      val path = Fixtures.dir(s"annscale_$tag")
      val (_, buildS) = timed(build(path))
      // two timed probe passes (first pays JIT/codegen; report both)
      val (r1, p1) = timed(probe(path).count())
      val (_, p2) = timed(probe(path).count())
      // pruning proof from the EXECUTED scan's metrics, AnnSpec-style.
      // Execute pruned's OWN queryExecution (toRdd) — df.count() builds a
      // separate aggregate plan whose scan metrics this handle never sees.
      val pruned = Ann.probedScan(spark, path, queries, nProbe = 4)
      pruned.queryExecution.toRdd.count()
      val scan = pruned.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      require(scan.toString.contains("PartitionFilters: [cell"),
        s"cell IN-list must be a partition filter:\n$scan")
      val readFiles = scan.metrics("numFiles").value
      val cellsRead = scan.metrics.get("numPartitions").map(_.value)
      val totalFiles = Tables.parquet(spark, s"$path/data").inputFiles.length
      System.err.println(f"[ann-scale] $tag build $buildS%.1f s, " +
        f"probe $p1%.2f/$p2%.2f s ($r1 rows), " +
        f"cells ${cellsRead.getOrElse(-1L)}/$nlist, " +
        f"files $readFiles/$totalFiles")
      s""""$tag":{"build_s":${r3(buildS)},"probe1_s":${r3(p1)},""" +
        s""""probe2_s":${r3(p2)},"rows":$r1,""" +
        s""""cells_read":${cellsRead.getOrElse(-1L)},""" +
        s""""nlist":$nlist,"files_read":$readFiles,""" +
        s""""files_total":$totalFiles}"""
    }

    val pq = measure("ivfpq",
      p => Ann.ivfPqBuild(emb, p, nlist = nlist, m = 4, ksub = 16, dims = 64),
      p => Ann.ivfPqProbe(spark, p, queries, k = 5, nProbe = 4))
    val res = measure("ivfpq_residual",
      p => Ann.ivfPqResidualBuild(emb, p, nlist = nlist, m = 4, ksub = 16,
        dims = 64),
      p => Ann.ivfPqResidualProbe(spark, p, queries, k = 5, nProbe = 4))
    println(s"""{"n":$n,"sf":"$sfDir",$pq,$res}""")
  }
}
