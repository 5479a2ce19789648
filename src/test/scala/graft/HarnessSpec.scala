package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.Battery.KeyRun
import graft.core.Fixtures

/** The shared driver harness (Battery) and the mains built on it. */
class HarnessSpec extends SparkSpec {

  test("session factory: local[cpus], shuffle partitions = cpus, UTC, " +
       "nanosAsLong, UI off, WARN") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel.toString
      == "WARN")
  }

  test("jstr round-trips quotes, backslashes and control characters " +
       "through a JSON parser") {
    val s = "say \"hi\" C:\\dir\nline\rcr\ttab\u0001soh"
    val lit = Battery.jstr(s)
    assert(!lit.exists(_ < ' '), s"raw control character left in $lit")
    assert(new ObjectMapper().readValue(lit, classOf[String]) == s)
  }

  test("GRAFT_ONLY parsing trims keys and drops empties") {
    assert(Battery.onlyKeys(" q1_agg, ,q3_join ,,") == Set("q1_agg", "q3_join"))
    assert(Battery.onlyKeys("").isEmpty)
    assert(Battery.picked(Some(Set("q1_agg", "no_such_key"))).keySet ==
      Set("q1_agg"))
  }

  test("bench ranks passes by failed keys first, then total wall") {
    def run(k: String, wall: Double, ok: Boolean) =
      KeyRun(k, 0.0, wall, 0.0, 0.0, -1.0, if (ok) Some(1L) else None)
    val clean = Seq(run("a", 5.0, ok = true), run("b", 5.0, ok = true))
    val fastFail = Seq(run("a", 5.0, ok = true), run("b", 0.1, ok = false))
    val faster = Seq(run("a", 1.0, ok = true), run("b", 1.0, ok = true))
    assert(Bench.bestPass(Seq(fastFail, clean)) eq clean)
    assert(Bench.bestPass(Seq(clean, fastFail, faster)) eq faster)
  }

  test("timeKey logs a throwing key as failed and keeps timing it") {
    val boom: Battery.Query = (_, _) => throw new IllegalStateException("x")
    val r = Battery.timeKey(spark, sfDir, "spec", "boom", boom)(_.count())
    assert(r.failed && r.build < 0 && r.wall >= 0)
    val ok = Battery.timeKey(spark, sfDir, "spec", "q1_agg",
      SparkEntry.queries("q1_agg"))(_.count())
    assert(ok.out.exists(_ > 0) && ok.build >= 0 && ok.wall >= ok.build)
  }

  test("Verify deletes a key's old output before building it") {
    val out = Paths.get(Fixtures.dir("verify_spec"))
    val stale = Files.createDirectories(out.resolve("boom"))
    Files.writeString(stale.resolve("part-00000.parquet"), "earlier run")
    try {
      val boom: Battery.Query = (_, _) =>
        throw new IllegalStateException("builder failed")
      Verify.run(spark, sfDir, out.toString,
        Map("boom" -> boom, "q1_agg" -> SparkEntry.queries("q1_agg")))
      assert(!Files.exists(stale),
        "a failed key must leave no parquet for the hash gate to compare")
      assert(spark.read.parquet(out.resolve("q1_agg").toString).count() > 0)
      assert(Files.exists(out.resolve("oracle_sql.json")))
      assert(Files.readString(out.resolve("verify_times.json"))
        .contains("\"boom\":"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
  }
}
