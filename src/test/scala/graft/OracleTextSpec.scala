package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the text of every DuckDB oracle: one committed `key sha256` row
  * per entry of [[SparkEntry.oracleSql]] (UTF-8 bytes, lowercase hex).
  * The oracle is the check the hash gate trusts, so a refactor of the
  * code that renders it must leave every byte in place. Pure source
  * level, no Spark session. A deliberate oracle change updates its row
  * in the same change: the failure message prints the new rows.
  */
class OracleTextSpec extends AnyFunSuite {

  private val pinFile =
    new java.io.File("src/test/resources/graft/oracle_text.sha256")

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("every oracle's text matches its pinned sha256 row") {
    assert(pinFile.isFile, s"missing $pinFile")
    val rows = java.nio.file.Files.readAllLines(pinFile.toPath).asScala
      .map(_.trim).filter(_.nonEmpty).map(_.split("\\s+")).toSeq
    assert(rows.forall(_.length == 2), "rows are `key sha256`")
    val dupes = rows.groupBy(_(0)).collect { case (k, rs) if rs.size > 1 => k }
    val pinned = rows.map(r => r(0) -> r(1)).toMap
    val live = SparkEntry.oracleSql.map { case (k, sql) => k -> sha256(sql) }
    val changed = live.filter { case (k, h) => pinned.get(k).exists(_ != h) }
    val unpinned = live.filter { case (k, _) => !pinned.contains(k) }
    val dead = pinned.keySet -- live.keySet
    def show(m: Iterable[(String, String)]) =
      m.toSeq.sorted.map { case (k, h) => s"  $k $h" }.mkString("\n")
    if (changed.nonEmpty || unpinned.nonEmpty || dead.nonEmpty || dupes.nonEmpty)
      fail(s"oracle text drifted from $pinFile\n" +
        s"changed (new rows):\n${show(changed)}\n" +
        s"keys with no row (new rows):\n${show(unpinned)}\n" +
        s"rows with no key: ${dead.toSeq.sorted.mkString(", ")}\n" +
        s"duplicate rows: ${dupes.toSeq.sorted.mkString(", ")}")
  }
}
