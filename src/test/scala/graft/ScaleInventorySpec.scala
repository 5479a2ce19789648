package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical enforcement of SCALE.md's contract: every driver-side
  * `.collect()` and every unpartitioned window (`Window.orderBy` with no
  * partitionBy) in main sources carries ONE trailing `// SCALE:<id>`
  * anchor, and every id has exactly one budget row in SCALE.md's
  * inventory tables naming its file. Ids instead of line numbers: a site
  * keeps its id when code above it moves. A new undocumented site is a
  * scale regression (it has no reviewed budget); a row with no live site
  * is inventory rot — either way the build fails instead of relying on a
  * review convention.
  */
class ScaleInventorySpec extends AnyFunSuite {

  private val repo = new java.io.File(".").getCanonicalFile
  private val mainSrc = new java.io.File(repo, "src/main/scala").toPath

  private lazy val scaleMd: String = {
    val f = new java.io.File(repo, "SCALE.md")
    assert(f.isFile, "SCALE.md must sit next to the build")
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
  }

  private val Patterns = Seq(".collect()", "Window.orderBy")
  private val Anchor = """// SCALE:([a-z0-9-]+)""".r
  private val RowId = """SCALE:([a-z0-9-]+)""".r
  private val RowFile = """`([A-Za-z0-9_/]+\.scala)`""".r

  /** (id, files named in its row) for every id in a SCALE.md table row;
    * an id listed twice appears twice. */
  private lazy val rows: Seq[(String, Seq[String])] =
    scaleMd.split("\n").toSeq.filter(_.startsWith("|")).flatMap { row =>
      val files = RowFile.findAllMatchIn(row).map(_.group(1)).toSeq
      RowId.findAllMatchIn(row).map(m => (m.group(1), files))
    }

  /** One main-source line that holds a construct or an anchor. */
  private final case class Line(file: String, no: Int, text: String) {
    def anchors: Seq[String] = Anchor.findAllMatchIn(text).map(_.group(1)).toSeq
    /** The construct, in code before the first anchor (not in a comment). */
    def construct: Boolean = {
      val code = Anchor.findFirstMatchIn(text).fold(text)(m => text.take(m.start))
      !code.trim.startsWith("//") && Patterns.exists(code.contains)
    }
    def at: String = s"$file:$no"
  }

  private lazy val lines: Seq[Line] = {
    val stream = java.nio.file.Files.walk(mainSrc)
    try {
      stream.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val rel = mainSrc.relativize(p).toString
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (ln, i) if Patterns.exists(ln.contains) || ln.contains("// SCALE:") =>
              Line(rel, i + 1, ln)
          }
        }
        .toSeq
    } finally stream.close()
  }

  /** SCALE.md names files without the `graft/` package root. EXACT
    * equality, not endsWith — a suffix match would let a same-suffix file
    * (`foo/sub/dedup/Dedup.scala`) satisfy a `dedup/Dedup.scala` row. */
  private def sameFile(rel: String, documented: String): Boolean =
    rel == documented || rel == s"graft/$documented"

  private lazy val anchored: Seq[(String, Line)] =
    lines.flatMap(l => l.anchors.map(_ -> l))

  /** Every `pattern` site carries exactly one anchor whose id has a
    * SCALE.md row naming the site's file. */
  private def assertInventoried(pattern: String, what: String): Unit = {
    val sites = lines.filter(l => l.construct && l.text.contains(pattern))
    assert(sites.nonEmpty, s"expected at least one $what site")
    val rowFiles = rows.toMap
    val missing = sites.filterNot(l => l.anchors match {
      case Seq(id) => rowFiles.get(id).exists(_.exists(sameFile(l.file, _)))
      case _       => false
    })
    assert(missing.isEmpty,
      s"$what sites NOT in SCALE.md's inventory (need exactly one " +
        "`// SCALE:<id>` anchor whose id has a row naming the file; a new " +
        "site is a scale regression until it has a reviewed budget row): " +
        missing.map(l => s"${l.at} ${l.anchors.mkString(",")}").mkString("; "))
  }

  test("every driver-side collect() in main sources is inventoried") {
    assertInventoried(".collect()", "collect()")
  }

  test("every unpartitioned window in main sources is inventoried") {
    assertInventoried("Window.orderBy", "unpartitioned-window")
  }

  test("SCALE.md inventory lines are current: each still carries its " +
       "construct") {
    val stray = lines.filter(l => l.anchors.nonEmpty && !l.construct)
    assert(stray.isEmpty,
      "anchors on lines that carry no collect()/Window.orderBy (rot): " +
        stray.map(l => s"${l.at} '${l.text.trim}'").mkString(", "))
    val noRow = anchored.filterNot { case (id, _) => rows.exists(_._1 == id) }
    assert(noRow.isEmpty, "anchor ids with no SCALE.md row: " +
      noRow.map { case (id, l) => s"$id (${l.at})" }.mkString(", "))
    val dead = rows.map(_._1).toSet -- anchored.map(_._1)
    assert(dead.isEmpty,
      s"SCALE.md rows whose id has no live site (rot): ${dead.mkString(", ")}")
    val lineRefs = """[A-Za-z0-9_/]+\.scala:\d+""".r.findAllIn(scaleMd).toSeq
    assert(lineRefs.isEmpty,
      s"SCALE.md cites sites by anchor id, not file:line: ${lineRefs.mkString(", ")}")
  }

  test("each SCALE id is anchored once and listed once") {
    val dupSites = anchored.groupBy(_._1).collect {
      case (id, ls) if ls.size > 1 => s"$id at ${ls.map(_._2.at).mkString(", ")}"
    }
    val dupRows = rows.groupBy(_._1).collect { case (id, rs) if rs.size > 1 => id }
    assert(dupSites.isEmpty && dupRows.isEmpty,
      s"duplicate ids: anchored twice [${dupSites.mkString("; ")}], " +
        s"listed twice in SCALE.md [${dupRows.mkString(", ")}]")
  }
}
