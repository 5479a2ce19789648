package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every parquet read under src/main goes through [[graft.core.Tables.parquet]],
  * which takes the schema from one driver-side footer read. A bare
  * `spark.read.parquet(path)` runs a Spark job to infer that schema, a
  * fixed cost on every request, so one anywhere else fails the build. A
  * reader chain that declares its schema (`.read.schema(s).parquet(…)`,
  * as the `DedupStreams` stores do) runs no such job and is allowed. */
class ParquetReadSiteSpec extends AnyFunSuite {

  private val repo = new java.io.File(".").getCanonicalFile.toPath
  private val Tables = "src/main/scala/graft/core/Tables.scala"

  /** One `.read…parquet(` reader chain: where it is and whether it
    * declares a schema. */
  private case class Site(file: String, line: Int, schema: Boolean)

  /** `.read`, then any `.name(args)` calls (args nest one paren deep),
    * then `.parquet(`; group 1 holds the calls in between. */
  private val Chain =
    """\.read((?:\s*\.\w+\((?:[^()]|\([^()]*\))*\))*)\s*\.parquet\(""".r

  private def chains(file: String, text: String): Seq[Site] =
    Chain.findAllMatchIn(text).map { m =>
      Site(file, text.substring(0, m.start).count(_ == '\n') + 1,
        m.group(1).contains(".schema("))
    }.toSeq

  /** Every reader chain under src/main, comment lines blanked. */
  private def sites(): Seq[Site] = {
    val stream = java.nio.file.Files.walk(repo.resolve("src/main"))
    try stream.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val text = java.nio.file.Files.readAllLines(p).asScala.map { ln =>
          val t = ln.trim
          if (t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) ""
          else ln
        }.mkString("\n")
        chains(repo.relativize(p).toString, text)
      }.toList
    finally stream.close()
  }

  /** The line span of `def parquet` in Tables.scala. */
  private def readerSpan(): Range = {
    val lines = java.nio.file.Files.readAllLines(repo.resolve(Tables)).asScala
    val from = lines.indexWhere(_.trim.startsWith("def parquet(")) + 1
    assert(from > 0, s"no def parquet in $Tables")
    val to = lines.indexWhere(_ == "  }", from) + 1
    from to to
  }

  test("src/main reads parquet only through Tables.parquet or with a " +
       "declared schema") {
    val span = readerSpan()
    val all = sites()
    val inReader = all.filter(s => s.file == Tables && span.contains(s.line))
    assert(inReader.exists(!_.schema) && inReader.exists(_.schema),
      s"expected the schema read and the fallback in Tables.parquet: $all")
    val stray = all.filterNot(s => s.schema || inReader.contains(s))
    assert(stray.isEmpty, "parquet reads that infer their schema with a " +
      "Spark job; use Tables.parquet: " +
      stray.map(s => s"${s.file}:${s.line}").mkString(", "))
  }
}
