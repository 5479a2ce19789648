package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session of the mains and the specs comes from
  * [[Battery.session]]. Hand-copied builders drifted before (UTC pinned in
  * some, different thread defaults, a private AQE knob), so a second
  * builder call anywhere under src/main or src/test fails the build. */
class SessionFactorySpec extends AnyFunSuite {

  private val repo = new java.io.File(".").getCanonicalFile.toPath
  // split in two so this file's own source does not match
  private val Call = "SparkSession" + ".builder()"

  test("src/main and src/test hold exactly one session builder call: " +
       "Battery's") {
    val sites = Seq("src/main", "src/test").flatMap { d =>
      val stream = java.nio.file.Files.walk(repo.resolve(d))
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") ||
          p.toString.endsWith(".java"))
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (ln, i) if ln.contains(Call) &&
                !ln.trim.startsWith("//") && !ln.trim.startsWith("*") =>
              s"${repo.relativize(p)}:${i + 1}"
          }
        }.toList
      finally stream.close()
    }
    assert(sites.size == 1 &&
      sites.head.startsWith("src/main/scala/graft/Battery.scala:"),
      s"session builder calls outside Battery.session: ${sites.mkString(", ")}")
  }
}
