package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every build-once fixture takes its dirs, its cache and its stream drain
  * from [[graft.core.Fixtures]]. Hand-rolled copies leaked their temp dirs
  * and could build a fixture twice, so a new one anywhere fails the build:
  * `Fixtures` is the one place in src/main that creates a temp dir. The
  * specs take their scratch dirs and files from `Fixtures.dir` too, so a
  * test run leaves nothing in `java.io.tmpdir`. */
class TempDirSpec extends AnyFunSuite {

  private val repo = new java.io.File(".").getCanonicalFile.toPath

  /** `file:line` of every non-comment line under `dir` holding `token`. */
  private def sites(dir: String, token: String): Seq[String] = {
    val stream = java.nio.file.Files.walk(repo.resolve(dir))
    try stream.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (ln, i) if ln.contains(token) &&
              !ln.trim.startsWith("//") && !ln.trim.startsWith("*") =>
            s"${repo.relativize(p)}:${i + 1}"
        }
      }.toList
    finally stream.close()
  }

  test("src/main creates temp dirs only in Fixtures") {
    val allowed = "src/main/scala/graft/core/Fixtures.scala:"
    val found = sites("src/main", "createTemp" + "Directory")
    assert(found.exists(_.startsWith(allowed)),
      s"expected a temp dir call in $allowed")
    val stray = found.filterNot(_.startsWith(allowed))
    assert(stray.isEmpty,
      s"temp dirs outside Fixtures.dir: ${stray.mkString(", ")}")
  }

  test("src/test creates temp dirs and files only through Fixtures.dir") {
    val stray = Seq("Directory", "File").flatMap { kind =>
      sites("src/test", "createTemp" + kind)
    }
    assert(stray.isEmpty,
      s"temp dirs or files outside Fixtures.dir: ${stray.mkString(", ")}")
  }

  test("graft/queries holds no cache or stream drain of its own") {
    val stray = Seq("TrieMap", "ConcurrentHashMap", "AtomicReference",
      "processAllAvailable").flatMap { t =>
      sites("src/main/scala/graft/queries", t).map(s => s"$s ($t)")
    }
    assert(stray.isEmpty,
      s"use Fixtures.once / Fixtures.drain instead: ${stray.mkString(", ")}")
  }
}
