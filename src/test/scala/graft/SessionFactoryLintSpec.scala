package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Session-factory lint: `GraftSession.builder` is the only place a
  * `SparkSession` is configured from scratch.
  *
  * A second builder is a second, silently diverging configuration: the
  * `Verify`/`Bench` builders once skipped the spawn-free `file:`
  * registration ([[graft.io.NioLocalFileSystem]]), so the oracle
  * and bench lanes ran a different I/O path from the tests and the live
  * pipeline. Every other session extends `GraftSession.builder(cores)`,
  * calls `GraftSession.local`, or derives a child with
  * `GraftSession.child`. The scan is source text, read only: the engine
  * (`src/main/scala`), the specs and probes (`src/test/scala`) and the
  * pipeline benchmark's harness (`pipebench/src`).
  */
class SessionFactoryLintSpec extends AnyFunSuite {
  private val roots = Seq("src/main/scala", "src/test/scala", "pipebench/src")
  private val factory = Paths.get("src/main/scala/graft/GraftSession.scala")
  private val builderCall = """SparkSession\s*\.\s*builder\b""".r

  private def scalaFiles(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("only GraftSession.scala calls the SparkSession builder") {
    roots.foreach(r => assert(Files.isDirectory(Paths.get(r)), s"missing $r"))
    val files = roots.flatMap(r => scalaFiles(Paths.get(r)))
    assert(files.contains(factory), s"$factory not scanned")
    val offenders = files.filterNot(_ == factory).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if builderCall.findFirstIn(line).isDefined =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty,
      "build sessions through GraftSession.builder/local/child:\n" +
        offenders.mkString("\n"))
  }
}
