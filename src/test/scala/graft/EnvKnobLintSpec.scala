package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Env-knob lint: the engine reads environment variables only where a
  * run is configured.
  *
  * `SparkEntry` (the `SPARK_GRAFT_ONLY` filter), `Verify` and `Bench`
  * (cores and scale directories) are those places. An env read anywhere
  * else is a hidden switch that changes what the library does without a
  * trace in its API or its conf. The scan is source text, read only, over
  * `src/main/scala`, in the shape of [[SessionFactoryLintSpec]]'s.
  */
class EnvKnobLintSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val entryPoints = Set("SparkEntry.scala", "Verify.scala", "Bench.scala")
    .map(n => root.resolve("graft").resolve(n))
  private val envRead = """\bsys\s*\.\s*env\b|\bSystem\s*\.\s*getenv\b""".r

  private def scalaFiles(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("only SparkEntry, Verify and Bench read environment variables") {
    assert(Files.isDirectory(root), s"missing $root")
    val files = scalaFiles(root)
    entryPoints.foreach(f => assert(files.contains(f), s"$f not scanned"))
    val offenders = files.filterNot(entryPoints).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if envRead.findFirstIn(line).isDefined =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty,
      "read the environment only in SparkEntry, Verify or Bench:\n" +
        offenders.mkString("\n"))
  }
}
