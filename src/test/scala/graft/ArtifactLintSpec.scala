package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Artifact lint: nothing adds a jar, file or archive to a session.
  *
  * `GraftSession.builder` turns Spark's session artifact isolation off, so
  * that every session and every streaming query runs its tasks under one
  * executor class loader and shares one codegen cache ([[CodegenReuseSpec]]).
  * Isolation only separates the artifacts a session adds; that is safe to
  * give up while the engine adds none. A call to `addArtifact`, `addJar`,
  * `addFile` or `addArchive`, or an `ADD JAR`/`ADD FILE`/`ADD ARCHIVE`
  * statement, would make one session's artifact every session's. The scan
  * is source text, read only, over the engine (`src/main/scala`) and the
  * pipeline benchmark's harness (`pipebench/src`), in the shape of
  * [[EnvKnobLintSpec]]'s. A first test pins the other half of the
  * premise: the sessions the factory builds have isolation off.
  */
class ArtifactLintSpec extends SparkSpec {
  private val roots = Seq("src/main/scala", "pipebench/src")
  private val artifactCall = """\b(addArtifacts?|addJar|addFile|addArchive)\s*\(""".r
  // an ADD statement opens a string literal: `sql("ADD JAR …")`, `s"""add file …`
  private val addStatement = """(?i)"\s*add\s+(jars?|files?|archives?)\b""".r

  private def scalaFiles(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("the session factory turns artifact isolation off, for children too") {
    val key = "spark.sql.artifact.isolation.enabled"
    assert(spark.conf.get(key) == "false")
    assert(GraftSession.child(spark).conf.get(key) == "false")
  }

  test("nothing adds a session artifact") {
    roots.foreach(r => assert(Files.isDirectory(Paths.get(r)), s"missing $r"))
    val offenders = roots.flatMap(r => scalaFiles(Paths.get(r))).flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if artifactCall.findFirstIn(line).isDefined ||
            addStatement.findFirstIn(line).isDefined =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty,
      "session artifacts would be shared by every session " +
        "(artifact isolation is off in GraftSession.builder):\n" +
        offenders.mkString("\n"))
  }

  test("the patterns catch each way of adding an artifact") {
    Seq("spark.addArtifact(path)", "sc.addJar (jar)", "sc.addFile(f, true)",
      "sc.addArchive(a)", "session.addArtifacts(uris: _*)").foreach { l =>
      assert(artifactCall.findFirstIn(l).isDefined, l)
    }
    Seq("""spark.sql("ADD JAR /x.jar")""", """sql(s"add files $dir")""",
      "spark.sql(\"\"\"  ADD ARCHIVE a.zip\"\"\")").foreach { l =>
      assert(addStatement.findFirstIn(l).isDefined, l)
    }
    Seq("// add files to the topic", "appendLines(lines)", "addFileSink").foreach { l =>
      assert(artifactCall.findFirstIn(l).isEmpty && addStatement.findFirstIn(l).isEmpty, l)
    }
  }
}
