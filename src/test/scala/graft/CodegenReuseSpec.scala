package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.metrics.source.CodegenMetrics

import graft.model.{PageEvent, PageEventCodec}
import graft.streaming.PageEventPipeline

/** One executor class loader for every session, so a new streaming query
  * reuses the code an earlier query generated.
  *
  * Spark's codegen cache is keyed by the task's context class loader plus
  * the generated source. With session artifact isolation on (Spark's
  * default) each session, and each streaming query's session clone, ran
  * its tasks under its own executor loader, so every new query compiled
  * its plan's classes again. `GraftSession.builder` turns isolation off.
  *
  * The compile count is `CodegenMetrics.METRIC_COMPILATION_TIME`, a
  * JVM-wide histogram: this spec relies on suites running one at a time
  * in the forked test JVM, so no other suite compiles while it measures.
  */
class CodegenReuseSpec extends SparkSpec {

  test("a Dataset job runs under the same executor class loader in the session and in a child") {
    def taskLoader(s: org.apache.spark.sql.SparkSession): ClassLoader = {
      CodegenReuseSpec.loaders.clear()
      val record: Iterator[java.lang.Long] => Unit =
        _ => CodegenReuseSpec.loaders.add(Thread.currentThread.getContextClassLoader)
      s.range(0, 1, 1, 1).foreachPartition(record)
      assert(CodegenReuseSpec.loaders.size == 1)
      CodegenReuseSpec.loaders.peek()
    }
    val top = taskLoader(spark)
    val child = taskLoader(GraftSession.child(spark))
    assert(top eq child, s"session task loader $top, child task loader $child")
  }

  test("a second startJob over the same wire file compiles nothing") {
    // event times no other suite uses, so the first job's watermark
    // literals are new to the codegen cache and it must compile them
    val lines = Seq(("P1", 0L), ("P2", 1200L), ("P1", 4100L), ("P3", 9900L)).map {
      case (name, at) => PageEventCodec.wireLine(
        PageEvent(name, "U1", new java.sql.Timestamp(7777000000L + at), 300L))
    }
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def drain(): (Long, Map[String, Long]) = {
      val p = new PageEventPipeline(spark, tmpDir("topics"))
      p.t2.appendLines(lines, spark)
      val before = compiles()
      val job = p.startJob(tmpDir("ckpt"))
      try job.processAllAvailable() finally job.stop()
      assert(job.exception.isEmpty, s"job failed: ${job.exception}")
      (compiles() - before, p.analytics.snapshot(7777000L))
    }

    val (first, counts1) = drain()
    assert(counts1 == Map("P1" -> 2L, "P2" -> 1L), s"first job served $counts1")
    assert(first > 0, "the first job compiled nothing: the counter sees no compile")
    // a fresh root and checkpoint: a new query, the same generated
    // sources; the count spans its whole drain, first data batch included
    val (second, counts2) = drain()
    assert(counts2 == counts1)
    assert(second == 0, s"the second job compiled $second classes (the first $first)")
  }
}

object CodegenReuseSpec {
  private val loaders = new ConcurrentLinkedQueue[ClassLoader]()
}
