package graft

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.streaming.ReplayHarness

/** The replay harness's teardown contract: whatever a replay body does,
  * its temp root is deleted, every query it started is stopped, and no
  * memory-sink view outlives the call. Each test runs on its own parent
  * session, so the cached replay child it inspects is not shared with
  * replays running elsewhere in the suite.
  */
class ReplayHarnessSpec extends SparkSpec {
  private val wire = StructType(Seq(
    StructField("id", LongType), StructField("date", LongType)))

  private def memoryViews(child: SparkSession): Seq[String] =
    child.sql("SHOW TABLES").collect().map(_.getAs[String]("tableName"))
      .toSeq.filter(_.startsWith("stream_"))

  test("a finished replay leaves no root, no active stream, no memory view") {
    val parent = spark.newSession()
    var root: java.nio.file.Path = null
    var child: SparkSession = null
    val got = ReplayHarness(parent, partitions = 8) { r =>
      root = r.root
      child = r.child
      val in = r.topic("in", wire)
      val q = r.memory("stream_harness", "append") {
        in.stream(r.child).select(col("id"))
      }
      in.append(parent.range(0, 10).select(col("id"), col("id").as("date")))
      r.drain(q)
      assert(Files.isDirectory(root.resolve("_ckpt").resolve("stream_harness")),
        "checkpoints live under root/_ckpt/<query>")
      r.snapshot(r.table(q))
    }
    assert(got.count() == 10)
    assert(!Files.exists(root), s"replay root $root survived the call")
    assert(child.streams.active.isEmpty)
    assert(memoryViews(child).isEmpty)
  }

  test("a MemoryStream replay keeps one query across drains, then drops its view") {
    val parent = spark.newSession()
    var child: SparkSession = null
    val got = ReplayHarness(parent, partitions = 8) { r =>
      child = r.child
      import r.child.implicits._
      val input = MemoryStream[Long](r.child)
      val q = r.memory("stream_harness_counts", "complete") {
        input.toDF().groupBy((col("value") % 3).as("k")).count()
      }
      r.run(q) { pump =>
        Seq(1L to 5L, 6L to 9L).foreach { chunk =>
          input.addData(chunk)
          pump()
        }
      }
      r.snapshot(r.table(q))
    }
    assert(got.collect().map(_.getLong(1)).sum == 9)
    assert(child.streams.active.isEmpty)
    assert(memoryViews(child).isEmpty,
      s"memory sink views leaked: ${memoryViews(child)}")
  }

  test("a body that throws mid-schedule still removes the root and stops") {
    val parent = spark.newSession()
    var root: java.nio.file.Path = null
    var child: SparkSession = null
    val e = intercept[IllegalStateException] {
      ReplayHarness(parent, partitions = 8) { r =>
        root = r.root
        child = r.child
        val in = r.topic("in", wire)
        val out = r.topic("out", wire)
        val q = r.query("copy", "append", out)(in.stream(r.child))
        r.run(q) { pump =>
          in.append(parent.range(0, 5).select(col("id"), col("id").as("date")))
          pump()
          assert(r.child.streams.active.nonEmpty)
          throw new IllegalStateException("mid-schedule failure")
        }
      }
    }
    assert(e.getMessage == "mid-schedule failure")
    assert(!Files.exists(root), s"replay root $root survived the failure")
    assert(child.streams.active.isEmpty)
  }

  test("a co-resident query that fails to start stops the one before it") {
    val parent = spark.newSession()
    var root: java.nio.file.Path = null
    var child: SparkSession = null
    intercept[AnalysisException] {
      ReplayHarness(parent, partitions = 8) { r =>
        root = r.root
        child = r.child
        val in = r.topic("in", wire)
        val out = r.topic("out", wire)
        val first = r.query("first", "append", out)(in.stream(r.child))
        val broken = r.query("broken", "append", out) {
          in.stream(r.child).select(col("no_such_column"))
        }
        try r.drain(first, broken)
        finally assert(r.child.streams.active.isEmpty,
          "the first query kept running after the second failed to start")
      }
    }
    assert(!Files.exists(root))
    assert(child.streams.active.isEmpty)
  }
}
