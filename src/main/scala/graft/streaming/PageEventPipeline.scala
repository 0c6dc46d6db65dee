package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.model.{PageEvent, PageEventCodec}
import graft.operators.PageViews
import graft.sources.{FileTopic, Generator, Topics}

/** The full reference topology over emulated topics (SURVEY.md §3):
  *
  *   /publish -> T1 -> console consumer                  (entry point A)
  *   supplier -> T2 -> filter/window/count job -> T4     (entry point B)
  *   T4 changelog -> Analytics snapshot -> /analytics    (entry point C)
  *
  * Each stage is an independent StreamingQuery, like each Kafka Streams
  * binder function is an independent runtime; `trigger` defaults mirror the
  * reference's cadences (200 ms supplier poll, 1 s commit interval —
  * application.properties:22,29).
  */
final class PageEventPipeline(spark: SparkSession, root: String,
                              watermark: String = "10 seconds") {
  import graft.model.PageEvent.wireSchema

  val t1: FileTopic = new FileTopic(Topics.T1, wireSchema, root)
  val t2: FileTopic = new FileTopic(Topics.T2, wireSchema, root)
  // T4 wire: (name String, window_start Long, cnt Long) — the reference emits
  // (String, Long) after the window-unwrap map (PageEventHandler.java:57);
  // we retain window_start so the Analytics snapshot can be rebuilt from the
  // topic after a restart (SURVEY.md §7.4.2).
  val t4: FileTopic = new FileTopic(Topics.T4,
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("window_start", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cnt", org.apache.spark.sql.types.LongType))),
    root)

  val analytics = new Analytics(keyCol = "name")

  /** Entry point A ingest: one event to a named topic. */
  def publish(name: String, topic: FileTopic = t1): PageEvent =
    Generator.publish(spark, topic, name)

  /** Entry point A consumer: console printer with the reference's
    * `************` framing (PageEventHandler.java:27-33).
    */
  def startConsole(checkpoint: String): StreamingQuery =
    PageEventPipeline.start(spark, s"$checkpoint/console") {
      PageEventCodec.fromWire(t1.stream(spark))
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.collect().foreach { r =>
            println("************************")
            println(r.mkString(", "))
            println("************************")
          }
        }
    }

  /** Entry point B source: the timed supplier feeding T2. */
  def startSupplier(checkpoint: String, rowsPerSecond: Int = 5): StreamingQuery =
    PageEventPipeline.start(spark, s"$checkpoint/supplier") {
      Generator.supplier(spark, rowsPerSecond)
        .writeStream
        .trigger(Trigger.ProcessingTime("200 milliseconds"))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          t2.sinkBatch(PageEventCodec.toWire(batch), id)
        }
    }

  /** The streaming count over a PageEvent stream — exactly
    * PageViews.pageCounts with an event-time watermark in front of the
    * aggregation. The reference's legacy ~24 h grace is replaced by an
    * explicit finite watermark (default 10 s) so state is evicted
    * (SURVEY.md §2.3 / §7.4.3 — final counts identical for in-order data).
    */
  def countsStream(events: DataFrame): DataFrame =
    PageViews.unwrapWindow(
      PageViews.windowedCounts(
        PageViews.rekey(PageViews.filterValid(events, "duration"), "name", "date")
          .withWatermark("date", watermark),
        "date", "name"),
      "name")

  /** Entry point B job: T2 -> filter -> 5 s window count -> T4 + analytics.
    * Update output mode = the KTable changelog (SURVEY.md §2.1 #10); each
    * micro-batch's refinements go to the T4 topic and the snapshot store.
    *
    * The count's collect is the micro-batch's only Spark job: it brings the
    * batch's refinements (at most pages x live windows rows) to the
    * driver, and both sinks are fed from those rows on the stream thread.
    * Sink, then serve: T4 is written first, on the driver, as one
    * JSON-lines file per batch ([[FileTopic.sinkLines]], the bytes
    * `df.write.json` writes), and only then is the snapshot store
    * updated, so the store never serves a refinement T4 lacks. A `stop()`
    * that aborts the T4 write aborts a batch the store has not served; a
    * crash between the write and the update re-runs the uncommitted batch
    * on restart, where the write is skipped (its marker exists), the
    * upsert is idempotent, and `restoreAnalytics` rebuilds the same store
    * from T4.
    *
    * A fresh job keeps [[PageEventPipeline.StatePartitions]] state
    * partitions, whatever the session's shuffle fan-out; a restart keeps
    * the count its checkpoint recorded.
    */
  def startJob(checkpoint: String): StreamingQuery =
    PageEventPipeline.start(spark, s"$checkpoint/job",
        "spark.sql.shuffle.partitions" -> PageEventPipeline.StatePartitions.toString) {
      countsStream(PageEventCodec.fromWire(t2.stream(spark)))
        .writeStream
        .outputMode("update")
        .trigger(Trigger.ProcessingTime("1 second"))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val rows = batch.select(col("name"), col("window_start"), col("cnt"))
            .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          t4.sinkLines(rows.map { case (n, w, c) => PageEventCodec.countLine(n, w, c) },
            id, spark)
          analytics.upsert(rows)
        }
    }

  /** Entry point C serving: the reference's HTTP surface (SSE /analytics,
    * /publish, live chart page) over this pipeline's analytics store.
    * port 0 = ephemeral (see AnalyticsServer.boundPort). `/publish`
    * writes to T1 or T2 (T1 when the request names no topic) and refuses
    * any other topic with a 400 that names the two.
    */
  def startServer(port: Int = 0): AnalyticsServer = {
    val topics = Map(Topics.T1 -> t1, Topics.T2 -> t2)
    new AnalyticsServer(analytics,
      (name, topic) => publish(name, topics.getOrElse(topic,
        throw new IllegalArgumentException(s"unknown topic '$topic'; " +
          s"known topics: ${topics.keys.toSeq.sorted.mkString(", ")}"))),
      port = port).start()
  }

  /** Rebuild the analytics snapshot from the T4 changelog (restart path):
    * last write per (name, window) wins, exactly like replaying the
    * reference's changelog topic into a fresh store.
    */
  def restoreAnalytics(): Unit = {
    analytics.clear()
    // counts only ever grow, so max == latest refinement (and is
    // deterministic, unlike last() over an unordered group)
    val latest = t4.batch(spark)
      .groupBy(col("name"), col("window_start"))
      .agg(max(col("cnt")).as("cnt"))
    analytics.update(latest, -1L)
  }
}

object PageEventPipeline {
  /** State partitions of a fresh live job: one state store and one reduce
    * task per micro-batch, like the reference's single-partition T2 keeps
    * one window store. One is enough because partial aggregation runs
    * map-side at the scan's parallelism: the work that grows with the
    * event rate never reaches the stateful stage, which sees only
    * (page, window) keys.
    */
  private[graft] val StatePartitions = 1

  /** Starts a pipeline query on `checkpoint` with `conf` in force for its
    * whole life, and leaves the session's conf as it was. A local
    * (`file:`) checkpoint also gets [[NioCheckpointFileManager]], whose
    * hard-link publish lets exactly one of several writers racing to a
    * batch id win; other schemes keep Spark's default manager, which the
    * graft manager refuses to stand in for.
    *
    * The values only need to hold during `start()`: the query's
    * `StreamExecution` clones the session's SQL conf when it is built
    * there. The session lock keeps two concurrent starts from saving and
    * restoring each other's values; a key unset before is unset again.
    */
  private def start(spark: SparkSession, checkpoint: String,
                    conf: (String, String)*)(
      writer: DataStreamWriter[_]): StreamingQuery = {
    val path = new org.apache.hadoop.fs.Path(checkpoint)
    val scheme = Option(path.toUri.getScheme).getOrElse(
      org.apache.hadoop.fs.FileSystem
        .getDefaultUri(spark.sparkContext.hadoopConfiguration).getScheme)
    val manager =
      if (scheme == "file")
        Seq("spark.sql.streaming.checkpointFileManagerClass" ->
          classOf[NioCheckpointFileManager].getName)
      else Nil
    val scoped = conf ++ manager
    spark.synchronized {
      val before = spark.conf.getAll
      scoped.foreach { case (k, v) => spark.conf.set(k, v) }
      try writer.option("checkpointLocation", checkpoint).start()
      finally scoped.foreach { case (k, _) =>
        before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
  }
}
