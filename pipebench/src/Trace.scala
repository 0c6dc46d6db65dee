package pipebench

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A traced interval: name, layer, start, end (ms on [[Clock]]'s scale) and
  * the span that caused it (-1 for a root).
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      start: Double, end: Double)

final case class JobRec(id: Int, start: Double, var end: Double, batchId: Long,
                        execId: Long, callSite: String, publishTag: Boolean) {
  var cpuNs, runMs, gcMs, inBytes, shWrite, shRead, tasks = 0L
}

/** Spark-side recorder for the traced run, registered from the benchmark's
  * own code: a [[SparkListener]] for jobs and task metrics, and a
  * [[StreamingQueryListener]] for each micro-batch's progress.
  */
final class Tracer(spark: SparkSession) {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  /** SQL execution id -> physical plan text. */
  val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]
  // listener-bus times are epoch ms; map them onto the benchmark clock
  private val wallToClock = Clock.nowMs - System.currentTimeMillis()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).getOrElse(new java.util.Properties)
      val rec = JobRec(e.jobId, e.time + wallToClock, Double.NaN,
        Option(p.getProperty("streaming.sql.batchId")).map(_.toLong).getOrElse(-1L),
        Option(p.getProperty("spark.sql.execution.id")).map(_.toLong).getOrElse(-1L),
        Option(p.getProperty("callSite.short")).getOrElse(""),
        p.getProperty(Tracer.PublishTag) != null)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        plans.put(x.executionId, x.physicalPlanDescription.take(4000))
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time + wallToClock)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)));
           m <- Option(e.taskMetrics)) j.synchronized {
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.inBytes += m.inputMetrics.bytesRead
        j.shWrite += m.shuffleWriteMetrics.bytesWritten
        j.shRead += m.shuffleReadMetrics.totalBytesRead
        j.tasks += 1
      }
  }
  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(queryListener)

  /** Publish calls made through the traced `publishFn` wrapper. */
  val publishSpans = new ConcurrentLinkedQueue[(Double, Double)]

  /** Wraps the `publishFn` handed to `AnalyticsServer`: times each call and
    * tags the Spark jobs it runs.
    */
  def wrapPublish[A](f: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.PublishTag, "1")
    val t0 = Clock.nowMs
    try f finally {
      publishSpans.add((t0, Clock.nowMs))
      sc.setLocalProperty(Tracer.PublishTag, null)
    }
  }

  def close(): Unit = {
    spark.streams.removeListener(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  val PublishTag = "pipebench.publish"
  /** Micro-batch phases in the order `MicroBatchExecution` runs them. */
  val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")
}

final case class Batch(runId: UUID, id: Long, start: Double, dur: Map[String, Double],
                       rows: Long, p: StreamingQueryProgress) {
  def end: Double = start + dur.getOrElse("triggerExecution", 0.0)
  /** From trigger start to the end of `addBatch`, where Analytics updates. */
  def toVisible: Double =
    Tracer.Phases.takeWhile(_ != "commitOffsets").map(dur.getOrElse(_, 0.0)).sum
}

/** Turns one traced run's records into spans and per-layer metrics. */
final class TraceReport(tracer: Tracer, runIds: Set[UUID], from: Double, to: Double,
                        checkpointOf: UUID => String) {
  private val wallToClock = Clock.nowMs - System.currentTimeMillis()

  val batches: Seq[Batch] = tracer.progress.asScala.toSeq
    .filter(p => runIds.contains(p.runId))
    .map { p =>
      Batch(p.runId, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli + wallToClock,
        p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap,
        p.numInputRows, p)
    }
    .filter(b => b.start >= from - 1 && b.start <= to)
    .sortBy(_.start)
  val dataBatches: Seq[Batch] = batches.filter(_.rows > 0)

  private val jobs = tracer.jobList.filter(j => j.start >= from - 1 && j.start <= to)
  // a batch's jobs carry its id and start inside its trigger interval
  private def batchJobs(b: Batch) =
    jobs.filter(j => j.batchId == b.id && j.start >= b.start - 1 && j.start <= b.end + 1)
  // Every job of a micro-batch carries the query's start call site, so the
  // two foreachBatch sinks are told apart by their SQL plans: the T4
  // `sinkBatch` is a file write; the Analytics update collects the batch.
  private def site(j: JobRec): String =
    Option(tracer.plans.get(j.execId)) match {
      case Some(p) if p.contains("InsertIntoHadoopFsRelation") => "sink.t4"
      case Some(_)                                            => "sink.analytics"
      case None                                               => "sink.other"
    }

  /** Every span: one per micro-batch, its phases as children, the Spark
    * jobs of `addBatch` under it, and publish calls with their jobs.
    */
  lazy val spans: Seq[Span] = {
    val out = mutable.Buffer.empty[Span]
    def add(parent: Int, name: String, layer: String, s: Double, e: Double): Int = {
      out += Span(out.size, parent, name, layer, s, e); out.size - 1
    }
    batches.foreach { b =>
      val root = add(-1, s"batch ${b.runId.toString.take(8)}/${b.id}", "batch", b.start, b.end)
      var t = b.start
      Tracer.Phases.foreach { ph =>
        b.dur.get(ph).foreach { d =>
          val layer = ph match {
            case "latestOffset" | "getBatch" => "source"
            case "addBatch"                  => "foreach"
            case _                           => "batch"
          }
          val id = add(root, ph, layer, t, t + d)
          if (ph == "addBatch")
            batchJobs(b).foreach(j => add(id, s"job ${j.id} ${j.callSite}", site(j), j.start, j.end))
          t += d
        }
      }
    }
    tracer.publishSpans.asScala.filter(_._1 >= from).foreach { case (s, e) =>
      val id = add(-1, "publishFn", "ingest", s, e)
      jobs.filter(j => j.publishTag && j.start >= s && j.start <= e)
        .foreach(j => add(id, s"job ${j.id} ${j.callSite}", "ingest.jobs", j.start, j.end))
    }
    out.toSeq
  }

  /** Self time: a span's duration minus the part its children cover. */
  def selfMs(s: Span, kids: Seq[Span]): Double = {
    val iv = kids.map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.foreach { case (a, z) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = z
      } else curE = math.max(curE, z)
    }
    if (!curS.isNaN) covered += curE - curS
    (s.end - s.start) - covered
  }

  def selfByLayer: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => selfMs(s, kids.getOrElse(s.id, Nil))).sum
    }
  }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def phase(name: String): Double = med(dataBatches.map(_.dur.getOrElse(name, 0.0)))

  /** Wire files each data batch read, from the source's metadata log. */
  private def filesPerBatch: Seq[Double] = dataBatches.flatMap { b =>
    val f = new java.io.File(s"${checkpointOf(b.runId)}/sources/0/${b.id}")
    if (f.isFile) {
      val src = scala.io.Source.fromFile(f)
      try Some(src.getLines().count(_.startsWith("{")).toDouble) finally src.close()
    } else None
  }

  def metrics(events: Double): Map[String, Double] = {
    val wall = to - from
    // gaps between one batch's end and the next trigger of the same query
    val idle = batches.groupBy(_.runId).values.flatMap { bs =>
      bs.sliding(2).collect { case Seq(a, b) => math.max(0.0, b.start - a.end) }
    }.toSeq
    val perBatch = dataBatches.map { b =>
      val js = batchJobs(b)
      def sum(l: String) = js.filter(site(_) == l).map(j => j.end - j.start).sum
      (sum("sink.t4"), sum("sink.analytics"))
    }
    val mjobs = jobs.filter(_.batchId >= 0)
    val state = dataBatches.flatMap(_.p.stateOperators.headOption)
    val self = selfByLayer
    val nb = math.max(1, dataBatches.size).toDouble
    val kev = math.max(events, 1.0) / 1000.0
    Map(
      "source.latest_offset_ms" -> phase("latestOffset"),
      "source.get_batch_ms" -> phase("getBatch"),
      "source.files_per_batch" -> med(filesPerBatch),
      "source.rows_per_batch" -> med(dataBatches.map(_.rows.toDouble)),
      "batch.count" -> dataBatches.size.toDouble,
      "batch.trigger_ms" -> phase("triggerExecution"),
      "batch.planning_ms" -> phase("queryPlanning"),
      "batch.add_batch_ms" -> phase("addBatch"),
      "batch.wal_commit_ms" -> phase("walCommit"),
      "batch.commit_offsets_ms" -> phase("commitOffsets"),
      "batch.trigger_idle_ms" -> mean(idle),
      "batch.busy_frac" -> batches.map(b => b.end - b.start).sum / math.max(wall, 1.0),
      "sink.t4_job_ms" -> med(perBatch.map(_._1)),
      "sink.analytics_update_ms" -> med(perBatch.map(_._2)),
      "exec.cpu_ms" -> mjobs.map(_.cpuNs).sum / 1e6 / kev,
      "exec.busy_cores" -> mjobs.map(_.runMs).sum.toDouble / math.max(wall, 1.0),
      "exec.tasks" -> mjobs.map(_.tasks).sum / nb,
      "exec.input_bytes" -> mjobs.map(_.inBytes).sum / kev,
      "exec.shuffle_write_bytes" -> mjobs.map(_.shWrite).sum / kev,
      "exec.shuffle_read_bytes" -> mjobs.map(_.shRead).sum / kev,
      "exec.task_gc_ms" -> mjobs.map(_.gcMs).sum / kev,
      "state.rows_total" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.rows_updated" -> med(state.map(_.numRowsUpdated.toDouble)),
      "state.memory_bytes" -> state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "state.commit_ms" -> mean(state.map(_.commitTimeMs.toDouble)),
      "state.dropped_by_watermark" -> state.map(_.numRowsDroppedByWatermark.toDouble).sum,
      "ingest.spark_jobs_per_publish" ->
        jobs.count(_.publishTag).toDouble / math.max(1, spans.count(_.name == "publishFn")),
      "self.source_ms" -> self.getOrElse("source", 0.0) / nb,
      "self.batch_ms" -> self.getOrElse("batch", 0.0) / nb,
      "self.foreach_ms" -> self.getOrElse("foreach", 0.0) / nb,
      "self.sink_t4_ms" -> self.getOrElse("sink.t4", 0.0) / nb,
      "self.sink_analytics_ms" -> self.getOrElse("sink.analytics", 0.0) / nb,
    )
  }

  /** Splits each measured event's latency into the wait for the trigger
    * that picked it up, that batch's phases up to the Analytics update, and
    * half the probe period; returns the median of each part and of their
    * sum.
    */
  def explain(dues: Array[Double], ats: Array[Double], w: Array[Double],
              probePeriodMs: Double): Map[String, Double] = {
    val starts = dataBatches.map(_.start).toArray
    val parts = dues.indices.flatMap { i =>
      // the batch that made the event visible: the last to start before
      val k = java.util.Arrays.binarySearch(starts, ats(i))
      val j = (if (k >= 0) k else -k - 1) - 1
      if (j < 0) None
      else {
        val b = dataBatches(j)
        Some((b.start - dues(i), b.toVisible, w(i)))
      }
    }
    if (parts.isEmpty) Map.empty
    else {
      val wt = parts.map(_._3).toArray
      def wp(xs: Seq[Double]) = Stats.weightedPct(xs.toArray, wt, 50)
      val acc = parts.map(p => p._1 + p._2 + probePeriodMs / 2)
      Map(
        "explain.trigger_wait_ms" -> wp(parts.map(_._1)),
        "explain.batch_phases_ms" -> wp(parts.map(_._2)),
        "explain.probe_ms" -> probePeriodMs / 2,
        "explain.accounted_p50_ms" -> wp(acc))
    }
  }

  def spansJson: String = Json(spans.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
    "start" -> s.start, "end" -> s.end)))
}
