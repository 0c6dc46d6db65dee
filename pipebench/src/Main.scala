package pipebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftSession
import graft.streaming.{AnalyticsServer, PageEventPipeline}

/** End-to-end benchmark of the live page-view topology:
  * producer or `/publish` -> T2 -> windowed count -> T4 + Analytics ->
  * `/analytics`, driven through `PageEventPipeline.startJob` and
  * `startServer` on `GraftSession.local()`.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <trace dir>
  *        [--break-expected]
  *
  * Prints one JSON line, last on stdout: correct / attempted / failed and the
  * end-to-end metrics (trace 0) or the per-layer metrics (trace 1).
  */
object Main {
  def main(argv: Array[String]): Unit = {
    if (argv.length < 6) {
      System.err.println("usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir> <trace dir> [--break-expected]")
      sys.exit(2)
    }
    val run = new Run(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1",
      Paths.get(argv(4)), Paths.get(argv(5)), argv.contains("--break-expected"))
    val line = try run.execute() catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.flush()
        Runtime.getRuntime.halt(1)
        ""
    }
    println(line)
    System.out.flush()
    // Spark and the HTTP server leave non-daemon pools behind; the result
    // is out, so end the JVM here
    Runtime.getRuntime.halt(0)
  }
}

final class Run(workload: String, seed: Long, seconds: Int, traced: Boolean,
                work: Path, traceDir: Path, breakExpected: Boolean) {
  import Run._

  private val gen = new EventGen(seed)
  private val failures = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
  private var attempted = 0L
  private val perLayer = mutable.LinkedHashMap.empty[String, Double]
  private val e2e = mutable.LinkedHashMap.empty[String, Double]
  private val gcWatch = new GcWatch

  require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")

  /** GraftSession.local() -> pipeline -> first committed micro-batch. The
    * warm-up file is what that first batch reads.
    */
  private def setupOnce(i: Int): Setup = {
    val t0 = Clock.nowMs
    val spark = GraftSession.local()
    val tSession = Clock.nowMs
    val root = work.resolve(s"setup-$i").toString
    val pipe = new PageEventPipeline(spark, root)
    val vis = new Visibility(pipe.analytics)
    val writer = new WireWriter(Paths.get(pipe.t2.asInstanceOf[graft.sources.FileTopic].dir))
    val now = System.currentTimeMillis()
    val warm = Seq.fill(WarmupEvents)(gen.event(now, 1000))
    warm.foreach(vis.expect(_, Double.NaN))
    writer.write(warm)
    val tq = Clock.nowMs
    val q = pipe.startJob(s"$root/ckpt")
    while (q.lastProgress == null || q.lastProgress.numInputRows == 0) {
      q.exception.foreach(e => throw e)
      Thread.sleep(1)
    }
    val t1 = Clock.nowMs
    Setup(spark, pipe, q, vis, writer, root, (t1 - t0) / 1000, (tSession - t0) / 1000, (t1 - tq) / 1000)
  }

  /** Several set-ups, each from a fresh session; all but the last are torn
    * down, and the last one carries the measured phase.
    */
  private def setups(): Setup = {
    val all = (1 to SetupRepeats).map { i =>
      val s = setupOnce(i)
      if (i < SetupRepeats) { s.q.stop(); s.spark.stop() }
      s
    }
    e2e("setup_s") = Stats.median(all.map(_.total))
    perLayer("setup.session_s") = Stats.median(all.map(_.session))
    perLayer("setup.first_batch_s") = Stats.median(all.map(_.firstBatch))
    all.last
  }

  /** Everything measured over one window of the run. */
  final class Window(benchThreads: => Seq[Long]) {
    private val tm = ManagementFactory.getThreadMXBean
    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    private def benchCpu = benchThreads.map(tm.getThreadCpuTime).filter(_ > 0).sum / 1e6
    private def jvm = {
      val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      Seq(gcs.map(_.getCollectionTime).sum.toDouble, gcs.map(_.getCollectionCount).sum.toDouble,
        ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
        ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble)
    }
    var cpuMs = 0.0
    var jvmDelta = Seq(0.0, 0.0, 0.0, 0.0)
    private var cpu0, bench0 = 0.0
    private var jvm0 = Seq.empty[Double]
    def open(): Unit = {
      gcWatch.measuring = true
      cpu0 = os.getProcessCpuTime / 1e6; bench0 = benchCpu; jvm0 = jvm
    }
    /** `endedCpuMs`: CPU of benchmark threads that finished inside the
      * window (a dead thread's CPU time can no longer be read).
      */
    def close(endedCpuMs: Double = 0.0): Unit = {
      cpuMs += (os.getProcessCpuTime / 1e6 - cpu0) - (benchCpu - bench0) - endedCpuMs
      jvmDelta = jvmDelta.zip(jvm.zip(jvm0).map { case (a, b) => a - b }).map { case (a, b) => a + b }
      gcWatch.measuring = false
    }
  }

  private def droppedByWatermark(q: StreamingQuery): Long =
    q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum

  private def t4Final(spark: SparkSession, pipe: PageEventPipeline): Map[(String, Long), Long] =
    pipe.t4.batch(spark).groupBy(col("name"), col("window_start"))
      .agg(max(col("cnt")).as("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap

  /** The correctness gate: T4 and Analytics against the generated events,
    * no row dropped by the watermark, every event visible. Warm-up drains
    * skip the T4 read, a Spark job that would lengthen every run.
    */
  private def gate(s: SparkSession, pipe: PageEventPipeline, q: StreamingQuery, vis: Visibility,
                   readT4: Boolean = true): Unit = {
    val (bad, sample) = Gate.check(vis.expected, pipe.analytics,
      if (readT4) Some(t4Final(s, pipe)) else None, if (breakExpected) 1L else 0L)
    failures("wrong_count_cells") += bad
    sample.foreach(m => System.err.println(s"[pipebench] gate: $m"))
    failures("dropped_by_watermark") += droppedByWatermark(q)
    failures("not_visible") += vis.pending
  }

  private val latencies = mutable.Buffer.empty[(Array[Double], Array[Double], Array[Double])]
  private def keepLatencies(vis: Visibility): Unit = vis.synchronized {
    latencies += ((vis.dueBuf.toArray, vis.atBuf.toArray, vis.weightBuf.toArray))
  }
  private def allLat: (Array[Double], Array[Double], Array[Double]) =
    (latencies.flatMap(_._1).toArray, latencies.flatMap(_._2).toArray, latencies.flatMap(_._3).toArray)

  private def tickDues(phases: Seq[Int], secs: Int): Seq[Double] = {
    val first = math.ceil((Clock.nowMs + 200) / 1000).toLong
    for (sec <- first until first + secs; ph <- phases) yield (sec * 1000 + ph).toDouble
  }

  def execute(): String = {
    Files.createDirectories(work)
    gcWatch.install()
    val s = setups()
    val tracer = if (traced) Some(new Tracer(s.spark)) else None
    val ingestMs = new DoubleBuf
    val ackMs = new DoubleBuf
    // lateness of the benchmark's own schedules: generator ticks or request
    // sends, and probe reads
    val genLate = mutable.Buffer.empty[Double]
    var events = 0.0
    var drainEps = Seq.empty[Double]
    var probeCpu = 0.0
    var sseAges = Seq.empty[Double]
    var sseFrames = 0.0
    var storeEntries = 0.0
    var endedCpu = 0.0
    val snapUs = mutable.Buffer.empty[Double]
    val runIds = mutable.Buffer.empty[UUID]
    val ckpts = mutable.Map.empty[UUID, String]
    var from, to = 0.0

    workload match {
      case "live_pipeline" | "publish_http" =>
        val live = workload == "live_pipeline"
        val vis = s.vis
        val probe = new Probe(vis, ProbeMs)
        val server = tracer match {
          case Some(t) if !live =>
            // the same wiring as startServer, with a timing wrapper
            val topics = Map("T1" -> s.pipe.t1, "T2" -> s.pipe.t2)
            new AnalyticsServer(s.pipe.analytics,
              (name, topic) => t.wrapPublish(s.pipe.publish(name, topics.getOrElse(topic, s.pipe.t1))),
              port = 0).start()
          case _ => s.pipe.startServer()
        }
        val sse = new SseReader(server.boundPort)
        runIds += s.q.runId
        ckpts(s.q.runId) = s"${s.root}/ckpt/job"
        // the same load runs unmeasured for the first WarmupSeconds, so the
        // JIT and the job's caches settle before the measured window
        val phases = if (live) LivePhases else PublishPhases
        val dues = tickDues(phases, WarmupSeconds + seconds)
        from = dues(phases.size * WarmupSeconds)
        val measured = dues.count(_ >= from)
        var loadThreads = Seq.empty[Long]
        val win = new Window(loadThreads ++ Seq(probe.threadId, sse.threadId))
        if (live) {
          val genThread = new Thread(() => {
            dues.foreach { due =>
              Clock.sleepUntil(due)
              val m = due >= from
              if (m) genLate += Clock.nowMs - due
              val evs = Seq.fill(LiveEventsPerTick)(gen.event(due.toLong, 2000))
              evs.foreach(vis.expect(_, if (m) due else Double.NaN))
              s.writer.write(evs)
              if (m) ackMs += Clock.nowMs - due
            }
            endedCpu = Clock.threadCpuMs
          }, "pipebench-generator")
          genThread.setDaemon(true)
          loadThreads = Seq(genThread.getId)
          genThread.start()
          Clock.sleepUntil(from - 1)
          win.open()
          genThread.join()
          events = measured * LiveEventsPerTick
          (1 until s.writer.writeMs.size).foreach(i => ingestMs += s.writer.writeMs(i))
        } else {
          val names = dues.map(_ => gen.page())
          val split = dues.indices.groupBy(_ % Connections).toSeq.sortBy(_._1).map(_._2)
          val pubs = split.zipWithIndex.map { case (idx, c) =>
            new Publisher(server.boundPort, idx.map(dues), idx.map(names), from, vis, s"pipebench-http-$c")
          }
          loadThreads = pubs.map(_.threadId)
          Clock.sleepUntil(from - 1)
          win.open()
          pubs.foreach(_.join())
          events = measured
          failures("http_failed") += pubs.map(_.failed).sum
          endedCpu = pubs.map(_.cpuMs).sum
          pubs.foreach { p =>
            (0 until p.ackMs.size).foreach(i => ackMs += p.ackMs(i))
            (0 until p.lateMs.size).foreach(i => genLate += p.lateMs(i))
          }
          tracer.foreach(_.publishSpans.asScala.foreach { case (a, b) => if (a >= from) ingestMs += b - a })
        }
        probe.awaitAllVisible(dues.last + VisibleDeadlineMs)
        to = if (vis.lastVisibleAt.isNaN) Clock.nowMs else vis.lastVisibleAt
        win.close(endedCpu)
        attempted += events.toLong
        storeEntries = s.pipe.analytics.size
        drainEps = Seq(events / ((to - from) / 1000))
        probe.stop(); sse.stop(); server.stop()
        probeCpu = probe.cpuMs
        genLate ++= probe.lateMs.toArray
        snapUs ++= vis.snapshotUs.toArray
        sseAges = sse.ageAfter(vis.atBuf.toArray).toSeq
        sseFrames = sse.frameAt.size
        failures("sse_malformed") += sse.malformed
        keepLatencies(vis)
        perLayer("cpu_ms_per_kevent") = win.cpuMs / math.max(events, 1) * 1000
        perLayer("jvm.gc_ms") = win.jvmDelta(0)
        perLayer("jvm.gc_count") = win.jvmDelta(1)
        perLayer("jvm.jit_ms") = win.jvmDelta(2)
        perLayer("jvm.classes_loaded") = win.jvmDelta(3)
        perLayer("gen.files") = if (live) s.writer.files - 1 else 0
        s.q.stop()
        gate(s.spark, s.pipe, s.q, vis)

      case "backlog_drain" =>
        s.q.stop()
        // the backlog: a fixed, seeded set of files whose event times span
        // under the 10 s watermark, so batch order can never drop a row
        val stage = new WireWriter(work.resolve("backlog"))
        val cells = mutable.Map.empty[(String, Long), Int].withDefaultValue(0)
        (1 to BacklogFiles).foreach { _ =>
          val evs = Seq.fill(BacklogEventsPerFile)(gen.event(BacklogBaseMs + BacklogSpanMs, BacklogSpanMs))
          evs.filter(_.counted).foreach(e => cells((e.name, e.windowStart)) += 1)
          stage.write(evs)
        }
        // staging has no schedule: each write is acknowledged when it returns
        (0 until stage.writeMs.size).foreach { i => ingestMs += stage.writeMs(i); ackMs += stage.writeMs(i) }
        val staged = Files.list(work.resolve("backlog")).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".json")).toSeq.sortBy(_.getFileName.toString)
        val backlog = BacklogFiles.toDouble * BacklogEventsPerFile
        var t0 = Clock.nowMs
        var i = 0
        val win = new Window(Nil)
        // the first drains are not measured: drain rates climb for several
        // million events while the JIT compiles the decode and aggregate paths
        while (i < WarmupDrains + MinDrains ||
               (Clock.nowMs - t0 < seconds * 1000.0 && i < WarmupDrains + MaxDrains)) {
          val warm = i < WarmupDrains
          val root = work.resolve(s"drain-$i").toString
          val pipe = new PageEventPipeline(s.spark, root)
          val t2 = Paths.get(pipe.t2.asInstanceOf[graft.sources.FileTopic].dir)
          staged.foreach(f => Files.createLink(t2.resolve(f.getFileName), f))
          val vis = new Visibility(pipe.analytics)
          val server = pipe.startServer()
          val sse = new SseReader(server.boundPort)
          val probe = new Probe(vis, ProbeMs)
          val win1 = new Window(Seq(probe.threadId, sse.threadId))
          if (!warm) win1.open()
          val start = Clock.nowMs
          cells.foreach { case ((p, ws), n) => vis.expectMany(p, ws, n, start) }
          val q = pipe.startJob(s"$root/ckpt")
          if (i == WarmupDrains) from = start
          probe.awaitAllVisible(start + VisibleDeadlineMs * 4)
          val end = if (vis.lastVisibleAt.isNaN) Clock.nowMs else vis.lastVisibleAt
          if (!warm) win1.close()
          probe.stop(); sse.stop(); server.stop()
          val eps = backlog / ((end - start) / 1000)
          System.err.println(f"[pipebench] drain $i: ${end - start}%.0f ms, $eps%.0f events/s")
          if (!warm) {
            to = end
            win.cpuMs += win1.cpuMs
            win.jvmDelta = win.jvmDelta.zip(win1.jvmDelta).map { case (a, b) => a + b }
            drainEps :+= eps
            events += backlog
            attempted += backlog.toLong
            probeCpu += probe.cpuMs
            genLate ++= probe.lateMs.toArray
            snapUs ++= vis.snapshotUs.toArray
            sseAges ++= sse.ageAfter(vis.atBuf.toArray)
            sseFrames += sse.frameAt.size
            keepLatencies(vis)
            storeEntries = pipe.analytics.size
            runIds += q.runId
            ckpts(q.runId) = s"$root/ckpt/job"
          }
          failures("sse_malformed") += sse.malformed
          q.stop()
          gate(s.spark, pipe, q, vis, readT4 = !warm)
          if (i == WarmupDrains - 1) t0 = Clock.nowMs
          i += 1
        }
        perLayer("cpu_ms_per_kevent") = win.cpuMs / events * 1000
        perLayer("jvm.gc_ms") = win.jvmDelta(0)
        perLayer("jvm.gc_count") = win.jvmDelta(1)
        perLayer("jvm.jit_ms") = win.jvmDelta(2)
        perLayer("jvm.classes_loaded") = win.jvmDelta(3)
        perLayer("gen.files") = stage.files
    }

    val (dues, ats, ws) = allLat
    val lat = dues.indices.map(i => ats(i) - dues(i)).toArray
    e2e("visible_p50_ms") = Stats.weightedPct(lat, ws, 50)
    e2e("visible_p90_ms") = Stats.weightedPct(lat, ws, 90)
    e2e("drain_eps") = Stats.median(drainEps)
    e2e("heap_peak_mb") = gcWatch.peakMb
    val e2eOut = EndToEnd.map(k => k -> e2e(k))

    val failed = failures.values.sum
    val metrics: Seq[(String, Double)] =
      if (!traced) e2eOut
      else {
        val t = tracer.get
        val rep = new TraceReport(t, runIds.toSet, from, to, ckpts)
        perLayer ++= rep.metrics(events)
        perLayer ++= rep.explain(dues, ats, ws, ProbeMs)
        perLayer("explain.accounted_ratio") =
          perLayer.getOrElse("explain.accounted_p50_ms", Double.NaN) / e2e("visible_p50_ms")
        perLayer("serve.snapshot_us_p50") = Stats.pct(snapUs.toArray, 50)
        perLayer("serve.snapshot_us_p99") = Stats.pct(snapUs.toArray, 99)
        perLayer("serve.store_entries") = storeEntries
        perLayer("serve.sse_frame_age_ms") = Stats.pct(sseAges.toArray, 50)
        perLayer("serve.sse_frames") = sseFrames
        perLayer("ingest.ack_ms_p50") = Stats.pct(ackMs.toArray, 50)
        perLayer("ingest.ack_ms_p99") = Stats.pct(ackMs.toArray, 99)
        perLayer("ingest.publish_ms_p50") = Stats.pct(ingestMs.toArray, 50)
        perLayer("ingest.publish_ms_p99") = Stats.pct(ingestMs.toArray, 99)
        perLayer("gen.late_p99_ms") = Stats.pct(genLate.toArray, 99)
        perLayer("probe.cpu_ms") = probeCpu
        perLayer("probe.visible_samples") = ws.sum
        e2eOut.foreach { case (k, v) => perLayer(s"traced.$k") = v }
        Files.createDirectories(traceDir)
        Files.writeString(traceDir.resolve(s"$workload-seed$seed.json"), rep.spansJson)
        t.close()
        PerLayer.map(k => k -> perLayer.getOrElse(k, Double.NaN))
      }
    if (genLate.size > 0 && Stats.pct(genLate.toArray, 99) > GenBehindMs)
      System.err.println(f"[pipebench] generator fell behind: p99 lateness ${Stats.pct(genLate.toArray, 99)}%.1f ms")
    failures.filter(_._2 > 0).foreach { case (k, v) => System.err.println(s"[pipebench] failed $k: $v") }

    Json(mutable.LinkedHashMap(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, v) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> Units(k)) }: _*)))
  }
}

object Run {
  final case class Setup(spark: SparkSession, pipe: PageEventPipeline, q: StreamingQuery,
                         vis: Visibility, writer: WireWriter, root: String,
                         total: Double, session: Double, firstBatch: Double)

  val Workloads = Seq("live_pipeline", "backlog_drain", "publish_http")
  val SetupRepeats = 3
  val WarmupEvents = 200
  val ProbeMs = 5.0
  val VisibleDeadlineMs = 15000.0
  val GenBehindMs = 50.0
  /** Tick phases within each wall-clock second. The 1 s trigger fires on
    * epoch-second boundaries, so anchoring the ticks keeps each event's wait
    * for the trigger the same from run to run; an odd count keeps the median
    * inside one phase's group.
    */
  val LivePhases = Seq(100, 250, 400, 550, 700)
  val LiveEventsPerTick = 20
  val PublishPhases = (100 to 500 by 100)
  val Connections = 2
  val BacklogFiles = 160
  val BacklogEventsPerFile = 4000
  val BacklogBaseMs = 1750000000000L
  val BacklogSpanMs = 8000
  val WarmupSeconds = 2
  val WarmupDrains = 2
  val MinDrains = 3
  val MaxDrains = 12

  val EndToEnd: Seq[String] =
    Seq("setup_s", "visible_p50_ms", "visible_p90_ms", "drain_eps", "heap_peak_mb")

  val PerLayer: Seq[String] = Seq(
    "cpu_ms_per_kevent",
    "source.latest_offset_ms", "source.get_batch_ms", "source.files_per_batch", "source.rows_per_batch",
    "batch.count", "batch.trigger_ms", "batch.planning_ms", "batch.add_batch_ms",
    "batch.wal_commit_ms", "batch.commit_offsets_ms", "batch.trigger_idle_ms", "batch.busy_frac",
    "sink.t4_job_ms", "sink.analytics_update_ms",
    "exec.cpu_ms", "exec.busy_cores", "exec.tasks", "exec.input_bytes",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.task_gc_ms",
    "state.rows_total", "state.rows_updated", "state.memory_bytes", "state.commit_ms",
    "state.dropped_by_watermark",
    "serve.snapshot_us_p50", "serve.snapshot_us_p99", "serve.store_entries",
    "serve.sse_frame_age_ms", "serve.sse_frames",
    "ingest.ack_ms_p50", "ingest.ack_ms_p99", "ingest.publish_ms_p50", "ingest.publish_ms_p99",
    "ingest.spark_jobs_per_publish",
    "setup.session_s", "setup.first_batch_s",
    "jvm.gc_ms", "jvm.gc_count", "jvm.jit_ms", "jvm.classes_loaded",
    "gen.late_p99_ms", "gen.files", "probe.cpu_ms", "probe.visible_samples",
    "self.source_ms", "self.batch_ms", "self.foreach_ms", "self.sink_t4_ms", "self.sink_analytics_ms",
    "explain.trigger_wait_ms", "explain.batch_phases_ms", "explain.probe_ms",
    "explain.accounted_p50_ms", "explain.accounted_ratio",
  ) ++ EndToEnd.map(k => s"traced.$k")

  val Units: Map[String, String] = {
    def u(k: String): String = k match {
      case _ if k.endsWith("_us_p50") || k.endsWith("_us_p99") => "us"
      case _ if k.endsWith("_s")                               => "s"
      case "drain_eps" | "traced.drain_eps"                    => "1/s"
      case _ if k.endsWith("cpu_ms_per_kevent")                => "ms/kevent"
      case _ if k.endsWith("_mb")                              => "MB"
      case "exec.cpu_ms" | "exec.task_gc_ms"                   => "ms/kevent"
      case "exec.input_bytes" | "exec.shuffle_write_bytes" | "exec.shuffle_read_bytes" => "B/kevent"
      case "exec.tasks"                                        => "count/batch"
      case "exec.busy_cores"                                   => "cores"
      case "batch.busy_frac" | "explain.accounted_ratio"       => "ratio"
      case "state.memory_bytes"                                => "B"
      case _ if k.contains("_ms")                              => "ms"
      case _                                                   => "count"
    }
    (PerLayer ++ EndToEnd).map(k => k -> u(k)).toMap
  }
}

/** Peak heap in use right after a collection, within measured windows: the
  * live set the program holds, not where the young generation happened to
  * be when sampled.
  */
final class GcWatch {
  @volatile var measuring = false
  @volatile private var peak = 0L
  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener((n, _) => {
          if (measuring && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
            if (used > peak) peak = used
          }
        }, null, null)
      case _ => ()
    }
  def peakMb: Double = {
    val p = if (peak > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    p / (1024.0 * 1024.0)
  }
}
