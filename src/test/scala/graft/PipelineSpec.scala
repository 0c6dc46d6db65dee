package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{PageEvent, PageEventCodec}
import graft.streaming.PageEventPipeline

/** End-to-end topology smoke over emulated file topics: publish -> T1;
  * supplier-shaped rows -> T2 -> job -> T4 + analytics snapshot; restart
  * recovery of the snapshot from the T4 changelog.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("publish appends one wire-format event to T1, echoed back") {
    val p = new PageEventPipeline(spark, tmpDir("topics"))
    val ev = p.publish("PX")
    assert(ev.name == "PX")
    assert(Set("U1", "U2").contains(ev.user))
    assert(ev.duration >= 10 && ev.duration <= 1009)
    val rows = PageEventCodec.fromWire(p.t1.batch(spark)).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("name") == "PX")
  }

  test("publish writes toJSON's bytes without a Spark job, escapes included") {
    val names = Seq("P1", "say \"hi\"", "back\\slash", "Zürich 日本 😀",
      "ctl\u0001\n\t\u001f", "")
    names.foreach { n =>
      val ev = PageEvent(n, "U1", new java.sql.Timestamp(1754990000123L), 4242L)
      val viaSpark = PageEventCodec.toWire(Seq(ev).toDF()).toJSON.collect()
      assert(viaSpark.length == 1)
      assert(PageEventCodec.wireLine(ev).getBytes(UTF_8).sameElements(
        viaSpark.head.getBytes(UTF_8)), s"wire bytes differ for ${ev.name}")
    }
    // a null field is omitted, as toJSON omits it
    val nameless = PageEvent(null, "U2", new java.sql.Timestamp(5L), 10L)
    assert(PageEventCodec.wireLine(nameless) ==
      PageEventCodec.toWire(Seq(nameless).toDF()).toJSON.collect().head)

    // what publish lands on the topic: the echoed event's toJSON line
    val root = tmpDir("topics")
    val p = new PageEventPipeline(spark, root)
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val echoed = try {
      sc.setJobGroup("pipeline-spec-publish", "publish")
      val evs = names.map(p.publish(_))
      // a later job on the same thread: once the listener has seen it, it
      // has seen every job the publishes started
      sc.setJobGroup("pipeline-spec-sentinel", "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("pipeline-spec-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("pipeline-spec-sentinel"))
      assert(!groups.contains("pipeline-spec-publish"), "publish ran a Spark job")
      evs
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    val onWire = new java.io.File(root, p.t1.name).listFiles()
      .filter(f => f.getName.endsWith(".json") && !f.getName.startsWith("."))
      .flatMap(f => java.nio.file.Files.readAllLines(f.toPath, UTF_8).toArray)
      .map(_.toString).toSet
    assert(onWire == echoed.map(e =>
      PageEventCodec.toWire(Seq(e).toDF()).toJSON.collect().head).toSet)
    assert(PageEventCodec.fromWire(p.t1.batch(spark)).as[PageEvent]
      .collect().toSet == echoed.toSet)
  }

  private def stateDirs(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)
      .filter(_.forall(_.isDigit))

  /** Hadoop checksum sidecars (`.<name>.crc`) in a checkpoint log dir. */
  private def crcSidecars(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)
      .filter(n => n.startsWith(".") && n.endsWith(".crc"))

  test("a fresh startJob keeps one state partition") {
    val p = new PageEventPipeline(spark, tmpDir("topics"))
    val ckpt = tmpDir("ckpt")
    p.t2.append(Seq(("P1", "U1", 10001L, 101L), ("P2", "U1", 14000L, 5000L),
      ("P1", "U2", 17000L, 300L)).toDF("name", "user", "date", "duration"))
    val job = p.startJob(ckpt)
    try job.processAllAvailable() finally job.stop()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4",
      "the session keeps its own fan-out")
    assert(stateDirs(s"$ckpt/job/state") == Set("0"))
    assert(stateDirs(s"$ckpt/job/state/0") == Set("0"),
      "the windowed count must keep exactly one state partition")
    assert(p.t4.batch(spark)
      .groupBy($"name", $"window_start").agg(max($"cnt").as("cnt"))
      .as[(String, Long, Long)].collect().toSet ==
      Set(("P1", 10L, 1L), ("P2", 10L, 1L), ("P1", 15L, 1L)))
  }

  test("startJob leaves the session conf as it was, also under concurrent starts") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.checkpointFileManagerClass")
    def scoped(s: org.apache.spark.sql.SparkSession) =
      keys.map(k => k -> s.conf.getAll.get(k)).toMap
    val before = scoped(spark)
    assert(before("spark.sql.shuffle.partitions").contains("4"))
    assert(before("spark.sql.streaming.checkpointFileManagerClass").isEmpty)

    val pipes = Seq.fill(2)(new PageEventPipeline(spark, tmpDir("topics")))
    val ckpts = Seq.fill(2)(tmpDir("ckpt"))
    pipes.foreach(_.t2.append(Seq(("P1", "U1", 10001L, 101L))
      .toDF("name", "user", "date", "duration")))
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val started = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQuery]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = pipes.zip(ckpts).map { case (p, c) =>
      new Thread(() => {
        try { gate.await(); started.add(p.startJob(c)) }
        catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    try {
      assert(failures.isEmpty, s"startJob failed: $failures")
      assert(scoped(spark) == before)
      started.forEach(_.processAllAvailable())
    } finally started.forEach(_.stop())
    ckpts.foreach(c => assert(stateDirs(s"$c/job/state/0") == Set("0")))

    // a key unset before is unset again
    val bare = GraftSession.tune(spark.newSession())
    bare.conf.unset("spark.sql.shuffle.partitions")
    val unsetBefore = scoped(bare)
    assert(unsetBefore.values.forall(_.isEmpty))
    val job = new PageEventPipeline(bare, tmpDir("topics")).startJob(tmpDir("ckpt"))
    job.stop()
    assert(scoped(bare) == unsetBefore)
  }

  test("the live job checkpoints through NioCheckpointFileManager and restarts exactly") {
    val p = new PageEventPipeline(spark, tmpDir("topics"))
    val ckpt = tmpDir("ckpt")
    def wire(rows: (String, String, Long, Long)*) =
      p.t2.append(rows.toSeq.toDF("name", "user", "date", "duration"))
    def logsClean(): Unit = Seq("offsets", "commits").foreach { log =>
      assert(stateDirs(s"$ckpt/job/$log").nonEmpty, s"no $log written")
      assert(crcSidecars(s"$ckpt/job/$log").isEmpty,
        s"Hadoop .crc sidecars in $log: Spark's default manager wrote it")
    }

    wire(("P1", "U1", 10001L, 101L), ("P1", "U2", 12000L, 300L))
    val job1 = p.startJob(ckpt)
    try job1.processAllAvailable() finally job1.stop()
    logsClean()

    wire(("P1", "U1", 13000L, 400L), ("P2", "U1", 16000L, 200L))
    val job2 = p.startJob(ckpt)
    try job2.processAllAvailable() finally job2.stop()
    logsClean()
    val t4Final = p.t4.batch(spark)
      .groupBy($"name", $"window_start").agg(max($"cnt").as("cnt"))
      .as[(String, Long, Long)].collect().toSet
    assert(t4Final == Set(("P1", 10L, 3L), ("P2", 15L, 1L)))
  }

  test("a 4-partition checkpoint from the earlier layout restarts with 4 partitions, exactly") {
    val p = new PageEventPipeline(spark, tmpDir("topics"))
    val ckpt = tmpDir("ckpt")
    def wire(rows: (String, String, Long, Long)*) =
      p.t2.append(rows.toSeq.toDF("name", "user", "date", "duration"))
    def versions(part: String): Int =
      new java.io.File(s"$ckpt/job/state/0/$part").list().length

    // the job as it was started before it had its own state partitions:
    // the session's fan-out (4) and Spark's default checkpoint manager
    wire(("P1", "U1", 10001L, 101L), ("P1", "U2", 12000L, 300L))
    val old = p.countsStream(PageEventCodec.fromWire(p.t2.stream(spark)))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$ckpt/job")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val out = batch.persist()
        try {
          p.analytics.update(out, id)
          p.t4.sinkBatch(out.select($"name", $"window_start", $"cnt"), id)
        } finally out.unpersist()
      }
      .start()
    try old.processAllAvailable() finally old.stop()
    val parts = Set("0", "1", "2", "3")
    assert(stateDirs(s"$ckpt/job/state/0") == parts)
    assert(crcSidecars(s"$ckpt/job/offsets").nonEmpty,
      "the fixture must be written by Spark's default manager")
    val before = parts.map(q => q -> versions(q)).toMap

    wire(("P1", "U1", 13000L, 400L), ("P2", "U1", 16000L, 200L))
    val job = p.startJob(ckpt)
    try job.processAllAvailable() finally job.stop()
    assert(stateDirs(s"$ckpt/job/state/0") == parts)
    parts.foreach { q =>
      assert(versions(q) > before(q), s"partition $q got no new state version")
    }
    val t4Final = p.t4.batch(spark)
      .groupBy($"name", $"window_start").agg(max($"cnt").as("cnt"))
      .as[(String, Long, Long)].collect().toSet
    assert(t4Final == Set(("P1", 10L, 3L), ("P2", 15L, 1L)))
    assert(p.analytics.snapshot(14L) == Map("P1" -> 3L))
    assert(p.analytics.snapshot(15L) == Map("P1" -> 3L, "P2" -> 1L))
    p.restoreAnalytics()
    assert(p.analytics.snapshot(15L) == Map("P1" -> 3L, "P2" -> 1L))
  }

  test("T2 -> job -> T4 + analytics, and snapshot restore from changelog") {
    val p = new PageEventPipeline(spark, tmpDir("topics"))
    val ckpt = tmpDir("ckpt")

    // seed T2 with wire-format events across two 5 s windows
    val events = Seq(
      ("P1", "U1", 10001L, 101L), ("P1", "U2", 12000L, 300L),
      ("P2", "U1", 14000L, 5000L), ("P1", "U1", 15500L, 999L),
      ("P2", "U2", 16000L, 50L) // filtered out (<=100)
    ).map { case (n, u, d, dur) => (n, u, d, dur) }
      .toDF("name", "user", "date", "duration")
    p.t2.append(events)

    val job = p.startJob(ckpt)
    job.processAllAvailable()
    job.stop()

    // T4 carries the refinements; final value per (name, window) = max
    val t4Final = p.t4.batch(spark)
      .groupBy($"name", $"window_start").agg(max($"cnt").as("cnt"))
      .as[(String, Long, Long)].collect().toSet
    assert(t4Final == Set(("P1", 10L, 2L), ("P2", 10L, 1L), ("P1", 15L, 1L)))

    // analytics snapshot at now=15: both windows in range, last wins for P1
    assert(p.analytics.snapshot(15L) == Map("P1" -> 1L, "P2" -> 1L))
    // at now=14: only window 10
    assert(p.analytics.snapshot(14L) == Map("P1" -> 2L, "P2" -> 1L))

    // restart path: a fresh pipeline instance rebuilds the store from T4
    p.analytics.clear()
    assert(p.analytics.snapshot(15L).isEmpty)
    p.restoreAnalytics()
    assert(p.analytics.snapshot(15L) == Map("P1" -> 1L, "P2" -> 1L))
  }

  test("analytics store evicts expired windows: size bounded over many retentions") {
    // retention 100 s, windows every 5 s over 20 retention spans — an
    // unbounded store would hold all 400 windows x 2 keys; the evicting
    // one holds only the trailing retention's worth (round-18 verdict:
    // the reference's RocksDB window store evicts by retention, so the
    // serving substitute must too)
    val a = new graft.streaming.Analytics(keyCol = "name",
      retentionSec = 100L)
    val maxLive = (100 / 5 + 1) * 2 // windows inside retention x keys
    (0 until 400).foreach { i =>
      val ws = i * 5L
      a.update(Seq(("P1", ws, i.toLong), ("P2", ws, i.toLong + 1))
        .toDF("name", "window_start", "cnt"), i.toLong)
      assert(a.size <= maxLive, s"store grew past retention at window $ws")
    }
    // live windows still serve, last-window-wins
    assert(a.snapshot(1995L) == Map("P1" -> 399L, "P2" -> 400L))
    // evicted windows are gone: a snapshot over an expired range is empty
    assert(a.snapshot(500L).isEmpty)
  }

  test("job restarts from checkpoint without recounting processed data") {
    val p = new PageEventPipeline(spark, tmpDir("topics"))
    val ckpt = tmpDir("ckpt")
    def wire(rows: (String, String, Long, Long)*) =
      p.t2.append(rows.toSeq.toDF("name", "user", "date", "duration"))

    wire(("P1", "U1", 10001L, 101L), ("P1", "U2", 12000L, 300L))
    val job1 = p.startJob(ckpt)
    job1.processAllAvailable()
    job1.stop()

    // new data lands while the job is down; restart from the SAME checkpoint
    wire(("P1", "U1", 13000L, 400L), ("P2", "U1", 16000L, 200L))
    val job2 = p.startJob(ckpt)
    job2.processAllAvailable()
    job2.stop()

    // final per-window counts must equal the batch answer over everything —
    // restart must neither drop the new rows nor double-count the old ones
    val t4Final = p.t4.batch(spark)
      .groupBy($"name", $"window_start").agg(max($"cnt").as("cnt"))
      .as[(String, Long, Long)].collect().toSet
    assert(t4Final == Set(("P1", 10L, 3L), ("P2", 15L, 1L)))
  }

  test("SSE /analytics serves live JSON frames; /publish ingests over HTTP") {
    val p = new PageEventPipeline(spark, tmpDir("topics"))
    val ckpt = tmpDir("ckpt")
    p.t2.append(Seq(
      ("P1", "U1", 10001L, 101L), ("P1", "U2", 12000L, 300L),
      ("P2", "U1", 14000L, 5000L)
    ).toDF("name", "user", "date", "duration"))
    val job = p.startJob(ckpt)
    job.processAllAvailable()
    job.stop()

    // serve the snapshot as-of event time 14 s at a fast test cadence
    val server = new graft.streaming.AnalyticsServer(
      p.analytics, (n, _) => p.publish(n), nowSec = () => 14L,
      intervalMs = 100L)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"

      // >= 2 SSE frames of {page -> count} JSON (reference Flux.interval SSE)
      val conn = new java.net.URI(s"$base/analytics").toURL.openConnection()
      assert(conn.getContentType.startsWith("text/event-stream"))
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(conn.getInputStream, "UTF-8"))
      val frames = Iterator.continually(in.readLine())
        .takeWhile(_ != null).filter(_.startsWith("data: ")).take(2).toList
      in.close()
      assert(frames.length == 2, s"expected 2 SSE frames, got $frames")
      frames.foreach { f =>
        assert(f == """data: {"P1":2,"P2":1}""", s"bad frame: $f")
      }

      // /publish mirrors the reference's one-row REST ingest
      val pub = scala.io.Source.fromURL(s"$base/publish?name=PZ&topic=T1")
      val body = try pub.mkString finally pub.close()
      assert(body.contains(""""name":"PZ""""), s"bad publish echo: $body")
      val t1Rows = PageEventCodec.fromWire(p.t1.batch(spark))
        .filter($"name" === "PZ").count()
      assert(t1Rows == 1L, "published event must land on T1")

      // the chart page is served and subscribes to the SSE endpoint
      val page = scala.io.Source.fromURL(s"$base/")
      val html = try page.mkString finally page.close()
      assert(html.contains("EventSource(\"/analytics\")"))
    } finally server.stop()
  }

  test("/publish refuses an unknown topic with a 400 naming the known topics") {
    val root = tmpDir("topics")
    val p = new PageEventPipeline(spark, root)
    def files(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(_.toString).toSet
      finally walk.close()
    }
    val server = p.startServer()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      val before = files()
      // T4 is the job's output, and topic names are case-sensitive
      Seq("T4", "t2").foreach { t =>
        val c = new java.net.URI(s"$base/publish?name=PQ&topic=$t").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        assert(c.getResponseCode == 400, s"topic=$t")
        val err = scala.io.Source.fromInputStream(c.getErrorStream, "UTF-8").mkString
        assert(err.contains(s"'$t'") && err.contains("T1, T2"), s"topic=$t: $err")
      }
      assert(files() == before, "a refused publish must write nothing")
      // a request naming no topic keeps its T1 default
      val pub = scala.io.Source.fromURL(s"$base/publish?name=PY")
      try pub.mkString finally pub.close()
      assert(PageEventCodec.fromWire(p.t1.batch(spark))
        .filter($"name" === "PY").count() == 1L)
    } finally server.stop()
  }

  test("mid-stream snapshot kill + T4 rebuild leaves the SSE answer unchanged") {
    // the interactive-query analogue of the stream_topic_* restart tests
    // (round-10 verdict ask #7): a CONTROL pipeline runs uninterrupted
    // while the VICTIM's driver-local snapshot is wiped and rebuilt from
    // the T4 changelog between micro-batches, mid-stream; both then
    // consume a second phase. The rebuilt store must serve the IDENTICAL
    // SSE answer — proving the snapshot really is a pure fold of the
    // changelog topic, not state only reachable by being attached from
    // batch zero.
    val control = new PageEventPipeline(spark, tmpDir("topicsC"))
    val victim = new PageEventPipeline(spark, tmpDir("topicsV"))
    val (ckC, ckV) = (tmpDir("ckptC"), tmpDir("ckptV"))
    def phase1(p: PageEventPipeline) = p.t2.append(Seq(
      ("P1", "U1", 10001L, 101L), ("P1", "U2", 12000L, 300L),
      ("P2", "U1", 14000L, 5000L)).toDF("name", "user", "date", "duration"))
    def phase2(p: PageEventPipeline) = p.t2.append(Seq(
      ("P1", "U1", 15500L, 999L), ("P2", "U2", 16100L, 200L),
      ("P1", "U1", 20500L, 150L)).toDF("name", "user", "date", "duration"))

    val jobC = control.startJob(ckC)
    val jobV = victim.startJob(ckV)
    try {
      phase1(control); phase1(victim)
      jobC.processAllAvailable(); jobV.processAllAvailable()

      // kill the victim's serving store MID-STREAM and rebuild from T4
      victim.analytics.clear()
      assert(victim.analytics.snapshot(15L).isEmpty, "store must be gone")
      victim.restoreAnalytics()

      phase2(control); phase2(victim)
      jobC.processAllAvailable(); jobV.processAllAvailable()
    } finally { jobC.stop(); jobV.stop() }

    // store-level equality at several serving instants
    Seq(14L, 15L, 20L, 23L).foreach { now =>
      assert(victim.analytics.snapshot(now) == control.analytics.snapshot(now),
        s"snapshots diverge at now=$now")
    }

    // and the actual SSE wire answer is byte-identical
    def sseFrame(p: PageEventPipeline): String = {
      val server = new graft.streaming.AnalyticsServer(
        p.analytics, (n, _) => p.publish(n), nowSec = () => 16L,
        intervalMs = 50L)
      server.start()
      try {
        val conn = new java.net.URI(
          s"http://127.0.0.1:${server.boundPort}/analytics")
          .toURL.openConnection()
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(conn.getInputStream, "UTF-8"))
        try Iterator.continually(in.readLine())
          .takeWhile(_ != null).filter(_.startsWith("data: ")).next()
        finally in.close()
      } finally server.stop()
    }
    val (fV, fC) = (sseFrame(victim), sseFrame(control))
    assert(fV == fC, s"SSE answers diverge after rebuild: $fV vs $fC")
    assert(fV.startsWith("data: {"), s"unexpected SSE frame: $fV")
  }

  test("serve before sink: a T4 write failing after the Analytics update recovers exactly") {
    // the job writes T4 before it updates Analytics (sink, then serve); a
    // T4 write that fails fails the batch before the update, so the store
    // keeps serving phase 1 only, and the batch is not committed, so the
    // restart re-runs it: T4 and the store must end where a no-fault
    // control ends, with no refinement lost or doubled. No-data batches
    // are off so the only batch after phase 1 is phase 2's data batch,
    // whatever the trigger timing.
    val session = GraftSession.tune(spark.newSession())
    session.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val control = new PageEventPipeline(session, tmpDir("topicsC"))
    val rootV = tmpDir("topicsV")
    val victim = new PageEventPipeline(session, rootV)
    val (ckC, ckV) = (tmpDir("ckptC"), tmpDir("ckptV"))
    def phase1(p: PageEventPipeline) = p.t2.append(Seq(
      ("P1", "U1", 10001L, 101L), ("P1", "U2", 12000L, 300L),
      ("P2", "U1", 14000L, 5000L)).toDF("name", "user", "date", "duration"))
    def phase2(p: PageEventPipeline) = p.t2.append(Seq(
      ("P1", "U1", 13500L, 999L), ("P2", "U2", 16100L, 200L),
      ("P1", "U1", 20500L, 150L)).toDF("name", "user", "date", "duration"))
    def t4Final(p: PageEventPipeline) = p.t4.batch(spark)
      .groupBy($"name", $"window_start").agg(max($"cnt").as("cnt"))
      .as[(String, Long, Long)].collect().toSet

    val jobC = control.startJob(ckC)
    try {
      phase1(control); jobC.processAllAvailable()
      phase2(control); jobC.processAllAvailable()
    } finally jobC.stop()

    val jobV = victim.startJob(ckV)
    val t4 = java.nio.file.Paths.get(rootV, victim.t4.name)
    val aside = java.nio.file.Paths.get(rootV, "T4.aside")
    try {
      phase1(victim); jobV.processAllAvailable()
      // a regular file where the T4 directory was: the next T4 write
      // cannot create its batch directory and fails the batch
      java.nio.file.Files.move(t4, aside)
      java.nio.file.Files.createFile(t4)
      phase2(victim)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        jobV.processAllAvailable()
      }
    } finally jobV.stop()
    // the store still serves phase 1 only: the update never ran
    assert(victim.analytics.snapshot(14L) == Map("P1" -> 2L, "P2" -> 1L))
    assert(victim.analytics.snapshot(20L).isEmpty)
    assert(t4Final(victim) != t4Final(control), "the T4 write must have failed")

    java.nio.file.Files.delete(t4)
    java.nio.file.Files.move(aside, t4)
    val jobV2 = victim.startJob(ckV)
    try jobV2.processAllAvailable() finally jobV2.stop()

    assert(t4Final(victim) == t4Final(control))
    assert(t4Final(victim) == Set(("P1", 10L, 3L), ("P2", 10L, 1L),
      ("P2", 15L, 1L), ("P1", 20L, 1L)))
    Seq(10L, 14L, 15L, 16L, 20L, 23L).foreach { now =>
      assert(victim.analytics.snapshot(now) == control.analytics.snapshot(now),
        s"snapshots diverge at now=$now")
    }
    // and a store rebuilt from the repaired T4 serves the same answer
    victim.restoreAnalytics()
    Seq(14L, 16L, 20L).foreach { now =>
      assert(victim.analytics.snapshot(now) == control.analytics.snapshot(now),
        s"rebuilt snapshot diverges at now=$now")
    }
  }

  test("stop() during the T4 write leaves T4 holding what the store served") {
    // stop() interrupts the query's thread; the job writes T4 before it
    // updates the store, so a T4 write aborted by the stop can only abort
    // a batch the store has not served. T4 is written on the driver, so
    // the job runs on a session whose `file:` FS parks the T4 write until
    // the stop has landed, then fails it if the writing thread was
    // interrupted, as an interruptible (remote) FS client would
    val session = GraftSession.child(spark)
    session.conf.set("fs.file.impl", classOf[PipelineSpec.ParkingFs].getName)
    session.conf.set("fs.file.impl.disable.cache", "true")
    val root = tmpDir("topics")
    val ckpt = tmpDir("ckpt")
    val p = new PageEventPipeline(session, root)
    p.t2.append(Seq(
      ("P1", "U1", 10001L, 101L), ("P1", "U2", 12000L, 300L),
      ("P2", "U1", 14000L, 5000L)).toDF("name", "user", "date", "duration"))
    val job = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.streaming.StreamingQuery]()
    val stopper = new java.util.concurrent.atomic.AtomicReference[Thread]()
    // what the store served and whether the batch was committed, as the
    // T4 write began
    val atWrite = new java.util.concurrent.atomic.AtomicReference[(Map[String, Long], Boolean)]()
    PipelineSpec.onCreate.set { path =>
      if (path.toString.contains(s"$root/${p.t4.name}/batch-") &&
          atWrite.compareAndSet(null, (p.analytics.snapshot(14L),
            new java.io.File(s"$ckpt/job/commits/0").exists()))) {
        val t = new Thread(() => {
          while (job.get == null) Thread.sleep(1)
          job.get.stop()
        })
        stopper.set(t)
        t.start()
        try {
          // stop() marks the query inactive, then interrupts its thread
          while (job.get == null || job.get.isActive) Thread.sleep(1)
          Thread.sleep(300)
        } catch {
          case _: InterruptedException =>
            throw new java.io.InterruptedIOException("T4 write interrupted")
        }
      }
    }
    try {
      job.set(p.startJob(ckpt))
      job.get.awaitTermination(60000)
    } finally PipelineSpec.onCreate.set(_ => ())
    assert(stopper.get != null, "the T4 write never started")
    stopper.get.join()
    assert(atWrite.get == ((Map.empty[String, Long], false)),
      s"the stop must land before the store update and the commit: ${atWrite.get}")
    assert(job.get.exception.isEmpty, s"stop must not fail the job: ${job.get.exception}")
    def t4() = p.t4.batch(spark)
      .groupBy($"name", $"window_start").agg(max($"cnt").as("cnt"))
      .as[(String, Long, Long)].collect().toSet
    // the aborted batch is in neither T4 nor the store
    assert(t4().isEmpty)
    assert(p.analytics.size == 0)

    // the restart re-runs the uncommitted batch into both
    val again = p.startJob(ckpt)
    try again.processAllAvailable() finally again.stop()
    assert(p.analytics.snapshot(14L) == Map("P1" -> 2L, "P2" -> 1L))
    assert(t4() == Set(("P1", 10L, 2L), ("P2", 10L, 1L)))
  }

  test("T4 lines written on the driver are df.write.json's bytes, read back exactly") {
    val rows = Seq[(String, Long, Long)](("P1", 10L, 2L), ("say \"hi\"", 15L, 1L),
      ("back\\slash", 20L, 3L), ("Zürich 日本 😀", 25L, 4L),
      ("ctl\u0001\n\t\u001f", 30L, 5L), ("", 35L, 6L), (null, 40L, 7L))
    def partBytes(dir: String): Seq[Byte] =
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
        .sortBy(_.getName)
        .flatMap(f => java.nio.file.Files.readAllBytes(f.toPath)).toSeq
    val viaSpark = s"${tmpDir("t4json")}/out"
    rows.toDF("name", "window_start", "cnt").coalesce(1).write.json(viaSpark)

    val root = tmpDir("topics")
    val p = new PageEventPipeline(spark, root)
    p.t4.sinkLines(rows.map { case (n, w, c) => PageEventCodec.countLine(n, w, c) }, 0L, spark)
    val batch0 = s"$root/${p.t4.name}/batch-0"
    assert(partBytes(batch0).nonEmpty)
    assert(partBytes(batch0) == partBytes(viaSpark), "T4 bytes differ from df.write.json")
    assert(new java.io.File(batch0, "_SUCCESS").exists())
    assert(p.t4.batch(spark).as[(String, Long, Long)].collect().sortBy(_._2).toSeq == rows)
  }

  test("sinkLines keeps sinkBatch's contract: a replay is skipped, a partial batch repaired") {
    val root = tmpDir("topics")
    val p = new PageEventPipeline(spark, root)
    def lines(rows: (String, Long, Long)*) =
      rows.map { case (n, w, c) => PageEventCodec.countLine(n, w, c) }
    def t4() = p.t4.batch(spark).as[(String, Long, Long)].collect().toSet
    val good = lines(("P1", 10L, 2L), ("P2", 10L, 1L))
    p.t4.sinkLines(good, 3L, spark)
    assert(t4() == Set(("P1", 10L, 2L), ("P2", 10L, 1L)))
    // recovery re-delivers the same batchId: skipped, even with other lines
    p.t4.sinkLines(lines(("P1", 10L, 9L)), 3L, spark)
    assert(t4() == Set(("P1", 10L, 2L), ("P2", 10L, 1L)),
      "a replayed batch must not be written again")

    // a crash's partial batch: no marker, a torn part file and a stray one
    val dir = new java.io.File(s"$root/${p.t4.name}/batch-3")
    assert(new java.io.File(dir, "_SUCCESS").delete(), "fixture setup")
    val part = dir.listFiles().filter(_.getName.endsWith(".json"))
    assert(part.length == 1, "fixture setup")
    java.nio.file.Files.write(part.head.toPath,
      good.head.take(10).getBytes(UTF_8))
    java.nio.file.Files.write(new java.io.File(dir, "part-99999.json").toPath,
      (good.head + "\n").getBytes(UTF_8))
    p.t4.sinkLines(good, 3L, spark)
    assert(t4() == Set(("P1", 10L, 2L), ("P2", 10L, 1L)),
      "the partial batch must be replaced by the redelivered one")
    assert(dir.listFiles().map(_.getName).filterNot(_.startsWith(".")).toSet ==
      Set("part-00000.json", "_SUCCESS"))
    // a new batch still lands; an empty one commits a marker only
    p.t4.sinkLines(lines(("P1", 15L, 1L)), 4L, spark)
    p.t4.sinkLines(Nil, 5L, spark)
    assert(t4() == Set(("P1", 10L, 2L), ("P2", 10L, 1L), ("P1", 15L, 1L)))
    assert(new java.io.File(s"$root/${p.t4.name}/batch-5/_SUCCESS").exists())
  }

  /** Descriptions of the Spark jobs `body` starts on this context. */
  private def jobDescriptions(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.job.description")).orNull))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      // a later job: once the listener has seen it, it has seen the others
      sc.setJobDescription("pipeline-spec-sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains("pipeline-spec-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains("pipeline-spec-sentinel"))
    } finally { sc.setJobDescription(null); sc.removeSparkListener(listener) }
    seen.toArray(Array.empty[String]).toSeq
  }

  private def listingJobs(ds: Seq[String]) = ds.filter(_.startsWith("Listing leaf files"))

  test("a trigger over more than 32 files and restoreAnalytics over 40 T4 batches run no listing job") {
    val root = tmpDir("topics")
    val p = new PageEventPipeline(spark, root)
    val t2 = p.t2.asInstanceOf[graft.sources.FileTopic]
    (0 until 40).foreach { i =>
      t2.appendLines(Seq(PageEventCodec.wireLine(
        PageEvent("P1", "U1", new java.sql.Timestamp(10000L + i * 100L), 500L))), spark)
    }
    val job = p.startJob(tmpDir("ckpt"))
    val onStream = jobDescriptions {
      try job.processAllAvailable() finally job.stop()
    }
    assert(job.recentProgress.map(_.numInputRows).toSeq.filter(_ > 0) == Seq(40L),
      "the 40 files must arrive in one trigger")
    assert(p.analytics.snapshot(10L) == Map("P1" -> 40L))
    assert(listingJobs(onStream).isEmpty, s"listing jobs: ${listingJobs(onStream)}")

    (0 until 40).foreach { i =>
      p.t4.sinkLines(Seq(PageEventCodec.countLine("Q", i * 5L, i + 1L)), 100L + i, spark)
    }
    val onRestore = jobDescriptions(p.restoreAnalytics())
    assert(listingJobs(onRestore).isEmpty, s"listing jobs: ${listingJobs(onRestore)}")
    assert(p.analytics.snapshot(195L, 0L) == Map("Q" -> 40L))

    // control: at Spark's default threshold the same reads list with a job
    val child = GraftSession.child(spark)
    child.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "32")
    val control = jobDescriptions {
      val q = p.t2.stream(child).writeStream
        .foreachBatch((_: DataFrame, _: Long) => ())
        .option("checkpointLocation", tmpDir("ckptC")).start()
      try q.processAllAvailable() finally q.stop()
      p.t4.batch(child).count()
    }
    assert(listingJobs(control).size >= 2, s"control saw no listing job: $control")
  }

  test("sinkBatch is idempotent when foreachBatch replays a micro-batch") {
    val p = new PageEventPipeline(spark, tmpDir("topics"))
    val df = Seq(("P1", "U1", 1000L, 200L)).toDF("name", "user", "date", "duration")
    p.t2.sinkBatch(df, 7L)
    val n1 = p.t2.batch(spark).count()
    p.t2.sinkBatch(df, 7L) // recovery re-delivers the same batchId
    assert(p.t2.batch(spark).count() == n1,
      "replayed batch must not append duplicate rows")
    p.t2.sinkBatch(df, 8L) // a NEW batch still lands
    assert(p.t2.batch(spark).count() == n1 * 2)
  }

  test("sinkBatch repairs a crashed partial batch (no _SUCCESS marker)") {
    // the OTHER half of the idempotency contract: a batch dir left behind
    // by a mid-write crash has no _SUCCESS marker and MUST be overwritten
    // on redelivery — skipping it would permanently serve the torn write
    val root = tmpDir("topics_crash")
    val p = new PageEventPipeline(spark, root)
    val good = Seq(("P1", "U1", 1000L, 200L), ("P2", "U2", 2000L, 300L))
      .toDF("name", "user", "date", "duration")
    p.t2.sinkBatch(good, 3L)
    val dir = new java.io.File(s"$root/${p.t2.name}/batch-3")
    // simulate the crash: marker gone, content torn (one data file removed)
    assert(new java.io.File(dir, "_SUCCESS").delete(), "fixture setup")
    val dataFiles = dir.listFiles().filter(_.getName.endsWith(".json"))
    assert(dataFiles.nonEmpty && dataFiles.head.delete(), "fixture setup")
    val torn = p.t2.batch(spark).count()
    p.t2.sinkBatch(good, 3L) // redelivery after the crash
    assert(p.t2.batch(spark).count() == 2 && torn < 2,
      s"partial batch must be repaired to 2 rows (was $torn after tear)")
    assert(new java.io.File(dir, "_SUCCESS").exists(),
      "repaired batch must re-commit its marker")
  }

  test("FileTopic.append writes through the FS of its frame's session") {
    // the frame belongs to a child session whose `file:` FS is its own
    // (FS cache off for the scheme); this thread's active session is the
    // parent, whose FS must not see the write
    val child = GraftSession.child(spark)
    child.conf.set("fs.file.impl", classOf[PipelineSpec.ParkingFs].getName)
    child.conf.set("fs.file.impl.disable.cache", "true")
    val root = tmpDir("topics")
    val topic = new graft.sources.FileTopic("T", PageEvent.wireSchema, root)
    val df = child.createDataFrame(Seq(("P1", "U1", 1000L, 200L)))
      .toDF("name", "user", "date", "duration")
    val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    PipelineSpec.onCreate.set(path => created.add(path.toString))
    try topic.append(df) finally PipelineSpec.onCreate.set(_ => ())
    assert(created.toArray.exists(_.toString.contains(s"$root/T/")),
      s"the append did not reach the child's FS: $created")
    assert(topic.batch(spark).count() == 1)
  }

  test("supplier generates schema-valid events at the configured rate") {
    val p = new PageEventPipeline(spark, tmpDir("topics"))
    val ckpt = tmpDir("ckpt")
    val sup = p.startSupplier(ckpt, rowsPerSecond = 50)
    try {
      Thread.sleep(2500)
      sup.processAllAvailable()
    } finally sup.stop()
    val got = PageEventCodec.fromWire(p.t2.batch(spark))
    val n = got.count()
    assert(n > 0, "supplier produced no events")
    val bad = got.filter(!col("name").isin("P1", "P2") ||
      !col("user").isin("U1", "U2") ||
      col("duration") < 10 || col("duration") > 10009).count()
    assert(bad == 0)
  }
}

object PipelineSpec {
  /** Called with the path of every file a [[ParkingFs]] creates. */
  val onCreate = new java.util.concurrent.atomic.AtomicReference[
    org.apache.hadoop.fs.Path => Unit](_ => ())

  /** The `file:` FS with a hook on file creation, for a session that sets
    * it as `fs.file.impl` (with the FS cache off for the scheme).
    */
  class ParkingFs extends graft.io.NioLocalFileSystem {
    override def create(f: org.apache.hadoop.fs.Path,
                        permission: org.apache.hadoop.fs.permission.FsPermission,
                        overwrite: Boolean, bufferSize: Int, replication: Short,
                        blockSize: Long, progress: org.apache.hadoop.util.Progressable)
        : org.apache.hadoop.fs.FSDataOutputStream = {
      onCreate.get()(f)
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    }
  }
}
