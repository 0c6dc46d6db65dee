package pipebench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.Analytics

/** One generated page event in the reference wire shape. */
final case class Ev(name: String, user: String, dateMs: Long, duration: Long) {
  def wire: String =
    s"""{"name":"$name","user":"$user","date":$dateMs,"duration":$duration}"""
  /** The job counts only `duration > 100` (PageViews.filterValid). */
  def counted: Boolean = duration > 100
  /** Epoch-aligned 5 s tumbling window start, in seconds. */
  def windowStart: Long = Math.floorDiv(dateMs, 5000L) * 5L
}

/** Expected per-(page, window) counts, and when each event became visible.
  *
  * Every event the workload hands to the program is registered here before
  * (or, for an HTTP publish, as soon as the echo names it) it can be counted.
  * Within one (page, window) the events are ranked in hand-over order; when
  * a read of `Analytics.snapshot(window, 0)` shows count c, the first c
  * ranked events are visible at that read. Events of one micro-batch become
  * visible together, so swapping ranks inside a batch changes no latency.
  */
final class Visibility(analytics: Analytics) {
  private final class Entry {
    val dues = new DoubleBuf // NaN = not measured (warm-up)
    var seen = 0
  }
  // window start -> page -> entry
  private val byWindow = new ConcurrentHashMap[Long, ConcurrentHashMap[String, Entry]]
  @volatile private var registered = 0L
  @volatile private var visibleCount = 0L

  /** (due, visible-at, events) of measured events, in probe order. */
  val dueBuf = new DoubleBuf
  val atBuf = new DoubleBuf
  val weightBuf = new DoubleBuf
  /** Duration of each `Analytics.snapshot` call the probe made, in µs. */
  val snapshotUs = new DoubleBuf

  def expect(ev: Ev, dueMs: Double): Unit =
    if (ev.counted) expectMany(ev.name, ev.windowStart, 1, dueMs)

  /** `n` counted events of one (page, window), all due at `dueMs`. */
  def expectMany(page: String, ws: Long, n: Int, dueMs: Double): Unit = {
    val e = byWindow.computeIfAbsent(ws, _ => new ConcurrentHashMap)
      .computeIfAbsent(page, _ => new Entry)
    e.synchronized { (1 to n).foreach(_ => e.dues += dueMs) }
    synchronized { registered += n }
  }

  def allVisible: Boolean = visibleCount == registered
  def pending: Long = registered - visibleCount

  /** One probe pass over every (page, window) with unseen events. */
  def poll(): Unit = {
    byWindow.asScala.foreach { case (ws, pages) =>
      if (pages.values.asScala.exists(e => e.synchronized(e.seen < e.dues.size))) {
        val t0 = System.nanoTime()
        val snap = analytics.snapshot(ws, 0L)
        val now = Clock.nowMs
        synchronized { snapshotUs += (System.nanoTime() - t0) / 1e3 }
        pages.asScala.foreach { case (page, e) =>
          e.synchronized {
            val c = math.min(snap.getOrElse(page, 0L), e.dues.size.toLong).toInt
            while (e.seen < c) {
              // events of one tick share a due time: record them as one
              // weighted sample
              val due = e.dues(e.seen)
              var n = 0
              while (e.seen < c && sameDue(e.dues(e.seen), due)) { e.seen += 1; n += 1 }
              synchronized {
                visibleCount += n
                if (!due.isNaN) { dueBuf += due; atBuf += now; weightBuf += n }
              }
            }
          }
        }
      }
    }
  }

  private def sameDue(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b

  /** Latency percentile over measured events, weighted by event count. */
  def latencyPct(p: Double): Double = synchronized {
    val n = dueBuf.size
    Stats.weightedPct(Array.tabulate(n)(i => atBuf(i) - dueBuf(i)),
      Array.tabulate(n)(i => weightBuf(i)), p)
  }

  def lastVisibleAt: Double = synchronized {
    if (atBuf.size == 0) Double.NaN else (0 until atBuf.size).map(atBuf(_)).max
  }

  /** Expected final count per (page, window start). */
  def expected: Map[(String, Long), Long] =
    byWindow.asScala.iterator.flatMap { case (ws, pages) =>
      pages.asScala.iterator.map { case (p, e) => (p, ws) -> e.synchronized(e.dues.size.toLong) }
    }.toMap
}

/** Polls `Analytics.snapshot` at a fixed period on its own thread. A fixed
  * fine period, rather than the 1 Hz SSE frames, keeps the read's phase
  * against the 1 s trigger from changing run to run.
  */
final class Probe(vis: Visibility, periodMs: Double) {
  @volatile private var running = true
  @volatile var cpuMs = 0.0
  /** How late each read started against its schedule, in ms. */
  val lateMs = new DoubleBuf
  private val thread = new Thread(() => {
    var next = Clock.nowMs
    while (running) {
      lateMs += Clock.nowMs - next
      vis.poll()
      next += periodMs
      Clock.sleepUntil(next)
    }
    cpuMs = Clock.threadCpuMs
  }, "pipebench-probe")
  thread.setDaemon(true)
  thread.start()

  def awaitAllVisible(deadlineMs: Double): Boolean = {
    while (!vis.allVisible && Clock.nowMs < deadlineMs) Thread.sleep(2)
    vis.allVisible
  }

  def stop(): Unit = { running = false; thread.join() }
  def threadId: Long = thread.getId
}

/** Checks the program's two outputs against the generated events: the
  * T4 changelog (max `cnt` per (page, window), the latest refinement) and
  * the Analytics store. Returns the number of mismatching (page, window)
  * cells; `shift` perturbs the expectation to prove the gate can fail.
  * `t4Final` is None where only the Analytics store is checked.
  */
object Gate {
  def check(expected: Map[(String, Long), Long], analytics: Analytics,
            t4Final: Option[Map[(String, Long), Long]], shift: Long): (Int, Seq[String]) = {
    val exp = if (shift == 0) expected
              else expected.map { case (k, v) => k -> (v + shift) }
    val bad = mutable.Buffer.empty[String]
    // Analytics: every expected cell reads back, and it holds nothing else
    exp.groupBy(_._1._2).foreach { case (ws, cells) =>
      val snap = analytics.snapshot(ws, 0L)
      cells.foreach { case ((p, _), v) =>
        if (snap.getOrElse(p, -1L) != v) bad += s"analytics ($p,$ws) ${snap.get(p)} != $v"
      }
      snap.keys.filterNot(p => cells.contains((p, ws)))
        .foreach(p => bad += s"analytics unexpected ($p,$ws)")
    }
    if (analytics.size != exp.size) bad += s"analytics size ${analytics.size} != ${exp.size}"
    // T4: the same cells, exactly
    t4Final.foreach { t4 =>
      (exp.keySet ++ t4.keySet).foreach { k =>
        if (t4.get(k) != exp.get(k)) bad += s"t4 $k ${t4.get(k)} != ${exp.get(k)}"
      }
    }
    (bad.size, bad.take(5).toSeq)
  }
}
