package pipebench

import java.io.{BufferedReader, InputStreamReader}
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

/** Seeded event source: Zipf-distributed pages over a modest page set,
  * durations drawn like the reference supplier's (10 + [0, 10000) ms, so
  * about 1 % fall under the `duration > 100` filter).
  */
final class EventGen(seed: Long, pages: Int = 50, users: Int = 20) {
  private val rng = new SplittableRandom(seed)
  private val zipf = new Zipf(pages, 1.1)

  def page(): String = s"P${1 + zipf.sample(rng)}"

  /** An event stamped `lagMax` ms or less before `nowMs` (out-of-order
    * arrival, kept well inside the job's 10 s watermark).
    */
  def event(nowMs: Long, lagMax: Int): Ev =
    Ev(page(), s"U${1 + rng.nextInt(users)}",
      nowMs - (if (lagMax > 0) rng.nextInt(lagMax) else 0),
      10L + rng.nextInt(10000))
}

/** Writes wire files the way the program's producers do: a dot-tmp file
  * (hidden from the file source's listing) renamed into the topic dir.
  */
final class WireWriter(dir: Path) {
  Files.createDirectories(dir)
  private var seq = 0
  /** Durations of each write, in ms. */
  val writeMs = new DoubleBuf

  def write(events: Seq[Ev]): Unit = {
    val t0 = Clock.nowMs
    seq += 1
    val name = f"gen-$seq%06d.json"
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, events.map(_.wire).mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    writeMs += Clock.nowMs - t0
  }
  def files: Int = seq
}

/** One HTTP/1.1 keep-alive connection's worth of `GET /publish` requests,
  * open loop: each request is sent at its due time (or at once, if the
  * previous one overran), and timed from the due time.
  */
final class Publisher(port: Int, dues: Seq[Double], names: Seq[String],
                      measuredFrom: Double, vis: Visibility, name: String) {
  val ackMs = new DoubleBuf   // due -> response
  val lateMs = new DoubleBuf  // due -> send
  @volatile var failed = 0
  @volatile var cpuMs = 0.0

  private val thread = new Thread(() => {
    dues.zip(names).foreach { case (due, page) =>
      Clock.sleepUntil(due)
      val measured = due >= measuredFrom
      if (measured) lateMs += Clock.nowMs - due
      try {
        val c = new URL(s"http://127.0.0.1:$port/publish?name=$page&topic=T2")
          .openConnection().asInstanceOf[HttpURLConnection]
        c.setConnectTimeout(10000)
        c.setReadTimeout(10000)
        val code = c.getResponseCode
        val body = new String(
          (if (code / 100 == 2) c.getInputStream else c.getErrorStream).readAllBytes(), UTF_8)
        if (measured) ackMs += Clock.nowMs - due
        if (code / 100 != 2) failed += 1
        else Publisher.parse(body) match {
          case Some(ev) if ev.name == page => vis.expect(ev, if (measured) due else Double.NaN)
          case _ => failed += 1
        }
      } catch { case _: java.io.IOException => failed += 1 }
    }
    cpuMs = Clock.threadCpuMs
  }, name)
  thread.setDaemon(true)
  thread.start()

  def join(): Unit = thread.join()
  def threadId: Long = thread.getId
}

object Publisher {
  private val Echo =
    """\{"name":"([^"]*)","user":"([^"]*)","date":(\d+),"duration":(\d+)\}""".r
  /** The `/publish` echo carries the event the program generated. */
  def parse(body: String): Option[Ev] = body.trim match {
    case Echo(n, u, d, dur) => Some(Ev(n, u, d.toLong, dur.toLong))
    case _                  => None
  }
}

/** An `/analytics` SSE subscriber that records when each frame arrived. */
final class SseReader(port: Int) {
  val frameAt = new DoubleBuf
  @volatile var malformed = 0
  @volatile private var conn: HttpURLConnection = _
  @volatile private var stopping = false

  private val thread = new Thread(() => {
    try {
      conn = new URL(s"http://127.0.0.1:$port/analytics")
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setReadTimeout(5000)
      val in = new BufferedReader(new InputStreamReader(conn.getInputStream, UTF_8))
      var line = in.readLine()
      while (line != null && !stopping) {
        if (line.startsWith("data: ")) {
          val at = Clock.nowMs
          if (SseReader.Frame.matches(line.drop(6))) frameAt.synchronized { frameAt += at }
          else malformed += 1
        }
        line = in.readLine()
      }
    } catch { case _: java.io.IOException => () }
  }, "pipebench-sse")
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = {
    stopping = true
    Option(conn).foreach(_.disconnect())
    thread.join(10000)
  }
  def threadId: Long = thread.getId

  /** For each visible-at time, the wait until the next frame arrived. */
  def ageAfter(visibleAt: Array[Double]): Array[Double] = {
    val frames = frameAt.synchronized(frameAt.toArray).sorted
    visibleAt.flatMap { v =>
      val i = java.util.Arrays.binarySearch(frames, v)
      val j = if (i >= 0) i else -i - 1
      if (j < frames.length) Some(frames(j) - v) else None
    }
  }
}

object SseReader {
  private val Frame = """\{("[^"]*":\d+(,"[^"]*":\d+)*)?\}""".r
}
