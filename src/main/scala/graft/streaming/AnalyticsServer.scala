package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.model.PageEvent

/** The reference's HTTP serving surface (reference
  * PageEventController.java:34-44 + static/index.html:11-39) on the JDK's
  * built-in HttpServer — no framework, zero dependencies:
  *
  *   - `GET /analytics` — `text/event-stream`: one `{page -> count}` JSON
  *     frame per second out of `Analytics.snapshot` (the reference's
  *     `Flux.interval(1s)` SSE over the interactive-query store).
  *   - `GET /publish?name=&topic=` — one-row ingest via the supplied
  *     publish function; echoes the event as JSON with the reference's
  *     field shape (date as epoch millis). A request the publish function
  *     refuses with an IllegalArgumentException (an unknown topic, a
  *     malformed escape) answers 400 with the message; nothing is
  *     published.
  *   - `GET /` — static live-chart page. The reference pulls smoothie.js
  *     from a CDN; this offline build inlines an equivalent canvas chart.
  *
  * Serving layer only: every SSE frame reads the in-memory snapshot the
  * streaming job maintains via foreachBatch — no Spark work per request,
  * so request load never touches the engine.
  */
final class AnalyticsServer(
    analytics: Analytics,
    publishFn: (String, String) => PageEvent,
    nowSec: () => Long = () => System.currentTimeMillis() / 1000L,
    lookbackSec: Long = 5L,
    intervalMs: Long = 1000L,
    port: Int = 0) {

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  // SSE parks a thread per live client — cached pool, not the default
  // single-threaded executor, or the second subscriber would starve
  private val pool = Executors.newCachedThreadPool()
  server.setExecutor(pool)

  private def jsonEscape(s: String): String = s.flatMap {
    case '"'           => "\\\""
    case '\\'          => "\\\\"
    case c if c < ' '  => f"\\u${c.toInt}%04x"
    case c             => c.toString
  }

  /** Deterministic frame: keys sorted, so tests and consumers see a stable
    * serialization of the same snapshot.
    */
  private def snapshotJson(): String =
    analytics.snapshot(nowSec(), lookbackSec)
      .toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${jsonEscape(k)}":$v""" }
      .mkString("{", ",", "}")

  server.createContext("/analytics", (ex: HttpExchange) => {
    ex.getResponseHeaders.set("Content-Type", "text/event-stream")
    ex.getResponseHeaders.set("Cache-Control", "no-cache")
    ex.sendResponseHeaders(200, 0) // chunked: stream until the client leaves
    val out = ex.getResponseBody
    try {
      while (true) {
        out.write(s"data: ${snapshotJson()}\n\n".getBytes(UTF_8))
        out.flush()
        Thread.sleep(intervalMs)
      }
    } catch {
      // client hung up (IOException) or server stopping (Interrupted) —
      // either way the stream is over
      case _: java.io.IOException | _: InterruptedException => ()
    } finally ex.close()
  })

  server.createContext("/publish", (ex: HttpExchange) => {
    try {
      val params = Option(ex.getRequestURI.getRawQuery).getOrElse("")
        .split("&").toSeq.filter(_.contains("="))
        .map { kv =>
          val Array(k, v) = kv.split("=", 2)
          java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap
      val ev = publishFn(params.getOrElse("name", "P1"),
        params.getOrElse("topic", "T1"))
      respond(ex, 200, "application/json",
        s"""{"name":"${jsonEscape(ev.name)}","user":"${jsonEscape(ev.user)}",""" +
          s""""date":${ev.date.getTime},"duration":${ev.duration}}""")
    } catch {
      // without this the exchange is never closed and the client hangs
      // until its own timeout instead of seeing the failure; a refused
      // request is the client's error (400), anything else the server's
      case e: Exception =>
        respond(ex, if (e.isInstanceOf[IllegalArgumentException]) 400 else 500,
          "application/json",
          s"""{"error":"${jsonEscape(String.valueOf(e.getMessage))}"}""")
    }
  })

  server.createContext("/", (ex: HttpExchange) =>
    respond(ex, 200, "text/html; charset=utf-8", AnalyticsServer.chartPage))

  private def respond(ex: HttpExchange, code: Int, ctype: String,
                      body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    try ex.getResponseBody.write(bytes) finally ex.close()
  }

  def start(): AnalyticsServer = { server.start(); this }
  def boundPort: Int = server.getAddress.getPort
  def stop(): Unit = {
    server.stop(0)
    // the pool's non-daemon workers would otherwise outlive stop() by
    // their 60 s keep-alive (and leak one pool per server under restart)
    pool.shutdownNow()
  }
}

object AnalyticsServer {
  /** Offline stand-in for the reference's smoothie.js page: same contract
    * (EventSource("/analytics"), one line per page), inline canvas drawing.
    */
  val chartPage: String =
    """<!DOCTYPE html>
      |<html lang="en">
      |<head><meta charset="utf-8"><title>Analytics</title></head>
      |<body>
      |<canvas id="chart" width="600" height="400" style="border:1px solid #ccc"></canvas>
      |<script>
      |  const hist = {};                       // page -> [{t, v}]
      |  const colors = ["#0a0", "#a00", "#00a", "#a60"];
      |  new EventSource("/analytics").addEventListener("message", (event) => {
      |    const snap = JSON.parse(event.data);
      |    const t = Date.now();
      |    for (const k in snap) (hist[k] = hist[k] || []).push({t: t, v: snap[k]});
      |    draw();
      |  });
      |  function draw() {
      |    const c = document.getElementById("chart"), g = c.getContext("2d");
      |    g.clearRect(0, 0, c.width, c.height);
      |    const t1 = Date.now(), t0 = t1 - 60000;
      |    let vmax = 1;
      |    for (const k in hist) for (const p of hist[k]) vmax = Math.max(vmax, p.v);
      |    Object.keys(hist).sort().forEach((k, i) => {
      |      g.strokeStyle = colors[i % colors.length];
      |      g.beginPath();
      |      hist[k].filter(p => p.t >= t0).forEach((p, j) => {
      |        const x = (p.t - t0) / (t1 - t0) * c.width;
      |        const y = c.height - 10 - p.v / vmax * (c.height - 30);
      |        j ? g.lineTo(x, y) : g.moveTo(x, y);
      |      });
      |      g.stroke();
      |      g.fillStyle = g.strokeStyle;
      |      g.fillText(k, 5, 12 + i * 14);
      |    });
      |  }
      |</script>
      |</body>
      |</html>""".stripMargin
}
