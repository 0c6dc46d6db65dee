package graft.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** JSON wire codec for PageEvent. The reference's serde is Jackson with
  * java.util.Date as an epoch-millis number
  * (reference PageEvent.java:5; FIXTURES.md §A.1:
  * `{"name":"P1","user":"U1","date":1754990000000,"duration":4242}`).
  * `timestamp_millis`/`unix_millis` keep the round trip millisecond-exact
  * (SURVEY.md §7.4.5) — a string-formatted timestamp would truncate or shift
  * under non-UTC sessions.
  */
object PageEventCodec {

  /** Wire (date: epoch millis Long) -> engine (date: TimestampType). */
  def fromWire(df: DataFrame): DataFrame =
    df.withColumn("date", timestamp_millis(col("date")))

  /** Engine -> wire. */
  def toWire(df: DataFrame): DataFrame =
    df.withColumn("date", unix_millis(col("date")))

  private val json = new com.fasterxml.jackson.core.JsonFactory()

  /** One JSON object, serialized on the caller's thread by the Jackson
    * writer Spark's JacksonGenerator wraps, so the line holds the bytes
    * `toJSON` and `df.write.json` write for the same row (schema field
    * order, a null field omitted), without a Spark job.
    */
  private def line(fields: com.fasterxml.jackson.core.JsonGenerator => Unit): String = {
    val out = new java.io.StringWriter()
    val g = json.createGenerator(out)
    g.writeStartObject()
    fields(g)
    g.writeEndObject()
    g.close()
    out.toString
  }

  /** One event as its JSON wire line: what `toJSON` over [[toWire]]
    * writes.
    */
  def wireLine(ev: PageEvent): String = line { g =>
    if (ev.name != null) g.writeStringField("name", ev.name)
    if (ev.user != null) g.writeStringField("user", ev.user)
    if (ev.date != null) g.writeNumberField("date", ev.date.getTime)
    g.writeNumberField("duration", ev.duration)
  }

  /** One T4 refinement `(name, window_start, cnt)` as its JSON wire line:
    * what `df.write.json` writes for the row.
    */
  def countLine(name: String, windowStart: Long, cnt: Long): String = line { g =>
    if (name != null) g.writeStringField("name", name)
    g.writeNumberField("window_start", windowStart)
    g.writeNumberField("cnt", cnt)
  }
}
