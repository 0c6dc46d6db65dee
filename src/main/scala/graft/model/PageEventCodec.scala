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

  /** One event as its JSON wire line, serialized on the caller's thread:
    * the bytes `toJSON` over [[toWire]] writes (Spark's JacksonGenerator is
    * the same Jackson writer — schema field order, a null field omitted),
    * without a Spark job.
    */
  def wireLine(ev: PageEvent): String = {
    val out = new java.io.StringWriter()
    val g = json.createGenerator(out)
    g.writeStartObject()
    if (ev.name != null) g.writeStringField("name", ev.name)
    if (ev.user != null) g.writeStringField("user", ev.user)
    if (ev.date != null) g.writeNumberField("date", ev.date.getTime)
    g.writeNumberField("duration", ev.duration)
    g.writeEndObject()
    g.close()
    out.toString
  }
}
