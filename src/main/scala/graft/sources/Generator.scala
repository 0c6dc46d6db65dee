package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{PageEvent, PageEventCodec}

/** Event generators — the reference's two ingest surfaces (SURVEY.md §2.1
  * #1, #2).
  */
object Generator {

  /** Timed synthetic supplier (reference PageEventHandler.java:37-46: every
    * 200 ms one event with name ∈ {P1,P2}, user ∈ {U1,U2}, now(),
    * duration ∈ [10, 10009]).
    *
    * Spark-native: the `rate` streaming source emits (timestamp, value) at a
    * fixed rate; a seeded `rand` makes the "random" fields deterministic and
    * replayable — the reference uses `new Random()` per call, but reproducible
    * tests need a seed (documented divergence; the distribution is identical).
    */
  def supplier(spark: SparkSession, rowsPerSecond: Int = 5, seed: Long = 42L): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()
      .select(
        concat(lit("P"), (floor(rand(seed) * 2) + 1).cast("int")).as("name"),
        concat(lit("U"), (floor(rand(seed + 1) * 2) + 1).cast("int")).as("user"),
        col("timestamp").as("date"),
        (floor(rand(seed + 2) * 10000) + 10).cast("long").as("duration"))

  /** One-row manual ingest (reference PageEventController.java:34-39: GET
    * /publish builds a single event and StreamBridge.sends it). Returns the
    * event it published, like the endpoint echoes it.
    *
    * The event is serialized on this thread ([[PageEventCodec.wireLine]])
    * and appended to the topic's JSON wire, so a publish runs no Spark job
    * beside the micro-batches; a topic on another wire refuses it.
    */
  def publish(spark: SparkSession, topic: FileTopic, name: String,
              rng: java.util.Random = new java.util.Random()): PageEvent = {
    val ev = PageEvent(
      name = name,
      user = s"U${1 + rng.nextInt(2)}",
      date = new java.sql.Timestamp(System.currentTimeMillis()),
      duration = 10L + rng.nextInt(1000))
    topic.appendLines(Seq(PageEventCodec.wireLine(ev)), spark)
    ev
  }
}
