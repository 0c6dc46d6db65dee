package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Micro-probe for the PER-MICRO-BATCH FIXED COST of the streaming
  * machinery on this box (optimization round 20, guide §1: measure first).
  * The replay rows' engine lane is dominated by per-batch costs, not data
  * (a few thousand sf0.001 rows); this probe times a minimal stateful
  * query — MemoryStream → watermark → tumbling-window count → update-mode
  * foreachBatch(noop) — per (state-store provider, shuffle partitions,
  * knob) variant, in ONE JVM so variants share JIT/codegen warmth and the
  * numbers compare within ~10%.
  *
  * Each variant runs in its own conf-scoped child session (the provider
  * conf is read at query start from the session), fresh checkpoint, and
  * reports per-drain wall over `batches` single-wave drains after a warmup
  * drain. The floor this prints is the number the replay-lane ledger
  * compares against: an engine lane at (batches x floor) is AT the
  * machinery floor and further per-row work is wasted.
  */
object ProbeBatchFloor {
  final case class Ev(k: Long, ts: java.sql.Timestamp)

  def main(args: Array[String]): Unit = {
    val parent = graft.GraftSession.local(32)
    parent.sparkContext.setLogLevel("WARN")
    val variants: Seq[(String, Map[String, String], Int)] = Seq(
      ("hdfs_p2", Map("spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "HDFSBackedStateStoreProvider")), 2),
      ("rocksdb_p2", Map.empty[String, String], 2),
      ("rocksdb_p2_notrack", Map(
        "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" ->
          "false"), 2),
      ("hdfs_p8", Map("spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "HDFSBackedStateStoreProvider")), 8),
      ("rocksdb_p2_nocodegen", Map.empty[String, String], 2),
      // the replay-session posture + the round-20 java.nio checkpoint
      // manager (no Hadoop local-FS forks / CRC sidecars on the
      // offset/commit/state-delta writes)
      ("hdfs_p2_nio", Map(
        "spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming.state." +
            "HDFSBackedStateStoreProvider"),
        "spark.sql.streaming.checkpointFileManagerClass" ->
          "graft.streaming.NioCheckpointFileManager"), 2),
      ("rocksdb_p2_nio", Map(
        "spark.sql.streaming.checkpointFileManagerClass" ->
          "graft.streaming.NioCheckpointFileManager"), 2)
    )
    val rounds = args.headOption.map(_.toInt).getOrElse(3)
    (1 to rounds).foreach { round =>
      variants.foreach { case (label, confs, parts) =>
        val child = graft.GraftSession.child(parent)
        child.conf.set("spark.sql.shuffle.partitions", parts.toString)
        child.conf.set(
          "spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        if (label.endsWith("nocodegen")) {
          child.conf.set("spark.sql.codegen.wholeStage", "false")
          child.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        }
        confs.foreach { case (k, v) => child.conf.set(k, v) }
        import child.implicits._
        val in = MemoryStream[Ev](child)
        val ckpt = java.nio.file.Files.createTempDirectory("graft_floor")
        val counts = in.toDF()
          .withWatermark("ts", "10 seconds")
          .groupBy(window(col("ts"), "5 seconds"), col("k"))
          .agg(count(lit(1)).as("n"))
        val q = counts.writeStream.outputMode("update")
          .option("checkpointLocation", ckpt.toString)
          // Spark 4.1 validates every state partition was processed — a
          // literally-empty foreachBatch fails commit validation, so the
          // no-op is a noop-sink write (full materialization, no output)
          .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.write.format("noop").mode("overwrite").save())
          .start()
        def wave(i: Int): Unit = {
          in.addData((1 to 50).map(j =>
            Ev(j % 7, new java.sql.Timestamp(i * 5000L + j))))
          q.processAllAvailable()
        }
        wave(0) // warmup: store open + first-batch planning
        val t0 = System.nanoTime()
        (1 to 5).foreach(wave)
        val dt = (System.nanoTime() - t0) / 1e9
        q.stop()
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq
            .reverseIterator.foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case _: java.io.IOException => () }
        println(f"[floor round $round] $label%-22s 5 drains $dt%6.2f s " +
          f"(${dt / 5}%5.3f s/drain)")
      }
    }
    parent.stop()
  }
}
