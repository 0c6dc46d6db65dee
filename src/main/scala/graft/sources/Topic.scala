package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Emulated Kafka topic (reference topics T1/T2/T4,
  * application.properties:12,21,26,27).
  *
  * No spark-sql-kafka connector jar ships in /opt/spark/jars (SURVEY.md
  * §7.1), so transport is a directory of JSON files: append-only and
  * replayable-by-offset — the two properties a Structured Streaming source
  * needs — with the reference's exact JSON wire format on disk. A
  * connector-present deployment would put a `format("kafka")`
  * reader/writer behind this class's methods.
  *
  * @param wireFormat any file-based datasource name or FileFormat class —
  *   "json" (default; the reference's human-readable wire) or e.g. the
  *   Avro FileFormat for a compact binary wire. The operator layer is
  *   identical either way.
  */
final class FileTopic(val name: String, val schema: StructType, root: String,
                      wireFormat: String = "json") {
  val dir = s"$root/$name"
  new java.io.File(dir).mkdirs()

  /** Driver-side writers (optimization round 20, guide §1.2 — the publish
    * choreography was the replay harnesses' dominant harness-lane cost).
    * A wire append is a PRODUCER act: rows originate at the client and are
    * written to the transport — KafkaProducer.send's shape, and the
    * reference's own producer is a driver-side supplier loop (5
    * events/s). Routing every append through a distributed write job cost
    * a task commit + job commit + temp-dir rename per wave (~150-180 ms
    * each; ~280 waves per bench run); the JSON wire instead lands as one
    * file through the Hadoop FS API, dot-tmp + rename so readers never see
    * a partial file (~60-70 ms, ProbePublish). The live job's T4 sink
    * takes the same path ([[sinkLines]]): its rows are the at most
    * pages x live windows refinements the job collects for its Analytics
    * update anyway, so a write job, its output committer and a second
    * pass over the batch would buy nothing. The distributed,
    * per-batch-idempotent [[sinkBatch]] stays the writer for data that
    * lives on the executors (the supplier, the replay harnesses), and
    * non-JSON wires (the Avro binary transport) keep the distributed
    * write path.
    */
  private val appendSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** True when this topic's wire is the JSON line format — the
    * precondition for [[appendLines]] and [[sinkLines]] (a caller holding
    * pre-serialized lines must not write them to a binary wire).
    */
  private[graft] def jsonWire: Boolean = wireFormat == "json"

  /** The Hadoop FS of `path`, resolved through `session`'s Hadoop conf as
    * Spark's own writers resolve it (`sessionState.newHadoopConf()`: the
    * context's conf plus the session's SQL conf, so session-scoped fs.*
    * settings hold). Every FS access of this class goes through here, with
    * the session the data belongs to. On a local root that FS is the
    * spawn-free [[graft.io.NioLocalFileSystem]] every
    * `GraftSession.builder` session registers; its `.crc` sidecars are
    * dot-files, which the file source skips like the dot-tmp.
    */
  private def fileSystem(path: Path, session: SparkSession): FileSystem =
    path.getFileSystem(session.sessionState.newHadoopConf())

  /** `lines` as the file `name` in `parent`: written as a dot-tmp, then
    * renamed, so a reader listing `parent` never sees a partial file.
    */
  private def writeLines(fs: FileSystem, parent: Path, name: String,
                         lines: Iterable[String]): Unit = {
    val dst = new Path(parent, name)
    val tmp = new Path(parent, s".$name.tmp")
    val out = fs.create(tmp, true)
    try lines.foreach { l =>
      out.write(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.write('\n')
    } finally out.close()
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"rename $tmp -> $dst failed")
  }

  /** Append pre-serialized JSON lines as one wire file. The lines must be
    * this schema's `to_json`/`toJSON` output (same JacksonGenerator as
    * the json datasource — byte-identical to what the write-job path
    * produced). An empty wave writes no file, matching the write-job
    * path, where an empty dataframe produced no part file (and no source
    * trigger). The FS resolves through `session` (non-local roots need
    * its fs.* settings).
    */
  private[graft] def appendLines(lines: Iterable[String],
                                 session: SparkSession): Unit =
    if (lines.nonEmpty) {
      require(jsonWire, s"appendLines on a $wireFormat wire")
      val parent = new Path(dir)
      writeLines(fileSystem(parent, session), parent,
        f"part-${appendSeq.incrementAndGet()}%06d-${System.nanoTime()}.json",
        lines)
    }

  /** [[sinkBatch]] for pre-serialized JSON lines, written on the calling
    * thread: the lines (this schema's `df.write.json` output, e.g.
    * `PageEventCodec.countLine`) go to one part file in the batch
    * directory, then the `_SUCCESS` marker, under sinkBatch's per-batchId
    * contract — an existing marker means the batch landed and a replay is
    * skipped; a directory without one is a crash's partial write and is
    * replaced. An empty batch commits a marker and no part file.
    */
  private[graft] def sinkLines(lines: Iterable[String], batchId: Long,
                               session: SparkSession): Unit = {
    require(jsonWire, s"sinkLines on a $wireFormat wire")
    val path = new Path(s"$dir/batch-$batchId")
    val marker = new Path(path, "_SUCCESS")
    val fs = fileSystem(path, session)
    if (!fs.exists(marker)) {
      fs.delete(path, true)
      if (lines.nonEmpty) writeLines(fs, path, "part-00000.json", lines)
      fs.create(marker, true).close()
    }
  }

  /** Producer side (≙ KafkaProducer / StreamBridge.send), on the FS of
    * `df`'s session.
    */
  def append(df: DataFrame): Unit =
    if (jsonWire) appendLines(df.toJSON.collect(), df.sparkSession)
    else df.write.mode("append").format(wireFormat).save(dir)

  /** Streaming sink side: write micro-batch `batchId` of a query to this
    * topic, exactly once under foreachBatch replay. foreachBatch
    * re-delivers a batch after recovery, and at-least-once appends would
    * show duplicates to every downstream consumer, so each micro-batch
    * lands in a batchId-named subpath: a replayed batchId whose _SUCCESS
    * marker exists is skipped; a partial dir from a crash (no marker) is
    * overwritten. The marker check goes through the Hadoop FileSystem of
    * `df`'s session — java.io.File would silently report "absent" for
    * every non-local root (hdfs://, s3a://), turning the skip into dead
    * code on exactly the deployments a connector swap is for.
    */
  def sinkBatch(df: DataFrame, batchId: Long): Unit = {
    val path = s"$dir/batch-$batchId"
    val marker = new Path(s"$path/_SUCCESS")
    if (!fileSystem(marker, df.sparkSession).exists(marker))
      df.write.mode("overwrite").format(wireFormat).save(path)
  }

  /** Streaming consumer side (≙ KStream source). */
  def stream(spark: SparkSession): DataFrame =
    spark.readStream.schema(schema)
      // bound per-trigger work so a large backlog replays incrementally
      // instead of as one giant first micro-batch
      .option("maxFilesPerTrigger", 64)
      // batch subpaths from sinkBatch live one level down
      .option("recursiveFileLookup", "true")
      .format(wireFormat).load(dir)

  /** Batch view of everything published so far (for parity tests / oracles). */
  def batch(spark: SparkSession): DataFrame =
    spark.read.schema(schema)
      .option("recursiveFileLookup", "true")
      .format(wireFormat).load(dir)
}

object Topics {
  /** The reference's topic wiring (application.properties is authoritative
    * over the README — SURVEY.md §2.3.6): /publish -> T1 -> console;
    * supplier -> T2 -> stream job -> T4.
    */
  val T1 = "T1"
  val T2 = "T2"
  val T4 = "T4"
}
