package graft.streaming

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.sources.FileTopic

/** The one replay harness every `stream_*` / `state_*` row runs through:
  * the write-ahead log + replayable source + idempotent sink recipe of
  * Structured Streaming (SIGMOD 2018) §6, written once. A row keeps only
  * what differs — its topics, its query builders, its wave schedule and
  * its finish; the scope owns the child session, the temp root (topics at
  * `root/<topic>`, checkpoints at `root/_ckpt/<query>`), the drain, the
  * teardown and the snapshot onto the caller's session.
  */
private[graft] object ReplayHarness {

  /** One publish step of a wave schedule. */
  type Wave = () => Unit

  type Writer = DataStreamWriter[Row]

  /** One day in micros: the sentinel offset unit, and the DAY-PER-ID
    * event-time convention of the windowed replays — row id k "arrives"
    * at k days past the epoch, day-aligned, so the watermark's ms
    * truncation is exact. ONE definition for the wire projections, the
    * horizon arithmetic and the finishes' window cutoffs.
    */
  val DayUs = 86400000000L

  /** Runs `body` in a fresh scope: one temp root per invocation, removed
    * (with every memory-sink view the body registered) however the body
    * ends.
    */
  def apply[T](spark: SparkSession, partitions: Int, rocksDb: Boolean = false)(
      body: ReplayScope => T): T = {
    val scope = new ReplayScope(spark, session(spark, partitions, rocksDb),
      Files.createTempDirectory("graft_replay"))
    try body(scope) finally scope.close()
  }

  /** Replay-fixture bounds over one integral column: a clear error
    * instead of an opaque null read on an empty / filtered-empty fixture.
    */
  def bounds(df: DataFrame, column: String, fixture: String): (Long, Long) = {
    val r = df.agg(min(column), max(column)).head()
    require(!r.isNullAt(0) && !r.isNullAt(1),
      s"replay fixture '$fixture' has no rows to replay " +
        "(empty or filtered-empty input)")
    (r.getLong(0), r.getLong(1))
  }

  /** Child sessions are CACHED per (parent, partitions, provider) and
    * reused across replay invocations: each replay stops its own
    * streaming queries, so a conf-scoped session is freely reusable, and
    * rebuilding one per call re-initializes per-session state (listener
    * buses, session-state codegen contexts) every time — churn that rides
    * neighboring queries as JIT/class-load tax.
    */
  private val sessionCache =
    new ConcurrentHashMap[(SparkSession, Int, Boolean), SparkSession]()

  /** Replay-lane state fan-out: a replay processes a few thousand rows,
    * but EVERY per-micro-batch fixed cost multiplies by the
    * shuffle-partition count (one state store per partition per stateful
    * operator is opened at every incarnation start and committed at every
    * batch). The declared fan-out is divided by 4 (8 -> 2 for stateful
    * aggs; stream-stream joins declare 4 for their four stores per
    * partition) — measured on the heavy replay rows as the knee of the
    * curve — and any multi-partition declaration keeps at least 2
    * partitions: the restart replays exist to prove STATE RECOVERY, and a
    * single partition exercises one state store per operator, with no
    * cross-partition recovery coverage.
    */
  private def replayParts(declared: Int): Int =
    if (declared > 1) math.max(2, declared / 4) else 1

  /** Conf-scoped child session every replay runs under: parent conf
    * copied, HEAP state store — replay state is ~|keys x live windows|
    * tiny rows, where HDFSBacked beats RocksDB's native round-trips — and
    * the small fan-out of [[replayParts]]. The caller's session keeps its
    * production posture.
    */
  private[graft] def session(spark: SparkSession, shufflePartitions: Int,
                             keepRocksDb: Boolean = false): SparkSession = {
    val parts = replayParts(shufflePartitions)
    sessionCache.computeIfAbsent((spark, parts, keepRocksDb), _ => {
      val child = graft.GraftSession.child(spark)
      // keepRocksDb: transformWithState REQUIRES the RocksDB provider;
      // every other replay's tiny stateful agg prefers the heap store's
      // lower per-batch open/commit cost
      if (!keepRocksDb)
        child.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state." +
            "HDFSBackedStateStoreProvider")
      child.conf.set("spark.sql.shuffle.partitions", parts.toString)
      // Spark 4.1 writes a CRC32C checksum SIDECAR beside every checkpoint
      // file and verifies it on read — corruption detection for
      // long-lived checkpoints on remote object stores. A replay writes
      // its checkpoint to local disk, reads it back within the same minute
      // and deletes it; the sidecars double the small-file count per
      // micro-batch for zero protection. Long-lived checkpoints (the
      // live pipeline's among them) keep the Spark default.
      child.conf.set(
        "spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // java.nio checkpoint I/O (local `file:` paths only, refuses
      // anything else loudly): no `.crc` sidecars or FileContext layers
      // on the offset/commit-log writes and state deltas, and a
      // hard-link publish under which exactly one of several writers
      // racing to one batch id wins — Spark's default manager broke that
      // in 5-125 of 300 rounds (see NioCheckpointFileManager's header).
      // The live pipeline sets the same manager for its local
      // checkpoints; checkpoints on HDFS/S3 keep Spark's default managers.
      child.conf.set("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.NioCheckpointFileManager")
      // INTERPRETED expression mode: a stateful micro-batch's eviction
      // predicate (Spark's watermarkPredicateForKeysForEviction) embeds
      // the CURRENT WATERMARK as a literal, so every batch whose watermark
      // moved compiles and classloads a fresh predicate class that misses
      // the codegen cache. A new incarnation's other classes hit it (one
      // executor class loader for every session, see GraftSession); the
      // measurement behind this setting (~280 class loads and ~9 JIT
      // seconds per stream_asof_ttl run, engine 7.4 -> 5.0 s) predates
      // that, when each query's own loader made them miss as well. At
      // replay scale interpreted rows cost microseconds while each
      // compile costs milliseconds. Production streams (parent session)
      // keep codegen — at real volume the amortization argument flips,
      // which is why this is per-session.
      child.conf.set("spark.sql.codegen.wholeStage", "false")
      // factoryMode is marked internal in Spark (a testing knob for the
      // expression-codegen fallback path) — acceptable because these child
      // sessions ARE a test harness; if a future Spark drops it, the set
      // throws AnalysisException at session build, loudly. wholeStage=false
      // alone still leaves per-expression codegen compiling
      // watermark-literal predicates every batch.
      child.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      child
    })
  }

  /** The one blocking drain step: engine-owned micro-batch execution,
    * timed into [[StreamReplay.EngineTimer]].
    */
  private[streaming] def pump(q: StreamingQuery): Unit =
    StreamReplay.EngineTimer.timed(q.processAllAvailable())

  /** Stops each query in its own finally: if one stop throws, the rest
    * must still stop, or they keep tailing topic dirs the scope is about
    * to delete.
    */
  private[streaming] def stopAll(qs: List[StreamingQuery]): Unit = qs match {
    case q :: rest => try q.stop() finally stopAll(rest)
    case Nil => ()
  }

  /** Each replay's root is deleted as soon as its queries stop — a bench
    * run starts every replay twice; leaking RocksDB/changelog state per
    * run turns /tmp into a landfill.
    */
  private[streaming] def deleteTree(root: Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq.reverseIterator
        .foreach(p => Files.deleteIfExists(p))
    } catch { case _: java.io.IOException => () }
}

/** One streaming query of a replay. Its plan is rebuilt on every start,
  * so each start is a fresh incarnation resuming from `ckpt`.
  */
private[graft] final class ReplayQuery(val ckpt: String, mode: String,
    sink: ReplayHarness.Writer => ReplayHarness.Writer, plan: () => DataFrame,
    val view: String = null) {
  def start(): StreamingQuery =
    sink(plan().writeStream.outputMode(mode))
      .option("checkpointLocation", ckpt)
      .start()
}

/** The four event-time (or id) quarters of a fixture's [lo, hi] span;
  * bound 4 is open-ended.
  */
private[graft] final class Quarters(lo: Long, val hi: Long) {
  val quarter: Long = math.max(1L, (hi - lo) / 4)
  def apply(i: Int): Long = if (i >= 4) Long.MaxValue else lo + i * quarter
}

/** A fixture frame published to one topic in key-range waves. On a JSON
  * wire the frame is serialized ONCE — `to_json(struct(*))` is the same
  * JacksonGenerator as `toJSON`/the json datasource, so wire bytes are
  * unchanged — and each wave is a driver-side slice written as one file,
  * instead of one filter+serialize Spark job per wave. A non-JSON wire
  * (the Avro transport swap) keeps the per-wave DataFrame append.
  */
private[graft] final class Feed(df: DataFrame, key: Column,
                                val topic: FileTopic, val qs: Quarters) {
  private lazy val staged: Array[(Long, String)] =
    df.select(key.cast("long"), to_json(struct(df.columns.map(col): _*)))
      .collect().map(r => (r.getLong(0), r.getString(1)))

  /** Rows with from <= key < until (until = Long.MaxValue: no upper
    * bound) as one wire file.
    */
  def publish(from: Long, until: Long): Unit = {
    val open = until == Long.MaxValue
    if (topic.jsonWire)
      topic.appendLines(staged.collect {
        case (k, j) if k >= from && (open || k < until) => j
      }, df.sparkSession)
    else
      topic.append(df.filter(key >= from &&
        (if (open) lit(true) else key < until)).coalesce(1))
  }

  /** Quarters [from, until) as one wave. */
  def q(from: Int, until: Int): ReplayHarness.Wave =
    () => publish(qs(from), qs(until))
}

/** One replay invocation's resources; see [[ReplayHarness]]. */
private[graft] final class ReplayScope(val spark: SparkSession,
                                       val child: SparkSession,
                                       val root: Path) {
  import ReplayHarness.Wave

  private val views = ArrayBuffer.empty[String]

  def topic(name: String, schema: StructType,
            wireFormat: String = "json"): FileTopic =
    new FileTopic(name, schema, root.toString, wireFormat)

  def feed(df: DataFrame, key: String, to: FileTopic, qs: Quarters): Feed =
    new Feed(df, col(key), to, qs)

  private def ckpt(name: String): String =
    root.resolve("_ckpt").resolve(name).toString

  /** A query sinking each micro-batch into `out` (idempotent per batch). */
  def query(name: String, mode: String, out: FileTopic)(
      plan: => DataFrame): ReplayQuery =
    custom(name, mode, _.foreachBatch(
      (df: DataFrame, id: Long) => out.sinkBatch(df, id)))(plan)

  /** A query with its own sink: a `foreachBatch` body, `noop`, ... */
  def custom(name: String, mode: String,
             sink: ReplayHarness.Writer => ReplayHarness.Writer)(
      plan: => DataFrame): ReplayQuery =
    new ReplayQuery(ckpt(name), mode, sink, () => plan)

  /** A memory-sink query under a unique view name; the view is dropped
    * when the scope closes — after the finish has collected it, because
    * `dropTempView` uncaches the plan it wraps.
    */
  def memory(name: String, mode: String)(plan: => DataFrame): ReplayQuery = {
    val view = name + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
    views += view
    new ReplayQuery(ckpt(name), mode, _.format("memory").queryName(view),
      () => plan, view)
  }

  def table(q: ReplayQuery): DataFrame = child.table(q.view)

  /** One incarnation of co-resident queries: start, drain, stop. */
  def drain(qs: ReplayQuery*): Unit = run(qs: _*)(pump => pump())

  /** Starts `qs` in order, then hands `body` a drain step that runs
    * `processAllAvailable` on each in start order; every started query is
    * stopped however the body ends — including when a later start throws.
    */
  def run[T](qs: ReplayQuery*)(body: (() => Unit) => T): T = {
    val started = ArrayBuffer.empty[StreamingQuery]
    try {
      qs.foreach(q => started += q.start())
      body(() => started.foreach(ReplayHarness.pump))
    } finally ReplayHarness.stopAll(started.toList)
  }

  /** One sentinel row on `to`, built on the conf-scoped child. */
  private def publishSentinel(to: FileTopic, row: Row): Unit =
    to.append(child.createDataFrame(java.util.Arrays.asList(row), to.schema))

  /** The wave schedule: each incarnation publishes its waves, then
    * drains; the drain between two incarnations is the checkpoint
    * restart.
    */
  def waves(drain: () => Unit)(incarnations: Seq[Wave]*): Unit =
    incarnations.foreach { waves => waves.foreach(_()); drain() }

  /** The quartered publish-and-restart schedule: quarters 1-2 on every
    * feed (quarter-major), drain (incarnation 1 checkpoints offsets and
    * operator state), then — after the restart — optionally quarter 2
    * again (a producer REDELIVERY offset tracking cannot skip: new files),
    * quarters 3-4, and a drain (incarnation 2 runs on recovered state).
    * Each `sentinels` offset (days past the fixture's end) instead
    * publishes one `sentinel` row per feed and drains — the
    * watermark-flush pattern, N-sentinel for operator chains with deeper
    * emission lag. `tail` appends further incarnations.
    */
  def quartered(feeds: Seq[Feed], drain: () => Unit,
                redeliver: Boolean = false, sentinels: Seq[Long] = Nil,
                sentinel: Long => Row = null,
                tail: Seq[Seq[Wave]] = Nil): Unit = {
    def q(i: Int): Seq[Wave] = feeds.map(_.q(i, i + 1))
    val hi = feeds.head.qs.hi
    val flush: Seq[Seq[Wave]] = sentinels.map(off => feeds.map(f => (() =>
      publishSentinel(f.topic, sentinel(hi + off * ReplayHarness.DayUs))): Wave))
    val restart = (if (redeliver) q(1) else Nil) ++ q(2) ++ q(3)
    waves(drain)(Seq(q(0) ++ q(1), restart ++ flush.headOption.getOrElse(Nil))
      ++ flush.drop(1) ++ tail: _*)
  }

  def snapshot(df: DataFrame): DataFrame = snapshot(df.collect(), df.schema)

  /** Finish rows as a local relation on the caller's session, so the
    * scope's temp root can go before the caller executes the plan.
    */
  def snapshot(rows: Array[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private[streaming] def close(): Unit =
    try views.foreach(child.catalog.dropTempView)
    finally ReplayHarness.deleteTree(root)
}
