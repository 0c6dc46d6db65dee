package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Scale posture: AQE on (runtime shuffle coalescing + skew-join splitting),
  * UTC pinned (epoch-aligned windows must match the DuckDB oracle),
  * shuffle partitions sized to the local core count rather than the 200
  * default — on a real cluster this would be set to ~2-3x total cores and
  * AQE coalesces down per-stage. One exception: the live job
  * (`PageEventPipeline.startJob`) starts with one state partition, since
  * its stateful stage sees only (page, window) keys and a partition
  * costs a state store commit and a reduce task in every micro-batch.
  *
  * File listing stays on the driver (no parallel partition discovery): a
  * session is one `local[n]` JVM, so a distributed listing job's tasks
  * list the same filesystem from the same JVM and add only scheduling and
  * a serialized Hadoop conf per task — paid in every trigger of a file
  * stream over more than 32 files.
  *
  * One class loader for every task: session artifact isolation is off, so
  * the top-level session, every [[child]] and every streaming query's
  * session clone run their tasks under the executor's default class
  * loader instead of one loader per session UUID. Spark's codegen cache
  * is keyed by the context class loader plus the generated source, so
  * with one loader a new query, a restart or a child session's query
  * reuses the classes an earlier query compiled, and the JIT's work on
  * them; with a loader per session it compiles and loads its plan's
  * classes again. Isolation only separates the jars, files and archives
  * a session adds; graft adds none (`ArtifactLintSpec` keeps it so).
  */
object GraftSession {
  /** The one `SparkSession` builder: every session in the repository —
    * the live pipeline, the `Verify`/`Bench` oracle and bench lanes, the test
    * session and the probes — starts here, so all of them share one
    * `file:` I/O path and one static conf. A caller adds only what is its
    * own (the test session's FAIR pools, a probe's broadcast threshold).
    */
  def builder(cores: Int): SparkSession.Builder =
    // spawn-free `file:` I/O (graft.io.NioLocalFileSystem) for every
    // checkpoint, source-log, state, sink and wire file; registered on
    // the builder because the SparkContext's first FileSystem.get fixes
    // the cached class
    graft.io.NioLocalFileSystem.register(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // on the builder, not only in tune: `newSession()` children
      // (StorageSuite.pushdownSession, indexServeRestart) read it from
      // the SparkConf
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // file indexes list on the driver (see the header); on the builder,
      // for every session, because a file source reads the conf of the
      // session that read the stream, not its query's cloned conf
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        Int.MaxValue.toString)
      // one executor class loader for every session (see the header);
      // read when a session is created, so it must be on the builder
      .config("spark.sql.artifact.isolation.enabled", "false")
      // static conf (must be set before the first session; spark.conf.set
      // would throw): size the janino compiled-class cache to a many-query
      // session — the default 100 entries thrashes past ~50 queries and a
      // cache miss means recompile + a class load that deopt-storms every
      // already-hot method (round-6 bench postmortem, Bench.scala).
      .config("spark.sql.codegen.cache.maxEntries", "8192")

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }

  /** Conf-scoped child session: `parent.newSession()` (shared
    * SparkContext and cache, its own SQL conf and temp views) with the
    * parent's runtime conf copied over, and nothing else — no [[tune]]
    * optimizer rules or functions. Callers set their own overrides on the
    * result.
    */
  def child(parent: SparkSession): SparkSession = {
    val child = parent.newSession()
    parent.conf.getAll.foreach { case (k, v) =>
      // static and Spark-core entries refuse a runtime set
      try child.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    child
  }

  /** Apply the engine's standard SQL conf, functions and optimizer rules
    * to a session.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // events.parquet stores TIMESTAMP(NANOS) which Spark's reader rejects;
    // read as Long ns and convert in Tables.table.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // wide-aggregate plans (64-permutation MinHash / 64-bit SimHash buffers)
    // must stay inside whole-stage codegen; the 100-field default kicks them
    // out into the interpreted row path
    spark.conf.set("spark.sql.codegen.maxFields", "256")
    // streaming state must spill past executor memory at scale: RocksDB
    // state store (default HDFSBacked keeps every key on-heap), with
    // changelog checkpointing so commits ship deltas, not full SST sets
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    // engine-native SQL functions (also injectable via GraftExtensions)
    graft.functions.DotProduct.register(spark)
    graft.functions.ShingleHash.register(spark)
    graft.functions.MaxSim.register(spark)
    // engine optimizer rules (idempotent). ORDER MATTERS: the length guard
    // must be in place before SingleEval hoists the kernel out of the
    // filter/join condition — once hoisted, the filter references an
    // attribute and the guard rule can no longer see the levenshtein.
    // SingleEval lives ONLY here (extraOptimizations = the optimizer's
    // final batch); injecting it into the operator batch via
    // GraftExtensions would loop against PushDownPredicates.
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.LevenshteinLengthGuard))
      spark.experimental.extraOptimizations ++=
        Seq(graft.plans.LevenshteinLengthGuard)
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.LevenshteinSingleEval))
      spark.experimental.extraOptimizations ++=
        Seq(graft.plans.LevenshteinSingleEval)
    spark
  }
}
