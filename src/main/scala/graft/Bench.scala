package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** One query's measurements within one pass: wall seconds, GC seconds,
    * JIT-compilation seconds, classes loaded during the query, epoch-ms
    * start timestamp, and the 1-min system load average at start. The
    * timestamp + load place a slow row in the host's wall-clock history:
    * a run of slow rows with flat gc/jit/cls and elevated load is machine
    * contention, not a plan regression.
    */
  /** `eng` is the engine-owned wall (the replay harnesses' accumulated
    * `processAllAvailable` time) — 0 for plain batch queries, where the
    * whole wall IS engine time. `sec - eng` is the harness choreography
    * (fixture collects, topic publishes, checkpoint setup, restarts) for
    * stream_ / state_ rows.
    */
  /** `cpu` is the process CPU seconds the query used (driver and local
    * executor threads, `OperatingSystemMXBean.getProcessCpuTime`). It is
    * published beside the wall so a reader can tell a slower plan (more
    * CPU) from a slower machine (same CPU, more wall); it never gates.
    */
  final case class QStat(sec: Double, gc: Double, jit: Double, cls: Long,
                         startMs: Long, load: Double, eng: Double = 0.0,
                         cpu: Double = 0.0)

  /** One elevated row: its pass-1 and pass-2 seconds in the row's gating
    * lane; `severe` marks the strict-anomaly tier, the tier that flips the
    * record unhealthy on its own.
    */
  final case class Verdict(name: String, p1: Double, p2: Double,
                           severe: Boolean)

  /** Record health: "unhealthy" on any severe warm-pass row or an
    * unexplained pass-2 blowup, else "ok".
    *
    * HEADLINE METRIC IS PINNED TO PASS 2: the warm pass is the
    * plan-quality signal and stays the headline unconditionally (a record
    * that once switched pass1↔pass2 broke the cross-record series); both
    * raw pass walls are always published top-level, contamination is
    * expressed via `status`, and BenchHealthSpec pins the constant.
    */
  final case class Health(verdicts: Seq[Verdict], status: String) {
    def ok: Boolean = status != "unhealthy"
  }

  /** The pinned headline pass — see [[Health]]. */
  val headlineMetric: String = "pass2"

  /** The GATING lane for one row: replay rows — the ones carrying an
    * engine-owned wall (`eng > 0` on both passes) — flag on ENGINE
    * seconds, so publish/restart choreography jitter on a loaded box
    * cannot manufacture an anomaly verdict against the engine. Harness
    * drift still surfaces in the drift section's harness_sec lane and
    * the published per-row split; it just can't flip health. Plain batch
    * rows (eng = 0) gate on wall.
    */
  private def lane(s1: QStat, s2: QStat)(s: QStat): Double =
    if (s1.eng > 0 && s2.eng > 0) s.eng else s.sec

  /** A SEVERE pass-2 anomaly: >3x its own pass-1 time (engine lane for
    * replay rows), >1 s absolute excess, and near-zero pass-2
    * JIT/class-load so codegen-cache misses are ruled out.
    */
  def anomalous(s1: QStat, s2: QStat): Boolean = {
    val l = lane(s1, s2) _
    l(s2) > 3 * l(s1) && l(s2) - l(s1) > 1.0 && s2.jit < 0.5 && s2.cls < 500
  }

  /** An ELEVATED pass-2 row: >1.5x its pass-1 time (engine lane for
    * replay rows) with >1 s absolute excess. Recorded as a verdict; no
    * jit/cls exemption, since the published jit2/cls2 let a reader see a
    * codegen-cache miss next to the row.
    */
  def elevated(s1: QStat, s2: QStat): Boolean = {
    val l = lane(s1, s2) _
    l(s2) > 1.5 * l(s1) && l(s2) - l(s1) > 1.0
  }

  /** Pure health classification over both passes, kept free of
    * measurement side effects so BenchHealthSpec can drive every branch
    * with synthetic stats. A severe row is unhealthy wherever it sits in
    * the run order, and the pass-ratio gate compares raw wall totals:
    * pass 2 more than 1.2x pass 1 is a broad warm-pass slowdown.
    */
  def classify(stats: Seq[(String, QStat, QStat)]): Health = {
    val verdicts = stats.collect { case (n, s1, s2) if elevated(s1, s2) =>
      val l = lane(s1, s2) _
      Verdict(n, l(s1), l(s2), severe = anomalous(s1, s2))
    }
    val pass1Total = stats.map(_._2.sec).sum
    val pass2Total = stats.map(_._3.sec).sum
    val status =
      if (verdicts.exists(_.severe) || pass2Total > 1.2 * pass1Total) "unhealthy"
      else "ok"
    Health(verdicts, status)
  }

  /** One baseline row parsed out of a committed BENCH_DETAIL: per-query
    * min seconds, the scale it ran at, and — for replay rows — the
    * engine-owned share of that min (0.0 when the row is plain batch).
    */
  final case class PrevRow(sec: Double, sf: String, eng: Double = 0.0)
  /** This run's side of the same comparison. */
  final case class CurRow(name: String, sec: Double, sf: String,
                          eng: Double = 0.0)

  /** One drift verdict: `metric` names which lane compared —
    * "engine_sec" / "harness_sec" for replay rows whose both records
    * carry the split, "sec" otherwise.
    */
  final case class DriftFlag(name: String, prev: Double, now: Double,
                             metric: String)

  /** The CPU counts a record was measured with: the host's
    * `availableProcessors` and the engine's local cores
    * (`SPARK_GRAFT_CPUS`). Wall times measured with other counts are
    * another machine's numbers, so drift compares only equal counts.
    */
  final case class Cpus(host: Int, graft: Int)

  def readCpus(text: String): Option[Cpus] =
    for {
      h <- """"host_cpus":\s*(\d+)""".r.findFirstMatchIn(text)
      g <- """"spark_graft_cpus":\s*(\d+)""".r.findFirstMatchIn(text)
    } yield Cpus(h.group(1).toInt, g.group(1).toInt)

  /** Drift baseline: the per-query min seconds, sf, and engine share of
    * a committed BENCH_DETAIL, parsed with a regex over the format this
    * file itself writes (no JSON dep needed for a self-authored format).
    */
  def readPrevDetail(text: String, recordSf: String): Map[String, PrevRow] = {
    // whitespace-tolerant: a prettified committed record once parsed zero
    // rows with a strict regex and left the drift gate vacuous
    val row = """"([a-z0-9_]+)":\s*\{\s*"sec":\s*([0-9.]+)([^}]*)\}""".r
    val qsf = """"qsf":\s*"([^"]+)"""".r
    val engRx = """"engine_sec":\s*([0-9.]+)""".r
    row.findAllMatchIn(text).map { m =>
      val sf = qsf.findFirstMatchIn(m.group(3)).map(_.group(1)).getOrElse(recordSf)
      val eng = engRx.findFirstMatchIn(m.group(3)).map(_.group(1).toDouble)
        .getOrElse(0.0)
      m.group(1) -> PrevRow(m.group(2).toDouble, sf, eng)
    }.toMap
  }

  /** The baseline rows of a committed record, when it was measured with
    * `cpus`; otherwise the reason nothing is compared.
    */
  def baselineRows(text: String, cpus: Cpus): Either[String, Map[String, PrevRow]] =
    readCpus(text) match {
      case Some(c) if c == cpus =>
        val recSf = """"sf":\s*"([^"]+)"""".r.findFirstMatchIn(text)
          .map(_.group(1)).getOrElse("")
        Right(readPrevDetail(text, recSf))
      case Some(c) =>
        Left(s"baseline measured with host_cpus=${c.host}, " +
          s"spark_graft_cpus=${c.graft}; this run has ${cpus.host}, ${cpus.graft}")
      case None => Left("baseline records no CPU counts")
    }

  /** Pure drift classification (unit-tested by BenchHealthSpec): compare
    * this run's per-query (min-sec, sf) against a baseline record's,
    * flagging >`ratio`x AND >0.5 s absolute excess (the ratio alone
    * would flag 0.1 -> 0.2 s noise); rows whose sf changed between
    * records are incomparable and counted separately.
    *
    * ENGINE/HARNESS SPLIT: when BOTH records carry engine_sec for a row
    * (a replay row), the primary compare runs on ENGINE seconds — a real
    * plan or state-store regression — and the harness remainder (publish
    * waves, checkpoint setup, restarts) is flagged SEPARATELY, so
    * publish-choreography noise can never mask an engine regression
    * under the total, nor masquerade as one. Rows without the split on
    * both sides compare on total sec.
    *
    * Returns (flagged, compared, skipped_sf_changed, harness_flagged).
    */
  def driftFlags(prev: Map[String, PrevRow], cur: Seq[CurRow],
                 ratio: Double = 1.5)
      : (Seq[DriftFlag], Int, Int, Seq[DriftFlag]) = {
    val comparable = cur.flatMap { c =>
      prev.get(c.name).collect { case p if p.sf == c.sf => (c, p) }
    }
    val skipped = cur.count(c => prev.get(c.name).exists(_.sf != c.sf))
    // A previous min that rounded to 0.000 (sub-millisecond row) would
    // serialize ratio as Infinity — invalid JSON in the drift section —
    // but the row must NOT be exempt from detection: a 0.000 -> 10 s
    // regression is exactly what the gate exists for. Clamp the baseline
    // to one rounding quantum for the ratio math; the absolute-delta
    // gate (now - prev > 0.5) still filters sub-millisecond noise.
    def flag(name: String, p: Double, c: Double, metric: String) =
      if (c > ratio * math.max(p, 0.001) && c - p > 0.5)
        Some(DriftFlag(name, math.max(p, 0.001), c, metric))
      else None
    val flagged = comparable.flatMap { case (c, p) =>
      if (p.eng > 0 && c.eng > 0) flag(c.name, p.eng, c.eng, "engine_sec")
      else flag(c.name, p.sec, c.sec, "sec")
    }
    val harnessFlagged = comparable.flatMap { case (c, p) =>
      if (p.eng > 0 && c.eng > 0)
        flag(c.name, p.sec - p.eng, c.sec - c.eng, "harness_sec")
      else None
    }
    (flagged, comparable.size, skipped, harnessFlagged)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Replay rows (stream_*) are VERIFICATION HARNESSES — multi-query
    // micro-batch lifecycles whose wall is checkpoint/restart machinery,
    // not engine throughput; their semantics are oracle-proven at sf0.01
    // by Verify. At sf0.1, 16 of them carried ~115 s of a 247 s pass-2
    // headline and their per-pass JIT/class churn taxed NEIGHBORING
    // queries, so they run at sf0.001, declared per-row via "qsf" and
    // record-level via "replay_sf" so tooling never mis-joins the scales.
    val replaySfDir = sys.env.getOrElse("SPARK_GRAFT_REPLAY_SF_DIR",
      "/root/testdata/sf0.001")
    // state_* rows are the same replay harnesses (publish waves, restart,
    // then an offline checkpoint read): state_inspect_ann at sf0.1 was the
    // suite's most expensive row (13.9 s warm, 1329 pass-1 class loads),
    // and all of them are oracle-proven at sf0.01 by Verify
    def dirFor(name: String): String =
      if (name.startsWith("stream_") || name.startsWith("state_"))
        replaySfDir
      else sfDir
    // BENCH_DETAIL.json resolves against the repo root, not the process
    // CWD: walk up from CWD to the first directory holding build.sbt (the
    // sbt launch root), so a Bench launched from elsewhere still reads
    // its baseline and writes its record in one place.
    val repoRoot: java.nio.file.Path = {
      def up(p: java.nio.file.Path): Option[java.nio.file.Path] =
        if (p == null) None
        else if (java.nio.file.Files.exists(p.resolve("build.sbt"))) Some(p)
        else up(p.getParent)
      up(java.nio.file.Paths.get(sys.props("user.dir")).toAbsolutePath)
        .getOrElse(java.nio.file.Paths.get(".").toAbsolutePath.getParent)
    }
    val detailPath = repoRoot.resolve("BENCH_DETAIL.json")
    val graftCpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val cpus = Cpus(Runtime.getRuntime.availableProcessors(), graftCpus)
    // DRIFT baseline: the BENCH_DETAIL.json this run finds when it starts
    // (the last committed unfiltered record), read before anything
    // overwrites it
    val baseText: Either[String, String] =
      try Right(new String(java.nio.file.Files.readAllBytes(detailPath), "UTF-8"))
      catch { case e: java.io.IOException => Left(s"no readable baseline: $e") }
    val baseline = baseText.flatMap(baselineRows(_, cpus))
    val spark = GraftSession.local(graftCpus)
    // untimed warmup: JVM/JIT/codegen startup otherwise lands entirely on
    // whichever query sorts first (~5 s of pure session warmup). Covers the
    // scan/agg, join, and window execution paths so every timed query sees
    // a warmed engine.
    try {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
      o.groupBy("o_orderpriority").count()
        .join(o.select("o_orderpriority", "o_orderkey"), "o_orderpriority")
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_orderpriority").orderBy("o_orderkey")))
        .filter(col("rn") <= 3)
        .write.format("noop").mode("overwrite").save()
      // iterative join+agg shape (persist, child-session rounds, AQE loop
      // replanning): otherwise its whole-stage codegen + JIT cost lands on
      // the first clustering query instead of the engine warmup
      val pairs = spark.range(4).select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
      graft.operators.Dedup.connectedComponents(pairs, iters = 2, roundPartitions = 2)
        .write.format("noop").mode("overwrite").save()
      graft.operators.Dedup.releaseComponentCache(spark)
      // micro-batch machinery (MicroBatchExecution, state store, streaming
      // agg codegen): otherwise stream_page_counts' first pass reports
      // ~15 s of one-time streaming class load as its own cost (measured:
      // 22.1 s cold vs 6.6 s warm at sf0.1)
      graft.streaming.StreamReplay
        .streamedPageCounts(spark, "/root/testdata/sf0.001", numBatches = 2)
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // SPARK_GRAFT_ONLY=dedup_clusters,ngram_jaccard — driver runs unfiltered
    val only = SparkEntry.only
    val selected = SparkEntry.selected(only)
    // Per-query GC attribution: a query that inherits a heap full of the
    // previous queries' garbage reports THEIR cost as its own wall time.
    // Logging GC delta per query makes that interference visible instead of
    // letting it masquerade as a plan regression (six queries once
    // reported 6-12x their isolated times in-suite).
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    // Engine-health counters per pass: a healthy WARM pass compiles ~nothing
    // and loads ~no classes (codegen cache hits); a pass-2 collapse shows
    // as pass-2 jit_sec >> pass-1 with every plan re-loaded. Publishing the
    // deltas makes that failure mode visible in the record instead of only
    // inferable from per-query times.
    // getTotalCompilationTime throws UnsupportedOperationException when the
    // JVM doesn't support compilation-time monitoring — guard both the null
    // bean and the unsupported case.
    def jitMillis(): Long = Option(java.lang.management.ManagementFactory
      .getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .flatMap(b => scala.util.Try(b.getTotalCompilationTime).toOption)
      .getOrElse(0L)
    def classesLoaded(): Long = java.lang.management.ManagementFactory
      .getClassLoadingMXBean.getTotalLoadedClassCount
    def codeCacheMb(): Double = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala.filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum / 1048576.0
    // Per-query engine-health attribution: wall + gc + JIT-time delta +
    // classes-loaded delta. The class delta is the smoking gun for warm-pass
    // interference — a query that loads classes on pass 2 missed the codegen
    // cache (its generated source differs run-to-run), and each such load
    // CHA-invalidates hot compiled code, taxing its NEIGHBORS' wall time.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def loadAvg(): Double = osBean.getSystemLoadAverage
    // process CPU (-1 where the JVM cannot measure it: the field reads 0)
    def cpuSec(): Double = osBean match {
      case b: com.sun.management.OperatingSystemMXBean =>
        math.max(b.getProcessCpuTime, 0L) / 1e9
      case _ => 0.0
    }
    def measure(pass: String, name: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): QStat = {
      val gc0 = gcMillis()
      val j0 = jitMillis()
      val c0 = classesLoaded()
      val startMs = System.currentTimeMillis()
      val load0 = loadAvg()
      // engine-vs-harness split for replay rows: the replay harnesses
      // accumulate their processAllAvailable wall here
      graft.streaming.StreamReplay.EngineTimer.reset()
      val cpu0 = cpuSec()
      val t0 = System.nanoTime()
      // noop sink forces full materialization of every output column
      // (a bare .count() would let Catalyst prune the whole projection).
      try { fn(spark, dirFor(name)).write.format("noop").mode("overwrite").save() }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSec() - cpu0
      val eng = graft.streaming.StreamReplay.EngineTimer.engineSec
      val gc = (gcMillis() - gc0) / 1e3
      val jit = (jitMillis() - j0) / 1e3
      val cls = classesLoaded() - c0
      // release any per-query operator caches (connectedComponents' edge
      // set) so one query's storage footprint can't tax the next 50
      graft.operators.Dedup.releaseComponentCache(spark)
      System.err.println(
        f"[bench:$pass] $name%-22s $dt%8.2f s  (cpu $cpu%6.2f s, gc $gc%5.2f s, jit $jit%6.2f s, cls $cls%5d, load $load0%4.1f" +
          (if (eng > 0) f", eng $eng%5.2f s" else "") + ")")
      QStat(dt, gc, jit, cls, startMs, load0, eng = eng, cpu = cpu)
    }
    def runPass(pass: Int): Seq[(String, QStat)] =
      selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        name -> measure(pass.toString, name, fn)
      }
    // TWO full passes. Loading a query's freshly generated classes
    // invalidates CHA-based speculative inlining in already-JIT-compiled
    // code, so whichever query runs during the resulting deopt/recompile
    // window reports the storm's cost as its own (measured: the same query
    // 2.2 s vs 26.5 s across two suite runs, pure CPU, zero GC delta).
    // Pass 1 loads every plan's classes; by pass 2 the class set is stable
    // and each query measures its steady-state plan. Both pass walls are
    // published alongside the per-query mins.
    //
    // That holds only while the janino codegen cache holds one pass of the
    // suite: at its default 100 entries pass 2 got zero cache hits and
    // collapsed (269 s -> 624 s warm), re-running the deopt storm the
    // second pass exists to avoid. build.sbt sizes
    // spark.sql.codegen.cache.maxEntries to the suite (static conf); the
    // per-pass jit/classes/code-cache deltas recorded below make a
    // recurrence visible: healthy warm pass == near-zero pass-2 class
    // loads and jit seconds.
    var passJit = Vector.empty[(Double, Long, Double)] // (jit s, classes, codecache MB)
    def instrumented(pass: Int): Seq[(String, QStat)] = {
      val (j0, c0) = (jitMillis(), classesLoaded())
      val out = runPass(pass)
      passJit :+= (((jitMillis() - j0) / 1e3, classesLoaded() - c0, codeCacheMb()))
      out
    }
    val pass1 = instrumented(1)
    val pass2 = instrumented(2)
    val passTotals = Seq(pass1, pass2).map(_.map(_._2.sec).sum)
    // HEADLINE = the pass-2 wall total: a number a real pass actually
    // produced. A sum of per-query mins over both passes is a composite no
    // single run ever saw (it once sat at 147.4 s against real pass walls
    // of [432.7, 321.2] s and absorbed a ~172 s pass-2 anomaly). The
    // per-query steady-state floor stays available as "min_sec".
    val minTotal = pass1.zip(pass2)
      .map { case ((_, s1), (_, s2)) => math.min(s1.sec, s2.sec) }.sum
    val stats = pass1.zip(pass2).map { case ((n, s1), (_, s2)) => (n, s1, s2) }
    val hc = classify(stats)
    val total = passTotals.last
    // gc_sec binds to the same pass as the headline it accompanies
    val gcTotal = pass2.map(_._2.gc).sum
    val sfName = new java.io.File(sfDir).getName
    // DRIFT: per-query min vs the baseline record, flagged at >1.5x AND
    // >0.5 s absolute excess. Advisory — it never changes health status.
    // Rows whose sf changed between records are incomparable and counted
    // in "skipped_sf_changed"; a baseline measured with other CPU counts
    // compares nothing and says why in "reason".
    val (driftJson, driftFlagged) = locally {
      val cur = stats.map { case (n, s1, s2) =>
        val minStat = if (s1.sec <= s2.sec) s1 else s2
        CurRow(n, minStat.sec, new java.io.File(dirFor(n)).getName, minStat.eng)
      }
      val (flagged, compared, skipped, harness) =
        baseline.fold(_ => (Nil, 0, 0, Nil), driftFlags(_, cur))
      (flagged ++ harness).foreach { f =>
        System.err.println(f"[bench:drift] ${f.name} ${f.metric} ${f.prev}%.3f -> ${f.now}%.3f s")
      }
      System.err.println(s"[bench:drift] compared $compared rows" +
        baseline.left.toOption.fold("")(r => s" ($r)"))
      def fj(f: DriftFlag): String =
        f"""{"name":"${f.name}","prev":${f.prev}%.3f,"now":${f.now}%.3f,""" +
          f""""ratio":${f.now / f.prev}%.2f,"metric":"${f.metric}"}"""
      val baseCpus = baseText.toOption.flatMap(readCpus).fold(
        """"baseline_host_cpus":null,"baseline_spark_graft_cpus":null""")(c =>
        s""""baseline_host_cpus":${c.host},"baseline_spark_graft_cpus":${c.graft}""")
      val reason = baseline.left.toOption
        .fold("")(r => s""""reason":"${r.replace("\"", "'")}",""")
      (s"""{$baseCpus,"compared":$compared,"skipped_sf_changed":$skipped,""" +
        s"""$reason"flagged":${flagged.map(fj).mkString("[", ",", "]")},""" +
        s""""harness_flagged":${harness.map(fj).mkString("[", ",", "]")}}""",
        flagged.size)
    }
    val health = s"""{"status":"${hc.status}","ok":${hc.ok},""" +
      f""""pass_ratio":${passTotals.last / passTotals.head}%.2f,"""
    // Full-fidelity per-query record (min + both passes + gc, 3 decimals)
    // goes to a FILE in the repo — the stdout line is size-capped by the
    // recorder's 2000-char tail, the file is not. Never from a
    // SPARK_GRAFT_ONLY run: a filtered local iteration must not clobber
    // the committed full-suite record (nor the next run's baseline).
    if (only.isEmpty) locally {
      val verdictOf = hc.verdicts.map(v => v.name -> v).toMap
      val detail = stats.map { case (n, s1, s2) =>
        val flag = verdictOf.get(n).fold("")(v => s""","severe":${v.severe}""")
        // harness/engine split, bound to the same min pass as "sec":
        // replay rows' wall is mostly publish/restart choreography —
        // engine_sec is what the engine owns
        val minStat = if (s1.sec <= s2.sec) s1 else s2
        val split = if (minStat.eng > 0)
          f""""engine_sec":${minStat.eng}%.3f,""" +
            f""""harness_sec":${minStat.sec - minStat.eng}%.3f,"""
        else ""
        f"""  "$n":{"sec":${minStat.sec}%.3f,$split""" +
          f""""p1":${s1.sec}%.3f,"p2":${s2.sec}%.3f,""" +
          f""""cpu1":${s1.cpu}%.2f,"cpu2":${s2.cpu}%.2f,""" +
          f""""gc1":${s1.gc}%.2f,"gc2":${s2.gc}%.2f,""" +
          f""""jit1":${s1.jit}%.2f,"jit2":${s2.jit}%.2f,""" +
          f""""cls1":${s1.cls},"cls2":${s2.cls},""" +
          f""""t1":${s1.startMs},"t2":${s2.startMs},""" +
          f""""load1":${s1.load}%.1f,"load2":${s2.load}%.1f""" +
          (if (dirFor(n) != sfDir)
            s""","qsf":"${new java.io.File(dirFor(n)).getName}""""
          else "") + s"$flag}"
      }.mkString(",\n")
      val jit = passJit.zipWithIndex.map { case ((js, cl, cc), i) =>
        f""""pass${i + 1}":{"jit_sec":$js%.1f,"classes_loaded":$cl,"code_cache_mb":$cc%.1f}"""
      }.mkString("{", ",", "}")
      val anomalyJson = hc.verdicts.map { v =>
        f"""{"name":"${v.name}","p1":${v.p1}%.3f,"p2":${v.p2}%.3f,""" +
          s""""severe":${v.severe}}"""
      }.mkString("[", ",", "]")
      val body = f"""{"sf":"$sfName","total_sec":$total%.3f,""" +
        s""""headline":"$headlineMetric",""" +
        s""""queries_metric":"$headlineMetric",""" +
        s""""replay_sf":"${new java.io.File(replaySfDir).getName}",""" +
        s""""host_cpus":${cpus.host},"spark_graft_cpus":${cpus.graft},""" +
        f""""min_sec":$minTotal%.3f,""" +
        f""""gc_sec":$gcTotal%.2f,"pass_sec":[${passTotals.head}%.1f,""" +
        f"""${passTotals.last}%.1f],"jit":$jit,""" +
        s""""health":$health"anomalies":$anomalyJson},""" +
        s""""drift":$driftJson,""" +
        f""""queries":{\n$detail\n}}\n"""
      try java.nio.file.Files.write(detailPath, body.getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] BENCH_DETAIL.json write failed: $e")
      }
    }
    // The stdout JSON line must survive the recorder's 2000-char tail (a
    // line that overflowed it once parsed as null). Budget 1700 chars:
    // try full query maps at decreasing precision; if even dp=1 overflows
    // (the suite keeps growing), drop the FASTEST queries into an honest
    // "queries_omitted"/"omitted_sec" rollup — the slow ones are the
    // signal, the total stays exact, and the full map is in
    // BENCH_DETAIL.json. "value" stays the LAST key so the headline total
    // survives any future head-truncation. Per-query stdout numbers come
    // from pass 2, like the headline, so the line is internally consistent.
    val results = pass2.map { case (n, s) => n -> s.sec }
    def line(dp: Int, keep: Int): String = {
      val byTime = results.sortBy(-_._2)
      val (kept, dropped) = byTime.splitAt(math.min(keep, byTime.size))
      val qs = kept.sortBy(_._1).map { case (k, v) =>
        s"\"" + k + "\":" + String.format(s"%.${dp}f", Double.box(v))
      }.mkString("{", ",", "}")
      val omitted = if (dropped.isEmpty) ""
      else f""","queries_omitted":${dropped.size},"omitted_sec":${dropped.map(_._2).sum}%.1f"""
      val jitSec = passJit.map(j => f"${j._1}%.1f").mkString("[", ",", "]")
      s"""{"metric":"total","unit":"sec","sf":"$sfName",""" +
        s""""replay_sf":"${new java.io.File(replaySfDir).getName}",""" +
        s""""headline":"$headlineMetric",""" +
        s""""queries_metric":"$headlineMetric","queries":$qs$omitted,""" +
        s""""gc_sec":${f"$gcTotal%.2f"},"pass_sec":[${f"${passTotals.head}%.1f"},""" +
        s"""${f"${passTotals.last}%.1f"}],"jit_sec":$jitSec,""" +
        s""""min_sec":${f"$minTotal%.3f"},"health":$health""" +
        s""""anomalies":${hc.verdicts.size},""" +
        s""""severe":${hc.verdicts.count(_.severe)},""" +
        s""""drift_flagged":$driftFlagged},""" +
        s""""value":${f"$total%.3f"}}"""
    }
    val all = results.size
    val candidates = Seq((3, all), (2, all), (1, all)) ++
      Iterator.iterate(all - 5)(_ - 5).takeWhile(_ > 20).map((1, _)).toSeq
    println(candidates.map { case (dp, k) => line(dp, k) }
      .find(_.length <= 1700).getOrElse(line(1, 20)))
    spark.stop()
  }
}
