package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's pure cores: the warm-pass health gate (`classify`), the drift
  * compare (`driftFlags`), the baseline reader (`readPrevDetail`,
  * `baselineRows`) and the committed record's shape. Every branch is
  * driven with synthetic QStats and records: clean record, severe rows
  * (unhealthy wherever they sit in the run order), the elevated tier, the
  * pass-ratio gate, the engine lane of replay rows, and a baseline that
  * compares only when it was measured with this run's CPU counts.
  */
class BenchHealthSpec extends AnyFunSuite {
  import Bench.{QStat, classify}

  private def q(sec: Double, jit: Double = 0.0, cls: Long = 0): QStat =
    QStat(sec, gc = 0.0, jit = jit, cls = cls, startMs = 0L, load = 1.0)

  /** n queries, pass-1 = pass-2 = 1 s each, overridden per index. */
  private def stats(n: Int, p2Over: Map[Int, Double] = Map.empty)
      : Seq[(String, QStat, QStat)] =
    (0 until n).map(i => (f"q$i%02d", q(1.0), q(p2Over.getOrElse(i, 1.0))))

  /** The committed record, read from the repo root (the test JVM's CWD). */
  private def committedRecord(): String = {
    val p = java.nio.file.Paths.get("BENCH_DETAIL.json")
    assert(java.nio.file.Files.exists(p), "BENCH_DETAIL.json is not committed")
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }

  test("clean two-pass record: ok, headline binds to pass 2") {
    val h = classify(stats(10))
    assert(h.status == "ok" && h.ok && h.verdicts.isEmpty)
    assert(Bench.headlineMetric == "pass2")
  }

  test("severe anomaly reproduced by p3: unhealthy") {
    // no re-run is consulted any more: the severe pass-2 row itself is
    // the reproduction, and it flips the record
    val h = classify(stats(10, Map(4 -> 18.7)))
    assert(h.verdicts.map(v => (v.name, v.p1, v.p2, v.severe)) ==
      Seq(("q04", 1.0, 18.7, true)))
    assert(h.status == "unhealthy" && !h.ok)
  }

  test("anomaly with NO p3 measurement stays unattributed = unhealthy") {
    val h = classify(stats(10, Map(4 -> 18.7)))
    assert(h.status == "unhealthy" && !h.ok)
  }

  test("three contiguous severe rows classify unhealthy") {
    // adjacent in run order, the shape a contention band used to excuse
    // as "external": severe rows flip the record wherever they sit
    val h = classify(stats(12, Map(3 -> 9.0, 4 -> 8.0, 5 -> 7.5)))
    assert(h.verdicts.map(_.name) == Seq("q03", "q04", "q05"))
    assert(h.verdicts.forall(_.severe))
    assert(h.status == "unhealthy" && !h.ok)
  }

  test("committed drift section names its baseline's CPU counts") {
    // the record says which machine its drift baseline came from, and it
    // compared rows only when that machine's counts equal its own
    val text = committedRecord()
    val own = Bench.readCpus(text)
    assert(own.isDefined, "the record must publish host_cpus and spark_graft_cpus")
    val drift = """"drift":\{[^\[]*""".r.findFirstIn(text)
    assert(drift.isDefined, "the record has no drift section")
    val base = """"baseline_host_cpus":(null|\d+),"baseline_spark_graft_cpus":(null|\d+)""".r
      .findFirstMatchIn(drift.get)
    assert(base.isDefined, s"drift section does not name its baseline's CPU counts: ${drift.get}")
    val compared = """"compared":(\d+)""".r.findFirstMatchIn(drift.get).get.group(1).toInt
    if (compared > 0)
      assert(base.get.group(1) == own.get.host.toString &&
        base.get.group(2) == own.get.graft.toString,
        s"compared $compared rows against another machine's baseline: ${drift.get}")
    else assert(drift.get.contains(""""reason":"""),
      s"a drift section that compared nothing must say why: ${drift.get}")
  }

  test("headline metric constant is pass2 and matches any committed record") {
    // a record once switched pass2 -> pass1 silently; the metric is a
    // pinned constant, and any BENCH_DETAIL carrying the explicit
    // "headline" field must agree with it
    assert(Bench.headlineMetric == "pass2")
    val p = java.nio.file.Paths.get("BENCH_DETAIL.json")
    if (java.nio.file.Files.exists(p)) {
      val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      """"headline":"([a-z0-9]+)"""".r.findFirstMatchIn(text).foreach { m =>
        assert(m.group(1) == Bench.headlineMetric,
          s"committed BENCH_DETAIL headline ${m.group(1)} != pinned constant")
      }
    }
  }

  test("elevated tier (round-13 ask #2): 1.5x-3x rows get verdicts, not unhealthy alone") {
    // embed_ivfpq's shape: 1.67 -> 3.14 s (1.9x, non-severe). The row is
    // recorded, but only the SEVERE tier flips the record by itself.
    val h = classify(Seq(("ivfpq", q(1.67), q(3.14))) ++ stats(9))
    assert(h.verdicts.size == 1 && !h.verdicts.head.severe)
    assert(h.status == "ok", s"an elevated row must not flip status: $h")
  }

  test("scattered anomalies (no band): unhealthy even when >=3") {
    val h = classify(stats(20, Map(0 -> 9.0, 9 -> 8.0, 19 -> 7.5)))
    assert(h.status == "unhealthy")
  }

  test("broad un-attributed pass-2 blowup fails the ratio gate") {
    // every query 1.5x slower warm: no single anomaly, but pass ratio 1.5
    val h = classify((0 until 10).map(i => (s"q$i", q(1.0), q(1.5))))
    assert(h.verdicts.isEmpty && h.status == "unhealthy")
  }

  test("tier boundaries: 2.9x is elevated-not-severe; sub-1s excess flags nothing") {
    // "a" 1.0 -> 2.9 s: elevated (gets a verdict) but below the severe 3x;
    // "b" 0.2 -> 0.9 s: >3x ratio yet under the 1 s absolute floor of BOTH
    // tiers — never flagged. 20 flat rows keep the two rows' 2.6 s of
    // excess under the 1.2x ratio gate: the boundary under test is the
    // tiers alone
    val h = classify(
      Seq(("a", q(1.0), q(2.9)), ("b", q(0.2), q(0.9))) ++
        stats(20).map { case (n, s1, s2) => (n + "x", s1, s2) })
    assert(h.verdicts.map(_.name) == Seq("a"))
    assert(!h.verdicts.head.severe)
    assert(h.status == "ok")
  }

  test("pass-2 jit/class loads disqualify the SEVERE flag but not the elevated verdict") {
    // jit/cls attribute the slowness to a codegen-cache miss, so the row
    // is never severe — but it is still an elevated verdict, and its
    // excess still counts toward the ratio gate
    val h = classify(
      Seq(("a", q(1.0), q(9.0, jit = 2.0, cls = 1000))) ++ stats(9))
    assert(h.verdicts.size == 1 && !h.verdicts.head.severe)
    assert(h.status == "unhealthy")
  }

  test("replay rows gate on the ENGINE lane (r16 ask #8): harness jitter cannot flag") {
    // a replay row whose WALL doubles under load but whose engine wall is
    // flat: publish/restart choreography jitter — no verdict at all
    val harnessNoise = (0 until 10).map { i =>
      if (i == 4)
        ("q04", QStat(3.0, 0, 0, 0, 0L, 1.0, eng = 1.0),
          QStat(8.0, 0, 0, 0, 0L, 3.0, eng = 1.1))
      else (f"q$i%02d", q(1.0), q(1.0))
    }
    assert(classify(harnessNoise).verdicts.isEmpty)
    // the same row with a REAL engine regression flags severe, and its
    // verdict reports the engine lane's seconds
    val engineReg = (0 until 10).map { i =>
      if (i == 4)
        ("q04", QStat(3.0, 0, 0, 0, 0L, 1.0, eng = 1.0),
          QStat(8.0, 0, 0, 0, 0L, 1.0, eng = 6.0))
      else (f"q$i%02d", q(1.0), q(1.0))
    }
    val flagged = classify(engineReg)
    assert(flagged.verdicts.size == 1 && flagged.verdicts.head.severe &&
      flagged.verdicts.head.p1 == 1.0 && flagged.verdicts.head.p2 == 6.0,
      s"engine-lane verdict wrong: ${flagged.verdicts}")
    assert(flagged.status == "unhealthy")
    // a plain batch row (eng = 0) still gates on wall
    val batch = stats(10, Map(4 -> 8.0))
    assert(classify(batch).verdicts.size == 1)
  }

  test("driftFlags: ratio+absolute gate, sf-changed rows skipped, new rows ignored") {
    import Bench.{CurRow, PrevRow}
    val prev = Map(
      "q_slow"   -> PrevRow(2.0, "sf0.1"), // 2.0 -> 5.0: >1.5x, >0.5s -> flagged
      "q_noise"  -> PrevRow(0.1, "sf0.1"), // 0.1 -> 0.3: 3x but only 0.2s -> no
      "q_ok"     -> PrevRow(3.0, "sf0.1"), // 3.0 -> 3.2: fine
      "q_zero"   -> PrevRow(0.0, "sf0.1"), // prev rounded to 0.000: a real
                                           // regression STILL flags, baseline
                                           // clamped to 0.001 so the recorded
                                           // ratio stays finite
      "q_zfast"  -> PrevRow(0.0, "sf0.1"), // 0.000 -> 0.3: under the 0.5s
                                           // absolute gate -> noise, not drift
      "q_moved"  -> PrevRow(4.0, "sf0.1")) // sf changed -> skipped, never flagged
    val cur = Seq(
      CurRow("q_slow", 5.0, "sf0.1"), CurRow("q_noise", 0.3, "sf0.1"),
      CurRow("q_ok", 3.2, "sf0.1"), CurRow("q_zero", 0.9, "sf0.1"),
      CurRow("q_zfast", 0.3, "sf0.1"),
      CurRow("q_moved", 0.4, "sf0.001"),
      CurRow("q_new", 9.9, "sf0.1")) // absent from prev -> not comparable
    val (flagged, compared, skipped, harness) = Bench.driftFlags(prev, cur)
    assert(flagged.map(f => (f.name, f.prev, f.now, f.metric)).toSet ==
      Set(("q_slow", 2.0, 5.0, "sec"), ("q_zero", 0.001, 0.9, "sec")))
    assert(compared == 5 && skipped == 1 && harness.isEmpty)
  }

  test("driftFlags engine lane (r15 ask #7): engine drift flags, harness noise flags separately") {
    import Bench.{CurRow, PrevRow}
    val prev = Map(
      // replay row, both records carry the split: engine regressed
      // (1.0 -> 2.6) while TOTAL only 1.44x (4.5 -> 6.5, under 1.5x) —
      // the old total-sec gate would have stayed silent
      "stream_eng" -> PrevRow(4.5, "sf0.001", eng = 1.0),
      // harness blowup: engine flat (2.0 -> 2.1), choreography 1.0 -> 4.0;
      // total 3.0 -> 6.1 would have flagged as if the ENGINE regressed
      "stream_har" -> PrevRow(3.0, "sf0.001", eng = 2.0),
      // split on one side only (old snapshot predates it) -> sec lane
      "stream_old" -> PrevRow(2.0, "sf0.001"))
    val cur = Seq(
      CurRow("stream_eng", 6.5, "sf0.001", eng = 2.6),
      CurRow("stream_har", 6.1, "sf0.001", eng = 2.1),
      CurRow("stream_old", 5.0, "sf0.001", eng = 1.0))
    val (flagged, compared, _, harness) = Bench.driftFlags(prev, cur)
    assert(compared == 3)
    assert(flagged.map(f => (f.name, f.metric)).toSet ==
      Set(("stream_eng", "engine_sec"), ("stream_old", "sec")),
      s"engine lane must flag the engine regression and the legacy row: $flagged")
    assert(harness.map(f => (f.name, f.metric)) ==
      Seq(("stream_har", "harness_sec")),
      s"harness drift must flag separately, never as engine: $harness")
  }

  test("committed record publishes its CPU counts and per-row CPU seconds") {
    // the record a later run drifts against: the two counts decide whether
    // it is comparable at all, and every row carries both passes' process
    // CPU seconds beside their walls
    val text = committedRecord()
    val cpus = Bench.readCpus(text)
    assert(cpus.exists(c => c.host >= 1 && c.graft >= 1), s"CPU counts: $cpus")
    val rows = """"([a-z0-9_]+)":\{"sec":[^}]*\}""".r.findAllMatchIn(text).toSeq
    assert(rows.nonEmpty, "the record has no query rows")
    val missing = rows.filterNot(m =>
      m.matched.contains(""""cpu1":""") && m.matched.contains(""""cpu2":"""))
    assert(missing.isEmpty, s"rows without cpu1/cpu2: ${missing.map(_.group(1))}")
  }

  test("readPrevDetail parses its own row format, qsf overrides record sf") {
    // the exact shape Bench writes: sec first, optional qsf, trailing
    // verdict fields to prove the [^}]* scan stays inside one row
    val text =
      """{"sf":"sf0.1","queries":{
        |  "q_engine":{"sec":2.300,"p1":2.400,"p2":2.300,"load2":0.5},
        |  "stream_x":{"sec":1.100,"p1":1.200,"p2":1.100,"qsf":"sf0.001"},
        |  "q_flagged":{"sec":5.010,"p1":5.200,"p2":5.010,"verdict":"transient"}
        |}}""".stripMargin
    val m = Bench.readPrevDetail(text, "sf0.1")
    assert(m("q_engine") == Bench.PrevRow(2.3, "sf0.1"))
    assert(m("stream_x") == Bench.PrevRow(1.1, "sf0.001"))
    assert(m("q_flagged").sec == 5.01)
    // the jit "pass1"/"pass2" objects never match (they lack a "sec" key)
    assert(!m.contains("pass1"))
    // the engine split parses when present (r15 rows)
    val withEng =
      """{"sf":"sf0.1","queries":{
        |  "stream_y":{"sec":3.100,"engine_sec":2.400,"harness_sec":0.700,"p1":3.2,"qsf":"sf0.001"}
        |}}""".stripMargin
    assert(Bench.readPrevDetail(withEng, "sf0.1")("stream_y") ==
      Bench.PrevRow(3.1, "sf0.001", eng = 2.4))
  }

  test("readPrevDetail survives a prettified committed record") {
    // round 13: a tooling pass committed an indent-formatted record and
    // the strict regex parsed ZERO rows — the drift gate went vacuous for
    // one run (drift.compared: 0). The parser must be whitespace-tolerant.
    val pretty =
      """{
        | "sf": "sf0.1",
        | "queries": {
        |  "q_engine": {
        |   "sec": 2.3,
        |   "p1": 2.4
        |  },
        |  "stream_x": {
        |   "sec": 1.1,
        |   "qsf": "sf0.001"
        |  }
        | }
        |}""".stripMargin
    val m = Bench.readPrevDetail(pretty, "sf0.1")
    assert(m("q_engine") == Bench.PrevRow(2.3, "sf0.1"), s"parsed: $m")
    assert(m("stream_x") == Bench.PrevRow(1.1, "sf0.001"), s"parsed: $m")
  }

  test("a baseline with a different CPU count compares nothing and says why") {
    val text = """{"sf":"sf0.1","host_cpus":32,"spark_graft_cpus":8,"queries":{
      |  "q_slow":{"sec":1.000,"p1":1.1,"p2":1.0}
      |}}""".stripMargin
    val other = Bench.baselineRows(text, Bench.Cpus(host = 4, graft = 8))
    assert(other.left.exists(r => r.contains("host_cpus=32") &&
      r.contains("spark_graft_cpus=8")), s"reason: $other")
    // a record that predates the counts is not comparable either
    val old = Bench.baselineRows(
      """{"sf":"sf0.1","queries":{"q_slow":{"sec":1.0}}}""", Bench.Cpus(4, 4))
    assert(old.left.exists(_.contains("no CPU counts")), s"reason: $old")
  }

  test("a baseline with the same CPU counts compares") {
    import Bench.{CurRow, PrevRow}
    val text = """{"sf":"sf0.1","host_cpus":4,"spark_graft_cpus":4,"queries":{
      |  "graph_reachability":{"sec":3.440,"p1":5.0,"p2":3.44,"cpu1":12.1,"cpu2":9.9},
      |  "triangle_coocc":{"sec":3.750,"p1":6.2,"p2":3.75,"cpu1":14.0,"cpu2":11.0}
      |}}""".stripMargin
    val rows = Bench.baselineRows(text, Bench.Cpus(host = 4, graft = 4))
    assert(rows == Right(Map(
      "graph_reachability" -> PrevRow(3.44, "sf0.1"),
      "triangle_coocc" -> PrevRow(3.75, "sf0.1"))), s"rows: $rows")
    val (flagged, compared, _, _) = Bench.driftFlags(rows.toOption.get, Seq(
      CurRow("graph_reachability", 12.59, "sf0.1"),
      CurRow("triangle_coocc", 3.9, "sf0.1")))
    assert(compared == 2)
    assert(flagged.map(_.name) == Seq("graph_reachability"), s"flags: $flagged")
  }
}
