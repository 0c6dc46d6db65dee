package graft

import org.apache.spark.sql.functions._

import graft.operators.RelationalSuite

/** Randomized brute-force parity for the degree-oriented triangle kernel.
  * The orientation argument (edges directed low-(degree, id) -> high, a
  * triangle counted from exactly one of its three corners) is the kind of
  * claim a fixture hash can confirm but not defend — these tests grind it
  * against a three-nested-loop reference on random graphs, including the
  * shapes most likely to break it: degree TIES everywhere (the id
  * tie-break must induce a strict total order or a triangle of equal-degree
  * nodes is counted zero or three times), stars (wedge-heavy, zero
  * triangles), and cliques (every wedge closes). Seeded per sample:
  * failures reproduce.
  */
class GraphPropertySpec extends SparkSpec {
  import spark.implicits._

  private def bruteTriangles(edges: Set[(Long, Long)]): (Long, Long) = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    def has(a: Long, b: Long) = edges((math.min(a, b), math.max(a, b)))
    var tri = 0L
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.size
      if has(nodes(i), nodes(j))
      k <- (j + 1) until nodes.size
      if has(nodes(i), nodes(k)) && has(nodes(j), nodes(k))
    } tri += 1
    // oriented-wedge count reference: per node, out-degree under the
    // (degree, id) order; wedges = sum over nodes of C(outdeg, 2)
    val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    import scala.math.Ordering.Implicits._
    val out = edges.toSeq
      .map { case (a, b) =>
        if (implicitly[Ordering[(Long, Long)]].lt((deg(a), a), (deg(b), b))) a
        else b
      }
      .groupBy(x => x).map(_._2.size.toLong)
    val wedges = out.map(d => d * (d - 1) / 2).sum
    (wedges, tri)
  }

  private def kernel(edges: Set[(Long, Long)]): (Long, Long, Long) = {
    val df = edges.toSeq.toDF("pa", "pb")
    val r = RelationalSuite.triangleCount(df)
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"))
      .as[(Long, Long, Long)].head()
    r
  }

  test("random graphs: kernel equals the brute-force triangle and wedge counts") {
    (1 to 4).foreach { sample =>
      val rnd = new scala.util.Random(987000L + sample)
      val n = 12 + rnd.nextInt(10)
      // small id space + p=0.3 forces many degree ties
      val edges = (for {
        a <- 0L until n; b <- (a + 1) until n
        if rnd.nextDouble() < 0.3
      } yield (a, b)).toSet
      val (wWant, tWant) = bruteTriangles(edges)
      val (e, w, t) = kernel(edges)
      assert(e == edges.size && w == wWant && t == tWant,
        s"sample $sample: got (e=$e, w=$w, t=$t), want " +
          s"(e=${edges.size}, w=$wWant, t=$tWant)")
    }
  }

  /** Independent fixed-point PageRank: plain Maps, same integer update.
    * Because every operation is exact integer arithmetic, the kernel must
    * match this reference EXACTLY — no tolerance.
    */
  private def brutePagerank(directed: Seq[(Long, Long)],
                            iters: Int): Map[Long, Long] = {
    val scale = 1000000000000L
    val outdeg = directed.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    var r: Map[Long, Long] = outdeg.keys.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val inflow = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      directed.foreach { case (s, d) => inflow(d) += r(s) / outdeg(s) }
      r = inflow.map { case (n, m) => n -> (3 * (scale / 20) + 17 * m / 20) }.toMap
    }
    r
  }

  test("random graphs: fixed-point pagerank equals the in-memory reference exactly") {
    (1 to 3).foreach { sample =>
      val rnd = new scala.util.Random(443000L + sample)
      val n = 10 + rnd.nextInt(8)
      val und = (for {
        a <- 0L until n; b <- (a + 1) until n
        if rnd.nextDouble() < 0.35
      } yield (a, b)).toSet
      // both directions, so every touched node has out-degree >= 1 (the
      // kernel's contract, same construction as pagerankTrade)
      val directed = und.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val want = brutePagerank(directed, iters = 5)
      val got = RelationalSuite
        .pagerankFixedPoint(directed.toDF("src", "dst"), iters = 5)
        .as[(Long, Long)].collect().toMap
      assert(got == want,
        s"sample $sample: ${got.toSeq.sorted.take(5)} vs ${want.toSeq.sorted.take(5)}")
      graft.operators.Dedup.releaseComponentCache(spark)
    }
  }

  /** Per-round delta reference in plain Maps — the same exact integer
    * update as brutePagerank, additionally recording
    * sum(abs(r_i - r_{i-1})) each round.
    */
  private def bruteDeltas(directed: Seq[(Long, Long)],
                          iters: Int): Seq[Long] = {
    val scale = 1000000000000L
    val outdeg = directed.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    var r: Map[Long, Long] = outdeg.keys.map(_ -> scale).toMap
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (_ <- 1 to iters) {
      val inflow = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      directed.foreach { case (s, d) => inflow(d) += r(s) / outdeg(s) }
      val rNew = inflow.map { case (n, m) => n -> (3 * (scale / 20) + 17 * m / 20) }.toMap
      out += rNew.map { case (n, v) => math.abs(v - r(n)) }.sum
      r = rNew
    }
    out.toSeq
  }

  test("pagerank convergence audit: exact delta parity + measured contraction") {
    // parity on random graphs: the audit's BIGINT deltas must equal the
    // in-memory reference exactly (round-13 verdict ask #7 — convergence
    // is MEASURED, not asserted)
    (1 to 2).foreach { sample =>
      val rnd = new scala.util.Random(771000L + sample)
      val n = 10 + rnd.nextInt(8)
      val und = (for {
        a <- 0L until n; b <- (a + 1) until n
        if rnd.nextDouble() < 0.35
      } yield (a, b)).toSet
      val directed = und.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val want = bruteDeltas(directed, iters = 5)
      val got = RelationalSuite
        .pagerankConvergence(directed.toDF("src", "dst"), iters = 5)
        .as[(Int, Long)].collect().sortBy(_._1).map(_._2).toSeq
      assert(got == want, s"sample $sample: $got vs $want")
      graft.operators.Dedup.releaseComponentCache(spark)
    }
    // and on the WIRED fixture graph: deltas non-increasing, and each
    // round contracts by the damping factor 17/20 (plus an integer-
    // division slack of one ulp per edge-share term — 1e6 dwarfs it on
    // this fixture), so after 5 rounds the iteration is measurably
    // settling, not just asserted to
    val deltas = RelationalSuite
      .pagerankTradeConvergence(spark, "/root/testdata/sf0.001")
      .as[(Int, Long)].collect().sortBy(_._1).map(_._2).toSeq
    assert(deltas.size == 5 && deltas.head > 0)
    deltas.sliding(2).foreach { case Seq(prev, next) =>
      assert(next <= (17L * prev) / 20L + 1000000L,
        s"delta failed the 17/20 contraction bound: $deltas")
    }
    // compounded bound: four contractions at 17/20 = 0.85^4 ~ 0.5220 of
    // the first delta (plus the same integer-division slack)
    assert(deltas.last.toDouble <= 0.5221 * deltas.head + 5e6,
      s"5 rounds should contract the L1 delta to ~0.85^4 of round 1: $deltas")
    graft.operators.Dedup.releaseComponentCache(spark)
  }

  test("pagerank rounds reuse the edge cache's partitioning (no-broadcast path)") {
    // the at-scale join shape: neither side broadcastable. The kernel's
    // round-scoped child session copies this parent's conf, so the rounds
    // run SortMergeJoin — the shape where a re-shuffle of the cached edges
    // would actually cost an E-row exchange per round.
    val parent = GraftSession.child(spark)
    parent.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val rnd = new scala.util.Random(443099L)
    val und = (for {
      a <- 0L until 40L; b <- (a + 1) until 40L
      if rnd.nextDouble() < 0.2
    } yield (a, b)).toSet.toSeq
    import parent.implicits._
    val directed = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val ranks = RelationalSuite.pagerankFixedPoint(directed, iters = 3,
      roundPartitions = 8)
    ranks.collect()
    val lines = ranks.queryExecution.executedPlan.toString.linesIterator.toSeq
    assert(lines.exists(_.contains("SortMergeJoin")),
      "pin requires the shuffled-join path; plan fell back to broadcast")
    // an Exchange DIRECTLY above a TableCacheQueryStage = a round
    // re-shuffled the cached edges; AQE must have elided all of them
    val reShuffled = lines.zipWithIndex.filter { case (l, i) =>
      l.contains("Exchange hashpartitioning") &&
        lines.drop(i + 1).take(1).exists(_.contains("TableCacheQueryStage"))
    }
    assert(reShuffled.isEmpty,
      s"rounds re-shuffled the edge cache:\n${reShuffled.map(_._1).mkString("\n")}")
    graft.operators.Dedup.releaseComponentCache(parent)
  }

  test("adversarial shapes: star (no triangles), clique (all wedges close)") {
    // star: hub 0 with 8 leaves — 28 oriented wedges at the hub IF the
    // orientation pointed outward; low-degree-first points every edge
    // leaf -> hub, so wedges land at leaves: 0 out-pairs => 0 wedges
    val star = (1L to 8L).map(l => (0L min l, 0L max l)).toSet
    val (se, sw, st) = kernel(star)
    assert((se, st) == (8L, 0L), s"star: ($se, $st)")
    assert(sw == bruteTriangles(star)._1, s"star wedges: $sw")

    // K5: C(5,3) = 10 triangles, every orientation wedge closes
    val k5 = (for { a <- 0L until 5; b <- (a + 1) until 5 } yield (a, b)).toSet
    val (ke, kw, kt) = kernel(k5)
    assert((ke, kt) == (10L, 10L), s"K5: ($ke, $kt)")
    assert(kw == bruteTriangles(k5)._1 && kw == kt,
      s"K5 wedges must all close: $kw vs $kt")
  }

  test("recursive-CTE reachability equals in-memory BFS on random graphs") {
    (1 to 3).foreach { sample =>
      val rnd = new scala.util.Random(0xB13F5L + sample)
      val n = 10 + rnd.nextInt(6)
      val edges = (for {
        a <- 0L until n; b <- (a + 1) until n
        if rnd.nextInt(5) == 0 // sparse: multiple components + cycles
      } yield (a, b)).toSet
      if (edges.nonEmpty) {
        // reference BFS: min hops from the smallest endpoint, capped at 3
        val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
        val seed = edges.flatMap(e => Seq(e._1, e._2)).min
        val want = scala.collection.mutable.Map(seed -> 0)
        var frontier = Seq(seed)
        (1 to 3).foreach { h =>
          frontier = frontier.flatMap(adj.getOrElse(_, Nil))
            .filterNot(want.contains).distinct
          frontier.foreach(v => want(v) = h)
        }
        val got = RelationalSuite.graphReachabilityOf(spark,
            edges.toSeq.toDF("pa", "pb"))
          .as[(Long, Int)].collect().toMap
        assert(got == want.toMap,
          s"sample $sample (n=$n, |E|=${edges.size}): $got vs $want")
      }
    }
  }
}
