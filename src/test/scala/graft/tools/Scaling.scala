package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Scaling-slope measurement behind SCALING.json (round-10 verdict ask
  * #4): turns the "100 TB-shaped / sub-quadratic" claims for the flagship
  * dedup/ANN families from plan-reading into a measured artifact. For
  * each flagship query, wall time is taken at every fixture scale
  * (min-of-2 same-JVM passes after a warmup pass) and the log-log slope
  * is computed against the INPUT ROW COUNT of the query's driving table —
  * documents and embeddings hold 500 rows at BOTH sf0.001 and sf0.01, so
  * the only real decade for these families is sf0.01 -> sf0.1 and sf
  * labels alone would understate the step. A pair-generating quadratic
  * (the failure mode LSH banding / df-pruning / block bounding exist to
  * prevent) shows slope ~2 over a 10x row step; the gate requires < 2,
  * with generous headroom for machine noise because constant per-query
  * overhead only DEFLATES the measured slope. ScalingSpec runs the same
  * measurement as a regression gate; this main writes the full artifact:
  * sbt "Test/runMain graft.tools.Scaling"
  */
object Scaling {

  /** Flagship families + their driving table (for the row-count axis).
    * Round 11 widened the set from the original six to every pair-risk
    * family: each of these has a plausible quadratic implementation (all
    * pairs, per-sentence cross joins, full cosine matrices) that the
    * shipped banding / df-pruning / cell-keying / block-bounding designs
    * exist to avoid — so each gets a measured slope, not just a plan
    * argument.
    */
  val flagship: Seq[(String, String)] = Seq(
    "dedup_exact" -> "documents",
    "minhash_pairs" -> "documents",
    "substring_dedup" -> "documents",
    "sentence_dedup" -> "documents",
    "passage_dedup" -> "documents",
    "ngram_jaccard" -> "documents",
    "delta_dedup" -> "documents",
    "embed_neardup_lsh" -> "embeddings",
    "embed_ivf" -> "embeddings",
    "semdedup" -> "embeddings",
    "embed_topk" -> "embeddings",
    // 16x token fan-out per pair (4x4 sub-vector cosines) is the
    // quadratic-looking part; queries stay a fixed broadcast, so the
    // corpus-token pass must measure linear in |embeddings|
    "late_interaction" -> "embeddings",
    // shingle-postings retrieval: the quadratic failure mode is a
    // stopword/boilerplate posting list joined against broad queries —
    // the df-cap + broadcast query set must hold the corpus pass linear
    "lexical_retrieval" -> "documents",
    // same postings + one extra skinny aggregate (dl); the quadratic
    // failure mode is identical to lexical_retrieval's and the dl join
    // adds a second one (corpus-length table shuffled for the join) —
    // both must hold the corpus pass linear
    "bm25_retrieval" -> "documents",
    "train_corpus" -> "documents",
    // the build-once/serve-many split's SERVE half (round 17): the first
    // (warmup) invocation per scale builds the parquet artifacts via the
    // session-cached root, so the measured passes time pure serving —
    // loaded postings/cells + pruned query reads. The quadratic failure
    // mode is the same stopword-posting join as lexical_retrieval's plus
    // an unpruned corpus re-scan, both of which the PlanSpec pin and the
    // df-cap exist to prevent; the slope must track the INDEX size,
    // linearly. (index_build is deliberately not a family: the artifact
    // cache would make its measured passes time a manifest read, not the
    // build.)
    "index_serve" -> "documents",
    // graph kernels (round-14 verdict ask #1): the last pair-risk shapes
    // without a measured slope. triangle_coocc's wedge self-join is
    // O(m^1.5) BY DESIGN (degree orientation bounds out-degree at
    // sqrt(m)) — a lost orientation key lands it at sum-of-deg² ~ slope 2;
    // pagerank's rounds shuffle rank-vector + edge-contribution sized
    // data; graph_reachability's bounded-hop path enumeration grows with
    // degree^hops and must stay tamed by the support>=2 edge prune. All
    // three drive off LINEITEM, which (unlike documents/embeddings)
    // grows at every fixture scale — three real decades — plus the
    // generated 6M-row sf1g slice (round-15 ask #6) as a fourth, where
    // hubs and support-2 edges actually form. The sf1x/sf3x dirs carry
    // no lineitem and are skipped by run()'s table-existence filter;
    // sf1g rides in via extraDirs like the embedding slices.
    "triangle_coocc" -> "lineitem",
    "pagerank" -> "lineitem",
    "graph_reachability" -> "lineitem")

  final case class Point(sf: String, rows: Long, sec: Double)
  final case class Result(name: String, points: Seq[Point], slope: Double)

  def rowCount(spark: SparkSession, dir: String, table: String): Long =
    spark.read.parquet(s"$dir/$table.parquet").count()

  /** SECOND measured decade for the corpus tables (round-11 verdict ask
    * #4): the driver fixtures hold 500 documents at BOTH sf0.001 and
    * sf0.01 and 5,000 at sf0.1, so every slope previously rested on the
    * single 500 -> 5,000 decade. This builds a 50,000-document /
    * 20,000-embedding "sf1x" slice ONCE under target/ (deterministic
    * seed, cached behind a _DONE marker), derived from the sf0.1
    * fixtures' own empirical distributions — word frequencies, document
    * lengths, lang x source mix, the fixture's ~0.16% exact-duplicate
    * rate (planted as regenerable doc_id pairs), and per-label embedding
    * centroids + dispersion so IVF/LSH cell occupancy keeps its shape.
    * Used ONLY for this scaling measurement; correctness oracles read
    * the driver fixtures untouched.
    *
    * ONE deliberate departure from the empirical text distribution: the
    * fixtures draw from a 31-word vocabulary, whose 31^3 = 29,791
    * trigram space is 99% SATURATED by 50k docs (measured) — every
    * shingle's df then grows linearly with N and the exact-Jaccard
    * candidate set (pairs sharing any shingle) is itself Theta(N^2)
    * (127M pairs measured at 50k docs), so a distribution-matched slice
    * would measure corpus degeneracy, not operator scaling. Real corpora
    * obey Heaps' law: most trigram occurrences are near-unique. sf1x
    * models that by drawing each word from a scale-proportional rare
    * pool with probability 1/2 (tail vocabulary ~ N/2, Heaps exponent
    * ~1) and the empirical 31-word distribution otherwise — common-
    * trigram df stays bounded at this decade, singleton trigrams
    * dominate, and the postings join measures its true linear shape.
    * The saturated-corpus behavior is documented (with numbers) in
    * ngramJaccardPairs' scaladoc rather than hidden in the artifact.
    */
  def extendedDir(spark: SparkSession, base: String = "/root/testdata/sf0.1",
                  docs: Int = 50000, vecs: Int = 20000,
                  name: String = "sf1x"): String = {
    import spark.implicits._
    val dir = new java.io.File(s"target/$name").getAbsolutePath
    val done = new java.io.File(s"$dir/_DONE")
    // local (closure-captured) twin of the cumulative-frequency search:
    // referencing an object method from the .map lambdas would drag the
    // whole non-serializable Scaling module into the task closure
    def lowerBound(arr: Array[Long], t: Long): Int = {
      var lo = 0
      var hi = arr.length - 1
      while (lo < hi) {
        val mid = (lo + hi) / 2
        if (arr(mid) > t) hi = mid else lo = mid + 1
      }
      lo
    }
    if (!done.exists) {
      val src = spark.read.parquet(s"$base/documents.parquet")
      // empirical word frequencies + length sample + (lang, source) mix:
      // small driver-side tables (vocab of a word-soup fixture), then a
      // distributed, per-row-deterministic regeneration at 10x rows
      val vocab = src.select(org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.split($"text", " ")).as("w"))
        .groupBy("w").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).filter(_._1.nonEmpty)
      val cum = vocab.scanLeft(("", 0L)) { case ((_, acc), (w, c)) => (w, acc + c) }
        .drop(1)
      val totalW = cum.last._2
      val lens = src.select($"n_chars").as[Long].collect()
      val mix = src.groupBy("lang", "source").count().collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val cumMix = mix.scanLeft(("", "", 0L)) { case ((_, _, acc), (l, s, c)) =>
        (l, s, acc + c)
      }.drop(1)
      val totalMix = cumMix.last._3
      // hoisted once: rebuilding the cumulative array PER WORD was an
      // O(|vocab|) allocation in the hot loop — unnoticeable at 50k
      // docs, dominant at the 500k slice
      val cumW = cum.map(_._2)
      val cumM = cumMix.map(_._3)
      def pickWord(rnd: scala.util.Random): String = {
        val t = (rnd.nextDouble() * totalW).toLong
        cum(lowerBound(cumW, t))._1
      }
      // Heaps-law tail vocabulary (see scaladoc): half the words come
      // from a rare pool sized ~ N/2 so trigram df stays bounded the way
      // real text keeps it, instead of the 31-word fixture vocabulary
      // saturating its trigram space
      val rareK = math.max(1000, docs / 2)
      def genText(docId: Long): String = {
        val rnd = new scala.util.Random(docId * 6364136223846793005L + 11L)
        val target = lens(rnd.nextInt(lens.length))
        val sb = new StringBuilder
        while (sb.length < target) {
          if (sb.nonEmpty) sb += ' '
          if (rnd.nextBoolean()) sb ++= "u" + rnd.nextInt(rareK)
          else sb ++= pickWord(rnd)
        }
        sb.toString
      }
      val genDocs = spark.range(docs.toLong).map { id =>
        // plant the fixture's exact-duplicate rate: 1 pair per 625 docs
        // (80 in 50k ~ 0.16%), regenerable because text IS a pure
        // function of doc_id — no join, no driver lookup
        val textId: Long = if (id % 625 == 624 && id >= 300) id - 300 else id
        val text = genText(textId)
        val rnd = new scala.util.Random(id * -7046029254386353131L + 3L)
        val m = (rnd.nextDouble() * totalMix).toLong
        val (lang, source, _) = cumMix(lowerBound(cumM, m))
        (id, text, lang, source, text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      genDocs.coalesce(4).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      genEmbeddings(spark, base, s"$dir/embeddings.parquet", vecs)
      done.createNewFile()
    }
    dir
  }

  /** Embeddings resample shared by the sf1x and sf3x slices: per-label
    * centroid + average dispersion from the fixture, gaussian resample at
    * the requested count — preserves the cluster geometry IVF cell
    * occupancy and LSH bucket load depend on. Per-row deterministic
    * (vector is a pure function of vec_id), so any slice regenerates
    * bit-identically.
    */
  def genEmbeddings(spark: SparkSession, base: String, outPath: String,
                    vecs: Int): Unit = {
    import spark.implicits._
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val byLabel = emb.select($"label", $"embedding").as[(Int, Array[Float])]
      .collect().groupBy(_._1).map { case (l, rows) =>
        val dim = rows.head._2.length
        val mean = new Array[Double](dim)
        rows.foreach(r => (0 until dim).foreach(i => mean(i) += r._2(i)))
        (0 until dim).foreach(i => mean(i) /= rows.length)
        var varSum = 0.0
        rows.foreach(r => (0 until dim).foreach(i =>
          varSum += math.pow(r._2(i) - mean(i), 2)))
        val sigma = math.sqrt(varSum / (rows.length.toLong * dim))
        l -> (mean, sigma)
      }
    val labels = byLabel.keys.toArray.sorted
    val genVecs = spark.range(vecs.toLong).map { id =>
      val rnd = new scala.util.Random(id * 2862933555777941757L + 7L)
      val label = labels(rnd.nextInt(labels.length))
      val (mean, sigma) = byLabel(label)
      val v = mean.map(m => (m + rnd.nextGaussian() * sigma).toFloat)
      (id, v, label)
    }.toDF("vec_id", "embedding", "label")
    genVecs.coalesce(4).write.mode("overwrite").parquet(outPath)
  }

  /** Third embeddings decade (round-12 verdict ask #4): a 200,000-vector
    * "sf3x" slice — embeddings ONLY — so the vector families keep two
    * honest measured decades (2k -> 20k -> 200k). Measured for the
    * families whose kernels are linear in corpus size (occupancy-bounded
    * LSH, probed-cell IVF, per-query brute force); semdedup is excluded:
    * its fixture calibration pins EIGHT seeded centroids, so per-cell
    * occupancy — and the cell-keyed pair kernel — grows linearly-squared
    * with n by construction. Its scale path is k ∝ n (kmeansCentroids),
    * which the fixed-centroid wired query deliberately does not exercise.
    */
  val sf3xFamilies: Set[String] = Set("embed_neardup_lsh", "embed_ivf",
    "embed_topk")

  def extended3xDir(spark: SparkSession,
                    base: String = "/root/testdata/sf0.1",
                    vecs: Int = 200000): String = {
    val dir = new java.io.File("target/sf3x").getAbsolutePath
    val done = new java.io.File(s"$dir/_DONE")
    if (!done.exists) {
      genEmbeddings(spark, base, s"$dir/embeddings.parquet", vecs)
      done.createNewFile()
    }
    dir
  }

  /** Third measured decade for the LEXICAL corpus (round-17 verdict ask
    * #5): a 500,000-document "sf3xd" slice — the retrieval families'
    * slopes (postings join, serve path, build) previously ended at 50k
    * docs while the vector families had a 200k decade. Documents scale
    * 10× past sf1x (same Heaps-law generator, rare pool ∝ N); the
    * embeddings table stays at the sf1x count DELIBERATELY, so the
    * measured step isolates the lexical corpus — the semantic tail of
    * index_serve is a held-fixed control, and bm25/lexical never read
    * embeddings at all.
    */
  val sf3xdFamilies: Set[String] = Set("lexical_retrieval",
    "bm25_retrieval", "index_serve")

  def extended3xDocsDir(spark: SparkSession): String =
    extendedDir(spark, docs = 500000, vecs = 20000, name = "sf3xd")

  /** Least-squares log-log slope over (rows, sec) points — the one
    * definition run() and the index_build measurement share.
    */
  def fitSlope(pts: Seq[Point]): Double = {
    val xs = pts.map(p => math.log(p.rows.toDouble))
    val ys = pts.map(p => math.log(p.sec))
    val mx = xs.sum / xs.size
    val my = ys.sum / ys.size
    val sxx = xs.map(x => (x - mx) * (x - mx)).sum
    if (sxx == 0) Double.NaN
    else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }

  /** index_build measured WITHOUT the artifact cache (round-17 ask #5):
    * the wired query resolves the durable store, so its repeat passes
    * time a manifest read — here each pass writes the full artifact set
    * into a fresh throwaway root via the same writeIndexArtifacts body
    * the store's build path runs, timing the actual two-corpus-scan
    * build at every scale.
    */
  def indexBuildResult(spark: SparkSession, dirs: Seq[String]): Result = {
    def deleteTree(root: java.nio.file.Path): Unit =
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: java.io.IOException => () }
    def buildOnce(d: String): Double = {
      val tmp = java.nio.file.Files.createTempDirectory("scaling_idx")
      val t0 = System.nanoTime()
      graft.operators.SimilaritySuite.writeIndexArtifacts(spark, d,
        tmp.toString)
      val sec = (System.nanoTime() - t0) / 1e9
      deleteTree(tmp)
      sec
    }
    buildOnce(dirs.head) // warmup: codegen + JIT for the build plans
    val pts = dirs.map { d =>
      Point(new java.io.File(d).getName, rowCount(spark, d, "documents"),
        math.min(buildOnce(d), buildOnce(d)))
    }
    Result("index_build", pts, fitSlope(pts))
  }

  /** STREAMING scaling point (round-18 verdict ask #6): the O(1)-per-
    * arrival claims for the online indexes were argued from state shape
    * but never measured — this measures the heaviest retention replay
    * (stream_asof_ttl: order revisions into the windowed per-customer
    * revision index, event probes against it, restart + redelivery +
    * full-compaction incarnations) in its ENGINE lane (EngineTimer wraps
    * processAllAvailable — the micro-batch execution the engine owns,
    * excluding publish/checkpoint choreography) against TOTAL WIRE
    * ARRIVALS (events + orders, which scale together 10× per fixture
    * step). Measured (quiet window): engine seconds are FLAT across the
    * two decades — 5.7 / 5.1 / 6.6 s over 2.5k / 25k / 250k arrivals,
    * slope ~0.03 — i.e. per-arrival work is sub-measurable next to the
    * per-micro-batch constants (planning, state-store commit), exactly
    * what O(1)-per-arrival keyed point-lookups should look like at
    * fixture scale. The failure mode this gate watches for is a slope
    * CLIMBING toward 1..2: per-arrival work growing with stream length
    * (a state scan the retention design exists to bound) would surface
    * as the arrival-proportional term overtaking the constants.
    */
  def streamAsOfTtlResult(spark: SparkSession, dirs: Seq[String]): Result = {
    def engineOnce(d: String): Double = {
      graft.streaming.StreamReplay.EngineTimer.reset()
      graft.streaming.StreamReplay.streamedAsOfTtl(spark, d)
        .write.format("noop").mode("overwrite").save()
      graft.streaming.StreamReplay.EngineTimer.engineSec
    }
    engineOnce(dirs.head) // warmup: streaming codegen + RocksDB classes
    val pts = dirs.map { d =>
      val arrivals = rowCount(spark, d, "events") +
        rowCount(spark, d, "orders")
      Point(new java.io.File(d).getName, arrivals,
        math.min(engineOnce(d), engineOnce(d)))
    }
    Result("stream_asof_ttl", pts, fitSlope(pts))
  }

  /** The graph families measured on the generated sf1-scale slice too
    * (round-15 verdict ask #6): their lineitem decades end at 600k rows
    * — before hubs and support-2 co-occurrence edges really form — so
    * the O(m^1.5) wedge bound and the per-round rank shuffles get a
    * fourth decade where the pair risk is real.
    */
  val sf1gFamilies: Set[String] = Set("triangle_coocc", "pagerank",
    "graph_reachability")

  /** Fourth decade for the LINEITEM-driven graph family (round-15
    * verdict ask #6): a 6M-line / 1.5M-order "sf1g" slice — exactly the
    * columns the graph kernels read (l_orderkey/l_partkey/l_suppkey,
    * o_orderkey/o_custkey) — built ONCE under target/ like the sf1x/sf3x
    * slices, per-row deterministic (every line is a pure function of its
    * order id), cached behind a _DONE marker. Distributions follow the
    * sf0.1 fixture's own TPC-H shape at 10×: the empirical
    * lines-per-order histogram (sampled via cumulative-frequency lookup)
    * and uniform part/supplier/customer keys over 10× domains — the
    * co-purchase graph's support-≥2 edge density and the bipartite trade
    * graph's degree profile then scale the way TPC-H itself scales.
    * Used ONLY for the scaling measurement; correctness oracles read the
    * driver fixtures untouched.
    */
  def extendedGraphDir(spark: SparkSession,
                       base: String = "/root/testdata/sf0.1",
                       orders: Int = 1500000): String = {
    import spark.implicits._
    val dir = new java.io.File("target/sf1g").getAbsolutePath
    val done = new java.io.File(s"$dir/_DONE")
    if (!done.exists) {
      // empirical lines-per-order histogram from the base fixture — a
      // tiny driver-side cumulative table (17 distinct counts at sf0.1)
      val hist = spark.read.parquet(s"$base/lineitem.parquet")
        .groupBy($"l_orderkey").count()
        .groupBy($"count").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val cum = hist.scanLeft((0L, 0L)) { case ((_, acc), (n, c)) => (n, acc + c) }
        .drop(1)
      val total = cum.last._2
      val cumVals = cum.map(_._2)
      val lineCounts = cum.map(_._1)
      def lowerBound(arr: Array[Long], t: Long): Int = {
        var lo = 0
        var hi = arr.length - 1
        while (lo < hi) {
          val mid = (lo + hi) / 2
          if (arr(mid) > t) hi = mid else lo = mid + 1
        }
        lo
      }
      val (nParts, nSupps, nCusts) = (200000, 10000, 150000)
      val lines = spark.range(orders.toLong).flatMap { oid =>
        val rnd = new scala.util.Random(oid * 6364136223846793005L + 1442695040888963407L)
        val nLines = lineCounts(lowerBound(cumVals,
          (rnd.nextDouble() * total).toLong)).toInt
        (0 until nLines).map { _ =>
          (oid, rnd.nextInt(nParts).toLong, rnd.nextInt(nSupps).toLong)
        }
      }.toDF("l_orderkey", "l_partkey", "l_suppkey")
      lines.coalesce(8).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val ords = spark.range(orders.toLong).map { oid =>
        val rnd = new scala.util.Random(oid * -7046029254386353131L + 99L)
        (oid, rnd.nextInt(nCusts).toLong)
      }.toDF("o_orderkey", "o_custkey")
      ords.coalesce(4).write.mode("overwrite").parquet(s"$dir/orders.parquet")
      done.createNewFile()
    }
    dir
  }

  private def time(spark: SparkSession, dir: String, name: String): Double = {
    val fn = SparkEntry.queries(name)
    def once(): Double = {
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      graft.operators.Dedup.releaseComponentCache(spark)
      (System.nanoTime() - t0) / 1e9
    }
    once() // warmup: codegen + JIT for this plan shape
    math.min(once(), once())
  }

  /** Measure every flagship query at `dirs` (ascending scale) and compute
    * each query's log-log slope over the LAST pair of scales with a real
    * row-count step (earlier fixture scales share row counts for the
    * text/embedding tables).
    */
  def run(spark: SparkSession, dirs: Seq[String],
          extraDirs: Map[String, Seq[String]] = Map.empty,
          families: Seq[(String, String)] = flagship): Seq[Result] =
    families.map { case (name, table) =>
      // a family only measures at scales that carry its driving table:
      // the generated sf1x/sf3x slices hold documents/embeddings only,
      // while the lineitem-driven graph family uses the three fixture
      // scales (which all grow for lineitem)
      val measurable = (dirs ++ extraDirs.getOrElse(name, Nil))
        .filter(d => new java.io.File(s"$d/$table.parquet").exists)
      // a family silently reduced to <2 points would fit slope NaN and
      // write invalid JSON — fail loudly instead: the dirs list is
      // missing the family's driving table
      require(measurable.size >= 2,
        s"$name: driving table '$table' present at only " +
          s"${measurable.size} of the given scales — cannot fit a slope")
      val pts = measurable.map { d =>
        Point(new java.io.File(d).getName, rowCount(spark, d, table),
          time(spark, d, name))
      }
      // least-squares log-log fit over ALL points (round-11 ask #4:
      // with the sf1x slice each family has three distinct row counts,
      // so a single-pair slope would waste the new decade; duplicate-x
      // points — the 500-row sf0.001/sf0.01 pair — just average in y)
      Result(name, pts, fitSlope(pts))
    }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1", extendedDir(spark))
    val sf3x = extended3xDir(spark)
    // SPARK_GRAFT_ONLY filters to named families for local iteration on
    // one kernel (same contract as Bench/Verify); a filtered run prints
    // but does NOT write SCALING.json — the artifact stays a full sweep
    val only = graft.SparkEntry.only
    val selected = only match {
      case Some(names) => flagship.filter { case (n, _) => names(n) }
      case None => flagship
    }
    val sf1g = extendedGraphDir(spark)
    val sf3xd = extended3xDocsDir(spark)
    val measured = run(spark, dirs,
      sf3xFamilies.map(_ -> Seq(sf3x)).toMap ++
        sf1gFamilies.map(_ -> Seq(sf1g)).toMap ++
        sf3xdFamilies.map(_ -> Seq(sf3xd)).toMap, selected)
    // index_build rides as a bespoke cache-bypassing measurement (its
    // wired query memoizes through the durable store — see
    // indexBuildResult); measured at the three scales with a real
    // documents row-count step
    val results = measured ++ (
      if (only.forall(_("index_build")))
        Seq(indexBuildResult(spark,
          Seq("/root/testdata/sf0.1", extendedDir(spark), sf3xd)))
      else Nil) ++ (
      // streaming family: engine-lane seconds vs wire arrivals (bespoke —
      // run()'s wall metric would bury the engine share under constant
      // publish/checkpoint choreography)
      if (only.forall(_("stream_asof_ttl")))
        Seq(streamAsOfTtlResult(spark,
          Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
            "/root/testdata/sf0.1")))
      else Nil)
    val body = results.map { r =>
      val pts = r.points.map(p =>
        f"""{"sf":"${p.sf}","rows":${p.rows},"sec":${p.sec}%.3f}""")
        .mkString("[", ",", "]")
      f""""${r.name}":{"points":$pts,"loglog_slope":${r.slope}%.3f}"""
    }.mkString("{\n", ",\n", "\n}")
    if (only.isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get("SCALING.json"),
        (body + "\n").getBytes("UTF-8"))
    results.foreach(r => println(
      f"[scaling] ${r.name}%-20s slope ${r.slope}%5.2f  " +
        r.points.map(p => f"${p.sf}:${p.sec}%.2fs").mkString("  ")))
    val quadratic = results.filter(r => !(r.slope < 2.0))
    require(quadratic.isEmpty,
      s"quadratic scaling detected: ${quadratic.map(r => s"${r.name}=${r.slope}").mkString(", ")}")
    spark.stop()
  }
}
