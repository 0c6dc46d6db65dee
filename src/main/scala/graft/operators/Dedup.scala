package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Document deduplication at training-pipeline scale: exact (hash groupBy),
  * MinHash + LSH banding (near-dup candidates without the O(n^2) cross
  * join), SimHash (bit-sketch + banded hamming candidates), and exact n-gram
  * Jaccard (the verifier for candidate pairs).
  *
  * Scale shape: every stage is shuffle-by-key — fingerprints, LSH band
  * buckets, shingles — never an unbounded cross join. The only pairwise work
  * happens inside a bucket, whose size LSH bounds probabilistically; a skewed
  * bucket (degenerate near-identical corpus) is handled by AQE skew split.
  */
object Dedup {

  /** Per-session registry of live connectedComponents edge caches — see
    * the unpersist note inside connectedComponents. Each invocation
    * registers ITS OWN cache (query-scoped — concurrent or interleaved
    * component computations on one session no longer evict each other,
    * the round-5 single-slot footgun). WEAK-keyed on the session so a
    * stopped/collected SparkSession doesn't stay pinned (with its edge
    * DataFrames) for the JVM lifetime; synchronized because WeakHashMap
    * isn't thread-safe, and the value lists are synchronized for the same
    * reason.
    */
  private val componentEdgeCaches =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
        java.util.List[DataFrame]]())

  private[operators] def registerComponentCache(
      spark: org.apache.spark.sql.SparkSession, edges: DataFrame): Unit =
    componentEdgeCaches.synchronized {
      val list = componentEdgeCaches.computeIfAbsent(spark,
        _ => java.util.Collections.synchronizedList(
          new java.util.ArrayList[DataFrame]()))
      list.add(edges)
    }

  /** Temp views whose lifecycle is tied to the component caches (the
    * recursive-CTE surface needs a NAMED relation over its cached edge
    * list). Dropped at releaseComponentCache time — dropping EAGERLY
    * after spark.sql would work for name scoping but
    * `catalog.dropTempView` also UNCACHES the plan the view wraps, and
    * the query hasn't executed yet: round-14's first bench measured the
    * resulting regression at 13.9x (every UnionLoop hop re-deriving the
    * edge join) before this registry-tied drop replaced it.
    */
  private val componentViews =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
        java.util.List[String]]())

  private[operators] def registerComponentView(
      spark: org.apache.spark.sql.SparkSession, name: String): Unit =
    componentViews.synchronized {
      val list = componentViews.computeIfAbsent(spark,
        _ => java.util.Collections.synchronizedList(
          new java.util.ArrayList[String]()))
      list.add(name)
    }

  /** Caller-visible release of this session's connectedComponents edge
    * caches. A cache must outlive the RETURNED labels' execution (the
    * flooding rounds read it), so connectedComponents cannot unpersist it
    * itself; without a release it stays resident until session end — in a
    * long multi-query session (Bench, Verify, a notebook) that occupies
    * storage memory for every unrelated query that follows. Call this
    * after executing the labels; a no-op when nothing is cached, so
    * per-query harness hooks can call it unconditionally. Releases EVERY
    * cache this session registered (all invocations since the last
    * release).
    */
  def releaseComponentCache(spark: org.apache.spark.sql.SparkSession): Unit = {
    // drop registered views FIRST (dropTempView uncaches the wrapped
    // plan — harmless here, the unpersist below covers the same cache)
    Option(componentViews.remove(spark)).foreach { names =>
      names.forEach { n =>
        try spark.catalog.dropTempView(n)
        catch { case _: Throwable => () }
      }
    }
    Option(componentEdgeCaches.remove(spark)).foreach { list =>
      list.forEach(_.unpersist(blocking = false))
    }
  }

  /** Exact dedup: group by normalized-content fingerprint. Output one row
    * per distinct content: canonical (minimum) doc id and the duplicate
    * count. A 100 TB corpus shuffles only (hash, doc_id) pairs.
    */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), contentFingerprint(col(textCol)).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** MinHash signatures: `numPerm` permutations, each the min over shingles
    * of xxhash64(shingleHash, permSeed) — re-keyed hashing instead of
    * affine mixing because ANSI mode (Spark 4 default) rejects the
    * wraparound multiply.
    *
    * Shape: explode shingles, then numPerm codegen'd min-aggregates with
    * map-side partial aggregation — NOT an in-row `transform` fold, which
    * would run interpreted (higher-order functions are CodegenFallback) and
    * cost numPerm x shingles interpreted evals per document. Docs with no
    * shingles (< n tokens) drop out — they cannot near-dup match anyway.
    */
  def minhashSignatures(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id", numPerm: Int = 64,
                        shingleN: Int = 3, seed: Long = 42L): DataFrame = {
    require(numPerm >= 1 && numPerm <= 64,
      s"numPerm must be in [1, 64]: the rotate-xor family has 64 distinct " +
        s"rotations, so perms beyond 64 would silently duplicate (got $numPerm)")
    // double-hashing permutation family: two independent base hashes per
    // shingle, perm_i = h1 XOR rotl(h2, i). Shifts/xor are ANSI-safe and
    // ~10x cheaper than evaluating numPerm full xxhash64 mixes per row
    // (12.5 s -> ~4 s at sf0.1); DedupSpec pins estimate quality vs exact
    // Jaccard.
    val exploded = docs.select(col(idCol),
      explode(shingleHashes(col(textCol), shingleN)).as("h0"))
      .select(col(idCol),
        xxhash64(col("h0"), lit(seed)).as("h1"),
        xxhash64(col("h0"), lit(seed + 1)).as("h2"))
    def rotl(c: org.apache.spark.sql.Column, i: Int) =
      if (i == 0) c
      else shiftleft(c, i).bitwiseOR(shiftrightunsigned(c, 64 - i))
    val aggs = (0 until numPerm).map(i =>
      min(col("h1").bitwiseXOR(rotl(col("h2"), i % 64))).as(s"m$i"))
    exploded.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol),
        array((0 until numPerm).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH banding of minhash signatures: split the signature into `bands`
    * bands of numPerm/bands rows each, hash each band, emit (band, bucket)
    * keys. Near-dup docs agree on >=1 whole band with high probability.
    */
  def lshBuckets(sigs: DataFrame, numPerm: Int = 64, bands: Int = 16): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(bandHashArray(numPerm, bands)).as(Seq("band", "bucket")))

  /** [[lshBuckets]] retaining the signature column — the streaming
    * near-dup index scores arrivals against resident signatures, so sig
    * must ride next to each bucket row. Kept OUT of the batch
    * [[minhashPairs]] path on purpose: there the self-join re-attaches
    * signatures AFTER the candidate distinct, so its shuffle carries
    * 8-byte ids instead of 512-byte signatures. One shared band-hash
    * expression ([[bandHashArray]]) keeps the two bucketings drift-free.
    */
  private[graft] def lshBucketsWithSig(sigs: DataFrame, numPerm: Int = 64,
                                       bands: Int = 16): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
      posexplode(bandHashArray(numPerm, bands)).as(Seq("band", "bucket")))

  private def bandHashArray(numPerm: Int, bands: Int): org.apache.spark.sql.Column = {
    require(numPerm % bands == 0,
      s"bands ($bands) must divide numPerm ($numPerm) — otherwise the " +
        "signature tail is silently ignored and recall degrades")
    val rows = numPerm / bands
    array((0 until bands).map { b =>
      xxhash64(slice(col("sig"), b * rows + 1, rows), lit(b))
    }: _*)
  }

  /** Candidate pairs from LSH buckets + signature-estimated Jaccard.
    * The self-join is keyed on (band, bucket) — co-bucketed docs only —
    * then pairs are deduped and scored by signature agreement.
    */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.2,
                   numPerm: Int = 64, bands: Int = 16): DataFrame = {
    // no cache: the signature subtree appears three times in the final plan
    // and its exchange is deduplicated by Catalyst's ReuseExchange; caching
    // would pin executor memory for the session lifetime instead
    val sigs = minhashSignatures(docs, numPerm = numPerm)
    val buckets = lshBuckets(sigs, numPerm, bands)
    val a = buckets.as("a")
    val b = buckets.as("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sa = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    pairs.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), _ === _), x => x))
          .cast("double") / numPerm).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Exact word-n-gram Jaccard over pairs that share at least one shingle —
    * explode + equi-join + count, the distributed verifier for near-dup
    * candidates.
    *
    * Stop-shingle pruning: a shingle appearing in more than
    * `maxDocFreqFrac` of the corpus produces a quadratic join bucket that
    * AQE can split but not shrink, and carries no Jaccard signal at that
    * frequency. Shingles above the cutoff are dropped CONSISTENTLY — from
    * the intersection join and the per-doc set sizes — so the result is the
    * exact Jaccard over the pruned shingle sets. The default 2% cutoff sits
    * above the fixtures' max document frequency (1.4% at sf0.01, 0.5% at
    * sf0.1 — measured), so nothing is pruned there and the DuckDB oracle
    * still hash-matches (the oracle mirrors the full cutoff rule). The df
    * filter joins on the same key (h) as the self-join, so its shuffle is
    * co-partitioned with the work it feeds.
    *
    * SCALE LIMIT (probed by SCALING.json's second decade, round 12): a
    * purely FRACTIONAL cutoff admits shingles with df up to frac*N, each
    * generating C(df, 2) pairs — `maxDocFreqAbs` (default 256) caps the
    * cutoff ABSOLUTELY, bounding per-shingle pair fan-out by a constant
    * (the SpotSigs-style stop-shingle posture: a shingle in >256
    * documents is corpus boilerplate with no pair signal regardless of
    * corpus size). At every driver fixture scale frac*N <= 100 < 256, so
    * the cap changes nothing the oracles see. Know its boundary, though,
    * measured on the 50k-doc sf1x slice: on a corpus whose shingle
    * VOCABULARY saturates (the fixtures draw from 31 words, so all
    * 31^3 = 29,791 trigrams exist by ~50k docs and EVERY df grows
    * linearly while staying under the cap), the candidate set — pairs
    * sharing any retained shingle — is itself Theta(N^2) (127M pairs
    * measured, ~139 s); no exact-verifier cutoff can beat the answer
    * size. Real corpora obey Heaps' law (most trigram occurrences are
    * near-unique), which keeps typical df bounded and the postings join
    * linear; the cap then exists precisely for the boilerplate tail.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.05,
                        textCol: String = "text", idCol: String = "doc_id",
                        maxDocFreqFrac: Double = 0.02,
                        maxDocFreqAbs: Int = 256): DataFrame = {
    // join on the 64-bit shingle hash, not the shingle string: the equi-join
    // key shrinks from ~n-word strings to a long (cheaper shuffle + compare;
    // measured ~3x on the fixture). Collision odds over d distinct shingles
    // are ~d^2/2^65 — immaterial against a 2^64 space.
    // no persist: with the native ShingleHash the explode chain is cheap to
    // recompute, and caching here pinned executor memory for the session
    val shAll = docs.select(col(idCol).as("doc_id"),
      explode(shingleHashes(col(textCol), n)).as("h"))
    // corpus size as a 1-row broadcast (not a driver count() — query
    // construction must stay job-free, see CollectLintSpec)
    val total = docs.select(count(lit(1)).as("n_docs"))
    val dfreq = shAll.groupBy(col("h")).agg(count(lit(1)).as("df_sh"))
    // small-corpus guard: a fractional cutoff is meaningless when
    // frac x n_docs rounds below a handful — never prune df <= 8
    val cutoff = least(greatest(col("n_docs") * maxDocFreqFrac, lit(8.0)),
      lit(maxDocFreqAbs.toDouble))
    val sh = shAll.join(dfreq, "h").crossJoin(broadcast(total))
      .filter(col("df_sh") <= cutoff)
      .select(col("doc_id"), col("h"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental (delta) near-dup dedup — the operational shape of dedup at
    * 100 TB: a nightly batch is matched against the EXISTING corpus without
    * ever re-pairing the corpus with itself. The corpus side contributes
    * only its (doc_id, shingle-hash) postings — the persisted index a real
    * deployment keeps bucketed by hash on disk — and the join is strictly
    * batch-vs-index: work scales with |batch| x avg-postings, not
    * |corpus|^2. Document-frequency pruning uses the UNION of both sides
    * (so the pruned shingle sets, and therefore the Jaccard values, are
    * identical to what a full-corpus `ngramJaccardPairs` run would use),
    * and each batch doc reports its single best corpus match
    * (max jaccard, min-id tie-break — deterministic).
    */
  def deltaNearDups(corpus: DataFrame, batch: DataFrame, n: Int = 3,
                    threshold: Double = 0.2, textCol: String = "text",
                    idCol: String = "doc_id",
                    maxDocFreqFrac: Double = 0.02,
                    maxDocFreqAbs: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = corpus.select(lit(0).as("side"), col(idCol).as("doc_id"),
        col(textCol).as("text"))
      .unionByName(batch.select(lit(1).as("side"), col(idCol).as("doc_id"),
        col(textCol).as("text")))
    val shAll = all.select(col("side"), col("doc_id"),
      explode(shingleHashes(col("text"), n)).as("h"))
    val total = all.select(count(lit(1)).as("n_docs"))
    val dfreq = shAll.groupBy(col("h")).agg(count(lit(1)).as("df_sh"))
    // same absolute stop-shingle cap as ngramJaccardPairs (the
    // fractional-only cutoff was quadratic — see its scaladoc)
    val cutoff = least(greatest(col("n_docs") * maxDocFreqFrac, lit(8.0)),
      lit(maxDocFreqAbs.toDouble))
    val sh = shAll.join(dfreq, "h").crossJoin(broadcast(total))
      .filter(col("df_sh") <= cutoff)
      .select(col("side"), col("doc_id"), col("h"))
    val sizes = sh.groupBy(col("side"), col("doc_id"))
      .agg(count(lit(1)).as("n_sh"))
    val inter = sh.filter(col("side") === 1).as("b")
      .join(sh.filter(col("side") === 0).as("a"), col("a.h") === col("b.h"))
      .groupBy(col("b.doc_id").as("doc_id"), col("a.doc_id").as("dup_of"))
      .agg(count(lit(1)).as("inter"))
    val scored = inter
      .join(sizes.filter(col("side") === 1)
        .select(col("doc_id"), col("n_sh").as("n_b")), "doc_id")
      .join(sizes.filter(col("side") === 0)
        .select(col("doc_id").as("dup_of"), col("n_sh").as("n_a")), "dup_of")
      .select(col("doc_id"), col("dup_of"),
        (col("inter") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    scored
      .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("jaccard").desc, col("dup_of"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("dup_of"), col("jaccard"))
  }

  /** Connected components over near-dup pairs — the dedup CLUSTERING step:
    * pair generation (MinHash/SimHash/Jaccard) yields edges; training-data
    * dedup keeps one canonical doc per component. Labels are propagated by
    * `iters` rounds of min-label flooding (join on edges + min-aggregate),
    * a FIXED-depth plan: no driver-side convergence loop, so query
    * construction stays job-free (CollectLintSpec) and the whole thing is
    * one Catalyst plan. Each round is shuffle-by-key with map-side combine.
    *
    * `iters` bounds the reachable distance: labels converge for components
    * of diameter <= iters. SIZING RECIPE: near-dup components are
    * near-cliques (variants of one base document), so a small `iters`
    * converges; to validate a choice on real data, run
    * `unconverged(pairs, connectedComponents(pairs, iters))` and assert it
    * is empty (one extra round must be a fixpoint) — DedupSpec does exactly
    * this for the wired dedup_clusters parameters, and the recursive-CTE
    * oracle independently fails the hash on any unconverged label. For
    * adversarial chain-shaped components of unknown diameter, use
    * `connectedComponentsFixpoint` — same per-round plan, driver-looped
    * to a guaranteed fixpoint with per-round lineage checkpoints.
    *
    * Output: (doc_id, cluster_id = min doc_id of the component). Isolated
    * docs (no edges) are not emitted — they are their own canonical doc.
    *
    * NOTE: each invocation registers its edge cache with the session's
    * registry (query-scoped — interleaved invocations don't evict each
    * other). After executing the returned labels, call
    * `releaseComponentCache(session)` to free every registered cache
    * instead of leaving them resident for the rest of the session.
    */
  /** Config-scoped child session for flooding rounds (shared SparkContext
    * + cache, own SQLConf) pinned to an edge-sized shuffle partition
    * count, with AQE partition coalescing off — the edge cache is
    * persisted already partitioned at exactly this count, and coalescing
    * would shrink the label side into a mismatched partitioning that
    * forces an extra exchange per round. `partitions <= 0` returns the
    * parent unchanged. newSession starts from the context's initial conf:
    * carry over the caller's runtime SQL conf (timezone, codegen, AQE
    * posture), then override the two scoped knobs. Static confs
    * (spark.sql.warehouse.dir etc.) reject runtime set with an
    * AnalysisException — expected, and the child inherits them from the
    * shared context anyway, so ONLY that exception is swallowed; a
    * failure to copy any genuinely runtime conf surfaces to the caller
    * instead of silently running the rounds under different semantics.
    */
  // private[graft] so graft.tools probes can run A/B variants under the
  // SAME round scoping as the shipped path (ADVICE r10: the round-10
  // prefix-unroll rejection measurement was confounded by comparing a
  // session-default-partition variant against the 8-partition baseline)
  //
  // Cached per (parent, partitions) — the same churn argument as
  // ReplayHarness.session: a fresh newSession per invocation makes
  // every bench pass re-initialize per-session state (session-state
  // codegen contexts, listener buses) for each of the three fixpoint
  // queries, and that re-JIT rode their warm-pass times (~3.3 s jit2
  // each, round-12 BENCH_DETAIL). The edge-cache registry is keyed by
  // the PARENT session, so release semantics are unchanged.
  //
  // CAVEAT the cache trades away: the child snapshots parent.conf at
  // FIRST use — a caller that mutates the shared session's conf between
  // runs (timezone, ANSI mode) gets rounds under the first snapshot.
  // Every in-tree caller holds session conf fixed for the JVM lifetime
  // (GraftSession.tune runs once); a conf-mutating caller must key a
  // fresh parent session instead of mutating a cached one.
  //
  // WEAK-keyed on the parent session (ADVICE r13): a strong-keyed map
  // would pin every parent (and its children, with their conf snapshots)
  // for the JVM lifetime — the exact leak componentEdgeCaches' WeakHashMap
  // already avoids. The inner per-partitions map is a plain HashMap
  // guarded by the same lock (child construction is cheap and rare, so
  // coarse synchronization costs nothing).
  private val roundSessionCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
        java.util.HashMap[Int, org.apache.spark.sql.SparkSession]]())

  private[graft] def roundScopedSession(parent: org.apache.spark.sql.SparkSession,
                                 partitions: Int): org.apache.spark.sql.SparkSession =
    if (partitions <= 0) parent
    else roundSessionCache.synchronized {
      roundSessionCache
        .computeIfAbsent(parent, _ => new java.util.HashMap[Int,
          org.apache.spark.sql.SparkSession]())
        .computeIfAbsent(partitions, _ => buildRoundSession(parent, partitions))
    }

  private def buildRoundSession(parent: org.apache.spark.sql.SparkSession,
                                partitions: Int): org.apache.spark.sql.SparkSession = {
      val child = parent.newSession()
      parent.conf.getAll.foreach { case (k, v) =>
        try child.conf.set(k, v)
        catch { case _: org.apache.spark.sql.AnalysisException => () }
      }
      child.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      child.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // The kernels persist their edge sets pre-partitioned on the round
      // join key so rounds shuffle only the rank/label side. On Spark 4.1
      // an UNmaterialized cache is AQE-wrapped and advertises Unknown
      // partitioning at plan time (a conservative re-exchange gets
      // planned), but once the TableCacheQueryStage materializes, AQE's
      // runtime re-planning sees the cache's real hashpartitioning and
      // ELIDES that exchange (measured: ProbeCacheVariants' final plans
      // join SortMergeJoin directly over TableCacheQueryStage;
      // GraphPropertySpec pins it). That elision needs the cached plan's
      // final partition COUNT to stay put — this flag stops AQE's
      // final-stage shuffle optimization from coalescing it away from the
      // round partition count the rank side shuffles to.
      child.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      child
  }

  def connectedComponents(pairs: DataFrame, iters: Int = 6,
                          aCol: String = "doc_a", bCol: String = "doc_b",
                          roundPartitions: Int = 0): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // The flooding rounds move EDGE-sized data — orders of magnitude less
    // than the corpus that produced the pairs — so their shuffle partition
    // count should be sized to the edge volume, not inherited from the
    // corpus-sized session default. `roundPartitions > 0` runs the rounds
    // in a config-scoped child session (shared SparkContext + cache, own
    // SQLConf) pinned to that count, with AQE partition coalescing off:
    // the edge cache is persisted already partitioned at this exact count,
    // and coalescing would only shrink the label side into a mismatched
    // partitioning that forces an extra exchange per round (measured:
    // wired dedup_clusters 6.3-7.8 s at the 32-partition session default
    // vs 2.1-2.7 s at 8 round partitions, sf0.1 local[32] — the rounds are
    // pure orchestration at fixture scale). 0 = inherit the caller's
    // session conf unchanged.
    val spark = roundScopedSession(pairs.sparkSession, roundPartitions)
    val pairsLocal = if (spark eq pairs.sparkSession) pairs
      else org.apache.spark.sql.GraftColumnBridge.ofRows(spark, pairs)
    // Plan-shape discipline for iterative dataflow (both measured at sf0.1):
    //  - The naive round labels' = agg(labels UNION join(edges, labels))
    //    references `labels` TWICE, so round k's logical plan holds 2^k
    //    copies of the base subtree: 151 s, almost all of it re-execution
    //    and Catalyst analysis of a ~3000-node tree. Folding the carry-over
    //    into the join via SELF-LOOP edges (min over neighbors-including-
    //    self) references labels once per round — the plan grows linearly.
    //  - `edges` is referenced by every round; persist() (lazy, no job at
    //    construction) makes the pair-generation pipeline execute once.
    //    Cached rows are (src, dst) keys only, MEMORY_AND_DISK so they
    //    spill, never OOM. (.rdd/localCheckpoint lineage-cutting is NOT an
    //    option here: under AQE, Dataset.rdd finalizes the plan by RUNNING
    //    its stages — query construction must stay job-free.)
    val undirected = pairsLocal.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairsLocal.select(col(bCol).as("src"), col(aCol).as("dst")))
    val vertices = undirected.select(col("src")).distinct()
    val edges = undirected
      .union(vertices.select(col("src"), col("src").as("dst")))
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // DataFrame caches are never GC-cleaned (CacheManager holds strong
    // refs), so every invocation registers its cache with the session's
    // registry; releaseComponentCache(session) frees them all after the
    // labels execute. Query-scoped: interleaved component computations on
    // one session each keep their own cache alive until release — the
    // previous design's single slot silently evicted the earlier query's
    // cache and forced its whole pair-generation pipeline to recompute.
    registerComponentCache(pairs.sparkSession, edges)
    // Initial labels come FROM THE CACHED EDGES: the self-loop rows are
    // exactly the vertex set, so filtering src = dst reads the cache instead
    // of re-running the whole pair-generation pipeline a second time (the
    // `vertices` subtree above only executes inside the cache fill). The
    // cache is persisted ALREADY HASH-PARTITIONED on dst — the join key of
    // every flooding round — so InMemoryRelation's outputPartitioning
    // satisfies the join's distribution and each round shuffles only the
    // labels side. Measured together: dedup_clusters 13.0 s -> 7.5 s at
    // sf0.1 (one pipeline execution instead of two, one exchange per round
    // instead of two). Label rows stay distinct because `vertices` is
    // distinct and `undirected` cannot contain src = dst rows when pair
    // generation emits doc_a < doc_b; a caller-supplied a = b pair would
    // only duplicate a label row, which the round-1 min-aggregate collapses
    // anyway.
    var labels = edges.filter(col("src") === col("dst"))
      .select(col("src").as("doc_id"), col("src").as("cluster_id"))
    for (_ <- 1 to iters) {
      labels = edges.join(labels, edges("dst") === labels("doc_id"))
        .groupBy(edges("src").as("doc_id"))
        .agg(min(col("cluster_id")).as("cluster_id"))
    }
    labels
  }

  /** Iterate-to-fixpoint connected components — the variant for
    * adversarial, chain-shaped components whose diameter is unknown (the
    * 100 TB run connectedComponents' scaladoc defers to). Same per-round
    * plan as the fixed-depth form (edge-cache join + min-aggregate), but
    * the driver LOOPS until the labeling stops changing, so convergence
    * is guaranteed for any component shape, not just diameter <= iters.
    *
    * Two costs the job-free form avoids, both inherent to fixpoint
    * iteration and both bounded: (1) each round materializes via an eager
    * localCheckpoint — lineage is cut every round, so round k's plan is
    * constant-size instead of k-deep (on a multi-node cluster with a
    * checkpoint dir configured, swap localCheckpoint for checkpoint to
    * survive executor loss; same shape); (2) convergence detection is ONE
    * tiny aggregate per round — min-label flooding is pointwise monotone
    * non-increasing, so the labeling is a fixpoint iff the exact
    * DECIMAL(38,0) label sum is unchanged; no label-to-label join needed.
    * Round RDDs are dropped by the ContextCleaner as references retire;
    * the edge cache frees via releaseComponentCache like the fixed-depth
    * form. Throws if maxIters rounds don't converge (one round per
    * diameter hop), rather than returning silently-partial labels.
    *
    * Rejected variant (measured round 10, re-measured round 11 with both
    * arms under the same round-scoped 8-partition session after ADVICE
    * flagged the original comparison as partition-confounded): unrolling
    * the first 4 flooding rounds job-free into the initial plan — one
    * materialization covering diameter <= 4 before the eager loop — is
    * SLOWER on the wired cluster_split pairs (interleaved in-JVM A/B,
    * ProbeFixpointPrefix: median 4.06 s prefixed vs 3.38 s plain at
    * sf0.1 local[32]): the chained 4-shuffle prefix job costs more than
    * the small per-round jobs it replaces. Per-round checkpoints stay.
    */
  def connectedComponentsFixpoint(pairs: DataFrame, maxIters: Int = 64,
                                  aCol: String = "doc_a",
                                  bCol: String = "doc_b",
                                  roundPartitions: Int = 0): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.sql.types.DecimalType
    // same round scoping as the fixed-depth form: the driver-looped rounds
    // move edge-sized data and EXECUTE eagerly (localCheckpoint), so an
    // oversized partition count taxes every round with empty-task overhead
    // (measured: the wired fixture clustering 7.1 s warm at the
    // 32-partition session default vs 3.5 s at 8 round partitions,
    // sf0.1 local[32])
    val spark = roundScopedSession(pairs.sparkSession, roundPartitions)
    val pairsLocal = if (spark eq pairs.sparkSession) pairs
      else org.apache.spark.sql.GraftColumnBridge.ofRows(spark, pairs)
    val undirected = pairsLocal.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairsLocal.select(col(bCol).as("src"), col(aCol).as("dst")))
    val vertices = undirected.select(col("src")).distinct()
    val edges = undirected
      .union(vertices.select(col("src"), col("src").as("dst")))
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    registerComponentCache(pairs.sparkSession, edges)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("cluster_id").cast(DecimalType(38, 0)))).head() match {
        case r if r.isNullAt(0) => java.math.BigDecimal.ZERO // empty graph
        case r => r.getDecimal(0)
      }
    var labels = edges.filter(col("src") === col("dst"))
      .select(col("src").as("doc_id"), col("src").as("cluster_id"))
      .localCheckpoint(true)
    var prevSum = labelSum(labels)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxIters) {
      val next = edges.join(labels, edges("dst") === labels("doc_id"))
        .groupBy(edges("src").as("doc_id"))
        .agg(min(col("cluster_id")).as("cluster_id"))
        .localCheckpoint(true)
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      rounds += 1
    }
    require(converged,
      s"connectedComponentsFixpoint: no fixpoint within $maxIters rounds " +
        "(component diameter exceeds maxIters)")
    labels
  }

  /** Convergence check for connectedComponents output: the rows whose label
    * would STILL change after one more min-label flooding round — empty iff
    * `labels` is a fixpoint (i.e. `iters` covered every component's
    * diameter). Opt-in: run it as an assertion in tests or after a
    * production run; it is one extra round + an equi-join, not part of the
    * labeling plan itself.
    */
  def unconverged(pairs: DataFrame, labels: DataFrame,
                  aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val undirected = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
    val edges = undirected.union(
      undirected.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst")))
    val next = edges.join(labels, edges("dst") === labels("doc_id"))
      .groupBy(edges("src").as("doc_id"))
      .agg(min(col("cluster_id")).as("next_id"))
    labels.join(next, "doc_id").filter(col("next_id") =!= col("cluster_id"))
  }

  /** Substring-level (exact-span) dedup — the Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better")
    * duplicated-SPAN detector, between passage_dedup's fixed windows and
    * whole-document dedup: for every document, how many token positions
    * sit inside an exact `minLen`-token run that occurs MORE THAN ONCE in
    * the corpus (other documents or elsewhere in the same one)?
    *
    * Semantics: a position is duplicated iff some `minLen`-token window
    * covering it appears >= 2 times corpus-wide — exactly the positions a
    * suffix-array pass flags for maximal duplicated spans of length >=
    * minLen, computed n-gram-wise. Output per doc: token count, covered
    * (duplicated) token total, duplicated-window count, covered fraction.
    *
    * Scale shape — and why NOT the pair-verify design: the tempting
    * "fingerprint postings join, then per-PAIR longest-shared-run
    * verification" is quadratic in a duplicate cluster's size (a
    * 1000-copy boilerplate page = 500k pair verifications re-reading both
    * texts) and needs the raw text shipped to the verifier. This
    * formulation never builds a pair: one posexplode of the native
    * multiset ShingleHash (8-byte gram hashes, never strings, linear in
    * token volume), one hash-keyed occurrence count (map-side combined;
    * its exchange is reused by the join back), and the interval-union per
    * doc runs as a lag() window over ONLY the duplicated positions —
    * coverage = sum of min(gap, minLen) island contributions, no
    * L-fold position expansion. Every shuffle is keyed (gram hash, then
    * doc_id); a 100 TB corpus pays corpus-linear shuffle volume.
    */
  /** Interval-union kernel shared by substringCoverage and the span-level
    * decontamination: given (doc_id, pos) rows marking length-`l` windows,
    * count the distinct token positions those windows cover per doc — as a
    * lag() window over the marked positions only (consecutive windows
    * overlap unless the gap >= l, so each adds min(gap, l) newly covered
    * positions; the first adds l), never an l-fold position expansion.
    */
  private def coveredTokens(positions: DataFrame, l: Int,
                            coveredCol: String, nGramsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    positions
      .withColumn("gap", col("pos") - lag(col("pos"), 1).over(w))
      .select(col("doc_id"),
        when(col("gap").isNull || col("gap") >= l, lit(l.toLong))
          .otherwise(col("gap").cast("long")).as("contrib"))
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as(coveredCol),
        count(lit(1)).as(nGramsCol))
  }

  /** Per-doc summary join shared by the coverage operators: attach the
    * kernel's per-doc sums to every document (zero-filled) plus the
    * covered fraction.
    */
  private def coverageSummary(docs: DataFrame, covered: DataFrame,
                              textCol: String, idCol: String,
                              coveredCol: String, nGramsCol: String,
                              fracCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), tokenCount(col(textCol)).as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col(coveredCol), lit(0L)).as(coveredCol),
        coalesce(col(nGramsCol), lit(0L)).as(nGramsCol),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(coalesce(col(coveredCol), lit(0L)).cast("double") /
            col("n_tokens")).as(fracCol))

  def substringCoverage(docs: DataFrame, minLen: Int = 8,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"),
      posexplode(shingleHashesAll(col(textCol), minLen)).as(Seq("pos", "h")))
    // duplicated gram hashes are the RARE side: filter occ > 1 BEFORE the
    // join back, so the probe carries only genuinely duplicated windows
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") > 1).select(col("h"))
    val dupPos = grams.join(dup, "h").select(col("doc_id"), col("pos"))
    coverageSummary(docs,
      coveredTokens(dupPos, minLen, "dup_tokens", "n_dup_grams"),
      textCol, idCol, "dup_tokens", "n_dup_grams", "dup_frac")
  }

  /** Span-level decontamination map — the SURGICAL sibling of the binary
    * decontaminate verdict: for each corpus document, which token mass
    * sits inside an exact `minLen`-token window that also appears in the
    * evaluation set? A pipeline uses this to MASK contaminated spans
    * instead of dropping whole documents (dropping loses the clean 95% of
    * a long doc over one quoted benchmark question; keeping loses the
    * benchmark). Shape: corpus gram positions equi-join the DISTINCT eval
    * gram hashes (the eval set is benchmark-sized — BROADCAST), then the
    * shared interval-union kernel counts covered positions per doc. One
    * corpus scan, no self-join, work linear in corpus token volume.
    */
  def spanContamination(docs: DataFrame, evalDocs: DataFrame, minLen: Int = 8,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"),
      posexplode(shingleHashesAll(col(textCol), minLen)).as(Seq("pos", "h")))
    val evalGrams = evalDocs
      .select(explode(shingleHashes(col(textCol), minLen)).as("h")).distinct()
    val hitPos = grams.join(broadcast(evalGrams), "h")
      .select(col("doc_id"), col("pos"))
    coverageSummary(docs,
      coveredTokens(hitPos, minLen, "contam_tokens", "n_contam_grams"),
      textCol, idCol, "contam_tokens", "n_contam_grams", "contam_token_frac")
  }

  /** Line/sentence-level boilerplate removal — the C4/CCNet cleaning rule
    * (keep the FIRST occurrence of every line corpus-wide, drop repeats)
    * applied per document: how many of a doc's sentences, and what token
    * mass, would line-dedup remove?
    *
    * The fixture corpus carries no newlines or punctuation, so sentence
    * boundaries are CONTENT-DEFINED: a token whose md5 starts with nibble
    * '0' closes the current sentence (p = 1/16, ~9-token mean). This is
    * content-defined chunking from dedup storage systems: boundaries
    * depend only on local content, so two documents sharing a long run
    * produce identical sentences inside the run REGARDLESS of token
    * offset — unlike fixed-width windows, which lose alignment under any
    * shift. On a real corpus, swap `boundary` for a newline/punctuation
    * predicate; everything downstream is unchanged. md5 (not the native
    * FNV shingle hash) keys the boundary so an external engine can
    * reproduce the exact segmentation — the oracle does.
    *
    * Keep-first policy: occurrences rank by (doc_id, position); rank 1
    * survives, the rest are removed — unlike passage_dedup, which flags
    * every occurrence symmetrically. Scale shape: tokens explode linearly;
    * the segment id is one per-doc running sum (shuffle keyed on doc_id);
    * sentence assembly aggregates on (doc_id, seg_id), satisfied by the
    * same partitioning (no exchange); ranking shuffles 16-byte sentence
    * digests, never sentence strings; the final roll-up re-keys on doc_id.
    */
  def sentenceDedup(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    // seg_id = boundaries seen BEFORE this token (a boundary token is the
    // last token of ITS sentence), so it needs the 1-preceding frame
    val wSeg = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val boundary = when(substring(md5(col("tok")), 1, 1) === "0", 1L)
      .otherwise(0L)
    val seg = toks.withColumn("seg_id",
      coalesce(sum(boundary).over(wSeg), lit(0L)))
    // sentence digest: tokens re-ordered by position (collect_list carries
    // no order guarantee), joined on single spaces, md5'd. The transform
    // HOF runs interpreted, but at SENTENCE granularity (one eval per
    // sentence), not token granularity — immaterial to the plan cost.
    val sent = seg.groupBy(col("doc_id"), col("seg_id"))
      .agg(count(lit(1)).as("n_toks"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")))).as("sent_key"))
    val wDup = Window.partitionBy(col("sent_key"))
      .orderBy(col("doc_id"), col("seg_id"))
    sent.withColumn("rn", row_number().over(wDup))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sentences"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_removed"),
        sum(col("n_toks")).as("n_tokens"),
        sum(when(col("rn") > 1, col("n_toks")).otherwise(0L))
          .as("tokens_removed"))
      .withColumn("removed_frac",
        col("tokens_removed").cast("double") / col("n_tokens"))
  }

  /** 64-bit SimHash of the shingle hash multiset: per bit, majority vote of
    * +1/-1 across shingle hashes. Pure projection (64 in-row folds), then
    * near-dup candidates come from exact-match on any 16-bit chunk
    * (hamming <= 3 implies >=1 of 4 chunks equal, pigeonhole).
    */
  def simhash(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // explode + 64 codegen'd conditional sums (map-side combined), not an
    // in-row interpreted fold — same reasoning as minhashSignatures
    val exploded = docs.select(col(idCol),
      explode(shingleHashes(col(textCol))).as("h"))
    val votes = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1L) === 1L, 1L)
        .otherwise(-1L)).as(s"v$j")
    }
    val bits = (0 until 64).map { j =>
      shiftleft(when(col(s"v$j") > 0, 1L).otherwise(0L), j)
    }
    exploded.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol), bits.reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** SimHash near-dup pairs: banded candidates verified by hamming distance
    * via bit_count(xor). Pigeonhole: detection is GUARANTEED only when
    * bands > maxHamming (h differing bits cannot dirty every one of h+1
    * chunks); fewer bands = coarser buckets = cheaper but probabilistic.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, bands: Int = 4): DataFrame =
    // recomputed subtrees dedupe via ReuseExchange
    hammingPairs(simhash(docs), "simhash", maxHamming, bands)

  /** Banded hamming-distance pairing over ANY (doc_id, 64-bit hash)
    * table — the kernel simhashPairs applies to text fingerprints and
    * Multimodal.imageHashes applies to perceptual image hashes: band the
    * hash into 64/bands-bit chunks, self-join on (chunk index, chunk
    * value), verify candidates by bit_count(xor). Pigeonhole: detection
    * is GUARANTEED only when bands > maxHamming (h differing bits cannot
    * dirty every one of h+1 chunks); fewer bands = coarser buckets =
    * cheaper but probabilistic.
    */
  def hammingPairs(hashes: DataFrame, hashCol: String,
                   maxHamming: Int = 3, bands: Int = 4,
                   idCol: String = "doc_id"): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    val width = 64 / bands
    val mask = (1L << width) - 1
    val chunks = hashes.select(col(idCol), col(hashCol),
      posexplode(array((0 until bands).map(c =>
        shiftrightunsigned(col(hashCol), c * width).bitwiseAND(mask)): _*)).as(Seq("chunk", "key")))
    val pairs = chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"),
        col(s"a.$hashCol").as("sh_a"), col(s"b.$hashCol").as("sh_b"))
      .distinct()
    pairs
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }
}
