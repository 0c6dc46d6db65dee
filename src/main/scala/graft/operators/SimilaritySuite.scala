package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{dotNative, norm2Native}
import graft.model.Tables

/** Similarity-search queries over the `embeddings` fixture. The exact
  * (brute-force) paths carry DuckDB oracles via list_cosine_similarity on
  * DOUBLE[]-cast lists; the LSH paths (hyperplane-seed-dependent) get
  * rows-only checks plus recall unit tests against the exact answer.
  */
object SimilaritySuite {

  /** Exact cosine top-5 for the first 5 vectors as queries. */
  def embedTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
  }

  /** Exact near-dup pairs above cosine 0.4 (calibrated: the fixture's max
    * pairwise cosine is ~0.51, so this keeps a small non-empty tail).
    */
  def embedNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(Tables.embeddings(spark, dir), threshold = 0.4)

  /** Late-interaction (MaxSim) top-3 for the same 5-query set as
    * embed_topk — see [[Similarity.lateInteractionTopK]] for the
    * semantics + scale argument. 4 tokens x 16 dims over the 64-dim
    * fixture vectors.
    */
  def lateInteraction(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.lateInteractionTopK(emb, emb.filter(col("vec_id") < 5),
      k = 3, nTokens = liTokens, subDim = liSubDim)
  }

  private val liTokens = 4
  private val liSubDim = 16

  /** kNN label propagation scored on a held-out fifth of the corpus —
    * see [[Similarity.knnLabel]]. vec_id % 5 == 0 plays the "unlabeled"
    * set; the rest is the labeled pool.
    */
  def knnLabel(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.knnLabel(emb.filter(pmod(col("vec_id"), lit(5)) =!= 0),
      emb.filter(pmod(col("vec_id"), lit(5)) === 0), k = 5)
  }

  /** Top-3 different-label neighbors per query — contrastive hard-negative
    * mining (see [[Similarity.hardNegatives]] for the semantics + scale
    * argument).
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 8), k = 3)
  }

  // ANN parameters shared by the wired queries and their generated oracles —
  // the oracle embeds the seeded hyperplanes/centroids as SQL literals, so
  // any drift between the two sides is a hash mismatch.
  private val annBits = 6
  private val annTables = 8
  private val ivfCells = 8
  private val ivfProbe = 3
  private val dim = 64
  private val seed = 42L

  /** ANN top-5 via random-hyperplane LSH. The fixture's embeddings are
    * near-random, so bucket width is tuned coarse (6 bits x 8 tables) to
    * yield a real candidate set; clustered data would use finer buckets
    * (recall is unit-tested on clusters). Oracle-checked EXACTLY: the
    * seeded hyperplanes are data-independent plan constants, so the DuckDB
    * oracle reproduces the full bucket -> candidate -> re-rank pipeline
    * from the same literals (see annOracle below).
    */
  def embedAnnTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.annTopK(emb, emb.filter(col("vec_id") < 5), k = 5,
      nBits = annBits, tables = annTables, seed = seed)
  }

  /** IVF-indexed ANN top-5. Coarse cell count for the near-random fixture
    * vectors; recall unit-tested on clusters. Oracle-checked EXACTLY via
    * centroid literals embedded in the generated SQL (ivfOracle below).
    */
  def embedIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 5,
      nCells = ivfCells, nProbe = ivfProbe, seed = seed)
  }

  /** Streaming IVF ANN replay: online inverted index over the wire, with
    * mid-stream restart + redelivery — see
    * [[graft.streaming.StreamReplay.streamedAnn]]. Same seeded centroids
    * and probe width as embed_ivf, so the oracle reuses its literals.
    */
  def streamAnn(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamReplay.streamedAnn(spark, dir,
      Similarity.ivfCentroids(ivfCells, dim, seed), ivfProbe)

  /** Offline audit of the streaming ANN's inverted-index state — see
    * [[graft.streaming.StreamReplay.stateInspectAnn]]. Same seeded
    * centroids as embed_ivf/stream_ann, so the oracle recomputes every
    * vector's assigned cell from the shared literals.
    */
  def stateInspectAnn(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamReplay.stateInspectAnn(spark, dir,
      Similarity.ivfCentroids(ivfCells, dim, seed), ivfProbe)

  /** Sliding-window streaming ANN — see
    * [[graft.streaming.StreamReplay.streamedAnnTtl]]. Same centroids
    * and probe width as stream_ann; the oracle adds the
    * query − neighbor ≤ windowDays predicate.
    */
  def streamAnnTtl(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamReplay.streamedAnnTtl(spark, dir,
      Similarity.ivfCentroids(ivfCells, dim, seed), ivfProbe)

  /** Offline audit of the WINDOWED ANN index — see
    * [[graft.streaming.StreamReplay.stateInspectAnnTtl]].
    */
  def stateInspectAnnTtl(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamReplay.stateInspectAnnTtl(spark, dir,
      Similarity.ivfCentroids(ivfCells, dim, seed), ivfProbe)

  /** Streaming hybrid retrieval: the online cell-keyed index + the
    * static lexical top-k fused through the one RRF kernel, converging
    * to hybrid_retrieval_ivf's own oracle across a mid-stream restart —
    * see [[graft.streaming.StreamReplay.streamedHybrid]]. Same seeded
    * centroids and probe width as embed_ivf, so the oracle IS
    * hybrid_retrieval_ivf's, verbatim.
    */
  def streamHybrid(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamReplay.streamedHybrid(spark, dir,
      Similarity.ivfCentroids(ivfCells, dim, seed), ivfProbe)

  /** The production hybrid stack ONLINE — BM25 lexical + the online IVF
    * semantic index + RRF: [[streamHybrid]]'s replay (online index,
    * restart, recovered-state probes) with the lexical side swapped to
    * [[graft.operators.TextSuite.bm25Retrieval]] through the
    * parametrized seam, converging to hybrid_bm25's oracle verbatim.
    * With stream_bm25 proving the postings index is scorer-agnostic and
    * this row proving the FUSION is lexical-scorer-agnostic, every
    * pairing of {tf·idf, BM25} × {exact, IVF, online-IVF} is reachable
    * from the same three kernels.
    */
  def streamHybridBm25(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamReplay.streamedHybrid(spark, dir,
      Similarity.ivfCentroids(ivfCells, dim, seed), ivfProbe,
      lexical = TextSuite.bm25Retrieval)

  /** Streaming retrieve-then-rerank: stream_ann's online retrieval with
    * the native MaxSim late-interaction rerank in the SAME streaming
    * query — see [[graft.streaming.StreamReplay.streamedRerank]]. Same
    * seeded centroids as embed_ivf, same token geometry as
    * late_interaction, so the oracle composes both literal sets.
    */
  def streamRerank(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamReplay.streamedRerank(spark, dir,
      Similarity.ivfCentroids(ivfCells, dim, seed), ivfProbe,
      liTokens, liSubDim)

  private val pqSub = 4
  private val pqK = 16

  /** PQ/ADC top-5: compressed-domain scan. Oracle-checked EXACTLY — the
    * seeded codebooks are embedded as literals in the generated SQL, which
    * reproduces encode -> reconstruct -> rank (pqOracle below).
    */
  def embedPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.pqTopK(emb, emb.filter(col("vec_id") < 5), topK = 5,
      nSub = pqSub, k = pqK, seed = seed)
  }

  /** Cached parquet footer row counts for the occupancy-targeted LSH
    * sizing below: the count comes from row-group metadata read directly
    * on the driver (parquet-hadoop, same footers every scan plans from) —
    * NO Spark job, so query construction stays job-free under
    * CollectLintSpec. Handles both the driver's single-file fixtures and
    * the multi-part directories the scaling slices write.
    */
  private val footerRows =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  // Cache assumes a path's row count is immutable for the JVM lifetime —
  // true for the driver fixtures and the _DONE-gated scaling slices; a
  // path rewritten IN PLACE with different contents would serve stale
  // counts (regenerating slices use fresh directories for this reason).
  // Listing goes through the Hadoop FileSystem resolved from the path, so
  // directory detection works on non-local roots (hdfs://, s3a://) where
  // java.io.File would silently misread the layout.
  private def parquetRowCount(path: String): Long =
    footerRows.computeIfAbsent(path, p => {
      val conf = new org.apache.hadoop.conf.Configuration()
      val root = new org.apache.hadoop.fs.Path(p)
      val fs = root.getFileSystem(conf)
      // RECURSIVE listing (ADVICE r13): a partitioned key=value layout
      // nests its part files in subdirectories — the old top-level-only
      // scan returned 0 rows there and autoBits silently fell back to
      // the 6-bit floor, desizing the buckets with no error.
      val parts: Seq[org.apache.hadoop.fs.Path] =
        if (fs.getFileStatus(root).isDirectory) {
          val it = fs.listFiles(root, /* recursive = */ true)
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[org.apache.hadoop.fs.Path]
          while (it.hasNext) {
            val f = it.next().getPath
            if (f.getName.endsWith(".parquet")) buf += f
          }
          buf.toSeq
        } else Seq(root)
      val total = parts.map { pf =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(pf, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
      // a zero count means the layout didn't match the listing — fail
      // loudly instead of letting autoBits mis-size the LSH buckets
      require(total > 0, s"parquetRowCount($p): no parquet rows found")
      total
    })

  /** LSH-bucketed near-dup pairs — the scale path for embed_neardup (the
    * block-pair kernel verifies exactly; this prunes candidates first so a
    * 100 TB corpus never materializes all blocks). Bucket width is
    * OCCUPANCY-TARGETED (Similarity.autoBits over the corpus footer row
    * count): fixed-width buckets fill linearly with corpus size and
    * candidate pairs grow with occupancy SQUARED — the round-12 sf1x
    * scaling decade measured exactly that (within-decade slope ~0.97 at a
    * constant 6 bits). autoBits floors at the 6-bit recall calibration,
    * so every oracle-checked fixture scale (500-2,000 vectors at
    * targetOcc 32) still sizes to exactly `annBits` and the STATIC
    * generated oracle below remains bit-faithful there; only the
    * scaling-measurement slices (20k, 200k vectors — never
    * oracle-compared) grow wider tables. Oracle-checked EXACTLY: the
    * generated SQL reproduces buckets -> candidate pairs -> cosine filter
    * from the same seeded hyperplane literals, so the comparison is exact
    * even though LSH recall at this threshold is probabilistic.
    *
    * Scaling attribution (round-13, measured in 5fb8804 at the exact
    * autoBits widths): across the 20k -> 200k decade, bucket
    * collisions — the in-join cosine verify work — grew 15.5x and wall
    * time 6.6x (within-decade slope 0.82), while the TRUE OUTPUT at the
    * 0.4 threshold grew 27.8x (8.7k -> 242k pairs, ~n^1.4): the fixture
    * embeddings are gaussian clusters around the sf0.1 label centroids,
    * so genuinely-near pairs densify super-linearly and any exact-output
    * kernel has the output itself as a lower bound. The curve therefore
    * tracks the task's pair density, not a kernel defect — candidates
    * grow SLOWER than survivors, i.e. precision improves with scale.
    */
  def embedNearDupLsh(spark: SparkSession, dir: String): DataFrame = {
    val bits = Similarity.autoBits(
      parquetRowCount(s"$dir/embeddings.parquet"), floor = annBits)
    Similarity.nearDupPairsLsh(Tables.embeddings(spark, dir), threshold = 0.4,
      nBits = bits, tables = annTables, seed = seed)
  }

  /** IVF-PQ top-5: the FAISS-IVFADC-shaped composition — IVF cells prune,
    * PQ reconstructions score. Oracle-checked EXACTLY: the generated SQL
    * combines the ivf cell-assign/probe CTEs with the pq reconstruction
    * CTEs from the same seeded literals (ivfPqOracle below).
    */
  def embedIvfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 5), topK = 5,
      nCells = ivfCells, nProbe = ivfProbe, nSub = pqSub, k = pqK, seed = seed)
  }

  /** Int8 min/max embedding quantization — the storage-compression step of
    * an embedding pipeline (4x smaller than float32, 8x than double). Per
    * vector: scale = (max-min)/255, code q = floor((x-min)/scale + 0.5) in
    * [0,255], reconstruction x' = min + q*scale. Output per vector: the
    * integer code checksum (pins every code exactly) plus the max absolute
    * reconstruction error and its half-scale bound gate. Pure projection —
    * one pass, no shuffle; higher-order functions are interpreted but the
    * work is O(rows x dim), not a join hot path. Both engines run the
    * identical double-precision op sequence, so the oracle hash is exact.
    * Constant vectors (scale 0) quantize to code 0 with zero error.
    */
  def embedQuant(spark: SparkSession, dir: String): DataFrame = {
    val vCol = transform(col("embedding"), x => x.cast("double"))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), vCol.as("v"))
      .select(col("vec_id"), col("v"), array_min(col("v")).as("mn"),
        ((array_max(col("v")) - array_min(col("v"))) / 255.0).as("scale"))
      .select(col("vec_id"), col("scale"),
        transform(col("v"), x =>
          when(col("scale") > 0, floor((x - col("mn")) / col("scale") + 0.5))
            .otherwise(0L)).as("q"),
        transform(col("v"), x =>
          when(col("scale") > 0,
            abs(x - (col("mn") +
              floor((x - col("mn")) / col("scale") + 0.5).cast("double") * col("scale"))))
            .otherwise(0.0)).as("err"))
      .select(col("vec_id"),
        aggregate(col("q"), lit(0L), _ + _).as("q_sum"),
        array_max(col("err")).as("max_abs_err"),
        (array_max(col("err")) <= col("scale") / 2 + 1e-12).as("within_bound"))
  }

  /** Oracle-checked gate for the PREPARED-INDEX path (ivfTopKKmeans): IVF
    * over k-means-trained centroids must recover >= 2 of each query's exact
    * top-5 (recall >= 0.4 per query; measured 0.6-1.0 per query at both
    * sf0.01 and sf0.1, so the gate has a full hit of margin against k-means
    * partitioning jitter). The exact side is computed in-engine; the oracle
    * derives the expected (query_id, TRUE) rows from the table, so a recall
    * regression — bad training, broken cell probe, scoring drift — flips a
    * row to FALSE and fails the hash. Training runs bounded-output Spark
    * jobs at construction (declared prepared-index contract; see
    * CollectLintSpec.trainingAllowed).
    */
  def ivfKmeansRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, qs, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    // maxIter 5: the gate needs converged-enough cells, not a polished
    // index — halves the training jobs the bench pays for this query
    val approx = Similarity.ivfTopKKmeans(emb, qs, k = 5, nCells = 8, nProbe = 4,
        maxIter = 5)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_found"))
      .select(col("query_id"), (col("n_found") >= 2).as("recall_ok"))
  }

  /** Oracle-checked gate for the PQ quality path (pqCodebooksKmeans): the
    * k-means-fitted codebooks must reconstruct the corpus with LOWER total
    * squared error than the seeded data-independent codebooks — the
    * training objective itself, so the property holds on any corpus and is
    * robust to k-means partitioning jitter (a top-k recall gate is NOT
    * meaningful here: the fixture's near-random vectors are PQ's worst
    * case and measured recall is ~0.1-0.3 for either codebook). The
    * squared-error fold is a higher-order function (interpreted), but it
    * runs once per vector on a bounded column — not in a join kernel.
    */
  def pqKmeansGain(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // Train on a deterministic half-sample (hash-parity on the stable id,
    // layout-independent — same reasoning as hashSplit) with maxIter 5:
    // PQ codebooks are always fitted on a training subset in production
    // (the objective is distributional, not per-row), and a half-fit
    // still beats the untrained codebooks by a wide margin. Halves the
    // 4 x k-means job cost this gate pays in the bench.
    val trained = Similarity.pqCodebooksKmeans(
      emb.filter(pmod(col("vec_id"), lit(2)) === 0), dim, pqSub, pqK, seed,
      maxIter = 5)
    val seeded = Similarity.pqCodebooks(pqSub, dim / pqSub, pqK, seed)
    def sse(books: Seq[Seq[Array[Double]]], as: String): DataFrame =
      Similarity.pqReconstruct(emb, books, dim)
        .select(aggregate(
          zip_with(col("embedding").cast("array<double>"), col("recon"),
            (a, b) => (a - b) * (a - b)),
          lit(0.0), _ + _).as("se"))
        .agg(sum(col("se")).as(as))
    Tables.embeddings(spark, dir).agg(count(lit(1)).as("n_vectors"))
      .crossJoin(sse(trained, "sse_trained"))
      .crossJoin(sse(seeded, "sse_seeded"))
      .select(col("n_vectors"),
        (col("sse_trained") < col("sse_seeded")).as("trained_better"))
  }

  /** Embedding-level decontamination — the semantic twin of the n-gram
    * `decontaminate` query: flag corpus vectors whose cosine similarity to
    * ANY eval vector (vec_id < 5 stands in for the benchmark set) exceeds
    * the threshold. Catches paraphrased/translated contamination that
    * shingle overlap misses. Scale shape: the eval set is broadcast; the
    * corpus is scanned ONCE, each vector scored against the handful of
    * eval embeddings (k eval benchmarks, not k corpus rows) and
    * max-aggregated per vector — no corpus self-join, no shuffle of
    * embeddings (the groupBy carries only (vec_id, cos)). max() over
    * doubles is order-independent, so the oracle hash is exact.
    */
  def embedDecontam(spark: SparkSession, dir: String,
                    threshold: Double = 0.30): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val eval = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("eval_id"), col("embedding").as("e_emb"))
    emb.filter(col("vec_id") >= 5)
      .crossJoin(broadcast(eval))
      .select(col("vec_id"),
        (dotNative(col("embedding"), col("e_emb")) /
          (norm2Native(col("embedding")) * norm2Native(col("e_emb")))).as("cos"))
      .groupBy(col("vec_id"))
      .agg(max(col("cos")).as("max_eval_cos"))
      .filter(col("max_eval_cos") > threshold)
  }

  /** SemDeDup over the embeddings fixture: nearest-centroid cells (the
    * seeded IVF centroids — data-independent plan constants), then
    * keep-min-id among within-cell pairs with cosine > 0.4 (the
    * embed_neardup calibration: the fixture's max pairwise cosine is
    * ~0.51, so the threshold drops a real but small near-dup tail).
    * Output: the surviving (vec_id, cell) rows. Oracle-checked EXACTLY —
    * the generated SQL reproduces cell-assign + the NOT EXISTS survivor
    * rule from the same centroid literals (semdedupOracle).
    */
  def semDedupSurvivors(spark: SparkSession, dir: String): DataFrame =
    Similarity.semDedup(Tables.embeddings(spark, dir),
      Similarity.ivfCentroids(ivfCells, dim, seed), tau = 0.4)

  /** Matryoshka prefix-dim rerank: coarse top-20 on the first 16 of 64
    * dims, exact full-dim rerank to top-5. Exact arithmetic end to end,
    * so the oracle reproduces both passes (matryoshkaOracle).
    */
  def matryoshkaRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.matryoshkaTopK(emb, emb.filter(col("vec_id") < 5), k = 5,
      prefixDim = 16, m = 20)
  }

  /** Per-label centroid similarity matrix — the corpus-drift audit a mix
    * review reads: how semantically close are the embedding clusters of
    * each label/domain? The centroid cosine needs only per-(label, dim)
    * SUMS (the 1/n normalizations cancel inside cosine), so the whole
    * query is one posexplode -> (label, dim) hash aggregate over the
    * corpus — a single scan however many vectors there are — followed by
    * arithmetic on a |labels| x dim table that fits anywhere. Floats are
    * lifted to the integer domain first (x 2^14, exact in double, rounded
    * half-away-from-zero identically by both engines): integer sums are
    * order-independent where float sums are not, which is what makes the
    * result reproducible across partitionings AND hash-comparable across
    * engines. The 2^14 scale keeps every value on the long path — sums
    * ~2^21, pairwise dots < 2^50 — safely under 2^53, so even the final
    * long -> double conversions are EXACT (a 2^30 scale pushed the dots
    * to ~2^75, where DuckDB's int128 -> double conversion double-rounds a
    * ulp off Spark's). Headroom: exactness holds to ~10^7 vectors per
    * label at unit-scale components; widen the dot aggregate to decimal
    * beyond that.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val comp = Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("label"), col("pos"),
        round(col("v").cast("double") * lit(16384L)).cast("long").as("lv"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("lv")).as("s"))
    val dots = comp.select(col("label").as("la"), col("pos"), col("s").as("sa"))
      .join(comp.select(col("label").as("lb"), col("pos"), col("s").as("sb")),
        "pos")
      .filter(col("la") <= col("lb"))
      .groupBy(col("la"), col("lb"))
      .agg(sum(col("sa") * col("sb")).cast("double").as("dot"))
    val norms = dots.filter(col("la") === col("lb"))
      .select(col("la").as("l"), sqrt(col("dot")).as("nrm"))
    dots.filter(col("la") < col("lb"))
      .join(norms.select(col("l").as("la"), col("nrm").as("norm_a")), "la")
      .join(norms.select(col("l").as("lb"), col("nrm").as("norm_b")), "lb")
      .select(col("la").as("label_a"), col("lb").as("label_b"),
        (col("dot") / (col("norm_a") * col("norm_b"))).as("cosine"))
  }

  /** Per-label representation-drift monitor — [[labelCentroids]]' kernel
    * pointed at TIME instead of at label pairs: the corpus splits into an
    * "old" and a "new" half (vec_id parity stands in for the snapshot
    * boundary), and for every label present in both, the cosine between
    * its two half-centroids says how far that label's representation
    * moved between snapshots — the alarm a pipeline reads after an
    * embedding-model upgrade or a source-mix shift (drift_cos ~1: stable;
    * falling: that label's region of the space moved and downstream
    * ANN/semdedup thresholds need recalibration). Same integer-domain
    * exactness as labelCentroids: components lift to the 2^14-scaled long
    * domain, sums are order-free, and the one cosine division is IEEE —
    * bit-equal cross-engine. Same scale shape too: one posexplode scan to
    * a (label, half, dim) aggregate, then arithmetic on a
    * |labels| x 2 x dim table that fits anywhere.
    */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame =
    embeddingDriftOf(Tables.embeddings(spark, dir))

  /** The drift kernel over any (vec_id, embedding, label) frame — split
    * out so SimilaritySpec can pin the exact-1.0 / exact-0.0 corners on
    * crafted halves.
    */
  def embeddingDriftOf(emb: DataFrame): DataFrame = {
    val comp = emb
      .select(col("label"), pmod(col("vec_id"), lit(2)).as("half"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("label"), col("half"), col("pos"),
        round(col("v").cast("double") * lit(16384L)).cast("long").as("lv"))
      .groupBy(col("label"), col("half"), col("pos"))
      .agg(sum(col("lv")).as("s"))
    val counts = emb.groupBy(col("label"))
      .agg(coalesce(sum(when(pmod(col("vec_id"), lit(2)) === 0, 1L)),
          lit(0L)).as("n_old"),
        coalesce(sum(when(pmod(col("vec_id"), lit(2)) === 1, 1L)),
          lit(0L)).as("n_new"))
    val a = comp.filter(col("half") === 0)
      .select(col("label"), col("pos"), col("s").as("sa"))
    val b = comp.filter(col("half") === 1)
      .select(col("label"), col("pos"), col("s").as("sb"))
    a.join(b, Seq("label", "pos"))
      .groupBy(col("label"))
      .agg(sum(col("sa") * col("sb")).cast("double").as("dot"),
        sum(col("sa") * col("sa")).cast("double").as("na"),
        sum(col("sb") * col("sb")).cast("double").as("nb"))
      .join(counts, "label")
      .select(col("label"), col("n_old"), col("n_new"),
        (col("dot") / (sqrt(col("na")) * sqrt(col("nb"))))
          .as("drift_cos"))
  }

  /** Hybrid retrieval fusion (round-14 verdict ask #6) — the standard
    * production retrieval stack: the LEXICAL ranker
    * ([[TextSuite.lexicalRetrieval]]'s shingle-postings top-k) and the
    * SEMANTIC ranker ([[embedTopK]]'s brute-force cosine top-k) fused by
    * reciprocal-rank fusion, under the fixture convention that embeddings
    * row i embeds document i (the ids are the join key, exactly how a
    * real corpus carries doc_id through both indexes). RRF is computed in
    * EXACT INTEGER arithmetic — contribution = 1e6 div (60 + rank), the
    * same fixed-point discipline as the lexical idf — so the fused score
    * is an associative BIGINT sum, bit-identical on any engine and any
    * execution order (the float 1/(60+r) would make ties engine-
    * dependent). A candidate surfaced by only one ranker scores only
    * that ranker's term (union-groupBy semantics, no outer-join nulls);
    * n_sources records how many rankers surfaced it.
    *
    * Scale shape: both rankers cap to top-k per query BEFORE fusion
    * (WindowGroupLimit on each branch — PlanSpec-pinned), so the fusion
    * input is |queries| × 2k rows regardless of corpus size; the fusion
    * itself is a union + one hash aggregate + a bounded rank window. At
    * 100 TB the expensive halves are the rankers themselves (each
    * already measured/pinned); fusion cost never grows past the rank
    * lists it joins.
    */
  def hybridRetrieval(spark: SparkSession, dir: String): DataFrame =
    hybridFusionOf(TextSuite.lexicalRetrieval(spark, dir, fusedK),
      embedTopK(spark, dir), fusedK)

  /** The one fused depth: [[embedTopK]]/[[embedIvfTopK]] pin top-5
    * internally and the generated oracles hardcode `QUALIFY rnk <= 5`,
    * so a caller-supplied k ≠ 5 would silently fuse a truncated semantic
    * list and diverge from the oracle (ADVICE r15) — the parameter is
    * gone rather than latent. A deployment wanting another depth threads
    * it through BOTH rankers and [[hybridFusionOf]] together.
    */
  private val fusedK = 5

  /** The fusion composed with the SCALE-path semantic ranker: the same
    * exact-integer RRF over [[embedIvfTopK]]'s probed-cell candidates
    * instead of the brute-force scan — what a production deployment
    * actually fuses at corpus scale (the exact ranker stays as the
    * recall calibration, the ivf_kmeans_recall pairing). One fusion
    * kernel ([[hybridFusionOf]]), two semantic backends, both
    * oracle-checked from their own rankers' oracles verbatim.
    */
  def hybridRetrievalIvf(spark: SparkSession, dir: String): DataFrame =
    hybridFusionOf(TextSuite.lexicalRetrieval(spark, dir, fusedK),
      embedIvfTopK(spark, dir), fusedK)

  /** The production pairing (round-15 verdict ask #3): BM25 as the
    * lexical side — [[TextSuite.bm25Retrieval]]'s saturated,
    * length-normalized ranking — fused with the scale-path IVF semantic
    * ranker through the SAME [[hybridFusionOf]] kernel. BM25's output
    * satisfies the fusion's (query_id, doc_id, rnk) contract unchanged,
    * which is the point: the fusion is ranker-agnostic, and its oracle
    * embeds bm25_retrieval's own oracle verbatim as the lex CTE.
    */
  def hybridRetrievalBm25(spark: SparkSession, dir: String): DataFrame =
    hybridFusionOf(TextSuite.bm25Retrieval(spark, dir, fusedK),
      embedIvfTopK(spark, dir), fusedK)

  /** The RRF fusion kernel over any two top-k rank lists: `lex` carries
    * (query_id, doc_id, rnk), `sem` carries (query_id, neighbor_id,
    * rank) — the contract both rankers' public outputs already satisfy.
    */
  def hybridFusionOf(lex: DataFrame, sem: DataFrame, k: Int): DataFrame = {
    val l = lex.select(col("query_id"), col("doc_id").as("cand_id"),
      col("rnk").as("rank"))
    val s = sem.select(col("query_id"), col("neighbor_id").as("cand_id"),
      col("rank"))
    val fused = l.unionAll(s)
      .select(col("query_id"), col("cand_id"),
        expr("1000000 div (60 + rank)").as("contrib"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("contrib")).as("rrf"), count(lit(1)).as("n_sources"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("cand_id").asc)
    fused.withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
  }

  /** Artifact roots already resolved by this process, one per (session,
    * sf dir), each carrying the corpus FINGERPRINT it resolved against:
    * a memo over [[graft.sources.IndexStore.resolve]] that re-checks the
    * fingerprint on every hit (a metadata-only listing — cheap next to
    * any serve) and re-resolves when the corpus mutated underneath it,
    * so the staleness guarantee holds WITHIN a session too, not just
    * across them (round-18 advice closed the within-session hole).
    * computeIfAbsent makes the build-or-reuse decision atomic under
    * concurrent queries. DURABILITY lives in the store, not this map
    * (round-17 verdict ask #1): the artifacts persist under the
    * fingerprint key that a FRESH session — or a fresh process — loads
    * without rebuilding ([[indexServeRestart]] proves it).
    */
  private val indexRoots = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (String, String)]()

  /** Build the retrieval indexes as PARQUET ARTIFACTS — the persisted
    * form a production deployment builds nightly and serves many times:
    *   - ivf_centroids (cell, centroid): the coarse-quantizer literals;
    *   - ivf_cells (vec_id, cell, embedding): the inverted lists — the
    *     corpus assigned once, never re-assigned at serve time;
    *   - lex_tf (doc_id, h, tf): the postings ([[TextSuite
    *     .lexicalPostings]], the SAME build the inline rankers run);
    *   - lex_df (h, df) and lex_dl (doc_id, dl): derived FROM the
    *     written lex_tf artifact (df is each posting list's length, dl
    *     each doc's Σtf — BM25's doc length), so the derived artifacts
    *     provably describe the persisted postings, not a recompute;
    *   - lex_n: the corpus size the idf fixed-point needs.
    * Scale shape: two corpus scans total (one per modality), each a
    * map-side pipeline into a partitioned write; everything downstream
    * derives from artifacts. At 100 TB the artifacts are the objects a
    * serving fleet mounts read-only — queries never touch the corpus.
    */
  /** The build body: writes every artifact of
    * [[graft.sources.IndexStore.Artifacts]] under `root`. The parquet
    * dirs are written mode-default (the store hands us a fresh tmp dir);
    * df/dl derive FROM the written lex_tf artifact so the derived
    * artifacts provably describe the persisted postings.
    */
  private[graft] def writeIndexArtifacts(spark: SparkSession, dir: String,
                                         root: String): Unit = {
    val cents = Similarity.ivfCentroids(ivfCells, dim, seed)
    spark.createDataFrame(
        cents.zipWithIndex.map { case (c, i) => (i, c) })
      .toDF("cell", "centroid")
      .write.parquet(s"$root/ivf_centroids")
    Similarity.ivfIndexWith(Tables.embeddings(spark, dir), cents)
      .select(col("vec_id"), col("cell"), col("embedding"))
      .write.parquet(s"$root/ivf_cells")
    TextSuite.lexicalPostings(Tables.documents(spark, dir))
      .write.parquet(s"$root/lex_tf")
    val tfA = spark.read.parquet(s"$root/lex_tf")
    tfA.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .write.parquet(s"$root/lex_df")
    tfA.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      .write.parquet(s"$root/lex_dl")
    Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
      .write.parquet(s"$root/lex_n")
  }

  private def builtIndexRoot(spark: SparkSession, dir: String): String = {
    val fp = graft.sources.IndexStore.corpusFingerprint(spark, dir)
    indexRoots.compute((spark, dir), { (_, cached) =>
      if (cached != null && cached._2 == fp) cached
      else (graft.sources.IndexStore.resolve(spark, dir)(
        tmp => writeIndexArtifacts(spark, dir, tmp)), fp)
    })._1
  }

  /** The build's MANIFEST — one row per persisted artifact with its row
    * count and an exact integer checksum (sums of small-domain columns;
    * never raw 2⁶³ hashes, which would overflow BIGINT), read back FROM
    * THE WRITTEN PARQUET. The DuckDB oracle recomputes every artifact
    * from the corpus (cell assignment against the same centroid
    * literals, postings from the same FNV-shingle multiset), so a build
    * that dropped rows, assigned a vector to the wrong cell, or
    * derived df/dl from anything but the persisted postings
    * hash-mismatches its artifact's row.
    */
  def indexBuild(spark: SparkSession, dir: String): DataFrame = {
    val root = builtIndexRoot(spark, dir)
    def m(name: String,
          checksum: org.apache.spark.sql.Column): DataFrame =
      spark.read.parquet(s"$root/$name")
        .agg(count(lit(1)).cast("long").as("n_rows"),
          checksum.cast("long").as("checksum"))
        .select(lit(name).as("artifact"), col("n_rows"), col("checksum"))
    m("ivf_centroids", sum(col("cell")))
      .unionAll(m("ivf_cells", sum(col("vec_id") * col("cell"))))
      .unionAll(m("lex_tf", sum(col("tf"))))
      .unionAll(m("lex_df", sum(col("df"))))
      .unionAll(m("lex_dl", sum(col("dl"))))
      .unionAll(m("lex_n", sum(col("n_docs"))))
  }

  /** hybrid_retrieval_ivf SERVED FROM THE PERSISTED INDEX — the other
    * half of the build/serve split: the lexical tail scores against the
    * loaded lex_tf/lex_df/lex_n artifacts and the IVF tail probes the
    * loaded ivf_cells inverted lists; the corpus tables are touched
    * ONLY for the five query docs/vectors (pruned, filter-pushed reads
    * — request processing), which PlanSpec pins on the serve plan. Must
    * hash-match hybrid_retrieval_ivf's oracle verbatim: serving from
    * the index is an execution strategy, never a semantic change.
    */
  def indexServe(spark: SparkSession, dir: String): DataFrame =
    indexServeFrom(spark, dir, builtIndexRoot(spark, dir))

  /** The serve tail over an EXPLICIT artifact root — shared by the
    * in-session serve, the fresh-session restart serve, and the
    * streaming serve's finish.
    */
  private[graft] def indexServeFrom(spark: SparkSession, dir: String,
                                    root: String): DataFrame = {
    val lex = TextSuite.lexicalTopKFrom(
      TextSuite.lexicalQueryShingles(Tables.documents(spark, dir)),
      spark.read.parquet(s"$root/lex_tf"),
      spark.read.parquet(s"$root/lex_df"),
      spark.read.parquet(s"$root/lex_n"), fusedK)
    val sem = Similarity.ivfTopKFromIndex(
      spark.read.parquet(s"$root/ivf_cells"),
      Tables.embeddings(spark, dir).filter(col("vec_id") < 5),
      fusedK, Similarity.ivfCentroids(ivfCells, dim, seed), ivfProbe)
    hybridFusionOf(lex, sem, fusedK)
  }

  /** `index_serve` ACROSS A PROCESS RESTART (round-17 verdict ask #1):
    * the build half runs (or is found persisted) via the normal
    * resolve, then a FRESH SparkSession — new session state, empty
    * in-process memo key, simulating the serving fleet's separate
    * process — re-resolves the artifacts PURELY FROM DISK
    * ([[graft.sources.IndexStore.loadOnly]]: manifest + fingerprint
    * match, no build path, no corpus data scan) and answers the serve
    * query from them. Must hash-match index_serve's (=
    * hybrid_retrieval_ivf's) oracle verbatim: surviving a restart is a
    * storage property, never a semantic change. A store entry that
    * failed to persist, lost an artifact, or was built from a different
    * corpus makes loadOnly THROW — an `err` row, not a silent rebuild.
    */
  def indexServeRestart(spark: SparkSession, dir: String): DataFrame = {
    builtIndexRoot(spark, dir) // the "prior session": build + persist
    val fresh = spark.newSession()
    indexServeFrom(fresh, dir, graft.sources.IndexStore.loadOnly(fresh, dir))
  }

  /** index_serve AS A STREAM — requests over the wire answered from the
    * persisted artifacts, mid-stream restart + redelivered wave; see
    * [[graft.streaming.StreamReplay.streamedIndexServe]]. Same centroid
    * literals and probe width as index_serve, same oracle.
    */
  def streamIndexServe(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamReplay.streamedIndexServe(spark, dir,
      builtIndexRoot(spark, dir),
      Similarity.ivfCentroids(ivfCells, dim, seed), ivfProbe, fusedK)

  /** The one empty wire dir every plan-capture frame reads — cached per
    * JVM and registered for exit deletion (it stays empty; no streaming
    * query ever starts against it).
    */
  private lazy val servePlanWireDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_serve_plan")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** The streaming serve plan over an in-memory wire stand-in — for
    * PlanSpec's no-corpus-scan pin (the replay's FileTopic wire has the
    * same schema; the plan's static sides are identical either way).
    */
  private[graft] def streamIndexServePlanFrame(spark: SparkSession,
                                               dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val wireSchema = StructType(Seq(
      StructField("query_id", LongType), StructField("text", StringType),
      StructField("embedding", ArrayType(FloatType))))
    // one cached, deleteOnExit-registered dir per JVM — the frame only
    // exists for plan capture, so leaking a fresh dir per PlanSpec run
    // (round-18 advice) bought nothing
    val wire = spark.readStream.schema(wireSchema).format("json")
      .load(servePlanWireDir)
    graft.streaming.StreamReplay.indexServeStreamFrame(wire,
      builtIndexRoot(spark, dir),
      Similarity.ivfCentroids(ivfCells, dim, seed), ivfProbe)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "index_build" -> (indexBuild _),
    "index_serve" -> (indexServe _),
    "index_serve_restart" -> (indexServeRestart _),
    "stream_index_serve" -> (streamIndexServe _),
    "hybrid_retrieval" -> ((s: SparkSession, d: String) =>
      hybridRetrieval(s, d)),
    "hybrid_retrieval_ivf" -> ((s: SparkSession, d: String) =>
      hybridRetrievalIvf(s, d)),
    "hybrid_bm25" -> ((s: SparkSession, d: String) =>
      hybridRetrievalBm25(s, d)),
    "embed_decontam" -> ((s: SparkSession, d: String) => embedDecontam(s, d)),
    "label_centroids" -> (labelCentroids _),
    "embedding_drift" -> (embeddingDrift _),
    "semdedup"       -> (semDedupSurvivors _),
    "matryoshka_rerank" -> (matryoshkaRerank _),
    "embed_topk"    -> (embedTopK _),
    "late_interaction" -> (lateInteraction _),
    "knn_label"     -> (knnLabel _),
    "hard_negatives" -> (hardNegatives _),
    "stream_ann"    -> (streamAnn _),
    "stream_ann_ttl" -> (streamAnnTtl _),
    "state_inspect_ann_ttl" -> (stateInspectAnnTtl _),
    "stream_rerank" -> (streamRerank _),
    "stream_hybrid" -> (streamHybrid _),
    "stream_hybrid_bm25" -> (streamHybridBm25 _),
    "state_inspect_ann" -> (stateInspectAnn _),
    "embed_neardup" -> (embedNearDup _),
    "embed_neardup_lsh" -> (embedNearDupLsh _),
    "embed_ann"     -> (embedAnnTopK _),
    "embed_ivf"     -> (embedIvfTopK _),
    "embed_pq"      -> (embedPqTopK _),
    "embed_ivfpq"   -> (embedIvfPqTopK _),
    "embed_quant"   -> (embedQuant _),
    "ivf_kmeans_recall" -> (ivfKmeansRecall _),
    "pq_kmeans_gain"    -> (pqKmeansGain _))

  /** Doubles are embedded in SCIENTIFIC notation with 17 significant
    * digits: DuckDB types E-notation literals as DOUBLE and its parser
    * rounds 17 significant digits to the exact nearest double. A plain
    * decimal literal (Double.toString form) would parse as DECIMAL, whose
    * DECIMAL->DOUBLE conversion was measured to land one ulp off.
    * Locale.ROOT: a comma-decimal default locale would otherwise emit
    * syntactically broken SQL.
    */
  private def fmtD(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.17e", Double.box(d))

  private def sqlArr(v: Seq[Double]): String =
    v.map(fmtD).mkString("[", ", ", "]")

  /** Bucket id of one LSH table as SQL: sum of sign bits weighted 2^i —
    * identical to Spark's shiftleft(signBit)/OR fold (bits are disjoint).
    * `e` is the vector CAST to DOUBLE[]; sign uses the same `>= 0` boundary
    * as VectorFunctions.signBit.
    */
  private def bucketExpr(planes: Seq[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(e, ${sqlArr(p.toSeq)}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** Generated oracle for embed_ann: recompute every table's bucket from
    * the hyperplane literals, join candidates on (table, bucket), exact
    * cosine re-rank — the same pipeline as Similarity.annTopK.
    */
  private def annOracle: String = {
    val buckets = (0 until annTables).map { t =>
      bucketExpr(Similarity.hyperplaneValues(annBits, dim, seed + t * 1000))
    }
    val tableIds = (0 until annTables).mkString("[", ", ", "]")
    s"""WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |sigs AS (
       |  SELECT vec_id, e,
       |         unnest(${buckets.mkString("[", ",\n                 ", "]")}) AS bucket,
       |         unnest($tableIds) AS table_id
       |  FROM s),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM sigs c
       |  JOIN (SELECT * FROM sigs WHERE vec_id < 5) q
       |    ON c.table_id = q.table_id AND c.bucket = q.bucket
       |  WHERE c.vec_id <> q.vec_id)
       |SELECT cand.query_id, cand.neighbor_id,
       |       list_cosine_similarity(ce.e, qe.e) AS cos,
       |       CAST(row_number() OVER (PARTITION BY cand.query_id
       |         ORDER BY list_cosine_similarity(ce.e, qe.e) DESC,
       |                  cand.neighbor_id ASC) AS INT) AS rank
       |FROM cand
       |JOIN s ce ON ce.vec_id = cand.neighbor_id
       |JOIN s qe ON qe.vec_id = cand.query_id
       |QUALIFY rank <= 5""".stripMargin
  }

  /** Generated oracle for embed_ivf: assign each vector to its best cell by
    * centroid dot product (ties -> higher cell, matching Spark's
    * greatest-of-structs), probe the top-nProbe cells per query, exact
    * cosine re-rank — the same pipeline as Similarity.ivfTopK.
    */
  private def ivfOracle: String = {
    val cents = Similarity.ivfCentroids(ivfCells, dim, seed)
    val scores = cents.map(c => s"list_dot_product(e, ${sqlArr(c)})")
    val cellIds = (0 until ivfCells).mkString("[", ", ", "]")
    s"""WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cells AS (
       |  SELECT vec_id, e,
       |         unnest(${scores.mkString("[", ",\n                 ", "]")}) AS score,
       |         unnest($cellIds) AS cell
       |  FROM s),
       |assign AS (
       |  SELECT vec_id, e, cell FROM cells
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, cell DESC) = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, e AS qe, cell FROM cells WHERE vec_id < 5
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, cell DESC) <= $ivfProbe)
       |SELECT p.query_id, a.vec_id AS neighbor_id,
       |       list_cosine_similarity(a.e, p.qe) AS cos,
       |       CAST(row_number() OVER (PARTITION BY p.query_id
       |         ORDER BY list_cosine_similarity(a.e, p.qe) DESC,
       |                  a.vec_id ASC) AS INT) AS rank
       |FROM assign a JOIN probes p ON a.cell = p.cell
       |WHERE a.vec_id <> p.query_id
       |QUALIFY rank <= 5""".stripMargin
  }

  /** Generated oracle for index_build's manifest: recompute every
    * persisted artifact from the corpus — cell assignment against the
    * SAME centroid literals (ties → higher cell, matching Spark's
    * greatest-of-structs), postings from the same FNV-shingle multiset
    * ([[HashOracles.postingsCtes]]), df/dl derived from those postings —
    * and roll each to (n_rows, checksum). All sums CAST to BIGINT (the
    * HUGEINT lint) and all checksum domains small (cell ids, tf counts),
    * so the compare is exact.
    */
  private def indexBuildOracle: String = {
    val cents = Similarity.ivfCentroids(ivfCells, dim, seed)
    val scores = cents.map(c => s"list_dot_product(e, ${sqlArr(c)})")
    val cellIds = (0 until ivfCells).mkString("[", ", ", "]")
    s"""WITH ${HashOracles.postingsCtes},
       |s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cells AS (
       |  SELECT vec_id,
       |         unnest(${scores.mkString("[", ",\n                 ", "]")}) AS score,
       |         unnest($cellIds) AS cell
       |  FROM s),
       |assign AS (
       |  SELECT vec_id, cell FROM cells
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, cell DESC) = 1),
       |dfx AS (SELECT h0, count(*) AS df FROM tfh GROUP BY 1),
       |dlx AS (SELECT doc_id, sum(tf) AS dl FROM tfh GROUP BY 1)
       |SELECT 'ivf_centroids' AS artifact, CAST($ivfCells AS BIGINT) AS n_rows,
       |       CAST(${(0 until ivfCells).sum} AS BIGINT) AS checksum
       |UNION ALL SELECT 'ivf_cells', CAST(count(*) AS BIGINT),
       |       CAST(sum(vec_id * cell) AS BIGINT) FROM assign
       |UNION ALL SELECT 'lex_tf', CAST(count(*) AS BIGINT),
       |       CAST(sum(tf) AS BIGINT) FROM tfh
       |UNION ALL SELECT 'lex_df', CAST(count(*) AS BIGINT),
       |       CAST(sum(df) AS BIGINT) FROM dfx
       |UNION ALL SELECT 'lex_dl', CAST(count(*) AS BIGINT),
       |       CAST(sum(dl) AS BIGINT) FROM dlx
       |UNION ALL SELECT 'lex_n', CAST(1 AS BIGINT),
       |       (SELECT CAST(count(*) AS BIGINT) FROM documents)""".stripMargin
  }

  /** Generated oracle for embed_pq: per subvector pick the argmax-scoring
    * codebook entry from the literals, concatenate the entries into the
    * reconstruction, rank by ADC cosine. Argmax ties resolve to the HIGHEST
    * index — matching Spark's greatest-of-structs in pqCode — via
    * list_position over the REVERSED score list (a first-index pick would
    * silently diverge on an exact score tie, plausible with
    * float-rounded duplicate codebook subvectors).
    */
  private def pqOracle: String = {
    val subDim = dim / pqSub
    val books = Similarity.pqCodebooks(pqSub, subDim, pqK, seed)
    val scoreArrs = (0 until pqSub).map { s =>
      val lo = s * subDim + 1
      val hi = (s + 1) * subDim
      books(s).map { c =>
        val cNormHalf = c.map(x => x * x).sum / 2.0
        s"list_dot_product(e[$lo:$hi], ${sqlArr(c.toSeq)}) - ${fmtD(cNormHalf)}"
      }.mkString("[", ",\n             ", "]")
    }
    val bookLits = (0 until pqSub).map { s =>
      books(s).map(c => sqlArr(c.toSeq)).mkString("[", ", ", "]")
    }
    val reconParts = (0 until pqSub).map { s =>
      s"${bookLits(s)}[$pqK + 1 - list_position(list_reverse(sc$s), list_max(sc$s))]"
    }
    val recon = reconParts.reduce((a, b) => s"list_concat($a, $b)")
    val scSelects = (0 until pqSub).map(s => s"${scoreArrs(s)} AS sc$s").mkString(",\n         ")
    s"""WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |sc AS (
       |  SELECT vec_id, e,
       |         $scSelects
       |  FROM s),
       |recon AS (SELECT vec_id, $recon AS r FROM sc),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM s WHERE vec_id < 5)
       |SELECT q.query_id, c.vec_id AS neighbor_id,
       |       list_cosine_similarity(c.r, q.qe) AS adc_cos,
       |       CAST(row_number() OVER (PARTITION BY q.query_id
       |         ORDER BY list_cosine_similarity(c.r, q.qe) DESC,
       |                  c.vec_id ASC) AS INT) AS rank
       |FROM recon c, q
       |WHERE c.vec_id <> q.query_id
       |QUALIFY rank <= 5""".stripMargin
  }

  /** Generated oracle for embed_neardup_lsh: reproduce buckets ->
    * candidate pairs -> exact-cosine filter from the hyperplane literals.
    * Generated at the `annBits` floor — valid because autoBits sizes every
    * oracle-checked fixture (<= 2,048 vectors at targetOcc 32) to exactly
    * annBits; SimilaritySpec pins that equivalence so a fixture-size change
    * that would desync query and oracle fails by name, not by hash.
    */
  private def nearDupLshOracle: String = {
    val buckets = (0 until annTables).map { t =>
      bucketExpr(Similarity.hyperplaneValues(annBits, dim, seed + t * 1000))
    }
    val tableIds = (0 until annTables).mkString("[", ", ", "]")
    s"""WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |sigs AS (
       |  SELECT vec_id, e,
       |         unnest(${buckets.mkString("[", ",\n                 ", "]")}) AS bucket,
       |         unnest($tableIds) AS table_id
       |  FROM s),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM sigs a JOIN sigs b
       |    ON a.table_id = b.table_id AND a.bucket = b.bucket
       |   AND a.vec_id < b.vec_id)
       |SELECT c.id_a, c.id_b, list_cosine_similarity(ea.e, eb.e) AS cos
       |FROM cand c
       |JOIN s ea ON ea.vec_id = c.id_a
       |JOIN s eb ON eb.vec_id = c.id_b
       |WHERE list_cosine_similarity(ea.e, eb.e) > 0.4""".stripMargin
  }

  /** Generated oracle for late_interaction: the same token slices
    * (liTokens x liSubDim, shared constants), per-query-token max cosine
    * over the candidate doc's tokens, and the FIXED-ORDER sum of the
    * maxima — `m0 + m1 + …` left-to-right, exactly how the engine adds
    * its aggregate columns, so the score doubles are bit-equal.
    */
  private def lateInteractionOracle: String = {
    val toks = (0 until liTokens).mkString("[", ", ", "]")
    val maxima = (0 until liTokens).map(i =>
      s"max(CASE WHEN qt = $i THEN cos END)")
    s"""WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |tok AS (
       |  SELECT vec_id, u.t AS t,
       |         list_slice(e, 1 + $liSubDim * u.t, $liSubDim * (u.t + 1)) AS sub
       |  FROM s, (SELECT unnest($toks) AS t) u),
       |cand AS (
       |  SELECT q.vec_id AS query_id, d.vec_id AS nid, q.t AS qt,
       |         list_cosine_similarity(d.sub, q.sub) AS cos
       |  FROM tok d JOIN tok q ON d.vec_id <> q.vec_id
       |  WHERE q.vec_id < 5),
       |scored AS (
       |  SELECT query_id, nid AS neighbor_id,
       |         ${maxima.mkString("\n           + ")} AS score
       |  FROM cand GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, score,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= 3""".stripMargin
  }

  /** Generated oracle for stream_ann: the ivfOracle cell-assign/probe
    * pipeline with the ONLINE-retrieval predicate — every vector is a
    * query, its candidates are the SMALLER-vec_id vectors sharing a
    * probed cell (the index as of its arrival), top-3 by exact cosine.
    * The streamed candidate emission is a pure function of the id order,
    * so this batch recompute pins it bit-for-bit.
    */
  private def streamAnnOracle: String = {
    val cents = Similarity.ivfCentroids(ivfCells, dim, seed)
    val scores = cents.map(c => s"list_dot_product(e, ${sqlArr(c)})")
    val cellIds = (0 until ivfCells).mkString("[", ", ", "]")
    s"""WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cells AS (
       |  SELECT vec_id, e,
       |         unnest(${scores.mkString("[", ",\n                 ", "]")}) AS score,
       |         unnest($cellIds) AS cell
       |  FROM s),
       |assign AS (
       |  SELECT vec_id, e, cell FROM cells
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, cell DESC) = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, e AS qe, cell FROM cells
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, cell DESC) <= $ivfProbe)
       |SELECT p.query_id, a.vec_id AS neighbor_id,
       |       list_cosine_similarity(a.e, p.qe) AS cos,
       |       CAST(row_number() OVER (PARTITION BY p.query_id
       |         ORDER BY list_cosine_similarity(a.e, p.qe) DESC,
       |                  a.vec_id ASC) AS INT) AS rank
       |FROM assign a JOIN probes p ON a.cell = p.cell
       |WHERE a.vec_id < p.query_id
       |QUALIFY rank <= 3""".stripMargin
  }

  /** Generated oracle for stream_ann_ttl: streamAnnOracle's candidate
    * recompute with the sliding-window predicate — a neighbor is a
    * candidate only when it arrived before the query AND within
    * windowDays = (id span) // 2 of the query's own event time (the
    * day-per-id convention makes that the integer predicate
    * query_id − vec_id ≤ wdays, bit-identical to the engine's
    * microsecond horizon arithmetic).
    */
  private def streamAnnTtlOracle: String = {
    val cents = Similarity.ivfCentroids(ivfCells, dim, seed)
    val scores = cents.map(c => s"list_dot_product(e, ${sqlArr(c)})")
    val cellIds = (0 until ivfCells).mkString("[", ", ", "]")
    s"""WITH w AS (
       |  SELECT (max(vec_id) - min(vec_id)) // 2 AS wdays FROM embeddings),
       |s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cells AS (
       |  SELECT vec_id, e,
       |         unnest(${scores.mkString("[", ",\n                 ", "]")}) AS score,
       |         unnest($cellIds) AS cell
       |  FROM s),
       |assign AS (
       |  SELECT vec_id, e, cell FROM cells
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, cell DESC) = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, e AS qe, cell FROM cells
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, cell DESC) <= $ivfProbe)
       |SELECT p.query_id, a.vec_id AS neighbor_id,
       |       list_cosine_similarity(a.e, p.qe) AS cos,
       |       CAST(row_number() OVER (PARTITION BY p.query_id
       |         ORDER BY list_cosine_similarity(a.e, p.qe) DESC,
       |                  a.vec_id ASC) AS INT) AS rank
       |FROM assign a JOIN probes p ON a.cell = p.cell CROSS JOIN w
       |WHERE a.vec_id < p.query_id
       |  AND p.query_id - a.vec_id <= w.wdays
       |QUALIFY rank <= 3""".stripMargin
  }

  /** Generated oracle for state_inspect_ann_ttl: the per-cell occupancy
    * recompute restricted to the retention window — after the
    * full-redelivery compaction, each cell holds exactly the newest
    * windowDays of its assigned vectors (cutoff = max id − span // 2).
    */
  private def stateAnnTtlOracle: String = {
    val cents = Similarity.ivfCentroids(ivfCells, dim, seed)
    val scores = cents.map(c => s"list_dot_product(e, ${sqlArr(c)})")
    val cellIds = (0 until ivfCells).mkString("[", ", ", "]")
    s"""WITH w AS (
       |  SELECT max(vec_id) - ((max(vec_id) - min(vec_id)) // 2) AS cut
       |  FROM embeddings),
       |s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cells AS (
       |  SELECT vec_id, e,
       |         unnest(${scores.mkString("[", ",\n                 ", "]")}) AS score,
       |         unnest($cellIds) AS cell
       |  FROM s),
       |assign AS (
       |  SELECT vec_id, cell FROM cells
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, cell DESC) = 1)
       |SELECT cell, count(*) AS n_vectors,
       |       CAST(sum(vec_id) AS BIGINT) AS id_sum
       |FROM assign, w WHERE vec_id >= w.cut GROUP BY cell""".stripMargin
  }

  /** Generated oracle for state_inspect_ann: streamAnnOracle's cell-
    * assignment CTEs (same centroid literals) rolled to per-cell
    * occupancy — every vector resides at exactly its argmax-dot cell, so
    * the offline ListState read must reproduce this histogram bit-for-bit
    * (count AND vec_id checksum) across the restart + redelivery.
    */
  private def stateAnnOracle: String = {
    val cents = Similarity.ivfCentroids(ivfCells, dim, seed)
    val scores = cents.map(c => s"list_dot_product(e, ${sqlArr(c)})")
    val cellIds = (0 until ivfCells).mkString("[", ", ", "]")
    s"""WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cells AS (
       |  SELECT vec_id, e,
       |         unnest(${scores.mkString("[", ",\n                 ", "]")}) AS score,
       |         unnest($cellIds) AS cell
       |  FROM s),
       |assign AS (
       |  SELECT vec_id, cell FROM cells
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, cell DESC) = 1)
       |SELECT cell, count(*) AS n_vectors,
       |       CAST(sum(vec_id) AS BIGINT) AS id_sum
       |FROM assign GROUP BY cell""".stripMargin
  }

  /** Generated oracle for stream_rerank: streamAnnOracle's candidate CTEs
    * (assign → probes → smaller-id candidates, same centroid literals)
    * with the rank taken over the RERANK score — MaxSim rebuilt from
    * token-slice cosines: per query token, greatest() of the `liTokens`
    * doc-token cosines; the per-token maxima added in ascending token
    * order, matching the native expression's `score += best` loop.
    */
  private def streamRerankOracle: String = {
    val cents = Similarity.ivfCentroids(ivfCells, dim, seed)
    val scores = cents.map(c => s"list_dot_product(e, ${sqlArr(c)})")
    val cellIds = (0 until ivfCells).mkString("[", ", ", "]")
    def slc(v: String, t: Int) =
      s"list_slice($v, ${1 + liSubDim * t}, ${liSubDim * (t + 1)})"
    val msim = (0 until liTokens).map { qt =>
      val cands = (0 until liTokens).map(dt =>
        s"list_cosine_similarity(${slc("a.e", dt)}, ${slc("p.qe", qt)})")
      s"greatest(${cands.mkString(",\n                ")})"
    }.mkString("\n           + ")
    s"""WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cells AS (
       |  SELECT vec_id, e,
       |         unnest(${scores.mkString("[", ",\n                 ", "]")}) AS score,
       |         unnest($cellIds) AS cell
       |  FROM s),
       |assign AS (
       |  SELECT vec_id, e, cell FROM cells
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, cell DESC) = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, e AS qe, cell FROM cells
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, cell DESC) <= $ivfProbe),
       |scored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |         $msim AS score
       |  FROM assign a JOIN probes p ON a.cell = p.cell
       |  WHERE a.vec_id < p.query_id)
       |SELECT query_id, neighbor_id, score,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY score DESC, neighbor_id ASC) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= 3""".stripMargin
  }

  /** Generated oracle for embed_ivfpq: the ivfOracle cell-assign/probe
    * CTEs composed with the pqOracle reconstruction CTEs, all from the
    * same seeded literals; candidates come from probed cells, scores from
    * reconstructions.
    */
  private def ivfPqOracle: String = {
    val cents = Similarity.ivfCentroids(ivfCells, dim, seed)
    val cellScores = cents.map(c => s"list_dot_product(e, ${sqlArr(c)})")
    val cellIds = (0 until ivfCells).mkString("[", ", ", "]")
    val subDim = dim / pqSub
    val books = Similarity.pqCodebooks(pqSub, subDim, pqK, seed)
    val scoreArrs = (0 until pqSub).map { s =>
      val lo = s * subDim + 1
      val hi = (s + 1) * subDim
      books(s).map { c =>
        val cNormHalf = c.map(x => x * x).sum / 2.0
        s"list_dot_product(e[$lo:$hi], ${sqlArr(c.toSeq)}) - ${fmtD(cNormHalf)}"
      }.mkString("[", ",\n             ", "]")
    }
    val bookLits = (0 until pqSub).map { s =>
      books(s).map(c => sqlArr(c.toSeq)).mkString("[", ", ", "]")
    }
    val reconParts = (0 until pqSub).map { s =>
      s"${bookLits(s)}[$pqK + 1 - list_position(list_reverse(sc$s), list_max(sc$s))]"
    }
    val recon = reconParts.reduce((a, b) => s"list_concat($a, $b)")
    val scSelects = (0 until pqSub).map(s => s"${scoreArrs(s)} AS sc$s").mkString(",\n         ")
    s"""WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cells AS (
       |  SELECT vec_id, e,
       |         unnest(${cellScores.mkString("[", ",\n                 ", "]")}) AS score,
       |         unnest($cellIds) AS cell
       |  FROM s),
       |assign AS (
       |  SELECT vec_id, cell FROM cells
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, cell DESC) = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, e AS qe, cell FROM cells WHERE vec_id < 5
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, cell DESC) <= $ivfProbe),
       |sc AS (
       |  SELECT vec_id, e,
       |         $scSelects
       |  FROM s),
       |recon AS (SELECT vec_id, $recon AS r FROM sc)
       |SELECT p.query_id, a.vec_id AS neighbor_id,
       |       list_cosine_similarity(r.r, p.qe) AS adc_cos,
       |       CAST(row_number() OVER (PARTITION BY p.query_id
       |         ORDER BY list_cosine_similarity(r.r, p.qe) DESC,
       |                  a.vec_id ASC) AS INT) AS rank
       |FROM assign a
       |JOIN probes p ON a.cell = p.cell
       |JOIN recon r ON r.vec_id = a.vec_id
       |WHERE a.vec_id <> p.query_id
       |QUALIFY rank <= 5""".stripMargin
  }

  /** Generated oracle for semdedup: the ivfOracle cell assignment (argmax
    * by centroid-dot, ties -> higher cell, matching greatest-of-structs)
    * plus the keep-min-id survivor rule as NOT EXISTS — the same pipeline
    * as Similarity.semDedup. 0.4e0: E-notation forces a DOUBLE literal
    * (DuckDB types 0.4 as DECIMAL, whose comparison boundary diverges).
    */
  private def semdedupOracle: String = {
    val cents = Similarity.ivfCentroids(ivfCells, dim, seed)
    val scores = cents.map(c => s"list_dot_product(e, ${sqlArr(c)})")
    val cellIds = (0 until ivfCells).mkString("[", ", ", "]")
    s"""WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cells AS (
       |  SELECT vec_id, e,
       |         unnest(${scores.mkString("[", ",\n                 ", "]")}) AS score,
       |         unnest($cellIds) AS cell
       |  FROM s),
       |assign AS (
       |  SELECT vec_id, e, cell FROM cells
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY score DESC, cell DESC) = 1)
       |SELECT a.vec_id, a.cell FROM assign a
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM assign b
       |  WHERE b.cell = a.cell AND b.vec_id < a.vec_id
       |    AND list_cosine_similarity(b.e, a.e) > 0.4e0)""".stripMargin
  }

  /** Generated oracle for matryoshka_rerank: coarse top-20 by prefix-16
    * cosine (list slice), exact full-dim rerank — the same two passes as
    * Similarity.matryoshkaTopK, same tie-breaks on both windows.
    */
  private def matryoshkaOracle: String =
    """WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |q AS (SELECT vec_id AS query_id, e AS qe FROM s WHERE vec_id < 5),
      |coarse AS (
      |  SELECT q.query_id, c.vec_id AS neighbor_id
      |  FROM s c, q
      |  WHERE c.vec_id <> q.query_id
      |  QUALIFY row_number() OVER (PARTITION BY q.query_id
      |    ORDER BY list_cosine_similarity(c.e[1:16], q.qe[1:16]) DESC,
      |             c.vec_id ASC) <= 20)
      |SELECT co.query_id, co.neighbor_id,
      |       list_cosine_similarity(ce.e, qe.qe) AS cos,
      |       CAST(row_number() OVER (PARTITION BY co.query_id
      |         ORDER BY list_cosine_similarity(ce.e, qe.qe) DESC,
      |                  co.neighbor_id ASC) AS INT) AS rank
      |FROM coarse co
      |JOIN s ce ON ce.vec_id = co.neighbor_id
      |JOIN q qe ON qe.query_id = co.query_id
      |QUALIFY rank <= 5""".stripMargin

  /** Generated oracle for the hybrid fusions: BOTH rankers' oracles are
    * embedded VERBATIM as CTEs (one definition each, zero drift between
    * the standalone and fused checks — `semSql` is embedTopkOracle for
    * hybrid_retrieval and ivfOracle for hybrid_retrieval_ivf, each
    * yielding (query_id, neighbor_id, ..., rank)), and the fusion is the
    * same exact-integer RRF sum — `1000000 // (60 + rank)` — the engine
    * computes, so the hash pins every fused score and tiebreak.
    */
  private def hybridOracleOver(semSql: String,
      lexName: String = "lexical_retrieval"): String =
    s"""WITH lex AS (
       |${TextSuite.oracles(lexName)}),
       |sem AS (
       |$semSql),
       |u AS (
       |  SELECT query_id, doc_id AS cand_id, rnk AS rank FROM lex
       |  UNION ALL
       |  SELECT query_id, neighbor_id AS cand_id, rank FROM sem),
       |f AS (
       |  SELECT query_id, cand_id,
       |         CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf,
       |         count(*) AS n_sources
       |  FROM u GROUP BY 1, 2)
       |SELECT query_id, cand_id, rrf, n_sources,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY rrf DESC, cand_id ASC) AS INT) AS rnk
       |FROM f QUALIFY rnk <= 5""".stripMargin

  /** embed_topk's oracle as a named val so the hybrid fusion can embed
    * it verbatim (an entry cannot reference the oracles map during its
    * own construction).
    */
  private val embedTopkOracle: String =
    """SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
      |       list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                              CAST(q.embedding AS DOUBLE[])) AS cos,
      |       CAST(row_number() OVER (
      |         PARTITION BY q.vec_id
      |         ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                         CAST(q.embedding AS DOUBLE[])) DESC,
      |                  e.vec_id ASC) AS INT) AS rank
      |FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 5) q
      |WHERE e.vec_id <> q.vec_id
      |QUALIFY rank <= 5""".stripMargin

  val oracles: Map[String, String] = Map(
    "hybrid_retrieval" -> hybridOracleOver(embedTopkOracle),
    "hybrid_retrieval_ivf" -> hybridOracleOver(ivfOracle),
    // the build's manifest: every artifact recomputed from the corpus
    "index_build" -> indexBuildOracle,
    // serving from the persisted index is an execution strategy, not a
    // semantic change: the serve answers hybrid_retrieval_ivf's oracle
    // VERBATIM (PlanSpec separately pins that the serve plan never
    // re-scans the corpus beyond the pruned query reads)
    "index_serve" -> hybridOracleOver(ivfOracle),
    // a fresh session serving from artifacts a prior session persisted
    // answers the SAME oracle — restart durability is a storage
    // property, never a semantic change (loadOnly throws on a missing
    // or stale entry rather than silently rebuilding)
    "index_serve_restart" -> hybridOracleOver(ivfOracle),
    // requests streamed over the wire, answered from the loaded
    // artifacts via stream-static joins with a mid-stream restart and a
    // redelivered request wave — converges to the SAME fused ranking
    "stream_index_serve" -> hybridOracleOver(ivfOracle),
    "hybrid_bm25" -> hybridOracleOver(ivfOracle, "bm25_retrieval"),
    // the streaming twin must converge to the identical fused ranking —
    // hybrid_retrieval_ivf's oracle verbatim is the whole point (the
    // probes retrieve the complete recovered index, so the online answer
    // equals the batch one)
    "stream_hybrid" -> hybridOracleOver(ivfOracle),
    // BM25 lexical side, online-IVF semantic side — hybrid_bm25's own
    // oracle composition verbatim (the online index converges to the
    // batch IVF answer, so the fused ranking is identical)
    "stream_hybrid_bm25" -> hybridOracleOver(ivfOracle, "bm25_retrieval"),
    // float components are lifted to exact scaled longs (x 2^14, rounded
    // half-away-from-zero — DuckDB round() and Spark round() agree); all
    // aggregates below stay under 2^53, so the long -> double conversions
    // are exact and only the cosine itself is (identical) double math
    "label_centroids" ->
      """WITH comp AS (
        |  SELECT label, i AS pos,
        |         CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 16384e0)
        |                  AS BIGINT)) AS BIGINT) AS s
        |  FROM embeddings,
        |       (SELECT unnest(range(1, (SELECT max(len(embedding))
        |                                FROM embeddings) + 1)) AS i)
        |  WHERE i <= len(embedding)
        |  GROUP BY 1, 2),
        |dots AS (
        |  SELECT a.label AS la, b.label AS lb,
        |         CAST(sum(a.s * b.s) AS DOUBLE) AS dot
        |  FROM comp a JOIN comp b ON a.pos = b.pos AND a.label <= b.label
        |  GROUP BY 1, 2),
        |norms AS (SELECT la AS l, sqrt(dot) AS nrm FROM dots WHERE la = lb)
        |SELECT d.la AS label_a, d.lb AS label_b,
        |       d.dot / (na.nrm * nb.nrm) AS cosine
        |FROM dots d
        |JOIN norms na ON na.l = d.la
        |JOIN norms nb ON nb.l = d.lb
        |WHERE d.la < d.lb""".stripMargin,
    // labelCentroids' integer-domain kernel split by vec_id parity; the
    // inner join drops labels missing a half, exactly like the engine's
    "embedding_drift" ->
      """WITH comp AS (
        |  SELECT label, vec_id % 2 AS half, i AS pos,
        |         CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 16384e0)
        |                  AS BIGINT)) AS BIGINT) AS s
        |  FROM embeddings,
        |       (SELECT unnest(range(1, (SELECT max(len(embedding))
        |                                FROM embeddings) + 1)) AS i)
        |  WHERE i <= len(embedding)
        |  GROUP BY 1, 2, 3),
        |cnt AS (
        |  SELECT label,
        |         CAST(coalesce(sum(CASE WHEN vec_id % 2 = 0 THEN 1 END), 0)
        |           AS BIGINT) AS n_old,
        |         CAST(coalesce(sum(CASE WHEN vec_id % 2 = 1 THEN 1 END), 0)
        |           AS BIGINT) AS n_new
        |  FROM embeddings GROUP BY 1),
        |d AS (
        |  SELECT a.label,
        |         CAST(sum(a.s * b.s) AS DOUBLE) AS dot,
        |         CAST(sum(a.s * a.s) AS DOUBLE) AS na,
        |         CAST(sum(b.s * b.s) AS DOUBLE) AS nb
        |  FROM comp a JOIN comp b ON a.label = b.label AND a.pos = b.pos
        |  WHERE a.half = 0 AND b.half = 1
        |  GROUP BY 1)
        |SELECT d.label, n_old, n_new,
        |       dot / (sqrt(na) * sqrt(nb)) AS drift_cos
        |FROM d JOIN cnt ON d.label = cnt.label""".stripMargin,
    "semdedup" -> semdedupOracle,
    "matryoshka_rerank" -> matryoshkaOracle,
    "embed_ann" -> annOracle,
    "embed_ivf" -> ivfOracle,
    "stream_ann" -> streamAnnOracle,
    "stream_ann_ttl" -> streamAnnTtlOracle,
    "state_inspect_ann" -> stateAnnOracle,
    "state_inspect_ann_ttl" -> stateAnnTtlOracle,
    "stream_rerank" -> streamRerankOracle,
    "late_interaction" -> lateInteractionOracle,
    // same bit-exact cosine + rank tie-breaks as embed_topk; vote ties
    // break to the smaller label in both engines
    "knn_label" ->
      """WITH s AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings),
        |q AS (SELECT * FROM s WHERE vec_id % 5 = 0),
        |p AS (SELECT * FROM s WHERE vec_id % 5 <> 0),
        |topk AS (
        |  SELECT q.vec_id AS query_id, q.label AS true_label,
        |         p.label AS n_label,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(p.e, q.e) DESC,
        |                    p.vec_id ASC) AS rnk
        |  FROM p, q
        |  QUALIFY rnk <= 5),
        |votes AS (
        |  SELECT query_id, true_label, n_label, count(*) AS votes
        |  FROM topk GROUP BY 1, 2, 3),
        |pred AS (
        |  SELECT query_id, true_label, n_label AS pred_label FROM votes
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY votes DESC, n_label ASC) = 1)
        |SELECT true_label AS label, count(*) AS n_vecs,
        |       CAST(coalesce(sum(CASE WHEN pred_label = true_label
        |         THEN 1 END), 0) AS BIGINT) AS n_correct,
        |       CAST(coalesce(sum(CASE WHEN pred_label = true_label
        |           THEN 1 END), 0) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS accuracy
        |FROM pred GROUP BY 1""".stripMargin,
    "embed_pq"  -> pqOracle,
    "embed_ivfpq" -> ivfPqOracle,
    "embed_neardup_lsh" -> nearDupLshOracle,
    // gates: the engine computes the measured side (recall vs in-engine
    // exact top-k / trained-vs-seeded SSE); the oracle derives the expected
    // all-TRUE rows from the table, so any quality regression hash-fails
    "ivf_kmeans_recall" ->
      """SELECT DISTINCT vec_id AS query_id, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,
    "embed_decontam" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        |           FROM embeddings)
        |SELECT c.vec_id, max(list_cosine_similarity(c.emb, ev.emb)) AS max_eval_cos
        |FROM e c, (SELECT emb FROM e WHERE vec_id < 5) ev
        |WHERE c.vec_id >= 5
        |GROUP BY c.vec_id
        |HAVING max(list_cosine_similarity(c.emb, ev.emb)) > 0.30""".stripMargin,
    "pq_kmeans_gain" ->
      """SELECT count(*) AS n_vectors, TRUE AS trained_better
        |FROM embeddings""".stripMargin,
    "embed_topk" -> embedTopkOracle,
    // same bit-exact cosine as embed_topk, plus the label-disagreement
    // join predicate and the near-dup ceiling — both applied to the
    // identical double, so the filtered set matches exactly
    "hard_negatives" ->
      """SELECT q.vec_id AS query_id, q.label AS q_label,
        |       e.vec_id AS neighbor_id, e.label AS neg_label,
        |       list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                              CAST(q.embedding AS DOUBLE[])) AS cos,
        |       CAST(row_number() OVER (
        |         PARTITION BY q.vec_id
        |         ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                         CAST(q.embedding AS DOUBLE[])) DESC,
        |                  e.vec_id ASC) AS INT) AS rank
        |FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 8) q
        |WHERE e.label <> q.label
        |  AND list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                             CAST(q.embedding AS DOUBLE[])) <= 0.95
        |QUALIFY rank <= 3""".stripMargin,
    "embed_neardup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                              CAST(b.embedding AS DOUBLE[])) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) > 0.4""".stripMargin,
    // identical double-precision op sequence as the engine (same divides,
    // same floor(x + 0.5) rounding, same reconstruction), so the hash
    // compare pins every quantization code and error bit-for-bit
    "embed_quant" ->
      """WITH s AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |         CAST(list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS DOUBLE) AS mn,
        |         (CAST(list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS DOUBLE)
        |          - CAST(list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS DOUBLE)) / 255.0 AS scale
        |  FROM embeddings)
        |SELECT vec_id,
        |  CAST(list_sum(list_transform(v, x ->
        |    CASE WHEN scale > 0 THEN CAST(floor((x - mn) / scale + 0.5) AS BIGINT)
        |         ELSE 0 END)) AS BIGINT) AS q_sum,
        |  CASE WHEN scale > 0 THEN list_max(list_transform(v, x ->
        |    abs(x - (mn + floor((x - mn) / scale + 0.5) * scale))))
        |       ELSE 0.0 END AS max_abs_err,
        |  (CASE WHEN scale > 0 THEN list_max(list_transform(v, x ->
        |    abs(x - (mn + floor((x - mn) / scale + 0.5) * scale))))
        |       ELSE 0.0 END) <= scale / 2 + 1e-12 AS within_bound
        |FROM s""".stripMargin)
}
