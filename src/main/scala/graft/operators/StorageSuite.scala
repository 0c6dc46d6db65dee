package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StringType}

import graft.model.Tables

/** Physical-layout operators — the storage-side levers that remove work
  * before any operator runs, which at 100 TB matter more than any plan
  * tweak:
  *
  *   - BUCKETING: pre-shuffle a table once at write time (hash of the
  *     join/agg key into a fixed bucket count). Every later equi-join or
  *     aggregation on that key reads co-located buckets and skips its
  *     exchange entirely — the dominant recurring cost of a fact-fact
  *     join, paid once instead of per query.
  *   - PARTITION PRUNING: lay the table out as one directory per value of
  *     a low-cardinality filter column. A query filtering on it never
  *     opens the other directories — the scan is pruned by the CATALOG
  *     (file listing), before row groups, before I/O.
  *
  * Both queries BUILD their layout from the fixture at construction time
  * (executor-side write jobs — the prepared-layout analogue of k-means
  * index training, declared in CollectLintSpec's allow-list) and then run
  * the query against the layout. Results are layout-independent by
  * construction, so the DuckDB oracles run the same logical query against
  * the raw parquet — any row the layout loses or duplicates is a hash
  * mismatch. The plan-level guarantees (no exchange under the bucketed
  * join, partition filters at the pruned scan) are pinned in PlanSpec.
  */
object StorageSuite {

  private def sfTag(dir: String): String =
    new java.io.File(dir).getName.replace('.', '_')

  private def layoutRoot(dir: String): String =
    s"/tmp/graft_layout_${sfTag(dir)}"

  private val nBuckets = 8

  private def writeBucketed(df: DataFrame, table: String, path: String,
                            key: String): Unit = {
    // repartition to one shuffle partition per bucket before the write so
    // each bucket lands in ONE file — multi-file buckets would force the
    // reader to re-sort (and at scale, to spill) what the layout already
    // ordered
    df.repartition(nBuckets, col(key))
      .write.format("parquet")
      .bucketBy(nBuckets, key).sortBy(key)
      .option("path", path)
      .mode("overwrite")
      .saveAsTable(table)
  }

  /** The co-located join itself (exposed for the PlanSpec pin): both sides
    * are bucketed by the join key with the same bucket count, so the
    * SortMergeJoin consumes the scans' bucket partitioning directly — ZERO
    * exchanges in the plan. The merge hint keeps the tiny fixture side
    * from broadcasting, which would hide the property being demonstrated.
    */
  def bucketedJoinPlan(spark: SparkSession, tag: String): DataFrame =
    spark.table(s"graft_li_bkt_$tag").hint("merge")
      .join(spark.table(s"graft_ord_bkt_$tag"),
        col("l_orderkey") === col("o_orderkey"))

  /** Revenue per order priority through a bucketed fact-fact join:
    * lineitem and orders are written bucketed by order key, and the join
    * reads both layouts with no shuffle of either fact table. The only
    * exchange left in the query is the final 5-group aggregate of partial
    * results. DECIMAL(18,2) sum for cross-engine double parity.
    */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val tag = sfTag(dir)
    val root = layoutRoot(dir)
    writeBucketed(
      Tables.lineitem(spark, dir).select("l_orderkey", "l_extendedprice"),
      s"graft_li_bkt_$tag", s"$root/li_bkt", "l_orderkey")
    writeBucketed(
      Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority"),
      s"graft_ord_bkt_$tag", s"$root/ord_bkt", "o_orderkey")
    bucketedJoinPlan(spark, tag)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** The pruned scan + aggregate (exposed for the PlanSpec pin): the
    * filter on the partition column becomes a PartitionFilter — directory
    * pruning at file-listing time, so 4 of the 5 event_type directories
    * are never opened, let alone read.
    */
  def partitionPrunePlan(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${layoutRoot(dir)}/events_by_type")
      .filter(col("event_type") === "purchase")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))

  /** Purchase-event rollup over a partitioned layout: events are written
    * partitioned by event_type; the query's event_type filter prunes to
    * one directory. The timestamp column is left out of the layout copy —
    * the rollup needs none of it, and the ns-precision round-trip is
    * exercised by the streaming suite.
    */
  private def writeEventsByType(spark: SparkSession, dir: String): Unit =
    Tables.events(spark, dir)
      .select("event_id", "user_id", "value", "event_type")
      .write.partitionBy("event_type").mode("overwrite")
      .parquet(s"${layoutRoot(dir)}/events_by_type")

  def partitionPrune(spark: SparkSession, dir: String): DataFrame = {
    writeEventsByType(spark, dir)
    partitionPrunePlan(spark, dir)
  }

  /** Event-type dimension, written as its own (tiny) parquet table — the
    * star-schema shape. It must be a real datasource scan, not an inline
    * literal: Catalyst folds a Filter over a LocalRelation into the
    * relation itself, and the PartitionPruning rule then sees no selective
    * predicate left to prune with.
    */
  private def writeTypeDim(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    Seq(("view", "browse"), ("click", "browse"), ("error", "ops"),
      ("purchase", "convert"), ("signup", "convert"))
      .toDF("event_type", "category")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"${layoutRoot(dir)}/type_dim")
  }

  /** The DPP join itself (exposed for the PlanSpec pin): the filter lives
    * on the DIM side only — the fact scan has no static event_type
    * predicate, so every pruned directory is pruned DYNAMICALLY, by the
    * runtime subquery DPP injects from the broadcast dim.
    */
  def dppJoinPlan(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${layoutRoot(dir)}/events_by_type")
      .join(spark.read.parquet(s"${layoutRoot(dir)}/type_dim")
        .filter(col("category") === "convert"),
        Seq("event_type"))
      .groupBy(col("event_type"), col("category"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double")
          .as("total_value"))

  /** Dynamic partition pruning — the join-driven sibling of the static
    * prune: the fact table is partitioned on the join key and the only
    * selective filter sits on the dimension side (`category = 'convert'`).
    * Spark broadcasts the filtered dim and re-uses that broadcast as a
    * runtime IN-subquery partition filter on the fact scan, so only the
    * matching directories are listed and read. At 100 TB this is the
    * star-schema workhorse: the date/tenant/type dimension decides which
    * partitions of the fact table exist for the query, with no static
    * predicate on the fact side at all. Plan pin (PlanSpec): the fact
    * scan's PartitionFilters must carry a dynamicpruningexpression.
    */
  def dppJoin(spark: SparkSession, dir: String): DataFrame = {
    writeEventsByType(spark, dir)
    writeTypeDim(spark, dir)
    dppJoinPlan(spark, dir)
  }

  /** The Z-ordered copy of lineitem's (partkey, suppkey) plane, written
    * once per fixture dir. Range-partitioning ON THE Z-VALUE + sorting
    * within partitions gives every output file a contiguous z-range, i.e.
    * a small (partkey, suppkey) box — the property ZOrderSpec measures
    * directly from the written footers.
    */
  private[operators] def writeZOrdered(spark: SparkSession, dir: String): String = {
    val path = s"${layoutRoot(dir)}/li_zorder"
    val z = graft.functions.ZOrder.zValue(col("l_partkey"), col("l_suppkey"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"),
        col("l_quantity"))
      .withColumn("zval", z)
      .repartitionByRange(16, col("zval"))
      .sortWithinPartitions(col("zval"))
      .drop("zval")
      .write.mode("overwrite").parquet(path)
    path
  }

  /** 2-D box query over the Z-ordered layout: lineitems with BOTH
    * l_partkey and l_suppkey in narrow ranges. On a layout sorted by
    * either single key the other key's predicate prunes nothing; on the
    * Z-ordered layout both predicates prune at the file level (each file's
    * min/max covers a small box of the plane) and again at row-group
    * level via parquet column stats — at 100 TB this is the difference
    * between scanning the fleet and scanning a handful of files. The
    * result is layout-independent (the oracle runs the same box on the
    * raw table): the hash proves the curve reorders, never loses, rows.
    */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val path = writeZOrdered(spark, dir)
    spark.read.parquet(path)
      .filter(col("l_partkey").between(400, 600) &&
        col("l_suppkey").between(40, 60))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast("double").as("revenue"))
  }

  /** Cross-engine, order-independent whole-table checksum — the
    * snapshot-integrity primitive behind migration sign-off, replica
    * comparison, and incremental-view audits: two engines (or two
    * snapshots) agree on a table iff they agree on one short digest row,
    * without either side sorting or shipping the data.
    *
    * Construction: each row canonicalizes column-by-column to a text form
    * both engines produce identically (ints/strings verbatim; doubles via
    * DECIMAL(18,6) — exact fixed-point, no float-to-string divergence;
    * timestamps as epoch seconds; float arrays element-wise; NULL as a
    * sentinel concat_ws would otherwise silently drop), then hashes to
    * sha256 and keeps 60 bits (15 hex chars — parseable into a BIGINT by
    * both engines; xxhash64 has no DuckDB twin). The table digest is the
    * exact DECIMAL(38,0) SUM of row digests: commutative, so no ordering
    * assumption anywhere, and partial-aggregable, so a 100 TB table
    * checksums in one map-side-combined scan with a single tiny shuffle.
    * A collision needs adversarial data (sum of 60-bit values), fine for
    * integrity auditing; the count rides along so an empty table can't
    * masquerade as checksum 0 of a non-empty one.
    */
  private def rowDigest(df: DataFrame): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    val canon = df.schema.fields.map { f =>
      val c = col(f.name)
      val s = f.dataType match {
        // floats go THROUGH double: Spark's float->decimal rounds the
        // float's shortest decimal string, DuckDB rounds the promoted
        // double value — for 7th-decimal-boundary floats those differ.
        // double->decimal agrees between the engines (verified over every
        // fixture double column), so promote first.
        case DoubleType | FloatType =>
          c.cast("double").cast(DecimalType(18, 6)).cast("string")
        case TimestampType => c.cast("long").cast("string")
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
          concat_ws(",", transform(c,
            x => x.cast("double").cast(DecimalType(18, 6)).cast("string")))
        case _ => c.cast("string")
      }
      coalesce(s, lit("<NULL>"))
    }
    conv(substring(sha2(concat_ws("|", canon.toSeq: _*), 256), 1, 15), 16, 10)
      .cast("long")
  }

  /** One digest row for an arbitrary DataFrame — the building block
    * tableChecksum applies across the catalog.
    */
  def checksumOf(df: DataFrame, name: String): DataFrame =
    df.select(rowDigest(df).as("d"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("d").cast(DecimalType(38, 0))).cast("string").as("checksum"))
      .select(lit(name).as("table_name"), col("n_rows"), col("checksum"))

  def tableChecksum(spark: SparkSession, dir: String): DataFrame =
    checksumTables.map { name =>
      checksumOf(Tables.table(spark, dir, name), name)
    }.reduce(_.unionAll(_))

  /** Checksum MERGEABILITY gate — what makes the digest incremental at
    * scale: because the table digest is a plain sum of row digests,
    * digest(base) + digest(delta) must equal digest(base UNION delta)
    * computed from scratch. This query splits orders at the incr_agg
    * watermark, checksums the two sides and the whole table, and emits
    * the additivity booleans beside the digests — the snapshot-diff
    * primitive an incremental pipeline uses to certify that maintaining
    * a materialized table matched a full recompute WITHOUT rescanning
    * history (only the delta's digest is new work; base digests persist).
    */
  def checksumMerge(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit("1997-06-01").cast("timestamp")
    val o = Tables.orders(spark, dir)
    def side(df: DataFrame, tag: String): DataFrame =
      df.select(rowDigest(df).as("d"))
        .agg(count(lit(1)).as(s"n_$tag"),
          sum(col("d").cast(DecimalType(38, 0))).as(s"c_$tag"))
    side(o, "full")
      .crossJoin(broadcast(side(o.filter(col("o_orderdate") < cut), "base")))
      .crossJoin(broadcast(side(o.filter(col("o_orderdate") >= cut), "delta")))
      .select(col("n_base"), col("n_delta"), col("n_full"),
        (col("n_base") + col("n_delta") === col("n_full")).as("rows_add_up"),
        (col("c_base") + col("c_delta") === col("c_full")).as("digest_merges"),
        col("c_full").cast("string").as("checksum_full"))
  }

  /** Merkle-style drill-down of the table digest: the SAME row digests,
    * summed per md5-derived bucket (16-way, layout-independent — the
    * bucket is a pure key function, so both engines and any replica
    * agree on membership without coordinating physical layout). When two
    * replicas' table checksums diverge, comparing 16 bucket rows locates
    * the divergent shard(s) and the next drill-down rescans 1/16th —
    * repair traffic scales with the damage, not the table. Additivity of
    * the bucket digests back to table_checksum's total is implied by the
    * same commutative DECIMAL(38,0) sum checksum_merge gates.
    */
  def checksumBuckets(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.select(substring(md5(col("o_orderkey").cast("string")), 1, 1)
        .as("bucket"), rowDigest(o).as("d"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("d").cast(DecimalType(38, 0))).cast("string").as("checksum"))
  }

  /** Multi-format source/sink round-trip, FIVE formats wide: nation goes
    * out as JSON lines, supplier as headered CSV, customer as native ORC,
    * orders as Avro (the row/wire format — BIGINT, VARCHAR, DOUBLE, and
    * TIMESTAMP through Avro's micros logical type), and region as XML
    * (the legacy-feed format, native in Spark 4) — all executor-side
    * writes, all read back with EXPLICIT schemas (schema inference is a
    * correctness lottery and a second full scan at 100 TB), and the
    * joined aggregate must equal the parquet-based oracle — which it can
    * only do if every value survived its round-trip exactly (doubles
    * print shortest-round-trip and reparse bit-equal, the Avro timestamp
    * is pinned by max(unix_micros); a lossy formatter or parser in ANY of
    * the five fails its columns of the hash).
    */
  def formatRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    // stable per-sf root + overwrite, like every other layout here: reruns
    // replace the copies instead of leaking a fresh temp dir per call
    val root = s"${layoutRoot(dir)}/fmt"
    val n = Tables.nation(spark, dir)
    val s = Tables.supplier(spark, dir)
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val r = Tables.region(spark, dir)
    n.write.mode("overwrite").json(s"$root/nation_json")
    s.write.mode("overwrite").option("header", "true").csv(s"$root/supplier_csv")
    c.write.mode("overwrite").orc(s"$root/customer_orc")
    // the short name "avro" is rejected by a registration check that
    // expects the external spark-avro module, but this build's spark-sql
    // jar SHIPS the FileFormat — address it by class and it runs fine
    val avroFmt = "org.apache.spark.sql.avro.AvroFileFormat"
    o.write.mode("overwrite").format(avroFmt).save(s"$root/orders_avro")
    r.write.mode("overwrite").format("xml").option("rowTag", "region")
      .save(s"$root/region_xml")
    val nj = spark.read.schema(n.schema).json(s"$root/nation_json")
    val sc = spark.read.schema(s.schema).option("header", "true")
      .csv(s"$root/supplier_csv")
    val co = spark.read.schema(c.schema).orc(s"$root/customer_orc")
    val oa = spark.read.schema(o.schema).format(avroFmt)
      .load(s"$root/orders_avro")
    val rx = spark.read.schema(r.schema).format("xml")
      .option("rowTag", "region").load(s"$root/region_xml")
    val sAgg = sc.groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("s_acctbal").cast(DecimalType(18, 2))).cast("double")
          .as("total_bal"))
    val cAgg = co.groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double")
          .as("cust_bal"))
    // orders reach the nation grain through the ORC customers — two
    // round-tripped formats compose in one join path
    val oAgg = oa.join(co.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("o_nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          .as("orders_total"),
        max(unix_micros(col("o_orderdate"))).as("last_order_us"))
    nj.join(sAgg, col("n_nationkey") === col("nationkey"))
      .drop("nationkey")
      .join(cAgg, col("n_nationkey") === col("nationkey"))
      .drop("nationkey")
      .join(oAgg, col("n_nationkey") === col("o_nationkey"))
      .join(broadcast(rx), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_name"), col("r_name"), col("n_suppliers"),
        col("total_bal"), col("n_customers"), col("cust_bal"),
        col("n_orders"), col("orders_total"), col("last_order_us"))
  }

  /** Corrupt-file tolerance + the loss AUDIT that must accompany it: a
    * 100 TB lake WILL hold torn files (failed writers, bit rot, partial
    * uploads), and `spark.sql.files.ignoreCorruptFiles` is how a sweep
    * keeps running — but it skips data SILENTLY, so the only safe
    * deployment pairs it with an accounting query against the source of
    * truth. Here the events table is laid out partitioned by type, ONE
    * partition's file gets its footer magic deterministically smashed,
    * and the read (explicit schema — planning never touches the torn
    * footer; tolerance as a per-relation option) joins back against the
    * original table: the output carries n_read vs n_expected per type,
    * making the skipped partition VISIBLE as a zero instead of silent.
    */
  def corruptFileAudit(spark: SparkSession, dir: String): DataFrame = {
    val root = s"${layoutRoot(dir)}/corrupt"
    val ev = Tables.events(spark, dir).select(col("event_id"),
      col("event_type"), col("value"))
    ev.coalesce(1).write.mode("overwrite")
      .partitionBy("event_type").parquet(root)
    // smash the 'view' partition's footer magic (the last 4 bytes every
    // parquet reader validates) — driver-local file IO, not a Spark job
    val viewDir = new java.io.File(s"$root/event_type=view")
    val part = viewDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val raf = new java.io.RandomAccessFile(part, "rw")
    try {
      raf.seek(raf.length() - 4)
      raf.write(Array[Byte]('D', 'E', 'A', 'D'))
    } finally raf.close()
    // per-RELATION option, not a session conf: the audit joins this scan
    // against the pristine source table in one plan, and only the
    // corrupted layout's scan may tolerate torn files — a session-wide
    // setting would also mask corruption in the source of truth (and a
    // child-session conf wouldn't survive execution under the caller's
    // session anyway)
    val read = spark.read.option("ignoreCorruptFiles", "true").schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.DoubleType))))
      .parquet(root)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_read"))
    val expected = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_expected"))
    expected.join(read, Seq("event_type"), "left")
      .select(col("event_type"),
        coalesce(col("n_read"), lit(0L)).as("n_read"),
        col("n_expected"),
        (coalesce(col("n_read"), lit(0L)) =!= col("n_expected"))
          .as("data_lost"))
  }

  /** Conf-scoped child session for [[aggPushdown]], cached per parent —
    * a fresh `newSession()` per call (twice per bench pass + spec runs)
    * reintroduces the per-call child-session codegen/JIT churn the
    * replay harness already eliminated (ReplayHarness.session).
    */
  // WEAK-keyed on the parent (ADVICE r13): a strong key would pin parent
  // and child sessions for the JVM lifetime — same pattern as
  // Dedup.componentEdgeCaches / roundSessionCache.
  private val pushdownSessionCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SparkSession]())

  private def pushdownSession(spark: SparkSession): SparkSession =
    pushdownSessionCache.synchronized {
      pushdownSessionCache.computeIfAbsent(spark, parent => {
        val child = parent.newSession()
        child.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        child.conf.set("spark.sql.sources.useV1SourceList",
          "avro,csv,json,kafka,orc,text")
        child
      })
    }

  /** Parquet AGGREGATE pushdown — COUNT/MIN/MAX answered from row-group
    * FOOTER STATISTICS without decoding a single data page: at 100 TB a
    * table-stats query (row counts, value envelopes — the numbers every
    * catalog/monitoring sweep collects per table per day) costs metadata
    * reads instead of a full scan. Needs the DSv2 parquet reader
    * (`useV1SourceList` minus parquet) + `parquet.aggregatePushdown`,
    * both scoped to a child session so the engine default (v1 + the
    * NANOS handling Tables depends on) is untouched. PlanSpec pins the
    * `PushedAggregation` scan shape; the oracle recomputes the same
    * stats by brute force, proving footer stats equal the data.
    */
  def aggPushdown(spark: SparkSession, dir: String): DataFrame = {
    val s2 = pushdownSession(spark)
    def stats(tab: String, priceCol: String): DataFrame =
      s2.read.parquet(s"$dir/$tab.parquet")
        .agg(count(lit(1)).as("n_rows"),
          min(col(priceCol)).cast("double").as("min_price"),
          max(col(priceCol)).cast("double").as("max_price"))
        .select(lit(tab).as("tab"), col("n_rows"), col("min_price"),
          col("max_price"))
    stats("orders", "o_totalprice")
      .unionByName(stats("lineitem", "l_extendedprice"))
  }

  /** One layout write per (root) per JVM: the generations are a pure
    * deterministic function of the fixture, so re-writing them on every
    * construction (twice per bench pass + every spec) is churn, not
    * semantics — same posture as the cached pushdown session above.
    */
  private val evoWritten =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def writeEvoGenerations(spark: SparkSession, dir: String): String =
    evoWritten.computeIfAbsent(s"${layoutRoot(dir)}/evo", root => {
      val o = Tables.orders(spark, dir)
      o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$root/v1")
      o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$root/v2")
      root
    })

  private def evoAggregate(generations: DataFrame): DataFrame =
    generations
      .groupBy(coalesce(col("o_orderpriority"), lit("legacy")).as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          .as("total"))

  /** Schema evolution across partition generations — the storage-drift
    * reality of any table written for years: early partitions lack
    * columns later ones carry. Generation v=1 writes a NARROW orders
    * projection (key, custkey, totalprice; even order keys), v=2 writes
    * the WIDENED schema adding o_orderpriority (odd keys); the read
    * unifies them with `mergeSchema` — Parquet's column-by-name union,
    * where v1 rows surface the missing column as NULL, no rewrite of old
    * partitions. The aggregate proves all three properties at once: the
    * unioned column exists (group key), v1 rows land in the NULL->legacy
    * bucket exactly (counts), and every value survived both generations
    * (exact-decimal total). Scale note: mergeSchema footers are read on
    * the DRIVER per file — at 100 TB you set the union schema explicitly
    * or keep it in a catalog; the per-file-footer path here is the
    * semantics under test, not the recommended deployment.
    */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val root = writeEvoGenerations(spark, dir)
    evoAggregate(spark.read.option("mergeSchema", "true")
      .parquet(s"$root/v1", s"$root/v2"))
  }

  /** The 100 TB path of [[schemaEvolution]]: the SAME drifted generations
    * read under an EXPLICIT union schema — the one the in-code scale note
    * above prescribes. The schema comes from the catalog layer
    * (Tables.orders' own field definitions), not from file footers, so
    * the read plans with ZERO schema-inference work: mergeSchema must
    * open every file's footer before the first task runs (per-file driver
    * work that grows with file count — at 100 TB, millions of files),
    * while this variant goes straight to scan. Parquet's reader fills
    * the column v1 files lack with NULL against the declared schema —
    * identical semantics, no discovery cost. Same oracle as
    * schema_evolution: equal hashes prove the two read paths agree.
    */
  /** The union schema as the CATALOG declares it (FIXTURES.md §B orders
    * types) — a STATIC StructType, not `Tables.orders(...).schema`:
    * inferring it from the fixture would itself run parquet footer
    * reading (Spark's V1 inference runs a mergeSchemasInParallel job even
    * for one file), which is exactly the per-file driver work this
    * variant exists to avoid. AuditSpec pins construction at ZERO jobs.
    */
  private val evoUnionSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("o_orderkey", LongType),
    org.apache.spark.sql.types.StructField("o_custkey", LongType),
    org.apache.spark.sql.types.StructField("o_totalprice", DoubleType),
    org.apache.spark.sql.types.StructField("o_orderpriority", StringType)))

  def schemaEvolutionExplicit(spark: SparkSession, dir: String): DataFrame = {
    val root = writeEvoGenerations(spark, dir)
    evoAggregate(spark.read.schema(evoUnionSchema)
      .parquet(s"$root/v1", s"$root/v2"))
  }

  private val checksumTables = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Column kinds for the generated checksum oracle — static because the
    * oracle SQL must exist without a SparkSession; the Spark side derives
    * the same canonicalization from the live schema, so a fixture schema
    * change fails loudly (hash mismatch), not silently.
    */
  private val checksumKinds: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "v", "r_name" -> "v"),
    "nation" -> Seq("n_nationkey" -> "v", "n_name" -> "v", "n_regionkey" -> "v"),
    "customer" -> Seq("c_custkey" -> "v", "c_name" -> "v",
      "c_nationkey" -> "v", "c_acctbal" -> "d", "c_mktsegment" -> "v"),
    "supplier" -> Seq("s_suppkey" -> "v", "s_name" -> "v",
      "s_nationkey" -> "v", "s_acctbal" -> "d"),
    "part" -> Seq("p_partkey" -> "v", "p_name" -> "v", "p_brand" -> "v",
      "p_type" -> "v", "p_size" -> "v", "p_retailprice" -> "d"),
    "orders" -> Seq("o_orderkey" -> "v", "o_custkey" -> "v",
      "o_orderstatus" -> "v", "o_totalprice" -> "d", "o_orderdate" -> "t",
      "o_orderpriority" -> "v"),
    "lineitem" -> Seq("l_orderkey" -> "v", "l_partkey" -> "v",
      "l_suppkey" -> "v", "l_linenumber" -> "v", "l_quantity" -> "d",
      "l_extendedprice" -> "d", "l_discount" -> "d", "l_tax" -> "d",
      "l_returnflag" -> "v", "l_linestatus" -> "v", "l_shipdate" -> "t"),
    "events" -> Seq("event_id" -> "v", "ts" -> "t", "user_id" -> "v",
      "event_type" -> "v", "value" -> "d", "props" -> "v"),
    "documents" -> Seq("doc_id" -> "v", "text" -> "v", "lang" -> "v",
      "source" -> "v", "n_chars" -> "v"),
    "embeddings" -> Seq("vec_id" -> "v", "embedding" -> "fa", "label" -> "v"))

  /** The per-row 60-bit digest of table `t` as DuckDB SQL — the oracle
    * twin of `rowDigest`.
    */
  private def rowDigestSql(t: String): String = {
    val cols = checksumKinds(t).map { case (c, kind) =>
      val canon = kind match {
        case "d" => s"CAST(CAST($c AS DECIMAL(18,6)) AS VARCHAR)"
        case "t" => s"CAST(CAST(epoch_us($c) // 1000000 AS BIGINT) AS VARCHAR)"
        // promote REAL -> DOUBLE before the decimal round: DuckDB's
        // direct REAL->DECIMAL rounds the float's 7-digit shortest
        // repr (ties-to-even), Spark rounds the exact double expansion
        // — they disagree exactly on ...5-boundary floats
        case "fa" => s"array_to_string(list_transform($c, " +
          s"x -> CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6)) AS VARCHAR)), ',')"
        case _ => s"CAST($c AS VARCHAR)"
      }
      s"coalesce($canon, '<NULL>')"
    }.mkString(", ")
    s"CAST(CAST('0x' || substring(sha256(concat_ws('|', $cols)), 1, 15) " +
      s"AS BIGINT) AS DECIMAL(38,0))"
  }

  private def checksumOracle: String =
    checksumTables.map { t =>
      s"""SELECT '$t' AS table_name, count(*) AS n_rows,
         |  CAST(sum(${rowDigestSql(t)}) AS VARCHAR) AS checksum
         |FROM $t""".stripMargin
    }.mkString("\nUNION ALL\n")

  private def checksumMergeOracle: String =
    s"""WITH f AS (SELECT count(*) AS n_full, sum(${rowDigestSql("orders")})
       |             AS c_full FROM orders),
       |b AS (SELECT count(*) AS n_base, sum(${rowDigestSql("orders")})
       |        AS c_base FROM orders
       |      WHERE o_orderdate < TIMESTAMP '1997-06-01'),
       |d AS (SELECT count(*) AS n_delta, sum(${rowDigestSql("orders")})
       |        AS c_delta FROM orders
       |      WHERE o_orderdate >= TIMESTAMP '1997-06-01')
       |SELECT b.n_base, d.n_delta, f.n_full,
       |       b.n_base + d.n_delta = f.n_full AS rows_add_up,
       |       b.c_base + d.c_delta = f.c_full AS digest_merges,
       |       CAST(f.c_full AS VARCHAR) AS checksum_full
       |FROM f, b, d""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bucketed_join"   -> (bucketedJoin _),
    "partition_prune" -> (partitionPrune _),
    "dpp_join"        -> (dppJoin _),
    "zorder_layout"   -> (zorderLayout _),
    "table_checksum"  -> (tableChecksum _),
    "checksum_merge"  -> (checksumMerge _),
    "checksum_buckets" -> (checksumBuckets _),
    "format_roundtrip" -> (formatRoundtrip _),
    "schema_evolution" -> (schemaEvolution _),
    "schema_evolution_explicit" -> (schemaEvolutionExplicit _),
    "agg_pushdown"     -> (aggPushdown _),
    "corrupt_file_audit" -> (corruptFileAudit _))

  val oracles: Map[String, String] = Map(
    // the oracles query the RAW parquet: layout round-trip fidelity is
    // exactly what the hash compare then proves
    // the generation split is deterministic (orderkey parity), so the
    // oracle derives the merged-read answer from the original table:
    // equality proves mergeSchema unioned the column, surfaced v1 rows
    // as NULL (-> 'legacy'), and lost no values across generations
    // the corruption is deterministic (the 'view' partition's file), so
    // the oracle knows exactly which rows the tolerant read must skip —
    // equality proves BOTH the skip semantics and the audit's honesty
    "corrupt_file_audit" ->
      """SELECT event_type,
        |       CAST(CASE WHEN event_type = 'view' THEN 0
        |            ELSE count(*) END AS BIGINT) AS n_read,
        |       count(*) AS n_expected,
        |       event_type = 'view' AS data_lost
        |FROM events GROUP BY 1""".stripMargin,
    // brute-force recomputation of the footer-stat answers: equality
    // proves parquet row-group statistics match the data they describe
    "agg_pushdown" ->
      """SELECT 'orders' AS tab, count(*) AS n_rows,
        |       min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders
        |UNION ALL
        |SELECT 'lineitem', count(*),
        |       min(l_extendedprice), max(l_extendedprice)
        |FROM lineitem""".stripMargin,
    "schema_evolution" ->
      """SELECT coalesce(CASE WHEN o_orderkey % 2 = 1
        |                     THEN o_orderpriority END, 'legacy') AS priority,
        |       count(*) AS n_orders,
        |       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |         AS VARCHAR) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,
    // the explicit-union-schema read must agree with the mergeSchema read
    // cell-for-cell — the SAME derivation from the original table checks
    // both paths
    "schema_evolution_explicit" ->
      """SELECT coalesce(CASE WHEN o_orderkey % 2 = 1
        |                     THEN o_orderpriority END, 'legacy') AS priority,
        |       count(*) AS n_orders,
        |       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |         AS VARCHAR) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,
    "table_checksum" -> checksumOracle,
    "checksum_merge" -> checksumMergeOracle,
    "checksum_buckets" ->
      s"""SELECT substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) AS bucket,
         |       count(*) AS n_rows,
         |       CAST(sum(${rowDigestSql("orders")}) AS VARCHAR) AS checksum
         |FROM orders GROUP BY 1""".stripMargin,
    // the oracle reads the ORIGINAL parquet: equality proves the
    // JSON/CSV round-trip was lossless
    "format_roundtrip" ->
      """WITH s AS (
        |  SELECT s_nationkey AS nationkey, count(*) AS n_suppliers,
        |         CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |           AS total_bal
        |  FROM supplier GROUP BY 1),
        |c AS (
        |  SELECT c_nationkey AS nationkey, count(*) AS n_customers,
        |         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |           AS cust_bal
        |  FROM customer GROUP BY 1),
        |o AS (
        |  SELECT c_nationkey AS nationkey, count(*) AS n_orders,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |           AS orders_total,
        |         max(epoch_us(o_orderdate)) AS last_order_us
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1)
        |SELECT n_name, r_name, n_suppliers, total_bal,
        |       n_customers, cust_bal, n_orders, orders_total, last_order_us
        |FROM nation
        |JOIN s ON n_nationkey = s.nationkey
        |JOIN c ON n_nationkey = c.nationkey
        |JOIN o ON n_nationkey = o.nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "bucketed_join" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "partition_prune" ->
      """SELECT event_type, count(*) AS n_events,
        |       count(DISTINCT user_id) AS n_users
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin,
    "zorder_layout" ->
      """SELECT l_suppkey, count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_partkey BETWEEN 400 AND 600
        |  AND l_suppkey BETWEEN 40 AND 60
        |GROUP BY 1""".stripMargin,
    "dpp_join" ->
      """WITH dim AS (
        |  SELECT * FROM (VALUES
        |    ('view','browse'), ('click','browse'), ('error','ops'),
        |    ('purchase','convert'), ('signup','convert'))
        |    AS t(event_type, category))
        |SELECT e.event_type, d.category, count(*) AS n_events,
        |       CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |WHERE d.category = 'convert'
        |GROUP BY 1, 2""".stripMargin)
}
