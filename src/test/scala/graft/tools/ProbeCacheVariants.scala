package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured-claim utility: which cache-fill plan shape leaves an
  * InMemoryTableScan whose advertised hashpartitioning a consumer join
  * actually reuses (no re-exchange of the cache output)? Variants of the
  * pagerank edge cache over the real parquet inputs. Usage:
  *   Test/runMain graft.tools.ProbeCacheVariants [sfDir]
  */
object ProbeCacheVariants {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val parent = graft.GraftSession.tune(graft.GraftSession.builder(4)
      // at corpus scale neither join side broadcasts; reproduce that shape
      .config("spark.sql.autoBroadcastJoinThreshold",
        if (args.contains("--no-bhj")) "-1" else "10485760")
      .getOrCreate())
    parent.sparkContext.setLogLevel("ERROR")

    def directedOn(spark: SparkSession): DataFrame = {
      val cs = graft.model.Tables.lineitem(spark, dir)
        .join(graft.model.Tables.orders(spark, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
        .distinct()
      cs.select(col("c").as("src"), col("s").as("dst"))
        .unionAll(cs.select(col("s").as("src"), col("c").as("dst")))
    }

    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
    val variants: Seq[(String, DataFrame => DataFrame)] = Seq(
      "window" -> (d => d.select(col("src"), col("dst"),
        count(lit(1)).over(w).as("d"))),
      "repart+window" -> (d => d.repartition(col("src"))
        .select(col("src"), col("dst"), count(lit(1)).over(w).as("d"))),
      "repartN+window" -> (d => d.repartition(8, col("src"))
        .select(col("src"), col("dst"), count(lit(1)).over(w).as("d"))),
      "join-deg+repartN" -> (d => d.join(
        d.groupBy(col("src")).agg(count(lit(1)).as("d")), "src")
        .repartition(8, col("src"))))

    variants.foreach { case (name, build) =>
      val spark = graft.operators.Dedup.roundScopedSession(parent, 8)
      val built = build(directedOn(spark))
      // persist under the CHILD as the thread-active session: CacheManager
      // consults the active session's conf when it plans the cache entry
      val edges =
        if (args.contains("--active")) {
          val prev = SparkSession.getActiveSession
          SparkSession.setActiveSession(spark)
          try built.persist()
          finally prev.foreach(SparkSession.setActiveSession)
        } else built.persist()
      var r = edges.select(col("src").as("n")).distinct()
        .select(col("n"), lit(100L).as("r"))
      for (_ <- 1 to 2) {
        r = edges.join(r, edges("src") === r("n"))
          .groupBy(edges("dst").as("m"))
          .agg(sum(expr("r div d")).as("inflow"))
          .select(col("m").as("n"), col("inflow").as("r"))
      }
      r.collect() // materialize: the ADAPTIVE plan only finalizes on run
      val plan = r.queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      // in the FINAL adaptive plan, a consumer that re-shuffled the cache
      // shows an Exchange directly above the TableCacheQueryStage; a
      // consumer that reused the cache's partitioning joins straight over
      // the stage (the plan-time conservative exchange was elided once
      // the cache materialized with its advertised hashpartitioning)
      val reExch = lines.zipWithIndex.exists { case (l, i) =>
        l.contains("Exchange hashpartitioning") &&
          lines.drop(i + 1).take(1).exists(_.contains("TableCacheQueryStage"))
      }
      println(s"variant=$name reExchangesCacheAtRuntime=$reExch")
      if (args.contains("--dump")) {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"/tmp/plan_$name.txt"), plan)
      }
      edges.unpersist(blocking = true)
    }
    parent.stop()
  }
}
