package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries and their DuckDB oracles live with their operator suites
  * (graft.operators.*Suite); this object just concatenates them.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's own topology: filter -> 5 s tumbling window -> count
    * (SURVEY.md §7.3's minimum end-to-end slice).
    */
  def entry(spark: SparkSession): DataFrame =
    EventSuite.pageCounts(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    EventSuite.queries ++ RelationalSuite.queries ++ TextSuite.queries ++
      SimilaritySuite.queries ++ MediaSuite.queries ++ StorageSuite.queries

  /** The local-iteration filter `SPARK_GRAFT_ONLY=a,b` (comma-separated
    * query names) that `Verify` and `Bench` honor; None when unset, which
    * runs every query.
    */
  def only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)

  /** [[queries]] narrowed to `only`'s names (all of them for None). */
  def selected(only: Option[Set[String]]): Map[String, (SparkSession, String) => DataFrame] =
    only.fold(queries)(names => queries.filter { case (k, _) => names(k) })

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check.
    */
  def oracleSql: Map[String, String] =
    EventSuite.oracles ++ RelationalSuite.oracles ++ TextSuite.oracles ++
      SimilaritySuite.oracles ++ MediaSuite.oracles ++ StorageSuite.oracles
}
