package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    val only = SparkEntry.only
    val selected = SparkEntry.selected(only)
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Driver-hash safety gate: a DecimalType output column reads as
        // exact pyarrow Decimal on the Spark side but float64 from
        // DuckDB's pandas fetch of the oracle — the hash can never
        // match (round-16 state audits). Fail LOUDLY here (an `err` row
        // in the driver record) instead of shipping a silent hash-red.
        val dec = df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[
            org.apache.spark.sql.types.DecimalType] => f.name
        }
        require(dec.isEmpty,
          s"DecimalType output column(s) ${dec.mkString(",")} are " +
            "driver-hash-unsafe — surface as string/bigint/double")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // free per-query operator caches (connectedComponents' edge set)
      graft.operators.Dedup.releaseComponentCache(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // A SPARK_GRAFT_ONLY run dumps only the filtered subset: write it under
    // a distinct name so it can never clobber a full oracle_sql.json that a
    // previous unfiltered run left in outDir (a checker pointed at that dir
    // would otherwise silently verify only the subset).
    val oracleFile =
      if (only.isDefined) "oracle_sql.partial.json" else "oracle_sql.json"
    Files.writeString(Paths.get(s"$outDir/$oracleFile"), json)
    spark.stop()
  }
}
