package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base — one SparkSession per suite (lazy), built by
  * [[GraftSession.builder]] with a small shuffle fan-out for tiny test data.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.tune(
    GraftSession.builder(4)
      // FAIR so ConcurrentQuerySpec can run per-thread scheduler pools
      // (the production multi-tenant posture); single-threaded suites
      // land in the default pool and behave exactly as before
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate())

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
