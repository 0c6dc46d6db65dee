package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base — one SparkSession per suite (lazy), UTC, small
  * shuffle fan-out for tiny test data.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.tune(
    // the same spawn-free `file:` filesystem as GraftSession.local, so
    // every suite runs its I/O through it
    graft.io.NioLocalFileSystem.register(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // FAIR so ConcurrentQuerySpec can run per-thread scheduler pools
      // (the production multi-tenant posture); single-threaded suites
      // land in the default pool and behave exactly as before
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate())

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
