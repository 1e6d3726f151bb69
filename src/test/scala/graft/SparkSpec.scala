package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession), built by
  * the engine's own [[GraftSession.builder]] so specs plan under the
  * same conf as Verify, Bench, the CLI and the server.
  */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", "4")
    .appName("graft-test")
    // deliberately tiny: proves emission streams partition-at-a-time
    // (EngineSpec "emission streams") — a whole-result collect of a few
    // MB dies, while every other test's per-job results stay far below
    .config("spark.driver.maxResultSize", "8m")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
