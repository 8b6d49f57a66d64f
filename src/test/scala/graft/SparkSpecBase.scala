package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * Spark session startup dominates test time otherwise). */
object SparkSpecBase {
  lazy val spark: SparkSession = SparkEntry.localSession("4")

  /** Smallest fixture scale — smoke/property tests only. */
  val SF_DIR = "/root/testdata/sf0.001"
}

abstract class SparkSpecBase extends AnyFunSuite {
  // val (not def): `import spark.implicits._` needs a stable identifier.
  val spark: SparkSession = SparkSpecBase.spark
  val sfDir: String = SparkSpecBase.SF_DIR
}
