package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's single test JVM). */
object TestSession {
  lazy val spark: SparkSession = {
    // Same plan environment as the Verify/Bench harnesses.
    val s = GraftSession.builder("4")
      .appName("graft-test")
      // The deployment-config path for the library's Catalyst extensions
      // (static conf — must be set when the first session is built).
      // ExtensionsSpec asserts the injection took effect.
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = TestSession.sf
}
