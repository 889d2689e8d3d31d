package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM per `sbt test` via
  * `Test / fork`; suites share the session through getOrCreate). */
trait SparkSpecBase extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSpecBase.session

  /** Smallest scale factor — specs are correctness, not load. */
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpecBase {
  // local[4, 2]: 4 threads, maxFailures = 2 — task retry enabled so
  // FaultInjectionSpec can witness attempt-0 failures re-running to
  // the identical result. Local mode defaults to maxFailures = 1
  // (fail-fast), which would make any injected fault fatal.
  lazy val session: SparkSession = GraftSession.build("local[4, 2]", 4)
}
