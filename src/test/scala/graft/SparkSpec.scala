package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide
  * session; sbt forks one JVM for tests).
  *
  * Test logs drop WindowExec's "No Partition Defined for Window"
  * warning: the registry's unpartitioned windows are allowlisted, and
  * PlanAuditSpec's `boundedGlobalWindow` gate fails any that is not.
  * The level is set after the session exists, because Spark loads its
  * default log4j config when the first context starts.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.local("4")
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    s
  }
  lazy val sf0001 = "/root/testdata/sf0.001"
}
