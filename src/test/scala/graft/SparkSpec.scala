package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazy): the session
  * Bench and Verify run, on 4 cores — the shape PlanSpec's budgets are
  * pinned in. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  val sfDir = "/root/testdata/sf0.001"

  /** Classes Janino has compiled in this JVM so far; generated code
    * that hits Spark's codegen cache adds none. */
  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
