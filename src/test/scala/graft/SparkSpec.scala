package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite, lazy), built by
  * the same factory Bench and Verify use. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)
}
