package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
}

object SparkSuite {
  lazy val session: SparkSession = Tables.session("local[4]")
}
