package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite (lazy), built by the same factory as the
  * mains, with a small fixed shuffle fan-out. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)
}
