package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Outcome}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs (UTC, small shuffle
  * parallelism — mirrors the Verify/Bench session configuration). Each
  * test ends with `clearCache`, as Verify and Bench end each query: the
  * catalog queries persist intermediates for their caller to release, and
  * a frame left cached by one test would turn the next test's persist of
  * the same plan into a no-op. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test) finally SparkSpec.session.catalog.clearCache()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config(Sessions.defaults)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
