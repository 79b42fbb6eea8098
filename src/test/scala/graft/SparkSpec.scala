package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs; sf0.001 testdata keeps suites fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val SfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession(getClass.getSimpleName)

  override def afterAll(): Unit = {
    // one JVM per sbt test run (fork := true); keep the session for speed
    super.afterAll()
  }

  /** Non-vacuity guard for oracle-gated queries: a predicate that matches
    * zero rows would hash-match an empty oracle result and pass the
    * correctness gate without verifying anything. */
  def assertNonEmpty(df: org.apache.spark.sql.DataFrame, what: String): Unit =
    assert(!df.isEmpty, s"$what returned zero rows — a vacuous oracle match")
}
