package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture (like the reference's session-scoped
  * pytest fixture at tests/test_pipeline.py:7-14, but one session per suite).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val s = GraftSession(2)
    // Wider than the cores: PlanShapeSpec pins plans of a session whose
    // shuffle width exceeds its parallelism.
    s.conf.set("spark.sql.shuffle.partitions", 4L)
    s
  }

  override def afterAll(): Unit = {
    // Session is shared across suites in one JVM; don't stop it here.
    super.afterAll()
  }

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}
