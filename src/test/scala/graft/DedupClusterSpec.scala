package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-local dedup-cluster fast path to the distributed
  * crossJoin+Components pipeline, row-exactly: `driverBudget = 0` forces
  * the distributed path (the Components/Ivf budget-forcing contract), the
  * default budget takes the driver path on the fixtures, and the two must
  * produce the identical (doc_id, cluster_rep, cluster_size) relation —
  * the fast path is only legal because it is a semantic no-op. The
  * oracle (q78/q133's recursive-CTE twin) independently checks the same
  * thing per Verify run; this spec keeps the check in `sbt test` and
  * exercises the over-budget fallback, which Verify never hits. */
class DedupClusterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val DefaultBudget = graft.operators.TextQueries.DriverBudget

  private def rel(dir: String, budget: Long): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    graft.operators.TextQueries
      .dedupClustersUncached(spark.newSession(), dir, budget)
      .as[(Long, Long, Long)].collect().toSeq.sorted
  }

  test("driver cluster relation == distributed pipeline (sf0.001)") {
    val driver = rel(TestSpark.sf0001, DefaultBudget)
    val loop = rel(TestSpark.sf0001, 0)
    assert(driver == loop)
    assert(driver.nonEmpty && driver.exists(_._3 > 1),
      "fixture must contain at least one non-trivial cluster")
  }

  test("driver cluster relation == distributed pipeline (sf0.01)") {
    assert(rel("/root/testdata/sf0.01", DefaultBudget) == rel("/root/testdata/sf0.01", 0))
  }

  test("over-cap probe falls back to the distributed pipeline (cap=1)") {
    // budget 1 < one distinct set's weight: the bounded collect must
    // overflow, return None, and the distributed path must produce the
    // same relation as the driver path does under the default budget.
    assert(rel(TestSpark.sf0001, 1) == rel(TestSpark.sf0001, DefaultBudget))
  }
}
