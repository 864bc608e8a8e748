package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

class JobStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a two-stage shuffle job is counted after the drain; reset zeroes it") {
    val stats = JobStats.attach(spark)
    try {
      val (n, t) = stats.measure {
        spark.range(0, 10000, 1, 4).groupBy((col("id") % 7).as("k"))
          .count().collect().length
      }
      assert(n == 7)
      assert(t.jobs >= 1, t)
      assert(t.stages >= 2, t)
      assert(t.tasks >= 2, t)
      assert(t.shuffleWriteBytes > 0, t)
      assert(t.shuffleReadBytes > 0, t)
      assert(t.stageRows.size.toLong == t.stages, t)
      stats.reset()
      val z = stats.snapshot()
      assert(z == JobStats.Totals(0, 0, 0, 0, 0, 0, 0, 0, 0, Nil), z)
    } finally stats.detach()
  }
}
