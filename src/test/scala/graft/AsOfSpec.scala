package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.AsOf

class AsOfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def ts(s: String) = Timestamp.valueOf(s)

  test("as-of join: latest earlier match, <= tie, no-match null, keys isolated") {
    val lefts = Seq(
      (10L, 7L, ts("2024-01-01 00:30:00"), "click"),   // after snap A
      (11L, 7L, ts("2024-01-01 02:00:00"), "view"),    // after snap B (latest wins)
      (12L, 7L, ts("2024-01-01 01:00:00"), "click"),   // EXACTLY at snap B -> <= attaches
      (13L, 7L, ts("2023-12-31 23:00:00"), "click"),   // before any snap -> nulls
      (14L, 8L, ts("2024-01-01 05:00:00"), "view")     // other user: only their snap
    ).toDF("event_id", "user_id", "ts", "event_type")
    val snaps = Seq(
      (7L, ts("2024-01-01 00:00:00"), 1.0, 100L),      // snap A
      (7L, ts("2024-01-01 01:00:00"), 2.0, 101L),      // snap B
      (8L, ts("2024-01-01 04:00:00"), 8.0, 102L)
    ).toDF("user_id", "ts", "snap_value", "snap_id")
    val rows = AsOf.join(lefts, snaps, "user_id", "ts", Seq("snap_value", "snap_id"))
      .select($"event_id", $"snap_id", $"snap_value")
      .collect()
    assert(rows.length == 5, "exactly one output row per left row")
    val out = rows.map(r => r.getLong(0) ->
      ((if (r.isNullAt(1)) -1L else r.getLong(1)),
       (if (r.isNullAt(2)) -1.0 else r.getDouble(2)))).toMap
    assert(out(10L) == ((100L, 1.0)))
    assert(out(11L) == ((101L, 2.0)))
    assert(out(12L) == ((101L, 2.0)))
    assert(out(13L) == ((-1L, -1.0)))
    assert(out(14L) == ((102L, 8.0)))
    assert(out.size == 5)
  }

  test("latest right row attaches AS A UNIT: its NULL value stays NULL") {
    // the newest snapshot carries a NULL value; per-column fill would
    // stitch the older snapshot's 1.0 under the newer snap_id — native
    // ASOF semantics require the latest ROW, nulls included
    val lefts = Seq((10L, 7L, ts("2024-01-01 03:00:00"), "click"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val snaps = Seq(
      (7L, ts("2024-01-01 00:00:00"), Some(1.0), 100L),
      (7L, ts("2024-01-01 02:00:00"), None, 101L)
    ).toDF("user_id", "ts", "snap_value", "snap_id")
    val r = AsOf.join(lefts, snaps, "user_id", "ts", Seq("snap_value", "snap_id"))
      .select($"snap_id", $"snap_value").collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == 101L)
    assert(r(0).isNullAt(1), "NULL from the latest row must not be back-filled")
  }

  test("as-of join rejects colliding value column names") {
    val l = Seq((1L, ts("2024-01-01 00:00:00"), "x")).toDF("k", "ts", "v")
    val r = Seq((1L, ts("2024-01-01 00:00:00"), "y")).toDF("k", "ts", "v")
    intercept[IllegalArgumentException] {
      AsOf.join(l, r, "k", "ts", Seq("v"))
    }
    // the internally-injected names must fail fast too, not as an
    // ambiguous-reference AnalysisException deep inside the plan
    val lt = Seq((1L, ts("2024-01-01 00:00:00"), "x")).toDF("k", "ts", "__tag")
    val rv = Seq((1L, ts("2024-01-01 00:00:00"), 1.0)).toDF("k", "ts", "sv")
    intercept[IllegalArgumentException] {
      AsOf.join(lt, rv, "k", "ts", Seq("sv"))
    }
  }

  test("as-of window partitions by key (never a global sort)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val l = Seq((1L, ts("2024-01-01 00:00:00"), "x")).toDF("k", "ts", "v")
    val r = Seq((1L, ts("2024-01-01 00:00:00"), 1.0)).toDF("k", "ts", "sv")
    def flatten(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        flatten(a.executedPlan)
      case other => other +: other.children.flatMap(flatten)
    }
    val nodes = flatten(AsOf.join(l, r, "k", "ts", Seq("sv"))
      .queryExecution.executedPlan)
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty))
  }
}
