package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Corpus-wide audit for the bounded-frame invariant on UNPARTITIONED
  * windows (round-12 verdict #6). A `Window.orderBy` with no partition
  * spec executes as a single-partition global sort — fine on a bounded
  * aggregate frame (band totals, a day spine, distinct-count rollups:
  * every current site), a silent scale-killer on a corpus-grain frame
  * (one task sorts 100 TB). Until now only comments enforced that; this
  * audit asserts, for every registered query, that each WindowExec /
  * WindowGroupLimitExec carrying an EMPTY partitionSpec sits above a
  * cardinality-bounding node on EVERY leaf path of its input subtree:
  * an aggregate (output is key-cardinality), a global limit /
  * TakeOrdered, a local relation, or a registered small-frame
  * checkpoint ([[graft.ops.Ckpt]]). A join below the window is bounded
  * only if BOTH inputs are (conservative: equi-join fan-out is
  * data-dependent).
  *
  * Shared with PlanSpec's corpus-wide gate (same predicate object, same
  * pattern as DriveBroadcastAudit) so the drive and the gate cannot
  * diverge. Usage:
  *   Test/runMain graft.DriveWindowAudit <sfDir>
  */
object DriveWindowAudit {
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      flatten(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: flatten(q.plan)
    case other => other +: other.children.flatMap(flatten)
  }

  /** Is this subtree's output cardinality bounded independent of corpus
    * size? Structural recursion, conservative at every unknown. */
  def boundedFrame(p: SparkPlan): Boolean = p match {
    // AQE wrappers: descend to the live plan
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      boundedFrame(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      boundedFrame(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      boundedFrame(r.child)
    // bounding nodes: output cardinality is key- or constant-bounded
    case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
    case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
    case _: org.apache.spark.sql.execution.GlobalLimitExec => true
    case _: org.apache.spark.sql.execution.CollectLimitExec => true
    case _: org.apache.spark.sql.execution.LocalTableScanExec => true
    // a group-limit caps rows per partition key; without an aggregate we
    // can't bound |keys|, so it does NOT bound on its own — recurse
    case w: WindowGroupLimitExec => boundedFrame(w.child)
    case w: WindowExec => boundedFrame(w.child)
    // registered small-frame checkpoints (guided-path bounds frames):
    // the code site that declared the bound is the only one that can
    // exempt a checkpoint scan — same contract as DriveBroadcastAudit
    case r: org.apache.spark.sql.execution.RDDScanExec =>
      graft.ops.Ckpt.isSmallCheckpoint(r.rdd.id)
    // any other leaf (file scan, range, unknown source): unbounded
    case leaf if leaf.children.isEmpty => false
    // generate (explode) multiplies rows by a data-dependent array
    // length, so a bounded INPUT does not bound the OUTPUT in general —
    // a 1-row grand aggregate carrying a collect_list of the corpus
    // would launder straight through. The one shape that IS bounded:
    // exploding an explicit `sequence(lo, hi)` (day spines, band
    // grids), whose length is bounded by the VALUE RANGE of its
    // endpoints, never by corpus row count. The Sequence must be the
    // generator's DIRECT child — a tree-wide exists() would let
    // `explode(concat(collect_list(x), sequence(1, 2)))` launder a
    // corpus-grain array through on the strength of its 2-element
    // decoration (round-13 advisor finding). Everything else (exploding
    // a collected array column) stays unbounded.
    case g: org.apache.spark.sql.execution.GenerateExec =>
      (g.generator match {
        case e: org.apache.spark.sql.catalyst.expressions.ExplodeBase =>
          e.child.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Sequence]
        case _ => false
      }) && boundedFrame(g.child)
    // joins/unions/everything else: bounded iff ALL inputs are bounded
    case other => other.children.forall(boundedFrame)
  }

  /** Every unpartitioned window node whose input frame is NOT provably
    * bounded. Empty for the whole register — PlanSpec gates that. */
  def unboundedGlobalWindows(p: SparkPlan): Seq[SparkPlan] =
    flatten(p).flatMap {
      case w: WindowExec if w.partitionSpec.isEmpty && !boundedFrame(w.child) =>
        Seq(w)
      case w: WindowGroupLimitExec
          if w.partitionSpec.isEmpty && !boundedFrame(w.child) => Seq(w)
      case _ => Seq.empty
    }

  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val s = LocalSession(4)
    var flagged = 0
    var globalSites = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(s, d).queryExecution.executedPlan
        val global = flatten(plan).count {
          case w: WindowExec => w.partitionSpec.isEmpty
          case w: WindowGroupLimitExec => w.partitionSpec.isEmpty
          case _ => false
        }
        globalSites += global
        val bad = unboundedGlobalWindows(plan)
        if (bad.nonEmpty) {
          flagged += 1
          println(s"FLAG $name: ${bad.size} unpartitioned window(s) over an " +
            "unbounded frame")
          bad.foreach(b => println("  " + b.toString.split("\n").take(3)
            .map(_.trim.take(120)).mkString(" | ")))
        }
      } catch { case e: Throwable =>
        println(s"ERR  $name: ${e.getMessage.take(100)}")
      }
    }
    println(s"global_window_sites=$globalSites flagged=$flagged")
    s.stop()
  }
}
