package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** Corpus-wide audit for the LogicalRDD-stats broadcast cliff (SCALE.md):
  * flag every query whose final plan BROADCASTS a subtree that reads a
  * checkpointed RDD (`Scan ExistingRDD`) — i.e. a frame whose size the
  * planner only ESTIMATED. Legitimate broadcasts (parquet-backed sides,
  * 1-row scalar frames, aggregate outputs) read from file scans or
  * aggregates and are not flagged. Usage:
  *   Test/runMain graft.DriveBroadcastAudit <sfDir>
  */
object DriveBroadcastAudit {
  /** Descend through AQE wrappers: with AQE on (the default), the
    * executedPlan root is an AdaptiveSparkPlanExec LEAF — matching only
    * `p.children` sees nothing and the audit is vacuous (it returned 0
    * suspects for every query while the AQE inner plan held 2-4). Same
    * descent PlanSpec.flatten performs; QueryStageExec is handled for
    * post-execution plans. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      flatten(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: flatten(q.plan)
    case other => other +: other.children.flatMap(flatten)
  }

  /** Every subtree the plan broadcasts (build sides + bare exchanges). */
  def broadcastSides(p: SparkPlan): Seq[SparkPlan] =
    flatten(p).flatMap {
      case b: BroadcastHashJoinExec =>
        Seq(if (b.buildSide.toString.contains("Right")) b.right else b.left)
      case b: BroadcastNestedLoopJoinExec =>
        Seq(if (b.buildSide.toString.contains("Right")) b.right else b.left)
      case e: BroadcastExchangeExec => Seq(e.child)
      case _ => Seq.empty
    }

  /** A broadcast side is suspect if it scans a checkpointed RDD and is
    * NOT collapsed by an aggregate (aggregate outputs are key-cardinality,
    * independent of corpus size — zone maps, scalar totals, vocab rollups
    * are fine to broadcast). Exemption: checkpoint scans whose RDD id is
    * REGISTERED as a small-frame checkpoint ([[graft.ops.Ckpt]]
    * `smallCheckpointLazy` — the helper whose contract is "key-bounded
    * SMALL frame", used for the guided-path |zones|-row bounds frames
    * whose HashAggregate lineage the checkpoint legitimately severs).
    * Keying on the registered id, not a marker column, means a future
    * corpus-sized frame routed through joinOnZone (which attaches its
    * `__g_jh` working column to WHATEVER right side a caller passes)
    * still gets flagged — only the code site that declared the bound can
    * exempt. Shared with PlanSpec's gate so the drive and the gate
    * cannot diverge. */
  def suspectSides(p: SparkPlan): Seq[SparkPlan] =
    broadcastSides(p).filter { side =>
      val scans = flatten(side).collect {
        case r: org.apache.spark.sql.execution.RDDScanExec => r
      }
      val txt = side.toString
      txt.contains("Scan ExistingRDD") && !txt.contains("HashAggregate") &&
        !(scans.nonEmpty &&
          scans.forall(r => graft.ops.Ckpt.isSmallCheckpoint(r.rdd.id)))
    }

  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val s = LocalSession(4)
    var flagged = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(s, d).queryExecution.executedPlan
        val bad = suspectSides(plan)
        if (bad.nonEmpty) {
          flagged += 1
          println(s"FLAG $name: broadcast over a checkpoint-backed, " +
            s"non-aggregated subtree (${bad.size} site(s))")
          bad.foreach(b => println("  " + b.toString.split("\n").take(4)
            .map(_.trim.take(120)).mkString(" | ")))
        }
      } catch { case e: Throwable =>
        println(s"ERR  $name: ${e.getMessage.take(100)}")
      }
    }
    println(s"flagged=$flagged")
    s.stop()
  }
}
