package graft

import org.apache.spark.sql.functions.{broadcast, col, explode, expr}

/** Scratch main: run text_quality_lm once and dump per-stage run/row/GC
  * metrics from [[JobStats]] — the diagnosis tool for the round-15
  * decade-3/4 throughput anomaly. */
object DriveLmProbe {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/tmp/graft_scale1000doc"
    val q = if (args.length > 1) args(1) else "text_quality_lm"
    val s = LocalSession(32, "spark.sql.shuffle.partitions" -> "512")
    if (q == "--shape") {
      // cost decomposition of the score-pass shape: explode | +docAgg |
      // +probe | full — isolates which operator owns the per-trigram µs
      val base = graft.ops.Tables.documents(s, d)
      def tri = base
        .repartition(graft.ops.LlmOps.spreadWidth(base))
        .withColumn("norm", graft.ops.LlmOps.normText(col("text")))
        .select(col("doc_id"), explode(
          graft.functions.native.char_ngrams(col("norm"), 3)).as("g"))
      val counts = tri.groupBy(col("g")).agg(expr("count(1)").as("cnt"))
        .localCheckpoint(true)
      def time(label: String)(f: => Unit): Unit = {
        val t = System.nanoTime(); f
        println(f"$label%-18s ${(System.nanoTime() - t) / 1e9}%8.1f s")
      }
      time("explode-count")(tri.agg(expr("count(1)")).head())
      time("explode-sumlen")(tri.agg(expr("sum(length(g))")).head())
      time("doc-agg")(tri.groupBy(col("doc_id")).agg(expr("count(1)"))
        .agg(expr("count(1)")).head())
      time("probe-only")(graft.ops.Extracts.joinOnZone(tri, counts, "g")
        .agg(expr("count(1)")).head())
      time("probe-plain")(tri.join(broadcast(counts), Seq("g"))
        .agg(expr("count(1)")).head())
      time("full")(graft.ops.Extracts.joinOnZone(tri, counts, "g")
        .groupBy(col("doc_id")).agg(expr("avg(log(cnt))"))
        .agg(expr("count(1)")).head())
      s.stop(); return
    }
    val stats = JobStats.attach(s)
    val (wall, t) = stats.measure(DriveProfile.seconds(
      DriveProfile.benchAction(SparkEntry.queries(q)(s, d))))
    println(f"wall $wall%.1f s")
    t.stageRows.filter(_.runMs > 2000).foreach { a =>
      println(f"stage ${a.id}%3d run=${a.runMs / 1000.0}%9.1f s gc=${a.gcMs / 1000.0}%7.1f s" +
        f" tasks=${a.tasks}%4d in=${a.inputRecords}%12d sh_r=${a.shuffleReadRecords}%12d" +
        f" sh_w=${a.shuffleWriteRecords}%12d  ${a.name.take(70)}")
    }
    s.stop()
  }
}
