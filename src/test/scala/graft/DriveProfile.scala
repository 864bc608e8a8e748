package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, xxhash64}

/** Scratch main: time named registered queries with the [[Bench]]
  * protocol and decompose where each one's wall-clock goes — driver-side
  * (planning + scheduling gaps) vs executor task time — with per-query
  * job/stage/task counts, shuffle bytes and spill from [[JobStats]].
  *
  * Per query: one warm-up run (printed as `cold_s`: the first-touch cost
  * in a fresh session, which a memo-family query pays before its shared
  * frame exists), then two measured passes over the whole list. `wall_s`
  * is the slower of the two passes and the counters are that pass's.
  * `GRAFT_PROFILE_JOBS=1` also prints the measured pass's stages.
  *
  * Usage: Test/runMain graft.DriveProfile <sfDir> <query...>
  */
object DriveProfile {
  /** The Bench action: aggregate a hash of every output column, so each
    * declared value is computed but the final ORDER BY may be dropped. */
  def benchAction(df: DataFrame): Unit =
    df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
      .agg(expr("bit_xor(h)")).head(): Unit

  /** Wall seconds of `body`. */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = LocalSession(32)
    val stats = JobStats.attach(spark)
    def run(n: String): (Double, JobStats.Totals) =
      stats.measure(seconds(benchAction(SparkEntry.queries(n)(spark, sfDir))))
    val cold = names.map(n => n -> run(n)._1).toMap
    val passes = Seq.fill(2)(names.map(n => n -> run(n)).toMap)
    println(f"${"query"}%-28s ${"cold_s"}%7s ${"wall_s"}%7s ${"task_s"}%8s ${"gc_s"}%6s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"shR_MB"}%7s ${"shW_MB"}%7s ${"spill_MB"}%8s")
    names.foreach { n =>
      val (wall, t) = passes.map(_(n)).maxBy(_._1)
      println(f"$n%-28s ${cold(n)}%7.2f $wall%7.2f ${t.taskMs / 1e3}%8.2f ${t.gcMs / 1e3}%6.2f ${t.jobs}%5d ${t.stages}%7d ${t.tasks}%6d ${t.shuffleReadBytes / 1e6}%7.1f ${t.shuffleWriteBytes / 1e6}%7.1f ${t.spillBytes / 1e6}%8.1f")
      if (sys.env.contains("GRAFT_PROFILE_JOBS")) t.stageRows.foreach { st =>
        println(f"    stage ${st.id}%4d tasks=${st.tasks}%3d run=${st.runMs / 1e3}%6.2f s  ${st.name.take(90)}")
      }
    }
    spark.stop()
  }
}
