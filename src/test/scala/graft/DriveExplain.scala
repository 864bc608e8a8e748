package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Scratch main: show the physical plans of registered queries.
  *
  * {{{
  * Test/runMain graft.DriveExplain <sfDir> <query...>
  *     formatted plan, then the row count, per query
  * Test/runMain graft.DriveExplain --joins <sfDir> <query...>
  *     only the join / hash-exchange lines of each final plan — the quick
  *     audit for estimate-driven join strategies (SCALE.md's
  *     LogicalRDD-stats lesson)
  * Test/runMain graft.DriveExplain --out <outDir> <suffix> <sfDir> <query...>
  *     write each formatted plan to <outDir>/<query>_<suffix>.txt
  * }}}
  */
object DriveExplain {
  def main(args: Array[String]): Unit = args.toSeq match {
    case "--joins" +: d +: names => eachPlan(d, names) { (q, df) =>
      println(s"=== $q ===")
      df.queryExecution.executedPlan.toString.split("\n")
        .filter(l => l.contains("Join") || l.contains("Exchange hash"))
        .foreach(l => println("  " + l.trim.take(150)))
    }
    case "--out" +: outDir +: suffix +: d +: names =>
      new java.io.File(outDir).mkdirs()
      eachPlan(d, names) { (q, df) =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${q}_$suffix.txt"),
          df.queryExecution.explainString(FormattedMode))
        println(s"wrote $q")
      }
    case d +: names => eachPlan(d, names) { (_, df) =>
      df.explain("formatted")
      println(s"ROWS=${df.count()}")
    }
    case _ => sys.error("usage: DriveExplain [--joins | --out <outDir> <suffix>] <sfDir> <query...>")
  }

  private def eachPlan(d: String, names: Seq[String])(f: (String, DataFrame) => Unit): Unit = {
    val s = LocalSession(8)
    names.foreach(q => f(q, SparkEntry.queries(q)(s, d)))
    s.stop()
  }
}
