package graft

/** Scratch main: flag queries whose parquet scan DataFilters contain
  * higher-order/array-building expressions (the InferFiltersFromGenerate
  * hazard — per-row interpreted rebuild of expensive arrays). */
object DriveScanFilterAudit {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = LocalSession(8)
    val bad = Seq("transform(", "array_distinct(", "aggregate(", "filter(lambda",
      "regexp_extract_all(", "sequence(")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, d).queryExecution.executedPlan.toString
        val hits = plan.linesIterator.filter(l => l.contains("DataFilters: ["))
          .flatMap { l =>
            val f = l.substring(l.indexOf("DataFilters: ["))
            val cut = f.take(900)
            bad.filter(cut.contains).map(b => s"$b -> ${cut.take(200)}")
          }.toSeq.distinct
        if (hits.nonEmpty) println(s"[audit] $name\n  ${hits.mkString("\n  ")}")
      } catch { case e: Throwable =>
        println(s"[audit] $name ERROR ${e.getMessage.take(100)}")
      }
    }
    spark.stop()
    println("[audit] done")
  }
}
