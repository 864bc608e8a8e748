package graft

import org.apache.spark.sql.functions._
import graft.ops.{Cache, Extracts, Merge, Tables}

/** Measured before/after for the bucketed extract-cache claim (SCALE.md
  * "Wide merge"): fold-join K=8 cached extracts + a base attribute frame
  * on `asdf_id`, once from the PLAIN parquet cache layout and once from the
  * BUCKETED layout, with broadcast disabled (at 100 TB extract frames on a
  * fine grid exceed any broadcast threshold — the plain fold then shuffles
  * every side; the bucketed fold is exchange-free, ScaleSpec-pinned).
  * Reference motivation: every request merges N extracts
  * (`queue/request_tools.py:617-708`).
  */
object DriveBucketedMerge {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = LocalSession(32)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val methods = Seq("sum", "mean", "count", "min", "max",
      "weighted_mean", "weighted_sum", "weighted_count")
    val px = Tables.pixels(spark, d)
    def fold(c: Cache, bucketed: Boolean): Double = {
      val extracts = methods.map { m =>
        val compute = Extracts.extract(px, m).withColumnRenamed(m, s"x_$m")
        if (bucketed) c.getOrComputeBucketed(s"m_$m", buckets = 8)(compute)
        else c.getOrCompute(s"m_$m")(compute)
      }
      val baseC = {
        val compute = px.select("asdf_id").distinct()
          .withColumn("zone_name", concat(lit("z"), col("asdf_id")))
        if (bucketed) c.getOrComputeBucketed("base", buckets = 8)(compute)
        else c.getOrCompute("base")(compute)
      }
      val t0 = System.nanoTime()
      val wide = Merge.wide(baseC, extracts)
      DriveProfile.benchAction(wide)
      val dt = (System.nanoTime() - t0) / 1e9
      val ex = "Exchange".r.findAllIn(
        wide.queryExecution.executedPlan.toString).length
      println(f"${if (bucketed) "bucketed" else "plain   "} fold: $dt%6.3f s  exchanges=$ex")
      dt
    }
    def newCache() = new Cache(spark,
      java.nio.file.Files.createTempDirectory("graft_bm").toString)
    // warm both layouts (cache writes + JIT), then measure the fold alone
    val (cp, cb) = (newCache(), newCache())
    fold(cp, bucketed = false); fold(cb, bucketed = true)
    println("--- measured (second fold over the same caches) ---")
    fold(cp, bucketed = false); fold(cb, bucketed = true)
    spark.stop()
  }
}
