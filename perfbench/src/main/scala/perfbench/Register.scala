package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, xxhash64}
import graft.SparkEntry

/** The `register` workload: passes over a fixed sample of
  * `SparkEntry.queries`, each query driven by the all-column hash action
  * `graft.Bench` uses, in a seed-permuted order per pass.
  *
  * The sample and each query's expected rounded digest live in the golden
  * file; the tables come from a fixed generator seed so those digests hold
  * for every run, and `--seed` only orders the passes.
  */
object Register {
  val sf = 0.01
  val dataSeed = 42L

  private def drive(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h")).agg(expr("bit_xor(h)"))

  def run(spark: SparkSession, run: Run, golden: String, recordGolden: Option[String]): Unit = {
    val t = run.tracer
    val dataDir = run.phase("datagen")(
      DataGen.write(spark, s"${run.dir}/data", sf, dataSeed, DataGen.allTables))
    val registry = SparkEntry.queries
    val expected = Json.read(golden).get("queries").asInstanceOf[java.util.Map[String, Any]]
      .asScala.toSeq.map { case (k, v) => k -> v.asInstanceOf[java.util.Map[String, Any]] }
    val names = expected.map(_._1).sorted
    names.filterNot(registry.contains).foreach(n => run.fail(s"query $n is not registered"))
    val queries = names.filter(registry.contains).map(n => n -> registry(n))

    // ---- set-up: (traced runs) every substrate build timed apart, as
    // graft.Bench does; then one warm-up pass, which builds any substrate
    // a sampled query consumes ----
    if (t.enabled) SparkEntry.substrates.foreach { case (name, fn) =>
      val t0 = Clock.nowUs
      t.span("SparkEntry.substrate", name)(
        fn(spark, dataDir).write.format("noop").mode("overwrite").save())
      run.add("substrates_s", (Clock.nowUs - t0) / 1e6)
    }
    // the warm-up pass doubles as the correctness check: each result's
    // rounded digest against the golden file
    val got = run.phase("warmup")(queries.map { case (name, fn) =>
      val df = fn(spark, dataDir)
      val rows = Digest.rows(df)
      drive(df).head()
      name -> Json.obj("rows" -> rows.size, "columns" -> df.columns.toSeq,
        "digest" -> graft.ops.HashKey.sha1Hex(rows.mkString("\n")))
    })
    recordGolden match {
      case Some(path) =>
        Json.write(path, Json.obj("sf" -> sf, "data_seed" -> dataSeed, "queries" -> got.toMap))
      case None =>
        val want = expected.toMap
        got.foreach { case (name, g) =>
          val w = want(name)
          run.check(s"query $name: digest differs from the golden file")(
            g.get("digest") == w.get("digest") &&
              g.get("rows").toString == w.get("rows").toString)
        }
    }

    // ---- timed region: whole passes until the run length is reached ----
    run.startTimed()
    var pass = 0
    while (pass == 0 || run.elapsed < run.seconds) {
      val order = new scala.util.Random(run.seed * 1000003L + pass).shuffle(queries)
      val p0 = Clock.nowUs
      t.span("pass", s"p$pass") {
        order.foreach { case (name, fn) =>
          val q0 = Clock.nowUs
          val ok = run.check(s"query $name threw") {
            t.span("query", name) {
              val df = t.span("SparkEntry.build", name)(fn(spark, dataDir))
              val driven = drive(df)
              t.span("SparkEntry.run", name)(driven.head())
              val phases = driven.queryExecution.tracker.phases
              run.sample("plan_ms", Seq("analysis", "optimization", "planning")
                .flatMap(phases.get).map(_.durationMs).sum.toDouble)
            }
            true
          }
          if (ok) run.sample("query_s", (Clock.nowUs - q0) / 1e6)
        }
      }
      run.sample("pass_s", (Clock.nowUs - p0) / 1e6)
      pass += 1
    }
    run.endTimed()
    run.set("heap_mb", Main.heapMb())
    run.set("passes", pass)
    run.set("queries", queries.size)
  }
}
