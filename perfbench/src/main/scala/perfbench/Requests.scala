package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Engine, Pipeline}
import graft.model._
import graft.ops.{Cache, Tables}

/** The `requests_cold` workload: a closed loop of one calling thread that
  * submits one request, ticks the engine once (one cron pass), waits until
  * the result is readable, polls its status and bundles it, then starts the
  * next cycle.
  *
  * Every work item of every request is new (dataset and file names are
  * unique per cycle), so extract/MSR compute and the cache-fill write sit on
  * the critical path. The filter set and the (year, method) mix are the
  * same every cycle — one filtered MSR selection plus an algebraic, a
  * holistic and a categorical extract of one year — so every cycle does the
  * same compute. There is no warm-up: the workload is a cron pass in a
  * fresh JVM, which pays its one-time costs on every pass.
  */
object Requests {
  val sf = 0.1
  /** Zones in the base frame: every result has one row per zone. */
  val zones = 25
  private val boundary = Boundary("bench_adm0")
  private val filters = Map(
    "donor" -> Seq("1-URGENT", "2-HIGH", "3-MEDIUM"), "status" -> Seq("F", "O"))

  def request(id: String): Request = Request(id, boundary,
    release_data = Seq(ReleaseSelection(s"aims_$id", filters = filters)),
    raster_data = Seq(RasterSelection(s"precip_$id",
      Seq("mean", "median", "categorical"), Seq(RasterFile(s"precip_${id}_1998")))))

  def run(spark: SparkSession, run: Run): Unit = {
    val t = run.tracer
    val dataDir = run.phase("datagen")(
      DataGen.write(spark, s"${run.dir}/data", sf, run.seed, DataGen.requestTables))
    // the frames CronTick.main builds: zones from nation, pixels and
    // locations from the fact tables
    val base = Tables.nation(spark, dataDir)
      .select(col("n_nationkey").as("asdf_id"), col("n_name"))
    val pixels = Tables.pixels(spark, dataDir)
    val locations = Tables.locations(spark, dataDir)
      .withColumn("asdf_id", col("cell_id") % zones)
      .withColumn("alloc", col("amount") * 0.9)
      .withColumn("donors", lit("AFDB"))
    val workDir = s"${run.dir}/work"
    val engine = new Engine(spark, workDir)
    val completed = scala.collection.mutable.ArrayBuffer.empty[Request]

    def cycle(id: String): Unit = t.span("cycle", id) {
      val r = request(id)
      val t0 = Clock.nowUs
      t.span("Engine.submitAll", id)(engine.submitAll(Seq(r)))
      val lookups = if (t.enabled) probeLayers(run, engine, Seq(r), id) else 0
      val before = if (t.enabled) cacheItems(spark, engine) else 0
      val outcomes = t.span("Engine.tick", id)(engine.tick(base, pixels, locations))
      if (t.enabled) {
        run.add("cache_lookups", lookups)
        run.add("cache_fills", cacheItems(spark, engine) - before)
      }
      if (run.check(s"$id ended ${outcomes.get(id)}, expected 1")(outcomes.get(id).contains(1)) &&
          run.check(s"results($id) not readable")(
            t.span("Engine.results", id)(engine.results(id)).isDefined)) {
        run.sample("turnaround_s", (Clock.nowUs - t0) / 1e6)
        completed += r
      }
      val st = t.span("Engine.status", id)(engine.status(id))
      run.check(s"status($id) = $st, expected 1")(st.contains(1))
      val zip = s"${run.dir}/bundle-$id.zip"
      run.check(s"bundle($id) is empty") {
        t.span("Engine.bundle", id)(engine.bundle(id, zip))
        val f = new java.io.File(zip)
        val ok = f.length() > 0
        f.delete()
        ok
      }
      run.sample("cycle_s", (Clock.nowUs - t0) / 1e6)
    }

    val diskBefore = Main.treeSize(workDir)._2

    // ---- timed region: whole cycles until the run length is reached ----
    run.startTimed()
    var c = 0
    while (c == 0 || run.elapsed < run.seconds) { cycle(s"c$c"); c += 1 }
    run.endTimed()
    run.set("heap_mb", Main.heapMb())
    run.set("batch", 1)
    run.set("completed", completed.size)
    run.set("disk_bytes", (Main.treeSize(workDir)._2 - diskBefore).toDouble)

    // ---- per-layer facts from listings (traced runs) ----
    if (t.enabled) {
      val st = Seq(s"$workDir/state", s"$workDir/requests")
      val sizes = st.map(Main.treeSize)
      run.set("state_files", sizes.map(_._1).sum)
      run.set("state_bytes", sizes.map(_._2).sum)
      run.set("state_versions", st.map(versionDirs).sum)
      run.set("cache_items", cacheItems(spark, engine))
      val out = completed.map(r => Main.treeSize(s"$workDir/out/${r.id}"))
      run.set("artifact_files_per_request", out.map(_._1).sum.toDouble / out.size)
      run.set("artifact_bytes_per_request", out.map(_._2).sum.toDouble / out.size)
    }

    // ---- correctness: the last result against a fresh, unmemoized build ----
    val oracle = new Pipeline(spark, new Cache(spark, s"${run.dir}/oracle-cache"),
      bucketed = false, memoizeMerge = false)
    run.phase("check")(completed.lastOption.foreach { r =>
      run.check(s"result of ${r.id} differs from a fresh build") {
        Digest.same(engine.results(r.id).get,
          oracle.buildOutput(r, base, pixels, locations)._1)
      }
    })
  }

  private def versionDirs(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.matches("v\\d.*"))

  /** Materialized cache entries: plain key dirs plus bucketed catalog tables. */
  private def cacheItems(spark: SparkSession, engine: Engine): Int = {
    val plain = Option(new java.io.File(s"${engine.workRoot}/cache/v1").listFiles())
      .getOrElse(Array.empty)
      .count(f => f.isDirectory && !f.getName.startsWith("_") && !f.getName.startsWith("bucketed_"))
    plain + spark.catalog.listTables().collect().count(_.name.startsWith("graft_cache_"))
  }

  /** Traced runs only: time the planning calls a tick makes per request —
    * work-item derivation and the per-item cache probe. Returns the cache
    * lookups the tick will make: each work item plus the merged result. */
  private def probeLayers(run: Run, engine: Engine, reqs: Seq[Request], tag: String): Int =
    reqs.map { r =>
      val items = run.tracer.span("Pipeline.checkRequest", tag)(engine.pipeline.checkRequest(r))
      run.add("pipeline_items", items.size)
      run.add("pipeline_requests", 1)
      items.foreach(i => run.tracer.span("Cache.probe", tag)(engine.cache.probe(i.key)))
      items.size + 1
    }.sum
}

/** Order-free comparison of two small result frames: the same column names,
  * the same row count, and the same rows once doubles are rounded to nine
  * significant digits. */
object Digest {
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => round(d)
    case f: Float => round(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${canon(k)}:${canon(x)}" }.sorted.mkString("{", ",", "}")
    case x => x.toString
  }
  private def round(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else BigDecimal(d).round(new java.math.MathContext(9)).bigDecimal.stripTrailingZeros.toPlainString

  def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(canon).sorted

  def same(a: DataFrame, b: DataFrame): Boolean =
    a.columns.toSeq == b.columns.toSeq && rows(a) == rows(b)
}
