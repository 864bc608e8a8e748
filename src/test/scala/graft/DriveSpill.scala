package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Memory-pressure validation: run the heaviest shuffle/buffer operators
  * under a STARVED memory manager and prove they spill instead of dying,
  * with byte-identical results (to 1e-6 on doubles — merge order under
  * spilling may legally reorder float additions).
  *
  * At 100 TB the per-task memory budget is the fraction of an executor a
  * task gets, not the 128 GiB the sandbox hands local[32]; an operator
  * that only works when everything fits is not scale-ready. This drive
  * is the measured version of SCALE.md's "spills at scale" claims: the
  * starved run uses a 2 GiB heap with spark.memory.fraction=0.1 (~200 MB
  * of managed execution+storage memory across all tasks — a 1000× tighter
  * ratio to sf0.1 than the bench session), and per-op spill bytes are read
  * off TaskMetrics to prove the spill path actually ran rather than the
  * data merely fitting anyway.
  *
  * Usage (two JVMs — the heap is the experiment variable):
  *   SPARK_DRIVER_MEM=8g sbt 'Test/runMain graft.DriveSpill --record'
  *   SPARK_DRIVER_MEM=2g sbt 'Test/runMain graft.DriveSpill --starved'
  */
object DriveSpill {
  val RefPath = "/tmp/graft_spill_ref.txt"

  /** Shuffle/buffer-heavy rows: exact holistic extracts (per-zone value
    * sets), token-grain aggregates, banded two-phase ranks, the shingle
    * pipelines, and the persisted-array containment join. */
  val ops = Seq(
    "extract_mad", "extract_percentile", "extract_unique", "outlier_robust",
    "tfidf_top", "bm25_top", "repeated_ngrams", "rfm_scores",
    "dedup_ngram_jaccard", "sessionize_events", "dedup_containment",
    "woe_bins",
    // the remaining shuffle_hash-hinted families: their fixed-width long
    // build rows track the partition target ~1:1 (unlike string/array
    // payloads), so the rigid hash builds are expected to fit — this is
    // the measured proof of that distinction
    "dedup_simhash_pairs", "dedup_minhash", "dup_pagerank",
    // round-7 shapes: the zonedNtile rank machinery under a hot zone
    // (band-partitioned sorts + |zones|x32 offsets), the CC loop over
    // LSH endpoints with its per-round checkpoints, and the guided-
    // engine registered median (GK bracket + windowed count passes)
    "hist_equidepth", "dedup_embed_clusters", "extract_median",
    // round-9 shapes: the signature-quotient substrate (window over the
    // full signature + group-grain band self-join) and the quotient
    // triangle closed forms + wedge join
    "dedup_clusters", "triangle_count",
    // round-10/11 additions (round-9 verdict #8): the adaptive fine-grid
    // banded edges (larger band counts mean more rank-edge state under
    // the same pool) and the 128-bit promoted rows (decimal aggregation
    // buffers are wider than the longs they replaced, so the starvation
    // margin deserved a re-measure), plus zipf_fit's checkpointed
    // vocabulary rollup + TakeOrdered fit window
    "quality_tiles", "shard_balance", "funnel_latency",
    "gini_spend", "ab_test", "seasonal_anomaly", "zipf_fit",
    // round-13 shapes (round-12 verdict #7): the native NearestCentroid
    // assignment at the k=1024 cell budget (0.5 MB centroid literal in
    // the plan + per-task scratch buffer, then the probe-join/window
    // search machinery over 100k vectors), and the guided median/mad on
    // the 10x lineitem corpus — the decade-3 quantile shapes (GK bracket
    // pass + windowed (zone, value) count pass over 6.9M rows) that
    // postdate the original 27-op drive
    "ivf_assign_k1024", "extract_median_10x", "extract_mad_10x")

  /** Synthetic rows that aren't registered-query names. Each is fully
    * deterministic across heap sizes (the record/starved contract):
    *  - `ivf_assign_k1024` skips the KMeans fit (treeAggregate float
    *    sums vary with partitioning, which is the experiment variable
    *    here) and takes the first 1024 vectors of a 50x-amplified,
    *    per-(vec_id, copy, dim) jittered embedding corpus as the
    *    centroid matrix — the NearestCentroid plan-literal shape at the
    *    exact k the 10M-vector tier runs, with ivfSearch's rounded-6dp
    *    arithmetic on top.
    *  - `extract_median_10x`/`extract_mad_10x` run the registered
    *    guided-engine queries against the 10x perturbed lineitem corpus
    *    (generated on first use, same dir the --x100li tiers use). */
  def extraOps(s: SparkSession, sf: String): Map[String, () => DataFrame] = {
    // both extras pin their INPUT base to sf0.1 regardless of the drive's
    // SPARK_GRAFT_SF_DIR (historically the 10x corpus): the 10x corpus
    // already amplifies embeddings/lineitem with the same 10M id stride,
    // so re-amplifying it here would collide ids / square the row count —
    // these rows are fixed-shape probes of the k=1024 assignment and the
    // 6.9M-row guided quantiles, not functions of the ambient corpus
    val fixedBase = "/root/testdata/sf0.1"
    val li10 = "/tmp/graft_scale10li"
    def ensureLi10(): String = {
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$li10/_READY")))
        DriveScale10x.generateLineitem(s, fixedBase, li10, 10)
      li10
    }
    def ivfK1024(): DataFrame = {
      val emb50 = graft.ops.Tables.embeddings(s, fixedBase)
        .select(col("*"), explode(sequence(lit(0), lit(49))).as("__copy"))
        .select((col("vec_id") + col("__copy") * lit(10000000L)).as("vec_id"),
          expr("""transform(embedding, (x, i) ->
            CAST(x + (CASE WHEN __copy = 0 THEN 0.0
                      ELSE (pmod(vec_id * 7919 + __copy * 131 + i * 17, 199) - 99) * 1.0e-3 END)
                 AS FLOAT))""").as("embedding"),
          col("label"))
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", graft.ops.LlmOps.norm(col("v")))
      // deterministic k=1024 centroids: the 1024 lowest-vec_id copy-0
      // (unperturbed) vectors — base ids sit below the 10M copy stride
      val cents = emb50.filter(col("vec_id") < 10000000L)
        .orderBy(col("vec_id")).limit(1024)
        .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
      val centMatrix = array(cents.map(c =>
        array(c.toIndexedSeq.map(lit): _*)).toIndexedSeq: _*)
      val assigned = emb50.withColumn("cell",
        graft.functions.native.nearest_centroid(col("v"), centMatrix))
      import s.implicits._
      val centroids = cents.zipWithIndex.toSeq
        .map { case (c, i) => (i, c) }.toDF("cell", "cvec")
      val q = emb50.filter(col("vec_id") % 50 === 0 && col("vec_id") < 10000000L)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      graft.ops.LlmOps.ivfSearch(assigned, centroids, q, topK = 5, nprobe = 32)
    }
    Map(
      "ivf_assign_k1024" -> (() => ivfK1024()),
      "extract_median_10x" ->
        (() => SparkEntry.queries("extract_median")(s, ensureLi10())),
      "extract_mad_10x" ->
        (() => SparkEntry.queries("extract_mad")(s, ensureLi10())))
  }

  /** Order-insensitive whole-result hash; doubles rounded to 1e-6 so a
    * spill-reordered float sum cannot flip the verdict. */
  def hashOf(df: DataFrame): Long = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.DoubleType)
        round(col(f.name), 6).as(f.name)
      else col(f.name)
    }
    val r = df.select(cols.toSeq: _*)
    // fold with an order-insensitive SUM, not bit_xor: xor cancels rows
    // with even multiplicity, so a starved run that dropped or duplicated
    // a matching PAIR of identical rows would still hash equal — a sum
    // shifts on any multiplicity change. Decimal(38,0) accumulator so the
    // fold can't overflow (Spark 4 ANSI sum throws on Long overflow).
    r.select(xxhash64(r.columns.map(col): _*).as("h"))
      .agg(sum(col("h").cast("decimal(38,0)")).as("s")).head()
      .getDecimal(0).longValue()
  }

  def main(args: Array[String]): Unit = {
    val starved = !args.headOption.contains("--record")
    val chosen = if (args.length > 1) args.drop(1).toSeq else ops
    val cpus = LocalSession.envCpus(16)
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Starved mode sizes shuffle partitions to the DATA, not the cores —
    // the production rule (a 1000-executor job runs thousands of shuffle
    // partitions; AQE coalesces small ones but never splits an oversized
    // non-skewed partition). The engine's shuffle_hash-hinted joins are
    // partition-bounded by design: per-partition hash builds fit BECAUSE
    // partition sizing holds. Squeezing 10x data into cores-many
    // partitions breaks that contract for any engine.
    val shufP = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
      if (starved) "64" else cpus.toString)
    val frac = sys.env.getOrElse("SPARK_GRAFT_MEMFRAC", "0.2")
    val s = LocalSession(cpus, Seq("spark.sql.shuffle.partitions" -> shufP) ++
      (if (starved) Seq("spark.memory.fraction" -> frac,
        // under pressure, cached/checkpointed blocks must YIELD to execution
        // (evict to disk) rather than keep half the pool protected
        "spark.memory.storageFraction" -> "0.1") else Nil): _*)
    println(s"mode=${if (starved) "starved" else "record"} " +
      s"heap=${Runtime.getRuntime.maxMemory() / (1 << 20)}MB " +
      s"fraction=${s.conf.get("spark.memory.fraction", "default")}")

    val stats = JobStats.attach(s)

    val ref: Map[String, Long] =
      if (starved) {
        val src = scala.io.Source.fromFile(RefPath)
        try src.getLines().filter(_.nonEmpty).map { l =>
          val Array(n, h) = l.split(" "); n -> h.toLong
        }.toMap finally src.close()
      } else Map.empty

    var failed = List.empty[String]
    val extras = extraOps(s, sf)
    val rows = chosen.map { op =>
      val (h, t) = stats.measure(hashOf(extras.get(op).map(_.apply())
        .getOrElse(SparkEntry.queries(op)(s, sf))))
      val (m, dk) = (t.spillMemBytes, t.spillDiskBytes)
      val ok = if (starved) ref.get(op).contains(h) else true
      if (starved && !ok) failed ::= op
      println(f"$op%-22s hash=$h%20d spillMem=${m / (1 << 20)}%6dMB " +
        f"spillDisk=${dk / (1 << 20)}%6dMB ${if (starved) s"match=$ok" else ""}")
      (op, h, m, dk)
    }

    if (starved) {
      val totalSpill = rows.map(r => r._3 + r._4).sum
      println(s"total spilled bytes: $totalSpill")
      require(failed.isEmpty, s"results diverged under memory pressure: $failed")
      require(totalSpill > 0,
        "nothing spilled — the starved run did not exercise the spill path")
      println("SPILL DRIVE PASS")
    } else {
      java.nio.file.Files.write(java.nio.file.Paths.get(RefPath),
        rows.map(r => s"${r._1} ${r._2}").mkString("", "\n", "\n").getBytes("UTF-8"))
      println(s"recorded ${rows.size} reference hashes to $RefPath")
    }
    s.stop()
  }
}
