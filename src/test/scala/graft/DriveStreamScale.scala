package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Streamy

/** Measured scale posture for the STREAMING family — the stateful analog of
  * [[DriveScale10x]]. SCALE.md claims every streaming operator's state is
  * bounded by (key cardinality × watermark span), not stream LENGTH; this
  * drive makes that a measurement instead of an analysis.
  *
  * Protocol: synthesize a file stream (one parquet file per 10-minute
  * event-time slice, written in event-time order — the same contract the
  * operators document), drive each stateful operator as a REAL stream
  * (`maxFilesPerTrigger=1`, AvailableNow, noop sink) at 1× and 10× the
  * number of slices with IDENTICAL per-slice rate and user cardinality,
  * and read the state-store row counts off `StreamingQueryProgress`.
  * Growing the stream 10× while holding rate and keys constant isolates
  * the claim: a state store bounded by keys/watermark stays flat
  * (exponent ≈ 0 over stream length); one that accumulates history grows
  * linearly (exponent ≈ 1).
  *
  * Expected shape per operator:
  *  - dedupeById: rows within the 1 h watermark — flat.
  *  - windowCounts: open (window × type) groups inside the watermark — flat.
  *  - sessionFlush: users active inside the session gap — flat (event-time
  *    timeout evicts idle users).
  *  - runningUserTotals: live users (processing-time timeout can't fire
  *    inside a fast drain) — flat at |users|, NOT at |events|.
  *  - funnelProgress: users that made funnel progress — flat at |users|
  *    by design (NoTimeout is the operator's documented posture: funnel
  *    stamps are 24 bytes per converting user, bounded by the user
  *    population, never the clickstream).
  *  - intervalJoin: both sides' rows inside (watermark + interval) — flat.
  */
object DriveStreamScale {
  private def genSlices(spark: SparkSession, dir: String, nSlices: Int,
      perSlice: Int, nUsers: Int): Unit = {
    import spark.implicits._
    // deterministic synthetic clickstream: slice s covers
    // [s*10min, (s+1)*10min); within a slice, rows are event-time ordered
    // and each user's events are strictly increasing — sessionFlush's
    // documented cross-batch ordering contract. A multiplicative hash
    // spreads users; every 7th event repeats the previous event_id to
    // exercise dedupe state with real duplicates.
    val types = Array("view", "click", "purchase")
    (0 until nSlices).foreach { s =>
      val rows = (0 until perSlice).map { j =>
        val g = s.toLong * perSlice + j
        val id = if (j % 7 == 3) g - 1 else g
        val uid = ((g * 2654435761L) >>> 7) % nUsers
        val usInSlice = (j.toLong * 600000000L) / perSlice // 10 min in µs
        val ts = new java.sql.Timestamp(
          1704067200000L + s * 600000L + usInSlice / 1000L)
        val tpe = types(((g * 40503L) % 3L).toInt)
        (id, ts, uid, tpe, ((g % 100) + 1).toDouble / 10.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
      rows.coalesce(1).write.mode("append").parquet(dir)
    }
  }

  private case class Run(name: String, events: Long, wallSec: Double,
    maxStateRows: Long, maxStateBytes: Long)

  private def drive(spark: SparkSession, dir: String, name: String,
      mode: String, xform: DataFrame => DataFrame): Run = {
    val schema = spark.read.parquet(dir).schema
    val nEvents = spark.read.parquet(dir).count()
    val ckpt = Files.createTempDirectory(s"graft_ss_$name").toString
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val t0 = System.nanoTime()
    val q = xform(stream).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("noop").outputMode(mode).start()
    // drain via StreamProbe: AvailableNow alone never terminates under
    // ProcessingTimeTimeout operators (timer batches keep the query alive)
    val progress = StreamProbe.drain(q)
    val wall = (System.nanoTime() - t0) / 1e9
    // retention raised to 1000 in the session conf — the 10x run's data +
    // watermark/timer batches overflow the default 100-entry window
    val states = progress.flatMap(p => Option(p.stateOperators).toSeq.flatten)
    val rows = if (states.isEmpty) 0L else states.map(_.numRowsTotal).max
    val bytes = if (states.isEmpty) 0L else states.map(_.memoryUsedBytes).max
    Run(name, nEvents, wall, rows, bytes)
  }

  // (name, required sink output mode, transform) — flatMapGroupsWithState
  // declares Append, mapGroupsWithState requires Update
  private def ops(dim: DataFrame): Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("dedupeById", "append", df => Streamy.dedupeById(df)),
    ("windowCounts", "update", df => Streamy.windowCounts(df)),
    ("sessionFlush", "append", df => Streamy.sessionFlush(df).toDF()),
    ("runningUserTotals", "update", df => Streamy.runningUserTotals(df).toDF()),
    ("funnelProgress", "update", df => Streamy.funnelProgress(df, "view", "click", "purchase").toDF()),
    ("intervalJoin", "append", df => Streamy.intervalJoin(df, df)),
    ("enrich", "append", df => Streamy.enrich(df, dim, "user_id", "k")))

  /** Whale-skewed slice generator for the `--x100stream` corpus family:
    * 10 whale users receive 4/9 of all events (≈×400 a normal user's
    * rate — the events-corpus whale ratio brought to the stream), the
    * remaining `nUsers − 10` share the rest. Spark-range generation (no
    * driver-side row materialization at 20M events); one file per slice
    * in event-time order, same slice geometry, duplicate rule (every
    * 7th event repeats the previous id) and value law as [[genSlices]]. */
  private def genSlicesWhale(spark: SparkSession, dir: String, nSlices: Int,
      perSlice: Int, nUsers: Int): Unit = {
    (0 until nSlices).foreach { s =>
      val g = col("id") + lit(s.toLong * perSlice)
      val h = shiftrightunsigned(g * lit(2654435761L), 7)
      spark.range(perSlice.toLong)
        .select(
          when(col("id") % 7 === 3, g - 1).otherwise(g).as("event_id"),
          timestamp_micros(lit(1704067200000000L + s.toLong * 600000000L) +
            expr(s"(id * 600000000L) div $perSlice")).as("ts"),
          when(col("id") % 9 < 4, pmod(h, lit(10L)))
            .otherwise(pmod(h, lit((nUsers - 10).toLong)) + 10).as("user_id"),
          element_at(array(lit("view"), lit("click"), lit("purchase")),
            (pmod(g * 40503L, lit(3L)) + 1).cast("int")).as("event_type"),
          ((pmod(g, lit(100L)) + 1) / 10.0).as("value"))
        .coalesce(1).write.mode("append").parquet(dir)
    }
  }

  /** `--x100stream` (round-7 verdict #7): the three state-carrying
    * streaming operators with REGISTERED batch twins — funnel_state
    * (funnelProgress), session_state (sessionFlush), stream_upsert
    * (upsertLatest) — driven across THREE decades of stream length
    * (10/100/1000 slices at constant rate and key population) on a
    * whale-skewed clickstream where 10 users carry ≈×400 a normal user's
    * event rate. Claims measured:
    *  - state is bounded by |keys|, not stream length: max state rows
    *    flat across all three decades (exponent ≈ 0), and the upsert
    *    table holds EXACTLY the distinct-user count at every scale;
    *  - restart survival: the 100× run is killed mid-stream (batch
    *    ~30 of ~100 ten-slice batches) and resumed from its
    *    checkpoint; the resumed
    *    run's final output must equal the uninterrupted run's EXACTLY
    *    (funnel: last state row per user; session: the exactly-once
    *    file-sink session set; upsert: the committed StateTable);
    *  - exactness against the batch twin: the funnel final state and
    *    the upsert table equal the batch-path computation over the
    *    full corpus, row for row.
    */
  def x100stream(rocksdb: Boolean = false): Unit = {
    val progress = "spark.sql.streaming.numRecentProgressUpdates" -> "4000"
    // --rocksdb (round-11 verdict #6): the 100 TB posture runs the
    // RocksDB state store, not the default in-memory HDFS-backed one —
    // same drive, same corpora, same hard requires (restart survival,
    // batch-twin equality, |keys|-bounded state). Note RocksDB's
    // numRowsTotal is an estimate (estimate-num-keys), so the printed
    // exponent may wobble where the HDFS store's is exact; the equality
    // requires are the gate.
    val rocks = "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val spark = LocalSession(LocalSession.envCpus(16),
      (if (rocksdb) Seq(progress, rocks) else Seq(progress)): _*)
    if (rocksdb) println("[x100stream] state store provider = RocksDB")
    val (perSlice, nUsers) = (20000, 5000)
    // fixed paths + _READY markers: the 1,110-slice generation is ~10 min
    // of sequential single-file writes, reused across drive invocations
    def corpus(nSlices: Int): String = {
      val dir = s"/tmp/graft_ssw_$nSlices"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/_GRAFT_READY"))) {
        println(s"generating whale-skew corpus ($nSlices slices) at $dir ...")
        genSlicesWhale(spark, dir, nSlices, perSlice, nUsers)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$dir/_GRAFT_READY"), "ok")
      }
      dir
    }
    val d1 = corpus(10); val d10 = corpus(100); val d100 = corpus(1000)

    // batch GRANULARITY is not the claim under test (the 1x/10x legs and
    // the main drive pin per-slice batching); the 100x leg groups 10
    // slices per micro-batch so every scale runs ~100 batches — state
    // bounds and restart semantics are batch-size-independent, and the
    // in-batch sort absorbs intra-batch disorder per the operators'
    // documented contract
    def fptOf(dir: String): Int = if (dir == d100) 10 else 1
    def stream(dir: String) = {
      val schema = spark.read.parquet(dir).schema
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", fptOf(dir).toString).parquet(dir)
    }
    def waitBatch(q: org.apache.spark.sql.streaming.StreamingQuery, k: Long): Unit =
      while (q.isActive && Option(q.lastProgress).forall(_.batchId < k))
        Thread.sleep(200)
    case class R(maxStateRows: Long, wallSec: Double, events: Long)
    def measure(dir: String)(start: () => org.apache.spark.sql.streaming.StreamingQuery,
        killAt: Option[Long]): R = {
      val nEvents = spark.read.parquet(dir).count()
      val t0 = System.nanoTime()
      killAt.foreach { k => val q = start(); waitBatch(q, k); q.stop() }
      val progress = StreamProbe.drain(start(), timeoutMs = 1800000)
      val wall = (System.nanoTime() - t0) / 1e9
      val states = progress.flatMap(p => Option(p.stateOperators).toSeq.flatten)
      R(if (states.isEmpty) 0L else states.map(_.numRowsTotal).max, wall, nEvents)
    }

    // --- funnel_state: update-mode keyed state, captured via foreachBatch
    def funnel(dir: String, killAt: Option[Long]): (R, DataFrame) = {
      val out = Files.createTempDirectory("graft_ssw_fun").toString + "/o"
      val ckpt = Files.createTempDirectory("graft_ssw_func").toString
      val r = measure(dir)(() =>
        Streamy.funnelProgress(stream(dir)).toDF
          .writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: DataFrame, id: Long) =>
            b.withColumn("batch_id", lit(id))
              .write.mode("append").parquet(out); ()
          }.outputMode("update").start(), killAt)
      // final row per user = the row from the last batch the user appeared
      // in (state is monotone); distinct first — foreachBatch is
      // at-least-once, so a replayed batch appends identical rows
      val fin = spark.read.parquet(out).distinct()
        .groupBy(col("user_id"))
        .agg(max(struct(col("batch_id"), col("stage"), col("t1_us"),
          col("t2_us"), col("t3_us"))).as("m"))
        .select(col("user_id"), col("m.t1_us"), col("m.t2_us"),
          col("m.t3_us"), col("m.stage"))
      (r, fin)
    }
    // --- session_state: append-mode event-time-timeout state, exactly-once
    // parquet file sink (reads back through _spark_metadata)
    def session(dir: String, killAt: Option[Long]): (R, DataFrame) = {
      val out = Files.createTempDirectory("graft_ssw_ses").toString + "/o"
      val ckpt = Files.createTempDirectory("graft_ssw_sesc").toString
      val r = measure(dir)(() =>
        Streamy.sessionFlush(stream(dir)).toDF
          .writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .format("parquet").option("path", out)
          .outputMode("append").start(), killAt)
      (r, spark.read.parquet(out))
    }
    // --- stream_upsert: no stream-side state store at all — the committed
    // StateTable IS the state; convergent under replay by construction
    def upsert(dir: String, killAt: Option[Long]): (R, DataFrame) = {
      val tbl = Files.createTempDirectory("graft_ssw_ups").toString
      val ckpt = Files.createTempDirectory("graft_ssw_upsc").toString
      val r = measure(dir)(() =>
        Streamy.upsertLatest(stream(dir), tbl)
          .option("checkpointLocation", ckpt).start(), killAt)
      val fin = new graft.ops.StateTable(spark, tbl, Seq("user_id")).read()
        .getOrElse(spark.emptyDataFrame)
      (r, fin)
    }

    def hashOf(df: DataFrame): Long = {
      val cols = df.columns.sorted.map(col)
      df.select(xxhash64(cols: _*).as("h"))
        .agg(expr("coalesce(bit_xor(h), 0)")).head().getLong(0)
    }
    def report(name: String, drive: (String, Option[Long]) => (R, DataFrame),
        batchTwin: Option[DataFrame]): Unit = {
      val (r1, _) = drive(d1, None)
      val (r10, _) = drive(d10, None)
      val (r100, f100) = drive(d100, None)
      val (_, fKill) = drive(d100, Some(30L))
      val same = hashOf(f100) == hashOf(fKill) &&
        f100.count() == fKill.count()
      require(same, s"$name: killed+resumed output diverged from uninterrupted")
      batchTwin.foreach { b =>
        require(hashOf(f100) == hashOf(b) && f100.count() == b.count(),
          s"$name: streamed output diverged from the batch twin")
      }
      val exp =
        if (r1.maxStateRows <= 0 || r100.maxStateRows <= 0) Double.NaN
        else math.log10(r100.maxStateRows.toDouble / r1.maxStateRows) / 2.0
      println(f"$name%-14s st1x=${r1.maxStateRows}%7d st10x=${r10.maxStateRows}%7d " +
        f"st100x=${r100.maxStateRows}%7d  exp/decade=$exp%5.2f  " +
        f"ev/s@100x=${r100.events / r100.wallSec}%8.0f  restart=OK" +
        (if (batchTwin.isDefined) "  batch=OK" else ""))
    }

    val static100 = spark.read.parquet(d100)
    val funnelTwin = Streamy.funnelProgress(static100).toDF
      .select(col("user_id"), col("t1_us"), col("t2_us"), col("t3_us"),
        col("stage"))
    val upsertTwin = Streamy.latestPerKey(static100
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents")))
    report("funnel_state", funnel, Some(funnelTwin))
    report("session_state", session, None)
    report("stream_upsert", upsert, Some(upsertTwin))
    // the upsert table must hold EXACTLY the distinct-user population
    val users = static100.select("user_id").distinct().count()
    println(s"distinct users at 100x = $users (upsert table bound)")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.nonEmpty && args(0) == "--x100stream") {
      x100stream(rocksdb = args.contains("--rocksdb")); return
    }
    // the 10x run produces >100 progress updates (100 data batches plus
    // watermark/timer batches); the default 100-entry retention would
    // silently truncate the max-state window to a suffix of the run
    val spark = LocalSession(LocalSession.envCpus(16),
      "spark.sql.streaming.numRecentProgressUpdates" -> "1000")
    import spark.implicits._
    val dim = (0L until 5000L).map(k => (k, s"seg_${k % 17}")).toDF("k", "seg")

    val (perSlice, nUsers) = (20000, 5000)
    def corpus(nSlices: Int): String = {
      val dir = Files.createTempDirectory(s"graft_ss_src_$nSlices").toString
      genSlices(spark, dir, nSlices, perSlice, nUsers); dir
    }
    val d1 = corpus(10)   // 200k events over 100 min of event time
    val d10 = corpus(100) // 2M events over 1000 min — same rate, same users

    println(f"${"operator"}%-18s ${"ev1x"}%8s ${"ev10x"}%9s ${"st1x"}%8s ${"st10x"}%8s ${"exp"}%6s ${"evps1x"}%9s ${"evps10x"}%9s")
    ops(dim).foreach { case (name, mode, fn) =>
      val r1 = drive(spark, d1, name, mode, fn)
      val r10 = drive(spark, d10, name, mode, fn)
      val exp =
        if (r1.maxStateRows <= 0 || r10.maxStateRows <= 0) Double.NaN
        else math.log10(r10.maxStateRows.toDouble / r1.maxStateRows) // /log10(10)=1
      println(f"$name%-18s ${r1.events}%8d ${r10.events}%9d ${r1.maxStateRows}%8d ${r10.maxStateRows}%8d $exp%6.2f ${r1.events / r1.wallSec}%9.0f ${r10.events / r10.wallSec}%9.0f")
    }
    spark.stop()
  }
}
