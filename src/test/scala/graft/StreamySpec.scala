package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.Streamy

class StreamySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def ts(s: String) = Timestamp.valueOf(s)

  def events = Seq(
    (1L, ts("2024-01-01 00:05:00"), 7L, "click", 1.0),
    (2L, ts("2024-01-01 00:55:00"), 7L, "click", 2.0),
    (3L, ts("2024-01-01 01:10:00"), 7L, "view", 4.0),
    (4L, ts("2024-01-01 03:00:00"), 8L, "click", 8.0)
  ).toDF("event_id", "ts", "user_id", "event_type", "value")

  test("tumbling 1h windows aggregate per (window, type) (T2)") {
    val out = Streamy.tumbling(events)
      .select($"wstart".cast("string"), $"event_type", $"n", $"total")
      .as[(String, String, Long, Double)].collect().toSet
    assert(out == Set(
      ("2024-01-01 00:00:00", "click", 2L, 3.0),
      ("2024-01-01 01:00:00", "view", 1L, 4.0),
      ("2024-01-01 03:00:00", "click", 1L, 8.0)))
  }

  test("sliding 1h/30m: every event lands in exactly 2 windows") {
    val out = Streamy.sliding(events)
    assert(out.agg(sum($"n")).as[Long].collect().head == events.count() * 2)
  }

  test("session windows split at >=30min inactivity (T3)") {
    // user 7: 00:05 and 00:55 are 50min apart -> 2 sessions; 00:55+01:10 are
    // 15min apart -> merged.
    val out = Streamy.sessions(events)
      .select($"sstart".cast("string"), $"user_id", $"n", $"total")
      .as[(String, Long, Long, Double)].collect().toSet
    assert(out == Set(
      ("2024-01-01 00:05:00", 7L, 1L, 1.0),
      ("2024-01-01 00:55:00", 7L, 2L, 6.0),
      ("2024-01-01 03:00:00", 8L, 1L, 8.0)))
  }

  test("runningUserTotals: custom keyed state via mapGroupsWithState") {
    val out = Streamy.runningUserTotals(events)
      .collect().map(s => s.user_id -> (s.n, s.total)).toMap
    assert(out(7L) == (3L, 7.0))
    assert(out(8L) == (1L, 8.0))
  }

  test("dedupeById drops injected duplicates on a REAL stream with bounded state") {
    val dir = Files.createTempDirectory("graft_dup").toString
    val ckpt = Files.createTempDirectory("graft_dup_ckpt").toString
    // write the events twice -> at-least-once delivery with duplicates
    events.write.mode("overwrite").parquet(dir)
    events.write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = Streamy.dedupeById(stream).writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("deduped").outputMode("append").start()
    assert(q.awaitTermination(120000), "stream did not finish in time")
    val out = spark.table("deduped")
    assert(out.count() == events.count())
    assert(out.select("event_id").distinct().count() == events.count())
  }

  test("queueDrain runs the same transform as a real AvailableNow stream (T1)") {
    val dir = Files.createTempDirectory("graft_queue").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    events.write.mode("overwrite").parquet(dir)
    // complete mode: append would hold back the last window still inside
    // the watermark (correct streaming behavior, but here we want the drain)
    val query = Streamy.queueDrain(spark, dir, ckpt)(df =>
      Streamy.tumbling(df)).format("memory").queryName("drained")
      .outputMode("complete").start()
    query.awaitTermination(60000)
    val drained = spark.table("drained")
    assert(drained.count() == 3) // same 3 windows as the batch test
  }

  test("cold queue drain: explicit schema makes the first empty tick a no-op") {
    val dir = Files.createTempDirectory("graft_queue").resolve("not_yet").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val query = Streamy.queueDrain(spark, dir, ckpt, events.schema)(df =>
      Streamy.tumbling(df)).format("memory").queryName("cold_drained")
      .outputMode("complete").start()
    query.awaitTermination(60000)
    assert(spark.table("cold_drained").count() == 0)
    // without a schema, a cold queue must fail loudly, not mysteriously
    intercept[IllegalArgumentException] {
      Streamy.queueDrain(spark,
        Files.createTempDirectory("graft_queue2").toString, ckpt)(identity)
    }
  }

  test("intervalJoin: REAL stream-stream join matches the batch range join") {
    // batch truth: user 7 pairs 1→2 (50min) and 2→3 (15min); 1→3 is 65min
    // (outside the hour); user 8 has a single event
    val expected = Set(
      (7L, 1L, 2L, "click", 3000000000L),
      (7L, 2L, 3L, "view", 900000000L))
    val batch = Streamy.intervalJoin(events, events)
      .as[(Long, Long, Long, String, Long)].collect().toSet
    assert(batch == expected)

    val dir = Files.createTempDirectory("graft_ij").toString
    val ckpt = Files.createTempDirectory("graft_ij_ckpt").toString
    events.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    def stream = spark.readStream.schema(schema).parquet(dir)
    // inner stream-stream join: matches emit as they arrive; the watermark +
    // interval condition only bound the buffered state
    val q = Streamy.intervalJoin(stream, stream).writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("ij").outputMode("append").start()
    assert(q.awaitTermination(120000), "stream did not finish in time")
    val streamed = spark.table("ij")
      .as[(Long, Long, Long, String, Long)].collect().toSet
    assert(streamed == expected)
  }

  test("sessionFlush: sessions span REAL micro-batches; watermark timeout flushes idle users (T8)") {
    def ev(id: Long, u: Long, t: String, v: Double) =
      (id, u, "view", java.sql.Timestamp.valueOf(t), v)
    // batch 1: u7 opens a session; u9 has a lone event (will time out).
    // batch 2: u7 CONTINUES the same session (00:20, within the gap,
    // across the batch boundary), then opens a second one at 01:30;
    // u8's 04:00 event advances the watermark to 03:30, which passes
    // last+gap for u9 (00:35) and u7's second session (02:00) -> both
    // flush by TIMEOUT; u8's own session (04:30 > 03:30) stays open
    // and must NOT be emitted.
    val batch1 = Seq(
      ev(1, 7, "2024-01-01 00:00:00", 1.0),
      ev(2, 7, "2024-01-01 00:10:00", 2.0),
      ev(3, 9, "2024-01-01 00:05:00", 5.0))
    val batch2 = Seq(
      ev(4, 7, "2024-01-01 00:20:00", 0.5),
      ev(5, 7, "2024-01-01 01:30:00", 4.0),
      ev(6, 8, "2024-01-01 04:00:00", 9.0))
    val cols = Seq("event_id", "user_id", "event_type", "ts", "value")
    val dir = Files.createTempDirectory("graft_sess").toString
    val ckpt = Files.createTempDirectory("graft_sess_ckpt").toString
    batch1.toDF(cols: _*).coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(1100) // distinct mtimes => deterministic file order
    batch2.toDF(cols: _*).coalesce(1).write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streamy.sessionFlush(stream).toDF().writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("sess").outputMode("append").start()
    assert(q.awaitTermination(120000), "stream did not finish in time")
    def us(t: String) = java.sql.Timestamp.valueOf(t).getTime * 1000L
    val streamed = spark.table("sess")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed == Set(
      (7L, us("2024-01-01 00:00:00"), us("2024-01-01 00:20:00"), 3L, 350L),
      (7L, us("2024-01-01 01:30:00"), us("2024-01-01 01:30:00"), 1L, 400L),
      (9L, us("2024-01-01 00:05:00"), us("2024-01-01 00:05:00"), 1L, 500L)))
    // batch path on the same union flushes EVERYTHING incl. open sessions
    val all = (batch1 ++ batch2).toDF(cols: _*)
    val batch = Streamy.sessionFlush(all).toDF()
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(batch == streamed +
      ((8L, us("2024-01-01 04:00:00"), us("2024-01-01 04:00:00"), 1L, 900L)))
  }

  test("sessionFlush: late-but-admissible event merges conservatively, never inverts (T8)") {
    def ev(id: Long, u: Long, t: String, v: Double) =
      (id, u, "view", java.sql.Timestamp.valueOf(t), v)
    // batch 1: u7 at 10:00 -> watermark 09:30. batch 2: u7 at 09:50 —
    // LATE but above the watermark, so it is admitted and lands BEFORE
    // the open session's tail; then 10:25 (25 min after the tail) must
    // MERGE, not split against the out-of-order predecessor. u8's 12:00
    // advances the watermark to 11:30, timing out u7's session.
    val batch1 = Seq(ev(1, 7, "2024-01-01 10:00:00", 1.0))
    val batch2 = Seq(
      ev(2, 7, "2024-01-01 09:50:00", 2.0),
      ev(3, 7, "2024-01-01 10:25:00", 4.0),
      ev(4, 8, "2024-01-01 12:00:00", 9.0))
    val cols = Seq("event_id", "user_id", "event_type", "ts", "value")
    val dir = Files.createTempDirectory("graft_sess_late").toString
    val ckpt = Files.createTempDirectory("graft_sess_late_ckpt").toString
    batch1.toDF(cols: _*).coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(1100)
    batch2.toDF(cols: _*).coalesce(1).write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streamy.sessionFlush(stream).toDF().writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("sess_late").outputMode("append").start()
    assert(q.awaitTermination(120000), "stream did not finish in time")
    def us(t: String) = java.sql.Timestamp.valueOf(t).getTime * 1000L
    val streamed = spark.table("sess_late")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed == Set(
      (7L, us("2024-01-01 09:50:00"), us("2024-01-01 10:25:00"), 3L, 700L)))
    streamed.foreach { case (_, s, e, _, _) => assert(s <= e, "inverted interval") }
  }

  test("enrich: stream-static broadcast join on a REAL stream matches batch (T9)") {
    val dim = Seq((7L, "ALPHA"), (8L, "BETA")).toDF("k", "zone")
    val evs = Seq(
      (1L, 7L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      (2L, 8L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 2.0),
      (3L, 9L, java.sql.Timestamp.valueOf("2024-01-01 00:20:00"), 3.0)) // no dim row
      .toDF("event_id", "user_id", "ts", "value")
    val expected = Set((1L, "ALPHA"), (2L, "BETA"), (3L, null: String))
    val batch = Streamy.enrich(evs, dim, "user_id", "k")
      .select($"event_id", $"zone").as[(Long, String)].collect().toSet
    assert(batch == expected)
    val dir = Files.createTempDirectory("graft_enrich").toString
    val ckpt = Files.createTempDirectory("graft_enrich_ckpt").toString
    evs.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = Streamy.enrich(stream, dim, "user_id", "k")
      .select($"event_id", $"zone").writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("enrich").outputMode("append").start()
    assert(q.awaitTermination(120000), "stream did not finish in time")
    val streamed = spark.table("enrich").as[(Long, String)].collect().toSet
    assert(streamed == expected)
  }

  test("windowTopk: REAL-stream counts + sink finalize equals the one-plan batch run (T10)") {
    // enough volume that ranks are non-trivial per hour; three types with
    // skewed frequencies and a tie pair to exercise the (n desc, key asc)
    // tiebreak
    val rows = (0 until 600).map { i =>
      val typ = if (i % 6 < 3) "view" else if (i % 6 < 5) "click" else "buy"
      (i.toLong, new Timestamp(1704067200000L + i.toLong * 30 * 1000),
        (i % 7).toLong, typ, 1.0)
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = Files.createTempDirectory("graft_topk").toString
    val ckpt = Files.createTempDirectory("graft_topk_ckpt").toString
    df.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = Streamy.windowCounts(stream).writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("topk_counts").outputMode("complete").start()
    assert(q.awaitTermination(120000), "stream did not finish in time")
    val streamed = Streamy.windowTopk(spark.table("topk_counts"))
      .orderBy("wstart", "rk")
      .as[(Timestamp, String, Long, Long)].collect().toSeq
    val batch = Streamy.windowTopk(Streamy.windowCounts(df))
      .orderBy("wstart", "rk")
      .as[(Timestamp, String, Long, Long)].collect().toSeq
    assert(streamed == batch && streamed.nonEmpty)
    streamed.groupBy(_._1).foreach { case (w, g) =>
      assert(g.map(_._4) == (1L to g.length), s"window $w ranks not dense")
      assert(g.sortBy(r => (-r._3, r._2)).map(_._4) == g.map(_._4),
        s"window $w tiebreak violated")
    }
  }

  test("driftSketch on a REAL stream: sketches honor their error bounds vs exact") {
    // two epoch-aligned weeks of synthetic events; sketch values from the
    // STREAMING run are checked against exact Scala recomputes under the
    // operators' own contracts (rank error <= n/accuracy; HLL within
    // 3*rsd) — stream/batch sketch equality is NOT required (merge order
    // differs), the contract is what must hold on both paths
    val rows = (0 until 4000).map { i =>
      (i.toLong, new Timestamp(1704067200000L + i.toLong * 5 * 60 * 1000),
        (i % 97).toLong, "view", (i % 1000).toDouble)
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = Files.createTempDirectory("graft_drift").toString
    val ckpt = Files.createTempDirectory("graft_drift_ckpt").toString
    df.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = Streamy.driftSketch(stream, accuracy = 1000, rsd = 0.05).writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("drift").outputMode("complete").start()
    assert(q.awaitTermination(120000), "stream did not finish in time")
    val got = spark.table("drift")
      .as[(Timestamp, Long, Double, Double, Long)].collect()
      .map(r => (r._1.getTime / 1000 / 604800, r)).toMap
    val byWeek = rows.groupBy(_._2.getTime / 1000 / 604800)
    assert(got.keySet == byWeek.keySet, "every week window must emit")
    for ((wk, es) <- byWeek) {
      val (_, n, p50, p95, uniq) = got(wk)
      val vs = es.map(_._5).sorted
      assert(n == es.size)
      for ((sk, p) <- Seq(p50 -> 0.5, p95 -> 0.95)) {
        val rank = vs.count(_ <= sk).toDouble
        assert(math.abs(rank - p * n) <= n / 1000.0 + 1,
          s"week $wk p=$p: rank $rank vs ${p * n}")
      }
      val exactU = es.map(_._3).distinct.size
      assert(math.abs(uniq - exactU) <= 3 * 0.05 * exactU + 1,
        s"week $wk HLL $uniq vs $exactU")
    }
  }

  test("enrich rejects dim columns that clash with event columns") {
    val dim = Seq((7L, 1.0)).toDF("k", "value") // `value` exists on the event side
    val evs = Seq((1L, 7L, 2.0)).toDF("event_id", "user_id", "value")
    val e = intercept[IllegalArgumentException] {
      Streamy.enrich(evs, dim, "user_id", "k")
    }
    assert(e.getMessage.contains("value"))
  }

  test("funnelProgress: state carries across REAL micro-batches (T7)") {
    import org.apache.spark.sql.functions._
    // batch 1: user 7 views; batch 2 (later files): clicks then purchases.
    // A single-batch run could pass without any cross-batch state, so the
    // stages are SPLIT across files and maxFilesPerTrigger=1 forces one
    // file per micro-batch.
    def ev(id: Long, u: Long, tpe: String, t: String) =
      (id, u, tpe, java.sql.Timestamp.valueOf(t))
    val batch1 = Seq(
      ev(1, 7, "view", "2024-01-01 00:00:00"),
      ev(2, 8, "click", "2024-01-01 00:10:00")) // click before any view
    val batch2 = Seq(
      ev(3, 7, "click", "2024-01-01 01:00:00"),
      ev(4, 7, "purchase", "2024-01-01 02:00:00"),
      ev(5, 8, "view", "2024-01-01 01:00:00"))
    val dir = Files.createTempDirectory("graft_funnel").toString
    val ckpt = Files.createTempDirectory("graft_funnel_ckpt").toString
    batch1.toDF("event_id", "user_id", "event_type", "ts")
      .coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(1100) // distinct mtimes => deterministic file order
    batch2.toDF("event_id", "user_id", "event_type", "ts")
      .coalesce(1).write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = Streamy.funnelProgress(stream).toDF().writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("funnel").outputMode("update").start()
    assert(q.awaitTermination(120000), "stream did not finish in time")
    // update mode emits a refreshed row per user per batch; the final
    // state per user is the max-stage row
    val finalState = spark.table("funnel")
      .groupBy("user_id").agg(max("stage").as("stage"))
      .as[(Long, Int)].collect().toMap
    // user 7 progressed view(b1) -> click+purchase(b2) ACROSS batches;
    // user 8's click arrived before their view and must not count
    assert(finalState == Map(7L -> 3, 8L -> 1))
    // and the batch path matches Analytics.funnel exactly on the union
    val all = (batch1 ++ batch2).toDF("event_id", "user_id", "event_type", "ts")
    val fsm = Streamy.funnelProgress(all).toDF()
      .filter($"t1_us".isNotNull)
      .select($"user_id", $"t1_us", $"t2_us", $"t3_us", $"stage")
      .collect().map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3), r.getInt(4))).toSet
    val decl = graft.ops.Analytics.funnel(all, Seq("view", "click", "purchase"))
      .select($"user_id", unix_micros($"t1"), unix_micros($"t2"),
        unix_micros($"t3"), $"stage")
      .collect().map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3), r.getInt(4))).toSet
    assert(fsm == decl)
  }

  test("upsertLatest maintains a newest-wins StateTable on a REAL stream; " +
    "duplicate delivery and full replay converge (T11)") {
    val dir = Files.createTempDirectory("graft_ups").toString
    val ckpt = Files.createTempDirectory("graft_ups_ckpt").toString
    val tableDir = Files.createTempDirectory("graft_ups_tbl").toString
    // at-least-once delivery: every event lands twice
    events.write.mode("overwrite").parquet(dir)
    events.write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val q = Streamy.upsertLatest(
        spark.readStream.schema(schema).parquet(dir), tableDir)
      .option("checkpointLocation", ckpt).start()
    assert(q.awaitTermination(120000), "stream did not finish in time")
    val st = new graft.ops.StateTable(spark, tableDir, Seq("user_id"))
    def snap = st.read().get
      .select($"user_id", $"us", $"event_id", $"cents")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val want = Streamy.latestPerKey(events.select($"user_id", $"event_id",
        unix_micros($"ts").as("us"),
        floor($"value" * 100 + 0.5).cast("long").as("cents")))
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(snap == want && want.nonEmpty)
    // full redelivery under a FRESH checkpoint (complete replay): state
    // convergence means the committed rows do not change
    val ckpt2 = Files.createTempDirectory("graft_ups_ckpt2").toString
    val q2 = Streamy.upsertLatest(
        spark.readStream.schema(schema).parquet(dir), tableDir)
      .option("checkpointLocation", ckpt2).start()
    assert(q2.awaitTermination(120000), "replay stream did not finish in time")
    assert(snap == want, "full replay must be a no-op on the table rows")
  }

  test("dedupeById: stop + restart from the SAME checkpoint recovers the " +
    "seen-id store and the file-sink manifest stays exactly-once") {
    // Cluster failure mode: the driver dies between two stretches of the
    // stream. Restarting from the checkpoint must (a) not reprocess
    // committed input (source offsets), (b) still DROP duplicates of ids
    // seen before the restart (state store), (c) not double-commit output
    // (file-sink manifest). The memory sink cannot recover a checkpoint in
    // append mode, so this runs against the fault-tolerant parquet sink —
    // the sink a real cluster job would use.
    val dir = Files.createTempDirectory("graft_rst_dd").toString
    val ckpt = Files.createTempDirectory("graft_rst_dd_ckpt").toString
    val out = Files.createTempDirectory("graft_rst_dd_out").toString
    val schema = events.schema
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(dir)
      val q = Streamy.dedupeById(stream).writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out)
        .outputMode("append").start()
      assert(q.awaitTermination(120000), "stream did not finish in time")
    }
    // stretch 1: ids 1-4 (watermark advances to 03:00 - 1h = 02:00)
    events.coalesce(1).write.mode("append").parquet(dir)
    runOnce()
    assert(spark.read.parquet(out).count() == 4)
    // ---- simulated crash: the query object is gone; only ckpt survives ----
    // stretch 2: redeliver id 4 (ts 03:00 — INSIDE the recovered watermark,
    // so only the recovered state store can drop it) plus redeliver ids
    // 1-2 (below the watermark — dropped as late) plus genuinely new 5, 6
    val batch2 = Seq(
      (4L, ts("2024-01-01 03:00:00"), 8L, "click", 8.0),
      (1L, ts("2024-01-01 00:05:00"), 7L, "click", 1.0),
      (2L, ts("2024-01-01 00:55:00"), 7L, "click", 2.0),
      (5L, ts("2024-01-01 03:10:00"), 9L, "view", 5.0),
      (6L, ts("2024-01-01 03:20:00"), 9L, "buy", 6.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    Thread.sleep(1100) // distinct mtimes => deterministic file order
    batch2.coalesce(1).write.mode("append").parquet(dir)
    runOnce()
    val ids = spark.read.parquet(out).select("event_id")
      .as[Long].collect().toSeq.sorted
    assert(ids == Seq(1L, 2L, 3L, 4L, 5L, 6L),
      s"restart must drop redelivered ids via recovered state and commit " +
        s"each id exactly once, got $ids")
  }

  test("sessionFlush: a session OPEN across a stop/restart boundary merges " +
    "via the recovered FSM state and flushes exactly once") {
    def ev(id: Long, u: Long, t: String, v: Double) =
      (id, u, "view", java.sql.Timestamp.valueOf(t), v)
    val cols = Seq("event_id", "user_id", "event_type", "ts", "value")
    val dir = Files.createTempDirectory("graft_rst_sess").toString
    val ckpt = Files.createTempDirectory("graft_rst_sess_ckpt").toString
    val out = Files.createTempDirectory("graft_rst_sess_out").toString
    def runOnce(): Unit = {
      val schema = spark.read.parquet(dir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val q = Streamy.sessionFlush(stream).toDF().writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out)
        .outputMode("append").start()
      assert(q.awaitTermination(120000), "stream did not finish in time")
    }
    // stretch 1: u7 opens a session (00:00, 00:10); nothing can flush yet
    Seq(ev(1, 7, "2024-01-01 00:00:00", 1.0),
        ev(2, 7, "2024-01-01 00:10:00", 2.0))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(dir)
    runOnce()
    assert(spark.read.parquet(out).count() == 0,
      "no watermark has passed — nothing may flush before the crash")
    // ---- crash/restart: u7's OPEN session lives only in the state store ----
    // stretch 2: u7 continues the SAME session at 00:20 (within the 30-min
    // gap of the pre-restart tail); u8's 04:00 event advances the
    // watermark past u7's last+gap and times the session out
    Thread.sleep(1100)
    Seq(ev(3, 7, "2024-01-01 00:20:00", 0.5),
        ev(4, 8, "2024-01-01 04:00:00", 9.0))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(dir)
    runOnce()
    def us(t: String) = java.sql.Timestamp.valueOf(t).getTime * 1000L
    val got = spark.read.parquet(out)
      .select("user_id", "sstart_us", "send_us", "n", "cents")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (7L, us("2024-01-01 00:00:00"), us("2024-01-01 00:20:00"), 3L, 350L)),
      s"the pre-restart half-session must merge with the post-restart " +
        s"event into ONE flushed session, got $got")
  }

  test("funnelProgress: FSM stage survives a stop/restart (stage-1 state " +
    "recovered from the checkpoint drives post-restart progression)") {
    def ev(id: Long, u: Long, tpe: String, t: String) =
      (id, u, tpe, java.sql.Timestamp.valueOf(t))
    val cols = Seq("event_id", "user_id", "event_type", "ts")
    val dir = Files.createTempDirectory("graft_rst_fun").toString
    val ckpt = Files.createTempDirectory("graft_rst_fun_ckpt").toString
    val sink = new scala.collection.mutable.ArrayBuffer[(Long, Int)]()
    // explicit function value: Scala 2.13 cannot disambiguate the
    // Scala/Java foreachBatch overloads on a bare lambda
    val eat: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, _) => {
      val rows = b.select("user_id", "stage")
        .collect().map(r => (r.getLong(0), r.getInt(1)))
      sink.synchronized { sink ++= rows }
    }
    def runOnce(): Unit = {
      val schema = spark.read.parquet(dir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val q = Streamy.funnelProgress(stream).toDF().writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch(eat).start()
      assert(q.awaitTermination(120000), "stream did not finish in time")
    }
    // stretch 1: u7 views (stage 1); u8 clicks with no prior view (stage 0)
    Seq(ev(1, 7, "view", "2024-01-01 00:00:00"),
        ev(2, 8, "click", "2024-01-01 00:10:00"))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(dir)
    runOnce()
    // ---- crash/restart: u7's stage-1 progress lives only in state ----
    sink.clear() // only post-restart emissions decide the assertion
    Thread.sleep(1100)
    Seq(ev(3, 7, "click", "2024-01-01 01:00:00"),
        ev(4, 7, "purchase", "2024-01-01 02:00:00"),
        ev(5, 8, "view", "2024-01-01 01:00:00"))
      .toDF(cols: _*).coalesce(1).write.mode("append").parquet(dir)
    runOnce()
    val finalStage = sink.groupBy(_._1).map { case (u, g) => u -> g.map(_._2).max }
    // u7 reaching stage 3 REQUIRES the recovered stage-1 state: without it
    // the post-restart click has no prior view and would not advance
    assert(finalStage == Map(7L -> 3, 8L -> 1),
      s"funnel state must survive the restart, got $finalStage")
  }

  test("state stores are bounded by watermark/keys, not stream LENGTH: " +
    "4x more stream, flat state (the SCALE.md streaming claim, pinned)") {
    // Constant arrival rate and user cardinality; the only thing that
    // grows is how LONG the stream runs. A state store bounded by
    // (rate x watermark) or |keys| stays flat; one that accumulates
    // history grows 4x. DriveStreamScale is the 10x measured version of
    // this pin at 2M events.
    val nUsers = 40
    def slices(n: Int): String = {
      val dir = Files.createTempDirectory(s"graft_sb_$n").toString
      (0 until n).foreach { s =>
        val rows = (0 until 120).map { j =>
          val g = s.toLong * 120 + j
          val ts = new java.sql.Timestamp(1704067200000L + s * 600000L + j * 5000L)
          (g, ts, (g * 7) % nUsers, if (g % 3 == 0) "view" else "click",
            (g % 9).toDouble)
        }.toDF("event_id", "ts", "user_id", "event_type", "value")
        rows.coalesce(1).write.mode("append").parquet(dir)
        Thread.sleep(20) // distinct mtimes => deterministic file order
      }
      dir
    }
    def maxState(dir: String, mode: String,
        f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Long = {
      val ckpt = Files.createTempDirectory("graft_sb_ckpt").toString
      val schema = spark.read.parquet(dir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val q = f(stream).writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .format("noop").outputMode(mode).start()
      // StreamProbe, not a bare awaitTermination: ProcessingTimeTimeout
      // operators never self-terminate under AvailableNow
      val st = StreamProbe.drain(q, 300000)
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      if (st.isEmpty) 0L else st.map(_.numRowsTotal).max
    }
    val (d1, d4) = (slices(6), slices(24)) // 60 vs 240 min at equal rate
    // dedupe with a 10-min watermark: state = ids inside the watermark
    // window — saturates after ~2 slices, then FLAT
    val dd1 = maxState(d1, "append", df => Streamy.dedupeById(df, watermark = "10 minutes"))
    val dd4 = maxState(d4, "append", df => Streamy.dedupeById(df, watermark = "10 minutes"))
    assert(dd1 > 0 && dd4 <= (dd1 * 3) / 2,
      s"dedupe state must not grow with stream length: $dd1 -> $dd4")
    assert(dd4 < 24 * 120 / 2, s"dedupe state must be far below total ids, got $dd4")
    // session FSM (event-time timeout): state = users with an OPEN session
    val sf1 = maxState(d1, "append", df => Streamy.sessionFlush(df).toDF)
    val sf4 = maxState(d4, "append", df => Streamy.sessionFlush(df).toDF)
    assert(sf1 > 0 && sf4 <= nUsers && sf4 <= (sf1 * 3) / 2,
      s"session state must stay |active users|-bounded: $sf1 -> $sf4")
    // running totals (keyed accumulator): state = |users|, never |events|
    val rt1 = maxState(d1, "update", df => Streamy.runningUserTotals(df).toDF)
    val rt4 = maxState(d4, "update", df => Streamy.runningUserTotals(df).toDF)
    assert(rt1 == nUsers && rt4 == nUsers,
      s"running-total state must equal |users|: $rt1 / $rt4 vs $nUsers")
  }

  test("sessionFlush property: random event-time-ordered slice streams — " +
    "closed sessions ⊆ batch, and everything past the watermark tail " +
    "flushed (T8)") {
    // The fixed-fixture T8 tests pin chosen boundary scenarios; this one
    // checks the FSM's stream/batch contract under arbitrary session
    // shapes and arbitrary micro-batch boundaries. Slices are contiguous
    // in event time (no late data by construction), so:
    //   (1) every streamed session must appear in the batch run verbatim;
    //   (2) every batch session whose last event sits clearly more than
    //       2·gap before the final event time MUST have been flushed by
    //       event-time timeout (watermark = maxTs − gap; timeout at
    //       last + gap; 2 ms slack absorbs the engine's ms rounding).
    val gapUs = 30L * 60 * 1000000
    val cols = Seq("event_id", "user_id", "event_type", "ts", "value")
    for (seed <- 0 until 4) {
      val rnd = new scala.util.Random(4200 + seed)
      val nUsers = 4 + rnd.nextInt(4)
      val n = 80 + rnd.nextInt(80)
      var ms = Timestamp.valueOf("2024-03-01 00:00:00").getTime
      val evs = (1 to n).map { i =>
        // 1..40-minute steps with an odd-second excess: per-user gaps sum
        // several steps, so both continuations and >gap splits occur, and
        // nothing aligns exactly on the 30-min boundary
        ms += (61L + rnd.nextInt(2400)) * 1000L
        (i.toLong, (1 + rnd.nextInt(nUsers)).toLong, "view",
          new Timestamp(ms), (rnd.nextInt(100) + 1) / 10.0)
      }
      val dir = Files.createTempDirectory(s"graft_sprop$seed").toString
      val k = 3 + rnd.nextInt(4)
      val bounds = ((0 until k - 1).map(_ => rnd.nextInt(n)).sorted :+ n)
      var lo = 0
      bounds.zipWithIndex.foreach { case (hi, i) =>
        val slice = evs.slice(lo, hi); lo = hi
        if (slice.nonEmpty) {
          // single part file per slice with an EXPLICIT ascending mtime —
          // the file source replays oldest-first, so slice order (and
          // therefore the cross-batch event-time ordering contract) is
          // deterministic rather than riding write-timing luck
          val tmp = Files.createTempDirectory("graft_sprop_t").toString
          slice.toDF(cols.map(identity): _*).coalesce(1)
            .write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .filter(_.getName.startsWith("part-")).head
          val dest = new java.io.File(dir, f"slice$i%03d.parquet")
          Files.move(part.toPath, dest.toPath)
          assert(dest.setLastModified(1704067200000L + i * 60000L))
        }
      }
      val ckpt = Files.createTempDirectory(s"graft_sprop_ck$seed").toString
      val schema = spark.read.parquet(dir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
      val q = Streamy.sessionFlush(stream).toDF().writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .format("memory").queryName(s"sprop$seed").outputMode("append").start()
      assert(q.awaitTermination(120000), s"seed $seed: stream did not finish")
      val streamed = spark.table(s"sprop$seed")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val batch = Streamy.sessionFlush(evs.toDF(cols.map(identity): _*)).toDF()
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(streamed.subsetOf(batch),
        s"seed $seed: streamed sessions not in batch: ${streamed.diff(batch)}")
      val maxUs = evs.last._4.getTime * 1000L
      val mustFlush = batch.filter(_._3 + 2 * gapUs < maxUs - 2000L)
      assert(mustFlush.subsetOf(streamed),
        s"seed $seed: sessions past the watermark tail not flushed: " +
          s"${mustFlush.diff(streamed)}")
    }
  }
}
