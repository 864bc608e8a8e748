package graft

import org.apache.spark.sql.functions._
import graft.ops.{Queue, StateTable, Tables}

/** Manual drive: persistent queue state over real orders data, plus the
  * `--x100state` tier measuring commit cost vs live-state size (round-9
  * verdict #6): every [[StateTable.commit]] rewrites the full snapshot, so
  * a per-tick ~10²-row delta against a 10⁶-row live table pays O(state)
  * write cost per tick. The tier measures whether that matters at
  * queue-metadata grain before any partitioning machinery is added.
  */
object DriveStateTable {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--x100state")) {
      // --deep: the decade-4 spot check (10⁷ live rows — the point
      // SCALE.md's adjudication says the status-partitioned-snapshot
      // upgrade path would trigger; round-11 verdict #8 wants the
      // exponent INTO that decade measured before calling it closed)
      x100state(deep = args.contains("--deep")); return
    }
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("ERROR")
    val t = new StateTable(s,
      java.nio.file.Files.createTempDirectory("qstate").toString, Seq("id"))
    val q = Tables.orders(s, "/root/testdata/sf0.001").select(
      col("o_orderkey").as("id"),
      when(col("o_orderstatus") === "O", 0).otherwise(1).as("status"),
      (lit(6) - substring(col("o_orderpriority"), 1, 1).cast("int")).as("priority"),
      unix_timestamp(col("o_orderdate")).as("submit_time"))
    t.upsert(q)                                     // initial enqueue
    t.upsert(q.withColumn("status", lit(0)))        // re-enqueue: must not clobber
    val head = Queue.poll(t.read().get, 0, 3).collect()
    println("VERSIONS=" + t.versions.mkString(","))
    println("HEAD=" + head.map(_.getLong(0)).mkString(","))
    t.update(df => df.withColumn("status",
      when(col("id") === head.head.getLong(0), 2).otherwise(col("status"))))
    println("PROCESSING=" + t.read().get.filter(col("status") === 2).count())
    s.stop()
  }

  /** Commit cost vs live-state size across three decades (10⁴ → 10⁵ →
    * 10⁶ rows) at a fixed per-tick delta of 100 upserted rows — the
    * realistic queue shape (in-flight metadata grows, tick work doesn't).
    * Each tick = one upsert = read current snapshot + MERGE + full
    * snapshot rewrite + pointer swap, all under the writer lease. A
    * vacuum rides along each tick (the Engine's discipline) so version
    * dirs don't accumulate into the measurement. The printed
    * `tick_commit_s` is the mean of `ticks` measured ticks after one
    * unmeasured warm tick; the decade exponent is
    * log10(t(n·10)/t(n)). */
  def x100state(deep: Boolean = false): Unit = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("ERROR")
    val delta = 100
    val ticks = 6
    def stateFrame(from: Long, until: Long) =
      s.range(from, until).select(
        col("id"),
        lit(0).as("status"),
        (col("id") % 5).cast("int").as("priority"),
        (lit(1700000000L) + col("id") % 86400).as("submit_time"),
        sha2(col("id").cast("string"), 256).as("request_hash"))
    val sizes = if (deep) Seq(10000L, 100000L, 1000000L, 10000000L)
      else Seq(10000L, 100000L, 1000000L)
    val results = sizes.map { n =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"x100state_$n").toString
      val t = new StateTable(s, dir, Seq("id"))
      t.commit(stateFrame(0L, n).repartition(
        math.max(1, (n / 250000L).toInt)))
      // one warm tick (JIT + committer init), then `ticks` measured
      t.upsert(stateFrame(n, n + delta)); t.vacuum(keep = 2)
      val t0 = System.nanoTime()
      (1 to ticks).foreach { k =>
        t.upsert(stateFrame(n + k * delta, n + (k + 1) * delta))
        t.vacuum(keep = 2)
      }
      val sec = (System.nanoTime() - t0) / 1e9 / ticks
      val rows = t.read().get.count()
      println(f"STATE n=$n%8d tick_commit_s=$sec%7.3f live_rows=$rows%8d " +
        f"versions_kept=${t.versions.size}%d")
      (n, sec)
    }
    results.sliding(2).foreach {
      case Seq((n1, s1), (n2, s2)) =>
        val e = math.log(s2 / s1) / math.log(n2.toDouble / n1)
        println(f"exp[${n1}->${n2}] = $e%5.2f")
      case _ =>
    }
    s.stop()
  }
}
