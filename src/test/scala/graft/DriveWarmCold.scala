package graft

/** Scratch main: run one query K times in a single JVM and decompose
  * each pass — wall, summed task run/GC time, shuffle bytes, memory and
  * disk SPILL, and the scratch-disk free-space delta — the instrumented
  * pass the round-15 verdict asked for on dedup_lines' decade-4
  * warm-slower-than-cold inversion (cold 136.3 s vs warm 178.3 s).
  * Per-run stage metrics isolate WHERE a repeat pass pays: JVM heap
  * aging (GC leg), shuffle-file cleanup contention (disk delta), or
  * spill (the unified pool held by the previous pass's leftovers). */
object DriveWarmCold {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/tmp/graft_scale10000doc"
    val q = if (args.length > 1) args(1) else "dedup_lines"
    val k = if (args.length > 2) args(2).toInt else 3
    val shufP = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "512")
    val s = LocalSession(32, "spark.sql.shuffle.partitions" -> shufP)
    val stats = JobStats.attach(s)
    val tmp = new java.io.File("/tmp")
    (1 to k).foreach { pass =>
      if (pass > 1) {
        // Reclaim the previous pass's shuffle/spill files BEFORE timing
        // the next: ContextCleaner only deletes them when the driver-side
        // shuffle refs are GC'd, and with a large heap that lags whole
        // passes — measured root cause of the round-15 decade-4
        // "warm slower than cold" inversion (the warm pass ran against a
        // near-full scratch disk; this round it hit ENOSPC outright).
        System.gc()
        Thread.sleep(3000)
      }
      val freeBefore = tmp.getUsableSpace
      val (wall, t) = stats.measure(DriveProfile.seconds(
        DriveProfile.benchAction(SparkEntry.queries(q)(s, d))))
      val freeAfter = tmp.getUsableSpace
      println(f"pass $pass wall=$wall%7.1f s taskRun=${t.taskMs / 1000.0}%8.1f s" +
        f" gc=${t.gcMs / 1000.0}%7.1f s spillMem=${t.spillMemBytes / 1e9}%6.2f GB" +
        f" spillDisk=${t.spillDiskBytes / 1e9}%6.2f GB" +
        f" tmpFreeDelta=${(freeAfter - freeBefore) / 1e9}%+7.2f GB")
      t.stageRows.filter(_.runMs > 5000).foreach { a =>
        println(f"  stage ${a.id}%4d run=${a.runMs / 1000.0}%8.1f s gc=${a.gcMs / 1000.0}%6.1f s" +
          f" tasks=${a.tasks}%4d in=${a.inputRecords}%12d sh_r=${a.shuffleReadRecords}%12d" +
          f" sh_w=${a.shuffleWriteRecords}%12d spD=${a.spillDiskBytes / 1e9}%5.1f GB  ${a.name.take(60)}")
      }
    }
    s.stop()
  }
}
