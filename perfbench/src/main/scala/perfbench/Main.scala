package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one run measured, written as raw facts (samples, counts, spans,
  * jobs); the launcher turns them into the reported metrics. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
    val dir: String, val tracer: Tracer) {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val values = mutable.LinkedHashMap.empty[String, Any]
  private val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var firstTimedUs = 0L
  var timedEndUs = 0L

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def set(name: String, v: Any): Unit = values(name) = v
  def add(name: String, v: Double): Unit =
    values(name) = values.get(name).map(_.asInstanceOf[Double]).getOrElse(0.0) + v

  /** One attempted operation that must satisfy `ok`; a throw or a false
    * result counts as failed, with `what` as the reason. */
  def check(what: => String)(ok: => Boolean): Boolean = {
    attempted += 1
    val passed = try ok catch {
      case scala.util.control.NonFatal(e) =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); return false
    }
    if (!passed) fail(what)
    passed
  }
  def fail(msg: String): Unit = {
    System.err.println(s"[perfbench] FAILED: $msg")
    if (failures.size < 50) failures += msg
    failed += 1
  }

  /** Runs one set-up or check phase, recording its wall time. */
  def phase[T](name: String)(f: => T): T = {
    val t0 = Clock.nowUs
    try f finally set(s"phase.${name}_s", (Clock.nowUs - t0) / 1e6)
  }

  /** Seconds since the first timed call. */
  def elapsed: Double = (Clock.nowUs - firstTimedUs) / 1e6
  def startTimed(): Unit = firstTimedUs = Clock.nowUs
  def endTimed(): Unit = timedEndUs = Clock.nowUs

  def toJson: java.util.Map[String, Any] = {
    val (spans, jobs) = tracer.dump()
    Json.obj("workload" -> workload, "seed" -> seed, "traced" -> tracer.enabled,
      "first_timed_us" -> firstTimedUs, "timed_end_us" -> timedEndUs,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "samples" -> samples.map { case (k, v) => k -> v.toSeq },
      "values" -> values, "spans" -> spans, "jobs" -> jobs)
  }
}

/** Benchmark program: `--workload W --seed N --seconds S --trace 0|1
  * --run-dir DIR --out FILE`, started by `perfbench/run.py`, which owns the
  * run directory, the JVM options and the metric arithmetic. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val dir = opt("run-dir")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(workload, opt("seed").toLong, opt("seconds").toDouble, dir,
      new Tracer(spark, opt("trace") == "1"))
    try workload match {
      case "requests_cold" => Requests.run(spark, run)
      case "register" => Register.run(spark, run, opt("golden"), opt.get("record-golden"))
      case other => sys.error(s"unknown workload $other")
    } catch {
      case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        run.fail(s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    Json.write(opt("out"), run.toJson)
    spark.stop()
  }

  /** Used heap after a full collection, in MB. The first collection lets
    * Spark's ContextCleaner drop the blocks of unreferenced checkpoints,
    * which it does on its own thread; the second one then frees them. */
  def heapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); Thread.sleep(1000); System.gc(); Thread.sleep(100)
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** Files and bytes under `dir` (0 when absent). */
  def treeSize(dir: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        var files = 0L; var bytes = 0L
        s.filter(f => java.nio.file.Files.isRegularFile(f)).forEach { f =>
          files += 1; bytes += java.nio.file.Files.size(f)
        }
        (files, bytes)
      } finally s.close()
    }
  }
}
