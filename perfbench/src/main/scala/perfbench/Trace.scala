package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Wall clock in epoch microseconds: one epoch reading at class load, then
  * the monotonic clock, so differences never jump with clock adjustments
  * while values stay comparable with the launcher's epoch timestamps. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000
}

/** One timed call into a layer. `parent` is the enclosing span (0 at top
  * level); `tag` carries the cycle, pass or request id. */
final case class Span(id: Int, parent: Int, name: String, tag: String,
    startUs: Long, endUs: Long)

/** One Spark job with the span that was open on the calling thread when it
  * started, the `graft` source file on its call site, and the task metrics
  * summed over its stages. */
final class JobRecord(val id: Int, val span: Int, val module: String,
    val site: String, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

object Tracer {
  /** Local property naming the open span; Spark copies local properties
    * into every job the calling thread submits. */
  val SpanProperty = "perfbench.span"

  /** The module of a job: the first `graft` frame of its long call site,
    * named by source file (`Cache.scala:126` → `Cache`). */
  def moduleOf(callSite: String): String = {
    val frame = """graft\.[\w.$]+\(([A-Za-z0-9_]+)\.scala:\d+\)""".r
    callSite.linesIterator.map(_.trim).collectFirst {
      case l if frame.findFirstMatchIn(l).isDefined => frame.findFirstMatchIn(l).get.group(1)
    }.getOrElse("other")
  }
}

/** Records spans around public calls and, through a SparkListener, every
  * job those calls run. Everything stays in memory until [[dump]]. When
  * disabled, [[span]] only runs its body: no listener, no properties. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 1
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stagesSeen = mutable.HashSet.empty[(Int, Int)]
  // SQL execution id → the call site of the action that started it: the
  // jobs of adaptive query stages are submitted from a pool thread, so
  // their own call site names no `graft` frame
  private val executionSite = mutable.HashMap.empty[Long, String]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
        .map(_.toInt).getOrElse(0)
      val stageSite = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
      val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionSite.get(id.toLong))
        .filter(s => Tracer.moduleOf(stageSite) == "other").getOrElse(stageSite)
      jobs(e.jobId) = new JobRecord(e.jobId, span, Tracer.moduleOf(site), site, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        jobs.synchronized { executionSite(x.executionId) = x.details }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
        if (stagesSeen.add((e.stageId, e.stageAttemptId))) j.stages += 1
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Runs `f` inside a span named `name`; nested calls become children. */
  def span[T](name: String, tag: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(Tracer.SpanProperty)
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      open = id :: open
      val t0 = Clock.nowUs
      try f
      finally {
        val t1 = Clock.nowUs
        open = open.tail
        sc.setLocalProperty(Tracer.SpanProperty, outer)
        spans += Span(id, parent, name, tag, t0, t1)
      }
    }

  /** Spans and jobs as JSON-ready values, after the listener bus drained. */
  def dump(): (Seq[java.util.Map[String, Any]], Seq[java.util.Map[String, Any]]) = {
    if (!enabled) return (Seq.empty, Seq.empty)
    org.apache.spark.PerfbenchDrain.drain(spark.sparkContext)
    val s = spans.sortBy(_.id).map(sp => Json.obj(
      "id" -> sp.id, "parent" -> sp.parent, "name" -> sp.name, "tag" -> sp.tag,
      "start_us" -> sp.startUs, "end_us" -> sp.endUs)).toSeq
    val j = jobs.synchronized {
      jobs.values.map(r => Json.obj(
        "id" -> r.id, "span" -> r.span, "module" -> r.module,
        "site" -> r.site.linesIterator.find(_.contains("graft.")).getOrElse("").trim,
        "start_us" -> r.startMs * 1000, "end_us" -> r.endMs * 1000,
        "stages" -> r.stages, "tasks" -> r.tasks, "task_s" -> r.taskMs / 1e3,
        "gc_s" -> r.gcMs / 1e3, "shuffle_read_bytes" -> r.shuffleReadBytes,
        "shuffle_write_bytes" -> r.shuffleWriteBytes,
        "spill_bytes" -> r.spillBytes)).toSeq
    }
    (s, j)
  }
}
