package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Job / stage / task counters for one Spark session: the listener the
  * drivers and specs share. Counts jobs (at start), completed stages and
  * finished tasks; sums executor run time, GC time, shuffle read/write
  * bytes and memory/disk spill; keeps one row per completed stage.
  *
  * Reads drain the listener bus first, so every event an action posted
  * before returning is counted — no sleeping for the async bus.
  *
  * {{{
  *   val stats = JobStats.attach(spark)
  *   val (_, t) = stats.measure(df.count())
  *   println(t.jobs -> t.shuffleWriteBytes)
  *   stats.detach()
  * }}}
  */
final class JobStats private (spark: SparkSession) {
  import JobStats._

  private val jobs, stages, tasks, taskMs, gcMs, shuffleRead, shuffleWrite,
    spillMem, spillDisk = new AtomicLong
  private val stageRows = new ConcurrentHashMap[Int, Stage]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      { jobs.incrementAndGet(); () }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val i = e.stageInfo
      val m = i.taskMetrics
      stageRows.put(i.stageId, Stage(i.stageId, i.name, i.numTasks,
        m.executorRunTime, m.jvmGCTime, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten,
        m.diskBytesSpilled)): Unit
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Everything counted since attach or the last [[reset]]. */
  def snapshot(): Totals = {
    ListenerBusDrain(spark.sparkContext)
    Totals(jobs.get, stages.get, tasks.get, taskMs.get, gcMs.get,
      shuffleRead.get, shuffleWrite.get, spillMem.get, spillDisk.get,
      stageRows.asScala.values.toSeq.sortBy(_.id))
  }

  /** Zero every counter. Events of work that finished earlier are drained
    * first, so they cannot land after the reset. */
  def reset(): Unit = {
    ListenerBusDrain(spark.sparkContext)
    Seq(jobs, stages, tasks, taskMs, gcMs, shuffleRead, shuffleWrite,
      spillMem, spillDisk).foreach(_.set(0L))
    stageRows.clear()
  }

  /** Runs `body` between a reset and a snapshot. */
  def measure[T](body: => T): (T, Totals) = {
    reset()
    val r = body
    (r, snapshot())
  }

  def detach(): Unit = spark.sparkContext.removeSparkListener(listener)
}

object JobStats {
  def attach(spark: SparkSession): JobStats = new JobStats(spark)

  /** One completed stage: task metrics summed over its tasks. */
  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long,
      gcMs: Long, inputRecords: Long, shuffleReadRecords: Long,
      shuffleWriteRecords: Long, spillDiskBytes: Long)

  final case class Totals(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
      gcMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      spillMemBytes: Long, spillDiskBytes: Long, stageRows: Seq[Stage]) {
    def spillBytes: Long = spillMemBytes + spillDiskBytes
  }
}
