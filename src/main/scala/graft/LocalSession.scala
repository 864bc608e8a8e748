package graft

import org.apache.spark.sql.SparkSession

/** The one place a local Spark session is configured: master `local[n]`,
  * n shuffle partitions, UTC session time zone, UI off, WARN logging.
  * `conf` pairs are applied after those defaults, so a caller may size
  * shuffle partitions to its data or tune the memory manager.
  *
  * `getOrCreate` semantics: when a session is already active (a test
  * suite embedding [[CronTick]]) that session is returned with the SQL
  * settings re-applied; its core settings (master, UI) stay as built. */
object LocalSession {
  def apply(cpus: Int, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `$SPARK_GRAFT_CPUS` when set, else `default`. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)
}
