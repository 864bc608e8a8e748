package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (builder-side
    // iteration aid; the driver always passes exactly two args)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // a typo'd filter name must fail loudly, not produce an empty-but-
    // green run with nothing written and nothing compared
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"unknown query name(s) in filter: ${unknown.mkString(", ")}")
    }
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = LocalSession(LocalSession.envCpus(4))
    new java.io.File(outDir).mkdirs()
    // A crashed query must be VISIBLE in the round artifact, never an
    // omitted key (round-14 verdict #4: four crashed queries made
    // "198/198" read as all-green because a thrown query wrote nothing
    // and the driver's CORRECTNESS json simply lacked the key). On
    // failure we write an `_ERROR` marker file into the query's output
    // dir — the driver's parquet read of that dir then fails and the
    // key lands in the round file as an explicit `err` row — plus a
    // `_FAILURES.json` rollup and a loud stdout summary.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case NonFatal(e) =>
          val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          System.err.println(s"[verify] $name failed: $msg")
          failures(name) = msg
          val d = Paths.get(s"$outDir/$name")
          // replace any partial parquet output with the bare marker so
          // the dir can never read as a valid (truncated) result. The
          // children are LISTED before any delete (deleting under an
          // open directory stream is unspecified) and the stream is
          // closed eagerly (Files.list holds an fd until closed — one
          // leak per wiped dir otherwise, round-15 advisor). The whole
          // cleanup sits in its own try: a cleanup failure must not
          // abort the remaining queries nor skip the _FAILURES rollup.
          def wipe(p: java.nio.file.Path): Unit = {
            if (Files.isDirectory(p)) {
              val s = Files.list(p)
              val kids = try {
                val b = List.newBuilder[java.nio.file.Path]
                s.forEach(c => b += c)
                b.result()
              } finally s.close()
              kids.foreach(wipe)
            }
            Files.deleteIfExists(p)
          }
          try {
            wipe(d)
            Files.createDirectories(d)
            Files.writeString(d.resolve("_ERROR"), s"$name\n$msg\n")
          } catch { case NonFatal(e2) =>
            System.err.println(
              s"[verify] $name: _ERROR marker cleanup failed: ${e2.getMessage}")
          }
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // scale-gate overrides (builder-side 10×/100× gates only — the
    // driver reads oracle_sql.json; oracle_check.py --scale overlays this)
    val scaleJson = SparkEntry.oracleSqlScale
      .filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql_scale.json"), scaleJson)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_FAILURES.json"), failJson)
    if (failures.nonEmpty)
      println(s"[verify] ${failures.size} QUERY FAILURE(S): " +
        failures.keys.mkString(", "))
    spark.stop()
  }
}
