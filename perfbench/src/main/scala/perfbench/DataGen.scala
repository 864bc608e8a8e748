package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the engine's input tables: the TPC-H-like star
  * schema plus the `events`, `documents` and `embeddings` tables, with the
  * schemas, value domains and row-count ratios the engine's loaders expect.
  *
  * Every value is a pure function of (seed, table, row id, column salt)
  * through `xxhash64`, so the same seed writes the same tables on any
  * partitioning. Timestamps are written as TIMESTAMP_NTZ (naive, like the
  * reference fixtures), so a DuckDB reading the files sees the same
  * wall-clock values Spark does.
  */
object DataGen {
  val allTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
  /** The tables the request path reads (pixels, locations, zones). */
  val requestTables: Seq[String] = Seq("nation", "supplier", "orders", "lineitem")

  private val vocab = Seq("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector", "line",
    "table", "data", "agg", "value", "key", "stream", "window", "a", "spark",
    "part", "group", "big", "sort", "query", "fast", "the")

  /** Writes `tables` at scale factor `sf` under `dir` and returns `dir`. */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long,
      tables: Seq[String]): String = {
    val g = new Gen(spark, seed, sf)
    tables.foreach { t =>
      g.table(t).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  private final class Gen(spark: SparkSession, seed: Long, sf: Double) {
    private def n(base: Double, min: Long = 1): Long = math.max(min, math.round(base * sf))
    val nCustomer = n(150000); val nSupplier = n(10000, 10); val nPart = n(200000, 20)
    val nOrders = n(1500000, 100); val nEvents = n(1000000, 100)
    // the reference fixtures keep 500 documents/vectors below sf0.1
    val nDocs = math.max(500L, n(50000)); val nVecs = math.max(500L, n(20000))
    val nUsers = math.max(10L, nEvents / 67)

    /** Uniform [0, 1) from (seed, table, id, salt). */
    private def u(table: String, salt: Int, id: Column = col("id")): Column =
      pmod(xxhash64(lit(seed), lit(table), lit(salt), id), lit(1L << 52))
        .cast("double") / (1L << 52).toDouble
    private def pick(table: String, salt: Int, values: Seq[String]): Column =
      element_at(array(values.map(lit): _*),
        (floor(u(table, salt) * values.size) + 1).cast("int"))
    private def intIn(table: String, salt: Int, lo: Long, hi: Long,
        id: Column = col("id")): Column =
      (floor(u(table, salt, id) * (hi - lo + 1)) + lo).cast("long")
    private def money(table: String, salt: Int, lo: Double, hi: Double): Column =
      round(u(table, salt) * (hi - lo) + lo, 2)
    private def day(days: Column): Column =
      timestamp_seconds(lit(788918400L) + days * 86400L).cast("timestamp_ntz") // 1995-01-01
    private def ids(count: Long) = spark.range(0, count, 1, 4)

    def table(name: String): DataFrame = name match {
      case "region" =>
        ids(5).select(col("id").cast("int").as("r_regionkey"),
          element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
            (col("id") + 1).cast("int")).as("r_name"))
      case "nation" =>
        ids(25).select(col("id").cast("int").as("n_nationkey"),
          concat(lit("NATION_"), col("id")).as("n_name"),
          (col("id") % 5).cast("int").as("n_regionkey"))
      case "customer" =>
        ids(nCustomer).select(col("id").as("c_custkey"),
          format_string("Customer#%09d", col("id")).as("c_name"),
          intIn(name, 1, 0, 24).cast("int").as("c_nationkey"),
          money(name, 2, -999.99, 9999.99).as("c_acctbal"),
          pick(name, 3, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
            "FURNITURE")).as("c_mktsegment"))
      case "supplier" =>
        ids(nSupplier).select(col("id").as("s_suppkey"),
          format_string("Supplier#%09d", col("id")).as("s_name"),
          intIn(name, 1, 0, 24).cast("int").as("s_nationkey"),
          money(name, 2, -999.99, 9999.99).as("s_acctbal"))
      case "part" =>
        ids(nPart).select(col("id").as("p_partkey"),
          concat_ws(" ",
            pick(name, 1, Seq("blue", "old", "small", "new", "hot", "large", "cold", "red")),
            pick(name, 2, Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")))
            .as("p_name"),
          concat(lit("Brand#"), intIn(name, 3, 1, 25)).as("p_brand"),
          pick(name, 4, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"))
            .as("p_type"),
          intIn(name, 5, 1, 50).cast("int").as("p_size"),
          round(lit(900.0) + (col("id") % 1000) / 10.0, 1).as("p_retailprice"))
      case "orders" => orders.drop("o_day")
      case "lineitem" =>
        val o = orders.select(col("o_orderkey"), col("o_day"))
          .withColumn("nlines", intIn("lineitem", 0, 1, 7, col("o_orderkey")).cast("int"))
          .select(col("o_orderkey"), col("o_day"),
            explode(sequence(lit(1), col("nlines"))).as("l_linenumber"))
          .withColumn("id", col("o_orderkey") * 8 + col("l_linenumber"))
        val qty = intIn(name, 3, 1, 50).cast("double")
        o.select(col("o_orderkey").as("l_orderkey"),
          intIn(name, 1, 0, nPart - 1).as("l_partkey"),
          intIn(name, 2, 0, nSupplier - 1).as("l_suppkey"),
          col("l_linenumber").cast("int").as("l_linenumber"),
          qty.as("l_quantity"),
          round(qty * (lit(900.0) + u(name, 4) * 1200.0), 2).as("l_extendedprice"),
          (intIn(name, 5, 0, 10) / 100.0).as("l_discount"),
          (intIn(name, 6, 0, 8) / 100.0).as("l_tax"),
          pick(name, 7, Seq("A", "N", "R")).as("l_returnflag"),
          pick(name, 8, Seq("F", "O")).as("l_linestatus"),
          day(col("o_day") + intIn(name, 9, 1, 95)).as("l_shipdate"))
      case "events" =>
        val span = 30L * 86400 * 1000000 / nEvents // µs between events
        ids(nEvents).select(col("id").as("event_id"),
          timestamp_micros(lit(1704067200L * 1000000) + col("id") * span +
            floor(u(name, 1) * span).cast("long")).cast("timestamp_ntz").as("ts"),
          intIn(name, 2, 0, nUsers - 1).as("user_id"),
          pick(name, 3, Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
          round(-log(lit(1.0) - u(name, 4)) * 50.0 + 0.01, 2).as("value"),
          format_string("{\"k\": %d}", intIn(name, 5, 0, 99)).as("props"))
      case "documents" =>
        val words = transform(sequence(lit(1), intIn(name, 1, 8, 90).cast("int")), i =>
          element_at(array(vocab.map(lit): _*),
            (pmod(xxhash64(lit(seed), lit(name), col("id"), i), lit(vocab.size.toLong)) + 1)
              .cast("int")))
        // every 19th document is a near duplicate of the one before it
        val base = ids(nDocs).withColumn("src",
          when(col("id") % 19 === 18, col("id") - 1).otherwise(col("id")))
        val text = base.withColumn("text", concat_ws(" ", words))
        val docs = base.as("b").join(text.select(col("id").as("src"),
            col("text").as("src_text")), Seq("src"))
          .withColumn("text", when(col("id") === col("src"), col("src_text"))
            .otherwise(concat(col("src_text"), lit(" dup"))))
        docs.select(col("id").as("doc_id"), col("text"),
          when(u(name, 2) < 0.44, lit("en")).otherwise(
            pick(name, 3, Seq("zh", "de", "fr", "es"))).as("lang"),
          concat(lit("src"), intIn(name, 4, 0, 19)).as("source"),
          length(col("text")).cast("long").as("n_chars"))
          .orderBy("doc_id")
      case "embeddings" =>
        val dims = 64
        val label = intIn(name, 1, 0, 9)
        val raw = transform(sequence(lit(0), lit(dims - 1)), j =>
          // cluster centroid component + per-vector noise
          (pmod(xxhash64(lit(seed), lit("centroid"), label, j), lit(2001L)) - 1000) / 1000.0 * 0.35 +
            (pmod(xxhash64(lit(seed), lit(name), col("id"), j), lit(2001L)) - 1000) / 1000.0)
        ids(nVecs).select(col("id").as("vec_id"), raw.as("raw"), label.cast("int").as("label"))
          .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x)))
          .select(col("vec_id"),
            transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
            col("label"))
    }

    private def orders: DataFrame = {
      val t = "orders"
      ids(nOrders).withColumn("o_day", intIn(t, 4, 0, 2403)).select(col("id").as("o_orderkey"),
        intIn(t, 1, 0, nCustomer - 1).as("o_custkey"),
        pick(t, 2, Seq("F", "O", "P")).as("o_orderstatus"),
        money(t, 3, 1000.0, 500000.0).as("o_totalprice"),
        day(col("o_day")).as("o_orderdate"),
        pick(t, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority"),
        col("o_day"))
    }
  }
}
