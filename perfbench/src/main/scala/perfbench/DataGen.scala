package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic generator for the engine's input tables (the TPC-H-ish
  * star schema plus `events`, `documents` and `embeddings`), with the
  * same column names, types, row counts and value ranges as the
  * engine's reference test data.
  *
  * Every value is a pure function of (table seed, row id, column salt)
  * through `xxhash64`, so the output does not depend on partitioning or
  * task order, and only IEEE-exact arithmetic (add, multiply, divide,
  * sqrt) is used — the same seed gives bit-identical tables on any JVM.
  * Each table is written as one parquet directory `<name>.parquet`,
  * ordered by its key. */
object DataGen {

  /** Bump when the generated data changes: cached data and the
    * expected result files are keyed by it. */
  val Version = "g1"

  /** Seed of the base tables. The workload seed varies the order of
    * operations and the ingest batches, never the base tables, so the
    * expected result of every query is fixed. */
  val TableSeed = 42L

  def rowCounts(sf: Double): Map[String, Long] = {
    def n(perSf: Double): Long = math.max(1L, math.round(perSf * sf))
    Map(
      "region" -> 5L, "nation" -> 25L,
      "customer" -> n(150000), "supplier" -> n(10000), "part" -> n(200000),
      "orders" -> n(1500000), "lineitem" -> n(6000000),
      "events" -> n(1000000),
      "documents" -> math.max(500L, n(50000)),
      "embeddings" -> math.max(500L, n(20000)))
  }

  private val Two52 = 4503599627370496.0

  /** Uniform double in [0, 1) from the row id, a column salt and the
    * table seed. */
  private def u(salt: Int, extra: Column*): Column =
    pmod(xxhash64((Seq(col("id"), lit(salt), lit(TableSeed)) ++ extra): _*),
      lit(1L << 52)).cast(DoubleType) / lit(Two52)

  /** Uniform integer in [0, n). */
  private def ri(salt: Int, n: Long): Column =
    pmod(xxhash64(col("id"), lit(salt), lit(TableSeed)), lit(n))

  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(typedLit(values), (ri(salt, values.size.toLong) + 1).cast(IntegerType))

  private def money(salt: Int, lo: Double, width: Double): Column =
    round(lit(lo) + u(salt) * lit(width), 2)

  private def ntzDay(start: String, salt: Int, days: Long): Column =
    date_add(to_date(lit(start)), ri(salt, days).cast(IntegerType))
      .cast(TimestampNTZType)

  private val Vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    val rows = rowCounts(sf)
    def range(name: String): DataFrame = spark.range(0, rows(name), 1, 1).toDF()
    val id = col("id")
    val nCust = rows("customer"); val nSupp = rows("supplier")
    val nPart = rows("part"); val nOrders = rows("orders")
    val nDocs = rows("documents")

    val region = range("region").select(id.cast(IntegerType).as("r_regionkey"),
      element_at(typedLit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST")), (id + 1).cast(IntegerType)).as("r_name"))
    val nation = range("nation").select(id.cast(IntegerType).as("n_nationkey"),
      concat(lit("NATION_"), id.cast(StringType)).as("n_name"),
      (id % 5).cast(IntegerType).as("n_regionkey"))
    val customer = range("customer").select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      ri(1, 25).cast(IntegerType).as("c_nationkey"),
      money(2, -999.99, 10999.79).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))
    val supplier = range("supplier").select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      ri(1, 25).cast(IntegerType).as("s_nationkey"),
      money(2, -999.99, 10999.79).as("s_acctbal"))
    val part = range("part").select(id.as("p_partkey"),
      concat(pick(1, Seq("blue", "cold", "hot", "large", "new", "old", "red",
        "small")), lit(" "), pick(2, Seq("anvil", "bolt", "gear", "gizmo",
        "plate", "ring", "rod", "widget"))).as("p_name"),
      concat(lit("Brand#"), (ri(3, 25) + 1).cast(StringType)).as("p_brand"),
      pick(4, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (ri(5, 50) + 1).cast(IntegerType).as("p_size"),
      round(lit(900.0) + (id % 1000).cast(DoubleType) / lit(10.0), 2)
        .as("p_retailprice"))
    val orders = range("orders").select(id.as("o_orderkey"),
      ri(1, nCust).as("o_custkey"),
      pick(2, Seq("F", "O", "P")).as("o_orderstatus"),
      money(3, 1000.0, 499000.0).as("o_totalprice"),
      ntzDay("1995-01-01", 4, 2404).as("o_orderdate"),
      pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
    val lineitem = range("lineitem").select(
      ri(1, nOrders).as("l_orderkey"), ri(2, nPart).as("l_partkey"),
      ri(3, nSupp).as("l_suppkey"),
      (ri(4, 7) + 1).cast(IntegerType).as("l_linenumber"),
      (ri(5, 50) + 1).cast(DoubleType).as("l_quantity"),
      money(6, 900.0, 104100.0).as("l_extendedprice"),
      round(ri(7, 11).cast(DoubleType) / lit(100.0), 2).as("l_discount"),
      round(ri(8, 9).cast(DoubleType) / lit(100.0), 2).as("l_tax"),
      pick(9, Seq("A", "N", "R")).as("l_returnflag"),
      pick(10, Seq("F", "O")).as("l_linestatus"),
      ntzDay("1995-01-02", 11, 2499).as("l_shipdate"))
    // events: strictly increasing timestamps over 30 days, one slot per
    // event with a jitter inside the slot
    val nEvents = rows("events")
    val slotMicros = math.max(1L, 30L * 86400L * 1000000L / nEvents)
    val events = range("events").select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * lit(slotMicros) +
        ri(1, slotMicros)).cast(TimestampNTZType).as("ts"),
      ri(2, math.max(10L, math.round(15000 * sf))).as("user_id"),
      pick(3, Seq("click", "error", "purchase", "signup", "view"))
        .as("event_type"),
      round(u(4) * u(5) * lit(250.0), 2).as("value"),
      concat(lit("{\"k\": "), ri(6, 100).cast(StringType), lit("}"))
        .as("props"))
    // documents: 10-100 words from a 30-word vocabulary; 5% are exact
    // copies of another document with a " dup" suffix
    def textOf(doc: Column): Column = {
      val nWords = pmod(xxhash64(doc, lit(1), lit(TableSeed)), lit(91L)) + 10
      array_join(transform(sequence(lit(1L), nWords), i =>
        element_at(typedLit(Vocab),
          (pmod(xxhash64(doc, i, lit(TableSeed)), lit(Vocab.size.toLong)) + 1)
            .cast(IntegerType))), " ")
    }
    val documents = range("documents")
      .select(id, (u(2) < 0.05).as("dup"), ri(3, nDocs).as("src"))
      .select(id.as("doc_id"),
        when(col("dup"), concat(textOf(col("src")), lit(" dup")))
          .otherwise(textOf(id)).as("text"),
        when(u(4) < 0.4, lit("en"))
          .otherwise(pick(5, Seq("de", "es", "fr", "zh"))).as("lang"),
        concat(lit("src"), (id % 20).cast(StringType)).as("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType))
    // embeddings: 64-d unit vectors, each component an Irwin-Hall sum of
    // 12 uniforms (approximately normal); 10 random labels
    val raw = transform(sequence(lit(0), lit(63)), j =>
      (0 until 12).map(t => u(100 + t, j)).reduce(_ + _) - lit(6.0))
    val embeddings = range("embeddings")
      .select(id, raw.as("raw"), ri(1, 10).cast(IntegerType).as("label"))
      .select(id.as("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y)))
          .cast(FloatType)).as("embedding"),
        col("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  private def stamp(sf: Double) = s"$Version sf=$sf\n"

  /** Whether `dir` holds a complete generation of this version at `sf`. */
  def isCurrent(dir: File, sf: Double): Boolean = {
    val marker = new File(dir, "_COMPLETE")
    marker.exists() && java.nio.file.Files.readString(marker.toPath) == stamp(sf)
  }

  /** Generate the input tables in a JVM of their own, so that the
    * benchmark JVM's peak RSS, JIT and code cache never include the
    * generation. run.py calls this before every run; tables that are
    * already current are left alone without starting Spark.
    * {{{
    * perfbench.DataGen <work-dir> <sf> <dir>
    * }}} */
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: perfbench.DataGen <work-dir> <sf> <dir>")
    val Array(work, sf, dir) = args
    val d = new File(dir).getAbsoluteFile
    if (!isCurrent(d, sf.toDouble)) {
      val t0 = System.nanoTime()
      val spark = Main.newSession(Main.cores, new File(work).getAbsolutePath)
      generate(spark, d, sf.toDouble)
      spark.stop()
      System.err.println(f"[perfbench] generated sf$sf data in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
  }

  /** Replace whatever is in `dir` with a complete generation. */
  def generate(spark: SparkSession, dir: File, sf: Double): Unit = {
    Stats.deleteRecursively(dir)
    dir.mkdirs()
    tables(spark, sf).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite")
        .parquet(new File(dir, s"$name.parquet").getPath)
    }
    java.nio.file.Files.writeString(new File(dir, "_COMPLETE").toPath, stamp(sf))
  }
}
