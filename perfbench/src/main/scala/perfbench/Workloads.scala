package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.core.Tables
import graft.gold.GoldQueries
import graft.pipeline.DagRunner
import graft.pipeline.DagRunner.Task
import graft.silver.Silver
import graft.sources.VersionedTable

/** A workload runs passes of operations against one session. A pass
  * is a fixed amount of work, so every run measures the same mix. */
abstract class Workload(val spark: SparkSession, val trace: Trace) {
  /** Timed operations (queries, or VersionedTable write calls). */
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Wall seconds of each cycle: a pass over the query set, or one day's
    * DAG. */
  val cycles = mutable.ArrayBuffer.empty[Op]
  /** Correctness checks that are not themselves timed operations. */
  var checks = 0
  var checksFailed = 0
  /** Extra named values for the report: name -> (value, unit, samples). */
  val extra = mutable.LinkedHashMap.empty[String, (Double, String, Int)]

  def warmup(): Unit
  def pass(passNo: Int): Unit
  /** Called once after the timed window of a traced run (untimed). */
  def finish(): Unit = ()

  protected def fail(what: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] FAILED $what: " +
      Option(e.getMessage).getOrElse(e.toString).linesIterator
        .take(3).mkString(" | "))
}

/** Read-only queries from the engine's query registry, one pass = every
  * query once in a seeded order; each query's row count and result
  * hash are checked against the expected values. */
final class QueryWorkload(spark: SparkSession, trace: Trace, dataDir: String,
                          names: Seq[String], expected: Map[String, Expected],
                          warmupNames: Seq[String], seed: Long)
    extends Workload(spark, trace) {

  private val registry = graft.SparkEntry.queries
  private val rnd = new java.util.Random(seed)
  val observed = mutable.LinkedHashMap.empty[String, (Long, Long)]
  val phaseTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  private def dropAllBlocks(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  private def timed[T](phase: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = trace.phase(s"queries.$phase", name)(body)
    phaseTimes.getOrElseUpdate(phase, mutable.ArrayBuffer.empty) +=
      (System.nanoTime() - t0) / 1e9
    out
  }

  /** Build, plan and run one query; returns (rows, hash). */
  private def runQuery(name: String): (Long, Long) = {
    val build = registry.getOrElse(name, sys.error(s"unknown query $name"))
    val df = timed("build", name)(build(spark, dataDir))
    timed("plan", name)(df.queryExecution.executedPlan)
    timed("action", name)(Stats.countAndHash(df))
  }

  /** Each warm-up query once, untimed; a query that fails here fails
    * the run. */
  def warmup(): Unit = {
    warmupNames.foreach { n =>
      dropAllBlocks()
      runQuery(n)
    }
    phaseTimes.clear()
  }

  def pass(passNo: Int): Unit = {
    val order = scala.util.Random.javaRandomToRandom(rnd).shuffle(names)
    order.foreach { name =>
      dropAllBlocks()
      trace.opId += 1
      val t0 = System.nanoTime()
      val result =
        try Right(trace.span("query", name)(runQuery(name)))
        catch { case e: Exception => fail(name, e); Left(e) }
      val sec = (System.nanoTime() - t0) / 1e9
      val ok = result match {
        case Right((rows, hash)) =>
          observed(name) = (rows, hash)
          expected.get(name) match {
            case Some(exp) if exp.matches(rows, hash) => true
            case Some(exp) =>
              System.err.println(s"[perfbench] WRONG RESULT $name: " +
                s"rows=$rows hash=$hash, expected rows=${exp.rows} " +
                s"hash=${exp.hash.getOrElse("(rows only)")}")
              false
            case None =>
              System.err.println(s"[perfbench] no expected result for $name")
              false
          }
        case Left(_) => false
      }
      perQuery.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += sec
      ops += Op("query", name, sec, ok)
    }
    val passOps = ops.takeRight(order.size)
    cycles += Op("pass", s"pass $passNo", passOps.map(_.seconds).sum,
      passOps.forall(_.ok))
  }
}

final case class Expected(rows: Long, hash: Option[Long]) {
  def matches(r: Long, h: Long): Boolean = r == rows && hash.forall(_ == h)
}

/** The paper's daily DAG: each day lands bronze batches, commits the
  * silver tables through VersionedTable (append, merge upsert, overwrite,
  * delete, periodic compaction), refreshes the 8 gold queries over
  * VersionedTable.scan into gold tables and writes the audit row. After
  * each day the silver tables are read back and compared with the
  * harness's own model of what it appended, merged and deleted. */
final class IngestWorkload(spark: SparkSession, trace: Trace, dataDir: String,
                           root: String, seed: Long, daysPerPass: Int)
    extends Workload(spark, trace) {

  private val orders = Tables(spark, dataDir, "orders")
  private val customer = Tables(spark, dataDir, "customer")
  private val supplier = Tables(spark, dataDir, "supplier")
  private val nOrders = orders.count()
  private val nCust = customer.count()
  private val ticketsPerDay = math.max(2L, nOrders / 75)
  private val reviewsPerDay = math.max(4, (nCust / 25).toInt)
  private val rnd = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
  private val chunkOrder = rnd.shuffle((0L until nOrders / ticketsPerDay).toVector)
  private val custOrder = rnd.shuffle((0L until nCust).toVector)
  private var custNext = 0

  private def p(n: String) = s"$root/$n"
  private val ticketRoot = p("silver/ticket")
  /** Vietnamese (even customer keys) and English (odd) reviews. */
  private val reviewRoots = Seq(p("silver/review_vi"), p("silver/review_en"))
  private val facilityRoot = p("silver/facility")
  private val facilityNameRoot = p("silver/facility_name")
  private val goldNames = (1 to 8).map(i => s"cau_$i")
  private def goldRoot(n: String) = p(s"gold/$n")
  private val tableRoots = Seq(ticketRoot) ++ reviewRoots ++
    Seq(facilityRoot, facilityNameRoot) ++ goldNames.map(goldRoot)

  // the harness's model of the live silver rows
  private val liveTickets = mutable.LinkedHashMap.empty[Long, Long] // key -> price
  private val liveReviews = mutable.LinkedHashMap.empty[Long, Int]  // key -> stars
  private var day = 0
  private var silverRows = 0L
  val taskTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val vtTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val overheads = mutable.ArrayBuffer.empty[Double]
  val filesAdded = mutable.ArrayBuffer.empty[(Long, Long)]
  var timedWall = 0.0

  private def busName(k: Column): Column = concat(lit("bus "), (k % 30).cast(StringType))
  private def busIds: DataFrame = Tables(spark, dataDir, "nation").select(
    concat(lit("bus "), col("n_nationkey").cast(StringType)).as("Bus_Name"),
    (col("n_nationkey") + 1).cast(IntegerType).as("Bus_Id"))

  private val typeBus = Seq("giường nằm 40 chỗ", "limousine ghế ngồi 11 chỗ",
    "huyndai solati 11 chỗ", "limousine giường phòng có wc")
  private val facilityNames = Seq("wifi", "nước uống", "điều hòa", "toilet",
    "khăn lạnh", "chăn đắp", "gối nằm", "đèn đọc sách", "sạc điện thoại",
    "tivi", "rèm cửa", "búa phá kính", "dây an toàn", "bình chữa cháy",
    "ổ cắm", "tựa để chân", "mát xa", "nước suối", "khẩu trang", "bánh ngọt",
    "dép")

  /** The crawl's raw string-typed ticket rows for order keys [lo, hi). */
  private def rawTicket(d: Int, lo: Long, hi: Long): DataFrame = {
    val k = col("o_orderkey")
    orders.filter(k >= lo && k < hi).select(
      lit("0").as("Bus_Key"),
      k.cast(StringType).as("Order_Key"),
      date_format(date_add(to_date(lit("2024-01-01")),
        ((k + d) % 7).cast(IntegerType)), "dd-MM-yyyy").as("Start_Date"),
      // the reference crawls 13 routes
      concat(lit("R"), (k % 13).cast(StringType)).as("Route"),
      busName(k).as("Bus_Name"),
      concat(format_number((k % 90 + 10) * 1000, 0), lit(" đ")).as("Price"),
      concat(lpad((k % 24).cast(StringType), 2, "0"), lit(":"),
        lpad((k * 7 % 60).cast(StringType), 2, "0")).as("Departure_Time"),
      lit("bx miền đông").as("Departure_Place"),
      lit("tp đà lạt").as("Arrival_Place"),
      lit("7h30m").as("Duration"),
      element_at(typedLit(typeBus), (k % 4 + 1).cast(IntegerType)).as("Type_Bus"))
  }

  private def price(k: Long): Long = (k % 90 + 10) * 1000
  private def stars(k: Long, d: Int): Int = ((k + d) % 5 + 1).toInt

  private def rawReviews(d: Int, keys: Seq[Long]): DataFrame = {
    val k = col("c_custkey")
    customer.filter(k.isin(keys: _*)).select(
      k.as("Cust_Key"), busName(k).as("Bus_Name"),
      ((k + d) % 100).cast("double").divide(100.0).as("POS"),
      ((k * 3 + d) % 50).cast("double").divide(100.0).as("NEG"),
      ((k + d) % 5 + 1).cast(IntegerType).as("Stars"),
      lit(d).as("Day"))
  }

  private def rawFacility(d: Int): DataFrame = {
    val k = col("s_suppkey")
    val chosen = filter(sequence(lit(0), lit(facilityNames.size - 1)),
      j => pmod(xxhash64(k, j, lit(d), lit(seed)), lit(3L)) === 0)
    supplier.select(k.as("Id"), busName(k).as("Bus_Name"),
      concat(lit("['"), array_join(transform(chosen, j =>
        element_at(typedLit(facilityNames), j + 1)), "', '"), lit("']"))
        .as("Facilities"))
  }

  /** One VersionedTable call, timed as an operation. */
  private def vt[T](kind: String, root: String)(body: => T): T = {
    val before = if (trace.recording) Stats.files(new File(root)) else Map.empty[String, Long]
    val t0 = System.nanoTime()
    val out =
      try trace.phase(s"sources.$kind", new File(root).getName)(body)
      catch { case e: Exception =>
        ops += Op(kind, root, (System.nanoTime() - t0) / 1e9, ok = false)
        throw e
      }
    val sec = (System.nanoTime() - t0) / 1e9
    ops += Op(kind, root, sec, ok = true)
    vtTimes.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += sec
    if (trace.recording) {
      val added = Stats.files(new File(root)) -- before.keys
      filesAdded += ((added.size.toLong, added.values.sum))
    }
    out
  }

  private def scan(root: String): DataFrame = {
    val t0 = System.nanoTime()
    val df = trace.phase("sources.scan", new File(root).getName)(
      VersionedTable.scan(spark, root))
    vtTimes.getOrElseUpdate("scan", mutable.ArrayBuffer.empty) +=
      (System.nanoTime() - t0) / 1e9
    df
  }

  /** Set-up: create every silver table empty, with its silver schema. */
  def create(): Unit = {
    val bus = busIds
    VersionedTable.overwrite(Silver.ticket(rawTicket(0, 0, 0), bus, 0), ticketRoot)
    reviewRoots.foreach(r =>
      VersionedTable.overwrite(Silver.review(rawReviews(0, Seq(-1L)), bus, 0), r))
  }

  /** A DAG task whose closure is timed and whose jobs carry `label`. */
  private def task(id: String, label: String, deps: Seq[String])(body: => Unit): Task =
    Task(id, deps, () => {
      val t0 = System.nanoTime()
      try trace.phase(label, id)(body)
      catch { case e: Exception => fail(s"day $day task $id", e); throw e }
      finally taskTimes.getOrElseUpdate(id, mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e9
    })

  /** One day's DAG; returns its wall seconds and whether every task
    * succeeded. */
  private def runDay(d: Int): (Double, Boolean) = {
    val chunk = chunkOrder((d - 1) % chunkOrder.size)
    val (lo, hi) = (chunk * ticketsPerDay, (chunk + 1) * ticketsPerDay)
    val hitShare = 0.2 + 0.2 * rnd.nextDouble()
    val existing = liveReviews.keys.toVector
    val hits = rnd.shuffle(existing).take(
      math.min(existing.size, (reviewsPerDay * hitShare).toInt))
    val fresh = custOrder.slice(custNext, custNext + reviewsPerDay - hits.size)
    custNext += fresh.size
    val reviewKeys = hits ++ fresh
    val bronze = p(s"bronze/day=$d")
    // the ticket table is compacted every second day, so each pass of a
    // few days runs whole write/compact cycles
    val compactDay = d % 2 == 0
    val bus = busIds
    val tasks = Seq(
      task("bronze", "pipeline.bronze", Nil) {
        rawTicket(d, lo, hi).write.parquet(s"$bronze/ticket")
        rawReviews(d, reviewKeys).write.parquet(s"$bronze/review")
        rawFacility(d).write.parquet(s"$bronze/facility")
      },
      task("silver_ticket", "silver.ticket", Seq("bronze")) {
        val maxId = Silver.maxKey(Some(scan(ticketRoot)), "Bus_Key")
        val batch = Silver.ticket(spark.read.parquet(s"$bronze/ticket"), bus, maxId)
        vt("append", ticketRoot)(VersionedTable.append(batch, ticketRoot))
        (lo until hi).foreach(k => liveTickets(k) = price(k))
        silverRows += hi - lo
      },
      task("silver_review", "silver.review", Seq("bronze")) {
        val raw = spark.read.parquet(s"$bronze/review")
        reviewRoots.zipWithIndex.foreach { case (r, parity) =>
          val maxId = reviewRoots.map(rr =>
            Silver.maxKey(Some(scan(rr)), "Review_Key")).max
          val batch = Silver.review(
            raw.filter(col("Cust_Key") % 2 === parity), bus, maxId)
          vt("merge", r)(VersionedTable.merge(spark, r, batch, Seq("Cust_Key")))
        }
        reviewKeys.foreach(k => liveReviews(k) = stars(k, d))
        silverRows += reviewKeys.size
      },
      task("silver_facility", "silver.facility", Seq("bronze")) {
        val (bridge, names) =
          Silver.facility(spark.read.parquet(s"$bronze/facility"), bus)
        vt("overwrite", facilityRoot)(VersionedTable.overwrite(bridge, facilityRoot))
        vt("overwrite", facilityNameRoot)(
          VersionedTable.overwrite(names, facilityNameRoot))
      },
      task("delete_cancelled", "pipeline.delete", Seq("silver_ticket")) {
        val live = liveTickets.keys.toVector
        val cancelled = rnd.shuffle(live).take(math.max(1, live.size / 50))
        vt("delete", ticketRoot)(VersionedTable.delete(spark, ticketRoot,
          col("Order_Key").isin(cancelled.map(_.toString): _*)))
        cancelled.foreach(liveTickets.remove)
      }) ++
      (if (compactDay) Seq(task("compact_ticket", "pipeline.compact", Seq("delete_cancelled")) {
        vt("compact", ticketRoot)(VersionedTable.compact(spark, ticketRoot))
      }) else Nil) ++
      Seq(task("gold_refresh", "gold.refresh", Seq("silver_ticket", "silver_review",
          "silver_facility", "delete_cancelled") ++
          (if (compactDay) Seq("compact_ticket") else Nil)) {
        val st = GoldQueries.SilverTables(scan(ticketRoot),
          scan(reviewRoots(0)), scan(reviewRoots(1)),
          scan(facilityRoot), scan(facilityNameRoot))
        GoldQueries.all(st).toSeq.sortBy(_._1).foreach { case (n, df) =>
          vt("overwrite", goldRoot(n))(VersionedTable.overwrite(df, goldRoot(n)))
        }
      })
    val closures0 = taskTimes.values.map(_.sum).sum
    val t0 = System.nanoTime()
    val results = trace.span("dag", s"day $d")(
      DagRunner.run(spark, "perfbench_ingest", tasks, p("audit")))
    val wall = (System.nanoTime() - t0) / 1e9
    overheads += wall - (taskTimes.values.map(_.sum).sum - closures0)
    val ok = results.forall(_.state == "success")
    if (!ok) System.err.println(s"[perfbench] day $d: " +
      results.filter(_.state != "success").map(r => s"${r.id}=${r.state}").mkString(", "))
    (wall, ok)
  }

  /** Read the silver tables back and compare with the model. */
  private def check(d: Int): Boolean = {
    val t = VersionedTable.read(spark, ticketRoot)
      .agg(count(lit(1)), coalesce(sum(col("Price").cast(LongType)), lit(0L))).head()
    val r = reviewRoots.map(VersionedTable.read(spark, _))
      .reduce(_ unionByName _)
      .agg(count(lit(1)), coalesce(sum(col("Stars").cast(LongType)), lit(0L))).head()
    val want = (liveTickets.size.toLong, liveTickets.values.sum,
      liveReviews.size.toLong, liveReviews.values.map(_.toLong).sum)
    val got = (t.getLong(0), t.getLong(1), r.getLong(0), r.getLong(1))
    if (got != want) System.err.println(
      s"[perfbench] WRONG RESULT day $d: (tickets, price sum, reviews, stars sum) = $got, model $want")
    got == want
  }

  /** Warm-up: each kind of VersionedTable write and read the DAG makes,
    * once, on a small scratch table beside the silver tables, so the
    * first timed day does not pay first-call costs (class loading, code
    * generation). A whole warm-up day would cost as much as a timed day. */
  def warmup(): Unit = {
    val t = p("warmup/ticket")
    def batch(lo: Long, hi: Long, maxId: Int) =
      Silver.ticket(rawTicket(0, lo, hi), busIds, maxId)
    VersionedTable.overwrite(batch(0, 20, 0), t)
    VersionedTable.append(batch(20, 40, 20), t)
    VersionedTable.merge(spark, t, batch(30, 50, 40), Seq("Order_Key"))
    VersionedTable.delete(spark, t, col("Order_Key") === "5")
    VersionedTable.compact(spark, t)
    VersionedTable.overwrite(GoldQueries.q1(VersionedTable.scan(spark, t)), p("warmup/gold"))
    VersionedTable.read(spark, t).count()
    ()
  }

  def pass(passNo: Int): Unit = (1 to daysPerPass).foreach { _ =>
    day += 1
    trace.opId += 1
    val (wall, ok) =
      try runDay(day)
      catch { case e: Exception => fail(s"day $day", e); (Double.PositiveInfinity, false) }
    timedWall += wall
    cycles += Op("day", s"day $day", wall, ok)
    val t0 = System.nanoTime()
    trace.phase("sources.latest_version", "ticket")(
      VersionedTable.latestVersion(ticketRoot))
    vtTimes.getOrElseUpdate("latest_version", mutable.ArrayBuffer.empty) +=
      (System.nanoTime() - t0) / 1e9
    checks += 1
    val good = try trace.phase("harness.check", s"day $day")(ok && check(day)) catch { case e: Exception => fail(s"check day $day", e); false }
    if (!good) checksFailed += 1
  }

  /** Silver rows committed per second of DAG wall time. */
  def rowsPerSecond: Double = silverRows / timedWall

  override def finish(): Unit = {
    // data and log bytes; checksum side files (".name.crc") excluded
    def bytes(dir: String): Long = Stats.files(new File(dir)).collect {
      case (f, n) if !new File(f).getName.startsWith(".") => n }.sum
    val plain = p("plain")
    tableRoots.zipWithIndex.foreach { case (r, i) =>
      VersionedTable.read(spark, r).write.parquet(s"$plain/$i")
    }
    val tableBytes = tableRoots.map(bytes).sum
    val plainBytes = bytes(plain).toDouble
    extra("bytes_per_user_byte") = (tableBytes / plainBytes, "ratio", 1)
    extra("live_files") = (tableRoots.map(r =>
      VersionedTable.read(spark, r).inputFiles.length).sum.toDouble, "count", 1)
    extra("log_files") = (tableRoots.map(r =>
      Stats.files(new File(r, "_log")).size).sum.toDouble, "count", 1)
  }
}
