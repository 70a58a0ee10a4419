package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.{GraftSession, Tables}

/** One benchmark run: set-up (measured several times), warm-up, a timed
  * window of whole passes, result checks, and one JSON line on stdout.
  *
  * Usage (normally through run.py, which builds the harness and cleans
  * up after it):
  * {{{
  * perfbench.Main --workload serve|ingest|curate --seed N --seconds S
  *   --trace 0|1 --data-dir D --work-dir W [--sf 0.1]
  *   [--setups 3] [--expected F] [--dump F] [--trace-out F]
  * }}}
  */
object Main {

  val Curate = Seq("q119_semantic_dedup_lsh", "q66_dedup_groups",
    "q133_lsh_index", "q230_text_index_optimize", "q223_text_index_bm25",
    "q139_span_index", "q42_lsh_topk", "q43_ivf_topk", "q166_knn_graph_ivf",
    "q287_ivfpq_index")
  /** Curate warms up one query, not all ten: a whole warm-up pass would
    * make one run take about 90 s instead of 60 s, more than the
    * benchmark's time budget allows (see README.md, Load model). */
  val CurateWarmup = Seq("q43_ivf_topk")
  /** Days of the daily DAG per ingest pass: one write/compact cycle. */
  val IngestDays = 2

  /** The serve set: the 32 bench entries of CoreQueries and the 9 of
    * VexereGateQueries (the 8 gold queries and cau_4_decimal), pinned so
    * that the measured mix only changes when this list does. */
  val Serve = Seq(
    "q01_group_agg", "q02_filter_project", "q03_join_dims",
    "q04_cheapest_join", "q05_rank_window", "q06_rownum_ids",
    "q07_grid_crossjoin", "q08_count_distinct", "q09_union_all",
    "q10_case_when", "q11_string_funcs", "q12_explode_regroup", "q13_having",
    "q14_semi_join", "q15_anti_join", "q16_datetime", "q17_scalar_agg",
    "q18_collect_set", "q19_distinct", "q35_analytic_windows",
    "q36_topk_limit", "q44_percentiles", "q39_summary_stats",
    "q38_asof_join", "q102_asof_join_native", "q108_asof_forward",
    "q109_asof_tolerance", "q120_asof_nearest", "q121_asof_multikey",
    "q134_asof_strict", "q37_setops", "q20_json_extract", "cau_1", "cau_2",
    "cau_3", "cau_4", "cau_5", "cau_6", "cau_7", "cau_8", "cau_4_decimal")

  /** One core is left to the thread that plans queries and schedules
    * jobs, and to JIT and GC: the workloads are bound by fixed cost on
    * that thread, and with every core running tasks the run-to-run
    * spread was wider at the same speed. */
  val cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()) - 1)

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def parse(args: Array[String]): Args = {
    require(args.length % 2 == 0, "arguments come in --key value pairs")
    Args(args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad argument $k"); k.drop(2) -> v
    }.toMap)
  }

  def newSession(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(spark)
  }

  /** Expected results: {"serve": {name: {"rows": n, "hash": "h"|null}}, ...} */
  def readExpected(f: File, workload: String): Map[String, Expected] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(f).get(workload)
    if (node == null) Map.empty
    else node.fieldNames().asScala.map { name =>
      val v = node.get(name)
      val h = v.get("hash")
      name -> Expected(v.get("rows").asLong(),
        if (h == null || h.isNull) None else Some(h.asText().toLong))
    }.toMap
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val entryMs = System.currentTimeMillis()
    val a = parse(argv)
    val workload = a("workload")
    require(Set("serve", "ingest", "curate")(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val sf = a.get("sf").map(_.toDouble).getOrElse(0.1)
    val setups = a.get("setups").map(_.toInt).getOrElse(3)
    val work = new File(a("work-dir")).getAbsoluteFile
    val dataDir = new File(a("data-dir")).getAbsoluteFile
    work.mkdirs()

    // inputs: generated beforehand by DataGen in a JVM of its own
    require(DataGen.isCurrent(dataDir, sf),
      s"no current sf$sf tables in $dataDir (run perfbench.DataGen first)")
    val data = dataDir.getPath

    val expected: Map[String, Expected] = a.get("expected").map(new File(_))
      .filter(_.exists()).map(readExpected(_, workload)).getOrElse(Map.empty)
    val names = workload match {
      case "serve" => Serve
      case "curate" => Curate
      case _ => Nil
    }

    // set-up, several times: session, engine tuning, table load, and the
    // ingest tables; the last set-up is the one the run uses
    var spark: SparkSession = null
    val sessionS = mutable.ArrayBuffer.empty[Double]
    val tablesS = mutable.ArrayBuffer.empty[Double]
    val setupS = mutable.ArrayBuffer.empty[Double]
    var ingestRoot = ""
    for (i <- 1 to setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = newSession(cores, work.getPath)
      val t1 = System.nanoTime()
      Tables.names.foreach(n => Tables(spark, data, n).count())
      val t2 = System.nanoTime()
      if (workload == "ingest") {
        ingestRoot = s"${work.getPath}/ingest-$i"
        new IngestWorkload(spark, new Trace(false, spark.sparkContext), data,
          ingestRoot, seed, IngestDays).create()
      }
      val t3 = System.nanoTime()
      sessionS += (t1 - t0) / 1e9; tablesS += (t2 - t1) / 1e9
      setupS += (t3 - t0) / 1e9
    }

    // warm-up (part of set-up, never of the timings)
    val trace = new Trace(traced, spark.sparkContext)
    val w: Workload = workload match {
      case "ingest" => new IngestWorkload(spark, trace, data, ingestRoot, seed, IngestDays)
      case "serve" => new QueryWorkload(spark, trace, data, names, expected, Serve, seed)
      case _ => new QueryWorkload(spark, trace, data, names, expected, CurateWarmup, seed)
    }
    val tw = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - tw) / 1e9
    val setupSeconds = (entryMs - jvmStartMs) / 1000.0 + Stats.median(setupS.toSeq) + warmupS

    // the timed window: whole passes until `seconds` have elapsed
    trace.start()
    val gc0 = Stats.gcSeconds()
    val wallStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var passes = 0
    while (passes == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      passes += 1
      w.pass(passes)
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val wallEndMs = System.currentTimeMillis()
    val gcS = Stats.gcSeconds() - gc0
    trace.quiesce()
    trace.close()
    // the end-of-run storage census only feeds traced metrics
    if (traced) w.finish()
    val peakRss = Stats.peakRssMb()

    val finishS = (System.nanoTime() - t0) / 1e9 - windowS
    val failedOps = w.ops.count(!_.ok)
    val attempted = w.ops.size + w.checks
    val failed = failedOps + w.checksFailed
    val lat = Stats.latencies(w.ops.toSeq)
    val timedWall = w match {
      case i: IngestWorkload => i.timedWall
      case _ => windowS
    }
    val cycleLat = Stats.latencies(w.cycles.toSeq)
    val e2e = mutable.LinkedHashMap(
      "setup_s" -> (setupSeconds, "s"),
      "op_geomean_s" -> (Stats.geomean(lat), "s"),
      "cycle_p50_s" -> (Stats.median(cycleLat), "s"),
      "peak_rss_mb" -> (peakRss, "MB"))

    // the report, with the workload's own names for the end-to-end metrics
    val err = System.err
    err.println(f"[perfbench] $workload seed=$seed local[$cores] sf$sf passes=$passes " +
      f"window=$windowS%.2f s ops=${w.ops.size} failed=$failed/$attempted")
    def line(n: String, v: Double, unit: String, samples: Int): Unit =
      err.println(f"[perfbench]   $n%-22s ${Stats.jsonNumber(v)}%-22s $unit%-6s n=$samples")
    // a tail percentile is only as good as the samples beyond it
    def tail(n: String): Unit = {
      val beyond = lat.size / 10
      err.println(f"[perfbench]   $n%-22s ${Stats.jsonNumber(Stats.quantile(lat, 0.9))}%-22s s      " +
        s"n=${lat.size} ($beyond beyond it${if (beyond < 10) "; under 10, indicative only" else ""})")
    }
    err.println(f"[perfbench] wall: JVM start to main ${(entryMs - jvmStartMs) / 1000.0}%.2f s, " +
      f"set-ups ${setupS.sum}%.2f s (${setupS.map(x => f"$x%.2f").mkString(", ")}), " +
      f"warm-up $warmupS%.2f s, window $windowS%.2f s, after window $finishS%.2f s")
    err.println("[perfbench] cycles (s): " + w.cycles.map(c => f"${c.seconds}%.2f").mkString(", "))
    line("setup_s", setupSeconds, "s", setups)
    workload match {
      case "ingest" =>
        val i = w.asInstanceOf[IngestWorkload]
        line("freshness_p50_s", Stats.median(cycleLat), "s", cycleLat.size)
        line("commit_p50_s", Stats.median(lat), "s", lat.size)
        line("commit_geomean_s", Stats.geomean(lat), "s", lat.size)
        tail("commit_p90_s")
        line("ingest_rows_per_s", i.rowsPerSecond, "rows/s", cycleLat.size)
        i.extra.get("bytes_per_user_byte").foreach(v =>
          line("bytes_per_user_byte", v._1, "ratio", 1))
      case _ =>
        line("query_p50_s", Stats.median(lat), "s", lat.size)
        line("query_geomean_s", Stats.geomean(lat), "s", lat.size)
        tail("query_p90_s")
        line("queries_per_s", w.ops.count(_.ok) / timedWall, "1/s", lat.size)
    }
    line("fail_ratio", failed.toDouble / math.max(1, attempted), "ratio", attempted)
    line("peak_rss_mb", peakRss, "MB", 1)
    err.println("[perfbench] working set: input tables " +
      f"${Stats.files(dataDir).values.sum / 1e6}%.1f MB; Spark storage memory " +
      f"${spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1e9}%.2f GB")

    val metrics: Seq[(String, (Double, String))] =
      if (!traced) e2e.toSeq
      else Layers.metrics(w, trace, cores, sessionS.toSeq, tablesS.toSeq, gcS,
        wallStartMs, wallEndMs, Curate) ++ Seq(
        // the traced run's own cycle time, for the tracing overhead
        "trace.cycle_p50_s" -> e2e("cycle_p50_s"))
    if (traced) {
      err.println("[perfbench] span self times (name, count, total s, self s):")
      trace.selfTimes.foreach { case (n, c, tot, self) =>
        err.println(f"[perfbench]   $n%-48s $c%5d $tot%10.3f $self%10.3f")
      }
      err.println("[perfbench] per-layer metrics:")
      metrics.foreach { case (n, (v, u)) =>
        err.println(f"[perfbench]   $n%-40s ${Stats.jsonNumber(v)}%-22s $u")
      }
      a.get("trace-out").foreach { out =>
        val f = new File(out); f.getAbsoluteFile.getParentFile.mkdirs()
        val lines = trace.all.map(s =>
          s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"kind":${Stats.jsonString(s.kind)},""" +
            s""""name":${Stats.jsonString(s.name)},"start_ns":${s.start},"end_ns":${s.end}}""")
        Files.write(f.toPath, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
        err.println(s"[perfbench] ${lines.size} spans written to $out")
      }
    }
    a.get("dump").foreach { out =>
      w match {
        case q: QueryWorkload =>
          val body = q.observed.toSeq.sortBy(_._1).map { case (n, (r, h)) =>
            s"""${Stats.jsonString(n)}: {"rows": $r, "hash": "$h"}""" }
          Files.write(new File(out).toPath,
            body.mkString("{\n", ",\n", "\n}\n").getBytes(StandardCharsets.UTF_8))
        case _ => ()
      }
    }
    val json = metrics.map { case (n, (v, u)) =>
      s"""${Stats.jsonString(n)}: {"value": ${Stats.jsonNumber(v)}, "unit": ${Stats.jsonString(u)}}"""
    }.mkString("{", ", ", "}")
    err.flush()
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    Console.out.flush()
    spark.stop()
    sys.exit(0)
  }
}
