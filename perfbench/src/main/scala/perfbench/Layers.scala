package perfbench

/** The per-layer metrics of a traced run. Every metric is reported on
  * every workload; a layer the workload does not call reads 0.
  *
  * Medians are per call; Spark counters are totals over the timed
  * window divided by the number of cycles (a pass over the query set,
  * or one ingest day), except `spark.task_wait_s` (mean per task) and
  * `spark.slot_busy_ratio` (task time over wall time times cores).
  * Work the harness does for its own checks runs under `harness.*`
  * labels and is left out. */
object Layers {

  def metrics(w: Workload, trace: Trace, cores: Int, sessionS: Seq[Double],
              tablesS: Seq[Double], gcS: Double, wallStartMs: Long,
              wallEndMs: Long, curate: Seq[String]): Seq[(String, (Double, String))] = {
    val l = trace.listener
    val cycles = math.max(1, w.cycles.size).toDouble
    val all = l.total(p => !p.startsWith("harness."))
    def med(xs: Option[Iterable[Double]]): Double =
      xs.filter(_.nonEmpty).map(x => Stats.median(x.toSeq)).getOrElse(0.0)
    def jobs(p: String => Boolean): Double = l.total(p).jobs.toDouble
    val q = w match { case q: QueryWorkload => Some(q); case _ => None }
    val i = w match { case i: IngestWorkload => Some(i); case _ => None }
    val nQueries = math.max(1, q.map(_.ops.size).getOrElse(0)).toDouble
    val wallMs = math.max(1L, wallEndMs - wallStartMs).toDouble
    val writeKinds = Seq("append", "merge", "delete", "overwrite", "compact")
    val writes = math.max(1, i.map(_.ops.size).getOrElse(0)).toDouble
    def task(n: String) = med(i.flatMap(_.taskTimes.get(n)))
    def vt(n: String) = med(i.flatMap(_.vtTimes.get(n)))
    def extra(n: String) = i.flatMap(_.extra.get(n)).map(_._1).getOrElse(0.0)
    val added = i.map(_.filesAdded.toSeq).getOrElse(Nil)
    def meanAdded(f: ((Long, Long)) => Long) =
      if (added.isEmpty) 0.0 else added.map(f).sum.toDouble / added.size

    Seq(
      "queries.build_s" -> (med(q.flatMap(_.phaseTimes.get("build"))), "s"),
      "queries.build_jobs" -> (jobs(_ == "queries.build") / nQueries, "count"),
      "queries.plan_s" -> (med(q.flatMap(_.phaseTimes.get("plan"))), "s"),
      "queries.action_s" -> (med(q.flatMap(_.phaseTimes.get("action"))), "s"),
      "queries.action_jobs" -> (jobs(_ == "queries.action") / nQueries, "count")) ++
    curate.map(n => s"query.${n}_s" -> (med(q.flatMap(_.perQuery.get(n))), "s")) ++
    Seq(
      "spark.jobs" -> (all.jobs / cycles, "count"),
      "spark.stages" -> (all.stages / cycles, "count"),
      "spark.tasks" -> (all.tasks / cycles, "count"),
      "spark.task_run_s" -> (all.runMs / 1000.0 / cycles, "s"),
      "spark.task_cpu_s" -> (all.cpuNs / 1e9 / cycles, "s"),
      "spark.task_wait_s" -> (all.waitMs / 1000.0 / math.max(1L, all.tasks), "s"),
      "spark.driver_s" -> ((wallMs - l.jobCoveredMs(wallStartMs, wallEndMs)) /
        1000.0 / cycles, "s"),
      "spark.slot_busy_ratio" -> (all.runMs / (wallMs * cores), "ratio"),
      "spark.scan_bytes" -> (all.scanBytes / cycles, "bytes"),
      "spark.shuffle_read_bytes" -> (all.shuffleRead / cycles, "bytes"),
      "spark.shuffle_write_bytes" -> (all.shuffleWrite / cycles, "bytes"),
      "spark.spill_bytes" -> (all.spill / cycles, "bytes"),
      "spark.result_bytes" -> (all.result / cycles, "bytes")) ++
    writeKinds.map(k => s"sources.${k}_s" -> (vt(k), "s")) ++
    Seq(
      "sources.commit_jobs" -> (jobs(p => writeKinds.exists(k => p == s"sources.$k")) /
        writes, "count"),
      "sources.scan_s" -> (vt("scan"), "s"),
      "sources.latest_version_s" -> (vt("latest_version"), "s"),
      "sources.files_added" -> (meanAdded(_._1), "count"),
      "sources.bytes_added" -> (meanAdded(_._2), "bytes"),
      "sources.live_files" -> (extra("live_files"), "count"),
      "sources.log_files" -> (extra("log_files"), "count"),
      "silver.ticket_s" -> (task("silver_ticket"), "s"),
      "silver.review_s" -> (task("silver_review"), "s"),
      "silver.facility_s" -> (task("silver_facility"), "s"),
      "gold.refresh_s" -> (task("gold_refresh"), "s"),
      "pipeline.overhead_s" -> (med(i.map(_.overheads)), "s"),
      "ingest.rows_per_s" -> (i.map(_.rowsPerSecond).getOrElse(0.0), "rows/s"),
      "ingest.bytes_per_user_byte" -> (extra("bytes_per_user_byte"), "ratio"),
      "core.session_s" -> (Stats.median(sessionS), "s"),
      "core.tables_s" -> (Stats.median(tablesS), "s"),
      "jvm.gc_s" -> (gcS / cycles, "s"))
  }
}
