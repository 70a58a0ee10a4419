package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans and Spark counters of a traced run.
  *
  * Only the harness's own calls are traced: each operation, phase, DAG
  * task and VersionedTable call the harness makes is a span, and a
  * phase label set with `setLocalProperty` around each call tags every
  * Spark job launched inside it, so the listener can group jobs,
  * stages and task metrics by label. Untraced, or before `start`, `span`
  * and `phase` only run their body. Spans stay in memory until the run
  * writes them out.
  */
final class Trace(val enabled: Boolean, sc: SparkContext) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0
  /** Id of the operation the current spans belong to. */
  var opId: Int = 0

  val listener: PhaseListener = new PhaseListener
  private var active = false
  /** Whether spans and Spark counters are being recorded. */
  def recording: Boolean = active

  /** Start recording (after set-up and warm-up). */
  def start(): Unit = if (enabled) {
    sc.addSparkListener(listener)
    active = true
  }

  def span[T](kind: String, name: String)(body: => T): T =
    if (!active) body
    else {
      nextId += 1
      val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0), opId,
        kind, name, System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
      }
    }

  /** A span whose Spark jobs carry `label` (the innermost label wins). */
  def phase[T](label: String, name: String)(body: => T): T =
    if (!active) body
    else {
      val prev = sc.getLocalProperty(PhaseKey)
      sc.setLocalProperty(PhaseKey, label)
      try span(label, name)(body)
      finally sc.setLocalProperty(PhaseKey, prev)
    }

  def all: Seq[Span] = spans.toSeq

  /** Listener events post asynchronously: wait until the counters stop
    * moving before reading them. */
  def quiesce(): Unit = if (active) {
    var last = -1L; var spins = 0
    while (listener.eventCount != last && spins < 40) {
      last = listener.eventCount; Thread.sleep(150); spins += 1
    }
  }

  def close(): Unit = if (active) {
    sc.removeSparkListener(listener)
    active = false
  }

  /** Per span name: count, total seconds, self seconds (duration minus
    * the time its child spans cover). */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val childTime = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childTime(s.parent) += s.end - s.start)
    spans.groupBy(s => s.kind + ":" + s.name).toSeq.map { case (k, ss) =>
      (k, ss.size, ss.map(s => s.end - s.start).sum / 1e9,
        ss.map(s => s.end - s.start - childTime(s.id)).sum / 1e9)
    }.sortBy(-_._4)
  }
}

object Trace {
  val PhaseKey = "perfbench.phase"

  final case class Span(id: Int, parent: Int, op: Int, kind: String,
                        name: String, start: Long, var end: Long)

  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var waitMs = 0L
    var scanBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
    var spill = 0L; var result = 0L
  }

  /** Groups Spark work by the phase label of the job that ran it, and
    * keeps every job's [start, end] to find the time no job was running. */
  final class PhaseListener extends SparkListener {
    private val stagePhase = new ConcurrentHashMap[Int, String]()
    private val stageSubmit = new ConcurrentHashMap[Int, Long]()
    private val jobStart = new ConcurrentHashMap[Int, Long]()
    val byPhase: mutable.Map[String, Counters] = mutable.Map.empty
    val jobIntervals: mutable.ArrayBuffer[(Long, Long)] =
      mutable.ArrayBuffer.empty
    @volatile var eventCount = 0L

    private def counters(phase: String): Counters = byPhase.synchronized {
      byPhase.getOrElseUpdate(phase, new Counters)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val phase = Option(e.properties).flatMap(p =>
        Option(p.getProperty(PhaseKey))).getOrElse("other")
      e.stageInfos.foreach(s => stagePhase.put(s.stageId, phase))
      jobStart.put(e.jobId, e.time)
      val c = counters(phase)
      c.synchronized { c.jobs += 1 }
      eventCount += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = Option(jobStart.remove(e.jobId)).getOrElse(e.time)
      jobIntervals.synchronized { jobIntervals += ((start, e.time)) }
      eventCount += 1
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val si = e.stageInfo
      stageSubmit.put(si.stageId,
        si.submissionTime.getOrElse(System.currentTimeMillis()))
      val c = counters(stagePhase.getOrDefault(si.stageId, "other"))
      c.synchronized { c.stages += 1 }
      eventCount += 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counters(stagePhase.getOrDefault(e.stageId, "other"))
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        val submitted = stageSubmit.getOrDefault(e.stageId,
          e.taskInfo.launchTime)
        c.waitMs += math.max(0L, e.taskInfo.launchTime - submitted)
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.scanBytes += m.inputMetrics.bytesRead
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.result += m.resultSize
        }
      }
      eventCount += 1
    }

    /** Counters summed over every phase label that `keep` accepts. */
    def total(keep: String => Boolean): Counters = {
      val t = new Counters
      byPhase.synchronized(byPhase.toSeq).foreach { case (p, c) =>
        if (keep(p)) c.synchronized {
          t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks
          t.runMs += c.runMs; t.cpuNs += c.cpuNs; t.waitMs += c.waitMs
          t.scanBytes += c.scanBytes; t.shuffleRead += c.shuffleRead
          t.shuffleWrite += c.shuffleWrite; t.spill += c.spill
          t.result += c.result
        }
      }
      t
    }

    /** Milliseconds of [from, to] covered by at least one running job. */
    def jobCoveredMs(from: Long, to: Long): Long = {
      val iv = jobIntervals.synchronized(jobIntervals.toSeq)
        .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = -1L; var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered + (curB - curA)
    }

  }
}
