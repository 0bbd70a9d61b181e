package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Spark counters of one unit of work (a query drain or a statement). */
final class Agg {
  var jobs, stages, tasks = 0L
  var shuffleReadBytes, shuffleWriteBytes = 0L
  var shuffleReadRecords, shuffleWriteRecords = 0L
  var memSpill, diskSpill = 0L
  var inputRecords, resultBytes = 0L
  var runMs, cpuNs, gcMs = 0L
  var commitJobs = 0L
  var commitMs = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // wall ms

  def add(o: Agg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadRecords += o.shuffleReadRecords; shuffleWriteRecords += o.shuffleWriteRecords
    memSpill += o.memSpill; diskSpill += o.diskSpill
    inputRecords += o.inputRecords; resultBytes += o.resultBytes
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    commitJobs += o.commitJobs; commitMs += o.commitMs
  }

  /** The counts that must repeat exactly when the same work runs again. */
  def shape: Seq[Long] = Seq(jobs, stages, tasks, shuffleWriteRecords,
    shuffleReadRecords, inputRecords)

  def fields: Seq[(String, String)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_records" -> shuffleReadRecords, "shuffle_write_records" -> shuffleWriteRecords,
    "memory_spill_bytes" -> memSpill, "disk_spill_bytes" -> diskSpill,
    "input_records" -> inputRecords, "result_bytes" -> resultBytes,
    "executor_run_ms" -> runMs, "executor_cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "commit_jobs" -> commitJobs, "commit_ms" -> commitMs).map { case (k, v) => k -> Json.num(v) }
}

/** Counts Spark work per key. The key is the local property [[Counters.Key]]
  * that the thread submitting the jobs sets (the pack driver thread, or
  * the engine thread inside [[TracedSession]]). */
class Counters extends SparkListener {
  private val byKey = new ConcurrentHashMap[String, Agg]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val jobKey = new ConcurrentHashMap[Int, (String, Long, Boolean)]()
  private val execKey = new ConcurrentHashMap[Long, String]()
  private val plans = new ConcurrentHashMap[Long, SparkPlanInfo]()
  private val accums = new ConcurrentHashMap[Long, AtomicLong]()

  private def agg(k: String): Agg = byKey.computeIfAbsent(k, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val k = props.flatMap(p => Option(p.getProperty(Counters.Key))).getOrElse(Counters.Untagged)
    // a snapshot commit is a checkpoint job issued from PropertyGraph.materialized
    val site = props.flatMap(p => Option(p.getProperty("callSite.long"))).getOrElse("") +
      e.stageInfos.map(_.details).mkString
    val commit = site.contains("PropertyGraph.materialized")
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execKey.put(id.toLong, k))
    e.stageIds.foreach(s => stageKey.put(s, k))
    jobKey.put(e.jobId, (k, e.time, commit))
    val a = agg(k)
    a.synchronized { a.jobs += 1; if (commit) a.commitJobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobKey.remove(e.jobId)).foreach { case (k, t0, commit) =>
      val a = agg(k)
      a.synchronized {
        a.jobSpans += ((t0, e.time))
        if (commit) a.commitMs += e.time - t0
      }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val a = agg(stageKey.getOrDefault(e.stageInfo.stageId, Counters.Untagged))
    a.synchronized { a.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(stageKey.getOrDefault(e.stageId, Counters.Untagged))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        a.memSpill += m.memoryBytesSpilled
        a.diskSpill += m.diskBytesSpilled
        a.inputRecords += m.inputMetrics.recordsRead
        a.resultBytes += m.resultSize
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
      }
    }
    if (e.taskInfo != null) e.taskInfo.accumulables.foreach { acc =>
      acc.update match {
        case Some(v: Long) => accums.computeIfAbsent(acc.id, _ => new AtomicLong).addAndGet(v)
        case _ =>
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.put(u.executionId, u.sparkPlanInfo)
    case _ =>
  }

  def get(k: String): Agg = Option(byKey.get(k)).getOrElse(new Agg)

  /** Shuffle exchanges of the SQL executions that ran under `k`: for each
    * `Exchange` node, the number of broadcast LEFT SEMI joins below it with
    * no other shuffle in between, and the records and bytes it wrote
    * (summed from the task accumulators of its SQL metrics). */
  def exchanges(k: String): Seq[(Int, Long, Long)] = {
    // a command's plan embeds the plan of the query it runs, so one
    // exchange can appear in two executions: keep each metric id once
    val out = mutable.LinkedHashMap.empty[Long, (Int, Long, Long)]
    def sub(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(sub).toSeq
    def stage(p: SparkPlanInfo): Seq[SparkPlanInfo] =
      p +: p.children.filterNot(_.nodeName == "Exchange").flatMap(stage).toSeq
    def metric(p: SparkPlanInfo, name: String): Long =
      p.metrics.find(_.name == name).flatMap(m => Option(accums.get(m.accumulatorId)))
        .map(_.get).getOrElse(0L)
    execKey.asScala.collect { case (id, kk) if kk == k => id }.foreach { id =>
      Option(plans.get(id)).foreach { root =>
        sub(root).filter(_.nodeName == "Exchange").foreach { x =>
          val semi = x.children.flatMap(stage).count(n => n.nodeName == "BroadcastHashJoin" &&
            n.simpleString.contains("LeftSemi"))
          val id = x.metrics.find(_.name == "shuffle records written").map(_.accumulatorId).getOrElse(-1L)
          out(id) = (semi, metric(x, "shuffle records written"), metric(x, "shuffle bytes written"))
        }
      }
    }
    out.values.toSeq
  }
}

object Counters {
  val Key = "perfbench.key"
  val Untagged = "untagged"

  def sync(sc: SparkContext): Unit = org.apache.spark.BusSync.drain(sc)
}

/** JSON-lines span recorder. One record per span:
  * `{"span","id","parent","rid","start_ns","end_ns","counters"}` with
  * times in ns since the run started (see README.md). Spans stay in
  * memory until [[close]] writes them. */
class Tracer(path: Option[String]) {
  val on: Boolean = path.isDefined
  private val t0 = System.nanoTime()
  private val ids = new AtomicLong(0)
  private val lines = mutable.ArrayBuffer.empty[String]

  def now: Long = System.nanoTime() - t0
  /** A `System.nanoTime` reading as ns since the run started. */
  def rel(ns: Long): Long = ns - t0
  def nextId(): Long = ids.incrementAndGet()

  def span(name: String, id: Long, parent: Option[Long], rid: Option[String],
      startNs: Long, endNs: Long, counters: Seq[(String, String)]): Unit =
    if (on) {
      val line = Json.obj(Seq(
        "span" -> Json.str(name), "id" -> Json.num(id),
        "parent" -> parent.map(Json.num).getOrElse("null"),
        "rid" -> rid.map(Json.str).getOrElse("null"),
        "start_ns" -> Json.num(startNs), "end_ns" -> Json.num(endNs),
        "counters" -> Json.obj(counters)))
      lines.synchronized(lines += line)
    }

  def close(): Unit = path.foreach { p =>
    val w = new BufferedWriter(new FileWriter(p))
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}

object Json {
  def str(s: String): String = graft.api.Dto.q(s)
  def num(v: Long): String = v.toString
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Milliseconds of [a, b] not covered by any interval in `spans`. */
  def uncovered(a: Long, b: Long, spans: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var cur = a
    spans.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > cur) { covered += e - math.max(s, cur); cur = e }
      }
    math.max(0L, (b - a) - covered)
  }
}
