package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftExtensions, Verify}

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val seed: Long,
    val seconds: Double, val work: String, val tracer: Tracer,
    val counters: Option[Counters]) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  /** Pack queries whose answers `run.py` checks against the DuckDB oracle. */
  var oracleQueries: Seq[String] = Nil
  def trace: Boolean = tracer.on

  /** Progress line on stderr, with seconds since the JVM started. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s $msg")

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def check(name: String, ok: Boolean, detail: String): Unit = {
    checks(name) = (if (ok) "ok: " else "FAILED: ") + detail
    if (!ok) failed += 1
  }

  /** Tag the Spark jobs this thread submits from now on. */
  def tag(key: String): Unit =
    if (trace) spark.sparkContext.setLocalProperty(Counters.Key, key)

  /** Counters of `key`, after every event so far has been delivered. */
  def counted(key: String): Agg = counters match {
    case Some(c) => Counters.sync(spark.sparkContext); c.get(key)
    case None => new Agg
  }
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR`. Writes `DIR/result.json`; `run.py` adds the answer checks
  * that need DuckDB and prints the final line. */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "pack" -> (c => Pack.run(c)),
    "db-mixed-small" -> (c => Db.mixedSmall(c)))

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.get("report").contains("noop-count")) {
      Report.noopVsCount(session(Runtime.getRuntime.availableProcessors(), a("work")),
        a("data"), a("out"))
      return
    }
    val workload = a("workload")
    val work = a("work")
    val trace = a.getOrElse("trace", "0") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val memory = new LiveMemory
    val spark = session(cpus, work)
    val counters = if (trace) Some(new Counters) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(if (trace) Some(s"$work/trace.jsonl") else None)
    val ctx = new Ctx(spark, a("seed").toLong, a("seconds").toDouble, work,
      tracer, counters)
    val sampler = if (trace) Some(new StorageSampler(spark)) else None
    try {
      ctx.log(s"session up, running $workload")
      Workloads(workload)(ctx)
      ctx.log("workload done")
      val heap = memory.stopMb()
      ctx.metric("mem_peak_mb", heap + nonHeapPeakMb(), "MB")
      if (trace) {
        ctx.metric("jvm.heap_peak_mb", heap, "MB")
        ctx.metric("jvm.storage_peak_mb", sampler.get.stop(), "MB")
      }
      if (ctx.oracleQueries.nonEmpty) {
        // Verify's dump of the checked queries and their oracle SQL; it
        // stops the session, so it comes last
        ctx.tag("verify")
        Verify.main(Array(s"$work/data", s"$work/pack_out", ctx.oracleQueries.mkString(",")))
        ctx.log("answers written")
      }
    } finally {
      tracer.close()
      writeResult(ctx, s"$work/result.json")
      spark.stop()
    }
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder().withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak use of the non-heap pools: class metadata and compiled code. */
  def nonHeapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def writeResult(c: Ctx, path: String): Unit = {
    val ms = c.metrics.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    val json = Json.obj(Seq(
      "attempted" -> Json.num(c.attempted), "failed" -> Json.num(c.failed),
      "oracle_queries" -> c.oracleQueries.map(Json.str).mkString("[", ",", "]"),
      "checks" -> Json.obj(c.checks.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "metrics" -> Json.obj(ms)))
    Files.writeString(Paths.get(path), json)
  }
}

/** Peak of Spark's block-manager storage memory, sampled every 50 ms. */
class StorageSampler(spark: SparkSession) {
  @volatile private var peak = 0L
  @volatile private var running = true
  private val t = new Thread(() => {
    while (running) {
      val used = spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum
      if (used > peak) peak = used
      Thread.sleep(50)
    }
  }, "perfbench-storage-sampler")
  t.setDaemon(true)
  t.start()

  def stop(): Double = { running = false; t.join(); peak / 1048576.0 }
}

/** The heap the program holds: the largest heap in use right after a
  * garbage collection, over every collection of the run and a full one
  * forced at its end. Unlike the resident set, which reads the fixed heap
  * size once the heap has been touched, it follows the program's use. */
final class LiveMemory {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var peak = 0L
  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** The peak, in MB. */
  def stopMb(): Double = {
    System.gc()
    val retained = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    emitters.foreach(_.removeNotificationListener(listener))
    synchronized { math.max(peak, retained) / 1048576.0 }
  }
}
