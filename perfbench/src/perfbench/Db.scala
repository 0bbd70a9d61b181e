package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{EngineBroker, HttpApi}
import graft.core.PropertyGraph
import graft.cypher.{LegacyParser, Parser}
import graft.engine.{GraphSession, QueryOutcome}
import graft.io.GraphStore

/** One statement of a workload, with the answer `gen.py` derived for it. */
final case class Stmt(kind: String, q: String, read: Boolean, expect: Seq[String],
    nodes: Long, edges: Long)

/** Spans of the statement path, keyed by request id. The broker gives each
  * request a distinct String object; the session finds the request id by
  * the identity of the String it is handed. */
final class Recorder {
  private val ridOf = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[String, String]())
  private val next = new AtomicInteger(0)
  // rid -> (query, broker start ns, broker end ns)
  val broker = new java.util.concurrent.ConcurrentHashMap[String, (String, Long, Long)]()
  // rid -> (engine start ns, end ns, start wall ms, end wall ms)
  val engine = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long, Long)]()
  val partitions = mutable.ArrayBuffer.empty[Long]
  // rid -> ns the traced session spent reading the snapshot's partition count
  val probe = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  def register(q: String): String = { val r = s"r${next.incrementAndGet()}"; ridOf.put(q, r); r }
  def rid(q: String): String = Option(ridOf.get(q)).getOrElse("unregistered")
}

/** [[GraphSession]] that tags the Spark jobs of each statement with its
  * request id and records the statement's span on the engine thread. */
class TracedSession(c: Ctx, rec: Recorder) extends GraphSession(c.spark) {
  override def execute(query: String): QueryOutcome = {
    val rid = rec.rid(query)
    c.tag(s"stmt/$rid")
    val t0 = System.nanoTime(); val w0 = System.currentTimeMillis()
    try super.execute(query)
    finally {
      rec.engine.put(rid, (t0, System.nanoTime(), w0, System.currentTimeMillis()))
      if (c.trace) {
        val p0 = System.nanoTime()
        c.tag("probe")
        val parts = graph.nodes.queryExecution.toRdd.getNumPartitions.toLong +
          graph.edges.queryExecution.toRdd.getNumPartitions
        rec.partitions.synchronized(rec.partitions += parts)
        rec.probe.put(rid, System.nanoTime() - p0)
      }
    }
  }
}

/** [[EngineBroker]] that registers each request and records its span:
  * enqueue to reply, as the transport thread sees it. */
class TracedBroker(session: GraphSession, rec: Recorder) extends EngineBroker(session) {
  override def execute(query: String, params: Option[Map[String, String]],
      timeoutSec: Long): Option[Either[String, QueryOutcome]] = {
    val q = new String(query)
    val rid = rec.register(q)
    val t0 = System.nanoTime()
    try super.execute(q, params, timeoutSec)
    finally rec.broker.put(rid, (query, t0, System.nanoTime()))
  }
}

/** One HTTP request as the client saw it. */
final case class Call(i: Int, st: Stmt, t0: Long, t1: Long, ok: Boolean, rows: Int)

object Db {
  private val mapper = new ObjectMapper()

  def stmts(path: String): IndexedSeq[Stmt] =
    Files.readAllLines(Paths.get(path)).asScala.toIndexedSeq.map { l =>
      val n = mapper.readTree(l)
      def long(f: String) = Option(n.get(f)).map(_.asLong).getOrElse(0L)
      Stmt(n.get("kind").asText, n.get("q").asText, n.get("read").asBoolean,
        n.get("expect").elements.asScala.map(_.asText).toSeq, long("nodes"), long("edges"))
    }

  /** Row strings in the form `gen.py` writes its answers in. */
  def normalise(body: JsonNode): Seq[String] =
    body.get("rows").elements.asScala.map { r =>
      r.get("kind").asText match {
        case "info" => r.get("info").asText
        case "node" =>
          val props = Option(r.get("metadata")).toSeq.flatMap(_.properties.asScala)
            .map(e => e.getKey -> e.getValue.asText).sortBy(_._1)
          val key = props.collectFirst { case ("key", v) => v }.getOrElse(r.get("id").asText)
          s"node:$key " + props.map { case (k, v) => s"$k=$v" }.mkString(",")
        case k => s"$k:${r.get("id").asText}"
      }
    }.toSeq.sorted

  /** POST one statement; (ok, answer rows). */
  def post(port: Int, q: String): (Int, Option[Seq[String]]) = {
    val conn = URI.create(s"http://127.0.0.1:$port/api/query").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/json")
    val body = s"""{"query":${Json.str(q)}}"""
    conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
    val code = conn.getResponseCode
    val stream = if (code == 200) conn.getInputStream else conn.getErrorStream
    val text = if (stream == null) "" else new String(stream.readAllBytes(), StandardCharsets.UTF_8)
    if (code == 200) (code, Some(normalise(mapper.readTree(text)))) else {
      System.err.println(s"[db] HTTP $code for $q: $text")
      (code, None)
    }
  }

  final class Server(val c: Ctx, graph: PropertyGraph) {
    val rec = new Recorder
    val session = new TracedSession(c, rec)
    session.graph = graph
    val broker = new TracedBroker(session, rec)
    val api = new HttpApi(session, port = 0, broker0 = Some(broker))
    val port: Int = api.start()
    def stop(): Unit = { api.stop(); broker.stop() }
  }

  /** Closed loop, one client: statements in order from `from` until
    * `seconds` have passed or the list ends; the calls and the seconds
    * from the start to the last reply. */
  def loop(s: Server, all: IndexedSeq[Stmt], from: Int, seconds: Double): (Seq[Call], Double) = {
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val calls = mutable.ArrayBuffer.empty[Call]
    var i = from
    while (i < all.size && System.nanoTime() < deadline) {
      calls += one(s, i, all(i))
      i += 1
    }
    (calls.toSeq, (calls.lastOption.map(_.t1).getOrElse(start) - start) / 1e9)
  }

  def one(s: Server, i: Int, st: Stmt): Call = {
    val t0 = System.nanoTime()
    val (code, rows) = try post(s.port, st.q)
      catch { case e: Exception => System.err.println(s"[db] $e"); (0, None) }
    val t1 = System.nanoTime()
    val ok = code == 200 && (!st.read || rows.contains(st.expect))
    if (code == 200 && st.read && !ok)
      System.err.println(s"[db] wrong answer for ${st.q}: extra ${rows.get.diff(st.expect).take(8)} " +
        s"missing ${st.expect.diff(rows.get).take(8)}")
    Call(i, st, t0, t1, ok, rows.map(_.size).getOrElse(0))
  }

  private def account(c: Ctx, calls: Seq[Call]): Unit = {
    c.attempted += calls.size
    c.failed += calls.count(!_.ok)
  }

  /** Save `g` under `root` and load it back `n` times (each load also
    * counts both frames, which reads every file); the last graph and the
    * median load seconds. */
  def saveLoad(c: Ctx, g: PropertyGraph, root: String, n: Int): (PropertyGraph, Double, Double) = {
    c.tag("io")
    val s0 = System.nanoTime()
    GraphStore.save(g, root)
    val save = (System.nanoTime() - s0) / 1e9
    var last: PropertyGraph = null
    val loads = (1 to n).map { _ =>
      val t0 = System.nanoTime()
      last = GraphStore.load(c.spark, root)
      last.nodeCount; last.relationshipCount
      (System.nanoTime() - t0) / 1e9
    }
    (last, Stats.median(loads), save)
  }

  def mixedSmall(c: Ctx): Unit = {
    val g = PropertyGraph(
      c.spark.read.schema(PropertyGraph.nodeSchema).parquet(s"${c.work}/data/mixed_nodes.parquet"),
      c.spark.read.schema(PropertyGraph.edgeSchema).parquet(s"${c.work}/data/mixed_edges.parquet"))
    val all = Db.stmts(s"${c.work}/stmts.jsonl")
    val (loaded, loadS, saveS) = saveLoad(c, g, s"${c.work}/store", 3)
    c.metric("setup_s", loadS, "s")
    c.log("set-up done")
    val srv = new Server(c, loaded)
    try {
      // first pass: one cycle of the kinds, right after set-up
      val (first, _) = loop(srv, all.take(FirstPass), 0, 1e6)
      c.log("first pass done")
      val (calls, window) = loop(srv, all, FirstPass, c.seconds)
      c.log(s"${calls.size} statements done")
      account(c, first ++ calls)
      val lat = calls.map(x => (x.t1 - x.t0) / 1e6)
      c.metric("first_pass_s", first.map(x => (x.t1 - x.t0) / 1e9).sum, "s")
      c.metric("ops_per_s", calls.size / window, "1/s")
      c.metric("p50_ms", Stats.median(lat), "ms")
      c.metric("tail_ms", Stats.pct(lat, TailPct), "ms")
      c.checks("tail") = s"tail_ms is p${TailPct.toInt} of ${calls.size} statements"

      endState(c, srv, all((first ++ calls).map(_.i).max))
      if (c.trace) perLayer(c, srv, calls, loadS, saveS)
    } finally srv.stop()
  }

  /** Statements in one cycle of the kinds, the first pass. */
  val FirstPass = 15

  /** About 2.2 statements a second over a 12 s window: about 26 samples,
    * so p60 is the highest percentile with 10 samples above it. */
  val TailPct = 60.0

  /** The live graph matches the generator's model, has no dangling edges,
    * and survives a save/load round trip unchanged. */
  private def endState(c: Ctx, srv: Server, last: Stmt): Unit = {
    c.tag("check")
    val g = srv.session.graph
    val (n, e) = (g.nodeCount, g.relationshipCount)
    c.check("mixed.model_counts", n == last.nodes && e == last.edges,
      s"nodes $n edges $e, model ${last.nodes} ${last.edges}")
    val dangling = g.danglingEdges.count()
    c.check("mixed.dangling_edges", dangling == 0, s"$dangling dangling edges")
    val back = {
      GraphStore.save(g, roundtrip(c))
      GraphStore.load(c.spark, roundtrip(c))
    }
    def canon(df: DataFrame, cols: Seq[String]): DataFrame =
      df.select((cols.map(col) :+ to_json(array_sort(map_entries(col("properties")))).as("p")): _*)
    def same(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val nodeCols = Seq("id", "label")
    val edgeCols = Seq("id", "src", "dst", "label")
    val ok = same(canon(g.nodes, nodeCols), canon(back.nodes, nodeCols)) &&
      same(canon(g.edges, edgeCols), canon(back.edges, edgeCols))
    c.check("mixed.save_load_roundtrip", ok, if (ok) "equal" else "differs from the live graph")
  }

  /** Where the end-state check saves the live graph. */
  private def roundtrip(c: Ctx): String = s"${c.work}/roundtrip"

  def sparkTotals(c: Ctx, all: Agg, ops: Int, wallS: Double): Unit = {
    val per = math.max(1, ops).toDouble
    c.metric("spark.jobs", all.jobs / per, "count")
    c.metric("spark.stages", all.stages / per, "count")
    c.metric("spark.tasks", all.tasks / per, "count")
    c.metric("spark.shuffle_read_bytes", all.shuffleReadBytes / per, "B")
    c.metric("spark.shuffle_write_bytes", all.shuffleWriteBytes / per, "B")
    c.metric("spark.spill_bytes", (all.memSpill + all.diskSpill) / per, "B")
    c.metric("spark.executor_cpu_s", all.cpuNs / 1e9 / per, "s")
    c.metric("spark.executor_run_s", all.runMs / 1e3 / per, "s")
    c.metric("spark.gc_s", all.gcMs / 1e3 / per, "s")
    c.metric("spark.cpu_util", if (wallS <= 0) 0.0 else all.cpuNs / 1e9 / (wallS * c.cpus), "share")
  }

  val ReadKinds: Seq[String] = Seq("point", "hop1", "legacy_match")
  val WriteKinds: Seq[String] = Seq("create_node", "legacy_create", "create_rel", "merge_rel",
    "set", "remove", "detach_delete")

  private def perLayer(c: Ctx, srv: Server, calls: Seq[Call],
      loadS: Double, saveS: Double): Unit = {
    val rec = srv.rec
    // match each HTTP call to the broker span of the same text inside it
    val brokerSpans = rec.broker.asScala.toSeq.sortBy(_._2._2)
    val used = mutable.Set.empty[String]
    val matched = calls.flatMap { x =>
      brokerSpans.find { case (rid, (q, b0, b1)) =>
        !used(rid) && q == x.st.q && b0 >= x.t0 && b1 <= x.t1
      }.map { case (rid, (_, b0, b1)) => used += rid; (x, rid, b0, b1) }
    }
    val transport = matched.map { case (x, _, b0, b1) => ((x.t1 - x.t0) - (b1 - b0)) / 1e6 }
    val queue = matched.flatMap { case (_, rid, b0, b1) =>
      Option(rec.engine.get(rid)).map { case (e0, e1, _, _) =>
        ((b1 - b0) - (e1 - e0) - rec.probe.getOrDefault(rid, 0L)) / 1e6
      }
    }
    c.metric("api.transport_ms", Stats.median(transport), "ms")
    c.metric("api.queue_wait_p50_ms", Stats.median(queue), "ms")
    c.metric("api.queue_wait_tail_ms", Stats.pct(queue, TailPct), "ms")

    // per statement kind: engine span, jobs and tasks
    val perStmt = matched.flatMap { case (x, rid, b0, b1) =>
      Option(rec.engine.get(rid)).map(x -> _).map { case (x, (e0, e1, w0, w1)) =>
      val a = c.counted(s"stmt/$rid")
      val t = c.tracer
      val (h, b, e) = (t.nextId(), t.nextId(), t.nextId())
      t.span("http.request", h, None, Some(rid), t.rel(x.t0), t.rel(x.t1),
        Seq("ok" -> x.ok.toString, "rows" -> Json.num(x.rows.toLong)))
      t.span("api.broker", b, Some(h), Some(rid), t.rel(b0), t.rel(b1), Seq.empty)
      t.span(s"engine.${x.st.kind}", e, Some(b), Some(rid), t.rel(e0), t.rel(e1), a.fields)
      (x, (e1 - e0) / 1e6, a, Stats.uncovered(w0, w1, a.jobSpans.toSeq).toDouble)
      }
    }
    (ReadKinds ++ WriteKinds).foreach { k =>
      val ks = perStmt.filter(_._1.st.kind == k)
      c.metric(s"engine.$k.exec_ms", Stats.median(ks.map(_._2)), "ms")
      c.metric(s"engine.$k.jobs", Stats.mean(ks.map(_._3.jobs.toDouble)), "count")
      c.metric(s"engine.$k.tasks", Stats.mean(ks.map(_._3.tasks.toDouble)), "count")
    }
    c.metric("engine.driver_ms", Stats.median(perStmt.map(_._4)), "ms")
    val reads = perStmt.filter(_._1.st.read)
    val examined = reads.map(r => r._3.inputRecords + r._3.shuffleReadRecords).sum
    c.metric("engine.rows_examined_per_row",
      examined.toDouble / math.max(1, reads.map(_._1.rows).sum), "ratio")

    // cypher: parse cost of the statements this run sent
    val texts = calls.map(_.st.q).distinct
    val parseUs = texts.map { q =>
      val t0 = System.nanoTime()
      try {
        if (q.toUpperCase.startsWith("MATCH NODE") || q.toUpperCase.startsWith("CREATE NODE"))
          LegacyParser.parse(q)
        else if (q.toUpperCase.contains(" MERGE ")) LegacyParser.parsePairwiseMerge(q)
        else Parser.parse(q)
      } catch { case _: Exception => }
      (System.nanoTime() - t0) / 1e3
    }
    c.metric("cypher.parse_us", Stats.median(parseUs), "us")

    // core: the per-mutation commit and the snapshot it leaves
    val writes = perStmt.filterNot(_._1.st.read)
    c.metric("core.commit_jobs_per_write",
      if (writes.isEmpty) 0.0 else writes.map(_._3.commitJobs).sum.toDouble / writes.size, "count")
    c.metric("core.commit_ms_per_write",
      if (writes.isEmpty) 0.0 else writes.map(_._3.commitMs).sum.toDouble / writes.size, "ms")
    val parts = rec.partitions.synchronized(rec.partitions.toSeq)
    c.metric("core.snapshot_partitions_max", parts.maxOption.getOrElse(0L).toDouble, "count")
    c.metric("core.snapshot_partitions_final", parts.lastOption.getOrElse(0L).toDouble, "count")

    // io: snapshot persistence; bytes on disk and in the graph both of the
    // live graph, which the end-state check saved
    c.metric("io.load_s", loadS, "s")
    c.metric("io.save_s", saveS, "s")
    c.tag("io")
    val g = srv.session.graph
    def userBytes(df: DataFrame, cols: Seq[String]): Long = {
      val strs = cols.map(x => coalesce(octet_length(col(x)), lit(0))) :+
        coalesce(aggregate(map_values(col("properties")), lit(0), (acc, v) => acc + octet_length(v)) +
          aggregate(map_keys(col("properties")), lit(0), (acc, v) => acc + octet_length(v)), lit(0))
      df.select(strs.reduce(_ + _).cast("long").as("b")).agg(sum("b")).head().getLong(0)
    }
    val user = userBytes(g.nodes, Seq("id", "label")) + userBytes(g.edges, Seq("id", "src", "dst", "label"))
    val disk = Files.walk(Paths.get(roundtrip(c))).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).map(Files.size).sum
    c.metric("io.bytes_per_user_byte", disk.toDouble / math.max(1L, user), "ratio")

    // user-facing latency by operation type
    def lat(xs: Seq[Call]) = xs.map(x => (x.t1 - x.t0) / 1e6)
    val (r, w) = calls.partition(_.st.read)
    c.metric("read_p50_ms", Stats.median(lat(r)), "ms")
    c.metric("read_tail_ms", Stats.pct(lat(r), TailPct), "ms")
    c.metric("write_p50_ms", Stats.median(lat(w)), "ms")
    c.metric("write_tail_ms", Stats.pct(lat(w), TailPct), "ms")

    val all = new Agg
    perStmt.foreach(p => all.add(p._3))
    sparkTotals(c, all, perStmt.size, perStmt.map(_._2).sum / 1e3)
  }
}
