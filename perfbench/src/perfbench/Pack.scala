package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.{SparkEntry, Tables}

/** The analytics pack: each query is drained through the `noop` sink, so
  * every column is computed and nothing is written. One cold pass in a
  * fresh JVM, then warm passes in fixed order until the time is up. */
object Pack {

  /** The queries of the workload and the operator object behind each: one
    * per object, plus the PageRank, SSSP and k-core loops (the algo set).
    * Each query is paid cold once per run, which is most of a run's time,
    * so the list holds only the cheaper query of each object. */
  val Queries: Seq[(String, String)] = Seq(
    "q03_join_topk" -> "RelationalOps",
    "q21_token_count" -> "TextOps",
    "q40_multimodal_pipeline" -> "MultimodalOps",
    "q53_pagerank" -> "GraphOps",
    "q57_copurchase" -> "CooccurrenceOps",
    "q65_kcore" -> "GraphOps",
    "q66_sessions" -> "TemporalOps",
    "q73_bucketed_join" -> "BucketedOps",
    "q100_bloom_contamination" -> "SketchOps",
    "q104_embedding_stats" -> "SimilarityOps",
    "q107_shortest_path" -> "GraphOps")

  val Algo: Set[String] = Set("q53_pagerank", "q65_kcore", "q107_shortest_path")

  val Objects: Seq[String] = Queries.map(_._2).distinct.sorted

  val Tables10: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def query(c: Ctx, name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(c.spark, dir)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Drain one query; seconds, or None when it threw. */
  def drain(c: Ctx, name: String, dir: String, key: String): Option[Double] = {
    c.tag(key)
    val id = c.tracer.nextId()
    val t0 = c.tracer.now
    val r = try { noop(query(c, name, dir)); true }
    catch { case e: Exception =>
      System.err.println(s"[pack] $name failed: ${e.getMessage}"); false }
    val t1 = c.tracer.now
    System.err.println(f"[pack] $key ${(t1 - t0) / 1e9}%.3f s")
    c.attempted += 1
    if (!r) c.failed += 1
    if (c.trace) c.tracer.span(s"pack.drain.$name", id, None, Some(key), t0, t1,
      c.counted(key).fields)
    if (r) Some((t1 - t0) / 1e9) else None
  }

  def run(c: Ctx): Unit = {
    val dir = s"${c.work}/data"
    val names = Queries.map(_._1)

    // set-up: open the ten input tables (file listing and parquet footers)
    val setups = (1 to 3).map { i =>
      c.tag(s"setup$i")
      val t0 = System.nanoTime()
      Tables10.foreach(t => Tables(c.spark, dir, t).schema)
      (System.nanoTime() - t0) / 1e9
    }
    c.metric("setup_s", Stats.median(setups), "s")
    c.log("set-up done")

    val cold = names.map(n => n -> drain(c, n, dir, s"cold/$n")).toMap
    c.log("cold pass done")
    // warm: query after query in the same order until the time is up
    val warm = mutable.ArrayBuffer.empty[(String, Int, Option[Double])]
    val start = System.nanoTime()
    while (warm.size < names.size || (System.nanoTime() - start) / 1e9 < c.seconds) {
      val n = names(warm.size % names.size)
      val p = warm.size / names.size
      warm += ((n, p, drain(c, n, dir, s"warm$p/$n")))
    }
    val window = (System.nanoTime() - start) / 1e9
    c.log(s"${warm.size} warm drains done")

    // p50 is over every warm drain: a query's own median rests on one or
    // two drains, so the median of those swings more from run to run. The
    // tail is over the queries' medians, so it marks a slow query, not one
    // slow drain.
    def warmOf(n: String): Seq[Double] = warm.toSeq.collect { case (`n`, _, Some(s)) => s }
    val perQuery = names.map(n => Stats.median(warmOf(n)) * 1000)
    c.metric("first_pass_s", cold.values.flatten.sum, "s")
    c.metric("ops_per_s", warm.size / window, "1/s")
    c.metric("p50_ms", Stats.median(warm.toSeq.flatMap(_._3).map(_ * 1000)), "ms")
    c.metric("tail_ms", Stats.pct(perQuery, TailPct), "ms")

    if (c.trace) perLayer(c, names, cold, warm.toSeq, n => Stats.median(warmOf(n)))
    // a third of the queries, chosen by the seed, so every query is
    // checked across runs
    c.oracleQueries = names.zipWithIndex.collect { case (n, i) if (i + c.seed) % 3 == 0 => n }
  }

  /** Percentile of the per-query warm latencies reported as `tail_ms`. */
  val TailPct = 90.0

  private def perLayer(c: Ctx, names: Seq[String], cold: Map[String, Option[Double]],
      warm: Seq[(String, Int, Option[Double])], warmMedian: String => Double): Unit = {
    val full = warm.size / names.size // complete warm passes
    def warmAgg(n: String): Agg = c.counted(s"warm0/$n")
    c.metric("pack_cold_s", cold.values.flatten.sum, "s")
    c.metric("pack_warm_s", names.map(warmMedian).sum, "s")
    Objects.foreach { o =>
      val qs = Queries.filter(_._2 == o).map(_._1)
      c.metric(s"operators.$o.warm_s", qs.map(warmMedian).sum, "s")
      c.metric(s"operators.$o.cold_s", qs.flatMap(cold(_)).sum, "s")
      c.metric(s"operators.$o.shuffle_bytes", qs.map(warmAgg(_).shuffleWriteBytes).sum.toDouble, "B")
      c.metric(s"operators.$o.tasks", qs.map(warmAgg(_).tasks).sum.toDouble, "count")
    }
    val algo = names.filter(Algo)
    c.metric("algo.cold_s", algo.flatMap(cold(_)).sum, "s")
    c.metric("algo.warm_s", algo.map(warmMedian).sum, "s")
    c.metric("algo.cold_jobs", algo.map(n => c.counted(s"cold/$n").jobs).sum.toDouble, "count")

    // the counters of a query repeat exactly from one warm drain to the next
    val repeat = names.count(n => warm.collect { case (`n`, p, _) => c.counted(s"warm$p/$n").shape }
      .distinct.size == 1)
    c.metric("check.counts_repeat", repeat.toDouble / names.size, "share")
    c.checks("pack.counts_repeat") =
      s"$repeat of ${names.size} queries have identical counters in every warm drain ($full full passes)"

    // claim for q100's Bloom probe: its three chained broadcast semi-joins
    // stay map-side up to one doc_id-keyed exchange, so no shingle text is
    // shuffled on the probe side
    val probe = c.counters.get.exchanges("warm0/q100_bloom_contamination").filter(_._1 >= 3)
    val rec = probe.map(_._2).sum
    val bytes = probe.map(_._3).sum
    c.metric("q100.probe_exchanges", probe.size.toDouble, "count")
    c.metric("q100.probe_bytes_per_record", if (rec == 0) 0.0 else bytes.toDouble / rec, "B")
    c.checks("q100.claim") = s"${probe.size} shuffle exchange(s) above the three broadcast semi-joins, " +
      s"$rec records, $bytes bytes (${if (rec == 0) 0 else bytes / rec} B/record)"

    val all = new Agg
    warm.foreach { case (n, p, _) => all.add(c.counted(s"warm$p/$n")) }
    Db.sparkTotals(c, all, warm.size, warm.flatMap(_._3).sum)
  }
}
