package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Warm noop-drain seconds next to warm `.count()` seconds for every pack
  * query (`graft.Bench` times `.count()`, which lets Catalyst prune
  * every column the count does not read). One cold noop pass, then two
  * alternating rounds of (noop pass, count pass); each cell is the
  * faster of its two warm runs. */
object Report {
  def noopVsCount(spark: SparkSession, dir: String, out: String): Unit = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime()
      try { f; (System.nanoTime() - t0) / 1e9 }
      catch { case e: Exception => System.err.println(e.getMessage); Double.NaN }
    }
    def noop(n: String) = time(Pack.noop(SparkEntry.queries(n)(spark, dir)))
    def count(n: String) = time(SparkEntry.queries(n)(spark, dir).count())
    names.foreach(noop)
    val rounds = (1 to 2).map(_ => (names.map(noop), names.map(count)))
    val rows = names.indices.map { i =>
      val nd = rounds.map(_._1(i)).min
      val ct = rounds.map(_._2(i)).min
      (names(i), nd, ct, nd / ct)
    }
    val table = rows.sortBy(-_._4).map { case (n, nd, ct, r) =>
      f"| $n | $nd%.3f | $ct%.3f | $r%.2f |"
    }
    val data = new java.io.File(dir).getName
    val text = (Seq(s"Data: `$data`, local[${Runtime.getRuntime.availableProcessors()}].", "",
      "| query | noop drain s | count s | noop / count |", "|---|---|---|---|") ++ table ++
      Seq("", f"Totals: noop ${rows.map(_._2).sum}%.1f s, count ${rows.map(_._3).sum}%.1f s."))
      .mkString("\n")
    Files.writeString(Paths.get(out), text + "\n")
    spark.stop()
  }
}
