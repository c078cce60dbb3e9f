package perfbench

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `dashboard`: the 17 Grafana panels of `SparkEntry.queries` served
  * to one closed-loop client. A round is one full pass in an order the
  * seed shuffles; each panel is timed over the region `graft.Bench`
  * times, `fn(spark, dir).write.format("noop")`, and the session's
  * cache is cleared after it, outside the timing, as Bench does. */
final class DashboardPanels(spark: SparkSession, seed: Long, data: String, work: String,
                            trace: Option[Trace]) extends Workload {

  private val panels: Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq
      .filter { case (n, _) => n.matches("q\\d\\d[ab]?_.*") && !n.endsWith("_bigpath") }
      .sortBy(_._1)
  require(panels.size == 17, s"expected the 17 dashboard panels, found ${panels.map(_._1)}")

  private val tables = Seq("nation", "customer", "orders", "lineitem", "events")

  /** Open every panel table through `graft.Tables`: layout probe,
    * file listing and schema. */
  def setup(): Unit = tables.foreach(n => Tables.load(spark, data, n))

  def round(index: Int): Round = {
    val order = new scala.util.Random(seed * 7919L + index).shuffle(panels)
    val t0 = System.nanoTime()
    val ops = Seq.newBuilder[(String, Double)]
    val failed = Seq.newBuilder[String]
    order.foreach { case (name, fn) =>
      val p0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      try {
        val df = fn(spark, data)
        val p1 = System.nanoTime()
        val w1 = System.currentTimeMillis()
        df.write.format("noop").mode("overwrite").save()
        val p2 = System.nanoTime()
        ops += name -> (p2 - p0) / 1e6
        trace.foreach { t =>
          t.add("queries.build_ms", (p1 - p0) / 1e6)
          t.add("queries.write_ms", (p2 - p1) / 1e6)
          t.add("queries.build_jobs", t.jobsStarted(w0, w1 + 1).toDouble)
        }
      } catch { case e: Exception => Main.log(s"$name failed: $e"); failed += name }
      spark.sharedState.cacheManager.clearCache()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val done = ops.result()
    Round(wall, done.size.toDouble, wall, done, panels.size, failed.result(), Map.empty)
  }

  private val results = s"$work/panels"
  private var written: Seq[String] = Nil

  /** Each panel's result, written once as parquet for the DuckDB
    * oracle. This untimed pass also warms the JVM for the timed ones. */
  def warmup(): Unit =
    written = panels.flatMap { case (name, fn) =>
      try {
        fn(spark, data).write.mode("overwrite").parquet(s"$results/$name")
        Some(name)
      } catch { case e: Exception => Main.log(s"$name result failed: $e"); None }
      finally spark.sharedState.cacheManager.clearCache()
    }

  /** The results with the oracle SQL the program declares per panel. */
  def finish(): Map[String, Any] = {
    val oracle = SparkEntry.oracleSql
    Map("panels" -> panels.map(_._1), "results" -> results, "written" -> written,
      "oracle_sql" -> panels.flatMap { case (n, _) => oracle.get(n).map(n -> _) }.toMap,
      "tables" -> tables, "data" -> data)
  }
}
