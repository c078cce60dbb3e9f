package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM and one `local[N]` session:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --cpus <N> --work <dir> [--data <dir>]
  * }}}
  *
  * Times the workload's set-up five times, then runs whole rounds,
  * at least two, until `seconds` have passed, and writes everything measured to
  * `<work>/result.json`. Checking the outputs and reducing the samples
  * to metrics is left to `run.py`, so nothing the program computes
  * takes part in judging it. */
object Main {
  private val SetupRepeats = 5
  // a dashboard pass takes about as long as a run measures: without a
  // floor, a busy host would leave a run with one pass and half the samples
  private val MinRounds = 2

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** A fixed CPU-only computation; its time marks a busy host. */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 0) log("calibration degenerate")
    (System.nanoTime() - t0) / 1e6
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cpus = args("cpus").toInt
    val work = args("work")

    // the host marker is a layer figure: traced runs only
    def calibrateIfTraced(): Double = if (traced) calibrate() else 0.0
    calibrateIfTraced()
    val cal0 = calibrateIfTraced()
    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // the settings of graft.Bench's session
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      // where Spark keeps its files: inside the run's directory
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - s0) / 1e9
    try {
      val trace = if (traced) Some(new Trace(spark)) else None
      val phases = scala.collection.mutable.LinkedHashMap("session" -> sessionS)
      def phase[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        try body finally phases(name) = (System.nanoTime() - t0) / 1e9
      }
      val w: Workload = phase("prepare") {
        workload match {
          case "ingest_batch" => new IngestBatch(spark, seed, work, trace)
          case "dashboard" => new DashboardPanels(spark, seed, args("data"), work, trace)
          case "ingest_stream" => new IngestStream(spark, seed, work, trace)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
      }
      val setupS = Seq.fill(SetupRepeats) {
        val t0 = System.nanoTime()
        w.setup()
        (System.nanoTime() - t0) / 1e9
      }
      phase("warmup")(w.warmup())
      val rounds = Seq.newBuilder[Round]
      val start = System.nanoTime()
      var i = 0
      while (i < MinRounds || (System.nanoTime() - start) / 1e9 < seconds) {
        trace.foreach(_.begin())
        rounds += w.round(i)
        trace.foreach(_.end())
        i += 1
      }
      phases("rounds") = (System.nanoTime() - start) / 1e9
      val finish = phase("finish")(w.finish())
      val layers = phase("layers")(trace.map(t => t.record() ++ w.layers()).getOrElse(Map.empty))
      trace.foreach(_.close())
      val cal1 = calibrateIfTraced()
      val result = Map(
        "workload" -> workload, "seed" -> seed, "cpus" -> cpus, "traced" -> traced,
        "setup_s" -> setupS, "phases_s" -> phases,
        "calibration_ms" -> Seq(cal0, cal1),
        "rounds" -> rounds.result().map(r => Map(
          "wall_s" -> r.wallS, "items" -> r.items, "busy_s" -> r.busyS,
          "ops" -> r.ops.map { case (k, v) => Seq(k, v) }, "attempted" -> r.attempted,
          "failed" -> r.failed, "info" -> r.info)),
        "finish" -> finish,
        "layers" -> (layers + ("host.calibration_ms" -> math.max(cal0, cal1))))
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValue(new java.io.File(work, "result.json"), result)
    } finally spark.stop()
  }
}
