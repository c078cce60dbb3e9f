package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The per-layer record of a traced run. Three listeners of the
  * benchmark's own (a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener) count what Spark did while a round was
  * timed; the workloads add spans they time around their calls into
  * the program. Every figure is summed per round and reported as the
  * mean over the run's rounds, except the peaks kept by `peak`. */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile private var on = false

  private final class Job(val start: Long) { @volatile var end: Long = -1L }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val sums = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private val peaks = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  def add(key: String, v: Double): Unit = sums.merge(key, v, (a, b) => a + b)
  def peak(key: String, v: Double): Unit = peaks.merge(key, v, (a, b) => math.max(a, b))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      jobs.put(e.jobId, new Job(e.time))
      add("exec.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.end = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (on) add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      add("exec.tasks", 1)
      add("exec.task_run_ms", m.executorRunTime.toDouble)
      add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
      add("exec.gc_ms", m.jvmGCTime.toDouble)
      add("exec.shuffle_read_bytes",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
      add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      peak("exec.peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (on) phases(qe)
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        if (Set("analysis", "optimization", "planning")(phase))
          add(s"catalyst.${phase}_ms", s.durationMs.toDouble)
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (on) {
      val p = e.progress
      add("streaming.batches", 1)
      Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "getBatch", "latestOffset")
        .foreach(k => add(s"streaming.${k}_ms",
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      add("streaming.input_rows", p.numInputRows.toDouble)
      p.stateOperators.foreach { s =>
        add("streaming.state_commit_ms", s.commitTimeMs.toDouble)
        add("streaming.rows_dropped_by_watermark", s.numRowsDroppedByWatermark.toDouble)
      }
      peak("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      peak("streaming.state_memory_bytes", p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
    }
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  private var roundStart = 0L
  private val perRound = mutable.ArrayBuffer.empty[Map[String, Double]]

  /** Start counting: everything Spark did before this is delivered
    * and left out. */
  def begin(): Unit = {
    org.apache.spark.perfbench.BusDrain(sc)
    sums.clear()
    jobs.clear()
    on = true
    roundStart = System.currentTimeMillis()
  }

  /** Jobs that started in [from, until) (epoch ms). */
  def jobsStarted(from: Long, until: Long): Int = {
    org.apache.spark.perfbench.BusDrain(sc)
    jobs.values.asScala.count(j => j.start >= from && j.start < until)
  }

  /** Stop counting and keep this round's sums. */
  def end(): Unit = {
    val roundEnd = System.currentTimeMillis()
    org.apache.spark.perfbench.BusDrain(sc)
    on = false
    // wall time of the round that no job covered: query build, planning, scheduling
    val spans = jobs.values.asScala.toSeq
      .map(j => (math.max(j.start, roundStart), math.min(if (j.end < 0) roundEnd else j.end, roundEnd)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    spans.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    add("exec.outside_jobs_ms", (roundEnd - roundStart - covered).toDouble)
    perRound += sums.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  }

  /** Mean per round of every summed figure, peaks as peaks. The
    * streaming durations are means per micro-batch. */
  def record(): Map[String, Double] = {
    val n = math.max(perRound.size, 1)
    val keys = perRound.flatMap(_.keys).distinct
    val means = keys.map(k => k -> perRound.map(_.getOrElse(k, 0.0)).sum / n).toMap
    val batches = means.getOrElse("streaming.batches", 0.0)
    val perBatch = means.map {
      case (k, v) if k.startsWith("streaming.") && k.endsWith("_ms") =>
        k -> (if (batches > 0) v / batches else 0.0)
      case kv => kv
    }
    perBatch ++ peaks.asScala.map { case (k, v) => k -> v.doubleValue }
  }

  def close(): Unit = {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}
