package perfbench

import graft.etl.RawChunk
import graft.streaming.{DashboardStreams, RtcmStreaming, StreamingReplay}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** One replay's micro-batch latencies (ms) and the query's output. */
private final case class Replay(batchMs: Seq[Double], flushMs: Seq[Double],
                                windows: Seq[Seq[Any]], dropped: Seq[Long])

/** `ingest_stream`: a live flow panel fed from the decode stream. A
  * round is one replay: a new query `MemoryStream[RawChunk]` →
  * `RtcmStreaming.decodeStream` → `DashboardStreams.flowTimeseries` →
  * memory sink; one feeder adds a fixed-size slice of chunks in
  * event-time order and waits for `processAllAvailable()` (closed
  * loop); two flush frames close the last windows. Per-mountpoint
  * framing state and window state cross every micro-batch. */
final class IngestStream(spark: SparkSession, seed: Long, work: String,
                         trace: Option[Trace]) extends Workload {
  import spark.implicits._
  private implicit val sqlContext: SQLContext = spark.sqlContext

  private val Mounts = 8
  private val FramesPerMount = 300 // five minutes per mountpoint
  private val SliceChunks = 160 // ten seconds of all mountpoints' chunks
  private val chunks = Corpus.chunks(Mounts, FramesPerMount, seed)
    .sortBy(c => (c.receiveMicros, c.mountPoint, c.seq))
  private val slices = chunks.grouped(SliceChunks).toVector
  private val maxT = chunks.map(_.receiveMicros).max
  private val expected = Corpus.expected(Mounts, FramesPerMount, seed)
  private val frames = expected.values.map(_("frames")).sum.toDouble

  // The replay contract of the program's own stream replays: a
  // micro-batch runs only when data arrives, so the second flush frame
  // is what emits the windows the first one's watermark closed.
  spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")

  /** Starts the live panel's query on an empty stream and waits until
    * it is idle: plan, checkpoint and stream thread. */
  private def start(name: String): (MemoryStream[RawChunk], StreamingQuery) = {
    val input = MemoryStream[RawChunk]
    val q = DashboardStreams.flowTimeseries(RtcmStreaming.decodeStream(input.toDS()))
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$work/checkpoints/$name")
      .start()
    try q.processAllAvailable()
    catch { case e: Throwable => stop(name, q); throw e }
    (input, q)
  }

  private def stop(name: String, q: StreamingQuery): Unit = {
    q.stop()
    spark.catalog.dropTempView(name)
    FileUtils.deleteDirectory(new java.io.File(s"$work/checkpoints/$name"))
  }

  /** The time until the live panel is ready for data: one query start. */
  def setup(): Unit = {
    val (_, q) = start("perfbench_setup")
    stop("perfbench_setup", q)
  }

  /** Feeds `data` slice by slice into a new query, then the two flush
    * frames; returns each micro-batch's latency and the query's output. */
  private def replay(name: String, data: Seq[Seq[RawChunk]]): Replay = {
    val (input, q) = start(name)
    def batch(d: Seq[RawChunk]): Double = {
      val b0 = System.nanoTime()
      input.addData(d)
      q.processAllAvailable()
      (System.nanoTime() - b0) / 1e6
    }
    try {
      val batchMs = data.map(batch)
      val flushMs = Seq.fill(2)(batch(Seq(StreamingReplay.defaultFlush(maxT))))
      val windows = spark.table(name).select("bucket", "mountpoint", "bytes").collect()
        .map(r => Seq(r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      val dropped = q.recentProgress.toSeq
        .map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum)
      Replay(batchMs, flushMs, windows, dropped)
    } finally stop(name, q)
  }

  /** The first two micro-batches and the flushes: every operator and
    * the state stores once, in half the time of a full replay. */
  def warmup(): Unit = replay("perfbench_warmup", slices.take(2))

  def round(index: Int): Round = {
    val key = s"round_$index"
    val t0 = System.nanoTime()
    try {
      val r = replay(s"perfbench_flow_$index", slices)
      val wall = (System.nanoTime() - t0) / 1e9
      Round(wall, frames, (r.batchMs.sum + r.flushMs.sum) / 1e3,
        r.batchMs.zipWithIndex.map { case (ms, i) => s"$key/$i" -> ms },
        slices.size + 2, Nil,
        Map("key" -> key, "windows" -> r.windows, "dropped_by_watermark" -> r.dropped))
    } catch {
      case e: Exception =>
        Main.log(s"$key failed: $e")
        val wall = (System.nanoTime() - t0) / 1e9
        Round(wall, 0.0, wall, Nil, slices.size + 2, Seq(key), Map("key" -> key))
    }
  }

  def finish(): Map[String, Any] =
    Map("expected" -> expected, "flush_mount" -> StreamingReplay.FlushMount,
      "input" -> Map("mountpoints" -> Mounts, "frames" -> Mounts * FramesPerMount,
        "chunks" -> chunks.size, "bytes" -> chunks.map(_.data.length.toLong).sum,
        "micro_batches" -> slices.size, "chunks_per_micro_batch" -> SliceChunks))

  override def layers(): Map[String, Double] = RtcmLayer.measure(chunks)
}
