package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import graft.etl.{DecodedFrame, RawChunk, RtcmPipeline}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Dataset, SparkSession}

/** `ingest_batch`: the batch body of `RtcmStreaming.startParquetSink`
  * over a full deployment. The corpus is built once with
  * `SyntheticRtcm.chunksFor`; set-up stages it as raw-chunk parquet; a
  * round reads the chunks, frames and decodes them once, and lands the
  * packages, observations (partitioned by constellation) and
  * coordinates projections as parquet. */
final class IngestBatch(spark: SparkSession, seed: Long, work: String,
                        trace: Option[Trace]) extends Workload {
  import spark.implicits._

  private val Mounts = 45 // the reference's full deployment
  private val FramesPerMount = 1200 // twenty minutes at one frame per second
  private val staged = s"$work/staged_chunks"
  private val chunks = Corpus.chunks(Mounts, FramesPerMount, seed)
  private val expected = Corpus.expected(Mounts, FramesPerMount, seed)
  private val obsRows = expected.values.map(_("obs")).sum.toDouble

  def setup(): Unit = spark.createDataset(chunks).write.mode("overwrite").parquet(staged)

  private def timed[T](key: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally trace.foreach(_.add(key, (System.nanoTime() - t0) / 1e6))
  }

  private def land(decoded: Dataset[DecodedFrame], dir: String): Unit = {
    timed("etl.land_packages_ms") {
      RtcmPipeline.packages(decoded).write.mode("overwrite").parquet(s"$dir/rtcm_packages")
    }
    timed("etl.land_observations_ms") {
      RtcmPipeline.observations(decoded).write.mode("overwrite")
        .partitionBy("constellation").parquet(s"$dir/observations")
    }
    timed("etl.land_coordinates_ms") {
      RtcmPipeline.coordinates(decoded).write.mode("overwrite").parquet(s"$dir/coordinates_log")
    }
  }

  private def ingest(dir: String): Unit = {
    val decoded = RtcmPipeline.decode(
      RtcmPipeline.frameChunks(spark.read.parquet(staged).as[RawChunk])).persist()
    try land(decoded, dir) finally decoded.unpersist()
  }

  def warmup(): Unit = {
    ingest(s"$work/land/warmup")
    FileUtils.deleteDirectory(new File(s"$work/land/warmup"))
  }

  def round(index: Int): Round = {
    val dir = s"$work/land/round_$index"
    val key = s"round_$index"
    val t0 = System.nanoTime()
    val failed =
      try {
        if (trace.isEmpty) ingest(dir)
        else {
          // traced: each stage is materialized on its own so it can be timed
          val read = timed("etl.read_ms") {
            val c = spark.read.parquet(staged).as[RawChunk].persist(); c.count(); c
          }
          val decoded = timed("etl.frame_decode_ms") {
            val d = RtcmPipeline.decode(RtcmPipeline.frameChunks(read)).persist(); d.count(); d
          }
          try land(decoded, dir) finally { decoded.unpersist(); read.unpersist() }
        }
        Nil
      } catch { case e: Exception => Main.log(s"$key failed: $e"); Seq(key) }
    val wall = (System.nanoTime() - t0) / 1e9
    trace.foreach { t =>
      val files = FileUtils.listFiles(new File(dir), Array("parquet"), true).asScala
      t.add("etl.landed_files", files.size.toDouble)
      t.add("etl.landed_bytes", files.iterator.map(_.length.toDouble).sum)
    }
    Round(wall, if (failed.isEmpty) obsRows else 0.0, wall, Seq(key -> wall * 1e3), 1, failed,
      Map("key" -> key, "land" -> dir))
  }

  def finish(): Map[String, Any] = Map("expected" -> expected,
    "input" -> Map("mountpoints" -> Mounts, "frames" -> Mounts * FramesPerMount,
      "chunks" -> chunks.size, "bytes" -> chunks.map(_.data.length.toLong).sum))

  override def layers(): Map[String, Double] = RtcmLayer.measure(chunks)
}
