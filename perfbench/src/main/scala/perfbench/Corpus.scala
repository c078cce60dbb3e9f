package perfbench

import graft.etl.{RawChunk, SyntheticRtcm}

/** The seeded RTCM corpora of the ingest workloads and the counts a
  * correct ingest must reproduce, taken from the generated frames by
  * [[MsmHeader]] rather than by the program's decoder. */
object Corpus {
  private def mountSeed(seed: Long, i: Int): Long = seed * 1000003L + i

  private def mounts(n: Int): Seq[(String, Int)] = SyntheticRtcm.mountPoints(n).zipWithIndex

  /** Transport chunks of `nMounts` mountpoints, `nFrames` frames each
    * (one frame per second of receive time). */
  def chunks(nMounts: Int, nFrames: Int, seed: Long): Vector[RawChunk] =
    mounts(nMounts).flatMap { case (m, i) =>
      SyntheticRtcm.chunksFor(m, 100 + i, nFrames, mountSeed(seed, i))
    }.toVector

  /** Per mountpoint: frames generated, their summed length in bytes,
    * observation cells and station-coordinate (1005/1006) frames.
    * Cells count only for MSM5 and MSM7: the reference monitor turns
    * only those two flavors into observation rows. */
  def expected(nMounts: Int, nFrames: Int, seed: Long): Map[String, Map[String, Long]] =
    mounts(nMounts).map { case (m, i) =>
      // chunksFor frames exactly these frames (same generator, same seed)
      val frames = SyntheticRtcm.framesFor(m, 100 + i, nFrames, mountSeed(seed, i)).map(_._2)
      val infos = frames.map(MsmHeader.read)
      m -> Map(
        "frames" -> frames.size.toLong,
        "bytes" -> frames.map(_.length.toLong).sum,
        "obs" -> infos.filter(h => h.messageType % 10 == 5 || h.messageType % 10 == 7)
          .map(_.cells.toLong).sum,
        "coords" -> infos.count(h => h.messageType == 1005 || h.messageType == 1006).toLong)
    }.toMap
}
