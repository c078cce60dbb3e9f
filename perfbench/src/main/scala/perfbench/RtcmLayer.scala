package perfbench

import graft.etl.RawChunk
import graft.rtcm.{MsmExpander, MsmMessage, RtcmDecoder, RtcmFraming}

/** The pure `graft.rtcm` layer timed on one thread over a workload's
  * corpus: framing (`RtcmFraming.feed`, chunk by chunk per
  * mountpoint), decoding (`RtcmDecoder.decodeFrame`) and MSM expansion
  * (`MsmExpander.expand`). Three passes; each time is their median. */
object RtcmLayer {
  def measure(chunks: Seq[RawChunk]): Map[String, Double] = {
    val byMount = chunks.groupBy(_.mountPoint).values.map(_.sortBy(_.seq)).toVector
    val bytes = chunks.iterator.map(_.data.length.toLong).sum
    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

    def once(): (Double, Double, Double, Int, Long) = {
      var t0 = System.nanoTime()
      val frames = byMount.flatMap { cs =>
        var st = RtcmFraming.emptyState
        cs.flatMap { c =>
          val (next, fs) = RtcmFraming.feed(st, c.data)
          st = next
          fs.map(f => (c.mountPoint, c.receiveMicros, f))
        }
      }
      val framing = ms(t0)
      t0 = System.nanoTime()
      val msgs = frames.map { case (m, r, f) => (m, r, RtcmDecoder.decodeFrame(f)) }
      val decode = ms(t0)
      t0 = System.nanoTime()
      val obs = msgs.iterator.map {
        case (m, r, x: MsmMessage) => MsmExpander.expand(x, m, r).size.toLong
        case _ => 0L
      }.sum
      val expand = ms(t0)
      (framing, decode, expand, frames.size, obs)
    }

    val runs = Vector.fill(3)(once())
    def med(f: ((Double, Double, Double, Int, Long)) => Double): Double = runs.map(f).sorted.apply(1)
    val framing = med(_._1)
    val decode = med(_._2)
    Map(
      "rtcm.framing_ms" -> framing,
      "rtcm.framing_mb_per_s" -> bytes / 1e6 / (framing / 1e3),
      "rtcm.decode_ms" -> decode,
      "rtcm.decode_frames_per_s" -> runs.head._4 / (decode / 1e3),
      "rtcm.expand_ms" -> med(_._3),
      "rtcm.frames" -> runs.head._4.toDouble,
      "rtcm.obs_rows" -> runs.head._5.toDouble)
  }
}
