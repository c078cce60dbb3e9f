package perfbench

/** What a check needs from one RTCM v3 frame, read straight from its
  * bytes (RTCM 10403.3) without the program's decoder.
  *
  * Frame: preamble 0xD3, 6 reserved bits, 10-bit payload length, the
  * payload, 24-bit CRC. Payload starts with DF002, the 12-bit message
  * type. An MSM payload (types 1071-1127, flavor = type mod 10 in 1..7)
  * continues with the MSM header: station (12), epoch
  * (30), multiple-message bit (1), IODS (3), reserved (7), clock
  * steering (2), external clock (2), smoothing (1), smoothing interval
  * (3), satellite mask (64), signal mask (32), then the cell mask of
  * nSat x nSig bits.
  */
object MsmHeader {
  final case class Info(messageType: Int, cells: Int)

  private def bits(frame: Array[Byte], from: Int, n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) {
      val pos = 24 + from + i // payload begins after the 3-byte header
      val bit = (frame(pos >> 3) >> (7 - (pos & 7))) & 1
      v = (v << 1) | bit
      i += 1
    }
    v
  }

  def isMsm(t: Int): Boolean = t >= 1071 && t <= 1127 && t % 10 >= 1 && t % 10 <= 7

  /** Message type and, for MSM frames, the number of cells present. */
  def read(frame: Array[Byte]): Info = {
    require(frame.length >= 6 && (frame(0) & 0xFF) == 0xD3, "not an RTCM v3 frame")
    val t = bits(frame, 0, 12).toInt
    if (!isMsm(t)) Info(t, 0)
    else {
      val maskAt = 12 + 12 + 30 + 1 + 3 + 7 + 2 + 2 + 1 + 3
      val nSat = java.lang.Long.bitCount(bits(frame, maskAt, 64))
      val nSig = java.lang.Long.bitCount(bits(frame, maskAt + 64, 32))
      var cells = 0
      var k = 0
      while (k < nSat * nSig) {
        cells += bits(frame, maskAt + 96 + k, 1).toInt
        k += 1
      }
      Info(t, cells)
    }
  }
}
