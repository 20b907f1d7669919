package graft.multimodal

/** Pure-JVM canonical RIFF/WAVE PCM codec — the audio analog of
  * [[Bmp]]/[[Png]]/[[Jpeg]]: real bytes, real container walk, no native
  * binding needed because PCM is uncompressed. MP3 sample decode would
  * need codec bindings and is not offered (frame headers are real —
  * [[Mp3]]).
  *
  * Decoder: chunk walk (2-byte aligned, `fmt ` anywhere before `data`),
  * PCM format tag 1 only, 8-bit unsigned / 16-bit signed little-endian,
  * 1..8 channels. Returns interleaved samples widened to Int (8-bit
  * recentered to signed −128..127 ×256 so both depths share one scale).
  * Anything compressed, truncated or malformed refuses with None; sizes
  * are Long-guarded before allocation.
  */
object Wav {

  private def u16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def i32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
  private def tag(b: Array[Byte], i: Int): String =
    new String(b, i, 4, "US-ASCII")

  private val MaxSamples = 1L << 26

  final case class Pcm(sampleRate: Int, channels: Int, bitsPerSample: Int,
                       samples: Array[Int])

  /** Encode interleaved 16-bit signed samples as a canonical WAV. */
  def encode(sampleRate: Int, channels: Int, samples: Array[Int]): Array[Byte] = {
    require(sampleRate > 0 && channels >= 1 && channels <= 8 &&
      samples.length % channels == 0, "bad PCM shape")
    require(samples.forall(s => s >= Short.MinValue && s <= Short.MaxValue),
      "sample out of 16-bit range")
    val dataLen = samples.length * 2
    val out = new Array[Byte](44 + dataLen)
    def put32(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
      out(i + 2) = (v >> 16).toByte; out(i + 3) = (v >> 24).toByte
    }
    def put16(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >> 8).toByte
    }
    def putTag(i: Int, s: String): Unit =
      s.getBytes("US-ASCII").copyToArray(out, i)
    putTag(0, "RIFF"); put32(4, 36 + dataLen); putTag(8, "WAVE")
    putTag(12, "fmt "); put32(16, 16); put16(20, 1) // PCM
    put16(22, channels); put32(24, sampleRate)
    put32(28, sampleRate * channels * 2) // byte rate
    put16(32, channels * 2); put16(34, 16) // block align, bits
    putTag(36, "data"); put32(40, dataLen)
    var i = 0
    while (i < samples.length) { put16(44 + 2 * i, samples(i)); i += 1 }
    out
  }

  /** Decode any canonical PCM WAV. None on compressed/malformed input. */
  def decode(b: Array[Byte]): Option[Pcm] = {
    if (b.length < 12 || tag(b, 0) != "RIFF" || tag(b, 8) != "WAVE") return None
    var sampleRate = 0; var channels = 0; var bits = 0
    var sawFmt = false
    var dataAt = -1; var dataLen = 0
    var i = 12L
    while (dataAt < 0 && i + 8 <= b.length) {
      val sz = i32(b, i.toInt + 4).toLong
      if (sz < 0) return None
      tag(b, i.toInt) match {
        case "fmt " =>
          if (i + 8 + 16 > b.length || sz < 16) return None
          val fmtTag = u16(b, i.toInt + 8)
          if (fmtTag != 1) return None // compressed: loud refusal
          channels = u16(b, i.toInt + 10)
          sampleRate = i32(b, i.toInt + 12)
          bits = u16(b, i.toInt + 22)
          if (channels < 1 || channels > 8 || sampleRate <= 0 ||
            (bits != 8 && bits != 16)) return None
          sawFmt = true
        case "data" =>
          if (!sawFmt) return None // data before fmt: not canonical
          dataAt = i.toInt + 8; dataLen = sz.toInt
        case _ => ()
      }
      i += 8 + sz + (sz & 1)
    }
    if (dataAt < 0) return None
    val bytesPer = bits / 8
    if (dataAt.toLong + dataLen > b.length || dataLen % (bytesPer * channels) != 0)
      return None
    val n = dataLen / bytesPer
    if (n > MaxSamples) return None
    val samples = new Array[Int](n)
    var k = 0
    while (k < n) {
      samples(k) =
        if (bits == 16) (u16(b, dataAt + 2 * k) << 16) >> 16 // sign-extend
        else ((b(dataAt + k) & 0xff) - 128) * 256 // recenter + rescale
      k += 1
    }
    Some(Pcm(sampleRate, channels, bits, samples))
  }
}
