package graft.multimodal

/** Pure-JVM BMP pixel codec — the REAL pixel path of the multimodal tier.
  *
  * 24-bit uncompressed (BI_RGB) BMP is the one mainstream image container
  * that needs no native codec: pixels are raw BGR triples in 4-byte-padded
  * rows, bottom-up by default (top-down when the header height is
  * negative). That makes a full decode→resample→stats pipeline runnable —
  * and differentially testable — in any environment, without the entropy
  * decoding [[Png]] and [[Jpeg]] add.
  *
  * In-memory representation: top-down row-major RGB triples
  * (`rgb[(y * width + x) * 3]` = R, then G, then B) — the conventional
  * layout a model-preprocessing stage consumes.
  *
  * All resampling arithmetic is integer-exact (no floating point), so the
  * same pixels fall out of any engine that replicates the formulas — the
  * property the `mm_pixels` differential oracle checks end to end.
  */
object Bmp {

  private val FileHeaderLen = 14
  private val InfoHeaderLen = 40

  private def stride(width: Int): Int = ((3 * width + 3) / 4) * 4

  private def putI32(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = (v & 0xff).toByte
    b(i + 1) = ((v >> 8) & 0xff).toByte
    b(i + 2) = ((v >> 16) & 0xff).toByte
    b(i + 3) = ((v >> 24) & 0xff).toByte
  }

  private def putU16(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = (v & 0xff).toByte
    b(i + 1) = ((v >> 8) & 0xff).toByte
  }

  private def i32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

  private def u16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  /** Encode top-down RGB triples as a canonical bottom-up 24bpp BI_RGB
    * BMP file (BITMAPFILEHEADER + BITMAPINFOHEADER + padded pixel rows).
    */
  def encode(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims ${width}x$height")
    require(rgb.length == width * height * 3,
      s"need ${width * height * 3} rgb bytes, got ${rgb.length}")
    val rowLen = stride(width)
    val dataLen = rowLen * height
    val out = new Array[Byte](FileHeaderLen + InfoHeaderLen + dataLen)
    out(0) = 'B'; out(1) = 'M'
    putI32(out, 2, out.length)
    putI32(out, 10, FileHeaderLen + InfoHeaderLen) // pixel data offset
    putI32(out, 14, InfoHeaderLen)
    putI32(out, 18, width)
    putI32(out, 22, height) // positive: bottom-up row order
    putU16(out, 26, 1)      // planes
    putU16(out, 28, 24)     // bpp
    putI32(out, 30, 0)      // BI_RGB (uncompressed)
    putI32(out, 34, dataLen)
    var y = 0
    while (y < height) {
      // file row 0 is the BOTTOM image row
      val base = FileHeaderLen + InfoHeaderLen + (height - 1 - y) * rowLen
      var x = 0
      while (x < width) {
        val p = (y * width + x) * 3
        out(base + x * 3) = rgb(p + 2)     // B
        out(base + x * 3 + 1) = rgb(p + 1) // G
        out(base + x * 3 + 2) = rgb(p)     // R
        x += 1
      }
      y += 1
    }
    out
  }

  /** Decode a 24bpp BI_RGB BMP to (width, height, top-down RGB triples).
    * Honors the pixel-data offset field, bottom-up AND top-down (negative
    * height) row orders, and row padding. Returns None for anything that
    * is not an uncompressed 24bpp BMP or whose pixel data is truncated —
    * a loud refusal, not a garbage decode.
    */
  def decode(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (b.length < FileHeaderLen + InfoHeaderLen || b(0) != 'B' || b(1) != 'M')
      return None
    val offset = i32(b, 10)
    val width = i32(b, 18)
    val rawH = i32(b, 22)
    val height = math.abs(rawH)
    val topDown = rawH < 0
    // height <= 0 (not == 0): rawH == Int.MinValue survives math.abs as a
    // NEGATIVE height, which would pass == 0, make rowLenL * height negative
    // so the bounds check passes, then blow up at the allocation
    if (width <= 0 || height <= 0 || u16(b, 28) != 24 || i32(b, 30) != 0)
      return None
    // stride in LONG: 3*width wraps negative for a corrupt width near 2^30,
    // which would defeat the bounds check below and turn the "loud refusal"
    // contract into a NegativeArraySizeException at the allocation
    val rowLenL = (3L * width + 3) / 4 * 4
    if (offset < 0 || offset.toLong + rowLenL * height > b.length)
      return None
    // implied by the bound above (pixel bytes ≤ rowLen·height ≤ b.length),
    // so the Int allocations below cannot overflow
    val rowLen = rowLenL.toInt
    val rgb = new Array[Byte](width * height * 3)
    var y = 0
    while (y < height) {
      val fileRow = if (topDown) y else height - 1 - y
      val base = offset + fileRow * rowLen
      var x = 0
      while (x < width) {
        val p = (y * width + x) * 3
        rgb(p) = b(base + x * 3 + 2)     // R
        rgb(p + 1) = b(base + x * 3 + 1) // G
        rgb(p + 2) = b(base + x * 3)     // B
        x += 1
      }
      y += 1
    }
    Some((width, height, rgb))
  }

  /** Nearest-neighbor resample with pixel-center mapping, integer-exact:
    * source index for output x is `floor((x + 0.5) * srcW / outW)` computed
    * as `(2x + 1) * srcW / (2 * outW)` in integer arithmetic — the same
    * formula an oracle can evaluate without ever touching bytes.
    */
  def resizeNearest(srcW: Int, srcH: Int, rgb: Array[Byte],
                    outW: Int, outH: Int): Array[Byte] = {
    require(outW > 0 && outH > 0, s"bad target ${outW}x$outH")
    require(rgb.length == srcW * srcH * 3,
      s"need ${srcW * srcH * 3} rgb bytes, got ${rgb.length}")
    val out = new Array[Byte](outW * outH * 3)
    var y = 0
    while (y < outH) {
      val sy = (2 * y + 1) * srcH / (2 * outH)
      var x = 0
      while (x < outW) {
        val sx = (2 * x + 1) * srcW / (2 * outW)
        val s = (sy * srcW + sx) * 3
        val d = (y * outW + x) * 3
        out(d) = rgb(s); out(d + 1) = rgb(s + 1); out(d + 2) = rgb(s + 2)
        x += 1
      }
      y += 1
    }
    out
  }
}
