package graft

import org.apache.spark.sql.functions._
import graft.operators._
import graft.functions.{TextOps, VectorOps}
import graft.multimodal.Multimodal

/** Batch operator unit tests on crafted inputs + testdata invariants. */
class OperatorsSpec extends SparkSuite {
  import spark.implicits._

  test("Dedup.keepFirst keeps the first row per key by order") {
    val df = Seq(
      ("k1", 2, "second"), ("k1", 1, "first"), ("k2", 5, "only")
    ).toDF("k", "ord", "tag")
    val out = Dedup.keepFirst(df, Seq(col("k")), Seq(col("ord")))
      .orderBy("k").select("tag").as[String].collect()
    assert(out.toSeq == Seq("first", "only"))
  }

  test("exact text dedup groups identical normalized docs") {
    val docs = Seq(
      (1L, "Hello  World", "en", "s", 11L),
      (2L, "hello world", "en", "s", 11L),   // same after normalization
      (3L, "different", "en", "s", 9L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("docs").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextOps.dedupExact(spark, tmp).orderBy("rep_doc_id")
      .select("rep_doc_id", "n_copies").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("minhash: identical word sets → identical signatures") {
    val docs = Seq(
      (1L, "spark fast join", "en", "s", 15L),
      (2L, "join spark fast", "en", "s", 15L),  // same set, different order
      (3L, "completely other words", "en", "s", 22L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("docs2").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val sig = TextOps.minhashSignatures(spark, tmp).orderBy("doc_id").collect()
    assert(sig(0).toSeq.tail == sig(1).toSeq.tail, "same word set → same signature")
    assert(sig(0).toSeq.tail != sig(2).toSeq.tail)
    // and the band join therefore pairs docs 1-2 only
    val pairs = TextOps.minhashPairs(spark, tmp).as[(Long, Long)].collect()
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("driver contract: every registered query has a DuckDB oracle") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
    // every operator claimed done needs BOTH entries (builder brief); a new
    // query without an oracle downgrades to a rows-only check silently —
    // this test makes that a loud decision instead of an accident. The
    // allowlist is the explicit form of that decision: each entry must
    // name why SQL cannot express the semantics, and carries a dedicated
    // spec pinning the cross-run contract instead.
    // currently empty: the deflate ratio (the one historical entry) was
    // split in r15 — its SQL-expressible byte denominator is the oracle-
    // checked d_compress_bytes, and the zlib columns live outside
    // SparkEntry.queries, spec-pinned (compressRatio tests below)
    val rowsOnlyByDesign = Set.empty[String]
    assert((q -- o -- rowsOnlyByDesign).isEmpty,
      s"queries without an oracle: ${(q -- o -- rowsOnlyByDesign).toSeq.sorted}")
    assert((rowsOnlyByDesign -- q).isEmpty, "allowlist names a missing query")
    assert((rowsOnlyByDesign & o).isEmpty,
      "allowlisted query grew an oracle — remove it from the allowlist")
  }

  test("driver contract: a query name registered twice fails the registry, naming it") {
    val q = SparkEntry.Query("q_twice", (s, _) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.checked(Seq(q, q.copy(name = "q_once"), q.copy(oracle = "SELECT 2")))
    }
    assert(e.getMessage.contains("q_twice") && !e.getMessage.contains("q_once"), e.getMessage)
    assert(SparkEntry.checked(Seq(q, q.copy(name = "q_once"))).size == 2)
  }

  test("nearDupExact refuses an input larger than its maxRows contract") {
    val e = intercept[IllegalArgumentException] {
      VectorOps.nearDupExact(spark, sf(), maxRows = 10L).collect()
    }
    assert(e.getMessage.contains("all-pairs") && e.getMessage.contains("nearDupLsh"))
    // at or under the cap it runs (sf0.001 embeddings are tiny)
    assert(VectorOps.nearDupExact(spark, sf(), maxRows = 100000L).collect().nonEmpty)
  }

  test("multi-probe IVF dominates single-probe: per-rank cos_sim never worse") {
    // probing 2 lists searches a superset of single-probe's candidates, so
    // at every (query, rank) the multi-probe similarity must be ≥
    val single = VectorOps.annIvf(spark, sf(), nQueries = 5, kNn = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val multi = VectorOps.annIvfMulti(spark, sf(), nQueries = 5, kNn = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(3)).toMap
    assert(multi.nonEmpty)
    for ((k, s) <- single; m <- multi.get(k)) assert(m >= s, s"$k: multi $m < single $s")
  }

  test("knn self-similarity sanity: top neighbor of a vector ≠ itself, cos ≤ 1") {
    val knn = VectorOps.knn(spark, sf(), nQueries = 3, k = 2)
    val rows = knn.collect()
    assert(rows.length == 6)
    assert(rows.forall(r => r.getAs[Double]("cos_sim") <= 1.0))
    assert(rows.forall(r => r.getAs[Long]("neighbor_id") != r.getAs[Long]("q_id")))
  }

  test("multimodal real decode: BMP dims and WAV sample rate from actual bytes") {
    import spark.implicits._
    import java.nio.{ByteBuffer, ByteOrder}
    // 54-byte BMP: file header + BITMAPINFOHEADER, 2×3 px, top-down (h = -3)
    val bmp = ByteBuffer.allocate(54).order(ByteOrder.LITTLE_ENDIAN)
    bmp.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54)
    bmp.putInt(40).putInt(2).putInt(-3).putShort(1).putShort(24)
    // canonical 44-byte WAV header: PCM, mono, 8000 Hz, 16-bit, empty data
    val wav = ByteBuffer.allocate(44).order(ByteOrder.LITTLE_ENDIAN)
    wav.put("RIFF".getBytes("US-ASCII")).putInt(36).put("WAVE".getBytes("US-ASCII"))
    wav.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
    wav.putInt(8000).putInt(16000).putShort(2).putShort(16)
    wav.put("data".getBytes("US-ASCII")).putInt(0)
    val media = Seq(
      Multimodal.MediaRecord(1L, "image", bmp.array(), 0, 0),
      Multimodal.MediaRecord(2L, "audio", wav.array(), 0, 0),
      Multimodal.MediaRecord(3L, "video", "not a container".getBytes, 0, 0)).toDS()
    val out = Multimodal.decodeHeaders(media).collect().map(d => d.media_id -> d).toMap
    assert(out(1L).format == "bmp" && out(1L).width == 2 && out(1L).height == 3)
    assert(out(2L).format == "wav" && out(2L).sample_rate == 8000 &&
      out(2L).channels == 1 && out(2L).bits_per_sample == 16)
    assert(out(3L).format == "unknown")
  }

  test("bmp codec: encode/decode round-trips exact pixels; padding and row orders honored") {
    import graft.multimodal.Bmp
    // 3×2 RGB fixture — width 3 ⇒ 9 pixel bytes per row, padded to 12
    val rgb = Array.tabulate(3 * 2 * 3)(i => (i * 7 + 3).toByte)
    val bytes = Bmp.encode(3, 2, rgb)
    assert(bytes(0) == 'B' && bytes(1) == 'M')
    assert(bytes.length == 14 + 40 + 12 * 2, "stride must pad rows to 4 bytes")
    val (w, h, back) = Bmp.decode(bytes).get
    assert((w, h) == (3, 2))
    assert(back.toSeq == rgb.toSeq, "bottom-up BGR file bytes → exact top-down RGB")
    // the header tier agrees with the pixel tier on dimensions
    val hd = Multimodal.HeaderDecoder.decode(Multimodal.MediaRecord(9L, "image", bytes, 0, 0))
    assert(hd.format == "bmp" && hd.width == 3 && hd.height == 2)
    // TOP-DOWN variant (negative height): same image, file rows not flipped
    val td = bytes.clone()
    java.nio.ByteBuffer.wrap(td).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(22, -2)
    val row0 = bytes.slice(54, 66); val row1 = bytes.slice(66, 78)
    System.arraycopy(row1, 0, td, 54, 12); System.arraycopy(row0, 0, td, 66, 12)
    assert(Bmp.decode(td).get._3.toSeq == rgb.toSeq)
    // loud refusals: truncated pixel data, non-24bpp
    assert(Bmp.decode(bytes.take(60)).isEmpty)
    val bad = bytes.clone(); bad(28) = 8; assert(Bmp.decode(bad).isEmpty)
  }

  test("bmp resize: nearest-neighbor pixel-center mapping produces exact pixels") {
    import graft.multimodal.Bmp
    // 2×2 distinct-color image: R G / B W
    val rgb = Array(
      255, 0, 0,   0, 255, 0,
      0, 0, 255,   255, 255, 255).map(_.toByte)
    // identity is a no-op
    assert(Bmp.resizeNearest(2, 2, rgb, 2, 2).toSeq == rgb.toSeq)
    // 2×2 → 4×4: sx = (2x+1)·2/8 = 0,0,1,1 — each quadrant replicates its source
    val up = Bmp.resizeNearest(2, 2, rgb, 4, 4)
    def px(a: Array[Byte], w: Int, x: Int, y: Int): Seq[Int] =
      a.slice((y * w + x) * 3, (y * w + x) * 3 + 3).map(_ & 0xff).toSeq
    assert(px(up, 4, 0, 0) == Seq(255, 0, 0) && px(up, 4, 1, 1) == Seq(255, 0, 0))
    assert(px(up, 4, 2, 0) == Seq(0, 255, 0) && px(up, 4, 3, 1) == Seq(0, 255, 0))
    assert(px(up, 4, 0, 2) == Seq(0, 0, 255) && px(up, 4, 1, 3) == Seq(0, 0, 255))
    assert(px(up, 4, 2, 2) == Seq(255, 255, 255) && px(up, 4, 3, 3) == Seq(255, 255, 255))
    // 4×4 → 2×2 picks pixel centers: sx = (2x+1)·4/4 = 1,3 (odd coordinates)
    val grid = Array.tabulate(4 * 4 * 3) { i =>
      val p = i / 3; ((p % 4) * 16 + (p / 4)).toByte // value encodes (x, y)
    }
    val down = Bmp.resizeNearest(4, 4, grid, 2, 2)
    assert(px(down, 2, 0, 0) == Seq(1 * 16 + 1, 1 * 16 + 1, 1 * 16 + 1))
    assert(px(down, 2, 1, 1) == Seq(3 * 16 + 3, 3 * 16 + 3, 3 * 16 + 3))
  }

  test("png codec: round-trip exact pixels through every scanline filter; loud refusals") {
    import graft.multimodal.{Multimodal, Png}
    // h = 7 ≥ 5 ⇒ every phase runs ALL five filter types; w = 3 keeps
    // left/up/upper-left neighbors partially absent (the edge cases of
    // Sub/Average/Paeth)
    val rgb = Array.tabulate(3 * 7 * 3)(i => (i * 11 + 5).toByte)
    (0 until 5).foreach { phase =>
      val bytes = Png.encode(3, 7, rgb, filterPhase = phase)
      val (w, h, back) = Png.decode(bytes).getOrElse(fail(s"phase $phase refused"))
      assert((w, h) == (3, 7) && back.toSeq == rgb.toSeq,
        s"phase $phase corrupted pixels")
    }
    // 1×1 (no neighbors at all) and a wider image
    val one = Array[Byte](1, 2, 3)
    assert(Png.decode(Png.encode(1, 1, one)).get._3.toSeq == one.toSeq)
    val wide = Array.tabulate(14 * 10 * 3)(i => (i * 3 + 1).toByte)
    assert(Png.decode(Png.encode(14, 10, wide, 3)).get._3.toSeq == wide.toSeq)
    // the header tier agrees with the pixel tier on dimensions
    val bytes = Png.encode(3, 7, rgb)
    val hd = Multimodal.HeaderDecoder.decode(Multimodal.MediaRecord(9L, "image", bytes, 0, 0))
    assert(hd.format == "png" && hd.width == 3 && hd.height == 7)
    // RGBA (color type 6): alpha dropped, RGB exact — built by hand since
    // the encoder only emits type 2
    val rgba = Array.tabulate(2 * 2 * 4)(i => if (i % 4 == 3) 0x80.toByte else (i * 5).toByte)
    val raw = (0 until 2).flatMap(y => 0.toByte +: rgba.slice(y * 8, y * 8 + 8)).toArray
    val defl = new java.util.zip.Deflater(); defl.setInput(raw); defl.finish()
    val zbuf = new Array[Byte](256); val zn = defl.deflate(zbuf); defl.end()
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    def be(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def chunk(tag: String, payload: Array[Byte]) = {
      val crc = new java.util.zip.CRC32
      val t = tag.getBytes("US-ASCII"); crc.update(t); crc.update(payload)
      be(payload.length) ++ t ++ payload ++ be(crc.getValue.toInt)
    }
    val ihdr = be(2) ++ be(2) ++ Array[Byte](8, 6, 0, 0, 0)
    val rgbaPng = sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", zbuf.take(zn)) ++
      chunk("IEND", Array.emptyByteArray)
    val (aw, ah, argb) = Png.decode(rgbaPng).getOrElse(fail("rgba refused"))
    assert((aw, ah) == (2, 2))
    val expectRgb = (0 until 4).flatMap(p => (0 until 3).map(c => ((p * 4 + c) * 5).toByte))
    assert(argb.toSeq == expectRgb)
    // loud refusals: truncated IDAT, palette color type, absurd header width
    assert(Png.decode(bytes.take(bytes.length - 20)).isEmpty, "truncated must refuse")
    val pal = bytes.clone(); pal(25) = 3 // IHDR color type byte
    assert(Png.decode(pal).isEmpty, "palette must refuse")
    val huge = bytes.clone()
    java.nio.ByteBuffer.wrap(huge).putInt(16, 1 << 30) // IHDR width, big-endian
    assert(Png.decode(huge).isEmpty, "2^30 width must refuse, not overflow")
  }

  test("mm_pixels_png: byte path matches the formula recomputation") {
    val rows = Multimodal.pixelStatsPng(spark, sf(), box = 7).collect()
    assert(rows.nonEmpty)
    // independent Scala recomputation of one row's checksum from the
    // formulas alone (the same derivation the DuckDB oracle runs)
    val r = rows.maxBy(_.getLong(0))
    val id = r.getLong(0)
    val w = (id % 14).toInt + 1; val h = (id % 10).toInt + 1
    val m = math.max(w, h)
    val outW = math.max((2 * w * 7 + m) / (2 * m), 1)
    val outH = math.max((2 * h * 7 + m) / (2 * m), 1)
    var check = 0L
    for (y <- 0 until outH; x <- 0 until outW) {
      val sx = (2 * x + 1) * w / (2 * outW)
      val sy = (2 * y + 1) * h / (2 * outH)
      check += (3 * ((id + 11 * sx + 3 * sy) % 256) +
        2 * ((sx.toLong * sy + 2 * id) % 256) +
        ((2 * sx + 5 * sy) % 256)) * (x + 1) * (y + 1)
    }
    assert((r.getInt(1), r.getInt(2), r.getLong(3)) == ((outW, outH, check)))
  }

  test("jpeg codec: block-constant planes round-trip exactly through the real entropy path") {
    import graft.multimodal.Jpeg
    // 20×13: partial blocks right and bottom, a partial MCU column — the
    // padding/cropping edge cases. Constants per 8×8 (Y) / 16×16 (chroma)
    // follow the exactness contract on Jpeg.
    val (w, h) = (20, 13)
    def yv(x: Int, y: Int) = (40 + 50 * (x / 8) + 70 * (y / 8)) % 256
    def cb(x: Int, y: Int) = (90 + 60 * (x / 16) + 30 * (y / 16)) % 256
    def cr(x: Int, y: Int) = (160 + 45 * (x / 16) + 85 * (y / 16)) % 256
    val yP = Array.tabulate(w * h)(p => yv(p % w, p / w))
    val cbP = Array.tabulate(w * h)(p => cb(p % w, p / w))
    val crP = Array.tabulate(w * h)(p => cr(p % w, p / w))
    val bytes = Jpeg.encodeYCbCr(w, h, yP, cbP, crP)
    // it is a real JPEG: the header tier reads its SOF dimensions
    val hd = Multimodal.HeaderDecoder.decode(Multimodal.MediaRecord(9L, "image", bytes, 0, 0))
    assert(hd.format == "jpeg" && hd.width == w && hd.height == h)
    val (dw, dh, rgb) = Jpeg.decode(bytes).getOrElse(fail("refused own output"))
    assert((dw, dh) == (w, h))
    for (y <- 0 until h; x <- 0 until w) {
      val (er, eg, eb) = Jpeg.yccToRgb(yv(x, y), cb(x, y), cr(x, y))
      val p = (y * w + x) * 3
      assert((rgb(p) & 0xff, rgb(p + 1) & 0xff, rgb(p + 2) & 0xff) == ((er, eg, eb)),
        s"pixel ($x,$y) diverged")
    }
    // loud refusals: truncated entropy data, progressive frame, EOI-first
    assert(Jpeg.decode(bytes.take(bytes.length / 2)).isEmpty, "truncated must refuse")
    val prog = bytes.clone()
    val sofAt = (0 until bytes.length - 1).find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    assert(Jpeg.decode(prog).isEmpty, "progressive must refuse, not garble")
    assert(Jpeg.decode(Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)).isEmpty)
  }

  test("jpeg codec: decodes javax.imageio-written files at decoder-parity tolerance") {
    import graft.multimodal.Jpeg
    import java.awt.image.BufferedImage
    // real-world bytes: standard huffman tables, real AC coefficients,
    // libjpeg-style quant — everything the hand-rolled decoder must parse.
    // Grayscale isolates the IDCT (no chroma): near-exact agreement with
    // ImageIO's own decoder. Color adds 4:2:0 chroma where upsampling
    // filters legitimately differ between decoders — a smooth gradient
    // bounds that difference tightly.
    def writeJpeg(img: BufferedImage): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", out), "no JPEG writer in JDK")
      out.toByteArray
    }
    def readJpeg(bytes: Array[Byte]): BufferedImage =
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    // ---- grayscale (single-component scan). Write and compare via the
    // RASTER: TYPE_BYTE_GRAY's get/setRGB applies a colorspace (gamma)
    // conversion — the JPEG carries raster samples, which is what both
    // decoders reconstruct.
    val g = new BufferedImage(37, 23, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 23; x <- 0 until 37)
      g.getRaster.setSample(x, y, 0, (x * 5 + y * 7) % 256)
    val gBytes = writeJpeg(g)
    val (gw, gh, gRgb) = Jpeg.decode(gBytes).getOrElse(fail("grayscale refused"))
    assert((gw, gh) == (37, 23))
    val gRef = readJpeg(gBytes)
    var gMax = 0; var gSum = 0L; var gN = 0
    for (y <- 0 until gh; x <- 0 until gw) {
      val ours = gRgb((y * gw + x) * 3) & 0xff
      val ref = gRef.getRaster.getSample(x, y, 0)
      val d = math.abs(ours - ref)
      gMax = math.max(gMax, d); gSum += d; gN += 1
    }
    assert(gMax <= 2, s"grayscale max diff $gMax vs ImageIO (IDCT parity)")
    assert(gSum.toDouble / gN <= 0.5, s"grayscale mean diff ${gSum.toDouble / gN}")
    // ---- color (3 components, writer-default subsampling)
    val c = new BufferedImage(41, 26, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 26; x <- 0 until 41)
      c.setRGB(x, y, ((x * 3 + 40) << 16) | ((y * 4 + 60) << 8) | ((x + y) * 2 + 80))
    val cBytes = writeJpeg(c)
    val (cw, ch, cRgb) = Jpeg.decode(cBytes).getOrElse(fail("color refused"))
    assert((cw, ch) == (41, 26))
    val cRef = readJpeg(cBytes)
    var cMax = 0; var cSum = 0L; var cN = 0
    for (y <- 0 until ch; x <- 0 until cw; ch0 <- 0 until 3) {
      val ours = cRgb((y * cw + x) * 3 + ch0) & 0xff
      val ref = (cRef.getRGB(x, y) >> ((2 - ch0) * 8)) & 0xff
      val d = math.abs(ours - ref)
      cMax = math.max(cMax, d); cSum += d; cN += 1
    }
    assert(cMax <= 12, s"color max diff $cMax vs ImageIO")
    assert(cSum.toDouble / cN <= 2.0, s"color mean diff ${cSum.toDouble / cN}")
  }

  test("mm_pixels_jpeg: byte path matches the formula recomputation") {
    val rows = Multimodal.pixelStatsJpeg(spark, sf()).collect()
    assert(rows.nonEmpty)
    val r = rows.maxBy(_.getLong(0))
    val id = r.getLong(0)
    val w = (id % 24).toInt + 1; val h = (id % 18).toInt + 1
    var check = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val yv = ((3 * id + 17 * (x / 8) + 29 * (y / 8)) % 256).toInt
      val cb = ((5 * id + 23 * (x / 16) + 31 * (y / 16)) % 256).toInt
      val cr = ((7 * id + 19 * (x / 16) + 37 * (y / 16)) % 256).toInt
      val (er, eg, eb) = graft.multimodal.Jpeg.yccToRgb(yv, cb, cr)
      check += (2L * er + 5L * eg + 3L * eb) * (x + 1) * (y + 1)
    }
    assert((r.getInt(1), r.getInt(2), r.getLong(3)) == ((w, h, check)))
  }

  test("lshRecall grades the banding curve; splitStratified partitions the corpus") {
    val rec = functions.TextOps.lshRecall(spark, sf("sf0.01")).collect()
    assert(rec.nonEmpty)
    // bucket 50 = jaccard 1.0: on this corpus those are identical texts,
    // whose shingle sets (hence signatures, hence bands) coincide — the
    // banded index can never miss them
    val top = rec.filter(_.getLong(0) == 50L)
    assert(top.nonEmpty && top.forall(_.getDouble(3) == 1.0),
      "identical documents must always band together")
    // recall is monotone-ish toward 1: the threshold-edge bucket may lose
    // pairs, the exact bucket may not — and every bucket stays above the
    // 2-band theoretical floor for j >= 0.9 (1-(1-j^4)^2 > 0.8)
    assert(rec.forall(_.getDouble(3) > 0.8))

    val splits = functions.TextOps.splitStratified(spark, sf("sf0.01")).collect()
    val total = Tables.documents(spark, sf("sf0.01")).count()
    assert(splits.map(_.getLong(2)).sum == total, "splits must partition the corpus")
    assert(splits.map(_.getString(1)).distinct.sorted.toSeq == Seq("test", "train", "val"))
  }

  test("geoZoom: each level partitions all points and nests into the level above") {
    import graft.operators.{DashboardAggs, Readings}
    val v = Readings.enriched(spark, sf(), SparkEntry.T).filter(col("status") === "valid")
    val df = DashboardAggs.geoZoom(v).cache()
    val total = v.count()
    (0 to 4).foreach { z =>
      assert(df.filter(col("zoom") === z).agg(sum("n_points")).head().getLong(0) == total,
        s"zoom $z must partition the points")
    }
    // power-of-two cells nest exactly: a child cell's parent index is the
    // arithmetic right shift (= floor halving, negatives included), and
    // the parent's count is the sum of its children's
    (1 to 4).foreach { z =>
      val rolled = df.filter(col("zoom") === z)
        .groupBy(shiftright(col("cell_lat"), 1).as("cell_lat"),
          shiftright(col("cell_lon"), 1).as("cell_lon"))
        .agg(sum("n_points").as("n"))
      val parents = df.filter(col("zoom") === z - 1)
        .select(col("cell_lat"), col("cell_lon"), col("n_points"))
      val mismatch = rolled.join(parents, Seq("cell_lat", "cell_lon"), "full")
        .filter(col("n").isNull || col("n_points").isNull || col("n") =!= col("n_points"))
        .count()
      assert(mismatch == 0, s"zoom $z does not nest into zoom ${z - 1}")
    }
    df.unpersist()
  }

  test("wav codec: PCM round-trips exact samples; 8-bit path; loud refusals") {
    import graft.multimodal.{Multimodal, Wav}
    val samples = Array.tabulate(30)(i => i * 1103 - 15000)
    val bytes = Wav.encode(11025, 2, samples)
    val pcm = Wav.decode(bytes).getOrElse(fail("refused own output"))
    assert(pcm.sampleRate == 11025 && pcm.channels == 2 && pcm.bitsPerSample == 16)
    assert(pcm.samples.toSeq == samples.toSeq)
    // header tier agrees with the sample tier
    val hd = Multimodal.HeaderDecoder.decode(Multimodal.MediaRecord(1L, "audio", bytes, 0, 0))
    assert(hd.format == "wav" && hd.sample_rate == 11025 &&
      hd.channels == 2 && hd.bits_per_sample == 16)
    // 8-bit unsigned path (hand-built: the encoder only emits 16-bit):
    // recentered −128..127 then ×256 onto the shared scale
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val wav8 = "RIFF".getBytes("US-ASCII") ++ le32(36 + 4) ++ "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
      le32(8000) ++ le16(1) ++ le16(8) ++
      "data".getBytes("US-ASCII") ++ le32(4) ++
      Array[Byte](0, 128.toByte, 255.toByte, 64)
    val p8 = Wav.decode(wav8).getOrElse(fail("8-bit refused"))
    assert(p8.bitsPerSample == 8 &&
      p8.samples.toSeq == Seq(-32768, 0, 32512, -16384))
    // loud refusals: truncated data, compressed format tag, odd data length
    assert(Wav.decode(bytes.take(bytes.length - 3)).isEmpty, "truncated must refuse")
    val comp = bytes.clone(); comp(20) = 2
    assert(Wav.decode(comp).isEmpty, "non-PCM must refuse")
    assert(Wav.decode("RIFFxxxxWAVE".getBytes("US-ASCII")).isEmpty)
  }

  test("mp3 codec: header walk recovers the encoded stream shape; loud refusals") {
    import graft.multimodal.Mp3
    // VBR stream: per-frame bitrate index and padding vary; ID3 prefix
    val bytes = Mp3.encode(srIdx = 1, chMode = 3,
      bitrateIdx = f => 1 + (f * 5) % 14, padding = f => f % 2,
      nFrames = 7, id3Payload = 300)
    val info = Mp3.parse(bytes).getOrElse(fail("refused own output"))
    assert(info.sampleRate == 48000 && info.chMode == 3 && info.nFrames == 7)
    assert(info.id3Bytes == 310 && info.nBytes == bytes.length)
    // sumKbps from the table at the generated indices
    val expKbps = (0 until 7).map(f => Mp3.BitrateKbps(1 + (f * 5) % 14).toLong).sum
    assert(info.sumKbps == expKbps)
    // no ID3 tag: walk starts at the first sync word
    val bare = Mp3.encode(0, 0, _ => 9, _ => 0, 3, 0)
    assert(Mp3.parse(bare).exists(i => i.id3Bytes == 0 && i.nFrames == 3
      && i.sampleRate == 44100))
    // loud refusals: truncated tail, lost sync, free/reserved bitrate,
    // reserved samplerate, mid-stream samplerate change, ID3-only
    assert(Mp3.parse(bytes.take(bytes.length - 1)).isEmpty, "truncated must refuse")
    val lost = bare.clone(); lost(0) = 0x12
    assert(Mp3.parse(lost).isEmpty, "lost sync must refuse")
    val free = bare.clone(); free(2) = (0 << 4 | 0 << 2).toByte
    assert(Mp3.parse(free).isEmpty, "free-format bitrate must refuse")
    val rsr = bare.clone(); rsr(2) = (9 << 4 | 3 << 2).toByte
    assert(Mp3.parse(rsr).isEmpty, "reserved samplerate must refuse")
    val id3Only = Mp3.encode(0, 0, _ => 9, _ => 0, 1, 20).take(30)
    assert(Mp3.parse(id3Only).isEmpty, "tag with no frames must refuse")
    val drift = Mp3.encode(2, 1, _ => 9, _ => 0, 2, 0)
    // rewrite the SECOND frame's samplerate index (frame len for idx 2 /
    // 128 kbps @32kHz = 576): parse must refuse the mid-stream change
    drift(576 + 2) = (9 << 4 | 0 << 2).toByte
    assert(Mp3.parse(drift).isEmpty, "mid-stream samplerate change must refuse")
  }

  test("mp3 side info: bit walk recovers the encoded fields; loud refusals") {
    import graft.multimodal.Mp3
    // stereo VBR stream with an ID3 prefix — 4 granule-channels per frame
    val bytes = Mp3.encode(srIdx = 1, chMode = 0,
      bitrateIdx = f => 1 + (f * 5) % 14, padding = f => f % 2,
      nFrames = 7, id3Payload = 300)
    val si = Mp3.parseSideInfo(bytes).getOrElse(fail("refused own output"))
    assert(si.nGc == 7 * 4, s"granule-channel count: ${si.nGc}")
    // the replica folds the SAME generator formula the encoder wrote
    val gcs = for (f <- 0 until 7; g <- 0 until 2; c <- 0 until 2)
      yield Mp3.gcFields(1 + (f * 5) % 14, f, g, c)
    assert(si.sumPart23 == gcs.map(_._1.toLong).sum, "part2_3 sum drifted")
    assert(si.sumBigValues == gcs.map(_._2.toLong).sum, "big_values sum drifted")
    assert(si.minGain == gcs.map(_._3).min && si.maxGain == gcs.map(_._3).max,
      "gain envelope drifted")
    assert(si.maxMainDataBegin == 0, "encoder writes reservoir-free frames")
    // mono stream has half the granule-channels and a 17-byte block
    val mono = Mp3.encode(0, 3, _ => 9, _ => 0, 3, 0)
    assert(Mp3.parseSideInfo(mono).exists(_.nGc == 3 * 2))
    // loud refusals: big_values over the spec ceiling (bit 9+3+12 bits
    // into the block spans bytes 7-8 after the header — force all-ones),
    // nonzero main_data_begin on the FIRST frame, truncated tail
    val badBv = mono.clone()
    badBv(4 + 3) = 0xff.toByte; badBv(4 + 4) = 0xff.toByte
    assert(Mp3.parseSideInfo(badBv).isEmpty, "big_values > 288 must refuse")
    val badMdb = mono.clone(); badMdb(4) = 0xff.toByte
    assert(Mp3.parseSideInfo(badMdb).isEmpty,
      "first-frame reservoir pointer must refuse")
    assert(Mp3.parseSideInfo(mono.take(mono.length - 1)).isEmpty,
      "truncated must refuse")
  }

  test("mp3SideInfoSql's hand-inlined p23 modulus equals Mp3.p23CapBits at EVERY bitrate index, not just testdata's") {
    import graft.multimodal.Mp3
    // r19 VERDICT #5 follow-up (prescription 4): the DuckDB mirror inlines
    // the cap arithmetic as a literal bitrate-array expression, and the
    // differential oracle only exercises the bi values testdata happens to
    // generate — a drift at an unused bi would sleep. This pin recomputes
    // the COMMITTED SQL text's own array arithmetic in Scala and compares
    // it against the encoder's formula for all bi ∈ 1..14, so the SQL
    // literal cannot drift without failing here.
    val sql = Multimodal.mp3SideInfoSql
    val arr = """\[([0-9]+(?:\s*,\s*[0-9]+)+)\]""".r.findAllMatchIn(sql)
      .map(_.group(1).split(",").map(_.trim.toInt).toSeq)
      .find(_.length == 14)
      .getOrElse(fail("mp3SideInfoSql no longer inlines the 14-entry bitrate array"))
    assert(arr == Mp3.BitrateKbps.drop(1).toSeq,
      s"the SQL bitrate literal drifted from Mp3.BitrateKbps: $arr")
    for (bi <- 1 to 14) {
      // the SQL expression: least(320, (3*arr[bi] - 36)*2 - 64), 1-indexed
      val sqlMod = math.min(320, (3 * arr(bi - 1) - 36) * 2 - 64)
      val scalaMod = math.min(320, Mp3.p23CapBits(bi) - 64)
      assert(sqlMod == scalaMod,
        s"p23 modulus drifted at bi=$bi: sql=$sqlMod scala=$scalaMod")
      assert(sqlMod > 0,
        s"modulus must bound (positive) at bi=$bi: $sqlMod")
      // and the full p23 field: DuckDB % and Scala % agree on the
      // non-negative dividends the generator produces, so the recomputed
      // SQL expression must equal the encoder's emitted value everywhere
      for (f <- 0 until 50; g <- 0 until 2; c <- 0 until 2) {
        val sqlP23 = 64 + (bi * 29 + f * 11 + g * 5 + c * 2) % sqlMod
        assert(sqlP23 == Mp3.gcFields(bi, f, g, c)._1,
          s"oracle p23 drifted from the encoder at bi=$bi f=$f g=$g c=$c")
      }
    }
    // out-of-domain indices refuse loudly instead of emitting an unbounded
    // p23 (ADVICE r19: at bi=0 the cap arithmetic goes negative)
    intercept[IllegalArgumentException](Mp3.gcFields(0, 0, 0, 0))
    intercept[IllegalArgumentException](Mp3.gcFields(15, 0, 0, 0))
  }

  test("mm_audio: byte path matches the formula recomputation") {
    val rows = Multimodal.audioStats(spark, sf()).collect()
    assert(rows.nonEmpty)
    val r = rows.maxBy(_.getLong(0))
    val id = r.getLong(0)
    val ch = (id % 2).toInt + 1
    val nf = (id % 50).toInt + 10
    val s = Array.tabulate(nf * ch)(i => ((id * 31 + 7L * i * i) % 65536).toInt - 32768)
    val peak = s.map(math.abs).max
    val energy = s.map(v => v.toLong * v).sum
    val zc = (1 until s.length).count(i => (s(i) >= 0) != (s(i - 1) >= 0))
    assert((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5), r.getLong(6)) ==
      ((8000 + ((id % 4) * 4000).toInt, ch, nf, peak, energy, zc.toLong)))
  }

  test("jpeg codec: corrupt inputs refuse or decode, never crash") {
    import graft.multimodal.Jpeg
    // deterministic byte-flip fuzz over a real file: every mutation must
    // come back as Some/None from a plain method call — no exception, no
    // hang. This is the refusal contract the other codecs pin, applied to
    // the most stateful decoder in the tier.
    val yP = Array.tabulate(24 * 18)(p => (p * 7) % 256)
    val cP = Array.fill(24 * 18)(128)
    val base = Jpeg.encodeYCbCr(24, 18, yP, cP, cP)
    val rnd = new scala.util.Random(42)
    (0 until 300).foreach { k =>
      val b = base.clone()
      (0 to rnd.nextInt(8)).foreach { _ =>
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      }
      scala.util.Try(Jpeg.decode(b)) match {
        case scala.util.Failure(e) => fail(s"mutation $k threw: $e")
        case _ => ()
      }
    }
  }

  test("events loader: ts unit normalization puts the time domain in real years") {
    // Regression guard for the r12 incident: the testdata generator switched
    // events.ts from TIMESTAMP(NANOS) to TIMESTAMP(MICROS) and the forced-
    // Long read silently produced times ~1000× too small, collapsing every
    // window/session/resample query. Pin (a) the footer-derived multiplier
    // lands the raw integers on epoch-nanos, and (b) the canonical readings
    // view spans a plausible wall-clock domain — any unit slip moves the
    // domain by 3 orders of magnitude and fails both bounds.
    val mult = Tables.tsNanosMultiplier(spark, s"${sf()}/events.parquet")
    assert(Set(1L, 1000L, 1000000L).contains(mult))
    val mm = graft.operators.Readings.readings(spark, sf())
      .agg(min("sec").as("lo"), max("sec").as("hi")).head()
    val (lo, hi) = (mm.getTimestamp(0), mm.getTimestamp(1))
    val y2020 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val y2035 = java.sql.Timestamp.valueOf("2035-01-01 00:00:00")
    assert(lo.after(y2020) && hi.before(y2035), s"time domain off: [$lo, $hi]")
    // span must be hours, not the sub-minute smear a unit error produces
    assert(hi.getTime - lo.getTime > 3600L * 1000, s"collapsed domain: [$lo, $hi]")
  }

  test("mm_pixels: full byte path on testdata — decoded dims bind to the box") {
    val rows = Multimodal.pixelStats(spark, sf(), box = 8).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, h) = (r.getInt(1), r.getInt(2))
      assert(w <= 8 && h <= 8 && (w == 8 || h == 8),
        s"resize must bind the larger dimension to the box: ${w}x$h")
      assert(r.getLong(3) >= 0) // media_id 0 is a legitimate all-zero 1×1 pixel
    }
    assert(rows.exists(_.getLong(3) > 0))
  }

  test("dupClusters unions overlapping minhash cliques to one representative") {
    // docs 1-2 share a full word set, 2-3 share one band's worth of hashes
    // only if the sets are identical — so craft: 1≡2 exact, 3≡4 exact,
    // 5 unrelated ⇒ clusters {1,2}, {3,4}, {5}
    val docs = Seq(
      (1L, "alpha beta gamma", "en", "s", 16L),
      (2L, "gamma alpha beta", "en", "s", 16L),
      (3L, "delta epsilon zeta", "en", "s", 18L),
      (4L, "zeta delta epsilon", "en", "s", 18L),
      (5L, "totally different words", "en", "s", 23L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("docs3").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextOps.dupClusters(spark, tmp)
      .select("doc_id", "cluster_rep", "cluster_size")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 2L), (4L, 3L, 2L), (5L, 5L, 1L)))
  }

  test("simhashPairs finds identical docs at hamming 0 and none across disjoint vocab") {
    val docs = Seq(
      (1L, "alpha beta gamma", "en", "s", 16L),
      (2L, "gamma alpha beta", "en", "s", 16L),   // same word set → hamming 0
      (3L, "qqq www eee rrr ttt yyy uuu iii ooo ppp", "en", "s", 39L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("docs5").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextOps.simhashPairs(spark, tmp)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSeq
    assert(out.contains((1L, 2L, 0)))
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L && p._3 == 0))
  }

  test("ngramTop ranks bigrams by frequency with string tie-break") {
    val docs = Seq(
      (1L, "a b a b", "en", "s", 7L),     // "a b"×2, "b a"×1
      (2L, "a b c", "en", "s", 5L)        // "a b", "b c"
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("docs4").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextOps.ngramTop(spark, tmp, k = 2)
      .select("rank_in_lang", "bigram", "n").as[(Int, String, Long)].collect().toSeq
    assert(out == Seq((1, "a b", 3L), (2, "b a", 1L)))
  }

  test("kmeansStep means stay inside member coordinate bounds") {
    val step = VectorOps.kmeansStep(spark, sf(), k = 4)
    val rows = step.collect()
    assert(rows.nonEmpty)
    // every (centroid, dim) mean must lie within the global coordinate range
    val vals = VectorOps.prepared(spark, sf())
      .select(explode(col("v")).as("x")).agg(min("x"), max("x")).head()
    val (lo, hi) = (vals.getDouble(0), vals.getDouble(1))
    assert(rows.forall { r =>
      val m = r.getAs[Double]("mean_x"); m >= lo - 1e-4 && m <= hi + 1e-4
    })
    // membership totals over any fixed dim = corpus size
    val n = Tables.embeddings(spark, sf()).count()
    val dim1Total = rows.filter(_.getAs[Int]("dim") == 1).map(_.getAs[Long]("n_members")).sum
    assert(dim1Total == n)
  }

  test("pivot row-set equals conditional aggregation") {
    val pv = Relational.pivotOrderPriorities(spark, sf())
    val orders = Tables.orders(spark, sf())
    val expect = orders.groupBy(col("o_orderstatus"))
      .agg(sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("p1_urgent"))
      .orderBy("o_orderstatus")
      .select("o_orderstatus", "p1_urgent").as[(String, Long)].collect().toSeq
    val got = pv.select("o_orderstatus", "p1_urgent").as[(String, Long)].collect().toSeq
    assert(got == expect)
  }

  test("grouping sets includes per-status subtotals and the grand total") {
    val gs = Relational.groupingSetsOrders(spark, sf()).collect()
    val statuses = Tables.orders(spark, sf()).select("o_orderstatus").distinct().count()
    val grand = gs.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n_orders") == Tables.orders(spark, sf()).count())
    assert(gs.count(r => !r.isNullAt(0) && r.isNullAt(1)) == statuses)
  }

  test("range band join covers every part exactly once") {
    val bands = Relational.priceBandJoin(spark, sf())
    val total = bands.agg(sum("n_parts")).head().getLong(0)
    assert(total == Tables.part(spark, sf()).count())
  }

  test("resize plan: binding dimension lands exactly on the box, aspect preserved") {
    val plan = Multimodal.resizePlan(spark, sf(), box = 224).collect()
    assert(plan.nonEmpty)
    plan.foreach { r =>
      val (w, h) = (r.getAs[Int]("declared_w"), r.getAs[Int]("declared_h"))
      val (ow, oh) = (r.getAs[Int]("out_w"), r.getAs[Int]("out_h"))
      // fit-to-box: the larger input dimension maps exactly to the box
      assert(math.max(ow, oh) == 224, s"($w,$h) -> ($ow,$oh)")
      // aspect preserved within rounding: out ratios within 1 pixel
      val expectMinor = math.round(math.min(w, h) * 224.0 / math.max(w, h))
      assert(math.abs(math.min(ow, oh) - expectMinor) <= 1, s"($w,$h) -> ($ow,$oh)")
    }
  }

  test("registerAll exposes every table and dot_product through spark.sql") {
    Tables.registerAll(spark, sf())
    val n = spark.sql("SELECT count(*) AS n FROM lineitem").head().getLong(0)
    assert(n > 0)
    val d = spark.sql(
      """SELECT dot_product(a.embedding::ARRAY<DOUBLE>, b.embedding::ARRAY<DOUBLE>) AS d
        |FROM embeddings a JOIN embeddings b ON a.vec_id = 0 AND b.vec_id = 1""".stripMargin)
      .head().getDouble(0)
    assert(!d.isNaN)
    assert(spark.sql("SELECT count(*) FROM events").head().getLong(0) > 0)
    // the registered events view carries the NORMALIZED epoch-nanos ts —
    // 2020-01-01 in nanos is ~1.58e18, so any unit slip (micros 1.6e15,
    // millis 1.6e12) fails by three orders of magnitude
    assert(spark.sql("SELECT min(ts) FROM events").head().getLong(0) > 1500000000000000000L,
      "registered events.ts is not epoch-nanos")
    // SQL-registered engine primitives match their Column definitions
    val fns = spark.sql("SELECT hex60('abc'), norm_text('  A  b ')").head()
    assert(fns.getLong(0) == spark.range(1)
      .select(Exprs.hex60(lit("abc"))).head().getLong(0))
    assert(fns.getString(1) == "a b")
  }

  test("geo grid cells cover derived coordinate domain") {
    val g = DashboardAggs.geoGrid(
      SparkEntry.queries("e_validate")(spark, sf()).filter(col("status") === "valid"))
    val cells = g.agg(min("cell_lat"), max("cell_lat"), min("cell_lon"), max("cell_lon")).head()
    assert(cells.getLong(0) >= -180 && cells.getLong(1) <= 180)
    assert(cells.getLong(2) >= -360 && cells.getLong(3) <= 360)
  }

  test("redact: counts and replaces email/phone patterns") {
    val docs = Seq(
      (1L, "contact Bob at bob.smith@example.com or 555-123-4567 now", "en", "s", 1L),
      (2L, "no pii here at all", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("redact").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextOps.redact(spark, tmp).orderBy("doc_id")
      .select("doc_id", "n_emails", "n_phones").as[(Long, Int, Int)].collect()
    assert(out.toSeq == Seq((1L, 1, 1), (2L, 0, 0)))
    // redacted hash differs from the raw hash only where something matched
    val h = TextOps.redact(spark, tmp).join(
        TextOps.fingerprint(spark, tmp), "doc_id")
      .select("doc_id", "redacted_md5", "doc_md5")
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(h(0)._2 != h(0)._3 && h(1)._2 == h(1)._3)
  }

  test("resample: hourly ticks carry the last observation at or before them") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s"2026-01-01 $s")
    val df = Seq(
      (1L, ts("10:00:00"), 5), (1L, ts("12:30:00"), 9),
      (2L, ts("10:15:00"), 7)
    ).toDF("user_id", "sec", "cpm")
    val out = AsofJoin.resample(df).orderBy("user_id", "tick")
      .as[(Long, java.sql.Timestamp, Int)].collect()
    assert(out.toSeq == Seq(
      (1L, ts("10:00:00"), 5), (1L, ts("11:00:00"), 5), (1L, ts("12:00:00"), 5),
      (2L, ts("10:15:00"), 7)))
    // mis-sized step must refuse loudly, not materialize the grid. The
    // guard is IN-PLAN (assert_true over the bounds rows — no plan-build
    // pre-pass over the data), so it fires on execution
    val ex = intercept[Exception] {
      AsofJoin.resample(df, step = "1 second", maxTicksPerUser = 100).collect()
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("; ")
    assert(msgs.contains("coarser step"), s"wrong refusal: $msgs")
  }

  test("expectations: each rule counts its violations") {
    val rows = Seq(
      (Some(1L), 10.0, "1-URGENT"),
      (Some(1L), 20.0, "5-LOW"),      // duplicate key
      (None, 30.0, "2-HIGH"),         // null key
      (Some(3L), -5.0, "3-MEDIUM"),   // non-positive price
      (Some(4L), 40.0, "9-WAT")       // unknown priority
    ).toDF("o_orderkey", "o_totalprice", "o_orderpriority")
    val tmp = java.nio.file.Files.createTempDirectory("exp").toString
    rows.write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val out = Relational.expectations(spark, tmp)
      .as[(String, Long)].collect().toMap
    assert(out == Map("null_key" -> 1L, "dup_key" -> 1L,
      "nonpos_price" -> 1L, "bad_priority" -> 1L))
  }

  test("incremental dedup: drops base dups, keeps one rep per new hash") {
    val docs = Seq(
      (1L, "existing corpus doc", "s", 1L),
      (10L, "existing corpus doc", "s", 1L),  // incr dup of base → dup_of_base
      (11L, "brand new doc", "s", 1L),        // rep of the new pair → kept
      (12L, "brand  new DOC", "s", 1L),       // same normalized → dup_in_increment
      (13L, "another new doc", "s", 1L)       // unique → kept
    ).toDF("doc_id", "text", "source", "n_chars")
      .withColumn("lang", lit("en"))
    val tmp = java.nio.file.Files.createTempDirectory("incr").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextOps.dedupIncrement(spark, tmp, splitId = 10)
      .select("doc_id", "drop_reason").as[(Long, String)].collect().toMap
    assert(out == Map(10L -> "dup_of_base", 11L -> "kept",
      12L -> "dup_in_increment", 13L -> "kept"))
  }

  test("funnel: stage i counts only at-or-after stage i-1 (greedy matching)") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s"2026-01-01 10:00:$s")
    val df = Seq(
      (1L, "view", "00"), (1L, "click", "10"), (1L, "purchase", "20"), // full funnel
      (2L, "click", "00"), (2L, "view", "10"), // click BEFORE view must not count
      (3L, "view", "05"), // view only
      (4L, "purchase", "00") // purchase without view: stage 0
    ).map { case (u, e, s) => (u, e, ts(s)) }.toDF("user_id", "event_type", "sec")
    val out = Sessions.funnel(df).orderBy("user_id")
      .select("user_id", "funnel_stage").as[(Long, Int)].collect()
    assert(out.toSeq == Seq((1L, 3), (2L, 1), (3L, 1), (4L, 0)))
  }

  test("weighted sample is deterministic and respects bucket thresholds") {
    val w = TextOps.weightedSample(spark, sf())
    val bad = w.filter(
      (col("quality_bucket") === "high" && col("bucket") >= 800) ||
      (col("quality_bucket") === "medium" && col("bucket") >= 400) ||
      (col("quality_bucket") === "low" && col("bucket") >= 100)).count()
    assert(bad == 0)
    // pure hash selection: a re-run reproduces the exact same sample
    assert(w.collect().toSet == TextOps.weightedSample(spark, sf()).collect().toSet)
  }

  test("bloom prefilter prunes non-matching facts and loses no matches") {
    import graft.plans.BloomJoin
    val facts = (1L to 1000L).map(i => (i, s"f$i")).toDF("k", "payload")
    val dim = Seq((10L, "a"), (20L, "b"), (30L, "c")).toDF("dk", "tag")
    val pre = BloomJoin.bloomSemiPrefilter(facts, "k", dim, "dk", expectedItems = 100)
    val n = pre.count()
    assert(n >= 3, "bloom must have no false negatives")
    assert(n < 1000, "sketch should prune most non-matching facts")
    assert(BloomJoin.bloomPrefilteredJoin(facts, "k", dim, "dk", 100).count() == 3)
    // empty build side: no sketch → empty result, not a crash
    assert(BloomJoin.bloomPrefilteredJoin(
      facts, "k", dim.filter(lit(false)), "dk", 100).count() == 0)
    // same key name on both sides must not be ambiguous
    assert(BloomJoin.bloomPrefilteredJoin(
      facts, "k", dim.withColumnRenamed("dk", "k"), "k", 100).count() == 3)
  }

  test("curate tags each doc with its first failing gate, in gate order") {
    // quality gate math: score ≥ 0.5 needs ~50 long words; one marker word
    // ('the'/'a') decides the language without sinking avg word length
    // distinct words so the probe yields many DISTINCT shingles (repeated
    // words collapse to 2 distinct 3-grams, under the contamMin threshold)
    val textA = ("the" +: Seq.tabulate(49)(i => s"magnificent$i")).mkString(" ")
    val textB = ("a" +: Seq.fill(49)("wonderful")).mkString(" ")
    val docs = Seq(
      (0L, textA, "en", "s", 1L),                       // probe → benchmark
      (2L, textB, "en", "s", 1L),                       // rep of the B pair → kept
      (3L, textB, "en", "s", 1L),                       // exact copy → duplicate
      (4L, textA + " extraordinary", "en", "s", 1L),    // shares A's shingles → contaminated
      (5L, "el la los gatos", "es", "s", 1L),           // → lang
      (6L, "the cat sat", "en", "s", 1L)                // en but short → quality
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("curate").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextOps.curate(spark, tmp, keepLang = "en", probeMax = 1,
        contamMin = 3, sampleMod = 10, sampleKeep = 10)
      .select("doc_id", "drop_reason").as[(Long, String)].collect().toMap
    assert(out == Map(0L -> "benchmark", 2L -> "kept", 3L -> "duplicate",
      4L -> "contaminated", 5L -> "lang", 6L -> "quality"))
  }

  test("segmentDedup drops corpus-duplicated segments, keeps order") {
    val docs = Seq(
      (1L, "a b c d e f g h i j", "en", "s", 19L), // segs: [a b c d e][f g h i j]
      (2L, "a b c d e x y z w v", "en", "s", 19L), // shares seg 1 with doc 1
      (3L, "m n o p q", "en", "s", 9L)             // unique single segment
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("segdedup").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextOps.segmentDedup(spark, tmp)
      .select("doc_id", "n_segs", "n_kept", "text_dedup")
      .as[(Long, Long, Long, String)].collect().toSeq
    // "a b c d e" appears in docs 1 AND 2 → dropped from BOTH
    assert(out == Seq(
      (1L, 2L, 1L, "f g h i j"),
      (2L, 2L, 1L, "x y z w v"),
      (3L, 1L, 1L, "m n o p q")))
  }

  test("lmBits: rare vocabulary scores more bits/token than repeated") {
    val docs = Seq(
      (1L, "x x x x", "en", "s", 7L),  // 4 tokens of corpus count 4
      (2L, "y z w q", "en", "s", 7L)   // 4 singleton tokens
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("lmbits").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextOps.lmBits(spark, tmp)
      .select("doc_id", "n_tokens", "sum_bits").as[(Long, Long, Long)]
      .collect().toSeq
    // N = 8 tokens → len(bin(8)) = 4. count 4 → 4−3 = 1 bit; count 1 → 3 bits
    assert(out == Seq((1L, 4L, 4L), (2L, 4L, 12L)))
  }

  test("decontamSpans removes contaminated windows, keeps the rest in order") {
    val docs = Seq(
      (0L, "alpha beta gamma", "en", "s", 1L),                         // probe
      // one probe 3-gram at positions 2-4 → tokens 2..4 removed
      (10L, "keep1 keep2 alpha beta gamma keep3 keep4", "en", "s", 1L),
      // two DISJOINT hits → 2 spans; middle word survives
      (11L, "alpha beta gamma mid alpha beta gamma", "en", "s", 1L),
      (12L, "totally clean document here", "en", "s", 1L),
      (13L, "alpha beta gamma", "en", "s", 1L)                         // fully contaminated
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("spans").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextOps.decontamSpans(spark, tmp, probeMax = 10)
      .select("doc_id", "n_contam", "n_spans", "text_clean")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (10L, 3L, 1L, "keep1 keep2 keep3 keep4"),
      (11L, 6L, 2L, "mid"),
      (12L, 0L, 0L, "totally clean document here"),
      (13L, 3L, 1L, "")))
  }

  test("dupSpans cuts every duplicated n-gram occurrence except the globally first") {
    val docs = Seq(
      // keeper of "a b c d e" (min (doc_id, pos)) — survives untouched
      (20L, "a b c d e x y z w v", "en", "s", 1L),
      // cross-doc dup at positions 2-6 → one span, middle cut
      (21L, "p q a b c d e r s t", "en", "s", 1L),
      // fully unique → untouched
      (22L, "m n o p q r s t u v", "en", "s", 1L),
      // within-doc repeat of a 7-token run: both halves lose their shared
      // 5-gram coverage (the run's own first occurrence ALSO loses to
      // doc 20's "a b c d e"); surviving tokens are exactly positions 5-6
      (23L, "a b c d e f g a b c d e f g", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("dupspans").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextOps.dupSpans(spark, tmp)
      .select("doc_id", "n_dup", "n_spans", "text_clean")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (20L, 0L, 0L, "a b c d e x y z w v"),
      (21L, 5L, 1L, "p q r s t"),
      (22L, 0L, 0L, "m n o p q r s t u v"),
      (23L, 12L, 2L, "f g")))
  }

  test("spanFoldArr treats an empty cuts array as no-cuts (guard, r21 VERDICT #8)") {
    // all current callers guarantee non-empty arrays (collect_set over
    // >= 1 row; minRunCuts filters size > 0) — the guard makes the
    // contract enforced in-function: an empty-island doc must fold like
    // an uncut doc, not descend sequence(0, -1) under ANSI
    val pw = Seq(
      (1L, Seq("a", "b", "c")),         // empty cuts array
      (2L, Seq("d", "e")),              // no cuts row at all (null branch)
      (3L, Seq("f", "g", "h", "i"))     // real cuts
    ).toDF("doc_id", "words")
    val cuts = Seq(
      (1L, Seq.empty[Int]),
      (3L, Seq(1, 2))
    ).toDF("doc_id", "cuts")
    val out = TextOps.spanFoldArr(pw, cuts)
      .select("doc_id", "n_words", "n_dup", "n_spans", "text_clean")
      .as[(Long, Long, Long, Long, String)].collect().toSeq.sortBy(_._1)
    assert(out == Seq(
      (1L, 3L, 0L, 0L, "a b c"),
      (2L, 2L, 0L, 0L, "d e"),
      (3L, 4L, 2L, 1L, "f i")))
  }

  test("dupRuns spares sub-minRun islands and cuts long runs whole") {
    val docs = Seq(
      (20L, "a b c d e x y z w v", "en", "s", 1L),
      (21L, "p q a b c d e r s t", "en", "s", 1L),
      (22L, "m n o p q r s t u v", "en", "s", 1L),
      (23L, "a b c d e f g a b c d e f g", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("dupruns").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // minRun=6 over the dupSpans fixture: doc 21's 5-wide island and doc
    // 23's leading 5-wide island fall under the floor (text restored);
    // doc 23's 7-wide trailing run is still cut whole
    val out = TextOps.dupRuns(spark, tmp, n = 5, minRun = 6)
      .select("doc_id", "n_dup", "n_spans", "text_clean")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (20L, 0L, 0L, "a b c d e x y z w v"),
      (21L, 0L, 0L, "p q a b c d e r s t"),
      (22L, 0L, 0L, "m n o p q r s t u v"),
      (23L, 7L, 1L, "a b c d e f g")))
  }

  test("dupRunsIncr cuts only >= minRun runs against the frozen base; minRun=n degenerates to dupSpansIncr") {
    // derive split membership so the crafted corpus lands where intended
    val residues = spark.range(100).select(col("id").as("doc_id"))
      .withColumn("r", graft.Exprs.arrivalSplit(col("doc_id"), 5))
      .as[(Long, Long)].collect().toMap
    val baseIds = (0L until 100L).filter(residues(_) != 0)
    val deltaIds = (0L until 100L).filter(residues(_) == 0)
    val Seq(d1, d2, d3) = deltaIds.take(3)
    val docs = Seq(
      // base template owning a 7-token run and a separate 5-token run
      (baseIds.head, "alpha beta gamma delta epsilon zeta eta THE END"),
      (baseIds(1), "red green blue cyan magenta"),
      // arrival sharing the 7-run (>= minRun=6 -> cut) AND the 5-run
      // (island of 5 < 6 -> spared by the floor)
      (d1, "one two alpha beta gamma delta epsilon zeta eta three " +
        "red green blue cyan magenta four"),
      // arrival sharing only the 5-run -> untouched at minRun=6
      (d2, "red green blue cyan magenta totally new tail here"),
      // arrival sharing nothing -> untouched
      (d3, "purely unique words here nothing shared at all ok")
    ).map { case (id, t) => (id, t, "en", "s", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("duprunsincr").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.dupRunsIncr(spark, tmp, n = 5, minRun = 6)
      .select("doc_id", "n_dup", "n_spans", "text_clean")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(d1) == ((d1, 7L, 1L,
      "one two three red green blue cyan magenta four")),
      s"7-run must be cut whole, 5-island spared: ${got(d1)}")
    assert(got(d2)._2 == 0 && got(d2)._4.startsWith("red green blue"),
      s"sub-floor island must be spared: ${got(d2)}")
    assert(got(d3)._2 == 0, s"unshared arrival must be untouched: ${got(d3)}")
    // degenerate identity: at minRun = n the floor is a no-op (every cut
    // position sits on an island of >= n by construction)
    val runs = TextOps.dupRunsIncr(spark, tmp, n = 5, minRun = 5)
      .select("doc_id", "n_dup", "n_spans", "text_clean")
      .as[(Long, Long, Long, String)].collect().toSet
    val spans = TextOps.dupSpansIncr(spark, tmp)
      .select("doc_id", "n_dup", "n_spans", "text_clean")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(runs == spans, s"minRun=n must equal dupSpansIncr; " +
      s"runs-only=${(runs -- spans).take(3)} spans-only=${(spans -- runs).take(3)}")
  }

  test("bpeExtend: continued training on the delta recovers fragmentation the frozen table leaves") {
    import functions.Bpe
    // id 0 is base, id 1 is delta under the salted split; frozen merge
    // ("a","b") compresses "ab" but leaves "xy" fully fragmented — the
    // extension must learn ("x","y") from the delta and the report must
    // price the recovery: fert 5/3 -> 3/3 per word, frag 666 -> 0 permille
    val docs = Seq(
      (0L, "ab ab ab", "en", "s", 8L),
      (1L, "xy xy ab", "en", "s", 8L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("bpeext").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // nExtra=3 also exercises exhaustion: after ("x","y") every delta word
    // is a single symbol, so rounds 2-3 must no-op on both engines
    val got = Bpe.bpeExtend(spark, tmp, merges = Seq(("a", "b")), nExtra = 3)
      .collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ==
      ((3L, 1666L, 1000L, 666L, 0L)),
      s"extension report wrong: ${r.toSeq}")
  }

  test("annRp ranks by cosine in the deterministic reduced space; re-rank recovers recall") {
    import functions.VectorOps
    val signs = VectorOps.rpSigns(32, 64)
    // the matrix is deterministic and balanced-ish: no all-equal row
    assert(signs.forall(r => r.length == 64 && r.toSet.size == 2))
    val vecs = VectorOps.prepared(spark, sf())
      .select(col("vec_id"), col("v")).as[(Long, Seq[Double])].collect().toMap
    def reduce(v: Seq[Double]): Seq[Double] =
      signs.map(r => r.lazyZip(v).map(_ * _).sum)
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.lazyZip(b).map(_ * _).sum
      d / math.sqrt(a.map(x => x * x).sum) / math.sqrt(b.map(x => x * x).sum)
    }
    val red = vecs.map { case (id, v) => id -> reduce(v) }
    val expected = red.keys.toSeq.filter(_ < 5).sorted.flatMap { q =>
      red.keys.toSeq.filter(_ != q)
        .map(id => (id, r4(cos(red(q), red(id)))))
        .sortBy { case (id, c) => (-c, id) }.take(3).zipWithIndex
        .map { case ((id, c), i) => (q, i + 1, id, c) }
    }
    val got = VectorOps.annRp(spark, sf(), nQueries = 5, k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected, "RP ranking diverges from brute-force projection")
    // the rr pipeline re-ranks the RP candidate pool with exact cosine:
    // brute-force the same two stages in plain Scala
    val expectedRr = red.keys.toSeq.filter(_ < 5).sorted.flatMap { q =>
      val pool = red.keys.toSeq.filter(_ != q)
        .map(id => (id, r4(cos(red(q), red(id)))))
        .sortBy { case (id, c) => (-c, id) }.take(50).map(_._1)
      pool.map(id => (id, r4(cos(vecs(q), vecs(id)))))
        .sortBy { case (id, c) => (-c, id) }.take(3).zipWithIndex
        .map { case ((id, c), i) => (q, i + 1, id, c) }
    }
    val gotRr = VectorOps.annRpRr(spark, sf(), nQueries = 5, k = 3, cand = 50)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(gotRr == expectedRr, "RP re-rank diverges from two-stage brute-force")
    // raw projection ranking on isotropic testdata is lossy but far above
    // the ~0.01 chance floor; exact re-rank over the candidate pool
    // recovers most of it — the gap IS the operator's story
    val rec = VectorOps.recall(spark, sf(), VectorOps.annRp(spark, sf()), 20, 5).collect()
      .map(_.getAs[Double]("recall_at_k"))
    val raw = rec.sum / rec.length
    assert(raw >= 0.1, s"avg raw RP recall $raw < 0.1")
    val recRr = VectorOps.recall(spark, sf(), VectorOps.annRpRr(spark, sf()), 20, 5).collect()
      .map(_.getAs[Double]("recall_at_k"))
    val rr = recRr.sum / recRr.length
    assert(rr >= 0.7, s"avg re-ranked RP recall $rr < 0.7")
    assert(rr > raw, "re-rank must improve on raw projection ranking")
  }

  test("paraphraseMine: semantic pairs survive only when surfaces diverge; high-jaccard twins drop") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over dog", "en", "s", 34L),
      (1L, "a speedy russet vulpine leaps above canine", "en", "s", 42L),
      (2L, "the quick brown fox jumps over dog today", "en", "s", 40L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // identical embeddings: every pair is a semantic duplicate (cos 1,
    // one shared LSH bucket); the SURFACE gate must keep the disjoint
    // word sets (jaccard 0) and drop the 7/8-overlap near-twin (0,2)
    val v = Seq(1.0f, 2.0f, 3.0f, 4.0f)
    val vecs = Seq((0L, v, 0), (1L, v, 0), (2L, v, 0))
      .toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("paraphrase").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = graft.functions.MixOps.paraphraseMine(spark, dir)
      .select("doc_a", "doc_b", "cos_sim", "jaccard")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq((0L, 1L, 1.0, 0.0), (1L, 2L, 1.0, 0.0)),
      s"mined pairs wrong: $got")
  }

  test("distinctKmv: sub-k source is exact, over-k source matches the scala KMV estimator") {
    def hex60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val bigWords = (0 until 100).map(i => s"tok$i")
    val docs = Seq(
      (0L, "alpha beta gamma alpha", "en", "srcSmall", 1L),
      (1L, bigWords.mkString(" "), "en", "srcBig", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("kmv").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.distinctKmv(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    // < k distinct -> estimator degenerates to the exact count
    assert(got("srcSmall") == ((3L, got("srcSmall")._2, 3L, 0L)),
      s"sub-k source must be exact: ${got("srcSmall")}")
    // >= k distinct -> the classic (k-1)*2^60/h_k estimate, replicated here
    val hashes = bigWords.map(w => hex60(s"kmv:$w")).sorted
    val hK = hashes(15)
    val est = math.floor(15.0 * 1152921504606846976.0 / hK).toLong
    val errPm = math.abs(est - 100L) * 1000 / 100
    assert(got("srcBig") == ((100L, hK, est, errPm)),
      s"KMV estimate diverges from scala replica: ${got("srcBig")} vs ($hK, $est, $errPm)")
  }

  test("quantileSketch: sub-k source is exact; over-k source matches the scala bottom-k replica; lenCap prices the thresholds") {
    def hex60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val bigIds = (100L until 130L)
    val vOf = (id: Long) => (id % 13) + 3 // word counts 3..15, over k=16 docs
    val smallV = Map(1L -> 5L, 2L -> 9L, 3L -> 2L)
    val docs = (bigIds.map(id => (id, Seq.fill(vOf(id).toInt)("w").mkString(" "), "en", "srcBig", 1L)) ++
      smallV.toSeq.map { case (id, v) => (id, Seq.fill(v.toInt)("w").mkString(" "), "en", "srcSmall", 1L) })
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("qsk").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def pick(vs: Seq[Long], p: Int): Long = {
      val s = vs.sorted; s((s.size - 1) * p / 1000)
    }
    val sampBig = bigIds.toSeq.sortBy(id => hex60(s"qs:$id")).take(16).map(vOf)
    val allBig = bigIds.toSeq.map(vOf)
    val got = TextOps.quantileSketch(spark, tmp).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    for (p <- Seq(500, 900, 990)) {
      val (ex, es) = (pick(allBig, p), pick(sampBig, p))
      assert(got(("srcBig", p)) ==
        ((30L, ex, es, math.abs(es - ex) * 1000 / math.max(ex, 1L))),
        s"srcBig p=$p diverges: ${got(("srcBig", p))}")
      // sub-k: the sample IS the relation, so est == exact and err_pm == 0
      val exS = pick(smallV.values.toSeq, p)
      assert(got(("srcSmall", p)) == ((3L, exS, exS, 0L)),
        s"srcSmall p=$p must be exact: ${got(("srcSmall", p))}")
    }
    val cap = TextOps.lenCap(spark, tmp).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val (thrS, thrE) = (pick(sampBig, 990), pick(allBig, 990))
    val cutS = allBig.count(_ > thrS).toLong * 1000 / 30
    val cutE = allBig.count(_ > thrE).toLong * 1000 / 30
    assert(cap("srcBig") == ((30L, thrS, thrE, cutS, cutE, cutS - cutE)),
      s"lenCap srcBig diverges: ${cap("srcBig")}")
    assert(cap("srcSmall")._5 == cap("srcSmall")._4 && cap("srcSmall")._6 == 0L,
      s"sub-k lenCap must have zero mis-cut: ${cap("srcSmall")}")
  }

  test("dedupAgreement: counts cross-foot both pair relations; overlap bounded by either side") {
    val sfDir = sf("sf0.01")
    val r = graft.functions.MixOps.dedupAgreement(spark, sfDir).collect()
    assert(r.length == 1)
    val v = (0 until 7).map(r.head.getLong)
    val (nLex, nSem, nBoth, lexOnly, semOnly, lexPm, semPm) =
      (v(0), v(1), v(2), v(3), v(4), v(5), v(6))
    assert(nLex == TextOps.jaccardPairs(spark, sfDir).count(),
      s"n_lex must equal the lexical pair relation: $nLex")
    assert(nSem == VectorOps.nearDupLsh(spark, sfDir).count(),
      s"n_sem must equal the semantic pair relation: $nSem")
    assert(nBoth <= math.min(nLex, nSem) && nBoth >= 0,
      s"overlap out of bounds: $nBoth")
    assert(lexOnly == nLex - nBoth && semOnly == nSem - nBoth,
      s"partition must sum: ${r.head.toSeq}")
    assert(lexPm <= 1000 && semPm <= 1000,
      s"coverage permille out of range: ${r.head.toSeq}")
  }

  test("lshSweep: banding configs are nested (1x8 in 2x4 in 4x2), recall monotone, 2x4 row cross-foots minhashPairs") {
    val sfDir = sf("sf0.01")
    val rows = TextOps.lshSweep(spark, sfDir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))).toMap
    assert(rows.keySet == Set(1, 2, 4), s"one row per banding expected: $rows")
    val (c1, c2, c4) = (rows(1), rows(2), rows(4))
    // an r-row band match implies both (r/2)-row halves match -> nesting
    assert(c1._1 <= c2._1 && c2._1 <= c4._1,
      s"candidate sets must be nested: $rows")
    assert(c1._3 <= c2._3 && c2._3 <= c4._3,
      s"hits must be monotone in band count: $rows")
    assert(c1._4 <= c2._4 && c2._4 <= c4._4,
      s"recall must be monotone in band count: $rows")
    assert(c1._2 == c2._2 && c2._2 == c4._2, s"n_true must not vary: $rows")
    // the deployed 2x4 config IS minhashPairs — candidate counts must agree
    val deployed = TextOps.minhashPairs(spark, sfDir).count()
    assert(c2._1 == deployed,
      s"2x4 candidates ${c2._1} != minhashPairs $deployed")
    assert(rows.values.forall(v => v._4 <= 1000 && v._5 <= 1000),
      s"permille columns out of range: $rows")
  }

  test("lshRetune: the pick follows the floor (cheapest meeting, else max recall); drift respects nesting") {
    val sfDir = sf("sf0.01")
    val sweep = TextOps.lshSweep(spark, sfDir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(5)))).toMap // bands -> (n_cand, recall_pm)
    def retune(floor: Long) = {
      val r = TextOps.lshRetune(spark, sfDir, floorPm = floor).collect()(0)
      (r.getInt(0), r.getLong(2), r.getLong(8), r.getLong(9),
        r.getLong(10), r.getLong(11)) // (bands, n_cand, n_cand_default, ratio, only_chosen, only_default)
    }
    // a floor nothing can miss: the cheapest candidate set wins (1x8 —
    // nesting makes it minimal); as a subset of the default its drift is
    // one-sided
    val lo = retune(if (sweep(1)._2 > 0) 1L else 0L)
    assert(lo._1 == 1, s"lowest floor must pick the cheapest banding: $lo")
    assert(lo._5 == 0 && lo._6 == sweep(2)._1 - sweep(1)._1,
      s"1x8 is nested in the 2x4 default — drift must be one-sided: $lo sweep=$sweep")
    // an unreachable floor: fall back to the max-recall config (4x2)
    val hi = retune(1001L)
    assert(hi._1 == 4, s"unmeetable floor must fall back to max recall: $hi")
    assert(hi._6 == 0 && hi._5 == sweep(4)._1 - sweep(2)._1,
      s"4x2 contains the default — drift must be one-sided: $hi sweep=$sweep")
    // the ratio is pure integer arithmetic over the sweep's counts
    assert(hi._4 == hi._2 * 1000 / hi._3, s"cost_ratio_pm wrong: $hi")
    // the deployed floor on testdata confirms the 2x4 default (its recall
    // is the lowest one >= 950), so the action reports zero drift
    val dep = retune(950L)
    assert(dep._1 == 2 && dep._5 == 0 && dep._6 == 0 && dep._4 == 1000,
      s"deployed floor must confirm the default on testdata: $dep")
    // the r18 full-outer-join verification, kept HERE instead of in the
    // query (r19: the query derives drift from nesting — this assertion
    // is what licenses that): the ACTUAL candidate-set differences equal
    // the n_cand subtractions the query now reports
    val cands = Seq(1, 2, 4).map(nb => nb ->
      TextOps.lshCandidatesAt(spark, sfDir, nb)
        .as[(Long, Long)].collect().toSet).toMap
    assert(cands(1).subsetOf(cands(2)) && cands(2).subsetOf(cands(4)),
      "candidate sets must be nested as the drift arithmetic assumes")
    assert((cands(2) diff cands(1)).size.toLong == sweep(2)._1 - sweep(1)._1 &&
      (cands(4) diff cands(2)).size.toLong == sweep(4)._1 - sweep(2)._1,
      s"set differences must equal the n_cand subtractions: ${
        cands.view.mapValues(_.size).toMap} sweep=$sweep")
  }

  test("bloomPrefilter at the undersized sweep config: fp rescue fires and verdicts stay exact") {
    val sfDir = sf("sf0.01")
    // (32768, 2) is the deliberately undersized d_bloom_stats row — the
    // filter saturates enough that some novel probes read bloom_seen and
    // must be RESCUED by the exact base join
    val pf = TextOps.bloomPrefilter(spark, sfDir, m = 32768, k = 2).collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    val rescued = pf.values.count { case (probed, seen) => probed && !seen }
    assert(rescued > 0,
      s"undersized config must force the exact-join rescue (fp path): $rescued")
    // no false negatives: every !probed is also !seen, and the final
    // verdict equals the ground-truth membership from the monitor
    val truth = TextOps.bloomShingles(spark, sfDir, m = 32768, k = 2).collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    pf.foreach { case (sh, (probed, seen)) =>
      assert(seen == truth(sh), s"prefilter verdict diverges on $sh")
      if (!probed) assert(!seen, s"false negative on $sh")
    }
  }

  test("sketchMerge: shard-merged state is cell-identical to single-pass at any shard count") {
    val sfDir = sf("sf0.001")
    Seq(1, 3, 8).foreach { n =>
      val rows = TextOps.sketchMerge(spark, sfDir, nShards = n).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getLong(5) == 0L,
          s"nShards=$n ${r.getString(0)}/${r.getString(1)}: states differ (${r.getLong(5)} cells)")
        assert(r.getLong(3) == r.getLong(4),
          s"nShards=$n ${r.getString(0)}/${r.getString(1)}: merged stat ${r.getLong(3)} != single ${r.getLong(4)}")
      }
      // the statistic is also invariant to HOW the corpus was sharded
      val kmvEsts = rows.filter(_.getString(0) == "kmv")
        .map(r => r.getString(1) -> r.getLong(3)).toMap
      val direct = TextOps.distinctKmv(spark, sfDir).collect()
        .map(r => r.getString(0) -> r.getLong(3)).toMap
      assert(kmvEsts == direct,
        s"nShards=$n merged KMV estimate diverges from the deployed query")
    }
  }

  test("minKProb: tail statistic separates members from non-members more than the full mean; k-cut cross-foots") {
    val sfDir = sf("sf0.01")
    val rows = TextOps.minKProb(spark, sfDir).collect()
    rows.foreach { r =>
      val (n, k, sum, mink) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(k == math.max(n * 200 / 1000, 1), s"k-cut wrong: ${r.toSeq}")
      assert(mink <= sum && mink >= 0, s"tail sum out of range: ${r.toSeq}")
      // the top-k-by-bits mean is >= the full mean by construction
      assert(mink * n >= sum * k, s"tail mean below full mean: ${r.toSeq}")
    }
    def mean(f: org.apache.spark.sql.Row => Long, member: Boolean) = {
      val g = rows.filter(_.getBoolean(1) == member)
      g.map(f).sum.toDouble / g.length
    }
    val minkGap = mean(_.getLong(6), member = false) - mean(_.getLong(6), member = true)
    // non-members' worst tokens carry their unseen bigrams — the add-one
    // floor makes them strictly more expensive on average
    assert(minkGap > 0, s"min-k must separate non-members upward: $minkGap")
    val fullPm = (r: org.apache.spark.sql.Row) => r.getLong(4) * 1000 / r.getLong(2)
    val fullGap = mean(fullPm, member = false) - mean(fullPm, member = true)
    assert(minkGap > fullGap,
      s"the tail statistic must amplify the separation: mink=$minkGap full=$fullGap")
  }

  test("minKProb: planted verbatim base copies land in the member band; genuinely-novel docs sit strictly above") {
    // the Shi et al. 2024 DETECTION scenario the audit exists for (r18
    // VERDICT #5): score docs the auditor believes are non-members — the
    // ones carrying verbatim base-split text must be indistinguishable
    // from members (their min-k tail is all seen bigrams), while truly
    // novel docs separate strictly upward on their unseen-bigram tails.
    // Split membership is the salted doc_id hash, so first recover which
    // ids land on each side, then assign texts by role.
    val splits = spark.range(0, 400).select(col("id").as("doc_id"))
      .withColumn("s", graft.Exprs.arrivalSplit(col("doc_id"), 5))
      .as[(Long, Long)].collect()
    val memberIds = splits.filter(_._2 != 0).map(_._1).take(40)
    val nonMemberIds = splits.filter(_._2 == 0).map(_._1).take(20)
    assert(memberIds.length == 40 && nonMemberIds.length == 20,
      "fixture needs 40 members and 20 non-members in the id range")
    val vocab = Seq("lorem", "ipsum", "dolor", "sit", "amet",
      "consectetur", "adipiscing", "elit", "sed", "tempor")
    // members: cyclic walks over a shared vocabulary — every bigram the
    // base LM will know
    def memberText(j: Int): String =
      (0 until 30 + j % 7).map(i => vocab((j + i) % vocab.size)).mkString(" ")
    val members = memberIds.zipWithIndex.map { case (id, j) =>
      (id, memberText(j), "en", "s", 100L)
    }
    // first 10 non-members: VERBATIM copies of member texts (the planted
    // contamination); last 10: fully novel vocabulary, every token and
    // bigram unseen by the frozen base LM
    val (contamIds, novelIds) = nonMemberIds.splitAt(10)
    val contaminated = contamIds.zipWithIndex.map { case (id, j) =>
      (id, memberText(j), "en", "s", 100L)
    }
    val novel = novelIds.zipWithIndex.map { case (id, j) =>
      (id, (0 until 20).map(i => s"zx${j}w$i").mkString(" "), "en", "s", 100L)
    }
    val docs = (members ++ contaminated ++ novel).toSeq
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("mink").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextOps.minKProb(spark, tmp).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(6)))).toMap
    val memberBandMax = memberIds.map(id => rows(id)._2).max
    contamIds.zipWithIndex.foreach { case (id, j) =>
      assert(!rows(id)._1, s"fixture bug: $id must be a non-member")
      // a verbatim copy's per-token costs are a pure function of its
      // words — it scores EXACTLY like its member twin
      assert(rows(id)._2 == rows(memberIds(j))._2,
        s"verbatim copy $id must score exactly like member ${memberIds(j)}: ${
          rows(id)._2} vs ${rows(memberIds(j))._2}")
      assert(rows(id)._2 <= memberBandMax,
        s"planted copy $id must land in the member band (<= $memberBandMax): ${rows(id)._2}")
    }
    novelIds.foreach { id =>
      assert(rows(id)._2 > memberBandMax,
        s"novel doc $id must sit strictly above the member band ($memberBandMax): ${rows(id)._2}")
    }
    // the detection margin is wide, not marginal: the novel floor clears
    // the member ceiling by >2x (thresholds recorded in PLANS.md)
    val novelMin = novelIds.map(id => rows(id)._2).min
    assert(novelMin > 2 * memberBandMax,
      s"novel floor $novelMin must clear 2x the member ceiling $memberBandMax")
  }

  test("anisotropy/abtt: a dominant common direction is found and projecting it out deflates the inflated pairs") {
    // 10 vectors = 10·e0 + e_{i+1}: pairwise cosine 100/101 — every pair
    // is a "near-dup" by cosine, but ALL similarity is the shared common
    // component, none is content (the Mu & Viswanath pathology)
    val dim = 64
    val rows = (0 until 10).map { i =>
      val v = Array.fill(dim)(0.0f)
      v(0) = 10.0f; v(i + 1) = 1.0f
      (i.toLong, v.toSeq, i)
    }
    val docs = spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
    val tmp = java.nio.file.Files.createTempDirectory("abtt").toString
    docs.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val a = VectorOps.anisotropy(spark, tmp).collect()(0)
    assert(a.getLong(0) == 10)
    // power iteration locks onto e0: its Rayleigh share is ~0.99 and the
    // top direction is the mean direction
    assert(a.getDouble(1) > 0.9, s"eig_share must expose the common direction: $a")
    assert(a.getDouble(3) > 0.99, s"top direction must align with the mean: $a")
    val p = VectorOps.abttPairs(spark, tmp).collect()(0)
    assert(p.getLong(0) == 45, s"all 45 pairs inflated before: $p")
    assert(p.getLong(1) == 0 && p.getLong(3) == 45,
      s"projection must deflate every common-direction pair: $p")
    // the ADMISSION gate at the deployed 0.99 threshold fires on every
    // vector of this pathological cloud (each is ~0.995 common direction)
    // — the true branch of v_dir_gate's verdict, which healthy testdata
    // never reaches (max |dp| ~0.85)
    val g = VectorOps.dirGate(spark, tmp).collect()
    assert(g.length == 10 && g.forall(_.getBoolean(3)),
      s"dirGate must flag a pure common-direction cloud: ${g.map(_.toSeq).toSeq}")
    // sanity on the real table: shares/cosines are bounded and the pair
    // drift columns cross-foot
    val r = VectorOps.anisotropy(spark, sf()).collect()(0)
    assert(r.getDouble(1) > 0 && r.getDouble(1) <= 1.0)
    assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1.0)
    val d = VectorOps.abttPairs(spark, sf()).collect()(0)
    assert(d.getLong(0) == d.getLong(2) + d.getLong(3) &&
      d.getLong(1) == d.getLong(2) + d.getLong(4), s"drift cross-foot: $d")
  }

  test("heavyHitters: CMS report matches a full scala replica; min-of-rows only over-counts") {
    def hex60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val texts = Seq(
      "apple banana apple cherry apple",
      "banana cherry durian apple banana",
      "elder fig grape elder apple")
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s0", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("cms").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val counts = texts.flatMap(_.split(" "))
      .groupBy(identity).map { case (w, l) => (w, l.size.toLong) }
    val counters = (0 until 3).map { r =>
      counts.toSeq.groupBy { case (w, _) => hex60(s"cms$r:$w") % 64 }
        .map { case (b, ws) => (b, ws.map(_._2).sum) }
    }
    val expect = counts.toSeq.sortBy { case (w, n) => (-n, w) }.take(20)
      .map { case (w, n) =>
        val est = (0 until 3).map(r => counters(r)(hex60(s"cms$r:$w") % 64)).min
        w -> ((n, est, (est - n) * 1000 / n))
      }.toMap
    val got = TextOps.heavyHitters(spark, tmp).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect, s"CMS diverges from replica:\n got=$got\n exp=$expect")
    got.values.foreach { case (n, est, overPm) =>
      assert(est >= n && overPm >= 0, "CMS must never under-estimate")
    }
  }

  test("hhWiden: doubling width refines monotonically; both widths match the replica") {
    def hex60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    // vocab of 90 > 64 buckets: narrow-width collisions are certain
    val texts = (0 until 6).map { d =>
      (0 until 15).map(i => s"tok${(d * 15 + i) % 90}").mkString(" ")
    } ++ Seq("tok0 tok0 tok0 tok1 tok1")
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s0", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("hhw").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val counts = texts.flatMap(_.split(" "))
      .groupBy(identity).map { case (w, l) => (w, l.size.toLong) }
    def counterAt(width: Int): Seq[Map[Long, Long]] = (0 until 3).map { r =>
      counts.toSeq.groupBy { case (w, _) => hex60(s"cms$r:$w") % width }
        .map { case (b, ws) => (b, ws.map(_._2).sum) }
    }
    val (c64, c128) = (counterAt(64), counterAt(128))
    val expect = counts.toSeq.sortBy { case (w, n) => (-n, w) }.take(20)
      .map { case (w, n) =>
        val e64 = (0 until 3).map(r => c64(r)(hex60(s"cms$r:$w") % 64)).min
        val e128 = (0 until 3).map(r => c128(r)(hex60(s"cms$r:$w") % 128)).min
        w -> ((n, e64, e128,
          (e64 - n) * 1000 / n - (e128 - n) * 1000 / n))
      }.toMap
    val got = TextOps.hhWiden(spark, tmp).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(6)))).toMap
    assert(got == expect, s"widen diverges from replica:\n got=$got\n exp=$expect")
    // shared-hash refinement: the coarse counter is the sum of its two
    // children, so the wide estimate can never exceed the narrow one
    got.values.foreach { case (n, e64, e128, recPm) =>
      assert(e128 <= e64 && e128 >= n && recPm >= 0,
        s"refinement invariant violated: n=$n e64=$e64 e128=$e128")
    }
  }

  test("sourceBudget: cross-source redundancy shrinks the crawl quota; original source keeps all") {
    def hex60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val shared = "this exact text is crawled by both sources word for word"
    val docs = Seq(
      (0L, shared, "en", "srcA", 1L),                       // original owner (min id)
      (1L, "unique content only srcA ever crawled here", "en", "srcA", 1L),
      (2L, shared, "en", "srcB", 1L),                       // redundant copy -> owned
      (3L, "another text only srcB has in its crawl", "en", "srcB", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("srcbudget").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.sourceBudget(spark, tmp, k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val bySrc = got.groupBy(_._2)
    // srcA: nothing owned elsewhere -> full quota, both docs kept
    assert(bySrc("srcA").map(_._1).toSet == Set(0L, 1L) &&
      bySrc("srcA").head._4 == 0L && bySrc("srcA").head._5 == 2L,
      s"original source must keep its full quota: ${bySrc.get("srcA")}")
    // srcB: half its crawl is owned by srcA -> quota halves to 1; the
    // survivor is the cap walk's hash-rank winner, replicated here
    val winner = Seq(2L, 3L).minBy(id => (hex60(s"cap:$id"), id))
    assert(bySrc("srcB").map(t => (t._1, t._4, t._5)).toSeq ==
      Seq((winner, 500L, 1L)),
      s"redundant source must lose half its budget: ${bySrc.get("srcB")}")
  }

  test("embedRefresh: stale member that evaded semantic dedup is reclaimed by serving the rep's vector") {
    import functions.VectorOps
    val t = "identical text shared by the whole duplicate family"
    val docs = Seq(
      (0L, t, "en", "sA", 50L),                 // rep of the family
      (1L, t, "en", "sA", 50L),                 // aligned member
      (2L, t, "en", "sB", 50L),                 // stale member (orthogonal vector)
      (3L, "a singleton document", "en", "sB", 20L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f), 0),    // cos ~0.994 -> aligned
      (2L, Seq(0.0f, 0.0f, 1.0f, 0.0f), 0),    // cos 0 -> stale AND evades cos-dedup
      (3L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val tmp = java.nio.file.Files.createTempDirectory("embrefresh").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    vecs.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = VectorOps.embedRefresh(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // sB's stale member evaded the LSH-cos drop verdict before the repair
    // (orthogonal vector), is dropped after (vector == rep's): recovered 1
    assert(got == Map(
      "sA" -> ((1L, 0L, 0L, 0L, 0L, -1L)),
      "sB" -> ((1L, 1L, 1L, 0L, 1L, 1000L))),
      s"refresh audit wrong: $got")
  }

  test("qualityRequota: retuned threshold restores the base keep-rate on the delta by exact rank") {
    // derive split membership so the crafted corpus lands where intended
    val residues = spark.range(100).select(col("id").as("doc_id"))
      .withColumn("r", graft.Exprs.arrivalSplit(col("doc_id"), 5))
      .as[(Long, Long)].collect().toMap
    val baseIds = (0L until 100L).filter(residues(_) != 0)
    val deltaIds = (0L until 100L).filter(residues(_) == 0)
    val Seq(d1, d2, d3, d4) = deltaIds.take(4)
    // scores: HIGH ~0.51 (>= 0.5 deployed gate), LOWs all < 0.5, distinct
    val docs = Seq(
      (baseIds.head, "excellent fantastic remarkable brilliant"), // base HIGH
      (baseIds(1), "a to in"),                                    // base LOW
      (d1, "wonderful magnificent extraordinary phenomenal"),     // delta HIGH ~0.51
      (d2, "some random cat dog"),                                // ~0.41
      (d3, "the and cat"),                                        // ~0.18
      (d4, "the of")                                              // ~0.07
    ).map { case (id, t) => (id, t, "en", "sA", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("requota").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = TextOps.qualityRequota(spark, tmp).collect()
    assert(r.length == 1)
    val row = r.head
    // base keeps 1/2 = 500pm at the deployed gate; the delta collapses to
    // 1/4 = 250pm; target_keep = 4 * 1 div 2 = 2, tau = the 2nd-ranked
    // delta score (~0.41, BELOW the deployed 0.5 — a rate-preserving
    // retune lowers the bar), and the retuned rate is back at 500pm
    assert((row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4),
      row.getLong(5), row.getLong(7), row.getLong(8)) ==
      ((2L, 4L, 500L, 250L, 2L, 2L, 500L)),
      s"requota row wrong: ${row.toSeq}")
    val tau = row.getDouble(6)
    assert(tau > 0.4 && tau < 0.5, s"tau $tau should be the 2nd delta score")
  }

  test("monitor-action cross-foots: pruned mass matches the stats monitor; merge recall columns match the compact audit") {
    val dir = sf("sf0.001")
    // d_bm25_pruned's constant column IS the capped_pm the index monitor
    // reports at the same cap — the monitor and the action must price the
    // same mass
    val st = functions.Retrieval.bm25IndexStats(spark, dir, maxDfFrac = 0.78)
      .select("capped_pm").as[Long].head()
    val pr = functions.Retrieval.bm25Pruned(spark, dir)
      .select("pruned_mass_pm").as[Long].head()
    assert(pr == st, s"pruned_mass_pm $pr != monitor capped_pm $st")
    // v_graph_merge's full/stale columns reuse graphCompact's machinery —
    // the two audits must agree query-for-query on the shared sides
    val compact = functions.VectorOps.graphCompact(spark, dir)
      .select("q_id", "n_hits_full", "n_hits_stale")
      .as[(Long, Long, Long)].collect().toSet
    val merge = functions.VectorOps.graphMerge(spark, dir)
      .select("q_id", "n_hits_full", "n_hits_stale")
      .as[(Long, Long, Long)].collect().toSet
    assert(merge == compact,
      s"merge audit disagrees with compact on shared sides: ${merge -- compact}")
    // d_bpe_extend's frozen columns ARE the drift monitor's delta side —
    // the monitor and the retrain must price the same fragmentation
    val drift = functions.Bpe.bpeDrift(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(6)))).toMap
    val ext = functions.Bpe.bpeExtend(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(4)))).toMap
    assert(ext.keySet.subsetOf(drift.keySet), "extend sources must be monitored")
    val bpeDiv = ext.collect { case (s, v) if drift(s) != v => (s, v, drift(s)) }
    assert(bpeDiv.isEmpty,
      s"extend frozen side disagrees with drift delta side: ${bpeDiv.take(3)}")
    // v_embed_refresh's member/stale columns ARE the staleness monitor's —
    // the repair must act on exactly the set the monitor flags
    val stale = functions.VectorOps.embedStale(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val refresh = functions.VectorOps.embedRefresh(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(refresh == stale,
      s"refresh member/stale counts disagree with the monitor: ${
        refresh.toSet diff stale.toSet}")
  }

  test("bpe: classic low/lower/newest corpus trains the expected first merges") {
    // the textbook BPE example: "lo" then "low" dominate
    val docs = Seq(
      (1L, "low low low low low lower lower newest newest", "en", "s", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("bpe").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = functions.Bpe.bpePairs(spark, tmp, k = 3)
      .select("pair", "weight").as[(String, Long)].collect().toSeq
    // l+o and o+w each occur in low(5) and lower(2) → weight 7
    assert(pairs.take(2).toSet == Set(("l o", 7L), ("o w", 7L)))
    val merges = functions.Bpe.train(spark, tmp, nMerges = 3)
    // tie "l o" vs "o w" breaks lexicographically → "l o" first, then the
    // fused "lo"+"w" (still weight 7) beats everything from newest(2)
    assert(merges.map(m => (m._2, m._3)).take(2) == Seq(("l", "o"), ("lo", "w")))
    assert(merges.head._4 == 7L)
    // APPLY side: the trained merges tokenize unseen words correctly
    val seg = functions.Bpe.segmentWords(
        Seq("lower", "slow").toDF("w"), Seq(("l", "o"), ("lo", "w")))
      .select("w", "syms").as[(String, Seq[String])].collect().toMap
    assert(seg("lower") == Seq("low", "e", "r"))
    assert(seg("slow") == Seq("s", "low"))
  }

  test("bpe: embedded trainedMerges is what train() produces on its source corpus") {
    // d_bpe_apply folds the EMBEDDED table — provenance must be live, not
    // a comment: the sequential trainer over the table's source corpus
    // (sf0.01) must reproduce the embedded prefix exactly, ranks, symbols
    // and order. 8 rounds keeps the spec fast; the prefix property is what
    // an ordered merge table needs (later merges never affect earlier ones).
    val merges = functions.Bpe.train(spark, sf("sf0.01"), nMerges = 8)
    assert(merges.map(m => (m._2, m._3)) == functions.Bpe.trainedMerges.take(8),
      s"embedded table diverged from training: $merges")
  }

  test("bpe apply: 1000+ merge table in one constant-depth pass, identical to the batched nested fold") {
    // a fully-chaining spine — (a,b), (ab,c), (abc,d) … collapses the whole
    // alphabet word to ONE symbol, so every spine merge depends on the one
    // before it: ordering bugs in the flat fold cannot hide
    val alpha = ('a' to 'z').map(_.toString)
    val spine = alpha.drop(2).scanLeft((alpha.head, alpha(1))) {
      case ((a, b), c) => (a + b, c)
    } // ("a","b"), ("ab","c") … ("abcdefghijklmnopqrstuvwxy","z")
    // pad to >1000 with vocabulary-absent merges INTERLEAVED between the
    // real ones — the table stays ordered, the guard path gets exercised,
    // and the depth contract (constant, not linear) is what's under test
    val padded = spine.zipWithIndex.flatMap { case (m, i) =>
      m +: (0 until 41).map(j => (s"zz${i}_$j", s"qq${i}_$j"))
    }
    assert(padded.size > 1000, s"table only ${padded.size} merges")
    val words = Seq(alpha.mkString(""), "abcxyz", "zebra", "a").toDF("w")
    val flat = functions.Bpe.segmentWords(words, padded)
      .select("w", "syms").as[(String, Seq[String])].collect().toMap
    // whole alphabet collapses to a single fused symbol through all 25
    // chained spine merges — proves the late merges actually ran, in order
    assert(flat(alpha.mkString("")) == Seq(alpha.mkString("")))
    assert(flat("abcxyz") == Seq("abc", "x", "y", "z"))
    assert(flat("a") == Seq("a"))
    // identity against the independent nested-fold path, folded in batches
    // of 97 (11 batches, materialize between) — the inductive extension of
    // the ≤200-nesting reference implementation
    val nested = functions.Bpe.segmentWordsNested(words, padded, batchSize = 97)
      .select("w", "syms").as[(String, Seq[String])].collect().toMap
    assert(nested == flat, s"flat/nested divergence: $flat vs $nested")
  }

  test("ivf incr: incrementally-maintained index searches identically to the batch-built one") {
    // the parity contract: delta vectors assigned by the incremental fold
    // are indistinguishable — row-exactly — from a full batch build with
    // the same frozen centroids, so "searchable at parity" is an identity,
    // not a tolerance
    val e = functions.VectorOps.prepared(spark, sf())
    val isDelta = graft.Exprs.arrivalSplit(col("vec_id"), 5) === 0
    val cents = e.filter(!isDelta).orderBy(col("vec_id")).limit(16)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"), col("nrm").as("cn"))
    val batch = functions.VectorOps.annIvfMultiWith(e, cents,
      nQueries = 20, kNn = 5, nProbe = 2).collect().toSeq
    val incr = functions.VectorOps.annIvfIncrSearch(spark, sf(),
      nQueries = 20, kNn = 5, kCentroids = 16, nProbe = 2, mod = 5).collect().toSeq
    assert(incr == batch, s"incremental index diverged from batch build")
    // the claim must not be vacuous: delta vectors actually surface as
    // neighbors through the incrementally-assigned inverted lists
    val deltaIds = e.filter(isDelta).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(incr.exists(r => deltaIds(r.getAs[Long]("neighbor_id"))),
      "no delta vector appeared in any top-k — parity untested")
  }

  test("image near-dup: banded join equals brute-force thresholded pairs; families resolve") {
    val pairs = Multimodal.imageNearDup(spark, sf()).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Int]("hamming")))
    assert(pairs.nonEmpty, "no near-dup pairs — synthesis families missing")
    // pigeonhole-losslessness made runnable: the 8-band candidate join
    // must emit EXACTLY the ≤6-hamming pairs a brute-force scan finds
    val hashes = Multimodal.perceptualHash(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 6
    } yield (a, b, d)).toSet
    assert(pairs.toSet == brute, "banded pairs diverge from brute-force")
    // the synthesized families separate: every pair is within one family
    // group (two perturbed pixels apart), no unique-image or cross-group
    // pair sneaks under 6 at this fixture scale (measured min 8)
    def isFamily(id: Long) = (id / 3) % 2 == 0
    pairs.foreach { case (a, b, d) =>
      assert(isFamily(a) && isFamily(b) && a % 25 == b % 25,
        s"non-family pair ($a,$b) at hamming $d")
    }
    // and completeness: every same-group family pair IS a near-dup (same
    // base image, nudged pixels — measured max 4 bits apart)
    val perGroup = hashes.map(_._1).filter(isFamily).groupBy(_ % 25).values
    val expected = perGroup.map(g => g.length.toLong * (g.length - 1) / 2).sum
    assert(pairs.length.toLong == expected,
      s"${pairs.length} pairs vs $expected same-group family pairs")
  }

  test("image dup clusters: exact-collapse + label propagation equals brute-force components") {
    val clusters = Multimodal.imageDupClusters(spark, sf()).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // brute-force union-find over the verified pair graph
    val pairs = Multimodal.imageNearDup(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = clusters.keys.toSeq.sorted
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra.max(rb)) = ra.min(rb)
    }
    val comp = ids.groupBy(find)
    comp.foreach { case (_, members) =>
      val rep = members.min
      members.foreach { m =>
        assert(clusters(m)._1 == rep, s"image $m labeled ${clusters(m)._1}, expected $rep")
        assert(clusters(m)._2 == members.size.toLong, s"cluster size wrong for $m")
      }
    }
    // the apply keeps exactly one representative per component
    val keep = Multimodal.imageDedupApply(spark, sf()).collect()
      .filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    assert(keep == comp.values.map(_.min).toSet, "apply kept a non-representative set")
  }

  test("image dedup incr: classifications match brute-force over the salted split") {
    val hashes = Multimodal.perceptualHash(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hex60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    def isDelta(id: Long) = hex60(s"inc:$id") % 3 == 0
    val (delta, base) = hashes.keys.toSeq.sorted.partition(isDelta)
    def near(a: Long, b: Long) = java.lang.Long.bitCount(hashes(a) ^ hashes(b)) <= 6
    val expected = delta.map { id =>
      val dr =
        if (base.exists(near(id, _))) "dup_of_base"
        else if (delta.exists(e => e < id && near(id, e))) "dup_in_increment"
        else "kept"
      id -> dr
    }.toMap
    val got = Multimodal.imageDedupIncr(spark, sf()).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[String]("drop_reason")).toMap
    assert(got == expected, s"classification diverges from brute-force")
    // all three classes must actually occur — an increment fixture that
    // only ever produces one outcome pins nothing
    assert(got.values.toSet == Set("kept", "dup_of_base", "dup_in_increment"),
      s"fixture degenerate: classes seen = ${got.values.toSet}")
  }

  test("audio dedup incr: classifications match brute-force over the salted split") {
    val fps = (0L until 500L).filter(_ % 3 == 1)
      .map(id => id -> Multimodal.audioFpOf(id)).toMap
    def hex60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    def isDelta(id: Long) = hex60(s"inc:$id") % 3 == 0
    val (delta, base) = fps.keys.toSeq.sorted.partition(isDelta)
    def near(a: Long, b: Long) = java.lang.Long.bitCount(fps(a) ^ fps(b)) <= 6
    val expected = delta.map { id =>
      val dr =
        if (base.exists(near(id, _))) "dup_of_base"
        else if (delta.exists(e => e < id && near(id, e))) "dup_in_increment"
        else "kept"
      id -> dr
    }.toMap
    val got = Multimodal.audioDedupIncr(spark, sf()).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[String]("drop_reason")).toMap
    assert(got == expected, "classification diverges from brute-force")
    assert(got.values.toSet == Set("kept", "dup_of_base", "dup_in_increment"),
      s"fixture degenerate: classes seen = ${got.values.toSet}")
  }

  test("video dedup incr: containment classifications match brute-force over the salted split") {
    def hex60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    def isDelta(id: Long) = hex60(s"inc:$id") % 3 == 0
    val vids = (0L until 500L).filter(_ % 3 == 2)
    def frames(v: Long) =
      (0 until Multimodal.frameCount(v)).map(f => Multimodal.frameHash(v, f))
    val (delta, base) = vids.partition(isDelta)
    // brute-force containment of a delta video's frames in one other video
    def contained(th: Double)(v: Long, other: Long): Boolean = {
      val fv = frames(v); val fo = frames(other)
      val shared = fv.count(h => fo.exists(h2 => java.lang.Long.bitCount(h ^ h2) <= 6))
      shared >= math.ceil(th * fv.length)
    }
    def expected(th: Double) = delta.map { v =>
      val c = contained(th) _
      val dr =
        if (base.exists(c(v, _))) "dup_of_base"
        else if (delta.exists(e => e < v && c(v, e))) "dup_in_increment"
        else "kept"
      v -> dr
    }.toMap
    def got(th: Double) = Multimodal.videoDedupIncr(spark, sf(), contThreshold = th)
      .collect()
      .map(r => r.getAs[Long]("video_id") -> r.getAs[String]("drop_reason")).toMap
    // default threshold on the full corpus: engine equals brute force (the
    // 15-wide texture families make every delta half-contained in a base
    // member — all dup_of_base, which IS the correct answer here)
    assert(got(0.5) == expected(0.5), "classification diverges at threshold 0.5")
    // discriminating fixture: a crafted 4-video corpus where full
    // containment (threshold 1.0) produces all three classes — family 2
    // has base 2 (nf 5) owning delta 62 (nf 5); family 5 has only deltas
    // 5 and 65 (nf 4 each), so 5 is kept and 65 dups the increment
    val tmp = java.nio.file.Files.createTempDirectory("vdi").toString
    Seq(2L, 62L, 5L, 65L).toDF("doc_id")
      .withColumn("source", lit("s")).withColumn("text", lit("t"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val strict = Multimodal.videoDedupIncr(spark, tmp, contThreshold = 1.0)
      .collect()
      .map(r => r.getAs[Long]("video_id") -> r.getAs[String]("drop_reason")).toMap
    assert(strict == Map(62L -> "dup_of_base", 5L -> "kept", 65L -> "dup_in_increment"),
      s"crafted-corpus classes wrong: $strict")
  }

  test("curriculum pack: phases strictly ordered in the walk, offsets a valid prefix sum") {
    import functions.{MixOps, TextOps}
    val rows = MixOps.curriculumPack(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    val phases = rows.map(_._2).distinct.sorted.toSeq
    assert(phases.size >= 2, s"fixture degenerate: one phase only ($phases)")
    // the walk is phase-ordered: every offset in phase p precedes phase p+1
    for (Seq(p, pn) <- phases.sliding(2)) {
      val maxP = rows.filter(_._2 == p).map(r => r._4 + r._3).max
      val minNext = rows.filter(_._2 == pn).map(_._4).min
      assert(maxP <= minNext, s"phase $p overlaps phase $pn in the walk")
    }
    // offsets form an exact prefix sum: ordered by off, each row starts
    // where the previous ended, and the walk covers every token once
    val byOff = rows.sortBy(_._4)
    byOff.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 + a._3 == b._4, s"gap/overlap between ${a._1} and ${b._1}")
    }
    assert(byOff.head._4 == 0L)
    assert(byOff.last._4 + byOff.last._3 == rows.map(_._3.toLong).sum)
    // phase agrees with the curation tier's quality bucket (one definition)
    val buckets = TextOps.quality(spark, sf()).select("doc_id", "quality_bucket")
      .as[(Long, String)].collect().toMap
    rows.foreach { case (id, phase, _, _, _) =>
      val want = buckets(id) match {
        case "low" => 0; case "medium" => 1; case _ => 2
      }
      assert(phase == want, s"doc $id phase $phase != bucket ${buckets(id)}")
    }
    // testdata tops out at 'medium' quality — drive the full three-phase
    // schedule (anneal shards last) on a crafted corpus
    val longWords = (1 to 200).map(i => f"wonderful$i%03d").mkString(" ")
    val docs = Seq(
      (1L, "the a of and to in the a of and", "en", "s", 30L), // low
      // 90 long non-stopwords: 0.5·(90/200) + 0.3 + 0.2 = 0.725 → medium
      (2L, (1 to 90).map(i => f"moderate$i%03d").mkString(" "), "en", "s", 1000L),
      (3L, longWords, "en", "s", longWords.length.toLong)       // high
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("curriculum").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val crafted = MixOps.curriculumPack(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(3))).sortBy(_._3)
    assert(crafted.map(_._2).toSeq == Seq(0, 1, 2),
      s"crafted walk not phase-ordered low->medium->high: ${crafted.toSeq}")
  }

  test("eval holdout decontamination: rare-shingle leak flagged with its source, clean doc kept") {
    import functions.TextOps
    // ids 37/46 are test-split under hex60('spl:'||id)%100 >= 95; 0/1 train.
    // doc 37 shares the rare shingle "secret leaked trigram" with train doc
    // 0; doc 46 is vocabulary-disjoint from the train side.
    val docs = Seq(
      (0L, "the secret leaked trigram hides inside this training document", "en", "s", 60L),
      (1L, "ordinary training content with nothing shared at all", "en", "s", 52L),
      (37L, "evaluation text containing the secret leaked trigram too", "en", "s", 56L),
      (46L, "completely disjoint holdout vocabulary everywhere", "en", "s", 49L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("evalclean").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.evalClean(spark, tmp).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.getAs[java.lang.Long]("leak_doc")).map(_.toLong),
          r.getBoolean(3))).toMap
    assert(got.keySet == Set(37L, 46L), s"test split wrong: ${got.keySet}")
    assert(got(46L) == ((0L, None, true)), s"clean doc flagged: ${got(46L)}")
    assert(got(37L)._2 == Some(0L) && !got(37L)._3 && got(37L)._1 >= 1L,
      s"leak not attributed to train doc 0: ${got(37L)}")
  }

  test("incremental kNN graph: delta edges match brute-force over frozen cells") {
    import functions.VectorOps
    val vecs = VectorOps.prepared(spark, sf())
      .select(col("vec_id"), col("v")).as[(Long, Seq[Double])].collect().toMap
    def hex60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    def isBase(id: Long) = hex60(s"inc:$id") % 5 != 0
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.lazyZip(b).map(_ * _).sum
      d / math.sqrt(a.map(x => x * x).sum) / math.sqrt(b.map(x => x * x).sum)
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cents = vecs.keys.toSeq.filter(isBase).sorted.take(16)
    val cell = vecs.keys.map { id =>
      id -> cents.map(c => (c, cos(vecs(id), vecs(c))))
        .sortBy { case (c, s) => (-s, c) }.head._1
    }.toMap
    val delta = vecs.keys.toSeq.filterNot(isBase).sorted
    val expected = delta.flatMap { s =>
      vecs.keys.toSeq.filter(d => d != s && cell(d) == cell(s))
        .map(d => (d, r4(cos(vecs(s), vecs(d)))))
        .sortBy { case (d, c) => (-c, d) }.take(5).zipWithIndex
        .map { case ((d, c), i) => (s, d, i + 1, c, isBase(d)) }
    }
    val got = VectorOps.knnGraphIncr(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getBoolean(4)))
      .toSeq
    assert(got == expected, "incremental graph edges diverge from brute-force")
    assert(got.exists(_._5) && got.exists(!_._5),
      "fixture degenerate: edges should reach both base and delta destinations")
  }

  test("caption+image joint dedup incr: verdicts match brute-force over the salted split") {
    import functions.TextOps
    val sigs = TextOps.minhashSignatures(spark, sf()).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    val hashes = Multimodal.perceptualHash(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hex60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    def isDelta(id: Long) = hex60(s"inc:$id") % 5 == 0
    def near(a: Long, b: Long): Boolean =
      java.lang.Long.bitCount(hashes(a) ^ hashes(b)) <= 6 &&
        sigs(a).zip(sigs(b)).count { case (x, y) => x == y } >= 7
    val (delta, base) = hashes.keys.toSeq.sorted.partition(isDelta)
    val expected = delta.map { id =>
      val ofBase = base.filter(near(id, _))
      val inDelta = delta.filter(e => e < id && near(id, e))
      val (dr, rep) =
        if (ofBase.nonEmpty) ("dup_of_base", Some(ofBase.min))
        else if (inDelta.nonEmpty) ("dup_in_increment", Some(inDelta.min))
        else ("kept", None)
      id -> (dr, rep)
    }.toMap
    val got = Multimodal.captionDupIncr(spark, sf()).collect()
      .map(r => r.getAs[Long]("media_id") ->
        (r.getAs[String]("drop_reason"), Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)))
      .toMap
    assert(got == expected, "joint incremental verdicts diverge from brute-force")
    assert(got.values.map(_._1).toSet.contains("kept") &&
      got.values.map(_._1).toSet.contains("dup_of_base"),
      s"fixture degenerate: classes seen = ${got.values.map(_._1).toSet}")
  }

  test("caption+image joint dedup: equals brute-force AND of the two modality relations") {
    import functions.TextOps
    val sigs = TextOps.minhashSignatures(spark, sf()).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    val hashes = Multimodal.perceptualHash(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = hashes.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      ham = java.lang.Long.bitCount(hashes(a) ^ hashes(b)) if ham <= 6
      agree = sigs(a).zip(sigs(b)).count { case (x, y) => x == y } if agree >= 7
    } yield (a, b, ham, agree)).toSet
    val got = Multimodal.captionDup(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(got == expected, "joint pairs diverge from brute-force")
    assert(got.nonEmpty, "fixture degenerate: no joint caption+image dups")
    // the joint criterion must genuinely prune: image-near pairs whose
    // captions differ are distinct supervision examples, not duplicates
    val imgOnly = Multimodal.imageNearDup(spark, sf()).count()
    assert(got.size < imgOnly,
      s"caption gate pruned nothing (joint ${got.size} vs image $imgOnly)")
  }

  test("SQ8 asymmetric search: codes bounded, ranking matches brute-force, recall useful") {
    import functions.VectorOps
    val vecs = VectorOps.prepared(spark, sf())
      .select(col("vec_id"), col("v")).as[(Long, Seq[Double])].collect().toMap
    def codesOf(v: Seq[Double]): Seq[Double] = {
      val s = v.map(math.abs).max / 127.0
      v.map(x => math.floor(x / s + 0.5))
    }
    // int8 range by construction: |x| <= max_abs => |code| <= 127
    vecs.values.foreach(v =>
      assert(codesOf(v).forall(c => c.abs <= 127.0), "code outside int8 range"))
    // asymmetric ranking == brute-force reconstructed cosine (scale cancels),
    // with Spark round()'s HALF_UP semantics reproduced via BigDecimal
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.lazyZip(b).map(_ * _).sum
      d / math.sqrt(a.map(x => x * x).sum) / math.sqrt(b.map(x => x * x).sum)
    }
    val expected = vecs.keys.toSeq.filter(_ < 5).sorted.flatMap { q =>
      vecs.keys.toSeq.filter(_ != q)
        .map(id => (id, r4(cos(vecs(q), codesOf(vecs(id))))))
        .sortBy { case (id, c) => (-c, id) }.take(3).zipWithIndex
        .map { case ((id, c), i) => (q, i + 1, id, c) }
    }
    val got = VectorOps.annSq(spark, sf(), nQueries = 5, k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected, "SQ ranking diverges from brute-force")
    // quantization loss stays small: recall@5 of the SQ tier on testdata
    val rec = VectorOps.recall(spark, sf(), VectorOps.annSq(spark, sf()), 20, 5).collect()
      .map(_.getAs[Double]("recall_at_k"))
    assert(rec.sum / rec.length >= 0.8, s"avg SQ recall ${rec.sum / rec.length} < 0.8")
  }

  test("bpe drift monitor: delta vocabulary the merges cannot compress drives drift positive") {
    import functions.Bpe
    // id 0 is base, id 1 is delta under the salted split; merge ("a","b")
    // compresses "ab" (1 token < 2 chars) but leaves "xy" fully fragmented
    val docs = Seq(
      (0L, "ab ab ab", "en", "s", 8L),
      (1L, "xy xy ab", "en", "s", 8L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("bpedrift").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Bpe.bpeDrift(spark, tmp, merges = Seq(("a", "b"))).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6), r.getLong(7)) ==
      ((3L, 3L, 0L, 2L, 0L, 666L, 666L)),
      s"drift row wrong: ${r.toSeq}")
  }

  test("embed staleness monitor: same-text member with divergent vector flagged, aligned one not") {
    import functions.VectorOps
    val t = "identical text shared by the whole duplicate family"
    val docs = Seq(
      (0L, t, "en", "sA", 50L),                 // rep of the family
      (1L, t, "en", "sA", 50L),                 // aligned member
      (2L, t, "en", "sB", 50L),                 // stale member (orthogonal vector)
      (3L, "a singleton document", "en", "sB", 20L) // no group -> excluded
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f), 0),    // cos ~0.994 -> fine
      (2L, Seq(0.0f, 0.0f, 1.0f, 0.0f), 0),    // cos 0 -> stale
      (3L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val tmp = java.nio.file.Files.createTempDirectory("embstale").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    vecs.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = VectorOps.embedStale(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map("sA" -> ((1L, 0L, 0L)), "sB" -> ((1L, 1L, 1000L))),
      s"staleness verdicts wrong: $got")
  }

  test("quality drift monitor: counts exact, empty sides sentineled, collapse goes negative") {
    import functions.TextOps
    // ids 1/4/7 are delta under hex60('inc:'||id)%5; 0/2/3/5 are base.
    // sourceA: good base (long clean docs), junk delta -> negative drift.
    // sourceB: base only -> delta side sentinel -1, drift null.
    def good(seed: Int) = (1 to 90).map(i => f"verbose$seed%02d$i%03d").mkString(" ")
    val docs = Seq(
      (0L, good(0), "en", "sourceA", 900L),
      (2L, good(2), "en", "sourceA", 900L),
      (1L, "the a of and to in", "en", "sourceA", 18L),   // delta, low
      (4L, "the a of to in and", "en", "sourceA", 18L),   // delta, low
      (3L, good(3), "en", "sourceB", 900L),
      (5L, "the a of in to and", "en", "sourceB", 18L)    // base, low
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("qdrift").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.qualityDriftIncr(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(5),
        r.getLong(6), Option(r.getAs[java.lang.Long]("drift_pm")).map(_.toLong)))
      .toMap
    assert(got("sourceA") == ((2L, 2L, 1000L, 0L, Some(-1000L))),
      s"sourceA drift wrong: ${got("sourceA")}")
    assert(got("sourceB") == ((2L, 0L, 500L, -1L, None)),
      s"sourceB sentinel wrong: ${got("sourceB")}")
  }

  test("IVF+SQ composed search: equals brute-force probe restriction + SQ ranking") {
    import functions.VectorOps
    val vecs = VectorOps.prepared(spark, sf())
      .select(col("vec_id"), col("v")).as[(Long, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.lazyZip(b).map(_ * _).sum
      d / math.sqrt(a.map(x => x * x).sum) / math.sqrt(b.map(x => x * x).sum)
    }
    def codesOf(v: Seq[Double]): Seq[Double] = {
      val s = v.map(math.abs).max / 127.0
      v.map(x => math.floor(x / s + 0.5))
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cents = vecs.keys.toSeq.filter(_ < 16).sorted
    def rankedCents(id: Long): Seq[Long] =
      cents.map(c => (c, cos(vecs(id), vecs(c)))).sortBy { case (c, s) => (-s, c) }.map(_._1)
    val assign = vecs.keys.map(id => id -> rankedCents(id).head).toMap
    val expected = vecs.keys.toSeq.filter(_ < 5).sorted.flatMap { q =>
      val probes = rankedCents(q).take(2).toSet
      vecs.keys.toSeq.filter(id => id != q && probes(assign(id)))
        .map(id => (id, r4(cos(vecs(q), codesOf(vecs(id))))))
        .sortBy { case (id, c) => (-c, id) }.take(3).zipWithIndex
        .map { case ((id, c), i) => (q, i + 1, id, c) }
    }
    val got = VectorOps.annIvfSq(spark, sf(), nQueries = 5, kNn = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected, "IVF+SQ ranking diverges from brute-force")
  }

  test("text near-dup incr: verdicts + lineage match brute-force over the salted split") {
    import functions.TextOps
    // signatures collected from the (separately oracle-checked) relation;
    // the brute force re-derives the CLASSIFICATION from them
    val sigs = TextOps.minhashSignatures(spark, sf()).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    def hex60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
    }
    def isDelta(id: Long) = hex60(s"inc:$id") % 5 == 0
    def near(a: Long, b: Long): Boolean = {
      val bands = sigs(a).take(4) == sigs(b).take(4) || sigs(a).drop(4) == sigs(b).drop(4)
      bands && sigs(a).zip(sigs(b)).count { case (x, y) => x == y } >= 7
    }
    val (delta, base) = sigs.keys.toSeq.sorted.partition(isDelta)
    val expected = delta.map { id =>
      val ofBase = base.filter(near(id, _))
      val inDelta = delta.filter(e => e < id && near(id, e))
      val (dr, rep) =
        if (ofBase.nonEmpty) ("dup_of_base", Some(ofBase.min))
        else if (inDelta.nonEmpty) ("dup_in_increment", Some(inDelta.min))
        else ("kept", None)
      id -> (dr, rep)
    }.toMap
    val got = TextOps.nearDupIncr(spark, sf()).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("drop_reason"), Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)))
      .toMap
    assert(got == expected, "classification or lineage diverges from brute-force")
    // sf0.001's near-dup families all straddle the split (no two same-family
    // delta docs), so drive all three classes on a crafted corpus instead:
    // ids 1/4/7/10 are delta under hex60('inc:id')%5, 0/2 are base.
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta", "en", "s", 35L),
      (1L, "alpha beta gamma delta epsilon zeta", "en", "s", 35L), // dup_of_base(0)
      (2L, "totally different base content here", "en", "s", 35L),
      (4L, "red orange yellow green blue indigo", "en", "s", 35L), // kept (first of pair)
      (7L, "red orange yellow green blue indigo", "en", "s", 35L), // dup_in_increment(4)
      (10L, "unique snowflake text nothing shared", "en", "s", 36L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("neardup_incr").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val crafted = TextOps.nearDupIncr(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("drop_reason"), Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)))
      .toMap
    assert(crafted == Map(
      1L -> ("dup_of_base", Some(0L)),
      4L -> ("kept", None),
      7L -> ("dup_in_increment", Some(4L)),
      10L -> ("kept", None)), s"crafted-corpus verdicts wrong: $crafted")
  }

  test("video containment: banded frame matching equals brute-force; re-edits resolve") {
    val got = Multimodal.videoContainment(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getInt(3), r.getDouble(4))).toMap
    assert(got.nonEmpty, "no overlapping video pairs — synthesis families missing")
    // brute force from the shared frameHash itself (doc_ids are 0..499)
    val vids = (0L until 500L).filter(_ % 3 == 2)
    def frames(v: Long) =
      (0 until Multimodal.frameCount(v)).map(f => Multimodal.frameHash(v, f))
    val expected = (for {
      a <- vids; b <- vids if a < b
      fa = frames(a); fb = frames(b)
      shared = fa.zipWithIndex.count { case (h, _) =>
        fb.exists(h2 => java.lang.Long.bitCount(h ^ h2) <= 6) }
      if shared > 0
    } yield (a, b) -> (fa.length, shared,
      math.rint(shared.toDouble / fa.length * 10000) / 10000)).toMap
    assert(got == expected, "containment diverges from brute-force")
    // the relation is family-structured: full containment within a
    // family, partial (0 < c < 1) across adjacent families' shared tails
    assert(got.values.exists(_._3 == 1.0), "no fully-contained pair")
    assert(got.values.exists(v => v._3 > 0 && v._3 < 1.0), "no partial overlap pair")
  }

  test("ivf incr split: salted delta approximates the corpus source distribution") {
    // the whole point of salting (vs bare vec_id % 5, which is source-pure
    // on testdata where source = f(doc_id % 20)): the "arrived since the
    // last build" sample must look like the corpus. Loose chi-square-style
    // gate: every source is represented, and each source's delta share is
    // within a wide band of the global delta rate.
    val src = Tables.documents(spark, sf()).select(col("doc_id").as("vec_id"), col("source"))
    val tagged = functions.VectorOps.prepared(spark, sf()).join(src, "vec_id")
      .withColumn("is_delta", graft.Exprs.arrivalSplit(col("vec_id"), 5) === 0)
    val per = tagged.groupBy("source").agg(
        count(lit(1)).as("n"),
        sum(when(col("is_delta"), 1L).otherwise(0L)).as("nd"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val nSources = Tables.documents(spark, sf()).select("source").distinct().count()
    assert(per.count(_._3 > 0) == nSources,
      s"delta missing sources: ${per.filter(_._3 == 0).map(_._1).toSeq}")
    val globalRate = per.map(_._3).sum.toDouble / per.map(_._2).sum
    assert(globalRate > 0.1 && globalRate < 0.3, s"delta rate off: $globalRate")
    // chi-square over sources against the global rate, loose 2×df gate:
    // the salted split sits near df (15.5 at df=19 on this data); the old
    // bare vec_id % 5 split (source-pure delta) lands in the hundreds
    val chi2 = per.map { case (_, n, nd) =>
      val exp = n * globalRate
      (nd - exp) * (nd - exp) / (exp * (1 - globalRate))
    }.sum
    assert(chi2 < 2.0 * (per.length - 1),
      s"delta/source chi-square $chi2 exceeds 2x df — split correlates with source")
  }

  test("knn graph: bounded degree, mutual flag is symmetric, edges stay in-cell") {
    val g = functions.VectorOps.knnGraph(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(4)))
    assert(g.nonEmpty)
    // degree bound: top-k per source, ranks dense from 1
    g.groupBy(_._1).foreach { case (src, es) =>
      assert(es.length <= 5, s"src $src has ${es.length} > kNn edges")
      assert(es.map(_._3).sorted.toSeq == (1 to es.length), s"ranks not dense for $src")
    }
    // mutual is exactly "reverse edge exists" — and therefore symmetric
    val edgeSet = g.map(e => (e._1, e._2)).toSet
    g.foreach { case (s, d, _, m) =>
      assert(m == edgeSet.contains((d, s)), s"mutual flag wrong on ($s,$d)")
    }
    assert(g.exists(_._4) && g.exists(!_._4),
      "fixture degenerate: need both mutual and one-way edges")
    // candidate generation is IVF-bucketed: every edge joins two vectors
    // of the same cell (the scale contract — no cross-cell pair is scored)
    val cell = functions.VectorOps.ivfAssign(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    g.foreach { case (s, d, _, _) =>
      assert(cell(s) == cell(d), s"edge ($s,$d) crosses IVF cells")
    }
  }

  test("index-health monitors cross-foot against their base relations") {
    import functions.{Retrieval, VectorOps}
    // ivf: cell sizes partition the corpus; shares sum to ~1000 permille
    val cells = VectorOps.ivfStats(spark, sf()).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getBoolean(4)))
    val nVecs = VectorOps.prepared(spark, sf()).count()
    assert(cells.map(_._1).sum == nVecs, "cell sizes must partition the corpus")
    assert(math.abs(cells.map(_._2).sum - 1000) <= cells.length,
      "permille shares must sum to ~1000 (floor rounding)")
    // mean denominator is k (all centroids incl. empty cells) per the
    // ivfStats contract, NOT the returned (non-empty) cell count
    val ivfK = 16
    val mean = nVecs.toDouble / ivfK
    cells.foreach { case (n, _, hot) =>
      assert(hot == (n > 2 * mean), "hot flag must be the 2x-mean-over-k rule")
    }
    // the split ACTION: post-split cells still partition the corpus, the
    // skew headline never worsens, and child ids stay in the k+2p+s space
    val split = VectorOps.ivfSplit(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3),
        r.getLong(5), r.getLong(6)))
    assert(split.map(_._4).sum == nVecs, "split cells must partition the corpus")
    val (beforeMax, afterMax) = (split.head._5, split.head._6)
    assert(afterMax <= beforeMax, "split must not worsen max cell share")
    split.filter(_._3).foreach { case (cid, pid, _, _, _, _) =>
      assert(cid == ivfK + 2 * pid || cid == ivfK + 2 * pid + 1,
        s"child id $cid not in the k+2p+s space for parent $pid")
    }
    assert(split.count(_._3) >= 2, "top-m policy must split at least one cell")
    // bm25: posting mass equals the token mass of the filtered word relation
    val st = Retrieval.bm25IndexStats(spark, sf()).head()
    val toks = functions.TextOps.prepared(spark, sf())
      .select(explode(filter(col("words"), w => w =!= ""))).count()
    assert(st.getLong(2) == toks, "posting mass must equal token mass")
    assert(st.getLong(0) > 0 && st.getLong(5) == toks / st.getLong(0))
  }

  test("graph beam search: dense descending top-k; routing layer rescues the recall") {
    import functions.VectorOps
    val out = VectorOps.annGraphBeam(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to rows.length),
        s"ranks not dense for q $q")
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sortBy(-_).toSeq,
        s"scores not descending for q $q")
      assert(!rows.exists(_._3 == q), s"q $q reported itself")
    }
    // the two-layer property this operator exists for: a beam descending
    // from the probed routing layer must beat the same beam trapped at a
    // single fixed entry (the cell-bounded edge graph is disconnected
    // across cells — measured 0.08 recall@5 without routing)
    val routed = VectorOps.recall(spark, sf("sf0.01"),
        VectorOps.annGraphBeam(spark, sf("sf0.01")), 20, 5).collect()
      .map(_.getDouble(2))
    assert(routed.sum / routed.length >= 0.5,
      s"routed beam recall collapsed: ${routed.sum / routed.length}")
    // filtered variant: traversal is unfiltered but every REPORTED
    // neighbor must satisfy the predicate — and the widened beam keeps
    // harvest recall in IVF-pre-filter territory
    val labels = VectorOps.prepared(spark, sf("sf0.01"))
      .select("vec_id", "label").as[(Long, Long)].collect().toMap
    val filt = VectorOps.annGraphFiltered(spark, sf("sf0.01")).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(filt.nonEmpty)
    filt.foreach { case (q, n) =>
      assert(labels(n) == labels(q), s"neighbor $n breaks q $q's predicate")
    }
    val fRecall = VectorOps.recall(spark, sf("sf0.01"),
        VectorOps.annGraphFiltered(spark, sf("sf0.01")), 20, 5,
        VectorOps.sharedKnnFilteredExact)
      .collect().map(_.getDouble(2))
    assert(fRecall.sum / fRecall.length >= 0.4,
      s"filtered harvest recall collapsed: ${fRecall.sum / fRecall.length}")
  }

  test("sem clusters: components equal a union-find over the mutual edge list") {
    val got = functions.VectorOps.semClusters(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute-force union-find over the same mutual thresholded edges
    val edges = functions.VectorOps.knnGraph(spark, sf()).collect()
      .filter(r => r.getBoolean(4) && r.getDouble(3) >= 0.4)
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    got.keys.foreach(v => parent(v) = v)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical min-id representative per component
    val rep = got.keys.groupBy(find).flatMap { case (_, vs) =>
      val m = vs.min; vs.map(_ -> m)
    }
    assert(got == rep, "propagated labels diverge from union-find components")
    // the relation is non-degenerate: some true cluster AND some singleton
    val sizes = got.values.groupBy(identity).map(_._2.size)
    assert(sizes.exists(_ > 1) && sizes.exists(_ == 1),
      s"fixture degenerate: cluster sizes ${sizes.toSeq.sorted.reverse.take(5)}")
  }

  test("dup rate monitor: per-source counts reconcile with the semdedup verdicts") {
    val rates = functions.VectorOps.dupRateIncr(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rates.nonEmpty)
    rates.foreach { case (s, n, db, di, pm) =>
      assert(n > 0 && db >= 0 && di >= 0 && db + di <= n, s"counts inconsistent for $s")
      assert(pm == (db + di) * 1000 / n, s"permille wrong for $s")
    }
    // column totals must equal the verdict relation's class totals — the
    // monitor is an aggregation, not a re-classification
    val verdicts = functions.VectorOps.semDedupIncr(spark, sf()).collect()
      .map(_.getString(3))
    assert(rates.map(_._2).sum == verdicts.length)
    assert(rates.map(_._3).sum == verdicts.count(_ == "dup_of_base"))
    assert(rates.map(_._4).sum == verdicts.count(_ == "dup_in_increment"))
    // the left join's unmatched bucket must stay empty on testdata — a row
    // here means a delta vector with no document (broken doc_id=vec_id
    // contract), surfaced instead of silently dropped
    assert(!rates.exists(_._1 == "__unmatched__"),
      "delta vectors without matching documents leaked into the monitor")
  }

  test("min-label propagation: path-graph diameter just under the round cap converges") {
    // a path 0-1-...-38 has diameter 38: label 0 moves one hop per round,
    // so convergence takes 38 moving rounds + 1 quiescent = 39 < 40 (cap)
    val n = 39
    val nodes = (0L until n).toDF("vec_id")
    val fwd = (0L until n - 1).map(i => (i, i + 1))
    val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst") // symmetric, like mutual kNN
    val labels = functions.VectorOps.propagateMinLabels(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == n && labels.values.forall(_ == 0L),
      "one path component must collapse to the min label 0")
  }

  test("min-label propagation: diameter beyond the round cap fails loudly, not partially") {
    // diameter 45 > 40 rounds: the require must fire — silent partial
    // labels are the failure mode the cap exists to prevent
    val n = 46
    val nodes = (0L until n).toDF("vec_id")
    val fwd = (0L until n - 1).map(i => (i, i + 1))
    val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      functions.VectorOps.propagateMinLabels(nodes, edges).collect()
    }
    assert(e.getMessage.contains("did not converge"), s"wrong failure: ${e.getMessage}")
  }

  test("large-star/small-star: agrees with min-label on the path-graph fixture") {
    val n = 39
    val nodes = (0L until n).toDF("vec_id")
    val fwd = (0L until n - 1).map(i => (i, i + 1))
    val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val ml = functions.VectorOps.propagateMinLabels(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ls = functions.VectorOps.propagateLsLs(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ls == ml, "the two component algorithms must label identically")
  }

  test("large-star/small-star: converges where min-label's round cap fires") {
    // diameter 45 kills min-label at maxRounds=40 (fixture above); the
    // star contraction is log-bounded and must label the same chain fine
    val n = 46
    val nodes = (0L until n).toDF("vec_id")
    val fwd = (0L until n - 1).map(i => (i, i + 1))
    val edges = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      functions.VectorOps.propagateMinLabels(nodes, edges).collect()
    }
    val ls = functions.VectorOps.propagateLsLs(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ls.size == n && ls.values.forall(_ == 0L),
      "lsls must collapse the over-cap chain to label 0")
  }

  test("large-star/small-star: multi-component forest with isolated nodes") {
    // two components + two singletons; labels must be each component's min
    val nodes = (0L until 10L).toDF("vec_id")
    val und = Seq((1L, 3L), (3L, 5L), (5L, 1L), // triangle+cycle: {1,3,5}
      (2L, 7L), (7L, 8L)) // chain: {2,7,8}
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val ls = functions.VectorOps.propagateLsLs(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = Map(0L -> 0L, 1L -> 1L, 3L -> 1L, 5L -> 1L,
      2L -> 2L, 7L -> 2L, 8L -> 2L, 4L -> 4L, 6L -> 6L, 9L -> 9L)
    assert(ls == expect, s"got $ls")
  }

  test("semClustersLsLs: identical relation to semClusters on real embeddings") {
    val a = functions.VectorOps.semClusters(spark, sf("sf0.01")).collect().map(_.toSeq)
    val b = functions.VectorOps.semClustersLsLs(spark, sf("sf0.01")).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq,
      "min-label and lsls must produce the identical cluster relation")
  }

  test("bm25: tf saturation, length normalization, and the df-fraction stopword cap") {
    // one query doc (0: just "w"); three candidates probing each axis:
    //   doc 2 "w w w"            tf=3, len=3  -> highest
    //   doc 1 "w f1 f2"          tf=1, len=3  -> middle
    //   doc 3 "w z1 z2 z3 z4 z5" tf=1, len=6  -> lowest (length-normalized)
    //   doc 4 "common only"      no query term -> absent
    val docs = Seq(
      (0L, "w", "en", "s", 1L),
      (1L, "w f1 f2", "en", "s", 7L),
      (2L, "w w w", "en", "s", 5L),
      (3L, "w z1 z2 z3 z4 z5", "en", "s", 16L),
      (4L, "common only", "en", "s", 11L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("bm25").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = functions.Retrieval.bm25(spark, tmp, probeMax = 1)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._2).toSeq == Seq(2L, 1L, 3L),
      s"BM25 must rank tf-saturated > baseline > long doc: ${got.toSeq}")
    assert(got.forall(_._3 > 0))
    // the df-fraction cap: every doc sharing ONLY ubiquitous terms is
    // absent — a term in >90% of docs generates no candidates
    val all = Seq.tabulate(10)(i =>
      (i.toLong, s"stop u$i", "en", "s", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp2 = java.nio.file.Files.createTempDirectory("bm25cap").toString
    all.write.mode("overwrite").parquet(s"$tmp2/documents.parquet")
    // "stop" df = 10/10 = 1.0 > 0.9 -> dropped; u0 is unique to the query
    // doc itself -> zero candidates in the rest of the corpus
    assert(functions.Retrieval.bm25(spark, tmp2, probeMax = 1).isEmpty,
      "a corpus sharing only >90%-df terms must retrieve nothing")
  }

  test("hybridRrf: fusion equals a driver-side recomputation from the two lists") {
    val dir = sf("sf0.01")
    val lex = functions.Retrieval.bm25(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap
    val sem = functions.VectorOps.knn(spark, dir, nQueries = 10, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap
    val expected = (lex.keySet ++ sem.keySet).groupBy(_._1).flatMap {
      case (q, keys) =>
        val scored = keys.toSeq.map { key =>
          val rrf = lex.get(key).map(r => 1000000L / (60 + r)).getOrElse(0L) +
            sem.get(key).map(r => 1000000L / (60 + r)).getOrElse(0L)
          (key._2, rrf)
        }.sortBy { case (d, s) => (-s, d) }.take(10)
        scored.zipWithIndex.map { case ((d, s), i) => (q, i + 1, d, s) }
    }.toSet
    val got = functions.Retrieval.hybridRrf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected,
      s"fusion mismatch: got-only=${got -- expected}, exp-only=${expected -- got}")
    // src tags: a 'both' row must appear in both source lists
    functions.Retrieval.hybridRrf(spark, dir).collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      val tag = r.getString(4)
      val inLex = lex.contains(key); val inSem = sem.contains(key)
      val want = if (inLex && inSem) "both" else if (inLex) "lex" else "sem"
      assert(tag == want, s"src tag wrong for $key: $tag vs $want")
    }
  }

  test("lm2Bits: shuffled word order costs more than fluent order at IDENTICAL unigram stats") {
    // ten fluent docs train the bigram model on x->y->z->x; the probe pair
    // shares one token multiset (2 of each) but opposite transition order,
    // so the unigram model CANNOT separate them and the bigram model must
    val fluent = (1 to 10).map(i =>
      (i.toLong, "x y z x y z", "en", "s", 11L))
    val docs = (fluent ++ Seq(
      (20L, "x y z x y z", "en", "s", 11L),   // fluent probe
      (21L, "x z y x z y", "en", "s", 11L)))  // shuffled probe
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("lm2").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val bi2 = TextOps.lm2Bits(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val uni = TextOps.lmBits(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(uni(20L) == uni(21L),
      s"unigram model must NOT separate the probes: $uni")
    assert(bi2(21L) > bi2(20L),
      s"bigram model must charge the shuffled probe more: $bi2")
    // family parity: same token count per doc under both models
    val nt2 = TextOps.lm2Bits(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nt1 = TextOps.lmBits(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nt2 == nt1, "n_tokens must agree between the two LM tiers")
  }

  test("compactAudit: a delta id undercutting a base keeper demotes it and promotes itself") {
    // find a delta id d and a base id b with d < b (the salted split
    // interleaves ids, so both orders occur); give them the SAME vector.
    // Incremental era: b keeps (no base dup), d drops as dup_of_base(b).
    // Full min-id recompute: d keeps (smaller id), b drops -> one
    // demotion on the base side, one promotion on the delta side.
    val ids = (0L until 20L)
    val split = ids.toDF("vec_id")
      .withColumn("is_d", graft.Exprs.arrivalSplit(col("vec_id"), 5) === 0)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val d = ids.find(split(_)).get
    val b = ids.find(i => !split(i) && i > d).get
    val dim = 20
    def basis(i: Int) = Seq.tabulate(dim)(j => if (j == i) 1.0f else 0.0f)
    val vecs = ids.map { i =>
      val v = if (i == b) basis(d.toInt) else basis(i.toInt)
      (i, v, 0)
    }.toDF("vec_id", "embedding", "label")
    val tmp = java.nio.file.Files.createTempDirectory("compact").toString
    vecs.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = functions.VectorOps.compactAudit(spark, tmp)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    val nDelta = split.values.count(identity)
    val nBase = 20 - nDelta
    assert(out == Map(
      ("base", "demoted") -> 1L,
      ("base", "stable_keep") -> (nBase - 1).toLong,
      ("delta", "promoted") -> 1L,
      ("delta", "stable_keep") -> (nDelta - 1).toLong), s"got $out (d=$d b=$b)")
  }

  test("compactAudit: matrix covers the corpus exactly; delta column cross-foots semDedupIncr") {
    val dir = sf("sf0.01")
    val out = functions.VectorOps.compactAudit(spark, dir).collect()
      .map(r => (r.getString(0), r.getBoolean(2), r.getBoolean(3), r.getLong(4)))
    val n = functions.VectorOps.prepared(spark, dir).count()
    assert(out.map(_._4).sum == n, "every vector gets exactly one cell")
    val incrDeltaKeeps = functions.VectorOps.semDedupIncr(spark, dir)
      .filter(col("keep")).count()
    assert(out.filter(r => r._1 == "delta" && r._2).map(_._4).sum == incrDeltaKeeps,
      "delta incr_keep column must cross-foot semDedupIncr")
  }

  test("coresetCentral: same quotas as the uniform coreset, picks are cell-wise centrality maxima") {
    val dir = sf("sf0.01")
    val central = functions.MixOps.coresetCentral(spark, dir).cache()
    val uniform = functions.MixOps.coresetSample(spark, dir)
    // identical quota rule -> identical per-cell pick COUNTS
    val cCells = central.groupBy("centroid_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val uCells = uniform.groupBy("centroid_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cCells == uCells, "quota rule must match the uniform baseline")
    // every pick dominates every non-pick of its cell on (score, doc_id)
    val rank = functions.VectorOps.graphRank(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val assign = functions.VectorOps.ivfAssign(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val picked = central.select("doc_id").as[Long].collect().toSet
    val byCell = assign.keys.groupBy(assign)
    byCell.foreach { case (cell, members) =>
      val (in, outM) = members.partition(picked)
      if (in.nonEmpty && outM.nonEmpty) {
        val worstIn = in.map(m => (rank(m), -m)).min
        val bestOut = outM.map(m => (rank(m), -m)).max
        assert(worstIn._1 > bestOut._1 ||
          (worstIn._1 == bestOut._1 && -worstIn._2 < -bestOut._2),
          s"cell $cell picked a less-central member over a more-central one")
      }
    }
    central.unpersist()
  }

  test("clusterStats: partitions the corpus, cross-foots semClusters and quality, verdict rules exact") {
    val dir = sf("sf0.01")
    val out = functions.VectorOps.clusterStats(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    val clusters = functions.VectorOps.semClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val lowDocs = TextOps.quality(spark, dir)
      .filter(col("quality_bucket") === "low")
      .select("doc_id").as[Long].collect().toSet
    // members partition the corpus; per-cluster counts cross-foot
    assert(out.values.map(_._1).sum == clusters.length)
    clusters.groupBy(_._2).foreach { case (rep, ms) =>
      val (n, _, nLow, verdict) = out(rep)
      assert(n == ms.length, s"cluster $rep size mismatch")
      assert(nLow == ms.count(m => lowDocs(m._1)), s"cluster $rep low-count mismatch")
      val expect = if (n > 25) "oversized"
        else if (nLow * 2 > n) "low_quality" else "keep"
      assert(verdict == expect, s"cluster $rep verdict $verdict != $expect")
    }
    // the relation is a decision surface: all three verdicts occur OR the
    // corpus genuinely has no oversized/low clusters — assert keep exists
    assert(out.values.exists(_._4 == "keep"))
  }

  test("graphRank: star hub outranks leaves, isolated node holds the teleport floor, exact integers") {
    // star: 0 <-> {1..5}; node 9 isolated
    val nodes = (Seq(0L, 1L, 2L, 3L, 4L, 5L, 9L)).toDF("vec_id")
    val und = (1L to 5L).map(i => (0L, i))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = functions.VectorOps.graphRankCore(nodes, edges, iters = 3,
      damp = 85)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(9L) == 150000L, "isolated node must hold the teleport floor")
    assert((1L to 5L).map(got).distinct.size == 1, "leaves are symmetric")
    assert(got(0L) > got(1L) * 3, s"hub must dominate leaves: $got")
    // exact-integer replay: recompute the 3 rounds in plain Scala
    val deg = Map(0L -> 5L) ++ (1L to 5L).map(_ -> 1L)
    var cur = (Seq(0L, 1L, 2L, 3L, 4L, 5L, 9L)).map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val in = (und ++ und.map(_.swap)).groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => cur(src) / deg(src) }.sum
      }
      cur = cur.map { case (v, _) => v -> (150000L + 85L * in.getOrElse(v, 0L) / 100L) }
    }
    assert(got == cur, s"integer replay mismatch: $got vs $cur")
  }

  test("imageBits: entropy bound holds, degenerate single-pixel image codes in zero bits") {
    import graft.multimodal.Multimodal
    val got = Multimodal.imageBits(spark, sf("sf0.01")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    def lenbin(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    got.foreach { case (id, (nPx, sumBits, bpp)) =>
      // the self-coding bound: 0 <= bits <= n_px * ceil-log2(n_px)
      assert(sumBits >= 0 && sumBits <= nPx * lenbin(nPx), s"bound broken at $id")
      assert(bpp == sumBits / nPx.toDouble)
      // a constant image (all pixels one gray) codes in zero bits; n_px=1
      // is constant by construction
      if (nPx == 1) assert(sumBits == 0L, s"1-px image must code free: $id")
    }
    // flat blocks code cheaper: the 1x1..8x8 images are single-DCT-block
    // (one gray) and must all code at 0 bits/px
    val flat = got.filter { case (id, _) => id % 24 < 8 && id % 18 < 8 }
    assert(flat.nonEmpty && flat.forall(_._2._2 == 0L),
      "single-block images are constant-gray and must code in zero bits")
    // larger multi-block images carry real variation on testdata
    assert(got.exists(_._2._3 > 1.0), "fixture must contain high-entropy images")
  }

  test("dedupNfc: composed and decomposed Unicode forms collapse; raw-byte dedup leaks them") {
    // "café" with U+00E9 (composed) vs "cafe" + U+0301 (decomposed): same
    // rendered text, different bytes
    val composed = "caf\u00e9 au lait"
    val decomposed = "cafe\u0301 au lait"
    assert(composed != decomposed, "fixture must use distinct byte forms")
    val docs = Seq(
      (1L, composed, "fr", "s", 12L),
      (2L, decomposed, "fr", "s", 13L),
      (3L, "plain ascii text", "en", "s", 16L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("nfc").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // raw-byte dedup sees three distinct contents — the leak
    assert(TextOps.dedupExact(spark, tmp).count() == 3)
    val got = TextOps.dedupNfc(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    // NFC collapses the pair into one group, rep = min id, and n_forms
    // records that TWO raw byte forms fed it (the encoding-drift signal)
    assert(got == Map(1L -> ((2L, 2L)), 3L -> ((1L, 1L))), s"got $got")
    // expression/interpreted parity: the codegen path equals Normalizer
    val nfcCol = spark.range(1).select(
      graft.plans.UnicodeExprs.nfcNormalize(lit(decomposed)).as("n"))
      .head().getString(0)
    assert(nfcCol == java.text.Normalizer.normalize(
      decomposed, java.text.Normalizer.Form.NFC) && nfcCol == composed)
  }

  test("qualityEnsemble: votes cross-foot the three source relations, decile flag monotone") {
    val dir = sf("sf0.01")
    val out = TextOps.qualityEnsemble(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getInt(4), r.getBoolean(5)))
      .toMap
    val nc = TextOps.nbClassify(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(3) == "low", r.getString(1) == "low")).toMap
    val pm = TextOps.lm2Bits(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2) * 1000 / r.getLong(1)).toMap
    assert(out.keySet == nc.keySet)
    out.foreach { case (id, (h, nb, _, votes, keep)) =>
      assert((h, nb) == nc(id), s"heur/nb vote mismatch at $id")
      val lm = out(id)._3
      assert(votes == Seq(h, nb, lm).count(identity))
      assert(keep == (votes <= 1))
    }
    // the decile flag: monotone in bits/token (no flagged doc sits below
    // an unflagged one) and covers at least ceil(N/10) docs
    val flaggedVals = out.collect { case (id, v) if v._3 => pm(id) }
    val unflaggedVals = out.collect { case (id, v) if !v._3 => pm(id) }
    assert(flaggedVals.nonEmpty && flaggedVals.min > unflaggedVals.max,
      "decile flag must be monotone in bits/token")
    assert(flaggedVals.size >= (out.size + 9) / 10)
  }

  test("dsirMix: per-source keep rates cross-foot the per-doc weights") {
    val dir = sf("sf0.01")
    val perDoc = functions.MixOps.dsirWeights(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    val srcOf = Tables.documents(spark, dir).select("doc_id", "source")
      .as[(Long, String)].collect().toMap
    val got = functions.MixOps.dsirMix(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val expect = perDoc.toSeq.groupBy { case (id, _) => srcOf(id) }.map {
      case (src, ms) =>
        val n = ms.size.toLong
        val k = ms.count(_._2._2).toLong
        src -> (n, k, ms.map(_._2._1).sum, k * 1000 / n)
    }
    assert(got == expect, s"mix monitor diverges from the per-doc relation")
  }

  test("dsirWeights: target-like docs weigh positive, off-target negative, features counted exactly") {
    // probes (0,1) speak "alpha beta"; doc 5 mimics them (target-like),
    // doc 6 speaks a vocabulary the probes never use (raw-only)
    val docs = Seq(
      (0L, "alpha beta alpha", "en", "s", 16L),
      (1L, "beta alpha beta", "en", "s", 15L),
      (5L, "alpha beta alpha beta", "en", "s", 21L),
      (6L, "zeta eta theta iota kappa", "en", "s", 25L),
      (7L, "", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("dsir").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // buckets = 8: the add-1 smoothing mass must stay small relative to
    // the fixture's ~30 feature occurrences or it drowns the signal
    val got = functions.MixOps.dsirWeights(spark, tmp, probeMax = 2, buckets = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // n_feats = unigrams + bigrams = len + (len - 1)
    assert(got(5L)._1 == 4 + 3 && got(6L)._1 == 5 + 4)
    assert(got(5L)._2 > 0 && got(5L)._3, s"target-like doc must keep: $got")
    assert(got(6L)._2 < 0 && !got(6L)._3, s"off-target doc must drop: $got")
    assert(got(5L)._2 > got(6L)._2)
    // empty doc: zero features, weight 0, not kept
    assert(got(7L) == ((0L, 0L, false)))
    // determinism
    val again = functions.MixOps.dsirWeights(spark, tmp, probeMax = 2, buckets = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(again == got)
  }

  test("coreset sample: per-cell quota with coverage floor, deterministic") {
    val cs = functions.MixOps.coresetSample(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3), r.getLong(4)))
    val cells = functions.VectorOps.ivfAssign(spark, sf()).collect()
      .map(_.getLong(1)).groupBy(identity).map { case (c, a) => c -> a.length.toLong }
    // every non-empty cell is represented (the coverage floor), and each
    // cell contributes exactly min over its quota = ceil(10% of cell size)
    val perCell = cs.groupBy(_._2).map { case (c, a) => c -> a.length.toLong }
    assert(perCell.keySet == cells.keySet,
      s"cells missing from coreset: ${cells.keySet -- perCell.keySet}")
    cells.foreach { case (c, n) =>
      val quota = math.max(1L, (n * 10 + 99) / 100)
      assert(perCell(c) == quota, s"cell $c: picked ${perCell(c)}, quota $quota (n=$n)")
      // reported cluster_n matches the true cell size
      cs.filter(_._2 == c).foreach(r => assert(r._4 == n))
    }
    // determinism: a second run picks the identical doc set
    val again = functions.MixOps.coresetSample(spark, sf()).collect().map(_.getLong(0)).toSet
    assert(again == cs.map(_._1).toSet)
  }

  test("mix temperature: isqrt targets flatten the mix; salted path row-identical") {
    val sel = functions.MixOps.mixTemperature(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    val bySrc = sel.groupBy(_._2)
    // selection honors the computed target exactly: per source, picked
    // count == target (target ≤ n_src by construction)
    bySrc.foreach { case (s, rows) =>
      val target = rows.head._4
      assert(rows.length == target, s"source $s picked ${rows.length} != target $target")
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length), s"ranks not dense for $s")
    }
    // targets are the integer rational split of the budget by isqrt(n):
    // recompute from the raw counts and compare
    val counts = Tables.documents(spark, sf()).groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val wTotal = counts.values.map(n => math.sqrt(n.toDouble).toLong).sum
    bySrc.foreach { case (s, rows) =>
      val w = math.sqrt(counts(s).toDouble).toLong
      val expect = math.min(counts(s), 300L * w / wTotal)
      assert(rows.head._4 == expect, s"source $s target ${rows.head._4} != $expect")
    }
    // the flattening property itself: a larger source's selected SHARE of
    // its documents is no higher than a smaller source's (monotone
    // flattening — proportional sampling would keep shares equal)
    val shares = bySrc.map { case (s, rows) => counts(s) -> rows.length.toDouble / counts(s) }
      .toSeq.sortBy(_._1)
    shares.sliding(2).foreach { case Seq((nA, shA), (nB, shB)) =>
      if (nA < nB) assert(shB <= shA + 1e-9,
        s"flattening violated: n=$nA share=$shA vs n=$nB share=$shB")
      case _ => ()
    }
    // the skew-safe two-stage window must be row-identical to the single
    // window (same guarantee the capPerSource machinery pins)
    val single = functions.MixOps.mixTemperature(spark, sf(), salts = 1).collect()
      .map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(single == sel.map(r => (r._1, r._3)).toSet,
      "salted two-stage selection diverges from the single-window reference")
  }

  test("skewed fixture: ranged qualityTiers and salted capPerSource are row-identical to single-window") {
    // one language / one source owns 90% of the corpus — the shape where a
    // plain per-key window serializes onto one reducer at 100 TB. The skew
    // paths must produce byte-identical rows to the windowed reference.
    val docs = (1 to 3000).map { i =>
      val hot = i % 10 != 0
      val lang = if (hot) "en" else s"l${i % 4}"
      val src = if (hot) "s0" else s"s${i % 7 + 1}"
      val text = (s"alpha beta w$i " * (i % 13 + 1)).trim
      (i.toLong, text, lang, src, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("skewfix").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    // ranged rank (3 slices — en MUST straddle slice boundaries) vs window
    val ranged = rows(functions.MixOps.qualityTiers(spark, tmp, rangeParts = 3))
    val windowed = rows(functions.MixOps.qualityTiersWindowed(spark, tmp))
    assert(ranged == windowed, "ranged-rank tiers diverge from the windowed reference")
    // salted two-stage cap (k=5 so stage 1 actually truncates) vs unsalted
    val salted = rows(functions.MixOps.capPerSource(spark, tmp, k = 5, salts = 8))
    val plain = rows(functions.MixOps.capPerSource(spark, tmp, k = 5, salts = 1))
    assert(salted == plain, "salted cap diverges from the single-window reference")
    assert(salted.size == 5 + 7 * 5, s"cap sizes wrong: ${salted.size}")
  }

  /** 4-cluster embedding fixture: centers first (they become the IVF
    * centroids), members = center + small noise. The sf embeddings are
    * cluster-free (residual norm > raw norm, see annIvfPqRes scaladoc), so
    * structure-dependent refinements are graded HERE.
    */
  private lazy val clusteredDir: String = {
    val rnd = new scala.util.Random(7)
    val dim = 64
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val centers = Seq.fill(4)(unit())
    val members = (0 until 196).map { i =>
      val c = centers(i % 4)
      val noise = unit()
      c.zip(noise).map { case (a, b) => a + 0.15f * b }
    }
    val rows = (centers ++ members).zipWithIndex.map { case (v, i) =>
      (i.toLong, s"c${i % 4}", v)
    }
    val tmp = java.nio.file.Files.createTempDirectory("clustered").toString
    rows.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    tmp
  }

  private def meanRecall(df: org.apache.spark.sql.DataFrame): Double =
    df.agg(avg("recall_at_k")).head().getDouble(0)

  test("residual IVF+PQ beats plain IVF+PQ on clustered embeddings") {
    val res = meanRecall(VectorOps.recall(spark, clusteredDir,
      VectorOps.annIvfPqRes(spark, clusteredDir, nQueries = 20, kNn = 5,
        kCentroids = 4, nProbe = 2, blocks = 4, k = 16), 20, 5))
    val plain = meanRecall(VectorOps.recall(spark, clusteredDir,
      VectorOps.annIvfPq(spark, clusteredDir, nQueries = 20, kNn = 5,
        kCentroids = 4, nProbe = 2, blocks = 4, k = 16), 20, 5))
    assert(res > plain,
      s"residual recall $res must beat plain $plain on clustered data")
  }

  test("exact re-ranking lifts IVF+PQ recall at equal probe count") {
    // identical IVF/PQ parameters and probe budget — the ONLY difference is
    // the re-rank stage, so any recall delta is its uplift. On clustered
    // data ADC misorders true neighbors it did shortlist; re-ranking must
    // recover them (strictly, on this fixture).
    val rr = meanRecall(VectorOps.recall(spark, clusteredDir,
      VectorOps.annIvfPqRr(spark, clusteredDir, nQueries = 20, kNn = 5,
        kCentroids = 4, nProbe = 2, blocks = 4, k = 16), 20, 5))
    val plain = meanRecall(VectorOps.recall(spark, clusteredDir,
      VectorOps.annIvfPq(spark, clusteredDir, nQueries = 20, kNn = 5,
        kCentroids = 4, nProbe = 2, blocks = 4, k = 16), 20, 5))
    assert(rr > plain, s"re-ranked recall $rr must beat plain ADC $plain")
    // and on the cluster-free sf embeddings it must never LOSE recall:
    // the shortlist contains the ADC top-k, so exact re-scoring can only
    // promote true neighbors into the cut, not evict them for impostors
    val rrSf = meanRecall(VectorOps.recall(spark, sf(), VectorOps.annIvfPqRr(spark, sf()), 20, 5))
    val plainSf = meanRecall(VectorOps.recall(spark, sf(), VectorOps.annIvfPq(spark, sf()), 20, 5))
    assert(rrSf >= plainSf, s"re-ranking lost recall on sf: $rrSf < $plainSf")
  }

  test("containmentPairs finds a quote symmetric jaccard misses") {
    val quoted = "p q r s t"
    val page = quoted + " u v w x y z aa bb cc dd ee ff gg hh"
    val docs = Seq(
      (1L, quoted, "en", "s", 9L),                    // fully contained in 2
      (2L, page, "en", "s", 60L),
      (3L, "completely unrelated words here now", "en", "s", 35L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("contain").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextOps.containmentPairs(spark, tmp)
      .select("a_id", "b_id", "containment").as[(Long, Long, Double)]
      .collect().toSeq
    assert(out == Seq((1L, 2L, 1.0)), s"got $out")
    // the same corpus yields NO symmetric jaccard pair at 0.9
    assert(TextOps.jaccardPairs(spark, tmp).isEmpty)
  }

  test("novelty invariants: first doc fully novel; novel counts partition the shingle space") {
    val dir = sf("sf0.01")
    val nov = TextOps.novelty(spark, dir).cache()
    // the smallest doc_id holds the corpus-first occurrence of every one
    // of its shingles — novelty exactly 1.0
    val first = nov.orderBy("doc_id").head()
    assert(first.getAs[Double]("novelty") == 1.0,
      s"first doc must be fully novel, got $first")
    // every shingle is novel in exactly ONE doc (its min-id holder): the
    // novel counts partition the distinct-shingle space — counted here
    // INDEPENDENTLY from prepared (same shingle definition, no reuse of
    // the novelty relation)
    val totalNovel = nov.agg(sum("n_novel")).head().getLong(0)
    val sh3 = when(size(col("words")) >= 3, expr(
      "transform(sequence(0, size(words)-3), i -> concat(words[i], ' ', words[i+1], ' ', words[i+2]))"))
      .otherwise(array(col("norm")))
    val distinctShingles = TextOps.prepared(spark, dir)
      .select(explode(array_distinct(sh3)).as("sh")).distinct().count()
    assert(totalNovel == distinctShingles && totalNovel > 0,
      s"novel counts $totalNovel must partition the $distinctShingles distinct shingles")
    // bounds: 0 <= n_novel <= n_shingles for every doc
    assert(nov.filter(col("n_novel") > col("n_shingles") ||
      col("n_novel") < 0).isEmpty)
    nov.unpersist()
  }

  test("embeddingDrift invariants: full dim coverage, cosine bounded, self-drift is zero") {
    val drift = VectorOps.embeddingDrift(spark, sf("sf0.01")).cache()
    assert(drift.count() > 0)
    // every compared source covers the full embedding width, centroid
    // cosine is a true cosine, and the L2 shift is non-negative
    val dim = Tables.embeddings(spark, sf("sf0.01"))
      .select(size(col("embedding"))).head().getInt(0)
    assert(drift.filter(col("n_dims") =!= dim).isEmpty, s"expected $dim dims/source")
    assert(drift.filter(col("cos_centroids") > 1.0001 ||
      col("cos_centroids") < -1.0001 || col("l2_shift") < 0).isEmpty)
    drift.unpersist()
    // degenerate split deltaMod=1: base side empty -> inner join -> empty,
    // never a null/NaN row
    assert(VectorOps.embeddingDrift(spark, sf("sf0.01"), deltaMod = 1).isEmpty)
  }

  test("filtered ANN: every neighbor shares its query's label, ranks contiguous") {
    val labels = VectorOps.prepared(spark, sf("sf0.01"))
      .select(col("vec_id"), col("label"))
    for (res <- Seq(VectorOps.knnFiltered(spark, sf("sf0.01")),
                    VectorOps.annIvfFiltered(spark, sf("sf0.01")),
                    VectorOps.annIvfPostFiltered(spark, sf("sf0.01")))) {
      val r = res.cache()
      val bad = r
        .join(labels.select(col("vec_id").as("q_id"), col("label").as("ql")), "q_id")
        .join(labels.select(col("vec_id").as("neighbor_id"), col("label").as("nl")),
          "neighbor_id")
        .filter(col("ql") =!= col("nl"))
      assert(bad.isEmpty, "a filtered search returned a cross-label neighbor")
      // ranks are 1..n(q) with no gaps
      val gaps = r.groupBy("q_id")
        .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"), min(col("rank")).as("mn"))
        .filter(col("mn") =!= 1 || col("mx") =!= col("n"))
      assert(gaps.isEmpty, "rank sequence has gaps")
      r.unpersist()
    }
  }

  test("filtered ANN: post-filter starves on a rare slice where pre-filter stays exact") {
    // Cell 0 holds three high-sim label-1 vectors and ONE label-0 vector.
    // With fetch budget expand*k = 2, the unfiltered top-2 is all label 1,
    // so post-filtering leaves nothing; the pre-filter search spends its
    // single slot inside the label slice and recovers the exact answer.
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f), 0),     // query (and centroid 0)
      (1L, Seq(0.0f, 1.0f), 1),     // centroid 1
      (2L, Seq(0.98f, 0.05f), 1),
      (3L, Seq(0.96f, 0.10f), 1),
      (4L, Seq(0.94f, 0.15f), 1),
      (5L, Seq(0.90f, 0.30f), 0)    // the only eligible neighbor
    ).toDF("vec_id", "embedding", "label")
    val tmp = java.nio.file.Files.createTempDirectory("fann").toString
    vecs.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val pre = VectorOps.annIvfFiltered(spark, tmp, nQueries = 1, kNn = 1,
      kCentroids = 2, nProbe = 1)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSeq
    assert(pre == Seq((0L, 5L)), s"pre-filter should find vec 5, got $pre")
    val post = VectorOps.annIvfPostFiltered(spark, tmp, nQueries = 1, kNn = 1,
      kCentroids = 2, nProbe = 1, expand = 2)
    assert(post.isEmpty, "post-filter should starve: fetch budget is all label 1")
    val rec = VectorOps.annRecallFiltered(spark, tmp, nQueries = 1, k = 1,
      kCentroids = 2, nProbe = 1, expand = 2)
      .select("q_id", "n_hits_pre", "n_hits_post").as[(Long, Long, Long)]
      .collect().toSeq
    assert(rec == Seq((0L, 1L, 0L)), s"recall contrast wrong: $rec")
  }

  test("dedupBest keeps the highest-quality member, not the min id") {
    // docs 1 and 2 share a word SET (same minhash signature -> same
    // cluster) but 2 repeats it 10x: higher length component -> higher
    // quality, so the best-representative policy must pick 2 over the
    // min-id representative 1.
    val words = (0 until 20).map(i => s"token$i").mkString(" ")
    val docs = Seq(
      (1L, words, "en", "s", 100L),
      (2L, Seq.fill(10)(words).mkString(" "), "en", "s", 1000L),
      (3L, "entirely unrelated singleton content", "en", "s", 36L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("best").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.dedupBest(spark, tmp)
      .select("doc_id", "best_id", "keep").as[(Long, Long, Boolean)]
      .collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, 2L, false), (2L, 2L, true), (3L, 3L, true)),
      s"quality argmax wrong: $got")
  }

  test("dedupBest testdata invariants: one keep per cluster, keep maximizes quality") {
    val best = TextOps.dedupBest(spark, sf("sf0.01")).cache()
    val perCluster = best.groupBy("cluster_rep")
      .agg(sum(col("keep").cast("long")).as("n_keep"))
      .filter(col("n_keep") =!= 1)
    assert(perCluster.isEmpty, "every cluster must keep exactly one member")
    // no member outscores its cluster's chosen representative
    val q = TextOps.quality(spark, sf("sf0.01")).select("doc_id", "quality_score")
    val joined = best.join(q, "doc_id")
    val repScore = joined.filter(col("keep"))
      .select(col("cluster_rep").as("cr"), col("quality_score").as("rep_score"))
    assert(joined.join(repScore, col("cluster_rep") === col("cr"))
      .filter(col("quality_score") > col("rep_score")).isEmpty,
      "a cluster member outscores its representative")
    best.unpersist()
  }

  test("dupMatrix: cells account for every candidate pair, sources ordered") {
    val m = TextOps.dupMatrix(spark, sf("sf0.01")).cache()
    assert(m.filter(col("source_a") > col("source_b")).isEmpty,
      "matrix cells must be least-first")
    val total = m.agg(sum(col("n_pairs"))).head().getLong(0)
    val pairs = TextOps.minhashPairs(spark, sf("sf0.01")).count()
    assert(total == pairs, s"matrix total $total != pair relation $pairs")
    m.unpersist()
  }

  test("compressRatio: deterministic, bounded, and orders repetition below prose") {
    val varied = (1 to 120).map(i => s"w${i * 7919 % 997}x$i").mkString(" ")
    val docs = Seq(
      (1L, Seq.fill(120)("spam spam spam").mkString(" "), "en", "s", 100L),
      (2L, varied, "en", "s", 100L),
      (3L, "", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("zratio").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def run() = TextOps.compressRatio(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3),
          r.getBoolean(4))).toMap
    val a = run()
    assert(a == run(), "deflate output must be run-deterministic")
    // repetition compresses far below varied prose; both within (0, ~1030]
    assert(a(1L)._3 < a(2L)._3, s"repetitive doc must compress better: $a")
    assert(a(1L)._4 && !a(2L)._4, "repetitive flag tracks the threshold")
    Seq(1L, 2L).foreach { id =>
      assert(a(id)._3 > 0 && a(id)._3 <= 1030, s"ratio out of range for $id: $a")
    }
    // empty doc: zero bytes, null ratio surfaced as non-repetitive
    assert(a(3L)._1 == 0L && a(3L)._3 == -1L && !a(3L)._4)
  }

  test("kmeansTrainRounded: deterministic, k centroids, cn is the coordinate norm, objective not degraded") {
    val dir = sf("sf0.01")
    val k = 16
    def runOnce() = VectorOps.kmeansTrainRounded(spark, dir, k, iters = 3)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    val a = runOnce()
    assert(a.toSeq == runOnce().toSeq, "quantized Lloyd must be run-deterministic")
    assert(a.length == k && a.map(_._1).toSeq == (0 until k))
    a.foreach { case (cid, cv, cn) =>
      val expect = math.sqrt(cv.foldLeft(0.0)((s, x) => s + x * x))
      assert(cn == expect, s"cn must be the norm of cv for centroid $cid")
    }
    // training must not DEGRADE the clustering objective Σ max-cos vs the
    // seed centroids (Lloyd is non-decreasing; the 4-decimal quantization
    // can cost at most a hair — bounded here at 1e-3 per vector on avg)
    import org.apache.spark.sql.expressions.Window
    def objective(cents: org.apache.spark.sql.DataFrame): Double =
      VectorOps.prepared(spark, dir)
        .join(broadcast(cents))
        .withColumn("c_sim",
          graft.plans.ArrayExprs.dotNative(col("v"), col("cv")) / (col("nrm") * col("cn")))
        .groupBy(col("vec_id")).agg(max(col("c_sim")).as("best"))
        .agg(sum(col("best"))).head().getDouble(0)
    val e0 = VectorOps.prepared(spark, dir)
    val seed = e0.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("centroid_id"),
        col("v").as("cv"), col("nrm").as("cn"))
    val trained = VectorOps.kmeansTrainRounded(spark, dir, k, iters = 3)
    val n = e0.count().toDouble
    val (objSeed, objTrained) = (objective(seed), objective(trained))
    assert(objTrained >= objSeed - 1e-3 * n,
      s"training degraded the Lloyd objective: seed=$objSeed trained=$objTrained")
  }

  test("annRecallIvfTrained: one row per query, recalls well-formed on both sides") {
    val out = VectorOps.annRecallIvfTrained(spark, sf("sf0.01")).collect()
    assert(out.length == 20, "one joined row per query")
    out.foreach { r =>
      val (rs, rt) = (r.getDouble(r.fieldIndex("recall_seed")),
        r.getDouble(r.fieldIndex("recall_trained")))
      assert(rs >= 0.0 && rs <= 1.0 && rt >= 0.0 && rt <= 1.0)
      assert(r.getLong(r.fieldIndex("n_hits_seed")) == math.round(rs * 5))
      assert(r.getLong(r.fieldIndex("n_hits_trained")) == math.round(rt * 5))
    }
  }

  test("compressRatioExpr: codegen expression form row-for-row equals the mapPartitions form") {
    val dir = sf("sf0.01")
    val mp = TextOps.compressRatio(spark, dir).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val ex = TextOps.compressRatioExpr(spark, dir).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(mp.keySet == ex.keySet)
    mp.foreach { case (id, row) =>
      assert(ex(id) == row, s"expr form diverges at doc $id: ${ex(id)} vs $row")
    }
  }

  test("compressBytes cross-foots compressRatio: the oracle-checked byte column is the ratio denominator") {
    val dir = sf("sf0.01")
    val oracleSide = TextOps.compressBytes(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val zlibSide = TextOps.compressRatio(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oracleSide == zlibSide,
      "n_bytes must be identical between the oracle-checked projection and the zlib relation")
  }

  test("curateFunnel: cumulative subtraction exact, all stages present, cross-foots curate") {
    val funnel = TextOps.curateFunnel(spark, sf("sf0.01"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(funnel.map(_._1).toSeq == (1 to 7), "all seven stages, in order")
    val total = Tables.documents(spark, sf("sf0.01")).count()
    assert(funnel.map(_._3).sum == total, "drop counts partition the corpus")
    // n_remaining is the running survivor count; the terminal row hits 0
    var remaining = total
    funnel.foreach { case (_, gate, n, rem) =>
      remaining -= n
      assert(rem == remaining, s"survivor math wrong at $gate")
    }
    assert(funnel.last._4 == 0L)
    // the kept row equals curate's keep count
    val kept = TextOps.curate(spark, sf("sf0.01")).filter(col("keep")).count()
    assert(funnel.find(_._2 == "kept").get._3 == kept)
  }

  test("kAnon: every published group has >= k members, coverage exact") {
    val k = 10
    val out = TextOps.kAnon(spark, sf("sf0.01"), k).cache()
    val nDocs = Tables.documents(spark, sf("sf0.01")).count()
    assert(out.count() == nDocs, "every document gets exactly one verdict")
    assert(out.select("doc_id").distinct().count() == nDocs)
    // the k-property, checked by REGROUPING the published rows — not by
    // trusting group_n
    val small = out.filter(col("level") < 2)
      .groupBy("source_out", "lang_out").count()
      .filter(col("count") < k)
    assert(small.isEmpty, "a published anonymity group is under k")
    // pass and generalize both occur on testdata (combos span 1..16 at
    // k=10; every lang's failing subset is itself >= k, so suppression
    // needs the crafted fixture below)
    assert(out.select("level").distinct().count() >= 2)
    // suppressed rows never leak a QI value
    assert(out.filter(col("level") === 2 &&
      (col("source_out") =!= "*" || col("lang_out") =!= "*")).isEmpty)
    // the PUBLISHABLE relation: exactly the audit view minus level-2 rows,
    // so no undersized group can leak through an unfiltered ship — checked
    // by regrouping the release relation itself
    val rel = TextOps.kAnonRelease(spark, sf("sf0.01"), k).cache()
    assert(rel.filter(col("level") === 2).isEmpty, "release must not carry suppressed rows")
    assert(rel.count() == out.filter(col("level") < 2).count())
    assert(rel.groupBy("source_out", "lang_out").count()
      .filter(col("count") < k).isEmpty,
      "a release anonymity group is under k")
    rel.unpersist()
    out.unpersist()
  }

  test("kAnon ladder: pass, generalize, and suppress each fire exactly as constructed") {
    // k=3: (en,a)x4 passes; (en,b)x2 and (en,c)x1 fail level 0 but their
    // generalized en-group is 3 -> level 1; (fr,d)x1 fails both -> level 2
    val docs = ((1 to 4).map(i => (i.toLong, s"t$i", "en", "a")) ++
      Seq((5L, "t5", "en", "b"), (6L, "t6", "en", "b"), (7L, "t7", "en", "c"),
        (8L, "t8", "fr", "d")))
      .map { case (id, t, l, s) => (id, t, l, s, 2L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("kanon").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.kAnon(spark, tmp, k = 3)
      .select("doc_id", "source_out", "lang_out", "level")
      .as[(Long, String, String, Int)].collect().toSet
    val expected = ((1L to 4L).map(id => (id, "a", "en", 0)) ++
      Seq((5L, "*", "en", 1), (6L, "*", "en", 1), (7L, "*", "en", 1),
        (8L, "*", "*", 2))).toSet
    assert(got == expected, s"ladder verdicts wrong: ${got -- expected} / ${expected -- got}")
  }

  test("semClustersApply keeps exactly one representative per semantic group") {
    val out = VectorOps.semClustersApply(spark, sf("sf0.01")).cache()
    val keeps = out.filter(col("keep")).count()
    assert(keeps == out.select("cluster_rep").distinct().count(),
      "one keep per cluster")
    assert(out.filter(col("keep") && col("vec_id") =!= col("cluster_rep")).isEmpty,
      "the keeper is the min-id representative")
    out.unpersist()
  }

  test("marginPairs mines mutual aligned pairs and skips the hub vector") {
    // two clean cross-side alignments (0,1) and (2,3); vector 5 is a "hub"
    // moderately close to BOTH A-side vectors but nobody's top-1 — the
    // margin/mutual machinery must emit exactly the two aligned pairs
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f), 0),     // A (also the single centroid)
      (1L, Seq(0.99f, 0.14f), 1),   // B, aligned with 0
      (2L, Seq(0.0f, 1.0f), 0),     // A
      (3L, Seq(0.1f, 0.99f), 1),    // B, aligned with 2
      (5L, Seq(0.7f, 0.7f), 1)      // B hub: close-ish to both, top-1 of neither
    ).toDF("vec_id", "embedding", "label")
    val tmp = java.nio.file.Files.createTempDirectory("margin").toString
    vecs.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = VectorOps.marginPairs(spark, tmp, k = 2, kCentroids = 1)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 1L), (2L, 3L)), s"mined pairs wrong: $got")
  }

  test("marginPairs testdata invariants: one-to-one, cross-parity, margin above floor") {
    val pairs = VectorOps.marginPairs(spark, sf("sf0.01")).cache()
    assert(pairs.count() > 0, "testdata should yield some mutual pairs")
    // mutual top-1 makes the mined relation one-to-one on both sides
    assert(pairs.groupBy("a_id").count().filter(col("count") > 1).isEmpty)
    assert(pairs.groupBy("b_id").count().filter(col("count") > 1).isEmpty)
    val labels = VectorOps.prepared(spark, sf("sf0.01"))
      .select(col("vec_id"), pmod(col("label"), lit(2)).as("par"))
    assert(pairs
      .join(labels.select(col("vec_id").as("a_id"), col("par").as("pa")), "a_id")
      .join(labels.select(col("vec_id").as("b_id"), col("par").as("pb")), "b_id")
      .filter(col("pa") =!= 0 || col("pb") =!= 1).isEmpty,
      "sides must be the two label parities")
    assert(pairs.filter(col("margin") <= 1.0).isEmpty, "margin floor violated")
    pairs.unpersist()
  }

  test("marginPairsIncr: frozen base side excluded — the arrival wins its pair") {
    // a base A vector is b's TRUE best neighbor, but it is not an arrival:
    // the incremental job must pair b with the best DELTA arrival instead
    // (base pairs were mined when that vector arrived — the
    // v_knn_graph_incr asymmetric-staleness contract)
    val deltaMod = 5
    val candidates = (1L until 400L).toDF("vec_id")
      .withColumn("is_delta", pmod(graft.Exprs.hex60(
        concat(lit("inc:"), col("vec_id").cast("string"))), lit(deltaMod)) === 0)
      .as[(Long, Boolean)].collect()
    val baseAId = candidates.collectFirst { case (id, false) => id }.get
    val deltaAId = candidates.collectFirst { case (id, true) => id }.get
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f), 1),          // b (and the single centroid)
      (baseAId, Seq(0.99f, 0.1f), 0),    // frozen base A — b's true best
      (deltaAId, Seq(0.9f, 0.2f), 0)     // today's arrival
    ).toDF("vec_id", "embedding", "label")
    val tmp = java.nio.file.Files.createTempDirectory("margin_incr").toString
    vecs.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val full = VectorOps.marginPairs(spark, tmp, k = 2, kCentroids = 1,
      minMargin = 0.0).select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(full == Set((baseAId, 0L)), s"full miner should pair the base: $full")
    val incr = VectorOps.marginPairsIncr(spark, tmp, deltaMod, k = 2,
      kCentroids = 1, minMargin = 0.0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(incr == Set((deltaAId, 0L)), s"incr miner should pair the arrival: $incr")
  }

  test("marginPairsIncr testdata invariants: delta-bound, one-to-one") {
    val incr = functions.VectorOps.marginPairsIncr(spark, sf("sf0.01")).cache()
    assert(incr.count() > 0)
    val offSplit = incr.join(
      VectorOps.prepared(spark, sf("sf0.01"))
        .filter(!(pmod(col("label"), lit(2)) === 0 &&
          graft.Exprs.arrivalSplit(col("vec_id"), 5) === 0))
        .select(col("vec_id").as("a_id")), "a_id")
    assert(offSplit.isEmpty, "an a_id outside the delta A split leaked in")
    assert(incr.groupBy("a_id").count().filter(col("count") > 1).isEmpty)
    assert(incr.groupBy("b_id").count().filter(col("count") > 1).isEmpty)
    incr.unpersist()
  }

  test("marginRecall: counts cross-foot, mined pairs cell-consistent with exact") {
    val r = VectorOps.marginRecall(spark, sf("sf0.01")).collect()
    assert(r.length == 1)
    val row = r.head
    val (nExact, nMined, nCommon) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nExact > 0 && nMined > 0, "both relations must mine something")
    assert(nCommon <= math.min(nExact, nMined), "intersection bound")
    assert(row.getLong(3) == nCommon * 1000 / nExact, "recall permille arithmetic")
    assert(row.getLong(4) == nCommon * 1000 / nMined, "precision permille arithmetic")
    // one-cell exact mining is a superset-quality reference: the cell-
    // bounded miner cannot beat it on recall of itself
    assert(row.getLong(3) <= 1000 && row.getLong(4) <= 1000)
  }

  test("nbClassify: covers the corpus, bits positive, eval cross-foots") {
    val cls = TextOps.nbClassify(spark, sf("sf0.01")).cache()
    val nDocs = Tables.documents(spark, sf("sf0.01")).count()
    assert(cls.count() == nDocs, "every doc with tokens gets a prediction")
    assert(cls.filter(col("bits") <= 0).isEmpty, "bit costs are positive")
    assert(cls.filter(!col("pred_bucket").isin("high", "medium", "low")).isEmpty)
    val acc = cls.filter(col("correct")).count().toDouble / nDocs
    assert(acc > 0.5, s"self-distilled NB should beat a coin flip, got $acc")
    val evalTotal = TextOps.nbEval(spark, sf("sf0.01"))
      .agg(sum(col("n"))).head().getLong(0)
    assert(evalTotal == nDocs, "confusion matrix must cross-foot to the corpus")
    cls.unpersist()
  }
}
