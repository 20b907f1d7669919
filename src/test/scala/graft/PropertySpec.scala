package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.multimodal.Multimodal
import graft.operators.Readings
import graft.plans.ArrayExprs
import graft.streaming.RadiationPipeline

/** Property-based invariants over the core scalar/array semantics
  * (raw ScalaCheck generators with a fixed seed — the scalatest bridge
  * artifact isn't on the offline classpath).
  */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("dot product matches a plain Scala reference on random vectors") {
    val vecGen = Gen.listOfN(16, Gen.choose(-100.0, 100.0))
    val pairs = samples(Gen.zip(vecGen, vecGen), 25)
    val df = pairs.toDF("a", "b")
      .select(ArrayExprs.dotNative(col("a"), col("b")).as("d"))
    val got = df.as[Double].collect()
    val expect = pairs.map { case (a, b) =>
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    }
    assert(got.toSeq == expect)
  }

  test("bpe apply matches an independent in-JVM greedy fold on random words and tables") {
    // reference implementation: the classic per-merge greedy left-to-right
    // fuse scan, written directly in Scala — no Spark, no SQL
    def applyRef(word: String, merges: Seq[(String, String)]): Seq[String] =
      merges.foldLeft(word.map(_.toString): Seq[String]) { case (syms, (a, b)) =>
        syms.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
          else acc :+ x
        }
      }
    val wordGen = Gen.chooseNum(0, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val mergeGen = Gen.listOfN(6,
      Gen.zip(Gen.oneOf("a", "b", "c", "ab", "bc", "aa"),
        Gen.oneOf("a", "b", "c", "ab", "bc")))
    // degenerate table: no merges = plain character segmentation
    val noMerge = functions.Bpe.segmentWords(Seq("abc").toDF("w"), Nil)
      .select("syms").as[Seq[String]].head()
    assert(noMerge == Seq("a", "b", "c"))
    val cases = samples(Gen.zip(Gen.listOfN(12, wordGen), mergeGen), 8)
    cases.foreach { case (words, merges) =>
      val got = functions.Bpe.segmentWords(words.toDF("w"), merges)
        .select("w", "syms").as[(String, Seq[String])].collect().toMap
      words.distinct.foreach { w =>
        val ref = applyRef(w, merges)
        assert(got(w) == ref, s"word '$w' merges $merges: ${got(w)} vs $ref")
        // the segmentation invariant: tokens concatenate back to the word
        assert(got(w).mkString == w)
      }
    }
  }

  test("codec fuzz: BMP, PNG and WAV decoders never throw on mutated bytes") {
    import graft.multimodal.{Bmp, Png, Wav}
    val rgb = Array.tabulate(9 * 7 * 3)(i => (i * 13 + 1).toByte)
    val samples16 = Array.tabulate(40)(i => i * 901 - 18000)
    val bases = Seq[(String, Array[Byte], Array[Byte] => Any)](
      ("bmp", Bmp.encode(9, 7, rgb), Bmp.decode),
      ("png", Png.encode(9, 7, rgb, 2), Png.decode),
      ("wav", Wav.encode(8000, 2, samples16), Wav.decode))
    val rnd = new scala.util.Random(7)
    bases.foreach { case (name, base, dec) =>
      (0 until 200).foreach { k =>
        val b = base.clone()
        (0 to rnd.nextInt(6)).foreach { _ =>
          b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
        }
        scala.util.Try(dec(b)) match {
          case scala.util.Failure(e) => fail(s"$name mutation $k threw: $e")
          case _ => ()
        }
      }
    }
  }

  test("level classification is total and monotone in value") {
    val order = Seq("very-low", "low", "moderate", "high", "very-high")
    val vs = samples(Gen.choose(1, 2000), 100).sorted
    val out = vs.toDF("cpm")
      .withColumn("__ord", monotonically_increasing_id())
      .select(Readings.level5(col("cpm")).as("l"), col("cpm"))
      .orderBy("cpm").as[(String, Int)].collect()
    assert(out.forall(r => order.contains(r._1)))
    out.sliding(2).foreach {
      case Array((l1, _), (l2, _)) =>
        assert(order.indexOf(l1) <= order.indexOf(l2))
      case _ =>
    }
  }

  test("composite key formats all finite inputs like the reference f-string") {
    val d = Gen.choose(-1000.0, 1000.0)
    val triples = samples(Gen.zip(d, d, Gen.choose(0.0, 5000.0)), 50)
    val got = triples.toDF("lat", "lon", "v")
      .select(RadiationPipeline.compositeKey(
        col("lat"), col("lon"), col("v"), lit("t"), lit("cpm")).as("k"))
      .as[String].collect()
    val expect = triples.map { case (lat, lon, v) => f"$lat%.5f|$lon%.5f|$v%.2f|t|cpm" }
    assert(got.toSeq == expect)
  }

  test("simhash and minhash signatures are word-order invariant") {
    val wordGen = Gen.listOfN(8, Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff"))
    val docsWords = samples(wordGen, 10)
    // each doc and a shuffled copy must hash identically (set semantics)
    val rows = docsWords.zipWithIndex.flatMap { case (ws, i) =>
      Seq((i.toLong * 2, ws.mkString(" ")),
          (i.toLong * 2 + 1, scala.util.Random.javaRandomToRandom(
            new java.util.Random(i)).shuffle(ws).mkString(" ")))
    }
    val tmp = java.nio.file.Files.createTempDirectory("propdocs").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val sim = functions.TextOps.simhash(spark, tmp)
      .orderBy("doc_id").as[(Long, Long)].collect()
    val mh = functions.TextOps.minhashSignatures(spark, tmp)
      .orderBy("doc_id").collect()
    docsWords.indices.foreach { i =>
      assert(sim(2 * i)._2 == sim(2 * i + 1)._2, s"simhash differs for doc pair $i")
      assert(mh(2 * i).toSeq.tail == mh(2 * i + 1).toSeq.tail, s"minhash differs for doc pair $i")
    }
  }

  test("timestamp normalization accepts any zoned/fractional form of a valid instant") {
    val base = "2011-03-15 10:00:00"
    val forms = Seq(base, s"$base.123", s"$base+09:00", s"$base.5Z",
      "2011-03-15T10:00:00", s"$base.999999-05:00")
    val out = forms.toDF("ts")
      .select(RadiationPipeline.normalizeTimestamp(col("ts")).cast("string")).as[String].collect()
    assert(out.forall(_ == base))
  }

  test("HeaderDecoder round-trips arbitrary BMP dims and WAV formats") {
    import java.nio.{ByteBuffer, ByteOrder}
    def bmp(w: Int, h: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(54).order(ByteOrder.LITTLE_ENDIAN)
      b.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54)
      b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      b.array()
    }
    def wav(rate: Int, ch: Int, bits: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(44).order(ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(36).put("WAVE".getBytes("US-ASCII"))
      b.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(ch.toShort)
      b.putInt(rate).putInt(rate * ch * bits / 8).putShort((ch * bits / 8).toShort)
      b.putShort(bits.toShort)
      b.put("data".getBytes("US-ASCII")).putInt(0)
      b.array()
    }
    val dims = samples(Gen.zip(Gen.choose(1, 65535), Gen.choose(-65535, 65535)
      .suchThat(_ != 0)), 40)
    for ((w, h) <- dims) {
      val d = Multimodal.HeaderDecoder.decode(
        Multimodal.MediaRecord(1L, "image", bmp(w, h), 0, 0))
      assert(d.format == "bmp" && d.width == w && d.height == math.abs(h),
        s"bmp($w, $h) -> $d")
    }
    val fmts = samples(Gen.zip(Gen.choose(8000, 192000), Gen.choose(1, 8),
      Gen.oneOf(8, 16, 24, 32)), 40)
    for ((rate, ch, bits) <- fmts) {
      val d = Multimodal.HeaderDecoder.decode(
        Multimodal.MediaRecord(2L, "audio", wav(rate, ch, bits), 0, 0))
      assert(d.format == "wav" && d.sample_rate == rate && d.channels == ch &&
        d.bits_per_sample == bits, s"wav($rate, $ch, $bits) -> $d")
    }
    def png(w: Int, h: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(33).order(ByteOrder.BIG_ENDIAN)
      b.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      b.putInt(13).put("IHDR".getBytes("US-ASCII")).putInt(w).putInt(h)
      b.put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      b.array()
    }
    for ((w, h) <- samples(Gen.zip(Gen.choose(1, 1 << 24), Gen.choose(1, 1 << 24)), 40)) {
      val d = Multimodal.HeaderDecoder.decode(
        Multimodal.MediaRecord(3L, "image", png(w, h), 0, 0))
      assert(d.format == "png" && d.width == w && d.height == h, s"png($w, $h) -> $d")
    }
    // a truncated PNG signature must not be claimed as png
    val bad = Multimodal.HeaderDecoder.decode(
      Multimodal.MediaRecord(4L, "image", "PNG".getBytes("ISO-8859-1"), 0, 0))
    assert(bad.format == "unknown")

    // JPEG: SOI + APP0(JFIF) + a fill byte + SOF0 carrying the dims
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(2 + 18 + 1 + 19).order(ByteOrder.BIG_ENDIAN)
      b.put(0xff.toByte).put(0xd8.toByte)                      // SOI
      b.put(0xff.toByte).put(0xe0.toByte).putShort(16)         // APP0 len 16
      b.put("JFIF".getBytes("US-ASCII")).put(new Array[Byte](10))
      b.put(0xff.toByte)                                       // fill byte
      b.put(0xff.toByte).put(0xc0.toByte).putShort(17)         // SOF0 len 17
      b.put(8.toByte).putShort(h.toShort).putShort(w.toShort)  // precision,h,w
      b.put(3.toByte).put(new Array[Byte](9))                  // 3 components
      b.array()
    }
    for ((w, h) <- samples(Gen.zip(Gen.choose(1, 65535), Gen.choose(1, 65535)), 40)) {
      val d = Multimodal.HeaderDecoder.decode(
        Multimodal.MediaRecord(5L, "image", jpeg(w, h), 0, 0))
      assert(d.format == "jpeg" && d.width == w && d.height == h,
        s"jpeg($w, $h) -> $d")
    }
    // dimensions unreadable (SOS before any SOF) → jpeg with zero dims,
    // and the walk must terminate
    val sos = Array(0xff, 0xd8, 0xff, 0xda, 0x00, 0x02).map(_.toByte)
    val dSos = Multimodal.HeaderDecoder.decode(
      Multimodal.MediaRecord(6L, "image", sos, 0, 0))
    assert(dSos.format == "jpeg" && dSos.width == 0)
  }

  test("hamming banding is pigeonhole-lossless: any <=6-distant pair shares an 8-bit band") {
    // the claim every image-dedup oracle compare rests on, checked over
    // random 63-bit hashes with random <=6-bit corruptions: flipping at
    // most 6 bits can dirty at most 6 of the 8 bands, so at least one
    // (in fact two) bands must stay identical — the banded candidate join
    // can never miss a pair the all-pairs oracle would emit
    def bands(h: Long): Seq[Long] = (0 until 8).map(b => (h >>> (b * 8)) & 255L)
    val hashGen = Gen.choose(Long.MinValue, Long.MaxValue).map(_ & ((1L << 63) - 1))
    val flipsGen = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, Gen.choose(0, 62)))
    for ((h, flips) <- samples(Gen.zip(hashGen, flipsGen), 300)) {
      val h2 = flips.foldLeft(h)((acc, p) => acc ^ (1L << p))
      assert(java.lang.Long.bitCount(h ^ h2) <= 6)
      val shared = bands(h).zip(bands(h2)).count { case (a, b) => a == b }
      assert(shared >= 2,
        f"hash $h%x corrupted to $h2%x shares only $shared bands")
    }
  }

  test("kAnon k-property holds on random QI distributions") {
    import graft.functions.TextOps
    val srcGen = Gen.oneOf("a", "b", "c", "d", "e")
    val langGen = Gen.oneOf("en", "fr", "zh")
    val rowsGen = Gen.choose(20, 60).flatMap(n =>
      Gen.listOfN(n, Gen.zip(srcGen, langGen)))
    samples(rowsGen, 5).zipWithIndex.foreach { case (rows, i) =>
      val docs = rows.zipWithIndex
        .map { case ((s, l), id) => (id.toLong, s"t$id", l, s, 2L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val dir = java.nio.file.Files.createTempDirectory(s"prop_kanon$i").toString
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val k = 4
      val out = TextOps.kAnon(spark, dir, k).cache()
      assert(out.count() == rows.length, s"case $i: coverage")
      val small = out.filter(col("level") < 2)
        .groupBy("source_out", "lang_out").count()
        .filter(col("count") < k)
      assert(small.isEmpty, s"case $i: a published group is under k")
      out.unpersist()
    }
  }

  test("bm25 is bag-of-words: shuffling document word order never changes a score") {
    import graft.functions.Retrieval
    // random small corpora; second table = same docs with words reversed
    // (tf, df, len all preserved -> identical BM25 relation; contrast with
    // lm2Bits, which is order-SENSITIVE by design)
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docGen = Gen.choose(3, 12).flatMap(n => Gen.listOfN(n, word))
    val corpusGen = Gen.choose(6, 12).flatMap(n => Gen.listOfN(n, docGen))
    samples(corpusGen, 3).zipWithIndex.foreach { case (corpus, i) =>
      def write(dir: String, rev: Boolean): Unit =
        corpus.zipWithIndex.map { case (ws, id) =>
          val t = (if (rev) ws.reverse else ws).mkString(" ")
          (id.toLong, t, "en", "s", t.length.toLong)
        }.toDF("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val d1 = java.nio.file.Files.createTempDirectory(s"bm25p$i").toString
      val d2 = java.nio.file.Files.createTempDirectory(s"bm25r$i").toString
      write(d1, rev = false); write(d2, rev = true)
      val a = Retrieval.bm25(spark, d1, probeMax = 2).collect().map(_.toSeq).toSeq
      val b = Retrieval.bm25(spark, d2, probeMax = 2).collect().map(_.toSeq).toSeq
      assert(a == b, s"case $i: word order changed a BM25 relation")
    }
  }

  test("mp3 header walk round-trips random VBR streams; never throws on mutations") {
    import graft.multimodal.Mp3
    val caseGen = for {
      sr <- Gen.choose(0, 2); mode <- Gen.choose(0, 3)
      nf <- Gen.choose(1, 30); id3 <- Gen.choose(0, 200)
      a <- Gen.choose(1L, 997L); b <- Gen.choose(0L, 13L)
    } yield (sr, mode, nf, id3, a, b)
    samples(caseGen, 30).foreach { case (sr, mode, nf, id3, a, b) =>
      def bi(f: Int) = 1 + ((a * f + b) % 14).toInt
      def pad(f: Int) = ((a + f) % 2).toInt
      val bytes = Mp3.encode(sr, mode, bi, pad, nf, id3)
      val info = Mp3.parse(bytes).getOrElse(fail(s"refused ($sr,$mode,$nf,$id3)"))
      assert(info.sampleRate == Mp3.SampleRate(sr) && info.chMode == mode &&
        info.nFrames == nf && info.nBytes == bytes.length &&
        info.id3Bytes == (if (id3 > 0) 10 + id3 else 0) &&
        info.sumKbps == (0 until nf).map(f => Mp3.BitrateKbps(bi(f)).toLong).sum)
      // mutation fuzz: parse is total — Some or None, never a throw —
      // and a mutated stream that still parses reports consistent totals
      val rnd = new scala.util.Random(a * 31 + b)
      for (_ <- 0 until 20) {
        val m = bytes.clone()
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        Mp3.parse(m).foreach(i => assert(i.nBytes == m.length && i.nFrames > 0))
      }
    }
  }

  test("mp3 side-info walk never throws on mutated or truncated bytes; survivors stay field-consistent") {
    import graft.multimodal.Mp3
    // the refusal contract on ATTACKER-SHAPED input (r18 VERDICT #4): for
    // ANY byte mutation or truncation of a valid stream, parseSideInfo
    // returns None or a SideInfo whose fields respect the format's own
    // bounds — never a throw, never an impossible readout
    def consistent(si: Mp3.SideInfo): Unit = {
      assert(si.nGc > 0 && si.nGc % 2 == 0, s"granule-channels pair up: $si")
      assert(si.sumPart23 >= 0 && si.sumPart23 <= si.nGc * 4095L,
        s"part2_3 is a 12-bit field: $si") // 2^12 - 1 per gc
      assert(si.sumBigValues >= 0 && si.sumBigValues <= si.nGc * 288L,
        s"big_values past the walk's own ceiling: $si")
      assert(si.minGain >= 0 && si.minGain <= si.maxGain && si.maxGain <= 255,
        s"global_gain is an 8-bit field: $si")
      assert(si.maxMainDataBegin >= 0 && si.maxMainDataBegin <= 511,
        s"main_data_begin is a 9-bit field: $si")
    }
    val caseGen = for {
      sr <- Gen.choose(0, 2); mode <- Gen.choose(0, 3)
      nf <- Gen.choose(1, 12); id3 <- Gen.choose(0, 60)
      a <- Gen.choose(1L, 997L); b <- Gen.choose(0L, 13L)
    } yield (sr, mode, nf, id3, a, b)
    samples(caseGen, 25).foreach { case (sr, mode, nf, id3, a, b) =>
      val bytes = Mp3.encode(sr, mode,
        f => 1 + ((a * f + b) % 14).toInt, f => ((a + f) % 2).toInt, nf, id3)
      consistent(Mp3.parseSideInfo(bytes)
        .getOrElse(fail(s"refused own output ($sr,$mode,$nf,$id3)")))
      val rnd = new scala.util.Random(a * 131 + b)
      // single- and multi-byte mutations anywhere (ID3 header, frame
      // header, side-info block, payload)
      for (_ <- 0 until 40) {
        val m = bytes.clone()
        for (_ <- 0 to rnd.nextInt(3))
          m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        Mp3.parseSideInfo(m).foreach(consistent)
      }
      // truncation at every boundary class: inside the ID3 tag, inside a
      // header, inside a side-info block, inside a payload
      for (_ <- 0 until 15) {
        val cut = rnd.nextInt(bytes.length)
        Mp3.parseSideInfo(bytes.take(cut)).foreach(consistent)
      }
      // truncation mid-side-info specifically (the r18 verdict's named
      // case): cut inside the first frame's side-info block must refuse
      val siCut = (if (id3 > 0) 10 + id3 else 0) + 4 +
        rnd.nextInt(Mp3.sideInfoBytes(mode))
      assert(Mp3.parseSideInfo(bytes.take(siCut)).isEmpty,
        "a frame cut inside its side info must refuse, not misparse")
    }
  }

  test("mp3 encoder reservoir consistency: every frame's declared payload fits its own main-data bits") {
    import graft.multimodal.Mp3
    // the encoder GUARANTEE PLANS documents (parseSideInfo deliberately
    // does not check it — the bit reservoir makes a per-frame check wrong
    // on real streams): with main_data_begin = 0, the sum of a frame's
    // granule-channel part2_3_length values fits the frame's physical
    // main-data region for EVERY (bitrate, samplerate, channel mode,
    // padding) shape the encoder can emit — exhaustive over the format's
    // own parameter space, not sampled
    for (bi <- 1 to 14; srIdx <- 0 to 2; chMode <- 0 to 3; pad <- 0 to 1) {
      val kbps = Mp3.BitrateKbps(bi)
      val frameBytes = 144 * kbps * 1000 / Mp3.SampleRate(srIdx) + pad
      val mainDataBits =
        (frameBytes - 4 - Mp3.sideInfoBytes(chMode)) * 8L
      val nCh = if (chMode == 3) 1 else 2
      // scan enough frame indices to cycle the generator's f-dependence
      for (f <- 0 until 40) {
        val p23s = for (g <- 0 until 2; c <- 0 until nCh)
          yield Mp3.gcFields(bi, f, g, c)._1
        assert(p23s.forall(p => p >= 64 && p < Mp3.p23CapBits(bi)),
          s"per-gc bound broken at bi=$bi f=$f: $p23s vs cap ${Mp3.p23CapBits(bi)}")
        assert(p23s.map(_.toLong).sum <= mainDataBits,
          s"frame overcommitted at bi=$bi srIdx=$srIdx chMode=$chMode " +
            s"pad=$pad f=$f: ${p23s.sum} declared vs $mainDataBits physical")
      }
    }
  }

  test("lsh banding candidate sets are nested on random corpora; the sweep's counts equal the true set sizes") {
    import graft.functions.TextOps
    // the retune's drift-by-subtraction license (r19): 1×8 ⊆ 2×4 ⊆ 4×2
    // under the first-agreeing-band guard, with each set DISTINCT — here
    // proven over RANDOM corpora, not just the shipped fixture. Small
    // vocabulary + planted duplicates force genuine band matches.
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val docGen = Gen.choose(8, 16).flatMap(len => Gen.listOfN(len, wordGen))
    val corpusGen = Gen.choose(4, 8).flatMap(m => Gen.listOfN(m, docGen))
    samples(corpusGen, 4).zipWithIndex.foreach { case (corpus0, ci) =>
      // plant one exact duplicate and one 1-word edit of doc 0: at least
      // one banding must produce candidates
      val corpus = corpus0 :+ corpus0.head :+ (corpus0.head.init :+ "zz")
      val docs = corpus.zipWithIndex
        .map { case (ws, id) => (id.toLong, ws.mkString(" "), "en", "s", 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val dir = java.nio.file.Files.createTempDirectory(s"prop_lsh$ci").toString
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val cands = Seq(1, 2, 4).map(nb => nb ->
        TextOps.lshCandidatesAt(spark, dir, nb)
          .as[(Long, Long)].collect()).toMap
      cands.foreach { case (nb, arr) =>
        assert(arr.length == arr.toSet.size,
          s"banding $nb emitted a duplicate pair (corpus $ci)")
      }
      val sets = cands.view.mapValues(_.toSet).toMap
      assert(sets(1).subsetOf(sets(2)) && sets(2).subsetOf(sets(4)),
        s"nestedness broken on corpus $ci: ${sets.view.mapValues(_.size).toMap}")
      assert(sets(4).nonEmpty, s"fixture must force candidates (corpus $ci)")
      val nCand = TextOps.lshSweep(spark, dir)
        .select(col("bands"), col("n_cand"))
        .as[(Int, Long)].collect().toMap
      Seq(1, 2, 4).foreach { nb =>
        assert(nCand(nb) == sets(nb).size,
          s"sweep n_cand($nb) != |candidate set| on corpus $ci: " +
            s"${nCand(nb)} vs ${sets(nb).size}")
      }
    }
  }

  test("CMS widening refines monotonically on random high-collision corpora; both reports agree at width 64") {
    import graft.functions.TextOps
    // 200-term vocabulary over 64 buckets guarantees real collisions, so
    // the monotone-refinement invariant (shared hash ⇒ the wide counter
    // can only shrink) is exercised where it matters, not vacuously
    val wordGen = Gen.choose(0, 199).map(i => s"w$i")
    val docGen = Gen.choose(20, 40).flatMap(len => Gen.listOfN(len, wordGen))
    val corpusGen = Gen.choose(6, 10).flatMap(m => Gen.listOfN(m, docGen))
    samples(corpusGen, 4).zipWithIndex.foreach { case (corpus, ci) =>
      val docs = corpus.zipWithIndex
        .map { case (ws, id) => (id.toLong, ws.mkString(" "), "en", "s", 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val dir = java.nio.file.Files.createTempDirectory(s"prop_cms$ci").toString
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val hh = TextOps.heavyHitters(spark, dir).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      val hw = TextOps.hhWiden(spark, dir).collect()
      assert(hw.nonEmpty)
      hw.foreach { r =>
        val (term, nExact, e64, e128) =
          (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
        assert(e64 >= nExact && e128 >= nExact,
          s"CMS must only over-estimate (corpus $ci): ${r.toSeq}")
        assert(e128 <= e64 && r.getLong(6) >= 0,
          s"wide sketch must refine the narrow (corpus $ci): ${r.toSeq}")
        // same hash family, same fold: the widen report's narrow column
        // IS the heavy-hitters report's estimate
        assert(hh(term) == e64,
          s"width-64 estimates disagree across reports (corpus $ci): " +
            s"$term ${hh(term)} vs $e64")
      }
    }
  }

  test("dupSpans equals a brute-force positional cut on random corpora") {
    import graft.functions.TextOps
    val n = 5
    // small vocabulary forces genuine cross-doc window collisions
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd")
    val docGen = Gen.choose(n, 14).flatMap(len => Gen.listOfN(len, wordGen))
    val corpusGen = Gen.choose(3, 7).flatMap(m => Gen.listOfN(m, docGen))
    samples(corpusGen, 6).zipWithIndex.foreach { case (corpus, ci) =>
      val docs = corpus.zipWithIndex
        .map { case (ws, id) => (id.toLong, ws.mkString(" "), "en", "s", 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val dir = java.nio.file.Files.createTempDirectory(s"prop_ds$ci").toString
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // brute-force reference: global first occurrence per window text in
      // (doc_id, pos) order; all other occurrences cut, positions unioned
      val first = scala.collection.mutable.Map[String, (Int, Int)]()
      for ((ws, d) <- corpus.zipWithIndex; i <- 0 to ws.length - n) {
        val sh = ws.slice(i, i + n).mkString(" ")
        if (!first.contains(sh)) first(sh) = (d, i)
      }
      val expect = corpus.zipWithIndex.map { case (ws, d) =>
        val cut = (for {
          i <- 0 to ws.length - n
          sh = ws.slice(i, i + n).mkString(" ")
          if first(sh) != (d, i) && {
            val occs = for ((ws2, d2) <- corpus.zipWithIndex;
                            j <- 0 to ws2.length - n
                            if ws2.slice(j, j + n).mkString(" ") == sh) yield ()
            occs.length >= 2
          }
          p <- i until i + n
        } yield p).toSet
        val spans = cut.toSeq.sorted.foldLeft((0, -2)) { case ((c, prev), p) =>
          (if (p == prev + 1) c else c + 1, p)
        }._1
        val clean = ws.zipWithIndex.collect { case (w, p) if !cut(p) => w }
        (d.toLong, (ws.length.toLong, cut.size.toLong, spans.toLong,
          clean.mkString(" ")))
      }.toMap
      val got = TextOps.dupSpans(spark, dir)
        .select("doc_id", "n_words", "n_dup", "n_spans", "text_clean")
        .as[(Long, Long, Long, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
      assert(got == expect, s"case $ci diverges from brute force")
    }
  }

  test("dupRuns equals brute-force island-filtered cut; minRun=n degenerates to dupSpans") {
    import graft.functions.TextOps
    val n = 3
    // small vocabulary + short shingle width force both short (width-n)
    // and long duplicated runs in tiny random corpora
    val wordGen = Gen.oneOf("aa", "bb", "cc")
    val docGen = Gen.choose(n, 16).flatMap(len => Gen.listOfN(len, wordGen))
    val corpusGen = Gen.choose(3, 6).flatMap(m => Gen.listOfN(m, docGen))
    samples(corpusGen, 4).zipWithIndex.foreach { case (corpus, ci) =>
      val docs = corpus.zipWithIndex
        .map { case (ws, id) => (id.toLong, ws.mkString(" "), "en", "s", 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val dir = java.nio.file.Files.createTempDirectory(s"prop_dr$ci").toString
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // brute-force: the dupSpans positional cut, then drop islands < L
      val first = scala.collection.mutable.Map[String, (Int, Int)]()
      for ((ws, d) <- corpus.zipWithIndex; i <- 0 to ws.length - n) {
        val sh = ws.slice(i, i + n).mkString(" ")
        if (!first.contains(sh)) first(sh) = (d, i)
      }
      def cutOf(ws: List[String], d: Int): Set[Int] = (for {
        i <- 0 to ws.length - n
        sh = ws.slice(i, i + n).mkString(" ")
        if first(sh) != (d, i)
        p <- i until i + n
      } yield p).toSet
      def islands(cut: Set[Int]): Seq[Seq[Int]] =
        cut.toSeq.sorted.foldLeft(Seq.empty[Seq[Int]]) { (acc, p) =>
          if (acc.nonEmpty && acc.last.last == p - 1) acc.init :+ (acc.last :+ p)
          else acc :+ Seq(p)
        }
      for (l <- Seq(n, n + 2)) {
        val expect = corpus.zipWithIndex.map { case (ws, d) =>
          val kept = islands(cutOf(ws, d)).filter(_.size >= l)
          val cut = kept.flatten.toSet
          val clean = ws.zipWithIndex.collect { case (w, p) if !cut(p) => w }
          (d.toLong, (ws.length.toLong, cut.size.toLong, kept.size.toLong,
            clean.mkString(" ")))
        }.toMap
        val got = TextOps.dupRuns(spark, dir, n, minRun = l)
          .select("doc_id", "n_words", "n_dup", "n_spans", "text_clean")
          .as[(Long, Long, Long, Long, String)].collect()
          .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
        assert(got == expect, s"case $ci L=$l diverges from brute force")
      }
      // the degenerate identity: every island is >= n wide by
      // construction, so minRun = n must reproduce dupSpans exactly
      val spans = TextOps.dupSpans(spark, dir, n)
        .select("doc_id", "n_words", "n_dup", "n_spans", "text_clean")
        .as[(Long, Long, Long, Long, String)].collect().toSet
      val runs = TextOps.dupRuns(spark, dir, n, minRun = n)
        .select("doc_id", "n_words", "n_dup", "n_spans", "text_clean")
        .as[(Long, Long, Long, Long, String)].collect().toSet
      assert(runs == spans, s"case $ci: minRun=n must equal dupSpans")
    }
  }

  test("qualityRequota equals a full scala replica on random corpora") {
    import graft.functions.TextOps
    def hex60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    // mixed-quality vocabulary: stopwords drag the score down, long rare
    // words push it up — random docs land on both sides of the 0.5 gate
    val wordGen = Gen.oneOf("the", "a", "of", "and", "wonderful",
      "magnificent", "extraordinary", "cat", "dog")
    val docGen = Gen.choose(2, 12).flatMap(len => Gen.listOfN(len, wordGen))
    val corpusGen = Gen.choose(8, 16).flatMap(m => Gen.listOfN(m, docGen))
    samples(corpusGen, 3).zipWithIndex.foreach { case (corpus, ci) =>
      val srcOf = (id: Long) => if (id % 2 == 0) "sA" else "sB"
      val docs = corpus.zipWithIndex
        .map { case (ws, id) => (id.toLong, ws.mkString(" "), "en", srcOf(id.toLong), 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val dir = java.nio.file.Files.createTempDirectory(s"prop_rq$ci").toString
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val stop = Set("the", "a", "of", "and", "to", "in")
      def score(ws: List[String]): Double = {
        val n = ws.length
        val avgLen = ws.map(_.length).sum.toDouble / n
        0.5 * math.min(1.0, n / 200.0) +
          0.3 * (1.0 - ws.count(stop) / n.toDouble) +
          0.2 * math.min(1.0, avgLen / 8.0)
      }
      val rows = corpus.zipWithIndex.map { case (ws, id) =>
        (id.toLong, srcOf(id.toLong), hex60(s"inc:$id") % 5 == 0, score(ws))
      }
      val expect = rows.groupBy(_._2).map { case (src, rs) =>
        val base = rs.filter(!_._3); val delta = rs.filter(_._3)
        val nB = base.size.toLong; val nD = delta.size.toLong
        val keepB = base.count(_._4 >= 0.5).toLong
        val keepD = delta.count(_._4 >= 0.5).toLong
        val target: java.lang.Long = if (nB > 0) nD * keepB / nB else null
        val ranked = delta.sortBy(r => (-r._4, r._1))
        val tau: java.lang.Double =
          if (target != null && target >= 1 && target <= nD)
            ranked(target.toInt - 1)._4 else null
        val kept = if (tau == null) 0L
          else ranked.count(_._4 >= tau.doubleValue()).toLong
        (src, (nB, nD,
          if (nB > 0) keepB * 1000 / nB else -1L,
          if (nD > 0) keepD * 1000 / nD else -1L,
          target, tau, kept,
          if (nD > 0) kept * 1000 / nD else -1L))
      }
      val got = TextOps.qualityRequota(spark, dir).collect().map { r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) null else java.lang.Long.valueOf(r.getLong(5)),
          if (r.isNullAt(6)) null else java.lang.Double.valueOf(r.getDouble(6)),
          r.getLong(7), r.getLong(8)))
      }.toMap
      assert(got == expect, s"case $ci requota diverges:\n got=$got\n exp=$expect")
    }
  }

  test("distinctKmv equals a full scala replica on random corpora") {
    import graft.functions.TextOps
    def hex60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    // vocab larger than k=16 so random corpora land on both estimator paths
    val wordGen = Gen.choose(0, 39).map(i => s"w$i")
    val docGen = Gen.choose(1, 20).flatMap(len => Gen.listOfN(len, wordGen))
    val corpusGen = Gen.choose(2, 8).flatMap(m => Gen.listOfN(m, docGen))
    samples(corpusGen, 4).zipWithIndex.foreach { case (corpus, ci) =>
      val srcOf = (id: Long) => if (id % 2 == 0) "sA" else "sB"
      val docs = corpus.zipWithIndex
        .map { case (ws, id) => (id.toLong, ws.mkString(" "), "en", srcOf(id.toLong), 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val dir = java.nio.file.Files.createTempDirectory(s"prop_kmv$ci").toString
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val expect = corpus.zipWithIndex
        .flatMap { case (ws, id) => ws.map(w => (srcOf(id.toLong), hex60(s"kmv:$w"))) }
        .distinct.groupBy(_._1).map { case (src, hs) =>
          val sorted = hs.map(_._2).sorted
          val nExact = sorted.size.toLong
          val mins = sorted.take(16)
          val hK = mins.last
          val est = if (mins.size < 16) nExact
            else math.floor(15.0 * 1152921504606846976.0 / hK).toLong
          (src, (nExact, hK, est, math.abs(est - nExact) * 1000 / nExact))
        }
      val got = TextOps.distinctKmv(spark, dir).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(got == expect, s"case $ci kmv diverges:\n got=$got\n exp=$expect")
    }
  }

  test("quantileSketch equals a full scala replica on random corpora") {
    import graft.functions.TextOps
    def hex60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    // sources span sub-k (exact path) and over-k (sketch path) sizes
    val lenGen = Gen.choose(1, 25)
    val corpusGen = Gen.choose(3, 40).flatMap(m => Gen.listOfN(m, lenGen))
    samples(corpusGen, 4).zipWithIndex.foreach { case (lens, ci) =>
      val srcOf = (id: Long) => if (id % 2 == 0) "sA" else "sB"
      val docs = lens.zipWithIndex
        .map { case (len, id) =>
          (id.toLong, Seq.fill(len)("w").mkString(" "), "en", srcOf(id.toLong), 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val dir = java.nio.file.Files.createTempDirectory(s"prop_qs$ci").toString
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      def pick(vs: Seq[Long], p: Int): Long = {
        val s = vs.sorted; s((s.size - 1) * p / 1000)
      }
      val bySrc = lens.zipWithIndex
        .map { case (len, id) => (srcOf(id.toLong), id.toLong, len.toLong) }
        .groupBy(_._1)
      val expect = bySrc.flatMap { case (src, rows) =>
        val all = rows.map(_._3)
        val samp = rows.sortBy(r => (hex60(s"qs:${r._2}"), r._2)).take(16).map(_._3)
        Seq(500, 900, 990).map { p =>
          val (ex, es) = (pick(all, p), pick(samp, p))
          (src, p) -> ((all.size.toLong, ex, es,
            math.abs(es - ex) * 1000 / math.max(ex, 1L)))
        }
      }
      val got = TextOps.quantileSketch(spark, dir).collect()
        .map(r => (r.getString(0), r.getInt(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      assert(got == expect, s"case $ci quantile sketch diverges:\n got=$got\n exp=$expect")
    }
  }

  test("heavyHitters equals a full scala CMS replica on random corpora") {
    import graft.functions.TextOps
    def hex60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    // vocab of 100 > 64 buckets: per-row collisions are guaranteed by
    // pigeonhole, so the min-of-rows arithmetic is exercised under load
    val wordGen = Gen.choose(0, 99).map(i => s"w$i")
    val docGen = Gen.choose(1, 30).flatMap(len => Gen.listOfN(len, wordGen))
    val corpusGen = Gen.choose(2, 8).flatMap(m => Gen.listOfN(m, docGen))
    samples(corpusGen, 4).zipWithIndex.foreach { case (corpus, ci) =>
      val docs = corpus.zipWithIndex
        .map { case (ws, id) => (id.toLong, ws.mkString(" "), "en", "s0", 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val dir = java.nio.file.Files.createTempDirectory(s"prop_cms$ci").toString
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val counts = corpus.flatten
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
      val got = TextOps.heavyHitters(spark, dir).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == expect, s"case $ci cms diverges:\n got=$got\n exp=$expect")
    }
  }

  test("bloom membership equals a full scala replica on random corpora; no false negatives") {
    import graft.functions.TextOps
    def hex60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def shinglesOf(ws: Seq[String]): Set[String] =
      if (ws.size >= 3) ws.sliding(3).map(_.mkString(" ")).toSet
      else Set(ws.mkString(" "))
    // small vocab -> heavy base/probe shingle overlap (tp path); the
    // (m=64, k=2) size is deliberately undersized so false positives are
    // near-certain and the fp arm of the verdict CASE is exercised
    val wordGen = Gen.choose(0, 14).map(i => s"w$i")
    val docGen = Gen.choose(1, 20).flatMap(len => Gen.listOfN(len, wordGen))
    val corpusGen = Gen.choose(4, 12).flatMap(m => Gen.listOfN(m, docGen))
    val sizes = Seq((64, 2), (65536, 3))
    samples(corpusGen, 4).zipWithIndex.foreach { case (corpus, ci) =>
      val docs = corpus.zipWithIndex
        .map { case (ws, id) => (id.toLong, ws.mkString(" "), "en", "s0", 1L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val dir = java.nio.file.Files.createTempDirectory(s"prop_bloom$ci").toString
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val isDelta = (id: Long) => hex60(s"inc:$id") % 10 == 0
      val base = corpus.zipWithIndex.filter { case (_, id) => !isDelta(id.toLong) }
        .flatMap { case (ws, _) => shinglesOf(ws) }.toSet
      val probes = corpus.zipWithIndex.filter { case (_, id) => isDelta(id.toLong) }
        .flatMap { case (ws, _) => shinglesOf(ws) }.toSet
      sizes.foreach { case (m, k) =>
        val bits = base.flatMap(s => (0 until k).map(i => hex60(s"bf$i:$s") % m))
        val expect = probes.toSeq.sorted.map { s =>
          val seen = (0 until k).forall(i => bits(hex60(s"bf$i:$s") % m))
          val exact = base(s)
          assert(!(exact && !seen), s"replica itself would be a false negative: $s")
          (s, seen, exact,
            if (seen && exact) "tp" else if (seen) "fp" else "tn")
        }
        val got = TextOps.bloomShingles(spark, dir, m, k).collect()
          .map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2), r.getString(3)))
        assert(got.toSeq == expect,
          s"case $ci (m=$m,k=$k) bloom diverges:\n got=${got.toSeq}\n exp=$expect")
        // the action is exactly the member report minus the fn-free proof:
        // probed == bloom_seen, seen == exact_seen, row-identical keys
        val pre = TextOps.bloomPrefilter(spark, dir, m, k).collect()
          .map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2)))
        assert(pre.toSeq == expect.map { case (s, b, e, _) => (s, b, e) },
          s"case $ci (m=$m,k=$k) prefilter diverges from exact verdicts")
      }
      // stats cross-foot against the same replica, both sweep sizes
      val st = TextOps.bloomStats(spark, dir, sizes).collect()
        .map(r => r.getLong(0) -> r).toMap
      sizes.foreach { case (m, k) =>
        val bits = base.flatMap(s => (0 until k).map(i => hex60(s"bf$i:$s") % m))
        val nMaybe = probes.count(s => (0 until k).forall(i => bits(hex60(s"bf$i:$s") % m)))
        val nSeen = probes.count(base)
        val r = st(m.toLong)
        assert((r.getLong(2), r.getLong(3), r.getLong(5), r.getLong(6), r.getLong(7)) ==
          ((base.size.toLong, bits.size.toLong, probes.size.toLong,
            nMaybe.toLong, nSeen.toLong)),
          s"case $ci stats row m=$m cross-foot fails: ${r.toSeq}")
      }
      // grow cross-foot at the (64, 2) size: the merge is positions(bits ∪
      // novel) and the rebuild arm hashes base ∪ probes at 2m — the
      // undersized filter makes novel-shingle position collisions real
      val (gm, gk) = (64, 2)
      val gBits = base.flatMap(s => (0 until gk).map(i => hex60(s"bf$i:$s") % gm))
      val novel = probes.diff(base)
      val gAfter = gBits ++ novel.flatMap(s => (0 until gk).map(i => hex60(s"bf$i:$s") % gm))
      val gNext = (base ++ probes).flatMap(s =>
        (0 until gk).map(i => hex60(s"bf$i:$s") % (2 * gm)))
      val g = TextOps.bloomGrow(spark, dir, gm, gk).collect()
      assert(g.length == 1)
      val gr = g.head
      assert((gr.getLong(2), gr.getLong(3), gr.getLong(4), gr.getLong(9)) ==
        ((novel.size.toLong, gBits.size.toLong, gAfter.size.toLong, gNext.size.toLong)),
        s"case $ci grow cross-foot fails: ${gr.toSeq}\n " +
          s"exp novel=${novel.size} before=${gBits.size} after=${gAfter.size} next=${gNext.size}")
      assert(gr.getBoolean(7) == (gr.getLong(6) >= 500L),
        s"case $ci resize flag inconsistent with fill_after_pm: ${gr.toSeq}")
    }
  }

  test("large-star/small-star equals min-label propagation on random graphs") {
    import graft.functions.VectorOps
    // random sparse graphs under the min-label cap: the two component
    // algorithms must produce identical labelings on EVERY input, not
    // just the crafted fixtures
    val edgeGen = for {
      n <- Gen.choose(5, 30)
      m <- Gen.choose(0, n * 2)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
    } yield (n, es)
    samples(edgeGen, 6).zipWithIndex.foreach { case ((n, es), i) =>
      val nodes = (0L until n).toDF("vec_id")
      val sym = (es ++ es.map(_.swap)).filter { case (a, b) => a != b }
      val edges =
        if (sym.isEmpty) Seq((0L, 0L)).toDF("src", "dst").filter(col("src") =!= col("dst"))
        else sym.toDF("src", "dst")
      val ml = VectorOps.propagateMinLabels(nodes, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ls = VectorOps.propagateLsLs(nodes, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ls == ml, s"case $i (n=$n, m=${sym.size}): lsls disagrees with min-label")
    }
  }

  test("marginPairs mutual-top-1 is one-to-one on random embeddings") {
    import graft.functions.VectorOps
    val vecGen = Gen.listOfN(8, Gen.choose(-1.0, 1.0).map(_.toFloat))
    val corpGen = Gen.choose(24, 48).flatMap(n => Gen.listOfN(n, vecGen))
    samples(corpGen, 3).zipWithIndex.foreach { case (vs, i) =>
      val vecs = vs.zipWithIndex
        .map { case (v, id) => (id.toLong, v, id % 4) }
        .toDF("vec_id", "embedding", "label")
      val dir = java.nio.file.Files.createTempDirectory(s"prop_margin$i").toString
      vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val pairs = VectorOps.marginPairs(spark, dir, k = 3, kCentroids = 2,
        minMargin = 0.0).cache()
      // mutual top-1 makes both endpoint columns unique, on ANY corpus
      assert(pairs.groupBy("a_id").count().filter(col("count") > 1).isEmpty,
        s"case $i: duplicate a_id")
      assert(pairs.groupBy("b_id").count().filter(col("count") > 1).isEmpty,
        s"case $i: duplicate b_id")
      pairs.unpersist()
    }
  }
}
