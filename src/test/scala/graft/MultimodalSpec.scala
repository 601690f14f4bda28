package graft

import org.apache.spark.sql.functions._
import graft.multimodal.{ImageIoDecoder, Multimodal}

/** The REAL image codec path: genuine PNG bytes through the binary
  * column, decoded with javax.imageio in the partition-batched seam. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("packAsPng writes genuine PNG payloads (magic bytes, decodable)") {
    val docs = Seq((1L, "hello world"), (2L, "x" * 300)).toDF("doc_id", "text")
    val rows = Multimodal.packAsPng(docs, "doc_id", "text").collect()
    val magic = Array(0x89, 'P', 'N', 'G').map(_.toByte)
    rows.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("payload")
      assert(bytes.take(4).sameElements(magic))
      assert(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes)) != null)
    }
  }

  test("decoded stats equal the closed-form pixel algebra") {
    val text = "abcdefghij" * 5 // len 50 -> w=3, h=3, a=50
    val docs = Seq((7L, text)).toDF("doc_id", "text")
    val out = Multimodal.extractImageFeatures(
        Multimodal.packAsPng(docs, "doc_id", "text"))
      .select("media_id", "features.*").collect().head
    val (w, h, a) = (1 + 50 % 16, 1 + 50 % 12, 50 % 200)
    val sum = w * h * a + h * (w * (w - 1) / 2) + w * (h * (h - 1) / 2)
    assert(out.getInt(1) === w)
    assert(out.getInt(2) === h)
    assert(out.getLong(3) === w.toLong * h)
    assert(out.getLong(4) === sum.toLong)
    assert(out.getDouble(5) === sum.toDouble / (w * h))
  }

  test("aHash is brightness-invariant and structure-sensitive") {
    // same (w,h) gradient, different brightness offset a: len 50 and
    // len 434 both give w=3,h=3 (50%16=2, 434%16=2; 50%12=2, 434%12=2)
    // but a=50 vs a=34 — byte-unequal PNGs, equal aHash
    val same = Seq((1L, "x" * 50), (2L, "y" * 434)).toDF("doc_id", "text")
    val hs = Multimodal.imagePHash(
        Multimodal.packAsPng(same, "doc_id", "text"))
      .orderBy("media_id").collect()
    assert(hs(0).getLong(1) == hs(1).getLong(1) &&
           hs(0).getLong(2) == hs(1).getLong(2),
      "brightness-shifted copies must hash equal")
    // different raster shape → different sampled structure → hash differs
    val diff = Seq((3L, "x" * 50), (4L, "y" * 51)).toDF("doc_id", "text")
    val hd = Multimodal.imagePHash(
        Multimodal.packAsPng(diff, "doc_id", "text"))
      .orderBy("media_id").collect()
    assert(hd(0).getLong(1) != hd(1).getLong(1) ||
           hd(0).getLong(2) != hd(1).getLong(2),
      "different gradients should not collide on this fixture")
  }

  test("aHash brightness invariance holds for arbitrary rasters, not just the fixture") {
    // property over random images: adding a constant to EVERY pixel
    // (no clipping) never changes the hash — the mean threshold
    // subtracts it back out; implemented against raw BufferedImages so
    // the property covers shapes the packAsPng fixture never produces
    val rnd = new scala.util.Random(7)
    def png(w: Int, h: Int, px: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, px(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val cases = (0 until 20).map { i =>
      val (w, h) = (1 + rnd.nextInt(40), 1 + rnd.nextInt(40))
      val base = Array.fill(w * h)(rnd.nextInt(180)) // headroom for +delta
      val delta = 1 + rnd.nextInt(70)
      (2L * i, png(w, h, (x, y) => base(y * w + x)),
       2L * i + 1, png(w, h, (x, y) => base(y * w + x) + delta))
    }
    val df = cases.flatMap { case (ia, pa, ib, pb) =>
      Seq((ia, pa), (ib, pb))
    }.toDF("media_id", "payload")
    val hs = Multimodal.imagePHash(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    cases.foreach { case (ia, _, ib, _) =>
      assert(hs(ia) == hs(ib),
        s"brightness shift changed the hash for pair ($ia, $ib)")
    }
  }

  test("textured pack: id-seeded (shifted clone hashes equal), bump plants a small Hamming offset") {
    val docs = (0 until 12).map(i => (i.toLong, "doc " + ("x" * (20 + 7 * i))))
      .toDF("doc_id", "text")
    def hashes(df: org.apache.spark.sql.DataFrame, bump: Int) =
      Multimodal.imagePHash(
        Multimodal.packAsPngTextured(df, "doc_id", "text", bumpDelta = bump))
        .collect().map(r => (r.getLong(0) % 1000000L, (r.getLong(1), r.getLong(2))))
        .toMap
    val orig = hashes(docs, 0)
    val shifted = docs.withColumn("doc_id", col("doc_id") + 1000000L)
    // same texture seed: an UN-bumped shifted-id clone hashes identical
    assert(hashes(shifted, 0) == orig, "clone seed drifted from original")
    // bumped clone: within the banded radius of its original, and the
    // fixture genuinely flips bits for at least some docs
    val bumped = hashes(shifted, 60)
    val dists = orig.keys.toSeq.sorted.map { id =>
      val (h1, l1) = orig(id); val (h2, l2) = bumped(id)
      java.lang.Long.bitCount(h1 ^ h2) + java.lang.Long.bitCount(l1 ^ l2)
    }
    assert(dists.forall(_ <= 8), s"planted distance escaped the radius: $dists")
    assert(dists.max >= 1, "bump never flipped a bit on this fixture")
    // and distinct textures sit far apart (the diversity the banded
    // buckets rely on): median cross-distance well above the radius
    val cross = for (Seq(a, b) <- orig.keys.toSeq.sorted.combinations(2).toSeq)
      yield {
        val (h1, l1) = orig(a); val (h2, l2) = orig(b)
        java.lang.Long.bitCount(h1 ^ h2) + java.lang.Long.bitCount(l1 ^ l2)
      }
    assert(cross.sorted.apply(cross.size / 2) > 8,
      s"textures not diverse enough: ${cross.sorted}")
  }

  test("phashNearDupPairs: planted pairs found by a banded equi-join; hot-bucket cap bounds candidates") {
    val docs = (0 until 20).map(i => (i.toLong, "t " + ("y" * (15 + 11 * i))))
      .toDF("doc_id", "text")
    val orig = Multimodal.packAsPngTextured(docs, "doc_id", "text")
    val clones = Multimodal.packAsPngTextured(
      docs.filter(col("doc_id") % 4 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L),
      "doc_id", "text", bumpDelta = 60)
    graft.operators.CacheScope.withScope { implicit scope =>
      val hashes = Multimodal.imagePHash(orig.unionByName(clones))
      val pairs = Multimodal.phashNearDupPairs(hashes, maxHamming = 8,
        maxBucket = 64)
      // every planted (orig, clone) pair surfaces within the radius
      val planted = pairs.filter(col("idb") === col("ida") + 1000000L)
        .collect()
      assert(planted.length == 5,
        s"expected all 5 planted pairs, got ${planted.toSeq}")
      assert(planted.forall(_.getAs[Int]("hamming") <= 8))
      // the candidate stage is a (band, bkey) equi-join, never a
      // cartesian sweep
      val plan = pairs.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
             !plan.contains("BroadcastNestedLoopJoin"),
        s"banded join degenerated:\n$plan")
      // the hot-bucket cap is load-bearing: cap 0 drops every bucket
      val capped = Multimodal.phashNearDupPairs(hashes, maxHamming = 8,
        maxBucket = 0)
      assert(capped.count() == 0)
      pairs
    }
  }

  test("audio fingerprint: gain-invariant, structure-sensitive, real WAV roundtrip") {
    def wav(samples: Array[Short]): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val bytes = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (s, i) =>
        bytes(2 * i) = (s & 0xff).toByte
        bytes(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, samples.length)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    // EVEN samples: halving is an exact positive gain, so every window
    // energy halves exactly and all strict comparisons are preserved
    val base = Array.tabulate[Short](400)(i => ((((i * 37) % 10000) - 5000) * 2).toShort)
    val half = base.map(s => (s / 2).toShort)
    val reversed = base.reverse
    val df = Seq((1L, wav(base)), (2L, wav(half)), (3L, wav(reversed)))
      .toDF("media_id", "payload")
    val fp = Multimodal.audioFingerprint(df).orderBy("media_id").collect()
    assert(fp(0).getLong(1) == fp(1).getLong(1) &&
           fp(0).getLong(2) == fp(1).getLong(2),
      "a re-mastered (gain-scaled) copy must fingerprint identically")
    assert(fp(0).getLong(1) != fp(2).getLong(1) ||
           fp(0).getLong(2) != fp(2).getLong(2),
      "a time-reversed signal should not collide on this fixture")
  }

  test("audio near-dup: a window-perturbed re-encode pairs with its original, banded not cartesian") {
    val docs = Seq(
      (1L, "alpha " * 30), (2L, "bravo! " * 25), (3L, "charlie " * 21),
      (4L, "delta-four " * 16)).toDF("doc_id", "text")
    val orig = Multimodal.packAsWav(docs, "doc_id", "text")
    val clones = Multimodal.packAsWav(
      docs.withColumn("doc_id", col("doc_id") + 100L),
      "doc_id", "text", perturbWindows = Seq(2, 9, 33), perturbDelta = 17000L)
    val fps = Multimodal.audioFingerprint(orig.unionByName(clones))
    graft.operators.CacheScope.withScope { implicit scope =>
      val pairs = Multimodal.audioNearDupPairs(fps, maxHamming = 8)
      val planted = pairs.filter(col("idb") - col("ida") === 100L).collect()
      assert(planted.length == 4,
        s"expected all 4 planted near-copies to pair, got ${planted.toSeq}")
      assert(planted.forall(_.getAs[Int]("hamming") <= 8))
      assert(planted.exists(_.getAs[Int]("hamming") > 0),
        "perturbation did not move any fingerprint — the NEAR in near-dup is untested")
      val plan = pairs.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
             !plan.contains("BroadcastNestedLoopJoin"),
        s"banded join degenerated:\n$plan")
      pairs
    }
  }

  test("video fingerprint: brightness-lift-invariant, structure-sensitive, real Y4M demux") {
    val doc = Seq((1L, "x" * 57)).toDF("doc_id", "text")
    val other = Seq((3L, "y" * 140)).toDF("doc_id", "text")
    val fpBase = Multimodal.videoFingerprint(
      Multimodal.packAsY4m(doc, "doc_id", "text")).head()
    val fpLift = Multimodal.videoFingerprint(
      Multimodal.packAsY4m(doc.withColumn("doc_id", lit(2L)),
        "doc_id", "text", brightnessShift = 40)).head()
    val fpOther = Multimodal.videoFingerprint(
      Multimodal.packAsY4m(other, "doc_id", "text")).head()
    assert(fpBase.getLong(1) == fpLift.getLong(1) &&
           fpBase.getLong(2) == fpLift.getLong(2),
      "a brightness-lifted (re-levelled) copy must fingerprint identically " +
        "— the cross-multiplied mean compare is the invariance carrier")
    assert(fpBase.getLong(1) != fpOther.getLong(1) ||
           fpBase.getLong(2) != fpOther.getLong(2),
      "distinct content should not collide on this fixture")
    // the temporal sweep is live: a clip differing only in its LAST
    // frame's luma ramp still separates (windows cover all frames)
    assert(fpBase.getLong(1) != 0L || fpBase.getLong(2) != 0L,
      "degenerate all-zero fingerprint")
    // a clone that is BOTH re-levelled and locally distorted (the m12
    // plant) lands a small nonzero Hamming away: the global shift
    // cancels, the window perturbation flips only adjacent delta bits
    val fpPert = Multimodal.videoFingerprint(
      Multimodal.packAsY4m(doc.withColumn("doc_id", lit(4L)),
        "doc_id", "text", brightnessShift = 20,
        perturbWindows = Seq(3, 17, 44), perturbDelta = 25)).head()
    val ham = java.lang.Long.bitCount(fpBase.getLong(1) ^ fpPert.getLong(1)) +
      java.lang.Long.bitCount(fpBase.getLong(2) ^ fpPert.getLong(2))
    assert(ham > 0 && ham <= 8,
      s"perturbed clone landed at Hamming $ham — expected a small nonzero " +
        "offset (3 windows touch at most 6 delta bits)")
  }

  test("a corrupt payload fails loudly, not with silent zeros") {
    val d = new ImageIoDecoder
    val e = intercept[IllegalArgumentException](
      d.decode("not a png".getBytes("UTF-8")))
    assert(e.getMessage.contains("undecodable"))
  }

  test("imagePHash and resizePng fail a non-image payload as undecodable") {
    val junk = Seq((1L, "not a png".getBytes("UTF-8"))).toDF("media_id", "payload")
    def cause(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    for ((name, run) <- Seq[(String, () => Unit)](
        "imagePHash" -> (() => Multimodal.imagePHash(junk).collect()),
        "resizePng" -> (() => Multimodal.resizePng(junk, 2).collect()))) {
      val e = intercept[Exception](run())
      assert(cause(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
          c.getMessage.contains("undecodable image payload (9 bytes)")),
        s"$name: expected the undecodable-image failure, got $e")
    }
  }

  test("resizePng samples the raster at stride f; factor 1 is identity") {
    val text = "abcdefghij" * 5 // len 50 -> w=3, h=3, a=50
    val docs = Seq((7L, text)).toDF("doc_id", "text")
    val packed = Multimodal.packAsPng(docs, "doc_id", "text")
    val half = Multimodal.extractImageFeatures(Multimodal.resizePng(packed, 2))
      .select("features.*").head()
    // w2=h2=2, out(x,y)=50+2x+2y -> 50,52,52,54
    assert(half.getInt(0) == 2 && half.getInt(1) == 2)
    assert(half.getLong(3) == 50L + 52 + 52 + 54)
    val same = Multimodal.extractImageFeatures(Multimodal.resizePng(packed, 1))
      .select("features.*").head()
    val orig = Multimodal.extractImageFeatures(packed)
      .select("features.*").head()
    assert(same == orig)
  }

  test("packAsWav writes a genuine RIFF/WAVE container AudioSystem can parse") {
    val docs = Seq((1L, "hello world"), (2L, "y" * 300)).toDF("doc_id", "text")
    val rows = Multimodal.packAsWav(docs, "doc_id", "text").collect()
    rows.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("payload")
      assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
      assert(new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      assert(fmt.getChannels == 1 && fmt.getSampleSizeInBits == 16)
      ais.close()
    }
  }

  test("decoded audio stats equal the synthesis arithmetic") {
    val text = "abcdefghij" * 5 // len 50 -> n=51, rate=16000, a=6550
    val docs = Seq((7L, text)).toDF("doc_id", "text")
    val out = Multimodal.extractAudioFeatures(
        Multimodal.packAsWav(docs, "doc_id", "text"))
      .select("media_id", "features.*").collect().head
    val (n, rate, a) = (1 + 50 % 240, 8000 + (50 % 4) * 4000, (50L * 131L) % 65521L)
    val samples = (0 until n).map(i => ((a + i.toLong * 7919L) % 65521L - 32760L).toInt)
    assert(out.getInt(1) === rate)
    assert(out.getLong(2) === n.toLong)
    assert(out.getLong(3) === n.toLong * 1000L / rate)
    assert(out.getInt(4) === samples.map(math.abs).max)
    assert(out.getLong(5) === samples.map(_.toLong).sum)
    assert(out.getDouble(6) ===
      math.sqrt(samples.map(s => s.toLong * s).sum.toDouble / n))
  }

  test("a truncated wav payload fails loudly") {
    val d = new graft.multimodal.WavDecoder
    intercept[Exception](d.decode("RIFFgarbage".getBytes("US-ASCII")))
  }

  test("quarantined decode: structural verdicts, healthy rows match the loud decoder") {
    val docs = Seq((1L, "hello world"), (2L, "y" * 300), (3L, "abc"))
      .toDF("doc_id", "text")
    val packed = Multimodal.packAsWav(docs, "doc_id", "text")
    // corrupt 1 by cutting the data section (header intact, declared
    // length now a lie) and 2 by mangling the container magic; 3 stays
    val corrupted = packed.withColumn("payload",
      when(col("media_id") === 1L,
        expr("substring(payload, 1, 44 + cast(floor((length(payload) - 44) / 2) as int))"))
        .when(col("media_id") === 2L,
          concat(lit("X".getBytes("US-ASCII")),
            expr("substring(payload, 2, length(payload) - 1)")))
        .otherwise(col("payload")))
    val out = Multimodal.extractAudioFeaturesQuarantined(corrupted)
      .orderBy("media_id").collect()
    assert(!out(0).getBoolean(1) && out(0).getString(2) == "truncated_payload")
    assert(out(0).isNullAt(3) && out(0).isNullAt(6))
    assert(!out(1).getBoolean(1) && out(1).getString(2) == "unreadable_container")
    // the healthy row's stats equal the loud decoder's, field for field
    val loud = Multimodal.extractAudioFeatures(
        packed.filter(col("media_id") === 3L))
      .select("media_id", "features.*").collect().head
    assert(out(2).getBoolean(1) && out(2).isNullAt(2))
    assert(out(2).getInt(3) == loud.getInt(1))    // sample_rate
    assert(out(2).getLong(4) == loud.getLong(2))  // n_samples
    assert(out(2).getInt(5) == loud.getInt(4))    // peak_abs
    assert(out(2).getLong(6) == loud.getLong(5))  // amp_sum
  }

  test("openAudio falls back to the full AudioSystem probe on ANY pinned-reader failure: an IOException keeps the m16 quarantine classification") {
    // a pinned provider that fails with an IOException instead of the
    // UnsupportedAudioFileException the JDK WAV reader throws — the
    // fallback must still reach AudioSystem, so the verdict stays the
    // structural one rather than "whichever provider threw first"
    val ioFailing = new javax.sound.sampled.spi.AudioFileReader {
      private def fail = throw new java.io.IOException("provider I/O failure")
      def getAudioFileFormat(s: java.io.InputStream) = fail
      def getAudioFileFormat(u: java.net.URL) = fail
      def getAudioFileFormat(f: java.io.File) = fail
      def getAudioInputStream(s: java.io.InputStream) = fail
      def getAudioInputStream(u: java.net.URL) = fail
      def getAudioInputStream(f: java.io.File) = fail
    }
    val docs = Seq((1L, "hello world"), (2L, "y" * 300), (3L, "abc"))
      .toDF("doc_id", "text")
    // 1 truncated (header intact), 2 with mangled magic, 3 healthy
    val corrupted = Multimodal.packAsWav(docs, "doc_id", "text")
      .withColumn("payload",
        when(col("media_id") === 1L,
          expr("substring(payload, 1, 44 + cast(floor((length(payload) - 44) / 2) as int))"))
          .when(col("media_id") === 2L,
            concat(lit("X".getBytes("US-ASCII")),
              expr("substring(payload, 2, length(payload) - 1)")))
          .otherwise(col("payload")))
    val expected = Multimodal.extractAudioFeaturesQuarantined(corrupted)
      .orderBy("media_id").collect().toSeq
    val viaFailing = corrupted.select("media_id", "payload").orderBy("media_id")
      .collect().toSeq.map(r => Multimodal.quarantinedAudioRow(r.getLong(0),
        r.getAs[Array[Byte]](1), Multimodal.openAudioVia(Some(ioFailing), _)))
    assert(viaFailing.map(_.getString(2)) ==
      Seq("truncated_payload", "unreadable_container", null))
    assert(viaFailing == expected,
      "a pinned-reader IOException must not change any verdict or stat")
  }

  test("packAsY4m writes a genuine YUV4MPEG2 stream (header + FRAME sections)") {
    val docs = Seq((1L, "hello world"), (2L, "z" * 300)).toDF("doc_id", "text")
    val rows = Multimodal.packAsY4m(docs, "doc_id", "text").collect()
    rows.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("payload")
      val header = new String(bytes.takeWhile(_ != '\n'), "US-ASCII")
      assert(header.startsWith("YUV4MPEG2 W"))
      assert(header.contains(" C420jpeg"))
      assert(new String(bytes, "ISO-8859-1").contains("FRAME\n"))
    }
  }

  test("demuxed video stats equal the synthesis arithmetic") {
    val text = "abcdefghij" * 5 // len 50 -> w=6, h=6, nf=1, fps=24, a=50
    val docs = Seq((7L, text), (8L, "q" * 13)).toDF("doc_id", "text")
    val out = Multimodal.extractVideoFeatures(
        Multimodal.packAsY4m(docs, "doc_id", "text"), sampleStride = 2)
      .select("media_id", "features.*").orderBy("media_id").collect()
    for ((r, len) <- out.zip(Seq(50, 13))) {
      val (w, h, nf, fps, a) =
        (2 * (1 + len % 6), 2 * (1 + len % 4), 1 + len % 5, 24 + len % 2, len % 180)
      val base = w * h * a + h * (w * (w - 1) / 2) + w * (h * (h - 1) / 2)
      val ySum = nf.toLong * base + 3L * w * h * (nf * (nf - 1) / 2)
      val ns = (nf + 1) / 2
      assert(r.getInt(1) === w); assert(r.getInt(2) === h)
      assert(r.getInt(3) === nf); assert(r.getInt(4) === fps)
      assert(r.getLong(5) === nf.toLong * 1000L / fps)
      assert(r.getLong(6) === ySum)
      assert(r.getDouble(7) === ySum.toDouble / (w.toLong * h * nf))
      assert(r.getInt(8) === ns)
      assert(r.getLong(9) === ns.toLong * base + 3L * w * h * ns * (ns - 1))
    }
  }

  test("the Y4M demuxer parses mono streams and rejects malformed ones") {
    val d = new graft.multimodal.Y4mDecoder
    // hand-built 2x2 mono stream, 2 frames, luma 1,2,3,4 then 5,6,7,8
    val header = "YUV4MPEG2 W2 H2 F30:1 Cmono\n".getBytes("US-ASCII")
    val fm = "FRAME\n".getBytes("US-ASCII")
    val bytes = header ++ fm ++ Array[Byte](1, 2, 3, 4) ++
      fm ++ Array[Byte](5, 6, 7, 8)
    val r = d.decode(bytes, sampleStride = 1)
    assert(r.getInt(0) == 2 && r.getInt(1) == 2 && r.getInt(2) == 2)
    assert(r.getLong(5) == 36L) // 1+..+8
    assert(r.getInt(7) == 2 && r.getLong(8) == 36L)
    intercept[IllegalArgumentException](
      d.decode("MPEG garbage\n".getBytes("US-ASCII")))
    // a cut data section throws the TYPED truncation signal the
    // quarantine seam classifies as truncated_payload
    intercept[graft.multimodal.TruncatedMediaException](
      d.decode(header ++ fm ++ Array[Byte](1, 2)))
  }

  test("quarantined image/video decoders classify the two corruption shapes like m16's audio") {
    val docs = Seq((7L, "a" * 70), (11L, "b" * 110), (5L, "c" * 50))
      .toDF("doc_id", "text")
    def corrupt(df: org.apache.spark.sql.DataFrame,
                cut: String): org.apache.spark.sql.DataFrame =
      df.withColumn("payload",
        when(col("media_id") % 7 === 0, expr(cut))
          .when(col("media_id") % 11 === 0,
            concat(lit("X".getBytes("US-ASCII")),
              expr("substring(payload, 2, length(payload) - 1)")))
          .otherwise(col("payload")))
    val img = Multimodal.extractImageFeaturesQuarantined(
      corrupt(Multimodal.packAsPng(docs, "doc_id", "text"),
        "substring(payload, 1, cast(ceil(length(payload) / 2.0) as int))"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!img(7L).getBoolean(1) && img(7L).getString(2) == "truncated_payload")
    assert(!img(11L).getBoolean(1) && img(11L).getString(2) == "unreadable_container")
    assert(img(5L).getBoolean(1) && img(5L).isNullAt(2))
    // healthy stats come from the real decode: w=3,h=3,a=50 for len 50
    assert(img(5L).getInt(3) == 3 && img(5L).getInt(4) == 3)
    val vid = Multimodal.extractVideoFeaturesQuarantined(
      corrupt(Multimodal.packAsY4m(docs, "doc_id", "text"),
        "substring(payload, 1, length(payload) - 1)"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!vid(7L).getBoolean(1) && vid(7L).getString(2) == "truncated_payload")
    assert(!vid(11L).getBoolean(1) && vid(11L).getString(2) == "unreadable_container")
    assert(vid(5L).getBoolean(1) && vid(5L).isNullAt(2))
    // a newline-free non-Y4M blob classifies UNREADABLE, never
    // truncated: the magic check runs before any truncation signal
    // (lineEnd) can fire
    val blob = Seq((1L, Array[Byte](71, 73, 70, 56, 57, 97, 1, 2)))
      .toDF("media_id", "payload")
    val vb = Multimodal.extractVideoFeaturesQuarantined(blob).collect().head
    assert(!vb.getBoolean(1) && vb.getString(2) == "unreadable_container",
      s"newline-free non-Y4M blob misclassified: ${vb.getString(2)}")
  }

  test("spliced composite demuxes into three shots with the donor's fingerprint equal to the source shot's") {
    // len 53 -> nf = 1 + 53 % 5 = 4 >= 3, so the original has shots
    // [0,1] and [2,3] and the composite exists (m = 2, 6 frames)
    val docs = Seq((23L, "z" * 53)).toDF("doc_id", "text")
    val orig = Multimodal.packAsY4m(docs, "doc_id", "text",
      cutAtFrame = 2, cutDelta = 40)
    val comp = Multimodal.packAsY4mSpliced(
      docs.withColumn("doc_id", col("doc_id") + 3000000L), "doc_id", "text")
    val shots = Multimodal.videoShotFingerprints(orig.unionByName(comp))
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getInt(2), r.getInt(3), r.getLong(4), r.getLong(5))).toMap
    assert(shots.keySet == Set((23L, 0), (23L, 1),
      (3000023L, 0), (3000023L, 1), (3000023L, 2)),
      s"unexpected shot set: ${shots.keySet}")
    assert(shots((23L, 1))._1 == 2 && shots((23L, 1))._2 == 3)
    assert(shots((3000023L, 1))._1 == 2 && shots((3000023L, 1))._2 == 3)
    // the donor third carries the SOURCE shot's exact code
    assert((shots((3000023L, 1))._3, shots((3000023L, 1))._4) ==
           (shots((23L, 1))._3, shots((23L, 1))._4),
      "the spliced donor shot's fingerprint drifted from its source")
    // a doc whose clip has no second shot yields NO composite
    val none = Multimodal.packAsY4mSpliced(
      Seq((1L, "y" * 51)).toDF("doc_id", "text"), // nf = 2
      "doc_id", "text")
    assert(none.count() == 0)
  }

  test("packAsWav idSeedMod: clone at id + k*mod reproduces its original; same-length different-id diverges; default 0 keeps the len-only algebra") {
    val docs = Seq((10L, "x" * 100), (11L, "y" * 100), (700010L, "z" * 100))
      .toDF("doc_id", "text")
    // assert at the WAVEFORM level (payload bytes): the id seed must
    // move the samples; whether a 64-bit fingerprint also separates two
    // specific waveforms is a collision question the oracle mirrors
    def wavs(mod: Long) = Multimodal.packAsWav(
        docs, "doc_id", "text", idSeedMod = mod)
      .select("media_id", "payload").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val seeded = wavs(700000L)
    assert(seeded(10L) == seeded(700010L),
      "a clone at id + mod must reproduce its original's waveform")
    assert(seeded(10L) != seeded(11L),
      "same-length different-id docs must not share a waveform under idSeedMod")
    val plain = wavs(0L)
    assert(plain(10L) == plain(11L) && plain(10L) == plain(700010L),
      "idSeedMod = 0 must keep the len-only algebra (all same-length equal)")
  }

  test("shot near-dup pairs handle clips with 16+ shots (struct key, no aliasing)") {
    // The retired media_id*16+shot_id encoding aliased shot 16 of clip m
    // into clip m+1's slot 0. Build a synthetic shot table where exactly
    // that collision is live: clip 1 has 24 shots (shot 20 shares clip
    // 2's shot-0 fingerprint), and clip 1's shot 16 carries a UNIQUE
    // code while clip 2's shot 0 region would have swallowed it under
    // the packed key. The struct key must surface only the true match.
    val mk = (m: Long, s: Int, hi: Long, lo: Long) => (m, s, 0, 0, hi, lo)
    val rows =
      (0 until 24).map(s => mk(1L, s, 0x1111L * (s + 2), 0x7777L * (s + 3))) ++
      Seq(mk(2L, 0, 0x1111L * 22, 0x7777L * 23), // == clip 1 shot 20
          mk(2L, 1, 0x0badL, 0x0badL))
    val shotFps = rows.toDF("media_id", "shot_id", "start_frame",
      "end_frame", "fp_hi", "fp_lo")
    graft.operators.CacheScope.withScope { implicit scope =>
      val pairs = Multimodal.videoShotNearDupPairs(shotFps, maxHamming = 0)
        .collect()
        .map(r => (r.getStruct(0).getLong(0), r.getStruct(0).getInt(1),
                   r.getStruct(1).getLong(0), r.getStruct(1).getInt(1)))
        .toSet
      assert(pairs == Set((1L, 20, 2L, 0)),
        s"expected exactly the planted (1,20)~(2,0) match, got $pairs")
    }
  }
}
