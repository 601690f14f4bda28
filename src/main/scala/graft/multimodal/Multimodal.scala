package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal column plumbing: image/audio/video payloads travel as
 * opaque `binary` columns plus a typed metadata struct; decode /
 * feature-extract runs batched per partition so a real decoder (JNI,
 * subprocess, native lib) amortizes setup per-partition, not per-row —
 * the Scala analog of a pandas-batch UDF.
 *
 * The IMAGE path is REAL: [[ImageIoDecoder]] decodes PNG payloads with
 * `javax.imageio` (pure-JVM, no native codecs needed) and emits true
 * width/height/pixel statistics; [[packAsPng]] synthesizes genuine PNG
 * bytes so the pipeline is exercised end-to-end in this container
 * (encode → binary column → partition-batched decode). PNG is lossless,
 * so the decoded pixel stats equal the synthesis parameters — which is
 * what lets the DuckDB oracle check the real decoder's output.
 *
 * Audio and video decode sit behind the same seam ([[WavDecoder]],
 * [[Y4mDecoder]]). Swap recipe for a native codec:
 *  1. Write a class holding the native handles (an ffmpeg JNI binding or
 *     a long-lived subprocess pipe), constructed once per partition
 *     inside `mapPartitions` — that placement IS the amortization; never
 *     construct per row. [[ImageIoDecoder]] is the worked example.
 *  2. Extend the feature schema with the real outputs (e.g. phash,
 *     embedding: array<float>); `decode` returns a matching Row. The
 *     surrounding plan (schema projection, partition batching, the
 *     downstream queries) is schema-driven and needs no edits.
 *  3. If the decoder is not thread-safe, guard with one instance per
 *     partition (already the case) — Spark runs one task per partition
 *     per thread, so no extra locking is needed.
 *  4. Failure policy: wrap `decode` and route undecodable payloads to a
 *     (doc_id, error) side output instead of throwing — at 100 TB some
 *     corrupt members are certain, and one bad byte stream must not
 *     kill a 256 MB task's work.
 */
object Multimodal {

  /** r19 (guide §1.2 per-task work): `AudioSystem.getAudioInputStream`
   * probes EVERY installed `AudioFileReader` per call — each non-WAV
   * provider rejects by THROWING (a filled-in stack trace per record)
   * and the soft-MIDI provider probes by GZIP-decompressing the
   * payload. jstack-sampled on the admission media legs at ~17%
   * (Throwable.fillInStackTrace) + ~14% (GZIPInputStream) of executor
   * task time — pure provider-probing waste on the per-record decode
   * hot path, which at scale IS the dominant compute. The WAV provider
   * resolves ONCE per JVM through the public ServiceLoader SPI surface
   * (probed with a known-good PCM16 header, never by class name) and
   * is tried first; anything it rejects falls back to the full
   * `AudioSystem` probe, so non-WAV and corrupted payloads keep
   * AudioSystem's exact behavior — the m16 quarantine classification
   * and every fingerprint are unchanged. */
  private lazy val wavReader
      : Option[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val probeAis = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(new Array[Byte](4)), fmt, 2)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(probeAis,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val probe = bos.toByteArray
    try java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .asScala.find { r =>
        try {
          r.getAudioInputStream(
            new java.io.ByteArrayInputStream(probe)).close()
          true
        } catch { case scala.util.control.NonFatal(_) => false }
      }
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The audio-decode front door every per-record decoder uses: the
   * pinned WAV reader first, the full AudioSystem probe for anything
   * it rejects (identical outcomes, no per-record provider sweep). */
  private[graft] def openAudio(bytes: Array[Byte])
      : javax.sound.sampled.AudioInputStream = openAudioVia(wavReader, bytes)

  /** [[openAudio]] through an explicit pinned reader. ANY non-fatal
   * failure of the pinned reader — not only its
   * UnsupportedAudioFileException — falls back to the full AudioSystem
   * probe, so a payload's classification never depends on which
   * provider happened to throw first. */
  private[graft] def openAudioVia(
      pinned: Option[javax.sound.sampled.spi.AudioFileReader],
      bytes: Array[Byte]): javax.sound.sampled.AudioInputStream =
    pinned.flatMap(r => scala.util.Try(
        r.getAudioInputStream(new java.io.ByteArrayInputStream(bytes)))
      .toOption)
      .getOrElse(javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes)))

  // ImageIO's disk cache is a temp file per stream: off for the whole
  // JVM, set here because this initializer runs before the first image
  // encode or decode in every driver and executor JVM
  javax.imageio.ImageIO.setUseCache(false)

  /** The image-decode front door every per-record decoder uses. A
   * payload no ImageIO reader accepts fails with the same
   * IllegalArgumentException at every call site, so the m16/m20
   * quarantine classification cannot depend on which one decoded it. */
  private[multimodal] def openImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, s"undecodable image payload (${bytes.length} bytes)")
    img
  }

  /** The image-encode counterpart of [[openImage]]: `img` as PNG bytes. */
  private def pngBytes(img: java.awt.image.RenderedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Metadata carried beside every media payload. */
  val MediaMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false)))

  /**
   * Pack a text table into the media shape: payload = utf-8 bytes,
   * metadata derived deterministically (synthetic stand-in for real
   * image dims — lets the pipeline run where no media files exist).
   */
  def packAsMedia(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("media_id"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(lit("fake/raw").as("format"),
        (lit(1) + pmod(length(col(textCol)), lit(640))).as("width"),
        (lit(1) + pmod(length(col(textCol)), lit(480))).as("height"),
        lit(1).as("n_frames")).as("meta"))

  /**
   * Frame sampling: treat the payload as fixed-size frames and keep
   * every `stride`-th one, starting at frame 0 (a video keyframe
   * sampler's Spark-side shape — pure column ops, `substring` on
   * binary; a real codec would replace the framing, not the plumbing).
   * Output adds `frames: array<binary>` and `n_frames_sampled`.
   */
  def sampleFrames(df: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    val nFrames = ceil(length(col("payload")) / lit(frameBytes.toDouble))
      .cast(IntegerType)
    df
      .withColumn("_n", nFrames)
      .withColumn("frames",
        // guard the empty payload: greatest(_n−1, 0) would turn ZERO
        // frames into sequence(0,0) = one phantom zero-length frame
        when(col("_n") > 0,
          transform(sequence(lit(0), col("_n") - 1, lit(stride)),
            i => substring(col("payload"), i * frameBytes + lit(1), lit(frameBytes))))
          .otherwise(array().cast(ArrayType(BinaryType))))
      .withColumn("n_frames_sampled", size(col("frames")))
      .drop("_n")
  }

  /** Resize stub: a real image op only touches pixels; the Spark-side
   * contract is metadata bookkeeping plus a payload transform seam.
   * Scales the metadata dims and (STUB) leaves bytes untouched. */
  def resizeStub(df: DataFrame, scalePercent: Int): DataFrame =
    df.withColumn("meta", col("meta")
      .withField("width", (col("meta.width") * scalePercent / 100).cast(IntegerType))
      .withField("height", (col("meta.height") * scalePercent / 100).cast(IntegerType)))

  /** Feature row emitted by the REAL image decoder. */
  val ImageFeatureSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_pixels", LongType, nullable = false),
    StructField("pixel_sum", LongType, nullable = false),
    StructField("mean_luma", DoubleType, nullable = false)))

  /**
   * Synthesize REAL PNG payloads from a text table: each row becomes a
   * W×H grayscale image (W = 1+len%16, H = 1+len%12) with pixel(x,y) =
   * len%200 + x + y — all values < 256 by construction, so the pixel
   * algebra needs no modular wrap and the oracle computes the decoded
   * stats in closed form from `length(text)` (ASCII corpus: char count
   * == UTF-8 byte count, which the existing m1 contract already relies
   * on). Encoding runs in the same partition-batched codec seam as
   * decoding.
   */
  def packAsPng(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false),
      StructField("meta", MediaMetaSchema, nullable = false)))
    val projected = df.select(col(idCol).cast(LongType),
      encode(col(textCol), "UTF-8"))
    val rdd = projected.rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val len = r.getAs[Array[Byte]](1).length
        val w = 1 + len % 16
        val h = 1 + len % 12
        val a = len % 200
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { raster.setSample(x, y, 0, a + x + y); x += 1 }
          y += 1
        }
        Row(id, pngBytes(img), Row("image/png", w, h, 1))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Batched REAL image decode: one [[ImageIoDecoder]] per partition,
   * PNG payloads in, true width/height/pixel stats out. */
  def extractImageFeatures(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("features", ImageFeatureSchema, nullable = false)))
    val projected = df.select(col("media_id").cast(LongType), col("payload"))
    val rdd = projected.rdd.mapPartitions { rows =>
      val decoder = new ImageIoDecoder // per-partition init (amortized)
      rows.map(r => Row(r.getLong(0), decoder.decode(r.getAs[Array[Byte]](1))))
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /**
   * REAL image resize: decode the PNG payload, nearest-neighbor
   * downsample by an integer `factor` (out(x,y) = in(x·f, y·f), out
   * dims = ceil(in/f)), re-encode as PNG. Runs in the partition-batched
   * codec seam like decode; nearest-neighbor (not bilinear) keeps the
   * pixel algebra closed-form so the ORACLE can check the resized
   * raster exactly — and it is the resize a dataset thumbnailer uses
   * when determinism across runs matters more than smoothness.
   */
  def resizePng(df: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false),
      StructField("meta", MediaMetaSchema, nullable = false)))
    val projected = df.select(col("media_id").cast(LongType), col("payload"))
    val rdd = projected.rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val in = openImage(r.getAs[Array[Byte]](1))
        val (w, h) = (in.getWidth, in.getHeight)
        val (w2, h2) = ((w + factor - 1) / factor, (h + factor - 1) / factor)
        val out = new java.awt.image.BufferedImage(
          w2, h2, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val (ri, ro) = (in.getRaster, out.getRaster)
        var y = 0
        while (y < h2) {
          var x = 0
          while (x < w2) {
            ro.setSample(x, y, 0, ri.getSample(x * factor, y * factor, 0))
            x += 1
          }
          y += 1
        }
        Row(id, pngBytes(out), Row("image/png", w2, h2, 1))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /**
   * Perceptual AVERAGE-HASH over decoded image payloads — the image
   * half of near-duplicate detection (aHash: Krawetz's classic): decode,
   * nearest-neighbor sample onto a `grid`×`grid` raster (src index =
   * (i·dim)/grid, up- and down-sampling alike), threshold each sampled
   * pixel against the sampled MEAN, pack the bits row-major. The
   * threshold subtracts the mean, so a global brightness shift cancels
   * — aHash groups exactly the re-brightened copies that byte-level
   * dedup (d1) can never see. A multi-band (RGB) raster folds to
   * unweighted band sums before thresholding — brightness-proportional
   * like the classic grayscale-first aHash, and exactly the single
   * band when the image is grayscale (the repo's fixtures). All
   * arithmetic is integer (`64·p >= Σsampled` avoids the division), so
   * the DuckDB oracle rebuilds the hash in closed form from the
   * synthesis algebra. The 64-bit hash ships as two 32-bit halves
   * (`hash_hi` bits 32..63, `hash_lo` bits 0..31) because a signed
   * BIGINT cannot carry bit 63 portably across engines. Runs in the
   * same per-partition decoder seam as [[extractImageFeatures]].
   */
  def imagePHash(df: DataFrame, grid: Int = 8): DataFrame = {
    require(grid >= 1 && grid * grid <= 64,
      s"grid^2 must fit the 64-bit hash, got $grid")
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("hash_hi", LongType, nullable = false),
      StructField("hash_lo", LongType, nullable = false)))
    val projected = df.select(col("media_id").cast(LongType), col("payload"))
    val rdd = projected.rdd.mapPartitions { rows =>
      rows.map { r =>
        val img = openImage(r.getAs[Array[Byte]](1))
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        val bands = raster.getNumBands
        val sampled = Array.ofDim[Int](grid * grid)
        var j = 0
        while (j < grid) {
          var i = 0
          while (i < grid) {
            val (sx, sy) = (i * w / grid, j * h / grid)
            var p = 0; var b = 0
            while (b < bands) { p += raster.getSample(sx, sy, b); b += 1 }
            sampled(j * grid + i) = p
            i += 1
          }
          j += 1
        }
        val total = sampled.foldLeft(0L)(_ + _)
        val n = grid.toLong * grid
        var hi = 0L; var lo = 0L
        var pos = 0
        while (pos < grid * grid) {
          if (n * sampled(pos) >= total) { // p >= mean, integer-exact
            if (pos < 32) lo |= 1L << pos
            else hi |= 1L << (pos - 32)
          }
          pos += 1
        }
        Row(r.getLong(0), hi, lo)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /**
   * Synthesize TEXTURED PNG payloads — the m7 fixture next to
   * [[packAsPng]]'s gradients: fixed 16×12 dims (every 8×8 aHash cell
   * samples a DISTINCT pixel) and pixel(x,y) = (a + x·p1 + y·p2) mod
   * 251 with per-image (a, p1, p2) derived from (len, media_id mod
   * 10⁶) — the multipliers exceed 251/15, so nearly every image wraps
   * and the thresholded bit patterns are DIVERSE (the plain gradients
   * all threshold to near-identical ramps, which would degenerate the
   * banded join's buckets). `media_id mod 10⁶` seeds the texture so a
   * shifted-id clone (+10⁶) renders the SAME image; `bumpDelta > 0`
   * then bumps three exactly-once-sampled pixels — (2,1), (6,4),
   * (10,10) — by `min(p+delta, 250)`: a planted near-copy whose aHash
   * sits a few bits from its original (≤ 3 direct flips plus whatever
   * borderline cells the shifted mean takes — all integer-exact, so
   * the oracle rebuilds the planted distance in closed form).
   */
  def packAsPngTextured(df: DataFrame, idCol: String, textCol: String,
                        bumpDelta: Int = 0): DataFrame = {
    require(bumpDelta >= 0 && bumpDelta <= 250, s"bad bumpDelta $bumpDelta")
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false),
      StructField("meta", MediaMetaSchema, nullable = false)))
    val projected = df.select(col(idCol).cast(LongType),
      encode(col(textCol), "UTF-8"))
    val bumped = Set((2, 1), (6, 4), (10, 10))
    val rdd = projected.rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val len = r.getAs[Array[Byte]](1).length.toLong
        val sid = id % 1000000L
        val (w, h) = (16, 12)
        val a = ((len + 31L * sid) % 200L).toInt
        val p1 = (3L + 2L * ((len + sid) % 13L)).toInt
        val p2 = (5L + 2L * ((len + 3L * sid) % 11L)).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val base = (a + x * p1 + y * p2) % 251
            val p = if (bumpDelta > 0 && bumped((x, y)))
              math.min(base + bumpDelta, 250) else base
            raster.setSample(x, y, 0, p)
            x += 1
          }
          y += 1
        }
        Row(id, pngBytes(img), Row("image/png", w, h, 1))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /**
   * BANDED-Hamming near-duplicate pairs over [[imagePHash]] hashes —
   * the image analog of the SimHash banded join (`Dedup.simhashPairs`):
   * real re-encodes, crops and noise flip a FEW aHash bits, so
   * production image dedup thresholds Hamming distance instead of
   * requiring hash equality (m6's d1-style verdict). The 64-bit hash
   * splits into 4 bands of 16 bits; a pair within radius 3 shares at
   * least one band by pigeonhole (the same ≤ 3-guaranteed /
   * larger-radii-best-effort recall contract as simhashPairs), and
   * candidates verify by exact `popcount(xor)` over both halves —
   * never an all-pairs scan. `maxBucket` drops hotter-than-`maxBucket`
   * bands from candidate generation (decontaminate's maxDf move):
   * near-flat images collapse to a handful of degenerate hashes at
   * corpus scale, and one hot bucket would otherwise quadratically
   * dominate the join — dropping it is both the skew mitigation and
   * standard practice (a band shared by thousands of images carries no
   * near-dup evidence). At 100 TB the join shuffles 16-byte hash rows
   * keyed by (band, bkey), never pixels.
   */
  def phashNearDupPairs(hashes: DataFrame, maxHamming: Int = 8,
                        maxBucket: Int = 64)(
      implicit scope: graft.operators.CacheScope): DataFrame =
    bandedHammingPairs(hashes, "media_id", "hash_hi", "hash_lo",
      maxHamming, maxBucket)

  /** Banded-Hamming near-duplicate pairs over [[audioFingerprint]]
   * codes — the audio leg of the same contract: a real re-encode or
   * light distortion perturbs a FEW window energies, flipping the two
   * delta bits adjacent to each touched window, so production audio
   * dedup thresholds Hamming distance over the fingerprint instead of
   * requiring equality (m9's d1-style verdict). Identical machinery to
   * the image path — the fingerprint is 64 bits like the aHash, so the
   * 4×16 pigeonhole bands, exact popcount verify and hot-bucket cap
   * (near-silent / ultra-short clips collapse to a handful of
   * degenerate fingerprints at corpus scale) apply verbatim. */
  def audioNearDupPairs(fps: DataFrame, maxHamming: Int = 8,
                        maxBucket: Int = 64)(
      implicit scope: graft.operators.CacheScope): DataFrame =
    bandedHammingPairs(fps, "media_id", "fp_hi", "fp_lo",
      maxHamming, maxBucket)

  /** Banded-Hamming near-duplicate pairs over [[videoFingerprint]]
   * codes — the video leg: a re-encode that locally distorts a few
   * spans of the luma stream (or a crop of the fade tail) flips the
   * delta bits adjacent to the touched windows, so thresholded
   * Hamming is the verdict here exactly as for images and audio.
   * Same 64-bit code shape → same machinery verbatim. */
  def videoNearDupPairs(fps: DataFrame, maxHamming: Int = 8,
                        maxBucket: Int = 64)(
      implicit scope: graft.operators.CacheScope): DataFrame =
    bandedHammingPairs(fps, "media_id", "fp_hi", "fp_lo",
      maxHamming, maxBucket)

  /** The shared banded-Hamming core: 64-bit codes split as (hi, lo)
   * 32-bit halves in `hiCol`/`loCol`, banded into 4×16-bit keys
   * (pigeonhole: radius ≤ 3 guaranteed, larger radii best-effort),
   * hot buckets dropped, candidates verified by exact popcount. At
   * 100 TB the join shuffles 16-byte code rows keyed by (band, bkey),
   * never payloads. */
  private def bandedHammingPairs(codes: DataFrame, idCol: String,
                                 hiCol: String, loCol: String,
                                 maxHamming: Int, maxBucket: Int)(
      implicit scope: graft.operators.CacheScope): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hs = scope.persist(codes
      .select(col(idCol).as("_id"), col(hiCol).as("_hi"), col(loCol).as("_lo")))
    val banded = hs.select(col("_id"), col("_hi"), col("_lo"),
      explode(array(
        struct(lit(0).as("band"),
          col("_lo").bitwiseAND(lit(65535L)).as("bkey")),
        struct(lit(1).as("band"),
          shiftright(col("_lo"), 16).bitwiseAND(lit(65535L)).as("bkey")),
        struct(lit(2).as("band"),
          col("_hi").bitwiseAND(lit(65535L)).as("bkey")),
        struct(lit(3).as("band"),
          shiftright(col("_hi"), 16).bitwiseAND(lit(65535L)).as("bkey"))))
        .as("_b"))
      .select(col("_id"), col("_hi"), col("_lo"),
        col("_b.band"), col("_b.bkey"))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy("band", "bkey")))
      .filter(col("_n") <= maxBucket)
    val a = banded.select(col("band"), col("bkey"), col("_id").as("ida"),
      col("_hi").as("hia"), col("_lo").as("loa"))
    val b = banded.select(col("band"), col("bkey"), col("_id").as("idb"),
      col("_hi").as("hib"), col("_lo").as("lob"))
    a.join(b, Seq("band", "bkey")).filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        (bit_count(col("hia").bitwiseXOR(col("hib"))) +
          bit_count(col("loa").bitwiseXOR(col("lob")))).as("hamming"))
      .groupBy("ida", "idb").agg(min("hamming").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Metadata carried beside an audio payload. */
  val AudioMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false)))

  /** Feature row emitted by the REAL wav decoder. */
  val AudioFeatureSchema: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("peak_abs", IntegerType, nullable = false),
    StructField("amp_sum", LongType, nullable = false),
    StructField("rms", DoubleType, nullable = false)))

  /**
   * Synthesize REAL RIFF/WAVE payloads (PCM16 mono little-endian) from a
   * text table — the audio analog of [[packAsPng]]: n = 1+len%240
   * samples at 8/12/16/20 kHz, sample(i) = ((a + i·7919) mod 65521) −
   * 32760 with a = (len·131) mod 65521 (all within int16 by
   * construction), so the DuckDB oracle rebuilds the waveform from
   * `length(text)` and checks the DECODER's output exactly. Encoding
   * runs in the partition-batched codec seam.
   *
   * `idSeedMod` > 0 additionally seeds the phase with the id:
   * a = (len·131 + 37·(id mod idSeedMod)) mod 65521 — the
   * [[packAsPngTextured]] move applied to audio, so same-length docs
   * stop colliding into one waveform while a clone at id + k·idSeedMod
   * reproduces its original exactly (m22's admission plants). Default
   * 0 keeps the original len-only algebra every earlier oracle pins.
   */
  def packAsWav(df: DataFrame, idCol: String, textCol: String,
                perturbWindows: Seq[Int] = Nil,
                perturbDelta: Long = 0L,
                idSeedMod: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false),
      StructField("meta", AudioMetaSchema, nullable = false)))
    val projected = df.select(col(idCol).cast(LongType),
      encode(col(textCol), "UTF-8"))
    val rdd = projected.rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val len = r.getAs[Array[Byte]](1).length
        val n = 1 + len % 240
        val rate = 8000 + (len % 4) * 4000
        val a = if (idSeedMod > 0L)
          (len.toLong * 131L + 37L * (id % idSeedMod)) % 65521L
        else (len.toLong * 131L) % 65521L
        // a "noisy re-encode" stand-in for near-dup planting: samples
        // inside the fingerprint windows listed in `perturbWindows`
        // (boundaries EXACTLY as audioFingerprint slices them, so the
        // closed-form oracle replays the same membership) synthesize
        // with an extra additive inside the mod — a localized
        // distortion that moves a few window energies and leaves the
        // rest of the waveform byte-identical
        val bump = new Array[Long](n)
        perturbWindows.foreach { w =>
          var j = w * n / 65
          val until = (w + 1) * n / 65
          while (j < until) { bump(j) = perturbDelta; j += 1 }
        }
        val dataSize = n * 2
        val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
          .put("WAVE".getBytes("US-ASCII"))
          .put("fmt ".getBytes("US-ASCII")).putInt(16)
          .putShort(1).putShort(1) // PCM, mono
          .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
          .put("data".getBytes("US-ASCII")).putInt(dataSize)
        var i = 0
        while (i < n) {
          buf.putShort((((a + i.toLong * 7919L + bump(i)) % 65521L) - 32760L).toShort)
          i += 1
        }
        Row(id, buf.array(), Row("audio/wav", rate, n))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** QUARANTINED audio decode (the m16 seam): decode failures become
   * ROWS, not job failures — the DLQ/corrupt-record pattern (s9's CSV
   * error channel, k11's routing) applied to the media decode seam,
   * because at 100 TB of scraped media a single truncated upload must
   * never kill a stage and a silent drop is unauditable. Per payload:
   *  - the container parse rejects it (bad magic, mangled header,
   *    non-PCM16-mono) → `err_kind = 'unreadable_container'`;
   *  - the container parses but the data section holds fewer samples
   *    than the header declares (interrupted write — the classic
   *    corruption a crawler produces), or zero samples →
   *    `err_kind = 'truncated_payload'`;
   *  - otherwise `ok = true` with the [[extractAudioFeatures]] stats.
   * Classification is STRUCTURAL (declared-vs-actual, parse outcome),
   * never message-text matching, so the verdict is deterministic and
   * the gate's closed-form oracle can replay it from the planted
   * corruption alone. */
  /** The SHARED quarantine classification seam (m16 audio, m20
   * image/video): run the modality's decode thunk and turn any
   * structural failure into the same two typed verdicts every modality
   * shares — `truncated_payload` when the container identified itself
   * but its data section ended early ([[TruncatedMediaException]],
   * thrown by each decoder's structural length checks), and
   * `unreadable_container` for anything that does not parse as the
   * container at all. Verdict rows carry only the id and the kind —
   * never exception message text, which can embed payload bytes (the
   * k11 DLQ discipline). `nStats` = the modality's stat column count,
   * nulled on quarantine. */
  private def classifyDecode(id: Long, nStats: Int)(decode: => Row): Row =
    try decode catch {
      case _: TruncatedMediaException =>
        Row.fromSeq(id +: false +: "truncated_payload" +:
          Seq.fill[Any](nStats)(null))
      case scala.util.control.NonFatal(_) =>
        Row.fromSeq(id +: false +: "unreadable_container" +:
          Seq.fill[Any](nStats)(null))
    }

  /** One record through the m16 quarantine contract: open the payload
   * with `open` ([[openAudio]] in production), decode PCM16 mono, and
   * classify any failure through [[classifyDecode]]. */
  private[graft] def quarantinedAudioRow(id: Long, bytes: Array[Byte],
      open: Array[Byte] => javax.sound.sampled.AudioInputStream = openAudio)
      : Row =
    classifyDecode(id, nStats = 4) {
      val ais = open(bytes)
      try {
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
          s"expected PCM16 mono, got $fmt")
        val declared = ais.getFrameLength
        val data = ais.readAllBytes()
        val n = data.length / 2
        if (n == 0 || (declared >= 0 && n < declared))
          throw new TruncatedMediaException(
            "PCM data ends before the declared frame count")
        val big = fmt.isBigEndian
        var i = 0
        var sum = 0L
        var peak = 0
        while (i < n) {
          val b0 = data(2 * i)
          val b1 = data(2 * i + 1)
          val s = if (big) (b0 << 8) | (b1 & 0xff)
                  else (b1 << 8) | (b0 & 0xff)
          sum += s
          val a = math.abs(s)
          if (a > peak) peak = a
          i += 1
        }
        Row(id, true, null, fmt.getSampleRate.toInt, n.toLong, peak, sum)
      } finally ais.close()
    }

  def extractAudioFeaturesQuarantined(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("ok", BooleanType, nullable = false),
      StructField("err_kind", StringType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("n_samples", LongType, nullable = true),
      StructField("peak_abs", IntegerType, nullable = true),
      StructField("amp_sum", LongType, nullable = true)))
    val projected = df.select(col("media_id").cast(LongType), col("payload"))
    val rdd = projected.rdd.mapPartitions { rows =>
      rows.map(r => quarantinedAudioRow(r.getLong(0), r.getAs[Array[Byte]](1)))
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** M20 (image leg): [[extractImageFeaturesQuarantined]] — the m16
   * quarantine contract at the PNG decode seam, classified through the
   * same [[classifyDecode]] seam. Truncation is detected STRUCTURALLY
   * (a complete PNG ends in its IEND chunk; a data-section cut keeps
   * the signature but loses the tail) rather than by relying on which
   * exception the ImageIO reader happens to throw on a truncated IDAT
   * — deterministic across JDKs. A payload without the 8-byte PNG
   * signature never identified itself as the container →
   * `unreadable_container`. */
  def extractImageFeaturesQuarantined(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("ok", BooleanType, nullable = false),
      StructField("err_kind", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("pixel_sum", LongType, nullable = true)))
    val projected = df.select(col("media_id").cast(LongType), col("payload"))
    val rdd = projected.rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        classifyDecode(id, nStats = 3) {
          val sig = bytes.length >= 8 && bytes(0) == 0x89.toByte &&
            bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G'
          require(sig, "no PNG signature")
          val n = bytes.length
          val tailOk = n >= 12 && bytes(n - 8) == 'I' &&
            bytes(n - 7) == 'E' && bytes(n - 6) == 'N' && bytes(n - 5) == 'D'
          if (!tailOk) throw new TruncatedMediaException(
            "PNG data section ends before IEND")
          val img = openImage(bytes)
          val raster = img.getRaster
          var sum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              sum += raster.getSample(x, y, 0); x += 1
            }
            y += 1
          }
          Row(id, true, null, img.getWidth, img.getHeight, sum)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** M20 (video leg): the quarantine contract at the Y4M demux seam.
   * [[Y4mDecoder]]'s structural length checks throw
   * [[TruncatedMediaException]] (a FRAME whose planes end early, a
   * marker line without its newline), so a cut data section classifies
   * as `truncated_payload`; a payload whose header is not `YUV4MPEG2`
   * never identified itself → `unreadable_container` — the same two
   * kinds, the same seam. */
  def extractVideoFeaturesQuarantined(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("ok", BooleanType, nullable = false),
      StructField("err_kind", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("n_frames", IntegerType, nullable = true),
      StructField("y_sum", LongType, nullable = true)))
    val projected = df.select(col("media_id").cast(LongType), col("payload"))
    val rdd = projected.rdd.mapPartitions { rows =>
      val decoder = new Y4mDecoder
      rows.map { r =>
        val id = r.getLong(0)
        classifyDecode(id, nStats = 4) {
          val (w, h, sums) = decoder.frameLumaSums(r.getAs[Array[Byte]](1))
          Row(id, true, null, w, h, sums.length, sums.sum)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Batched REAL wav decode: one [[WavDecoder]] per partition, RIFF
   * payloads in, true rate/duration/amplitude stats out. */
  def extractAudioFeatures(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("features", AudioFeatureSchema, nullable = false)))
    val projected = df.select(col("media_id").cast(LongType), col("payload"))
    val rdd = projected.rdd.mapPartitions { rows =>
      val decoder = new WavDecoder // per-partition init (amortized)
      rows.map(r => Row(r.getLong(0), decoder.decode(r.getAs[Array[Byte]](1))))
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /**
   * Audio FINGERPRINT over decoded PCM — the audio leg of the
   * perceptual-dedup trilogy (m6/m7 images, this for sound): the
   * sample stream splits into `windows` equal spans, each span folds
   * to its integer energy Σ|s| (exact — no float drift), and bit p of
   * the fingerprint is set iff energy(p+1) > energy(p). Comparing
   * ADJACENT window energies instead of hashing samples is the classic
   * robust-audio-hash move (Haitsma–Kalker shape, energy-delta
   * variant): a global GAIN change scales every window equally, so all
   * comparisons — and the fingerprint — are invariant, exactly the
   * re-mastered/re-encoded copies byte dedup can never see (the audio
   * analog of aHash's brightness cancel; spec-asserted). Runs in the
   * same per-partition `AudioSystem` seam as [[extractAudioFeatures]];
   * the verdict then shuffles 8-byte fingerprints, never samples.
   * Windows beyond the sample count have energy 0 (short clips
   * zero-pad the tail bits deterministically). Ships as two 32-bit
   * halves like [[imagePHash]].
   */
  def audioFingerprint(df: DataFrame, windows: Int = 65): DataFrame = {
    require(windows >= 2 && windows <= 65,
      s"windows-1 bits must fit 64, got $windows")
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("fp_hi", LongType, nullable = false),
      StructField("fp_lo", LongType, nullable = false)))
    val projected = df.select(col("media_id").cast(LongType), col("payload"))
    val rdd = projected.rdd.mapPartitions { rows =>
      rows.map { r =>
        val ais = openAudio(r.getAs[Array[Byte]](1))
        val e =
          try {
            val fmt = ais.getFormat
            require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
              s"expected PCM16 mono, got $fmt")
            val big = fmt.isBigEndian
            val data = ais.readAllBytes()
            val n = data.length / 2
            val energies = new Array[Long](windows)
            var w = 0
            while (w < windows) {
              val from = w * n / windows
              val until = (w + 1) * n / windows
              var acc = 0L
              var i = from
              while (i < until) {
                val b0 = data(2 * i)
                val b1 = data(2 * i + 1)
                val s = if (big) (b0 << 8) | (b1 & 0xff)
                        else (b1 << 8) | (b0 & 0xff)
                acc += math.abs(s)
                i += 1
              }
              energies(w) = acc
              w += 1
            }
            energies
          } finally ais.close()
        var hi = 0L; var lo = 0L
        var p = 0
        while (p < windows - 1) {
          if (e(p + 1) > e(p)) {
            if (p < 32) lo |= 1L << p else hi |= 1L << (p - 32)
          }
          p += 1
        }
        Row(r.getLong(0), hi, lo)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Metadata carried beside a video payload. */
  val VideoMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("fps_num", IntegerType, nullable = false)))

  /** Feature row emitted by the REAL Y4M demuxer/decoder. */
  val VideoFeatureSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("fps_num", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("y_sum", LongType, nullable = false),
    StructField("mean_luma", DoubleType, nullable = false),
    StructField("n_frames_sampled", IntegerType, nullable = false),
    StructField("sampled_y_sum", LongType, nullable = false)))

  /**
   * Synthesize REAL YUV4MPEG2 (Y4M) payloads from a text table — the
   * video analog of [[packAsPng]]/[[packAsWav]]. Y4M is the standard
   * uncompressed-video interchange container (mjpegtools/ffmpeg): an
   * ASCII `YUV4MPEG2 W.. H.. F..` stream header, then per frame a
   * `FRAME\n` marker followed by raw planar YUV. Planes are RAW (no
   * entropy coding), so like PNG/PCM the decode is lossless and the
   * oracle rebuilds the decoder's stats in closed form from
   * `length(text)`: W = 2(1+len%6), H = 2(1+len%4) (even dims for
   * 4:2:0), nf = 1+len%5 frames at (24+len%2) fps, luma Y(x,y,t) =
   * a+x+y+3t with a = len%180 (max 209 < 256 — no modular wrap),
   * chroma planes constant 128.
   */
  def packAsY4m(df: DataFrame, idCol: String, textCol: String,
                brightnessShift: Int = 0,
                perturbWindows: Seq[Int] = Nil,
                perturbDelta: Int = 0,
                cutAtFrame: Int = -1,
                cutDelta: Int = 0): DataFrame = {
    // near-dup planting, two distortion axes: `brightnessShift` lifts
    // EVERY luma sample by a constant (a global levels change — the
    // fingerprint is exactly invariant to it by design), and
    // `perturbWindows`/`perturbDelta` lift only the samples inside the
    // named fingerprint windows (boundaries exactly as
    // [[Y4mDecoder.fingerprint]] slices the concatenated stream) — a
    // LOCALIZED distortion that moves those windows' means and flips
    // the adjacent delta bits. 209 is the unshifted luma max, so
    // shift+delta ≤ 46 never clips and the closed-form oracle stays
    // exact.
    // `cutAtFrame`/`cutDelta` plant a SCENE CHANGE: every luma sample of
    // frames t >= cutAtFrame lifts by cutDelta — a sustained level jump
    // (the new scene persists), so the frame-to-frame mean delta spikes
    // once, exactly at the cut.
    require(brightnessShift >= 0 && perturbDelta >= 0 && cutDelta >= 0 &&
        brightnessShift + perturbDelta + cutDelta <= 46,
      s"brightnessShift + perturbDelta + cutDelta must be in [0, 46], got " +
        s"$brightnessShift + $perturbDelta + $cutDelta")
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false),
      StructField("meta", VideoMetaSchema, nullable = false)))
    val projected = df.select(col(idCol).cast(LongType),
      encode(col(textCol), "UTF-8"))
    val rdd = projected.rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val len = r.getAs[Array[Byte]](1).length
        val w = 2 * (1 + len % 6)
        val h = 2 * (1 + len % 4)
        val nf = 1 + len % 5
        val fps = 24 + len % 2
        val a = len % 180 + brightnessShift
        val header = s"YUV4MPEG2 W$w H$h F$fps:1 Ip A1:1 C420jpeg\n"
          .getBytes("US-ASCII")
        val frameMark = "FRAME\n".getBytes("US-ASCII")
        val cSize = (w / 2) * (h / 2)
        val n = w * h * nf
        val bump = new Array[Int](n)
        perturbWindows.foreach { pw =>
          var k = pw * n / 65
          val until = (pw + 1) * n / 65
          while (k < until) { bump(k) = perturbDelta; k += 1 }
        }
        val buf = java.nio.ByteBuffer.allocate(
          header.length + nf * (frameMark.length + w * h + 2 * cSize))
        buf.put(header)
        var t = 0
        while (t < nf) {
          buf.put(frameMark)
          val cut = if (cutAtFrame >= 0 && t >= cutAtFrame) cutDelta else 0
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              buf.put((a + x + y + 3 * t + cut +
                bump(t * w * h + y * w + x)).toByte)
              x += 1
            }
            y += 1
          }
          var c = 0
          while (c < 2 * cSize) { buf.put(128.toByte); c += 1 }
          t += 1
        }
        Row(id, buf.array(), Row("video/y4m", w, h, nf, fps))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /**
   * Synthesize COMPOSITE Y4M clips (the m21 fixture): for each input
   * doc whose original clip has a post-cut second shot (nf ≥ 3; docs
   * without one yield no composite), a clip whose MIDDLE THIRD is
   * byte-for-byte the original clip's second shot — m = nf−2 flat host
   * frames (Y = a+x+y, no ramp, so the segment is cut-free), then the
   * donor shot's frames exactly (Y = a+x+y+3t+40 for t = 2..nf−1, the
   * original's post-cut scene with its ramp and sustained lift), then
   * m more host frames. The host→donor and donor→host boundaries jump
   * the frame mean by ≥ 43 luma levels — always past the cut threshold
   * — so the composite demuxes into exactly three shots with the donor
   * isolated as shot 1: the re-edit/compilation shape whole-stream
   * fingerprints (m11/m12) structurally miss.
   */
  def packAsY4mSpliced(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false),
      StructField("meta", VideoMetaSchema, nullable = false)))
    val projected = df.select(col(idCol).cast(LongType),
      encode(col(textCol), "UTF-8"))
    val rdd = projected.rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        val len = r.getAs[Array[Byte]](1).length
        val w = 2 * (1 + len % 6)
        val h = 2 * (1 + len % 4)
        val nf = 1 + len % 5
        val fps = 24 + len % 2
        val a = len % 180
        if (nf < 3) None
        else {
          val m = nf - 2
          val nfc = 3 * m
          val header = s"YUV4MPEG2 W$w H$h F$fps:1 Ip A1:1 C420jpeg\n"
            .getBytes("US-ASCII")
          val frameMark = "FRAME\n".getBytes("US-ASCII")
          val cSize = (w / 2) * (h / 2)
          val buf = java.nio.ByteBuffer.allocate(
            header.length + nfc * (frameMark.length + w * h + 2 * cSize))
          buf.put(header)
          var f = 0
          while (f < nfc) {
            buf.put(frameMark)
            val donor = f >= m && f < 2 * m
            val t = if (donor) 2 + (f - m) else 0
            val lift = if (donor) 40 else 0
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                buf.put((a + x + y + 3 * t + lift).toByte)
                x += 1
              }
              y += 1
            }
            var c = 0
            while (c < 2 * cSize) { buf.put(128.toByte); c += 1 }
            f += 1
          }
          Some(Row(id, buf.array(), Row("video/y4m", w, h, nfc, fps)))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Per-SHOT video fingerprints in the codec seam —
   * [[Y4mDecoder.shotFingerprints]] per clip: one decode pass yields
   * the m17 cut scan, the m18 shot fold and one 64-bit fingerprint per
   * shot; downstream joins shuffle (media_id, shot_id, 8-byte code)
   * rows, never frames. */
  def videoShotFingerprints(df: DataFrame, windows: Int = 65,
                            cutThreshold: Int = 10): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("shot_id", IntegerType, nullable = false),
      StructField("start_frame", IntegerType, nullable = false),
      StructField("end_frame", IntegerType, nullable = false),
      StructField("fp_hi", LongType, nullable = false),
      StructField("fp_lo", LongType, nullable = false)))
    val projected = df.select(col("media_id").cast(LongType), col("payload"))
    val rdd = projected.rdd.mapPartitions { rows =>
      val decoder = new Y4mDecoder
      rows.flatMap { r =>
        val id = r.getLong(0)
        decoder.shotFingerprints(r.getAs[Array[Byte]](1), windows,
            cutThreshold)
          .map { case (sid, t0, t1, hi, lo) => Row(id, sid, t0, t1, hi, lo) }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Banded-Hamming near-duplicate pairs over PER-SHOT fingerprints —
   * the m21 candidate join: shots key as the STRUCT
   * `(media_id, shot_id)` (the banded core keys on an arbitrary
   * column; struct ordering is lexicographic, so the `ida < idb`
   * orientation matches the retired `media_id·16 + shot_id` integer
   * encoding wherever that encoding was valid — and a clip with any
   * number of shots is representable, where the packed key aliased at
   * 16). The clip-level shared-shot verdict reads the struct fields
   * downstream. */
  def videoShotNearDupPairs(shotFps: DataFrame, maxHamming: Int = 8,
                            maxBucket: Int = 256)(
      implicit scope: graft.operators.CacheScope): DataFrame =
    bandedHammingPairs(
      shotFps.select(
        struct(col("media_id"), col("shot_id")).as("skey"),
        col("fp_hi"), col("fp_lo")),
      "skey", "fp_hi", "fp_lo", maxHamming, maxBucket)

  /** Batched REAL video decode: one [[Y4mDecoder]] per partition, Y4M
   * payloads in, demuxed dimension/frame-count/luma stats out — every
   * number comes from the container parse and plane reads, not the
   * synthesis metadata. `sampleStride` additionally keeps every
   * stride-th frame (a keyframe sampler over the REAL demux, replacing
   * the fixed-size-framing stub). */
  def extractVideoFeatures(df: DataFrame, sampleStride: Int = 2): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("features", VideoFeatureSchema, nullable = false)))
    val projected = df.select(col("media_id").cast(LongType), col("payload"))
    val rdd = projected.rdd.mapPartitions { rows =>
      val decoder = new Y4mDecoder // per-partition init (amortized)
      rows.map(r =>
        Row(r.getLong(0), decoder.decode(r.getAs[Array[Byte]](1), sampleStride)))
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** SCENE-CUT detection over the real Y4M demux — the shot-boundary
   * pass a video training pipeline runs before picking representative
   * frames (one keyframe per SHOT beats every-Nth when content is
   * static for minutes then cuts): per-frame luma means from the real
   * plane reads, one row per adjacent frame pair, a cut where the mean
   * jumps by more than `threshold` luma levels. The comparison is
   * integer-exact (|Σy(t) − Σy(t−1)| > threshold · w·h — no float
   * threshold); the reported delta is one small-int division. Per-clip
   * work is one linear scan of the luma planes in the same
   * partition-batched codec seam as every m-gate; downstream shot
   * tables carry (media_id, frame_idx) — never pixels. */
  def videoSceneCuts(df: DataFrame, threshold: Int): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("delta_mean", DoubleType, nullable = false),
      StructField("is_cut", BooleanType, nullable = false)))
    val projected = df.select(col("media_id").cast(LongType), col("payload"))
    val rdd = projected.rdd.mapPartitions { rows =>
      val decoder = new Y4mDecoder // per-partition init (amortized)
      rows.flatMap { r =>
        val (w, h, sums) = decoder.frameLumaSums(r.getAs[Array[Byte]](1))
        val ySize = w.toLong * h
        (1 until sums.length).iterator.map { t =>
          val diff = sums(t) - sums(t - 1)
          Row(r.getLong(0), t, diff.toDouble / ySize,
            math.abs(diff) > threshold * ySize)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Video FINGERPRINT over the real Y4M demux — [[Y4mDecoder.fingerprint]]
   * in the per-partition codec seam, two 32-bit halves out like
   * [[imagePHash]]/[[audioFingerprint]]: the downstream verdict (m11)
   * and any banded near-dup join shuffle 8-byte fingerprints, never
   * frames. */
  def videoFingerprint(df: DataFrame, windows: Int = 65): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("fp_hi", LongType, nullable = false),
      StructField("fp_lo", LongType, nullable = false)))
    val projected = df.select(col("media_id").cast(LongType), col("payload"))
    val rdd = projected.rdd.mapPartitions { rows =>
      val decoder = new Y4mDecoder // per-partition init (amortized)
      rows.map { r =>
        val (hi, lo) = decoder.fingerprint(r.getAs[Array[Byte]](1), windows)
        Row(r.getLong(0), hi, lo)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }
}

/**
 * REAL image decoder over `javax.imageio` — pure JVM, present in every
 * Java runtime, no native codecs required. Decodes the payload to a
 * BufferedImage and reads true dimensions + per-pixel luma stats from
 * the raster. This is the production drop-in the multimodal seam was
 * designed for; a corrupt payload fails loudly (`decode` returns no
 * null image silently).
 */
final class ImageIoDecoder {
  def decode(bytes: Array[Byte]): Row = {
    val img = Multimodal.openImage(bytes)
    val w = img.getWidth
    val h = img.getHeight
    val raster = img.getRaster
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
      y += 1
    }
    val n = w.toLong * h
    Row(w, h, n, sum, sum.toDouble / n)
  }
}

/**
 * REAL wav decoder over `javax.sound.sampled` — pure JVM, in every Java
 * runtime, no native codecs. Parses the RIFF/WAVE container through
 * `AudioSystem` (format, rate, endianness all come from the DECODER, not
 * the synthesis metadata) and folds amplitude statistics over the PCM16
 * frames. The rms arithmetic is exact-integer sums → one double divide →
 * `sqrt` (both correctly rounded IEEE ops), so an oracle rebuilding the
 * waveform lands on identical bits.
 */
final class WavDecoder {
  def decode(bytes: Array[Byte]): Row = {
    val ais = Multimodal.openAudio(bytes)
    try {
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
        s"expected PCM16 mono, got $fmt")
      val rate = fmt.getSampleRate.toInt
      val data = ais.readAllBytes()
      val n = data.length / 2
      require(n > 0, "empty audio payload")
      val big = fmt.isBigEndian
      var i = 0
      var sum = 0L
      var sumSq = 0L
      var peak = 0
      while (i < n) {
        val b0 = data(2 * i)
        val b1 = data(2 * i + 1)
        val s = if (big) (b0 << 8) | (b1 & 0xff) else (b1 << 8) | (b0 & 0xff)
        sum += s
        sumSq += s.toLong * s
        val a = math.abs(s)
        if (a > peak) peak = a
        i += 1
      }
      Row(rate, n.toLong, n.toLong * 1000L / rate, peak, sum,
        math.sqrt(sumSq.toDouble / n))
    } finally ais.close()
  }
}

/** The TYPED truncation signal the quarantine seam classifies as
 * `truncated_payload`: a decoder throws it when the container
 * identified itself but its data section ended early — structural, so
 * classification never parses exception message text. */
final class TruncatedMediaException(msg: String) extends RuntimeException(msg)

/**
 * REAL video decoder for the YUV4MPEG2 container — pure JVM, no native
 * codecs (Y4M planes are raw, the demux is the whole decode). Parses
 * the ASCII stream header (`YUV4MPEG2 W<w> H<h> F<num>:<den> ... C<cs>`,
 * the mjpegtools wire format), walks the `FRAME` sections, and folds
 * luma statistics over the Y planes — dimensions, frame rate, frame
 * count and every pixel stat come from the CONTAINER, not caller
 * metadata. Supports 4:2:0 (half-res chroma planes) and mono
 * colorspaces; a malformed or truncated stream fails loudly.
 */
final class Y4mDecoder {
  import Y4mDecoder.StreamHeader

  private def lineEnd(bytes: Array[Byte], from: Int): Int = {
    var i = from
    while (i < bytes.length && bytes(i) != '\n') i += 1
    if (i >= bytes.length) throw new TruncatedMediaException(
      "truncated Y4M: stream ends inside a header/marker line")
    i
  }

  private def parseHeader(bytes: Array[Byte]): StreamHeader = {
    // the MAGIC check runs BEFORE any truncation signal can fire: a
    // payload that never identified itself as Y4M (e.g. a newline-free
    // binary blob, where lineEnd would otherwise throw the typed
    // truncation) must classify as unreadable, not truncated
    val magic = "YUV4MPEG2".getBytes("US-ASCII")
    require(bytes.length >= magic.length &&
        magic.indices.forall(i => bytes(i) == magic(i)),
      "not a Y4M stream: YUV4MPEG2 magic absent")
    val hEnd = lineEnd(bytes, 0)
    val header = new String(bytes, 0, hEnd, "US-ASCII")
    val tokens = header.split(' ')
    require(tokens.nonEmpty && tokens(0) == "YUV4MPEG2",
      s"not a Y4M stream: header starts '${header.take(16)}'")
    var w = -1; var h = -1; var fpsNum = -1; var fpsDen = 1
    var colorspace = "420jpeg" // the Y4M default when C is absent
    tokens.iterator.drop(1).foreach { t =>
      t.charAt(0) match {
        case 'W' => w = t.substring(1).toInt
        case 'H' => h = t.substring(1).toInt
        case 'F' =>
          val Array(n, d) = t.substring(1).split(':')
          fpsNum = n.toInt; fpsDen = d.toInt
        case 'C' => colorspace = t.substring(1)
        case _ => // I (interlacing), A (aspect), X (extensions) — ignored
      }
    }
    require(w > 0 && h > 0 && fpsNum > 0,
      s"Y4M header missing W/H/F: '$header'")
    val chromaSize = colorspace match {
      case cs if cs.startsWith("420") => (w / 2) * (h / 2) * 2
      case "mono" => 0
      case cs => throw new IllegalArgumentException(
        s"unsupported Y4M colorspace C$cs")
    }
    StreamHeader(w, h, fpsNum, fpsDen, chromaSize, hEnd)
  }

  /** Offsets of each frame's luma plane in the stream (demuxed by
   * walking the real FRAME markers, never trusted from metadata). */
  private def lumaOffsets(bytes: Array[Byte], sh: StreamHeader): Array[Int] = {
    val ySize = sh.w * sh.h
    val offs = scala.collection.mutable.ArrayBuffer.empty[Int]
    var pos = sh.headerEnd + 1
    while (pos < bytes.length) {
      val fEnd = lineEnd(bytes, pos)
      val mark = new String(bytes, pos, fEnd - pos, "US-ASCII")
      require(mark.startsWith("FRAME"), s"expected FRAME marker, got '$mark'")
      pos = fEnd + 1
      if (pos + ySize + sh.chromaSize > bytes.length)
        throw new TruncatedMediaException(
          s"truncated Y4M frame ${offs.size}: need ${ySize + sh.chromaSize} bytes")
      offs += pos
      pos += ySize + sh.chromaSize
    }
    require(offs.nonEmpty, "empty Y4M stream: no frames")
    offs.toArray
  }

  /** Per-frame luma sums from the demuxed planes — the scene-cut
   * detector's input: (width, height, one Σy per frame). */
  def frameLumaSums(bytes: Array[Byte]): (Int, Int, Array[Long]) = {
    val sh = parseHeader(bytes)
    val offs = lumaOffsets(bytes, sh)
    val ySize = sh.w * sh.h
    val sums = offs.map { o =>
      var s = 0L
      var i = 0
      while (i < ySize) { s += bytes(o + i) & 0xff; i += 1 }
      s
    }
    (sh.w, sh.h, sums)
  }

  /** `sampleStride` keeps every stride-th frame (from frame 0) in the
   * sampled stats — the keyframe-sampler contract over a real demux. */
  def decode(bytes: Array[Byte], sampleStride: Int = 2): Row = {
    require(sampleStride >= 1, s"stride must be >= 1, got $sampleStride")
    val sh = parseHeader(bytes)
    val w = sh.w; val h = sh.h
    val fpsNum = sh.fpsNum; val fpsDen = sh.fpsDen
    val chromaSize = sh.chromaSize
    val ySize = w * h
    var pos = sh.headerEnd + 1
    var nFrames = 0
    var ySum = 0L
    var sampledFrames = 0
    var sampledYSum = 0L
    while (pos < bytes.length) {
      val fEnd = lineEnd(bytes, pos)
      val mark = new String(bytes, pos, fEnd - pos, "US-ASCII")
      require(mark.startsWith("FRAME"), s"expected FRAME marker, got '$mark'")
      pos = fEnd + 1
      if (pos + ySize + chromaSize > bytes.length)
        throw new TruncatedMediaException(
          s"truncated Y4M frame $nFrames: need ${ySize + chromaSize} bytes")
      var frameSum = 0L
      var i = 0
      while (i < ySize) { frameSum += bytes(pos + i) & 0xff; i += 1 }
      ySum += frameSum
      if (nFrames % sampleStride == 0) {
        sampledFrames += 1
        sampledYSum += frameSum
      }
      nFrames += 1
      pos += ySize + chromaSize
    }
    require(nFrames > 0, "empty Y4M stream: no frames")
    Row(w, h, nFrames, fpsNum,
      nFrames.toLong * 1000L * fpsDen / fpsNum,
      ySum, ySum.toDouble / (ySize.toLong * nFrames),
      sampledFrames, sampledYSum)
  }

  /**
   * Brightness-shift-invariant perceptual FINGERPRINT over the demuxed
   * luma stream — the video leg of the m9 energy-delta move: the
   * concatenated luma samples of every frame (scan order, so the
   * windows sweep space AND time) split into `windows` spans, each
   * folds to its integer luma sum, and bit p compares adjacent window
   * MEANS by cross-multiplication: e(p+1)·s(p) > e(p)·s(p+1). The
   * cross-multiplied form (not the raw sums) is what makes a global
   * brightness shift cancel EXACTLY even when span sizes differ by
   * one: shifting every sample by c moves both sides by c·s(p)·s(p+1)
   * (audio's |s| gain-scaling cancels under plain sums because scaling
   * is multiplicative; a luma LIFT is additive, so means are the
   * invariant quantity). Spans beyond the sample count are empty and
   * compare false deterministically. Overflow headroom: the products
   * are ≤ 255·n·(n/windows), fine through multi-billion-sample clips.
   */
  def fingerprint(bytes: Array[Byte], windows: Int = 65): (Long, Long) = {
    require(windows >= 2 && windows <= 65,
      s"windows-1 bits must fit 64, got $windows")
    val sh = parseHeader(bytes)
    val offs = lumaOffsets(bytes, sh)
    val ySize = sh.w * sh.h
    val n = offs.length.toLong * ySize
    val e = new Array[Long](windows)
    val s = new Array[Long](windows)
    var w = 0
    while (w < windows) {
      val from = w * n / windows
      val until = (w + 1) * n / windows
      s(w) = until - from
      var acc = 0L
      var k = from
      while (k < until) {
        val frame = (k / ySize).toInt
        val off = (k % ySize).toInt
        acc += bytes(offs(frame) + off) & 0xff
        k += 1
      }
      e(w) = acc
      w += 1
    }
    var hi = 0L; var lo = 0L
    var p = 0
    while (p < windows - 1) {
      if (e(p + 1) * s(p) > e(p) * s(p + 1)) {
        if (p < 32) lo |= 1L << p else hi |= 1L << (p - 32)
      }
      p += 1
    }
    (hi, lo)
  }

  /** Per-SHOT fingerprints — the m18→m21 composition in one decode
   * pass: per-frame luma sums drive the m17 cut rule (|ΔΣy| >
   * threshold·w·h, integer-exact), cut-free frame runs fold to shots,
   * and each shot's concatenated luma stream fingerprints with the
   * SAME windowed cross-multiplied delta-bit algebra as
   * [[fingerprint]] — so a shot re-used inside another clip (a
   * re-edit, a compilation) carries the same code no matter where it
   * lands in the host stream: exactly the partial-overlap evidence a
   * whole-stream fingerprint structurally misses. Returns
   * (shotId, startFrame, endFrame, fpHi, fpLo) per shot. */
  def shotFingerprints(bytes: Array[Byte], windows: Int = 65,
                       cutThreshold: Int = 10): Seq[(Int, Int, Int, Long, Long)] = {
    require(windows >= 2 && windows <= 65,
      s"windows-1 bits must fit 64, got $windows")
    val sh = parseHeader(bytes)
    val offs = lumaOffsets(bytes, sh)
    val ySize = sh.w * sh.h
    val sums = offs.map { o =>
      var s = 0L
      var i = 0
      while (i < ySize) { s += bytes(o + i) & 0xff; i += 1 }
      s
    }
    val cuts = (1 until offs.length)
      .filter(t => math.abs(sums(t) - sums(t - 1)) > cutThreshold.toLong * ySize)
    val starts = 0 +: cuts
    val ends = cuts.map(_ - 1) :+ (offs.length - 1)
    starts.zip(ends).zipWithIndex.map { case ((t0, t1), sid) =>
      val n = (t1 - t0 + 1).toLong * ySize
      val e = new Array[Long](windows)
      val sw = new Array[Long](windows)
      var w = 0
      while (w < windows) {
        val from = w * n / windows
        val until = (w + 1) * n / windows
        sw(w) = until - from
        var acc = 0L
        var k = from
        while (k < until) {
          val frame = t0 + (k / ySize).toInt
          val off = (k % ySize).toInt
          acc += bytes(offs(frame) + off) & 0xff
          k += 1
        }
        e(w) = acc
        w += 1
      }
      var hi = 0L; var lo = 0L
      var p = 0
      while (p < windows - 1) {
        if (e(p + 1) * sw(p) > e(p) * sw(p + 1)) {
          if (p < 32) lo |= 1L << p else hi |= 1L << (p - 32)
        }
        p += 1
      }
      (sid, t0, t1, hi, lo)
    }
  }
}

object Y4mDecoder {
  private final case class StreamHeader(w: Int, h: Int, fpsNum: Int,
                                        fpsDen: Int, chromaSize: Int,
                                        headerEnd: Int)
}
