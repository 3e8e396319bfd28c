package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: media payloads as opaque `binary` columns,
  * decoded map-side to pixel/sample facts, frames and features.
  *
  * The pixel/sample decode boundary is REAL for PNG, JPEG, GIF,
  * WebP-lossless, WAV and FLAC: `decodeImages`/`gifFrames`/
  * `resizeImages` wire [[PngCodec]]/[[JpegCodec]]/[[GifCodec]]/
  * [[WebpCodec]] and `decodeAudio` wires [[WavCodec]]/[[FlacCodec]] —
  * pure-JVM spec codecs with oracle-checked output. Formats without a
  * codec yet (lossy WebP/VP8, lossy audio) null through or refuse by
  * name. Byte-exact media dedup is [[graft.dedup.Dedup.exactGroups]]
  * over the binary column.
  *
  * Scale notes: payloads never pass through a shuffle here (decode is
  * map-side); metadata-only queries prune the binary column at the parquet
  * scan, which is why metadata lives in a separate struct column rather
  * than inside the blob.
  */
object Multimodal {

  /** (id, text) → (id, content) synthetic container corpus: the shared
    * scaffold for planting decoder inputs over the documents table (the
    * oracle queries and the scale bench all ride it). Null text must not
    * kill the scan — the payload falls back to empty bytes before the
    * caller's fixture builder sees it.
    */
  def syntheticBlobs(df: DataFrame, idCol: String, textCol: String)(
      blob: (Long, Array[Byte]) => Array[Byte]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, text) =>
        (id, blob(id, Option(text).getOrElse("")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      }
      .toDF(idCol, "content")
  }

  // ---- pixel path ----------------------------------------------------------

  /** Decode an image binary column (PNG via [[PngCodec]], baseline JPEG
    * via [[JpegCodec]], GIF via [[GifCodec]], WebP-lossless via
    * [[WebpCodec]] — format sniffed per row, mixed corpora welcome) to
    * pixel-level facts: dims, channels, frame count (real for animated
    * GIF), per-channel byte sums over ALL frames (the oracle
    * substrate — rederivable from a generator's pixel formula), and the
    * three perceptual hashes of the FIRST frame. Undecodable payloads
    * yield a NULL-featured row (the caller's filter decides); decode
    * runs map-side in one batched `mapPartitions` pass. */
  def decodeImages(spark: SparkSession, df: DataFrame, idCol: String,
                   contentCol: String): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(contentCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        def sumsOf(pixels: Array[Byte], channels: Int,
                   acc: Array[Long]): Unit = {
          val n = pixels.length / channels
          var i = 0
          while (i < n) {
            var c = 0
            while (c < acc.length) {
              acc(c) += pixels(i * channels + c) & 0xff
              c += 1
            }
            i += 1
          }
        }
        if (bytes != null && (PngCodec.isPng(bytes) ||
          JpegCodec.isJpeg(bytes) || WebpCodec.isWebpLossless(bytes) ||
          BmpCodec.isBmp(bytes) || PnmCodec.isPnm(bytes) ||
          TiffCodec.isTiff(bytes))) {
          val img = if (PngCodec.isPng(bytes)) PngCodec.decode(bytes)
          else if (JpegCodec.isJpeg(bytes)) JpegCodec.decode(bytes)
          else if (BmpCodec.isBmp(bytes)) BmpCodec.decode(bytes)
          else if (PnmCodec.isPnm(bytes)) PnmCodec.decode(bytes)
          else if (TiffCodec.isTiff(bytes)) TiffCodec.decode(bytes)
          else WebpCodec.decode(bytes)
          val sums = new Array[Long](math.min(img.channels, 3))
          sumsOf(img.pixels, img.channels, sums)
          (id, img.width, img.height, img.channels, 1,
            sums.lift(0), sums.lift(1), sums.lift(2),
            Some(PngCodec.aHash(img)), Some(PngCodec.dHash(img)),
            Some(PngCodec.pHash(img)))
        } else if (bytes != null && GifCodec.isGif(bytes)) {
          val gif = GifCodec.decode(bytes)
          val sums = new Array[Long](3)
          gif.frames.foreach(f => sumsOf(f.rgb, 3, sums))
          val first = gif.frames.head
          val img = PngCodec.Image(first.width, first.height, 3, first.rgb)
          (id, gif.width, gif.height, 3, gif.frames.length,
            sums.lift(0), sums.lift(1), sums.lift(2),
            Some(PngCodec.aHash(img)), Some(PngCodec.dHash(img)),
            Some(PngCodec.pHash(img)))
        } else
          (id, 0, 0, 0, 0, None: Option[Long], None: Option[Long],
            None: Option[Long], None: Option[Long], None: Option[Long],
            None: Option[Long])
      })
      .toDF(idCol, "width", "height", "channels", "n_frames",
        "sum_c0", "sum_c1", "sum_c2", "ahash", "dhash", "phash")
  }

  /** REAL frame sampling for animated GIF: one row per decoded frame
    * with its logical-screen placement and exact per-channel sums plus
    * a position-weighted channel-0 sum (order-sensitive — catches a
    * mis-deinterlaced raster that plain sums cannot). Map-side explode;
    * frames inherit the parent's partitioning. */
  def gifFrames(spark: SparkSession, df: DataFrame, idCol: String,
                contentCol: String): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(contentCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        if (bytes == null || !GifCodec.isGif(bytes)) Iterator.empty
        else GifCodec.decode(bytes).frames.iterator.zipWithIndex.map {
          case (f, idx) =>
            val sums = new Array[Long](3)
            var wsum0 = 0L
            val n = f.width * f.height
            var i = 0
            while (i < n) {
              var c = 0
              while (c < 3) { sums(c) += f.rgb(i * 3 + c) & 0xff; c += 1 }
              wsum0 += i.toLong * (f.rgb(i * 3) & 0xff)
              i += 1
            }
            (id, idx, f.left, f.top, f.width, f.height,
              sums(0), sums(1), sums(2), wsum0)
        }
      }
      .toDF(idCol, "frame_idx", "left", "top", "width", "height",
        "sum_r", "sum_g", "sum_b", "wsum_r")
  }

  /** PNG resize as a REAL pixel transform: decode → nearest-neighbor →
    * re-encode, map-side. */
  def resizeImages(spark: SparkSession, df: DataFrame, idCol: String,
                   contentCol: String, targetWidth: Int,
                   targetHeight: Int): DataFrame = {
    import spark.implicits._
    require(targetWidth > 0 && targetHeight > 0)
    df.select(col(idCol).cast("long"), col(contentCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        (id, PngCodec.encode(PngCodec.resizeNearest(
          PngCodec.decode(bytes), targetWidth, targetHeight)))
      })
      .toDF(idCol, contentCol)
  }

  /** Decode an audio binary column (WAV PCM via [[WavCodec]], FLAC via
    * [[FlacCodec]], AIFF via [[AiffCodec]] — format sniffed per row,
    * mixed corpora welcome) to
    * sample-level facts: stream shape, exact integer features (total
    * energy, zero crossings, peak), and the energy-delta fingerprint —
    * map-side, same batched shape as [[decodeImages]]; undecodable
    * payloads yield a NULL-featured row. The three formats land on ONE
    * [[WavCodec.Pcm]] substrate, so every feature is bit-identical
    * across a WAV, FLAC or AIFF encoding of the same samples. */
  def decodeAudio(spark: SparkSession, df: DataFrame, idCol: String,
                  contentCol: String): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(contentCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val pcm: Option[WavCodec.Pcm] =
          if (bytes == null) None
          else if (WavCodec.isWav(bytes)) Some(WavCodec.decode(bytes))
          else if (FlacCodec.isFlac(bytes)) Some(FlacCodec.decode(bytes))
          else if (AiffCodec.isAiff(bytes)) Some(AiffCodec.decode(bytes))
          else if (AuCodec.isAu(bytes)) Some(AuCodec.decode(bytes))
          else None
        pcm match {
          case Some(p) =>
            val frames = p.samples.length / math.max(1, p.channels)
            (id, p.channels, p.sampleRate, p.bitsPerSample, frames.toLong,
              Some(WavCodec.windowEnergies(p, 1).head),
              Some(WavCodec.zeroCrossings(p)),
              Some(WavCodec.peak(p).toLong),
              Some(WavCodec.fingerprint(p)))
          case None =>
            (id, 0, 0, 0, 0L, None: Option[Long], None: Option[Long],
              None: Option[Long], None: Option[Long])
        }
      })
      .toDF(idCol, "channels", "sample_rate", "bits_per_sample", "n_frames",
        "energy", "zero_crossings", "peak", "afingerprint")
  }

  // ---- REAL video path (MJPEG-in-AVI — frames ride JpegCodec) ------------

  /** Decode a video binary column (MJPEG AVI via [[AviCodec]] — every
    * `00dc` chunk is a complete JPEG, decoded through [[JpegCodec]]) to
    * video-level facts: container dims, frame count, frame duration,
    * per-channel byte sums over ALL frames, and a 64-bit TEMPORAL
    * fingerprint (bit i = frame i's total channel mass > frame i+1's —
    * the audio energy-delta discipline on the time axis: order-sensitive,
    * so a frame-order bug breaks it while plain sums survive, and
    * brightness-scale-invariant by construction). The fingerprint rides
    * the same banded near-dup join as the image/audio hashes
    * ([[imageNearDups]] is hash-generic). Undecodable payloads yield a
    * NULL-featured row; decode is map-side in the batched
    * `mapPartitions` shape — payloads never shuffle. */
  def decodeVideos(spark: SparkSession, df: DataFrame, idCol: String,
                   contentCol: String): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(contentCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        def fingerprint(frameMass: Seq[Long]): Long = {
          var fp = 0L
          var i = 0
          while (i < frameMass.length - 1 && i < 64) {
            if (frameMass(i) > frameMass(i + 1)) fp |= (1L << i)
            i += 1
          }
          fp
        }
        if (bytes != null && AviCodec.isAvi(bytes)) {
          val avi = AviCodec.decode(bytes)
          val sums = new Array[Long](3)
          val frameMass = avi.frames.map { fj =>
            val img = JpegCodec.decode(fj)
            val ch = math.min(img.channels, 3)
            var mass = 0L
            val n = img.pixels.length / img.channels
            var i = 0
            while (i < n) {
              var c = 0
              while (c < ch) {
                val v = img.pixels(i * img.channels + c) & 0xff
                sums(c) += v; mass += v; c += 1
              }
              i += 1
            }
            mass
          }
          (id, avi.width, avi.height, avi.frames.length, avi.usPerFrame,
            Some(sums(0)), Some(sums(1)), Some(sums(2)),
            Some(fingerprint(frameMass)))
        } else if (bytes != null && Y4mCodec.isY4m(bytes)) {
          // raw planar YUV lands on the SAME features: per-plane byte
          // sums as the channel sums, total mass per frame feeding the
          // identical temporal fingerprint
          val v = Y4mCodec.decode(bytes)
          val sums = new Array[Long](3)
          val frameMass = v.frames.map { f =>
            var mass = 0L
            var i = 0
            while (i < f.length) {
              val px = f(i) & 0xff
              val c = if (i < v.ySize) 0
                      else if (i < v.ySize + v.cSize) 1 else 2
              sums(c) += px; mass += px; i += 1
            }
            mass
          }
          val usPerFrame = 1000000L * v.fpsDen / v.fpsNum
          (id, v.width, v.height, v.frames.length, usPerFrame,
            Some(sums(0)), Some(sums(1)), Some(sums(2)),
            Some(fingerprint(frameMass)))
        } else
          (id, 0, 0, 0, 0L, None: Option[Long], None: Option[Long],
            None: Option[Long], None: Option[Long])
      })
      .toDF(idCol, "width", "height", "n_frames", "us_per_frame",
        "sum_c0", "sum_c1", "sum_c2", "vfingerprint")
  }

  /** REAL frame sampling for MJPEG video: every `stride`-th frame
    * decodes to one row with exact per-channel sums and the frame's
    * perceptual hash (the [[gifFrames]] twin for video). Map-side
    * explode; only sampled frames pay JPEG decode. */
  def videoFrames(spark: SparkSession, df: DataFrame, idCol: String,
                  contentCol: String, stride: Int = 1): DataFrame = {
    require(stride > 0, "stride must be positive")
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(contentCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        if (bytes != null && AviCodec.isAvi(bytes)) {
          val avi = AviCodec.decode(bytes)
          (0 until avi.frames.length by stride).iterator.map { idx =>
            val img = JpegCodec.decode(avi.frames(idx))
            val ch = math.min(img.channels, 3)
            val sums = new Array[Long](3)
            val n = img.pixels.length / img.channels
            var i = 0
            while (i < n) {
              var c = 0
              while (c < ch) {
                sums(c) += img.pixels(i * img.channels + c) & 0xff; c += 1
              }
              i += 1
            }
            (id, idx, img.width, img.height,
              sums(0), sums(1), sums(2), PngCodec.pHash(img))
          }
        } else if (bytes != null && Y4mCodec.isY4m(bytes)) {
          val v = Y4mCodec.decode(bytes)
          (0 until v.frames.length by stride).iterator.map { idx =>
            val f = v.frames(idx)
            val sums = new Array[Long](3)
            var i = 0
            while (i < f.length) {
              val c = if (i < v.ySize) 0
                      else if (i < v.ySize + v.cSize) 1 else 2
              sums(c) += f(i) & 0xff; i += 1
            }
            // perceptual hash over the LUMA plane (the frame's
            // structure lives there; chroma is subsampled anyway)
            val y = PngCodec.Image(v.width, v.height, 1,
              java.util.Arrays.copyOfRange(f, 0, v.ySize))
            (id, idx, v.width, v.height,
              sums(0), sums(1), sums(2), PngCodec.pHash(y))
          }
        } else Iterator.empty
      }
      .toDF(idCol, "frame_idx", "width", "height",
        "sum_c0", "sum_c1", "sum_c2", "phash")
  }

  /** Image NEAR-dup candidates at scale: the 64-bit perceptual hash
    * splits into four 16-bit bands — by pigeonhole, any pair within
    * Hamming distance 3 shares at least one exact band, so candidacy
    * is a shuffle on (band_idx, band_value) keys (the minhash-LSH
    * discipline on pixels) and the verify is `bit_count(h1 ^ h2)`.
    * Never all-pairs. Returns (media_id_a, media_id_b, hamming) with
    * a < b, hamming ≤ `maxHamming` (≤ 3 guaranteed complete; larger
    * thresholds are best-effort candidates, documented). */
  def imageNearDups(decoded: DataFrame, idCol: String,
                    hashCol: String = "phash",
                    maxHamming: Int = 3): DataFrame = {
    val h = decoded.filter(col(hashCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"), col(hashCol).as("__h"))
    val banded = h.select(col("__id"), col("__h"),
        explode(sequence(lit(0), lit(3))).as("__band"))
      .withColumn("__bv",
        expr("(__h >> (__band * 16)) & 65535"))
    val a = banded
    val b = banded.select(col("__id").as("__id2"), col("__h").as("__h2"),
      col("__band"), col("__bv"))
    a.join(b, Seq("__band", "__bv"))
      .filter(col("__id") < col("__id2"))
      .select(col("__id"), col("__id2"), col("__h"), col("__h2"))
      .distinct()
      .withColumn("hamming", bit_count(col("__h").bitwiseXOR(col("__h2"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("__id").as("media_id_a"), col("__id2").as("media_id_b"),
        col("hamming"))
  }
}
