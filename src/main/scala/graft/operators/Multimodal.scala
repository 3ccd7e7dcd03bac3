package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media (image/audio) travels as an opaque
  * `binary` payload column plus typed metadata; decode / feature
  * extraction runs batched per partition (the Scala analog of
  * `mapInPandas` — one iterator per partition, no per-row UDF dispatch).
  *
  * The DECODE IS REAL: BMP via `javax.imageio` and WAV (PCM16) via
  * `javax.sound.sampled` — both pure-JDK codecs available offline. Only
  * the media SYNTHESIS is a fixture (this container has no camera/crawl
  * data): [[attachBinary]] renders each document into a real BMP or WAV
  * byte stream, which then round-trips through the actual codec.
  *
  * Scale shape (what matters at 100 TB): payloads never pass through a
  * shuffle — decode + featurize is a narrow map, and only the small
  * feature vectors flow downstream; frame explosion happens AFTER the
  * per-partition decode, so full payloads are never duplicated per frame.
  */
object Multimodal {

  case class MediaRecord(doc_id: Long, payload: Array[Byte], media_type: String,
      n_bytes: Int)

  case class MediaFeatures(doc_id: Long, n_bytes: Int, features: Array[Float])

  case class FrameFeatures(doc_id: Long, frame_idx: Int, features: Array[Float])

  // ---------------------------------------------------------------- fixture

  /** Render text bytes into a real 8×8 24-bit BMP (each pixel's RGB comes
    * from consecutive text bytes, cycled) — a deterministic stand-in for
    * crawled images that still exercises the REAL codec. */
  private[operators] def synthesizeBmp(text: String): Array[Byte] = {
    val bytes = text.getBytes("UTF-8")
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var i = 0
    while (i < 64) {
      def b(k: Int) = if (bytes.isEmpty) 0 else bytes((3 * i + k) % bytes.length) & 0xff
      img.setRGB(i % 8, i / 8, (b(0) << 16) | (b(1) << 8) | b(2))
      i += 1
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "bmp", out)
    out.toByteArray
  }

  /** Render a deterministic 16-bit mono PCM sine (8 kHz, 400 samples,
    * frequency seeded by `doc_id`) into a real WAV container. */
  private[operators] def synthesizeWav(docId: Long): Array[Byte] = {
    val sampleRate = 8000f
    val n = 400
    val freq = 200.0 + (docId % 17) * 50.0
    val amp = 12000
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = (amp * math.sin(2.0 * math.Pi * freq * i / sampleRate)).toInt
      pcm(2 * i) = (s & 0xff).toByte          // little-endian PCM16
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(sampleRate, 16, 1, true, false)
    val stream = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(stream, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Attach real media payloads to a documents-shaped frame: even doc_ids
    * become BMP images rendered from the text, odd doc_ids become WAV
    * audio seeded by the id. A narrow per-partition map (no shuffle). */
  def attachBinary(documents: DataFrame): Dataset[MediaRecord] = {
    import documents.sparkSession.implicits._
    documents.select("doc_id", "text").as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val (payload, mt) =
          if (id % 2 == 0) (synthesizeBmp(text), "image/bmp")
          else (synthesizeWav(id), "audio/wav")
        MediaRecord(id, payload, mt, payload.length)
      })
  }

  // ---------------------------------------------------------------- decode

  /** REAL image decode: BMP bytes → pixels → (width, height, mean R, G, B,
    * mean luminance), all normalized to [0, 1] except the dimensions. */
  private[operators] def decodeImage(payload: Array[Byte]): Array[Float] = {
    val img = ImageIO.read(new ByteArrayInputStream(payload))
    val (w, h) = (img.getWidth, img.getHeight)
    var (r, g, b) = (0L, 0L, 0L)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
        x += 1
      }
      y += 1
    }
    val n = (w * h).toFloat * 255f
    val (mr, mg, mb) = (r / n, g / n, b / n)
    Array(w.toFloat, h.toFloat, mr, mg, mb,
      0.299f * mr + 0.587f * mg + 0.114f * mb)
  }

  /** WAV bytes → little-endian PCM16 samples (the one real audio decode
    * every audio path shares). */
  private[operators] def pcmSamples(payload: Array[Byte]): Array[Int] = {
    val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
    val bytes = in.readAllBytes()
    Array.tabulate(bytes.length / 2)(i =>
      ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toShort.toInt)
  }

  /** REAL audio decode: WAV bytes → PCM16 samples → (n_samples, RMS,
    * zero-crossing rate, mean |amplitude|), amplitudes normalized. */
  private[operators] def decodeAudio(payload: Array[Byte]): Array[Float] = {
    val samples = pcmSamples(payload)
    val n = samples.length
    var (sumSq, sumAbs) = (0.0, 0.0)
    var crossings = 0
    var prev = 0
    var i = 0
    while (i < n) {
      val s = samples(i)
      sumSq += s.toDouble * s; sumAbs += math.abs(s)
      if (i > 0 && ((s >= 0) != (prev >= 0))) crossings += 1
      prev = s
      i += 1
    }
    val scale = 32768.0
    Array(n.toFloat, (math.sqrt(sumSq / n) / scale).toFloat,
      crossings.toFloat / n, (sumAbs / n / scale).toFloat)
  }

  private def decode(r: MediaRecord): Array[Float] = r.media_type match {
    case "image/bmp" => decodeImage(r.payload)
    case "audio/wav" => decodeAudio(r.payload)
    case other => throw new IllegalArgumentException(s"no decoder for $other")
  }

  /** Batched per-partition feature extraction (mapInPandas analog). */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map(r => MediaFeatures(r.doc_id, r.n_bytes, decode(r)))
    }
  }

  /** Frame sampling over REAL decoded media: images emit every `everyNth`
    * pixel ROW as a frame (mean R/G/B per row); audio emits every
    * `everyNth` window of `frameSamples` PCM samples (RMS + mean |amp|).
    * One decode per record, frames emitted AFTER the narrow pass — full
    * payloads never shuffle or duplicate. */
  def sampleFrames(media: Dataset[MediaRecord], frameSamples: Int = 100,
      everyNth: Int = 2): Dataset[FrameFeatures] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      r.media_type match {
        case "image/bmp" =>
          val img = ImageIO.read(new ByteArrayInputStream(r.payload))
          (0 until img.getHeight by everyNth).map { y =>
            var (rr, gg, bb) = (0L, 0L, 0L)
            (0 until img.getWidth).foreach { x =>
              val p = img.getRGB(x, y)
              rr += (p >> 16) & 0xff; gg += (p >> 8) & 0xff; bb += p & 0xff
            }
            val n = img.getWidth.toFloat * 255f
            FrameFeatures(r.doc_id, y, Array(rr / n, gg / n, bb / n))
          }
        case "audio/wav" =>
          val samples = pcmSamples(r.payload)
          samples.grouped(frameSamples).zipWithIndex
            .filter(_._2 % everyNth == 0)
            .map { case (frame, idx) =>
              val rms = math.sqrt(frame.map(s => s.toDouble * s).sum / frame.length) / 32768.0
              val meanAbs = frame.map(s => math.abs(s).toDouble).sum / frame.length / 32768.0
              FrameFeatures(r.doc_id, idx, Array(rms.toFloat, meanAbs.toFloat))
            }.toSeq
        case other => throw new IllegalArgumentException(s"no decoder for $other")
      }
    }
  }

  // ---------------------------------------------------------------- resize

  /** REAL bilinear resize: BMP bytes → `outW`×`outH` BMP bytes. The
    * interpolation is a hand-rolled double-precision bilinear with the
    * half-pixel-center convention (`srcX = (x+0.5)·w/outW − 0.5`, the
    * align-corners=false default of mainstream image libraries) and
    * clamped edge neighbors, rounding half-up per channel — fully
    * deterministic across platforms, unlike Java2D's renderer-dependent
    * `drawImage`, so resized payloads can be golden-hashed. */
  private[operators] def resizeBmp(payload: Array[Byte], outW: Int,
      outH: Int): Array[Byte] = {
    require(outW > 0 && outH > 0, s"bad target ${outW}x$outH")
    val src = ImageIO.read(new ByteArrayInputStream(payload))
    val (w, h) = (src.getWidth, src.getHeight)
    val dst = new java.awt.image.BufferedImage(outW, outH,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < outH) {
      val sy = (y + 0.5) * h / outH - 0.5
      val y0 = math.max(0, math.min(h - 1, math.floor(sy).toInt))
      val y1 = math.min(h - 1, y0 + 1)
      val fy = math.max(0.0, math.min(1.0, sy - y0))
      var x = 0
      while (x < outW) {
        val sx = (x + 0.5) * w / outW - 0.5
        val x0 = math.max(0, math.min(w - 1, math.floor(sx).toInt))
        val x1 = math.min(w - 1, x0 + 1)
        val fx = math.max(0.0, math.min(1.0, sx - x0))
        val (p00, p01, p10, p11) =
          (src.getRGB(x0, y0), src.getRGB(x1, y0),
            src.getRGB(x0, y1), src.getRGB(x1, y1))
        def ch(shift: Int): Int = {
          def c(p: Int) = (p >> shift) & 0xff
          val top = c(p00) * (1 - fx) + c(p01) * fx
          val bot = c(p10) * (1 - fx) + c(p11) * fx
          math.round(top * (1 - fy) + bot * fy).toInt
        }
        dst.setRGB(x, y, (ch(16) << 16) | (ch(8) << 8) | ch(0))
        x += 1
      }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(dst, "bmp", out)
    out.toByteArray
  }

  /** Single-record 16×16 resize (the q155 hot path — lets the query
    * stay one flatMap-free narrow pass without a Dataset round-trip). */
  private[graft] def resizeImages16(r: MediaRecord): MediaRecord = {
    val p = resizeBmp(r.payload, 16, 16)
    MediaRecord(r.doc_id, p, r.media_type, p.length)
  }

  /** Mean luminance of a BMP payload in [0, 1] (the last [[decodeImage]]
    * feature, exposed for per-record audits). */
  private[graft] def meanLuminance(payload: Array[Byte]): Double =
    decodeImage(payload).last.toDouble

  /** 64-bit difference hash (dHash) of an image: rescale to a 9×8
    * luminance grid, bit (x, y) = 1 iff lum(x+1, y) > lum(x, y). The
    * classic perceptual hash — invariant to uniform brightness/contrast
    * shifts and re-encoding, so near-duplicate images land at small
    * Hamming distance. Runs on the REAL decoded pixels. */
  private[operators] def dHash(payload: Array[Byte]): Long = {
    val img = ImageIO.read(new ByteArrayInputStream(payload))
    val scaled = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = scaled.createGraphics()
    g.drawImage(img, 0, 0, 9, 8, null)
    g.dispose()
    def lum(p: Int): Double =
      0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) + 0.114 * (p & 0xff)
    var bits = 0L
    var j = 0
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (lum(scaled.getRGB(x + 1, y)) > lum(scaled.getRGB(x, y)))
          bits |= 1L << j
        j += 1
        x += 1
      }
      y += 1
    }
    bits
  }

  /** 64-bit audio fingerprint (energy-delta sign hash, the simplified
    * Haitsma–Kalker construction — public algorithm): split the PCM
    * stream into 65 windows, bit j = 1 iff energy(window j+1) >
    * energy(window j). Volume scaling multiplies every window energy by
    * the same factor, preserving each ORDERING — the fingerprint is
    * gain-invariant, so re-normalized copies of a track collide. */
  private[operators] def audioFingerprint(payload: Array[Byte]): Long = {
    val samples = pcmSamples(payload)
    val nw = 65
    val win = math.max(1, samples.length / nw)
    val energies = Array.tabulate(nw) { i =>
      var e = 0.0
      var k = i * win
      val end = math.min(samples.length, (i + 1) * win)
      while (k < end) { e += samples(k).toDouble * samples(k); k += 1 }
      e
    }
    var bits = 0L
    var j = 0
    while (j < 64) {
      if (energies(j + 1) > energies(j)) bits |= 1L << j
      j += 1
    }
    bits
  }

  /** Audio near-duplicate pairs by fingerprint — the audio twin of
    * [[imageNearDupPairs]], same narrow decode + shared pigeonhole band
    * join, only 8-byte fingerprints past the decode. */
  def audioNearDupPairs(media: Dataset[MediaRecord], maxHamming: Int = 8)
      : DataFrame = {
    import media.sparkSession.implicits._
    val sig = media.filter((r: MediaRecord) => r.media_type == "audio/wav")
      .map(r => (r.doc_id, audioFingerprint(r.payload)))
      .toDF("doc_id", "afp")
    Dedup.simhashBandPairs(sig.cache(), "doc_id", "afp", maxHamming)
  }

  /** Image near-duplicate pairs by perceptual hash: dHash each image in
    * the narrow decode pass (payloads never shuffle — only the 8-byte
    * hash flows on), then the SAME pigeonhole banding the text SimHash
    * path uses ([[Dedup.simhashBandPairs]]) finds ALL pairs at Hamming ≤
    * `maxHamming` without an all-pairs join. Output (a_id, b_id,
    * hamming). */
  def imageNearDupPairs(media: Dataset[MediaRecord], maxHamming: Int = 8)
      : DataFrame = {
    import media.sparkSession.implicits._
    val sig = media.filter((r: MediaRecord) => r.media_type == "image/bmp")
      .map(r => (r.doc_id, dHash(r.payload)))
      .toDF("doc_id", "dhash")
    Dedup.simhashBandPairs(sig.cache(), "doc_id", "dhash", maxHamming)
  }

  /** End-to-end: documents → real media payload → batched decode +
    * featurize. f0..f3 = the first four decoded features (image: w, h,
    * meanR, meanG; audio: n_samples, rms, zcr, meanAbs). */
  def pipeline(spark: SparkSession, documents: DataFrame): DataFrame = {
    extractFeatures(attachBinary(documents))
      .select(col("doc_id"), col("n_bytes"),
        round(element_at(col("features"), 1).cast("double"), 5).as("f0"),
        round(element_at(col("features"), 2).cast("double"), 5).as("f1"),
        round(element_at(col("features"), 3).cast("double"), 5).as("f2"),
        round(element_at(col("features"), 4).cast("double"), 5).as("f3"))
  }
}
