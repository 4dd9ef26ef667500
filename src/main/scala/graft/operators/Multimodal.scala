package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.awt.image.{BufferedImage, DataBuffer, IndexColorModel}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO}
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

/** Multimodal-column plumbing for a training-data pipeline: image/audio/
  * video ride along as opaque `binary` columns with typed metadata, and
  * per-item compute (decode → feature-extract) runs as partition-wise
  * batch work so heavyweight decoder state is initialized once per
  * partition — the Scala analogue of `mapInPandas` batching.
  *
  * Image decode/resize is REAL: `javax.imageio` (in the JDK, no external
  * jars) decodes PNG/JPEG to a grayscale raster, and resizing is an
  * area-average (box) filter. Audio decode is REAL too:
  * `javax.sound.sampled` (also JDK-only) reads WAV/PCM — features are an
  * RMS energy envelope over the decoded samples. Video decode is REAL
  * for the one multi-frame container the JDK ships a codec for —
  * animated GIF, read/written frame-exact through `ImageIO`'s sequence
  * API — with features a temporal luminance envelope over the decoded
  * frames. Compressed formats that would need ffmpeg (H.264/MP3/AAC) fall
  * back to a clearly-marked deterministic stub ([[fakeDecode]]), as does
  * any row whose bytes don't decode (fail-soft: a corrupt row yields stub
  * features, never a task failure, matching the engine's row-level error
  * semantics).
  */
object Multimodal {

  // ImageIO's default stream cache is DISK-backed: every write/read against
  // a byte stream materializes a FileCache(Image){Input,Output}Stream temp
  // FILE under java.io.tmpdir. m01 encodes+decodes 2000 PNGs per run ⇒
  // thousands of temp-file cycles fanned across 32 task threads, making the
  // only query in the bench whose cost rides /tmp I/O weather (r12 verdict
  // #1: 6.85 s vs 1.04 s floor; a first-run A/B measured 6.17 s with the
  // disk cache vs 0.64–0.70 s in memory, stable across runs). In-memory
  // caching is strictly right here — sources ARE byte arrays already.
  // Module init runs on every JVM that touches a codec (driver and each
  // executor), so the flag flips wherever decode tasks run.
  ImageIO.setUseCache(false)

  final case class MediaItem(
      media_id: Long,
      kind: String, // image | audio | video
      content: Array[Byte],
      width: Int,
      height: Int,
      duration_ms: Long)

  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      features: Array[Float])

  // ---- real image codec (JDK ImageIO) ----------------------------------

  /** Encode an 8-bit grayscale PNG from a pixel function (losslessly
    * round-trippable through [[decodeGray]]); the seed-image generator
    * for specs and the m01 correctness query. */
  def encodeGrayPng(w: Int, h: Int, pixel: (Int, Int) => Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, pixel(x, y) & 0xff); x += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real decode: any ImageIO-supported format (PNG/JPEG/GIF/BMP) →
    * (width, height, row-major 8-bit luminance samples). None if the
    * bytes don't decode — callers treat that row fail-soft. */
  def decodeGray(content: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try {
      Option(ImageIO.read(new ByteArrayInputStream(content))).map { img =>
        val w = img.getWidth
        val h = img.getHeight
        // luminance view: convert once; TYPE_BYTE_GRAY sources are a no-op copy
        val gray =
          if (img.getType == BufferedImage.TYPE_BYTE_GRAY) img
          else {
            val g = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
            g.getGraphics.drawImage(img, 0, 0, null)
            g
          }
        val px = new Array[Int](w * h)
        gray.getRaster.getSamples(0, 0, w, h, 0, px)
        (w, h, px)
      }
    } catch { case _: Exception => None }

  /** Area-average (box-filter) resample of a grayscale raster to tw×th:
    * each output pixel is the coverage-weighted mean of its source
    * region — the correct minifier (no aliasing, preserves total mean).
    * Exact when w/tw and h/th are integral (weights all 1). */
  def areaAverageGray(px: Array[Int], w: Int, h: Int, tw: Int, th: Int): Array[Double] = {
    val out = new Array[Double](tw * th)
    val sx = w.toDouble / tw
    val sy = h.toDouble / th
    var ty = 0
    while (ty < th) {
      val y0 = ty * sy
      val y1 = (ty + 1) * sy
      var tx = 0
      while (tx < tw) {
        val x0 = tx * sx
        val x1 = (tx + 1) * sx
        var sum = 0.0
        var area = 0.0
        var y = math.floor(y0).toInt
        while (y < math.ceil(y1).toInt && y < h) {
          val wy = math.min(y + 1, y1) - math.max(y, y0)
          var x = math.floor(x0).toInt
          while (x < math.ceil(x1).toInt && x < w) {
            val wx = math.min(x + 1, x1) - math.max(x, x0)
            sum += px(y * w + x) * wx * wy
            area += wx * wy
            x += 1
          }
          y += 1
        }
        out(ty * tw + tx) = sum / area
        tx += 1
      }
      ty += 1
    }
    out
  }

  // ---- real audio codec (JDK javax.sound.sampled, WAV/PCM) -------------

  /** Encode 16-bit signed mono PCM samples as a WAV container through the
    * JDK's sampled-audio writer — losslessly round-trippable through
    * [[decodePcm16]]; the seed-audio generator for specs and the m02
    * correctness query. Samples are clamped to the PCM16 range. */
  def encodeWavPcm16(sampleRate: Float, samples: Array[Int]): Array[Byte] = {
    val data = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      val s = math.max(-32768, math.min(32767, samples(i)))
      data(2 * i) = (s & 0xff).toByte
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(sampleRate, 16, 1, true, false)
    val ais = new AudioInputStream(
      new ByteArrayInputStream(data), fmt, samples.length.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Real audio decode: any JDK-readable WAV (16-bit signed mono PCM,
    * either endianness) → (sampleRate, samples). None for formats the JDK
    * can't read (MP3/AAC need external codecs) or non-PCM16 payloads —
    * callers treat that row fail-soft, same contract as [[decodeGray]]. */
  def decodePcm16(content: Array[Byte]): Option[(Float, Array[Int])] =
    try {
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(content))
      try {
        val fmt = in.getFormat
        if (fmt.getEncoding != AudioFormat.Encoding.PCM_SIGNED ||
            fmt.getChannels != 1 || fmt.getSampleSizeInBits != 16) None
        else {
          val bytes = in.readAllBytes()
          val n = bytes.length / 2
          val out = new Array[Int](n)
          var i = 0
          if (fmt.isBigEndian)
            while (i < n) { out(i) = (bytes(2 * i) << 8) | (bytes(2 * i + 1) & 0xff); i += 1 }
          else
            while (i < n) { out(i) = (bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff); i += 1 }
          Some((fmt.getSampleRate, out))
        }
      } finally in.close()
    } catch { case _: Exception => None }

  /** Energy envelope: RMS of `dim` equal sample segments, normalized to
    * [0, 1] by the PCM16 full scale — the audio analogue of the image
    * path's area-averaged luminance grid. */
  def rmsEnvelope(samples: Array[Int], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    val n = samples.length
    if (n == 0) return out
    var k = 0
    while (k < dim) {
      val lo = (k.toLong * n / dim).toInt
      val hi = ((k + 1).toLong * n / dim).toInt
      if (hi > lo) {
        var sumsq = 0.0
        var i = lo
        while (i < hi) { val v = samples(i).toDouble; sumsq += v * v; i += 1 }
        out(k) = (math.sqrt(sumsq / (hi - lo)) / 32768.0).toFloat
      }
      k += 1
    }
    out
  }

  // ---- real video codec (JDK ImageIO, multi-frame GIF) -----------------

  /** Identity 256-level grayscale palette: GIF stores indexed color, and
    * writing frames as TYPE_BYTE_INDEXED over this palette makes the
    * encode → decode round-trip bit-exact (palette index == gray level ==
    * decoded sRGB channel). Going through TYPE_BYTE_GRAY instead would
    * route the read back through a linear-gray ↔ sRGB conversion and lose
    * low-order bits. */
  private lazy val grayPalette: IndexColorModel = {
    val cmap = Array.tabulate(256)(i => (0xff << 24) | (i << 16) | (i << 8) | i)
    new IndexColorModel(8, 256, cmap, 0, false, -1, DataBuffer.TYPE_BYTE)
  }

  /** Encode a multi-frame animated GIF from a per-frame pixel function
    * through the JDK's sequence writer — a REAL video container the JDK
    * can both write and read without external codecs; losslessly
    * round-trippable through [[decodeGifFrames]]. The seed-video
    * generator for specs and the m04 correctness query. */
  def encodeGifVideo(w: Int, h: Int, frames: Int,
      pixel: (Int, Int, Int) => Int): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < frames) {
        val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { raster.setSample(x, y, 0, pixel(f, x, y) & 0xff); x += 1 }
          y += 1
        }
        writer.writeToSequence(new IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  /** Real video decode: a multi-frame GIF → (width, height, per-frame
    * row-major 8-bit luminance). Luminance is read through the palette
    * (`getRGB & 0xff`), never through a colorspace conversion, so decoded
    * samples are the exact palette grays. None if the bytes don't decode
    * or frames disagree on dimensions (sub-frame/composited GIFs are out
    * of scope) — callers treat that row fail-soft, the same contract as
    * [[decodeGray]] / [[decodePcm16]]. */
  def decodeGifFrames(content: Array[Byte]): Option[(Int, Int, IndexedSeq[Array[Int]])] =
    try {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(content))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis)
            val n = reader.getNumImages(true)
            if (n <= 0) None
            else {
              val first = reader.read(0)
              val w = first.getWidth
              val h = first.getHeight
              val frames = new Array[Array[Int]](n)
              var ok = true
              var i = 0
              while (ok && i < n) {
                val img = if (i == 0) first else reader.read(i)
                if (img.getWidth != w || img.getHeight != h) ok = false
                else {
                  // bulk fetch: one getRGB call per frame, not per pixel
                  // (the per-pixel form pays a ColorModel lookup per call
                  // and dominates decode cost on large frames)
                  val rgb = img.getRGB(0, 0, w, h, null, 0, w)
                  val px = new Array[Int](w * h)
                  var j = 0
                  while (j < px.length) { px(j) = rgb(j) & 0xff; j += 1 }
                  frames(i) = px
                }
                i += 1
              }
              if (ok) Some((w, h, frames.toIndexedSeq)) else None
            }
          } finally reader.dispose()
        }
      } finally iis.close()
    } catch { case _: Exception => None }

  /** Temporal envelope: mean frame luminance over `dim` equal frame
    * segments, normalized to [0, 1) — the video analogue of the audio
    * path's RMS envelope (per-segment mean instead of RMS, since
    * luminance is unsigned). */
  def luminanceEnvelope(frameMeans: Array[Double], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    val n = frameMeans.length
    if (n == 0) return out
    var k = 0
    while (k < dim) {
      val lo = (k.toLong * n / dim).toInt
      val hi = ((k + 1).toLong * n / dim).toInt
      if (hi > lo) {
        var sum = 0.0
        var i = lo
        while (i < hi) { sum += frameMeans(i); i += 1 }
        out(k) = (sum / (hi - lo) / 256.0).toFloat
      }
      k += 1
    }
    out
  }

  // ---- non-image stub ---------------------------------------------------

  /** STUB — the fail-soft fallback for bytes no JDK codec reads (corrupt
    * rows; compressed video/audio formats like H.264/MP3 that would need
    * ffmpeg, absent from this container). Deterministic: features derive
    * from a rolling hash of the content bytes, so tests are stable and
    * the pipeline is replayable. */
  private[operators] def fakeDecode(content: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 1125899906842597L
    var i = 0
    while (i < content.length) { h = 31 * h + (content(i) & 0xff); i += 1 }
    var d = 0
    while (d < dim) {
      val mixed = (h ^ (h >>> 33)) * 0xff51afd7ed558ccdL + d
      out(d) = ((mixed % 1000L).toInt.abs / 1000.0f)
      d += 1
    }
    out
  }

  // ---- partition-batched operators -------------------------------------

  /** Decode + feature-extract, batched per partition. Image rows decode
    * for real: features are the √dim × √dim area-averaged luminance grid
    * scaled to [0, 1) (`dim` must be a perfect square). Audio rows decode
    * for real: features are the `dim`-segment RMS energy envelope. Video
    * rows decode for real (multi-frame GIF): features are the
    * `dim`-segment temporal luminance envelope. Undecodable bytes
    * (fail-soft) and codec-requiring formats use the hash stub.
    * Repartitions
    * by media_id first so decoder work spreads evenly even when input
    * files are skewed (one giant video parquet vs many small images). */
  def extractFeatures(items: Dataset[MediaItem], dim: Int = 16,
      partitions: Option[Int] = None)(
      implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    val side = math.sqrt(dim).toInt
    require(side * side == dim, s"dim must be a perfect square for the image grid, got $dim")
    val parted = partitions.map(items.repartition(_, col("media_id"))).getOrElse(items)
    parted.mapPartitions { it =>
      // per-partition init goes here for a heavyweight decoder (load once)
      it.map { m =>
        val feats = m.kind match {
          case "image" =>
            decodeGray(m.content) match {
              case Some((w, h, px)) =>
                areaAverageGray(px, w, h, side, side).map(v => (v / 256.0).toFloat)
              case None => fakeDecode(m.content, dim) // fail-soft: corrupt image
            }
          case "audio" =>
            decodePcm16(m.content) match {
              case Some((_, samples)) if samples.nonEmpty => rmsEnvelope(samples, dim)
              case _ => fakeDecode(m.content, dim) // fail-soft: unreadable audio
            }
          case "video" =>
            decodeGifFrames(m.content) match {
              case Some((_, _, frames)) if frames.nonEmpty =>
                val means = frames.map { px =>
                  var sum = 0L
                  var i = 0
                  while (i < px.length) { sum += px(i); i += 1 }
                  sum.toDouble / px.length
                }.toArray
                luminanceEnvelope(means, dim)
              case _ => fakeDecode(m.content, dim) // fail-soft: non-GIF video
            }
          case _ => fakeDecode(m.content, dim) // unknown kind
        }
        MediaFeatures(m.media_id, m.kind, m.content.length.toLong, feats)
      }
    }
  }

  /** Resize image rows to target dimensions with the real decode →
    * area-average → PNG re-encode path, batched per partition like
    * [[extractFeatures]]; non-image rows and undecodable image bytes
    * pass through untouched (fail-soft). */
  def resize(items: Dataset[MediaItem], targetW: Int, targetH: Int)(
      implicit spark: SparkSession): Dataset[MediaItem] = {
    import spark.implicits._
    items.mapPartitions { it =>
      it.map {
        case m if m.kind == "image" =>
          decodeGray(m.content) match {
            case Some((w, h, px)) =>
              val rs = areaAverageGray(px, w, h, targetW, targetH)
              val bytes = encodeGrayPng(targetW, targetH,
                (x, y) => math.round(rs(y * targetW + x)).toInt)
              m.copy(content = bytes, width = targetW, height = targetH)
            case None => m
          }
        case m => m
      }
    }
  }

  /** Frame sampling for video rows: one output row per sampled frame
    * index (every `everyMs` of duration) — pure plan-side explode, the
    * actual frame decode would happen in [[extractFeatures]] downstream. */
  def sampleFrames(items: Dataset[MediaItem], everyMs: Long)(
      implicit spark: SparkSession): DataFrame =
    items.toDF()
      .filter(col("kind") === "video" && col("duration_ms") > 0)
      .select(col("media_id"), col("duration_ms"),
        explode(sequence(lit(0L), col("duration_ms") - 1, lit(everyMs)))
          .as("frame_ts_ms"))

  /** Cosine-ready feature table: features as array<float> plus L2 norm —
    * joins [[Similarity]]'s ANN path for cross-modal near-dup search. */
  def featureTable(feats: Dataset[MediaFeatures]): DataFrame =
    feats.toDF()
      .withColumn("v", expr("transform(features, x -> CAST(x AS DOUBLE))"))
      .withColumn("nrm", expr("sqrt(aggregate(v, CAST(0.0 AS DOUBLE), (a, x) -> a + x * x))"))
      .drop("features")

  /** m01 correctness query: seed deterministic grayscale PNGs from the
    * `part` key space (pixel(x,y) = (id·31 + x·7 + y·13) mod 256, size
    * (8+4·(id mod 3)) × (8+4·(id mod 2))), push them through the REAL
    * ImageIO decode + area-average resize, and report per-image decoded
    * dimensions, full-frame mean luminance, and the top-left pixel of
    * the 4×4 resize. The DuckDB oracle recomputes all of it analytically
    * from the pixel formula — so a hash match proves the actual
    * encode → decode → resample path is exact, not a stub. */
  def imageStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val items = graft.Spread.ifNarrow(graft.Tables(s, dir, "part"))
      .select(col("p_partkey").as("media_id"))
      .filter(col("media_id") <= 2000)
      .as[Long]
      .mapPartitions(_.map { id =>
        val w = (8 + 4 * (id % 3)).toInt
        val h = (8 + 4 * (id % 2)).toInt
        MediaItem(id, "image",
          encodeGrayPng(w, h, (x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt),
          0, 0, 0L)
      })
    items.mapPartitions(_.flatMap { m =>
      decodeGray(m.content).map { case (w, h, px) =>
        var sum = 0L
        var i = 0
        while (i < px.length) { sum += px(i); i += 1 }
        val p00 = areaAverageGray(px, w, h, 4, 4)(0)
        (m.media_id, w, h, sum.toDouble / (w * h), p00)
      }
    }).toDF("media_id", "width", "height", "mean_raw", "p00_raw")
      .select(col("media_id"), col("width"), col("height"),
        round(col("mean_raw"), 4).as("mean_px"), round(col("p00_raw"), 4).as("p00"))
      .orderBy("media_id")
  }

  /** m02 correctness query: seed deterministic WAVs from the `part` key
    * space (16-bit mono PCM at 8 kHz, sample(i) = (id·31 + i·7) mod 2001
    * − 1000, length 2000 + 500·(id mod 4)), push them through the REAL
    * javax.sound.sampled encode → decode path, and report per-clip sample
    * count, duration, RMS, zero crossings, and peak amplitude — all
    * computed from the DECODED samples. The DuckDB oracle recomputes
    * everything analytically from the seed formula, so a hash match
    * proves the PCM16/WAV round-trip is exact (m01's recipe applied to
    * audio). Integer-deterministic waveform ⇒ the only float arithmetic
    * is the identical final division/sqrt in both engines. */
  def audioStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val items = graft.Tables(s, dir, "part")
      .select(col("p_partkey").as("media_id"))
      .filter(col("media_id") <= 500)
      .as[Long]
      .mapPartitions(_.map { id =>
        val n = 2000 + 500 * (id % 4).toInt
        val samples = Array.tabulate(n)(i =>
          (((id * 31 + i.toLong * 7) % 2001) - 1000).toInt)
        MediaItem(id, "audio", encodeWavPcm16(8000f, samples), 0, 0, 0L)
      })
    items.mapPartitions(_.flatMap { m =>
      decodePcm16(m.content).map { case (sr, sm) =>
        var sumsq = 0L
        var zc = 0L
        var peak = 0
        var i = 0
        while (i < sm.length) {
          val v = sm(i)
          sumsq += v.toLong * v
          if (i > 0 && sm(i - 1).toLong * v < 0) zc += 1
          if (math.abs(v) > peak) peak = math.abs(v)
          i += 1
        }
        (m.media_id, sm.length.toLong,
          sm.length * 1000.0 / sr,
          math.sqrt(sumsq.toDouble / sm.length), zc, peak)
      }
    }).toDF("media_id", "n_samples", "duration_ms", "rms_raw", "zero_crossings", "peak")
      .select(col("media_id"), col("n_samples"), col("duration_ms"),
        round(col("rms_raw"), 4).as("rms"), col("zero_crossings"), col("peak"))
      .orderBy("media_id")
  }

  /** m04 correctness query: seed deterministic multi-frame GIF "videos"
    * from the `part` key space (16×12 frames, 2 + id mod 4 frames each,
    * pixel(f,x,y) = (id·31 + f·17 + x·7 + y·13) mod 256), push them
    * through the REAL ImageIO sequence encode → decode path, and report
    * per-video frame count, frame-0 mean luminance, all-frame mean
    * luminance, and the inter-frame luminance drift (max |mean(f) −
    * mean(f−1)|) — all computed from the DECODED frames. The DuckDB
    * oracle recomputes everything analytically from the pixel formula
    * (m01's recipe applied to video), so a hash match proves the
    * multi-frame container round-trip is frame-exact, not a stub.
    * Integer pixel sums ⇒ the only float arithmetic is the identical
    * final division in both engines. */
  def videoStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // un-spread in round 21: 300 items — the same criterion that
    // reverted m02/m03 in round 20 (exchange overhead exceeds the
    // single-task encode cost; driver read m04 0.85x with the spread)
    val items = graft.Tables(s, dir, "part")
      .select(col("p_partkey").as("media_id"))
      .filter(col("media_id") <= 300)
      .as[Long]
      .mapPartitions(_.map { id =>
        val frames = (2 + id % 4).toInt
        MediaItem(id, "video",
          encodeGifVideo(16, 12, frames,
            (f, x, y) => ((id * 31 + f * 17 + x * 7 + y * 13) % 256).toInt),
          16, 12, frames * 40L)
      })
    items.mapPartitions(_.flatMap { m =>
      decodeGifFrames(m.content).map { case (w, h, frames) =>
        // per-frame INTEGER pixel sums: every reported stat is an exact
        // integer divided by a constant, so the oracle's float arithmetic
        // is bit-identical (no summation-order sensitivity)
        val sums = frames.map { px =>
          var sum = 0L
          var i = 0
          while (i < px.length) { sum += px(i); i += 1 }
          sum
        }
        var driftI = 0L
        var f = 1
        while (f < sums.length) {
          driftI = math.max(driftI, math.abs(sums(f) - sums(f - 1)))
          f += 1
        }
        val area = (w * h).toDouble
        (m.media_id, frames.length.toLong,
          sums.head / area,
          sums.sum.toDouble / (area * frames.length),
          driftI / area)
      }
    }).toDF("media_id", "n_frames", "mf0_raw", "mall_raw", "drift_raw")
      .select(col("media_id"), col("n_frames"),
        round(col("mf0_raw"), 4).as("mean_f0"),
        round(col("mall_raw"), 4).as("mean_all"),
        round(col("drift_raw"), 4).as("drift"))
      .orderBy("media_id")
  }

  /** m03 correctness query: the multimodal and similarity surfaces
    * COMPOSED under the oracle gate — seeded images → real ImageIO decode
    * ([[extractFeatures]]) → [[featureTable]] → SRP-LSH candidates
    * ([[Similarity.srpCandidates]]) → exact cosine verify.
    *
    * The corpus plants byte-identical duplicates: pixel content depends
    * on `id mod 100`, so ids sharing a residue are the same image ⇒ the
    * same feature vector ⇒ cosine exactly 1 (and identical SRP
    * signatures, so candidate recall for true pairs is structural, not
    * probabilistic). The pixel mixer is quadratic in (id, x, y) — chosen
    * so the max BACKGROUND pair cosine is ≈ 0.995, leaving the τ = 0.998
    * verify threshold a two-sided margin that engine float noise (~1e-7)
    * cannot cross. The DuckDB oracle recomputes features (exact 4×3
    * block means of the pixel formula) and all-pairs cosine analytically.
    */
  def crossModalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sp: SparkSession = s
    graft.functions.VectorFunctions.register(s)
    val items = graft.Tables(s, dir, "part")
      .select(col("p_partkey").as("media_id"))
      .filter(col("media_id") <= 300)
      .as[Long]
      .mapPartitions(_.map { id =>
        val seed = id % 100 + 1
        MediaItem(id, "image",
          encodeGrayPng(16, 12, (x, y) => {
            val t = seed * (y * 16 + x + 17)
            ((t * t % 99991) % 256).toInt
          }),
          16, 12, 0L)
      })
    val ft = featureTable(extractFeatures(items, dim = 16))
      .select(col("media_id").as("id"), col("v"), col("nrm"))
    val cand = Similarity.srpCandidates(
      ft.select(col("id"), col("v")), bands = 8, rowsPerBand = 16)
    cand
      .join(ft.select(col("id").as("a"), col("v").as("va"), col("nrm").as("na")), "a")
      .join(ft.select(col("id").as("b"), col("v").as("vb"), col("nrm").as("nb")), "b")
      .withColumn("craw", expr("graft_dot(va, vb)") / (col("na") * col("nb")))
      .filter(col("craw") >= 0.998)
      .select(col("a"), col("b"))
      .orderBy("a", "b")
  }
}
