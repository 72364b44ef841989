package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * payloads with typed metadata, plus a decode/feature-extract stage.
  *
  * IMAGES are decoded with a REAL codec: `javax.imageio` (JDK built-in,
  * PNG + BMP readers/writers ship with every Java 17) runs inside
  * `mapPartitions` — the batch boundary where a vectorized codec (or
  * `mapInPandas` in PySpark) sits on a cluster. The oracle strategy is a
  * round-trip proof: payloads are synthesized executor-side by
  * `ImageIO.write` from closed-form pixel formulas chosen so no channel
  * value ever wraps mod 256, which makes the decoded dimensions, corner
  * pixels, and full-image channel checksums predictable in plain SQL —
  * if either the encode or the decode were wrong, the hash gate fails.
  *
  * AUDIO is decoded with a REAL codec too: `javax.sound.sampled`
  * (JDK built-in) parses genuine RIFF/WAVE containers of 16-bit PCM —
  * lossless, so the same closed-form-oracle strategy applies to frame
  * counts and per-channel sample sums ([[decodeAudio]]).
  *
  * VIDEO is handled at the CONTAINER level without a codec:
  * [[decodeVideo]] really parses YUV4MPEG2 (the raw-frame interchange
  * format ffmpeg/mplayer pipe — text header + FRAME markers + C420
  * planes), which needs no decompression. COMPRESSED video codecs
  * (H.264 etc.) are not in the JDK, so that decode stays a
  * clearly-marked DETERMINISTIC STUB ([[decodeAndFeaturize]], the
  * documented fallback for non-JDK formats) — there the real (and
  * cluster-relevant) part is the plumbing: binary column schema, batch
  * shape, output schema declared up front, per-partition parallelism
  * with no driver involvement.
  */
object Multimodal {

  // ---------------------------------------------------------------------
  // Real-codec image path (javax.imageio over synthesized PNG/BMP bytes)
  // ---------------------------------------------------------------------

  /** Deterministic image spec for `doc_id` — dimensions and per-pixel
    * RGB formulas. Coefficients are sized so the max channel value
    * (96+45+95, 88+30+76, 82+15+38) stays < 256: no mod-wrap, so the
    * SQL oracle can predict full-image channel sums in closed form. */
  private[graft] def imgWidth(id: Long): Int = 8 + (id % 9).toInt
  private[graft] def imgHeight(id: Long): Int = 8 + (id % 13).toInt
  private[graft] def pixR(id: Long, x: Int, y: Int): Int =
    (id % 97).toInt + 3 * x + 5 * y
  private[graft] def pixG(id: Long, x: Int, y: Int): Int =
    (id % 89).toInt + 2 * x + 4 * y
  private[graft] def pixB(id: Long, x: Int, y: Int): Int =
    (id % 83).toInt + x + 2 * y

  /** Format per doc: BMP for every 4th, GIF for ids ≡1 (mod 8), PNG
    * otherwise — three real JDK codecs through one decode path. */
  private[graft] def imgFormat(id: Long): String =
    if (id % 4 == 0) "bmp" else if (id % 8 == 1) "gif" else "png"

  /** Real `ImageIO.write` encode of the spec image for one doc
    * (exercises ImageIO's format sniffing on the decode side). GIF is
    * palette-indexed, so its spec image is GRAYSCALE (gray = the R
    * formula, < 256 distinct values) over an explicit IDENTITY-RAMP
    * `IndexColorModel` — palette[i] = (i,i,i) in sRGB. That sidesteps
    * both GIF-writer quantization (a truecolor input would be lossily
    * palettized) and `TYPE_BYTE_GRAY`'s linear-gray → sRGB conversion
    * (which shifts values in getRGB): the round trip stays bit-exact,
    * which the closed-form oracle requires. Runs on executors. */
  private[graft] def synthImagePayload(id: Long): Array[Byte] = {
    val w = imgWidth(id); val h = imgHeight(id)
    val fmt = imgFormat(id)
    val img = if (fmt == "gif") {
      val ramp = Array.tabulate(256)(_.toByte)
      val icm = new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
      val im = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          im.getRaster.setSample(x, y, 0, pixR(id, x, y))
          x += 1
        }
        y += 1
      }
      im
    } else {
      val im = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          im.setRGB(x, y,
            (pixR(id, x, y) << 16) | (pixG(id, x, y) << 8) | pixB(id, x, y))
          x += 1
        }
        y += 1
      }
      im
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, baos)
    baos.toByteArray
  }

  /** (doc_id, format, payload) with REAL PNG/BMP bytes in the binary
    * column, synthesized per-partition (no driver involvement, same
    * distribution story as reading a binary-file table). */
  def asImageTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("format", StringType),
      StructField("payload", BinaryType)))
    val rdd = docs.select("doc_id").rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        Row(id, imgFormat(id), synthImagePayload(id))
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  val imageFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("p00_r", IntegerType),
    StructField("p00_g", IntegerType),
    StructField("p00_b", IntegerType),
    StructField("pcorner_r", IntegerType),
    StructField("pcorner_g", IntegerType),
    StructField("pcorner_b", IntegerType),
    StructField("sum_r", LongType),
    StructField("sum_g", LongType),
    StructField("sum_b", LongType)))

  /** REAL image decode + feature extraction: `ImageIO.read` sniffs the
    * container (PNG or BMP), and the features — dimensions, channel
    * count, the (0,0) and (w-1,h-1) pixels, and full-image per-channel
    * sums — are computed from the actual decoded raster, all in integer
    * space so the hash gate is engine-exact. `ImageIO.setUseCache(false)`
    * keeps executor tasks off the temp filesystem. */
  def decodeImages(images: DataFrame): DataFrame = {
    val spark = images.sparkSession
    val rdd = images.select("doc_id", "format", "payload").rdd
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val id = r.getLong(0)
          val fmt = r.getString(1)
          val payload = r.getAs[Array[Byte]](2)
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(payload))
          require(img != null, s"undecodable image payload for doc $id")
          val w = img.getWidth; val h = img.getHeight
          val channels = img.getColorModel.getNumComponents
          def rgb(x: Int, y: Int): (Int, Int, Int) = {
            val p = img.getRGB(x, y)
            ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
          }
          var (sr, sg, sb) = (0L, 0L, 0L)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val (pr, pg, pb) = rgb(x, y)
              sr += pr; sg += pg; sb += pb
              x += 1
            }
            y += 1
          }
          val (r0, g0, b0) = rgb(0, 0)
          val (rc, gc, bc) = rgb(w - 1, h - 1)
          Row(id, fmt, w, h, channels, r0, g0, b0, rc, gc, bc, sr, sg, sb)
        }
      }
    spark.createDataFrame(rdd, imageFeatureSchema)
  }

  // ---------------------------------------------------------------------
  // Real-codec audio path (javax.sound.sampled over synthesized WAV/PCM)
  // ---------------------------------------------------------------------

  /** Deterministic audio spec for `doc_id`: WAV container, 16-bit
    * signed PCM (lossless — the round trip is bit-exact). Sample
    * formulas stay far inside Int16, so the SQL oracle predicts frame
    * counts, endpoint samples, and full-channel sums in closed form. */
  private[graft] def wavSampleRate(id: Long): Int =
    8000 + (id % 3).toInt * 4000
  private[graft] def wavChannels(id: Long): Int = 1 + (id % 2).toInt
  private[graft] def wavFrames(id: Long): Int = 50 + (id % 100).toInt
  private[graft] def wavSample(id: Long, frame: Int, ch: Int): Int =
    if (ch == 0) (id % 997).toInt + 7 * frame
    else (id % 883).toInt + 5 * frame

  /** Real `AudioSystem.write` encode of the spec signal for one doc —
    * a genuine RIFF/WAVE container, not a fake. Executor-side. */
  private[graft] def synthWavPayload(id: Long): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat,
      AudioInputStream, AudioSystem}
    val channels = wavChannels(id)
    val frames = wavFrames(id)
    val pcm = new Array[Byte](frames * channels * 2)
    var i = 0
    while (i < frames) {
      var c = 0
      while (c < channels) {
        val s = wavSample(id, i, c)
        val off = (i * channels + c) * 2
        pcm(off) = (s & 0xff).toByte // little-endian
        pcm(off + 1) = ((s >> 8) & 0xff).toByte
        c += 1
      }
      i += 1
    }
    val fmt = new AudioFormat(wavSampleRate(id).toFloat, 16, channels,
      true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** (doc_id, payload) with REAL WAV bytes, synthesized per-partition. */
  def asAudioTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val rdd = docs.select("doc_id").rdd.mapPartitions { rows =>
      rows.map(r => Row(r.getLong(0), synthWavPayload(r.getLong(0))))
    }
    spark.createDataFrame(rdd, schema)
  }

  val audioFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_frames", LongType),
    StructField("first_sample", IntegerType),
    StructField("last_sample", IntegerType),
    StructField("sum_c0", LongType),
    StructField("sum_c1", LongType)))

  /** REAL audio decode: `AudioSystem.getAudioInputStream` parses the
    * RIFF/WAVE container and format chunk; features — sample rate,
    * channel count, frame count, endpoint samples of channel 0, and
    * per-channel sample sums — come from the actual decoded PCM, all
    * integer-exact (16-bit PCM is lossless). `sum_c1` is null for mono.
    * Same mapPartitions batch boundary as the image path. */
  def decodeAudio(audio: DataFrame): DataFrame = {
    val spark = audio.sparkSession
    val rdd = audio.select("doc_id", "payload").rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
        val fmt = ais.getFormat
        val channels = fmt.getChannels
        val bytes = ais.readAllBytes()
        val frames = bytes.length / (channels * 2)
        def sample(i: Int, c: Int): Int = {
          val off = (i * channels + c) * 2
          ((bytes(off + 1).toInt << 8) | (bytes(off) & 0xff))
        }
        var (s0, s1) = (0L, 0L)
        var i = 0
        while (i < frames) {
          s0 += sample(i, 0)
          if (channels > 1) s1 += sample(i, 1)
          i += 1
        }
        // frames==0 is a valid (if degenerate) WAV: null endpoint
        // samples, zero sums — the frameSample empty-payload precedent.
        Row(id, fmt.getSampleRate.toInt, channels, frames.toLong,
          if (frames > 0) sample(0, 0) else null,
          if (frames > 0) sample(frames - 1, 0) else null, s0,
          if (channels > 1) s1 else null)
      }
    }
    spark.createDataFrame(rdd, audioFeatureSchema)
  }

  val audioFrameSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("channels", IntegerType),
    StructField("frame", IntegerType),
    StructField("c0", IntegerType),
    StructField("c1", IntegerType)))

  /** REAL audio decode to the per-frame ROW shape (doc_id, frame, c0,
    * c1) — the layout downstream feature extractors consume. One output
    * row per PCM frame, produced inside the same mapPartitions codec
    * boundary (flatMap — no driver involvement, no whole-file
    * buffering beyond the payload itself); `c1` null for mono. */
  def decodeAudioFrames(audio: DataFrame): DataFrame = {
    val spark = audio.sparkSession
    val rdd = audio.select("doc_id", "payload").rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
        val channels = ais.getFormat.getChannels
        val bytes = ais.readAllBytes()
        val frames = bytes.length / (channels * 2)
        def sample(i: Int, c: Int): Int = {
          val off = (i * channels + c) * 2
          (bytes(off + 1).toInt << 8) | (bytes(off) & 0xff)
        }
        (0 until frames).iterator.map { i =>
          Row(id, channels, i, sample(i, 0),
            if (channels > 1) sample(i, 1) else null)
        }
      }
    }
    spark.createDataFrame(rdd, audioFrameSchema)
  }

  /** Windowed ENERGY features over decoded PCM rows: fixed windows of
    * `windowFrames` frames, per-window sum-of-squares (integer-exact
    * for 16-bit PCM), then per-doc totals and the PEAK window (argmax
    * by energy, ties to the earliest window — a total order). The plan
    * is a scan + two doc-keyed map-side-combined aggregates + one
    * bounded per-doc window (≤ n_frames/windowFrames rows per doc) —
    * the standard audio-feature pipeline shape at any corpus size. */
  def audioEnergyFeatures(frames: DataFrame,
                          windowFrames: Int = 16): DataFrame = {
    val w = frames
      .withColumn("window_idx", expr(s"frame div $windowFrames"))
      .groupBy(col("doc_id"), col("window_idx"))
      .agg(
        sum(col("c0").cast("long") * col("c0")).cast("long").as("energy"),
        sum(col("c1").cast("long") * col("c1")).cast("long")
          .as("energy_c1"),
        count(lit(1)).cast("long").as("window_frames"))
    val rw = Window.partitionBy(col("doc_id"))
      .orderBy(col("energy").desc, col("window_idx"))
    w.withColumn("rn", row_number().over(rw))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("window_frames")).cast("long").as("n_frames"),
        (max(col("window_idx")) + 1).cast("long").as("n_windows"),
        sum(col("energy")).cast("long").as("total_energy"),
        max(when(col("rn") === 1, col("window_idx"))).cast("long")
          .as("peak_window"),
        max(when(col("rn") === 1, col("energy"))).cast("long")
          .as("peak_energy"),
        sum(col("energy_c1")).cast("long").as("total_energy_c1"))
  }

  // ---------------------------------------------------------------------
  // Real-container video path (YUV4MPEG2 raw-frame parse — no codec
  // needed: Y4M is the uncompressed interchange format ffmpeg/mplayer
  // pipe, a text header plus raw C420 planes per FRAME marker)
  // ---------------------------------------------------------------------

  /** Deterministic video spec: even dims, a few frames, luma bytes from
    * a no-wrap closed form (≤ 120+45+60+21 < 256), neutral chroma
    * (128) — so frame counts and plane checksums are SQL-predictable. */
  private[graft] def vidWidth(id: Long): Int = 8 + (id % 5).toInt * 2
  private[graft] def vidHeight(id: Long): Int = 6 + (id % 4).toInt * 2
  private[graft] def vidFrames(id: Long): Int = 3 + (id % 5).toInt
  private[graft] def vidFpsNum(id: Long): Int = 24 + (id % 6).toInt
  private[graft] def vidLuma(id: Long, x: Int, y: Int, frame: Int): Int =
    (id % 120).toInt + 3 * x + 5 * y + 3 * frame

  /** Real YUV4MPEG2 encode for one doc: `YUV4MPEG2 W… H… F…:1 Ip A1:1
    * C420\n` then per frame `FRAME\n` + Y plane + U + V (C420: quarter
    * chroma). Executor-side. */
  private def synthY4mWith(id: Long,
                           luma: (Int, Int, Int) => Int): Array[Byte] = {
    val w = vidWidth(id); val h = vidHeight(id); val n = vidFrames(id)
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"YUV4MPEG2 W$w H$h F${vidFpsNum(id)}:1 Ip A1:1 C420\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    var f = 0
    while (f < n) {
      out.write("FRAME\n"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { out.write(luma(x, y, f)); x += 1 }
        y += 1
      }
      var c = 0
      while (c < 2 * (w / 2) * (h / 2)) { out.write(128); c += 1 }
      f += 1
    }
    out.toByteArray
  }

  private[graft] def synthY4mPayload(id: Long): Array[Byte] =
    synthY4mWith(id, (x, y, f) => vidLuma(id, x, y, f))

  /** SCENE-CUT video spec: same container/dims as [[synthY4mPayload]]
    * but the luma plane carries a +100 step from frame [[vidCutAt]] on
    * (a hard scene change); coefficients bounded so no byte wraps
    * (≤ 59+30+33+12+100 < 256). The cut position is a function of the
    * id only — the payload is the ONLY place the closed form lives on
    * the Spark side; the detector must rediscover it from bytes. */
  private[graft] def vidCutBase(id: Long): Int = (id % 60).toInt
  private[graft] def vidCutAt(id: Long): Int =
    1 + (id % (vidFrames(id) - 1)).toInt
  private[graft] def vidCutLuma(id: Long, x: Int, y: Int, f: Int): Int =
    vidCutBase(id) + 2 * x + 3 * y + 2 * f +
      (if (f >= vidCutAt(id)) 100 else 0)

  private[graft] def synthY4mCutPayload(id: Long): Array[Byte] =
    synthY4mWith(id, (x, y, f) => vidCutLuma(id, x, y, f))

  /** (doc_id, payload) with REAL Y4M bytes containing one scene cut. */
  def asVideoCutTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val rdd = docs.select("doc_id").rdd.mapPartitions { rows =>
      rows.map(r => Row(r.getLong(0), synthY4mCutPayload(r.getLong(0))))
    }
    spark.createDataFrame(rdd, schema)
  }

  /** (doc_id, payload) with REAL Y4M bytes, synthesized per-partition. */
  def asVideoTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val rdd = docs.select("doc_id").rdd.mapPartitions { rows =>
      rows.map(r => Row(r.getLong(0), synthY4mPayload(r.getLong(0))))
    }
    spark.createDataFrame(rdd, schema)
  }

  val videoFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("fps_num", IntegerType),
    StructField("n_frames", LongType),
    StructField("luma_first", IntegerType),
    StructField("luma_sum", LongType),
    StructField("chroma_sum", LongType)))

  /** REAL Y4M container parse (header tokens W/H/F, FRAME markers, C420
    * plane walk — the parse a frame extractor performs before any
    * codec): dimensions and frame rate from the actual header, frame
    * count from the actual markers, and luma/chroma checksums from the
    * actual plane bytes. Fails fast on a malformed container. */
  def decodeVideo(video: DataFrame): DataFrame = {
    val spark = video.sparkSession
    val rdd = video.select("doc_id", "payload").rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val b = r.getAs[Array[Byte]](1)
        val (v, frames) = parseY4m(id, b)
        var (lumaSum, chromaSum) = (0L, 0L)
        for (p <- frames) {
          var i = 0
          while (i < v.w * v.h) { lumaSum += (b(p + i) & 0xff); i += 1 }
          while (i < v.frameBytes) { chromaSum += (b(p + i) & 0xff); i += 1 }
        }
        val lumaFirst = frames.headOption.fold(-1)(b(_) & 0xff)
        Row(id, v.w, v.h, v.fpsNum, frames.size.toLong, lumaFirst,
          lumaSum, chromaSum)
      }
    }
    spark.createDataFrame(rdd, videoFeatureSchema)
  }

  /** The header fields of a YUV4MPEG2 C420 stream. */
  private final case class Y4m(w: Int, h: Int, fpsNum: Int) {
    def frameBytes: Int = w * h + 2 * (w / 2) * (h / 2)
  }

  /** The container walk of [[decodeVideo]] and [[decodeVideoFrameLuma]]:
    * header tokens W/H/F, then one FRAME marker before each frame's
    * planes. Returns the header and the byte offset of each frame's
    * planes; fails fast on a malformed container. */
  private def parseY4m(id: Long, b: Array[Byte]): (Y4m, IndexedSeq[Int]) = {
    var p = 0
    def readLine(): String = {
      val start = p
      while (p < b.length && b(p) != '\n') p += 1
      val s = new String(b, start, p - start,
        java.nio.charset.StandardCharsets.US_ASCII)
      p += 1 // consume \n
      s
    }
    val header = readLine()
    require(header.startsWith("YUV4MPEG2 "),
      s"doc $id: not a YUV4MPEG2 stream")
    val tokens = header.split(' ').drop(1)
      .map(t => t.head -> t.tail).toMap
    val shape = Y4m(tokens('W').toInt, tokens('H').toInt,
      tokens('F').split(':')(0).toInt)
    val frames = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (p < b.length) {
      require(readLine().startsWith("FRAME"),
        s"doc $id: missing FRAME marker at offset $p")
      require(p + shape.frameBytes <= b.length,
        s"doc $id: truncated frame ${frames.size}")
      frames += p
      p += shape.frameBytes
    }
    (shape, frames.toIndexedSeq)
  }

  val videoFrameLumaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("frame", LongType),
    StructField("luma_sum", LongType)))

  /** REAL Y4M parse to per-FRAME rows (doc_id, width, height, frame,
    * luma_sum) — the plane walk of [[decodeVideo]] emitting one row per
    * frame instead of one checksum per doc: the shape scene-change /
    * shot-boundary detection needs (a lag window over frame energy).
    * Same codec-boundary contract: `mapPartitions` only for the byte
    * walk, declared schema out, everything downstream re-enters
    * codegen. */
  def decodeVideoFrameLuma(video: DataFrame): DataFrame = {
    val spark = video.sparkSession
    val rdd = video.select("doc_id", "payload").rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        val b = r.getAs[Array[Byte]](1)
        val (v, frames) = parseY4m(id, b)
        frames.zipWithIndex.map { case (p, f) =>
          var lumaSum = 0L
          var i = 0
          while (i < v.w * v.h) { lumaSum += (b(p + i) & 0xff); i += 1 }
          Row(id, v.w, v.h, f.toLong, lumaSum)
        }
      }
    }
    spark.createDataFrame(rdd, videoFrameLumaSchema)
  }

  // ---------------------------------------------------------------------
  // Real COMPRESSED-codec video path: MJPEG in a real AVI (RIFF)
  // container. Each frame is a genuine JPEG (the JDK's ImageIO codec —
  // actual DCT/quantization/Huffman compression, not a stub); frames
  // are UNIFORM GRAY because that is the measured exactness envelope:
  // at quality 1.0 a uniform gray frame round-trips bit-exactly through
  // the JDK JPEG codec for all 256 gray values (verified empirically;
  // chroma-subsampled COLOR does not), which is what lets the DuckDB
  // oracle predict the decoded gray values in closed form and hash-gate
  // a lossy-codec pipeline end to end. H.264 and friends remain out of
  // scope (no JDK codec).
  // ---------------------------------------------------------------------

  /** Deterministic MJPEG spec: 8-aligned dims (whole JPEG MCU blocks),
    * a few frames, one closed-form gray value per frame (≤ 199+7·4 <
    * 256 — no wrap). */
  private[graft] def mjWidth(id: Long): Int = 16 + (id % 5).toInt * 8
  private[graft] def mjHeight(id: Long): Int = 16 + (id % 3).toInt * 8
  private[graft] def mjFrames(id: Long): Int = 2 + (id % 4).toInt
  private[graft] def mjGray(id: Long, frame: Int): Int =
    (id % 200).toInt + 7 * frame

  /** Real JPEG encode (quality 1.0) of a uniform-gray frame. */
  private[graft] def synthJpegFrame(gray: Int, w: Int,
                                    h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val rgb = (gray << 16) | (gray << 8) | gray
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val wr = javax.imageio.ImageIO
      .getImageWritersByFormatName("jpg").next()
    val p = wr.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(1.0f)
    val baos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    wr.setOutput(ios)
    wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.flush(); wr.dispose()
    baos.toByteArray
  }

  /** Real minimal RIFF/AVI container around the MJPEG frames:
    * `RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf))
    * LIST('movi' 00dc…))` with little-endian chunk sizes and even
    * padding — the structure any AVI demuxer walks. Executor-side. */
  private[graft] def synthAviPayload(id: Long): Array[Byte] = {
    val w = mjWidth(id); val h = mjHeight(id); val n = mjFrames(id)
    val frames = (0 until n).map(f => synthJpegFrame(mjGray(id, f), w, h))
    def le32(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def fourcc(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    def chunk(id4: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte)
                else Array.empty[Byte]
      fourcc(id4) ++ le32(body.length) ++ body ++ pad
    }
    def list(kind: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", fourcc(kind) ++ body)
    // avih: 14 DWORDs (56 bytes)
    val avih = chunk("avih",
      le32(41667) ++ le32(0) ++ le32(0) ++ le32(0) ++ // usec/frame ~24fps
        le32(n) ++ le32(0) ++ le32(1) ++ le32(0) ++   // totalframes, streams
        le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
    // strh: 'vids'/'MJPG', scale 1 rate 24, length n (56 bytes)
    val strh = chunk("strh",
      fourcc("vids") ++ fourcc("MJPG") ++ le32(0) ++ le32(0) ++ le32(0) ++
        le32(1) ++ le32(24) ++ le32(0) ++ le32(n) ++ le32(0) ++ le32(0) ++
        le32(0) ++ le32(0) ++ le32(0))
    // strf: BITMAPINFOHEADER with biCompression = 'MJPG' (40 bytes)
    val strf = chunk("strf",
      le32(40) ++ le32(w) ++ le32(h) ++
        Array(1.toByte, 0.toByte, 24.toByte, 0.toByte) ++
        fourcc("MJPG") ++ le32(w * h * 3) ++
        le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
    val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
    val movi = list("movi",
      frames.map(f => chunk("00dc", f)).reduce(_ ++ _))
    val body = fourcc("AVI ") ++ hdrl ++ movi
    fourcc("RIFF") ++ le32(body.length) ++ body
  }

  /** (doc_id, payload) with REAL AVI/MJPEG bytes, per-partition. */
  def asAviTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val rdd = docs.select("doc_id").rdd.mapPartitions { rows =>
      rows.map(r => Row(r.getLong(0), synthAviPayload(r.getLong(0))))
    }
    spark.createDataFrame(rdd, schema)
  }

  val aviFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("container_frames", IntegerType),
    StructField("n_frames", LongType),
    StructField("gray_first", IntegerType),
    StructField("gray_sum", LongType)))

  /** REAL AVI demux + REAL JPEG decode: walks the RIFF chunk tree
    * (header dims/frame-count from `avih`), then decompresses every
    * `00dc` MJPEG chunk with `ImageIO`'s JPEG codec and reads the
    * decoded gray value (center pixel; the frame is uniform, and
    * uniform-gray JPEG at quality 1.0 round-trips exactly — see the
    * section comment). `gray_sum` accumulates the decoded values over
    * all frames, so a single mis-decoded DCT block anywhere in any
    * frame breaks the hash gate. */
  def decodeAviMjpeg(avi: DataFrame): DataFrame = {
    val spark = avi.sparkSession
    val rdd = avi.select("doc_id", "payload").rdd.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val id = r.getLong(0)
        val b = r.getAs[Array[Byte]](1)
        def le32(off: Int): Int =
          (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
            ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
        def cc(off: Int): String = new String(b, off, 4,
          java.nio.charset.StandardCharsets.US_ASCII)
        require(cc(0) == "RIFF" && cc(8) == "AVI ",
          s"doc $id: not a RIFF/AVI container")
        var (w, h, containerFrames) = (0, 0, 0)
        var frames = 0L
        var grayFirst = -1
        var graySum = 0L
        // walk a chunk run in [from, until); recurse into LISTs
        def walk(from: Int, until: Int): Unit = {
          var p = from
          while (p + 8 <= until) {
            val id4 = cc(p); val sz = le32(p + 4)
            val body = p + 8
            id4 match {
              case "LIST" => walk(body + 4, body + sz) // skip list kind
              case "avih" =>
                containerFrames = le32(body + 16)
                w = le32(body + 32); h = le32(body + 36)
              case "00dc" =>
                val img = javax.imageio.ImageIO.read(
                  new java.io.ByteArrayInputStream(b, body, sz))
                require(img != null, s"doc $id: undecodable JPEG frame")
                val g = img.getRGB(img.getWidth / 2,
                  img.getHeight / 2) & 0xff
                if (grayFirst < 0) grayFirst = g
                graySum += g
                frames += 1
              case _ => () // strh/strf/padding: not needed for features
            }
            p = body + sz + (sz % 2) // chunks are even-aligned
          }
        }
        walk(12, b.length)
        Row(id, w, h, containerFrames, frames, grayFirst, graySum)
      }
    }
    spark.createDataFrame(rdd, aviFeatureSchema)
  }

  // ---------------------------------------------------------------------
  // MJPEG in a real QuickTime/MOV container — the second real container
  // around the same measured-exact JPEG frames. Unlike RIFF/AVI (little-
  // endian, frames discovered by walking in-stream chunks), QuickTime is
  // BIG-endian and TABLE-DRIVEN: frame bytes live in 'mdat' as an opaque
  // run, and the only way to find them is the sample tables under
  // moov/trak/mdia/minf/stbl — stsz (sample sizes), stsc (sample→chunk
  // mapping), stco (absolute chunk offsets). The demuxer below runs the
  // standard stsc expansion, so the gate covers the real QuickTime
  // sample-location algorithm plus the time atoms (mvhd timescale, stts
  // durations), not just frame decode.
  // ---------------------------------------------------------------------

  private val MovTimescale = 2400
  private val MovFrameDelta = 100 // stts per-frame duration (ticks)

  /** Real minimal QuickTime container around the MJPEG frames:
    * `ftyp('qt  ') mdat(frames) moov(mvhd trak(tkhd mdia(mdhd hdlr
    * minf(vmhd dinf(dref url) stbl(stsd('jpeg') stts stsc stsz
    * stco)))))` with big-endian sizes and the standard field layouts.
    * `chunks` > 1 splits the samples over several mdat chunks (front-
    * loaded split), producing a multi-row stsc/stco pair — the layout
    * real muxers emit under interleaving, used by the spec to exercise
    * the demuxer's full sample-location expansion. Executor-side. */
  private[graft] def synthMovPayload(id: Long,
                                     chunks: Int = 1): Array[Byte] = {
    val w = mjWidth(id); val h = mjHeight(id); val n = mjFrames(id)
    val frames = (0 until n).map(f => synthJpegFrame(mjGray(id, f), w, h))
    def be32(v: Int): Array[Byte] = Array((v >>> 24).toByte,
      (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def be16(v: Int): Array[Byte] =
      Array((v >>> 8).toByte, v.toByte)
    def fourcc(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    def atom(tp: String, body: Array[Byte]): Array[Byte] =
      be32(body.length + 8) ++ fourcc(tp) ++ body
    val zero4 = be32(0)
    val duration = n * MovFrameDelta
    val ftyp = atom("ftyp", fourcc("qt  ") ++ zero4 ++ fourcc("qt  "))
    val mdatBody = frames.reduce(_ ++ _)
    val mdat = atom("mdat", mdatBody)
    // absolute offset of the single chunk (= first frame byte)
    val chunkOffset = ftyp.length + 8
    val identityMatrix = be32(0x00010000) ++ zero4 ++ zero4 ++
      zero4 ++ be32(0x00010000) ++ zero4 ++ zero4 ++ zero4 ++
      be32(0x40000000)
    val mvhd = atom("mvhd", zero4 /*version+flags*/ ++ zero4 ++ zero4 ++
      be32(MovTimescale) ++ be32(duration) ++ be32(0x00010000) ++
      be16(0x0100) ++ Array.fill(10)(0.toByte) ++ identityMatrix ++
      Array.fill(24)(0.toByte) ++ be32(2))
    val tkhd = atom("tkhd", be32(0x0000000F) /*version+flags: enabled*/ ++
      zero4 ++ zero4 ++ be32(1) /*track id*/ ++ zero4 ++
      be32(duration) ++ Array.fill(8)(0.toByte) ++ be16(0) ++ be16(0) ++
      be16(0) ++ be16(0) ++ identityMatrix ++
      be32(w << 16) ++ be32(h << 16)) // 16.16 fixed dims
    val mdhd = atom("mdhd", zero4 ++ zero4 ++ zero4 ++
      be32(MovTimescale) ++ be32(duration) ++ be16(0) ++ be16(0))
    val hdlr = atom("hdlr", zero4 ++ fourcc("mhlr") ++ fourcc("vide") ++
      zero4 ++ zero4 ++ zero4 ++ Array(0.toByte) /*empty pstring name*/)
    val vmhd = atom("vmhd", be32(1) ++ be16(0) ++
      Array.fill(6)(0.toByte))
    val dref = atom("dref", zero4 ++ be32(1) ++
      atom("url ", be32(1) /*self-contained*/))
    val dinf = atom("dinf", dref)
    // 86-byte video sample description, codec 'jpeg'
    val desc = be32(86) ++ fourcc("jpeg") ++
      Array.fill(6)(0.toByte) ++ be16(1) /*data ref index*/ ++
      be16(0) ++ be16(0) ++ zero4 ++ zero4 ++ zero4 ++
      be16(w) ++ be16(h) ++ be32(0x00480000) ++ be32(0x00480000) ++
      zero4 ++ be16(1) ++ Array.fill(32)(0.toByte) ++
      be16(24) ++ be16(0xFFFF)
    val stsd = atom("stsd", zero4 ++ be32(1) ++ desc)
    val stts = atom("stts", zero4 ++ be32(1) ++ be32(n) ++
      be32(MovFrameDelta))
    // front-loaded chunking: ceil(n/chunks) samples per chunk until
    // samples run out; consecutive equal rows collapse per the stsc
    // contract (a row covers chunks up to the next row's firstChunk)
    val nChunks = math.max(1, math.min(chunks, n))
    val per = (n + nChunks - 1) / nChunks
    val perChunk = (0 until nChunks).map(c =>
      math.min(per, n - c * per)).filter(_ > 0)
    val stscRows = perChunk.zipWithIndex
      .filter { case (p, i) => i == 0 || p != perChunk(i - 1) }
      .flatMap { case (p, i) => Seq(be32(i + 1), be32(p), be32(1)) }
      .reduce(_ ++ _)
    val stsc = atom("stsc", zero4 ++ be32(stscRows.length / 12) ++
      stscRows)
    val stsz = atom("stsz", zero4 ++ be32(0) /*no uniform size*/ ++
      be32(n) ++ frames.flatMap(f => be32(f.length).toSeq).toArray)
    val chunkStarts = perChunk.scanLeft(0)(_ + _).dropRight(1).map(s =>
      chunkOffset + frames.take(s).map(_.length).sum)
    val stco = atom("stco", zero4 ++ be32(chunkStarts.length) ++
      chunkStarts.map(be32).reduce(_ ++ _))
    val stbl = atom("stbl", stsd ++ stts ++ stsc ++ stsz ++ stco)
    val minf = atom("minf", vmhd ++ dinf ++ stbl)
    val mdia = atom("mdia", mdhd ++ hdlr ++ minf)
    val trak = atom("trak", tkhd ++ mdia)
    val moov = atom("moov", mvhd ++ trak)
    ftyp ++ mdat ++ moov
  }

  /** (doc_id, payload) with REAL QuickTime/MJPEG bytes, per-partition. */
  def asMovTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val rdd = docs.select("doc_id").rdd.mapPartitions { rows =>
      rows.map(r => Row(r.getLong(0), synthMovPayload(r.getLong(0))))
    }
    spark.createDataFrame(rdd, schema)
  }

  val movFeatureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("timescale", IntegerType),
    StructField("duration_ts", LongType),
    StructField("container_frames", IntegerType),
    StructField("n_frames", LongType),
    StructField("gray_first", IntegerType),
    StructField("gray_sum", LongType)))

  /** REAL QuickTime demux + REAL JPEG decode: walks the big-endian atom
    * tree, requires a 'vide' handler and a 'jpeg' sample description,
    * reads dims from tkhd's 16.16 fixed fields and time metadata from
    * mvhd/stts, then locates every frame via the STANDARD sample-table
    * expansion — stsc rows map chunks to samples-per-chunk, stco gives
    * each chunk's absolute offset, stsz the per-sample byte sizes —
    * and decodes each located range with ImageIO. A wrong entry in ANY
    * table misplaces a frame and breaks the hash gate. */
  def decodeMovMjpeg(mov: DataFrame): DataFrame = {
    val spark = mov.sparkSession
    val rdd = mov.select("doc_id", "payload").rdd.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val id = r.getLong(0)
        val b = r.getAs[Array[Byte]](1)
        def be32(off: Int): Int =
          ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
            ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
        def be16(off: Int): Int =
          ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
        def cc(off: Int): String = new String(b, off, 4,
          java.nio.charset.StandardCharsets.US_ASCII)
        var (w, h, timescale) = (0, 0, 0)
        var duration = 0L
        var isVideo = false
        var codec = ""
        var sizes = Array.empty[Int]
        var chunkOffsets = Array.empty[Int]
        // (firstChunk, samplesPerChunk) rows of stsc
        var stscRows = Array.empty[(Int, Int)]
        var containerFrames = 0
        def walk(from: Int, until: Int): Unit = {
          var p = from
          while (p + 8 <= until) {
            val sz = be32(p); val tp = cc(p + 4); val body = p + 8
            tp match {
              case "moov" | "trak" | "mdia" | "minf" | "stbl" =>
                walk(body, p + sz)
              case "mvhd" =>
                timescale = be32(body + 12)
              case "tkhd" =>
                w = be32(body + 76) >>> 16 // 16.16 fixed
                h = be32(body + 80) >>> 16
              case "hdlr" =>
                isVideo = isVideo || cc(body + 8) == "vide"
              case "stsd" =>
                codec = cc(body + 12) // first description's fourcc
              case "stts" =>
                val n = be32(body + 4)
                var i = 0
                while (i < n) {
                  duration += be32(body + 8 + i * 8).toLong *
                    be32(body + 12 + i * 8)
                  i += 1
                }
              case "stsc" =>
                stscRows = Array.tabulate(be32(body + 4))(i =>
                  (be32(body + 8 + i * 12), be32(body + 12 + i * 12)))
              case "stsz" =>
                val uniform = be32(body + 4)
                containerFrames = be32(body + 8)
                sizes =
                  if (uniform != 0) Array.fill(containerFrames)(uniform)
                  else Array.tabulate(containerFrames)(i =>
                    be32(body + 12 + i * 4))
              case "stco" =>
                chunkOffsets = Array.tabulate(be32(body + 4))(i =>
                  be32(body + 8 + i * 4))
              case _ => () // ftyp/mdat/mdhd/vmhd/dinf: nothing needed
            }
            p += math.max(sz, 8) // guard corrupt zero-size atoms
          }
        }
        walk(0, b.length)
        require(isVideo && codec == "jpeg",
          s"doc $id: no jpeg video track (codec='$codec')")
        // standard sample-location expansion: stsc row i applies to
        // chunks [firstChunk_i, firstChunk_{i+1}); samples are
        // consecutive across chunks in chunk order
        var frames = 0L
        var grayFirst = -1
        var graySum = 0L
        var sample = 0
        var chunk = 0
        while (chunk < chunkOffsets.length && sample < sizes.length) {
          val perChunk = stscRows
            .takeWhile(_._1 <= chunk + 1).lastOption.map(_._2)
            .getOrElse(0)
          var off = chunkOffsets(chunk)
          var k = 0
          while (k < perChunk && sample < sizes.length) {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(b, off, sizes(sample)))
            require(img != null, s"doc $id: undecodable JPEG sample")
            val g = img.getRGB(img.getWidth / 2, img.getHeight / 2) & 0xff
            if (grayFirst < 0) grayFirst = g
            graySum += g
            frames += 1
            off += sizes(sample)
            sample += 1; k += 1
          }
          chunk += 1
        }
        Row(id, w, h, timescale, duration, containerFrames, frames,
          grayFirst, graySum)
      }
    }
    spark.createDataFrame(rdd, movFeatureSchema)
  }

  // ---------------------------------------------------------------------
  // Perceptual-hash (dHash) image near-dup path
  // ---------------------------------------------------------------------

  /** Deterministic 9×8 grayscale spec for the perceptual-hash family.
    * Pixel values are md5-derived with the same hex6 semantics as
    * [[TextAnalysis.hex6Expr]] (first 6 hex digits of `md5("ph|b|x|y")`
    * as an integer), so dHash bits are genuinely pseudo-random: 16-bit
    * band keys spread uniformly and the bucket join below stays tiny.
    * Every 5th doc (id % 5 == 4, id ≥ 4) is a NEAR-COPY of doc id-3 —
    * identical pixels except ONE (x, y) position shifted by +100
    * (mod 251), which flips at most 2 of the 64 dHash bits: inside the
    * 4×16-bit pigeonhole guarantee (any pair at Hamming ≤ 3 agrees on
    * at least one band). */
  private[graft] val phW = 9
  private[graft] val phH = 8
  private[graft] def phBase(id: Long): Long =
    if (id % 5 == 4 && id >= 4) id - 3 else id
  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
  private[graft] def phGray(id: Long, x: Int, y: Int): Int =
    gridGray(phW, id, x, y)

  /** Gray of pixel (x, y) on a `w`×8 grid: md5 of the base image's
    * coordinates, and a planted near-copy perturbs one pixel at
    * (id % w, (id / w) % 8). */
  private def gridGray(w: Int, id: Long, x: Int, y: Int): Int = {
    val b = phBase(id)
    val hv =
      java.lang.Integer.parseInt(md5Hex(s"ph|$b|$x|$y").substring(0, 6), 16)
    val g = hv % 251
    if (id != b && x == (id % w).toInt && y == ((id / w) % 8).toInt)
      (g + 100) % 251
    else g
  }

  /** Real PNG encode of a grayscale spec image (gray replicated into
    * all three channels — PNG truecolor is lossless, so the decode side
    * reads back exact values). Runs executor-side like the other
    * payload synthesizers. */
  private def synthGrayPng(w: Int, h: Int,
                           gray: (Int, Int) => Int): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = gray(x, y)
        im.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", baos)
    baos.toByteArray
  }

  private[graft] def synthPhashPayload(id: Long): Array[Byte] =
    synthGrayPng(phW, phH, phGray(id, _, _))

  /** (doc_id, payload) with REAL PNG bytes for the perceptual-hash
    * family, synthesized per-partition. */
  def asPhashImageTable(docs: DataFrame): DataFrame =
    synthImageTable(docs, synthPhashPayload)

  /** [[asPhashImageTable]] or [[asPhash128ImageTable]] of `docs`, for
    * hash width `bits` (64 or 128). */
  def phashImageTable(docs: DataFrame)(bits: Int): DataFrame =
    if (bits == 64) asPhashImageTable(docs) else asPhash128ImageTable(docs)

  /** (doc_id, payload) with `payload(doc_id)` bytes, synthesized
    * per-partition. */
  private def synthImageTable(docs: DataFrame,
                              payload: Long => Array[Byte]): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    val rdd = docs.select("doc_id").rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        Row(id, payload(id))
      }
    }
    docs.sparkSession.createDataFrame(rdd, schema)
  }

  val dhashSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("hash_lo", LongType),
    StructField("hash_hi", LongType)))

  /** dHash (difference hash) over the REAL decoded raster: bit (r, c) =
    * [gray(c+1, r) > gray(c, r)] on the 9×8 grid, 64 bits packed as two
    * 32-bit halves so both engines stay in non-negative BIGINT space
    * (no sign-bit traps in band extraction). dHash is the standard
    * image near-dup fingerprint; its canonical downsample size IS 9×8,
    * so for this family the resize stage is the identity and the
    * decode is the real codec boundary. */
  def dHash64(images: DataFrame): DataFrame =
    dHashTable(images, phW, "phash", dhashSchema)

  /** dHash of each decoded `w`×8 PNG payload in `images` as (doc_id, then
    * its 32-bit words): bit row·(w−1) + c is [gray(c+1, row) > gray(c,
    * row)], packed low bit first. */
  private def dHashTable(images: DataFrame, w: Int, family: String,
                         schema: StructType): DataFrame = {
    val rdd = images.select("doc_id", "payload").rdd.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val id = r.getLong(0)
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
        require(img != null && img.getWidth == w && img.getHeight == phH,
          s"bad $family payload for doc $id")
        val words = new Array[Long]((w - 1) * phH / 32)
        var row = 0
        while (row < phH) {
          var c = 0
          while (c < w - 1) {
            val a = img.getRGB(c, row) & 0xff
            val b = img.getRGB(c + 1, row) & 0xff
            if (b > a) {
              val pos = row * (w - 1) + c
              words(pos >> 5) |= 1L << (pos & 31)
            }
            c += 1
          }
          row += 1
        }
        Row.fromSeq(id +: words.toSeq)
      }
    }
    images.sparkSession.createDataFrame(rdd, schema)
  }

  /** Banded Hamming near-dup pairing over 64-bit dHashes: 4×16-bit
    * pigeonhole bands (EXACT recall for Hamming ≤ 3) generate
    * candidates — the same LSH bucket-join shape as
    * [[Dedup.simhashNearDups]], never all-pairs — then one codegen'd
    * xor + bit_count per half verifies, BEFORE the multi-band pair
    * dedup shuffle. At 100 TB the knob is band width: wider keys (more,
    * narrower bands) keep buckets small as the corpus grows. */
  /** The 4×16-bit pigeonhole band rows of each 64-bit dHash —
    * (doc_id, hash_lo, hash_hi, band, band_key). Shared by the
    * in-batch pairing below and the persisted [[PhashIndex]]. */
  def phashBands(hashes: DataFrame): DataFrame =
    hashes.select(col("doc_id"), col("hash_lo"), col("hash_hi"),
      explode(array(
        struct(lit(0).as("band"), (col("hash_lo") % 65536L).as("band_key")),
        struct(lit(1).as("band"),
          expr("hash_lo div 65536").as("band_key")),
        struct(lit(2).as("band"), (col("hash_hi") % 65536L).as("band_key")),
        struct(lit(3).as("band"),
          expr("hash_hi div 65536").as("band_key")))).as("bk"))
      .select(col("doc_id"), col("hash_lo"), col("hash_hi"),
        col("bk.band").as("band"), col("bk.band_key").as("band_key"))

  def phashNearDups(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    val banded = phashBands(hashes)
    val l = banded.select(col("band"), col("band_key"),
      col("doc_id").as("doc_a"), col("hash_lo").as("lo_a"),
      col("hash_hi").as("hi_a"))
    val r = banded.select(col("band"), col("band_key"),
      col("doc_id").as("doc_b"), col("hash_lo").as("lo_b"),
      col("hash_hi").as("hi_b"))
    l.join(r, Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming", "lo_a", "hi_a", "lo_b", "hi_b")
      .distinct()
  }

  // ---------------------------------------------------------------------
  // 128-bit dHash (r18) — the probe-saturation defense for persisted
  // image indexes: a 17×8 grid gives 16 horizontal diffs × 8 rows =
  // 128 bits, packed as FOUR 32-bit words, and the pigeonhole bands ARE
  // the words — 4 bands × 32-bit keys. Recall for Hamming ≤ 3 is the
  // same pigeonhole guarantee as the 64-bit layout, but expected probe
  // candidates per band are |index|/2^32 instead of |index|/65536: the
  // band width scales with the HASH, not the corpus, so the committed
  // index can grow ~65k× further before band collisions dominate (the
  // measured r17 weak mark — phash_index_chain shuffle-tail 1.43@100×
  // — is exactly the 16-bit keyspace filling up).
  // ---------------------------------------------------------------------

  private[graft] val ph128W = 17

  /** Same md5 gray spec as [[phGray]] over the wider grid; the planted
    * near-copy's single perturbed pixel moves to (id % 17, (id/17) % 8)
    * and still flips at most 2 of the 128 dHash bits. */
  private[graft] def ph128Gray(id: Long, x: Int, y: Int): Int =
    gridGray(ph128W, id, x, y)

  /** (doc_id, payload) with REAL 17×8 PNG bytes for the 128-bit
    * perceptual-hash family, synthesized per-partition. */
  def asPhash128ImageTable(docs: DataFrame): DataFrame =
    synthImageTable(docs,
      id => synthGrayPng(ph128W, phH, ph128Gray(id, _, _)))

  val dhash128Schema: StructType = StructType(
    StructField("doc_id", LongType) +:
      (0 until 4).map(w => StructField(s"h$w", LongType)))

  /** 128-bit dHash over the REAL decoded raster: bit (r, c) =
    * [gray(c+1, r) > gray(c, r)] on the 17×8 grid, packed as four
    * 32-bit words (h0..h3) so every value stays in non-negative BIGINT
    * space in both engines. */
  def dHash128(images: DataFrame): DataFrame =
    dHashTable(images, ph128W, "phash128", dhash128Schema)

  /** The 4×32-bit pigeonhole band rows of each 128-bit dHash — the
    * bands ARE the packed words: (doc_id, h0..h3, band, band_key).
    * Shared by the in-batch pairing and the persisted 128-bit
    * [[PhashIndex]]. */
  def phash128Bands(hashes: DataFrame): DataFrame = {
    val words = (0 until 4).map(w => col(s"h$w"))
    hashes.select((col("doc_id") +: words :+
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), col(s"h$b").as("band_key"))): _*))
        .as("bk")): _*)
      .select((col("doc_id") +: words :+
        col("bk.band").as("band") :+ col("bk.band_key").as("band_key")): _*)
  }

  /** Typed media wrapper: payload + metadata, media type derived
    * deterministically from the id. */
  def asMediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("media_type"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        col("source").as("origin"),
        col("n_chars").as("claimed_size")).as("meta"))

  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("media_type", StringType),
    StructField("payload_bytes", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("features", ArrayType(FloatType)),
    StructField("features_q", ArrayType(LongType))))

  /** Aspect-preserving resize SPEC: target-box output dimensions
    * computed from the decoded dims — the metadata half of a resize
    * (the pixel resample itself would sit in the mapPartitions codec
    * stage next to the decode stub). Pure per-row integer/double math,
    * scan-shaped. */
  def resizeSpec(decoded: DataFrame, target: Int = 224): DataFrame =
    decoded
      .withColumn("scale",
        least(lit(target.toDouble) / col("width"),
          lit(target.toDouble) / col("height")))
      .withColumn("out_width",
        floor(col("width") * col("scale")).cast("int"))
      .withColumn("out_height",
        floor(col("height") * col("scale")).cast("int"))
      .withColumn("is_upscale", col("scale") > 1.0)

  /** Frame SAMPLING plan for video/audio payloads: the payload is
    * treated as fixed-size frames and every `stride`-th frame index is
    * emitted as its own row with its byte offset and lead byte — the
    * row-shape a real frame extractor would feed to a batch decoder.
    * `sequence(0, n-1, stride)` + explode keeps it codegen'd (no
    * interpreted HOF in the hot path; the array is tiny and
    * immediately exploded).
    *
    * Empty payloads are filtered out BEFORE the explode: with n_frames=0
    * Spark's `sequence(0, -1, stride)` throws "Illegal sequence
    * boundaries" at runtime (DuckDB's generate_series would instead
    * return an empty list, silently dropping the row), so the explicit
    * filter keeps both engines on the same no-row semantics and keeps a
    * single empty document from killing the job.
    *
    * ASCII-ONLY ASSUMPTION (same caveat as the decode stub): the lead
    * byte is read via `substr` on the UTF-8-DECODED payload, which is
    * character-indexed — correct only while one char == one byte. A
    * byte-true version would slice the binary column directly, but the
    * DuckDB oracle has no portable blob-byte→int, so the char-indexed
    * form is the engine-portable contract and non-ASCII payloads are
    * out of scope for this stub stage. */
  def frameSample(media: DataFrame, frameBytes: Int = 16,
                  stride: Int = 3): DataFrame =
    media
      .withColumn("payload_bytes",
        octet_length(col("payload")).cast("long"))
      .filter(col("payload_bytes") > 0)
      .withColumn("n_frames",
        expr(s"(payload_bytes + ${frameBytes - 1}) div $frameBytes"))
      .withColumn("frame_idx",
        explode(expr(s"sequence(0L, n_frames - 1, $stride)")))
      .withColumn("frame_offset", col("frame_idx") * frameBytes)
      .withColumn("frame_lead_byte",
        ascii(decode(col("payload"), "UTF-8")
          .substr((col("frame_offset") + 1).cast("int"), lit(1))))
      .select("doc_id", "media_type", "payload_bytes", "n_frames",
        "frame_idx", "frame_offset", "frame_lead_byte")

  /** STUB decoder — the documented FALLBACK for non-JDK formats
    * (video, where the JVM ships no codec; images go through the real
    * `ImageIO` path in [[decodeImages]], WAV audio through the real
    * `javax.sound.sampled` path in [[decodeAudio]]): a real implementation
    * would call a codec here; this deterministic fake derives "decoded"
    * dimensions and a 4-dim feature vector from the bytes so tests have
    * stable expectations. Runs per-partition — the batch boundary where
    * a vectorized codec (or `mapInPandas` in PySpark) would sit.
    *
    * Alongside the float `features` it emits `features_q`: the same
    * signal computed purely in INTEGER space (`byte*10000 + nBytes`).
    * Downstream checks compare `features_q`, never the floats — float32
    * arithmetic is not bit-reproducible across engines, integers are
    * (same rule as llm/Similarity.scala's quantized dot products).
    *
    * Note the deliberate Tungsten exit: `.rdd.mapPartitions` leaves
    * whole-stage codegen for the codec batch boundary (the JVM analogue
    * of `mapInPandas`). That cost is confined to this one stage; callers
    * get a DataFrame with a declared schema back, so everything
    * downstream re-enters codegen. */
  def decodeAndFeaturize(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select("doc_id", "media_type", "payload").rdd
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val mt = r.getString(1)
          val payload = r.getAs[Array[Byte]](2)
          // --- stubbed decode: deterministic fake, NOT a real codec ---
          val n = payload.length
          val width = 64 + (n % 577)
          val height = 64 + ((n * 31) % 419)
          val channels = if (mt == "audio") 1 else 3
          val qs = Array.tabulate(4) { i =>
            val b = if (n > i) payload(i) & 0xff else 0
            b.toLong * 10000L + n
          }
          val features = qs.map(q => q.toFloat / 10000.0f)
          Row(id, mt, n.toLong, width, height, channels, features.toSeq,
            qs.toSeq)
        }
      }
    spark.createDataFrame(rdd, featureSchema)
  }
}
