package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed batch-wise.
  *
  * The Spark-side contract is real and tested — schema, partition-parallel
  * batch processing (`mapPartitions`, the JVM analogue of `mapInPandas`
  * batches), deterministic output shape. All three media classes decode
  * through REAL JDK codecs, each verified by a SQL oracle that predicts
  * the decoded features arithmetically:
  *
  *   - images (png/jpeg/gif/bmp): `javax.imageio` — q_image_decode;
  *   - audio (WAV/PCM): `javax.sound.sampled` — q_audio_decode;
  *   - multi-frame/video stand-in (animated GIF, the JDK's only
  *     multi-frame container): ImageIO sequence reader/writer —
  *     q_video_frames. Formats needing external codecs (mp4/h264) would
  *     slot into the same `decodeGifFrames`-shaped seam.
  *
  * Payloads no installed codec recognizes (corrupt bytes, genuinely exotic
  * formats) degrade to [[byteStats]] — real byte-histogram statistics,
  * Shannon entropy and Deflater compressibility — instead of failing the
  * partition.
  */
object Multimodal {

  // ImageIO's default ImageInputStream/ImageOutputStream cache is a TEMP
  // FILE per encode/decode (FileCacheImageInputStream): at one PNG round
  // trip per row that is two file creations + deletions per document —
  // pure I/O overhead, dominating the codec itself on small images.
  // Memory-cached streams produce byte-identical codec results (the cache
  // only buffers the stream for backwards seeks), so every oracle-checked
  // feature is unchanged. JVM-global, set once when the operator loads on
  // the executor (guide §1.2 step 2: per-task work).
  ImageIO.setUseCache(false)

  /** A media row: opaque payload + typed metadata. */
  final case class MediaRow(
      media_id: Long,
      payload: Array[Byte],
      format: String,
      width: Int,
      height: Int)

  final case class MediaFeatures(
      media_id: Long,
      byte_len: Long,
      checksum: String,
      n_frames: Int,
      features: Array[Double])

  /** Formats [[extractFeatures]] decodes for real via `javax.imageio`
    * (ships with the JDK — no extra jars). Everything else (audio/video/
    * text payloads) falls back to [[byteStats]].
    */
  val ImageFormats: Set[String] = Set("png", "jpg", "jpeg", "gif", "bmp")

  /** Real image decode on the JDK's ImageIO. Returns None when no installed
    * reader recognizes the bytes (corrupt payload or non-image format) —
    * callers fall back to the stub path, so a bad row degrades instead of
    * failing the partition.
    */
  def decodeImage(payload: Array[Byte]): Option[BufferedImage] =
    try Option(ImageIO.read(new ByteArrayInputStream(payload)))
    catch { case _: Exception => None }

  /** PNG encode (lossless — decode returns the exact synthesized pixels,
    * which is what lets the DuckDB oracle predict decoded features
    * arithmetically).
    */
  def encodePng(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** 8 deterministic features from DECODED pixels: dimensions, the two
    * opposite corner pixels' R/B channels, and the exact R/B channel means.
    * Integer sums divided once at the end — exact doubles, hash-stable
    * across engines.
    */
  def imageFeatures(img: BufferedImage): Array[Double] = {
    val w = img.getWidth
    val h = img.getHeight
    var sr = 0L
    var sb = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        sr += (p >> 16) & 0xff
        sb += p & 0xff
        x += 1
      }
      y += 1
    }
    val c0 = img.getRGB(0, 0)
    val c1 = img.getRGB(w - 1, h - 1)
    val n = (w.toLong * h).toDouble
    Array(
      w.toDouble,
      h.toDouble,
      ((c0 >> 16) & 0xff).toDouble,
      (c0 & 0xff).toDouble,
      ((c1 >> 16) & 0xff).toDouble,
      (c1 & 0xff).toDouble,
      sr.toDouble / n,
      sb.toDouble / n)
  }

  /** Nearest-neighbor downscale of a decoded image (pure pixel-index
    * arithmetic — deterministic, unlike the platform-dependent smoothing
    * scalers).
    */
  def resizeImage(img: BufferedImage, factor: Int): BufferedImage = {
    val w = math.max(img.getWidth / factor, 1)
    val h = math.max(img.getHeight / factor, 1)
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        out.setRGB(x, y, img.getRGB(x * factor, y * factor))
        x += 1
      }
      y += 1
    }
    out
  }

  /** REAL byte statistics for payloads with no JVM codec (exotic or
    * corrupt formats) — the degraded-but-honest fallback path of
    * [[extractFeatures]]; image formats take the real [[decodeImage]]
    * path. 8 features:
    *
    *   - f0 byte length, f1 mean byte value (exact integer-ratio double);
    *   - f2 distinct byte values, f3 modal byte frequency, f4 index-of-
    *     coincidence numerator Σc·(c−1), f5 Rényi-2 effective alphabet
    *     n²/Σc² — all exact functions of the byte histogram a SQL oracle
    *     reproduces bit for bit;
    *   - f6 Shannon entropy in bits and f7 the ACTUAL Deflater-compressed
    *     length (same codec boundary as
    *     [[TextAnalysis.compressionStats]]) — engine-local reals, checked
    *     per row against their information-theoretic envelope
    *     (0 ≤ H2 ≤ H ≤ log2 distinct; 0 < deflated ≤ n + block overhead)
    *     by `q_multimodal_features`.
    */
  def byteStats(payload: Array[Byte],
      deflater: java.util.zip.Deflater): Array[Double] = {
    val n = payload.length
    if (n == 0) return Array.fill(8)(0.0)
    val hist = new Array[Long](256)
    var sum = 0L
    var i = 0
    while (i < n) { val b = payload(i) & 0xff; hist(b) += 1; sum += b; i += 1 }
    var distinct = 0L
    var maxF = 0L
    var coin = 0L
    var sumSq = 0L
    var h = 0.0
    val ln2 = math.log(2.0)
    var v = 0
    while (v < 256) { // fixed ascending order: reproducible fp summation
      val c = hist(v)
      if (c > 0) {
        distinct += 1
        if (c > maxF) maxF = c
        coin += c * (c - 1)
        sumSq += c * c
        val p = c.toDouble / n
        h -= p * (math.log(p) / ln2)
      }
      v += 1
    }
    deflater.reset()
    deflater.setInput(payload)
    deflater.finish()
    val buf = new Array[Byte](64 * 1024)
    var dn = 0L
    while (!deflater.finished()) dn += deflater.deflate(buf)
    Array(n.toDouble, sum.toDouble / n, distinct.toDouble, maxF.toDouble,
      coin.toDouble, (n.toLong * n).toDouble / sumSq.toDouble, h, dn.toDouble)
  }

  /** Convenience overload owning a throwaway Deflater — spec/one-off use;
    * batch paths amortize one Deflater per partition.
    */
  def byteStats(payload: Array[Byte]): Array[Double] = {
    val d = new java.util.zip.Deflater()
    try byteStats(payload, d) finally d.end()
  }

  // ---------- video (real multi-frame codec: animated GIF via ImageIO) ----------

  final case class VideoFeatures(
      media_id: Long,
      n_frames: Int,
      width: Int,
      height: Int,
      first_r: Double,
      first_b: Double,
      last_r: Double,
      last_b: Double)

  /** Animated-GIF encode through ImageIO's sequence writer — a real
    * multi-frame container (the JDK's only one), standing in for video:
    * frame extraction, frame counts, and per-frame decode all exercise the
    * true codec path instead of a byte-offset stub.
    */
  def encodeGif(frames: Seq[BufferedImage]): Array[Byte] = {
    import javax.imageio.stream.MemoryCacheImageOutputStream
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { f =>
        writer.writeToSequence(new javax.imageio.IIOImage(f, null, null), null)
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  /** Real multi-frame decode: ImageIO's GIF reader reports the true frame
    * count (`getNumImages(true)` walks the stream) and decodes each frame.
    */
  def decodeGifFrames(payload: Array[Byte]): Option[IndexedSeq[BufferedImage]] =
    try {
      import javax.imageio.stream.MemoryCacheImageInputStream
      val iis = new MemoryCacheImageInputStream(new ByteArrayInputStream(payload))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis)
            val n = r.getNumImages(true)
            Some((0 until n).map(r.read))
          } finally r.dispose()
        }
      } finally iis.close()
    } catch { case _: Exception => None }

  /** Deterministic synthetic "video" per row: 2 + (id % 3) solid-color
    * frames whose colors derive from (id, frame index). Solid frames
    * round-trip GIF's palettization exactly, so decoded per-frame features
    * are SQL-predictable — the video analogue of [[syntheticImages]].
    */
  def syntheticVideos(df: DataFrame, idCol: String): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    GraftSession.fanOutNarrow(df.select(col(idCol).cast("long")))
      .as[Long].mapPartitions { ids =>
      ids.map { a =>
        val nFrames = (2 + (a % 3)).toInt
        val w = 8
        val h = 6
        val frames = (0 until nFrames).map { i =>
          val rgb = ((((a * 13 + i * 7) % 256) << 16) |
            (((a * 5 + i * 11) % 256) << 8) |
            ((a * 3 + i * 17) % 256)).toInt
          val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { img.setRGB(x, y, rgb); x += 1 }
            y += 1
          }
          img
        }
        MediaRow(a, encodeGif(frames), "gif", w, h)
      }
    }
  }

  /** Per-partition video featurization from DECODED frames: true frame
    * count plus first/last-frame corner channels. Undecodable rows come
    * back with n_frames = -1 instead of killing the partition.
    */
  def extractVideoFeatures(media: Dataset[MediaRow]): Dataset[VideoFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        decodeGifFrames(r.payload) match {
          case Some(frames) if frames.nonEmpty =>
            val first = frames.head.getRGB(0, 0)
            val last = frames.last.getRGB(0, 0)
            VideoFeatures(r.media_id, frames.length,
              frames.head.getWidth, frames.head.getHeight,
              ((first >> 16) & 0xff).toDouble, (first & 0xff).toDouble,
              ((last >> 16) & 0xff).toDouble, (last & 0xff).toDouble)
          case _ =>
            VideoFeatures(r.media_id, -1, 0, 0, 0.0, 0.0, 0.0, 0.0)
        }
      }
    }
  }

  // ---------- mp4 / ISO BMFF container (real demux, JDK-only) ----------

  /** Parsed ISO BMFF (mp4-family) container metadata. `handlers` and
    * `codecs` are comma-joined in track order so the row stays scalar for
    * the driver gate (no array columns).
    */
  final case class Mp4Meta(
      media_id: Long,
      brand: String,
      timescale: Long,
      duration_ms: Long,
      n_tracks: Int,
      handlers: String,
      codecs: String,
      n_samples: Long)

  private def be32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  private def be64(b: Array[Byte], off: Int): Long =
    (be32(b, off) << 32) | be32(b, off + 4)

  private def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  private def putBe32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def box(tpe: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    putBe32(8L + body.length) ++
      tpe.getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ body
  }

  /** Synthesize a minimal VALID ISO BMFF stream: `ftyp` + `moov`(`mvhd` +
    * per-track `trak`(`tkhd`, `mdia`(`mdhd`, `hdlr`, `minf`(`stbl`(`stsd`,
    * `stsz`))))) + `mdat`. Box sizes, version/flags fields and sample
    * entries follow ISO/IEC 14496-12 §4.2/§8 layouts, so any conformant
    * demuxer reads it; only the `mdat` sample payload is filler (no encoded
    * h264/aac frames — encoding needs external codec libs).
    *
    * `tracks` = (handler fourcc e.g. "vide"/"soun", sample-entry codec
    * fourcc e.g. "avc1"/"mp4a", sampleCount).
    */
  def buildMp4(
      brand: String,
      timescale: Long,
      duration: Long,
      tracks: Seq[(String, String, Int)]): Array[Byte] = {
    require(brand.length == 4, "brand must be a fourcc")
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val ftyp = box("ftyp", brand.getBytes(ascii), putBe32(0x200),
      "isom".getBytes(ascii), "mp42".getBytes(ascii))
    val mvhd = box("mvhd",
      putBe32(0), // version 0 + flags
      putBe32(0), putBe32(0), // creation/modification time
      putBe32(timescale), putBe32(duration),
      putBe32(0x00010000), // rate 1.0
      Array(0x01.toByte, 0x00.toByte), // volume 1.0
      new Array[Byte](10), // reserved
      // unity matrix
      putBe32(0x00010000), putBe32(0), putBe32(0),
      putBe32(0), putBe32(0x00010000), putBe32(0),
      putBe32(0), putBe32(0), putBe32(0x40000000),
      new Array[Byte](24), // pre_defined
      putBe32(tracks.size + 1L)) // next_track_ID
    val traks = tracks.zipWithIndex.map { case ((handler, codec, nSamples), i) =>
      require(handler.length == 4 && codec.length == 4, "fourccs required")
      val tkhd = box("tkhd",
        putBe32(7), // version 0, flags: enabled | in_movie | in_preview
        putBe32(0), putBe32(0), putBe32(i + 1L), putBe32(0), putBe32(duration),
        new Array[Byte](8), // reserved
        new Array[Byte](2), new Array[Byte](2), // layer, alternate_group
        Array(0x01.toByte, 0x00.toByte), new Array[Byte](2), // volume, reserved
        putBe32(0x00010000), putBe32(0), putBe32(0),
        putBe32(0), putBe32(0x00010000), putBe32(0),
        putBe32(0), putBe32(0), putBe32(0x40000000),
        putBe32(8L << 16), putBe32(6L << 16)) // width/height 16.16
      val mdhd = box("mdhd",
        putBe32(0), putBe32(0), putBe32(0),
        putBe32(timescale), putBe32(duration),
        Array(0x55.toByte, 0xc4.toByte), // language 'und' packed
        new Array[Byte](2))
      val hdlr = box("hdlr",
        putBe32(0), putBe32(0), handler.getBytes(ascii),
        new Array[Byte](12), Array(0.toByte)) // reserved + empty name
      // sample entry: size + fourcc + 6 reserved bytes + data_ref_index
      val sampleEntry = box(codec, new Array[Byte](6),
        Array(0.toByte, 1.toByte))
      val stsd = box("stsd", putBe32(0), putBe32(1), sampleEntry)
      val stsz = box("stsz", putBe32(0), putBe32(0), putBe32(nSamples.toLong))
      val stbl = box("stbl", stsd, stsz)
      val minf = box("minf", stbl)
      val mdia = box("mdia", mdhd, hdlr, minf)
      box("trak", tkhd, mdia)
    }
    val moov = box("moov", Seq(mvhd) ++ traks: _*)
    val mdat = box("mdat", Array.fill(16)(0x42.toByte))
    ftyp ++ moov ++ mdat
  }

  /** Real ISO BMFF demux: walk the box tree (recursing into container
    * boxes, honoring 32-bit, 64-bit `largesize` and size-0 to-end boxes)
    * and extract container metadata. Handles both mvhd/mdhd versions.
    * Returns None for payloads that are not BMFF (no parsable box
    * structure) — callers degrade the row instead of failing the partition.
    * FRAME DECODE of the mdat payload is out of scope (needs external
    * h264/aac codec libs); this is the container layer only.
    */
  def parseMp4(payload: Array[Byte]): Option[Mp4Meta] = {
    val containers = Set("moov", "trak", "mdia", "minf", "stbl")
    var brand = ""
    var timescale = 0L
    var duration = 0L
    val handlers = scala.collection.mutable.ArrayBuffer[String]()
    val codecs = scala.collection.mutable.ArrayBuffer[String]()
    var nTracks = 0
    var nSamples = 0L
    def walk(lo: Int, hi: Int): Unit = {
      var off = lo
      while (off + 8 <= hi) {
        val size32 = be32(payload, off)
        val tpe = fourcc(payload, off + 4)
        var hdr = 8
        val size =
          if (size32 == 1L && off + 16 <= hi) { hdr = 16; be64(payload, off + 8) }
          else if (size32 == 0L) (hi - off).toLong
          else size32
        if (size < hdr || off + size > hi) return // malformed: stop cleanly
        val end = off + size.toInt
        tpe match {
          case t if containers(t) =>
            if (t == "trak") nTracks += 1
            walk(off + hdr, end)
          case "ftyp" if brand.isEmpty && off + hdr + 4 <= end =>
            brand = fourcc(payload, off + hdr)
          case "mvhd" if off + hdr + 4 <= end =>
            val v = payload(off + hdr) & 0xff
            if (v == 1 && off + hdr + 32 <= end) {
              timescale = be32(payload, off + hdr + 20)
              duration = be64(payload, off + hdr + 24)
            } else if (off + hdr + 20 <= end) {
              timescale = be32(payload, off + hdr + 12)
              duration = be32(payload, off + hdr + 16)
            }
          case "hdlr" if off + hdr + 12 <= end =>
            handlers += fourcc(payload, off + hdr + 8)
          case "stsd" if off + hdr + 16 <= end =>
            codecs += fourcc(payload, off + hdr + 12)
          case "stsz" if off + hdr + 12 <= end =>
            nSamples += be32(payload, off + hdr + 8)
          case _ => () // skip leaf boxes we don't model (mdat, free, ...)
        }
        off = end
      }
    }
    try {
      walk(0, payload.length)
      // a real BMFF stream has at least a brand or a movie header
      if (brand.nonEmpty || timescale > 0L)
        Some(Mp4Meta(0L, brand,
          timescale,
          if (timescale > 0) duration * 1000L / timescale else 0L,
          nTracks, handlers.mkString(","), codecs.mkString(","), nSamples))
      else None
    } catch { case _: Exception => None }
  }

  /** Deterministic synthetic mp4 per row (the video-container analogue of
    * [[syntheticVideos]]): track layout, duration and sample counts derive
    * arithmetically from the id, so a SQL oracle predicts every parsed
    * field — a wrong box walk hash-fails.
    */
  def syntheticMp4s(df: DataFrame, idCol: String): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    GraftSession.fanOutNarrow(df.select(col(idCol).cast("long")))
      .as[Long].mapPartitions { ids =>
      ids.map { a =>
        val tracks = Seq(("vide", "avc1", (10 + a % 7).toInt)) ++
          (if (a % 2 == 1) Seq(("soun", "mp4a", (20 + a % 5).toInt)) else Nil)
        MediaRow(a, buildMp4("isom", 1000L, 1000L + (a % 997) * 10L, tracks),
          "mp4", 8, 6)
      }
    }
  }

  /** Partition-parallel container demux over a media column; undecodable
    * rows degrade to n_tracks = -1 (same contract as the other decoders).
    */
  def extractMp4Metadata(media: Dataset[MediaRow]): Dataset[Mp4Meta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        parseMp4(r.payload) match {
          case Some(m) => m.copy(media_id = r.media_id)
          case None => Mp4Meta(r.media_id, "", 0L, 0L, -1, "", "", 0L)
        }
      }
    }
  }

  // ---------- audio (real codec: javax.sound.sampled, in the JDK) ----------

  final case class AudioFeatures(
      media_id: Long,
      sample_rate: Int,
      n_samples: Int,
      max_amp: Int,
      min_amp: Int,
      mean_abs: Double,
      n_sign_changes: Int)

  /** 16-bit mono little-endian PCM → WAV container via the JDK's
    * `AudioSystem` (a real RIFF/WAVE encoder, not a stub).
    */
  def encodeWav(samples: Array[Short], sampleRate: Float): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val fmt = new AudioFormat(sampleRate, 16, 1, true, false)
    val bytes = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      bytes(2 * i) = (samples(i) & 0xff).toByte
      bytes(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new AudioInputStream(
      new ByteArrayInputStream(bytes), fmt, samples.length.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Real WAV decode: `AudioSystem` parses the RIFF header and hands back
    * the PCM stream. Returns None for anything that isn't 16-bit mono PCM
    * (or isn't audio at all) — callers degrade instead of failing.
    */
  def decodeWav(payload: Array[Byte]): Option[(Float, Array[Short])] =
    try {
      import javax.sound.sampled.AudioSystem
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) None
      else {
        val data = ais.readAllBytes()
        val out = new Array[Short](data.length / 2)
        val big = fmt.isBigEndian
        var i = 0
        while (i < out.length) {
          out(i) =
            if (big) (((data(2 * i) & 0xff) << 8) | (data(2 * i + 1) & 0xff)).toShort
            else (((data(2 * i + 1) & 0xff) << 8) | (data(2 * i) & 0xff)).toShort
          i += 1
        }
        Some((fmt.getSampleRate, out))
      }
    } catch { case _: Exception => None }

  /** Deterministic square-wave WAV per row: amplitude, half-period, and
    * length all derive from the id by modular arithmetic, and a square
    * wave keeps every decoded feature INTEGER-exact (|sample| is the
    * amplitude everywhere), so the SQL oracle predicts the decoded
    * features without touching libm — the audio analogue of
    * [[syntheticImages]].
    *
    * amplitude = 1000 + (id % 20)·500; half-period = 2 + (id % 4) samples;
    * n = 800 + (id % 10)·80 samples @ 8 kHz.
    *
    * Deliberately NOT fanned out ([[graft.GraftSession.fanOutNarrow]]):
    * `javax.sound.sampled.AudioSystem` resolves codecs through a
    * synchronized provider registry, so 32 same-JVM threads contend and
    * measure SLOWER than one warm serial task (A/B at sf0.1: 1.6 s serial
    * vs 3.3 s fanned). On a real cluster the contention disappears
    * (separate executor JVMs) and multi-file inputs parallelize the scan
    * naturally. Same finding for [[syntheticImages]]/ImageIO; the mp4/GIF
    * builders have no registry in the hot path and ARE fanned out.
    */
  def syntheticWavs(df: DataFrame, idCol: String): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long")).as[Long].mapPartitions { ids =>
      ids.map { a =>
        val amp = (1000 + (a % 20) * 500).toShort
        val half = (2 + (a % 4)).toInt
        val n = (800 + (a % 10) * 80).toInt
        val samples = Array.tabulate(n)(i =>
          if ((i / half) % 2 == 0) amp else (-amp).toShort)
        MediaRow(a, encodeWav(samples, 8000f), "wav", 0, 0)
      }
    }
  }

  /** Decoded-audio features, per-partition (same distributed shape as
    * [[extractFeatures]]). Rows that fail to decode come back with
    * sample_rate = -1 and zeroed stats instead of killing the partition.
    */
  def extractAudioFeatures(media: Dataset[MediaRow]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        decodeWav(r.payload) match {
          case Some((rate, s)) if s.nonEmpty =>
            var maxA = s(0).toInt
            var minA = s(0).toInt
            var sumAbs = 0L
            var signChanges = 0
            var i = 0
            while (i < s.length) {
              val v = s(i).toInt
              if (v > maxA) maxA = v
              if (v < minA) minA = v
              sumAbs += math.abs(v)
              if (i > 0 && (s(i - 1).toInt ^ v) < 0) signChanges += 1
              i += 1
            }
            AudioFeatures(r.media_id, rate.toInt, s.length, maxA, minA,
              sumAbs.toDouble / s.length, signChanges)
          case _ =>
            AudioFeatures(r.media_id, -1, 0, 0, 0, 0.0, 0)
        }
      }
    }
  }

  /** Frame sampling: byte offsets every `stride` bytes — the shape of video
    * frame extraction (seek table), computed without decoding.
    */
  def frameOffsets(byteLen: Long, stride: Long): Seq[Long] =
    0L.until(math.max(byteLen, 1L)).by(math.max(stride, 1L))

  /** Batch feature extraction: per-partition loop (no driver involvement,
    * no per-row task overhead) — the `mapInPandas` analogue. Image formats
    * are DECODED for real (ImageIO) and featurized from pixels with
    * n_frames = 1; everything else keeps the stub byte-statistics path.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val deflater = new java.util.zip.Deflater() // one per partition
      // native zlib memory is freed by end(), not GC — release it when the
      // task finishes rather than accumulating it on long-lived executors
      org.apache.spark.TaskContext.get() match {
        case null => () // direct (non-task) invocation, e.g. in a local test
        case tc => tc.addTaskCompletionListener[Unit](_ => deflater.end())
      }
      rows.map { r =>
        md.reset()
        val digest = md.digest(r.payload).map("%02x".format(_)).mkString
        val decoded =
          if (ImageFormats.contains(r.format)) decodeImage(r.payload) else None
        MediaFeatures(
          media_id = r.media_id,
          byte_len = r.payload.length.toLong,
          checksum = digest,
          n_frames = decoded.fold(
            frameOffsets(r.payload.length.toLong, 1000L).size)(_ => 1),
          features = decoded.fold(byteStats(r.payload, deflater))(imageFeatures))
      }
    }
  }

  /** Deterministic two-tone synthetic image per input row: left half one
    * RGB color, right half another, both derived from two integer columns
    * via modular arithmetic. Because PNG is lossless, DECODED features are
    * an arithmetic function of (a, b) — which is what lets a SQL oracle
    * verify the real ImageIO encode→decode round-trip end-to-end: a wrong
    * or stubbed decode cannot reproduce the predicted corner pixels and
    * channel means.
    *
    * Width = 8 + (a % 5)*2 (even, so the halves are exactly equal), height
    * = 6; left (r,g,b) = (a%256, (a*31+7)%256, b%256), right = ((a*7+13)%256,
    * (a*11+3)%256, (b*3+5)%256).
    *
    * Not fanned out: ImageIO's synchronized service registry makes
    * 32-thread same-JVM PNG encode/decode slower than warm serial
    * (measured — see [[syntheticWavs]] for the A/B and the cluster-scale
    * rationale).
    */
  def syntheticImages(df: DataFrame, idCol: String, auxCol: String): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(auxCol).cast("long"))
      .as[(Long, Long)]
      .mapPartitions { rows =>
        rows.map { case (a, b) =>
          val w = (8 + (a % 5) * 2).toInt
          val h = 6
          val left = (((a % 256) << 16) | (((a * 31 + 7) % 256) << 8) | (b % 256)).toInt
          val right = ((((a * 7 + 13) % 256) << 16) | (((a * 11 + 3) % 256) << 8) | ((b * 3 + 5) % 256)).toInt
          val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              img.setRGB(x, y, if (x < w / 2) left else right)
              x += 1
            }
            y += 1
          }
          MediaRow(a, encodePng(img), "png", w, h)
        }
      }
  }

  /** Byte-thinning fallback for NON-IMAGE payloads in [[resize]] (keep
    * every `factor`-th byte): deterministic, size-scaled, format-agnostic.
    * Image formats never reach this — they take the real decode →
    * nearest-neighbor scale → PNG re-encode path; a format with no JVM
    * codec has no meaningful pixel-space resize, so the honest contract is
    * proportional payload thinning with the metadata scaled alongside.
    */
  def stubResize(payload: Array[Byte], factor: Int): Array[Byte] = {
    val out = new Array[Byte]((payload.length + factor - 1) / factor)
    var i = 0
    while (i < out.length) { out(i) = payload(i * factor); i += 1 }
    out
  }

  /** Batched media resize: binary → binary per-partition transform with the
    * metadata (width/height) scaled alongside the payload — the
    * image-pipeline stage between ingestion and feature extraction. Image
    * formats take the real path (decode → nearest-neighbor scale → PNG
    * re-encode); other formats keep the stub byte-thinning.
    */
  def resize(media: Dataset[MediaRow], factor: Int): Dataset[MediaRow] = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val decoded =
          if (ImageFormats.contains(r.format)) decodeImage(r.payload) else None
        decoded match {
          case Some(img) =>
            val out = resizeImage(img, factor)
            r.copy(payload = encodePng(out), format = "png",
              width = out.getWidth, height = out.getHeight)
          case None =>
            r.copy(payload = stubResize(r.payload, factor),
              width = r.width / factor, height = r.height / factor)
        }
      }
    }
  }

  /** Bridge from the `binaryFile` reader: (path, content, length) rows become
    * MediaRows with the format inferred from the file extension and ids from
    * a hash of the path (stable across reruns; dimensions unknown until
    * decode → 0).
    */
  def fromBinaryFiles(df: DataFrame): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    df.select(
      xxhash64(col("path")).as("media_id"),
      col("content").as("payload"),
      lower(regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1)).as("format"),
      lit(0).as("width"),
      lit(0).as("height"))
      .as[MediaRow]
  }

  /** Synthesize a media table from any text table (UTF-8 bytes as payload) —
    * lets the plumbing run against the driver test data with no binary
    * fixtures.
    */
  def fromText(df: DataFrame, idCol: String, textCol: String): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    df.select(
      col(idCol).cast("long").as("media_id"),
      encode(col(textCol), "UTF-8").as("payload"),
      lit("text/plain").as("format"),
      lit(0).as("width"),
      lit(0).as("height"))
      .as[MediaRow]
  }
}
