package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Multimodal columns for the LLM-data-pipeline tier: image/audio/video
  * carried as opaque `binary` columns with TYPED metadata, and the
  * decode / feature-extract / frame-sample stages as partition-local
  * imperative work over typed Datasets.
  *
  * Design for 100 TB: media bytes never shuffle — every stage here is
  * `mapPartitions` (narrow, batch-shaped: one iterator pass per input
  * split, constant memory per row). Join features to other tables by
  * `media_id`, never by content. Real deployments put content in object
  * storage and carry (uri, byte_range) instead; the operator shapes are
  * identical.
  *
  * Codec reality: PNG, WAV, the mp4 demux + sample-table walk, and
  * per-frame pixel decode of IMAGE-CODED (MJPEG-style) video tracks are
  * all real, pure-JVM decodes. The one remaining stubbed seam is
  * inter-frame video codecs (H.264/VP9/AV1), which genuinely need a
  * native library: [[FakeCodec.decode]] /
  * [[FakeCodec.decodeFramePixels]] are where such a binding would plug
  * in, and everything around them — schema, encoders, partition
  * iteration, feature math, frame slicing — is identical either way.
  */
final case class MediaMeta(format: String, width: Int, height: Int)
final case class MediaRow(media_id: Long, kind: String,
                          content: Array[Byte], meta: MediaMeta)
final case class MediaFeatures(media_id: Long, kind: String, byte_len: Long,
                               checksum: Long, q1: Long, q2: Long, q3: Long)
final case class FrameSample(media_id: Long, n_frames: Long, frame_checksum: Long)
final case class FramePixels(media_id: Long, n_frames: Long, n_decoded: Long,
                             width: Long, height: Long, pixel_checksum: Long)
final case class ResizedMedia(media_id: Long, out_w: Int, out_h: Int,
                              resize_checksum: Long)
final case class ImageAsset(img_id: Long, width: Int, content: Array[Byte])
final case class DecodedImage(img_id: Long, width: Int, pixels: Array[Byte])
final case class AudioAsset(aud_id: Long, content: Array[Byte])
final case class AudioEnergies(aud_id: Long, energies: Array[Long])
final case class SceneCutStats(media_id: Long, n_frames: Long, n_cuts: Long,
                               first_cut_idx: Long, cut_checksum: Long,
                               diff_checksum: Long)
final case class KeyframeStats(media_id: Long, n_samples: Long, n_idr: Long,
                               n_sps: Long, n_pps: Long, first_idr_idx: Long,
                               idr_mask_checksum: Long)
final case class IdrFrameSample(media_id: Long, n_samples: Long, n_idr: Long,
                                n_selected: Long, first_sel_idx: Long,
                                sel_idx_checksum: Long, sel_bytes: Long)

/** Codec seam. PNG and WAV are decoded for real (pure-JVM
  * `javax.imageio` / `javax.sound.sampled`, no native deps): a payload
  * carrying the PNG signature decodes to its raw row-major RGB byte
  * buffer, and one carrying the RIFF/WAVE header decodes to its raw PCM
  * sample bytes — exactly what a libjpeg/ffmpeg binding would hand the
  * feature stages. An mp4 payload (ISO-BMFF, `ftyp` box first) goes
  * through the DEMUXER half for real — a top-level box walk collecting
  * the raw `mdat` media data a frame codec would consume — and
  * image-coded samples (MJPEG-style) additionally pixel-decode for
  * real via [[decodeFramePixels]]; only inter-frame codecs (H.264 and
  * kin) would need a native library. Payloads
  * without any magic bytes (the synthetic text-byte media table) pass
  * through as the deterministic identity — still clearly a stub for
  * those. */
object FakeCodec {
  // ImageIO defaults to a DISK-backed stream cache — a temp file created
  // and deleted per encode/decode call, which dominates wall-clock for
  // small in-memory images (every caller here is byte-array-backed).
  // Executor-wide, set once at class load.
  javax.imageio.ImageIO.setUseCache(false)

  private val PngSig: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)

  private def isPng(content: Array[Byte]): Boolean =
    content.length >= PngSig.length &&
      java.util.Arrays.equals(content, 0, PngSig.length, PngSig, 0, PngSig.length)

  private def isWav(content: Array[Byte]): Boolean =
    content.length >= 12 &&
      content(0) == 'R' && content(1) == 'I' && content(2) == 'F' && content(3) == 'F' &&
      content(8) == 'W' && content(9) == 'A' && content(10) == 'V' && content(11) == 'E'

  /** The platform's AudioFileReader providers, resolved ONCE per JVM
    * (guide §4.5: initialize heavyweight state once, not per row).
    * `AudioSystem.getAudioInputStream` re-enters a GLOBAL synchronized
    * provider lookup (JDK13Services.getProviders) and re-runs a
    * ServiceLoader scan on EVERY call — measured on x89 as a 32-thread
    * lock convoy: 76 s of executor run time against 4 s of CPU in the
    * decode stage. Iterating the SPI list directly sees the same
    * provider SET AudioSystem does, minus the per-call global lock —
    * but possibly in a DIFFERENT ORDER (JDK13Services prepends each
    * provider, effectively reversing ServiceLoader order, third-party
    * first). For content claimed by exactly one reader (RIFF/WAVE
    * here — each JDK reader claims only its own container) the order is
    * immaterial; content claimed by multiple readers could decode via a
    * different provider than AudioSystem would pick, which is why the
    * no-claim path below still falls back to AudioSystem itself. */
  private lazy val audioFileReaders: List[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .iterator().asScala.toList
  }

  /** The provider that last successfully decoded — tried FIRST. The SPI
    * list contains readers whose mere "is this mine?" probe re-enters a
    * globally synchronized lookup (SoftMidiAudioFileReader probes via
    * MidiSystem → the same JDK13Services lock), so a full scan per row
    * serializes 32 decode threads; pinning the claiming reader (the RIFF/
    * WAVE one here) keeps the hot path lock-free. Falls back to the full
    * ordered scan on a miss, so any content AudioSystem could decode is
    * still decoded by the same provider it would pick. */
  @volatile private var claimedReader: javax.sound.sampled.spi.AudioFileReader = null

  /** Raw PCM sample bytes of a decoded WAV (header stripped). */
  private def decodeWav(content: Array[Byte]): Array[Byte] = {
    def tryOne(r: javax.sound.sampled.spi.AudioFileReader) =
      try r.getAudioInputStream(new java.io.ByteArrayInputStream(content))
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => null }
    var in: javax.sound.sampled.AudioInputStream = null
    val hot = claimedReader
    if (hot != null) in = tryOne(hot)
    if (in == null) {
      val it = audioFileReaders.iterator
      while (in == null && it.hasNext) {
        val r = it.next()
        in = tryOne(r)
        if (in != null) claimedReader = r
      }
    }
    if (in == null) // no provider claimed it: surface the real error
      in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(content))
    try in.readAllBytes() finally in.close()
  }

  /** Real WAVE encode of signed 16-bit little-endian mono PCM — the
    * audio counterpart of [[encodeRgbPng]] (javax.sound writes the
    * genuine RIFF container; [[decodeWav]] round-trips it). */
  def encodePcm16Wav(samples: Array[Int], sampleRate: Float = 8000f): Array[Byte] = {
    val bytes = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      bytes(2 * i) = (samples(i) & 0xff).toByte
      bytes(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, samples.length.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    try javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    finally ais.close()
    baos.toByteArray
  }

  /** Signed 16-bit LE samples of a real-decoded WAV. */
  def pcm16Samples(wav: Array[Byte]): Array[Int] = {
    val pcm = decodeWav(wav)
    val out = new Array[Int](pcm.length / 2)
    var i = 0
    while (i < out.length) {
      // low byte unsigned, high byte sign-extends: signed 16-bit LE
      out(i) = (pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)
      i += 1
    }
    out
  }

  /** Row-major RGB bytes (3 per pixel) of a decoded image. */
  private def rgbBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val out = new Array[Byte](img.getWidth * img.getHeight * 3)
    var i = 0
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        out(i) = ((rgb >> 16) & 0xff).toByte
        out(i + 1) = ((rgb >> 8) & 0xff).toByte
        out(i + 2) = (rgb & 0xff).toByte
        i += 3; x += 1
      }
      y += 1
    }
    out
  }

  /** Raw RGB bytes (3 per pixel, row-major) of a decoded PNG. */
  private def decodePng(content: Array[Byte]): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
    require(img != null, "PNG signature present but ImageIO could not decode")
    rgbBytes(img)
  }

  /** Full PNG decode: (width, height, row-major RGB bytes). */
  def pngDecode(content: Array[Byte]): (Int, Int, Array[Byte]) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
    require(img != null, "ImageIO could not decode image bytes")
    (img.getWidth, img.getHeight, rgbBytes(img))
  }

  /** Real PNG encode of a row-major RGB buffer (3 bytes per pixel). */
  def encodeRgbPng(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == w * h * 3, s"need ${w * h * 3} bytes, got ${rgb.length}")
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = (y * w + x) * 3
        img.setRGB(x, y, ((rgb(i) & 0xff) << 16) | ((rgb(i + 1) & 0xff) << 8)
          | (rgb(i + 2) & 0xff))
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** REAL per-frame pixel decode for image-coded video samples: an
    * MJPEG-style track (Motion JPEG — and any track whose samples are
    * self-contained JPEG/PNG images) carries one independently decodable
    * image per sample, which the JVM decodes natively through
    * `javax.imageio` — actual pixels, no native codec. Returns
    * (width, height, row-major RGB bytes), or None when no registered
    * ImageIO reader claims the sample bytes (inter-frame codecs like
    * H.264 — the case that genuinely needs a native library and remains
    * the stubbed seam). */
  def decodeFramePixels(sample: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(sample))
      if (img == null) None else Some((img.getWidth, img.getHeight, rgbBytes(img)))
    } catch { case _: java.io.IOException => None }

  /** Deterministic image-coded (MJPEG-style) mp4 synthesis — the x62
    * oracle surface. Frame i of asset `mediaId` is a 1×1 PNG whose RGB
    * is fixed arithmetic in (mediaId, i), so an oracle can compute the
    * expected decoded pixels WITHOUT an image library while the Spark
    * side proves the whole real pipeline (ImageIO encode → ISO-BMFF
    * wrap → sample-table walk → ImageIO pixel decode) reproduces them
    * byte-for-byte. Layout: ftyp(16) + mdat(8 + frames) + moov with a
    * full stsz/stsc/stco table over one chunk at offset 24. */
  def mjpegAsset(mediaId: Long, nFrames: Int): Array[Byte] = {
    val frames = (0 until nFrames).map { i =>
      val r = ((mediaId * 7 + i * 13) % 256).toInt
      val g = ((mediaId * 11 + i * 17) % 256).toInt
      val b = ((mediaId * 3 + i * 29) % 256).toInt
      val img = new java.awt.image.BufferedImage(1, 1,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, (r << 16) | (g << 8) | b)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    mp4Asset(frames)
  }

  /** Minimal ISO-BMFF wrap of arbitrary sample byte-strings: ftyp(16) +
    * mdat(8 + samples) + moov with a full stsz/stsc/stco table over one
    * chunk at offset 24 — the shared container builder behind
    * [[mjpegAsset]] (image-coded samples) and [[avcAsset]] (AVCC
    * length-prefixed NAL samples). */
  def mp4Asset(samples: Seq[Array[Byte]]): Array[Byte] = {
    require(samples.nonEmpty, "mp4Asset needs at least one sample")
    def be32(vs: Long*): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 * vs.length)
      vs.foreach(v => bb.putInt(v.toInt))
      bb.array()
    }
    def box(tpe: String, payload: Array[Byte]): Array[Byte] =
      be32(payload.length + 8L) ++ tpe.getBytes("ISO-8859-1") ++ payload
    val stbl = box("stbl",
      box("stsz", be32(0L, 0L, samples.length.toLong) ++
        be32(samples.map(_.length.toLong): _*)) ++
        box("stsc", be32(0L, 1L, 1L, samples.length.toLong, 1L)) ++
        box("stco", be32(0L, 1L, 24L)))
    box("ftyp", "isom".getBytes ++ Array[Byte](0, 0, 0, 0)) ++
      box("mdat", samples.reduce(_ ++ _)) ++
      box("moov", box("trak", box("mdia", box("minf", stbl))))
  }

  /** NAL unit types of one H.264 sample, in order — the walk a video
    * pipeline runs on every demuxed sample BEFORE any codec work, to
    * find decodable sync points. Handles both framings (ISO/IEC
    * 14496-15 vs Annex B of 14496-10):
    *  - AVCC (mp4 sample bodies): [4-byte big-endian length | NAL]*,
    *    detected by a self-consistent length walk;
    *  - Annex-B (elementary streams): 00 00 01 / 00 00 00 01 start
    *    codes, detected by the leading start code.
    * The NAL type is the low 5 bits of the first NAL byte (header =
    * forbidden(1) | nal_ref_idc(2) | type(5)); type 5 = IDR slice (a
    * decoder can start here), 1 = non-IDR slice, 7/8 = SPS/PPS.
    * Malformed framing (length past the buffer, zero-length NAL)
    * returns None — classified honestly as unparseable, never guessed. */
  def nalTypes(sample: Array[Byte]): Option[Seq[Int]] = {
    val n = sample.length
    if (n >= 4 && sample(0) == 0 && sample(1) == 0 &&
        (sample(2) == 1 || (sample(2) == 0 && sample(3) == 1))) {
      // Annex-B: scan for start codes, type byte follows each
      val out = Seq.newBuilder[Int]
      var i = 0
      while (i + 3 <= n) {
        if (sample(i) == 0 && sample(i + 1) == 0 && sample(i + 2) == 1) {
          if (i + 3 < n) out += (sample(i + 3) & 0x1f)
          i += 3
        } else i += 1
      }
      Some(out.result())
    } else {
      // AVCC: 4-byte length prefixes must tile the sample exactly
      val out = Seq.newBuilder[Int]
      var off = 0
      while (off < n) {
        if (off + 4 > n) return None
        val len = ((sample(off) & 0xffL) << 24) | ((sample(off + 1) & 0xffL) << 16) |
          ((sample(off + 2) & 0xffL) << 8) | (sample(off + 3) & 0xffL)
        if (len < 1 || len > n - off - 4) return None
        out += (sample(off + 4) & 0x1f)
        off += (4 + len).toInt
      }
      Some(out.result())
    }
  }

  /** Deterministic AVCC-framed H.264-shaped mp4: `nFrames` samples, an
    * IDR (type 5) every `gop`-th sample and non-IDR slices (type 1)
    * between; sample 0 additionally carries SPS (7) + PPS (8) before
    * its IDR, as a real encoder emits. Payload bytes are fixed
    * arithmetic in (mediaId, frame), so an oracle reproduces every
    * derived statistic without a codec. The pixel decode of these
    * samples is exactly the seam that still needs a native library —
    * classification and selection no longer do. */
  def avcAsset(mediaId: Long, nFrames: Int, gop: Int): Array[Byte] = {
    require(nFrames > 0 && gop > 0)
    def nal(tpe: Int, payloadLen: Int, seed: Long): Array[Byte] = {
      val body = new Array[Byte](1 + payloadLen)
      body(0) = (((if (tpe == 1) 2 else 3) << 5) | tpe).toByte // ref_idc | type
      var i = 0
      while (i < payloadLen) {
        body(1 + i) = ((seed * 31 + i * 7 + tpe) % 251).toByte
        i += 1
      }
      val bb = java.nio.ByteBuffer.allocate(4)
      bb.putInt(body.length)
      bb.array() ++ body
    }
    val samples = (0 until nFrames).map { i =>
      val slice = nal(if (i % gop == 0) 5 else 1, 5 + ((mediaId + i) % 7).toInt,
        mediaId * 131 + i)
      if (i == 0) nal(7, 4, mediaId) ++ nal(8, 2, mediaId + 1) ++ slice
      else slice
    }
    mp4Asset(samples)
  }

  private def isMp4(content: Array[Byte]): Boolean =
    content.length >= 12 &&
      content(4) == 'f' && content(5) == 't' && content(6) == 'y' && content(7) == 'p'

  /** Concatenated `mdat` payloads of an ISO-BMFF (mp4) container — the
    * demuxer half of a video decode. Boxes are a flat top-level
    * sequence of [4-byte big-endian size | 4-byte type | payload];
    * size == 1 means a 64-bit `largesize` follows the type, size == 0
    * means the box runs to end-of-file (both from ISO/IEC 14496-12
    * §4.2). Malformed structure (truncated header, size pointing past
    * the buffer, size smaller than its own header) fails loudly rather
    * than yielding garbage bytes to the feature stages. */
  private def decodeMp4(content: Array[Byte]): Array[Byte] = {
    val n = content.length
    def u32(i: Int): Long =
      ((content(i) & 0xffL) << 24) | ((content(i + 1) & 0xffL) << 16) |
        ((content(i + 2) & 0xffL) << 8) | (content(i + 3) & 0xffL)
    def u64(i: Int): Long =
      (0 until 8).foldLeft(0L)((a, k) => (a << 8) | (content(i + k) & 0xffL))
    val out = new java.io.ByteArrayOutputStream()
    var off = 0
    while (off < n) {
      require(n - off >= 8, s"mp4: truncated box header at offset $off")
      val size32 = u32(off)
      val tpe = new String(content, off + 4, 4, "ISO-8859-1")
      val (size, hdr) =
        if (size32 == 1L) {
          require(n - off >= 16, s"mp4: truncated largesize header at offset $off")
          (u64(off + 8), 16)
        } else if (size32 == 0L) ((n - off).toLong, 8)
        else (size32, 8)
      require(size >= hdr && size <= n - off,
        s"mp4: box '$tpe' size $size out of bounds at offset $off (file $n)")
      if (tpe == "mdat") out.write(content, off + hdr, (size - hdr).toInt)
      off += size.toInt
    }
    out.toByteArray
  }

  def decode(content: Array[Byte], format: String): Array[Byte] =
    if (format == "png" && isPng(content)) decodePng(content)
    else if (format == "wav" && isWav(content)) decodeWav(content)
    else if (format == "mp4" && isMp4(content)) decodeMp4(content)
    else content

  /** Real sample (frame) boundaries from the mp4 sample tables — the
    * moov/trak/mdia/minf/stbl walk a video pipeline does before
    * touching any codec: `stsz` gives per-sample sizes, `stsc` maps
    * samples onto chunks, `stco`/`co64` gives file-absolute chunk
    * offsets; a sample's offset is its chunk's offset plus the sizes of
    * the samples before it in that chunk (ISO/IEC 14496-12 §8.7).
    * Returns (offset, size) per sample for the first track carrying a
    * complete table, or None when the container has no usable sample
    * table (empty moov, audio-only edge cases) — callers fall back to
    * the demuxed-payload slicing. Structural damage (tables pointing
    * outside the file, truncated entries) fails loudly, same contract
    * as the demuxer. */
  def mp4Samples(content: Array[Byte]): Option[IndexedSeq[(Long, Long)]] =
    mp4Timeline(content).map(_._2.map { case (off, sz, _) => (off, sz) })

  /** Sample timeline: [[mp4Samples]] plus DECODE TIMESTAMPS — the
    * `stts` (time-to-sample, ISO/IEC 14496-12 §8.6.1.2) walk that turns
    * "sample N" into "the frame at t seconds", which is what a
    * frame-at-timestamp sampler actually seeks by. Returns
    * (timescale, samples as (offset, size, dtTicks)): `timescale` is
    * the track's mdhd ticks-per-second (1 when absent), dtTicks is the
    * cumulative decode time of the sample (the sum of all earlier
    * samples' stts deltas), so seconds = dtTicks / timescale. A missing
    * stts degrades to one tick per sample (offsets stay exact; only
    * timing is synthetic); an stts whose run-lengths disagree with the
    * stsz sample count fails loudly, same contract as the rest of the
    * table walk. */
  def mp4Timeline(content: Array[Byte])
      : Option[(Long, IndexedSeq[(Long, Long, Long)])] = {
    if (!isMp4(content)) return None
    val n = content.length
    def u32(i: Int): Long = {
      require(i >= 0 && i + 4 <= n, s"mp4: truncated u32 at offset $i")
      ((content(i) & 0xffL) << 24) | ((content(i + 1) & 0xffL) << 16) |
        ((content(i + 2) & 0xffL) << 8) | (content(i + 3) & 0xffL)
    }
    def u64(i: Int): Long = {
      require(i >= 0 && i + 8 <= n, s"mp4: truncated u64 at offset $i")
      (0 until 8).foldLeft(0L)((a, k) => (a << 8) | (content(i + k) & 0xffL))
    }
    /** Child boxes of [start, end) as (type, payloadStart, payloadEnd). */
    def boxes(start: Int, end: Int): Seq[(String, Int, Int)] = {
      val out = Seq.newBuilder[(String, Int, Int)]
      var off = start
      while (off < end) {
        require(end - off >= 8, s"mp4: truncated box header at offset $off")
        val size32 = u32(off)
        val tpe = new String(content, off + 4, 4, "ISO-8859-1")
        val (size, hdr) =
          if (size32 == 1L) (u64(off + 8), 16)
          else if (size32 == 0L) ((end - off).toLong, 8)
          else (size32, 8)
        require(size >= hdr && size <= end - off,
          s"mp4: box '$tpe' size $size out of bounds at offset $off")
        out += ((tpe, off + hdr, off + size.toInt))
        off += size.toInt
      }
      out.result()
    }
    /** (mdia, stbl) payload ranges under moov/trak/mdia/minf, document
      * order — the mdia range rides along so parseStbl can find the
      * track's mdhd timescale next to its sample tables. */
    def stbls(moovStart: Int, moovEnd: Int): Seq[(Int, Int, Int, Int)] =
      for {
        (t, ts, te) <- boxes(moovStart, moovEnd) if t == "trak"
        (m, ms, me) <- boxes(ts, te) if m == "mdia"
        (f, fs, fe) <- boxes(ms, me) if f == "minf"
        (s, ss, se) <- boxes(fs, fe) if s == "stbl"
      } yield (ms, me, ss, se)

    def parseStbl(mdiaS: Int, mdiaE: Int, start: Int, end: Int)
        : Option[(Long, IndexedSeq[(Long, Long, Long)])] = {
      val kids = boxes(start, end).map { case (t, s, e) => t -> ((s, e)) }.toMap
      for {
        (szS, szE) <- kids.get("stsz")
        (coS, coE) <- kids.get("stco").orElse(kids.get("co64"))
      } yield {
        val wide = kids.contains("co64") && !kids.contains("stco")
        // stsz: fullbox header, then uniform size | per-sample sizes
        val uniform = u32(szS + 4)
        val count = u32(szS + 8).toInt
        require(uniform != 0L || szS + 12 + 4L * count <= szE,
          s"mp4: stsz claims $count samples but box holds ${(szE - szS - 12) / 4}")
        val sizes: Int => Long =
          if (uniform != 0L) _ => uniform else i => u32(szS + 12 + 4 * i)
        // stco/co64: fullbox header + entry count + offsets
        val nChunks = u32(coS + 4).toInt
        require(coS + 8 + nChunks * (if (wide) 8 else 4) <= coE,
          "mp4: chunk offset table truncated")
        val chunkOff: Int => Long =
          if (wide) i => u64(coS + 8 + 8 * i) else i => u32(coS + 8 + 4 * i)
        // stsc runs: (first_chunk 1-based, samples_per_chunk); a missing
        // stsc degrades to one sample per chunk
        val runs: IndexedSeq[(Long, Long)] = kids.get("stsc") match {
          case Some((s, e)) =>
            val m = u32(s + 4).toInt
            require(s + 8 + 12L * m <= e,
              s"mp4: stsc claims $m runs but box holds ${(e - s - 8) / 12}")
            (0 until m).map(i => (u32(s + 8 + 12 * i), u32(s + 12 + 12 * i)))
          case None => IndexedSeq((1L, 1L))
        }
        def samplesInChunk(c: Int): Long = { // c is 0-based
          val applicable = runs.takeWhile(_._1 <= c + 1)
          if (applicable.isEmpty) 1L else applicable.last._2
        }
        // stts runs (count, delta) → cumulative decode time per sample;
        // a missing stts degrades to one synthetic tick per sample
        val deltas: IndexedSeq[Long] = kids.get("stts") match {
          case Some((s, e)) =>
            val m = u32(s + 4).toInt
            require(s + 8 + 8L * m <= e,
              s"mp4: stts claims $m runs but box holds ${(e - s - 8) / 8}")
            val ttsRuns =
              (0 until m).map(i => (u32(s + 8 + 8 * i), u32(s + 12 + 8 * i)))
            val total = ttsRuns.map(_._1).sum
            require(total == count,
              s"mp4: stts covers $total samples but stsz claims $count")
            ttsRuns.flatMap { case (c, d) => IndexedSeq.fill(c.toInt)(d) }
          case None => IndexedSeq.fill(count)(1L)
        }
        val dts = deltas.scanLeft(0L)(_ + _)
        // mdhd (version 0: timescale at +12; version 1: 64-bit times
        // push it to +20); a timescale of 1 means "ticks" when absent
        val timescale = boxes(mdiaS, mdiaE).collectFirst {
          case ("mdhd", hs, he) =>
            if ((content(hs) & 0xff) == 1) {
              require(hs + 24 <= he, "mp4: truncated v1 mdhd")
              u32(hs + 20)
            } else {
              require(hs + 16 <= he, "mp4: truncated v0 mdhd")
              u32(hs + 12)
            }
        }.getOrElse(1L)
        val out = IndexedSeq.newBuilder[(Long, Long, Long)]
        var sample = 0
        var chunk = 0
        while (sample < count && chunk < nChunks) {
          var pos = chunkOff(chunk)
          var k = 0L
          val inChunk = samplesInChunk(chunk)
          while (k < inChunk && sample < count) {
            val sz = sizes(sample)
            require(pos >= 0 && pos + sz <= n,
              s"mp4: sample $sample [$pos, ${pos + sz}) outside file ($n)")
            out += ((pos, sz, dts(sample)))
            pos += sz; k += 1; sample += 1
          }
          chunk += 1
        }
        require(sample == count,
          s"mp4: sample table claims $count samples but chunks hold $sample")
        (timescale, out.result())
      }
    }

    boxes(0, n).collectFirst { case ("moov", s, e) => (s, e) }
      .flatMap { case (s, e) =>
        // prefer the first track whose table holds samples (skips empty
        // hint/metadata tracks ahead of the media track), but a
        // container whose every table is VALIDLY EMPTY means "zero
        // frames" — returning None instead would make callers fabricate
        // frames by byte-slicing leftover mdat bytes
        val parsed = stbls(s, e).iterator
          .flatMap { case (ms, me, ss, se) => parseStbl(ms, me, ss, se) }
          .toSeq
        parsed.find(_._2.nonEmpty).orElse(parsed.headOption)
      }
  }
}

object Multimodal {

  private val P = 1000000007L

  /** Synthesize a media table from the documents table: ASCII text bytes
    * as the opaque payload, kind/format cycling through the three
    * modalities, metadata derived from doc size. Deterministic, so a
    * SQL oracle can mirror every downstream feature byte-for-byte. */
  def media(docs: DataFrame): Dataset[MediaRow] = {
    val kinds = Seq("image", "audio", "video")
    val kind = element_at(typedLit(kinds), (col("doc_id") % 3).cast("int") + 1)
    val fmt = element_at(typedLit(Seq("png", "wav", "mp4")),
      (col("doc_id") % 3).cast("int") + 1)
    docs.select(
      col("doc_id").as("media_id"),
      kind.as("kind"),
      col("text").cast(BinaryType).as("content"),
      struct(fmt.as("format"),
        (col("n_chars") % 640).cast("int").as("width"),
        (col("n_chars") % 480).cast("int").as("height")).as("meta"))
      .as[MediaRow](Encoders.product[MediaRow])
  }

  /** Decode + feature-extract per partition: rolling checksum and byte
    * "quadrant" counts (high bits b>>5 — for ASCII payloads the 1/2/3
    * quadrants are punctuation-digits / uppercase / lowercase). One
    * iterator pass, no shuffle. */
  def features(ds: Dataset[MediaRow]): Dataset[MediaFeatures] =
    ds.mapPartitions { it =>
      it.map { m =>
        val bytes = FakeCodec.decode(m.content, m.meta.format)
        var checksum = 0L
        val q = new Array[Long](8)
        var i = 0
        while (i < bytes.length) {
          val b = bytes(i) & 0xff
          checksum = (checksum * 31 + b) % P
          q(b >> 5) += 1
          i += 1
        }
        MediaFeatures(m.media_id, m.kind, bytes.length.toLong,
          checksum, q(1), q(2), q(3))
      }
    }(Encoders.product[MediaFeatures])

  /** Nearest-neighbor resize over the DECODED byte buffer, treated as a
    * `srcW`-wide row-major single-channel grid (source height =
    * ceil(len / srcW), zero-padded tail): output pixel (y, x) reads
    * source byte (y·srcH ÷ outH)·srcW + (x·srcW ÷ outW) — the standard
    * integer nearest-neighbor mapping, channel-agnostic so it applies
    * to the real decoded PNG RGB buffer and the deterministic fake
    * alike (a real deployment would take (w, h, channels) from the
    * decoder's metadata; the partition-local shape is identical).
    * Emits the output dims + a checksum of the resized buffer. One
    * iterator pass, no shuffle. */
  def resize(ds: Dataset[MediaRow], outW: Int, outH: Int,
             srcW: Int = 16): Dataset[ResizedMedia] = {
    require(outW > 0 && outH > 0 && srcW > 0, "dims must be positive")
    ds.mapPartitions { it =>
      it.map { m =>
        val bytes = FakeCodec.decode(m.content, m.meta.format)
        val n = bytes.length
        val srcH = (n + srcW - 1) / srcW
        var checksum = 0L
        var y = 0
        while (y < outH) {
          val sy = y * srcH / outH
          var x = 0
          while (x < outW) {
            val idx = sy * srcW + x * srcW / outW
            val b = if (idx < n) bytes(idx) & 0xff else 0
            checksum = (checksum * 31 + b) % P
            x += 1
          }
          y += 1
        }
        ResizedMedia(m.media_id, outW, outH, checksum)
      }
    }(Encoders.product[ResizedMedia])
  }

  /** Frame sampling: keep every `everyN`-th frame and emit the kept
    * count plus the first kept frame's checksum. For an mp4 payload
    * whose `moov` carries a complete sample table, "frame" means a REAL
    * sample boundary (stsz/stsc/stco walk, [[FakeCodec.mp4Samples]]) —
    * the offsets a video pipeline would hand its keyframe decoder.
    * Everything else (the synthetic text-byte media table, sample-less
    * containers) falls back to slicing the decoded payload into
    * `frameBytes` blocks. */
  def frameSample(ds: Dataset[MediaRow], frameBytes: Int, everyN: Int): Dataset[FrameSample] =
    ds.mapPartitions { it =>
      it.map { m =>
        val real =
          if (m.meta.format == "mp4") FakeCodec.mp4Samples(m.content) else None
        val frames: Seq[Array[Byte]] = real match {
          case Some(samples) =>
            samples.zipWithIndex.filter(_._2 % everyN == 0).map { case ((off, sz), _) =>
              java.util.Arrays.copyOfRange(m.content, off.toInt, (off + sz).toInt)
            }
          case None =>
            val bytes = FakeCodec.decode(m.content, m.meta.format)
            bytes.grouped(frameBytes).zipWithIndex
              .filter(_._2 % everyN == 0).map(_._1).toSeq
        }
        val first = frames.headOption.getOrElse(Array.emptyByteArray)
        var checksum = 0L
        first.foreach(b => checksum = (checksum * 31 + (b & 0xff)) % P)
        FrameSample(m.media_id, frames.length.toLong, checksum)
      }
    }(Encoders.product[FrameSample])

  /** Per-frame PIXEL decode over the real sample boundaries: every
    * `everyN`-th sample of an mp4's sample table is handed to
    * [[FakeCodec.decodeFramePixels]] — MJPEG-style image-coded tracks
    * decode to actual RGB pixels natively on the JVM; samples no
    * ImageIO reader claims (inter-frame codecs) count in `n_frames`
    * but not `n_decoded`, so the undecodable fraction is observable
    * per asset instead of silently zero. Emits the first decoded
    * frame's dimensions and RGB checksum. Same 100-TB shape as every
    * stage here: partition-local mapPartitions, media bytes never
    * shuffle, one row out per asset. */
  def framePixelDecode(ds: Dataset[MediaRow], everyN: Int): Dataset[FramePixels] =
    ds.mapPartitions { it =>
      it.map { m =>
        val samples =
          if (m.meta.format == "mp4")
            FakeCodec.mp4Samples(m.content).getOrElse(IndexedSeq.empty)
          else IndexedSeq.empty
        val kept = samples.zipWithIndex.filter(_._2 % everyN == 0).map(_._1)
        val decoded = kept.flatMap { case (off, sz) =>
          FakeCodec.decodeFramePixels(
            java.util.Arrays.copyOfRange(m.content, off.toInt, (off + sz).toInt))
        }
        val first = decoded.headOption
        var cs = 0L
        first.foreach(_._3.foreach(b => cs = (cs * 31 + (b & 0xff)) % P))
        FramePixels(m.media_id, kept.length.toLong, decoded.length.toLong,
          first.map(_._1.toLong).getOrElse(0L),
          first.map(_._2.toLong).getOrElse(0L), cs)
      }
    }(Encoders.product[FramePixels])

  /** H.264 keyframe scan (x88): walk the real sample table, parse each
    * sample's NAL framing ([[FakeCodec.nalTypes]] — AVCC length
    * prefixes or Annex-B start codes), and classify IDR vs non-IDR —
    * the sync-point index a frame sampler needs to pick DECODABLE
    * frames from an inter-coded track (a non-IDR frame without its
    * reference chain is not independently decodable; sampling it is
    * wasted decode budget). Emits per asset: sample count, IDR/SPS/PPS
    * counts, first IDR index, and a rolling checksum of the full IDR
    * bitmask (so the oracle certifies EVERY sample's classification,
    * not just the counts). Unparseable samples count into n_samples
    * only — observable, never guessed. With this walk real, the stub
    * seam shrinks to the pixel decode of inter-coded frames — the one
    * step that genuinely needs a native codec.
    *
    * Scale shape: partition-local mapPartitions over the media bytes
    * (which never shuffle), one 7-field row out per asset. */
  def keyframeStats(ds: Dataset[MediaRow]): Dataset[KeyframeStats] =
    ds.mapPartitions { it =>
      it.map { m =>
        val samples =
          if (m.meta.format == "mp4")
            FakeCodec.mp4Samples(m.content).getOrElse(IndexedSeq.empty)
          else IndexedSeq.empty
        var nIdr = 0L; var nSps = 0L; var nPps = 0L
        var firstIdr = -1L; var cs = 0L; var idx = 0L
        samples.foreach { case (off, sz) =>
          val tps = FakeCodec.nalTypes(java.util.Arrays.copyOfRange(
            m.content, off.toInt, (off + sz).toInt)).getOrElse(Seq.empty)
          val isIdr = tps.contains(5)
          if (isIdr && firstIdr < 0) firstIdr = idx
          if (isIdr) nIdr += 1
          nSps += tps.count(_ == 7)
          nPps += tps.count(_ == 8)
          cs = (cs * 31 + (if (isIdr) 1L else 0L)) % P
          idx += 1
        }
        KeyframeStats(m.media_id, samples.length.toLong, nIdr, nSps, nPps,
          firstIdr, cs)
      }
    }(Encoders.product[KeyframeStats])

  /** IDR-gated frame sampling (x118): the composition of [[keyframeStats]]'
    * NAL classification with [[frameSample]]'s cadence — on an
    * INTER-CODED track, sampling every Nth sample wastes decode budget
    * on frames that are not independently decodable (a non-IDR slice
    * needs its reference chain), so the sampler walks the real sample
    * table, classifies each sample by NAL type, and takes every
    * `everyK`-th frame of the IDR SEQUENCE (cadence in keyframe-ordinal
    * space — every selected frame is a sync point, decodable without
    * pixels ever being touched). Emits per asset: total/IDR/selected
    * counts, the first selected sample index, a rolling checksum of
    * every selected sample INDEX (the oracle certifies exactly which
    * samples got picked, not just how many), and the summed byte size
    * of the selected samples (the decode budget actually spent).
    *
    * Scale shape: identical to the rest of the family — partition-local
    * mapPartitions at the codec seam, media bytes never shuffle, one
    * 7-field row out per asset. */
  def idrFrameSample(ds: Dataset[MediaRow], everyK: Int): Dataset[IdrFrameSample] = {
    require(everyK > 0, s"idrFrameSample: everyK must be positive, got $everyK")
    ds.mapPartitions { it =>
      it.map { m =>
        val samples =
          if (m.meta.format == "mp4")
            FakeCodec.mp4Samples(m.content).getOrElse(IndexedSeq.empty)
          else IndexedSeq.empty
        var nIdr = 0L; var nSel = 0L; var firstSel = -1L
        var cs = 0L; var bytes = 0L; var idx = 0L
        samples.foreach { case (off, sz) =>
          val tps = FakeCodec.nalTypes(java.util.Arrays.copyOfRange(
            m.content, off.toInt, (off + sz).toInt)).getOrElse(Seq.empty)
          if (tps.contains(5)) {
            if (nIdr % everyK == 0) {
              nSel += 1
              if (firstSel < 0) firstSel = idx
              cs = (cs * 31 + idx) % P
              bytes += sz
            }
            nIdr += 1
          }
          idx += 1
        }
        IdrFrameSample(m.media_id, samples.length.toLong, nIdr, nSel,
          firstSel, cs, bytes)
      }
    }(Encoders.product[IdrFrameSample])
  }

  /** Deterministic grayscale test pattern for the x87 image-dedup
    * corpus: pixel (y, x) of document `d`'s base image. Multiplicative
    * doc mixing (not a constant brightness offset — dHash is
    * brightness-invariant by design, so an additive pattern would make
    * every document a near-dup of every other) plus a doc-dependent
    * cross term; measured cross-document Hamming ≥ 14 on the sf
    * corpora, against a ≤ 3 pairing threshold. */
  def imagePix(d: Long, y: Int, x: Int): Int =
    (((d * 97 + 13) * (y * 5 + x * 11 + 7) + d * 31
      + y.toLong * x * (d % 7 + 1)) % 256).toInt

  /** Planted image near-dup corpus (x87): for each document, a base
    * 36×32 PNG of [[imagePix]], a RE-ENCODED copy (+20000000 — decode the
    * base PNG, encode the decoded pixels again: pixel-identical through
    * a second real codec round-trip), and a 2× nearest-neighbor UPSCALE
    * with a +4 clamped brightness shift (+40000000 — the classic thumbnail
    * / re-exposure near-dup). Every byte is produced by the REAL
    * ImageIO encode/decode pipeline; the oracle reproduces the expected
    * pixels by pure arithmetic (the x62 pattern — oracle needs no image
    * library, Spark proves the real codec path). */
  def imageCorpus(docs: DataFrame, baseW: Int = 36, baseH: Int = 32): Dataset[ImageAsset] = {
    import org.apache.spark.sql.types.LongType
    docs.select(col("doc_id").cast(LongType)).as[Long](Encoders.scalaLong)
      .mapPartitions { it =>
        it.flatMap { d =>
          val rgb0 = new Array[Byte](baseW * baseH * 3)
          var y = 0
          while (y < baseH) {
            var x = 0
            while (x < baseW) {
              val g = imagePix(d, y, x).toByte
              val i = (y * baseW + x) * 3
              rgb0(i) = g; rgb0(i + 1) = g; rgb0(i + 2) = g
              x += 1
            }
            y += 1
          }
          val basePng = FakeCodec.encodeRgbPng(baseW, baseH, rgb0)
          // re-encode from the DECODED pixels — a second real round-trip
          val (w0, h0, dec0) = FakeCodec.pngDecode(basePng)
          val reencoded = FakeCodec.encodeRgbPng(w0, h0, dec0)
          // 2x nearest-neighbor upscale + brightness +4 (clamped) over
          // the decoded buffer, then a real encode of the result
          val (ow, oh) = (w0 * 2, h0 * 2)
          val up = new Array[Byte](ow * oh * 3)
          var oy = 0
          while (oy < oh) {
            val sy = oy * h0 / oh
            var ox = 0
            while (ox < ow) {
              val sx = ox * w0 / ow
              val si = (sy * w0 + sx) * 3
              val oi = (oy * ow + ox) * 3
              var c = 0
              while (c < 3) {
                up(oi + c) = math.min((dec0(si + c) & 0xff) + 4, 255).toByte
                c += 1
              }
              ox += 1
            }
            oy += 1
          }
          val resizedPng = FakeCodec.encodeRgbPng(ow, oh, up)
          Seq(ImageAsset(d, baseW, basePng),
            ImageAsset(d + 20000000, baseW, reencoded),
            ImageAsset(d + 40000000, ow, resizedPng))
        }
      }(Encoders.product[ImageAsset])
  }

  /** Real ImageIO pixel decode of an image-asset table — media bytes
    * stay in their partition (narrow mapPartitions, the codec seam). */
  def decodeImages(images: Dataset[ImageAsset]): Dataset[DecodedImage] =
    images.mapPartitions { it =>
      it.map { a =>
        val (w, _, rgb) = FakeCodec.pngDecode(a.content)
        DecodedImage(a.img_id, w, rgb)
      }
    }(Encoders.product[DecodedImage])

  /** Per-image 64-bit perceptual dHash as four 16-bit bands — ONE
    * codegen'd projection over the decoded pixels
    * (graft.plans.DHash64Bands: BT.601 luma → 9×8 average pool →
    * neighbor-gradient bits). Output (doc_id, bands) feeds the same
    * Manku banded-Hamming machinery text SimHash uses. */
  def imageDHashBands(images: Dataset[ImageAsset]): DataFrame =
    decodeImages(images).toDF()
      .select(col("img_id").as("doc_id"),
        graft.plans.functions.dhash64_bands(col("pixels"), col("width"), 3)
          .as("bands"))

  /** Image near-dup pairs (x87): dHash fingerprints into
    * [[graft.dedup.Dedup.bandedHammingPairs]] — band equi-join for
    * candidates (never all-pairs), exact Hamming ≤ `maxHamming` verify.
    * At 100 TB: pixels never shuffle (the decode+hash projection is
    * partition-local and emits 4 longs per image); only the 32-byte
    * fingerprints enter the exchange. */
  def imagePHashPairs(images: Dataset[ImageAsset], maxHamming: Int = 3): DataFrame =
    graft.dedup.Dedup.bandedHammingPairs(imageDHashBands(images), maxHamming)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("hamming"))

  /** Deterministic 16-bit PCM test signal for the x89 audio-dedup
    * corpus: sample s of document d's base track, in [−16384, 16383]
    * so an EXACT 2× gain never clips (doubling preserves every
    * magnitude order, so the gain copy's gradient fingerprint is
    * bit-identical by construction — the energy-gradient analog of
    * dHash's brightness invariance). The QUADRATIC Lehmer mix is
    * load-bearing: a bilinear formula (first version) produces
    * near-periodic sawtooths whose energy contours collapse onto a few
    * alternating-bit fingerprints (0x5555-class band values — measured
    * 86–1962 distinct values over 120k tracks, a quadratic-pair LSH
    * hot-bucket), while v² mod P injects the doc-dependent s² cross
    * term: ~4750 distinct values per band, cross-doc Hamming ≥ 17,
    * bucket occupancy ~1.2. */
  def audioSampleVal(d: Long, s: Int): Int = {
    val v = (d * 1000003L + s * 7919L + 13L) % P
    ((v * v % P) % 32768L - 16384L).toInt
  }

  /** Planted audio near-dup corpus (x89): per document a base 1040-
    * sample mono WAV of [[audioSampleVal]], a RE-ENCODED copy
    * (+20000000 — decode the base WAV, encode the decoded samples again:
    * sample-identical through a second real javax.sound round-trip),
    * and a 2× GAIN copy with a ±1 alternate-sample dither (+40000000 —
    * the re-mastered/re-compressed near-dup: gain is fingerprint-exact,
    * the dither perturbs frame energies by ≤16 of a ~260k scale, so a
    * handful of near-tie gradient bits may flip — what the Hamming
    * threshold exists to absorb). Every byte passes through the real
    * javax.sound encode/decode pipeline; the oracle reproduces the
    * planted samples by pure arithmetic (the x62/x87 pattern). */
  def audioCorpus(docs: DataFrame, nSamples: Int = 1040): Dataset[AudioAsset] = {
    import org.apache.spark.sql.types.LongType
    docs.select(col("doc_id").cast(LongType)).as[Long](Encoders.scalaLong)
      .mapPartitions { it =>
        it.flatMap { d =>
          val base = Array.tabulate(nSamples)(s => audioSampleVal(d, s))
          val baseWav = FakeCodec.encodePcm16Wav(base)
          // re-encode from the DECODED samples — a second real round-trip
          val reencoded = FakeCodec.encodePcm16Wav(FakeCodec.pcm16Samples(baseWav))
          val gain = Array.tabulate(nSamples)(s => 2 * base(s) + (s % 2))
          Seq(AudioAsset(d, baseWav),
            AudioAsset(d + 20000000, reencoded),
            AudioAsset(d + 40000000, FakeCodec.encodePcm16Wav(gain)))
        }
      }(Encoders.product[AudioAsset])
  }

  /** Frame-energy contour of a real-decoded WAV: 16-sample frames,
    * per-frame sum of |sample| — partition-local decode (the codec
    * seam, like [[decodeImages]]); only the 65-long contour leaves the
    * row. */
  def audioEnergies(audio: Dataset[AudioAsset], frameLen: Int = 16): Dataset[AudioEnergies] =
    audio.mapPartitions { it =>
      it.map { a =>
        val s = FakeCodec.pcm16Samples(a.content)
        val nf = s.length / frameLen
        val es = new Array[Long](nf)
        var i = 0
        val full = nf * frameLen
        while (i < full) { es(i / frameLen) += math.abs(s(i)); i += 1 }
        AudioEnergies(a.aud_id, es)
      }
    }(Encoders.product[AudioEnergies])

  /** Deterministic grayscale pixel for the x91 scene-cut corpus: pixel
    * (y, x) of scene `sc` in document d's track. Values stay ≤ 199 so
    * the ≤ 2 within-scene phase drift never wraps; consecutive scenes
    * differ by ±97/±103 per pixel (≫ drift), so boundaries are
    * deterministic, not statistical. */
  def scenePix(d: Long, sc: Int, y: Int, x: Int): Int =
    ((d * 53 + sc.toLong * 97 + y * 7 + x * 11) % 200).toInt

  /** Planted multi-scene MJPEG-style track: `nFrames` w×h PNG frames in
    * a real mp4 container; scene index i/sceneLen sets the [[scenePix]]
    * base, and a +1-per-frame phase drifts within the scene (total
    * within-scene frame diff = w·h·3, far under any sane threshold,
    * while scene boundaries jump ≥ 95 per channel per pixel). */
  def sceneAsset(mediaId: Long, nFrames: Int, sceneLen: Int,
                 w: Int = 8, h: Int = 6): Array[Byte] = {
    require(nFrames > 0 && sceneLen > 0, "frames and sceneLen must be positive")
    val frames = (0 until nFrames).map { i =>
      val sc = i / sceneLen
      val ph = i % sceneLen
      val rgb = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = (scenePix(mediaId, sc, y, x) + ph).toByte
          val p = (y * w + x) * 3
          rgb(p) = v; rgb(p + 1) = v; rgb(p + 2) = v
          x += 1
        }
        y += 1
      }
      FakeCodec.encodeRgbPng(w, h, rgb)
    }
    FakeCodec.mp4Asset(frames)
  }

  /** x91 — scene-cut detection over an image-coded track: real demux +
    * per-frame ImageIO decode (the x62 path), then the consecutive-frame
    * sum-of-absolute-differences — a boundary whose SAD exceeds
    * `threshold` is a cut. This is the shot-boundary index a video
    * training pipeline samples from: one representative frame per scene
    * beats every-Nth-frame sampling (which oversamples static shots and
    * straddles transitions). A dimension change between decodable
    * frames counts as a cut at maximal dissimilarity (255·3 per pixel
    * of the larger frame); undecodable samples drop out of the chain
    * (the diff spans the gap — observable via n_frames, never guessed).
    * Emits per asset: decoded-frame count, cut count, first cut index,
    * and rolling checksums of the full cut bitmask AND the raw SAD
    * sequence — the oracle certifies every boundary's arithmetic, not
    * just the counts.
    *
    * Scale shape: partition-local mapPartitions over media bytes (which
    * never shuffle), one 6-field row out per asset. */
  def sceneCuts(ds: Dataset[MediaRow], threshold: Long): Dataset[SceneCutStats] =
    ds.mapPartitions { it =>
      it.map { m =>
        val samples =
          if (m.meta.format == "mp4")
            FakeCodec.mp4Samples(m.content).getOrElse(IndexedSeq.empty)
          else IndexedSeq.empty
        val decoded = samples.flatMap { case (off, sz) =>
          FakeCodec.decodeFramePixels(
            java.util.Arrays.copyOfRange(m.content, off.toInt, (off + sz).toInt))
        }
        var nCuts = 0L
        var first = -1L
        var cutCs = 0L
        var diffCs = 0L
        var j = 1
        while (j < decoded.length) {
          val (w0, h0, a) = decoded(j - 1)
          val (w1, h1, b) = decoded(j)
          val diff: Long =
            if (w0 != w1 || h0 != h1) 765L * math.max(w0 * h0, w1 * h1)
            else {
              var s = 0L
              var i = 0
              while (i < a.length) {
                s += math.abs((a(i) & 0xff) - (b(i) & 0xff))
                i += 1
              }
              s
            }
          val cut = if (diff > threshold) 1L else 0L
          if (cut == 1L) { nCuts += 1; if (first < 0) first = j.toLong }
          cutCs = (cutCs * 31 + cut) % P
          diffCs = (diffCs * 31 + diff % P) % P
          j += 1
        }
        SceneCutStats(m.media_id, decoded.length.toLong, nCuts, first,
          cutCs, diffCs)
      }
    }(Encoders.product[SceneCutStats])

  /** Audio near-dup pairs (x89): energy-gradient fingerprints (one
    * codegen'd [[graft.plans.functions.gradient64_bands]] projection
    * over the contour) into the SAME Manku banded-Hamming machinery as
    * text SimHash and image dHash. At 100 TB: audio bytes never
    * shuffle — the decode+contour pass is partition-local and emits 65
    * longs per track, the hash is 4 longs, and only those enter the
    * band equi-join (never all-pairs). */
  def audioFpPairs(audio: Dataset[AudioAsset], maxHamming: Int = 3,
                   maxBucket: Option[Long] = None): DataFrame =
    graft.dedup.Dedup.bandedHammingPairs(
      audioEnergies(audio).toDF()
        .select(col("aud_id").as("doc_id"),
          graft.plans.functions.gradient64_bands(col("energies")).as("bands")),
      maxHamming, maxBucket)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("hamming"))
}
