package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: opaque `binary` payloads + typed metadata.
  *
  * The pattern for image/audio/video at 100 TB: the payload travels as a
  * parquet binary column (or a (path, offset, length) pointer for very large
  * blobs), metadata travels as typed columns, and decode/feature-extract
  * runs as an iterator-to-iterator `mapPartitions` so one task streams one
  * partition of blobs without materializing them all (same shape the
  * reference uses for per-fastq md5/read-count work,
  * collect_seqrun_fastq_to_db.py:248-337).
  *
  * Decoded FOR REAL, in-JVM with no extra dependency: compressed images
  * (PNG/JPEG/GIF/BMP via `javax.imageio` — [[Multimodal.CompressedImage]],
  * oracle-backed through the lossless PNG path), compressed audio
  * (G.711 µ-law/A-law WAV via `javax.sound.sampled` —
  * [[Multimodal.CompressedAudio]], oracle-backed because G.711 expansion
  * is an exact integer mapping), PCM WAV ([[Multimodal.PcmWav]]: RIFF
  * parsing, RMS/peak feature extraction), binary PPM
  * ([[Multimodal.Ppm]]: header + mean-RGB), and VIDEO via Motion-JPEG /
  * Motion-PNG in AVI ([[Multimodal.MjpegAvi]]: RIFF container walk +
  * per-frame `javax.imageio` decode — oracle-backed through lossless PNG
  * frames). Only inter-frame/lossy-DSP codecs (MP3/H.264) remain behind
  * the stub interface ([[Multimodal.DecodeStub]], a deterministic fake)
  * because their libraries are not in this container; swapping the stub
  * for a real JNI/library call changes nothing in the plan.
  */
object Multimodal {

  /** Decoded media metadata — the typed output of the decode stage. */
  final case class MediaMeta(
      doc_id: Long,
      n_bytes: Int,
      width: Int,
      height: Int,
      channels: Int,
      features: Array[Float])

  /** Deterministic fake decoder standing in for the real codec. */
  object DecodeStub {
    def decode(id: Long, payload: Array[Byte]): MediaMeta = {
      val n = payload.length
      val w = (n % 1024) + 1
      val h = (n / 1024) + 1
      // "features": first 8 bytes, scaled — a stand-in for an embedding
      val feats = payload.take(8).padTo(8, 0.toByte).map(b => (b & 0xff) / 255.0f)
      MediaMeta(id, n, w, h, 3, feats)
    }
  }

  /** Decoded audio metadata (PCM WAV — decoded for real, no codec libs
    * needed). */
  final case class AudioMeta(
      doc_id: Long,
      sample_rate: Int,
      channels: Int,
      bits: Int,
      n_samples: Long,
      duration_ms: Double,
      rms: Double,
      peak: Int)

  /** Decoded image metadata (binary PPM "P6" — decoded for real). */
  final case class ImageMeta(
      doc_id: Long,
      width: Int,
      height: Int,
      maxval: Int,
      mean_r: Double,
      mean_g: Double,
      mean_b: Double)

  /** REAL pure-JVM PCM WAV decoder — RIFF/WAVE container, `fmt ` +
    * `data` chunks, 16-bit little-endian PCM. Two codec-free formats
    * (this and [[Ppm]]) are decoded for real so the decode stage is not
    * stub-only; compressed codecs (JPEG/MP3/H.264) stay behind the same
    * interface as [[DecodeStub]] until their libraries exist in the
    * deployment image. Returns None on anything that is not a PCM WAV —
    * the pipeline routes those rows to the stub rather than failing the
    * task. */
  object PcmWav {
    def decode(id: Long, b: Array[Byte]): Option[AudioMeta] = {
      def u16(o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
      def u32(o: Int) = (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
      def tag(o: Int) = new String(b, o, 4, "US-ASCII")
      if (b.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
      // Long cursor: u32 chunk sizes up to 4 GiB in untrusted bytes must
      // neither wrap the walk negative (zero-advance wedge / crash) nor
      // reject truncated-but-decodable files — a declared size past the
      // buffer simply clamps (data) or ends the walk (other chunks)
      var off = 12L
      var fmt: Option[(Int, Int, Int, Int)] = None // audioFormat, ch, rate, bits
      var data: Option[(Int, Int)] = None          // offset, length
      while (off + 8 <= b.length && (fmt.isEmpty || data.isEmpty)) {
        val o = off.toInt
        val id4 = tag(o); val sz = u32(o + 4)
        if (id4 == "fmt " && o + 24 <= b.length)
          fmt = Some((u16(o + 8), u16(o + 10), u32(o + 12).toInt, u16(o + 22)))
        else if (id4 == "data")
          data = Some((o + 8, math.min(sz, b.length.toLong - o - 8).toInt))
        off += 8L + sz + (sz & 1L) // chunks are word-aligned
      }
      for {
        (audioFormat, ch, rate, bits) <- fmt
        if audioFormat == 1 && bits == 16 && ch > 0 && rate > 0
        (dOff, dLen) <- data
      } yield {
        val nFrames = dLen / (2 * ch)
        var sumSq = 0.0; var peak = 0; var i = 0
        while (i < nFrames * ch) {
          val s = ((b(dOff + 2 * i) & 0xff) | (b(dOff + 2 * i + 1) << 8)).toShort.toInt
          sumSq += s.toDouble * s; if (math.abs(s) > peak) peak = math.abs(s)
          i += 1
        }
        val n = (nFrames * ch).max(1)
        AudioMeta(id, rate, ch, bits, nFrames.toLong,
          nFrames * 1000.0 / rate, math.sqrt(sumSq / n), peak)
      }
    }
  }

  /** REAL pure-JVM binary-PPM (P6) decoder: header `P6 <w> <h> <maxval>`
    * with comment support, then raw RGB triplets. */
  object Ppm {
    def decode(id: Long, b: Array[Byte]): Option[ImageMeta] = {
      var off = 0
      def skipWs(): Unit = {
        var go = true
        while (go && off < b.length) {
          val c = b(off).toChar
          if (c == '#') { while (off < b.length && b(off) != '\n') off += 1 }
          else if (c.isWhitespace) off += 1
          else go = false
        }
      }
      def int(): Option[Int] = {
        skipWs(); val start = off
        while (off < b.length && b(off).toChar.isDigit) off += 1
        // > 9 digits overflows Int — malformed header, None not an exception
        if (off > start && off - start <= 9)
          Some(new String(b, start, off - start, "US-ASCII").toInt)
        else None
      }
      if (b.length < 2 || b(0) != 'P' || b(1) != '6') return None
      off = 2
      for {
        w <- int(); h <- int(); mx <- int()
        if w > 0 && h > 0 && mx > 0 && mx < 65536
        _ = { off += 1 } // single whitespace after maxval
        if off + 3L * w * h <= b.length && mx < 256 // 1 byte/sample
      } yield {
        var (sr, sg, sb2) = (0L, 0L, 0L); var i = 0; val n = w * h
        while (i < n) {
          sr += b(off + 3 * i) & 0xff
          sg += b(off + 3 * i + 1) & 0xff
          sb2 += b(off + 3 * i + 2) & 0xff
          i += 1
        }
        ImageMeta(id, w, h, mx, sr.toDouble / n, sg.toDouble / n, sb2.toDouble / n)
      }
    }
  }

  /** Decoded compressed image: dimensions + EXACT integer channel sums
    * (means = sum / (width·height), left to the caller — integer sums are
    * what cross-engine checks can compare without float policy). */
  final case class DecodedImage(
      doc_id: Long,
      width: Int,
      height: Int,
      sum_r: Long,
      sum_g: Long,
      sum_b: Long)

  /** REAL compressed-image codec via `javax.imageio` (PNG/JPEG/GIF/BMP —
    * in-JVM, no new dependency). Returns None on anything ImageIO cannot
    * read: hostile/truncated/random bytes must route to None, never fail
    * the task (MultimodalSpec feeds it garbage). PNG is lossless, which
    * is what lets the m02 query carry an exact DuckDB oracle: a decoded
    * PNG's channel sums equal the sums of the pixels that were encoded. */
  object CompressedImage {
    javax.imageio.ImageIO.setUseCache(false) // no temp-file cache on executors

    /** Shared hostile-bytes seam: anything ImageIO cannot read → None. */
    private[multimodal] def readImage(
        bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None else Some(img)
      } catch { case scala.util.control.NonFatal(_) => None }

    def decode(id: Long, bytes: Array[Byte]): Option[DecodedImage] =
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
        else {
          var (sr, sg, sb) = (0L, 0L, 0L)
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val rgb = img.getRGB(x, y)
              sr += (rgb >> 16) & 0xff
              sg += (rgb >> 8) & 0xff
              sb += rgb & 0xff
              x += 1
            }
            y += 1
          }
          Some(DecodedImage(id, img.getWidth, img.getHeight, sr, sg, sb))
        }
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Encode a deterministic test pattern as PNG (or JPEG) bytes: pixel
      * (x, y) channel c is `(3x + 7y + 11c + seed) mod 256` — the same
      * closed form a SQL oracle can sum without decoding anything. */
    def renderPattern(seed: Long, w: Int, h: Int, format: String = "png"): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = ((3L * x + 7L * y + seed) % 256).toInt
          val g = ((3L * x + 7L * y + 11 + seed) % 256).toInt
          val b = ((3L * x + 7L * y + 22 + seed) % 256).toInt
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, format, out)
      out.toByteArray
    }

    /** Box-average RESIZE to a `grid`×`grid` feature patch: output pixel
      * (ty, tx) owns source pixels with `y*grid/h == ty && x*grid/w == tx`
      * and its channel value is the FLOOR mean of theirs — pure integer
      * arithmetic, so (over lossless inputs) a SQL oracle reproduces every
      * cell exactly. Images smaller than the grid (a tile would own no
      * pixels) yield Nil, same contract as undecodable bytes. */
    def decodeTiles(id: Long, bytes: Array[Byte], grid: Int): Seq[ImageTile] =
      readImage(bytes) match {
        case Some(img) if img.getWidth >= grid && img.getHeight >= grid =>
          val w = img.getWidth; val h = img.getHeight
          val sums = new Array[Long](grid * grid * 3)
          val cnt = new Array[Long](grid * grid)
          var y = 0
          while (y < h) {
            val ty = y * grid / h
            var x = 0
            while (x < w) {
              val t = ty * grid + x * grid / w
              val rgb = img.getRGB(x, y)
              sums(t * 3) += (rgb >> 16) & 0xff
              sums(t * 3 + 1) += (rgb >> 8) & 0xff
              sums(t * 3 + 2) += rgb & 0xff
              cnt(t) += 1
              x += 1
            }
            y += 1
          }
          for (ty <- 0 until grid; tx <- 0 until grid) yield {
            val t = ty * grid + tx
            ImageTile(id, ty, tx, cnt(t), (sums(t * 3) / cnt(t)).toInt,
              (sums(t * 3 + 1) / cnt(t)).toInt, (sums(t * 3 + 2) / cnt(t)).toInt)
          }
        case _ => Nil
      }

    /** Difference hash (dHash) over the `grid`×`grid` box-averaged
      * SCALED-integer luma plane (299r + 587g + 114b — no float, no /1000:
      * only comparisons consume it). Horizontal bits first (cell[y][x+1] >
      * cell[y][x] → bit y·(grid−1)+x), then vertical with the same layout
      * transposed — 2·grid·(grid−1) bits total (24 at grid=4). Perceptual:
      * a global brightness shift that wraps nowhere flips no bit. */
    def dhash(id: Long, bytes: Array[Byte], grid: Int = 4): Option[ImageHash] =
      readImage(bytes) match {
        case Some(img) if img.getWidth >= grid && img.getHeight >= grid =>
          Some(ImageHash(id, img.getWidth, img.getHeight, dhashOf(img, grid)))
        case _ => None
      }

    /** The dHash core over an already-decoded image (width/height >= grid)
      * — shared by the still path above and [[MjpegAvi]]'s per-frame
      * hashing. */
    private[multimodal] def dhashOf(img: java.awt.image.BufferedImage,
                                    grid: Int): Long = {
      val w = img.getWidth; val h = img.getHeight
      val lum = new Array[Long](grid * grid)
      val cnt = new Array[Long](grid * grid)
      var y = 0
      while (y < h) {
        val ty = y * grid / h
        var x = 0
        while (x < w) {
          val t = ty * grid + x * grid / w
          val rgb = img.getRGB(x, y)
          lum(t) += 299L * ((rgb >> 16) & 0xff) +
            587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
          cnt(t) += 1
          x += 1
        }
        y += 1
      }
      val cell = Array.tabulate(grid * grid)(t => lum(t) / cnt(t))
      var hash = 0L
      for (ty <- 0 until grid; x <- 0 until grid - 1)
        if (cell(ty * grid + x + 1) > cell(ty * grid + x))
          hash |= 1L << (ty * (grid - 1) + x)
      val off = grid * (grid - 1)
      for (tx <- 0 until grid; y2 <- 0 until grid - 1)
        if (cell((y2 + 1) * grid + tx) > cell(y2 * grid + tx))
          hash |= 1L << (off + tx * (grid - 1) + y2)
      hash
    }
  }

  /** One cell of a box-average image resize: integer floor means, exact
    * cross-engine (see [[CompressedImage.decodeTiles]]). */
  final case class ImageTile(
      doc_id: Long,
      tile_y: Int,
      tile_x: Int,
      n_px: Long,
      r: Int,
      g: Int,
      b: Int)

  /** Perceptual hash of one image (see [[CompressedImage.dhash]]). */
  final case class ImageHash(
      doc_id: Long,
      width: Int,
      height: Int,
      dhash: Long)

  /** Energy-profile fingerprint of one audio stream
    * (see [[CompressedAudio.fingerprint]]). */
  final case class AudioFingerprint(
      doc_id: Long,
      encoding: String,
      n_samples: Long,
      fingerprint: Long)

  /** Decoded compressed audio: stream metadata + EXACT integer PCM stats
    * (sums/extrema, not float RMS — what a cross-engine check can compare
    * without a float policy, the [[DecodedImage]] lesson). */
  final case class DecodedAudio(
      doc_id: Long,
      encoding: String,
      sample_rate: Int,
      n_samples: Long,
      sum_pcm: Long,
      min_pcm: Int,
      max_pcm: Int)

  /** REAL compressed-audio codec via `javax.sound.sampled` (G.711 µ-law /
    * A-law WAV — in-JVM, no new dependency): the container is parsed and
    * each log-companded byte is expanded to linear 16-bit PCM by the JDK's
    * ULAW/ALAW converters. G.711 decode is EXACT (a fixed 256-entry
    * integer mapping, no DSP), so the m03 query carries a full DuckDB
    * oracle: the SQL replays the published G.711 expansion formulas, and
    * AudioCodecSpec pins the JDK converters to those formulas over all 256
    * byte values. Hostile/undecodable bytes route to None, never fail the
    * task. MP3/H.264 (genuinely lossy, libraries absent here) stay behind
    * [[DecodeStub]]. */
  object CompressedAudio {
    import java.io.ByteArrayInputStream
    import javax.sound.sampled.{AudioFormat, AudioSystem}

    /** JDK-derived G.711 expansion tables, built ONCE per JVM by pushing
      * all 256 companded byte values through the `javax.sound` converter.
      * The JDK stays the codec of record — the table IS its output — but
      * the per-row hot path then maps bytes lock-free:
      * `AudioSystem.getAudioInputStream` serializes on the provider
      * registry, which INVERTED scaling under local[32] (m03 0.66 s
      * serial → 1.22 s with 32 decode threads before this cache). */
    private lazy val ulawTable: Array[Int] = jdkTable(aLaw = false)
    private lazy val alawTable: Array[Int] = jdkTable(aLaw = true)

    private def jdkTable(aLaw: Boolean): Array[Int] = {
      val wav = renderG711WavBytes(Array.tabulate[Byte](256)(_.toByte), 8000, aLaw)
      val src = AudioSystem.getAudioInputStream(new ByteArrayInputStream(wav))
      try {
        val f = src.getFormat
        val pcmFmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
          f.getSampleRate, 16, f.getChannels, 2 * f.getChannels,
          f.getSampleRate, false)
        val out = AudioSystem.getAudioInputStream(pcmFmt, src).readAllBytes()
        require(out.length == 512, s"expected 256 expanded samples, got ${out.length / 2}")
        Array.tabulate(256)(i => ((out(2 * i) & 0xff) | (out(2 * i + 1) << 8)).toShort.toInt)
      } finally src.close()
    }

    /** Strict single-fmt/single-data mono-8-bit G.711 RIFF walk → expanded
      * samples. Returns None to mean FALL BACK to the JDK path, not
      * "undecodable": any container this walker is unsure about (duplicate
      * chunks, multi-channel, inconsistent RIFF length, hostile chunk
      * lengths) routes to [[decodeJdk]], so accept/reject behavior on
      * arbitrary bytes is decided by the JDK exactly as before. */
    private def expandFast(b: Array[Byte]): Option[(String, Int, Array[Int])] = try {
      def u16(o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
      def u32(o: Int) = (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
      def tagAt(o: Int) = new String(b, o, 4, "US-ASCII")
      if (b.length < 12 || tagAt(0) != "RIFF" || tagAt(8) != "WAVE") return None
      if (u32(4) != b.length.toLong - 8) return None
      var off = 12
      var fmtTag = -1; var rate = -1; var dataOff = -1; var dataLen = -1L
      while (off + 8 <= b.length) {
        val t = tagAt(off); val len = u32(off + 4)
        if (len > b.length.toLong - off - 8) return None
        t match {
          case "fmt " =>
            if (fmtTag >= 0 || len < 16) return None
            fmtTag = u16(off + 8)
            if ((fmtTag != 6 && fmtTag != 7) || u16(off + 10) != 1 ||
              u16(off + 22) != 8) return None // mono, 8 bits/sample only
            rate = u32(off + 12).toInt
          case "data" =>
            // fmt must precede data: the JDK's reader searches for data
            // only AFTER fmt, so a [data][fmt] layout is JDK-rejected —
            // fall back rather than accept what the codec of record won't
            if (dataOff >= 0 || fmtTag < 0) return None
            dataOff = off + 8; dataLen = len
          case _ => ()
        }
        val advance = 8L + len + (len & 1L)
        if (advance + off > Int.MaxValue) return None
        off += advance.toInt
      }
      if (fmtTag < 0 || rate <= 0 || dataOff < 0 || dataLen < 0) return None
      val table = if (fmtTag == 7) ulawTable else alawTable
      val samples = new Array[Int](dataLen.toInt)
      var i = 0
      while (i < samples.length) { samples(i) = table(b(dataOff + i) & 0xff); i += 1 }
      Some((if (fmtTag == 7) "ulaw" else "alaw", rate, samples))
      // NonFatal (incl. a failed lazy jdkTable init on a JVM without the
      // G.711 converters) → fall back to the JDK path, which degrades to
      // None itself — the hostile-bytes contract must never throw
    } catch { case scala.util.control.NonFatal(_) => None }

    def decode(id: Long, bytes: Array[Byte]): Option[DecodedAudio] =
      expandFast(bytes) match {
        case Some((enc, rate, samples)) =>
          if (samples.isEmpty) None
          else {
            var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue; var i = 0
            while (i < samples.length) {
              val s = samples(i)
              sum += s; if (s < mn) mn = s; if (s > mx) mx = s
              i += 1
            }
            Some(DecodedAudio(id, enc, rate, samples.length.toLong, sum, mn, mx))
          }
        case None => decodeJdk(id, bytes)
      }

    /** The original full-`AudioSystem` path — codec of record, and the
      * route for every container [[expandFast]] does not recognize. */
    private[graft] def decodeJdk(id: Long, bytes: Array[Byte]): Option[DecodedAudio] =
      try {
        val src = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
        try {
          val f = src.getFormat
          val encName =
            if (f.getEncoding == AudioFormat.Encoding.ULAW) Some("ulaw")
            else if (f.getEncoding == AudioFormat.Encoding.ALAW) Some("alaw")
            else None // PCM goes through PcmWav; lossy codecs through the stub
          encName.flatMap { enc =>
            val pcmFmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
              f.getSampleRate, 16, f.getChannels, 2 * f.getChannels,
              f.getSampleRate, false)
            val pcm = AudioSystem.getAudioInputStream(pcmFmt, src)
            val out = pcm.readAllBytes()
            val n = out.length / 2
            if (n == 0) None
            else {
              var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue; var i = 0
              while (i < n) {
                val s = ((out(2 * i) & 0xff) | (out(2 * i + 1) << 8)).toShort.toInt
                sum += s; if (s < mn) mn = s; if (s > mx) mx = s
                i += 1
              }
              Some(DecodedAudio(id, enc, f.getSampleRate.toInt, n.toLong, sum, mn, mx))
            }
          }
        } finally src.close()
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Energy-profile audio fingerprint — the audio twin of the image
      * dHash: the exactly-expanded PCM stream is cut into `frames` equal
      * slices (sample i → frame i·frames/n, the same floor bucketing as
      * image tiles), each frame's energy is the INTEGER sum of absolute
      * amplitudes, and bit f says energy rose from frame f to f+1 —
      * frames−1 bits. Amplitude-scale invariant (G.711 expansion is
      * monotone) and exactly replayable in SQL because G.711 decode is a
      * fixed integer mapping. Streams shorter than `frames` samples (an
      * empty slice) yield None, same contract as undecodable bytes. */
    def fingerprint(id: Long, bytes: Array[Byte],
                    frames: Int = 16): Option[AudioFingerprint] =
      expandFast(bytes) match {
        case Some((enc, _, samples)) =>
          val n = samples.length
          if (n < frames) None
          else {
            val energy = new Array[Long](frames)
            var i = 0
            while (i < n) {
              energy((i.toLong * frames / n).toInt) += math.abs(samples(i))
              i += 1
            }
            var fp = 0L
            var b = 0
            while (b < frames - 1) {
              if (energy(b + 1) > energy(b)) fp |= 1L << b
              b += 1
            }
            Some(AudioFingerprint(id, enc, n.toLong, fp))
          }
        case None => fingerprintJdk(id, bytes, frames)
      }

    /** `AudioSystem` fingerprint path — see [[decodeJdk]]. */
    private[graft] def fingerprintJdk(id: Long, bytes: Array[Byte],
                                           frames: Int = 16): Option[AudioFingerprint] =
      try {
        val src = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
        try {
          val f = src.getFormat
          val encName =
            if (f.getEncoding == AudioFormat.Encoding.ULAW) Some("ulaw")
            else if (f.getEncoding == AudioFormat.Encoding.ALAW) Some("alaw")
            else None
          encName.flatMap { enc =>
            val pcmFmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
              f.getSampleRate, 16, f.getChannels, 2 * f.getChannels,
              f.getSampleRate, false)
            val pcm = AudioSystem.getAudioInputStream(pcmFmt, src)
            val out = pcm.readAllBytes()
            val n = out.length / 2
            if (n < frames) None
            else {
              val energy = new Array[Long](frames)
              var i = 0
              while (i < n) {
                val s = ((out(2 * i) & 0xff) | (out(2 * i + 1) << 8)).toShort.toInt
                energy((i.toLong * frames / n).toInt) += math.abs(s)
                i += 1
              }
              var fp = 0L
              var b = 0
              while (b < frames - 1) {
                if (energy(b + 1) > energy(b)) fp |= 1L << b
                b += 1
              }
              Some(AudioFingerprint(id, enc, n.toLong, fp))
            }
          }
        } finally src.close()
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Hand-built RIFF/WAVE container holding G.711-companded bytes:
      * format tag 7 (µ-law) or 6 (A-law), 8 bits, mono. Stored byte `i` is
      * `(5i + seed) mod 256` — the closed form the SQL oracle expands
      * through the G.711 formulas without any audio library. */
    def renderG711Wav(seed: Long, nSamples: Int, rate: Int, aLaw: Boolean): Array[Byte] =
      renderG711WavBytes(
        Array.tabulate[Byte](nSamples)(i => ((5L * i + seed) % 256).toByte),
        rate, aLaw)

    /** Same container around caller-supplied companded bytes (the
      * [[jdkTable]] probe stream, test fixtures). */
    def renderG711WavBytes(data: Array[Byte], rate: Int, aLaw: Boolean): Array[Byte] = {
      val fmtTag = if (aLaw) 6 else 7
      val out = new java.io.ByteArrayOutputStream(64 + data.length)
      def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
      def tag(s: String): Unit = out.write(s.getBytes("US-ASCII"))
      val dataLen = data.length
      // RIFF size = 4 (WAVE) + (8+18) fmt + (8+4) fact + 8 + data
      tag("RIFF"); w32(4 + 26 + 12 + 8 + dataLen); tag("WAVE")
      tag("fmt "); w32(18); w16(fmtTag); w16(1); w32(rate); w32(rate)
      w16(1); w16(8); w16(0) // block align 1, 8 bits, cbSize 0
      tag("fact"); w32(4); w32(dataLen) // conventional for non-PCM
      tag("data"); w32(dataLen)
      out.write(data)
      out.toByteArray
    }
  }

  /** Compressed-audio decode stage: iterator-to-iterator over G.711 WAV
    * payloads through the REAL javax.sound codec; undecodable rows drop. */
  def decodeG711Partitions(payloads: DataFrame, spark: SparkSession): Dataset[DecodedAudio] = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) => CompressedAudio.decode(id, bytes) })
  }

  /** Compressed-image decode stage: iterator-to-iterator `mapPartitions`
    * over binary payloads through the REAL ImageIO codec; undecodable
    * rows are dropped (or route them to [[DecodeStub]] upstream). */
  def decodeImagePartitions(payloads: DataFrame, spark: SparkSession): Dataset[DecodedImage] = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) => CompressedImage.decode(id, bytes) })
  }

  /** Audio decode stage: iterator-to-iterator over PCM WAV payloads; rows
    * that are not PCM WAV are dropped (route them to [[DecodeStub]]). */
  def decodeWavPartitions(payloads: DataFrame, spark: SparkSession): Dataset[AudioMeta] = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) => PcmWav.decode(id, bytes) })
  }

  /** Image decode stage for binary PPM payloads. */
  def decodePpmPartitions(payloads: DataFrame, spark: SparkSession): Dataset[ImageMeta] = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) => Ppm.decode(id, bytes) })
  }

  /** Attach a binary payload column (here: the UTF-8 bytes of `textCol`;
    * in production, the raw media bytes read via `binaryFile`). */
  def attachPayload(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), col(textCol).cast("binary").as("payload"))

  /** Decode stage: one task streams one partition of payloads through the
    * (stub) codec. Iterator-to-iterator — constant memory per task. */
  def decodePartitions(payloads: DataFrame, spark: SparkSession): Dataset[MediaMeta] = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => DecodeStub.decode(id, bytes) })
  }

  /** Box-average resize of image payloads to `grid`×`grid` integer
    * feature patches — the resize stage of a multimodal pipeline. One
    * decode per payload, `grid²` rows out; all downstream ops (tile
    * filters, per-tile aggregation, patch assembly via groupBy) stay
    * declarative. */
  def resizePartitions(payloads: DataFrame, spark: SparkSession,
                       grid: Int = 4): Dataset[ImageTile] = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        CompressedImage.decodeTiles(id, bytes, grid) })
  }

  /** Perceptual-hash image payloads (dHash) — the feature-extract stage
    * feeding image near-dup: exact-hash clustering is a groupBy on the
    * result; hamming-tolerant clustering is
    * [[graft.dedup.SimHash.hammingNearDuplicates]] over the hash column
    * (same banded chunk join, never all-pairs). */
  def dhashPartitions(payloads: DataFrame, spark: SparkSession,
                      grid: Int = 4): Dataset[ImageHash] = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        CompressedImage.dhash(id, bytes, grid) })
  }

  /** IMA ADPCM (DVI4) — a SECOND real compressed-audio codec, 4 bits per
    * sample (4:1 vs PCM16), implemented from the published algorithm
    * (step-size table walk + sign/magnitude delta accumulation; the JDK
    * has no ADPCM service provider, so the decoder is ours end-to-end).
    * The whole state machine is integer (table lookups, shifts, clamps),
    * so a SQL oracle replays it exactly with a RECURSIVE CTE carrying
    * (predictor, step-index) per document.
    *
    * Container: standard RIFF/WAVE, format tag 0x11, mono, one data
    * block; the 4-byte block header's predictor IS sample 0 and each
    * following nibble (low first) yields one sample; total sample count
    * rides the (standard, mandatory-for-compressed) `fact` chunk. */
  object ImaAdpcm {
    /** Published IMA step-size table — public so the m08 oracle SQL is
      * generated from the SAME array the decoder walks. */
    val stepTable: Array[Int] = Array(
      7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
      41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
      190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
      724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
      2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
      6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
      16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
    private val indexAdjust: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

    /** One decode step; returns (sample, nextStepIndex). */
    private def step(code: Int, pred: Int, sidx: Int): (Int, Int) = {
      val st = stepTable(sidx)
      val mag = code & 7
      var diff = st >> 3
      if ((mag & 4) != 0) diff += st
      if ((mag & 2) != 0) diff += st >> 1
      if ((mag & 1) != 0) diff += st >> 2
      val p = if ((code & 8) != 0) pred - diff else pred + diff
      val clamped = math.max(-32768, math.min(32767, p))
      val ni = math.max(0, math.min(88, sidx + indexAdjust(mag)))
      (clamped, ni)
    }

    /** RIFF/WAVE container: fmt tag 0x11 (IMA ADPCM), fact chunk with the
      * sample count, one block. Nibble j comes from data byte j/2 =
      * `(5*(j/2) + seed) mod 256`, low nibble first — the closed form the
      * oracle regenerates. */
    def renderWav(seed: Long, nSamples: Int, rate: Int): Array[Byte] = {
      require(nSamples >= 1)
      val nNibbles = nSamples - 1
      val nData = (nNibbles + 1) / 2
      val blockBytes = 4 + nData
      val out = new java.io.ByteArrayOutputStream()
      def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
      def tag(s: String): Unit = out.write(s.getBytes("US-ASCII"))
      tag("RIFF"); w32(4 + 26 + 12 + 8 + blockBytes); tag("WAVE")
      tag("fmt "); w32(20)
      w16(0x11); w16(1)                  // IMA ADPCM, mono
      w32(rate); w32(rate * blockBytes / math.max(nSamples, 1))
      w16(blockBytes); w16(4)            // block align, bits/sample
      w16(2); w16(nSamples)              // cbSize, samples/block
      tag("fact"); w32(4); w32(nSamples)
      tag("data"); w32(blockBytes)
      w16(0)                             // header predictor = sample 0 = 0
      out.write(0)                       // initial step index
      out.write(0)                       // reserved
      var k = 0
      while (k < nData) {
        out.write((5L * k + seed).toInt & 0xff)
        k += 1
      }
      out.toByteArray
    }

    /** Parse + decode; None for anything not an IMA-ADPCM WAV of ours'
      * shape (wrong magic/tag, truncated data, inconsistent fact count). */
    def decode(id: Long, b: Array[Byte]): Option[DecodedAudio] =
      try {
        def u16(o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
        def u32(o: Int) = (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
          ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
        def s16(o: Int) = u16(o).toShort.toInt
        def tagAt(o: Int) = new String(b, o, 4, "US-ASCII")
        if (b.length < 12 || tagAt(0) != "RIFF" || tagAt(8) != "WAVE") return None
        var off = 12
        var rate = -1; var fact = -1L; var dataOff = -1; var dataLen = -1L
        while (off + 8 <= b.length) {
          val t = tagAt(off); val len = u32(off + 4)
          // Hostile 32-bit lengths (>= 0x80000000, or past end-of-buffer) must
          // not wrap to a negative/zero advance — that would loop forever.
          // Validate in Long before advancing; a chunk that can't fit ends the walk.
          if (len > b.length.toLong - off - 8) return None
          t match {
            case "fmt " =>
              if (len < 16 || u16(off + 8) != 0x11 || u16(off + 10) != 1) return None
              rate = u32(off + 12).toInt
            case "fact" => fact = u32(off + 8)
            case "data" => dataOff = off + 8; dataLen = len
            case _ => ()
          }
          val advance = 8L + len + (len & 1L)
          if (advance + off > Int.MaxValue) return None
          off += advance.toInt
        }
        if (rate <= 0 || fact < 1 || dataOff < 0 || dataLen < 4) return None
        if (dataOff + dataLen > b.length) return None
        val nNibbles = fact.toInt - 1
        if ((nNibbles + 1) / 2 > dataLen - 4) return None
        var pred = s16(dataOff)
        var sidx = math.max(0, math.min(88, b(dataOff + 2) & 0xff))
        var sum = pred.toLong; var mn = pred; var mx = pred
        var j = 0
        while (j < nNibbles) {
          val byte = b(dataOff + 4 + j / 2) & 0xff
          val code = if (j % 2 == 0) byte & 0xf else (byte >> 4) & 0xf
          val (s, ni) = step(code, pred, sidx)
          pred = s; sidx = ni
          sum += s; if (s < mn) mn = s; if (s > mx) mx = s
          j += 1
        }
        Some(DecodedAudio(id, "ima_adpcm", rate, fact, sum, mn, mx))
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** One decoded frame's perceptual hash (see [[MjpegAvi.frameHashes]]). */
  final case class FrameHash(
      doc_id: Long,
      frame_idx: Int,
      dhash: Long)

  /** One sampled frame's raw encoded bytes (see [[MjpegAvi.frameChunks]]
    * / [[videoFrames]]). */
  final case class FrameChunk(
      doc_id: Long,
      frame_idx: Int,
      frame: Array[Byte])

  /** Decoded video frame — per-frame exact channel sums, the video
    * analog of [[DecodedImage]]. */
  final case class VideoFrame(
      doc_id: Long,
      frame_idx: Int,
      width: Int,
      height: Int,
      sum_r: Long,
      sum_g: Long,
      sum_b: Long)

  /** REAL pure-JVM video decode: Motion-JPEG/Motion-PNG in AVI.
    *
    * The AVI container is plain RIFF (the same walk [[PcmWav]] and
    * [[ImaAdpcm]] do for WAVE): `RIFF('AVI ') { LIST('hdrl'){ avih,
    * LIST('strl'){ strh, strf } }, LIST('movi'){ '00dc' <frame> ... } }`,
    * with each '00dc'/'00db' chunk holding one INDEPENDENTLY-compressed
    * still image — the property that makes MJPEG the one video family
    * decodable with `javax.imageio` alone, no codec library. Frames here
    * are PNG ('MPNG' handler), so the per-pixel decode is lossless and
    * the m10 oracle reproduces every channel sum from the closed-form
    * pattern; JPEG frames route through the same ImageIO seam. Only
    * inter-frame codecs (H.264 etc.) remain stubbed.
    *
    * Hostile-bytes contract matches the audio decoders: chunk lengths are
    * validated in Long before every advance (a 32-bit length >= 2^31 must
    * not wrap the walk), anything malformed yields Nil, and a frame chunk
    * ImageIO cannot read is skipped rather than failing the task. */
  object MjpegAvi {

    /** Render a deterministic AVI: `nFrames` frames of the m02 pixel
      * pattern, frame f seeded with `seed + 131*f` (so frames diverge but
      * the oracle's closed form stays one expression), each PNG-encoded
      * into a '00dc' chunk. 10 fps metadata. */
    def renderAvi(seed: Long, nFrames: Int, w: Int, h: Int,
                  format: String = "png"): Array[Byte] = {
      require(nFrames >= 1 && w > 0 && h > 0)
      wrapAvi((0 until nFrames).map(f =>
        CompressedImage.renderPattern(seed + 131L * f, w, h, format)), w, h)
    }

    /** Assemble an AVI container around ALREADY-ENCODED still frames —
      * the renderAvi container logic factored out so tests can build
      * genuine clip/re-cut fixtures (an AVI whose frames are a
      * subsequence of another's exact encoded frames). */
    def wrapAvi(frames: Seq[Array[Byte]], w: Int, h: Int): Array[Byte] = {
      require(frames.nonEmpty && w > 0 && h > 0)
      val nFrames = frames.length
      val out = new java.io.ByteArrayOutputStream()
      def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
      def tag(t: String): Unit = out.write(t.getBytes("US-ASCII"))
      val moviBody = frames.map(f => 8 + f.length + (f.length & 1)).sum
      val hdrlBody = 4 + (8 + 56) + (8 + 4 + (8 + 56) + (8 + 40))
      val riffBody = 4 + (8 + hdrlBody) + (8 + 4 + moviBody)
      tag("RIFF"); w32(riffBody); tag("AVI ")
      tag("LIST"); w32(hdrlBody); tag("hdrl")
      tag("avih"); w32(56)
      w32(100000); w32(0); w32(0); w32(0)      // usPerFrame (10fps), maxBps, padding, flags
      w32(nFrames); w32(0); w32(1); w32(0)     // totalFrames, initial, nStreams, bufSize
      w32(w); w32(h); w32(0); w32(0); w32(0); w32(0) // width, height, reserved[4]
      tag("LIST"); w32(4 + (8 + 56) + (8 + 40)); tag("strl")
      tag("strh"); w32(56)
      tag("vids"); tag("MPNG")                 // fccType, fccHandler
      w32(0); w16(0); w16(0); w32(0)           // flags, priority, language, initialFrames
      w32(1); w32(10); w32(0); w32(nFrames)    // scale, rate (10 fps), start, length
      w32(0); w32(-1); w32(0)                  // bufSize, quality, sampleSize
      w16(0); w16(0); w16(w); w16(h)           // rcFrame
      tag("strf"); w32(40)
      w32(40); w32(w); w32(h); w16(1); w16(24) // biSize..biBitCount
      tag("MPNG"); w32(w * h * 3)              // biCompression, biSizeImage
      w32(0); w32(0); w32(0); w32(0)           // resolution, clrUsed, clrImportant
      tag("LIST"); w32(4 + moviBody); tag("movi")
      frames.foreach { f =>
        tag("00dc"); w32(f.length); out.write(f)
        if ((f.length & 1) == 1) out.write(0)  // chunks are word-aligned
      }
      out.toByteArray
    }

    private def frameSums(idx: Int, id: Long,
                          img: java.awt.image.BufferedImage): VideoFrame = {
      var (sr, sg, sb) = (0L, 0L, 0L)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
          x += 1
        }
        y += 1
      }
      VideoFrame(id, idx, img.getWidth, img.getHeight, sr, sg, sb)
    }

    /** Walk one RIFF chunk list in `[start, end)`, invoking `f` per chunk
      * (tag, bodyOffset, bodyLen). Lengths validated in Long; a chunk that
      * cannot fit ends the walk (malformed tail, not a wedge). */
    private def walkChunks(b: Array[Byte], start: Int, end: Int)
                          (f: (String, Int, Int) => Unit): Unit = {
      def u32(o: Int) = (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
      var off = start
      var ok = true
      while (ok && off + 8 <= end) {
        val len = u32(off + 4)
        if (len > end.toLong - off - 8) ok = false
        else {
          f(new String(b, off, 4, "US-ASCII"), off + 8, len.toInt)
          val advance = 8L + len + (len & 1L)
          if (off + advance > Int.MaxValue) ok = false else off += advance.toInt
        }
      }
    }

    /** Per-frame perceptual hashes: the same RIFF walk, but each decoded
      * frame yields its 24-bit dHash ([[CompressedImage.dhashOf]]) instead
      * of channel sums — the feature-extract stage feeding video-level
      * perceptual dedup (m11). Frames smaller than the grid are skipped
      * like undecodable ones. */
    def frameHashes(id: Long, b: Array[Byte], grid: Int = 4): Seq[FrameHash] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[FrameHash]
      try {
        if (b.length < 12 || new String(b, 0, 4, "US-ASCII") != "RIFF" ||
            new String(b, 8, 4, "US-ASCII") != "AVI ") return Nil
        walkChunks(b, 12, b.length) { (t, o, l) =>
          if (t == "LIST" && l >= 4 &&
              new String(b, o, 4, "US-ASCII") == "movi") {
            walkChunks(b, o + 4, o + l) { (ct, co, cl) =>
              if (ct == "00dc" || ct == "00db") {
                CompressedImage.readImage(java.util.Arrays.copyOfRange(b, co, co + cl))
                  .filter(img => img.getWidth >= grid && img.getHeight >= grid)
                  .foreach(img => out += FrameHash(id, out.length,
                    CompressedImage.dhashOf(img, grid)))
              }
            }
          }
        }
        out.toSeq
      } catch { case scala.util.control.NonFatal(_) => out.toSeq }
    }

    /** Raw encoded frame chunks ('00dc'/'00db' payload bytes), keeping
      * every `stride`-th and re-indexing the kept frames 0..n — the real
      * container-walk arm of [[Multimodal.videoFrames]]: frame sampling
      * over an actual AVI samples the container's frame chunks, not byte
      * slices of the file. Nil for anything that is not an AVI. */
    def frameChunks(id: Long, b: Array[Byte], stride: Int): Seq[FrameChunk] = {
      require(stride >= 1, s"stride $stride")
      val out = scala.collection.mutable.ArrayBuffer.empty[FrameChunk]
      var seen = 0
      try {
        if (b.length < 12 || new String(b, 0, 4, "US-ASCII") != "RIFF" ||
            new String(b, 8, 4, "US-ASCII") != "AVI ") return Nil
        walkChunks(b, 12, b.length) { (t, o, l) =>
          if (t == "LIST" && l >= 4 &&
              new String(b, o, 4, "US-ASCII") == "movi") {
            walkChunks(b, o + 4, o + l) { (ct, co, cl) =>
              if (ct == "00dc" || ct == "00db") {
                if (seen % stride == 0)
                  out += FrameChunk(id, out.length,
                    java.util.Arrays.copyOfRange(b, co, co + cl))
                seen += 1
              }
            }
          }
        }
        out.toSeq
      } catch { case scala.util.control.NonFatal(_) => out.toSeq }
    }

    /** Parse + decode every video frame ('00dc'/'00db' chunks, any stream
      * 0x00) through the shared ImageIO seam. Nil for anything that is not
      * an AVI; per-frame index is the chunk position among decodable
      * frames. */
    def decode(id: Long, b: Array[Byte]): Seq[VideoFrame] = {
      try {
        if (b.length < 12 || new String(b, 0, 4, "US-ASCII") != "RIFF" ||
            new String(b, 8, 4, "US-ASCII") != "AVI ") return Nil
        val frames = scala.collection.mutable.ArrayBuffer.empty[VideoFrame]
        walkChunks(b, 12, b.length) { (t, o, l) =>
          if (t == "LIST" && l >= 4 &&
              new String(b, o, 4, "US-ASCII") == "movi") {
            walkChunks(b, o + 4, o + l) { (ct, co, cl) =>
              if (ct == "00dc" || ct == "00db") {
                CompressedImage.readImage(java.util.Arrays.copyOfRange(b, co, co + cl))
                  .foreach(img => frames += frameSums(frames.length, id, img))
              }
            }
          }
        }
        frames.toSeq
      } catch { case scala.util.control.NonFatal(_) => Nil }
    }
  }

  /** Frame sampling: slice a "video" payload into fixed-size frames and
    * keep every `stride`-th one — pure column ops (substring on binary),
    * no UDF, explodable downstream. */
  def sampleFrames(payloads: DataFrame, frameBytes: Int, stride: Int): DataFrame =
    payloads.select(col("doc_id"),
      transform(
        sequence(lit(0),
          greatest(floor((length(col("payload")) - 1) / (frameBytes * stride)).cast("int"), lit(0))),
        i => col("payload").substr(i * (frameBytes * stride) + 1, lit(frameBytes)))
        .as("frames"))

  /** AVI container magic as a column predicate (RIFF at 0, 'AVI ' at 8) —
    * the dispatch key of [[videoFrames]]. Pure binary column ops. */
  def isAvi(payload: Column): Column =
    length(payload) >= 12 &&
      payload.substr(lit(1), lit(4)) === lit("RIFF".getBytes("US-ASCII")) &&
      payload.substr(lit(9), lit(4)) === lit("AVI ".getBytes("US-ASCII"))

  /** ONE frame source for every video query (m04/m09 sampling, the same
    * seam m10/m11's decode rides): real AVI payloads are container-walked
    * and yield their actual encoded frame chunks
    * ([[MjpegAvi.frameChunks]] — every `stride`-th, re-indexed); anything
    * else falls back to the stub byte-slice sampling ([[sampleFrames]],
    * pure column ops). The two arms are a filter-split union, so a mixed
    * corpus pays the JVM walk only on its genuine AVI rows and the stub
    * arm keeps its UDF-free codegen plan. Output: (doc_id, frame_idx,
    * frame binary). */
  def videoFrames(payloads: DataFrame, spark: SparkSession,
                  frameBytes: Int, stride: Int): DataFrame = {
    import spark.implicits._
    val stub = sampleFrames(payloads.filter(!isAvi(col("payload"))), frameBytes, stride)
      .select(col("doc_id"), posexplode(col("frames")).as(Seq("frame_idx", "frame")))
    val avi = payloads.filter(isAvi(col("payload")))
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, b) =>
        MjpegAvi.frameChunks(id, b, stride) })
      .toDF()
    stub.unionByName(avi)
  }
}
