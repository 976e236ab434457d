package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Hashing
import graft.plans.Spread

/** Multimodal-column plumbing: media as opaque `binary` payloads with
  * typed metadata, decoded/feature-extracted per partition.
  *
  * The IMAGE and AUDIO halves are REAL: payloads whose
  * magic bytes identify a PNG/JPEG/GIF/BMP are decoded with
  * `javax.imageio` (true pixel dimensions, BT.601 mean luma, 8-bin luma
  * histogram features, nearest-neighbor resize — MultimodalImageSpec
  * pins exact pixel goldens through lossless PNG round-trips), and
  * WAV/AIFF PCM payloads decode through `javax.sound.sampled` (true
  * sample rate/channels/frames, exact RMS, amplitude histogram —
  * MultimodalAudioSpec pins sample-exact goldens). Both are
  * JDK-resident: no external codec needed. The FRAME stage is real too
  * for the one multi-frame format the JDK decodes:
  * animated GIF via ImageIO's GIF reader (`FrameCodec`) — true frame
  * counts and exact per-frame mean luma, with per-frame goldens in
  * MultimodalImageSpec. Only payloads NO JDK codec can decode (true
  * video containers like MP4/WebM, and the text testdata) go through
  * `FakeCodec`, a clearly-marked DETERMINISTIC STUB. Everything around
  * the codecs — binary column handling, the typed Dataset schema,
  * mapPartitions with per-partition codec init, bounded per-row state —
  * is the production shape. At 100 TB these are narrow map stages: no
  * shuffle, codec init amortized per partition, output columnar.
  */
object Multimodal {

  /** Input: media row with opaque payload. */
  case class MediaRow(doc_id: Long, fmt: String, payload: Array[Byte])
  /** Output: decoded metadata + an 8-dim feature vector. */
  case class DecodedRow(doc_id: Long, fmt: String, width: Int, height: Int,
                        mean_byte: Double, feat: Array[Float])
  /** Output of the resize stage: target dims + resampled intensity. */
  case class ResizedRow(doc_id: Long, width: Int, height: Int,
                        src_width: Int, src_height: Int, mean_resized: Double)
  /** Output of the frame-sample stage: one row per kept frame. */
  case class FrameRow(doc_id: Long, frame_idx: Int, n_frames: Int,
                      frame_feat: Double)

  /** REAL image codec over `javax.imageio` (JDK-resident; PNG, JPEG,
    * GIF, BMP). All derived values are deterministic functions of the
    * decoded raster: luma is integer-scaled ITU-R BT.601
    * ((299·R + 587·G + 114·B)/1000), accumulated in raster scan order.
    */
  object ImageCodec {
    /** Decoded raster facts: true dims, mean luma, 8-bin luma histogram
      * (the feature vector — each bin is the fraction of pixels with
      * luma in [32·b, 32·(b+1))). */
    final case class Decoded(width: Int, height: Int, meanLuma: Double,
                             hist: Array[Float])

    /** Magic-byte sniff — cheap pre-filter so non-image payloads never
      * pay for an ImageIO probe. */
    def isImage(p: Array[Byte]): Boolean =
      p.length >= 4 && (
        (p(0) == 0x89.toByte && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
        (p(0) == 0xff.toByte && p(1) == 0xd8.toByte && p(2) == 0xff.toByte) ||
        (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8') ||
        (p(0) == 'B' && p(1) == 'M'))

    private def read(p: Array[Byte]): Option[java.awt.image.BufferedImage] =
      if (!isImage(p)) None
      else
        // a payload with image magic but a corrupt body must NOT kill
        // the task (at 100 TB some fraction of any crawl is truncated):
        // it degrades to the non-image path, same as an unsniffed format
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p)))
        catch { case scala.util.control.NonFatal(_) => None }

    /** Per-pixel luma grid in raster order (y-major), values in [0,256). */
    private[operators] def lumaGrid(img: java.awt.image.BufferedImage): Array[Double] = {
      val w = img.getWidth; val h = img.getHeight
      val rgb = img.getRGB(0, 0, w, h, null, 0, w)
      val out = new Array[Double](w * h)
      var i = 0
      while (i < rgb.length) {
        val v = rgb(i)
        out(i) = (299 * ((v >> 16) & 0xff) + 587 * ((v >> 8) & 0xff) +
          114 * (v & 0xff)) / 1000.0
        i += 1
      }
      out
    }

    def decode(p: Array[Byte]): Option[Decoded] = read(p).map { img =>
      val lum = lumaGrid(img)
      var sum = 0.0
      val hist = new Array[Float](8)
      var i = 0
      while (i < lum.length) {
        sum += lum(i)
        hist(math.min(7, lum(i).toInt >> 5)) += 1f
        i += 1
      }
      var b = 0
      while (b < 8) { hist(b) /= lum.length; b += 1 }
      Decoded(img.getWidth, img.getHeight, sum / lum.length, hist)
    }

    /** dHash perceptual fingerprint (difference hash — the standard
      * cheap image near-dup signature): nearest-neighbor resample of
      * the luma grid to 9×8, then bit (r·8+c) is set iff the right
      * neighbor is strictly brighter. Robust to rescaling and mild
      * recompression; near-dup frames land within a small Hamming
      * radius. Deterministic in the decoded raster. */
    def dHash(p: Array[Byte]): Option[Long] = read(p).map { img =>
      val w0 = img.getWidth; val h0 = img.getHeight
      val lum = lumaGrid(img)
      var h = 0L
      var r = 0
      while (r < 8) {
        val sj = (r.toLong * h0 / 8).toInt
        var c = 0
        var prev = lum(sj * w0 + 0)
        while (c < 8) {
          val next = lum(sj * w0 + ((c + 1).toLong * w0 / 9).toInt)
          if (next > prev) h |= 1L << (r * 8 + c)
          prev = next
          c += 1
        }
        r += 1
      }
      h
    }

    /** Nearest-neighbor resample of the luma grid to (w1 × h1); returns
      * (srcW, srcH, mean of the resampled grid). Resizing to the source
      * dims is exactly the full-grid mean (pinned in the spec). */
    def resizeMean(p: Array[Byte], w1: Int, h1: Int): Option[(Int, Int, Double)] =
      read(p).map { img =>
        val w0 = img.getWidth; val h0 = img.getHeight
        val lum = lumaGrid(img)
        var sum = 0.0
        var j = 0
        while (j < h1) {
          val sj = (j.toLong * h0 / h1).toInt
          var i = 0
          while (i < w1) {
            sum += lum(sj * w0 + (i.toLong * w0 / w1).toInt)
            i += 1
          }
          j += 1
        }
        (w0, h0, sum / (w1.toLong * h1))
      }
  }

  /** Decoded audio facts: true format parameters + amplitude stats. */
  final case class AudioFacts(sampleRate: Int, channels: Int, nFrames: Long,
                              rms: Double, hist: Array[Float])

  /** REAL audio codec over `javax.sound.sampled` (JDK-resident; WAV/
    * AIFF/AU PCM). PCM is lossless, so every derived value is an exact
    * function of the authored samples: 16-bit samples normalize to
    * s/32768.0, RMS accumulates in stream order, and the feature vector
    * is an 8-bin |amplitude| histogram. Same degrade-don't-crash
    * contract as ImageCodec for sniffed-but-corrupt payloads. */
  object AudioCodec {
    def isAudio(p: Array[Byte]): Boolean =
      (p.length >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' &&
        p(3) == 'F' && p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E') ||
      (p.length >= 12 && p(0) == 'F' && p(1) == 'O' && p(2) == 'R' &&
        p(3) == 'M' && p(8) == 'A' && p(9) == 'I' && p(10) == 'F')

    def decode(p: Array[Byte]): Option[AudioFacts] =
      if (!isAudio(p)) None
      else try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(p))
        try {
          val fmt = in.getFormat
          if (fmt.getSampleSizeInBits != 16) return None // PCM16 only
          val bytes = in.readAllBytes()
          val big = fmt.isBigEndian
          val n = bytes.length / 2
          var sumSq = 0.0
          val hist = new Array[Float](8)
          var i = 0
          while (i < n) {
            val lo = bytes(2 * i + (if (big) 1 else 0)) & 0xff
            val hi = bytes(2 * i + (if (big) 0 else 1))
            val s = ((hi << 8) | lo).toShort / 32768.0
            sumSq += s * s
            hist(math.min(7, (math.abs(s) * 8).toInt)) += 1f
            i += 1
          }
          if (n == 0) return None
          var b = 0
          while (b < 8) { hist(b) /= n; b += 1 }
          Some(AudioFacts(fmt.getSampleRate.toInt, fmt.getChannels,
            in.getFrameLength, math.sqrt(sumSq / n), hist))
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Audio fingerprinting — the constellation-landmark scheme of Wang,
    * "An Industrial-Strength Audio Search Algorithm" (ISMIR 2003, the
    * Shazam paper): per-window spectral peaks become time-anchored
    * landmark hashes (anchor bin, target bin, time delta), and two
    * recordings match when many landmarks agree at a CONSISTENT time
    * offset. Simplifications kept honest for a dedup (not retrieval)
    * setting: peak-picking is per-window argmax over a fixed bin grid,
    * and the single-bin DFT power comes from Goertzel's recurrence
    * (Goertzel 1958) so no FFT dependency is needed — 64 bins × 1024
    * samples per window is ~65k mul-adds, trivially narrow per-row
    * work. PCM is lossless, so fingerprints are exact functions of the
    * authored samples (golden-tested in MultimodalAudioSpec).
    *
    * Payloads the JDK cannot decode take the deterministic stub path
    * (same contract as FakeCodec): `StubFpPerDoc` pseudo-landmarks
    * derived from the payload hash, replicated bit-exactly by the
    * DuckDB oracle so the entire downstream match pipeline is
    * value-verified on the text corpus. */
  object AudioFingerprint {
    val WindowSize = 1024
    val Bins = 64 // Goertzel bins k = 1..64 → 6-bit peak index
    val MaxDt = 3 // landmark target windows ahead of the anchor
    val StubSeed = 7L
    val StubFpPerDoc = 24
    private val Phi = 0x9e3779b97f4a7c15L

    /** Channel-averaged PCM16 samples in [-1, 1); None if undecodable. */
    def monoSamples(p: Array[Byte]): Option[Array[Double]] =
      if (!AudioCodec.isAudio(p)) None
      else try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(p))
        try {
          val fmt = in.getFormat
          if (fmt.getSampleSizeInBits != 16) return None
          val bytes = in.readAllBytes()
          val big = fmt.isBigEndian
          val ch = fmt.getChannels
          val nFrames = bytes.length / (2 * ch)
          if (nFrames == 0) return None
          val out = new Array[Double](nFrames)
          var f = 0
          while (f < nFrames) {
            var acc = 0.0
            var c = 0
            while (c < ch) {
              val i = f * ch + c
              val lo = bytes(2 * i + (if (big) 1 else 0)) & 0xff
              val hi = bytes(2 * i + (if (big) 0 else 1))
              acc += ((hi << 8) | lo).toShort / 32768.0
              c += 1
            }
            out(f) = acc / ch
            f += 1
          }
          Some(out)
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Per-window dominant bin: argmax over Goertzel powers of bins
      * 1..Bins (DC excluded — silence/offset would win every window). */
    def peakBins(samples: Array[Double]): Array[Int] = {
      val n = WindowSize
      val nWin = samples.length / n
      val peaks = new Array[Int](nWin)
      val coeffs = Array.tabulate(Bins)(b => 2.0 * math.cos(2.0 * math.Pi * (b + 1) / n))
      var w = 0
      while (w < nWin) {
        var best = 0
        var bestPow = -1.0
        var b = 0
        while (b < Bins) {
          val coeff = coeffs(b)
          var s1 = 0.0; var s2 = 0.0
          var i = w * n
          val end = i + n
          while (i < end) {
            val s0 = samples(i) + coeff * s1 - s2
            s2 = s1; s1 = s0
            i += 1
          }
          val pow = s1 * s1 + s2 * s2 - coeff * s1 * s2
          if (pow > bestPow) { bestPow = pow; best = b }
          b += 1
        }
        peaks(w) = best
        w += 1
      }
      peaks
    }

    /** Landmarks over the peak sequence: (anchor bin ‖ target bin ‖ dt)
      * packed into a 14-bit hash, anchored at the anchor's window t. */
    def landmarks(peaks: Array[Int]): Seq[(Long, Int)] =
      for {
        t <- 0 until peaks.length
        dt <- 1 to MaxDt
        if t + dt < peaks.length
      } yield ((peaks(t).toLong << 8) | (peaks(t + dt).toLong << 2) | dt.toLong, t)

    /** Real fingerprints, or None → caller's stub fallback. */
    def fingerprints(p: Array[Byte]): Option[Seq[(Long, Int)]] =
      monoSamples(p).map(s => landmarks(peakBins(s)))
        .filter(_.nonEmpty)

    /** Deterministic stub landmarks for undecodable payloads: 18-bit
      * pseudo-fingerprints off the seeded payload hash, one per
      * "window" j — bit-replicated by the DuckDB oracle. */
    def stub(p: Array[Byte]): Seq[(Long, Int)] = {
      val base = Hashing.hash64(p, 0, p.length, StubSeed)
      (0 until StubFpPerDoc).map(j =>
        (Hashing.fmix64(base ^ ((j + 1).toLong * Phi)) >>> 46, j))
    }
  }

  /** One audio-fingerprint row: landmark hash `fp` anchored at window t. */
  case class FpRow(doc_id: Long, fp: Long, t: Int)

  /** Fingerprint core: real constellation landmarks for decodable
    * payloads, stub landmarks otherwise. Narrow flatMap like the other
    * codec stages. */
  def audioFpRows(ds: org.apache.spark.sql.Dataset[MediaRow])
      : org.apache.spark.sql.Dataset[FpRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.flatMap { r =>
        AudioFingerprint.fingerprints(r.payload)
          .getOrElse(AudioFingerprint.stub(r.payload))
          .iterator.map { case (fp, t) => FpRow(r.doc_id, fp, t) }
      }
    }
  }

  /** REAL multi-frame decode for the one "video-shaped" format the JDK
    * ships a codec for: animated GIF, via ImageIO's GIF ImageReader
    * (`getNumImages(true)` scans the stream; `read(i)` decodes frame i).
    * Each frame's dims and BT.601 mean luma are exact functions of the
    * decoded raster (same lumaGrid as ImageCodec) —
    * MultimodalImageSpec pins per-frame goldens through lossless
    * grayscale-palette round-trips. Same degrade-don't-crash contract
    * as the other codecs: sniffed-but-corrupt payloads return None and
    * fall back to the deterministic stub. */
  object FrameCodec {
    final case class Frame(width: Int, height: Int, meanLuma: Double)

    /** Covers GIF87a and GIF89a. */
    def isGif(p: Array[Byte]): Boolean =
      p.length >= 4 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8'

    /** All frames in stream order; None when not a decodable GIF. */
    def frames(p: Array[Byte]): Option[IndexedSeq[Frame]] =
      if (!isGif(p)) None
      else {
        var iis: javax.imageio.stream.ImageInputStream = null
        var reader: javax.imageio.ImageReader = null
        try {
          iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(p))
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            reader = readers.next()
            // allowSearch=false would make getNumImages return -1; the
            // payload is in memory, so the full scan is cheap
            reader.setInput(iis, false, true)
            val n = reader.getNumImages(true)
            if (n <= 0) None
            else Some((0 until n).map { i =>
              val img = reader.read(i)
              val lum = ImageCodec.lumaGrid(img)
              var s = 0.0
              var j = 0
              while (j < lum.length) { s += lum(j); j += 1 }
              Frame(img.getWidth, img.getHeight, s / lum.length)
            })
          }
        } catch { case scala.util.control.NonFatal(_) => None }
        finally {
          if (reader != null) reader.dispose()
          if (iis != null) iis.close()
        }
      }

    // --------------------------------------------------------------
    // REAL video-container path: Motion-JPEG in an AVI (RIFF) file —
    // the one video container whose frame payloads the JDK can decode
    // (each frame is a plain JPEG for ImageIO). The RIFF grammar is
    // public (Microsoft AVI spec): 'RIFF'<size>'AVI ' then chunks;
    // 'LIST'<size><type> nests; video frames live in the 'movi' list
    // as '##dc'/'##db' chunks (stream number + compressed/uncompressed
    // DIB), MJPEG frames starting with the JPEG SOI marker. Sizes are
    // little-endian u32 and chunks pad to even offsets.
    // --------------------------------------------------------------

    def isAvi(p: Array[Byte]): Boolean =
      p.length >= 12 &&
        p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'A' && p(9) == 'V' && p(10) == 'I' && p(11) == ' '

    private def u32le(p: Array[Byte], off: Int): Long =
      (p(off) & 0xffL) | ((p(off + 1) & 0xffL) << 8) |
        ((p(off + 2) & 0xffL) << 16) | ((p(off + 3) & 0xffL) << 24)

    /** MJPEG frames from an AVI payload; None when not AVI / corrupt. */
    def aviFrames(p: Array[Byte]): Option[IndexedSeq[Frame]] =
      if (!isAvi(p)) None
      else try {
        val out = IndexedSeq.newBuilder[Frame]
        // walk chunks in [from, until); recurse into LIST/RIFF bodies
        def walk(from: Int, until: Int): Unit = {
          var off = from
          while (off + 8 <= until) {
            val id = new String(p, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
            val size = u32le(p, off + 4)
            val body = off + 8
            val end = math.min(until.toLong, body + size).toInt
            if (id == "LIST") walk(body + 4, end) // skip the list type 4cc
            else if (id.length == 4 && id(0).isDigit && id(1).isDigit &&
              id(2) == 'd' && (id(3) == 'c' || id(3) == 'b') &&
              end - body >= 2 && (p(body) & 0xff) == 0xff && (p(body + 1) & 0xff) == 0xd8) {
              // a stream-data chunk holding a JPEG: decode via ImageIO
              val bytes = java.util.Arrays.copyOfRange(p, body, end)
              val img = javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(bytes))
              if (img != null) {
                val lum = ImageCodec.lumaGrid(img)
                var s = 0.0
                var j = 0
                while (j < lum.length) { s += lum(j); j += 1 }
                out += Frame(img.getWidth, img.getHeight, s / lum.length)
              }
            }
            off = body + size.toInt + (size.toInt & 1) // chunks pad to even
          }
        }
        walk(12, math.min(p.length.toLong, 8 + u32le(p, 4)).toInt)
        val frames = out.result()
        if (frames.isEmpty) None else Some(frames)
      } catch { case scala.util.control.NonFatal(_) => None }

    /** All frames of any supported container: animated GIF or MJPEG
      * AVI; None → the caller's deterministic-stub fallback. */
    def anyFrames(p: Array[Byte]): Option[IndexedSeq[Frame]] =
      frames(p).orElse(aviFrames(p))
  }

  /** Output of the audio stage: one row per decodable audio payload. */
  case class AudioRow(doc_id: Long, fmt: String, sample_rate: Int,
                      channels: Int, n_frames: Long, rms: Double,
                      feat: Array[Float])

  /** Audio core: decodable payloads become typed rows, the rest are
    * dropped (a production pipeline routes by modality first). Narrow
    * flatMap — same per-partition-init shape as decode/resize. */
  def audioRows(ds: org.apache.spark.sql.Dataset[MediaRow])
      : org.apache.spark.sql.Dataset[AudioRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      rows.flatMap { r =>
        AudioCodec.decode(r.payload).map(a =>
          AudioRow(r.doc_id, r.fmt, a.sampleRate, a.channels, a.nFrames,
            a.rms, a.hist))
      }
    }
  }

  /** STUB: stands in for the remaining codec-less paths (non-image,
    * non-audio payloads, video). Deterministic in the payload bytes so
    * results are testable. */
  object FakeCodec {
    def decode(payload: Array[Byte]): (Int, Int, Double) = {
      val w = 16 + (math.abs(payload.length * 31) % 64)
      // floorMod keeps the Long in [0,64) BEFORE the Int narrowing —
      // abs(hash).toInt is negative whenever bit 31 is set
      val h = 16 + java.lang.Math.floorMod(Hashing.hash64(payload, 0, payload.length, 7L), 64L).toInt
      var sum = 0L
      var i = 0
      while (i < payload.length) { sum += payload(i) & 0xff; i += 1 }
      val mean = if (payload.isEmpty) 0.0 else sum.toDouble / payload.length
      (w, h, mean)
    }
    /** "Feature extractor": 8 seeded-hash projections of the payload. */
    def features(payload: Array[Byte]): Array[Float] = {
      val out = new Array[Float](8)
      var s = 0
      while (s < 8) {
        val h = Hashing.hash64(payload, 0, payload.length, 100L + s)
        out(s) = ((h >>> 11).toDouble / (1L << 53).toDouble).toFloat
        s += 1
      }
      out
    }
    /** STUB "pixel": intensity [0,256) derived from an 8-byte window of
      * the payload, seeded by the pixel index. */
    def pixel(payload: Array[Byte], idx: Int): Int =
      if (payload.isEmpty) 0
      else {
        val off = java.lang.Math.floorMod(idx, math.max(1, payload.length - 8))
        (Hashing.hash64(payload, off, math.min(8, payload.length - off),
          1000L + idx) & 0xffL).toInt
      }
    /** STUB resize: nearest-neighbor resample of the pseudo-pixel grid
      * to (w1 × h1); returns the resampled mean intensity. Resizing to
      * the source dims is exactly the full-grid mean (tested). */
    def resizeMean(payload: Array[Byte],
                   w0: Int, h0: Int, w1: Int, h1: Int): Double = {
      var sum = 0L
      var j = 0
      while (j < h1) {
        val sj = (j.toLong * h0 / h1).toInt
        var i = 0
        while (i < w1) {
          val si = (i.toLong * w0 / w1).toInt
          sum += pixel(payload, sj * w0 + si)
          i += 1
        }
        j += 1
      }
      sum.toDouble / (w1.toLong * h1)
    }
    /** STUB perceptual hash for undecodable payloads: the seeded
      * payload hash (seed 42). Avalanche ⇒ only byte-identical
      * payloads collide within any small Hamming radius, so the stub
      * path degrades to exact dedup — and because it is the repo's
      * standard FNV-1a+fmix64, the DuckDB oracle replicates it
      * bit-for-bit (the text_fingerprint treatment). */
    def dHash(payload: Array[Byte]): Long =
      Hashing.hash64(payload, 0, payload.length, 42L)

    /** STUB frame count for "video" payloads: 8..31 frames. */
    def frameCount(payload: Array[Byte]): Int =
      8 + java.lang.Math.floorMod(
        Hashing.hash64(payload, 0, payload.length, 9L), 24L).toInt
    /** STUB per-frame feature (e.g. a per-frame embedding norm). */
    def frameFeature(payload: Array[Byte], frame: Int): Double = {
      val h = Hashing.hash64(payload, 0, payload.length, 5000L + frame)
      (h >>> 11).toDouble / (1L << 53).toDouble
    }
  }

  /** Shared media input: documents as opaque binary payloads, spread
    * over the session's cores so per-row codec work parallelizes (the
    * small file scans as one partition at test scale). */
  private def mediaInput(spark: SparkSession, sfDir: String)
      : org.apache.spark.sql.Dataset[MediaRow] = {
    Tables.register(spark, sfDir)
    import spark.implicits._
    Spread.over(spark.table("documents")
      .select(col("doc_id"), col("lang").as("fmt"),
        col("text").cast("binary").as("payload")))
      .as[MediaRow]
  }

  /** Decode core over any media Dataset: real ImageIO path for image
    * payloads, deterministic stub for the rest. mapPartitions so codec
    * init happens once per partition (ImageIO's disk cache would
    * otherwise spill a temp file per row). */
  def decodeRows(ds: org.apache.spark.sql.Dataset[MediaRow])
      : org.apache.spark.sql.Dataset[DecodedRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
      rows.map { r =>
        ImageCodec.decode(r.payload) match {
          case Some(d) =>
            DecodedRow(r.doc_id, r.fmt, d.width, d.height, d.meanLuma, d.hist)
          case None =>
            val (w, h, mean) = FakeCodec.decode(r.payload)
            DecodedRow(r.doc_id, r.fmt, w, h, mean, FakeCodec.features(r.payload))
        }
      }
    }
  }

  /** The decode pipeline: binary column in, typed decoded Dataset out. */
  def decodePipeline(spark: SparkSession, sfDir: String): DataFrame =
    decodeRows(mediaInput(spark, sfDir)).toDF()

  /** Resize core: every image resampled to a fixed target — the
    * batch-normalization step before a vision encoder. Real
    * nearest-neighbor resampling of the decoded luma grid for image
    * payloads; stub grid for the rest. Same narrow shape as decode. */
  def resizeRows(ds: org.apache.spark.sql.Dataset[MediaRow],
                 targetW: Int, targetH: Int)
      : org.apache.spark.sql.Dataset[ResizedRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        ImageCodec.resizeMean(r.payload, targetW, targetH) match {
          case Some((w0, h0, mean)) =>
            ResizedRow(r.doc_id, targetW, targetH, w0, h0, mean)
          case None =>
            val (w0, h0, _) = FakeCodec.decode(r.payload)
            ResizedRow(r.doc_id, targetW, targetH, w0, h0,
              FakeCodec.resizeMean(r.payload, w0, h0, targetW, targetH))
        }
      }
    }
  }

  def resizePipeline(spark: SparkSession, sfDir: String,
                     targetW: Int, targetH: Int): DataFrame =
    resizeRows(mediaInput(spark, sfDir), targetW, targetH).toDF()

  /** Frame-sample core: every Nth frame of a multi-frame payload becomes
    * a row — a flatMap, so output cardinality is data-dependent (the
    * explode shape a real frame extractor produces). REAL for animated
    * GIF (FrameCodec): true frame count, frame_feat = the frame's exact
    * mean luma scaled to [0,1) (meanLuma/256 — the same range the stub
    * feature spans, so the column's semantics hold across both paths).
    * Containers with a JDK-decodable frame path (animated GIF; MJPEG
    * AVI via the RIFF walker) decode for real; payloads the JDK cannot
    * decode (MP4/WebM — no JDK codec exists) fall back to the
    * deterministic FakeCodec stub. */
  def frameRows(ds: org.apache.spark.sql.Dataset[MediaRow], everyN: Int)
      : org.apache.spark.sql.Dataset[FrameRow] = {
    require(everyN >= 1)
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        FrameCodec.anyFrames(r.payload) match {
          case Some(fs) =>
            (0 until fs.length by everyN).iterator.map(i =>
              FrameRow(r.doc_id, i, fs.length, fs(i).meanLuma / 256.0))
          case None =>
            val n = FakeCodec.frameCount(r.payload)
            (0 until n by everyN).iterator.map(i =>
              FrameRow(r.doc_id, i, n, FakeCodec.frameFeature(r.payload, i)))
        }
      }
    }
  }

  def frameSamplePipeline(spark: SparkSession, sfDir: String,
                          everyN: Int): DataFrame =
    frameRows(mediaInput(spark, sfDir), everyN).toDF()

  /** Per-payload perceptual hash row. */
  case class PhashRow(doc_id: Long, dhash: Long)

  /** Perceptual-hash core: real dHash for image payloads, the seeded
    * stub hash otherwise. Narrow map stage like decode. */
  def phashRows(ds: org.apache.spark.sql.Dataset[MediaRow])
      : org.apache.spark.sql.Dataset[PhashRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        PhashRow(r.doc_id,
          ImageCodec.dHash(r.payload).getOrElse(FakeCodec.dHash(r.payload)))
      }
    }
  }

  def phashPipeline(spark: SparkSession, sfDir: String): DataFrame =
    phashRows(mediaInput(spark, sfDir)).toDF()

  private type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Deterministic stub output — no SQL oracle (custom hashing);
    // MultimodalSpec asserts schema, determinism, and batch behavior.
    "multimodal_decode" -> ((spark, sfDir) => {
      decodePipeline(spark, sfDir)
        .select(col("doc_id"), col("fmt"), col("width"), col("height"),
          round(col("mean_byte"), 6).as("mean_byte"),
          round(aggregate(col("feat"), lit(0.0d), (acc, x) => acc + x * x), 6).as("feat_sq_norm"))
        .orderBy(col("doc_id"))
    }),

    // Resize + frame-sample stages (real codecs for image/GIF payloads,
    // deterministic stub for undecodable ones) — rows-only like
    // multimodal_decode; PipelineSpec pins invariants.
    "multimodal_resize" -> ((spark, sfDir) => {
      resizePipeline(spark, sfDir, 32, 32)
        .select(col("doc_id"), col("width"), col("height"),
          col("src_width"), col("src_height"),
          round(col("mean_resized"), 6).as("mean_resized"))
        .orderBy(col("doc_id"))
    }),
    "multimodal_frames" -> ((spark, sfDir) => {
      frameSamplePipeline(spark, sfDir, 4)
        .select(col("doc_id"), col("frame_idx"), col("n_frames"),
          round(col("frame_feat"), 6).as("frame_feat"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // Perceptual-hash image dedup (dHash + banded Hamming join — the
    // image counterpart of dedup_simhash): 64-bit signatures banded
    // into 4×16 bits, candidates share >= 1 band (pigeonhole: any pair
    // within Hamming <= 3 MUST collide on a band; <= 10 keeps recall
    // high for near-dups while the avalanche tail filters out), then
    // exact popcount-of-XOR verification. At 100 TB: hashing is a
    // narrow map; the band join shuffles (doc_id, band, 16-bit key)
    // only; verification joins hashes back by id. On the text testdata
    // every payload takes the stub-hash path, which the DuckDB oracle
    // replicates exactly (FNV-1a+fmix64 in HUGEINT arithmetic), so the
    // whole band-join pipeline is value-verified; the REAL image path
    // has pixel-exact dHash goldens in MultimodalImageSpec.
    "multimodal_phash_pairs" -> ((spark, sfDir) => {
      val h = phashPipeline(spark, sfDir).persist()
      val bands = h.select(col("doc_id"), col("dhash"),
          explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("bandkey", expr("shiftright(dhash, band * 16) & 65535"))
        .select("doc_id", "band", "bandkey")
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") &&
          col("a.bandkey") === col("b.bandkey") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val pairs = cand
        .join(h.select(col("doc_id").as("doc_a"), col("dhash").as("ha")), "doc_a")
        .join(h.select(col("doc_id").as("doc_b"), col("dhash").as("hb")), "doc_b")
        .where(expr("bit_count(ha ^ hb)") <= 10)
      // per-doc view: every signature (value-verified against the
      // oracle's independent hash replication) + its near-dup degree —
      // the text corpus has no byte-identical payloads, so degrees are
      // 0 here; the REAL image path's nonzero-radius behavior is
      // pinned in MultimodalImageSpec
      val deg = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id")))
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
      h.join(deg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("dhash"),
          coalesce(col("n"), lit(0L)).as("n_neardups"))
        .orderBy(col("doc_id"))
    }),

    // Audio-fingerprint matching (Wang'03's second half): landmark rows
    // join on the hash; per candidate pair the match strength is the
    // total landmark agreement plus the best OFFSET-CONSISTENT support
    // (the histogram-of-time-deltas peak that separates true matches
    // from hash coincidence). At 100 TB the join shuffles (doc_id, fp,
    // t) triples only, and a hot-posting cap (landmarks shared by > 64
    // payloads — silence/DC-like bins) bounds any posting's join
    // fan-out, the same discipline as the LSH/substring dedups. On the
    // text corpus every payload takes the deterministic stub path,
    // which the oracle replicates bit-exactly — the REAL
    // Goertzel-constellation path has sample-exact goldens in
    // MultimodalAudioSpec.
    "multimodal_audio_fp" -> ((spark, sfDir) => {
      val fps = audioFpRows(mediaInput(spark, sfDir)).toDF().persist()
      val keep = fps.groupBy(col("fp"))
        .agg(count(lit(1)).as("df")).where(col("df") <= 64).select("fp")
      val capped = fps.join(keep, Seq("fp"), "left_semi")
      val m = capped.as("a").join(capped.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.fp").as("fp"), (col("b.t") - col("a.t")).as("dt"))
      val byDt = m.groupBy(col("doc_a"), col("doc_b"), col("dt"))
        .agg(count(lit(1)).as("cnt"))
      val support = byDt.groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(col("cnt")).as("n_pairs"), max(col("cnt")).as("best_dt_support"))
      val nFp = m.groupBy(col("doc_a"), col("doc_b"))
        .agg(countDistinct(col("fp")).as("n_fp"))
      support.join(nFp, Seq("doc_a", "doc_b"))
        .select(col("doc_a"), col("doc_b"),
          col("n_pairs").cast("bigint").as("n_pairs"),
          col("n_fp").cast("bigint").as("n_fp"),
          col("best_dt_support").cast("bigint").as("best_dt_support"))
        .orderBy(col("n_pairs").desc, col("doc_a"), col("doc_b"))
        .limit(20)
    }),

    // The metadata side IS oracle-checkable: byte lengths + digests of
    // the binary payload.
    "multimodal_meta" -> Tables.sql("""
      SELECT doc_id,
             OCTET_LENGTH(CAST(text AS BINARY)) AS n_bytes,
             MD5(CAST(text AS BINARY)) AS digest,
             lang AS fmt
      FROM documents
      ORDER BY doc_id""")
  )

  /** FNV-1a init of the seed-42 stub hash (FnvOffset ^ fmix64(42·φ)) —
    * a compile-time constant spliced into the oracle as unsigned
    * decimal so the DuckDB fold starts from the identical state. */
  private val StubHashInit: String = stubInit(42L)

  private def stubInit(seed: Long): String = java.lang.Long.toUnsignedString(
    Hashing.FnvOffset ^ Hashing.fmix64(seed * 0x9e3779b97f4a7c15L))

  val oracle: Map[String, String] = Map(
    // FULL INDEPENDENT REPLICATION of the stub-hash + band-join
    // pipeline (every testdata payload is text, so every row takes the
    // stub path): FNV-1a over the utf8 bytes (ASCII corpus ⇒
    // unicode(char) == byte, the text_fingerprint argument) from the
    // seeded init, fmix64 in HUGEINT mod-2^64 arithmetic, two's
    // complement back to signed, then the same 4×16-bit banding,
    // candidate join, and popcount-of-XOR verification.
    "multimodal_phash_pairs" -> s"""
      WITH docs AS (
        SELECT doc_id, text, LENGTH(text) AS tl FROM documents
      ), h0 AS (
        SELECT doc_id, list_reduce(
          list_prepend($StubHashInit::UBIGINT,
            list_transform(range(1, tl + 1), c -> unicode(text[c:c])::UBIGINT)),
          (h, b) -> ${DuckHash.mulmod("xor(h, b)", "1099511628211")}) AS v0
        FROM docs
      ), ${DuckHash.fmix64Ctes(from = "h0", carry = "doc_id", in = "v0",
                               prefix = "ph", out = "hh", outCol = "hu")},
      hv AS (
        SELECT doc_id, hu,
               CAST(CASE WHEN hu < 9223372036854775808::UBIGINT
                         THEN CAST(hu AS HUGEINT)
                         ELSE CAST(hu AS HUGEINT) - 18446744073709551616::HUGEINT
                    END AS BIGINT) AS g
        FROM hh
      ), bands AS (
        SELECT doc_id, CAST(u.b AS INT) AS band,
               CAST((hu >> (u.b * 16)) & 65535 AS BIGINT) AS bandkey
        FROM hv, UNNEST([0, 1, 2, 3]) AS u(b)
      ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bandkey = b.bandkey AND a.doc_id < b.doc_id
      ), pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c JOIN hv ha ON c.doc_a = ha.doc_id
                    JOIN hv hb ON c.doc_b = hb.doc_id
        WHERE bit_count(xor(ha.g, hb.g)) <= 10
      ), deg AS (
        SELECT doc_id, COUNT(*) AS n FROM (
          SELECT doc_a AS doc_id FROM pairs
          UNION ALL
          SELECT doc_b AS doc_id FROM pairs
        ) u GROUP BY doc_id
      )
      SELECT hv.doc_id AS doc_id, hv.g AS dhash,
             COALESCE(deg.n, 0) AS n_neardups
      FROM hv LEFT JOIN deg ON hv.doc_id = deg.doc_id
      ORDER BY doc_id""",

    "multimodal_meta" -> """
      SELECT doc_id,
             OCTET_LENGTH(ENCODE(text)) AS n_bytes,
             MD5(text) AS digest,
             lang AS fmt
      FROM documents
      ORDER BY doc_id""",

    // INDEPENDENT REPLICATION of the stub-landmark match pipeline:
    // seeded FNV-1a base hash per payload (seed 7), 24 pseudo-landmarks
    // fp_j = fmix64(base ^ (j+1)·φ) >> 46 in HUGEINT mod-2^64
    // arithmetic, then the identical hot-posting cap, fp join,
    // offset-delta histogram, and top-20 cut. All-integer output.
    "multimodal_audio_fp" -> s"""
      WITH docs AS (
        SELECT doc_id, text, LENGTH(text) AS tl FROM documents
      ), h0 AS (
        SELECT doc_id, list_reduce(
          list_prepend(${stubInit(AudioFingerprint.StubSeed)}::UBIGINT,
            list_transform(range(1, tl + 1), c -> unicode(text[c:c])::UBIGINT)),
          (h, b) -> ${DuckHash.mulmod("xor(h, b)", "1099511628211")}) AS v0
        FROM docs
      ), ${DuckHash.fmix64Ctes(from = "h0", carry = "doc_id", in = "v0",
                               prefix = "af", out = "hb", outCol = "bu")},
      js AS (
        SELECT doc_id, CAST(u.j AS INT) AS t,
               xor(bu, ${DuckHash.mulmod("CAST(u.j + 1 AS UBIGINT)",
                                         "11400714819323198485")}) AS x0
        FROM hb, UNNEST(range(0, ${AudioFingerprint.StubFpPerDoc})) AS u(j)
      ), ${DuckHash.fmix64Ctes(from = "js", carry = "doc_id, t", in = "x0",
                               prefix = "qf", out = "fp0", outCol = "fu")},
      fps AS (
        SELECT doc_id, t, CAST(fu >> 46 AS BIGINT) AS fp FROM fp0
      ), keepfp AS (
        SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 64
      ), capped AS (
        SELECT f.doc_id, f.t, f.fp FROM fps f JOIN keepfp USING (fp)
      ), m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp, b.t - a.t AS dt
        FROM capped a JOIN capped b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
      ), bydt AS (
        SELECT doc_a, doc_b, dt, COUNT(*) AS cnt
        FROM m GROUP BY doc_a, doc_b, dt
      ), sup AS (
        SELECT doc_a, doc_b, SUM(cnt) AS n_pairs, MAX(cnt) AS best
        FROM bydt GROUP BY doc_a, doc_b
      ), nfp AS (
        SELECT doc_a, doc_b, COUNT(DISTINCT fp) AS n_fp
        FROM m GROUP BY doc_a, doc_b
      )
      SELECT s.doc_a, s.doc_b,
             CAST(s.n_pairs AS BIGINT) AS n_pairs,
             CAST(n.n_fp AS BIGINT) AS n_fp,
             CAST(s.best AS BIGINT) AS best_dt_support
      FROM sup s JOIN nfp n USING (doc_a, doc_b)
      ORDER BY n_pairs DESC, doc_a, doc_b
      LIMIT 20"""
  )
}
