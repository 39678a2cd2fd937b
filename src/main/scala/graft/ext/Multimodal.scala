package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column handling: media as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract / resize /
  * frame-sample stages.
  *
  * The Spark-side plumbing is real — schema, batch shape, partition-parallel
  * `mapPartitions` over typed Datasets (the Scala analog of `mapInPandas`:
  * one iterator per partition, amortizing per-batch codec setup). Decode is
  * REAL for images ([[ImageIoCodec]], `javax.imageio`), audio
  * ([[decodeAudioMeta]], `javax.sound.sampled`), video container
  * headers ([[Mp4]]/[[decodeVideoMeta]], pure byte arithmetic over the
  * MP4 box tree — dims, timescale, duration), AND video FRAMES for the
  * JDK-decodable stream formats ([[Avi]]/[[decodeVideoFrames]]: MJPEG
  * frames through the real JPEG codec, BI_RGB DIB frames by byte
  * arithmetic — per-frame dims, pixel mean, and the same dHash the
  * still-image near-dup path uses) — all JDK-only, no dependencies —
  * and so is the pixel resample ([[resizeImages]], Java2D). The
  * deterministic [[FakeCodec]] remains as the universal fallback (dirty
  * payloads, and the cross-engine m1 oracle replays it); H.264-era MP4
  * frame decode is the one leg that would still need an
  * ffmpeg-cli-per-partition stage, slotting into the same seam.
  *
  * Scale notes: media blobs dominate row size — keep them in their own
  * column, project them away before any shuffle (metadata-only exchanges),
  * and size partitions by bytes (`spark.sql.files.maxPartitionBytes`), not
  * rows. Frame sampling / byte slicing happens as Column expressions where
  * possible (no decode needed) so the scan prunes to the slice.
  */
object Multimodal {

  final case class MediaRow(media_id: Long, kind: String, media: Array[Byte])
  final case class MediaMeta(
      media_id: Long, kind: String, n_bytes: Long,
      width: Int, height: Int, channels: Int, mean_byte: Double)

  /** Raw-byte mean — the content-derived "pixel" stat the m1 oracle
    * replays; shared by every codec that reports payload (not raster)
    * statistics so the cross-codec parity cannot drift.
    */
  private def meanByte(bs: Array[Byte]): Double =
    if (bs.isEmpty) 0.0
    else bs.iterator.map(b => (b & 0xff).toDouble).sum / bs.length

  /** Deterministic fake codec — replace with a real decoder in production.
    * "Dimensions" come from the first bytes, "pixel mean" from the payload:
    * stable, content-derived, and cheap to verify in tests.
    */
  object FakeCodec {
    def decode(r: MediaRow): MediaMeta = {
      val bs = r.media
      val w = if (bs.length >= 2) ((bs(0) & 0xff) << 4 | (bs(1) & 0xff) >> 4) + 1 else 1
      val h = if (bs.length >= 4) ((bs(2) & 0xff) << 4 | (bs(3) & 0xff) >> 4) + 1 else 1
      val ch = r.kind match { case "image" => 3; case "audio" => 1; case _ => 3 }
      MediaMeta(r.media_id, r.kind, bs.length.toLong, w, h, ch, meanByte(bs))
    }
  }

  /** REAL image decode via JDK-built-in `javax.imageio` (PNG, JPEG, GIF,
    * BMP — no dependencies beyond the JDK): true width/height, channel
    * count from the color model, and the mean over every raster sample
    * (the decoded-pixel analog of FakeCodec's mean over raw bytes).
    *
    * Rows whose payload ImageIO cannot parse — and non-image kinds — fall
    * back to [[FakeCodec]], so a dirty web-scale corpus (truncated files,
    * mislabeled MIME types) decodes deterministically instead of failing
    * the stage; a real pipeline would also project out a `decoded` flag
    * (width/height > 1 distinguishes the paths here).
    */
  object ImageIoCodec {
    def decode(r: MediaRow): MediaMeta = {
      if (r.kind != "image") FakeCodec.decode(r)
      else {
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.media))
          catch { case _: Exception => null }
        if (img == null) FakeCodec.decode(r)
        else {
          val raster = img.getRaster
          val (w, h, ch) = (img.getWidth, img.getHeight, raster.getNumBands)
          var sum = 0.0
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              var b = 0
              while (b < ch) { sum += raster.getSample(x, y, b); b += 1 }
              x += 1
            }
            y += 1
          }
          MediaMeta(r.media_id, r.kind, r.media.length.toLong, w, h, ch,
            sum / (w.toLong * h * ch))
        }
      }
    }
  }

  /** Decode stage: partition-parallel metadata extraction. The iterator
    * shape lets a real codec init once per partition (the reason for
    * mapPartitions over map). `codec` defaults to the deterministic
    * [[FakeCodec]] (cross-engine-replayable, used by the m1 oracle query);
    * pass `ImageIoCodec.decode` for real image decoding.
    */
  def decodeMeta(media: Dataset[MediaRow],
      codec: MediaRow => MediaMeta = FakeCodec.decode): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition codec init would go here
      it.map(codec)
    }
  }

  final case class MediaHash(media_id: Long, dhash: Long)

  /** The 64-bit difference hash (dHash) core: a 9×8 grid point-sampled
    * from the grayscale raster (nearest-neighbor — `(g·dim)/grid` integer
    * division, deterministic and SQL-replayable), bit `gy·8+gx` set when
    * the right neighbor is STRICTLY brighter. Horizontal gradients are
    * what survive rescaling/re-encoding, which is why dHash is the
    * standard perceptual near-dup key; pixel edits that miss every
    * sampled point leave the hash untouched (m4 pins that).
    */
  private def dhashOf(sample: (Int, Int) => Int, w: Int, h: Int): Long = {
    val v = Array.ofDim[Int](9, 8)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 9) {
        v(gx)(gy) = sample(gx * w / 9, gy * h / 8)
        gx += 1
      }
      gy += 1
    }
    var hash = 0L
    gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        if (v(gx + 1)(gy) > v(gx)(gy)) hash |= (1L << (gy * 8 + gx))
        gx += 1
      }
      gy += 1
    }
    hash
  }

  /** dHash over RAW GRAYSCALE rasters: `media` holds a row-major w×h
    * single-byte-per-pixel image (the deterministic cross-engine contract
    * the m4 oracle replays — real codecs go through [[dhashImages]]).
    * Out-of-range samples read 0, so a truncated payload hashes
    * deterministically instead of throwing (the dirty-corpus posture).
    * Map-only mapPartitions like every decode stage here; downstream
    * pairing is [[Dedup.simhashPairs]] UNCHANGED — a dHash is a 64-bit
    * sketch with the same Hamming-proximity semantics, so the
    * chunk-pigeonhole candidate join and hot-bucket caps carry over
    * verbatim.
    */
  def dhashRaster(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaHash] = {
    import media.sparkSession.implicits._
    require(w >= 9 && h >= 8, s"raster must be at least 9x8, got ${w}x$h")
    media.mapPartitions(_.map { r =>
      MediaHash(r.media_id, dhashOf((x, y) => {
        val i = y * w + x
        if (i < r.media.length) r.media(i) & 0xff else 0
      }, w, h))
    })
  }

  /** Null-on-failure ImageIO decode of a byte slice — the ONE wrapper
    * every real-image leg here shares (stills and video frames must
    * decode identically or their dhash equality silently breaks). */
  private def readImage(bs: Array[Byte], off: Int,
      len: Int): java.awt.image.BufferedImage =
    try javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bs, off, len))
    catch { case _: Exception => null }

  /** The ONE raster-gray dhash (per-pixel band mean on the 9×8 grid) —
    * shared by [[dhashImages]] and the video-frame leg. */
  private def rasterDhash(img: java.awt.image.BufferedImage): Long = {
    val raster = img.getRaster
    val ch = raster.getNumBands
    dhashOf((x, y) => {
      var s = 0
      var b = 0
      while (b < ch) { s += raster.getSample(x, y, b); b += 1 }
      s / ch
    }, img.getWidth, img.getHeight)
  }

  /** The ONE undecodable/too-small fallback: raw bytes under
    * [[FakeCodec]] header dims — deterministic, and BYTE-keyed, so the
    * same payload hashes the same whether it arrived as a still or as a
    * video frame slice. */
  private def rawFallbackDhash(bytes: Array[Byte]): Long = {
    val m = FakeCodec.decode(MediaRow(0L, "image", bytes))
    val (w, h) = (math.max(m.width, 9), math.max(m.height, 8))
    dhashOf((x, y) => {
      val i = y * w + x
      if (i < bytes.length) bytes(i) & 0xff else 0
    }, w, h)
  }

  /** dHash over REAL images: `javax.imageio` decode, per-pixel luminance
    * as the band mean, the same 9×8 grid. Undecodable payloads (and
    * too-small images) fall back to the raw-raster interpretation with
    * [[FakeCodec]] header dims — deterministic, never throws.
    */
  def dhashImages(media: Dataset[MediaRow]): Dataset[MediaHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val img = readImage(r.media, 0, r.media.length)
      if (img == null || img.getWidth < 9 || img.getHeight < 8)
        MediaHash(r.media_id, rawFallbackDhash(r.media))
      else MediaHash(r.media_id, rasterDhash(img))
    })
  }

  /** The 64-bit energy-gradient audio fingerprint core — [[dhashOf]]'s
    * design point on the time axis: the PCM stream divides into 65 equal
    * segments (same `(s·n)/65` integer-division boundaries as the dHash
    * grid), each segment's energy is the exact integer sum of squared
    * 16-bit samples, and bit `i` is set when segment `i+1` is STRICTLY
    * more energetic than segment `i`. Energy DIFFERENCES across time are
    * the robust part of an audio signal (the Haitsma–Kalker / chromaprint
    * family's core observation, minus their spectral axis — a real FFT
    * needs libm transcendentals, which the cross-engine determinism
    * contract forbids, same trade as t5/s9's rational idf): constant gain
    * scales every energy by g², so comparisons — and the hash — are
    * invariant under volume changes, while re-encoded or re-levelled
    * copies land within a few Hamming bits. Integer-only, so the m5
    * oracle replays it exactly.
    */
  private def energyHashOf(samples: Int => Long, n: Int): Long = {
    val e = new Array[Long](65)
    var s = 0
    while (s < 65) {
      val lo = s * n / 65
      val hi = (s + 1) * n / 65
      var acc = 0L
      var t = lo
      while (t < hi) { val v = samples(t); acc += v * v; t += 1 }
      e(s) = acc
      s += 1
    }
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (e(i + 1) > e(i)) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** Energy-gradient hash over RAW 16-bit little-endian mono PCM payloads
    * (the deterministic cross-engine contract the m5 oracle replays —
    * container formats go through [[audioHashWav]]). A truncated trailing
    * byte is ignored; an empty payload hashes to 0. Map-only like every
    * decode stage; downstream pairing is [[graft.ext.Dedup.simhashPairs]]
    * UNCHANGED — the hash has the same 64-bit Hamming-proximity semantics
    * as dHash/SimHash, so the chunk-pigeonhole candidate join and
    * hot-bucket caps carry over verbatim.
    */
  def audioHashPcm(media: Dataset[MediaRow]): Dataset[MediaHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val n = r.media.length / 2
      MediaHash(r.media_id, energyHashOf(t =>
        ((r.media(2 * t) & 0xff) | (r.media(2 * t + 1) << 8)).toShort.toLong, n))
    })
  }

  /** Energy-gradient hash over REAL audio containers (WAV/AIFF/AU via the
    * JDK sound stack — the [[decodeAudioMeta]] seam extended to the sample
    * stream): the container parses to its PCM frames, multi-channel audio
    * mixes to mono by per-frame channel averaging (truncating integer
    * mean, deterministic), and the shared core runs on the result — so a
    * WAV-wrapped payload and its raw PCM twin hash IDENTICALLY
    * (MultimodalSpec pins it). Unparseable payloads and non-PCM encodings
    * fall back to the raw-PCM interpretation of the bytes — deterministic,
    * never throws, the dirty-corpus posture of every codec stage here.
    */
  def audioHashWav(media: Dataset[MediaRow]): Dataset[MediaHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val (n, sample) = pcmSamplesOf(r, parseContainer = true)
      MediaHash(r.media_id, energyHashOf(sample, n))
    })
  }

  /** (sample count, sample accessor) for an audio payload: the real
    * container parse (WAV/AIFF/AU through the JDK sound stack,
    * multi-channel mixed to mono by truncating integer mean) when
    * `parseContainer`, raw 16-bit LE mono PCM otherwise — and as the
    * deterministic never-throw fallback for unparseable/non-PCM
    * payloads either way ([[audioHashWav]]'s seam, shared with the
    * windowed hashes).
    */
  private def pcmSamplesOf(r: MediaRow,
      parseContainer: Boolean): (Int, Int => Long) = {
    val pcm = if (!parseContainer) None else try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(r.media))
      val f = ais.getFormat
      if (f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          f.getSampleSizeInBits == 16) {
        val bytes = ais.readAllBytes()
        val ch = f.getChannels
        val be = f.isBigEndian
        val frames = bytes.length / (2 * ch)
        Some((frames, (t: Int) => {
          var c = 0
          var sum = 0L
          while (c < ch) {
            val o = (t * ch + c) * 2
            val v =
              if (be) ((bytes(o) << 8) | (bytes(o + 1) & 0xff)).toShort.toLong
              else ((bytes(o) & 0xff) | (bytes(o + 1) << 8)).toShort.toLong
            sum += v
            c += 1
          }
          sum / ch
        }))
      } else None
    } catch { case _: Exception => None }
    pcm.getOrElse(
      (r.media.length / 2, (t: Int) =>
        ((r.media(2 * t) & 0xff) | (r.media(2 * t + 1) << 8)).toShort.toLong))
  }

  /** One fixed-duration audio window's energy-gradient hash —
    * `window_idx` w covers samples `[w·hop, w·hop + window)`. */
  final case class AudioWindow(media_id: Long, window_idx: Int, dhash: Long)

  /** WINDOWED energy-gradient hashes — the offset-tolerant complement of
    * the whole-clip [[audioHashPcm]]/[[audioHashWav]] fingerprint, and
    * the audio twin of [[decodeVideoFrames]]' per-frame dHashes. The
    * whole-clip hash divides the ENTIRE stream into 65 segments, so a
    * trimmed copy shifts every segment boundary and the hash is
    * unrecognizable — the exact failure mode the video modes' trim case
    * names. Here each clip emits one [[energyHashOf]] hash per
    * fixed-SAMPLE-COUNT window (`windowSamples` wide, every
    * `hopSamples`), so a copy trimmed by a multiple of the hop carries
    * bit-identical hashes at shifted window indices, and
    * [[audioNearDupPairsUnordered]] pairs it by set containment exactly
    * like the trimmed-video case. Stated honestly: a trim OFF the hop
    * grid shifts content within every window — such copies pair only as
    * far as `maxHamming` absorbs the drift, so size the hop to the trim
    * granularity the pipeline must catch (overlap windows: hop ≤
    * window/2). Clips shorter than one window emit NOTHING — fall back
    * to the whole-clip hash for those. Map-only; gain invariance and
    * the integer-exact cross-engine contract carry over from the shared
    * core (the m9 oracle replays every window hash from the generation
    * formula).
    */
  def audioWindowHashes(media: Dataset[MediaRow], windowSamples: Int,
      hopSamples: Int, parseContainer: Boolean = false): Dataset[AudioWindow] = {
    require(windowSamples >= 65,
      s"windowSamples must be >= 65 (one sample per segment), got $windowSamples")
    require(hopSamples >= 1, s"hopSamples must be >= 1, got $hopSamples")
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val (n, sample) = pcmSamplesOf(r, parseContainer)
      val nw =
        if (n < windowSamples) 0 else (n - windowSamples) / hopSamples + 1
      (0 until nw).map { w =>
        AudioWindow(r.media_id, w,
          energyHashOf(t => sample(w * hopSamples + t), windowSamples))
      }
    }
  }

  /** OFFSET-TOLERANT audio near-dup pairs over [[audioWindowHashes]] —
    * [[Dedup.sketchSetPairs]] on the window-hash sets, the audio twin of
    * [[videoNearDupPairsUnordered]] with the same containment semantics,
    * flood/bucket guards, and honest contract: hop-aligned trims pair at
    * containment 1.0; window ORDER does not distinguish; a corpus-wide
    * window hash (digital silence, test tones) is `floodCap`'s job.
    */
  def audioNearDupPairsUnordered(windows: Dataset[AudioWindow],
      maxHamming: Int = 3, minContainment: Double = 0.75,
      floodCap: Int = Int.MaxValue, bucketCap: Int = Int.MaxValue): DataFrame =
    Dedup.sketchSetPairs(windows.toDF()
      .select(col("media_id"), col("dhash").as("simhash")),
      "media_id", maxHamming, minContainment, floodCap, bucketCap)

  /** Minimal MP4 (ISO BMFF) header reader — pure byte arithmetic, no codec:
    * walks the box tree (4-byte big-endian size + 4-char type; 64-bit
    * `size==1` large boxes and `size==0` to-end boxes handled), descends
    * the `moov`/`trak`/`mdia` containers, and reads
    *
    *   - `mvhd` (movie header): `timescale` (units/sec) and `duration`
    *     (in timescale units), at version-0 (32-bit) or version-1
    *     (64-bit) offsets;
    *   - `tkhd` (track header): presentation width/height as 16.16 fixed
    *     point — audio tracks carry 0×0, so the max across tracks is the
    *     video track's dims.
    *
    * Returns None (→ sentinel row upstream) for anything that is not a
    * parseable MP4: truncated boxes, corrupt sizes, or a payload with no
    * `mvhd` at all. Never throws — the dirty-corpus posture every codec
    * stage here shares.
    */
  private[ext] object Mp4 {
    final case class Info(width: Int, height: Int, timescale: Long, duration: Long)

    def parse(bs: Array[Byte]): Option[Info] = {
      try {
        var timescale = -1L; var duration = -1L
        var w = 0; var h = 0; var sawMvhd = false
        def u32(o: Int): Long =
          ((bs(o) & 0xffL) << 24) | ((bs(o + 1) & 0xffL) << 16) |
            ((bs(o + 2) & 0xffL) << 8) | (bs(o + 3) & 0xffL)
        def u64(o: Int): Long = (u32(o) << 32) | u32(o + 4)
        def typ(o: Int): String = new String(bs, o + 4, 4, "ISO-8859-1")
        // depth-capped recursion: a legitimate walk descends moov→trak→mdia
        // (≤3 levels); a hostile payload of nested container headers would
        // otherwise recurse once per 8 bytes and StackOverflowError — an
        // Error, NOT caught by the Exception handler below — would escape
        // the never-throws contract and fail the Spark task
        def walk(start: Long, end: Long, depth: Int): Boolean = {
          if (depth > 8) return false // corrupt/hostile nesting, stop
          var off = start
          while (off + 8 <= end) {
            val size0 = u32(off.toInt)
            val (hdr, size) =
              if (size0 == 1L && off + 16 <= end) (16L, u64(off.toInt + 8))
              else if (size0 == 0L) (8L, end - off)
              else (8L, size0)
            if (size < hdr || off + size > end) return false
            val p = (off + hdr).toInt
            typ(off.toInt) match {
              case "moov" | "trak" | "mdia" =>
                if (!walk(off + hdr, off + size, depth + 1)) return false
              case "mvhd" if size >= hdr + 4 =>
                val v = bs(p) & 0xff
                if (v == 1 && size >= hdr + 32) {
                  timescale = u32(p + 20); duration = u64(p + 24); sawMvhd = true
                } else if (v == 0 && size >= hdr + 20) {
                  timescale = u32(p + 12); duration = u32(p + 16); sawMvhd = true
                }
              case "tkhd" if size >= hdr + 4 =>
                val v = bs(p) & 0xff
                val wOff = if (v == 1) p + 88 else p + 76
                if (size >= hdr + (if (v == 1) 96 else 84)) {
                  val tw = (u32(wOff) >> 16).toInt
                  val th = (u32(wOff + 4) >> 16).toInt
                  // the reported pair must belong to ONE real track: keep
                  // the max-AREA track's (w, h). A per-axis max across
                  // tracks would report phantom dimensions no track has
                  // (640x480 video + 480x640 thumbnail -> "640x640")
                  if (tw.toLong * th > w.toLong * h) { w = tw; h = th }
                }
              case _ => ()
            }
            off += size
          }
          true
        }
        if (walk(0L, bs.length.toLong, 0) && sawMvhd)
          Some(Info(w, h, timescale, duration))
        else None
      } catch { case _: Exception => None }
    }
  }

  /** REAL video container decode for [[decodeMeta]]: MP4 header dims via
    * [[Mp4]] for `kind == "video"` (mean stays the raw-byte mean — frame
    * pixels would need a real codec); everything unparseable, and every
    * other kind, falls back to [[FakeCodec]] like the other codecs.
    */
  object Mp4Codec {
    def decode(r: MediaRow): MediaMeta =
      if (r.kind != "video") FakeCodec.decode(r)
      else Mp4.parse(r.media) match {
        case Some(i) if i.width > 0 && i.height > 0 =>
          MediaMeta(r.media_id, r.kind, r.media.length.toLong,
            i.width, i.height, 3, meanByte(r.media))
        case _ => FakeCodec.decode(r)
      }
  }

  /** REAL video FRAME decode — the RIFF/AVI leg. MP4's modern codecs
    * (H.264/H.265) have no JDK decoder, which is why [[Mp4]] stops at
    * container headers; but the AVI container's two classic payloads
    * are fully decodable with the JDK alone, frames included:
    *
    *   - `00db` BI_RGB DIB frames (uncompressed bottom-up BGR rows,
    *     4-byte-aligned): pure byte arithmetic — the fixture format the
    *     m6 oracle replays cross-engine;
    *   - `00dc` MJPEG frames (each frame a complete JPEG): the real
    *     `javax.imageio` JPEG codec, per frame.
    *
    * The walk is little-endian RIFF (fourcc + u32 size + data, padded
    * to even — the byte-order mirror of [[Mp4]]'s big-endian boxes):
    * `avih` gives dims / µs-per-frame / frame count, the first video
    * `strf` gives bit depth + compression, and the `movi` LIST's
    * `##db`/`##dc` chunks are the frame index. Never throws; chunk
    * count is capped against hostile payloads (the Mp4 depth-cap
    * rationale — a 0-size chunk loop must not spin the task).
    */
  private[ext] object Avi {
    final case class Info(width: Int, height: Int, usPerFrame: Long,
        totalFrames: Long, bitCount: Int, compression: String,
        topDown: Boolean)
    /** One VIDEO-stream frame chunk's payload slice (offset past the
      * 8-byte chunk header) in stream order. */
    final case class FrameRef(offset: Int, length: Int, fourcc: String)

    // a hostile-input bound on parse WORK, not a validity rule: past the
    // cap the walk STOPS and returns what it has (a legitimate hours-long
    // recording has millions of movi chunks; rejecting it outright would
    // lose a video the even-stride sampler only needs a prefix of)
    private val MaxChunks = 1 << 20

    def parse(bs: Array[Byte]): Option[(Info, IndexedSeq[FrameRef])] = {
      try {
        def u32(o: Int): Long =
          (bs(o) & 0xffL) | ((bs(o + 1) & 0xffL) << 8) |
            ((bs(o + 2) & 0xffL) << 16) | ((bs(o + 3) & 0xffL) << 24)
        def u16(o: Int): Int = (bs(o) & 0xff) | ((bs(o + 1) & 0xff) << 8)
        def typ(o: Int): String = new String(bs, o, 4, "ISO-8859-1")
        if (bs.length < 12 || typ(0) != "RIFF" || typ(8) != "AVI ") return None
        var w = 0; var h = 0; var usPf = -1L; var total = -1L
        var sawAvih = false
        var bits = 0; var comp = ""; var topDown = false
        // stream bookkeeping: strh chunks arrive in stream order, so the
        // Nth strh IS stream N; the video stream's strf (the chunk
        // FOLLOWING its 'vids' strh) is the only one read, and only
        // frame chunks carrying that stream's number are indexed — an
        // audio-first AVI must not poison bitCount/compression, and a
        // second stream's frames must not decode under stream 0's format
        var streamIdx = -1
        var videoStream = -1
        var awaitingVideoStrf = false
        val frames = scala.collection.mutable.ArrayBuffer.empty[FrameRef]
        var chunks = 0
        def walk(start: Long, end: Long, depth: Int): Boolean = {
          if (depth > 8) return false
          var off = start
          while (off + 8 <= end && chunks <= MaxChunks) {
            chunks += 1
            val cc = typ(off.toInt)
            val size = u32(off.toInt + 4)
            val dataOff = off + 8
            if (size < 0 || dataOff + size > end) return false
            val p = dataOff.toInt
            cc match {
              case "LIST" if size >= 4 =>
                // list type consumed, sub-chunks follow
                if (!walk(dataOff + 4, dataOff + size, depth + 1)) return false
              case "avih" if size >= 40 =>
                usPf = u32(p); total = u32(p + 16)
                w = u32(p + 32).toInt; h = u32(p + 36).toInt
                sawAvih = true
              case "strh" if size >= 4 =>
                streamIdx += 1
                awaitingVideoStrf = videoStream < 0 && typ(p) == "vids"
                if (awaitingVideoStrf) videoStream = streamIdx
              case "strf" if awaitingVideoStrf =>
                // BITMAPINFOHEADER of the video stream just declared.
                // ANY strf closes the wait — a truncated (<20 B) strf must
                // not leave the flag armed for a later stream's strf, which
                // would bind the wrong format to the video stream
                if (size >= 20) {
                  bits = u16(p + 14)
                  val c = u32(p + 16)
                  comp = if (c == 0) "RGB " else typ(p + 16)
                  // negative biHeight is the standard top-down DIB signal
                  topDown = u32(p + 8).toInt < 0
                }
                awaitingVideoStrf = false
              case _ if cc.length == 4 && cc(0).isDigit && cc(1).isDigit &&
                  (cc.endsWith("db") || cc.endsWith("dc")) &&
                  (cc.substring(0, 2).toInt == math.max(videoStream, 0)) =>
                frames += FrameRef(p, size.toInt, cc)
              case _ => ()
            }
            off = dataOff + size + (size & 1L) // chunks pad to even
          }
          true
        }
        if (walk(12L, bs.length.toLong, 0) && sawAvih)
          Some((Info(w, h, usPf, total, bits, comp, topDown),
            frames.toIndexedSeq))
        else None
      } catch { case _: Exception => None }
    }
  }

  /** One decoded-and-sampled video frame: `frame_idx` is the frame's
    * position in the stream (not the sample number), dims are the
    * DECODED frame's, `mean_px` the mean over every raster sample, and
    * `dhash` the same 9×8 difference hash [[dhashImages]] computes for
    * stills — so video near-dup detection is frame-hash equality /
    * Hamming proximity with the image machinery unchanged. The sentinel
    * row (frame_idx -1, dims -1, mean -1) accounts for undecodable
    * payloads and non-video kinds, one per input row — no input is
    * silently dropped.
    */
  final case class VideoFrame(
      media_id: Long, frame_idx: Int, width: Int, height: Int,
      mean_px: Double, dhash: Long)

  private def videoSentinel(id: Long): VideoFrame =
    VideoFrame(id, -1, -1, -1, -1.0, 0L)

  /** REAL video frame decode + even-stride sampling: up to `nFrames`
    * frames per video, evenly spaced over the stream (all of them when
    * the stream is shorter). DIB frames decode by byte arithmetic,
    * MJPEG frames through `javax.imageio` — see [[Avi]]. Map-only
    * mapPartitions like every decode stage here; blobs never shuffle
    * (project the frame rows, drop the media column, THEN join).
    *
    * 100 TB shape note: at web scale the frame stride means each blob
    * is read once and emits `nFrames` small rows — the decode is
    * CPU-bound and embarrassingly parallel, so throughput scales with
    * cores; H.264-era containers still need an external decoder in this
    * same seam (the one boundary left).
    */
  def decodeVideoFrames(media: Dataset[MediaRow],
      nFrames: Int = 8): Dataset[VideoFrame] = {
    require(nFrames >= 1, s"nFrames must be >= 1, got $nFrames")
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val parsed = if (r.kind == "video") Avi.parse(r.media) else None
      parsed match {
        case Some((info, refs)) if refs.nonEmpty =>
          val n = math.min(nFrames, refs.length)
          val picks =
            if (refs.length <= nFrames) refs.indices
            else if (n == 1) Seq(0)
            // Long product: refs can reach the 2^20 chunk cap, where an
            // Int i*(refs.length-1) overflows into a negative index
            else (0 until n).map(i =>
              (i.toLong * (refs.length - 1) / (n - 1)).toInt)
          val out = picks.distinct.map { fi =>
            decodeOneFrame(r.media_id, fi, r.media, refs(fi), info)
          }
          // a video whose every sampled frame fails still accounts for
          // itself with ONE sentinel (not one per failed frame)
          val ok = out.filter(_.frame_idx >= 0)
          if (ok.nonEmpty) ok else Seq(videoSentinel(r.media_id))
        case _ => Seq(videoSentinel(r.media_id))
      }
    }
  }

  /** Video near-dup pairs from sampled frame hashes — the still-image
    * dHash pairing ([[graft.ext.Dedup.simhashPairs]]) applied
    * POSITIONALLY: frame i of one video compares against frame i of
    * another (the pigeonhole buckets are scoped by `frame_idx`, so
    * same-cut duplicates — re-encodes, watermarks, container swaps —
    * pair without any cross-position candidate blow-up), and a pair of
    * videos survives when ≥ `minShared` sampled positions match within
    * `maxHamming`. Input is [[decodeVideoFrames]]' output (sentinel
    * rows are dropped — an undecodable video pairs with nothing);
    * output is (id_a, id_b, n_shared, max_hamming). Feed videos through
    * the SAME `nFrames` or positions won't line up.
    *
    * `floodCap` bounds the flat-color-intro flood: a frame hash shared
    * by MORE than `floodCap` videos at one position is DROPPED before
    * pairing — the df-cap idea, NOT the d4 star cap, deliberately. Star
    * pairs compose with connected-components dedup but not with a
    * per-pair `n_shared` COUNT: a star would both rob genuine twins of
    * credit for the flood position (they'd pair only with the rep) and
    * grant (rep, member) pairs credit for a corpus-wide intro that says
    * nothing about duplication. Dropping the position keeps every
    * surviving count exact over informative frames; a pair must then
    * share `minShared` NON-flood positions, which is the near-dup
    * question anyway.
    *
    * Materialization note: the call EAGERLY snapshots the frame hashes
    * through [[graft.tables.Scratch]] (the decode plan must not re-run
    * per sink), so the returned frame reads that snapshot, a stage that
    * [[graft.tables.TableStore.stage]] sweeps `keepLast` (default 16)
    * further pairing calls later: consume it before then, or raise
    * `graft.scratch.keepLast` for wider lazy fan-outs.
    */
  def videoNearDupPairs(frames: Dataset[VideoFrame], maxHamming: Int = 3,
      minShared: Int = 2, floodCap: Int = Int.MaxValue): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(floodCap >= 1, s"floodCap must be >= 1, got $floodCap")
    // snapshot the hash rows (three longs per frame): the flood
    // aggregate, its anti-join, and both sides of the pigeonhole
    // self-join each re-evaluate their input, and `frames` is
    // canonically the full blob-decode plan — without the stage the
    // most expensive CPU stage runs once per sink
    val sh = graft.tables.Scratch.stage(frames.toDF()
      .filter(col("frame_idx") >= 0)
      .select(col("media_id"), col("frame_idx"), col("dhash").as("simhash")),
      "videodedup_sh")
    val kept =
      if (floodCap == Int.MaxValue) sh
      else {
        val hot = sh.groupBy(col("frame_idx"), col("simhash"))
          .agg(count(lit(1)).as("_n")).filter(col("_n") > floodCap)
          .select(col("frame_idx"), col("simhash"))
        sh.join(hot, Seq("frame_idx", "simhash"), "left_anti")
      }
    Dedup.simhashPairs(kept, "media_id", maxHamming,
        scopeCols = Seq("frame_idx"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"), max(col("hamming")).as("max_hamming"))
      .filter(col("n_shared") >= minShared)
  }

  /** OFFSET-TOLERANT video near-dup pairs — the unordered complement of
    * [[videoNearDupPairs]]' same-cut positional contract. Positional
    * pairing compares frame i against frame i, so a duplicate trimmed by
    * one leading frame (every position shifted) or re-sampled to a
    * different frame count never pairs. This mode drops the position
    * entirely: each video becomes its SET of distinct frame hashes, two
    * hashes match within `maxHamming` (the d1 dHash tolerance through the
    * [[Dedup.simhashMatchPairs]] pigeonhole — no all-pairs comparison),
    * and a pair survives when the matched fraction of EITHER side's set
    * reaches `minContainment`:
    *
    *   `containment = greatest(m_a / n_a, m_b / n_b)`
    *
    * where n is a side's distinct-hash count and m its distinct hashes
    * with ≥ 1 tolerant match in the other. Under exact matching this IS
    * the d19 containment coefficient |A∩B| / min(|A|, |B|) (both matched
    * counts equal the intersection), and like d19 it deliberately
    * catches SUBSET duplication: a trimmed or sparsely re-sampled twin
    * is fully contained in its source (containment 1.0) while its
    * Jaccard — and its positional n_shared — is arbitrarily poor.
    *
    * The flip side of dropping position, stated honestly: frame ORDER no
    * longer distinguishes (a reversed video is containment-1.0 its
    * original), and `floodCap` matters more — a hash shared corpus-wide
    * (flat intro card) pairs across ALL positions here, so the over-cap
    * DROP (same df-cap semantics and rationale as the positional mode)
    * is the scale guard; `bucketCap` DROPS hot 16-bit chunk buckets
    * underneath (the match-pair counting contract — star pairs would
    * corrupt the per-pair counts, see [[Dedup.simhashMatchPairs]]).
    * Output: (id_a, id_b, n_a, n_b, n_matched_a, n_matched_b,
    * containment). Same eager-snapshot + stage-lifetime note as
    * [[videoNearDupPairs]].
    */
  def videoNearDupPairsUnordered(frames: Dataset[VideoFrame],
      maxHamming: Int = 3, minContainment: Double = 0.75,
      floodCap: Int = Int.MaxValue,
      bucketCap: Int = Int.MaxValue): DataFrame =
    // the generic tolerant-set containment core over the frame hashes —
    // sentinel frames dropped first (an undecodable video pairs with
    // nothing); repeated identical frames collapse inside (set
    // semantics)
    Dedup.sketchSetPairs(frames.toDF()
      .filter(col("frame_idx") >= 0)
      .select(col("media_id"), col("dhash").as("simhash")),
      "media_id", maxHamming, minContainment, floodCap, bucketCap)

  /** Decode one frame chunk: BI_RGB 24-bit DIB by byte arithmetic
    * (bottom-up BGR, rows padded to 4 bytes), anything carrying a JPEG
    * magic (MJPG streams) through ImageIO. Sentinel on everything else
    * — never throws.
    */
  private def decodeOneFrame(id: Long, fi: Int, bs: Array[Byte],
      ref: Avi.FrameRef, info: Avi.Info): VideoFrame = {
    val isJpeg = ref.length >= 2 &&
      (bs(ref.offset) & 0xff) == 0xff && (bs(ref.offset + 1) & 0xff) == 0xd8
    if (isJpeg) {
      val img = readImage(bs, ref.offset, ref.length)
      if (img == null) videoSentinel(id)
      else {
        val raster = img.getRaster
        val (w, h, ch) = (img.getWidth, img.getHeight, raster.getNumBands)
        var sum = 0.0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var b = 0
            while (b < ch) { sum += raster.getSample(x, y, b); b += 1 }
            x += 1
          }
          y += 1
        }
        // the SAME hash (and the same too-small fallback, byte-keyed on
        // the slice) the still path computes, so frame↔still near-dup
        // equality holds at every size
        val hash =
          if (w < 9 || h < 8) rawFallbackDhash(
            java.util.Arrays.copyOfRange(bs, ref.offset,
              ref.offset + ref.length))
          else rasterDhash(img)
        VideoFrame(id, fi, w, h, sum / (w.toLong * h * ch), hash)
      }
    } else if (info.bitCount == 24 && info.width > 0 && info.height > 0 &&
        info.width <= (1 << 15) && info.height <= (1 << 15)) {
      val (w, h) = (info.width, info.height)
      val rowBytes = ((w * 3 + 3) / 4) * 4
      // Long compare: hostile header dims must sentinel, never wrap Int
      // and index past the array
      if (ref.length.toLong < rowBytes.toLong * h) videoSentinel(id)
      else {
        // BGR rows; mean over CHANNEL bytes (padding excluded) — the
        // raster-sample mean, same definition as the JPEG leg
        var sum = 0.0
        var y = 0
        while (y < h) {
          val ro = ref.offset + y * rowBytes
          var i = 0
          while (i < w * 3) { sum += (bs(ro + i) & 0xff); i += 1 }
          y += 1
        }
        // DIB rows store bottom-up unless strf declared negative
        // biHeight (the standard top-down signal)
        def gray(x: Int, y: Int): Int = {
          val srcRow = if (info.topDown) y else h - 1 - y
          val ro = ref.offset + srcRow * rowBytes + x * 3
          ((bs(ro) & 0xff) + (bs(ro + 1) & 0xff) + (bs(ro + 2) & 0xff)) / 3
        }
        VideoFrame(id, fi, w, h, sum / (w.toLong * h * 3),
          dhashOf(gray, w, h))
      }
    } else videoSentinel(id)
  }

  final case class AudioMeta(
      media_id: Long, n_bytes: Long, sample_rate: Double,
      channels: Int, n_frames: Long, duration_sec: Double)

  final case class VideoMeta(
      media_id: Long, n_bytes: Long, width: Int, height: Int,
      timescale: Long, duration_sec: Double)

  /** REAL video metadata via the [[Mp4]] header walk (JDK-only, header
    * bytes only — the frame stream is never touched): presentation dims,
    * movie timescale, and duration in seconds. Non-video kinds and
    * unparseable payloads yield the sentinel row (width/height -1,
    * timescale -1, duration -1) without attempting a parse — the same
    * dirty-corpus posture as [[decodeAudioMeta]].
    */
  def decodeVideoMeta(media: Dataset[MediaRow]): Dataset[VideoMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val info = if (r.kind == "video") Mp4.parse(r.media) else None
        info match {
          case Some(i) =>
            val dur = if (i.timescale > 0 && i.duration >= 0)
              i.duration.toDouble / i.timescale else -1.0
            VideoMeta(r.media_id, r.media.length.toLong, i.width, i.height,
              i.timescale, dur)
          case None =>
            VideoMeta(r.media_id, r.media.length.toLong, -1, -1, -1L, -1.0)
        }
      }
    }
  }

  /** REAL audio metadata via JDK-built-in `javax.sound.sampled` (WAV, AIFF,
    * AU — no dependencies): true sample rate, channel count, frame count,
    * and duration, parsed from the container header without decoding the
    * sample stream. Rows the sound stack cannot parse (or whose payload is
    * not audio at all) yield the sentinel row (sample_rate -1, channels 0,
    * n_frames -1, duration -1) rather than failing the stage — the same
    * dirty-corpus posture as [[ImageIoCodec]]'s fallback. Non-audio kinds
    * short-circuit to the sentinel without a provider scan (the gate the
    * other codec stages apply on `kind`): a mislabeled blob that happens
    * to start with a RIFF header should not decode as audio, and image/
    * video rows should not pay a per-row AudioSystem probe.
    */
  def decodeAudioMeta(media: Dataset[MediaRow]): Dataset[AudioMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        if (r.kind != "audio")
          AudioMeta(r.media_id, r.media.length.toLong, -1.0, 0, -1L, -1.0)
        else try {
          val ff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
            new java.io.ByteArrayInputStream(r.media))
          val f = ff.getFormat
          val frames = ff.getFrameLength.toLong
          val dur =
            if (f.getFrameRate > 0 && frames >= 0) frames / f.getFrameRate.toDouble
            else -1.0
          AudioMeta(r.media_id, r.media.length.toLong,
            f.getSampleRate.toDouble, f.getChannels, frames, dur)
        } catch {
          case _: Exception =>
            AudioMeta(r.media_id, r.media.length.toLong, -1.0, 0, -1L, -1.0)
        }
      }
    }
  }

  /** REAL pixel resample (Java2D bilinear, JDK-built-in): images larger
    * than `maxSide` on either axis are scaled down aspect-preserving with
    * [[resizePlan]]'s exact dimension arithmetic (floor, min-scale, ≥1) and
    * re-encoded as PNG; images already within bounds, non-image kinds, and
    * undecodable payloads pass through byte-identical. Partition-parallel
    * like every codec stage; blobs never shuffle.
    */
  def resizeImages(media: Dataset[MediaRow], maxSide: Int): Dataset[MediaRow] = {
    require(maxSide >= 1, s"maxSide must be >= 1, got $maxSide")
    import media.sparkSession.implicits._
    // header-only dimension probe: ImageReader.getWidth/Height parse the
    // container header without decoding the raster, so already-in-bounds
    // images (the common case in a resize sweep) never pay a pixel decode
    def headerDims(bytes: Array[Byte]): Option[(Int, Int)] = {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val rd = readers.next()
          rd.setInput(iis)
          try Some((rd.getWidth(0), rd.getHeight(0))) finally rd.dispose()
        }
      } catch { case _: Exception => None } finally iis.close()
    }
    media.mapPartitions { it =>
      // in-memory streams only: the default file-backed stream cache writes
      // a temp file per decode on every executor
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val dims = if (r.kind != "image") None else headerDims(r.media)
        val needsResize = dims.exists { case (w, h) => w > maxSide || h > maxSide }
        val img =
          if (!needsResize) null
          else
            try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.media))
            catch { case _: Exception => null }
        if (img == null || (img.getWidth <= maxSide && img.getHeight <= maxSide)) r
        else {
          val scale = math.min(
            math.min(maxSide.toDouble / img.getWidth, maxSide.toDouble / img.getHeight), 1.0)
          val ow = math.max(1, math.floor(img.getWidth * scale).toInt)
          val oh = math.max(1, math.floor(img.getHeight * scale).toInt)
          // alpha-aware output buffer: re-encoding an RGBA/transparent PNG
          // or GIF through an opaque type would silently flatten its alpha
          // channel onto an uninitialized black background
          val outType =
            if (img.getColorModel.hasAlpha) java.awt.image.BufferedImage.TYPE_4BYTE_ABGR
            else java.awt.image.BufferedImage.TYPE_3BYTE_BGR
          val out = new java.awt.image.BufferedImage(ow, oh, outType)
          val g = out.createGraphics()
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, ow, oh, null)
          g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          MediaRow(r.media_id, r.kind, bos.toByteArray)
        }
      }
    }
  }

  /** Resize planning: recompute target dims preserving aspect ratio from
    * METADATA only — the cheap dry-run twin of [[resizeImages]] (same
    * arithmetic), for sizing estimates without touching a single blob.
    */
  def resizePlan(meta: Dataset[MediaMeta], maxSide: Int): DataFrame = {
    meta.toDF().withColumn("scale",
        least(lit(maxSide) / col("width"), lit(maxSide) / col("height"), lit(1.0)))
      .withColumn("out_width", greatest(floor(col("width") * col("scale")), lit(1)).cast("int"))
      .withColumn("out_height", greatest(floor(col("height") * col("scale")), lit(1)).cast("int"))
      .drop("scale")
  }

  /** Frame sampling as pure byte slicing — a Column expression, no decode:
    * `nFrames` fixed-width windows at even stride through the blob. The
    * stride is floored to whole bytes BEFORE the frame-index multiply, so
    * every offset is exact integer arithmetic (float offsets truncate in
    * Spark but round in other engines — m2's oracle pins the parity).
    */
  def sampleFrames(df: DataFrame, mediaCol: String, nFrames: Int, frameBytes: Int): DataFrame = {
    val stride = floor(
      greatest(octet_length(col(mediaCol)) - frameBytes, lit(0)) /
        lit(math.max(nFrames - 1, 1))).cast("long")
    df.withColumn("frames",
      transform(sequence(lit(0), lit(nFrames - 1)),
        i => substring(col(mediaCol), (i * stride + 1).cast("int"), lit(frameBytes))))
  }

  /** Wrap any table into media rows by treating a string column's UTF-8
    * bytes as the payload — the harness's stand-in for real blobs (testdata
    * has no binary table; documents.text is byte-identical in both engines).
    */
  def fromText(spark: SparkSession, df: DataFrame, idCol: String, textCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    df.select(col(idCol).cast("long").as("media_id"),
        lit("image").as("kind"),
        encode(col(textCol), "UTF-8").as("media"))
      .as[MediaRow]
  }
}
