package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.security.MessageDigest

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal columns for training-data pipelines: media as opaque `binary`
  * content plus typed metadata, with decode / feature-extract / frame-sample
  * as distributed operators.
  *
  * The image path is REAL: `decode` runs `javax.imageio` (PNG/JPEG/BMP/GIF —
  * the JDK's built-in readers, zero extra dependencies) inside a
  * mapPartitions loop, extracting actual width/height/channel-count/codec
  * from the bytes. Content the JDK cannot parse (the audio/video stand-ins,
  * corrupt blobs) falls back to a deterministic hash-derived metadata row,
  * clearly flagged `decoded = false` — the same contract a production
  * pipeline needs when a blob is unreadable: keep the row, flag it, never
  * kill the job.
  *
  * The documents fixture doubles as the asset corpus (ASCII text cast to
  * bytes) for the byte-level operators; `withSyntheticImages` swaps in real
  * PNG bytes (encoded with `ImageIO.write`, dimensions and fill colour
  * derived from the id by plain integer arithmetic) so the decode path is
  * exercised end-to-end and stays oracle-checkable from SQL.
  */
object Multimodal {

  val FrameBytes = 256

  final case class Asset(asset_id: Long, media_type: String, content: Array[Byte])

  /** One decoded-metadata row per asset. For JDK-decodable images the
    * dimensions/channels/codec come from the actual decoder; `solid_rgb` is
    * the packed 0xRRGGBB value when every pixel carries one colour (the
    * verifiable signal for synthetic fixtures), -1 when the image is not
    * uniform or was not decodable. Fallback rows derive width/height from
    * the content MD5 (deterministic, SQL-replicable) with `decoded=false`. */
  final case class DecodedMedia(
      asset_id: Long,
      media_type: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      channels: Int,
      codec: String,
      decoded: Boolean,
      solid_rgb: Long,
      content_md5: String)

  /** Typed asset view with its rows SPREAD by id hash — the input shape for
    * every synthetic byte generator below. A narrow map chain inherits the
    * scan's split count (guide §2.5 input parallelism), which on a
    * single-file fixture parquet is ONE task: q172's profile showed the
    * audio synthesis+fingerprint pass running 1.6 s on 1 of 32 cores (three
    * such single-task stages = ~75% of the query's wall). The exchange here
    * moves only the tiny PRE-expansion (id, type, text-bytes) rows — the
    * expensive byte synthesis/decode runs after it, at
    * spark.sql.shuffle.partitions-way parallelism (scale-adaptive conf:
    * local cores here, cluster-sized there). Real-media decode operators do
    * NOT get this treatment: their bytes are already expanded, and at scale
    * shuffling media payloads to win parallelism is the §8 anti-pattern —
    * scan parallelism covers them in production, and in this catalog their
    * input is a generator output that is already spread. */
  private def spreadAssets(assets: DataFrame): Dataset[Asset] =
    Layout.spread(assets.select(col("asset_id"), col("media_type"), col("content")),
      col("asset_id")).as(Encoders.product[Asset])

  /** Adapt any (id, text) table into a typed asset table: binary content +
    * media-type metadata (deterministic assignment across the 3 modalities). */
  def assetize(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(
      col(idCol).as("asset_id"),
      element_at(
        array(lit("image"), lit("audio"), lit("video")),
        (pmod(col(idCol), lit(3)) + 1).cast("int")).as("media_type"),
      col(textCol).cast("binary").as("content"))

  // Deterministic fixture geometry/colour, pure integer arithmetic so any
  // SQL engine can predict what the decoder must read back.
  def syntheticWidth(id: Long): Int = (8 + id % 56).toInt
  def syntheticHeight(id: Long): Int = (8 + (id / 56) % 56).toInt
  def syntheticRgb(id: Long): Long =
    ((id * 7 + 1) % 256) * 65536 + ((id * 13 + 3) % 256) * 256 + (id * 29 + 5) % 256

  /** Encode a real PNG (via the JDK encoder) whose dimensions and solid fill
    * colour are integer functions of the id — the decode oracle. */
  def syntheticPng(id: Long): Array[Byte] = {
    val (w, h, rgb) = (syntheticWidth(id), syntheticHeight(id), syntheticRgb(id).toInt)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Swap real PNG bytes into the image-typed rows (audio/video keep their
    * opaque blobs): the fixture generator for the end-to-end decode path. */
  def withSyntheticImages(assets: DataFrame): DataFrame = {
    val ds = spreadAssets(assets)
    ds.mapPartitions { it =>
      ImageIO.setUseCache(false) // keep the encoder in-memory, no temp files
      it.map { a =>
        if (a.media_type == "image") a.copy(content = syntheticPng(a.asset_id)) else a
      }
    }(Encoders.product[Asset]).toDF()
  }

  /** Byte-level features (map-only, codegen'd): size, content hash, magic
    * prefix, per-frame digest of the first frame. */
  def byteFeatures(assets: DataFrame): DataFrame =
    assets.select(
      col("asset_id"), col("media_type"),
      length(col("content")).as("n_bytes"),
      md5(col("content")).as("content_md5"),
      lower(hex(substring(col("content"), 1, 8))).as("magic_hex"),
      md5(substring(col("content"), 1, FrameBytes)).as("frame0_md5"))

  /** Frame sampling: one output row per FrameBytes-sized slice — the
    * shuffle-free explode shape a video pipeline uses for per-frame work.
    * Slices are taken with substring on the binary column (no per-element
    * lambda; codegen'd), one row per (asset, frame). */
  def sampleFrames(assets: DataFrame, frameBytes: Int = FrameBytes): DataFrame = {
    val nFrames = ceil(length(col("content")) / lit(frameBytes.toDouble)).cast("long")
    assets
      .select(col("asset_id"),
        posexplode(when(nFrames > 0, transform(
          sequence(lit(0L), nFrames - 1),
          // `content` inside the lambda is an attribute read (not a
          // recomputed subtree) — safe, unlike captured computed exprs
          i => md5(col("content").substr((i * frameBytes + 1).cast("int"), lit(frameBytes)))))
          .otherwise(array().cast("array<string>"))))
      .select(col("asset_id"), col("pos").cast("long").as("frame_no"),
        col("col").as("frame_md5"))
  }

  /** REAL image decode over the typed Dataset: per partition the ImageIO
    * registry is configured once (per-partition init, like a connection),
    * then each asset's bytes go through the JDK's codec auto-detection.
    * Decodable content yields actual width/height/channels and the codec
    * name; unreadable content yields the deterministic hash-metadata
    * fallback with `decoded = false` (flag, don't drop — the corrupt-row
    * contract every other graft edge follows). */
  def decode(assets: DataFrame): Dataset[DecodedMedia] = {
    val ds = assets.select(col("asset_id"), col("media_type"), col("content"))
      .as(Encoders.product[Asset])
    ds.mapPartitions { it =>
      ImageIO.setUseCache(false)
      val md = MessageDigest.getInstance("MD5")
      it.map { a =>
        md.reset()
        val digest = md.digest(a.content).map("%02x".format(_)).mkString
        tryDecodeImage(a.content) match {
          case Some((w, h, ch, codec, solid)) =>
            DecodedMedia(a.asset_id, a.media_type, a.content.length.toLong,
              w, h, ch, codec, decoded = true, solid, digest)
          case None =>
            // hash-derived stand-in dims (SQL-replicable): the row survives
            // with enough metadata to route, audit, or quarantine it
            val h16 = Integer.parseInt(digest.substring(0, 4), 16)
            DecodedMedia(a.asset_id, a.media_type, a.content.length.toLong,
              64 + h16 % 448, 64 + (h16 / 448) % 448,
              channels = 0, codec = "none", decoded = false, solid_rgb = -1L, digest)
        }
      }
    }(Encoders.product[DecodedMedia])
  }

  /** One ImageIO decode attempt: codec sniffed from the byte stream, then a
    * full pixel read. Returns (width, height, channels, codec, solid_rgb)
    * where solid_rgb is the packed colour if every pixel matches the
    * top-left one, else -1. */
  private def tryDecodeImage(bytes: Array[Byte]): Option[(Int, Int, Int, String, Long)] =
    try {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, true, true)
            val codec = reader.getFormatName.toLowerCase
            val img = reader.read(0)
            val (w, h) = (img.getWidth, img.getHeight)
            val ch = img.getColorModel.getNumComponents
            val first = img.getRGB(0, 0) & 0xffffff
            var solid = true
            var y = 0
            while (solid && y < h) {
              var x = 0
              while (solid && x < w) { solid = (img.getRGB(x, y) & 0xffffff) == first; x += 1 }
              y += 1
            }
            Some((w, h, ch, codec, if (solid) first.toLong else -1L))
          } finally reader.dispose()
        }
      } finally if (iis != null) iis.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** "Resize": metadata-level transform over the decoded table — the shape
    * of a real resize (recompute dims, keep lineage), sans pixels. */
  def resizeMeta(decoded: DataFrame, maxDim: Int): DataFrame = {
    val scale = least(lit(1.0),
      lit(maxDim.toDouble) / greatest(col("width"), col("height")))
    decoded.select(col("asset_id"), col("media_type"),
      floor(col("width") * scale).cast("int").as("width"),
      floor(col("height") * scale).cast("int").as("height"),
      round(scale, 6).as("scale"))
  }

  /** Per-channel pixel statistics row. Means are EXACT integers for the
    * synthetic solid-fill fixtures, which is what makes this feature
    * extractor oracle-checkable; undecodable assets emit -1 sentinels. */
  final case class PixelFeatures(
      asset_id: Long, media_type: String, decoded: Boolean,
      width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** Pixel-level feature extraction (the "embed this image" precursor):
    * decode, then per-channel means over the full raster — the same
    * mapPartitions decode loop as [[decode]], one pass over the pixels. */
  def pixelFeatures(assets: DataFrame): Dataset[PixelFeatures] = {
    val ds = assets.select(col("asset_id"), col("media_type"), col("content"))
      .as(Encoders.product[Asset])
    ds.mapPartitions { it =>
      ImageIO.setUseCache(false)
      it.map { a =>
        readImage(a.content) match {
          case Some(img) =>
            val (w, h) = (img.getWidth, img.getHeight)
            var (sr, sg, sb) = (0L, 0L, 0L)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = img.getRGB(x, y)
                sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
                x += 1
              }
              y += 1
            }
            val n = w.toLong * h
            PixelFeatures(a.asset_id, a.media_type, decoded = true, w, h,
              sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
          case None =>
            PixelFeatures(a.asset_id, a.media_type, decoded = false,
              -1, -1, -1.0, -1.0, -1.0)
        }
      }
    }(Encoders.product[PixelFeatures])
  }

  /** REAL pixel resize: decode, resample with Graphics2D (bilinear) to the
    * [[resizeMeta]] geometry (longest side capped at `maxDim`, aspect
    * preserved, floor dims), re-encode as PNG. Already-small and
    * undecodable assets pass through untouched — resize is a best-effort
    * normalization, not a gate. Verified by decoding the OUTPUT again
    * (q154): the re-encoded bytes must carry the predicted dimensions. */
  def resizePixels(assets: DataFrame, maxDim: Int): Dataset[Asset] = {
    require(maxDim > 0, "maxDim must be positive")
    val ds = assets.select(col("asset_id"), col("media_type"), col("content"))
      .as(Encoders.product[Asset])
    ds.mapPartitions { it =>
      ImageIO.setUseCache(false)
      it.map { a =>
        readImage(a.content) match {
          case Some(img) if math.max(img.getWidth, img.getHeight) > maxDim =>
            val scale = maxDim.toDouble / math.max(img.getWidth, img.getHeight)
            val (w, h) = (math.max(1, math.floor(img.getWidth * scale).toInt),
              math.max(1, math.floor(img.getHeight * scale).toInt))
            val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            try {
              g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(img, 0, 0, w, h, null)
            } finally g.dispose()
            val bos = new ByteArrayOutputStream()
            ImageIO.write(out, "png", bos)
            a.copy(content = bos.toByteArray)
          case _ => a
        }
      }
    }(Encoders.product[Asset])
  }

  /** One decode attempt returning the raster (shared by the metadata and
    * pixel paths). */
  private def readImage(bytes: Array[Byte]): Option[BufferedImage] =
    try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
    catch { case scala.util.control.NonFatal(_) => None }

  // ----------------------------------------------------- perceptual hashing

  /** Pattern-fixture geometry: dims are MULTIPLES OF 8 so every aHash grid
    * cell covers a uniform pixel block and the expected hash is pure integer
    * arithmetic on the id (see [[syntheticPatternPng]]). */
  def patternWidth(id: Long): Int = (8 * (2 + id % 6)).toInt
  def patternHeight(id: Long): Int = (8 * (2 + (id / 6) % 6)).toInt
  /** White band width in aHash grid columns (1..7). */
  def patternBandCols(id: Long): Int = (1 + id % 7).toInt
  /** Accent-cell position in the 8x8 grid, row-major 0..62 (bit 63 avoided
    * so the expected hash stays positive in engines without uint64). */
  def patternAccentPos(id: Long): Int = ((id * 11 + 2) % 63).toInt

  /** Encode a real PNG whose 8x8 block-mean aHash is an exact integer
    * function of the id: `bandCols` leftmost grid columns white, the rest
    * black, and ONE accent cell colour-inverted. Derivation (all-integer —
    * the oracle replays it): with bg in 1..7 white cells keep bit 1 and
    * black cells bit 0 even after the accent shifts the global mean
    * (64 > 8*bg + 1), and the accent cell's bit flips, so
    * ahash = bandPattern(bg) XOR (1 << accentPos) exactly. Images sharing
    * bg differ only in accent position => hamming 2 (0 if equal); bg
    * differing by d >= 1 => hamming >= 8d - 2 >= 6. A hamming <= 2 cut
    * therefore recovers exactly the same-band groups. */
  def syntheticPatternPng(id: Long): Array[Byte] = {
    val img = patternImage(patternWidth(id), patternHeight(id),
      patternBandCols(id), patternAccentPos(id))
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** The band+accent raster: `bg` leftmost grid columns white, the rest
    * black, the accent cell at row-major position `p` colour-inverted
    * (shared by the still-image and video-frame pattern fixtures). */
  private def patternImage(w: Int, h: Int, bg: Int, p: Int): BufferedImage = {
    val (r0, c0) = (p / 8, p % 8)
    val (cw, chh) = (w / 8, h / 8)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (gr, gc) = (y / chh, x / cw)
        val white = gc < bg
        val inv = gr == r0 && gc == c0
        img.setRGB(x, y, if (white != inv) 0xffffff else 0x000000)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Swap pattern PNGs into the image-typed rows — the perceptual-hash
    * fixture generator (audio/video rows keep their opaque blobs). */
  def withSyntheticPatternImages(assets: DataFrame): DataFrame = {
    val ds = spreadAssets(assets)
    ds.mapPartitions { it =>
      ImageIO.setUseCache(false)
      it.map { a =>
        if (a.media_type == "image") a.copy(content = syntheticPatternPng(a.asset_id)) else a
      }
    }(Encoders.product[Asset]).toDF()
  }

  final case class ImageHash(
      asset_id: Long, media_type: String, decoded: Boolean, ahash: Long)

  /** 64-bit average-hash (aHash) over REALLY decoded pixels: the raster
    * partitions into an 8x8 grid (cell r,c covers y with r <= y*8/h < r+1 —
    * exact integer boundaries, no resampling), each cell accumulates an
    * integer gray sum (r+g+b per pixel), and bit r*8+c is set iff the
    * cell's mean STRICTLY exceeds the whole-image mean — compared by
    * integer cross-multiplication (cellSum * totalPix > totalSum * cellPix),
    * so there is no float rounding anywhere and any SQL engine can predict
    * the hash of a synthetic raster. This is the image member of the dedup
    * ladder: near-identical images differ in few bits, and
    * [[Dedup.signatureHammingPairs]] buckets the hashes sub-quadratically.
    *
    * The cross-multiply stays in Long up to ~3 MP rasters (765 * pixels^2
    * < 2^63); production pipelines hash AFTER [[resizePixels]], which also
    * makes the hash resolution-invariant — the usual aHash recipe.
    * Undecodable content emits the flagged ahash=0 sentinel row. */
  def imageAHash(assets: DataFrame): Dataset[ImageHash] = {
    val ds = assets.select(col("asset_id"), col("media_type"), col("content"))
      .as(Encoders.product[Asset])
    ds.mapPartitions { it =>
      ImageIO.setUseCache(false)
      it.map { a =>
        readImage(a.content) match {
          case Some(img) =>
            ImageHash(a.asset_id, a.media_type, decoded = true, ahashOf(img))
          case None =>
            ImageHash(a.asset_id, a.media_type, decoded = false, 0L)
        }
      }
    }(Encoders.product[ImageHash])
  }

  /** The aHash raster pass (shared by still images and video frames). */
  private def ahashOf(img: BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val sums = new Array[Long](64)
    val pix = new Array[Long](64)
    var total = 0L
    var y = 0
    while (y < h) {
      val gr = y * 8 / h
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        val g = ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
        val cell = gr * 8 + x * 8 / w
        sums(cell) += g; pix(cell) += 1; total += g
        x += 1
      }
      y += 1
    }
    val totalPix = w.toLong * h
    var hash = 0L
    var cell = 0
    while (cell < 64) {
      if (pix(cell) > 0 && sums(cell) * totalPix > total * pix(cell))
        hash |= 1L << cell
      cell += 1
    }
    hash
  }

  // ------------------------------------------------------------- audio path

  /** Decoded-audio metadata + sample-exact statistics (peak and sum of
    * absolute amplitudes are INTEGER aggregates over the PCM samples, so
    * the synthetic fixtures verify the decode sample-for-sample).
    * Undecodable content emits the n_samples=0 sentinel. */
  final case class DecodedAudio(
      asset_id: Long, media_type: String, decoded: Boolean,
      sample_rate: Int, channels: Int, bits: Int, n_samples: Long,
      duration_ms: Long, peak_abs: Long, sum_abs: Long)

  val AudioSampleRate = 8000

  /** Deterministic synthetic PCM: sample k of asset `id` — integer
    * arithmetic any SQL engine can replicate. */
  def syntheticSample(id: Long, k: Long): Int =
    (((id * 31 + k * 7) % 2048) - 1024).toInt
  def syntheticSampleCount(id: Long): Int = (400 + (id % 5) * 100).toInt

  /** A real 16-bit mono PCM WAV (JDK `javax.sound.sampled` encoder) whose
    * every sample is an integer function of (id, k). */
  def syntheticWav(id: Long): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val n = syntheticSampleCount(id)
    val pcm = new Array[Byte](n * 2)
    var k = 0
    while (k < n) {
      val s = syntheticSample(id, k)
      pcm(2 * k) = (s & 0xff).toByte          // little-endian int16
      pcm(2 * k + 1) = ((s >> 8) & 0xff).toByte
      k += 1
    }
    val fmt = new AudioFormat(AudioSampleRate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Swap real WAV bytes into the audio-typed rows. */
  def withSyntheticAudio(assets: DataFrame): DataFrame = {
    val ds = spreadAssets(assets)
    ds.mapPartitions(_.map { a =>
      if (a.media_type == "audio") a.copy(content = syntheticWav(a.asset_id)) else a
    })(Encoders.product[Asset]).toDF()
  }

  /** REAL audio decode: `javax.sound.sampled` parses the container and
    * format (sample rate, channels, bit depth), then the PCM payload reads
    * sample-by-sample into integer amplitude statistics — peak |s| and
    * Σ|s|, both exact integers, so a synthetic fixture pins the decode to
    * the sample level. Unreadable content emits the flagged sentinel. */
  def decodeAudio(assets: DataFrame): Dataset[DecodedAudio] = {
    import javax.sound.sampled.AudioSystem
    val ds = assets.select(col("asset_id"), col("media_type"), col("content"))
      .as(Encoders.product[Asset])
    ds.mapPartitions(_.map { a =>
      try {
        val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(a.content))
        try {
          val fmt = ais.getFormat
          val bytes = ais.readAllBytes()
          val bits = fmt.getSampleSizeInBits
          val ch = fmt.getChannels
          val n = bytes.length / (bits / 8) / ch
          var (peak, sum) = (0L, 0L)
          if (bits == 16 && !fmt.isBigEndian) {
            var i = 0
            while (i + 1 < bytes.length) {
              val s = ((bytes(i + 1) << 8) | (bytes(i) & 0xff)).toShort.toLong
              val abs = math.abs(s)
              if (abs > peak) peak = abs
              sum += abs
              i += 2
            }
          }
          DecodedAudio(a.asset_id, a.media_type, decoded = true,
            fmt.getSampleRate.toInt, ch, bits, n.toLong,
            n.toLong * 1000L / fmt.getSampleRate.toInt, peak, sum)
        } finally ais.close()
      } catch {
        case scala.util.control.NonFatal(_) =>
          DecodedAudio(a.asset_id, a.media_type, decoded = false,
            0, 0, 0, 0L, 0L, -1L, -1L)
      }
    })(Encoders.product[DecodedAudio])
  }

  // ------------------------------------------- audio fingerprinting (dedup)

  /** Variant-track fixture for audio near-dup detection: every 12-id block
    * holds 4 audio ids (id % 3 == 1) that are VARIANTS of one base track —
    * same triangle-wave PCM, plus a +40 bump on the ~n/89 samples where
    * k % 89 == variant*17 (a "slightly re-encoded copy"). Variants share
    * window-energy structure, so their fingerprints sit at small hamming;
    * different bases differ in phase and length and sit far apart. */
  def variantBase(id: Long): Long = id / 12
  def variantNo(id: Long): Int = ((id / 3) % 4).toInt
  def variantSampleCount(id: Long): Int = (400 + (variantBase(id) % 5) * 100).toInt
  def variantSample(id: Long, k: Long): Int = {
    val base = (((variantBase(id) * 31 + k * 7) % 2048) - 1024).toInt
    if (k % 89 == variantNo(id).toLong * 17) base + 40 else base
  }

  /** Real 16-bit mono PCM WAV of the variant track. */
  def syntheticWavVariant(id: Long): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val n = variantSampleCount(id)
    val pcm = new Array[Byte](n * 2)
    var k = 0
    while (k < n) {
      val s = variantSample(id, k)
      pcm(2 * k) = (s & 0xff).toByte          // little-endian int16
      pcm(2 * k + 1) = ((s >> 8) & 0xff).toByte
      k += 1
    }
    val fmt = new AudioFormat(AudioSampleRate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Swap variant-track WAVs into the audio-typed rows. */
  def withSyntheticAudioVariants(assets: DataFrame): DataFrame = {
    val ds = spreadAssets(assets)
    ds.mapPartitions(_.map { a =>
      if (a.media_type == "audio") a.copy(content = syntheticWavVariant(a.asset_id)) else a
    })(Encoders.product[Asset]).toDF()
  }

  final case class AudioFingerprint(
      asset_id: Long, media_type: String, decoded: Boolean,
      n_samples: Long, fingerprint: Long)

  /** 63-bit audio fingerprint over REALLY decoded PCM: the sample stream
    * partitions into `windows` equal spans (span w covers k in
    * [w*n/W, (w+1)*n/W) — exact integer boundaries), each span accumulates
    * an integer energy Σ|s|, and bit w is set iff span w+1's energy
    * STRICTLY exceeds span w's — the classic energy-delta-sign fingerprint
    * (the Haitsma–Kalker shape, minus the FFT: deltas over band energies),
    * all-integer so any SQL engine can predict a synthetic track's
    * fingerprint exactly. Near-identical tracks (re-encodes, light edits)
    * flip few delta signs; [[Dedup.signatureHammingPairs]] buckets the
    * fingerprints sub-quadratically, exactly as with text SimHash and image
    * aHash — one banding kernel, three modalities. Unreadable or non-16-bit
    * content emits the flagged fingerprint=0 sentinel. */
  def audioFingerprint(assets: DataFrame, windows: Int = 64): Dataset[AudioFingerprint] = {
    require(windows >= 2 && windows <= 64, s"windows must be in [2, 64], got $windows")
    import javax.sound.sampled.AudioSystem
    val ds = assets.select(col("asset_id"), col("media_type"), col("content"))
      .as(Encoders.product[Asset])
    ds.mapPartitions(_.map { a =>
      try {
        val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(a.content))
        try {
          val fmt = ais.getFormat
          val bytes = ais.readAllBytes()
          if (fmt.getSampleSizeInBits != 16 || fmt.isBigEndian || fmt.getChannels != 1)
            AudioFingerprint(a.asset_id, a.media_type, decoded = false, 0L, 0L)
          else {
            val n = bytes.length / 2
            val energy = new Array[Long](windows)
            var w = 0
            while (w < windows) {
              // span w covers k in [floor(w*n/W), floor((w+1)*n/W)) — the
              // exact floor boundaries a SQL range() replays
              var k = (w.toLong * n / windows).toInt
              val end = ((w + 1).toLong * n / windows).toInt
              while (k < end) {
                val s = ((bytes(2 * k + 1) << 8) | (bytes(2 * k) & 0xff)).toShort.toLong
                energy(w) += math.abs(s)
                k += 1
              }
              w += 1
            }
            var fp = 0L
            w = 0
            while (w < windows - 1) {
              if (energy(w + 1) > energy(w)) fp |= 1L << w
              w += 1
            }
            AudioFingerprint(a.asset_id, a.media_type, decoded = true, n.toLong, fp)
          }
        } finally ais.close()
      } catch {
        case scala.util.control.NonFatal(_) =>
          AudioFingerprint(a.asset_id, a.media_type, decoded = false, 0L, 0L)
      }
    })(Encoders.product[AudioFingerprint])
  }

  // ------------------------------------------------------------- video path

  /** One decoded video frame (or the n_frames=0 sentinel for undecodable
    * content — flag, don't drop). */
  final case class DecodedFrame(
      asset_id: Long, media_type: String, frame_no: Long, n_frames: Int,
      width: Int, height: Int, codec: String, solid_rgb: Long)

  /** Per-frame fill colour of the synthetic videos — pure integer
    * arithmetic, like the still-image fixtures. */
  def syntheticFrameRgb(id: Long, f: Int): Long =
    ((id * 7 + f * 11 + 1) % 256) * 65536 +
      ((id * 13 + f * 17 + 3) % 256) * 256 + (id * 29 + f * 23 + 5) % 256
  def syntheticFrameCount(id: Long): Int = (2 + id % 4).toInt

  /** A real multi-frame animated GIF (the JDK's only multi-frame container;
    * a stand-in for video with genuine per-frame decode): 2-5 full frames,
    * id-derived dims, per-frame solid fill. Single-colour frames get their
    * own exact palette entry, so colours round-trip losslessly. */
  def syntheticGif(id: Long): Array[Byte] = {
    val (w, h) = (syntheticWidth(id), syntheticHeight(id))
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      val nf = syntheticFrameCount(id)
      while (f < nf) {
        val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        val rgb = syntheticFrameRgb(id, f).toInt
        var y = 0
        while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally { ios.close(); writer.dispose() }
    bos.toByteArray
  }

  /** Swap real animated-GIF bytes into the video-typed rows. */
  def withSyntheticVideos(assets: DataFrame): DataFrame = {
    val ds = spreadAssets(assets)
    ds.mapPartitions { it =>
      ImageIO.setUseCache(false)
      it.map { a =>
        if (a.media_type == "video") a.copy(content = syntheticGif(a.asset_id)) else a
      }
    }(Encoders.product[Asset]).toDF()
  }

  /** REAL frame extraction: every frame of a multi-frame container decodes
    * to its own row (the per-frame fan-out a video pipeline feeds to
    * downstream per-frame work — [[sampleFrames]] is the byte-slice
    * approximation of this, kept for opaque codecs). Undecodable content
    * emits one n_frames=0 sentinel row. */
  def decodeFrames(assets: DataFrame): Dataset[DecodedFrame] = {
    val ds = assets.select(col("asset_id"), col("media_type"), col("content"))
      .as(Encoders.product[Asset])
    ds.mapPartitions { it =>
      ImageIO.setUseCache(false)
      it.flatMap { a =>
        val frames =
          try {
            val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(a.content))
            try {
              val readers = ImageIO.getImageReaders(iis)
              if (!readers.hasNext) Seq.empty
              else {
                val reader = readers.next()
                try {
                  reader.setInput(iis, false, true)
                  val codec = reader.getFormatName.toLowerCase
                  val n = reader.getNumImages(true)
                  (0 until n).map { i =>
                    val img = reader.read(i)
                    val first = img.getRGB(0, 0) & 0xffffff
                    var solid = true
                    var y = 0
                    while (solid && y < img.getHeight) {
                      var x = 0
                      while (solid && x < img.getWidth) {
                        solid = (img.getRGB(x, y) & 0xffffff) == first; x += 1
                      }
                      y += 1
                    }
                    DecodedFrame(a.asset_id, a.media_type, i.toLong, n,
                      img.getWidth, img.getHeight, codec,
                      if (solid) first.toLong else -1L)
                  }
                } finally reader.dispose()
              }
            } finally if (iis != null) iis.close()
          } catch { case scala.util.control.NonFatal(_) => Seq.empty }
        if (frames.nonEmpty) frames
        else Seq(DecodedFrame(a.asset_id, a.media_type, -1L, 0, -1, -1, "none", -1L))
      }
    }(Encoders.product[DecodedFrame])
  }

  // --------------------------------------------- video sequence fingerprint

  /** Variant-video fixture, the moving-picture analogue of the audio
    * variant tracks: every 12-id block's 4 video ids (id % 3 == 2) are
    * VARIANTS of one base sequence — same frame count, same per-frame band
    * structure, but each variant's accent cell sits elsewhere, so frames
    * pair at hamming 2 within a group. Frame f of base b has band cols
    * 1 + (b*5 + f) % 7 and accent (b*7 + f*11 + v*13) % 63. */
  def videoVariantBase(id: Long): Long = id / 12
  def videoVariantNo(id: Long): Int = ((id / 3) % 4).toInt
  def videoVariantFrameCount(id: Long): Int = (2 + videoVariantBase(id) % 4).toInt

  /** A real animated GIF of band+accent pattern frames (two-colour frames
    * round-trip the palette losslessly, like the solid frames of
    * [[syntheticGif]]). */
  def syntheticPatternGif(id: Long): Array[Byte] = {
    val b = videoVariantBase(id)
    val v = videoVariantNo(id)
    val (w, h) = (patternWidth(b), patternHeight(b))
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      val nf = videoVariantFrameCount(id)
      while (f < nf) {
        val bg = (1 + (b * 5 + f) % 7).toInt
        val p = ((b * 7 + f * 11 + v * 13) % 63).toInt
        writer.writeToSequence(
          new javax.imageio.IIOImage(patternImage(w, h, bg, p), null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally { ios.close(); writer.dispose() }
    bos.toByteArray
  }

  /** Swap pattern-sequence GIFs into the video-typed rows. */
  def withSyntheticPatternVideos(assets: DataFrame): DataFrame = {
    val ds = spreadAssets(assets)
    ds.mapPartitions { it =>
      ImageIO.setUseCache(false)
      it.map { a =>
        if (a.media_type == "video") a.copy(content = syntheticPatternGif(a.asset_id)) else a
      }
    }(Encoders.product[Asset]).toDF()
  }

  final case class FrameHash(
      asset_id: Long, frame_no: Long, n_frames: Int, decoded: Boolean, ahash: Long)

  /** Per-frame perceptual hashes of a multi-frame container: every frame
    * decodes for real and runs the same aHash raster pass as still images —
    * the signature table [[Dedup.frameSequencePairs]] consumes. Undecodable
    * content emits one flagged sentinel row (frame, don't drop). */
  def videoFingerprint(assets: DataFrame): Dataset[FrameHash] = {
    val ds = assets.select(col("asset_id"), col("media_type"), col("content"))
      .as(Encoders.product[Asset])
    ds.mapPartitions { it =>
      ImageIO.setUseCache(false)
      it.flatMap { a =>
        val frames =
          try {
            val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(a.content))
            try {
              val readers = ImageIO.getImageReaders(iis)
              if (!readers.hasNext) Seq.empty
              else {
                val reader = readers.next()
                try {
                  reader.setInput(iis, false, true)
                  val n = reader.getNumImages(true)
                  (0 until n).map { i =>
                    FrameHash(a.asset_id, i.toLong, n, decoded = true,
                      ahashOf(reader.read(i)))
                  }
                } finally reader.dispose()
              }
            } finally if (iis != null) iis.close()
          } catch { case scala.util.control.NonFatal(_) => Seq.empty }
        if (frames.nonEmpty) frames
        else Seq(FrameHash(a.asset_id, -1L, 0, decoded = false, 0L))
      }
    }(Encoders.product[FrameHash])
  }
}
