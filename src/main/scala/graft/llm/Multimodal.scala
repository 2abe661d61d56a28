package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (north star): image/audio/video as
  * opaque `binary` payloads with typed metadata, and the
  * decode/feature/sample stages a training pipeline runs over them.
  *
  * [[decodeImage]] and [[decodeAudio]] are GENUINE decoders:
  * `javax.imageio` (PNG/BMP/GIF/JPEG) and `javax.sound.sampled`
  * (WAV/AIFF/AU) ship in the JDK with no native deps, so image and
  * audio payloads are actually parsed — dimensions, band counts, and
  * pixel/sample statistics come from the decoded raster/PCM stream.
  * Payloads no JDK reader accepts fall back to fabricated metadata
  * flagged `decoded = false`. Video: [[decodeVideoMeta]] parses the
  * CONTAINER genuinely (RIFF/AVI chunk walk, MP4 box walk — dims +
  * duration from real header bytes), and [[decodeVideoFrame]] decodes
  * MJPEG-in-AVI frame pixels genuinely (the movi chunks are JPEGs the
  * JDK can decode); only non-MJPEG codecs (H.264 etc., no JDK
  * decoder) still need an external decoder. The Spark-side shape
  * is shared by all:
  * binary columns flow through parquet scans/shuffles untouched,
  * per-row decode is a typed `mapPartitions` (one codec init per
  * partition, the pattern a real JNI/FFI decoder needs), and frame
  * sampling is pure column algebra over binary slices.
  */
object Multimodal {

  case class MediaRow(media_id: Long, modality: String, payload: Array[Byte])
  case class DecodedImage(media_id: Long, width: Int, height: Int,
      n_bytes: Int, mean_byte: Double)
  case class DecodedMedia(media_id: Long, decoded: Boolean, width: Int,
      height: Int, channels: Int, mean_px: Double)
  case class DecodedAudio(media_id: Long, decoded: Boolean,
      sample_rate: Int, channels: Int, n_frames: Long, mean_abs: Double)

  /** Wrap a text corpus as fake media payloads (modality round-robin)
    * — the testdata has no real image bytes; schema/partitioning are
    * what matters. */
  def asMedia(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col(idCol), lit(3)) + 1).cast("int")).as("modality"),
      col(textCol).cast("binary").as("payload"))

  /** STUB decode: deterministic fake image metadata from payload
    * bytes. A real deployment swaps the body for a codec call; the
    * mapPartitions shape (partition-level init, streamed rows) and the
    * output schema stay identical. */
  def decodeImageStub(media: DataFrame): Dataset[DecodedImage] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // partition-level "codec init" would go here
        rows.map { case (id, payload) =>
          val n = payload.length
          var sum = 0L
          var i = 0
          while (i < n) { sum += payload(i) & 0xff; i += 1 }
          DecodedImage(
            media_id = id,
            width = 64 + (if (n == 0) 0 else (payload(0) & 0xff) % 192),
            height = 64 + (if (n < 2) 0 else (payload(1) & 0xff) % 192),
            n_bytes = n,
            mean_byte = if (n == 0) 0.0 else sum.toDouble / n)
        }
      }
  }

  /** Deterministic REAL PNGs as media payloads: each row becomes a
    * constant-fill RGB image with dimensions and gray level derived
    * from the id (`width = 4 + id % 13`, `height = 4 + id % 11`,
    * `fill = id % 256`), encoded through `javax.imageio`'s PNG writer.
    * The closed-form metadata is what lets a SQL oracle grade a
    * genuine decode end-to-end ([[decodeImage]] must read BACK exactly
    * these values from the bytes). Encoding is mapPartitions with
    * per-partition codec init — the same shape a real
    * fetch-and-transcode ingest stage uses. */
  def syntheticPng(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false) // no temp-file spill
        ids.map { id =>
          val (w, h) = (4 + (id % 13).toInt, 4 + (id % 11).toInt)
          val g = (id % 256).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          val rgb = (g << 16) | (g << 8) | g
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { img.setRGB(x, y, rgb); x += 1 }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray)
        }
      }
      .toDF("media_id", "payload")
      .withColumn("modality", lit("image"))
  }

  /** Deterministic TEXTURED PNGs for the perceptual-dedup gate — the
    * [[syntheticPng]] pattern, but with per-pixel structure (constant
    * rasters dHash to all-zeros and every image would pair with every
    * other): ids sharing `id % groups` render the SAME pseudo-random
    * texture — per-pixel values from a splitmix-style 64-bit mix of
    * (group, x, y) mapped into [32, 221] (a LINEAR formula is not
    * enough: its box means vary smoothly, so every group's
    * neighbor-comparison pattern collapses to the same few hashes) —
    * shifted by a per-id brightness delta `(id / groups) % 5 − 2`
    * that never clips, so
    * within a group the PNGs are byte-DIFFERENT images whose
    * neighbor-comparison structure is EXACTLY preserved (the
    * re-encoded/brightness-edited duplicate case), while different
    * groups are independent 64-bit textures. */
  def syntheticTexturedPng(df: DataFrame, idCol: String,
      groups: Int = 50, width: Int = 32, height: Int = 24): DataFrame = {
    require(groups >= 1, s"groups must be >= 1 (got $groups)")
    require(width >= 9 && height >= 8,
      s"dims must fit the 9x8 dHash grid (got ${width}x$height)")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false)
        ids.map { id =>
          val g = id % groups
          val delta = ((id / groups) % 5 - 2).toInt
          val img = new java.awt.image.BufferedImage(
            width, height, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          var y = 0
          while (y < height) {
            var x = 0
            while (x < width) {
              var z = g * 0x9E3779B97F4A7C15L + x * 0xBF58476D1CE4E5B9L +
                y * 0x94D049BB133111EBL
              z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 29
              val v = (32L + java.lang.Long.remainderUnsigned(z, 190L))
                .toInt + delta
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray)
        }
      }
      .toDF("media_id", "payload")
      .withColumn("modality", lit("image"))
  }

  /** 64-bit perceptual difference hash (dHash) over the DECODED
    * raster — the fingerprint [[syntheticPng]]-style byte hashing
    * can't give: a re-encoded, brightness-shifted, or metadata-edited
    * duplicate image has brand-new bytes but near-identical pixel
    * STRUCTURE. Standard dHash: box-average the luma plane onto a 9×8
    * grid (integer sums, one truncating division per cell — exact and
    * engine-portable), then bit `j·8+i = cell(i+1,j) > cell(i,j)`.
    * Uniform brightness shifts cancel EXACTLY even under the
    * truncating mean (`(S + d·N) div N = S div N + d`), so the
    * classic brightness-edit duplicate lands at hamming 0; pair the
    * hashes with [[graft.llm.Dedup.hammingNearDup]]'s pigeonhole
    * bands. Undecodable or sub-9×8 payloads return `decoded = false`
    * (filter before pairing). Returns (media_id, dhash, decoded).
    *
    * Scale: mapPartitions with partition-level codec init (the
    * [[decodeImage]] posture); output is 17 bytes/row — the payload
    * never re-shuffles. */
  def dhash64(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, payload) =>
          val img =
            try javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(payload))
            catch { case _: java.io.IOException => null }
          if (img == null || img.getWidth < 9 || img.getHeight < 8)
            (id, 0L, false)
          else (id, dhashOfRaster(img), true)
        }
      }
      .toDF("media_id", "dhash", "decoded")
  }

  /** The dHash core shared by [[dhash64]] (whole images) and
    * [[dhashFrames]] (per-video-frame): integer box-mean of all band
    * samples onto the 9×8 grid, bit `j·8+i = cell(i+1,j) > cell(i,j)`.
    * Caller guarantees width ≥ 9 and height ≥ 8. */
  private def dhashOfRaster(img: java.awt.image.BufferedImage): Long = {
    val raster = img.getRaster
    val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
    val cells = Array.ofDim[Long](8, 9)
    var j = 0
    while (j < 8) {
      val y0 = j * h / 8
      val y1 = (j + 1) * h / 8
      var i = 0
      while (i < 9) {
        val x0 = i * w / 9
        val x1 = (i + 1) * w / 9
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            var b = 0
            while (b < bands) {
              sum += raster.getSample(x, y, b); b += 1
            }
            x += 1
          }
          y += 1
        }
        cells(j)(i) = sum / ((x1 - x0).toLong * (y1 - y0) * bands)
        i += 1
      }
      j += 1
    }
    var bits = 0L
    j = 0
    while (j < 8) {
      var i = 0
      while (i < 8) {
        if (cells(j)(i + 1) > cells(j)(i)) bits |= 1L << (j * 8 + i)
        i += 1
      }
      j += 1
    }
    bits
  }

  /** REAL image decode: parse each payload with `javax.imageio` and
    * report the decoded raster's width, height, band count, and exact
    * mean sample value (sum of every sample in every band / count —
    * integer sum, one IEEE division, engine-exact for a SQL oracle).
    * Undecodable payloads (no JDK reader claims them) degrade to the
    * [[decodeImageStub]] fabrication with `decoded = false` — the
    * documented no-codec fallback, now the exception instead of the
    * rule. */
  def decodeImage(media: DataFrame): Dataset[DecodedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // partition-level codec init
        rows.map { case (id, payload) =>
          val img =
            try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
            catch { case _: java.io.IOException => null }
          if (img != null) {
            val raster = img.getRaster
            val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
            var sum = 0L
            var b = 0
            while (b < bands) {
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) { sum += raster.getSample(x, y, b); x += 1 }
                y += 1
              }
              b += 1
            }
            DecodedMedia(id, decoded = true, w, h, bands,
              sum.toDouble / (w.toLong * h * bands))
          } else {
            val n = payload.length
            var s = 0L
            var i = 0
            while (i < n) { s += payload(i) & 0xff; i += 1 }
            DecodedMedia(id, decoded = false,
              width = 64 + (if (n == 0) 0 else (payload(0) & 0xff) % 192),
              height = 64 + (if (n < 2) 0 else (payload(1) & 0xff) % 192),
              channels = 0,
              mean_px = if (n == 0) 0.0 else s.toDouble / n)
          }
        }
      }
  }

  /** Deterministic REAL WAVs: 16-bit PCM mono at 8 kHz, frame count
    * and constant amplitude closed-form in the id (`n_frames = 64 +
    * id % 128`, `amplitude = (id % 100) * 100`), written through
    * `javax.sound.sampled`'s WAV encoder — the audio twin of
    * [[syntheticPng]], giving the decode gate a closed form. */
  def syntheticWav(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val nFrames = 64 + (id % 128).toInt
          val amp = ((id % 100) * 100).toInt
          val pcm = new Array[Byte](nFrames * 2) // 16-bit mono LE
          var i = 0
          while (i < nFrames) {
            pcm(2 * i) = (amp & 0xff).toByte
            pcm(2 * i + 1) = ((amp >> 8) & 0xff).toByte
            i += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
            true, false) // signed, little-endian
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          (id, bos.toByteArray)
        }
      }
      .toDF("media_id", "payload")
      .withColumn("modality", lit("audio"))
  }

  /** REAL audio decode via `javax.sound.sampled` (WAV/AIFF/AU in the
    * JDK): parse the container, report the format's sample rate /
    * channel count / frame length and the exact mean |sample| over
    * the 16-bit PCM stream. Payloads no JDK reader accepts return
    * `decoded = false` with zeroed metadata — same fallback posture
    * as [[decodeImage]]. */
  def decodeAudio(media: DataFrame): Dataset[DecodedAudio] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(payload))
            val fmt = ais.getFormat
            val frames = ais.getFrameLength
            val bytes = ais.readAllBytes()
            val le = !fmt.isBigEndian
            var sum = 0L
            var n = 0L
            var i = 0
            if (fmt.getSampleSizeInBits == 16) {
              while (i + 1 < bytes.length) {
                val s =
                  if (le) ((bytes(i + 1) << 8) | (bytes(i) & 0xff)).toShort
                  else ((bytes(i) << 8) | (bytes(i + 1) & 0xff)).toShort
                sum += math.abs(s.toLong); n += 1; i += 2
              }
            }
            DecodedAudio(id, decoded = true,
              fmt.getSampleRate.toInt, fmt.getChannels, frames,
              if (n == 0) 0.0 else sum.toDouble / n)
          } catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException |
                 _: java.io.IOException =>
              DecodedAudio(id, decoded = false, 0, 0, 0L, 0.0)
          }
        }
      }
  }

  /** Deterministic pseudo-random 16-bit mono WAVs for the audio
    * perceptual-dedup gate — the audio twin of
    * [[syntheticTexturedPng]] (constant-amplitude [[syntheticWav]]
    * clips fingerprint to all-zero bands and every clip would pair
    * with every other): ids sharing `id % groups` carry the SAME
    * base waveform — per-sample values from a splitmix-style 64-bit
    * mix of (group, i) mapped into [−1024, 1023] — transformed by a
    * per-id integer gain `1 + (id/groups) % 4` and DC offset
    * `((id/groups) % 3 − 1) · 40` that never clip 16-bit, so within
    * a group the WAVs are byte-DIFFERENT clips whose lag-energy
    * structure is EXACTLY preserved (gain scales every difference
    * energy by gain², offsets cancel in differences — the re-encoded
    * / gain-shifted / level-shifted duplicate cases), while
    * different groups are independent noise. 4096 samples at 8 kHz,
    * written through `javax.sound.sampled`'s WAV encoder. */
  def syntheticNoiseWav(df: DataFrame, idCol: String,
      groups: Int = 50, nSamples: Int = 4096): DataFrame = {
    require(groups >= 1, s"groups must be >= 1 (got $groups)")
    require(nSamples >= 2048,
      s"nSamples must be >= 2048 so every ahash64 band has terms " +
        s"(got $nSamples)")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val g = id % groups
          val gain = 1 + ((id / groups) % 4).toInt
          val offset = (((id / groups) % 3).toInt - 1) * 40
          val pcm = new Array[Byte](nSamples * 2) // 16-bit mono LE
          var i = 0
          while (i < nSamples) {
            var z = g * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L
            z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 29
            val base = java.lang.Long.remainderUnsigned(z, 2048L).toInt - 1024
            val s = gain * base + offset // |s| <= 4*1024+40, never clips
            pcm(2 * i) = (s & 0xff).toByte
            pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
            i += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
            true, false) // signed, little-endian
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          (id, bos.toByteArray)
        }
      }
      .toDF("media_id", "payload")
      .withColumn("modality", lit("audio"))
  }

  /** The 16-bit PCM samples of an audio payload, or null when it does
    * not decode or is not 16-bit — the reader [[ahash64]] and
    * [[audioQuality]] share. */
  private def pcm16(payload: Array[Byte]): Array[Int] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16) null
      else {
        val bytes = ais.readAllBytes()
        val le = !fmt.isBigEndian
        val out = new Array[Int](bytes.length / 2)
        var i = 0
        while (2 * i + 1 < bytes.length) {
          out(i) =
            if (le) ((bytes(2 * i + 1) << 8) |
              (bytes(2 * i) & 0xff)).toShort.toInt
            else ((bytes(2 * i) << 8) |
              (bytes(2 * i + 1) & 0xff)).toShort.toInt
          i += 1
        }
        out
      }
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException |
           _: java.io.IOException => null
    }

  /** 64-bit perceptual audio fingerprint over the DECODED PCM — the
    * audio member of the perceptual-dedup family ([[dhash64]] for
    * images): a re-encoded, gain-adjusted, or DC-shifted duplicate
    * clip has brand-new bytes (invisible to content hashing) but
    * near-identical ENERGY STRUCTURE. Decode via
    * `javax.sound.sampled` (the [[decodeAudio]] path, 16-bit PCM),
    * then over the interleaved sample stream:
    *  - 8 equal time slices t = 0..7 (integer index ranges);
    *  - per slice, 8 lag-difference energy bands k = 0..7 with lags
    *    L_k = 2^k ∈ {1..128}: `E[t][k] = Σ (s[i+L_k] − s[i])²` over
    *    the slice (a crude integer filterbank — lag L emphasizes
    *    frequency ≈ rate/2L; exact long sums, engine-portable);
    *  - bit `t·8+k = E[t][k] > E[t][(k+1) mod 8]` — within-slice
    *    band-shape comparisons, the dHash convention on the
    *    time × frequency-proxy grid.
    * Exact invariances (not approximations): an integer gain g
    * scales every E by g² (comparisons unchanged), a DC offset
    * cancels in every difference — so the classic gain/level-edit
    * duplicate lands at hamming 0. Pair the hashes with
    * [[graft.llm.Dedup.hammingNearDup]]'s pigeonhole bands.
    * Undecodable, non-16-bit, or shorter-than-2048-sample payloads
    * return `decoded = false` (filter before pairing; below 2048
    * samples the lag-128 band has almost no terms and the
    * fingerprint would be mostly ties).
    *
    * Scale: mapPartitions over the payload column, 17 bytes/row out
    * — the audio bytes never re-shuffle (the [[dhash64]] posture). */
  def ahash64(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val samples = pcm16(payload)
          if (samples == null || samples.length < 2048) (id, 0L, false)
          else {
            val n = samples.length
            val e = Array.ofDim[Long](8, 8)
            var t = 0
            while (t < 8) {
              // long math: t*n overflows Int past ~2^28 samples
              val i0 = (t.toLong * n / 8).toInt
              val i1 = ((t + 1).toLong * n / 8).toInt
              var k = 0
              while (k < 8) {
                val lag = 1 << k
                var sum = 0L
                var i = i0
                while (i + lag < i1) {
                  val d = (samples(i + lag) - samples(i)).toLong
                  sum += d * d // |d| < 2^17, slice < 2^29 terms: exact
                  i += 1
                }
                e(t)(k) = sum
                k += 1
              }
              t += 1
            }
            var bits = 0L
            t = 0
            while (t < 8) {
              var k = 0
              while (k < 8) {
                if (e(t)(k) > e(t)((k + 1) % 8)) bits |= 1L << (t * 8 + k)
                k += 1
              }
              t += 1
            }
            (id, bits, true)
          }
        }
      }
      .toDF("media_id", "ahash", "decoded")
  }

  /** Deterministic PULSE WAVs — a constant-amplitude active prefix
    * followed by digital silence — so the audio-quality audit
    * ([[audioQuality]]) has non-degenerate closed forms: 16-bit mono
    * at 8 kHz, `n = 256 + (id % 64)·16` samples, the first
    * `a = (id % 97) + 1` at amplitude `amp = 1000 + (id % 50)·500`
    * (1000..25500 — straddles any clip threshold in that range), the
    * rest exactly 0. peak = amp, silent count = n − a, and the
    * clipped count is `a` or 0 depending on the threshold — all
    * closed-form in the id. */
  def syntheticPulseWav(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val n = 256 + (id % 64).toInt * 16
          val a = (id % 97).toInt + 1
          val amp = 1000 + (id % 50).toInt * 500
          val pcm = new Array[Byte](n * 2) // 16-bit mono LE, zeros
          var i = 0
          while (i < a) {
            pcm(2 * i) = (amp & 0xff).toByte
            pcm(2 * i + 1) = ((amp >> 8) & 0xff).toByte
            i += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
            true, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          (id, bos.toByteArray)
        }
      }
      .toDF("media_id", "payload")
      .withColumn("modality", lit("audio"))
  }

  /** Audio QUALITY audit over the decoded PCM — the screen a
    * curation pipeline runs before a clip earns training budget
    * (the audio face of text_quality): per clip the exact sample
    * count, peak |sample|, silence ratio (samples below
    * `silenceThreshold`) and clipping ratio (samples at or above
    * `clipThreshold` — a distorted/hot signal rides the rail).
    * Ratios are truncating ppm of exact integer counts — engine-
    * portable; a SQL oracle with the generator's closed form grades
    * the decode end-to-end. Undecodable or non-16-bit payloads
    * return `decoded = false` with zeroed fields.
    *
    * Scale: one mapPartitions over the payload column, fixed-width
    * rows out — the [[decodeAudio]] posture. */
  def audioQuality(media: DataFrame, silenceThreshold: Int = 500,
      clipThreshold: Int = 20000): DataFrame = {
    require(silenceThreshold >= 0 && clipThreshold > silenceThreshold,
      s"need 0 <= silenceThreshold < clipThreshold " +
        s"(got $silenceThreshold, $clipThreshold)")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val samples = pcm16(payload)
          if (samples == null || samples.isEmpty)
            (id, false, 0L, 0L, 0L, 0L)
          else {
            val n = samples.length.toLong
            var peak = 0L
            var silent = 0L
            var clipped = 0L
            var i = 0
            while (i < samples.length) {
              val a = math.abs(samples(i).toLong)
              if (a > peak) peak = a
              if (a < silenceThreshold) silent += 1
              if (a >= clipThreshold) clipped += 1
              i += 1
            }
            (id, true, n, peak,
              silent * 1000000L / n, clipped * 1000000L / n)
          }
        }
      }
      .toDF("media_id", "decoded", "n_samples", "peak",
        "silence_ppm", "clip_ppm")
  }

  /** Deterministic REAL PNGs with SQL-restatable per-channel rasters —
    * the image twin of [[syntheticPulseWav]]: each id renders a
    * vertical gradient whose red value at row y is `base + y·step`
    * (base = 10 + id % 100, step = id % 5, so id % 5 == 0 gives a
    * FLAT raster), green = red + 20, blue = red + 40; width 16,
    * height 8 + id % 9. Every value stays in [10, 229] — no clipping
    * anywhere — and PNG is lossless, so a SQL oracle can re-derive
    * every per-band statistic from (id, y) alone. Channel offsets
    * differ ON PURPOSE: they make the per-band output genuinely
    * per-band (band 0 = R, 1 = G, 2 = B after the round-trip —
    * pinned in MultimodalSpec). */
  def syntheticGradientPng(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false)
        ids.map { id =>
          val w = 16
          val h = 8 + (id % 9).toInt
          val base = 10 + (id % 100).toInt
          val step = (id % 5).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          var y = 0
          while (y < h) {
            val r = base + y * step
            var x = 0
            while (x < w) {
              img.setRGB(x, y, (r << 16) | ((r + 20) << 8) | (r + 40))
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray)
        }
      }
      .toDF("media_id", "payload")
      .withColumn("modality", lit("image"))
  }

  /** Image QUALITY audit over the decoded raster — the screen a
    * curation pipeline runs before an image earns training budget
    * (the image face of [[audioQuality]], closing the last modality
    * without one): per image and per BAND the exact sample count,
    * integer min/max, truncating milli-mean (`Σ·1000 div n` — exact
    * and engine-portable), extreme-pixel ratios (samples below
    * `darkThreshold` / above `brightThreshold`, truncating ppm of
    * exact counts — a near-black thumbnail or blown-out scan is
    * training-budget waste), and a flat-band flag (min == max — a
    * solid-color placeholder carries no signal). One row per (image,
    * band); an undecodable payload degrades to a single
    * `(band = -1, decoded = false)` row so the junk is countable, not
    * silently dropped.
    *
    * Scale: one mapPartitions over the payload column with partition-
    * level codec init (the [[decodeImage]] posture); fixed-width rows
    * out — ≤ 4 per image — and the payload never re-shuffles. */
  def imageQuality(media: DataFrame, darkThreshold: Int = 32,
      brightThreshold: Int = 224): DataFrame = {
    require(darkThreshold >= 0 && brightThreshold > darkThreshold,
      s"need 0 <= darkThreshold < brightThreshold " +
        s"(got $darkThreshold, $brightThreshold)")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.flatMap { case (id, payload) =>
          val img =
            try javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(payload))
            catch { case _: java.io.IOException => null }
          if (img == null)
            Iterator.single((id, -1, false, 0L, 0, 0, 0L, 0L, 0L, false))
          else {
            val raster = img.getRaster
            val (w, h, bands) =
              (img.getWidth, img.getHeight, raster.getNumBands)
            val n = w.toLong * h
            (0 until bands).iterator.map { b =>
              var mn = Int.MaxValue
              var mx = Int.MinValue
              var sum = 0L
              var dark = 0L
              var bright = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val v = raster.getSample(x, y, b)
                  if (v < mn) mn = v
                  if (v > mx) mx = v
                  sum += v
                  if (v < darkThreshold) dark += 1
                  if (v > brightThreshold) bright += 1
                  x += 1
                }
                y += 1
              }
              (id, b, true, n, mn, mx, sum * 1000L / n,
                dark * 1000000L / n, bright * 1000000L / n, mn == mx)
            }
          }
        }
      }
      .toDF("media_id", "band", "decoded", "n_samples", "min_sample",
        "max_sample", "mean_milli", "dark_ppm", "bright_ppm", "flat")
  }

  case class DecodedVideo(media_id: Long, decoded: Boolean,
      container: String, width: Int, height: Int, duration_ms: Long)

  /** Deterministic REAL video CONTAINERS (no codec needed): even ids
    * become minimal RIFF/AVI files (LIST/hdrl/avih main header), odd
    * ids minimal MP4s (ftyp + moov/mvhd + trak/tkhd) — genuine
    * container bytes a header parser must walk, with closed-form
    * metadata so a SQL oracle can grade [[decodeVideoMeta]]:
    *  - AVI:  width = 160 + (id%8)*16, height = 120 + (id%6)*8,
    *    µs/frame = (20 + id%10)*1000, frames = 30 + id%90,
    *    duration_ms = (20 + id%10) * (30 + id%90)
    *  - MP4:  width = 320 + (id%16)*8, height = 240 + (id%9)*16,
    *    timescale 1000, duration_ms = (5 + id%55) * 1000
    * The video twin of [[syntheticPng]]/[[syntheticWav]]. */
  def syntheticVideo(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val payload =
            if (id % 2 == 0)
              aviBytes(width = 160 + (id % 8).toInt * 16,
                height = 120 + (id % 6).toInt * 8,
                microsPerFrame = (20 + (id % 10).toInt) * 1000,
                totalFrames = 30 + (id % 90).toInt)
            else
              mp4Bytes(width = 320 + (id % 16).toInt * 8,
                height = 240 + (id % 9).toInt * 16,
                timescale = 1000, duration = (5 + (id % 55)) * 1000)
          (id, payload)
        }
      }
      .toDF("media_id", "payload")
      .withColumn("modality", lit("video"))
  }

  /** Minimal RIFF/AVI: RIFF('AVI ' LIST('hdrl' avih(<56-byte main
    * header>))). Little-endian throughout, per the RIFF spec. */
  private[llm] def aviBytes(width: Int, height: Int, microsPerFrame: Int,
      totalFrames: Int): Array[Byte] = {
    val avih = java.nio.ByteBuffer.allocate(56)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    avih.putInt(microsPerFrame) // dwMicroSecPerFrame
    avih.putInt(0).putInt(0).putInt(0) // maxBytesPerSec, padding, flags
    avih.putInt(totalFrames) // dwTotalFrames
    avih.putInt(0).putInt(1).putInt(0) // initialFrames, streams, bufSize
    avih.putInt(width).putInt(height) // dwWidth, dwHeight
    avih.putInt(0).putInt(0).putInt(0).putInt(0) // dwReserved[4]
    val hdrlPayload = 4 + 8 + 56 // 'hdrl' + avih header + avih body
    val riffPayload = 4 + 8 + hdrlPayload // 'AVI ' + LIST header + LIST body
    val b = java.nio.ByteBuffer.allocate(8 + riffPayload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(riffPayload)
      .put("AVI ".getBytes("US-ASCII"))
    b.put("LIST".getBytes("US-ASCII")).putInt(hdrlPayload)
      .put("hdrl".getBytes("US-ASCII"))
    b.put("avih".getBytes("US-ASCII")).putInt(56).put(avih.array())
    b.array()
  }

  /** Minimal MP4: ftyp(isom) + moov(mvhd(v0) + trak(tkhd(v0))).
    * Big-endian box sizes/fields per ISO BMFF; tkhd width/height are
    * 16.16 fixed point. */
  private[llm] def mp4Bytes(width: Int, height: Int, timescale: Int,
      duration: Long): Array[Byte] = {
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + payload.length)
      b.putInt(8 + payload.length).put(typ.getBytes("US-ASCII")).put(payload)
      b.array()
    }
    val ftyp = box("ftyp", {
      val b = java.nio.ByteBuffer.allocate(8)
      b.put("isom".getBytes("US-ASCII")).putInt(0)
      b.array()
    })
    val mvhd = box("mvhd", {
      val b = java.nio.ByteBuffer.allocate(100)
      b.putInt(0) // version 0 + flags
      b.putInt(0).putInt(0) // creation, modification
      b.putInt(timescale).putInt(duration.toInt)
      b.putInt(0x00010000).putShort(0x0100.toShort) // rate 1.0, volume 1.0
      // 10 reserved + 36 matrix + 24 predefined zeros, next_track_id
      b.position(b.position() + 70)
      b.putInt(2)
      b.array()
    })
    val tkhd = box("tkhd", {
      val b = java.nio.ByteBuffer.allocate(84)
      b.putInt(7) // version 0, flags: enabled|in-movie|in-preview
      b.putInt(0).putInt(0) // creation, modification
      b.putInt(1).putInt(0) // track id, reserved
      b.putInt(duration.toInt)
      b.position(b.position() + 52) // reserved/layer/group/volume/matrix
      b.putInt(width << 16).putInt(height << 16) // 16.16 fixed
      b.array()
    })
    val moov = box("moov", mvhd ++ box("trak", tkhd))
    ftyp ++ moov
  }

  /** REAL video CONTAINER metadata: walk the RIFF/AVI chunk tree or
    * the MP4 box tree in pure JVM bytes — dimensions + duration come
    * from the avih main header / mvhd+tkhd boxes, no codec required
    * (the metadata pass a 100 TB curation pipeline runs BEFORE ever
    * shelling out to a decoder; frame-pixel decode itself stays
    * environment-stubbed, documented at [[decodeImageStub]]).
    * Unknown containers degrade to `decoded = false` with the stub's
    * fabricated dimensions — same fallback posture as the image/audio
    * decoders. */
  def decodeVideoMeta(media: DataFrame): Dataset[DecodedVideo] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, p) =>
          parseAvi(id, p).orElse(parseMp4(id, p)).getOrElse {
            val n = p.length
            DecodedVideo(id, decoded = false, container = "unknown",
              width = 64 + (if (n == 0) 0 else (p(0) & 0xff) % 192),
              height = 64 + (if (n < 2) 0 else (p(1) & 0xff) % 192),
              duration_ms = 0L)
          }
        }
      }
  }

  /** Walk RIFF → LIST('hdrl') → avih; LE fields. Tolerates unknown
    * sibling chunks (real AVIs carry strl/movi/idx1 lists). */
  private def parseAvi(id: Long, p: Array[Byte]): Option[DecodedVideo] = {
    def fourCC(off: Int) = new String(p, off, 4, "US-ASCII")
    def le32(off: Int): Int =
      (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8) |
        ((p(off + 2) & 0xff) << 16) | ((p(off + 3) & 0xff) << 24)
    if (p.length < 24 || fourCC(0) != "RIFF" || fourCC(8) != "AVI ")
      return None
    // walk top-level chunks; descend into LIST('hdrl') for avih
    def findAvih(off: Int, end: Int): Option[Int] = {
      var o = off
      while (o + 8 <= end) {
        val (cc, sz) = (fourCC(o), le32(o + 4))
        if (cc == "avih" && o + 8 + 56 <= p.length) return Some(o + 8)
        if (cc == "LIST" && o + 12 <= end && fourCC(o + 8) == "hdrl") {
          val inner = findAvih(o + 12, math.min(o + 8 + sz, end))
          if (inner.isDefined) return inner
        }
        o += 8 + sz + (sz & 1) // RIFF chunks are word-aligned
      }
      None
    }
    findAvih(12, p.length).map { a =>
      val (msPerFrame, frames) = (le32(a) / 1000L, le32(a + 16).toLong)
      DecodedVideo(id, decoded = true, container = "avi",
        width = le32(a + 32), height = le32(a + 36),
        duration_ms = msPerFrame * frames)
    }
  }

  /** Walk MP4 boxes → moov → mvhd (timescale/duration) + trak/tkhd
    * (16.16 width/height); BE fields, version-0 boxes. */
  private def parseMp4(id: Long, p: Array[Byte]): Option[DecodedVideo] = {
    def typ(off: Int) = new String(p, off + 4, 4, "US-ASCII")
    def be32(off: Int): Int =
      ((p(off) & 0xff) << 24) | ((p(off + 1) & 0xff) << 16) |
        ((p(off + 2) & 0xff) << 8) | (p(off + 3) & 0xff)
    def boxes(off: Int, end: Int): Iterator[(String, Int, Int)] =
      new Iterator[(String, Int, Int)] {
        private var o = off
        def hasNext: Boolean = o + 8 <= end && be32(o) >= 8
        def next(): (String, Int, Int) = {
          val (sz, t) = (be32(o), typ(o))
          val r = (t, o + 8, math.min(o + sz, end))
          o += sz
          r
        }
      }
    if (p.length < 12 || typ(0) != "ftyp") return None
    val moov = boxes(0, p.length).find(_._1 == "moov").getOrElse(return None)
    var timescale = 0L; var duration = 0L
    var w = 0; var h = 0
    boxes(moov._2, moov._3).foreach {
      case ("mvhd", s, _) =>
        timescale = be32(s + 12).toLong & 0xffffffffL
        duration = be32(s + 16).toLong & 0xffffffffL
      case ("trak", s, e) =>
        boxes(s, e).foreach {
          case ("tkhd", ts, _) =>
            w = be32(ts + 76) >>> 16 // 16.16 fixed point
            h = be32(ts + 80) >>> 16
          case _ => ()
        }
      case _ => ()
    }
    if (timescale == 0) None
    else Some(DecodedVideo(id, decoded = true, container = "mp4",
      width = w, height = h, duration_ms = duration * 1000L / timescale))
  }

  case class DecodedFrame(media_id: Long, decoded: Boolean, n_frames: Int,
      width: Int, height: Int, channels: Int, mean_px: Double)

  /** Deterministic REAL MJPEG-in-AVI videos: the frame-bearing twin of
    * [[syntheticVideo]]. Each id becomes a RIFF/AVI whose LIST('movi')
    * carries `1 + id % 4` genuine `00dc` JPEG chunks, encoded through
    * `javax.imageio`'s JPEG writer at compression quality 1.0 —
    * constant-fill GRAY images survive a quality-1.0 JPEG round-trip
    * exactly (unit quant tables; Y == gray for R=G=B, Cb=Cr=128), so
    * the decode gate keeps a closed form:
    *  - width = 16 + (id%8)*8, height = 16 + (id%6)*8
    *  - n_frames = 1 + id%4, frame k's fill = (id + 97*k) % 256
    * Frame 0's fill is `id % 256`; later frames differ, so a decoder
    * reading the wrong chunk cannot match the oracle. */
  def syntheticMjpegAvi(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
        val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("jpeg").next()
        val params = writer.getDefaultWriteParam
        params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        params.setCompressionQuality(1.0f)
        val it = ids.map { id =>
          val (w, h) = (16 + (id % 8).toInt * 8, 16 + (id % 6).toInt * 8)
          val frames = (0 until (1 + (id % 4)).toInt).map { k =>
            val g = ((id + 97L * k) % 256).toInt
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
            val rgb = (g << 16) | (g << 8) | g
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { img.setRGB(x, y, rgb); x += 1 }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
            writer.setOutput(ios)
            writer.write(null, new javax.imageio.IIOImage(img, null, null),
              params)
            ios.close()
            bos.toByteArray
          }
          (id, mjpegAviBytes(w, h, frames))
        }
        // the writer is partition-scoped; dispose when the iterator drains
        new Iterator[(Long, Array[Byte])] {
          def hasNext: Boolean = { val n = it.hasNext; if (!n) writer.dispose(); n }
          def next(): (Long, Array[Byte]) = it.next()
        }
      }
      .toDF("media_id", "payload")
      .withColumn("modality", lit("video"))
  }

  /** Deterministic TEXTURED MJPEG-in-AVI videos for the video
    * perceptual-dedup gate — the [[syntheticMjpegAvi]] pattern with
    * per-frame STRUCTURE (constant-fill frames dHash to all-zeros and
    * every video would pair with every other), kept EXACT through the
    * lossy codec by aligning the texture to the JPEG transform: each
    * 72×64 frame is constant within every 8×8 DCT block (9×8 blocks —
    * exactly the dHash grid), and a blockwise-constant gray raster
    * survives a quality-1.0 JPEG round-trip bit-for-bit (each block's
    * DCT has only the DC term; unit quant tables; Cb=Cr=128 constant
    * under any chroma subsampling — verified exact over 6.2M samples).
    * Ids sharing `id % groups` render the SAME block pattern — block
    * (bx,by) of frame f from a splitmix mix of (group·31+f, bx, by)
    * into [32, 221] — shifted by a per-id brightness delta
    * `(id/groups) % 5 − 2` that never clips, so within a group the
    * videos are byte-DIFFERENT files whose per-frame dHashes are
    * IDENTICAL (the re-encoded / brightness-edited duplicate video),
    * while different (group, frame) pairs are independent patterns.
    * `2 + group % 3` frames per video (equal within a group). */
  def syntheticBlockMjpegAvi(df: DataFrame, idCol: String,
      groups: Int = 50): DataFrame = {
    require(groups >= 1, s"groups must be >= 1 (got $groups)")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
        val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("jpeg").next()
        val params = writer.getDefaultWriteParam
        params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        params.setCompressionQuality(1.0f)
        val (w, h) = (72, 64) // 9x8 blocks of 8x8 = the dHash grid
        val it = ids.map { id =>
          val g = id % groups
          val delta = ((id / groups) % 5 - 2).toInt
          val frames = (0 until (2 + (g % 3)).toInt).map { f =>
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
            var by = 0
            while (by < 8) {
              var bx = 0
              while (bx < 9) {
                var z = (g * 31L + f) * 0x9E3779B97F4A7C15L +
                  bx * 0xBF58476D1CE4E5B9L + by * 0x94D049BB133111EBL
                z ^= z >>> 33; z *= 0xFF51AFD7ED558CCDL; z ^= z >>> 29
                val v = (32L + java.lang.Long.remainderUnsigned(z, 190L))
                  .toInt + delta
                val rgb = (v << 16) | (v << 8) | v
                var y = by * 8
                while (y < by * 8 + 8) {
                  var x = bx * 8
                  while (x < bx * 8 + 8) { img.setRGB(x, y, rgb); x += 1 }
                  y += 1
                }
                bx += 1
              }
              by += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
            writer.setOutput(ios)
            writer.write(null, new javax.imageio.IIOImage(img, null, null),
              params)
            ios.close()
            bos.toByteArray
          }
          (id, mjpegAviBytes(w, h, frames))
        }
        new Iterator[(Long, Array[Byte])] {
          def hasNext: Boolean = { val n = it.hasNext; if (!n) writer.dispose(); n }
          def next(): (Long, Array[Byte]) = it.next()
        }
      }
      .toDF("media_id", "payload")
      .withColumn("modality", lit("video"))
  }

  /** Deterministic MJPEG/AVI fixtures for the video-quality screen —
    * constant-value frames survive quality-1.0 JPEG bit-exactly, so
    * every statistic [[videoQuality]] derives has a closed form:
    * `n = 5 + id % 4` frames; frame 0 is constant 200; frames
    * `1 .. r` (r = 2 + id % 3 ≤ 4 < n) repeat constant 100 — a
    * PLANTED FROZEN RUN of exactly r frames; the tail
    * `r+1 .. n−1` are near-black constants `f % 12` (all distinct,
    * all under any sane black threshold). Frame identity in
    * [[videoQuality]] is (dhash, mean) — constant rasters all dHash
    * to 0, so the means alone separate every non-repeated frame here
    * (the spec plants a same-mean different-texture pair to pin the
    * dhash half). */
  def syntheticFreezeMjpegAvi(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
        val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("jpeg").next()
        val params = writer.getDefaultWriteParam
        params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        params.setCompressionQuality(1.0f)
        val (w, h) = (72, 64)
        def constFrame(v: Int): Array[Byte] = {
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
          val rgb = (v << 16) | (v << 8) | v
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { img.setRGB(x, y, rgb); x += 1 }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
          writer.setOutput(ios)
          writer.write(null, new javax.imageio.IIOImage(img, null, null),
            params)
          ios.close()
          bos.toByteArray
        }
        val it = ids.map { id =>
          val n = 5 + (id % 4).toInt
          val r = 2 + (id % 3).toInt
          val frames = (0 until n).map { f =>
            if (f == 0) constFrame(200)
            else if (f <= r) constFrame(100)
            else constFrame(f % 12)
          }
          (id, mjpegAviBytes(w, h, frames))
        }
        new Iterator[(Long, Array[Byte])] {
          def hasNext: Boolean = { val n = it.hasNext; if (!n) writer.dispose(); n }
          def next(): (Long, Array[Byte]) = it.next()
        }
      }
      .toDF("media_id", "payload")
      .withColumn("modality", lit("video"))
  }

  /** Video QUALITY audit — the freeze / black-screen screen a
    * curation pipeline runs before a clip earns training budget
    * (completing the quality trio: [[audioQuality]], [[imageQuality]],
    * and now video): walk the movi list, decode every frame through
    * the `decoders` chain, and per video report the exact frame
    * count, undecodable-frame count, the longest run of consecutive
    * IDENTICAL frames (identity = equal dHash AND equal truncating
    * integer pixel mean — the mean half separates flat frames of
    * different brightness that all dHash to 0, the dHash half
    * separates same-mean textures), a frozen flag (run ≥ `freezeRun`),
    * and the count/ppm of near-black frames (mean < `blackThreshold`).
    * An undecodable frame breaks any run and is never black; a
    * frameless or non-AVI payload degrades to one
    * `decoded = false` row so junk is countable, not dropped.
    *
    * Scale: one mapPartitions over the payload column (per-partition
    * codec init), frames decoded ONCE, one fixed-width row out per
    * video — the payload never re-shuffles. */
  def videoQuality(media: DataFrame, blackThreshold: Int = 16,
      freezeRun: Int = 3,
      decoders: Seq[FrameDecoder] = Seq(ImageIoFrameDecoder)): DataFrame = {
    require(blackThreshold >= 0,
      s"blackThreshold must be >= 0 (got $blackThreshold)")
    require(freezeRun >= 2, s"freezeRun must be >= 2 (got $freezeRun)")
    require(decoders.nonEmpty, "decoders must be non-empty")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, p) =>
          val frames = moviFrames(p)
          if (frames.isEmpty)
            (id, false, 0L, 0L, 0L, false, 0L, 0L)
          else {
            var nBad = 0L
            var nBlack = 0L
            var maxRun = 0L
            var run = 0L
            var prevKey: (Long, Long) = null
            frames.foreach { fb =>
              val img = decoders.iterator.flatMap(_.decode(fb))
                .nextOption().orNull
              if (img == null || img.getWidth < 9 || img.getHeight < 8) {
                nBad += 1
                run = 0L
                prevKey = null
              } else {
                val raster = img.getRaster
                val (w, h, bands) =
                  (img.getWidth, img.getHeight, raster.getNumBands)
                var sum = 0L
                var b = 0
                while (b < bands) {
                  var y = 0
                  while (y < h) {
                    var x = 0
                    while (x < w) { sum += raster.getSample(x, y, b); x += 1 }
                    y += 1
                  }
                  b += 1
                }
                val mean = sum / (w.toLong * h * bands)
                if (mean < blackThreshold) nBlack += 1
                val key = (dhashOfRaster(img), mean)
                run = if (key == prevKey) run + 1 else 1L
                prevKey = key
                if (run > maxRun) maxRun = run
              }
            }
            val n = frames.length.toLong
            (id, true, n, nBad, maxRun, maxRun >= freezeRun, nBlack,
              nBlack * 1000000L / n)
          }
        }
      }
      .toDF("media_id", "decoded", "n_frames", "n_undecoded",
        "max_frozen_run", "frozen", "n_black", "black_ppm")
  }

  /** Per-frame perceptual hashes — a video's SIGNATURE is the dHash
    * of each of its frames: walk the RIFF tree to LIST('movi')
    * ([[decodeVideoFrame]]'s container pass), decode EVERY frame
    * chunk through the `decoders` chain, and emit one
    * (media_id, frame_no, dhash, decoded) row per frame — the layout
    * [[graft.llm.Dedup.signatureNearDup]] pairs with any-frame banded
    * Hamming. Frames no decoder claims, or smaller than the 9×8 dHash
    * grid, emit `decoded = false` (filter before pairing); non-AVI or
    * frameless payloads emit ONE such row at frame_no = −1 so the id
    * stays visible to audits.
    *
    * Scale: one mapPartitions over the payload column (per-partition
    * codec init), k·17 bytes out per k-frame video — the video bytes
    * never re-shuffle, and pairing downstream touches only
    * fingerprints. */
  def dhashFrames(media: DataFrame,
      decoders: Seq[FrameDecoder] = Seq(ImageIoFrameDecoder)): DataFrame = {
    require(decoders.nonEmpty, "decoders must be non-empty")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
        rows.flatMap { case (id, p) =>
          val frames = moviFrames(p)
          if (frames.isEmpty) Iterator.single((id, -1L, 0L, false))
          else frames.iterator.zipWithIndex.map { case (fb, k) =>
            val img = decoders.iterator.flatMap(_.decode(fb))
              .nextOption().orNull
            if (img == null || img.getWidth < 9 || img.getHeight < 8)
              (id, k.toLong, 0L, false)
            else (id, k.toLong, dhashOfRaster(img), true)
          }
        }
      }
      .toDF("media_id", "frame_no", "dhash", "decoded")
  }

  /** RIFF/AVI with frames: RIFF('AVI ' LIST('hdrl' avih)
    * LIST('movi' 00dc...)) — the [[aviBytes]] header followed by a
    * movi list of JPEG chunks, word-aligned per the RIFF spec. */
  private[graft] def mjpegAviBytes(width: Int, height: Int,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    val avih = java.nio.ByteBuffer.allocate(56)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    avih.putInt(40 * 1000) // dwMicroSecPerFrame (25 fps)
    avih.putInt(0).putInt(0).putInt(0)
    avih.putInt(frames.length) // dwTotalFrames
    avih.putInt(0).putInt(1).putInt(0)
    avih.putInt(width).putInt(height)
    avih.putInt(0).putInt(0).putInt(0).putInt(0)
    val hdrlPayload = 4 + 8 + 56
    def padded(n: Int) = n + (n & 1)
    val moviPayload = 4 + frames.map(f => 8 + padded(f.length)).sum
    val riffPayload = 4 + (8 + hdrlPayload) + (8 + moviPayload)
    val b = java.nio.ByteBuffer.allocate(8 + riffPayload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(riffPayload)
      .put("AVI ".getBytes("US-ASCII"))
    b.put("LIST".getBytes("US-ASCII")).putInt(hdrlPayload)
      .put("hdrl".getBytes("US-ASCII"))
    b.put("avih".getBytes("US-ASCII")).putInt(56).put(avih.array())
    b.put("LIST".getBytes("US-ASCII")).putInt(moviPayload)
      .put("movi".getBytes("US-ASCII"))
    frames.foreach { f =>
      b.put("00dc".getBytes("US-ASCII")).putInt(f.length).put(f)
      if ((f.length & 1) == 1) b.put(0.toByte) // RIFF word alignment
    }
    b.array()
  }

  /** Pluggable per-frame bitstream decoder for [[decodeVideoFrame]].
    * The JDK ships exactly one video-frame codec (JPEG, the MJPEG
    * case); every other codec (H.264, VP9, AV1…) needs a native
    * library this engine deliberately does not bundle. This interface
    * is the honest seam: a deployment with an FFI decoder implements
    * it (serializable — instances ship to executors; do per-codec
    * native init lazily inside `decode`), registers it ahead of the
    * default, and the Spark-side plumbing — container walk, partition
    * shape, raster statistics — is unchanged and already tested.
    * `decode` returns None when the bytes are not this codec's
    * bitstream, letting the chain fall through in order. */
  trait FrameDecoder extends Serializable {
    /** Codec family label, for diagnostics. */
    def name: String
    def decode(frame: Array[Byte]): Option[java.awt.image.BufferedImage]
  }

  /** The built-in JDK decoder: `javax.imageio` JPEG (MJPEG frames). */
  object ImageIoFrameDecoder extends FrameDecoder {
    val name = "mjpeg-imageio"
    def decode(frame: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(frame)))
      catch { case _: java.io.IOException => None }
  }

  /** REAL video FRAME decode — retires the engine's last documented
    * stub: walk the RIFF tree to LIST('movi'), count the `..dc`/`..db`
    * frame chunks, and decode the FIRST one through the `decoders`
    * chain (first Some wins; default = the pure-JDK MJPEG decoder),
    * reporting the raster's dims/band count/exact mean like
    * [[decodeImage]]. Non-AVI or frameless payloads, and frames no
    * registered decoder claims, degrade to `decoded = false` with
    * zeroed fields — same fallback posture as the other decoders.
    * Real non-MJPEG codecs (H.264 etc.) plug in via [[FrameDecoder]];
    * their CONTAINER pass is [[decodeVideoMeta]]. */
  def decodeVideoFrame(media: DataFrame,
      decoders: Seq[FrameDecoder] = Seq(ImageIoFrameDecoder))
      : Dataset[DecodedFrame] = {
    require(decoders.nonEmpty, "decoders must be non-empty")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
        rows.map { case (id, p) =>
          val frames = moviFrames(p)
          val img =
            if (frames.isEmpty) null
            else decoders.iterator.flatMap(_.decode(frames.head))
              .nextOption().orNull
          if (img != null) {
            val raster = img.getRaster
            val (w, h, bands) = (img.getWidth, img.getHeight,
              raster.getNumBands)
            var sum = 0L
            var b = 0
            while (b < bands) {
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) { sum += raster.getSample(x, y, b); x += 1 }
                y += 1
              }
              b += 1
            }
            DecodedFrame(id, decoded = true, frames.length, w, h, bands,
              sum.toDouble / (w.toLong * h * bands))
          } else DecodedFrame(id, decoded = false, frames.length, 0, 0, 0, 0.0)
        }
      }
  }

  /** Frame chunk payloads from an AVI's LIST('movi'): chunks whose
    * fourCC ends `dc` (compressed) or `db` (uncompressed), in stream
    * order. Empty for non-AVI bytes or frameless AVIs. */
  private def moviFrames(p: Array[Byte]): Seq[Array[Byte]] = {
    def fourCC(off: Int) = new String(p, off, 4, "US-ASCII")
    def le32(off: Int): Int =
      (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8) |
        ((p(off + 2) & 0xff) << 16) | ((p(off + 3) & 0xff) << 24)
    if (p.length < 24 || fourCC(0) != "RIFF" || fourCC(8) != "AVI ")
      return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def walk(off: Int, end: Int, inMovi: Boolean): Unit = {
      var o = off
      while (o + 8 <= end) {
        val (cc, sz) = (fourCC(o), le32(o + 4))
        if (cc == "LIST" && o + 12 <= end)
          walk(o + 12, math.min(o + 8 + sz, end),
            inMovi || fourCC(o + 8) == "movi")
        else if (inMovi && sz >= 0 && o + 8 + sz <= end &&
            (cc.endsWith("dc") || cc.endsWith("db")))
          out += java.util.Arrays.copyOfRange(p, o + 8, o + 8 + sz)
        o += 8 + sz + (sz & 1)
      }
    }
    walk(12, p.length, inMovi = false)
    out.toSeq
  }

  /** Resize STUB: normalize every payload to exactly `targetBytes` —
    * truncate long payloads, zero-pad short ones. The real pipeline
    * swaps this for an image resize; what stays identical is the
    * contract a training loader needs (fixed-size binary column,
    * row-local, codegen'd — `substring`/`concat` on binary, no UDF). */
  def resizeStub(media: DataFrame, targetBytes: Int): DataFrame = {
    val pad = lit(Array.fill[Byte](targetBytes)(0))
    media.withColumn("resized",
        substring(concat(col("payload"), pad), 1, targetBytes))
      .withColumn("resized_bytes", octet_length(col("resized")))
  }

  /** Frame sampling: slice the payload into fixed-size "frames" and
    * keep every `stride`-th — pure column algebra (substring on
    * binary), no UDF, so it stays in codegen and pushes through
    * shuffles as bytes. */
  def frameSample(media: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    val nFrames = ceil(octet_length(col("payload")).cast("double") / frameBytes).cast("int")
    media.select(col("media_id"), col("modality"),
        posexplode(transform(
          sequence(lit(0), greatest(nFrames - 1, lit(0))),
          i => substring(col("payload"), (i * frameBytes) + 1, lit(frameBytes)))))
      .withColumnRenamed("pos", "frame_no")
      .withColumnRenamed("col", "frame")
      .filter(pmod(col("frame_no"), lit(stride)) === 0)
      .withColumn("frame_bytes", octet_length(col("frame")))
      .drop("frame")
  }
}
