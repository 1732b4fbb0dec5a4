package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for the training-data pipeline: media
  * (image/audio/video) as opaque `binary` columns with typed metadata,
  * plus per-partition batch transforms for decode / feature-extract /
  * frame-sample.
  *
  * The Spark-side machinery — schema, partitioning, batch iteration
  * shape (the Scala analog of arrow-batched pandas UDFs is
  * `mapPartitions` over a typed Dataset) — is real and tested. The
  * actual codec step is STUBBED (this environment ships no image/audio
  * libraries): [[StubCodec]] is a clearly-marked deterministic fake
  * with the exact signature a real decoder plugs into.
  */
object MultimodalOps {

  /** A media row: id, modality kind, opaque payload, typed metadata.
    * At 100 TB payloads live in parquet binary columns (or external
    * object-store pointers in `uri`); metadata stays columnar so
    * filters on kind/width/duration prune without touching bytes.
    */
  case class MediaRow(
      media_id: Long,
      kind: String, // "image" | "audio" | "video"
      uri: String,
      payload: Array[Byte],
      width: Int,
      height: Int,
      duration_ms: Long,
      sample_rate: Int)

  /** Extracted features per media item. */
  case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      checksum: Long,
      feature: Array[Float])

  /** One sampled frame reference per (media, frame_no). */
  case class FrameSample(media_id: Long, frame_no: Int, frame_ts_ms: Long)

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("uri", StringType, nullable = true),
    StructField("payload", BinaryType, nullable = true),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false)))

  /** Decode image bytes, treating corrupt-but-recognized payloads the
    * same as unrecognized ones: `ImageIO.read` returns null only for
    * formats it cannot identify, but throws `IIOException` on a
    * recognized-yet-truncated PNG/JPEG — at 100 TB some payloads WILL
    * be truncated, and one bad row must degrade (null → caller drops or
    * falls back to metadata), never fail the task.
    */
  private def safeImageRead(bytes: Array[Byte]): java.awt.image.BufferedImage =
    try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    catch { case _: java.io.IOException => null }

  /** The codec seam: a real implementation would call into an image/
    * audio library per batch (exactly this iterator shape — one
    * partition in, lazily one decoded stream out, nothing materialized
    * per-partition).
    */
  trait Codec extends Serializable {
    def decodeBatch(rows: Iterator[MediaRow]): Iterator[MediaFeatures]
  }

  /** STUB codec — deterministic fake standing in for the missing media
    * libraries: "features" are a hash-seeded 8-float vector, the
    * checksum a rolling byte hash. Replace with a real decoder by
    * implementing [[Codec]]; everything around it (schema, partition
    * shape, lazy iteration) is production plumbing.
    */
  object StubCodec extends Codec {
    override def decodeBatch(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
      rows.map { r =>
        val bytes = if (r.payload == null) Array.emptyByteArray else r.payload
        var h = 1125899906842597L // rolling polynomial hash of the payload
        var i = 0
        while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
        val feat = Array.tabulate(8)(j => ((h >>> (j * 8)) & 0xff).toFloat / 255f)
        MediaFeatures(r.media_id, r.kind, bytes.length.toLong, h, feat)
      }
  }

  /** REAL image codec on the same seam, zero external dependencies:
    * `javax.imageio` ships in the JDK and decodes PNG/BMP/GIF/JPEG.
    * Features come from actual pixels — mean R/G/B (exact integer sums
    * divided in float), normalized dimensions, aspect ratio — plus the
    * same payload checksum as the stub. Rows ImageIO cannot decode
    * (audio/video/corrupt payloads) degrade to metadata-only features
    * rather than failing the partition.
    */
  object ImageIoCodec extends Codec {
    override def decodeBatch(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
      rows.map { r =>
        val bytes = if (r.payload == null) Array.emptyByteArray else r.payload
        var h = 1125899906842597L
        var i = 0
        while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
        val img =
          if (r.kind == "image" && bytes.nonEmpty)
            safeImageRead(bytes)
          else null
        val feat =
          if (img == null) Array(0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
          else {
            val (w, ht) = (img.getWidth, img.getHeight)
            var (sr, sg, sb) = (0L, 0L, 0L)
            var y = 0
            while (y < ht) {
              var x = 0
              while (x < w) {
                val p = img.getRGB(x, y)
                sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
                x += 1
              }
              y += 1
            }
            val n = w.toLong * ht
            Array(
              sr.toFloat / n / 255f, sg.toFloat / n / 255f, sb.toFloat / n / 255f,
              w / 4096f, ht / 4096f, w.toFloat / ht,
              (sr + sg + sb).toFloat / (3L * n) / 255f, 1f)
          }
        MediaFeatures(r.media_id, r.kind, bytes.length.toLong, h, feat)
      }
  }

  /** Decode/feature-extract: per-partition batched transform, no
    * shuffle — each executor streams its partition through the codec.
    */
  def extractFeatures(
      media: Dataset[MediaRow],
      codec: Codec = StubCodec
  ): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(codec.decodeBatch(_))
  }

  /** Frame sampling for video/audio rows: one row per sampled frame at
    * `everyMs` spacing — pure column ops (`sequence` + `explode`), no
    * codec needed until frames are actually decoded.
    */
  def sampleFrames(media: DataFrame, everyMs: Long): DataFrame =
    media
      .filter(col("kind").isin("video", "audio") && col("duration_ms") > 0)
      .select(
        col("media_id"),
        posexplode(sequence(lit(0L), col("duration_ms") - 1, lit(everyMs))))
      .withColumnRenamed("pos", "frame_no")
      .withColumnRenamed("col", "frame_ts_ms")

  /** Resize transform for image rows: per-partition batched reshape —
    * the same mapPartitions shape as [[extractFeatures]], with the
    * pixel work behind the codec seam. The STUB "resampler" carries
    * payload bytes through and rewrites the typed metadata (the real
    * dimensions contract); a real implementation decodes, resamples,
    * and re-encodes inside the same iterator without materializing the
    * partition. Non-image rows pass through untouched.
    */
  def resizeImages(
      media: Dataset[MediaRow],
      targetW: Int,
      targetH: Int
  ): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      if (r.kind == "image") r.copy(width = targetW, height = targetH)
      else r
    })
  }

  /** Per-image pixel statistics from a REAL decode ([[ImageIoCodec]]'s
    * pixel walk, integer-exact outputs so a SQL oracle can replay it):
    * decoded dimensions, channel sums over all pixels, and channel-R
    * sum over a nearest-neighbor downsample to (rw × rh) — the resample
    * arithmetic (`src = dst * srcDim / dstDim`, integer division) is
    * the deterministic contract a production thumbnailer would
    * implement in SIMD. One mapPartitions, no shuffle; rows that fail
    * to decode are dropped (count the difference to alert on corrupt
    * payloads).
    */
  def decodeImageStats(media: Dataset[MediaRow], rw: Int, rh: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      val img =
        if (r.kind == "image" && r.payload != null && r.payload.nonEmpty)
          safeImageRead(r.payload)
        else null
      if (img == null) Iterator.empty
      else {
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
        var srr = 0L
        var ry = 0
        while (ry < rh) {
          var rx = 0
          while (rx < rw) {
            val p = img.getRGB(rx * w / rw, ry * h / rh)
            srr += (p >> 16) & 0xff
            rx += 1
          }
          ry += 1
        }
        Iterator((r.media_id, w, h, w.toLong * h, sr, sg, sb, srr))
      }
    }).toDF("media_id", "img_w", "img_h", "n_px", "sum_r", "sum_g", "sum_b", "sum_r_resized")
  }

  /** Real image resize behind the same seam: decode, nearest-neighbor
    * resample (same integer mapping as [[decodeImageStats]]), re-encode
    * PNG, rewrite the typed metadata. Deterministic — no Graphics2D
    * interpolation, whose rounding is implementation-defined. Non-image
    * and undecodable rows pass through untouched.
    */
  def resizeImagesReal(
      media: Dataset[MediaRow],
      targetW: Int,
      targetH: Int
  ): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val img =
        if (r.kind == "image" && r.payload != null && r.payload.nonEmpty)
          safeImageRead(r.payload)
        else null
      if (img == null) r
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val out = new java.awt.image.BufferedImage(
          targetW, targetH, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < targetH) {
          var x = 0
          while (x < targetW) {
            out.setRGB(x, y, img.getRGB(x * w / targetW, y * h / targetH))
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        r.copy(payload = bos.toByteArray, width = targetW, height = targetH)
      }
    })
  }

  /** Synthesize real WAV payloads (RIFF/PCM 16-bit mono): sample i of
    * clip id is `((id * 31 + i * 7) % 65536) - 32768` — pure arithmetic
    * a SQL oracle can replay — wrapped in a hand-built 44-byte RIFF
    * header. PCM is uncompressed, so decode returns the samples
    * verbatim.
    */
  val WavRate = 8000
  def synthSample(id: Long, i: Int): Int =
    (((id * 31 + i.toLong * 7) % 65536).toInt) - 32768

  def syntheticWavs(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n.toLong).as[Long].map { id =>
      val nSamples = 64 + (id % 64).toInt
      val bb = java.nio.ByteBuffer.allocate(44 + nSamples * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + nSamples * 2)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1) // PCM, mono
        .putInt(WavRate).putInt(WavRate * 2).putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(nSamples * 2)
      var i = 0
      while (i < nSamples) { bb.putShort(synthSample(id, i).toShort); i += 1 }
      MediaRow(id, "audio", s"mem://wav/$id", bb.array(),
        width = 0, height = 0,
        duration_ms = nSamples.toLong * 1000 / WavRate, sample_rate = WavRate)
    }
  }

  /** Per-clip sample statistics from a REAL audio decode
    * (`javax.sound.sampled` — JDK-only, pure parsing, no audio device):
    * decoded format fields plus integer-exact sample aggregates (sum,
    * min, max, sum of absolute values) so a SQL oracle can replay them.
    * Same mapPartitions shape as [[decodeImageStats]]; undecodable rows
    * are dropped.
    */
  def decodeAudioStats(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        val fmt = in.getFormat
        if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) Iterator.empty
        else {
          val bytes = in.readAllBytes()
          val n = bytes.length / 2
          var (sum, sumAbs) = (0L, 0L)
          var (mn, mx) = (Int.MaxValue, Int.MinValue)
          var i = 0
          while (i < n) {
            val lo = bytes(2 * i) & 0xff
            val hi = bytes(2 * i + 1).toInt
            val s = (hi << 8) | lo
            sum += s; sumAbs += math.abs(s)
            if (s < mn) mn = s
            if (s > mx) mx = s
            i += 1
          }
          Iterator((r.media_id, fmt.getSampleRate.toInt, n.toLong, sum, sumAbs, mn, mx))
        }
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException | _: java.io.IOException =>
          Iterator.empty
      }
    }).toDF("media_id", "sample_rate", "n_samples", "sum_s", "sum_abs", "min_s", "max_s")
  }

  /** Audio analog of [[dHash64]]: bucket the decoded samples into 65
    * equal windows (integer boundaries — window of sample i is
    * i*65/n), per-window absolute-amplitude energy, bit w set iff the
    * energy gradient rises into window w+1. Robust to re-encoding and
    * level scaling direction; integer-exact, so a SQL oracle replays
    * it.
    */
  def audioGradientHash64(samples: Array[Int]): Long = {
    val e = new Array[Long](65)
    val n = samples.length
    var i = 0
    while (i < n) { e(i * 65 / n) += math.abs(samples(i)); i += 1 }
    var h = 0L
    var w = 0
    while (w < 64) { if (e(w + 1) > e(w)) h |= 1L << w; w += 1 }
    h
  }

  /** (media_id, ahash) over real `javax.sound.sampled` decodes of
    * 16-bit mono PCM; other rows drop. Near-dup pairing: feed the
    * renamed hash column through [[imageNearDupPairs]] — the banding
    * is hash-agnostic.
    */
  def audioFingerprints(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        val fmt = in.getFormat
        if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) Iterator.empty
        else {
          val bytes = in.readAllBytes()
          val n = bytes.length / 2
          val samples = new Array[Int](n)
          var i = 0
          while (i < n) {
            samples(i) = (bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xff)
            i += 1
          }
          Iterator((r.media_id, audioGradientHash64(samples)))
        }
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException | _: java.io.IOException =>
          Iterator.empty
      }
    }).toDF("media_id", "ahash")
  }

  /** Synthesize "video" payloads: a minimal length-prefixed frame
    * container (magic "GFV1", frame count, then 4-byte-length + PNG
    * bytes per frame) whose frames are real PNGs with arithmetic
    * pixels — frame f of clip id has
    * r=(id·3+f·7+x·5)%256, g=(id·5+f·11+y·3)%256, b=(id+f+x·y)%256 on a
    * 16×12 grid. A real mp4 demuxer needs external libraries this
    * environment doesn't ship; the CONTAINER is therefore a documented
    * stand-in, but the per-frame decode below is the genuine JDK PNG
    * codec, and the demux → decode → per-frame-features dataflow is
    * exactly the production shape.
    */
  val VideoW = 16
  val VideoH = 12
  def videoPixel(id: Long, f: Int, x: Int, y: Int): (Int, Int, Int) =
    (((id * 3 + f * 7 + x * 5) % 256).toInt,
      ((id * 5 + f * 11 + y * 3) % 256).toInt,
      ((id + f + x * y) % 256).toInt)

  def syntheticVideos(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n.toLong).as[Long].map { id =>
      val nFrames = 2 + (id % 4).toInt
      val frames = (0 until nFrames).map { f =>
        val img = new java.awt.image.BufferedImage(
          VideoW, VideoH, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < VideoH) {
          var x = 0
          while (x < VideoW) {
            val (r, g, b) = videoPixel(id, f, x, y)
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      val bb = java.nio.ByteBuffer.allocate(8 + frames.map(_.length + 4).sum)
      bb.put("GFV1".getBytes("US-ASCII")).putInt(nFrames)
      frames.foreach { fb => bb.putInt(fb.length); bb.put(fb) }
      MediaRow(id, "video", s"mem://vid/$id", bb.array(),
        width = VideoW, height = VideoH,
        duration_ms = nFrames * 40L, sample_rate = 0)
    }
  }

  /** Demux + per-frame REAL decode: parse the frame container, decode
    * every frame through `javax.imageio`, emit one row of integer-exact
    * channel sums per frame. flatMap inside one mapPartitions — frames
    * of one clip never cross executors, and the container is streamed,
    * not re-shuffled. Undecodable clips/frames are dropped.
    */
  def decodeVideoFrameStats(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      val p = r.payload
      if (r.kind != "video" || p == null || p.length < 8 ||
        new String(p, 0, 4, "US-ASCII") != "GFV1") Iterator.empty
      else {
        val bb = java.nio.ByteBuffer.wrap(p)
        bb.position(4)
        val nFrames = bb.getInt
        (0 until nFrames).iterator.flatMap { f =>
          if (bb.remaining() < 4) Iterator.empty
          else {
            val len = bb.getInt
            if (bb.remaining() < len) Iterator.empty
            else {
              val fb = new Array[Byte](len)
              bb.get(fb)
              val img = safeImageRead(fb)
              if (img == null) Iterator.empty
              else {
                var (sr, sg, sb) = (0L, 0L, 0L)
                var y = 0
                while (y < img.getHeight) {
                  var x = 0
                  while (x < img.getWidth) {
                    val px = img.getRGB(x, y)
                    sr += (px >> 16) & 0xff; sg += (px >> 8) & 0xff; sb += px & 0xff
                    x += 1
                  }
                  y += 1
                }
                Iterator((r.media_id, f, sr, sg, sb))
              }
            }
          }
        }
      }
    }).toDF("media_id", "frame_no", "sum_r", "sum_g", "sum_b")
  }

  /** Metadata-only projection: the common pruned read path — never
    * touches payload bytes (column pruning keeps the binary column out
    * of the scan entirely).
    */
  /** Per-frame perceptual hashes: demux the container (same streaming
    * shape as [[decodeVideoFrameStats]] — frames of one clip never
    * cross executors), REAL PNG decode per frame, [[dHash64]] each.
    * (media_id, frame_no, dhash) — shot-boundary detection is a lag
    * over frame_no; clip near-dup is the banding join over frame
    * hashes.
    */
  def videoFrameDHashes(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      val p = r.payload
      if (r.kind != "video" || p == null || p.length < 8 ||
        new String(p, 0, 4, "US-ASCII") != "GFV1") Iterator.empty
      else {
        val bb = java.nio.ByteBuffer.wrap(p)
        bb.position(4)
        val nFrames = bb.getInt
        (0 until nFrames).iterator.flatMap { f =>
          if (bb.remaining() < 4) Iterator.empty
          else {
            val len = bb.getInt
            if (bb.remaining() < len) Iterator.empty
            else {
              val fb = new Array[Byte](len)
              bb.get(fb)
              val img = safeImageRead(fb)
              if (img == null) Iterator.empty
              else Iterator((r.media_id, f, dHash64(img)))
            }
          }
        }
      }
    }).toDF("media_id", "frame_no", "dhash")
  }

  /** Scene-change detection on the real decode path: demux frames,
    * dHash each, and emit the frames whose fingerprint moved at least
    * `minHamming` bits from the previous frame (a cut / hard
    * transition). Consecutive-frame pairing happens INSIDE the demux
    * iterator — frames of one video never leave their input row's
    * partition, so the operator is a zero-shuffle projection (the
    * window-lag formulation would exchange every frame hash by
    * media_id for an ordering the demux already has).
    */
  def sceneChanges(media: Dataset[MediaRow], minHamming: Int): DataFrame = {
    import media.sparkSession.implicits._
    require(minHamming >= 1, s"minHamming=$minHamming must be at least 1")
    media.mapPartitions(_.flatMap { r =>
      val p = r.payload
      if (r.kind != "video" || p == null || p.length < 8 ||
        new String(p, 0, 4, "US-ASCII") != "GFV1") Iterator.empty
      else {
        val bb = java.nio.ByteBuffer.wrap(p)
        bb.position(4)
        val nFrames = bb.getInt
        var prev = 0L
        var havePrev = false
        (0 until nFrames).iterator.flatMap { f =>
          if (bb.remaining() < 4) Iterator.empty
          else {
            val len = bb.getInt
            if (bb.remaining() < len) Iterator.empty
            else {
              val fb = new Array[Byte](len)
              bb.get(fb)
              val img = safeImageRead(fb)
              if (img == null) Iterator.empty
              else {
                val h = dHash64(img)
                val ham =
                  if (havePrev) java.lang.Long.bitCount(prev ^ h) else -1
                prev = h
                havePrev = true
                if (ham >= minHamming) Iterator((r.media_id, f, ham.toLong))
                else Iterator.empty
              }
            }
          }
        }
      }
    }).toDF("media_id", "frame_no", "hamming")
  }

  def mediaStats(media: DataFrame): DataFrame =
    media.groupBy(col("kind")).agg(
      count(lit(1)).as("n_items"),
      sum(col("duration_ms")).as("total_duration_ms"),
      avg(col("width") * col("height")).as("avg_pixels"))

  /** Synthesize real PNG images (test/demo input for the REAL decode
    * path): every payload is a valid 32×24 PNG whose pixel (x, y) is
    * pure arithmetic over (id, x, y) — chosen to wrap mod 256 so the
    * oracle exercises real byte behavior. PNG is lossless and
    * `TYPE_INT_RGB` carries sRGB ints verbatim, so decode returns
    * exactly these values; a SQL oracle reproduces channel sums from
    * `generate_series` with no image library.
    */
  val SynthW = 32
  val SynthH = 24
  /** Perceptual difference hash (dHash): sample the decoded image on a
    * 9×8 nearest-neighbor grid (same integer mapping as
    * [[decodeImageStats]]'s resample — deterministic, no interpolation),
    * gray = r+g+b (monotone in luminance, division-free), bit (x,y) set
    * iff the gray gradient is positive leftward-to-rightward. Robust to
    * re-encoding, scaling, and brightness shifts — the standard cheap
    * image near-dup fingerprint.
    */
  def dHash64(img: java.awt.image.BufferedImage): Long = {
    val gw = 9; val gh = 8
    val g = Array.ofDim[Int](gh, gw)
    var gy = 0
    while (gy < gh) {
      var gx = 0
      while (gx < gw) {
        val p = img.getRGB(gx * img.getWidth / gw, gy * img.getHeight / gh)
        g(gy)(gx) = ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
        gx += 1
      }
      gy += 1
    }
    var h = 0L
    var y = 0
    while (y < gh) {
      var x = 0
      while (x < 8) {
        if (g(y)(x + 1) > g(y)(x)) h |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    h
  }

  /** (media_id, dhash) over real decodes; undecodable rows drop. */
  def imageDHashes(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      val img =
        if (r.kind == "image" && r.payload != null && r.payload.nonEmpty)
          safeImageRead(r.payload)
        else null
      if (img == null) Iterator.empty else Iterator((r.media_id, dHash64(img)))
    }).toDF("media_id", "dhash")
  }

  /** Image near-dup candidate pairs over dHashes: the same 4×16-bit
    * disjoint banding as the text SimHash path (pigeonhole: hamming <=
    * 3 guarantees one clean band), hot buckets capped, verified by
    * exact hamming distance. Input: (media_id, dhash).
    */
  def imageNearDupPairs(
      hashes: DataFrame,
      maxHamming: Int,
      bucketCap: Long = 10000L
  ): DataFrame =
    graft.functions.TextOps.bandedHammingPairs(
      hashes, "media_id", "dhash", maxHamming, bucketCap)

  /** Clip-level video near-dup: two clips are candidates when they
    * share at least `minShared` distinct frame fingerprints (re-posted
    * / re-encoded video detection by frame containment). The self-join
    * keys on the 8-byte frame hash — payloads never shuffle — and
    * [[graft.functions.TextOps.capBuckets]] drops degenerate
    * fingerprints (flat frames hash alike across unrelated clips)
    * before they go quadratic. Containment = shared / min(|A|, |B|).
    */
  def videoNearDupPairs(
      frameHashes: DataFrame,
      minShared: Long,
      bucketCap: Long = 10000L
  ): DataFrame = {
    val uniq = frameHashes.select(col("media_id"), col("dhash")).distinct()
    val sizes = uniq.groupBy(col("media_id")).agg(count(lit(1)).as("__n"))
    val guarded = graft.functions.TextOps.capBuckets(uniq, Seq("dhash"), bucketCap)
    guarded.select(col("media_id").as("media_a"), col("dhash"))
      .join(guarded.select(col("media_id").as("media_b"), col("dhash")), Seq("dhash"))
      .filter(col("media_a") < col("media_b"))
      .groupBy(col("media_a"), col("media_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.withColumnRenamed("media_id", "media_a")
        .withColumnRenamed("__n", "__na"), Seq("media_a"))
      .join(sizes.withColumnRenamed("media_id", "media_b")
        .withColumnRenamed("__n", "__nb"), Seq("media_b"))
      .withColumn("containment",
        col("n_shared").cast("double") / least(col("__na"), col("__nb")).cast("double"))
      .select(col("media_a"), col("media_b"), col("n_shared"), col("containment"))
  }

  /** Audio near-dup candidate pairs over the energy-gradient hashes —
    * the same shared banded-hamming join; only the fingerprint column
    * differs. */
  def audioNearDupPairs(
      hashes: DataFrame,
      maxHamming: Int,
      bucketCap: Long = 10000L
  ): DataFrame =
    graft.functions.TextOps.bandedHammingPairs(
      hashes, "media_id", "ahash", maxHamming, bucketCap)

  /** Cap observability companions ([[graft.operators.CapReport.of]]):
    * what `bucketCap` does to the band buckets (image/audio) or
    * frame-hash buckets (video) on THIS input — gate on
    * `n_capped_buckets == 0` before reading an empty pair set as
    * "no near-duplicate media".
    */
  def imageNearDupCapReport(hashes: DataFrame, bucketCap: Long = 10000L): DataFrame =
    graft.functions.TextOps.fp64CapReport(hashes, "media_id", "dhash", bucketCap)

  def videoNearDupCapReport(frameHashes: DataFrame, bucketCap: Long = 10000L): DataFrame =
    graft.operators.CapReport.of(
      frameHashes.select(col("media_id"), col("dhash")).distinct(),
      Seq("dhash"), "media_id", bucketCap)

  def synthPixel(id: Long, x: Int, y: Int): (Int, Int, Int) =
    (((id * 3 + x * 5) % 256).toInt, ((id * 7 + y * 11) % 256).toInt,
      ((id + x * y) % 256).toInt)

  def syntheticImages(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n.toLong).as[Long].map { id =>
      val img = new java.awt.image.BufferedImage(
        SynthW, SynthH, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < SynthH) {
        var x = 0
        while (x < SynthW) {
          val (r, g, b) = synthPixel(id, x, y)
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      MediaRow(id, "image", s"mem://img/$id", bos.toByteArray,
        width = SynthW, height = SynthH, duration_ms = 0L, sample_rate = 0)
    }
  }

  /** Synthesize a deterministic media table (test/demo input): payload
    * bytes derived from the id so every row is reproducible.
    */
  def syntheticMedia(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n.toLong).as[Long].map { id =>
      val kind = (id % 3) match {
        case 0 => "image"
        case 1 => "audio"
        case _ => "video"
      }
      val payload = Array.tabulate[Byte](64 + (id % 64).toInt)(i => ((id * 31 + i) % 251).toByte)
      MediaRow(id, kind, s"mem://media/$id", payload,
        width = if (kind == "image") 640 else 0,
        height = if (kind == "image") 480 else 0,
        duration_ms = if (kind == "image") 0L else 1000L + (id % 9000),
        sample_rate = if (kind == "audio") 16000 else 0)
    }
  }
}
