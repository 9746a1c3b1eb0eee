package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.PersistedIndex

/** Multimodal-column plumbing (SURVEY §2.9 E3 + driver mandate): media as
  * opaque `binary` columns with typed metadata, processed in batches via
  * `mapPartitions`.
  *
  * The actual media decode (image/audio/video libraries) is NOT available
  * in this environment, so [[FakeDecoder]] is a clearly-marked
  * deterministic stand-in: it derives a fixed-size feature vector from the
  * bytes alone. Everything around it — the schema contract, the
  * partition-batched execution shape, the per-row metadata, the output
  * encoding — is the real Spark-side plumbing a production decoder
  * (JNI/FFI or `mapInPandas`-style vectorized UDF in PySpark) drops into.
  */
object Multimodal {

  /** Canonical multimodal record schema: id + opaque payload + typed
    * metadata. Payload stays binary end-to-end; Spark never interprets it. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("content", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType, nullable = true),
      StructField("n_bytes", LongType, nullable = true),
      StructField("source", StringType, nullable = true))), nullable = true)))

  /** STUB decoder — deterministic fake. A real implementation would hand
    * each partition's byte payloads to a native decode library in batches.
    * This one emits `featureDim` floats, each a lane-wise polynomial rolling
    * hash of the payload bytes (lane j sees bytes at positions ≡ j mod
    * featureDim) reduced mod 1e9+7 at every step — overflow-free, so the
    * exact arithmetic is reproducible in any engine with 64-bit integers
    * (the e3c DuckDB oracle recomputes it from the text). */
  object FakeDecoder {
    val featureDim = 8
    val Mod = 1000000007L
    def decode(bytes: Array[Byte]): Array[Float] = {
      if (bytes == null) return Array.fill(featureDim)(0.0f)
      val acc = new Array[Long](featureDim)
      var i = 0
      while (i < bytes.length) {
        val j = i % featureDim
        acc(j) = (acc(j) * 31 + (bytes(i) & 0xff)) % Mod
        i += 1
      }
      acc.map(v => ((v % 1000L) / 1000.0f))
    }
  }

  /** Wrap a text/binary table into the media schema (fixture adapter:
    * documents.text → utf-8 payload). */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("content"),
      struct(
        lit("text/plain").as("mime"),
        length(col("text").cast("binary")).cast("long").as("n_bytes"),
        col("source").as("source")).as("meta"))

  /** Feature extraction over the binary column: partition-batched
    * `mapPartitions` (the decode boundary), preserving id + metadata.
    * Output: (media_id, meta, features array<float>). The repartition knob
    * bounds per-task batch memory the way a real decoder needs. */
  def extractFeatures(media: DataFrame, batchPartitions: Option[Int] = None): DataFrame = {
    val spark = media.sparkSession
    val in = batchPartitions.map(media.repartition).getOrElse(media)
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_bytes", LongType, nullable = true),
      StructField("features", ArrayType(FloatType), nullable = true)))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.select("media_id", "content", "meta.n_bytes")
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]]("content")
          // NULL-check before the primitive read: getAs[Long] unboxes a
          // SQL NULL to 0, which would report "unknown size" as "empty
          // payload" — the schema declares the field nullable for a reason
          val nBytes: java.lang.Long =
            if (r.isNullAt(r.fieldIndex("n_bytes"))) null
            else java.lang.Long.valueOf(r.getAs[Long]("n_bytes"))
          Row(r.getAs[Long]("media_id"), nBytes, FakeDecoder.decode(bytes))
        }
      }(encoder)
  }

  /** Frame sampling over the opaque payload: split the byte stream into
    * fixed-size frames and keep every `everyNth` one — the video
    * frame-extraction execution shape (per-row generator → explode → narrow
    * filter, no shuffle; a real decoder swaps the substring for a codec
    * call on the same plumbing). Output keeps (media_id, frame_idx, frame)
    * plus the frame's content hash for downstream exact dedup. */
  def sampleFrames(media: DataFrame, frameBytes: Int = 64,
                   everyNth: Int = 4): DataFrame = {
    require(frameBytes > 0 && everyNth > 0)
    media
      // frame windows derive from the ACTUAL payload length, never the
      // n_bytes metadata: a NULL n_bytes silently produced zero frames,
      // and an overstated one emitted empty frames whose identical md5
      // (d41d8cd9…) poisons the downstream frame_hash exact-dedup
      .filter(length(col("content")) > 0)
      .select(col("media_id"), posexplode(expr(
        s"""transform(
           |  sequence(0, cast(ceil(length(content) / $frameBytes.0) as int) - 1),
           |  i -> substring(content, i * $frameBytes + 1, $frameBytes))""".stripMargin))
        .as(Seq("frame_idx", "frame")))
      .filter(col("frame_idx") % everyNth === 0)
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("frame"), md5(col("frame")).as("frame_hash"))
  }

  /** Content addressing over the opaque payload: md5 + size — the exact
    * binary-dedup key (works unchanged for real media bytes). */
  def contentHashes(media: DataFrame): DataFrame =
    media.select(
      col("media_id"),
      md5(col("content")).as("content_hash"),
      col("meta.n_bytes").as("n_bytes"))

  /** REAL codec for the E3 decode lane: PNG via `javax.imageio` — pure
    * JVM, headless-safe, no native libraries. This is the honest
    * end-to-end path the [[FakeDecoder]] stands in for when no codec
    * exists: actual compressed image bytes in the opaque binary column,
    * an actual decoder running inside the partition batch. */
  object PngCodec {
    javax.imageio.ImageIO.setUseCache(false) // never spill decode scratch to disk

    /** Deterministic planted image for `id`: dimensions and every pixel
      * channel are closed-form functions of (id, x, y), each bounded
      * below 256 WITHOUT an inner modulo so the expected pixel sum has a
      * closed form any SQL engine can recompute (the e3e oracle):
      *   w = 4 + id%5, h = 3 + id%4,
      *   r = id%200 + 3x + 5y, g = id%100 + x, b = id%50 + 7y. */
    def plantedPng(id: Long): Array[Byte] = {
      val w = (4 + id % 5).toInt
      val h = (3 + id % 4).toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = (id % 200 + 3 * x + 5 * y).toInt
          val g = (id % 100 + x).toInt
          val b = (id % 50 + 7 * y).toInt
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }

    /** Decode one payload; None when the bytes are not a decodable image
      * (ImageIO returns null / throws on truncated streams). */
    def encode(img: java.awt.image.BufferedImage): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }

    def decode(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
      if (bytes == null) None
      else try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes)))
      catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Fixture adapter for the real-codec lane: PNG-encode a planted image
    * per id (partition-batched — the encoder is itself a codec running in
    * the decode lane's execution shape) into the media schema. */
  def plantedPngMedia(ids: DataFrame, idCol: String): DataFrame = {
    val encoder = org.apache.spark.sql.Encoders.row(mediaSchema)
    ids.select(col(idCol).cast("long").as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = Multimodal.PngCodec.plantedPng(id)
          Row(id, bytes, Row("image/png", bytes.length.toLong, "planted"))
        }
      }(encoder)
  }

  /** Image RESIZE in the codec lane (the mandate's resize verb, real):
    * decode → deterministic nearest-neighbor downscale/upscale → re-encode
    * PNG, all inside the partition batch. The sampling rule is explicit
    * integer math — destination (x, y) reads source
    * (x·srcW / dstW, y·srcH / dstH), floor division — rather than
    * `AffineTransformOp`, whose rounding convention is implementation-
    * defined; this keeps the output pixel-exactly reproducible by any
    * engine (the e3f oracle recomputes the resized pixel sum in SQL).
    * Undecodable payloads pass through with NULL content, mirroring
    * [[decodeImages]]' corrupt-row contract. */
  def resizeImages(media: DataFrame, width: Int, height: Int,
                   batchPartitions: Option[Int] = None): DataFrame = {
    require(width > 0 && height > 0, s"bad target size ${width}x$height")
    val in = batchPartitions.map(media.repartition).getOrElse(media)
    val encoder = org.apache.spark.sql.Encoders.row(mediaSchema)
    in.select("media_id", "content", "meta.source")
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val srcName = r.getString(2)
          Multimodal.PngCodec.decode(r.getAs[Array[Byte]](1)) match {
            case Some(src) =>
              val bytes = PngCodec.encode(scaleImage(src, width, height))
              Row(id, bytes, Row("image/png", bytes.length.toLong, srcName))
            case None => Row(id, null, Row("image/png", null, srcName))
          }
        }
      }(encoder)
  }

  /** PCM audio codec lane — the audio sibling of [[PngCodec]]: payloads
    * are 16-bit SIGNED LITTLE-ENDIAN PCM (the WAV/flac-decoded interchange
    * layout), planted as a closed-form function of the id so the oracle
    * can recompute every feature from the id alone without ever seeing a
    * byte: n = 50 + id%32 samples, sample i = (id%1000 − 2000) + 37·i —
    * spans negative and positive amplitudes, stays far inside int16. */
  object PcmCodec {

    def plantedPcm(id: Long): Array[Byte] = {
      val n = (50 + id % 32).toInt
      val c = (id % 1000 - 2000).toInt
      val buf = java.nio.ByteBuffer.allocate(n * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < n) { buf.putShort((c + 37 * i).toShort); i += 1 }
      buf.array()
    }

    /** Parse one payload into its exact integer moments; None when the
      * bytes are not whole 16-bit frames (truncated stream). */
    def parse(bytes: Array[Byte]): Option[(Long, Long, Long, Long)] = {
      if (bytes == null || bytes.length % 2 != 0) return None
      val buf = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var (n, sum, sumSq, peak) = (0L, 0L, 0L, 0L)
      while (buf.hasRemaining) {
        val s = buf.getShort.toLong
        n += 1; sum += s; sumSq += s * s
        if (math.abs(s) > peak) peak = math.abs(s)
      }
      Some((n, sum, sumSq, peak))
    }
  }

  /** Fixture adapter for the audio lane: planted PCM payloads per id in
    * the media schema (partition-batched like [[plantedPngMedia]]). */
  def plantedPcmMedia(ids: DataFrame, idCol: String): DataFrame = {
    val encoder = org.apache.spark.sql.Encoders.row(mediaSchema)
    ids.select(col(idCol).cast("long").as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = Multimodal.PcmCodec.plantedPcm(id)
          Row(id, bytes, Row("audio/pcm", bytes.length.toLong, "planted"))
        }
      }(encoder)
  }

  /** Audio FEATURE extraction in the codec lane: parse the 16-bit LE PCM
    * payload and emit its exact integer moments — sample count, sum, sum
    * of squares (the RMS/loudness numerator downstream stages divide), and
    * peak amplitude. All integers, so the features are bit-reproducible in
    * any engine (no float accumulation order); truncated payloads (odd
    * byte length) yield NULL features — kept, not dropped, the corrupt-row
    * contract shared by [[decodeImages]]. */
  def audioFeatures(media: DataFrame, batchPartitions: Option[Int] = None): DataFrame = {
    val in = batchPartitions.map(media.repartition).getOrElse(media)
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("n_samples", LongType, nullable = true),
      StructField("sum_samples", LongType, nullable = true),
      StructField("sum_squares", LongType, nullable = true),
      StructField("peak_abs", LongType, nullable = true)))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.select("media_id", "content")
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          Multimodal.PcmCodec.parse(r.getAs[Array[Byte]](1)) match {
            case Some((n, sum, sq, peak)) => Row(id, n, sum, sq, peak)
            case None => Row(id, null, null, null, null)
          }
        }
      }(encoder)
  }

  /** Noise-planted PCM fixture for the AUDIO perceptual near-dup lane —
    * the [[NoisePng]] idea in 1-D. Every sample is an avalanche-mixed
    * function of (id, i) and EVEN-valued, so a half-amplitude
    * "re-encoded at lower volume" copy is integer-EXACT: s/2 of an even
    * int16 loses no bit and (s/2)² = s²/4 exactly — window-energy ORDER
    * (ties included) is preserved by arithmetic, not luck. n = 65·8
    * samples, so the 65-window envelope boundaries land on exact sample
    * indices and a 2× zero-order-hold resample maps window w onto
    * exactly its duplicated samples (every energy doubles — again
    * order-preserving exactly). Unrelated ids produce effectively
    * independent envelope hashes (chance hamming ≤ 3 ≈ 2.4e-15/pair).
    * `editWindow` zeroes window 30's samples instead: a bounded
    * perturbation touching at most the two envelope deltas adjacent to
    * that window (hamming ≤ 2, inside any sane near-dup threshold). */
  object NoisePcm {
    val Windows = 65
    val SamplesPerWindow = 8
    // full murmur3 finalizer — see NoisePng.mix for why the single
    // multiply-xor is NOT enough over structured id progressions
    private def mix(a: Long): Long = {
      var h = a
      h = (h ^ (h >>> 33)) * 0xff51afd7ed558ccdL
      h = (h ^ (h >>> 33)) * 0xc4ceb9fe1a85ec53L
      h ^ (h >>> 33)
    }
    def plantedNoisePcm(id: Long, editWindow: Boolean = false): Array[Byte] = {
      val n = Windows * SamplesPerWindow
      val buf = java.nio.ByteBuffer.allocate(n * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < n) {
        val s =
          if (editWindow && i / SamplesPerWindow == 30) 0
          else ((mix(id * 1000003L + i * 786433L) % 8192L) * 2L).toInt
        buf.putShort(s.toShort)
        i += 1
      }
      buf.array()
    }
  }

  /** Fixture adapter for the audio perceptual lane (the
    * [[plantedPcmMedia]] shape over [[NoisePcm]]). */
  def plantedNoisePcmMedia(ids: DataFrame, idCol: String,
                           editWindow: Boolean = false): DataFrame = {
    val encoder = org.apache.spark.sql.Encoders.row(mediaSchema)
    ids.select(col(idCol).cast("long").as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = Multimodal.NoisePcm.plantedNoisePcm(id, editWindow)
          Row(id, bytes, Row("audio/pcm", bytes.length.toLong, "planted"))
        }
      }(encoder)
  }

  /** Zero-order-hold resample by an integer factor through the REAL
    * codec lane: parse the 16-bit LE PCM payload, repeat each sample
    * `factor` times, re-encode — the audio analog of [[resizeImages]]
    * (the planted "same recording at a higher sample rate" twin).
    * Truncated payloads (odd byte length) yield NULL content — kept,
    * the corrupt-row contract. */
  def resamplePcm(media: DataFrame, factor: Int,
                  batchPartitions: Option[Int] = None): DataFrame = {
    require(factor >= 1 && factor <= 16, s"bad resample factor $factor")
    val in = batchPartitions.map(media.repartition).getOrElse(media)
    val encoder = org.apache.spark.sql.Encoders.row(mediaSchema)
    in.select("media_id", "content", "meta.source")
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val srcName = r.getString(2)
          val bytes = r.getAs[Array[Byte]](1)
          if (bytes == null || bytes.length % 2 != 0)
            Row(id, null, Row("audio/pcm", null, srcName))
          else {
            val inBuf = java.nio.ByteBuffer.wrap(bytes)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val out = java.nio.ByteBuffer.allocate(bytes.length * factor)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            while (inBuf.hasRemaining) {
              val s = inBuf.getShort
              var k = 0
              while (k < factor) { out.putShort(s); k += 1 }
            }
            val ob = out.array()
            Row(id, ob, Row("audio/pcm", ob.length.toLong, srcName))
          }
        }
      }(encoder)
  }

  /** Amplitude scale by 2^-shiftBits — "the same recording re-encoded at
    * lower volume" — through the codec lane (arithmetic shift per
    * sample). Same corrupt-row contract as [[resamplePcm]]. */
  def scalePcmAmplitude(media: DataFrame, shiftBits: Int = 1,
                        batchPartitions: Option[Int] = None): DataFrame = {
    require(shiftBits >= 0 && shiftBits <= 14, s"bad shift $shiftBits")
    val in = batchPartitions.map(media.repartition).getOrElse(media)
    val encoder = org.apache.spark.sql.Encoders.row(mediaSchema)
    in.select("media_id", "content", "meta.source")
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val srcName = r.getString(2)
          val bytes = r.getAs[Array[Byte]](1)
          if (bytes == null || bytes.length % 2 != 0)
            Row(id, null, Row("audio/pcm", null, srcName))
          else {
            val inBuf = java.nio.ByteBuffer.wrap(bytes)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val out = java.nio.ByteBuffer.allocate(bytes.length)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            while (inBuf.hasRemaining)
              out.putShort((inBuf.getShort >> shiftBits).toShort)
            val ob = out.array()
            Row(id, ob, Row("audio/pcm", ob.length.toLong, srcName))
          }
        }
      }(encoder)
  }

  /** Envelope hash of one PCM payload — the [[dHash64]] gradient idea in
    * 1-D: frame the samples into 65 equal windows (floor boundaries, the
    * resize-composability rule), per-window energy = Σ s² in exact
    * 64-bit ints, bit w set when window w+1 is louder than window w.
    * Robust to re-encoding (identical samples ⇒ identical hash), to
    * integer resampling and to volume changes (window energies scale
    * TOGETHER, so every greater-than comparison is preserved); unrelated
    * recordings differ in ~32 of 64 bits. None when the payload is not
    * whole 16-bit frames or has fewer samples than windows. */
  private[graft] def audioEnvelopeHash64(bytes: Array[Byte]): Option[Long] = {
    if (bytes == null || bytes.length % 2 != 0) return None
    val n = bytes.length / 2
    val windows = NoisePcm.Windows
    if (n < windows) return None
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val energy = new Array[Long](windows)
    var w = 0
    while (w < windows) {
      val loIdx = (w.toLong * n / windows).toInt
      val hiIdx = ((w + 1).toLong * n / windows).toInt
      var e = 0L
      var i = loIdx
      while (i < hiIdx) {
        val s = buf.getShort(i * 2).toLong
        e += s * s
        i += 1
      }
      energy(w) = e
      w += 1
    }
    var bits = 0L
    w = 0
    while (w < 64) {
      if (energy(w + 1) > energy(w)) bits |= 1L << w
      w += 1
    }
    Some(bits)
  }

  /** Perceptual audio hashes over the opaque binary column — the audio
    * sibling of [[imageDHashes]]; unframeable payloads yield a NULL hash
    * (kept, not dropped — the corrupt-row contract). Downstream near-dup
    * is `TextAnalysis.simhashCandidates(hashes, "media_id", "ahash", k,
    * b)` — the SAME hash-generic pigeonhole band join as text SimHash
    * and image dHash (one shuffle on short band keys, per-band caps,
    * never all-pairs), so audio near-dedup inherits the 100 TB shape
    * for free. */
  def audioEnvelopeHashes(media: DataFrame, batchPartitions: Option[Int] = None): DataFrame = {
    val in = batchPartitions.map(media.repartition).getOrElse(media)
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("ahash", LongType, nullable = true)))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.select("media_id", "content")
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          Multimodal.audioEnvelopeHash64(r.getAs[Array[Byte]](1)) match {
            case Some(h) => Row(id, h)
            case None => Row(id, null)
          }
        }
      }(encoder)
  }

  /** Noise-planted PNG fixture for the PERCEPTUAL near-dup lane: unlike
    * [[PngCodec.plantedPng]]'s smooth gradients (whose dHash degenerates —
    * a monotone image hashes to all-ones, so every gradient collides),
    * every channel here is an avalanche-mixed function of (id, x, y), so
    * unrelated ids produce effectively independent 64-bit dHashes (chance
    * hamming ≤ 3 collision ≈ 2.4e-15 per pair) while copies of one id
    * stay close. Fixed 18×16 canvas: the dHash grid then samples source
    * pixels (2x, 2y), which makes grid-aligned resizes (2×, 1.5×)
    * pixel-exact under the floor-sampling rule — the planted "re-encoded
    * /resized copy" twins land at hamming 0 BY ARITHMETIC, not by luck.
    * `editPixel` plants a bounded perturbation instead: source pixel
    * (2, 2) — sampled at grid (1, 1) — is channel-inverted, touching at
    * most the two gradient comparisons adjacent to that grid cell
    * (hamming ≤ 2, inside any sane near-dup threshold). */
  object NoisePng {
    val W = 18
    val H = 16
    // FULL murmur3 finalizer, not a single multiply-xor: the round-17
    // videodedup stress arm caught the weak version red-handed — over
    // structured inputs (frame ids in arithmetic progressions) its LOW
    // BYTE correlates across ids, collapsing "unrelated" dHashes to a
    // fat near-zero hamming tail (9 exact collisions in 200k sampled
    // cross pairs; 3,294 spurious video pairs at 1,500 videos). With a
    // proper avalanche every output bit depends on every input bit and
    // the 2.4e-15 chance-collision claim actually holds.
    private def mix(a: Long): Int = {
      var h = a
      h = (h ^ (h >>> 33)) * 0xff51afd7ed558ccdL
      h = (h ^ (h >>> 33)) * 0xc4ceb9fe1a85ec53L
      h ^= (h >>> 33)
      (h & 0xffL).toInt
    }
    def plantedNoisePng(id: Long, editPixel: Boolean): Array[Byte] =
      plantedNoisePngSized(id, editPixel, W, H)

    /** Arbitrary-canvas variant for scale arms that need REAL decode
      * cost (a 128×128 noise PNG decodes in ~ms, the regime the
      * persisted dHash index exists for; the 18×16 gate fixture decodes
      * in µs). Same avalanche per-pixel noise, same edit semantics. */
    def plantedNoisePngSized(id: Long, editPixel: Boolean,
                             w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = mix(id * 3L + x * 131L + y * 197L)
          val g = mix(id * 7L + x * 241L + y * 313L)
          val b = mix(id * 11L + x * 389L + y * 433L)
          val (rr, gg, bb) =
            if (editPixel && x == 2 && y == 2) (255 - r, 255 - g, 255 - b)
            else (r, g, b)
          img.setRGB(x, y, (rr << 16) | (gg << 8) | bb)
          x += 1
        }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
  }

  /** Fixture adapter for the perceptual near-dup lane (the
    * [[plantedPngMedia]] shape over [[NoisePng]]); `width`/`height`
    * default to the µs-decode gate canvas — scale arms pass a real
    * (ms-decode) size. */
  def plantedNoisePngMedia(ids: DataFrame, idCol: String,
                           editPixel: Boolean = false,
                           width: Int = NoisePng.W,
                           height: Int = NoisePng.H): DataFrame = {
    val encoder = org.apache.spark.sql.Encoders.row(mediaSchema)
    ids.select(col(idCol).cast("long").as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = Multimodal.NoisePng.plantedNoisePngSized(
            id, editPixel, width, height)
          Row(id, bytes, Row("image/png", bytes.length.toLong, "planted"))
        }
      }(encoder)
  }

  /** dHash64 of one decoded image: 9×8 grayscale grid (explicit floor
    * sampling — [[resizeImages]]' reproducibility rule, so a resize
    * through this module composes pixel-exactly), bit (y·8 + x) set when
    * the cell right of (x, y) is brighter — the classic gradient hash.
    * Robust to re-encoding (pixels identical ⇒ hash identical) and to
    * grid-aligned rescales; unrelated images differ in ~32 of 64 bits. */
  private[graft] def dHash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val gray = Array.ofDim[Int](8, 9)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 9) {
        val rgb = img.getRGB(x * w / 9, y * h / 8)
        gray(y)(x) = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        x += 1
      }
      y += 1
    }
    var bits = 0L
    y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (gray(y)(x + 1) > gray(y)(x)) bits |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    bits
  }

  /** Perceptual image hashes over the opaque binary column: decode →
    * [[dHash64]], partition-batched like every codec-lane op. Undecodable
    * payloads yield a NULL hash — kept, not dropped (the corrupt-row
    * contract). Downstream near-dup is
    * `TextAnalysis.simhashCandidates(hashes, "media_id", "dhash", k, b)` —
    * the SAME pigeonhole band join the text SimHash lane uses (one
    * shuffle on a short band key, per-band cardinality caps, never
    * all-pairs), so image near-dedup inherits the 100 TB shape for free. */
  def imageDHashes(media: DataFrame, batchPartitions: Option[Int] = None): DataFrame = {
    val in = batchPartitions.map(media.repartition).getOrElse(media)
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("dhash", LongType, nullable = true)))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.select("media_id", "content")
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          Multimodal.PngCodec.decode(r.getAs[Array[Byte]]("content")) match {
            case Some(img) => Row(id, dHash64(img))
            case None => Row(id, null)
          }
        }
      }(encoder)
  }

  // --------------------------------- persisted banded perceptual indexes

  /** Build the persisted perceptual-hash index at `dir`: `hashes/`
    * (__id, dhash) and `bands/` (__id, band_id, band_val) parquet, stamp
    * written last — the image sibling of the MinHash index, completing
    * the near-dup family's build/append/probe lifecycle for media.
    * Undecodable payloads are EXCLUDED from the index (a NULL hash can
    * match nothing) — count them upstream via [[imageDHashes]] if the
    * corrupt rate matters. */
  def buildDHashIndex(media: DataFrame, dir: String, bands: Int = 4,
                      batchPartitions: Option[Int] = None): Unit =
    BandedHashIndex.build(
      idHashes(imageDHashes(media, batchPartitions), "dhash"), dir, bands,
      PersistedIndex.DHash)

  /** Append a batch under the FROZEN band decomposition. Crash contract
    * (the MinHash append rule): bands append before hashes; a crash
    * between the writes leaves band rows whose candidates drop at the
    * probe's hash join — "batch not yet searchable", never wrong pairs;
    * the retry's duplicates dedupe in the probe's distinct step. */
  def dhashIndexAppend(spark: SparkSession, dir: String, newMedia: DataFrame,
                       batchPartitions: Option[Int] = None): Unit =
    BandedHashIndex.append(spark, dir,
      idHashes(imageDHashes(newMedia, batchPartitions), "dhash"),
      PersistedIndex.DHash)

  /** Probe a batch of images against the index: batch hashes/bands
    * computed under the frozen decomposition, batch band rows BROADCAST
    * onto the streamed base band table (the base never shuffles — the
    * 100 TB probe shape shared with the MinHash index), distinct
    * candidates, exact hamming verify against the stored base hashes.
    * `maxHamming < bands` keeps the pigeonhole EXACT: every qualifying
    * pair collides in at least one band (the simhashCandidates
    * argument), so the probe equals the all-pairs comparison without
    * ever running one. Returns (base_id, q_id, hamming). */
  def dhashIndexProbe(spark: SparkSession, dir: String, queries: DataFrame,
                      maxHamming: Int = 3,
                      batchPartitions: Option[Int] = None): DataFrame =
    BandedHashIndex.probe(spark, dir,
      idHashes(imageDHashes(queries, batchPartitions), "dhash"), maxHamming,
      PersistedIndex.DHash)

  /** The AUDIO persisted index — [[audioEnvelopeHash64]] hashes through
    * the SAME banded core as the image index (one artifact format, two
    * stamp names so the modalities can never be mixed by accident):
    * build once, fold ingest batches in under the frozen decomposition,
    * probe a batch for hamming-bounded matches (resampled / re-encoded
    * / volume-changed copies) without ever re-parsing the base corpus's
    * PCM. Unframeable payloads are EXCLUDED (a NULL hash matches
    * nothing). */
  def buildAudioHashIndex(media: DataFrame, dir: String, bands: Int = 4,
                          batchPartitions: Option[Int] = None): Unit =
    BandedHashIndex.build(
      idHashes(audioEnvelopeHashes(media, batchPartitions), "ahash"), dir,
      bands, PersistedIndex.AHash)

  /** [[dhashIndexAppend]]'s audio twin (same crash contract). */
  def audioIndexAppend(spark: SparkSession, dir: String, newMedia: DataFrame,
                       batchPartitions: Option[Int] = None): Unit =
    BandedHashIndex.append(spark, dir,
      idHashes(audioEnvelopeHashes(newMedia, batchPartitions), "ahash"),
      PersistedIndex.AHash)

  /** [[dhashIndexProbe]]'s audio twin (same pigeonhole-exact shape).
    * Returns (base_id, q_id, hamming). */
  def audioIndexProbe(spark: SparkSession, dir: String, queries: DataFrame,
                      maxHamming: Int = 3,
                      batchPartitions: Option[Int] = None): DataFrame =
    BandedHashIndex.probe(spark, dir,
      idHashes(audioEnvelopeHashes(queries, batchPartitions), "ahash"),
      maxHamming, PersistedIndex.AHash)

  private def idHashes(hashed: DataFrame, hashCol: String): DataFrame =
    hashed.filter(col(hashCol).isNotNull)
      .select(col("media_id").as("__id"), col(hashCol).as("__hash"))

  /** Explicit floor-sampling rescale — the ONE resize rule of the whole
    * perceptual lane (shared by [[resizeImages]] and the video frame
    * fixture), so a resize anywhere composes pixel-exactly with
    * [[dHash64]]'s grid sampling. */
  private def scaleImage(src: java.awt.image.BufferedImage,
                         width: Int, height: Int): java.awt.image.BufferedImage = {
    val out = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        out.setRGB(x, y, src.getRGB(
          x * src.getWidth / width, y * src.getHeight / height))
        x += 1
      }
      y += 1
    }
    out
  }

  // ------------------------------------------------ video perceptual near-dup

  /** Fixed-slot video container for the fixture lane: a "video" is the
    * concatenation of whole PNG frame payloads, each zero-padded into a
    * [[VideoSlotBytes]] slot (PNG decoders stop at IEND, so the padding
    * is invisible to the codec — the framing stays byte-exact without a
    * real container format, which this sandbox has no codec for; a real
    * pipeline swaps the slot explode for a demuxer call on the SAME
    * plumbing, exactly the [[FakeDecoder]] argument). */
  val VideoSlotBytes = 8192 // fits a 36×32 noise PNG (~3.5 KB) with room
  val VideoFrames = 8

  /** Planted noise VIDEO fixture: 8 noise-PNG frames per id.
    * `variant`: "base" (frames `id·1000+j`), "resized" (every frame
    * 2×-rescaled through the REAL codec — different bytes, identical
    * per-frame dHash by the floor arithmetic: the re-encoded copy), or
    * "clipped" (base frames 2..7 plus two novel frames — the re-edited
    * copy sharing 6 of 8 frames). */
  def plantedNoiseVideoMedia(ids: DataFrame, idCol: String,
                             variant: String = "base"): DataFrame = {
    require(Set("base", "resized", "clipped").contains(variant),
      s"unknown video variant '$variant'")
    val encoder = org.apache.spark.sql.Encoders.row(mediaSchema)
    ids.select(col(idCol).cast("long").as("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val frameIds: Seq[Long] = variant match {
            case "clipped" =>
              (2L until VideoFrames.toLong).map(id * 1000L + _) ++
                Seq(id * 1000L + 900L, id * 1000L + 901L)
            case _ => (0L until VideoFrames.toLong).map(id * 1000L + _)
          }
          val out = new java.io.ByteArrayOutputStream()
          frameIds.foreach { fid =>
            val png0 = Multimodal.NoisePng.plantedNoisePng(fid, false)
            val png =
              if (variant == "resized")
                Multimodal.PngCodec.encode(Multimodal.scaleImage(
                  Multimodal.PngCodec.decode(png0).get,
                  Multimodal.NoisePng.W * 2, Multimodal.NoisePng.H * 2))
              else png0
            require(png.length <= VideoSlotBytes,
              s"frame $fid overflows the ${VideoSlotBytes}B slot: ${png.length}")
            out.write(png)
            out.write(new Array[Byte](VideoSlotBytes - png.length))
          }
          val bytes = out.toByteArray
          Row(id, bytes, Row("video/x-slots", bytes.length.toLong, "planted"))
        }
      }(encoder)
  }

  /** Per-frame perceptual hashes over the slotted video payload: slot
    * explode (the [[sampleFrames]] execution shape — per-row generator,
    * narrow, no shuffle) → PNG decode → [[dHash64]] in the codec lane.
    * Undecodable slots (truncated tail, corrupt frame) yield a NULL
    * hash — kept, the corrupt-row contract. Output
    * (media_id, frame_idx, dhash). */
  def videoFrameDHashes(media: DataFrame, slotBytes: Int = VideoSlotBytes,
                        batchPartitions: Option[Int] = None): DataFrame = {
    require(slotBytes > 0)
    val in = batchPartitions.map(media.repartition).getOrElse(media)
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", LongType, nullable = false),
      StructField("dhash", LongType, nullable = true)))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.filter(length(col("content")) > 0)
      .select(col("media_id"), posexplode(expr(
        s"""transform(
           |  sequence(0, cast(ceil(length(content) / $slotBytes.0) as int) - 1),
           |  i -> substring(content, i * $slotBytes + 1, $slotBytes))""".stripMargin))
        .as(Seq("frame_idx", "frame")))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val fidx = r.getInt(1).toLong
          Multimodal.PngCodec.decode(r.getAs[Array[Byte]](2)) match {
            case Some(img) => Row(id, fidx, dHash64(img))
            case None => Row(id, fidx, null)
          }
        }
      }(encoder)
  }

  /** VIDEO near-dup from per-frame hashes — the temporal composition of
    * the image lane: band the frame hashes (the pigeonhole decomposition
    * of [[TextAnalysis.simhashCandidates]], so a frame pair within
    * `maxHamming` collides in ≥1 band), cap degenerate band values
    * (identical boilerplate frames — black intros, logo cards — shared
    * by thousands of videos are exactly the hot-band quadratic trap of
    * the text lane, and the SAME counted-drop ledger absorbs them),
    * verify exact hamming, then aggregate frame matches per video pair:
    * `shared_frames` = the smaller side's count of distinct matched
    * frame positions (a one-to-many frame match never inflates it).
    * One shuffle on short band keys + one pair aggregation — never
    * all-pairs in either frames or videos. */
  def videoNearDupPairs(frameHashes: DataFrame, maxHamming: Int = 2,
                        bands: Int = 4, minSharedFrames: Int = 2,
                        maxBandSize: Int = Dedup.DefaultMaxBandSize): DataFrame = {
    require(64 % bands == 0, s"bands ($bands) must divide 64")
    require(maxHamming >= 0 && maxHamming < bands,
      s"maxHamming ($maxHamming) must be < bands ($bands) for exact recall")
    require(minSharedFrames >= 1)
    val bits = 64 / bands
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    val banded0 = frameHashes.filter(col("dhash").isNotNull)
      .select(col("media_id"), col("frame_idx"), col("dhash"))
      .withColumn("band", explode(array((0 until bands).map { b =>
        struct(lit(b).as("band_id"),
          shiftright(col("dhash"), b * bits).bitwiseAND(mask).as("band_val"))
      }: _*)))
    val (banded, _) =
      Dedup.capOversizedBands(banded0, "band", maxBandSize, "videoNearDup")
    val a = banded.select(col("media_id").as("a_id"),
      col("frame_idx").as("a_fidx"), col("dhash").as("a_hash"), col("band"))
    val b = banded.select(col("media_id").as("b_id"),
      col("frame_idx").as("b_fidx"), col("dhash").as("b_hash"), col("band"))
    a.join(b, a("band") === b("band") && col("a_id") < col("b_id"))
      .select("a_id", "a_fidx", "a_hash", "b_id", "b_fidx", "b_hash")
      .distinct()
      .filter(bit_count(col("a_hash").bitwiseXOR(col("b_hash"))) <= maxHamming)
      .groupBy("a_id", "b_id")
      .agg(least(countDistinct(col("a_fidx")), countDistinct(col("b_fidx")))
        .as("shared_frames"))
      .filter(col("shared_frames") >= minSharedFrames)
  }

  /** The E3 decode lane with a REAL codec: `javax.imageio` PNG decode in
    * partition batches over the opaque binary column. Emits the decoded
    * dimensions and the pixel channel sum (the downstream feature a
    * resize/normalize stage would consume); undecodable payloads yield
    * null width/height/px_sum — kept, not dropped, so corrupt media is
    * visible to the caller rather than silently filtered. Same plumbing
    * as [[extractFeatures]]: schema in, mapPartitions boundary,
    * repartition knob bounding per-task batch memory. */
  def decodeImages(media: DataFrame, batchPartitions: Option[Int] = None): DataFrame = {
    val in = batchPartitions.map(media.repartition).getOrElse(media)
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("width", LongType, nullable = true),
      StructField("height", LongType, nullable = true),
      StructField("px_sum", LongType, nullable = true)))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    in.select("media_id", "content")
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          Multimodal.PngCodec.decode(r.getAs[Array[Byte]]("content")) match {
            case Some(img) =>
              val (w, h) = (img.getWidth, img.getHeight)
              var sum = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = img.getRGB(x, y)
                  sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
                  x += 1
                }
                y += 1
              }
              Row(id, w.toLong, h.toLong, sum)
            case None => Row(id, null, null, null)
          }
        }
      }(encoder)
  }
}

/** Hash-GENERIC persisted banded index over 64-bit perceptual hashes —
  * ONE core for every modality (image dHash, audio envelope hash; any
  * future 64-bit locality hash plugs in by providing `(__id, __hash)`
  * rows). Layout at `dir`: `hashes/` (__id, __hash) + `bands/` (__id,
  * band_id, band_val) parquet; the params stamp is written LAST (its
  * presence is the commit marker, so a crashed build reads as absent)
  * and is parsed and FROZEN by appends and probes — a probe under a
  * different band decomposition would silently miss qualifying pairs.
  * Distinct stamp FILE names per modality mean an audio probe can never
  * silently read an image index or vice versa (the cross-lane refusal
  * discipline of the IVM stamps). The probe is the 100 TB shape shared
  * with the MinHash index: batch band rows BROADCAST onto the streamed
  * base band table (the base never shuffles or re-decodes), distinct
  * candidates, exact hamming verify against the stored base hashes —
  * pigeonhole-exact for maxHamming < bands. */
private[graft] object BandedHashIndex {

  private def bandRows(hashes: DataFrame, bands: Int): DataFrame = {
    val bits = 64 / bands
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    hashes.withColumn("band", explode(array((0 until bands).map { b =>
        struct(lit(b).as("band_id"),
          shiftright(col("__hash"), b * bits).bitwiseAND(mask).as("band_val"))
      }: _*)))
      .select(col("__id"), col("band.band_id").as("band_id"),
        col("band.band_val").as("band_val"))
  }

  /** Build at `dir` from NULL-free `(__id, __hash)` rows; stamp last. */
  def build(hashes0: DataFrame, dir: String, bands: Int,
            family: PersistedIndex.Family): Unit = {
    require(64 % bands == 0 && bands >= 2,
      s"bands ($bands) must divide 64 and be >= 2")
    PersistedIndex.commit(hashes0.sparkSession, dir,
        PersistedIndex.bands(family, bands)) {
      val hashes = hashes0.localCheckpoint()
      hashes.write.mode("overwrite").parquet(s"$dir/hashes")
      bandRows(hashes, bands).write.mode("overwrite").parquet(s"$dir/bands")
    }
  }

  /** Append under the FROZEN decomposition. Crash contract (the MinHash
    * append rule): bands append before hashes; a crash between the
    * writes leaves band rows whose candidates drop at the probe's hash
    * join — "batch not yet searchable", never wrong pairs; the retry's
    * duplicates dedupe in the probe's distinct step. */
  def append(spark: SparkSession, dir: String, hashes0: DataFrame,
             family: PersistedIndex.Family): Unit = {
    val bands = PersistedIndex.read(spark, dir, family).int("bands")
    val hashes = hashes0.localCheckpoint()
    bandRows(hashes, bands).write.mode("append").parquet(s"$dir/bands")
    hashes.write.mode("append").parquet(s"$dir/hashes")
  }

  /** Probe with `(__id, __hash)` query rows → (base_id, q_id, hamming). */
  def probe(spark: SparkSession, dir: String, qHashes0: DataFrame,
            maxHamming: Int, family: PersistedIndex.Family): DataFrame = {
    val bands = PersistedIndex.read(spark, dir, family).int("bands")
    // typed, and checked against the FROZEN band count (the stamp, not
    // whatever the caller believes) — this is the authoritative probe
    // validation the CLI defers to (r16 advice)
    if (maxHamming < 0 || maxHamming >= bands)
      throw graft.core.GraftError.InvalidConfig(
        s"maxHamming ($maxHamming) must be in [0, bands) for exact " +
          s"recall (index is banded $bands-way)")
    val qHashes = qHashes0
      .select(col("__id").as("__qid"), col("__hash").as("__qhash"))
      .localCheckpoint()
    // query-side broadcast guard (the minhashIndexProbe rule): the hinted
    // frames scale with the ingest batch; counted on the checkpointed
    // frame, hints dropped above the bound (ProbeBroadcast; guide §3.1)
    val bcast = ProbeBroadcast.broadcastSafe(spark, "BandedHashIndex.probe",
      qHashes.count())
    val qBands = bandRows(
      qHashes.select(col("__qid").as("__id"), col("__qhash").as("__hash")),
      bands).select(col("__id").as("__qid"), col("band_id"), col("band_val"))
    val baseBands = spark.read.parquet(s"$dir/bands")
    val cand = baseBands
      .join(ProbeBroadcast.hint(qBands, bcast), Seq("band_id", "band_val"))
      .select(col("__id"), col("__qid")).distinct()
    // a retried append can leave duplicate hash rows — harmless for
    // membership, but a pair must never fan out. The dedup must not
    // shuffle the FULL base hash table per probe (the "base never
    // shuffles" contract): stream the hashes scan through a broadcast
    // join with the small candidate-pair set and dedupe only MATCHED
    // rows — duplicate hash rows are value-identical by construction,
    // so any survivor carries the right hash.
    val baseHashes = spark.read.parquet(s"$dir/hashes")
    baseHashes.join(ProbeBroadcast.hint(cand, bcast), "__id")
      .dropDuplicates("__id", "__qid")
      .join(ProbeBroadcast.hint(qHashes, bcast), "__qid")
      .withColumn("hamming",
        bit_count(col("__hash").bitwiseXOR(col("__qhash"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("__id").as("base_id"), col("__qid").as("q_id"),
        col("hamming"))
  }
}
