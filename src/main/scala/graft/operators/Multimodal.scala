package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** A multimodal record: opaque media bytes + typed metadata. At scale the
  * payload column holds real image/audio/video bytes (parquet binary with
  * dictionary encoding off); here the bytes are REAL codec-free formats —
  * PGM images, WAV/PCM audio, Y4M video — generated deterministically per doc_id,
  * so decode is a genuine binary parse and the oracle can recompute every
  * decoded feature from the generation formula (SURVEY §2 c12). */
case class MediaRecord(doc_id: Long, media_type: String, payload: Array[Byte])

/** Decoded per-record features. Per-type meaning of the generic slots:
  *  - image (PGM):  width, height = pixel dims; n_units = pixels;
  *                  v_* over pixel values 0..255
  *  - audio (WAV):  width = sample rate, height = bits/sample;
  *                  n_units = samples; v_* over signed 16-bit samples
  *  - video (Y4M):  width, height = luma dims; n_units = frames;
  *                  v_* over raw 4:2:0 plane bytes of every frame */
case class MediaFeatures(doc_id: Long, media_type: String, n_bytes: Long,
                         width: Long, height: Long, n_units: Long,
                         v_min: Long, v_max: Long, v_sum: Long)

/** Output of resize — the re-encoded container (PGM/WAV/Y4M) after a
  * nearest-neighbor resample to width×height (audio: width·height
  * samples). */
case class ResizedMedia(doc_id: Long, media_type: String,
                        width: Int, height: Int, payload: Array[Byte])

/** One sampled frame of a video payload. */
case class MediaFrame(doc_id: Long, frame_idx: Long, frame_bytes: Array[Byte])

/** One multimodal arrival for the d50 joint-verdict router (r17): a
  * doc carrying BOTH its text and its media payload. */
case class JointRecord(doc_id: Long, text: String,
                       media_type: String, payload: Array[Byte])

/** One demuxed (frame_idx, phash) of a video — the array element the
  * d52 signature expression folds (field names are the contract: the
  * index side builds the same struct from the at-rest fid table). */
case class FrameHash(frame_idx: Long, phash: Long)

/** Multimodal-column pipeline (SURVEY §2 c12).
  *
  * The Spark-side shape is real: a typed `Dataset[MediaRecord]` with a
  * binary payload column, batch-iterated per partition exactly where a
  * Pandas-UDF / JNI decoder would sit, producing a typed features frame.
  * All three modalities decode through REAL binary parsers for codec-free
  * formats (PGM P5 images, WAV RIFF/PCM audio, Y4M/YUV4MPEG2 video — all
  * decodable in pure JVM; Y4M frames are uncompressed by definition), and
  * resize/frame-sample run the full decode → transform → re-encode loop
  * on real rasters. Swapping in a real JPEG/MP4 decoder changes one
  * function, not the plan.
  */
object Multimodal {

  // ImageIO defaults to a DISK-backed stream cache: every encode/decode
  // call creates a temp file, which under 32 concurrent tasks turns the
  // codec loop into tmpfs churn. All payloads here are in-memory byte
  // arrays — cache in memory.
  javax.imageio.ImageIO.setUseCache(false)

  // ---- deterministic payload generation (closed-form in doc_id, so the
  // ---- DuckDB oracle recomputes decoded features without parsing binary)

  /** r19 rehearsal knob (§8p follow-up): the default closed-form
    * payloads are LOW-DIVERSITY by design (small linear patterns the
    * DuckDB oracle recomputes exactly), which makes perceptual-hash
    * pair graphs near-COMPLETE on large synthetic corpora — the pair
    * surfaces rehearse their worst case instead of a real corpus's.
    * With SPARK_GRAFT_MEDIA_DIVERSE=1 every payload byte instead mixes
    * through splitmix64 — still a pure function of (doc_id, position),
    * still deterministic across runs and engines, but rasters/envelopes/
    * frames decorrelate like real media, so pair density tracks the
    * PLANTED duplicate structure only. Rehearsal-only: gate oracles
    * recompute the DEFAULT closed form and would fail loudly under the
    * env — which is the guard, not a bug. */
  private[graft] def mediaDiverse: Boolean =
    sys.env.get("SPARK_GRAFT_MEDIA_DIVERSE")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))

  /** splitmix64 finalizer — the standard public-domain mixer. */
  private[graft] def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private[graft] def imageDims(docId: Long): (Int, Int) =
    ((8 + docId % 9).toInt, (8 + docId % 7).toInt)

  private[graft] def pgmPayload(docId: Long,
                                diverse: Boolean = mediaDiverse): Array[Byte] = {
    val (w, h) = imageDims(docId)
    val header = s"P5\n$w $h\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + w * h)
    System.arraycopy(header, 0, out, 0, header.length)
    var i = 0
    while (i < w * h) {
      out(header.length + i) =
        if (diverse) (mix64(docId * 0x100000001B3L + i) & 0xFF).toByte
        else ((docId * 31 + i * 7) % 256).toByte
      i += 1
    }
    out
  }

  private[graft] val WavSampleRate = 8000
  private[graft] val WavBits = 16

  private[graft] def audioSampleCount(docId: Long): Int = (64 + docId % 129).toInt

  private[graft] def wavPayload(docId: Long,
                                diverse: Boolean = mediaDiverse): Array[Byte] = {
    val n = audioSampleCount(docId)
    val dataBytes = 2 * n
    val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(WavSampleRate)
      .putInt(WavSampleRate * WavBits / 8) // byte rate
      .putShort((WavBits / 8).toShort)     // block align
      .putShort(WavBits.toShort)
    bb.put("data".getBytes("US-ASCII")).putInt(dataBytes)
    var i = 0
    while (i < n) {
      bb.putShort(
        if (diverse) ((mix64(docId * 0x100000001B3L + i) & 0xFFFF) - 32768).toShort
        else (((docId * 131 + i * 17) % 65536) - 32768).toShort)
      i += 1
    }
    bb.array()
  }

  /** Y4M (YUV4MPEG2) video: the codec-free container — plain-ASCII stream
    * header, then per frame an ASCII `FRAME` marker and raw uncompressed
    * 4:2:0 planes (Y w×h, then U and V at w/2×h/2). Even dims only
    * (4:2:0 subsampling). */
  private[graft] def videoDims(docId: Long): (Int, Int) =
    ((8 + 2 * (docId % 5)).toInt, (8 + 2 * (docId % 4)).toInt)

  private[graft] def videoFrameCount(docId: Long): Int = (3 + docId % 6).toInt

  /** Raster bytes per 4:2:0 frame: full-res luma + two quarter-res chroma. */
  private[graft] def y4mFrameSize(w: Int, h: Int): Int = w * h + 2 * (w / 2) * (h / 2)

  private[graft] def y4mPayload(docId: Long,
                                diverse: Boolean = mediaDiverse): Array[Byte] = {
    val (w, h) = videoDims(docId)
    val frames = videoFrameCount(docId)
    val fs = y4mFrameSize(w, h)
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420jpeg\n".getBytes("US-ASCII")
    val marker = "FRAME\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + frames * (marker.length + fs))
    System.arraycopy(header, 0, out, 0, header.length)
    var pos = header.length
    var f = 0
    while (f < frames) {
      System.arraycopy(marker, 0, out, pos, marker.length)
      pos += marker.length
      var i = 0
      while (i < fs) {
        out(pos + i) =
          if (diverse)
            (mix64((docId * 61L + f) * 0x100000001B3L + i) & 0xFF).toByte
          else ((docId * 7 + f * 101 + i * 13) % 256).toByte
        i += 1
      }
      pos += fs
      f += 1
    }
    out
  }

  /** Media table: one record per document, media_type round-robin on
    * doc_id, payload = a real PGM / WAV / Y4M byte stream. Payload
    * bytes are generated inside the partition and never move through a
    * shuffle; at scale this is a parquet binary column scan. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        (id % 3) match {
          case 0 => MediaRecord(id, "image", pgmPayload(id))
          case 1 => MediaRecord(id, "audio", wavPayload(id))
          case _ => MediaRecord(id, "video", y4mPayload(id))
        }
      })
  }

  /** Parsed PGM geometry: dims and the byte offset of the raster. Shared
    * by the feature decoder and [[resize]]. Malformed headers throw. */
  private[graft] def pgmGeometry(docId: Long,
                                 payload: Array[Byte]): (Int, Int, Int) = {
    // header = ASCII tokens: "P5" <w> <h> <maxval> then ONE whitespace byte
    var pos = 0
    def token(): String = {
      while (pos < payload.length && payload(pos).toChar.isWhitespace) pos += 1
      val start = pos
      while (pos < payload.length && !payload(pos).toChar.isWhitespace) pos += 1
      new String(payload, start, pos - start, "US-ASCII")
    }
    require(token() == "P5", s"doc $docId: not a P5 PGM")
    val w = token().toInt
    val h = token().toInt
    val maxval = token().toInt
    require(w > 0 && h > 0, s"doc $docId: bad dimensions ${w}x$h")
    require(maxval == 255, s"doc $docId: unsupported maxval $maxval")
    pos += 1 // the single whitespace after maxval
    // Long arithmetic: an adversarial 65536x65536 header overflows Int
    // w*h to 0 and would otherwise ACCEPT an empty raster
    require(payload.length.toLong - pos == w.toLong * h,
      s"doc $docId: raster is ${payload.length - pos} bytes, expected ${w.toLong * h}")
    (w, h, pos)
  }

  /** REAL PGM (P5) decoder: parses the header (magic, dims, maxval) and
    * computes pixel statistics from the raster — pure JVM, no codec
    * library. Malformed input throws (the FAILFAST analogue). */
  private[graft] def decodePgm(docId: Long, payload: Array[Byte]): MediaFeatures = {
    val (w, h, pos) = pgmGeometry(docId, payload)
    var mn = 255L; var mx = 0L; var sum = 0L
    var i = pos
    while (i < payload.length) {
      val v = (payload(i) & 0xFF).toLong
      if (v < mn) mn = v
      if (v > mx) mx = v
      sum += v
      i += 1
    }
    MediaFeatures(docId, "image", payload.length.toLong, w.toLong, h.toLong,
      (w * h).toLong, mn, mx, sum)
  }

  /** REAL WAV (RIFF/PCM) decoder: validates RIFF/WAVE magic, walks the
    * chunk list to fmt + data, and computes signed-sample statistics —
    * pure JVM, no codec library. Malformed input throws. */
  private[graft] def decodeWav(docId: Long, payload: Array[Byte]): MediaFeatures = {
    val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
    }
    require(fourcc() == "RIFF", s"doc $docId: missing RIFF magic")
    bb.getInt // riff size
    require(fourcc() == "WAVE", s"doc $docId: not a WAVE stream")
    var sampleRate = 0; var bits = 0; var channels = 0
    var mn = Long.MaxValue; var mx = Long.MinValue; var sum = 0L; var n = 0L
    var sawData = false
    while (bb.remaining() >= 8) {
      val id = fourcc(); val size = bb.getInt
      // a negative (or over-long) declared size would move position
      // BACKWARDS and re-parse the same header forever — throw instead
      // of hanging the task
      require(size >= 0 && size <= bb.remaining(),
        s"doc $docId: chunk '$id' declares $size bytes, ${bb.remaining()} remain")
      val chunkStart = bb.position()
      id match {
        case "fmt " =>
          require(size >= 16, s"doc $docId: fmt chunk too short ($size)")
          val fmt = bb.getShort
          require(fmt == 1, s"doc $docId: non-PCM format $fmt")
          channels = bb.getShort.toInt
          sampleRate = bb.getInt
          bb.getInt // byte rate
          bb.getShort // block align
          bits = bb.getShort.toInt
          require(bits == 16, s"doc $docId: unsupported bit depth $bits")
        case "data" =>
          require(sampleRate > 0, s"doc $docId: data chunk before fmt")
          sawData = true
          var i = 0
          while (i < size / 2) {
            val v = bb.getShort.toLong
            if (v < mn) mn = v
            if (v > mx) mx = v
            sum += v; n += 1
            i += 1
          }
        case _ => () // unknown chunk: skipped by the repositioning below
      }
      // reposition to the chunk end + RIFF pad byte (odd-sized chunks are
      // padded to even; consuming size/2 shorts of an odd data chunk, or
      // skipping an odd chunk without its pad, desyncs every later
      // header). A final odd chunk may legally end at EOF without its pad.
      bb.position(math.min(chunkStart.toLong + size + (size & 1), bb.limit().toLong).toInt)
    }
    require(sawData && n > 0, s"doc $docId: no data chunk")
    MediaFeatures(docId, "audio", payload.length.toLong, sampleRate.toLong,
      bits.toLong, n, mn, mx, sum)
  }

  /** Parsed Y4M stream geometry: luma dims, raster bytes per frame, and the
    * byte offset of the first FRAME marker. Shared by the feature decoder
    * and [[frameSample]]'s demuxer. Malformed headers throw. */
  private[graft] def y4mGeometry(docId: Long,
                                 payload: Array[Byte]): (Int, Int, Int, Int) = {
    var pos = 0
    while (pos < payload.length && payload(pos) != '\n') pos += 1
    require(pos < payload.length, s"doc $docId: unterminated Y4M stream header")
    val header = new String(payload, 0, pos, "US-ASCII")
    pos += 1
    val tokens = header.split(' ')
    require(tokens.nonEmpty && tokens(0) == "YUV4MPEG2",
      s"doc $docId: not a YUV4MPEG2 stream")
    // stored WITHOUT the 'C' prefix, like the parsed tokens below — the
    // Y4M default when no C parameter appears is 4:2:0
    var w = -1; var h = -1; var chroma = "420jpeg"
    tokens.iterator.drop(1).filter(_.nonEmpty).foreach { t =>
      t.charAt(0) match {
        case 'W' => w = t.drop(1).toInt
        case 'H' => h = t.drop(1).toInt
        case 'C' => chroma = t.drop(1)
        case _   => () // F/I/A/X parameters don't affect the raster layout
      }
    }
    require(w > 0 && h > 0, s"doc $docId: bad dimensions ${w}x$h")
    require(chroma.startsWith("420"), s"doc $docId: unsupported chroma C$chroma")
    require(w % 2 == 0 && h % 2 == 0,
      s"doc $docId: 4:2:0 subsampling needs even dims, got ${w}x$h")
    // Long arithmetic: adversarial dims must not overflow Int (PGM lesson)
    val fs = w.toLong * h + 2 * (w.toLong / 2) * (h.toLong / 2)
    require(fs <= payload.length, s"doc $docId: one frame ($fs bytes) exceeds payload")
    (w, h, fs.toInt, pos)
  }

  /** REAL Y4M (YUV4MPEG2) decoder: parses the stream header, walks the
    * FRAME-marker/raster sequence, and computes plane-byte statistics over
    * every frame — pure JVM, no codec library (Y4M frames are uncompressed
    * by definition). Malformed or truncated input throws. */
  private[graft] def decodeY4m(docId: Long, payload: Array[Byte]): MediaFeatures = {
    val (w, h, fs, start) = y4mGeometry(docId, payload)
    var pos = start
    var frames = 0L
    var mn = 255L; var mx = 0L; var sum = 0L
    while (pos < payload.length) {
      var eol = pos
      while (eol < payload.length && payload(eol) != '\n') eol += 1
      val marker = new String(payload, pos, eol - pos, "US-ASCII")
      require(eol < payload.length && (marker == "FRAME" || marker.startsWith("FRAME ")),
        s"doc $docId: expected FRAME marker at byte $pos")
      pos = eol + 1
      require(payload.length - pos >= fs,
        s"doc $docId: frame $frames truncated (${payload.length - pos} of $fs bytes)")
      var i = 0
      while (i < fs) {
        val v = (payload(pos + i) & 0xFF).toLong
        if (v < mn) mn = v
        if (v > mx) mx = v
        sum += v
        i += 1
      }
      pos += fs
      frames += 1
    }
    require(frames > 0, s"doc $docId: no frames")
    MediaFeatures(docId, "video", payload.length.toLong, w.toLong, h.toLong,
      frames, mn, mx, sum)
  }

  /** Dispatch decode by declared media type. Explicit cases only: an
    * unknown type must say so, not surface as a baffling Y4M parse
    * error three layers down. */
  private[graft] def decode(r: MediaRecord): MediaFeatures = r.media_type match {
    case "image" => decodePgm(r.doc_id, r.payload)
    case "png"   => decodePng(r.doc_id, r.payload)
    case "jpeg"  => decodeCodecImage(r.doc_id, r.payload, "jpeg")
    case "audio" => decodeWav(r.doc_id, r.payload)
    case "video" => decodeY4m(r.doc_id, r.payload)
    case other => throw new IllegalArgumentException(
      s"doc ${r.doc_id}: unknown media_type '$other' " +
        "(expected image|png|jpeg|audio|video)")
  }

  /** c12: decode/feature-extract over the media table — mapPartitions so a
    * real decoder could amortize per-batch setup (codec contexts, GPU
    * handles) across the partition. Image and audio rows go through REAL
    * binary parsers (PGM/WAV); the oracle recomputes every feature from
    * the closed-form generation formulas, so a decoder that mis-parses a
    * single header byte or sample hash-fails the gate. */
  def c12Multimodal(spark: SparkSession, dir: String): DataFrame =
    decodeDs(mediaTable(spark, dir)).orderBy("doc_id")

  /** c87: media corpus card — c61's release-card pattern applied to the
    * multimodal side: one row per modality folding c12's decoded frame
    * (doc count, payload bytes, decoded units, value range, checksum,
    * 6-dp mean payload size) — the table a curation team reads before
    * shipping a media corpus, and the fold that catches a decoder
    * regression corpus-wide (one flipped sample moves v_sum). Folds the
    * SAME c12 projection the gate verifies (c58's composed-eval rule —
    * the oracle embeds the c12 SQL as a subquery); the mean rounds by
    * the exact-integer half-away-from-zero rule (c80's lesson). One
    * decode pass, map-side-combinable fold to three rows. */
  def c87MediaCard(spark: SparkSession, dir: String): DataFrame =
    cardFold(c12Multimodal(spark, dir)).orderBy("media_type")

  /** The per-modality card fold over a decoded [[MediaFeatures]] frame —
    * THE summary derivation, shared by construction (d29's rule)
    * between batch c87 and d42's running dashboard: map-side-combinable
    * aggregates plus the exact-integer 6-dp mean. Works on batch and
    * streaming frames alike (no sort — callers order or let the
    * complete-mode sink re-emit). */
  private[graft] def cardFold(decoded: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    decoded
      .groupBy("media_type")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("n_units")).as("total_units"),
        min(col("v_min")).as("v_min"),
        max(col("v_max")).as("v_max"),
        sum(col("v_sum")).as("v_sum"))
      // the ×1e6 scale-up runs in decimal(38,0): total_bytes is a corpus-
      // wide per-modality BIGINT sum, so 2*total_bytes*1000000 on bigint
      // silently wraps (non-ANSI Spark) past ~4.6 TB of payload per
      // modality — exactly the corpus size this card exists for. The
      // DuckDB oracle's sum() is already HUGEINT-exact; the decimal cast
      // keeps both engines exact at any corpus size.
      .withColumn("avg_bytes_r",
        expr("(2*cast(total_bytes as decimal(38,0))*1000000 + n_docs)" +
            " div (2*n_docs)")
          .cast("double") / 1e6)
  }

  /** Decode a [[MediaRecord]] frame to [[MediaFeatures]] — c12's body as
    * a reusable seam (batch c12/c87 and d42's ingest decode share it). */
  private[graft] def decodeDs(
      media: org.apache.spark.sql.Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(decode)).toDF()
  }

  /** ImageIO decode with the FAILFAST contract the other decoders keep:
    * malformed or non-image bytes throw (ImageIO.read signals failure by
    * returning null). Shared by the c51 decode and the PNG resize path
    * so a future codec swap happens in exactly one place. */
  private[graft] def readImage(docId: Long,
                               payload: Array[Byte]): java.awt.image.BufferedImage = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, s"doc $docId: payload is not a decodable image")
    img
  }

  /** Encode through the JDK's built-in ImageIO writers — `format` is the
    * informal writer name ("png" → real zlib/DEFLATE, "jpeg" → real lossy
    * DCT). Shared by the transcode and resize paths: the codec swap the
    * c51 design anticipated is exactly this one argument. */
  private[graft] def writeImage(docId: Long, img: java.awt.image.BufferedImage,
                                format: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, format, bos),
      s"doc $docId: no $format writer available")
    bos.toByteArray
  }

  /** PGM → PNG transcode through the JDK's BUILT-IN codec
    * (javax.imageio, present in every JVM — no external library): the
    * parsed grayscale raster is re-encoded as a real zlib/DEFLATE-
    * compressed PNG. PNG is lossless, so the pixels survive exactly;
    * the container is a genuine compressed codec stream, not a
    * codec-free raw raster like PGM/WAV/Y4M. */
  private[graft] def pngTranscode(docId: Long, pgm: Array[Byte]): Array[Byte] =
    rasterTranscode(docId, pgm, "png")

  private[graft] def rasterTranscode(docId: Long, pgm: Array[Byte],
                                     format: String): Array[Byte] = {
    val (w, h, pos) = pgmGeometry(docId, pgm)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, pgm(pos + y * w + x) & 0xFF)
        x += 1
      }
      y += 1
    }
    writeImage(docId, img, format)
  }

  /** REAL compressed-codec image decode via javax.imageio (PNG: inflate +
    * unfilter; JPEG: entropy-decode + IDCT — actual codec work in pure
    * JDK), with pixel statistics over the single gray band. Malformed or
    * non-image bytes throw, matching the other decoders' FAILFAST
    * contract — as does an image OUTSIDE the 8-bit single-band contract
    * (a 16-bit or RGB input would otherwise yield silently wrong stats:
    * band-0-only, min capped at 255). */
  private[graft] def decodeCodecImage(docId: Long, payload: Array[Byte],
                                      mediaType: String): MediaFeatures = {
    val img = readImage(docId, payload)
    val cm = img.getColorModel
    require(cm.getNumComponents == 1 && cm.getComponentSize(0) <= 8,
      s"doc $docId: expected 8-bit single-band grayscale, got " +
        s"${cm.getNumComponents} band(s) of ${cm.getComponentSize(0)} bits")
    val w = img.getWidth; val h = img.getHeight
    val raster = img.getRaster
    var mn = Long.MaxValue; var mx = Long.MinValue; var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = raster.getSample(x, y, 0).toLong
        if (v < mn) mn = v
        if (v > mx) mx = v
        sum += v
        x += 1
      }
      y += 1
    }
    MediaFeatures(docId, mediaType, payload.length.toLong, w.toLong, h.toLong,
      w.toLong * h, mn, mx, sum)
  }

  private[graft] def decodePng(docId: Long, payload: Array[Byte]): MediaFeatures =
    decodeCodecImage(docId, payload, "png")

  /** c51: the compressed-codec image path — every image-typed record is
    * transcoded PGM → PNG (real DEFLATE compression via the JDK codec)
    * and then DECODED BACK through `ImageIO.read`, with raster statistics
    * computed from the decoded pixels. The oracle recomputes the same
    * stats from the closed-form raster formula, so a single mis-decoded
    * pixel anywhere in the compress → decompress loop hash-fails the
    * gate. n_bytes (the DEFLATE output size) is deliberately NOT in the
    * output: it is codec-implementation-defined, which is exactly why the
    * codec-free formats carry c12's byte-accounting instead. Plan shape:
    * the doc_id % 3 type predicate is applied on the scan column BEFORE
    * payload generation, and the whole encode+decode loop is row-local
    * mapPartitions — zero shuffles before the output sort. */
  def c51ImageCodec(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(3)) === 0)
      .as[Long]
      .mapPartitions(_.map { id =>
        decodePng(id, pngTranscode(id, pgmPayload(id)))
      })
      .select(col("doc_id"), col("width"), col("height"), col("n_units"),
        col("v_min"), col("v_max"), col("v_sum"))
      .orderBy("doc_id")
  }

  /** c53: the LOSSY codec row — image-typed records transcoded PGM → JPEG
    * (real DCT quantization + entropy coding via the JDK codec) and
    * decoded back. Unlike c51's lossless loop, decoded pixels are
    * codec-implementation-defined, so the oracle pins the STRUCTURAL
    * decode facts (dims, pixel count, band count — all recomputable
    * closed-form from doc_id) plus a BOUNDED-ERROR verdict: the max
    * |decoded − original| over the raster must stay ≤ `tol`, which the
    * oracle inlines as TRUE. A codec loop that mangles geometry, changes
    * the band layout, or produces wild pixel error hash-fails the gate;
    * exact pixel values are deliberately NOT pinned — lossy codecs don't
    * contract them (c51 carries the pixel-exact family). Same row-local
    * zero-shuffle plan shape as c51. tol=48 dominates the measured JDK
    * worst case: an exhaustive scan of every raster pattern (doc_id over
    * one full 3·16128 period of the (dims, pixel) cycle) maxes at 40. */
  /** The c53/d20 per-record core (twins-share-core rule): PGM → JPEG →
    * decode, structural features + the bounded-error verdict. */
  private[graft] def jpegCodecFeatures(id: Long, pgm: Array[Byte],
                                       tol: Int): (Long, Long, Long, Long, Long, Boolean) = {
    val (w, h, off) = pgmGeometry(id, pgm)
    val img = readImage(id, rasterTranscode(id, pgm, "jpeg"))
    val cm = img.getColorModel
    val raster = img.getRaster
    var maxErr = 0
    if (cm.getNumComponents == 1 && img.getWidth == w && img.getHeight == h) {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val e = math.abs(raster.getSample(x, y, 0) - (pgm(off + y * w + x) & 0xFF))
          if (e > maxErr) maxErr = e
          x += 1
        }
        y += 1
      }
    } else maxErr = Int.MaxValue // geometry/band mismatch: never "ok"
    (id, img.getWidth.toLong, img.getHeight.toLong,
      img.getWidth.toLong * img.getHeight, cm.getNumComponents.toLong,
      maxErr <= tol)
  }

  def c53ImageCodec(spark: SparkSession, dir: String, tol: Int = 48): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(3)) === 1)
      .as[Long]
      .mapPartitions(_.map(id => jpegCodecFeatures(id, pgmPayload(id), tol)))
      .toDF("doc_id", "width", "height", "n_units", "n_bands", "lossy_ok")
      .orderBy("doc_id")
  }

  /** Floor mapping of output index `i` onto an input grid of `inN`
    * elements when emitting `outN` — the nearest-neighbor sampler shared
    * by all three resize paths. */
  private def nnIdx(i: Int, outN: Int, inN: Int): Int =
    (i.toLong * inN / outN).toInt

  /** Nearest-neighbor plane scale: `src` is a w0×h0 byte raster starting
    * at `off`; returns the W×H resample. */
  private def scalePlane(src: Array[Byte], off: Int, w0: Int, h0: Int,
                         W: Int, H: Int): Array[Byte] = {
    val out = new Array[Byte](W * H)
    var y = 0
    while (y < H) {
      val sy = nnIdx(y, H, h0)
      var x = 0
      while (x < W) {
        out(y * W + x) = src(off + sy * w0 + nnIdx(x, W, w0))
        x += 1
      }
      y += 1
    }
    out
  }

  /** Parse a WAV/PCM payload to (sampleRate, samples) — the raster access
    * [[resize]] needs; validation mirrors [[decodeWav]]. */
  private[graft] def wavSamples(docId: Long,
                                payload: Array[Byte]): (Int, Array[Short]) = {
    val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
    }
    require(fourcc() == "RIFF", s"doc $docId: missing RIFF magic")
    bb.getInt
    require(fourcc() == "WAVE", s"doc $docId: not a WAVE stream")
    var sampleRate = 0
    var samples: Array[Short] = null
    while (bb.remaining() >= 8) {
      val id = fourcc(); val size = bb.getInt
      require(size >= 0 && size <= bb.remaining(),
        s"doc $docId: chunk '$id' declares $size bytes, ${bb.remaining()} remain")
      val chunkStart = bb.position()
      id match {
        case "fmt " =>
          require(size >= 16, s"doc $docId: fmt chunk too short ($size)")
          require(bb.getShort == 1, s"doc $docId: non-PCM")
          bb.getShort // channels
          sampleRate = bb.getInt
          bb.getInt; bb.getShort
          require(bb.getShort == 16, s"doc $docId: unsupported bit depth")
        case "data" =>
          require(sampleRate > 0, s"doc $docId: data chunk before fmt")
          samples = new Array[Short](size / 2)
          var i = 0
          while (i < samples.length) { samples(i) = bb.getShort; i += 1 }
        case _ => ()
      }
      // chunk end + RIFF pad byte, exactly like decodeWav
      bb.position(math.min(chunkStart.toLong + size + (size & 1), bb.limit().toLong).toInt)
    }
    require(samples != null && samples.length > 0, s"doc $docId: no data chunk")
    (sampleRate, samples)
  }

  /** REAL resize — decode, nearest-neighbor resample, re-encode, per
    * modality (all three containers are raw rasters/samples, so the full
    * decode→scale→encode loop is pure JVM):
    *  - image: PGM raster scaled to width×height, re-encoded as PGM;
    *  - audio: the 1-D analogue — PCM resampled to width·height samples
    *    (same rate header), re-encoded as WAV;
    *  - video: every frame's luma plane scaled to width×height and chroma
    *    planes to the matching 4:2:0 quarter size (even targets only),
    *    re-encoded as Y4M.
    * Outputs stay VALID containers — the decoders above accept them,
    * which is how the spec verifies this round-trips. A JPEG/MP4 pipeline
    * swaps the codec calls, not the plan. */
  def resize(records: Dataset[MediaRecord], width: Int, height: Int): Dataset[ResizedMedia] = {
    require(width >= 1 && height >= 1, s"bad target ${width}x$height")
    // width*height must not overflow Int (the PGM lesson): 65536×65536
    // wraps to 0 and would emit a "valid-looking" container with an empty
    // raster under an enormous header
    require(width.toLong * height <= Int.MaxValue / 4,
      s"resize target ${width}x$height overflows the raster size")
    import records.sparkSession.implicits._
    records.mapPartitions(_.map { r =>
      val out = r.media_type match {
        case "image" =>
          val (w0, h0, off) = pgmGeometry(r.doc_id, r.payload)
          val header = s"P5\n$width $height\n255\n".getBytes("US-ASCII")
          header ++ scalePlane(r.payload, off, w0, h0, width, height)
        case "png" | "jpeg" =>
          // compressed-codec resize: ImageIO decode → the SAME nnIdx
          // nearest-neighbor resample the raw-raster paths use (Java2D's
          // own scalers are implementation-defined; the shared sampler
          // keeps PNG resize pixel-identical to PGM resize of the same
          // raster, which is how the spec verifies it) → re-encode in the
          // record's own codec
          val img = readImage(r.doc_id, r.payload)
          val (w0, h0) = (img.getWidth, img.getHeight)
          val in = img.getRaster
          val outImg = new java.awt.image.BufferedImage(
            width, height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val outR = outImg.getRaster
          var y = 0
          while (y < height) {
            val sy = nnIdx(y, height, h0)
            var x = 0
            while (x < width) {
              outR.setSample(x, y, 0, in.getSample(nnIdx(x, width, w0), sy, 0))
              x += 1
            }
            y += 1
          }
          writeImage(r.doc_id, outImg, r.media_type)
        case "audio" =>
          val (rate, s0) = wavSamples(r.doc_id, r.payload)
          val n = width * height
          val bb = java.nio.ByteBuffer.allocate(44 + 2 * n)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * n)
            .put("WAVE".getBytes("US-ASCII"))
            .put("fmt ".getBytes("US-ASCII")).putInt(16)
            .putShort(1).putShort(1).putInt(rate)
            .putInt(rate * 2).putShort(2).putShort(16)
            .put("data".getBytes("US-ASCII")).putInt(2 * n)
          var i = 0
          while (i < n) { bb.putShort(s0(nnIdx(i, n, s0.length))); i += 1 }
          bb.array()
        case "video" =>
          require(width % 2 == 0 && height % 2 == 0,
            s"doc ${r.doc_id}: 4:2:0 video resize needs even targets, got ${width}x$height")
          val (w0, h0, fs, start) = y4mGeometry(r.doc_id, r.payload)
          val (cw0, ch0) = (w0 / 2, h0 / 2)
          val (cw, ch) = (width / 2, height / 2)
          val header =
            s"YUV4MPEG2 W$width H$height F25:1 Ip A1:1 C420jpeg\n".getBytes("US-ASCII")
          val marker = "FRAME\n".getBytes("US-ASCII")
          val outBuf = new java.io.ByteArrayOutputStream()
          outBuf.write(header)
          var pos = start
          while (pos < r.payload.length) {
            var eol = pos
            while (eol < r.payload.length && r.payload(eol) != '\n') eol += 1
            require(eol < r.payload.length, s"doc ${r.doc_id}: bad FRAME marker")
            pos = eol + 1
            require(r.payload.length - pos >= fs, s"doc ${r.doc_id}: truncated frame")
            outBuf.write(marker)
            outBuf.write(scalePlane(r.payload, pos, w0, h0, width, height))
            outBuf.write(scalePlane(r.payload, pos + w0 * h0, cw0, ch0, cw, ch))
            outBuf.write(scalePlane(r.payload, pos + w0 * h0 + cw0 * ch0, cw0, ch0, cw, ch))
            pos += fs
          }
          outBuf.toByteArray
        case other =>
          // same explicit-dispatch contract as decode(): an unknown type
          // must say so here, not fail as a baffling Y4M parse error
          throw new IllegalArgumentException(
            s"doc ${r.doc_id}: unknown media_type '$other' " +
              "(expected image|png|jpeg|audio|video)")
      }
      ResizedMedia(r.doc_id, r.media_type, width, height, out)
    })
  }

  /** REAL frame sampling — demuxes the Y4M container on true frame
    * boundaries (stream header, then FRAME marker + fixed-size 4:2:0
    * raster per frame) and keeps every `everyNth` frame's raw planes.
    * Video records only; one output row per sampled frame (the explode
    * shape a 100 TB video pipeline shuffles by). */
  def frameSample(records: Dataset[MediaRecord],
                  everyNth: Int): Dataset[MediaFrame] = {
    require(everyNth >= 1, s"everyNth must be >= 1, got $everyNth")
    import records.sparkSession.implicits._
    records.filter(_.media_type == "video").mapPartitions(_.flatMap { r =>
      val (_, _, fs, start) = y4mGeometry(r.doc_id, r.payload)
      // same marker/truncation validation as decodeY4m: a corrupted
      // marker or short final frame must throw, not silently emit frames
      // at shifted offsets (rasters legitimately contain '\n' bytes)
      val frames = scala.collection.mutable.ArrayBuffer[MediaFrame]()
      var pos = start
      var f = 0
      while (pos < r.payload.length) {
        var eol = pos
        while (eol < r.payload.length && r.payload(eol) != '\n') eol += 1
        val marker = new String(r.payload, pos, eol - pos, "US-ASCII")
        require(eol < r.payload.length &&
          (marker == "FRAME" || marker.startsWith("FRAME ")),
          s"doc ${r.doc_id}: expected FRAME marker at byte $pos")
        pos = eol + 1
        require(r.payload.length - pos >= fs,
          s"doc ${r.doc_id}: frame $f truncated (${r.payload.length - pos} of $fs bytes)")
        if (f % everyNth == 0)
          frames += MediaFrame(r.doc_id, f.toLong,
            java.util.Arrays.copyOfRange(r.payload, pos, pos + fs))
        pos += fs
        f += 1
      }
      frames.iterator
    })
  }

  // ---- c88–c91 (r15): perceptual-hash media near-dup — c3's SimHash
  // ---- machinery pointed at pixels/samples/frames: dHash over the
  // ---- decoded, resized frame, banded Hamming equi-join, exact
  // ---- per-pixel verify confined to collided pairs (c81's shape).
  // ---- Ref: bolson has no media or dedup surface (its payloads stop
  // ---- at Arrow conversion, src/bolson/convert/*); this family
  // ---- extends the LLM-pipeline side (Krawetz's dHash, the standard
  // ---- multimodal training-data dedup primitive).

  /** 56-bit dHash of an 8×8 grayscale raster: bit r·7+c is set iff
    * pixel (r,c) < pixel (r,c+1) — the gradient-sign fingerprint
    * (DCT-free; Krawetz's dHash). 8 rows × 7 adjacent-column
    * comparisons = 56 bits, which keeps the hash STRICTLY POSITIVE in
    * a signed 64-bit word — Spark bigint and DuckDB BIGINT carry it
    * with no sign games (the c3 gate's 32-bit lesson, one size up;
    * 2⁶³ would wrap). All integer math ⇒ fully oracle-able. */
  private[graft] def dhash56(gray8: Array[Byte]): Long = {
    require(gray8.length == 64, s"dhash56 needs an 8x8 raster, got ${gray8.length}")
    var hash = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 7) {
        if ((gray8(r * 8 + c) & 0xFF) < (gray8(r * 8 + c + 1) & 0xFF))
          hash |= 1L << (r * 7 + c)
        c += 1
      }
      r += 1
    }
    hash
  }

  /** Decoded 8×8 grayscale thumbnail of an image payload — PGM through
    * the raw-raster parse, PNG/JPEG through the JDK codecs — via the
    * SAME nnIdx nearest-neighbor sampler every resize path uses (one
    * sampler, so a PGM and its lossless PNG transcode thumbnail
    * pixel-identically — the re-encode-stability spec's anchor). */
  private[graft] def gray8Of(docId: Long, mediaType: String,
                             payload: Array[Byte]): Array[Byte] = mediaType match {
    case "image" =>
      val (w, h, off) = pgmGeometry(docId, payload)
      scalePlane(payload, off, w, h, 8, 8)
    case "png" | "jpeg" =>
      val img = readImage(docId, payload)
      val cm = img.getColorModel
      require(cm.getNumComponents == 1 && cm.getComponentSize(0) <= 8,
        s"doc $docId: expected 8-bit single-band grayscale, got " +
          s"${cm.getNumComponents} band(s) of ${cm.getComponentSize(0)} bits")
      val in = img.getRaster
      val out = new Array[Byte](64)
      var y = 0
      while (y < 8) {
        val sy = nnIdx(y, 8, img.getHeight)
        var x = 0
        while (x < 8) {
          out(y * 8 + x) = in.getSample(nnIdx(x, 8, img.getWidth), sy, 0).toByte
          x += 1
        }
        y += 1
      }
      out
    case other => throw new IllegalArgumentException(
      s"doc $docId: perceptual hash is image-only, got media_type '$other'")
  }

  /** 56-bit delta-sign hash of a 57-point sample sequence — the 1-D
    * dHash (c90's audio analogue of the image gradient hash): bit j is
    * set iff sample j < sample j+1. Same positive-BIGINT carriage and
    * banding as [[dhash56]]. */
  private[graft] def dhashSeq56(vals: Array[Int]): Long = {
    require(vals.length == 57, s"dhashSeq56 needs 57 points, got ${vals.length}")
    var hash = 0L
    var j = 0
    while (j < 56) {
      if (vals(j) < vals(j + 1)) hash |= 1L << j
      j += 1
    }
    hash
  }

  /** The 57-point nnIdx-resampled envelope of one WAV payload — THE
    * envelope derivation (d29's rule), shared by the hash ([[audioPhashOf]])
    * and c93's exact pair verify: the hash is the envelope's delta signs,
    * so the L1 the pair surface thresholds is over the SAME points the
    * colliding hashes were built from. */
  private[graft] def audioEnv57(docId: Long, payload: Array[Byte]): Array[Int] = {
    val (_, s) = wavSamples(docId, payload)
    Array.tabulate(57)(j => s(nnIdx(j, 57, s.length)).toInt)
  }

  /** Audio perceptual hash: the REAL RIFF/PCM parse → nnIdx resample to
    * 57 samples → delta-sign bits. The coarse envelope shape survives
    * resampling/re-encoding the way image gradients survive re-encode —
    * the 1-D member of the perceptual-dedup family. */
  private[graft] def audioPhashOf(docId: Long, payload: Array[Byte]): Long =
    dhashSeq56(audioEnv57(docId, payload))

  /** The perceptual hash of one media record — THE hash derivation,
    * shared by construction (d29's rule) between the batch gates
    * (c88 image, c90 audio) and d43's streaming router: images through
    * the 2-D gradient dHash, audio through the 1-D delta-sign hash.
    * Video refuses (no perceptual hash is defined for it here). */
  private[graft] def phashOf(docId: Long, mediaType: String,
                             payload: Array[Byte]): Long = mediaType match {
    case "audio" => audioPhashOf(docId, payload)
    case _       => dhash56(gray8Of(docId, mediaType, payload))
  }

  /** Band j (of 4) of a 56-bit phash: 14-bit segments — pigeonhole: a
    * pair at Hamming ≤ 3 leaves at least one of 4 segments intact, so
    * the segment equi-join finds ALL such pairs (simhashPairs' bound,
    * same argument). */
  private[graft] def phashSeg(h: org.apache.spark.sql.Column,
                              j: Int): org.apache.spark.sql.Column =
    shiftright(h, j * 14).bitwiseAND(0x3FFFL)

  /** The 4 band segments of a phash column, in band order. */
  private[graft] def phashSegs(h: Column): Seq[Column] =
    (0 until 4).map(j => phashSeg(h, j))

  /** [[phashSegs]] as the seg0..seg3 columns of the hash tables (c88/c90,
    * the memo index, `Main phash`). */
  private[graft] def phashSegCols(h: Column): Seq[Column] =
    phashSegs(h).zipWithIndex.map { case (s, j) => s.as(s"seg$j") }

  /** One (pos, col) row per band of a phash column — the band keys every
    * banded phash join equi-joins on, once renamed (seg_idx, seg). */
  private[graft] def phashBands(h: Column): Column =
    posexplode(array(phashSegs(h): _*))

  /** Canonical-band emission: a pair colliding at band `seg_idx` passes
    * only if no earlier band of (ha, hb) matched, so a pair colliding in
    * k bands is emitted once — a codegen'd filter, never a distinct
    * shuffle. `seg` splits a hash into `bands` segments (default: the 4
    * phash bands). */
  private[graft] def noEarlierBand(ha: Column, hb: Column, bands: Int = 4,
                                   seg: (Column, Int) => Column = phashSeg): Column =
    (0 until bands - 1).map(k =>
      (col("seg_idx") <= lit(k)) || (seg(ha, k) =!= seg(hb, k))).reduce(_ && _)

  /** Per-image (doc_id, phash, gray) frames: the REAL decode → resample
    * → hash pass (the oracle recomputes every bit closed-form from the
    * generation formula, so one mis-parsed header byte or a sampler
    * off-by-one hash-fails the gate). Scan-side doc_id % 3 predicate
    * ahead of the codec mapPartitions (c51's plan shape); gray rides
    * along for the exact-pixel verify. */
  private[graft] def imagePhashFrames(spark: SparkSession,
                                      dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(3)) === 0)
      .as[Long]
      .mapPartitions(_.map { id =>
        val g = gray8Of(id, "image", pgmPayload(id))
        (id, dhash56(g), g.map(b => (b & 0xFF).toLong).toSeq)
      })
      .toDF("doc_id", "phash", "gray")
  }

  /** c88 gate row: per image doc, the 56-bit dHash + its 4 Hamming-band
    * segments (c3's gate shape — per-doc hashes are the deterministic,
    * always-nonempty surface; the PAIR machinery is [[phashPairs]],
    * spec-pinned like simhashPairs). */
  def c88ImagePhash(spark: SparkSession, dir: String): DataFrame =
    imagePhashFrames(spark, dir)
      .select(col("doc_id") +: col("phash") +:
        phashSegCols(col("phash")): _*)
      .orderBy("doc_id")

  /** Perceptual near-dup pairs: banded Hamming equi-join (candidates =
    * pairs sharing ≥ 1 of 4 segments — complete for hamming ≤ 3 by
    * pigeonhole, O(n·bands) never all-pairs) + EXACT per-pixel verify
    * confined to the collided pairs (c81's shape): pix_l1 is the exact
    * integer L1 distance over the two 8×8 thumbnails, the number a
    * dedup policy thresholds when the hash alone is too coarse. */
  /** Stage 1 of the perceptual pair surface — banded Hamming candidates
    * on HASHES ONLY: a pair colliding in k of 4 segments appears k times
    * in the join, so everything per-joined-row must be cheap (one
    * codegen'd bit_count) and payloads/thumbnails must NOT ride the
    * join (the first c89 cut carried the 64-px arrays and paid the L1
    * up to 4× per pair — 6.1 s at sf0.1); the canonical-band filter
    * below dedups WITHOUT a distinct shuffle. `keyCols` adds extra
    * equi-keys to the banding (the CLI bands per media_type — an image
    * gradient hash and an audio envelope hash must never pair). Shared
    * by [[phashPairs]] and `Main phash --pairs` (d29's rule). */
  /** Stage 0 of the banded pair machinery (r20, guide §2.3/§8): candidate
    * HASH pairs at DISTINCT-HASH grain. Input must be distinct
    * (keyCols…, phash) rows; returns (keyCols…, ha, hb, hamming) with
    * ha <= hb canonical (the (h, h) self-pair rides for identical-hash
    * clusters) and hamming <= maxHamming exact.
    *
    * Why hash grain: duplicate-hash clusters are the NORM on a dedup
    * surface (the sf0.1 audio table: 1,667 docs over 33 distinct
    * hashes), and the old doc-grain band join exploded quadratically in
    * cluster size BEFORE the canonical-band filter could drop anything —
    * measured 15M joined rows for c94's 16k-pair output. At hash grain
    * the band join explodes over distinct hashes only; doc pairs
    * materialize exactly once, in the output-sized expansion joins of
    * [[phashCandidates]]. A corpus of all-unique hashes pays one extra
    * map-side-combinable distinct over 8-byte keys for the same join.
    *
    * The explicit-N repartition on the join keys stays (r16): the hash
    * table is tiny byte-wise, so AQE would coalesce its shuffle to ONE
    * partition and run the join's output explosion single-threaded —
    * join-output size is invisible to AQE's input-byte heuristics.
    * Canonical-band emission (r16): a pair colliding in k of 4 segments
    * is emitted ONLY at its first matching segment — "no earlier band
    * matched" is a codegen'd filter, never a distinct shuffle. */
  private[graft] def phashHashPairs(uniq: DataFrame, maxHamming: Int,
                                    keyCols: Seq[String] = Nil): DataFrame = {
    graft.operators.Dedup.requireFourBandRecall(maxHamming)
    val n = uniq.sparkSession.sessionState.conf.numShufflePartitions
    val seg = uniq.select(Seq(col("phash"), phashBands(col("phash"))) ++
        keyCols.map(col): _*)
      .withColumnRenamed("pos", "seg_idx").withColumnRenamed("col", "seg")
    val keys = Seq("seg_idx", "seg") ++ keyCols
    // r21 (§2.4): the explicit-N fan-out (join-output explosion is
    // invisible to AQE's input-byte heuristics — the r16 lesson) rides
    // the PROBE side only. The build side broadcasts at eval scale, and
    // an Exchange feeding a BroadcastExchange is pure overhead (the
    // dimension-table rule); at scale, where the planner picks SMJ/SHJ
    // instead, it inserts the build side's hash exchange itself — same
    // cost as the old explicit one, one stage cheaper when broadcast.
    seg.repartition(n, keys.map(col): _*)
      .select((Seq(col("phash").as("ha")) ++ keys.map(col)): _*)
      .join(seg.select((Seq(col("phash").as("hb")) ++ keys.map(col)): _*), keys)
      .filter(col("ha") <= col("hb"))
      .filter(noEarlierBand(col("ha"), col("hb")))
      .select(keyCols.map(col) ++ Seq(col("ha"), col("hb"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("bigint").as("hamming")): _*)
      .filter(col("hamming") <= maxHamming)
  }

  private[graft] def phashCandidates(hashes: DataFrame, maxHamming: Int,
                                     keyCols: Seq[String] = Nil,
                                     spreadBuckets: Int = 1): DataFrame = {
    // band at distinct-hash grain ([[phashHashPairs]]), then re-attach
    // docs by two output-sized hash equi-joins. Each unordered doc pair
    // appears exactly once: a doc belongs to one hash group, the hash
    // pair is canonical (ha <= hb), and identical-hash pairs dedup by
    // doc_a < doc_b inside their group.
    val gcols = keyCols :+ "phash"
    val uniq = hashes.select(gcols.map(col): _*).distinct()
    val hp = phashHashPairs(uniq, maxHamming, keyCols)
    val da = hashes.select(keyCols.map(col) ++
      Seq(col("doc_id").as("doc_a"), col("phash").as("ha")): _*)
    val db = hashes.select(keyCols.map(col) ++
      Seq(col("doc_id").as("doc_b"), col("phash").as("hb")): _*)
    // spread the attach expansions when the corpus is cliquey —
    // [[spreadAttach]]'s r21 §2.5 design
    spreadAttach(hp, da, db, Seq("ha") ++ keyCols, Seq("hb") ++ keyCols,
        spreadBuckets, "doc_a")
      .filter(col("ha") =!= col("hb") || col("doc_a") < col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("hamming"))
  }

  /** Connected components of the phash near-dup graph at DISTINCT-HASH
    * grain: the (node, cluster_id) label table that
    * `connectedComponentsAlternating(phashCandidates(hashes, maxHamming,
    * keyCols))` returns, row for row, without forming doc pairs.
    *
    * Docs sharing a (keyCols…, phash) group are always connected
    * (hamming 0 ≤ maxHamming), so each group is one node named by its
    * smallest doc id (`rep`) — a component's minimum rep is then its
    * minimum doc id, the doc-grain label. CC runs over the rep graph of
    * [[phashHashPairs]]' distinct-hash pairs (self-pairs dropped), and the
    * docs attach once: cluster_id = the rep's label, or the rep itself for
    * a group with no neighbouring hash. Docs whose component holds a
    * single doc are absent, as in the doc-grain table (its CC labels only
    * nodes that appear in an edge). A clique of k docs over one hash costs
    * one node here where the doc graph held k(k-1)/2 edges; keyCols are
    * part of the group, so hashes of different media types never meet. */
  private[graft] def phashClusterLabels(hashes: DataFrame, maxHamming: Int,
                                        keyCols: Seq[String] = Nil): DataFrame = {
    val gcols = keyCols :+ "phash"
    val rep = hashes.groupBy(gcols.map(col): _*)
      .agg(min("doc_id").as("rep"), count(lit(1)).as("docs"))
    def repOf(h: String, node: String): DataFrame =
      rep.select(keyCols.map(col) ++ Seq(col("phash").as(h), col("rep").as(node)): _*)
    val edges = phashHashPairs(rep.select(gcols.map(col): _*), maxHamming, keyCols)
      .filter(col("ha") =!= col("hb"))
      .join(repOf("ha", "u"), keyCols :+ "ha")
      .join(repOf("hb", "v"), keyCols :+ "hb")
      .select("u", "v")
    val labels = graft.operators.Dedup.connectedComponentsAlternating(edges)._1
      .withColumnRenamed("node", "rep")
    hashes.select((gcols :+ "doc_id").map(col): _*)
      .join(rep, gcols)
      .join(labels, Seq("rep"), "left")
      .filter(col("docs") >= 2 || col("cluster_id").isNotNull)
      .select(col("doc_id").as("node"),
        coalesce(col("cluster_id"), col("rep")).as("cluster_id"))
  }

  /** New-touching banded candidates at hash grain (r16, c103): the
    * LEFT side is the crawl only, the RIGHT side is crawl ∪ corpus —
    * so corpus×corpus pairs are never formed (the maintenance cost
    * contract: per-crawl work scales with the batch, never the corpus
    * squared). Same canonical-band emission and explicit-N repartition
    * as [[phashCandidates]]; NN pairs dedup by doc_a < doc_b, NE pairs
    * appear once by construction (the corpus never sits on the left).
    * Returns normalized (u, v) edges at hamming ≤ maxHamming. */
  /** Stage 0 of the SPLIT pair machinery (r20 — [[phashHashPairs]]'s
    * shape for the incremental path): candidate HASH pairs with the
    * crawl's distinct hashes on the LEFT and the merged (crawl ∪ corpus)
    * distinct hashes on the RIGHT — corpus×corpus hash pairs are never
    * formed. The sides are asymmetric, so pairs are ORDERED (ha, hb) —
    * no hash-order canonicalization here; the per-ordered-pair
    * first-band filter dedups, and doc-grain/consumer folds canonicalize
    * after expansion. Inputs must be distinct (keyCols…, phash) rows. */
  private[graft] def phashHashPairsSplit(newUniq: DataFrame,
                                         unionUniq: DataFrame,
                                         maxHamming: Int,
                                         keyCols: Seq[String] = Nil): DataFrame = {
    graft.operators.Dedup.requireFourBandRecall(maxHamming)
    val n = newUniq.sparkSession.sessionState.conf.numShufflePartitions
    def segOf(uniq: DataFrame): DataFrame = uniq
      .select(Seq(col("phash"), phashBands(col("phash"))) ++ keyCols.map(col): _*)
      .withColumnRenamed("pos", "seg_idx").withColumnRenamed("col", "seg")
    val keys = Seq("seg_idx", "seg") ++ keyCols
    val left = segOf(newUniq)
      .select(Seq(col("phash").as("ha")) ++ keys.map(col): _*)
      .repartition(n, keys.map(col): _*)
    val right = segOf(unionUniq)
      .select(Seq(col("phash").as("hb")) ++ keys.map(col): _*)
      .repartition(n, keys.map(col): _*)
    left.join(right, keys)
      .filter(noEarlierBand(col("ha"), col("hb")))
      .select(keyCols.map(col) ++ Seq(col("ha"), col("hb"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("bigint").as("hamming")): _*)
      .filter(col("hamming") <= maxHamming)
  }

  private[graft] def phashCandidatesSplit(newHashes: DataFrame,
                                          corpusHashes: DataFrame,
                                          maxHamming: Int,
                                          keyCols: Seq[String] = Nil,
                                          spreadBuckets: Int = 1): DataFrame = {
    // band at distinct-hash grain ([[phashHashPairsSplit]]), then
    // re-attach docs: the crawl's docs expand the left hash, the merged
    // set's docs (with their per-doc is_new flag) expand the right. NN
    // pairs appear under both hash orders and dedup by doc_a < doc_b;
    // NE pairs appear once (the corpus never sits on the left) — the
    // same emission the old doc-grain join produced, row for row.
    // project both inputs to the columns this machinery uses — callers
    // may hand frames with extra payload columns (the r20 at-rest hash
    // tables carry the verify arrays), and the is_new union below is
    // positional in spirit
    val icols = keyCols ++ Seq("doc_id", "phash")
    val nhp = newHashes.select(icols.map(col): _*)
    val chp = corpusHashes.select(icols.map(col): _*)
    val gcols = keyCols :+ "phash"
    val newUniq = nhp.select(gcols.map(col): _*).distinct()
    val unionUniq = nhp.select(gcols.map(col): _*)
      .unionByName(chp.select(gcols.map(col): _*)).distinct()
    val hp = phashHashPairsSplit(newUniq, unionUniq, maxHamming, keyCols)
    val da = nhp.select(keyCols.map(col) ++
      Seq(col("doc_id").as("doc_a"), col("phash").as("ha")): _*)
    val db = nhp.withColumn("is_new", lit(true))
      .unionByName(chp.withColumn("is_new", lit(false)))
      .select(keyCols.map(col) ++ Seq(col("doc_id").as("doc_b"),
        col("phash").as("hb"), col("is_new")): _*)
    // spread the attach expansions when the crawl is cliquey —
    // [[spreadAttach]]'s r21 §2.5 design
    spreadAttach(hp, da, db, Seq("ha") ++ keyCols, Seq("hb") ++ keyCols,
        spreadBuckets, "doc_a")
      .filter(!col("is_new") || col("doc_a") < col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("u"),
        greatest(col("doc_a"), col("doc_b")).as("v"))
  }

  /** Incremental MEDIA cluster maintenance (r16, c103 — c95's theorem
    * at hash grain): union a crawl's new-touching verified edges into
    * the FROZEN media label table and re-run CC confined to touched
    * components via the SAME [[graft.operators.Dedup.maintainLabels]]
    * core the text table uses. Because labels are canonical component
    * minima, add-then-maintain EQUALS a full re-cluster of the merged
    * hash set row for row — the c103 gate row's ORACLE is that full
    * re-cluster, so the equivalence is engine-checked every round. */
  def incrementalMediaClusters(newHashes: DataFrame,
                               corpusHashes: DataFrame,
                               frozenLabels: DataFrame,
                               maxHamming: Int = 3,
                               keyCols: Seq[String] = Nil): DataFrame = {
    // persist both inputs for the run (the materialize-once cost
    // contract, incrementalClusters' rule): the crawl side feeds the
    // clash check + both band sides, the corpus side the clash check +
    // its band side — a lazy frame backed by a decode mapPartitions
    // would re-decode the corpus per consumer
    // project to the hash-table columns first: callers may hand frames
    // with extra payload columns (the r20 at-rest tables carry verify
    // arrays), and persisting those would pin payload bytes for nothing
    val icols = keyCols ++ Seq("doc_id", "phash")
    val nh = newHashes.select(icols.map(col): _*).persist()
    val ch = corpusHashes.select(icols.map(col): _*).persist()
    try {
      val clash = nh.select("doc_id")
        .join(ch.select("doc_id"), "doc_id").limit(1).count()
      require(clash == 0L,
        "incrementalMediaClusters: new doc_ids overlap the corpus — " +
          "re-key the crawl (recrawl replays arrive re-keyed, c37's rule)")
      graft.operators.Dedup.maintainLabels(
        phashCandidatesSplit(nh, ch, maxHamming, keyCols), frozenLabels)
    } finally { nh.unpersist(); ch.unpersist(); () }
  }

  /** r21 (§2.5) — the banded-pair doc-attach with an optional EXPANSION
    * SPREAD. The two attach joins multiply each hash-pair row by
    * docs(ha)·docs(hb); hp leaves the banded self-join partitioned by
    * (seg_idx, seg), and on a self-similar corpus most pairs share the
    * common segment values, so most of the output expands INSIDE one
    * task (the sf1.0 probe read a 99-second 1-task stage and 147 s of
    * GC on c93; join-output skew is invisible to AQE's input-byte
    * heuristics — the r16 lesson). With `buckets > 1` each hash-pair
    * row explodes into that many spread buckets and the FIRST attach
    * side joins on (hash, bucket-of-doc-id): a dominant clique's
    * expansion — including its SELF-pair, a single hp row — lands on
    * `buckets` distinct partition keys, the exchange stays
    * |hash pairs|·buckets rows of longs, and the join output is
    * row-identical (each doc belongs to exactly one bucket).
    *
    * The spread is OPT-IN because it only pays on CLIQUEY surfaces
    * (docs ≫ distinct hashes — audio/image eval corpora, exact-dup
    * storms). Measured at sf0.1 and rejected as a blanket rule: on the
    * DIFFUSE video frame surface (docs ≈ hashes, so |hp| ≈ |output|)
    * the hp exchange is output-sized and c120 regressed ~50% under
    * every unconditional variant (intermediate repartition, pair
    * re-key, unconditional bucket split), while cliquey c93 improved
    * 1.65 → 0.61 s. Callers decide from the corpus shape they already
    * know: memo-backed rows read docs/hashes row counts from parquet
    * footers, c120's stats job counts both. */
  private[graft] def spreadAttach(hp: DataFrame, da: DataFrame,
                                  db: DataFrame,
                                  aKeys: Seq[String], bKeys: Seq[String],
                                  buckets: Int, aId: String): DataFrame =
    if (buckets <= 1) hp.join(da, aKeys).join(db, bKeys)
    else {
      val n = hp.sparkSession.sessionState.conf.numShufflePartitions
      val hpS = hp.withColumn("sb",
          explode(array((0 until buckets).map(i => lit(i.toLong)): _*)))
        .repartition(n, (aKeys ++ bKeys ++ Seq("sb")).map(col): _*)
      val daS = da.withColumn("sb",
        pmod(xxhash64(col(aId)), lit(buckets.toLong)))
      hpS.join(daS, aKeys :+ "sb").join(db, bKeys).drop("sb")
    }

  /** Bucket count for [[spreadAttach]] on VALUE-CARRYING expansions
    * ([[phashPairs]]'s L1 arrays), from the corpus shape: spread to
    * the session's shuffle parallelism when the surface is cliquey
    * (docs-per-distinct-hash ≥ 8 — audio/image eval corpora read ~50,
    * the diffuse video frame surface ~1.2), stay at 1 otherwise.
    * Measured −52% c93 at sf0.1 AND −90% at sf1.0. ID-ONLY expansions
    * (c120's candidates/truth) price on the dominant CLIQUE size
    * instead — see [[phashRecallSampledTagged]]. */
  private[graft] def spreadFor(spark: SparkSession,
                               docRows: Long, hashRows: Long): Int =
    if (hashRows > 0L && docRows / hashRows >= 8L)
      spark.sessionState.conf.numShufflePartitions
    else 1

  private[graft] def phashPairs(frames: DataFrame,
                                maxHamming: Int = 3,
                                valueCol: String = "gray",
                                l1Name: String = "pix_l1",
                                uniqHashes: Option[DataFrame] = None,
                                spreadBuckets: Int = 1): DataFrame = {
    // NOTE (r20, measured and rejected): materializing the decoded frame
    // table once per run (the c27/c119 seam) REGRESSED this family ~2×
    // at sf0.1 — the five consumers' duplicate decodes execute in
    // PARALLEL plan branches on idle cores, while a materialization
    // barrier serializes decode → write → read. Duplicate-subtree
    // elimination only pays when the branches were already serialized
    // (c119's sampling/aggregation barriers) or the subtree dominates
    // total cpu (c27's four full-table scans).
    val f = frames
    // stage 2 — the exact per-point verify, ONCE per surviving pair
    // (c81's confinement): the value arrays (pixel thumbnails / audio
    // envelopes) ride the SAME two hash-attach joins that expand hash
    // pairs to doc pairs (r20, guide §2.4: the first cut attached docs
    // and values in FOUR joins — six executions of the decode subtree;
    // folding each side's doc_id and value into one join halves both).
    // The L1 is the native codegen'd graft_l1 (one fused long loop —
    // the interpreted aggregate∘zip_with lambda was the hot loop of the
    // suite's most expensive row; exact integer math, value-identical);
    // graft_l1 is symmetric, so it is computed BEFORE the least/greatest
    // id canonicalization — the value is identical either way.
    // r21 (§2.4, the r20 verdict's stage-cut item): the live
    // `distinct(phash)` subtree was planned ONCE PER SIDE of the banded
    // self-join (scan + partial agg + exchange + final agg, twice — AQE
    // does not reuse the exchange across the broadcast/probe split).
    // Memo-backed callers hand the at-rest distinct-hash projection
    // instead (built once per (JVM, dir) next to the hash table itself —
    // at scale, the hash index's bucket manifest), so each side is a
    // bare scan of a tiny parquet.
    val uniq = uniqHashes.getOrElse(f.select(col("phash")).distinct())
    val hp = phashHashPairs(uniq, maxHamming)
    val fa = f.select(col("doc_id").as("ida"), col("phash").as("ha"),
      col(valueCol).as("ga"))
    val fb = f.select(col("doc_id").as("idb"), col("phash").as("hb"),
      col(valueCol).as("gb"))
    // r21 (§2.5): [[spreadAttach]] spreads the doc expansion when the
    // caller's corpus shape warrants it (cliquey modalities — see the
    // helper's doc for the measured design space).
    spreadAttach(hp, fa, fb, Seq("ha"), Seq("hb"), spreadBuckets, "ida")
      .filter(col("ha") =!= col("hb") || col("ida") < col("idb"))
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"), col("hamming"),
        graft.functions.VectorFunctions.l1(col("ga"), col("gb")).as(l1Name))
      .orderBy("doc_a", "doc_b")
  }

  /** c89 gate row: the perceptual near-dup PAIR surface, oracled — the
    * banded candidates + exact per-pixel verify of [[phashPairs]],
    * promoted from spec-only to a DuckDB-gated row (the oracle composes
    * the c88 hash SQL for the banding and re-derives pix_l1 from the
    * closed-form thumbnails — c58's composed-eval rule). */
  def c89PhashPairs(spark: SparkSession, dir: String): DataFrame =
    // r20: the pair surface reads the memoized at-rest (doc_id, phash,
    // gray) index (the c105/c108 rule — the decode ran once when the
    // memo was built; the live per-execution decode fed FOUR separate
    // plan subtrees here)
    phashPairs(spark.read.parquet(phashIndexTablePath(spark, dir))
      .select("doc_id", "phash", "gray"),
      uniqHashes = Some(spark.read.parquet(uniqHashTablePath(spark, dir,
        "image", phashIndexTablePath(spark, dir)))),
      // footer row counts price the expansion spread (r21 §2.5)
      spreadBuckets = spreadFor(spark,
        graft.Tables.parquetRowCount(phashIndexTablePath(spark, dir)),
        graft.Tables.parquetRowCount(uniqHashTablePath(spark, dir,
          "image", phashIndexTablePath(spark, dir)))))

  /** c90 gate row: per audio doc, the 56-bit delta-sign perceptual hash
    * + its 4 Hamming-band segments — c88's shape for the 1-D modality
    * (the REAL RIFF parse feeds the hash; the oracle recomputes every
    * bit closed-form from the sample-generation formula). */
  def c90AudioPhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(3)) === 1)
      .as[Long]
      .mapPartitions(_.map(id => (id, audioPhashOf(id, wavPayload(id)))))
      .toDF("doc_id", "phash")
      .select(col("doc_id") +: col("phash") +:
        phashSegCols(col("phash")): _*)
      .orderBy("doc_id")
  }

  /** Per-audio (doc_id, phash, env) frames for the pair surface: the
    * REAL RIFF parse → shared 57-point envelope → delta-sign hash; the
    * envelope rides along (as array<bigint>) for c93's exact verify —
    * imagePhashFrames' shape for the 1-D modality. */
  private[graft] def audioPhashFrames(spark: SparkSession,
                                      dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(3)) === 1)
      .as[Long]
      .mapPartitions(_.map { id =>
        val env = audioEnv57(id, wavPayload(id))
        (id, dhashSeq56(env), env.map(_.toLong).toSeq)
      })
      .toDF("doc_id", "phash", "env")
  }

  /** c93 gate row (r16): the AUDIO perceptual near-dup pair surface,
    * oracled — c89's banded-candidates + exact-verify composition on
    * c90's delta-sign hashes: 4×14-bit pigeonhole banding (complete at
    * Hamming ≤ 3) on HASHES only, then the exact envelope L1 (native
    * graft_l1 over the SAME 57 resampled points the hash was built
    * from) once per surviving pair. env_l1 is the number an audio dedup
    * policy thresholds when the hash alone is too coarse. */
  def c93AudioPairs(spark: SparkSession, dir: String): DataFrame =
    // r20: reads the memoized at-rest (doc_id, phash, env) table — the
    // c89 rule for the 1-D modality
    phashPairs(spark.read.parquet(audioHashTablePath(spark, dir))
        .select("doc_id", "phash", "env"),
      valueCol = "env", l1Name = "env_l1",
      uniqHashes = Some(spark.read.parquet(uniqHashTablePath(spark, dir,
        "audio", audioHashTablePath(spark, dir)))),
      // footer row counts price the expansion spread (r21 §2.5)
      spreadBuckets = spreadFor(spark,
        graft.Tables.parquetRowCount(audioHashTablePath(spark, dir)),
        graft.Tables.parquetRowCount(uniqHashTablePath(spark, dir,
          "audio", audioHashTablePath(spark, dir)))))

  /** c91 gate row: per-FRAME video perceptual hash — [[dhash56]] of each
    * frame's 8×8-resampled LUMA plane, one row per (video doc, frame):
    * the keyframe-level member of the perceptual family (video near-dup
    * in practice matches sampled frames, not containers — frameSample's
    * explode shape feeding c88's hash; a clipped or re-encoded video
    * still collides on its surviving frames). The REAL Y4M demux walks
    * the FRAME markers with decodeY4m's validation; the oracle
    * recomputes every bit closed-form from the frame-generation
    * formula. Chroma planes are deliberately outside the hash (luma
    * carries the perceptual structure — the standard choice). */
  /** Per-frame luma dHash of one Y4M payload — THE frame-hash walk,
    * shared by construction (d29's rule) between batch c91 and d44's
    * streaming frame router: the real demux (decodeY4m's marker/
    * truncation validation) with each frame's luma plane thumbnailed
    * through the shared sampler and hashed. Returns (frame_idx, hash)
    * pairs in stream order. */
  private[graft] def videoFrameThumbs(docId: Long, payload: Array[Byte])
      : Seq[(Long, Array[Byte])] = {
    val (w, h, fs, start) = y4mGeometry(docId, payload)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Array[Byte])]()
    var pos = start
    var f = 0L
    while (pos < payload.length) {
      var eol = pos
      while (eol < payload.length && payload(eol) != '\n') eol += 1
      val marker = new String(payload, pos, eol - pos, "US-ASCII")
      require(eol < payload.length &&
        (marker == "FRAME" || marker.startsWith("FRAME ")),
        s"doc $docId: expected FRAME marker at byte $pos")
      pos = eol + 1
      require(payload.length - pos >= fs,
        s"doc $docId: frame $f truncated (${payload.length - pos} of $fs bytes)")
      out += ((f, scalePlane(payload, pos, w, h, 8, 8)))
      pos += fs
      f += 1
    }
    out.toSeq
  }

  private[graft] def videoFramePhashes(docId: Long,
                                       payload: Array[Byte]): Seq[(Long, Long)] =
    videoFrameThumbs(docId, payload).map { case (f, t) => (f, dhash56(t)) }

  def c91VideoPhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(3)) === 2)
      .as[Long]
      .mapPartitions(_.flatMap { id =>
        videoFramePhashes(id, y4mPayload(id)).map { case (f, ph) => (id, f, ph) }
      })
      .toDF("doc_id", "frame_idx", "phash")
      .orderBy("doc_id", "frame_idx")
  }

  /** c94 gate row (r16): the VIDEO frame-level near-dup pair surface,
    * oracled — c89's banded-candidates + exact-verify composition on
    * c91's per-frame luma hashes. The banding unit is the FRAME: each
    * (doc, frame) packs into a composite key doc_id·8 + frame_idx
    * (frames ≤ 8 by the corpus geometry, so the packing is exact and
    * order-preserving), rides the SAME 4×14-bit pigeonhole machinery,
    * and unpacks on output. Intra-video pairs are kept — adjacent
    * near-identical frames ARE dup spans a video dedup policy weighs;
    * luma_l1 is the exact 8×8-thumbnail L1 (native graft_l1) once per
    * surviving pair. */
  def c94VideoPairs(spark: SparkSession, dir: String): DataFrame = {
    // r20: reads the memoized at-rest (fid, phash, luma) table — the
    // real demux ran once when the memo was built ([[videoFidFrames]]
    // is exactly the frame build this row used to run live)
    val frames = spark.read.parquet(videoFidTablePath(spark, dir))
      .select("doc_id", "phash", "luma")
    phashPairs(frames, valueCol = "luma", l1Name = "luma_l1",
      uniqHashes = Some(spark.read.parquet(uniqHashTablePath(spark, dir,
        "videofid", videoFidTablePath(spark, dir)))),
      // footer row counts price the expansion spread (r21 §2.5): the
      // video FRAME surface is diffuse (hashes ≈ frames) so this reads
      // 1 on the eval corpora — the wave-2 no-exchange shape
      spreadBuckets = spreadFor(spark,
        graft.Tables.parquetRowCount(videoFidTablePath(spark, dir)),
        graft.Tables.parquetRowCount(uniqHashTablePath(spark, dir,
          "videofid", videoFidTablePath(spark, dir)))))
      // unpack the composite keys: frame_idx < 8, so the /8 split is
      // exact bit arithmetic and fid order ≡ (doc, frame) lexicographic
      .select(
        shiftright(col("doc_a"), 3).as("doc_a"),
        col("doc_a").bitwiseAND(lit(7L)).as("frame_a"),
        shiftright(col("doc_b"), 3).as("doc_b"),
        col("doc_b").bitwiseAND(lit(7L)).as("frame_b"),
        col("hamming"), col("luma_l1"))
      .orderBy("doc_a", "frame_a", "doc_b", "frame_b")
  }

  /** c102: media near-dup CLUSTERS — the pair surfaces (c89/c93/c94)
    * ENUMERATE near-dups, but a dedup policy needs to DECIDE: one
    * canonical per component, the rest droppable — exactly the step
    * c19/c82 supply for text. The graph is c89's: image docs linked at
    * hamming ≤ 3. Components come from the memoized
    * [[phashClusterLabels]] table — the SAME large-star/small-star
    * machinery the text clusters run
    * (Dedup.connectedComponentsAlternating — O(log n) rounds on any
    * diameter, labels = component minima), run over the distinct hashes
    * with the docs attached once; every image doc appears
    * (singletons as their own cluster); survivorship is MIN-DOC-ID
    * (images carry no c41 quality score — the deterministic id rule,
    * where c82 uses quality argmax for text). is_canonical ⇔ doc_id =
    * cluster_id because labels are component minima by construction.
    *
    * Scale shape: the hash-pair graph is O(distinct hashes·bands) by
    * banding, each CC round shuffles O(hash edges) (bigint, bigint) rows,
    * the doc attach, label join and size count are O(images). The oracle
    * re-derives the components by transitive closure over the doc-grain
    * banded-candidate SQL (c19's reach CTE pattern), so clustering drift
    * hash-fails. The audio cluster table (c104) is the same composition
    * over the audio hashes. */
  def c102MediaClusters(spark: SparkSession, dir: String): DataFrame = {
    val labels = spark.read.parquet(mediaLabelTablePath(spark, dir))
    val imgs = Tables.documents(spark, dir).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(3)) === 0)
    clusterSurface(imgs, labels)
  }

  /** The (doc_id, [carry...], cluster_id, cluster_size, is_canonical)
    * decision surface over a node universe + a (node, cluster_id) label
    * table — c102's shape, shared with c103 and `Main phash --clusters`
    * (which carries media_type through). Singletons coalesce to their
    * own id; canonical ⇔ the component-minimum label. */
  private[graft] def clusterSurface(nodes: DataFrame, labels: DataFrame,
                                    carryCols: Seq[String] = Nil): DataFrame = {
    val cl = nodes
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(Seq(col("doc_id"),
        least(coalesce(col("cluster_id"), col("doc_id")), col("doc_id"))
          .as("cluster_id")) ++ carryCols.map(col): _*)
    val sz = cl.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    cl.join(sz, "cluster_id")
      .select(Seq(col("doc_id")) ++ carryCols.map(col) ++
        Seq(col("cluster_id"), col("cluster_size"),
          (col("doc_id") === col("cluster_id")).as("is_canonical")): _*)
      .orderBy("doc_id")
  }

  /** Per-JVM memoized FROZEN media label table (clusterTablePath's rule
    * at hash grain): [[phashClusterLabels]] over the memoized image hash
    * index at c89's hamming ≤ 3 — the same components as c89's pair
    * graph, clustered over distinct hashes — materialized once to
    * scratch: the at-rest artifact c102 surfaces and c103's maintenance
    * starts from. */
  private[graft] def mediaLabelTablePath(spark: SparkSession,
                                         dir: String): String =
    graft.Memo.table("media-labels", Seq(dir)) { p =>
      phashClusterLabels(spark.read.parquet(phashIndexTablePath(spark, dir))
          .select("doc_id", "phash"), maxHamming = 3)
        .write.parquet(p)
    }

  /** c103 gate row: incremental MEDIA cluster maintenance — a crawl of
    * re-keyed byte-identical recrawls (every image with doc_id % 5 = 0,
    * re-keyed +10¹², hash unchanged because the payload is unchanged)
    * folds into the FROZEN c102 label table via
    * [[incrementalMediaClusters]], and the maintained table surfaces in
    * c102's shape over the MERGED image universe. The oracle is the
    * FULL re-cluster of the merged hash set (c102's SQL over corpus ∪
    * re-keyed hashes), so add-then-maintain ≡ full-re-cluster is
    * engine-checked every round — c95's proof, media grain. */
  def c103MediaClustersIncr(spark: SparkSession, dir: String): DataFrame = {
    val maintained = spark.read.parquet(maintainedLabelTablePath(spark, dir))
    val base = Tables.documents(spark, dir).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(3)) === 0)
    val merged = base.unionAll(
      base.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + lit(1000000000000L)).as("doc_id")))
    clusterSurface(merged, maintained)
  }

  /** c104: AUDIO near-dup clusters — c102's decision surface for the
    * 1-D modality (the r15 precedent: once the image pair surface was
    * oracled, the audio one followed — same rule for the cluster
    * surface): the components of c93's banded pair graph, clustered at
    * distinct-hash grain by [[phashClusterLabels]] through the shared
    * star machinery, min-id survivorship, every audio doc present.
    * Because the synthetic audio corpus is ramp-shaped its pair graph
    * is near-complete and the surface collapses toward one giant
    * cluster — the PLAN is still O(n·bands) + O(log n) CC rounds
    * (c93's documented property; the oracle's closure runs over the
    * same banded candidates). VIDEO stays at the pair surface (c94):
    * frame-grain components conflate within-video shot similarity with
    * cross-video duplication, so the per-frame pair list IS the policy
    * input there — documented, not clustered. */
  def c104AudioClusters(spark: SparkSession, dir: String): DataFrame = {
    val labels = spark.read.parquet(audioLabelTablePath(spark, dir))
    val auds = Tables.documents(spark, dir).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(3)) === 1)
    clusterSurface(auds, labels)
  }

  /** Per-JVM memoized FROZEN audio label table (mediaLabelTablePath's
    * twin for the 1-D modality: [[phashClusterLabels]] over the memoized
    * audio hash table, the components of c93's pair graph). */
  private[graft] def audioLabelTablePath(spark: SparkSession,
                                         dir: String): String =
    graft.Memo.table("audio-labels", Seq(dir)) { p =>
      phashClusterLabels(spark.read.parquet(audioHashTablePath(spark, dir))
          .select("doc_id", "phash"), maxHamming = 3)
        .write.parquet(p)
    }

  /** Per-JVM memoized MAINTAINED audio label table of the c113 crawl —
    * maintainedLabelTablePath's twin for the 1-D modality: the same
    * every-5th re-keyed byte-identical recrawl convention (hash
    * unchanged because the payload is unchanged), folded into the
    * FROZEN c104 labels via the modality-generic
    * [[incrementalMediaClusters]] (its banding reads only (doc_id,
    * phash), and the audio hash is the same 56-bit/4-segment shape). */
  private[graft] def maintainedAudioLabelTablePath(spark: SparkSession,
                                                   dir: String): String =
    graft.Memo.table("audio-labels-incr", Seq(dir)) { p =>
      val corpus = spark.read.parquet(audioHashTablePath(spark, dir))
        .select("doc_id", "phash")
      val crawl = corpus.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + lit(1000000000000L)).as("doc_id"),
          col("phash"))
      val frozen = spark.read.parquet(audioLabelTablePath(spark, dir))
      incrementalMediaClusters(crawl, corpus, frozen)
        .write.parquet(p)
    }

  /** c113 gate row (r18): incremental AUDIO cluster maintenance — the
    * missing cell of the 3-modality maintenance matrix (c103 proved
    * add-then-maintain ≡ full-re-cluster at image grain, c109 at video
    * grain through both pipeline stages; audio had clusters (c104) but
    * no maintenance row). A crawl of re-keyed byte-identical audio
    * recrawls (every audio doc with doc_id % 5 = 0, re-keyed +10¹²,
    * hash unchanged) folds into the FROZEN c104 label table via the
    * SAME [[incrementalMediaClusters]] core, and the maintained table
    * surfaces in c102's decision shape over the merged audio universe.
    * The ORACLE is the FULL re-cluster of the merged hash set (c104's
    * SQL over corpus ∪ re-keyed hashes), so the equivalence is
    * engine-checked every round. Per-crawl cost scales with the crawl
    * (split-sided banding — corpus×corpus never forms), never corpus².
    */
  def c113AudioClustersIncr(spark: SparkSession, dir: String): DataFrame = {
    val maintained =
      spark.read.parquet(maintainedAudioLabelTablePath(spark, dir))
    val base = Tables.documents(spark, dir).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(3)) === 1)
    val merged = base.unionAll(
      base.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + lit(1000000000000L)).as("doc_id")))
    clusterSurface(merged, maintained)
  }

  /** Per-JVM memoized MAINTAINED label table of the c103 crawl (the
    * c95 memo rule: maintenance runs once per crawl; the gate row,
    * bench passes and specs all read the same updated table instead of
    * re-paying the banded join + CC per execution). */
  private[graft] def maintainedLabelTablePath(spark: SparkSession,
                                              dir: String): String =
    graft.Memo.table("media-labels-incr", Seq(dir)) { p =>
      val corpus = imagePhashFrames(spark, dir).select("doc_id", "phash")
      val crawl = corpus.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + lit(1000000000000L)).as("doc_id"), col("phash"))
      val frozen = spark.read.parquet(mediaLabelTablePath(spark, dir))
      incrementalMediaClusters(crawl, corpus, frozen)
        .write.parquet(p)
    }

  /** Per-JVM memoized at-rest phash index (the shingleTablePath rule):
    * the corpus hash table d43's streaming router equi-joins against —
    * at scale a parquet table bucketed by segment. */
  private[graft] def phashIndexTablePath(spark: SparkSession,
                                         dir: String): String =
    graft.Memo.table("phash-index", Seq(dir)) { p =>
      // r20: the gray thumbnail rides into the at-rest table so c89's
      // pair surface reads the memo instead of re-decoding per execution
      // (c88's own gate output shape is unchanged — the memo is a
      // superset; hash consumers keep selecting their columns by name)
      imagePhashFrames(spark, dir)
        .select(col("doc_id") +: col("phash") +: col("gray") +:
          phashSegCols(col("phash")): _*)
        .orderBy("doc_id")
        .write.parquet(p)
    }

  /** Frame-containment threshold for the VIDEO-level duplicate verdict
    * (c105): a pair is a duplicate when the matched-frame count covers
    * at least half of the SHORTER video. min(n_a, n_b) in the
    * denominator makes the score clipping-robust — a 4-frame excerpt
    * of an 8-frame video still reads 1.0, which is exactly the case a
    * video dedup policy must catch. */
  private[graft] val VideoDupThreshold = 0.5

  /** Per-JVM memoized at-rest table of c94's VERIFIED frame pairs (the
    * mediaLabelTablePath rule): c105's fold reads the materialized pair
    * surface instead of re-paying the banded join + exact verify per
    * execution — at scale this is the at-rest pair table a nightly
    * dedup job maintains. (r20, measured and rejected: recomputing the
    * fold live at (frame, partner-doc) grain — skipping this 1.6M-row
    * materialization — REGRESSED c105 0.94 → 2.0 s at sf0.1: the live
    * hash-band + expansion pipeline is ~7 serialized exchanges per
    * execution, while the at-rest table costs one scan; the (fa, docB)
    * surface is barely smaller than the (fa, fb) one on this corpus'
    * ~1.5-frames-per-matching-doc geometry.) */
  private[graft] def videoPairTablePath(spark: SparkSession,
                                        dir: String): String =
    graft.Memo.table("video-pairs", Seq(dir)) { p =>
      // r21 (§6 — partition by what readers filter on): the at-rest pair
      // table is written hive-partitioned by the cross-video flag. The
      // self-similar corpus geometry makes INTRA-video frame pairs the
      // bulk of the surface (adjacent frames are near-identical), and
      // c105's fold filters them out first thing — partition pruning now
      // skips those files at the scan instead of reading 1.6M rows to
      // drop most of them. All pairs stay at rest (the superset rule).
      c94VideoPairs(spark, dir)
        .withColumn("cross", col("doc_a") =!= col("doc_b"))
        .write.partitionBy("cross").parquet(p)
    }

  /** c105 gate row (r17): the VIDEO-level near-dup decision surface —
    * the fold the r16 family stopped short of. c94 ENUMERATES verified
    * frame pairs; a dedup policy needs a per-VIDEO-PAIR verdict, and
    * frame-grain clustering can't supply it (it conflates within-video
    * shot similarity with cross-video duplication — c104's scaladoc).
    * The fold: keep CROSS-video frame pairs only, count the distinct
    * matched frames on each side, take the conservative
    * min(|distinct frame_a|, |distinct frame_b|) as the matched-frame
    * count (a one-to-many frame hit never inflates the verdict), and
    * score by frame containment matched / min(n_frames_a, n_frames_b)
    * — robust to clipped excerpts. is_dup thresholds at
    * [[VideoDupThreshold]]. n_frames comes from the REAL Y4M demux
    * (c91's frame walk), never the generator formula — the oracle
    * re-derives it closed-form, which is what makes the row a check.
    *
    * Scale shape: the fold is one O(pairs) hash aggregate on 16-byte
    * (doc, doc) keys over the at-rest verified-pair table, then two
    * O(videos) equi-joins for the frame counts; nothing corpus² ever
    * forms (the pair surface itself is O(n·bands) by c94's banding). */
  def c105VideoPairs(spark: SparkSession, dir: String): DataFrame = {
    // `cross` is the memo's hive-partition column (doc_a =!= doc_b at
    // write time; inferred as string — partition inference has no
    // boolean type) — filtering on it prunes the intra-video
    // partition's files at the scan (r21, §6)
    val fp = spark.read.parquet(videoPairTablePath(spark, dir))
      .filter(col("cross") === "true")
    val folded = fp.groupBy("doc_a", "doc_b").agg(
      least(countDistinct(col("frame_a")), countDistinct(col("frame_b")))
        .as("matched"))
    // per-video frame counts from the real demux (c91's walk), read
    // off the memoized at-rest fid table — the demux ran ONCE when the
    // memo was built (r17 review: the live c91 call re-demuxed every
    // video per execution)
    val nf = spark.read.parquet(videoFidTablePath(spark, dir))
      .select(shiftright(col("doc_id"), 3).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val score = col("matched") / least(col("n_a"), col("n_b"))
    folded
      .join(nf.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(nf.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("matched"),
        col("n_a"), col("n_b"), score.as("score"),
        (score >= lit(VideoDupThreshold)).as("is_dup"))
      .orderBy("doc_a", "doc_b")
  }

  /** Per-JVM memoized FROZEN video label table (mediaLabelTablePath's
    * twin at VIDEO grain): c105's thresholded duplicate edges fed
    * through the shared alternating CC. */
  private[graft] def videoLabelTablePath(spark: SparkSession,
                                         dir: String): String =
    graft.Memo.table("video-labels", Seq(dir)) { p =>
      val edges = c105VideoPairs(spark, dir).filter(col("is_dup"))
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      graft.operators.Dedup.connectedComponentsAlternating(edges)._1
        .write.parquet(p)
    }

  /** c106 gate row (r17): VIDEO near-dup clusters — c102's decision
    * surface at VIDEO grain, which closes the media dedup family: now
    * that the unit is the whole video (c105's containment verdict),
    * the shot-similarity objection that kept video at the pair surface
    * dissolves. CC over c105's is_dup edges through the shared star
    * machinery, min-id survivorship, every video doc present. The
    * oracle composes c94's banded SQL → c105's fold → transitive
    * closure, so a drift anywhere in the three-stage pipeline
    * hash-fails the row. */
  def c106VideoClusters(spark: SparkSession, dir: String): DataFrame = {
    val labels = spark.read.parquet(videoLabelTablePath(spark, dir))
    val vids = Tables.documents(spark, dir).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(3)) === 2)
    clusterSurface(vids, labels)
  }

  /** Per-JVM memoized (doc_id, phash) hash tables for the non-image
    * modalities (phashIndexTablePath's rule — r17 review: c105/c108
    * were re-running the decode-heavy demux per consumer; the memo
    * pays it once per dir and every consumer reads the at-rest
    * table). */
  private[graft] def audioHashTablePath(spark: SparkSession,
                                        dir: String): String =
    graft.Memo.table("audio-hash", Seq(dir)) { p =>
      // r20: the envelope rides into the at-rest table so c93's pair
      // surface reads the memo instead of re-decoding per execution
      // (hash consumers keep selecting (doc_id, phash))
      audioPhashFrames(spark, dir).select("doc_id", "phash", "env")
        .write.parquet(p)
    }
  private[graft] def videoFidTablePath(spark: SparkSession,
                                       dir: String): String =
    graft.Memo.table("video-fid", Seq(dir)) { p =>
      videoFidFrames(spark, dir).write.parquet(p)
    }

  /** Per-JVM memoized DISTINCT-HASH projection of a modality's at-rest
    * hash table (r21, the r20 verdict's pair-family stage-cut item):
    * the banded self-join needs `distinct(phash)` on BOTH sides, and
    * computing it live planned the scan+aggregate+exchange subtree
    * twice per execution. Built once per (JVM, dir) from the hash memo
    * it projects — at scale this is the hash index's bucket manifest,
    * maintained with the index itself. AQE sizes the part count (the
    * table is tiny relative to its source). */
  private[graft] def uniqHashTablePath(spark: SparkSession, dir: String,
                                       modality: String,
                                       framesPath: String): String =
    graft.Memo.table(s"$modality-uniq", Seq(dir)) { p =>
      spark.read.parquet(framesPath).select("phash").distinct()
        .write.parquet(p)
    }

  /** Max hash rows the c108 exact truth side may cross-compare — the
    * c83 refusal at media grain: the brute is O(n²) in HASHES (8-byte
    * longs, never payloads); an eval corpus fits, a production corpus
    * must never run it silently. */
  private[graft] val RecallHashCap = 20000L

  /** 8-bit segment j of a 56-bit hash — the TRUTH-side pigeonhole's
    * segmentation (7 × 8 bits), deliberately DIFFERENT from the
    * production 4 × 14 [[phashSeg]] split so the recall rows keep
    * checking the production path against an independently-derived
    * exact truth (a wrong shift in one split cannot infect the other). */
  private def seg8(c: Column, j: Int): Column =
    shiftright(c, 8 * j).bitwiseAND(lit(0xFFL))

  /** The EXACT hamming ≤ maxHamming hash-pair set over distinct hashes
    * (r20): an independent 7×8-bit pigeonhole equi-join (hamming ≤ 3
    * touches at most 3 of 7 segments, so every qualifying pair shares
    * one — completeness needs only segments > maxHamming) followed by
    * the exact bit_count filter, replacing the all-pairs
    * BroadcastNestedLoopJoin (O(n²) hash comparisons; 15 task-cpu-s at
    * sf0.1). The bit_count filter makes the set EXACT regardless of
    * segmentation — the pigeonhole only bounds what must be compared.
    * Input: distinct (phash, cnt) rows; output: canonical ha <= hb pairs
    * with both group counts. Same canonical-band emission and
    * explicit-N repartition as [[phashHashPairs]]. */
  private[graft] def truthHashPairs8(g: DataFrame, maxHamming: Int,
                                     keyCols: Seq[String] = Nil): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 6,
      s"7-segment truth banding is complete only for hamming <= 6, got $maxHamming")
    val n = g.sparkSession.sessionState.conf.numShufflePartitions
    val seg = g.select(Seq(col("phash"), col("cnt"),
        posexplode(array((0 until 7).map(j => seg8(col("phash"), j)): _*))) ++
        keyCols.map(col): _*)
      .withColumnRenamed("pos", "seg_idx").withColumnRenamed("col", "seg")
    val keys = Seq("seg_idx", "seg") ++ keyCols
    // probe-side-only fan-out — [[phashHashPairs]]'s r21 rule
    seg.repartition(n, keys.map(col): _*)
      .select(Seq(col("phash").as("ha"), col("cnt").as("ca")) ++
        keys.map(col): _*)
      .join(seg.select(Seq(col("phash").as("hb"), col("cnt").as("cb")) ++
        keys.map(col): _*), keys)
      .filter(col("ha") <= col("hb"))
      .filter(noEarlierBand(col("ha"), col("hb"), 7, seg8))
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHamming)
      .select(keyCols.map(col) ++
        Seq(col("ha"), col("hb"), col("ca"), col("cb")): _*)
  }

  /** One modality's recall fold (c83's outer-union shape) at
    * DISTINCT-HASH grain (r20, guide §2.3/§8): pair membership on both
    * sides is a function of the two hashes alone, so each side reduces
    * to a hash-pair SET and the doc-pair counts the old doc-grain fold
    * computed are Σ over hash pairs of the exact group-size
    * multiplicity — ca·cb across groups, C(ca,2) inside one. The truth
    * side is [[truthHashPairs8]] (independent 7×8 pigeonhole + exact
    * bit_count — never all-pairs); the banded side is the production
    * 4×14 stage-0 ([[phashHashPairs]]). A lost band still reads
    * n_banded < n_exact and hash-fails — the invariant is unchanged,
    * only the O(n²) comparison surface and the dup-cluster doc-pair
    * explosion are gone. Cap-guarded as before. */
  /** The KEYED recall fold (r20, guide §2.4 — share one pipeline): the
    * r18 cut ran the full 8-exchange truth/banded/fold pipeline once PER
    * modality (24 exchanges + 3 eager count jobs per execution of c108);
    * with `modality` as a band/join key the three modalities ride ONE
    * pipeline — identical per-modality pair sets (a key mismatch can
    * never pair cross-modality), one cap-check job, one fold. `hs` must
    * carry (modality, doc_id, phash); `modalities` is the output row
    * universe — a modality with no pairs at all still emits its row
    * (NULL counts), exactly as the per-modality global agg did. */
  private[graft] def phashRecallKeyed(hs: DataFrame,
                                      modalities: Seq[String],
                                      maxHamming: Int = 3): DataFrame = {
    import hs.sparkSession.implicits._
    val h = hs.select(col("modality"), col("doc_id"), col("phash"))
    h.groupBy("modality").agg(count(lit(1)).as("n")).collect().foreach { r =>
      require(r.getLong(1) <= RecallHashCap,
        s"c108's exact truth cross-compares O(n²) hashes: ${r.getString(0)} " +
          s"has ${r.getLong(1)} > cap $RecallHashCap — run the recall gate " +
          "on an eval corpus/sample, never a production corpus")
    }
    val mk = Seq("modality")
    val g = h.groupBy("modality", "phash").agg(count(lit(1)).as("cnt"))
    val truth = truthHashPairs8(g, maxHamming, mk)
      .select("modality", "ha", "hb")
    val banded = phashHashPairs(g.select("modality", "phash"), maxHamming, mk)
      .select("modality", "ha", "hb")
    // exact integer pair multiplicity from the group sizes; the even
    // product halves by shift, never a double division
    val mult = when(col("ha") === col("hb"),
      shiftright(col("ca") * (col("ca") - 1), 1))
      .otherwise(col("ca") * col("cb"))
    val folded = truth.withColumn("e", lit(1))
      .join(banded.withColumn("b", lit(1)),
        Seq("modality", "ha", "hb"), "full_outer")
      .join(g.select(col("modality"), col("phash").as("ha"),
        col("cnt").as("ca")), Seq("modality", "ha"))
      .join(g.select(col("modality"), col("phash").as("hb"),
        col("cnt").as("cb")), Seq("modality", "hb"))
      .select(col("modality"), coalesce(col("e"), lit(0)).as("e"),
        coalesce(col("b"), lit(0)).as("b"), mult.as("m"))
      .groupBy("modality")
      .agg(sum(col("e") * col("m")).cast("bigint").as("n_exact"),
        sum(col("b") * col("m")).cast("bigint").as("n_banded"),
        sum(col("e") * col("b") * col("m")).cast("bigint").as("n_hit"))
    modalities.toDF("modality")
      .join(folded, Seq("modality"), "left")
      .transform(TextOps.ratio6On(_, "recall_r",
        col("n_hit"), col("n_exact")))
  }

  /** Single-modality wrapper (the spec seam — synthetic eval corpora). */
  private[graft] def phashRecallOf(modality: String, hs: DataFrame,
                                   maxHamming: Int = 3): DataFrame =
    phashRecallKeyed(hs.select(lit(modality).as("modality"),
      col("doc_id"), col("phash")), Seq(modality), maxHamming)

  /** c108 gate row (r17): banding-completeness EVAL for the whole
    * perceptual family — c72/c83's eval-as-operator rule at media
    * grain. Per modality (image / audio / video-frame): the exact
    * all-pairs truth at hamming ≤ 3 next to the banded candidate
    * pipeline's pair set. The 4×14-bit pigeonhole is COMPLETE at
    * radius 3 (splitting 56 bits into 4 segments, ≤ 3 differing bits
    * leave at least one segment untouched), so recall_r must read
    * EXACTLY 1.0 — this row turns that pigeonhole argument into an
    * engine-checked invariant: the ORACLE computes the exact truth
    * count and asserts the theorem's answer; a banding bug on the
    * Spark side (a wrong shift, a lost segment, the r16 AQE
    * one-partition coalesce) reads n_banded < n_exact and hash-fails.
    * Truth side is cap-refused ([[RecallHashCap]]) — eval corpora
    * only, the c83 discipline. */
  def c108PhashRecall(spark: SparkSession, dir: String): DataFrame = {
    // all three modalities read their MEMOIZED at-rest hash tables
    // (r17 review: the live frames re-ran the full media decode for
    // the count, the truth side AND the banded side — 3× per modality)
    // and ride ONE keyed pipeline (r20 — [[phashRecallKeyed]])
    def tag(m: String, df: DataFrame): DataFrame =
      df.select(lit(m).as("modality"), col("doc_id"), col("phash"))
    phashRecallKeyed(
      tag("audio", spark.read.parquet(audioHashTablePath(spark, dir)))
        .unionByName(tag("image",
          spark.read.parquet(phashIndexTablePath(spark, dir))))
        .unionByName(tag("video",
          spark.read.parquet(videoFidTablePath(spark, dir)))),
      Seq("audio", "image", "video"))
      .orderBy("modality")
  }

  /** One modality's SPLIT-path recall fold (r18 — [[phashRecallOf]]'s
    * shape for the incremental pipeline): the exact NEW-TOUCHING truth
    * (every hamming ≤ maxHamming pair of the merged set with at least
    * one crawl side) vs [[phashCandidatesSplit]]'s candidate set,
    * folded to one (modality, n_exact, n_banded, n_hit, recall_r) row.
    * Cap-guarded on the merged hash count (c83's refusal). */
  /** The KEYED split-path recall fold (r20 — [[phashRecallKeyed]]'s rule
    * for the incremental pipeline): one pipeline over all modalities
    * instead of three. `crawl`/`corpus` must carry
    * (modality, doc_id, phash). */
  private[graft] def phashRecallSplitKeyed(crawl: DataFrame,
                                           corpus: DataFrame,
                                           modalities: Seq[String],
                                           maxHamming: Int = 3): DataFrame = {
    import crawl.sparkSession.implicits._
    val nh = crawl.select(col("modality"), col("doc_id"), col("phash"))
    val ch = corpus.select(col("modality"), col("doc_id"), col("phash"))
    val merged = nh.unionAll(ch)
    merged.groupBy("modality").agg(count(lit(1)).as("n")).collect()
      .foreach { r =>
        require(r.getLong(1) <= RecallHashCap,
          s"c114's exact truth cross-compares O(crawl·n) hashes: " +
            s"${r.getString(0)} has ${r.getLong(1)} > cap $RecallHashCap — " +
            "run the recall gate on an eval corpus/sample, never a " +
            "production corpus")
      }
    // r20: the same distinct-hash-grain fold as [[phashRecallOf]], with
    // the NEW-TOUCHING pair multiplicity — per hash the merged count cm
    // and crawl count cn; a hash pair's new-touching doc pairs are all
    // pairs minus the pure-corpus ones: cma·cmb − (cma−cna)(cmb−cnb)
    // across groups, C(cm,2) − C(cm−cn,2) inside one. The truth side is
    // the independent 7×8 pigeonhole + exact bit_count over the merged
    // distinct hashes (replacing the brute crawl×merged
    // BroadcastNestedLoopJoin); the banded side is the production split
    // stage-0 ([[phashHashPairsSplit]] — crawl hashes left, merged
    // right), canonicalized. A wrong split side or lost band still
    // reads n_banded ≠ n_exact and hash-fails.
    val g = merged.groupBy("modality", "phash").agg(count(lit(1)).as("cm"))
      .join(nh.groupBy("modality", "phash").agg(count(lit(1)).as("cn")),
        Seq("modality", "phash"), "left")
      .withColumn("cn", coalesce(col("cn"), lit(0L)))
    val mk = Seq("modality")
    val truth = truthHashPairs8(
        g.select(col("modality"), col("phash"), col("cm").as("cnt")),
        maxHamming, mk)
      .select("modality", "ha", "hb")
    val newUniq = nh.select("modality", "phash").distinct()
    val banded = phashHashPairsSplit(newUniq, g.select("modality", "phash"),
        maxHamming, mk)
      .select(col("modality"), least(col("ha"), col("hb")).as("ha"),
        greatest(col("ha"), col("hb")).as("hb"))
      .distinct()
    def c2(c: Column): Column = shiftright(c * (c - 1), 1)
    val mult = when(col("ha") === col("hb"),
      c2(col("cma")) - c2(col("cma") - col("cna")))
      .otherwise(col("cma") * col("cmb") -
        (col("cma") - col("cna")) * (col("cmb") - col("cnb")))
    val folded = truth.withColumn("e", lit(1))
      .join(banded.withColumn("b", lit(1)),
        Seq("modality", "ha", "hb"), "full_outer")
      .join(g.select(col("modality"), col("phash").as("ha"),
        col("cm").as("cma"), col("cn").as("cna")), Seq("modality", "ha"))
      .join(g.select(col("modality"), col("phash").as("hb"),
        col("cm").as("cmb"), col("cn").as("cnb")), Seq("modality", "hb"))
      .select(col("modality"), coalesce(col("e"), lit(0)).as("e"),
        coalesce(col("b"), lit(0)).as("b"), mult.as("m"))
      .groupBy("modality")
      .agg(sum(col("e") * col("m")).cast("bigint").as("n_exact"),
        sum(col("b") * col("m")).cast("bigint").as("n_banded"),
        sum(col("e") * col("b") * col("m")).cast("bigint").as("n_hit"))
    modalities.toDF("modality")
      .join(folded, Seq("modality"), "left")
      .transform(TextOps.ratio6On(_, "recall_r",
        col("n_hit"), col("n_exact")))
  }

  /** Single-modality wrapper (the spec seam — synthetic eval corpora). */
  private[graft] def phashRecallSplitOf(modality: String, crawl: DataFrame,
                                        corpus: DataFrame,
                                        maxHamming: Int = 3): DataFrame = {
    def tag(df: DataFrame): DataFrame =
      df.select(lit(modality).as("modality"), col("doc_id"), col("phash"))
    phashRecallSplitKeyed(tag(crawl), tag(corpus), Seq(modality), maxHamming)
  }

  /** c114 gate row (r18): banding-completeness EVAL for the SPLIT
    * (incremental) candidate path — c108's invariant where the
    * maintenance rows actually ride. c108 proves [[phashCandidates]]
    * complete; the c103/c109/c113 maintenance rows ride
    * [[phashCandidatesSplit]], whose completeness was until now only
    * checked INDIRECTLY (through the full-re-cluster oracles). This
    * row makes it local: per modality, the exact new-touching truth
    * (each maintenance row's own crawl convention — every 5th doc
    * re-keyed, hash unchanged) next to the split path's candidates.
    * The split left side is the crawl alone and the right side is
    * crawl ∪ corpus, so candidates = new-touching pairs exactly, and
    * the 4×14-bit pigeonhole forces recall_r = EXACTLY 1.0 — the
    * oracle asserts the theorem's answer; a wrong split side, a lost
    * band, or a broken is_new dedup reads n_banded ≠ n_exact and
    * hash-fails. Truth side cap-refused ([[RecallHashCap]]) — eval
    * corpora only, the c83 discipline. */
  def c114PhashRecallSplit(spark: SparkSession, dir: String): DataFrame = {
    def rekeyed(h: DataFrame): DataFrame =
      h.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + lit(1000000000000L)).as("doc_id"),
          col("phash"))
    val au = spark.read.parquet(audioHashTablePath(spark, dir))
      .select("doc_id", "phash")
    val im = spark.read.parquet(phashIndexTablePath(spark, dir))
      .select("doc_id", "phash")
    // video crawls at VIDEO grain: every 5th video's frames, re-keyed
    // fid + 8·10¹² (c109's convention — doc → doc + 10¹² ⇒ fid = doc·8
    // + frame → fid + 8·10¹²)
    val vf = spark.read.parquet(videoFidTablePath(spark, dir))
      .select("doc_id", "phash")
    val vcrawl = vf.filter(pmod(shiftright(col("doc_id"), 3), lit(5)) === 0)
      .select((col("doc_id") + lit(8000000000000L)).as("doc_id"),
        col("phash"))
    // one keyed pipeline over all three modalities (r20 —
    // [[phashRecallSplitKeyed]]; was 3 full pipelines + 3 count jobs)
    def tag(m: String, df: DataFrame): DataFrame =
      df.select(lit(m).as("modality"), col("doc_id"), col("phash"))
    phashRecallSplitKeyed(
      tag("audio", rekeyed(au)).unionByName(tag("image", rekeyed(im)))
        .unionByName(tag("video", vcrawl)),
      tag("audio", au).unionByName(tag("image", im))
        .unionByName(tag("video", vf)),
      Seq("audio", "image", "video"))
      .orderBy("modality")
  }

  /** One modality's SAMPLED recall fold (r20 — the cap-FREE production
    * form the r19 verdict asked for): c108/c114 rightly refuse exact
    * all-pairs truth above [[RecallHashCap]], which left NO recall
    * signal at production scale. Here the truth side is restricted to
    * pairs touching a deterministic content-hash SAMPLE of the docs
    * (md5 prefix < `rateHex`/256 — stable under re-partitioning and
    * re-runs, the c17 rule): a broadcast of the bounded sample against
    * the full hash table — O(sample·corpus) row-local comparisons, ONE
    * linear pass over the corpus per modality, unbounded corpus size.
    * The banded side is the REAL production candidate pipeline
    * ([[phashCandidates]]) restricted to sample-touching pairs by two
    * broadcast equi-joins (no BNL, the no-product rule). The cap
    * guards only the SAMPLE (lower `rateHex` on bigger corpora — 1/256
    * at ~10⁹ hashes keeps the sample ~4M).
    *
    * Estimator contract: per-pair recall over sampled-touching pairs is
    * an unbiased estimate of corpus pair recall under the uniform
    * content-hash sample. `ci_low_r` is the conservative exact-rational
    * lower bound max(0, n_hit−3)/n_truth — at the expected n_hit =
    * n_truth outcome this is the classical rule-of-three 95% bound
    * 1 − 3/n (Hanley & Lippman-Hand); kept rational so the render is
    * engine-exact (a Wilson/Clopper bound needs sqrt/beta — policy
    * territory, not gate arithmetic). n_truth = 0 (nothing sampled
    * collides) reads recall_r = 1.0 vacuously and ci_low_r = 0.0 — the
    * "no signal" row, never a refusal. */
  private def sampledPred(rateHex: String): Column =
    substring(md5(concat(lit("c120:"),
      col("doc_id").cast("string"))), 1, 2) < rateHex

  /** One modality's sampled fold with PRECOMPUTED stats — no eager job
    * inside (r20: the caller batches the stats of ALL modalities into
    * ONE collect; the three per-modality fold pipelines then stay
    * independent plan branches and execute CONCURRENTLY inside the one
    * action. A fully keyed single pipeline was measured and rejected:
    * it serialized the three modalities' candidate expansions into one
    * deep stage chain — c120 1.58 → 2.58 s at sf0.1 — where the union
    * of three shallow branches overlaps them). */
  private def sampledFoldOf(modality: String, h: DataFrame,
                            nDocs: Long, nSampled: Long,
                            maxHamming: Int, rateHex: String,
                            spreadBuckets: Int = 1): DataFrame = {
    val s = h.filter(sampledPred(rateHex))
    // r21 (§3 — the no-exploding-join rule, now on the truth side too):
    // the sample-vs-corpus comparison was a BroadcastNestedLoopJoin
    // evaluating O(sample·corpus) hash comparisons row by row (14.6M at
    // sf0.1 video, 4+ task-cpu-s — the row's dominant term, and the
    // term that grows with the corpus). The 7×8-bit pigeonhole
    // ([[truthHashPairs8]]'s segmentation — independent of the
    // production 4×14 split, so the truth side keeps checking the
    // candidate machinery from outside) bounds what must be compared:
    // hamming ≤ 3 touches at most 3 of 7 segments, so every qualifying
    // pair shares one. Banding runs at DISTINCT-HASH grain (decide with
    // small rows, §8); docs re-attach by two output-sized equi-joins;
    // the exact bit_count keeps the pair set EXACT; first-match
    // emission keeps the pre-distinct surface one row per hash pair.
    // The trailing distinct() is unchanged, so the doc-pair set is the
    // old one row for row.
    val sg = s.select(col("phash")).distinct()
    val cg = h.select(col("phash")).distinct()
    val nPart = h.sparkSession.sessionState.conf.numShufflePartitions
    def segT(c: Column, j: Int): Column =
      shiftright(c, 8 * j).bitwiseAND(lit(0xFFL))
    def segsOf(g: DataFrame, as: String): DataFrame = g
      .select(col("phash").as(as),
        posexplode(array((0 until 7).map(j => segT(col("phash"), j)): _*)))
      .withColumnRenamed("pos", "seg_idx").withColumnRenamed("col", "seg")
    val hpT = segsOf(cg, "pb").repartition(nPart, col("seg_idx"), col("seg"))
      .join(segsOf(sg, "pa"), Seq("seg_idx", "seg"))
      .filter(noEarlierBand(col("pa"), col("pb"), 7, segT))
      .filter(bit_count(col("pa").bitwiseXOR(col("pb"))) <= maxHamming)
      .select("pa", "pb")
    // spread the attach expansions when the corpus is cliquey —
    // [[spreadAttach]]'s r21 §2.5 design
    val truth = spreadAttach(hpT,
        s.select(col("doc_id").as("a"), col("phash").as("pa")),
        h.select(col("doc_id").as("b"), col("phash").as("pb")),
        Seq("pa"), Seq("pb"), spreadBuckets, "a")
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("da"),
        greatest(col("a"), col("b")).as("db"))
      .distinct()
    // NOTE (r21, measured and rejected): restricting the candidate
    // expansion to sampled endpoints BEFORE the doc-attach joins
    // (sampled-a × all-b ∪ all-a × sampled-b — the §8 "decide small"
    // move) REGRESSED c120 2.30 → 2.85 s / 11 → 16 task-cpu-s at
    // sf0.1: the union's two branches each re-plan the banded
    // hash-pair subtree, and on the self-similar gate corpus the
    // banding itself (dense hash-pair graph), not the expansion, is
    // the dominant term — doubling it costs more than the 75% of
    // expansion rows the restriction saves. Filter-after-expansion
    // stays; the restriction joins are broadcast-tiny.
    val sids = s.select(col("doc_id").as("sid"))
    val bandedS = phashCandidates(h, maxHamming,
      spreadBuckets = spreadBuckets)
      .join(broadcast(sids.select(col("sid").as("sa_id"), lit(1).as("fa"))),
        col("doc_a") === col("sa_id"), "left")
      .join(broadcast(sids.select(col("sid").as("sb_id"), lit(1).as("fb"))),
        col("doc_b") === col("sb_id"), "left")
      .filter(col("fa").isNotNull || col("fb").isNotNull)
      .select(col("doc_a").as("da"), col("doc_b").as("db"))
    truth.withColumn("e", lit(1)).withColumn("b", lit(0))
      .unionByName(bandedS.withColumn("e", lit(0)).withColumn("b", lit(1)))
      .groupBy("da", "db")
      .agg(max(col("e")).as("e"), max(col("b")).as("b"))
      .agg(coalesce(sum(col("e")), lit(0L)).cast("bigint").as("n_truth"),
        coalesce(sum(col("b")), lit(0L)).cast("bigint").as("n_banded"),
        coalesce(sum(col("e") * col("b")), lit(0L)).cast("bigint").as("n_hit"))
      .select(lit(modality).as("modality"),
        lit(nDocs).as("n_docs"), lit(nSampled).as("n_sampled"),
        col("n_truth"), col("n_banded"), col("n_hit"))
      .withColumn("recall_r",
        when(col("n_truth") === 0, lit(1.0))
          .otherwise(TextOps.ratio6Col(col("n_hit"), col("n_truth"))))
      .withColumn("ci_low_r",
        when(col("n_truth") === 0, lit(0.0))
          .otherwise(TextOps.ratio6Col(
            greatest(col("n_hit") - lit(3L), lit(0L)), col("n_truth"))))
  }

  /** The sampled recall fold over TAGGED (modality, doc_id, phash)
    * frames: one stats job for every modality (cap check + the
    * n_docs/n_sampled literals), then one independent fold branch per
    * modality. */
  private[graft] def phashRecallSampledTagged(hs: DataFrame,
                                              modalities: Seq[String],
                                              maxHamming: Int = 3,
                                              rateHex: String = "20"): DataFrame = {
    val h = hs.select(col("modality"), col("doc_id"), col("phash"))
    // the stats job aggregates at HASH grain first (r21): the modality
    // totals are sums of the per-hash counts, and the per-hash MAX —
    // the dominant clique size — prices the [[spreadAttach]] decision
    // (it bounds the single-task expansion the spread exists to split;
    // §2.5). Same one collect, same row count out.
    val stats = h.groupBy("modality", "phash")
      .agg(count(lit(1)).as("c"),
        coalesce(sum(when(sampledPred(rateHex), 1L).otherwise(0L)), lit(0L))
          .as("sc"))
      .groupBy("modality").agg(sum("c").as("n_docs"),
        sum("sc").as("n_sampled"), max("c").as("max_clique"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    stats.foreach { case (modality, (_, nSampled, _)) =>
      require(nSampled <= RecallHashCap,
        s"c120's sampled truth broadcasts the sample: $modality sampled " +
          s"$nSampled > cap $RecallHashCap — lower rateHex (sample rate = " +
          s"0x$rateHex/256) for this corpus size")
    }
    modalities.map { m =>
      val (nDocs, nSampled, maxClique) = stats.getOrElse(m, (0L, 0L, 0L))
      // id-only expansions spread on ESTIMATED EXPANSION WORK
      // (docs·maxClique — the dominant clique's contribution to the
      // attach-join output), not the mean shape: their per-row work is
      // a few longs, so the spread only pays when the expansion dwarfs
      // the |hash pairs|·buckets exchange. Measured across all six
      // (modality × SF) cells: sf0.1 reads 0.1–2.7M (every spread OFF
      // — the wave-2 plan, byte-identical; the mean-shape rule had
      // cost +44% here), sf1.0 reads 13–269M (every spread ON — c120
      // 108.8 → 25.5 s; the clique-only rule left image+video serial
      // at 53 s). 8M sits in the order-of-magnitude gap.
      sampledFoldOf(m, h.filter(col("modality") === m)
        .select("doc_id", "phash"), nDocs, nSampled, maxHamming, rateHex,
        spreadBuckets =
          if (nDocs * maxClique >= 8000000L)
            h.sparkSession.sessionState.conf.numShufflePartitions
          else 1)
    }.reduce(_ unionByName _)
  }

  /** Single-modality wrapper (the spec seam — synthetic eval corpora). */
  private[graft] def phashRecallSampledOf(modality: String, hs: DataFrame,
                                          maxHamming: Int = 3,
                                          rateHex: String = "20"): DataFrame =
    phashRecallSampledTagged(
      hs.select(lit(modality).as("modality"), col("doc_id"), col("phash")),
      Seq(modality), maxHamming, rateHex)

  /** c120 gate row (r20): the SAMPLED recall estimator over the three
    * memoized hash tables — c108's invariant surface, cap-free. The
    * pigeonhole theorem still forces n_banded = n_hit = n_truth on the
    * sampled surface (candidates at radius ≤ 3 are complete, so every
    * sampled-touching truth pair is a sample-touching candidate), and
    * the oracle asserts exactly that; what the SAMPLED row adds is the
    * production shape: at 10⁹ hashes c108 refuses while this row reads
    * recall from one linear corpus pass against a bounded sample. */
  def c120RecallSampled(spark: SparkSession, dir: String): DataFrame =
    // three independent per-modality folds (r20: both a fully keyed
    // single pipeline — 1.58 → 2.58 s — and a shared-stats-job variant
    // — 1.58 → 1.83 s — were measured SLOWER at sf0.1 than the three
    // shallow branches, whose stages overlap inside the one action)
    phashRecallSampledOf("audio",
        spark.read.parquet(audioHashTablePath(spark, dir)))
      .unionByName(phashRecallSampledOf("image",
        spark.read.parquet(phashIndexTablePath(spark, dir))
          .select("doc_id", "phash")))
      .unionByName(phashRecallSampledOf("video",
        spark.read.parquet(videoFidTablePath(spark, dir))
          .select("doc_id", "phash")))
      .orderBy("modality")

  /** The order-invariant VIDEO SIGNATURE over an
    * array<struct<frame_idx, phash>> column (r18, d52's replay key):
    * md5 of the frame hashes joined in frame order. ONE Column subtree
    * renders both the at-rest index (from the fid table) and the
    * arrival probe (from the row-local demux) — d29's shared-subtree
    * rule — so replay equality holds by construction. sort_array on
    * the struct orders by frame_idx (unique per video), making the
    * signature independent of collect_list's arrival order. */
  private[graft] def videoSigExpr(frames: Column): Column =
    md5(array_join(
      transform(sort_array(frames),
        f => concat_ws(":", f.getField("frame_idx"), f.getField("phash"))),
      "|"))

  /** The at-rest (sig → cluster_id) EXACT-replay VIDEO index d52
    * probes (r18 — [[mediaClusterIndexOf]]'s shape at video grain):
    * every corpus video's signature with the frozen c106 cluster it
    * belongs to. Videos sharing a signature are frame-for-frame
    * hamming-0 duplicates — containment 1.0, thresholded edge, hence
    * ONE cluster by construction; min() is a determinism guard, not a
    * choice. O(videos) rows; at scale bucketed by sig. */
  private[graft] def videoClusterIndexOf(fidFrames: DataFrame,
                                         labels: DataFrame): DataFrame =
    fidFrames
      .select(shiftright(col("doc_id"), 3).as("doc_id"),
        struct(col("doc_id").bitwiseAND(lit(7L)).as("frame_idx"),
          col("phash")).as("fr"))
      .groupBy("doc_id").agg(collect_list("fr").as("frames"))
      .select(col("doc_id"), videoSigExpr(col("frames")).as("sig"))
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("sig"),
        least(coalesce(col("cluster_id"), col("doc_id")), col("doc_id"))
          .as("cl"))
      .groupBy("sig").agg(min("cl").as("cluster_id"))

  /** c115 gate row (r18): the at-rest VIDEO-SIGNATURE index — d52's
    * serving artifact promoted from spec-only to oracle-gated (the c89
    * precedent: once a serving path ships, its at-rest decision table
    * gets a DuckDB row so drift on EITHER side of the probe
    * hash-fails). Exactly [[videoClusterIndexOf]] over the memoized
    * fid table and the frozen c106 labels, presentation-ordered by
    * sig. The ORACLE recomputes every signature from the c91 hash SQL
    * (string_agg of frame_idx:phash in frame order → md5 — the same
    * rendering videoSigExpr's concat_ws/array_join produces) and every
    * cluster from the composed c106 closure, so the whole
    * demux → hash → signature → label chain is engine-checked. */
  def c115VideoSigIndex(spark: SparkSession, dir: String): DataFrame =
    videoClusterIndexOf(
      spark.read.parquet(videoFidTablePath(spark, dir)),
      spark.read.parquet(videoLabelTablePath(spark, dir)))
      .orderBy("sig")

  /** The at-rest (phash → cluster_id) EXACT-replay index d50 probes
    * (r17): every distinct corpus hash with the frozen cluster its
    * docs belong to. Docs sharing a hash are hamming-0 pairs, hence
    * ONE cluster by construction — min() is a determinism guard, not
    * a choice. O(images) rows, at scale bucketed by phash. */
  private[graft] def mediaClusterIndexOf(index: DataFrame,
                                         labels: DataFrame): DataFrame =
    index
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("phash"),
        least(coalesce(col("cluster_id"), col("doc_id")), col("doc_id"))
          .as("cl"))
      .groupBy("phash").agg(min("cl").as("cluster_id"))

  /** The corpus's video FRAME-hash frame under composite fid keys
    * (doc·8 + frame — c94's packing), column-named doc_id so the
    * shared band machinery applies unchanged. */
  private[graft] def videoFidFrames(spark: SparkSession,
                                    dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(3)) === 2)
      .as[Long]
      .mapPartitions(_.flatMap { id =>
        videoFrameThumbs(id, y4mPayload(id)).map { case (f, t) =>
          (id * 8 + f, dhash56(t), t.map(b => (b & 0xFF).toLong).toSeq)
        }
      })
      .toDF("doc_id", "phash", "luma")
  }

  /** VIDEO-pair duplicate edges from a frame-grain (fid, fid) pair
    * frame + the fid frame-hash table the counts derive from: unpack
    * the composite keys, drop intra-video pairs, fold per ordered
    * video pair (c105's conservative matched-frame count), threshold
    * at [[VideoDupThreshold]]. Shared by [[incrementalVideoClusters]]
    * and the c109 equivalence spec's full-re-cluster side. */
  private[graft] def videoEdgesOf(fidPairs: DataFrame,
                                  fidFrames: DataFrame): DataFrame = {
    val vp = fidPairs
      .select(shiftright(col("u"), 3).as("da"),
        col("u").bitwiseAND(lit(7L)).as("fa"),
        shiftright(col("v"), 3).as("db"),
        col("v").bitwiseAND(lit(7L)).as("fb"))
      .filter(col("da") =!= col("db"))
    val counts = fidFrames
      .select(shiftright(col("doc_id"), 3).as("d"))
      .groupBy("d").agg(count(lit(1)).as("n"))
    vp.groupBy("da", "db")
      .agg(least(countDistinct(col("fa")), countDistinct(col("fb"))).as("m"))
      .join(counts.select(col("d").as("da"), col("n").as("na")), "da")
      .join(counts.select(col("d").as("db"), col("n").as("nb")), "db")
      .filter(col("m") / least(col("na"), col("nb")) >=
        lit(VideoDupThreshold))
      .select(least(col("da"), col("db")).as("u"),
        greatest(col("da"), col("db")).as("v"))
  }

  /** Incremental VIDEO cluster maintenance (r17, c109 — the c103
    * theorem at the COMPOSED two-stage surface): a crawl's frame
    * hashes band against crawl ∪ corpus at FRAME grain (split-sided —
    * corpus×corpus never forms), the surviving fid pairs fold into
    * per-video-pair containment verdicts (c105's fold — complete for
    * every crawl-touching video pair, because all of such a pair's
    * frame pairs have a crawl side), and the thresholded edges feed
    * the SAME maintainLabels core. Per-crawl cost scales with the
    * crawl, never the corpus squared. */
  def incrementalVideoClusters(crawlFrames: DataFrame,
                               corpusFrames: DataFrame,
                               frozenLabels: DataFrame): DataFrame = {
    // same projection rule as incrementalMediaClusters (r20)
    val nh = crawlFrames.select("doc_id", "phash").persist()
    val ch = corpusFrames.select("doc_id", "phash").persist()
    try {
      val clash = nh.select(shiftright(col("doc_id"), 3).as("d")).distinct()
        .join(ch.select(shiftright(col("doc_id"), 3).as("d")).distinct(), "d")
        .limit(1).count()
      require(clash == 0L,
        "incrementalVideoClusters: crawl video ids overlap the corpus — " +
          "re-key the crawl (recrawl replays arrive re-keyed, c37's rule)")
      graft.operators.Dedup.maintainLabels(
        videoEdgesOf(phashCandidatesSplit(nh, ch, 3), nh.unionByName(ch)),
        frozenLabels)
    } finally { nh.unpersist(); ch.unpersist(); () }
  }

  /** Per-JVM memoized MAINTAINED video label table of the c109 crawl
    * (maintainedLabelTablePath's rule at video grain). */
  private[graft] def maintainedVideoLabelTablePath(spark: SparkSession,
                                                   dir: String): String =
    graft.Memo.table("video-labels-incr", Seq(dir)) { p =>
      val corpus = spark.read.parquet(videoFidTablePath(spark, dir))
        .select("doc_id", "phash")
      // re-key at VIDEO grain: doc → doc + 10¹² ⇒ fid → fid + 8·10¹²
      val crawl = corpus
        .filter(pmod(shiftright(col("doc_id"), 3), lit(5)) === 0)
        .select((col("doc_id") + lit(8000000000000L)).as("doc_id"),
          col("phash"))
      val frozen = spark.read.parquet(videoLabelTablePath(spark, dir))
      incrementalVideoClusters(crawl, corpus, frozen)
        .write.parquet(p)
    }

  /** c109 gate row (r17): incremental VIDEO cluster maintenance — the
    * c103 equivalence check at the composed surface: a crawl of
    * re-keyed byte-identical video recrawls (every video with
    * doc_id % 5 = 0, re-keyed +10¹², frame hashes unchanged) folds
    * into the FROZEN c106 label table via
    * [[incrementalVideoClusters]], surfaced in c102's shape over the
    * MERGED video universe. The ORACLE is the FULL re-cluster of the
    * merged frame-hash set (banding → fold → threshold → closure over
    * corpus ∪ recrawls), so add-then-maintain ≡ full-re-cluster is
    * engine-checked every round — through BOTH pipeline stages, not
    * just the hash-band one c103 proves. */
  def c109VideoClustersIncr(spark: SparkSession, dir: String): DataFrame = {
    val maintained =
      spark.read.parquet(maintainedVideoLabelTablePath(spark, dir))
    val base = Tables.documents(spark, dir).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(3)) === 2)
    val merged = base.unionAll(
      base.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + lit(1000000000000L)).as("doc_id")))
    clusterSurface(merged, maintained)
  }

  /** c107 gate row (r17): the JOINT text+media dedup verdict — the
    * decision a multimodal pipeline actually takes on a doc that
    * carries BOTH modalities (here the image slice: every doc has
    * text, doc_id % 3 = 0 additionally carries an image payload). A
    * doc can be a text near-dup without being a media near-dup
    * (template page, fresh image) and vice versa (re-hosted image
    * under a rewritten caption); dropping on either signal alone
    * over- or under-deletes. Composes the MEMOIZED c19 text label
    * table (corpus-wide — a doc's text twin may live outside the
    * slice) and the frozen c102 media label table into one per-doc
    * row: both cluster ids, per-modality droppable flags
    * (non-canonical membership), and the either-verdict. Two O(docs)
    * doc_id equi-joins over at-rest label tables — no re-clustering,
    * nothing corpus². The same composition serves audio (c104 labels)
    * and video (c106 labels) — one shape, documented here (the c102
    * precedent: one composition, one proof). The ORACLE re-derives
    * BOTH closures from scratch (c19's shingle-band CTEs + c102's
    * hash-band CTEs), so drift in either pipeline hash-fails. */
  def c107JointDedup(spark: SparkSession, dir: String): DataFrame = {
    val text = spark.read
      .parquet(graft.operators.Dedup.clusterTablePath(spark, dir))
      .select(col("node").as("doc_id"), col("cluster_id").as("tc"))
    val media = spark.read.parquet(mediaLabelTablePath(spark, dir))
      .select(col("node").as("doc_id"), col("cluster_id").as("mc"))
    val tCl = least(coalesce(col("tc"), col("doc_id")), col("doc_id"))
    val mCl = least(coalesce(col("mc"), col("doc_id")), col("doc_id"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(3)) === 0)
      .join(text, Seq("doc_id"), "left")
      .join(media, Seq("doc_id"), "left")
      .select(col("doc_id"),
        tCl.as("text_cluster_id"), mCl.as("media_cluster_id"),
        (tCl =!= col("doc_id")).as("dup_by_text"),
        (mCl =!= col("doc_id")).as("dup_by_media"),
        (tCl =!= col("doc_id") || mCl =!= col("doc_id")).as("dup_any"))
      .orderBy("doc_id")
  }
}
