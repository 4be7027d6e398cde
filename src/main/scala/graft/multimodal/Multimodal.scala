package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Ids

/** Multimodal column plumbing: image/audio/video as opaque binary
  * columns with typed metadata (builder-prompt requirement).
  *
  * ALL THREE modalities decode for REAL via JDK-shipped codecs (public
  * standard library, headless-safe): images through `javax.imageio`
  * PNG ([[parsePng]]/[[encodePng]]), audio through
  * `javax.sound.sampled` WAV/PCM ([[parseWav]]/[[encodeWav]]), and
  * video through the JDK's multi-frame animated-GIF reader
  * ([[parseGif]]/[[encodeGif]] — the one moving-picture container
  * the JVM decodes; MP4/WebM have no JDK codec). Each codec has ONE
  * parse, returning exact integer sums plus geometry ([[Pooled]]); the
  * query operators emit those sums and [[featurize]]'s float features
  * are normalized from them. Each round-trip is lossless (PNG over
  * TYPE_INT_RGB; PCM; GIF over an indexed 256-gray palette), which is
  * what lets the q83/q84/q85 DuckDB oracles hash-check the whole codec
  * paths: each oracle recomputes the sums from its closed-form
  * generator ([[synthGray]] / [[synthSample]] / [[synthFrameGray]]) —
  * equality holds iff the engine's real round-trip preserved every
  * sample. [[decodeStub]] survives only as the declared fallback for
  * payload bytes no JVM codec can parse (deterministic fake features
  * from the raw bytes). Every operator runs through one per-row decode
  * step ([[decodeEach]]): rows balanced by `media_id` over the
  * session's cores, each flat-mapped to its output rows.
  */
object Multimodal {

  // ImageIO needs no display, but pin headless before any AWT class
  // initializes so executor threads can never trip an X11 probe
  System.setProperty("java.awt.headless", "true")
  // per-row encode/decode must stay in-memory: ImageIO's default cache
  // backs every read/write with a temp FILE (create+delete syscalls per
  // 16x16 image on the hot codec path)
  javax.imageio.ImageIO.setUseCache(false)

  final case class MediaRow(
      media_id: Long,
      kind: String, // image | audio | video
      payload: Array[Byte],
      width: Int,
      height: Int)

  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Int,
      features: Array[Float])

  val featureDim = 16
  /** Block grid side for image and video-frame pooling: blocks² = featureDim. */
  val blocks = 4

  /** One decoded picture or clip: its geometry and its exact integer
    * sums — gray block sums over a [[blocks]]×[[blocks]] grid (row-major
    * blocks, row-major pixels within a block), or PCM sample sums over
    * [[featureDim]] equal windows (width = samples, height = 1 channel).
    */
  final case class Pooled(width: Int, height: Int, sums: Array[Long])

  /** STUB: deterministic fake decoder. A production build replaces this
    * with a real codec call; the signature (bytes -> float features) and
    * everything around it stay unchanged.
    */
  def decodeStub(payload: Array[Byte]): Array[Float] = {
    val out = new Array[Float](featureDim)
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < payload.length) { h = Ids.mix64(h ^ payload(i)); i += 1 }
    var d = 0
    while (d < featureDim) {
      out(d) = ((Ids.mix64(h, d) >>> 40).toFloat / (1 << 24)) - 0.5f
      d += 1
    }
    out
  }

  // ------------------------------------------------ real image codec

  /** Synthetic grayscale pixel generator — the closed-form ground truth
    * the q83 oracle recomputes in DuckDB. Plain integer arithmetic on
    * purpose (not a crypto hash): the property under test is the codec
    * round-trip, not the pixel distribution, and the formula must be
    * one SQL expression.
    */
  def synthGray(id: Long, x: Int, y: Int): Int =
    ((id * 31 + x * 7 + y * 13) % 256).toInt

  /** Real PNG encode of the synthetic image for `id` via the JDK codec.
    * TYPE_INT_RGB + PNG is lossless, so parsePng(encodePng(id)) recovers
    * [[synthGray]] exactly.
    */
  def encodePng(id: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = synthGray(id, x, y)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream(w * h / 2 + 64)
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** PNG magic sniff — the featurize dispatch guard. */
  def isPng(payload: Array[Byte]): Boolean =
    payload.length > 8 &&
      payload(0) == 0x89.toByte && payload(1) == 'P' &&
      payload(2) == 'N' && payload(3) == 'G'

  /** REAL decode: JDK ImageIO → gray (blue channel) block sums. Loud on
    * corrupt bytes: a payload that sniffed as PNG but fails to decode is
    * broken input, never silently fake features.
    */
  def parsePng(payload: Array[Byte]): Pooled = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, s"undecodable image payload (${payload.length} bytes)")
    pool(img)
  }

  private def pool(img: java.awt.image.BufferedImage): Pooled = {
    val (w, h) = (img.getWidth, img.getHeight)
    require(w % blocks == 0 && h % blocks == 0,
      s"image ${w}x$h not divisible into ${blocks}x$blocks blocks")
    val (bw, bh) = (w / blocks, h / blocks)
    val out = new Array[Long](blocks * blocks)
    var by = 0
    while (by < blocks) {
      var bx = 0
      while (bx < blocks) {
        var s = 0L
        var dy = 0
        while (dy < bh) {
          var dx = 0
          while (dx < bw) {
            s += (img.getRGB(bx * bw + dx, by * bh + dy) & 0xFF)
            dx += 1
          }
          dy += 1
        }
        out(by * blocks + bx) = s
        bx += 1
      }
      by += 1
    }
    Pooled(w, h, out)
  }

  // ------------------------------------------------- real audio codec

  /** Synthetic 16-bit PCM sample generator — the q84 oracle's
    * closed-form ground truth (same role as [[synthGray]]).
    */
  def synthSample(id: Long, i: Int): Int =
    ((id * 131 + i * 17) % 65536 - 32768).toInt

  /** Real WAV encode via the JDK audio codec (`javax.sound.sampled` —
    * the one audio format the JVM ships; compressed formats have no JDK
    * codec and stay stubbed). PCM 16-bit mono little-endian; lossless,
    * so parseWav(encodeWav(id)) recovers [[synthSample]] exactly.
    */
  def encodeWav(id: Long, n: Int): Array[Byte] = {
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = synthSample(id, i)
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream(n * 2 + 64)
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** RIFF/WAVE magic sniff — the featurize dispatch guard. */
  def isWav(payload: Array[Byte]): Boolean =
    payload.length > 12 &&
      payload(0) == 'R' && payload(1) == 'I' && payload(2) == 'F' &&
      payload(3) == 'F' && payload(8) == 'W' && payload(9) == 'A' &&
      payload(10) == 'V' && payload(11) == 'E'

  /** REAL audio decode: JDK WAV parser → exact-integer sample sums over
    * [[featureDim]] equal windows. Loud on corrupt bytes or a
    * non-PCM-16/mono/LE stream.
    */
  def parseWav(payload: Array[Byte]): Pooled = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    val fmt = in.getFormat
    require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
      !fmt.isBigEndian &&
      fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      s"unsupported audio stream: $fmt")
    val bytes = in.readAllBytes()
    val n = bytes.length / 2
    require(n % featureDim == 0, s"$n samples not divisible into $featureDim windows")
    val per = n / featureDim
    val out = new Array[Long](featureDim)
    var w = 0
    while (w < featureDim) {
      var s = 0L
      var i = 0
      while (i < per) {
        val j = w * per + i
        s += ((bytes(2 * j) & 0xFF) | (bytes(2 * j + 1) << 8)).toShort.toLong
        i += 1
      }
      out(w) = s
      w += 1
    }
    Pooled(n, 1, out)
  }

  // ------------------------------------------- real video (GIF) codec

  /** Synthetic per-frame pixel generator — the q85 oracle's closed-form
    * ground truth; frame 0 coincides with [[synthGray]].
    */
  def synthFrameGray(id: Long, f: Int, x: Int, y: Int): Int =
    ((id * 31 + f * 41 + x * 7 + y * 13) % 256).toInt

  /** explicit 256-gray palette: GIF's native indexed model, so the JDK
    * writer maps samples 1:1 instead of quantizing (TYPE_BYTE_GRAY gets
    * re-palettized lossily — measured)
    */
  private def grayPalette: java.awt.image.IndexColorModel = {
    val v = Array.tabulate[Byte](256)(_.toByte)
    new java.awt.image.IndexColorModel(8, 256, v, v, v)
  }

  private def synthFrame(id: Long, f: Int, w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
    val r = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { r.setSample(x, y, 0, synthFrameGray(id, f, x, y)); x += 1 }
      y += 1
    }
    img
  }

  /** Real animated-GIF encode via the JDK codec — GIF is the one
    * moving-picture container the JVM can both write and read
    * (MP4/WebM etc. have no JDK codec and would stay stubbed). Indexed
    * 256-gray frames make the round-trip lossless, which is what lets
    * the q85 oracle hash the whole codec path.
    */
  def encodeGif(id: Long, frames: Int, w: Int, h: Int): Array[Byte] = {
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream(frames * w * h / 2 + 256)
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      wr.setOutput(ios)
      wr.prepareWriteSequence(null)
      var f = 0
      while (f < frames) {
        wr.writeToSequence(
          new javax.imageio.IIOImage(synthFrame(id, f, w, h), null, null), null)
        f += 1
      }
      wr.endWriteSequence()
    } finally { ios.close(); wr.dispose() }
    bos.toByteArray
  }

  /** GIF magic sniff — the dispatch guard. */
  def isGif(payload: Array[Byte]): Boolean =
    payload.length > 6 &&
      payload(0) == 'G' && payload(1) == 'I' && payload(2) == 'F' &&
      payload(3) == '8'

  /** REAL video decode: JDK GIF reader → every frame in order, each
    * pooled like an image with its OWN geometry (delta-optimized GIFs
    * store later frames as smaller sub-rectangles). Loud on corrupt
    * bytes.
    */
  def parseGif(payload: Array[Byte]): Seq[Pooled] = {
    val rd = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    // MemoryCacheImageInputStream directly: the source is already an
    // in-memory byte array, and ImageIO.createImageInputStream's default
    // useCache=true variant would hold a temp file + fd until GC
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      rd.setInput(iis)
      val n = rd.getNumImages(true)
      require(n > 0, s"undecodable gif payload (${payload.length} bytes)")
      (0 until n).map(f => pool(rd.read(f)))
    } finally { rd.dispose(); iis.close() }
  }

  // ------------------------------------------- features from the parses

  /** Float features on the [[MediaFeatures]] contract: each part's sums
    * become means over that part's own sample count, the means are
    * averaged across parts (GIF frames; one part otherwise), then mapped
    * to `mean / range - center` — [-0.5, 0.5) for gray (range 255,
    * center 0.5) and signed PCM (range 65536, center 0), the stub's
    * shape and range, so the downstream similarity seam is
    * path-agnostic. Loud on an empty part (0/0 would be silent all-NaN
    * features).
    */
  private def normalize(parts: Seq[Pooled], range: Float, center: Float): Array[Float] = {
    val acc = new Array[Float](featureDim)
    parts.foreach { p =>
      val per = p.width * p.height / featureDim
      require(per > 0, s"empty media (${p.width}x${p.height} samples)")
      var i = 0; while (i < featureDim) { acc(i) += p.sums(i).toFloat / per; i += 1 }
    }
    acc.map(v => v / parts.size / range - center)
  }

  /** Real features of a PNG image: 4×4 block means. */
  def decodeImage(payload: Array[Byte]): Array[Float] =
    normalize(Seq(parsePng(payload)), 255f, 0.5f)

  /** Real features of a WAV clip: 16 window means. */
  def decodeAudio(payload: Array[Byte]): Array[Float] =
    normalize(Seq(parseWav(payload)), 65536f, 0f)

  /** Real features of a GIF clip: per-frame 4×4 block means averaged across frames. */
  def decodeVideo(payload: Array[Byte]): Array[Float] =
    normalize(parseGif(payload), 255f, 0.5f)

  // ----------------------------------------------------- the operators

  // one counter per live SparkContext (this JVM only ever holds one;
  // the map exists so tests that restart the session don't read a
  // dead context's accumulator)
  private val fallbackCounters = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext, org.apache.spark.util.LongAccumulator]()

  /** The session-wide codec-fallback accumulator [[featurize]]
    * increments. Bench reads it after the query suite and records
    * `stub_fallback_rows` (expected 0 on the fixtures — a nonzero value
    * is a codec regression signal).
    */
  def stubFallbackCounter(sc: org.apache.spark.SparkContext)
      : org.apache.spark.util.LongAccumulator =
    fallbackCounters.computeIfAbsent(sc,
      s => s.longAccumulator("graft.multimodal.featurize.stubFallbacks"))

  /** The one decode operator: rows repartitioned by `media_id` into one
    * partition per core of the session (decode is pure per-row CPU work,
    * so the core count is the right denominator, and balancing by id
    * spreads it even when payload sizes skew), each row flat-mapped to
    * its output rows. Per-row results are deterministic, so the
    * partitioning cannot change any emitted value.
    */
  private def decodeEach[T: Encoder](media: Dataset[MediaRow])(
      f: MediaRow => IterableOnce[T]): Dataset[T] =
    media
      .repartition(media.sparkSession.sparkContext.defaultParallelism, col("media_id"))
      .flatMap(f)

  /** Bulk featurization. Dispatch: image rows whose payload really is a
    * PNG, audio rows whose payload really is a RIFF/WAVE, and video rows
    * whose payload really is a GIF go through the REAL JDK codecs;
    * mismatched bytes — and valid-but-unsupported variants the real
    * decoder rejects (stereo WAV, non-4-divisible geometry, empty clips)
    * — keep the declared stub instead of failing the bulk job.
    */
  def featurize(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    // exception-path fallbacks are COUNTED on the session-wide
    // [[stubFallbackCounter]]: a systematic codec regression in this bulk
    // path would otherwise degrade every row to stub features silently.
    // Counts are at-least-once under task retry/speculation
    // (observability, not an exact metric). Declared stub dispatch
    // (kind/magic-byte mismatch) is NOT counted — that path is the
    // documented contract, not decay. The hash-gated query operators
    // stay loud by calling the parses directly.
    val stubFallbacks = stubFallbackCounter(media.sparkSession.sparkContext)
    decodeEach(media) { m =>
      val feats =
        try {
          if (m.kind == "image" && isPng(m.payload)) decodeImage(m.payload)
          else if (m.kind == "audio" && isWav(m.payload)) decodeAudio(m.payload)
          else if (m.kind == "video" && isGif(m.payload)) decodeVideo(m.payload)
          else decodeStub(m.payload)
        } catch {
          case scala.util.control.NonFatal(_) =>
            stubFallbacks.add(1L)
            decodeStub(m.payload)
        }
      Iterator.single(MediaFeatures(m.media_id, m.kind, m.payload.length, feats))
    }
  }

  /** Decoded block-sum features for a media table of real images:
    * (media_id, width, height, feat_str) with feat_str the comma-joined
    * exact integer 4×4 block sums — the q83 output shape (strings keep
    * the driver comparator scalar-only; integers need no float
    * tolerance).
    */
  def imageBlockSums(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    decodeEach(media) { m =>
      Iterator.single((m.media_id, m.width, m.height, parsePng(m.payload).sums.mkString(",")))
    }.toDF("media_id", "width", "height", "feat_str")
  }

  /** Decoded window-sum features for a media table of real WAV clips:
    * (media_id, n_samples, feat_str) with feat_str the comma-joined
    * exact integer 16-window sample sums — the q84 output shape.
    */
  def audioWindowSums(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    decodeEach(media) { m =>
      Iterator.single((m.media_id, m.width, parseWav(m.payload).sums.mkString(",")))
    }.toDF("media_id", "n_samples", "feat_str")
  }

  /** Decoded per-frame block-sum features for a media table of real
    * GIF clips: (media_id, frame_idx, feat_str), one row per actual
    * decoded frame — the q85 output shape (the frame-explode operator).
    */
  def videoFrameSums(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    decodeEach(media) { m =>
      parseGif(m.payload).zipWithIndex.map { case (p, f) =>
        (m.media_id, f, p.sums.mkString(","))
      }
    }.toDF("media_id", "frame_idx", "feat_str")
  }

  /** Media table of REAL codec payloads over the driver `documents`
    * fixture: one `kind` clip of the given geometry per doc_id, its
    * bytes made by `encode(doc_id)` in the executors (narrow per-row
    * work, zero shuffle — the fixture analogue of reading media bytes
    * out of an Iceberg binary column). Feeds q83/q84/q85, whose oracles
    * hash-check the encode→decode round-trip against the closed-form
    * generators.
    */
  def mediaFromDocsEncoded(docs: DataFrame, kind: String, width: Int, height: Int)(
      encode: Long => Array[Byte]): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].map(id => MediaRow(id, kind, encode(id), width, height))
  }

  /** Media table over the driver `documents` fixture: doc text bytes as
    * the opaque payload (string -> binary cast = UTF-8), doc_id as the
    * media id — the driver-table entry point for the multimodal ->
    * featurize -> ANN composition (q78).
    */
  def mediaFromDocs(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3L)) + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"),
      lit(640).as("width"),
      lit(480).as("height"))
      .as[MediaRow]
  }
}
