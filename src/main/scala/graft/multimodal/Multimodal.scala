package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata,
  * with decode/feature-extraction as partition-batched functions.
  *
  * The Spark-side architecture is real and tested — schema, partition-level
  * batch iteration (the Scala analogue of `mapInPandas` batch shape),
  * deterministic output. The codec itself is a STUB (`fakeDecode`): this
  * container has no image/audio libraries, so "decoding" derives metadata
  * (width/height/channels) deterministically from the payload bytes. Swapping
  * in a real codec changes only the function body, not the pipeline shape:
  * the decode stays per-partition, no shuffle, no driver involvement.
  */
object Multimodal {

  /** Persist codec-derived fingerprint frames for the duration of one
    * operator call, EAGERLY (a materializing count), so the real decodes
    * (javax.imageio / javax.sound, the dominant cost of every near-dup
    * pipeline here) run exactly once, serially, BEFORE the band join /
    * flag chain fans the frame out into 2-3 plan branches. Unlike
    * [[graft.operators.Curation.funnel]]'s width-gated persist (where the
    * cached frame carries the corpus text column and materialization can
    * cost more than a narrow re-scan), these frames are 20-44 bytes/row
    * against a per-row codec recompute — the tradeoff never flips, at any
    * corpus size or storage backing (a cached range-generator corpus has
    * tiny scan-byte stats but pays the full decode per branch, which is
    * exactly the case a scan-size gate misses). Eager rather than lazy
    * because the consumers are independent shuffle-map stages of ONE job:
    * submitted concurrently, each would race to compute the same cache
    * partition and the decode could still run per-branch.
    *
    * The frames stay pinned in the [[graft.operators.PlanCache]] registry
    * until the next call (a SET because [[incrementalCrossmodal]] holds
    * two frames at once) — at most two frames per SparkSession.
    */
  private def persistFingerprints(dfs: DataFrame*): Seq[DataFrame] = {
    val cached = graft.operators.PlanCache.replacePins(dfs.head.sparkSession, this)(
      dfs.map(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
    cached.foreach(_.count())
    cached
  }

  val metaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false)))

  /** STUB decode: deterministic pseudo-metadata from an FNV-1a of the bytes.
    * A real implementation would parse the container header here.
    */
  def fakeDecode(payload: Array[Byte]): (String, Int, Int, Int) = {
    val h = graft.functions.SimHash64.fnv1a(payload)
    val format = Seq("png", "jpeg", "webp")(((h % 3) + 3).toInt % 3)
    val width = 64 + (((h >>> 8) % 1216) + 1216).toInt % 1216
    val height = 64 + (((h >>> 24) % 960) + 960).toInt % 960
    (format, width, height, 3)
  }

  /** Fabricate a binary column from the documents table (stands in for real
    * image bytes; UTF-8 of the text). Keeps the harness tables canonical.
    */
  def withPayload(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))

  /** Partition-batched decode: one pass per partition, rows consumed and
    * produced as iterators (never materializing a partition in memory).
    */
  def decodeMeta(spark: SparkSession, withBinary: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(metaSchema)
    withBinary.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val payload = r.getAs[Array[Byte]](1)
        val (format, w, h, c) = fakeDecode(payload)
        Row(id, payload.length.toLong, format, w, h, c)
      }
    }(enc)
  }

  /** End-to-end: documents → payload → partition-batched decode → rollup by
    * format (the aggregate a curation pipeline would gate on).
    */
  def formatStats(spark: SparkSession, documents: DataFrame): DataFrame =
    decodeMeta(spark, withPayload(documents))
      .groupBy(col("format"))
      .agg(
        count(lit(1)).as("doc_count"),
        sum(col("n_bytes")).as("total_bytes"),
        (sum(col("width").cast("long")) / count(lit(1))).as("avg_width"))
      .orderBy(col("format"))

  /** Thumbnail/resize plumbing: fit each decoded image into a bounding box
    * preserving aspect ratio (integer floor scaling, never upscaling) and
    * report the resized dims + raw RGB byte size. The geometry is the real
    * resize contract (what a `mapInPandas`+PIL stage computes before
    * touching pixels); the pixel transform itself stays inside the stub
    * codec boundary. Pure row-local arithmetic over the decode output —
    * fused into the same partition-batched pass, no extra shuffle.
    */
  def thumbnails(spark: SparkSession, documents: DataFrame,
      maxW: Int = 256, maxH: Int = 256): DataFrame =
    decodeMeta(spark, withPayload(documents))
      // fixed-point (x1e6) INTEGER-ONLY scaling: bit-identical in any
      // engine (no float division anywhere)
      .withColumn("scale_num", expr(
        s"least((${maxW.toLong} * 1000000) DIV width," +
          s" (${maxH.toLong} * 1000000) DIV height, 1000000)"))
      .select(
        col("doc_id"), col("format"), col("width"), col("height"),
        expr("greatest(1, (width * scale_num) DIV 1000000)").cast("int")
          .as("thumb_w"),
        expr("greatest(1, (height * scale_num) DIV 1000000)").cast("int")
          .as("thumb_h"))
      .withColumn("thumb_bytes",
        col("thumb_w").cast("long") * col("thumb_h") * lit(3L))
      .orderBy(col("doc_id"))

  val bmpSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("pixel_sum", LongType, nullable = false)))

  /** Deterministic grayscale value for pixel (x, y) of doc `docId` — the
    * shared contract between the encoder below and the SQL oracle (which
    * recomputes the same modular arithmetic over a generate-series grid).
    */
  def bmpPixel(docId: Long, x: Int, y: Int): Int =
    ((docId + 31L * x + 17L * y) % 256L).toInt

  /** Synthesize a real BMP image for a doc: dims derived from the id,
    * pixels from [[bmpPixel]], encoded by the JDK's actual BMP writer.
    */
  private def grayImage(docId: Long): java.awt.image.BufferedImage = {
    val w = 8 + (docId % 13).toInt
    val h = 8 + (docId % 11).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = bmpPixel(docId, x, y)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    img
  }

  def encodeBmp(docId: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.setUseCache(false) // memory-only streams on executors
    javax.imageio.ImageIO.write(grayImage(docId), "bmp", bos)
    bos.toByteArray
  }

  /** Synthesize a real PNG for a doc — same dims and pixel formula as
    * [[encodeBmp]], through the JDK's actual PNG writer (filter heuristics
    * + deflate), so the CONTAINER varies while the pixel contract does
    * not: PNG is lossless, and every arithmetic fingerprint oracle holds
    * unchanged across the mixed corpus.
    */
  def encodePng(docId: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.setUseCache(false)
    javax.imageio.ImageIO.write(grayImage(docId), "png", bos)
    bos.toByteArray
  }

  /** The mixed-container corpus image: odd ids are PNG, even ids BMP —
    * two genuine javax.imageio codecs (inflate + filter reconstruction vs
    * bottom-up padded rows) behind one pixel contract. The fingerprint
    * path decodes whichever container the id carries, like a real corpus.
    */
  def encodeImage(docId: Long): Array[Byte] =
    if ((docId & 1L) == 1L) encodePng(docId) else encodeBmp(docId)

  /** REAL-codec slice beside the FNV stub: encode each doc to actual BMP
    * bytes, decode them back through `javax.imageio` (a genuine pure-JVM
    * container parse — header, row padding, bottom-up row order), and
    * report the decoded geometry plus a full-pixel checksum. Same
    * partition-batched, shuffle-free shape as [[decodeMeta]]; the oracle
    * reproduces width/height/pixel_sum arithmetically, so a codec that
    * mangled dims, channel order or padding would hash-mismatch.
    */
  def bmpRoundTrip(spark: SparkSession, documents: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(bmpSchema)
    documents.select(col("doc_id")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = encodeBmp(id)
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        var sum = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val rgb = img.getRGB(x, y)
            sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        Row(id, img.getWidth, img.getHeight, sum)
      }
    }(enc).orderBy(col("doc_id"))
  }

  val wavSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("sample_sum", LongType, nullable = false),
    StructField("peak_abs", LongType, nullable = false)))

  /** Deterministic signed 16-bit PCM sample i of doc `docId` — the shared
    * contract between the WAV encoder below and the SQL oracle. Spans the
    * full int16 range so both byte order and sign extension are exercised.
    */
  def wavSample(docId: Long, i: Int): Int =
    (((docId * 7L + i.toLong * 193L) % 65536L) - 32768L).toInt

  def wavSampleCount(docId: Long): Int = 64 + (docId % 97L).toInt

  /** The JDK's WAVE codec SPI instances, resolved ONCE per JVM. Every
    * `AudioSystem.write` / `AudioSystem.getAudioInputStream` call walks the
    * provider registry behind a global lock — measured on this 32-core box
    * at NEGATIVE thread scaling (320k decodes on 32 threads: 33.6 s, vs
    * 17k/s on one thread). Calling the same provider objects directly is
    * the identical genuine RIFF parse/serialize (the JDK's WaveFileReader/
    * Writer), minus the per-call synchronized registry walk; the reader and
    * writer are stateless and thread-safe. 320k decodes on 32 threads drop
    * to ~1 s.
    */
  private lazy val wavWriter: javax.sound.sampled.spi.AudioFileWriter = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .asScala
      .find(_.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
      .getOrElse(throw new IllegalStateException("no WAVE AudioFileWriter SPI"))
  }

  private lazy val wavReader: javax.sound.sampled.spi.AudioFileReader = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .asScala
      .find { r =>
        try {
          r.getAudioInputStream(
            new java.io.ByteArrayInputStream(encodeWav(0L))).close(); true
        } catch { case _: Exception => false }
      }
      .getOrElse(throw new IllegalStateException("no WAVE AudioFileReader SPI"))
  }

  /** [[wavReader]].getAudioInputStream with the stream positioned at 0. */
  private def decodeWavStream(
      bytes: Array[Byte]): javax.sound.sampled.AudioInputStream =
    wavReader.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))

  /** Synthesize a real RIFF/WAVE container for a doc (16-bit mono LE PCM
    * at 8 kHz) through the JDK's actual WAV writer.
    */
  def encodeWav(docId: Long): Array[Byte] = {
    val n = wavSampleCount(docId)
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = wavSample(docId, i)
      pcm(i * 2) = (s & 0xff).toByte
      pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      8000f, 16, 1, /*signed*/ true, /*bigEndian*/ false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    wavWriter.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL audio-codec slice beside the BMP one: encode each doc to an
    * actual WAV container, decode it back through `javax.sound.sampled`
    * (genuine RIFF chunk parse — header walk, fmt block, frame size,
    * little-endian int16 payload), and report format fields plus exact
    * integer signal statistics. Same partition-batched, shuffle-free
    * shape as [[bmpRoundTrip]]; the oracle reproduces every output
    * arithmetically, so a codec that mangled endianness, sign, channel
    * count or chunk offsets would hash-mismatch.
    */
  def wavRoundTrip(spark: SparkSession, documents: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(wavSchema)
    documents.select(col("doc_id")).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = encodeWav(id)
        val ais = decodeWavStream(bytes)
        val fmt = ais.getFormat
        val n = ais.getFrameLength
        val buf = ais.readAllBytes()
        var sum = 0L
        var peak = 0L
        var i = 0
        while (i < buf.length - 1) {
          // decoded stream is little-endian signed 16-bit mono
          val s = ((buf(i) & 0xff) | (buf(i + 1).toInt << 8)).toShort.toInt
          sum += s
          if (math.abs(s.toLong) > peak) peak = math.abs(s.toLong)
          i += 2
        }
        Row(id, fmt.getSampleRate.toInt, n, sum, peak)
      }
    }(enc).orderBy(col("doc_id"))
  }

  val imageFpSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("dhash", LongType, nullable = false),
    StructField("ahash", LongType, nullable = false)))

  /** Perceptual hashes over the REAL decoded pixels — the image analogue
    * of the text fingerprints that drive near-dup dedup:
    *
    *  - **dHash** (difference hash): sample the image on a 9×8 integer
    *    grid (`x_src = x_t·w DIV 9`, `y_src = y_t·h DIV 8` — a
    *    deterministic nearest-neighbor resize, no float interpolation,
    *    so any engine reproduces it bit-exactly), set bit `y·8+x` iff
    *    the right neighbor is strictly brighter. Robust to uniform
    *    brightness shifts.
    *  - **aHash** (average hash): 8×8 grid, set the bit iff the pixel
    *    beats the grid mean — compared exactly as `64·g > Σg`, no
    *    division.
    *
    * Pixels come from an actual `javax.imageio` BMP parse of real encoded
    * bytes ([[encodeBmp]]) on the executors — same genuine-codec slice as
    * [[bmpRoundTrip]] (the grayscale read takes the blue channel; the
    * synthetic pixels are gray, r=g=b, so channel choice is immaterial
    * and the oracle's single-value pixel formula stays exact). Same
    * partition-batched, shuffle-free shape as [[decodeMeta]]: at 100 TB
    * of images this stage is embarrassingly parallel, one pass, output
    * 36 bytes/doc.
    */
  def imageFingerprints(spark: SparkSession, documents: DataFrame): DataFrame =
    imageFingerprintsRaw(documents).orderBy(col("doc_id"))

  /** [[imageFingerprints]] without the presentation sort — the near-dup
    * banding consumes this (a sort feeding an equi-join is wasted work).
    */
  private def imageFingerprintsRaw(documents: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(imageFpSchema)
    documents.select(col("doc_id")).mapPartitions { rows =>
      rows.map { r =>
        val (w, h, dhash, ahash) = imageFpOf(r.getLong(0))
        Row(r.getLong(0), w, h, dhash, ahash)
      }
    }(enc)
  }

  /** Per-doc image fingerprint core (executor-side): encode → REAL
    * javax.imageio decode of a MIXED-container corpus (odd ids PNG, even
    * ids BMP — [[encodeImage]]) → integer grid resize → (w, h, dHash,
    * aHash). Shared by [[imageFingerprints]] and the cross-modal funnel's
    * single decode pass; both containers are lossless, so the arithmetic
    * pixel oracle is container-blind.
    */
  private[graft] def imageFpOf(id: Long): (Int, Int, Long, Long) = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(encodeImage(id)))
    val w = img.getWidth
    val h = img.getHeight
    // dHash: 9x8 grid, horizontal gradient sign
    var dhash = 0L
    var yt = 0
    while (yt < 8) {
      val ys = yt * h / 8
      var prev = img.getRGB(0, ys) & 0xff // x_t = 0 → x_src = 0
      var xt = 0
      while (xt < 8) {
        val next = img.getRGB((xt + 1) * w / 9, ys) & 0xff
        if (next > prev) dhash |= 1L << (yt * 8 + xt)
        prev = next
        xt += 1
      }
      yt += 1
    }
    // aHash: 8x8 grid vs exact integer mean
    val grid = new Array[Int](64)
    var sum = 0L
    var i = 0
    while (i < 64) {
      grid(i) = img.getRGB((i % 8) * w / 8, (i / 8) * h / 8) & 0xff
      sum += grid(i)
      i += 1
    }
    var ahash = 0L
    i = 0
    while (i < 64) {
      if (64L * grid(i) > sum) ahash |= 1L << i
      i += 1
    }
    (w, h, dhash, ahash)
  }

  /** Image near-duplicate detection: dHash fingerprints through the same
    * Hamming-banded candidate join the SimHash text path uses
    * ([[graft.operators.Dedup.bandedHammingPairs]] — pigeonhole-lossless,
    * `maxHamming + 1` bands, NEVER an all-pairs scan). For a training-data
    * pipeline this is the image twin of text near-dup dedup: re-encoded /
    * brightness-shifted copies land within a few dHash bits of each other
    * and surface here as (doc_a, doc_b, hamming) edges ready for
    * [[graft.operators.Dedup.nearDupClusters]]. Scale = fingerprint pass
    * (map-only over the images) + a band equi-join on 5/6-byte keys.
    */
  def imageNearDups(
      spark: SparkSession, documents: DataFrame,
      maxHamming: Int = 2): DataFrame = {
    val Seq(fps) = persistFingerprints(
      imageFingerprintsRaw(documents)
        .select(col("doc_id"), col("dhash").as("fp")))
    graft.operators.Dedup.bandedHammingPairs(fps, maxHamming)
  }

  val audioFpSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false),
    StructField("afp", LongType, nullable = false),
    StructField("pfp", LongType, nullable = false)))

  /** Perceptual audio fingerprints over the REAL decoded PCM — the audio
    * analogue of [[imageFingerprints]], completing the near-dup modality
    * triple (text SimHash, image dHash, audio energy hash). The signal is
    * cut into 65 integer-boundary frames (`lo = f·n DIV 65`; empty frames
    * when n < 65 have energy 0 — deterministic, oracle-replayable) with
    * exact absolute-amplitude frame energies `E_f = Σ|s_i|`:
    *
    *  - **afp** (envelope-delta hash): bit f iff `E_{f+1} > E_f` — the
    *    sign-of-energy-difference sub-fingerprint of Haitsma & Kalker 2002
    *    ("A Highly Robust Audio Fingerprinting System") with the band
    *    filterbank collapsed to one broadband energy per frame, keeping
    *    the arithmetic integer-exact. Robust to uniform gain scaling.
    *  - **pfp** (energy-profile hash): bit f iff frame f beats the mean
    *    frame energy, compared exactly as `65·E_f > ΣE` — the aHash twin.
    *
    * Samples come from an actual `javax.sound.sampled` RIFF/WAVE parse of
    * real encoded bytes ([[encodeWav]]) on the executors — the same
    * genuine-codec slice as [[wavRoundTrip]]. Map-only, shuffle-free, 28
    * bytes/doc out: at 100 TB of audio this stage is embarrassingly
    * parallel.
    */
  def audioFingerprints(spark: SparkSession, documents: DataFrame): DataFrame =
    audioFingerprintsRaw(documents).orderBy(col("doc_id"))

  /** [[audioFingerprints]] without the presentation sort (banding input). */
  private def audioFingerprintsRaw(documents: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(audioFpSchema)
    documents.select(col("doc_id")).mapPartitions { rows =>
      rows.map { r =>
        val (n, afp, pfp) = audioFpOf(r.getLong(0))
        Row(r.getLong(0), n, afp, pfp)
      }
    }(enc)
  }

  /** Per-doc audio fingerprint core (executor-side): encode → REAL
    * javax.sound RIFF/WAVE decode → 65-frame abs-energy envelope →
    * (n_samples, afp, pfp). Shared by [[audioFingerprints]] and the
    * cross-modal funnel's single decode pass.
    */
  private[graft] def audioFpOf(id: Long): (Int, Long, Long) = {
    val ais = decodeWavStream(encodeWav(id))
    val buf = ais.readAllBytes() // little-endian signed 16-bit mono
    val n = buf.length / 2
    val abs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = ((buf(2 * i) & 0xff) | (buf(2 * i + 1).toInt << 8)).toShort.toInt
      abs(i) = math.abs(s.toLong)
      i += 1
    }
    val e = new Array[Long](65)
    var tot = 0L
    var f = 0
    while (f < 65) {
      var j = f * n / 65
      val hi = (f + 1) * n / 65
      var s = 0L
      while (j < hi) { s += abs(j); j += 1 }
      e(f) = s
      tot += s
      f += 1
    }
    var afp = 0L
    var pfp = 0L
    f = 0
    while (f < 64) {
      if (e(f + 1) > e(f)) afp |= 1L << f
      if (65L * e(f) > tot) pfp |= 1L << f
      f += 1
    }
    (n, afp, pfp)
  }

  /** Audio near-duplicate classes and edges through the collapse-then-band
    * scale path ([[graft.operators.Dedup.collapsedHammingPairs]]): identical
    * envelope hashes collapse to one class row before the pigeonhole Hamming
    * banding runs over DISTINCT fingerprints, so a dup-heavy corpus (the
    * regime audio dedup exists for — re-encoded copies collapse to the same
    * integer fingerprint here) never pays quadratic-per-class pair
    * enumeration. Edges come back as `(rep_a, rep_b, hamming, pair_count)`.
    */
  def audioNearDups(
      spark: SparkSession, documents: DataFrame,
      maxHamming: Int = 2): DataFrame =
    graft.operators.Dedup.collapsedHammingPairs(
      audioFingerprintsRaw(documents)
        .select(col("doc_id"), col("afp").as("fp")),
      maxHamming,
      classes => persistFingerprints(classes).head)

  /** [[imageNearDups]] through the same collapse-then-band scale path —
    * the exact mitigation the plain banding's 100× scaling analysis
    * prescribes for dup-heavy image corpora (identical dHashes are already
    * known duplicates; banding then runs on distinct fingerprints only).
    */
  def imageNearDupsCollapsed(
      spark: SparkSession, documents: DataFrame,
      maxHamming: Int = 2): DataFrame =
    graft.operators.Dedup.collapsedHammingPairs(
      imageFingerprintsRaw(documents)
        .select(col("doc_id"), col("dhash").as("fp")),
      maxHamming,
      classes => persistFingerprints(classes).head)

  val crossmodalFpSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("afp", LongType, nullable = false),
    StructField("dhash", LongType, nullable = false),
    StructField("th", StringType, nullable = false)))

  /** One decode pass for the cross-modal funnel: both REAL codecs (WAV via
    * javax.sound, BMP via javax.imageio) plus the text content digest in a
    * single partition-batched scan — three fingerprints per doc, one read.
    *
    * Stateless and sort-free, so it runs UNCHANGED on a streaming
    * documents frame (the fingerprint stage of a streaming ingest feeds a
    * stream-static banded join or a standing digest index exactly like the
    * text-digest stages of [[graft.streaming.StreamingAgg]]); batch ≡
    * stream row-for-row, spec-pinned. The batch funnel/near-dup consumers
    * persist this frame ([[persistFingerprints]]) before their stage gates.
    */
  def crossmodalFingerprints(documents: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(crossmodalFpSchema)
    documents.select(col("doc_id"), col("text")).mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val id = r.getLong(0)
        val afp = audioFpOf(id)._2
        val dh = imageFpOf(id)._3
        md.reset()
        val th = md.digest(r.getString(1).getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
          .map(b => f"$b%02x").mkString
        Row(id, afp, dh, th)
      }
    }(enc)
  }

  /** Cross-modal dedup funnel — the composed pipeline a multimodal
    * training-data curation run executes: per-stage survivor counts as the
    * corpus passes audio exact dedup → audio near-dup → image exact dedup →
    * image near-dup → text exact dedup, each stage scoped to the previous
    * stage's survivors.
    *
    * Stage semantics (deterministic, oracle-replayable):
    *  - exact stages keep the lowest surviving doc_id per fingerprint value
    *    (the same lowest-id-wins rule as [[graft.operators.Curation.funnel]]'s
    *    exact_dedup stage);
    *  - near stages drop a survivor iff a lower-id survivor sits within
    *    Hamming ≤ 2 of it (non-cascading single pass: the lower endpoint
    *    drops the higher one whether or not it is itself dropped), with
    *    candidates from the pigeonhole banding — never an all-pairs scan.
    *
    * Plan shape follows Curation.funnel: stage membership is cumulative
    * FLAGS on one fingerprint frame folded by a single conditional
    * aggregate, not six recomputed count subtrees; only the two near-dup
    * stages add a join (banded drops, then a broadcast-size anti marker).
    * The fingerprint frame is persisted eagerly ([[persistFingerprints]])
    * so the drop subtrees and the final fold read 44-byte cached rows
    * instead of re-running the three codecs per branch.
    */
  def crossmodalDedupFunnel(
      spark: SparkSession, documents: DataFrame,
      maxHamming: Int = 2): DataFrame = {
    val g5 = crossmodalFlags(documents, maxHamming)
    def stageRow(id: Int, name: String, c: org.apache.spark.sql.Column) =
      struct(lit(id).as("stage_idx"), lit(name).as("stage"), c.as("survivors"))
    g5.agg(
        count(lit(1)).as("c0"),
        count(when(col("f1"), lit(1))).as("c1"),
        count(when(col("f2"), lit(1))).as("c2"),
        count(when(col("f3"), lit(1))).as("c3"),
        count(when(col("f4"), lit(1))).as("c4"),
        count(when(col("f5"), lit(1))).as("c5"))
      .select(explode(array(
        stageRow(0, "ingested", col("c0")),
        stageRow(1, "audio_exact", col("c1")),
        stageRow(2, "audio_near", col("c2")),
        stageRow(3, "image_exact", col("c3")),
        stageRow(4, "image_near", col("c4")),
        stageRow(5, "text_exact", col("c5")))).as("s"))
      .select(col("s.*"))
      .orderBy(col("stage_idx"))
  }

  /** Documents surviving ALL five cross-modal gates — the curated corpus a
    * multimodal run hands to the output side (e.g.
    * [[graft.operators.Pack.trainingBatchManifest]]). One (doc_id) row per
    * survivor, gate semantics exactly [[crossmodalDedupFunnel]]'s.
    */
  def crossmodalSurvivors(
      spark: SparkSession, documents: DataFrame,
      maxHamming: Int = 2): DataFrame =
    crossmodalFlags(documents, maxHamming)
      .filter(col("f5")).select(col("doc_id"))

  /** Session-scoped cache of the CHECKPOINTED crossmodal fingerprint
    * frame: the funnel, the survivor projection and the train manifest
    * all decode the same corpus through the same three codecs — decode
    * once per corpus per session ([[graft.operators.PlanCache]]
    * discipline; 44 bytes/doc). Streaming/in-memory frames bypass (the
    * streaming path feeds the standing digest index instead).
    */
  private val crossmodalFpCache = new graft.operators.PlanCache[Unit]()

  private def crossmodalFpCached(documents: DataFrame): DataFrame =
    crossmodalFpCache.getOrBuild(documents, ())(crossmodalFingerprints(documents))

  /** The funnel's flagged frame: one row per doc with the cumulative gate
    * flags f1..f5 over the three fingerprints (shared by the stage-count
    * rollup and the survivor projection).
    *
    * The fingerprint frame feeds three plan branches (the two banded-drop
    * subtrees and the final consumer), each of which would re-decode every
    * payload, so the 44-byte-per-doc frame comes checkpointed from
    * [[crossmodalFpCached]] and the three codecs run ONCE regardless of
    * corpus size or backing.
    */
  private def crossmodalFlags(
      documents: DataFrame, maxHamming: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fps = crossmodalFpCached(documents)
    val f1 = fps.withColumn("f1",
      col("doc_id") === min(col("doc_id")).over(Window.partitionBy(col("afp"))))
    val dropsA = graft.operators.Dedup.bandedHammingPairs(
        f1.filter(col("f1")).select(col("doc_id"), col("afp").as("fp")), maxHamming)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("da", lit(1))
    val g2 = f1.join(dropsA, Seq("doc_id"), "left")
      .withColumn("f2", col("f1") && col("da").isNull)
    val g3 = g2.withColumn("f3",
      col("f2") && col("doc_id") ===
        min(when(col("f2"), col("doc_id"))).over(Window.partitionBy(col("dhash"))))
    val dropsI = graft.operators.Dedup.bandedHammingPairs(
        g3.filter(col("f3")).select(col("doc_id"), col("dhash").as("fp")), maxHamming)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("di", lit(1))
    val g4 = g3.join(dropsI, Seq("doc_id"), "left")
      .withColumn("f4", col("f3") && col("di").isNull)
    g4.withColumn("f5",
      col("f4") && col("doc_id") ===
        min(when(col("f4"), col("doc_id"))).over(Window.partitionBy(col("th"))))
  }

  val videoSigSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("sampled_frames", IntegerType, nullable = false),
    StructField("vsig", LongType, nullable = false)))

  /** Video signatures — the temporal composition of [[frameSample]] and
    * [[imageFingerprints]] that completes the near-dup modality set
    * (text, image, audio, video): sample every `stride`-th frame of the
    * synthetic clip (doc `d` has `4 + d mod 7` frames; frame k is the REAL
    * BMP image of id `d·131 + k·17`, decoded through javax.imageio like
    * every other image here), take each sampled frame's dHash, and fold
    * them into one 64-bit signature by per-bit MAJORITY vote (bit set iff
    * `2·count > sampled_frames` — exact integer compare, no division).
    * Majority voting is the standard order-free frame-hash aggregation for
    * clip-level near-dup (a re-encoded clip shifts a few frame bits;
    * the majority bit flips only where most frames moved). Map-only,
    * shuffle-free, 24 bytes/doc out.
    */
  def videoSignatures(
      spark: SparkSession, documents: DataFrame, stride: Int = 2): DataFrame =
    videoSignaturesRaw(documents, stride).orderBy(col("doc_id"))

  /** [[videoSignatures]] without the presentation sort (banding input). */
  private def videoSignaturesRaw(
      documents: DataFrame, stride: Int): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    val enc = org.apache.spark.sql.Encoders.row(videoSigSchema)
    // The input is the 8-byte doc_id column, so the scan is one split
    // and every per-frame ImageIO decode below ran in ONE task
    // (profiled: 2.2 s single-core, round 13). Spread the ids first —
    // scale-adaptive fan-out, trivial exchange (8 bytes/row) against a
    // full codec decode per frame.
    val parts = documents.sparkSession.sparkContext.defaultParallelism
    documents.select(col("doc_id")).repartition(parts).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val nf = (4 + id % 7).toInt
        val counts = new Array[Int](64)
        var m = 0
        var k = 0
        while (k < nf) {
          val dh = imageFpOf(id * 131L + k.toLong * 17L)._3
          var b = 0
          while (b < 64) {
            if (((dh >> b) & 1L) == 1L) counts(b) += 1
            b += 1
          }
          m += 1
          k += stride
        }
        var sig = 0L
        var b = 0
        while (b < 64) {
          if (2 * counts(b) > m) sig |= 1L << b
          b += 1
        }
        Row(id, nf, m, sig)
      }
    }(enc)
  }

  /** Video near-duplicate edges: majority-vote frame signatures through the
    * collapse-then-band scale path ([[graft.operators.Dedup.collapsedHammingPairs]]),
    * same contract as [[audioNearDups]]/[[imageNearDupsCollapsed]].
    */
  def videoNearDups(
      spark: SparkSession, documents: DataFrame,
      maxHamming: Int = 2, stride: Int = 2): DataFrame =
    graft.operators.Dedup.collapsedHammingPairs(
      videoSignaturesRaw(documents, stride)
        .select(col("doc_id"), col("vsig").as("fp")),
      maxHamming,
      classes => persistFingerprints(classes).head)

  /** Incremental cross-modal dedup — the arrival-batch form of
    * [[crossmodalDedupFunnel]] against a STANDING corpus, composing the
    * incremental-dedup shape ([[graft.operators.Dedup.incrementalDedup]])
    * with all three modal fingerprints:
    *
    *  1. corpus gates (stream-static-join-shaped): an arrival drops if its
    *     audio envelope hash or image dHash sits within `maxHamming` of
    *     ANY corpus fingerprint (banded probe-vs-index match, exact hits
    *     included at Hamming 0), or its text digest already exists;
    *  2. arrival-internal exact gates: lowest surviving arrival doc_id
    *     wins per afp, then per dhash, then per th — the funnel's gate
    *     order scoped to the batch.
    *
    * Arrival-internal NEAR dedup stays a full-rebuild concern by design
    * (same batch/stream split as the span audit in incremental
    * regeneration). Output: the surviving arrivals WITH their
    * fingerprints — exactly the delta a pipeline appends to the standing
    * fingerprint index for the next increment.
    */
  def incrementalCrossmodal(
      spark: SparkSession, newDocs: DataFrame, corpus: DataFrame,
      maxHamming: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // both frames fan out into 3 branches each (two banded probes/indexes
    // + the digest anti-join / survivor base) — decode each corpus once
    val Seq(arr, corp) = persistFingerprints(
      crossmodalFingerprints(newDocs), crossmodalFingerprints(corpus))
    val dropA = graft.operators.Dedup.bandedHammingMatches(
      arr.select(col("doc_id"), col("afp").as("fp")),
      corp.select(col("afp").as("fp")).distinct(), maxHamming)
    val dropI = graft.operators.Dedup.bandedHammingMatches(
      arr.select(col("doc_id"), col("dhash").as("fp")),
      corp.select(col("dhash").as("fp")).distinct(), maxHamming)
    val s0 = arr
      .join(dropA, Seq("doc_id"), "left_anti")
      .join(dropI, Seq("doc_id"), "left_anti")
      .join(corp.select(col("th")).distinct(), Seq("th"), "left_anti")
    val i1 = s0.withColumn("i1",
      col("doc_id") === min(col("doc_id")).over(Window.partitionBy(col("afp"))))
    val i2 = i1.withColumn("i2",
      col("i1") && col("doc_id") ===
        min(when(col("i1"), col("doc_id"))).over(Window.partitionBy(col("dhash"))))
    i2.withColumn("i3",
        col("i2") && col("doc_id") ===
          min(when(col("i2"), col("doc_id"))).over(Window.partitionBy(col("th"))))
      .filter(col("i3"))
      .select(col("doc_id"), col("afp"), col("dhash"), col("th"))
      .orderBy(col("doc_id"))
  }

  /** Frame-sampling plumbing for video-like payloads: treat the payload as
    * a sequence of fixed-size frames, keep every `stride`-th frame. Emits
    * per-doc frame counts — the bookkeeping a `mapInPandas` frame-sampler
    * runs before decoding the kept frames. Row-local arithmetic on
    * n_bytes; sampling ratio is exact integer math (ceil division).
    */
  def frameSample(spark: SparkSession, documents: DataFrame,
      frameBytes: Int = 32, stride: Int = 4): DataFrame =
    decodeMeta(spark, withPayload(documents))
      .select(
        col("doc_id"),
        expr(s"n_bytes DIV $frameBytes").as("total_frames"))
      .withColumn("sampled_frames",
        expr(s"(total_frames + ${stride - 1}) DIV $stride"))
      .orderBy(col("doc_id"))
}
