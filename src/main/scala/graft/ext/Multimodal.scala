package graft.ext

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column support (SURVEY.md §7.6): image/audio/video as
  * opaque `binary` columns with typed metadata, decoded and
  * feature-extracted in per-partition batches.
  *
  * The decoder is REAL: `javax.imageio` (pure JVM, no external
  * dependency) parses PNG / BMP / GIF / JPEG blobs into dimensions,
  * channel count, and exact per-channel pixel sums. Undecodable bytes
  * degrade to a typed `unknown` row rather than failing the job — the
  * posture a 100 TB media crawl needs, where some fraction of blobs is
  * always corrupt.
  *
  * Scale shape: decode runs inside `mapPartitions` — codec configured
  * once per partition (`ImageIO.setUseCache(false)` keeps it off the
  * executor's disk), one iterator pass, no per-row task overhead, typed
  * Dataset out. Embarrassingly parallel; partition count is the only
  * knob.
  */
object Multimodal {

  /** Media row after decode: typed metadata + exact pixel statistics
    * per blob. Undecodable blobs: format="unknown", zero dims/sums.
    * Pixel sums are integer-exact (no float drift), so they are
    * oracle-checkable cell-for-cell when the image content is known.
    */
  final case class MediaMeta(
      id: Long,
      n_bytes: Int,
      format: String,
      width: Int,
      height: Int,
      channels: Int,
      n_frames: Int,
      sum_red: Long,
      sum_green: Long,
      sum_blue: Long)

  /** Attach a binary payload + basic metadata to an id/text pair —
    * stands in for reading real media blobs alongside scalar columns.
    */
  def withBinary(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(col(idCol).cast(LongType).as("id"),
      col(payloadCol).cast(BinaryType).as("blob"))
      .withColumn("n_bytes", octet_length(col("blob")))

  // ------------------------------------------------------------ encoders
  // Deterministic synthetic images, used to exercise the real decoder
  // with content whose decoded statistics an external oracle can
  // recompute arithmetically. Dimensions and pixels are pure functions
  // of the row id:
  //   width  = id % 13 + 1, height = id % 7 + 1
  //   red(x,y) = (id + x) % 256       — varies along x
  //   green    = id % 256             — constant
  //   blue(x,y) = (id * 3 + y) % 256  — varies along y
  // so sum_red = h · Σ_x (id+x)%256, sum_green = w·h·(id%256),
  // sum_blue = w · Σ_y (id·3+y)%256 — all exact integer arithmetic.

  /** Synthetic image dimensions for an id (small on purpose — the
    * point is decoding correctness, not pixel volume).
    */
  def synthDims(id: Long): (Int, Int) =
    ((id % 13 + 1).toInt, (id % 7 + 1).toInt)

  private def synthPixel(id: Long, x: Int, y: Int): (Int, Int, Int) =
    (((id + x) % 256).toInt, (id % 256).toInt, ((id * 3 + y) % 256).toInt)

  /** Hand-written 24-bit BMP encoder (BITMAPINFOHEADER, bottom-up rows,
    * 4-byte row padding). BMP is uncompressed, so its exact byte length
    * — 54 + rowSize·height, rowSize = ((24·w + 31)/32)·4 — is itself a
    * decoder-verifiable quantity.
    */
  def encodeBmp(id: Long): Array[Byte] = {
    val (w, h) = synthDims(id)
    encodeBmpPixels(w, h, (x, y) => synthPixel(id, x, y))
  }

  /** [[encodeBmp]]'s perturbed twin: the same synthetic image with the
    * single (0,0) pixel's green channel shifted by +128 mod 256 — a
    * one-pixel edit, so the decoded raster is a perceptual NEAR-dup of
    * the original (the dHash flips only the bits whose 8×8 luma
    * samples land on (0,0); for the small synthetic dims several grid
    * cells can alias onto it, so planted distances range 0..~16).
    */
  def encodeBmpPerturbed(id: Long): Array[Byte] = {
    val (w, h) = synthDims(id)
    encodeBmpPixels(w, h, (x, y) => {
      val (r, g, b) = synthPixel(id, x, y)
      if (x == 0 && y == 0) (r, (g + 128) % 256, b) else (r, g, b)
    })
  }

  private def encodeBmpPixels(w: Int, h: Int,
      pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val rowSize = ((24 * w + 31) / 32) * 4
    val dataSize = rowSize * h
    val fileSize = 54 + dataSize
    val buf = ByteBuffer.allocate(fileSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(fileSize).putInt(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h)
    buf.putShort(1).putShort(24)
    buf.putInt(0).putInt(dataSize).putInt(2835).putInt(2835)
    buf.putInt(0).putInt(0)
    var y = h - 1 // bottom-up scan order
    while (y >= 0) {
      var x = 0
      while (x < w) {
        val (r, g, b) = pixel(x, y)
        buf.put(b.toByte).put(g.toByte).put(r.toByte) // BGR on disk
        x += 1
      }
      var p = rowSize - w * 3
      while (p > 0) { buf.put(0.toByte); p -= 1 }
      y -= 1
    }
    buf.array()
  }

  /** PNG encoder via `ImageIO.write` — the JDK's real PNG codec, so
    * the decode path below round-trips through genuine compressed
    * image bytes (lossless: pixel sums survive exactly).
    */
  def encodePng(id: Long): Array[Byte] = {
    val (w, h) = synthDims(id)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) = synthPixel(id, x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** JPEG encoder via `ImageIO.write` — the JDK's real DCT codec.
    * LOSSY: decoded pixel values differ from the synthetic source, so
    * only container-level facts (format, dimensions, channel count)
    * are oracle-checkable for JPEG blobs — pixel-sum verification is
    * the lossless formats' job.
    */
  def encodeJpeg(id: Long): Array[Byte] = {
    val (w, h) = synthDims(id)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) = synthPixel(id, x, y)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  /** id column → (id, blob) of synthetic images in `format` ("bmp",
    * "png", or "jpeg"), one per row, generated executor-side in
    * partition batches.
    */
  def synthesizeImages(df: DataFrame, idCol: String,
      format: String): DataFrame = {
    require(format == "bmp" || format == "png" || format == "jpeg",
      s"unsupported synthetic format: $format")
    val spark = df.sparkSession
    import spark.implicits._
    val ids = df.select(col(idCol).cast(LongType)).as[Long]
    val enc: Long => Array[Byte] = format match {
      case "bmp" => encodeBmp
      case "png" => encodePng
      case _ => encodeJpeg
    }
    ids.mapPartitions { it =>
      ImageIO.setUseCache(false) // once per partition: no disk cache
      it.map(id => (id, enc(id)))
    }.toDF("id", "blob")
      .withColumn("n_bytes", octet_length(col("blob")))
  }

  // ------------------------------------------------------------- decoder

  /** Magic-byte format sniff — cheap, no codec involvement. */
  def sniffFormat(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.length < 4) return "unknown"
    val b = bytes
    if ((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
      "png"
    else if (b(0) == 'B' && b(1) == 'M') "bmp"
    else if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) "jpeg"
    else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8')
      "gif"
    else "unknown"
  }

  /** Ceiling on either decoded dimension — caps the raster a single
    * blob may allocate (≤ 2^14 · 2^14 · 4 B ≈ 1 GiB worst case, and
    * only for a blob whose header already passed the format sniff).
    */
  val MaxDim: Int = 1 << 14

  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    le16(b, i) | (le16(b, i + 2) << 16)
  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)

  /** Header dims pre-check BEFORE handing bytes to the codec: a blob
    * whose magic bytes sniff as an image but whose header claims
    * absurd dimensions (garbage that happens to start with "BM"…)
    * would otherwise make the codec allocate its raster up front —
    * this guard is how a corrupt blob becomes an `unknown` row
    * instead of an executor OOM. Negative BMP height (legal
    * top-down BMP) is treated as implausible here: the synthetic
    * corpus is bottom-up, and rejecting it only widens `unknown`.
    */
  private def plausibleDims(fmt: String, b: Array[Byte]): Boolean =
    fmt match {
      case "bmp" if b.length >= 26 =>
        val w = le32(b, 18); val h = le32(b, 22)
        w > 0 && h > 0 && w <= MaxDim && h <= MaxDim
      case "png" if b.length >= 24 =>
        val w = be32(b, 16); val h = be32(b, 20)
        w > 0 && h > 0 && w <= MaxDim && h <= MaxDim
      case "gif" if b.length >= 10 =>
        val w = le16(b, 6); val h = le16(b, 8)
        w > 0 && h > 0 && w <= MaxDim && h <= MaxDim
      case "jpeg" => true // dims live in SOF frames; ImageIO-bounded
      case _ => false
    }

  /** Real image decode: `ImageIO.read` parses the blob; dimensions,
    * channel count, and exact per-channel pixel sums come from the
    * decoded raster. Any failure (corrupt bytes, unsupported format,
    * implausible header) degrades to the typed `unknown` row — never
    * an exception, so one bad blob can't fail a 100 TB scan.
    */
  def decodeImage(id: Long, bytes: Array[Byte]): MediaMeta = {
    val n = if (bytes == null) 0 else bytes.length
    val unknown =
      MediaMeta(id, n, "unknown", 0, 0, 0, 0, 0L, 0L, 0L)
    if (n == 0) return unknown
    val fmt = sniffFormat(bytes)
    if (fmt == "unknown" || !plausibleDims(fmt, bytes)) return unknown
    try {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      if (img == null) return unknown
      val w = img.getWidth
      val h = img.getHeight
      var sr = 0L; var sg = 0L; var sb = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sr += (rgb >> 16) & 0xff
          sg += (rgb >> 8) & 0xff
          sb += rgb & 0xff
          x += 1
        }
        y += 1
      }
      MediaMeta(id, n, fmt, w, h,
        img.getColorModel.getNumComponents, 1, sr, sg, sb)
    } catch {
      case scala.util.control.NonFatal(_) => unknown
    }
  }

  /** Batched decode over partitions: the executor-side pattern for
    * codec work — configure the codec once per partition, one iterator
    * pass, no per-row task overhead, typed Dataset out. (Scala analogue
    * of `mapInPandas`: arbitrary per-batch native work between two
    * typed schemas.)
    */
  def decode(df: DataFrame): Dataset[MediaMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("id"), col("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        ImageIO.setUseCache(false) // per-partition codec config
        it.map { case (id, bytes) => decodeImage(id, bytes) }
      }
  }

  /** 56-bit difference hash (dHash) of a decoded raster: 8×8
    * nearest-neighbor luma samples (sx = x·w/8, sy = y·h/8 — integer
    * floor, no interpolation, so the hash is pure integer arithmetic
    * over decoded pixels and an external oracle can recompute it from
    * known content), 7 horizontal gradient bits per row. 56 bits keeps
    * the hash in a non-negative BIGINT on every engine.
    *
    * Properties the spec pins: invariant to uniform brightness shifts
    * (gradients unchanged) and to the CONTAINER format (same pixels →
    * same hash whether they arrived as PNG or BMP — the content-level
    * match that byte-level dedup misses); near-dups compare by Hamming
    * distance ([[hammingDist]]).
    */
  def dHash56(img: BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val g = new Array[Int](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val rgb = img.getRGB(x * w / 8, y * h / 8)
        val r = (rgb >> 16) & 0xff
        val gg = (rgb >> 8) & 0xff
        val b = rgb & 0xff
        g(y * 8 + x) = (r * 299 + gg * 587 + b * 114) / 1000
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var bit = 0
    y = 0
    while (y < 8) {
      var x = 0
      while (x < 7) {
        if (g(y * 8 + x + 1) > g(y * 8 + x)) hash |= 1L << bit
        bit += 1
        x += 1
      }
      y += 1
    }
    hash
  }

  /** Per-blob perceptual hash over an (id, blob) frame — same batched
    * mapPartitions seam as [[decode]]; undecodable blobs degrade to a
    * typed unknown row with hash 0. Output: (id, format, width,
    * height, dhash).
    */
  def perceptualHash(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("id"), col("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          val fmt = sniffFormat(bytes)
          val img =
            if (fmt == "unknown" || !plausibleDims(fmt, bytes)) null
            else
              try ImageIO.read(new ByteArrayInputStream(bytes))
              catch { case scala.util.control.NonFatal(_) => null }
          if (img == null) (id, "unknown", 0, 0, 0L)
          else (id, fmt, img.getWidth, img.getHeight, dHash56(img))
        }
      }.toDF("id", "format", "width", "height", "dhash")
  }

  /** Hamming distance between two hash columns — the dHash near-dup
    * metric, codegen'd (xor + bit_count).
    */
  def hammingDist(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    bit_count(a.bitwiseXOR(b))

  /** Near-dup image fixture frame: every source row's synthetic BMP at
    * item id 2·id, plus — for ids divisible by `every` — a perturbed
    * twin ([[encodeBmpPerturbed]]: one green sample shifted) at item id
    * 2·id + 1. One mapPartitions pass, 1–2 blobs per source row.
    */
  def synthesizeNearDupImages(df: DataFrame, idCol: String,
      every: Int): DataFrame = {
    require(every >= 1, s"bad every $every")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType)).as[Long]
      .mapPartitions { it =>
        ImageIO.setUseCache(false)
        it.flatMap { id =>
          val orig = (id * 2, encodeBmp(id))
          if (id % every == 0) Iterator(orig, (id * 2 + 1,
            encodeBmpPerturbed(id)))
          else Iterator(orig)
        }
      }.toDF("id", "blob")
  }

  /** Banded Hamming LSH over perceptual hashes — the image twin of the
    * text near-dup family: split the 56-bit dHash into `bands` equal
    * bit slices, equi-join items sharing any (band, slice-bits) bucket,
    * verify candidates by exact popcount distance ≤ `maxDist`. Output:
    * (id_a, id_b, hamming), id_a < id_b.
    *
    * EXACT by pigeonhole when maxDist ≤ bands − 1: ≤ maxDist differing
    * bits cannot touch all `bands` slices, so every qualifying pair
    * shares at least one band bucket — the default (8, 7) is a
    * complete ≤7-bit near-dup join with no all-pairs comparison.
    *
    * Scale shape: ONE pass computes all band keys (static shifts,
    * posexplode), the self-join shuffles on the bounded (band, bits)
    * key, candidate pairs dedup before the popcount verify. Degenerate
    * hash clusters (e.g. flat images hashing to 0) are the image
    * family's hot buckets: `maxBucketSize > 0` drops buckets larger
    * than the cap from CANDIDATE GENERATION entirely — both members
    * of the banded join, so capped output is a documented-recall
    * subset, never a half-joined artifact (the maxGramFreq lesson:
    * one semantics, stated loudly). The oracle row runs uncapped and
    * is therefore exactly the brute-force ≤maxDist pair set.
    */
  /** Banded (band, key) assignments of a `(id, dhash)` frame — the
    * shared candidate-generation frame of [[phashNearDuplicates]] and
    * the persisted index path ([[phashNearDuplicatesAgainst]] /
    * [[graft.sources.IndexStore.Phash]]).
    */
  def phashBands(hashes: DataFrame, bands: Int): DataFrame = {
    require(bands >= 2 && 56 % bands == 0, s"bands must divide 56: $bands")
    val bits = 56 / bands
    val mask = (1L << bits) - 1
    val keys = array((0 until bands).map(b =>
      shiftrightunsigned(col("dhash"), b * bits)
        .bitwiseAND(lit(mask))): _*)
    hashes.select(col("id"), col("dhash"),
      posexplode(keys).as(Seq("band", "key")))
  }

  def phashNearDuplicates(hashes: DataFrame, bands: Int = 8,
      maxDist: Int = 7, maxBucketSize: Long = 0L): DataFrame = {
    require(maxDist >= 0 && maxDist <= bands - 1,
      s"completeness needs maxDist <= bands - 1 (got $maxDist, $bands)")
    val banded0 = phashBands(hashes, bands)
    val banded =
      if (maxBucketSize <= 0L) banded0
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("key"))
        // bounded per-bucket count, not a global window: partitions by
        // the same (band, key) the join shuffles on
        banded0.withColumn("__n", count(lit(1)).over(w))
          .filter(col("__n") <= maxBucketSize)
          .drop("__n")
      }
    val a = banded.select(col("band"), col("key"), col("id").as("id_a"),
      col("dhash").as("__ha"))
    val b = banded.select(col("band"), col("key"), col("id").as("id_b"),
      col("dhash").as("__hb"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__ha"), col("__hb"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        hammingDist(col("__ha"), col("__hb")).cast(IntegerType)
          .as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** [[phashNearDuplicates]] against a STANDING banded corpus — the
    * incremental-ingest shape for images: `corpusBanded` is the
    * `(id, dhash, band, key)` frame of [[phashBands]], persisted once
    * ([[graft.sources.IndexStore.Phash]], bucketed
    * on exactly this join's (band, key)); only the new batch is
    * hashed and banded per ingest. Same pigeonhole completeness
    * (maxDist ≤ bands − 1) against the corpus; batch-internal pairs
    * are the self-join's job, not this one's. Output:
    * (new_id, corpus_id, hamming).
    */
  def phashNearDuplicatesAgainst(newHashes: DataFrame,
      corpusBanded: DataFrame, bands: Int = 8, maxDist: Int = 7)
      : DataFrame = {
    require(maxDist >= 0 && maxDist <= bands - 1,
      s"completeness needs maxDist <= bands - 1 (got $maxDist, $bands)")
    val n = phashBands(newHashes, bands)
      .select(col("band"), col("key"), col("id").as("new_id"),
        col("dhash").as("__hn"))
    val c = corpusBanded.select(col("band"), col("key"),
      col("id").as("corpus_id"), col("dhash").as("__hc"))
    n.join(c, Seq("band", "key"))
      .select(col("new_id"), col("corpus_id"), col("__hn"), col("__hc"))
      .distinct()
      .select(col("new_id"), col("corpus_id"),
        hammingDist(col("__hn"), col("__hc")).cast(IntegerType)
          .as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** "Frame sampling" plumbing for video-like blobs: emit k byte-range
    * slices per blob with offsets — the schema/batch shape of real frame
    * extraction (each slice row would be a decoded frame tensor).
    */
  def sampleFrames(df: DataFrame, k: Int = 3): DataFrame = {
    val n = col("n_bytes")
    val idx = sequence(lit(0), lit(k - 1))
    val stride = greatest((n / k).cast(IntegerType), lit(1))
    df.select(col("id"), col("blob"), n,
        explode(transform(idx, i => i * stride)).as("offset"))
      .filter(col("offset") < n)
      .select(col("id"), col("offset"),
        substring(base64(col("blob")), 1, 16).as("frame_head"))
  }

  // --------------------------------------------------------------- audio
  /** Audio row after decode: container facts + exact sample statistics.
    * Undecodable / non-PCM16 blobs: format="unknown", zeros — the same
    * typed-degradation posture as [[MediaMeta]]. UNITS, stated once
    * because they differ by field: `n_samples` and `duration_us` are
    * per-channel FRAMES (stereo does not double them; duration_us =
    * n_samples · 10⁶ div rate, exact integer µs), while `sum_abs`
    * (Σ|sample|) and `n_clipped` (|sample| ≥ [[ClipLevel]]) aggregate
    * across ALL interleaved channel samples (stereo contributes both
    * channels — the clipping screen must see every channel; divide by
    * n_samples · channels, not n_samples, for a per-sample mean).
    * Integer-exact so the oracle recomputes them cell-for-cell on
    * known content.
    */
  final case class AudioMeta(
      id: Long,
      n_bytes: Int,
      format: String,
      sample_rate: Int,
      channels: Int,
      bits: Int,
      n_samples: Long,
      duration_us: Long,
      sum_abs: Long,
      n_clipped: Long)

  val ClipLevel = 32000
  val AudioRate = 8000

  // Deterministic synthetic PCM, same doctrine as the synthetic images:
  // every sample is a pure function of (id, i) —
  //   n_samples = id % 50 + 20
  //   sample(i) = (id·31 + i·17) % 65536 − 32768   (full 16-bit range,
  //               so ~2.3% of samples land in the clip band)
  // so Σ|sample| and the clip count are plain integer arithmetic.
  def synthAudioSamples(id: Long): Int = (id % 50 + 20).toInt

  def synthAudioSample(id: Long, i: Int): Int =
    ((id * 31 + i.toLong * 17) % 65536).toInt - 32768

  /** Hand-written RIFF/WAVE encoder: 44-byte canonical header + 16-bit
    * mono little-endian PCM — uncompressed, so the byte length
    * 44 + 2·n is itself decoder-verifiable, like [[encodeBmp]]'s.
    */
  def encodeWav(id: Long): Array[Byte] = {
    val n = synthAudioSamples(id)
    val dataSize = 2 * n
    val buf = ByteBuffer.allocate(44 + dataSize)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(AudioRate).putInt(AudioRate * 2).putShort(2).putShort(16)
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < n) { buf.putShort(synthAudioSample(id, i).toShort); i += 1 }
    buf.array()
  }

  /** id column → (id, blob, n_bytes) of synthetic WAVs, generated
    * executor-side in partition batches (the [[synthesizeImages]]
    * pattern).
    */
  def synthesizeAudio(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType)).as[Long]
      .mapPartitions(_.map(id => (id, encodeWav(id))))
      .toDF("id", "blob")
      .withColumn("n_bytes", octet_length(col("blob")))
  }

  /** RIFF/WAVE magic sniff — cheap, no codec involvement. */
  def sniffAudio(bytes: Array[Byte]): String =
    if (bytes != null && bytes.length >= 12 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
      bytes(3) == 'F' && bytes(8) == 'W' && bytes(9) == 'A' &&
      bytes(10) == 'V' && bytes(11) == 'E') "wav"
    else "unknown"

  /** Real WAV decode: `javax.sound.sampled` (pure JVM, headless-safe)
    * parses the container; sample statistics come from the decoded PCM
    * stream. Only the signed-16-bit PCM profile is decoded — anything
    * else (compressed encodings, 8/24-bit, absurd headers) degrades to
    * the typed unknown row, never an exception, so one bad blob can't
    * fail a 100 TB scan. The header's frame count is cross-checked
    * against the bytes actually read (a lying `data` size cannot
    * inflate the stats).
    */
  def decodeWav(id: Long, bytes: Array[Byte]): AudioMeta = {
    val n = if (bytes == null) 0 else bytes.length
    val unknown = AudioMeta(id, n, "unknown", 0, 0, 0, 0L, 0L, 0L, 0L)
    if (n == 0 || sniffAudio(bytes) == "unknown") return unknown
    try {
      val ais = javax.sound.sampled.AudioSystem
        .getAudioInputStream(new ByteArrayInputStream(bytes))
      try {
        val f = ais.getFormat
        val rate = f.getSampleRate.toInt
        val ok = f.getEncoding ==
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          f.getSampleSizeInBits == 16 && f.getChannels >= 1 &&
          f.getChannels <= 8 && !f.isBigEndian &&
          rate > 0 && rate <= 1000000
        if (!ok) return unknown
        val data = ais.readAllBytes()
        val nSamples = data.length / 2
        var sumAbs = 0L
        var clipped = 0L
        var i = 0
        while (i + 1 < data.length) {
          val s = ((data(i) & 0xff) | (data(i + 1) << 8)).toShort.toInt
          val a = math.abs(s)
          sumAbs += a
          if (a >= ClipLevel) clipped += 1
          i += 2
        }
        AudioMeta(id, n, "wav", rate, f.getChannels, 16,
          nSamples.toLong / f.getChannels,
          nSamples.toLong / f.getChannels * 1000000L / rate,
          sumAbs, clipped)
      } finally ais.close()
    } catch {
      case scala.util.control.NonFatal(_) => unknown
    }
  }

  /** Batched audio decode — the same per-partition codec seam as
    * [[decode]].
    */
  def decodeAudio(df: DataFrame): Dataset[AudioMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("id"), col("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decodeWav(id, bytes) })
  }

  /** JSON-typed metadata column → typed struct/fields (events.props). */
  def extractJsonField(df: DataFrame, jsonCol: String, field: String): DataFrame =
    df.withColumn(field,
      get_json_object(col(jsonCol), s"$$.$field").cast(LongType))
}
