package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata (SURVEY.md north star; builder
  * brief "multimodal columns").
  *
  * The Spark-side contract is real and tested — schema, partition-local
  * batched processing via `mapPartitions` (the Scala analogue of
  * `mapInPandas`: one iterator per partition, amortised per-batch setup),
  * deterministic repartitioning by media id. The actual codec work sits
  * behind the [[MediaCodec]] trait; this container has no image/audio
  * libs, so the shipped impl is the deterministic [[FakeCodec]] STUB.
  * Dropping in a real decoder (JavaCV, TwelveMonkeys, ffmpeg-cli…) means
  * implementing MediaCodec ONLY — every operator below takes the codec
  * as a parameter and none of their call sites change.
  */
object Multimodal {
  /** A media row: payload plus envelope metadata. */
  case class MediaRow(media_id: Long, kind: String, bytes: Array[Byte])

  /** Decoded metadata (what a real decoder would surface). */
  case class MediaMeta(media_id: Long, kind: String, width: Int, height: Int,
                       format: String, durationMs: Long, sizeBytes: Int)

  /** One sampled frame (video) / window (audio): id, index, feature. */
  case class Frame(media_id: Long, frame_idx: Int, feature: Array[Float])

  /** The codec seam: everything that touches payload BYTES. Implementors
    * must be Serializable (instances ship inside mapPartitions closures)
    * and deterministic (task retries and speculative execution re-decode
    * rows; a nondeterministic codec breaks exactly-once outputs).
    * Heavyweight state (decoder contexts, models) must be lazy/transient
    * so per-partition setup happens executor-side, once per partition —
    * not serialized from the driver.
    */
  trait MediaCodec extends Serializable {
    /** Surface envelope metadata from the encoded bytes. */
    def decode(row: MediaRow): MediaMeta
    /** Re-encode to the given dimensions (content otherwise preserved). */
    def resize(row: MediaRow, width: Int, height: Int): MediaRow
    /** The decoded content bytes — the payload's identity for dedup:
      * byte-identical content must return byte-identical payloads even
      * when envelopes (headers, containers) differ.
      */
    def payload(row: MediaRow): Array[Byte]
    /** Per-frame (video) / per-window (audio) feature vector. */
    def frameFeature(row: MediaRow, frameIdx: Int, dim: Int): Array[Float]
    /** Whole-media embedding from decoded content bytes. */
    def mediaFeature(payload: Array[Byte], dim: Int): Array[Float]
    /** Row-major w×h luminance grid of the DECODED content — the input
      * to perceptual hashing ([[Multimodal.dHash]]). Must be a pure
      * function of the decoded pixels, independent of the envelope
      * (container/encoding), so a PNG and a BMP of the same raster hash
      * identically — that envelope-invariance IS the phash dedup win.
      */
    def luma(row: MediaRow, width: Int, height: Int): Array[Int]
  }

  /** STUB codec. "Header": bytes 0-3 width, 4-7 height, 8-15 duration
    * (big-endian); the rest is payload. Deterministic by construction.
    */
  object FakeCodec extends MediaCodec {
    def encodeHeader(width: Int, height: Int, durationMs: Long, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(16 + payload.length)
      bb.putInt(width).putInt(height).putLong(durationMs).put(payload)
      bb.array()
    }

    override def decode(row: MediaRow): MediaMeta = {
      val bb = java.nio.ByteBuffer.wrap(row.bytes)
      val (w, h, d) = (bb.getInt, bb.getInt, bb.getLong)
      val fmt = row.kind match {
        case "image" => "png-stub"
        case "audio" => "wav-stub"
        case _       => "mp4-stub"
      }
      MediaMeta(row.media_id, row.kind, w, h, fmt, d, row.bytes.length)
    }

    override def resize(row: MediaRow, width: Int, height: Int): MediaRow = {
      val bb = java.nio.ByteBuffer.wrap(row.bytes)
      bb.getInt; bb.getInt
      val dur = bb.getLong
      val p = new Array[Byte](row.bytes.length - 16)
      bb.get(p)
      row.copy(bytes = encodeHeader(width, height, dur, p))
    }

    override def payload(row: MediaRow): Array[Byte] =
      java.util.Arrays.copyOfRange(row.bytes, 16, row.bytes.length)

    /** Deterministic fake per-frame feature: seeded by (id, frame). */
    override def frameFeature(row: MediaRow, frameIdx: Int, dim: Int): Array[Float] = {
      val rnd = new scala.util.Random(row.media_id * 31 + frameIdx)
      Array.fill(dim)(rnd.nextFloat())
    }

    /** Deterministic fake whole-media embedding: seeded by the PAYLOAD
      * content (not the id), so byte-identical media embed identically —
      * the property content-dedup via ANN relies on.
      */
    override def mediaFeature(bytes: Array[Byte], dim: Int): Array[Float] = {
      val rnd = new scala.util.Random(java.util.Arrays.hashCode(bytes).toLong)
      Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    }

    /** Fake luminance: payload bytes bucket-averaged into w×h cells —
      * content-keyed and locality-preserving (close payloads → close
      * grids), the properties [[Multimodal.dHash]] relies on.
      */
    override def luma(row: MediaRow, width: Int, height: Int): Array[Int] = {
      val p = payload(row)
      val cells = width * height
      val sums = new Array[Long](cells)
      val counts = new Array[Long](cells)
      var i = 0
      while (i < p.length) {
        val c = (i.toLong * cells / math.max(1, p.length)).toInt
        sums(c) += (p(i) & 0xff); counts(c) += 1
        i += 1
      }
      Array.tabulate(cells)(c => if (counts(c) == 0) 0 else (sums(c) / counts(c)).toInt)
    }
  }

  /** REAL image codec over JDK-builtin `javax.imageio` (no new deps —
    * respects build.sbt's offline constraint). Handles every format the
    * JRE registers readers for (PNG, BMP, GIF, JPEG, WBMP); writes PNG.
    *
    * Content identity ([[payload]]) is the decoded RGB raster prefixed by
    * its dimensions — so the SAME pixels round-tripped through different
    * envelopes (PNG vs BMP) produce byte-identical payloads, which is the
    * exact property the content-dedup path needs, now over real bytes.
    * Unlike [[FakeCodec]], `resize` here genuinely resamples pixels, so
    * resize does NOT preserve payload identity (it can't, for a real
    * codec); envelope-invariance replaces resize-invariance as the
    * content-identity law.
    *
    * A singleton `object`: serializes as a module reference (no state
    * ships driver→executor), and ImageIO's plugin registry initializes
    * lazily per-JVM executor-side.
    */
  object ImageIoCodec extends MediaCodec {
    // BufferedImage/Graphics2D work headless, but only if AWT never tries
    // to connect a display; pin it before first ImageIO touch.
    private def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
      System.setProperty("java.awt.headless", "true")
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      // fail loud: a null here means undecodable bytes, and silently
      // continuing would poison downstream dedup keys
      require(img != null, s"ImageIO could not decode ${bytes.length} bytes")
      img
    }

    /** Format + dimensions off the image HEADER via ImageReader — no
      * raster decode. The metadata path over a 100 TB corpus must not
      * pay a full per-image pixel decode when the reader surfaces
      * width/height/format from the container alone.
      */
    private def sniffMeta(bytes: Array[Byte]): (String, Int, Int) = {
      System.setProperty("java.awt.headless", "true")
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        require(readers.hasNext, s"no ImageIO reader for ${bytes.length} bytes")
        val r = readers.next()
        r.setInput(iis)
        try (r.getFormatName.toLowerCase(java.util.Locale.ROOT),
          r.getWidth(0), r.getHeight(0))
        finally r.dispose()
      } finally iis.close()
    }

    /** Encode a raster as PNG bytes (lossless — the round-trip anchor). */
    def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      // write() returns false (no exception) when no writer is
      // registered — a stripped JRE would otherwise emit 0-byte payloads
      // that only fail far downstream as "could not decode 0 bytes"
      require(javax.imageio.ImageIO.write(img, "png", bos),
        "no ImageIO png writer registered in this JRE")
      bos.toByteArray
    }

    /** Encode a raster as BMP bytes (a second real envelope for tests). */
    def encodeBmp(img: java.awt.image.BufferedImage): Array[Byte] = {
      // BMP writer rejects images with alpha; normalize to RGB first
      val rgb = new java.awt.image.BufferedImage(
        img.getWidth, img.getHeight, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = rgb.createGraphics()
      g.drawImage(img, 0, 0, null); g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(rgb, "bmp", bos),
        "no ImageIO bmp writer registered in this JRE")
      bos.toByteArray
    }

    override def decode(row: MediaRow): MediaMeta = {
      val (fmt, w, h) = sniffMeta(row.bytes)
      MediaMeta(row.media_id, row.kind, w, h, fmt, 0L, row.bytes.length)
    }

    override def resize(row: MediaRow, width: Int, height: Int): MediaRow = {
      val src = readImage(row.bytes)
      val dst = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = dst.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(src, 0, 0, width, height, null)
      g.dispose()
      row.copy(bytes = encodePng(dst))
    }

    /** Decoded content: [w:int][h:int] then row-major 3-byte RGB pixels.
      * Alpha is dropped so formats without an alpha channel (BMP) agree
      * with those that have one (PNG) on the same opaque content.
      */
    override def payload(row: MediaRow): Array[Byte] = {
      val img = readImage(row.bytes)
      val (w, h) = (img.getWidth, img.getHeight)
      val bb = java.nio.ByteBuffer.allocate(8 + w * h * 3)
      bb.putInt(w).putInt(h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          bb.put(((rgb >> 16) & 0xff).toByte)
            .put(((rgb >> 8) & 0xff).toByte)
            .put((rgb & 0xff).toByte)
          x += 1
        }
        y += 1
      }
      bb.array()
    }

    /** Still images have one frame; the index shifts the fold seed so a
      * caller sampling k frames still gets k distinct deterministic rows.
      */
    override def frameFeature(row: MediaRow, frameIdx: Int, dim: Int): Array[Float] =
      contentFeature(payload(row), dim, frameIdx)

    override def mediaFeature(payload: Array[Byte], dim: Int): Array[Float] =
      contentFeature(payload, dim, 0)

    /** Real content statistic (not hash-seeded noise): byte histogram of
      * the raster folded into `dim` buckets, emitted as ZERO-MEAN bucket-
      * frequency deviations `c/total - 1/dim` (range ⊂ (-1, 1], mean
      * exactly 0). Zero-mean matters for the ANN path: a constant bias
      * component would push every hyperplane projection to one side and
      * unbalance the LSH buckets. Deterministic, content-keyed, and
      * close pixels → close features.
      */
    private def contentFeature(payload: Array[Byte], dim: Int, shift: Int): Array[Float] = {
      val hist = new Array[Long](dim)
      var i = 0
      while (i < payload.length) {
        hist(((payload(i) & 0xff) + shift) % dim) += 1
        i += 1
      }
      val total = math.max(1L, payload.length.toLong)
      hist.map(c => (c.toDouble / total - 1.0 / dim).toFloat)
    }

    /** Real luminance grid: NEAREST-pixel sampling of the decoded raster
      * (deliberately not Graphics2D resampling — nearest is a pure
      * integer function of the pixels, deterministic across JDKs/AA
      * settings, which the dHash identity requires), Rec.601 luma.
      */
    override def luma(row: MediaRow, width: Int, height: Int): Array[Int] = {
      val img = readImage(row.bytes)
      val (sw, sh) = (img.getWidth, img.getHeight)
      Array.tabulate(width * height) { c =>
        val (x, y) = (c % width, c / width)
        val rgb = img.getRGB(math.min(x * sw / width, sw - 1),
          math.min(y * sh / height, sh - 1))
        (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000
      }
    }
  }

  /** Decode metadata for every media row — partition-local, batched. */
  def decodeMeta(media: Dataset[MediaRow],
                 codec: MediaCodec = FakeCodec): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // Per-partition setup would go here (codec contexts are expensive;
      // amortise them across the whole partition, never per row).
      rows.map(codec.decode)
    }
  }

  /** Sample ~1 frame per second of duration (capped), emitting a feature
    * vector per frame — the explode-shaped op (one row in, many out).
    */
  def sampleFrames(media: Dataset[MediaRow], maxFrames: Int = 8,
                   dim: Int = 8, codec: MediaCodec = FakeCodec): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val meta = codec.decode(r)
        val n = math.min(maxFrames, math.max(1, (meta.durationMs / 1000).toInt))
        (0 until n).iterator.map(i => Frame(r.media_id, i, codec.frameFeature(r, i, dim)))
      }
    }
  }

  /** Resize every payload — schema in/out identical, no shuffle. */
  def resize(media: Dataset[MediaRow], width: Int, height: Int,
             codec: MediaCodec = FakeCodec): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions(rows => rows.map(codec.resize(_, width, height)))
  }

  /** Whole-media feature extraction: payload → embedding column (a real
    * codec runs a vision/audio encoder with per-partition model loading —
    * the setup comment in [[decodeMeta]] applies doubly here). The
    * output's (id, Array[Float]) shape composes directly with
    * [[Ann]]/[[Ivf]]: media → embedding → LSH buckets is the content
    * dedup / retrieval path for image/audio corpora at 100 TB.
    */
  def extractFeatures(media: Dataset[MediaRow], dim: Int = 8,
                      codec: MediaCodec = FakeCodec): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition encoder/model setup would go here
      rows.map { r =>
        // feature from the DECODED payload (header stripped): resized or
        // re-encoded envelopes must not change content identity
        (r.media_id, codec.mediaFeature(codec.payload(r), dim))
      }
    }.toDF("media_id", "embedding")
  }

  /** Deterministic REAL-image media table: tiny PNG/BMP payloads produced
    * by the JDK encoder, one gradient-patterned raster per id. Pairs with
    * [[ImageIoCodec]] — every operator above runs on genuine image bytes.
    * Generated row-local on executors (the encoder runs inside the map,
    * not on the driver), so it scales like any other source.
    */
  def syntheticImages(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n.toLong).map { i =>
      val w = 8 + (i % 5).toInt
      val h = 6 + (i % 4).toInt
      // golden-ratio-mixed per-image offsets de-cycle the gradient: the
      // original (i·7)%256 constants repeated with period ~1.3k ids,
      // which collapsed a 100× dial into ~500 distinct hashes and turned
      // the band join into an identical-hash stress test instead of a
      // scale measurement (the duplicate-collapsed regime is covered by
      // the maxBucketSize spec instead). Still fully deterministic.
      val s = i * 0x9E3779B97F4A7C15L
      val a = ((s >>> 56) & 0xFF).toInt
      val b = ((s >>> 40) & 0xFF).toInt
      val c = ((s >>> 24) & 0xFF).toInt
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.setRGB(x, y, (((x * 37 + y * 11 + a) % 256) << 16)
            | (((x * 5 + y * 3 + b) % 256) << 8) | ((y * 13 + x * 29 + c) % 256))
          x += 1
        }
        y += 1
      }
      val bytes = if (i % 2 == 0) ImageIoCodec.encodePng(img)
                  else ImageIoCodec.encodeBmp(img)
      MediaRow(i, "image", bytes)
    }.repartition(col("media_id"))
  }

  /** Difference-hash perceptual fingerprint (dHash, 64-bit): luminance
    * sampled on a (hashW+1)×hashH grid; bit (y·hashW + x) is set iff
    * luma(x, y) < luma(x+1, y). Row-local (one decode per row, zero
    * shuffle), envelope-invariant (hashes the decoded raster, so PNG ≡
    * BMP of the same pixels), and LOCALITY-PRESERVING: small pixel edits
    * flip few horizontal-gradient signs, so near-duplicate images land
    * within a small Hamming distance — the image analogue of SimHash,
    * and the standard cheap screen ahead of embedding-based dedup.
    */
  def dHash(media: Dataset[MediaRow],
            codec: MediaCodec = FakeCodec): DataFrame = {
    import media.sparkSession.implicits._
    val (hashW, hashH) = (8, 8)
    media.mapPartitions { rows =>
      rows.map { r =>
        val l = codec.luma(r, hashW + 1, hashH)
        var h = 0L
        var y = 0
        while (y < hashH) {
          var x = 0
          while (x < hashW) {
            if (l(y * (hashW + 1) + x) < l(y * (hashW + 1) + x + 1))
              h |= 1L << (y * hashW + x)
            x += 1
          }
          y += 1
        }
        (r.media_id, h)
      }
    }.toDF("media_id", "phash")
  }

  /** Near-duplicate pairs among perceptual hashes: Hamming(h1, h2) ≤
    * maxDistance, found WITHOUT the quadratic all-pairs scan via
    * pigeonhole banding (the SimHash rule): the 64 bits split into
    * maxDistance+1 bands, and any pair within distance maxDistance
    * matches at least one band EXACTLY (≤ maxDistance differing bits
    * cannot touch all maxDistance+1 bands) — so candidates come from a
    * band-keyed hash join and only candidates pay the popcount verify.
    * Exact (guarantee, not heuristic): zero false negatives, and the
    * verify kills band-collision false positives.
    *
    * Skew guard (round 13, the [[SimHash]]/[[MinHash.lshCandidates]]
    * rule): a duplicate-collapsed corpus funnels thousands of hashes
    * into one (band, value) bucket and the self-join goes quadratic in
    * that bucket; buckets above `maxBucketSize` are dropped WHOLE
    * (truncation would be partition-order-dependent), which is then the
    * ONE source of false negatives — and only for pairs whose every
    * matching band is hot. The default is sized to keep the exactness
    * guarantee at fixture/bench dials; dial it down for corpora known
    * to be duplicate-collapsed, and screen exact dups first (distance-0
    * mass belongs in a cheap hash-groupBy, not a pair join).
    */
  def phashDupes(hashes: DataFrame, maxDistance: Int = 6,
                 maxBucketSize: Int = 100000): DataFrame = {
    require(maxDistance >= 0 && maxDistance < 64, s"bad maxDistance $maxDistance")
    val bands = maxDistance + 1
    val w = 64 / bands
    val bandCols = (0 until bands).map { b =>
      val off = b * w
      val width = if (b == bands - 1) 64 - off else w
      val mask = if (width == 64) -1L else (1L << width) - 1L
      struct(lit(b).as("band"),
        shiftrightunsigned(col("phash"), off).bitwiseAND(lit(mask)).as("v"))
    }
    val banded = hashes
      .select(col("media_id"), col("phash"),
        explode(array(bandCols: _*)).as("bv"))
      .select(col("media_id"), col("phash"),
        col("bv.band").as("band"), col("bv.v").as("v"))
      .withColumn("bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("v"))))
      .filter(col("bsz") <= maxBucketSize)
    val a = banded.select(col("band"), col("v"),
      col("media_id").as("id1"), col("phash").as("h1"))
    val b = banded.select(col("band"), col("v"),
      col("media_id").as("id2"), col("phash").as("h2"))
    a.join(b, Seq("band", "v"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).as("dist"))
      .filter(col("dist") <= maxDistance)
      .distinct() // a pair may match several bands
  }

  /** [[syntheticImages]] plus planted duplicates: every 4th image also
    * appears (a) re-encoded in the OTHER envelope with the SAME raster
    * (id+off — exact content dup, the cross-format case) and (b) with
    * one pixel nudged (id+2·off — near dup), where off = max(1000, n)
    * so dup ids never collide with base ids at scale dials (the fixed
    * +1000 of the 48-image fixture is preserved for every n ≤ 1000).
    * Deterministic.
    */
  /** The planted-id offset [[syntheticImagesWithDups]] lays dups out
    * with — exposed so measurement code (ScaleOpsSpec) derives ground
    * truth from THIS function instead of duplicating the formula (a
    * silent layout change would read ~0 recall, not fail).
    */
  def dupOffset(n: Int): Long = math.max(1000L, n.toLong)

  def syntheticImagesWithDups(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    val off = dupOffset(n)
    syntheticImages(spark, n).flatMap { r =>
      if (r.media_id % 4 != 0) Seq(r)
      else {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.bytes))
        val other =
          if (r.media_id % 2 == 0) ImageIoCodec.encodeBmp(img)
          else ImageIoCodec.encodePng(img)
        val noised = new java.awt.image.BufferedImage(
          img.getWidth, img.getHeight, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = noised.createGraphics()
        g.drawImage(img, 0, 0, null); g.dispose()
        noised.setRGB(0, 0, img.getRGB(0, 0) ^ 0x080808)
        Seq(r,
          r.copy(media_id = r.media_id + off, bytes = other),
          r.copy(media_id = r.media_id + 2 * off,
            bytes = ImageIoCodec.encodePng(noised)))
      }
    }
  }

  /** Deterministic synthetic media table for tests/demos. */
  def synthetic(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n.toLong).map { i =>
      val kind = Seq("image", "audio", "video")(i.toInt % 3)
      val payload = Array.tabulate[Byte](32)(j => ((i * 7 + j) % 127).toByte)
      MediaRow(i, kind,
        FakeCodec.encodeHeader(64 + i.toInt % 1920, 48 + i.toInt % 1080,
          1000L * (1 + i % 10), payload))
    }.repartition(col("media_id"))
  }
}
