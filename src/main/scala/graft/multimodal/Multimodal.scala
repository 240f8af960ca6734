package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns for training-data pipelines: image/audio/video travel
  * as opaque `binary` columns + typed metadata, and decode / feature-extract /
  * resize / frame-sample run as partition-batched transforms.
  *
  * The Spark-side plumbing here is real and tested — schemas, the batched
  * mapPartitions seam (the Scala analogue of mapInPandas: the decoder sees an
  * iterator per partition so vectorized native libs amortize setup), and
  * partitioning behavior. Two REAL pure-JVM decoders are included — 24-bit
  * BI_RGB BMP (BmpImageDecoder) and 16-bit PCM WAV (WavAudioDecoder) — for
  * formats parseable without native codecs; FakeImageDecoder remains the
  * deterministic codec-free stand-in for compressed formats (JPEG/PNG/opus
  * libs don't ship in this container): implementing one trait method swaps a
  * real codec in.
  */
object Multimodal {

  /** media table: one row per asset. content is the raw encoded bytes. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType), // image | audio | video
    StructField("content", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("duration_ms", LongType))))))

  final case class ImageFeatures(media_id: Long, width: Int, height: Int,
                                 channels: Int, embedding: Array[Float])

  /** Decoder seam. Implementations must be deterministic for replayability
    * (a retried task must produce identical output). */
  trait ImageDecoder extends Serializable {
    /** Batched: one call per partition; amortize codec init across rows. */
    def decodeBatch(batch: Iterator[(Long, Array[Byte])]): Iterator[ImageFeatures]
  }

  /** STUB decoder: derives a fake 8-dim "embedding" and dimensions from the
    * md5 of the bytes. Deterministic, codec-free; NOT a real decode. */
  object FakeImageDecoder extends ImageDecoder {
    def decodeBatch(batch: Iterator[(Long, Array[Byte])]): Iterator[ImageFeatures] = {
      val md = java.security.MessageDigest.getInstance("MD5") // per-partition init
      batch.map { case (id, bytes) =>
        md.reset()
        val h = md.digest(bytes)
        ImageFeatures(id,
          width = 64 + (h(0) & 0x7f), height = 64 + (h(1) & 0x7f), channels = 3,
          embedding = Array.tabulate(8)(i => (h(i) & 0xff) / 255.0f))
      }
    }
  }

  /** Validated geometry of a 24-bit BI_RGB BMP. */
  private[multimodal] final case class BmpGeom(pixelOff: Int, width: Int,
                                               height: Int, bottomUp: Boolean,
                                               rowBytes: Int)

  /** THE one copy of the BMP header parse + crafted-size defenses that every
    * pixel walker (decoder, grid embedder, dHasher, resizer, fused
    * extractor) shares — a bounds-check fix lands once, not in five
    * hand-copied variants. */
  private[multimodal] object BmpHeader {
    import LE.{i32, u16}
    val MaxDim: Int = 1 << 20

    def parse(bytes: Array[Byte]): Option[BmpGeom] = {
      if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
      val pixelOff = i32(bytes, 10)
      val width = i32(bytes, 18)
      val heightRaw = i32(bytes, 22)
      val bpp = u16(bytes, 28)
      val compression = i32(bytes, 30) // 0 = BI_RGB
      if (bpp != 24 || compression != 0 || width <= 0 || heightRaw == 0) return None
      // abs in Long: heightRaw == Int.MinValue must reject, not wrap negative
      val heightL = math.abs(heightRaw.toLong)
      if (width > MaxDim || heightL > MaxDim) return None
      val height = heightL.toInt
      // Long math end to end: a crafted width can overflow Int here and slip
      // a negative rowBytes past the bounds check otherwise
      val rowBytesL = ((width.toLong * 3 + 3) / 4) * 4 // rows pad to 4 bytes
      if (pixelOff < 0 || pixelOff.toLong + rowBytesL * height > bytes.length) return None
      Some(BmpGeom(pixelOff, width, height, heightRaw > 0, rowBytesL.toInt))
    }
  }

  /** REAL decoder for uncompressed 24-bit BI_RGB BMP — pure JVM, no native
    * codecs. Parses BITMAPFILEHEADER + BITMAPINFOHEADER, walks the 4-byte
    * padded (bottom-up or top-down) pixel rows, and derives the 8-dim feature
    * embedding from actual pixels: mean R/G/B, overall brightness, and the
    * four quadrant brightnesses. Malformed / non-24-bit / compressed payloads
    * are skipped (the skip-on-parse-failure policy). Deterministic: pure
    * integer walk + fixed-order double accumulation. */
  /** Shared little-endian primitive readers for the binary decoders. */
  private object LE {
    def u16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    def i32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    def tag(b: Array[Byte], o: Int): String =
      new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
  }

  object BmpImageDecoder extends ImageDecoder {

    private[multimodal] def decode(id: Long, bytes: Array[Byte]): Option[ImageFeatures] = {
      val geom = BmpHeader.parse(bytes) match {
        case None => return None
        case Some(g) => g
      }
      val pixelOff = geom.pixelOff; val width = geom.width
      val height = geom.height; val bottomUp = geom.bottomUp
      val rowBytes = geom.rowBytes
      var sr = 0.0; var sg = 0.0; var sb = 0.0
      val quad = new Array[Double](4)
      val quadN = new Array[Long](4)
      var y = 0
      while (y < height) { // y = row from the TOP of the image
        val srcRow = if (bottomUp) height - 1 - y else y
        val base = pixelOff + srcRow * rowBytes
        var x = 0
        while (x < width) {
          val o = base + x * 3 // BGR byte order
          val bl = bytes(o) & 0xff
          val g = bytes(o + 1) & 0xff
          val r = bytes(o + 2) & 0xff
          sr += r; sg += g; sb += bl
          val qi = (if (y < (height + 1) / 2) 0 else 2) + (if (x < (width + 1) / 2) 0 else 1)
          quad(qi) += (r + g + bl) / (3.0 * 255.0)
          quadN(qi) += 1
          x += 1
        }
        y += 1
      }
      val n = width.toLong * height
      val emb = Array(
        (sr / n / 255.0).toFloat, (sg / n / 255.0).toFloat, (sb / n / 255.0).toFloat,
        ((sr + sg + sb) / (3.0 * 255.0 * n)).toFloat,
        (if (quadN(0) > 0) quad(0) / quadN(0) else 0.0).toFloat,
        (if (quadN(1) > 0) quad(1) / quadN(1) else 0.0).toFloat,
        (if (quadN(2) > 0) quad(2) / quadN(2) else 0.0).toFloat,
        (if (quadN(3) > 0) quad(3) / quadN(3) else 0.0).toFloat)
      Some(ImageFeatures(id, width, height, channels = 3, embedding = emb))
    }

    def decodeBatch(batch: Iterator[(Long, Array[Byte])]): Iterator[ImageFeatures] =
      batch.flatMap { case (id, bytes) => decode(id, bytes) }
  }

  /** Grid-pooled image embedding from REAL pixels — the bridge from binary
    * image columns into the similarity stack (kNN join q83, ANN, embedding
    * dedup): the image is partitioned into gridW x gridH cells by pure
    * integer mapping (cell = ⌊x·gridW/width⌋), and the embedding is the
    * per-cell mean R, G, B normalized to [0,1] — 3·gridW·gridH dims, cells
    * row-major from the image TOP, RGB within a cell. Deterministic
    * (fixed-order accumulation, integer cell mapping) so a retried task and
    * a re-run produce identical vectors. Same 24-bit BI_RGB envelope and
    * skip-on-parse-failure policy as BmpImageDecoder. */
  final class BmpGridEmbedder(gridW: Int, gridH: Int) extends ImageDecoder {
    require(gridW >= 1 && gridH >= 1, s"grid must be >= 1x1, got ${gridW}x$gridH")

    private[multimodal] def decode(id: Long, bytes: Array[Byte]): Option[ImageFeatures] = {
      val geom = BmpHeader.parse(bytes) match {
        case None => return None
        case Some(g) => g
      }
      val pixelOff = geom.pixelOff; val width = geom.width
      val height = geom.height; val bottomUp = geom.bottomUp
      val rowBytes = geom.rowBytes
      val cells = gridW * gridH
      val sums = new Array[Double](cells * 3)
      val counts = new Array[Long](cells)
      var y = 0
      while (y < height) {
        val srcRow = if (bottomUp) height - 1 - y else y
        val base = pixelOff + srcRow * rowBytes
        val cy = (y.toLong * gridH / height).toInt
        var x = 0
        while (x < width) {
          val o = base + x * 3 // BGR byte order
          val cell = cy * gridW + (x.toLong * gridW / width).toInt
          sums(cell * 3) += (bytes(o + 2) & 0xff)     // R
          sums(cell * 3 + 1) += (bytes(o + 1) & 0xff) // G
          sums(cell * 3 + 2) += (bytes(o) & 0xff)     // B
          counts(cell) += 1
          x += 1
        }
        y += 1
      }
      val emb = new Array[Float](cells * 3)
      var c = 0
      while (c < cells) {
        if (counts(c) > 0) {
          var k = 0
          while (k < 3) {
            emb(c * 3 + k) = (sums(c * 3 + k) / counts(c) / 255.0).toFloat
            k += 1
          }
        } // a cell narrower than the grid (width < gridW) stays 0f
        c += 1
      }
      Some(ImageFeatures(id, width, height, channels = 3, embedding = emb))
    }

    def decodeBatch(batch: Iterator[(Long, Array[Byte])]): Iterator[ImageFeatures] =
      batch.flatMap { case (id, bytes) => decode(id, bytes) }
  }

  /** Binary image column -> embedding column, ready for Similarity.knnJoin /
    * lshNearDupPairs / ivfAssign. One narrow mapPartitions — no shuffle; at
    * 100 TB this is the scan stage of the multimodal pipeline. */
  def imageEmbeddings(media: DataFrame, gridW: Int = 4, gridH: Int = 4): DataFrame =
    decodeImages(media, new BmpGridEmbedder(gridW, gridH))
      .select(col("media_id"), col("embedding"))

  final case class ImageHash(media_id: Long, dhash: Long)

  /** Perceptual difference-hash (dHash, Krawetz 2013) over REAL pixels of
    * the 24-bit BI_RGB BMP path: luma box-averages into a 9x8 grid (pure
    * integer cell mapping, Rec.601 integer weights 299/587/114), and bit
    * r*8+c is set iff the cell right of (r,c) is brighter. 64 bits that
    * survive re-encode, mild resize, and global brightness shifts — the
    * image twin of the text simhash. Images smaller than the 9x8 grid are
    * skipped (no cell may be empty), same policy as malformed payloads.
    * Deterministic: integer sums, one fixed IEEE division per cell. */
  object BmpDHasher {
    private val GW = 9
    private val GH = 8

    private[multimodal] def dhash(bytes: Array[Byte]): Option[Long] = {
      val geom = BmpHeader.parse(bytes) match {
        case None => return None
        case Some(g) => g
      }
      val pixelOff = geom.pixelOff; val width = geom.width
      val height = geom.height; val bottomUp = geom.bottomUp
      val rowBytes = geom.rowBytes
      if (width < GW || height < GH) return None // every cell must be non-empty
      val sums = new Array[Long](GW * GH)
      val counts = new Array[Long](GW * GH)
      var y = 0
      while (y < height) {
        val srcRow = if (bottomUp) height - 1 - y else y
        val base = pixelOff + srcRow * rowBytes
        val cy = y * GH / height
        var x = 0
        while (x < width) {
          val o = base + x * 3 // BGR
          val bl = bytes(o) & 0xff
          val g = bytes(o + 1) & 0xff
          val r = bytes(o + 2) & 0xff
          val cell = cy * GW + x * GW / width
          sums(cell) += 299L * r + 587L * g + 114L * bl // Rec.601 luma x1000
          counts(cell) += 1
          x += 1
        }
        y += 1
      }
      var h = 0L
      var ry = 0
      while (ry < GH) {
        var cx = 0
        while (cx < GW - 1) {
          val left = sums(ry * GW + cx).toDouble / counts(ry * GW + cx)
          val right = sums(ry * GW + cx + 1).toDouble / counts(ry * GW + cx + 1)
          if (right > left) h |= 1L << (ry * 8 + cx)
          cx += 1
        }
        ry += 1
      }
      Some(h)
    }
  }

  /** Binary image column -> (media_id, dhash) via one narrow mapPartitions
    * scan — the fingerprint stage of image dedup at 100 TB. */
  def imageDHash(media: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("content"))
      .filter(col("content").isNotNull && length(col("content")) > 0)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        BmpDHasher.dhash(bytes).map(ImageHash(id, _))
      })
      .toDF()
  }

  /** Near-duplicate image pairs within `maxHamming` dHash bit flips, via the
    * SAME lossless pigeonhole banding as the text simhash
    * (Dedup.hammingNearDupPairs): band self-equi-join on small buckets —
    * never all pairs — then a popcount verify. Output: (doc_a, doc_b,
    * hamming) over media ids. */
  def imageNearDupPairs(media: DataFrame, maxHamming: Int): DataFrame =
    graft.operators.Dedup.hammingNearDupPairs(
      imageDHash(media), "media_id", "dhash", maxHamming, bits = 64)

  final case class AudioQuality(media_id: Long, n_samples: Long,
                                silence_ratio: Double, clip_ratio: Double,
                                rms: Double)

  /** Audio QUALITY gate stats for 16-bit PCM WAV: fraction of near-silent
    * samples (|s| < `silenceThreshold` of full scale), fraction of clipped
    * samples (|s| at or within 8 LSB of full scale), and RMS level — the
    * drop-dead-air / drop-distorted filter every speech-corpus pipeline runs
    * before transcription. Same RIFF envelope + skip-on-parse-failure policy
    * as WavAudioDecoder; one narrow scan, integer sample walk, fixed-order
    * accumulation. */
  def audioQualityStats(media: DataFrame,
                        silenceThreshold: Double = 0.01): DataFrame = {
    import media.sparkSession.implicits._
    val silenceAbs = (silenceThreshold * 32768.0).toInt // integer compare gate
    media.select(col("media_id"), col("content"))
      .filter(col("content").isNotNull && length(col("content")) > 0)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        WavQualityAnalyzer.analyze(id, bytes, silenceAbs)
      })
      .toDF()
  }

  /** THE one copy of the RIFF/WAVE chunk walk all sample walkers share:
    * (channels, rate, bits, dataOff, dataSize) for a PCM file, None for
    * non-RIFF / non-PCM / malformed chunk lists (crafted sizes compared in
    * Long so an Int wrap can't slip past the bounds check). First fmt chunk
    * wins — on pathological multi-fmt files the old analyzer kept scanning
    * for a 16-bit fmt; that edge is deliberately unified to first-wins. */
  private[multimodal] object WavChunks {
    import LE.{i32, tag, u16}

    def parse(bytes: Array[Byte]): Option[(Int, Int, Int, Int, Int)] = {
      if (bytes.length < 44 || tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE") return None
      var off = 12
      var fmt: Option[(Int, Int, Int)] = None // (channels, sampleRate, bits)
      var data: Option[(Int, Int)] = None     // (offset, size)
      while (off + 8 <= bytes.length && (fmt.isEmpty || data.isEmpty)) {
        val id4 = tag(bytes, off)
        val size = i32(bytes, off + 4)
        if (size < 0 || off.toLong + 8 + size > bytes.length) return None
        if (id4 == "fmt " && size >= 16) {
          if (u16(bytes, off + 8) != 1) return None // PCM only
          fmt = Some((u16(bytes, off + 10), i32(bytes, off + 12), u16(bytes, off + 22)))
        } else if (id4 == "data") data = Some((off + 8, size))
        off += 8 + size + (size & 1) // chunks are word-aligned
      }
      for ((c, r, b) <- fmt; (dOff, dSize) <- data) yield (c, r, b, dOff, dSize)
    }
  }

  object WavQualityAnalyzer {

    private[multimodal] def analyze(id: Long, bytes: Array[Byte],
                                    silenceAbs: Int): Option[AudioQuality] = {
      WavChunks.parse(bytes) match {
        case Some((_, _, bits, dOff, dSize)) if bits == 16 =>
          val nSamples = dSize / 2
          if (nSamples == 0) return Some(AudioQuality(id, 0L, 0.0, 0.0, 0.0))
          var silent = 0L; var clipped = 0L; var ss = 0.0
          var i = 0
          while (i < nSamples) {
            val s = ((bytes(dOff + 2 * i) & 0xff) |
              (bytes(dOff + 2 * i + 1) << 8)).toShort.toInt
            val a = math.abs(s)
            if (a < silenceAbs) silent += 1
            if (a >= 32760) clipped += 1 // full scale minus 8 LSB of headroom
            val f = s / 32768.0
            ss += f * f
            i += 1
          }
          Some(AudioQuality(id, nSamples.toLong,
            silence_ratio = silent.toDouble / nSamples,
            clip_ratio = clipped.toDouble / nSamples,
            rms = math.sqrt(ss / nSamples)))
        case _ => None
      }
    }
  }

  final case class AudioFeatures(media_id: Long, sample_rate: Int, channels: Int,
                                 n_frames: Long, duration_ms: Long, rms: Double)

  /** Audio decoder seam, same batched shape as ImageDecoder. */
  trait AudioDecoder extends Serializable {
    def decodeBatch(batch: Iterator[(Long, Array[Byte])]): Iterator[AudioFeatures]
  }

  /** REAL decoder for RIFF/WAVE 16-bit PCM — pure JVM. Walks the chunk list
    * for fmt/data, then computes frame count, duration, and RMS amplitude
    * (normalized to [-1, 1]) over the actual samples. Non-PCM / non-16-bit /
    * truncated payloads are skipped. */
  object WavAudioDecoder extends AudioDecoder {

    private[multimodal] def decode(id: Long, bytes: Array[Byte]): Option[AudioFeatures] = {
      WavChunks.parse(bytes) match {
        case Some((channels, rate, bits, dOff, dSize))
            if bits == 16 && channels > 0 && rate > 0 =>
          val nSamples = dSize / 2
          val nFrames = nSamples.toLong / channels
          var ss = 0.0
          var i = 0
          while (i < nSamples) {
            val s = ((bytes(dOff + 2 * i) & 0xff) |
              (bytes(dOff + 2 * i + 1) << 8)).toShort / 32768.0
            ss += s * s
            i += 1
          }
          val rms = if (nSamples > 0) math.sqrt(ss / nSamples) else 0.0
          Some(AudioFeatures(id, rate, channels, nFrames,
            duration_ms = nFrames * 1000L / rate, rms = rms))
        case _ => None
      }
    }

    def decodeBatch(batch: Iterator[(Long, Array[Byte])]): Iterator[AudioFeatures] =
      batch.flatMap { case (id, bytes) => decode(id, bytes) }
  }

  final case class AudioEmbedding(media_id: Long, embedding: Array[Float])

  /** Segment-pooled audio embedding from REAL samples — the audio twin of
    * [[BmpGridEmbedder]], bridging binary audio columns into the similarity
    * stack (kNN join, ANN, embedding dedup): frames are partitioned into
    * `segments` equal time slices by pure integer mapping
    * (slice = ⌊frame·segments/nFrames⌋), and the embedding is per-slice RMS
    * amplitude in [0, 1] (channels folded together) — an energy-envelope
    * signature. Deterministic: samples accumulate in stream order within a
    * slice, so a retried task yields identical vectors. Same 16-bit PCM
    * envelope and skip policy as [[WavAudioDecoder]]. */
  final class WavSegmentEmbedder(segments: Int) extends Serializable {
    require(segments >= 1, s"segments must be >= 1, got $segments")

    private[multimodal] def decode(id: Long, bytes: Array[Byte]): Option[AudioEmbedding] = {
      WavChunks.parse(bytes) match {
        case Some((channels, rate, bits, dOff, dSize))
            if bits == 16 && channels > 0 && rate > 0 =>
          val nFrames = (dSize / 2 / channels).toLong
          if (nFrames == 0) return None
          val ss = new Array[Double](segments)
          val counts = new Array[Long](segments)
          var f = 0L
          while (f < nFrames) {
            val slice = (f * segments / nFrames).toInt
            var ch = 0
            while (ch < channels) {
              val i = (f * channels + ch).toInt
              val s = ((bytes(dOff + 2 * i) & 0xff) |
                (bytes(dOff + 2 * i + 1) << 8)).toShort / 32768.0
              ss(slice) += s * s
              counts(slice) += 1
              ch += 1
            }
            f += 1
          }
          val emb = new Array[Float](segments)
          var k = 0
          while (k < segments) {
            if (counts(k) > 0) emb(k) = math.sqrt(ss(k) / counts(k)).toFloat
            k += 1 // a slice shorter than a frame (nFrames < segments) stays 0f
          }
          Some(AudioEmbedding(id, emb))
        case _ => None
      }
    }

    def decodeBatch(batch: Iterator[(Long, Array[Byte])]): Iterator[AudioEmbedding] =
      batch.flatMap { case (id, bytes) => decode(id, bytes) }
  }

  /** Binary audio column -> embedding column, ready for Similarity.knnJoin /
    * lshNearDupPairs. One narrow mapPartitions — no shuffle. */
  def audioEmbeddings(media: DataFrame, segments: Int = 16): DataFrame = {
    import media.sparkSession.implicits._
    val embedder = new WavSegmentEmbedder(segments)
    media.select(col("media_id"), col("content"))
      .filter(col("content").isNotNull && length(col("content")) > 0)
      .as[(Long, Array[Byte])]
      .mapPartitions(it => embedder.decodeBatch(it))
      .toDF()
      .select(col("media_id"), col("embedding"))
  }

  /** ONE pixel walk producing both the dHash luma grid and the gridW x gridH
    * RGB embedding — bit-identical to [[BmpDHasher.dhash]] and
    * [[BmpGridEmbedder.decode]] run separately (same traversal order, same
    * integer cell maps, same accumulation order; FusedDecodeSpec pins the
    * equality) at half the decode CPU. extractFeatures' contract is that the
    * binary scan happens once — so the pixels are walked once too. */
  private[multimodal] final class FusedBmpExtractor(gridW: Int, gridH: Int)
      extends Serializable {
    require(gridW >= 1 && gridH >= 1, s"grid must be >= 1x1, got ${gridW}x$gridH")

    def extract(bytes: Array[Byte]): (Option[Long], Option[Array[Float]]) =
      BmpHeader.parse(bytes) match {
        case None => (None, None)
        case Some(geom) =>
          val width = geom.width; val height = geom.height
          val doHash = width >= 9 && height >= 8 // dHash's non-empty-cell gate
          val hs = new Array[Long](72); val hc = new Array[Long](72)
          val cells = gridW * gridH
          val es = new Array[Double](cells * 3); val ec = new Array[Long](cells)
          var y = 0
          while (y < height) {
            val srcRow = if (geom.bottomUp) height - 1 - y else y
            val base = geom.pixelOff + srcRow * geom.rowBytes
            val cyH = y * 8 / height
            val cyE = (y.toLong * gridH / height).toInt
            var x = 0
            while (x < width) {
              val o = base + x * 3 // BGR
              val bl = bytes(o) & 0xff
              val g = bytes(o + 1) & 0xff
              val r = bytes(o + 2) & 0xff
              if (doHash) {
                val cell = cyH * 9 + x * 9 / width
                hs(cell) += 299L * r + 587L * g + 114L * bl // Rec.601 x1000
                hc(cell) += 1
              }
              val cellE = cyE * gridW + (x.toLong * gridW / width).toInt
              es(cellE * 3) += r; es(cellE * 3 + 1) += g; es(cellE * 3 + 2) += bl
              ec(cellE) += 1
              x += 1
            }
            y += 1
          }
          val dh = if (!doHash) None else {
            var h = 0L
            var ry = 0
            while (ry < 8) {
              var cx = 0
              while (cx < 8) {
                val left = hs(ry * 9 + cx).toDouble / hc(ry * 9 + cx)
                val right = hs(ry * 9 + cx + 1).toDouble / hc(ry * 9 + cx + 1)
                if (right > left) h |= 1L << (ry * 8 + cx)
                cx += 1
              }
              ry += 1
            }
            Some(h)
          }
          val emb = new Array[Float](cells * 3)
          var c = 0
          while (c < cells) {
            if (ec(c) > 0) {
              var k = 0
              while (k < 3) {
                emb(c * 3 + k) = (es(c * 3 + k) / ec(c) / 255.0).toFloat
                k += 1
              }
            }
            c += 1
          }
          (dh, Some(emb))
      }
  }

  /** ONE sample walk producing both the quality stats and the segment
    * embedding — bit-identical to [[WavQualityAnalyzer.analyze]] and
    * [[WavSegmentEmbedder.decode]] run separately (the embedder's
    * frame-then-channel order IS sequential sample order, so one loop
    * accumulates both in the original orders; FusedDecodeSpec pins it). */
  private[multimodal] final class FusedWavExtractor(segments: Int, silenceAbs: Int)
      extends Serializable {
    require(segments >= 1, s"segments must be >= 1, got $segments")

    def extract(id: Long, bytes: Array[Byte])
        : (Option[AudioQuality], Option[Array[Float]]) =
      WavChunks.parse(bytes) match {
        case Some((channels, rate, bits, dOff, dSize)) if bits == 16 =>
          val nSamples = dSize / 2
          if (nSamples == 0) return (Some(AudioQuality(id, 0L, 0.0, 0.0, 0.0)), None)
          val nFrames = if (channels > 0) (nSamples / channels).toLong else 0L
          val embedOk = channels > 0 && rate > 0 && nFrames > 0
          // samples beyond the last complete frame feed quality, not slices —
          // exactly the separate walkers' coverage
          val embSamples = if (embedOk) nFrames * channels else 0L
          val ss = new Array[Double](segments)
          val cnt = new Array[Long](segments)
          var silent = 0L; var clipped = 0L; var total = 0.0
          var i = 0
          while (i < nSamples) {
            val s = ((bytes(dOff + 2 * i) & 0xff) |
              (bytes(dOff + 2 * i + 1) << 8)).toShort.toInt
            val a = math.abs(s)
            if (a < silenceAbs) silent += 1
            if (a >= 32760) clipped += 1 // full scale minus 8 LSB of headroom
            val f = s / 32768.0
            total += f * f
            if (i < embSamples) {
              // Long like the separate embedder: frame * segments overflows
              // Int on hour-scale files
              val slice = ((i / channels).toLong * segments / nFrames).toInt
              ss(slice) += f * f
              cnt(slice) += 1
            }
            i += 1
          }
          val quality = AudioQuality(id, nSamples.toLong,
            silence_ratio = silent.toDouble / nSamples,
            clip_ratio = clipped.toDouble / nSamples,
            rms = math.sqrt(total / nSamples))
          val emb = if (!embedOk) None else {
            val out = new Array[Float](segments)
            var k = 0
            while (k < segments) {
              if (cnt(k) > 0) out(k) = math.sqrt(ss(k) / cnt(k)).toFloat
              k += 1
            }
            Some(out)
          }
          (Some(quality), emb)
        case _ => (None, None)
      }
  }

  /** One row of the unified per-asset feature table: everything the curation
    * pipeline needs downstream of the binary scan. Image rows carry dhash +
    * grid embedding; audio rows carry quality stats + segment embedding;
    * unsupported modalities and malformed payloads carry decodable = false. */
  final case class MediaFeatureRow(
      media_id: Long, modality: String, decodable: Boolean,
      dhash: Option[Long], embedding: Option[Array[Float]],
      n_samples: Option[Long], silence_ratio: Option[Double],
      clip_ratio: Option[Double], rms: Option[Double])

  /** ONE decode pass over the binary column extracting every curation
    * feature at once — at 100 TB the heavy `content` bytes are scanned
    * exactly once, and everything downstream (gates, dedup, kNN) runs on
    * this small typed feature table. Per-modality: images get perceptual
    * dHash ([[BmpDHasher]]) + grid-pooled embedding ([[BmpGridEmbedder]]);
    * audio gets silence/clip/RMS quality stats ([[WavQualityAnalyzer]]) +
    * segment-pooled embedding ([[WavSegmentEmbedder]]). Narrow plan — demux
    * parallelism equals scan parallelism. */
  def extractFeatures(media: DataFrame, gridW: Int = 4, gridH: Int = 4,
                      segments: Int = 16,
                      silenceThreshold: Double = 0.01): DataFrame = {
    import media.sparkSession.implicits._
    val imageExtractor = new FusedBmpExtractor(gridW, gridH)
    val silenceAbs = (silenceThreshold * 32768.0).toInt
    val audioExtractor = new FusedWavExtractor(segments, silenceAbs)
    media.select(col("media_id"), col("modality"), col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, mod, bytes) =>
        val nonEmpty = bytes != null && bytes.nonEmpty
        mod match {
          case "image" if nonEmpty =>
            // decodability = the embedding decoded; dHash needs a 9x8 grid,
            // so a small-but-valid BMP (e.g. 8x8) has emb without dhash and
            // must NOT be labeled undecodable — downstream gives null-dhash
            // rows their own `too_small` verdict (they can't be dedup-screened)
            val (dh, emb) = imageExtractor.extract(bytes)
            MediaFeatureRow(id, mod, decodable = emb.isDefined,
              dh, emb, None, None, None, None)
          case "audio" if nonEmpty =>
            val (q, emb) = audioExtractor.extract(id, bytes)
            MediaFeatureRow(id, mod, decodable = q.isDefined, None, emb,
              q.map(_.n_samples), q.map(_.silence_ratio),
              q.map(_.clip_ratio), q.map(_.rms))
          case _ =>
            MediaFeatureRow(id, if (mod == null) "unknown" else mod,
              decodable = false, None, None, None, None, None, None)
        }
      })
      .toDF()
  }

  /** The composed curation result. `verdicts` is the bytes-to-verdicts
    * contract: one row per input asset with kept/reason. `embeddings` holds
    * only kept assets (per-modality dims differ); `neighbors` is the
    * per-modality self-kNN over the survivors. */
  final case class MediaCuration(features: DataFrame, verdicts: DataFrame,
                                 embeddings: DataFrame, neighbors: DataFrame)

  /** The WHOLE multimodal curation pipeline as one composition — the binary
    * twin of the text pipeline (q75): ONE binary scan ([[extractFeatures]])
    * → per-modality quality gates → perceptual near-dup dedup (dHash
    * pigeonhole banding + min-label connected components, keep the
    * smallest-id representative) → embeddings of the survivors →
    * per-modality self-kNN.
    *
    * Verdict reasons, by priority: images `undecodable` (malformed /
    * non-BMP) → `too_small` (valid but below the 9x8 dHash grid — its grid
    * embedding exists in `features` but it cannot be dedup-screened, so it
    * is excluded from the kept set under its own honest label)
    * → `no_structure` (dhash == 0: a solid image has no gradient
    * signal and would near-dup with every other solid) → `near_dup`
    * (non-representative cluster member) → `ok`; audio `undecodable` →
    * `silence` (dead air beyond maxSilence) → `clipping` (distortion beyond
    * maxClip) → `low_rms` (too quiet to carry signal) → `ok`; any other
    * modality → `unsupported_modality`.
    *
    * Gating runs BEFORE dedup on purpose: a dropped-quality image must not
    * shield a kept one from dedup, and no-structure images would otherwise
    * all collide at dhash 0. Scale shape: the one binary scan is the only
    * heavy stage; features are ~100 bytes/asset, the dedup is the same
    * banded hamming join as text simhash (never all-pairs), and the final
    * kNN is the brute correctness baseline — swap [[graft.operators.Similarity]]'s
    * IVF/LSH paths in for corpus-scale serving. The feature table is
    * persisted (it feeds gates, dedup, and embeddings); reclaim via
    * `spark.catalog.clearCache()` like the other pinned intermediates. */
  def curateMedia(media: DataFrame, maxHamming: Int = 8,
                  maxSilence: Double = 0.5, maxClip: Double = 0.01,
                  minRms: Double = 0.01, gridW: Int = 4, gridH: Int = 4,
                  segments: Int = 16, k: Int = 5,
                  silenceThreshold: Double = 0.01): MediaCuration = {
    val feats = extractFeatures(media, gridW, gridH, segments, silenceThreshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val okImages = feats.filter(col("modality") === "image" &&
      col("decodable") && col("dhash") =!= 0L)
    val pairs = graft.operators.Dedup.hammingNearDupPairs(
      okImages.select(col("media_id"), col("dhash")),
      "media_id", "dhash", maxHamming, bits = 64)
    // min-label CC: a cluster's label IS its smallest member id, so the
    // representative test is label == id — no extra rank pass needed
    val dupDropped = graft.operators.Dedup.resolveClusters(pairs, "doc_a", "doc_b")
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("media_id"), lit(true).as("is_dup"))
    val imageVerdicts = feats.filter(col("modality") === "image")
      .join(dupDropped, Seq("media_id"), "left")
      .select(col("media_id"), col("modality"),
        when(!col("decodable"), "undecodable")
          .when(col("dhash").isNull, "too_small") // valid but below the 9x8 dHash grid: undedupable, own label
          .when(col("dhash") === 0L, "no_structure")
          .when(col("is_dup"), "near_dup")
          .otherwise("ok").as("reason"))
    val audioVerdicts = feats.filter(col("modality") === "audio")
      .select(col("media_id"), col("modality"),
        when(!col("decodable"), "undecodable")
          .when(col("silence_ratio") > maxSilence, "silence")
          .when(col("clip_ratio") > maxClip, "clipping")
          .when(col("rms") < minRms, "low_rms")
          .otherwise("ok").as("reason"))
    val otherVerdicts = feats.filter(!col("modality").isin("image", "audio"))
      .select(col("media_id"), col("modality"),
        lit("unsupported_modality").as("reason"))
    val verdicts = imageVerdicts.unionByName(audioVerdicts)
      .unionByName(otherVerdicts)
      .withColumn("kept", col("reason") === "ok")
    val embeddings = feats
      .join(verdicts.filter(col("kept")).select("media_id"), "media_id")
      .filter(col("embedding").isNotNull)
      .select(col("media_id"), col("modality"), col("embedding"))
    def selfKnn(mod: String): DataFrame = {
      val e = embeddings.filter(col("modality") === mod)
      graft.operators.Similarity.knnJoin(e, "media_id", "embedding",
          e, "media_id", "embedding", k, excludeSelf = true)
        .withColumn("modality", lit(mod))
    }
    MediaCuration(feats, verdicts, embeddings,
      selfKnn("image").unionByName(selfKnn("audio")))
  }

  /** One ingest step's outputs: batch verdicts (same shape as
    * [[MediaCuration]]'s), the kept feature rows, and the dHash band-index
    * rows to APPEND to the lake index for the kept images. `features` is
    * the persisted per-batch feature table backing the others, and
    * `bandPin` is the pinned batch band table inside the dedup probe
    * (Dedup.incrementalHammingKeepPinned) — callers that own the batch
    * lifecycle (the streaming ingest) unpersist BOTH once the batch's
    * outputs are materialized; dropping either handle leaks one
    * CacheManager-pinned DataFrame per micro-batch. */
  final case class MediaIngest(features: DataFrame, verdicts: DataFrame,
                               keptFeatures: DataFrame, indexRows: DataFrame,
                               bandPin: DataFrame) {
    /** Release the per-batch caches (features + dedup band pin). */
    def unpersistAll(): Unit = {
      features.unpersist(blocking = false)
      bandPin.unpersist(blocking = false)
      ()
    }
  }

  /** Schema-correct empty dHash band index — the state before the first
    * batch. Derived from [[graft.operators.Dedup.hammingBandIndex]] over an
    * empty fingerprint table so there is exactly ONE source of truth for
    * the index shape (media_id, dhash, band, bv). */
  def emptyDHashIndex(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val emptyFps = spark.createDataFrame(new java.util.ArrayList[Row](),
      StructType(Seq(
        StructField("media_id", LongType, nullable = false),
        StructField("dhash", LongType, nullable = false))))
    graft.operators.Dedup.hammingBandIndex(emptyFps, "media_id", "dhash",
      maxHamming = 8, bits = 64)
  }

  /** INCREMENTAL curation — [[curateMedia]]'s per-batch twin, the 100 TB
    * ingest shape: when new media lands you don't re-curate the corpus; you
    * gate the batch and dedup it against the LAKE-RESIDENT dHash band index
    * (`Dedup.hammingBandIndex` rows of everything already kept). One decode
    * pass over the batch, gates as in curateMedia, then
    * `Dedup.incrementalHammingKeep` probes the index with the batch
    * BROADCAST — corpus-side state never reshuffles, so the step cost is
    * batch-sized plus one index scan regardless of corpus size. Append the
    * returned `indexRows` to the index to complete the step; this method is
    * the `foreachBatch` body of the streaming ingest (the same
    * batch-function-over-micro-batches contract as the text side's
    * streaming dedup twins). Within-batch dups resolve by the greedy
    * min-partner rule — per-batch keeps union-equal a full curateMedia pass
    * whenever dup chains don't straddle batches; straddling chains are
    * repaired by the periodic `Dedup.reconcileHammingKeeps` backfill over
    * the verdict archive (the compaction analogue for dedup state).
    * Audio/other verdicts are batch-local (gates carry no cross-batch
    * state). */
  def ingestMediaBatch(newMedia: DataFrame, dhashIndex: DataFrame,
                       maxHamming: Int = 8, maxSilence: Double = 0.5,
                       maxClip: Double = 0.01, minRms: Double = 0.01,
                       gridW: Int = 4, gridH: Int = 4, segments: Int = 16,
                       silenceThreshold: Double = 0.01): MediaIngest = {
    val feats = extractFeatures(newMedia, gridW, gridH, segments, silenceThreshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val okImages = feats.filter(col("modality") === "image" &&
      col("decodable") && col("dhash") =!= 0L)
    val (keptImageFps, bandPin) = graft.operators.Dedup.incrementalHammingKeepPinned(
      okImages.select(col("media_id"), col("dhash")), "media_id", "dhash",
      dhashIndex, maxHamming, bits = 64)
    val keptMark = keptImageFps.select(col("media_id"), lit(true).as("__kept"))
    val imageVerdicts = feats.filter(col("modality") === "image")
      .join(keptMark, Seq("media_id"), "left")
      .select(col("media_id"), col("modality"),
        when(!col("decodable"), "undecodable")
          .when(col("dhash").isNull, "too_small") // same label as curateMedia
          .when(col("dhash") === 0L, "no_structure")
          .when(col("__kept"), "ok")
          .otherwise("near_dup").as("reason"))
    val audioVerdicts = feats.filter(col("modality") === "audio")
      .select(col("media_id"), col("modality"),
        when(!col("decodable"), "undecodable")
          .when(col("silence_ratio") > maxSilence, "silence")
          .when(col("clip_ratio") > maxClip, "clipping")
          .when(col("rms") < minRms, "low_rms")
          .otherwise("ok").as("reason"))
    val otherVerdicts = feats.filter(!col("modality").isin("image", "audio"))
      .select(col("media_id"), col("modality"),
        lit("unsupported_modality").as("reason"))
    val verdicts = imageVerdicts.unionByName(audioVerdicts)
      .unionByName(otherVerdicts)
      .withColumn("kept", col("reason") === "ok")
    val keptFeatures = feats
      .join(verdicts.filter(col("kept")).select("media_id"), "media_id")
    val indexRows = graft.operators.Dedup.hammingBandIndex(
      keptImageFps, "media_id", "dhash", maxHamming, bits = 64)
    MediaIngest(feats, verdicts, keptFeatures, indexRows, bandPin)
  }

  /** STREAMING media ingest: [[ingestMediaBatch]] as a Structured Streaming
    * job — each micro-batch gates + dedups against the parquet-resident
    * dHash band index at `indexDir`, appends its verdicts (stamped with the
    * batch id) to `verdictsDir`, and appends the kept images' band rows back
    * to the index. The same batch-core-in-foreachBatch contract as the text
    * side's incremental dedup twins: the batch core is unit-testable and
    * reusable for backfills. At-least-once replay is safe in the keep
    * direction — a re-delivered batch re-probes ids already indexed without
    * self-dropping (incrementalHammingKeep's self-pair guard), and duplicate
    * index rows only repeat candidate pairs, never change verdicts; replayed
    * verdict rows carry the same batch_id and dedup downstream by
    * (media_id, batch_id). */
  def streamingMediaIngest(mediaStream: DataFrame, indexDir: String,
                           verdictsDir: String, checkpointDir: String,
                           maxHamming: Int = 8,
                           lockWaitMs: Long = 10 * 60 * 1000L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    mediaStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mediaIngestStep(batch, batchId, indexDir, verdictsDir, maxHamming,
          lockWaitMs = lockWaitMs)
      }
      .start()

  /** ONE micro-batch of the streaming media ingest, extracted so crash-replay
    * is testable outside a running stream (drive it directly, throw at the
    * failpoint, re-drive the same batch — the at-least-once contract in the
    * [[streamingMediaIngest]] scaladoc is pinned by exactly this seam).
    * `failpoint` runs BETWEEN the verdict append and the index append — the
    * torn-batch window: a crash there leaves the batch's verdicts committed
    * but its index rows absent, which the replay repairs because re-probing
    * ids not yet indexed re-keeps them identically and replayed verdicts
    * carry the same batch_id. */
  private[graft] def mediaIngestStep(batch: DataFrame, batchId: Long,
                                     indexDir: String, verdictsDir: String,
                                     maxHamming: Int = 8,
                                     failpoint: Long => Unit = _ => (),
                                     lockWaitMs: Long = 10 * 60 * 1000L): Unit = {
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      // SERIALIZE the read-probe-append cycle across writers: two queries
      // pointed at one index dir would otherwise interleave a probe before
      // the other's append lands, and BOTH keep a pair of near-dup twins —
      // silent divergence only a reconcile repairs. The lease (sibling
      // __LOCK file, atomic create, stale-expiry) makes the second writer
      // wait behind the first up to lockWaitMs, then fail loudly.
      graft.sources.StateLock.withLock(spark, indexDir + "__LOCK",
        waitMs = lockWaitMs) {
        // existence via the Hadoop filesystem of the PATH, not java.io.File:
        // a java.io check is always false on hdfs://, s3a://, or file:/ URIs
        // and would silently dedup every batch against an empty index
        val idxPath = new org.apache.hadoop.fs.Path(indexDir)
        val fs = idxPath.getFileSystem(spark.sessionState.newHadoopConf())
        val idx =
          if (fs.exists(idxPath)) graft.Tables.read(spark, indexDir)
          else emptyDHashIndex(spark)
        val r = ingestMediaBatch(batch, idx, maxHamming = maxHamming)
        try {
          // verdicts before the index append: the index plan's file listing
          // is captured at read time, but writing in this order removes any
          // re-list hazard for the batch's own verdict actions
          r.verdicts.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(verdictsDir)
          failpoint(batchId)
          r.indexRows.write.mode("append").parquet(indexDir)
        } finally
          // per-batch caches (features + dedup band pin) released on EVERY
          // path: the stream owns the batch lifecycle, so without this every
          // micro-batch leaks pinned DataFrames until the block manager chokes
          r.unpersistAll()
      }
    }
  }

  /** Audio decode seam: binary column -> typed features (same narrow,
    * batched mapPartitions shape as decodeImages). */
  def decodeAudio(media: DataFrame, decoder: AudioDecoder = WavAudioDecoder): DataFrame = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("content"))
      .filter(col("content").isNotNull && length(col("content")) > 0)
      .as[(Long, Array[Byte])]
      .mapPartitions(it => decoder.decodeBatch(it))
      .toDF()
  }

  /** Decode seam: binary column -> typed features via the batched decoder.
    * Null/empty content rows are dropped (malformed-asset policy mirrors the
    * reference's skip-on-parse-failure). Runs narrow — no shuffle; at 100 TB
    * the media table is size-partitioned upstream so each task holds a
    * bounded byte volume, not a bounded row count. */
  def decodeImages(media: DataFrame, decoder: ImageDecoder = FakeImageDecoder): DataFrame = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("content"))
      .filter(col("content").isNotNull && length(col("content")) > 0)
      .as[(Long, Array[Byte])]
      .mapPartitions(it => decoder.decodeBatch(it))
      .toDF()
  }

  /** Resize on the decoded representation (stub math on fake features —
    * the plumbing point is the schema contract, not the resampling kernel).
    * For a REAL pixel resample on the pure-JVM BMP path, see
    * [[resizeImages]] / [[BmpResizer]]. */
  def resize(features: DataFrame, w: Int, h: Int): DataFrame =
    features.withColumn("width", lit(w)).withColumn("height", lit(h))

  /** REAL image resize for the 24-bit BMP path: nearest-neighbor resample
    * with pure integer source mapping (srcX = ⌊xD·srcW/dstW⌋), re-encoded
    * as a canonical bottom-up BI_RGB BMP. Bytes are deterministic — same
    * input produces identical output on any executor, so a retried task is
    * safe. Malformed / non-24-bit payloads are skipped (the decode policy).
    * Nearest-neighbor is the honest kernel choice here: it needs no
    * filtering-window float conventions, so the output is bit-reproducible
    * and the oracle-style replay in the spec can assert exact pixels. */
  object BmpResizer {
    private val MaxDim = BmpHeader.MaxDim

    private[multimodal] def resize(bytes: Array[Byte], dstW: Int, dstH: Int): Option[Array[Byte]] = {
      require(dstW >= 1 && dstH >= 1 && dstW <= MaxDim && dstH <= MaxDim)
      val geom = BmpHeader.parse(bytes) match {
        case None => return None
        case Some(g) => g
      }
      val pixelOff = geom.pixelOff; val srcW = geom.width
      val srcH = geom.height; val bottomUp = geom.bottomUp
      val srcRow = geom.rowBytes
      val dstRow = ((dstW * 3 + 3) / 4) * 4
      val out = java.nio.ByteBuffer.allocate(54 + dstRow * dstH)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put('B'.toByte).put('M'.toByte).putInt(54 + dstRow * dstH).putInt(0).putInt(54)
      out.putInt(40).putInt(dstW).putInt(dstH) // canonical bottom-up
      out.putShort(1).putShort(24).putInt(0)
      out.putInt(dstRow * dstH).putInt(2835).putInt(2835).putInt(0).putInt(0)
      val arr = out.array()
      var yD = 0 // destination row from the TOP of the image
      while (yD < dstH) {
        // Long products: both factors are <= 2^20 but their product is not
        val ySrcTop = ((yD.toLong * srcH) / dstH).toInt
        val srcFileRow = if (bottomUp) srcH - 1 - ySrcTop else ySrcTop
        val srcBase = pixelOff + srcFileRow * srcRow
        val dstBase = 54 + (dstH - 1 - yD) * dstRow
        var xD = 0
        while (xD < dstW) {
          val xS = ((xD.toLong * srcW) / dstW).toInt
          val so = srcBase + xS * 3
          val do_ = dstBase + xD * 3
          arr(do_) = bytes(so); arr(do_ + 1) = bytes(so + 1); arr(do_ + 2) = bytes(so + 2)
          xD += 1
        }
        yD += 1
      }
      Some(arr)
    }
  }

  /** Binary column -> resized binary column (24-bit BMP payloads), batched
    * per partition like the decoders; malformed rows are skipped. Narrow
    * plan, no shuffle — resizing 100 TB of images is exactly as
    * parallelizable as scanning them. */
  def resizeImages(media: DataFrame, w: Int, h: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("content"))
      .filter(col("content").isNotNull && length(col("content")) > 0)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        BmpResizer.resize(bytes, w, h).map(rb => (id, rb, w, h))
      })
      .toDF("media_id", "content", "width", "height")
  }

  /** REAL video frame extraction for the RIFF/AVI container: walks the RIFF
    * chunk tree (pure JVM, no codecs), finds the LIST/movi payload, and
    * yields the video stream chunks ('##db' uncompressed / '##dc'
    * compressed) in file order. Frame BYTES are returned as-is — decoding
    * a codec'd frame is out of scope exactly like non-BMP images; for raw
    * ('00db') AVIs the bytes ARE the pixels. Malformed / truncated
    * containers yield no frames (skip policy); every offset is bounds- and
    * overflow-checked so crafted sizes can't read out of range. */
  object AviFrameExtractor {
    import LE.{i32, tag}

    /** (frameIndex, offset, length) of each video chunk in LIST/movi. */
    private[multimodal] def frames(b: Array[Byte]): Seq[(Int, Int, Int)] = {
      if (b.length < 12 || tag(b, 0) != "RIFF" || tag(b, 8) != "AVI ") return Nil
      val riffEnd = {
        val sz = i32(b, 4).toLong // declared size of the RIFF payload
        math.min(8L + math.max(sz, 0L), b.length.toLong).toInt
      }
      // locate LIST/movi among the top-level chunks
      var off = 12
      var movi = -1; var moviEnd = -1
      while (movi < 0 && off + 8 <= riffEnd) {
        val sz = i32(b, off + 4)
        if (sz < 0 || off + 8L + sz > riffEnd) return Nil
        if (tag(b, off) == "LIST" && sz >= 4 && tag(b, off + 8) == "movi") {
          movi = off + 12; moviEnd = off + 8 + sz
        }
        off += 8 + sz + (sz & 1) // chunks pad to even offsets
      }
      if (movi < 0) return Nil
      val out = Seq.newBuilder[(Int, Int, Int)]
      var idx = 0
      var o = movi
      while (o + 8 <= moviEnd) {
        val fourcc = tag(b, o)
        val sz = i32(b, o + 4)
        if (sz < 0 || o + 8L + sz > moviEnd) return out.result() // truncated tail
        // video stream chunks: ss 'db' (raw) / ss 'dc' (compressed)
        if (fourcc.length == 4 && fourcc(0).isDigit && fourcc(1).isDigit &&
            (fourcc.endsWith("db") || fourcc.endsWith("dc"))) {
          out += ((idx, o + 8, sz))
          idx += 1
        }
        o += 8 + sz + (sz & 1)
      }
      out.result()
    }
  }

  /** Real every-nth-frame sampling over AVI payloads: one row per kept
    * frame, batched per partition, narrow plan — demux parallelism equals
    * scan parallelism at any corpus size. */
  def sampleFramesAvi(media: DataFrame, everyNth: Int): DataFrame = {
    require(everyNth > 0)
    import media.sparkSession.implicits._
    media.filter(col("modality") === "video" && col("content").isNotNull &&
        length(col("content")) > 0)
      .select(col("media_id"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        AviFrameExtractor.frames(bytes).collect {
          case (idx, off, len) if idx % everyNth == 0 =>
            (id, idx, java.util.Arrays.copyOfRange(bytes, off, off + len))
        }
      })
      .toDF("media_id", "frame_idx", "frame")
  }

  /** Frame sampling for video: every nth chunk of the binary payload as a
    * frame row (stub chunking in place of a container demuxer — see
    * [[sampleFramesAvi]] for the real RIFF/AVI demux). Generates
    * rows with posexplode — a real demuxer slots into the same shape. */
  def sampleFrames(media: DataFrame, chunkBytes: Int, everyNth: Int): DataFrame = {
    require(chunkBytes > 0 && everyNth > 0)
    val nChunks = ceil(length(col("content")).cast("double") / chunkBytes).cast("int")
    // length > 0: sequence(0, greatest(n-1, 0)) would yield [0] for empty
    // payloads and emit a phantom frame
    media.filter(col("modality") === "video" && col("content").isNotNull &&
        length(col("content")) > 0)
      .select(col("media_id"), col("content"), nChunks.as("n"))
      .select(col("media_id"), col("content"),
        posexplode(sequence(lit(0), greatest(col("n") - 1, lit(0)))).as(Seq("pos", "chunk_idx")))
      .filter(pmod(col("chunk_idx"), lit(everyNth)) === 0)
      .select(col("media_id"), col("chunk_idx"),
        expr(s"substring(content, chunk_idx * $chunkBytes + 1, $chunkBytes)").as("frame"))
  }

  /** Audio feature stub: windowed energy over the byte stream (deterministic,
    * codec-free), one row per window — the shape a real DSP pass produces. */
  def audioWindows(media: DataFrame, windowBytes: Int): DataFrame = {
    require(windowBytes > 0)
    val n = ceil(length(col("content")).cast("double") / windowBytes).cast("int")
    media.filter(col("modality") === "audio" && col("content").isNotNull &&
        length(col("content")) > 0)
      .select(col("media_id"), col("content"), n.as("n"))
      .select(col("media_id"), col("content"),
        posexplode(sequence(lit(0), greatest(col("n") - 1, lit(0)))).as(Seq("pos", "win_idx")))
      .select(col("media_id"), col("win_idx"),
        expr(s"crc32(substring(content, win_idx * $windowBytes + 1, $windowBytes))" +
          " / CAST(4294967295 AS DOUBLE)").as("energy"))
  }
}
