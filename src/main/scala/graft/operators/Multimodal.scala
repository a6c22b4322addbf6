package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Multimodal columns at pipeline scale (north-star operator): media
  * payloads ride as opaque `binary` columns with a typed metadata
  * struct; decode / feature-extraction runs as a BATCHED per-partition
  * stage, the Scala analog of `mapInPandas` — one decoder instance and
  * one batch buffer per partition, never per row.
  *
  * The PIXEL decode step is a STUB (this container has no image/audio
  * codecs): [[FakeDecoder]] derives deterministic pseudo-features from
  * the bytes. The Spark-side plumbing — schema, encoder, batching,
  * partition distribution — is the production shape; swapping in a JNI
  * decoder touches only [[MediaDecoder]]. CONTAINER-header decode is
  * real: [[parseImageHeader]]/[[imageHeaders]] read actual PNG IHDR
  * and JPEG SOF0/SOF2 headers (public formats, zero dependencies),
  * quarantining corrupt payloads instead of throwing.
  */
object Multimodal {

  /** Typed media metadata carried next to the payload. */
  val mediaMetaType: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_bytes", LongType)))

  val featureType: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bytes", LongType),
    StructField("checksum", StringType),
    StructField("byte_entropy", DoubleType),
    StructField("histogram", ArrayType(LongType))))

  /** Decoder interface: one instance per partition, batch-in batch-out
    * (the mapInPandas batch contract).
    */
  trait MediaDecoder extends Serializable {
    def decodeBatch(batch: Seq[(Long, Array[Byte])]): Seq[Row]
  }

  /** Deterministic stand-in for a real codec: md5 checksum, 16-bucket
    * byte histogram, byte entropy. Real decode would go here (???-grade
    * stub by design).
    */
  object FakeDecoder extends MediaDecoder {
    def decodeBatch(batch: Seq[(Long, Array[Byte])]): Seq[Row] =
      batch.map { case (id, bytes) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val checksum = md.digest(bytes).map("%02x".format(_)).mkString
        val hist = new Array[Long](16)
        bytes.foreach(b => hist((b & 0xFF) / 16) += 1)
        val n = bytes.length.toDouble
        val entropy = if (n == 0) 0.0 else
          -hist.filter(_ > 0).map { c =>
            val p = c / n; p * math.log(p) / math.log(2)
          }.sum
        Row(id, bytes.length.toLong, checksum, entropy, hist.toSeq)
      }
  }

  /** Batched feature extraction over (idCol: long, payloadCol: binary).
    * Batches of `batchSize` rows per decoder call within each partition —
    * the partition count (not row count) bounds decoder instances.
    */
  def extractFeatures(df: DataFrame, idCol: String, payloadCol: String,
                      decoder: MediaDecoder = FakeDecoder,
                      batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    // NULL id/payload rows are DROPPED (documented): they cannot be
    // decoded or attributed, and one would otherwise NPE the stage —
    // the typed header decoders (ok=false rows) are the
    // quarantine-visible path for malformed-but-present payloads
    val input = df.select(df(idCol).cast("long"), df(payloadCol))
      .filter(df(idCol).isNotNull && df(payloadCol).isNotNull)
    val rdd = input.rdd.mapPartitions { rows =>
      rows.map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
        .grouped(batchSize)
        .flatMap(b => decoder.decodeBatch(b))
    }
    spark.createDataFrame(rdd, featureType)
  }

  // ------------------------------------------------------- frame sampling

  /** Frame extraction contract: payload → (frameIdx, frameBytes) stream.
    * Real video/audio needs a codec behind this seam (same policy as
    * [[MediaDecoder]]); [[FixedSizeFrames]] is the deterministic
    * stand-in that treats the payload as contiguous fixed-size frames.
    */
  trait FrameDecoder extends Serializable {
    def frames(payload: Array[Byte]): Iterator[(Int, Array[Byte])]
  }

  final case class FixedSizeFrames(frameBytes: Int) extends FrameDecoder {
    def frames(payload: Array[Byte]): Iterator[(Int, Array[Byte])] =
      payload.grouped(frameBytes).zipWithIndex.map { case (b, i) => (i, b) }
  }

  val frameType: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("frame_idx", IntegerType),
    StructField("frame", BinaryType)))

  /** Every `everyN`th frame of each payload as its own row — the
    * frame-sampling stage of a video pipeline. Table-generating,
    * per-partition streaming (no payload is ever materialized twice),
    * and the sampled-out frames are dropped before any downstream
    * exchange — at 100 TB the post-sample data volume is 1/everyN of
    * the scan, which is the point.
    */
  def frameSample(df: DataFrame, idCol: String, payloadCol: String,
                  everyN: Int,
                  decoder: FrameDecoder = FixedSizeFrames(256)): DataFrame = {
    require(everyN > 0, s"everyN must be positive, got $everyN")
    val spark = df.sparkSession
    // NULL rows dropped — see extractFeatures
    val input = df.select(df(idCol).cast("long"), df(payloadCol))
      .filter(df(idCol).isNotNull && df(payloadCol).isNotNull)
    val rdd = input.rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        decoder.frames(r.getAs[Array[Byte]](1))
          .filter(_._1 % everyN == 0)
          .map { case (i, b) => Row(r.getLong(0), i, b) }
      }
    }
    spark.createDataFrame(rdd, frameType)
  }

  // -------------------------------------------------------- image headers

  /** Parsed container-header fields of an image payload. */
  final case class ImgHeader(format: String, width: Int, height: Int,
                             bitDepth: Int, channels: Int)

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
      ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) |
      ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)
  // matching writers for the encode side (ImageBytes/AudioBytes/VideoBytes)
  private def u16(v: Int) = Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def u32(v: Long) = Array(((v >> 24) & 0xFF).toByte,
    ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def l16(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
  private def l32(v: Long) = Array((v & 0xFF).toByte,
    ((v >> 8) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
    ((v >> 24) & 0xFF).toByte)

  private val pngSig =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
  private val pngChannels =
    Map(0 -> 1, 2 -> 3, 3 -> 1, 4 -> 2, 6 -> 4)

  /** Pure-Scala parse of the REAL public image container headers — no
    * codec dependency, because only the header is read:
    *  - PNG (RFC 2083): 8-byte signature, then the IHDR chunk (width,
    *    height as BE32; bit depth; color type → channel count).
    *  - JPEG (ITU T.81): marker scan from SOI past tables/APPn segments
    *    to any start-of-frame marker SOF0–SOF15 (excluding DHT/JPG/DAC
    *    which share the 0xC* range) — covers baseline (SOF0) and
    *    progressive (SOF2); frame header carries precision, height,
    *    width, component count.
    *  - GIF (87a/89a): logical screen descriptor — LE16 dims, color
    *    resolution as bit depth, RGB palette → 3 channels.
    *  - BMP (BITMAPINFOHEADER+): signed LE32 dims (top-down height
    *    normalized), bits-per-pixel → palette/truecolor channels.
    * Returns None for anything truncated, corrupt, or none of these —
    * callers quarantine, never throw: at 100 TB some payloads WILL be
    * garbage and one bad row must not kill a stage.
    */
  def parseImageHeader(bytes: Array[Byte]): Option[ImgHeader] = {
    val n = bytes.length
    if (n >= 33 && bytes.take(8).sameElements(pngSig)) {
      // IHDR must be first: length(4) "IHDR"(4) data(13) crc(4)
      val isIhdr = be32(bytes, 8) == 13L &&
        bytes(12) == 'I' && bytes(13) == 'H' &&
        bytes(14) == 'D' && bytes(15) == 'R'
      if (!isIhdr) None
      else {
        val w = be32(bytes, 16)
        val h = be32(bytes, 20)
        val depth = bytes(24) & 0xFF
        val colorType = bytes(25) & 0xFF
        if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue ||
            !Set(1, 2, 4, 8, 16).contains(depth) ||
            !pngChannels.contains(colorType)) None
        else Some(ImgHeader("png", w.toInt, h.toInt, depth,
          pngChannels(colorType)))
      }
    } else if (n >= 13 && bytes(0) == 'G' && bytes(1) == 'I' &&
               bytes(2) == 'F' && bytes(3) == '8' &&
               (bytes(4) == '7' || bytes(4) == '9') && bytes(5) == 'a') {
      // GIF87a/89a logical screen descriptor: LE16 dims, packed byte's
      // bits 4-6 = color resolution − 1; pixels index an RGB palette
      val w = le16(bytes, 6)
      val h = le16(bytes, 8)
      val depth = (((bytes(10) & 0xFF) >> 4) & 7) + 1
      if (w <= 0 || h <= 0) None
      else Some(ImgHeader("gif", w, h, depth, 3))
    } else if (n >= 30 && bytes(0) == 'B' && bytes(1) == 'M') {
      // BMP: BITMAPINFOHEADER (or longer) at offset 14 — signed LE32
      // dims (negative height = top-down), bits-per-pixel at 28
      val dibSize = le32(bytes, 14)
      val w = le32(bytes, 18).toInt
      val h = math.abs(le32(bytes, 22).toInt)
      val bpp = le16(bytes, 28)
      val ch = bpp match {
        case 1 | 4 | 8 => 1 // palette-indexed
        case 16 | 24   => 3
        case 32        => 4
        case _         => 0
      }
      if (dibSize < 40 || w <= 0 || h <= 0 || ch == 0) None
      else Some(ImgHeader("bmp", w, h, bpp, ch))
    } else if (n >= 4 && (bytes(0) & 0xFF) == 0xFF &&
               (bytes(1) & 0xFF) == 0xD8) {
      var i = 2
      while (i + 1 < n) {
        if ((bytes(i) & 0xFF) != 0xFF) return None // lost marker sync
        var j = i + 1
        while (j < n && (bytes(j) & 0xFF) == 0xFF) j += 1 // fill bytes
        if (j >= n) return None
        val marker = bytes(j) & 0xFF
        if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD8)) {
          i = j + 1 // standalone: TEM / RSTn / SOI
        } else if (marker == 0xD9 || marker == 0xDA) {
          return None // EOI or SOS reached without a frame header
        } else {
          if (j + 2 >= n) return None
          val len = be16(bytes, j + 1)
          if (len < 2) return None
          val isSof = marker >= 0xC0 && marker <= 0xCF &&
            marker != 0xC4 && marker != 0xC8 && marker != 0xCC
          if (isSof) {
            if (j + 8 >= n) return None // truncated frame header
            val precision = bytes(j + 3) & 0xFF
            val h = be16(bytes, j + 4)
            val w = be16(bytes, j + 6)
            val nc = bytes(j + 8) & 0xFF
            return if (w <= 0 || h <= 0 || nc <= 0) None
            else Some(ImgHeader("jpeg", w, h, precision, nc))
          }
          i = j + 1 + len
        }
      }
      None
    } else None
  }

  /** Typed output rows for the header decoders: field order and names
    * are the oracle contract (q78/q79/q80); Options surface as
    * nullable columns. Case classes (not Row+schema) so the operators
    * run on a typed `mapPartitions`.
    */
  final case class ImgRow(doc_id: Long, format: Option[String],
                          width: Option[Int], height: Option[Int],
                          bit_depth: Option[Int], channels: Option[Int],
                          ok: Boolean)
  final case class WavRow(doc_id: Long, format: Option[String],
                          channels: Option[Int], sample_rate: Option[Int],
                          bit_depth: Option[Int], n_samples: Option[Long],
                          ok: Boolean)
  final case class Mp4Row(doc_id: Long, format: Option[String],
                          timescale: Option[Int], duration: Option[Long],
                          duration_ms: Option[Long], ok: Boolean)

  /** Container-header fields of (idCol: long, payloadCol: binary) as
    * real columns — batched per partition like [[extractFeatures]]
    * (typed mapPartitions, no `.rdd`).
    * Unparseable payloads are QUARANTINED as (ok=false, null fields)
    * rows, never thrown: filter `ok` downstream, audit `!ok`.
    */
  def imageHeaders(df: DataFrame, idCol: String,
                   payloadCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(df(idCol).cast("long"), df(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        // NULL payloads quarantine like corrupt ones — never throw
        Option(b).flatMap(parseImageHeader) match {
          case Some(hd) => ImgRow(id, Some(hd.format), Some(hd.width),
            Some(hd.height), Some(hd.bitDepth), Some(hd.channels),
            ok = true)
          case None => ImgRow(id, None, None, None, None, None, ok = false)
        }
      }).toDF()
  }

  /** Minimal VALID image payloads (the encode side of the public
    * formats above) — real signatures, chunk CRCs, marker segments; a
    * header-reading tool accepts them. Used by the oracle fixture
    * (encode→parse round-trip) and anywhere a placeholder payload must
    * still be format-valid.
    */
  object ImageBytes {

    /** PNG with a correct IHDR (+CRC) and an IEND chunk. */
    def png(w: Int, h: Int, bitDepth: Int = 8, colorType: Int = 2): Array[Byte] = {
      val ihdrData = "IHDR".getBytes("US-ASCII") ++ u32(w) ++ u32(h) ++
        Array(bitDepth.toByte, colorType.toByte, 0.toByte, 0.toByte, 0.toByte)
      val crc = new java.util.zip.CRC32
      crc.update(ihdrData)
      val iendType = "IEND".getBytes("US-ASCII")
      val iendCrc = new java.util.zip.CRC32
      iendCrc.update(iendType)
      pngSig ++ u32(13) ++ ihdrData ++ u32(crc.getValue) ++
        u32(0) ++ iendType ++ u32(iendCrc.getValue)
    }

    /** JPEG: SOI, JFIF APP0, SOF0 (baseline) or SOF2 (progressive)
      * frame header, EOI.
      */
    def jpeg(w: Int, h: Int, channels: Int = 3,
             progressive: Boolean = false): Array[Byte] = {
      val soi = Array(0xFF.toByte, 0xD8.toByte)
      val app0 = Array(0xFF.toByte, 0xE0.toByte) ++ u16(16) ++
        "JFIF".getBytes("US-ASCII") ++
        Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0)
      val sofMarker = if (progressive) 0xC2 else 0xC0
      val comps = (1 to channels).flatMap(c =>
        Seq(c.toByte, 0x11.toByte, 0.toByte)).toArray
      val sof = Array(0xFF.toByte, sofMarker.toByte) ++
        u16(8 + 3 * channels) ++ Array(8.toByte) ++ u16(h) ++ u16(w) ++
        Array(channels.toByte) ++ comps
      val eoi = Array(0xFF.toByte, 0xD9.toByte)
      soi ++ app0 ++ sof ++ eoi
    }

    /** GIF89a: header + logical screen descriptor (color resolution 8)
      * + trailer.
      */
    def gif(w: Int, h: Int): Array[Byte] =
      "GIF89a".getBytes("US-ASCII") ++ l16(w) ++ l16(h) ++
        Array(0x70.toByte /* color resolution 8, no GCT */,
          0.toByte, 0.toByte) ++ Array(0x3B.toByte /* trailer */)

    /** BMP: BITMAPFILEHEADER + BITMAPINFOHEADER, no pixel data. */
    def bmp(w: Int, h: Int, bitCount: Int = 24): Array[Byte] =
      "BM".getBytes("US-ASCII") ++ l32(54) ++ l16(0) ++ l16(0) ++
        l32(54) ++ // pixel data offset
        l32(40) ++ l32(w.toLong) ++ l32(h.toLong) ++ l16(1) ++
        l16(bitCount) ++ l32(0) ++ l32(0) ++ l32(2835) ++ l32(2835) ++
        l32(0) ++ l32(0)

    /** COMPLETE PNG (depth-8, non-interlaced) with REAL pixel data:
      * scanlines carry filter type `y % 5` — every one of the five
      * standard filters (None/Sub/Up/Average/Paeth) is applied for
      * images with ≥ 5 rows — then zlib-deflate into one IDAT, all
      * chunk CRCs correct. `pixel(x, y, c)` supplies each sample
      * (masked to [0,256)). The encode side of [[parsePngPixels]]'s
      * round-trip fixture (q106).
      */
    def pngFull(w: Int, h: Int, channels: Int,
                pixel: (Int, Int, Int) => Int): Array[Byte] = {
      require(w > 0 && h > 0, s"dims must be positive, got ${w}x$h")
      val colorType = channels match {
        case 1 => 0; case 2 => 4; case 3 => 2; case 4 => 6
        case _ => throw new IllegalArgumentException(
          s"channels must be 1/2/3/4, got $channels")
      }
      val stride = 1 + w * channels
      val raw = new Array[Byte](h * stride)
      val prior = new Array[Int](w * channels)
      val cur = new Array[Int](w * channels)
      var y = 0
      while (y < h) {
        var k = 0
        while (k < w * channels) {
          cur(k) = pixel(k / channels, y, k % channels) & 0xFF
          k += 1
        }
        val ft = y % 5
        raw(y * stride) = ft.toByte
        k = 0
        while (k < w * channels) {
          val a = if (k >= channels) cur(k - channels) else 0
          val b = prior(k)
          val c = if (k >= channels) prior(k - channels) else 0
          val x = cur(k)
          val f = ft match {
            case 0 => x
            case 1 => x - a
            case 2 => x - b
            case 3 => x - ((a + b) >> 1)
            case _ =>
              val p = a + b - c
              val pa = math.abs(p - a)
              val pb = math.abs(p - b)
              val pc = math.abs(p - c)
              x - (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          }
          raw(y * stride + 1 + k) = (f & 0xFF).toByte
          k += 1
        }
        System.arraycopy(cur, 0, prior, 0, prior.length)
        y += 1
      }
      val defl = new java.util.zip.Deflater()
      defl.setInput(raw); defl.finish()
      val buf = new Array[Byte](math.max(64, raw.length + 64))
      val bos = new java.io.ByteArrayOutputStream()
      while (!defl.finished()) bos.write(buf, 0, defl.deflate(buf))
      defl.end()
      def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
        val td = typ.getBytes("US-ASCII") ++ data
        val crc = new java.util.zip.CRC32
        crc.update(td)
        u32(data.length.toLong) ++ td ++ u32(crc.getValue)
      }
      val ihdr = u32(w.toLong) ++ u32(h.toLong) ++
        Array(8.toByte, colorType.toByte, 0.toByte, 0.toByte, 0.toByte)
      pngSig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", bos.toByteArray) ++
        chunk("IEND", Array.emptyByteArray)
    }
  }

  // ---------------------------------------------------- PNG pixel decode

  /** Exact pixel statistics of a fully decoded PNG: per-channel and
    * whole-image sample sums/sum-of-squares as EXACT LONGS (every
    * sample is an int in [0,255], so a 2⁵³ overflow needs ≥ 10¹⁰
    * pixels — excluded by `maxPixels`), min/max sample values.
    */
  final case class PngStats(width: Int, height: Int, channels: Int,
                            nPx: Long, sumV: Long, sumSqV: Long,
                            minV: Int, maxV: Int,
                            chSum: Seq[Long], chSumSq: Seq[Long]) {
    /** Every sample 0 — the standard broken-capture filter. */
    def allBlack: Boolean = maxV == 0
    /** Every sample 255 — the standard overexposed/blank filter. */
    def allWhite: Boolean = minV == 255
  }

  /** REAL PNG pixel decode, dependency-free (JDK `Inflater` — zlib is
    * in the JDK; no codec library needed): chunk walk with CRC
    * verification, IDAT concatenation, inflate to exactly
    * `h·(1 + w·channels)` bytes, per-scanline DEFILTER (all five
    * standard filters incl. the Paeth predictor), and one accumulation
    * pass for the statistics — pixels are never materialized beyond
    * two scanlines, so memory is O(w·channels) regardless of height.
    *
    * Supported subset (everything else QUARANTINES as None, the
    * [[parseImageHeader]] never-throw contract): bit depth 8, color
    * types 0/2/4/6 (gray, RGB, gray+alpha, RGBA — palette needs PLTE
    * handling), non-interlaced. Adversarial-size hardening: declared
    * dims are validated against `maxPixels` BEFORE any allocation, so
    * a forged IHDR claiming 10⁹×10⁹ cannot OOM an executor; truncated
    * or trailing-garbage zlib streams, bad CRCs, and short chunks all
    * quarantine.
    */
  def parsePngPixels(bytes: Array[Byte],
                     maxPixels: Long = 1L << 24): Option[PngStats] = {
    var chSum: Array[Long] = null
    var chSumSq: Array[Long] = null
    var minV = 255; var maxV = 0
    decodePngRows(bytes, maxPixels) { (_, cur, _, _, channels) =>
      if (chSum == null) {
        chSum = new Array[Long](channels)
        chSumSq = new Array[Long](channels)
      }
      var k = 0
      while (k < cur.length) {
        val rec = cur(k)
        val ch = k % channels
        chSum(ch) += rec
        chSumSq(ch) += rec.toLong * rec
        if (rec < minV) minV = rec
        if (rec > maxV) maxV = rec
        k += 1
      }
    }.map { case (w, h, channels) =>
      if (chSum == null) { // h = 0 is rejected upstream; guard anyway
        chSum = new Array[Long](channels)
        chSumSq = new Array[Long](channels)
      }
      PngStats(w, h, channels, w.toLong * h, chSum.sum, chSumSq.sum,
        minV, maxV, chSum.toSeq, chSumSq.toSeq)
    }
  }

  /** The shared streaming PNG decode walk behind [[parsePngPixels]]
    * and [[parsePngDHash]]: chunk walk + CRC, inflate, per-scanline
    * defilter; `onRow(y, recon, w, h, channels)` fires once per
    * scanline with the RECONSTRUCTED samples (length w·channels; the
    * buffer is REUSED — consumers must copy anything they keep).
    * Returns (w, h, channels) on success, None on any corruption
    * (the never-throw quarantine contract documented on
    * [[parsePngPixels]]).
    */
  private def decodePngRows(bytes: Array[Byte], maxPixels: Long)(
      onRow: (Int, Array[Int], Int, Int, Int) => Unit)
      : Option[(Int, Int, Int)] = {
    val n = bytes.length
    if (n < 8 || !bytes.take(8).sameElements(pngSig)) return None
    var i = 8
    var wL = -1L; var hL = -1L; var depth = -1; var colorType = -1
    var seenIhdr = false; var seenIend = false
    val idat = new java.io.ByteArrayOutputStream()
    while (i + 12 <= n && !seenIend) {
      val len = be32(bytes, i)
      if (len > Int.MaxValue - 12 || i + 12 + len > n) return None
      val li = len.toInt
      val typ = new String(bytes, i + 4, 4, "US-ASCII")
      val crc = new java.util.zip.CRC32
      crc.update(bytes, i + 4, 4 + li)
      if (crc.getValue != be32(bytes, i + 8 + li)) return None
      typ match {
        case "IHDR" =>
          if (li != 13 || seenIhdr) return None
          seenIhdr = true
          wL = be32(bytes, i + 8)
          hL = be32(bytes, i + 12)
          depth = bytes(i + 16) & 0xFF
          colorType = bytes(i + 17) & 0xFF
          val compression = bytes(i + 18) & 0xFF
          val filterMethod = bytes(i + 19) & 0xFF
          val interlace = bytes(i + 20) & 0xFF
          if (compression != 0 || filterMethod != 0 || interlace != 0)
            return None // Adam7 / nonstandard: outside the subset
        case "IDAT" => idat.write(bytes, i + 8, li)
        case "IEND" => if (li != 0) return None else seenIend = true
        case _      => () // ancillary chunks skipped (CRC still checked)
      }
      i += 12 + li
    }
    if (!seenIhdr || !seenIend) return None
    if (depth != 8 || !pngChannels.contains(colorType) || colorType == 3)
      return None // palette (3) needs PLTE; 1/2/4/16-bit need unpacking
    // size guard BEFORE allocation — the forged-IHDR OOM hardening.
    // Each factor is bounded BEFORE the product: be32 dims reach
    // 2^32−1, whose product overflows Long to NEGATIVE and would
    // slide under a bare product check, then crash the allocation —
    // violating the never-throw contract
    if (wL <= 0 || hL <= 0 || wL > Int.MaxValue || hL > Int.MaxValue ||
        wL > maxPixels || hL > maxPixels ||
        wL * hL > maxPixels) return None
    val w = wL.toInt; val h = hL.toInt
    val channels = pngChannels(colorType)
    val rowBytes = w * channels
    val stride = 1L + rowBytes
    val total = hL * stride
    if (total > Int.MaxValue - 16) return None
    val raw = new Array[Byte](total.toInt)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    try {
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val got = inf.inflate(raw, off, raw.length - off)
        if (got == 0 && (inf.needsInput() || inf.needsDictionary()))
          return None // truncated stream / preset dictionary
        off += got
      }
      if (off < raw.length) return None // stream ended short
      // stream must END at the declared pixel count — trailing
      // uncompressed surplus means the dims lie about the payload
      val probe = new Array[Byte](1)
      if (!inf.finished() && inf.inflate(probe) > 0) return None
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.end()

    val prior = new Array[Int](rowBytes)
    val cur = new Array[Int](rowBytes)
    var y = 0
    while (y < h) {
      val rowOff = y * stride.toInt
      val ft = raw(rowOff) & 0xFF
      if (ft > 4) return None
      var k = 0
      while (k < rowBytes) {
        val x = raw(rowOff + 1 + k) & 0xFF
        val a = if (k >= channels) cur(k - channels) else 0
        val b = prior(k)
        val rec = ft match {
          case 0 => x
          case 1 => (x + a) & 0xFF
          case 2 => (x + b) & 0xFF
          case 3 => (x + ((a + b) >> 1)) & 0xFF
          case _ =>
            val c = if (k >= channels) prior(k - channels) else 0
            val p = a + b - c
            val pa = math.abs(p - a)
            val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            val pred =
              if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
            (x + pred) & 0xFF
        }
        cur(k) = rec
        k += 1
      }
      onRow(y, cur, w, h, channels)
      System.arraycopy(cur, 0, prior, 0, rowBytes)
      y += 1
    }
    Some((w, h, channels))
  }

  /** Typed output row for [[pngPixelStats]]: scalar stats (the q106
    * oracle columns) plus the per-channel arrays (spec-verified; the
    * mean/variance-per-channel quality filters derive from them).
    */
  final case class PngPxRow(doc_id: Long, width: Option[Int],
                            height: Option[Int], channels: Option[Int],
                            n_px: Option[Long], sum_v: Option[Long],
                            sumsq_v: Option[Long], min_v: Option[Int],
                            max_v: Option[Int],
                            all_black: Option[Boolean],
                            all_white: Option[Boolean],
                            ch_sum: Option[Seq[Long]],
                            ch_sumsq: Option[Seq[Long]],
                            ok: Boolean)

  /** PNG pixel statistics of (idCol: long, payloadCol: binary) as real
    * columns — the decoded-pixel quality-filter stage (mean/variance
    * per channel, all-black/all-white detection) of a multimodal
    * corpus pipeline. Same execution contract as [[imageHeaders]]:
    * typed `mapPartitions`, linear scan, corrupt /
    * unsupported / NULL payloads QUARANTINED as ok=false rows, never
    * thrown; decode memory is O(width·channels) per task regardless of
    * image height, and `maxPixels` bounds the per-payload work.
    */
  def pngPixelStats(df: DataFrame, idCol: String, payloadCol: String,
                    maxPixels: Long = 1L << 24): DataFrame = {
    import df.sparkSession.implicits._
    df.select(df(idCol).cast("long"), df(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        Option(b).flatMap(parsePngPixels(_, maxPixels)) match {
          case Some(st) => PngPxRow(id, Some(st.width), Some(st.height),
            Some(st.channels), Some(st.nPx), Some(st.sumV),
            Some(st.sumSqV), Some(st.minV), Some(st.maxV),
            Some(st.allBlack), Some(st.allWhite),
            Some(st.chSum), Some(st.chSumSq), ok = true)
          case None => PngPxRow(id, None, None, None, None, None, None,
            None, None, None, None, None, None, ok = false)
        }
      }).toDF()
  }

  /** Perceptual difference hash (dHash, the classic 64-bit
    * image-near-dup signature): sample the decoded image on a 9×8
    * luma grid (nearest-neighbor, exact integer coordinates
    * x=⌊i·w/9⌋, y=⌊j·h/8⌋), set bit j·8+i iff grid(i+1,j) >
    * grid(i,j) — the hash encodes horizontal GRADIENT signs, so it is
    * invariant to uniform brightness/contrast changes and degrades by
    * a few bits under noise/recompression, making Hamming distance a
    * near-dup metric ([[graft.operators.Dedup.simhashPairs]] bands it
    * directly — same 64-bit signature contract as SimHash). Luma is
    * integer Rec.601: (299·R + 587·G + 114·B) div 1000 (gray channels
    * replicate; alpha ignored). Exact integer end to end — any engine
    * replays it (q153's oracle). Decode is the [[parsePngPixels]]
    * streaming walk: only the 8 sampled scanlines are ever inspected,
    * memory stays O(w·channels).
    */
  def parsePngDHash(bytes: Array[Byte],
                    maxPixels: Long = 1L << 24): Option[(Int, Int, Long)] = {
    val grid = Array.ofDim[Int](8, 9)
    decodePngRows(bytes, maxPixels) { (y, cur, w, h, channels) =>
      var j = 0
      while (j < 8) {
        if ((j.toLong * h / 8).toInt == y) {
          var i = 0
          while (i < 9) {
            val x = (i.toLong * w / 9).toInt
            val o = x * channels
            val (r, g, b) = channels match {
              case 1 | 2 => (cur(o), cur(o), cur(o)) // gray(+alpha)
              case _     => (cur(o), cur(o + 1), cur(o + 2))
            }
            grid(j)(i) = (299 * r + 587 * g + 114 * b) / 1000
            i += 1
          }
        }
        j += 1
      }
    }.map { case (w, h, _) =>
      var hash = 0L
      var j = 0
      while (j < 8) {
        var i = 0
        while (i < 8) {
          if (grid(j)(i + 1) > grid(j)(i)) hash |= 1L << (j * 8 + i)
          i += 1
        }
        j += 1
      }
      (w, h, hash)
    }
  }

  /** Letterbox/pillarbox border detection over decoded pixels — the
    * image-quality screen for padded captures, black bars, and
    * screenshot chrome: counts of consecutive UNIFORM scanlines from
    * the top and bottom edges (every sample in the row equal) and of
    * consecutive uniform COLUMNS from the left and right edges
    * (constant down the whole image). One streaming pass piggybacked
    * on the scanline walk: row uniformity is a per-row min==max check,
    * column uniformity folds an O(width) candidate-value array —
    * memory stays O(width·channels), pixels are never buffered.
    * Returns (width, height, topRows, bottomRows, leftCols,
    * rightCols); an entirely-uniform image reports full-height
    * top/bottom runs (and full-width left/right).
    */
  def parsePngBorders(bytes: Array[Byte],
                      maxPixels: Long = 1L << 24)
      : Option[(Int, Int, Long, Long, Long, Long)] = {
    var topRun = 0L; var trailRun = 0L; var allTop = true
    var colVal: Array[Int] = null
    var colUni: Array[Boolean] = null
    decodePngRows(bytes, maxPixels) { (_, cur, w, _, channels) =>
      if (colVal == null) {
        colVal = new Array[Int](w)
        colUni = Array.fill(w)(true)
        var x = 0
        while (x < w) { colVal(x) = cur(x * channels); x += 1 }
      }
      var mn = Int.MaxValue; var mx = Int.MinValue
      var k = 0
      while (k < cur.length) {
        val v = cur(k)
        if (v < mn) mn = v
        if (v > mx) mx = v
        k += 1
      }
      val uniform = mn == mx
      if (uniform && allTop) topRun += 1 else allTop = false
      if (uniform) trailRun += 1 else trailRun = 0
      // a column is border-uniform iff every sample in it equals its
      // first-row value (all channels)
      var x = 0
      while (x < w) {
        if (colUni(x)) {
          var c = 0
          var ok = true
          while (c < channels && ok) {
            ok = cur(x * channels + c) == colVal(x)
            c += 1
          }
          if (!ok) colUni(x) = false
        }
        x += 1
      }
    }.map { case (w, h, _) =>
      var left = 0L
      while (left < w && colUni(left.toInt)) left += 1
      var right = 0L
      while (right < w - left && colUni((w - 1 - right).toInt))
        right += 1
      (w, h, topRun, trailRun, left, right)
    }
  }

  /** Typed output row for [[pngBorders]]. */
  final case class BorderRow(doc_id: Long, width: Option[Int],
                             height: Option[Int], top_rows: Option[Long],
                             bottom_rows: Option[Long],
                             left_cols: Option[Long],
                             right_cols: Option[Long], ok: Boolean)

  /** [[parsePngBorders]] of (idCol: long, payloadCol: binary) as real
    * columns; same quarantine/mapPartitions contract as
    * [[pngPixelStats]].
    */
  def pngBorders(df: DataFrame, idCol: String, payloadCol: String,
                 maxPixels: Long = 1L << 24): DataFrame = {
    import df.sparkSession.implicits._
    df.select(df(idCol).cast("long"), df(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        Option(b).flatMap(parsePngBorders(_, maxPixels)) match {
          case Some((w, h, t, bo, l, r)) => BorderRow(id, Some(w),
            Some(h), Some(t), Some(bo), Some(l), Some(r), ok = true)
          case None =>
            BorderRow(id, None, None, None, None, None, None, ok = false)
        }
      }).toDF()
  }

  /** Typed output row for [[pngDHash]]. */
  final case class DHashRow(doc_id: Long, width: Option[Int],
                            height: Option[Int], dhash: Option[Long],
                            ok: Boolean)

  /** dHash of (idCol: long, payloadCol: binary) as real columns — the
    * image-near-dup signature stage of a multimodal corpus pipeline.
    * Same execution contract as [[pngPixelStats]] (typed
    * `mapPartitions`, corrupt payloads quarantine as
    * ok=false). Feed the `dhash` column to
    * [[graft.operators.Dedup.simhashPairs]] for banded
    * Hamming-distance pair generation: visually identical or
    * near-identical images collide at distance ≲ 10 regardless of
    * uniform brightness shifts.
    */
  def pngDHash(df: DataFrame, idCol: String, payloadCol: String,
               maxPixels: Long = 1L << 24): DataFrame = {
    import df.sparkSession.implicits._
    df.select(df(idCol).cast("long"), df(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        Option(b).flatMap(parsePngDHash(_, maxPixels)) match {
          case Some((w, h, hash)) =>
            DHashRow(id, Some(w), Some(h), Some(hash), ok = true)
          case None => DHashRow(id, None, None, None, ok = false)
        }
      }).toDF()
  }

  // -------------------------------------------------------- audio headers

  /** Parsed WAV (RIFF/WAVE, the PCM container) header fields.
    * `nSamples` = data-chunk frames when a data chunk is present.
    */
  final case class WavHeader(channels: Int, sampleRate: Int, bitDepth: Int,
                             nSamples: Option[Long])

  /** Pure-Scala parse of the WAV container header (RIFF chunk walk to
    * `fmt ` for channels / sample rate / bit depth, plus the `data`
    * chunk size → frame count). Same quarantine contract as
    * [[parseImageHeader]]: None for truncated/corrupt/non-WAV bytes.
    */
  def parseWavHeader(bytes: Array[Byte]): Option[WavHeader] = {
    val n = bytes.length
    def tag(i: Int) = new String(bytes, i, 4, "US-ASCII")
    if (n < 12 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    // Long cursor: a declared chunk size near Int.MaxValue must step
    // the cursor past n and END the walk, not overflow Int into a
    // negative index (the quarantine contract says never throw)
    var i = 12L
    var fmt: Option[(Int, Int, Int, Int)] = None // ch, rate, block, bits
    var dataSize: Option[Long] = None
    while (i + 8 <= n) {
      val at = i.toInt
      val id = tag(at)
      val size = le32(bytes, at + 4)
      if (size < 0) return None
      if (id == "fmt ") {
        if (size < 16 || i + 8 + 16 > n) return None
        fmt = Some((le16(bytes, at + 10), le32(bytes, at + 12).toInt,
          le16(bytes, at + 20), le16(bytes, at + 22)))
      } else if (id == "data") {
        // a declared data size overrunning the payload is a TRUNCATED
        // file: trusting it would report phantom frame counts with
        // ok=true (parseWavPcm's own quarantine rule, applied here)
        if (i + 8 + size > n) return None
        dataSize = Some(size)
      }
      i += 8L + size + (size & 1L) // chunks pad to even
    }
    fmt.flatMap { case (ch, rate, block, bits) =>
      if (ch <= 0 || rate <= 0 || !Set(8, 16, 24, 32).contains(bits))
        None
      else Some(WavHeader(ch, rate, bits,
        dataSize.filter(_ => block > 0).map(_ / block)))
    }
  }

  /** WAV header fields of (idCol: long, payloadCol: binary) as real
    * columns, corrupt rows quarantined as ok=false — the audio twin of
    * [[imageHeaders]].
    */
  def audioHeaders(df: DataFrame, idCol: String,
                   payloadCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(df(idCol).cast("long"), df(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        Option(b).flatMap(parseWavHeader) match {
          case Some(hd) => WavRow(id, Some("wav"), Some(hd.channels),
            Some(hd.sampleRate), Some(hd.bitDepth), hd.nSamples,
            ok = true)
          case None => WavRow(id, None, None, None, None, None, ok = false)
        }
      }).toDF()
  }

  /** Minimal valid PCM WAV bytes (the encode side of
    * [[parseWavHeader]]): RIFF/WAVE with a correct `fmt ` chunk and a
    * zero-filled `data` chunk of `nSamples` frames.
    */
  object AudioBytes {

    def wav(channels: Int, sampleRate: Int, bits: Int,
            nSamples: Long): Array[Byte] = {
      val block = channels * (bits / 8)
      val dataLen = nSamples * block
      val fmt = "fmt ".getBytes("US-ASCII") ++ l32(16) ++
        l16(1 /* PCM */) ++ l16(channels) ++ l32(sampleRate.toLong) ++
        l32(sampleRate.toLong * block) ++ l16(block) ++ l16(bits)
      val data = "data".getBytes("US-ASCII") ++ l32(dataLen) ++
        new Array[Byte](dataLen.toInt)
      "RIFF".getBytes("US-ASCII") ++ l32(4 + fmt.length + data.length) ++
        "WAVE".getBytes("US-ASCII") ++ fmt ++ data
    }

    /** COMPLETE 16-bit PCM WAV with real sample data (the encode side
      * of [[parseWavPcm]]): `sample(frame, ch)` must return a value in
      * [−32768, 32767], written little-endian interleaved — the actual
      * on-disk PCM layout, so the decoder's byte walk is exercised for
      * real, not against zero-fill.
      */
    def wavPcm(channels: Int, sampleRate: Int, nFrames: Int,
               sample: (Int, Int) => Int): Array[Byte] = {
      val block = channels * 2
      val data = new Array[Byte](nFrames * block)
      var f = 0
      while (f < nFrames) {
        var c = 0
        while (c < channels) {
          val v = sample(f, c)
          require(v >= -32768 && v <= 32767, s"sample out of int16: $v")
          val at = f * block + c * 2
          data(at) = (v & 0xFF).toByte
          data(at + 1) = ((v >> 8) & 0xFF).toByte
          c += 1
        }
        f += 1
      }
      val fmt = "fmt ".getBytes("US-ASCII") ++ l32(16) ++
        l16(1) ++ l16(channels) ++ l32(sampleRate.toLong) ++
        l32(sampleRate.toLong * block) ++ l16(block) ++ l16(16)
      val dataC = "data".getBytes("US-ASCII") ++ l32(data.length.toLong) ++
        data
      "RIFF".getBytes("US-ASCII") ++ l32(4 + fmt.length + dataC.length) ++
        "WAVE".getBytes("US-ASCII") ++ fmt ++ dataC
    }
  }

  /** Exact-integer PCM sample statistics of one decoded WAV.
    * `nSamples` counts individual sample VALUES (frames × channels);
    * `nClipped` counts full-scale samples (±32767/−32768), the
    * standard clipping-detection corpus filter.
    */
  final case class WavPcmStats(channels: Int, sampleRate: Int,
                               nSamples: Long, sumS: Long, sumSqS: Long,
                               minS: Int, maxS: Int, nClipped: Long)

  /** REAL 16-bit PCM decode, dependency-free: RIFF walk to `fmt ` and
    * `data`, then one linear pass over the little-endian interleaved
    * samples accumulating exact-long statistics — the audio member of
    * the real-decode family ([[parsePngPixels]] for images). Nothing
    * is materialized beyond the accumulator, so memory is O(1)
    * regardless of duration.
    *
    * Quarantines (None, the never-throw contract): non-WAV bytes, a
    * missing/short `fmt `, non-PCM format tags, bit depths other than
    * 16, a declared `data` size that overruns the payload (truncated
    * file — partial stats would silently misreport, so none are
    * returned), zero-length data, or more than `maxSamples` samples
    * (adversarial-size hardening: checked BEFORE the pass).
    */
  def parseWavPcm(bytes: Array[Byte],
                  maxSamples: Long = 1L << 28): Option[WavPcmStats] = {
    wavPcmDataChunk(bytes, maxSamples).map { case (ch, rate, off, count) =>
      var k = 0L
      var sum = 0L; var sumSq = 0L; var clipped = 0L
      var mn = Int.MaxValue; var mx = Int.MinValue
      while (k < count) {
        val v = pcm16(bytes, off, k)
        sum += v; sumSq += v.toLong * v
        if (v < mn) mn = v
        if (v > mx) mx = v
        if (v == 32767 || v == -32768) clipped += 1
        k += 1
      }
      WavPcmStats(ch, rate, count, sum, sumSq, mn, mx, clipped)
    }
  }

  /** Little-endian signed int16 sample `k` of a PCM data chunk. */
  private def pcm16(bytes: Array[Byte], off: Int, k: Long): Int = {
    val at = (off + 2 * k).toInt
    ((bytes(at) & 0xFF) | (bytes(at + 1) << 8)).toShort.toInt
  }

  /** The shared RIFF walk behind [[parseWavPcm]] and
    * [[parseWavEnvelopeHash]]: validates the container (16-bit PCM
    * only) and returns (channels, sampleRate, dataOffset,
    * sampleCount); None quarantines per the never-throw contract.
    */
  private def wavPcmDataChunk(bytes: Array[Byte], maxSamples: Long)
      : Option[(Int, Int, Int, Long)] = {
    val n = bytes.length
    def tag(i: Int) = new String(bytes, i, 4, "US-ASCII")
    if (n < 12 || tag(0) != "RIFF" || tag(8) != "WAVE") return None
    var i = 12L
    var fmt: Option[(Int, Int, Int, Int, Int)] = None
    var data: Option[(Int, Long)] = None // (offset, size)
    while (i + 8 <= n) {
      val at = i.toInt
      val id = tag(at)
      val size = le32(bytes, at + 4)
      if (size < 0) return None
      if (id == "fmt ") {
        if (size < 16 || i + 8 + 16 > n) return None
        fmt = Some((le16(bytes, at + 8), le16(bytes, at + 10),
          le32(bytes, at + 12).toInt, le16(bytes, at + 20),
          le16(bytes, at + 22)))
      } else if (id == "data") data = Some((at + 8, size))
      i += 8L + size + (size & 1L)
    }
    (fmt, data) match {
      case (Some((audioFmt, ch, rate, block, bits)), Some((off, size))) =>
        if (audioFmt != 1 || bits != 16 || ch <= 0 || rate <= 0 ||
            block != ch * 2) return None
        if (off + size > n || size == 0 || size % 2 != 0) return None
        val count = size / 2
        if (count > maxSamples) return None
        Some((ch, rate, off, count))
      case _ => None
    }
  }

  final case class WavPcmRow(doc_id: Long, channels: Option[Int],
                             sample_rate: Option[Int],
                             n_samples: Option[Long], sum_s: Option[Long],
                             sumsq_s: Option[Long], min_s: Option[Int],
                             max_s: Option[Int], n_clipped: Option[Long],
                             ok: Boolean)

  /** PCM sample statistics of (idCol: long, payloadCol: binary) as
    * real columns, corrupt rows quarantined as ok=false — the audio
    * twin of [[pngPixelStats]] (typed mapPartitions: linear scan,
    * no decoded samples ever leave the accumulator).
    */
  def wavPcmStats(df: DataFrame, idCol: String, payloadCol: String,
                  maxSamples: Long = 1L << 28): DataFrame = {
    import df.sparkSession.implicits._
    df.select(df(idCol).cast("long"), df(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        Option(b).flatMap(parseWavPcm(_, maxSamples)) match {
          case Some(st) => WavPcmRow(id, Some(st.channels),
            Some(st.sampleRate), Some(st.nSamples), Some(st.sumS),
            Some(st.sumSqS), Some(st.minS), Some(st.maxS),
            Some(st.nClipped), ok = true)
          case None => WavPcmRow(id, None, None, None, None, None, None,
            None, None, ok = false)
        }
      }).toDF()
  }

  /** Audio energy-envelope hash — the PCM twin of [[parsePngDHash]]:
    * sum |sample| over 65 equal time windows (sample of frame f lands
    * in window ⌊f·65/nFrames⌋ — exact integer assignment), set bit b
    * iff window b+1's MEAN energy exceeds window b's (compared
    * cross-multiplied, env(b+1)·n(b) > env(b)·n(b+1), so unequal
    * window sizes never need a division). The 64-bit signature
    * encodes the loudness-gradient shape: invariant to exact gain
    * scaling (both sides of every comparison scale together), a few
    * bits under noise — Hamming distance is an audio near-dup metric
    * and the signature feeds [[graft.operators.Dedup.simhashPairs]]
    * directly, like the image dHash. Exact integers end to end
    * (comparison products ride BigInt here, HUGEINT in q154's
    * oracle). Empty windows (fewer frames than windows) contribute
    * (0, 0) and compare false — deterministic, engine-portable.
    * Returns (channels, nFrames, hash).
    */
  def parseWavEnvelopeHash(bytes: Array[Byte],
                           maxSamples: Long = 1L << 28)
      : Option[(Int, Long, Long)] = {
    wavPcmDataChunk(bytes, maxSamples).map { case (ch, _, off, count) =>
      val nFrames = (count + ch - 1) / ch
      val env = new Array[Long](65)
      val cnt = new Array[Long](65)
      var k = 0L
      while (k < count) {
        val b = (((k / ch) * 65) / nFrames).toInt
        env(b) += math.abs(pcm16(bytes, off, k).toLong)
        cnt(b) += 1
        k += 1
      }
      var hash = 0L
      var b = 0
      while (b < 64) {
        if (BigInt(env(b + 1)) * cnt(b) > BigInt(env(b)) * cnt(b + 1))
          hash |= 1L << b
        b += 1
      }
      (ch, nFrames, hash)
    }
  }

  /** Silence-run analysis of 16-bit PCM audio — the audio-quality
    * screen (dead air, failed captures, padded recordings): a frame
    * is SILENT when its peak |sample| across channels is below
    * `threshold`; maximal runs of ≥ `minRunFrames` consecutive silent
    * frames are counted. Returns (nRuns, longestRun, silentFrames —
    * frames inside qualifying runs). One linear pass, O(1) state —
    * runs are inherently sequential, which is exactly why this lives
    * in the decoder walk and not in column algebra (the relational
    * replay needs a gaps-and-islands window — q160's oracle).
    */
  def parseWavSilenceRuns(bytes: Array[Byte], threshold: Int,
                          minRunFrames: Long,
                          maxSamples: Long = 1L << 28)
      : Option[(Long, Long, Long)] = {
    require(threshold > 0, s"threshold must be positive, got $threshold")
    require(minRunFrames >= 1,
      s"minRunFrames must be >= 1, got $minRunFrames")
    wavPcmDataChunk(bytes, maxSamples).map { case (ch, _, off, count) =>
      val nFrames = (count + ch - 1) / ch
      var nRuns = 0L; var longest = 0L; var silentTotal = 0L
      var run = 0L
      def closeRun(): Unit = {
        if (run >= minRunFrames) {
          nRuns += 1; silentTotal += run
          if (run > longest) longest = run
        }
        run = 0L
      }
      var f = 0L
      while (f < nFrames) {
        var peak = 0
        var c = 0
        while (c < ch && f * ch + c < count) {
          val v = math.abs(pcm16(bytes, off, f * ch + c))
          if (v > peak) peak = v
          c += 1
        }
        if (peak < threshold) run += 1 else closeRun()
        f += 1
      }
      closeRun()
      (nRuns, longest, silentTotal)
    }
  }

  /** Typed output row for [[wavSilenceRuns]]. */
  final case class SilenceRow(doc_id: Long, n_runs: Option[Long],
                              longest_run: Option[Long],
                              n_silent_frames: Option[Long], ok: Boolean)

  /** [[parseWavSilenceRuns]] of (idCol: long, payloadCol: binary) as
    * real columns; same quarantine/mapPartitions contract as
    * [[wavPcmStats]].
    */
  def wavSilenceRuns(df: DataFrame, idCol: String, payloadCol: String,
                     threshold: Int, minRunFrames: Long,
                     maxSamples: Long = 1L << 28): DataFrame = {
    import df.sparkSession.implicits._
    df.select(df(idCol).cast("long"), df(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        Option(b).flatMap(
          parseWavSilenceRuns(_, threshold, minRunFrames, maxSamples))
        match {
          case Some((n, lg, tot)) =>
            SilenceRow(id, Some(n), Some(lg), Some(tot), ok = true)
          case None => SilenceRow(id, None, None, None, ok = false)
        }
      }).toDF()
  }

  /** Typed output row for [[wavEnvelopeHash]]. */
  final case class EnvHashRow(doc_id: Long, channels: Option[Int],
                              n_frames: Option[Long], ehash: Option[Long],
                              ok: Boolean)

  /** Envelope hash of (idCol: long, payloadCol: binary) as real
    * columns — the audio near-dup signature stage. Same execution
    * contract as [[wavPcmStats]] (typed mapPartitions, corrupt
    * payloads quarantine as ok=false, O(1) state per payload beyond
    * the 65-cell envelope).
    */
  def wavEnvelopeHash(df: DataFrame, idCol: String, payloadCol: String,
                      maxSamples: Long = 1L << 28): DataFrame = {
    import df.sparkSession.implicits._
    df.select(df(idCol).cast("long"), df(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        Option(b).flatMap(parseWavEnvelopeHash(_, maxSamples)) match {
          case Some((ch, nf, h)) =>
            EnvHashRow(id, Some(ch), Some(nf), Some(h), ok = true)
          case None => EnvHashRow(id, None, None, None, ok = false)
        }
      }).toDF()
  }

  // -------------------------------------------------------- video headers

  /** Parsed MP4 (ISO BMFF) movie-header fields: `durationMs` =
    * duration × 1000 / timescale in exact long arithmetic.
    */
  final case class Mp4Header(timescale: Int, duration: Long,
                             durationMs: Long)

  /** Pure-Scala parse of the MP4/ISO-BMFF container header: walk the
    * top-level box list to `moov`, then its children to the `mvhd`
    * movie header (version 0: BE32 timescale/duration; version 1:
    * BE32 timescale, BE64 duration). Same quarantine contract as the
    * image/audio parsers: None for truncated/corrupt/non-MP4 bytes.
    */
  def parseMp4Header(bytes: Array[Byte]): Option[Mp4Header] = {
    val n = bytes.length
    def tag(i: Int) = new String(bytes, i, 4, "US-ASCII")
    // box walk over [from, until): returns the body offset+size of the
    // first box with the given type, handling 64-bit largesize
    def findBox(from: Int, until: Int, boxType: String): Option[(Int, Int)] = {
      var i = from
      while (i + 8 <= until) {
        val size32 = be32(bytes, i)
        val (hdr, size) =
          if (size32 == 1L) {
            if (i + 16 > until) return None
            val s64 = (be32(bytes, i + 8) << 32) | be32(bytes, i + 12)
            (16, s64)
          } else if (size32 == 0L) (8, (until - i).toLong) // to end
          else (8, size32)
        if (size < hdr || i + size > until) return None
        if (tag(i + 4) == boxType) return Some((i + hdr, (size - hdr).toInt))
        i += size.toInt
      }
      None
    }
    if (n < 8) None
    else findBox(0, n, "moov").flatMap { case (mo, ms) =>
      findBox(mo, mo + ms, "mvhd").flatMap { case (hd, hs) =>
        if (hs < 4) None
        else {
          val version = bytes(hd) & 0xFF
          val (tsOff, durOff, durLen) =
            if (version == 1) (hd + 4 + 16, hd + 4 + 20, 8)
            else (hd + 4 + 8, hd + 4 + 12, 4)
          if (durOff + durLen > hd + hs) None
          else {
            val ts = be32(bytes, tsOff)
            val dur =
              if (durLen == 8) (be32(bytes, durOff) << 32) |
                be32(bytes, durOff + 4)
              else be32(bytes, durOff)
            // dur × 1000 must not overflow Long: a corrupt v1 duration
            // past ~9.2e15 ticks would wrap negative and emit garbage
            // with ok=true — quarantine it instead
            if (ts <= 0 || ts > Int.MaxValue || dur < 0 ||
                dur > Long.MaxValue / 1000L) None
            else Some(Mp4Header(ts.toInt, dur, dur * 1000L / ts))
          }
        }
      }
    }
  }

  /** MP4 movie-header fields of (idCol: long, payloadCol: binary) as
    * real columns, corrupt rows quarantined as ok=false — the video
    * leg of the container-header family.
    */
  def videoHeaders(df: DataFrame, idCol: String,
                   payloadCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(df(idCol).cast("long"), df(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        Option(b).flatMap(parseMp4Header) match {
          case Some(hd) => Mp4Row(id, Some("mp4"), Some(hd.timescale),
            Some(hd.duration), Some(hd.durationMs), ok = true)
          case None => Mp4Row(id, None, None, None, None, ok = false)
        }
      }).toDF()
  }

  /** Minimal valid ISO-BMFF bytes: `ftyp` (isom) + `moov` containing a
    * version-0 `mvhd` with the given timescale/duration.
    */
  object VideoBytes {

    def mp4(timescale: Int, duration: Long): Array[Byte] = {
      val ftypBody = "isom".getBytes("US-ASCII") ++ u32(0) ++
        "isom".getBytes("US-ASCII")
      val ftyp = u32(8L + ftypBody.length) ++
        "ftyp".getBytes("US-ASCII") ++ ftypBody
      // mvhd v0 body: version+flags, creation, modification, timescale,
      // duration, rate, volume+reserved, 2×reserved, 3×3 matrix,
      // 6×predefined, next_track_id — 100 bytes
      val mvhdBody = u32(0) ++ u32(0) ++ u32(0) ++
        u32(timescale.toLong) ++ u32(duration) ++
        u32(0x00010000L) ++ u32(0x01000000L) ++ u32(0) ++ u32(0) ++
        (Seq(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L)
          .flatMap(u32(_)).toArray) ++
        Array.fill(6)(u32(0)).flatten ++ u32(1)
      val mvhd = u32(8L + mvhdBody.length) ++
        "mvhd".getBytes("US-ASCII") ++ mvhdBody
      val moov = u32(8L + mvhd.length) ++
        "moov".getBytes("US-ASCII") ++ mvhd
      ftyp ++ moov
    }
  }

  // --------------------------------------------------------------- resize

  /** Resize contract — the image-resize stage. [[StrideResizer]] is the
    * deterministic stand-in: byte subsampling at a fixed stride down to
    * w*h bytes (a real implementation decodes, scales, re-encodes).
    */
  trait Resizer extends Serializable {
    def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte]
  }

  object StrideResizer extends Resizer {
    def resize(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val target = w * h
      if (payload.length <= target) payload
      else {
        val stride = payload.length.toDouble / target
        Array.tabulate(target)(i => payload((i * stride).toInt))
      }
    }
  }

  /** Payloads resized to (w, h) with refreshed metadata — batched per
    * partition like [[extractFeatures]]. Output: (doc_id, payload,
    * meta struct per [[mediaMetaType]]).
    */
  def resizeTo(df: DataFrame, idCol: String, payloadCol: String,
               w: Int, h: Int, resizer: Resizer = StrideResizer): DataFrame = {
    val spark = df.sparkSession
    val outType = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType),
      StructField("meta", mediaMetaType)))
    // NULL rows dropped — see extractFeatures
    val input = df.select(df(idCol).cast("long"), df(payloadCol))
      .filter(df(idCol).isNotNull && df(payloadCol).isNotNull)
    val rdd = input.rdd.mapPartitions { rows =>
      rows.map { r =>
        val out = resizer.resize(r.getAs[Array[Byte]](1), w, h)
        Row(r.getLong(0), out, Row("raw", w, h, out.length.toLong))
      }
    }
    spark.createDataFrame(rdd, outType)
  }
}
