package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.ops.BandJoin

/** Multimodal column plumbing: image/audio/video payloads travel as opaque
  * `binary` columns with typed metadata; decode / feature-extraction runs as
  * an imperative per-partition pass over the typed Dataset (the Scala
  * equivalent of `mapInPandas`: batch-shaped, off the codegen path, the slot
  * where a real decoder library would sit).
  *
  * Decoding goes through the [[Multimodal.MediaDecoder]] seam. Every
  * modality now runs a REAL codec, all from the JDK (zero external deps):
  * [[Multimodal.ImageIoDecoder]] — `javax.imageio` PNG/BMP/JPEG/GIF for
  * image features, phash, dedup, and nearest-neighbor resize;
  * [[Multimodal.FrameContainer]] — keyframe seek + per-frame real PNG
  * decode (the container framing is ours; this env has no video container
  * demuxer, but frame decode and offset seek are genuine);
  * [[Multimodal.WavCodec]] — `javax.sound.sampled` RIFF/WAV parse for
  * audio features. [[Multimodal.SyntheticCodec]] (a real parsing codec
  * over a trivial format) and [[Multimodal.StubDecoder]] (the
  * payload-identity fake the original `mm_*` oracles mirror) remain as
  * the seam's test instruments. Everything around the seam — schema,
  * encoders, partition batching, feature schema — is real and
  * oracle-checked.
  */
object Multimodal {

  // ImageIO's default stream "cache" is DISK-backed (FileCacheImage*Stream):
  // with it on, every in-memory encode/decode round-trips a temp file —
  // filesystem churn that throttles the tens of thousands of tiny codec
  // calls the real-media queries make per pass. Every payload here is an
  // in-memory byte array, so the cache buys nothing; class-init flips it
  // off once per JVM (executors included — the object loads wherever its
  // codecs run).
  javax.imageio.ImageIO.setUseCache(false)

  /** One media payload: bytes + typed metadata. */
  final case class MediaRow(doc_id: Long, media: Array[Byte], mime: String)

  /** Extracted features. With a real decoder, width/height/frames come from
    * the codec; the stub derives them deterministically from the byte length
    * so the pipeline stays verifiable end to end. */
  final case class MediaFeatures(doc_id: Long, n_bytes: Long, width: Long,
                                 height: Long, n_frames: Long, checksum: String)

  /** The decoder seam: one serializable instance ships to executors, one
    * logical init per partition. A production build plugs a codec library
    * (JPEG/PNG/ffmpeg) in here; this container has none, so the two
    * implementations are the metadata-free [[StubDecoder]] (what the
    * oracle-gated registry queries run — deterministic in the raw payload)
    * and the [[SyntheticCodec]], a real parsing codec over a trivial
    * format, which lets the full decode→features→dedup path EXECUTE rather
    * than stay a stub. */
  trait MediaDecoder extends Serializable {
    /** Parse one payload into typed features. */
    def decode(docId: Long, payload: Array[Byte], mime: String): MediaFeatures
    /** The decoded raster (frame-major bytes) — what content-identity
      * features (blockhash, checksum) should see: container bytes differ
      * across re-encodes of the same content, pixels don't. */
    def pixels(payload: Array[Byte]): Array[Byte]
    /** (width, height, raster) in ONE parse where the codec supports it —
      * geometry-consuming transforms (resize) use this so the payload is
      * not decoded twice. Default composes the other two calls. */
    def raster(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
      val f = decode(0L, payload, "")
      (f.width.toInt, f.height.toInt, pixels(payload))
    }
  }

  /** Payload-level stand-in decoder (no codec libs in this container):
    * geometry derived deterministically from the byte length, "pixels" are
    * the payload itself. The DuckDB oracle mirrors it exactly. */
  object StubDecoder extends MediaDecoder {
    override def decode(docId: Long, payload: Array[Byte], mime: String): MediaFeatures = {
      val n = payload.length.toLong
      val md = java.security.MessageDigest.getInstance("MD5")
      val sum = md.digest(payload).map("%02x".format(_)).mkString
      MediaFeatures(docId, n, n % 640, n % 480, 1 + n % 10, sum)
    }
    override def pixels(payload: Array[Byte]): Array[Byte] = payload
  }

  /** GPM1 — a deterministic synthetic raster codec that REALLY parses:
    * `"GPM1" | width:int32 | height:int32 | nFrames:int32 | commentLen:int32
    * | comment | pixels(width·height·nFrames bytes, frame-major)`, all ints
    * big-endian. The comment field exists so two encodes of the SAME raster
    * can differ at the container level — exactly the re-encode case
    * perceptual dedup must collapse. Malformed payloads fail decode loudly
    * (bad magic / length mismatch), like a real codec. */
  object SyntheticCodec extends MediaDecoder {
    val Mime = "image/x-gpm"
    private val Magic = Array[Byte]('G', 'P', 'M', '1')
    private val HeaderLen = 20

    def encode(width: Int, height: Int, frames: Seq[Array[Byte]],
               comment: Array[Byte] = Array.empty): Array[Byte] = {
      require(width > 0 && height > 0 && frames.nonEmpty, "empty raster")
      require(frames.forall(_.length == width * height), "frame size mismatch")
      val bb = java.nio.ByteBuffer.allocate(
        HeaderLen + comment.length + width * height * frames.size)
      bb.put(Magic).putInt(width).putInt(height).putInt(frames.size)
        .putInt(comment.length).put(comment)
      frames.foreach(bb.put)
      bb.array()
    }

    private def header(payload: Array[Byte]): (Int, Int, Int, Int) = {
      require(payload != null && payload.length >= HeaderLen &&
        java.util.Arrays.equals(java.util.Arrays.copyOf(payload, 4), Magic),
        "bad magic: not a GPM1 payload")
      val bb = java.nio.ByteBuffer.wrap(payload, 4, 16)
      val (w, h, f, cl) = (bb.getInt, bb.getInt, bb.getInt, bb.getInt)
      require(w > 0 && h > 0 && f > 0 && cl >= 0 &&
        payload.length.toLong == HeaderLen.toLong + cl + w.toLong * h * f,
        s"corrupt GPM1 payload: declared ${w}x${h}x$f+$cl vs ${payload.length} bytes")
      (w, h, f, cl)
    }

    override def pixels(payload: Array[Byte]): Array[Byte] = {
      val (_, _, _, cl) = header(payload)
      java.util.Arrays.copyOfRange(payload, HeaderLen + cl, payload.length)
    }

    override def decode(docId: Long, payload: Array[Byte], mime: String): MediaFeatures = {
      val (w, h, f, _) = header(payload)
      val px = pixels(payload)
      val md = java.security.MessageDigest.getInstance("MD5")
      // checksum over the RASTER, not the container: content identity
      // survives re-encoding (different comment, same pixels)
      val sum = md.digest(px).map("%02x".format(_)).mkString
      MediaFeatures(docId, payload.length.toLong, w.toLong, h.toLong, f.toLong, sum)
    }
  }

  /** REAL image decoder over JDK [[javax.imageio.ImageIO]] — no external
    * deps: OpenJDK ships PNG/BMP/JPEG/GIF readers. `pixels` returns the
    * row-major 8-bit GRAYSCALE raster, so content identity survives
    * re-encoding across containers (the same raster written as PNG and as
    * BMP decodes to identical bytes). Grayscale conversion is integer
    * ITU-R 601 luma ((299·r + 587·g + 114·b) / 1000, truncating) — no
    * float, no ColorSpace.toGray (whose float path could differ across
    * JVMs); single-band images pass their samples through untouched, so a
    * gray PNG round-trips bit-exactly. Malformed payloads fail loudly like
    * a real codec (ImageIO returns null → IllegalArgumentException). */
  object ImageIoDecoder extends MediaDecoder {
    private def readImage(payload: Array[Byte]): java.awt.image.BufferedImage = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      require(img != null, "undecodable image payload (no ImageIO reader matched)")
      img
    }

    /** Row-major 8-bit grayscale raster of the decoded image. */
    override def pixels(payload: Array[Byte]): Array[Byte] =
      pixelsOf(readImage(payload))

    private def pixelsOf(img: java.awt.image.BufferedImage): Array[Byte] = {
      val (w, h) = (img.getWidth, img.getHeight)
      val raster = img.getRaster
      val out = new Array[Byte](w * h)
      val bands = raster.getNumBands
      // palette-indexed (GIF, PNG-8): the single band holds a palette INDEX,
      // not luma — resolve through the color model, or two visually identical
      // images with permuted palettes would checksum differently
      val palette = img.getColorModel match {
        case icm: java.awt.image.IndexColorModel => icm
        case _ => null
      }
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g =
            if (palette != null) {
              val i = raster.getSample(x, y, 0)
              (299 * palette.getRed(i) + 587 * palette.getGreen(i) +
                114 * palette.getBlue(i)) / 1000
            }
            else if (bands == 1) raster.getSample(x, y, 0)
            else {
              val r = raster.getSample(x, y, 0)
              val gg = raster.getSample(x, y, 1)
              val b = raster.getSample(x, y, 2)
              (299 * r + 587 * gg + 114 * b) / 1000
            }
          out(y * w + x) = g.toByte
          x += 1
        }
        y += 1
      }
      out
    }

    override def raster(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
      val img = readImage(payload) // ONE parse
      (img.getWidth, img.getHeight, pixelsOf(img))
    }

    override def decode(docId: Long, payload: Array[Byte], mime: String): MediaFeatures = {
      val img = readImage(payload) // ONE parse: geometry + raster off the same decode
      val px = pixelsOf(img)
      val md = java.security.MessageDigest.getInstance("MD5")
      // checksum over the RASTER: content identity survives re-encoding
      val sum = md.digest(px).map("%02x".format(_)).mkString
      MediaFeatures(docId, payload.length.toLong, img.getWidth.toLong,
        img.getHeight.toLong, 1L, sum)
    }
  }

  /** Encode an 8-bit grayscale raster as a real image container via
    * ImageIO (`format` = "png", "bmp", ...). Lossless for gray rasters in
    * both PNG and BMP, so encode→[[ImageIoDecoder.pixels]] round-trips
    * bit-exactly — the property the real-decode queries and the re-encode
    * dedup collapse rest on. */
  def encodeImage(width: Int, height: Int, gray: Array[Byte],
                  format: String = "png"): Array[Byte] = {
    require(gray.length == width * height, "raster size mismatch")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, width, height, gray)
    val bos = new java.io.ByteArrayOutputStream()
    val ok = javax.imageio.ImageIO.write(img, format, bos)
    require(ok, s"no ImageIO writer for format $format")
    bos.toByteArray
  }

  /** Encode an 8-bit grayscale raster as a real baseline JPEG at explicit
    * quality 1.0 (quantization tables all ones) — the MJPEG frame codec.
    * Unlike [[encodeImage]]'s PNG/BMP this is LOSSY (DCT rounding only at
    * q=1.0, but still not bit-exact): consumers that need a replayable
    * oracle must gate on a bounded per-pixel error, not a raster hash —
    * which is faithful to what a real video pipeline can promise. */
  def encodeJpeg(width: Int, height: Int, gray: Array[Byte]): Array[Byte] = {
    require(gray.length == width * height, "raster size mismatch")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, width, height, gray)
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(1.0f)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      w.setOutput(ios)
      w.write(null, new javax.imageio.IIOImage(img, null, null), p)
    } finally { ios.close(); w.dispose() }
    bos.toByteArray
  }

  /** Feature extraction over a typed media Dataset: per-partition iteration
    * (one decoder init per partition, streaming through rows — the batch
    * shape a Pandas-UDF equivalent needs). */
  def extractFeatures(media: Dataset[MediaRow],
                      decoder: MediaDecoder = StubDecoder): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // the decoder instance is the per-partition init point
      rows.map(r => decoder.decode(r.doc_id, r.media, r.mime))
    }
  }

  /** Wrap a text table as binary media payloads (the ingest shape a real
    * pipeline gets from reading raw bytes + a mime column). */
  def fromText(df: DataFrame, idCol: String, textCol: String): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).cast("binary").as("media"),
        lit("text/plain").as("mime"))
      .as[MediaRow]
  }

  /** One sampled frame: parent doc, frame index, frame payload bytes. */
  final case class FrameRow(doc_id: Long, frame_idx: Long, frame: Array[Byte])

  /** Frame sampling: explode each video payload into every `stride`-th
    * frame. The STUB "codec" treats the payload as fixed-size frame records
    * (`frameBytes` each); a real decoder seeks by timestamp instead. The
    * Spark shape is what matters at 100 TB: one narrow pass, output rows
    * fan out ~n_frames/stride per input, downstream operators see plain
    * (doc_id, frame_idx, bytes) rows they can batch-decode per partition. */
  def sampleFrames(media: Dataset[MediaRow], stride: Int,
                   frameBytes: Int = 64): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    require(stride > 0 && frameBytes > 0)
    media.flatMap { r =>
      val nFrames = math.max(1L, r.media.length.toLong / frameBytes)
      (0L until nFrames by stride.toLong).map { i =>
        val from = (i * frameBytes).toInt
        val until = math.min(r.media.length.toLong, (i + 1) * frameBytes).toInt
        FrameRow(r.doc_id, i, java.util.Arrays.copyOfRange(r.media, from, until))
      }
    }
  }

  /** Perceptual fingerprint row: doc, 8-bit blockhash, payload size. */
  final case class BlockHashRow(doc_id: Long, blockhash: Long, n_bytes: Long)

  /** Blockhash-style perceptual fingerprint (Yang et al.'s blockhash shape,
    * byte-domain): the payload splits into `blocks` equal spans; bit k is
    * set when span k's byte mass is ABOVE the payload's overall mean —
    * integer cross-multiplied (`sum_k · N > S · n_k`) so no division and no
    * float anywhere, which is what lets the oracle mirror it exactly. Near-
    * identical payloads (a re-encode, a few changed bytes) keep their hash
    * Hamming-close, so downstream dedup is the SAME band+Hamming shape the
    * SimHash pipeline runs. A real image phash replaces the byte spans with
    * DCT coefficients; the Spark shape — one narrow per-partition pass,
    * 8 bytes of output per payload — does not change. */
  def blockHash(media: Dataset[MediaRow], blocks: Int = 8,
                decoder: MediaDecoder = StubDecoder): Dataset[BlockHashRow] = {
    import media.sparkSession.implicits._
    require(blocks > 0 && blocks <= 62)
    media.mapPartitions { rows =>
      rows.map { r =>
        // defensive: a null/empty payload fingerprints to 0 rather than NPE
        if (r.media == null || r.media.isEmpty) BlockHashRow(r.doc_id, 0L, 0L)
        // fingerprint the decoded raster, not the container bytes — with the
        // StubDecoder the two coincide (payload identity), with a parsing
        // codec re-encodes of the same content hash identically
        else blockHashOne(r.doc_id, decoder.pixels(r.media), blocks)
      }
    }
  }

  final case class PhashRow(doc_id: Long, phash: Long, n_bytes: Long)

  val PhashBlocks = 16

  /** Quantized DCT-II basis, shared verbatim between the Scala compute and
    * the oracle SQL literal table — `cos(π·j·(2k+1)/(2B))` snapped to 9
    * decimals so no engine's libm can move a coefficient. */
  lazy val dctCosQ: Array[Array[Double]] = Array.tabulate(PhashBlocks, PhashBlocks) {
    (j, k) => math.floor(
      StrictMath.cos(math.Pi * j * (2 * k + 1) / (2.0 * PhashBlocks)) * 1e9 + 0.5) / 1e9
  }

  /** DCT perceptual hash (the pHash construction): the payload's
    * [[PhashBlocks]] equal-span byte means put through a 1-D DCT-II; bit
    * j−1 is the SIGN of AC coefficient j. Versus [[blockHash]]'s
    * mean-threshold bits, the DCT bits capture the SHAPE of the byte-mass
    * profile (low-frequency structure), so they survive local perturbation
    * much better — the actual construction image pipelines run, over the
    * same decode seam. Engine-exactness: basis quantized to 9dp, every
    * product quantized to 9dp, and the coefficient accumulated as an EXACT
    * decimal sum — partition/engine order cannot flip a sign bit. */
  def phash(media: Dataset[MediaRow],
            decoder: MediaDecoder = StubDecoder): Dataset[PhashRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        if (r.media == null || r.media.isEmpty) PhashRow(r.doc_id, 0L, 0L)
        else phashOne(r.doc_id, decoder.pixels(r.media))
      }
    }
  }

  private def phashOne(docId: Long, media: Array[Byte]): PhashRow = {
    val b = PhashBlocks
    val n = media.length
    val sums = new Array[Long](b)
    val cnts = new Array[Long](b)
    var j = 0
    while (j < n) {
      val k = (j.toLong * b / n).toInt
      sums(k) += media(j) & 0xffL
      cnts(k) += 1
      j += 1
    }
    var hash = 0L
    var f = 1
    while (f < b) {
      var acc = BigDecimal(0)
      var k = 0
      while (k < b) {
        if (cnts(k) > 0) {
          // quantized-coef × exact mean, the product snapped to 9dp and
          // recovered as the exact decimal the oracle's DECIMAL(28,9) cast
          // yields (the double sits within 1e-25 of that decimal)
          val t = math.floor(dctCosQ(f)(k) * (sums(k).toDouble / cnts(k)) * 1e9 + 0.5) / 1e9
          acc += BigDecimal(t).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        }
        k += 1
      }
      if (acc > 0) hash |= 1L << (f - 1)
      f += 1
    }
    PhashRow(docId, hash, n.toLong)
  }

  private def blockHashOne(docId: Long, media: Array[Byte], blocks: Int): BlockHashRow =
    BlockHashRow(docId, blockHashBits(media, blocks), media.length.toLong)

  /** The bit computation of [[blockHash]] on a raw byte raster — shared by
    * the per-payload path above and the per-FRAME path in
    * [[videoFrameHashes]]. */
  private[graft] def blockHashBits(media: Array[Byte], blocks: Int): Long = {
    val n = media.length
    val sums = new Array[Long](blocks)
    val cnts = new Array[Long](blocks)
    var j = 0
    while (j < n) {
      // j*blocks can exceed Int for payloads >= ~268 MB: index in Long space
      val k = (j.toLong * blocks / n).toInt // 0-based byte j → block (equal spans)
      sums(k) += media(j) & 0xffL
      cnts(k) += 1
      j += 1
    }
    val total = sums.sum
    var hash = 0L
    var k = 0
    while (k < blocks) {
      // cross-multiply in BigInt: sums(k)·n reaches ~2^70 for multi-GB spans
      // (per-block, not per-byte, so the cost is 8 BigInt ops per payload)
      if (cnts(k) > 0 && BigInt(sums(k)) * n > BigInt(total) * cnts(k)) hash |= 1L << k
      k += 1
    }
    hash
  }

  /** One fingerprinted video frame: `fhash` = [[blockHash]]-style
    * mean-threshold bits over the frame's decoded grayscale raster. */
  final case class FrameHashRow(doc_id: Long, frame_idx: Long, fhash: Long)

  /** Per-FRAME perceptual hashes through the real RIFF demux — the
    * signature half of video near-dup (frame-fingerprint matching): each
    * `00db` DIB chunk of the uncompressed 8-bit AVI decodes bit-exactly
    * ([[AviMjpeg.rawGrayFrame]]), then hashes via [[blockHashBits]]. The
    * lossless leg is REQUIRED here (an MJPEG frame's pixels are decoder
    * arithmetic, so its hash would not be oracle-replayable); keyframe
    * scoring covers the lossy leg. Scale shape: ONE narrow flatMap per
    * document — the container carries all its frames, so signatures need
    * no shuffle; output is 16 bytes per frame regardless of frame size. */
  def videoFrameHashes(media: Dataset[MediaRow], blocks: Int): Dataset[FrameHashRow] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val (w, h, bits, comp) = AviMjpeg.geometry(r.media)
      require(bits == 8 && comp == "\u0000\u0000\u0000\u0000",
        s"videoFrameHashes needs the uncompressed 8-bit DIB stream ($bits bpp)")
      AviMjpeg.index(r.media).zipWithIndex.map { case ((off, len), i) =>
        val raster = AviMjpeg.rawGrayFrame(AviMjpeg.frame(r.media, off, len), w, h)
        FrameHashRow(r.doc_id, i.toLong, blockHashBits(raster, blocks))
      }
    }
  }

  /** REAL image resize: decode via `decoder`, nearest-neighbor sample the
    * grayscale raster to (outW, outH) with pure integer index arithmetic
    * (`src[y·srcH/outH][x·srcW/outW]`) — deterministic across JVMs, unlike
    * library scalers whose interpolation kernels may differ, and exactly
    * replayable in SQL (which is what lets the oracle verify REAL resized
    * pixels). Output geometry is declared; payload is the resized raster. */
  def resizeNearest(media: Dataset[MediaRow], outW: Int, outH: Int,
                    decoder: MediaDecoder): Dataset[ResizedRow] = {
    import media.sparkSession.implicits._
    require(outW > 0 && outH > 0)
    media.mapPartitions { rows =>
      rows.map { r =>
        val (srcW, srcH, px) = decoder.raster(r.media) // one parse per payload
        val out = new Array[Byte](outW * outH)
        var y = 0
        while (y < outH) {
          val sy = y * srcH / outH
          var x = 0
          while (x < outW) {
            out(y * outW + x) = px(sy * srcW + x * srcW / outW)
            x += 1
          }
          y += 1
        }
        ResizedRow(r.doc_id, outW.toLong, outH.toLong, out)
      }
    }
  }

  /** GFR1 — a length-prefixed keyframe container: `"GFR1" | count:int32 |
    * (len:int32 | PNG bytes)*`, ints big-endian. The container framing is
    * ours (the env has no video codec), but every FRAME is a genuine PNG
    * that [[ImageIoDecoder]] parses — the closest honest approximation of
    * "video = container + per-frame image codec" this environment allows:
    * seek-to-frame is real offset arithmetic, decode is a real codec. */
  object FrameContainer {
    private val Magic = Array[Byte]('G', 'F', 'R', '1')

    def encode(frames: Seq[Array[Byte]]): Array[Byte] = {
      require(frames.nonEmpty, "empty frame container")
      val bb = java.nio.ByteBuffer.allocate(
        8 + frames.map(_.length + 4).sum)
      bb.put(Magic).putInt(frames.size)
      frames.foreach { f => bb.putInt(f.length); bb.put(f) }
      bb.array()
    }

    /** Frame offsets+lengths without touching frame bytes — the "seek". */
    def index(payload: Array[Byte]): Seq[(Int, Int)] = {
      require(payload.length >= 8 &&
        java.util.Arrays.equals(java.util.Arrays.copyOf(payload, 4), Magic),
        "bad magic: not a GFR1 container")
      val bb = java.nio.ByteBuffer.wrap(payload)
      bb.position(4)
      val n = bb.getInt
      require(n > 0, "empty GFR1 container")
      (0 until n).map { _ =>
        val len = bb.getInt
        val off = bb.position()
        // long arithmetic: a near-MaxValue length would wrap `off + len`
        // negative and sneak past an int-typed bound check
        require(len >= 0 && off.toLong + len <= payload.length, "corrupt GFR1 frame length")
        bb.position(off + len)
        (off, len)
      }
    }

    def frame(payload: Array[Byte], off: Int, len: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(payload, off, off + len)
  }

  /** Real AVI (RIFF) MJPEG container, JDK-only — retires the GFR1 own-format
    * stand-in: a standard `RIFF('AVI ')` file with a genuine `hdrl` header
    * tree (`avih`, then `LIST('strl')` with a `vids`/`MJPG` `strh` and a
    * BITMAPINFOHEADER `strf`), frame chunks (`00dc`, word-aligned) inside
    * `LIST('movi')`, and the `idx1` index — the layout every MJPEG-AVI
    * consumer (ffmpeg, VfW) reads. All integers little-endian per RIFF.
    *
    * Demux reads ONLY the header walk and `idx1` (entry offsets relative to
    * the `movi` fourcc, the standard convention): keyframe seek is real
    * offset arithmetic into `movi`, and a non-sampled frame's bytes are
    * NEVER parsed — the same seek-honesty contract [[FrameContainer]]
    * proved, now on the interchange format other tools actually write.
    * Frames are genuine baseline JPEGs ([[encodeJpeg]]) that
    * [[ImageIoDecoder]] parses. */
  object AviMjpeg {
    private val KeyframeFlag = 0x10 // AVIIF_KEYFRAME
    private val HasIndexFlag = 0x10 // AVIF_HASINDEX

    private def str4(payload: Array[Byte], pos: Int): String =
      new String(payload, pos, 4, "US-ASCII")

    /** MJPEG mux: `00dc` chunks of genuine baseline JPEGs, fourcc MJPG. */
    def encode(frames: Seq[Array[Byte]], width: Int, height: Int,
               fps: Int = 10): Array[Byte] =
      mux(frames, width, height, fps, handler = "MJPG", chunkId = "00dc",
        bitCount = 24, compression = Some("MJPG"), palette = Array.emptyByteArray)

    /** DIB row stride for 8-bit pixels: rows pad to 4-byte boundaries. */
    def rawStride(width: Int): Int = (width + 3) & ~3

    /** UNCOMPRESSED 8-bit grayscale AVI (`00db` DIB chunks, BI_RGB, a
      * 256-entry gray palette in strf): the lossless sibling of [[encode]] —
      * pixels survive the container bit-exactly, so an oracle can hash-
      * replay decoded rasters the way it can for PNG. Input frames are
      * row-major top-down rasters; DIB stores rows bottom-up, each padded
      * to [[rawStride]]. */
    def encodeRawGray(rasters: Seq[Array[Byte]], width: Int, height: Int,
                      fps: Int = 10): Array[Byte] = {
      val stride = rawStride(width)
      val dib = rasters.map { r =>
        require(r.length == width * height, "raster size mismatch")
        val out = new Array[Byte](stride * height)
        var y = 0
        while (y < height) { // bottom-up rows
          System.arraycopy(r, y * width, out, (height - 1 - y) * stride, width)
          y += 1
        }
        out
      }
      // gray palette: RGBQUAD (b, g, r, 0) per index
      val pal = new Array[Byte](256 * 4)
      (0 until 256).foreach { i =>
        pal(i * 4) = i.toByte; pal(i * 4 + 1) = i.toByte; pal(i * 4 + 2) = i.toByte
      }
      mux(dib, width, height, fps, handler = "DIB ", chunkId = "00db",
        bitCount = 8, compression = None, palette = pal)
    }

    private def mux(frames: Seq[Array[Byte]], width: Int, height: Int,
                    fps: Int, handler: String, chunkId: String, bitCount: Int,
                    compression: Option[String], palette: Array[Byte]): Array[Byte] = {
      require(frames.nonEmpty, "empty AVI")
      require(fps > 0, "fps must be positive")
      val n = frames.size
      val maxLen = frames.map(_.length).max
      val moviSize = 4 + frames.map(f => 8 + f.length + (f.length & 1)).sum
      val strfSize = 40 + palette.length
      val strlSize = 4 + (8 + 56) + (8 + strfSize) // 'strl' + strh + strf
      val hdrlSize = 4 + (8 + 56) + (8 + strlSize) // 'hdrl' + avih + LIST strl
      val idxSize = 16 * n
      val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize) + (8 + idxSize)
      val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def put4(s: String): Unit = { bb.put(s.getBytes("US-ASCII")); () }
      put4("RIFF"); bb.putInt(riffSize); put4("AVI ")
      put4("LIST"); bb.putInt(hdrlSize); put4("hdrl")
      put4("avih"); bb.putInt(56)
      bb.putInt(1000000 / fps) // dwMicroSecPerFrame
      bb.putInt(0); bb.putInt(0) // dwMaxBytesPerSec, dwPaddingGranularity
      bb.putInt(HasIndexFlag)
      bb.putInt(n); bb.putInt(0); bb.putInt(1) // total/initial frames, streams
      bb.putInt(maxLen); bb.putInt(width); bb.putInt(height)
      (0 until 4).foreach(_ => bb.putInt(0)) // dwReserved
      put4("LIST"); bb.putInt(strlSize); put4("strl")
      put4("strh"); bb.putInt(56)
      put4("vids"); put4(handler)
      bb.putInt(0); bb.putShort(0); bb.putShort(0) // flags, priority, language
      bb.putInt(0) // initial frames
      bb.putInt(1); bb.putInt(fps) // dwScale, dwRate → fps frames/sec
      bb.putInt(0); bb.putInt(n) // dwStart, dwLength (frames)
      bb.putInt(maxLen); bb.putInt(-1); bb.putInt(0) // bufsize, quality, samplesize
      bb.putShort(0); bb.putShort(0) // rcFrame left, top
      bb.putShort(width.toShort); bb.putShort(height.toShort)
      put4("strf"); bb.putInt(strfSize)
      bb.putInt(40); bb.putInt(width); bb.putInt(height) // biSize, biWidth, biHeight
      bb.putShort(1); bb.putShort(bitCount.toShort) // biPlanes, biBitCount
      compression.fold[Unit]({ bb.putInt(0); () })(put4) // BI_RGB = 0 when raw
      bb.putInt(maxLen) // biSizeImage
      bb.putInt(0); bb.putInt(0)
      bb.putInt(palette.length / 4); bb.putInt(0) // biClrUsed, biClrImportant
      bb.put(palette)
      put4("LIST"); bb.putInt(moviSize); put4("movi")
      val moviFcc = bb.position() - 4 // file offset of the 'movi' fourcc
      val offsets = new Array[Int](n) // idx1 offsets are movi-fourcc-relative
      frames.zipWithIndex.foreach { case (f, i) =>
        offsets(i) = bb.position() - moviFcc
        put4(chunkId); bb.putInt(f.length); bb.put(f)
        if ((f.length & 1) == 1) bb.put(0.toByte) // RIFF word alignment
      }
      put4("idx1"); bb.putInt(idxSize)
      frames.zipWithIndex.foreach { case (f, i) =>
        put4(chunkId); bb.putInt(KeyframeFlag)
        bb.putInt(offsets(i)); bb.putInt(f.length)
      }
      bb.array()
    }

    /** (offset, length) of every frame's JPEG bytes, resolved from the
      * header walk + `idx1` ONLY — `movi` payload bytes are never read.
      * Malformed containers fail loudly like a real demuxer. */
    def index(payload: Array[Byte]): Seq[(Int, Int)] = {
      require(payload.length >= 12 && str4(payload, 0) == "RIFF" &&
        str4(payload, 8) == "AVI ", "bad magic: not a RIFF/AVI payload")
      val bb = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var pos = 12
      var moviFcc = -1
      var idxPos = -1
      var idxLen = 0
      while (pos + 8 <= payload.length && (moviFcc < 0 || idxPos < 0)) {
        val id = str4(payload, pos)
        val sz = bb.getInt(pos + 4)
        require(sz >= 0 && pos + 8 + sz.toLong <= payload.length,
          s"corrupt RIFF chunk $id")
        if (id == "LIST" && sz >= 4 && str4(payload, pos + 8) == "movi")
          moviFcc = pos + 8
        else if (id == "idx1") { idxPos = pos + 8; idxLen = sz }
        pos += 8 + sz + (sz & 1)
      }
      require(moviFcc >= 0, "no movi list")
      require(idxPos >= 0, "no idx1 index (this demuxer requires AVIF_HASINDEX)")
      require(idxLen > 0 && idxLen % 16 == 0, "corrupt idx1 size")
      (0 until idxLen / 16).map { i =>
        val e = idxPos + i * 16
        val ck = str4(payload, e)
        require(ck == "00dc" || ck == "00db", s"unsupported idx1 chunk id $ck")
        val off = bb.getInt(e + 8)
        val len = bb.getInt(e + 12)
        val dataOff = moviFcc.toLong + off + 8 // past the chunk's own header
        require(off >= 4 && len >= 0 && dataOff + len <= payload.length,
          "corrupt idx1 entry")
        (dataOff.toInt, len)
      }
    }

    def frame(payload: Array[Byte], off: Int, len: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(payload, off, off + len)

    /** Stream geometry from the header tree (the real demuxer's strf read):
      * walks RIFF → LIST(hdrl) → LIST(strl) → strf and returns
      * (biWidth, biHeight, biBitCount, compression fourcc — "\0\0\0\0" for
      * BI_RGB raw). Header-only: movi bytes are never touched. */
    def geometry(payload: Array[Byte]): (Int, Int, Int, String) = {
      require(payload.length >= 12 && str4(payload, 0) == "RIFF" &&
        str4(payload, 8) == "AVI ", "bad magic: not a RIFF/AVI payload")
      val bb = java.nio.ByteBuffer.wrap(payload)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      // find a chunk id inside [from, to), recursing into LISTs
      def find(from: Int, to: Int, id: String): Int = {
        var pos = from
        while (pos + 8 <= to) {
          val ck = str4(payload, pos)
          val sz = bb.getInt(pos + 4)
          require(sz >= 0 && pos + 8 + sz.toLong <= payload.length,
            s"corrupt RIFF chunk $ck")
          if (ck == id) return pos
          if (ck == "LIST" && sz >= 4) {
            val in = find(pos + 12, pos + 8 + sz, id)
            if (in >= 0) return in
          }
          pos += 8 + sz + (sz & 1)
        }
        -1
      }
      val strf = find(12, payload.length, "strf")
      require(strf >= 0, "no strf header")
      val d = strf + 8 // BITMAPINFOHEADER start
      (bb.getInt(d + 4), bb.getInt(d + 8), bb.getShort(d + 14).toInt,
        str4(payload, d + 16))
    }

    /** Decode one `00db` uncompressed 8-bit DIB frame back to a row-major
      * top-down raster (undo the bottom-up rows + stride padding). */
    def rawGrayFrame(dib: Array[Byte], width: Int, height: Int): Array[Byte] = {
      val stride = rawStride(width)
      require(dib.length == stride * height,
        s"DIB size ${dib.length} != stride $stride × height $height")
      val out = new Array[Byte](width * height)
      var y = 0
      while (y < height) {
        System.arraycopy(dib, (height - 1 - y) * stride, out, y * width, width)
        y += 1
      }
      out
    }
  }

  /** One decoded sampled frame: parent doc, frame index, RASTER bytes. */
  final case class DecodedFrameRow(doc_id: Long, frame_idx: Long,
                                   raster: Array[Byte])

  /** REAL frame sampling: seek every `stride`-th frame via the container
    * index (offset arithmetic only — non-sampled frames' bytes are never
    * parsed, the property a real video pipeline gets from keyframe seek),
    * then decode JUST those frames through the real image codec. */
  def sampleFramesReal(media: Dataset[MediaRow], stride: Int,
                       decoder: MediaDecoder): Dataset[DecodedFrameRow] =
    sampleFramesBy(media, stride, decoder, FrameContainer.index)

  /** [[sampleFramesReal]] over real MJPEG-AVI payloads: the index comes from
    * the RIFF header walk + `idx1` ([[AviMjpeg.index]]), frames decode
    * through the real JPEG codec. */
  def sampleFramesAvi(media: Dataset[MediaRow], stride: Int,
                      decoder: MediaDecoder): Dataset[DecodedFrameRow] =
    sampleFramesBy(media, stride, decoder, AviMjpeg.index)

  /** [[sampleFramesAvi]] for UNCOMPRESSED 8-bit AVI streams
    * ([[AviMjpeg.encodeRawGray]]): geometry from the strf header, frames
    * decoded by the trivial DIB un-pad/flip — bit-exact pixels, which is
    * what lets an oracle hash-replay AVI frame rasters the way it does for
    * PNG. Seek honesty is the same idx1 contract. */
  def sampleFramesAviRaw(media: Dataset[MediaRow], stride: Int)
      : Dataset[DecodedFrameRow] = {
    import media.sparkSession.implicits._
    require(stride > 0)
    media.flatMap { r =>
      val (w, h, bits, comp) = AviMjpeg.geometry(r.media)
      require(bits == 8 && comp == "\u0000\u0000\u0000\u0000",
        s"not an uncompressed 8-bit stream ($bits bpp, '$comp')")
      val idx = AviMjpeg.index(r.media)
      idx.indices.by(stride).map { i =>
        val (off, len) = idx(i)
        DecodedFrameRow(r.doc_id, i.toLong,
          AviMjpeg.rawGrayFrame(AviMjpeg.frame(r.media, off, len), w, h))
      }
    }
  }

  private def sampleFramesBy(media: Dataset[MediaRow], stride: Int,
                             decoder: MediaDecoder,
                             containerIndex: Array[Byte] => Seq[(Int, Int)])
      : Dataset[DecodedFrameRow] = {
    import media.sparkSession.implicits._
    require(stride > 0)
    media.flatMap { r =>
      val idx = containerIndex(r.media)
      idx.indices.by(stride).map { i =>
        val (off, len) = idx(i)
        DecodedFrameRow(r.doc_id, i.toLong,
          decoder.pixels(java.util.Arrays.copyOfRange(r.media, off, off + len)))
      }
    }
  }

  /** REAL audio codec over JDK `javax.sound.sampled` — no external deps:
    * OpenJDK ships WAV/AIFF/AU readers. 8-bit mono PCM WAV round-trips the
    * sample bytes exactly (RIFF framing around raw PCM), so decoded
    * samples are SQL-replayable the same way gray PNG pixels are. */
  object WavCodec {
    val SampleRate = 8000f

    def encode(samples: Array[Byte]): Array[Byte] = {
      require(samples.nonEmpty, "empty PCM payload")
      val fmt = new javax.sound.sampled.AudioFormat(
        SampleRate, 8, 1, false /* 8-bit PCM is unsigned */, false)
      val in = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(samples), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(in,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** Decoded (sampleRate, channels, PCM sample bytes) — a genuine RIFF
      * parse; malformed payloads fail loudly like a real codec. */
    def decode(payload: Array[Byte]): (Float, Int, Array[Byte]) = {
      val in = try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      catch {
        case e: javax.sound.sampled.UnsupportedAudioFileException =>
          throw new IllegalArgumentException(s"undecodable audio payload: ${e.getMessage}")
      }
      try {
        val fmt = in.getFormat
        require(fmt.getSampleSizeInBits == 8 && fmt.getChannels == 1,
          s"expected 8-bit mono PCM, got $fmt")
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
        (fmt.getSampleRate, fmt.getChannels, out.toByteArray)
      } finally in.close()
    }
  }

  /** Audio features from decoded PCM: per-window integer energy — the
    * audio twin of the image block features, windows = equal sample spans,
    * energy = Σ|s − 128| (8-bit PCM midpoint), all integer arithmetic so
    * the oracle replays it exactly. */
  final case class AudioFeatures(doc_id: Long, sample_rate: Long,
                                 n_samples: Long, checksum: String,
                                 win_energy: Seq[Long])

  def audioFeatures(media: Dataset[MediaRow], windows: Int): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    require(windows > 0)
    media.mapPartitions { rows =>
      rows.map { r =>
        val (rate, _, pcm) = WavCodec.decode(r.media)
        val md = java.security.MessageDigest.getInstance("MD5")
        val sum = md.digest(pcm).map("%02x".format(_)).mkString
        val n = pcm.length
        val energy = new Array[Long](windows)
        var i = 0
        while (i < n) {
          energy((i.toLong * windows / n).toInt) += math.abs((pcm(i) & 0xff) - 128).toLong
          i += 1
        }
        AudioFeatures(r.doc_id, rate.toLong, n.toLong, sum, energy.toSeq)
      }
    }
  }

  /** Integer-quantized DFT tables for the spectral features: cos/sin at
    * `floor(x·2^15 + 0.5)`, generated ONCE from StrictMath (bit-identical
    * on every JVM) and EMBEDDED as literals in the oracle SQL — neither
    * engine ever evaluates a transcendental at query time, so the whole
    * spectral path is exact integer arithmetic. */
  object SpectralTable {
    val N = 32     // samples per analysis window
    val K = 8      // DFT bins kept (0..K-1)
    val Scale = 32768L
    val cosQ: Array[Array[Long]] = Array.tabulate(K, N)((k, n) =>
      math.floor(StrictMath.cos(2.0 * math.Pi * k * n / N) * Scale + 0.5).toLong)
    val sinQ: Array[Array[Long]] = Array.tabulate(K, N)((k, n) =>
      math.floor(StrictMath.sin(2.0 * math.Pi * k * n / N) * Scale + 0.5).toLong)
  }

  final case class SpectralRow(doc_id: Long, w: Long, bin: Long, energy: Long)

  /** Per-window integer-DFT bin energies `re² + im²` over centered samples
    * (s − 128), correlated against [[SpectralTable]] — all integers (|re| ≤
    * 128·2^15·32 = 2^27, energy ≤ 2^55). The ONE energy computation both
    * [[spectral]] and [[audioFingerprint]] derive from: a change to the
    * window/quantization contract lands in both oracle families or
    * neither. */
  private def binEnergies(pcm: Array[Byte]): Array[Array[Long]] = {
    import SpectralTable._
    require(pcm.length % N == 0, s"PCM length ${pcm.length} not a window multiple")
    val nw = pcm.length / N
    Array.tabulate(nw, K) { (w, k) =>
      var re = 0L; var im = 0L
      var n = 0
      while (n < N) {
        val c = (pcm(w * N + n) & 0xff) - 128L
        re += c * cosQ(k)(n); im += c * sinQ(k)(n)
        n += 1
      }
      re * re + im * im
    }
  }

  /** Spectral features from decoded PCM: per 32-sample window, the first 8
    * integer-DFT bin energies ([[binEnergies]]). One decode + one narrow
    * pass per document, no shuffle. */
  def spectral(media: Dataset[MediaRow]): Dataset[SpectralRow] = {
    import media.sparkSession.implicits._
    import SpectralTable._
    media.flatMap { r =>
      val (_, _, pcm) = WavCodec.decode(r.media)
      val e = binEnergies(pcm)
      (0 until e.length).flatMap { w =>
        (0 until K).map(k => SpectralRow(r.doc_id, w.toLong, k.toLong, e(w)(k)))
      }
    }
  }

  /** Integer linear-interpolation sample-rate conversion of 8-bit PCM —
    * the audio twin of image [[resize]]: output length `m = n·num/den`
    * (truncated), sample `out[j]` interpolates between the two source
    * samples bracketing position `j·n/m`:
    * `k = (j·n)/m`, `r = (j·n) mod m`, `out[j] = s[k] + ((s[k+1]−s[k])·r)/m`
    * with the last source sample clamped and every division TRUNCATING
    * TOWARD ZERO (Scala `Long./` == DuckDB `//`), so a SQL oracle replays
    * each output sample exactly. `num == den` is the identity. */
  private[graft] def resampleLinear(pcm: Array[Byte], num: Int, den: Int): Array[Int] = {
    require(num > 0 && den > 0, s"bad resample ratio $num/$den")
    require(pcm.nonEmpty, "empty PCM payload") // m=max(1,..) would index pcm(0)
    val n = pcm.length
    val m = math.max(1, (n.toLong * num / den).toInt)
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val t = j.toLong * n
      val k = (t / m).toInt
      val k1 = math.min(k + 1, n - 1)
      val a = pcm(k) & 0xff
      val b = pcm(k1) & 0xff
      out(j) = (a + ((b - a).toLong * (t % m)) / m).toInt
      j += 1
    }
    out
  }

  /** One resampled-audio window row: `energy` = Σ|v−128| and `wsum` =
    * Σ v·(j+1) (position-weighted, so a sample-order bug cannot cancel)
    * over the output samples landing in window `w`. */
  final case class AudioResampleRow(doc_id: Long, leg: String, n_out: Long,
                                    w: Long, energy: Long, wsum: Long)

  /** Resample each document's decoded PCM through every `(leg, num, den)`
    * ratio and emit per-window integer signatures — ONE decode and one
    * narrow flatMap per document, no shuffle, constant work per doc at any
    * corpus size. */
  def audioResample(media: Dataset[MediaRow], legs: Seq[(String, Int, Int)],
                    windows: Int): Dataset[AudioResampleRow] = {
    import media.sparkSession.implicits._
    require(windows > 0)
    media.flatMap { rrow =>
      val (_, _, pcm) = WavCodec.decode(rrow.media)
      legs.flatMap { case (tag, num, den) =>
        val out = resampleLinear(pcm, num, den)
        val m = out.length
        // the oracle's GROUP BY only emits windows that receive a sample;
        // this side always emits all `windows` rows — identical row sets
        // REQUIRE m >= windows (floor(j·W/m) is then surjective onto 0..W−1)
        require(m >= windows,
          s"resample leg '$tag' yields $m samples < $windows windows: " +
            "empty windows would diverge from the oracle's GROUP BY")
        val energy = new Array[Long](windows)
        val wsum = new Array[Long](windows)
        var j = 0
        while (j < m) {
          val w = (j.toLong * windows / m).toInt
          energy(w) += math.abs(out(j) - 128).toLong
          wsum(w) += out(j).toLong * (j + 1)
          j += 1
        }
        (0 until windows).map(w =>
          AudioResampleRow(rrow.doc_id, tag, m.toLong, w.toLong, energy(w), wsum(w)))
      }
    }
  }

  final case class AudioFpRow(doc_id: Long, fp: Long)

  /** Chromaprint-style audio fingerprint: for each (window w ≥ 1, bin
    * k ≥ 1), one bit = sign of the second difference of bin energies,
    * `(e[w][k] − e[w][k−1]) − (e[w−1][k] − e[w−1][k−1]) > 0` — packed at
    * bit (w−1)·(K−1) + (k−1). 8 windows × 8 bins ⇒ 49 bits. Derived from
    * the same integer spectral energies, so the SQL oracle replays the
    * fingerprint exactly. */
  def audioFingerprint(media: Dataset[MediaRow]): Dataset[AudioFpRow] = {
    import media.sparkSession.implicits._
    import SpectralTable._
    media.map { r =>
      val (_, _, pcm) = WavCodec.decode(r.media)
      val e = binEnergies(pcm)
      val nw = e.length
      var fp = 0L
      var i = 0
      for (ww <- 1 until nw; k <- 1 until K) {
        if ((e(ww)(k) - e(ww)(k - 1)) - (e(ww - 1)(k) - e(ww - 1)(k - 1)) > 0)
          fp |= 1L << i
        i += 1
      }
      AudioFpRow(r.doc_id, fp)
    }
  }

  // ---- perceptual near-dup ----------------------------------------------

  // a band key shared by > this many docs carries no signal (every family)
  val BandCap = 100L
  // image and video frames: the 48-bit blockhash in 4 bands of 12-bit keys
  val MmBits = 48
  val MmBands = 4
  val MmBandBits = MmBits / MmBands // 12-bit band keys
  val MmHamming = 6
  // audio: the 49-bit fingerprint in 7 bands of 7-bit keys
  val FpBands = 7
  val FpBandBits = 7
  val FpHamT = 10L
  // video: frames that must match at the same index
  val VdMinFrames = 3

  /** (i, j, [scope…], hamming): the near-dup pairs of a
    * `(doc_id, [scope…], hash)` frame, the pair step of every perceptual
    * family. The `hash` column is cut into `bands` keys of `bits` bits, a
    * (scope…, band, key) held by more than [[BandCap]] rows is dropped,
    * and the distinct candidates `i < j` of the band self-join join their
    * hashes back — `i` on its id, `j` on its id and `scope` — to keep
    * `bit_count(ha xor hb) ≤ maxHam`. So a scoped pair (video: `frame_idx`)
    * is proposed inside one scope value and compared at every scope value
    * both sides hold, never across two. `BandJoin.selfPairs` persists the
    * capped band frame and it stays cached; `hashes`, read by the band
    * build and both join-back sides, is the caller's to materialize. */
  def hammingPairs(hashes: DataFrame, hash: String, scope: Seq[String],
                   bands: Int, bits: Int, maxHam: Long): DataFrame = {
    val keys = scope ++ BandJoin.BandKey
    val bandRows = BandJoin.bandRows(hashes, "doc_id" +: scope,
      BandJoin.bitBands(col(hash), bands, bits))
    def side(id: String, h: String) = hashes.select(
      (col("doc_id").as(id) +: scope.map(col)) :+ col(hash).as(h): _*)
    BandJoin.selfPairs(BandJoin.capHot(bandRows, keys, BandCap), keys)
      .join(side("i", "ha"), Seq("i"))
      .join(side("j", "hb"), "j" +: scope)
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast(LongType))
      .filter(col("hamming") <= maxHam)
      .select((Seq("i", "j") ++ scope :+ "hamming").map(col): _*)
  }

  /** Image near-dup (i, j, hamming) of a (doc_id, blockhash) frame. The
    * hashes are persisted and stay cached: the lazy result reads them. */
  def imageDedup(blockHashes: DataFrame): DataFrame =
    hammingPairs(blockHashes.select("doc_id", "blockhash").persist(), "blockhash",
      Nil, MmBands, MmBandBits, MmHamming)

  /** Audio near-dup of a (doc_id, fp) frame: every fingerprint as a
    * `('fp', doc_id, -1, fp)` row plus every pair as `('pair', i, j,
    * hamming)`, columns (kind, a, b, v). The fingerprints are checkpointed
    * EAGERLY: AQE submits the four consumers' exchange subtrees at once,
    * so a lazy cache was materialized by 3 racing jobs that each held every
    * task slot while the decode computed (profiled: stage-sum 4.9 s vs
    * 2.7 s wall). |docs| rows of two longs: the checkpoint is cheap and the
    * codec pass runs once. */
  def audioDedup(fingerprints: DataFrame): DataFrame = {
    val fps = fingerprints.select("doc_id", "fp").localCheckpoint(true)
    val pairs = hammingPairs(fps, "fp", Nil, FpBands, FpBandBits, FpHamT)
    fps.select(lit("fp").as("kind"), col("doc_id").as("a"),
        lit(-1L).as("b"), col("fp").as("v"))
      .unionByName(pairs.select(lit("pair").as("kind"), col("i").as("a"),
        col("j").as("b"), col("hamming").as("v")))
  }

  /** Video near-dup (i, j, n_matched) of a (doc_id, frame_idx, fhash)
    * frame: pairs whose frames match at ≥ [[VdMinFrames]] frame indexes.
    * Checkpointed eagerly like [[audioDedup]], so the AVI demux runs once. */
  def videoDedup(frameHashes: DataFrame): DataFrame = {
    val fh = frameHashes.select("doc_id", "frame_idx", "fhash").localCheckpoint(true)
    hammingPairs(fh, "fhash", Seq("frame_idx"), MmBands, MmBandBits, MmHamming)
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") >= VdMinFrames)
      .select(col("i"), col("j"), col("n_matched"))
  }

  /** One scored video frame: `mad` = sum of absolute pixel deltas against
    * the PREVIOUS frame (0 for frame 0); `is_key` = frame 0 or mad at/over
    * the caller's scene-cut threshold. */
  final case class KeyframeRow(doc_id: Long, frame_idx: Long, mad: Long,
                               is_key: Boolean)

  /** Scene-cut keyframe selection over EITHER AVI leg: the lossless 8-bit
    * DIB stream ([[AviMjpeg.encodeRawGray]]) decodes bit-exactly — an
    * oracle replays the MAD statistic to the digit — while the lossy
    * MJPEG stream ([[AviMjpeg.encode]]) decodes each `00dc` chunk through
    * the real `javax.imageio` JPEG decoder, so only the DECISIONS are
    * oracle-checkable (bounded decode error; see `mm_keyframes_mjpeg`).
    * Both legs score consecutive-frame mean-absolute-difference and keep
    * frame 0 plus every frame whose MAD reaches `threshold`. Scale shape:
    * ONE narrow flatMap per document — the container payload carries all
    * its frames, so scoring needs no shuffle and no frame-pair join; a
    * 100 TB video corpus keyframes in a single scan. */
  def keyframes(media: Dataset[MediaRow], threshold: Long): Dataset[KeyframeRow] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val (w, h, bits, comp) = AviMjpeg.geometry(r.media)
      val mjpeg = comp == "MJPG"
      require(mjpeg || (bits == 8 && comp == "\u0000\u0000\u0000\u0000"),
        s"neither an uncompressed 8-bit nor an MJPG stream ($bits bpp)")
      val idx = AviMjpeg.index(r.media)
      var prev: Array[Byte] = null
      idx.indices.map { i =>
        val (off, len) = idx(i)
        val payload = AviMjpeg.frame(r.media, off, len)
        val cur =
          if (mjpeg) ImageIoDecoder.pixels(payload)
          else AviMjpeg.rawGrayFrame(payload, w, h)
        var mad = 0L
        if (prev != null) {
          var k = 0
          while (k < cur.length) {
            mad += math.abs((cur(k) & 0xff) - (prev(k) & 0xff)); k += 1
          }
        }
        prev = cur
        KeyframeRow(r.doc_id, i.toLong, mad, i == 0 || mad >= threshold)
      }
    }
  }

  /** Resized media record: same payload identity, new declared geometry. */
  final case class ResizedRow(doc_id: Long, width: Long, height: Long,
                              resized: Array[Byte])

  /** Resize: per-partition batch pass with one "codec" init per partition.
    * The STUB maps bytes deterministically (truncate/pad to the target
    * byte budget) so the oracle can verify the plumbing; a real impl calls
    * the image library here and nothing else changes. */
  def resize(media: Dataset[MediaRow], width: Int, height: Int): Dataset[ResizedRow] = {
    import media.sparkSession.implicits._
    val budget = width * height / 256 + 16 // stub: bytes-per-geometry budget
    media.mapPartitions { rows =>
      // real impl: initialize the scaler once per partition here
      rows.map { r =>
        val out = java.util.Arrays.copyOf(r.media, budget)
        ResizedRow(r.doc_id, width.toLong, height.toLong, out)
      }
    }
  }
}
