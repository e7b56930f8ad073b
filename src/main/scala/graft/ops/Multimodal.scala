package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed in partition-sized batches.
  *
  * Every decode here is REAL: binary PGM images ([[decodePgm]]) and
  * canonical PCM WAV audio ([[decodeWav]]) parse genuine bytes with zero
  * external codecs; PNG/JPEG ([[decodeImage]]) and multi-frame GIF
  * ([[sampleGifFrames]]) decode genuine entropy-coded bitstreams through
  * the stock JDK's ImageIO; the MP3 frame layer ([[mp3Meta]]) and H.264
  * Annex-B NAL layer ([[h264Meta]]) are walked byte-by-byte from their
  * public bitstream framing (sync words / start codes) — header fields +
  * payload statistics, oracle-checked end to end. The one thing NOT
  * implemented is the entropy-decode-to-samples step of MP3/H.264
  * (Huffman subband synthesis / CABAC+DCT), which genuinely needs a codec
  * library the JDK lacks — a production pipeline plugs its JNI/ffmpeg
  * decoder into the same per-partition `mapPartitions` loop every decoder
  * below uses ([[decodeImage]] is the template: codec init once per
  * partition, rows streamed through it, loud failure on garbage).
  */
object Multimodal {

  /** ImageIO's stream factories default to DISK-backed caches: every
    * `createImageInputStream`/`createImageOutputStream` (and the
    * `ImageIO.read(InputStream)` convenience, which builds one
    * internally) creates and deletes a temp FILE per payload — a
    * per-row disk round-trip inside the decode/encode hot loops.
    * Payloads here are in-memory byte arrays, so every call builds its
    * own memory-cached stream instead — never through the JVM-global
    * `ImageIO.setUseCache` switch, which a task must not flip. */
  private def imageIn(
      payload: Array[Byte]): javax.imageio.stream.ImageInputStream =
    new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(payload))

  private def imageOut(
      out: java.io.OutputStream): javax.imageio.stream.ImageOutputStream =
    new javax.imageio.stream.MemoryCacheImageOutputStream(out)

  /** `ImageIO.read` over a memory-cached stream (null when no reader
    * recognizes the payload, as `ImageIO.read` itself). */
  private def readImage(payload: Array[Byte]): java.awt.image.BufferedImage =
    javax.imageio.ImageIO.read(imageIn(payload))

  /** One media row: opaque payload + typed metadata. */
  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])

  /** Generic decoded-raster features: REAL header dimensions + integer
    * pixel statistics (mean as permille — no floating point). */
  final case class MediaFeatures(media_id: Long, kind: String,
      width: Int, height: Int, mean_permille: Long, min_px: Int,
      max_px: Int)

  /** Batch feature extraction over a MIXED-format corpus: dispatch on
    * each row's `kind` to the format's genuine decoder — `img/pgm`
    * parses the P5 header + pixel bytes directly; every other image
    * kind (PNG/JPEG/GIF) goes through the JDK's entropy decoders. One
    * decoder init per partition (the expensive part for real codecs),
    * rows streamed through it; executors handle partitions
    * independently — scales with the cluster. A payload that does not
    * decode fails the task loudly: garbage media must never yield
    * silent fake features. Audio belongs to [[decodeWav]]/[[decodeG711]]
    * — raster features have no meaning for it. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        if (r.kind.endsWith("pgm")) {
          val p = parsePgm(r.media_id, r.payload)
          MediaFeatures(r.media_id, r.kind, p.width, p.height,
            p.mean_permille, p.min_px, p.max_px)
        } else {
          val img = readImage(r.payload)
          require(img != null,
            s"media ${r.media_id} (${r.kind}): payload is not a " +
              "decodable image")
          val raster = img.getRaster
          val w = img.getWidth; val h = img.getHeight
          require(w > 0 && h > 0,
            s"media ${r.media_id}: degenerate ${w}x$h")
          val (s, mn, mx) = lumaStats(raster, w, h)
          MediaFeatures(r.media_id, r.kind, w, h,
            s * 1000L / (w.toLong * h), mn, mx)
        }
      }
    }
  }

  /** Frame sampling for video-like payloads: explode n deterministic frame
    * offsets per row; each frame keeps a byte-slice hash so downstream
    * dedup/similarity can run on frames like any other column. */
  def sampleFrames(media: Dataset[MediaRow], nFrames: Int = 4): DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val stride = math.max(1, r.payload.length / nFrames)
      (0 until nFrames).iterator.map { f =>
        val off = f * stride
        val end = math.min(r.payload.length, off + stride)
        // payloads shorter than nFrames leave trailing frames EMPTY
        // (offset past the payload, zero bytes, seed hash) — never a
        // negative byte count
        var h = 1125899906842597L // FNV-ish transport-level slice hash
        var i = off
        while (i < end) { h = h * 31 + (r.payload(i) & 0xff); i += 1 }
        (r.media_id, f, off, math.max(0, end - off), h)
      }
    }.toDF("media_id", "frame_idx", "offset", "n_bytes", "frame_hash")
  }

  /** Aspect-preserving resize planning over extracted features: fit each
    * (width, height) into a maxW x maxH box with integer permille math
    * (deterministic, no floating point). Never upscales. A production
    * pipeline runs the actual pixel resample inside the per-partition
    * codec (extractFeatures' mapPartitions); the planned dimensions and
    * the column shape are exactly what it consumes. */
  def resizePlan(feats: Dataset[MediaFeatures], maxW: Int, maxH: Int): DataFrame = {
    val w = col("width")
    val h = col("height")
    // integer permille scale: floor of exact small-int division (values
    // stay far below 2^53, so floor(a/b) == a div b, deterministically)
    def idiv(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      floor(a / b).cast("long")
    val scale = least(lit(1000L),
      when(w > 0, idiv(lit(maxW.toLong) * 1000L, w)).otherwise(lit(1000L)),
      when(h > 0, idiv(lit(maxH.toLong) * 1000L, h)).otherwise(lit(1000L)))
    feats.toDF().select(col("media_id"), col("kind"), w, h,
        scale.as("scale_permille"))
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        col("scale_permille"),
        idiv(w * col("scale_permille"), lit(1000L)).cast("int").as("out_width"),
        idiv(h * col("scale_permille"), lit(1000L)).cast("int").as("out_height"))
  }

  // ---------------------------------------------------------------------
  // REAL decoders — binary PGM (P5) images and canonical PCM WAV audio
  // are self-describing pure-byte formats, so they decode with zero
  // external codecs: byte-level header parse + payload statistics. These
  // exercise the mapPartitions decode path END TO END with genuine binary
  // parsing (and are DuckDB-oracle-checked, because the synthesized
  // payloads derive deterministically from the documents fixture); only
  // compressed image codecs (PNG/JPEG/GIF) decode through the JDK's
  // ImageIO below. A malformed payload fails loudly (require) — garbage
  // media should kill the task, not produce silent fake features.
  // ---------------------------------------------------------------------

  /** Decoded PGM features: header fields + integer pixel statistics
    * (mean as permille so no floating point enters the result). */
  final case class PgmFeatures(media_id: Long, width: Int, height: Int,
      maxval: Int, mean_permille: Long, min_px: Int, max_px: Int)

  /** Decoded WAV features: canonical-header fields + integer PCM stats. */
  final case class WavFeatures(media_id: Long, sample_rate: Int,
      n_channels: Int, bits: Int, n_samples: Int, abs_sum: Long, peak: Int)

  /** Synthesize REAL binary P5 PGM payloads from the documents fixture:
    * pixels are the first w*h ASCII bytes of the text, space-padded. The
    * bytes written here are a valid PGM any external tool would read;
    * [[decodePgm]] must genuinely parse them back. */
  def pgmFromDocuments(docs: DataFrame, w: Int = 16, h: Int = 8): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val n = w * h
        val tb = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val px = Array.fill[Byte](n)(' '.toByte)
        System.arraycopy(tb, 0, px, 0, math.min(n, tb.length))
        MediaRow(id, "img/pgm",
          s"P5\n$w $h\n255\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ px)
      }
  }

  /** Parsed P5 header: dimensions + offset of the first pixel byte. */
  private final case class PgmHeader(w: Int, h: Int, maxval: Int, off: Int)

  private def parsePgmHeader(mediaId: Long, b: Array[Byte]): PgmHeader = {
    var i = 0
    def skipWs(): Unit = {
      while (i < b.length && (b(i) == '\n' || b(i) == ' ' ||
        b(i) == '\t' || b(i) == '\r')) i += 1
    }
    def readInt(): Int = {
      skipWs()
      require(i < b.length && b(i) >= '0' && b(i) <= '9',
        s"PGM $mediaId: expected integer at offset $i")
      // accumulate in Long with a hard bound: a crafted 2^32+1 field must
      // fail here, not wrap modulo 2^32 into a small "valid" dimension
      var v = 0L
      while (i < b.length && b(i) >= '0' && b(i) <= '9') {
        v = v * 10 + (b(i) - '0'); i += 1
        require(v <= 1000000000L,
          s"PGM $mediaId: header field exceeds 1e9")
      }
      v.toInt
    }
    require(b.length >= 2 && b(0) == 'P' && b(1) == '5',
      s"media $mediaId is not a binary (P5) PGM")
    i = 2
    val w = readInt(); val h = readInt(); val maxval = readInt()
    // exactly one whitespace byte separates maxval from pixels — and it
    // must BE whitespace: a malformed payload with no separator would
    // otherwise silently skip the first pixel and read everything off by
    // one, producing wrong stats that still pass the truncation bound
    require(i < b.length && (b(i) == '\n' || b(i) == ' ' ||
      b(i) == '\t' || b(i) == '\r'),
      s"PGM $mediaId: expected single whitespace after maxval at offset $i")
    i += 1
    // fail-loudly contract: reject degenerate dims (w*h checked in Long —
    // a crafted 70000x70000 header must not overflow Int past the bound)
    // and 2-byte-per-pixel images (maxval > 255) this parser would
    // silently misread as 1 byte per pixel
    require(w > 0 && h > 0, s"PGM $mediaId: degenerate dimensions ${w}x$h")
    require(maxval > 0 && maxval <= 255,
      s"PGM $mediaId: unsupported maxval $maxval (1-byte pixels only)")
    require(b.length.toLong >= i.toLong + w.toLong * h,
      s"PGM $mediaId: truncated pixel data")
    PgmHeader(w, h, maxval, i)
  }

  private def parsePgm(mediaId: Long, b: Array[Byte]): PgmFeatures = {
    val hd = parsePgmHeader(mediaId, b)
    val n = hd.w * hd.h
    var s = 0L; var mn = 255; var mx = 0; var j = 0
    while (j < n) {
      val v = b(hd.off + j) & 0xff
      s += v; if (v < mn) mn = v; if (v > mx) mx = v
      j += 1
    }
    PgmFeatures(mediaId, hd.w, hd.h, hd.maxval,
      if (n > 0) s * 1000L / n else 0L,
      if (n > 0) mn else 0, if (n > 0) mx else 0)
  }

  /** REAL nearest-neighbor resize: decode the P5 payload, sample the
    * pixel grid with integer source-index math
    * (src = out * srcDim div outDim), and re-encode a VALID PGM payload
    * — bytes in, bytes out, the actual pixel resample [[resizePlan]]
    * only plans for. Composes with [[decodePgm]] for a decode → resize
    * → decode round trip (q91). */
  def resizePgm(media: Dataset[MediaRow], outW: Int, outH: Int): Dataset[MediaRow] = {
    require(outW > 0 && outH > 0,
      s"resizePgm: target dimensions must be positive (got ${outW}x$outH)")
    import media.sparkSession.implicits._
    media.mapPartitions(rows => rows.map { r =>
      val b = r.payload
      val hd = parsePgmHeader(r.media_id, b)
      val px = new Array[Byte](outW * outH)
      var y = 0
      while (y < outH) {
        val sy = y * hd.h / outH
        var x = 0
        while (x < outW) {
          px(y * outW + x) = b(hd.off + sy * hd.w + x * hd.w / outW)
          x += 1
        }
        y += 1
      }
      MediaRow(r.media_id, r.kind,
        s"P5\n$outW $outH\n${hd.maxval}\n"
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++ px)
    })
  }

  /** Batch PGM decode — one row per image, genuine byte-level parsing in
    * the per-partition decoder loop ([[extractFeatures]]' shape). */
  def decodePgm(media: Dataset[MediaRow]): Dataset[PgmFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(rows => rows.map(r => parsePgm(r.media_id, r.payload)))
  }

  /** Synthesize REAL canonical PCM WAV payloads (44-byte RIFF header +
    * 16-bit little-endian samples). The sample formula depends only on
    * the media id, so the oracle can recompute the decoded statistics. */
  def wavFromDocuments(docs: DataFrame, rate: Int = 8000): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val n = 64 + (id % 64).toInt
      val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      bb.put("RIFF".getBytes(ascii)); bb.putInt(36 + n * 2)
      bb.put("WAVE".getBytes(ascii))
      bb.put("fmt ".getBytes(ascii)); bb.putInt(16)
      bb.putShort(1); bb.putShort(1) // PCM, mono
      bb.putInt(rate); bb.putInt(rate * 2) // byte rate = rate * blockAlign
      bb.putShort(2); bb.putShort(16) // blockAlign, bits
      bb.put("data".getBytes(ascii)); bb.putInt(n * 2)
      var k = 0
      while (k < n) {
        bb.putShort((((id * 31 + k * 17) % 2048) - 1024).toShort); k += 1
      }
      MediaRow(id, "audio/wav", bb.array())
    }
  }

  private def leInt(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
  private def leShort(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  /** Canonical-WAV header fields (rate, channels, bits, n_samples). */
  private def parseWavHeader(mediaId: Long, b: Array[Byte]): (Int, Int, Int, Int) = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    def tag(o: Int) = new String(b, o, 4, ascii)
    require(b.length >= 44 && tag(0) == "RIFF" && tag(8) == "WAVE" &&
      tag(12) == "fmt ", s"media $mediaId is not a canonical RIFF/WAVE")
    require(leShort(b, 20) == 1, s"WAV $mediaId: not PCM")
    val channels = leShort(b, 22)
    val rate = leInt(b, 24)
    val bits = leShort(b, 34)
    require(bits == 16, s"WAV $mediaId: only 16-bit PCM supported")
    // fail-loudly, not silently-interleaved: stereo frames would be
    // windowed as alternating L/R "samples" with no signal to the caller
    require(channels == 1, s"WAV $mediaId: only mono PCM supported")
    require(tag(36) == "data", s"WAV $mediaId: missing data chunk")
    val dataLen = leInt(b, 40)
    // fail-loudly contract: a negative or huge declared length must not
    // pass the bound via Int overflow and yield silent zeroed stats
    require(dataLen >= 0 && dataLen <= b.length - 44,
      s"WAV $mediaId: bad data-chunk length $dataLen")
    (rate, channels, bits, dataLen / 2)
  }

  /** Signed 16-bit LE PCM sample k. */
  private def pcmSample(b: Array[Byte], k: Int): Int = {
    val raw = leShort(b, 44 + k * 2)
    if (raw >= 0x8000) raw - 0x10000 else raw
  }

  private def parseWav(mediaId: Long, b: Array[Byte]): WavFeatures = {
    val (rate, channels, bits, n) = parseWavHeader(mediaId, b)
    var s = 0L; var peak = 0; var k = 0
    while (k < n) {
      val a = math.abs(pcmSample(b, k))
      s += a; if (a > peak) peak = a
      k += 1
    }
    WavFeatures(mediaId, rate, channels, bits, n, s, peak)
  }

  /** Batch WAV decode — genuine RIFF-header parse + PCM statistics. */
  def decodeWav(media: Dataset[MediaRow]): Dataset[WavFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(rows => rows.map(r => parseWav(r.media_id, r.payload)))
  }

  /** Perceptual difference hash of one image (h_hi = bits 0..31,
    * h_lo = bits 32..63; both halves non-negative so banding and XOR
    * arithmetic never touch a sign bit cross-engine). */
  final case class DHashRow(media_id: Long, h_hi: Long, h_lo: Long)

  /** dHash perceptual image fingerprint (the public difference-hash
    * technique behind image dedup in large crawl corpora, e.g. the
    * LAION-style pipelines): nearest-neighbor downsample to a 9x8 grid
    * (sample point (x*w/9, y*h/8) — the same integer grid [[pgmResize]]
    * uses), then bit (y*8+x) records "right neighbor strictly brighter".
    * Near-identical images differ in few bits; brightness/scale shifts
    * that preserve gradients preserve the hash.
    *
    * Scale shape: hash extraction rides INSIDE the decode pass
    * (mapPartitions is already the codec boundary) — one pass over the
    * payload bytes, 16 bytes of output per image, no pixel-row explode,
    * no shuffle. At 100 TB of images the hash table is ~0.02% of the
    * input, and everything downstream (banding, pair join) runs on it. */
  def dhash(media: Dataset[MediaRow]): Dataset[DHashRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.map { m =>
      val hd = parsePgmHeader(m.media_id, m.payload)
      require(hd.w >= 9 && hd.h >= 8,
        s"dhash ${m.media_id}: image ${hd.w}x${hd.h} below the 9x8 grid")
      def px(sx: Int, sy: Int): Int =
        m.payload(hd.off + sy * hd.w + sx) & 0xff
      var hi = 0L; var lo = 0L
      var b = 0
      while (b < 64) {
        val y = b / 8; val x = b % 8
        val sy = y * hd.h / 8
        if (px((x + 1) * hd.w / 9, sy) > px(x * hd.w / 9, sy)) {
          if (b < 32) hi |= 1L << b else lo |= 1L << (b - 32)
        }
        b += 1
      }
      DHashRow(m.media_id, hi, lo)
    }
  }

  /** Image near-dup pairs by banded Hamming join over [[dhash]]
    * fingerprints: the 64 bits split into four 16-bit bands, candidates
    * share at least one band bucket (pigeonhole: Hamming <= 3 GUARANTEES
    * a shared band — exact recall at the default threshold, subject only
    * to the bucket cap), then the true bit distance verifies. The
    * anatomy is [[graft.ops.Dedup]]'s LSH chain: `boundedBuckets` drops
    * band buckets hotter than `maxBucket` (boilerplate images — a
    * monochrome hash bucket must not go quadratic), `pairsFromBuckets`
    * explodes O(cap) pairs per bucket, and the verify is two keyed hash
    * joins + codegen'd bit_count — no all-pairs stage anywhere. */
  def dhashPairs(hashes: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 64): DataFrame = {
    val mask = lit(0xffffL)
    val banded = hashes.select(col("media_id"), explode(array(
        struct(lit(0).as("band"), col("h_hi").bitwiseAND(mask).as("key")),
        struct(lit(1).as("band"), shiftright(col("h_hi"), 16).as("key")),
        struct(lit(2).as("band"), col("h_lo").bitwiseAND(mask).as("key")),
        struct(lit(3).as("band"), shiftright(col("h_lo"), 16).as("key"))))
        .as("bk"))
      .select(col("media_id"), col("bk.band").as("band"),
        col("bk.key").as("key"))
    val buckets = graft.ops.Dedup.boundedBuckets(banded,
      Seq("band", "key"), "media_id", maxBucket)
    val cand = graft.ops.Dedup.pairsFromBuckets(buckets).distinct()
    def side(s: String) = hashes.select(col("media_id").as(s"doc_$s"),
      col("h_hi").as(s"${s}_hi"), col("h_lo").as(s"${s}_lo"))
    cand.join(side("a"), "doc_a").join(side("b"), "doc_b")
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
        (bit_count(col("a_hi").bitwiseXOR(col("b_hi"))) +
          bit_count(col("a_lo").bitwiseXOR(col("b_lo"))))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Walsh–Hadamard perceptual hash — the pHash idea (Zauner 2010:
    * downsample, 2-D frequency transform, keep the low-order block,
    * threshold against the median) with the DCT replaced by the
    * Walsh–Hadamard transform, whose ±1 kernel keeps every coefficient
    * an exact integer: H(b, k) = (-1)^(popcount(bx&u) + popcount(by&v)).
    * Unlike [[dhash]] (local gradient signs), the transform hash keys on
    * the image's global frequency structure, so it survives local noise
    * that flips individual gradient bits.
    *
    * Per image: 8x8 block means (integer floor mean over the block's
    * pixels), 64 WHT coefficients, the DC coefficient dropped, each of
    * the remaining 63 thresholded against their median (the 32nd
    * smallest) — a 63-bit fingerprint, always non-negative.
    *
    * Scale shape: like [[dhash]], the whole hash rides INSIDE the typed
    * decode map — one tight O(pixels + 64·64) integer loop per image at
    * the codec boundary, 16 bytes out per image, no pixel-row explode,
    * no shuffle. (A higher-order-function expression chain was measured
    * 100x slower here: nested `transform`/`aggregate` lambdas evaluate
    * on Catalyst's interpreted path, outside codegen — exactly the hot
    * path the guide says to keep native.) Near-dup pairing rides the
    * same banded Hamming join as [[dhashPairs]] over the resulting
    * hashes. */
  def phash(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.map { m =>
      val hd = parsePgmHeader(m.media_id, m.payload)
      require(hd.w >= 8 && hd.h >= 8,
        s"phash ${m.media_id}: image ${hd.w}x${hd.h} below the 8x8 grid")
      // 8x8 block floor-means: pixel (x, y) lives in block
      // (y*8 div h)*8 + (x*8 div w)
      val sums = new Array[Long](64); val cnts = new Array[Long](64)
      var i = 0
      val n = hd.w * hd.h
      while (i < n) {
        val b = (i / hd.w * 8 / hd.h) * 8 + (i % hd.w * 8 / hd.w)
        sums(b) += m.payload(hd.off + i) & 0xff
        cnts(b) += 1
        i += 1
      }
      val means = Array.tabulate(64)(b => sums(b) / cnts(b))
      // 64 exact-integer WHT coefficients over the block means
      val cf = Array.tabulate(64) { k =>
        var acc = 0L; var b = 0
        while (b < 64) {
          val sign = 1 - 2 * ((Integer.bitCount((b % 8) & (k % 8)) +
            Integer.bitCount((b / 8) & (k / 8))) & 1)
          acc += means(b) * sign
          b += 1
        }
        acc
      }
      // the 63 non-DC coefficients thresholded at their 32nd smallest
      val med = cf.drop(1).sorted.apply(31)
      var hash = 0L; var k = 1
      while (k < 64) {
        if (cf(k) > med) hash |= 1L << (k - 1)
        k += 1
      }
      (m.media_id, hash)
    }.toDF("media_id", "phash")
  }

  /** Histogram equalization as pure relational arithmetic over decoded
    * pixels: per-image histogram (groupBy), cumulative distribution
    * (a window ORDERED BY pixel value, bounded at <= 256 rows per
    * image), and the classic integer remap
    * eq = (cdf - cdf_min) * 255 div (n - cdf_min) (constant images
    * defined to 0). Output: one row per (image, present pixel value)
    * with its count and equalized target — the contrast-normalization
    * preprocessing a vision-data pipeline runs before feature
    * extraction, with no per-blob loop anywhere: every step is a
    * codegen'd aggregation or a per-image-bounded window. */
  def equalizePgm(media: Dataset[MediaRow]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = pgmPixelRows(media)
      .groupBy(col("media_id"), col("px")).agg(count(lit(1)).as("cnt"))
    val byPx = Window.partitionBy("media_id").orderBy("px")
    val perImg = Window.partitionBy("media_id")
    hist.withColumn("cdf", sum(col("cnt")).over(byPx))
      .withColumn("n", max(col("cdf")).over(perImg))
      .withColumn("cdfmin", min(col("cdf")).over(perImg))
      .withColumn("eq", when(col("n") === col("cdfmin"), lit(0L))
        .otherwise(expr("(cdf - cdfmin) * 255 div (n - cdfmin)")))
      .select(col("media_id"), col("px"), col("cnt"), col("eq"))
  }

  /** Connected-component BLOB LABELING over a thresholded pixel mask —
    * the vision op that turns "which pixels are bright" into "how many
    * objects, how big". Blob connectivity is IMAGE-LOCAL by definition,
    * so the labeling runs as a per-image union-find INSIDE the decode
    * pass (4-connectivity, path compression) — O(pixels · α) per image,
    * zero shuffles, embarrassingly parallel across images. Paying a
    * distributed iterative CC here would be shape-wrong at any scale:
    * its global join rounds synchronize every image on the largest
    * blob's diameter (measured: 20 s vs sub-second at sf0.1). The
    * distributed [[graft.ops.Components]] machinery is for graphs that
    * genuinely CROSS rows — near-dup graphs, not pixel masks. Output:
    * (media_id, n_blobs, max_blob); images with no bright pixel emit
    * nothing, as the mask defines. */
  def blobLabels(media: Dataset[MediaRow],
      threshold: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { m =>
      val hd = parsePgmHeader(m.media_id, m.payload)
      val (w, n) = (hd.w, hd.w * hd.h)
      def on(i: Int): Boolean = (m.payload(hd.off + i) & 0xff) >= threshold
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      def union(a: Int, b: Int): Unit = {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      var i = 0
      while (i < n) {
        if (on(i)) {
          if (i % w != w - 1 && on(i + 1)) union(i, i + 1)
          if (i + w < n && on(i + w)) union(i, i + w)
        }
        i += 1
      }
      val sizes = new java.util.HashMap[Int, Long]()
      i = 0
      while (i < n) {
        if (on(i)) sizes.merge(find(i), 1L, _ + _)
        i += 1
      }
      if (sizes.isEmpty) None
      else {
        var maxSz = 0L
        sizes.values.forEach(v => if (v > maxSz) maxSz = v)
        Some((m.media_id, sizes.size.toLong, maxSz))
      }
    }.toDF("media_id", "n_blobs", "max_blob")
  }

  /** Decoded pixels as relational rows (media_id, pos, px) — the bridge
    * from byte-level decode to COLUMNAR feature extraction: downstream
    * ops (histograms, statistics, quantization) are then plain
    * aggregations, codegen'd and shuffle-partitioned like any table.
    * Row volume is pixels-per-image × images — the explode IS the point:
    * image feature math becomes engine-native instead of per-blob UDF
    * loops. */
  def pgmPixelRows(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { m =>
      val h = parsePgmHeader(m.media_id, m.payload)
      (0 until h.w * h.h).map(i =>
        (m.media_id, i, m.payload(h.off + i) & 0xff))
    }.toDF("media_id", "pos", "px")
  }

  /** Decoded SIGNED PCM samples as relational rows (media_id, k, s) —
    * the audio twin of [[pgmPixelRows]] for sample-level DSP features
    * (zero-crossing rate, autocorrelation) as plain aggregations. */
  def wavSampleRows(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { m =>
      val n = parseWavHeader(m.media_id, m.payload)._4
      (0 until n).map(k => (m.media_id, k, pcmSample(m.payload, k)))
    }.toDF("media_id", "k", "s")
  }

  /** Windowed PCM energy — the spectrogram-feature stand-in, REAL bytes
    * in: per fixed window of `winSamples` samples, the absolute-amplitude
    * sum and peak (exact integers). The trailing window may be partial
    * (`n_in_win` < winSamples). One explode per clip; everything stays
    * per-row, no shuffle. */
  def wavWindowEnergy(media: Dataset[MediaRow], winSamples: Int = 16): DataFrame = {
    require(winSamples > 0,
      s"wavWindowEnergy: winSamples must be positive (got $winSamples)")
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val n = parseWavHeader(r.media_id, r.payload)._4
      val nw = (n + winSamples - 1) / winSamples
      (0 until nw).iterator.map { w =>
        val from = w * winSamples
        val to = math.min(n, from + winSamples)
        var e = 0L; var pk = 0; var k = from
        while (k < to) {
          val a = math.abs(pcmSample(r.payload, k))
          e += a; if (a > pk) pk = a
          k += 1
        }
        (r.media_id, w, to - from, e, pk)
      }
    }.toDF("media_id", "win_idx", "n_in_win", "energy", "peak")
  }

  /** Windowed Walsh–Hadamard filterbank over REAL PCM bytes — the
    * frequency-domain audio feature ([[wavWindowEnergy]] is the
    * time-domain one): per 64-sample window (zero-padded tail), the 64
    * WHT coefficients c_k = Σ_j s_j·(-1)^popcount(j&k), folded into
    * four 16-coefficient band absolute-energy sums. The ±1 kernel keeps
    * every coefficient an exact integer (the [[phash]] trick applied to
    * audio), so the filterbank is bit-exact cross-engine — the seam a
    * production mel/FFT filterbank (doubles, codec library) swaps into.
    * Natural Hadamard coefficient order, not sequency order —
    * documented, deterministic, and irrelevant to downstream learners.
    *
    * Scale shape: rides INSIDE the decode map — O(64·64) integer ops
    * per window at the codec boundary, 4 longs out per window, no
    * sample-row explode, no shuffle. */
  def wavWhtBands(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val n = parseWavHeader(r.media_id, r.payload)._4
      val nw = (n + 63) / 64
      (0 until nw).iterator.map { w =>
        val s = Array.tabulate(64) { j =>
          val k = w * 64 + j
          if (k < n) pcmSample(r.payload, k).toLong else 0L
        }
        val bands = new Array[Long](4)
        var k = 0
        while (k < 64) {
          var c = 0L; var j = 0
          while (j < 64) {
            c += s(j) * (1 - 2 * (Integer.bitCount(j & k) & 1))
            j += 1
          }
          bands(k / 16) += math.abs(c)
          k += 1
        }
        (r.media_id, w, bands(0), bands(1), bands(2), bands(3))
      }
    }.toDF("media_id", "win", "band0", "band1", "band2", "band3")
  }

  // ---------------------------------------------------------------------
  // G.711 companded audio (ITU-T G.711, 1972): 8-bit mu-law / A-law
  // telephony WAV — the one compressed audio family whose "decode" is
  // pure public table math (piecewise-linear segment expansion), so it
  // closes the gap between "16-bit PCM only" and telephony-style corpora
  // WITHOUT a codec library. Same per-partition byte-walker shape as
  // [[decodeWav]]; the expansion formulas below are the CCITT reference
  // ones (u-law: invert, ((mantissa<<3)+0x84)<<segment, re-bias; A-law:
  // XOR 0x55, segment 0/1 special-cased) and are mirrored verbatim in
  // the DuckDB oracle — all-integer, bit-exact on both engines.
  // ---------------------------------------------------------------------

  /** Decoded G.711 clip features: linear-PCM statistics recovered from
    * the companded bytes. */
  final case class G711Features(media_id: Long, law: String,
      sample_rate: Int, n_samples: Int, abs_sum: Long, peak: Int)

  /** WAVE format tags (RFC 2361): 6 = A-law, 7 = mu-law. */
  private val AlawTag = 6
  private val UlawTag = 7

  /** Synthesize REAL G.711 WAV payloads (44-byte RIFF header, format
    * tag 6/7, 8-bit mono, blockAlign 1). The companded byte stream
    * depends only on the media id, so the oracle can replay it. */
  def g711FromDocuments(docs: DataFrame, law: String,
      rate: Int = 8000): Dataset[MediaRow] = {
    val tag = law match {
      case "ulaw" => UlawTag
      case "alaw" => AlawTag
      case other  => sys.error(s"g711FromDocuments: unknown law $other")
    }
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val n = 64 + (id % 64).toInt
      val bb = java.nio.ByteBuffer.allocate(44 + n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      bb.put("RIFF".getBytes(ascii)); bb.putInt(36 + n)
      bb.put("WAVE".getBytes(ascii))
      bb.put("fmt ".getBytes(ascii)); bb.putInt(16)
      bb.putShort(tag.toShort); bb.putShort(1) // G.711, mono
      bb.putInt(rate); bb.putInt(rate) // byte rate = rate * blockAlign(1)
      bb.putShort(1); bb.putShort(8) // blockAlign, bits
      bb.put("data".getBytes(ascii)); bb.putInt(n)
      var k = 0
      while (k < n) {
        bb.put((((id * 31 + k * 17) % 256)).toByte); k += 1
      }
      MediaRow(id, s"audio/g711-$law", bb.array())
    }
  }

  /** CCITT mu-law byte -> linear 16-bit sample (exact reference math). */
  def ulaw2linear(code: Int): Int = {
    val u = (~code) & 0xff
    val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** CCITT A-law byte -> linear 13-bit-shifted sample. */
  def alaw2linear(code: Int): Int = {
    val a = code ^ 0x55
    val seg = (a & 0x70) >> 4
    val m = (a & 0x0f) << 4
    val t =
      if (seg == 0) m + 8
      else (m + 0x108) << (seg - 1)
    if ((a & 0x80) != 0) t else -t
  }

  /** G.711-WAV header fields (law, rate, n_samples): canonical RIFF
    * layout with format tag 6/7, 8-bit mono. Fail-loudly contract as in
    * [[parseWavHeader]]. */
  private def parseG711Header(mediaId: Long,
      b: Array[Byte]): (String, Int, Int) = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    def tag(o: Int) = new String(b, o, 4, ascii)
    require(b.length >= 44 && tag(0) == "RIFF" && tag(8) == "WAVE" &&
      tag(12) == "fmt ", s"media $mediaId is not a canonical RIFF/WAVE")
    val fmt = leShort(b, 20)
    val law = fmt match {
      case AlawTag => "alaw"
      case UlawTag => "ulaw"
      case other   => sys.error(s"WAV $mediaId: format $other is not G.711")
    }
    require(leShort(b, 22) == 1, s"WAV $mediaId: only mono G.711 supported")
    require(leShort(b, 34) == 8, s"WAV $mediaId: G.711 is 8 bits/sample")
    require(tag(36) == "data", s"WAV $mediaId: missing data chunk")
    val dataLen = leInt(b, 40)
    require(dataLen >= 0 && dataLen <= b.length - 44,
      s"WAV $mediaId: bad data-chunk length $dataLen")
    (law, leInt(b, 24), dataLen)
  }

  /** Batch G.711 decode — genuine RIFF parse + companding expansion to
    * linear PCM, then exact-integer statistics (one pass per clip, no
    * shuffle). */
  def decodeG711(media: Dataset[MediaRow]): Dataset[G711Features] = {
    import media.sparkSession.implicits._
    media.mapPartitions(rows => rows.map { r =>
      val (law, rate, n) = parseG711Header(r.media_id, r.payload)
      val expand: Int => Int =
        if (law == "ulaw") ulaw2linear else alaw2linear
      var s = 0L; var peak = 0; var k = 0
      while (k < n) {
        val a = math.abs(expand(r.payload(44 + k) & 0xff))
        s += a; if (a > peak) peak = a
        k += 1
      }
      G711Features(r.media_id, law, rate, n, s, peak)
    })
  }

  // ---------------------------------------------------------------------
  // REAL compressed-codec decode — JPEG and PNG via the stock JDK's
  // javax.imageio (no external dependency): genuine entropy-coded
  // bitstreams (Huffman+DCT for JPEG, DEFLATE for PNG) are encoded on
  // the executors and decoded back through the same mapPartitions batch
  // path as PGM/WAV. PNG is lossless, so its decoded pixel statistics
  // are oracle-checked cross-representation exactly like q89; JPEG is
  // LOSSY, so its oracle checks the exactly-recoverable fields (width,
  // height) plus a Spark-side tolerance gate on the decoded mean — the
  // gate can only pass if the decode is genuinely faithful to the
  // source pixels. With these, MP3/H.264 remain the only stubbed
  // formats (no codec in the JDK).
  // ---------------------------------------------------------------------

  /** Decoded raster-image features (PNG/JPEG via ImageIO). */
  final case class ImageFeatures(media_id: Long, width: Int, height: Int,
      mean_permille: Long, min_px: Int, max_px: Int)

  /** Grayscale image whose pixels are the first w*h ASCII bytes of the
    * text, space-padded — the same pixel convention as
    * [[pgmFromDocuments]], so PNG decode cross-checks against the PGM
    * oracle math. */
  private def grayImageFromText(text: String, w: Int,
      h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val tb = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val raster = img.getRaster
    var i = 0
    while (i < w * h) {
      raster.setSample(i % w, i / w, 0,
        if (i < tb.length) tb(i) & 0xff else ' '.toInt)
      i += 1
    }
    img
  }

  private def encodeImages(docs: DataFrame, fmt: String, kind: String,
      w: Int, h: Int): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        // one writer per partition (the extractFeatures codec-init cost
        // model) — ImageIO.write would re-run the registry lookup and
        // allocate a fresh writer per row
        val it = javax.imageio.ImageIO.getImageWritersByFormatName(fmt)
        require(it.hasNext, s"no ImageIO writer for format $fmt")
        val writer = it.next()
        rows.map { case (id, text) =>
          val out = new java.io.ByteArrayOutputStream()
          val ios = imageOut(out)
          writer.setOutput(ios)
          writer.write(grayImageFromText(text, w, h))
          ios.close()
          MediaRow(id, kind, out.toByteArray)
        }
      }
  }

  /** REAL PNG payloads (DEFLATE-compressed, lossless) synthesized from
    * the documents fixture — any external tool reads them back. */
  def pngFromDocuments(docs: DataFrame, w: Int = 16, h: Int = 8): Dataset[MediaRow] =
    encodeImages(docs, "png", "img/png", w, h)

  /** REAL JPEG payloads (DCT+Huffman, lossy; ImageIO's default quality)
    * synthesized from the documents fixture. */
  def jpegFromDocuments(docs: DataFrame, w: Int = 16, h: Int = 8): Dataset[MediaRow] =
    encodeImages(docs, "jpg", "img/jpeg", w, h)

  /** Batch raster decode via ImageIO (PNG/JPEG/anything the JDK reads):
    * per-partition decoder loop, genuine entropy-coded parsing. A
    * payload ImageIO cannot decode fails the task loudly (the PGM/WAV
    * contract). */
  def decodeImage(media: Dataset[MediaRow]): Dataset[ImageFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
      val img = readImage(r.payload)
      require(img != null,
        s"media ${r.media_id}: payload is not a decodable image")
      val raster = img.getRaster
      val w = img.getWidth; val h = img.getHeight
      require(w > 0 && h > 0, s"media ${r.media_id}: degenerate ${w}x$h")
      val (s, mn, mx) = lumaStats(raster, w, h)
      ImageFeatures(r.media_id, w, h, s * 1000L / (w.toLong * h), mn, mx)
      }
    }
  }

  /** (sum, min, max) of per-pixel LUMINANCE over a decoded raster.
    * Multi-band rasters (RGB/RGBA) reduce each pixel to integer BT.601
    * luma — `(299·R + 587·G + 114·B) / 1000`, alpha ignored — because
    * sampling band 0 would silently report red-channel statistics for
    * the advertised mixed-format corpus; gray and gray+alpha rasters
    * read the lone luminance band directly (bit-identical to the
    * pre-luma behavior for every grayscale fixture). Deterministic
    * integer math throughout. */
  private def lumaStats(raster: java.awt.image.Raster, w: Int,
      h: Int): (Long, Int, Int) = {
    val bands = raster.getNumBands
    var s = 0L; var mn = 255; var mx = 0; var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v =
          if (bands >= 3)
            (299 * raster.getSample(x, y, 0) +
              587 * raster.getSample(x, y, 1) +
              114 * raster.getSample(x, y, 2)) / 1000
          else raster.getSample(x, y, 0)
        s += v; if (v < mn) mn = v; if (v > mx) mx = v
        x += 1
      }
      y += 1
    }
    (s, mn, mx)
  }

  /** REAL raster resize through a compressed format: ImageIO decode,
    * nearest-neighbor resample with the SAME integer source-index math
    * as [[resizePgm]] (src = out * srcDim div outDim — so a lossless
    * format round-trips bit-identical to the PGM path), re-encode in
    * `fmt`. Composes with [[decodeImage]] for the decode → resize →
    * re-encode → decode chain through genuine entropy-coded bytes
    * (q109). Per-partition codec loop, fails loudly on garbage. */
  def resizeImage(media: Dataset[MediaRow], outW: Int, outH: Int,
      fmt: String = "png"): Dataset[MediaRow] = {
    require(outW > 0 && outH > 0,
      s"resizeImage: target dimensions must be positive (got ${outW}x$outH)")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition writer reuse (decode side stays on ImageIO.read —
      // input formats can be mixed, the registry probe is the decoder
      // dispatch there)
      val it = javax.imageio.ImageIO.getImageWritersByFormatName(fmt)
      require(it.hasNext, s"no ImageIO writer for format $fmt")
      val writer = it.next()
      rows.map { r =>
        val img = readImage(r.payload)
        require(img != null,
          s"media ${r.media_id}: payload is not a decodable image")
        val w = img.getWidth; val h = img.getHeight
        val src = img.getRaster
        val out = new java.awt.image.BufferedImage(outW, outH,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val dst = out.getRaster
        var y = 0
        while (y < outH) {
          val sy = y * h / outH
          var x = 0
          while (x < outW) {
            dst.setSample(x, y, 0, src.getSample(x * w / outW, sy, 0))
            x += 1
          }
          y += 1
        }
        val buf = new java.io.ByteArrayOutputStream()
        val ios = imageOut(buf)
        writer.setOutput(ios)
        writer.write(out)
        ios.close()
        MediaRow(r.media_id, r.kind, buf.toByteArray)
      }
    }
  }

  /** Per-frame features decoded from a real multi-frame container. */
  final case class FrameFeatures(media_id: Long, frame_idx: Int,
      width: Int, height: Int, mean_permille: Long, min_px: Int,
      max_px: Int)

  /** Identity 256-level gray palette. Writing frames as TYPE_BYTE_INDEXED
    * over this palette makes the GIF round trip BIT-EXACT: the encoder
    * stores our palette + raw indices (no quantization — GIF is lossless
    * at <= 256 colors), and the decoder's `getSample` returns the index,
    * which IS the gray value. */
  private def grayPalette: java.awt.image.IndexColorModel = {
    val g = Array.tabulate[Byte](256)(i => i.toByte)
    new java.awt.image.IndexColorModel(8, 256, g, g, g)
  }

  /** REAL animated-GIF payloads (LZW-compressed, multi-frame) synthesized
    * from the documents fixture: frame f's w*h pixels are the text bytes
    * at offset f*w*h (space-padded) — the frame axis is laid along the
    * text, so any engine recomputes per-frame stats from substrings.
    * Written through the stock JDK's GIF sequence writer
    * (prepareWriteSequence/writeToSequence): genuine container framing +
    * LZW entropy coding, readable by any external tool. */
  def gifFromDocuments(docs: DataFrame, w: Int = 16, h: Int = 8,
      nFrames: Int = 4): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        // one writer per partition (the codec-init cost model of
        // extractFeatures), reset per payload via a fresh output stream
        val writer =
          javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
        rows.map { case (id, text) =>
          val tb = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          val out = new java.io.ByteArrayOutputStream()
          val ios = imageOut(out)
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          var f = 0
          while (f < nFrames) {
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
            val raster = img.getRaster
            val base = f * w * h
            var i = 0
            while (i < w * h) {
              raster.setSample(i % w, i / w, 0,
                if (base + i < tb.length) tb(base + i) & 0xff
                else ' '.toInt)
              i += 1
            }
            writer.writeToSequence(
              new javax.imageio.IIOImage(img, null, null), null)
            f += 1
          }
          writer.endWriteSequence()
          ios.close()
          MediaRow(id, "video/gif", out.toByteArray)
        }
      }
  }

  /** REAL frame sampling from a multi-frame container: decode every
    * `every`-th frame of each GIF payload via the JDK's sequence reader
    * (`getNumImages(true)` + per-frame `read`) and emit per-frame pixel
    * stats. This is the video-frame-extraction shape end to end —
    * container parse, frame seek, entropy decode, per-frame features —
    * through genuine bytes (completing [[sampleFrames]], whose slice
    * hashing stands in for codecs the JDK lacks). Per-partition reader
    * loop; a payload the reader cannot parse fails the task loudly. */
  def sampleGifFrames(media: Dataset[MediaRow],
      every: Int = 1): Dataset[FrameFeatures] = {
    require(every >= 1, s"sampleGifFrames: every=$every must be >= 1")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val reader =
        javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      rows.flatMap { r =>
        val iis = imageIn(r.payload)
        // seekForwardOnly must stay false: getNumImages(allowSearch=true)
        // scans the whole container for frame count
        reader.setInput(iis, false)
        val n = reader.getNumImages(true)
        require(n > 0, s"media ${r.media_id}: no decodable GIF frames")
        val feats = (0 until n by every).map { f =>
          val img = reader.read(f)
          val w = img.getWidth; val h = img.getHeight
          require(w > 0 && h > 0,
            s"media ${r.media_id} frame $f: degenerate ${w}x$h")
          val raster = img.getRaster
          var s = 0L; var mn = 255; var mx = 0; var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val v = raster.getSample(x, y, 0)
              s += v; if (v < mn) mn = v; if (v > mx) mx = v
              x += 1
            }
            y += 1
          }
          FrameFeatures(r.media_id, f, w, h, s * 1000L / (w.toLong * h),
            mn, mx)
        }
        iis.close()
        feats
      }
    }
  }

  /** Per-frame dHash fingerprints from a REAL multi-frame GIF decode —
    * the [[dhash]] grid computed on each decoded frame's raster. Same
    * per-partition reader reuse as [[sampleGifFrames]]; 16 bytes out
    * per frame. */
  def gifFrameHashes(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val reader =
        javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      rows.flatMap { r =>
        val iis = imageIn(r.payload)
        reader.setInput(iis, false)
        val n = reader.getNumImages(true)
        require(n > 0, s"media ${r.media_id}: no decodable GIF frames")
        val out = (0 until n).map { f =>
          val img = reader.read(f)
          val w = img.getWidth; val h = img.getHeight
          require(w >= 9 && h >= 8,
            s"media ${r.media_id} frame $f: ${w}x$h below the 9x8 grid")
          val raster = img.getRaster
          def px(sx: Int, sy: Int): Int = raster.getSample(sx, sy, 0)
          var hi = 0L; var lo = 0L; var b = 0
          while (b < 64) {
            val y = b / 8; val x = b % 8
            val sy = y * h / 8
            if (px((x + 1) * w / 9, sy) > px(x * w / 9, sy)) {
              if (b < 32) hi |= 1L << b else lo |= 1L << (b - 32)
            }
            b += 1
          }
          (r.media_id, f, hi, lo)
        }
        iis.close()
        out
      }
    }.toDF("media_id", "frame_idx", "h_hi", "h_lo")
  }

  /** Keyframe selection by perceptual scene change — the frame-sampling
    * op a VLM training pipeline runs over video: a frame is a keyframe
    * iff it is the clip's first frame or its [[dhash]] Hamming distance
    * to the IMMEDIATELY PREVIOUS frame exceeds `maxHamming` (the q199
    * near-dup threshold: <= 3 bits = same scene). Static scenes
    * collapse to one representative; every cut survives.
    *
    * Shape at scale: hashing rides the decode pass ([[gifFrameHashes]]);
    * the lag window is partitioned per clip and BOUNDED by
    * frames-per-clip (the q208 bounded-window argument — never a
    * global sort). Downstream cross-clip dedup joins the surviving
    * keyframe hashes through the [[dhashPairs]] banded chain. */
  def gifKeyframes(media: Dataset[MediaRow], maxHamming: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("frame_idx")
    gifFrameHashes(media)
      .withColumn("phi", lag(col("h_hi"), 1).over(w))
      .withColumn("plo", lag(col("h_lo"), 1).over(w))
      .select(col("media_id"), col("frame_idx"),
        when(col("phi").isNull, lit(-1)).otherwise(
          (bit_count(col("h_hi").bitwiseXOR(col("phi"))) +
            bit_count(col("h_lo").bitwiseXOR(col("plo")))).cast("int"))
          .as("hamming_prev"),
        (col("phi").isNull ||
          (bit_count(col("h_hi").bitwiseXOR(col("phi"))) +
            bit_count(col("h_lo").bitwiseXOR(col("plo")))) > maxHamming)
          .as("is_keyframe"))
  }

  /** Audio fingerprint — the Haitsma–Kalker (2002) robust-hash recipe
    * over the [[wavWhtBands]] transform: per 16-sample window, 16 WHT
    * coefficients folded into 4 band absolute energies E(w, b); bit
    * (w, b) records the SIGN of the energy delta's time derivative,
    * (E(w,b) − E(w,b+1)) − (E(w−1,b) − E(w−1,b+1)) > 0 — the
    * band-difference double-delta that makes the bits robust to
    * volume scaling and DC shifts while tracking spectral shape. The
    * fingerprint packs 3 bits per window transition (≤ 21 bits for the
    * fixture's ≤ 8 windows) into one non-negative BIGINT; identical
    * audio shares it exactly, and near-identical audio lands within a
    * small Hamming distance (the image [[dhash]] contract, third
    * modality). All-integer, bit-exact cross-engine.
    *
    * Scale shape: rides the decode map — O(windows·16·16) integer ops
    * per clip, 8 bytes out; exact-dup grouping is a hash groupBy,
    * near-dup pairing a banded Hamming join, both over fingerprints,
    * never samples. */
  def wavFingerprint(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.map { r =>
      val n = parseWavHeader(r.media_id, r.payload)._4
      val nw = (n + 15) / 16
      val e = Array.ofDim[Long](nw, 4)
      var w = 0
      while (w < nw) {
        var k = 0
        while (k < 16) {
          var c = 0L; var j = 0
          while (j < 16) {
            val idx = w * 16 + j
            val s = if (idx < n) pcmSample(r.payload, idx).toLong else 0L
            c += s * (1 - 2 * (Integer.bitCount(j & k) & 1))
            j += 1
          }
          e(w)(k / 4) += math.abs(c)
          k += 1
        }
        w += 1
      }
      var fp = 0L; var t = 1
      while (t < nw) {
        var b = 0
        while (b < 3) {
          val dd = (e(t)(b) - e(t)(b + 1)) - (e(t - 1)(b) - e(t - 1)(b + 1))
          if (dd > 0) fp |= 1L << (3 * (t - 1) + b)
          b += 1
        }
        t += 1
      }
      (r.media_id, nw, fp)
    }.toDF("media_id", "n_windows", "fp")
  }

  /** The surviving keyframes' fingerprints under a frame-unique id
    * (`media_id * framesPerClip + frame_idx`) — the relation cross-clip
    * frame dedup joins on: feed it to [[dhashPairs]] and two clips that
    * share a scene surface as a near-dup pair of their keyframes. Same
    * selection rule as [[gifKeyframes]]; `framesPerClip` only packs the
    * id (enforced against collisions). */
  def keyframeHashes(media: Dataset[MediaRow], maxHamming: Int = 3,
      framesPerClip: Int = 4): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("frame_idx")
    gifFrameHashes(media)
      .withColumn("phi", lag(col("h_hi"), 1).over(w))
      .withColumn("plo", lag(col("h_lo"), 1).over(w))
      .filter(col("phi").isNull ||
        (bit_count(col("h_hi").bitwiseXOR(col("phi"))) +
          bit_count(col("h_lo").bitwiseXOR(col("plo")))) > maxHamming)
      .select(
        when(col("frame_idx") < framesPerClip,
            col("media_id") * framesPerClip + col("frame_idx"))
          .otherwise(raise_error(concat(lit("keyframeHashes: frame_idx "),
            col("frame_idx").cast("string"),
            lit(s" >= framesPerClip $framesPerClip — id packing collides"))))
          .as("media_id"),
        col("h_hi"), col("h_lo"))
  }

  // ---------------------------------------------------------------------
  // MP3 frame layer + H.264 Annex-B NAL layer — the CONTAINER half of the
  // two codec formats whose sample-decode stays stubbed. Both framings
  // are public bitstream specs (11-bit frame sync + 32-bit header with
  // tabulated bitrate/samplerate and a derivable frame length; 3/4-byte
  // start codes + a 1-byte NAL header), so the walk is implementable
  // byte-exactly with zero libraries. Payloads are synthesized VALID from
  // the documents fixture, and the oracle recomputes the expected
  // metadata from the SOURCE representation (doc_id arithmetic) — the
  // q89/q97 cross-representation pattern: only a faithful walker agrees.
  // ---------------------------------------------------------------------

  /** MPEG-1 Layer III bitrate table (kbps), index 1-14. */
  private val Mp3Bitrates =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)

  /** MPEG-1 sample-rate table, index 0-2. */
  private val Mp3Rates = Array(44100, 48000, 32000)

  /** Per-file MP3 frame-layer metadata: frame count, header-declared
    * rates, and the exact 1152-samples-per-frame duration. */
  final case class Mp3Features(media_id: Long, n_frames: Int,
      bitrate_kbps: Int, sample_rate: Int, n_bytes: Long,
      duration_ms: Long)

  /** REAL MP3 frame streams synthesized from the documents fixture: per
    * doc, `3 + doc_id % 4` frames of MPEG-1 Layer III framing — 0xFFFB
    * sync+header, bitrate index `1 + doc_id % 14`, sample-rate index
    * `doc_id % 3`, no padding — each frame exactly
    * `144 * bitrate / sampleRate` bytes with deterministic non-zero
    * noise standing in for the Huffman payload. Any MP3 tool walks
    * these frames (the payload just decodes to noise). */
  def mp3FromDocuments(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val brIdx = 1 + (id % 14).toInt
      val srIdx = (id % 3).toInt
      val frameLen = 144 * Mp3Bitrates(brIdx) * 1000 / Mp3Rates(srIdx)
      val nFrames = 3 + (id % 4).toInt
      val out = new Array[Byte](nFrames * frameLen)
      var f = 0
      while (f < nFrames) {
        val base = f * frameLen
        out(base) = 0xFF.toByte          // sync 11111111
        out(base + 1) = 0xFB.toByte      // sync 111 + MPEG1 + Layer III + no CRC
        out(base + 2) = ((brIdx << 4) | (srIdx << 2)).toByte // no padding
        out(base + 3) = 0x00             // stereo, no flags
        var i = 4
        while (i < frameLen) {
          out(base + i) = (((id * 31 + f * 17 + i * 7) % 255) + 1).toByte
          i += 1
        }
        f += 1
      }
      MediaRow(id, "audio/mpeg", out)
    }
  }

  /** REAL MP3 frame walk: validate the sync word + header at every
    * computed frame boundary, read the tabulated bitrate/sample-rate,
    * derive each frame's length, and walk to end-of-payload exactly.
    * Truncated streams, broken sync, or reserved header indices fail
    * the task loudly. `duration_ms` is the Layer III constant 1152
    * samples per frame over the header rate — exact integer math. */
  def mp3Meta(media: Dataset[MediaRow]): Dataset[Mp3Features] = {
    import media.sparkSession.implicits._
    media.mapPartitions(rows => rows.map { r =>
      val b = r.payload
      require(b.length >= 4, s"media ${r.media_id}: truncated MP3")
      var off = 0; var n = 0; var br = -1; var sr = -1
      while (off < b.length) {
        require(off + 4 <= b.length,
          s"media ${r.media_id}: truncated frame header at $off")
        require((b(off) & 0xFF) == 0xFF && (b(off + 1) & 0xE0) == 0xE0,
          s"media ${r.media_id}: lost frame sync at $off")
        require((b(off + 1) & 0x18) == 0x18 && (b(off + 1) & 0x06) == 0x02,
          s"media ${r.media_id}: not MPEG-1 Layer III at $off")
        val brIdx = (b(off + 2) & 0xF0) >>> 4
        val srIdx = (b(off + 2) & 0x0C) >>> 2
        require(brIdx >= 1 && brIdx <= 14,
          s"media ${r.media_id}: reserved bitrate index $brIdx")
        require(srIdx <= 2,
          s"media ${r.media_id}: reserved sample-rate index $srIdx")
        val pad = (b(off + 2) & 0x02) >>> 1
        val fLen = 144 * Mp3Bitrates(brIdx) * 1000 / Mp3Rates(srIdx) + pad
        // a fixed-rate stream: all frames must agree with the first
        if (n == 0) { br = Mp3Bitrates(brIdx); sr = Mp3Rates(srIdx) }
        else require(Mp3Bitrates(brIdx) == br && Mp3Rates(srIdx) == sr,
          s"media ${r.media_id}: rate change mid-stream at $off")
        off += fLen; n += 1
      }
      require(off == b.length,
        s"media ${r.media_id}: trailing bytes after last frame")
      Mp3Features(r.media_id, n, br, sr, b.length.toLong,
        n.toLong * 1152L * 1000L / sr)
    })
  }

  /** Per-file H.264 Annex-B NAL-layer metadata. */
  final case class H264Features(media_id: Long, n_nals: Int,
      has_sps: Boolean, has_pps: Boolean, n_idr: Int, n_slices: Int,
      payload_bytes: Long)

  /** REAL H.264 Annex-B byte streams synthesized from the documents
    * fixture: 4-byte start code + SPS, 3-byte start codes + PPS, one
    * IDR slice, then `1 + doc_id % 3` non-IDR slices — each NAL body
    * deterministic non-zero noise (zero bytes are excluded, so no
    * start-code emulation and no emulation-prevention bytes needed).
    * Body sizes derive from doc_id, so the oracle replays them. */
  def annexbFromDocuments(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val out = new java.io.ByteArrayOutputStream()
      def nal(startLen: Int, header: Int, bodyLen: Int, seed: Long): Unit = {
        if (startLen == 4) out.write(0)
        out.write(0); out.write(0); out.write(1)
        out.write(header)
        var i = 0
        while (i < bodyLen) {
          out.write((((seed * 31 + i * 7) % 255) + 1).toInt)
          i += 1
        }
      }
      nal(4, 0x67, 10 + (id % 5).toInt, id)         // SPS (ref_idc 3, type 7)
      nal(3, 0x68, 4 + (id % 3).toInt, id + 1)      // PPS (type 8)
      nal(3, 0x65, 40 + (id % 25).toInt, id + 2)    // IDR slice (type 5)
      val nSlices = 1 + (id % 3).toInt
      var s = 0
      while (s < nSlices) {                          // non-IDR slices (type 1)
        nal(3, 0x41, 20 + ((id + s) % 30).toInt, id + 3 + s)
        s += 1
      }
      MediaRow(id, "video/avc", out.toByteArray)
    }
  }

  /** REAL Annex-B NAL walk: scan 3/4-byte start codes, validate the
    * forbidden-zero bit, classify `nal_unit_type` (5 low bits), and
    * account every payload byte to a NAL. Garbage before the first
    * start code, or a set forbidden bit, fails the task loudly. */
  def h264Meta(media: Dataset[MediaRow]): Dataset[H264Features] = {
    import media.sparkSession.implicits._
    media.mapPartitions(rows => rows.map { r =>
      val b = r.payload
      def startCodeAt(i: Int): Int =
        if (i + 3 <= b.length && b(i) == 0 && b(i + 1) == 0 && b(i + 2) == 1) 3
        else if (i + 4 <= b.length && b(i) == 0 && b(i + 1) == 0 &&
          b(i + 2) == 0 && b(i + 3) == 1) 4
        else 0
      require(startCodeAt(0) > 0,
        s"media ${r.media_id}: no leading Annex-B start code")
      var i = 0; var nNals = 0; var nIdr = 0; var nSlices = 0
      var sps = false; var pps = false; var payload = 0L
      while (i < b.length) {
        val sc = startCodeAt(i)
        require(sc > 0, s"media ${r.media_id}: lost start code at $i")
        i += sc
        require(i < b.length, s"media ${r.media_id}: start code at EOF")
        val h = b(i) & 0xFF
        require((h & 0x80) == 0,
          s"media ${r.media_id}: forbidden_zero_bit set at $i")
        val t = h & 0x1F
        nNals += 1
        t match {
          case 7 => sps = true
          case 8 => pps = true
          case 5 => nIdr += 1; nSlices += 1
          case 1 => nSlices += 1
          case _ => ()
        }
        i += 1
        val bodyStart = i
        while (i < b.length && startCodeAt(i) == 0) i += 1
        payload += (i - bodyStart).toLong
      }
      H264Features(r.media_id, nNals, sps, pps, nIdr, nSlices, payload)
    })
  }

  /** Build a media table from the documents fixture: text bytes stand in
    * for payloads. Demonstrates the schema + partitioning (hash by id so
    * payload batches spread evenly regardless of size skew). */
  /** A REAL mixed-format media corpus from the documents fixture: even
    * doc_ids become binary P5 PGM payloads, odd ones become
    * DEFLATE-compressed PNGs of the SAME 16x8 text-derived gray grid —
    * so the generic [[extractFeatures]] dispatch decodes two genuine
    * formats in one pass, and (PNG being lossless) a duplicate text
    * yields identical pixel statistics through either codec. */
  def mediaFromDocuments(spark: SparkSession, docs: DataFrame,
      partitions: Int = 32): Dataset[MediaRow] = {
    import spark.implicits._
    pgmFromDocuments(docs.filter(col("doc_id") % 2 === 0))
      .unionByName(pngFromDocuments(docs.filter(col("doc_id") % 2 === 1)))
      .repartition(partitions, col("media_id"))
      .as[MediaRow]
  }
}
