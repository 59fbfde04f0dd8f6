package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media (image/audio/video) modeled as opaque
  * `binary` columns plus typed metadata, processed in partition-sized
  * batches. Image decode is REAL for the formats the JDK ships codecs for
  * (PNG/JPEG/GIF/BMP via `javax.imageio`), audio for WAV/AIFF/AU PCM via
  * the sampled-sound stack, and video CONTAINER metadata (dimensions,
  * duration) via a hand-rolled ISO-BMFF box parse — all no external deps.
  * Only bytes none of those can parse (corrupt blobs, exotic containers)
  * fall back to `decodeStub`, a deterministic fake, so the Spark-side
  * plumbing — schema, batch iteration shape, partitioning — always runs
  * end-to-end no matter the input.
  */
object MultimodalOps {

  /** Typed result of "decoding" one media blob. */
  case class MediaMeta(doc_id: Long, n_bytes: Int, width: Int, height: Int,
      frames: Int, checksum: Long)

  /** STUB decode: a real implementation would parse the container format;
    * this derives deterministic pseudo-metadata from the bytes so the
    * pipeline is testable end-to-end. */
  def decodeStub(id: Long, bytes: Array[Byte]): MediaMeta = {
    var sum = 0L
    var i = 0
    while (i < bytes.length) { sum = sum * 131 + (bytes(i) & 0xff); i += 1 }
    MediaMeta(id, bytes.length,
      64 + (bytes.length % 577), 64 + (bytes.length * 31 % 449),
      1 + (bytes.length % 7), sum)
  }

  /** Real image decode via the JDK's ImageIO: actual raster dimensions
    * plus an order-deterministic checksum over the ARGB pixels (the "pixel
    * stats" a feature extractor would start from). Returns None when the
    * JDK has no codec for the bytes — the caller falls back to the stub. */
  def decodeImage(id: Long, bytes: Array[Byte]): Option[MediaMeta] =
    try {
      // MemoryCacheImageInputStream keeps the decode fully in memory —
      // ImageIO's default path spools every blob through an executor-disk
      // temp file, a per-row file create/delete on the batch hot path
      val img = javax.imageio.ImageIO.read(
        new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes)))
      if (img == null) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        // one bulk ARGB grab instead of a per-pixel getRGB (which pays a
        // color-model conversion per call)
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        var sum = 0L
        var i = 0
        while (i < px.length) { sum = sum * 131 + px(i); i += 1 }
        Some(MediaMeta(id, bytes.length, w, h, 1, sum))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Real audio decode via the JDK's sampled-sound stack (WAV/AIFF/AU PCM
    * — no external deps). The MediaMeta fields carry the audio analogues:
    * width = sample rate (Hz), height = channels, frames = sample frames,
    * checksum = order-deterministic fold over the raw PCM bytes (the
    * signal stats a feature extractor starts from). None when the bytes
    * are not a parseable audio container — the caller falls through. */
  def decodeAudio(id: Long, bytes: Array[Byte]): Option[MediaMeta] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        val frames = ais.getFrameLength
        // AudioSystem.NOT_SPECIFIED (-1, legal for streaming-writer AU
        // files) or an int-overflowing length is not real metadata —
        // fall through to the stub rather than report frames = -1
        if (frames < 0 || frames > Int.MaxValue) return None
        var sum = 0L
        val buf = new Array[Byte](8192)
        var n = ais.read(buf)
        while (n > 0) {
          var i = 0
          while (i < n) { sum = sum * 131 + (buf(i) & 0xff); i += 1 }
          n = ais.read(buf)
        }
        Some(MediaMeta(id, bytes.length, fmt.getSampleRate.toInt,
          fmt.getChannels, frames.toInt, sum))
      } finally ais.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Real video-container metadata via a pure-JVM ISO-BMFF (MP4/MOV) box
    * parse — the JDK ships no video codec, but the CONTAINER header is
    * plain big-endian structure: walk the top-level boxes, require a
    * leading `ftyp` (so arbitrary blobs never misdetect as video), then
    * read `moov/mvhd` for duration and the first `moov/trak/tkhd` with
    * nonzero 16.16 fixed-point dimensions. MediaMeta carries the video
    * analogues: width/height = presentation dims, frames = duration in
    * ms (mvhd duration/timescale), checksum = the same order-exact byte
    * fold as the stub. Pixel/frame DECODE stays out of scope (no codec
    * in the JDK) — but the metadata is now parsed, not faked. None on
    * any structural violation — the caller falls through to the stub. */
  def decodeVideo(id: Long, bytes: Array[Byte]): Option[MediaMeta] =
    try {
      def u32(o: Int): Long =
        ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
          ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
      def u64(o: Int): Long = (u32(o) << 32) | u32(o + 4)
      def boxType(o: Int): String =
        new String(bytes, o + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      // payload range of the first `tpe` box among the children of
      // [start, end), or None — sizes are validated so a lying header
      // can't walk out of bounds
      def find(start: Int, end: Int, tpe: String): Option[(Int, Int)] = {
        var o = start
        while (o + 8 <= end) {
          var size = u32(o)
          var hdr = 8
          if (size == 1) { // 64-bit largesize
            if (o + 16 > end) return None
            size = u64(o + 8); hdr = 16
          } else if (size == 0) size = end - o // box runs to container end
          if (size < hdr || o + size > end) return None
          if (boxType(o) == tpe) return Some((o + hdr, o + size.toInt))
          o += size.toInt
        }
        None
      }
      if (bytes.length < 16 || boxType(0) != "ftyp") return None
      val (moovS, moovE) = find(0, bytes.length, "moov").getOrElse(return None)
      val (mvhdS, _) = find(moovS, moovE, "mvhd").getOrElse(return None)
      val durMs = {
        val v = bytes(mvhdS) & 0xff
        val (scale, dur) =
          if (v == 1) (u32(mvhdS + 20), u64(mvhdS + 24))
          else (u32(mvhdS + 12), u32(mvhdS + 16))
        if (scale == 0) return None
        dur * 1000L / scale
      }
      // first trak whose tkhd has nonzero 16.16 dims = the video track
      // (audio/hint tracks carry 0x0); walk trak siblings manually
      var dims: Option[(Int, Int)] = None
      var o = moovS
      while (dims.isEmpty && o < moovE) {
        find(o, moovE, "trak") match {
          case Some((tS, tE)) =>
            for ((kS, kE) <- find(tS, tE, "tkhd")) {
              val v = bytes(kS) & 0xff
              val wOff = kS + (if (v == 1) 88 else 76)
              if (wOff + 8 <= kE) {
                val (w, h) = ((u32(wOff) >> 16).toInt, (u32(wOff + 4) >> 16).toInt)
                if (w > 0 && h > 0) dims = Some((w, h))
              }
            }
            o = tE
          case None => o = moovE
        }
      }
      val (w, h) = dims.getOrElse(return None)
      var sum = 0L
      var i = 0
      while (i < bytes.length) { sum = sum * 131 + (bytes(i) & 0xff); i += 1 }
      if (durMs > Int.MaxValue) None
      else Some(MediaMeta(id, bytes.length, w, h, durMs.toInt, sum))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Batch decode over a binary column — mapPartitions so the decoder
    * amortizes per-batch init (codec context, scratch buffers) exactly
    * like a pandas-UDF batch would. Real decoders first (ImageIO for
    * raster formats, the sampled-sound stack for PCM audio, the BMFF box
    * parse for MP4/MOV container metadata); only bytes none of them can
    * parse (corrupt blobs, exotic containers) take the deterministic
    * stub, so one bad blob never poisons the batch. */
  def decodeBatch(spark: SparkSession, blobs: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    blobs.select(col("doc_id").cast("long"), col("media").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, b) =>
          decodeImage(id, b).orElse(decodeAudio(id, b))
            .orElse(decodeVideo(id, b))
            .getOrElse(decodeStub(id, b))
        }
      }
  }

  /** STUB resize: a real implementation would rescale pixels; the metadata
    * transform (aspect-preserving fit into `maxDim`) is the real part, and
    * runs in the same mapPartitions batch shape as decode. */
  def resizeBatch(decoded: Dataset[MediaMeta], maxDim: Int): Dataset[MediaMeta] = {
    import decoded.sparkSession.implicits._
    decoded.mapPartitions(_.map { m =>
      val scale = math.min(1.0, maxDim.toDouble / math.max(m.width, m.height))
      m.copy(width = math.max(1, (m.width * scale).toInt),
        height = math.max(1, (m.height * scale).toInt))
    })
  }

  /** Frame sampling: every `step`-th frame index per video — the explode
    * shape a frame-level feature extractor consumes. */
  def frameSample(decoded: Dataset[MediaMeta], step: Int): DataFrame =
    decoded.toDF().select(col("doc_id"),
      explode(sequence(lit(0), col("frames") - 1, lit(step))).as("frame_idx"))

  // Oracle-checkable slice of the pipeline: binary length + content hash +
  // the deterministic fake dimensions, all SQL-expressible.
  private def features(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("media"))
      .select(col("doc_id"),
        octet_length(col("media")).cast("long").as("n_bytes"), // DuckDB octet_length is BIGINT
        sha2(col("media"), 256).as("sha"))
      .withColumn("width", lit(64) + col("n_bytes") % 577)
      .withColumn("height", lit(64) + (col("n_bytes") * 31) % 449)
      .withColumn("frames", lit(1) + col("n_bytes") % 7)
      .orderBy("doc_id")

  private val featuresSql =
    """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
      |  sha256(text) AS sha,
      |  64 + octet_length(encode(text)) % 577 AS width,
      |  64 + (octet_length(encode(text)) * 31) % 449 AS height,
      |  1 + octet_length(encode(text)) % 7 AS frames
      |FROM documents ORDER BY doc_id""".stripMargin

  // Frame-sampling as an oracle-checkable query: every 2nd frame index of
  // the deterministic fake frame counts (sequence/explode ≡ range/unnest).
  private def framesQ(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        (lit(1) + octet_length(encode(col("text"), "UTF-8")).cast("long") % 7)
          .cast("int").as("frames"))
      .select(col("doc_id"),
        explode(sequence(lit(0), col("frames") - 1, lit(2))).as("frame_idx"))
      .orderBy("doc_id", "frame_idx")

  private val framesSql =
    """SELECT doc_id, CAST(unnest(range(0,
      |    1 + octet_length(encode(text)) % 7, 2)) AS INT) AS frame_idx
      |FROM documents ORDER BY doc_id, frame_idx""".stripMargin

  // ---- perceptual (average-hash) image dedup ----
  // The image-side near-dup detector: 8×8 box-average grayscale hash, so
  // re-encoded / slightly-retouched copies of the same picture land
  // within a few bits of each other. Candidate generation is the SimHash
  // discipline: split the 64-bit hash into 4 × 16-bit bands; hamming ≤ 3
  // pigeonholes at least one band to agree exactly, so candidates come
  // from a (band, key) equi-join — never a pairwise scan.

  /** 8×8 average-hash of a decodable image (None when no JDK codec or
    * the raster is smaller than the grid). Box-average per cell over the
    * luma (integer sums — deterministic), bit = cell mean > global mean. */
  def imageAHash(bytes: Array[Byte]): Option[Long] =
    try {
      val img = javax.imageio.ImageIO.read(
        new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes)))
      if (img == null || img.getWidth < 8 || img.getHeight < 8) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        val sums = new Array[Long](64)
        val counts = new Array[Long](64)
        var y = 0
        while (y < h) {
          val cy = y * 8 / h
          var x = 0
          while (x < w) {
            val p = px(y * w + x)
            // integer luma (BT.601 weights scaled by 1000)
            val luma = (((p >> 16) & 0xff) * 299L + ((p >> 8) & 0xff) * 587L +
              (p & 0xff) * 114L)
            val c = cy * 8 + x * 8 / w
            sums(c) += luma
            counts(c) += 1
            x += 1
          }
          y += 1
        }
        var total = 0.0
        val means = Array.tabulate(64)(i => sums(i).toDouble / counts(i))
        means.foreach(total += _)
        val mean = total / 64
        var hash = 0L
        var i = 0
        while (i < 64) { if (means(i) > mean) hash |= (1L << i); i += 1 }
        Some(hash)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** 64-bit DCT perceptual hash (the classic pHash, the structural
    * companion of [[imageAHash]]): nearest-neighbor resample of the
    * luma to 32×32, separable 2-D DCT-II, keep the 8×8 low-frequency
    * block, bit = coefficient > median of the 63 AC coefficients (DC
    * excluded — it carries only global brightness, and its bit stays
    * 0). Thresholding AC energy against its own median makes the hash
    * invariant to affine brightness/contrast maps (a·luma + b scales
    * every AC coefficient by a and shifts only DC) and stable under
    * monotone tone curves on smooth imagery — it keys on the
    * low-frequency STRUCTURE of the picture where the box average keys
    * on per-cell levels; both ship because their failure modes differ
    * (near-median AC ties flip DCT bits on flat synthetic tiles, tone
    * curves move aHash cell means on real photos). Double-precision
    * DCT is deterministic (fixed op order, one JVM libm) and the hash
    * is persisted for the oracle, so the band-join stays exactly
    * mirrored. */
  def imageDctHash(bytes: Array[Byte]): Option[Long] =
    try {
      val img = javax.imageio.ImageIO.read(
        new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(bytes)))
      if (img == null || img.getWidth < 8 || img.getHeight < 8) None
      else {
        val N = 32
        val (w, h) = (img.getWidth, img.getHeight)
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        val lum = Array.ofDim[Double](N, N)
        var cy = 0
        while (cy < N) {
          val sy = cy * h / N
          var cx = 0
          while (cx < N) {
            val p = px(sy * w + cx * w / N)
            lum(cy)(cx) = ((p >> 16) & 0xff) * 299.0 +
              ((p >> 8) & 0xff) * 587.0 + (p & 0xff) * 114.0
            cx += 1
          }
          cy += 1
        }
        // separable DCT-II via a precomputed cosine table: rows, then
        // columns — only the first 8 output frequencies are ever needed
        val cos = Array.tabulate(8, N)((k, n) =>
          math.cos(math.Pi / N * (n + 0.5) * k))
        val rows = Array.ofDim[Double](N, 8)
        var y = 0
        while (y < N) {
          var v = 0
          while (v < 8) {
            var s = 0.0
            var x = 0
            while (x < N) { s += lum(y)(x) * cos(v)(x); x += 1 }
            rows(y)(v) = s
            v += 1
          }
          y += 1
        }
        val coef = new Array[Double](64)
        var u = 0
        while (u < 8) {
          var v = 0
          while (v < 8) {
            var s = 0.0
            var yy = 0
            while (yy < N) { s += rows(yy)(v) * cos(u)(yy); yy += 1 }
            coef(u * 8 + v) = s
            v += 1
          }
          u += 1
        }
        val ac = coef.drop(1).sorted
        val median = ac(31) // lower median of the 63 AC coefficients
        var hash = 0L
        var i = 1
        while (i < 64) { if (coef(i) > median) hash |= (1L << i); i += 1 }
        Some(hash)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Deterministic 16×16 PNG for a document: each pixel's gray level is a
    * hash of one token, so the corpus' planted near-duplicate TEXTS
    * become near-duplicate IMAGES — and the query exercises the real
    * encode→decode→hash codec path end to end. */
  def renderDocPng(text: String): Array[Byte] = {
    val toks = text.split(' ').filter(_.nonEmpty)
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var p = 0
    while (p < 256) {
      val g =
        if (toks.isEmpty) 0
        else (graft.expr.TextHashOps.mix64(
          toks(p % toks.length).hashCode.toLong) & 0xff).toInt
      img.setRGB(p % 16, p / 16, (g << 16) | (g << 8) | g)
      p += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  // ---- audio energy fingerprint (the audio twin of the average-hash) ----

  /** 64-window energy hash of a decodable PCM clip: mean |amplitude| per
    * equal-width window over the decoded 16-bit little-endian samples,
    * bit = window energy > clip mean. Re-encoded or lightly edited copies
    * of the same clip agree on almost all bits; the integer energy sums
    * keep it deterministic. None when javax.sound has no codec or the
    * clip is shorter than the window grid. */
  def audioEnergyHash(bytes: Array[Byte]): Option[Long] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        if (fmt.getSampleSizeInBits != 16 || fmt.isBigEndian) None
        else {
          val raw = ais.readAllBytes()
          val nSamp = raw.length / 2
          if (nSamp < 64) None
          else {
            val sums = new Array[Long](64)
            val counts = new Array[Long](64)
            var i = 0
            while (i < nSamp) {
              val s = ((raw(2 * i + 1) << 8) | (raw(2 * i) & 0xff)).toShort
              val w = i * 64 / nSamp
              sums(w) += math.abs(s.toLong)
              counts(w) += 1
              i += 1
            }
            val means = Array.tabulate(64)(w => sums(w).toDouble / counts(w))
            val mean = means.sum / 64
            var hash = 0L
            var w = 0
            while (w < 64) { if (means(w) > mean) hash |= (1L << w); w += 1 }
            Some(hash)
          }
        }
      } finally ais.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  private val PhashMaxHam = 3

  /** SimHash-discipline candidate pairs over a 64-bit perceptual hash
    * frame (doc_id, ahash): 4 × 16-bit band equi-join, hamming ≤ maxHam
    * (pigeonhole: ≤ 3 flipped bits leave ≥ 1 band exact). Shared by the
    * image and audio fingerprint dedups. */
  private def bandedHamPairs(hashes: DataFrame, maxHam: Int): DataFrame = {
    val bands = hashes.select(col("doc_id"), col("ahash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("ahash"), b * 16)
            .bitwiseAND(lit(0xffffL)).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("ahash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val a = bands.select(col("band"), col("key"),
      col("doc_id").as("a_id"), col("ahash").as("a_hash"))
    val b = bands.select(col("band"), col("key"),
      col("doc_id").as("b_id"), col("ahash").as("b_hash"))
    a.join(b, Seq("band", "key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_hash").bitwiseXOR(col("b_hash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHam)
      .orderBy("a_id", "b_id")
  }

  // ---- oracle plumbing for the band-join ----
  // The codec kernels (ImageIO / javax.sound) have no DuckDB mirror, but
  // everything AFTER them is relational: persist the computed
  // (doc_id, ahash) frame to a content-keyed tmp table during the query
  // and mirror bandedHamPairs in SQL over read_parquet of that table —
  // upgrading both media dedups from rows-only to exact on the whole
  // band-extract → pigeonhole self-join → hamming filter pipeline. The
  // oracle defs read the frame paths AFTER the queries ran (Verify dumps
  // oracle_sql.json last), so the SQL always points at the frame the
  // compared run actually used.

  /** SQL twin of [[bandedHamPairs]]: DuckDB's arithmetic `>>` equals
    * Spark's shiftrightunsigned once masked to the low 16 bits, and the
    * hamming kernel is bit_count over xor — all-integer end to end. */
  private def bandedHamPairsSql(sub: String, maxHam: Int): String =
    s"""WITH h AS (
       |  SELECT doc_id, ahash FROM read_parquet('${ContentKey.oracleFrame(sub)}/*.parquet')),
       |bands AS (
       |  SELECT doc_id, ahash, b.band,
       |    (ahash >> (b.band * 16)) & 65535 AS key
       |  FROM h, (SELECT unnest([0, 1, 2, 3]) AS band) b),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    a.ahash AS a_hash, b.ahash AS b_hash
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id,
       |  CAST(bit_count(xor(a_hash, b_hash)) AS INT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(a_hash, b_hash)) <= $maxHam
       |ORDER BY a_id, b_id""".stripMargin

  private def phashDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hashes = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        imageAHash(renderDocPng(text)).map(h => (id, h))
      })
      .toDF("doc_id", "ahash")
    bandedHamPairs(
      ContentKey.persistForOracle(s, dir, "phash", hashes), PhashMaxHam)
  }

  private def dctDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hashes = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        imageDctHash(renderDocPng(text)).map(h => (id, h))
      })
      .toDF("doc_id", "ahash")
    bandedHamPairs(
      ContentKey.persistForOracle(s, dir, "dct", hashes), PhashMaxHam)
  }

  /** Deterministic mono 16-bit WAV for a document: a sequence of short
    * constant-amplitude segments, one per token, amplitude from the token
    * hash — near-duplicate texts render to near-identical waveforms, and
    * the query exercises the real javax.sound encode→decode path. */
  def renderDocWav(text: String): Array[Byte] = {
    val toks = text.split(' ').filter(_.nonEmpty)
    val segLen = 64 // samples per token segment
    val n = math.max(1, toks.length) * segLen
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val tok = if (toks.isEmpty) "" else toks(i / segLen)
      val amp = (graft.expr.TextHashOps.mix64(tok.hashCode.toLong) & 0x3fff).toShort
      pcm(2 * i) = (amp & 0xff).toByte
      pcm(2 * i + 1) = ((amp >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** A "re-encoded elsewhere" copy of a clip: 2 % louder plus sporadic
    * single-sample noise — what a transcode/normalize pass does to the
    * waveform. The energy hash thresholds windows against the clip mean,
    * so uniform gain cancels and the copy lands within a few bits. */
  private[graft] def reencodedCopy(wav: Array[Byte]): Array[Byte] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      val fmt = ais.getFormat
      val raw = try ais.readAllBytes() finally ais.close()
      var i = 0
      while (i + 1 < raw.length) {
        val s = ((raw(i + 1) << 8) | (raw(i) & 0xff)).toShort
        val v0 = (s * 102L) / 100L + (if ((i / 2) % 37 == 0) 120 else 0)
        val v = math.max(Short.MinValue, math.min(Short.MaxValue, v0)).toInt
        raw(i) = (v & 0xff).toByte
        raw(i + 1) = ((v >> 8) & 0xff).toByte
        i += 2
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(
        new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(raw), fmt, raw.length / 2L),
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    } catch { case scala.util.control.NonFatal(_) => wav }

  /** Every `AudioCopyMod`-th doc's clip also exists as a re-encoded copy
    * (id offset by [[AudioCopyBase]]) — the dedup must recover exactly
    * those planted duplicate pairs. Corpus clips themselves measure ≥ 11
    * bits apart (no false pairs at the ≤ 3 threshold). */
  private[graft] val AudioCopyMod = 5
  private[graft] val AudioCopyBase = 1000000000L

  private def audioDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hashes = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        val wav = renderDocWav(text)
        val orig = audioEnergyHash(wav).map(h => (id, h))
        val copy =
          if (id % AudioCopyMod == 0)
            audioEnergyHash(reencodedCopy(wav)).map(h => (id + AudioCopyBase, h))
          else None
        orig.iterator ++ copy.iterator
      })
      .toDF("doc_id", "ahash")
    bandedHamPairs(
      ContentKey.persistForOracle(s, dir, "audio", hashes), PhashMaxHam)
  }

  // ---- audio silence-split segmentation (VAD-style) ----

  /** Integer per-window energies of a decodable PCM clip: mean
    * |amplitude| per equal-width window as BIGINT (sum DIV count — fully
    * integer, so the relational segmentation downstream mirrors
    * exactly). Kept separate from [[audioEnergyHash]] (whose double
    * means and hash semantics are pinned by the dedup oracle). */
  def audioWindowEnergies(bytes: Array[Byte], nWin: Int): Option[Array[Long]] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        if (fmt.getSampleSizeInBits != 16 || fmt.isBigEndian) None
        else {
          val raw = ais.readAllBytes()
          val nSamp = raw.length / 2
          if (nSamp < nWin) None
          else {
            val sums = new Array[Long](nWin)
            val counts = new Array[Long](nWin)
            var i = 0
            while (i < nSamp) {
              val s = ((raw(2 * i + 1) << 8) | (raw(2 * i) & 0xff)).toShort
              val w = i * nWin / nSamp
              sums(w) += math.abs(s.toLong)
              counts(w) += 1
              i += 1
            }
            Some(Array.tabulate(nWin)(w => sums(w) / counts(w)))
          }
        }
      } finally ais.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The audio-curation segmentation every speech pipeline runs before
    * transcription: split each clip into active segments at silence. A
    * window is ACTIVE when its integer energy exceeds half the clip's
    * mean window energy; maximal runs of active windows become segments
    * (the gaps-and-islands discipline of `dedup_substring`, here over a
    * 64-window grid). The codec decode is the only kernel step — the
    * per-window energy frame persists content-keyed, and thresholding,
    * run grouping, and segment stats are plain relational ops the DuckDB
    * mirror replays exactly. At 100 TB: one mapPartitions decode pass
    * (embarrassingly parallel), then windows/aggregates keyed by doc_id.
    */
  private val SegWindows = 64

  private def audioSegments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val energies = Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        audioWindowEnergies(renderDocWav(text), SegWindows)
          .toSeq.flatMap(_.iterator.zipWithIndex.map { case (e, w) =>
            (id, w.toLong, e)
          })
      })
      .toDF("doc_id", "win", "e")
    val persisted = ContentKey.persistForOracle(s, dir, "audio_energy", energies)
    val wd = Window.partitionBy("doc_id")
    val active = persisted
      .withColumn("thr", expr(s"(sum(e) OVER (PARTITION BY doc_id) DIV $SegWindows) DIV 2"))
      .filter(col("e") > col("thr"))
      .withColumn("rn", row_number().over(wd.orderBy("win")))
      .withColumn("grp", col("win") - col("rn"))
    val segs = active.groupBy("doc_id", "grp")
      .agg(min(col("win")).as("start_win"), max(col("win")).as("end_win"),
        count(lit(1)).as("n_win"), sum(col("e")).as("e_sum"))
    segs
      .withColumn("seg", row_number().over(
        Window.partitionBy("doc_id").orderBy("start_win")))
      .select(col("doc_id"), col("seg"), col("start_win"),
        col("end_win"), col("n_win"), col("e_sum"))
      .orderBy("doc_id", "seg")
  }

  private def audioSegmentsSql: String =
    s"""WITH en AS (
       |  SELECT doc_id, win, e
       |  FROM read_parquet('${ContentKey.oracleFrame("audio_energy")}/*.parquet')),
       |act AS (
       |  SELECT doc_id, win, e,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY win) AS rn
       |  FROM (
       |    SELECT doc_id, win, e,
       |      (CAST(sum(e) OVER (PARTITION BY doc_id) AS BIGINT)
       |        // $SegWindows) // 2 AS thr
       |    FROM en)
       |  WHERE e > thr),
       |segs AS (
       |  SELECT doc_id, win - rn AS grp,
       |    min(win) AS start_win, max(win) AS end_win,
       |    count(*) AS n_win, CAST(sum(e) AS BIGINT) AS e_sum
       |  FROM act GROUP BY 1, 2)
       |SELECT doc_id,
       |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_win)
       |    AS INT) AS seg,
       |  start_win, end_win, n_win, e_sum
       |FROM segs ORDER BY doc_id, seg""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "media_audio_segments" -> (audioSegments _),
    "multimodal_features" -> (features _),
    "multimodal_frames" -> (framesQ _),
    // band-join oracled over the persisted hash frames; the codec
    // kernels themselves are pinned by MultimodalSpec's planted
    // near-identical real media
    "media_phash_dedup" -> (phashDedup _),
    "media_dcthash_dedup" -> (dctDedup _),
    "media_audio_dedup" -> (audioDedup _))

  // def, not val: the media mirrors embed the hash-frame paths recorded
  // when the queries last ran (Verify dumps oracle_sql.json afterwards)
  def oracle: Map[String, String] = Map(
    "media_audio_segments" -> audioSegmentsSql,
    "multimodal_features" -> featuresSql,
    "multimodal_frames" -> framesSql,
    "media_phash_dedup" -> bandedHamPairsSql("phash", PhashMaxHam),
    "media_dcthash_dedup" -> bandedHamPairsSql("dct", PhashMaxHam),
    "media_audio_dedup" -> bandedHamPairsSql("audio", PhashMaxHam))
}
