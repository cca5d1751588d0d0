package graft.analytics

import graft.Tables._
import graft.analytics.Caches.TrackedPersist
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (north-star EXT): media as opaque
  * `binary` columns + typed metadata struct, with decode / feature-
  * extract / frame-sample stages. The stub surface has shrunk round
  * over round: WAV/BMP (r8) and PNG (r9) are full genuine decoders,
  * JPEG (r9) round-trips through the JDK's real codec behind a
  * tolerance gate, MP4 (r9) genuinely parses the ISO BMFF container,
  * and animated GIF (r9) does REAL multi-frame extraction with an
  * exact-replay oracle; MJPEG-in-AVI (r10) genuinely demuxes and
  * decodes a COMPRESSED video codec, so the only remaining stub is
  * INTER-frame codec decode (`decodeBatch` below — no H.264-class
  * codec anywhere in this container). Everything Spark-side is real
  * throughout: schema,
  * batch shape, partitioning, and the per-partition processing
  * pattern (`mapPartitions` — the Scala analogue of `mapInPandas`
  * batch processing).
  *
  * Scale design: assets process partition-local (no shuffle); binary
  * payloads stay columnar in parquet; metadata projections prune the
  * binary column entirely when not selected (verify via ReadSchema in
  * the plan). Decoder stages process a whole partition iterator at a
  * time, amortizing model/codec init per partition exactly like a
  * Pandas-UDF batch would.
  */
object Multimodal {

  final case class Asset(asset_id: Long, content: Array[Byte], media_type: String)
  final case class AssetFeatures(asset_id: Long, n_bytes: Int, sha256: String,
      n_frames: Int, features: Array[Float])

  /** EVERY synth-parse query in this file (and warc_parse /
    * binary_codecs) fans its input stream to full parallelism before
    * the per-partition codec loop. This is the right trade at ANY
    * scale — per-row codec work is 10³–10⁶× the shuffle cost of an id
    * — and at test SF it is load-bearing: the corpus is ONE small
    * parquet split, which would otherwise serialize tens of thousands
    * of encode/decode ops on a single task (measured: multimodal_mjpeg
    * 4.5 s → 0.46 s, multimodal_jpeg 1.54 → 0.36 s at sf0.1).
    * Round-robin, not hash: there is no key, only width. PlanSpec
    * machine-checks the pattern per query (the r10 finding class). */
  private[analytics] def fannedIds(s: SparkSession, d: String): org.apache.spark.sql.Dataset[Long] = {
    import s.implicits._
    documents(s, d).select(col("doc_id")).as[Long]
      .repartition(s.sparkContext.defaultParallelism)
  }

  /** Payload-carrying variant of the fan-out policy: fan to full
    * width ONLY when the scan arrives in fewer splits than the
    * cluster is wide. Unlike [[fannedIds]] this shuffle carries the
    * row payload, so a corpus already split wide must take zero
    * exchanges; when it does fire (test SF: one split) the per-row
    * codec work dwarfs the payload shuffle. One definition so the
    * gate can't drift between payload-carrying codec loops (PlanSpec
    * machine-checks the fan per query). */
  private[analytics] def fanWhenNarrow[T](s: SparkSession,
      ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] = {
    val width = s.sparkContext.defaultParallelism
    if (ds.rdd.getNumPartitions < width) ds.repartition(width) else ds
  }

  /** Release per-partition codec contexts when the TASK ends — success
    * or failure — via the TaskContext completion listener (a finally
    * around mapPartitions cannot cover lazy consumption of the
    * returned iterator). No-op outside a task (mapPartitions bodies
    * always run inside one; the guard keeps driver-side unit calls
    * harmless). */
  private[analytics] def disposeAtTaskEnd(release: (() => Unit)*): Unit = {
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null)
      tc.addTaskCompletionListener[Unit](_ => release.foreach(r => r()))
  }

  /** documents → asset table: text bytes standing in for media blobs. */
  def assets(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id").as("asset_id"),
      col("text").cast("binary").as("content"),
      lit("application/octet-stream").as("media_type"))

  /** STUB decoder: deterministic pseudo-features from content bytes.
    * A real deployment swaps `decodeBatch` for a codec/model call; the
    * per-partition batching, schema and plumbing stay identical. */
  def decodeBatch(batch: Iterator[Asset]): Iterator[AssetFeatures] =
    batch.map { a =>
      val md  = java.security.MessageDigest.getInstance("SHA-256")
      val dig = md.digest(a.content)
      val hex = dig.map("%02x".format(_)).mkString
      // fake 8-dim feature vector from digest bytes; fake frame count
      // ~ one "frame" per 256 bytes of payload
      val feats = dig.take(8).map(b => (b & 0xff) / 255.0f)
      AssetFeatures(a.asset_id, a.content.length, hex,
        a.content.length / 256 + 1, feats)
    }

  /** Full typed pipeline: binary assets → per-partition stub decode →
    * typed features Dataset (real partition-local batch processing). */
  def extractFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    assets(s, d).as[Asset].mapPartitions(decodeBatch).toDF()
  }

  /** Driver-checkable face of `extractFeatures`: the float feature
    * vector is emitted as a csv of its source digest bytes
    * (round(f·255) inverts the stub's b/255 scaling exactly — float
    * error ≪ 0.5), so every column is a sortable scalar and the whole
    * row is DuckDB-expressible. The typed Dataset path itself stays the
    * library surface (spec-tested). */
  def featuresScalar(s: SparkSession, d: String): DataFrame =
    extractFeatures(s, d).select(
      col("asset_id"), col("n_bytes"), col("sha256"), col("n_frames"),
      concat_ws(",",
        transform(col("features"), f => round(f * 255).cast("int").cast("string")))
        .as("features_b"))

  /** Oracle-checkable projection of the decode metadata (sha/byte-len/
    * frame-sample count are engine-portable functions of the bytes). */
  def multimodalStub(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"),
      octet_length(col("text")).as("n_bytes"),
      sha2(col("text").cast("binary"), 256).as("content_sha"),
      (floor(octet_length(col("text")) / lit(256)) + 1).cast("int").as("n_frames"))

  /** Frame-sampling plan: every 4th frame index and its byte offset
    * per asset, derived from metadata alone — the binary column is
    * pruned from the scan entirely (ReadSchema shows only the length
    * source). This is the Spark shape of video frame sampling: a
    * generator (sequence + explode) fans each asset out to O(frames)
    * rows with no shuffle, and the downstream decoder consumes
    * (asset_id, frame_idx) batches partition-locally. */
  def multimodalFrames(s: SparkSession, d: String): DataFrame = {
    val nFrames = (floor(octet_length(col("text")) / lit(256)) + 1).cast("int")
    documents(s, d)
      .select(col("doc_id").as("asset_id"), nFrames.as("n_frames"))
      .select(col("asset_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(4))).as("f"))
      .select(col("asset_id"), col("n_frames"),
        col("f").cast("long").as("frame_idx"),
        (col("f") * 256L).as("byte_off"))
  }

  /** Resize stage: stride-downsample the payload bytes (every 4th byte
    * — the nearest-neighbor-resize analog on the fake media), emitting
    * the resized size + content hash. Like the decoder, the byte work
    * runs partition-local in `mapPartitions` (a real resize swaps the
    * stride loop for a codec call; batch shape and schema stay
    * identical); no shuffle anywhere. The oracle recomputes the same
    * stride sample character-wise and hashes it. */
  def multimodalResize(s: SparkSession, d: String, stride: Int = 4): DataFrame = {
    import s.implicits._
    assets(s, d).as[Asset].mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      it.map { a =>
        val resized = Array.tabulate((a.content.length + stride - 1) / stride)(
          i => a.content(i * stride))
        md.reset()
        val hex = md.digest(resized).map("%02x".format(_)).mkString
        (a.asset_id, a.content.length, resized.length, hex)
      }
    }.toDF("asset_id", "n_bytes", "resized_bytes", "resized_sha")
  }

  // ---------------------------------------------------------------
  // REAL binary decode (r8): WAV and BMP need no codec library — the
  // containers are plain little-endian structs — so for these two
  // formats the decode path is NOT a stub. Deterministic synthetic
  // media (a full-range integer sawtooth / a per-channel modular
  // pixel pattern) replaces a corpus of real files; the decoder then
  // genuinely parses the BYTES (chunk walk, header offsets,
  // endianness, BMP bottom-up row order + row padding), and the
  // DuckDB oracle recomputes the declared waveform/pixels from the
  // construction rule — any mis-parse (wrong offset, wrong sign,
  // wrong row order) hash-mismatches. (The r8 "JPEG/MP4 remain
  // stubbed" note is superseded: see the JPEG gate and MP4 box-walk
  // sections below.)
  // ---------------------------------------------------------------

  /** The raw full-range sawtooth: sample i of asset a is
    * ((a·31 + i·7919) mod 65536) − 32768. */
  private def sawtooth(docId: Long, i: Int): Long =
    ((docId * 31L + i.toLong * 7919L) % 65536L) - 32768L

  /** 8 kHz 16-bit mono PCM WAV container around caller-supplied
    * samples — ONE header builder shared by both synthetic corpora so
    * a header fix can never apply to one and not the other. */
  private def wavContainer(nSamples: Int)(sample: Int => Short): Array[Byte] = {
    val dataSize = nSamples * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1)              // PCM, mono
      .putInt(8000).putInt(16000)           // sample rate, byte rate
      .putShort(2).putShort(16)             // block align, bits
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < nSamples) { bb.putShort(sample(i)); i += 1 }
    bb.array()
  }

  private[graft] def wavBytes(docId: Long, nSamples: Int): Array[Byte] =
    wavContainer(nSamples)(i => sawtooth(docId, i).toShort)

  /** RIFF chunk walk to fmt + data (not fixed offsets — a RIFF reader
    * that assumes data at 44 breaks on any extra chunk). Returns
    * (sampleRate, dataOffset, nSamples). */
  private def wavLayout(bytes: Array[Byte]): (Int, Int, Int) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 12 &&
      new String(bytes, 0, 4, "US-ASCII") == "RIFF" &&
      new String(bytes, 8, 4, "US-ASCII") == "WAVE", "not a RIFF/WAVE file")
    var pos = 12
    var sampleRate = -1; var blockAlign = -1
    var dataOff = -1; var dataLen = -1
    while (pos + 8 <= bytes.length && (dataOff < 0 || sampleRate < 0)) {
      val id = new String(bytes, pos, 4, "US-ASCII")
      val len = bb.getInt(pos + 4)
      // a corrupt negative/overlong chunk length would leave pos
      // unchanged (or run past the buffer) — infinite loop instead of
      // the loud reject every other malformed input gets (r8 advisor)
      require(len >= 0 && pos + 8 + len <= bytes.length,
        s"corrupt RIFF chunk length $len at offset $pos")
      if (id == "fmt ") {
        require(bb.getShort(pos + 8) == 1, "not PCM")
        // the sample loops hard-code a 2-byte mono stride — anything
        // else would silently mis-decode, so reject it loudly
        require(bb.getShort(pos + 10) == 1, "not mono")
        require(bb.getShort(pos + 22) == 16, "not 16-bit")
        sampleRate = bb.getInt(pos + 12)
        blockAlign = bb.getShort(pos + 20)
      } else if (id == "data") { dataOff = pos + 8; dataLen = len }
      pos += 8 + len + (len & 1) // RIFF chunks are 2-byte aligned
    }
    require(sampleRate > 0 && dataOff >= 0, "missing fmt/data chunk")
    (sampleRate, dataOff, dataLen / blockAlign)
  }

  /** Real RIFF/WAVE parse → exact-integer stats over the PCM samples.
    * checksum = Σ(i+1)·sampleᵢ pins sample ORDER, not just values. */
  private[graft] def parseWav(bytes: Array[Byte]): (Int, Long, Long, Long, Long, Long) = {
    val (sampleRate, dataOff, n) = wavLayout(bytes)
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0; var sumAbs = 0L; var maxAbs = 0L; var checksum = 0L
    while (i < n) {
      val v: Long = bb.getShort(dataOff + i * 2).toLong
      sumAbs += math.abs(v)
      maxAbs = math.max(maxAbs, math.abs(v))
      checksum += (i + 1L) * v
      i += 1
    }
    (sampleRate, n.toLong, n.toLong * 1000000L / sampleRate,
      sumAbs, maxAbs, checksum)
  }

  /** Amplitude-varied PCM for the audio GATE: the sawtooth scaled by
    * (a mod 5)/3 with truncating integer division (both engines
    * truncate toward zero) and clamped to the int16 rails — so the
    * corpus contains genuinely SILENT assets (amp 0), clean ones
    * (amp 1–2), and CLIPPED ones (amp 3–4 drive samples past the
    * rails, clamped on write exactly as a saturating recorder would). */
  private[graft] def wavBytesAmp(docId: Long, nSamples: Int): Array[Byte] =
    wavContainer(nSamples) { i =>
      val v = sawtooth(docId, i) * (docId % 5L) / 3L
      math.max(-32768L, math.min(32767L, v)).toShort
    }

  /** Audio-quality gate on genuinely decoded PCM — the filter an
    * audio training pipeline runs before transcription: per-256-sample
    * frame energy flags SILENT frames (mean |v| < 100, the last
    * partial frame judged against its own length), rail samples
    * (|v| ≥ 32767) count as CLIPPED, and an asset is dropped when
    * more than half its frames are silent. All-integer output;
    * the oracle replays the amplitude rule frame-by-frame. */
  private[graft] def parseWavGate(bytes: Array[Byte]): (Long, Long, Long, String) = {
    val (_, dataOff, n) = wavLayout(bytes)
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0; var nSilent = 0L; var nClipped = 0L
    var frameSum = 0L; var frameLen = 0L; var nFrames = 0L
    def closeFrame(): Unit = if (frameLen > 0) {
      nFrames += 1
      if (frameSum < frameLen * 100L) nSilent += 1
      frameSum = 0L; frameLen = 0L
    }
    while (i < n) {
      val v: Long = bb.getShort(dataOff + i * 2).toLong
      frameSum += math.abs(v); frameLen += 1
      if (math.abs(v) >= 32767L) nClipped += 1
      if (frameLen == 256L) closeFrame()
      i += 1
    }
    closeFrame()
    val verdict = if (2 * nSilent > nFrames) "drop_silent" else "keep"
    (nFrames, nSilent, nClipped, verdict)
  }

  def multimodalAudioGate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions(_.map { case (id, nChars) =>
        val n = math.max(1L, nChars).toInt
        val (nf, ns, nc, v) = parseWavGate(wavBytesAmp(id, n))
        (id, nf, ns, nc, v)
      })
      .toDF("asset_id", "n_frames", "n_silent", "n_clipped", "verdict")
  }

  /** Synthesize → genuinely decode WAV per document; all-integer
    * output, fully oracled from the construction rule. */
  def multimodalWav(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .repartition(s.sparkContext.defaultParallelism)
      .mapPartitions(_.map { case (id, nChars) =>
        val n = math.max(1L, nChars).toInt
        val (rate, ns, durUs, sumAbs, maxAbs, ck) = parseWav(wavBytes(id, n))
        (id, rate, ns, durUs, sumAbs, maxAbs, ck)
      })
      .toDF("asset_id", "sample_rate", "n_samples", "duration_us",
        "sum_abs", "max_abs", "checksum")
  }

  /** 24-bit bottom-up BMP: w = 16 + a mod 16, h = 8 + a mod 8, pixel
    * (x, y) channels are modular functions of (a, x, y); rows padded
    * to 4 bytes as the format requires. */
  private[graft] def bmpBytes(docId: Long): Array[Byte] = {
    val w = 16 + (docId % 16).toInt
    val h = 8 + (docId % 8).toInt
    val rowSize = (w * 3 + 3) / 4 * 4
    val dataSize = rowSize * h
    val bb = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putInt(0).putInt(54)                 // reserved, pixel offset
      .putInt(40).putInt(w).putInt(h)       // BITMAPINFOHEADER
      .putShort(1).putShort(24)             // planes, bpp
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    var row = 0
    while (row < h) {
      val y = h - 1 - row                   // bottom row is stored first
      var x = 0
      while (x < w) {
        bb.put(((docId + x * 3L + y * 7L) % 256L).toByte)        // B
        bb.put(((docId * 5L + x + y * 11L) % 256L).toByte)       // G
        bb.put(((docId * 9L + x * 13L + y) % 256L).toByte)       // R
        x += 1
      }
      var p = w * 3
      while (p < rowSize) { bb.put(0.toByte); p += 1 }
      row += 1
    }
    bb.array()
  }

  /** Real BMP parse: header offsets, bottom-up row reconstruction,
    * padding skip; per-channel exact sums + a positional checksum
    * Σ(y·w + x + 1)·(r + g + b) that pins the GEOMETRY (a top-down
    * misread or off-by-one pad changes it). */
  private[graft] def parseBmp(bytes: Array[Byte]): (Int, Int, Long, Long, Long, Long) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte, "not a BMP")
    val off = bb.getInt(10)
    val w = bb.getInt(18); val h = bb.getInt(22)
    require(bb.getShort(28) == 24, "not 24-bit")
    val rowSize = (w * 3 + 3) / 4 * 4
    var sumR = 0L; var sumG = 0L; var sumB = 0L; var ck = 0L
    var row = 0
    while (row < h) {
      val y = h - 1 - row
      var x = 0
      while (x < w) {
        val p = off + row * rowSize + x * 3
        val b = bytes(p) & 0xff; val g = bytes(p + 1) & 0xff
        val r = bytes(p + 2) & 0xff
        sumB += b; sumG += g; sumR += r
        ck += (y.toLong * w + x + 1L) * (r + g + b)
        x += 1
      }
      row += 1
    }
    (w, h, sumR, sumG, sumB, ck)
  }

  /** Synthesize → genuinely decode BMP per document. */
  def multimodalBmp(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    fannedIds(s, d)
      .mapPartitions(_.map { id =>
        val (w, h, r, g, b, ck) = parseBmp(bmpBytes(id))
        (id, w, h, w.toLong * h, r, g, b, ck)
      })
      .toDF("asset_id", "width", "height", "n_pixels",
        "sum_r", "sum_g", "sum_b", "checksum")
  }

  // ---------------------------------------------------------------
  // Perceptual hash (dHash) over DECODED pixels (r12) — the image
  // near-dup fingerprint (the LAION-style first dedup pass: aHash/
  // dHash/pHash over downscaled pixels, long before any embedding).
  // dHash here: pool the canvas into a coarse grid by 4×4 block sums
  // and emit one bit per ADJACENT-COLUMN comparison — robust to
  // pixel-level texture changes by construction, which is the whole
  // point of a perceptual (vs cryptographic) hash. The fingerprint is
  // computed from a REAL BMP decode (container walk, bottom-up rows,
  // padding), and the testbed construction makes the bits replayable:
  // block means step ±PhashStep between adjacent grid columns on a
  // planted md5-derived pattern, so the pooled comparison recovers
  // the pattern bit with a 528-vs-48 margin over the texture — the
  // DuckDB oracle replays the pattern arithmetic while the engine
  // must reach the same bits THROUGH the decode (the multimodal-tier
  // discipline: construction rule vs real parser).
  // ---------------------------------------------------------------

  /** dHash canvas/grid geometry: 36×32 pixels pooled 4×4 → 9×8 grid
    * → 8 adjacent-column comparisons × 8 rows = 64 bits. */
  private[analytics] val PhashW = 36
  private[analytics] val PhashH = 32
  private val PhashBlock = 4
  private val PhashStep = 12

  /** Planted coarse-pattern bit for (seed, grid column step c ∈ [0,8),
    * grid row by ∈ [0,8)): high nibble of md5("seed:c:by") ≥ 8 —
    * uniform across seeds and engine-portable (DuckDB spells it
    * substr(md5(...),1,1) IN ('8'..'f')). */
  private[graft] def phashPatternBit(seed: Long, c: Int, by: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"$seed:$c:$by".getBytes("US-ASCII"))
    if (((h(0) >> 4) & 0xf) >= 8) 1 else 0
  }

  /** Synthesize a phash-testbed BMP: grayscale (r=g=b) 24-bit
    * bottom-up BMP whose 4×4-block base value steps ±PhashStep
    * between adjacent grid columns per [[phashPatternBit]] (XOR one
    * optional planted flip at grid step (flipC, flipR); pass -1 to
    * disable), plus a {0,1} per-pixel texture keyed by `tex`. Two
    * images with the same seed but different tex are genuinely
    * different byte-for-byte (every texture bit moves pixels) yet
    * share all 64 dHash bits; one flipped pattern bit moves EXACTLY
    * one dHash bit (the flip shifts all later columns equally, so
    * only the flipped comparison changes sign). */
  private[graft] def phashBmpBytes(seed: Long, tex: Long,
      flipC: Long, flipR: Long): Array[Byte] = {
    val w = PhashW; val h = PhashH
    // base value per grid (bx, by): 128 + PhashStep · Σ_{c<bx} ±1
    val base = Array.tabulate(h / PhashBlock, w / PhashBlock) { (by, bx) =>
      var v = 128
      var c = 0
      while (c < bx) {
        val flip = if (c == flipC && by == flipR) 1 else 0
        v += PhashStep * (2 * (phashPatternBit(seed, c, by) ^ flip) - 1)
        c += 1
      }
      v
    }
    val rowSize = (w * 3 + 3) / 4 * 4
    val dataSize = rowSize * h
    val bb = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putInt(0).putInt(54)
      .putInt(40).putInt(w).putInt(h)
      .putShort(1).putShort(24)
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    var row = 0
    while (row < h) {
      val y = h - 1 - row                   // bottom-up storage
      var x = 0
      while (x < w) {
        // {0,1} texture from a mixed 64-bit hash — never part of the
        // fingerprint (the pooled margin absorbs it), so the rule is
        // engine-internal and free to be a real bit mixer (a plain
        // parity rule collapses distinct tex keys onto 2 textures)
        val mix = (tex + 1L) * 0x9E3779B97F4A7C15L +
          x * 0xBF58476D1CE4E5B9L + y * 0x94D049BB133111EBL
        val v = base(y / PhashBlock)(x / PhashBlock) +
          ((mix >>> 17) & 1L).toInt
        bb.put(v.toByte).put(v.toByte).put(v.toByte)
        x += 1
      }
      var p = w * 3
      while (p < rowSize) { bb.put(0.toByte); p += 1 }
      row += 1
    }
    bb.array()
  }

  /** REAL decode → dHash: walk the BMP container (magic, pixel
    * offset, 24 bpp, bottom-up rows, 4-byte row padding), pool 4×4
    * block sums of (r+g+b), compare adjacent grid columns. Bit
    * b = by·8 + c is '1' iff blockSum(c+1, by) > blockSum(c, by).
    * Requires the canonical 36×32 canvas (arbitrary inputs go
    * through a resize first — multimodalResize's job, not the
    * fingerprint's). */
  private[graft] def phashOfBmp(bytes: Array[Byte]): String = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte, "not a BMP")
    val off = bb.getInt(10)
    val w = bb.getInt(18); val h = bb.getInt(22)
    require(bb.getShort(28) == 24, "not 24-bit")
    require(w == PhashW && h == PhashH,
      s"phash canvas must be ${PhashW}x$PhashH, got ${w}x$h")
    val rowSize = (w * 3 + 3) / 4 * 4
    // a truncated buffer behind an intact header must reject with the
    // SAME IllegalArgumentException as every other corruption path
    // (the gzip-walk contract), never an ArrayIndexOutOfBounds
    require(bytes.length >= off + rowSize * h,
      s"truncated BMP pixel data: need ${off + rowSize * h}, got ${bytes.length}")
    val gw = w / PhashBlock; val gh = h / PhashBlock
    val sums = Array.ofDim[Long](gh, gw)
    var row = 0
    while (row < h) {
      val y = h - 1 - row
      var x = 0
      while (x < w) {
        val p = off + row * rowSize + x * 3
        sums(y / PhashBlock)(x / PhashBlock) +=
          (bytes(p) & 0xff) + (bytes(p + 1) & 0xff) + (bytes(p + 2) & 0xff)
        x += 1
      }
      row += 1
    }
    val sb = new StringBuilder(64)
    var by = 0
    while (by < gh) {
      var c = 0
      while (c < gw - 1) {
        sb.append(if (sums(by)(c + 1) > sums(by)(c)) '1' else '0')
        c += 1
      }
      by += 1
    }
    sb.toString
  }

  // ---------------------------------------------------------------
  // PNG (r9): the one image format closable WITHOUT a codec library —
  // PNG's only compression is zlib, and the JDK ships it
  // (java.util.zip.Deflater/Inflater). The synthesizer emits a fully
  // valid 8-bit RGB PNG (signature, IHDR, one IDAT, IEND, real CRCs)
  // with the per-row filter type rotating through ALL FIVE spec
  // filters (None/Sub/Up/Average/Paeth), and the decoder genuinely
  // walks chunks, verifies CRC32s, inflates, and un-filters. The
  // DuckDB oracle replays the pixel rule; AnalyticsSpec additionally
  // decodes the same bytes with the JDK's INDEPENDENT ImageIO PNG
  // reader, so a filter-math bug shared by this writer/reader pair
  // (which would cancel out in a round-trip) still gets caught.
  // ---------------------------------------------------------------

  /** Planted pixel rule for asset a at (x, y), top-down row order:
    * r = (a·7 + x·5 + y·3) mod 256, g = (a·11 + x + y·13) mod 256,
    * b = (a·3 + x·17 + y) mod 256; w = 8 + a mod 17, h = 4 + a mod 11. */
  private def pngDims(docId: Long): (Int, Int) =
    (8 + (docId % 17).toInt, 4 + (docId % 11).toInt)

  private def pngPixel(docId: Long, x: Int, y: Int): (Int, Int, Int) = (
    ((docId * 7L + x * 5L + y * 3L) % 256L).toInt,
    ((docId * 11L + x + y * 13L) % 256L).toInt,
    ((docId * 3L + x * 17L + y) % 256L).toInt)

  /** PNG Paeth predictor (RFC 2083 §6.6) — shared by writer and
    * reader; the spec's ImageIO cross-decode is what keeps a shared
    * mistake here honest. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def crc32(parts: Array[Byte]*): Int = {
    val c = new java.util.zip.CRC32
    parts.foreach(c.update)
    c.getValue.toInt
  }

  private def chunk(out: java.io.ByteArrayOutputStream, tpe: String,
      data: Array[Byte]): Unit = {
    val bb = java.nio.ByteBuffer.allocate(4).putInt(data.length)
    out.write(bb.array())
    val t = tpe.getBytes("US-ASCII")
    out.write(t); out.write(data)
    out.write(java.nio.ByteBuffer.allocate(4).putInt(crc32(t, data)).array())
  }

  /** Synthesize a valid 8-bit RGB PNG of the planted pixel rule, per-
    * row filter type = row mod 5 (every spec filter exercised). */
  private[graft] def pngBytes(docId: Long): Array[Byte] = {
    val (w, h) = pngDims(docId)
    val stride = w * 3
    // raw top-down scanlines, then genuinely FILTER them (the decoder
    // must invert this against its own reconstructed neighbors)
    val raw = Array.tabulate(h, stride) { (y, i) =>
      val (r, g, b) = pngPixel(docId, i / 3, y)
      (i % 3 match { case 0 => r; case 1 => g; case _ => b }).toByte
    }
    val filtered = new Array[Byte](h * (1 + stride))
    for (y <- 0 until h) {
      val f = y % 5
      filtered(y * (1 + stride)) = f.toByte
      for (i <- 0 until stride) {
        val cur  = raw(y)(i) & 0xff
        val left = if (i >= 3) raw(y)(i - 3) & 0xff else 0
        val up   = if (y >= 1) raw(y - 1)(i) & 0xff else 0
        val ul   = if (y >= 1 && i >= 3) raw(y - 1)(i - 3) & 0xff else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 => paeth(left, up, ul)
        }
        filtered(y * (1 + stride) + 1 + i) = ((cur - pred) & 0xff).toByte
      }
    }
    val deflater = new java.util.zip.Deflater
    deflater.setInput(filtered); deflater.finish()
    val buf = new Array[Byte](filtered.length + 64)
    val zlen = deflater.deflate(buf)
    require(deflater.finished(), "deflate buffer undersized")
    deflater.end()
    val out = new java.io.ByteArrayOutputStream
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n'))
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h)
      .put(8.toByte)   // bit depth
      .put(2.toByte)   // color type: truecolor RGB
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, adaptive, no interlace
      .array()
    chunk(out, "IHDR", ihdr)
    chunk(out, "IDAT", buf.take(zlen))
    chunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Real PNG parse: signature, chunk walk with CRC32 verification,
    * IDAT concatenation, zlib inflate, per-row un-filtering (all five
    * filter types). Returns (w, h, sum_r, sum_g, sum_b, checksum) with
    * the same positional checksum convention as [[parseBmp]]
    * (Σ(y·w + x + 1)·(r + g + b), y top-down — a filter mis-invert or
    * row swap changes it). Loud rejects for bad signature, CRC
    * mismatch, unsupported color/bit depth, and short inflate. */
  private[graft] def parsePng(bytes: Array[Byte]): (Int, Int, Long, Long, Long, Long) = {
    require(bytes.length >= 8 &&
      (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' &&
      bytes(3) == 'G', "not a PNG")
    val bb = java.nio.ByteBuffer.wrap(bytes) // PNG ints are big-endian
    var pos = 8
    var w = -1; var h = -1
    val idat = new java.io.ByteArrayOutputStream
    var ended = false
    while (!ended) {
      require(pos + 8 <= bytes.length, "truncated PNG chunk header")
      val len = bb.getInt(pos)
      require(len >= 0 && pos + 12 + len <= bytes.length,
        s"corrupt PNG chunk length $len at offset $pos")
      val tpe = new String(bytes, pos + 4, 4, "US-ASCII")
      val crc = bb.getInt(pos + 8 + len)
      require(crc == crc32(java.util.Arrays.copyOfRange(bytes, pos + 4, pos + 8 + len)),
        s"PNG CRC mismatch in $tpe chunk")
      tpe match {
        case "IHDR" =>
          w = bb.getInt(pos + 8); h = bb.getInt(pos + 12)
          require(bytes(pos + 16) == 8, "not 8-bit")
          require(bytes(pos + 17) == 2, "not truecolor RGB")
          require(bytes(pos + 18) == 0 && bytes(pos + 19) == 0 &&
            bytes(pos + 20) == 0, "unsupported compression/filter/interlace")
        case "IDAT" => idat.write(bytes, pos + 8, len)
        case "IEND" => ended = true
        case _      => () // ancillary chunks skip (CRC already checked)
      }
      pos += 12 + len
    }
    require(w > 0 && h > 0 && idat.size > 0, "missing IHDR/IDAT")
    val stride = w * 3
    val inflater = new java.util.zip.Inflater
    inflater.setInput(idat.toByteArray)
    val scan = new Array[Byte](h * (1 + stride))
    val got = inflater.inflate(scan)
    require(got == scan.length && inflater.finished(),
      s"short inflate: $got of ${scan.length} bytes")
    inflater.end()
    // un-filter in place against RECONSTRUCTED neighbors (the spec's
    // requirement — filtering chains row to row)
    val px = Array.ofDim[Byte](h, stride)
    for (y <- 0 until h) {
      val f = scan(y * (1 + stride)) & 0xff
      require(f <= 4, s"invalid PNG filter type $f")
      for (i <- 0 until stride) {
        val cur  = scan(y * (1 + stride) + 1 + i) & 0xff
        val left = if (i >= 3) px(y)(i - 3) & 0xff else 0
        val up   = if (y >= 1) px(y - 1)(i) & 0xff else 0
        val ul   = if (y >= 1 && i >= 3) px(y - 1)(i - 3) & 0xff else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case _ => paeth(left, up, ul)
        }
        px(y)(i) = ((cur + pred) & 0xff).toByte
      }
    }
    var sumR = 0L; var sumG = 0L; var sumB = 0L; var ck = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val r = px(y)(x * 3) & 0xff
      val g = px(y)(x * 3 + 1) & 0xff
      val b = px(y)(x * 3 + 2) & 0xff
      sumR += r; sumG += g; sumB += b
      ck += (y.toLong * w + x + 1L) * (r + g + b)
    }
    (w, h, sumR, sumG, sumB, ck)
  }

  // ---------------------------------------------------------------
  // JPEG (r9): the r8 "no codec libs in the container" note was wrong
  // for one case — the JDK's own java.desktop module ships full
  // ImageIO JPEG read/write. JPEG is LOSSY, so the PNG/BMP/WAV oracle
  // style (exact byte replay) is impossible; instead the query is a
  // DECODE GATE: a two-tone image with planted colors is encoded with
  // the real JPEG codec, decoded back with the real codec, and the
  // emitted columns are the PLANTED rule values plus 0/1 flags
  // asserting the decoded half-means sit within a ±6 tolerance of the
  // plant (quality-1.0 solid MCU-aligned regions measure a worst
  // half-mean error of 4 over the EXHAUSTIVE 192-id construction
  // cycle — AnalyticsSpec sweeps it). A broken decode — wrong geometry, swapped
  // halves, channel order, or garbage — flips the flags and
  // hash-mismatches the oracle, which replays the plant + all-ones
  // flags. (MP4's container parse follows below; only compressed
  // video FRAME decode remains stubbed — genuinely no codec
  // anywhere.)
  // ---------------------------------------------------------------

  /** MCU-aligned dims (16-multiples: 4:2:0 chroma blocks must not
    * straddle the tone boundary) and mid-range planted colors. */
  private def jpegDims(docId: Long): (Int, Int) =
    (48 + (docId % 4).toInt * 16, 32 + (docId % 2).toInt * 32)

  private def jpegColors(docId: Long): (Array[Int], Array[Int]) = (
    Array(32 + ((docId * 7) % 192L).toInt, 32 + ((docId * 11) % 192L).toInt,
      32 + ((docId * 3) % 192L).toInt),
    Array(32 + ((docId * 5 + 96) % 192L).toInt, 32 + ((docId * 13 + 64) % 192L).toInt,
      32 + ((docId * 17 + 32) % 192L).toInt))

  /** Encode the two-tone plant (top half color A, bottom half color B)
    * with the JDK's real JPEG codec at an EXPLICIT quality 1.0: the
    * writer default (~0.75) quantizes solid-region means by up to ±6
    * for some planted colors (measured over the full 192-id color
    * cycle), which would make the gate's tolerance color-dependent;
    * at 1.0 the quant tables are near-unity and the residual error is
    * the YCbCr↔RGB rounding only. */
  private[graft] def jpegBytes(docId: Long): Array[Byte] = {
    val (w, h) = jpegDims(docId)
    val (top, bot) = jpegColors(docId)
    javax.imageio.ImageIO.setUseCache(false)
    val it = javax.imageio.ImageIO.getImageWritersByFormatName("jpg")
    require(it.hasNext, "JDK JPEG writer unavailable")
    val writer = it.next()
    try twoToneJpeg(writer, w, h, top, bot)
    finally writer.dispose()
  }

  /** Two-tone frame through the real JPEG codec at explicit quality
    * 1.0 (see [[jpegBytes]] for why the default quality is unusable);
    * takes the writer so the AVI muxer can reuse one per partition. */
  private[graft] def twoToneJpeg(writer: javax.imageio.ImageWriter,
      w: Int, h: Int, top: Array[Int], bot: Array[Int]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val px = Array.tabulate(w * h) { i =>
      val c = if (i / w < h / 2) top else bot
      (c(0) << 16) | (c(1) << 8) | c(2)
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    javax.imageio.ImageIO.setUseCache(false)
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(1.0f)
    val out = new java.io.ByteArrayOutputStream
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    // reset() not dispose(): the caller may reuse this writer for the
    // next frame/asset (the gifBytes lifecycle contract)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    } finally {
      try writer.reset() finally ios.close()
    }
    out.toByteArray
  }

  /** Decode with the real codec and gate each half's mean channel
    * error against the plant: (w, h, maxErrTop, maxErrBot). */
  private[graft] def jpegHalfErrors(bytes: Array[Byte], docId: Long): (Int, Int, Long, Long) = {
    javax.imageio.ImageIO.setUseCache(false)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, "not a decodable image")
    val (w, h) = (img.getWidth, img.getHeight)
    val (top, bot) = jpegColors(docId)
    def halfErr(y0: Int, y1: Int, planted: Array[Int]): Long = {
      // bulk raster read: per-pixel getRGB pays a color-model virtual
      // call per pixel — the bulk variant is the fast path and this
      // loop dominates the query's per-document cost
      val px = img.getRGB(0, y0, w, y1 - y0, null, 0, w)
      var sr = 0L; var sg = 0L; var sb = 0L
      var i = 0
      while (i < px.length) {
        val rgb = px(i)
        sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
        i += 1
      }
      val n = (y1 - y0).toLong * w
      // rounded mean error per channel, worst channel wins
      Seq(sr, sg, sb).zip(planted).map { case (s, p) =>
        math.abs((s + n / 2) / n - p)
      }.max
    }
    (w, h, halfErr(0, h / 2, top), halfErr(h / 2, h, bot))
  }

  /** Synthesize → real-codec encode → real-codec decode → gate. */
  def multimodalJpeg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    fannedIds(s, d)
      .mapPartitions(_.map { id =>
        val (w, h, errTop, errBot) = jpegHalfErrors(jpegBytes(id), id)
        val (top, bot) = jpegColors(id)
        (id, w, h, top(0).toLong, top(1).toLong, top(2).toLong,
          bot(0).toLong, bot(1).toLong, bot(2).toLong,
          if (errTop <= 6L) 1L else 0L, if (errBot <= 6L) 1L else 0L)
      })
      .toDF("asset_id", "width", "height", "top_r", "top_g", "top_b",
        "bot_r", "bot_g", "bot_b", "ok_top", "ok_bottom")
  }

  // ---------------------------------------------------------------
  // EXIF / TIFF APP1 metadata — the image-METADATA step next to the
  // pixel decoders: crawl pipelines read orientation/dimensions/
  // timestamps from EXIF before ever decoding pixels (and strip the
  // segment on release — it is the classic PII leak in image sets).
  // Reference behavior per the public EXIF 2.3 / TIFF 6.0 layouts.
  // ---------------------------------------------------------------

  private[graft] def exifOrientation(id: Long): Int = 1 + (id % 8).toInt
  private[graft] def exifMake(id: Long): String = s"graftcam-${id % 100}"
  private[graft] def exifDateTime(id: Long): String =
    f"2026:08:${1 + id % 28}%02d ${id % 24}%02d:00:00"

  /** Serialize the planted TIFF structure — IFD0 {Make 0x010F,
    * Orientation 0x0112, DateTime 0x0132, ExifIFD pointer 0x8769} and
    * the pointed-to Exif IFD {PixelXDimension 0xA002, PixelYDimension
    * 0xA003} — in the byte order chosen by id parity (MM big-endian on
    * even ids, II little-endian on odd), so BOTH orders exercise the
    * reader on every corpus. Tags ascend within each IFD (TIFF 6.0
    * requirement); the count-1 SHORT value sits left-justified in its
    * 4-byte field; out-of-line ASCII values are NUL-terminated with
    * the DateTime offset padded even. `dims` defaults to the real
    * JPEG dims — the spec plants a WRONG pair to prove the
    * cross-corroboration gate actually bites. */
  private[graft] def exifApp1(id: Long,
      dims: Option[(Int, Int)] = None): Array[Byte] = {
    val (w, h) = dims.getOrElse(jpegDims(id))
    val make = exifMake(id)
    val makeN = make.length + 1
    val dtOff = 92 + ((makeN + 1) & ~1)
    val tiffLen = dtOff + 20
    val bb = java.nio.ByteBuffer.allocate(tiffLen)
    val big = id % 2 == 0
    bb.order(if (big) java.nio.ByteOrder.BIG_ENDIAN
      else java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put((if (big) "MM" else "II").getBytes("US-ASCII"))
    bb.putShort(42)
    bb.putInt(8)
    def entry(tag: Int, typ: Int, cnt: Int)(value: => Unit): Unit = {
      bb.putShort(tag.toShort); bb.putShort(typ.toShort); bb.putInt(cnt)
      value
    }
    bb.putShort(4) // IFD0 entry count
    entry(0x010f, 2, makeN) { bb.putInt(92) }
    entry(0x0112, 3, 1) { bb.putShort(exifOrientation(id).toShort); bb.putShort(0) }
    entry(0x0132, 2, 20) { bb.putInt(dtOff) }
    entry(0x8769, 4, 1) { bb.putInt(62) }
    bb.putInt(0) // next IFD
    require(bb.position() == 62, s"IFD0 layout drifted: ${bb.position()}")
    bb.putShort(2) // Exif IFD entry count
    entry(0xa002, 4, 1) { bb.putInt(w) }
    entry(0xa003, 4, 1) { bb.putInt(h) }
    bb.putInt(0)
    require(bb.position() == 92, s"Exif IFD layout drifted: ${bb.position()}")
    bb.put(make.getBytes("US-ASCII")); bb.put(0.toByte)
    while (bb.position() < dtOff) bb.put(0.toByte)
    bb.put(exifDateTime(id).getBytes("US-ASCII")); bb.put(0.toByte)
    val out = new java.io.ByteArrayOutputStream
    out.write(Array[Byte](0xff.toByte, 0xe1.toByte))
    val segLen = 2 + 6 + tiffLen
    out.write((segLen >> 8) & 0xff); out.write(segLen & 0xff)
    out.write("Exif".getBytes("US-ASCII")); out.write(0); out.write(0)
    out.write(bb.array())
    out.toByteArray
  }

  /** Splice the APP1 right after SOI of the real-codec JPEG — the
    * position cameras write it to (JFIF APP0 then follows; readers
    * must walk markers, not assume offsets). */
  private[graft] def exifJpegBytes(id: Long,
      dims: Option[(Int, Int)] = None): Array[Byte] = {
    val jpg = jpegBytes(id)
    require(jpg.length > 2 && (jpg(0) & 0xff) == 0xff
      && (jpg(1) & 0xff) == 0xd8, "not a JPEG (no SOI)")
    val app1 = exifApp1(id, dims)
    val out = new Array[Byte](jpg.length + app1.length)
    out(0) = jpg(0); out(1) = jpg(1)
    System.arraycopy(app1, 0, out, 2, app1.length)
    System.arraycopy(jpg, 2, out, 2 + app1.length, jpg.length - 2)
    out
  }

  /** Minimal TIFF/EXIF reader: JPEG marker walk → the first APP1 whose
    * payload opens "Exif\0\0" → byte-order mark → magic-42 check →
    * IFD0 tag walk (inline SHORTs left-justified; ASCII values ≤ 4
    * bytes inline in the value field per TIFF 6.0, longer ones via
    * u32 offset) → Exif-IFD hop for the pixel dimensions. Reads ONLY via
    * explicit offset arithmetic (independent of the writer's
    * ByteBuffer); any structural lie — bad magic, unknown byte order,
    * an offset or segment running past the buffer — rejects loudly
    * via require (IllegalArgumentException), never a silent default.
    * Returns (byte_order, orientation, make, dt_original, w, h). */
  private[graft] def parseExif(
      jpeg: Array[Byte]): (String, Int, String, String, Int, Int) = {
    require(jpeg.length >= 4 && (jpeg(0) & 0xff) == 0xff
      && (jpeg(1) & 0xff) == 0xd8, "no SOI")
    var pos = 2
    var tiff: Array[Byte] = null
    while (tiff == null) {
      require(pos + 4 <= jpeg.length, "ran off buffer before APP1/SOS")
      require((jpeg(pos) & 0xff) == 0xff, f"marker sync lost at $pos")
      val marker = jpeg(pos + 1) & 0xff
      require(marker != 0xda, "reached SOS without an Exif APP1")
      val len = ((jpeg(pos + 2) & 0xff) << 8) | (jpeg(pos + 3) & 0xff)
      require(pos + 2 + len <= jpeg.length, "segment length overruns buffer")
      if (marker == 0xe1 && len >= 8
          && new String(jpeg, pos + 4, 4, "US-ASCII") == "Exif"
          && jpeg(pos + 8) == 0 && jpeg(pos + 9) == 0)
        tiff = java.util.Arrays.copyOfRange(jpeg, pos + 10, pos + 2 + len)
      pos += 2 + len
    }
    val bom = new String(tiff, 0, 2, "US-ASCII")
    require(bom == "II" || bom == "MM", s"unknown byte order '$bom'")
    val little = bom == "II"
    def u16(o: Int): Int = {
      require(o + 2 <= tiff.length, s"u16 read past buffer at $o")
      val a = tiff(o) & 0xff; val b = tiff(o + 1) & 0xff
      if (little) (b << 8) | a else (a << 8) | b
    }
    def u32(o: Int): Int = {
      require(o + 4 <= tiff.length, s"u32 read past buffer at $o")
      if (little) (tiff(o) & 0xff) | ((tiff(o + 1) & 0xff) << 8) |
        ((tiff(o + 2) & 0xff) << 16) | ((tiff(o + 3) & 0xff) << 24)
      else ((tiff(o) & 0xff) << 24) | ((tiff(o + 1) & 0xff) << 16) |
        ((tiff(o + 2) & 0xff) << 8) | (tiff(o + 3) & 0xff)
    }
    require(u16(2) == 42, s"TIFF magic ${u16(2)} != 42")
    def ascii(off: Int, cnt: Int): String = {
      require(off + cnt <= tiff.length, "ASCII value runs past buffer")
      val end = off + cnt - 1 // NUL-terminated per TIFF type 2
      new String(tiff, off, math.max(0, end - off), "US-ASCII")
    }
    // TIFF 6.0 §2: a value of ≤ 4 bytes is stored INLINE in the
    // 4-byte value field itself; only larger values go through a u32
    // offset (r12 advice: a spec-conformant short Make string would
    // otherwise be misread by interpreting its bytes as an offset)
    def asciiVal(cnt: Int, valueField: Int): String =
      if (cnt <= 4) ascii(valueField, cnt) else ascii(u32(valueField), cnt)
    // one IFD walk → tag→(type, count, valueFieldOffset) map
    def ifdEntries(ifdOff: Int): Map[Int, (Int, Int, Int)] = {
      val n = u16(ifdOff)
      (0 until n).map { k =>
        val e = ifdOff + 2 + 12 * k
        u16(e) -> ((u16(e + 2), u32(e + 4), e + 8))
      }.toMap
    }
    val ifd0 = ifdEntries(u32(4))
    val orient = ifd0.get(0x0112).map { case (_, _, v) => u16(v) }
      .getOrElse(0)
    val make = ifd0.get(0x010f).map { case (_, cnt, v) => asciiVal(cnt, v) }
      .getOrElse("")
    val dt = ifd0.get(0x0132).map { case (_, cnt, v) => asciiVal(cnt, v) }
      .getOrElse("")
    val (w, h) = ifd0.get(0x8769).map { case (_, _, v) =>
      val sub = ifdEntries(u32(v))
      (sub.get(0xa002).map { case (_, _, sv) => u32(sv) }.getOrElse(0),
        sub.get(0xa003).map { case (_, _, sv) => u32(sv) }.getOrElse(0))
    }.getOrElse((0, 0))
    (bom, orient, make, dt, w, h)
  }

  /** Strip every Exif APP1 segment — the release-side twin of the
    * reader: EXIF is the classic image-set PII channel (GPS, device
    * serials, timestamps), and dataset publication strips it while
    * keeping every other byte identical. Marker walk up to SOS; an
    * APP1 whose payload opens "Exif\0\0" is dropped, everything else
    * (including the entropy-coded stream after SOS) copies verbatim.
    * Same loud-rejection contract as [[parseExif]]. */
  private[graft] def stripExif(jpeg: Array[Byte]): Array[Byte] = {
    require(jpeg.length >= 4 && (jpeg(0) & 0xff) == 0xff
      && (jpeg(1) & 0xff) == 0xd8, "no SOI")
    val out = new java.io.ByteArrayOutputStream(jpeg.length)
    out.write(jpeg, 0, 2)
    var pos = 2
    var done = false
    while (!done) {
      require(pos + 4 <= jpeg.length, "truncated before SOS")
      require((jpeg(pos) & 0xff) == 0xff, f"marker sync lost at $pos")
      val marker = jpeg(pos + 1) & 0xff
      if (marker == 0xda) {
        // SOS: entropy-coded data follows — copy the remainder verbatim
        out.write(jpeg, pos, jpeg.length - pos)
        done = true
      } else {
        val len = ((jpeg(pos + 2) & 0xff) << 8) | (jpeg(pos + 3) & 0xff)
        require(pos + 2 + len <= jpeg.length, "segment overruns buffer")
        val isExif = marker == 0xe1 && len >= 8 &&
          new String(jpeg, pos + 4, 4, "US-ASCII") == "Exif" &&
          jpeg(pos + 8) == 0 && jpeg(pos + 9) == 0
        if (!isExif) out.write(jpeg, pos, 2 + len)
        pos += 2 + len
      }
    }
    out.toByteArray
  }

  /** EXIF strip as the release pipeline runs it, with the strongest
    * possible corroboration available on planted data: stripping the
    * spliced APP1 must restore the ORIGINAL codec output bit for bit
    * (`match_original` compares against the pre-splice bytes), the
    * stripped image must still decode, and `bytes_saved` must equal
    * the arithmetic size of the planted segment (134 — the IFD layout
    * is fixed and the make-string padding absorbs the 1-vs-2-digit
    * id; the oracle replays that closed form). */
  def multimodalExifStrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    fannedIds(s, d)
      .mapPartitions(_.map { id =>
        val orig = jpegBytes(id)
        val tagged = exifJpegBytes(id)
        val stripped = stripExif(tagged)
        javax.imageio.ImageIO.setUseCache(false)
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(stripped))
        (id, (tagged.length - stripped.length).toLong,
          if (java.util.Arrays.equals(stripped, orig)) 1 else 0,
          if (img != null) 1 else 0)
      })
      .toDF("asset_id", "bytes_saved", "match_original", "decode_ok")
  }

  /** Synthesize a camera-shaped JPEG (real codec + spliced APP1),
    * parse the EXIF back with the independent reader, and
    * CROSS-CORROBORATE: the EXIF pixel dimensions must equal what the
    * real decoder sees (`dims_match` — the multimodal tier's
    * two-reader discipline; a metadata/pixel disagreement is exactly
    * what a poisoned crawl image looks like). Document-linear
    * map-only work behind the shared fan-out. */
  def multimodalExif(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    fannedIds(s, d)
      .mapPartitions(_.map { id =>
        val bytes = exifJpegBytes(id)
        val (bo, orient, make, dt, ew, eh) = parseExif(bytes)
        javax.imageio.ImageIO.setUseCache(false)
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        require(img != null, "APP1 splice broke the JPEG")
        val ok = ew == img.getWidth && eh == img.getHeight
        (id, bo, orient, make, dt, ew, eh, if (ok) 1 else 0)
      })
      .toDF("asset_id", "byte_order", "orientation", "make",
        "dt_original", "exif_w", "exif_h", "dims_match")
  }

  /** Synthesize → genuinely decode PNG per document (same output
    * shape as [[multimodalBmp]]). */
  def multimodalPng(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    fannedIds(s, d)
      .mapPartitions(_.map { id =>
        val (w, h, r, g, b, ck) = parsePng(pngBytes(id))
        (id, w, h, w.toLong * h, r, g, b, ck)
      })
      .toDF("asset_id", "width", "height", "n_pixels",
        "sum_r", "sum_g", "sum_b", "checksum")
  }

  // ---------------------------------------------------------------
  // Animated GIF (r9): REAL multi-frame decode — the frame-extraction
  // primitive a video training pipeline runs — with an EXACT oracle:
  // GIF is lossless (indexed color), and a solid-color frame's
  // palette contains exactly its color, so unlike JPEG the decoded
  // pixels replay bit-exactly. Per document, an animated GIF with a
  // rule-derived frame count and per-frame solid colors is written
  // with the JDK's actual GIF encoder (writeToSequence) and decoded
  // frame-by-frame with the actual reader; per-frame FULL-pixel sums
  // (not just one probe pixel) pin every pixel of every frame, and
  // the (f+1)-weighted checksum pins frame ORDER.
  // ---------------------------------------------------------------

  /** (width, height, nFrames) per asset. */
  private def gifRule(id: Long): (Int, Int, Int) =
    (16 + (id % 16).toInt, 8 + (id % 8).toInt, 2 + (id % 6).toInt)

  /** Solid color of frame f. */
  private def gifColor(id: Long, f: Int): (Int, Int, Int) = (
    ((id * 7L + f * 29L) % 256L).toInt,
    ((id * 13L + f * 17L) % 256L).toInt,
    ((id * 3L + f * 41L) % 256L).toInt)

  /** Animated GIF via the JDK's real encoder (one writer reused per
    * partition — the codec-init amortization this file's mapPartitions
    * idiom exists for). */
  private[graft] def gifBytes(writer: javax.imageio.ImageWriter, id: Long): Array[Byte] = {
    val (w, h, nf) = gifRule(id)
    // without this, createImageOutput/InputStream default to FILE-cache
    // wrappers: pointless temp-file I/O per asset and (on the read
    // side) a leaked fd per document until GC
    javax.imageio.ImageIO.setUseCache(false)
    val out = new java.io.ByteArrayOutputStream
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    // an exception mid-sequence must neither leak the stream nor leave
    // the per-partition REUSED writer pointing at it in a stale
    // prepareWriteSequence state for the next asset — reset() restores
    // the writer to its initial state either way (mirrors jpegBytes'
    // try/finally; reset instead of dispose because this writer lives
    // for the whole partition)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      (0 until nf).foreach { f =>
        val (r, g, b) = gifColor(id, f)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val rgb = (r << 16) | (g << 8) | b
        img.setRGB(0, 0, w, h, Array.fill(w * h)(rgb), 0, w)
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally {
      try writer.reset() finally ios.close()
    }
    out.toByteArray
  }

  /** Genuine frame-by-frame decode → (w, h, nFrames, sumR, sumG,
    * sumB, orderChecksum) with FULL-pixel sums per frame. */
  private[graft] def parseGif(reader: javax.imageio.ImageReader,
      bytes: Array[Byte]): (Int, Int, Long, Long, Long, Long, Long) = {
    require(bytes.length >= 6 &&
      new String(bytes, 0, 6, "US-ASCII").startsWith("GIF8"), "not a GIF")
    javax.imageio.ImageIO.setUseCache(false)
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      reader.setInput(iis)
      val n = reader.getNumImages(true)
      var w = -1; var h = -1
      var sr = 0L; var sg = 0L; var sb = 0L; var ck = 0L
      (0 until n).foreach { f =>
        val img = reader.read(f)
        w = img.getWidth; h = img.getHeight
        // bulk raster read — same reasoning as the JPEG half-mean loop
        val px = img.getRGB(0, 0, w, h, null, 0, w)
        var fr = 0L; var fg = 0L; var fb = 0L
        var i = 0
        while (i < px.length) {
          val p = px(i)
          fr += (p >> 16) & 0xff; fg += (p >> 8) & 0xff; fb += p & 0xff
          i += 1
        }
        sr += fr; sg += fg; sb += fb
        ck += (f + 1L) * (fr + fg + fb)
      }
      (w, h, n.toLong, sr, sg, sb, ck)
    } finally iis.close()
  }

  /** Synthesize → genuinely decode every FRAME of an animated GIF per
    * document; exact-replay oracle (lossless codec). */
  def multimodalGif(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    fannedIds(s, d)
      .mapPartitions { it =>
        // one encoder/decoder per partition, reused across assets,
        // dispose()d at task end (success OR failure) — ImageIO
        // plugins hold native buffers, and abandoning one per task to
        // GC is the leak class Codecs.scala's try/finally exists for
        val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
        val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
        disposeAtTaskEnd(() => writer.dispose(), () => reader.dispose())
        it.map { id =>
          val (w, h, nf, sr, sg, sb, ck) = parseGif(reader, gifBytes(writer, id))
          (id, w, h, nf, sr, sg, sb, ck)
        }
      }
      .toDF("asset_id", "width", "height", "n_frames",
        "sum_r", "sum_g", "sum_b", "checksum")
  }

  // ---------------------------------------------------------------
  // TAR / WebDataset shard (r9): large multimodal corpora ship as tar
  // shards (the WebDataset layout — one sample = adjacent members
  // "key.jpg"/"key.txt"/"key.json" inside a shard), so reading tar is
  // a first-class 100-TB ingest op, not an archival nicety. The JDK
  // has no tar support; both sides are hand-rolled against the POSIX
  // ustar spec: 512-byte headers (name, octal size/mode/mtime, the
  // space-seeded header CHECKSUM, ustar magic), content blocks padded
  // to 512, two zero blocks at EOF. The parser verifies every header
  // checksum and the magic, walks by parsed octal size, and rejects
  // corruption loudly; the DuckDB oracle replays member count/sizes/
  // bytes and a (member,position)-weighted checksum exactly.
  // ---------------------------------------------------------------

  /** Members per shard and per-member sizes/bytes. */
  private def tarRule(id: Long): Int = 2 + (id % 3).toInt
  private def tarMemberSize(id: Long, m: Int): Int =
    10 + ((id * 31L + m * 7L) % 200L).toInt
  private def tarByte(id: Long, m: Int, i: Int): Int =
    ((id * 17L + m * 5L + i * 13L) % 251L).toInt
  private def tarName(id: Long, m: Int): String = s"doc$id/$m.bin"

  private def tarOctal(v: Long, width: Int): Array[Byte] = {
    // POSIX numeric field: zero-padded octal, NUL terminator. An
    // overflowing value would otherwise silently BLEED into the next
    // header field (Scala's "0" * negative is ""), producing a
    // checksum-valid but malformed header — the self-consistent-but-
    // wrong mode the GNU-tar cross-check exists to catch
    val s = java.lang.Long.toOctalString(v)
    require(s.length < width, s"octal value $v overflows a $width-byte field")
    (("0" * (width - 1 - s.length)) + s + "\u0000").getBytes("US-ASCII")
  }

  /** One ustar shard for the rule above. */
  private[graft] def tarBytes(id: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    (0 until tarRule(id)).foreach { m =>
      val size = tarMemberSize(id, m)
      val hdr = new Array[Byte](512)
      def put(off: Int, bytes: Array[Byte]): Unit =
        System.arraycopy(bytes, 0, hdr, off, bytes.length)
      put(0, tarName(id, m).getBytes("US-ASCII"))
      put(100, tarOctal(420 /* 0644 */, 8))       // mode
      put(108, tarOctal(0, 8))                    // uid
      put(116, tarOctal(0, 8))                    // gid
      put(124, tarOctal(size.toLong, 12))         // size
      put(136, tarOctal(0, 12))                   // mtime (deterministic)
      java.util.Arrays.fill(hdr, 148, 156, ' '.toByte) // chksum seed
      hdr(156) = '0'                              // typeflag: regular file
      put(257, "ustar\u000000".getBytes("US-ASCII")) // magic + version
      val sum = hdr.map(_ & 0xff).sum
      put(148, (f"$sum%06o" + "\u0000 ").getBytes("US-ASCII"))
      out.write(hdr)
      val content = Array.tabulate[Byte](size)(i => tarByte(id, m, i).toByte)
      out.write(content)
      val pad = (512 - size % 512) % 512
      out.write(new Array[Byte](pad))
    }
    out.write(new Array[Byte](1024))              // two zero blocks
    out.toByteArray
  }

  /** Genuine ustar walk → (nMembers, totalBytes, sumNameLen,
    * checksum) with header-checksum and magic verification. */
  private[graft] def parseTar(bytes: Array[Byte]): (Long, Long, Long, Long) = {
    var pos = 0
    var nm = 0L; var total = 0L; var nameLen = 0L; var ck = 0L
    def isZeroBlock(p: Int): Boolean =
      (p until p + 512).forall(bytes(_) == 0)
    while (pos + 512 <= bytes.length && !isZeroBlock(pos)) {
      require(new String(bytes, pos + 257, 5, "US-ASCII") == "ustar",
        s"missing ustar magic at $pos")
      // recompute the space-seeded checksum before trusting the header
      var sum = 0
      (0 until 512).foreach { i =>
        sum += (if (i >= 148 && i < 156) ' '.toInt else bytes(pos + i) & 0xff)
      }
      val declared = java.lang.Integer.parseInt(
        new String(bytes, pos + 148, 6, "US-ASCII"), 8)
      require(sum == declared, s"header checksum mismatch at $pos")
      val name = new String(bytes, pos, 100, "US-ASCII").takeWhile(_ != 0)
      val size = java.lang.Long.parseLong(
        new String(bytes, pos + 124, 11, "US-ASCII"), 8)
      require(size >= 0 && pos + 512 + size <= bytes.length,
        s"corrupt member size $size at $pos")
      nm += 1; total += size; nameLen += name.length
      var i = 0
      while (i < size) {
        ck += nm * (i + 1L) * (bytes(pos + 512 + i) & 0xff)
        i += 1
      }
      pos += 512 + ((size + 511) / 512).toInt * 512
    }
    require(nm > 0, "empty tar")
    // the walk must have ENDED on the two EOF zero blocks — exiting
    // because bytes ran out means a truncated shard, which must reject
    // loudly rather than parse as a smaller valid one
    require(pos + 1024 <= bytes.length && isZeroBlock(pos) && isZeroBlock(pos + 512),
      s"unterminated/truncated tar at $pos (missing EOF zero blocks)")
    (nm, total, nameLen, ck)
  }

  /** Synthesize → genuinely parse a WebDataset-style tar shard per
    * document; exact oracle from the construction rule. */
  def multimodalTar(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    fannedIds(s, d)
      .mapPartitions(_.map { id =>
        val (nm, total, nameLen, ck) = parseTar(tarBytes(id))
        (id, nm, total, nameLen, ck)
      })
      .toDF("asset_id", "n_members", "sum_bytes", "sum_name_len", "checksum")
  }

  // ---------------------------------------------------------------
  // MP4 / ISO BMFF (r9): frame DECODE genuinely needs codecs — that
  // stays the one stubbed step — but the CONTAINER is a plain
  // big-endian box tree, and container-level metadata extraction
  // (what ffprobe does: duration, geometry, track layout, payload
  // size) is the real first stage of any video training pipeline.
  // A fully valid minimal MP4 is synthesized per document
  // (ftyp + free + moov[mvhd, trak[tkhd, mdia[mdhd, hdlr]]×n] + mdat)
  // and then GENUINELY parsed: big-endian 32-bit sizes, the 64-bit
  // largesize form (exercised on every 3rd asset's mdat), unknown
  // boxes skipped by size (the `free` box), loud rejects on corrupt
  // sizes, and video geometry read as 16.16 fixed-point from the
  // trak whose OWN hdlr says "vide" — nesting association, not
  // positional luck. The DuckDB oracle replays the construction rule
  // arithmetically; a positional checksum pins mdat payload order.
  // ---------------------------------------------------------------

  /** Construction rule: (durationTicks@600Hz, width, height,
    * hasAudio, mdatBytes, mdatUsesLargesize). */
  private def mp4Rule(id: Long): (Long, Int, Int, Boolean, Int, Boolean) = (
    600L + (id % 240L) * 30L,
    320 + (id % 5L).toInt * 64,
    240 + (id % 3L).toInt * 80,
    id % 2L == 1L,
    64 + (id % 97L).toInt,
    id % 3L == 0L)

  private def mdatByte(id: Long, i: Int): Int =
    ((id * 131L + i.toLong * 31L) % 251L).toInt

  /** size+type box around a payload (32-bit form; ISO BMFF is
    * big-endian, ByteBuffer's default order). */
  private def mp4Box(tp: String, payload: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
    bb.putInt(8 + payload.length).put(tp.getBytes("US-ASCII")).put(payload)
    bb.array()
  }

  private val mp4UnityMatrix: Array[Int] = Array(
    0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)

  /** Fully valid minimal MP4 for the rule above. */
  private[graft] def mp4Bytes(id: Long): Array[Byte] = {
    val (dur, w, h, hasAudio, nMdat, large) = mp4Rule(id)
    val nTracks = if (hasAudio) 2 else 1

    val ftyp = {
      val bb = java.nio.ByteBuffer.allocate(16)
      bb.put("isom".getBytes("US-ASCII")).putInt(512)
        .put("isom".getBytes("US-ASCII")).put("mp41".getBytes("US-ASCII"))
      mp4Box("ftyp", bb.array())
    }
    // an unknown box a real muxer may emit: the parser must skip it
    // by size, not assume moov follows ftyp directly
    val free = mp4Box("free", Array.fill[Byte](8)(0))

    val mvhd = {
      val bb = java.nio.ByteBuffer.allocate(100)
      bb.putInt(0)                       // version 0 + flags
        .putInt(0).putInt(0)             // ctime, mtime
        .putInt(600).putInt(dur.toInt)   // timescale, duration
        .putInt(0x00010000)              // rate 1.0
        .putShort(0x0100.toShort)        // volume 1.0
        .putShort(0).putInt(0).putInt(0) // reserved
      mp4UnityMatrix.foreach(bb.putInt)
      (0 until 6).foreach(_ => bb.putInt(0)) // pre_defined
      bb.putInt(nTracks + 1)             // next_track_ID
      mp4Box("mvhd", bb.array())
    }

    def trak(trackId: Int, handler: String): Array[Byte] = {
      val tkhd = {
        val bb = java.nio.ByteBuffer.allocate(84)
        bb.putInt(0x000007)              // version 0, flags: enabled|inMovie|inPreview
          .putInt(0).putInt(0)           // ctime, mtime
          .putInt(trackId).putInt(0)     // track_ID, reserved
          .putInt(dur.toInt)
          .putInt(0).putInt(0)           // reserved
          .putShort(0).putShort(0)       // layer, alternate_group
          .putShort(if (handler == "soun") 0x0100.toShort else 0)
          .putShort(0)                   // reserved
        mp4UnityMatrix.foreach(bb.putInt)
        // 16.16 fixed-point geometry; audio tracks carry 0×0
        if (handler == "vide") bb.putInt(w << 16).putInt(h << 16)
        else bb.putInt(0).putInt(0)
        mp4Box("tkhd", bb.array())
      }
      val mdhd = {
        val bb = java.nio.ByteBuffer.allocate(24)
        bb.putInt(0).putInt(0).putInt(0)
          .putInt(600).putInt(dur.toInt)
          .putShort(0x55C4.toShort)      // language 'und'
          .putShort(0)
        mp4Box("mdhd", bb.array())
      }
      val hdlr = {
        val bb = java.nio.ByteBuffer.allocate(25)
        bb.putInt(0).putInt(0)
          .put(handler.getBytes("US-ASCII"))
          .putInt(0).putInt(0).putInt(0) // reserved
          .put(0.toByte)                 // empty name
        mp4Box("hdlr", bb.array())
      }
      mp4Box("trak", tkhd ++ mp4Box("mdia", mdhd ++ hdlr))
    }

    val traks =
      if (hasAudio) trak(1, "vide") ++ trak(2, "soun") else trak(1, "vide")
    val moov = mp4Box("moov", mvhd ++ traks)

    val payload = Array.tabulate[Byte](nMdat)(i => mdatByte(id, i).toByte)
    val mdat =
      if (large) {
        val bb = java.nio.ByteBuffer.allocate(16 + nMdat)
        bb.putInt(1).put("mdat".getBytes("US-ASCII"))
          .putLong(16L + nMdat).put(payload)
        bb.array()
      } else mp4Box("mdat", payload)

    ftyp ++ free ++ moov ++ mdat
  }

  /** One box header at `pos` within [pos, end): (type, headerLen,
    * boxSize). Handles the 64-bit largesize form; rejects corrupt
    * sizes loudly (a wrong size is how a box walk turns into an
    * infinite loop or a silent overread — same class as the RIFF
    * guard above). */
  private def mp4BoxHeader(bytes: Array[Byte], pos: Int, end: Int): (String, Int, Long) = {
    require(pos + 8 <= end, s"truncated box header at $pos")
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val size32 = bb.getInt(pos).toLong & 0xffffffffL
    val tp = new String(bytes, pos + 4, 4, "US-ASCII")
    val (hdr, size) =
      if (size32 == 1L) {
        require(pos + 16 <= end, s"truncated largesize header at $pos")
        (16, bb.getLong(pos + 8))
      } else (8, size32)
    require(size >= hdr && pos + size <= end,
      s"corrupt box size $size for '$tp' at offset $pos")
    (tp, hdr, size)
  }

  /** Genuine ISO BMFF box-tree walk → (timescale, durationTicks,
    * nTracks, videoWidth, videoHeight, nAudioTracks, mdatBytes,
    * mdatChecksum). */
  private[graft] def parseMp4(bytes: Array[Byte]): (Long, Long, Long, Long, Long, Long, Long, Long) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var timescale = -1L; var dur = -1L
    var nTracks = 0L; var vw = -1L; var vh = -1L; var nAudio = 0L
    var mdatLen = -1L; var ck = 0L; var sawFtyp = false

    def walkTrak(start: Int, end: Int): Unit = {
      var p = start; var w = -1L; var h = -1L; var handler = ""
      while (p < end) {
        val (tp, hdr, sz) = mp4BoxHeader(bytes, p, end)
        tp match {
          case "tkhd" =>
            require(bytes(p + hdr) == 0, "tkhd version != 0 unsupported")
            w = (bb.getInt(p + hdr + 76).toLong & 0xffffffffL) >> 16
            h = (bb.getInt(p + hdr + 80).toLong & 0xffffffffL) >> 16
          case "mdia" =>
            // nested walk for the handler that CLASSIFIES this trak
            var q = p + hdr
            val qEnd = p + sz.toInt
            while (q < qEnd) {
              val (tq, hq, sq) = mp4BoxHeader(bytes, q, qEnd)
              if (tq == "hdlr")
                handler = new String(bytes, q + hq + 8, 4, "US-ASCII")
              q += sq.toInt
            }
          case _ => ()
        }
        p += sz.toInt
      }
      if (handler == "vide") { vw = w; vh = h }
      else if (handler == "soun") nAudio += 1
    }

    var p = 0
    while (p < bytes.length) {
      val (tp, hdr, sz) = mp4BoxHeader(bytes, p, bytes.length)
      tp match {
        case "ftyp" => sawFtyp = true
        case "moov" =>
          var q = p + hdr
          val qEnd = p + sz.toInt
          while (q < qEnd) {
            val (tq, hq, sq) = mp4BoxHeader(bytes, q, qEnd)
            tq match {
              case "mvhd" =>
                require(bytes(q + hq) == 0, "mvhd version != 0 unsupported")
                timescale = bb.getInt(q + hq + 12).toLong & 0xffffffffL
                dur = bb.getInt(q + hq + 16).toLong & 0xffffffffL
              case "trak" =>
                nTracks += 1
                walkTrak(q + hq, q + sq.toInt)
              case _ => ()
            }
            q += sq.toInt
          }
        case "mdat" =>
          mdatLen = sz - hdr
          var i = 0
          while (i < mdatLen) {
            ck += (i + 1L) * (bytes(p + hdr + i).toLong & 0xffL)
            i += 1
          }
        case _ => () // unknown top-level box (free, skip by size)
      }
      p += sz.toInt
    }
    require(sawFtyp, "missing ftyp")
    require(timescale > 0 && dur >= 0, "missing/invalid mvhd")
    require(vw >= 0 && vh >= 0, "no video trak")
    require(mdatLen >= 0, "missing mdat")
    (timescale, dur, nTracks, vw, vh, nAudio, mdatLen, ck)
  }

  /** Synthesize → genuinely box-walk MP4 per document; all-integer
    * output, fully oracled from the construction rule. */
  def multimodalMp4(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    fannedIds(s, d)
      .mapPartitions(_.map { id =>
        val (ts, dur, nt, w, h, na, nb, ck) = parseMp4(mp4Bytes(id))
        (id, ts, dur * 1000L / ts, nt, w, h, na, nb, ck)
      })
      .toDF("asset_id", "timescale", "duration_ms", "n_tracks",
        "width", "height", "n_audio", "mdat_bytes", "mdat_checksum")
  }

  // ---------------------------------------------------------------
  // MJPEG-in-AVI (r10): COMPRESSED-video frame decode — closes this
  // file's last stub surface. Motion-JPEG is a real compressed video
  // codec (intra-frame JPEG — the native output of webcams, capture
  // cards, and many dashcams), and the JDK ships the full JPEG codec,
  // so unlike H.264-class inter-frame codecs it is genuinely
  // decodable in this container. Per document: one two-tone JPEG per
  // frame (per-frame planted colors, explicit quality 1.0 — see
  // twoToneJpeg) muxed into a hand-rolled RIFF/AVI container (hdrl
  // avih + strl strh/strf, movi 00dc chunks with odd-length padding,
  // idx1 index). The parser walks the RIFF tree by chunk size (never
  // by position), takes geometry from the stream's OWN strf
  // BITMAPINFOHEADER (the mp4 hdlr lesson: positional parsers fail
  // the oracle), cross-checks the idx1 index entry-by-entry against
  // the chunks it actually walked, and decodes every frame with the
  // real codec. Lossy codec ⇒ exact pixel replay is impossible; the
  // oracle carries the planted construction plus all-ones gate flags
  // (the multimodal_jpeg pattern, here per FRAME: ok_frames must
  // equal n_frames). All construction moduli divide 192, so
  // AnalyticsSpec's exhaustive cycle sweep covers every (dims,
  // frame-count, rate, color) combination the corpus can produce.
  // ---------------------------------------------------------------

  /** (width, height, nFrames, usPerFrame) per asset. Dims stay
    * MCU-aligned (16-multiples) for the same 4:2:0-chroma reason as
    * [[jpegDims]]; every modulus divides 192. */
  private def aviRule(id: Long): (Int, Int, Int, Int) =
    (48 + (id % 3).toInt * 16, 32 + (id % 2).toInt * 32,
      2 + (id % 4).toInt, 20000 * (1 + (id % 4).toInt))

  /** Planted (top, bottom) colors of frame f — mid-range 32..223 like
    * [[jpegColors]] so the codec gate's tolerance analysis carries. */
  private def aviColors(id: Long, f: Int): (Array[Int], Array[Int]) = (
    Array(32 + ((id * 7 + f * 19) % 192L).toInt,
      32 + ((id * 11 + f * 23) % 192L).toInt,
      32 + ((id * 3 + f * 29) % 192L).toInt),
    Array(32 + ((id * 5 + f * 13 + 96) % 192L).toInt,
      32 + ((id * 13 + f * 37 + 64) % 192L).toInt,
      32 + ((id * 17 + f * 7 + 32) % 192L).toInt))

  private def le32(v: Int): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
  private def le16(v: Int): Array[Byte] = Array(v.toByte, (v >> 8).toByte)
  private def fourcc(s: String): Array[Byte] = {
    require(s.length == 4, s"fourcc '$s'"); s.getBytes("US-ASCII")
  }

  /** RIFF chunk: tag + LE32 size (unpadded) + payload + odd-pad byte.
    * The pad-byte rule is the classic RIFF parser trap — idx1 sizes
    * are unpadded while the walk must advance padded. */
  private def riffChunk(tag: String, payload: Array[Byte]): Array[Byte] =
    fourcc(tag) ++ le32(payload.length) ++ payload ++
      (if ((payload.length & 1) == 1) Array(0.toByte) else Array.empty[Byte])

  private def riffList(tpe: String, body: Array[Byte]): Array[Byte] =
    riffChunk("LIST", fourcc(tpe) ++ body)

  /** Mux the per-frame JPEGs into an AVI: RIFF('AVI ') { LIST hdrl
    * { avih, LIST strl { strh, strf } }, LIST movi { 00dc* }, idx1 }.
    * idx1 offsets are relative to the movi list's type fourcc (the
    * convention OpenDML clarified; first chunk ⇒ offset 4). */
  private[graft] def aviBytes(writer: javax.imageio.ImageWriter, id: Long): Array[Byte] = {
    val (w, h, nf, usf) = aviRule(id)
    val frames = Array.tabulate(nf) { f =>
      val (top, bot) = aviColors(id, f)
      twoToneJpeg(writer, w, h, top, bot)
    }
    val maxFrame = frames.map(_.length).max
    val avih = le32(usf) ++ le32(0) ++ le32(0) ++ le32(0x10 /*HASINDEX*/) ++
      le32(nf) ++ le32(0) ++ le32(1 /*streams*/) ++ le32(maxFrame) ++
      le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val strh = fourcc("vids") ++ fourcc("MJPG") ++ le32(0) ++
      le16(0) ++ le16(0) ++ le32(0) ++ le32(usf /*scale*/) ++
      le32(1000000 /*rate*/) ++ le32(0) ++ le32(nf /*length*/) ++
      le32(maxFrame) ++ le32(-1 /*quality*/) ++ le32(0) ++
      le16(0) ++ le16(0) ++ le16(w) ++ le16(h)
    val strf = le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
      fourcc("MJPG") ++ le32(w * h * 3) ++ le32(0) ++ le32(0) ++
      le32(0) ++ le32(0)
    val hdrl = riffList("hdrl",
      riffChunk("avih", avih) ++
        riffList("strl", riffChunk("strh", strh) ++ riffChunk("strf", strf)))
    // movi body + idx1 offsets (relative to the 'movi' fourcc): the
    // fourcc itself is 4 bytes, so the first chunk tag sits at 4
    var off = 4
    val moviBody = new java.io.ByteArrayOutputStream
    val idx = new java.io.ByteArrayOutputStream
    frames.foreach { jp =>
      val ch = riffChunk("00dc", jp)
      idx.write(fourcc("00dc")); idx.write(le32(0x10 /*KEYFRAME*/))
      idx.write(le32(off)); idx.write(le32(jp.length))
      moviBody.write(ch)
      off += ch.length
    }
    val body = hdrl ++ riffList("movi", moviBody.toByteArray) ++
      riffChunk("idx1", idx.toByteArray)
    riffChunk("RIFF", fourcc("AVI ") ++ body)
  }

  /** Walk + genuinely decode: (w, h, nFrames, durationUs, okFrames,
    * idxOk). Corrupt structure rejects loudly; a decode drift beyond
    * the ±6 gate or an index/chunk disagreement flips the flags. The
    * reader is caller-supplied and reused across frames/assets (the
    * per-partition codec-init amortization this file's mapPartitions
    * idiom exists for). */
  private[graft] def parseAvi(reader: javax.imageio.ImageReader,
      bytes: Array[Byte], id: Long): (Int, Int, Long, Long, Long, Long) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tagAt(p: Int): String = {
      require(p + 4 <= bytes.length, s"truncated tag at $p")
      new String(bytes, p, 4, "US-ASCII")
    }
    // p is the chunk START (tag position); the LE32 size sits at p+4
    // and covers the payload only — the walk advances 8 + size + pad
    def sizeAt(p: Int): Int = {
      val v = bb.getInt(p + 4)
      require(v >= 0 && p + 8 + v <= bytes.length, s"bad chunk size $v at $p")
      v
    }
    require(tagAt(0) == "RIFF" && tagAt(8) == "AVI ", "not an AVI")
    val riffEnd = 8 + sizeAt(0)
    // hdrl fields
    var usf = -1; var totalFrames = -1; var avihW = -1; var avihH = -1
    var strfW = -1; var strfH = -1; var strhLen = -1; var strhScale = -1
    var strhRate = -1; var sawVids = false
    // movi chunk records: (offset rel. to movi fourcc, unpadded len,
    // payload start abs)
    val chunks = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var idx1 = Array.empty[Byte]
    def walkStrl(start: Int, end: Int): Unit = {
      var p = start
      while (p < end) {
        val tag = tagAt(p); val sz = sizeAt(p)
        tag match {
          case "strh" =>
            require(sz >= 56, "short strh")
            val fccType = tagAt(p + 8); val handler = tagAt(p + 12)
            if (fccType == "vids") {
              sawVids = true
              require(handler == "MJPG", s"codec $handler")
              strhScale = bb.getInt(p + 8 + 20)
              strhRate = bb.getInt(p + 8 + 24)
              strhLen = bb.getInt(p + 8 + 32)
            }
          case "strf" =>
            require(sz >= 40, "short strf")
            require(bb.getInt(p + 8) == 40, "biSize")
            strfW = bb.getInt(p + 12); strfH = bb.getInt(p + 16)
            require(tagAt(p + 24) == "MJPG", "strf biCompression")
          case _ => () // unknown stream chunks (indx, vprp) skip by size
        }
        p += 8 + sz + (sz & 1)
      }
    }
    def walkHdrl(start: Int, end: Int): Unit = {
      var p = start
      while (p < end) {
        val tag = tagAt(p); val sz = sizeAt(p)
        if (tag == "avih") {
          require(sz >= 56, "short avih")
          usf = bb.getInt(p + 8); totalFrames = bb.getInt(p + 24)
          avihW = bb.getInt(p + 40); avihH = bb.getInt(p + 44)
        } else if (tag == "LIST" && tagAt(p + 8) == "strl")
          walkStrl(p + 12, p + 8 + sz)
        p += 8 + sz + (sz & 1)
      }
    }
    var p = 12
    while (p < riffEnd) {
      val tag = tagAt(p); val sz = sizeAt(p)
      if (tag == "LIST") {
        tagAt(p + 8) match {
          case "hdrl" => walkHdrl(p + 12, p + 8 + sz)
          case "movi" =>
            val moviFour = p + 8
            var q = moviFour + 4
            val end = p + 8 + sz
            while (q < end) {
              val ct = tagAt(q); val cs = sizeAt(q)
              // 00dc = stream-0 compressed video; rec  lists legal
              if (ct == "00dc") chunks += ((q - moviFour, cs, q + 8))
              q += 8 + cs + (cs & 1)
            }
          case _ => ()
        }
      } else if (tag == "idx1")
        idx1 = java.util.Arrays.copyOfRange(bytes, p + 8, p + 8 + sz)
      p += 8 + sz + (sz & 1)
    }
    require(sawVids, "no vids stream")
    require(usf > 0 && totalFrames >= 0, "no avih")
    require(strfW == avihW && strfH == avihH, "strf/avih dim mismatch")
    require(strhScale == usf && strhRate == 1000000,
      s"strh rate $strhRate/$strhScale vs avih $usf")
    require(strhLen == chunks.length && totalFrames == chunks.length,
      s"frame count ${chunks.length} vs strh $strhLen / avih $totalFrames")
    // idx1 cross-check: entry-per-chunk, same tag/offset/unpadded size
    val ib = java.nio.ByteBuffer.wrap(idx1)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val idxOk =
      if (idx1.length != 16 * chunks.length) 0L
      else if (chunks.zipWithIndex.forall { case ((o, l, _), i) =>
        new String(idx1, 16 * i, 4, "US-ASCII") == "00dc" &&
          ib.getInt(16 * i + 8) == o && ib.getInt(16 * i + 12) == l
      }) 1L else 0L
    // decode every frame with the real codec and gate both halves
    javax.imageio.ImageIO.setUseCache(false)
    var ok = 0L
    chunks.zipWithIndex.foreach { case ((_, len, start), f) =>
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes, start, len))
      val img = try {
        reader.setInput(iis)
        reader.read(0)
      } finally {
        try reader.reset() finally iis.close()
      }
      require(img != null, s"frame $f not decodable")
      require(img.getWidth == strfW && img.getHeight == strfH,
        s"frame $f dims ${img.getWidth}x${img.getHeight}")
      val (top, bot) = aviColors(id, f)
      def halfErr(y0: Int, y1: Int, planted: Array[Int]): Long = {
        val px = img.getRGB(0, y0, strfW, y1 - y0, null, 0, strfW)
        var sr = 0L; var sg = 0L; var sb = 0L
        var i = 0
        while (i < px.length) {
          val rgb = px(i)
          sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
          i += 1
        }
        val n = (y1 - y0).toLong * strfW
        Seq(sr, sg, sb).zip(planted).map { case (sv, pv) =>
          math.abs((sv + n / 2) / n - pv)
        }.max
      }
      if (halfErr(0, strfH / 2, top) <= 6L &&
        halfErr(strfH / 2, strfH, bot) <= 6L) ok += 1L
    }
    (strfW, strfH, chunks.length.toLong, chunks.length.toLong * usf, ok, idxOk)
  }

  /** Synthesize → mux → genuinely demux + decode every frame of an
    * MJPEG AVI per document (the compressed-video analogue of
    * [[multimodalGif]]; lossy codec ⇒ gated oracle like
    * [[multimodalJpeg]]). The planted checksum binds the per-frame
    * color construction into the hash-compare. */
  def multimodalMjpeg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    fannedIds(s, d)
      .mapPartitions { it =>
        // one JPEG encoder + decoder per partition, reused across
        // frames/assets, dispose()d at task end (see multimodalGif)
        val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
        val reader = javax.imageio.ImageIO.getImageReadersByFormatName("jpg").next()
        disposeAtTaskEnd(() => writer.dispose(), () => reader.dispose())
        it.map { id =>
          val (w, h, nf, durUs, ok, idxOk) = parseAvi(reader, aviBytes(writer, id), id)
          val plantCk = (0 until nf.toInt).map { f =>
            val (top, bot) = aviColors(id, f)
            (f + 1L) * (top.sum.toLong + bot.sum.toLong)
          }.sum
          (id, w, h, nf, durUs, ok, idxOk, plantCk)
        }
      }
      .toDF("asset_id", "width", "height", "n_frames", "duration_us",
        "ok_frames", "idx_ok", "plant_checksum")
  }

  // ---------------------------------------------------------------
  // Content-type sniffing + dispatch (r11): a real multimodal corpus
  // column never carries a trustworthy extension or content-type —
  // ingest MUST sniff the magic bytes and dispatch the right decoder
  // (the `file(1)`/libmagic step). Per document one of SEVEN formats
  // is synthesized on a doc_id rotation; the sniffer sees ONLY the
  // bytes (never the rotation), detects the container by magic —
  // including the two RIFF forms (WAVE vs AVI) that share their
  // leading fourcc and the tar magic that sits at offset 257, not 0 —
  // and dispatches the matching REAL parser from this file's codec
  // suite. The oracle pins the detected type AND a parser-derived
  // unit count (pixels / pixel-frames / samples / members / records)
  // against each format's construction rule, so both the detection
  // and the dispatched decode are hash-checked.
  // ---------------------------------------------------------------

  /** Magic-byte detection over an opaque binary column's bytes. */
  private[graft] def sniffMediaType(b: Array[Byte]): String = {
    def ascii(off: Int, s: String): Boolean =
      b.length >= off + s.length &&
        new String(b, off, s.length, "US-ASCII") == s
    if (b.length >= 4 && (b(0) & 0xff) == 0x89 && ascii(1, "PNG")) "image/png"
    else if (b.length >= 3 && (b(0) & 0xff) == 0xff &&
      (b(1) & 0xff) == 0xd8 && (b(2) & 0xff) == 0xff) "image/jpeg"
    else if (ascii(0, "GIF8")) "image/gif"
    else if (ascii(0, "RIFF") && ascii(8, "WAVE")) "audio/wav"
    else if (ascii(0, "RIFF") && ascii(8, "AVI ")) "video/avi"
    // 'BM' is a 2-byte magic that text can trivially collide with
    // ("BMW …"), so corroborate the way file(1)'s magic database
    // does: the four RESERVED bytes at offsets 6–9 must be zero and
    // the pixel-data offset at 10–13 must point past the smallest
    // possible header and inside the buffer. (Deliberately NOT the
    // size field at offset 2 — real writers legally emit 0 there, and
    // a prefix-sniffer can't know the file length anyway.)
    else if (ascii(0, "BM") && b.length >= 54 &&
      b(6) == 0 && b(7) == 0 && b(8) == 0 && b(9) == 0 && {
        val pixOff = (b(10) & 0xffL) | ((b(11) & 0xffL) << 8) |
          ((b(12) & 0xffL) << 16) | ((b(13) & 0xffL) << 24)
        pixOff >= 26L && pixOff <= b.length.toLong
      }) "image/bmp"
    else if (b.length >= 2 && (b(0) & 0xff) == 0x1f &&
      (b(1) & 0xff) == 0x8b) "application/gzip"
    else if (ascii(257, "ustar")) "application/x-tar"
    else "application/octet-stream"
  }

  /** Synthesize (7-format rotation) → sniff → dispatch the sniffed
    * parser → (type, parser-derived units, validity gate). */
  def multimodalSniff(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    fannedIds(s, d)
      .mapPartitions { it =>
        val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
        val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
        disposeAtTaskEnd(() => writer.dispose(), () => reader.dispose())
        it.map { id =>
          val bytes = (id % 7) match {
            case 0 => pngBytes(id)
            case 1 => jpegBytes(id)
            case 2 => gifBytes(writer, id)
            case 3 => bmpBytes(id)
            case 4 => wavBytes(id, (100 + id % 50).toInt)
            case 5 => tarBytes(id)
            case _ => Web.warcGzipBytes(id)
          }
          // the sniffer sees only the bytes; dispatch follows the
          // SNIFFED type, never the synthesis rotation
          val sniffed = sniffMediaType(bytes)
          val (units, ok) = sniffed match {
            case "image/png" =>
              val (w, h, _, _, _, _) = parsePng(bytes); (w.toLong * h, 1L)
            case "image/jpeg" =>
              val (w, h, eT, eB) = jpegHalfErrors(bytes, id)
              (w.toLong * h, if (eT <= 6L && eB <= 6L) 1L else 0L)
            case "image/gif" =>
              val (w, h, nf, _, _, _, _) = parseGif(reader, bytes)
              (w.toLong * h * nf, 1L)
            case "image/bmp" =>
              val (w, h, _, _, _, _) = parseBmp(bytes); (w.toLong * h, 1L)
            case "audio/wav" =>
              val (_, ns, _, _, _, _) = parseWav(bytes); (ns, 1L)
            case "application/x-tar" =>
              val (nm, _, _, _) = parseTar(bytes); (nm, 1L)
            case "application/gzip" =>
              val (plain, members) = Web.gunzipMembers(bytes)
              val rec = Web.parseWarc(plain)
              require(members == rec._1, "member/record mismatch")
              (rec._1, 1L)
            case _ => (0L, 0L)
          }
          (id, sniffed, units, ok)
        }
      }
      .toDF("asset_id", "media_type", "n_units", "ok")
  }

  // ---------------------------------------------------------------
  // Image–text alignment gate (r13) — the LAION/DataComp keep-drop
  // filter shape: score every (image, caption) pair, keep pairs whose
  // caption demonstrably describes the image, drop mismatches. The
  // CLIP score becomes rule-derived arithmetic both engines can
  // replay: the image signature is the 64-bit dHash of the GENUINELY
  // DECODED phash-testbed BMP (Dedup.dedupPhash's pipeline — decode,
  // 4×4 pooling, adjacent-column comparison), the caption arrives as
  // a 64-dim float EMBEDDING whose sign bits encode what the labeler
  // saw, and the alignment score is the bit agreement between the
  // two (a cosine over ±1 vectors, affinely: cos = 2·agree/64 − 1).
  // Pair classes by pair_id % 3 plant the three populations a real
  // filter faces: faithful captions (agree 64), noisy-but-correct
  // captions (4 flipped sign dims → 60), and mismatched captions
  // (md5-independent signs → agree ≈ Binomial(64, ½)). The keep
  // threshold 52 sits between them: P(random ≥ 52) ≈ 2.8·10⁻⁷, so
  // mismatches cannot sneak through at any test SF while both
  // aligned classes clear with margin. Cross-corroboration is the
  // point (the dedup_phash discipline): the engine recovers the
  // image bits THROUGH the real decoder while the oracle replays the
  // synthesis arithmetic — a decoder bug breaks the hash match.
  // Scale shape: decode is per-row work behind the full-width
  // fan-out; the caption side is pure expression; ONE id-keyed join
  // pairs them. Gating 100 TB of pairs is a map pass per side.
  // ---------------------------------------------------------------

  private[graft] val AlignThreshold = 52

  /** The caption-embedding column for pair class `cls` over the
    * (seed, flip_c, flip_r) synthesis params: sign(dim k) encodes the
    * labeler's bit for dHash position k. */
  private def captionEmb: org.apache.spark.sql.Column = {
    def patBit(c: Int, by: Int): org.apache.spark.sql.Column =
      conv(substring(md5(concat(col("seed").cast("string"),
        lit(s":$c:$by"))), 1, 1), 16, 10).cast("int") >= 8
    val cls = col("pair_id") % 3
    val dims = (0 until 64).map { k =>
      val c = k % 8; val by = k / 8
      val imgBit = patBit(c, by) =!=
        (col("flip_c") === c && col("flip_r") === by)
      val capRnd = conv(substring(md5(concat(lit("cap:"),
        col("pair_id").cast("string"), lit(s":$k"))), 1, 1), 16, 10)
        .cast("int") >= 8
      val bit = when(cls === 0, imgBit)
        .when(cls === 1, imgBit =!= lit(k % 16 == 7))
        .otherwise(capRnd)
      (when(bit, 1.0).otherwise(-1.0) * lit(0.25 * (1 + k % 3)))
        .cast("double")
    }
    array(dims: _*)
  }

  /** The scored pair table behind the align gate — REAL decode on the
    * image side, in-plan sign extraction on the caption side. Shared
    * by the pair-level gate and the interleaved-document composition. */
  private def alignScored(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val corpus = Dedup.phashCorpus(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .persistTracked()
    // image side: synthesize + REAL decode (never the pattern rule)
    val fp = corpus
      .as[(Long, Long, Long, Long, Long)]
      .mapPartitions(_.map { case (id, seed, tex, fc, fr) =>
        (id, phashOfBmp(phashBmpBytes(seed, tex, fc, fr)))
      })
      .toDF("pair_id", "phash")
    // caption side: embedding vector → in-plan sign-bit extraction
    val caps = corpus
      .select(col("doc_id").as("pair_id"), col("seed"),
        col("flip_c"), col("flip_r"))
      .withColumn("cap_emb", captionEmb)
      .withColumn("cap_bits", concat_ws("",
        transform(col("cap_emb"),
          x => when(x >= 0, "1").otherwise("0"))))
      .select(col("pair_id"), col("cap_bits"))
    val agree = aggregate(sequence(lit(1), lit(64)), lit(0L), (acc, k) =>
      acc + when(col("phash").substr(k, lit(1)) ===
        col("cap_bits").substr(k, lit(1)), 1L).otherwise(0L))
    fp.join(caps, Seq("pair_id"))
      .withColumn("n_agree", agree)
      .select(col("pair_id"), (col("pair_id") % 3).as("align_class"),
        col("n_agree"),
        (col("n_agree") - AlignThreshold).as("margin"),
        (col("n_agree") >= AlignThreshold).cast("int").as("keep"))
  }

  def multimodalAlign(s: SparkSession, d: String): DataFrame =
    alignScored(s, d)

  /** Interleaved multimodal documents (r15) — the MMC4/OBELICS
    * production shape the pair gate alone does not model: a web
    * document carries SEVERAL image slots, each slot gets the
    * alignment verdict, and the per-document decision is
    * keep-and-STRIP (drop misaligned images, keep the document while
    * at least one aligned image remains) rather than keep/drop the
    * pair. Document i carries 1 + (i mod 4) slots; slot s references
    * pool pair (i·53 + s·17) mod N — a deterministic id-keyed
    * mapping, so the composition is one join against the scored pair
    * table (which itself rides the REAL BMP decode). `kept_fp`
    * order-pins exactly which slots survived the strip, so the hash
    * match proves the per-slot verdicts AND their composition.
    *
    * Scale shape: slots explode bounded (≤ 4 per doc), the pool join
    * is id-keyed, the rollup doc-keyed — the whole composition adds
    * one narrow shuffle on top of the decode pass. */
  def multimodalInterleaved(s: SparkSession, d: String): DataFrame = {
    val scored = alignScored(s, d)
    // natural pool width = the documents row count (a 1-row driver
    // scalar, the maxId-collect class)
    val n = graft.Tables.documents(s, d).count()
    val slots = graft.Tables.documents(s, d).select(col("doc_id").as("i"))
      .withColumn("s", explode(sequence(lit(0), (col("i") % 4).cast("int"))))
      .withColumn("pair_id", (col("i") * 53 + col("s") * 17) % n)
    // inner join + slot-count reconciliation (the r15 advice's "assert
    // slot counts" alternative): doc i must emit exactly 1 + (i mod 4)
    // slots, so a pool pair missing from the scored table (or a
    // duplicated pair inflating the join) surfaces as an ERROR, never
    // a silently smaller/larger document. The left-outer respelling of
    // this guard forced a SortMergeJoin (LeftOuter can only broadcast
    // the right side, and the scored frame's derived-size estimate is
    // above the threshold) — two extra corpus-keyed exchanges; the
    // inner join keeps the r15 broadcast plan and the count equality
    // check is strictly stronger per surviving doc.
    val slotGuard = when(col("n_slots") === lit(1L) + col("i") % 4,
      col("n_slots")).otherwise(raise_error(concat(
        lit("multimodal_interleaved: doc "), col("i").cast("string"),
        lit(" joined "), col("n_slots").cast("string"),
        lit(" scored slots, expected 1 + (doc_id % 4) — a pool pair is "),
        lit("missing from (or duplicated in) the scored pair table"))))
    val grouped = slots.join(scored, Seq("pair_id"))
      .groupBy(col("i"))
      .agg(count(lit(1)).as("n_slots"),
        sum(col("keep")).cast("long").as("n_kept"),
        (count(lit(1)) - sum(col("keep"))).cast("long").as("n_stripped"),
        (sum(col("keep")) > 0).cast("int").as("doc_keep"),
        md5(concat_ws(",", transform(
          array_sort(collect_list(when(col("keep") === 1,
            struct(col("s"), col("pair_id"))))),
          x => concat(x.getField("s").cast("string"), lit(":"),
            x.getField("pair_id").cast("string"))))).as("kept_fp"))
      // doc-count reconciliation (r17, r16 advice): the per-group
      // slot-count guard below cannot see a doc whose EVERY slot pair
      // vanished from the scored table — it would join zero rows, emit
      // no group, and silently disappear. Checkpoint the rollup (one
      // materialization; the decode pass runs exactly once either way)
      // and compare the emitted doc count against the pool width n
      // driver-side — total coverage, no extra exchange, and no
      // re-execution of the heavy scored chain.
      .localCheckpoint(true)
    val emitted = grouped.count()
    require(emitted == n,
      s"multimodal_interleaved: $emitted docs emitted, expected $n — " +
        "some doc's every slot pair is missing from the scored pair table")
    grouped
      .select(col("i").as("doc_id"), slotGuard.as("n_slots"), col("n_kept"),
        col("n_stripped"), col("doc_keep"), col("kept_fp"))
  }


  /** hex-pair → byte value, DuckDB spelling (strpos is 1-based). */
  private val byteExpr =
    """(strpos('0123456789abcdef', substr(sha, 2*i + 1, 1)) - 1) * 16
       + (strpos('0123456789abcdef', substr(sha, 2*i + 2, 1)) - 1)"""

  /** multimodal_align oracle: the image bits replayed via the planted
    * pattern arithmetic (Dedup.phashSql — the engine must recover the
    * same bits through the real decode), the caption embedding built
    * from the same labeler rule, signs extracted from the float dims,
    * agreement summed per pair. */
  /** The align CTE chain ending in
    * `scored(pair_id, align_class, n_agree, margin, keep)` — shared
    * by the pair gate and the interleaved-document oracle. */
  private def alignCtes: String = {
    val highs = "('8','9','a','b','c','d','e','f')"
    val dims = (0 until 64).map { k =>
      val c = k % 8; val by = k / 8
      val w = Seq("0.25", "0.5", "0.75")(k % 3)
      val img =
        s"""((CASE WHEN substr(md5(seed || ':$c:$by'), 1, 1) IN $highs
            THEN 1 ELSE 0 END
            + CASE WHEN flip_c = $c AND flip_r = $by THEN 1 ELSE 0 END) % 2 = 1)"""
      val flip1 = if (k % 16 == 7) s"NOT $img" else img
      val rnd =
        s"""substr(md5('cap:' || doc_id || ':$k'), 1, 1) IN $highs"""
      s"""CASE WHEN (CASE WHEN doc_id % 3 = 0 THEN $img
          WHEN doc_id % 3 = 1 THEN $flip1
          ELSE $rnd END)
        THEN 1.0 ELSE -1.0 END * $w"""
    }.mkString(",\n            ")
    s"""${Dedup.phashSql},
        caps AS MATERIALIZED (
          SELECT doc_id AS pair_id,
            [$dims] AS emb
          FROM ids),
        capbits AS (
          SELECT pair_id,
            array_to_string(list_transform(generate_series(1, 64),
              k -> CASE WHEN emb[k] >= 0 THEN '1' ELSE '0' END), '')
              AS cap_bits
          FROM caps),
        scored AS MATERIALIZED (
          SELECT pair_id, pair_id % 3 AS align_class, n_agree,
            n_agree - $AlignThreshold AS margin,
            CAST(n_agree >= $AlignThreshold AS INT) AS keep
          FROM (
            SELECT f.doc_id AS pair_id,
              CAST(list_sum(list_transform(generate_series(1, 64),
                k -> CASE WHEN substr(f.phash, CAST(k AS INT), 1)
                  = substr(cb.cap_bits, CAST(k AS INT), 1)
                  THEN 1 ELSE 0 END)) AS BIGINT) AS n_agree
            FROM fp f JOIN capbits cb ON cb.pair_id = f.doc_id) z)"""
  }

  private def alignSql: String =
    s"""WITH $alignCtes
        SELECT pair_id, align_class, n_agree, margin, keep FROM scored"""

  /** multimodal_interleaved oracle: the same scored pair table, the
    * deterministic slot mapping, and the keep-and-strip rollup with
    * the order-pinned kept-slot fold. */
  private def interleavedSql: String =
    s"""WITH $alignCtes,
        nd AS (SELECT count(*) AS n FROM documents),
        slots AS (
          SELECT d.doc_id AS i, u.s AS s,
            (d.doc_id * 53 + u.s * 17) % (SELECT n FROM nd) AS pair_id
          FROM documents d,
            unnest(generate_series(0, CAST(d.doc_id % 4 AS INT))) u(s)),
        ss AS (
          SELECT sl.i, sl.s, sl.pair_id, sc.keep
          FROM slots sl JOIN scored sc USING (pair_id))
        SELECT i AS doc_id, count(*) AS n_slots,
          CAST(sum(keep) AS BIGINT) AS n_kept,
          CAST(count(*) - sum(keep) AS BIGINT) AS n_stripped,
          CAST(sum(keep) > 0 AS INT) AS doc_keep,
          md5(coalesce(string_agg(
            CASE WHEN keep = 1 THEN s || ':' || pair_id END, ','
            ORDER BY s), '')) AS kept_fp
        FROM ss GROUP BY 1"""

  val registry: Map[String, QueryDef] = Map(
    "multimodal_align" -> QueryDef(multimodalAlign _, alignSql),
    "multimodal_interleaved" -> QueryDef(multimodalInterleaved _,
      interleavedSql),
    // every EXIF field is a construction rule over doc_id, so the
    // oracle replays the PLANT arithmetically while the query only
    // reproduces it by correctly walking markers + both TIFF byte
    // orders; dims_match = 1 is the two-reader corroboration verdict
    "multimodal_exif" -> QueryDef(multimodalExif _,
      """SELECT doc_id AS asset_id,
          CASE WHEN doc_id % 2 = 0 THEN 'MM' ELSE 'II' END AS byte_order,
          CAST(1 + doc_id % 8 AS INT) AS orientation,
          'graftcam-' || CAST(doc_id % 100 AS VARCHAR) AS make,
          '2026:08:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
            || ' ' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
            || ':00:00' AS dt_original,
          CAST(48 + (doc_id % 4) * 16 AS INT) AS exif_w,
          CAST(32 + (doc_id % 2) * 32 AS INT) AS exif_h,
          CAST(1 AS INT) AS dims_match
        FROM documents"""),
    // bytes_saved replays the planted APP1's closed-form size: 2
    // (marker) + 2 (length) + 6 (Exif\0\0) + TIFF(8 header + 54 IFD0 +
    // 30 ExifIFD + even-padded make (12 for any 1-or-2-digit id) + 20
    // DateTime) = 134; the 1-bits are the two corroboration verdicts
    // (bit-identical restore of the pre-splice codec bytes + decode)
    "multimodal_exif_strip" -> QueryDef(multimodalExifStrip _,
      """SELECT doc_id AS asset_id,
          CAST(134 AS BIGINT) AS bytes_saved,
          CAST(1 AS INT) AS match_original,
          CAST(1 AS INT) AS decode_ok
        FROM documents"""),
    // both detection AND dispatched decode are pinned: media_type by
    // the synthesis rotation (the sniffer never sees the rotation —
    // only correct magic-byte detection reproduces it) and n_units by
    // each format's construction rule as recovered by the REAL parser
    // (pixels / pixel-frames / samples / members / records)
    "multimodal_sniff" -> QueryDef(multimodalSniff _,
      """SELECT doc_id AS asset_id,
          CASE CAST(doc_id % 7 AS INT)
            WHEN 0 THEN 'image/png'
            WHEN 1 THEN 'image/jpeg'
            WHEN 2 THEN 'image/gif'
            WHEN 3 THEN 'image/bmp'
            WHEN 4 THEN 'audio/wav'
            WHEN 5 THEN 'application/x-tar'
            ELSE 'application/gzip' END AS media_type,
          CAST(CASE CAST(doc_id % 7 AS INT)
            WHEN 0 THEN (8 + doc_id % 17) * (4 + doc_id % 11)
            WHEN 1 THEN (48 + (doc_id % 4) * 16) * (32 + (doc_id % 2) * 32)
            WHEN 2 THEN (16 + doc_id % 16) * (8 + doc_id % 8) * (2 + doc_id % 6)
            WHEN 3 THEN (16 + doc_id % 16) * (8 + doc_id % 8)
            WHEN 4 THEN 100 + doc_id % 50
            WHEN 5 THEN 2 + doc_id % 3
            ELSE 1 + 2 * (1 + doc_id % 3) END AS BIGINT) AS n_units,
          CAST(1 AS BIGINT) AS ok
        FROM documents"""),
    "multimodal_stub" -> QueryDef(multimodalStub _,
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
          sha256(text) AS content_sha,
          CAST(octet_length(encode(text)) // 256 AS INT) + 1 AS n_frames
        FROM documents"""),
    // stub features are the first 8 sha256 digest bytes / 255 — the
    // oracle recomputes the bytes from the hex digest
    "multimodal_features" -> QueryDef(featuresScalar _,
      s"""SELECT doc_id AS asset_id, octet_length(encode(text)) AS n_bytes,
          sha AS sha256,
          CAST(octet_length(encode(text)) // 256 AS INT) + 1 AS n_frames,
          array_to_string(list_transform(generate_series(0, 7),
            i -> CAST($byteExpr AS VARCHAR)), ',') AS features_b
        FROM (SELECT *, sha256(text) AS sha FROM documents)"""),
    // the same every-4th-byte sample, character-wise (ASCII corpus:
    // byte == char), hashed with the same sha256
    "multimodal_resize" -> QueryDef(multimodalResize(_, _),
      """WITH r AS (
          SELECT doc_id AS asset_id, octet_length(encode(text)) AS n_bytes,
            array_to_string(list_transform(list_filter(
              list_transform(string_split(text, ''),
                (c, i) -> struct_pack(c := c, i := i)),
              s -> (s.i - 1) % 4 = 0), s -> s.c), '') AS resized
          FROM documents)
        SELECT asset_id, n_bytes,
          CAST(octet_length(encode(resized)) AS BIGINT) AS resized_bytes,
          sha256(resized) AS resized_sha
        FROM r"""),
    "multimodal_frames" -> QueryDef(multimodalFrames _,
      """WITH a AS (
          SELECT doc_id AS asset_id,
            CAST(octet_length(encode(text)) // 256 AS INT) + 1 AS n_frames
          FROM documents)
        SELECT asset_id, n_frames,
          CAST(u.f AS BIGINT) AS frame_idx,
          CAST(u.f * 256 AS BIGINT) AS byte_off
        FROM a, unnest(generate_series(0, n_frames - 1, 4)) AS u(f)"""),
    // the WAV construction rule recomputed sample-by-sample: if the
    // engine-side RIFF parse misreads an offset, sign, or sample
    // order, sum/max/positional-checksum diverge
    "multimodal_wav" -> QueryDef(multimodalWav _,
      """WITH a AS (
          SELECT doc_id, GREATEST(1, n_chars) AS n FROM documents),
        s AS (
          SELECT a.doc_id, u.i,
            ((a.doc_id * 31 + u.i * 7919) % 65536) - 32768 AS v
          FROM a, unnest(generate_series(0, a.n - 1)) AS u(i))
        SELECT doc_id AS asset_id,
          CAST(8000 AS INT) AS sample_rate,
          CAST(count(*) AS BIGINT) AS n_samples,
          CAST(count(*) * 125 AS BIGINT) AS duration_us,
          CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
          CAST(max(abs(v)) AS BIGINT) AS max_abs,
          CAST(sum((i + 1) * v) AS BIGINT) AS checksum
        FROM s GROUP BY doc_id"""),
    // the BMP pixel rule recomputed per (x, y): the positional
    // checksum pins bottom-up row order and pad-skip
    "multimodal_bmp" -> QueryDef(multimodalBmp _,
      """WITH a AS (
          SELECT doc_id, 16 + doc_id % 16 AS w, 8 + doc_id % 8 AS h
          FROM documents),
        px AS (
          SELECT a.doc_id, a.w, a.h, x.x, y.y,
            (a.doc_id + x.x * 3 + y.y * 7) % 256 AS b,
            (a.doc_id * 5 + x.x + y.y * 11) % 256 AS g,
            (a.doc_id * 9 + x.x * 13 + y.y) % 256 AS r
          FROM a, unnest(generate_series(0, a.w - 1)) AS x(x),
               unnest(generate_series(0, a.h - 1)) AS y(y))
        SELECT doc_id AS asset_id,
          CAST(min(w) AS INT) AS width,
          CAST(min(h) AS INT) AS height,
          CAST(min(w) * min(h) AS BIGINT) AS n_pixels,
          CAST(sum(r) AS BIGINT) AS sum_r,
          CAST(sum(g) AS BIGINT) AS sum_g,
          CAST(sum(b) AS BIGINT) AS sum_b,
          CAST(sum((y * w + x + 1) * (r + g + b)) AS BIGINT) AS checksum
        FROM px GROUP BY doc_id"""),
    // the PNG pixel rule recomputed per (x, y) — the engine side only
    // matches after a correct chunk walk + CRC check + inflate +
    // un-filter of all five rotating filter types, so a single wrong
    // predictor byte anywhere hash-mismatches
    "multimodal_png" -> QueryDef(multimodalPng _,
      """WITH a AS (
          SELECT doc_id, 8 + doc_id % 17 AS w, 4 + doc_id % 11 AS h
          FROM documents),
        px AS (
          SELECT a.doc_id, a.w, a.h, x.x, y.y,
            (a.doc_id * 7 + x.x * 5 + y.y * 3) % 256 AS r,
            (a.doc_id * 11 + x.x + y.y * 13) % 256 AS g,
            (a.doc_id * 3 + x.x * 17 + y.y) % 256 AS b
          FROM a, unnest(generate_series(0, a.w - 1)) AS x(x),
               unnest(generate_series(0, a.h - 1)) AS y(y))
        SELECT doc_id AS asset_id,
          CAST(min(w) AS INT) AS width,
          CAST(min(h) AS INT) AS height,
          CAST(min(w) * min(h) AS BIGINT) AS n_pixels,
          CAST(sum(r) AS BIGINT) AS sum_r,
          CAST(sum(g) AS BIGINT) AS sum_g,
          CAST(sum(b) AS BIGINT) AS sum_b,
          CAST(sum((y * w + x + 1) * (r + g + b)) AS BIGINT) AS checksum
        FROM px GROUP BY doc_id"""),
    // JPEG decode GATE (lossy codec — exact replay impossible): the
    // oracle carries the planted dims/colors and ALL-ONES tolerance
    // flags; the engine's flags come from genuinely decoding its own
    // real-codec encoding, so any decode break flips them and fails
    // the hash. Tolerance ±6 vs a measured worst error of 4 over the
    // exhaustive 192-id construction cycle (AnalyticsSpec sweep).
    "multimodal_jpeg" -> QueryDef(multimodalJpeg _,
      """SELECT doc_id AS asset_id,
          CAST(48 + (doc_id % 4) * 16 AS INT) AS width,
          CAST(32 + (doc_id % 2) * 32 AS INT) AS height,
          CAST(32 + (doc_id * 7) % 192 AS BIGINT) AS top_r,
          CAST(32 + (doc_id * 11) % 192 AS BIGINT) AS top_g,
          CAST(32 + (doc_id * 3) % 192 AS BIGINT) AS top_b,
          CAST(32 + (doc_id * 5 + 96) % 192 AS BIGINT) AS bot_r,
          CAST(32 + (doc_id * 13 + 64) % 192 AS BIGINT) AS bot_g,
          CAST(32 + (doc_id * 17 + 32) % 192 AS BIGINT) AS bot_b,
          CAST(1 AS BIGINT) AS ok_top,
          CAST(1 AS BIGINT) AS ok_bottom
        FROM documents"""),
    // the GIF frame rule replayed exactly (lossless codec): full-pixel
    // sums are w·h·color per frame, and the (f+1)-weighted checksum
    // pins frame ORDER — a dropped, duplicated, or reordered frame
    // hash-mismatches
    "multimodal_gif" -> QueryDef(multimodalGif _,
      """WITH a AS (
          SELECT doc_id, 16 + doc_id % 16 AS w, 8 + doc_id % 8 AS h,
            2 + doc_id % 6 AS nf
          FROM documents),
        fr AS (
          SELECT a.doc_id, a.w, a.h, u.f,
            (a.doc_id * 7 + u.f * 29) % 256 AS r,
            (a.doc_id * 13 + u.f * 17) % 256 AS g,
            (a.doc_id * 3 + u.f * 41) % 256 AS b
          FROM a, unnest(generate_series(0, a.nf - 1)) AS u(f))
        SELECT doc_id AS asset_id,
          CAST(min(w) AS INT) AS width,
          CAST(min(h) AS INT) AS height,
          CAST(count(*) AS BIGINT) AS n_frames,
          CAST(sum(w * h * r) AS BIGINT) AS sum_r,
          CAST(sum(w * h * g) AS BIGINT) AS sum_g,
          CAST(sum(w * h * b) AS BIGINT) AS sum_b,
          CAST(sum((f + 1) * w * h * (r + g + b)) AS BIGINT) AS checksum
        FROM fr GROUP BY doc_id"""),
    // MJPEG-AVI decode GATE (lossy codec, like multimodal_jpeg): the
    // oracle replays the container construction arithmetically (dims,
    // frame count, duration from the avih rate rule, the per-frame
    // planted-color checksum) and carries ok_frames = n_frames plus
    // idx_ok = 1; the engine's counts come from genuinely demuxing
    // the RIFF tree, cross-checking idx1, and decoding every frame
    // with the real codec — any demux or decode break flips them
    "multimodal_mjpeg" -> QueryDef(multimodalMjpeg _,
      """WITH a AS (
          SELECT doc_id, 48 + (doc_id % 3) * 16 AS w,
            32 + (doc_id % 2) * 32 AS h,
            2 + doc_id % 4 AS nf,
            20000 * (1 + doc_id % 4) AS usf
          FROM documents),
        fr AS (
          SELECT a.doc_id, u.f,
            (u.f + 1) * (
              32 + (a.doc_id * 7  + u.f * 19) % 192
            + 32 + (a.doc_id * 11 + u.f * 23) % 192
            + 32 + (a.doc_id * 3  + u.f * 29) % 192
            + 32 + (a.doc_id * 5  + u.f * 13 + 96) % 192
            + 32 + (a.doc_id * 13 + u.f * 37 + 64) % 192
            + 32 + (a.doc_id * 17 + u.f * 7  + 32) % 192) AS wck
          FROM a, unnest(generate_series(0, a.nf - 1)) AS u(f)),
        ck AS (
          SELECT doc_id, sum(wck) AS plant_ck FROM fr GROUP BY doc_id)
        SELECT a.doc_id AS asset_id,
          CAST(a.w AS INT) AS width,
          CAST(a.h AS INT) AS height,
          CAST(a.nf AS BIGINT) AS n_frames,
          CAST(a.nf * a.usf AS BIGINT) AS duration_us,
          CAST(a.nf AS BIGINT) AS ok_frames,
          CAST(1 AS BIGINT) AS idx_ok,
          CAST(ck.plant_ck AS BIGINT) AS plant_checksum
        FROM a JOIN ck ON ck.doc_id = a.doc_id"""),
    // the tar member rule replayed exactly: names from the string
    // rule, sizes/bytes from the arithmetic rule, and a (member,
    // position)-weighted checksum that a mis-walked block boundary,
    // bad octal parse, or padding slip breaks
    "multimodal_tar" -> QueryDef(multimodalTar _,
      """WITH a AS (
          SELECT doc_id, 2 + doc_id % 3 AS nmem FROM documents),
        m AS (
          SELECT a.doc_id, u.m,
            10 + (a.doc_id * 31 + u.m * 7) % 200 AS sz,
            length('doc' || a.doc_id || '/' || u.m || '.bin') AS nlen
          FROM a, unnest(generate_series(0, a.nmem - 1)) AS u(m)),
        mm AS (
          SELECT doc_id, count(*) AS n_members, sum(sz) AS sum_bytes,
            sum(nlen) AS sum_name_len
          FROM m GROUP BY doc_id),
        bb AS (
          SELECT m.doc_id,
            sum((m.m + 1) * (v.i + 1)
              * ((m.doc_id * 17 + m.m * 5 + v.i * 13) % 251)) AS ck
          FROM m, unnest(generate_series(0, m.sz - 1)) AS v(i)
          GROUP BY m.doc_id)
        SELECT mm.doc_id AS asset_id,
          CAST(mm.n_members AS BIGINT) AS n_members,
          CAST(mm.sum_bytes AS BIGINT) AS sum_bytes,
          CAST(mm.sum_name_len AS BIGINT) AS sum_name_len,
          CAST(bb.ck AS BIGINT) AS checksum
        FROM mm JOIN bb ON mm.doc_id = bb.doc_id"""),
    // the MP4 construction rule replayed arithmetically: duration_ms
    // is exactly integral ((600+30k)·1000/600 = 1000+50k, no
    // truncation ambiguity), and the mdat positional checksum pins
    // payload byte ORDER through the box walk — a size/endianness/
    // largesize/nesting mistake shifts it
    "multimodal_mp4" -> QueryDef(multimodalMp4 _,
      """WITH a AS (
          SELECT doc_id, 64 + doc_id % 97 AS nb FROM documents),
        m AS (
          SELECT a.doc_id,
            CAST(sum((u.i + 1) * ((a.doc_id * 131 + u.i * 31) % 251))
              AS BIGINT) AS ck
          FROM a, unnest(generate_series(0, a.nb - 1)) AS u(i)
          GROUP BY a.doc_id)
        SELECT d.doc_id AS asset_id,
          CAST(600 AS BIGINT) AS timescale,
          CAST((600 + (d.doc_id % 240) * 30) * 1000 // 600 AS BIGINT)
            AS duration_ms,
          CAST(1 + d.doc_id % 2 AS BIGINT) AS n_tracks,
          CAST(320 + (d.doc_id % 5) * 64 AS BIGINT) AS width,
          CAST(240 + (d.doc_id % 3) * 80 AS BIGINT) AS height,
          CAST(d.doc_id % 2 AS BIGINT) AS n_audio,
          CAST(64 + d.doc_id % 97 AS BIGINT) AS mdat_bytes,
          m.ck AS mdat_checksum
        FROM documents d JOIN m ON m.doc_id = d.doc_id"""),
    // the amplitude rule replayed frame-by-frame: truncating //
    // matches the engine's Long division toward zero, the clamp is
    // the write-side saturation, and the last partial frame is judged
    // against its own length
    "multimodal_audio_gate" -> QueryDef(multimodalAudioGate _,
      """WITH a AS (
          SELECT doc_id, GREATEST(1, n_chars) AS n FROM documents),
        s AS (
          SELECT a.doc_id, u.i,
            GREATEST(-32768, LEAST(32767,
              (((a.doc_id * 31 + u.i * 7919) % 65536) - 32768)
                * (a.doc_id % 5) // 3)) AS v
          FROM a, unnest(generate_series(0, a.n - 1)) AS u(i)),
        fr AS (
          SELECT doc_id, i // 256 AS f,
            sum(abs(v)) AS fs, count(*) AS fn,
            sum(CASE WHEN abs(v) >= 32767 THEN 1 ELSE 0 END) AS cl
          FROM s GROUP BY doc_id, i // 256),
        g AS (
          SELECT doc_id,
            CAST(count(*) AS BIGINT) AS n_frames,
            CAST(sum(CASE WHEN fs < fn * 100 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_silent,
            CAST(sum(cl) AS BIGINT) AS n_clipped
          FROM fr GROUP BY doc_id)
        SELECT doc_id AS asset_id, n_frames, n_silent, n_clipped,
          CASE WHEN 2 * n_silent > n_frames
            THEN 'drop_silent' ELSE 'keep' END AS verdict
        FROM g"""),
  )
}
