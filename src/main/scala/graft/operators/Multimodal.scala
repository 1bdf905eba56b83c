package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.BinaryFunctions._

/** Multimodal column operators: treat image/audio/video as opaque
  * `binary` with typed metadata. The pipeline stages a production lake
  * needs — metadata extraction, content addressing, frame chunking,
  * batched decode → feature vectors. The audio (RIFF/WAVE PCM16) and
  * image (24-bpp BMP) paths are REAL decodes — header walks, row
  * strides, endianness — only formats needing an external codec
  * library (this container ships none) fall back to the clearly-marked
  * deterministic fake embed; everything Spark-side (schemas,
  * per-partition batch shape, partitioning) is real and tested.
  */
object Multimodal {

  /** Metadata pass: format, size, sha256 — pure map-side expressions. */
  def withMetadata(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("format", detectFormat(col(binCol)))
      .withColumn("byte_size", byteSize(col(binCol)))
      .withColumn("sha256", contentSha256(col(binCol)))

  /** Frame sampling: explode fixed-size frames with their index —
    * the audio/video "frame-sample" stage as a relational transform
    * (offsets computed declaratively, frames sliced with substring).
    */
  def frameSample(df: DataFrame, idCol: String, binCol: String,
      frameBytes: Int, everyNth: Int = 1): DataFrame =
    df.select(col(idCol), col(binCol),
        posexplode(frameOffsets(col(binCol), frameBytes)).as(Seq("frame_idx", "offset")))
      .filter(col("frame_idx") % everyNth === 0)
      .select(col(idCol), col("frame_idx"),
        substring(col(binCol), col("offset"), lit(frameBytes)).as("frame"))

  private val FEATURE_DIM = 16

  // ---------------------------------------------------------------
  // Real audio modality: RIFF/WAVE PCM16 container synth + decode.
  // The WAV path is a REAL decode (chunk walk, fmt validation,
  // little-endian sample extraction) — only the non-WAV formats
  // still fall back to the stubbed fake embedding.
  // ---------------------------------------------------------------

  /** Build a minimal valid RIFF/WAVE container (PCM16 mono 8 kHz)
    * whose samples are derived deterministically from the payload
    * bytes: sample_i = ((b_i & 0xFF) - 128) * 256. Used to give the
    * testdata (which ships no media) real audio containers.
    */
  def synthWav(payload: Array[Byte]): Array[Byte] = {
    val n = payload.length
    val dataBytes = n * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(8000) // sample rate
      .putInt(8000 * 2) // byte rate
      .putShort(2) // block align
      .putShort(16) // bits per sample
    buf.put("data".getBytes("US-ASCII")).putInt(dataBytes)
    var i = 0
    while (i < n) {
      buf.putShort((((payload(i) & 0xFF) - 128) * 256).toShort)
      i += 1
    }
    buf.array()
  }

  /** Real WAV decoder: walks RIFF chunks, validates PCM16, returns
    * (sampleRate, channels, samples). Returns None for anything that
    * is not a well-formed PCM16 WAV (caller falls back to the stub).
    */
  def decodeWav(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    if (bytes.length < 44) return None
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag4(): String = {
      val t = new Array[Byte](4); buf.get(t); new String(t, "US-ASCII")
    }
    if (tag4() != "RIFF") return None
    buf.getInt // declared riff size — ignored, we bound by the buffer
    if (tag4() != "WAVE") return None
    var sampleRate = 0
    var channels = 0
    var bits = 0
    var samples: Array[Short] = null
    while (buf.remaining() >= 8) {
      val id = tag4()
      val sz = buf.getInt
      if (sz < 0 || sz > buf.remaining()) return None
      val next = buf.position() + sz
      id match {
        case "fmt " =>
          if (sz < 16) return None
          val fmt = buf.getShort
          channels = buf.getShort
          sampleRate = buf.getInt
          buf.getInt // byte rate
          buf.getShort // block align
          bits = buf.getShort
          if (fmt != 1 || bits != 16 || channels < 1) return None
        case "data" =>
          val n = sz / 2
          samples = new Array[Short](n)
          var i = 0
          while (i < n) { samples(i) = buf.getShort; i += 1 }
        case _ => // skip unknown chunk (LIST, fact, ...)
      }
      // chunks are word-aligned, but a final odd-sized chunk may omit
      // the padding byte — clamp so a malformed-but-RIFF-prefixed input
      // returns None (via loop exit) instead of throwing from position()
      buf.position(math.min(next + (sz & 1), buf.limit()))
    }
    if (sampleRate <= 0 || samples == null) None
    else Some((sampleRate, channels, samples))
  }

  /** Windowed-energy features from decoded PCM samples: FEATURE_DIM
    * equal windows, each the sum of squared amplitudes (exact — every
    * value is an integer well under 2^53). sample i lands in window
    * i*DIM/n, the same boundary rule the DuckDB oracle uses.
    */
  def wavEnergyFeatures(samples: Array[Short]): Array[Double] = {
    val out = new Array[Double](FEATURE_DIM)
    val n = samples.length
    var i = 0
    while (i < n) {
      val w = (i.toLong * FEATURE_DIM / n).toInt
      val a = samples(i).toDouble
      out(w) += a * a
      i += 1
    }
    out
  }

  // ---------------------------------------------------------------
  // Real image modality: BMP container synth + decode. 24-bpp
  // BITMAPFILEHEADER + BITMAPINFOHEADER with the two properties every
  // real image decoder must handle: rows stored BOTTOM-UP and row
  // strides padded to 4-byte alignment.
  // ---------------------------------------------------------------

  private val BMP_W = 7 // 7·3 = 21 bytes/row → 3 pad bytes, exercising the stride walk

  /** Build a minimal valid 24-bpp BMP whose pixels derive from the
    * payload: width 7, height ceil(n/7) (min 1); pixel k in row-major
    * TOP-DOWN order is gray value payload(k) (0 past the end), written
    * B=G=R; rows are stored bottom-up as positive-height BMP requires.
    */
  def synthBmp(payload: Array[Byte]): Array[Byte] = {
    val w = BMP_W
    val h = math.max(1, (payload.length + w - 1) / w)
    val stride = ((w * 3 + 3) / 4) * 4
    val dataSize = stride * h
    val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putShort(0).putShort(0).putInt(54) // reserved, pixel-array offset
    buf.putInt(40).putInt(w).putInt(h) // BITMAPINFOHEADER, positive h = bottom-up
      .putShort(1).putShort(24) // planes, bpp
      .putInt(0).putInt(dataSize) // BI_RGB, image size
      .putInt(2835).putInt(2835).putInt(0).putInt(0) // 72 dpi, palette
    var r = h - 1
    while (r >= 0) { // bottom-up storage
      var x = 0
      while (x < w) {
        val k = r * w + x
        val v = if (k < payload.length) (payload(k) & 0xFF).toByte else 0.toByte
        buf.put(v).put(v).put(v) // B, G, R
        x += 1
      }
      var pad = stride - w * 3
      while (pad > 0) { buf.put(0.toByte); pad -= 1 }
      r -= 1
    }
    buf.array()
  }

  /** Real BMP decoder: validates the BM magic and BI_RGB 24-bpp
    * header, walks the pixel array from its declared offset handling
    * bottom-up row order and stride padding, and returns
    * (width, height, blue-channel values in row-major TOP-DOWN order).
    * None for anything not a well-formed 24-bpp BMP.
    */
  def decodeBmp(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (bytes.length < 54 || bytes(0) != 'B'.toByte || bytes(1) != 'M'.toByte) return None
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val pixelOffset = buf.getInt(10)
    val headerSize = buf.getInt(14)
    if (headerSize < 40) return None
    val w = buf.getInt(18)
    val hRaw = buf.getInt(22)
    val bpp = buf.getShort(28).toInt
    val compression = buf.getInt(30)
    if (w <= 0 || hRaw == 0 || bpp != 24 || compression != 0) return None
    val h = math.abs(hRaw)
    val bottomUp = hRaw > 0
    val stride = ((w * 3 + 3) / 4) * 4
    if (pixelOffset < 54 || pixelOffset.toLong + stride.toLong * h > bytes.length) return None
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val srcRow = if (bottomUp) h - 1 - y else y
      val base = pixelOffset + srcRow * stride
      var x = 0
      while (x < w) {
        out(y * w + x) = bytes(base + x * 3) & 0xFF // blue channel
        x += 1
      }
      y += 1
    }
    Some((w, h, out))
  }

  /** Exact-integer image features that each certify one decode
    * property: total gray sum (payload fidelity), top-row sum (the
    * bottom-up un-flip), even-column sum (the per-pixel stride walk).
    */
  def bmpFeatures(w: Int, h: Int, gray: Array[Int]): (Long, Long, Long) = {
    var total = 0L
    var topRow = 0L
    var evenCol = 0L
    var i = 0
    while (i < gray.length) {
      val v = gray(i).toLong
      total += v
      if (i < w) topRow += v
      if (i % w % 2 == 0) evenCol += v
      i += 1
    }
    (total, topRow, evenCol)
  }

  /** Batched executor-side BMP decode → per-image feature row
    * (width, height, pix_sum, top_row_sum, even_col_sum); non-BMP
    * rows yield nulls. Same partition-batched shape as
    * [[decodeToFeatures]].
    */
  def decodeBmpToFeatures(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("pix_sum", LongType),
      StructField("top_row_sum", LongType),
      StructField("even_col_sum", LongType)))
    val idIdx = df.schema.fieldIndex(idCol)
    val idType = df.schema(idCol).dataType
    val binIdx = df.schema.fieldIndex(binCol)
    val rdd = df.queryExecution.toRdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.get(idIdx, idType)
        val vals: Seq[Any] = decodeBmp(r.getBinary(binIdx)) match {
          case Some((w, h, gray)) =>
            val (total, topRow, evenCol) = bmpFeatures(w, h, gray)
            Seq(id, w, h, total, topRow, evenCol)
          case None => Seq(id, null, null, null, null, null)
        }
        org.apache.spark.sql.catalyst.InternalRow.fromSeq(vals)
      }
    }
    internalCreate(spark, rdd, outSchema)
  }

  /** Nearest-neighbor resize of a decoded grayscale grid to
    * `outW`×`outH` — the thumbnail/normalization step every image
    * pipeline runs before hashing or embedding. The source pixel for
    * output (x, y) is (x·w div outW, y·h div outH): pure integer index
    * math, so the resampled grid is engine-exact and the DuckDB oracle
    * can replay it from the payload bytes.
    */
  def resizeNearest(w: Int, h: Int, gray: Array[Int],
      outW: Int, outH: Int): Array[Int] = {
    val out = new Array[Int](outW * outH)
    var y = 0
    while (y < outH) {
      val sy = y * h / outH
      var x = 0
      while (x < outW) {
        out(y * outW + x) = gray(sy * w + x * w / outW)
        x += 1
      }
      y += 1
    }
    out
  }

  /** BMP decode → nearest-neighbor resize → exact-integer features of
    * the RESIZED grid: sum, a position-weighted checksum (catches any
    * permutation of the resampled cells), and the TL/BR corners
    * (catch off-by-one index math at both grid ends). Pure
    * per-partition decode+resample, no shuffle (the m06 shape).
    */
  def decodeBmpToResized(df: DataFrame, idCol: String, binCol: String,
      outW: Int, outH: Int): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("out_w", IntegerType),
      StructField("out_h", IntegerType),
      StructField("rz_sum", LongType),
      StructField("rz_checksum", LongType),
      StructField("corner_tl", IntegerType),
      StructField("corner_br", IntegerType)))
    val idIdx = df.schema.fieldIndex(idCol)
    val idType = df.schema(idCol).dataType
    val binIdx = df.schema.fieldIndex(binCol)
    val rdd = df.queryExecution.toRdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.get(idIdx, idType)
        val vals: Seq[Any] = decodeBmp(r.getBinary(binIdx)) match {
          case Some((w, h, gray)) =>
            val rz = resizeNearest(w, h, gray, outW, outH)
            var sum = 0L
            var checksum = 0L
            var i = 0
            while (i < rz.length) {
              sum += rz(i)
              checksum += (i + 1).toLong * rz(i)
              i += 1
            }
            Seq(id, outW, outH, sum, checksum, rz(0), rz(rz.length - 1))
          case None => Seq(id, null, null, null, null, null, null)
        }
        org.apache.spark.sql.catalyst.InternalRow.fromSeq(vals)
      }
    }
    internalCreate(spark, rdd, outSchema)
  }

  /** Audio-quality features over decoded PCM16 samples — the audio
    * twin of the text quality gate (d04): clipped-sample count
    * (samples at the rails, where the waveform was cut off), peak
    * amplitude, and zero-crossing count (silence and DC-stuck capture
    * both show near-zero ZCR; noise shows it abnormally high). All
    * exact integers from the decoded samples.
    */
  def wavQualityFeatures(samples: Array[Short]): (Long, Int, Long) = {
    var clipped = 0L
    var maxAbs = 0
    var zc = 0L
    var i = 0
    while (i < samples.length) {
      val a = samples(i).toInt
      // symmetric near-rail window, 255 counts below each PCM16 rail
      // (32767 / -32768), so near-clipped negatives count like near-
      // clipped positives instead of only the exact bottom rail
      if (a <= -32513 || a >= 32512) clipped += 1
      val abs = math.abs(a)
      if (abs > maxAbs) maxAbs = abs
      if (i > 0 && samples(i - 1).toInt * a < 0) zc += 1
      i += 1
    }
    (clipped, maxAbs, zc)
  }

  /** Silence-segment features over decoded PCM16 samples — the trim/
    * drop signal an audio curation pipeline runs before transcription
    * (a clip that is mostly silence wastes the expensive model pass;
    * leading/trailing runs mark trim points). A sample is silent when
    * |amp| < `threshold`; a RUN is a maximal consecutive silent
    * stretch. Returns (n_silent, n_runs, longest_run) — all exact
    * integers from one sequential pass.
    */
  def wavSilenceFeatures(samples: Array[Short],
      threshold: Int = 2048): (Long, Long, Long) = {
    var nSilent = 0L
    var runs = 0L
    var longest = 0L
    var cur = 0L
    var i = 0
    while (i < samples.length) {
      if (math.abs(samples(i).toInt) < threshold) {
        cur += 1
        nSilent += 1
        if (cur == 1L) runs += 1
        if (cur > longest) longest = cur
      } else cur = 0L
      i += 1
    }
    (nSilent, runs, longest)
  }

  /** Batched executor-side WAV decode → per-clip silence row
    * (id, n_samples, n_silent, n_runs, longest_run); non-WAV rows
    * yield nulls. Same partition-batched, shuffle-free shape as
    * [[decodeWavToQuality]] — at 100 TB this is a pure map over the
    * clip partitions.
    */
  def decodeWavToSilence(df: DataFrame, idCol: String, binCol: String,
      threshold: Int = 2048): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("n_samples", LongType),
      StructField("n_silent", LongType),
      StructField("n_runs", LongType),
      StructField("longest_run", LongType)))
    val idIdx = df.schema.fieldIndex(idCol)
    val idType = df.schema(idCol).dataType
    val binIdx = df.schema.fieldIndex(binCol)
    val rdd = df.queryExecution.toRdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.get(idIdx, idType)
        val vals: Seq[Any] = decodeWav(r.getBinary(binIdx)) match {
          case Some((_, _, samples)) =>
            val (nSilent, nRuns, longest) = wavSilenceFeatures(samples, threshold)
            Seq(id, samples.length.toLong, nSilent, nRuns, longest)
          case None => Seq(id, null, null, null, null)
        }
        org.apache.spark.sql.catalyst.InternalRow.fromSeq(vals)
      }
    }
    internalCreate(spark, rdd, outSchema)
  }

  /** Batched executor-side WAV decode → per-clip quality row
    * (id, n_samples, n_clipped, max_abs, zero_crossings); non-WAV rows
    * yield nulls. Same partition-batched shape as [[decodeToFeatures]].
    */
  def decodeWavToQuality(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("n_samples", LongType),
      StructField("n_clipped", LongType),
      StructField("max_abs", IntegerType),
      StructField("zero_crossings", LongType)))
    val idIdx = df.schema.fieldIndex(idCol)
    val idType = df.schema(idCol).dataType
    val binIdx = df.schema.fieldIndex(binCol)
    val rdd = df.queryExecution.toRdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.get(idIdx, idType)
        val vals: Seq[Any] = decodeWav(r.getBinary(binIdx)) match {
          case Some((_, _, samples)) =>
            val (clipped, maxAbs, zc) = wavQualityFeatures(samples)
            Seq(id, samples.length.toLong, clipped, maxAbs, zc)
          case None => Seq(id, null, null, null, null)
        }
        org.apache.spark.sql.catalyst.InternalRow.fromSeq(vals)
      }
    }
    internalCreate(spark, rdd, outSchema)
  }

  /** Batched executor-side WAV decode → nearest-sample DECIMATION by
    * `factor` (output i reads input sample i·factor — the audio twin
    * of the m10 resize's x·w div outW index math) → exact-integer
    * features of the resampled clip: in/out lengths, Σ|amp|, a
    * position-weighted checksum (Σ (i+1)·amp, catching dropped or
    * reordered samples) and the first/last output samples (catching
    * stride math at both ends). Pure per-partition decode+resample,
    * no shuffle (the m06 shape); non-WAV rows yield nulls.
    */
  def decodeWavToResampled(df: DataFrame, idCol: String, binCol: String,
      factor: Int): DataFrame = {
    require(factor >= 1, s"decimation factor must be >= 1: $factor")
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("n_in", LongType),
      StructField("n_out", LongType),
      StructField("sum_abs", LongType),
      StructField("rs_checksum", LongType),
      StructField("first_amp", IntegerType),
      StructField("last_amp", IntegerType)))
    val idIdx = df.schema.fieldIndex(idCol)
    val idType = df.schema(idCol).dataType
    val binIdx = df.schema.fieldIndex(binCol)
    val rdd = df.queryExecution.toRdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.get(idIdx, idType)
        val vals: Seq[Any] = decodeWav(r.getBinary(binIdx)) match {
          case Some((_, _, samples)) if samples.nonEmpty =>
            val nOut = (samples.length + factor - 1) / factor
            var i = 0
            var sumAbs = 0L
            var chk = 0L
            while (i < nOut) {
              val a = samples(i * factor).toLong
              sumAbs += math.abs(a)
              chk += (i + 1) * a
              i += 1
            }
            Seq(id, samples.length.toLong, nOut.toLong, sumAbs, chk,
              samples(0).toInt, samples((nOut - 1) * factor).toInt)
          case Some(_) => Seq(id, 0L, 0L, 0L, 0L, null, null)
          case None => Seq(id, null, null, null, null, null, null)
        }
        org.apache.spark.sql.catalyst.InternalRow.fromSeq(vals)
      }
    }
    internalCreate(spark, rdd, outSchema)
  }

  /** Shot-boundary (scene-change) detection over fixed-size frames —
    * the standard first pass of a video curation pipeline, run on the
    * downsampled byte stream: frame f's delta is the sum of absolute
    * per-position differences against frame f−1 (partial tail frames
    * compare only the positions they have); a delta ≥ `threshold`
    * marks a cut. Exact integers; one sequential pass per clip.
    */
  def sceneChangeFeatures(bytes: Array[Byte], frameBytes: Int,
      threshold: Long): (Int, Long, Long) = {
    val n = bytes.length
    val nFrames = math.max(1, (n + frameBytes - 1) / frameBytes)
    var cuts = 0L
    var maxDelta = 0L
    var f = 1
    while (f < nFrames) {
      var delta = 0L
      var p = f * frameBytes
      val end = math.min(n, (f + 1) * frameBytes)
      while (p < end) {
        delta += math.abs((bytes(p) & 0xFF) - (bytes(p - frameBytes) & 0xFF))
        p += 1
      }
      if (delta >= threshold) cuts += 1
      if (delta > maxDelta) maxDelta = delta
      f += 1
    }
    (nFrames, cuts, maxDelta)
  }

  /** Batched executor-side scene-change pass → per-clip row
    * (id, n_frames, n_cuts, max_frame_delta). Same partition-batched
    * shape as [[decodeToFeatures]]; no shuffle exists.
    */
  def sceneChanges(df: DataFrame, idCol: String, binCol: String,
      frameBytes: Int, threshold: Long): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("n_frames", IntegerType),
      StructField("n_cuts", LongType),
      StructField("max_frame_delta", LongType)))
    val idIdx = df.schema.fieldIndex(idCol)
    val idType = df.schema(idCol).dataType
    val binIdx = df.schema.fieldIndex(binCol)
    val rdd = df.queryExecution.toRdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.get(idIdx, idType)
        val (nf, cuts, maxD) =
          sceneChangeFeatures(r.getBinary(binIdx), frameBytes, threshold)
        org.apache.spark.sql.catalyst.InternalRow.fromSeq(
          Seq(id, nf, cuts, maxD))
      }
    }
    internalCreate(spark, rdd, outSchema)
  }

  /** Image flatness/entropy features over decoded gray pixels — the
    * image twin of the d56 text-entropy audit: blank, flat-fill and
    * low-texture images (decode failures, tracking pixels, solid
    * banners) show near-zero histogram entropy long before any model
    * sees them. Integer terms: Σ over occupied histogram bins of
    * c·⌊ln(c)·1e6⌋ (the d56 micro-nat contract), so the oracle can
    * replay the sum exactly; the final entropy is one double
    * subtraction/division.
    */
  def bmpEntropyFeatures(gray: Array[Int]): (Long, Long, Long) = {
    val hist = new Array[Long](256)
    var i = 0
    while (i < gray.length) { hist(gray(i)) += 1; i += 1 }
    var distinct = 0L
    var acc = 0L
    var b = 0
    while (b < 256) {
      val c = hist(b)
      if (c > 0) {
        distinct += 1
        acc += c * math.floor(math.log(c.toDouble) * 1000000).toLong
      }
      b += 1
    }
    (gray.length.toLong, distinct, acc)
  }

  /** Batched executor-side BMP decode → per-image entropy row
    * (id, n_pixels, n_distinct_gray, sum_clnc_micro); non-BMP rows
    * yield nulls. Same partition-batched shape as [[decodeToFeatures]].
    */
  def decodeBmpToEntropy(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("n_pixels", LongType),
      StructField("n_distinct_gray", LongType),
      StructField("sum_clnc_micro", LongType)))
    val idIdx = df.schema.fieldIndex(idCol)
    val idType = df.schema(idCol).dataType
    val binIdx = df.schema.fieldIndex(binCol)
    val rdd = df.queryExecution.toRdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.get(idIdx, idType)
        val vals: Seq[Any] = decodeBmp(r.getBinary(binIdx)) match {
          case Some((_, _, gray)) =>
            val (n, distinct, acc) = bmpEntropyFeatures(gray)
            Seq(id, n, distinct, acc)
          case None => Seq(id, null, null, null)
        }
        org.apache.spark.sql.catalyst.InternalRow.fromSeq(vals)
      }
    }
    internalCreate(spark, rdd, outSchema)
  }

  /** Perceptual average-hash (aHash) over a decoded grayscale image:
    * point-sample an 8×8 grid from the TOP 8 rows (a deterministic
    * crop standing in for the resize of a production aHash —
    * resampling kernels are not bit-exact replayable in an oracle),
    * threshold each sample against the integer mean of the 64 samples,
    * and pack the bits row-major. The 64-bit fingerprint is returned
    * as FOUR 16-bit band values (bit i lands in band i/16 at position
    * i%16) so the Hamming search below can bucket on band equality:
    * by pigeonhole, two hashes within Hamming distance 3 agree on at
    * least one of the four bands, so banding loses no true pair.
    */
  def aHashBands(w: Int, h: Int, gray: Array[Int]): Array[Int] = {
    val cells = new Array[Int](64)
    var sum = 0L
    var i = 0
    while (i < 64) {
      val r = i / 8
      val c = (i % 8) * w / 8
      cells(i) = if (r < h) gray(r * w + c) else 0
      sum += cells(i)
      i += 1
    }
    val mean = (sum / 64).toInt
    val bands = new Array[Int](4)
    i = 0
    while (i < 64) {
      if (cells(i) > mean) bands(i / 16) |= 1 << (i % 16)
      i += 1
    }
    bands
  }

  /** Batched executor-side BMP decode → perceptual-hash row
    * (id, b0..b3 16-bit bands); non-BMP rows yield nulls. Same
    * partition-batched shape as [[decodeToFeatures]].
    */
  def decodeBmpToAHash(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("b0", IntegerType), StructField("b1", IntegerType),
      StructField("b2", IntegerType), StructField("b3", IntegerType)))
    val idIdx = df.schema.fieldIndex(idCol)
    val idType = df.schema(idCol).dataType
    val binIdx = df.schema.fieldIndex(binCol)
    val rdd = df.queryExecution.toRdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.get(idIdx, idType)
        val vals: Seq[Any] = decodeBmp(r.getBinary(binIdx)) match {
          case Some((w, h, gray)) =>
            val b = aHashBands(w, h, gray)
            Seq(id, b(0), b(1), b(2), b(3))
          case None => Seq(id, null, null, null, null)
        }
        org.apache.spark.sql.catalyst.InternalRow.fromSeq(vals)
      }
    }
    internalCreate(spark, rdd, outSchema)
  }

  /** Near-duplicate images by banded Hamming search over aHash
    * fingerprints — the image twin of MinHash-LSH banding (Dedup
    * .lshBandPairs): each fingerprint buckets into its four 16-bit
    * band values; only same-bucket pairs are candidates (pigeonhole
    * guarantees every pair within `maxHamming` ≤ 3 shares a band);
    * candidates are then verified against the full 64-bit distance.
    * `maxBucket` drops degenerate buckets (e.g. the all-zero band of
    * blank images) before the within-bucket self-join — the same
    * frequency cap the text LSH path uses, bounding the worst bucket's
    * quadratic blow-up at corpus scale. No O(n²) pair scan exists at
    * any stage.
    */
  private def bandExplode(h: DataFrame): DataFrame = {
    val bandStructs = array((0 to 3).map(j =>
      struct(lit(j).as("j"), col(s"b$j").as("bv"))): _*)
    h.select(col("id"), explode(bandStructs).as("band"))
      .select(col("id"), col("band.j").as("j"), col("band.bv").as("bv"))
  }

  private def hammingOf(a: Seq[String], b: Seq[String]) =
    a.zip(b).map { case (x, y) => bit_count(col(x).bitwiseXOR(col(y))) }
      .reduce(_ + _).cast("int")

  def phashNearDupPairs(hashes: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 0): DataFrame = {
    require(maxHamming <= 3,
      "4×16 banding only guarantees recall for Hamming distance <= 3")
    val h = hashes.select(col("id"), col("b0"), col("b1"), col("b2"), col("b3"))
      .filter(col("b0").isNotNull)
    val exploded = bandExplode(h)
    val bucketed =
      if (maxBucket > 0) {
        val ok = exploded.groupBy(col("j"), col("bv"))
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") <= maxBucket)
          .select(col("j"), col("bv"))
        exploded.join(ok, Seq("j", "bv"))
      } else exploded
    val cand = bucketed.as("x").join(bucketed.as("y"),
        col("x.j") === col("y.j") && col("x.bv") === col("y.bv") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    cand
      .join(h.toDF("id_a", "a0", "a1", "a2", "a3"), Seq("id_a"))
      .join(h.toDF("id_b", "c0", "c1", "c2", "c3"), Seq("id_b"))
      .withColumn("hamming", hammingOf(
        Seq("a0", "a1", "a2", "a3"), Seq("c0", "c1", "c2", "c3")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** ======== BATCHED DECODE ========
    * One decoder init per PARTITION (not per row), rows streamed
    * through — exactly how a real codec/model binding runs on
    * executors (the Scala twin of mapInPandas batching). WAV bytes
    * get a REAL decode (header walk + PCM16 samples → windowed
    * energy); other formats still hit the deterministic fake-embed
    * stub (this container has no image/video codecs).
    */
  def decodeToFeatures(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("features", ArrayType(DoubleType, containsNull = false))))
    val idIdx = df.schema.fieldIndex(idCol)
    val idType = df.schema(idCol).dataType
    val binIdx = df.schema.fieldIndex(binCol)
    val rdd = df.queryExecution.toRdd.mapPartitions { rows =>
      // real pipeline: decoder = Codec.open(); model = Session.load()
      // — once per partition, reused for every row below
      rows.map { r =>
        val id = r.get(idIdx, idType)
        val bytes = r.getBinary(binIdx)
        val feats = decodeWav(bytes) match {
          case Some((_, _, samples)) => wavEnergyFeatures(samples)
          case None => fakeEmbed(bytes)
        }
        org.apache.spark.sql.catalyst.InternalRow.fromSeq(Seq(
          id, new org.apache.spark.sql.catalyst.util.GenericArrayData(feats)))
      }
    }
    internalCreate(spark, rdd, outSchema)
  }

  /** Deterministic fake "embedding": k doubles in [-1, 1] derived from
    * content hashes (splitmix64 over (seed, bytes-hash)).
    */
  def fakeEmbed(bytes: Array[Byte]): Array[Double] = {
    val base = java.util.Arrays.hashCode(bytes).toLong
    Array.tabulate(FEATURE_DIM) { i =>
      val h = org.apache.spark.sql.graft.MinHashSignatureExpr.splitmix64(base * 31 + i)
      (h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    }
  }

  private def internalCreate(
      spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: StructType): DataFrame =
    org.apache.spark.sql.graft.Bridge.internalCreateDataFrame(spark, rdd, schema)
}
