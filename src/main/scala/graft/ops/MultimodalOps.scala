package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal-column plumbing: image/audio/video ride through the pipeline as opaque `binary`
 * columns with a typed metadata struct alongside. The Spark-side machinery — schema, batch
 * iteration via `mapPartitions`, partition sizing — is real, and the POST-decode image ops
 * ([[resizeNearest]], [[aHash]]) are real byte-level implementations over raw grayscale
 * buffers. Only the codec-format decode is a clearly-marked deterministic STUB (no
 * image/audio codecs in this environment); swapping it for a real decoder (JNI/ffmpeg/
 * ImageIO) changes only the body of [[decodeStub]].
 */
object MultimodalOps {

  /**
   * Content-defined chunk table over a binary column — FastCDC-style dedup at the
   * BYTE grain (Xia et al. 2016, USENIX ATC), the storage-side complement of the
   * document-level near-dup family: identical and SHIFTED payloads (a re-muxed
   * container, a prepended header) share almost all chunks, so `groupBy(chunk_hash)`
   * is the dedup store. One row per chunk: (id, n_bytes, off, len, chunk_hash).
   *
   * 100 TB shape: the Gear kernel is one pass per row inside the scan; the only
   * corpus-sized exchange is whatever the caller aggregates on (typically
   * `chunk_hash`, with map-side combine). Nothing pairwise, nothing all-to-all.
   */
  def cdcChunks(df: DataFrame, binCol: String, idCol: String,
      minLen: Int = 16, maskBits: Int = 4, maxLen: Int = 128): DataFrame =
    df.select(col(idCol), expr(s"octet_length($binCol)").cast("long").as("n_bytes"),
        explode(graft.functions.TextFunctions.gearChunks(
          col(binCol), minLen, maskBits, maxLen)).as("__ch"))
      .select(col(idCol), col("n_bytes"), col("__ch.off").as("off"),
        col("__ch.len").as("len"), col("__ch.hash").as("chunk_hash"))

  /**
   * Column-algebra metadata extraction (no decode needed): content hash + size + mime guess.
   * Codegen'd built-ins only, so it rides inside the scan's WholeStageCodegen span.
   */
  def withMediaMeta(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("media_meta", struct(
      md5(col(binCol)).as("content_md5"),
      length(col(binCol)).cast("long").as("n_bytes"),
      lit("application/octet-stream").as("mime"),
      lit(null).cast(IntegerType).as("width"),
      lit(null).cast(IntegerType).as("height"),
      lit(null).cast(IntegerType).as("n_frames")))

  /**
   * STUB decode: derives fake-but-deterministic dimensions from the byte length.
   * A real implementation decodes `bytes` with an image/video library here; everything
   * around it (batched partition iteration, output schema, null handling) is production-shaped.
   */
  private def decodeStub(bytes: Array[Byte]): (Int, Int, Int) = {
    // ??? real codec goes here — deterministic fake keeps plumbing testable offline:
    val n = bytes.length
    (n % 640 + 1, n % 480 + 1, n % 30 + 1)
  }

  /**
   * "Decode" every blob partition-by-partition — the distributed pattern for per-item media
   * work (one task per partition, no driver collect, arbitrary native-lib init amortized per
   * partition via the iterator wrapper).
   */
  /**
   * Frame sampling for "video" blobs: one output row per sampled frame, with the frame
   * payload sliced out of the blob. Row-expansion via `mapPartitions` (explode-shaped;
   * partition-local, no driver involvement). The frame boundaries come from [[decodeStub]]
   * — a real codec would return actual frame offsets; the Spark plumbing (schema,
   * iterator expansion, partition sizing) is the production shape.
   */
  def sampleFrames(df: DataFrame, binCol: String, idCol: String, everyN: Int = 1): DataFrame = {
    require(everyN >= 1)
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      df.schema(idCol),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame_bytes", BinaryType, nullable = false)))
    val binIdx = df.schema.fieldIndex(binCol)
    val idIdx = df.schema.fieldIndex(idCol)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val (_, _, nFrames) = decodeStub(bytes)
        val frameLen = math.max(1, bytes.length / math.max(1, nFrames))
        (0 until nFrames by everyN).iterator.map { i =>
          val from = math.min(i * frameLen, bytes.length)
          val until = math.min(from + frameLen, bytes.length)
          Row(r.get(idIdx), i, java.util.Arrays.copyOfRange(bytes, from, until))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /**
   * REAL image math, no codec required: nearest-neighbor resize of a RAW grayscale
   * buffer (row-major, fixed `srcW` columns, height = bytes/srcW truncated). This is the
   * post-decode half of an image pipeline — the part that IS implementable in this
   * environment — and the distributed shape is the production one: per-partition byte
   * work in `mapPartitions`, no driver involvement, output rows carry only the
   * `dstW·dstH`-byte thumbnails. Buffers shorter than one source row resize to NULL.
   *
   * All arithmetic is integer (`srcY = y·srcH div dstH`, `srcX = x·srcW div dstW`), so a
   * SQL oracle reproduces every output byte exactly from the hex rendering of the blob.
   */
  def resizeNearest(df: DataFrame, binCol: String, idCol: String,
      srcW: Int = 32, dstW: Int = 8, dstH: Int = 8): DataFrame = {
    require(srcW > 0 && dstW > 0 && dstH > 0)
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      df.schema(idCol),
      StructField("src_h", IntegerType, nullable = false),
      StructField("resized", BinaryType, nullable = true)))
    val binIdx = df.schema.fieldIndex(binCol)
    val idIdx = df.schema.fieldIndex(idCol)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
        val srcH = if (bytes == null) 0 else bytes.length / srcW
        val resized =
          if (srcH < 1) null
          else Array.tabulate(dstH * dstW) { p =>
            val (y, x) = (p / dstW, p % dstW)
            bytes((y * srcH / dstH) * srcW + (x * srcW / dstW))
          }
        Row(r.get(idIdx), srcH, resized)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /**
   * Average-hash (aHash) perceptual fingerprint over the 8×8 [[resizeNearest]] thumbnail:
   * bit b is set iff pixel b exceeds the 64-pixel integer mean. The image-near-dup analog
   * of SimHash — near-identical images land within a few bits, so the same
   * chunk-pigeonhole blocking dedupes image corpora without pairwise compares. 60 bits
   * (pixels 0-59 of the threshold mask) so the value — like every other gate hash —
   * stays in signed-long-safe territory for both engines.
   */
  def aHash(df: DataFrame, binCol: String, idCol: String, srcW: Int = 32): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      df.schema(idCol),
      StructField("src_h", IntegerType, nullable = false),
      StructField("ahash", LongType, nullable = true)))
    val binIdx = df.schema.fieldIndex(binCol)
    val idIdx = df.schema.fieldIndex(idCol)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
        val srcH = if (bytes == null) 0 else bytes.length / srcW
        if (srcH < 1) Row(r.get(idIdx), srcH, null)
        else {
          val px = Array.tabulate(64) { p =>
            val (y, x) = (p / 8, p % 8)
            bytes((y * srcH / 8) * srcW + (x * srcW / 8)) & 0xFF
          }
          val mean = px.sum / 64
          var h = 0L
          var b = 0
          while (b < 60) { if (px(b) > mean) h |= (1L << b); b += 1 }
          Row(r.get(idIdx), srcH, h)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /**
   * DCT-based perceptual hash (pHash) over a RAW grayscale buffer — the spectral
   * sibling of [[aHash]]: sample the image to a 32×32 grid, take the 2-D DCT-II in
   * FIXED-POINT integer arithmetic (cosine table scaled by 2^14 — every coefficient is
   * a deterministic LONG, no fp drift across JVMs/partitions), keep the top-left 8×8
   * low-frequency block minus DC, and bit = coefficient > median(63 AC coefficients).
   * pHash survives the local pixel edits and high-frequency noise that flip aHash bits
   * (the low-pass block ignores them), which is why production image dedup runs both.
   * Same scale story as aHash: embarrassingly parallel per-partition byte loops, the
   * 64-bit hash is the only thing downstream joins ever shuffle (the 15-bit-chunk
   * pigeonhole blocking of [[aHashPairs]] applies unchanged).
   *
   * The fixed-point DCT is integer-exact but not SQL-expressible at reasonable size, so
   * the driver gate is a SELF-VERIFYING verdict (identical images hash equal; planted
   * local edits stay within a hamming budget; unrelated images stay far), with the
   * kernel's determinism and edit-robustness pinned by ScalaTest.
   */
  def pHash(df: DataFrame, binCol: String, idCol: String, srcW: Int = 32): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      df.schema(idCol),
      StructField("src_h", IntegerType, nullable = false),
      StructField("phash", LongType, nullable = true)))
    val binIdx = df.schema.fieldIndex(binCol)
    val idIdx = df.schema.fieldIndex(idCol)
    val rdd = df.rdd.mapPartitions { rows =>
      // C[u][x] = round(cos(pi * (2x+1) * u / 64) * 2^14): computed once per partition;
      // math.cos on the JVM is deterministic (StrictMath-backed on all supported
      // platforms for these arguments), and rounding to 14-bit fixed point makes the
      // table a constant in every task
      val C = Array.tabulate(32, 32) { (u, x) =>
        math.round(math.cos(math.Pi * (2 * x + 1) * u / 64.0) * (1 << 14))
      }
      rows.map { r =>
        val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
        val srcH = if (bytes == null) 0 else bytes.length / srcW
        if (srcH < 1) Row(r.get(idIdx), srcH, null)
        else {
          // 32x32 nearest-neighbor sample of the srcW x srcH buffer
          val px = Array.tabulate(32, 32) { (y, x) =>
            (bytes((y * srcH / 32) * srcW + (x * srcW / 32)) & 0xFF).toLong
          }
          // rows then columns: F[u][v] = sum_x sum_y px[y][x] * C[u][x] * C[v][y],
          // factored as two 1-D passes; intermediate scale 2^14, final 2^28
          val rowPass = Array.tabulate(32, 8) { (y, u) =>
            var s = 0L; var x = 0
            while (x < 32) { s += px(y)(x) * C(u)(x); x += 1 }
            s
          }
          val f = Array.tabulate(8, 8) { (v, u) =>
            var s = 0L; var y = 0
            while (y < 32) { s += rowPass(y)(u) * C(v)(y); y += 1 }
            s
          }
          val ac = (0 until 64).filter(_ != 0).map(p => f(p / 8)(p % 8)).toArray
          java.util.Arrays.sort(ac)
          val median = ac(31) // lower median of 63
          var h = 0L
          var p = 1
          while (p < 64) {
            if (f(p / 8)(p % 8) > median) h |= (1L << (p - 1))
            p += 1
          }
          Row(r.get(idIdx), srcH, h)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /**
   * Audio feature extraction over RAW 8-bit unsigned PCM (sample = byte − 128): total
   * energy (Σ s², the RMS numerator), peak amplitude, and zero-crossing count — the
   * integer-exact primitives behind the real audio-corpus filters (silence detection =
   * low energy, clipping = peak at rail, voicedness = ZCR band). Per-partition byte
   * loops in `mapPartitions`, one output row per blob; all arithmetic is integer so a
   * SQL oracle reproduces every value from the blob's hex rendering. Codec-format
   * decode (mp3/flac) is upstream and remains the documented stub seam.
   */
  def audioFeatures(df: DataFrame, binCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      df.schema(idCol),
      StructField("n_samples", LongType, nullable = false),
      StructField("energy", LongType, nullable = true),
      StructField("peak", IntegerType, nullable = true),
      StructField("n_zero_cross", LongType, nullable = true)))
    val binIdx = df.schema.fieldIndex(binCol)
    val idIdx = df.schema.fieldIndex(idCol)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
        if (bytes == null || bytes.isEmpty) Row(r.get(idIdx), 0L, null, null, null)
        else {
          var i = 0
          var energy = 0L
          var peak = 0
          var zc = 0L
          var prevNonNeg = true
          while (i < bytes.length) {
            val s = (bytes(i) & 0xFF) - 128
            energy += s.toLong * s
            val a = math.abs(s)
            if (a > peak) peak = a
            val nonNeg = s >= 0
            if (i > 0 && nonNeg != prevNonNeg) zc += 1
            prevNonNeg = nonNeg
            i += 1
          }
          Row(r.get(idIdx), bytes.length.toLong, energy, peak, zc)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /**
   * Image near-duplicate PAIRS from [[aHash]] fingerprints, pairwise-compare-free: the
   * 60-bit hash splits into four 15-bit chunks, and by pigeonhole any pair within
   * `maxHamming` ≤ 3 bits agrees on at least one chunk — so candidates come from an
   * equality JOIN on (chunk#, chunk value) and only candidates pay the `bit_count`
   * hamming check. The same blocking scheme the text side uses for SimHash, applied to
   * the image modality; at corpus scale the join shuffles (id, hash) rows only.
   */
  def aHashPairs(df: DataFrame, binCol: String, idCol: String,
      maxHamming: Int = 3, srcW: Int = 32): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4x15-bit chunk blocking guarantees recall only through hamming 3")
    val h = aHash(df, binCol, idCol, srcW).filter(col("ahash").isNotNull)
      .select(col(idCol).as("id"), col("ahash"))
    val ch = h.select(col("id"), col("ahash"), explode(array((0 until 4).map(c =>
        struct(lit(c).as("c"),
          shiftright(col("ahash"), c * 15).bitwiseAND(lit(0x7FFFL)).as("v"))): _*)).as("k"))
      .select(col("id"), col("ahash"), col("k.c").as("c"), col("k.v").as("v"))
    val a = ch.select(col("c"), col("v"), col("id").as("id_a"), col("ahash").as("h_a"))
      .repartition(col("c"), col("v"))
    val b = ch.select(col("c"), col("v"), col("id").as("id_b"), col("ahash").as("h_b"))
    a.join(b, Seq("c", "v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("h_a"), col("h_b")).distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * Windowed audio features: [[audioFeatures]] at segment granularity — one row per
   * fixed-`windowSize` PCM window, which is what silence SEGMENTATION (trim leading/
   * trailing quiet, split on long pauses) and voice-activity gating actually consume.
   * Row expansion happens inside `mapPartitions` (explode-shaped, like [[sampleFrames]]);
   * zero crossings count only within a window, so every window's features are
   * independent of its neighbors (stable under any re-partitioning).
   */
  def audioWindows(df: DataFrame, binCol: String, idCol: String,
      windowSize: Int = 256): DataFrame = {
    require(windowSize > 0)
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      df.schema(idCol),
      StructField("win_idx", IntegerType, nullable = false),
      StructField("n_samples", LongType, nullable = false),
      StructField("energy", LongType, nullable = false),
      StructField("peak", IntegerType, nullable = false),
      StructField("n_zero_cross", LongType, nullable = false)))
    val binIdx = df.schema.fieldIndex(binCol)
    val idIdx = df.schema.fieldIndex(idCol)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
        if (bytes == null || bytes.isEmpty) Iterator.empty
        else (0 until (bytes.length + windowSize - 1) / windowSize).iterator.map { w =>
          val from = w * windowSize
          val until = math.min(from + windowSize, bytes.length)
          var i = from
          var energy = 0L
          var peak = 0
          var zc = 0L
          var prevNonNeg = true
          while (i < until) {
            val s = (bytes(i) & 0xFF) - 128
            energy += s.toLong * s
            val a = math.abs(s)
            if (a > peak) peak = a
            val nonNeg = s >= 0
            if (i > from && nonNeg != prevNonNeg) zc += 1
            prevNonNeg = nonNeg
            i += 1
          }
          Row(r.get(idIdx), w, (until - from).toLong, energy, peak, zc)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /**
   * Video-level near-duplicate detection by frame-fingerprint overlap: [[sampleFrames]]
   * (every `everyN`-th frame) → per-frame [[aHash]] → the 4×15-bit-chunk pigeonhole
   * blocking from [[aHashPairs]] at FRAME granularity → roll up to video pairs with the
   * count of near-dup frame pairs and the closest hamming distance. This is the standard
   * re-upload/clip detection shape for video corpora: two videos sharing many near-dup
   * frames are cuts of the same footage even when no single frame matches exactly.
   *
   * Scale: frame payloads never shuffle — the narrow sampleFrames→aHash chain reduces
   * each frame to an 8-byte fingerprint before the only exchange (the chunk equality
   * join), and only candidate pairs pay the `bit_count` check. Frames shorter than one
   * thumbnail source row (aHash NULL) drop out before the join.
   */
  def frameNearDup(df: DataFrame, binCol: String, idCol: String, everyN: Int = 1,
      maxHamming: Int = 3, srcW: Int = 32): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4x15-bit chunk blocking guarantees recall only through hamming 3")
    val frames = sampleFrames(df, binCol, idCol, everyN)
      .select(struct(col(idCol).as("doc"), col("frame_idx").as("f")).as("fid"),
        col("frame_bytes"))
    val h = aHash(frames, "frame_bytes", "fid", srcW).filter(col("ahash").isNotNull)
    val ch = h.select(col("fid"), col("ahash"), explode(array((0 until 4).map(c =>
        struct(lit(c).as("c"),
          shiftright(col("ahash"), c * 15).bitwiseAND(lit(0x7FFFL)).as("v"))): _*)).as("k"))
      .select(col("fid"), col("ahash"), col("k.c").as("c"), col("k.v").as("v"))
    val a = ch.select(col("c"), col("v"), col("fid").as("fid_a"), col("ahash").as("h_a"))
      .repartition(col("c"), col("v"))
    val b = ch.select(col("c"), col("v"), col("fid").as("fid_b"), col("ahash").as("h_b"))
    a.join(b, Seq("c", "v"))
      .filter(col("fid_a.doc") < col("fid_b.doc"))
      .select(col("fid_a"), col("fid_b"), col("h_a"), col("h_b")).distinct()
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("fid_a.doc").as("id_a"), col("fid_b.doc").as("id_b"))
      .agg(count(lit(1)).as("n_shared"), min(col("hamming")).as("min_hamming"))
  }

  /**
   * Temporal scene segmentation over the sampled frame sequence: a CUT is a frame whose
   * perceptual aHash jumps >= `minHamming` bits from the previous sampled frame of the
   * same video — the classic shot-boundary heuristic run entirely on the 64-bit hashes,
   * so the corpus-sized exchange carries (id, frame_idx, long) rows, never frame bytes.
   * One keyed window per video (frames are already per-video contiguous after the
   * sample); downstream keyframe extraction reads exactly the cut frames.
   */
  def sceneCuts(df: DataFrame, binCol: String, idCol: String, everyN: Int = 1,
      minHamming: Int = 8, srcW: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frames = sampleFrames(df, binCol, idCol, everyN)
      .select(struct(col(idCol).as("doc"), col("frame_idx").as("f")).as("fid"),
        col("frame_bytes"))
    val h = aHash(frames, "frame_bytes", "fid", srcW).filter(col("ahash").isNotNull)
    val w = Window.partitionBy(col("fid.doc")).orderBy(col("fid.f"))
    h.withColumn("__prev", lag(col("ahash"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .withColumn("hamming", bit_count(col("ahash").bitwiseXOR(col("__prev"))).cast("int"))
      .filter(col("hamming") >= minHamming)
      .select(col("fid.doc").as(idCol), col("fid.f").as("frame_idx"), col("hamming"))
  }

  /**
   * Energy-threshold voice-activity detection: a window is ACTIVE iff its mean
   * per-sample energy clears the threshold (kept in pure integer arithmetic:
   * `energy > thr * n_samples` — no fp boundary), and consecutive active windows merge
   * into speech segments via the gaps-and-islands rewrite (`win_idx - row_number` is
   * constant within a run). The exchange carries window STATS rows, never audio bytes;
   * segments per recording are bounded by window count. Downstream ASR sampling reads
   * exactly the segment spans.
   */
  def audioVad(df: DataFrame, binCol: String, idCol: String, windowSize: Int = 256,
      meanEnergyThr: Long = 400L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val active = audioWindows(df, binCol, idCol, windowSize)
      .filter(col("energy") > lit(meanEnergyThr) * col("n_samples"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("win_idx"))
    active.withColumn("__grp", col("win_idx") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("win_idx")).cast("int").as("start_win"),
        max(col("win_idx")).cast("int").as("end_win"),
        count(lit(1)).as("n_windows"),
        sum(col("energy")).as("total_energy"))
      .drop("__grp")
  }

  def decodeMedia(df: DataFrame, binCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      df.schema(idCol),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false)))
    val binIdx = df.schema.fieldIndex(binCol)
    val idIdx = df.schema.fieldIndex(idCol)
    val rdd = df.rdd.mapPartitions { rows =>
      // per-partition init for a native decoder would go here
      rows.map { r =>
        val (w, h, f) = decodeStub(r.getAs[Array[Byte]](binIdx))
        Row(r.get(idIdx), w, h, f)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /**
   * Constellation audio fingerprints (the Wang 2003 / Shazam scheme, on the repo's
   * deterministic PCM proxy): per fixed window, 8 strided band energies (a real
   * deployment swaps in FFT bins — the peak-pick + pair-hash machinery downstream is
   * identical); the per-window PEAK band anchors pairs with the peaks of the next
   * 1..`maxDt` windows, and each pair packs into a small integer fingerprint
   * `((b_anchor·8 + b_target)·4 + dt)·32 + min(31, e_anchor / eDiv)` — band pair,
   * time delta, and a coarse anchor-energy quantum. ALL-INTEGER arithmetic end-to-end
   * (energies are exact LONG sums of squares, the quantizer is integer division), so
   * the fingerprint stream is bit-reproducible in any engine.
   *
   * Per-row narrow work (mapPartitions, no shuffle): output is the (id, t, f)
   * fingerprint stream, ~one row per window pair — hundreds of bytes per media item,
   * which is what ships to the match join at 100 TB, never the PCM itself.
   */
  def audioFingerprints(df: DataFrame, binCol: String, idCol: String,
      windowSize: Int = 64, maxDt: Int = 3, eDiv: Long = 1024L): DataFrame = {
    // windowSize must be a multiple of 8: the strided band is the ABSOLUTE byte index
    // mod 8, so a non-multiple window would drift the band phase between windows —
    // the "strided band" design and the DuckDB oracle both assume phase-aligned
    // windows (ADVICE r6: the >= 8 guard alone left that contract implicit)
    require(windowSize >= 8 && windowSize % 8 == 0 && maxDt >= 1,
      s"windowSize must be a positive multiple of 8, got $windowSize")
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      df.schema(idCol),
      StructField("t", IntegerType, nullable = false),
      StructField("f", IntegerType, nullable = false)))
    val binIdx = df.schema.fieldIndex(binCol)
    val idIdx = df.schema.fieldIndex(idCol)
    val rdd = df.rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = if (r.isNullAt(binIdx)) null else r.getAs[Array[Byte]](binIdx)
        if (bytes == null || bytes.isEmpty) Iterator.empty
        else {
          val nWin = (bytes.length + windowSize - 1) / windowSize
          // (peak band, peak band energy) per window; ties -> lowest band index
          val peaks = Array.tabulate(nWin) { w =>
            val from = w * windowSize
            val until = math.min(from + windowSize, bytes.length)
            val e = new Array[Long](8)
            var i = from
            while (i < until) {
              val s = (bytes(i) & 0xFF) - 128
              e(i % 8) += s.toLong * s
              i += 1
            }
            var best = 0
            var b = 1
            while (b < 8) { if (e(b) > e(best)) best = b; b += 1 }
            (best, e(best))
          }
          (0 until nWin).iterator.flatMap { w =>
            val (b1, e1) = peaks(w)
            val q = math.min(31L, e1 / eDiv).toInt
            (1 to maxDt).iterator
              .filter(dt => w + dt < nWin)
              .map { dt =>
                val b2 = peaks(w + dt)._1
                Row(r.get(idIdx), w, ((b1 * 8 + b2) * 4 + dt) * 32 + q)
              }
          }
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /**
   * Fingerprint MATCH join over an [[audioFingerprints]] stream: candidate doc pairs
   * come from equality on the fingerprint value, and the match score is the classic
   * offset-histogram vote — matching fingerprints of a true copy/overlap agree on ONE
   * time offset, so the max vote over `dt = t_a − t_b` separates real matches from
   * coincidental band collisions. Degenerate fingerprints (present in > `dfCap` docs)
   * are dropped before the join — the same document-frequency cap that bounds the text
   * side's inverted-index joins, and what keeps the pair fan-out linear at 100 TB; the
   * join itself carries 12-byte (id, t, f) rows only.
   */
  def audioFingerprintMatches(fp: DataFrame, idCol: String = "doc_id",
      dfCap: Int = 20, minVotes: Long = 2L): DataFrame = {
    val keep = fp.groupBy(col("f"))
      .agg(countDistinct(col(idCol)).as("__d"))
      .filter(col("__d") <= dfCap)
      .select(col("f"))
    val kept = fp.join(keep, Seq("f"), "left_semi")
    val a = kept.select(col("f"), col(idCol).as("id_a"), col("t").as("t_a"))
    val b = kept.select(col("f"), col(idCol).as("id_b"), col("t").as("t_b"))
    a.join(b, Seq("f"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), (col("t_a") - col("t_b")).as("dt"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(struct(col("votes"), (-col("dt")).as("ndt"))).as("m"))
      .select(col("id_a"), col("id_b"), col("m.votes").as("n_matches"),
        (-col("m.ndt")).cast("int").as("dt"))
      .filter(col("n_matches") >= minVotes)
  }
}
