package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (driver brief): media as opaque `binary`
  * columns + typed metadata, with decode / feature-extract / resize /
  * frame-sample stages. The container has no image/audio libraries, so the
  * image fixtures are REAL files in the one raster format a bare JVM can
  * produce and parse with no codec: binary PPM (P6) — an ASCII
  * `P6\n<w> <h>\n255\n` header followed by w×h RGB byte triples. The
  * decode kernel ([[ppmDecode]]) is a genuine parser (magic check,
  * whitespace-delimited header ints, pixel-payload bounds check), and the
  * per-channel integer features it emits are recomputed independently by
  * the DuckDB oracle from the same source bytes — so the whole
  * encode→decode→extract path is semantically verified, not just
  * deterministic. The batch stage runs as Scala `mapPartitions` — the JVM
  * equivalent of a `mapInPandas` Pandas-UDF stage (same per-partition
  * batch shape, same schema contract; this build has no Python runtime,
  * and a JVM kernel additionally avoids the Arrow serialization hop).
  *
  * The media relation is synthesized deterministically from `documents`
  * (payload bytes = UTF-8 of text), so every stage is oracle-checkable or
  * at least deterministic across runs. */
/** Decoded-image features: dimensions + per-channel byte sums. */
final case class PpmFeatures(w: Int, h: Int, rSum: Long, gSum: Long, bSum: Long)

object Multimodal {

  private def T(s: SparkSession, dir: String) = Tables(s, dir)

  /** The media relation: media_id, kind, bytes, meta struct. */
  def media(s: SparkSession, dir: String): DataFrame =
    T(s, dir).documents.select(
      col("doc_id").as("media_id"),
      // deterministic kind assignment from id
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + lit(1)).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("bytes"),
      struct(
        // the PAYLOAD byte length, not n_chars: they differ on non-ASCII
        // text (UTF-8 multi-byte), and a field named n_bytes holding the
        // char count is a silently-wrong size for any future consumer
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
        (col("n_chars") % lit(640)).cast("int").as("width"),
        (col("n_chars") % lit(480)).cast("int").as("height")).as("meta"))

  /** The fixture image dimensions (4+id%8 × 3+id%5 px) — ONE definition
    * shared by mm_features and the phash feature frame (both oracles
    * mirror it), so the two queries can never silently hash DIFFERENT
    * fixture images after an edit to one copy. */
  private def fixtureW = (lit(4) + pmod(col("media_id"), lit(8))).cast("int")
  private def fixtureH = (lit(3) + pmod(col("media_id"), lit(5))).cast("int")

  /** Renders a payload into a real binary-PPM (P6) image file: ASCII
    * header + w×h RGB triples, pixel byte j cycling the payload (128s for
    * an empty payload). This is the fixture generator — the file format is
    * the published netpbm P6 layout, parseable by any image tool. */
  def ppmEncode(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
    // the decoder side caps and rejects overflow explicitly; the encoder
    // must too — 3*w*h wraps Int for w*h > ~715M (NegativeArraySize or a
    // corrupt file whose header disagrees with its payload), and
    // negative dims would "encode" a file ppmHeader then rejects
    require(w > 0 && h > 0 && 3L * w * h <= Int.MaxValue - 32L,
      s"ppmEncode: invalid dimensions ${w}x$h")
    val header = s"P6\n$w $h\n255\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val n = 3 * w * h
    val out = new Array[Byte](header.length + n)
    System.arraycopy(header, 0, out, 0, header.length)
    var j = 0
    while (j < n) {
      out(header.length + j) =
        if (payload.length == 0) 128.toByte else payload(j % payload.length)
      j += 1
    }
    out
  }

  /** Parses the binary-PPM (P6) header — magic check, whitespace-
    * delimited width/height/maxval, single separator byte, pixel-payload
    * bounds check — returning (w, h, pixelOffset), or null for malformed
    * input (wrong magic, non-numeric or overflowing header ints,
    * truncated pixels), like a codec rejecting a corrupt file. The ONE
    * copy of the acceptance rules, shared by [[ppmDecode]] and
    * [[ppmAvgHash]] so their accepted-file sets cannot drift apart. */
  private def ppmHeader(file: Array[Byte]): (Int, Int, Int) = {
    var p = 0
    def ws(): Unit = { while (p < file.length && file(p).toChar.isWhitespace) p += 1 }
    def int(): Int = {
      // accumulate in Long: a digit run overflowing Int would silently
      // wrap (possibly back to a small positive), accepting a malformed
      // header with misparsed dimensions — cap and reject instead
      var v = -1L
      while (p < file.length && file(p) >= '0' && file(p) <= '9') {
        v = (if (v < 0) 0 else v) * 10 + (file(p) - '0'); p += 1
        if (v > Int.MaxValue) { v = Int.MaxValue.toLong + 1 }
      }
      if (v > Int.MaxValue) -1 else v.toInt
    }
    if (file.length < 2 || file(0) != 'P' || file(1) != '6') return null
    p = 2
    // netpbm requires whitespace AFTER the magic token: "P62 2…" has the
    // invalid magic "P62", and without this check its trailing digit
    // would be consumed as the width — misparse, where real codecs reject
    if (p >= file.length || !file(p).toChar.isWhitespace) return null
    ws(); val w = int(); ws(); val h = int(); ws(); val maxv = int()
    if (w <= 0 || h <= 0 || maxv != 255 || p >= file.length) return null
    // exactly one whitespace byte separates header from pixels; anything
    // else is a corrupt header — reject, don't misparse with a 1-byte shift
    if (!file(p).toChar.isWhitespace) return null
    p += 1
    // pixel count compared OVERFLOW-FREE: huge header dims would
    // overflow 3*w*h in Int (47722×30000 wraps to 12,704) — and `3L*w*h`
    // itself overflows LONG for w,h near Int.MaxValue (3·(2^31-1)² ≈
    // 1.4e19 wraps negative, bypassing the guard and crashing the
    // decoder on a 29-byte crafted header — r13 sweep). w.toLong*h maxes
    // at ~4.6e18 < Long.MaxValue, and floor((len-p)/3) >= w*h ⇔
    // len-p >= 3*w*h exactly, so this form is equivalent and safe.
    if ((file.length.toLong - p) / 3 < w.toLong * h) return null // truncated pixels
    (w, h, p)
  }

  /** REAL decode kernel: [[ppmHeader]] + integer feature extraction
    * (per-channel byte sums). Returns null on any malformed input. */
  def ppmDecode(file: Array[Byte]): PpmFeatures = {
    val hd = ppmHeader(file)
    if (hd == null) return null
    val (w, h, off) = hd
    val n = 3 * w * h
    var r = 0L; var g = 0L; var b = 0L
    var j = 0
    while (j < n) {
      val v = (file(off + j) & 0xff).toLong
      (j % 3: @annotation.switch) match {
        case 0 => r += v
        case 1 => g += v
        case _ => b += v
      }
      j += 1
    }
    PpmFeatures(w, h, r, g, b)
  }

  /** 8×8 average-hash (perceptual hash) over a binary-PPM file — the
    * classic aHash: resample to an 8×8 grayscale grid, threshold each
    * cell against the grid mean. Returned as 8 row-wise 8-bit BAND
    * values (band j's bit i = cell at column i, row j) rather than one
    * 64-bit word: the bands are exactly what the LSH dedup buckets on,
    * and 8-bit ints sidestep 64-bit sign portability in the oracle.
    * Cells sample by nearest pixel (x = (i·w) div 8, y = (j·h) div 8 —
    * exact for any dimensions including w,h < 8, no empty-cell divide),
    * gray = (r+g+b) div 3, bit set iff gray > mean where mean =
    * sum(gray) div 64. All integer math over the published P6 layout, so
    * DuckDB recomputes the hash bit-identically from the same source
    * bytes ([[mmPhashDedup]]'s oracle). Null on malformed input, same
    * acceptance as [[ppmDecode]] (shared [[ppmHeader]]). */
  def ppmAvgHash(file: Array[Byte]): Array[Int] = {
    val hd = ppmHeader(file)
    if (hd == null) return null
    val (w, h, off) = hd
    val gray = new Array[Int](64)
    var sum = 0L
    var bi = 0
    while (bi < 64) {
      // grid coords in Long: the header admits w (or h) up to ~715M,
      // where (bi%8)*w overflows Int — a negative x would throw on the
      // array read and a wrapped-positive one silently hashes the wrong
      // cell. The final offset fits Int by construction (< file.length).
      val x = ((bi % 8).toLong * w / 8).toInt
      val y = ((bi / 8).toLong * h / 8).toInt
      val p = off + 3 * (y * w + x)
      val g = ((file(p) & 0xff) + (file(p + 1) & 0xff) + (file(p + 2) & 0xff)) / 3
      gray(bi) = g
      sum += g
      bi += 1
    }
    val mean = (sum / 64).toInt
    val bands = new Array[Int](8)
    bi = 0
    while (bi < 64) {
      if (gray(bi) > mean) bands(bi / 8) |= 1 << (bi % 8)
      bi += 1
    }
    bands
  }

  /** mm_ingest: binary ingest + metadata projection — oracle-checkable
    * (byte length must equal the source text's UTF-8 length). */
  val mmIngest = QueryDef(
    "mm_ingest",
    // n_bytes comes from the TYPED metadata struct, not a recompute off
    // the payload: the meta field is the relation's contract and this
    // oracle check is what keeps it honest — a recompute here left
    // meta.n_bytes consumer-less, so a drift (e.g. someone "fixing" it
    // to n_chars) would have verified green (r13 sweep)
    (s, dir) => media(s, dir)
      .select(col("media_id"), col("kind"),
        col("meta.n_bytes").as("n_bytes"),
        col("meta.width").cast("long").as("width"),
        col("meta.height").cast("long").as("height"))
      .orderBy(col("media_id")),
    oracle = Some("""
      SELECT doc_id AS media_id,
        CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        n_chars % 640 AS width,
        n_chars % 480 AS height
      FROM documents ORDER BY media_id"""))

  /** mm_features: render each media payload into a REAL binary-PPM image
    * file ([[ppmEncode]] — small per-id dimensions so fixtures stay tiny),
    * then run partition-wise feature extraction through the genuine PPM
    * parser ([[ppmDecode]]) in the mapPartitions shape a
    * Pandas-UDF/Arrow batch kernel would use. The per-channel integer
    * sums are recomputed by the DuckDB oracle from the same source bytes
    * (hex-pair extraction over the cycled payload), so an encoder or
    * parser bug — wrong header length, channel order, cycling offset —
    * fails the hash check, not just determinism. */
  val mmFeatures = QueryDef(
    "mm_features",
    (s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val outSchema = StructType(Seq(
        StructField("media_id", LongType),
        StructField("width", LongType),
        StructField("height", LongType),
        StructField("r_sum", LongType),
        StructField("g_sum", LongType),
        StructField("b_sum", LongType)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      media(s, dir)
        .select(col("media_id"), col("bytes"),
          // deterministic small dimensions per id: 4..11 × 3..7 px
          fixtureW.as("w"), fixtureH.as("h"))
        .mapPartitions { rows =>
          // batch-shaped: codec context would be initialized once per
          // partition here; each row round-trips payload→file→features
          rows.flatMap { r =>
            // NULL text encodes to a NULL bytes payload — malformed input,
            // dropped like every other reject in this file, never an NPE
            Option(r.getAs[Array[Byte]](1)).flatMap { pl =>
              val file = ppmEncode(pl, r.getInt(2), r.getInt(3))
              Option(ppmDecode(file)).map(f =>
                Row(r.getLong(0), f.w.toLong, f.h.toLong, f.rSum, f.gSum, f.bSum))
            }
          }
        }(enc)
        .orderBy(col("media_id"))
    },
    oracle = Some("""
      WITH m AS (
        SELECT doc_id AS media_id,
          hex(encode(text)) AS hx,
          octet_length(encode(text)) AS len,
          4 + doc_id % 8 AS w, 3 + doc_id % 5 AS h
        -- NULL payloads are dropped like the kernel drops them — the
        -- unguarded CTE emitted a concrete all-zero row instead
        FROM documents WHERE text IS NOT NULL),
      px AS (
        SELECT media_id, hx, len, w, h,
          unnest(range(0, 3 * w * h)) AS j
        FROM m),
      v AS (
        SELECT media_id, w, h, j,
          CASE WHEN len = 0 THEN 128
               ELSE ('0x' || substr(hx, 2 * CAST(j % len AS INT) + 1, 2))::INTEGER
          END AS val
        FROM px)
      SELECT media_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        CAST(SUM(CASE WHEN j % 3 = 0 THEN val ELSE 0 END) AS BIGINT) AS r_sum,
        CAST(SUM(CASE WHEN j % 3 = 1 THEN val ELSE 0 END) AS BIGINT) AS g_sum,
        CAST(SUM(CASE WHEN j % 3 = 2 THEN val ELSE 0 END) AS BIGINT) AS b_sum
      FROM v GROUP BY media_id, w, h ORDER BY media_id"""))

  /** mm_audio_levels: the audio analog of the image feature path —
    * interpret each audio payload as unsigned 8-bit PCM, frame it at 256
    * samples, and extract per-frame peak + mean energy (sum of squares
    * div 256) in the same per-partition batch-kernel shape. All integer
    * math, so the DuckDB oracle recomputes both features from the same
    * bytes; partial trailing frames are dropped like a fixed-frame DSP
    * window would. One output row per (media, frame) via the generator
    * shape (kernel emits the frame list, flatMap explodes it). */
  val mmAudioLevels = QueryDef(
    "mm_audio_levels",
    (s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val frameLen = 256
      val outSchema = StructType(Seq(
        StructField("media_id", LongType),
        StructField("frame_idx", LongType),
        StructField("peak", LongType),
        StructField("energy", LongType)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      media(s, dir)
        .filter(col("kind") === lit("audio"))
        .select(col("media_id"), col("bytes"))
        .mapPartitions { rows =>
          rows.flatMap { r =>
            val id = r.getLong(0)
            val pcm = r.getAs[Array[Byte]](1)
            // NULL payload (NULL text) → no frames, not an executor NPE
            val nFrames = if (pcm == null) 0 else pcm.length / frameLen
            (0 until nFrames).iterator.map { j =>
              var peak = 0L
              var sumsq = 0L
              var i = j * frameLen
              val end = i + frameLen
              while (i < end) {
                val v = (pcm(i) & 0xff).toLong
                if (v > peak) peak = v
                sumsq += v * v
                i += 1
              }
              Row(id, j.toLong, peak, sumsq / frameLen)
            }
          }
        }(enc)
        .orderBy(col("media_id"), col("frame_idx"))
    },
    oracle = Some("""
      WITH m AS (
        SELECT doc_id AS media_id,
          hex(encode(text)) AS hx,
          octet_length(encode(text)) AS len
        FROM documents WHERE doc_id % 3 = 1),
      b AS (
        SELECT media_id, hx, unnest(range(0, (len // 256) * 256)) AS i
        FROM m),
      v AS (
        SELECT media_id, i // 256 AS frame_idx,
          ('0x' || substr(hx, 2 * CAST(i AS INT) + 1, 2))::INTEGER AS val
        FROM b)
      SELECT media_id, frame_idx,
        CAST(MAX(val) AS BIGINT) AS peak,
        CAST(SUM(val * val) // 256 AS BIGINT) AS energy
      FROM v GROUP BY media_id, frame_idx
      ORDER BY media_id, frame_idx"""))

  /** mm_scene_cut: the video analog — shot-boundary detection over framed
    * payload bytes, the primitive a frame-dedup pipeline uses to pick
    * representative frames. Each video payload is framed at 64 bytes; a
    * frame's signature is its byte sum, and a cut fires when the
    * signature jumps by more than 2000 against the previous frame
    * (first frame never cuts). The kernel emits the per-frame
    * signatures; the sequential cut decision is a per-media lag window —
    * partitioned by media_id, so it scales horizontally across the
    * corpus. Integer-exact; DuckDB recomputes signatures from the same
    * bytes and mirrors the lag. */
  val mmSceneCut = QueryDef(
    "mm_scene_cut",
    (s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val frameLen = 64
      val outSchema = StructType(Seq(
        StructField("media_id", LongType),
        StructField("frame_idx", LongType),
        StructField("sig", LongType)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      val framed = media(s, dir)
        .filter(col("kind") === lit("video"))
        .select(col("media_id"), col("bytes"))
        .mapPartitions { rows =>
          rows.flatMap { r =>
            val id = r.getLong(0)
            val b = r.getAs[Array[Byte]](1)
            // NULL payload (NULL text) → no frames, not an executor NPE
            val nFrames = if (b == null) 0 else b.length / frameLen
            (0 until nFrames).iterator.map { j =>
              var sig = 0L
              var i = j * frameLen
              val end = i + frameLen
              while (i < end) { sig += (b(i) & 0xff).toLong; i += 1 }
              Row(id, j.toLong, sig)
            }
          }
        }(enc)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("media_id")).orderBy(col("frame_idx"))
      framed
        .withColumn("prev_sig", lag(col("sig"), 1).over(w))
        .withColumn("is_cut",
          col("prev_sig").isNotNull && abs(col("sig") - col("prev_sig")) > lit(2000L))
        .select(col("media_id"), col("frame_idx"), col("sig"), col("is_cut"))
        .orderBy(col("media_id"), col("frame_idx"))
    },
    oracle = Some("""
      WITH m AS (
        SELECT doc_id AS media_id,
          hex(encode(text)) AS hx,
          octet_length(encode(text)) AS len
        FROM documents WHERE doc_id % 3 = 2),
      b AS (
        SELECT media_id, hx, unnest(range(0, (len // 64) * 64)) AS i
        FROM m),
      f AS (
        SELECT media_id, i // 64 AS frame_idx,
          CAST(SUM(('0x' || substr(hx, 2 * CAST(i AS INT) + 1, 2))::INTEGER) AS BIGINT) AS sig
        FROM b GROUP BY media_id, i // 64),
      l AS (
        SELECT *, lag(sig) OVER (PARTITION BY media_id ORDER BY frame_idx) AS prev_sig
        FROM f)
      SELECT media_id, frame_idx, sig,
        prev_sig IS NOT NULL AND abs(sig - prev_sig) > 2000 AS is_cut
      FROM l ORDER BY media_id, frame_idx"""))

  /** mm_resize: the resize planning stage — integer aspect-preserving
    * target dimensions for a 224×224 model input (scale = max over both
    * axes so the short side covers, like a center-crop preprocessor).
    * All integer math (×1000 fixed-point ratio) so the oracle matches
    * exactly; the pixel kernel itself would slot into the mm_features
    * mapPartitions stage. */
  val mmResize = QueryDef(
    "mm_resize",
    (s, dir) => media(s, dir)
      .filter(col("kind") === lit("image") &&
        col("meta.width") > lit(0) && col("meta.height") > lit(0))
      .select(
        col("media_id"),
        col("meta.width").cast("long").as("width"),
        col("meta.height").cast("long").as("height"))
      // ratio_m = ceil-ish fixed-point scale so that round(dim*r) >= 224
      .withColumn("ratio_m",
        greatest(expr("(224000 + width - 1) div width"),
          expr("(224000 + height - 1) div height")))
      .select(
        col("media_id"), col("width"), col("height"),
        expr("(width * ratio_m) div 1000").as("out_w"),
        expr("(height * ratio_m) div 1000").as("out_h"))
      .orderBy(col("media_id")),
    oracle = Some("""
      WITH m AS (
        SELECT doc_id AS media_id,
          n_chars % 640 AS width, n_chars % 480 AS height
        FROM documents
        WHERE doc_id % 3 = 0 AND n_chars % 640 > 0 AND n_chars % 480 > 0),
      r AS (
        SELECT *, GREATEST((224000 + width - 1) // width,
                           (224000 + height - 1) // height) AS ratio_m
        FROM m)
      SELECT media_id, width, height,
        (width * ratio_m) // 1000 AS out_w,
        (height * ratio_m) // 1000 AS out_h
      FROM r ORDER BY media_id"""))

  /** mm_frame_sample: every 10th frame index of a synthetic frame count
    * (n_chars div 100 frames) — the frame-sampling explode shape. */
  val mmFrameSample = QueryDef(
    "mm_frame_sample",
    (s, dir) => T(s, dir).documents
      .withColumn("n_frames", expr("n_chars div 100"))
      .filter(col("n_frames") > lit(0L))
      .select(col("doc_id").as("media_id"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(10L))).as("frame_idx"))
      .orderBy(col("media_id"), col("frame_idx")),
    oracle = Some("""
      SELECT doc_id AS media_id, unnest(range(0, n_chars // 100, 10)) AS frame_idx
      FROM documents WHERE n_chars // 100 > 0
      ORDER BY media_id, frame_idx"""))

  /** (media_id, ph) — the 8-band average-hash frame over image media,
    * through the real PPM encode→parse path. The ONE hashing rule
    * shared by the batch dedup, the index build and the increment
    * probe, so their fingerprints can never drift. */
  private def phashFeatOf(imgs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("ph", ArrayType(IntegerType, containsNull = false))))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    imgs
      .filter(col("kind") === lit("image"))
      .select(col("media_id"), col("bytes"),
        // the mm_features fixture dimensions (shared definition)
        fixtureW.as("w"), fixtureH.as("h"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          // NULL payload (NULL text) → dropped like malformed, never NPE
          Option(r.getAs[Array[Byte]](1)).flatMap { pl =>
            val file = ppmEncode(pl, r.getInt(2), r.getInt(3))
            Option(ppmAvgHash(file)).map(bands => Row(r.getLong(0), bands.toSeq))
          }
        }
      }(enc)
  }

  /** The 64-bit hamming verify tail of the [[phashIncr]] family — ONE
    * definition, so the probe==batch equality contract cannot drift on
    * the distance or threshold. */
  private def phashVerify(cand: DataFrame, dPh: DataFrame,
      kPh: DataFrame): DataFrame =
    cand.join(dPh, Seq("media_id")).join(kPh, Seq("keeper"))
      .withColumn("hamming",
        expr("aggregate(zip_with(d_ph, k_ph, (x, y) -> bit_count(x ^ y)), " +
          "0, (a, x) -> a + x)").cast("long"))
      .withColumn("is_dup", col("hamming") <= lit(phHamMax))
      .select(col("media_id"), col("keeper"), col("hamming"), col("is_dup"))
      .orderBy(col("media_id"))

  private val phHamMax = 6L
  /** pHash family kernel identity — see [[Similarity.minhashKernelId]]
    * for the labeling convention. */
  private[operators] def phashKernelId: Seq[(String, Any)] = Seq(
    "hashfam" -> "avg-hash-8x8-nearest-gray-mean",
    "bands" -> 8,
    "bandBits" -> 8,
    "verify" -> s"hamming<=$phHamMax")
  private[operators] def phashKernelFp: String =
    Similarity.kernelFp(phashKernelId: _*)

  /** The full-corpus phash feature frame, persisted through the shared
    * feature-cache registry (three plan branches consume it). */
  private[graft] def phashFeat(s: SparkSession, dir: String): DataFrame =
    RunCaches.cachedFeature(s, s"mm_phash:$dir", RunCaches.srcVersion(s, dir, "documents.parquet")) {
      phashFeatOf(media(s, dir))
    }

  /** The ONE phash election pipeline in oracle SQL — fixture dims,
    * hash formula, bit layout, keeper election and hamming≤6 verify —
    * shared by BOTH [[mmPhashDedup]]'s and [[mmPhashIncr]]'s oracle
    * strings. These 38 lines were previously duplicated verbatim; an
    * edit to the hash or threshold had to be hand-synced across the two
    * strings, a miss surfacing only in a full Verify run. `where`
    * injects the incr oracle's split restriction into the final join. */
  private val phashOracleCtes = """m AS (
        SELECT doc_id AS media_id,
          hex(encode(text)) AS hx,
          octet_length(encode(text)) AS len,
          4 + doc_id % 8 AS w, 3 + doc_id % 5 AS h
        -- text IS NOT NULL mirrors the Spark kernel's Option(bytes)
        -- reject: a NULL-text doc would otherwise gray to NULL, fold to
        -- band bucket 0 via the CASE's ELSE, and contaminate the keeper
        -- election for every real image in that bucket (r13 sweep)
        FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL),
      cells0 AS (
        SELECT media_id, len, hx, w, h, unnest(range(0, 64)) AS bi
        FROM m),
      cells AS (
        SELECT media_id, len, hx, bi,
          ((((bi // 8) * h) // 8) * w + (((bi % 8) * w) // 8)) AS p
        FROM cells0),
      g AS (
        SELECT media_id, bi,
          (CASE WHEN len = 0 THEN 128 ELSE
            ('0x' || substr(hx, 2 * CAST((3 * p) % len AS INT) + 1, 2))::INTEGER END
          + CASE WHEN len = 0 THEN 128 ELSE
            ('0x' || substr(hx, 2 * CAST((3 * p + 1) % len AS INT) + 1, 2))::INTEGER END
          + CASE WHEN len = 0 THEN 128 ELSE
            ('0x' || substr(hx, 2 * CAST((3 * p + 2) % len AS INT) + 1, 2))::INTEGER END
          ) // 3 AS gray
        FROM cells),
      st AS (
        SELECT media_id, CAST(SUM(gray) AS BIGINT) // 64 AS mean
        FROM g GROUP BY media_id),
      bands AS (
        SELECT g.media_id, bi // 8 AS band,
          CAST(SUM(CASE WHEN gray > mean THEN 1 << (bi % 8) ELSE 0 END) AS INT) AS bucket
        FROM g JOIN st ON st.media_id = g.media_id
        GROUP BY g.media_id, bi // 8),
      keep AS (
        SELECT band, bucket, MIN(media_id) AS keeper
        FROM bands GROUP BY band, bucket),
      cand AS (
        SELECT b.media_id, MIN(k.keeper) AS keeper
        FROM bands b JOIN keep k ON k.band = b.band AND k.bucket = b.bucket
        WHERE k.keeper < b.media_id GROUP BY b.media_id)"""

  private def phashOracleTail(where: String) = s"""SELECT c.media_id, c.keeper,
        CAST(SUM(bit_count(xor(db.bucket, kb.bucket))) AS BIGINT) AS hamming,
        CAST(SUM(bit_count(xor(db.bucket, kb.bucket))) AS BIGINT) <= 6 AS is_dup
      FROM cand c
      JOIN bands db ON db.media_id = c.media_id
      JOIN bands kb ON kb.media_id = c.keeper AND kb.band = db.band
      ${where}GROUP BY c.media_id, c.keeper
      ORDER BY c.media_id"""

  /** mm_phash_dedup: perceptual-hash near-dup detection over the IMAGE
    * media — the missing multimodal member of the dedup family (text
    * has dd_exact/minhash/simhash, embeddings dd_embedding; images had
    * decode but no dedup). Each image renders through the real PPM
    * encode→parse path ([[ppmEncode]] → [[ppmAvgHash]]) into an 8×8
    * average-hash, banded into its 8 row bands; candidates come from
    * the linear keeper-election shape shared with `dd_simhash` (min
    * media_id per (band, bucket) — a partial agg — then one verified
    * candidate per image), hamming distance over the full 64 bits
    * verifies, `is_dup` thresholds at ≤ 6 — NEVER an all-pairs join.
    * Like dd_simhash the full candidate report is emitted (a
    * filtered-only result is vacuous on a corpus without planted dups);
    * unlike it the hash is portable integer math, so the whole pipeline
    * — hash bits included — is recomputed independently by DuckDB from
    * the same source bytes and the check is oracle-exact, not
    * rows-only. At 100 TB the 8-bit buckets would collide heavily; the
    * band width grows with the corpus (16-bit bands of a 256-bit hash),
    * which changes constants, not this shape. The narrow hash frame is
    * persisted through the same feature-cache registry the text dedup
    * family uses ([[RunCaches.cachedFeature]]) — it is consumed by
    * three plan branches (banding + two hash join-backs), and at 100 TB
    * re-reading and re-hashing the media bytes per branch is the
    * expensive part; the cache makes the PPM encode + kernel a
    * once-per-execution cost and is cleared by the same Bench/harness
    * resets as the text family. */
  val mmPhashDedup = QueryDef(
    "mm_phash_dedup",
    (s, dir) => VersionedIndex.dedup(phashIncr, phashFeat(s, dir)),
    oracle = Some(s"""
      WITH $phashOracleCtes
      ${phashOracleTail("")}"""))

  /** pHash family — incremental image dedup, closing the image
    * modality's re-scan gap: the corpus images' (band, bucket, keeper)
    * frame plus a (media_id, ph) side table for exactly the bucket
    * keepers, partitioned by pshard. Images are the `doc_id % 3 == 0`
    * documents, so the split is read off the documents table's doc_id —
    * the same `max id − max id / 5` the oracle states. */
  private[graft] val phashIncr = VersionedIndex.IncrFamily(
    name = "phash", query = "mm_phash_incr",
    kernelPrefix = s"ph-$phashKernelFp",
    srcTable = "documents", srcIdCol = "doc_id",
    featOf = (s, dir, keep) => phashFeatOf(media(s, dir).filter(keep)),
    idCol = "media_id", featSubdir = "phs", featShardCol = "pshard",
    sideDdl = "media_id BIGINT, ph ARRAY<INT>, pshard BIGINT",
    // a band's bucket is a ph element, so an INT
    bandsDdl = "band INT, bucket INT, keeper BIGINT, bshard BIGINT",
    // one 8-bit row band per array element
    bands = col("ph"),
    sideOf = identity,
    kRename = d => d.select(col("media_id").as("keeper"), col("ph").as("k_ph")),
    verify = (cand, feat, kSide) =>
      phashVerify(cand,
        feat.select(col("media_id"), col("ph").as("d_ph")), kSide))

  /** mm_phash_incr: incremental image dedup against the persisted phash
    * index. ORACLE-EXACT — the first `_incr` query to be (r11): the
    * average-hash is portable integer math and the split is
    * SQL-expressible (max id − max id / 5), so DuckDB recomputes the
    * full election from the same source bytes and restricts it to the
    * increment — the incremental machinery's output is checked against
    * an independent engine, not just against our own batch path (which
    * the SemanticsSpec equality additionally pins). The minhash/simhash
    * twins followed in r15 once their kernels moved to md5-derived
    * portable hashes. */
  val mmPhashIncr = VersionedIndex.incrQuery(phashIncr,
    oracle = Some(s"""
      WITH sp AS (
        SELECT MAX(doc_id) - MAX(doc_id) // 5 AS split FROM documents),
      $phashOracleCtes
      ${phashOracleTail("WHERE c.media_id >= (SELECT split FROM sp)\n      ")}"""))

  val defs: Seq[QueryDef] =
    Seq(mmIngest, mmFeatures, mmAudioLevels, mmSceneCut, mmResize,
      mmFrameSample, mmPhashDedup, mmPhashIncr)
}
