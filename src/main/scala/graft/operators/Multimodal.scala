package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal columns (north-star [N], SURVEY.md §2.11 N5 extended):
  * image/audio/video as opaque `binary` payloads with typed metadata.
  *
  * The decode step is REAL: every payload is a valid 2×2 24-bpp BMP
  * (54-byte header + pixel array, built in-plan from binary
  * expressions) and `extractFeatures` decodes it with `javax.imageio`
  * — an actual image codec, JDK-built-in, no native libs — then reads
  * features off the decoded pixels. The pixel bytes are the document's
  * md5 bytes, so the features stay expressible as a pure-column twin
  * (`mediaFeatures`) that the DuckDB oracle can replay; parity between
  * the codec path and the column path is asserted in MultimodalSpec.
  * The payloads are synthetic thumbnails (the container ships no real
  * media files); a JPEG/audio/video codec slots into the exact same
  * per-partition decode shape.
  *
  * Scale notes: payloads stay opaque bytes end-to-end (no driver
  * collection); feature extraction is map-only; downstream joins/aggs
  * see only small typed columns. At 100 TB the media bytes live in
  * parquet binary columns or object-store pointers — same plan shape.
  */
object Multimodal extends graft.QueryModule {

  final case class MediaRow(doc_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int)
  final case class MediaFeatures(doc_id: Long, kind: String,
      f0: Double, f1: Double, f2: Double, f3: Double)

  /** 54-byte header of a 2×2 24-bpp uncompressed BMP (70 bytes total:
    * two 8-byte rows — 6 pixel bytes + 2 padding each — after the
    * header). Everything about the image except the pixel bytes is
    * fixed, which is what keeps the payload constructible from column
    * expressions and its length oracle-checkable as a constant. */
  private[graft] val BmpHeader: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(54)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte)
    bb.putInt(70)                 // file size
    bb.putInt(0)                  // reserved
    bb.putInt(54)                 // pixel-array offset
    bb.putInt(40)                 // BITMAPINFOHEADER size
    bb.putInt(2).putInt(2)        // width, height
    bb.putShort(1).putShort(24)   // planes, bits/pixel
    bb.putInt(0)                  // BI_RGB: uncompressed
    bb.putInt(16)                 // pixel-array size (2 × 8-byte stride)
    bb.putInt(2835).putInt(2835)  // 72 dpi
    bb.putInt(0).putInt(0)        // palette sizes (none)
    bb.array()
  }
  private[graft] val BmpBytes = 70
  private val rowPad = Array[Byte](0, 0)

  /** Deterministic media table derived from `documents`: payload = a
    * REAL decodable 2×2 BMP whose 12 pixel bytes are md5(text) bytes
    * 0–11 (BGR, bottom row first — so decoded-pixel features equal
    * md5-byte features; see [[extractFeatures]]), kind round-robins
    * over the three modalities, width/height = logical source-media
    * metadata from n_chars (the payload is the thumbnail). */
  def mediaTable(spark: SparkSession, dir: String): DataFrame = {
    val md5bin = unhex(md5(col("text")))
    Tables(spark, dir, "documents")
      .select(
        col("doc_id"),
        element_at(lit(Array("image", "audio", "video")),
          (col("doc_id") % 3).cast("int") + 1).as("kind"),
        concat(lit(BmpHeader),
          substring(md5bin, 1, 6), lit(rowPad),
          substring(md5bin, 7, 6), lit(rowPad)).as("payload"),
        (col("n_chars") % 640).cast("int").as("width"),
        (col("n_chars") % 480).cast("int").as("height"))
  }

  /** REAL image decode via the JDK's built-in BMP codec: features are
    * channel values of the decoded bottom-row pixels, scaled to [0,1].
    * By the BMP layout in [[mediaTable]] these equal md5(text) bytes
    * 0–3 — the property that keeps the column-expression twin (and
    * through it the DuckDB oracle) exact. */
  // ImageIO defaults to a DISK-backed stream cache: every read() opens,
  // writes and deletes a temp file — per 70-byte payload that is pure
  // synchronous-I/O overhead (and lock contention across 32 concurrent
  // decode tasks). Memory caching decodes the identical bytes. Executor
  // JVM-wide, set once (§4.5: per-task init cost belongs at setup).
  private object ImageIoInit {
    javax.imageio.ImageIO.setUseCache(false)
  }

  private def decodeFeatures(payload: Array[Byte]): (Double, Double, Double, Double) = {
    ImageIoInit
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, "payload is not a decodable image")
    val y = img.getHeight - 1 // BMP stores bottom row first
    val p0 = img.getRGB(0, y)
    val p1 = img.getRGB(1, y)
    def chan(v: Int, shift: Int) = ((v >> shift) & 0xff) / 255.0
    (chan(p0, 0), chan(p0, 8), chan(p0, 16), chan(p1, 0)) // B,G,R then next B
  }

  /** The mapPartitions batch shape (mapInPandas analog): per-partition
    * iterator in → iterator out, so a heavier codec/model initializes
    * once per partition, not per row. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition init point (ImageIO is stateless; a real model
      // or native codec handle would be constructed HERE)
      rows.map { r =>
        val (f0, f1, f2, f3) = decodeFeatures(r.payload)
        MediaFeatures(r.doc_id, r.kind, f0, f1, f2, f3)
      }
    }
  }

  final case class MediaHash(doc_id: Long, kind: String, phash: Int,
      payload: Array[Byte])

  /** AVERAGE-HASH (aHash) of the DECODED thumbnail — the standard
    * perceptual-image-fingerprint recipe (downscale, gray, threshold
    * each cell against the mean): here the grid is the thumbnail's own
    * 2×2 pixels, luminance = R+G+B (channel order irrelevant to a
    * sum), bit k set iff 4·lum_k > Σlum (strict — ties to 0 on both
    * engines), pixels enumerated in payload-byte order (bottom row
    * first, the BMP layout). 4 bits here; a real 8×8 thumbnail gives
    * the classic 64-bit hash through the SAME decode shape. */
  private def decodePhash(payload: Array[Byte]): Int = {
    ImageIoInit
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    require(img != null, "payload is not a decodable image")
    val pts = Seq((0, img.getHeight - 1), (1, img.getHeight - 1),
      (0, 0), (1, 0))
    val lums = pts.map { case (x, y) =>
      val v = img.getRGB(x, y)
      (v & 0xff) + ((v >> 8) & 0xff) + ((v >> 16) & 0xff)
    }
    val total = lums.sum
    lums.zipWithIndex.map { case (l, k) =>
      if (4 * l > total) 1 << k else 0 }.sum
  }

  /** Per-media perceptual hash via the REAL codec path (mapPartitions,
    * codec init once per partition); payload carried through for the
    * dup verify. */
  private def mediaPhashes(spark: SparkSession, dir: String)
      : Dataset[MediaHash] = {
    import spark.implicits._
    // fanOut (§2.5/§4): the ImageIO decode is CPU-bound per-row work
    // running on the scan's splits — one split at bench scale, profiled
    // ~3 s single-task for the 50k decodes. Hash-fanning to every core
    // is the guide's "let Spark do distribution, decode in parallel"
    // shape; a 100 TB scan already has thousands of splits (no-op).
    graft.Tables.fanOut(spark, mediaTable(spark, dir), key = "doc_id")
      .as[MediaRow].mapPartitions { rows =>
      rows.map(r =>
        MediaHash(r.doc_id, r.kind, decodePhash(r.payload), r.payload))
    }
  }

  /** GRADED: the perceptual-hash INDEX — per (kind, phash) media
    * counts. The oracle rebuilds every hash from md5(text) hex (the
    * pixel bytes ARE md5 bytes), so the grade pins the whole decode →
    * luminance → threshold → bit-pack chain cross-engine. */
  def mediaPhashIndex(spark: SparkSession, dir: String): DataFrame =
    mediaPhashes(spark, dir).toDF()
      .groupBy(col("kind"), col("phash"))
      .agg(count(lit(1)).as("n_media"))
      .orderBy("kind", "phash")

  /** GRADED: duplicate-media pairs — the media-dedup move: bucket-join
    * on the perceptual hash, verify by full payload equality (at a
    * real 64-bit hash the bucket join is sparse; the verify is what
    * makes it exact either way). The oracle states the ground truth
    * INDEPENDENTLY — text-digest equality — so the grade proves the
    * bucket+verify path finds exactly the true copies (payload
    * equality ⟺ md5(text) 12-byte-prefix equality, in-data equivalent
    * to full-digest equality). Structurally empty below sf0.1 (the
    * corpus carries no exact copies there — pinned empty, the
    * cdc-extract zero-row discipline); 8 pairs at sf0.1
    * ([[graft.MultimodalSpec]]). */
  def mediaPhashDups(spark: SparkSession, dir: String): DataFrame = {
    val h = mediaPhashes(spark, dir).toDF()
    val a = h.select(col("doc_id").as("doc_a"), col("phash"),
      col("payload").as("pa"))
    val b = h.select(col("doc_id").as("doc_b"),
      col("phash").as("phash_b"), col("payload").as("pb"))
    a.join(b, col("phash") === col("phash_b") &&
        col("doc_a") < col("doc_b") && col("pa") === col("pb"))
      .select(col("doc_a"), col("doc_b"), col("phash"))
      .orderBy("doc_a", "doc_b")
  }

  /** Graded query: modality stats over the binary payloads. */
  def mediaStats(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n"),
        sum(length(col("payload"))).as("total_bytes"),
        max(col("width")).as("max_width"))
      .orderBy("kind")

  /** Graded query: feature extraction expressed in pure columns (the
    * hex-digit trick keeps it DuckDB-oracle-checkable); parity with the
    * REAL ImageIO decode path is asserted in MultimodalSpec. Features
    * are the first 4 decoded pixel channel bytes = md5(text) bytes 0–3
    * scaled to [0,1]. */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    def hexVal(c: org.apache.spark.sql.Column) =
      instr(lit("0123456789abcdef"), c) - 1
    def byteAt(i: Int) = // md5 hex chars 2i+1, 2i+2 form payload byte i
      (hexVal(substring(md5(col("text")), 2 * i + 1, 1)) * 16 +
        hexVal(substring(md5(col("text")), 2 * i + 2, 1))).cast("double") / 255.0
    Tables(spark, dir, "documents")
      .select(
        col("doc_id"),
        element_at(lit(Array("image", "audio", "video")),
          (col("doc_id") % 3).cast("int") + 1).as("kind"),
        byteAt(0).as("f0"), byteAt(1).as("f1"),
        byteAt(2).as("f2"), byteAt(3).as("f3"))
      .orderBy("doc_id")
  }

  /** Graded query: resize (metadata transform — STUB: a real resize
    * would transform payload bytes; the metadata/plan shape is the real
    * part) + frame sampling for video rows: every 8th frame index up to
    * `width`, exploded to one row per sampled frame with a
    * deterministic frame id. Generator (U4) over a sequence — the
    * frame-sample plumbing a video pipeline needs. */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .filter(col("kind") === "video")
      .withColumn("resized_w", least(col("width"), lit(224)))
      .withColumn("resized_h", least(col("height"), lit(224)))
      .select(col("doc_id"), col("resized_w"), col("resized_h"),
        posexplode(expr("sequence(0, width, 8)")).as(Seq("frame_no", "frame_idx")))
      .withColumn("frame_id",
        concat(lit("frm_"), substring(md5(concat_ws(":",
          col("doc_id"), col("frame_idx"))), 1, 8)))
      .select(col("doc_id"), col("frame_no").cast("bigint").as("frame_no"),
        col("frame_idx").cast("bigint").as("frame_idx"),
        col("resized_w"), col("resized_h"), col("frame_id"))
      .orderBy("doc_id", "frame_no")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "media_stats"    -> (mediaStats _),
    "media_features" -> (mediaFeatures _),
    "frame_sample"   -> (frameSample _),
    "media_phash_index" -> (mediaPhashIndex _),
    "media_phash_dups"  -> (mediaPhashDups _))

  private val byteSql = (0 to 3).map { i =>
    val hi = s"strpos('0123456789abcdef', substr(md5(text), ${2 * i + 1}, 1)) - 1"
    val lo = s"strpos('0123456789abcdef', substr(md5(text), ${2 * i + 2}, 1)) - 1"
    s"CAST(($hi) * 16 + ($lo) AS DOUBLE) / 255.0 AS f$i"
  }.mkString(",\n  ")

  /** md5 payload byte i as an integer (hex-digit arithmetic). */
  private def byteInt(i: Int) = {
    val hi = s"strpos('0123456789abcdef', substr(md5(text), ${2 * i + 1}, 1)) - 1"
    val lo = s"strpos('0123456789abcdef', substr(md5(text), ${2 * i + 2}, 1)) - 1"
    s"(($hi) * 16 + ($lo))"
  }

  /** Per-pixel luminance sums (3 payload bytes each) + the packed
    * aHash, restated from md5(text) hex — the DuckDB rebuild of the
    * decode → luminance → threshold → bit-pack chain. */
  private val phashCte = {
    val lums = (0 to 3).map(k =>
      s"${byteInt(3 * k)} + ${byteInt(3 * k + 1)} + ${byteInt(3 * k + 2)} AS l$k")
      .mkString(",\n    ")
    val bits = (0 to 3).map(k =>
      s"${1 << k} * (CASE WHEN 4 * l$k > l0 + l1 + l2 + l3 THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""m AS (
       |  SELECT doc_id,
       |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
       |         WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       |    $lums
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, kind, CAST($bits AS INT) AS phash FROM m)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // every payload is a 70-byte BMP (fixed header + 2 padded pixel
    // rows), so the byte total is exactly 70 per row
    "media_stats" ->
      """SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  count(*) AS n,
        |  CAST(count(*) * 70 AS BIGINT) AS total_bytes,
        |  max(CAST(n_chars % 640 AS INT)) AS max_width
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "frame_sample" ->
      """WITH vids AS (
        |  SELECT doc_id,
        |    CAST(n_chars % 640 AS INT) AS width,
        |    CAST(least(CAST(n_chars % 640 AS INT), 224) AS INT) AS resized_w,
        |    CAST(least(CAST(n_chars % 480 AS INT), 224) AS INT) AS resized_h
        |  FROM documents WHERE CAST(doc_id % 3 AS INT) = 2),
        |frames AS (
        |  SELECT doc_id, resized_w, resized_h,
        |    unnest(range(0, len(generate_series(0, width, 8)))) AS frame_no,
        |    unnest(generate_series(0, width, 8)) AS frame_idx
        |  FROM vids)
        |SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no,
        |  CAST(frame_idx AS BIGINT) AS frame_idx, resized_w, resized_h,
        |  'frm_' || substr(md5(doc_id || ':' || frame_idx), 1, 8) AS frame_id
        |FROM frames ORDER BY doc_id, frame_no""".stripMargin,
    "media_features" ->
      s"""SELECT doc_id,
         |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
         |       WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |  $byteSql
         |FROM documents ORDER BY doc_id""".stripMargin,
    "media_phash_index" ->
      s"""WITH $phashCte
         |SELECT kind, phash, count(*) AS n_media
         |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // independent ground truth: text-digest equality, no knowledge of
    // the bucket-join mechanism — proves the phash+verify path finds
    // exactly the true copies (and nothing else)
    "media_phash_dups" ->
      s"""WITH $phashCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, h.phash
         |FROM documents a
         |JOIN documents b ON md5(a.text) = md5(b.text)
         |  AND a.doc_id < b.doc_id
         |JOIN h ON h.doc_id = a.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin)
}
