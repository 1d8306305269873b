package graft.multimodal

import graft.OpDef
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO}

/** A media asset: opaque binary payload (a real PNG/GIF/BMP container) +
  * doc key.
  */
final case class MediaAsset(doc_id: Long, payload: Array[Byte])

/** Decoded media metadata (filled by the real ImageIO header parse). */
final case class MediaMeta(
    doc_id: Long,
    fmt: String,
    width: Int,
    height: Int,
    n_frames: Int
)

/** Extracted feature vector (pixel-derived; a real embedding model slots
  * into the same per-partition batch shape).
  */
final case class MediaFeatures(doc_id: Long, feat: Seq[Double])

/** SURVEY §2.3 #40-41/#76/#77/#253 — multimodal column plumbing with a REAL
  * JDK ImageIO codec.
  *
  * Image/video content is carried as an opaque `binary` column holding real
  * PNG / GIF / BMP container bytes; decode / feature-extract / phash run as
  * a typed `mapPartitions` over batches of assets (the exact shape a real
  * JNI/Pandas-UDF codec pass needs: per-partition init, streaming iterator,
  * no driver involvement, narrow → zero shuffle).
  *
  * The testdata tables carry no blob column, so the write side
  * ([[MediaCodec.encode]]) synthesizes each asset deterministically from the
  * document row — geometry/format/frame-count from the md5 envelope, pixels
  * from the text's leading codepoints — and encodes it with the actual JDK
  * ImageIO writer (gray PNG/GIF/BMP all round-trip losslessly; GIF "videos"
  * are real multi-frame sequences). Everything downstream reads ONLY the
  * container bytes back through `ImageIO`: format names, dimensions and
  * frame counts come from the real header parse, pixels from the real
  * decoder. The determinism of the write side is what lets a DuckDB oracle
  * reproduce the expected metadata and phashes from the same formulas
  * without decoding images itself.
  */
object MediaCodec {

  /** Encode formats, indexed by envelope byte 0 mod 3. All three ship in
    * the JDK, all three are lossless for 8-bit gray, and GIF doubles as the
    * multi-frame "video" container (reference: image/video columns are
    * opaque payloads; decode recovers the envelope).
    */
  val Formats = Vector("png", "gif", "bmp")

  /** Fixed luma-grid size the phash/features read (60 blocks × 4 px). */
  val PhashPixels = 240

  private def md5(text: String): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** The doc's luma buffer: first 240 codepoints masked to 8 bits,
    * space-padded — the deterministic "scene" the camera photographs.
    */
  def pixelBuf(text: String): Array[Int] = {
    val buf = new Array[Int](PhashPixels)
    val it = text.codePoints().iterator()
    var i = 0
    while (i < PhashPixels) {
      buf(i) = (if (it.hasNext) it.nextInt() else 32) & 0xFF
      i += 1
    }
    buf
  }

  /** Write side: render the doc's luma buffer into a real image (row-major
    * from pixel 0; padding luma 32 beyond the buffer) and encode it with
    * the JDK ImageIO writer picked by the md5 envelope. GIF assets are real
    * multi-frame sequences written via `writeToSequence`. Deterministic:
    * same doc → byte-identical container.
    */
  def encode(docId: Long, text: String): MediaAsset = {
    val h = md5(text)
    def b(i: Int): Int = h(i) & 0xFF
    val fmt = Formats(b(0) % 3)
    val w = 16 + (b(1) % 64) // ≥16 so w·h ≥ PhashPixels always holds
    val ht = 15 + (b(2) % 64)
    val nF = if (fmt == "gif") (b(3) % 16) + 1 else 1
    val px = pixelBuf(text)
    val img = new BufferedImage(w, ht, BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    var i = 0
    val n = w * ht
    while (i < n) {
      r.setSample(i % w, i / w, 0, if (i < PhashPixels) px(i) else 32)
      i += 1
    }
    val bos = new ByteArrayOutputStream()
    if (nF == 1) {
      ImageIO.write(img, fmt, bos)
    } else {
      val wr = ImageIO.getImageWritersByFormatName("gif").next()
      val ios = ImageIO.createImageOutputStream(bos)
      wr.setOutput(ios)
      wr.prepareWriteSequence(null)
      var f = 0
      while (f < nF) {
        wr.writeToSequence(new IIOImage(img, null, null), null)
        f += 1
      }
      wr.endWriteSequence()
      wr.dispose()
      ios.close()
    }
    MediaAsset(docId, bos.toByteArray)
  }

  // In-memory ImageIO streams ONLY: the JDK default (useCache=true) backs
  // every ImageInputStream with a TEMP FILE, and reader.dispose() does not
  // close the stream — one leaked file descriptor per decode. Invisible at
  // sf0.1 (5k docs), fatal at the sf3 full gate (150k docs > the 20k FD
  // limit, EMFILE-poisoning every later query in the process). Byte-array
  // payloads never need a disk cache; the stream is also now closed
  // explicitly for symmetry.
  ImageIO.setUseCache(false)

  private def withReader[T](payload: Array[Byte])(
      f: javax.imageio.ImageReader => T): T = {
    val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(payload))
    try {
      val rs = ImageIO.getImageReaders(iis)
      require(rs.hasNext, "no ImageIO reader recognizes the payload")
      val r = rs.next()
      r.setInput(iis)
      try f(r) finally r.dispose()
    } finally iis.close()
  }

  /** REAL container decode: format name, dimensions and frame count come
    * from the ImageIO reader parsing the actual PNG/GIF/BMP header — a
    * header-only read, no pixel decode (the cheap metadata pass a curation
    * pipeline runs corpus-wide before deciding what to fully decode).
    */
  def decode(a: MediaAsset): MediaMeta = withReader(a.payload) { r =>
    MediaMeta(a.doc_id, r.getFormatName.toLowerCase, r.getWidth(0),
      r.getHeight(0), r.getNumImages(true))
  }

  /** Full frame-0 pixel decode through the real ImageIO decoder. */
  def decodeImage(a: MediaAsset): BufferedImage =
    withReader(a.payload)(_.read(0))

  /** Feature extraction over REAL decoded pixels: the first 8 luma samples
    * normalized to [0,1]. A real vision encoder replaces the projection,
    * not the plumbing — per-partition init, streaming iterator, fixed
    * output dim.
    */
  def features(a: MediaAsset): MediaFeatures = {
    val img = decodeImage(a)
    val w = img.getWidth
    val r = img.getRaster
    MediaFeatures(a.doc_id,
      (0 until 8).map(i => r.getSample(i % w, i / w, 0) / 255.0))
  }

  /** 60-bit block-mean perceptual hash over the REAL decoded luma plane
    * (blockhash structure: 60 blocks of 4 pixels, bit = block mean above
    * image mean, compared as exact integers block_sum·60 > total_sum).
    * Reads the first 240 pixels row-major — the same fixed grid the write
    * side rendered, so near-identical sources → near-identical hashes and
    * the oracle can recompute the hash from the generator formula.
    */
  def phash60(img: BufferedImage): Long = {
    val w = img.getWidth
    val r = img.getRaster
    val px = new Array[Long](PhashPixels)
    var tot = 0L
    var i = 0
    while (i < PhashPixels) {
      val v = r.getSample(i % w, i / w, 0).toLong
      px(i) = v
      tot += v
      i += 1
    }
    var h = 0L
    var b = 0
    while (b < 60) {
      var s = 0L
      var j = 0
      while (j < 4) { s += px(b * 4 + j); j += 1 }
      if (s * 60 > tot) h |= (1L << b)
      b += 1
    }
    h
  }

  def phash60(a: MediaAsset): Long = phash60(decodeImage(a))
}

object MediaColumns {

  /** The narrow (doc_id, text) projection the codec passes consume, fanned
    * out to the session's parallelism when the SCAN itself is
    * under-parallel. The codec work (ImageIO encode + decode) is heavy
    * per-row compute; a small single-file parquet table yields ONE scan
    * task, serializing the whole codec pass on one core (guide §2.5 input
    * skew — measured 5/6 of each mm_* query's time at sf0.1/local[32]).
    * The repartition moves only the two narrow columns, and at real scale
    * the scan already has ≥ defaultParallelism splits so the branch is a
    * no-op — no payload shuffle is ever added on the 100 TB path.
    */
  private def fannedDocs(s: SparkSession, dir: String): Dataset[(Long, String)] = {
    import s.implicits._
    val base = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
    val p = s.sparkContext.defaultParallelism
    val fanned =
      if (base.rdd.getNumPartitions < p) base.repartition(p) else base
    fanned.as[(Long, String)]
  }

  /** The stored-blob column: real container bytes, encoded once in the
    * typed mapPartitions pass. In a production pipeline this is the
    * already-stored blob (encode cost paid at ingest, amortized); every op
    * below treats it as opaque binary and goes through the real decoder.
    */
  private def assets(s: SparkSession, dir: String): Dataset[MediaAsset] = {
    import s.implicits._
    fannedDocs(s, dir)
      .mapPartitions(_.map { case (id, t) => MediaCodec.encode(id, t) })
  }

  /** doc → REAL ImageIO-decoded metadata, via the typed mapPartitions
    * codec path.
    */
  def decodeMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    assets(s, dir)
      .mapPartitions(_.map(MediaCodec.decode))
      .toDF()
  }

  /** doc → pixel-derived feature vectors (8-dim `feat` array), via the
    * typed mapPartitions encoder path — the array-typed public API a
    * downstream consumer (e.g. [[graft.ann.Ann]]) would read.
    */
  def featureDs(s: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import s.implicits._
    assets(s, dir)
      .mapPartitions(_.map(MediaCodec.features))
  }

  /** DuckDB byte-k-of-md5 helper: envelope byte k as 0-255 int. */
  private def byteSql(k: Int): String =
    s"('0x' || substr(md5(text), ${2 * k + 1}, 2))::INT"

  /** DuckDB pixel-i helper (1-based): codepoint i of the text masked to 8
    * bits, space-padded — exactly [[MediaCodec.pixelBuf]].
    */
  private def pixelSql(i: Int): String =
    s"(CASE WHEN ${i} <= length(text) " +
      s"THEN unicode(substr(text, $i, 1)) % 256 ELSE 32 END)"

  val defs: Map[String, OpDef] = Map(
    // ---- #40 decode → metadata envelope ----------------------------------
    // fmt/width/height/n_frames come from the REAL ImageIO header parse of
    // the stored container bytes; the oracle reproduces them from the
    // deterministic write-side formulas (gif is Formats index 1).
    "mm_decode_meta" -> OpDef(
      s"""SELECT doc_id,
         |  ['png', 'gif', 'bmp'][${byteSql(0)} % 3 + 1] AS fmt,
         |  CAST(16 + ${byteSql(1)} % 64 AS INT) AS width,
         |  CAST(15 + ${byteSql(2)} % 64 AS INT) AS height,
         |  CAST(CASE WHEN ${byteSql(0)} % 3 = 1
         |       THEN ${byteSql(3)} % 16 + 1 ELSE 1 END AS INT) AS n_frames
         |FROM documents ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      decodeMeta(s, dir)
        .select("doc_id", "fmt", "width", "height", "n_frames")
        .orderBy("doc_id")
    },

    // ---- #41 frame sampling -----------------------------------------------
    // Video assets (fmt = gif, real multi-frame containers; n_frames is the
    // reader's actual getNumImages) explode into frame rows; every 4th
    // frame is sampled. posexplode keeps it a narrow op — no shuffle, and
    // the frame index plan is exactly what a real frame-extract UDF pass
    // consumes.
    "mm_frame_sample" -> OpDef(
      s"""WITH meta AS (
         |  SELECT doc_id,
         |    ['png', 'gif', 'bmp'][${byteSql(0)} % 3 + 1] AS fmt,
         |    ${byteSql(3)} % 16 + 1 AS n_frames
         |  FROM documents),
         |fr AS (
         |  SELECT doc_id, unnest(generate_series(0, n_frames - 1)) AS frame_idx
         |  FROM meta WHERE fmt = 'gif')
         |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
         |  CAST(frame_idx * 40 AS BIGINT) AS frame_ts_ms,
         |  md5(doc_id::VARCHAR || ':' || frame_idx::VARCHAR) AS frame_key
         |FROM fr WHERE frame_idx % 4 = 0
         |ORDER BY doc_id, frame_idx""".stripMargin
    ) { (s, dir) =>
      decodeMeta(s, dir)
        .filter(col("fmt") === "gif")
        .select(col("doc_id"),
          explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
        .filter(col("frame_idx") % 4 === 0)
        .select(col("doc_id"), col("frame_idx").cast(LongType).as("frame_idx"),
          (col("frame_idx") * 40).cast(LongType).as("frame_ts_ms"),
          md5(concat(col("doc_id").cast(StringType), lit(":"),
            col("frame_idx").cast(StringType))).as("frame_key"))
        .orderBy("doc_id", "frame_idx")
    },

    // ---- #76 resize plan (aspect-preserving fit into 224×224) -------------
    // Source geometry is the REAL decoded header's dimensions; the
    // target-geometry computation — what the batch resize UDF consumes — is
    // pure INTEGER arithmetic ((dim × 224) div long-side), so both engines
    // agree bit-for-bit with no rounding-mode traps. Narrow, zero shuffle.
    "mm_resize" -> OpDef(
      s"""WITH meta AS (
         |  SELECT doc_id,
         |    ['png', 'gif', 'bmp'][${byteSql(0)} % 3 + 1] AS fmt,
         |    16 + ${byteSql(1)} % 64 AS width,
         |    15 + ${byteSql(2)} % 64 AS height
         |  FROM documents)
         |SELECT doc_id, fmt,
         |  CAST(width AS INT) AS width, CAST(height AS INT) AS height,
         |  CAST(width * 224 // greatest(width, height) AS INT) AS out_w,
         |  CAST(height * 224 // greatest(width, height) AS INT) AS out_h
         |FROM meta WHERE fmt <> 'gif'
         |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      decodeMeta(s, dir)
        .filter(col("fmt") =!= "gif") // stills only; video goes to #41
        .select(col("doc_id"), col("fmt"), col("width"), col("height"),
          expr("CAST(width * 224 div greatest(width, height) AS INT)").as("out_w"),
          expr("CAST(height * 224 div greatest(width, height) AS INT)").as("out_h"))
        .orderBy("doc_id")
    },

    // ---- #77 feature extraction (real decoded pixels, real batch shape) ---
    // Typed mapPartitions: per-partition "model init", streaming iterator,
    // fixed-dim vector out — the exact plumbing a real encoder pass uses;
    // the vector is the first 8 REAL decoded luma samples normalized to
    // [0,1] (one IEEE-754 double division — bit-identical in both engines),
    // which the oracle reproduces from the deterministic scene. The 8 dims
    // are projected to scalar columns f0..f7 so the output is
    // comparator-hashable; real consumers take the array via `featureDs`.
    "mm_feature_extract" -> OpDef(
      ("""SELECT doc_id,
         |""" + (1 to 8).map(i => s"  ${pixelSql(i)} / 255.0 AS f${i - 1}")
              .mkString(",\n") + """
         |FROM documents ORDER BY doc_id""").stripMargin
    ) { (s, dir) =>
      featureDs(s, dir).toDF()
        .select(col("doc_id") +: (0 until 8).map(i => col("feat")(i).as(s"f$i")): _*)
        .orderBy("doc_id")
    },

    // ---- #253 perceptual-hash near-dup pairs -------------------------------
    // Image dedup's shape end to end: a 60-bit block-mean perceptual hash
    // (Zauner's blockhash structure — 60 blocks, bit = block mean above
    // image mean) computed from the REAL decoded luma plane in the typed
    // mapPartitions CODEC path (encode → ImageIO decode → hash; near-dup
    // "images" photograph near-dup texts, so the pair set is non-trivial),
    // then the EXACT #32 banding discipline: 3×20-bit pigeonhole bands
    // (radius-2 recall guaranteed), hot buckets capped, hamming filter
    // after the bucket join. The phash is integer-exact (block_sum·60 >
    // total_sum) over losslessly round-tripped pixels, so the whole
    // pipeline hash-matches the oracle.
    "mm_phash_pairs" -> OpDef(
      s"""WITH cp AS (
         |  SELECT doc_id, list_transform(generate_series(1, 240), i ->
         |    CASE WHEN i <= length(text)
         |         THEN unicode(substr(text, CAST(i AS INT), 1)) % 256
         |         ELSE 32 END) AS cs
         |  FROM documents),
         |h AS (
         |  SELECT doc_id,
         |    CAST(list_sum(list_transform(generate_series(0, 59), b ->
         |      CASE WHEN (cs[b*4+1] + cs[b*4+2] + cs[b*4+3] + cs[b*4+4]) * 60
         |                > list_sum(cs)
         |           THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS ph
         |  FROM cp),
         |bands AS (
         |  SELECT doc_id, ph, b, (ph >> (b * 20)) & 1048575 AS bkey
         |  FROM h, (SELECT unnest(generate_series(0, 2)) AS b)
         |  QUALIFY COUNT(*) OVER (PARTITION BY b, bkey)
         |    <= ${graft.dedup.Dedup.LshBucketCap})
         |SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.ph, c.ph)) AS BIGINT) AS hamming
         |FROM bands a JOIN bands c ON a.b = c.b AND a.bkey = c.bkey
         |WHERE a.doc_id < c.doc_id AND bit_count(xor(a.ph, c.ph)) <= 2
         |ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      val cap = graft.dedup.Dedup.lshBucketCap(s)
      val sig = fannedDocs(s, dir)
        .mapPartitions(_.map { case (id, t) =>
          (id, MediaCodec.phash60(MediaCodec.encode(id, t)))
        })
        .toDF("doc_id", "ph")
      val bandStructs = (0 until 3).map { b =>
        struct(lit(b).as("b"),
          shiftright(col("ph"), b * 20)
            .bitwiseAND(lit((1L << 20) - 1)).as("bkey"))
      }
      val bands = sig
        .select(col("doc_id"), col("ph"),
          explode(array(bandStructs: _*)).as("bb"))
        .select(col("doc_id"), col("ph"),
          col("bb.b").as("b"), col("bb.bkey").as("bkey"))
      val cold = bands.withColumn("_bs", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("b", "bkey")))
        .filter(col("_bs") <= cap).drop("_bs")
      val l = cold.select(col("b"), col("bkey"),
        col("doc_id").as("doc_a"), col("ph").as("ph_a"))
      val r = cold.select(col("b"), col("bkey"),
        col("doc_id").as("doc_b"), col("ph").as("ph_b"))
      l.join(r, Seq("b", "bkey"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "ph_a", "ph_b")
        .distinct()
        .withColumn("hamming",
          bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast(LongType))
        .filter(col("hamming") <= 2)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    }
  )
}
