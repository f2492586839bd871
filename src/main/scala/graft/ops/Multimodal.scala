package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns (north star): image/audio/video payloads as
  * opaque `binary` columns with typed metadata, plus a decode →
  * feature-extract → downsample pipeline.
  *
  * Image payloads are REAL BMPs — a pure-JVM codec ([[bmpEncode]] /
  * [[bmpDecode]]: 24-bpp, BITMAPFILEHEADER + BITMAPINFOHEADER,
  * bottom-up rows, 4-byte stride padding) — so the decode step for
  * images is an actual byte-format parse whose output the DuckDB
  * oracle reproduces from closed form (q_multimodal_decode). Audio and
  * video payloads keep the clearly-marked deterministic STUB decode
  * (the container has no audio/video codecs); the stub's pixel
  * arithmetic is dyadic-exact (`byte / 256`), which is what lets even
  * the stub pipeline hash-match an oracle. Batched `mapPartitions`
  * (the JVM analog of Arrow-batch UDFs), partition-count preservation,
  * and the feature schema are shared by both paths.
  *
  * Scale shape: payloads never pass through a shuffle here — decode
  * and featurize are narrow per-partition maps; only the small
  * feature vectors (not the blobs) flow into downstream joins/aggs.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. Image rows carry a
    * real BMP; audio/video carry UTF-8 bytes of `documents.text` with
    * deterministic fake decode parameters derived from n_chars. */
  case class Media(media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int, n_frames: Int)

  /** Decoded features per media item (one row per sampled frame). */
  case class FrameFeatures(media_id: Long, frame_idx: Int,
      mean_intensity: Double, n_pixels: Int)

  /** Per-image features of the real-decode path: order-insensitive
    * mean plus a position-weighted checksum that trips row-flip or
    * stride bugs the mean cannot see. */
  case class ImageFeatures(media_id: Long, mean_intensity: Double, checksum: Long)

  /** Features of the 2× nearest-neighbor downsampled image (T9 resize
    * stage). gray_sum is the raw integer intensity total — exact, so
    * no cross-engine rounding contract at all (the small resized
    * grids make a rounded mean land on .xxxxxx5 ties where Spark's
    * HALF_UP and DuckDB's rounding disagree; sf0.1 had exactly one). */
  case class ResizedFeatures(media_id: Long, out_w: Int, out_h: Int,
      gray_sum: Long, checksum: Long)

  // ---------- pure-JVM BMP codec ----------

  /** Stride of a 24-bpp BMP row: 3 bytes/pixel, rounded up to 4. */
  private[graft] def bmpStride(w: Int): Int = (w * 3 + 3) / 4 * 4

  /** Encode an 8-bit grayscale image as a real 24-bpp BMP (each
    * channel = gray value): 14-byte file header, 40-byte info header,
    * bottom-up rows, zero-padded stride. `gray(x, y)` is evaluated
    * top-down row-major and masked to a byte. */
  private[graft] def bmpEncode(w: Int, h: Int, gray: (Int, Int) => Int): Array[Byte] = {
    val stride = bmpStride(w)
    val dataSize = stride * h
    val buf = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(54 + dataSize) // file size
    buf.putInt(0)             // reserved
    buf.putInt(54)            // pixel-data offset
    buf.putInt(40)            // BITMAPINFOHEADER size
    buf.putInt(w)
    buf.putInt(h)             // positive height = bottom-up rows
    buf.putShort(1)           // color planes
    buf.putShort(24)          // bits per pixel
    buf.putInt(0)             // BI_RGB, uncompressed
    buf.putInt(dataSize)
    buf.putInt(2835)          // 72 DPI
    buf.putInt(2835)
    buf.putInt(0)             // palette size
    buf.putInt(0)             // important colors
    var y = h - 1
    while (y >= 0) {          // bottom-up
      var x = 0
      while (x < w) {
        val g = (gray(x, y) & 0xFF).toByte
        buf.put(g).put(g).put(g) // B, G, R
        x += 1
      }
      var pad = stride - 3 * w
      while (pad > 0) { buf.put(0.toByte); pad -= 1 }
      y -= 1
    }
    buf.array()
  }

  /** Decoded grayscale image, row-major TOP-DOWN (the decoder un-flips
    * the BMP's bottom-up storage). */
  private[graft] case class BmpImage(width: Int, height: Int, gray: Array[Byte])

  /** Parse a 24-bpp BMP; None on anything that isn't one (wrong
    * signature, bpp, or truncated payload) — the dispatch signal for
    * the stub fallback. */
  private[graft] def bmpDecode(payload: Array[Byte]): Option[BmpImage] = {
    if (payload.length < 54 || payload(0) != 'B' || payload(1) != 'M') return None
    val buf = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val dataOff = buf.getInt(10)
    val w = buf.getInt(18)
    val h = buf.getInt(22)
    val bpp = buf.getShort(28)
    if (bpp != 24 || w <= 0 || h <= 0 || dataOff < 54) return None
    val stride = bmpStride(w)
    if (payload.length < dataOff + stride.toLong * h) return None
    val gray = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      val row = dataOff + (h - 1 - y) * stride // un-flip bottom-up
      var x = 0
      while (x < w) {
        gray(y * w + x) = payload(row + x * 3) // blue channel
        x += 1
      }
      y += 1
    }
    Some(BmpImage(w, h, gray))
  }

  /** The deterministic image content: gray(x, y) of media m —
    * reproduced in closed form by the q_multimodal_decode and
    * q_multimodal_features oracles. */
  private def imagePixel(mediaId: Long, x: Int, y: Int): Int =
    ((x * 7 + y * 13 + mediaId) % 256).toInt

  private def imageDims(nChars: Int): (Int, Int) =
    (16 + nChars % 48, 16 + (nChars * 5) % 48)

  /** Harness media table — one documents scan. Image-kind docs are
    * encoded as real BMPs of [[imagePixel]] content; audio/video keep
    * text bytes + fake decode parameters (stub path). */
  def mediaTable(s: SparkSession, d: String): Dataset[Media] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("n_chars").cast("int").as("nc"))
      .as[(Long, String, Int)]
      .map { case (id, text, nc) =>
        nc % 3 match {
          case 1 =>
            val (w, h) = imageDims(nc)
            Media(id, "image", bmpEncode(w, h, (x, y) => imagePixel(id, x, y)), w, h, 1)
          case m =>
            val kind = if (m == 0) "video" else "audio"
            Media(id, kind, text.getBytes("UTF-8"),
              64 + nc % 640, 64 + (nc * 7) % 480, 1 + nc % 8)
        }
      }
  }

  /** STUB decode for formats with no pure-JVM codec (audio/video): a
    * real implementation would hand each batch to a codec (JNI/FFI);
    * frames are synthesized deterministically from payload bytes —
    * `pixel(f, i) = payload[(f + i) mod len] / 256`. The /256 (not
    * /255) keeps every pixel an exact dyadic float, so frame means are
    * exact in both engines and the stub pipeline hash-matches its
    * oracle. The batching, schema, and partition behavior are exactly
    * what a real decoder would use. */
  private[graft] def stubDecodeFrame(payload: Array[Byte], frameIdx: Int,
      nPixels: Int): Array[Float] = {
    val out = new Array[Float](nPixels)
    if (payload.isEmpty) return out // empty media → black frame, not % 0
    var i = 0
    while (i < nPixels) {
      out(i) = (payload((frameIdx + i) % payload.length) & 0xFF) / 256.0f
      i += 1
    }
    out
  }

  /** Decode + featurize, batched per partition: BMP payloads get the
    * real parse (one frame, full image); everything else falls back to
    * the stub, sampling every `frameStride`-th synthetic frame.
    * `batchSize` controls how many media rows are materialized at once
    * per partition — the Arrow-batch-shape knob. */
  def frameFeatures(media: Dataset[Media], frameStride: Int = 2,
      batchSize: Int = 64): Dataset[FrameFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { m =>
          bmpDecode(m.payload) match {
            case Some(img) =>
              val n = img.width * img.height
              var sum = 0.0
              var i = 0
              while (i < n) { sum += (img.gray(i) & 0xFF) / 256.0; i += 1 }
              Iterator.single(FrameFeatures(m.media_id, 0, sum / n, n))
            case None =>
              val nPixels = math.min(m.width * m.height, 4096)
              (0 until m.n_frames by frameStride).iterator.map { f =>
                val px = stubDecodeFrame(m.payload, f, nPixels)
                var sum = 0.0
                var i = 0
                while (i < px.length) { sum += px(i); i += 1 }
                FrameFeatures(m.media_id, f, sum / nPixels, nPixels)
              }
          }
        }
      }
    }
  }

  /** Real-decode features per image: mean plus the position-weighted
    * checksum Σ gray(i) · ((i mod 97) + 1) over top-down row-major
    * pixels — sensitive to row order and stride handling, so an
    * un-flip or padding bug in [[bmpDecode]] can't hide behind an
    * order-insensitive mean. */
  private def imageFeatures(media: Dataset[Media], batchSize: Int = 64): Dataset[ImageFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { m =>
          bmpDecode(m.payload).map { img =>
            val n = img.width * img.height
            var sum = 0.0
            var chk = 0L
            var i = 0
            while (i < n) {
              val g = img.gray(i) & 0xFF
              sum += g / 256.0
              chk += g.toLong * ((i % 97) + 1)
              i += 1
            }
            ImageFeatures(m.media_id, sum / n, chk)
          }.iterator
        }
      }
    }
  }

  /** Real-image resize (T9): decode → nearest-neighbor 2× downsample
    * (top-left of each 2×2, so pixel values stay integral and the
    * position-weighted checksum stays exact) → re-featurize, all
    * inside the batched map — pixels never become rows, payloads
    * never shuffle. The closed-form oracle reproduces the resized
    * grid as gray(2x, 2y) over (w/2, h/2). */
  private def resizedFeatures(media: Dataset[Media], batchSize: Int = 64): Dataset[ResizedFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { m =>
          bmpDecode(m.payload).map { img =>
            val ow = img.width / 2
            val oh = img.height / 2
            val n = ow * oh
            var sum = 0L
            var chk = 0L
            var i = 0
            while (i < n) {
              val x = i % ow
              val y = i / ow
              val g = img.gray((2 * y) * img.width + 2 * x) & 0xFF
              sum += g
              chk += g.toLong * ((i % 97) + 1)
              i += 1
            }
            ResizedFeatures(m.media_id, ow, oh, sum, chk)
          }.iterator
        }
      }
    }
  }

  def multimodalResize(s: SparkSession, d: String): DataFrame =
    resizedFeatures(mediaTable(s, d).filter(_.kind == "image")).toDF()
      .orderBy(col("media_id"))

  /** 2×2 average-pool "resize" over a decoded frame — pure kernel,
    * used inside the batched map (no per-pixel rows ever hit the
    * engine). */
  private[graft] def poolHalf(px: Array[Float], w: Int, h: Int): Array[Float] = {
    val ow = w / 2
    val oh = h / 2
    val out = new Array[Float](ow * oh)
    var y = 0
    while (y < oh) {
      var x = 0
      while (x < ow) {
        val i0 = (2 * y) * w + 2 * x
        val i1 = i0 + 1
        val i2 = i0 + w
        val i3 = i2 + 1
        out(y * ow + x) = (px(i0) + px(i1) + px(i2) + px(i3)) / 4.0f
        x += 1
      }
      y += 1
    }
    out
  }

  /** Little-endian uint32 read from a binary column at 1-based byte
    * offset — binary header fields parsed RELATIONALLY (substring →
    * hex → conv), no UDF, fully codegen'd. */
  private def leInt(bin: Column, off: Int): Column =
    (0 until 4).map { k =>
      conv(hex(substring(bin, off + k, 1)), 16, 10).cast("long") * lit(1L << (8 * k))
    }.reduce(_ + _).cast("int")

  /** Binary-column metadata catalog of [[mediaTable]] — fully
    * relational: payload sizes (closed-form for the BMP rows), source
    * content hash, and the decode parameters each kind advertises. */
  def multimodalMeta(s: SparkSession, d: String): DataFrame = {
    val nc = col("n_chars")
    val isImage = pmod(nc, lit(3)) === 1
    val wb = (lit(16) + pmod(nc, lit(48))).cast("int")
    val hb = (lit(16) + pmod(nc * 5, lit(48))).cast("int")
    val stride = floor((wb * 3 + lit(3)) / 4) * 4
    Tables.documents(s, d)
      .select(
        col("doc_id").as("media_id"),
        when(isImage, (lit(54) + hb * stride).cast("int"))
          .otherwise(length(encode(col("text"), "UTF-8"))).as("n_bytes"),
        sha2(encode(col("text"), "UTF-8"), 256).as("content_hash"),
        when(isImage, wb)
          .otherwise((lit(64) + pmod(nc, lit(640))).cast("int")).as("width"),
        when(isImage, hb)
          .otherwise((lit(64) + pmod(nc * 7, lit(480))).cast("int")).as("height"),
        when(isImage, lit(1))
          .otherwise((lit(1) + pmod(nc, lit(8))).cast("int")).as("n_frames"),
        when(pmod(nc, lit(3)) === 0, "video")
          .when(isImage, "image")
          .otherwise("audio").as("kind"))
      .orderBy(col("media_id"))
  }

  /** The real-decode round trip, oracle-checked end to end: BMPs are
    * encoded by [[mediaTable]], their headers parsed back RELATIONALLY
    * ([[leInt]] on the binary column), their pixels parsed back in the
    * typed batched map — while DuckDB recomputes width/height/n_bytes/
    * mean/checksum from n_chars and the [[imagePixel]] closed form. A
    * wrong stride, a forgotten bottom-up un-flip, or a bad header
    * offset each breaks a different column. The media table feeds two
    * structurally different consumers (relational header parse, typed
    * pixel decode — no exchange to reuse), so it's materialized once
    * via an eager localCheckpoint, whose blocks the ContextCleaner
    * reclaims with the plan — nothing registers in the CacheManager. */
  def multimodalDecode(s: SparkSession, d: String): DataFrame = {
    val imgs = mediaTable(s, d).filter(_.kind == "image").localCheckpoint()
    val header = imgs.toDF().select(
      col("media_id"),
      length(col("payload")).as("n_bytes"),
      leInt(col("payload"), 19).as("width"),  // biWidth at byte offset 18
      leInt(col("payload"), 23).as("height")) // biHeight at byte offset 22
    header.join(imageFeatures(imgs).toDF()
        .withColumn("mean_intensity", round(col("mean_intensity"), 6)),
        Seq("media_id"))
      .orderBy(col("media_id"))
  }

  /** Aggregated features per media item — the relational face of the
    * typed pipeline over ALL kinds: real BMP decode for images, stub
    * frames for audio/video. Dyadic-exact pixel arithmetic makes even
    * the stub means hash-comparable. */
  def multimodalFeatures(s: SparkSession, d: String): DataFrame = {
    frameFeatures(mediaTable(s, d)).toDF()
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_sampled_frames"),
        round(avg(col("mean_intensity")), 6).as("avg_intensity"))
      .orderBy(col("media_id"))
  }

  /** Video frame EXTRACTION as pure byte-range slicing (T9 family):
    * every 2nd frame of each video payload is cut out of the binary
    * column by offset arithmetic (`substring` on BinaryType — no
    * decode at all) and fingerprinted with md5. This is the shape a
    * real container format demands at 100 TB — frame boundaries come
    * from header metadata, the slice is a narrow per-row op on the
    * local payload bytes, and only (id, idx, len, digest) rows —
    * never the blobs — leave the scan. The stub "container" divides
    * the payload into n_frames equal byte ranges; md5 crosses the
    * oracle because the payloads are the documents' ASCII bytes, so
    * DuckDB (whose BLOB lacks substring/md5 in this build) slices the
    * same bytes as VARCHAR — TESTDATA-verified byte==char at every
    * SF. */
  /** Perceptual hash of one image: aHash bits over an 8×8
    * nearest-neighbor sample grid, packed as four 16-bit band keys.
    * All integer arithmetic (bit i set iff sample·64 > Σsamples), so
    * the hash is bit-reproducible from the closed-form pixel model. */
  case class ImageHash(media_id: Long, b0: Int, b1: Int, b2: Int, b3: Int)

  /** aHash per image, inside the batched decode map — pixels never
    * become rows; only (id, 4×16-bit keys) leaves the scan. */
  private[graft] def imageHashes(media: Dataset[Media],
      batchSize: Int = 64): Dataset[ImageHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { m =>
          bmpDecode(m.payload).map { img =>
            val s = new Array[Int](64)
            var sum = 0L
            var i = 0
            while (i < 64) {
              val x = (i % 8) * img.width / 8
              val y = (i / 8) * img.height / 8
              val g = img.gray(y * img.width + x) & 0xFF
              s(i) = g
              sum += g
              i += 1
            }
            val bands = new Array[Int](4)
            i = 0
            while (i < 64) {
              if (s(i) * 64L > sum) bands(i / 16) |= 1 << (i % 16)
              i += 1
            }
            ImageHash(m.media_id, bands(0), bands(1), bands(2), bands(3))
          }.iterator
        }
      }
    }
  }

  /** Near-dup pair threshold: Hamming ≤ 3 over the 64 aHash bits. By
    * pigeonhole, any pair within 3 bits agrees EXACTLY on at least one
    * of the four 16-bit bands — so the band equi-join below has 100%
    * recall at this radius (the SimHash Hamming-band argument applied
    * to images). */
  private[graft] val ImageHamMax = 3

  /** Perceptual-hash image dedup (r8, closing the one LLM-pipeline
    * modality without a near-dup path): decode → aHash in the batched
    * map, then candidates = a band-keyed EQUI self-join (one of four
    * 16-bit keys must collide — never all-pairs; at 100 TB the band
    * key is the shuffle key and bucket sizes bound candidates exactly
    * like the text SimHash family), verified by the exact 64-bit
    * Hamming distance via xor + bit_count over the four band words,
    * deduped on (a, b) since a close pair can collide in several
    * bands. The synthetic pixel model makes the whole hash derivable
    * relationally, so the oracle replays it in closed form. */
  def dedupImageCore(media: Dataset[Media]): DataFrame = {
    val h = imageHashes(media).toDF()
    val withBands = h.select(col("media_id"),
      col("b0"), col("b1"), col("b2"), col("b3"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("band", "key")))
    val l = withBands.select(col("band"), col("key"),
      col("media_id").as("media_a"), col("b0").as("a0"),
      col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
    val r = withBands.select(col("band"), col("key"),
      col("media_id").as("media_b"), col("b0").as("c0"),
      col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    val hamming =
      bit_count(col("a0").bitwiseXOR(col("c0"))) +
        bit_count(col("a1").bitwiseXOR(col("c1"))) +
        bit_count(col("a2").bitwiseXOR(col("c2"))) +
        bit_count(col("a3").bitwiseXOR(col("c3")))
    l.join(r, Seq("band", "key"))
      .filter(col("media_a") < col("media_b"))
      .select(col("media_a"), col("media_b"), hamming.cast("int").as("hamming"))
      .filter(col("hamming") <= ImageHamMax)
      .distinct()
      .orderBy(col("media_a"), col("media_b"))
  }

  def dedupImage(s: SparkSession, d: String): DataFrame =
    dedupImageCore(mediaTable(s, d).filter(_.kind == "image"))

  def multimodalFrames(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d).toDF()
      .filter(col("kind") === "video")
      .select(col("media_id"), col("payload"), col("n_frames"),
        expr("length(payload) div n_frames").cast("int").as("frame_len"))
      .filter(col("frame_len") > 0)
      .select(col("media_id"), col("payload"), col("frame_len"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(2))).as("frame_idx"))
      .select(col("media_id"), col("frame_idx"), col("frame_len"),
        md5(expr("substring(payload, frame_idx * frame_len + 1, frame_len)"))
          .as("frame_md5"))
      .orderBy(col("media_id"), col("frame_idx"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_multimodal_frames"   -> multimodalFrames,
    "q_multimodal_meta"     -> multimodalMeta,
    "q_multimodal_decode"   -> multimodalDecode,
    "q_multimodal_features" -> multimodalFeatures,
    "q_multimodal_resize"   -> multimodalResize,
    "q_dedup_image"         -> dedupImage,
  )

  val oracles: Map[String, String] = Map(
    // the aHash replayed in closed form from the synthetic pixel
    // model: the same 8×8 floor-div sample grid, the same integer
    // bit rule (sample·64 > Σ), the same 16-bit band packing, the
    // same band equi-join + xor/bit_count Hamming verify
    "q_dedup_image" ->
      """WITH d AS (SELECT doc_id AS media_id, CAST(n_chars AS INT) AS nc
             FROM documents WHERE n_chars % 3 = 1),
         g AS (SELECT media_id, 16 + nc % 48 AS w, 16 + (nc * 5) % 48 AS h
               FROM d),
         sm AS (SELECT media_id, list_transform(range(0, 64),
                  i -> CAST(((((i % 8) * w) // 8) * 7
                    + (((i // 8) * h) // 8) * 13 + media_id) % 256 AS BIGINT)) AS s
                FROM g),
         hb AS (SELECT media_id, s, list_aggregate(s, 'sum') AS tot FROM sm),
         bw AS (SELECT media_id, list_transform(range(0, 4), j ->
                  CAST(list_aggregate(list_transform(range(0, 16),
                    t -> CASE WHEN s[j * 16 + t + 1] * 64 > tot
                         THEN 1 << t ELSE 0 END), 'sum') AS BIGINT)) AS ks
                FROM hb),
         kb AS (SELECT media_id, ks, band, ks[band + 1] AS key FROM (
                  SELECT media_id, ks, unnest(range(0, 4)) AS band FROM bw)),
         p AS (SELECT a.media_id AS media_a, b.media_id AS media_b,
                 CAST(bit_count(xor(a.ks[1], b.ks[1]))
                   + bit_count(xor(a.ks[2], b.ks[2]))
                   + bit_count(xor(a.ks[3], b.ks[3]))
                   + bit_count(xor(a.ks[4], b.ks[4])) AS INT) AS hamming
               FROM kb a JOIN kb b
                 ON a.band = b.band AND a.key = b.key
                 AND a.media_id < b.media_id)
         SELECT DISTINCT media_a, media_b, hamming
         FROM p WHERE hamming <= 3
         ORDER BY media_a, media_b""",
    // byte==char on this ASCII corpus, so VARCHAR substr slices the
    // same bytes the engine cuts from the BinaryType payload
    "q_multimodal_frames" ->
      """WITH v AS (SELECT doc_id AS media_id, text,
           length(text) AS n_bytes, 1 + n_chars % 8 AS n_frames
           FROM documents WHERE n_chars % 3 = 0),
         f AS (SELECT media_id, text,
           CAST(n_bytes // n_frames AS INT) AS frame_len,
           unnest(range(0, n_frames, 2)) AS frame_idx FROM v)
         SELECT media_id, CAST(frame_idx AS INT) AS frame_idx, frame_len,
           md5(substring(text, CAST(frame_idx * frame_len + 1 AS INT),
             frame_len)) AS frame_md5
         FROM f WHERE frame_len > 0
         ORDER BY media_id, frame_idx""",
    // the catalog: image rows advertise the BMP's real parameters
    // (dims, closed-form file size), audio/video the stub's synthetic
    // ones; content hash is always of the SOURCE text
    "q_multimodal_meta" ->
      """SELECT doc_id AS media_id,
         CAST(CASE WHEN n_chars % 3 = 1
              THEN 54 + (16 + (n_chars * 5) % 48) * (((16 + n_chars % 48) * 3 + 3) // 4 * 4)
              ELSE octet_length(encode(text)) END AS INT) AS n_bytes,
         sha256(text) AS content_hash,
         CAST(CASE WHEN n_chars % 3 = 1 THEN 16 + n_chars % 48
              ELSE 64 + n_chars % 640 END AS INT) AS width,
         CAST(CASE WHEN n_chars % 3 = 1 THEN 16 + (n_chars * 5) % 48
              ELSE 64 + (n_chars * 7) % 480 END AS INT) AS height,
         CAST(CASE WHEN n_chars % 3 = 1 THEN 1
              ELSE 1 + n_chars % 8 END AS INT) AS n_frames,
         CASE WHEN n_chars % 3 = 0 THEN 'video'
              WHEN n_chars % 3 = 1 THEN 'image' ELSE 'audio' END AS kind
         FROM documents ORDER BY media_id""",
    // closed-form reproduction of the BMP round trip: dims and file
    // size from n_chars, mean and position-weighted checksum from the
    // imagePixel formula over top-down row-major pixel indices
    "q_multimodal_decode" ->
      """WITH d AS (
           SELECT doc_id AS media_id, CAST(n_chars AS INT) AS nc FROM documents
           WHERE n_chars % 3 = 1),
         dims AS (
           SELECT media_id, 16 + nc % 48 AS w, 16 + (nc * 5) % 48 AS h FROM d)
         SELECT media_id,
           CAST(54 + h * ((w * 3 + 3) // 4 * 4) AS INT) AS n_bytes,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           round(list_aggregate(list_transform(range(0, w * h),
             i -> (((i % w) * 7 + (i // w) * 13 + media_id) % 256) / 256.0), 'avg'), 6)
             AS mean_intensity,
           CAST(list_aggregate(list_transform(range(0, w * h),
             i -> (((i % w) * 7 + (i // w) * 13 + media_id) % 256) * ((i % 97) + 1)), 'sum')
             AS BIGINT) AS checksum
         FROM dims ORDER BY media_id""",
    // the resized grid in closed form: pixel (x, y) of the output is
    // imagePixel(2x, 2y); mean and checksum re-derive over (w/2, h/2)
    "q_multimodal_resize" ->
      """WITH d AS (
           SELECT doc_id AS media_id, CAST(n_chars AS INT) AS nc FROM documents
           WHERE n_chars % 3 = 1),
         o AS (
           SELECT media_id, (16 + nc % 48) // 2 AS ow, (16 + (nc * 5) % 48) // 2 AS oh FROM d)
         SELECT media_id,
           CAST(ow AS INT) AS out_w,
           CAST(oh AS INT) AS out_h,
           CAST(list_aggregate(list_transform(range(0, ow * oh),
             i -> ((((i % ow) * 2) * 7 + ((i // ow) * 2) * 13 + media_id) % 256)), 'sum')
             AS BIGINT) AS gray_sum,
           CAST(list_aggregate(list_transform(range(0, ow * oh),
             i -> ((((i % ow) * 2) * 7 + ((i // ow) * 2) * 13 + media_id) % 256) * ((i % 97) + 1)), 'sum')
             AS BIGINT) AS checksum
         FROM o ORDER BY media_id""",
    // both decode paths in closed form: images = mean of imagePixel
    // over the single real frame; audio/video = mean over sampled stub
    // frames of text-byte pixels (ASCII corpus: char position = byte
    // position; nPixels = min(w*h, 4096) = 4096 since w,h >= 64; /256.0
    // keeps every term dyadic-exact so the averages match bit-for-bit)
    "q_multimodal_features" ->
      """WITH d AS (
           SELECT doc_id AS media_id, text, CAST(n_chars AS INT) AS nc FROM documents)
         SELECT media_id,
           CAST(CASE WHEN nc % 3 = 1 THEN 1
                ELSE ((1 + nc % 8) + 1) // 2 END AS BIGINT) AS n_sampled_frames,
           round(CASE WHEN nc % 3 = 1 THEN
             list_aggregate(list_transform(range(0, (16 + nc % 48) * (16 + (nc * 5) % 48)),
               i -> (((i % (16 + nc % 48)) * 7 + (i // (16 + nc % 48)) * 13 + media_id) % 256) / 256.0), 'avg')
           ELSE
             list_aggregate(list_transform(range(0, 1 + nc % 8, 2), f ->
               list_aggregate(list_transform(range(0, 4096),
                 i -> ord(substr(text, ((f + i) % nc) + 1, 1)) / 256.0), 'avg')), 'avg')
           END, 6) AS avg_intensity
         FROM d ORDER BY media_id""",
  )
}
