package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, RowsOnly, Tables}
import graft.operators.Dedup

/** Real image codec on the JDK's built-in PNG support (javax.imageio —
  * no extra dependency). The testdata has no image files, so each
  * document's payload bytes are first rendered into a real tiny PNG
  * (deterministically, losslessly), then decoded back to pixels; the
  * feature step runs on ACTUAL decoded pixel values, exercising the
  * same per-task codec path a production image pipeline uses. */
object ImageCodec {
  ImageIO.setUseCache(false) // in-memory streams only; never spill to disk in a task

  /** Deterministic tiny RGB image from payload bytes: dimensions from
    * the payload/doc key, pixel (x,y) channels are three consecutive
    * payload bytes (wrapped). PNG is lossless, so the decoder sees
    * exactly these values — the golden-pixel spec relies on that. */
  def encodePng(docId: Long, payload: Array[Byte]): Array[Byte] = {
    val w = (payload.length % 24) + 8
    val h = ((docId % 16) + 8).toInt
    val n = math.max(payload.length, 1)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = (y * w + x) * 3
        def b(j: Int): Int = if (payload.isEmpty) 0 else payload(j % n) & 0xff
        img.setRGB(x, y, (b(i) << 16) | (b(i + 1) << 8) | b(i + 2))
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** 64-bit difference hash (dHash) from the REAL decoded pixels:
    * average-pool luminance into a 9×8 grid, bit (y,x) = grid cell
    * brighter than its right neighbor. Returned as 4 × 16-bit
    * non-negative Int chunks (same sign-safe carriage as the text
    * SimHash in Dedup.scala — a single BIGINT with bit 63 set would
    * go negative) so the chunks double as multi-index block keys.
    * Integer accumulation only ⇒ bit-exact across JVMs. */
  def dhash(png: Array[Byte]): Array[Int] = {
    val img = ImageIO.read(new ByteArrayInputStream(png))
    val w = img.getWidth
    val h = img.getHeight
    val acc = Array.ofDim[Long](8, 9)
    val cnt = Array.ofDim[Int](8, 9)
    var y = 0
    while (y < h) {
      val gy = y * 8 / h
      var x = 0
      while (x < w) {
        val gx = x * 9 / w
        val rgb = img.getRGB(x, y)
        acc(gy)(gx) += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        cnt(gy)(gx) += 1
        x += 1
      }
      y += 1
    }
    val out = new Array[Int](4)
    var i = 0
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        // compare mean luminance as exact cross-multiplied integers
        val l = acc(gy)(gx) * math.max(cnt(gy)(gx + 1), 1)
        val r = acc(gy)(gx + 1) * math.max(cnt(gy)(gx), 1)
        if (l > r) out(i / 16) |= 1 << (i % 16)
        i += 1
        gx += 1
      }
      gy += 1
    }
    out
  }

  /** Real decode (JDK PNG reader) → width, height, and 8 vertical-band
    * mean-luminance features from the decoded pixels. Accumulation
    * order is fixed (row-major), so the floats are deterministic. */
  def decode(png: Array[Byte]): (Int, Int, Array[Float]) = {
    val img = ImageIO.read(new ByteArrayInputStream(png))
    val w = img.getWidth
    val h = img.getHeight
    val f = new Array[Float](8)
    val cnt = new Array[Int](8)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        val band = x * 8 / w
        f(band) += lum / 765.0f
        cnt(band) += 1
        x += 1
      }
      y += 1
    }
    var i = 0
    while (i < 8) { if (cnt(i) > 0) f(i) /= cnt(i); i += 1 }
    (w, h, f)
  }
}

/** §2 G — multimodal columns: media as opaque `binary` + typed
  * metadata. Decode is REAL (JDK `javax.imageio` PNG codec — see
  * [[ImageCodec]]); the testdata has no stored images, so the stored
  * binary is synthesized from the document payload first, then decoded
  * back through the actual codec inside the per-partition batch stage.
  */
object Media {

  /** The magic-byte sniff over a documents frame: the payload's
    * leading byte picks the mime class. */
  private def sniffMime: Column =
    when(ascii(substring(col("text"), 1, 1)).between(97, 104), "image/fake-png")
      .when(ascii(substring(col("text"), 1, 1)).between(105, 112), "audio/fake-wav")
      .when(ascii(substring(col("text"), 1, 1)).between(113, 120), "video/fake-mp4")
      .otherwise("text/plain")

  /** g1 — binary column + magic-byte sniff + typed metadata. The
    * binary payload is the utf-8 encoded text (stands in for image
    * bytes); sniffing reads the leading byte exactly as a real
    * magic-number probe would. */
  def qMultimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"), col("n_chars"), col("text"))
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .withColumn("nbytes", length(col("payload")).cast("int"))
      .withColumn("mime", sniffMime)
      .withColumn("width", col("n_chars") % 640 + 16)
      .withColumn("height", (col("doc_id") % 480 + 16))
      .withColumn("frames", col("n_chars") % 24 + 1)
      .select("doc_id", "nbytes", "mime", "width", "height", "frames")
      .orderBy("doc_id")
  }

  val qMultimodalMetaSql: String =
    """SELECT doc_id,
        CAST(octet_length(encode(text)) AS INT) AS nbytes,
        CASE WHEN ascii(substr(text, 1, 1)) BETWEEN 97 AND 104 THEN 'image/fake-png'
             WHEN ascii(substr(text, 1, 1)) BETWEEN 105 AND 112 THEN 'audio/fake-wav'
             WHEN ascii(substr(text, 1, 1)) BETWEEN 113 AND 120 THEN 'video/fake-mp4'
             ELSE 'text/plain' END AS mime,
        n_chars % 640 + 16 AS width,
        doc_id % 480 + 16 AS height,
        n_chars % 24 + 1 AS frames
      FROM documents ORDER BY doc_id"""

  /** g14 — `q_media_geo`: the GEOTAGGED-MEDIA heatmap a geo platform
    * serves off its media catalog (the reference IS a geohub — its
    * uploads carry coordinates; g1's catalog joined to B's tile grid
    * is the map-page readout "what media sits on this tile"): each
    * media object synthesizes its EXIF-style GPS point with the
    * B-family's integer-hash coordinate derivation (same bit-exact
    * lon/lat discipline as Synth, keyed on doc_id), lands on the z=6
    * WebMercator grid via the SHARED tile template strings, and ONE
    * (tile, mime) agg yields per-tile media counts + byte mass.
    * Map-only to the agg; the tile key strings are the same text both
    * engines execute (b3's exactness argument). */
  def qMediaGeo(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    d.select(col("doc_id"), col("n_chars"), col("text"))
      .withColumn("mime", sniffMime)
      .withColumn("nbytes", length(encode(col("text"), "UTF-8")).cast("long"))
      .withColumn("lon", expr("CAST(doc_id * 2654435761 % 360000 AS DOUBLE) / 1000.0 - 180.0"))
      .withColumn("lat", expr("CAST(doc_id * 1327217873 % 170000 AS DOUBLE) / 1000.0 - 85.0"))
      .withColumn("xt", expr(graft.operators.GeoOps.tileXS("lon", 64)))
      .withColumn("yt", expr(graft.operators.GeoOps.tileYS("lat", 64)))
      .groupBy("xt", "yt", "mime")
      .agg(count(lit(1)).as("n_media"), sum("nbytes").as("total_bytes"))
      .orderBy("xt", "yt", "mime")
  }

  val qMediaGeoSql: String =
    s"""WITH m AS (
        SELECT doc_id,
          CASE WHEN ascii(substr(text, 1, 1)) BETWEEN 97 AND 104 THEN 'image/fake-png'
               WHEN ascii(substr(text, 1, 1)) BETWEEN 105 AND 112 THEN 'audio/fake-wav'
               WHEN ascii(substr(text, 1, 1)) BETWEEN 113 AND 120 THEN 'video/fake-mp4'
               ELSE 'text/plain' END AS mime,
          CAST(octet_length(encode(text)) AS BIGINT) AS nbytes,
          CAST(doc_id * 2654435761 % 360000 AS DOUBLE) / 1000.0 - 180.0 AS lon,
          CAST(doc_id * 1327217873 % 170000 AS DOUBLE) / 1000.0 - 85.0 AS lat
        FROM documents),
      t AS (
        SELECT mime, nbytes,
          ${graft.operators.GeoOps.tileXS("lon", 64)} AS xt,
          ${graft.operators.GeoOps.tileYS("lat", 64)} AS yt
        FROM m)
      SELECT xt, yt, mime, COUNT(*) AS n_media,
        CAST(SUM(nbytes) AS BIGINT) AS total_bytes
      FROM t GROUP BY xt, yt, mime ORDER BY xt, yt, mime"""

  // ---------------------------------------------------------------
  // g2 — media batch pipeline (rows-only check; exercised in tests).
  // ---------------------------------------------------------------

  /** One decoded media item: real decoded dimensions + pixel-derived
    * feature vector, plus the encoded byte size. */
  case class MediaFeatures(doc_id: Long, mime: String, nbytes: Int,
      width: Int, height: Int, features: Array[Float])

  /** g2 — per-partition batch decode: binary in, fixed-width feature
    * vectors out, through the REAL JDK PNG codec. Each payload is
    * rendered to an actual PNG (stand-in for the stored image bytes),
    * then `ImageIO`-decoded back to pixels and reduced to 8 luminance
    * bands. mapPartitions keeps codec state per task (the way a real
    * decoder amortizes init cost) and the output schema is explicit so
    * downstream ops stay columnar. The feature vector is flattened to
    * scalar f0..f7 columns (rounded) in the dumped result so the
    * driver's rows-only check can sort it — an `array<float>` column
    * is unhashable for pandas sort_values. */
  def qMediaPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables(spark, dir, "documents")
    // codec work is CPU-per-row, not bytes: fan the one-row-group scan
    // out so every core runs a decoder (no-op on a multi-split scan)
    val src = Tables.fanout(d.select(col("doc_id"), col("text")))
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
    val decoded = src.mapPartitions { it =>
      it.map { case (id, payload) =>
        val png = ImageCodec.encodePng(id, payload)
        val (w, h, feats) = ImageCodec.decode(png)
        MediaFeatures(id, "image/png", png.length, w, h, feats)
      }
    }.toDF()
    val flat = (0 until 8).map(i =>
      round(element_at(col("features"), i + 1).cast("double"), 5).as(s"f$i"))
    decoded.select(Seq(col("doc_id"), col("mime"), col("nbytes"),
        col("width"), col("height")) ++ flat: _*)
      .orderBy("doc_id")
  }

  /** One decoded item from a planned decode batch: g2's features plus
    * the g5 batch it was decoded in. */
  case class BatchedMediaFeatures(doc_id: Long, batch_id: Long,
      batch_items: Int, nbytes: Int, width: Int, height: Int,
      features: Array[Float])

  /** g6 — g2's decode driven by g5's PLANNED BATCHES (the contract the
    * two ops were designed around, now demonstrated end-to-end):
    * the g5 running-sum packing assigns each image a bounded-bytes
    * batch_id; rows then repartition on (mime, batch_id) and sort
    * within partitions so each batch's payloads are CONSECUTIVE, and
    * the mapPartitions decode stage consumes one whole batch per
    * iteration — the shape a GPU/codec worker wants (bounded bytes per
    * call, one decoder session per batch, batch size amortizing init).
    * Decoded values are identical to per-row g2 (spec-asserted);
    * batch_id/batch_items are identical to g5's plan for the image
    * mime. Restricted to the image mime — g5 plans per-mime batches
    * and each mime would dispatch to its own decoder. Rows-only check
    * (codec round-trip, like g2); MediaSpec golden-pixel gates it. */
  def qMediaBatched(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val budget = 4096L // same bounded-bytes budget as g5
    val d = Tables(spark, dir, "documents")
    val isImage = ascii(substring(col("text"), 1, 1)).between(97, 104)
    // the EXACT g5 packing cumsum (two-phase keyed prefix sum — see
    // qDecodeBatches), restricted to the image mime — batch ids here
    // must equal g5's plan rows
    val planned = graft.operators.TwoPhase.globalCumSumByKey(
        d.filter(isImage)
          .select(col("doc_id"), lit("image/fake-png").as("mime"),
            encode(col("text"), "UTF-8").as("payload"))
          .withColumn("nbytes", length(col("payload")).cast("long")),
        Seq(col("mime")), Seq(col("doc_id")), col("nbytes"), "cum")
      .withColumn("batch_id", expr(s"(cum - 1) div $budget").cast("long"))
    // co-locate each batch and make its rows consecutive: the decode
    // stage's unit of work is the batch, not the row
    val src = planned.repartition(col("batch_id"))
      .sortWithinPartitions("batch_id", "doc_id")
      .select(col("batch_id"), col("doc_id"), col("payload"))
      .as[(Long, Long, Array[Byte])]
    val decoded = src.mapPartitions { it =>
      val buf = it.buffered
      // consecutive same-batch_id runs → one decoded batch per pull
      val batches = new Iterator[Seq[(Long, Long, Array[Byte])]] {
        def hasNext: Boolean = buf.hasNext
        def next(): Seq[(Long, Long, Array[Byte])] = {
          val bid = buf.head._1
          val b = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Array[Byte])]
          while (buf.hasNext && buf.head._1 == bid) b += buf.next()
          b.toSeq
        }
      }
      batches.flatMap { batch =>
        val n = batch.size
        batch.map { case (bid, id, payload) =>
          val png = ImageCodec.encodePng(id, payload)
          val (wid, hei, feats) = ImageCodec.decode(png)
          BatchedMediaFeatures(id, bid, n, png.length, wid, hei, feats)
        }
      }
    }.toDF()
    val flat = (0 until 8).map(i =>
      round(element_at(col("features"), i + 1).cast("double"), 5).as(s"f$i"))
    decoded.select(Seq(col("doc_id"), col("batch_id"), col("batch_items"),
        col("nbytes"), col("width"), col("height")) ++ flat: _*)
      .orderBy("doc_id")
  }

  /** g3 — frame-sampling plan: each video contributes ≤ 8 evenly
    * spaced frames (the standard "sample k frames for the vision
    * encoder" step); per-frame timestamps at 24 fps in integer ms.
    * Pure arithmetic fan-out — the decode of each sampled frame would
    * slot into the g2 mapPartitions stage. */
  def qFrameSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val isVideo = ascii(substring(col("text"), 1, 1)).between(113, 120)
    d.filter(isVideo)
      .select(col("doc_id"), (col("n_chars") % 24 + 1).cast("int").as("frames"))
      .withColumn("step", expr("(frames + 7) div 8").cast("int"))
      .withColumn("frame_idx", explode(expr("sequence(0, frames - 1, step)")))
      .withColumn("ts_ms", expr("(CAST(frame_idx AS BIGINT) * 1000) div 24"))
      .select("doc_id", "frames", "frame_idx", "ts_ms")
      .orderBy("doc_id", "frame_idx")
  }

  val qFrameSampleSql: String =
    """WITH v AS (
        SELECT doc_id, CAST(n_chars % 24 + 1 AS INT) AS frames
        FROM documents WHERE ascii(substr(text, 1, 1)) BETWEEN 113 AND 120),
      s AS (SELECT doc_id, frames, CAST((frames + 7) // 8 AS INT) AS step FROM v),
      x AS (SELECT doc_id, frames, CAST(unnest(generate_series(0, frames - 1, step)) AS INT) AS frame_idx FROM s)
      SELECT doc_id, frames, frame_idx,
        CAST(CAST(frame_idx AS BIGINT) * 1000 // 24 AS BIGINT) AS ts_ms
      FROM x ORDER BY doc_id, frame_idx"""

  /** g4 — letterbox resize plan to a 224×224 encoder input: integer
    * rational arithmetic only (scale = 224/max(w,h) applied as
    * multiply-then-div) so both engines agree exactly; pad centers
    * the short side. */
  /** g13 — scrub-preview STORYBOARD plan (the sprite sheet every
    * video platform pre-renders so the player can scrub without
    * decoding: g3's sampled frames laid out on a fixed-tile grid):
    * per video, each of g3's ≤8 sampled frames (same step/timestamp
    * algebra verbatim) takes a 160×90 tile at (col = k % 4 · 160,
    * row = k div 4 · 90) on a 4-wide sheet whose height is
    * ceil(n_samples / 4) rows — all closed-form integer floors off
    * the bounded per-video sample explode (≤8 rows per video, b11's
    * layout-planning shape for media); `k` is the SAMPLE ordinal
    * (frame_idx div step), so the layout is independent of which
    * frames the sampler picked. Map + bounded explode, no joins. */
  def qStoryboard(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val isVideo = ascii(substring(col("text"), 1, 1)).between(113, 120)
    d.filter(isVideo)
      .select(col("doc_id"), (col("n_chars") % 24 + 1).cast("int").as("frames"))
      .withColumn("step", expr("(frames + 7) div 8").cast("int"))
      .withColumn("n_samples", expr("(frames + step - 1) div step").cast("int"))
      .withColumn("frame_idx", explode(expr("sequence(0, frames - 1, step)")))
      .withColumn("k", expr("frame_idx div step").cast("int"))
      .select(col("doc_id"), col("n_samples"), col("frame_idx"),
        expr("(CAST(frame_idx AS BIGINT) * 1000) div 24").as("ts_ms"),
        expr("CAST(k % 4 * 160 AS INT)").as("x_off"),
        expr("CAST(k div 4 * 90 AS INT)").as("y_off"),
        lit(640).as("sheet_w"),
        expr("CAST(((n_samples + 3) div 4) * 90 AS INT)").as("sheet_h"))
      .orderBy("doc_id", "frame_idx")
  }

  val qStoryboardSql: String =
    """WITH v AS (
        SELECT doc_id, CAST(n_chars % 24 + 1 AS INT) AS frames
        FROM documents WHERE ascii(substr(text, 1, 1)) BETWEEN 113 AND 120),
      s AS (
        SELECT doc_id, frames, CAST((frames + 7) // 8 AS INT) AS step,
          CAST((frames + (frames + 7) // 8 - 1) // ((frames + 7) // 8) AS INT) AS n_samples
        FROM v),
      f AS (
        SELECT doc_id, n_samples, step,
          unnest(generate_series(0, frames - 1, step)) AS frame_idx
        FROM s),
      k AS (SELECT *, CAST(frame_idx // step AS INT) AS k FROM f)
      SELECT doc_id, n_samples, CAST(frame_idx AS INT) AS frame_idx,
        CAST(frame_idx AS BIGINT) * 1000 // 24 AS ts_ms,
        CAST(k % 4 * 160 AS INT) AS x_off,
        CAST(k // 4 * 90 AS INT) AS y_off,
        CAST(640 AS INT) AS sheet_w,
        CAST((n_samples + 3) // 4 * 90 AS INT) AS sheet_h
      FROM k ORDER BY doc_id, frame_idx"""

  def qResizePlan(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val isImage = ascii(substring(col("text"), 1, 1)).between(97, 104)
    d.filter(isImage)
      .select(col("doc_id"),
        (col("n_chars") % 640 + 16).cast("int").as("width"),
        (col("doc_id") % 480 + 16).cast("int").as("height"))
      .withColumn("long_side", greatest(col("width"), col("height")))
      .withColumn("out_w", expr("(width * 224) div long_side").cast("int"))
      .withColumn("out_h", expr("(height * 224) div long_side").cast("int"))
      .withColumn("pad_x", expr("(224 - out_w) div 2").cast("int"))
      .withColumn("pad_y", expr("(224 - out_h) div 2").cast("int"))
      .select("doc_id", "width", "height", "out_w", "out_h", "pad_x", "pad_y")
      .orderBy("doc_id")
  }

  val qResizePlanSql: String =
    """WITH i AS (
        SELECT doc_id, CAST(n_chars % 640 + 16 AS INT) AS width,
          CAST(doc_id % 480 + 16 AS INT) AS height
        FROM documents WHERE ascii(substr(text, 1, 1)) BETWEEN 97 AND 104),
      g AS (SELECT doc_id, width, height, GREATEST(width, height) AS long_side FROM i)
      SELECT doc_id, width, height,
        CAST((width * 224) // long_side AS INT) AS out_w,
        CAST((height * 224) // long_side AS INT) AS out_h,
        CAST((224 - (width * 224) // long_side) // 2 AS INT) AS pad_x,
        CAST((224 - (height * 224) // long_side) // 2 AS INT) AS pad_y
      FROM g ORDER BY doc_id"""

  /** g5 — decode batch packing: GPU/codec decode workers want batches
    * of BOUNDED TOTAL BYTES per mime type (a 4 MB budget of fake-PNGs
    * per call), not fixed row counts — media sizes are wildly skewed,
    * and a count-based batch mixes one 50 MB video with a thousand
    * icons. Greedy running-sum packing per mime: cumulative payload
    * bytes within each mime (ordered by doc_id for determinism) `div`
    * the budget = the batch id each item joins. One window per mime
    * partition — the media twin of the a17 compaction planner, and
    * exactly the batch shape g2's mapPartitions decode consumes. */
  def qDecodeBatches(spark: SparkSession, dir: String): DataFrame = {
    val budget = 4096L // bytes per decode batch (scaled to the testdata)
    val d = Tables(spark, dir, "documents")
    // the packing cumsum rides the two-phase keyed prefix sum: a plain
    // `PARTITION BY mime` window is the single-partition degradation in
    // camouflage (4 mime classes ⇒ 4 tasks carry the whole corpus)
    graft.operators.TwoPhase.globalCumSumByKey(
        d.select(col("doc_id"), sniffMime.as("mime"),
          length(encode(col("text"), "UTF-8")).cast("long").as("nbytes")),
        Seq(col("mime")), Seq(col("doc_id")), col("nbytes"), "cum")
      .withColumn("batch_id", expr(s"(cum - 1) div $budget").cast("long"))
      .groupBy("mime", "batch_id")
      .agg(count(lit(1)).as("n_items"), sum(col("nbytes")).as("batch_bytes"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("mime", "batch_id")
  }

  val qDecodeBatchesSql: String =
    """WITH m AS (
        SELECT doc_id,
          CASE WHEN ascii(substr(text, 1, 1)) BETWEEN 97 AND 104 THEN 'image/fake-png'
               WHEN ascii(substr(text, 1, 1)) BETWEEN 105 AND 112 THEN 'audio/fake-wav'
               WHEN ascii(substr(text, 1, 1)) BETWEEN 113 AND 120 THEN 'video/fake-mp4'
               ELSE 'text/plain' END AS mime,
          CAST(octet_length(encode(text)) AS BIGINT) AS nbytes
        FROM documents),
      c AS (
        SELECT doc_id, mime, nbytes,
          SUM(nbytes) OVER (PARTITION BY mime ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM m)
      SELECT mime, CAST((cum0.cum - 1) // 4096 AS BIGINT) AS batch_id,
        COUNT(*) AS n_items, CAST(SUM(nbytes) AS BIGINT) AS batch_bytes,
        MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      FROM c cum0 GROUP BY 1, 2 ORDER BY mime, batch_id"""

  /** g7 — audio feature-frame plan (the STFT framing every speech/
    * audio encoder front-end runs): 25 ms windows with a 10 ms hop at
    * 16 kHz = 400-sample frames every 160 samples, n_frames = 1 +
    * (n_samples − 400) div 160 (no padding — the standard "valid"
    * framing). Sample counts derive deterministically from the doc
    * (each char stands in for 16 samples; payload bytes are the g2
    * analog). Pure integer arithmetic fan-out: map-only explode, no
    * shuffle, same plan family as g3's frame sampling — the decode of
    * each frame window would slot into g2/g6's batched mapPartitions
    * stage, and g5 would pack the frames into bounded decode calls. */
  def qAudioFrames(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val isAudio = ascii(substring(col("text"), 1, 1)).between(105, 112)
    d.filter(isAudio)
      .select(col("doc_id"),
        (col("n_chars").cast("long") * 16L + 400L).as("n_samples"))
      .withColumn("n_frames", expr("(1 + (n_samples - 400) div 160)").cast("int"))
      .withColumn("frame_idx", explode(expr("sequence(0, n_frames - 1)")))
      .withColumn("start_sample", col("frame_idx").cast("long") * 160L)
      .withColumn("ts_ms", expr("(start_sample * 1000) div 16000"))
      .select("doc_id", "n_samples", "n_frames", "frame_idx", "start_sample", "ts_ms")
      .orderBy("doc_id", "frame_idx")
  }

  val qAudioFramesSql: String =
    """WITH a AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) * 16 + 400 AS n_samples
        FROM documents WHERE ascii(substr(text, 1, 1)) BETWEEN 105 AND 112),
      f AS (SELECT doc_id, n_samples,
        CAST(1 + (n_samples - 400) // 160 AS INT) AS n_frames FROM a),
      x AS (SELECT doc_id, n_samples, n_frames,
        CAST(unnest(generate_series(0, n_frames - 1)) AS INT) AS frame_idx FROM f)
      SELECT doc_id, n_samples, n_frames, frame_idx,
        CAST(frame_idx AS BIGINT) * 160 AS start_sample,
        CAST((CAST(frame_idx AS BIGINT) * 160 * 1000) // 16000 AS BIGINT) AS ts_ms
      FROM x ORDER BY doc_id, frame_idx"""

  /** One perceptually-hashed image: doc + the dHash's 4 × 16-bit
    * chunks. */
  case class PHashed(doc_id: Long, c0: Int, c1: Int, c2: Int, c3: Int)

  /** doc_id offset marking the planted re-upload stream in g8 (far
    * above any real doc_id, so variant ids never collide). */
  val PhashVariantOffset: Long = 1L << 40

  /** g8 — perceptual image dedup: the multimodal twin of the text
    * SimHash near-dup (Dedup.scala d3c). Each stored image is decoded
    * through the REAL JDK PNG codec and reduced to a 64-bit dHash
    * ([[ImageCodec.dhash]] — grid-pooled luminance gradient signs,
    * integer-exact); pairs within Hamming ≤ 3 must agree exactly on
    * one of the 4 16-bit chunks (pigeonhole), so blocking on
    * (chunk_idx, chunk_value) finds ALL such pairs with one shuffle
    * and NO O(n²) scan. Exact re-encodes land at Hamming 0; small
    * pixel edits land ≤ 3 (spec-proven). Decode is mapPartitions
    * (codec state amortized per task); everything after the hash is
    * plain columnar Spark, identical in shape to d3c — including its
    * scale story (4 × 65,536 block keys; a hot block — e.g. billions
    * of near-black thumbnails — would widen its key with the next
    * chunk's bits exactly like d5's hot-bucket fix). Rows-only check
    * (the codec is not SQL-expressible); OperatorsSpec gates golden
    * hashes, near-dup sensitivity, and exact-dup recall. */
  def qPhashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables(spark, dir, "documents")
    val src = Tables.fanout(d.select(col("doc_id"), col("text")))
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
    // The testdata has no duplicate images (all 500 texts are unique),
    // so the corpus is augmented with a deterministic RE-UPLOAD stream
    // — the scenario image dedup exists for: every 5th doc contributes
    // a byte-exact copy (same image stored twice), every 5th+1 a
    // one-byte pixel nudge (re-encode / slight edit). The operator
    // must find the planted pairs back; the copies are a pigeonhole
    // GUARANTEE (hamming 0), the nudges are the perceptual case.
    val sig = src.mapPartitions { it =>
      it.flatMap { case (id, payload) =>
        def hashed(docId: Long, p: Array[Byte]): PHashed = {
          val ch = ImageCodec.dhash(ImageCodec.encodePng(id, p))
          PHashed(docId, ch(0), ch(1), ch(2), ch(3))
        }
        val orig = hashed(id, payload)
        if (id % 5 == 0) {
          orig :: hashed(id + PhashVariantOffset, payload) :: Nil
        } else if (id % 5 == 1 && payload.length > 0) {
          val nudged = payload.clone()
          val i = 20 % nudged.length
          nudged(i) = (nudged(i) + 1).toByte
          orig :: hashed(id + PhashVariantOffset, nudged) :: Nil
        } else orig :: Nil
      }
    }.toDF().localCheckpoint(true) // hash once, before either join side reads it
    Dedup.hammingPairs(sig).distinct().orderBy("doc_a", "doc_b")
  }

  /** One decoded + perceptually-hashed image with its batch context. */
  case class DecodedHashed(doc_id: Long, batch_id: Long, batch_items: Int,
    width: Int, height: Int, c0: Int, c1: Int, c2: Int, c3: Int)

  /** g11 — the MEDIA INGEST PATH end-to-end as one pipeline (the
    * G-family capstone next to f28/b28/h13): route images by mime
    * (g1's sniff class) → the re-upload stream arrives (g8's planted
    * byte-copies and pixel nudges — the scenario media dedup exists
    * for) → g5's bounded-byte batch plan over the ARRIVED stream →
    * one decoder session per planned batch (g6's consecutive-run
    * mapPartitions contract) → 64-bit dHash at decode time → g8's
    * pigeonhole block join → a per-image VERDICT: keeper, or dup of
    * the earliest perceptual match. Every stage is the gated
    * component's machinery verbatim; what g11 adds is the
    * composition — hashes come out of the SAME decode pass that
    * produced the features (decode once, never re-decode for dedup),
    * and the dedup verdict joins back to batch provenance. Rows-only
    * (real codec); MediaE2eSpec gates pair parity with g8, planted
    * copies flagged, and batch sizes within budget. */
  def qMediaE2e(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val budget = 4096L
    val d = Tables(spark, dir, "documents")
    val isImage = ascii(substring(col("text"), 1, 1)).between(97, 104)
    // arrival stream: originals + g8's deterministic re-uploads
    val arrivals = Tables.fanout(d.filter(isImage).select(col("doc_id"), col("text")))
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        val orig = (id, id, payload)
        if (id % 5 == 0) orig :: ((id + PhashVariantOffset, id, payload)) :: Nil
        else if (id % 5 == 1 && payload.length > 0) {
          val nudged = payload.clone()
          val i = 20 % nudged.length
          nudged(i) = (nudged(i) + 1).toByte
          orig :: ((id + PhashVariantOffset, id, nudged)) :: Nil
        } else orig :: Nil
      }.toDF("doc_id", "src_id", "payload")
    // g5's packing cumsum over the arrived stream (two-phase keyed
    // prefix sum — see qDecodeBatches)
    val planned = graft.operators.TwoPhase.globalCumSumByKey(
        arrivals
          .withColumn("mime", lit("image/fake-png"))
          .withColumn("nbytes", length(col("payload")).cast("long")),
        Seq(col("mime")), Seq(col("doc_id")), col("nbytes"), "cum")
      .withColumn("batch_id", expr(s"(cum - 1) div $budget").cast("long"))
    val decoded = planned.repartition(col("batch_id"))
      .sortWithinPartitions("batch_id", "doc_id")
      .select(col("batch_id"), col("doc_id"), col("src_id"), col("payload"))
      .as[(Long, Long, Long, Array[Byte])]
      .mapPartitions { it =>
        val buf = it.buffered
        val batches = new Iterator[Seq[(Long, Long, Long, Array[Byte])]] {
          def hasNext: Boolean = buf.hasNext
          def next(): Seq[(Long, Long, Long, Array[Byte])] = {
            val bid = buf.head._1
            val b = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Array[Byte])]
            while (buf.hasNext && buf.head._1 == bid) b += buf.next()
            b.toSeq
          }
        }
        batches.flatMap { batch =>
          batch.map { case (bid, id, srcId, payload) =>
            // one codec session per batch; the PNG is encoded from the
            // SOURCE image id so a re-upload is pixel-identical
            val png = ImageCodec.encodePng(srcId, payload)
            val (wid, hei, _) = ImageCodec.decode(png)
            val ch = ImageCodec.dhash(png)
            DecodedHashed(id, bid, batch.size, wid, hei, ch(0), ch(1), ch(2), ch(3))
          }
        }
      }.toDF().localCheckpoint(false)
    // g8's pigeonhole dedup over the decode output
    val pairs = Dedup.hammingPairs(decoded)
      .select(col("doc_a").as("dup_of"), col("doc_b").as("doc_id"))
      .groupBy("doc_id").agg(min(col("dup_of")).as("dup_of"))
    decoded.join(pairs, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("batch_id"), col("batch_items"),
        col("width"), col("height"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
      .orderBy("doc_id")
  }

  /** One perceptually-hashed video frame. */
  case class FrameHash(doc_id: Long, frame_idx: Int, frames: Int,
    c0: Int, c1: Int, c2: Int, c3: Int)

  /** g9's planted scene length (frames per shot). */
  val ShotSceneLen = 6

  /** g9 — shot-boundary detection: the video twin of g8. Every frame
    * of each g3 video decodes through the REAL PNG codec to a 64-bit
    * dHash; consecutive frames compare by Hamming distance over ONE
    * video-keyed window (lag on the 4 hash chunks — no self-join, no
    * frame buffering beyond the sort), and a distance ≥ 8 opens a new
    * shot (running sum of boundary flags = shot id). Within a shot,
    * frames repeat the still byte-exactly (distance 0); across shots
    * the frame content changes outright (md5-mixed payloads ⇒
    * uncorrelated hashes, observed distance ≥ 8, median ≈ 30), so the
    * threshold sits in a clean margin. The corpus plants a
    * deterministic scene structure (every [[ShotSceneLen]] frames) the
    * spec recovers EXACTLY — boundaries, shot ids, and within-shot
    * silence. Cost shape: decode is mapPartitions (codec per task),
    * then one shuffle on doc_id; at 100 TB each video's frames sort
    * within their group and nothing is quadratic. Rows-only (codec
    * not SQL-expressible); ShotDetectSpec gates it. */
  def qShotDetect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables(spark, dir, "documents")
    val isVideo = ascii(substring(col("text"), 1, 1)).between(113, 120)
    val vids = Tables.fanout(d.filter(isVideo)
      .select(col("doc_id"), col("text"),
        (col("n_chars") % 24 + 1).cast("int").as("frames")))
      .as[(Long, String, Int)]
    val hashed = vids.mapPartitions { it =>
      it.flatMap { case (id, text, frames) =>
        val bytes = text.getBytes("UTF-8")
        (0 until frames).iterator.map { f =>
          val scene = f / ShotSceneLen
          // scene payload: md5-mixed (doc, scene) bytes — the synthetic
          // texts repeat a tiny vocabulary, so raw slices of adjacent
          // scenes can coincide (measured: cut hamming dipped to 2);
          // hashing makes planted scenes pixel-independent. Within a
          // scene one byte alternates by ±1 — g8's measured ≤ 3-bit
          // sub-perceptual nudge.
          // 41-byte payload: coprime to the pixel-row byte stride, so
          // the cyclic tiling visits every phase (a 40-byte payload
          // aliases with the 75/72-byte rows — gcd 8 leaves 5 phases
          // and grid sums that barely depend on the payload; measured:
          // scene cuts collapsed to hamming 0-6). Within a shot the
          // generator repeats the still byte-exactly (dHash-stable —
          // g8's hamming-0 guarantee); per-frame jitter belongs to g8,
          // whose nudge bound is measured on the wide text images, not
          // to these fully-mixed 25px stills where a one-byte nudge
          // measurably bleeds into the cut band.
          val md = java.security.MessageDigest.getInstance("MD5")
          val s1 = md.digest(s"$id:$scene:$text".getBytes("UTF-8"))
          val s2 = java.security.MessageDigest.getInstance("MD5")
            .digest(s"$id:$scene:b:$text".getBytes("UTF-8"))
          val seed = s1 ++ s2
          val base = Array.tabulate(41)(k => seed(k % seed.length))
          val ch = ImageCodec.dhash(ImageCodec.encodePng(id, base))
          FrameHash(id, f, frames, ch(0), ch(1), ch(2), ch(3))
        }
      }
    }.toDF()
    val byVid = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val withPrev = hashed.select(
      Seq(col("doc_id"), col("frame_idx"), col("frames")) ++
        (0 to 3).map(k => col(s"c$k")) ++
        (0 to 3).map(k => lag(col(s"c$k"), 1).over(byVid).as(s"p$k")): _*)
    withPrev
      .withColumn("hamming", when(col("p0").isNull, lit(null))
        .otherwise(expr("bit_count(c0 ^ p0) + bit_count(c1 ^ p1) + " +
          "bit_count(c2 ^ p2) + bit_count(c3 ^ p3)").cast("int")))
      .withColumn("boundary", coalesce(col("hamming") >= 8, lit(false)))
      .withColumn("shot_id", sum(when(col("boundary"), 1L).otherwise(0L))
        .over(byVid.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .select("doc_id", "frame_idx", "frames", "hamming", "boundary", "shot_id")
      .orderBy("doc_id", "frame_idx")
  }

  /** doc_id offset marking g10's planted clip stream. */
  val AudioClipOffset: Long = 1L << 41

  /** g10 — audio fingerprint matching (the Shazam constellation,
    * 2003): per-frame spectral peaks chain into 4-peak landmark
    * hashes, and two recordings match when many hashes agree AT A
    * CONSISTENT TIME OFFSET — which finds clips, not just byte-dups.
    * Frame "energies" here are md5-derived integers keyed by
    * (content, content-time, band) — deterministic stand-ins for the
    * STFT magnitudes g7 frames (the constellation algebra, which is
    * the operator, is identical on real spectra and is fully
    * SQL-expressible, so unlike g2/g8/g9 this op is ORACLE-GATED).
    * The corpus plants a clip stream: every 7th doc re-appears
    * starting 5 frames in (same content key, shifted content time) —
    * the offset histogram must land those at dt = −5, and the
    * corpus' genuine duplicate texts (same content key) at dt = 0.
    * Plan: peaks = one bounded argmax per (doc, frame) — packed-long
    * max, no SortAggregate; the 3 chained lead()s ride ONE doc-keyed
    * exchange; matching joins ON THE 4 096-value landmark hash (at
    * 100 TB the hash is the blocking key — pairs are generated per
    * landmark bucket, never all-pairs) and the offset histogram is
    * one (a, b, dt) agg. */
  def qAudioFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("ck"),
        (col("n_chars") % 50 + 10).cast("int").as("nf"))
    val base = d.select(col("doc_id"), col("ck"),
        explode(sequence(lit(0), col("nf") - 1)).as("t"))
      .withColumn("content_t", col("t"))
    val clips = d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + AudioClipOffset).as("doc_id"), col("ck"),
        explode(sequence(lit(0), col("nf") - 6)).as("t"))
      .withColumn("content_t", col("t") + 5)
    val frames = Tables.fanout(base.unionByName(clips))
    // ONE md5 per frame carries all 8 band energies (4 hex digits
    // each), and the peak argmax is a map-only greatest() over the
    // packed values (low band wins ties) — the explode-8-bands +
    // groupBy first cut paid 8× the hashing plus a 1.5M-row agg
    // (with the chains checkpoint below: 4.7 s → 3.3 s at sf0.1;
    // the remaining cost is the genuine 4M-row landmark-bucket join)
    val packed = (0 until 8).map(b =>
      s"(CAST(conv(substr(h, ${b * 4 + 1}, 4), 16, 10) AS BIGINT) * 8 + ${7 - b})")
    val peaks = frames
      .withColumn("h", md5(concat_ws(":", col("ck"), col("content_t"))))
      .select(col("doc_id"), col("t"),
        expr(s"7 - greatest(${packed.mkString(", ")}) % 8").as("p"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("t"))
    val chains = peaks
      .withColumn("p1", lead(col("p"), 1).over(byDoc))
      .withColumn("p2", lead(col("p"), 2).over(byDoc))
      .withColumn("p3", lead(col("p"), 3).over(byDoc))
      .withColumn("p4", lead(col("p"), 4).over(byDoc))
      .filter(col("p4").isNotNull)
      .select(col("doc_id"), col("t"),
        ((((col("p") * 8 + col("p1")) * 8 + col("p2")) * 8 + col("p3")) * 8 + col("p4")).as("fp"))
      .localCheckpoint(true) // hash/peak once, before either join side reads it
    chains.as("x").join(chains.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        (col("x.t") - col("y.t")).as("dt"))
      .agg(count(lit(1)).as("n_matches"))
      .filter(col("n_matches") >= 6)
      .orderBy("doc_a", "doc_b", "dt")
  }

  val qAudioFingerprintSql: String =
    s"""WITH d AS (
        SELECT doc_id, md5(text) AS ck, CAST(n_chars % 50 + 10 AS INT) AS nf
        FROM documents),
      base AS (
        SELECT doc_id, ck, CAST(unnest(generate_series(0, nf - 1)) AS INT) AS t,
          CAST(unnest(generate_series(0, nf - 1)) AS INT) AS content_t
        FROM d),
      clips AS (
        SELECT doc_id + ${AudioClipOffset} AS doc_id, ck,
          CAST(unnest(generate_series(0, nf - 6)) AS INT) AS t,
          CAST(unnest(generate_series(0, nf - 6)) AS INT) + 5 AS content_t
        FROM d WHERE doc_id % 7 = 0),
      frames AS (SELECT * FROM base UNION ALL SELECT * FROM clips),
      wh AS (
        SELECT doc_id, t, md5(ck || ':' || content_t) AS h FROM frames),
      peaks AS (
        SELECT doc_id, t, 7 - greatest(${(0 until 8).map(b =>
          s"CAST(('0x' || substr(h, ${b * 4 + 1}, 4)) AS BIGINT) * 8 + ${7 - b}")
          .mkString(", ")}) % 8 AS p
        FROM wh),
      chains AS (
        SELECT doc_id, t,
          (((p * 8 + lead(p, 1) OVER w) * 8 + lead(p, 2) OVER w) * 8
            + lead(p, 3) OVER w) * 8 + lead(p, 4) OVER w AS fp
        FROM peaks WINDOW w AS (PARTITION BY doc_id ORDER BY t)),
      c AS (SELECT doc_id, t, fp FROM chains WHERE fp IS NOT NULL)
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.t - y.t AS dt,
        COUNT(*) AS n_matches
      FROM c x JOIN c y ON x.fp = y.fp AND x.doc_id < y.doc_id
      GROUP BY 1, 2, 3 HAVING COUNT(*) >= 6
      ORDER BY doc_a, doc_b, dt"""

  /** one catalog-vs-bytes verdict of the g12 audit */
  case class MediaAuditRow(doc_id: Long, decl_w: Int, act_w: Int,
      decl_h: Int, act_h: Int)

  /** g12 — media CATALOG-CONSISTENCY audit (c62's twin for the binary
    * modality: at 100 TB the catalog and the bytes drift — stale
    * re-encodes, truncated uploads, wrong-variant overwrites — and
    * the only way to know is to DECODE and compare): declared
    * dimensions come from the ingest-time formula over (doc_id,
    * n_bytes) — the metadata path, NO decode — with a deterministic
    * stale-entry plant (doc_id % 13 == 0 declares width one too
    * large); actual dimensions come from the REAL JDK codec decode of
    * the stored bytes (one mapPartitions decoder session per task,
    * g2's shape). Output: ONLY the mismatch rows (bounded by the
    * corruption rate, not the corpus). Rows-only by design (codec
    * round-trip); MediaE2eSpec proves the flagged set is EXACTLY the
    * planted set and that every unflagged doc's decoded dims equal
    * the formula. At 100 TB: one decode pass (the audit's honest
    * irreducible cost), map-only until the bounded mismatch output.
    *
    * ORACLE-GATED (round 12): the PNG round-trip provably preserves
    * the generator's dimension formula (w = nbytes % 24 + 8,
    * h = doc_id % 16 + 8 — MediaE2eSpec proves decode == formula on
    * every doc), so the DuckDB twin computes act_w/act_h in closed
    * form. The Spark side KEEPS the real codec — the oracle is then an
    * independent per-row check that the decode stage still honors the
    * format contract, not a tautology. */
  def qMediaAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables(spark, dir, "documents")
    val catalog = d.select(col("doc_id"),
      (length(encode(col("text"), "UTF-8")) % 24 + 8
        + when(col("doc_id") % 13 === 0, 1).otherwise(0)).cast("int").as("decl_w"),
      (col("doc_id") % 16 + 8).cast("int").as("decl_h"))
    val src = Tables.fanout(d.select(col("doc_id"), col("text")))
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
    val actual = src.mapPartitions { it =>
      it.map { case (id, payload) =>
        val (w, h, _) = ImageCodec.decode(ImageCodec.encodePng(id, payload))
        (id, w, h)
      }
    }.toDF("doc_id", "act_w", "act_h")
    catalog.join(actual, "doc_id")
      .filter(col("decl_w") =!= col("act_w") || col("decl_h") =!= col("act_h"))
      .select("doc_id", "decl_w", "act_w", "decl_h", "act_h")
      .orderBy("doc_id")
  }

  val qMediaAuditSql: String =
    """WITH c AS (
        SELECT doc_id,
          CAST(octet_length(encode(text)) % 24 + 8
            + CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END AS INT) AS decl_w,
          CAST(doc_id % 16 + 8 AS INT) AS decl_h,
          CAST(octet_length(encode(text)) % 24 + 8 AS INT) AS act_w,
          CAST(doc_id % 16 + 8 AS INT) AS act_h
        FROM documents)
      SELECT doc_id, decl_w, act_w, decl_h, act_h
      FROM c WHERE decl_w <> act_w OR decl_h <> act_h
      ORDER BY doc_id"""

  /** g11b — `q_media_e2e_plan`: the decode-free PLAN half of g11,
    * oracle-gated (the codec half stays in q_media_e2e, spec-gated).
    * The arrival stream (originals + g8's planted re-upload variants),
    * the bounded-bytes batch assignment each arrival will decode
    * under, per-batch population, and the dimensions the decode is
    * CONTRACTED to produce (exp_w from payload bytes, exp_h from the
    * SOURCE image id — a variant re-encodes the source's pixels, so
    * its height follows src_id, and the one-byte nudge preserves
    * length, so exp_w follows its own payload). MediaE2eSpec ties the
    * twin to g11: same doc set, same batch ids, and g11's decoded
    * width/height equal this plan's contract on every row. */
  def qMediaE2ePlan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 4096L
    // g11's packing cumsum, two-phased like its parent (see
    // qDecodeBatches); the batch_items window below is per-batch —
    // genuinely bounded by the byte budget, not corpus-proportional
    val d = Tables(spark, dir, "documents")
    val isImage = ascii(substring(col("text"), 1, 1)).between(97, 104)
    val img = d.filter(isImage)
      .select(col("doc_id"), length(encode(col("text"), "UTF-8")).cast("long").as("nbytes"))
    val arrivals = img.select(col("doc_id"), col("doc_id").as("src_id"),
        lit(false).as("is_variant"), col("nbytes"))
      .unionAll(img
        .filter(col("doc_id") % 5 === 0 || (col("doc_id") % 5 === 1 && col("nbytes") > 0))
        .select((col("doc_id") + PhashVariantOffset).as("doc_id"),
          col("doc_id").as("src_id"), lit(true).as("is_variant"), col("nbytes")))
    graft.operators.TwoPhase.globalCumSumByKey(
        arrivals.withColumn("mime", lit("image/fake-png")),
        Seq(col("mime")), Seq(col("doc_id")), col("nbytes"), "cum")
      .withColumn("batch_id", expr(s"(cum - 1) div $budget").cast("long"))
      .withColumn("batch_items",
        count(lit(1)).over(Window.partitionBy("mime", "batch_id")).cast("int"))
      .select(col("doc_id"), col("src_id"), col("is_variant"), col("batch_id"),
        col("batch_items"), col("nbytes"),
        (col("nbytes") % 24 + 8).cast("int").as("exp_w"),
        (col("src_id") % 16 + 8).cast("int").as("exp_h"))
      .orderBy("doc_id")
  }

  val qMediaE2ePlanSql: String =
    s"""WITH img AS (
          SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS nbytes
          FROM documents WHERE ascii(substr(text, 1, 1)) BETWEEN 97 AND 104),
        arr AS (
          SELECT doc_id, doc_id AS src_id, false AS is_variant, nbytes FROM img
          UNION ALL
          SELECT doc_id + $PhashVariantOffset AS doc_id, doc_id AS src_id,
            true AS is_variant, nbytes
          FROM img WHERE doc_id % 5 = 0 OR (doc_id % 5 = 1 AND nbytes > 0)),
        w AS (
          SELECT doc_id, src_id, is_variant, nbytes,
            SUM(nbytes) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM arr),
        b AS (SELECT *, CAST((cum - 1) // 4096 AS BIGINT) AS batch_id FROM w)
      SELECT doc_id, src_id, is_variant, batch_id,
        CAST(COUNT(*) OVER (PARTITION BY batch_id) AS INT) AS batch_items,
        nbytes,
        CAST(nbytes % 24 + 8 AS INT) AS exp_w,
        CAST(src_id % 16 + 8 AS INT) AS exp_h
      FROM b ORDER BY doc_id"""

  // ------------------------------------------------------------------
  // g15 — ABR bitrate-ladder plan
  // ------------------------------------------------------------------

  /** the public ABR ladder (the industry-standard fixed rungs every
    * streaming/transcode doc publishes — per-title optimization starts
    * from this table): height → kbps, stated literally in both engines. */
  private val ladder: Seq[(Int, Int)] = Seq(
    2160 -> 16000, 1440 -> 10000, 1080 -> 6000, 720 -> 3000,
    480 -> 1500, 360 -> 800, 240 -> 400)

  /** g15 — `q_bitrate_ladder`: the adaptive-bitrate transcode PLAN per
    * video asset (the g4 resize-plan sibling for the video leg: which
    * ladder rungs apply — never upscale, so rungs ≤ source height —
    * and what the transcoded set costs in bytes). Source height and
    * duration synthesize deterministically from the catalog (the g1
    * discipline); per video: eligible rungs, top rung, summed ladder
    * kbps and total transcoded bytes (kbps·125·duration, exact
    * integers). Map-only: the ladder is a 7-element literal array
    * filtered in-row — no join, no explode, one output sort. */
  def qBitrateLadder(spark: SparkSession, dir: String): DataFrame = {
    val arr = ladder.map { case (h, k) => s"named_struct('h', $h, 'kbps', $k)" }
      .mkString("array(", ", ", ")")
    val d = graft.Tables(spark, dir, "documents")
    d.select(col("doc_id"), col("n_chars"), col("text"))
      .withColumn("mime", sniffMime)
      .filter(col("mime") === "video/fake-mp4")
      .withColumn("source_h", expr("CAST(240 + (doc_id % 10) * 240 AS INT)"))
      .withColumn("duration_s", expr("CAST((n_chars % 24 + 1) * 10 AS BIGINT)"))
      .withColumn("rungs", expr(s"filter($arr, r -> r.h <= source_h)"))
      .select(col("doc_id"), col("source_h"), col("duration_s"),
        expr("CAST(size(rungs) AS INT)").as("n_rungs"),
        expr("CAST(rungs[0].h AS INT)").as("top_rung"),
        expr("aggregate(rungs, 0L, (acc, r) -> acc + r.kbps)").as("ladder_kbps"),
        expr("aggregate(rungs, 0L, (acc, r) -> acc + CAST(r.kbps AS BIGINT) * 125 * duration_s)")
          .as("ladder_bytes"))
      .orderBy("doc_id")
  }

  val qBitrateLadderSql: String = {
    val arr = ladder.map { case (h, k) => s"struct_pack(h := $h, kbps := $k)" }
      .mkString("[", ", ", "]")
    s"""WITH v AS (
        SELECT doc_id, n_chars,
          CAST(240 + (doc_id % 10) * 240 AS INT) AS source_h,
          CAST((n_chars % 24 + 1) * 10 AS BIGINT) AS duration_s
        FROM documents
        WHERE ascii(substr(text, 1, 1)) BETWEEN 113 AND 120),
      r AS (
        SELECT *, list_filter($arr, r -> r.h <= source_h) AS rungs FROM v)
      SELECT doc_id, source_h, duration_s,
        CAST(len(rungs) AS INT) AS n_rungs,
        CAST(rungs[1].h AS INT) AS top_rung,
        CAST(list_sum(list_transform(rungs, r -> r.kbps)) AS BIGINT) AS ladder_kbps,
        CAST(list_sum(list_transform(rungs, r -> CAST(r.kbps AS BIGINT) * 125 * duration_s)) AS BIGINT) AS ladder_bytes
      FROM r ORDER BY doc_id"""
  }

  // ------------------------------------------------------------------
  // g16 — EXIF-GPS privacy plan
  // ------------------------------------------------------------------

  /** the sensitive-region set, integer milli-degree literals both
    * engines state identically (stand-in bands — production loads a
    * curated polygon set through b24/b35's containment machinery). */
  private val sensitiveZones =
    """(lonm BETWEEN -30000 AND 0 AND latm BETWEEN 30000 AND 60000)
       OR (lonm BETWEEN 120000 AND 150000 AND latm BETWEEN 20000 AND 50000)"""

  /** g16 — `q_exif_privacy`: the EXIF-GPS hygiene plan a training-data
    * lake runs before publishing media (the standard public practice:
    * strip location EXIF from everything; media geotagged inside a
    * sensitive region is dropped outright — f8's PII redaction at the
    * media-metadata grain). Each media object synthesizes its GPS
    * presence (text never carries GPS; 80 % of real media does) and
    * point (g14's derivation); action = none (no GPS) / drop (in a
    * sensitive zone) / strip_gps. Map-only decision per object, one
    * (mime, action) rollup — counts and byte mass per action, the
    * numbers the privacy review signs off on. */
  def qExifPrivacy(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables(spark, dir, "documents")
    d.select(col("doc_id"), col("text"))
      .withColumn("mime", sniffMime)
      .withColumn("nbytes", length(col("text")).cast("long"))
      .withColumn("lonm", expr("doc_id * 2654435761 % 360000 - 180000"))
      .withColumn("latm", expr("doc_id * 1327217873 % 170000 - 85000"))
      .withColumn("has_gps", expr("mime <> 'text/plain' AND doc_id % 5 <> 0"))
      .withColumn("action", expr(
        s"""CASE WHEN NOT has_gps THEN 'none'
                 WHEN $sensitiveZones THEN 'drop'
                 ELSE 'strip_gps' END"""))
      .groupBy("mime", "action")
      .agg(count(lit(1)).as("n_media"), sum("nbytes").as("bytes"))
      .orderBy("mime", "action")
  }

  val qExifPrivacySql: String =
    s"""WITH m AS (
        SELECT doc_id,
          CASE WHEN ascii(substr(text, 1, 1)) BETWEEN 97 AND 104 THEN 'image/fake-png'
               WHEN ascii(substr(text, 1, 1)) BETWEEN 105 AND 112 THEN 'audio/fake-wav'
               WHEN ascii(substr(text, 1, 1)) BETWEEN 113 AND 120 THEN 'video/fake-mp4'
               ELSE 'text/plain' END AS mime,
          CAST(length(text) AS BIGINT) AS nbytes,
          doc_id * 2654435761 % 360000 - 180000 AS lonm,
          doc_id * 1327217873 % 170000 - 85000 AS latm
        FROM documents),
      g AS (SELECT *, mime <> 'text/plain' AND doc_id % 5 <> 0 AS has_gps FROM m),
      a AS (
        SELECT *, CASE WHEN NOT has_gps THEN 'none'
                       WHEN $sensitiveZones THEN 'drop'
                       ELSE 'strip_gps' END AS action
        FROM g)
      SELECT mime, action, count(*) AS n_media, CAST(sum(nbytes) AS BIGINT) AS bytes
      FROM a GROUP BY 1, 2 ORDER BY mime, action"""


  /** The rows-only queries have no oracle because a PNG codec
    * round-trip is not SQL-expressible; the correctness dump checks
    * only their row counts and the named spec gates the rows. q_media_audit IS
    * oracle-gated: its decode provably reproduces the generator's
    * dimension formula, so the DuckDB twin states that formula and
    * independently checks the real decode every round;
    * q_media_e2e_plan carries g11's decode-free plan half under a full
    * oracle. */
  val registry: Seq[Query] = Seq(
    Query("q_exif_privacy", qExifPrivacy, Oracle(qExifPrivacySql)),
    Query("q_bitrate_ladder", qBitrateLadder, Oracle(qBitrateLadderSql)),
    Query("q_storyboard", qStoryboard, Oracle(qStoryboardSql)),
    Query("q_media_e2e_plan", qMediaE2ePlan, Oracle(qMediaE2ePlanSql)),
    Query("q_media_audit", qMediaAudit, Oracle(qMediaAuditSql)),
    // planted-copy flags and g8 pair parity
    Query("q_media_e2e", qMediaE2e, RowsOnly("MediaE2eSpec")),
    Query("q_audio_fingerprint", qAudioFingerprint, Oracle(qAudioFingerprintSql)),
    // planted-scene recovery
    Query("q_shot_detect", qShotDetect, RowsOnly("ShotDetectSpec")),
    // golden hash and exact-duplicate recall
    Query("q_phash_dedup", qPhashDedup, RowsOnly("OperatorsSpec")),
    Query("q_audio_frames", qAudioFrames, Oracle(qAudioFramesSql)),
    Query("q_multimodal_meta", qMultimodalMeta, Oracle(qMultimodalMetaSql)),
    Query("q_media_geo", qMediaGeo, Oracle(qMediaGeoSql)),
    // golden pixels
    Query("q_media_pipeline", qMediaPipeline, RowsOnly("OperatorsSpec")),
    // g2 per-row parity and the g5 batch plan
    Query("q_media_batched", qMediaBatched, RowsOnly("OperatorsSpec")),
    Query("q_frame_sample", qFrameSample, Oracle(qFrameSampleSql)),
    Query("q_resize_plan", qResizePlan, Oracle(qResizePlanSql)),
    Query("q_decode_batches", qDecodeBatches, Oracle(qDecodeBatchesSql)))
}
