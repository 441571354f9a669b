package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import util._

/** Multimodal-column plumbing for a training-data pipeline: image/audio/
  * video ride along as opaque `binary` columns with typed metadata, and
  * decode / feature-extraction runs as partition-local batch transforms.
  *
  * All three paths are real end to end. IMAGE: `syntheticMedia` emits
  * genuine PNG blobs, `decodeImage` reads them with javax.imageio and
  * computes the true pixel mean, and `resizeImage` decodes → rescales →
  * re-encodes. AUDIO: `wavBytes` emits genuine RIFF/WAVE 16-bit PCM
  * blobs and `decodeAudio` parses them with javax.sound.sampled,
  * reporting the true sample count and mean absolute amplitude. VIDEO:
  * `y4mBytes` emits genuine YUV4MPEG2 streams (this container ships no
  * compressed-video codec, but Y4M is a real interchange container —
  * what ffmpeg pipes between tools) and `y4mOpen`/`decodeVideo` demux
  * the FRAME records and read the raw 4:2:0 YCbCr planes; frame
  * sampling decodes and rescales real luma pixels. Shared by all three:
  * the schema, the mapPartitions batch shape (the Scala analog of
  * mapInPandas: one iterator per partition, amortizing per-batch
  * setup), and the partitioning strategy.
  *
  * Scale notes (100 TB of media):
  *  - binaries never shuffle: metadata extraction projects features
  *    immediately and drops the payload column before any wide stage;
  *  - `spark.sql.files.maxPartitionBytes` governs scan granularity, so a
  *    task holds a bounded number of blobs; feature extraction is
  *    embarrassingly parallel;
  *  - at rest, media lives in its own column family (parquet binary) or
  *    object store with pointer columns — both shapes read through the
  *    same decode entry points.
  */
object Multimodal {

  /** One media row: payload + typed metadata. */
  final case class MediaRow(media_id: Long, modality: String,
                            payload: Array[Byte], width: Int, height: Int,
                            sample_rate: Int)

  /** Extracted features (what a real decoder would emit per blob). */
  final case class MediaFeatures(media_id: Long, modality: String,
                                 n_bytes: Long, checksum: Long,
                                 mean_intensity: Double, n_frames: Int)

  // javax.imageio would otherwise spool through temp files per blob —
  // pure in-memory codec work is what an executor task wants
  private lazy val imageIoReady: Boolean = {
    javax.imageio.ImageIO.setUseCache(false)
    true
  }

  /** Deterministic 8-bit grayscale PNG — a real, decodable image whose
    * pixels derive from (docId, pixel index) so every run and every
    * engine sees the same bytes.
    */
  private[graft] def pngBytes(docId: Long, w: Int, h: Int): Array[Byte] = {
    require(imageIoReady)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val mix = docId * 6364136223846793005L +
          (y.toLong * w + x) * 1442695040888963407L
        raster.setSample(x, y, 0, ((mix >>> 33) & 0xFF).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** REAL image decode: javax.imageio parses the blob; mean intensity is
    * the true mean over every pixel sample of every band, scaled to
    * [0, 1] by each band's ACTUAL sample depth (a 16-bit PNG divides by
    * 65535, not 255). One frame by definition of a still image.
    */
  def decodeImage(payload: Array[Byte]): (Double, Int) = {
    require(imageIoReady)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, "payload is not a decodable image")
    val raster = img.getRaster
    val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
    // exact integer accumulation per band, ONE division by the band's
    // actual depth max at the end — a 16-bit PNG divides by 65535, an
    // 8-bit one by 255 (and no per-sample float rounding accumulates)
    val bandSum = new Array[Long](bands)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var b = 0
        while (b < bands) {
          bandSum(b) += raster.getSample(x, y, b)
          b += 1
        }
        x += 1
      }
      y += 1
    }
    var norm = 0.0
    var b = 0
    while (b < bands) {
      val depthMax = ((1L << raster.getSampleModel.getSampleSize(b)) - 1L).toDouble
      norm += bandSum(b) / depthMax
      b += 1
    }
    (norm / (w.toLong * h * bands), 1)
  }

  /** Deterministic 16-bit mono PCM WAV — a real, decodable audio blob.
    * The waveform is a square wave whose amplitude derives from the doc
    * id (sign flips every 32 samples), so the mean ABSOLUTE amplitude
    * is exactly `amp` and tests can assert it to the bit.
    */
  private[graft] def wavAmplitude(docId: Long): Int =
    1000 + (docId % 8).toInt * 3000

  private[graft] def wavBytes(docId: Long, nSamples: Int,
                              sampleRate: Int): Array[Byte] = {
    val amp = wavAmplitude(docId)
    val data = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val v = if (((i / 32) & 1) == 0) amp else -amp
      data(2 * i) = (v & 0xFF).toByte // WAV PCM is little-endian
      data(2 * i + 1) = ((v >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL audio decode: javax.sound.sampled parses the RIFF/WAVE
    * container and format chunk; features are the true PCM frame count
    * and the mean absolute sample amplitude scaled to [0, 1] (÷ 2¹⁵ for
    * 16-bit). Rejects anything but the 16-bit mono little-endian PCM it
    * is given — a production pipeline would transcode other formats at
    * this boundary.
    */
  def decodeAudio(payload: Array[Byte]): (Double, Int) = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    val fmt = ais.getFormat
    require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
              !fmt.isBigEndian,
            s"expected 16-bit mono little-endian PCM, got $fmt")
    val bytes = ais.readAllBytes()
    val n = bytes.length / 2
    var sumAbs = 0L
    var i = 0
    while (i < n) {
      val v = ((bytes(2 * i) & 0xFF) | (bytes(2 * i + 1) << 8)).toShort.toInt
      sumAbs += math.abs(v)
      i += 1
    }
    (if (n == 0) 0.0 else sumAbs.toDouble / n / 32768.0, n)
  }

  /** Deterministic YUV4MPEG2 (Y4M) video blob: a real, parseable video
    * container — plain-text header, then per frame a `FRAME\n` marker and
    * raw 4:2:0 YCbCr planes. Pixels follow a closed-form gradient so
    * tests can assert exact plane means: Y(x,y,f) = (x+y+f+31·docId) mod
    * 256, Cb ≡ 128, Cr(f) = (64+f) mod 256.
    */
  private[graft] def y4mBytes(docId: Long, w: Int, h: Int,
                              nFrames: Int): Array[Byte] = {
    require(w % 2 == 0 && h % 2 == 0, "4:2:0 needs even dimensions")
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420jpeg\n"
      .getBytes("US-ASCII")
    val marker = "FRAME\n".getBytes("US-ASCII")
    val cw = w / 2
    val ch = h / 2
    val frameSize = w * h + 2 * cw * ch
    val out = new Array[Byte](header.length +
                                nFrames * (marker.length + frameSize))
    System.arraycopy(header, 0, out, 0, header.length)
    var off = header.length
    var f = 0
    while (f < nFrames) {
      System.arraycopy(marker, 0, out, off, marker.length)
      off += marker.length
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          out(off) = ((x + y + f + 31 * docId) & 0xFF).toByte
          off += 1
          x += 1
        }
        y += 1
      }
      java.util.Arrays.fill(out, off, off + cw * ch, 128.toByte)
      off += cw * ch
      java.util.Arrays.fill(out, off, off + cw * ch, ((64 + f) & 0xFF).toByte)
      off += cw * ch
      f += 1
    }
    out
  }

  /** A parsed Y4M stream: geometry plus a LAZY frame iterator — each
    * `next()` yields one frame's raw YCbCr bytes (Y plane first, then
    * Cb, Cr at quarter size). Long videos never materialize all frames.
    */
  private[graft] final case class Y4mVideo(width: Int, height: Int,
                                           frames: Iterator[Array[Byte]])

  /** REAL video demux: parses the YUV4MPEG2 stream header (W/H/C
    * parameters) and walks the FRAME records. Only 4:2:0 chroma (the
    * Y4M default and the dominant distribution format) is accepted —
    * a production pipeline would transcode other samplings here, the
    * same boundary contract as [[decodeAudio]].
    */
  private[graft] def y4mOpen(payload: Array[Byte]): Y4mVideo = {
    var nl = 0
    while (nl < payload.length && payload(nl) != '\n') nl += 1
    require(nl < payload.length, "no Y4M header terminator")
    val header = new String(payload, 0, nl, "US-ASCII")
    val toks = header.split(" ")
    require(toks.headOption.contains("YUV4MPEG2"), s"not a Y4M stream: $header")
    def param(p: Char): Option[String] =
      toks.tail.find(t => t.nonEmpty && t.head == p).map(_.tail)
    val w = param('W').map(_.toInt).getOrElse(
      throw new IllegalArgumentException("Y4M header missing W"))
    val h = param('H').map(_.toInt).getOrElse(
      throw new IllegalArgumentException("Y4M header missing H"))
    val chroma = param('C').getOrElse("420jpeg")
    require(chroma.startsWith("420"), s"only 4:2:0 supported, got C$chroma")
    val frameSize = w * h + 2 * ((w + 1) / 2) * ((h + 1) / 2)
    val it = new Iterator[Array[Byte]] {
      private var off = nl + 1
      def hasNext: Boolean = off < payload.length
      def next(): Array[Byte] = {
        require(payload.length - off >= 5 &&
                  new String(payload, off, 5, "US-ASCII") == "FRAME",
                s"bad FRAME marker at offset $off")
        var e = off + 5
        while (e < payload.length && payload(e) != '\n') e += 1
        require(e < payload.length, "unterminated FRAME header")
        val start = e + 1
        require(payload.length - start >= frameSize,
                s"truncated frame at offset $start")
        off = start + frameSize
        java.util.Arrays.copyOfRange(payload, start, start + frameSize)
      }
    }
    Y4mVideo(w, h, it)
  }

  /** REAL video decode: demux the Y4M container, accumulate every plane
    * sample of every frame exactly (integer sum, one division at the
    * end), report mean sample intensity in [0, 1] and the true frame
    * count.
    */
  def decodeVideo(payload: Array[Byte]): (Double, Int) = {
    val v = y4mOpen(payload)
    var sum = 0L
    var bytes = 0L
    var n = 0
    v.frames.foreach { fr =>
      var i = 0
      while (i < fr.length) { sum += (fr(i) & 0xFF); i += 1 }
      bytes += fr.length
      n += 1
    }
    (if (bytes == 0) 0.0 else sum.toDouble / bytes / 255.0, n)
  }

  /** REAL plane scaler (nearest-neighbor) for the video frame path: maps
    * each target pixel back to its source pixel in the luma plane.
    */
  private[graft] def resizePlane(plane: Array[Byte], w: Int, h: Int,
                                 targetW: Int, targetH: Int): Array[Byte] = {
    val out = new Array[Byte](targetW * targetH)
    var ty = 0
    while (ty < targetH) {
      val sy = (ty.toLong * h / targetH).toInt
      var tx = 0
      while (tx < targetW) {
        val sx = (tx.toLong * w / targetW).toInt
        out(ty * targetW + tx) = plane(sy * w + sx)
        tx += 1
      }
      ty += 1
    }
    out
  }

  private def checksum(payload: Array[Byte]): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
    h
  }

  /** Partition-local batch decode: Dataset[MediaRow] → Dataset[MediaFeatures].
    * One task iterates its partition's blobs; per-partition setup (a real
    * decoder context) would be allocated once per iterator, exactly like
    * a mapInPandas batch function.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // (audio/video pipeline: allocate codec context here, once per task)
      rows.map { r =>
        val (mean, frames) = r.modality match {
          case "image" => decodeImage(r.payload)
          case "audio" => decodeAudio(r.payload)
          case _       => decodeVideo(r.payload)
        }
        MediaFeatures(r.media_id, r.modality, r.payload.length.toLong,
                      checksum(r.payload), mean, frames)
      }
    }
  }

  /** Deterministic synthetic media table built from `documents` — stands
    * in for a real blob column in the driver testdata. Image rows carry
    * genuine 64×64 grayscale PNGs, audio rows genuine 16-bit PCM WAVs,
    * video rows genuine 16×16 YUV4MPEG2 streams of 31–120 frames (all
    * seeded by doc_id).
    *
    * Materialized ONCE per data dir (reported under seed_sec like the
    * other standing inputs): a real lake holds its
    * blobs at rest, and every multimodal key's declared operator is the
    * DECODE side — before this the five consumers re-ENCODED the whole
    * blob table (PNG deflate, RIFF packing, Y4M muxing) on every
    * invocation just to decode it again. Content is a pure function of
    * doc_id, so the parquet round-trip is byte-identical (checksummed
    * by q_multimodal_decode/features against the analytic oracle every
    * run).
    */
  def syntheticMedia(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    val tmp = Relational.scratchDir("media_lake", dir)
    Seeds.once("media_lake", tmp) {
      genSyntheticMedia(spark, dir).write.mode("overwrite").parquet(tmp)
    }
    Tables.parquet(spark, tmp)
      .as[MediaRow](org.apache.spark.sql.Encoders.product[MediaRow])
  }

  /** The generator behind [[syntheticMedia]] — encodes every blob. */
  private def genSyntheticMedia(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), pmod(col("doc_id"), lit(3)).as("m"))
      .map { r =>
        r.getLong(2) match {
          case 0 => MediaRow(r.getLong(0), "image", pngBytes(r.getLong(0), 64, 64),
                             width = 64, height = 64, sample_rate = 0)
          case 1 => MediaRow(r.getLong(0), "audio",
                             wavBytes(r.getLong(0),
                                      nSamples = 2048 + (r.getLong(0) % 5).toInt * 256,
                                      sampleRate = 16000),
                             width = 0, height = 0, sample_rate = 16000)
          case _ => MediaRow(r.getLong(0), "video",
                             y4mBytes(r.getLong(0), w = 16, h = 16,
                                      nFrames = 31 + (r.getLong(0) % 90).toInt),
                             width = 16, height = 16, sample_rate = 0)
        }
      }
  }

  /** Per-modality feature aggregate: synthesize blobs → decode →
    * groupBy(modality). The payload column is dropped before the
    * groupBy, so no binary bytes cross the shuffle.
    *
    * DuckDB-oracled via the same analytic re-derivation as
    * [[qMultimodalDecode]] — every aggregated metric lives in the
    * DECODED domain (frame/sample counts, mean intensities), where the
    * generators are closed-form in doc_id. The container byte size is
    * deliberately NOT part of the gated row: PNG length crosses deflate,
    * whose output is compressor-implementation-defined, so no other
    * engine can re-derive it (payload sizes stay covered by
    * MultimodalSpec's direct assertions).
    */
  val qMultimodalFeatures: Q = (s, d) => {
    val feats = extractFeatures(syntheticMedia(s, d)).drop("checksum")
    feats.groupBy("modality")
      .agg(count(lit(1)).as("n_blobs"),
           sum(col("n_frames").cast("long")).as("total_frames"),
           round(avg(col("mean_intensity")), 6).as("avg_intensity"),
           max(col("n_frames")).cast("long").as("max_frames"))
      .orderBy("modality")
  }

  /** Analytic twin of [[qMultimodalFeatures]] — the same per-media
    * closed forms as [[qMultimodalDecodeSql]], but carrying the
    * UNROUNDED per-media mean into the modality-level average (the
    * engine rounds only the final avg). All division orders mirror the
    * decoders exactly, so the per-media doubles are bit-identical and
    * the avg differs only by summation order (≪ the 1e-6 gate).
    */
  val qMultimodalFeaturesSql: String =
    """WITH docs AS (
      |  SELECT doc_id, doc_id % 3 AS m FROM documents
      |), img AS (
      |  SELECT doc_id,
      |    SUM(CAST(((CAST(doc_id AS HUGEINT) * 6364136223846793005 +
      |               CAST(g.i AS HUGEINT) * 1442695040888963407)
      |              % 18446744073709551616)
      |             // 8589934592 % 256 AS BIGINT)) AS px
      |  FROM docs, generate_series(0, 4095) g(i)
      |  WHERE m = 0 GROUP BY doc_id
      |), imgf AS (
      |  SELECT doc_id, 'image' AS modality,
      |         px / 255.0 / 4096 AS mi, 1 AS nf
      |  FROM img
      |), audf AS (
      |  SELECT doc_id, 'audio' AS modality,
      |    CAST((1000 + (doc_id % 8) * 3000) * (2048 + (doc_id % 5) * 256)
      |         AS DOUBLE) / (2048 + (doc_id % 5) * 256) / 32768 AS mi,
      |    2048 + (doc_id % 5) * 256 AS nf
      |  FROM docs WHERE m = 1
      |), vf AS (
      |  SELECT doc_id, f.f AS f, (f.f + 31 * doc_id) % 256 AS c,
      |         31 + doc_id % 90 AS nf
      |  FROM docs, generate_series(0, 119) f(f)
      |  WHERE m = 2 AND f.f < 31 + doc_id % 90
      |), vy AS (
      |  SELECT doc_id,
      |    SUM((CASE WHEN s.s <= 15 THEN s.s + 1 ELSE 31 - s.s END) *
      |        ((c + s.s) % 256)) AS ysum
      |  FROM vf, generate_series(0, 30) s(s) GROUP BY doc_id
      |), vidf AS (
      |  SELECT v.doc_id, 'video' AS modality,
      |    CAST(y.ysum + v.ch AS DOUBLE) / (v.nf * 384) / 255 AS mi,
      |    v.nf AS nf
      |  FROM (SELECT doc_id, SUM(8192 + 64 * ((64 + f) % 256)) AS ch,
      |               MAX(nf) AS nf
      |        FROM vf GROUP BY doc_id) v
      |  JOIN vy y USING (doc_id)
      |), all_feats AS (
      |  SELECT * FROM imgf UNION ALL SELECT * FROM audf
      |  UNION ALL SELECT * FROM vidf
      |)
      |SELECT modality, count(*) AS n_blobs,
      |       CAST(SUM(nf) AS BIGINT) AS total_frames,
      |       round(avg(mi), 6) AS avg_intensity,
      |       CAST(MAX(nf) AS BIGINT) AS max_frames
      |FROM all_feats GROUP BY modality ORDER BY modality""".stripMargin

  /** REAL image resize: decode with javax.imageio, repaint onto a
    * target-sized canvas with bilinear interpolation, re-encode as PNG.
    * The output is a decodable image of exactly the target dimensions.
    */
  def resizeImage(payload: Array[Byte], targetW: Int, targetH: Int): Array[Byte] = {
    require(imageIoReady)
    val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(src != null, "payload is not a decodable image")
    // images ImageIO surfaces as TYPE_CUSTOM (0) — 16-bit or some
    // ICC-profile PNGs — have no matching BufferedImage constructor;
    // render those onto an ARGB canvas instead of throwing
    val dstType =
      if (src.getType == java.awt.image.BufferedImage.TYPE_CUSTOM)
        java.awt.image.BufferedImage.TYPE_INT_ARGB
      else src.getType
    val dst = new java.awt.image.BufferedImage(targetW, targetH, dstType)
    val g = dst.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                         java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(src, 0, 0, targetW, targetH, null)
    } finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(dst, "png", bos)
    bos.toByteArray
  }

  /** Binary-in/binary-out partition-local transform: images are resized
    * in place, other modalities pass through. Same batch discipline as
    * extractFeatures — and the resized payload stays partition-local
    * until a sink consumes it (no shuffle of binaries).
    */
  def resizeImages(media: Dataset[MediaRow], targetW: Int, targetH: Int)
      : Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        if (r.modality == "image")
          r.copy(payload = resizeImage(r.payload, targetW, targetH),
                 width = targetW, height = targetH)
        else r
      }
    }
  }

  /** One sampled frame of a video blob. */
  final case class FrameRow(media_id: Long, frame_idx: Int,
                            frame_bytes: Long, frame_checksum: Long)

  /** Frame sampling: 1→N row expansion, iterator-based so a long video
    * never materializes all frames in memory at once. The Y4M demuxer
    * streams frame records; every `stride`-th frame has its luma plane
    * decoded and resized (real nearest-neighbor over real pixels) to
    * 16×16, then is summarized (bytes + checksum) immediately so, as
    * everywhere else, no binary crosses a shuffle.
    */
  def sampleFrames(media: Dataset[MediaRow], stride: Int): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.filter(_.modality == "video").flatMap { r =>
        val v = y4mOpen(r.payload) // demux context allocated once per blob
        v.frames.zipWithIndex.collect {
          case (fr, idx) if idx % stride == 0 =>
            val luma = java.util.Arrays.copyOfRange(fr, 0, v.width * v.height)
            val frame = resizePlane(luma, v.width, v.height, 16, 16)
            var h = 1125899906842597L + idx
            var i = 0
            while (i < frame.length) { h = 31 * h + frame(i); i += 1 }
            FrameRow(r.media_id, idx, frame.length.toLong, h)
        }
      }
    }
  }

  /** Frame-sample pipeline: videos → every-30th frame → per-media frame
    * stats. DuckDB-oracled analytically: the sampled count is the
    * stride arithmetic over the closed-form frame count, each resized
    * 16×16 plane is 256 bytes, and a sampled frame's identity is
    * (frame_idx, gradient offset c) — the checksum seeds with the frame
    * index and the resized plane is fully determined by
    * c = (f + 31·doc) mod 256, so distinct checksums = distinct
    * (idx, c) pairs (MultimodalSpec covers checksum determinism).
    */
  val qMultimodalFrames: Q = (s, d) => {
    sampleFrames(syntheticMedia(s, d), stride = 30)
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_sampled"),
           sum(col("frame_bytes")).as("sampled_bytes"),
           countDistinct(col("frame_checksum")).as("distinct_frames"))
      .orderBy("media_id")
  }

  val qMultimodalFramesSql: String =
    """WITH vids AS (
      |  SELECT doc_id, 31 + doc_id % 90 AS nf FROM documents
      |  WHERE doc_id % 3 = 2
      |), frames AS (
      |  SELECT doc_id, f.f AS frame_idx, (f.f + 31 * doc_id) % 256 AS c
      |  FROM vids, generate_series(0, 119) f(f)
      |  WHERE f.f < nf AND f.f % 30 = 0
      |)
      |SELECT doc_id AS media_id, count(*) AS n_sampled,
      |       CAST(count(*) * 256 AS BIGINT) AS sampled_bytes,
      |       count(DISTINCT frame_idx * 256 + c) AS distinct_frames
      |FROM frames GROUP BY doc_id ORDER BY media_id""".stripMargin

  /** Cross-engine decode gate: per media blob, the mean intensity and
    * frame count that the REAL codecs (javax.imageio PNG decode,
    * javax.sound WAV parse, the Y4M demuxer) extract from the real
    * container bytes. The generators are closed-form in doc_id, so the
    * DuckDB oracle re-derives every expected pixel / PCM sample / plane
    * byte ANALYTICALLY — a hash-pass proves, on every driver run, that
    * encode→container→decode is the identity for all three modalities.
    * (The PNG path crosses deflate compression; the WAV path crosses
    * the RIFF container; the Y4M path crosses the FRAME demux.)
    */
  val qMultimodalDecode: Q = (s, d) => {
    import s.implicits._
    extractFeatures(syntheticMedia(s, d))
      .toDF()
      .select(col("media_id"), col("modality"),
              round(col("mean_intensity"), 6).as("mean_intensity"),
              col("n_frames").cast("long").as("n_frames"))
      .orderBy("media_id")
  }

  /** Analytic re-derivation. Image: the pixel LCG runs in HUGEINT with
    * an explicit mod 2^64 (DuckDB raises on BIGINT overflow where the
    * JVM wraps; `>>> 33` equals `// 2^33` on the mod-2^64 value). Video:
    * per-frame luma sums via the 31-term diagonal-weight series of the
    * (x+y+f+31·doc) mod 256 gradient (w(s)=s+1 below the 16-diagonal,
    * 31−s above), plus the constant-plane chroma. Audio: a square wave's
    * mean |amplitude| is exactly its amplitude.
    */
  val qMultimodalDecodeSql: String =
    """WITH docs AS (
      |  SELECT doc_id, doc_id % 3 AS m FROM documents
      |), img AS (
      |  SELECT doc_id,
      |    SUM(CAST(((CAST(doc_id AS HUGEINT) * 6364136223846793005 +
      |               CAST(g.i AS HUGEINT) * 1442695040888963407)
      |              % 18446744073709551616)
      |             // 8589934592 % 256 AS BIGINT)) AS px
      |  FROM docs, generate_series(0, 4095) g(i)
      |  WHERE m = 0 GROUP BY doc_id
      |), aud AS (
      |  SELECT doc_id, 1000 + (doc_id % 8) * 3000 AS amp,
      |         2048 + (doc_id % 5) * 256 AS n
      |  FROM docs WHERE m = 1
      |), vf AS (
      |  SELECT doc_id, f.f AS f, (f.f + 31 * doc_id) % 256 AS c,
      |         31 + doc_id % 90 AS nf
      |  FROM docs, generate_series(0, 119) f(f)
      |  WHERE m = 2 AND f.f < 31 + doc_id % 90
      |), vy AS (
      |  SELECT doc_id,
      |    SUM((CASE WHEN s.s <= 15 THEN s.s + 1 ELSE 31 - s.s END) *
      |        ((c + s.s) % 256)) AS ysum
      |  FROM vf, generate_series(0, 30) s(s) GROUP BY doc_id
      |), vch AS (
      |  SELECT doc_id, SUM(8192 + 64 * ((64 + f) % 256)) AS ch,
      |         MAX(nf) AS nf
      |  FROM vf GROUP BY doc_id
      |)
      |SELECT doc_id AS media_id, 'image' AS modality,
      |       round(px / 255.0 / 4096, 6) AS mean_intensity,
      |       CAST(1 AS BIGINT) AS n_frames
      |FROM img
      |UNION ALL
      |SELECT doc_id, 'audio',
      |       round(CAST(amp * n AS DOUBLE) / n / 32768, 6),
      |       CAST(n AS BIGINT)
      |FROM aud
      |UNION ALL
      |SELECT v.doc_id, 'video',
      |       round(CAST(y.ysum + v.ch AS DOUBLE) / (v.nf * 384) / 255, 6),
      |       CAST(v.nf AS BIGINT)
      |FROM vch v JOIN vy y USING (doc_id)
      |ORDER BY media_id""".stripMargin

  /** Frame-sampling gate: every 30th frame's resized 16×16 luma plane,
    * summarized as exact integer stats — oracles the stride arithmetic,
    * the plane slicing, and the (identity at 16×16) resize against the
    * same analytic gradient as [[qMultimodalDecode]].
    */
  val qMultimodalFramesLuma: Q = (s, d) => {
    import s.implicits._
    syntheticMedia(s, d).mapPartitions { rows =>
      rows.filter(_.modality == "video").flatMap { r =>
        val v = y4mOpen(r.payload)
        v.frames.zipWithIndex.collect {
          case (fr, idx) if idx % 30 == 0 =>
            val luma = java.util.Arrays.copyOfRange(fr, 0, v.width * v.height)
            val res = resizePlane(luma, v.width, v.height, 16, 16)
            var sum = 0L; var mn = 255; var mx = 0
            res.foreach { b =>
              val u = b & 0xFF
              sum += u; mn = math.min(mn, u); mx = math.max(mx, u)
            }
            (r.media_id, idx.toLong, sum, mn.toLong, mx.toLong)
        }
      }
    }.toDF("media_id", "frame_idx", "luma_sum", "luma_min", "luma_max")
      .orderBy("media_id", "frame_idx")
  }

  val qMultimodalFramesLumaSql: String =
    """WITH vids AS (
      |  SELECT doc_id, 31 + doc_id % 90 AS nf FROM documents
      |  WHERE doc_id % 3 = 2
      |), frames AS (
      |  SELECT doc_id, f.f AS frame_idx, (f.f + 31 * doc_id) % 256 AS c
      |  FROM vids, generate_series(0, 119) f(f)
      |  WHERE f.f < nf AND f.f % 30 = 0
      |), terms AS (
      |  SELECT doc_id, frame_idx,
      |         (CASE WHEN s.s <= 15 THEN s.s + 1 ELSE 31 - s.s END) AS wgt,
      |         (c + s.s) % 256 AS val
      |  FROM frames, generate_series(0, 30) s(s)
      |)
      |SELECT doc_id AS media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
      |       CAST(SUM(wgt * val) AS BIGINT) AS luma_sum,
      |       MIN(val) AS luma_min, MAX(val) AS luma_max
      |FROM terms GROUP BY 1, 2 ORDER BY media_id, frame_idx""".stripMargin

  /** Nearest-neighbor grayscale resize to a real PNG: decode the source
    * raster, sample src(4x, 4y) for the 64→16 downscale (exact integer
    * stride, no interpolation arithmetic to diverge on), re-encode as a
    * genuine 16×16 PNG, then DECODE THAT and report its exact pixel sum
    * — the gate proves the whole resize → encode → decode loop is
    * lossless (PNG is), not just the sampling math.
    */
  private[graft] def resizeNearestGray(payload: Array[Byte],
                                       tw: Int, th: Int): Array[Byte] = {
    require(imageIoReady)
    val src = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    require(src != null, "payload is not a decodable image")
    val sr = src.getRaster
    val dst = new java.awt.image.BufferedImage(
      tw, th, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val dr = dst.getRaster
    var y = 0
    while (y < th) {
      var x = 0
      while (x < tw) {
        dr.setSample(x, y, 0,
          sr.getSample(x * src.getWidth / tw, y * src.getHeight / th, 0))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(dst, "png", bos)
    bos.toByteArray
  }

  /** Image-resize gate: decode → nearest-neighbor 16×16 → re-encode →
    * re-decode → exact stats. Per-blob and embarrassingly parallel like
    * every multimodal op here (one task touches one blob; the 16×
    * byte reduction happens BEFORE anything could cross a shuffle —
    * the order a 100 TB media pipeline must do it in). Oracle: the
    * sampled pixels are the generator LCG at indices 256·y + 4·x, so
    * DuckDB re-derives the resized pixel sum analytically.
    */
  val qMultimodalResize: Q = (s, d) => {
    import s.implicits._
    syntheticMedia(s, d)
      .filter(_.modality == "image")
      .mapPartitions { rows =>
        rows.map { r =>
          val small = resizeNearestGray(r.payload, 16, 16)
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(small))
          val ras = img.getRaster
          var s0 = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) { s0 += ras.getSample(x, y, 0); x += 1 }
            y += 1
          }
          (r.media_id, img.getWidth, img.getHeight, s0,
           s0 / 255.0 / (img.getWidth * img.getHeight))
        }
      }
      .toDF("media_id", "out_w", "out_h", "px_sum", "mean_intensity")
      .select(col("media_id"), col("out_w").cast("long").as("out_w"),
              col("out_h").cast("long").as("out_h"), col("px_sum"),
              // UNROUNDED: both engines divide the same exact integer by
              // the same two literals, so the doubles are bit-identical;
              // a 6-dp round would re-introduce the one divergence (a
              // half-tie like 33966/65280 = .5203125 rounds HALF_UP in
              // the JVM, half-even in DuckDB)
              col("mean_intensity"))
      .orderBy("media_id")
  }

  /** Analytic twin: the resized image samples the source LCG at
    * (4y)·64 + 4x, summed over the 16×16 grid in exact HUGEINT→BIGINT
    * arithmetic; one division pair mirrors the engine expression.
    */
  val qMultimodalResizeSql: String =
    """SELECT doc_id AS media_id,
      |  CAST(16 AS BIGINT) AS out_w, CAST(16 AS BIGINT) AS out_h,
      |  CAST(SUM(CAST(((CAST(doc_id AS HUGEINT) * 6364136223846793005 +
      |             CAST(gy.i * 256 + gx.i * 4 AS HUGEINT)
      |               * 1442695040888963407)
      |            % 18446744073709551616)
      |           // 8589934592 % 256 AS BIGINT)) AS BIGINT) AS px_sum,
      |  SUM(CAST(((CAST(doc_id AS HUGEINT) * 6364136223846793005 +
      |             CAST(gy.i * 256 + gx.i * 4 AS HUGEINT)
      |               * 1442695040888963407)
      |            % 18446744073709551616)
      |           // 8589934592 % 256 AS BIGINT)) / 255.0 / 256
      |    AS mean_intensity
      |FROM documents, generate_series(0, 15) gy(i),
      |     generate_series(0, 15) gx(i)
      |WHERE doc_id % 3 = 0
      |GROUP BY doc_id ORDER BY media_id""".stripMargin

  /** Deterministic 32×32 grayscale PNG with md5-derived pixels —
    * pixel i is byte i%16 of md5("docId:i/16"). Unlike [[pngBytes]]'s
    * LCG (whose images differ by a near-constant 64-bit offset across
    * doc ids, so their block statistics CORRELATE and a similarity
    * join over them degenerates toward all-pairs), md5 decorrelates
    * every image from every other — the property a near-dup benchmark
    * corpus needs. `truncate` clears each pixel's low 3 bits: the
    * planted near-duplicate standing in for a re-quantization of the
    * same photo.
    */
  private[graft] def pngBytesMd5(docId: Long, truncate: Boolean): Array[Byte] = {
    require(imageIoReady)
    val w = 32; val h = 32
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    val md = java.security.MessageDigest.getInstance("MD5")
    var chunk = 0
    while (chunk < w * h / 16) {
      val digest = md.digest(s"$docId:$chunk".getBytes("UTF-8"))
      var j = 0
      while (j < 16) {
        val i = chunk * 16 + j
        val p0 = digest(j) & 0xFF
        val p = if (truncate) p0 & 0xF8 else p0
        raster.setSample(i % w, i / w, 0, p)
        j += 1
      }
      chunk += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** 8×8 average-hash of a decoded grayscale image, kept as 64 bits in
    * block order: bit_k = 1 iff block k's pixel sum × 64 exceeds the
    * image total — i.e. the block is brighter than the image mean,
    * compared in PURE INTEGER arithmetic so every engine that can see
    * the pixels derives the identical hash (no float mean, no
    * thresholding drift). Block k covers the 8×8 pixel tile at
    * (k%8·w/8, k/8·h/8).
    */
  def averageHashBits(payload: Array[Byte]): Array[Int] = {
    require(imageIoReady)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    require(img != null, "payload is not a decodable image")
    val raster = img.getRaster
    val (w, h) = (img.getWidth, img.getHeight)
    val (bw, bh) = (w / 8, h / 8)
    val sums = new Array[Long](64)
    var total = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val s = raster.getSample(x, y, 0).toLong
        sums((y / bh) * 8 + x / bw) += s
        total += s
        x += 1
      }
      y += 1
    }
    sums.map(s => if (s * 64 > total) 1 else 0)
  }

  /** Perceptual-hash near-duplicate detection over the image corpus —
    * the visual analog of MinHash text dedup: every image (and a
    * planted low-bit-truncated variant of it) hashes to 64
    * brighter-than-mean block bits; hashes split into 4×16-bit bands;
    * candidate pairs share at least one band (NEVER all-pairs); the
    * verify stage counts differing bits and keeps pairs at Hamming ≤ 8.
    * The decode is the real javax.imageio path; the hash is
    * integer-exact, so the DuckDB oracle re-derives every bit, every
    * band value, the band-collision candidacy, AND the Hamming verdicts
    * from the generator's closed form — the full detection path is
    * hash-gated, not just its statistics.
    *
    * At 100 TB: hashing is per-blob and embarrassingly parallel (the
    * binary never shuffles — 64 bits + 4 band ints leave the scan); the
    * band self-join is the same bucketed shape as q_dedup_near, with
    * 16-bit band values bounding each bucket; verification touches only
    * band-colliding pairs. The truncation variant doubles as the
    * robustness contract: a re-quantized image lands ≤ a few bits away,
    * while unrelated noise images sit near Hamming 32 and never pass.
    */
  val qMultimodalPhash: Q = (s, d) => {
    import s.implicits._
    val hashes = Tables.documents(s, d)
      .where(col("doc_id") % 3 === 0)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.flatMap { id =>
          Iterator(
            (id, "base", averageHashBits(pngBytesMd5(id, truncate = false))),
            (id, "trunc", averageHashBits(pngBytesMd5(id, truncate = true))))
        }
      }
      .map { case (id, role, bits) =>
        val bands = Array.tabulate(4) { j =>
          var v = 0; var k = 0
          while (k < 16) { v |= bits(j * 16 + k) << k; k += 1 }
          v
        }
        (id, role, bits, bands)
      }
      .toDF("doc_id", "role", "bits", "bands")
      // tiny (2 rows × ~80 B per image) — materialize once so the band
      // self-join reads checkpoint blocks instead of decoding twice,
      // without leaving a session-lifetime cache entry (q_dedup_near's
      // recipe)
      .localCheckpoint(true)
    val b = hashes.select(col("doc_id"), col("role"), col("bits"),
      posexplode(col("bands")).as(Seq("band", "val")))
    b.alias("a").join(b.alias("x"),
        col("a.band") === col("x.band") && col("a.val") === col("x.val") &&
          (col("a.doc_id") < col("x.doc_id") ||
            (col("a.doc_id") === col("x.doc_id") &&
              col("a.role") < col("x.role"))))
      .select(col("a.doc_id").as("doc_a"), col("a.role").as("role_a"),
        col("x.doc_id").as("doc_b"), col("x.role").as("role_b"),
        aggregate(zip_with(col("a.bits"), col("x.bits"),
          (p, q) => abs(p - q)), lit(0), (acc, v) => acc + v)
          .cast("long").as("hamming"))
      .groupBy("doc_a", "role_a", "doc_b", "role_b")
      .agg(min(col("hamming")).as("hamming"))
      .where(col("hamming") <= 8)
      .orderBy("doc_a", "role_a", "doc_b", "role_b")
  }

  /** Analytic twin: block sums from the generator LCG (trunc clears the
    * low 3 bits: (p//8)*8), integer-exact bits, band values, the
    * band-collision candidate join, and Hamming verdicts — the same
    * detection pipeline replayed in SQL.
    */
  val qMultimodalPhashSql: String =
    """WITH img AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
      |ch AS (
      |  SELECT doc_id, c.c AS c, md5(doc_id || ':' || c.c) AS hx
      |  FROM img, generate_series(0, 63) c(c)),
      |px AS (
      |  SELECT doc_id, c * 16 + b.b AS i,
      |    (strpos('0123456789abcdef', substr(hx, 2*b.b + 1, 1)) - 1) * 16 +
      |     strpos('0123456789abcdef', substr(hx, 2*b.b + 2, 1)) - 1 AS p
      |  FROM ch, generate_series(0, 15) b(b)),
      |blocks AS (
      |  SELECT doc_id, ((i // 32) // 4) * 8 + ((i % 32) // 4) AS b,
      |    SUM(p) AS s_base, SUM((p // 8) * 8) AS s_trunc
      |  FROM px GROUP BY 1, 2),
      |tot AS (
      |  SELECT doc_id, SUM(s_base) AS t_base, SUM(s_trunc) AS t_trunc
      |  FROM blocks GROUP BY 1),
      |h AS (
      |  SELECT blocks.doc_id, 'base' AS role, b,
      |    CASE WHEN s_base * 64 > t_base THEN 1 ELSE 0 END AS bit
      |  FROM blocks JOIN tot USING (doc_id)
      |  UNION ALL
      |  SELECT blocks.doc_id, 'trunc' AS role, b,
      |    CASE WHEN s_trunc * 64 > t_trunc THEN 1 ELSE 0 END AS bit
      |  FROM blocks JOIN tot USING (doc_id)),
      |bands AS (
      |  SELECT doc_id, role, b // 16 AS band,
      |    SUM(bit * (1 << (b % 16))) AS val
      |  FROM h GROUP BY 1, 2, 3),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS da, a.role AS ra,
      |                  x.doc_id AS db, x.role AS rb
      |  FROM bands a JOIN bands x
      |    ON a.band = x.band AND a.val = x.val
      |  WHERE a.doc_id < x.doc_id
      |     OR (a.doc_id = x.doc_id AND a.role < x.role)),
      |ham AS (
      |  SELECT c.da, c.ra, c.db, c.rb,
      |    SUM(abs(p.bit - q.bit)) AS hamming
      |  FROM cand c
      |  JOIN h p ON p.doc_id = c.da AND p.role = c.ra
      |  JOIN h q ON q.doc_id = c.db AND q.role = c.rb AND q.b = p.b
      |  GROUP BY 1, 2, 3, 4)
      |SELECT da AS doc_a, ra AS role_a, db AS doc_b, rb AS role_b,
      |  CAST(hamming AS BIGINT) AS hamming
      |FROM ham WHERE hamming <= 8
      |ORDER BY doc_a, role_a, doc_b, role_b""".stripMargin

  /** Shot-boundary detection over the Y4M videos: demux every frame
    * (the real [[y4mOpen]] path — lazy iterator, frames never
    * co-resident), integer luma sum per frame, and a cut wherever the
    * absolute frame-to-frame change exceeds the threshold — the
    * frame-diff detector every video curation pipeline starts with.
    * All integer arithmetic end to end (sums, lags, compares), and the
    * generator's luma is closed-form, so the DuckDB oracle re-derives
    * every frame sum, every diff, and every cut verdict analytically.
    *
    * At 100 TB: per-blob sequential demux, embarrassingly parallel;
    * each task carries one running (prev_sum) accumulator per video —
    * nothing but the per-video summary row leaves the scan.
    */
  val qMultimodalShots: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .where(col("doc_id") % 3 === 2)
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val v = y4mOpen(y4mBytes(id, 16, 16, (31 + id % 90).toInt))
          val lumaSums = v.frames.map { fr =>
            var sum = 0L; var i = 0
            val n = v.width * v.height
            while (i < n) { sum += fr(i) & 0xFF; i += 1 }
            sum
          }.toArray
          val diffs = lumaSums.sliding(2).collect {
            case Array(a, b) => math.abs(b - a) }.toArray
          val cuts = diffs.zipWithIndex.collect {
            case (diff, i) if diff > 1000 => (i + 1).toLong }
          (id, lumaSums.length.toLong, cuts.length + 1L,
           if (diffs.isEmpty) 0L else diffs.max, cuts.headOption)
        }
      }
      .toDF("media_id", "n_frames", "n_shots", "max_abs_diff", "first_cut")
      .orderBy("media_id")
  }

  /** Analytic twin: frame luma sums via the weight table of
    * [[qMultimodalFramesLumaSql]] over EVERY frame, then a lag window
    * per video for the diffs and cut verdicts.
    */
  val qMultimodalShotsSql: String =
    """WITH vids AS (
      |  SELECT doc_id, 31 + doc_id % 90 AS nf FROM documents
      |  WHERE doc_id % 3 = 2
      |), frames AS (
      |  SELECT doc_id, nf, f.f AS fi, (f.f + 31 * doc_id) % 256 AS c
      |  FROM vids, generate_series(0, 119) f(f)
      |  WHERE f.f < nf
      |), sums AS (
      |  SELECT doc_id, nf, fi,
      |    SUM((CASE WHEN s.s <= 15 THEN s.s + 1 ELSE 31 - s.s END) *
      |        ((c + s.s) % 256)) AS ls
      |  FROM frames, generate_series(0, 30) s(s)
      |  GROUP BY 1, 2, 3
      |), d AS (
      |  SELECT doc_id, nf, fi,
      |    abs(ls - lag(ls) OVER (PARTITION BY doc_id ORDER BY fi)) AS ad
      |  FROM sums)
      |SELECT doc_id AS media_id,
      |  CAST(any_value(nf) AS BIGINT) AS n_frames,
      |  CAST(1 + count(*) FILTER (ad > 1000) AS BIGINT) AS n_shots,
      |  CAST(coalesce(max(ad), 0) AS BIGINT) AS max_abs_diff,
      |  CAST(min(fi) FILTER (ad > 1000) AS BIGINT) AS first_cut
      |FROM d GROUP BY doc_id ORDER BY media_id""".stripMargin

  val entries: Map[String, Q] = Map(
    "q_multimodal_shots"       -> qMultimodalShots,
    "q_multimodal_phash"       -> qMultimodalPhash,
    "q_multimodal_resize"      -> qMultimodalResize,
    "q_multimodal_features"    -> qMultimodalFeatures,
    "q_multimodal_frames"      -> qMultimodalFrames,
    "q_multimodal_decode"      -> qMultimodalDecode,
    "q_multimodal_frames_luma" -> qMultimodalFramesLuma
  )

  val oracles: Map[String, String] = Map(
    "q_multimodal_shots"       -> qMultimodalShotsSql,
    "q_multimodal_phash"       -> qMultimodalPhashSql,
    "q_multimodal_resize"      -> qMultimodalResizeSql,
    "q_multimodal_decode"      -> qMultimodalDecodeSql,
    "q_multimodal_frames_luma" -> qMultimodalFramesLumaSql,
    "q_multimodal_features"    -> qMultimodalFeaturesSql,
    "q_multimodal_frames"      -> qMultimodalFramesSql
  )
}
