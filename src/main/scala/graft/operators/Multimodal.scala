package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (BASELINE north star).
  *
  * Images/audio/video are opaque `binary` columns plus typed metadata — the
  * lakehouse-standard layout (one row per asset; bytes inline below a size
  * threshold, else a URI to object storage). The Spark-side plumbing here is
  * real and tested: schema, partition sizing, batch-shaped decode surface.
  * IMAGE decode and resize are REAL on the JDK's built-in `javax.imageio`
  * (PNG/JPEG/GIF/BMP — [[JdkImageCodec]]): header-only dimension reads for
  * the feature pass, bilinear scale + PNG re-encode for resize. Payloads no
  * registered reader accepts (audio, video, synthetic fixtures) fall back
  * to a declared deterministic stub behind the same `mapPartitions` batch
  * interface a heavier codec (JNI/FFM, or a Python `mapInPandas` worker)
  * plugs into; VIDEO frame extraction remains stubbed (no container
  * demuxer ships with the JDK).
  *
  * Scale notes: assets are large and incompressible — the operator never
  * shuffles bytes (decode/feature-extract are narrow maps); metadata-only
  * queries must prune the binary column at the scan (columnar parquet makes
  * that free — verified by ReadSchema in the plan).
  */
object Multimodal {

  val AssetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = true),
    StructField("bytes", BinaryType, nullable = true),
    StructField("byte_len", LongType, nullable = true)
  ))

  /** Wrap a text/binary-bearing frame into the asset layout (used by tests
    * and queries to fabricate binary columns from the `documents` fixture —
    * deterministic, no external data).
    */
  def toAssets(docs: DataFrame, idCol: String, payloadCol: String,
      mediaType: String = "application/octet-stream"): DataFrame =
    docs.select(
      col(idCol).cast("long").alias("asset_id"),
      lit(mediaType).alias("media_type"),
      col(payloadCol).cast("binary").alias("bytes"),
      length(col(payloadCol).cast("binary")).cast("long").alias("byte_len"))

  final case class AssetFeatures(
      asset_id: Long,
      byte_len: Option[Long], // null assets are in-contract (null payloads)
      // STUB decode output: deterministic pseudo-metadata derived from bytes.
      // A real decoder would emit true width/height/duration here.
      width: Int,
      height: Int,
      channels: Int,
      checksum: String)

  /** "Decode" + feature-extract over batches. The per-partition iterator is
    * the production batch shape (amortizes codec init per partition, streams
    * rows without materializing the partition); only the innermost
    * `decodeStub` is fake.
    */
  def extractFeatures(assets: DataFrame): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets
      .select(col("asset_id"), col("bytes"), col("byte_len"))
      // Option[Long]: a null payload has null byte_len, and a primitive Long
      // encoder would NPE at deserialization before decodeStub's null guard
      // ever ran
      .as[(Long, Array[Byte], Option[Long])]
      .mapPartitions { it =>
        // codec init is JVM-wide (imageio's reader registry); the
        // per-partition iterator is still the batch shape a heavier
        // codec initializes in
        it.map { case (id, bytes, len) =>
          // REAL header decode for anything imageio reads (PNG/JPEG/GIF/
          // BMP); the deterministic stub only for payloads it cannot
          val (w, h, c) = JdkImageCodec.dims(bytes).getOrElse(decodeStub(bytes))
          AssetFeatures(id, len, w, h, c, checksumHex(bytes))
        }
      }
      .toDF()
  }

  /** Real image codec on the JDK's built-in `javax.imageio` — PNG, JPEG,
    * GIF, BMP with zero added dependencies. Every entry answers `None`
    * for payloads no registered reader accepts (text bytes, audio, video,
    * truncated files): callers fall back to the declared deterministic
    * stub, which keeps the non-media fixtures and the plumbing contracts
    * byte-stable. Executor-side: all methods are pure byte→byte and run
    * inside the narrow `mapPartitions` kernels below.
    */
  private[operators] object JdkImageCodec {
    import java.io.ByteArrayInputStream

    /** (width, height, channels) from the image HEADER only — no pixel
      * decode (`ImageReader.getWidth/getHeight` read metadata), so the
      * feature pass over a 100-TB asset table pays bytes-in-cache header
      * parsing, not a full raster per row.
      */
    def dims(bytes: Array[Byte]): Option[(Int, Int, Int)] =
      if (bytes == null || bytes.isEmpty) None
      else try {
        javax.imageio.ImageIO.setUseCache(false)
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val r = readers.next()
            try {
              r.setInput(iis)
              val w = r.getWidth(0)
              val h = r.getHeight(0)
              val it = r.getImageTypes(0)
              val c = if (it != null && it.hasNext)
                it.next().getColorModel.getNumComponents else 3
              Some((w, h, c))
            } finally r.dispose()
          }
        } finally iis.close()
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Sample every `everyNth`-th STORED frame of a multi-frame image
      * (animated GIF — the one multi-frame format the JDK reads natively)
      * as `(sourceFrameIndex, pngBytes)`, capped at `maxFrames`. Each
      * sampled frame is the stored raster decoded by `ImageReader.read(i)`
      * and re-encoded PNG — real pixel decode per frame, no container
      * demuxer needed. (GIF frames can be delta RECTS against the logical
      * screen; a playback-compositing sampler would additionally apply
      * disposal methods — the training-data shape wants the stored
      * rasters, which is also what keeps the kernel deterministic.)
      * None when no registered reader accepts the payload, it carries no
      * frame, or any sampled frame fails to decode — callers fall back to
      * the declared stub so non-GIF media keep flowing.
      */
    def sampleFramesPng(bytes: Array[Byte], everyNth: Int,
        maxFrames: Int): Option[Seq[(Int, Array[Byte])]] =
      if (bytes == null || bytes.isEmpty) None
      else try {
        javax.imageio.ImageIO.setUseCache(false)
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val r = readers.next()
            try {
              r.setInput(iis)
              // allowSearch=true: GIF stores no frame count up front — the
              // reader walks the stream once (bytes are already in memory)
              val n = r.getNumImages(true)
              if (n <= 0) None
              else Some((0 until n by everyNth).take(maxFrames).map { i =>
                val img = r.read(i)
                val baos = new java.io.ByteArrayOutputStream()
                javax.imageio.ImageIO.write(img, "png", baos)
                (i, baos.toByteArray)
              })
            } finally r.dispose()
          }
        } finally iis.close()
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Decode → bilinear scale to exactly `w`×`h` → re-encode PNG.
      * Output type is pinned (`TYPE_INT_ARGB` + software bilinear raster)
      * so the bytes are deterministic for a given JDK — and ARGB, not
      * RGB, because compositing a transparent source onto an opaque
      * raster would silently flatten its alpha onto black (PNG carries
      * alpha; the re-encode must too).
      */
    def resizePng(bytes: Array[Byte], w: Int, h: Int): Option[Array[Byte]] =
      if (bytes == null || bytes.isEmpty) None
      else try {
        javax.imageio.ImageIO.setUseCache(false)
        Option(javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes)))
          .map { src =>
            val dst = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_ARGB)
            val g = dst.createGraphics()
            try {
              g.setRenderingHint(
                java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(src, 0, 0, w, h, null)
            } finally g.dispose()
            val baos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(dst, "png", baos)
            baos.toByteArray
          }
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Deterministic fake decode for payloads [[JdkImageCodec]] cannot read
    * (non-image media, synthetic fixtures): derives stable dimensions from
    * length/content, keeping the batch shape and null contracts identical
    * to the real path.
    */
  private def decodeStub(bytes: Array[Byte]): (Int, Int, Int) = {
    if (bytes == null || bytes.isEmpty) (0, 0, 0)
    else {
      val n = bytes.length
      val w = 16 + (n % 640)
      val h = 16 + ((n / 7) % 480)
      (w, h, 3)
    }
  }

  private def checksumHex(bytes: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(if (bytes == null) Array.emptyByteArray else bytes)
      .map("%02x".format(_)).mkString
  }

  /** Expression-only metadata profile (no decode): everything a pure
    * column-pruned scan can answer — byte length, emptiness, md5. This is
    * the query-side fast path; hash-comparable across engines.
    */
  def metadataProfile(assets: DataFrame): DataFrame =
    assets.select(
      col("asset_id"),
      col("media_type"),
      col("byte_len"),
      (col("byte_len").isNull || col("byte_len") === 0).alias("is_empty"),
      md5(col("bytes")).alias("content_md5"))

  final case class ResizedAsset(asset_id: Long, width: Int, height: Int, bytes: Array[Byte])

  /** Image resize over batches — narrow map, streaming iterator. The pixel
    * work is REAL for anything `javax.imageio` decodes (PNG/JPEG/GIF/BMP:
    * bilinear scale, PNG re-encode — [[JdkImageCodec.resizePng]]); payloads
    * no reader accepts fall back to the declared deterministic stub, so
    * non-image media keep flowing through the same plumbing instead of
    * failing the batch.
    */
  def resize(assets: DataFrame, width: Int, height: Int): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val out = JdkImageCodec.resizePng(bytes, width, height)
            .getOrElse(resizeStub(bytes, width, height))
          ResizedAsset(id, width, height, out)
        }
      }
      .toDF()
  }

  /** Frame sampling: emit one row per sampled frame (flatMap — row count
    * grows, still a narrow op; frame bytes never shuffle). REAL per-frame
    * pixel decode + PNG re-encode for any multi-frame payload
    * `javax.imageio` reads — animated GIF in a stock JDK
    * ([[JdkImageCodec.sampleFramesPng]]); payloads no reader accepts
    * (true video containers — no demuxer ships with the JDK) fall back to
    * the declared deterministic slice stub, keeping non-GIF media flowing
    * through the same plumbing. `frame_index` is the SOURCE frame index
    * (0, everyNth, 2·everyNth, …) on both paths.
    */
  def sampleFrames(assets: DataFrame, everyNth: Int, maxFrames: Int = 16): DataFrame = {
    require(everyNth >= 1, "everyNth must be >= 1")
    val spark = assets.sparkSession
    import spark.implicits._
    assets.select(col("asset_id"), col("bytes")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        JdkImageCodec.sampleFramesPng(bytes, everyNth, maxFrames) match {
          case Some(frames) => frames.map { case (i, f) => (id, i, f) }
          case None =>
            frameSampleStub(bytes, everyNth, maxFrames).zipWithIndex
              .map { case (f, i) => (id, i * everyNth, f) }
        }
      }
      .toDF("asset_id", "frame_index", "frame_bytes")
  }

  /** Deterministic stand-ins for the codec kernels (media libraries are not
    * available in this environment — see class doc).
    */
  private def resizeStub(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    if (bytes == null || bytes.isEmpty) Array.emptyByteArray
    else {
      val out = new Array[Byte](math.min(w * h / 64 + 1, bytes.length))
      var i = 0
      while (i < out.length) { out(i) = bytes(i % bytes.length); i += 1 }
      out
    }
  }

  private def frameSampleStub(bytes: Array[Byte], everyNth: Int, maxFrames: Int): Seq[Array[Byte]] = {
    if (bytes == null || bytes.isEmpty) Seq.empty
    else {
      val frameSize = math.max(bytes.length / 16, 1)
      val nFrames = math.min((bytes.length + frameSize - 1) / frameSize, maxFrames * everyNth)
      (0 until nFrames by everyNth).map { f =>
        bytes.slice(f * frameSize, math.min((f + 1) * frameSize, bytes.length))
      }
    }
  }
}
