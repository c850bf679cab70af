package graft.multimodal

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One media asset: opaque bytes + typed metadata. The schema an asset
  * manifest carries at 100 TB — content stays `binary` end-to-end; only
  * metadata and derived features are ever shuffled.
  */
final case class MediaAsset(
    media_id: Long,
    kind: String, // image | audio | video
    content: Array[Byte],
    meta: Map[String, String])

/** Decoded features for one asset: fixed-width vector + shape metadata.
  * `decoded` records provenance — true when a real codec produced the
  * dims/features, false for the deterministic byte-histogram fallback.
  */
final case class MediaFeatures(
    media_id: Long,
    kind: String,
    n_bytes: Int,
    width: Int,
    height: Int,
    features: Array[Float],
    decoded: Boolean)

/** Multimodal column plumbing (north-star surface): treat image/audio/video
  * as opaque `binary` columns, decode/feature-extract in BATCHED
  * per-partition workers, keep everything else relational.
  *
  * Decoding is REAL for images and WAV audio, via in-JDK codecs only:
  * `javax.imageio` (PNG/JPEG/BMP/GIF) yields actual pixel dimensions and
  * a luminance-histogram feature vector; `javax.sound.sampled` (WAV
  * PCM16) yields sample rate, channel count and an amplitude histogram.
  * Payloads neither codec reads — video (no JDK codec) and
  * opaque/undecodable bytes, including this container's synthetic
  * text-byte corpus — take the deterministic byte-histogram featurizer
  * ([[byteHistogramFeatures]]) so the pipeline is total: every asset gets
  * features, and the `decoded` flag records which path produced them.
  *
  * Scale notes: `mapPartitions` amortizes per-batch setup (a heavier
  * decoder loads its codec/model once per partition, exactly like a
  * Python `mapInPandas` worker would); binary payloads never pass through
  * a shuffle — features (16 floats) do. Partition sizing is the caller's
  * lever: `spark.sql.files.maxPartitionBytes` bounds decoder memory.
  */
object MediaPipeline {

  val FeatureDim = 16

  /** Build an asset table from any (id, bytes-ish) source. Used by tests to
    * synthesize media from document text; a real ingest reads
    * `binaryFile` sources (`spark.read.format("binaryFile")`).
    */
  def assetsFromDocuments(docs: DataFrame): Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    docs.select(
        $"doc_id".as("media_id"),
        element_at(typedLit(Seq("image", "audio", "video")), ($"doc_id" % 3).cast("int") + 1)
          .as("kind"),
        $"text".cast("binary").as("content"),
        map(lit("source"), lit("documents")).as("meta"))
      .as[MediaAsset]
  }

  /** Deterministic byte-histogram featurizer — the TOTAL fallback for
    * payloads with no in-JDK codec (audio/video) or undecodable bytes.
    * Law (recomputed SQL-side by the q62/q72 oracles): width = 16 +
    * len % 64, height = 16 + (len / 64) % 64, features[i] = count(bytes
    * with low nibble i) / max(len, 1) in float32.
    */
  private[multimodal] def byteHistogramFeatures(asset: MediaAsset): MediaFeatures = {
    val bytes = asset.content
    val width = 16 + (bytes.length % 64)
    val height = 16 + ((bytes.length / 64) % 64)
    val hist = new Array[Float](FeatureDim)
    bytes.foreach(b => hist((b & 0xff) % FeatureDim) += 1f)
    val total = math.max(bytes.length, 1).toFloat
    MediaFeatures(asset.media_id, asset.kind, bytes.length, width, height,
      hist.map(_ / total), decoded = false)
  }

  /** Cheap magic-byte sniff so the undecodable common case skips ImageIO's
    * stream machinery entirely (PNG, JPEG, BMP, GIF — the formats the JDK
    * reader handles).
    */
  private def looksLikeImage(b: Array[Byte]): Boolean =
    b.length >= 4 && (
      (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
        (b(0) == 0xFF.toByte && b(1) == 0xD8.toByte) ||
        (b(0) == 'B' && b(1) == 'M') ||
        (b(0) == 'G' && b(1) == 'I' && b(2) == 'F'))

  /** REAL image decode via the in-JDK `javax.imageio` (PNG/JPEG/BMP/GIF):
    * actual pixel dimensions, features = L1-normalized 16-bin luminance
    * histogram (integer Rec.601 weights — (299r+587g+114b)/1000 — so the
    * binning is exact integer arithmetic and bit-stable across runs).
    * None when ImageIO has no reader for the bytes.
    */
  private[multimodal] def decodeImage(asset: MediaAsset): Option[MediaFeatures] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(asset.content))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val hist = new Array[Float](FeatureDim)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
            hist(lum * FeatureDim / 256) += 1f
            x += 1
          }
          y += 1
        }
        val total = math.max(w * h, 1).toFloat
        Some(MediaFeatures(asset.media_id, asset.kind, asset.content.length,
          w, h, hist.map(_ / total), decoded = true))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** RIFF/WAVE magic — the container `javax.sound.sampled` decodes
    * without any external codec.
    */
  private def looksLikeWav(b: Array[Byte]): Boolean =
    b.length >= 12 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  /** REAL audio decode via the in-JDK `javax.sound.sampled` (WAV PCM):
    * width = sample rate (Hz), height = channel count, features =
    * L1-normalized 16-bin amplitude histogram of the signed 16-bit
    * samples (bin = (s + 32768) · 16 / 65536 — exact integer
    * arithmetic). Non-PCM16 encodings and unreadable streams fall back
    * (None).
    */
  private[multimodal] def decodeAudio(asset: MediaAsset): Option[MediaFeatures] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(asset.content))
      try {
        val fmt = in.getFormat
        if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
          fmt.getSampleSizeInBits != 16) None
        else {
          val bytes = in.readAllBytes()
          val hist = new Array[Float](FeatureDim)
          var i = 0
          var n = 0
          while (i + 1 < bytes.length) {
            val lo = bytes(i) & 0xff
            val hi = bytes(i + 1).toInt // sign-carrying high byte (LE WAV)
            val s = if (fmt.isBigEndian) (bytes(i).toInt << 8) | (bytes(i + 1) & 0xff)
                    else (hi << 8) | lo
            hist((s + 32768) * FeatureDim / 65536) += 1f
            n += 1
            i += 2
          }
          val total = math.max(n, 1).toFloat
          Some(MediaFeatures(asset.media_id, asset.kind, asset.content.length,
            fmt.getSampleRate.toInt, fmt.getChannels, hist.map(_ / total),
            decoded = true))
        }
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Decode one asset: images and WAV audio through the real in-JDK
    * codecs, everything else — and payloads the codecs reject — through
    * the fallback, so decode is total and never throws on a malformed
    * payload. Video has no JDK codec; it always takes the fallback.
    */
  private[multimodal] def decodeOne(asset: MediaAsset): MediaFeatures =
    (asset.kind match {
      case "image" if looksLikeImage(asset.content) => decodeImage(asset)
      case "audio" if looksLikeWav(asset.content) => decodeAudio(asset)
      case _ => None
    }).getOrElse(byteHistogramFeatures(asset))

  /** Batched decode: one worker instantiation per PARTITION, not per row.
    * This is the Scala analogue of `mapInPandas` batch shape.
    */
  def decode(assets: Dataset[MediaAsset]): Dataset[MediaFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { batch =>
      // per-partition decoder setup: keep ImageIO off its temp-file cache
      // (pure in-memory decode; executors may lack a scratch dir)
      javax.imageio.ImageIO.setUseCache(false)
      batch.map(decodeOne)
    }
  }

  /** REAL image resize: ImageIO decode → `Graphics2D.drawImage` bilinear
    * scaled redraw at (width, height) → lossless PNG re-encode, all
    * in-JDK and in-memory. Returns None for bytes ImageIO cannot read.
    * PNG output makes the round-trip deterministic (no lossy encoder
    * state) and `decode(resize(a))` reports exactly the target dims.
    * The canvas is TYPE_INT_ARGB (PNG carries alpha losslessly), so
    * transparent regions survive the redraw instead of being silently
    * composited onto black, and grayscale inputs keep their gray values
    * exactly (r7 advisor finding).
    */
  private[multimodal] def resizeImage(bytes: Array[Byte], width: Int,
      height: Int): Option[Array[Byte]] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val out = new java.awt.image.BufferedImage(width, height,
          java.awt.image.BufferedImage.TYPE_INT_ARGB)
        val g = out.createGraphics()
        try {
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, width, height, null)
        } finally g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        Some(bos.toByteArray)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Resize: REAL for images (decode → scaled redraw → PNG re-encode,
    * same batched per-partition shape as [[decode]]); payloads with no
    * JDK codec — audio/video and undecodable bytes — take the
    * deterministic every-k-th-byte subsample fallback so the operator is
    * total. `meta("resize_decoded")` records which path produced the
    * content, mirroring [[MediaFeatures.decoded]].
    */
  def resize(assets: Dataset[MediaAsset], width: Int, height: Int): Dataset[MediaAsset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { batch =>
      javax.imageio.ImageIO.setUseCache(false)
      batch.map { a =>
        val real =
          if (a.kind == "image" && looksLikeImage(a.content))
            resizeImage(a.content, width, height)
          else None
        val dims = Map("resized_w" -> width.toString, "resized_h" -> height.toString)
        real match {
          case Some(bytes) =>
            a.copy(content = bytes, meta = a.meta ++ dims + ("resize_decoded" -> "true"))
          case None =>
            val target = math.max(width * height, 1)
            val step = math.max(a.content.length / target, 1)
            val out = a.content.indices.collect { case i if i % step == 0 => a.content(i) }.toArray
            a.copy(content = out, meta = a.meta ++ dims + ("resize_decoded" -> "false"))
        }
      }
    }
  }

  /** Fixed-stride frame sampling for video assets: every `stride`-th
    * `frameBytes` window, fingerprinted. Pure per-row generator — frames
    * explode to (media_id, frame_no, digest) rows, bytes stay put.
    */
  def sampleFrames(assets: Dataset[MediaAsset], frameBytes: Int = 32,
      stride: Int = 128): DataFrame = {
    import assets.sparkSession.implicits._
    assets.filter(_.kind == "video").flatMap { a =>
      val n = ((a.content.length - 1) / stride) + 1
      (0 until n).map { i =>
        val from = i * stride
        val until = math.min(from + frameBytes, a.content.length)
        val md = MessageDigest.getInstance("MD5")
          .digest(java.util.Arrays.copyOfRange(a.content, from, until))
        (a.media_id, i, md.map("%02x".format(_)).mkString)
      }
    }.toDF("media_id", "frame_no", "frame_md5")
  }

  /** CANDIDATE near-duplicate media by feature cosine within (kind, LSH
    * bucket) — reuses the similarity surface over decoded features:
    * multimodal dedup is embedding dedup after decode. The join key is an
    * equality on the composite block, so Catalyst plans a hash/sort-merge
    * join (never a cross product), and the pair space stays linear in
    * corpus size.
    *
    * `blockPlanes` defaults from the corpus size
    * ([[graft.functions.VectorFunctions.blockPlanesFor]], one count() of
    * the feature table): each plane halves the expected (kind, bucket)
    * cell, so planes grow with log2(n) and the pair space never goes
    * quadratic within a fixed cell grid. This is standard LSH RECALL
    * trading: bit-identical features always share a bucket, but a
    * near-dup pair whose projections straddle a hyperplane is missed by
    * that plane — production raises recall with multiple hash tables or
    * multi-probe, never by falling back to all-pairs. Pass an explicit
    * value to pin recall (or to skip the sizing count on a re-used table).
    */
  def nearDupCandidates(features: Dataset[MediaFeatures], threshold: Double,
      blockPlanes: Option[Int] = None): DataFrame = {
    import features.sparkSession.implicits._
    graft.functions.expressions.GraftFunctions.register(features.sparkSession)
    // cached BEFORE the sizing count and the self-join: `features` usually
    // hangs off the decode mapPartitions, and without the cache the decode
    // would run once for the count and once per join side (3 full passes)
    val cached = features.toDF().cache()
    val planes = blockPlanes.getOrElse(
      graft.functions.VectorFunctions.blockPlanesFor(cached.count()))
    val f = cached
      .select($"media_id", $"kind", $"features".cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(graft.functions.VectorFunctions.dot($"v", $"v")))
      .withColumn("bucket",
        graft.functions.VectorFunctions.lshBucket($"v", planes, FeatureDim))
    f.as("a").join(f.as("b"),
        $"a.kind" === $"b.kind" && $"a.bucket" === $"b.bucket" &&
          $"a.media_id" < $"b.media_id")
      .select($"a.media_id".as("a_id"), $"b.media_id".as("b_id"),
        (graft.functions.VectorFunctions.dot($"a.v", $"b.v") / ($"a.nrm" * $"b.nrm")).as("cos"))
      .where($"cos" >= threshold)
  }
}
