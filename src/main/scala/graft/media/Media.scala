package graft.media

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/** Multimodal columns: image/audio/video as opaque `binary` with typed
  * metadata.
  *
  * PNG/JPG payloads are REAL images, encoded and decoded with the JDK's
  * ImageIO — the same codec the debug-image sink uses for the
  * reference's visual output (sinks/DebugImage.scala; reference analog
  * image/image.go:15-62) — so the decode stage reads dimensions from
  * actual image bytes and the format is sniffed from the payload's
  * magic, never trusted from metadata.
  *
  * Video (mp4) is a REAL ISO BMFF container ([[Mp4]]): genuine
  * ftyp/moov box grammar, with width/height parsed from tkhd's 16.16
  * fixed-point fields and the frame count from the stts sample table —
  * a standards box walk, not a private header. Only the SAMPLE DATA
  * inside mdat stays a deterministic sha256-derived stub (no video
  * codec exists in this container image); a real decoder would change
  * only the mdat interpretation in `frameSample`, not the demux layer.
  */
object Media {

  /** JPEG codec plumbing: `ImageIO.write`/`read` create a FILE-backed
    * stream cache per call (a temp file open/write/delete per image)
    * and re-scan the plugin registry per call; both are pure overhead
    * at thousands of blobs per task (measured ~10x the actual DCT cost
    * at sf0.1). Memory-cached streams + a per-thread writer/reader
    * produce byte-identical JPEG output — same plugin, same default
    * params, only the scratch I/O changes. The streams are passed
    * explicitly, so ImageIO's global `useCache` flag (which the stock
    * calls in sinks/DebugImage follow) is left as the JVM has it.
    */
  private object Jio {
    private val writer = ThreadLocal.withInitial[javax.imageio.ImageWriter](
      () => ImageIO.getImageWritersByFormatName("jpg").next())
    private val reader = ThreadLocal.withInitial[javax.imageio.ImageReader](
      () => ImageIO.getImageReadersByFormatName("jpg").next())

    def encodeJpg(img: BufferedImage): Array[Byte] = {
      val baos = new ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
      val w = writer.get()
      w.setOutput(ios)
      w.write(null, new javax.imageio.IIOImage(img, null, null), null)
      ios.flush()
      ios.close()
      baos.toByteArray
    }

    /** null on undecodable bytes (callers fail closed). */
    def readJpg(content: Array[Byte]): BufferedImage =
      try {
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new ByteArrayInputStream(content))
        val r = reader.get()
        r.setInput(iis, true, true)
        val img = r.read(0)
        iis.close()
        img
      } catch { case _: Exception => null }

    def isJpg(b: Array[Byte]): Boolean =
      b.length >= 3 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8 &&
        (b(2) & 0xFF) == 0xFF
  }

  final case class MediaBlob(
      doc_id: Long,
      media_ref: String,
      format: String,
      width: Int,
      height: Int,
      n_frames: Int,
      content: Array[Byte])

  final case class FrameSample(doc_id: Long, frame_idx: Int, content: Array[Byte])

  /** Real ISO BMFF container around a stub mdat payload — see [[Mp4]].
    * Blob size keeps the SQL-expressible contract
    * `Mp4.HeaderBytes + min(1024, w*h/64)`.
    */
  def encodeBytes(docId: Long, w: Int, h: Int, frames: Int): Array[Byte] =
    Mp4.encode(docId, w, h, frames)

  /** Deterministic REAL image: every pixel is a pure function of
    * (doc_id, x, y), encoded via ImageIO as actual PNG or JPEG bytes.
    * TYPE_INT_RGB (no alpha) so the JDK JPEG writer accepts it.
    */
  def encodeImage(docId: Long, w: Int, h: Int, fmt: String): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    // fill the raster's backing int[] directly — per-pixel setRGB pays
    // color-model conversion per call, ~10x the cost at bench scale
    val data = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferInt].getData
    var i = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        data(i) = ((docId * 1315423911L + x * 2654435761L + y * 97531L) & 0xFFFFFFL).toInt
        i += 1
        x += 1
      }
      y += 1
    }
    if (fmt == "jpg") Jio.encodeJpg(img)
    else FastPng.encode(img) // lossless: identical pixels, ~5x cheaper
  }

  /** Metadata is a pure function of doc_id (so a SQL oracle can verify
    * the decoded output end-to-end through the binary round-trip).
    */
  def widthOf(id: Long): Int = 64 + (id % 7).toInt * 32
  def heightOf(id: Long): Int = 48 + (id % 5).toInt * 32
  def framesOf(id: Long): Int = 1 + (id % 10).toInt
  def formatOf(id: Long): String = (id % 3) match {
    case 0 => "png"; case 1 => "jpg"; case _ => "mp4"
  }
  /** Payload format from the bytes themselves: PNG/JPEG magic numbers,
    * ISO BMFF ftyp for mp4.
    */
  def sniffFormat(b: Array[Byte]): String =
    if (b.length >= 8 && (b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') "png"
    else if (b.length >= 3 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8 && (b(2) & 0xFF) == 0xFF) "jpg"
    else if (Mp4.isMp4(b)) "mp4"
    else "unknown"

  /** One synthetic media blob per documents row: real PNG/JPEG bytes for
    * image docs (one frame — a still image IS its single frame), the
    * stub container for video docs.
    */
  def synthesize(spark: SparkSession, sfDir: String): Dataset[MediaBlob] =
    synthesize(spark, sfDir, lit(true))

  /** As above with an id predicate applied BEFORE the codec map: the
    * typed map is opaque to Catalyst, so a consumer filtering on
    * doc_id-derived columns afterwards (q_media_frames keeps only mp4
    * = doc_id%3==2; q_binary_source samples doc_id%17==0) would pay
    * the full image encode for every row it then drops. The predicate
    * lands in the scan stage instead — identical output rows, 3-17x
    * less codec work for those consumers.
    */
  def synthesize(spark: SparkSession, sfDir: String,
      idFilter: org.apache.spark.sql.Column): Dataset[MediaBlob] = {
    import spark.implicits._
    // the codec map is CPU-bound (real PNG/JPEG encode); a small single
    // -file scan would otherwise pin it to one core. The shuffle moves
    // bare longs and is elided when the scan already has enough splits.
    val placed = graft.Parallelize.bySplits(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"))
        .filter(idFilter), "doc_id")
      .as[Long]
    placed.map { id =>
        val (w, h, fmt) = (widthOf(id), heightOf(id), formatOf(id))
        if (fmt == "mp4") {
          val f = framesOf(id)
          MediaBlob(id, s"media://$id/0", fmt, w, h, f,
            encodeBytes(id, w, h, f))
        } else
          MediaBlob(id, s"media://$id/0", fmt, w, h, 1, encodeImage(id, w, h, fmt))
      }
  }

  /** (width, height, n_frames, format, decode_ok) from the payload
    * BYTES alone: a real ImageIO decode for image payloads (dimensions
    * from the decoder, format from the magic), a real ISO BMFF box walk
    * for mp4 (tkhd dims, stts frame count); both fail closed.
    */
  def decodeBytes(content: Array[Byte]): (Int, Int, Int, String, Boolean) = {
    if (content == null || content.length < 8) (-1, -1, -1, "invalid", false)
    else if (Mp4.isMp4(content)) {
      Mp4.parse(content) match {
        case Some((w, h, f)) => (w, h, f, "mp4", true)
        case None => (-1, -1, -1, "invalid", false)
      }
    } else {
      // fail closed on malformed payloads: ImageIO returns null for
      // unrecognized bytes but THROWS on truncated/corrupt headers, and
      // one bad blob must not kill a 1000-executor job. In-profile PNGs
      // (the engine's own 8-bit truecolor stream) decode through the
      // plugin-free FastPng path; everything else — JPEG, foreign PNG
      // profiles — falls back to ImageIO unchanged.
      val img = decodeImage(content)
      if (img == null) (-1, -1, -1, "invalid", false)
      else (img.getWidth, img.getHeight, 1, sniffFormat(content), true)
    }
  }

  /** Image decode with the FastPng fast path and the ImageIO fallback;
    * null on undecodable payloads (callers fail closed).
    */
  private[graft] def decodeImage(content: Array[Byte]): BufferedImage = {
    val fast = if (FastPng.isPng(content)) FastPng.decode(content) else null
    if (fast != null) fast
    else if (Jio.isJpg(content)) Jio.readJpg(content)
    else
      try ImageIO.read(new javax.imageio.stream.MemoryCacheImageInputStream(
        new ByteArrayInputStream(content)))
      catch { case _: Exception => null }
  }

  /** Typed decode stage over the binary column. */
  def decode(blobs: Dataset[MediaBlob]): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs.map { b =>
      val (w, h, f, fmt, ok) = decodeBytes(b.content)
      (b.doc_id, w, h, f, fmt, ok)
    }.toDF("doc_id", "width", "height", "n_frames", "format", "decode_ok")
  }

  /** Resize: a REAL scaled re-encode for images (ImageIO decode ->
    * Graphics2D scale -> re-encode in the same format); for mp4 a
    * re-encode of the container with the target track dimensions (the
    * stts sample table carries over — resizing does not change the
    * frame count).
    */
  def resize(blobs: Dataset[MediaBlob], targetW: Int, targetH: Int): Dataset[MediaBlob] = {
    import blobs.sparkSession.implicits._
    blobs.map { b =>
      if (Mp4.isMp4(b.content)) {
        // bytes-only posture, same as decodeBytes: the branch keys on
        // the payload magic and the frame count comes from the parsed
        // container — a blob MISLABELED mp4 keeps its real image
        // payload (next branch) instead of being silently replaced by
        // a synthesized container that then re-decodes "valid"; an
        // mp4-magic blob whose box tree fails to parse passes through
        // unchanged so its re-decode surfaces the corruption
        Mp4.parse(b.content) match {
          case Some((_, _, frames)) =>
            MediaBlob(b.doc_id, b.media_ref, b.format, targetW, targetH,
              frames, encodeBytes(b.doc_id, targetW, targetH, frames))
          case None => b
        }
      } else {
        // same fail-closed posture as decodeBytes: a corrupt payload
        // passes through unchanged (its re-decode then reports the
        // corruption) instead of killing the task or silently emitting
        // a blank-but-"valid" image from a null decode
        val src = decodeImage(b.content)
        if (src == null) b
        else {
          // nearest-neighbor scale through the raster directly: the
          // generic Graphics2D scaling pipeline pays per-pixel color
          // model conversion (measured the dominant cost of the resize
          // pass); sampling src.getRGB over the int raster is exact,
          // deterministic and cheap. Downstream consumers read only
          // dimensions/validity from the re-encoded payload.
          val sw = src.getWidth
          val sh = src.getHeight
          val dst = new BufferedImage(targetW, targetH, BufferedImage.TYPE_INT_RGB)
          val out = dst.getRaster.getDataBuffer
            .asInstanceOf[java.awt.image.DataBufferInt].getData
          var di = 0
          var y = 0
          while (y < targetH) {
            val sy = y * sh / targetH
            var x = 0
            while (x < targetW) {
              out(di) = src.getRGB(x * sw / targetW, sy) & 0xFFFFFF
              di += 1
              x += 1
            }
            y += 1
          }
          val bytes =
            if (b.format == "jpg") Jio.encodeJpg(dst)
            else FastPng.encode(dst)
          MediaBlob(b.doc_id, b.media_ref, b.format, targetW, targetH, b.n_frames,
            bytes)
        }
      }
    }
  }

  /** Every `stride`-th frame as its own blob. A still image is its own
    * single frame (the original payload passes through); each sampled
    * video frame is emitted as a single-sample mp4 container (real box
    * structure, stub sample bytes — a real codec would replace only the
    * mdat interpretation here).
    */
  def frameSample(blobs: Dataset[MediaBlob], stride: Int): Dataset[FrameSample] = {
    import blobs.sparkSession.implicits._
    blobs.flatMap { b =>
      // branch on the payload magic (bytes-only posture, as in resize /
      // decodeBytes): real image bytes pass through even when the
      // metadata row mislabels them as video — and the frame containers
      // take dims + frame count from the PARSED container, not the
      // metadata row, so a mislabeled row cannot re-stamp content with
      // bogus geometry; unparseable mp4-magic blobs yield no frames
      if (Mp4.isMp4(b.content)) {
        Mp4.parse(b.content) match {
          case Some((w, h, frames)) =>
            (0 until frames by stride).map { fi =>
              FrameSample(b.doc_id, fi,
                encodeBytes(b.doc_id * 131L + fi, w, h, 1))
            }
          case None => Seq.empty[FrameSample]
        }
      } else Seq(FrameSample(b.doc_id, 0, b.content))
    }
  }
}
