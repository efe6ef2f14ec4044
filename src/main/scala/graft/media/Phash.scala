package graft.media

import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.media.Media.MediaBlob

/** Perceptual-hash image near-duplicate detection (dHash) — the
  * multimodal counterpart of [[graft.dedup.Dedup.simhashNearDups]]: the
  * fingerprint comes from DECODED PIXELS of a real PNG payload, not
  * from text, so re-encoded / brightness-shifted copies of the same
  * image land on the same hash while different images land far apart.
  *
  * dHash (difference hash): point-sample the decoded image on a 9x8
  * grid at (i*w/9, j*h/8), integer-luma each sample
  * ((299r + 587g + 114b) div 1000), and emit one bit per horizontally
  * adjacent sample pair — `luma(i+1,j) > luma(i,j)` — 8 comparison
  * columns x 8 rows = 64 bits. Gradients survive uniform brightness
  * shifts and (approximately) rescaling, which is exactly what a crawl
  * pipeline needs to catch thumbnail/re-encode duplicates that byte
  * hashing misses.
  *
  * Banding: the 64 bits are packed as 4 x 16-bit chunks, chunk t
  * holding comparison columns {2t, 2t+1} (bit c*8 + j within the
  * chunk). Candidate pairs share a (chunk, chunk_val) bucket — the
  * pigeonhole is lossless for Hamming <= 3, and any LOCALIZED edit
  * (<= 2 adjacent comparison columns, e.g. a banner/stripe overlay)
  * stays inside one chunk so the other three still collide regardless
  * of its bit count. Buckets above `maxBucketSize` are dropped whole
  * (the simhash mass-dup posture; exact dedup catches those members).
  * Survivors are reranked by exact Hamming distance over all 64 bits.
  *
  * Everything is integer arithmetic over losslessly round-tripped PNG
  * pixels, so a SQL oracle replays the hash, the banding, the cap and
  * the rerank bit for bit from the synthesis formula.
  *
  * Scale shape: one CPU-bound record-local decode+hash pass (spread via
  * [[graft.Parallelize.bySplits]] upstream), then the bucket blocks
  * move only (id, chunk, chunk_val, h) rows — 4 small rows per image,
  * the payload bytes never shuffle; fan-out is bounded by
  * `maxBucketSize`.
  *
  * Reference analog: none — the reference extracts tables from one
  * image per request (`/root/reference/main.go`); corpus-level image
  * dedup is part of the training-data tier this engine adds.
  */
object Phash {

  val GridCols = 9 // sample columns -> 8 comparisons
  val GridRows = 8
  val Chunks = 4 // 4 x 16-bit bands over the 64 comparison bits

  /** Deterministic keyed PNG: every pixel a pure function of
    * (key, variant, x, y), channels masked to 7 bits so the variant-1
    * brightness shift can never clamp or carry across channels.
    *
    *  - variant 0: base — `(key*1315423911 + x*2654435761 + y*97531)
    *    & 0x7F7F7F`
    *  - variant 1: base + 16 per channel (uniform brightness — a
    *    dHash-invariant edit: every luma shifts by exactly +16)
    *  - variant 2: base, but the leftmost sample column's stripe
    *    (x < w/9) overridden to constant 0x7F7F7F (a localized edit:
    *    only comparison column 0 — chunk 0 — can change)
    *  - variant 3: unrelated content (an independent key)
    */
  def encodeKeyedPng(key: Long, variant: Int, w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val data = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferInt].getData
    val kk = if (variant == 3) key * 1000003L + 999999937L else key
    val stripe = w / 9
    var i = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var p = ((kk * 1315423911L + x * 2654435761L + y * 97531L) & 0x7F7F7FL).toInt
        if (variant == 1) p += 0x101010
        else if (variant == 2 && x < stripe) p = 0x7F7F7F
        data(i) = p
        i += 1
        x += 1
      }
      y += 1
    }
    FastPng.encode(img) // lossless: identical pixels, ~5x cheaper
  }

  /** Fixture corpus for the near-dup query: groups of four documents
    * share one content key (`doc_id div 4`), with `doc_id % 4` picking
    * the variant — so each group plants one exact-hash duplicate pair
    * (0,1), one localized-edit near-dup (2) and one unrelated image (3).
    * Dimensions are [[Media.widthOf]]/[[Media.heightOf]] of the KEY so
    * all variants of a group agree on them.
    */
  def synthesizeVariants(spark: SparkSession, sfDir: String): Dataset[MediaBlob] = {
    import spark.implicits._
    graft.Parallelize.bySplits(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id").cast("long").as("doc_id")), "doc_id")
      .as[Long]
      .map { id =>
        val k = id / 4
        val v = (id % 4).toInt
        val w = Media.widthOf(k)
        val h = Media.heightOf(k)
        MediaBlob(id, s"phash://$id", "png", w, h, 1, encodeKeyedPng(k, v, w, h))
      }
  }

  /** 4 x 16-bit dHash chunks from the payload BYTES (real ImageIO
    * decode; dimensions from the decoder, never metadata — the
    * decodeBytes posture). Returns null on undecodable payloads so the
    * caller can drop them instead of killing the task.
    */
  def dhashChunks(content: Array[Byte]): Array[Int] = {
    val img = Media.decodeImage(content)
    if (img == null) null
    else {
      val w = img.getWidth
      val h = img.getHeight
      val luma = Array.ofDim[Int](GridCols, GridRows)
      var i = 0
      while (i < GridCols) {
        var j = 0
        while (j < GridRows) {
          val rgb = img.getRGB(i * w / GridCols, j * h / GridRows)
          luma(i)(j) = (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) +
            114 * (rgb & 0xFF)) / 1000
          j += 1
        }
        i += 1
      }
      val chunks = new Array[Int](Chunks)
      i = 0
      while (i < GridCols - 1) {
        var j = 0
        while (j < GridRows) {
          if (luma(i + 1)(j) > luma(i)(j))
            chunks(i / 2) |= 1 << ((i % 2) * 8 + j)
          j += 1
        }
        i += 1
      }
      chunks
    }
  }

  /** (id, chunk, chunk_val, h) band postings, h = the four chunks
    * packed into one long (chunk t at bits 16t..16t+15) — the only rows
    * that ever shuffle; the decode happens exactly once per image here.
    */
  def chunkRows(blobs: Dataset[MediaBlob]): DataFrame = {
    import blobs.sparkSession.implicits._
    blobs.flatMap { b =>
        val cs = dhashChunks(b.content)
        if (cs == null) Iterator.empty
        else {
          val h = cs.indices.foldLeft(0L)((acc, c) => acc | (cs(c).toLong << (16 * c)))
          cs.iterator.zipWithIndex.map { case (v, c) => (b.doc_id, c, v, h) }
        }
      }
      .toDF("id", "chunk", "chunk_val", "h")
  }

  /** Near-dup image pairs: banded candidates ([[graft.dedup.Pairs]],
    * bucket cap as in simhashNearDups) reranked by exact 64-bit Hamming
    * <= maxDist. The chunks occupy disjoint bits of the packed hash, so
    * `bit_count(a.h ^ b.h)` is the per-chunk sum. Output (id_a, id_b,
    * hamming), id_a < id_b.
    *
    * The band rows are read once, by the block aggregate, so the
    * CPU-bound PNG encode+decode+hash runs once per image without a
    * cache.
    */
  def nearDups(blobs: Dataset[MediaBlob], maxDist: Int = 8,
      maxBucketSize: Int = 10000): DataFrame =
    graft.dedup.Pairs.of(graft.dedup.Pairs.blocks(chunkRows(blobs),
        Seq("chunk", "chunk_val"), struct(col("id"), col("h")), maxBucketSize))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.h").bitwiseXOR(col("b.h"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
}
