package perfbench

import graft.Span
import graft.lineage.Lineage

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

import scala.util.hashing.MurmurHash3

/** Scores the committed output of extraction jobs against the span
  * sequences `SpanGen.genDoc` built alongside each input doc. Those
  * goldens come from the generator's own table specs, never from the
  * extraction code. Each golden is reduced to a 64-bit hash of its
  * `(kind, text, media_ref, offset)` sequence when the input is
  * generated, and every committed row is hashed the same way.
  */
object Golden {

  /** `mismatchDocs` counts docs whose committed span sequence differs
    * from the golden, input docs with no committed row, docs committed
    * more than once, and committed docs that are not in the input.
    */
  final case class Tally(mismatchDocs: Long, errorDocs: Long)

  /** Doc number of a `doc-<n>` id, or -1. */
  def docNumber(id: String): Long =
    if (id != null && id.startsWith("doc-"))
      scala.util.Try(id.substring(4).toLong).getOrElse(-1L)
    else -1L

  def spanHash(spans: Seq[Span]): Long = {
    val sb = new java.lang.StringBuilder
    spans.foreach { s =>
      sb.append(s.kind).append('\u0001').append(s.text).append('\u0001')
        .append(s.media_ref).append('\u0001').append(s.offset).append('\u0002')
    }
    val str = sb.toString
    (MurmurHash3.stringHash(str, 0x2f1a).toLong << 32) |
      (MurmurHash3.stringHash(str, 0x51c3).toLong & 0xffffffffL)
  }

  /** One tally per `(output, metrics)` table pair, all scored in one
    * Spark job.
    */
  def score(spark: SparkSession, tables: Seq[(String, String)],
      golden: Array[Long]): Seq[Tally] = if (tables.isEmpty) Nil else {
    import spark.implicits._
    val committed = tables.zipWithIndex.map { case ((out, metrics), k) =>
      Lineage.readCommitted(spark, out, metrics)
        .select(lit(k).as("table"), col("doc_id"), col("spans"), col("status"))
    }.reduce(_ unionByName _)
    val nDocs = golden.length
    val verdicts = committed.as[(Int, String, Seq[Span], String)]
      .map { case (k, id, spans, status) =>
        val n = docNumber(id)
        val same = n >= 0 && n < nDocs && spanHash(spans) == golden(n.toInt)
        (k, n, same, status != null && status.startsWith("error:"))
      }
      .collect()
      .groupBy(_._1)
    tables.indices.map(k =>
      tally(verdicts.getOrElse(k, Array.empty).map(v => (v._2, v._3, v._4)).toSeq, nDocs))
  }

  /** Per-row verdicts `(doc number, matches golden, is error)`. */
  def tally(verdicts: Seq[(Long, Boolean, Boolean)], nDocs: Long): Tally = {
    val byDoc = verdicts.groupBy(_._1)
    val wrong = byDoc.iterator.map { case (n, rows) =>
      if (n < 0 || n >= nDocs) rows.length.toLong
      else if (rows.length != 1 || !rows.head._2) 1L
      else 0L
    }.sum
    val missing = (0L until nDocs).count(n => !byDoc.contains(n))
    Tally(wrong + missing, verdicts.count(_._3).toLong)
  }
}
