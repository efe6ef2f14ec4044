package graft.extract

import graft._
import graft.decode.Decode
import graft.geom.Geom
import graft.html.HtmlStrip

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** The engine core: `Dataset[Doc] => Dataset[ExtractedDoc]`.
  *
  * Per document (pure, record-local — the Spark-idiomatic home for the
  * reference's loop-carried-state algorithms, SURVEY.md §7):
  *  - spans are walked in `offset` order;
  *  - each maximal run of `word_box` spans is one table's OCR output:
  *    decoded to word boxes and structure-recovered with E1
  *    (region clustering, box/box.go:250-280) or E2 (split heuristic,
  *    textract/textract.go:214-265), then serialized row-major as
  *    `cell` spans with media_ref "row,col" (1-based);
  *  - each maximal run of `cell` spans is a pre-structured table (E3,
  *    textract/textract.go:121-175), re-serialized the same way; if the
  *    indices are invalid (where the reference panics) the original
  *    spans pass through unchanged;
  *  - `html` spans are boilerplate-stripped to one `text` span per kept
  *    block (density heuristic, graft.html.HtmlStrip);
  *  - `text` / `media` / unknown spans pass through.
  * Output offsets are renumbered 0..n-1 — the ordered span sequence of
  * the north_rule's `(kind, text, media_ref, order)` invariant.
  *
  * Distribution: one row = one document, so the map is embarrassingly
  * parallel with no shuffle needed for correctness. `distributed` adds
  * the one planned exchange: a salted hash repartition on doc_id that
  * (a) decorrelates oversized documents from input-file adjacency and
  * (b) oversubscribes partitions vs cores so stragglers interleave —
  * the skew posture for 100 TB inputs (SURVEY.md §4).
  */
object Extract {

  sealed trait Strategy
  object Strategy {
    /** E1 — region-clustering (the reference's live path). */
    case object RegionClustering extends Strategy
    /** E2 — split-gap heuristic, left-edge bucketing (textract.go:242). */
    case object SplitHeuristic extends Strategy
    /** E2 variant — split-gap heuristic, midpoint bucketing
      * (SplitRowBoxesMidpoint, extract.go:90-94).
      */
    case object SplitMidpoint extends Strategy
  }

  /** Total function: a document that trips an unexpected per-doc error
    * (e.g. a comparator-contract violation from adversarial geometry in
    * the E2 path) passes through unchanged with status "error:<class>"
    * instead of failing the job — at 10^12 documents a single bad row
    * must not kill the run; the lineage table records it.
    */
  def extractDoc(doc: Doc, strategy: Strategy = Strategy.RegionClustering): ExtractedDoc =
    try extractDocUnsafe(doc, strategy)
    catch {
      case scala.util.control.NonFatal(e) =>
        // null-safe, offset-sorted, renumbered — identical shape to the
        // expression path's error handler (golden-equality holds on the
        // error path too)
        val spans = doc.spans.map(normalizeSpan).sortBy(_.offset).iterator.zipWithIndex
          .map { case (s, i) => Span(s.kind, s.text, s.media_ref, i) }.toVector
        ExtractedDoc(doc.doc_id, spans, 0, 0, s"error:${e.getClass.getSimpleName}")
    }

  /** Null span elements and null text/ref fields normalize to the same
    * values the expression path reads off Tungsten memory, so both paths
    * emit identical pass-through rows for degenerate inputs.
    */
  private def normalizeSpan(s: Span): Span =
    if (s == null) Span(null, "", "", 0)
    else if (s.text == null || s.media_ref == null)
      Span(s.kind,
        if (s.text == null) "" else s.text,
        if (s.media_ref == null) "" else s.media_ref,
        s.offset)
    else s

  /** Extraction plus the recovered tables themselves (the reference's
    * [][]string IR, cmd/lambda/main.go:161-176) — the CSV/HTML sinks need
    * table identity, which the flat span sequence cannot recover once two
    * tables are adjacent or a pass-through cell run mimics "1,1" refs.
    * Error docs yield no tables (pass-through only).
    */
  def extractDocTables(doc: Doc, strategy: Strategy = Strategy.RegionClustering)
      : (ExtractedDoc, Vector[Vector[Vector[String]]]) = {
    val tables = new ArrayBuffer[Vector[Vector[String]]]
    try {
      val e = extractDocUnsafe(doc, strategy, tables)
      (e, tables.toVector)
    } catch {
      case scala.util.control.NonFatal(_) =>
        (extractDoc(doc, strategy), Vector.empty)
    }
  }

  private def extractDocUnsafe(
      doc: Doc,
      strategy: Strategy,
      tables: ArrayBuffer[Vector[Vector[String]]] = null): ExtractedDoc = {
    // most inputs store spans already offset-ordered; skip the re-sort
    val raw0 = doc.spans
    var anomalous = false
    var a = 0
    while (!anomalous && a < raw0.length) {
      val s = raw0(a)
      if (s == null || s.text == null || s.media_ref == null) anomalous = true
      a += 1
    }
    val raw = if (anomalous) raw0.map(normalizeSpan) else raw0
    var isSorted = true
    var k = 1
    while (isSorted && k < raw.length) {
      if (raw(k - 1).offset > raw(k).offset) isSorted = false
      k += 1
    }
    val sorted: IndexedSeq[Span] =
      if (isSorted) raw.toIndexedSeq else raw.sortBy(_.offset).toIndexedSeq
    val out = new ArrayBuffer[Span](sorted.length)
    var nTables = 0
    var nCells = 0

    def emit(kind: String, text: String, ref: String): Unit =
      out += Span(kind, text, ref, out.length)

    def emitTable(table: Vector[Vector[String]]): Unit = {
      var any = false
      var r = 0
      while (r < table.length) {
        val row = table(r)
        var c = 0
        while (c < row.length) {
          emit(SpanKinds.Cell, row(c), s"${r + 1},${c + 1}")
          nCells += 1
          any = true
          c += 1
        }
        r += 1
      }
      if (any) {
        nTables += 1
        if (tables != null) tables += table
      }
    }

    var i = 0
    val n = sorted.length
    while (i < n) {
      val s = sorted(i)
      s.kind match {
        case SpanKinds.WordBox =>
          var j = i
          while (j < n && sorted(j).kind == SpanKinds.WordBox) j += 1
          val boxes = new ArrayBuffer[WordBox](j - i)
          var p = i
          while (p < j) {
            val b = Decode.wordBoxOfRef(sorted(p).media_ref, sorted(p).text)
            if (b != null) boxes += b
            p += 1
          }
          if (boxes.isEmpty) {
            // empty/undecodable word run: pass through (SURVEY §2.8.8)
            p = i
            while (p < j) { val sp = sorted(p); emit(sp.kind, sp.text, sp.media_ref); p += 1 }
          } else {
            val table = strategy match {
              case Strategy.RegionClustering => Geom.toTable(boxes)
              case Strategy.SplitHeuristic   => Geom.toTableSplitHeuristic(boxes)
              case Strategy.SplitMidpoint    => Geom.toTableSplitHeuristicMidpoint(boxes)
            }
            emitTable(table)
          }
          i = j
        case SpanKinds.Cell =>
          var j = i
          while (j < n && sorted(j).kind == SpanKinds.Cell) j += 1
          val cells = new ArrayBuffer[(Int, Int, String)](j - i)
          var p = i
          var allValid = true
          while (p < j && allValid) {
            Decode.cellOf(sorted(p)) match {
              case Some(c) => cells += c
              case None    => allValid = false
            }
            p += 1
          }
          val decoded = if (allValid) Geom.cellsToTable(cells) else None
          decoded match {
            case Some(table) => emitTable(table)
            case None => // invalid grid (reference panics): pass through
              p = i
              while (p < j) { val sp = sorted(p); emit(sp.kind, sp.text, sp.media_ref); p += 1 }
          }
          i = j
        case SpanKinds.Html =>
          HtmlStrip.mainContentBlocks(s.text).foreach { block =>
            emit(SpanKinds.Text, block, "")
          }
          i += 1
        case _ => // text / media / unknown: pass through
          emit(s.kind, s.text, s.media_ref)
          i += 1
      }
    }

    ExtractedDoc(doc.doc_id, out.toVector, nTables, nCells, "ok")
  }

  /** Local (already-partitioned) transform — no shuffle. */
  def run(ds: Dataset[Doc], strategy: Strategy = Strategy.RegionClustering): Dataset[ExtractedDoc] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[ExtractedDoc]
    ds.mapPartitions(_.map(extractDoc(_, strategy)))
  }

  /** Distributed transform with the explicit skew posture: a salted hash
    * repartition on doc_id into `numPartitions` (default 4x the session
    * parallelism so oversized-document stragglers interleave), then the
    * per-partition map. doc_id is unique, so hash(doc_id, salt) is
    * uniform in row count; the salt decorrelates any size-ordered input
    * layout.
    *
    * Shuffle elision: when the caller did not pin a partition count and
    * the scan already yields at least 2x the session parallelism in
    * splits (`spark.sql.files.maxPartitionBytes` splits large files for
    * free), the exchange is skipped — the map is record-local, so the
    * shuffle buys placement only, and paying a full
    * serialize-spill-deserialize of every span to re-place rows is the
    * wrong trade. Pass `forceRepartition = true` (or an explicit
    * `numPartitions`) for adversarially laid-out inputs, e.g. a source
    * sorted by document size.
    */
  def distributed(
      spark: SparkSession,
      ds: Dataset[Doc],
      strategy: Strategy = Strategy.RegionClustering,
      numPartitions: Int = 0,
      salt: Int = 16,
      forceRepartition: Boolean = false): Dataset[ExtractedDoc] = {
    val parallelism = math.max(1, spark.sparkContext.defaultParallelism)
    val parts =
      if (numPartitions > 0) numPartitions else parallelism * 4
    implicit val docEnc = org.apache.spark.sql.Encoders.product[Doc]
    // physical-plan partition count, NOT ds.rdd: .rdd appends a
    // row->object deserializer plan per call just to ask a number
    val inputParts = ds.queryExecution.toRdd.getNumPartitions
    val needShuffle =
      forceRepartition || numPartitions > 0 || inputParts < 2 * parallelism
    val placed =
      if (needShuffle)
        ds.repartition(parts, pmod(xxhash64(col("doc_id"), lit(salt)), lit(parts))).as[Doc]
      else ds
    run(placed, strategy)
  }
}
