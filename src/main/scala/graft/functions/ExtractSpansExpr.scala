package graft.functions

import graft.html.HtmlStrip
import graft.SpanKinds

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer

/** Native Catalyst expression for the extraction core: the same
  * semantics as `Extract.extractDoc` (golden-tested for equality), but
  * evaluated directly over Tungsten's `ArrayData`/`UTF8String` memory —
  * no `Doc`/`Span` object materialization, no
  * DeserializeToObject/SerializeFromObject in the plan, text bytes flow
  * zero-copy from input buffer to output array.
  *
  * Motivation (measured on the bench corpus): the typed-Dataset path
  * spends the bulk of its cycles and allocations materializing ~40
  * short-lived objects per span; at 16 local threads that object churn
  * inflated total CPU 4x through cache pressure. This expression is the
  * Spark-preferred fix — "custom Expression beats Scala UDF beats
  * anything else" — and keeps the pipeline inside one Project operator.
  *
  * Cell-text note: E1 runs the reference's per-append trim fold
  * (`acc = trim(acc + " " + w, ' ')`, box/box.go:241) verbatim, with a
  * zero-copy concatWs fast path for clean words; E2 joins raw and trims
  * once with String.trim semantics (strings.TrimSpace, textract.go:261).
  *
  * `timed = true` is the production job's form (`Lineage`): each row's
  * struct gains `wall_ms`, the row's extraction time measured inside
  * eval, so the expression is non-deterministic; and a null `spans`
  * becomes an error row (no spans, no tables,
  * `status = "error:NullPointerException"`) instead of a null struct, so
  * the doc is committed like any other bad doc. The untimed form is the
  * registered, deterministic `extract_spans` (null in, null out).
  */
case class ExtractSpansExpr(child: Expression, useSplitHeuristic: Boolean,
    useMidpoint: Boolean = false, timed: Boolean = false)
    extends UnaryExpression {

  import ExtractSpansExpr._

  override def prettyName: String = "extract_spans"

  override lazy val deterministic: Boolean = !timed && child.deterministic

  override def nullable: Boolean = !timed && child.nullable

  /** Real codegen (not CodegenFallback): emit a static call so the
    * surrounding Project stays inside whole-stage codegen — a
    * CodegenFallback expression would demote the entire stage to an
    * interpreted projection.
    */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    if (timed) {
      import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, FalseLiteral}
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        ${CodeGenerator.javaType(dataType)} ${ev.value} =
          graft.functions.ExtractSpansExpr.evalTimed(
            ${c.isNull} ? null : ${c.value}, $useSplitHeuristic, $useMidpoint);""",
        isNull = FalseLiteral)
    } else
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.ExtractSpansExpr.evalStatic($c, $useSplitHeuristic, $useMidpoint);")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(s: StructType, _)
          if s.length == 4 &&
            s(0).dataType == StringType && s(1).dataType == StringType &&
            s(2).dataType == StringType && s(3).dataType == IntegerType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"extract_spans expects array<struct<kind:string,text:string," +
            s"media_ref:string,offset:int>>, got ${other.catalogString}")
    }
  }

  override def dataType: DataType = if (timed) TimedOutputType else OutputType

  override def eval(input: InternalRow): Any =
    if (timed) evalTimed(child.eval(input).asInstanceOf[ArrayData], useSplitHeuristic, useMidpoint)
    else super.eval(input)

  override def nullSafeEval(input: Any): Any =
    ExtractSpansExpr.evalStatic(input.asInstanceOf[ArrayData], useSplitHeuristic, useMidpoint)

  override protected def withNewChildInternal(newChild: Expression): ExtractSpansExpr =
    copy(child = newChild)
}

object ExtractSpansExpr {

  /** Normalized column-wise copy of the span structs: null struct
    * elements become (null, "", "", 0) and null text/ref fields become ""
    * — the same normalization `Extract.extractDoc` applies, so the two
    * paths agree on degenerate inputs.
    */
  private final class Spans(arr: ArrayData) {
    val n: Int = arr.numElements()
    val kinds = new Array[UTF8String](n)
    val texts = new Array[UTF8String](n)
    val refs = new Array[UTF8String](n)
    val offs = new Array[Int](n)
    locally {
      var i = 0
      while (i < n) {
        val row = arr.getStruct(i, 4)
        if (row != null) {
          kinds(i) = row.getUTF8String(0)
          texts(i) = if (row.isNullAt(1)) U8Empty else row.getUTF8String(1)
          refs(i) = if (row.isNullAt(2)) U8Empty else row.getUTF8String(2)
          offs(i) = if (row.isNullAt(3)) 0 else row.getInt(3)
        } else {
          kinds(i) = null; texts(i) = U8Empty; refs(i) = U8Empty; offs(i) = 0
        }
        i += 1
      }
    }
  }

  /** Stable by-offset permutation. Packed signed-long sort: the signed
    * int offset occupies the high 32 bits (sign-extended shift keeps the
    * long's order equal to the int's), the array index the low 32 — a
    * biased key would order non-negative offsets before negative ones
    * under the signed sort.
    */
  private def orderByOffset(offs: Array[Int], n: Int): Array[Int] = {
    var sortedAlready = true
    var i = 1
    while (sortedAlready && i < n) {
      if (offs(i - 1) > offs(i)) sortedAlready = false
      i += 1
    }
    val order = new Array[Int](n)
    if (sortedAlready) {
      i = 0; while (i < n) { order(i) = i; i += 1 }
    } else {
      val keys = new Array[Long](n)
      i = 0
      while (i < n) {
        keys(i) = (offs(i).toLong << 32) | (i.toLong & 0xffffffffL)
        i += 1
      }
      java.util.Arrays.sort(keys)
      i = 0
      while (i < n) { order(i) = (keys(i) & 0xffffffffL).toInt; i += 1 }
    }
    order
  }

  /** Entry point shared by interpreted eval and generated code. */
  def evalStatic(arr: ArrayData, useSplitHeuristic: Boolean, useMidpoint: Boolean = false): InternalRow =
    try evalSpans(arr, useSplitHeuristic, useMidpoint)
    catch {
      case scala.util.control.NonFatal(e) =>
        // pass-through with error status (one bad doc must not kill a
        // run): null-safe read, sorted by offset and renumbered — the
        // exact shape of the typed path's error handler, so the
        // golden-equality contract holds on the error path too.
        val sp = new Spans(arr)
        val order = orderByOffset(sp.offs, sp.n)
        val out = new Array[Any](sp.n)
        var i = 0
        while (i < sp.n) {
          val s = order(i)
          out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](sp.kinds(s), sp.texts(s), sp.refs(s), i))
          i += 1
        }
        InternalRow(new GenericArrayData(out), 0, 0,
          UTF8String.fromString(s"error:${e.getClass.getSimpleName}"))
    }

  /** The timed form's entry point: [[evalStatic]] plus the row's wall
    * time in whole milliseconds; a null array is an error row.
    */
  def evalTimed(arr: ArrayData, useSplitHeuristic: Boolean, useMidpoint: Boolean): InternalRow = {
    val t0 = System.nanoTime()
    val r =
      if (arr == null) NullSpansRow
      else evalStatic(arr, useSplitHeuristic, useMidpoint)
    InternalRow(r.getArray(0), r.getInt(1), r.getInt(2), r.getUTF8String(3),
      (System.nanoTime() - t0) / 1000000L)
  }

  private val NullSpansRow: InternalRow = InternalRow(new GenericArrayData(Array.empty[Any]), 0, 0,
    UTF8String.fromString(s"error:${classOf[NullPointerException].getSimpleName}"))

  private def evalSpans(arr: ArrayData, useSplitHeuristic: Boolean, useMidpoint: Boolean): InternalRow = {
    val sp = new Spans(arr)
    val n = sp.n
    val kinds = sp.kinds
    val texts = sp.texts
    val refs = sp.refs
    val offs = sp.offs
    val order = orderByOffset(offs, n)

    val out = new ArrayBuffer[Any](n)
    var nTables = 0
    var nCells = 0
    def emit(kind: UTF8String, text: UTF8String, ref: UTF8String): Unit =
      out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](kind, text, ref, out.length))
    def passThrough(p: Int): Unit = {
      val s = order(p)
      emit(kinds(s), texts(s), refs(s))
    }
    def emitTable(rows: Array[Array[UTF8String]]): Unit = {
      var any = false
      var r = 0
      while (r < rows.length) {
        val row = rows(r)
        var c = 0
        while (c < row.length) {
          emit(U8Cell, row(c), cellRef(r + 1, c + 1))
          nCells += 1
          any = true
          c += 1
        }
        r += 1
      }
      if (any) nTables += 1
    }

    def kindAt(p: Int): UTF8String = kinds(order(p))
    var p = 0
    while (p < n) {
      val kind = kindAt(p)
      if (kind != null && kind.equals(U8WordBox)) {
        var q = p
        while (q < n && kindAt(q) != null && kindAt(q).equals(U8WordBox)) q += 1
        val m0 = q - p
        val bx0 = new Array[Double](m0)
        val bx1 = new Array[Double](m0)
        val by0 = new Array[Double](m0)
        val by1 = new Array[Double](m0)
        val btx = new Array[UTF8String](m0)
        var m = 0
        var k = p
        while (k < q) {
          val s = order(k)
          if (parseBBox(refs(s), bx0, bx1, by0, by1, m)) {
            btx(m) = texts(s)
            m += 1
          }
          k += 1
        }
        if (m == 0) {
          k = p; while (k < q) { passThrough(k); k += 1 }
        } else if (useSplitHeuristic) {
          emitTable(toTableSplit(bx0, bx1, by0, by1, btx, m, useMidpoint))
        } else {
          emitTable(toTableRegions(bx0, bx1, by0, by1, btx, m))
        }
        p = q
      } else if (kind != null && kind.equals(U8Cell)) {
        var q = p
        while (q < n && kindAt(q) != null && kindAt(q).equals(U8Cell)) q += 1
        val table = decodeCellRun(p, q, order, refs, texts)
        if (table != null) emitTable(table)
        else { var k = p; while (k < q) { passThrough(k); k += 1 } }
        p = q
      } else if (kind != null && kind.equals(U8Html)) {
        val s = order(p)
        HtmlStrip.mainContentBlocks(texts(s).toString).foreach { block =>
          emit(U8Text, UTF8String.fromString(block), U8Empty)
        }
        p += 1
      } else {
        passThrough(p)
        p += 1
      }
    }

    InternalRow(new GenericArrayData(out.toArray), nTables, nCells, U8Ok)
  }

  val SpanStructType: StructType = StructType(Seq(
    StructField("kind", StringType), StructField("text", StringType),
    StructField("media_ref", StringType), StructField("offset", IntegerType, nullable = false)))

  val OutputType: StructType = StructType(Seq(
    StructField("spans", ArrayType(SpanStructType, containsNull = false)),
    StructField("n_tables", IntegerType, nullable = false),
    StructField("n_cells", IntegerType, nullable = false),
    StructField("status", StringType, nullable = false)))

  val TimedOutputType: StructType =
    OutputType.add(StructField("wall_ms", LongType, nullable = false))

  private val U8WordBox = UTF8String.fromString(SpanKinds.WordBox)
  private val U8Cell = UTF8String.fromString(SpanKinds.Cell)
  private val U8Html = UTF8String.fromString(SpanKinds.Html)
  private val U8Text = UTF8String.fromString(SpanKinds.Text)
  private val U8Ok = UTF8String.fromString("ok")
  private val U8Empty = UTF8String.fromString("")
  private val U8Space = UTF8String.fromString(" ")

  // interned "r,c" media_refs for typical grid sizes — cell-ref strings
  // are the single highest-volume allocation of a full run
  private val RefCacheDim = 64
  private val RefCache: Array[Array[UTF8String]] =
    Array.tabulate(RefCacheDim, RefCacheDim)((r, c) => UTF8String.fromString(s"${r + 1},${c + 1}"))

  def cellRef(r1: Int, c1: Int): UTF8String =
    if (r1 <= RefCacheDim && c1 <= RefCacheDim) RefCache(r1 - 1)(c1 - 1)
    else UTF8String.fromString(s"$r1,$c1")

  /** Byte-level double parse over ref[from,until); NaN on malformed. */
  def parseDoubleBytes(b: Array[Byte], from: Int, until: Int): Double = {
    var i = from
    while (i < until && b(i) == ' ') i += 1
    var end = until
    while (end > i && b(end - 1) == ' ') end -= 1
    if (i >= end) return Double.NaN
    var neg = false
    b(i) match {
      case '-' => neg = true; i += 1
      case '+' => i += 1
      case _ =>
    }
    var mant = 0.0
    var seenDigit = false
    while (i < end && b(i) >= '0' && b(i) <= '9') {
      mant = mant * 10 + (b(i) - '0'); seenDigit = true; i += 1
    }
    var scale = 0
    if (i < end && b(i) == '.') {
      i += 1
      while (i < end && b(i) >= '0' && b(i) <= '9') {
        mant = mant * 10 + (b(i) - '0'); scale += 1; seenDigit = true; i += 1
      }
    }
    if (!seenDigit) return Double.NaN
    if (i < end && (b(i) == 'e' || b(i) == 'E')) {
      // exponent forms: defer to the JDK parser — same fallback (and
      // same check order) as Decode.parseDoubleRange, so the expression
      // and typed paths accept exactly the same payloads
      return jdkParse(b, from, until)
    }
    if (i != end) return Double.NaN
    if (scale >= Pow10.length || mant > 9.007199254740992e15) {
      return jdkParse(b, from, until)
    }
    val v = mant / Pow10(scale)
    if (neg) -v else v
  }

  private def jdkParse(b: Array[Byte], from: Int, until: Int): Double =
    try java.lang.Double.parseDouble(
      new String(b, from, until - from, "US-ASCII").trim)
    catch { case _: NumberFormatException => Double.NaN }

  private val Pow10: Array[Double] = Array.tabulate(19)(k => math.pow(10, k))

  /** Parse "x0,x1,y0,y1" into the box arrays at slot m; false if bad. */
  def parseBBox(ref: UTF8String, x0: Array[Double], x1: Array[Double],
      y0: Array[Double], y1: Array[Double], m: Int): Boolean = {
    val bytes = ref.getBytes
    var c1 = -1; var c2 = -1; var c3 = -1
    var commas = 0
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == ',') {
        commas += 1
        if (commas == 1) c1 = i else if (commas == 2) c2 = i
        else if (commas == 3) c3 = i else return false
      }
      i += 1
    }
    if (commas != 3) return false
    val a = parseDoubleBytes(bytes, 0, c1)
    val b = parseDoubleBytes(bytes, c1 + 1, c2)
    val c = parseDoubleBytes(bytes, c2 + 1, c3)
    val d = parseDoubleBytes(bytes, c3 + 1, bytes.length)
    if (a.isNaN || b.isNaN || c.isNaN || d.isNaN || b < a || d < c) return false
    x0(m) = a; x1(m) = b; y0(m) = c; y1(m) = d
    true
  }

  /** E1 cell text: the reference's per-append trim fold, verbatim —
    * `acc = trim(acc + " " + w, ' ')` per word (box/box.go:241). For
    * clean words (nonempty, no edge spaces — the overwhelmingly common
    * case) the fold equals a single-space join, taken zero-copy via
    * concatWs; otherwise run the exact fold (a word with leading spaces
    * keeps them mid-string: "a", " b" -> "a  b", which a trim-each join
    * would collapse).
    */
  private def joinCell(words: ArrayBuffer[UTF8String]): UTF8String = {
    if (words == null || words.isEmpty) return U8Empty
    var clean = true
    var i = 0
    while (clean && i < words.length) {
      val w = words(i)
      val nb = w.numBytes()
      if (nb == 0 || w.getByte(0) == ' ' || w.getByte(nb - 1) == ' ') clean = false
      i += 1
    }
    if (clean) return UTF8String.concatWs(U8Space, words.toSeq: _*)
    var acc = U8Empty
    i = 0
    while (i < words.length) {
      acc = UTF8String.concat(acc, U8Space, words(i)).trim()
      i += 1
    }
    acc
  }

  /** A closed-interval union: sorted, disjoint regions
    * `[start(k), end(k)]`.
    */
  private final class Regions(val start: Array[Double], val end: Array[Double]) {
    def length: Int = start.length

    /** Index of the region containing [lo, hi], or -1: the rightmost
      * region with `start <= lo`, then the containment check
      * (`Geom.regionIndexOf`).
      */
    def indexOf(lo: Double, hi: Double): Int = {
      var a = 0
      var b = start.length - 1
      var ans = -1
      while (a <= b) {
        val mid = (a + b) >>> 1
        if (start(mid) <= lo) { ans = mid; a = mid + 1 }
        else b = mid - 1
      }
      if (ans >= 0 && end(ans) >= hi) ans else -1
    }
  }

  /** The union of the closed intervals `[starts(i), ends(i)]`, i < m,
    * m >= 1 (`Geom.intervalUnion`, touching intervals merge); sorts
    * `starts` in place. With the starts and the ends sorted
    * independently, the union has a gap after position k iff
    * `e(k) < s(k + 1)`: the k + 1 smallest ends then close exactly the
    * intervals of the k + 1 smallest starts. Each region is
    * `[s(a), e(b)]` over a gap-free run a..b.
    */
  private def intervalUnion(starts: Array[Double], ends: Array[Double], m: Int): Regions = {
    java.util.Arrays.sort(starts, 0, m)
    val e = java.util.Arrays.copyOf(ends, m)
    java.util.Arrays.sort(e)
    val rs = new Array[Double](m)
    val re = new Array[Double](m)
    rs(0) = starts(0)
    var r = 0
    var k = 0
    while (k < m - 1) {
      if (e(k) < starts(k + 1)) { re(r) = e(k); r += 1; rs(r) = starts(k + 1) }
      k += 1
    }
    re(r) = e(m - 1)
    new Regions(java.util.Arrays.copyOf(rs, r + 1), java.util.Arrays.copyOf(re, r + 1))
  }

  /** Position of the first element of ascending `sorted` that is not
    * below `x` by `java.lang.Double.compare`: equal for equal values,
    * strictly ordered for different ones (-0.0 before 0.0).
    */
  private def rankOf(sorted: Array[Double], x: Double): Int = {
    var a = 0
    var b = sorted.length
    while (a < b) {
      val mid = (a + b) >>> 1
      if (java.lang.Double.compare(sorted(mid), x) < 0) a = mid + 1 else b = mid
    }
    a
  }

  /** E1 over primitive arrays: region clustering + grid assignment, the
    * grid and cell texts of `Geom.toTable` (the typed reference) with no
    * boxed sort.
    *
    * Word order: `Geom.toTable` joins each cell's words in (row region,
    * x0, input index) order, x0 by `java.lang.Double.compare`. A cell's
    * words share its row region, so filling the cells in (x0, index)
    * order gives every cell that same order. That order is one `long`
    * sort of `rank(x0) * m + index`; rank and index are both below
    * m < 2^31, so the key stays below 2^62.
    */
  def toTableRegions(x0: Array[Double], x1: Array[Double], y0: Array[Double],
      y1: Array[Double], txt: Array[UTF8String], m: Int): Array[Array[UTF8String]] = {
    val x0Sorted = java.util.Arrays.copyOf(x0, m)
    val xs = intervalUnion(x0Sorted, x1, m)
    val ys = intervalUnion(java.util.Arrays.copyOf(y0, m), y1, m)
    val keys = new Array[Long](m)
    var i = 0
    while (i < m) { keys(i) = rankOf(x0Sorted, x0(i)).toLong * m + i; i += 1 }
    java.util.Arrays.sort(keys)
    val cells = Array.ofDim[ArrayBuffer[UTF8String]](ys.length, xs.length)
    var k = 0
    while (k < m) {
      i = (keys(k) % m).toInt
      val r = ys.indexOf(y0(i), y1(i))
      val c = xs.indexOf(x0(i), x1(i))
      // always >= 0: the regions are unions of the word boxes' extents
      if (r >= 0 && c >= 0) {
        if (cells(r)(c) == null) cells(r)(c) = new ArrayBuffer[UTF8String](2)
        cells(r)(c) += txt(i)
      }
      k += 1
    }
    cells.map(_.map(joinCell))
  }

  /** E2 over primitive arrays: row segmentation + gap splits + pointer
    * bucketing, all quirks preserved (extract.go:65-142).
    */
  def toTableSplit(x0: Array[Double], x1: Array[Double], y0: Array[Double],
      y1: Array[Double], txt: Array[UTF8String], m: Int,
      useMid: Boolean = false): Array[Array[UTF8String]] = {
    // byRow ordering (extract.go:35-49) over indices. Deliberately
    // java.util.Arrays.sort over boxed indices: the typed path sorts
    // WordBox objects through TimSort, whose comparator-contract check
    // can throw on pathological overlapping bands (the comparator is
    // only a total order for disjoint bands) — Scala's stableSort for
    // small primitive arrays never throws, which would make the two
    // paths diverge (ok-with-arbitrary-grid vs error pass-through).
    val rowCmp = new java.util.Comparator[Integer] {
      def compare(ia: Integer, ib: Integer): Int = {
        val a = ia.intValue; val b = ib.intValue
        if (y1(a) < y0(b)) -1
        else if (y0(a) > y1(b)) 1
        else java.lang.Double.compare(x0(a), x0(b))
      }
    }
    val byRowBoxed = new Array[Integer](m)
    var bi0 = 0
    while (bi0 < m) { byRowBoxed(bi0) = Integer.valueOf(bi0); bi0 += 1 }
    java.util.Arrays.sort(byRowBoxed, rowCmp)
    val byRow = new Array[Int](m)
    bi0 = 0
    while (bi0 < m) { byRow(bi0) = byRowBoxed(bi0).intValue; bi0 += 1 }
    // PartitionIntoRows (extract.go:121-142): prevX=0 seeding quirk
    val rows = new ArrayBuffer[ArrayBuffer[Int]]
    rows += ArrayBuffer(byRow(0))
    var prevX = 0.0
    var r = 0
    var k = 1
    while (k < m) {
      val w = byRow(k)
      if (x0(w) < prevX) { r += 1; rows += new ArrayBuffer[Int] }
      rows(r) += w
      prevX = x0(w)
      k += 1
    }
    // FindSplits (extract.go:65-88)
    val byX = Array.range(0, m).sortBy(x0(_))
    val mids = new ArrayBuffer[Double]
    var xRight = 0.0
    k = 0
    while (k < m) {
      val w = byX(k)
      if (x0(w) > xRight && k > 0) mids += xRight + (x0(w) - xRight) / 2
      if (x1(w) > xRight) xRight = x1(w)
      k += 1
    }
    val splits = mids.sorted.toArray
    // per row: SplitRowBoxesEdge / SplitRowBoxesMidpoint (pointer
    // advances at most one per word, extract.go:109-115)
    rows.map { rowIdx =>
      val sortedRow = rowIdx.sortBy(x0(_))
      val buckets = Array.fill(splits.length + 1)(null: ArrayBuffer[UTF8String])
      var bi = 0
      for (w <- sortedRow) {
        val key = if (useMid) x0(w) + (x1(w) - x0(w)) / 2 else x0(w)
        if (bi < splits.length && key > splits(bi)) bi += 1
        if (buckets(bi) == null) buckets(bi) = new ArrayBuffer[UTF8String](2)
        buckets(bi) += txt(w)
      }
      // E2 cell text: join raw then trim once (strings.TrimSpace,
      // textract.go:261; trimControl == java String.trim for parity
      // with the typed path on tab/control-bearing word texts)
      buckets.map { b =>
        if (b == null || b.isEmpty) U8Empty
        else trimControl(UTF8String.concatWs(U8Space, b.toSeq: _*))
      }
    }.toArray
  }

  /** java.lang.String.trim parity over UTF-8 bytes: strip chars <= 0x20
    * from both ends. ASCII-only by construction — every byte of a
    * multi-byte UTF-8 sequence has the high bit set, so the signed-byte
    * range check never clips inside a code point.
    */
  private def trimControl(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    var a = 0
    while (a < n && s.getByte(a) >= 0 && s.getByte(a) <= 0x20) a += 1
    var b = n
    while (b > a && s.getByte(b - 1) >= 0 && s.getByte(b - 1) <= 0x20) b -= 1
    if (a == 0 && b == n) s
    else UTF8String.fromBytes(s.getBytes, a, b - a)
  }

  /** E3: parse "r,c" refs, last duplicate wins, validate contiguity;
    * null when invalid (caller passes the run through).
    */
  def decodeCellRun(p: Int, q: Int, order: Array[Int],
      refs: Array[UTF8String], texts: Array[UTF8String]): Array[Array[UTF8String]] = {
    val rowMap = scala.collection.mutable.LinkedHashMap[Int, scala.collection.mutable.LinkedHashMap[Int, UTF8String]]()
    var k = p
    while (k < q) {
      val s = order(k)
      val bytes = refs(s).getBytes
      var comma = -1
      var i = 0
      while (i < bytes.length) {
        if (bytes(i) == ',') { if (comma >= 0) return null; comma = i }
        i += 1
      }
      if (comma <= 0 || comma == bytes.length - 1) return null
      val r = parseIntBytes(bytes, 0, comma)
      val c = parseIntBytes(bytes, comma + 1, bytes.length)
      if (r < 1 || c < 1) return null
      rowMap.getOrElseUpdate(r, scala.collection.mutable.LinkedHashMap[Int, UTF8String]())
        .update(c, texts(s))
      k += 1
    }
    if (rowMap.isEmpty) return Array.empty
    val rowIdx = rowMap.keys.toArray.sorted
    if (!rowIdx.sameElements(1 to rowIdx.length)) return null
    val out = new Array[Array[UTF8String]](rowIdx.length)
    for (r <- rowIdx) {
      val row = rowMap(r)
      val colIdx = row.keys.toArray.sorted
      if (!colIdx.sameElements(1 to colIdx.length)) return null
      out(r - 1) = colIdx.map(row)
    }
    out
  }

  private def parseIntBytes(b: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    while (i < until && b(i) == ' ') i += 1
    var end = until
    while (end > i && b(end - 1) == ' ') end -= 1
    if (i >= end) return -1
    var v = 0
    while (i < end) {
      val c = b(i)
      if (c < '0' || c > '9') return -1
      v = v * 10 + (c - '0')
      if (v < 0) return -1 // overflow
      i += 1
    }
    v
  }
}
