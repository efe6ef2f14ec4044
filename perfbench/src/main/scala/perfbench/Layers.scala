package perfbench

import graft.{Doc, Span, SpanKinds, WordBox}
import graft.decode.Decode
import graft.extract.Extract
import graft.fixtures.SpanGen
import graft.functions.GraftFunctions
import graft.geom.Geom
import graft.html.HtmlStrip
import graft.lineage.Lineage

import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}

import scala.collection.mutable

/** The traced run's per-layer breakdown, timed from outside through
  * each layer's public functions. A layer's self time is the time of
  * the pipeline prefix that ends with it, forced to Spark's noop sink,
  * minus the time of the prefix before it.
  */
object Layers {

  /** Prefix repetitions; each reported figure is their median (with
    * two, the mean). Two keep the traced run within its time limit.
    */
  val Reps = 2

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode(SaveMode.Overwrite).save()

  /** The job's pipeline prefixes on the workload's own starting state:
    * scan, resume pruning, extraction, the expression path over the same
    * pending docs, and the full commit.
    */
  def extract(spark: SparkSession, w: ExtractWorkload, a: Main.Args, tracer: Tracer)
      : Map[String, Double] = {
    implicit val docEnc = Encoders.product[Doc]
    def input = spark.read.parquet(w.input).as[Doc]
    val runs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Window]]()
    def measure(layer: String)(body: => Unit): Unit =
      runs.getOrElseUpdate(layer, mutable.ArrayBuffer[Window]()) += tracer.measure(body)._2
    var pendingDocs = 0L
    tracer.attach()
    for (_ <- 0 until Reps) {
      val (out, metrics) = w.fresh()
      def pending = Lineage.filterPendingBucketed(spark, input, metrics)
      measure("scan")(noop(input.toDF()))
      measure("lineage.completed_read")(Lineage.completedDocIds(spark, metrics).count())
      measure("lineage.prune")(noop(pending.toDF()))
      measure("extract")(noop(Lineage.extractWithLineage(
        spark, pending, Extract.Strategy.RegionClustering, 0).toDF()))
      measure("functions.extract_spans")(noop(GraftFunctions.extractDF(spark, pending.toDF())))
      pendingDocs = pending.count()
      measure("lineage.commit")(Lineage.runResumable(spark, input, out, metrics, w.runId))
      w.discard(out)
    }
    tracer.detach()

    val out = mutable.LinkedHashMap[String, Double]()
    def med(layer: String, f: Window => Double): Double = Main.median(runs(layer).map(f).toSeq)
    // each layer's prefix and the prefix it extends
    val ladder = Seq("scan" -> None, "lineage.prune" -> Some("scan"),
      "extract" -> Some("lineage.prune"), "lineage.commit" -> Some("extract"))
    for ((layer, prev) <- ladder) {
      def self(f: Window => Double): Double = med(layer, f) - prev.map(med(_, f)).getOrElse(0.0)
      out(s"$layer.s") = self(_.wallS)
      out(s"$layer.task_cpu_s") = self(_.taskCpuS)
      out(s"$layer.gc_s") = self(_.gcS)
      out(s"$layer.shuffle_write_bytes") = self(_.shuffleWriteBytes.toDouble)
      out(s"$layer.spill_bytes") = self(_.spillBytes.toDouble)
      out(s"$layer.task_skew") = med(layer, _.taskSkew)
    }
    out("lineage.completed_read.s") = med("lineage.completed_read", _.wallS)
    out("lineage.pending_docs") = pendingDocs.toDouble
    out("functions.extract_spans.s") =
      med("functions.extract_spans", _.wallS) - med("lineage.prune", _.wallS)

    out ++= perDoc(a.seed)
    // docs/s of the parallel extract layer over nproc x single-thread docs/s
    out("extract.parallel_eff") =
      (pendingDocs / out("extract.s")) / (a.cpus * 1e6 / out("extract.doc_us"))
    out.toMap
  }

  /** Single-threaded timings in the benchmark JVM over a fixed sample of docs. */
  def perDoc(seed: Long): Map[String, Double] = {
    val docs = (0L until 400L).map(SpanGen.genDoc(_, seed)._1)
    val spans = docs.flatMap(_.spans)
    val wordBoxes = spans.filter(_.kind == SpanKinds.WordBox)
    val html = spans.filter(_.kind == SpanKinds.Html)
    val runs: Seq[Seq[WordBox]] = docs.flatMap(d => wordBoxRuns(d.spans))
    Map(
      "extract.doc_us" -> 1e6 * perItem(docs.length)(docs.map(Extract.extractDoc(_)).length),
      "decode.word_box_ns" -> 1e9 * perItem(wordBoxes.length)(
        wordBoxes.count(s => Decode.wordBoxOfRef(s.media_ref, s.text) != null)),
      "geom.to_table_us" -> 1e6 * perItem(runs.length)(runs.map(Geom.toTable(_).length).sum),
      "html.strip_us" -> 1e6 * perItem(html.length)(
        html.map(s => HtmlStrip.mainContentBlocks(s.text).length).sum))
  }

  /** Decoded boxes of each maximal word_box run, in offset order. */
  private def wordBoxRuns(spans: Seq[Span]): Seq[Seq[WordBox]] = {
    val runs = mutable.ArrayBuffer[Seq[WordBox]]()
    val cur = mutable.ArrayBuffer[WordBox]()
    for (s <- spans.sortBy(_.offset)) {
      if (s.kind == SpanKinds.WordBox) {
        val b = Decode.wordBoxOfRef(s.media_ref, s.text)
        if (b != null) cur += b
      } else if (cur.nonEmpty) { runs += cur.toVector; cur.clear() }
    }
    if (cur.nonEmpty) runs += cur.toVector
    runs.toSeq
  }

  @volatile private var sink = 0L

  /** Seconds per item of `body`, which handles `items` items: after two
    * warm-up passes, passes repeat for at least half a second.
    */
  private def perItem(items: Int)(body: => Int): Double = {
    sink += body + body
    var passes = 0
    val t0 = System.nanoTime()
    while (passes < 3 || Main.secondsSince(t0) < 0.5) { sink += body; passes += 1 }
    Main.secondsSince(t0) / (passes.toLong * math.max(1, items))
  }

  /** Wraps each corpus query in its own window and records its figures
    * into `out`.
    */
  def corpusQuery(tracer: Tracer, w: CorpusWorkload, out: mutable.Map[String, Double])
      : (String, => Unit) => Unit = (q, body) => {
    val before = w.cacheEntries
    val win = tracer.measure(body)._2
    out(s"$q.s") = win.wallS
    out(s"$q.task_cpu_s") = win.taskCpuS
    out(s"$q.shuffle_bytes") = win.shuffleWriteBytes.toDouble
    out(s"$q.spill_bytes") = win.spillBytes.toDouble
    out(s"$q.jobs") = win.jobs.toDouble
    out(s"$q.smj") = win.smj.toDouble
    out(s"$q.cache_left") = (w.cacheEntries - before).toDouble
  }
}
