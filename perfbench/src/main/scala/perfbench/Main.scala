package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.Files
import scala.collection.mutable

/** The benchmark JVM: one workload, one run. Started by `run.py`, which
  * builds the classpath, checks corpus outputs against the oracle and
  * prints the result line. This side writes its measurements to
  * `--result` as JSON.
  *
  * A run is a closed loop with one client: one job at a time on a
  * single `local[cpus]` session. Set-up comes first: session start, the
  * seeded input and, for extract_resume, the committed earlier run, then
  * untimed warm-up jobs of the same shape. The timed job repeats until
  * `--seconds` of job time have passed and at least `MinJobs` jobs ran;
  * every job's output is checked.
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean, cpus: Int,
      docs: Int, work: File, data: String, result: File)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cpus").toInt, m("docs").toInt, new File(m("work")), m("data"), new File(m("result")))
  }

  def session(cpus: Int, work: File): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def loadavg(): Double =
    scala.util.Try(Files.readString(new File("/proc/loadavg").toPath)
      .split("\\s+")(0).toDouble).getOrElse(-1.0)

  /** Peak resident set of this process, from /proc/self/status. */
  def rssPeakMb(): Double =
    scala.util.Try {
      val line = Files.readAllLines(new File("/proc/self/status").toPath)
        .toArray(Array.empty[String]).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Extraction jobs per run even when they outlast `--seconds`, so the
    * median has samples on both sides.
    */
  val MinJobs = 3

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Set("extract_fresh", "extract_resume").contains(a.workload),
      s"unknown workload ${a.workload}")
    a.work.mkdirs()
    val loadStart = loadavg()
    val t0 = System.nanoTime()
    val spark = session(a.cpus, a.work)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secondsSince(t0)

    val env = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "nproc" -> a.cpus, "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "bypass_merge_threshold" ->
        spark.sparkContext.getConf.get("spark.shuffle.sort.bypassMergeThreshold", "200 (default)"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "docs" -> a.docs, "loadavg_start" -> loadStart)
    val result = mutable.LinkedHashMap[String, Any]()
    try result ++= extract(spark, a, sessionS)
    finally {
      env("loadavg_end") = loadavg()
      result("env") = env
      result("rss_peak_mb") = rssPeakMb()
      Files.writeString(a.result.toPath, Json(result))
      spark.stop()
    }
  }

  /** Runs `job` (which returns its timed seconds) until `--seconds` of
    * job time have passed and at least `minJobs` jobs ran. With a
    * tracer, every second job runs traced. Returns the untraced and the
    * traced job times.
    */
  def timedLoop(a: Args, minJobs: Int, tracer: Option[Tracer])(job: => Double)
      : (Seq[Double], Seq[Double]) = {
    val plain, traced = mutable.ArrayBuffer[Double]()
    def n = plain.length + traced.length
    while (plain.sum + traced.sum < a.seconds || n < minJobs) {
      val t = tracer.filter(_ => n % 2 == 1)
      t.foreach(_.attach())
      val s = try job finally t.foreach(_.detach())
      (if (t.isDefined) traced else plain) += s
    }
    (plain.toSeq, traced.toSeq)
  }

  def extract(spark: SparkSession, a: Args, sessionS: Double): collection.Map[String, Any] = {
    val w = new ExtractWorkload(spark, a.work, a.docs, a.seed,
      resume = a.workload == "extract_resume")
    val t0 = System.nanoTime()
    w.prepare()
    val inputS = secondsSince(t0)
    val t1 = System.nanoTime()
    w.warmUp()
    val warmS = secondsSince(t1)

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val freshS, docsPerS, bytesPerDoc = mutable.ArrayBuffer[Double]()
    val done = mutable.ArrayBuffer[(String, String)]()
    var attempted, failed = 0
    val failures = mutable.ArrayBuffer[String]()
    val (jobS, tracedS) = timedLoop(a, MinJobs, tracer) {
      val f0 = System.nanoTime()
      val (out, metrics) = w.fresh()
      freshS += secondsSince(f0)
      attempted += 1
      val j0 = System.nanoTime()
      try {
        val (processed, skipped) = w.job(out, metrics)
        val s = secondsSince(j0)
        docsPerS += (processed + skipped) / s
        bytesPerDoc += w.addedBytes(out).toDouble / math.max(1L, processed)
        done += ((out, metrics))
        if (processed + skipped != a.docs) {
          failed += 1
          failures += s"job $attempted: processed $processed + skipped $skipped of ${a.docs}"
        }
        s
      } catch { case e: Throwable =>
        failed += 1
        failures += s"job $attempted: ${e.getClass.getName}: ${e.getMessage}".take(300)
        w.discard(out)
        secondsSince(j0)
      }
    }
    // every job's committed output against the goldens, in one pass
    val c0 = System.nanoTime()
    val tallies = w.score(done.toSeq)
    val checkS = secondsSince(c0)
    for ((t, k) <- tallies.zipWithIndex if t.mismatchDocs > 0) {
      failed += 1
      failures += s"job output ${k + 1}: ${t.mismatchDocs} of ${a.docs} docs differ from the golden"
    }
    done.foreach { case (out, _) => w.discard(out) }

    val result = mutable.LinkedHashMap[String, Any](
      "setup_s" -> (sessionS + inputS + warmS + median(freshS.toSeq)),
      "job_s" -> median(jobS), "docs_per_s" -> median(docsPerS.toSeq),
      "out_bytes_per_doc" -> median(bytesPerDoc.toSeq),
      "span_mismatch_docs" -> tallies.map(_.mismatchDocs).sum,
      "error_docs" -> tallies.map(_.errorDocs).sum,
      "setup_parts" -> Map("session_s" -> sessionS, "input_s" -> inputS, "warm_up_s" -> warmS,
        "job_tables_s" -> median(freshS.toSeq)),
      "job_s_all" -> jobS, "traced_job_s_all" -> tracedS, "check_s" -> checkS)
    for (t <- tracer) {
      val layers = mutable.LinkedHashMap[String, Double]()
      layers ++= Layers.extract(spark, w, a, t)
      layers("trace.overhead_s") = median(tracedS) - median(jobS)
      // the corpus queries' layers ride along every traced run
      val c = new CorpusWorkload(spark, a.work, a.data)
      c.prepareOracle()
      val out = new File(a.work, "corpus")
      t.attach()
      val errs = try c.sequence(out, Layers.corpusQuery(t, c, layers)) finally t.detach()
      attempted += CorpusWorkload.Queries.length
      failed += errs.length
      failures ++= errs.map { case (q, e) => s"$q: $e" }
      result ++= Seq("outputs" -> Seq(out.getPath), "queries" -> CorpusWorkload.Queries,
        "oracle_dir" -> c.oracleDir.getPath)
      result("layers") = layers
    }
    result ++= Seq("attempted" -> attempted, "failed" -> failed, "failures" -> failures)
  }
}
