package graft

import graft.extract.Extract
import graft.lineage.Lineage

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter

/** The spark-submit-able job entry point — the batch counterpart of the
  * reference's user-facing mains (cmd/cli/main.go:22-138 reads one file,
  * extracts, writes CSV/HTML next to it; cmd/lambda/main.go:29-106 does
  * the same per HTTP request). Here one submit processes an entire span
  * table resumably:
  *
  *   spark-submit --class graft.Run <jar> \
  *     <inputPath> <outPath> <metricsPath> [runId] [strategy] [numPartitions] [batches]
  *
  * - inputPath: parquet table of (doc_id string, spans array<struct<
  *   kind,text,media_ref,offset>>) — the BASELINE.json input_hint shape.
  * - outPath/metricsPath: the lineage tables (Lineage.runResumable).
  * - runId: unique per attempt (default: wall-clock stamp). Reusing an
  *   id fails fast.
  * - strategy: e1 | e2 | e2mid (default e1, the reference's live path).
  * - numPartitions: 0 (default) extracts where the rows are and spreads
  *   only an input with fewer splits than the session's parallelism;
  *   N > 0 does a salted hash repartition into N first, for inputs laid
  *   out by document size.
  * - batches: 1 = one job (default); N > 1 = Lineage.runResumableBatched
  *   sequential bucket-batches, so a crash loses at most one batch —
  *   the right setting for any long-running corpus-scale run.
  *
  * The input is read with the `Doc` schema, so no job infers it. One
  * data file's footer is checked on the driver first: an input without
  * `doc_id` string and `spans` of that shape fails before any table is
  * touched, instead of committing every doc as an error row.
  *
  * Prints one JSON line with the run summary; exit code 0 only if the
  * run committed (output + metrics appends both done).
  */
object Run {

  private val DocSchema = Encoders.product[Doc].schema

  /** The input as `Dataset[Doc]`, after checking the footer of its first
    * visible data file (a filesystem listing and one footer read, no
    * Spark job) for `DocSchema`'s columns; other columns are ignored.
    */
  def readInput(spark: SparkSession, inputPath: String): Dataset[Doc] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(inputPath)
    val fs = root.getFileSystem(conf)
    def visible(p: Path) = !p.getName.startsWith("_") && !p.getName.startsWith(".")
    def firstFile(d: Path): Option[Path] = fs.listStatus(d).iterator
      .filter(st => visible(st.getPath))
      .flatMap(st => if (st.isFile) Some(st.getPath) else firstFile(st.getPath))
      .nextOption()
    val file = (if (fs.exists(root)) firstFile(root) else None).getOrElse(
      throw new IllegalArgumentException(s"no parquet data file under $inputPath"))
    val footer = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val found =
      try new ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(footer.getFooter.getFileMetaData.getSchema)
      finally footer.close()
    for (want <- DocSchema) {
      val got = found.find(_.name == want.name).map(_.dataType.catalogString)
      if (!got.contains(want.dataType.catalogString))
        throw new IllegalArgumentException(
          s"input $inputPath: column ${want.name} must be ${want.dataType.catalogString}, " +
            s"found ${got.getOrElse("no such column")} in $file")
    }
    spark.read.schema(DocSchema).parquet(inputPath).as[Doc](Encoders.product[Doc])
  }

  def parseStrategy(s: String): Extract.Strategy = s.toLowerCase match {
    case "e1" | "regions" => Extract.Strategy.RegionClustering
    case "e2" | "split"   => Extract.Strategy.SplitHeuristic
    case "e2mid" | "mid"  => Extract.Strategy.SplitMidpoint
    case other => throw new IllegalArgumentException(
      s"unknown strategy '$other' (want e1 | e2 | e2mid)")
  }

  /** Separated from main so tests can drive it with their own session. */
  def run(spark: SparkSession, args: Array[String]): (Long, Long) = {
    require(args.length >= 3,
      "usage: graft.Run <inputPath> <outPath> <metricsPath> [runId] [strategy] [numPartitions] [batches]")
    val Array(inputPath, outPath, metricsPath) = args.take(3)
    val runId = if (args.length > 3) args(3) else s"run-${System.currentTimeMillis()}"
    val strategy = if (args.length > 4) parseStrategy(args(4)) else Extract.Strategy.RegionClustering
    val numPartitions = if (args.length > 5) args(5).toInt else 0
    val batches = if (args.length > 6) args(6).toInt else 1

    val input = readInput(spark, inputPath)
    val (processed, skipped) =
      if (batches > 1)
        Lineage.runResumableBatched(spark, input, outPath, metricsPath, runId,
          strategy, batches, numPartitions)
      else
        Lineage.runResumable(spark, input, outPath, metricsPath, runId, strategy, numPartitions)
    println(
      s"""{"run_id":"$runId","processed":$processed,"skipped":$skipped,""" +
        s""""out":"$outPath","metrics":"$metricsPath"}""")
    (processed, skipped)
  }

  def main(args: Array[String]): Unit = {
    val builder = SparkSession.builder().appName("graft-run")
    // under spark-submit the master comes from the submit command; give
    // a local default so `sbt runMain` works too
    val spark =
      (if (sys.props.contains("spark.master")) builder
       else builder.master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
         .config("spark.sql.shuffle.partitions",
           sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")))
        .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args)
    finally spark.stop()
  }
}
