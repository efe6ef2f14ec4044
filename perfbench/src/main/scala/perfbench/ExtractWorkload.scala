package perfbench

import graft.{Doc, Run}
import graft.fixtures.SpanGen

import org.apache.spark.sql.{Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.util.CollectionAccumulator

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.util.hashing.MurmurHash3

/** The production extraction job, `graft.Run.run` (strategy e1, one
  * batch), over a seeded `SpanGen.genDoc` table. A fresh job starts from
  * empty output and metrics tables; a resumed one from a copy of a
  * committed earlier run over about 90% of the docs.
  */
final class ExtractWorkload(spark: SparkSession, work: File, val nDocs: Int, seed: Long,
    resume: Boolean) {

  import ExtractWorkload._

  val input: String = new File(work, "input").getPath
  private val prior = new File(work, "prior")
  private var priorBytes = 0L
  private var iteration = 0
  private var golden = Array.empty[Long]

  /** Writes the input table, keeps the hash of each doc's golden, and
    * commits the earlier run a resumed job starts from.
    */
  def prepare(): Unit = {
    val hashes = spark.sparkContext.collectionAccumulator[(Long, Long)]("golden")
    writeInput(spark, input, nDocs, seed, hashes)
    golden = new Array[Long](nDocs)
    hashes.value.forEach { case (id, h) => golden(id.toInt) = h }
    if (resume) {
      val priorInput = new File(work, "prior_input").getPath
      val keep = inPrior(seed)
      val inPriorRun = udf((id: String) => keep(Golden.docNumber(id)))
      spark.read.parquet(input).filter(inPriorRun(col("doc_id")))
        .write.mode(SaveMode.Overwrite).parquet(priorInput)
      Run.run(spark, Array(priorInput, new File(prior, "out").getPath,
        new File(prior, "metrics").getPath, "prior"))
      priorBytes = Dirs.bytes(prior)
    }
  }

  /** Untimed jobs of the same shape, so the timed ones run warm. */
  def warmUp(): Unit =
    for (_ <- 1 to WarmJobs) {
      val (out, metrics) = fresh()
      job(out, metrics)
      discard(out)
    }

  /** The output and metrics tables the next job starts from. */
  def fresh(): (String, String) = {
    iteration += 1
    val dir = new File(work, s"job$iteration")
    Dirs.delete(dir)
    dir.mkdirs()
    if (resume) copyTree(prior.toPath, dir.toPath)
    (new File(dir, "out").getPath, new File(dir, "metrics").getPath)
  }

  def runId: String = s"bench-$iteration"

  /** The timed call. Returns (processed, skipped). */
  def job(out: String, metrics: String): (Long, Long) =
    Run.run(spark, Array(input, out, metrics, runId))

  /** Bytes the job added to the output and metrics tables. */
  def addedBytes(out: String): Long = Dirs.bytes(new File(out).getParentFile) - priorBytes

  def score(tables: Seq[(String, String)]): Seq[Golden.Tally] =
    Golden.score(spark, tables, golden)

  def discard(out: String): Unit = Dirs.delete(new File(out).getParentFile)
}

object ExtractWorkload {
  val WarmJobs = 3

  /** Whether doc `id` belongs to the earlier committed run: about 90%
    * of ids, chosen by a seeded hash.
    */
  def inPrior(seed: Long): Long => Boolean = id =>
    java.lang.Math.floorMod(MurmurHash3.mix(seed.toInt * 31 + 7, id.toInt), 1000) < 900

  /** Generates docs `0 until n` on the executors; adds `(id, golden
    * hash)` of each to `goldens`.
    */
  def writeInput(spark: SparkSession, path: String, n: Int, seed: Long,
      goldens: CollectionAccumulator[(Long, Long)]): Unit = {
    val parts = math.max(1, spark.sparkContext.defaultParallelism * 4)
    spark.range(0L, n.toLong, 1L, parts).as(Encoders.scalaLong)
      .map { (id: Long) =>
        val (doc, gold) = SpanGen.genDoc(id, seed)
        goldens.add((id, Golden.spanHash(gold)))
        doc
      }(Encoders.product[Doc])
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val target = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }
}
