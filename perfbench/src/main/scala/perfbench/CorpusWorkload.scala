package perfbench

import graft.SparkEntry

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.perfbench.Bridge

import java.io.File
import java.nio.file.Files

/** The corpus queries ROADMAP items 2 and 3 and the round-6 carry-overs
  * target, run once each in sorted name order in the benchmark's
  * session, each result written to parquet. After each query the
  * persisted blocks are freed and CacheManager registrations stay, as
  * in `graft.Bench`.
  */
final class CorpusWorkload(spark: SparkSession, work: File, dataDir: String) {

  val oracleDir = new File(work, "oracle")

  /** The oracle inputs: the SQL of each query as `SparkEntry.oracleSql`
    * has it, and the span-input table its `{OUT}` placeholder names,
    * dumped the way `graft.Verify` dumps it.
    */
  def prepareOracle(): Unit = {
    oracleDir.mkdirs()
    graft.fixtures.SpanGen.fromDocuments(spark, dataDir).toDF()
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.offset").as("offset"), col("s.kind").as("kind"),
        col("s.text").as("text"), col("s.media_ref").as("media_ref"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(new File(oracleDir, "spans_input").getPath)
    val sql = CorpusWorkload.Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
    Files.writeString(new File(oracleDir, "oracle_sql.json").toPath, Json(sql))
  }

  /** Runs the queries, writing `<out>/<query>`. `around` wraps each query
    * (tracing). Returns the queries that threw.
    */
  def sequence(out: File, around: (String, => Unit) => Unit): Seq[(String, String)] =
    CorpusWorkload.Queries.flatMap { q =>
      var err: Option[(String, String)] = None
      around(q, {
        try SparkEntry.queries(q)(spark, dataDir).write.mode(SaveMode.Overwrite)
          .parquet(new File(out, q).getPath)
        catch { case e: Throwable =>
          err = Some(q -> (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(300))
        }
      })
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      err
    }

  /** CacheManager entries the session holds now. */
  def cacheEntries: Int = Bridge.cacheEntries(spark)
}

object CorpusWorkload {
  val Queries: Seq[String] = Seq(
    "q_bitext_candidates", "q_cluster_canonical", "q_clustering_coeff",
    "q_corpus_clean", "q_dedup_cluster_auto", "q_dedup_minhash", "q_dedup_ngram",
    "q_embed_quant", "q_interleave_profile", "q_interp_join",
    "q_semantic_dedup").sorted
}
