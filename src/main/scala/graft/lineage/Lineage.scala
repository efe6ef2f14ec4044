package graft.lineage

import graft.{Doc, Parallelize}
import graft.extract.Extract
import graft.functions.{BucketFingerprintAgg, ExtractSpansExpr}

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, RepartitionOperation}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Checkpoint / lineage / resume (SURVEY.md S9 + K6 — the Spark-native
  * replacement for the reference's DynamoDB result cache,
  * dynamodb/dynamodb.go:38-90).
  *
  * Layout (Parquet with Iceberg-shaped layout — no Iceberg runtime jar in
  * this sandbox; swapping the `format` to "iceberg" is the only change
  * needed on a real cluster):
  *
  *  - output table  `<outPath>/run_id=<runId>/...`  — extracted docs plus
  *    `partition_id` and `wall_ms` lineage columns, partitioned by run_id
  *    so metrics derivation is a directory-pruned read-back (no cache of
  *    the full output in memory, which would not survive 100 TB).
  *  - metrics table `<metricsPath>` — one row per document:
  *    (run_id, partition_id, doc_id, status, n_tables, n_cells, checksum,
  *    wall_ms, ts) per FIXTURES.md §4.
  *
  * A run's bookkeeping takes few passes, and every read uses a schema
  * known up front, so no read pays a schema-inference job:
  *
  *  1. run_id reuse and table existence are filesystem checks on the
  *     catalog (no Spark job);
  *  2. the resume pass fingerprints the input's resume buckets in one
  *     observed pass and compares them on the driver with the completed
  *     set's, which derives both the skipped count and the incomplete
  *     buckets. The completed side comes from the per-snapshot
  *     summaries each run commits with its metrics rows, summed on the
  *     driver, so the pass scans the input only; where the metrics
  *     table has no valid summaries (`ParquetCatalog.summaries`) the
  *     same pass also reads the completed set (see
  *     [[filterPendingBucketed]]);
  *  3. the per-doc anti-join runs on the incomplete buckets alone;
  *  4. extraction is one codegen'd Project over the pending rows, the
  *     timed form of `extract_spans`, run on the partitions the rows
  *     already have: a fresh run's scan splits or the anti-join's output.
  *     Only an under-split fresh input, or an explicit `numPartitions`,
  *     pays a placement shuffle (see [[extractWithLineage]]);
  *  5. the commit appends the output, reads back only this run's
  *     partition, and appends the metrics rows derived from it, counting
  *     them (`Observe`) and fingerprinting the `ok` ones (the
  *     snapshot's summary) in the same pass.
  *
  * Resume = left-anti join of the input against the metrics table's
  * successfully completed doc_ids. Idempotence: Spark's output committer
  * publishes task files only on job success, and metrics are appended
  * strictly after the output write succeeds, so a killed run re-processes
  * at most the last in-flight (uncommitted) work and never duplicates a
  * doc in the metrics table.
  */
object Lineage {

  final case class LineageDoc(
      doc_id: String,
      spans: Seq[graft.Span],
      n_tables: Int,
      n_cells: Int,
      status: String,
      partition_id: Int,
      wall_ms: Long)

  /** The metrics-table columns the resume reads. */
  private val CompletedSchema = StructType(Seq(
    StructField("doc_id", StringType), StructField("status", StringType)))

  /** The metrics-table columns `readCommitted` keys on. */
  private val CommittedSchema = StructType(Seq(
    StructField("run_id", StringType), StructField("doc_id", StringType)))

  /** Data columns of the output table; run_id lives in the partition path. */
  private val OutSchema = Encoders.product[LineageDoc].schema

  /** Resume buckets of a production run. */
  private val ResumeBuckets = 4096

  /** The `doc_id` of every `ok` row of an existing metrics table, one
    * per row: a doc committed `ok` twice appears twice.
    */
  private def okDocIds(spark: SparkSession, metricsPath: String): DataFrame =
    ParquetCatalog.read(spark, metricsPath, CompletedSchema)
      .filter(col("status") === "ok")
      .select(col("doc_id"))

  /** doc_ids already successfully extracted in any previous run. */
  def completedDocIds(spark: SparkSession, metricsPath: String): DataFrame =
    if (ParquetCatalog.exists(spark, metricsPath)) okDocIds(spark, metricsPath).distinct()
    else spark.range(0).select(lit("").as("doc_id")).filter(lit(false))

  /** Input minus completed docs — the resume anti-join (broadcast-able
    * when the completed set is small; Catalyst/AQE picks the strategy).
    */
  def filterPending(spark: SparkSession, input: Dataset[Doc], metricsPath: String): Dataset[Doc] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Doc]
    val done = completedDocIds(spark, metricsPath)
    input.join(done, Seq("doc_id"), "left_anti").as[Doc]
  }

  /** Stable resume bucket of a doc_id: independent of the run's
    * extraction partitioning, so completeness accounting survives
    * re-running at a different parallelism. The one doc_id hash of the
    * file: batch slices and the `numPartitions` salt use it too.
    */
  private def resumeBucket(buckets: Int): Column =
    pmod(xxhash64(col("doc_id"), lit(16)), lit(buckets))

  /** What the resume pass leaves on the driver: the completed-doc count
    * and the input buckets not wholly completed.
    */
  private final case class ResumeState(skipped: Long, incomplete: Seq[Long])

  /** The set fingerprint of the `doc_id`s of the rows whose `bucket` is
    * not null, per resume bucket: the one fingerprint the commit
    * observes and the resume compares.
    */
  private def fingerprint(bucket: Column, buckets: Int): Column =
    BucketFingerprintAgg.of(bucket, col("doc_id"), buckets)

  /** The resume pass. A bucket is wholly done only when the completed
    * doc_ids in it equal the input's as a multiset, tested by their
    * per-bucket SET fingerprints ([[BucketFingerprintAgg]]: two
    * independent mod-p hash sums), so the pruning stays CORRECT when the
    * metrics table holds doc_ids not in the current input (a
    * replaced/renamed doc sharing a bucket with a completed one): any
    * asymmetry fails the fingerprint and the bucket falls through to the
    * per-doc anti-join, which handles extras natively. False "equal"
    * needs a simultaneous collision of both sums (~p^-2 ~ 2.5e-19 per
    * bucket).
    *
    * The fingerprints are observed over one discarded pass, so the
    * tasks' partial fingerprints merge on the driver. The completed
    * side, in one of two ways:
    *  - summary path: when `ParquetCatalog.summaries` holds one summary
    *    per snapshot over `buckets` buckets, their sum. The pass then
    *    reads the input alone: one Spark job, no shuffle. `skipped` is
    *    the sum of the summaries' row counts: the `ok` rows, which
    *    equals the distinct completed doc_ids whenever no doc_id is
    *    committed `ok` twice (only an input carrying a doc_id twice does
    *    that);
    *  - fallback: the pass is the tagged union of the input and
    *    [[completedDocIds]] (a completed-table scan and a `distinct()`
    *    shuffle), fingerprinting both sides; `skipped` is the distinct
    *    completed doc_id count.
    */
  private def resumeState(spark: SparkSession, input: Dataset[Doc],
      metricsPath: String, buckets: Int): ResumeState = {
    import BucketFingerprintAgg.Fingerprint
    val summed = ParquetCatalog.summaries(spark, metricsPath)
      .map(_.map(Fingerprint.decode)).filter(_.forall(_.buckets == buckets))
    def side(df: DataFrame, isInput: Boolean): DataFrame =
      df.select(col("doc_id"), lit(isInput).as("is_in"))
    def fp(isInput: Boolean): Column =
      fingerprint(when(col("is_in") === isInput, resumeBucket(buckets)), buckets)
    val inputSide = side(input.toDF(), isInput = true)
    val pass =
      if (summed.isDefined) inputSide
      else inputSide.unionByName(side(completedDocIds(spark, metricsPath), isInput = false))
    val observed = Observe.writeWithMetrics(pass,
        "in" -> fp(isInput = true), "done" -> fp(isInput = false))(
      _.write.format("noop").mode(SaveMode.Overwrite).save())
    def decoded(name: String) = Fingerprint.decode(observed(name).asInstanceOf[Array[Byte]])
    val in = decoded("in")
    val done = summed.map(_.foldLeft(new Fingerprint(buckets))(_.merge(_)))
      .getOrElse(decoded("done"))
    ResumeState(skipped = done.rows, incomplete = in.differing(done))
  }

  /** Input buckets NOT fully completed, as a `bucket` column — the
    * resume pass's driver-side result (see [[filterPendingBucketed]]).
    */
  def incompleteBuckets(spark: SparkSession, input: Dataset[Doc],
      metricsPath: String, buckets: Int): DataFrame =
    spark.createDataset(resumeState(spark, input, metricsPath, buckets).incomplete)(
      Encoders.scalaLong).toDF("bucket")

  /** (skipped, pending) of one run: one resume pass, then the per-doc
    * anti-join over the incomplete buckets alone.
    */
  private def resume(spark: SparkSession, input: Dataset[Doc], metricsPath: String,
      buckets: Int): (Long, Dataset[Doc]) = {
    implicit val enc = Encoders.product[Doc]
    if (!ParquetCatalog.exists(spark, metricsPath)) return (0L, input)
    val state = resumeState(spark, input, metricsPath, buckets)
    val pending =
      if (state.incomplete.isEmpty) input.filter(lit(false))
      else {
        val inS = resumeBucket(buckets).isin(state.incomplete: _*)
        val done = okDocIds(spark, metricsPath).filter(inS)
        input.filter(inS).join(done, Seq("doc_id"), "left_anti").as[Doc]
      }
    (state.skipped, pending)
  }

  /** Partition-granular resume fast path. The plain anti-join keys the
    * FULL input against the FULL completed-id set. Here the resume pass
    * runs eagerly and finds the incomplete buckets S; the returned plan
    * is `input[bucket in S]` left-anti `ok[bucket in S]`, so only docs in
    * partially-complete buckets (the crash frontier — a few buckets out
    * of thousands on a steady resume) reach the per-doc anti-join, and an
    * empty S is the empty input with no scan at all. The right side is
    * the `ok` rows' doc_ids without `distinct()`: a left-anti join's
    * output does not depend on duplicates on its right.
    *
    * On a metrics table whose snapshots all carry summaries (every table
    * `runResumable` alone has written), the pass sums the summaries on
    * the driver and scans only the input: no completed-set read and no
    * shuffle of completed doc_ids. Elsewhere (a table written outside
    * the catalog, an orphan, a compaction or expiry, a lost summary, or
    * a `buckets` other than the summaries') it falls back to reading the
    * completed set through [[completedDocIds]], whose `distinct()`
    * shuffles every completed doc_id. Worst case (every bucket
    * incomplete) degrades to the plain path plus the resume pass.
    * Output is identical to filterPending.
    */
  def filterPendingBucketed(spark: SparkSession, input: Dataset[Doc],
      metricsPath: String, buckets: Int = ResumeBuckets): Dataset[Doc] =
    resume(spark, input, metricsPath, buckets)._2

  /** Extraction with its lineage columns, as one codegen'd Project over
    * `docs`: the timed form of `extract_spans` (each row's `wall_ms` is
    * measured inside the expression's eval) and `partition_id` =
    * `spark_partition_id()`. No object is deserialized and the values
    * equal `Extract.extractDoc`'s; a doc whose `spans` is null becomes an
    * error row (`status = "error:NullPointerException"`, no spans).
    *
    * Placement. The extraction is record-local, so with
    * `numPartitions == 0` it runs where the rows already are:
    *  - a plan that already moves rows between partitions (a join, an
    *    aggregation or a repartition; a resume's anti-join) is extracted
    *    on its own partitions. Its partition count is never asked for,
    *    because under AQE that would run the plan's stages twice;
    *  - any other plan (a fresh run's scan) is spread by
    *    `Parallelize.bySplits`, which is a no-op once the scan has at
    *    least the session's parallelism in splits, so only an
    *    under-split input pays a shuffle.
    * `numPartitions > 0` salts a hash repartition into that many
    * partitions first, for inputs laid out by document size.
    */
  def extractWithLineage(
      spark: SparkSession,
      docs: Dataset[Doc],
      strategy: Extract.Strategy,
      numPartitions: Int): Dataset[LineageDoc] = {
    val placed =
      if (numPartitions > 0)
        docs.toDF().repartition(numPartitions, resumeBucket(numPartitions))
      else if (movesRows(docs.queryExecution.optimizedPlan)) docs.toDF()
      else Parallelize.bySplits(docs.toDF(), "doc_id")
    val (split, mid) = strategy match {
      case Extract.Strategy.RegionClustering => (false, false)
      case Extract.Strategy.SplitHeuristic   => (true, false)
      case Extract.Strategy.SplitMidpoint    => (true, true)
    }
    val ex = PlanBridge.column(
      ExtractSpansExpr(PlanBridge.expression(col("spans")), split, mid, timed = true))
    placed
      .select(col("doc_id"), ex.as("ex"), spark_partition_id().as("partition_id"))
      .select(col("doc_id"), col("ex.spans").as("spans"), col("ex.n_tables").as("n_tables"),
        col("ex.n_cells").as("n_cells"), col("ex.status").as("status"),
        col("partition_id"), col("ex.wall_ms").as("wall_ms"))
      .as[LineageDoc](Encoders.product[LineageDoc])
  }

  /** Whether `plan` has an operator that places rows by an exchange (a
    * `coalesce` only merges partitions, so it does not count).
    */
  private def movesRows(plan: LogicalPlan): Boolean = plan.exists {
    case _: Join | _: Aggregate => true
    case r: RepartitionOperation => r.shuffle
    case _ => false
  }

  /** One resumable run. Returns (#processed this run, #skipped as done).
    *
    * Passes: a filesystem check that `runId` has no output partition
    * yet; the resume pass of [[filterPendingBucketed]] (which also yields
    * the skipped count); extraction and the output append; a read-back of
    * this run's output partition only, with the known output schema; and
    * the metrics append, whose row count (the processed count) and the
    * fingerprint of its `ok` doc_ids (the snapshot's summary the next
    * resume sums) are observed in the same pass.
    *
    * Crash-window contract: the output append commits before the metrics
    * append, so a crash between the two leaves output rows with no
    * metrics row ("orphans"). Each attempt MUST use a fresh runId
    * (enforced below); a retry then re-extracts the orphaned docs under
    * the new runId, and `readCommitted` excludes the orphans by keeping
    * only (run_id, doc_id) pairs present in the metrics table. Skipped
    * count is derived from the metrics table — never from a count of the
    * input, which at 100 TB would be a second full scan.
    */
  def runResumable(
      spark: SparkSession,
      input: Dataset[Doc],
      outPath: String,
      metricsPath: String,
      runId: String,
      strategy: Extract.Strategy = Extract.Strategy.RegionClustering,
      numPartitions: Int = 0): (Long, Long) = {
    if (ParquetCatalog.hasPartition(spark, outPath, "run_id", runId))
      throw new IllegalStateException(
        s"run_id=$runId already exists under $outPath; every attempt needs " +
          "a fresh run_id (a same-id rerun would append duplicate rows)")
    val (skipped, pending) = resume(spark, input, metricsPath, ResumeBuckets)
    val extracted = extractWithLineage(spark, pending, strategy, numPartitions)

    ParquetCatalog.appendPartitioned(
      extracted.withColumn("run_id", lit(runId)), outPath, "run_id")

    // Directory-pruned read-back of just this run's output; checksum is
    // sha256 over the canonical JSON of the ordered span sequence (the
    // reference checksums input bytes, file.go:22-24 — ours gates the
    // output invariant).
    val runOut = ParquetCatalog.readPartition(spark, outPath, "run_id", runId, OutSchema)
    val metrics = runOut.select(
      col("run_id"), col("partition_id"), col("doc_id"), col("status"),
      col("n_tables"), col("n_cells"),
      sha2(to_json(col("spans")), 256).as("checksum"),
      col("wall_ms"), current_timestamp().as("ts"))
    val okFingerprint =
      fingerprint(when(col("status") === "ok", resumeBucket(ResumeBuckets)), ResumeBuckets)
    val observed = Observe.writeWithMetrics(metrics, "processed" -> count(lit(1)))(
      ParquetCatalog.appendSummarized(_, metricsPath, okFingerprint))
    (observed("processed").asInstanceOf[Long], skipped)
  }

  /** The bucket-slice of the input a batched run processes as batch
    * `b` of `batches` — same stable doc_id hash as the resume buckets,
    * so completed batches prune in filterPendingBucketed's fast path.
    */
  def batchSlice(input: Dataset[Doc], batches: Int, b: Int): Dataset[Doc] =
    input.filter(resumeBucket(batches) === b)

  /** Batched resumable run: the input is processed as `batches`
    * sequential bucket-slices, each committing its output + metrics
    * independently. The single-job form above commits NOTHING until the
    * whole input succeeds — at 10^12 docs, where some failure is
    * certain, that is an unusable blast radius; here a crash loses at
    * most one in-flight batch, and the retry's per-batch resume prunes
    * every completed batch with one resume pass
    * (filterPendingBucketed) before touching per-doc state. Each batch
    * commits under run_id `<runId>-b<b>`; a retry needs a fresh base
    * runId like any other attempt. Returns (processed this run,
    * completed-doc count found in metrics at start — batch 0's skipped
    * count, taken before batch 0 commits), mirroring runResumable's
    * contract.
    */
  def runResumableBatched(
      spark: SparkSession,
      input: Dataset[Doc],
      outPath: String,
      metricsPath: String,
      runId: String,
      strategy: Extract.Strategy = Extract.Strategy.RegionClustering,
      batches: Int = 8,
      numPartitions: Int = 0): (Long, Long) = {
    require(batches >= 1, s"batches must be positive: $batches")
    val counts = (0 until batches).map(b =>
      runResumable(spark, batchSlice(input, batches, b),
        outPath, metricsPath, s"$runId-b$b", strategy, numPartitions))
    (counts.map(_._1).sum, counts.head._2)
  }

  /** The full extracted output across all runs (resume-aware readers). */
  def readOutput(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(outPath)

  /** Committed output only: rows whose (run_id, doc_id) reached the
    * metrics table. Excludes orphans from a crash between the output
    * append and the metrics append — the reader-side half of the
    * idempotence contract (one row per doc even across crashed attempts).
    */
  def readCommitted(spark: SparkSession, outPath: String, metricsPath: String): DataFrame = {
    val committed = ParquetCatalog.read(spark, metricsPath, CommittedSchema)
    ParquetCatalog.read(spark, outPath).join(committed, Seq("run_id", "doc_id"), "left_semi")
  }
}
