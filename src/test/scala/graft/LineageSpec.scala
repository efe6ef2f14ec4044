package graft

import graft.fixtures.SpanGen
import graft.lineage.Lineage
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Resume semantics (SURVEY.md §5.6): a partial run followed by a resume
  * must process only the remainder and the union must equal a single
  * uninterrupted run's output.
  */
class LineageSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-lineage-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = TempDirs("graft-lineage")

  /** Parquet files under `root`, the catalog's hidden directories included. */
  private def parquetFiles(root: String): Set[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        .flatMap(c => if (c.isDirectory) walk(c) else Seq(c))
    walk(new java.io.File(root)).filter(_.getName.endsWith(".parquet")).toSet
  }

  /** The codec every column chunk of `f` reports in its footer. */
  private def chunkCodecs(f: java.io.File): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.getPath), spark.sessionState.newHadoopConf())
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(_.getCodec.name))
    finally reader.close()
  }

  /** Fails unless `table`'s snapshot directory holds only metadata
    * files (`snap-`, `fp-`, `stage-`) and their checksums: no temporary
    * file is left behind.
    */
  private def assertMetaOnly(table: String): Unit = {
    val names = Option(new java.io.File(table, "_graft_snapshots").list()).toSeq.flatten
    val stray = names.filterNot(_.matches("""(snap|fp|stage)-\d{9}|\.(snap|fp|stage)-\d{9}\.crc"""))
    assert(stray.isEmpty, s"$table: $stray")
  }

  /** The codecs of the column chunks in the files `write` adds under
    * `root`; fails when it adds none, or leaves a metadata leftover.
    */
  private def codecsAdded(root: String)(write: => Any): Set[String] = {
    val before = parquetFiles(root)
    write
    assertMetaOnly(root)
    val added = parquetFiles(root) -- before
    assert(added.nonEmpty, s"no parquet file added under $root")
    added.flatMap(chunkCodecs)
  }

  private def docIds(ds: Dataset[Doc]): Seq[String] =
    ds.toDF().select("doc_id").collect().map(_.getString(0)).sorted.toSeq

  /** The bucketed resume keeps exactly the docs the plain anti-join
    * keeps, on whichever path `metrics` sends it down.
    */
  private def assertPendingAsPlain(input: Dataset[Doc], metrics: String): Unit =
    assert(docIds(Lineage.filterPendingBucketed(spark, input, metrics)) ==
      docIds(Lineage.filterPending(spark, input, metrics)), metrics)

  /** No doc is committed `ok` twice in `metrics`: the invariant under
    * which the summaries' ok-row count is the distinct completed count.
    */
  private def assertOkOnce(metrics: String): Unit = {
    val ok = spark.read.parquet(metrics).filter("status = 'ok'").select("doc_id")
    assert(ok.count() == ok.distinct().count(), metrics)
  }

  /** `body`'s value, the Spark jobs and stages it started, and the
    * queries it ran.
    */
  private def observed[T](body: => T): (T, Int, Int, Seq[QueryExecution]) = {
    import org.apache.spark.jobcount.JobCount
    val done = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { done.add(qe); () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val (out, jobs, stages) = JobCount.withStages(spark)(body)
      (out, jobs, stages, done.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  test("partial run + resume equals one full run; nothing reprocessed") {
    import spark.implicits._
    val fixtures = SpanGen.genDocs(80, seed = 21L)
    val all = spark.createDataset(fixtures.map(_._1))
    val firstHalf = spark.createDataset(fixtures.take(40).map(_._1))

    val out = tmp() + "/out"
    val metrics = tmp() + "/metrics"

    // run 1: only half the input reaches the job (simulated interruption)
    val (p1, s1) = Lineage.runResumable(spark, firstHalf, out, metrics, "run-1")
    assert(p1 == 40 && s1 == 0)

    // run 2: full input; the 40 completed docs must be skipped
    val (p2, s2) = Lineage.runResumable(spark, all, out, metrics, "run-2")
    assert(p2 == 40 && s2 == 40)

    // union equals goldens, each doc exactly once
    val rows = Lineage.readOutput(spark, out)
      .select("doc_id", "spans", "status").as[(String, Seq[Span], String)]
      .collect()
    assert(rows.length == 80)
    assert(rows.map(_._1).distinct.length == 80)
    val byId = rows.map(r => r._1 -> r).toMap
    for ((doc, golden) <- fixtures) {
      val (_, spans, status) = byId(doc.doc_id)
      assert(status == "ok")
      assert(spans == golden, s"${doc.doc_id}")
    }

    // a third run over the same input is a no-op
    val (p3, s3) = Lineage.runResumable(spark, all, out, metrics, "run-3")
    assert(p3 == 0 && s3 == 80)

    // metrics: one row per (doc, run), checksums present
    val m = spark.read.parquet(metrics)
    assert(m.count() == 80)
    assert(m.filter($"checksum".isNull || $"checksum" === "").count() == 0)
    assert(m.select("doc_id").distinct().count() == 80)
  }

  test("reusing a run_id fails fast instead of appending duplicates") {
    import spark.implicits._
    val ds = spark.createDataset(SpanGen.genDocs(5, 3L).map(_._1))
    val out = tmp() + "/out"
    val metrics = tmp() + "/metrics"
    Lineage.runResumable(spark, ds, out, metrics, "run-x")
    val e = intercept[IllegalStateException] {
      Lineage.runResumable(spark, ds, out, metrics, "run-x")
    }
    assert(e.getMessage.contains("run-x"))
  }

  test("crash between output and metrics appends: readCommitted sees each doc once") {
    import spark.implicits._
    val fixtures = SpanGen.genDocs(20, seed = 9L)
    val ds = spark.createDataset(fixtures.map(_._1))
    val out = tmp() + "/out"
    val metrics = tmp() + "/metrics"

    // simulate a crashed attempt: the output append committed but the
    // metrics append never ran (orphan rows under run_id=crashed)
    import org.apache.spark.sql.functions.lit
    Lineage.extractWithLineage(spark, ds, graft.extract.Extract.Strategy.RegionClustering, 4)
      .withColumn("run_id", lit("crashed"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("run_id").parquet(out)

    // retry under a fresh run_id processes everything (metrics is empty)
    val (p, s) = Lineage.runResumable(spark, ds, out, metrics, "retry")
    assert(p == 20 && s == 0)

    // raw output holds both attempts; committed view dedups to one row/doc
    assert(Lineage.readOutput(spark, out).count() == 40)
    val committed = Lineage.readCommitted(spark, out, metrics)
    assert(committed.count() == 20)
    assert(committed.select("doc_id").distinct().count() == 20)
    assert(committed.filter($"run_id" =!= "retry").count() == 0)
    assertOkOnce(metrics)
  }

  test("bucketed resume prunes completed buckets before the per-doc anti-join") {
    import spark.implicits._
    import graft.lineage.ParquetCatalog
    import org.apache.spark.sql.functions._
    val fixtures = SpanGen.genDocs(200, seed = 31L)
    val all = spark.createDataset(fixtures.map(_._1))
    val buckets = 8
    // same bucket formula as Lineage.resumeBucket
    val bucketOf = pmod(xxhash64(col("doc_id"), lit(16)), lit(buckets))
    val withB = all.toDF().withColumn("bucket", bucketOf)

    // mark every doc complete except all of bucket 3 and one straggler in
    // bucket 5 — so exactly two buckets are partially complete
    val straggler = withB.filter($"bucket" === 5)
      .select("doc_id").as[String].head()
    val metrics = tmp() + "/metrics"
    withB.filter($"bucket" =!= 3 && col("doc_id") =!= straggler)
      .select(col("doc_id"), lit("ok").as("status"))
      .write.parquet(metrics)
    // written outside the catalog: no summaries, so the resume reads it
    assert(ParquetCatalog.summaries(spark, metrics).isEmpty)

    // pruning: only the two partially-complete buckets survive, so the
    // per-doc anti-join input shrinks from 200 docs to just their docs
    val incomplete = Lineage.incompleteBuckets(spark, all, metrics, buckets)
      .as[Long].collect().toSet
    assert(incomplete == Set(3L, 5L))
    val candidateCount = withB.filter($"bucket".isin(3, 5)).count()
    assert(candidateCount < 200 && candidateCount > 0)

    // fast path output is identical to the plain anti-join
    val plain = Lineage.filterPending(spark, all, metrics)
      .select("doc_id").as[String].collect().sorted.toSeq
    val fast = Lineage.filterPendingBucketed(spark, all, metrics, buckets)
      .select("doc_id").as[String].collect().sorted.toSeq
    assert(fast == plain)
    assert(fast.length == withB.filter($"bucket" === 3).count() + 1)
    assert(fast.contains(straggler))
  }

  test("bucketed resume stays correct when metrics holds docs not in the input") {
    import spark.implicits._
    import graft.lineage.ParquetCatalog
    import org.apache.spark.sql.functions._
    // run 1 completed {A, B}; the input then replaces B with a new doc E.
    // buckets = 1 forces everything into one bucket: a count-equality
    // prune would see n_in = 2 = n_done, declare the bucket done, and
    // silently never extract E — the set fingerprint must catch it
    val fixtures = SpanGen.genDocs(3, seed = 51L)
    val Seq(a, bDoc, e) = fixtures.map(_._1)
    val metrics = tmp() + "/metrics"
    Seq(a.doc_id, bDoc.doc_id).toDF("doc_id")
      .withColumn("status", lit("ok")).write.parquet(metrics)
    val input = spark.createDataset(Seq(a, e))
    assert(ParquetCatalog.summaries(spark, metrics).isEmpty)
    val pending = Lineage.filterPendingBucketed(spark, input, metrics, buckets = 1)
      .select("doc_id").as[String].collect().toSeq
    assert(pending == Seq(e.doc_id))
    assert(pending == docIds(Lineage.filterPending(spark, input, metrics)))
    // and the unchanged-input steady case still prunes to empty
    val same = spark.createDataset(Seq(a, bDoc))
    assert(Lineage.filterPendingBucketed(spark, same, metrics, buckets = 1).isEmpty)
  }

  test("bucket fingerprint: the SQL-defined sums, additive over a split, lossless encoding") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.BucketFingerprintAgg
    import BucketFingerprintAgg.{Fingerprint, P}
    val buckets = 16
    val ids = (0 until 300).map(i => s"doc-$i").toDF("doc_id").repartition(4)
    val bucket = pmod(xxhash64(col("doc_id"), lit(16)), lit(buckets))
    def fp(df: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.Column = bucket) =
      Fingerprint.decode(df.agg(BucketFingerprintAgg.of(b, col("doc_id"), buckets))
        .head().getAs[Array[Byte]](0))
    def same(a: Fingerprint, b: Fingerprint) =
      a.rows == b.rows && a.differing(b).isEmpty && b.differing(a).isEmpty
    val whole = fp(ids)
    val sql = new Fingerprint(buckets)
    ids.select(bucket, pmod(xxhash64(col("doc_id"), lit(71)), lit(P)),
        pmod(xxhash64(col("doc_id"), lit(1213)), lit(P)))
      .as[(Long, Long, Long)].collect().foreach { case (b, h1, h2) => sql.add(b.toInt, h1, h2) }
    assert(whole.rows == 300 && same(whole, sql))
    val even = col("doc_id").endsWith("0") || col("doc_id").endsWith("2")
    assert(same(whole, fp(ids.filter(even)).merge(fp(ids.filter(!even)))))
    // a null bucket leaves the row out
    assert(same(fp(ids, when(even, bucket)), fp(ids.filter(even))))
    assert(same(whole, Fingerprint.decode(whole.encode)))
    // one doc fewer changes its bucket's sums and no other bucket's
    val dropped = ids.filter(col("doc_id") =!= "doc-7")
    val bucketOf7 = Seq("doc-7").toDF("doc_id").select(bucket).as[Long].head()
    assert(whole.differing(fp(dropped)) == Seq(bucketOf7))
  }

  test("a doc committed ok twice: the resume loses and repeats nothing on either path") {
    import spark.implicits._
    import graft.lineage.ParquetCatalog
    import java.nio.file.Paths
    // the only way a doc is committed ok twice: an input that carries
    // its doc_id twice (crash retries and batches commit each doc once)
    val docs = SpanGen.genDocs(12, seed = 45L).map(_._1)
    val first = docs.take(8) :+ docs.head
    val base = tmp()
    val (p1, _) = Lineage.runResumable(spark, spark.createDataset(first),
      s"$base/out", s"$base/metrics", "run-1")
    assert(p1 == 9)
    val ok = spark.read.parquet(s"$base/metrics").select("doc_id")
    assert(ok.count() == 9 && ok.distinct().count() == 8)

    // the same tables twice: one keeps its summaries, one loses them
    val copy = s"$base/copy"
    Seq("out", "metrics").foreach { t =>
      Files.walk(Paths.get(base, t)).iterator().asScala.foreach { from =>
        val to = Paths.get(copy, t).resolve(Paths.get(base, t).relativize(from))
        if (Files.isDirectory(from)) Files.createDirectories(to) else Files.copy(from, to)
      }
    }
    Files.delete(Paths.get(copy, "metrics", "_graft_snapshots", "fp-000000001"))
    assert(ParquetCatalog.summaries(spark, s"$base/metrics").isDefined)
    assert(ParquetCatalog.summaries(spark, s"$copy/metrics").isEmpty)

    // the resume's input repeats the twice-committed doc and adds four
    val input = spark.createDataset(docs :+ docs.head)
    for (root <- Seq(base, copy)) assertPendingAsPlain(input, s"$root/metrics")
    // the summary path counts ok rows, the fallback distinct doc_ids
    val resumed = Seq(base, copy).map(root =>
      Lineage.runResumable(spark, input, s"$root/out", s"$root/metrics", "run-2"))
    assert(resumed == Seq((4L, 9L), (4L, 8L)))
    for (root <- Seq(base, copy)) {
      val committed = Lineage.readCommitted(spark, s"$root/out", s"$root/metrics")
        .filter($"run_id" === "run-2").select("doc_id").as[String].collect().sorted.toSeq
      assert(committed == docs.drop(8).map(_.doc_id).sorted)
    }
  }

  test("resume sums the summaries where they describe the table, else reads it") {
    import spark.implicits._
    import graft.lineage.ParquetCatalog
    import java.nio.file.Paths
    val docs = SpanGen.genDocs(60, seed = 37L).map(_._1)
    val all = spark.createDataset(docs)
    /** Tables two overlapping runs committed; returns their root. */
    def committed(): String = {
      val base = tmp()
      for ((range, run) <- Seq((0 until 30) -> "run-1", (20 until 40) -> "run-2"))
        Lineage.runResumable(spark, spark.createDataset(range.map(docs)),
          s"$base/out", s"$base/metrics", run)
      base
    }
    def check(metrics: String, summarized: Boolean): Unit = {
      assert(ParquetCatalog.summaries(spark, metrics).isDefined == summarized, metrics)
      assertPendingAsPlain(all, metrics)
    }

    val plain = committed()
    check(s"$plain/metrics", summarized = true)
    assert(Lineage.runResumable(spark, all, s"$plain/out", s"$plain/metrics", "run-3") ==
      ((20L, 40L)))

    // a crashed metrics append leaves an orphan file; the next commit
    // adopts it, and its summary would not cover the orphan's rows
    val orphaned = committed()
    docs.slice(40, 45).map(d => (d.doc_id, "ok")).toDF("doc_id", "status")
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(s"$orphaned/metrics")
    check(s"$orphaned/metrics", summarized = false)
    Lineage.runResumable(spark, spark.createDataset(docs.slice(45, 50)),
      s"$orphaned/out", s"$orphaned/metrics", "run-3")
    check(s"$orphaned/metrics", summarized = false)

    // a compaction is a rewrite snapshot; raw reads then see every ok
    // row twice until expiry reclaims the old files
    val compacted = committed()
    ParquetCatalog.compact(spark, s"$compacted/metrics", targetFiles = 1)
    check(s"$compacted/metrics", summarized = false)
    ParquetCatalog.expireSnapshots(spark, s"$compacted/metrics", keepLast = 1)
    check(s"$compacted/metrics", summarized = false)
    // expiry alone turns the oldest kept snapshot into a rewrite that
    // also lists the expired snapshots' files
    val expired = committed()
    ParquetCatalog.expireSnapshots(spark, s"$expired/metrics", keepLast = 1)
    check(s"$expired/metrics", summarized = false)

    // a lost summary
    val lost = committed()
    Files.delete(Paths.get(lost, "metrics", "_graft_snapshots", "fp-000000002"))
    check(s"$lost/metrics", summarized = false)
    assert(Lineage.runResumable(spark, all, s"$lost/out", s"$lost/metrics", "run-3") ==
      ((20L, 40L)))
  }

  test("plan gate: the resume pass scans the metrics table only without summaries") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object Plans extends AdaptiveSparkPlanHelper
    val docs = SpanGen.genDocs(40, seed = 43L).map(_._1)
    val base = tmp()
    spark.createDataset(docs).write.parquet(s"$base/in")
    val input = spark.read.parquet(s"$base/in").as[Doc]
    val summarized = s"$base/metrics"
    Lineage.runResumable(spark, spark.createDataset(docs.take(30)), s"$base/out", summarized, "run-1")
    val raw = s"$base/raw"
    spark.read.parquet(summarized).write.parquet(raw)
    def metricsScans(metrics: String): Int = {
      val root = new org.apache.hadoop.fs.Path(metrics).toUri.getPath
      val (incomplete, _, _, queries) = observed(
        Lineage.incompleteBuckets(spark, input, metrics, 4096).as[Long].collect().toSet)
      assert(incomplete.nonEmpty)
      queries.map(qe => Plans.collect(qe.executedPlan) {
        case scan: FileSourceScanExec
            if scan.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(root)) => scan
      }.length).sum
    }
    assert(metricsScans(summarized) == 0)
    assert(metricsScans(raw) == 1)
  }

  test("snapshot time travel: readAsOf replays the table as of a prior append") {
    import spark.implicits._
    import graft.lineage.ParquetCatalog
    val fixtures = SpanGen.genDocs(60, seed = 41L)
    val all = spark.createDataset(fixtures.map(_._1))
    val firstHalf = spark.createDataset(fixtures.take(30).map(_._1))
    val out = tmp() + "/out"
    val metrics = tmp() + "/metrics"

    Lineage.runResumable(spark, firstHalf, out, metrics, "run-1")
    Lineage.runResumable(spark, all, out, metrics, "run-2")

    // one snapshot per append, on both the partitioned output table and
    // the flat metrics table
    assert(ParquetCatalog.snapshots(spark, out) == Seq(1L, 2L))
    assert(ParquetCatalog.snapshots(spark, metrics) == Seq(1L, 2L))

    // metrics as of snapshot 1 = just run-1's 30 rows; as of 2 = current
    assert(ParquetCatalog.readAsOf(spark, metrics, 1L).count() == 30)
    val asOf2 = ParquetCatalog.readAsOf(spark, metrics, 2L)
      .select("doc_id").as[String].collect().sorted.toSeq
    val current = ParquetCatalog.read(spark, metrics)
      .select("doc_id").as[String].collect().sorted.toSeq
    assert(asOf2 == current && asOf2.length == 60)

    // partition column survives time travel on the partitioned table
    val outAsOf1 = ParquetCatalog.readAsOf(spark, out, 1L)
    assert(outAsOf1.columns.contains("run_id"))
    assert(outAsOf1.select("run_id").distinct().as[String].collect().toSeq == Seq("run-1"))
    assert(outAsOf1.count() == 30)

    // unknown snapshot fails fast
    intercept[IllegalArgumentException] {
      ParquetCatalog.readAsOf(spark, metrics, 99L)
    }
  }

  test("batched run: a crash loses at most one batch, retry resumes the rest") {
    import spark.implicits._
    val fixtures = SpanGen.genDocs(80, seed = 61L)
    val all = spark.createDataset(fixtures.map(_._1))
    val out = tmp() + "/out"
    val metrics = tmp() + "/metrics"
    val batches = 6

    // crashed attempt: only the first 3 batches committed
    for (b <- 0 until 3)
      Lineage.runResumable(spark, Lineage.batchSlice(all, batches, b),
        out, metrics, s"crash-b$b")
    val doneSoFar = spark.read.parquet(metrics).count()
    assert(doneSoFar > 0 && doneSoFar < 80)

    // retry under a new base run id: completed batches prune, only the
    // remainder is processed, and the union is complete with no dupes
    val (p, s) = Lineage.runResumableBatched(
      spark, all, out, metrics, "retry", batches = batches)
    assert(s == doneSoFar)
    assert(p == 80 - doneSoFar)
    val committed = Lineage.readCommitted(spark, out, metrics)
    assert(committed.count() == 80)
    assert(committed.select("doc_id").distinct().count() == 80)

    // a further full retry is a no-op
    val (p2, s2) = Lineage.runResumableBatched(
      spark, all, out, metrics, "retry2", batches = batches)
    assert(p2 == 0 && s2 == 80)
    assertOkOnce(metrics)
  }

  test("orphan files from a crashed append are published by the next commit") {
    import spark.implicits._
    import graft.lineage.ParquetCatalog
    val table = tmp() + "/t"
    ParquetCatalog.append(Seq((1L, "a")).toDF("id", "v"), table) // snap 1
    // crash simulation: data lands but the manifest write never runs
    Seq((2L, "orphan")).toDF("id", "v")
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(table)
    assert(ParquetCatalog.snapshots(spark, table) == Seq(1L))
    // the orphan is invisible to time travel until a commit adopts it
    assert(ParquetCatalog.readAsOf(spark, table, 1L).count() == 1)
    // the next successful append adopts the orphan (Iceberg retry
    // semantics): readAsOf(latest) re-synchronizes with read()
    ParquetCatalog.append(Seq((3L, "b")).toDF("id", "v"), table) // snap 2
    assert(ParquetCatalog.readAsOf(spark, table, 2L).count() == 3)
    assert(ParquetCatalog.read(spark, table).count() == 3)
  }

  test("filterPending on a fresh metrics path passes everything through") {
    import spark.implicits._
    val ds = spark.createDataset(SpanGen.genDocs(5, 2L).map(_._1))
    val pending = Lineage.filterPending(spark, ds, tmp() + "/nonexistent")
    assert(pending.count() == 5)
  }

  test("merge upsert: update, insert, tombstone, absent-key delete no-op, carry-over") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val target = Seq(
      (1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
      .toDF("id", "tag", "v")
    val source = Seq(
      (2L, "b2", 25L, false),  // matched update
      (3L, "c", 30L, true),    // matched tombstone
      (5L, "e", 50L, false),   // unmatched insert
      (9L, "x", 0L, true))     // delete of absent key: no-op
      .toDF("id", "tag", "v", "_deleted")
    val got = lineage.MergeUpsert.merge(target, source, "id")
      .orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      (1L, "a", 10L),   // untouched carry-over
      (2L, "b2", 25L),  // updated values
      (4L, "d", 40L),   // untouched carry-over
      (5L, "e", 50L)))  // inserted
  }

  test("compaction rewrites the current view; time travel to pre-compaction still works") {
    import spark.implicits._
    import graft.lineage.ParquetCatalog
    val table = tmp() + "/t"
    ParquetCatalog.append((1L to 40L).toDF("v").repartition(8), table)
    ParquetCatalog.append((41L to 80L).toDF("v").repartition(8), table)
    ParquetCatalog.compact(spark, table, targetFiles = 2)
    assert(ParquetCatalog.snapshots(spark, table) == Seq(1L, 2L, 3L))
    // current view: same row multiset, read from exactly 2 files
    val cur = ParquetCatalog.readCurrent(spark, table)
    assert(cur.select("v").as[Long].collect().sorted.toSeq == (1L to 80L))
    assert(cur.select(org.apache.spark.sql.functions.input_file_name())
      .distinct().count() == 2)
    // pre-compaction snapshots unchanged (old files still on disk)
    assert(ParquetCatalog.readAsOf(spark, table, 1L).count() == 40)
    assert(ParquetCatalog.readAsOf(spark, table, 2L).count() == 80)
  }

  test("expireSnapshots drops old manifests and reclaims unreferenced files") {
    import spark.implicits._
    import graft.lineage.ParquetCatalog
    val table = tmp() + "/t"
    ParquetCatalog.append((1L to 40L).toDF("v").repartition(8), table)
    ParquetCatalog.append((41L to 80L).toDF("v").repartition(8), table)
    ParquetCatalog.compact(spark, table, targetFiles = 2)
    def dataFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] = {
        val fs = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        fs.flatMap(c => if (c.isDirectory) walk(c) else Seq(c))
      }
      walk(new java.io.File(table)).count(f =>
        f.getName.endsWith(".parquet") && !f.getPath.contains("_graft_snapshots"))
    }
    val before = dataFiles()
    assert(before >= 18) // 16 small pre-compaction files + 2 compacted
    ParquetCatalog.expireSnapshots(spark, table, keepLast = 1)
    // only the compacted snapshot remains, its view intact
    assert(ParquetCatalog.snapshots(spark, table) == Seq(3L))
    assert(ParquetCatalog.readCurrent(spark, table)
      .select("v").as[Long].collect().sorted.toSeq == (1L to 80L))
    // the 16 pre-compaction files are physically gone
    assert(dataFiles() == 2, s"expected 2 live files, found ${dataFiles()}")
    // expired ids fail fast
    intercept[IllegalArgumentException] {
      ParquetCatalog.readAsOf(spark, table, 1L)
    }
    // expiring with nothing to drop is a no-op
    ParquetCatalog.expireSnapshots(spark, table, keepLast = 5)
    assert(ParquetCatalog.snapshots(spark, table) == Seq(3L))
  }

  test("observe() collects pipeline metrics in the same pass, no extra job") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit, max, sum}
    // the production pattern: per-batch row counts / quality tallies
    // ride the data pass itself via AccumulableMetrics instead of a
    // second count() scan — at 100 TB the avoided scan IS the feature
    val obs = org.apache.spark.sql.Observation("batch_stats")
    val df = (1L to 100L).toDF("v")
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(col("v")).as("v_sum"),
        max(col("v")).as("v_max"))
      .filter(col("v") % 2 === 0)
    assert(df.count() == 50) // downstream sees the filtered view...
    val m = obs.get
    // ...while the metrics observed the full pre-filter pass
    assert(m("n_rows") == 100L && m("v_sum") == 5050L && m("v_max") == 100L)
  }

  test("write-audit-publish: staged rows invisible until publish; abort erases them") {
    import spark.implicits._
    import graft.lineage.ParquetCatalog
    val tbl = tmp() + "/wap"
    ParquetCatalog.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), tbl)
    // stage a good batch: invisible to current readers, visible to audit
    val s1 = ParquetCatalog.stageAppend(Seq((3L, "c")).toDF("id", "v"), tbl)
    assert(ParquetCatalog.readCurrent(spark, tbl).count() == 2)
    assert(ParquetCatalog.snapshots(spark, tbl).size == 1)
    val audit = ParquetCatalog.readStaged(spark, tbl, s1)
    assert(audit.count() == 3)
    ParquetCatalog.publishStaged(spark, tbl, s1)
    assert(ParquetCatalog.readCurrent(spark, tbl)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(ParquetCatalog.snapshots(spark, tbl).size == 2)
    // stage a bad batch and abort: no trace in data or snapshots
    val s2 = ParquetCatalog.stageAppend(Seq((99L, "BAD")).toDF("id", "v"), tbl)
    assert(ParquetCatalog.readStaged(spark, tbl, s2).count() == 4)
    ParquetCatalog.abortStaged(spark, tbl, s2)
    assert(ParquetCatalog.readCurrent(spark, tbl).count() == 3)
    assert(spark.read.parquet(tbl).count() == 3) // files physically gone
    // and a later commit sequence is unaffected
    ParquetCatalog.append(Seq((4L, "d")).toDF("id", "v"), tbl)
    assert(ParquetCatalog.readCurrent(spark, tbl).count() == 4)
  }

  test("codec gate: every file each catalog write path adds is zstd in every column chunk") {
    import spark.implicits._
    import graft.lineage.{MorDeletes, ParquetCatalog}
    val base = tmp()
    val (flat, part, wap) = (s"$base/flat", s"$base/part", s"$base/wap")
    val df = (1L to 40L).map(i => (i, s"v$i", s"r${i % 2}")).toDF("id", "v", "run_id")
    val zstd = Set("ZSTD")
    assert(codecsAdded(flat)(ParquetCatalog.append(df, flat)) == zstd)
    assert(codecsAdded(part)(ParquetCatalog.appendPartitioned(df, part, "run_id")) == zstd)
    assert(codecsAdded(flat)(ParquetCatalog.overwrite(df.filter($"id" > 20L), flat)) == zstd)
    assert(codecsAdded(flat)(ParquetCatalog.compact(spark, flat, targetFiles = 1)) == zstd)
    assert(codecsAdded(part)(
      ParquetCatalog.compact(spark, part, targetFiles = 1, Some("run_id"))) == zstd)
    assert(codecsAdded(wap)(ParquetCatalog.stageAppend(df, wap)) == zstd)
    assert(codecsAdded(flat)(MorDeletes.commitDelete(Seq(3L).toDF("id"), flat, "id")) == zstd)
    // the production job's two tables
    val ds = spark.createDataset(SpanGen.genDocs(10, seed = 5L).map(_._1))
    val (out, metrics) = (s"$base/out", s"$base/metrics")
    Lineage.runResumable(spark, ds, out, metrics, "run-1")
    assert((parquetFiles(out) ++ parquetFiles(metrics)).flatMap(chunkCodecs) == zstd)
    Seq(out, metrics).foreach(assertMetaOnly)
    // publish renames the staged listing, byte for byte, into the
    // snapshot chain; abort and expiry leave no metadata behind
    val wapMeta = java.nio.file.Paths.get(wap, "_graft_snapshots")
    def metaNames() = wapMeta.toFile.list().toSet
    val staged = Files.readAllBytes(wapMeta.resolve("stage-000000001"))
    ParquetCatalog.publishStaged(spark, wap, 1L)
    assert(metaNames() == Set("snap-000000001", ".snap-000000001.crc"))
    assert(Files.readAllBytes(wapMeta.resolve("snap-000000001")).sameElements(staged))
    val aborted = ParquetCatalog.stageAppend(df, wap)
    assertMetaOnly(wap)
    ParquetCatalog.abortStaged(spark, wap, aborted)
    assert(metaNames() == Set("snap-000000001", ".snap-000000001.crc"))
    ParquetCatalog.expireSnapshots(spark, flat, keepLast = 1)
    assertMetaOnly(flat)
    assert(ParquetCatalog.snapshots(spark, flat) == Seq(3L))
    // the manifest is the commit record: no table root holds a marker
    val marked = Seq(flat, part, wap, out, metrics)
      .filter(t => new java.io.File(t, "_SUCCESS").exists)
    assert(marked.isEmpty, marked)
  }

  test("a crash mid-commit leaves temporary files no reader sees; the next commit is last+1") {
    import spark.implicits._
    import graft.lineage.ParquetCatalog
    import org.apache.spark.sql.DataFrame
    val docs = SpanGen.genDocs(40, seed = 47L).map(_._1)
    val base = tmp()
    val (out, metrics) = (s"$base/out", s"$base/metrics")
    for ((n, run) <- Seq(20 -> "run-1", 30 -> "run-2"))
      Lineage.runResumable(spark, spark.createDataset(docs.take(n)), out, metrics, run)
    def rows(df: DataFrame) =
      df.select("run_id", "doc_id", "status", "checksum")
        .as[(String, String, String, String)].collect().sorted.toSeq
    def view() = {
      val ids = ParquetCatalog.snapshots(spark, metrics)
      (ids, rows(ParquetCatalog.readCurrent(spark, metrics)),
        ids.map(id => rows(ParquetCatalog.readAsOf(spark, metrics, id))),
        ParquetCatalog.summaries(spark, metrics).map(_.map(_.toSeq)))
    }
    val before = view()
    assert(before._1 == Seq(1L, 2L) && before._4.isDefined)
    // the crash: snapshot 3's manifest and summary half written under
    // their temporary names, never renamed
    val meta = java.nio.file.Paths.get(metrics, "_graft_snapshots")
    val listing = Files.readAllBytes(meta.resolve("snap-000000002"))
    Files.write(meta.resolve(".tmp-snap-000000003"), listing.take(listing.length / 2))
    Files.write(meta.resolve(".tmp-fp-000000003"), Array[Byte](1, 2, 3))
    assert(view() == before)
    // the retry commits snapshot 3 over the strays, with a real summary
    assert(Lineage.runResumable(spark, spark.createDataset(docs), out, metrics, "run-3") ==
      ((10L, 30L)))
    assert(ParquetCatalog.snapshots(spark, metrics) == Seq(1L, 2L, 3L))
    assert(ParquetCatalog.summaries(spark, metrics).isDefined)
    assertMetaOnly(metrics)
    assertPendingAsPlain(spark.createDataset(docs), metrics)
  }

  test("expireSnapshots rewrites the oldest kept manifest whole; kept views are unchanged") {
    import spark.implicits._
    import graft.lineage.ParquetCatalog
    val table = tmp() + "/t"
    def appendRange(r: Seq[Long]): Unit = ParquetCatalog.append(r.toDF("v").repartition(4), table)
    def values(id: Long) =
      ParquetCatalog.readAsOf(spark, table, id).as[Long].collect().sorted.toSeq
    appendRange(1L to 20L)
    appendRange(21L to 40L)
    ParquetCatalog.compact(spark, table, targetFiles = 1)
    appendRange(41L to 60L)
    // a write staged before the last append: no commit adopts its
    // files, and expiry keeps them
    val staged = ParquetCatalog.stageAppend((81L to 90L).toDF("v"), table)
    appendRange(61L to 80L)
    val kept = Seq(4L, 5L)
    val views = kept.map(values)
    val meta = java.nio.file.Paths.get(table, "_graft_snapshots")
    def lines(id: Long) =
      Files.readString(meta.resolve(f"snap-$id%09d")).split("\n").toSeq.filter(_.nonEmpty)
    val effective = (lines(3L).tail ++ lines(4L)).toSet
    ParquetCatalog.expireSnapshots(spark, table, keepLast = 2)
    assert(ParquetCatalog.snapshots(spark, table) == kept)
    assert(lines(4L).head == "#rewrite")
    assert(lines(4L).tail == effective.toSeq.sorted)
    assert(kept.map(values) == views)
    assertMetaOnly(table)
    ParquetCatalog.publishStaged(spark, table, staged)
    assert(ParquetCatalog.readCurrent(spark, table).as[Long].collect().sorted.toSeq ==
      (1L to 90L))
  }

  test("tables holding snappy files resume, read and compact like all-zstd tables") {
    import spark.implicits._
    import graft.lineage.ParquetCatalog
    import org.apache.spark.sql.DataFrame
    import java.nio.file.StandardCopyOption.REPLACE_EXISTING
    val fixtures = SpanGen.genDocs(60, seed = 23L)
    val all = spark.createDataset(fixtures.map(_._1))
    val firstHalf = spark.createDataset(fixtures.take(30).map(_._1))
    def outRows(df: DataFrame) =
      df.select("run_id", "doc_id", "spans", "status", "n_tables", "n_cells")
        .as[(String, String, Seq[Span], String, Int, Int)].collect().sortBy(r => (r._1, r._2)).toSeq
    def metricRows(df: DataFrame) =
      df.select("run_id", "doc_id", "status", "checksum")
        .as[(String, String, String, String)].collect().sorted.toSeq
    /** Rewrites each data file under `table` as snappy under its own name,
      * so the manifests still list it.
      */
    def reencodeSnappy(table: String): Unit =
      parquetFiles(table).foreach { f =>
        val staged = tmp() + "/f"
        spark.read.parquet(f.getPath).coalesce(1)
          .write.option("compression", "snappy").parquet(staged)
        val written = parquetFiles(staged).head
        Files.move(written.toPath, f.toPath, REPLACE_EXISTING)
        // the old checksum no longer matches the file's bytes
        Files.deleteIfExists(f.toPath.resolveSibling(s".${f.getName}.crc"))
      }
    def codecs(table: String): Set[String] = parquetFiles(table).flatMap(chunkCodecs)
    def runTwice(snappyFirst: Boolean) = {
      val (out, metrics) = (tmp() + "/out", tmp() + "/metrics")
      Lineage.runResumable(spark, firstHalf, out, metrics, "run-1")
      if (snappyFirst) {
        Seq(out, metrics).foreach(reencodeSnappy)
        assert(codecs(out) == Set("SNAPPY") && codecs(metrics) == Set("SNAPPY"))
      }
      // re-encoding keeps every file name, so the summaries still hold
      assert(ParquetCatalog.summaries(spark, metrics).isDefined)
      assertPendingAsPlain(all, metrics)
      val resumed = Lineage.runResumable(spark, all, out, metrics, "run-2")
      if (snappyFirst) assert(codecs(out) == Set("SNAPPY", "ZSTD"))
      val committed = outRows(Lineage.readCommitted(spark, out, metrics))
      val asOf = Seq(1L, 2L).map(id => (outRows(ParquetCatalog.readAsOf(spark, out, id)),
        metricRows(ParquetCatalog.readAsOf(spark, metrics, id))))
      val compacted = Seq(
        codecsAdded(out)(ParquetCatalog.compact(spark, out, targetFiles = 2, Some("run_id"))),
        codecsAdded(metrics)(ParquetCatalog.compact(spark, metrics, targetFiles = 2)))
      assert(compacted == Seq(Set("ZSTD"), Set("ZSTD")))
      val current = (outRows(ParquetCatalog.readCurrent(spark, out)),
        metricRows(ParquetCatalog.readCurrent(spark, metrics)))
      (resumed, committed, asOf, current)
    }
    val mixed = runTwice(snappyFirst = true)
    val zstd = runTwice(snappyFirst = false)
    assert(mixed._1 == ((30L, 30L)))
    assert(mixed._2.length == 60)
    assert(mixed == zstd)
  }

  /** The messages `logger` emits while `body` runs. */
  private def logged(logger: String)(body: => Any): Seq[String] = {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "capture", null, null, true, org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = { seen.add(e.getMessage.getFormattedMessage); () }
    }
    capture.start()
    val log = org.apache.logging.log4j.LogManager.getLogger(logger).asInstanceOf[Logger]
    log.addAppender(capture)
    try body finally { log.removeAppender(capture); capture.stop() }
    seen.asScala.toSeq
  }

  test("merge-on-read reads its delete files without Spark's ignored-path warning") {
    import spark.implicits._
    import graft.lineage.{MorDeletes, ParquetCatalog}
    val tbl = tmp() + "/mor_warn"
    ParquetCatalog.append((0L until 10L).toDF("id"), tbl)
    MorDeletes.commitDelete(Seq(3L, 7L).toDF("id"), tbl, "id")
    val dataSource = "org.apache.spark.sql.execution.datasources.DataSource"
    val ignored = "All paths were ignored"
    // the capture works: handing Spark the hidden directory does warn
    val direct = logged(dataSource)(spark.read.parquet(s"$tbl/_graft_deletes"))
    assert(direct.exists(_.contains(ignored)), direct)
    var rows = Set.empty[Long]
    val mor = logged(dataSource) {
      rows = MorDeletes.readCurrent(spark, tbl, "id").as[Long].collect().toSet
    }
    assert(rows == (0L until 10L).toSet -- Set(3L, 7L))
    assert(!mor.exists(_.contains(ignored)), mor)
  }

  test("merge-on-read deletes: key-file anti-join, then compaction folds them in") {
    import spark.implicits._
    import graft.lineage.{MorDeletes, ParquetCatalog}
    val tbl = tmp() + "/mor"
    ParquetCatalog.append((0L until 20L).map(i => (i, s"v$i")).toDF("id", "v"), tbl)
    MorDeletes.commitDelete(Seq(3L, 7L).toDF("id"), tbl, "id")
    MorDeletes.commitDelete(Seq(7L, 11L).toDF("id"), tbl, "id") // overlap is fine
    val mor = MorDeletes.readCurrent(spark, tbl, "id").collect().map(_.getLong(0)).toSet
    assert(mor == (0L until 20L).toSet -- Set(3L, 7L, 11L))
    // raw current view still carries the rows (deletes are logical)
    assert(ParquetCatalog.readCurrent(spark, tbl).count() == 20)
    val preCompact = ParquetCatalog.snapshots(spark, tbl).last
    MorDeletes.compactDeletes(spark, tbl, "id")
    // physically applied now, delete files cleared, MOR == plain read
    assert(ParquetCatalog.readCurrent(spark, tbl).count() == 17)
    assert(MorDeletes.readCurrent(spark, tbl, "id").count() == 17)
    // time travel still sees the pre-delete rows
    assert(ParquetCatalog.readAsOf(spark, tbl, preCompact).count() == 20)
  }

  test("iterative resume replays committed rounds from storage, never recomputes") {
    import spark.implicits._
    import graft.lineage.IterativeResume
    import org.apache.spark.sql.functions.{col, lit}
    val root = tmp() + "/iter"
    var stepCalls = 0
    def step(prev: org.apache.spark.sql.DataFrame, k: Int) = {
      stepCalls += 1
      prev.select(col("node"), (col("v") + k).as("v"))
    }
    val init = (0L until 10L).toDF("node").select(col("node"), lit(0L).as("v"))
    // interrupted attempt: rounds 0..3 committed
    IterativeResume.run(spark, root, 3, init, step).count()
    assert(stepCalls == 3)
    assert(IterativeResume.lastCommitted(spark, root, 6).contains(3))
    // resume to 6: exactly three MORE step invocations, none replayed
    val resumed = IterativeResume.run(spark, root, 6, init, step)
    assert(stepCalls == 6)
    val want = (1 to 6).sum.toLong
    assert(resumed.collect().forall(_.getLong(1) == want))
    // a completed run re-invoked is a pure read: zero new step calls
    IterativeResume.run(spark, root, 6, init, step).count()
    assert(stepCalls == 6)
  }

  test("resumable PageRank equals the in-memory power iteration bit-for-bit") {
    import spark.implicits._
    val rng = new scala.util.Random(5L)
    val edges = (0 until 60).map(_ => (rng.nextInt(12).toLong, rng.nextInt(12).toLong))
      .distinct.toDF("src", "dst")
    val plain = graft.operators.PageRank.pageRank(edges, "src", "dst", iters = 5, d = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val root = tmp() + "/prres"
    // interrupt at 2, resume to 5
    graft.operators.PageRank.pageRankResumable(edges, "src", "dst",
      iters = 2, d = 0.85, stateRoot = root).count()
    val resumed = graft.operators.PageRank.pageRankResumable(edges, "src", "dst",
        iters = 5, d = 0.85, stateRoot = root)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(resumed == plain)
  }

  test("incremental join delta equals full join minus base join") {
    import spark.implicits._
    val rng = new scala.util.Random(11L)
    val aAll = (0L until 40L).map(i => (i, s"a$i"))
    val bAll = (0L until 40L).filter(_ => rng.nextBoolean()).map(i => (i, i * 2))
    val (aBase, aDelta) = aAll.partition(_._1 % 2 == 0)
    val (bBase, bDelta) = bAll.partition(_._1 % 3 != 0)
    val delta = graft.operators.IncrementalJoin.joinDelta(
        aBase.toDF("k", "av"), aDelta.toDF("k", "av"),
        bBase.toDF("k", "bv"), bDelta.toDF("k", "bv"), "k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val full = aAll.toDF("k", "av").join(bAll.toDF("k", "bv"), "k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val base = aBase.toDF("k", "av").join(bBase.toDF("k", "bv"), "k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(delta == (full -- base))
  }

  test("merge upsert rejects a target that already has the tombstone column") {
    import spark.implicits._
    val target = Seq((1L, false)).toDF("id", "_deleted")
    val source = Seq((1L, false)).toDF("id", "_deleted")
    assertThrows[IllegalArgumentException] {
      lineage.MergeUpsert.merge(target, source, "id")
    }
  }

  test("job-count gate: a fresh run and a resume stay within their Spark job budgets") {
    import spark.implicits._
    import graft.lineage.ParquetCatalog
    import org.apache.spark.jobcount.JobCount
    // At the benchmark's shape (10k SpanGen docs, local[4]) graft.Run
    // started 8 jobs fresh and 27 on resume before the single-pass
    // resume (schema inference on every read, three metrics-table reads,
    // a re-count of the committed output), and 4 and 9 after it, one of
    // each being Run's own schema-inferring input read. Run now reads its
    // input with the Doc schema, and extraction has no placement shuffle
    // whose map stage AQE ran as a job of its own: 2 and 7, all of them
    // in runResumable.
    val fixtures = SpanGen.genDocs(60, seed = 71L)
    val base = tmp()
    spark.createDataset(fixtures.take(30).map(_._1)).write.parquet(s"$base/half")
    spark.createDataset(fixtures.map(_._1)).write.parquet(s"$base/full")
    val half = spark.read.parquet(s"$base/half").as[Doc]
    val full = spark.read.parquet(s"$base/full").as[Doc]
    val out = s"$base/out"
    val metrics = s"$base/metrics"

    val ((p1, s1), fresh) =
      JobCount(spark)(Lineage.runResumable(spark, half, out, metrics, "run-1"))
    assert(p1 == 30 && s1 == 0)
    assert(fresh <= 4, s"fresh run started $fresh Spark jobs")

    val ((p2, s2), resumed) =
      JobCount(spark)(Lineage.runResumable(spark, full, out, metrics, "run-2"))
    assert(p2 == 30 && s2 == 30)
    assert(resumed <= 12, s"resume started $resumed Spark jobs")
    // the resume pass sums the metrics table's summaries and observes
    // the input's fingerprint over one discarded pass: 4 jobs, where
    // reading and shuffling the completed set took 7
    assert(ParquetCatalog.summaries(spark, metrics).isDefined)
    assert(resumed <= 4, s"resume started $resumed Spark jobs")
  }

  test("a no-op resume commits one empty snapshot on each table") {
    import spark.implicits._
    import graft.lineage.ParquetCatalog
    val ds = spark.createDataset(SpanGen.genDocs(12, 13L).map(_._1))
    val out = tmp() + "/out"
    val metrics = tmp() + "/metrics"
    Lineage.runResumable(spark, ds, out, metrics, "run-1")
    val (p, s) = Lineage.runResumable(spark, ds, out, metrics, "run-2")
    assert(p == 0 && s == 12)
    assert(ParquetCatalog.snapshots(spark, out) == Seq(1L, 2L))
    assert(ParquetCatalog.snapshots(spark, metrics) == Seq(1L, 2L))
    assert(Lineage.readOutput(spark, out).count() == 12)
    val m = spark.read.parquet(metrics)
    assert(m.count() == 12)
    assert(m.schema.simpleString == "struct<run_id:string,partition_id:int,doc_id:string," +
      "status:string,n_tables:int,n_cells:int,checksum:string,wall_ms:bigint,ts:timestamp>")
  }

  test("reusing a run_id that needs path escaping still fails fast") {
    import spark.implicits._
    val ds = spark.createDataset(SpanGen.genDocs(4, 17L).map(_._1))
    val out = tmp() + "/out"
    val metrics = tmp() + "/metrics"
    val runId = "a b=c"
    val (p, _) = Lineage.runResumable(spark, ds, out, metrics, runId)
    assert(p == 4)
    val e = intercept[IllegalStateException] {
      Lineage.runResumable(spark, ds, out, metrics, runId)
    }
    assert(e.getMessage.contains(runId))
    assert(Lineage.readCommitted(spark, out, metrics)
      .select("run_id").as[String].collect().toSet == Set(runId))
  }

  test("killed-write leftovers under hidden directories change no listing") {
    import spark.implicits._
    import graft.lineage.ParquetCatalog
    import org.apache.spark.sql.DataFrame
    import java.nio.file.Paths
    val docs = SpanGen.genDocs(30, seed = 53L).map(_._1)
    val base = tmp()
    val (out, metrics) = (s"$base/out", s"$base/metrics")
    Lineage.runResumable(spark, spark.createDataset(docs.take(20)), out, metrics, "run-1")
    /** Copies `data` where a killed write leaves files in `table`: a task
      * attempt's directory and a partition's temporary directory.
      */
    def plant(table: String, data: java.io.File): Unit =
      for (dir <- Seq("_temporary/0/_temporary/attempt_x", "run_id=r/_temporary"))
        Files.copy(data.toPath, Files.createDirectories(Paths.get(table, dir)).resolve(data.getName))
    def visible(table: String): Set[String] = parquetFiles(table)
      .map(f => Paths.get(table).relativize(f.toPath).toString)
      .filterNot(_.split('/').exists(s => s.startsWith("_") || s.startsWith(".")))
    def rows(df: DataFrame) =
      df.select("run_id", "doc_id", "status").as[(String, String, String)].collect().sorted.toSeq
    val tables = Seq(out, metrics)
    for (t <- tables; data = parquetFiles(t).head) {
      plant(t, data)
      Files.write(data.toPath.resolveSibling(".part-00000-leftover.crc"), Array[Byte](1))
    }
    assert(ParquetCatalog.summaries(spark, metrics).isDefined)
    assert(!ParquetCatalog.hasPartition(spark, out, "run_id", "r"))
    val before = tables.map(visible)
    Lineage.runResumable(spark, spark.createDataset(docs), out, metrics, "run-2")
    for ((t, seen) <- tables.zip(before)) {
      val id = ParquetCatalog.snapshots(spark, t).last
      val listed = Files.readString(Paths.get(t, "_graft_snapshots", f"snap-$id%09d"))
        .split("\n").filter(_.nonEmpty).toSet
      assert(listed.nonEmpty && listed == visible(t) -- seen, t)
      assert(rows(ParquetCatalog.readCurrent(spark, t)) == rows(ParquetCatalog.read(spark, t)), t)
    }
    assert(ParquetCatalog.summaries(spark, metrics).isDefined)
    // a table holding nothing but leftovers does not exist
    val leftovers = s"$base/leftovers"
    plant(leftovers, parquetFiles(metrics).head)
    Files.write(Paths.get(leftovers, ".part-00000-leftover.crc"), Array[Byte](1))
    assert(!ParquetCatalog.exists(spark, leftovers))
  }

  test("ParquetCatalog.exists: only a visible data file makes a table exist") {
    import spark.implicits._
    import graft.lineage.ParquetCatalog
    import java.nio.file.Paths
    val base = tmp()
    assert(!ParquetCatalog.exists(spark, base + "/missing"))
    val table = Paths.get(base, "t")
    Files.createDirectories(table.resolve("_graft_snapshots"))
    Files.createFile(table.resolve("_SUCCESS"))
    Files.createFile(table.resolve("_graft_snapshots").resolve("snap-000000001"))
    assert(!ParquetCatalog.exists(spark, table.toString))
    ParquetCatalog.append(Seq.empty[(Long, String)].toDF("id", "v"), table.toString)
    assert(ParquetCatalog.exists(spark, table.toString))
    assert(ParquetCatalog.read(spark, table.toString).count() == 0)
  }

  test("a doc whose spans is null is committed as an error row; the job goes on") {
    import spark.implicits._
    val fixtures = SpanGen.genDocs(20, seed = 91L)
    val docs = fixtures.map(_._1).patch(7, Seq(Doc("null-spans", null)), 0)
    val out = tmp() + "/out"
    val metrics = tmp() + "/metrics"
    val (p, s) = Lineage.runResumable(spark, spark.createDataset(docs), out, metrics, "run-1")
    assert(p == 21 && s == 0)
    val rows = Lineage.readCommitted(spark, out, metrics)
      .select("doc_id", "spans", "n_tables", "n_cells", "status")
      .as[(String, Seq[Span], Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(rows.size == 21)
    assert(rows("null-spans") == (("null-spans", Seq.empty[Span], 0, 0,
      "error:NullPointerException")))
    for ((doc, golden) <- fixtures) {
      assert(rows(doc.doc_id)._5 == "ok")
      assert(rows(doc.doc_id)._2 == golden, doc.doc_id)
    }
    val m = spark.read.parquet(metrics)
    assert(m.filter($"status" =!= "ok").select("doc_id", "status").as[(String, String)]
      .collect().toSeq == Seq(("null-spans", "error:NullPointerException")))
  }

  test("fresh run over a well-split scan: one codegen'd Project, no exchange; stage gate") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{DeserializeToObjectExec, MapPartitionsExec,
      ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.Exchange
    val fixtures = SpanGen.genDocs(60, seed = 83L)
    val base = tmp()
    spark.createDataset(fixtures.map(_._1)).repartition(4).write.parquet(s"$base/in")
    val input = spark.read.parquet(s"$base/in").as[Doc]
    assert(input.queryExecution.toRdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
    val out = s"$base/out"

    val ((p, s), jobs, stages, done) =
      observed(Lineage.runResumable(spark, input, out, s"$base/metrics", "run-1"))
    assert(p == 60 && s == 0)

    object Plans extends AdaptiveSparkPlanHelper
    val outPath = new org.apache.hadoop.fs.Path(out).toUri.getPath
    val write: SparkPlan = done.iterator
      .flatMap(qe => Plans.collect(qe.executedPlan) {
        case w @ DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _)
            if c.outputPath.toUri.getPath == outPath => w.child
      }).toSeq match {
        case Seq(child) => child
        case other => fail(s"expected one write to $out, found ${other.length}")
      }
    def any(pred: SparkPlan => Boolean): Boolean = Plans.find(write)(pred).isDefined
    assert(!any(_.isInstanceOf[Exchange]), write.treeString)
    assert(!any(_.isInstanceOf[DeserializeToObjectExec]), write.treeString)
    assert(!any(_.isInstanceOf[MapPartitionsExec]), write.treeString)
    val extractsInCodegen = Plans.collect(write) { case w: WholeStageCodegenExec => w }
      .exists(_.find {
        case pr: ProjectExec =>
          pr.projectList.exists(_.find(_.isInstanceOf[graft.functions.ExtractSpansExpr]).isDefined)
        case _ => false
      }.isDefined)
    assert(extractsInCodegen, write.treeString)

    // with the typed map behind its own hash repartition this run took
    // 3 jobs and 3 stages (AQE ran the placement shuffle's map stage as
    // a job of its own); with the Project in place, 2 and 2: the output
    // write and the metrics append
    assert(jobs <= 2, s"fresh run started $jobs Spark jobs")
    assert(stages <= 2, s"fresh run ran $stages Spark stages")
  }

  test("placement: an under-split input is spread, numPartitions is kept, wall_ms >= 0") {
    import spark.implicits._
    val fixtures = SpanGen.genDocs(60, seed = 87L)
    val base = tmp()
    spark.createDataset(fixtures.map(_._1)).repartition(4).write.parquet(s"$base/in")
    val input = spark.read.parquet(s"$base/in").as[Doc]
    def committed(out: String, metrics: String) =
      Lineage.readCommitted(spark, out, metrics)
        .select("doc_id", "spans", "partition_id", "wall_ms")
        .as[(String, Seq[Span], Int, Long)].collect()
    def checkGoldens(rows: Seq[(String, Seq[Span], Int, Long)]): Unit = {
      assert(rows.length == 60)
      val byId = rows.map(r => r._1 -> r._2).toMap
      for ((doc, golden) <- fixtures) assert(byId(doc.doc_id) == golden, doc.doc_id)
      assert(rows.forall(_._4 >= 0L))
    }

    // one split: spread over the session's cores, not run on one
    val oneSplit = input.coalesce(1)
    assert(oneSplit.queryExecution.toRdd.getNumPartitions == 1)
    Lineage.runResumable(spark, oneSplit, s"$base/out1", s"$base/m1", "run-1")
    val spread = committed(s"$base/out1", s"$base/m1")
    checkGoldens(spread)
    assert(spread.map(_._3).distinct.length >= 2)

    // an explicit partition count still salts a repartition into it
    Lineage.runResumable(spark, input, s"$base/out2", s"$base/m2", "run-1", numPartitions = 4)
    val salted = committed(s"$base/out2", s"$base/m2")
    checkGoldens(salted)
    assert(salted.forall(r => r._3 >= 0 && r._3 < 4))
    assert(spark.read.parquet(s"$base/m2").select("partition_id", "wall_ms").as[(Int, Long)]
      .collect().forall { case (pid, ms) => pid >= 0 && pid < 4 && ms >= 0 })
  }
}
