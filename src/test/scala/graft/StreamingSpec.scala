package graft

import graft.extract.Extract
import graft.fixtures.SpanGen
import graft.streaming.{StreamingExtract, StreamingState}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite

/** Streaming extraction: an AvailableNow pass over a span-table
  * directory must produce exactly the batch output, and a second file
  * arriving must be picked up incrementally (checkpointed offsets).
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-streaming-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Lands `df` as file `i` of `<root>/in`, its mtime `i` minutes after
    * the suite's start, so the file source reads the files in order.
    */
  private def landBatch(root: String, i: Int, df: DataFrame): Unit =
    StreamingState.landFile(df, s"$root/in/b$i.parquet", landedFrom + i * 60000L)
  private val landedFrom = System.currentTimeMillis()

  test("watermarked streaming dedup drops later duplicates, state bounded") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val df = in.toDF().toDF("doc_id", "checksum", "ts")
    val q = graft.streaming.StreamingState.dedupByChecksum(df, "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    def ts(s: Long) = new java.sql.Timestamp((100000 + s) * 1000) // above the initial watermark (0 = late)
    in.addData((1L, "A", ts(0)), (2L, "B", ts(5)))
    q.processAllAvailable()
    in.addData((3L, "A", ts(10)), (4L, "C", ts(20))) // A is a duplicate
    q.processAllAvailable()
    val got = spark.table("dedup_out").select("doc_id", "checksum")
      .as[(Long, String)].collect().toSet
    q.stop()
    assert(got == Set((1L, "A"), (2L, "B"), (4L, "C")))
  }

  test("stateful streaming sessionization closes sessions by gap and by timeout") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingState.{Session, UserEvent}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[UserEvent]
    val q = graft.streaming.StreamingState
      .sessionize(spark, in.toDS(), gapSec = 30, watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    val B = 100000L // base offset: ts 0 is at/below the initial watermark
    def ev(u: Long, s: Long) = UserEvent(u, new java.sql.Timestamp((B + s) * 1000))

    // in-batch gap: two sessions for user 1, first closes immediately
    in.addData(ev(1, 0), ev(1, 10), ev(1, 100))
    q.processAllAvailable()
    // watermark advance (later event) lets the (100,100) session time out
    in.addData(ev(2, 300))
    q.processAllAvailable()
    in.addData(ev(2, 600)) // watermark now far past user 1's timeout
    q.processAllAvailable()
    val got = spark.table("sess_out").as[Session].collect().toSet
    q.stop()
    assert(got.contains(Session(1, B + 0, B + 10, 2)), got.toString)   // gap-closed
    assert(got.contains(Session(1, B + 100, B + 100, 1)), got.toString) // timeout-closed
  }

  test("dedup drain output is provider-independent (RocksDB == HDFS-backed)") {
    import spark.implicits._
    val base = TempDirs("graft-rocks")
    def ts(s: Long) = new java.sql.Timestamp((100000 + s) * 1000)
    Seq((1L, "A", ts(0)), (2L, "B", ts(5)), (3L, "A", ts(0)), (4L, "C", ts(9)))
      .toDF("doc_id", "checksum", "ts")
      .coalesce(1).write.parquet(base + "/in")
    def drain(tag: String, rocks: Boolean): Set[String] = {
      graft.streaming.StreamingState.dedupRunOnce(
        spark, base + "/in", s"$base/out_$tag", s"$base/cp_$tag",
        useRocksDb = rocks)
      spark.read.parquet(s"$base/out_$tag")
        .select("checksum").as[String].collect().toSet
    }
    val hdfs = drain("hdfs", rocks = false)
    val rocks = drain("rocks", rocks = true)
    assert(hdfs == Set("A", "B", "C"))
    assert(rocks == hdfs)
  }

  test("sentinel-flushed sessionization drain closes every real session") {
    import spark.implicits._
    import graft.streaming.StreamingState.Session
    val base = TempDirs("graft-sessdrain")
    val B = 100000L
    def landOne(rows: Seq[(Long, Long)], name: String, mtime: Long): Unit =
      StreamingState.landFile(rows.map { case (u, s) =>
        (u, new java.sql.Timestamp((B + s) * 1000))
      }.toDF("user_id", "ts"), s"$base/in/$name.parquet", mtime)
    // user 1: gap-split into two sessions (closes inline + by timeout);
    // user 2: one tail session that only a timeout can close
    val now = System.currentTimeMillis()
    landOne(Seq((1L, 0L), (1L, 10L), (1L, 100L), (2L, 50L)), "a", now)
    landOne(Seq((-1L, 40000000L)), "b", now + 60000)
    landOne(Seq((-1L, 40000001L)), "c", now + 120000)
    graft.streaming.StreamingState.sessionizeRunOnce(
      spark, base + "/in", base + "/out", base + "/cp", gapSec = 30,
      useRocksDb = true)
    val got = spark.read.parquet(base + "/out").as[Session].collect().toSet
    assert(got == Set(
      Session(1, B + 0, B + 10, 2),
      Session(1, B + 100, B + 100, 1),
      Session(2, B + 50, B + 50, 1)), got.toString)
  }

  test("AvailableNow drain equals batch output; increments are incremental") {
    import spark.implicits._
    val base = TempDirs("graft-stream")
    val in = base + "/in"
    val out = base + "/out"
    val ckpt = base + "/ckpt"

    val batch1 = SpanGen.genDocs(30, seed = 3L)
    spark.createDataset(batch1.map(_._1)).toDF()
      .write.mode(SaveMode.Append).parquet(in)
    StreamingExtract.runOnce(spark, in, out, ckpt)

    val got1 = spark.read.parquet(out)
      .select("doc_id", "spans").as[(String, Seq[Span])].collect().toMap
    assert(got1.size == 30)
    for ((doc, golden) <- batch1) assert(got1(doc.doc_id) == golden, doc.doc_id)

    // second file lands; only the delta is processed on the next pass
    val batch2 = SpanGen.genDocs(10, seed = 1003L).map { case (d, g) =>
      (Doc("b2-" + d.doc_id, d.spans), g)
    }
    spark.createDataset(batch2.map(_._1)).toDF()
      .write.mode(SaveMode.Append).parquet(in)
    StreamingExtract.runOnce(spark, in, out, ckpt)

    val got2 = spark.read.parquet(out)
      .select("doc_id", "spans").as[(String, Seq[Span])].collect().toMap
    assert(got2.size == 40)
    for ((doc, golden) <- batch2) assert(got2(doc.doc_id) == golden, doc.doc_id)

    // and the combined streaming output equals the batch path
    val allDocs = spark.createDataset((batch1 ++ batch2).map(_._1))
    val batchOut = Extract.run(allDocs).collect()
      .map(d => d.doc_id -> d.spans).toMap
    assert(got2 == batchOut)
  }

  test("transformWithState running totals carry state ACROSS micro-batches") {
    import spark.implicits._
    val root = TempDirs("graft_tws")
    // 3 landing files, maxFilesPerTrigger=1 -> 3 micro-batches; user 1
    // appears in every batch, so the drain must emit an increasing
    // running total that spans batches — a per-batch-only aggregate
    // would reset to the batch count instead
    landBatch(root, 0, Seq((1L, 10L), (1L, 20L), (2L, 5L)).toDF("user_id", "cents"))
    landBatch(root, 1, Seq((1L, 30L)).toDF("user_id", "cents"))
    landBatch(root, 2, Seq((1L, 40L), (2L, 7L)).toDF("user_id", "cents"))
    StreamingState.transformWithStateRunOnce(spark, s"$root/in", s"$root/out", s"$root/cp",
      new StreamingState.RunningTotalProcessor)(_.user_id)
    val rows = spark.read.parquet(s"$root/out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val u1 = rows.filter(_._1 == 1L).sortBy(_._2)
    // user 1 emitted once per batch containing it, totals accumulating
    assert(u1.map(r => (r._2, r._3)).toSeq == Seq((2L, 30L), (3L, 60L), (4L, 100L)), u1.toSeq.toString)
    val u2 = rows.filter(_._1 == 2L).sortBy(_._2)
    assert(u2.map(r => (r._2, r._3)).toSeq == Seq((1L, 5L), (2L, 12L)))
    // a SECOND drain over a new, later file resumes from the checkpointed state
    landBatch(root, 3, Seq((2L, 100L)).toDF("user_id", "cents"))
    StreamingState.transformWithStateRunOnce(spark, s"$root/in", s"$root/out", s"$root/cp",
      new StreamingState.RunningTotalProcessor)(_.user_id)
    val after = spark.read.parquet(s"$root/out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(_._1 == 2L).maxBy(_._2)
    assert(after == ((2L, 3L, 112L)), after.toString)
  }

  test("ListState latest-k merges across batches by event_id, not arrival") {
    import spark.implicits._
    val root = TempDirs("graft_lk")
    // event_ids arrive OUT OF ORDER across batches: batch 2 carries a
    // LOWER id (5) than batch 1's max (20), and batch 3 a higher one —
    // largest-k semantics must keep {20,30,40}, never the 3 freshest
    // arrivals {5,30,40}... wait 30,40 arrive later; final top-3 of
    // {10,20,5,30,40} = {40,30,20}
    def events(rows: (Long, Long, Long)*) = rows.toDF("user_id", "event_id", "cents")
    landBatch(root, 0, events((1L, 10L, 100L), (1L, 20L, 200L)))
    landBatch(root, 1, events((1L, 5L, 50L), (1L, 30L, 300L)))
    landBatch(root, 2, events((1L, 40L, 400L)))
    StreamingState.transformWithStateRunOnce(spark, s"$root/in", s"$root/out", s"$root/cp",
      new StreamingState.LatestKProcessor(3))(_.user_id)
    val rows = spark.read.parquet(s"$root/out")
      .collect().map(r => (r.getLong(1),
        r.getSeq[Long](2).toList, r.getSeq[Long](3).toList)).sortBy(_._1)
    assert(rows.toList == List(
      (2L, List(20L, 10L), List(200L, 100L)),
      (4L, List(30L, 20L, 10L), List(300L, 200L, 100L)),
      (5L, List(40L, 30L, 20L), List(400L, 300L, 200L))), rows.toList.toString)
  }

  test("v2 timer sessionization == v1 flatMapGroupsWithState on a sentinel landing") {
    import spark.implicits._
    val root = TempDirs("graft_sv2")
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // user 1: two sessions split by a 2000s gap that SPANS batches
    // (only the timer path can close the first one); sentinel user -9
    // advances the watermark, its own session stays open and is dropped
    landBatch(root, 0, Seq((1L, ts(1000)), (1L, ts(1500))).toDF("user_id", "ts"))
    landBatch(root, 1, Seq((1L, ts(3500))).toDF("user_id", "ts"))
    landBatch(root, 2, Seq((-9L, ts(100000))).toDF("user_id", "ts"))
    landBatch(root, 3, Seq((-9L, ts(100001))).toDF("user_id", "ts"))
    graft.streaming.StreamingState.sessionizeV2RunOnce(
      spark, s"$root/in", s"$root/outv2", s"$root/cpv2", gapSec = 1000L)
    graft.streaming.StreamingState.sessionizeRunOnce(
      spark, s"$root/in", s"$root/outv1", s"$root/cpv1", gapSec = 1000L)
    def readOut(p: String) = spark.read.parquet(p)
      .filter(org.apache.spark.sql.functions.col("user_id") >= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val v2 = readOut(s"$root/outv2")
    assert(v2 == Set((1L, 1000L, 1500L, 2L), (1L, 3500L, 3500L, 1L)), v2.toString)
    assert(v2 == readOut(s"$root/outv1"))
  }

  test("MapState type counts accumulate per (user, type) across batches") {
    import spark.implicits._
    val root = TempDirs("graft_mc")
    landBatch(root, 0,
      Seq((1L, "view"), (1L, "click"), (1L, "view")).toDF("user_id", "event_type"))
    landBatch(root, 1, Seq((1L, "view"), (1L, "purchase")).toDF("user_id", "event_type"))
    StreamingState.transformWithStateRunOnce(spark, s"$root/in", s"$root/out", s"$root/cp",
      new StreamingState.TypeCountsProcessor)(_.user_id)
    val rows = spark.read.parquet(s"$root/out")
      .collect().map(r => (r.getLong(1),
        r.getSeq[String](2).toList, r.getSeq[Long](3).toList)).sortBy(_._1)
    assert(rows.toList == List(
      (3L, List("click", "view"), List(1L, 2L)),
      (5L, List("click", "purchase", "view"), List(1L, 1L, 3L))), rows.toList.toString)
  }

  test("foreachBatch MERGE sink: per-batch rewrites, final table, no-op replay") {
    import spark.implicits._
    val root = TempDirs("graft_smerge_test")
    val table = s"$root/tbl"
    graft.lineage.ParquetCatalog.append(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("doc_id", "v"), table)
    def land(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit =
      StreamingState.landFile(df, s"$root/in/$name.parquet", mtime)
    val now = System.currentTimeMillis()
    // batch 1: update doc 1; batch 2: delete doc 2, insert doc 9
    land(Seq((1L, 11L, false)).toDF("doc_id", "v", "_deleted"), "a", now)
    land(Seq((2L, 0L, true), (9L, 90L, false)).toDF("doc_id", "v", "_deleted"),
      "b", now + 60000L)
    graft.streaming.StreamingState.mergeSinkRunOnce(
      spark, s"$root/in", table, "doc_id", "_deleted", s"$root/cp")
    def current = graft.lineage.ParquetCatalog.readCurrent(spark, table)
      .as[(Long, Long)].collect().toSet
    assert(current == Set((1L, 11L), (3L, 30L), (9L, 90L)))
    // base append + one rewrite per micro-batch
    assert(graft.lineage.ParquetCatalog.snapshots(spark, table).size == 3)
    // replay with the same checkpoint: nothing new to process, table unchanged
    graft.streaming.StreamingState.mergeSinkRunOnce(
      spark, s"$root/in", table, "doc_id", "_deleted", s"$root/cp")
    assert(current == Set((1L, 11L), (3L, 30L), (9L, 90L)))
    assert(graft.lineage.ParquetCatalog.snapshots(spark, table).size == 3)
    // time travel: the pre-merge base is intact at snapshot 1
    assert(graft.lineage.ParquetCatalog.readAsOf(spark, table, 1L)
      .as[(Long, Long)].collect().toSet == Set((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  /** A tiny two-sided join landing, one file per side: left (doc_id,
    * l_ts, lang) and right (r_doc_id, r_ts, score). Right lags put rows
    * on both sides of the 600 s range bound. With `sentinels`, two
    * far-future files per side (keys -1, -2) follow in mtime order.
    * Returns the root and the real left and right rows.
    */
  private def joinLanding(sentinels: Boolean): (String, DataFrame, DataFrame) = {
    import spark.implicits._
    val root = TempDirs("graft_ssjoin_test")
    def ts(sec: Long) = new java.sql.Timestamp((1700000000L + sec) * 1000)
    val left = (1L to 6L).map(k => (k, ts(k * 10), s"l$k")).toDF("doc_id", "l_ts", "lang")
    // key 1 matches twice, 3 sits on the inclusive bound, 4 and 5 fall
    // outside the range, 6 has no right row, 7 no left row
    val right = Seq((1L, 0L), (1L, 100L), (2L, 300L), (3L, 600L), (4L, 601L),
        (5L, -1L), (7L, 0L))
      .map { case (k, lag) => (k, ts(k * 10 + lag), k * 1000 + lag) }
      .toDF("r_doc_id", "r_ts", "score")
    val tail = if (sentinels) Seq(-1L -> 300000L, -2L -> 400000L) else Nil
    val lefts = left +: tail.map { case (k, sec) =>
      Seq((k, ts(sec), "xx")).toDF("doc_id", "l_ts", "lang") }
    val rights = right +: tail.map { case (k, sec) =>
      Seq((k, ts(sec), 0L)).toDF("r_doc_id", "r_ts", "score") }
    val now = System.currentTimeMillis()
    for ((side, files) <- Seq("left" -> lefts, "right" -> rights); (df, i) <- files.zipWithIndex)
      StreamingState.landFile(df, s"$root/$side/part-$i.parquet", now + i * 60000L)
    (root, left, right)
  }

  private val joinCols = Seq("doc_id", "l_ts", "r_ts", "lang", "score")

  /** The batch range join the stream-stream drains must equal. */
  private def batchRangeJoin(left: DataFrame, right: DataFrame, joinType: String): Set[Row] =
    left.join(right, col("doc_id") === col("r_doc_id") && col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr("INTERVAL 600 SECONDS"), joinType)
      .select(joinCols.map(col): _*).collect().toSet

  test("stream-stream inner join drain equals the batch range join") {
    val (root, left, right) = joinLanding(sentinels = false)
    StreamingState.streamStreamJoinRunOnce(spark, s"$root/left", s"$root/right",
      "doc_id", s"$root/out", s"$root/cp", rangeMaxSec = 600L)
    val got = spark.read.parquet(s"$root/out").select(joinCols.map(col): _*).collect().toSet
    val want = batchRangeJoin(left, right, "inner")
    assert(want.map(_.getLong(0)) == Set(1L, 2L, 3L) && want.size == 4, want.toString)
    assert(got == want, got.toString)
  }

  test("stream-stream left outer join drain equals the batch left join, sentinels removed") {
    val (root, left, right) = joinLanding(sentinels = true)
    StreamingState.streamStreamJoinRunOnce(spark, s"$root/left", s"$root/right",
      "doc_id", s"$root/out", s"$root/cp", rangeMaxSec = 600L, joinType = "leftOuter")
    val got = spark.read.parquet(s"$root/out")
      .filter(col("doc_id") >= 0)
      .select(joinCols.map(col): _*).collect().toSet
    val want = batchRangeJoin(left, right, "leftOuter")
    // 4 matches plus keys 4, 5 and 6 null-padded
    assert(want.size == 7 && want.count(_.isNullAt(2)) == 3, want.toString)
    assert(got == want, got.toString)
  }
}
