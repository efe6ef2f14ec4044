package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, expr, lit, session_window, window}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TimeMode, Trigger}

import scala.reflect.runtime.universe.TypeTag

/** Stateful streaming operators over the continuously-arriving span /
  * event tables — the watermark + custom-state half of the streaming
  * surface (StreamingExtract covers the stateless extraction Project).
  *
  * Scale posture: both operators keep per-key state that the watermark
  * provably expires — at 10^12 documents unbounded streaming state is
  * the failure mode, so every state entry here has an eviction rule
  * (dedup: watermark horizon; sessions: event-time timeout).
  */
object StreamingState {

  /** State-store width of every stateful drain. Each stateful operator
    * keeps ONE state store per shuffle partition, and every store pays
    * its open/commit/checkpoint per micro-batch whether or not it holds
    * keys. Batch AQE coalesces small shuffles; streaming state is
    * pinned at plan time (and recorded in the checkpoint), so the width
    * must be fixed before the first batch. 8 is the width every
    * production drain has run at. It is a constant, not the session
    * width, because the bench runs at local[32], which would mean 32
    * stores per operator for a few thousand keys. Sizing it to the key
    * count (one store per N keys, capped by the cores) is ROADMAP item
    * 4's next step.
    */
  private val StatePartitions = 8

  /** One AvailableNow drain: every `*RunOnce` here and
    * [[StreamingExtract.runOnce]] is this plus its transform.
    *
    * A `stateful` drain runs on a child session (newSession shares the
    * SparkContext but not the SQLConf, so the caller's session is
    * untouched) with [[StatePartitions]] shuffle partitions. A stateless
    * one has no store to size and runs on the caller's session, sparing
    * a session build per run.
    *
    * Each input is a parquet file source with its own footer schema,
    * reading at most `maxFilesPerTrigger` files per micro-batch;
    * `transform` turns the sources, in input order, into the query. The
    * sink is checkpointed at `checkpoint`: `Left(path)` is an
    * exactly-once parquet directory, `Right(f)` runs `f` on every
    * micro-batch (foreachBatch). Returns once everything the inputs held
    * at start is processed.
    */
  private[streaming] def drain(spark: SparkSession, inputs: Seq[String],
      maxFilesPerTrigger: Int, checkpoint: String,
      sink: Either[String, DataFrame => Unit], stateful: Boolean = true,
      useRocksDb: Boolean = false)(transform: Seq[DataFrame] => Dataset[_]): Unit = {
    val s = if (!stateful) spark else {
      val child = spark.newSession()
      child.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
      // RocksDB state store: the provider that survives production key
      // cardinality. HDFSBackedStateStoreProvider holds every key's
      // state in executor heap (state size IS the OOM at 10^9 keys);
      // RocksDB keeps a bounded block cache and spills to local SSD,
      // checkpointing changelogs to the checkpoint dir. Output is
      // provider-independent (StreamingSpec gates equality).
      if (useRocksDb) child.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      child
    }
    val sources = inputs.map(p => s.readStream
      .schema(s.read.parquet(p).schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(p))
    val writer = transform(sources).toDF().writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
    val sinkWriter = sink match {
      case Left(path) => writer.format("parquet").option("path", path)
      case Right(f) => writer.foreachBatch((batch: DataFrame, _: Long) => f(batch))
    }
    sinkWriter.start().awaitTermination()
  }

  /** Lands `df` as the ONE parquet file `dst`, modified at `mtime`. A
    * file source forms micro-batches in modification-time order, so
    * landing files with spaced mtimes and draining at
    * maxFilesPerTrigger=1 pins the batch sequence a drain sees. The
    * write is staged in a hidden sibling directory, then moved.
    */
  def landFile(df: DataFrame, dst: String, mtime: Long): Unit = {
    val file = new java.io.File(dst)
    val stage = new java.io.File(file.getParentFile, s"_stage_${file.getName}")
    df.coalesce(1).write.parquet(stage.getPath)
    val part = stage.listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, file.toPath)
    stage.listFiles().foreach(_.delete())
    stage.delete()
    require(file.setLastModified(mtime), s"setLastModified failed: $dst")
  }

  /** Streaming exact dedup: keep the first arrival per checksum, drop
    * later duplicates until the watermark passes — the streaming
    * counterpart of Dedup.exactGroups. State is bounded by the
    * watermark horizon (dropDuplicatesWithinWatermark evicts expired
    * keys), so it survives an unbounded stream.
    */
  def dedupByChecksum(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("checksum")

  /** One AvailableNow dedup drain over a parquet landing dir into a
    * checkpointed exactly-once parquet sink — the dedup counterpart of
    * StreamingExtract.runOnce, driver-oracled via `stream_dedup`.
    */
  def dedupRunOnce(spark: SparkSession, inputPath: String, outPath: String,
      checkpoint: String, watermark: String = "1 hour",
      useRocksDb: Boolean = false): Unit =
    drain(spark, Seq(inputPath), 64, checkpoint, Left(outPath), useRocksDb = useRocksDb)(
      srcs => dedupByChecksum(srcs.head, watermark))

  /** One AvailableNow drain of a watermarked tumbling-window count —
    * the windowed-aggregation third of the streaming surface (dedup
    * and sessionization above). Append mode: only windows the final
    * watermark (max event time - delay) has closed reach the sink;
    * still-open windows stay in state and are simply absent from this
    * drain, which is what the batch oracle states. State is bounded by
    * windows inside the watermark horizon.
    */
  def windowedCountsRunOnce(spark: SparkSession, inputPath: String,
      outPath: String, checkpoint: String, tsCol: String, keyCol: String,
      windowDur: String = "1 hour", delay: String = "30 minutes"): Unit =
    drain(spark, Seq(inputPath), 64, checkpoint, Left(outPath)) { srcs =>
      srcs.head.withWatermark(tsCol, delay)
        .groupBy(window(col(tsCol), windowDur), col(keyCol))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
          col(keyCol), col("cnt"))
    }

  /** Built-in session-window aggregation drain — Spark's native
    * `session_window(ts, gap)` grouping (dynamic-width windows that
    * merge while events arrive within `gap` of the session's end), the
    * declarative counterpart of the custom flatMapGroupsWithState /
    * StatefulProcessor sessionizers: no user state machine, the state
    * store holds per-(key, session) aggregates and MERGES adjacent
    * sessions as late-but-in-watermark events bridge them. Append mode:
    * a session reaches the sink once its end (last event + gap) <= the
    * watermark (max event time - delay) — the same boundary rule the
    * tumbling-window drain pins. Window bounds land in the sink at
    * full microsecond precision; an event arriving at exactly `gap`
    * after the session's last event MERGES into it (touching ranges
    * merge — the boundary is inclusive, test-pinned).
    */
  def sessionWindowCountsRunOnce(spark: SparkSession, inputPath: String,
      outPath: String, checkpoint: String, tsCol: String, keyCol: String,
      gap: String = "30 minutes", delay: String = "30 minutes"): Unit =
    drain(spark, Seq(inputPath), 64, checkpoint, Left(outPath)) { srcs =>
      srcs.head.withWatermark(tsCol, delay)
        .groupBy(session_window(col(tsCol), gap), col(keyCol))
        .agg(count(lit(1)).as("n_events"))
        .select(col("session_window.start").as("w_start"),
          col("session_window.end").as("w_end"), col(keyCol), col("n_events"))
    }

  /** foreachBatch MERGE sink drain — the production "stream of deltas
    * maintains a lakehouse table" pattern: each micro-batch MERGEs
    * (update / tombstone-delete / insert) into a ParquetCatalog table
    * as a copy-on-write REWRITE snapshot. Exactly-once table state
    * comes from MERGE's per-key IDEMPOTENCE (re-merging the same
    * unique-keyed delta updates rows to the values they already hold,
    * re-deletes nothing, re-inserts nothing new), which is precisely
    * what makes foreachBatch's at-least-once replay contract safe for
    * this sink; the checkpoint bounds replays to the failed batch.
    *
    * Scale posture: each batch pays MergeUpsert's one co-partitioned
    * shuffle per side (elided on a bucketed target); the snapshot
    * chain gives time travel across merges and [[graft.lineage
    * .ParquetCatalog.expireSnapshots]]/compact handle retention and
    * the small-file accretion every streaming table maintenance job
    * must schedule.
    */
  def mergeSinkRunOnce(spark: SparkSession, inputPath: String,
      table: String, keyCol: String, deleteCol: String,
      checkpoint: String): Unit =
    drain(spark, Seq(inputPath), 1, checkpoint, Right { batch =>
      val target = graft.lineage.ParquetCatalog.readCurrent(batch.sparkSession, table)
      graft.lineage.ParquetCatalog.overwrite(
        graft.lineage.MergeUpsert.merge(target, batch, keyCol, deleteCol), table)
    })(_.head)

  /** Stream-static enrichment drain: every streamed row inner-joins a
    * static dimension frame on `keyCol` — the canonical pattern for
    * joining a document firehose against slowly-changing metadata
    * (license lists, per-language weights, domain reputations). Spark
    * re-resolves the static side each micro-batch; with the dim
    * broadcast the stream side never shuffles, so throughput is the
    * scan rate. Inner join semantics double as a filter: stream rows
    * with no dim entry drop.
    */
  def enrichRunOnce(spark: SparkSession, inputPath: String,
      staticDim: DataFrame, keyCol: String, outPath: String,
      checkpoint: String): Unit =
    drain(spark, Seq(inputPath), 64, checkpoint, Left(outPath), stateful = false)(
      _.head.join(broadcast(staticDim), Seq(keyCol)))

  /** Stream-stream join drain: two firehoses (e.g. document creations
    * and their async quality scores) joined on a key with an event-time
    * range bound — the fourth Structured Streaming join surface (after
    * stream-static, windowed agg, and stateful dedup). Both sides are
    * watermarked and the join condition carries the time-range
    * constraint, which is what lets Spark EVICT buffered rows: a left
    * row older than (watermark - rangeMax) can never match a future
    * right row, so state stays bounded on an unbounded stream — without
    * the range bound the buffers grow forever, the 10^12-doc failure
    * mode.
    *
    * `joinType` "inner": unmatched rows on either side simply never
    * emit. "leftOuter", the trickiest surface: an unmatched left row
    * can only emit its null-padded result once the GLOBAL watermark
    * (min across both sources) proves no future right row can match it
    * (wm > l_ts + rangeMax), and the emission happens in a LATER
    * micro-batch than the one that raised the watermark. An AvailableNow
    * drain therefore needs rows arriving AFTER the real data on BOTH
    * sides — the caller appends far-future sentinel files (two, so a
    * batch exists after the watermark-raising one) with strictly
    * increasing modification times, and maxFilesPerTrigger=1 makes each
    * file its own batch in mtime order. Without the range bound or the
    * sentinels, unmatched rows sit in state forever — the
    * silent-incompleteness failure mode this drain exists to pin.
    * Both join types read one file per side per micro-batch, so a
    * landing of one file per side is one batch.
    *
    * Left schema must carry (`keyCol`, l_ts), right (r_`keyCol`,
    * r_ts); rangeMaxSec bounds r_ts - l_ts in [0, rangeMaxSec].
    */
  def streamStreamJoinRunOnce(spark: SparkSession, leftPath: String,
      rightPath: String, keyCol: String, outPath: String, checkpoint: String,
      rangeMaxSec: Long, joinType: String = "inner",
      delay: String = "30 minutes"): Unit =
    drain(spark, Seq(leftPath, rightPath), 1, checkpoint, Left(outPath)) { srcs =>
      srcs(0).withWatermark("l_ts", delay).join(srcs(1).withWatermark("r_ts", delay),
        col(keyCol) === col(s"r_$keyCol") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr(s"INTERVAL $rangeMaxSec SECONDS"),
        joinType)
    }

  final case class UserEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class SessionState(start: Long, end: Long, n: Long)
  final case class Session(user_id: Long, s_start: Long, s_end: Long, n_events: Long)

  /** Streaming sessionization with explicit custom state
    * (flatMapGroupsWithState + event-time timeout): the streaming
    * counterpart of the q_sessionize batch window. Sessions close
    * either inside a batch (a gap between sorted event times) or via
    * watermark timeout (gap spans batches); closed sessions are emitted
    * in Append mode and their state removed.
    */
  def sessionize(
      spark: SparkSession,
      events: Dataset[UserEvent],
      gapSec: Long,
      watermarkDelay: String = "10 seconds"): Dataset[Session] = {
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[UserEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(uid, s.start, s.end, s.n))
          } else {
            val times = it.map(_.ts.getTime / 1000).toArray.sorted
            var closed = List.empty[Session]
            var cur = state.getOption.getOrElse(SessionState(times.head, times.head, 0))
            for (t <- times) {
              if (cur.n > 0 && t - cur.end > gapSec) {
                closed ::= Session(uid, cur.start, cur.end, cur.n)
                cur = SessionState(t, t, 1)
              } else {
                cur = SessionState(math.min(cur.start, t), math.max(cur.end, t), cur.n + 1)
              }
            }
            state.update(cur)
            state.setTimeoutTimestamp((cur.end + gapSec) * 1000)
            closed.reverseIterator
          }
      }
  }

  /** One AvailableNow drain of the custom-state sessionizer over a
    * parquet landing dir of (user_id, ts) rows into a checkpointed
    * parquet sink — driver-oracled via `stream_session`.
    *
    * Timeout-closed sessions only emit when a LATER batch advances the
    * watermark past their `end + gap`, so a one-shot drain of a finite
    * landing zone would silently hold its tail sessions in state
    * forever. The landing convention (streamSessionDrain) therefore
    * appends sentinel events for a negative user far past every real
    * timestamp in their own trailing files: processed as their own
    * micro-batches (maxFilesPerTrigger=1, file-source mtime order),
    * the first sentinel advances the watermark past every real
    * session's timeout and the second triggers the batch in which
    * those timeouts fire. The sentinel's own session stays open (its
    * timeout exceeds the final watermark) and negative users are
    * dropped here, so the sink holds exactly the real users' sessions
    * — which a batch gap-split oracle can state directly.
    */
  def sessionizeRunOnce(spark: SparkSession, inputPath: String,
      outPath: String, checkpoint: String, gapSec: Long,
      watermarkDelay: String = "10 seconds",
      useRocksDb: Boolean = false): Unit =
    drain(spark, Seq(inputPath), 1, checkpoint, Left(outPath), useRocksDb = useRocksDb) { srcs =>
      val s = srcs.head.sparkSession
      import s.implicits._
      sessionize(s, srcs.head.as[UserEvent], gapSec, watermarkDelay)
        .filter(_.user_id >= 0L)
    }

  final case class UserVal(user_id: Long, cents: Long)
  final case class RunningTotal(user_id: Long, n_events: Long, sum_cents: Long)

  /** Per-user running totals on transformWithState — Spark 4's
    * arbitrary-state v2 API (StatefulProcessor + typed state handles),
    * the successor to flatMapGroupsWithState: state is DECLARED
    * (named ValueState with its own encoder and TTL policy) instead of
    * carried in one opaque blob, and the operator requires the RocksDB
    * provider — the production state backend. Values ride as exact
    * integer cents so totals cannot drift with batch order.
    *
    * Each batch that touches a user emits that user's UPDATED running
    * total; per user the emitted n_events sequence is strictly
    * increasing, so `max(n_events)` over the sink equals the user's
    * total REGARDLESS of how the landing files split into
    * micro-batches — which is what makes the drain batch-oracle-able.
    */
  class RunningTotalProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, UserVal, RunningTotal] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("totals",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[UserVal],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[RunningTotal] = {
      var n = 0L
      var sum = 0L
      if (st.exists()) { val cur = st.get(); n = cur._1; sum = cur._2 }
      rows.foreach { r => n += 1; sum += r.cents }
      st.update((n, sum))
      Iterator.single(RunningTotal(key, n, sum))
    }
  }

  /** Sessionization on the v2 API with EVENT-TIME TIMERS — the same
    * gap-split semantics as [[sessionize]] (flatMapGroupsWithState +
    * EventTimeTimeout), re-expressed as a StatefulProcessor: in-batch
    * gaps close inside handleInputRows, cross-batch gaps close in
    * handleExpiredTimer when the watermark passes end + gap. Old timers
    * are deleted before the new one registers (v2 timers are explicit
    * objects, not the single implicit timeout of the v1 API). Output-
    * identical to the v1 operator by construction — gated in
    * StreamingSpec — so the same sentinel landing convention and batch
    * oracle apply.
    */
  class SessionV2Processor(gapSec: Long) extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, UserEvent, Session] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("session",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(uid: Long, it: Iterator[UserEvent],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[Session] = {
      val times = it.map(_.ts.getTime / 1000).toArray.sorted
      var closed = List.empty[Session]
      var cur = if (st.exists()) st.get()
        else (times.head, times.head, 0L)
      for (t <- times) {
        if (cur._3 > 0 && t - cur._2 > gapSec) {
          closed ::= Session(uid, cur._1, cur._2, cur._3)
          cur = (t, t, 1L)
        } else {
          cur = (math.min(cur._1, t), math.max(cur._2, t), cur._3 + 1)
        }
      }
      st.update(cur)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer((cur._2 + gapSec) * 1000)
      closed.reverseIterator
    }
    override def handleExpiredTimer(uid: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Session] = {
      val s = st.get()
      st.clear()
      Iterator.single(Session(uid, s._1, s._2, s._3))
    }
  }

  /** One AvailableNow drain of the v2 timer sessionizer — same landing
    * convention (sentinel-flushed, maxFilesPerTrigger=1) as
    * [[sessionizeRunOnce]]; RocksDB forced (transformWithState).
    */
  def sessionizeV2RunOnce(spark: SparkSession, inputPath: String,
      outPath: String, checkpoint: String, gapSec: Long,
      watermarkDelay: String = "10 seconds"): Unit =
    drain(spark, Seq(inputPath), 1, checkpoint, Left(outPath), useRocksDb = true) { srcs =>
      val s = srcs.head.sparkSession
      import s.implicits._
      srcs.head.as[UserEvent]
        .withWatermark("ts", watermarkDelay)
        .groupByKey(_.user_id)
        .transformWithState(new SessionV2Processor(gapSec),
          TimeMode.EventTime(), OutputMode.Append())
        .filter(_.user_id >= 0L)
    }

  final case class UserEventVal(user_id: Long, event_id: Long, cents: Long)
  final case class LatestK(user_id: Long, n_seen: Long,
      ids: Seq[Long], cents: Seq[Long])

  /** Latest-k events per key on ListState — the online-feature-store
    * shape (each key's freshest k observations, ready to serve):
    * per batch the stored list merges with the batch's rows and keeps
    * the k LARGEST event_ids. Keyed on event_id, not arrival, because
    * arrival order is not deterministic (a user's rows scatter across
    * landing files and arrive unordered within a batch) — largest-k by
    * a total order is merge-order-independent, which is what makes the
    * drain batch-oracle-able. n_seen (ValueState) counts every row the
    * key ever saw, so the sink row with max(n_seen) per key is the
    * final feature vector.
    */
  class LatestKProcessor(k: Int) extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, UserEventVal, LatestK] {
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var latest: org.apache.spark.sql.streaming.ListState[(Long, Long)] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      latest = getHandle.getListState[(Long, Long)]("latest",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[UserEventVal],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[LatestK] = {
      val incoming = rows.map(r => (r.event_id, r.cents)).toArray
      val cur = if (latest.exists()) latest.get().toArray else Array.empty[(Long, Long)]
      val merged = (cur ++ incoming).sortBy(-_._1).take(k)
      latest.put(merged)
      val n = (if (seen.exists()) seen.get() else 0L) + incoming.length
      seen.update(n)
      Iterator.single(LatestK(key, n, merged.map(_._1).toSeq, merged.map(_._2).toSeq))
    }
  }

  final case class UserTyped(user_id: Long, event_type: String)
  final case class TypeCounts(user_id: Long, n_seen: Long,
      types: Seq[String], counts: Seq[Long])

  /** Per-user per-event-type counts on MapState — the third v2 state
    * handle (ValueState: running totals; ListState: latest-k; MapState
    * here): each (user, type) count lives under its own map key, so a
    * batch touching one type reads/writes ONE entry instead of
    * deserializing the whole per-user blob — the point of composite
    * state at production key x subkey cardinality. Emission sorts the
    * map's entries by type (map iteration order is not a contract), so
    * the final row per user is the plain batch pivot the oracle states.
    */
  class TypeCountsProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, UserTyped, TypeCounts] {
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[UserTyped],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[TypeCounts] = {
      var n = if (seen.exists()) seen.get() else 0L
      rows.foreach { r =>
        val cur = if (counts.containsKey(r.event_type)) counts.getValue(r.event_type) else 0L
        counts.updateValue(r.event_type, cur + 1L)
        n += 1
      }
      seen.update(n)
      val sorted = counts.iterator().toArray.sortBy(_._1)
      Iterator.single(TypeCounts(key, n, sorted.map(_._1).toSeq, sorted.map(_._2).toSeq))
    }
  }

  /** One AvailableNow drain of a per-user v2 processor
    * ([[RunningTotalProcessor]], [[LatestKProcessor]],
    * [[TypeCountsProcessor]]) over a parquet landing dir of `I` rows,
    * keyed by `user`. maxFilesPerTrigger=1, so a multi-file landing zone
    * genuinely exercises state continuity ACROSS micro-batches inside
    * the one drain. RocksDB is forced: transformWithState only runs on
    * the RocksDB provider.
    */
  def transformWithStateRunOnce[I <: Product : TypeTag, O <: Product : TypeTag](
      spark: SparkSession, inputPath: String, outPath: String, checkpoint: String,
      processor: StatefulProcessor[Long, I, O])(user: I => Long): Unit =
    drain(spark, Seq(inputPath), 1, checkpoint, Left(outPath), useRocksDb = true) { srcs =>
      val s = srcs.head.sparkSession
      import s.implicits._
      srcs.head.as[I].groupByKey(user)
        .transformWithState(processor, TimeMode.None(), OutputMode.Append())
    }
}
