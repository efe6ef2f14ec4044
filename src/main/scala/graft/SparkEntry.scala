package graft

import graft.ann.Ann
import graft.dedup.Dedup
import graft.extract.Extract
import graft.fixtures.SpanGen
import graft.functions.FenceExpr.fence
import graft.media.Media
import graft.sinks.Csv
import graft.streaming.StreamingState
import graft.textops.TextOps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 has a `queries` entry; the
  * SQL-expressible ones also have a DuckDB oracle in `oracleSql` (same
  * column names both sides — the driver sorts columns by name and hashes
  * values). The extraction core is oracled too: `Verify` dumps the
  * synthesized input span table, and `extractSpansOracle` reconstructs
  * the expected output relationally (islands + containment + ordered
  * string_agg + dense pivot) for DuckDB to hash-match; the degenerate
  * corners SQL can't express stay gated by the golden/fuzz suites.
  */
object SparkEntry {

  /** Flagship: synthesize the interleaved span table from the sf
    * documents, run the E1 extraction through the native extract_spans
    * expression (the production path), and emit the ordered span
    * sequence flat. Driver smoke-checks rows>0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    extractExprFlat(spark, "/root/testdata/sf0.001")

  private def extractExprFlat(spark: SparkSession, dir: String): DataFrame = {
    val docs = SpanGen.fromDocuments(spark, dir).toDF()
    graft.functions.GraftFunctions.extractDF(spark, docs)
      .select(col("doc_id"), col("n_tables"), col("n_cells"), col("status"),
        explode(col("spans")).as("span"))
      .select(col("doc_id"), col("span.offset").as("offset"),
        col("span.kind").as("kind"), col("span.text").as("text"),
        col("span.media_ref").as("media_ref"),
        col("n_tables"), col("n_cells"), col("status"))
  }

  private def extractFlat(spark: SparkSession, dir: String, strategy: Extract.Strategy): DataFrame =
    extractFlatOf(spark, SpanGen.fromDocuments(spark, dir), strategy)

  private def extractFlatOf(
      spark: SparkSession,
      docs: org.apache.spark.sql.Dataset[Doc],
      strategy: Extract.Strategy): DataFrame = {
    val extracted = Extract.distributed(spark, docs, strategy)
    extracted
      .select(col("doc_id"), col("n_tables"), col("n_cells"), col("status"),
        explode(col("spans")).as("span"))
      .select(col("doc_id"), col("span.offset").as("offset"),
        col("span.kind").as("kind"), col("span.text").as("text"),
        col("span.media_ref").as("media_ref"),
        col("n_tables"), col("n_cells"), col("status"))
  }

  /** K1 CSV sink surface: one Go-quoting CSV string per recovered table,
    * taken from the extraction's own table IR (never re-parsed from cell
    * refs — pass-through cells keep arbitrary original refs, and adjacent
    * tables would merge).
    */
  private def extractCsv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._ // (String, Int, String) tuple encoder
    val docs = SpanGen.fromDocuments(spark, dir)
    docs.flatMap { d =>
      val (_, tables) = Extract.extractDocTables(d)
      tables.iterator.zipWithIndex.map { case (t, i) =>
        (d.doc_id, i, Csv.fromTable(t))
      }
    }.toDF("doc_id", "table_idx", "csv")
  }

  private def t(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Index-ordered double dot-product fold as a native expression —
    * bit-identical to the `aggregate(sequence(...))` HOF the cosine
    * baselines previously evaluated interpreted per pair (see
    * [[graft.functions.DotFoldExpr]]; only for sites that cast BOTH
    * element sides to double).
    */
  private def dotFold(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.PlanBridge.column(
      graft.functions.DotFoldExpr(
        org.apache.spark.sql.graft.PlanBridge.expression(a),
        org.apache.spark.sql.graft.PlanBridge.expression(b)))

  /** Winnow local-overlap candidate pairs, materialized ONCE
    * (localCheckpoint) for the composed graph queries (triangles /
    * clustering coefficient / PageRank centrality): their diamond-shaped
    * plans read the pair frame on several join branches, and without
    * the checkpoint each branch re-executes the whole fingerprint
    * pipeline (scan -> shingle -> md5 -> window-min -> postings join) —
    * round-5 PLANS.md showed that subtree duplicated per branch and
    * q_dup_centrality alone burned ~195 task-CPU-s on it in the graded
    * run. The pair frame itself is tiny (one row per overlapping doc
    * pair), so the checkpoint is metadata-sized; Bench unpersists all
    * leftover blocks after every query.
    */
  private def winnowPairsCp(s: SparkSession, dir: String): DataFrame =
    Rounds.checkpoint(graft.dedup.Winnow.candidatePairs(
      graft.dedup.Winnow.fingerprints(
        s.read.parquet(t(dir, "documents")), "doc_id", "text", k = 4, w = 4),
      minShared = 2))

  /** Landing-zone roots by key, one per key per JVM: the materialized
    * input copy (the big part) that drains and file-source queries
    * read. A single shutdown hook reclaims all of them.
    */
  private val streamLandingDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val streamRunSeq = new java.util.concurrent.atomic.AtomicLong()
  private lazy val streamCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val fs = f.listFiles(); if (fs != null) fs.foreach(rm); f.delete(); ()
      }
      streamLandingDirs.values.forEach(d => rm(new java.io.File(d)))
    }))

  /** The landing root for `key`: on first use, a fresh temp dir named
    * after `prefix` that `build` fills; cached for the JVM after that.
    */
  private def landing(key: String, prefix: String)(build: String => Unit): String = {
    streamCleanupHook
    streamLandingDirs.computeIfAbsent(key, _ => {
      val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
      build(tmp)
      tmp
    })
  }

  /** A fresh (sink, checkpoint) pair under a landing root for one drain
    * invocation. The drain itself is NOT cached: every invocation runs
    * a real AvailableNow pass into its own pair, so a repeated call
    * (bench warmup + best-of-2 trials) times actual streaming execution
    * rather than a parquet re-read of a previously drained sink. The
    * pairs are output-sized (not corpus-sized) and are reclaimed with
    * the root on JVM exit — the returned DataFrame reads its own run's
    * sink lazily, so earlier runs' frames stay valid too.
    */
  private def runDirs(root: String, sink: String = "out"): (String, String) = {
    val run = streamRunSeq.incrementAndGet()
    (s"$root/$sink$run", s"$root/cp$run")
  }

  /** Runs one streaming drain; returns the fresh sink path. */
  private def streamDrain(s: SparkSession, dir: String): String = {
    val root = landing(dir, "graft_stream") { tmp =>
      SpanGen.fromDocuments(s, dir).toDF().coalesce(8).write.parquet(s"$tmp/in")
    }
    val (out, cp) = runDirs(root)
    graft.streaming.StreamingExtract.runOnce(s, s"$root/in", out, cp)
    out
  }

  /** Span-TSV landing zone for the DSv2 connector query: documents
    * rewritten once per input dir through [[graft.sources.SpanTsv.write]]
    * (bucket dirs = the zone map the reader prunes on). One span per
    * doc, media_ref populated on doc_id % 4 == 0 so the residual
    * (non-pushable) filter has bite.
    */
  private def spanTsvLanding(s: SparkSession, dir: String): String =
    landing(s"$dir#spantsv", "graft_spantsv") { tmp =>
      graft.sources.SpanTsv.write(
        s.read.parquet(t(dir, "documents")).select(
          col("doc_id"), lit(0).as("offset"), lit("text").as("kind"),
          col("text"),
          when(col("doc_id") % 4 === 0,
            concat(lit("img:"), col("doc_id").cast("string")))
            .otherwise(lit("")).as("media_ref")),
        s"$tmp/spans", bucketWidth = 50L)
    } + "/spans"

  /** Streaming-dedup drain: a landing zone of (doc_id, checksum, ts)
    * rows — the corpus plus one exact duplicate (same text, same event
    * time) for every doc_id % 3 == 0 — drained once through
    * StreamingState.dedupByChecksum into a fresh checkpointed sink.
    * The landing copy is written as ONE file so the AvailableNow pass
    * is a single deterministic micro-batch: every duplicate shares its
    * original's event time, so watermark semantics can never let one
    * through, and the surviving row set is exactly one row per
    * distinct checksum — which the batch oracle states directly.
    */
  private def streamDedupDrain(s: SparkSession, dir: String): String = {
    val root = landing(s"$dir#dedup", "graft_sdedup") { tmp =>
      val base = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), sha2(col("text"), 256).as("checksum"),
          timestamp_seconds(lit(1700000000L) + pmod(col("doc_id"), lit(3600L)))
            .as("ts"))
      base.union(base.filter(col("doc_id") % 3 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
        .coalesce(1).write.parquet(s"$tmp/in")
    }
    val (out, cp) = runDirs(root)
    // RocksDB state store: the driver gate runs the provider that
    // holds at production key cardinality (HDFS-backed keeps all state
    // on-heap; provider-equivalence is separately spec-gated)
    StreamingState.dedupRunOnce(s, s"$root/in", out, cp, useRocksDb = true)
    out
  }

  /** Streaming windowed-count drain over the events table (landing copy
    * = one file, one deterministic micro-batch). Append-mode emission is
    * watermark-gated: windows with end <= max(ts) - delay reach the
    * sink (boundary equality EMITS — pinned by the AnalyticsSpec
    * boundary test), which the batch oracle restates as a HAVING.
    */
  private def streamWindowDrain(s: SparkSession, dir: String): String = {
    val root = landing(s"$dir#window", "graft_swin") { tmp =>
      s.read.parquet(t(dir, "events"))
        // the raw table reads as TIMESTAMP_NTZ (parquet without tz);
        // watermarks require TIMESTAMP — same instant under the UTC
        // session, so the oracle's naive-timestamp epoch math matches
        .select(col("ts").cast("timestamp").as("ts"), col("event_type"))
        .coalesce(1).write.parquet(s"$tmp/in")
    }
    val (out, cp) = runDirs(root)
    StreamingState.windowedCountsRunOnce(s, s"$root/in", out, cp, "ts", "event_type")
    out
  }

  private def streamSessionWinDrain(s: SparkSession, dir: String): String = {
    val root = landing(s"$dir#swinsess", "graft_swsess") { tmp =>
      s.read.parquet(t(dir, "events"))
        .select(col("ts").cast("timestamp").as("ts"), col("user_id"),
          col("event_id"))
        .coalesce(1).write.parquet(s"$tmp/in")
    }
    val (out, cp) = runDirs(root)
    StreamingState.sessionWindowCountsRunOnce(s, s"$root/in", out, cp, "ts", "user_id")
    out
  }

  /** Streaming MERGE-sink drain: the q_merge_upsert delta split into
    * two mtime-ordered files (updates, then inserts+tombstones — key-
    * DISJOINT, so sequential per-batch merging equals the one-shot
    * merge the oracle replays), foreachBatch-merged into a fresh
    * ParquetCatalog table seeded with the base corpus. Landing files
    * are cached per input dir; the table and checkpoint are per-run
    * (a merge sink MUTATES its table — reuse would double-apply).
    */
  private def streamMergeDrain(s: SparkSession, dir: String): String = {
    val root = landing(s"$dir#merge", "graft_smerge") { tmp =>
      val base = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val updates = base
        .filter(col("doc_id") % 7 === 0 && col("doc_id") % 13 =!= 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 1000L).as("n_chars"), lit(false).as("_deleted"))
      val insDel = base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
          col("n_chars"), lit(false).as("_deleted"))
        .unionByName(base.filter(col("doc_id") % 13 === 0)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            lit(true).as("_deleted")))
      val now = System.currentTimeMillis()
      StreamingState.landFile(updates, s"$tmp/in/a_updates.parquet", now)
      StreamingState.landFile(insDel, s"$tmp/in/b_insdel.parquet", now + 60000L)
      base.write.parquet(s"$tmp/base")
    }
    val (table, cp) = runDirs(root, "tbl")
    graft.lineage.ParquetCatalog.append(s.read.parquet(s"$root/base"), table)
    StreamingState.mergeSinkRunOnce(s, s"$root/in", table, "doc_id", "_deleted", cp)
    table
  }

  /** Streaming-sessionization drain over the events table. Landing
    * layout is three files drained in mtime order (maxFilesPerTrigger
    * = 1, one micro-batch each): (a) every real (user_id, ts) event in
    * one file, so each user's full history reaches one
    * flatMapGroupsWithState invocation and gap-splitting matches the
    * batch oracle exactly; (b) one sentinel event for user -1 far past
    * every real timestamp, advancing the watermark beyond every real
    * session's timeout; (c) a second sentinel 1 s later, triggering the
    * micro-batch in which those timeouts fire. The sentinel's own
    * session never closes (its timeout exceeds the final watermark) and
    * the drain drops negative users, so the sink is exactly the real
    * sessions. Timeout-vs-gap closure paths are both exercised: batch
    * (a) closes intra-history gaps inline, the tail session of every
    * user closes by timeout.
    */
  private def streamSessionDrain(s: SparkSession, dir: String): String = {
    val root = streamSessionLanding(s, dir)
    val (out, cp) = runDirs(root)
    StreamingState.sessionizeRunOnce(s, s"$root/in", out, cp, gapSec = 1800L)
    out
  }

  /** The session landing zone alone (no drain): shared by the v1 and
    * v2 sessionizers. v2 previously "materialized the landing" by
    * calling the v1 DRAIN — paying a full extra streaming pass per
    * invocation before its own.
    */
  private def streamSessionLanding(s: SparkSession, dir: String): String =
    landing(s"$dir#session", "graft_ssess") { tmp =>
      val ev = s.read.parquet(t(dir, "events"))
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
      val maxSec = ev.agg(max(unix_timestamp(col("ts")))).head().getLong(0)
      def sentinel(sec: Long): DataFrame =
        s.range(1).select(lit(-1L).as("user_id"),
          timestamp_seconds(lit(sec)).as("ts"))
      val now = System.currentTimeMillis()
      StreamingState.landFile(ev, s"$tmp/in/a_events.parquet", now)
      StreamingState.landFile(sentinel(maxSec + 40000000L),
        s"$tmp/in/b_sentinel.parquet", now + 60000L)
      StreamingState.landFile(sentinel(maxSec + 40000001L),
        s"$tmp/in/c_sentinel.parquet", now + 120000L)
    }

  /** Same landing zone, drained through the v2 timer sessionizer. */
  private def streamSessionV2Drain(s: SparkSession, dir: String): String = {
    val root = streamSessionLanding(s, dir)
    val (out, cp) = runDirs(root)
    StreamingState.sessionizeV2RunOnce(s, s"$root/in", out, cp, gapSec = 1800L)
    out
  }

  /** Per-language weight dimension for the stream-static enrichment
    * drain — deliberately PARTIAL (no es/fr rows) so the inner join's
    * filter semantics are observable in the oracle row count.
    */
  private val enrichDim: Seq[(String, Double)] =
    Seq(("en", 1.0), ("de", 0.7), ("zh", 0.5))

  /** Stream-static enrichment drain: the documents firehose (landing
    * copy = one file, one deterministic micro-batch) broadcast-joined
    * per micro-batch against the tiny per-lang weight dim. The batch
    * oracle restates the join as documents x VALUES — inner semantics
    * drop langs absent from the dim.
    */
  private def streamEnrichDrain(s: SparkSession, dir: String): String = {
    val root = landing(s"$dir#enrich", "graft_senrich") { tmp =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .coalesce(1).write.parquet(s"$tmp/in")
    }
    val (out, cp) = runDirs(root)
    val dim = s.createDataFrame(enrichDim).toDF("lang", "lang_weight")
    StreamingState.enrichRunOnce(s, s"$root/in", dim, "lang", out, cp)
    out
  }

  /** The two sides of the stream-stream join landings, derived from the
    * documents table — creations (doc_id, l_ts, lang) and async scores
    * (r_doc_id, r_ts, score) where r_ts lags l_ts by (doc_id % 13)
    * minutes — landed as one file per side under `<root>/left` and
    * `<root>/right`. With `sentinels`, two far-future sentinel files
    * (keys -1, -2) follow the real one on each side, in mtime order, so
    * the left-outer drain sees the real batch first, then a batch that
    * advances the global watermark, then one that emits the null-padded
    * unmatched rows (see StreamingState.streamStreamJoinRunOnce).
    */
  private def landJoinSides(s: SparkSession, dir: String, root: String,
      sentinels: Boolean): Unit = {
    val base = s.read.parquet(t(dir, "documents"))
    val left = base.select(col("doc_id"),
      timestamp_seconds(lit(1700000000L) + pmod(col("doc_id"), lit(3600L)))
        .as("l_ts"),
      col("lang"))
    val right = base.select(col("doc_id").as("r_doc_id"),
      timestamp_seconds(lit(1700000000L) + pmod(col("doc_id"), lit(3600L))
        + pmod(col("doc_id"), lit(13L)) * 60L).as("r_ts"),
      col("n_chars").as("score"))
    // far beyond every real l_ts + range + delay
    def sentinel(k: Long, sec: Long): (DataFrame, DataFrame) = (
      s.range(1).select(lit(k).as("doc_id"), timestamp_seconds(lit(sec)).as("l_ts"),
        lit("xx").as("lang")),
      s.range(1).select(lit(k).as("r_doc_id"), timestamp_seconds(lit(sec)).as("r_ts"),
        lit(0L).as("score")))
    val tail = if (sentinels) Seq(sentinel(-1L, 1700300000L), sentinel(-2L, 1700400000L))
      else Nil
    val now = System.currentTimeMillis()
    for ((side, files) <- Seq("left" -> (left +: tail.map(_._1)),
        "right" -> (right +: tail.map(_._2))); (df, i) <- files.zipWithIndex)
      StreamingState.landFile(df, s"$root/$side/part-$i.parquet", now + i * 60000L)
  }

  /** Stream-stream join drain over the join landing (range = 10
    * minutes, so lags 0..10 match and 11..12 drop). One file per side =
    * one deterministic micro-batch; the batch oracle restates the join
    * with the range predicate in epoch seconds.
    */
  private def streamJoinDrain(s: SparkSession, dir: String): String = {
    val root = landing(s"$dir#ssjoin", "graft_ssjoin")(
      landJoinSides(s, dir, _, sentinels = false))
    val (out, cp) = runDirs(root)
    StreamingState.streamStreamJoinRunOnce(s, s"$root/left", s"$root/right",
      "doc_id", out, cp, rangeMaxSec = 600L)
    out
  }

  /** Left-outer stream-stream drain over the sentinel join landing.
    * Sentinel keys are negative so the query filters them back out.
    */
  private def streamJoinOuterDrain(s: SparkSession, dir: String): String = {
    val root = landing(s"$dir#ssjoinL", "graft_ssjoinl")(
      landJoinSides(s, dir, _, sentinels = true))
    val (out, cp) = runDirs(root)
    StreamingState.streamStreamJoinRunOnce(s, s"$root/left", s"$root/right",
      "doc_id", out, cp, rangeMaxSec = 600L, joinType = "leftOuter")
    out
  }

  /** JSON landing zone for the permissive-source query: the documents
    * digest as JSON lines plus ONE deterministic malformed line in a
    * sidecar file (truncated mid-object). Reading is side-effect-free
    * so the zone is reused across invocations, unlike the streaming
    * drains.
    */
  private def jsonLanding(s: SparkSession, dir: String): String =
    landing(s"$dir#json", "graft_json") { tmp =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .coalesce(1).write.json(s"$tmp/in")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$tmp/in/part-corrupt.json"),
        "{\"doc_id\": 999999999, \"lang\": \"en\", \"n_chars\"".getBytes("UTF-8"))
    } + "/in"

  /** One trained BPE codec per corpus dir per JVM: training is a pure
    * deterministic function of the documents table (top-word sample ->
    * seeded merge loop), so the cache is sound and the merge-table dump
    * (q_bpe_merges) is exactly what q_bpe_tokens / q_pack_bpe applied.
    */
  private val bpeModels =
    new java.util.concurrent.ConcurrentHashMap[String, graft.textops.BpeCodec]()
  private def bpeModel(s: SparkSession, dir: String): graft.textops.BpeCodec =
    bpeModels.computeIfAbsent(dir, _ =>
      graft.textops.Bpe.train(
        s.read.parquet(t(dir, "documents")), "text",
        numMerges = 200, minPairFreq = 2))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- extraction core (typed map; rows-only driver check, golden-gated in tests)
    "extract_e1_spans" -> ((s, dir) =>
      extractFlat(s, dir, Extract.Strategy.RegionClustering)),
    "extract_e2_spans" -> ((s, dir) =>
      extractFlat(s, dir, Extract.Strategy.SplitHeuristic)),
    "extract_e2mid_spans" -> ((s, dir) =>
      extractFlat(s, dir, Extract.Strategy.SplitMidpoint)),
    "extract_expr_spans" -> ((s, dir) => extractExprFlat(s, dir)),
    // ---- adversarial verification corpus: strategy divergence is
    // driver-oracled (E1 vs E2 row structure, incl. the prevX=0 quirk)
    "extract_e1_adv" -> ((s, _) =>
      extractFlatOf(s, SpanGen.adversarialDocs(s), Extract.Strategy.RegionClustering)),
    "extract_e2_adv" -> ((s, _) =>
      extractFlatOf(s, SpanGen.adversarialDocs(s), Extract.Strategy.SplitHeuristic)),
    "extract_e2mid_adv" -> ((s, _) =>
      extractFlatOf(s, SpanGen.adversarialDocs(s), Extract.Strategy.SplitMidpoint)),
    "extract_tables_csv" -> ((s, dir) => extractCsv(s, dir)),
    // ---- streaming surface: the same extraction as an incremental
    // Structured Streaming job — AvailableNow drain over a file source,
    // checkpointed exactly-once parquet sink — read back and flattened.
    // The core is one stateless Project, so streaming == batch and the
    // batch oracle verifies the streaming path externally. The corpus
    // landing-zone copy is cached per input dir (first call pays it),
    // but EVERY invocation runs a real AvailableNow drain into a fresh
    // checkpointed sink — a repeated/timed call measures streaming
    // execution, never a re-read of a previously drained sink.
    "extract_stream_spans" -> ((s, dir) => {
      val out = streamDrain(s, dir)
      s.read.parquet(out)
        .select(col("doc_id"), col("n_tables"), col("n_cells"), col("status"),
          explode(col("spans")).as("span"))
        .select(col("doc_id"), col("span.offset").as("offset"),
          col("span.kind").as("kind"), col("span.text").as("text"),
          col("span.media_ref").as("media_ref"),
          col("n_tables"), col("n_cells"), col("status"))
    }),
    // ---- K7: raw-boxes JSON debug dump (cmd/cli/main.go:75-81)
    "extract_boxes_debug" -> ((s, dir) =>
      graft.sinks.DebugBoxes.boxesJson(s, SpanGen.fromDocuments(s, dir).toDF())),

    // ---- S1/P8: scan + projection arithmetic (pushdown-friendly)
    "q_scan_project" -> ((s, dir) =>
      s.read.parquet(t(dir, "lineitem"))
        // no round(): IEEE multiply is bit-identical across engines,
        // while round-half implementations differ at 1 ulp
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net"))),

    // ---- P1: WORD-filter analog
    "q_filter_word" -> ((s, dir) =>
      s.read.parquet(t(dir, "events"))
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("value"))),

    // ---- F1: sha256 checksum (file.go:22-24)
    "q_sha2" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), sha2(col("text"), 256).as("checksum"))),

    // ---- J1: id-lookup join (broadcast hash)
    "q_join_lookup" -> ((s, dir) => {
      val o = s.read.parquet(t(dir, "orders"))
      val c = s.read.parquet(t(dir, "customer"))
      o.filter(col("o_totalprice") > 450000)
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
    }),

    // ---- S9: resume anti-join (customers with no events)
    "q_antijoin_resume" -> ((s, dir) => {
      val c = s.read.parquet(t(dir, "customer"))
      val e = s.read.parquet(t(dir, "events"))
      c.join(e, c("c_custkey") === e("user_id"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    // ---- A2/A3: ordered string-concat aggregation. Keyed per user so no
    // group aggregates unbounded state (grouping by the 5-value lang
    // column would buffer every doc_id of a language in one agg buffer —
    // a scale-killer at 100x).
    "q_concat_agg" -> ((s, dir) =>
      s.read.parquet(t(dir, "events"))
        .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
          col("event_id"), col("event_type"))
        .groupBy(col("user_id"))
        .agg(array_join(
          transform(
            sort_array(collect_list(struct(col("sec"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")),
          " ").as("events_concat"))),

    // ---- A5-A7: interval-union islands (gaps-and-islands over event windows)
    "q_islands_union" -> ((s, dir) => {
      val iv = s.read.parquet(t(dir, "events"))
        .select(col("user_id"), unix_timestamp(col("ts")).as("s"))
        .withColumn("e", col("s") + 3600)
      val w = Window.partitionBy("user_id").orderBy(col("s"), col("e"))
      val prevMax = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
      iv.withColumn("brk",
          when(prevMax.isNull || col("s") > prevMax, 1).otherwise(0))
        .withColumn("island",
          sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("s")).as("island_start"), max(col("e")).as("island_end"),
          count(lit(1)).as("n_iv"))
    }),

    // ---- W2: sessionization (row segmentation analog)
    "q_sessionize" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
        .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("sec"))
      val w = Window.partitionBy("user_id").orderBy(col("sec"), col("event_id"))
      ev.withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
        .withColumn("brk", when(col("gap").isNull || col("gap") > 1800, 1).otherwise(0))
        .withColumn("session", sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session"))
        .agg(count(lit(1)).as("n_events"), min(col("sec")).as("s_start"),
          max(col("sec")).as("s_end"))
    }),

    // ---- time-bucket resample with zero-fill: per-user daily event
    // counts over the user's OWN [first, last] day span, absent days
    // materialized as 0 — the gap-fill shape every time-series feature
    // pipeline needs; the day sequence explodes from the per-user span
    // row (bounded fan-out), never from a global calendar cross join
    "q_resample" -> ((s, dir) => {
      val perDay = s.read.parquet(t(dir, "events"))
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("n"))
      val days = perDay.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      days.join(perDay, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n"), lit(0L)).as("n_events"))
    }),

    // ---- WINDOWED ordered-funnel completion: view -> click ->
    // purchase within 7 days of the first view, strictly-increasing
    // timestamps (greedy earliest-first == chained-min, strict-> makes
    // ties irrelevant). Distinct from q_funnel's unwindowed join-chain
    // shape in BOTH semantics (conversion window) and plan: ONE
    // groupBy(user) shuffle + a record-local integer-us fold, vs three
    // keyed aggregations + two user-keyed joins
    "q_funnel_window" -> ((s, dir) =>
      graft.operators.Funnel.completion(
        s.read.parquet(t(dir, "events"))
          .select(col("user_id"), col("event_type"),
            expr("unix_micros(cast(ts as timestamp))").as("us")),
        "user_id", "event_type", "us",
        Seq("view", "click", "purchase"), windowUs = 604800000000L)),

    // ---- last-touch attribution: each purchase attributed to the
    // user's latest click at-or-before it — a direct AsOf.asofJoin
    // composition (one shuffle, O(1) window state), max-click_id
    // tiebreak at equal timestamps
    "q_attribution" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("unix_micros(cast(ts as timestamp))").as("us"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("us"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("us"), col("event_id").as("click_id"))
      graft.operators.AsOf.asofJoin(purchases, clicks,
        key = "user_id", time = "us", rightTiebreak = "click_id",
        rightPayload = "click_id", outCol = "attributed_click")
    }),

    // ---- DDSketch mergeable quantile sketch: log-spaced integer
    // buckets (micro-nat ln div precomputed width 20001 = alpha 0.01)
    // per event_type, p50/p90/p99 read back by integer-cross-multiplied
    // rank — the bounded-histogram quantile path that MERGES by adding
    // counts, vs the exact count-table construction's full shuffle
    "q_ddsketch" -> ((s, dir) => {
      val sk = graft.operators.DdSketch.sketch(
        s.read.parquet(t(dir, "events")).select(col("event_type"), col("value")),
        "event_type", "value")
      graft.operators.DdSketch.quantiles(sk, "event_type",
        Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
    }),

    // ---- event transition counts: per-user consecutive event-type
    // pairs under the (us, event_id) total order (the Markov/path
    // matrix over sessions); one window pass + one counts shuffle
    "q_event_transitions" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("unix_micros(cast(ts as timestamp))").as("us"))
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      ev.withColumn("dst_type", lead(col("event_type"), 1).over(w))
        .filter(col("dst_type").isNotNull)
        .groupBy(col("event_type").as("src_type"), col("dst_type"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    // ---- SCD2 validity intervals from a change log: runs of the same
    // per-user event_type compress to one row with [valid_from,
    // valid_to) from lag-change detection + lead; open current rows
    // flagged — the dimension-history build MERGE pipelines feed on
    "q_scd2" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_timestamp(col("ts")).as("sec"))
      val w = Window.partitionBy("user_id").orderBy(col("sec"), col("event_id"))
      ev.withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("valid_to", lead(col("sec"), 1).over(w))
        .select(col("user_id"), col("event_type"), col("sec").as("valid_from"),
          col("valid_to"), col("valid_to").isNull.as("is_current"))
    }),

    // ---- SCD2 point-in-time lookup: enrich each purchase event with
    // the state run (q_scd2's dimension) in effect at its timestamp —
    // the canonical consumer of a validity-interval dimension. Composed
    // as an as-of join on the run's valid_from (runs are non-overlapping
    // per user, so latest-start-before == covering interval); run-start
    // event_id breaks equal-valid_from ties identically in both engines
    "q_scd2_lookup" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_timestamp(col("ts")).as("sec"))
      val w = Window.partitionBy("user_id").orderBy(col("sec"), col("event_id"))
      val dim = ev.withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .select(col("user_id"), col("sec"), col("event_id"),
          col("event_type").as("st"))
      val probe = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("sec"))
      graft.operators.AsOf.asofJoin(probe, dim, key = "user_id",
        time = "sec", rightTiebreak = "event_id", rightPayload = "st",
        outCol = "state")
    }),

    // ---- funnel analysis: strictly-ordered view -> click -> purchase
    // stage times per user (each stage's min time AFTER the previous
    // stage's), nulls where the funnel stops — three keyed aggregations
    // + user-keyed joins, no window over the whole event stream
    "q_funnel" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
        .select(col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("sec"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("sec")).as("t_view"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("sec") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("sec")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("sec") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("sec")).as("t_purchase"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
    }),

    // ---- retention cohorts: users bucketed by first-active day, then
    // (cohort, day-offset) distinct-active counts — the activation/
    // retention triangle; act is pre-deduped so the count is exact
    "q_retention" -> ((s, dir) => {
      val act = s.read.parquet(t(dir, "events"))
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val cohort = act.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
      act.join(cohort, "user_id")
        .groupBy(col("cohort"),
          datediff(col("day"), col("cohort")).as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // ---- per-user EWMA (alpha=0.3) over time-ordered event values:
    // the recurrence folds LEFT over the (sec, event_id)-sorted value
    // list with the first value as seed — per-user state is one list
    // bounded by that user's event count, and the oracle's list_reduce
    // replays the identical accumulation (0.7 written as a literal,
    // never 1-0.3, which is a different double)
    "q_ewma" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("sec"), col("value"))
      ev.groupBy(col("user_id"))
        .agg(array_sort(collect_list(
          struct(col("sec"), col("event_id"), col("value")))).as("arr"))
        .select(col("user_id"),
          transform(col("arr"), _.getField("value")).as("vals"))
        .select(col("user_id"),
          size(col("vals")).cast("bigint").as("n_events"),
          aggregate(
            slice(col("vals"), lit(2), greatest(size(col("vals")) - 1, lit(0))),
            element_at(col("vals"), 1),
            (acc, x) => x * lit(0.3) + acc * lit(0.7)).as("ewma"))
    }),

    // ---- per-user OLS trend (distributed regression with
    // ORDER-INDEPENDENT sums): slope of value over time from the five
    // classic sufficient statistics — x is exact epoch seconds
    // (centered on 2024-01-01 so x^2 sums fit longs), y and x*y
    // quantized per term as floor(v * 2^20 + 0.5) longs (the Ivf/Pca
    // fixed-point discipline: integer sums cannot drift with shuffle
    // arrival order where float sums do), one IEEE expression at the
    // end that both engines replay. Degenerate groups (all events at
    // one second) are filtered on the EXACT integer determinant, not a
    // float comparison.
    "q_group_trend" -> ((s, dir) => {
      val S = 1048576.0 // 2^20
      val ev = s.read.parquet(t(dir, "events"))
        .select(col("user_id"),
          (unix_timestamp(col("ts")) - 1704067200L).as("xs"), col("value"))
        .withColumn("ys", floor(col("value") * S + 0.5))
        .withColumn("xys", floor(col("xs") * col("value") * S + 0.5))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("xs")).as("sx"), sum(col("xs") * col("xs")).as("sxx"),
          sum(col("ys")).as("sy"), sum(col("xys")).as("sxy"))
        .filter(col("n") * col("sxx") - col("sx") * col("sx") > 0)
        .select(col("user_id"), col("n").as("n_events"),
          ((d(col("sxy")) - d(col("sx")) * d(col("sy")) / d(col("n"))) /
            (d(col("sxx")) - d(col("sx")) * d(col("sx")) / d(col("n"))) / S)
            .as("slope"))
    }),

    // ---- per-user Pearson correlation of value vs time — the same
    // order-independent sufficient-statistics machinery as
    // q_group_trend plus the y^2 moment (per-term fixed-point on y^2 so
    // the sum is exact); corr = cov / (sd_x * sd_y) assembled in one
    // replayed IEEE expression; degenerate groups (constant x or
    // constant quantized y) filtered on EXACT integer determinants
    "q_group_corr" -> ((s, dir) => {
      // S = 2^10, smaller than the trend's 2^20: every MOMENT here is a
      // product of quantized longs (ys*ys, xs*ys), and 2^20 would push
      // sum(ys^2) past Long.MaxValue at this value range (<= 560.21,
      // ANSI mode would throw loudly). Single quantization — y_q =
      // floor(y*S+0.5) IS the series — so a constant series has an
      // EXACTLY zero variance (mixing y and y^2 quantizations instead
      // can go slightly negative and NaN the sqrt)
      val S = 1024.0 // 2^10
      val ev = s.read.parquet(t(dir, "events"))
        .select(col("user_id"),
          (unix_timestamp(col("ts")) - 1704067200L).as("xs"), col("value"))
        .withColumn("ys", floor(col("value") * S + 0.5))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("xs")).as("sx"), sum(col("xs") * col("xs")).as("sxx"),
          sum(col("ys")).as("sy"), sum(col("ys") * col("ys")).as("syy"),
          sum(col("xs") * col("ys")).as("sxy"),
          min(col("xs")).as("x0"), max(col("xs")).as("x1"),
          min(col("ys")).as("y0"), max(col("ys")).as("y1"))
        .filter(col("x0") < col("x1") && col("y0") < col("y1"))
        .select(col("user_id"), col("n").as("n_events"),
          ((d(col("sxy")) - d(col("sx")) * d(col("sy")) / d(col("n"))) /
            (sqrt(d(col("sxx")) - d(col("sx")) * d(col("sx")) / d(col("n"))) *
             sqrt(d(col("syy")) - d(col("sy")) * d(col("sy")) / d(col("n")))))
            .as("corr"))
    }),

    // ---- as-of join (composition: tag-union + one keyed window pass;
    // one shuffle, no range cross-product): each click matched to the
    // user's latest view at or before it
    "q_asof_join" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("sec"))
      val clicks = ev.filter(col("event_type") === "click").drop("event_type")
      val views = ev.filter(col("event_type") === "view").drop("event_type")
      graft.operators.AsOf.asofJoin(clicks, views,
          key = "user_id", time = "sec",
          rightTiebreak = "event_id", rightPayload = "event_id",
          outCol = "matched_view")
        .select(col("event_id"), col("user_id"), col("sec"), col("matched_view"))
    }),

    // ---- W1: running-max sweep (gap-detection analog: record highs)
    "q_running_max" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
        .select(col("user_id"), col("event_id"), col("value"),
          unix_timestamp(col("ts")).as("sec"))
      val w = Window.partitionBy("user_id").orderBy(col("sec"), col("event_id"))
      ev.withColumn("run_max",
          max(col("value")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .filter(col("run_max").isNull || col("value") > col("run_max"))
        .select(col("user_id"), col("event_id"), col("value"))
    }),

    // ---- E3/F5: pivot densification
    "q_pivot" -> ((s, dir) =>
      s.read.parquet(t(dir, "events"))
        .groupBy(col("user_id"))
        .agg(
          count(when(col("event_type") === "click", 1)).as("n_click"),
          count(when(col("event_type") === "view", 1)).as("n_view"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
          count(when(col("event_type") === "signup", 1)).as("n_signup"),
          count(when(col("event_type") === "error", 1)).as("n_error"))),

    // ---- J2/P5: containment theta-join (small side broadcast)
    "q_containment_join" -> ((s, dir) => {
      val sup = s.read.parquet(t(dir, "supplier"))
      val c = s.read.parquet(t(dir, "customer"))
      broadcast(sup).join(c,
          c("c_acctbal") >= sup("s_acctbal") - 500 &&
            c("c_acctbal") <= sup("s_acctbal") + 500)
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_cust"))
    }),

    // ---- range join, scale path: the same acctbal-window containment
    // as q_containment_join (which keeps the broadcast-NL baseline), but
    // via bucketed equi-join — the plan that survives two un-broadcastable
    // sides. Same oracle-checked output as the baseline.
    "q_range_join" -> ((s, dir) => {
      val sup = s.read.parquet(t(dir, "supplier"))
        .select(col("s_suppkey"), col("s_acctbal"),
          (col("s_acctbal") - 500).as("lo"), (col("s_acctbal") + 500).as("hi"))
      val cust = s.read.parquet(t(dir, "customer"))
        .select(col("c_custkey"), col("c_acctbal"))
      graft.operators.RangeJoin.pointInInterval(
          cust, "c_acctbal", sup, "lo", "hi", width = 500.0)
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_cust"))
    }),

    // ---- interval-overlap join (both sides have EXTENT, so neither
    // pointInInterval nor a broadcast-NL survives two big sides):
    // customers whose +-25 acctbal windows overlap, via bucketed
    // equi-join with first-shared-bucket pair dedup — a codegen'd
    // filter, not a distinct() second shuffle
    "q_overlap_join" -> ((s, dir) => {
      val c = s.read.parquet(t(dir, "customer"))
      val a = c.select(col("c_custkey").as("k_a"),
        (col("c_acctbal") - 25).as("lo_a"), (col("c_acctbal") + 25).as("hi_a"))
      val b = c.select(col("c_custkey").as("k_b"),
        (col("c_acctbal") - 25).as("lo_b"), (col("c_acctbal") + 25).as("hi_b"))
      graft.operators.RangeJoin.intervalOverlap(
          a, "lo_a", "hi_a", b, "lo_b", "hi_b", width = 50.0)
        .filter(col("k_a") < col("k_b"))
        .groupBy(col("k_a").as("c_custkey"))
        .agg(count(lit(1)).as("n_overlap"))
    }),

    // ---- optimizer-rule range join: the SAME raw theta join as
    // q_containment_join (no library call in sight), but through a
    // session with RangeJoinRule injected + the width conf set — the
    // rule rewrites the nested-loop shape into the bucketed equi-join
    // behind the user's back; oracle identical to the baseline
    "q_rangejoin_rule" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.experimental.extraOptimizations ++= Seq(graft.plans.RangeJoinRule)
      s2.conf.set(graft.plans.RangeJoinRule.WidthConf, "500.0")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sup = s2.read.parquet(t(dir, "supplier"))
      val c = s2.read.parquet(t(dir, "customer"))
      sup.join(c,
          c("c_acctbal") >= sup("s_acctbal") - 500 &&
            c("c_acctbal") <= sup("s_acctbal") + 500)
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_cust"))
    }),

    // ---- custom physical operator: broadcast stab-lookup interval
    // join — the stage-(c) tier (LogicalPlan + SparkStrategy +
    // SparkPlan, strategy injected at session level): interval side
    // sorted once + prefix-max-hi, each point binary-searches
    // (O(log m) vs BroadcastNestedLoopJoin's O(m) per row); same
    // result as q_range_join's bucketed shape, same oracle
    "q_interval_lookup" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.experimental.extraStrategies ++=
        Seq(graft.plans.PointIntervalJoinStrategy)
      val sup = s2.read.parquet(t(dir, "supplier"))
        .select(col("s_suppkey"),
          (col("s_acctbal") - 500).as("lo"), (col("s_acctbal") + 500).as("hi"))
      val cust = s2.read.parquet(t(dir, "customer"))
        .select(col("c_custkey"), col("c_acctbal"))
      graft.plans.PointIntervalJoin.lookup(cust, "c_acctbal", sup, "lo", "hi")
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_cust"))
    }),

    // ---- join surface: NULL-safe equi-join (<=>) — null keys match
    // each other (IS NOT DISTINCT FROM), the semantics record-linkage
    // on optional keys needs; stays a hash-joinable equality (null-safe
    // equality is still an equi-key), never a theta join
    "q_null_safe_join" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      val a = docs.select(col("doc_id"),
        when(col("doc_id") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("lang")).as("k"))
      val b = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("b_id"),
          when(col("doc_id") % 5 === 0, lit(null).cast("string"))
            .otherwise(col("lang")).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("b_n"))
      a.join(b, a("k") <=> b("k"))
        .select(col("doc_id"), a("k").as("k"), col("b_n"))
    }),

    // ---- dedup (exact): normalize + hash + group
    "q_dedup_exact" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .groupBy(sha2(lower(col("text")), 256).as("checksum"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dupes"))),

    // ---- text analysis: token count
    "q_text_tokens" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          size(split(col("text"), " ", -1)).cast("bigint").as("n_tokens"))),

    // ---- text analysis: positional fingerprint (rolling-hash analog)
    "q_text_fingerprint" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .withColumn("toks", split(col("text"), " ", -1))
        .select(col("doc_id"),
          (expr("aggregate(transform(sequence(1, size(toks)), i -> cast(i as bigint) * length(element_at(toks, i))), 0L, (acc, x) -> acc + x)")
            % 1000000007L).as("fp"))),

    // ---- text analysis: quality ratios
    "q_text_quality" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .withColumn("toks", split(col("text"), " ", -1))
        .select(col("doc_id"),
          round(size(col("toks")).cast("double") / col("n_chars"), 5).as("density"),
          size(filter(col("toks"), _ === "the")).cast("bigint").as("n_the"))),

    // ---- text analysis: stopword-profile language ID
    "q_text_langid" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), TextOps.langId(col("text")).as("pred_lang"))),

    // ---- text analysis: composite quality score (C4-style gates)
    "q_quality_score" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))),

    // ---- text analysis: BPE-ish token estimate
    "q_bpe_estimate" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), TextOps.bpeTokenEstimate(col("text")).as("n_bpe"))),

    // ---- text: REAL corpus-trained BPE. q_bpe_merges dumps the learned
    // merge table (model dump, identity-oracled except rank 1, which the
    // oracle re-derives from the corpus as the argmax adjacent codepoint
    // pair); q_bpe_tokens applies it through the codegen'd bpe_count
    // expression, and its oracle REPLAYS the dumped table bit-for-bit
    // with a recursive min-rank/leftmost merge loop in pure SQL.
    "q_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      bpeModel(s, dir).merges.toSeq.zipWithIndex
        .map { case ((l, r), i) => (i + 1L, l, r) }
        .toDF("rank", "left_sym", "right_sym")
    }),
    "q_bpe_tokens" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          graft.functions.GraftFunctions.bpeCount(
            s, col("text"), bpeModel(s, dir)).as("n_bpe"))),

    // ---- corpus: sequence packing with the REAL trained-BPE budget
    // (the whitespace-proxy q_pack_sequences stays as the cheap path)
    "q_pack_bpe" -> ((s, dir) =>
      graft.corpus.Packing.packSequences(
        s.read.parquet(t(dir, "documents")), "doc_id",
        graft.functions.GraftFunctions.bpeCount(
          s, col("text"), bpeModel(s, dir)),
        budget = 2048, groups = 8, salt = "pack")),

    // ---- dedup: exact n-gram Jaccard pairs (bounded id range)
    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(
        s.read.parquet(t(dir, "documents")).filter(col("doc_id") < 200),
        "doc_id", "text", n = 3, threshold = 0.05)),

    // ---- dedup: exact prefix-filtering similarity join (AllPairs/
    // PPJoin) — completeness-guaranteed, cap-free: the oracle is the
    // UNCAPPED brute-force Jaccard join, so a hash match proves the
    // rarest-first prefix candidate join lost no pair
    "q_prefix_join" -> ((s, dir) =>
      graft.dedup.PrefixJoin.prefixJaccardPairs(
        s.read.parquet(t(dir, "documents")).filter(col("doc_id") < 2000),
        "doc_id", "text", n = 3, threshold = 0.15)),

    // ---- linkage: dictionary-accelerated Jaro-Winkler fuzzy match —
    // distinct+count collapses the key domain before any pair scoring
    // (value-domain property, never a row-pair explosion); the score is
    // the native codegen'd jaro_winkler expression, DuckDB byte parity
    "q_fuzzy_names" -> ((s, dir) =>
      graft.operators.FuzzyJoin.jaroWinklerPairs(s,
        s.read.parquet(t(dir, "part")), "p_name", threshold = 0.9)),

    // ---- dedup: MinHash+LSH near-dups (banded; portable md5-derived
    // hash family, so the DuckDB oracle replays it exactly)
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashNearDups(
        s.read.parquet(t(dir, "documents")), "doc_id", "text",
        n = 3, k = 64, bands = 16, threshold = 0.5)),

    // ---- dedup: SimHash near-dups (portable md5-derived fingerprint,
    // DuckDB-oracled)
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashNearDups(s,
        s.read.parquet(t(dir, "documents")), "doc_id", "text", maxDist = 3)),

    // ---- dedup: the no-silent-caps audit itself, driver-verified —
    // buckets the LSH cap would drop, with sizes (cap=1 here so every
    // banded collision surfaces at test scale)
    "q_dedup_cap_audit" -> ((s, dir) =>
      Dedup.minhashDroppedBuckets(
        Dedup.minhashSignatures(
          s.read.parquet(t(dir, "documents")), "doc_id", "text", n = 3, k = 64),
        bands = 16, rowsPerBand = 4, maxBucketSize = 1)),

    // ---- dedup: passage-level exact-substring dedup — maximal runs of
    // 8-token windows duplicated across >= 2 docs, merged per doc into
    // (span_start, span_end, dup_group) via the islands pattern
    "q_dedup_substring" -> ((s, dir) =>
      graft.dedup.Substring.duplicatePassages(
        s.read.parquet(t(dir, "documents")), "doc_id", "text",
        windowTokens = 8, minDocFreq = 2)),

    // ---- dedup: the substring cap audit (anchors the hot-key guard
    // would drop; cap=2 here so the test corpus' df=3+ windows surface)
    "q_dedup_substr_audit" -> ((s, dir) =>
      graft.dedup.Substring.droppedAnchors(
        s.read.parquet(t(dir, "documents")), "doc_id", "text",
        windowTokens = 8, maxDocFreq = 2)),

    // ---- dedup: near-dup clustering (MinHash pairs -> connected
    // components via pointer-jumping min-label propagation; the grouping
    // stage that picks one canonical doc per near-dup cluster)
    "q_dedup_cluster" -> ((s, dir) =>
      Dedup.nearDupClusters(
        s.read.parquet(t(dir, "documents")), "doc_id", "text",
        n = 3, k = 64, bands = 16, threshold = 0.5)),

    // ---- the same clustering through the shape-probed chooser
    // (connectedComponentsAuto): a near-dup pair graph is dense blobs,
    // so the probe must land on pointer jumping — and either choice is
    // label-identical, which the shared recursive-CTE oracle gates
    "q_dedup_cluster_auto" -> ((s, dir) => {
      val (labels, _, _) = Rounds.cached(Dedup.minhashSignatures(
          s.read.parquet(t(dir, "documents")), "doc_id", "text", n = 3, k = 64)) { sigs =>
        Dedup.connectedComponentsAuto(
          Dedup.minhashPairs(sigs, k = 64, bands = 16, threshold = 0.5))
      }
      labels.withColumn("keep", col("doc_id") === col("cluster_id"))
    }),

    // ---- dedup ACTION: canonical-representative selection — per
    // near-dup cluster keep the best doc by (n_chars desc, doc_id asc)
    // rather than q_dedup_cluster's min-id convention (real pipelines
    // keep the highest-quality copy, not an arbitrary one); unclustered
    // docs are their own canonical. argmax via min(struct) — map-side
    // combinable, no window over members
    "q_cluster_canonical" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      val cc = Dedup.nearDupClusters(docs, "doc_id", "text",
        n = 3, k = 64, bands = 16, threshold = 0.5)
      val member = cc.select(col("doc_id"), col("cluster_id"))
        .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      val best = member.groupBy(col("cluster_id"))
        .agg(min(struct((-col("n_chars")).as("negq"), col("doc_id").as("id")))
          .as("b"))
        .select(col("cluster_id"), col("b.id").as("best_id"))
      val clustered = member.join(best, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"), col("n_chars"),
          (col("doc_id") === col("best_id")).cast("int").as("canonical"))
      val unclustered = docs.select(col("doc_id"), col("n_chars"))
        .join(cc.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("cluster_id"), col("n_chars"),
          lit(1).as("canonical"))
      clustered.unionByName(unclustered)
    }),

    // ---- temporal analytics: burstiness profile — per-user
    // inter-arrival gap stats in integer seconds (sum and sum-of-
    // squares fit longs to ~1e9-gap users); mean/variance/CV derive
    // from the integer sufficient statistics through one fixed IEEE
    // expression, so both engines compute them bit-identically
    "q_burstiness" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("sec"), col("event_id"))
      val gaps = s.read.parquet(t(dir, "events"))
        .select(col("user_id"), col("event_id"),
          // integral div — a double /1e6 could misround a whole-second
          // boundary before the floor
          expr("unix_micros(cast(ts as timestamp)) div 1000000L").as("sec"))
        .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
        .filter(col("gap").isNotNull)
      gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("gap")).as("gap_sum"),
          sum(col("gap") * col("gap")).as("gap_sumsq"))
        .select(col("user_id"), col("n_gaps"), col("gap_sum"), col("gap_sumsq"),
          (col("gap_sum").cast("double") / col("n_gaps")).as("gap_mean"),
          ((col("n_gaps") * col("gap_sumsq") - col("gap_sum") * col("gap_sum"))
            .cast("double") / (col("n_gaps") * col("n_gaps")).cast("double"))
            .as("gap_var"))
    }),

    // ---- data cleaning: group-median imputation — deterministically
    // seeded nulls (doc_id%9==0) filled with the per-language exact
    // median of the NON-null values (type-1 quantile construction)
    "q_impute_median" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("lang"),
          when(col("doc_id") % 9 === 0, lit(null).cast("long"))
            .otherwise(col("n_chars")).as("v"))
      val med = graft.corpus.Quantiles
        .discreteQuantiles(docs.filter(col("v").isNotNull), "lang", "v", Seq(0.5))
        .select(col("lang"), col("q_value").as("med"))
      docs.join(broadcast(med), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("v"),
          coalesce(col("v"), col("med")).as("v_imputed"),
          col("v").isNull.cast("int").as("was_imputed"))
    }),

    // ---- data cleaning: percentile winsorization — clamp n_chars
    // into the per-language [p05, p95] band (exact type-1 quantiles
    // from the count-table construction, broadcast back); the heavy-
    // tail tamer before any mean-based stat
    "q_winsorize" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val qs = graft.corpus.Quantiles
        .discreteQuantiles(docs, "lang", "n_chars", Seq(0.05, 0.95))
        .groupBy(col("lang"))
        .agg(min(when(col("q") === 0.05, col("q_value"))).as("lo"),
          min(when(col("q") === 0.95, col("q_value"))).as("hi"))
      docs.join(broadcast(qs), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          least(greatest(col("n_chars"), col("lo")), col("hi"))
            .as("n_chars_wins"))
    }),

    // ---- graph: neighbor feature propagation — per doc the mean
    // n_chars of its linked neighbors (the GNN message-passing /
    // feature-smoothing primitive): integer sums + one division, one
    // edge-keyed shuffle
    "q_graph_featprop" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("n_chars"))
      val withCnt = docs.select(col("doc_id"))
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("cnt"))))
      val ed = withCnt.select(col("doc_id").as("src"),
        explode(array(
          (col("doc_id") * 31 + 97) % col("cnt"),
          (col("doc_id") * 31 + 194) % col("cnt"),
          (col("doc_id") * 31 + 291) % col("cnt"))).as("dst"))
      val e = ed.unionByName(
          ed.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
      e.join(docs.withColumnRenamed("doc_id", "dst"), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(count(lit(1)).as("deg"), sum(col("n_chars")).as("nb_sum"))
        .withColumn("nb_mean",
          col("nb_sum").cast("double") / col("deg"))
    }),

    // ---- corpus construction: EXACT-size proportional mixture —
    // largest-remainder (Hamilton) apportionment of 200 seats over the
    // (lang, source) shares, then the quota lowest-hash docs per group;
    // rate sampling wobbles binomially, a budgeted run must not
    "q_mix_exact" -> ((s, dir) =>
      graft.corpus.Allocation.proportionalSelect(
        s.read.parquet(t(dir, "documents"))
          .select(col("doc_id"), col("lang")),
        "lang", "doc_id", total = 200L)),

    // ---- corpus construction: DSIR importance-resampling selection —
    // "make the crawl look like the target": hashed-unigram (1024
    // buckets) log-likelihood-ratio weights in integer MICRO-NATS
    // (exact BIGINT dot product, order-immune), target = lang='en',
    // top-100 by (weight desc, doc_id) via distributed TakeOrdered
    "q_dsir_select" -> ((s, dir) =>
      graft.corpus.Dsir.selectTop(
        s.read.parquet(t(dir, "documents"))
          .select(col("doc_id"), col("lang"), col("text")),
        "doc_id", "text", isTarget = col("lang") === "en", n = 100)),

    // ---- interleaved multimodal: figure→caption association — each
    // media span pairs with its nearest text span (following first,
    // else preceding) in ONE per-doc window pass, O(1) state; the
    // oracle replays the quadratic media×text min-join the engine
    // avoids. Pre-media decoration (an extra media span at offset -1
    // for doc n%3==0) exercises the 'next' arm — the synthesized corpus
    // otherwise always closes with media, which only exercises 'prev'
    "q_caption_assoc" -> ((s, dir) => {
      val sp = SpanGen.fromDocuments(s, dir).toDF()
        .select(col("doc_id"), explode(col("spans")).as("sp"))
        .select(col("doc_id"), col("sp.offset").as("offset"),
          col("sp.kind").as("kind"), col("sp.text").as("text"),
          col("sp.media_ref").as("media_ref"))
      val pre = sp.select(col("doc_id")).distinct()
        .filter(substring(col("doc_id"), 5, 100).cast("long") % 3 === 0)
        .select(col("doc_id"), lit(-1).as("offset"), lit("media").as("kind"),
          lit("").as("text"), concat(lit("media://pre/"), col("doc_id")).as("media_ref"))
      graft.corpus.Interleave.captionAssoc(sp.unionByName(pre),
        "doc_id", "offset", "kind", "text", "media_ref")
    }),

    // ---- interleaved multimodal: MULTIMODAL-COST sequence packing —
    // media spans charge a fixed 16-token vision budget, text spans
    // their whitespace tokens; per-doc costs aggregate once from the
    // span table and feed the standard deterministic pack layout
    // (Packing's explicit token-count seam) at budget 2048 x 8 streams
    "q_interleave_pack" -> ((s, dir) => {
      val cost = SpanGen.fromDocuments(s, dir).toDF()
        .select(expr("cast(substring(doc_id, 5, 100) as long)").as("doc_id"),
          explode(col("spans")).as("sp"))
        .select(col("doc_id"),
          when(col("sp.kind") === "media", lit(16L))
            .otherwise(graft.textops.TextOps.tokenCount(col("sp.text"))).as("cost"))
        .groupBy("doc_id").agg(sum(col("cost")).as("mm_tokens"))
      graft.corpus.Packing.packSequences(cost, "doc_id", col("mm_tokens"),
        budget = 2048, groups = 8, salt = "mmpack")
    }),

    // ---- interleaved multimodal: caption-pair FILTER — the CLIP-style
    // pair gate without the model: keep = has a caption, 3..64 caption
    // tokens, contains a lowercase letter; emitted as a flag so the
    // drop set stays auditable (no silent cuts)
    "q_caption_filter" -> ((s, dir) => {
      val sp = SpanGen.fromDocuments(s, dir).toDF()
        .select(col("doc_id"), explode(col("spans")).as("sp"))
        .select(col("doc_id"), col("sp.offset").as("offset"),
          col("sp.kind").as("kind"), col("sp.text").as("text"),
          col("sp.media_ref").as("media_ref"))
      val pairs = graft.corpus.Interleave.captionAssoc(sp,
        "doc_id", "offset", "kind", "text", "media_ref")
      val nTok = when(col("cap_text").isNull, lit(0L))
        .otherwise(graft.textops.TextOps.tokenCount(col("cap_text")))
      pairs.select(col("doc_id"), col("media_offset"), col("media_ref"),
        col("cap_dir"), nTok.as("n_cap_tokens"),
        (col("cap_dir") =!= "none" && nTok.between(3, 64) &&
          coalesce(col("cap_text"), lit("")).rlike("[a-z]")).as("keep"))
    }),

    // ---- boilerplate: per-source positional header/footer template
    // strip — a line in the first/last 2 lines of >=30% (integer
    // cross-multiplied) of one source's docs is that site's template;
    // complements q_line_dedup's global-frequency cut. 60% of docs get
    // a per-source banner+footer so detection has signal and 40%
    // verify the no-false-positive side
    "q_header_footer" -> ((s, dir) =>
      graft.dedup.Boilerplate.headerFooterStrip(
        withSiteTemplates(s.read.parquet(t(dir, "documents"))),
        "doc_id", "source", "t")),

    // ---- boilerplate: the template AUDIT — which (source, line,
    // side) templates the strip WILL cut, with doc counts: the
    // inspect-before-delete surface (same no-silent-action discipline
    // as the LSH cap audits)
    "q_boiler_audit" -> ((s, dir) =>
      graft.dedup.Boilerplate.templateAudit(
        withSiteTemplates(s.read.parquet(t(dir, "documents"))),
        "doc_id", "source", "t")),

    // ---- corpus construction: dedup-AWARE k-fold split — the
    // train/test-leakage guard: folds hash the near-dup CLUSTER id
    // (not the doc id), so paraphrase/boilerplate near-duplicates can
    // never straddle a train/eval boundary; singletons hash their own
    // id. Deterministic (portable hash), stratification-free by design
    "q_fold_assign" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      val cc = Dedup.nearDupClusters(docs, "doc_id", "text",
        n = 3, k = 64, bands = 16, threshold = 0.5)
      docs.select(col("doc_id"))
        .join(cc.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("unit_id"))
        .withColumn("fold",
          graft.PortableHash.md5Hash60(
            concat(lit("fold:"), col("unit_id").cast("string"))) % 5)
    }),

    // ---- analytics: percentile-rank normalization — per-language
    // percent_rank + cume_dist of n_chars under a UNIQUE (n_chars,
    // doc_id) order, so both built-ins reduce to exact rank arithmetic
    // ((rn-1)/(n-1), rn/n) any IEEE engine replays
    "q_percentile_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
    }),

    // ---- semi-structured: JSON property extraction from the events
    // props column — path extraction stays record-local inside
    // whole-stage codegen (no parse-to-struct materialization)
    "q_json_props" -> ((s, dir) =>
      s.read.parquet(t(dir, "events"))
        .select(col("event_id"), col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))),

    // ---- ANN: brute-force cosine top-k (exact baseline)
    "q_ann_topk" -> ((s, dir) =>
      Ann.bruteForceTopK(
        s.read.parquet(t(dir, "embeddings")), "vec_id", "embedding",
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)),

    // ---- ANN: Matryoshka two-stage retrieval — coarse rank over the
    // first 16 embedding dims (the MRL nested-representation prefix),
    // top-50 shortlist, full-dim exact rerank: the candidate pass
    // touches 1/4 of every vector, the full vectors only 50/query
    "q_ann_matryoshka" -> ((s, dir) =>
      Ann.matryoshkaTopK(
        s.read.parquet(t(dir, "embeddings")), "vec_id", "embedding",
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10,
        coarseDims = 16, shortlist = 50)),

    // ---- ANN: exact MIPS top-k with Cauchy-Schwarz norm-bound pruning
    // — dot products computed only for the 64 highest-norm items plus
    // the tail rows whose |x||q| clears the per-query k-th-best bound;
    // output bit-identical to brute force (the oracle IS brute force)
    "q_mips_topk" -> ((s, dir) =>
      Ann.mipsTopK(
        s.read.parquet(t(dir, "embeddings")), "vec_id", "embedding",
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10, normPrefix = 64)),

    // ---- ANN: MIPS prune audit — per query, head items scored, tail
    // items pruned without a dot product, tail items scored (the
    // no-silent-caps posture: the work-saving claim is itself oracled)
    "q_mips_prune_audit" -> ((s, dir) =>
      Ann.mipsPruneAudit(
        s.read.parquet(t(dir, "embeddings")), "vec_id", "embedding",
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10, normPrefix = 64)),

    // ---- embedding analytics: JL random projection 64 -> 16 dims —
    // the data-independent reduction (no training pass; one broadcast
    // map; a row's projection never changes as the corpus grows).
    // Emitted one scalar row per output dimension (vec_id, b, x): the
    // driver compare cannot hash array-typed columns
    "q_random_project" -> ((s, dir) =>
      Ann.randomProject(s,
        s.read.parquet(t(dir, "embeddings")), "vec_id", "embedding",
        k = 16, seed = 42L)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("b", "x")))),

    // ---- embedding analytics: PCA top-component projection — one
    // fixed-point covariance shuffle (d^2 partial sums per partition),
    // a driver-side 64x64 power-iteration eigen step, and a broadcast
    // projection map; no vector leaves its executor un-reduced
    "q_pca_project" -> ((s, dir) =>
      graft.ann.Pca.project(s,
        s.read.parquet(t(dir, "embeddings")), "vec_id", "embedding", iters = 5)),

    // ---- embedding analytics: top-2 PCA via Hotelling deflation —
    // the distributed pass (mean + covariance) runs ONCE regardless of
    // k; each further component is driver-side d x d arithmetic
    "q_pca2_project" -> ((s, dir) =>
      graft.ann.Pca.project2(s,
        s.read.parquet(t(dir, "embeddings")), "vec_id", "embedding", iters = 5)),

    // ---- ANN: LSH-bucketed top-k (scale path; portable md5-derived
    // hyperplanes, DuckDB-oracled)
    "q_ann_lsh" -> ((s, dir) =>
      Ann.lshTopK(s,
        s.read.parquet(t(dir, "embeddings")), "vec_id", "embedding",
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)),

    // ---- ANN: IVF coarse-quantizer top-k (scale path; deterministic
    // fixed-point k-means, DuckDB-oracled)
    "q_ann_ivf" -> ((s, dir) =>
      graft.ann.Ivf.topK(s,
        s.read.parquet(t(dir, "embeddings")), "vec_id", "embedding",
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10,
        nList = 16, nProbe = 4, iters = 3)),

    // ---- ANN: product-quantization ADC top-k (the compression scale
    // path: M=4 byte codes per 64-dim vector, LUT adds at query time —
    // 10^9 vectors' codes fit where the raw vectors never could)
    "q_ann_pq" -> ((s, dir) =>
      graft.ann.Pq.topK(s,
        s.read.parquet(t(dir, "embeddings")), "vec_id", "embedding",
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10,
        numSub = 4, kSub = 8, iters = 2)),

    // ---- ANN: IVFADC composition — IVF bounds WHICH items are scored
    // (nProbe/nList of the corpus), PQ bounds WHAT is read per item
    // (M code bytes); the production ANN layout at 10^9+ vectors
    "q_ann_ivfpq" -> ((s, dir) =>
      graft.ann.Pq.topKIvf(s,
        s.read.parquet(t(dir, "embeddings")), "vec_id", "embedding",
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10,
        nList = 16, nProbe = 4, ivfIters = 3,
        numSub = 4, kSub = 8, pqIters = 2)),

    // ---- dedup: SemDeDup-style semantic dedup — IVF clusters bound
    // the pairwise term (sum-of-cluster^2, never n^2), eps-connected
    // groups keep their min-id representative
    "q_semantic_dedup" -> ((s, dir) =>
      graft.ann.Ivf.semanticDedup(s,
        s.read.parquet(t(dir, "embeddings")), "vec_id", "embedding",
        eps = 0.3, nList = 16, iters = 3)),

    // ---- dedup: embedding-cosine near-dup pairs (bounded exact)
    "q_ann_neardup" -> ((s, dir) =>
      Ann.cosineNearDupPairs(
        s.read.parquet(t(dir, "embeddings")), "vec_id", "embedding",
        threshold = 0.3, maxId = 300)),

    // ---- multimodal: binary round-trip — REAL ImageIO decode for
    // png/jpg payloads (dims from the decoder, format from the magic),
    // real ISO BMFF box walk for mp4 (tkhd dims, stts frame count)
    "q_media_meta" -> ((s, dir) =>
      Media.decode(Media.synthesize(s, dir))
        .select(col("doc_id"), col("width"), col("height"),
          col("n_frames"), col("format"), col("decode_ok"))),

    // ---- audio decode: REAL RIFF/PCM WAV bytes round-tripped through
    // the chunk-walking parser — rate/channels/duration from the
    // payload header, never the metadata row
    "q_audio_meta" -> ((s, dir) =>
      graft.media.Wav.decode(graft.media.Wav.synthesize(s, dir))),

    // ---- audio features: fixed-window integer energy + peak over the
    // decoded PCM — the audio analog of frame sampling (silence trim /
    // loudness bucket inputs); exact integer sums, record-local fan-out
    "q_audio_energy" -> ((s, dir) =>
      graft.media.Wav.windowEnergy(graft.media.Wav.synthesize(s, dir),
        window = 256)),

    // ---- multimodal: perceptual-hash (dHash) image near-dup — the
    // fingerprint comes from DECODED PIXELS of real PNG payloads
    // (ImageIO round-trip), banded as 4x16-bit chunks with the simhash
    // bucket cap, exact 64-bit Hamming rerank. The fixture plants per
    // content key (doc_id div 4) an exact-hash duplicate (uniform
    // brightness shift — dHash-invariant), a localized stripe edit
    // (single-chunk by construction) and an unrelated image.
    "q_phash_neardup" -> ((s, dir) =>
      graft.media.Phash.nearDups(
        graft.media.Phash.synthesizeVariants(s, dir), maxDist = 8)),

    // ---- source: binaryFile ingestion — the multimodal LANDING path.
    // Raw blobs live as objects/files, not parquet cells; Spark's
    // binaryFile source scans them file-per-task with path/length
    // metadata for free (at 100 TB: object-store listing partitioned
    // across executors, pathGlobFilter pruning before any byte is
    // read). A deterministic %17 sample of the synthetic blobs is
    // landed as .bin files once per dir (executor-side writes — the
    // fixture stand-in for the upstream system that owns the bucket);
    // the query re-ingests them and runs the real ImageIO/container
    // decode, proving bytes survive the file round-trip. The oracle is
    // the decode-invertibility arithmetic, q_media_meta's, on the
    // sampled ids.
    "q_binary_source" -> ((s, dir) => {
      val root = landing(s"$dir#binary", "graft_bin") { tmp =>
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(s"$tmp/in"))
        Media.synthesize(s, dir, col("doc_id") % 17 === 0)
          .foreachPartition { (it: Iterator[graft.media.Media.MediaBlob]) =>
            it.foreach { b =>
              java.nio.file.Files.write(
                java.nio.file.Paths.get(s"$tmp/in/${b.doc_id}.bin"),
                b.content)
            }
          }
      }
      import s.implicits._
      val blobs = s.read.format("binaryFile").load(s"$root/in")
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .map { case (p, c) =>
          val id = p.substring(p.lastIndexOf('/') + 1)
            .stripSuffix(".bin").toLong
          // metadata fields deliberately blank: decode trusts bytes only
          graft.media.Media.MediaBlob(id, p, "", -1, -1, -1, c)
        }
      Media.decode(blobs)
        .select(col("doc_id"), col("width"), col("height"),
          col("n_frames"), col("format"), col("decode_ok"))
    }),

    // ---- J1+: multi-way dimension join + grouped aggregation over the
    // remaining driver tables (customer ⋈ nation ⋈ region, supplier and
    // part counted per nation) — both dims broadcast, one shuffle for
    // the final groupBy; the balance sum is exact BIGINT cents
    // (floor(x*100 + 0.5) is identical IEEE arithmetic in both engines),
    // so no DECIMAL/float column ever reaches the driver's comparator —
    // round 2's hash mismatch was that comparator coercing Spark's
    // decimal(28,2) and DuckDB's float64 sum differently
    "q_multi_join" -> ((s, dir) => {
      val cust = s.read.parquet(t(dir, "customer"))
      val nat = s.read.parquet(t(dir, "nation"))
      val reg = s.read.parquet(t(dir, "region"))
      val sup = s.read.parquet(t(dir, "supplier"))
        .groupBy(col("s_nationkey").as("n_nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      cust.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(sup), Seq("n_nationkey"), "left")
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(floor(col("c_acctbal") * 100 + 0.5)).cast("long").as("acctbal_cents"),
          coalesce(first(col("n_supp")), lit(0L)).as("n_supp"))
    }),

    // ---- composite: the full corpus-cleaning pipeline in one query —
    // language ID + quality gates, exact-dedup canonical keep, then a
    // deterministic 50% sample. Demonstrates the operators compose into
    // the training-data-cleaning job a user actually runs.
    "q_corpus_clean" -> ((s, dir) => {
      // single-pass composition: score once (bySplits spreads the
      // under-split scan before the CPU-heavy HOFs), canonicalize exact
      // dups with a window min over the checksum — only fixed-width
      // columns ride the one shuffle (text is dropped before it) —
      // then the shuffle-free hash-sample filter. The previous
      // exactGroups + semi-join shape referenced `scored` twice and
      // re-ran the scoring expressions over the whole corpus
      val scored = graft.Parallelize.bySplits(
          s.read.parquet(t(dir, "documents")).select(col("doc_id"), col("text")),
          "doc_id")
        .select(col("doc_id"),
          sha2(lower(trim(col("text"))), 256).as("checksum"),
          TextOps.langId(col("text")).as("pred_lang"),
          // fenced, so the quality/langid filter stays above this Project:
          // predicate pushdown otherwise substitutes the full scoring
          // expressions into a filter BELOW the spread exchange, running
          // the whole quality/langid computation inside the one scan task
          // (measured a 1.5 s single-task stage) and re-evaluating it
          // above for the output columns
          fence(TextOps.qualityScore(col("text"))).as("quality"),
          TextOps.tokenCount(col("text")).as("n_tokens"))
        .filter(col("quality") >= 0.5 && col("pred_lang") =!= "und")
      val canonical = scored
        .withColumn("keep_id",
          min(col("doc_id")).over(Window.partitionBy(col("checksum"))))
        .filter(col("doc_id") === col("keep_id"))
      graft.corpus.Sampling.hashSample(canonical, "doc_id", rate = 0.5, salt = "clean")
        .select(col("doc_id"), col("pred_lang"), col("quality"), col("n_tokens"))
    }),

    // ---- multimodal: resize — real ImageIO scaled re-encode for
    // images, container re-encode with the target track dims for mp4 —
    // verified by re-decoding the resized BYTES (dims from the payload)
    "q_media_resize" -> ((s, dir) =>
      Media.decode(Media.resize(Media.synthesize(s, dir), 128, 96))
        .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
          col("format"), col("decode_ok"))),

    // ---- multimodal: frame sampling (every 3rd frame as its own blob).
    // Video only: a still image is its single frame, and real image
    // payload sizes are codec-dependent — only the mp4 container's
    // fixed box-structure + payload byte contract is SQL-expressible
    "q_media_frames" -> ((s, dir) =>
      Media.frameSample(
          // formatOf(id) == "mp4" <=> doc_id % 3 == 2: the id predicate
          // prunes before the codec map (see Media.synthesize), the
          // format filter stays as the semantic guard
          Media.synthesize(s, dir, col("doc_id") % 3 === 2)
            .filter(col("format") === "mp4"), stride = 3)
        .select(col("doc_id"), col("frame_idx"), length(col("content")).as("n_bytes"))),

    // ---- corpus: shuffle-free deterministic sample (portable
    // md5-derived hash threshold; pure filter in the scan stage)
    "q_sample_hash" -> ((s, dir) =>
      graft.corpus.Sampling.hashSample(
        s.read.parquet(t(dir, "documents")), "doc_id", rate = 0.2)
        .select(col("doc_id"), col("lang"))),

    // ---- corpus: domain-mixture sample (per-language rates — the
    // data-mixing knob; shuffle-free, threshold folded into the scan)
    "q_sample_mixture" -> ((s, dir) =>
      graft.corpus.Sampling.mixtureSample(
        s.read.parquet(t(dir, "documents")), "lang", "doc_id",
        rates = Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.1),
        defaultRate = 0.05)
        .select(col("doc_id"), col("lang"))),

    // ---- corpus: deterministic train/val/test split (disjoint hash
    // ranges; a doc's membership never changes as the corpus grows)
    "q_split" -> ((s, dir) =>
      graft.corpus.Sampling.split(
        s.read.parquet(t(dir, "documents")).select(col("doc_id"), col("lang")),
        "doc_id", Seq("train", "val", "test"), Seq(0.8, 0.1, 0.1))),

    // ---- corpus: exact stratified sample (ceil(frac*|stratum|) per
    // lang, portable-hash order; one shuffle on the stratum key)
    "q_sample_stratified" -> ((s, dir) =>
      graft.corpus.Sampling.stratifiedExact(
        s.read.parquet(t(dir, "documents")), "lang", "doc_id", frac = 0.1)
        .select(col("doc_id"), col("lang"))),

    // ---- corpus: benchmark decontamination (GPT-3-style eval-overlap
    // filter). The corpus has no separate benchmark table, so a
    // deterministic 10% portable-hash split plays the benchmark and the
    // remaining 90% the corpus — the oracle replays split, shingle
    // hashes, and hit counts exactly. n=5 so the synthetic corpus's
    // cross-doc repetition actually produces hits
    "q_decontaminate" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      val isBench =
        graft.PortableHash.salted60(col("doc_id"), "bench") % 1000000L < 100000L
      graft.corpus.Decontaminate.contaminationHits(
        docs.filter(!isBench), docs.filter(isBench),
        "doc_id", "text", "doc_id", "text", n = 5, minHits = 1)
    }),

    // ---- corpus analytics: top-k frequent trigrams per language
    // (WindowGroupLimit rank pushdown bounds the per-group window
    // map-side — never one language's full distinct-shingle set)
    "q_ngram_topk" -> ((s, dir) =>
      graft.corpus.CorpusStats.topShinglesPerGroup(
        s.read.parquet(t(dir, "documents")), "lang", "text", n = 3, k = 20)),

    // ---- corpus analytics: TF-IDF term weights (rank-free projection
    // — raw score values canonicalize safely; ranking is a consumer
    // view via CorpusStats.topTermsPerDoc)
    "q_tfidf" -> ((s, dir) =>
      graft.corpus.CorpusStats.tfidf(
        s.read.parquet(t(dir, "documents")), "doc_id", "text", minTf = 3)),

    // ---- retrieval: sparse lexical top-k similar docs — idf-weighted
    // integer dot product over the inverted-index self-join (the
    // embedding-free related-documents query); [2, 100] df band bounds
    // postings fan-out, canonical pairs mirrored post-agg, rank-limit
    // window pushed down as WindowGroupLimit
    "q_lexical_topk" -> ((s, dir) =>
      graft.corpus.LexicalSim.topKSimilar(
        s.read.parquet(t(dir, "documents")), "doc_id", "text",
        k = 5, minDf = 2L, dfCap = 100L)),

    // ---- text analysis: token entropy + type-token ratio (lexical
    // diversity) per document — the Shannon entropy folds LEFT over the
    // TOKEN-SORTED (token, count) list (the q_bm25 discipline), so the
    // oracle replays the float accumulation exactly; ratios are one
    // double division each
    "q_text_entropy" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          array_sort(collect_list(struct(col("token"), col("cnt")))).as("parts"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          (col("n_types").cast("double") / col("n_tokens")).as("ttr"),
          // ln discretized to micro-nats like q_bm25's idf: StrictMath
          // and libm disagree by 1 ulp on some arguments, and entropy
          // evaluates ln over many distinct p values per corpus
          (-aggregate(col("parts"), lit(0.0), (acc, x) =>
            acc + (x.getField("cnt") / col("n_tokens")) *
              (floor(log(x.getField("cnt") / col("n_tokens")) * lit(1000000.0) +
                lit(0.5)) / lit(1000000.0)))).as("entropy"))),

    // ---- corpus analytics: BM25 retrieval scores for a fixed query
    // (term-partitioned inverted-index probe: the query-term filter
    // lands on the token stream, so only 3 terms' postings shuffle;
    // rank-free for the q_tfidf ln()-ulp reason)
    "q_bm25" -> ((s, dir) =>
      graft.corpus.CorpusStats.bm25(
        s.read.parquet(t(dir, "documents")), "doc_id", "text",
        queryTerms = Seq("hash", "join", "stream"))),

    // ---- dedup family: winnowing fingerprints (SIGMOD 2003 local
    // fingerprinting — any shared run of >= w+k-1 tokens across docs
    // shares a fingerprint; ~1/w density, record-local selection)
    "q_winnow" -> ((s, dir) =>
      graft.dedup.Winnow.fingerprints(
        s.read.parquet(t(dir, "documents")), "doc_id", "text", k = 4, w = 4)),

    // ---- dedup family: local-overlap candidate pairs from winnowing
    // fingerprints (docs sharing passages, not whole-doc similarity)
    "q_winnow_pairs" -> ((s, dir) =>
      graft.dedup.Winnow.candidatePairs(
        graft.dedup.Winnow.fingerprints(
          s.read.parquet(t(dir, "documents")), "doc_id", "text", k = 4, w = 4),
        minShared = 2)),

    // ---- corpus: token-budget selection (greedy quality-ranked prefix
    // under a total token budget — the "which tokens do we train on"
    // cut; one global sort + running sum). Score is floor(quality*1e4)
    // so the ordering is integer-exact across engines (raw double
    // ordering could flip near-ties the .12g oracle canon can't see)
    "q_budget_select" -> ((s, dir) =>
      graft.corpus.BudgetSelect.selectUnderBudget(
        s.read.parquet(t(dir, "documents"))
          .select(col("doc_id"),
            TextOps.tokenCount(col("text")).as("n_tokens"),
            floor(TextOps.qualityScore(col("text")) * 10000).cast("long")
              .as("qscore")),
        "doc_id", "n_tokens", "qscore", budget = 20000L)),

    // ---- corpus: fill-in-the-middle split — two portable-hash cut
    // points in [0, n] divide each doc into (prefix, middle, suffix),
    // any segment may be empty (exactly like sampled FIM cuts);
    // record-local, zero shuffles, reproducible per doc
    "q_fim_split" -> ((s, dir) =>
      graft.corpus.Augment.fimSplit(
        s.read.parquet(t(dir, "documents")).select(col("doc_id"), col("text")),
        "doc_id", "text")),

    // ---- corpus: contrastive crop pairs — two independent
    // hash-derived 24-token windows per doc (ICT/Contriever positives);
    // record-local, zero shuffles, whole doc when shorter
    "q_crop_pairs" -> ((s, dir) =>
      graft.corpus.Augment.contrastiveCrops(
        s.read.parquet(t(dir, "documents")).select(col("doc_id"), col("text")),
        "doc_id", "text", cropLen = 24)),

    // ---- corpus: context-window chunking (overlapping token windows —
    // the step between cleaning and sequence packing; record-local,
    // zero shuffles)
    "q_chunk_docs" -> ((s, dir) =>
      graft.corpus.Chunking.chunk(
        s.read.parquet(t(dir, "documents")), "doc_id", "text",
        maxTokens = 40, overlap = 8)),

    // ---- text analysis: repetition gate (duplicate-shingle fraction)
    "q_text_repetition" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          TextOps.repetitionScore(col("text")).as("rep_frac"))),

    // ---- text analysis: PII/URL scrub. The corpus has no PII, so a
    // deterministic contact line (email + URL + phone + IP per doc) is
    // appended in-query before scrubbing — the oracle replays both the
    // append and the scrub, so every replacement branch is exercised
    "q_text_scrub" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          TextOps.scrubPii(concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com via https://site.example/"),
            col("doc_id").cast("string"),
            lit("/page or +1 (555) 010-4477 at 10.20.30.42 x"))).as("scrubbed"))),

    // ---- sketch: KMV distinct-count estimate of per-language
    // vocabulary size (engine-portable by construction — the DuckDB
    // oracle replays the estimate bit-for-bit, which no HLL can)
    "q_sketch_distinct" -> ((s, dir) =>
      graft.operators.Kmv.distinctPerGroup(
        s.read.parquet(t(dir, "documents"))
          .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok")),
        "lang", "tok", k = 200)),

    // ---- corpus: context-window sequence packing (training-batch
    // layout; portable-hash streams + windowed cumsum, one bounded
    // shuffle — the greedy streaming approximation of bin packing)
    "q_pack_sequences" -> ((s, dir) =>
      graft.corpus.Packing.packSequences(
        s.read.parquet(t(dir, "documents")), "doc_id", "text",
        budget = 4096, groups = 8)),

    // ---- corpus: packing-efficiency audit — per-pack occupancy,
    // straddle overflow, and can-never-fit oversize docs over the
    // q_pack_sequences layout (the no-silent-caps companion: the greedy
    // streaming packer's fill-quality trade is measured, not assumed)
    "q_pack_audit" -> ((s, dir) =>
      graft.corpus.Packing.packAudit(
        graft.corpus.Packing.packSequences(
          s.read.parquet(t(dir, "documents")), "doc_id", "text",
          budget = 4096, groups = 8), budget = 4096)),

    // ---- corpus: k-anonymity (Sweeney 2002) — each doc publishes its
    // quasi-identifiers (lang, source, 256-char length bucket) at the
    // finest prefix level whose group holds >= 20 rows, coarser levels
    // NULLed explicitly; group_n evidences the k contract per row.
    // groupBy-per-level + join back, never count-over-window (a coarse
    // prefix's window partition would funnel billions of rows through
    // one task at 100 TB)
    "q_kanon" -> ((s, dir) =>
      graft.corpus.Privacy.kAnonymize(
        s.read.parquet(t(dir, "documents"))
          .select(col("doc_id"), col("lang"), col("source"),
            floor(length(col("text")) / 256).cast("long").as("len_bucket")),
        "doc_id", Seq("lang", "source", "len_bucket"), k = 20)),

    // ---- corpus: l-diversity audit over the q_kanon ladder — per
    // published equivalence class, distinct sensitive values (first
    // token as the content proxy) across the generalized group; catches
    // the homogeneity attack k-anonymity alone permits
    "q_ldiversity" -> ((s, dir) =>
      graft.corpus.Privacy.lDiversity(
        s.read.parquet(t(dir, "documents"))
          .select(col("doc_id"), col("lang"), col("source"),
            floor(length(col("text")) / 256).cast("long").as("len_bucket"),
            element_at(split(col("text"), " "), 1).as("sens")),
        "doc_id", Seq("lang", "source", "len_bucket"), "sens", k = 20, l = 3)),

    // ---- corpus: t-closeness audit — third rung of the privacy
    // ladder: per published class, total-variation distance between its
    // sensitive-value distribution and the corpus's, carried as an
    // exact integer fraction (no float division; decimal products so
    // 10^12-row magnitudes can't wrap), verdict at t = 3/10
    "q_tcloseness" -> ((s, dir) =>
      graft.corpus.Privacy.tCloseness(
        s.read.parquet(t(dir, "documents"))
          .select(col("doc_id"), col("lang"), col("source"),
            floor(length(col("text")) / 256).cast("long").as("len_bucket"),
            element_at(split(col("text"), " "), 1).as("sens")),
        "doc_id", Seq("lang", "source", "len_bucket"), "sens",
        k = 20, tNum = 3, tDen = 10)),

    // ---- corpus: ε-DP noisy counts — fourth rung of the privacy
    // ladder (Laplace mechanism, sensitivity 1, ε = 0.5): seeded
    // inverse-CDF noise from the portable hash, discretized to integer
    // micro-units BEFORE the add, so the released values replay exactly
    "q_dp_counts" -> ((s, dir) =>
      graft.corpus.Privacy.dpNoisyCounts(
        s.read.parquet(t(dir, "events"))
          .withColumn("user_bucket", col("user_id") % 10),
        Seq("event_type", "user_bucket"), eps = 0.5, salt = "dp5")),

    // ---- the curator-side noise audit (NOT part of the release —
    // noise + noisy count reconstructs the truth): signed noise, scale
    // b, and the 3b utility check per group
    "q_dp_audit" -> ((s, dir) =>
      graft.corpus.Privacy.dpNoiseAudit(
        s.read.parquet(t(dir, "events"))
          .withColumn("user_bucket", col("user_id") % 10),
        Seq("event_type", "user_bucket"), eps = 0.5, salt = "dp5")),

    // ---- operators: sampled range-partition bounds + realized bucket
    // occupancy — Spark's RangePartitioner primitive made first-class
    // and DETERMINISTIC (portable-hash sample, exact order statistics,
    // value-only boundary comparison), with the balance claim itself
    // emitted as the auditable result; the single unpartitioned sort
    // runs over the bounded sample only
    "q_range_bounds" -> ((s, dir) =>
      graft.operators.RangeBounds.boundsAndOccupancy(
        s.read.parquet(t(dir, "documents"))
          .select(col("doc_id"), length(col("text")).cast("long").as("n_chars")),
        "n_chars", "doc_id", buckets = 8, sampleRate = 0.2, salt = "rb")),

    // ---- ANN: int8 embedding quantization (4x memory at 10^9 vectors;
    // explicit half-up arithmetic so the oracle replays it exactly).
    // Exploded to (vec_id, i, q_i, scale) scalar rows: round 2's driver
    // gate errored sorting the array<int> column in pandas
    // ("unhashable numpy.ndarray"), so no array column reaches it.
    "q_embed_quant" -> ((s, dir) =>
      // spread the single-split scan: the quantization HOFs and the
      // posexplode otherwise evaluate inside the one scan task
      // (measured a 1.6 s single-task stage = ~90% of the query's
      // wall). The fence on q keeps posexplode's implicit size/null
      // guard from pushing below the spread exchange, where it would
      // evaluate the whole quantize expression serially in the scan
      // task — and again above it.
      graft.ann.Quant.quantize(
        graft.Parallelize.bySplits(
          s.read.parquet(t(dir, "embeddings")), "vec_id"),
        "vec_id", "embedding")
        .withColumn("q", fence(col("q")))
        .select(col("vec_id"), col("scale"),
          posexplode(col("q")).as(Seq("i", "q_i")))),

    // ---- html: boilerplate strip as a user-facing scalar function
    // (north_rule's density-heuristic main-content stage)
    "q_html_strip" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), htmlDoc(col("doc_id"), col("text")).as("html"))
        .select(col("doc_id"),
          posexplode(expr("html_main_content(html)")).as(Seq("block_idx", "block")))
    }),

    // ---- html: the same fragments through the extraction pipeline's
    // `html`-span dispatch (extract_spans emits one text span per kept
    // block, renumbered)
    "q_html_pipeline" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          array(struct(
            lit("html").as("kind"),
            htmlDoc(col("doc_id"), col("text")).as("text"),
            lit("").as("media_ref"),
            lit(0).as("offset"))).as("spans"))
      graft.functions.GraftFunctions.extractDF(s, docs)
        .select(col("doc_id"), explode(col("spans")).as("span"))
        .select(col("doc_id"), col("span.offset").as("offset"),
          col("span.kind").as("kind"), col("span.text").as("text"))
    }),

    // ---- corpus LM: the trained bigram model itself (type counts >= 2
    // — the dumpable artifact the scoring join consumes)
    "q_lm_bigrams" -> ((s, dir) =>
      graft.textops.LangModel.bigramCounts(
        s.read.parquet(t(dir, "documents")), "doc_id", "text", minCount = 2)),

    // ---- corpus LM: per-doc add-one-smoothed bigram log-likelihood in
    // integer micro-nats (the perplexity-style junk filter; integer
    // discretization before the sum keeps the aggregate order-immune)
    "q_lm_score" -> ((s, dir) =>
      graft.textops.LangModel.scoreDocs(
        s.read.parquet(t(dir, "documents")), "doc_id", "text")),

    // ---- corpus LM: PMI collocations (rank-free double scores, same
    // posture as q_tfidf)
    "q_pmi" -> ((s, dir) =>
      graft.textops.LangModel.pmiCollocations(
        s.read.parquet(t(dir, "documents")), "doc_id", "text", minCount = 3)),

    // ---- corpus LM: skip-gram co-occurrence counts (window 3) — the
    // word2vec/GloVe training-pair table; pair generation zips shifted
    // token slices record-locally, never a positional self-join
    // (the oracle replays THAT plan); one count shuffle total
    "q_skipgram" -> ((s, dir) =>
      graft.textops.LangModel.skipgramCounts(
        s.read.parquet(t(dir, "documents")), "doc_id", "text",
        window = 3, minCount = 5L)),

    // ---- order stats: exact per-language doc-length quantiles over
    // the (group, value) count table — window over DISTINCT values,
    // never raw rows
    "q_quantiles" -> ((s, dir) =>
      graft.corpus.Quantiles.discreteQuantiles(
        s.read.parquet(t(dir, "documents")), "lang", "n_chars",
        Seq(0.5, 0.9, 0.99))),

    // ---- order stats: the deterministic hash-sample estimate (the
    // mergeable sketch path; the oracle replays it bit-for-bit)
    "q_quantile_sketch" -> ((s, dir) =>
      graft.corpus.Quantiles.sampledQuantiles(
        s.read.parquet(t(dir, "documents")), "lang", "n_chars", "doc_id",
        Seq(0.5, 0.9), salt = "qsk", num = 1, den = 2)),

    // ---- retrieval: inverted index with ordered positions, df band
    // keeps stopword fan-in bounded
    "q_inverted_index" -> ((s, dir) =>
      graft.corpus.InvertedIndex.build(
        s.read.parquet(t(dir, "documents")), "doc_id", "text",
        minDf = 3, maxDf = 400)),

    // ---- featurization: hashing-trick bag-of-words (portable 60-bit
    // md5 bucketing, fixed dim — no vocabulary to broadcast)
    "q_feature_hash" -> ((s, dir) =>
      graft.ann.FeatureHash.features(
        s.read.parquet(t(dir, "documents")), "doc_id", "text", dim = 64)),

    // ---- graph: fixed-iteration PageRank (join-based power iteration)
    // over the symmetrized customer<->nation bipartite graph; nation
    // hubs concentrate rank, customers hold near-floor values
    "q_pagerank" -> ((s, dir) => {
      val c = s.read.parquet(t(dir, "customer"))
      val fwd = c.select(col("c_custkey").cast("long").as("src"),
        (lit(1000000L) + col("c_nationkey")).as("dst"))
      graft.operators.PageRank.pageRank(
        fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst"))),
        "src", "dst", iters = 8, d = 0.85)
    }),

    // ---- graph: fixed-iteration HITS hubs/authorities over the same
    // deterministic doc->doc link graph as q_link_graph (3 arithmetic
    // out-links per doc); integer-quantum contributions keep every sum
    // order-immune, L1 normalization keeps the division portable
    "q_hits" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents")).select(col("doc_id"))
      val withCnt = docs.crossJoin(broadcast(docs.agg(count(lit(1)).as("cnt"))))
      val e = withCnt.select(col("doc_id").as("src"),
        explode(array(
          (col("doc_id") * 31 + 97) % col("cnt"),
          (col("doc_id") * 31 + 194) % col("cnt"),
          (col("doc_id") * 31 + 291) % col("cnt"))).as("dst"))
      graft.operators.Hits.hits(e, "src", "dst", iters = 3)
    }),

    // ---- graph: k-core peeling over the symmetrized doc link graph —
    // the degeneracy filter separating the densely interlinked core
    // from pendant/spam chains; 4 rounds cover this graph's peel depth
    "q_kcore" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents")).select(col("doc_id"))
      val withCnt = docs.crossJoin(broadcast(docs.agg(count(lit(1)).as("cnt"))))
      val e = withCnt.select(col("doc_id").as("src"),
        explode(array(
          (col("doc_id") * 31 + 97) % col("cnt"),
          (col("doc_id") * 31 + 194) % col("cnt"),
          (col("doc_id") * 31 + 291) % col("cnt"))).as("dst"))
      graft.operators.KCore.kcore(e, "src", "dst", k = 6, rounds = 4)
    }),

    // ---- graph: personalized PageRank (TrustRank) — restart mass
    // only on the hand-trusted seed docs (ids 0..9), flowing outward
    // along the symmetrized link graph; nodes unreachable from every
    // seed rank exactly 0 (the spam-demotion property)
    "q_pagerank_seeded" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents")).select(col("doc_id"))
      val withCnt = docs.crossJoin(broadcast(docs.agg(count(lit(1)).as("cnt"))))
      val ed = withCnt.select(col("doc_id").as("src"),
        explode(array(
          (col("doc_id") * 31 + 97) % col("cnt"),
          (col("doc_id") * 31 + 194) % col("cnt"),
          (col("doc_id") * 31 + 291) % col("cnt"))).as("dst"))
      val e = ed.unionByName(ed.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.PageRank.pageRank(e, "src", "dst", iters = 4,
        seeds = Some(0L to 9L))
    }),

    // ---- graph: synchronous label-propagation communities over the
    // same symmetrized doc link graph — densely knit topical
    // neighborhoods inside one giant component, where connected
    // components would answer only "reachable"; integer votes +
    // min-label tie-break make the fixed 3 rounds bit-deterministic
    "q_labelprop" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents")).select(col("doc_id"))
      val withCnt = docs.crossJoin(broadcast(docs.agg(count(lit(1)).as("cnt"))))
      val e = withCnt.select(col("doc_id").as("src"),
        explode(array(
          (col("doc_id") * 31 + 97) % col("cnt"),
          (col("doc_id") * 31 + 194) % col("cnt"),
          (col("doc_id") * 31 + 291) % col("cnt"))).as("dst"))
      graft.operators.LabelProp.propagate(e, "src", "dst", rounds = 3)
    }),

    // ---- graph x dedup composition: per-node clustering coefficient
    // of the winnowing local-overlap graph — high-degree/low-coeff
    // nodes are boilerplate hubs stitching UNRELATED duplicate
    // families (the false-merge suspects components cannot see);
    // integer T/deg, one IEEE division, directly comparable
    "q_clustering_coeff" -> ((s, dir) =>
      graft.operators.Triangles.clusteringCoefficient(
        winnowPairsCp(s, dir), "id_a", "id_b")),

    // ---- native aggregate: exact top-k doc lengths per language via
    // the bounded-heap TypedImperativeAggregate (O(k) state per group
    // vs collect_list's O(n)); ranks are value-deterministic because
    // ties resolve by value only, so the window-row_number oracle
    // replays the distributed heap exactly
    "q_topk_agg" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      s.read.parquet(t(dir, "documents"))
        .groupBy(col("lang"))
        .agg(call_function("topk_longs", col("n_chars"), lit(5)).as("tk"))
        .select(col("lang"), posexplode(col("tk")))
        .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
          col("col").as("n_chars"))
    }),

    // ---- streaming: exact-dedup drain (dropDuplicatesWithinWatermark
    // over a landing zone seeded with same-event-time duplicates; the
    // batch distinct oracle verifies the streaming path externally,
    // like extract_stream_spans)
    "stream_dedup" -> ((s, dir) => {
      val out = streamDedupDrain(s, dir)
      s.read.parquet(out).select(col("checksum"))
    }),

    // ---- streaming: per-user per-type counts on MapState (the third
    // v2 state handle): one map entry per (user, type), emitted as
    // type-sorted parallel arrays; row with max(n_seen) per user ==
    // the plain batch pivot
    "stream_type_counts" -> ((s, dir) => {
      val root = landing(s"$dir#typec", "graft_stc") { tmp =>
        s.read.parquet(t(dir, "events"))
          .select(col("user_id"), col("event_type"))
          .coalesce(8).write.parquet(s"$tmp/in")
      }
      val (out, cp) = runDirs(root)
      StreamingState.transformWithStateRunOnce(s, s"$root/in", out, cp,
        new StreamingState.TypeCountsProcessor)(_.user_id)
      val w = Window.partitionBy("user_id").orderBy(col("n_seen").desc)
      s.read.parquet(out)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("n_seen"),
          explode(arrays_zip(col("types"), col("counts"))).as("z"))
        .select(col("user_id"), col("n_seen"),
          col("z.types").as("event_type"), col("z.counts").as("cnt"))
    }),

    // ---- streaming: latest-3 events per user on ListState (the
    // online-feature-store drain — transformWithState v2, RocksDB).
    // Largest-k by event_id, not arrival, so the cross-batch merge is
    // order-independent; the sink row with max(n_seen) per user is the
    // final feature vector, which the batch oracle states directly
    "stream_latest_k" -> ((s, dir) => {
      val root = landing(s"$dir#latestk", "graft_slk") { tmp =>
        s.read.parquet(t(dir, "events"))
          .select(col("user_id"), col("event_id"),
            floor(col("value") * 100 + 0.5).as("cents"))
          .coalesce(8).write.parquet(s"$tmp/in")
      }
      val (out, cp) = runDirs(root)
      StreamingState.transformWithStateRunOnce(s, s"$root/in", out, cp,
        new StreamingState.LatestKProcessor(3))(_.user_id)
      val w = Window.partitionBy("user_id").orderBy(col("n_seen").desc)
      s.read.parquet(out)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("n_seen"),
          posexplode(arrays_zip(col("ids"), col("cents"))).as(Seq("pos", "z")))
        .select(col("user_id"), col("n_seen"),
          (col("pos") + 1).cast("int").as("rank"),
          col("z.ids").as("id"), col("z.cents").as("cents"))
    }),

    // ---- streaming: per-user running totals on transformWithState
    // (Spark 4's arbitrary-state v2: declared ValueState + RocksDB
    // required). Landing = 8 files, maxFilesPerTrigger=1, so state
    // genuinely carries ACROSS micro-batches inside the drain; per user
    // the emitted n_events sequence is strictly increasing, so max()
    // over the sink equals the batch totals regardless of file order
    "stream_running" -> ((s, dir) => {
      val root = landing(s"$dir#running", "graft_srun") { tmp =>
        s.read.parquet(t(dir, "events"))
          .select(col("user_id"),
            floor(col("value") * 100 + 0.5).as("cents"))
          .coalesce(8).write.parquet(s"$tmp/in")
      }
      val (out, cp) = runDirs(root)
      StreamingState.transformWithStateRunOnce(s, s"$root/in", out, cp,
        new StreamingState.RunningTotalProcessor)(_.user_id)
      s.read.parquet(out)
        .groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          max(col("sum_cents")).as("sum_cents"))
    }),

    // ---- streaming: stream-static enrichment join — the doc firehose
    // broadcast-joined per micro-batch against a tiny per-lang weight
    // dim; inner semantics drop langs absent from the dim (es/fr)
    "stream_enrich" -> ((s, dir) =>
      s.read.parquet(streamEnrichDrain(s, dir))),

    // ---- streaming: stream-stream range-bounded inner join — doc
    // creations joined to their async scores within a 10-minute
    // event-time window; the range bound is what keeps both join
    // buffers watermark-evictable on an unbounded stream
    "stream_join" -> ((s, dir) =>
      s.read.parquet(streamJoinDrain(s, dir))
        .select(col("doc_id"),
          col("l_ts").cast("long").as("l_epoch"),
          col("r_ts").cast("long").as("r_epoch"),
          col("lang"), col("score"))),

    // ---- streaming: watermarked tumbling-window counts (append mode —
    // only watermark-closed windows reach the checkpointed sink; the
    // batch oracle restates the emission rule as a HAVING on
    // max(ts) - delay). Window bounds emitted as epoch seconds, the
    // q_sessionize convention.
    "stream_window_counts" -> ((s, dir) => {
      val out = streamWindowDrain(s, dir)
      s.read.parquet(out)
        .select(col("w_start").cast("long").as("w_start"),
          col("w_end").cast("long").as("w_end"),
          col("event_type"), col("cnt"))
    }),

    // ---- streaming: foreachBatch MERGE sink — a delta firehose
    // maintains a lakehouse table (copy-on-write REWRITE snapshot per
    // micro-batch; MERGE's per-key idempotence is what makes
    // foreachBatch's at-least-once replay exactly-once in table
    // state); the final table equals the one-shot MERGE the oracle
    // replays because the two batches are key-disjoint
    "stream_merge" -> ((s, dir) =>
      graft.lineage.ParquetCatalog.readCurrent(s, streamMergeDrain(s, dir))),

    // ---- streaming: built-in session_window aggregation — the
    // declarative sessionizer (state store merges per-(key, session)
    // aggregates; no user state machine); append mode emits sessions
    // whose end (last event + 30 min gap) <= the final watermark
    // (max ts - 30 min); bounds in epoch seconds, microsecond-exact
    // via the floor(last + gap) identity
    "stream_session_win" -> ((s, dir) =>
      s.read.parquet(streamSessionWinDrain(s, dir))
        .select(col("user_id"),
          col("w_start").cast("long").as("w_start"),
          col("w_end").cast("long").as("w_end"),
          col("n_events"))),

    // ---- streaming: custom-state sessionization drain
    // (flatMapGroupsWithState + event-time timeout; sentinel-flushed,
    // see streamSessionDrain) — the streaming counterpart of
    // q_sessionize, and the fourth stateful streaming shape (dedup,
    // window agg, stream-stream join, custom state)
    "stream_session" -> ((s, dir) =>
      s.read.parquet(streamSessionDrain(s, dir))
        .select(col("user_id"), col("s_start"), col("s_end"),
          col("n_events"))),

    // ---- streaming: the SAME sessionization on the v2 API — explicit
    // EVENT-TIME TIMERS (registerTimer/handleExpiredTimer) instead of
    // the v1 single implicit timeout; output-identical by construction,
    // same sentinel landing, same batch oracle
    "stream_session_v2" -> ((s, dir) =>
      s.read.parquet(streamSessionV2Drain(s, dir))
        .select(col("user_id"), col("s_start"), col("s_end"),
          col("n_events"))),

    // ---- order stats: robust MAD outlier gate (k=3) on doc length per
    // language — integer-exact end to end. The synthetic corpus is
    // uniform-length (nothing exceeds 3x MAD, which would gate on an
    // always-empty result), so a deterministic heavy tail is seeded
    // in-query — every 50th doc's length x100 — and the oracle replays
    // the seeding, so the flagging path is actually exercised
    "q_mad_outliers" -> ((s, dir) =>
      graft.corpus.Quantiles.madOutliers(
        s.read.parquet(t(dir, "documents"))
          .select(col("lang"), col("doc_id"),
            when(col("doc_id") % 50 === 0, col("n_chars") * 100)
              .otherwise(col("n_chars")).as("n_chars")),
        "lang", "n_chars", k = 3)),

    // ---- order stats: per-language equi-width length histogram
    "q_histogram" -> ((s, dir) =>
      graft.corpus.Quantiles.histogram(
        s.read.parquet(t(dir, "documents")), "lang", "n_chars", buckets = 10)),

    // ---- embeddings: per-label centroid coordinates (the k-means
    // E-step / class-prototype primitive as a standalone report;
    // record-local posexplode + one (label, dim) shuffle). Coordinates
    // are discretized to integer micro-units BEFORE the sum so the
    // aggregate is summation-order-immune under the gate's .12g
    // hashing (raw double avg would be exact only while per-group
    // sums fit the float quantum — a scale-dependent accident)
    "q_label_centroids" -> ((s, dir) =>
      s.read.parquet(t(dir, "embeddings"))
        .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("label"), col("i"),
          floor(col("x").cast("double") * lit(1e6)).cast("long").as("xm"))
        .groupBy(col("label"), col("i"))
        .agg(count(lit(1)).as("n"), sum(col("xm")).as("sum_micro"))
        .select(col("label"), col("i"), col("n"),
          (col("sum_micro").cast("double") / lit(1e6) / col("n")).as("mean_x"))),

    // ---- embedding quality gate: distance-to-label-centroid outliers
    // — vectors far (in cosine) from their own label's fixed-point
    // centroid are mislabel/corruption suspects; centroids broadcast
    // (labels are few), per-vector cosine is a record-local
    // index-ordered left fold (the randomProject/list_sum discipline)
    "q_embed_outliers" -> ((s, dir) => {
      val emb = s.read.parquet(t(dir, "embeddings"))
      val cent = emb
        .select(col("label"), posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("label"), col("i"),
          floor(col("x").cast("double") * lit(1e6)).cast("long").as("xm"))
        .groupBy(col("label"), col("i"))
        .agg(count(lit(1)).as("n"), sum(col("xm")).as("sm"))
        .select(col("label"), col("i"),
          (col("sm").cast("double") / lit(1e6) / col("n")).as("m"))
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("cs"))
        .select(col("label"), expr("transform(cs, s -> s.m)").as("cvec"))
      emb.join(broadcast(cent), Seq("label"))
        .select(col("vec_id"), col("label"),
          dotFold(col("embedding"), col("cvec")).as("dot"),
          dotFold(col("embedding"), col("embedding")).as("nv2"),
          dotFold(col("cvec"), col("cvec")).as("nc2"))
        .select(col("vec_id"), col("label"),
          (col("dot") / (sqrt(col("nv2")) * sqrt(col("nc2")))).as("cos_sim"))
        .withColumn("is_outlier", (col("cos_sim") < 0.1).cast("int"))
    }),

    // ---- decontamination (semantic): corpus vectors too close (in
    // cosine) to ANY eval-set vector — the embedding-space complement
    // of q_decontaminate's n-gram overlap (catches paraphrased eval
    // leakage n-grams miss); eval side broadcast (eval sets are small),
    // best match by max(struct(cos, -eval_id)) — deterministic ties
    "q_decontaminate_sem" -> ((s, dir) => {
      val emb = s.read.parquet(t(dir, "embeddings"))
      val eval_ = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("eval_id"), col("embedding").as("ev"))
      val corpus = emb.filter(col("vec_id") % 100 =!= 0)
        .select(col("vec_id"), col("embedding"))
      corpus.crossJoin(broadcast(eval_))
        .select(col("vec_id"), col("eval_id"),
          (dotFold(col("embedding"), col("ev")) /
            (sqrt(dotFold(col("embedding"), col("embedding"))) *
              sqrt(dotFold(col("ev"), col("ev"))))).as("cos"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cos"), (-col("eval_id")).as("ne"))).as("b"))
        .select(col("vec_id"), (-col("b.ne")).as("best_eval_id"),
          col("b.cos").as("best_cos"),
          (col("b.cos") >= 0.25).cast("int").as("contaminated"))
    }),

    // ---- runtime filter: Bloom-pruned equi-join (probe rows that
    // cannot match are dropped before the join shuffle; output is
    // byte-identical to the plain join, which is what the oracle
    // states — the filter only cuts shuffle volume)
    "q_bloom_join" -> ((s, dir) => {
      val probe = s.read.parquet(t(dir, "orders"))
        .select(col("o_orderkey"), col("o_custkey"))
      val build = s.read.parquet(t(dir, "customer"))
        .filter(col("c_acctbal") > 9000)
        .select(col("c_custkey"), col("c_acctbal"))
      graft.operators.BloomJoin.filteredJoin(probe, build,
          "o_custkey", "c_custkey", mBits = 1024, k = 2, salt = "bloom")
        .select(col("o_orderkey"), col("o_custkey"), col("c_acctbal"))
    }),

    // ---- runtime filter: the Bloom false-positive audit — DISTINCT
    // probe keys that pass the filter but have no build match (the
    // wasted shuffle rows), replayed relationally by the oracle via
    // the "position set by any build key" DISTINCT + IN form
    "q_bloom_prune_audit" -> ((s, dir) => {
      val probe = s.read.parquet(t(dir, "orders")).select(col("o_custkey"))
      val build = s.read.parquet(t(dir, "customer"))
        .filter(col("c_acctbal") > 9000).select(col("c_custkey"))
      graft.operators.BloomJoin.prunedNonMatches(probe, build,
        "o_custkey", "c_custkey", mBits = 1024, k = 2, salt = "bloom")
    }),

    // ---- sketch: KMV set-overlap estimate between the en and de
    // vocabularies (jaccard + union/intersection estimates from one
    // size-k union sketch; exact below k — engine-replayable like
    // q_sketch_distinct)
    "q_sketch_overlap" -> ((s, dir) =>
      graft.operators.Kmv.overlapEstimate(
        s.read.parquet(t(dir, "documents"))
          .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok")),
        "lang", "tok", "en", "de", k = 256)),

    // ---- corpus: deterministic weighted sampling without replacement
    // (Efraimidis-Spirakis keys over the portable hash) — top-20 docs
    // per language, weight = token count; WindowGroupLimit-bounded top-k
    "q_sample_weighted" -> ((s, dir) =>
      graft.corpus.Sampling.weightedSample(
        s.read.parquet(t(dir, "documents"))
          .select(col("lang"), col("doc_id"),
            TextOps.tokenCount(col("text")).as("n_tokens")),
        "lang", "doc_id", "n_tokens", k = 20, salt = "wsamp")),

    // ---- composition: CCNet-style perplexity bucketing — per-language
    // head/middle/tail terciles of the bigram-LM mean log-likelihood
    // (head = most in-distribution third; CCNet trains preferentially
    // on it). Composes scoreDocs + discreteQuantiles; cuts broadcast
    // back as one row per (lang, q)
    "q_ccnet_buckets" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      // one row per doc — materialized once so the bigram-LM scoring
      // pipeline doesn't re-execute on both branches of the diamond
      // (tercile cuts below + the final bucket join both read it)
      val scores = Rounds.checkpoint(
        graft.textops.LangModel.scoreDocs(docs, "doc_id", "text")
          .filter(col("n_bigrams") > 0)
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .select(col("doc_id"), col("lang"),
            (col("lp_micro_sum").cast("double") / col("n_bigrams")).as("mean_lp")))
      val cuts = graft.corpus.Quantiles.discreteQuantiles(
        scores, "lang", "mean_lp", Seq(1.0 / 3, 2.0 / 3))
      val c1 = cuts.filter(col("q") === 1.0 / 3)
        .select(col("lang").as("__l1"), col("q_value").as("cut1"))
      val c2 = cuts.filter(col("q") === 2.0 / 3)
        .select(col("lang").as("__l2"), col("q_value").as("cut2"))
      scores
        .join(broadcast(c1), col("lang") === col("__l1"))
        .join(broadcast(c2), col("lang") === col("__l2"))
        .select(col("doc_id"), col("lang"),
          when(col("mean_lp") <= col("cut1"), lit("tail"))
            .when(col("mean_lp") <= col("cut2"), lit("middle"))
            .otherwise(lit("head")).as("bucket"))
    }),

    // ---- corpus drift: per-token KL(en||de) contributions — which
    // tokens make one slice diverge from another (add-one smoothing
    // over the union vocabulary; rank-free rows, q_tfidf posture)
    "q_corpus_divergence" -> ((s, dir) =>
      graft.corpus.CorpusStats.tokenKlContribs(
        s.read.parquet(t(dir, "documents")), "lang", "text", "en", "de")),

    // ---- ANN: hard-negative mining — top-k most-similar items with a
    // DIFFERENT label (contrastive-training negative sampler)
    "q_hard_negatives" -> ((s, dir) =>
      Ann.hardNegatives(
        s.read.parquet(t(dir, "embeddings")), "vec_id", "embedding", "label",
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 10)),

    // ---- tokenizer analytics: BPE fertility per language (trained-BPE
    // tokens per whitespace token — the tokenizer-efficiency report)
    "q_bpe_fertility" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("lang"),
          graft.functions.GraftFunctions.bpeCount(
            s, col("text"), bpeModel(s, dir)).as("nb"),
          TextOps.tokenCount(col("text")).as("nw"))
        .groupBy(col("lang"))
        .agg(sum(col("nb")).as("bpe_tokens"), sum(col("nw")).as("ws_tokens"))
        .select(col("lang"), col("bpe_tokens"), col("ws_tokens"),
          (col("bpe_tokens").cast("double") / col("ws_tokens")).as("fertility"))),

    // ---- graph x dedup composition: triangles of the winnowing
    // local-overlap graph — transitive boilerplate families (each
    // triangle = three docs pairwise sharing passages)
    "q_triangles" -> ((s, dir) =>
      graft.operators.Triangles.triangles(
        winnowPairsCp(s, dir), "id_a", "id_b")),

    // ---- the same triangles via DEGREE orientation — since round 6
    // this IS Triangles.triangles' default plan (hub-skew hardening:
    // oriented out-degree bounded by ~sqrt(m), so a hub id ordered low
    // can't fan out quadratic wedges); the entry stays registered so
    // the identical oracle keeps gating the explicit sibling
    "q_triangles_degree" -> ((s, dir) =>
      graft.operators.Triangles.trianglesDegreeOriented(
        winnowPairsCp(s, dir), "id_a", "id_b")),

    // ---- graph x dedup composition: duplication centrality — PageRank
    // over the symmetrized winnowing local-overlap graph (docs sharing
    // >= 2 fingerprints), ranking the docs that sit at the center of
    // boilerplate-sharing clusters
    "q_dup_centrality" -> ((s, dir) => {
      val pairs = winnowPairsCp(s, dir)
      val fwd = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      graft.operators.PageRank.pageRank(
        fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst"))),
        "src", "dst", iters = 4, d = 0.85)
    }),

    // ---- sketch: HyperLogLog distinct 3-shingles per language —
    // fixed 64-register mergeable state, no input dedup (vs KMV's
    // distinct shuffle); integer-exact register sum so the oracle
    // replays the harmonic estimate bit-for-bit (the sketched sets are
    // thousands of distinct values, so every register is occupied and
    // the libm-dependent linear-counting branch never fires here)
    "q_sketch_hll" -> ((s, dir) =>
      graft.operators.Hll.distinctPerGroup(
        graft.Parallelize.bySplits(
            s.read.parquet(t(dir, "documents"))
              .select(col("doc_id"), col("lang"), col("text")), "doc_id")
          .select(col("lang"),
            explode(TextOps.shinglesOfText(col("text"), 3)).as("sh")),
        "lang", "sh")),

    // ---- sketch: sliding-window cardinality — distinct users over
    // the trailing 3 days per observed day, as a register-max MERGE of
    // per-day HLL sketches (never a re-scan of 3 days of raw rows);
    // the reachable linear-counting branch uses the micro-nat ln
    "q_sketch_sliding" -> ((s, dir) =>
      graft.operators.Hll.slidingDistinct(
        s.read.parquet(t(dir, "events")), "ts", "user_id", windowDays = 3)),

    // ---- sketch: count-min heavy-hitter bigrams with the per-value
    // overestimate audit (est >= exact always; the d x w cell table is
    // input-size-independent and broadcast)
    "q_cms_heavy" -> ((s, dir) =>
      graft.operators.Cms.heavyHitters(
        graft.Parallelize.bySplits(
            s.read.parquet(t(dir, "documents"))
              .select(col("doc_id"), col("text")), "doc_id")
          .select(explode(TextOps.shinglesOfText(col("text"), 2)).as("bigram")),
        "bigram", d = 4, w = 1024, minCount = 30L)),

    // ---- classify: corpus-self-trained multinomial Naive Bayes lang
    // classifier on the 80/20 hash split (the in-engine stand-in for a
    // fastText-style filter stage); micro-nat integer scores
    "q_nb_classify" -> ((s, dir) =>
      graft.textops.NaiveBayes.classifyHoldout(
        s.read.parquet(t(dir, "documents")), "doc_id", "lang", "text")),

    // ---- dedup: LSH estimator calibration — every banded candidate
    // pair with estimated AND exact Jaccard plus the error, the
    // evidence for tuning k/bands/threshold
    "q_dedup_eval" -> ((s, dir) =>
      Dedup.estimatorEval(
        s.read.parquet(t(dir, "documents")), "doc_id", "text",
        n = 3, k = 64, bands = 16)),

    // ---- dedup: incremental batch-vs-index near-dedup (continual
    // ingestion: new docs pair against the index and earlier batch
    // docs, never index-vs-index)
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      graft.dedup.Incremental.dedupBatchAgainstIndex(
        docs, "doc_id", "text",
        graft.dedup.Incremental.isNewDoc(col("doc_id")),
        n = 3, k = 64, bands = 16, threshold = 0.5)
    }),

    // ---- fuzzy match: bounded edit-distance similarity self-join on
    // the 16-char doc prefix (the record-linkage primitive; lossless
    // positional-q-gram prefix filtering, never a cartesian product —
    // the oracle IS the brute-force cross join the plan avoids)
    "q_edit_join" -> ((s, dir) =>
      graft.operators.EditJoin.similarPairs(
        s.read.parquet(t(dir, "documents"))
          .select(col("doc_id"), substring(col("text"), 1, 16).as("head")),
        "doc_id", "head", maxDist = 1)),

    // ---- scale infrastructure: shuffle-skew profile of the events
    // key — the salting plan (ceil cnt/target sub-keys per hot key)
    // computed before the shuffle it protects; integer-exact ppm
    "q_skew_profile" -> ((s, dir) =>
      graft.operators.Skew.profile(
        s.read.parquet(t(dir, "events")), "user_id", targetPerTask = 50L)),

    // ---- scale infrastructure: global stable ranking via band
    // offsets — row_number over (n_chars, doc_id) with NO
    // single-partition sort (the un-partitioned window Spark would
    // otherwise plan); per-band windows run in parallel
    "q_global_rank" -> ((s, dir) =>
      graft.operators.GlobalRank.rankBy(
        s.read.parquet(t(dir, "documents")).select(col("doc_id"), col("n_chars")),
        "n_chars", "doc_id", bandWidth = 50.0)),

    // ---- corpus construction: deterministic training-order shuffle —
    // seeded md5-60bit permutation key + band-offset global rank (the
    // 60-bit key space bands uniformly, so no single-partition sort)
    // materialized as (shard, pos_in_shard) manifest coordinates;
    // bit-reproducible from the seed for restarts and epoch reshuffles
    "q_corpus_shuffle" -> ((s, dir) =>
      graft.corpus.Shuffle.manifest(
        s.read.parquet(t(dir, "documents")).select(col("doc_id")),
        "doc_id", seed = "ep0", shardSize = 128L)),

    // ---- temporal join: linear interpolation — each click gets the
    // purchase-value series interpolated AT its timestamp (the as-of
    // join's numeric sibling); integer-microsecond brackets, one fixed
    // IEEE expression, null outside the bracket (no extrapolation)
    "q_interp_join" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
      graft.operators.InterpJoin.interpolate(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"),
        "user_id", "ts", "value", "event_id")
    }),

    // ---- analytics: period-over-period deltas — daily event counts
    // per type with the previous day's count subtracted (lag over the
    // aggregated series, integer-exact; first day's delta is null)
    "q_period_delta" -> ((s, dir) => {
      val daily = s.read.parquet(t(dir, "events"))
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      daily.withColumn("delta", col("cnt") - lag(col("cnt"), 1).over(
        Window.partitionBy(col("event_type")).orderBy(col("day"))))
    }),

    // ---- entity resolution: sorted-neighborhood blocking — docs
    // adjacent under the (n_chars, doc_id) total order become
    // candidate pairs (window w=4), bounded at n*(w-1) pairs by
    // construction; rank from the band-offset machinery, pairing via
    // the width-w rank-bucket equi-join (each pair exactly one key)
    "q_sorted_neighborhood" -> ((s, dir) =>
      graft.operators.SortedNeighborhood.candidatePairs(
        s.read.parquet(t(dir, "documents")).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", w = 4, bandWidth = 50.0)),

    // ---- scale infrastructure: consistent-hash shard rebalance audit
    // — Karger-ring placement growing 8 -> 9 shards (8 vnodes each):
    // per-doc old/new shard + moved flag; the ring collapses to one
    // broadcast sorted array, assignment is a record-local HOF lookup
    // with ZERO shuffles of the corpus (vs hash%N relocating ~8/9)
    "q_shard_moves" -> ((s, dir) =>
      graft.operators.ConsistentHash.rebalanceAudit(
        s.read.parquet(t(dir, "documents")).select(col("doc_id")),
        "doc_id", nOld = 8, nNew = 9, vnodes = 8)),

    // ---- analytics: trailing 7-event rolling sum/mean of spend per
    // user — the per-entity moving baseline; integer cents inside the
    // frame (order-pinned by (ts, event_id)), one shuffle on user_id
    "q_rolling_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-6, 0)
      s.read.parquet(t(dir, "events"))
        .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
        .select(col("user_id"), col("event_id"),
          sum(col("cents")).over(w).as("roll_sum_cents"),
          count(lit(1)).over(w).as("roll_n"))
        .withColumn("roll_mean",
          col("roll_sum_cents").cast("double") / col("roll_n"))
    }),

    // ---- corpus construction: curriculum difficulty buckets — global
    // decile of (n_chars, doc_id) via the band-offset rank (NO
    // single-partition sort); bucket arithmetic is one exact-below-2^53
    // double division, identical in any IEEE engine
    "q_curriculum_buckets" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("n_chars"))
      graft.operators.GlobalRank.rankBy(docs, "n_chars", "doc_id", bandWidth = 50.0)
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("__n"))))
        .select(col("doc_id"), col("n_chars"), col("global_rank"),
          (floor(((col("global_rank") - 1) * 10).cast("double") / col("__n")) + 1)
            .cast("long").as("bucket"))
    }),

    // ---- scale infrastructure: incremental aggregate maintenance —
    // the per-(lang, source) stats state bootstrapped from the 90%
    // base, then refreshed with the doc_id%10==0 delta batch WITHOUT
    // rescanning the base; the oracle recomputes over everything, so a
    // hash match proves refresh(state(A), B) == state(A union B)
    "q_incremental_agg" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      val base = docs.filter(col("doc_id") % 10 =!= 0)
      val delta = docs.filter(col("doc_id") % 10 === 0)
      graft.operators.IncrementalAgg.refresh(
        graft.operators.IncrementalAgg.state(base, Seq("lang", "source"), "n_chars"),
        delta, Seq("lang", "source"), "n_chars")
    }),

    // ---- web curation: per-registered-domain quality profile over
    // deterministic synthesized URLs (cdn. subdomains every third doc
    // exercise the host->domain fold); integer micro-quality sums
    "q_url_domains" -> ((s, dir) =>
      graft.html.Web.domainStats(
        withUrl(s.read.parquet(t(dir, "documents"))), "url", "text")),

    // ---- web curation: domain blocklist composition — block domains
    // whose floor-average micro-quality sits below the global
    // floor-average, then broadcast anti-join the corpus against the
    // blocklist (the RefinedWeb-style domain cut)
    "q_domain_filter" -> ((s, dir) => {
      val docs = withUrl(s.read.parquet(t(dir, "documents")))
      graft.html.Web.filterBlockedDomains(docs, "url",
        graft.html.Web.lowQualityDomains(
          graft.html.Web.domainStats(docs, "url", "text")))
        .select(col("doc_id"), col("domain"))
    }),

    // ---- web graph: outlink harvest (regexp over synthesized anchor
    // HTML, /doc/<id> targets from a deterministic 3-out digraph) ->
    // edge list -> PageRank centrality; the crawl-graph flow end to end
    "q_link_graph" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents")).select(col("doc_id"))
      val withCnt = docs.crossJoin(broadcast(docs.agg(count(lit(1)).as("cnt"))))
      val html = concat(
        lit("<p>body</p><a href=\"/doc/"),
        ((col("doc_id") * 31 + 97) % col("cnt")).cast("string"),
        lit("\">a</a><a href=\"/doc/"),
        ((col("doc_id") * 31 + 194) % col("cnt")).cast("string"),
        lit("\">b</a><a href=\"/doc/"),
        ((col("doc_id") * 31 + 291) % col("cnt")).cast("string"),
        lit("\">c</a><a href=\"/about\">nav</a>"))
      val edges = withCnt.withColumn("html", html)
        .select(col("doc_id").as("src"),
          explode(graft.html.Web.outlinks(col("html"))).as("link"))
        .filter(col("link").rlike("^/doc/[0-9]+$"))
        .select(col("src"),
          regexp_extract(col("link"), "^/doc/([0-9]+)$", 1).cast("long").as("dst"))
        .filter(col("src") =!= col("dst"))
      graft.operators.PageRank.pageRank(edges, "src", "dst", iters = 4, d = 0.85)
    }),

    // ---- line-level boilerplate: per-normalized-line document
    // frequency over synthesized multi-line docs (case-varied header
    // exercises the fold, blank line exercises the empty filter)
    "q_line_stats" -> ((s, dir) =>
      graft.dedup.LineDedup.lineStats(
        withMultilineText(s.read.parquet(t(dir, "documents"))), "doc_id", "t")),

    // ---- line-level boilerplate strip (CCNet-style): drop lines in
    // >10 distinct docs (site header + per-source footer), rebuild
    // text in order; unique body + ref lines survive
    "q_line_dedup" -> ((s, dir) =>
      graft.dedup.LineDedup.stripDuplicatedLines(
        withMultilineText(s.read.parquet(t(dir, "documents"))), "doc_id", "t",
        maxDocs = 10)),

    // ---- URL canonicalization + URL-level dedup: four wire-form
    // variants per canonical page (www./:443/utm+fragment, uppercase
    // scheme+host/gclid, :80/double-slash, clean) collide pairwise;
    // min-doc_id winner per canonical URL via one min_by shuffle
    "q_url_dedup" -> ((s, dir) => {
      val b = expr("doc_id div 2")
      val docs = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), b.as("b"))
        .withColumn("url",
          when(col("doc_id") % 4 === 0, concat(
            lit("https://www.site"), (col("b") % 7).cast("string"),
            lit(".com:443/page/"), col("b").cast("string"),
            lit("/?utm_source=feed&q=1#top")))
          .when(col("doc_id") % 4 === 1, concat(
            lit("HTTPS://SITE"), (col("b") % 7).cast("string"),
            lit(".COM/page/"), col("b").cast("string"),
            lit("?q=1&gclid=abc")))
          .when(col("doc_id") % 4 === 2, concat(
            lit("https://site"), (col("b") % 7).cast("string"),
            lit(".com:80/page/"), col("b").cast("string"),
            lit("//?q=1")))
          .otherwise(concat(
            lit("https://site"), (col("b") % 7).cast("string"),
            lit(".com/page/"), col("b").cast("string"), lit("?q=1"))))
        .select(col("doc_id"), col("url"))
      graft.html.Web.dedupByUrl(docs, "url", "doc_id")
    }),

    // ---- span-sequence regression diff: the engine's own invariant
    // (kind/text/media_ref/order equality) as a distributed operator.
    // A = the real E1 extraction; B = A with seeded divergences
    // (uppercase at pos 1 for dn%7, last span dropped for dn%11, extra
    // appended span for dn%13) so equal / value-diverged / shorter /
    // longer paths all appear in the output
    "q_span_diff" -> ((s, dir) => {
      val dn = regexp_extract(col("doc_id"), "([0-9]+)$", 1).cast("long")
      // the extraction-plus-window subtree feeds THREE consumers (the
      // diff's left side, the mutated copy, the injected-extra rows);
      // materialize it once instead of re-running span synthesis +
      // extraction per branch (was ~3x the single-pass task-CPU)
      val withMax = Rounds.checkpoint(
        extractExprFlat(s, dir)
          .select("doc_id", "offset", "kind", "text", "media_ref")
          .withColumn("__mx",
            max(col("offset")).over(Window.partitionBy("doc_id"))))
      val a = withMax.drop("__mx")
      val mutated = withMax
        .filter(!(dn % 11 === 0 && col("offset") === col("__mx")))
        .withColumn("text",
          when(dn % 7 === 0 && col("offset") === 1, upper(col("text")))
            .otherwise(col("text")))
        .drop("__mx")
      val extra = withMax
        .filter(dn % 13 === 0 && col("offset") === col("__mx"))
        .select(col("doc_id"), (col("__mx") + 1).as("offset"),
          lit("text").as("kind"), lit("EXTRA").as("text"),
          lit("").as("media_ref"))
      graft.operators.SpanDiff.diff(a, mutated.unionByName(extra),
        "doc_id", "offset", Seq("kind", "text", "media_ref"))
    }),

    // ---- markdown table linearization (K1's training-side sibling):
    // one GFM string per recovered table, from the extraction's own IR
    "q_tables_markdown" -> ((s, dir) => extractMarkdown(s, dir)),

    // ---- C4-style normalization over deliberately-dirty text: NFC
    // (combining accent composes), control strip, NBSP fold, space-run
    // collapse, trim — each branch exercised by a seeded decoration
    "q_text_normalize" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), dirtyText.as("t_raw"))
        .select(col("doc_id"),
          graft.functions.GraftFunctions.normalizeText(s, col("t_raw"))
            .as("t_norm"))
        .withColumn("n_chars", length(col("t_norm")).cast("bigint"))),

    // ---- text hygiene: invisible-character strip — zero-width chars,
    // bidi controls (the Trojan-Source vector), BOM, soft hyphen:
    // survive whitespace normalization, split tokens invisibly, defeat
    // exact dedup; deterministic seeding (ZWSP + RLO for doc_id%5==0)
    // exercises the strip path; audit column counts what was removed
    "q_text_invisibles" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(lit("a\u200Bb \u202Ezzz\u202C "), col("text"), lit("\uFEFF")))
            .otherwise(col("text")).as("t_raw"))
        .select(col("doc_id"),
          TextOps.invisibleCount(col("t_raw")).as("n_stripped"),
          length(TextOps.stripInvisibles(col("t_raw"))).cast("bigint")
            .as("n_clean_chars"))),

    // ---- analytics: trending terms — per-day term counts served into
    // trailing 7-day windows (offset explode + register-merge shape of
    // q_sketch_sliding, exact counts here), top-5 per day by
    // (windowed count desc, term asc) with the rank-limit pushdown
    "q_trending_terms" -> ((s, dir) => {
      // (d, term, cnt) is read twice (day universe + the served
      // explode); materialize the aggregated frame once so the
      // tokenize+explode+count pipeline underneath runs once
      val tok = Rounds.checkpoint(
        graft.Parallelize.bySplits(
            s.read.parquet(t(dir, "documents"))
              .select(col("doc_id"), col("text")), "doc_id")
          .select((col("doc_id") % 14).cast("long").as("d"),
            explode(TextOps.tokens(col("text"))).as("term"))
          .groupBy(col("d"), col("term")).agg(count(lit(1)).as("cnt")))
      val days = tok.select(col("d")).distinct()
      val served = tok
        .select(col("d"), col("term"), col("cnt"),
          explode(sequence(lit(0), lit(6))).as("off"))
        .select((col("d") + col("off")).as("d"), col("term"), col("cnt"))
        .join(days, Seq("d"), "leftsemi")
        .groupBy(col("d"), col("term")).agg(sum(col("cnt")).as("wcnt"))
      served
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("d"))
            .orderBy(col("wcnt").desc, col("term").asc)))
        .filter(col("rank") <= 5)
    }),

    // ---- interleaving profile over the raw span table: per-kind
    // counts, modality-switch count, first/last kind — the shape stats
    // a packing/filtering policy keys on for interleaved docs
    "q_interleave_profile" -> ((s, dir) =>
      graft.corpus.Interleave.profile(
        SpanGen.fromDocuments(s, dir).toDF()
          .select(col("doc_id"), explode(col("spans")).as("sp"))
          .select(col("doc_id"), col("sp.offset").as("offset"),
            col("sp.kind").as("kind")),
        "doc_id", "offset", "kind")),

    // ---- column-type inference over recovered tables, with a seeded
    // per-(i,j) type overwrite so every classifier branch (int / num /
    // date / bool / text) appears in the majority vote
    "q_table_types" -> ((s, dir) => {
      val cells = graft.extract.TableTypes.cellRows(SpanGen.fromDocuments(s, dir))
      val sel = (col("i") * 7 + col("j")) % 5
      val seeded = cells.withColumn("txt",
        when(sel === 0, length(col("txt")).cast("string"))
          .when(sel === 1, concat(length(col("txt")).cast("string"), lit(".5")))
          .when(sel === 2, concat(lit("2024-01-"),
            lpad((length(col("txt")) % 28 + 1).cast("string"), 2, "0")))
          .when(sel === 3,
            when(length(col("txt")) % 2 === 0, lit("true")).otherwise(lit("false")))
          .otherwise(col("txt")))
      graft.extract.TableTypes.inferColumnTypes(seeded)
    }),

    // ---- script-mix detection: Latin/Cyrillic/Han character counts +
    // dominant-script vote over text decorated with seeded Cyrillic
    // (doc%4==1), Han (==2), or both (==3)
    "q_script_mix" -> ((s, dir) => {
      val cyr = lit("\u0430\u0431 \u0432\u0433")
      val han = lit("\u4e2d\u6587")
      // %10==7/9: text fully replaced, so the dominant vote actually
      // flips to cyrillic/han on real corpus rows, not just in units
      val tt = when(col("doc_id") % 10 === 7, repeat(cyr, 20))
        .when(col("doc_id") % 10 === 9, repeat(han, 20))
        .when(col("doc_id") % 4 === 1, concat(col("text"), lit(" "), cyr))
        .when(col("doc_id") % 4 === 2, concat(col("text"), lit(" "), han))
        .when(col("doc_id") % 4 === 3,
          concat(col("text"), lit(" "), cyr, lit(" "), han))
        .otherwise(col("text"))
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), tt.as("tt"))
        .select(col("doc_id"),
          TextOps.scriptCount(col("tt"), "Latin").as("n_latin"),
          TextOps.scriptCount(col("tt"), "Cyrillic").as("n_cyrillic"),
          TextOps.scriptCount(col("tt"), "Han").as("n_han"))
        .withColumn("script", TextOps.dominantScript(
          col("n_latin"), col("n_cyrillic"), col("n_han")))
    }),

    // ---- per-domain contribution cap: at most 10 docs per registered
    // domain, lowest salted-hash first — the Zipf-head curation guard,
    // two-level windowed so a hot domain never funnels through one task
    "q_domain_cap" -> ((s, dir) => {
      val docs = withUrl(s.read.parquet(t(dir, "documents")))
        .withColumn("domain", graft.html.Web.registeredDomain(
          graft.html.Web.urlHost(col("url"))))
        .select("doc_id", "domain")
      graft.corpus.Sampling.domainCap(docs, "domain", "doc_id",
        cap = 10, salt = "cap")
    }),

    // ---- corpus-version diff: added / removed / modified between two
    // synthesized versions (v1 drops %7==0, v2 drops %11==3 and edits
    // %5==0 texts) — checksums travel, document bytes never do
    "q_snapshot_diff" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      val v1 = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), sha2(col("text"), 256).as("checksum"))
      val v2 = docs.filter(col("doc_id") % 11 =!= 3)
        .select(col("doc_id"), sha2(
          when(col("doc_id") % 5 === 0, concat(col("text"), lit("!")))
            .otherwise(col("text")), 256).as("checksum"))
      graft.lineage.SnapshotDiff.diff(v1, v2, "doc_id", "checksum")
    }),

    // ---- ANN quality eval: recall@10 of the LSH path against the
    // exact brute-force baseline, per query point — the measurement
    // that justifies (or vetoes) the approximate path at scale
    "q_ann_recall" -> ((s, dir) => {
      val emb = s.read.parquet(t(dir, "embeddings"))
      val qs = Seq(0L, 1L, 2L, 3L, 4L)
      val exact = Ann.bruteForceTopK(emb, "vec_id", "embedding", qs, k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Ann.lshTopK(s, emb, "vec_id", "embedding", qs, k = 10)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(col("__hit")).as("n_hits"), count(lit(1)).as("k"))
        .withColumn("recall", col("n_hits") / lit(10.0))
    }),

    // ---- anchor-text aggregation: parse (href, anchor) pairs out of
    // synthesized HTML, aggregate per target — inlink counts, distinct
    // sources, most frequent anchor
    "q_anchor_texts" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents")).select(col("doc_id"))
      val withCnt = docs.crossJoin(broadcast(docs.agg(count(lit(1)).as("cnt"))))
      val anchors = array(lit("home"), lit("docs"), lit("ref"), lit("see"))
      def d(off: Int) = (col("doc_id") * 31 + off) % col("cnt")
      def a(off: Int) =
        element_at(anchors, ((col("doc_id") + d(off)) % 4 + 1).cast("int"))
      val html = concat(
        lit("<p>x</p><a href=\"/doc/"), d(97).cast("string"), lit("\">"),
        a(97), lit("</a><a href=\"/doc/"), d(194).cast("string"), lit("\">"),
        a(194), lit("</a><a href=\"/doc/"), d(291).cast("string"), lit("\">"),
        a(291), lit("</a><a href=\"/about\">nav</a>"))
      val links = withCnt.withColumn("html", html)
        .select(col("doc_id").as("src"),
          explode(graft.html.Web.anchorLinks(col("html"))).as("l"))
        .select(col("src"), col("l.href").as("href"), col("l.anchor").as("anchor"))
        .filter(col("href").rlike("^/doc/[0-9]+$"))
        .select(col("src"),
          regexp_extract(col("href"), "^/doc/([0-9]+)$", 1).cast("long").as("dst"),
          col("anchor"))
      graft.html.Web.anchorProfile(links, "dst", "anchor", "src")
    }),

    // ---- media referential integrity: span media refs vs a seeded
    // inventory (%13 refs missing -> orphan_ref, extra blobs for %17
    // docs -> unused) — the interleaved-corpus health audit
    "q_media_integrity" -> ((s, dir) => {
      // the media-ref frame feeds both the audit side and the seeded
      // inventory below; materialize it once so the span synthesis +
      // explode doesn't run per branch
      val refs = Rounds.checkpoint(
        SpanGen.fromDocuments(s, dir).toDF()
          .select(explode(col("spans")).as("sp"))
          .filter(col("sp.kind") === "media")
          .select(col("sp.media_ref").as("media_ref")))
      val dn = regexp_extract(col("media_ref"), "media://([0-9]+)/", 1)
        .cast("long")
      val inventory = refs.filter(dn % 13 =!= 0).distinct()
        .unionByName(s.read.parquet(t(dir, "documents"))
          .filter(col("doc_id") % 17 === 0)
          .select(concat(lit("media://extra-"), col("doc_id").cast("string"),
            lit("/0")).as("media_ref")))
      graft.operators.RefAudit.audit(refs, inventory, "media_ref")
    }),

    // ---- C4 terminal-punctuation line rule over synthesized
    // multi-line docs: the header/footer/ref lines fail the rule, the
    // body (sentence-terminated for doc%2==1 only) passes selectively
    "q_line_punct" -> ((s, dir) =>
      graft.dedup.LineDedup.filterLines(
        withPunctText(s.read.parquet(t(dir, "documents"))), "doc_id", "t",
        graft.dedup.LineDedup.terminalPunctuation)),

    // ---- code-vs-prose detection: symbol density + indentation vote
    // over text where doc%6==0 is replaced by a code block
    "q_code_detect" -> ((s, dir) => {
      val code = lit("def f(x) {\n\ty = x + 1;\n\treturn (y);\n}")
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          when(col("doc_id") % 6 === 0, code).otherwise(col("text")).as("tt"))
        .select(col("doc_id"),
          TextOps.codeSymbolCount(col("tt")).as("n_sym"),
          TextOps.indentedLineCount(col("tt")).as("n_indent"),
          TextOps.isCodeLike(col("tt")).as("is_code"))
    }),

    // ---- bitext candidate mining: cross-lingual embedding near-dup
    // pairs (the CCMatrix-style parallel-corpus sourcing step) —
    // near-dup pairs whose documents carry different langs
    "q_bitext_candidates" -> ((s, dir) => {
      val pairs = Ann.cosineNearDupPairs(
        s.read.parquet(t(dir, "embeddings")), "vec_id", "embedding",
        threshold = 0.3, maxId = 300)
      val langs = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("lang"))
      pairs
        .join(langs.select(col("doc_id").as("id_a"), col("lang").as("lang_a")), "id_a")
        .join(langs.select(col("doc_id").as("id_b"), col("lang").as("lang_b")), "id_b")
        .filter(col("lang_a") =!= col("lang_b"))
        .select(col("id_a"), col("id_b"), col("lang_a"), col("lang_b"), col("sim"))
    }),

    // ---- deterministic fractional-epoch upsampling: the data-mixing
    // knob's other half (mixtureSample can only downweight) — en x2.5,
    // de x0.5, others x1; record-local explode, zero shuffles
    "q_domain_epochs" -> ((s, dir) =>
      graft.corpus.Sampling.epochUpsample(
        s.read.parquet(t(dir, "documents")).select(col("doc_id"), col("lang")),
        "lang", "doc_id", epochs = Map("en" -> 2.5, "de" -> 0.5))),

    // ---- Gopher quality-rule panel over deterministically dirtied
    // text (bullet lines doc%3, ellipsis teasers doc%4, symbol+number
    // spam doc%5); minWords=5 so both outcomes occur on a short corpus
    "q_gopher_rules" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), gopherDirt.as("tt"))
        .select(col("doc_id"),
          TextOps.tokenCount(col("tt")).as("n_words"),
          TextOps.meanWordLength(col("tt")).as("mean_wlen"),
          TextOps.symbolWordRatio(col("tt")).as("sym_ratio"),
          TextOps.bulletLineRatio(col("tt")).as("bullet_ratio"),
          TextOps.ellipsisLineRatio(col("tt")).as("ellipsis_ratio"),
          TextOps.alphaWordRatio(col("tt")).as("alpha_ratio"),
          TextOps.markerHits(col("tt"), TextOps.GopherStopwords).as("n_stop"),
          TextOps.gopherPass(col("tt"), minWords = 5L).as("pass"))),

    // ---- encoding-damage (mojibake) detection over seeded dirt:
    // double-encoded é (doc%7), U+FFFD (doc%9), C1 NEL control
    // (doc%11), double-encoded right-quote (doc%13)
    "q_mojibake" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), mojibakeDirt.as("tt"))
        .select(col("doc_id"),
          TextOps.replacementCount(col("tt")).as("n_repl"),
          TextOps.c1ControlCount(col("tt")).as("n_c1"),
          TextOps.mojibakeArtifactCount(col("tt")).as("n_artifact"),
          TextOps.isEncodingDamaged(col("tt")).as("is_damaged"))),

    // ---- Flesch readability (curriculum/difficulty axis): sentence
    // structure synthesized by terminating every 5th word, then the
    // vowel-group syllable estimate and the published formula
    "q_readability" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          regexp_replace(col("text"),
            "(\\w+ \\w+ \\w+ \\w+ \\w+) ", "$1. ").as("tt"))
        .select(col("doc_id"),
          TextOps.tokenCount(col("tt")).as("n_words"),
          TextOps.sentenceCount(col("tt")).as("n_sents"),
          TextOps.syllableEstimate(col("tt")).as("n_syll"),
          TextOps.fleschReadingEase(col("tt")).as("flesch"))),

    // ---- word-boundary blocklist gate (C4 badword-filter shape) over
    // corpus vocabulary that actually hits ('slow','hash','big')
    "q_blocklist" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("lang"),
          TextOps.blocklistHits(col("text"),
            Seq("slow", "hash", "big")).as("n_bad"))
        .withColumn("kept", col("n_bad") === 0L)),

    // ---- token frequency-of-frequencies spectrum (Zipf/Heaps corpus
    // health): two map-side-combined shuffles, output bounded by the
    // number of distinct frequencies
    "q_freq_spectrum" -> ((s, dir) =>
      graft.corpus.CorpusStats.frequencySpectrum(
        s.read.parquet(t(dir, "documents")), "text")),

    // ---- Zipf power-law fit: least-squares ln(freq)-vs-ln(rank) slope
    // over the top-100 terms — one term-count shuffle + TakeOrdered +
    // a closed-form single-row aggregate; integer micro-nat sums keep
    // the fitted doubles order-immune
    "q_zipf_slope" -> ((s, dir) =>
      graft.corpus.CorpusStats.zipfFit(
        s.read.parquet(t(dir, "documents")), "text", topR = 100)),

    // ---- intra-document duplicate-line strip (RefinedWeb in-doc
    // repeat removal) over synthesized chorus spam: a case/trim
    // variant chorus + the full body repeated, plus a blank line
    "q_line_dedup_doc" -> ((s, dir) =>
      graft.dedup.LineDedup.dedupLinesWithinDoc(
        s.read.parquet(t(dir, "documents"))
          .select(col("doc_id"), concat(
            lit("Chorus line\n"), col("text"),
            lit("\nchorus line \n"), col("text"),
            lit("\n\nEnd "), col("doc_id").cast("string")).as("tt")),
        "doc_id", "tt")),

    // ---- data layout: z-order (Morton) clustering key over
    // (n_chars, doc_id mod 2^16) — the multi-dimensional sort key
    // behind OPTIMIZE-ZORDER-style file skipping. Pure bit arithmetic
    // in whole-stage codegen, zero shuffles; the layout itself
    // (ZOrder.layout) pays one range exchange and is spec-gated on
    // pruning effectiveness
    "q_zorder_key" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          least(col("n_chars"), lit(65535L)).as("x"),
          pmod(col("doc_id"), lit(65536L)).as("y"))
        .select(col("doc_id"), col("x"), col("y"),
          graft.operators.ZOrder.zkey16(col("x"), col("y")).as("zkey"))),

    // ---- lakehouse: per-file column-stats manifest (Iceberg manifest
    // shape over logical hash files) + the range-pruning decision for
    // n_chars BETWEEN 400 AND 800: one map-side-combined shuffle,
    // O(files) output
    "q_stats_manifest" -> ((s, dir) =>
      graft.lineage.Manifest.pruneForRange(
        graft.lineage.Manifest.fileStats(
          s.read.parquet(t(dir, "documents")),
          "doc_id", "n_chars", "lang", numFiles = 16),
        lo = 400L, hi = 800L)),

    // ---- text analysis: rule-based sentence segmentation, exploded
    // with a per-doc ordinal — record-local mark-then-split, zero
    // shuffles
    "q_sentence_split" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          posexplode(graft.textops.TextOps.sentences(col("text"))))
        .select(col("doc_id"), col("pos").as("sent_idx"),
          col("col").as("sentence"))),

    // ---- dedup: cross-doc SENTENCE-level boilerplate strip (the
    // sentence-granular sibling of q_line_dedup — cookie banners and
    // legal footers that survive HTML flattening as mid-line
    // sentences); boilerplate seeded in-query so the strip path is
    // exercised, the oracle replays the decoration
    "q_sentence_dedup" -> ((s, dir) =>
      graft.dedup.SentenceDedup.stripFrequentSentences(
        s.read.parquet(t(dir, "documents"))
          .select(col("doc_id"), concat(
            lit("Subscribe to our newsletter! "), col("text"),
            lit(" Unique tail "), col("doc_id").cast("string"),
            lit(". All rights reserved.")).as("tt")),
        "doc_id", "tt", maxDocs = 10L)),

    // ---- API surface: the same engine through pure SQL — temp view +
    // spark.sql text (filter, aggregate, HAVING, CASE), proving the
    // library composes with SQL-first callers; identical Catalyst plan
    // to the DataFrame form
    "q_sql_surface" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .createOrReplaceTempView("graft_docs_v")
      s.sql("""
        SELECT lang,
          count(*) AS n_docs,
          sum(n_chars) AS total_chars,
          sum(CASE WHEN n_chars > 500 THEN 1 ELSE 0 END) AS n_long
        FROM graft_docs_v
        WHERE n_chars > 100
        GROUP BY lang
        HAVING count(*) > 5""")
    }),

    // ---- source/sink: ORC round-trip — the full documents table
    // written as ORC (zone cached per dir) and read back; the identity
    // oracle over the parquet original gates bit-exact value fidelity
    // through the second columnar format
    "q_orc_roundtrip" -> ((s, dir) => {
      val root = landing(s"$dir#orc", "graft_orc") { tmp =>
        s.read.parquet(t(dir, "documents")).coalesce(2)
          .write.orc(s"$tmp/in")
      }
      s.read.orc(s"$root/in")
    }),

    // ---- source: permissive JSON-lines ingestion with corrupt-record
    // capture — explicit schema (no inference scan), malformed lines
    // become quarantine rows instead of job failures or silent drops
    "q_json_source" -> ((s, dir) => {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType)))
      graft.sources.JsonSource.readPermissive(s, jsonLanding(s, dir), schema)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col(graft.sources.JsonSource.CorruptCol).isNotNull.cast("int")
            .as("is_corrupt"))
    }),

    // ---- source: permissive CSV ingestion (same quarantine posture
    // as q_json_source) — the digest written as headered CSV plus one
    // malformed sidecar line (unparseable long); zone cached per dir
    "q_csv_source" -> ((s, dir) => {
      val root = landing(s"$dir#csv", "graft_csv") { tmp =>
        s.read.parquet(t(dir, "documents"))
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .coalesce(1)
          .write.option("header", "true").csv(s"$tmp/in")
        // sidecar: header line (each CSV file carries its own), then
        // one row whose doc_id cannot parse as a long
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$tmp/in/part-corrupt.csv"),
          "doc_id,lang,n_chars\nnot_a_long,xx,also_not_a_long\n".getBytes("UTF-8"))
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_corrupt_record",
          org.apache.spark.sql.types.StringType)))
      s.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(s"$root/in")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("_corrupt_record").isNotNull.cast("int").as("is_corrupt"))
    }),

    // ---- data-quality constraint panel (Deequ VerificationSuite
    // shape): one aggregation pass computes every metric, then the
    // constraint rows unfold from that single row — adding a
    // constraint never adds a scan
    "q_constraint_panel" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .agg(
          count(lit(1)).as("n"),
          count(col("text")).as("n_text"),
          countDistinct(col("doc_id")).as("n_ids"),
          sum(when(col("n_chars") < 0, 1L).otherwise(0L)).as("n_neg"),
          sum(when(length(col("text")) =!= col("n_chars"), 1L).otherwise(0L))
            .as("n_lenmismatch"))
        .select(explode(array(
          struct(lit("completeness_text").as("constraint"),
            (col("n_text").cast("double") / col("n")).as("metric"),
            (col("n_text") === col("n")).as("passed")),
          struct(lit("unique_doc_id").as("constraint"),
            (col("n_ids").cast("double") / col("n")).as("metric"),
            (col("n_ids") === col("n")).as("passed")),
          struct(lit("non_negative_n_chars").as("constraint"),
            (col("n_neg").cast("double") / col("n")).as("metric"),
            (col("n_neg") === 0).as("passed")),
          struct(lit("n_chars_matches_text").as("constraint"),
            (col("n_lenmismatch").cast("double") / col("n")).as("metric"),
            (col("n_lenmismatch") === 0).as("passed")))).as("c"))
        .select(col("c.constraint").as("constraint"),
          col("c.metric").as("metric"), col("c.passed").as("passed"))),

    // ---- line-text source: the rawest landing format (one record per
    // line, tab-separated), read via spark.read.text + a codegen'd
    // parse projection; malformed lines survive as null-field rows
    // (try_cast/try_element_at — ANSI mode would fail the task on the
    // first bad line otherwise). Landing zone derived from documents
    // with one malformed sidecar line, so the oracle can reconstruct.
    "q_text_source" -> ((s, dir) => {
      val root = landing(s"$dir#text", "graft_text") { tmp =>
        s.read.parquet(t(dir, "documents"))
          .select(concat_ws("\t",
            col("doc_id"), col("lang"), col("n_chars")).as("value"))
          .coalesce(1).write.text(s"$tmp/in")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$tmp/in/part-malformed.txt"),
          "not_a_long\tonly_two\n".getBytes("UTF-8"))
      }
      s.read.text(s"$root/in")
        .select(split(col("value"), "\t").as("f"))
        .select(
          expr("try_cast(try_element_at(f, 1) AS BIGINT)").as("doc_id"),
          expr("try_element_at(f, 2)").as("lang"),
          expr("try_cast(try_element_at(f, 3) AS BIGINT)").as("n_chars"))
    }),

    // ---- lakehouse: MERGE upsert (corpus versioning) — a derived
    // delta of disjoint updates (%7, not %13), inserts (+1e6 ids for
    // %11) and tombstones (%13) merged into the documents table via
    // one full-outer join; output = the next table version
    "q_merge_upsert" -> ((s, dir) => {
      val base = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val updates = base
        .filter(col("doc_id") % 7 === 0 && col("doc_id") % 13 =!= 0)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") + 1000L).as("n_chars"), lit(false).as("_deleted"))
      val inserts = base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
          col("n_chars"), lit(false).as("_deleted"))
      val deletes = base.filter(col("doc_id") % 13 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          lit(true).as("_deleted"))
      graft.lineage.MergeUpsert.merge(
        base, updates.union(inserts).union(deletes), "doc_id")
    }),

    // ---- lakehouse: Iceberg-shaped partition transforms (bucket /
    // truncate / day) — the hidden-partition-spec functions computed
    // engine-side; scan-stage expressions, zero shuffles
    "q_partition_transform" -> ((s, dir) =>
      s.read.parquet(t(dir, "events"))
        .select(col("event_id"),
          graft.lineage.PartitionTransforms.bucket(8, col("user_id"))
            .as("user_bucket"),
          graft.lineage.PartitionTransforms.truncate(100L, col("event_id"))
            .as("id_trunc"),
          graft.lineage.PartitionTransforms.day(col("ts")).as("event_day"))),

    // ---- reporting: rollup subtotals over (lang, source) — the
    // grouping-sets corpus report (per-pair, per-lang, grand total in
    // ONE pass / one shuffle instead of three scans); gid is the
    // grouping bitmask (lang = MSB in both engines)
    "q_rollup_report" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          grouping_id().as("gid"))),

    // ---- reporting: CUBE over (lang, source) — all four grouping
    // sets in one pass (rollup's superset: adds the source-only
    // marginals), disambiguated by grouping_id; one shuffle total
    "q_cube_report" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          grouping_id().as("gid"))),

    // ---- reshaping: unpivot/melt per-doc metric columns into long
    // (doc_id, metric, value) form — the feature-store layout; record-
    // local expansion, zero shuffles
    "q_unpivot_metrics" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("n_chars"),
          graft.textops.TextOps.tokenCount(col("text")).as("n_tokens"),
          graft.textops.TextOps.sentenceCount(col("text")).as("n_sents"))
        .unpivot(Array(col("doc_id")),
          Array(col("n_chars"), col("n_tokens"), col("n_sents")),
          "metric", "value")),

    // ---- interleaved: span-sequence normalization — coalesce each run
    // of CONSECUTIVE text spans into one span (space-joined in reading
    // order), re-index offsets densely; media/word_box/cell/html spans
    // never merge and stay as run boundaries. One window + one reused-
    // exchange groupBy = one shuffle total
    "q_span_merge" -> ((s, dir) =>
      graft.corpus.Interleave.mergeAdjacentText(
        SpanGen.fromDocuments(s, dir).toDF()
          .select(col("doc_id"), explode(col("spans")).as("sp"))
          .select(col("doc_id"), col("sp.offset").as("offset"),
            col("sp.kind").as("kind"), col("sp.text").as("text"),
            col("sp.media_ref").as("media_ref")),
        "doc_id", "offset", "kind", "text", "media_ref")),

    // ---- graph: multi-source BFS hop distances from seed docs over
    // the arithmetic doc->doc link graph — level-synchronous expansion,
    // work per round = frontier out-degree, not O(V); dist = level
    "q_bfs_hops" -> ((s, dir) =>
      graft.operators.Bfs.hops(docLinkEdges(s, dir),
        s.read.parquet(t(dir, "documents"))
          .filter(col("doc_id") % 50 === 0).select(col("doc_id").as("node")),
        "src", "dst", "node", maxHops = 4)),

    // ---- graph: deterministic DeepWalk-style random walks — neighbor
    // pick = portable60(salt:walk:step:node) mod outdeg over dst-ranked
    // edges; L equi-joins against the once-built ranked edge table
    "q_random_walks" -> ((s, dir) =>
      graft.operators.RandomWalk.walks(docLinkEdges(s, dir),
        "src", "dst", length = 4, salt = "rw")),

    // ---- curation: 2-D Pareto front over (length, vocabulary) — the
    // skyline staircase reduction (per-x max, running max over one row
    // per distinct x, broadcast join back), never the O(n^2)
    // domination self-join
    "q_pareto_front" -> ((s, dir) =>
      graft.operators.Skyline.front2D(
        s.read.parquet(t(dir, "documents"))
          .select(col("doc_id"), col("n_chars"),
            size(array_distinct(split(col("text"), " ", -1)))
              .cast("bigint").as("n_vocab")),
        "n_chars", "n_vocab")),

    // ---- table maintenance: small-file compaction planner — files
    // binned to ~targetBytes within each partition by (size desc, id)
    // cumulative cut; runs over the file INVENTORY (metadata rows, one
    // shuffle on the partition key), the Iceberg binpack-rewrite shape
    "q_compaction_plan" -> ((s, dir) =>
      graft.lineage.Compaction.plan(
        s.read.parquet(t(dir, "documents"))
          .select(col("source"), col("doc_id").as("file_id"),
            col("n_chars").as("size_bytes")),
        "source", "file_id", "size_bytes", targetBytes = 4096L)),

    // ---- PII audit: typed entity inventory (url/email/ip/phone) over
    // the scrub-decorated corpus — the measure-before-redact companion
    // of q_text_scrub, same RE2-portable patterns, match sets oracled
    "q_entity_extract" -> ((s, dir) =>
      TextOps.entityInventory(
        s.read.parquet(t(dir, "documents"))
          .select(col("doc_id"),
            concat(col("text"),
              lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com via https://site.example/"),
              col("doc_id").cast("string"),
              lit("/page or +1 (555) 010-4477 at 10.20.30.42 x")).as("t2")),
        "doc_id", "t2")),

    // ---- dedup: asymmetric n-gram containment — the sub-document
    // signal Jaccard misses (a pasted paragraph in a 100x longer page
    // scores ~0 Jaccard, ~1 containment); same df-capped shingle
    // candidate join as q_dedup_ngram, both directions emitted
    "q_dedup_containment" -> ((s, dir) =>
      Dedup.ngramContainmentPairs(
        s.read.parquet(t(dir, "documents")).filter(col("doc_id") < 200),
        "doc_id", "text", n = 3, threshold = 0.1)),

    // ---- layout: bucketed-table co-located join — both sides bucket-
    // written on doc_id once (the pre-paid shuffle), then SortMergeJoin
    // consumes the bucketed scans with ZERO exchanges (PlanSpec-gated);
    // the layout that amortizes a recurring 100 TB join key
    "q_bucketed_join" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      graft.lineage.Bucketed.colocatedJoin(s,
        d.select(col("doc_id"), col("lang"), col("n_chars")),
        d.select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_tokens")),
        key = "doc_id", nBuckets = 8, tablePrefix = "graft_bj")
    }),

    // ---- eval: confusion matrix + per-label recall share over the NB
    // holdout classifier — the model-quality readout a filter stage is
    // tuned on; matrix is |labels|^2 rows, window over it is metadata
    "q_nb_confusion" -> ((s, dir) => {
      val cm = graft.textops.NaiveBayes.classifyHoldout(
          s.read.parquet(t(dir, "documents")), "doc_id", "lang", "text")
        .groupBy(col("label"), col("pred_label"))
        .agg(count(lit(1)).as("n"))
      cm.withColumn("label_total",
          sum(col("n")).over(Window.partitionBy("label")))
        .withColumn("share",
          col("n").cast("double") / col("label_total").cast("double"))
    }),

    // ---- retrieval: reciprocal-rank fusion of two rankings (length,
    // vocabulary) — the hybrid-retrieval merge; each ranking comes from
    // GlobalRank's band-offset two-pass (no single-partition sort),
    // fusion is one equi-join + a fixed IEEE expression
    "q_rrf_fusion" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("n_chars"),
          size(array_distinct(split(col("text"), " ", -1)))
            .cast("bigint").as("n_vocab"))
      val r1 = graft.operators.GlobalRank.rankBy(
          d.select(col("doc_id"), col("n_chars")), "n_chars", "doc_id",
          bandWidth = 50.0)
        .select(col("doc_id"), col("global_rank").as("r_len"))
      val r2 = graft.operators.GlobalRank.rankBy(
          d.select(col("doc_id"), col("n_vocab")), "n_vocab", "doc_id",
          bandWidth = 8.0)
        .select(col("doc_id"), col("global_rank").as("r_vocab"))
      r1.join(r2, "doc_id")
        .withColumn("rrf",
          lit(1.0) / (lit(60) + col("r_len"))
            + lit(1.0) / (lit(60) + col("r_vocab")))
    }),

    // ---- hygiene: homoglyph spoof detection — Cyrillic-lookalike
    // copies collide with their originals under the confusable
    // SKELETON checksum while raw-text dedup misses them (different
    // code points); decoration seeds a spoof per doc_id%10==3, the
    // detector is skeleton-groupBy with >1 raw variant
    "q_homoglyph_spoof" -> ((s, dir) => {
      val base = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("text"))
      val spoof = base.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          translate(col("text"),
            TextOps.HomoglyphLat, TextOps.HomoglyphCyr).as("text"))
      base.union(spoof)
        .select(col("doc_id"), col("text"),
          sha2(TextOps.homoglyphSkeleton(col("text")), 256).as("skeleton_sha"))
        .groupBy(col("skeleton_sha"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_docs"),
          countDistinct(col("text")).as("n_variants"))
        .filter(col("n_docs") > 1 && col("n_variants") > 1)
    }),

    // ---- typed cogroup: per-user click/purchase reconciliation —
    // both sides shuffle once onto the key, each key's two iterators
    // fold in one task (no join product ever materializes)
    "q_cogroup_recon" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp))").as("us"),
          col("event_id"), col("event_type"))
      graft.operators.CoGroup.clickPurchaseRecon(s,
        ev.filter(col("event_type") === "click")
          .select("user_id", "us", "event_id"),
        ev.filter(col("event_type") === "purchase")
          .select("user_id", "us", "event_id"))
    }),

    // ---- dedup/delta storage: content-defined chunking — boundaries
    // where the 4-gram window hash divides the divisor, so an edit only
    // perturbs nearby chunks (later boundaries re-synchronize); one
    // doc-keyed exchange shared by the lag window and the chunk groupBy
    "q_cdc_chunks" -> ((s, dir) =>
      graft.corpus.Cdc.chunks(
        s.read.parquet(t(dir, "documents")), "doc_id", "text", divisor = 16)),

    // ---- storage: cross-document chunk-store dedup — CDC chunks
    // grouped by content hash across the corpus; one combinable
    // chunk_sha shuffle after the chunker's doc-keyed exchange, with
    // deterministic min-(doc,idx) survivorship and token savings
    "q_chunk_dedup" -> ((s, dir) =>
      graft.corpus.Cdc.chunkDedup(
        s.read.parquet(t(dir, "documents")), "doc_id", "text",
        divisor = 16, minCopies = 2)),

    // ---- table evolution: mergeSchema epoch read — the old epoch
    // lacks `lang`, the merged read surfaces NULL for it; no petabyte
    // rewrite to add a column
    "q_schema_evolution" -> ((s, dir) => {
      val root = landing(s"$dir#schev", "graft_schev")(_ => ())
      graft.lineage.Evolution.mergeSchemaRead(s,
        s.read.parquet(t(dir, "documents")), root)
    }),

    // ---- table maintenance: dynamic partition overwrite — the
    // incremental recompute replaces ONLY the partition it produced
    // (src1 refreshed, every other partition still stale on read-back)
    "q_dynamic_overwrite" -> ((s, dir) => {
      val root = landing(s"$dir#dynov", "graft_dynov")(_ => ())
      graft.lineage.Evolution.dynamicPartitionRefresh(s,
        s.read.parquet(t(dir, "documents")), root)
    }),

    // ---- table maintenance: merge-on-read equality deletes — the
    // delete commits a small key file (O(deleted keys), never a data
    // rewrite); readers anti-join the delete keys at scan time
    "q_mor_deletes" -> ((s, dir) => {
      val root = landing(s"$dir#mor", "graft_mor") { tmp =>
        val tbl = s"$tmp/tbl"
        graft.lineage.ParquetCatalog.append(
          s.read.parquet(t(dir, "documents"))
            .select(col("doc_id"), col("lang"), col("n_chars")), tbl)
        graft.lineage.MorDeletes.commitDelete(
          s.read.parquet(t(dir, "documents"))
            .filter(col("doc_id") % 7 === 0).select(col("doc_id")),
          tbl, "doc_id")
      }
      graft.lineage.MorDeletes.readCurrent(s, s"$root/tbl", "doc_id")
    }),

    // ---- view maintenance: incremental equi-join delta — the three-
    // term rule (dA><B u A><dB u dA><dB); every join has a small delta
    // side, the base><base product the view already holds never runs
    "q_incremental_join" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      val a = d.select(col("doc_id"), col("lang"))
      val b = d.select(col("doc_id"), col("n_chars"))
      graft.operators.IncrementalJoin.joinDelta(
        a.filter(col("doc_id") % 2 === 0), a.filter(col("doc_id") % 2 === 1),
        b.filter(col("doc_id") % 3 =!= 0), b.filter(col("doc_id") % 3 === 0),
        "doc_id")
    }),

    // ---- fault tolerance: restart-safe PageRank — every round commits
    // to storage, so the (simulated) interrupted 3-round first attempt
    // resumes to 6 instead of restarting; identical picounit arithmetic
    // to q_pagerank, here at 6 rounds
    "q_pagerank_resume" -> ((s, dir) => {
      val c = s.read.parquet(t(dir, "customer"))
      val fwd = c.select(col("c_custkey").cast("long").as("src"),
        (lit(1000000L) + col("c_nationkey")).as("dst"))
      val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      val root = landing(s"$dir#prres", "graft_prres") { tmp =>
        // the "interrupted" first attempt: three committed rounds
        graft.operators.PageRank.pageRankResumable(edges, "src", "dst",
          iters = 3, d = 0.85, stateRoot = s"$tmp/state").count()
      }
      graft.operators.PageRank.pageRankResumable(edges, "src", "dst",
        iters = 6, d = 0.85, stateRoot = s"$root/state")
    }),

    // ---- skew: salted equi-join — output-identical to the plain join,
    // but hot probe keys spread over hash-salted sub-keys (the manual
    // form of AQE's skew split, for stages AQE can't see); events keyed
    // to 10 heavy buckets make every key hot at targetPerTask=100
    "q_salted_join" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
        .select(col("event_id"), pmod(col("user_id"), lit(10L)).as("k"))
      val dim = ev.select(col("k")).distinct()
        .select(col("k"), (col("k") * 100 + 7).as("wt"))
      graft.operators.Skew.saltedJoin(ev, dim, key = "k",
        tieCol = "event_id", targetPerTask = 100L)
        .select(col("event_id"), col("k"), col("wt"))
    }),

    // ---- entity resolution: Fellegi-Sunter match scoring over the
    // sorted-neighborhood candidates — per-field ln(m/u) agreement
    // weights precomputed driver-side into micro-nat literals, so the
    // distributed sum is exact integer addition
    "q_linkage_score" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("n_chars"), col("lang"), col("source"))
      val pairs = graft.operators.SortedNeighborhood.candidatePairs(
        d.select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", w = 4, bandWidth = 50.0)
      graft.operators.Linkage.scorePairs(pairs,
        d.withColumnRenamed("doc_id", "id"), "id",
        fields = Seq(
          (col("lang_a") === col("lang_b"), 0.9, 0.25),
          (col("source_a") === col("source_b"), 0.8, 0.2),
          (abs(col("n_chars_a") - col("n_chars_b")) * 20
            <= least(col("n_chars_a"), col("n_chars_b")), 0.7, 0.1)),
        thresholdMicro = 1500000L)
    }),

    // ---- monitoring: PSI distribution drift between two corpus epochs
    // (even/odd doc_id) over the lang histogram — per-bucket
    // (p-q)·ln(p/q) terms with Laplace smoothing; the ln is discretized
    // to micro-nats in BOTH engines (the engine-wide float discipline),
    // every other op a fixed IEEE expression. Bucket table is tiny —
    // the totals broadcast
    "q_psi_drift" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents")).select(col("doc_id"), col("lang"))
      val ref = d.filter(col("doc_id") % 2 === 0)
        .groupBy("lang").agg(count(lit(1)).as("n_ref"))
      val cur = d.filter(col("doc_id") % 2 === 1)
        .groupBy("lang").agg(count(lit(1)).as("n_cur"))
      val j = ref.join(cur, Seq("lang"), "full")
        .select(col("lang"),
          coalesce(col("n_ref"), lit(0L)).as("n_ref"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      val tot = j.agg(sum(col("n_ref")).as("t_ref"), sum(col("n_cur")).as("t_cur"),
        count(lit(1)).as("k"))
      val p = (col("n_ref") + 1).cast("double") / (col("t_ref") + col("k")).cast("double")
      val q = (col("n_cur") + 1).cast("double") / (col("t_cur") + col("k")).cast("double")
      val lnMicro = floor(log(p / q) * 1e6 + 0.5) / 1e6
      j.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_ref"), col("n_cur"),
          ((p - q) * lnMicro).as("psi_term"))
    }),

    // ---- inference: deterministic half-sample replicates — 16
    // hash-derived 50% subsamples of the corpus, each yielding an
    // integer-exact mean of n_chars (the replicate spread is the
    // uncertainty estimate a corpus-stat dashboard needs); replica
    // membership = portable hash parity, so reruns and the oracle
    // reproduce every replicate bit-for-bit. One explode-by-16 +
    // one combinable aggregation
    "q_subsample_reps" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), col("n_chars"),
          explode(sequence(lit(0), lit(15))).as("rep"))
        .filter(graft.PortableHash.md5Hash60(
          concat(lit("rep:"), col("rep").cast("string"), lit(":"),
            col("doc_id").cast("string"))) % 2 === 0)
        .groupBy(col("rep"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .withColumn("mean_chars",
          col("sum_chars").cast("double") / col("n").cast("double"))),

    // ---- freshness: exponentially-decayed event counts at the corpus
    // horizon — each event contributes floor(exp(-age/tau)*1e6) integer
    // micro-units BEFORE the sum, so the aggregate is order-immune
    // 64-bit addition (a raw double exp sum would drift with partial-
    // aggregation order); tau = 1h, horizon = max(ts)
    "q_decay_counts" -> ((s, dir) => {
      val ev = s.read.parquet(t(dir, "events"))
        .select(col("event_type"), unix_timestamp(col("ts")).as("sec"))
      val horizon = ev.agg(max(col("sec")).as("h"))
      ev.crossJoin(broadcast(horizon))
        .select(col("event_type"),
          floor(exp((col("sec") - col("h")).cast("double") / 3600.0) * 1e6)
            .cast("long").as("w_micro"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_raw"), sum(col("w_micro")).as("decayed_micro"))
    }),

    // ---- crawl policy: robots-style longest-prefix rule matching —
    // the rule table broadcasts (rule sets are small by definition),
    // match = prefix test, winner = max struct(prefix length, path);
    // record-local, zero shuffles of the URL corpus
    "q_robots_rules" -> ((s, dir) => {
      import s.implicits._
      val urls = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          concat(lit("/doc/"), (col("doc_id") % 7).cast("string"),
            lit("/p"), col("doc_id").cast("string")).as("url"))
      val rules = Seq(("/", true), ("/doc", false),
        ("/doc/3", true), ("/doc/5", true)).toDF("path", "allowed")
      urls.crossJoin(broadcast(rules))
        .filter(col("url").startsWith(col("path")))
        .groupBy(col("doc_id"), col("url"))
        .agg(max(struct(length(col("path")).as("l"), col("path").as("p"),
          col("allowed").as("a"))).as("w"))
        .select(col("doc_id"), col("url"),
          col("w.p").as("rule_path"), col("w.a").as("allowed"))
    }),

    // ---- model eval: exact ROC AUC per source (one-vs-rest lang=en,
    // score = n_chars) — the Mann-Whitney pair count collapsed onto
    // the (source, score) count table: concordant/tied/positive/
    // negative sums are exact BIGINTs, the single IEEE division runs
    // once per source, ties count half; sources lacking a class → NULL
    "q_auc" -> ((s, dir) =>
      graft.eval.Eval.aucBinary(
        s.read.parquet(t(dir, "documents"))
          .select(col("source"), col("n_chars"),
            (col("lang") === "en").as("is_en")),
        "source", "n_chars", "is_en")),

    // ---- model eval: reliability (calibration) bins — a deterministic
    // hash-derived micro-probability per doc vs the lang=en outcome;
    // per-bin mean prediction and empirical rate from integer sums
    // (the centroid division discipline: /1e6 then /n), one combinable
    // shuffle onto 10 bin rows
    "q_calibration" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(
          (graft.PortableHash.md5Hash60(
            concat(lit("cal:"), col("doc_id").cast("string"))) % 1000001L)
            .as("p_micro"),
          (col("lang") === "en").cast("long").as("pos"))
        .withColumn("bin", least(expr("p_micro div 100000"), lit(9L)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("p_micro")).as("sum_p_micro"),
          sum(col("pos")).as("n_pos"))
        .select(col("bin"), col("n"), col("n_pos"),
          (col("sum_p_micro").cast("double") / 1000000.0 /
            col("n").cast("double")).as("mean_p"),
          (col("n_pos").cast("double") / col("n").cast("double"))
            .as("frac_pos"))),

    // ---- model eval: Cohen's kappa between the NB holdout prediction
    // and the true lang — chance-corrected agreement; confusion matrix
    // is |classes|^2 rows so everything past the counting shuffle is
    // metadata-sized, po/pe/kappa one fixed IEEE chain. Single row.
    "q_cohen_kappa" -> ((s, dir) =>
      graft.eval.Eval.cohenKappa(
        graft.textops.NaiveBayes.classifyHoldout(
          s.read.parquet(t(dir, "documents")), "doc_id", "lang", "text"),
        "label", "pred_label")),

    // ---- retrieval eval: nDCG@10 + reciprocal rank per query over a
    // deterministic 20-query retrieval (candidates = doc_id mod 20,
    // score = portable hash, graded relevance from n_chars); DCG/IDCG
    // are integer micro-sums against LITERAL per-rank weight tables
    // (no ln at compare time), one IEEE division per query
    "q_ndcg" -> ((s, dir) =>
      graft.eval.Eval.ndcgAtK(
        s.read.parquet(t(dir, "documents"))
          .select((col("doc_id") % 20).as("query_id"), col("doc_id"),
            graft.PortableHash.md5Hash60(
              concat(lit("ret:"), col("doc_id").cast("string"))).as("score"),
            when(col("n_chars") % 5 === 0, 2L)
              .when(col("n_chars") % 3 === 0, 1L)
              .otherwise(0L).as("rel")),
        "query_id", "doc_id", "score", "rel", k = 10)),

    // ---- experimentation: sample-ratio-mismatch chi-square terms —
    // hash-assign event users to 3 arms, per-arm term
    // (3*observed - n)^2 / (3n) from exact integers (algebraically
    // (o - n/3)^2 / (n/3) without a pre-floor double); the guardrail
    // that catches a biased assignment hash before anyone reads the
    // experiment. 3 output rows
    "q_srm_chisq" -> ((s, dir) => {
      val arms = s.read.parquet(t(dir, "events"))
        .select(col("user_id")).distinct()
        .select((graft.PortableHash.md5Hash60(
          concat(lit("exp1:"), col("user_id").cast("string"))) % 3).as("arm"))
        .groupBy(col("arm")).agg(count(lit(1)).as("n_users"))
      val tot = arms.agg(sum(col("n_users")).as("n_total"))
      arms.crossJoin(broadcast(tot))
        .select(col("arm"), col("n_users"), col("n_total"),
          ((lit(3L) * col("n_users") - col("n_total")) *
            (lit(3L) * col("n_users") - col("n_total"))).cast("double")
            ./((lit(3L) * col("n_total")).cast("double")).as("chisq_term"))
    }),

    // ---- crawl policy: per-host politeness scheduling — every URL
    // gets a fetch slot = its priority rank within the host, fetch
    // time = slot * the host's crawl delay; the window partitions by
    // host so no partition ever holds more than one host's frontier
    // (the per-host slate is the semantic unit, like nDCG's queries)
    "q_crawl_schedule" -> ((s, dir) => {
      val urls = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          concat(lit("h"), (col("doc_id") % 50).cast("string")).as("host"),
          (lit(1L) + (col("doc_id") % 50) % 5).as("delay_sec"),
          graft.PortableHash.md5Hash60(
            concat(lit("crawl:"), col("doc_id").cast("string"))).as("prio"))
      urls.withColumn("slot",
          row_number().over(Window.partitionBy("host")
            .orderBy(col("prio").asc, col("doc_id").asc)).cast("long") - 1L)
        .select(col("doc_id"), col("host"), col("slot"),
          (col("slot") * col("delay_sec")).as("fetch_at_sec"))
    }),

    // ---- crawl analytics: URL path-prefix hierarchical rollup — each
    // URL contributes one row per path prefix (generated record-locally
    // with a bounded transform, never a self-join), then one combinable
    // count shuffle onto the prefix trie; the per-directory volume
    // readout a crawl dashboard wants
    "q_path_rollup" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select(col("n_chars"),
          concat(lit("/a"), (col("doc_id") % 5).cast("string"),
            lit("/b"), (col("doc_id") % 7).cast("string"),
            lit("/p"), col("doc_id").cast("string")).as("url"))
        .select(col("n_chars"),
          explode(expr(
            "transform(sequence(1, 3), d -> " +
              "struct(d AS depth, concat('/', " +
              "array_join(slice(split(url, '/'), 2, d), '/')) AS prefix))"))
            .as("pp"))
        .groupBy(col("pp.prefix").as("prefix"), col("pp.depth").as("depth"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))),

    // ---- bitext/near-dup mining: mutual nearest-neighbor pairs — each
    // vector's best cosine neighbor (index-ordered fold, so the a->b
    // and b->a scores are bit-identical), kept only when the choice is
    // reciprocal; the exact bounded baseline on a 1-in-4 slice (the
    // LSH/IVF paths are the scale route, this is the verification net)
    "q_mutual_knn" -> ((s, dir) => {
      // per-vector norms precomputed ONCE (n rows) before the n^2
      // cross join — the same IEEE expression as the former per-pair
      // form (sqrt of the identical index-ordered fold), so the cosine
      // stays bit-identical while the pair stage drops from three
      // 64-element folds to one
      val v = s.read.parquet(t(dir, "embeddings"))
        .filter(col("vec_id") % 4 === 0)
        .select(col("vec_id"), col("embedding"),
          sqrt(dotFold(col("embedding"), col("embedding"))).as("nrm"))
      // spread the probe side BEFORE the n^2 pair stage: the slice
      // comes from a single-file scan, so the whole bounded cross
      // product otherwise runs in ONE task (measured a 1.4 s
      // single-task stage at sf0.1 = ~80% of the query's wall — the
      // EditJoin posture); the broadcast build side stays unspread
      val probe = graft.Parallelize.bySplits(v, "vec_id")
      val cos = probe.crossJoin(broadcast(
          v.select(col("vec_id").as("o_id"), col("embedding").as("ov"),
            col("nrm").as("o_nrm"))))
        .filter(col("vec_id") =!= col("o_id"))
        .select(col("vec_id"), col("o_id"),
          (dotFold(col("embedding"), col("ov")) /
            (col("nrm") * col("o_nrm"))).as("cos"))
      val best = cos.groupBy(col("vec_id"))
        .agg(max(struct(col("cos"), (-col("o_id")).as("no"))).as("b"))
        .select(col("vec_id"), (-col("b.no")).as("best_id"),
          col("b.cos").as("best_cos"))
      best.as("a").join(best.as("b"),
          col("a.best_id") === col("b.vec_id") &&
            col("b.best_id") === col("a.vec_id") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          col("a.best_cos").as("cos"))
    }),

    // ---- custom DataSourceV2: the span-TSV connector — column
    // pruning, doc_id filter pushdown, and planning-time zone-map file
    // skipping implemented at the connector boundary (SpanTsvSource);
    // the landing zone materializes once per input dir, the query
    // reads back through format("graft.sources.SpanTsvSource") with a
    // pushed doc_id window + a residual media_ref filter
    "q_spantsv_source" -> ((s, dir) =>
      graft.sources.SpanTsv.read(s, spanTsvLanding(s, dir), bucketWidth = 50L)
        .filter(col("doc_id") >= 100 && col("doc_id") <= 299 &&
          col("media_ref") =!= "")
        .select(col("doc_id"), col("offset"), col("kind"), col("media_ref"),
          length(col("text")).as("text_len"))),

    // ---- storage layout: zone-map prune audit — docs clustered on
    // n_chars (GlobalRank's band-offset two-pass, never a global sort)
    // into 50-row "files", per-file min/max stats, then the
    // would-scan decision for predicate 200 <= n_chars <= 300; the
    // readout that proves clustering turns a full scan into a handful
    // of file reads (the Iceberg/parquet row-group skipping model)
    "q_zonemap_prune" -> ((s, dir) =>
      graft.operators.GlobalRank.rankBy(
          s.read.parquet(t(dir, "documents"))
            .select(col("doc_id"), col("n_chars")),
          "n_chars", "doc_id", bandWidth = 50.0)
        .select(expr("(global_rank - 1) div 50").as("bucket"), col("n_chars"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), min(col("n_chars")).as("min_c"),
          max(col("n_chars")).as("max_c"))
        .withColumn("would_scan",
          (col("max_c") >= 200 && col("min_c") <= 300).cast("int"))),

    // ---- model eval: precision/recall threshold sweep — the PR curve
    // from the same (score) count table as q_auc: tp/fp at "predict
    // positive when score >= thr" are running sums over DISTINCT
    // scores (a metadata-sized frame, |distinct n_chars| rows), class
    // totals broadcast; the curve a filter threshold is picked from
    "q_threshold_sweep" -> ((s, dir) => {
      val ct = s.read.parquet(t(dir, "documents"))
        .groupBy(col("n_chars").as("thr"))
        .agg(sum((col("lang") === "en").cast("long")).as("np"),
          sum((col("lang") =!= "en").cast("long")).as("nn"))
      val tot = ct.agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"))
      val w = Window.orderBy(col("thr").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ct.withColumn("tp", sum(col("np")).over(w))
        .withColumn("fp", sum(col("nn")).over(w))
        .crossJoin(broadcast(tot))
        .select(col("thr"), col("tp"), col("fp"),
          (col("n_pos") - col("tp")).as("fn"),
          (col("tp").cast("double") /
            (col("tp") + col("fp")).cast("double")).as("precision"),
          (col("tp").cast("double") / col("n_pos").cast("double"))
            .as("recall"))
    }),

    // ---- corpus stats: vocabulary growth (Heaps law) per epoch — each
    // trigram TYPE is charged to the FIRST epoch that saw it (min over
    // a combinable shuffle; trigrams, because the unigram vocab
    // saturates in one epoch and the readout degenerates), new-type
    // counts + running cumulative over the 4-row epoch frame; the
    // freshness readout for deciding whether another crawl epoch still
    // buys vocabulary. Trigram generation is record-local
    "q_vocab_growth" -> ((s, dir) =>
      s.read.parquet(t(dir, "documents"))
        .select((col("doc_id") % 4).as("epoch"),
          split(col("text"), " ", -1).as("ts"))
        .filter(size(col("ts")) >= 3)
        .select(col("epoch"), explode(expr(
          "transform(sequence(1, size(ts) - 2), i -> " +
            "concat(element_at(ts, i), ' ', element_at(ts, i + 1), ' ', " +
            "element_at(ts, i + 2)))")).as("tok"))
        .groupBy(col("tok")).agg(min(col("epoch")).as("epoch"))
        .groupBy(col("epoch")).agg(count(lit(1)).as("new_types"))
        .withColumn("cum_types",
          sum(col("new_types")).over(Window.orderBy("epoch")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))),

    // ---- streaming: stream-stream LEFT OUTER join drain — unmatched
    // left rows emit null-padded only after the global watermark proves
    // no future match (sentinel files advance it; see
    // streamJoinOuterDrain); docs with doc_id%13 > 10 miss the 600s
    // range and surface with NULL r_epoch/score
    "stream_join_outer" -> ((s, dir) =>
      s.read.parquet(streamJoinOuterDrain(s, dir))
        .filter(col("doc_id") >= 0)
        .select(col("doc_id"),
          col("l_ts").cast("long").as("l_epoch"),
          col("r_ts").cast("long").as("r_epoch"),
          col("lang"), col("score")))
  )

  /** The deterministic doc->doc link graph every graph query shares
    * (q_link_graph derives it from parsed HTML anchors; q_hits/q_kcore
    * and the BFS/random-walk queries use this arithmetic equivalent):
    * 3 out-links per doc, (doc_id * 31 + 97k) mod corpus size.
    */
  private def docLinkEdges(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(t(dir, "documents")).select(col("doc_id"))
    val withCnt = docs.crossJoin(broadcast(docs.agg(count(lit(1)).as("cnt"))))
    withCnt.select(col("doc_id").as("src"),
      explode(array(
        (col("doc_id") * 31 + 97) % col("cnt"),
        (col("doc_id") * 31 + 194) % col("cnt"),
        (col("doc_id") * 31 + 291) % col("cnt"))).as("dst"))
  }

  /** Multi-line text where only odd docs' body lines terminate in
    * punctuation: "Sentence line." vs bare token lines, plus an
    * unterminated nav header and a quoted line (passes via '"').
    */
  private def withPunctText(df: DataFrame): DataFrame =
    df.select(col("doc_id"), concat(
      lit("Home | About\n"),
      when(col("doc_id") % 2 === 1, concat(col("text"), lit(".")))
        .otherwise(col("text")),
      lit("\n\"quoted line\"\nref "), col("doc_id").cast("string")).as("t"))

  /** Gopher-panel dirt: bullet lines prepended (doc%3), ellipsis teaser
    * lines appended (doc%4, one ASCII one U+2026), symbol+number spam
    * appended (doc%5) — exercises every rule branch on corpus data.
    */
  private def gopherDirt: Column = {
    val t1 = when(col("doc_id") % 3 === 0,
      concat(lit("- item one\n- item two\n"), col("text"))).otherwise(col("text"))
    val t2 = when(col("doc_id") % 4 === 0,
      concat(t1, lit("\nread more...\nand then…"))).otherwise(t1)
    when(col("doc_id") % 5 === 0,
      concat(t2, lit(" ## # 1234 42"))).otherwise(t2)
  }

  /** Mojibake dirt: "Ã©" double-encode (doc%7), U+FFFD replacement
    * (doc%9), C1 NEL control (doc%11), "â€™" right-quote double-encode
    * (doc%13) — each signal fires independently.
    */
  private def mojibakeDirt: Column = {
    val t1 = when(col("doc_id") % 7 === 0,
      concat(col("text"), lit(" cafÃ©"))).otherwise(col("text"))
    val t2 = when(col("doc_id") % 9 === 0,
      concat(t1, lit(" �"))).otherwise(t1)
    val t3 = when(col("doc_id") % 11 === 0,
      concat(t2, lit("\u0085ok"))).otherwise(t2)
    when(col("doc_id") % 13 === 0,
      concat(t3, lit(" donâ€™t"))).otherwise(t3)
  }

  /** Deterministic dirt over documents.text: a combining-accent suffix
    * (doc%3 — NFC must compose it), an NBSP + tab-run + trailing-space
    * wrapper (doc%4), and a control character (doc%5).
    */
  private def dirtyText: Column = {
    val t1 = when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(" caf"), lit("e\u0301"))).otherwise(col("text"))
    val t2 = when(col("doc_id") % 4 === 0,
      concat(lit("\u00a0x\t\t "), t1, lit("  "))).otherwise(t1)
    when(col("doc_id") % 5 === 0, concat(t2, lit("\u0007z"))).otherwise(t2)
  }

  /** Markdown sibling of [[extractCsv]]: same table IR, GFM strings. */
  private def extractMarkdown(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = SpanGen.fromDocuments(spark, dir)
    docs.flatMap { d =>
      val (_, tables) = Extract.extractDocTables(d)
      tables.iterator.zipWithIndex.map { case (tb, i) =>
        (d.doc_id, i, graft.sinks.Markdown.fromTable(tb))
      }
    }.toDF("doc_id", "table_idx", "md")
  }

  /** Deterministic multi-line text per document: a shared site header
    * (case varies by parity — the normalized fold must still count it
    * as ONE line), the doc body, a blank line, a per-source copyright
    * footer, and a unique ref line.
    */
  private def withMultilineText(df: DataFrame): DataFrame =
    df.select(col("doc_id"), concat(
      when(col("doc_id") % 2 === 0, lit("HOME | About | Contact"))
        .otherwise(lit("home | about | contact")),
      lit("\n"), col("text"), lit("\n\ncopyright "), col("source"),
      lit("\nref "), col("doc_id").cast("string")).as("t"))

  /** Per-SOURCE banner + footer on 60% of each source's docs (the
    * header/footer template-strip fixture): enough share to clear the
    * 30% detection threshold, with 40% of docs undecorated so a false
    * positive would change their output row.
    */
  private def withSiteTemplates(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("source"),
      when(col("doc_id") % 5 < 3, concat(
        lit("NAV "), col("source"), lit(" MENU\n"), col("text"),
        lit("\n(c) "), col("source"), lit(" footer")))
        .otherwise(col("text")).as("t"))

  /** Deterministic absolute URL per document: every third doc gets a
    * cdn. subdomain so registeredDomain must actually strip it.
    */
  private def withUrl(df: DataFrame): DataFrame =
    df.withColumn("url", concat(
      lit("https://"),
      when(col("doc_id") % 3 === 0, lit("cdn.")).otherwise(lit("")),
      col("source"), lit(".com/"), col("lang"), lit("/"),
      col("doc_id").cast("string")))

  /** Deterministic HTML fragment per document, exercising every branch
    * of the strip heuristic: a <title> block (kept), a <script>
    * (dropped wholesale), an all-link <nav> (link density 1 ->
    * dropped), the doc text as a <p> (kept; dropped if whitespace-only),
    * a comment (skipped), a mixed text+link block with an entity
    * (density 1/6 <= 1/3 -> kept, &amp; decoded), and an all-link
    * <footer> (dropped). The DuckDB oracle recomputes the three kept
    * blocks directly.
    */
  private def htmlDoc(docId: Column, text: Column): Column = concat(
    lit("<html><head><title>Doc "), docId.cast("string"),
    lit("</title><script>var x = 1;</script></head><body>"),
    lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a></nav><p>"),
    text,
    lit("</p><!-- boilerplate comment --><p>Tags &amp; refs: <a href=\"#\">link</a> entry "),
    docId.cast("string"),
    lit("</p><footer><a href=\"#\">Privacy</a></footer></body></html>"))

  /** Shared CTE chain reconstructing the extraction in pure SQL over an
    * input span table `Verify` dumps under {OUT}/<src> — the independent
    * oracle for the extraction core: run segmentation by kind streaks,
    * then per-run closed-interval union per axis (gaps-and-islands;
    * touching intervals merge, so the break is start > prev_max) giving
    * x-islands (columns) and y-islands (row bands). Two cell chains
    * build on it:
    *  - E1 (box/box.go:250-280): cell = (y-island, x-island), cell text
    *    = ordered string_agg (== the reference's per-append trim fold
    *    for clean words), dense y-islands x x-islands grid;
    *  - E2 (textract/textract.go:214-265): rows from leftX-decrease
    *    segmentation over the (row-band, leftX) word order — with the
    *    verbatim prevX=0 seeding quirk: the second word overall
    *    compares against 0.0 and can never open a row — and bucket =
    *    x-island index, valid under the corpus constraint that words
    *    step through islands by <=1 per row (then the reference's
    *    one-step pointer, extract.go:109-115, equals count-of-splits);
    *    dense rows x (splits+1) grid.
    * On the MAIN corpus (dense seeded grids, FIXTURES.md §2) E1 == E2,
    * so the four extract_* span queries share the E1 chain; the
    * adversarial corpus (SpanGen.adversarialDocs) makes them diverge
    * and each extract_*_adv row replays its own strategy. E2-midpoint
    * shares E2's oracle because through the composed pipeline the two
    * bucketings are PROVABLY identical: a FindSplits gap is an x-region
    * no word's extent touches, so a word's left edge and midpoint fall
    * on the same side of every split (property-gated in
    * GeomPropertySpec).
    */
  private def extractCommonCtes(src: String): String =
    s"""WITH sp AS (
      |  SELECT doc_id, "offset", kind, text, media_ref
      |  FROM '{OUT}/$src/*.parquet'
      |), runs AS (
      |  SELECT *, CAST(sum(brk) OVER (PARTITION BY doc_id ORDER BY "offset"
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rid
      |  FROM (
      |    SELECT *, CASE WHEN kind = lag(kind) OVER (PARTITION BY doc_id ORDER BY "offset")
      |      THEN 0 ELSE 1 END AS brk
      |    FROM sp)
      |), wb AS (
      |  SELECT doc_id, rid, "offset", text,
      |    CAST(string_split(media_ref, ',')[1] AS DOUBLE) AS x0,
      |    CAST(string_split(media_ref, ',')[2] AS DOUBLE) AS x1,
      |    CAST(string_split(media_ref, ',')[3] AS DOUBLE) AS y0,
      |    CAST(string_split(media_ref, ',')[4] AS DOUBLE) AS y1
      |  FROM runs WHERE kind = 'word_box'
      |), xi AS (
      |  SELECT doc_id, rid, "offset",
      |    CAST(sum(CASE WHEN prev_max IS NULL OR x0 > prev_max THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id, rid ORDER BY x0, x1, "offset"
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ci
      |  FROM (
      |    SELECT doc_id, rid, "offset", x0, x1,
      |      max(x1) OVER (PARTITION BY doc_id, rid ORDER BY x0, x1, "offset"
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |    FROM wb)
      |), yi AS (
      |  SELECT doc_id, rid, "offset",
      |    CAST(sum(CASE WHEN prev_max IS NULL OR y0 > prev_max THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id, rid ORDER BY y0, y1, "offset"
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ri
      |  FROM (
      |    SELECT doc_id, rid, "offset", y0, y1,
      |      max(y1) OVER (PARTITION BY doc_id, rid ORDER BY y0, y1, "offset"
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |    FROM wb)
      |), joined AS (
      |  SELECT w.doc_id, w.rid, w."offset", w.text, w.x0, yi.ri AS band, xi.ci
      |  FROM wb w
      |  JOIN xi ON xi.doc_id = w.doc_id AND xi.rid = w.rid AND xi."offset" = w."offset"
      |  JOIN yi ON yi.doc_id = w.doc_id AND yi.rid = w.rid AND yi."offset" = w."offset"
      |)""".stripMargin

  /** E1 cell chain: cell = (y-island, x-island), dense grid. */
  private val e1CellCtes: String =
    """, boxes AS (
      |  SELECT doc_id, rid, "offset", text, x0, band AS ri, ci FROM joined
      |), celltxt AS (
      |  SELECT doc_id, rid, ri, ci, string_agg(text, ' ' ORDER BY x0, "offset") AS txt
      |  FROM boxes GROUP BY 1, 2, 3, 4
      |), dims AS (
      |  SELECT doc_id, rid, max(ri) AS nr, max(ci) AS nc FROM boxes GROUP BY 1, 2
      |), rows_g AS (
      |  SELECT doc_id, rid, nc, unnest(range(1, nr + 1)) AS ri FROM dims
      |), cells_g AS (
      |  SELECT doc_id, rid, ri, unnest(range(1, nc + 1)) AS ci FROM rows_g
      |), cells AS (
      |  SELECT g.doc_id, g.rid, g.ri, g.ci, coalesce(t.txt, '') AS txt
      |  FROM cells_g g LEFT JOIN celltxt t
      |    ON t.doc_id = g.doc_id AND t.rid = g.rid AND t.ri = g.ri AND t.ci = g.ci
      |)""".stripMargin

  /** E2 cell chain: leftX-decrease row segmentation in (row-band, leftX)
    * word order — seq=2 compares against a literal 0.0 (the reference's
    * prevX=0 seeding quirk, extract.go:126-140, replicated verbatim) —
    * and bucket = x-island index (== the one-step pointer under the
    * corpus's step-by-<=1 constraint); dense rows x islands grid.
    */
  private val e2CellCtes: String =
    """, ws AS (
      |  SELECT doc_id, rid, "offset", text, x0, ci,
      |    row_number() OVER (PARTITION BY doc_id, rid ORDER BY band, x0, "offset") AS seq
      |  FROM joined
      |), rb AS (
      |  SELECT *, CASE WHEN seq = 1 THEN 0
      |    WHEN x0 < (CASE WHEN seq = 2 THEN 0.0
      |      ELSE lag(x0) OVER (PARTITION BY doc_id, rid ORDER BY seq) END) THEN 1
      |    ELSE 0 END AS brk
      |  FROM ws
      |), rowsq AS (
      |  SELECT *, CAST(sum(brk) OVER (PARTITION BY doc_id, rid ORDER BY seq
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS BIGINT) AS e2r
      |  FROM rb
      |), e2celltxt AS (
      |  SELECT doc_id, rid, e2r AS ri, ci, string_agg(text, ' ' ORDER BY x0, "offset") AS txt
      |  FROM rowsq GROUP BY 1, 2, 3, 4
      |), e2dims AS (
      |  SELECT doc_id, rid, max(e2r) AS nr, max(ci) AS nc FROM rowsq GROUP BY 1, 2
      |), e2rows_g AS (
      |  SELECT doc_id, rid, nc, unnest(range(1, nr + 1)) AS ri FROM e2dims
      |), e2cells_g AS (
      |  SELECT doc_id, rid, ri, unnest(range(1, nc + 1)) AS ci FROM e2rows_g
      |), cells AS (
      |  SELECT g.doc_id, g.rid, g.ri, g.ci, coalesce(t.txt, '') AS txt
      |  FROM e2cells_g g LEFT JOIN e2celltxt t
      |    ON t.doc_id = g.doc_id AND t.rid = g.rid AND t.ri = g.ri AND t.ci = g.ci
      |)""".stripMargin

  /** Flat-span tail shared by every strategy (runs pass-through + cell
    * emission + renumbering + per-doc stats).
    */
  /** Span-assembly tail split in two so q_span_diff can wrap the final
    * SELECT as a CTE (`spansTailCtes + ", a AS (" + spansFinalSelect +
    * ")"`) and keep diffing ctes on top of the green E1 chain.
    */
  private val spansOracleTail: String = spansTailCtes + "\n" + spansFinalSelect

  private lazy val spansFinalSelect: String =
    """SELECT n.doc_id, n."offset", n.kind, n.text, n.media_ref,
      |  coalesce(s.n_tables, 0) AS n_tables, coalesce(s.n_cells, 0) AS n_cells,
      |  'ok' AS status
      |FROM numbered n LEFT JOIN stats s USING (doc_id)""".stripMargin

  private lazy val spansTailCtes: String =
    """, outsp AS (
      |  SELECT doc_id, rid, CAST("offset" AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2,
      |    kind, text, media_ref
      |  FROM runs WHERE kind <> 'word_box'
      |  UNION ALL
      |  SELECT doc_id, rid, ri AS s1, ci AS s2, 'cell' AS kind, txt AS text,
      |    CAST(ri AS VARCHAR) || ',' || CAST(ci AS VARCHAR) AS media_ref
      |  FROM cells
      |), numbered AS (
      |  SELECT doc_id, kind, text, media_ref,
      |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY rid, s1, s2) - 1 AS INTEGER) AS "offset"
      |  FROM outsp
      |), stats AS (
      |  SELECT doc_id, CAST(count(DISTINCT rid) AS INTEGER) AS n_tables,
      |    CAST(count(*) AS INTEGER) AS n_cells
      |  FROM cells GROUP BY doc_id
      |)""".stripMargin

  private def extractSpansOracle(src: String = "spans_input"): String =
    extractCommonCtes(src) + e1CellCtes + spansOracleTail

  private def extractE2SpansOracle(src: String): String =
    extractCommonCtes(src) + e2CellCtes + spansOracleTail

  private val extractCsvOracle: String =
    extractCommonCtes("spans_input") + e1CellCtes +
      """, rowstr AS (
        |  SELECT doc_id, rid, ri, string_agg(txt, ',' ORDER BY ci) AS line
        |  FROM cells GROUP BY 1, 2, 3
        |), csvs AS (
        |  SELECT doc_id, rid, string_agg(line, chr(10) ORDER BY ri) || chr(10) AS csv
        |  FROM rowstr GROUP BY 1, 2
        |)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY rid) - 1 AS INTEGER) AS table_idx,
        |  csv
        |FROM csvs""".stripMargin

  /** Shared CTE chain (no WITH prefix) replaying the portable MinHash
    * construction (md5-derived 60-bit base mod P, affine per-seed
    * transforms, band-slice bucket keys) verbatim; every step is exact
    * integer arithmetic in both engines. Ends at CTE `est`
    * (id_a, id_b, est_jaccard).
    */
  /** IVF oracle building blocks, shared by q_ann_ivf and
    * q_semantic_dedup: the deterministic training replay (lowest-id
    * init, fixed-point centroid sums, lowest-c tie-breaks) ending in
    * the final assignment CTE `af` over codebook `c<iters>`.
    */
  private val IvfDim = 64
  private def ivfRng = s"range(1, ${IvfDim + 1})"
  private def ivfDot(a: String, b: String) =
    s"list_sum(list_transform($ivfRng, i -> $a.v[i] * $b.v[i]))"
  private def ivfNrm(a: String) =
    s"sqrt(list_sum(list_transform($ivfRng, i -> $a.v[i] * $a.v[i])))"
  // assignment sim: both norms guarded (Ivf.assign); probe sim:
  // centroid norm unguarded (Model.nearest) — replicated verbatim
  private def ivfAssignCte(name: String, prev: String) =
    s"""$name AS (
       |  SELECT vec_id, c FROM (
       |    SELECT v.vec_id, k.c, row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |      (${ivfDot("k", "v")} / (greatest(${ivfNrm("k")}, 1e-12) * greatest(${ivfNrm("v")}, 1e-12))) DESC,
       |      k.c ASC) AS rn
       |    FROM vecs v CROSS JOIN $prev k) WHERE rn = 1
       |)""".stripMargin
  private def ivfTrainCtes(nList: Int, iters: Int): String = {
    val S = graft.ann.Ivf.FixedPointScale
    def updateCtes(x: Int, prev: String) =
      s"""m$x AS (
         |  SELECT a.c, d.i,
         |    CAST(sum(CAST(floor(vv.v[d.i] * $S + 0.5) AS BIGINT)) AS DOUBLE)
         |      / ($S.0 * CAST(count(*) AS DOUBLE)) AS mean
         |  FROM a$x a JOIN vecs vv ON vv.vec_id = a.vec_id CROSS JOIN dims d
         |  GROUP BY a.c, d.i
         |), c$x AS (
         |  SELECT o.c, coalesce(n.v, o.v) AS v
         |  FROM $prev o LEFT JOIN
         |    (SELECT c, list(mean ORDER BY i) AS v FROM m$x GROUP BY c) n ON n.c = o.c
         |)""".stripMargin
    val iterations = (1 to iters).map { x =>
      ivfAssignCte(s"a$x", s"c${x - 1}") + ", " + updateCtes(x, s"c${x - 1}")
    }.mkString(", ")
    s"""vecs AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
       |), dims AS (
       |  SELECT unnest(range(1, ${IvfDim + 1})) AS i
       |), c0 AS (
       |  SELECT rn - 1 AS c, v FROM (
       |    SELECT row_number() OVER (ORDER BY vec_id) AS rn, v FROM vecs) WHERE rn <= $nList
       |), $iterations, ${ivfAssignCte("af", s"c$iters")}""".stripMargin
  }

  /** PQ oracle building blocks (q_ann_pq): the per-subspace training
    * replay — sliced vectors sv<m>, lowest-id init c0_<m>, fixed-point
    * Lloyd's rounds with strict-less L2 argmin (dist ASC, c ASC ==
    * Pq.assignSub's strict-less / keep-lowest-code), ending in final
    * assignments af_<m> over codebooks c<iters>_<m>. Every arithmetic
    * step mirrors Ivf.lloyd's accumulation order bit-for-bit.
    */
  private def pqCtes(numSub: Int, kSub: Int, iters: Int,
      defineVecs: Boolean = true): String = {
    val S = graft.ann.Ivf.FixedPointScale
    val subDim = IvfDim / numSub
    def l2(a: String, b: String) =
      s"list_sum(list_transform(range(1, ${subDim + 1}), i -> ($a.v[i] - $b.v[i]) * ($a.v[i] - $b.v[i])))"
    def assignCte(name: String, mi: Int, prev: String) =
      s"""$name AS (
         |  SELECT vec_id, c FROM (
         |    SELECT v.vec_id, k.c, row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      ${l2("v", "k")} ASC, k.c ASC) AS rn
         |    FROM sv$mi v CROSS JOIN $prev k) WHERE rn = 1
         |)""".stripMargin
    val perSub = (0 until numSub).map { mi =>
      val init =
        s"""sv$mi AS (
           |  SELECT vec_id, list_slice(v, ${mi * subDim + 1}, ${(mi + 1) * subDim}) AS v FROM vecs
           |), c0_$mi AS (
           |  SELECT rn - 1 AS c, v FROM (
           |    SELECT row_number() OVER (ORDER BY vec_id) AS rn, v FROM sv$mi) WHERE rn <= $kSub
           |)""".stripMargin
      val iterations = (1 to iters).map { x =>
        assignCte(s"a${x}_$mi", mi, s"c${x - 1}_$mi") + ", " +
          s"""m${x}_$mi AS (
             |  SELECT a.c, d.i,
             |    CAST(sum(CAST(floor(vv.v[d.i] * $S + 0.5) AS BIGINT)) AS DOUBLE)
             |      / ($S.0 * CAST(count(*) AS DOUBLE)) AS mean
             |  FROM a${x}_$mi a JOIN sv$mi vv ON vv.vec_id = a.vec_id CROSS JOIN sdims d
             |  GROUP BY a.c, d.i
             |), c${x}_$mi AS (
             |  SELECT o.c, coalesce(n.v, o.v) AS v
             |  FROM c${x - 1}_$mi o LEFT JOIN
             |    (SELECT c, list(mean ORDER BY i) AS v FROM m${x}_$mi GROUP BY c) n ON n.c = o.c
             |)""".stripMargin
      }.mkString(", ")
      init + ", " + iterations + ", " + assignCte(s"af_$mi", mi, s"c${iters}_$mi")
    }.mkString(", ")
    // defineVecs=false when composing with ivfTrainCtes (q_ann_ivfpq),
    // which already defines the identical `vecs` CTE
    val vecsCte = if (defineVecs)
      """vecs AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
        |), """.stripMargin
    else ""
    s"""${vecsCte}sdims AS (
       |  SELECT unnest(range(1, ${subDim + 1})) AS i
       |), $perSub""".stripMargin
  }

  /** Signature-match sum over the oracle's per-component sig columns of
    * aliases `sa`/`sb` — shared by the pair, eval and incremental CTEs.
    */
  private def minhashEqSum: String = (0 until 64)
    .map(i => s"CASE WHEN sa.mh_$i = sb.mh_$i THEN 1 ELSE 0 END")
    .mkString(" + ")

  /** The shingle -> signature -> banded-keys replay (CTEs t, sh, hx,
    * sig, bands_t) shared by every minhash-family oracle.
    */
  private val minhashSigCtes: String = {
    val k = 64; val bands = 16; val r = k / bands; val p = Dedup.MinhashP
    val minCols = (0 until k).map(i =>
      s"min((${Dedup.minhashA(i)} * x + ${Dedup.minhashB(i)}) % $p) AS mh_$i")
      .mkString(", ")
    val bandSelects = (0 until bands).map { b =>
      val key = (0 until r).map(j => s"CAST(mh_${b * r + j} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT id, $b AS band, $key AS bkey FROM sig"
    }.mkString(" UNION ALL ")
    s"""t AS (
       |  SELECT doc_id AS id, string_split(text, ' ') AS toks FROM documents
       |), sh AS (
       |  SELECT DISTINCT id, s AS shingle FROM (
       |    SELECT id, unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
       |    FROM t)
       |), hx AS (
       |  SELECT id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % $p AS x FROM sh
       |), sig AS (
       |  SELECT id, $minCols FROM hx GROUP BY id
       |), bands_t AS (
       |  $bandSelects
       |)""".stripMargin
  }

  private val minhashPairsCtes: String =
    s"""$minhashSigCtes, cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bands_t a JOIN bands_t b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
       |), est AS (
       |  SELECT id_a, id_b, CAST($minhashEqSum AS BIGINT) AS n_match,
       |    CAST($minhashEqSum AS DOUBLE) / 64 AS est_jaccard
       |  FROM cand JOIN sig sa ON sa.id = id_a JOIN sig sb ON sb.id = id_b
       |)""".stripMargin

  /** Recursive replay of trained-BPE application from the dumped merge
    * table ('{OUT}/q_bpe_merges'): per distinct word, start from
    * codepoints and repeatedly merge the LEFTMOST occurrence of the
    * lowest-rank adjacent pair until none applies — exactly
    * BpeCodec.segmentWord. Pair keys join symbols with a space, the one
    * character symbols can never contain (words are split on it). Must
    * be prefixed by WITH RECURSIVE. Ends at CTE `doctok`
    * (doc_id, n_bpe).
    */
  private val bpeApplyCtes: String = {
    // adjacent-pair ranks of the current segmentation: list_position is
    // 1-based = the dump's rank column; 0 = pair not in the table
    val pairRanks =
      """list_transform(list_transform(range(1, len(seg)),
        |      i -> seg[CAST(i AS INT)] || ' ' || seg[CAST(i AS INT) + 1]),
        |      pr -> list_position(pl, pr))""".stripMargin
    s"""mlist AS (
       |  SELECT coalesce(list(left_sym || ' ' || right_sym ORDER BY rank),
       |                  CAST([] AS VARCHAR[])) AS pl
       |  FROM '{OUT}/q_bpe_merges/*.parquet'
       |), words AS (
       |  SELECT DISTINCT w AS word
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> ''
       |), seg AS (
       |  SELECT word, list_transform(range(1, length(word) + 1),
       |    i -> substr(word, CAST(i AS INT), 1)) AS seg
       |  FROM words
       |  UNION ALL
       |  SELECT word,
       |    list_slice(seg, 1, p - 1) || [seg[p] || seg[p + 1]]
       |      || list_slice(seg, p + 2, len(seg)) AS seg
       |  FROM (
       |    SELECT word, seg, pl,
       |      list_min(list_filter($pairRanks, x -> x > 0)) AS br
       |    FROM seg CROSS JOIN mlist) s,
       |    LATERAL (SELECT list_position(list_transform(range(1, len(seg)),
       |      i -> seg[CAST(i AS INT)] || ' ' || seg[CAST(i AS INT) + 1]),
       |      pl[CAST(br AS INT)]) AS p)
       |  WHERE br IS NOT NULL
       |), wtok AS (
       |  SELECT word, len(seg) AS n
       |  FROM seg CROSS JOIN mlist
       |  WHERE len(list_filter($pairRanks, x -> x > 0)) = 0
       |), doctok AS (
       |  SELECT d.doc_id, CAST(coalesce(sum(t.n), 0) AS BIGINT) AS n_bpe
       |  FROM documents d
       |  LEFT JOIN (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |             FROM documents) dw
       |    ON dw.doc_id = d.doc_id AND dw.w <> ''
       |  LEFT JOIN wtok t ON t.word = dw.w
       |  GROUP BY d.doc_id
       |)""".stripMargin
  }

  /** The three kept blocks of `htmlDoc` recomputed directly: title,
    * whitespace-normalized doc text (dropped when empty), and the mixed
    * entity+link block. The whitespace class is spelled out explicitly:
    * Java's \s is [ \t\n\x0B\f\r] while RE2/DuckDB's \s excludes \x0B
    * (vertical tab), so '\s+' here would diverge from HtmlStrip's
    * split("\\s+") on any document containing \x0B.
    */
  private val htmlBlocksCte: String =
    """WITH d AS (
      |  SELECT doc_id, trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g')) AS t FROM documents
      |), blocks AS (
      |  SELECT doc_id, list_filter([
      |    'Doc ' || CAST(doc_id AS VARCHAR),
      |    t,
      |    'Tags & refs: link entry ' || CAST(doc_id AS VARCHAR)], b -> b <> '') AS bl
      |  FROM d
      |)""".stripMargin

  /** NB classifier replay, split so the confusion-matrix oracle can
    * extend the same CTE chain: 80/20 portable-hash holdout, Laplace-
    * smoothed multinomial scores in integer micro-nats, (score desc,
    * cls asc) argmax.
    */
  private val nbClassifyCtes: String =
    """WITH sp AS (
      |  SELECT *, CAST('0x' || substr(md5('nbsplit' || CAST(doc_id AS VARCHAR)), 1, 15)
      |    AS BIGINT) % 100 < 80 AS is_train
      |  FROM documents
      |), tr AS (SELECT * FROM sp WHERE is_train
      |), te AS (SELECT * FROM sp WHERE NOT is_train
      |), trocc AS (
      |  SELECT lang AS cls, unnest(string_split(text, ' ')) AS tok FROM tr
      |), ct AS (
      |  SELECT cls, tok, count(*) AS c_lt FROM trocc GROUP BY 1, 2
      |), cl AS (
      |  SELECT cls, CAST(sum(c_lt) AS BIGINT) AS c_l FROM ct GROUP BY 1
      |), vv AS (
      |  SELECT count(DISTINCT tok) AS v FROM trocc
      |), pri AS (
      |  SELECT lang AS cls,
      |    CAST(floor(ln(CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM tr)) * 1e6)
      |      AS BIGINT) AS prior_micro
      |  FROM tr GROUP BY lang
      |), teocc AS (
      |  SELECT doc_id, lang AS label, unnest(string_split(text, ' ')) AS tok FROM te
      |), scored AS (
      |  SELECT o.doc_id, o.label, c.cls,
      |    CAST(floor(ln(CAST(coalesce(ct.c_lt, 0) + 1 AS DOUBLE)
      |      / CAST(cl.c_l + vv.v AS DOUBLE)) * 1e6) AS BIGINT) AS lp_micro
      |  FROM teocc o
      |  CROSS JOIN (SELECT cls FROM cl) c
      |  LEFT JOIN ct ON ct.cls = c.cls AND ct.tok = o.tok
      |  JOIN cl ON cl.cls = c.cls
      |  CROSS JOIN vv
      |), agg AS (
      |  SELECT doc_id, label, cls, sum(lp_micro) AS tok_micro
      |  FROM scored GROUP BY 1, 2, 3
      |), tot AS (
      |  SELECT a.doc_id, a.label, a.cls,
      |    CAST(a.tok_micro + p.prior_micro AS BIGINT) AS score_micro
      |  FROM agg a JOIN pri p ON p.cls = a.cls
      |), rk AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY score_micro DESC, cls ASC) AS rn
      |  FROM tot
      |)""".stripMargin

  private val nbClassifyFinal: String =
    """SELECT doc_id, label, cls AS pred_label, score_micro,
      |  cls = label AS correct
      |FROM rk WHERE rn = 1""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_multi_join" ->
      """WITH sup AS (
        |  SELECT s_nationkey AS n_nationkey, count(*) AS n_supp FROM supplier GROUP BY 1
        |)
        |SELECT r_name, n_name, count(*) AS n_cust,
        |  CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS acctbal_cents,
        |  coalesce(any_value(n_supp), 0) AS n_supp
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |LEFT JOIN sup USING (n_nationkey)
        |GROUP BY r_name, n_name""".stripMargin,
    // identity oracle for the dumped extraction input — keeps the round
    // report free of no_oracle rows
    "spans_input" ->
      """SELECT doc_id, "offset", kind, text, media_ref
        |FROM '{OUT}/spans_input/*.parquet'""".stripMargin,
    "q_corpus_clean" -> {
      val allMarkers = TextOps.LangMarkers.flatMap(_._2)
        .map(m => s"'$m'").mkString("(", ", ", ")")
      val sets = TextOps.LangMarkers.map { case (l, ms) =>
        l -> ms.map(m => s"'$m'").mkString("(", ", ", ")")
      }.toMap
      s"""WITH sc AS (
         |  SELECT doc_id, text,
         |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
         |    CAST(length(text) AS DOUBLE) AS n_ch,
         |    CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN $allMarkers)) AS DOUBLE) AS hits,
         |    len(list_filter(string_split(lower(text), ' '), x -> x IN ${sets("en")})) AS s_en,
         |    len(list_filter(string_split(lower(text), ' '), x -> x IN ${sets("de")})) AS s_de,
         |    len(list_filter(string_split(lower(text), ' '), x -> x IN ${sets("es")})) AS s_es,
         |    len(list_filter(string_split(lower(text), ' '), x -> x IN ${sets("fr")})) AS s_fr,
         |    len(list_filter(string_split(lower(text), ' '), x -> x IN ${sets("zh")})) AS s_zh
         |  FROM documents
         |), scored AS (
         |  SELECT doc_id, text,
         |    CASE WHEN s_en + s_de + s_es + s_fr + s_zh = 0 THEN 'und'
         |         WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
         |         WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
         |         WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
         |         WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
         |         ELSE 'zh' END AS pred_lang,
         |    least(n_tok / 64.0, 1.0) * 0.4
         |      + (CASE WHEN n_ch / greatest(n_tok, 1.0) >= 3 AND n_ch / greatest(n_tok, 1.0) <= 10 THEN 1.0
         |              ELSE greatest(0.0, 1.0 - abs(n_ch / greatest(n_tok, 1.0) - 6.5) / 10.0) END) * 0.3
         |      + least(hits / greatest(n_tok * 0.05, 1.0), 1.0) * 0.3 AS quality,
         |    CAST(n_tok AS BIGINT) AS n_tokens
         |  FROM sc
         |), filt AS (
         |  SELECT * FROM scored WHERE quality >= 0.5 AND pred_lang <> 'und'
         |), keep AS (
         |  SELECT min(doc_id) AS doc_id
         |  FROM (SELECT doc_id, sha256(lower(trim(text))) AS cks FROM filt)
         |  GROUP BY cks
         |)
         |SELECT f.doc_id, f.pred_lang, f.quality, f.n_tokens
         |FROM filt f JOIN keep k ON f.doc_id = k.doc_id
         |WHERE CAST('0x' || substr(md5('clean' || CAST(f.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
         |  % 1000000 < 500000""".stripMargin
    },
    // resize contract: the re-decoded RESIZED BYTES must report the
    // target dims (real ImageIO round-trip for images, ISO BMFF
    // container re-encode for mp4); frames/format are functions of doc_id
    "q_media_resize" ->
      """SELECT doc_id, 128 AS width, 96 AS height,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + doc_id % 10 ELSE 1 END AS INTEGER) AS n_frames,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpg' ELSE 'mp4' END AS format,
        |  true AS decode_ok
        |FROM documents""".stripMargin,
    // video docs only (doc_id % 3 = 2): each frame is a single-sample
    // ISO BMFF container, so n_bytes = the fixed box-structure cost
    // (ftyp 24 + moov 329 + mdat header 8 = 361, Mp4.HeaderBytes) plus
    // the deterministic mdat payload contract
    "q_media_frames" ->
      """WITH f AS (
        |  SELECT doc_id, unnest(range(0, 1 + doc_id % 10, 3)) AS frame_idx
        |  FROM documents WHERE doc_id % 3 = 2
        |)
        |SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(361 + least(1024,
        |    ((64 + (doc_id % 7) * 32) * (48 + (doc_id % 5) * 32)) // 64) AS INTEGER) AS n_bytes
        |FROM f""".stripMargin,
    "q_sample_hash" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST('0x' || substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |  % 1000000 < 200000""".stripMargin,
    "q_text_entropy" ->
      // token-sorted left fold; Spark's `/` on BIGINTs is double
      // division, so every quotient casts explicitly here
      """WITH tf AS (
        |  SELECT doc_id, t AS token, count(*) AS cnt
        |  FROM documents, unnest(string_split(text, ' ')) AS u(t) WHERE t <> ''
        |  GROUP BY 1, 2
        |), g AS (
        |  SELECT doc_id, sum(cnt) AS n_tokens, count(*) AS n_types,
        |    list(cnt ORDER BY token) AS cnts
        |  FROM tf GROUP BY 1
        |)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, n_types,
        |  CAST(n_types AS DOUBLE) / n_tokens AS ttr,
        |  -(list_sum(list_transform(cnts, c ->
        |    (CAST(c AS DOUBLE) / n_tokens) *
        |    (floor(ln(CAST(c AS DOUBLE) / n_tokens) * 1000000.0 + 0.5) / 1000000.0)))) AS entropy
        |FROM g""".stripMargin,
    "q_bm25" ->
      // exact formula replay, parenthesized as the engine evaluates it;
      // the per-doc sum folds term-sorted scores left-to-right
      // (list(... ORDER BY term) + list_sum == array_sort + aggregate)
      """WITH toks AS (
        |  SELECT doc_id, t AS term
        |  FROM documents, unnest(string_split(text, ' ')) AS u(t) WHERE t <> ''
        |), dl AS (
        |  SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
        |), corpus AS (
        |  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks
        |  WHERE term IN ('hash', 'join', 'stream') GROUP BY 1, 2
        |), dfr AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY 1
        |), ts AS (
        |  SELECT tf.doc_id, tf.term,
        |    ((floor(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1000000.0 + 0.5) / 1000000.0) * (tf * 2.2)) /
        |    (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS ts
        |  FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus
        |)
        |SELECT doc_id, count(*) AS n_matched,
        |  list_sum(list(ts ORDER BY term)) AS score
        |FROM ts GROUP BY doc_id""".stripMargin,
    "q_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
        |), dfr AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), n AS (
        |  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
        |)
        |SELECT doc_id, term, tf, df,
        |  tf * ln(CAST(n_docs AS DOUBLE) / df) AS tfidf
        |FROM tf JOIN dfr USING (term) CROSS JOIN n
        |WHERE tf >= 3""".stripMargin,
    // Lexical top-k: same tokenization, micro-nat idf discretization,
    // canonical-pair integer dot product, mirrored, ranked
    "q_lexical_topk" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term
        |), dfr AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), n AS (
        |  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
        |), w AS (
        |  SELECT doc_id, term, tf,
        |    CAST(floor(ln(CAST(n_docs AS DOUBLE) / df) * 1e6 + 0.5) AS BIGINT) AS idfm
        |  FROM tf JOIN dfr USING (term) CROSS JOIN n
        |  WHERE df BETWEEN 2 AND 100
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    sum(a.tf * b.tf * a.idfm) AS score
        |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), s AS (
        |  SELECT id_a, id_b, score FROM p
        |  UNION ALL SELECT id_b, id_a, score FROM p
        |), r AS (
        |  SELECT id_a, id_b, score, row_number() OVER (
        |    PARTITION BY id_a ORDER BY score DESC, id_b ASC) AS rn
        |  FROM s
        |)
        |SELECT id_a AS doc_id, id_b AS neighbor_id,
        |  CAST(score AS BIGINT) AS score, CAST(rn AS INT) AS rank
        |FROM r WHERE rn <= 5""".stripMargin,
    "q_ngram_topk" ->
      // trigram counts per language, row_number by (cnt desc, shingle)
      // — the engine's two-level salted top-k emits identical rows
      """WITH t AS (
        |  SELECT lang, string_split(text, ' ') AS toks FROM documents
        |), sh AS (
        |  SELECT lang,
        |    array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
        |  FROM (SELECT lang, toks,
        |          unnest(range(1, greatest(len(toks) - 3 + 1, 0) + 1)) AS i
        |        FROM t)
        |), c AS (
        |  SELECT lang, shingle, count(*) AS cnt FROM sh GROUP BY lang, shingle
        |), r AS (
        |  SELECT lang, shingle, cnt,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, shingle) AS INTEGER) AS rank
        |  FROM c
        |)
        |SELECT lang, shingle, cnt, rank FROM r WHERE rank <= 20""".stripMargin,
    "q_winnow" ->
      // k=4 shingle hashes, windows of w=4, min per window with
      // rightmost tiebreak (position from the end of the reversed slice)
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(len(toks) - 4 + 1, 0) + 1),
        |      i -> CAST('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 3), ' ')), 1, 15) AS BIGINT)) AS hs
        |  FROM t
        |), wins AS (
        |  SELECT doc_id, hs, unnest(range(0, greatest(len(hs) - 4, 0) + 1)) AS j
        |  FROM h WHERE len(hs) > 0
        |), sel AS (
        |  SELECT doc_id,
        |    j + len(list_slice(hs, j + 1, j + 4))
        |      - list_position(list_reverse(list_slice(hs, j + 1, j + 4)),
        |                      list_min(list_slice(hs, j + 1, j + 4))) AS pos,
        |    list_min(list_slice(hs, j + 1, j + 4)) AS fp
        |  FROM wins
        |)
        |SELECT DISTINCT doc_id, CAST(pos AS INTEGER) AS pos, fp FROM sel""".stripMargin,
    "q_winnow_pairs" -> winnowPairsSql,
    "q_budget_select" -> {
      val allMarkers = TextOps.LangMarkers.flatMap(_._2)
        .map(m => s"'$m'").mkString("(", ", ", ")")
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
         |    CAST(length(text) AS DOUBLE) AS n_ch,
         |    CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN $allMarkers)) AS DOUBLE) AS hits
         |  FROM documents
         |), d AS (
         |  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
         |    least(n_tok / 64.0, 1.0) AS len_score,
         |    n_ch / greatest(n_tok, 1.0) AS mean_word,
         |    least(hits / greatest(n_tok * 0.05, 1.0), 1.0) AS stop_score
         |  FROM m
         |), q AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(floor((len_score * 0.4
         |      + (CASE WHEN mean_word >= 3 AND mean_word <= 10 THEN 1.0
         |              ELSE greatest(0.0, 1.0 - abs(mean_word - 6.5) / 10.0) END) * 0.3
         |      + stop_score * 0.3) * 10000) AS BIGINT) AS qscore
         |  FROM d
         |), c AS (
         |  SELECT doc_id, n_tokens, qscore,
         |    CAST(sum(n_tokens) OVER (ORDER BY qscore DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM q
         |)
         |SELECT doc_id, n_tokens, qscore, cum_tokens FROM c
         |WHERE cum_tokens <= 20000""".stripMargin
    },
    // FIM replay: same raw single-space split (empties kept), same
    // salted 60-bit cuts mod n+1, min/max ordering, list_slice rebuild
    "q_fim_split" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS ls,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, ls, n,
        |    CAST('0x' || substr(md5('fim:a:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % (n + 1) AS ca,
        |    CAST('0x' || substr(md5('fim:b:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % (n + 1) AS cb
        |  FROM tk
        |)
        |SELECT doc_id,
        |  coalesce(array_to_string(list_slice(ls, 1, least(ca, cb)), ' '), '') AS prefix,
        |  coalesce(array_to_string(list_slice(ls, least(ca, cb) + 1, greatest(ca, cb)), ' '), '') AS middle,
        |  coalesce(array_to_string(list_slice(ls, greatest(ca, cb) + 1, n), ' '), '') AS suffix,
        |  CAST(n AS BIGINT) AS n_tok
        |FROM c""".stripMargin,
    // Crop-pair replay: same clamped window length and hash offsets
    "q_crop_pairs" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS ls,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, ls, n, least(24, n) AS l FROM tk
        |), o AS (
        |  SELECT doc_id, ls, n, l,
        |    CAST('0x' || substr(md5('crop:a:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % (n - l + 1) AS oa,
        |    CAST('0x' || substr(md5('crop:b:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % (n - l + 1) AS ob
        |  FROM c
        |)
        |SELECT doc_id,
        |  array_to_string(list_slice(ls, oa + 1, oa + l), ' ') AS crop_a,
        |  array_to_string(list_slice(ls, ob + 1, ob + l), ' ') AS crop_b,
        |  CAST(n AS BIGINT) AS n_tok
        |FROM o""".stripMargin,
    "q_chunk_docs" ->
      // starts 0, 32, 64, ... while start <= max(n - overlap - 1, 0);
      // chunk_idx = start / stride (starts are exact multiples)
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), s AS (
        |  SELECT doc_id, toks,
        |    unnest(range(0, greatest(len(toks) - 8 - 1, 0) + 1, 32)) AS start
        |  FROM t
        |)
        |SELECT doc_id, CAST(start / 32 AS INTEGER) AS chunk_idx,
        |  array_to_string(list_slice(toks, start + 1, start + 40), ' ') AS chunk_text,
        |  len(list_slice(toks, start + 1, start + 40)) AS n_tokens
        |FROM s""".stripMargin,
    "q_decontaminate" ->
      // 10% bench / 90% corpus portable-hash split, 5-gram shingle
      // hashes, distinct benchmark shingles, per-doc distinct hit count
      """WITH split AS (
        |  SELECT doc_id, text,
        |    CAST('0x' || substr(md5('bench' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |      % 1000000 < 100000 AS is_bench
        |  FROM documents
        |), bw AS (
        |  SELECT DISTINCT
        |    CAST('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 4), ' ')), 1, 15) AS BIGINT) AS shash
        |  FROM (SELECT string_split(text, ' ') AS toks,
        |          unnest(range(1, greatest(len(string_split(text, ' ')) - 5 + 1, 0) + 1)) AS i
        |        FROM split WHERE is_bench)
        |), cw AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 4), ' ')), 1, 15) AS BIGINT) AS shash
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks,
        |          unnest(range(1, greatest(len(string_split(text, ' ')) - 5 + 1, 0) + 1)) AS i
        |        FROM split WHERE NOT is_bench)
        |)
        |SELECT doc_id, count(DISTINCT shash) AS n_hits
        |FROM cw JOIN bw USING (shash)
        |GROUP BY doc_id
        |HAVING count(DISTINCT shash) >= 1""".stripMargin,
    "q_split" ->
      // cut points (0.8, 0.1, 0.1) -> 800000 / 900000 of HashMod
      """SELECT doc_id, lang,
        |  CASE WHEN h >= 900000 THEN 'test'
        |       WHEN h >= 800000 THEN 'val'
        |       ELSE 'train' END AS split
        |FROM (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |      % 1000000 AS h
        |  FROM documents)""".stripMargin,
    "q_sample_mixture" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST('0x' || substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |  % 1000000 <
        |  CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
        |            WHEN 'zh' THEN 100000 ELSE 50000 END""".stripMargin,
    "q_sample_stratified" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substr(md5('graft' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |      % 1000000 AS hv
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM h
        |)
        |SELECT doc_id, lang FROM r WHERE rn <= ceil(0.1 * n)""".stripMargin,
    "q_text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), sh AS (
        |  SELECT doc_id, list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
        |  FROM t
        |)
        |SELECT doc_id,
        |  CASE WHEN len(sh) = 0 THEN 0.0
        |       ELSE 1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh)
        |  END AS rep_frac
        |FROM sh""".stripMargin,
    "q_text_scrub" ->
      ("""WITH d AS (
        |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
        |    || '@example.com via https://site.example/' || CAST(doc_id AS VARCHAR)
        |    || '/page or +1 (555) 010-4477 at 10.20.30.42 x' AS t
        |  FROM documents
        |)
        |SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |  'URLPAT', '<URL>', 'g'),
        |  'EMAILPAT', '<EMAIL>', 'g'),
        |  'IPPAT', '<IP>', 'g'),
        |  'PHONEPAT', '<PHONE>', 'g') AS scrubbed
        |FROM d""".stripMargin
        .replace("URLPAT", TextOps.UrlPattern)
        .replace("EMAILPAT", TextOps.EmailPattern)
        .replace("IPPAT", TextOps.Ipv4Pattern)
        .replace("PHONEPAT", TextOps.PhonePattern)),
    "q_sketch_distinct" ->
      """WITH tok AS (
        |  SELECT DISTINCT lang,
        |    CAST('0x' || substr(md5('kmv' || t), 1, 15) AS BIGINT) AS hv
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents)
        |), r AS (
        |  SELECT lang, hv, row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn
        |  FROM tok
        |), kk AS (
        |  SELECT lang, max(hv) AS hk, count(*) AS n FROM r WHERE rn <= 200 GROUP BY lang
        |)
        |SELECT lang,
        |  CASE WHEN n < 200 THEN CAST(n AS DOUBLE)
        |       ELSE 199.0 * 1152921504606846976.0 / hk END AS est_distinct
        |FROM kk""".stripMargin,
    "q_pack_sequences" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST('0x' || substr(md5('pack' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |      % 1000000 AS hv
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, CAST(hv % 8 AS INTEGER) AS grp, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_off
        |  FROM h
        |)
        |SELECT doc_id, grp, CAST(floor(start_off / 4096.0) AS BIGINT) AS pack_id,
        |  n_tokens, CAST(start_off AS BIGINT) AS start_off
        |FROM c""".stripMargin,
    // Pack audit: replay the packing CTE, then per-pack occupancy /
    // straddle-overflow / oversize accounting in exact integers
    "q_pack_audit" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST('0x' || substr(md5('pack' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |      % 1000000 AS hv
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, CAST(hv % 8 AS INTEGER) AS grp, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_off
        |  FROM h
        |), p AS (
        |  SELECT grp, CAST(floor(start_off / 4096.0) AS BIGINT) AS pack_id,
        |    n_tokens, CAST(start_off AS BIGINT) AS start_off
        |  FROM c
        |)
        |SELECT grp, pack_id, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens_sum,
        |  CAST(greatest(0, max(start_off + n_tokens) - (pack_id + 1) * 4096) AS BIGINT)
        |    AS overflow_tokens,
        |  CAST(sum(CASE WHEN n_tokens > 4096 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oversize_docs
        |FROM p GROUP BY grp, pack_id""".stripMargin,
    // k-anonymity: per-level group counts via windows (DuckDB is
    // single-node — the engine's groupBy+join shape exists for scale,
    // not semantics), finest level with count >= 20, coarser QI NULLed
    "q_kanon" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source,
        |    CAST(floor(length(text) / 256.0) AS BIGINT) AS len_bucket
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, lang, source, len_bucket,
        |    count(*) OVER (PARTITION BY lang, source, len_bucket) AS c0,
        |    count(*) OVER (PARTITION BY lang, source) AS c1,
        |    count(*) OVER (PARTITION BY lang) AS c2,
        |    count(*) OVER () AS c3
        |  FROM d
        |), l AS (
        |  SELECT *, CASE WHEN c0 >= 20 THEN 0 WHEN c1 >= 20 THEN 1
        |                 WHEN c2 >= 20 THEN 2 ELSE 3 END AS lvl
        |  FROM c
        |)
        |SELECT doc_id, CAST(lvl AS INTEGER) AS level,
        |  CASE WHEN lvl <= 2 THEN lang END AS lang,
        |  CASE WHEN lvl <= 1 THEN source END AS source,
        |  CASE WHEN lvl <= 0 THEN len_bucket END AS len_bucket,
        |  CAST(CASE lvl WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2
        |       ELSE c3 END AS BIGINT) AS group_n
        |FROM l""".stripMargin,
    // l-diversity: per-level count + count(DISTINCT sens) ladders via
    // grouped subqueries (population-side, k-map posture), finest level
    // with count >= 20, class rollup with the l >= 3 verdict
    "q_ldiversity" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source,
        |    CAST(floor(length(text) / 256.0) AS BIGINT) AS len_bucket,
        |    split_part(text, ' ', 1) AS sens
        |  FROM documents
        |), g0 AS (
        |  SELECT lang, source, len_bucket, count(*) AS c0,
        |    count(DISTINCT sens) AS d0 FROM d GROUP BY 1, 2, 3
        |), g1 AS (
        |  SELECT lang, source, count(*) AS c1,
        |    count(DISTINCT sens) AS d1 FROM d GROUP BY 1, 2
        |), g2 AS (
        |  SELECT lang, count(*) AS c2, count(DISTINCT sens) AS d2
        |  FROM d GROUP BY 1
        |), g3 AS (
        |  SELECT count(*) AS c3, count(DISTINCT sens) AS d3 FROM d
        |), j AS (
        |  SELECT d.lang, d.source, d.len_bucket,
        |    c0, d0, c1, d1, c2, d2, c3, d3
        |  FROM d
        |  JOIN g0 USING (lang, source, len_bucket)
        |  JOIN g1 USING (lang, source)
        |  JOIN g2 USING (lang)
        |  CROSS JOIN g3
        |), l AS (
        |  SELECT *, CASE WHEN c0 >= 20 THEN 0 WHEN c1 >= 20 THEN 1
        |                 WHEN c2 >= 20 THEN 2 ELSE 3 END AS lvl
        |  FROM j
        |), p AS (
        |  SELECT lvl,
        |    CASE WHEN lvl <= 2 THEN lang END AS lang,
        |    CASE WHEN lvl <= 1 THEN source END AS source,
        |    CASE WHEN lvl <= 0 THEN len_bucket END AS len_bucket,
        |    CASE lvl WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2
        |         ELSE c3 END AS gn,
        |    CASE lvl WHEN 0 THEN d0 WHEN 1 THEN d1 WHEN 2 THEN d2
        |         ELSE d3 END AS ns
        |  FROM l
        |)
        |SELECT CAST(lvl AS INTEGER) AS level, lang, source, len_bucket,
        |  CAST(max(gn) AS BIGINT) AS group_n, count(*) AS n_published,
        |  CAST(max(ns) AS BIGINT) AS n_sensitive, max(ns) >= 3 AS l_ok
        |FROM p GROUP BY 1, 2, 3, 4""".stripMargin,
    // t-closeness: same level ladder; per-level (prefix, sens) counts
    // unioned, classes x global-sens expansion, exact HUGEINT TVD
    // fraction, cross-multiplied verdict at 3/10
    "q_tcloseness" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source,
        |    CAST(floor(length(text) / 256.0) AS BIGINT) AS len_bucket,
        |    split_part(text, ' ', 1) AS sens
        |  FROM documents
        |), c AS (
        |  SELECT lang, source, len_bucket, sens,
        |    count(*) OVER (PARTITION BY lang, source, len_bucket) AS c0,
        |    count(*) OVER (PARTITION BY lang, source) AS c1,
        |    count(*) OVER (PARTITION BY lang) AS c2,
        |    count(*) OVER () AS c3
        |  FROM d
        |), l AS (
        |  SELECT *, CASE WHEN c0 >= 20 THEN 0 WHEN c1 >= 20 THEN 1
        |                 WHEN c2 >= 20 THEN 2 ELSE 3 END AS lvl
        |  FROM c
        |), classes AS (
        |  SELECT lvl,
        |    CASE WHEN lvl <= 2 THEN lang END AS lang,
        |    CASE WHEN lvl <= 1 THEN source END AS source,
        |    CASE WHEN lvl <= 0 THEN len_bucket END AS len_bucket,
        |    max(CASE lvl WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2
        |        ELSE c3 END) AS nc
        |  FROM l GROUP BY 1, 2, 3, 4
        |), cs AS (
        |  SELECT 0 AS lvl, lang, source, len_bucket, sens, count(*) AS cc
        |  FROM d GROUP BY 1, 2, 3, 4, 5
        |  UNION ALL
        |  SELECT 1, lang, source, NULL, sens, count(*) FROM d GROUP BY 1, 2, 3, 4, 5
        |  UNION ALL
        |  SELECT 2, lang, NULL, NULL, sens, count(*) FROM d GROUP BY 1, 2, 3, 4, 5
        |  UNION ALL
        |  SELECT 3, NULL, NULL, NULL, sens, count(*) FROM d GROUP BY 1, 2, 3, 4, 5
        |), gs AS (
        |  SELECT sens, count(*) AS cg FROM d GROUP BY 1
        |), ngl AS (
        |  SELECT count(*) AS n_g FROM d
        |), pairs AS (
        |  SELECT cl.lvl, cl.lang, cl.source, cl.len_bucket, cl.nc,
        |    gs.cg, coalesce(cs.cc, 0) AS cc
        |  FROM classes cl CROSS JOIN gs
        |  LEFT JOIN cs ON cs.lvl = cl.lvl AND cs.sens = gs.sens
        |    AND cs.lang IS NOT DISTINCT FROM cl.lang
        |    AND cs.source IS NOT DISTINCT FROM cl.source
        |    AND cs.len_bucket IS NOT DISTINCT FROM cl.len_bucket
        |), agg AS (
        |  SELECT lvl, lang, source, len_bucket, nc, n_g,
        |    sum(abs(CAST(cc AS HUGEINT) * n_g - CAST(cg AS HUGEINT) * nc)) AS num
        |  FROM pairs CROSS JOIN ngl GROUP BY 1, 2, 3, 4, 5, 6
        |)
        |SELECT CAST(lvl AS INTEGER) AS level, lang, source, len_bucket,
        |  CAST(nc AS BIGINT) AS group_n,
        |  CAST(num AS BIGINT) AS tvd_num,
        |  CAST(2 * CAST(nc AS HUGEINT) * n_g AS BIGINT) AS tvd_den,
        |  num * 10 <= 3 * 2 * CAST(nc AS HUGEINT) * n_g AS t_ok
        |FROM agg""".stripMargin,
    // DP noisy counts: replay the seeded inverse-CDF Laplace draw —
    // same two salted md5 hashes, same (h%1e6)/1e6 uniform, same
    // -ln(1-f)*(1e6/eps) magnitude floored at +0.5, same parity sign,
    // same integer micro-unit add
    "q_dp_counts" ->
      """WITH g AS (
        |  SELECT event_type, user_id % 10 AS user_bucket, count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), h AS (
        |  SELECT event_type, user_bucket, cnt,
        |    CAST('0x' || substr(md5('dp5:u' || concat_ws(chr(31), event_type, CAST(user_bucket AS VARCHAR))), 1, 15) AS BIGINT) AS hu,
        |    CAST('0x' || substr(md5('dp5:s' || concat_ws(chr(31), event_type, CAST(user_bucket AS VARCHAR))), 1, 15) AS BIGINT) AS hs
        |  FROM g
        |), n AS (
        |  SELECT event_type, user_bucket, cnt, hs,
        |    CAST(floor(-ln(1.0 - (hu % 1000000) / 1000000.0) * (1000000.0 / 0.5) + 0.5) AS BIGINT) AS mag
        |  FROM h
        |)
        |SELECT event_type, user_bucket,
        |  CAST(cnt * 1000000 + CASE WHEN hs % 2 = 0 THEN mag ELSE -mag END AS BIGINT) AS noisy_cnt_micro
        |FROM n""".stripMargin,
    "q_dp_audit" ->
      """WITH g AS (
        |  SELECT event_type, user_id % 10 AS user_bucket, count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), h AS (
        |  SELECT event_type, user_bucket,
        |    CAST('0x' || substr(md5('dp5:u' || concat_ws(chr(31), event_type, CAST(user_bucket AS VARCHAR))), 1, 15) AS BIGINT) AS hu,
        |    CAST('0x' || substr(md5('dp5:s' || concat_ws(chr(31), event_type, CAST(user_bucket AS VARCHAR))), 1, 15) AS BIGINT) AS hs
        |  FROM g
        |), n AS (
        |  SELECT event_type, user_bucket,
        |    CASE WHEN hs % 2 = 0 THEN 1 ELSE -1 END *
        |      CAST(floor(-ln(1.0 - (hu % 1000000) / 1000000.0) * (1000000.0 / 0.5) + 0.5) AS BIGINT) AS noise_micro
        |  FROM h
        |)
        |SELECT event_type, user_bucket, CAST(noise_micro AS BIGINT) AS noise_micro,
        |  CAST(2000000 AS BIGINT) AS b_micro,
        |  abs(noise_micro) <= 6000000 AS within_3b
        |FROM n""".stripMargin,
    // Range bounds: replay the portable-hash sample, rank it, pick the
    // floor(i*n/8) order statistics, assign every row by value-only
    // comparison against the bound list, count per bucket
    "q_range_bounds" ->
      """WITH s AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS v
        |  FROM documents
        |  WHERE CAST('0x' || substr(md5('rb' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |    % 1000000 < 200000
        |), r AS (
        |  SELECT v, row_number() OVER (ORDER BY v, doc_id) AS rn FROM s
        |), p AS (
        |  SELECT i, (i * n) // 8 AS pos
        |  FROM (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS i)
        |  CROSS JOIN (SELECT count(*) AS n FROM s)
        |), bd AS (
        |  SELECT list(r.v ORDER BY p.i) AS bounds
        |  FROM p JOIN r ON r.rn = p.pos
        |), a AS (
        |  SELECT CAST(length(text) AS BIGINT) AS v FROM documents
        |), asg AS (
        |  SELECT CAST(len(list_filter(bd.bounds, b -> b <= a.v)) AS BIGINT) AS bucket,
        |    bd.bounds AS bounds
        |  FROM a CROSS JOIN bd
        |)
        |SELECT bucket,
        |  CASE WHEN bucket = 0 THEN NULL ELSE bounds[CAST(bucket AS INTEGER)] END AS bound_lo,
        |  count(*) AS n_rows
        |FROM asg GROUP BY 1, 2""".stripMargin,
    "q_embed_quant" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        |), m AS (
        |  SELECT vec_id, e,
        |    coalesce(list_aggregate(list_transform(e, x -> abs(x)), 'max'), 0.0) AS ma
        |  FROM v
        |), q AS (
        |  SELECT vec_id,
        |    CASE WHEN ma = 0.0 THEN 0.0 ELSE ma / 127.0 END AS scale,
        |    CASE WHEN ma = 0.0 THEN list_transform(e, x -> 0)
        |         ELSE list_transform(e, x -> CAST(floor(x / (ma / 127.0) + 0.5) AS INTEGER))
        |    END AS ql
        |  FROM m
        |)
        |SELECT vec_id, scale,
        |  CAST(unnest(range(len(ql))) AS INTEGER) AS i, unnest(ql) AS q_i
        |FROM q""".stripMargin,
    "q_html_strip" -> (htmlBlocksCte +
      "\nSELECT doc_id, CAST(unnest(range(len(bl))) AS INTEGER) AS block_idx, unnest(bl) AS block FROM blocks"),
    "q_html_pipeline" -> (htmlBlocksCte +
      "\nSELECT doc_id, CAST(unnest(range(len(bl))) AS INTEGER) AS \"offset\", 'text' AS kind, unnest(bl) AS text FROM blocks"),
    "extract_boxes_debug" ->
      """WITH sp AS (
        |  SELECT doc_id, "offset", kind, text, media_ref
        |  FROM '{OUT}/spans_input/*.parquet'
        |), b AS (
        |  SELECT doc_id, "offset", text AS Content,
        |    TRY_CAST(string_split(media_ref, ',')[1] AS DOUBLE) AS XLeft,
        |    TRY_CAST(string_split(media_ref, ',')[2] AS DOUBLE) AS XRight,
        |    TRY_CAST(string_split(media_ref, ',')[4] AS DOUBLE) AS YBottom,
        |    TRY_CAST(string_split(media_ref, ',')[3] AS DOUBLE) AS YTop
        |  FROM sp WHERE kind = 'word_box' AND len(string_split(media_ref, ',')) = 4
        |), v AS (
        |  SELECT * FROM b
        |  WHERE XLeft IS NOT NULL AND XRight IS NOT NULL
        |    AND YTop IS NOT NULL AND YBottom IS NOT NULL
        |    AND XLeft <= XRight AND YTop <= YBottom
        |)
        |SELECT doc_id, to_json(list(struct_pack(
        |    XLeft := XLeft, XRight := XRight, YBottom := YBottom,
        |    YTop := YTop, Content := Content) ORDER BY "offset")) AS boxes_json
        |FROM v GROUP BY doc_id""".stripMargin,
    "extract_e1_spans" -> extractSpansOracle(),
    "extract_e2_spans" -> extractSpansOracle(),
    "extract_e2mid_spans" -> extractSpansOracle(),
    "extract_expr_spans" -> extractSpansOracle(),
    // streaming == batch for the stateless core, so the batch
    // reconstruction oracles the streaming run too
    "extract_stream_spans" -> extractSpansOracle(),
    // adversarial corpus: per-strategy reconstructions (E1 and E2
    // genuinely diverge here; E2mid == E2 by the FindSplits-gap proof)
    "extract_e1_adv" -> extractSpansOracle("spans_adv_input"),
    "extract_e2_adv" -> extractE2SpansOracle("spans_adv_input"),
    "extract_e2mid_adv" -> extractE2SpansOracle("spans_adv_input"),
    "spans_adv_input" ->
      """SELECT doc_id, "offset", kind, text, media_ref
        |FROM '{OUT}/spans_adv_input/*.parquet'""".stripMargin,
    "extract_tables_csv" -> extractCsvOracle,
    "q_scan_project" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS net FROM lineitem",
    "q_filter_word" ->
      "SELECT event_id, user_id, value FROM events WHERE event_type = 'click'",
    "q_sha2" ->
      "SELECT doc_id, sha256(text) AS checksum FROM documents",
    "q_join_lookup" ->
      "SELECT o_orderkey, c_name, o_totalprice FROM orders JOIN customer ON o_custkey = c_custkey WHERE o_totalprice > 450000",
    "q_antijoin_resume" ->
      "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)",
    "q_concat_agg" ->
      "SELECT user_id, string_agg(event_type, ' ' ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id, event_type) AS events_concat FROM events GROUP BY user_id",
    "q_islands_union" ->
      """WITH iv AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s, CAST(floor(epoch(ts)) AS BIGINT) + 3600 AS e FROM events
        |), m AS (
        |  SELECT user_id, s, e, max(e) OVER (PARTITION BY user_id ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max FROM iv
        |), f AS (
        |  SELECT user_id, s, e, CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END AS brk FROM m
        |), g AS (
        |  SELECT user_id, s, e, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island FROM f
        |)
        |SELECT user_id, island, min(s) AS island_start, max(e) AS island_end, count(*) AS n_iv
        |FROM g GROUP BY user_id, island""".stripMargin,
    "q_sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
        |), l AS (
        |  SELECT user_id, event_id, sec, sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS gap FROM ev
        |), b AS (
        |  SELECT user_id, event_id, sec, CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS brk FROM l
        |), g AS (
        |  SELECT user_id, sec, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session FROM b
        |)
        |SELECT user_id, session, count(*) AS n_events, min(sec) AS s_start, max(sec) AS s_end
        |FROM g GROUP BY user_id, session""".stripMargin,
    "q_group_corr" ->
      // quantized-series correlation replay: all five moments are exact
      // integer sums over the SAME quantized ys, degenerate groups
      // filtered on exact min/max, one IEEE expression at the end
      """WITH e0 AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) - 1704067200 AS xs,
        |    CAST(floor(value * 1024.0 + 0.5) AS BIGINT) AS ys
        |  FROM events
        |), g AS (
        |  SELECT user_id, count(*) AS n,
        |    CAST(sum(xs) AS BIGINT) AS sx, CAST(sum(xs * xs) AS BIGINT) AS sxx,
        |    CAST(sum(ys) AS BIGINT) AS sy, CAST(sum(ys * ys) AS BIGINT) AS syy,
        |    CAST(sum(xs * ys) AS BIGINT) AS sxy,
        |    min(xs) AS x0, max(xs) AS x1, min(ys) AS y0, max(ys) AS y1
        |  FROM e0 GROUP BY 1
        |)
        |SELECT user_id, n AS n_events,
        |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) /
        |  (sqrt(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) *
        |   sqrt(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)) AS corr
        |FROM g WHERE x0 < x1 AND y0 < y1""".stripMargin,
    "q_group_trend" ->
      // sufficient-statistics replay: exact integer sums (quantized per
      // term exactly as the engine), integer-determinant filter, the
      // same parenthesized IEEE expression at the end
      """WITH e0 AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) - 1704067200 AS xs, value FROM events
        |), e1 AS (
        |  SELECT user_id, xs,
        |    CAST(floor(value * 1048576.0 + 0.5) AS BIGINT) AS ys,
        |    CAST(floor(xs * value * 1048576.0 + 0.5) AS BIGINT) AS xys
        |  FROM e0
        |), g AS (
        |  SELECT user_id, count(*) AS n,
        |    CAST(sum(xs) AS BIGINT) AS sx, CAST(sum(xs * xs) AS BIGINT) AS sxx,
        |    CAST(sum(ys) AS BIGINT) AS sy, CAST(sum(xys) AS BIGINT) AS sxy
        |  FROM e1 GROUP BY 1
        |)
        |SELECT user_id, n AS n_events,
        |  (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) /
        |  (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / 1048576.0 AS slope
        |FROM g WHERE n * sxx - sx * sx > 0""".stripMargin,
    "q_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
        |), v AS (
        |  SELECT user_id, min(sec) AS t_view FROM ev WHERE event_type = 'view' GROUP BY 1
        |), c AS (
        |  SELECT ev.user_id, min(ev.sec) AS t_click FROM ev JOIN v USING (user_id)
        |  WHERE ev.event_type = 'click' AND ev.sec > v.t_view GROUP BY 1
        |), p AS (
        |  SELECT ev.user_id, min(ev.sec) AS t_purchase FROM ev JOIN c USING (user_id)
        |  WHERE ev.event_type = 'purchase' AND ev.sec > c.t_click GROUP BY 1
        |)
        |SELECT user_id, t_view, t_click, t_purchase
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin,
    "q_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), cohort AS (
        |  SELECT user_id, min(day) AS cohort FROM act GROUP BY 1
        |)
        |SELECT cohort, date_diff('day', cohort, day) AS day_offset, count(*) AS n_users
        |FROM act JOIN cohort USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "q_ewma" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, value FROM events
        |), g AS (
        |  SELECT user_id, list(value ORDER BY sec, event_id) AS vals FROM ev GROUP BY 1
        |)
        |SELECT user_id, len(vals) AS n_events,
        |  list_reduce(vals, (acc, x) -> x * 0.3 + acc * 0.7) AS ewma
        |FROM g""".stripMargin,
    "q_resample" ->
      """WITH perday AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1, 2
        |), days AS (
        |  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM perday GROUP BY 1)
        |)
        |SELECT days.user_id, days.day, COALESCE(n, 0) AS n_events
        |FROM days LEFT JOIN perday ON days.user_id = perday.user_id AND days.day = perday.day""".stripMargin,
    // Windowed-funnel replay: the chained-min ground truth (t_{i+1} =
    // earliest strictly-later qualifying event within the 7-day window
    // of t1) — the engine's greedy sorted fold is equivalent by
    // construction
    "q_funnel_window" ->
      """WITH ev AS (
        |  SELECT user_id, event_type AS typ, epoch_us(ts) AS us FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')
        |), s1 AS (
        |  SELECT user_id, min(us) AS t1 FROM ev WHERE typ = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(e.us) AS t2 FROM ev e JOIN s1 USING (user_id)
        |  WHERE e.typ = 'click' AND e.us > s1.t1
        |    AND e.us <= s1.t1 + 604800000000 GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, min(e.us) AS t3
        |  FROM ev e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
        |  WHERE e.typ = 'purchase' AND e.us > s2.t2
        |    AND e.us <= s1.t1 + 604800000000 GROUP BY 1
        |), u AS (SELECT DISTINCT user_id FROM ev)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
        |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS n_stages,
        |  t1 AS t_first_us, coalesce(t3, t2, t1) AS t_last_us
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id)""".stripMargin,
    // Attribution replay: correlated latest-at-or-before lookup with
    // the same (time desc, click_id desc) pick
    "q_attribution" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type, value FROM events
        |), p AS (
        |  SELECT user_id, event_id, us, value FROM ev WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT user_id, event_id AS click_id, us FROM ev WHERE event_type = 'click'
        |)
        |SELECT p.user_id, p.event_id, p.us, p.value,
        |  (SELECT c.click_id FROM c
        |   WHERE c.user_id = p.user_id AND c.us <= p.us
        |   ORDER BY c.us DESC, c.click_id DESC LIMIT 1) AS attributed_click
        |FROM p""".stripMargin,
    // DDSketch replay: same micro-nat ln grid, same positive shift and
    // precomputed 20001 width (floor division — operands positive, so
    // DuckDB // and Spark div agree), same integer rank condition
    "q_ddsketch" ->
      """WITH b AS (
        |  SELECT event_type,
        |    (CAST(floor(ln(value) * 1000000 + 0.5) AS BIGINT)
        |      + 1000000000) // 20001 AS bin
        |  FROM events WHERE value > 0
        |), c AS (
        |  SELECT event_type, bin, count(*) AS cnt FROM b GROUP BY 1, 2
        |), cum AS (
        |  SELECT event_type, bin,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM c
        |), qs AS (
        |  SELECT * FROM (VALUES ('p50', 1, 2), ('p90', 9, 10),
        |    ('p99', 99, 100)) q(q_label, num, den)
        |)
        |SELECT event_type, q_label, min(bin) AS bin,
        |  min(bin) * 20001 - 1000000000 AS lo_mn, max(n) AS n
        |FROM cum CROSS JOIN qs
        |WHERE cum * den >= n * num
        |GROUP BY 1, 2""".stripMargin,
    // Transition-matrix replay: lead over the same (us, event_id)
    // total order
    "q_event_transitions" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
        |), l AS (
        |  SELECT event_type AS src_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS dst_type
        |  FROM ev
        |)
        |SELECT src_type, dst_type, count(*) AS n_pairs
        |FROM l WHERE dst_type IS NOT NULL GROUP BY 1, 2""".stripMargin,
    "q_scd2" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
        |), ch AS (
        |  SELECT user_id, event_type, event_id, sec FROM (
        |    SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS prev
        |    FROM ev)
        |  WHERE prev IS NULL OR prev <> event_type
        |)
        |SELECT user_id, event_type, sec AS valid_from,
        |  lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS valid_to,
        |  lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) IS NULL AS is_current
        |FROM ch""".stripMargin,
    // point-in-time lookup replayed as join + greatest-(valid_from,
    // start-id) pick — identical to the as-of window's
    // right-before-left, max-tiebreak semantics
    "q_scd2_lookup" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
        |), ch AS (
        |  SELECT user_id, event_type, event_id, sec FROM (
        |    SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS prev
        |    FROM ev)
        |  WHERE prev IS NULL OR prev <> event_type
        |), p AS (
        |  SELECT user_id, event_id, sec FROM ev WHERE event_type = 'purchase'
        |), j AS (
        |  SELECT p.user_id, p.event_id, p.sec, c.event_type AS state,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY c.sec DESC, c.event_id DESC) AS rn
        |  FROM p JOIN ch c ON c.user_id = p.user_id AND c.sec <= p.sec
        |)
        |SELECT user_id, event_id, sec, state FROM j WHERE rn = 1""".stripMargin,
    // as-of semantics replayed as a correlated lookup: greatest
    // (sec, event_id) view at or before each click — identical to the
    // window construction's right-before-left, max-tiebreak pick
    "q_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events
        |), c AS (
        |  SELECT event_id, user_id, sec FROM ev WHERE event_type = 'click'
        |), v AS (
        |  SELECT event_id, user_id, sec FROM ev WHERE event_type = 'view'
        |)
        |SELECT c.event_id, c.user_id, c.sec,
        |  (SELECT v.event_id FROM v
        |   WHERE v.user_id = c.user_id AND v.sec <= c.sec
        |   ORDER BY v.sec DESC, v.event_id DESC LIMIT 1) AS matched_view
        |FROM c""".stripMargin,
    "q_running_max" ->
      """WITH m AS (
        |  SELECT user_id, event_id, value, max(value) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max FROM events
        |)
        |SELECT user_id, event_id, value FROM m WHERE run_max IS NULL OR value > run_max""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  count(*) FILTER (WHERE event_type = 'view') AS n_view,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |  count(*) FILTER (WHERE event_type = 'error') AS n_error
        |FROM events GROUP BY user_id""".stripMargin,
    "q_containment_join" ->
      """SELECT s_suppkey, count(*) AS n_cust FROM supplier
        |JOIN customer ON c_acctbal >= s_acctbal - 500 AND c_acctbal <= s_acctbal + 500
        |GROUP BY s_suppkey""".stripMargin,
    // the bucketed scale path must produce byte-identical results to
    // the plain range join
    "q_range_join" ->
      """SELECT s_suppkey, count(*) AS n_cust FROM supplier
        |JOIN customer ON c_acctbal >= s_acctbal - 500 AND c_acctbal <= s_acctbal + 500
        |GROUP BY s_suppkey""".stripMargin,
    "q_rangejoin_rule" ->
      """SELECT s_suppkey, count(*) AS n_cust FROM supplier
        |JOIN customer ON c_acctbal >= s_acctbal - 500 AND c_acctbal <= s_acctbal + 500
        |GROUP BY s_suppkey""".stripMargin,
    // Null-safe join: IS NOT DISTINCT FROM replay
    "q_null_safe_join" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS k
        |  FROM documents
        |), b AS (
        |  SELECT CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END AS k,
        |    count(*) AS b_n
        |  FROM documents WHERE doc_id % 3 = 0 GROUP BY 1
        |)
        |SELECT a.doc_id, a.k, b.b_n
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k""".stripMargin,
    // Stab-lookup exec: the same plain theta-join ground truth
    "q_interval_lookup" ->
      """SELECT s_suppkey, count(*) AS n_cust FROM supplier
        |JOIN customer ON c_acctbal >= s_acctbal - 500 AND c_acctbal <= s_acctbal + 500
        |GROUP BY s_suppkey""".stripMargin,
    "q_overlap_join" ->
      // plain overlap theta-join: the engine's bucketed equi-join +
      // first-shared-bucket dedup must reproduce it exactly
      """SELECT a.c_custkey, count(*) AS n_overlap
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        | AND a.c_acctbal - 25 <= b.c_acctbal + 25
        | AND b.c_acctbal - 25 <= a.c_acctbal + 25
        |GROUP BY a.c_custkey""".stripMargin,
    "q_dedup_exact" ->
      "SELECT sha256(lower(text)) AS checksum, min(doc_id) AS keep_id, count(*) AS n_dupes FROM documents GROUP BY 1",
    "q_text_tokens" ->
      "SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents",
    "q_text_fingerprint" ->
      """SELECT doc_id,
        |  CAST(list_sum(list_transform(range(1, len(toks) + 1), i -> i * length(toks[i]))) AS BIGINT) % 1000000007 AS fp
        |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id,
        |  round(CAST(len(string_split(text, ' ')) AS DOUBLE) / n_chars, 5) AS density,
        |  len(list_filter(string_split(text, ' '), x -> x = 'the')) AS n_the
        |FROM documents""".stripMargin,
    "q_text_langid" -> {
      val sets = TextOps.LangMarkers.map { case (l, ms) =>
        l -> ms.map(m => s"'$m'").mkString("(", ", ", ")")
      }.toMap
      s"""WITH sc AS (
         |  SELECT doc_id,
         |    len(list_filter(string_split(lower(text), ' '), x -> x IN ${sets("en")})) AS s_en,
         |    len(list_filter(string_split(lower(text), ' '), x -> x IN ${sets("de")})) AS s_de,
         |    len(list_filter(string_split(lower(text), ' '), x -> x IN ${sets("es")})) AS s_es,
         |    len(list_filter(string_split(lower(text), ' '), x -> x IN ${sets("fr")})) AS s_fr,
         |    len(list_filter(string_split(lower(text), ' '), x -> x IN ${sets("zh")})) AS s_zh
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CASE WHEN s_en + s_de + s_es + s_fr + s_zh = 0 THEN 'und'
         |       WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
         |       WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
         |       WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
         |       WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
         |       ELSE 'zh' END AS pred_lang
         |FROM sc""".stripMargin
    },
    "q_quality_score" -> {
      val allMarkers = TextOps.LangMarkers.flatMap(_._2)
        .map(m => s"'$m'").mkString("(", ", ", ")")
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
         |    CAST(length(text) AS DOUBLE) AS n_ch,
         |    CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN $allMarkers)) AS DOUBLE) AS hits
         |  FROM documents
         |), d AS (
         |  SELECT doc_id,
         |    least(n_tok / 64.0, 1.0) AS len_score,
         |    n_ch / greatest(n_tok, 1.0) AS mean_word,
         |    least(hits / greatest(n_tok * 0.05, 1.0), 1.0) AS stop_score
         |  FROM m
         |)
         |SELECT doc_id,
         |  len_score * 0.4
         |  + (CASE WHEN mean_word >= 3 AND mean_word <= 10 THEN 1.0
         |          ELSE greatest(0.0, 1.0 - abs(mean_word - 6.5) / 10.0) END) * 0.3
         |  + stop_score * 0.3 AS quality
         |FROM d""".stripMargin
    },
    "q_bpe_estimate" ->
      """SELECT doc_id,
        |  CAST(list_sum(list_transform(regexp_split_to_array(text, '[^A-Za-z0-9]+'),
        |    w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_bpe
        |FROM documents""".stripMargin,
    "q_bpe_merges" ->
      // model dump: identity for ranks > 1, but rank 1 is RE-DERIVED
      // from the corpus (argmax adjacent codepoint pair over the capped
      // top-word vocabulary, count desc / lexicographic tie-break) — a
      // wrong first merge hash-mismatches; full training correctness is
      // gated by BpeSpec's independent reference implementation, and
      // full APPLICATION of this very table is oracled bit-for-bit by
      // q_bpe_tokens / q_pack_bpe below
      """WITH wrds AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
        |), wc AS (
        |  SELECT w, count(*) AS cnt FROM wrds WHERE w <> '' GROUP BY w
        |  ORDER BY cnt DESC, w LIMIT 65536
        |), pr AS (
        |  SELECT substr(w, CAST(i AS INT), 1) AS l,
        |         substr(w, CAST(i AS INT) + 1, 1) AS r, cnt
        |  FROM (SELECT w, cnt, unnest(range(1, length(w))) AS i FROM wc)
        |), r1 AS (
        |  SELECT l, r FROM pr GROUP BY l, r HAVING sum(cnt) >= 2
        |  ORDER BY sum(cnt) DESC, l, r LIMIT 1
        |)
        |SELECT CAST(1 AS BIGINT) AS rank, l AS left_sym, r AS right_sym FROM r1
        |UNION ALL
        |SELECT rank, left_sym, right_sym FROM '{OUT}/q_bpe_merges/*.parquet'
        |WHERE rank > 1""".stripMargin,
    "q_bpe_tokens" ->
      s"WITH RECURSIVE $bpeApplyCtes\nSELECT doc_id, n_bpe FROM doctok",
    "q_pack_bpe" ->
      // NOTE: no outer stripMargin after interpolating bpeApplyCtes —
      // its "|| list_slice" continuation lines would lose a pipe
      (s"WITH RECURSIVE $bpeApplyCtes, " +
        """h AS (
          |  SELECT doc_id, n_bpe AS n_tokens,
          |    CAST('0x' || substr(md5('pack' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
          |      % 1000000 AS hv
          |  FROM doctok
          |), c AS (
          |  SELECT doc_id, CAST(hv % 8 AS INTEGER) AS grp, n_tokens,
          |    sum(n_tokens) OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_off
          |  FROM h
          |)
          |SELECT doc_id, grp, CAST(floor(start_off / 2048.0) AS BIGINT) AS pack_id,
          |  n_tokens, CAST(start_off AS BIGINT) AS start_off
          |FROM c""".stripMargin),
    "q_dedup_simhash" -> {
      // replay the portable 60-bit SimHash (per-token md5-derived hash,
      // bit votes, 4x15-bit chunk banding with the bucket cap, exact
      // Hamming verify) — pure integer arithmetic in both engines
      val bits = Dedup.SimhashBits; val cw = Dedup.SimhashChunkBits
      val mask = (1L << cw) - 1
      s"""WITH t AS (
         |  SELECT doc_id AS id, string_split(text, ' ') AS toks FROM documents
         |), hs AS (
         |  SELECT id, list_transform(toks, tk ->
         |    CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT)) AS hl FROM t
         |), fp AS (
         |  SELECT id, CAST(list_sum(list_transform(range(0, $bits), b ->
         |    CASE WHEN list_sum(list_transform(hl, h ->
         |        CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
         |      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
         |  FROM hs
         |), chunked AS (
         |  SELECT id, simhash, c AS chunk, (simhash >> (c * $cw)) & $mask AS chunk_val
         |  FROM fp, (SELECT unnest(range(0, ${Dedup.SimhashChunks})) AS c)
         |), capped AS (
         |  SELECT * FROM (
         |    SELECT *, count(*) OVER (PARTITION BY chunk, chunk_val) AS bsz FROM chunked)
         |  WHERE bsz <= 10000
         |), pairs AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.simhash AS sh_a, b.simhash AS sh_b
         |  FROM capped a JOIN capped b
         |    ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val AND a.id < b.id
         |)
         |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
         |FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= 3""".stripMargin
    },
    "q_ann_lsh" -> annLshOracle,
    "q_ann_ivf" -> {
      // replay the deterministic IVF end to end: lowest-id init, 3
      // unrolled Lloyd's iterations with fixed-point centroid sums
      // (order-independent integer accumulation -> identical doubles),
      // lowest-c tie-breaks, nProbe probing, exact rerank. Ivf.scala
      // documents why each step is engine-reproducible.
      val nList = 16; val nProbe = 4; val iters = 3; val k = 10
      def dot(a: String, b: String) = ivfDot(a, b)
      def nrm(a: String) = ivfNrm(a)
      s"""WITH ${ivfTrainCtes(nList, iters)}, probes AS (
         |  SELECT query_id, c FROM (
         |    SELECT q.vec_id AS query_id, k.c, row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      (${dot("k", "q")} / (${nrm("k")} * greatest(${nrm("q")}, 1e-12))) DESC,
         |      k.c ASC) AS rn
         |    FROM vecs q CROSS JOIN c$iters k WHERE q.vec_id IN (0, 1, 2, 3, 4))
         |  WHERE rn <= $nProbe
         |), cand AS (
         |  SELECT DISTINCT p.query_id, a.vec_id AS item_id
         |  FROM af a JOIN probes p ON a.c = p.c WHERE a.vec_id <> p.query_id
         |), sims AS (
         |  SELECT c.query_id, c.item_id,
         |    ${dot("qv", "iv")} / (${nrm("qv")} * ${nrm("iv")}) AS sim
         |  FROM cand c
         |  JOIN vecs qv ON qv.vec_id = c.query_id
         |  JOIN vecs iv ON iv.vec_id = c.item_id
         |), r AS (
         |  SELECT query_id, item_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, item_id) AS rank
         |  FROM sims
         |)
         |SELECT query_id, item_id AS neighbor_id, CAST(rank AS BIGINT) AS rank, sim
         |FROM r WHERE rank <= $k""".stripMargin
    },
    "q_ann_pq" -> {
      // replay the deterministic PQ end to end: per-subspace training
      // (pqCtes), then ADC scoring — per item, the sum over subspaces
      // of dot(query subvector, assigned codeword), left-associated in
      // subspace order exactly as Pq.topK accumulates it
      val numSub = 4; val kSub = 8; val iters = 2; val k = 10
      val subDim = IvfDim / numSub
      def adotTerm(mi: Int) =
        s"(list_sum(list_transform(range(1, ${subDim + 1}), i -> q$mi.v[i] * k$mi.v[i])))"
      val qjoins = (0 until numSub).map(mi =>
        s"JOIN sv$mi q$mi ON q$mi.vec_id = qv.vec_id").mkString("\n  ")
      val ijoins = (0 until numSub).map { mi =>
        (if (mi == 0) "CROSS JOIN af_0 a0"
         else s"JOIN af_$mi a$mi ON a$mi.vec_id = a0.vec_id") +
          s" JOIN c${iters}_$mi k$mi ON k$mi.c = a$mi.c"
      }.mkString("\n  ")
      s"""WITH ${pqCtes(numSub, kSub, iters)}, scores AS (
         |  SELECT qv.vec_id AS query_id, a0.vec_id AS item_id,
         |    ${(0 until numSub).map(adotTerm).mkString(" + ")} AS adot
         |  FROM (SELECT vec_id FROM vecs WHERE vec_id IN (0, 1, 2, 3, 4)) qv
         |  $qjoins
         |  $ijoins
         |  WHERE a0.vec_id <> qv.vec_id
         |), r AS (
         |  SELECT query_id, item_id, adot,
         |    row_number() OVER (PARTITION BY query_id ORDER BY adot DESC, item_id) AS rank
         |  FROM scores
         |)
         |SELECT query_id, item_id AS neighbor_id, CAST(rank AS BIGINT) AS rank, adot
         |FROM r WHERE rank <= $k""".stripMargin
    },
    "q_ann_ivfpq" -> {
      // IVFADC replay: both deterministic training chains composed —
      // the IVF probe/candidate CTEs verbatim from q_ann_ivf, the ADC
      // scoring verbatim from q_ann_pq, joined on the candidate set
      val nList = 16; val nProbe = 4; val ivfIters = 3
      val numSub = 4; val kSub = 8; val pqIters = 2; val k = 10
      val subDim = IvfDim / numSub
      def adotTerm(mi: Int) =
        s"(list_sum(list_transform(range(1, ${subDim + 1}), i -> q$mi.v[i] * k$mi.v[i])))"
      val qjoins = (0 until numSub).map(mi =>
        s"JOIN sv$mi q$mi ON q$mi.vec_id = cand.query_id").mkString("\n  ")
      val ijoins = (0 until numSub).map(mi =>
        s"JOIN af_$mi a$mi ON a$mi.vec_id = cand.item_id" +
          s" JOIN c${pqIters}_$mi k$mi ON k$mi.c = a$mi.c").mkString("\n  ")
      s"""WITH ${ivfTrainCtes(nList, ivfIters)}, ${pqCtes(numSub, kSub, pqIters, defineVecs = false)}, probes AS (
         |  SELECT query_id, c FROM (
         |    SELECT q.vec_id AS query_id, kk.c, row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      (${ivfDot("kk", "q")} / (${ivfNrm("kk")} * greatest(${ivfNrm("q")}, 1e-12))) DESC,
         |      kk.c ASC) AS rn
         |    FROM vecs q CROSS JOIN c$ivfIters kk WHERE q.vec_id IN (0, 1, 2, 3, 4))
         |  WHERE rn <= $nProbe
         |), cand AS (
         |  SELECT DISTINCT p.query_id, a.vec_id AS item_id
         |  FROM af a JOIN probes p ON a.c = p.c WHERE a.vec_id <> p.query_id
         |), scores AS (
         |  SELECT cand.query_id, cand.item_id,
         |    ${(0 until numSub).map(adotTerm).mkString(" + ")} AS adot
         |  FROM cand
         |  $qjoins
         |  $ijoins
         |), r AS (
         |  SELECT query_id, item_id, adot,
         |    row_number() OVER (PARTITION BY query_id ORDER BY adot DESC, item_id) AS rank
         |  FROM scores
         |)
         |SELECT query_id, item_id AS neighbor_id, CAST(rank AS BIGINT) AS rank, adot
         |FROM r WHERE rank <= $k""".stripMargin
    },
    "q_semantic_dedup" ->
      // IVF training replay -> within-cluster cosine pairs at eps=0.3
      // -> recursive-CTE components -> min-id representative per group
      s"""WITH RECURSIVE ${ivfTrainCtes(16, 3)}, wc AS (
         |  SELECT a.vec_id, a.c, v.v, ${ivfNrm("v")} AS nrm
         |  FROM af a JOIN vecs v ON v.vec_id = a.vec_id
         |), pr AS (
         |  SELECT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM wc x JOIN wc y ON x.c = y.c AND x.vec_id < y.vec_id
         |  WHERE (${ivfDot("x", "y")}) / (x.nrm * y.nrm) >= 0.3
         |), e2 AS (
         |  SELECT id_a AS u, id_b AS v FROM pr UNION SELECT id_b, id_a FROM pr
         |), reach AS (
         |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e2)
         |  UNION
         |  SELECT e2.u, reach.r FROM e2 JOIN reach ON reach.u = e2.v
         |)
         |SELECT u AS vec_id, min(r) AS group_id, min(r) = u AS keep
         |FROM reach GROUP BY u""".stripMargin,
    "q_dedup_minhash" ->
      s"WITH $minhashPairsCtes\nSELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.5",
    "q_dedup_cap_audit" ->
      (s"WITH $minhashPairsCtes\n" +
        "SELECT band, bkey AS band_hash, count(*) AS bsz FROM bands_t GROUP BY 1, 2 HAVING count(*) > 1"),
    "q_dedup_substring" ->
      // window fingerprints + df>=2 anchors + islands merge, replayed
      // relationally; CASE with null lag falls to ELSE 1, matching
      // Spark's when(null-cond).otherwise(1)
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), w AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    CAST('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 7), ' ')), 1, 15) AS BIGINT) AS whash
        |  FROM (SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 8 + 1, 0) + 1)) AS i FROM t)
        |), anchors AS (
        |  SELECT whash FROM w GROUP BY whash
        |  HAVING count(DISTINCT doc_id) >= 2 AND count(DISTINCT doc_id) <= 100000
        |), dw AS (
        |  SELECT w.doc_id, w.pos, w.whash FROM w JOIN anchors USING (whash)
        |), isl AS (
        |  SELECT doc_id, pos, whash,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |         THEN 0 ELSE 1 END AS brk
        |  FROM dw
        |), grp AS (
        |  SELECT doc_id, pos, whash,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
        |  FROM isl
        |)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 8 AS span_end,
        |       min(whash) AS dup_group, count(*) AS n_windows
        |FROM grp GROUP BY doc_id, island""".stripMargin,
    "q_dedup_substr_audit" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), w AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 7), ' ')), 1, 15) AS BIGINT) AS whash
        |  FROM (SELECT doc_id, toks, unnest(range(1, greatest(len(toks) - 8 + 1, 0) + 1)) AS i FROM t)
        |)
        |SELECT whash, count(DISTINCT doc_id) AS df FROM w GROUP BY whash
        |HAVING count(DISTINCT doc_id) > 2""".stripMargin,
    "q_dedup_cluster" ->
      // connected components over the thresholded pair graph: DuckDB's
      // recursive CTE computes min-reachable-id per node — an
      // independent formulation of what the Spark side derives by
      // pointer-jumping label propagation
      s"""WITH RECURSIVE $minhashPairsCtes, pr AS (
         |  SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5
         |), e2 AS (
         |  SELECT id_a AS u, id_b AS v FROM pr UNION SELECT id_b, id_a FROM pr
         |), reach AS (
         |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e2)
         |  UNION
         |  SELECT e2.u, reach.r FROM e2 JOIN reach ON reach.u = e2.v
         |)
         |SELECT u AS doc_id, min(r) AS cluster_id, min(r) = u AS keep
         |FROM reach GROUP BY u""".stripMargin,
    // the chooser's output is label-identical to q_dedup_cluster by
    // construction (both implementations are spec-asserted against
    // union-find), so the identical recursive-CTE oracle gates it
    "q_dedup_cluster_auto" ->
      s"""WITH RECURSIVE $minhashPairsCtes, pr AS (
         |  SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5
         |), e2 AS (
         |  SELECT id_a AS u, id_b AS v FROM pr UNION SELECT id_b, id_a FROM pr
         |), reach AS (
         |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e2)
         |  UNION
         |  SELECT e2.u, reach.r FROM e2 JOIN reach ON reach.u = e2.v
         |)
         |SELECT u AS doc_id, min(r) AS cluster_id, min(r) = u AS keep
         |FROM reach GROUP BY u""".stripMargin,
    // Canonical selection: the same recursive components, then the
    // quality argmax per cluster + unclustered self-canonical rows
    "q_cluster_canonical" ->
      (s"""WITH RECURSIVE $minhashPairsCtes, pr AS (
         |  SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5
         |), e2 AS (
         |  SELECT id_a AS u, id_b AS v FROM pr UNION SELECT id_b, id_a FROM pr
         |), reach AS (
         |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e2)
         |  UNION
         |  SELECT e2.u, reach.r FROM e2 JOIN reach ON reach.u = e2.v
         |), mem AS (
         |  SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u
         |), memq AS (
         |  SELECT m.doc_id, m.cluster_id, d.n_chars
         |  FROM mem m JOIN documents d USING (doc_id)
         |), best AS (
         |  SELECT cluster_id, doc_id AS best_id FROM (
         |    SELECT cluster_id, doc_id, row_number() OVER (
         |      PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC) AS rn
         |    FROM memq
         |  ) WHERE rn = 1
         |)
         |SELECT memq.doc_id, memq.cluster_id, memq.n_chars,
         |  CAST(memq.doc_id = best.best_id AS INT) AS canonical
         |FROM memq JOIN best USING (cluster_id)
         |UNION ALL
         |SELECT d.doc_id, d.doc_id AS cluster_id, d.n_chars, 1 AS canonical
         |FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM mem)"""
        .stripMargin),
    // Burstiness: integer-second gaps + the same sufficient-statistic
    // expressions
    "q_burstiness" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec FROM events
        |), g AS (
        |  SELECT user_id,
        |    sec - lag(sec) OVER (PARTITION BY user_id
        |      ORDER BY sec, event_id) AS gap
        |  FROM ev
        |)
        |SELECT user_id, count(*) AS n_gaps,
        |  CAST(sum(gap) AS BIGINT) AS gap_sum,
        |  CAST(sum(gap * gap) AS BIGINT) AS gap_sumsq,
        |  CAST(sum(gap) AS DOUBLE) / count(*) AS gap_mean,
        |  CAST(count(*) * sum(gap * gap) - sum(gap) * sum(gap) AS DOUBLE)
        |    / CAST(count(*) * count(*) AS DOUBLE) AS gap_var
        |FROM g WHERE gap IS NOT NULL GROUP BY user_id""".stripMargin,
    // Median imputation: seeded nulls + the non-null quantile
    // count-table median + coalesce
    "q_impute_median" ->
      """WITH dv AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 9 = 0 THEN NULL ELSE n_chars END AS v
        |  FROM documents
        |), c AS (
        |  SELECT lang AS grp, v, count(*) AS c FROM dv
        |  WHERE v IS NOT NULL GROUP BY 1, 2
        |), w AS (
        |  SELECT grp, v, c,
        |    sum(c) OVER (PARTITION BY grp ORDER BY v
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY grp) AS n
        |  FROM c
        |), med AS (
        |  SELECT grp AS lang, min(v) AS med FROM w
        |  WHERE cum >= ceil(CAST(0.5 AS DOUBLE) * n) GROUP BY grp
        |)
        |SELECT doc_id, d.lang, v, coalesce(v, med) AS v_imputed,
        |  CAST(v IS NULL AS INT) AS was_imputed
        |FROM dv d JOIN med m ON m.lang = d.lang""".stripMargin,
    // Winsorize: the quantile count-table construction (quantileOracle
    // pattern) pivoted to [lo, hi], then the clamp
    "q_winsorize" ->
      """WITH c AS (
        |  SELECT lang AS grp, n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2
        |), w AS (
        |  SELECT grp, v, c,
        |    sum(c) OVER (PARTITION BY grp ORDER BY v
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY grp) AS n
        |  FROM c
        |), x AS (SELECT grp, v, cum, n, unnest([0.05, 0.95]::DOUBLE[]) AS q FROM w
        |), qv AS (
        |  SELECT grp, q, min(v) AS q_value
        |  FROM x WHERE cum >= ceil(q * n) GROUP BY grp, q
        |), band AS (
        |  SELECT grp AS lang,
        |    min(CASE WHEN q = 0.05 THEN q_value END) AS lo,
        |    min(CASE WHEN q = 0.95 THEN q_value END) AS hi
        |  FROM qv GROUP BY grp
        |)
        |SELECT doc_id, d.lang, n_chars,
        |  least(greatest(n_chars, lo), hi) AS n_chars_wins
        |FROM documents d JOIN band b ON b.lang = d.lang""".stripMargin,
    // Feature propagation: symmetrized self-loop-free link edges +
    // neighbor integer sums + one division
    "q_graph_featprop" ->
      """WITH c AS (SELECT count(*) AS cnt FROM documents),
        |ed AS (
        |  SELECT CAST(doc_id AS BIGINT) AS src,
        |    CAST((doc_id * 31 + 97) % cnt AS BIGINT) AS dst FROM documents, c
        |  UNION ALL SELECT doc_id, (doc_id * 31 + 194) % cnt FROM documents, c
        |  UNION ALL SELECT doc_id, (doc_id * 31 + 291) % cnt FROM documents, c
        |), sym AS (
        |  SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed
        |), e AS (SELECT DISTINCT src, dst FROM sym WHERE src <> dst)
        |SELECT e.src AS doc_id, count(*) AS deg,
        |  CAST(sum(d.n_chars) AS BIGINT) AS nb_sum,
        |  CAST(sum(d.n_chars) AS DOUBLE) / count(*) AS nb_mean
        |FROM e JOIN documents d ON d.doc_id = e.dst
        |GROUP BY e.src""".stripMargin,
    // Exact mixture: the same apportionment (floor + largest-remainder
    // seats by (frac desc, lang asc)) and hash-ranked selection
    "q_mix_exact" ->
      """WITH c AS (
        |  SELECT lang, count(*) AS n FROM documents GROUP BY lang
        |), t AS (SELECT sum(n) AS nn FROM c
        |), q0 AS (
        |  SELECT lang, n,
        |    CAST(200 AS DOUBLE) * CAST(n AS DOUBLE) / CAST(nn AS DOUBLE) AS exact,
        |    CAST(floor(CAST(200 AS DOUBLE) * CAST(n AS DOUBLE)
        |      / CAST(nn AS DOUBLE)) AS BIGINT) AS base
        |  FROM c CROSS JOIN t
        |), q1 AS (
        |  SELECT lang, base, exact - base AS frac,
        |    200 - sum(base) OVER () AS leftover,
        |    row_number() OVER (ORDER BY exact - base DESC, lang ASC) AS seat
        |  FROM q0
        |), quota AS (
        |  SELECT lang,
        |    base + CASE WHEN seat <= leftover THEN 1 ELSE 0 END AS quota
        |  FROM q1
        |), r AS (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY CAST('0x' || substr(md5('alloc:' ||
        |      CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT), doc_id) AS sel_rank
        |  FROM documents
        |)
        |SELECT doc_id, r.lang, CAST(sel_rank AS INT) AS sel_rank
        |FROM r JOIN quota q ON q.lang = r.lang
        |WHERE sel_rank <= quota""".stripMargin,
    // DSIR replay: same hashed-unigram buckets, same add-one smoothing,
    // same micro-nat discretization of every ln — the weight is an
    // exact BIGINT both sides; top-100 by (weight desc, doc_id)
    "q_dsir_select" ->
      """WITH tok AS (
        |  SELECT doc_id, (lang = 'en') AS tgt,
        |    unnest(string_split(text, ' ')) AS tk
        |  FROM documents
        |), bk AS (
        |  SELECT doc_id, tgt,
        |    CAST('0x' || substr(md5('dsir:' || tk), 1, 15) AS BIGINT) % 1024 AS b
        |  FROM tok WHERE tk <> ''
        |), pd AS (
        |  SELECT doc_id, tgt, b, count(*) AS c FROM bk GROUP BY 1, 2, 3
        |), mdl AS (
        |  SELECT b, sum(c) AS r, sum(CASE WHEN tgt THEN c ELSE 0 END) AS tc
        |  FROM pd GROUP BY b
        |), mdl2 AS (
        |  SELECT b,
        |    CAST(floor(ln(CAST(tc + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
        |      - CAST(floor(ln(CAST(r + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS diff,
        |    CAST(floor(ln(CAST(sum(r) OVER () + 1024 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
        |      - CAST(floor(ln(CAST(sum(tc) OVER () + 1024 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS cst
        |  FROM mdl
        |), sc AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
        |    CAST(sum(c * diff) + sum(c) * max(cst) AS BIGINT) AS weight_mn
        |  FROM pd JOIN mdl2 USING (b) GROUP BY doc_id
        |)
        |SELECT doc_id, n_tok, weight_mn FROM sc
        |ORDER BY weight_mn DESC, doc_id ASC LIMIT 100""".stripMargin,
    // Caption association replay: the quadratic media x text min/max
    // join ground truth (the engine uses one windowed pass instead),
    // same pre-media decoration from the dumped span table
    "q_caption_assoc" ->
      """WITH sp0 AS (
        |  SELECT doc_id, "offset", kind, text, media_ref
        |  FROM '{OUT}/spans_input/*.parquet'
        |), pre AS (
        |  SELECT DISTINCT doc_id, -1 AS "offset", 'media' AS kind,
        |    '' AS text, 'media://pre/' || doc_id AS media_ref
        |  FROM sp0 WHERE CAST(substr(doc_id, 5) AS BIGINT) % 3 = 0
        |), sp AS (
        |  SELECT * FROM sp0 UNION ALL SELECT * FROM pre
        |), m AS (
        |  SELECT doc_id, "offset" AS media_offset, media_ref
        |  FROM sp WHERE kind = 'media'
        |), tx AS (
        |  SELECT doc_id, "offset" AS toff, text FROM sp WHERE kind = 'text'
        |), nx AS (
        |  SELECT m.doc_id, m.media_offset, m.media_ref, min(t.toff) AS noff
        |  FROM m LEFT JOIN tx t
        |    ON t.doc_id = m.doc_id AND t.toff > m.media_offset
        |  GROUP BY 1, 2, 3
        |), pv AS (
        |  SELECT m.doc_id, m.media_offset, max(t.toff) AS poff
        |  FROM m LEFT JOIN tx t
        |    ON t.doc_id = m.doc_id AND t.toff < m.media_offset
        |  GROUP BY 1, 2
        |), j AS (
        |  SELECT n.doc_id, n.media_offset, n.media_ref, n.noff, p.poff,
        |    coalesce(n.noff, p.poff) AS cap_offset
        |  FROM nx n JOIN pv p
        |    ON p.doc_id = n.doc_id AND p.media_offset = n.media_offset
        |)
        |SELECT j.doc_id, CAST(j.media_offset AS INT) AS media_offset,
        |  j.media_ref, CAST(j.cap_offset AS INT) AS cap_offset,
        |  t.text AS cap_text,
        |  CASE WHEN j.noff IS NOT NULL THEN 'next'
        |       WHEN j.poff IS NOT NULL THEN 'prev'
        |       ELSE 'none' END AS cap_dir
        |FROM j LEFT JOIN tx t
        |  ON t.doc_id = j.doc_id AND t.toff = j.cap_offset""".stripMargin,
    // Multimodal-cost packing replay: per-doc cost from the dumped span
    // table (media = 16, text = whitespace tokens), then the standard
    // pack-layout window replay (same hash, groups, budget)
    "q_interleave_pack" ->
      """WITH sp AS (
        |  SELECT CAST(substr(doc_id, 5) AS BIGINT) AS doc_id,
        |    CASE WHEN kind = 'media' THEN 16
        |         ELSE len(string_split(text, ' ')) END AS cost
        |  FROM '{OUT}/spans_input/*.parquet'
        |), d AS (
        |  SELECT doc_id, CAST(sum(cost) AS BIGINT) AS n_tokens FROM sp GROUP BY 1
        |), h AS (
        |  SELECT doc_id, n_tokens,
        |    CAST('0x' || substr(md5('mmpack' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |      % 1000000 AS hv
        |  FROM d
        |), c AS (
        |  SELECT doc_id, CAST(hv % 8 AS INTEGER) AS grp, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_off
        |  FROM h
        |)
        |SELECT doc_id, grp, CAST(floor(start_off / 2048.0) AS BIGINT) AS pack_id,
        |  n_tokens, CAST(start_off AS BIGINT) AS start_off
        |FROM c""".stripMargin,
    // Caption-filter replay: the quadratic pairing ground truth (no
    // decoration) + the identical keep predicate
    "q_caption_filter" ->
      """WITH sp AS (
        |  SELECT doc_id, "offset", kind, text, media_ref
        |  FROM '{OUT}/spans_input/*.parquet'
        |), m AS (
        |  SELECT doc_id, "offset" AS media_offset, media_ref
        |  FROM sp WHERE kind = 'media'
        |), tx AS (
        |  SELECT doc_id, "offset" AS toff, text FROM sp WHERE kind = 'text'
        |), nx AS (
        |  SELECT m.doc_id, m.media_offset, m.media_ref, min(t.toff) AS noff
        |  FROM m LEFT JOIN tx t
        |    ON t.doc_id = m.doc_id AND t.toff > m.media_offset
        |  GROUP BY 1, 2, 3
        |), pv AS (
        |  SELECT m.doc_id, m.media_offset, max(t.toff) AS poff
        |  FROM m LEFT JOIN tx t
        |    ON t.doc_id = m.doc_id AND t.toff < m.media_offset
        |  GROUP BY 1, 2
        |), j AS (
        |  SELECT n.doc_id, n.media_offset, n.media_ref, n.noff, p.poff,
        |    coalesce(n.noff, p.poff) AS cap_offset
        |  FROM nx n JOIN pv p
        |    ON p.doc_id = n.doc_id AND p.media_offset = n.media_offset
        |), pr AS (
        |  SELECT j.doc_id, CAST(j.media_offset AS INT) AS media_offset,
        |    j.media_ref,
        |    CASE WHEN j.noff IS NOT NULL THEN 'next'
        |         WHEN j.poff IS NOT NULL THEN 'prev'
        |         ELSE 'none' END AS cap_dir,
        |    t.text AS cap_text
        |  FROM j LEFT JOIN tx t
        |    ON t.doc_id = j.doc_id AND t.toff = j.cap_offset
        |)
        |SELECT doc_id, media_offset, media_ref, cap_dir,
        |  CASE WHEN cap_text IS NULL THEN 0
        |       ELSE len(string_split(cap_text, ' ')) END AS n_cap_tokens,
        |  (cap_dir <> 'none'
        |    AND (CASE WHEN cap_text IS NULL THEN 0
        |              ELSE len(string_split(cap_text, ' ')) END) BETWEEN 3 AND 64
        |    AND regexp_matches(coalesce(cap_text, ''), '[a-z]')) AS keep
        |FROM pr""".stripMargin,
    // Header/footer strip replay: same decoration, same edge-line
    // template detection with the integer cross-multiplied threshold,
    // order-preserving rebuild of kept lines (blanks preserved)
    "q_header_footer" ->
      (siteTemplateCtes +
        """SELECT doc_id,
          |  coalesce(string_agg(CASE WHEN NOT dropped THEN line END,
          |    chr(10) ORDER BY pos), '') AS text_clean,
          |  CAST(count(CASE WHEN dropped THEN 1 END) AS BIGINT) AS n_dropped
          |FROM mk GROUP BY doc_id""".stripMargin),
    // Template audit replay: the hdr/ftr detection CTEs surfaced as
    // their own rows
    "q_boiler_audit" ->
      (siteTemplateCtes +
        """SELECT source, k AS template, 'header' AS side,
          |  CAST(nd AS BIGINT) AS n_docs FROM hdr
          |UNION ALL
          |SELECT source, k AS template, 'footer' AS side,
          |  CAST(nd AS BIGINT) AS n_docs FROM ftr""".stripMargin),
    // Dedup-aware folds: recursive components + portable-hash fold of
    // the cluster id (singletons hash their own id)
    "q_fold_assign" ->
      (s"""WITH RECURSIVE $minhashPairsCtes, pr AS (
         |  SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5
         |), e2 AS (
         |  SELECT id_a AS u, id_b AS v FROM pr UNION SELECT id_b, id_a FROM pr
         |), reach AS (
         |  SELECT u, u AS r FROM (SELECT DISTINCT u FROM e2)
         |  UNION
         |  SELECT e2.u, reach.r FROM e2 JOIN reach ON reach.u = e2.v
         |), mem AS (
         |  SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u
         |), units AS (
         |  SELECT d.doc_id, coalesce(m.cluster_id, d.doc_id) AS unit_id
         |  FROM documents d LEFT JOIN mem m ON m.doc_id = d.doc_id
         |)
         |SELECT doc_id, unit_id,
         |  CAST('0x' || substr(md5('fold:' || CAST(unit_id AS VARCHAR)), 1, 15)
         |    AS BIGINT) % 5 AS fold
         |FROM units""".stripMargin),
    // Percentile rank: unique ordering reduces both built-ins to exact
    // rank arithmetic
    "q_percentile_rank" ->
      """SELECT doc_id, lang, n_chars,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM documents
        |WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)""".stripMargin,
    // JSON path extraction replay
    "q_json_props" ->
      """SELECT event_id, event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin,
    "q_dedup_ngram" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 200
        |), sh AS (
        |  SELECT DISTINCT doc_id AS id, s AS shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |    FROM t)
        |), cnt AS (
        |  SELECT id, count(*) AS n FROM sh GROUP BY id
        |), com AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, n_common,
        |  CAST(n_common AS DOUBLE) / CAST(ca.n + cb.n - n_common AS DOUBLE) AS jaccard
        |FROM com JOIN cnt ca ON ca.id = id_a JOIN cnt cb ON cb.id = id_b
        |WHERE CAST(n_common AS DOUBLE) / CAST(ca.n + cb.n - n_common AS DOUBLE) >= 0.05""".stripMargin,
    "q_fuzzy_names" ->
      // the native expression is pinned to DuckDB's byte-level
      // jaro_winkler_similarity, so the score column hash-matches
      """WITH n AS (
        |  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS cnt
        |  FROM part GROUP BY 1
        |)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  jaro_winkler_similarity(a.name, b.name) AS jw,
        |  a.cnt AS n_a, b.cnt AS n_b
        |FROM n a JOIN n b ON a.name < b.name
        |WHERE jaro_winkler_similarity(a.name, b.name) >= 0.9""".stripMargin,
    "q_prefix_join" ->
      // UNCAPPED brute force — hash equality proves the engine's
      // prefix-filtered candidate join is complete, not just precise
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 2000
        |), sh AS (
        |  SELECT DISTINCT doc_id AS id, s AS shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |    FROM t)
        |), cnt AS (
        |  SELECT id, count(*) AS n FROM sh GROUP BY id
        |), com AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, n_common,
        |  CAST(n_common AS DOUBLE) / CAST(ca.n + cb.n - n_common AS DOUBLE) AS jaccard
        |FROM com JOIN cnt ca ON ca.id = id_a JOIN cnt cb ON cb.id = id_b
        |WHERE CAST(n_common AS DOUBLE) / CAST(ca.n + cb.n - n_common AS DOUBLE) >= 0.15""".stripMargin,
    "q_ann_topk" -> annTopkOracle,
    "q_mips_topk" ->
      // brute-force MIPS: the engine's norm-bound pruning is EXACT, so
      // the oracle needs no pruning replay — un-normalized dot, rank by
      // (score DESC, neighbor_id), top 10 per query
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        |), q AS (
        |  SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id IN (0, 1, 2, 3, 4)
        |), s AS (
        |  SELECT q.query_id, v.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, len(v.e) + 1), i -> q.qe[i] * v.e[i])) AS score
        |  FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id
        |), r AS (
        |  SELECT query_id, neighbor_id, score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
        |  FROM s
        |)
        |SELECT query_id, neighbor_id, rank, score FROM r WHERE rank <= 10""".stripMargin,
    "q_mips_prune_audit" ->
      // full replay of the pruning pipeline: 64th-largest norm cutoff
      // (ORDER BY DESC LIMIT then min — same tie semantics as the
      // engine's TakeOrderedAndProject), head scores, per-query 10th-
      // best bound, and the identical safety-margined keep predicate
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e,
        |    sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> (embedding::DOUBLE[])[i] * (embedding::DOUBLE[])[i]))) AS nrm
        |  FROM embeddings
        |), cut AS (
        |  SELECT min(nrm) AS c FROM (SELECT nrm FROM v ORDER BY nrm DESC LIMIT 64)
        |), q AS (
        |  SELECT vec_id AS query_id, e AS qe, nrm AS qnrm
        |  FROM v WHERE vec_id IN (0, 1, 2, 3, 4)
        |), hs AS (
        |  SELECT q.query_id, v.vec_id AS item_id,
        |    list_sum(list_transform(range(1, len(v.e) + 1), i -> q.qe[i] * v.e[i])) AS score
        |  FROM v CROSS JOIN cut CROSS JOIN q
        |  WHERE v.nrm >= cut.c AND v.vec_id <> q.query_id
        |), kth AS (
        |  SELECT query_id, score AS kth_score FROM (
        |    SELECT query_id, score,
        |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, item_id) AS r
        |    FROM hs) WHERE r = 10
        |), hc AS (
        |  SELECT query_id, count(*) AS n_head FROM hs GROUP BY query_id
        |), tl AS (
        |  SELECT q.query_id,
        |    (kth.kth_score IS NULL OR v.nrm * q.qnrm >=
        |       kth.kth_score - abs(kth.kth_score) * 1e-9 - 1e-12) AS keep
        |  FROM v CROSS JOIN cut CROSS JOIN q
        |  LEFT JOIN kth ON kth.query_id = q.query_id
        |  WHERE v.nrm < cut.c AND v.vec_id <> q.query_id
        |)
        |SELECT tl.query_id,
        |  hc.n_head,
        |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_pruned,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_scored
        |FROM tl JOIN hc ON hc.query_id = tl.query_id
        |GROUP BY 1, 2""".stripMargin,
    "q_pca_project" -> pcaProjectOracle,
    "q_pca2_project" -> pca2ProjectOracle,
    "q_random_project" ->
      // plane-weight replay (same md5 formula as the LSH oracle, table
      // pinned to 0), index-ordered fold, sqrt(3/k) applied after it
      """WITH planes AS (
        |  SELECT b, list_transform(range(1, 65), i ->
        |    CAST(((CAST('0x' || substr(md5('42:0:' || CAST(b AS VARCHAR) || ':' ||
        |      CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 2001) - 1000) AS DOUBLE) / 1000.0) AS w
        |  FROM (SELECT unnest(range(0, 16)) AS b)
        |), v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        |), p AS (
        |  SELECT vec_id, b,
        |    list_sum(list_transform(range(1, 65), i -> w[i] * e[i])) * sqrt(3.0 / 16) AS x
        |  FROM v CROSS JOIN planes
        |)
        |SELECT vec_id, CAST(b AS INTEGER) AS b, x FROM p""".stripMargin,
    "q_ann_matryoshka" ->
      // two-stage replay: coarse cosine over dims 1..16 (same
      // left-to-right list_sum as the engine's sliced fold), top-50
      // shortlist with (csim DESC, item_id) tiebreak, full-dim rerank
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        |), q AS (
        |  SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id IN (0, 1, 2, 3, 4)
        |), c AS (
        |  SELECT q.query_id, v.vec_id AS item_id, v.e, q.qe,
        |    list_sum(list_transform(range(1, 17), i -> q.qe[i] * v.e[i])) /
        |    (sqrt(list_sum(list_transform(range(1, 17), i -> q.qe[i] * q.qe[i]))) *
        |     sqrt(list_sum(list_transform(range(1, 17), i -> v.e[i] * v.e[i])))) AS csim
        |  FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id
        |), sl AS (
        |  SELECT query_id, item_id, e, qe,
        |    row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, item_id) AS crn
        |  FROM c
        |), s AS (
        |  SELECT query_id, item_id,
        |    list_sum(list_transform(range(1, len(e) + 1), i -> qe[i] * e[i])) /
        |    (sqrt(list_sum(list_transform(range(1, len(qe) + 1), i -> qe[i] * qe[i]))) *
        |     sqrt(list_sum(list_transform(range(1, len(e) + 1), i -> e[i] * e[i])))) AS sim
        |  FROM sl WHERE crn <= 50
        |), r AS (
        |  SELECT query_id, item_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, item_id) AS rank
        |  FROM s
        |)
        |SELECT query_id, item_id AS neighbor_id, rank, sim FROM r WHERE rank <= 10""".stripMargin,
    "q_ann_neardup" -> annNearDupOracle,
    "q_media_meta" ->
      """SELECT doc_id,
        |  CAST(64 + (doc_id % 7) * 32 AS INTEGER) AS width,
        |  CAST(48 + (doc_id % 5) * 32 AS INTEGER) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + doc_id % 10 ELSE 1 END AS INTEGER) AS n_frames,
        |  CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'jpg' ELSE 'mp4' END AS format,
        |  true AS decode_ok
        |FROM documents""".stripMargin,
    // WAV metadata: the generator parameters replayed through the real
    // binary round-trip (encode -> RIFF parse) on the engine side
    "q_audio_meta" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS INTEGER) AS sample_rate,
        |  1 AS channels, 16 AS bits,
        |  CAST(1024 + (doc_id % 3) * 512 AS BIGINT) AS n_samples,
        |  CAST((1024 + (doc_id % 3) * 512) * 1000
        |    // (CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END) AS BIGINT) AS duration_ms,
        |  true AS decode_ok
        |FROM documents""".stripMargin,
    // windowed PCM energy: the sample formula replayed per index via
    // generate_series, grouped into the same 256-sample windows
    "q_audio_energy" ->
      """WITH n AS (
        |  SELECT doc_id, 1024 + (doc_id % 3) * 512 AS ns FROM documents
        |), s AS (
        |  SELECT doc_id, i, (doc_id * 31 + i * 7919) % 4096 - 2048 AS v
        |  FROM n, generate_series(0, 2047) AS t(i)
        |  WHERE i < ns
        |)
        |SELECT doc_id, CAST(i // 256 AS INTEGER) AS win_idx,
        |  CAST(sum(v * v) AS BIGINT) AS energy,
        |  CAST(max(abs(v)) AS INTEGER) AS peak
        |FROM s GROUP BY doc_id, win_idx""".stripMargin,
    // dHash replay from the pixel synthesis formula: PNG is lossless
    // and every pixel is a pure function of (key, variant, x, y), so
    // the 9x8 luma grid, comparison bits, 4x16-bit chunk packing,
    // bucket cap and Hamming rerank all reconstruct relationally. The
    // key is reduced mod 2^24 BEFORE the multiply — identical to the
    // engine's wrapping Long arithmetic (the pixel keeps only the low
    // 24 bits and 2^24 divides 2^64) but safe from DuckDB's checked
    // BIGINT overflow at large doc_id.
    "q_phash_neardup" ->
      """WITH ids AS (
        |  SELECT doc_id AS id, doc_id // 4 AS k, doc_id % 4 AS v FROM documents
        |), keyed AS (
        |  SELECT id, v,
        |    (CASE WHEN v = 3 THEN k * 1000003 + 999999937 ELSE k END) % 16777216 AS kk,
        |    64 + (k % 7) * 32 AS w, 48 + (k % 5) * 32 AS h
        |  FROM ids
        |), smp AS (
        |  SELECT id, v, kk, w, gi, gj, (gi * w) // 9 AS x, (gj * h) // 8 AS y
        |  FROM keyed
        |  CROSS JOIN (SELECT unnest(range(0, 9)) AS gi)
        |  CROSS JOIN (SELECT unnest(range(0, 8)) AS gj)
        |), px AS (
        |  SELECT id, gi, gj, v, w, x,
        |    (kk * 1315423911 + x * 2654435761 + y * 97531) % 16777216 AS p
        |  FROM smp
        |), luma AS (
        |  SELECT id, gi, gj,
        |    CASE WHEN v = 2 AND x < w // 9 THEN 127
        |         ELSE (299 * ((p // 65536) % 128) + 587 * ((p // 256) % 128)
        |             + 114 * (p % 128)) // 1000
        |           + CASE WHEN v = 1 THEN 16 ELSE 0 END
        |    END AS g
        |  FROM px
        |), bits AS (
        |  SELECT a.id, a.gi AS ci, a.gj AS j,
        |    CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
        |  FROM luma a JOIN luma b
        |    ON a.id = b.id AND a.gj = b.gj AND b.gi = a.gi + 1
        |  WHERE a.gi < 8
        |), bands AS (
        |  SELECT id, ci // 2 AS chunk,
        |    CAST(SUM(bit * (1 << ((ci % 2) * 8 + j))) AS BIGINT) AS chunk_val
        |  FROM bits GROUP BY 1, 2
        |), capped AS (
        |  SELECT * FROM (
        |    SELECT *, count(*) OVER (PARTITION BY chunk, chunk_val) AS bsz
        |    FROM bands)
        |  WHERE bsz <= 10000
        |), cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM capped a JOIN capped b
        |    ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val AND a.id < b.id
        |), ham AS (
        |  SELECT c.id_a, c.id_b,
        |    CAST(SUM(bit_count(xor(x.chunk_val, y.chunk_val))) AS INTEGER) AS hamming
        |  FROM cand c
        |  JOIN bands x ON x.id = c.id_a
        |  JOIN bands y ON y.id = c.id_b AND y.chunk = x.chunk
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 8""".stripMargin,
    // binaryFile round-trip: same decode-invertibility arithmetic on
    // the %17 landing sample — a changed byte anywhere in the file
    // round-trip flips decode_ok or the decoded dims
    "q_binary_source" ->
      """SELECT doc_id,
        |  CAST(64 + (doc_id % 7) * 32 AS INTEGER) AS width,
        |  CAST(48 + (doc_id % 5) * 32 AS INTEGER) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + doc_id % 10 ELSE 1 END AS INTEGER) AS n_frames,
        |  CASE WHEN doc_id % 3 = 0 THEN 'png' WHEN doc_id % 3 = 1 THEN 'jpg' ELSE 'mp4' END AS format,
        |  true AS decode_ok
        |FROM documents
        |WHERE doc_id % 17 = 0""".stripMargin,
    "q_lm_bigrams" -> (bigramCte +
      "\nSELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2 HAVING count(*) >= 2"),
    // Invisible strip: chr() seeding + the same single character class
    // (RE2 and Java regex agree on \x{...} escapes), 'g' for global
    "q_text_invisibles" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN 'a' || chr(8203) || 'b ' || chr(8238) || 'zzz' || chr(8236)
        |        || ' ' || text || chr(65279)
        |      ELSE text END AS t_raw
        |  FROM documents
        |), cl AS (
        |  SELECT doc_id, t_raw,
        |    regexp_replace(t_raw,
        |      '[\x{200B}-\x{200F}\x{202A}-\x{202E}\x{2060}-\x{2064}\x{2066}-\x{2069}\x{FEFF}\x{00AD}]',
        |      '', 'g') AS t_clean
        |  FROM raw
        |)
        |SELECT doc_id,
        |  CAST(length(t_raw) - length(t_clean) AS BIGINT) AS n_stripped,
        |  CAST(length(t_clean) AS BIGINT) AS n_clean_chars
        |FROM cl""".stripMargin,
    // Trending terms: per-day counts, 7-day offset service, top-5
    "q_trending_terms" ->
      """WITH tok AS (
        |  SELECT CAST(doc_id % 14 AS BIGINT) AS d,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents
        |), c AS (
        |  SELECT d, term, count(*) AS cnt FROM tok GROUP BY 1, 2
        |), dd AS (SELECT DISTINCT d FROM c
        |), srv AS (
        |  SELECT c.d + o.off AS d, term, cnt
        |  FROM c CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS off) o
        |), w AS (
        |  SELECT s.d, term, CAST(sum(cnt) AS BIGINT) AS wcnt
        |  FROM srv s JOIN dd ON dd.d = s.d GROUP BY 1, 2
        |)
        |SELECT d, term, wcnt, CAST(rn AS INT) AS rank FROM (
        |  SELECT d, term, wcnt, row_number() OVER (
        |    PARTITION BY d ORDER BY wcnt DESC, term ASC) AS rn
        |  FROM w
        |) WHERE rn <= 5""".stripMargin,
    // Skip-gram: the positional self-join the record-local HOF avoids
    "q_skipgram" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), pos AS (
        |  SELECT doc_id, unnest(toks) AS term,
        |    unnest(range(1, len(toks) + 1)) AS p
        |  FROM tok
        |)
        |SELECT a.term AS w1, b.term AS w2, count(*) AS cnt
        |FROM pos a JOIN pos b
        |  ON a.doc_id = b.doc_id AND b.p - a.p BETWEEN 1 AND 3
        |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin,
    "q_lm_score" -> (bigramCte + lmScoreCtes +
      "\nSELECT doc_id, n_bigrams, lp_micro_sum FROM lmscore"),
    "q_pmi" -> (bigramCte +
      """, c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
        |), c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY w1
        |), c2 AS (SELECT w2, sum(c12) AS c2 FROM c12 GROUP BY w2
        |), nb AS (SELECT count(*) AS n_bg FROM bg)
        |SELECT w1, w2, c12,
        |  ln(CAST(c12 AS DOUBLE) * n_bg / (CAST(c1 AS DOUBLE) * c2)) AS pmi
        |FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN nb
        |WHERE c12 >= 3""".stripMargin),
    "q_quantiles" -> quantileOracle("documents", Seq(0.5, 0.9, 0.99)),
    "q_quantile_sketch" -> quantileOracle(
      "(SELECT * FROM documents WHERE " +
        "CAST('0x' || substr(md5('qsk' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 < 1)",
      Seq(0.5, 0.9)),
    "q_inverted_index" ->
      """WITH tok AS (
        |  SELECT doc_id, i AS pos, toks[i] AS term
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
        |), p AS (
        |  SELECT term, doc_id, count(*) AS tf,
        |    string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS positions
        |  FROM tok GROUP BY term, doc_id
        |), b AS (
        |  SELECT term FROM (SELECT term, count(*) AS df FROM p GROUP BY term)
        |  WHERE df >= 3 AND df <= 400
        |)
        |SELECT term, doc_id, tf, positions FROM p JOIN b USING (term)""".stripMargin,
    "q_feature_hash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |)
        |SELECT doc_id,
        |  CAST('0x' || substr(md5('feat' || tok), 1, 15) AS BIGINT) % 64 AS feat_idx,
        |  count(*) AS weight
        |FROM tok GROUP BY doc_id, feat_idx""".stripMargin,
    "q_pagerank" ->
      ("""WITH e AS (
         |  SELECT DISTINCT CAST(c_custkey AS BIGINT) AS src,
         |    CAST(1000000 + c_nationkey AS BIGINT) AS dst FROM customer
         |  UNION
         |  SELECT DISTINCT CAST(1000000 + c_nationkey AS BIGINT) AS src,
         |    CAST(c_custkey AS BIGINT) AS dst FROM customer
         |)""".stripMargin + pagerankTail(iters = 8, d = 0.85)),
    // HITS: the same quantized-contribution unrolled chain as the
    // engine, alternating a/h normalizations (hitsTail)
    "q_hits" ->
      ("""WITH c AS (SELECT count(*) AS cnt FROM documents),
         |ed AS (
         |  SELECT CAST(doc_id AS BIGINT) AS src,
         |    CAST((doc_id * 31 + 97) % cnt AS BIGINT) AS dst FROM documents, c
         |  UNION ALL SELECT doc_id, (doc_id * 31 + 194) % cnt FROM documents, c
         |  UNION ALL SELECT doc_id, (doc_id * 31 + 291) % cnt FROM documents, c
         |), e AS (SELECT DISTINCT src, dst FROM ed)""".stripMargin +
        hitsTail(iters = 3)),
    // k-core: the same peel unrolled (kcoreTail) over the symmetrized
    // deduped link edges
    "q_kcore" ->
      ("""WITH c AS (SELECT count(*) AS cnt FROM documents),
         |ed AS (
         |  SELECT CAST(doc_id AS BIGINT) AS src,
         |    CAST((doc_id * 31 + 97) % cnt AS BIGINT) AS dst FROM documents, c
         |  UNION ALL SELECT doc_id, (doc_id * 31 + 194) % cnt FROM documents, c
         |  UNION ALL SELECT doc_id, (doc_id * 31 + 291) % cnt FROM documents, c
         |), sym AS (
         |  SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed
         |), e0 AS (SELECT DISTINCT src, dst FROM sym)""".stripMargin +
        kcoreTail(k = 6, rounds = 4)),
    // personalized PageRank: the same symmetrized edges, restart mass
    // gated on the seed predicate (pprTail)
    "q_pagerank_seeded" ->
      ("""WITH c AS (SELECT count(*) AS cnt FROM documents),
         |ed AS (
         |  SELECT CAST(doc_id AS BIGINT) AS src,
         |    CAST((doc_id * 31 + 97) % cnt AS BIGINT) AS dst FROM documents, c
         |  UNION ALL SELECT doc_id, (doc_id * 31 + 194) % cnt FROM documents, c
         |  UNION ALL SELECT doc_id, (doc_id * 31 + 291) % cnt FROM documents, c
         |), sym AS (
         |  SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed
         |), e AS (SELECT DISTINCT src, dst FROM sym)""".stripMargin +
        pprTail(iters = 4, d = 0.85, seedPred = "n.node <= 9")),
    // label propagation: the same symmetrized link edges (self-loops
    // dropped), then the unrolled synchronous vote rounds (lpaTail)
    "q_labelprop" ->
      ("""WITH c AS (SELECT count(*) AS cnt FROM documents),
         |ed AS (
         |  SELECT CAST(doc_id AS BIGINT) AS src,
         |    CAST((doc_id * 31 + 97) % cnt AS BIGINT) AS dst FROM documents, c
         |  UNION ALL SELECT doc_id, (doc_id * 31 + 194) % cnt FROM documents, c
         |  UNION ALL SELECT doc_id, (doc_id * 31 + 291) % cnt FROM documents, c
         |), sym AS (
         |  SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed
         |), e0 AS (SELECT DISTINCT src, dst FROM sym WHERE src <> dst)""".stripMargin +
        lpaTail(rounds = 3)),
    // top-k per group: window row_number on value DESC replays the
    // bounded-heap aggregate (ties resolve by value, so the rank->value
    // mapping is deterministic either way)
    "q_topk_agg" ->
      """WITH r AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC) AS rn
        |  FROM documents
        |)
        |SELECT lang, CAST(rn AS INT) AS rank, n_chars FROM r WHERE rn <= 5""".stripMargin,
    // triangles: the winnow pair query as a nested CTE, canonical
    // orientation (pairs already satisfy id_a < id_b), wedge join +
    // closing-edge join — the same two equi-joins the engine plans
    "q_triangles" ->
      (s"""WITH wp AS (
          |$winnowPairsSql
          |), e AS (SELECT DISTINCT id_a AS u, id_b AS v FROM wp
          |), w AS (
          |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
          |  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
          |)
          |SELECT a, b, c FROM w JOIN e e3 ON w.b = e3.u AND w.c = e3.v""".stripMargin),
    // degree-oriented enumeration emits the exact same triangle set
    // (each once, a < b < c), so the id-oriented replay gates it too
    "q_triangles_degree" ->
      (s"""WITH wp AS (
          |$winnowPairsSql
          |), e AS (SELECT DISTINCT id_a AS u, id_b AS v FROM wp
          |), w AS (
          |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
          |  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
          |)
          |SELECT a, b, c FROM w JOIN e e3 ON w.b = e3.u AND w.c = e3.v""".stripMargin),
    // clustering coefficient: same wedge enumeration, then per-node
    // triangle and degree counts; one integer/integer IEEE division
    "q_clustering_coeff" ->
      (s"""WITH wp AS (
          |$winnowPairsSql
          |), e AS (SELECT DISTINCT id_a AS u, id_b AS v FROM wp
          |), w AS (
          |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
          |  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
          |), tr AS (
          |  SELECT a, b, c FROM w JOIN e e3 ON w.b = e3.u AND w.c = e3.v
          |), deg AS (
          |  SELECT node, count(*) AS deg FROM (
          |    SELECT u AS node FROM e UNION ALL SELECT v FROM e
          |  ) GROUP BY 1
          |), tn AS (
          |  SELECT node, count(*) AS tri_cnt FROM (
          |    SELECT a AS node FROM tr UNION ALL SELECT b FROM tr
          |    UNION ALL SELECT c FROM tr
          |  ) GROUP BY 1
          |)
          |SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
          |  CAST(coalesce(tn.tri_cnt, 0) AS BIGINT) AS tri_cnt,
          |  CASE WHEN d.deg >= 2 THEN
          |    CAST(coalesce(tn.tri_cnt, 0) * 2 AS DOUBLE) /
          |      CAST(d.deg * (d.deg - 1) AS DOUBLE)
          |  ELSE 0.0 END AS coeff
          |FROM deg d LEFT JOIN tn ON tn.node = d.node""".stripMargin),
    // duplication centrality: the winnow local-overlap pair query as a
    // nested CTE, symmetrized, then the shared power-iteration chain
    "q_dup_centrality" ->
      (s"""WITH wp AS (
          |$winnowPairsSql
          |), e AS (
          |  SELECT id_a AS src, id_b AS dst FROM wp
          |  UNION
          |  SELECT id_b AS src, id_a AS dst FROM wp
          |)""".stripMargin + pagerankTail(iters = 4, d = 0.85)),
    "q_mad_outliers" ->
      """WITH docs2 AS (
        |  SELECT lang, doc_id,
        |    CASE WHEN doc_id % 50 = 0 THEN n_chars * 100 ELSE n_chars END AS n_chars
        |  FROM documents
        |), c AS (
        |  SELECT lang AS grp, n_chars AS v, count(*) AS c FROM docs2 GROUP BY 1, 2
        |), w AS (
        |  SELECT grp, v,
        |    sum(c) OVER (PARTITION BY grp ORDER BY v
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY grp) AS n
        |  FROM c
        |), med AS (
        |  SELECT grp, min(v) AS med FROM w
        |  WHERE cum >= ceil(CAST(0.5 AS DOUBLE) * n) GROUP BY grp
        |), d2 AS (
        |  SELECT d.lang, d.doc_id, d.n_chars, m.med,
        |    abs(d.n_chars - m.med) AS dev
        |  FROM docs2 d JOIN med m ON m.grp = d.lang
        |), c2 AS (
        |  SELECT lang AS grp, dev AS v, count(*) AS c FROM d2 GROUP BY 1, 2
        |), w2 AS (
        |  SELECT grp, v,
        |    sum(c) OVER (PARTITION BY grp ORDER BY v
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY grp) AS n
        |  FROM c2
        |), mad AS (
        |  SELECT grp, min(v) AS mad FROM w2
        |  WHERE cum >= ceil(CAST(0.5 AS DOUBLE) * n) GROUP BY grp
        |)
        |SELECT d2.lang, d2.doc_id, d2.n_chars, d2.med, a.mad
        |FROM d2 JOIN mad a ON a.grp = d2.lang
        |WHERE d2.dev > 3 * a.mad""".stripMargin,
    "q_histogram" ->
      """WITH ext AS (
        |  SELECT lang, min(n_chars) AS mn, max(n_chars) AS mx
        |  FROM documents GROUP BY lang
        |), b AS (
        |  SELECT d.lang,
        |    least(CAST(floor(CAST((d.n_chars - mn) * 10 AS DOUBLE)
        |                     / (mx - mn + 1)) AS BIGINT), 9) AS bucket
        |  FROM documents d JOIN ext USING (lang)
        |)
        |SELECT lang, bucket, count(*) AS cnt FROM b GROUP BY lang, bucket""".stripMargin,
    "q_bloom_join" ->
      """SELECT o_orderkey, o_custkey, c_acctbal
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_acctbal > 9000""".stripMargin,
    "q_bloom_prune_audit" ->
      """WITH bk AS (
        |  SELECT c_custkey AS key FROM customer WHERE c_acctbal > 9000
        |), bits AS (
        |  SELECT DISTINCT
        |    CAST('0x' || substr(md5('bloom' || CAST(j AS VARCHAR) || ':' || CAST(key AS VARCHAR)), 1, 15) AS BIGINT) % 1024 AS pos
        |  FROM bk, (SELECT unnest(range(0, 2)) AS j) js
        |), pk AS (SELECT DISTINCT o_custkey AS key FROM orders
        |), pass AS (
        |  SELECT key FROM pk
        |  WHERE CAST('0x' || substr(md5('bloom0:' || CAST(key AS VARCHAR)), 1, 15) AS BIGINT) % 1024
        |          IN (SELECT pos FROM bits)
        |    AND CAST('0x' || substr(md5('bloom1:' || CAST(key AS VARCHAR)), 1, 15) AS BIGINT) % 1024
        |          IN (SELECT pos FROM bits)
        |)
        |SELECT key AS o_custkey FROM pass
        |WHERE key NOT IN (SELECT key FROM bk)""".stripMargin,
    "q_sketch_overlap" ->
      """WITH h AS (
        |  SELECT CAST('0x' || substr(md5('kov' || tok), 1, 15) AS BIGINT) AS hv,
        |    max(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS in_a,
        |    max(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS in_b
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |        FROM documents WHERE lang IN ('en', 'de'))
        |  GROUP BY hv
        |), tk AS (SELECT * FROM h ORDER BY hv LIMIT 256)
        |SELECT CAST(count(*) AS BIGINT) AS n_sketch,
        |  CAST(sum(in_a * in_b) AS BIGINT) AS k_intersect,
        |  CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
        |       ELSE 255.0 * 1152921504606846976.0 / max(hv) END AS est_union,
        |  CAST(sum(in_a * in_b) AS DOUBLE) / count(*) AS jaccard,
        |  (CAST(sum(in_a * in_b) AS DOUBLE) / count(*)) *
        |    (CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
        |          ELSE 255.0 * 1152921504606846976.0 / max(hv) END) AS est_intersect
        |FROM tk""".stripMargin,
    "q_sample_weighted" ->
      """WITH b AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    power(
        |      (CAST('0x' || substr(md5('wsamp' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) + 1.0)
        |        / 1152921504606846976.0,
        |      1.0 / len(string_split(text, ' '))) AS key
        |  FROM documents WHERE len(string_split(text, ' ')) > 0
        |), r AS (
        |  SELECT lang, doc_id, n_tokens, key,
        |    row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id) AS rank
        |  FROM b
        |)
        |SELECT lang, doc_id, n_tokens, key, rank FROM r WHERE rank <= 20""".stripMargin,
    // CCNet bucket composition: LM score CTEs -> per-lang mean -> the
    // discrete-quantile form over the DOUBLE means (exact equality
    // grouping: identical IEEE doubles both engines) -> tercile CASE.
    // Tercile literals rendered from the SAME Scala doubles the engine
    // folds, cast ::DOUBLE[] (bare literals would be DECIMAL)
    "q_ccnet_buckets" -> (bigramCte + lmScoreCtes +
      s""", sc AS (
         |  SELECT l.doc_id, d.lang,
         |    CAST(l.lp_micro_sum AS DOUBLE) / l.n_bigrams AS mean_lp
         |  FROM lmscore l JOIN documents d USING (doc_id)
         |  WHERE l.n_bigrams > 0
         |), cq0 AS (
         |  SELECT lang AS grp, mean_lp AS v, count(*) AS c FROM sc GROUP BY 1, 2
         |), cqw AS (
         |  SELECT grp, v,
         |    sum(c) OVER (PARTITION BY grp ORDER BY v
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(c) OVER (PARTITION BY grp) AS n
         |  FROM cq0
         |), cqx AS (
         |  SELECT grp, v, cum, n,
         |    unnest([${1.0 / 3}, ${2.0 / 3}]::DOUBLE[]) AS q FROM cqw
         |), cq AS (
         |  SELECT grp AS lang, q, min(v) AS q_value
         |  FROM cqx WHERE cum >= ceil(q * n) GROUP BY 1, 2
         |), cuts AS (
         |  SELECT lang,
         |    max(CASE WHEN q < 0.5 THEN q_value END) AS cut1,
         |    max(CASE WHEN q > 0.5 THEN q_value END) AS cut2
         |  FROM cq GROUP BY lang
         |)
         |SELECT doc_id, lang,
         |  CASE WHEN mean_lp <= cut1 THEN 'tail'
         |       WHEN mean_lp <= cut2 THEN 'middle'
         |       ELSE 'head' END AS bucket
         |FROM sc JOIN cuts USING (lang)""".stripMargin),
    "q_corpus_divergence" ->
      """WITH tk AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE lang IN ('en', 'de')
        |), c AS (
        |  SELECT tok,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
        |    CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS c_b
        |  FROM tk GROUP BY tok
        |), t AS (
        |  SELECT CAST(sum(c_a) AS BIGINT) AS tot_a,
        |    CAST(sum(c_b) AS BIGINT) AS tot_b, count(*) AS v FROM c
        |)
        |SELECT tok, c_a, c_b,
        |  ((c_a + 1.0) / (tot_a + v)) *
        |    ln(((c_a + 1.0) / (tot_a + v)) / ((c_b + 1.0) / (tot_b + v))) AS kl_contrib
        |FROM c CROSS JOIN t""".stripMargin,
    "q_hard_negatives" ->
      """WITH v AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
        |), q AS (
        |  SELECT vec_id AS query_id, label AS qlabel, e AS qe
        |  FROM v WHERE vec_id IN (0, 1, 2, 3, 4)
        |), s AS (
        |  SELECT q.query_id, v.vec_id AS neighbor_id, v.label AS neighbor_label,
        |    list_sum(list_transform(range(1, len(v.e) + 1), i -> q.qe[i] * v.e[i])) /
        |    (sqrt(list_sum(list_transform(range(1, len(q.qe) + 1), i -> q.qe[i] * q.qe[i]))) *
        |     sqrt(list_sum(list_transform(range(1, len(v.e) + 1), i -> v.e[i] * v.e[i])))) AS sim
        |  FROM v CROSS JOIN q WHERE v.label <> q.qlabel
        |), r AS (
        |  SELECT query_id, neighbor_id, neighbor_label, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM s
        |)
        |SELECT query_id, neighbor_id, neighbor_label, rank, sim
        |FROM r WHERE rank <= 10""".stripMargin,
    "q_bpe_fertility" ->
      (s"WITH RECURSIVE $bpeApplyCtes, " +
        """d AS (
          |  SELECT doc_id, lang, len(string_split(text, ' ')) AS nws FROM documents
          |)
          |SELECT lang, CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
          |  CAST(sum(nws) AS BIGINT) AS ws_tokens,
          |  CAST(sum(n_bpe) AS DOUBLE) / sum(nws) AS fertility
          |FROM doctok JOIN d USING (doc_id) GROUP BY lang""".stripMargin),
    "q_label_centroids" ->
      """WITH e AS (
        |  SELECT label, unnest(range(len(embedding))) AS i,
        |    CAST(floor(unnest(embedding::DOUBLE[]) * 1000000.0) AS BIGINT) AS xm
        |  FROM embeddings
        |)
        |SELECT label, CAST(i AS INTEGER) AS i, count(*) AS n,
        |  CAST(sum(xm) AS DOUBLE) / 1000000.0 / count(*) AS mean_x
        |FROM e GROUP BY label, i""".stripMargin,
    // Semantic decontamination: index-ordered cosine folds + the
    // (cos DESC, eval_id ASC) argmax replay
    "q_decontaminate_sem" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        |), ev AS (
        |  SELECT vec_id AS eval_id, e AS evv FROM v WHERE vec_id % 100 = 0
        |), cp AS (
        |  SELECT vec_id, e FROM v WHERE vec_id % 100 <> 0
        |), p AS (
        |  SELECT vec_id, eval_id,
        |    list_sum(list_transform(range(1, len(e) + 1), i -> e[i] * evv[i])) /
        |      (sqrt(list_sum(list_transform(range(1, len(e) + 1), i -> e[i] * e[i]))) *
        |       sqrt(list_sum(list_transform(range(1, len(evv) + 1), i -> evv[i] * evv[i]))))
        |      AS cos
        |  FROM cp CROSS JOIN ev
        |)
        |SELECT vec_id, eval_id AS best_eval_id, cos AS best_cos,
        |  CAST(cos >= 0.25 AS INT) AS contaminated
        |FROM (
        |  SELECT vec_id, eval_id, cos, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY cos DESC, eval_id ASC) AS rn
        |  FROM p
        |) WHERE rn = 1""".stripMargin,
    // Embedding outliers: the same fixed-point centroid, then the
    // index-ordered cosine fold (list_sum over list_transform — the
    // randomProject replay discipline); IEEE division chain verbatim
    "q_embed_outliers" ->
      """WITH e AS (
        |  SELECT label, unnest(range(len(embedding))) AS i,
        |    CAST(floor(unnest(embedding::DOUBLE[]) * 1000000.0) AS BIGINT) AS xm
        |  FROM embeddings
        |), cm AS (
        |  SELECT label, i,
        |    CAST(sum(xm) AS DOUBLE) / 1000000.0 / count(*) AS m
        |  FROM e GROUP BY label, i
        |), cv AS (
        |  SELECT label, list(m ORDER BY i) AS cvec FROM cm GROUP BY label
        |), v AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings
        |), d AS (
        |  SELECT vec_id, v.label,
        |    list_sum(list_transform(range(1, len(ev) + 1),
        |      i -> ev[i] * cvec[i])) AS dot,
        |    list_sum(list_transform(range(1, len(ev) + 1),
        |      i -> ev[i] * ev[i])) AS nv2,
        |    list_sum(list_transform(range(1, len(cvec) + 1),
        |      i -> cvec[i] * cvec[i])) AS nc2
        |  FROM v JOIN cv ON cv.label = v.label
        |)
        |SELECT vec_id, label, dot / (sqrt(nv2) * sqrt(nc2)) AS cos_sim,
        |  CAST(dot / (sqrt(nv2) * sqrt(nc2)) < 0.1 AS INT) AS is_outlier
        |FROM d""".stripMargin,
    // the streaming dedup drain keeps exactly one row per distinct
    // checksum (duplicates share their original's event time, single
    // micro-batch), so the batch distinct states the expected set
    "stream_dedup" ->
      "SELECT DISTINCT sha256(text) AS checksum FROM documents",
    "stream_type_counts" ->
      // the final MapState per user == the plain batch pivot; one
      // scalar row per (user, type) — arrays can't be driver-hashed
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2
        |), n AS (
        |  SELECT user_id, CAST(sum(cnt) AS BIGINT) AS n_seen FROM c GROUP BY 1
        |)
        |SELECT c.user_id, n.n_seen, c.event_type, c.cnt
        |FROM c JOIN n ON n.user_id = c.user_id""".stripMargin,
    "stream_latest_k" ->
      // the final ListState content per user == the 3 largest event_ids
      // (and their cents) — plain batch top-k by a total order; one
      // scalar row per kept event — arrays can't be driver-hashed
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events
        |), r AS (
        |  SELECT user_id, event_id, cents,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rank,
        |    count(*) OVER (PARTITION BY user_id) AS n_seen
        |  FROM ev
        |)
        |SELECT user_id, CAST(n_seen AS BIGINT) AS n_seen,
        |  CAST(rank AS INTEGER) AS rank, event_id AS id, cents
        |FROM r WHERE rank <= 3""".stripMargin,
    "stream_running" ->
      // running totals drained via transformWithState reduce to the
      // plain batch aggregate (max of a strictly increasing per-user
      // sequence = its final value); integer cents, no float drift
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1""".stripMargin,
    // stream-static enrichment: the drained sink is documents inner-
    // joined per micro-batch to the partial per-lang dim (es/fr drop);
    // VALUES literals are DECIMAL in DuckDB -> cast to DOUBLE
    "stream_enrich" ->
      """SELECT d.lang, d.doc_id, d.n_chars,
        |  CAST(w.lang_weight AS DOUBLE) AS lang_weight
        |FROM documents d
        |JOIN (VALUES ('en', 1.0), ('de', 0.7), ('zh', 0.5))
        |  AS w(lang, lang_weight)
        |ON d.lang = w.lang""".stripMargin,
    // Stream-stream join replay: the same derived sides in epoch
    // seconds + the inner join with the [0, 600 s] range predicate
    "stream_join" ->
      """WITH l AS (
        |  SELECT doc_id, 1700000000 + doc_id % 3600 AS l_epoch, lang
        |  FROM documents
        |), r AS (
        |  SELECT doc_id AS r_doc_id,
        |    1700000000 + doc_id % 3600 + (doc_id % 13) * 60 AS r_epoch,
        |    n_chars AS score
        |  FROM documents
        |)
        |SELECT l.doc_id, l.l_epoch, r.r_epoch, l.lang, r.score
        |FROM l JOIN r ON l.doc_id = r.r_doc_id
        |  AND r.r_epoch >= l.l_epoch AND r.r_epoch <= l.l_epoch + 600""".stripMargin,
    "stream_window_counts" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events
        |), b AS (
        |  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w0, event_type FROM events
        |)
        |SELECT CAST(epoch(w0) AS BIGINT) AS w_start,
        |  CAST(epoch(w0 + INTERVAL 1 HOUR) AS BIGINT) AS w_end,
        |  event_type, count(*) AS cnt
        |FROM b CROSS JOIN mx
        |GROUP BY w0, event_type, m
        |HAVING w0 + INTERVAL 1 HOUR <= m - INTERVAL 30 MINUTE""".stripMargin,
    // Streaming merge sink: the same one-shot MERGE replay as
    // q_merge_upsert (batch splitting is invisible: key-disjoint
    // deltas make sequential merging associative)
    "stream_merge" ->
      """WITH src AS (
        |  SELECT doc_id, lang, n_chars + 1000 AS n_chars, FALSE AS del
        |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, n_chars, FALSE
        |  FROM documents WHERE doc_id % 11 = 0
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars, TRUE
        |  FROM documents WHERE doc_id % 13 = 0
        |), tgt AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |)
        |SELECT coalesce(s.doc_id, t.doc_id) AS doc_id,
        |  CASE WHEN s.doc_id IS NOT NULL THEN s.lang ELSE t.lang END AS lang,
        |  CASE WHEN s.doc_id IS NOT NULL THEN s.n_chars ELSE t.n_chars END AS n_chars
        |FROM tgt t FULL OUTER JOIN src s ON t.doc_id = s.doc_id
        |WHERE NOT (s.doc_id IS NOT NULL AND s.del)""".stripMargin,
    // session_window replay in integer MICROseconds (epoch_us — double
    // epoch() is ~0.5 us ulp at 2024 epochs, enough to flip a gap-edge
    // break): merge while next - last <= gap (Spark merges sessions
    // whose ranges TOUCH, test-pinned), break on strict >; emit when
    // last + gap <= max(ts) - delay — the pinned tumbling boundary
    "stream_session_win" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        |), l AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL
        |      OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |), g AS (
        |  SELECT user_id, us, sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM l
        |), se AS (
        |  SELECT user_id, min(us) AS s_us, max(us) AS x_us,
        |    count(*) AS n_events
        |  FROM g GROUP BY user_id, sid
        |), mx AS (SELECT max(epoch_us(ts)) AS m_us FROM events)
        |SELECT user_id, CAST(s_us // 1000000 AS BIGINT) AS w_start,
        |  CAST((x_us + 1800000000) // 1000000 AS BIGINT) AS w_end, n_events
        |FROM se CROSS JOIN mx
        |WHERE x_us + 1800000000 <= m_us - 1800000000""".stripMargin,
    // Streaming sessionization replay: the sentinel flush (see
    // streamSessionDrain) closes EVERY real session, so the oracle is
    // the plain batch gap-split (strict > 1800 s break) with the
    // session index projected away
    "stream_session" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
        |), l AS (
        |  SELECT user_id, event_id, sec, sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS gap FROM ev
        |), b AS (
        |  SELECT user_id, event_id, sec, CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS brk FROM l
        |), g AS (
        |  SELECT user_id, sec, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session FROM b
        |)
        |SELECT user_id, min(sec) AS s_start, max(sec) AS s_end, count(*) AS n_events
        |FROM g GROUP BY user_id, session""".stripMargin,
    "stream_session_v2" ->
      // identical semantics through the v2 timer processor
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
        |), l AS (
        |  SELECT user_id, event_id, sec, sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS gap FROM ev
        |), b AS (
        |  SELECT user_id, event_id, sec, CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS brk FROM l
        |), g AS (
        |  SELECT user_id, sec, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session FROM b
        |)
        |SELECT user_id, min(sec) AS s_start, max(sec) AS s_end, count(*) AS n_events
        |FROM g GROUP BY user_id, session""".stripMargin,
    // HLL replay: identical register construction (bucket = top 6 hash
    // bits, rho = 55 - bit_length of the low 54), integer-exact
    // z_scaled = sum 2^(55 - M_j); bin() is leading-zero-free in both
    // engines. The ln() branch exists on both sides but the sketched
    // sets keep every register occupied, so it is never taken here.
    "q_sketch_hll" ->
      """WITH v AS (
        |  SELECT lang, CAST('0x' || substr(md5('hll' || s), 1, 15) AS BIGINT) AS h
        |  FROM (
        |    SELECT lang, unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |    FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents))
        |), r AS (
        |  SELECT lang, h >> 54 AS bucket,
        |    max(CASE WHEN (h & 18014398509481983) = 0 THEN 55
        |         ELSE 55 - length(bin(h & 18014398509481983)) END) AS mj
        |  FROM v GROUP BY 1, 2
        |), g AS (
        |  SELECT lang,
        |    CAST(sum(CAST(1 AS BIGINT) << CAST(55 - mj AS INT))
        |      + (64 - count(*)) * CAST(36028797018963968 AS BIGINT) AS BIGINT) AS z_scaled,
        |    CAST(64 - count(*) AS BIGINT) AS v_zero
        |  FROM r GROUP BY 1
        |)
        |SELECT lang, v_zero, z_scaled,
        |  CASE WHEN CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) * CAST(36028797018963968 AS DOUBLE)
        |              / CAST(z_scaled AS DOUBLE) <= 160.0
        |            AND v_zero > 0
        |       THEN CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / CAST(v_zero AS DOUBLE))
        |       ELSE CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) * CAST(36028797018963968 AS DOUBLE)
        |              / CAST(z_scaled AS DOUBLE) END
        |    AS est_distinct
        |FROM g""".stripMargin,
    // Sliding HLL: per-day registers, day+offset service explode,
    // register-max merge, micro-nat linear-counting branch
    "q_sketch_sliding" ->
      """WITH v AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST('0x' || substr(md5('hllw' || CAST(user_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS h
        |  FROM events
        |), r AS (
        |  SELECT day, h >> 54 AS bucket,
        |    max(CASE WHEN (h & 18014398509481983) = 0 THEN 55
        |         ELSE 55 - length(bin(h & 18014398509481983)) END) AS mj
        |  FROM v GROUP BY 1, 2
        |), dd AS (SELECT DISTINCT day FROM v
        |), srv AS (
        |  SELECT r.day + o.off AS day, bucket, mj
        |  FROM r CROSS JOIN (SELECT unnest([0, 1, 2]) AS off) o
        |), m AS (
        |  SELECT s.day, bucket, max(mj) AS mj
        |  FROM srv s JOIN dd ON dd.day = s.day GROUP BY 1, 2
        |), g AS (
        |  SELECT day,
        |    CAST(sum(CAST(1 AS BIGINT) << CAST(55 - mj AS INT))
        |      + (64 - count(*)) * CAST(36028797018963968 AS BIGINT) AS BIGINT) AS z_scaled,
        |    CAST(64 - count(*) AS BIGINT) AS v_zero
        |  FROM m GROUP BY 1
        |)
        |SELECT day, v_zero, z_scaled,
        |  CASE WHEN CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) * CAST(36028797018963968 AS DOUBLE)
        |              / CAST(z_scaled AS DOUBLE) <= 160.0
        |            AND v_zero > 0
        |       THEN CAST(64 AS DOUBLE) *
        |         (floor(ln(CAST(64 AS DOUBLE) / CAST(v_zero AS DOUBLE)) * 1e6 + 0.5) / 1e6)
        |       ELSE CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) * CAST(36028797018963968 AS DOUBLE)
        |              / CAST(z_scaled AS DOUBLE) END
        |    AS est_distinct
        |FROM g""".stripMargin,
    // CMS replay: exact integer cells and min-over-rows estimates
    "q_cms_heavy" ->
      """WITH tok AS (
        |  SELECT unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
        |    i -> toks[i] || ' ' || toks[i+1])) AS v
        |  FROM (SELECT string_split(text, ' ') AS toks FROM documents)
        |), vc AS (
        |  SELECT v, count(*) AS exact_count FROM tok GROUP BY v
        |), pr AS (
        |  SELECT v, exact_count, i,
        |    CAST('0x' || substr(md5('cms' || CAST(i AS VARCHAR) || v), 1, 15) AS BIGINT)
        |      % 1024 AS c
        |  FROM vc, unnest(range(0, 4)) AS u(i)
        |), cells AS (
        |  SELECT i, c, CAST(sum(exact_count) AS BIGINT) AS cnt FROM pr GROUP BY i, c
        |), est AS (
        |  SELECT v, min(cnt) AS est_count, max(exact_count) AS exact_count
        |  FROM pr JOIN cells USING (i, c) GROUP BY v
        |)
        |SELECT v AS bigram, est_count, exact_count,
        |  est_count - exact_count AS overestimate
        |FROM est WHERE est_count >= 30""".stripMargin,
    // Naive Bayes replay: 80/20 portable-hash split, add-one-smoothed
    // per-token micro-nat log-probs (floor BEFORE summing — the
    // LangModel recipe), argmax with cls-ascending tie-break
    "q_nb_classify" -> (nbClassifyCtes + "\n" + nbClassifyFinal),
    // estimator calibration: the pair CTEs' est (with n_match) joined
    // to candidate-restricted exact shingle Jaccard
    "q_dedup_eval" ->
      s"""WITH $minhashPairsCtes, nc AS (
         |  SELECT e.id_a, e.id_b, CAST(count(*) AS BIGINT) AS n_common
         |  FROM est e
         |  JOIN sh a ON a.id = e.id_a
         |  JOIN sh b ON b.id = e.id_b AND b.shingle = a.shingle
         |  GROUP BY 1, 2
         |), cnts AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY id
         |)
         |SELECT e.id_a, e.id_b, e.n_match, e.est_jaccard,
         |  coalesce(nc.n_common, 0) AS n_common,
         |  ca.n_sh AS n_a, cb.n_sh AS n_b,
         |  CAST(coalesce(nc.n_common, 0) AS DOUBLE)
         |    / CAST(ca.n_sh + cb.n_sh - coalesce(nc.n_common, 0) AS DOUBLE)
         |    AS exact_jaccard,
         |  e.est_jaccard - CAST(coalesce(nc.n_common, 0) AS DOUBLE)
         |    / CAST(ca.n_sh + cb.n_sh - coalesce(nc.n_common, 0) AS DOUBLE) AS err
         |FROM est e
         |LEFT JOIN nc ON nc.id_a = e.id_a AND nc.id_b = e.id_b
         |JOIN cnts ca ON ca.id = e.id_a
         |JOIN cnts cb ON cb.id = e.id_b""".stripMargin,
    // incremental dedup: batch (20% hash split) probes index + earlier
    // batch bands; smallest verified partner wins
    "q_dedup_incremental" ->
      s"""WITH $minhashSigCtes, side AS (
         |  SELECT id, CAST('0x' || substr(md5('incr' || CAST(id AS VARCHAR)), 1, 15)
         |    AS BIGINT) % 100 < 20 AS is_new
         |  FROM (SELECT DISTINCT id FROM t)
         |), cand AS (
         |  SELECT DISTINCT a.id AS new_id, b.id AS partner, sb.is_new AS partner_new
         |  FROM bands_t a
         |  JOIN side sa ON sa.id = a.id AND sa.is_new
         |  JOIN bands_t b ON a.band = b.band AND a.bkey = b.bkey AND a.id <> b.id
         |  JOIN side sb ON sb.id = b.id
         |  WHERE (NOT sb.is_new) OR b.id < a.id
         |), ver AS (
         |  SELECT new_id, partner, partner_new, CAST($minhashEqSum AS BIGINT) AS n_match
         |  FROM cand JOIN sig sa ON sa.id = new_id JOIN sig sb ON sb.id = partner
         |), hit AS (SELECT * FROM ver WHERE n_match >= 32
         |), rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY new_id ORDER BY partner ASC) AS rn
         |  FROM hit
         |)
         |SELECT new_id AS doc_id, partner AS dup_of,
         |  CASE WHEN partner_new THEN 'batch' ELSE 'index' END AS dup_source,
         |  n_match, CAST(n_match AS DOUBLE) / 64 AS est_jaccard
         |FROM rk WHERE rn = 1""".stripMargin,
    // Brute-force reference for the filter-and-verify edit join:
    // DuckDB's levenshtein is the same classic DP distance as Spark's.
    "q_edit_join" ->
      """WITH v AS (SELECT doc_id, substr(text, 1, 16) AS s FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.s, b.s) AS INT) AS dist
        |FROM v a JOIN v b ON a.doc_id < b.doc_id
        |WHERE abs(len(a.s) - len(b.s)) <= 1 AND levenshtein(a.s, b.s) <= 1""".stripMargin,
    // Integer-exact skew profile: BIGINT floor-division on both
    // engines (Spark `div` == DuckDB `//`), ceil via (+t-1) div t
    "q_skew_profile" ->
      """WITH c AS (SELECT user_id AS key, count(*) AS cnt FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
        |SELECT key, cnt, cnt * 1000000 // total AS share_ppm,
        |  (cnt + 49) // 50 AS salt_factor, cnt > 50 AS is_skewed
        |FROM c, t""".stripMargin,
    // The single-partition window the band-offset plan replaces — the
    // oracle runs it, the engine must never
    "q_global_rank" ->
      """SELECT doc_id, n_chars,
        |  row_number() OVER (ORDER BY n_chars, doc_id) AS global_rank
        |FROM documents""".stripMargin,
    // Corpus shuffle: seeded portable-hash key + the single-partition
    // rank the band-offset plan avoids; // and % replay div/%
    "q_corpus_shuffle" ->
      """WITH k AS (
        |  SELECT doc_id, CAST('0x' || substr(md5('ep0:' ||
        |    CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS pk
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY pk, doc_id) AS rk FROM k
        |)
        |SELECT doc_id, CAST((rk - 1) // 128 AS BIGINT) AS shard,
        |  CAST((rk - 1) % 128 AS BIGINT) AS pos_in_shard
        |FROM r""".stripMargin,
    // Interpolation join: the same tag-union window construction in
    // integer microseconds; exact hit, strict-null outside brackets,
    // then the identical IEEE interpolation expression
    "q_interp_join" ->
      """WITH s AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, 0 AS kind,
        |    epoch_us(ts) AS s_us, value AS s_val
        |  FROM events WHERE event_type = 'purchase'
        |), q AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, 1 AS kind,
        |    NULL AS s_us, NULL AS s_val
        |  FROM events WHERE event_type = 'click'
        |), u AS (
        |  SELECT * FROM s UNION ALL SELECT * FROM q
        |), w AS (
        |  SELECT user_id, event_id, us, kind,
        |    last_value(s_us IGNORE NULLS) OVER wb AS p_us,
        |    last_value(s_val IGNORE NULLS) OVER wb AS p_val,
        |    first_value(s_us IGNORE NULLS) OVER wf AS n_us,
        |    first_value(s_val IGNORE NULLS) OVER wf AS n_val
        |  FROM u
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY us, kind, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY user_id ORDER BY us, kind, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |)
        |SELECT user_id, event_id, us AS q_us,
        |  CASE WHEN p_us = us THEN p_val
        |    WHEN p_us IS NULL OR n_us IS NULL THEN NULL
        |    ELSE p_val + (n_val - p_val) *
        |      (CAST(us - p_us AS DOUBLE) / CAST(n_us - p_us AS DOUBLE))
        |  END AS interp_value
        |FROM w WHERE kind = 1""".stripMargin,
    // Period deltas: identical lag over the daily aggregate
    "q_period_delta" ->
      """WITH d AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT day, event_type, cnt,
        |  cnt - lag(cnt) OVER (PARTITION BY event_type ORDER BY day) AS delta
        |FROM d""".stripMargin,
    // Sorted-neighborhood: the brute-force rank self-join the bucketed
    // plan avoids (same total order, same pair orientation)
    "q_sorted_neighborhood" ->
      """WITH r AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY n_chars, doc_id) AS rk
        |  FROM documents
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(b.rk - a.rk AS BIGINT) AS dist
        |FROM r a JOIN r b ON b.rk > a.rk AND b.rk - a.rk <= 3""".stripMargin,
    // Consistent hashing: ring positions + key positions replayed via
    // the portable md5-60bit hash; ownership via the flagged argmin
    // (wrapped-last, then pos, shard, vnode — the sorted-array order)
    "q_shard_moves" ->
      """WITH ro AS (
        |  SELECT CAST(i // 8 AS BIGINT) AS shard, CAST(i % 8 AS BIGINT) AS vnode,
        |    CAST('0x' || substr(md5('ring:' || CAST(i // 8 AS VARCHAR) || ':'
        |      || CAST(i % 8 AS VARCHAR)), 1, 15) AS BIGINT) AS pos
        |  FROM range(64) t(i)
        |), rn AS (
        |  SELECT CAST(i // 8 AS BIGINT) AS shard, CAST(i % 8 AS BIGINT) AS vnode,
        |    CAST('0x' || substr(md5('ring:' || CAST(i // 8 AS VARCHAR) || ':'
        |      || CAST(i % 8 AS VARCHAR)), 1, 15) AS BIGINT) AS pos
        |  FROM range(72) t(i)
        |), k AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5('doc:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS kpos
        |  FROM documents
        |), ao AS (
        |  SELECT doc_id, shard AS old_shard FROM (
        |    SELECT k.doc_id, r.shard, row_number() OVER (PARTITION BY k.doc_id
        |      ORDER BY (CASE WHEN r.pos >= k.kpos THEN 0 ELSE 1 END),
        |        r.pos, r.shard, r.vnode) AS rnk
        |    FROM k CROSS JOIN ro r
        |  ) WHERE rnk = 1
        |), an AS (
        |  SELECT doc_id, shard AS new_shard FROM (
        |    SELECT k.doc_id, r.shard, row_number() OVER (PARTITION BY k.doc_id
        |      ORDER BY (CASE WHEN r.pos >= k.kpos THEN 0 ELSE 1 END),
        |        r.pos, r.shard, r.vnode) AS rnk
        |    FROM k CROSS JOIN rn r
        |  ) WHERE rnk = 1
        |)
        |SELECT ao.doc_id, old_shard, new_shard,
        |  CAST(old_shard <> new_shard AS INT) AS moved
        |FROM ao JOIN an ON ao.doc_id = an.doc_id""".stripMargin,
    // Rolling window: the same integer-cents frame replayed
    "q_rolling_window" ->
      """WITH c AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events
        |)
        |SELECT user_id, event_id,
        |  CAST(sum(cents) OVER w AS BIGINT) AS roll_sum_cents,
        |  count(*) OVER w AS roll_n,
        |  CAST(sum(cents) OVER w AS DOUBLE) / (count(*) OVER w) AS roll_mean
        |FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
    // Curriculum deciles: single-partition global rank (the plan the
    // engine avoids) + the same floor-of-double-division bucket
    "q_curriculum_buckets" ->
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS global_rank,
        |    count(*) OVER () AS n
        |  FROM documents
        |)
        |SELECT doc_id, n_chars, global_rank,
        |  CAST(floor(CAST((global_rank - 1) * 10 AS DOUBLE) / n) + 1 AS BIGINT)
        |    AS bucket
        |FROM r""".stripMargin,
    // Incremental agg: the full-recompute ground truth the refresh
    // must equal without ever rescanning the base
    "q_incremental_agg" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_v,
        |  CAST(min(n_chars) AS BIGINT) AS min_v,
        |  CAST(max(n_chars) AS BIGINT) AS max_v
        |FROM documents GROUP BY lang, source""".stripMargin,
    // Full regex replay of the URL parse (host, registered domain)
    // plus the micro-quality discretization, per-domain sums cast out
    // of DuckDB's HUGEINT
    "q_url_domains" ->
      (urlDomainCtes +
        """SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(q_micro) AS BIGINT) AS sum_q_micro,
          |  CAST(CAST(sum(q_micro) AS BIGINT) AS DOUBLE) / 1000000.0
          |    / CAST(count(*) AS DOUBLE) AS mean_q
          |FROM dd GROUP BY domain""".stripMargin),
    // Blocklist = domains with floor-average micro-quality below the
    // global floor-average (integer divisions only), applied as NOT IN
    "q_domain_filter" ->
      (urlDomainCtes +
        """, st AS (
          |  SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(sum(q_micro) AS BIGINT) AS s FROM dd GROUP BY domain
          |), tot AS (
          |  SELECT CAST(sum(n_docs) AS BIGINT) AS td,
          |    CAST(sum(s) AS BIGINT) AS tm FROM st
          |), blocked AS (
          |  SELECT domain FROM st, tot WHERE s // n_docs < tm // td
          |)
          |SELECT doc_id, domain FROM dd
          |WHERE domain NOT IN (SELECT domain FROM blocked)""".stripMargin),
    // Outlink harvest replay: same synthesized anchor HTML, same
    // href regex, same /doc/<id> filter, then the shared
    // integer-picounit power iteration
    "q_link_graph" ->
      ("""WITH c AS (SELECT count(*) AS cnt FROM documents),
         |hm AS (
         |  SELECT doc_id,
         |    '<p>body</p><a href="/doc/' || CAST((doc_id * 31 + 97) % cnt AS VARCHAR)
         |    || '">a</a><a href="/doc/' || CAST((doc_id * 31 + 194) % cnt AS VARCHAR)
         |    || '">b</a><a href="/doc/' || CAST((doc_id * 31 + 291) % cnt AS VARCHAR)
         |    || '">c</a><a href="/about">nav</a>' AS html
         |  FROM documents, c
         |), l AS (
         |  SELECT doc_id AS src,
         |    unnest(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS link
         |  FROM hm
         |), e0 AS (
         |  SELECT src, TRY_CAST(regexp_extract(link, '^/doc/([0-9]+)$', 1) AS BIGINT) AS dst
         |  FROM l WHERE regexp_matches(link, '^/doc/[0-9]+$')
         |), e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst
         |)""".stripMargin + pagerankTail(iters = 4, d = 0.85)),
    // Line-frequency replay: same synthesized multi-line text, same
    // lower(trim(...)) normalization, distinct-doc counts, 60-bit
    // portable hash emitted from the normalized key
    "q_line_stats" ->
      (lineDedupCtes +
        """SELECT CAST('0x' || substr(md5(k), 1, 15) AS BIGINT) AS line_hash,
          |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
          |FROM ne GROUP BY k""".stripMargin),
    // Boilerplate strip replay: frequent-line cut at > 10 docs,
    // order-preserving string_agg rebuild, all-dropped docs kept with
    // empty text via the left join
    "q_line_dedup" ->
      (lineDedupCtes +
        """, freq AS (
          |  SELECT k FROM (
          |    SELECT k, count(DISTINCT doc_id) AS nd FROM ne GROUP BY k
          |  ) WHERE nd > 10
          |), kept AS (
          |  SELECT doc_id, pos, line FROM ne
          |  WHERE k NOT IN (SELECT k FROM freq)
          |), reb AS (
          |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean,
          |    CAST(count(*) AS BIGINT) AS n_kept
          |  FROM kept GROUP BY doc_id
          |)
          |SELECT d.doc_id, coalesce(r.text_clean, '') AS text_clean,
          |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
          |FROM documents d LEFT JOIN reb r ON r.doc_id = d.doc_id""".stripMargin),
    // URL canonicalization replay: same four wire variants, same
    // scheme/host/path/query normalization regexes, same tracking-param
    // filter, min-doc_id winner per canonical URL
    "q_url_dedup" ->
      """WITH v AS (
        |  SELECT doc_id, doc_id // 2 AS b FROM documents
        |), u AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'https://www.site' || CAST(b % 7 AS VARCHAR)
        |        || '.com:443/page/' || CAST(b AS VARCHAR) || '/?utm_source=feed&q=1#top'
        |      WHEN 1 THEN 'HTTPS://SITE' || CAST(b % 7 AS VARCHAR)
        |        || '.COM/page/' || CAST(b AS VARCHAR) || '?q=1&gclid=abc'
        |      WHEN 2 THEN 'https://site' || CAST(b % 7 AS VARCHAR)
        |        || '.com:80/page/' || CAST(b AS VARCHAR) || '//?q=1'
        |      ELSE 'https://site' || CAST(b % 7 AS VARCHAR)
        |        || '.com/page/' || CAST(b AS VARCHAR) || '?q=1'
        |    END AS url
        |  FROM v
        |), c AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '(?i)^([a-z][a-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)),
        |      '^www\.', ''), ':(80|443)$', '') AS host,
        |    regexp_replace(
        |      regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1),
        |      '/+$', '') AS path,
        |    array_to_string(list_filter(
        |      string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
        |      p -> NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)=') AND p <> ''),
        |      '&') AS q
        |  FROM u
        |), canon AS (
        |  SELECT doc_id, url,
        |    CASE WHEN scheme = '' THEN url
        |         ELSE scheme || '://' || host || path ||
        |              CASE WHEN q = '' THEN '' ELSE '?' || q END
        |    END AS canon_url
        |  FROM c
        |), w AS (
        |  SELECT canon_url, min(doc_id) AS doc_id FROM canon GROUP BY canon_url
        |)
        |SELECT w.canon_url, w.doc_id, c2.url
        |FROM w JOIN canon c2 ON c2.doc_id = w.doc_id""".stripMargin,
    // Span-diff replay: the green E1 span chain wrapped as CTE `a`, the
    // same seeded perturbations build `b`, then a positional full-outer
    // diff with per-doc first-divergence / length accounting
    "q_span_diff" -> spanDiffOracle,
    // Markdown replay: per-(table,row) ordered string_agg with the same
    // cell escaping, a separator line keyed between the first and second
    // rows via the doubled sort key, tables renumbered per doc
    "q_tables_markdown" -> markdownOracle,
    // Normalization replay: same dirty decoration (chr-built combining
    // accent / NBSP / tab / BEL), DuckDB's own UAX#15 nfc_normalize,
    // then the identical RE2 regex chain with the 'g' flag
    "q_text_normalize" ->
      """WITH t1v AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' caf' || 'e' || chr(769)
        |         ELSE text END AS t1
        |  FROM documents
        |), t2v AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |      THEN chr(160) || 'x' || chr(9) || chr(9) || ' ' || t1 || '  '
        |      ELSE t1 END AS t2
        |  FROM t1v
        |), dirty AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN t2 || chr(7) || 'z' ELSE t2 END AS t_raw
        |  FROM t2v
        |), norm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      regexp_replace(
        |        regexp_replace(nfc_normalize(t_raw),
        |          '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
        |        '\x{00A0}', ' ', 'g'),
        |      '[ \t]+', ' ', 'g')) AS t_norm
        |  FROM dirty
        |)
        |SELECT doc_id, t_norm, CAST(length(t_norm) AS BIGINT) AS n_chars
        |FROM norm""".stripMargin,
    // Interleave replay over the dumped span input: same lag-based
    // switch detection, same min_by/max_by first/last kinds
    "q_interleave_profile" ->
      """WITH sp AS (
        |  SELECT doc_id, "offset", kind FROM '{OUT}/spans_input/*.parquet'
        |), lg AS (
        |  SELECT doc_id, "offset", kind,
        |    lag(kind) OVER (PARTITION BY doc_id ORDER BY "offset") AS prev
        |  FROM sp
        |)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(count(CASE WHEN kind = 'text' THEN 1 END) AS BIGINT) AS n_text,
        |  CAST(count(CASE WHEN kind = 'word_box' THEN 1 END) AS BIGINT) AS n_word_box,
        |  CAST(count(CASE WHEN kind = 'media' THEN 1 END) AS BIGINT) AS n_media,
        |  CAST(count(CASE WHEN prev IS NOT NULL AND prev <> kind THEN 1 END) AS BIGINT) AS n_switches,
        |  min_by(kind, "offset") AS first_kind,
        |  max_by(kind, "offset") AS last_kind
        |FROM lg GROUP BY doc_id""".stripMargin,
    // Table-typing replay: dense (i, j) from the cells CTE, the same
    // seeded overwrite, the same anchored-regex classifier, majority
    // with (cnt DESC, type ASC) tie-break, header left-joined back
    "q_table_types" -> tableTypesOracle,
    // Script-mix replay: chr()-built Cyrillic/Han decoration, RE2
    // script classes (`\p{X}` naming the same Unicode data as Java's
    // `\p{IsX}`), identical dominant-script CASE chain
    "q_script_mix" ->
      """WITH dec AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 10 = 7 THEN repeat(chr(1072) || chr(1073) || ' ' || chr(1074) || chr(1075), 20)
        |      WHEN doc_id % 10 = 9 THEN repeat(chr(20013) || chr(25991), 20)
        |      WHEN doc_id % 4 = 1 THEN text || ' ' || chr(1072) || chr(1073) || ' ' || chr(1074) || chr(1075)
        |      WHEN doc_id % 4 = 2 THEN text || ' ' || chr(20013) || chr(25991)
        |      WHEN doc_id % 4 = 3 THEN text || ' ' || chr(1072) || chr(1073) || ' ' || chr(1074) || chr(1075)
        |        || ' ' || chr(20013) || chr(25991)
        |      ELSE text END AS tt
        |  FROM documents
        |), cnt AS (
        |  SELECT doc_id,
        |    CAST(length(regexp_replace(tt, '[^\p{Latin}]', '', 'g')) AS BIGINT) AS n_latin,
        |    CAST(length(regexp_replace(tt, '[^\p{Cyrillic}]', '', 'g')) AS BIGINT) AS n_cyrillic,
        |    CAST(length(regexp_replace(tt, '[^\p{Han}]', '', 'g')) AS BIGINT) AS n_han
        |  FROM dec
        |)
        |SELECT doc_id, n_latin, n_cyrillic, n_han,
        |  CASE WHEN n_cyrillic >= n_han AND n_cyrillic >= n_latin AND n_cyrillic > 0 THEN 'cyrillic'
        |       WHEN n_han >= n_latin AND n_han > 0 THEN 'han'
        |       WHEN n_latin > 0 THEN 'latin'
        |       ELSE 'none' END AS script
        |FROM cnt""".stripMargin,
    // Domain-cap replay: same URL/domain synthesis as q_url_domains,
    // salted portable hash, single global row_number <= cap (the
    // engine's two-level windows are provably equivalent to it)
    "q_domain_cap" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' || CASE WHEN doc_id % 3 = 0 THEN 'cdn.' ELSE '' END
        |      || source || '.com/' || lang || '/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents
        |), dm AS (
        |  SELECT doc_id,
        |    regexp_extract(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
        |      '([^.]+\.[^.]+)$', 1) AS domain
        |  FROM u
        |), hv AS (
        |  SELECT doc_id, domain,
        |    CAST('0x' || substr(md5('cap' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |      % 1000000 AS h
        |  FROM dm
        |), r AS (
        |  SELECT doc_id, domain,
        |    row_number() OVER (PARTITION BY domain ORDER BY h, doc_id) AS rn
        |  FROM hv
        |)
        |SELECT doc_id, domain FROM r WHERE rn <= 10""".stripMargin,
    // Snapshot-diff replay: same version synthesis, sha256 == Spark
    // sha2(,256), full-outer change classification, unchanged filtered
    "q_snapshot_diff" ->
      """WITH v1 AS (
        |  SELECT doc_id, sha256(text) AS c FROM documents WHERE doc_id % 7 <> 0
        |), v2 AS (
        |  SELECT doc_id,
        |    sha256(CASE WHEN doc_id % 5 = 0 THEN text || '!' ELSE text END) AS c
        |  FROM documents WHERE doc_id % 11 <> 3
        |), j AS (
        |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN a.c IS NULL THEN 'added'
        |         WHEN b.c IS NULL THEN 'removed'
        |         WHEN a.c <> b.c THEN 'modified' END AS change
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
        |)
        |SELECT doc_id, change FROM j WHERE change IS NOT NULL""".stripMargin,
    // Recall replay: the two full ANN oracles nested as subqueries;
    // identical IEEE division so the fraction hashes bit-equal
    "q_ann_recall" -> annRecallOracle,
    // Anchor replay: same deterministic link/anchor synthesis, then the
    // relational profile (counts + distinct sources + top anchor with
    // (cnt DESC, anchor ASC) tie-break) — the engine side additionally
    // round-trips the links through real HTML parsing
    "q_anchor_texts" ->
      """WITH base AS (
        |  SELECT doc_id, (SELECT count(*) FROM documents) AS cnt FROM documents
        |), lk AS (
        |  SELECT doc_id AS src, (doc_id * 31 + 97) % cnt AS dst FROM base
        |  UNION ALL SELECT doc_id, (doc_id * 31 + 194) % cnt FROM base
        |  UNION ALL SELECT doc_id, (doc_id * 31 + 291) % cnt FROM base
        |), la AS (
        |  SELECT src, dst,
        |    (['home', 'docs', 'ref', 'see'])[(src + dst) % 4 + 1] AS anchor
        |  FROM lk
        |), stats AS (
        |  SELECT dst, CAST(count(*) AS BIGINT) AS n_links,
        |    CAST(count(DISTINCT src) AS BIGINT) AS n_src_docs
        |  FROM la GROUP BY dst
        |), ba AS (
        |  SELECT dst, anchor, count(*) AS cnt FROM la GROUP BY 1, 2
        |), top AS (
        |  SELECT dst, anchor AS top_anchor FROM (
        |    SELECT dst, anchor,
        |      row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, anchor) AS rk
        |    FROM ba)
        |  WHERE rk = 1
        |)
        |SELECT s.dst, s.n_links, s.n_src_docs, t.top_anchor
        |FROM stats s JOIN top t ON s.dst = t.dst""".stripMargin,
    // Integrity replay over the dumped span input: same seeded
    // inventory, distinct keys both sides, full-outer classification
    "q_media_integrity" ->
      """WITH rd AS (
        |  SELECT DISTINCT media_ref FROM '{OUT}/spans_input/*.parquet'
        |  WHERE kind = 'media'
        |), inv AS (
        |  SELECT media_ref FROM rd
        |  WHERE CAST(regexp_extract(media_ref, 'media://([0-9]+)/', 1) AS BIGINT) % 13 <> 0
        |  UNION ALL
        |  SELECT 'media://extra-' || CAST(doc_id AS VARCHAR) || '/0'
        |  FROM documents WHERE doc_id % 17 = 0
        |), j AS (
        |  SELECT coalesce(r.media_ref, i.media_ref) AS media_ref,
        |    r.media_ref IS NOT NULL AS has_r, i.media_ref IS NOT NULL AS has_i
        |  FROM rd r FULL OUTER JOIN inv i ON r.media_ref = i.media_ref
        |)
        |SELECT media_ref,
        |  CASE WHEN has_r AND has_i THEN 'matched'
        |       WHEN NOT has_i THEN 'orphan_ref'
        |       ELSE 'unused' END AS status
        |FROM j""".stripMargin,
    // C4 terminal-punctuation line rule replay: same synthesized
    // multi-line text, same empty-after-normalize exclusion, the rule
    // on the RAW right-trimmed line, order-preserving rebuild
    "q_line_punct" ->
      """WITH raw AS (
        |  SELECT doc_id, 'Home | About' || chr(10)
        |    || CASE WHEN doc_id % 2 = 1 THEN text || '.' ELSE text END
        |    || chr(10) || '"quoted line"' || chr(10) || 'ref ' || CAST(doc_id AS VARCHAR) AS t
        |  FROM documents
        |), parts AS (
        |  SELECT doc_id, string_split(t, chr(10)) AS ls FROM raw
        |), lines AS (
        |  SELECT doc_id, unnest(range(len(ls))) AS pos, unnest(ls) AS line FROM parts
        |), ne AS (
        |  SELECT doc_id, pos, line FROM lines WHERE lower(trim(line)) <> ''
        |), kept AS (
        |  SELECT doc_id, pos, line FROM ne
        |  WHERE regexp_matches(rtrim(line), '[.!?"]$')
        |), reb AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean,
        |    CAST(count(*) AS BIGINT) AS n_kept
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(r.text_clean, '') AS text_clean,
        |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
        |FROM documents d LEFT JOIN reb r ON r.doc_id = d.doc_id""".stripMargin,
    // Code-detection replay: chr-built code block, same symbol-strip
    // count, same indented-line HOF, explicit DOUBLE casts so the
    // threshold comparison is the identical IEEE operation
    "q_code_detect" ->
      """WITH tt AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 6 = 0 THEN 'def f(x) {' || chr(10) || chr(9)
        |      || 'y = x + 1;' || chr(10) || chr(9) || 'return (y);' || chr(10) || '}'
        |    ELSE text END AS t
        |  FROM documents
        |), sig AS (
        |  SELECT doc_id,
        |    CAST(length(t) - length(regexp_replace(t, '[{};=()]', '', 'g')) AS BIGINT) AS n_sym,
        |    CAST(len(list_filter(string_split(t, chr(10)),
        |      l -> regexp_matches(l, '^(\t|  )'))) AS BIGINT) AS n_indent,
        |    CAST(length(t) AS DOUBLE) AS n_ch,
        |    CAST(len(string_split(t, chr(10))) AS DOUBLE) AS n_ln
        |  FROM tt
        |)
        |SELECT doc_id, n_sym, n_indent,
        |  (CAST(n_sym AS DOUBLE) / greatest(n_ch, CAST(1 AS DOUBLE)) > CAST(0.02 AS DOUBLE))
        |    OR (CAST(n_indent AS DOUBLE) / greatest(n_ln, CAST(1 AS DOUBLE)) > CAST(0.3 AS DOUBLE)) AS is_code
        |FROM sig""".stripMargin,
    // Bitext replay: the full near-dup oracle nested, langs joined on
    // both sides, cross-lingual pairs only
    "q_bitext_candidates" ->
      ("""SELECT p.id_a, p.id_b, da.lang AS lang_a, db.lang AS lang_b, p.sim
         |FROM (""".stripMargin + annNearDupOracle + """) p
         |JOIN documents da ON da.doc_id = p.id_a
         |JOIN documents db ON db.doc_id = p.id_b
         |WHERE da.lang <> db.lang""".stripMargin),
    // Fractional-epoch upsampling replay: same CASE epochs, same
    // md5-derived extra-copy threshold (floor on both factors so the
    // integer arithmetic cannot drift), range() unnest for copy_idx
    "q_domain_epochs" ->
      """WITH e AS (
        |  SELECT doc_id, lang,
        |    CASE lang WHEN 'en' THEN 2.5 WHEN 'de' THEN 0.5 ELSE 1.0 END AS ep,
        |    CAST('0x' || substr(md5('graftep' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |      % 1000000 AS h
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, lang,
        |    CAST(floor(ep) AS BIGINT)
        |      + CASE WHEN h < CAST(floor((ep - floor(ep)) * 1000000) AS BIGINT)
        |             THEN 1 ELSE 0 END AS copies
        |  FROM e
        |)
        |SELECT doc_id, lang, CAST(unnest(range(copies)) AS BIGINT) AS copy_idx
        |FROM c WHERE copies >= 1""".stripMargin,
    // Gopher-panel replay: identical dirt chain, whitespace-token and
    // line splits, literal-substring symbol counts (each truncated to
    // BIGINT separately, like the engine's per-pattern casts), RE2
    // classes shared with Java regex, and the composed pass predicate
    // over the same IEEE doubles
    "q_gopher_rules" ->
      """WITH b1 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
        |    THEN '- item one' || chr(10) || '- item two' || chr(10) || text
        |    ELSE text END AS t FROM documents
        |), b2 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 4 = 0
        |    THEN t || chr(10) || 'read more...' || chr(10) || 'and then' || chr(8230)
        |    ELSE t END AS t FROM b1
        |), tt AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN t || ' ## # 1234 42' ELSE t END AS t FROM b2
        |), sig AS (
        |  SELECT doc_id, t,
        |    string_split(t, ' ') AS w,
        |    string_split(t, chr(10)) AS ls,
        |    string_split(lower(t), ' ') AS lw
        |  FROM tt
        |), m AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
        |      / greatest(CAST(len(w) AS DOUBLE), CAST(1 AS DOUBLE)) AS mean_wlen,
        |    CAST(CAST((length(t) - length(replace(t, '#', ''))) / 1 AS BIGINT)
        |       + CAST((length(t) - length(replace(t, '...', ''))) / 3 AS BIGINT)
        |       + CAST((length(t) - length(replace(t, chr(8230), ''))) / 1 AS BIGINT) AS DOUBLE)
        |      / greatest(CAST(len(w) AS DOUBLE), CAST(1 AS DOUBLE)) AS sym_ratio,
        |    CAST(len(list_filter(ls, l -> regexp_matches(l, '^\s*[-*' || chr(8226) || ']'))) AS DOUBLE)
        |      / greatest(CAST(len(ls) AS DOUBLE), CAST(1 AS DOUBLE)) AS bullet_ratio,
        |    CAST(len(list_filter(ls, l -> regexp_matches(rtrim(l), '(\.\.\.|' || chr(8230) || ')$'))) AS DOUBLE)
        |      / greatest(CAST(len(ls) AS DOUBLE), CAST(1 AS DOUBLE)) AS ellipsis_ratio,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
        |      / greatest(CAST(len(w) AS DOUBLE), CAST(1 AS DOUBLE)) AS alpha_ratio,
        |    CAST(len(list_filter(lw, x -> x IN
        |      ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS n_stop
        |  FROM sig
        |)
        |SELECT doc_id, n_words, mean_wlen, sym_ratio, bullet_ratio,
        |  ellipsis_ratio, alpha_ratio, n_stop,
        |  (n_words >= 5 AND n_words <= 100000
        |    AND mean_wlen >= 3.0 AND mean_wlen <= 10.0
        |    AND sym_ratio < 0.1 AND bullet_ratio < 0.9
        |    AND ellipsis_ratio < 0.3 AND alpha_ratio > 0.8
        |    AND n_stop >= 2) AS pass
        |FROM m""".stripMargin,
    // Mojibake replay: chr()-built artifact digraphs (every non-ASCII
    // char enters via codepoint so the SQL file stays ASCII-safe),
    // per-pattern BIGINT casts matching the engine's substrCount, and
    // the same C1 regex class
    "q_mojibake" ->
      """WITH b1 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |    THEN text || ' caf' || chr(195) || chr(169) ELSE text END AS t
        |  FROM documents
        |), b2 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 9 = 0
        |    THEN t || ' ' || chr(65533) ELSE t END AS t FROM b1
        |), b3 AS (
        |  SELECT doc_id, CASE WHEN doc_id % 11 = 0
        |    THEN t || chr(133) || 'ok' ELSE t END AS t FROM b2
        |), tt AS (
        |  SELECT doc_id, CASE WHEN doc_id % 13 = 0
        |    THEN t || ' don' || chr(226) || chr(8364) || chr(8482) || 't'
        |    ELSE t END AS t FROM b3
        |)
        |SELECT doc_id,
        |  CAST((length(t) - length(replace(t, chr(65533), ''))) / 1 AS BIGINT) AS n_repl,
        |  CAST(length(t) - length(regexp_replace(t, '[\x{0080}-\x{009F}]', '', 'g')) AS BIGINT) AS n_c1,
        |  CAST((length(t) - length(replace(t, chr(195) || chr(169), ''))) / 2 AS BIGINT)
        |    + CAST((length(t) - length(replace(t, chr(195) || chr(168), ''))) / 2 AS BIGINT)
        |    + CAST((length(t) - length(replace(t, chr(195) || chr(188), ''))) / 2 AS BIGINT)
        |    + CAST((length(t) - length(replace(t, chr(226) || chr(8364) || chr(8482), ''))) / 3 AS BIGINT)
        |    + CAST((length(t) - length(replace(t, chr(226) || chr(8364) || chr(339), ''))) / 3 AS BIGINT)
        |    AS n_artifact,
        |  (CAST((length(t) - length(replace(t, chr(65533), ''))) / 1 AS BIGINT)
        |    + CAST(length(t) - length(regexp_replace(t, '[\x{0080}-\x{009F}]', '', 'g')) AS BIGINT)
        |    + CAST((length(t) - length(replace(t, chr(195) || chr(169), ''))) / 2 AS BIGINT)
        |    + CAST((length(t) - length(replace(t, chr(195) || chr(168), ''))) / 2 AS BIGINT)
        |    + CAST((length(t) - length(replace(t, chr(195) || chr(188), ''))) / 2 AS BIGINT)
        |    + CAST((length(t) - length(replace(t, chr(226) || chr(8364) || chr(8482), ''))) / 3 AS BIGINT)
        |    + CAST((length(t) - length(replace(t, chr(226) || chr(8364) || chr(339), ''))) / 3 AS BIGINT)
        |  ) > 0 AS is_damaged
        |FROM tt""".stripMargin,
    // Readability replay: same every-5th-word sentence injection (RE2
    // backreference \1 == Java $1), vowel-group syllable floor-at-1,
    // and the published Flesch constants over identical IEEE doubles
    "q_readability" ->
      """WITH tt AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '(\w+ \w+ \w+ \w+ \w+) ', '\1. ', 'g') AS t
        |  FROM documents
        |), sig AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(t, ' ')) AS BIGINT) AS n_words,
        |    CAST(greatest(len(regexp_extract_all(t, '[.!?]+')), 1) AS BIGINT) AS n_sents,
        |    CAST(list_sum(list_transform(string_split(lower(t), ' '),
        |      w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1))) AS BIGINT) AS n_syll
        |  FROM tt
        |)
        |SELECT doc_id, n_words, n_sents, n_syll,
        |  206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
        |    - 84.6 * (CAST(n_syll AS DOUBLE)
        |        / greatest(CAST(n_words AS DOUBLE), CAST(1 AS DOUBLE))) AS flesch
        |FROM sig""".stripMargin,
    // Blocklist replay: same \b-delimited lowercase literal matches
    "q_blocklist" ->
      """SELECT doc_id, lang,
        |  CAST(len(regexp_extract_all(lower(text), '\bslow\b')) AS BIGINT)
        |    + CAST(len(regexp_extract_all(lower(text), '\bhash\b')) AS BIGINT)
        |    + CAST(len(regexp_extract_all(lower(text), '\bbig\b')) AS BIGINT) AS n_bad,
        |  (CAST(len(regexp_extract_all(lower(text), '\bslow\b')) AS BIGINT)
        |    + CAST(len(regexp_extract_all(lower(text), '\bhash\b')) AS BIGINT)
        |    + CAST(len(regexp_extract_all(lower(text), '\bbig\b')) AS BIGINT)) = 0 AS kept
        |FROM documents""".stripMargin,
    // Frequency-spectrum replay: term counts, then counts-of-counts
    "q_freq_spectrum" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY term
        |)
        |SELECT freq, CAST(count(*) AS BIGINT) AS n_terms FROM tf GROUP BY freq""".stripMargin,
    // Zipf fit replay: same top-100 head (freq desc, term asc total
    // order), micro-nat ln discretization, exact BIGINT regression sums,
    // and expression-order-identical closed-form slope/intercept
    "q_zipf_slope" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT term, count(*) AS freq FROM tok GROUP BY term
        |), top AS (
        |  SELECT freq, row_number() OVER (ORDER BY freq DESC, term ASC) AS rank
        |  FROM tf ORDER BY freq DESC, term ASC LIMIT 100
        |), pts AS (
        |  SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x,
        |         CAST(floor(ln(CAST(freq AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS y
        |  FROM top
        |), s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_terms,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM pts
        |)
        |SELECT n_terms,
        |  CAST(n_terms * sxy - sx * sy AS DOUBLE)
        |    / CAST(n_terms * sxx - sx * sx AS DOUBLE) AS slope,
        |  (CAST(sy AS DOUBLE)
        |     - (CAST(n_terms * sxy - sx * sy AS DOUBLE)
        |        / CAST(n_terms * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |    / (CAST(n_terms AS DOUBLE) * 1e6) AS intercept
        |FROM s""".stripMargin,
    // In-doc line dedup replay: same chorus construction, indexed
    // list_filter keeping first occurrence of each normalized line
    "q_line_dedup_doc" ->
      """WITH raw AS (
        |  SELECT doc_id, 'Chorus line' || chr(10) || text || chr(10)
        |    || 'chorus line ' || chr(10) || text || chr(10) || chr(10)
        |    || 'End ' || CAST(doc_id AS VARCHAR) AS t
        |  FROM documents
        |), k AS (
        |  SELECT doc_id, string_split(t, chr(10)) AS ls,
        |    list_transform(string_split(t, chr(10)), y -> lower(trim(y))) AS ks
        |  FROM raw
        |), kept AS (
        |  SELECT doc_id, list_filter(ls, (x, i) ->
        |    lower(trim(x)) <> '' AND list_position(ks, lower(trim(x))) = i) AS kl
        |  FROM k
        |)
        |SELECT doc_id, array_to_string(kl, chr(10)) AS text_clean,
        |  CAST(len(kl) AS BIGINT) AS n_kept
        |FROM kept""".stripMargin,
    // Morton key replay: positional sum over the 16 bit planes —
    // bits are disjoint, so the sum equals the engine's shift/mask OR
    "q_zorder_key" ->
      """WITH d AS (
        |  SELECT doc_id, least(n_chars, 65535) AS x, doc_id % 65536 AS y
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, x, y, unnest(range(16)) AS i FROM d
        |)
        |SELECT doc_id, x, y,
        |  CAST(sum(((x >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
        |         + ((y >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1)))
        |    AS BIGINT) AS zkey
        |FROM b GROUP BY doc_id, x, y""".stripMargin,
    // Manifest replay: portable-hash file bucket, per-file stats,
    // overlap test for [400, 800]
    "q_stats_manifest" ->
      """WITH f AS (
        |  SELECT CAST('0x' || substr(md5('manifest' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |      % 16 AS file,
        |    doc_id, n_chars, lang
        |  FROM documents
        |), m AS (
        |  SELECT file, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(*) - count(n_chars) AS BIGINT) AS n_nulls,
        |    min(n_chars) AS min_val, max(n_chars) AS max_val,
        |    min(doc_id) AS min_id, max(doc_id) AS max_id,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS ndv_cat
        |  FROM f GROUP BY file
        |)
        |SELECT file, n_rows, n_nulls, min_val, max_val, min_id, max_id, ndv_cat,
        |  CAST(coalesce(max_val >= 400 AND min_val <= 800, TRUE) AS INTEGER) AS kept
        |FROM m""".stripMargin,
    // Sentence segmentation replay: same mark-then-split (chr(1)
    // marker) — RE2 backreference '\1' == Java '$1'
    "q_sentence_split" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(text, '([.!?]+) ', '\1' || chr(1), 'g'),
        |      chr(1)) AS parts
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, parts, unnest(range(1, len(parts) + 1)) AS i FROM t
        |)
        |SELECT doc_id, CAST(i - 1 AS INTEGER) AS sent_idx,
        |  parts[i] AS sentence
        |FROM s""".stripMargin,
    // Sentence-boilerplate replay: same decoration, chr(1)-marker
    // segmentation, distinct-doc frequency cut at 10, ordered rebuild
    "q_sentence_dedup" ->
      """WITH raw AS (
        |  SELECT doc_id, 'Subscribe to our newsletter! ' || text
        |    || ' Unique tail ' || CAST(doc_id AS VARCHAR)
        |    || '. All rights reserved.' AS tt
        |  FROM documents
        |), sp AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(tt, '([.!?]+) ', '\1' || chr(1), 'g'),
        |      chr(1)) AS parts
        |  FROM raw
        |), ex AS (
        |  SELECT doc_id, i - 1 AS pos, parts[i] AS sent,
        |    CAST('0x' || substr(md5(lower(trim(parts[i]))), 1, 15) AS BIGINT) AS h
        |  FROM (SELECT doc_id, parts, unnest(range(1, len(parts) + 1)) AS i FROM sp)
        |  WHERE lower(trim(parts[i])) <> ''
        |), freq AS (
        |  SELECT h, count(DISTINCT doc_id) AS n_docs FROM ex GROUP BY h
        |), kept AS (
        |  SELECT ex.doc_id, ex.pos, ex.sent
        |  FROM ex JOIN freq USING (h) WHERE n_docs <= 10
        |), reb AS (
        |  SELECT doc_id, string_agg(sent, ' ' ORDER BY pos) AS text_clean,
        |    CAST(count(*) AS BIGINT) AS n_kept
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(reb.text_clean, '') AS text_clean,
        |  CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept
        |FROM documents d LEFT JOIN reb ON d.doc_id = reb.doc_id""".stripMargin,
    // SQL-surface replay: the same SQL modulo dialect (no CASE change
    // needed — shared subset)
    "q_sql_surface" ->
      """SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(CASE WHEN n_chars > 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_long
        |FROM documents
        |WHERE n_chars > 100
        |GROUP BY lang
        |HAVING count(*) > 5""".stripMargin,
    // ORC round-trip replay: identity over the parquet original —
    // any value the ORC writer/reader perturbs hash-mismatches
    "q_orc_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    // Permissive JSON replay: every document row round-trips intact
    // (is_corrupt=0) plus exactly one all-null quarantine row
    "q_json_source" ->
      """SELECT doc_id, lang, n_chars, 0 AS is_corrupt FROM documents
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
        |  CAST(NULL AS BIGINT), 1""".stripMargin,
    // Permissive CSV replay: intact round-trip plus one quarantine row
    // — CSV PERMISSIVE keeps the fields that did parse ('xx'), nulling
    // only the unparseable ones, unlike JSON's all-null row
    "q_csv_source" ->
      """SELECT doc_id, lang, n_chars, 0 AS is_corrupt FROM documents
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT), 'xx', CAST(NULL AS BIGINT), 1""".stripMargin,
    "q_text_source" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT), 'only_two', CAST(NULL AS BIGINT)""".stripMargin,
    "q_constraint_panel" ->
      """WITH m AS (
        |  SELECT count(*) AS n, count(text) AS n_text,
        |    count(DISTINCT doc_id) AS n_ids,
        |    sum(CASE WHEN n_chars < 0 THEN 1 ELSE 0 END) AS n_neg,
        |    sum(CASE WHEN length(text) <> n_chars THEN 1 ELSE 0 END) AS n_lenmismatch
        |  FROM documents
        |)
        |SELECT 'completeness_text' AS constraint, CAST(n_text AS DOUBLE) / n AS metric, n_text = n AS passed FROM m
        |UNION ALL
        |SELECT 'unique_doc_id', CAST(n_ids AS DOUBLE) / n, n_ids = n FROM m
        |UNION ALL
        |SELECT 'non_negative_n_chars', CAST(n_neg AS DOUBLE) / n, n_neg = 0 FROM m
        |UNION ALL
        |SELECT 'n_chars_matches_text', CAST(n_lenmismatch AS DOUBLE) / n, n_lenmismatch = 0 FROM m""".stripMargin,
    // MERGE replay: same derived delta + full-outer upsert semantics
    "q_merge_upsert" ->
      """WITH src AS (
        |  SELECT doc_id, lang, n_chars + 1000 AS n_chars, FALSE AS del
        |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, n_chars, FALSE
        |  FROM documents WHERE doc_id % 11 = 0
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars, TRUE
        |  FROM documents WHERE doc_id % 13 = 0
        |), tgt AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |)
        |SELECT coalesce(s.doc_id, t.doc_id) AS doc_id,
        |  CASE WHEN s.doc_id IS NOT NULL THEN s.lang ELSE t.lang END AS lang,
        |  CASE WHEN s.doc_id IS NOT NULL THEN s.n_chars ELSE t.n_chars END AS n_chars
        |FROM tgt t FULL OUTER JOIN src s ON t.doc_id = s.doc_id
        |WHERE NOT (s.doc_id IS NOT NULL AND s.del)""".stripMargin,
    // Partition-transform replay: portable-hash bucket, integer
    // floor-to-multiple, calendar day
    "q_partition_transform" ->
      """SELECT event_id,
        |  CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
        |    % 8 AS user_bucket,
        |  event_id - event_id % 100 AS id_trunc,
        |  CAST(ts AS DATE) AS event_day
        |FROM events""".stripMargin,
    // Rollup replay: GROUPING() bitmask is leftmost-column-MSB in
    // both engines; subtotal rows carry NULL group keys identically
    "q_rollup_report" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(GROUPING(lang, source) AS BIGINT) AS gid
        |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin,
    "q_cube_report" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(GROUPING(lang, source) AS BIGINT) AS gid
        |FROM documents GROUP BY CUBE (lang, source)""".stripMargin,
    // Unpivot replay as stacked UNION ALL over the same metric exprs
    "q_unpivot_metrics" ->
      """WITH m AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sents
        |  FROM documents
        |)
        |SELECT doc_id, 'n_chars' AS metric, n_chars AS value FROM m
        |UNION ALL SELECT doc_id, 'n_tokens', n_tokens FROM m
        |UNION ALL SELECT doc_id, 'n_sents', n_sents FROM m""".stripMargin,
    // Span-merge replay over the dumped span input: same lag run
    // detection (non-text spans always open a run), ordered string_agg
    // per run, dense re-numbering by run start offset
    "q_span_merge" ->
      """WITH sp AS (
        |  SELECT doc_id, "offset", kind, text, media_ref
        |  FROM '{OUT}/spans_input/*.parquet'
        |), lg AS (
        |  SELECT *, CASE WHEN kind <> 'text'
        |      OR lag(kind) OVER (PARTITION BY doc_id ORDER BY "offset") IS NULL
        |      OR lag(kind) OVER (PARTITION BY doc_id ORDER BY "offset") <> 'text'
        |    THEN 1 ELSE 0 END AS newrun
        |  FROM sp
        |), rn AS (
        |  SELECT *, sum(newrun) OVER (PARTITION BY doc_id ORDER BY "offset"
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM lg
        |), runs AS (
        |  SELECT doc_id, run, min("offset") AS minpos,
        |    min_by(kind, "offset") AS kind,
        |    string_agg(text, ' ' ORDER BY "offset") AS text,
        |    min_by(media_ref, "offset") AS media_ref
        |  FROM rn GROUP BY 1, 2
        |)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY minpos) - 1 AS INT) AS "offset",
        |  kind, text, media_ref
        |FROM runs""".stripMargin,
    // BFS replay: level sets unrolled (L_k = nodes reachable in exactly
    // k steps), min level per node = BFS distance
    "q_bfs_hops" ->
      """WITH c AS (SELECT count(*) AS cnt FROM documents),
        |ed AS (
        |  SELECT CAST(doc_id AS BIGINT) AS src,
        |    CAST((doc_id * 31 + 97) % cnt AS BIGINT) AS dst FROM documents, c
        |  UNION ALL SELECT doc_id, (doc_id * 31 + 194) % cnt FROM documents, c
        |  UNION ALL SELECT doc_id, (doc_id * 31 + 291) % cnt FROM documents, c
        |), e AS (SELECT DISTINCT src, dst FROM ed),
        |l0 AS (SELECT CAST(doc_id AS BIGINT) AS node FROM documents WHERE doc_id % 50 = 0),
        |r1 AS (SELECT DISTINCT e.dst AS node FROM e JOIN l0 ON e.src = l0.node),
        |r2 AS (SELECT DISTINCT e.dst AS node FROM e JOIN r1 ON e.src = r1.node),
        |r3 AS (SELECT DISTINCT e.dst AS node FROM e JOIN r2 ON e.src = r2.node),
        |r4 AS (SELECT DISTINCT e.dst AS node FROM e JOIN r3 ON e.src = r3.node),
        |lv AS (
        |  SELECT node, 0 AS d FROM l0
        |  UNION ALL SELECT node, 1 FROM r1
        |  UNION ALL SELECT node, 2 FROM r2
        |  UNION ALL SELECT node, 3 FROM r3
        |  UNION ALL SELECT node, 4 FROM r4
        |)
        |SELECT node, CAST(min(d) AS INT) AS dist FROM lv GROUP BY node""".stripMargin,
    // Random-walk replay: the same dst-ranked edges and the same
    // portable60('rw:walk:step:node') mod outdeg pick, steps unrolled
    "q_random_walks" ->
      """WITH c AS (SELECT count(*) AS cnt FROM documents),
        |ed AS (
        |  SELECT CAST(doc_id AS BIGINT) AS src,
        |    CAST((doc_id * 31 + 97) % cnt AS BIGINT) AS dst FROM documents, c
        |  UNION ALL SELECT doc_id, (doc_id * 31 + 194) % cnt FROM documents, c
        |  UNION ALL SELECT doc_id, (doc_id * 31 + 291) % cnt FROM documents, c
        |), e0 AS (SELECT DISTINCT src, dst FROM ed),
        |e AS (
        |  SELECT src, dst,
        |    row_number() OVER (PARTITION BY src ORDER BY dst) AS r,
        |    count(*) OVER (PARTITION BY src) AS od
        |  FROM e0
        |),
        |w0 AS (SELECT DISTINCT src AS walk_id, src AS node FROM e0),
        |w1 AS (SELECT w.walk_id, e.dst AS node FROM w0 w JOIN e ON e.src = w.node
        |  AND e.r = CAST('0x' || substr(md5('rw:' || CAST(w.walk_id AS VARCHAR)
        |    || ':0:' || CAST(w.node AS VARCHAR)), 1, 15) AS BIGINT) % e.od + 1),
        |w2 AS (SELECT w.walk_id, e.dst AS node FROM w1 w JOIN e ON e.src = w.node
        |  AND e.r = CAST('0x' || substr(md5('rw:' || CAST(w.walk_id AS VARCHAR)
        |    || ':1:' || CAST(w.node AS VARCHAR)), 1, 15) AS BIGINT) % e.od + 1),
        |w3 AS (SELECT w.walk_id, e.dst AS node FROM w2 w JOIN e ON e.src = w.node
        |  AND e.r = CAST('0x' || substr(md5('rw:' || CAST(w.walk_id AS VARCHAR)
        |    || ':2:' || CAST(w.node AS VARCHAR)), 1, 15) AS BIGINT) % e.od + 1),
        |w4 AS (SELECT w.walk_id, e.dst AS node FROM w3 w JOIN e ON e.src = w.node
        |  AND e.r = CAST('0x' || substr(md5('rw:' || CAST(w.walk_id AS VARCHAR)
        |    || ':3:' || CAST(w.node AS VARCHAR)), 1, 15) AS BIGINT) % e.od + 1)
        |SELECT walk_id, 0 AS step, node FROM w0
        |UNION ALL SELECT walk_id, 1, node FROM w1
        |UNION ALL SELECT walk_id, 2, node FROM w2
        |UNION ALL SELECT walk_id, 3, node FROM w3
        |UNION ALL SELECT walk_id, 4, node FROM w4""".stripMargin,
    // Pareto-front replay: the same staircase (per-x max, running max
    // over distinct x desc, strict-improvement filter, join back)
    "q_pareto_front" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_vocab
        |  FROM documents
        |), px AS (
        |  SELECT n_chars AS x, max(n_vocab) AS maxy FROM d GROUP BY 1
        |), st AS (
        |  SELECT x, maxy, max(maxy) OVER (ORDER BY x DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
        |  FROM px
        |)
        |SELECT d.doc_id, d.n_chars, d.n_vocab
        |FROM d JOIN st f ON d.n_chars = f.x AND d.n_vocab = f.maxy
        |WHERE f.prevmax IS NULL OR f.prevmax < f.maxy""".stripMargin,
    // Compaction replay: same (size desc, id) order, same cumulative
    // next-fit cut at 4096 bytes (// == Spark div, operands nonneg)
    "q_compaction_plan" ->
      """WITH f AS (
        |  SELECT source, doc_id AS file_id, n_chars AS size_bytes FROM documents
        |), cm AS (
        |  SELECT source, file_id, size_bytes,
        |    sum(size_bytes) OVER (PARTITION BY source
        |      ORDER BY size_bytes DESC, file_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM f
        |)
        |SELECT source, file_id, size_bytes,
        |  CAST((cum - size_bytes) // 4096 AS INT) AS bin
        |FROM cm""".stripMargin,
    // Entity-inventory replay: the scrub decoration, the same four
    // RE2 patterns applied independently to the original text
    "q_entity_extract" ->
      ("""WITH d AS (
        |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
        |    || '@example.com via https://site.example/' || CAST(doc_id AS VARCHAR)
        |    || '/page or +1 (555) 010-4477 at 10.20.30.42 x' AS t2
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, 'url' AS entity_type,
        |    unnest(regexp_extract_all(t2, 'URLPAT')) AS value FROM d
        |  UNION ALL SELECT doc_id, 'email',
        |    unnest(regexp_extract_all(t2, 'EMAILPAT')) FROM d
        |  UNION ALL SELECT doc_id, 'ip',
        |    unnest(regexp_extract_all(t2, 'IPPAT')) FROM d
        |  UNION ALL SELECT doc_id, 'phone',
        |    unnest(regexp_extract_all(t2, 'PHONEPAT')) FROM d
        |)
        |SELECT doc_id, entity_type, value, CAST(count(*) AS BIGINT) AS n
        |FROM m GROUP BY 1, 2, 3""".stripMargin
        .replace("URLPAT", TextOps.UrlPattern)
        .replace("EMAILPAT", TextOps.EmailPattern)
        .replace("IPPAT", TextOps.Ipv4Pattern)
        .replace("PHONEPAT", TextOps.PhonePattern)),
    // Containment replay: the ngram oracle's shingle join with the
    // asymmetric ratios, either direction clearing 0.1
    "q_dedup_containment" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 200
        |), sh AS (
        |  SELECT DISTINCT doc_id AS id, s AS shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |    FROM t)
        |), cnt AS (
        |  SELECT id, count(*) AS n FROM sh GROUP BY id
        |), com AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b, n_common,
        |  CAST(n_common AS DOUBLE) / CAST(ca.n AS DOUBLE) AS c_ab,
        |  CAST(n_common AS DOUBLE) / CAST(cb.n AS DOUBLE) AS c_ba
        |FROM com JOIN cnt ca ON ca.id = id_a JOIN cnt cb ON cb.id = id_b
        |WHERE greatest(CAST(n_common AS DOUBLE) / CAST(ca.n AS DOUBLE),
        |  CAST(n_common AS DOUBLE) / CAST(cb.n AS DOUBLE)) >= 0.1""".stripMargin,
    // Bucketed-join replay: the layout is engine-side physics (the
    // oracle has no bucket concept); the RESULT is the plain equi-join
    "q_bucketed_join" ->
      """WITH a AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |), b AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |)
        |SELECT a.doc_id, a.lang, a.n_chars, b.n_tokens
        |FROM a JOIN b USING (doc_id)""".stripMargin,
    // Confusion replay: the classifier CTE chain extended with the
    // matrix aggregation and the per-label marginal
    "q_nb_confusion" ->
      (nbClassifyCtes + ", base AS (\n" + nbClassifyFinal + "\n)" +
        """, cm AS (
          |  SELECT label, pred_label, CAST(count(*) AS BIGINT) AS n
          |  FROM base GROUP BY 1, 2
          |), tt AS (
          |  SELECT label, pred_label, n,
          |    CAST(sum(n) OVER (PARTITION BY label) AS BIGINT) AS label_total
          |  FROM cm
          |)
          |SELECT label, pred_label, n, label_total,
          |  CAST(n AS DOUBLE) / CAST(label_total AS DOUBLE) AS share
          |FROM tt""".stripMargin),
    // RRF replay: single-partition row_number ground truth for the
    // band-offset rankings + the identical fusion expression
    "q_rrf_fusion" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_vocab
        |  FROM documents
        |), r1 AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS r_len
        |  FROM d
        |), r2 AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY n_vocab, doc_id) AS BIGINT) AS r_vocab
        |  FROM d
        |)
        |SELECT doc_id, r_len, r_vocab,
        |  CAST(1 AS DOUBLE) / (60 + r_len) + CAST(1 AS DOUBLE) / (60 + r_vocab) AS rrf
        |FROM r1 JOIN r2 USING (doc_id)""".stripMargin,
    // Homoglyph replay: chr()-built confusable alphabet (same order as
    // TextOps.HomoglyphCyr), same decoration, same skeleton grouping
    "q_homoglyph_spoof" ->
      """WITH cy AS (
        |  SELECT chr(1072)||chr(1077)||chr(1086)||chr(1088)||chr(1089)
        |    ||chr(1093)||chr(1091)||chr(1110)||chr(1109) AS c
        |), u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    translate(text, 'aeopcxyis', (SELECT c FROM cy))
        |  FROM documents WHERE doc_id % 10 = 3
        |), sk AS (
        |  SELECT doc_id, text,
        |    sha256(translate(text, (SELECT c FROM cy), 'aeopcxyis')) AS skeleton_sha
        |  FROM u
        |)
        |SELECT skeleton_sha, CAST(min(doc_id) AS BIGINT) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_variants
        |FROM sk GROUP BY 1
        |HAVING count(*) > 1 AND count(DISTINCT text) > 1""".stripMargin,
    // Cogroup replay: the two per-side aggregates outer-joined over
    // the key union — relationally what the typed fold computes
    "q_cogroup_recon" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events
        |), c AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_clicks,
        |    max(us) AS last_click_us
        |  FROM ev WHERE event_type = 'click' GROUP BY 1
        |), p AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
        |    min(us) AS first_purchase_us
        |  FROM ev WHERE event_type = 'purchase' GROUP BY 1
        |), u AS (
        |  SELECT user_id FROM c UNION SELECT user_id FROM p
        |)
        |SELECT u.user_id, coalesce(c.n_clicks, 0) AS n_clicks,
        |  coalesce(p.n_purchases, 0) AS n_purchases,
        |  c.last_click_us, p.first_purchase_us
        |FROM u LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin,
    // CDC replay: same 4-gram portable-hash boundary rule, boundary
    // CLOSES its chunk (chunk_idx counts boundaries strictly before)
    "q_cdc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), p AS (
        |  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, toks FROM t
        |), tk AS (
        |  SELECT doc_id, pos, toks[pos] AS tok,
        |    CASE WHEN pos >= 4 AND CAST('0x' || substr(md5(
        |        toks[pos-3] || ' ' || toks[pos-2] || ' ' || toks[pos-1]
        |        || ' ' || toks[pos]), 1, 15) AS BIGINT) % 16 = 0
        |      THEN 1 ELSE 0 END AS b
        |  FROM p
        |), ck AS (
        |  SELECT doc_id, pos, tok,
        |    coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
        |  FROM tk
        |)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(min(pos) AS INT) AS start_tok, CAST(count(*) AS BIGINT) AS n_toks,
        |  sha256(string_agg(tok, ' ' ORDER BY pos)) AS chunk_sha
        |FROM ck GROUP BY 1, 2""".stripMargin,
    // chunk-store dedup replay: the q_cdc_chunks CTE re-grouped by
    // content hash, min-(doc,idx) survivorship, (copies-1)*toks savings
    "q_chunk_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), p AS (
        |  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, toks FROM t
        |), tk AS (
        |  SELECT doc_id, pos, toks[pos] AS tok,
        |    CASE WHEN pos >= 4 AND CAST('0x' || substr(md5(
        |        toks[pos-3] || ' ' || toks[pos-2] || ' ' || toks[pos-1]
        |        || ' ' || toks[pos]), 1, 15) AS BIGINT) % 16 = 0
        |      THEN 1 ELSE 0 END AS b
        |  FROM p
        |), ck AS (
        |  SELECT doc_id, pos, tok,
        |    coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
        |  FROM tk
        |), chunks AS (
        |  SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |    CAST(count(*) AS BIGINT) AS n_toks,
        |    sha256(string_agg(tok, ' ' ORDER BY pos)) AS chunk_sha
        |  FROM ck GROUP BY 1, 2
        |), agg AS (
        |  SELECT chunk_sha, min(n_toks) AS n_toks,
        |    CAST(count(*) AS BIGINT) AS n_copies,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM chunks GROUP BY 1 HAVING count(*) >= 2
        |), keep AS (
        |  SELECT chunk_sha, doc_id AS keep_doc, chunk_idx AS keep_idx
        |  FROM (SELECT chunk_sha, doc_id, chunk_idx, row_number() OVER (
        |      PARTITION BY chunk_sha ORDER BY doc_id, chunk_idx) AS rn
        |    FROM chunks) WHERE rn = 1
        |)
        |SELECT a.chunk_sha, a.n_toks, a.n_copies, a.n_docs,
        |  k.keep_doc, k.keep_idx,
        |  (a.n_copies - 1) * a.n_toks AS saved_toks
        |FROM agg a JOIN keep k USING (chunk_sha)""".stripMargin,
    // Schema-evolution replay: old-epoch rows surface NULL lang
    "q_schema_evolution" ->
      """SELECT doc_id, n_chars, CAST(NULL AS VARCHAR) AS lang
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, n_chars, lang FROM documents WHERE doc_id % 2 = 1""".stripMargin,
    // Dynamic-overwrite replay: only src1 is refreshed, the rest stale
    "q_dynamic_overwrite" ->
      """SELECT doc_id,
        |  CASE WHEN source = 'src1' THEN n_chars ELSE n_chars + 1000 END AS n_chars_m,
        |  source
        |FROM documents""".stripMargin,
    // MOR replay: the committed rows minus the equality-deleted keys
    "q_mor_deletes" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 7 <> 0""".stripMargin,
    // Incremental-join replay: the delta of the full join vs the base
    // join — exactly the rows where a delta participated
    "q_incremental_join" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 2 = 1 OR doc_id % 3 = 0""".stripMargin,
    // Resumable-PageRank replay: the interrupted-then-resumed run must
    // equal the plain 6-round unrolled chain — same edges, same
    // picounit discipline
    "q_pagerank_resume" ->
      ("""WITH e AS (
         |  SELECT DISTINCT CAST(c_custkey AS BIGINT) AS src,
         |    CAST(1000000 + c_nationkey AS BIGINT) AS dst FROM customer
         |  UNION
         |  SELECT DISTINCT CAST(1000000 + c_nationkey AS BIGINT) AS src,
         |    CAST(c_custkey AS BIGINT) AS dst FROM customer
         |)""".stripMargin + pagerankTail(iters = 6, d = 0.85)),
    // Salted-join replay: salting must be invisible in the result —
    // the oracle is the PLAIN join
    "q_salted_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id % 10 AS k FROM events
        |), dim AS (
        |  SELECT DISTINCT k, k * 100 + 7 AS wt FROM ev
        |)
        |SELECT ev.event_id, ev.k, dim.wt
        |FROM ev JOIN dim USING (k)""".stripMargin,
    // Linkage replay: the SNM pair CTE + the SAME driver-computed
    // micro-nat weight literals (no per-row or cross-engine ln)
    "q_linkage_score" -> {
      val wLangA = graft.operators.Linkage.microNatWeight(0.9, 0.25)
      val wLangD = graft.operators.Linkage.microNatWeight(0.1, 0.75)
      val wSrcA = graft.operators.Linkage.microNatWeight(0.8, 0.2)
      val wSrcD = graft.operators.Linkage.microNatWeight(0.2, 0.8)
      val wLenA = graft.operators.Linkage.microNatWeight(0.7, 0.1)
      val wLenD = graft.operators.Linkage.microNatWeight(0.3, 0.9)
      s"""WITH r AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY n_chars, doc_id) AS rk
         |  FROM documents
         |), p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM r a JOIN r b ON b.rk > a.rk AND b.rk - a.rk <= 3
         |), j AS (
         |  SELECT p.id_a, p.id_b, da.lang AS lang_a, db.lang AS lang_b,
         |    da.source AS source_a, db.source AS source_b,
         |    da.n_chars AS na, db.n_chars AS nb
         |  FROM p JOIN documents da ON da.doc_id = p.id_a
         |         JOIN documents db ON db.doc_id = p.id_b
         |), sc AS (
         |  SELECT id_a, id_b,
         |    CAST(CASE WHEN lang_a = lang_b THEN $wLangA ELSE $wLangD END
         |      + CASE WHEN source_a = source_b THEN $wSrcA ELSE $wSrcD END
         |      + CASE WHEN abs(na - nb) * 20 <= least(na, nb)
         |             THEN $wLenA ELSE $wLenD END AS BIGINT) AS score_micro
         |  FROM j
         |)
         |SELECT id_a, id_b, score_micro,
         |  score_micro >= 1500000 AS is_match
         |FROM sc""".stripMargin
    },
    // Replicate replay: same hash-parity membership, integer sums,
    // one IEEE division
    "q_subsample_reps" ->
      """WITH m AS (
        |  SELECT r.rep, d.doc_id, d.n_chars
        |  FROM documents d CROSS JOIN (SELECT unnest(range(0, 16)) AS rep) r
        |  WHERE CAST('0x' || substr(md5('rep:' || CAST(r.rep AS VARCHAR) || ':'
        |    || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0
        |)
        |SELECT CAST(rep AS INT) AS rep, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_chars
        |FROM m GROUP BY 1""".stripMargin,
    // Decay replay: same per-event integer micro-unit terms (exp of a
    // bit-identical double argument, floored before the sum)
    "q_decay_counts" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
        |), h AS (SELECT max(sec) AS h FROM ev)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_raw,
        |  CAST(sum(CAST(floor(exp(CAST(sec - h AS DOUBLE) / 3600.0) * 1000000)
        |    AS BIGINT)) AS BIGINT) AS decayed_micro
        |FROM ev CROSS JOIN h GROUP BY event_type""".stripMargin,
    // PSI replay: identical smoothing, identical micro-nat ln grid,
    // identical IEEE term expression
    "q_psi_drift" ->
      """WITH d AS (
        |  SELECT doc_id, lang FROM documents
        |), rf AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_ref FROM d
        |  WHERE doc_id % 2 = 0 GROUP BY 1
        |), cu AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_cur FROM d
        |  WHERE doc_id % 2 = 1 GROUP BY 1
        |), j AS (
        |  SELECT coalesce(rf.lang, cu.lang) AS lang,
        |    coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
        |  FROM rf FULL JOIN cu ON rf.lang = cu.lang
        |), tt AS (
        |  SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
        |    CAST(sum(n_cur) AS BIGINT) AS t_cur,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM j
        |), e AS (
        |  SELECT lang, n_ref, n_cur,
        |    CAST(n_ref + 1 AS DOUBLE) / CAST(t_ref + k AS DOUBLE) AS p,
        |    CAST(n_cur + 1 AS DOUBLE) / CAST(t_cur + k AS DOUBLE) AS q
        |  FROM j CROSS JOIN tt
        |)
        |SELECT lang, n_ref, n_cur,
        |  (p - q) * (floor(ln(p / q) * 1000000 + 0.5) / 1000000) AS psi_term
        |FROM e""".stripMargin,
    // Robots replay: same broadcast rule set, same longest-prefix
    // winner via (length, path, allowed) struct-max equivalent
    "q_robots_rules" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    '/doc/' || CAST(doc_id % 7 AS VARCHAR) || '/p' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents
        |), rules AS (
        |  SELECT * FROM (VALUES ('/', true), ('/doc', false),
        |    ('/doc/3', true), ('/doc/5', true)) r(path, allowed)
        |), m AS (
        |  SELECT u.doc_id, u.url, r.path, r.allowed,
        |    row_number() OVER (PARTITION BY u.doc_id
        |      ORDER BY length(r.path) DESC, r.path DESC) AS rn
        |  FROM u JOIN rules r ON starts_with(u.url, r.path)
        |)
        |SELECT doc_id, url, path AS rule_path, allowed
        |FROM m WHERE rn = 1""".stripMargin,
    // Outer-join replay: the same range LEFT JOIN — the drain's
    // watermark/sentinel machinery must be invisible in the result
    "stream_join_outer" ->
      """WITH l AS (
        |  SELECT doc_id, 1700000000 + doc_id % 3600 AS l_epoch, lang
        |  FROM documents
        |), r AS (
        |  SELECT doc_id AS r_doc_id,
        |    1700000000 + doc_id % 3600 + (doc_id % 13) * 60 AS r_epoch,
        |    n_chars AS score
        |  FROM documents
        |)
        |SELECT l.doc_id, l.l_epoch, r.r_epoch, l.lang, r.score
        |FROM l LEFT JOIN r ON l.doc_id = r.r_doc_id
        |  AND r.r_epoch >= l.l_epoch AND r.r_epoch <= l.l_epoch + 600""".stripMargin,
    // AUC replay: the same (source, score) count table, the same
    // running-negatives window, exact BIGINT concordant/tied sums,
    // one IEEE division per source (NULL when a class is absent)
    "q_auc" ->
      """WITH ct AS (
        |  SELECT source AS grp, n_chars AS s,
        |    CAST(sum(CAST(lang = 'en' AS BIGINT)) AS BIGINT) AS np,
        |    CAST(sum(CAST(lang <> 'en' AS BIGINT)) AS BIGINT) AS nn
        |  FROM documents GROUP BY 1, 2
        |), w AS (
        |  SELECT grp, np, nn,
        |    sum(nn) OVER (PARTITION BY grp ORDER BY s
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cumneg
        |  FROM ct
        |), a AS (
        |  SELECT grp AS source,
        |    CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(nn) AS BIGINT) AS n_neg,
        |    CAST(sum(np * (cumneg - nn)) AS BIGINT) AS conc,
        |    CAST(sum(np * nn) AS BIGINT) AS tied
        |  FROM w GROUP BY grp
        |)
        |SELECT source, n_pos, n_neg,
        |  CAST(2 * conc + tied AS BIGINT) AS u2,
        |  CAST(2 * conc + tied AS DOUBLE) /
        |    nullif(CAST(2 * n_pos * n_neg AS DOUBLE), 0.0) AS auc
        |FROM a""".stripMargin,
    // Calibration replay: same hash micro-probability, same bins, the
    // centroid division discipline (/1e6 then /n) verbatim
    "q_calibration" ->
      """WITH p AS (
        |  SELECT CAST('0x' || substr(md5('cal:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 1000001 AS p_micro,
        |    CAST(lang = 'en' AS BIGINT) AS pos
        |  FROM documents
        |)
        |SELECT least(p_micro // 100000, 9) AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST(sum(p_micro) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE)
        |    AS mean_p,
        |  CAST(sum(pos) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS frac_pos
        |FROM p GROUP BY 1""".stripMargin,
    // Kappa replay: the NB classifier CTE chain extended with the
    // confusion counts, marginal cross products, and the identical
    // po/pe/kappa IEEE expression chain
    "q_cohen_kappa" ->
      (nbClassifyCtes + ", base AS (\n" + nbClassifyFinal + "\n)" +
        """, cm AS (
          |  SELECT label AS ra, pred_label AS rb, CAST(count(*) AS BIGINT) AS c
          |  FROM base GROUP BY 1, 2
          |), tt AS (
          |  SELECT CAST(sum(c) AS BIGINT) AS n,
          |    CAST(sum(CASE WHEN ra = rb THEN c ELSE 0 END) AS BIGINT) AS n_agree
          |  FROM cm
          |), rt AS (SELECT ra AS cls, CAST(sum(c) AS BIGINT) AS cr FROM cm GROUP BY 1
          |), cl2 AS (SELECT rb AS cls, CAST(sum(c) AS BIGINT) AS cc FROM cm GROUP BY 1
          |), pn AS (
          |  SELECT CAST(sum(coalesce(cr, 0) * coalesce(cc, 0)) AS BIGINT) AS pe_num
          |  FROM rt FULL JOIN cl2 USING (cls)
          |), e AS (
          |  SELECT n, n_agree, pe_num,
          |    CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
          |    CAST(pe_num AS DOUBLE) / CAST(n * n AS DOUBLE) AS pe
          |  FROM tt CROSS JOIN pn
          |)
          |SELECT n, n_agree, pe_num, po, pe, (po - pe) / (1.0 - pe) AS kappa
          |FROM e""".stripMargin),
    // nDCG replay: the same deterministic retrieval, the same LITERAL
    // per-rank micro-weight tables (no ln at compare time), integer
    // DCG/IDCG sums, one IEEE division per query
    "q_ndcg" ->
      """WITH wt AS (
        |  SELECT * FROM (VALUES (1, 1000000), (2, 630930), (3, 500000),
        |    (4, 430677), (5, 386853), (6, 356207), (7, 333333),
        |    (8, 315465), (9, 301030), (10, 289065)) w(rk, w_micro)
        |), rrw AS (
        |  SELECT * FROM (VALUES (1, 1000000), (2, 500000), (3, 333333),
        |    (4, 250000), (5, 200000), (6, 166667), (7, 142857),
        |    (8, 125000), (9, 111111), (10, 100000)) r(rk, rr_micro)
        |), cand AS (
        |  SELECT doc_id % 20 AS query_id, doc_id,
        |    CAST('0x' || substr(md5('ret:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS score,
        |    CASE WHEN n_chars % 5 = 0 THEN 2
        |         WHEN n_chars % 3 = 0 THEN 1 ELSE 0 END AS rel
        |  FROM documents
        |), rkd AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id ASC) AS rk,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY rel DESC, doc_id ASC) AS irk
        |  FROM cand
        |), dcg AS (
        |  SELECT query_id,
        |    CAST(sum(rel * w_micro) AS BIGINT) AS dcg_micro,
        |    min(CASE WHEN rel > 0 THEN rkd.rk END) AS first_rel
        |  FROM rkd JOIN wt ON wt.rk = rkd.rk
        |  WHERE rkd.rk <= 10 GROUP BY 1
        |), idcg AS (
        |  SELECT query_id, CAST(sum(rel * w_micro) AS BIGINT) AS idcg_micro
        |  FROM rkd JOIN wt ON wt.rk = rkd.irk
        |  WHERE irk <= 10 GROUP BY 1
        |)
        |SELECT d.query_id, dcg_micro, idcg_micro,
        |  CAST(dcg_micro AS DOUBLE) / nullif(CAST(idcg_micro AS DOUBLE), 0.0)
        |    AS ndcg,
        |  CAST(coalesce(rr_micro, 0) AS BIGINT) AS rr_micro
        |FROM dcg d JOIN idcg i ON i.query_id = d.query_id
        |LEFT JOIN rrw ON rrw.rk = d.first_rel""".stripMargin,
    // SRM replay: same hash arms, same exact-integer chi-square term
    // (3o - n)^2 / (3n)
    "q_srm_chisq" ->
      """WITH u AS (
        |  SELECT DISTINCT user_id FROM events
        |), a AS (
        |  SELECT CAST('0x' || substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 3 AS arm
        |  FROM u
        |), c AS (
        |  SELECT arm, CAST(count(*) AS BIGINT) AS n_users FROM a GROUP BY 1
        |), tt AS (SELECT CAST(sum(n_users) AS BIGINT) AS n_total FROM c)
        |SELECT arm, n_users, n_total,
        |  CAST((3 * n_users - n_total) * (3 * n_users - n_total) AS DOUBLE) /
        |    CAST(3 * n_total AS DOUBLE) AS chisq_term
        |FROM c CROSS JOIN tt""".stripMargin,
    // Crawl-schedule replay: same host/delay derivation, same
    // priority-rank window, slot * delay
    "q_crawl_schedule" ->
      """WITH u AS (
        |  SELECT doc_id, 'h' || CAST(doc_id % 50 AS VARCHAR) AS host,
        |    1 + (doc_id % 50) % 5 AS delay_sec,
        |    CAST('0x' || substr(md5('crawl:' || CAST(doc_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS prio
        |  FROM documents
        |)
        |SELECT doc_id, host,
        |  CAST(row_number() OVER (PARTITION BY host
        |    ORDER BY prio ASC, doc_id ASC) - 1 AS BIGINT) AS slot,
        |  CAST((row_number() OVER (PARTITION BY host
        |    ORDER BY prio ASC, doc_id ASC) - 1) * delay_sec AS BIGINT)
        |    AS fetch_at_sec
        |FROM u""".stripMargin,
    // Path-rollup replay: same synthetic URLs, prefixes generated per
    // row (unnest over depth 1..3), same counts
    "q_path_rollup" ->
      """WITH u AS (
        |  SELECT n_chars,
        |    '/a' || CAST(doc_id % 5 AS VARCHAR) || '/b' ||
        |      CAST(doc_id % 7 AS VARCHAR) || '/p' || CAST(doc_id AS VARCHAR)
        |      AS url
        |  FROM documents
        |), px AS (
        |  SELECT n_chars, CAST(d.d AS INT) AS depth,
        |    '/' || array_to_string(string_split(url, '/')[2:CAST(d.d AS INT) + 1], '/')
        |      AS prefix
        |  FROM u CROSS JOIN (SELECT unnest(range(1, 4)) AS d) d
        |)
        |SELECT prefix, depth, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM px GROUP BY 1, 2""".stripMargin,
    // Mutual-kNN replay: the quadratic ground truth — same 1-in-4
    // slice, index-ordered cosine fold, best per vector by
    // (cos DESC, other ASC), pair kept only when reciprocal
    "q_mutual_knn" ->
      """WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        |  WHERE vec_id % 4 = 0
        |), p AS (
        |  SELECT a.vec_id, b.vec_id AS o_id,
        |    list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i])) /
        |      (sqrt(list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * a.e[i]))) *
        |       sqrt(list_sum(list_transform(range(1, len(b.e) + 1), i -> b.e[i] * b.e[i]))))
        |      AS cos
        |  FROM v a JOIN v b ON a.vec_id <> b.vec_id
        |), best AS (
        |  SELECT vec_id, o_id AS best_id, cos AS best_cos FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, o_id ASC) AS rn
        |    FROM p
        |  ) WHERE rn = 1
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.best_cos AS cos
        |FROM best a JOIN best b
        |  ON a.best_id = b.vec_id AND b.best_id = a.vec_id
        |  AND a.vec_id < b.vec_id""".stripMargin,
    // Span-TSV connector replay: the landing zone derives from
    // documents (sanitation is length-preserving), the pushed doc_id
    // window and the residual media_ref filter reduce to the plain
    // predicate — pruning/pushdown must be invisible in the result
    "q_spantsv_source" ->
      """SELECT doc_id, CAST(0 AS INT) AS "offset", 'text' AS kind,
        |  'img:' || CAST(doc_id AS VARCHAR) AS media_ref,
        |  CAST(length(text) AS INT) AS text_len
        |FROM documents
        |WHERE doc_id BETWEEN 100 AND 299 AND doc_id % 4 = 0""".stripMargin,
    // Zone-map replay: the same (n_chars, doc_id) clustering rank, the
    // same 50-row files, stats + the identical would-scan predicate
    "q_zonemap_prune" ->
      """WITH r AS (
        |  SELECT n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS rk
        |  FROM documents
        |)
        |SELECT (rk - 1) // 50 AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(n_chars) AS min_c, max(n_chars) AS max_c,
        |  CAST(max(n_chars) >= 200 AND min(n_chars) <= 300 AS INT) AS would_scan
        |FROM r GROUP BY 1""".stripMargin,
    // Sweep replay: same count table, same running tp/fp window over
    // distinct scores, same division chain
    "q_threshold_sweep" ->
      """WITH ct AS (
        |  SELECT n_chars AS thr,
        |    CAST(sum(CAST(lang = 'en' AS BIGINT)) AS BIGINT) AS np,
        |    CAST(sum(CAST(lang <> 'en' AS BIGINT)) AS BIGINT) AS nn
        |  FROM documents GROUP BY 1
        |), tt AS (
        |  SELECT CAST(sum(np) AS BIGINT) AS n_pos FROM ct
        |), w AS (
        |  SELECT thr,
        |    CAST(sum(np) OVER (ORDER BY thr DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
        |    CAST(sum(nn) OVER (ORDER BY thr DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
        |  FROM ct
        |)
        |SELECT thr, tp, fp, CAST(n_pos - tp AS BIGINT) AS fn,
        |  CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
        |  CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE) AS recall
        |FROM w CROSS JOIN tt""".stripMargin,
    // Vocab-growth replay: the same record-local trigram generation,
    // trigram -> first epoch, per-epoch new-type counts, 4-row cumulative
    "q_vocab_growth" ->
      """WITH d AS (
        |  SELECT doc_id % 4 AS epoch, string_split(text, ' ') AS ts
        |  FROM documents
        |), tok AS (
        |  SELECT epoch, unnest(list_transform(range(1, len(ts) - 1),
        |    i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1] || ' '
        |      || ts[CAST(i AS INT) + 2])) AS tok
        |  FROM d
        |), f AS (
        |  SELECT tok, min(epoch) AS epoch FROM tok GROUP BY 1
        |), g AS (
        |  SELECT epoch, CAST(count(*) AS BIGINT) AS new_types FROM f GROUP BY 1
        |)
        |SELECT epoch, new_types,
        |  CAST(sum(new_types) OVER (ORDER BY epoch
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_types
        |FROM g""".stripMargin
  )

  /** q_table_types oracle: cells CTE -> dense (i,j) -> seeded overwrite
    * -> classifier -> majority + header.
    */
  private def tableTypesOracle: String =
    extractCommonCtes("spans_input") + e1CellCtes +
      """, dense AS (
        |  SELECT doc_id, rid,
        |    dense_rank() OVER (PARTITION BY doc_id, rid ORDER BY ri) AS i,
        |    row_number() OVER (PARTITION BY doc_id, rid, ri ORDER BY ci) AS j,
        |    txt
        |  FROM cells
        |), tnum AS (
        |  SELECT doc_id, rid,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY rid) - 1 AS INTEGER) AS table_idx
        |  FROM (SELECT DISTINCT doc_id, rid FROM cells)
        |), dcell AS (
        |  SELECT d.doc_id, t.table_idx, CAST(d.i AS INTEGER) AS i, CAST(d.j AS INTEGER) AS j,
        |    CASE (d.i * 7 + d.j) % 5
        |      WHEN 0 THEN CAST(length(d.txt) AS VARCHAR)
        |      WHEN 1 THEN CAST(length(d.txt) AS VARCHAR) || '.5'
        |      WHEN 2 THEN '2024-01-' || lpad(CAST(length(d.txt) % 28 + 1 AS VARCHAR), 2, '0')
        |      WHEN 3 THEN CASE WHEN length(d.txt) % 2 = 0 THEN 'true' ELSE 'false' END
        |      ELSE d.txt END AS txt
        |  FROM dense d JOIN tnum t ON d.doc_id = t.doc_id AND d.rid = t.rid
        |), ctyp AS (
        |  SELECT doc_id, table_idx, i, j,
        |    CASE WHEN txt = '' THEN 'empty'
        |         WHEN regexp_matches(txt, '^[+-]?[0-9]+$') THEN 'int'
        |         WHEN regexp_matches(txt, '^[+-]?[0-9]+\.[0-9]+$') THEN 'num'
        |         WHEN regexp_matches(txt, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$') THEN 'date'
        |         WHEN txt IN ('true', 'false') THEN 'bool'
        |         ELSE 'text' END AS ct
        |  FROM dcell
        |), hist AS (
        |  SELECT doc_id, table_idx, j, ct, count(*) AS cnt
        |  FROM ctyp WHERE i > 1 GROUP BY 1, 2, 3, 4
        |), maj AS (
        |  SELECT doc_id, table_idx, j,
        |    max(CASE WHEN rk = 1 THEN ct END) AS col_type,
        |    CAST(sum(cnt) AS BIGINT) AS n_body
        |  FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY doc_id, table_idx, j ORDER BY cnt DESC, ct ASC) AS rk
        |    FROM hist)
        |  GROUP BY 1, 2, 3
        |), hdr AS (
        |  SELECT doc_id, table_idx, j, ct AS header_type FROM ctyp WHERE i = 1
        |)
        |SELECT m.doc_id, m.table_idx, m.j, m.col_type, m.n_body,
        |  coalesce(h.header_type, 'none') AS header_type
        |FROM maj m LEFT JOIN hdr h
        |  ON m.doc_id = h.doc_id AND m.table_idx = h.table_idx AND m.j = h.j""".stripMargin

  /** q_ann_neardup oracle (also nested by q_bitext_candidates). */
  private def annNearDupOracle: String =
    """WITH v AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e,
      |    sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      |      i -> (embedding::DOUBLE[])[i] * (embedding::DOUBLE[])[i]))) AS nrm
      |  FROM embeddings WHERE vec_id < 300
      |)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm) AS sim
      |FROM v a JOIN v b ON a.vec_id < b.vec_id
      |WHERE list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i])) / (a.nrm * b.nrm) >= 0.3""".stripMargin

  /** q_ann_topk oracle (also nested by q_ann_recall). */
  /** q_pca_project oracle: full deterministic replay of Pca.scala —
    * fixed-point mean and covariance (per-term floor(x*2^20+0.5) longs,
    * order-independent integer sums, one IEEE division back), 5
    * unrolled power-iteration steps from the exact 0.125 start
    * (1/sqrt(64)) with index-ordered list_sum matvecs and per-step
    * normalization, the exact-zero first-nonzero sign fix, then the
    * per-vector (v - mean) . w projection fold.
    */
  private def pcaProjectOracle: String = {
    val S = "1048576.0" // 2^20, Pca.Scale
    val iters = 5
    val rng = s"range(1, ${IvfDim + 1})"
    val steps = (1 to iters).map { i =>
      s"""u$i AS (
         |  SELECT m, list_transform($rng, j ->
         |    list_sum(list_transform($rng, k -> m[j][k] * w[k]))) AS u
         |  FROM it${i - 1}
         |), it$i AS (
         |  SELECT m, list_transform(u, x ->
         |    x / sqrt(list_sum(list_transform(u, y -> y * y)))) AS w
         |  FROM u$i
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH vecs AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
       |), nrow AS (SELECT count(*) AS n FROM vecs
       |), dims AS (SELECT unnest($rng) AS j
       |), mean AS (
       |  SELECT j, CAST(sum(CAST(floor(v[j] * $S + 0.5) AS BIGINT)) AS DOUBLE)
       |    / ($S * (SELECT n FROM nrow)) AS m
       |  FROM vecs CROSS JOIN dims GROUP BY j
       |), muv AS (SELECT list(m ORDER BY j) AS mu FROM mean
       |), cov AS (
       |  SELECT d1.j AS j, d2.j AS k,
       |    CAST(sum(CAST(floor((v[d1.j] - mu[d1.j]) * (v[d2.j] - mu[d2.j]) * $S + 0.5) AS BIGINT)) AS DOUBLE)
       |      / ($S * ((SELECT n FROM nrow) - 1)) AS c
       |  FROM vecs CROSS JOIN dims d1 CROSS JOIN dims d2 CROSS JOIN muv
       |  GROUP BY 1, 2
       |), cm AS (
       |  SELECT list(rw ORDER BY j) AS m
       |  FROM (SELECT j, list(c ORDER BY k) AS rw FROM cov GROUP BY j)
       |), it0 AS (
       |  SELECT m, list_transform($rng, j -> 0.125) AS w FROM cm
       |), $steps, pc AS (
       |  SELECT CASE WHEN COALESCE(list_filter(w, x -> x <> 0.0)[1], 1.0) < 0
       |              THEN list_transform(w, x -> -1.0 * x) ELSE w END AS w
       |  FROM it$iters
       |)
       |SELECT vec_id,
       |  list_sum(list_transform($rng, j -> (v[j] - mu[j]) * w[j])) AS pc1
       |FROM vecs CROSS JOIN muv CROSS JOIN pc""".stripMargin
  }

  /** q_pca2_project oracle: the q_pca_project construction plus one
    * unrolled Hotelling deflation — lambda = w^T C w (matvec then dot,
    * index-ordered), C2[a][b] = C[a][b] - lambda*w[a]*w[b]
    * (left-associated exactly as Pca.deflate) — then a second 5-step
    * power iteration + sign fix over C2, and both projection folds.
    */
  private def pca2ProjectOracle: String = {
    val S = "1048576.0"
    val iters = 5
    val rng = s"range(1, ${IvfDim + 1})"
    def steps(tag: String, fromCte: String) = {
      val blocks = (1 to iters).map { i =>
        val prev = s"it$tag${i - 1}"
        s"""u$tag$i AS (
           |  SELECT m, list_transform($rng, j ->
           |    list_sum(list_transform($rng, k -> m[j][k] * w[k]))) AS u
           |  FROM $prev
           |), it$tag$i AS (
           |  SELECT m, list_transform(u, x ->
           |    x / sqrt(list_sum(list_transform(u, y -> y * y)))) AS w
           |  FROM u$tag$i
           |)""".stripMargin
      }.mkString(", ")
      s"""it${tag}0 AS (
         |  SELECT m, list_transform($rng, j -> 0.125) AS w FROM $fromCte
         |), $blocks, pc$tag AS (
         |  SELECT m, CASE WHEN COALESCE(list_filter(w, x -> x <> 0.0)[1], 1.0) < 0
         |              THEN list_transform(w, x -> -1.0 * x) ELSE w END AS w
         |  FROM it$tag$iters
         |)""".stripMargin
    }
    s"""WITH vecs AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
       |), nrow AS (SELECT count(*) AS n FROM vecs
       |), dims AS (SELECT unnest($rng) AS j
       |), mean AS (
       |  SELECT j, CAST(sum(CAST(floor(v[j] * $S + 0.5) AS BIGINT)) AS DOUBLE)
       |    / ($S * (SELECT n FROM nrow)) AS m
       |  FROM vecs CROSS JOIN dims GROUP BY j
       |), muv AS (SELECT list(m ORDER BY j) AS mu FROM mean
       |), cov AS (
       |  SELECT d1.j AS j, d2.j AS k,
       |    CAST(sum(CAST(floor((v[d1.j] - mu[d1.j]) * (v[d2.j] - mu[d2.j]) * $S + 0.5) AS BIGINT)) AS DOUBLE)
       |      / ($S * ((SELECT n FROM nrow) - 1)) AS c
       |  FROM vecs CROSS JOIN dims d1 CROSS JOIN dims d2 CROSS JOIN muv
       |  GROUP BY 1, 2
       |), cm AS (
       |  SELECT list(rw ORDER BY j) AS m
       |  FROM (SELECT j, list(c ORDER BY k) AS rw FROM cov GROUP BY j)
       |), ${steps("a", "cm")}, defl AS (
       |  SELECT list_transform($rng, a -> list_transform($rng, b ->
       |      m[a][b] - list_sum(list_transform($rng, j -> w[j] *
       |        list_sum(list_transform($rng, k -> m[j][k] * w[k])))) * w[a] * w[b])) AS m,
       |    w AS w1
       |  FROM pca
       |), ${steps("b", "defl")}
       |SELECT vec_id,
       |  list_sum(list_transform($rng, j -> (v[j] - mu[j]) * w1[j])) AS pc1,
       |  list_sum(list_transform($rng, j -> (v[j] - mu[j]) * pcb.w[j])) AS pc2
       |FROM vecs CROSS JOIN muv CROSS JOIN (SELECT w1 FROM defl) dw CROSS JOIN pcb""".stripMargin
  }

  private def annTopkOracle: String =
    """WITH v AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
      |), q AS (
      |  SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id IN (0, 1, 2, 3, 4)
      |), s AS (
      |  SELECT q.query_id, v.vec_id AS neighbor_id,
      |    list_sum(list_transform(range(1, len(v.e) + 1), i -> q.qe[i] * v.e[i])) /
      |    (sqrt(list_sum(list_transform(range(1, len(q.qe) + 1), i -> q.qe[i] * q.qe[i]))) *
      |     sqrt(list_sum(list_transform(range(1, len(v.e) + 1), i -> v.e[i] * v.e[i])))) AS sim
      |  FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id
      |), r AS (
      |  SELECT query_id, neighbor_id, sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      |  FROM s
      |)
      |SELECT query_id, neighbor_id, rank, sim FROM r WHERE rank <= 10""".stripMargin

  /** q_ann_lsh oracle (also nested by q_ann_recall). */
  private def annLshOracle: String = {
      // replay the portable hyperplane LSH: md5-derived plane weights in
      // [-1,1], sign-bit signatures per (table, bit), candidate equi-join
      // on (table, sig), exact cosine rerank — float dots evaluate
      // left-to-right in both engines (same pattern as q_ann_topk)
      val tables = 8; val bits = 8; val seed = 42L; val dim = 64
      s"""WITH planes AS (
         |  SELECT t, b, list_transform(range(1, ${dim + 1}), i ->
         |    CAST(((CAST('0x' || substr(md5('$seed:' || CAST(t AS VARCHAR) || ':' ||
         |      CAST(b AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT)
         |      % 2001) - 1000) AS DOUBLE) / 1000.0) AS w
         |  FROM (SELECT unnest(range(0, $tables)) AS t), (SELECT unnest(range(0, $bits)) AS b)
         |), vecs AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
         |), dots AS (
         |  SELECT v.vec_id, p.t, p.b,
         |    list_sum(list_transform(range(1, ${dim + 1}), i -> p.w[i] * v.v[i])) AS d
         |  FROM vecs v CROSS JOIN planes p
         |), sigs AS (
         |  SELECT vec_id, t,
         |    CAST(sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS INTEGER) AS sig
         |  FROM dots GROUP BY vec_id, t
         |), qsigs AS (
         |  SELECT vec_id AS query_id, t, sig FROM sigs WHERE vec_id IN (0, 1, 2, 3, 4)
         |), cand AS (
         |  SELECT DISTINCT s.vec_id AS item_id, q.query_id
         |  FROM sigs s JOIN qsigs q ON s.t = q.t AND s.sig = q.sig
         |  WHERE s.vec_id <> q.query_id
         |), sims AS (
         |  SELECT c.query_id, c.item_id,
         |    list_sum(list_transform(range(1, ${dim + 1}), i -> qv.v[i] * iv.v[i])) /
         |    (sqrt(list_sum(list_transform(range(1, ${dim + 1}), i -> qv.v[i] * qv.v[i]))) *
         |     sqrt(list_sum(list_transform(range(1, ${dim + 1}), i -> iv.v[i] * iv.v[i])))) AS sim
         |  FROM cand c
         |  JOIN vecs qv ON qv.vec_id = c.query_id
         |  JOIN vecs iv ON iv.vec_id = c.item_id
         |), r AS (
         |  SELECT query_id, item_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, item_id) AS rank
         |  FROM sims
         |)
         |SELECT query_id, item_id AS neighbor_id, CAST(rank AS BIGINT) AS rank, sim
         |FROM r WHERE rank <= 10""".stripMargin
  }

  /** q_ann_recall oracle: the two full ANN oracles nested as
    * subqueries (exact left, LSH right), per-query hit count / 10.
    */
  private def annRecallOracle: String =
    s"""SELECT e.query_id,
       |  CAST(count(l.neighbor_id) AS BIGINT) AS n_hits,
       |  CAST(count(*) AS BIGINT) AS k,
       |  count(l.neighbor_id) / CAST(10 AS DOUBLE) AS recall
       |FROM (""".stripMargin + annTopkOracle + """) e
       |LEFT JOIN (""".stripMargin + annLshOracle + """) l
       |  ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id
       |GROUP BY e.query_id""".stripMargin

  /** q_span_diff oracle: E1 chain -> CTE `a` -> perturbation -> diff. */
  private def spanDiffOracle: String =
    extractCommonCtes("spans_input") + e1CellCtes + spansTailCtes +
      ", a AS (\n" + spansFinalSelect + "\n)" +
      """, am AS (
        |  SELECT doc_id, "offset", kind, text, media_ref,
        |    CAST(regexp_extract(doc_id, '([0-9]+)$', 1) AS BIGINT) AS dn,
        |    max("offset") OVER (PARTITION BY doc_id) AS mx
        |  FROM a
        |), bm AS (
        |  SELECT doc_id, "offset", kind,
        |    CASE WHEN dn % 7 = 0 AND "offset" = 1 THEN upper(text) ELSE text END AS text,
        |    media_ref
        |  FROM am WHERE NOT (dn % 11 = 0 AND "offset" = mx)
        |  UNION ALL
        |  SELECT doc_id, mx + 1, 'text', 'EXTRA', ''
        |  FROM am WHERE dn % 13 = 0 AND "offset" = mx
        |), dpairs AS (
        |  SELECT coalesce(x.doc_id, y.doc_id) AS doc_id,
        |    coalesce(x."offset", y."offset") AS pos,
        |    x.kind IS NOT NULL AS pa, y.kind IS NOT NULL AS pb,
        |    (x.kind IS DISTINCT FROM y.kind) OR (x.text IS DISTINCT FROM y.text)
        |      OR (x.media_ref IS DISTINCT FROM y.media_ref) AS mism
        |  FROM (SELECT doc_id, "offset", kind, text, media_ref FROM am) x
        |  FULL OUTER JOIN bm y ON x.doc_id = y.doc_id AND x."offset" = y."offset"
        |)
        |SELECT doc_id,
        |  min(CASE WHEN mism THEN pos END) AS first_diff_pos,
        |  CAST(count(CASE WHEN pa THEN 1 END) AS BIGINT) AS n_a,
        |  CAST(count(CASE WHEN pb THEN 1 END) AS BIGINT) AS n_b,
        |  CASE WHEN min(CASE WHEN mism THEN pos END) IS NULL THEN 'equal'
        |       ELSE 'diverged' END AS status
        |FROM dpairs GROUP BY doc_id""".stripMargin

  /** q_tables_markdown oracle: same cells CTE as the CSV oracle, GFM
    * assembly.
    */
  private def markdownOracle: String =
    extractCommonCtes("spans_input") + e1CellCtes +
      """, mrow AS (
        |  SELECT doc_id, rid, ri,
        |    '| ' || string_agg(replace(replace(txt, '|', '\|'), chr(10), '<br>'),
        |      ' | ' ORDER BY ci) || ' |' AS line,
        |    CAST(count(*) AS INTEGER) AS ncol
        |  FROM cells GROUP BY 1, 2, 3
        |), mfirst AS (
        |  SELECT doc_id, rid, min(ri) AS ri0 FROM mrow GROUP BY 1, 2
        |), mall AS (
        |  SELECT doc_id, rid, ri * 2 AS k, line FROM mrow
        |  UNION ALL
        |  SELECT m.doc_id, m.rid, f.ri0 * 2 + 1 AS k,
        |    repeat('| --- ', m.ncol) || '|' AS line
        |  FROM mrow m JOIN mfirst f
        |    ON m.doc_id = f.doc_id AND m.rid = f.rid AND m.ri = f.ri0
        |), mtab AS (
        |  SELECT doc_id, rid, string_agg(line, chr(10) ORDER BY k) AS md
        |  FROM mall GROUP BY 1, 2
        |)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY rid) - 1 AS INTEGER) AS table_idx,
        |  md
        |FROM mtab""".stripMargin

  /** Shared CTE chain for the line-dedup oracles: synthesized
    * multi-line text and the exploded non-empty-line view (`ne`:
    * doc_id, pos, line, k = lower(trim(line))).
    */
  /** Shared CTE chain for the header/footer template oracles: per-source
    * banner decoration (doc_id%5<3), line explode with per-doc counts,
    * edge-line template detection at the 3/10 integer threshold (`hdr`/
    * `ftr`: source, k, nd), and the per-line drop marking (`mk`).
    */
  private val siteTemplateCtes: String =
    """WITH raw AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 5 < 3
      |      THEN 'NAV ' || source || ' MENU' || chr(10) || text
      |        || chr(10) || '(c) ' || source || ' footer'
      |      ELSE text END AS t
      |  FROM documents
      |), parts AS (
      |  SELECT doc_id, source, string_split(t, chr(10)) AS ls FROM raw
      |), lines AS (
      |  SELECT doc_id, source, unnest(range(len(ls))) AS pos,
      |    unnest(ls) AS line
      |  FROM parts
      |), tg AS (
      |  SELECT doc_id, source, pos, line, lower(trim(line)) AS k,
      |    count(*) OVER (PARTITION BY doc_id) AS n
      |  FROM lines
      |), ssz AS (
      |  SELECT source, count(*) AS nsrc FROM documents GROUP BY source
      |), hdr AS (
      |  SELECT source, k, nd FROM (
      |    SELECT source, k, count(DISTINCT doc_id) AS nd
      |    FROM tg WHERE pos < 2 AND k <> '' GROUP BY source, k
      |  ) JOIN ssz USING (source) WHERE nd * 10 >= nsrc * 3
      |), ftr AS (
      |  SELECT source, k, nd FROM (
      |    SELECT source, k, count(DISTINCT doc_id) AS nd
      |    FROM tg WHERE pos >= n - 2 AND k <> '' GROUP BY source, k
      |  ) JOIN ssz USING (source) WHERE nd * 10 >= nsrc * 3
      |), mk AS (
      |  SELECT t.doc_id, t.pos, t.line,
      |    ((t.pos < 2 AND h.k IS NOT NULL)
      |      OR (t.pos >= t.n - 2 AND f.k IS NOT NULL)) AS dropped
      |  FROM tg t
      |  LEFT JOIN hdr h ON h.source = t.source AND h.k = t.k
      |  LEFT JOIN ftr f ON f.source = t.source AND f.k = t.k
      |)
      |""".stripMargin

  private val lineDedupCtes: String =
    """WITH raw AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 2 = 0 THEN 'HOME | About | Contact'
      |         ELSE 'home | about | contact' END
      |    || chr(10) || text || chr(10) || chr(10) || 'copyright ' || source
      |    || chr(10) || 'ref ' || CAST(doc_id AS VARCHAR) AS t
      |  FROM documents
      |), parts AS (
      |  SELECT doc_id, string_split(t, chr(10)) AS ls FROM raw
      |), lines AS (
      |  SELECT doc_id, unnest(range(len(ls))) AS pos, unnest(ls) AS line FROM parts
      |), ne AS (
      |  SELECT doc_id, pos, line, lower(trim(line)) AS k
      |  FROM lines WHERE lower(trim(line)) <> ''
      |)""".stripMargin

  /** Shared CTE chain for the URL-domain oracles: synthesized URL,
    * regex host/domain parse, and per-doc micro-quality (`dd`:
    * doc_id, domain, q_micro).
    */
  private def urlDomainCtes: String = {
    val allMarkers = graft.textops.TextOps.LangMarkers.flatMap(_._2)
      .map(m => s"'$m'").mkString("(", ", ", ")")
    s"""WITH u AS (
       |  SELECT doc_id, text,
       |    'https://' || CASE WHEN doc_id % 3 = 0 THEN 'cdn.' ELSE '' END
       |      || source || '.com/' || lang || '/' || CAST(doc_id AS VARCHAR) AS url
       |  FROM documents
       |), h AS (
       |  SELECT doc_id, text,
       |    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host
       |  FROM u
       |), m AS (
       |  SELECT doc_id, regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
       |    CAST(length(text) AS DOUBLE) AS n_ch,
       |    CAST(len(list_filter(string_split(lower(text), ' '),
       |      x -> x IN $allMarkers)) AS DOUBLE) AS hits
       |  FROM h
       |), d2 AS (
       |  SELECT doc_id, domain,
       |    least(n_tok / 64.0, 1.0) AS len_score,
       |    n_ch / greatest(n_tok, 1.0) AS mean_word,
       |    least(hits / greatest(n_tok * 0.05, 1.0), 1.0) AS stop_score
       |  FROM m
       |), dd AS (
       |  SELECT doc_id, domain,
       |    CAST(floor((len_score * 0.4
       |      + (CASE WHEN mean_word >= 3 AND mean_word <= 10 THEN 1.0
       |              ELSE greatest(0.0, 1.0 - abs(mean_word - 6.5) / 10.0) END) * 0.3
       |      + stop_score * 0.3) * 1000000.0) AS BIGINT) AS q_micro
       |  FROM d2
       |)""".stripMargin
  }

  /** Shared adjacent-token-pair CTE for the bigram LM oracles: 1-based
    * list indexing, range(1, len) upper-exclusive, so docs with < 2
    * tokens emit no pairs — mirroring LangModel.bigramPairs' shifted
    * slices exactly.
    */
  private val bigramCte: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), bg AS (
      |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
      |  FROM (SELECT doc_id, toks,
      |          unnest(range(1, greatest(len(toks), 1))) AS i FROM t)
      |)""".stripMargin

  /** The bigram-LM scoring CTE chain (counts, marginals, vocabulary,
    * per-pair micro-nats, per-doc sums as `lmscore`) — shared by
    * q_lm_score and the CCNet-style bucket composition.
    */
  private val lmScoreCtes: String =
    """, c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
      |), c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY w1
      |), vc AS (
      |  SELECT count(DISTINCT tok) AS v
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |), lp AS (
      |  SELECT doc_id,
      |    CAST(floor(ln((c12 + 1.0) / (c1 + v)) * 1000000.0) AS BIGINT) AS lp_micro
      |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vc
      |), lmscore AS (
      |  SELECT doc_id, count(*) AS n_bigrams,
      |    CAST(sum(lp_micro) AS BIGINT) AS lp_micro_sum
      |  FROM lp GROUP BY doc_id
      |)""".stripMargin

  /** Discrete-quantile oracle over a documents-shaped relation: the
    * cumulative-count-over-distinct-values form Quantiles uses, with
    * the identical ceil(q*n) target.
    */
  private def quantileOracle(rel: String, qs: Seq[Double]): String = {
    // ::DOUBLE[] is load-bearing: bare DuckDB literals are DECIMAL, and
    // decimal ceil(0.9*500) = 450 while the engine's double math gives
    // ceil(450.00000000000006) = 451 — both sides must multiply doubles
    val qlist = qs.mkString("[", ", ", "]::DOUBLE[]")
    s"""WITH c AS (
       |  SELECT lang AS grp, n_chars AS v, count(*) AS c FROM $rel AS d GROUP BY 1, 2
       |), w AS (
       |  SELECT grp, v, c,
       |    sum(c) OVER (PARTITION BY grp ORDER BY v
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(c) OVER (PARTITION BY grp) AS n
       |  FROM c
       |), x AS (SELECT grp, v, cum, n, unnest($qlist) AS q FROM w)
       |SELECT grp AS lang, q, min(v) AS q_value
       |FROM x WHERE cum >= ceil(q * n) GROUP BY grp, q""".stripMargin
  }

  /** Winnow local-overlap candidate pairs in pure SQL (selection as
    * q_winnow -> distinct postings -> fp equi-join -> pairs sharing
    * >= 2 distinct fingerprints) — shared by q_winnow_pairs and, as a
    * nested CTE, by q_dup_centrality's edge set.
    */
  private val winnowPairsSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), h AS (
      |  SELECT doc_id,
      |    list_transform(range(1, greatest(len(toks) - 4 + 1, 0) + 1),
      |      i -> CAST('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 3), ' ')), 1, 15) AS BIGINT)) AS hs
      |  FROM t
      |), wins AS (
      |  SELECT doc_id, hs, unnest(range(0, greatest(len(hs) - 4, 0) + 1)) AS j
      |  FROM h WHERE len(hs) > 0
      |), sel AS (
      |  SELECT DISTINCT doc_id,
      |    list_min(list_slice(hs, j + 1, j + 4)) AS fp
      |  FROM wins
      |), pj AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.fp
      |  FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |)
      |SELECT id_a, id_b, count(DISTINCT fp) AS n_shared
      |FROM pj GROUP BY id_a, id_b
      |HAVING count(DISTINCT fp) >= 2""".stripMargin

  /** Fixed-iteration PageRank oracle tail: deg/nodes/base plus one
    * chained CTE per power iteration, replaying PageRank.pageRank's
    * normalized update r' = (1-d) + d*sum(r/deg) over a CTE `e(src,
    * dst)` the caller prepends. The base constant is rendered from the
    * SAME Scala double (1.0 - d) the engine folds, so both engines
    * iterate from bit-identical literals.
    */
  private def pagerankTail(iters: Int, d: Double): String = {
    val base = 1.0 - d
    val head =
      """, deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src
        |), nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e
        |), it0 AS (SELECT node, 1.0 AS r FROM nodes)""".stripMargin
    // per-edge contributions discretized to integer picounits before
    // the sum (PageRank.pageRank's order-immunity construction): the
    // aggregate is integer-exact, so summation order cannot nudge the
    // .12g-hashed doubles
    val steps = (1 to iters).map { k =>
      s""", it$k AS (
         |  SELECT n.node,
         |    CAST($base AS DOUBLE) + CAST($d AS DOUBLE) *
         |      (CAST(coalesce(s.m, 0) AS DOUBLE) / 1000000000000.0) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST(sum(CAST(floor(p.r / d.deg * 1000000000000.0) AS BIGINT)) AS BIGINT) AS m
         |    FROM e JOIN it${k - 1} p ON p.node = e.src
         |           JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) s ON s.node = n.node
         |)""".stripMargin
    }.mkString
    s"$head$steps\nSELECT node, r AS pr FROM it$iters"
  }

  /** Unrolled personalized-PageRank chain appended after an
    * `e(src, dst)` CTE — pageRank(seeds = ...)'s exact arithmetic:
    * restart mass (1-d) and the initial rank land only on nodes
    * satisfying `seedPred`; picounit contribution discipline verbatim
    * from pagerankTail.
    */
  private def pprTail(iters: Int, d: Double, seedPred: String): String = {
    val base = 1.0 - d
    val head =
      s""", deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src
         |), nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e
         |), it0 AS (
         |  SELECT n.node, CASE WHEN $seedPred THEN 1.0 ELSE 0.0 END AS r
         |  FROM nodes n
         |)""".stripMargin
    val steps = (1 to iters).map { k =>
      s""", it$k AS (
         |  SELECT n.node,
         |    CAST($base AS DOUBLE) *
         |      (CASE WHEN $seedPred THEN 1.0 ELSE 0.0 END) +
         |    CAST($d AS DOUBLE) *
         |      (CAST(coalesce(s.m, 0) AS DOUBLE) / 1000000000000.0) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST(sum(CAST(floor(p.r / d.deg * 1000000000000.0) AS BIGINT)) AS BIGINT) AS m
         |    FROM e JOIN it${k - 1} p ON p.node = e.src
         |           JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) s ON s.node = n.node
         |)""".stripMargin
    }.mkString
    s"$head$steps\nSELECT node, r AS pr FROM it$iters"
  }

  /** Unrolled synchronous label-propagation rounds appended after a
    * symmetric deduped self-loop-free `e0(src, dst)` CTE —
    * LabelProp.propagate's exact dynamics: integer neighbor-label
    * votes, argmax by (cnt DESC, label ASC).
    */
  private def lpaTail(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s""", v$r AS (
         |  SELECT e.src AS node, l.label, count(*) AS cnt
         |  FROM e0 e JOIN l${r - 1} l ON l.node = e.dst GROUP BY 1, 2
         |), l$r AS (
         |  SELECT node, label FROM (
         |    SELECT node, label, row_number() OVER (
         |      PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn FROM v$r
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString
    s""", l0 AS (SELECT DISTINCT src AS node, src AS label FROM e0)$steps
       |SELECT node, label FROM l$rounds""".stripMargin
  }

  /** Unrolled k-core peel appended after a symmetric deduped
    * `e0(src, dst)` CTE — KCore.kcore's exact rounds: degree filter,
    * then two-sided semi-join of the surviving node set.
    */
  private def kcoreTail(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s""", n$r AS (
         |  SELECT src AS node FROM e${r - 1} GROUP BY src HAVING count(*) >= $k
         |), e$r AS (
         |  SELECT e.src, e.dst FROM e${r - 1} e
         |  JOIN n$r a ON a.node = e.src
         |  JOIN n$r b ON b.node = e.dst
         |)""".stripMargin
    }.mkString
    s"$steps\nSELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM e$rounds GROUP BY src"
  }

  /** Unrolled HITS chain appended after an `e(src, dst)` CTE —
    * Hits.hits's exact arithmetic: per-edge contributions floored to
    * integer quantum units, integer-exact global normalizer, L1
    * division on bit-identical longs.
    */
  private def hitsTail(iters: Int): String = {
    val q = "1000000000000.0"
    val head =
      """, nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e
        |), h0 AS (SELECT node, 1.0 AS h FROM nodes)""".stripMargin
    val steps = (1 to iters).map { k =>
      s""", a${k}raw AS (
         |  SELECT e.dst AS node,
         |    CAST(sum(CAST(floor(p.h * $q) AS BIGINT)) AS BIGINT) AS m
         |  FROM e JOIN h${k - 1} p ON p.node = e.src GROUP BY e.dst
         |), a$k AS (
         |  SELECT r.node, CAST(r.m AS DOUBLE) / CAST(t.s AS DOUBLE) AS a
         |  FROM a${k}raw r CROSS JOIN
         |    (SELECT CAST(sum(m) AS BIGINT) AS s FROM a${k}raw) t
         |), h${k}raw AS (
         |  SELECT e.src AS node,
         |    CAST(sum(CAST(floor(p.a * $q) AS BIGINT)) AS BIGINT) AS m
         |  FROM e JOIN a$k p ON p.node = e.dst GROUP BY e.src
         |), h$k AS (
         |  SELECT r.node, CAST(r.m AS DOUBLE) / CAST(t.s AS DOUBLE) AS h
         |  FROM h${k}raw r CROSS JOIN
         |    (SELECT CAST(sum(m) AS BIGINT) AS s FROM h${k}raw) t
         |)""".stripMargin
    }.mkString
    s"""$head$steps
       |SELECT n.node, coalesce(hh.h, 0.0) AS hub, coalesce(aa.a, 0.0) AS auth
       |FROM nodes n
       |LEFT JOIN h$iters hh ON hh.node = n.node
       |LEFT JOIN a$iters aa ON aa.node = n.node""".stripMargin
  }
}
