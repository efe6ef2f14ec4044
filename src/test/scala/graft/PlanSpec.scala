package graft

import graft.fixtures.SpanGen
import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality gates: the physical plans we ship must keep the
  * properties that matter at 100 TB — pushdown reaching the scan,
  * pruned read schemas, broadcast where a side is small, whole-stage
  * codegen on relational hot paths, and no needless exchange in the
  * extraction pipeline.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-plan-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = TestData.Sf0001

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("filter pushdown reaches the parquet scan (P1)") {
    val p = plan("q_filter_word")
    assert(p.contains("PushedFilters") && p.contains("event_type"), p)
    assert(p.contains("IsNotNull(event_type)") || p.contains("EqualTo(event_type,click)"), p)
  }

  test("column pruning: the scan reads only projected columns (S1/P8)") {
    val p = plan("q_scan_project")
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_shipdate"), s"unpruned scan:\n$p")
    assert(!p.contains("l_returnflag"), s"unpruned scan:\n$p")
  }

  test("small-dimension joins broadcast (J1/J2)") {
    assert(plan("q_join_lookup").contains("BroadcastHashJoin"))
    assert(plan("q_containment_join").contains("BroadcastNestedLoopJoin"))
  }

  test("multi-way dim join: every dim side broadcasts, fact side never shuffles pre-agg") {
    val p = plan("q_multi_join")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 3, p.take(3000))
    // the only (non-broadcast) exchange is the final groupBy's
    val nonBroadcast = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
      .toVector
    assert(nonBroadcast.size <= 2, // supplier pre-agg + final agg
      s"fact side shuffled more than the aggregations need:\n${nonBroadcast.mkString("\n")}")
  }

  test("relational hot paths stay inside whole-stage codegen") {
    // WholeStageCodegenExec prints as "*(n) Op" in the plan tree
    for (q <- Seq("q_scan_project", "q_filter_word", "q_sha2", "q_text_tokens")) {
      val p = plan(q)
      assert(p.contains("WholeStageCodegen") || p.contains("*("),
        s"$q fell out of codegen:\n$p")
    }
  }

  test("extraction pipeline is scan -> project, no exchange, no object round-trip") {
    import spark.implicits._
    // must be a file-backed scan: over a LocalRelation, Catalyst's
    // ConvertToLocalRelation pre-evaluates the Project at optimization
    // time and the plan degenerates to LocalTableScan (which would make
    // this test vacuous)
    val dir = TempDirs("graft-plan") + "/docs"
    spark.createDataset(SpanGen.genDocs(4, 2L).map(_._1)).toDF()
      .write.parquet(dir)
    val p = GraftFunctions.extractDF(spark, spark.read.parquet(dir))
      .queryExecution.executedPlan.toString
    assert(p.contains("Scan parquet"), p)
    assert(!p.toLowerCase.contains("exchange"), p)
    assert(!p.contains("DeserializeToObject") && !p.contains("SerializeFromObject"), p)
    // extract_spans implements doGenCode (not CodegenFallback), so the
    // Project must be inside a whole-stage-codegen stage ("*(n)")
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"extraction Project fell out of codegen:\n$p")
  }

  test("simhash computes fingerprints once, with no self-join and no window") {
    // Beyond the broadcast regime the fingerprint subtree must run ONCE,
    // or the operator costs two full scans. The bucket blocks of
    // dedup.Pairs read the fingerprints once and expand pairs
    // record-locally: no self-join whose sides would need a reused
    // exchange, and no window count for the cap.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val p = graft.dedup.Dedup.simhashNearDups(s2,
      s2.read.parquet(s"$sf/documents.parquet"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), p.take(2000))
    assert("Scan parquet".r.findAllIn(p).length == 1, "fingerprints must be computed once")
  }

  test("lexical top-k: one pair aggregate mirrored in place; self-join reuses exchanges; rank limit pushed") {
    // The mirror explodes both orientations of each aggregated pair row,
    // so the term self-join + pair aggregation runs ONCE with no cache
    // (no InMemoryTableScan). The identical-column-set self-join sides
    // collapse onto ONE tf term-exchange and ONE df exchange
    // (ReusedExchange). Tokenization deliberately runs TWICE (tf and
    // df are different aggregates of the exploded stream; deriving df
    // as a count-over-term window would reuse the exchange but funnel
    // every hot stopword's postings into one window task — Zipf skew
    // kills that at 100 TB, a second map-side-combined scan does not).
    // Fixed scan budget: 2 tokenize + 1 one-column n_docs + 1
    // zero-column crossJoin count = 4. Also pin the top-k rank-limit
    // pushdown: a Partial WindowGroupLimit must bound map output at k
    // rows per doc below the final exchange.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val p = graft.corpus.LexicalSim.topKSimilar(
        s2.read.parquet(s"$sf/documents.parquet"), "doc_id", "text",
        k = 5, minDf = 2L, dfCap = 100L)
      .queryExecution.executedPlan.toString
    assert("partial_sum\\(".r.findAllIn(p).length == 1 &&
      "functions=\\[sum\\(".r.findAllIn(p).length == 1,
      s"the pair aggregate must run once:\n${p.take(3000)}")
    assert(!p.contains("InMemoryTableScan"), p.take(3000))
    assert("WindowGroupLimit".r.findAllIn(p).length == 2, "rank-limit pushdown lost")
    assert("ReusedExchange".r.findAllIn(p).length >= 2, p.take(3000))
    assert("Scan parquet".r.findAllIn(p).length == 4, "scan budget regressed")
  }

  test("as-of join: one keyed exchange + one window, no join operator at all") {
    val p = plan("q_asof_join")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "as-of must be the union+window composition, not a range join")
    val exchanges = p.linesIterator.filter(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange")).toVector
    assert(exchanges.size == 1 && exchanges.head.contains("hashpartitioning(user_id"),
      s"expected exactly one keyed exchange:\n${exchanges.mkString("\n")}")
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]"), p)
  }

  test("range join scale path stays an equi-join even with broadcasts off") {
    // the raw range predicate would plan a nested loop / cartesian when
    // neither side broadcasts; the bucketed construction must not
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val p = SparkEntry.queries("q_range_join")(s2, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"expected a shuffled equi-join on the bucket key:\n${p.take(2000)}")
  }

  test("interval-overlap join stays an equi-join even with broadcasts off") {
    // two interval sides: the raw overlap theta-predicate would plan a
    // nested loop / cartesian; the bucketed construction must not
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val p = SparkEntry.queries("q_overlap_join")(s2, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"expected a shuffled equi-join on the bucket key:\n${p.take(2000)}")
  }

  test("resume anti-join plans as a join, not a driver-side collect (S9)") {
    val p = plan("q_antijoin_resume")
    assert(p.contains("LeftAnti"), p)
  }

  test("html strip is a single codegen stage over the scan, zero exchanges") {
    val p = plan("q_html_strip")
    assert(p.contains("Scan parquet"), p)
    assert(!p.toLowerCase.contains("exchange"), p)
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p)
    // pruned read: only doc_id + text feed the template
    assert(!p.contains("n_chars") && !p.contains("source"), s"unpruned scan:\n$p")
  }

  test("sampling is a single-stage, zero-exchange scan") {
    val p = plan("q_sample_hash")
    assert(p.contains("Scan parquet"), p)
    assert(!p.toLowerCase.contains("exchange"), s"q_sample_hash grew a shuffle:\n$p")
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p)
  }

  test("quantization stays record-local: at most the placement spread, never an algorithmic shuffle") {
    // the quantize math itself is shuffle-free; an under-split scan may
    // carry ONE bySplits placement repartition (REPARTITION_BY_NUM) so
    // the HOFs don't evaluate inside a single scan task — elided at
    // production scan widths. Any ENSURE_REQUIREMENTS exchange here
    // would mean the operator grew a real shuffle.
    val p = plan("q_embed_quant")
    assert(p.contains("Scan parquet"), p)
    val exchanges = "(?i)exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"q_embed_quant grew extra shuffles:\n$p")
    assert(!p.contains("ENSURE_REQUIREMENTS"),
      s"q_embed_quant grew an algorithmic shuffle:\n$p")
    // q's FLOOR(x / scale + 0.5) is the quantize expression's own node
    spreadAbove("q_embed_quant", "FLOOR(")
  }

  test("corpus cleaning scores each doc once, above the spread") {
    // lenScore's `/ 64.0` is the quality score's own node
    spreadAbove("q_corpus_clean", "/ 64.0)")
  }

  /** The fenced record-local work of `name` runs once, above the spread:
    * no cache in the plan, ONE bySplits exchange (REPARTITION_BY_NUM),
    * `marker` (a node of the fenced expression) exactly once and above
    * that exchange, and no higher-order function evaluated under it —
    * a filter pushed below the spread would copy the expression there.
    */
  private def spreadAbove(name: String, marker: String): Unit = {
    val p = plan(name)
    assert(!p.contains("InMemoryTableScan") && !p.contains("InMemoryRelation"), p)
    val spread = p.indexOf("REPARTITION_BY_NUM")
    assert(spread >= 0 && spread == p.lastIndexOf("REPARTITION_BY_NUM"),
      s"$name: expected one spread exchange:\n$p")
    assert(p.split(java.util.regex.Pattern.quote(marker), -1).length == 2 &&
      p.indexOf(marker) < spread, s"$name: `$marker` not once above the spread:\n$p")
    assert(!p.substring(spread).contains("lambdafunction"),
      s"$name: work evaluated under the spread:\n$p")
  }

  test("substring dedup: hash-keyed joins only, no pairwise doc join anywhere") {
    // the operator's scale contract is linear-in-tokens: window
    // fingerprints -> anchor agg -> equi-join back -> islands. A
    // cartesian or nested-loop join appearing here would be the
    // quadratic all-pairs compare the design exists to avoid
    val p = plan("q_dedup_substring")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("NestedLoopJoin"), p.take(2000))
    assert(p.contains("whash"), p.take(2000))
  }

  test("decontamination: benchmark side broadcasts, corpus never shuffles") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"),
      p.take(2000))
    // the only hash exchange is the per-doc hit aggregation AFTER the
    // join (tiny hit set); corpus shingles reach the join map-side
    val exchanges = p.linesIterator
      .filter(l => l.trim.startsWith("Exchange hashpartitioning")).toVector
    assert(exchanges.forall(_.contains("doc_id")),
      s"unexpected exchange before the join:\n${exchanges.mkString("\n")}")
  }

  test("LSH band join shuffles bare keys; signatures re-attach after the pair distinct") {
    // the banded exchange must not carry the 64-long sig arrays — at
    // 10^9 docs that is k x the shuffle payload of the key-only design
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val sigs = graft.dedup.Dedup.minhashSignatures(
      s2.read.parquet(s"$sf/documents.parquet"), "doc_id", "text", 3, 64)
    val p = graft.dedup.Dedup.minhashCandidates(sigs, 16, 4)
      .queryExecution.executedPlan.toString
    val bandExchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning(band"))
      .toVector
    assert(bandExchanges.nonEmpty, p.take(2000))
    assert(bandExchanges.forall(!_.contains("sig")),
      s"sig arrays ride the banded shuffle:\n${bandExchanges.mkString("\n")}")
  }

  test("feature hashing: one deliberate spread, zero extra shuffles") {
    // the (doc_id, feat_idx) aggregation is satisfied by the doc_id
    // spread partitioning (subset clustering), so the only exchange is
    // Parallelize.bySplits' REPARTITION — the op scans 100 TB once
    val p = plan("q_feature_hash")
    val nonBroadcast = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
      .toVector
    assert(nonBroadcast.size == 1 && nonBroadcast.head.contains("REPARTITION"),
      s"expected only the spread exchange:\n${nonBroadcast.mkString("\n")}")
  }

  test("bloom join: membership filter sits on the probe side before the join") {
    val p = plan("q_bloom_join")
    // the pre-filter is the shiftleft/element_at membership test; it
    // must appear as a Filter, and a join must still do the exact work
    assert(p.contains("shiftleft"), s"no bloom membership filter:\n${p.take(2000)}")
    val filterIdx = p.indexOf("shiftleft")
    val joinIdx = math.max(p.indexOf("HashJoin"), p.indexOf("SortMergeJoin"))
    assert(joinIdx >= 0, s"no join operator:\n${p.take(2000)}")
    assert(filterIdx > joinIdx, // deeper in the tree = later in the string
      "bloom filter is not below the join in the plan tree")
  }

  test("LM scoring: equi-joins only, the sole nested-loop is the 1-row vocab broadcast") {
    val p = plan("q_lm_score")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1, p.take(2000))
  }

  test("z-order key and partition transforms are zero-exchange scan projections") {
    for (name <- Seq("q_zorder_key", "q_partition_transform")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name:\n${p.take(2000)}")
      // '*(n)' is executedPlan.toString's whole-stage-codegen marker
      assert(p.contains("*(1)"), s"$name:\n${p.take(2000)}")
    }
  }

  test("stats manifest: two keyed aggregation exchanges (exact-NDV dedup + file stats)") {
    val p = plan("q_stats_manifest")
    // exact count(distinct cat) costs one (file, cat)-keyed exchange to
    // dedup values before the (file)-keyed stats exchange — both
    // map-side-combined; the KMV swap documented in Manifest drops the
    // first at production NDV scale
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, p.take(2000))
    assert(p.contains("partial_"), p.take(2000)) // map-side partials
  }

  test("merge upsert plans as a keyed full-outer join, never a cartesian") {
    val p = plan("q_merge_upsert")
    assert(p.contains("FullOuter"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("q_bucketed_join: the driver query itself is exchange-free sort-merge") {
    try {
      // building the query performs the bucket writes (the pre-paid
      // shuffle), then plans the join over the bucketed scans
      val p = plan("q_bucketed_join")
      assert(p.contains("SortMergeJoin"), p.take(2000))
      assert(!p.contains("Exchange"), p.take(2000))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bj_left")
      spark.sql("DROP TABLE IF EXISTS graft_bj_right")
    }
  }

  test("bucketed tables co-locate the join: sort-merge with zero shuffle exchanges") {
    import org.apache.spark.sql.functions.col
    val dir = TempDirs("graft_bucket")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      // external data-source tables (explicit path): metadata lives in
      // the in-memory catalog, bytes under the temp dir — no warehouse
      // side effects
      docs.select(col("doc_id"), col("n_chars")).write
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", s"$dir/fact_b").saveAsTable("graft_fact_b")
      docs.select(col("doc_id"), col("lang")).write
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", s"$dir/dim_b").saveAsTable("graft_dim_b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_fact_b")
        .join(spark.table("graft_dim_b"), "doc_id")
      val p = j.queryExecution.executedPlan.toString
      // the 100 TB repeated-join layout: both sides pre-bucketed on the
      // key, so the sort-merge join runs with NO exchange at all
      assert(p.contains("SortMergeJoin"), p.take(2000))
      assert(!p.contains("Exchange"), p.take(2000))
      assert(j.count() == docs.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS graft_fact_b")
      spark.sql("DROP TABLE IF EXISTS graft_dim_b")
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // 95% of left rows share one key -> one shuffle partition dwarfs
      // the median and AQE must split it (the salting-free skew path).
      // The pad must be INCOMPRESSIBLE (md5 hex per row): skew stats
      // are lz4-compressed map-output sizes, and a constant pad
      // compresses below any threshold
      val md = java.security.MessageDigest.getInstance("MD5")
      def pad(i: Int): String =
        md.digest(i.toString.getBytes).map("%02x".format(_)).mkString * 3
      val left = (0 until 60000)
        .map(i => (if (i % 20 != 0) 7L else i.toLong, pad(i)))
        .toDF("k", "pad")
      val right = (0 until 2000).map(i => (i.toLong, i)).toDF("k", "v")
      val j = left.join(right, "k")
      // run THIS queryExecution (count() would plan a separate query
      // and leave j's adaptive plan unfinalized)
      val expected = j.collect().length
      val p = j.queryExecution.executedPlan.toString.toLowerCase
      assert(p.contains("isfinalplan=true"), p.take(500))
      assert(p.contains("skew=true") || p.contains("skewed"), p.take(3000))
      assert(expected == 57000 + 100) // 19/20 match k=7, 100 ids divisible by 20 under 2000
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("dynamic partition pruning fires on a partitioned fact x filtered dim join") {
    import org.apache.spark.sql.functions.col
    val dir = TempDirs("graft_dpp")
    spark.read.parquet(s"$sf/documents.parquet")
      .write.partitionBy("lang").mode("overwrite").parquet(s"$dir/fact")
    val fact = spark.read.parquet(s"$dir/fact")
    // the dim must be file-backed so the selective filter survives as
    // a real Filter node (a local Seq constant-folds it away and DPP
    // sees no selective predicate)
    spark.createDataFrame(
        Seq(("en", 1.0), ("de", 0.5), ("es", 0.2), ("fr", 0.1), ("zh", 0.9)))
      .toDF("lang", "w")
      .write.parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim")
      .filter(col("w") > 0.8) // selective dim predicate -> DPP candidate
    val q = fact.join(dim, "lang").groupBy(col("lang"))
      .agg(org.apache.spark.sql.functions.sum(col("n_chars")).as("tot"))
    val p = q.queryExecution.executedPlan.toString
    // the fact scan's partition filter must carry the runtime
    // dynamicpruning subquery — the 100 TB guarantee that a dim
    // filter skips fact partitions without reading them
    assert(p.toLowerCase.contains("dynamicpruning"), p.take(3000))
    // and the pruned result is still correct
    val langs = q.collect().map(_.getString(0)).toSet
    assert(langs == Set("en", "zh"))
  }
  test("degree-oriented triangles: equi-joins only, no cartesian or NLJ") {
    val p = plan("q_triangles_degree")
    // the hardening's whole point is that hub skew can't force a
    // quadratic join: every join in the plan must stay an equi-join
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      p.take(2000))
  }

}
