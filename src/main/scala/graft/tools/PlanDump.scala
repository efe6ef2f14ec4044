package graft.tools

import graft.SparkEntry
import graft.fixtures.SpanGen
import graft.functions.GraftFunctions

import java.nio.file.{Files, Paths}

/** Dev tool: dump the formatted physical plans that matter (flagship
  * extraction + representative relational queries) into PLANS.md so plan
  * regressions are visible in review diffs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session("4")
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans (generated by graft.tools.PlanDump)\n")

    def dump(title: String, df: org.apache.spark.sql.DataFrame, note: String): Unit = {
      sb.append(s"\n## $title\n\n$note\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }

    // flagship: file-backed so ConvertToLocalRelation can't pre-evaluate
    val dir = Files.createTempDirectory("plandump").toString + "/docs"
    locally {
      import spark.implicits._
      spark.createDataset(SpanGen.genDocs(8, 1L).map(_._1)).toDF()
        .write.parquet(dir)
    }
    dump("Flagship extraction (extract_spans expression path)",
      GraftFunctions.extractDF(spark, spark.read.parquet(dir)),
      "One whole-stage-codegen Project over the scan; no exchange, no object round-trip.")

    dump("q_filter_word", SparkEntry.queries("q_filter_word")(spark, sf),
      "Predicate pushed to the parquet scan (PushedFilters), pruned ReadSchema.")
    dump("q_join_lookup", SparkEntry.queries("q_join_lookup")(spark, sf),
      "Dimension side broadcast: BroadcastHashJoin, no shuffle of the fact side.")
    dump("q_islands_union", SparkEntry.queries("q_islands_union")(spark, sf),
      "Gaps-and-islands: one hash exchange on user_id feeds both window functions and the final aggregation.")
    dump("q_dedup_minhash", SparkEntry.queries("q_dedup_minhash")(spark, sf),
      "MinHash+LSH: shingle explode, ONE partial-aggregating groupBy for all 64 mins, banded self-join on the serialized slice key, pair-keyed dedup. No cross join anywhere.")
    dump("q_dedup_simhash", SparkEntry.queries("q_dedup_simhash")(spark, sf),
      "simhash60 native expression inside the scan-side codegen stage; chunk explode + bucket-capped self-join; dedup keyed on the id pair only. At this tiny scale AQE broadcasts one side so the fingerprint subtree prints twice; beyond the broadcast threshold both sides are identical shuffle exchanges and Spark computes fingerprints ONCE (ReusedExchange, 1 scan) — pinned by PlanSpec.")
    dump("q_concat_agg", SparkEntry.queries("q_concat_agg")(spark, sf),
      "Ordered concat re-keyed per user: bounded per-group state, partial aggregation on the map side.")
    dump("q_multi_join", SparkEntry.queries("q_multi_join")(spark, sf),
      "Three-dimension star join: every dim side a BroadcastExchange, the customer fact side unshuffled until the final grouped aggregation (map-side partials first).")
    dump("q_html_strip", SparkEntry.queries("q_html_strip")(spark, sf),
      "html_main_content + posexplode in one codegen'd Generate over the scan; zero exchanges — embarrassingly parallel like the flagship.")
    dump("q_dedup_substring (passage-level exact-substring dedup)",
      SparkEntry.queries("q_dedup_substring")(spark, sf),
      "Window fingerprints are a record-local Generate (posexplode) in the scan stage — no UDF; anchor counting is ONE partial-aggregating groupBy on whash; the join-back is an equi-join on whash (no pairwise doc join anywhere); span merging is the islands pattern keyed on doc_id. Two bounded shuffles total, each keyed by a hash — the plan that survives boilerplate shared by millions of pages (hot anchors are capped and audited, q_dedup_substr_audit).")

    dump("q_bpe_tokens (corpus-trained BPE token counts)",
      SparkEntry.queries("q_bpe_tokens")(spark, sf),
      "The trained merge table rides into the bpe_count native expression as a literal; token counting stays inside the scan's whole-stage-codegen Project — zero exchanges, embarrassingly parallel like the flagship.")

    dump("q_feature_hash (hashing-trick featurization)",
      SparkEntry.queries("q_feature_hash")(spark, sf),
      "Explode + portable-hash bucketing inside the scan stage; the (doc_id, feat_idx) aggregation is satisfied by the doc_id spread partitioning (subset clustering), so the ONLY exchange is the deliberate spread — the op reads 100 TB exactly once.")

    dump("q_bloom_join (Bloom-pruned runtime-filter join)",
      SparkEntry.queries("q_bloom_join")(spark, sf),
      "The m-bit filter words ride into the probe-side Filter as an array literal (shiftleft/element_at membership test) BELOW the join: non-candidate probe rows die before any exchange; the join above removes the audited false positives. Output is byte-identical to the plain join (q_bloom_join oracle IS the plain join).")

    dump("LSH banding (candidate stage of q_dedup_cluster)",
      graft.dedup.Dedup.minhashCandidates(
        graft.dedup.Dedup.minhashSignatures(
          spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text", 3, 64),
        bands = 16, rowsPerBand = 4),
      "Pairs blocks the (id, band, band_hash) rows into one bare-id member list per bucket and expands each list record-locally; the 64-long signature arrays join back AFTER the per-pair aggregate — the banded shuffle payload is k x smaller than shipping signatures through it. (The connected-components rounds that follow are iterative joins; see Dedup.connectedComponents scaladoc.)")

    dump("q_url_dedup (URL canonicalization + dedup)",
      SparkEntry.queries("q_url_dedup")(spark, sf),
      "canonicalUrl is pure codegen'd regex/array columns in the scan stage; the dedup is ONE aggregation exchange on the canonical key — min_by over a struct buffer compiles to a SortAggregate pair (struct buffers aren't hash-aggregable), but the partial aggregate still runs map-side before the exchange and there is no self-join (join-free plan pinned in LineDedupSpec).")

    dump("q_line_dedup (line-level boilerplate strip)",
      SparkEntry.queries("q_line_dedup")(spark, sf),
      "Line explode + 60-bit line hash in the scan stage; frequency count is one partial-aggregating groupBy on the line hash (key space = distinct lines, not docs); the strip is a BROADCAST anti-join against the tiny frequent set; reconstruction is one groupBy per doc. Two keyed shuffles total.")

    dump("q_domain_cap (per-domain contribution cap)",
      SparkEntry.queries("q_domain_cap")(spark, sf),
      "ONE window, deliberately: Spark's rank-limit pushdown inserts a partial WindowGroupLimit BELOW the exchange, so each map task forwards at most cap rows per domain — a hot domain's reducer input is bounded by cap x map-tasks regardless of its size. A hand-rolled salted two-level formulation costs a second full exchange here for a tighter but unneeded bound (plan-gated in DomainCapSpec).")

    dump("q_span_diff (span-sequence regression diff)",
      SparkEntry.queries("q_span_diff")(spark, sf),
      "Positional full-outer SortMergeJoin on (doc_id, offset) — per-ROW state, a million-span doc never assembles in one task — feeding a map-side-combinable min/count aggregation per doc. The null-safe struct comparison stays inside codegen.")

    dump("q_table_types (column-type inference)",
      SparkEntry.queries("q_table_types")(spark, sf),
      "SINGLE pass over the typed-cell lineage: body and header counts fold into one partial-agg histogram keyed (doc, table, col, type); the majority window runs over that <= 6-rows-per-column histogram, never raw cells.")

    dump("q_overlap_join (two-interval-side overlap join)",
      SparkEntry.queries("q_overlap_join")(spark, sf),
      "Both sides have extent, so neither pointInInterval nor a broadcast-NL survives at scale: both sides explode to width-50 buckets, the join is a shuffled EQUI-join on the bucket, and pair dedup is the first-shared-bucket FILTER (floor(max(lo_a,lo_b)/w)) — a codegen'd predicate, never a distinct() second shuffle.")

    dump("q_rangejoin_rule (Catalyst rule rewrite of a raw theta join)",
      SparkEntry.queries("q_rangejoin_rule")(spark, sf),
      "The USER wrote `JOIN ON lo <= x AND x <= hi` with broadcasts off — untouched, that plans as a nested loop / cartesian. RangeJoinRule (injected, width conf set) rewrote it behind their back into the bucketed equi-join: note __graft_bucket_p / __graft_bucket_i and the original predicate re-applied as a post-filter.")

    dump("q_lexical_topk (sparse lexical retrieval)",
      SparkEntry.queries("q_lexical_topk")(spark, sf),
      "Inverted-index self-join on the term with a [2,100] df band bounding postings fan-out; per-pair scores are INTEGER micro-nat sums (map-side combinable); the final per-doc top-k window gets Spark's rank-limit pushdown (WindowGroupLimit below the exchange), so map tasks forward at most k rows per doc.")

    dump("q_interp_join (linear-interpolation join)",
      SparkEntry.queries("q_interp_join")(spark, sf),
      "Tag-union of series and query rows: ONE exchange on the key, one sort, then the backward (prev point) and forward (next point) ignore-nulls window passes share that sort; the interpolation is a codegen'd expression. No range join, no cross product — per-row O(1) window state.")

    dump("q_shard_moves (consistent-hash rebalance audit)",
      SparkEntry.queries("q_shard_moves")(spark, sf),
      "Both ring layouts collapse to one-row broadcast sorted arrays; ownership is a record-local array filter + head inside the scan-side codegen stage. The only exchange in the plan is the old/new assignment join on doc_id — the corpus is never shuffled for assignment itself.")

    dump("q_interval_lookup (custom stab-lookup physical operator)",
      SparkEntry.queries("q_interval_lookup")(spark, sf),
      "The stage-(c) custom operator: PointIntervalJoin (LogicalPlan + injected SparkStrategy + BinaryExecNode). The interval side is collected/sorted/broadcast once; each point row binary-searches (O(log m) + answers) — note there is NO BroadcastNestedLoopJoin and no explode in this plan, the two shapes it replaces.")

    dump("q_dsir_select (DSIR importance resampling)",
      SparkEntry.queries("q_dsir_select")(spark, sf),
      "One token-explode shuffle builds the per-(doc,bucket) counts; the 1024-row model derives from THAT frame (no second token pass) with corpus totals as a broadcast one-row cross join (no single-partition WindowExec); scoring is a BroadcastHashJoin back onto the counts; selection is TakeOrderedAndProject — per-partition top-100, driver merges 100-row heads, never a global sort.")

    dump("q_funnel_window (windowed funnel, fold form)",
      SparkEntry.queries("q_funnel_window")(spark, sf),
      "ONE groupBy(user) exchange (events pre-filtered to the 3 stage types at the scan); the conversion-window funnel folds record-locally over each user's time-sorted stage events with O(1) state — compare q_funnel's three aggregations + two joins for the unwindowed variant.")

    dump("q_ddsketch (mergeable quantile sketch)",
      SparkEntry.queries("q_ddsketch")(spark, sf),
      "Bucketing is a codegen'd integer expression in the scan stage; the histogram groupBy is map-side combinable (the sketch's mergeability IS the partial aggregate); the quantile read-back windows + broadcast spec join run over O(log(max/min)/alpha) rows per group, not over values.")

    dump("q_caption_assoc (figure-caption association)",
      SparkEntry.queries("q_caption_assoc")(spark, sf),
      "ONE per-doc window sort feeds all four first/last-ignore-nulls frames (next/prev text offset and text); the quadratic media x text min-join the oracle replays never appears — per-row O(1) running state.")

    dump("q_header_footer (per-source template strip)",
      SparkEntry.queries("q_header_footer")(spark, sf),
      "Line explode + per-doc count window share one doc-keyed exchange with the rebuild groupBy; template detection aggregates only edge lines (key space = distinct edge lines per source); the strip joins BROADCAST template sets — no third shuffle.")

    dump("q_bucketed_join (bucketed co-located join)",
      SparkEntry.queries("q_bucketed_join")(spark, sf),
      "The pre-paid shuffle: both sides bucket-written on doc_id, so the SortMergeJoin consumes the bucketed scans with ZERO exchanges — the layout that amortizes a recurring 100 TB join key across every later join (PlanSpec-gated).")

    dump("q_bfs_hops (multi-source BFS distances)",
      SparkEntry.queries("q_bfs_hops")(spark, sf),
      "Level-synchronous BFS: each round joins only the CURRENT frontier against the edges (AQE broadcasts the frontier while it is small) and anti-joins the visited set; per-round work is frontier out-degree, never O(V); rounds bounded up front by maxHops.")

    dump("q_span_merge (interleaved span-run normalization)",
      SparkEntry.queries("q_span_merge")(spark, sf),
      "Run detection (lag + running sum) and the per-run groupBy share the doc-keyed sort/exchange — one shuffle total; text assembles per-RUN, so a million-span doc never builds whole-doc state.")

    dump("q_cogroup_recon (typed cogroup reconciliation)",
      SparkEntry.queries("q_cogroup_recon")(spark, sf),
      "CoGroup: both sides exchange once onto user_id and meet in a single task per key — no join operator, no click x purchase product; the typed fold sorts each side's iterator in-task for determinism.")

    dump("q_salted_join (profile-driven skew-salted join)",
      SparkEntry.queries("q_salted_join")(spark, sf),
      "The hot-key mitigation: the per-key profile broadcasts onto both sides, left rows hash onto salt_factor sub-keys, the right side Generates one replica per sub-key — the join key is (k, __salt), so a hot key's rows land on factor tasks instead of one straggler. Output-identical to the plain join (the oracle IS the plain join).")

    dump("q_cdc_chunks (content-defined chunking)",
      SparkEntry.queries("q_cdc_chunks")(spark, sf),
      "Token posexplode is a record-local Generate in the scan stage; the 4-gram lag window and the per-chunk groupBy share ONE doc-keyed exchange; boundaries re-synchronize after an edit because they depend only on the local window.")

    dump("q_range_bounds (sampled range-partition bounds)",
      SparkEntry.queries("q_range_bounds")(spark, sf),
      "The RangePartitioner primitive, auditable: the unpartitioned ranking window sorts the SAMPLE only (single-partition warning is the documented bounded-small-side contract); the full input sees just the codegen'd hash filter and one BroadcastNestedLoopJoin against the one-row bounds array, then a map-side-combinable 8-key groupBy.")

    dump("q_kanon (k-anonymity ladder)",
      SparkEntry.queries("q_kanon")(spark, sf),
      "One map-side-combinable groupBy per ladder level (3 levels + a broadcast global count) joined back by shuffle equi-join — deliberately never a count-over-window, whose coarse-prefix partitions would funnel billions of rows through single tasks at 100 TB.")

    dump("q_triangles_degree (degree-oriented triangle enumeration)",
      SparkEntry.queries("q_triangles_degree")(spark, sf),
      "The hub-skew hardening: edges orient low-(degree,id) -> high via two degree equi-joins, then the SAME two-equi-join wedge/close shape as the id-oriented plan — but oriented out-degree is bounded by ~sqrt(m), so a hub key can never fan a quadratic wedge set into the first join. All equi-joins; no cartesian.")

    Files.writeString(Paths.get("/root/repo/PLANS.md"), sb.result())
    println("wrote /root/repo/PLANS.md")
    spark.stop()
  }
}
