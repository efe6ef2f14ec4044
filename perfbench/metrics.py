"""Workloads and metrics of the benchmark, and the result it prints.

`BENCHMARK.json` at the root of the repository lists the same names; the
benchmark's tests hold the two equal.
"""

WORKLOADS = ("extract_fresh", "extract_resume")

# (name, unit, better): reported with --trace 0, on every workload
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("job_s", "s", "lower"),
    ("docs_per_s", "docs/s", "higher"),
    ("out_bytes_per_doc", "B/doc", "lower"),
)

# reported in the line before the result but not gated: zero when
# correct, or (rss_peak_mb) too unsteady from run to run for a bound
REPORTED = (
    ("rss_peak_mb", "MB"),
    ("span_mismatch_docs", "docs"),
    ("error_docs", "docs"),
)

CORPUS_QUERIES = (
    "q_bitext_candidates", "q_cluster_canonical", "q_clustering_coeff",
    "q_corpus_clean", "q_dedup_cluster_auto", "q_dedup_minhash", "q_dedup_ngram",
    "q_embed_quant", "q_interleave_profile", "q_interp_join", "q_semantic_dedup",
)

_SPARK = (("task_cpu_s", "s"), ("gc_s", "s"), ("shuffle_write_bytes", "B"),
          ("spill_bytes", "B"), ("task_skew", "ratio"))

# (name, unit, better): measured by every traced run
EXTRACT_LAYERS = (
    [("scan.s", "s", "lower"),
     ("lineage.completed_read.s", "s", "lower"),
     ("lineage.prune.s", "s", "lower"),
     ("lineage.pending_docs", "count", "lower"),
     ("extract.s", "s", "lower"),
     ("lineage.commit.s", "s", "lower"),
     ("functions.extract_spans.s", "s", "lower")]
    + [(f"{layer}.{m}", unit, "lower")
       for layer in ("scan", "lineage.prune", "extract", "lineage.commit")
       for m, unit in _SPARK]
    + [("extract.doc_us", "us", "lower"),
       ("geom.to_table_us", "us", "lower"),
       ("decode.word_box_ns", "ns", "lower"),
       ("html.strip_us", "us", "lower"),
       ("extract.parallel_eff", "ratio", "higher"),
       ("trace.overhead_s", "s", "lower")]
)

# (name, unit, better): measured by every traced run, after the extraction layers
CORPUS_LAYERS = tuple(
    (f"{q}.{m}", unit, "lower")
    for q in CORPUS_QUERIES
    for m, unit in (("s", "s"), ("task_cpu_s", "s"), ("shuffle_bytes", "B"),
                    ("spill_bytes", "B"), ("jobs", "count"), ("smj", "count"),
                    ("cache_left", "count"))
)

PER_LAYER = tuple(EXTRACT_LAYERS) + tuple(CORPUS_LAYERS)


def report(r, traced):
    """The result line's fields from the benchmark JVM's result `r` (with
    the oracle check's failures already added)."""
    attempted, failed = r["attempted"], r["failed"]
    e2e = {name: {"value": r[name], "unit": unit} for name, unit, _ in END_TO_END}
    e2e.update({name: {"value": r[name], "unit": unit} for name, unit in REPORTED})
    e2e["failed_ops"] = {"value": failed / attempted, "unit": "share"}
    correct = failed == 0 and r["span_mismatch_docs"] == 0 and r["error_docs"] == 0
    if traced:
        missing = [name for name, _, _ in PER_LAYER if name not in r["layers"]]
        if missing:
            raise ValueError(f"traced run did not measure {', '.join(missing)}")
        chosen = {name: {"value": r["layers"][name], "unit": unit}
                  for name, unit, _ in PER_LAYER}
    else:
        chosen = {name: e2e[name] for name, _, _ in END_TO_END}
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": chosen, "end_to_end": e2e}
