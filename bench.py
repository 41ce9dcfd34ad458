"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ..., ...}

Each query is forced end-to-end with the noop sink (full execution, no
driver collect).  The KG pipeline itself is benchmarked as
``pipeline_triples`` over a 3,000-file synthetic corpus (FIXTURES.md §1
bench size); files/sec + triples/sec for it are reported as extra keys.

The printed line is a COMPACT view capped under the driver's 2000-char
stdout tail; the full payload (per-rep walls, deltas vs the previous
round, pipeline throughput keys, timing_mode) is written alongside as
``BENCH_DETAIL.json`` and committed.

Scaling-efficiency evidence (paired local[2] vs local[8] invocations) lives
in bench/scaling.py — results recorded in BASELINE.md / BENCH_SCALING.json.

Round-over-round hygiene: if a previous round's BENCH_r{N}.json exists in
the repo root, per-query deltas vs the latest one are emitted under
``delta_vs_prev`` so regressions are self-reporting.
"""

from __future__ import annotations

import json
import os
import sys
import time

BENCH_QUERIES = [
    "q1_pricing_summary",
    "revenue_by_nation",
    "top_orders_by_revenue",
    "topk_per_group",
    "event_sessions",
    "events_hourly",
    "tf_terms",
    "tfidf_search",
    "cosine_tfidf_search",
    "doc_fingerprint",
    "simhash",
    "simhash_near_dups",
    "minhash_near_dup_pairs",
    "minhash_near_dup_pairs_fast",
    "ngram_jaccard_pairs",
    # near_dup_clusters / dedup_survivors are oracle-gated but NOT
    # benched: they force the
    # distributed CC loop on a toy edge set (local_threshold=0), so the
    # wall time is ~8 rounds of job-scheduling latency, not a scale
    # signal — distributed CC throughput is benched via pipeline_triples
    # and bench/scaling.py instead.
    "exact_dup_groups",
    "knn_bruteforce",
    "ann_lsh_topk",
    "ann_ivf_kmeans_topk",
    "nearest_centroid",
    "embedding_near_dups",
    "embedding_near_dups_lsh",
    "word_search_vec",
    "subword_highlight_spans",
    "kg_doc_mentions",
    "kg_doc_triples",
    "word_search",
    "mention_spans",
    "highlight_segments",
    "ansi_highlight_render",
    "numbered_list_parse",
    "doc_sentences",
    "mm_author_filter",
    "uaz_enrichment",
    "corpus_clean_stats",
    "minhash_incremental",
    "minhash_incremental_fast",
    "concept_pagerank",
    "pipeline_triples",
    # round-3 additions: corpus composition + training prep + graph
    "substring_dup_spans",
    "repetition_stats",
    "mixture_sample",
    "bm25_search",
    "decontamination",
    "pii_redact",
    "doc_logprob",
    "corpus_delta",
    "ann_sq8_topk",
    "triangle_count",
    # event-analytics + graph-consumer additions (cc_incremental is
    # oracle-gated but NOT benched for the same reason as
    # near_dup_clusters: it forces TWO distributed CC loops on a toy
    # edge set, so its wall is scheduling latency, not a scale signal)
    "asof_join",
    "interval_join",
    "funnel_counts",
    "kcore",
    "label_propagation",
    "rolling_7d",
    "sequence_pack",
    "sql_revenue_rollup",
    "hybrid_rrf",
    "length_percentile_filter",
    # round-3 third-session additions
    "semdedup_prune",
    "bfs_levels",
    "heavy_hitters",
    "cohort_retention",
    "dataset_split",
    "keyword_textrank",
    "kmv_distinct",
    "value_outliers",
    "ann_pq_topk",
    # round-3 fourth-session additions
    "bpe_merge_counts",
    "shard_manifest",
    "emb_decontamination",
    "winnow_fingerprints",
    "winnow_near_dup_pairs",
    # round-4 curation additions (Gopher repetition / DSIR / entropy / CCNet)
    "gopher_repetition",
    "dsir_importance",
    "token_entropy",
    "ccnet_ppl",
    "unimax_alloc",
    "curation_verdict",
    "segment_dedup",
    "cms_counts",
    "stratified_sample",
    "bloom_prefilter",
    # round-4 KG-consumer additions: the first one (kg_call_graph) pays
    # the checkpointed pipeline build once per JVM; the rest read the
    # materialized pred-partitioned triple table (the production shape).
    "kg_call_graph",
    "kg_api_fanin",
    "kg_unresolved_imports",
    "kg_xrepo_dup_defs",
    "kg_resolution_coverage",
    "kg_module_deps",
    "kg_dead_defs",
    # round-5: blast radius (3-hop reverse BFS over the call graph).
    # kg_import_cycles / kg_dep_layers are oracle-gated but NOT benched:
    # the registered queries condense the dependency graph to ~20 repos,
    # so their SCC-peel walls are rounds of job-scheduling latency, not
    # a scale signal (the near_dup_clusters rationale); the large-graph
    # SCC census is benched as call_scc in bench/codegraph_scaling.py.
    "kg_impact_radius",
]

PIPELINE_BENCH_FILES = 3000

# Iterative / many-stage queries pay a much larger one-time codegen JIT
# (each round is its own job with fresh codegen) and expose many small
# stages to this host's documented multi-minute vCPU-steal windows, so two
# reps can both land inflated (BENCH_r03 recorded triangle_count 23.8 s vs
# a 5.3 s same-code warm floor reproduced this round: 23.8/9.2/6.0/5.3/5.6
# over 5 reps in one JVM).  These get min-of-3; everything else min-of-2.
ITERATIVE_QUERIES = {
    "pipeline_triples",
    "triangle_count",
    "bfs_levels",
    "concept_pagerank",
    "kcore",
    "label_propagation",
    "keyword_textrank",
    "ann_ivf_kmeans_topk",
    "ann_pq_topk",
    "funnel_counts",
    "kg_impact_radius",
}


def _force(df) -> int:
    df.write.mode("overwrite").format("noop").save()
    return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # tmpfs shuffle dir (cluster analog: executor-local NVMe) — see session.py
    if os.path.isdir("/dev/shm") and "KGFORGE_LOCAL_DIR" not in os.environ:
        import tempfile

        os.environ["KGFORGE_LOCAL_DIR"] = tempfile.mkdtemp(prefix="kgbench_local_", dir="/dev/shm")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from kgforge import synth
    from kgforge.cachectl import release_caches
    from kgforge.operators import registry
    from kgforge.session import build_session
    import kgforge.operators as ops
    from kgforge.pipeline import run_pipeline
    import tempfile

    ops.load_all()
    spark = build_session("kgforge-bench", master=f"local[{cpus}]")

    # JVM/codegen warm-up (one small scan+agg+join), excluded from timings:
    # the first query otherwise absorbs all JIT/classloading cost and the
    # per-query numbers stop being comparable.
    from pyspark.sql import functions as F

    warm = spark.read.parquet(f"{sf_dir}/nation.parquet")
    warm.join(warm.selectExpr("n_nationkey as k"), warm.n_nationkey == F.col("k")).groupBy(
        "n_regionkey"
    ).count().write.mode("overwrite").format("noop").save()

    timings: dict[str, float] = {}
    walls_by_query: dict[str, list[float]] = {}
    extra: dict[str, float] = {}
    for name in BENCH_QUERIES:
        reps = 3 if name in ITERATIVE_QUERIES else 2
        walls: list[float] = []
        if name == "pipeline_triples":
            # input materialization is setup, not pipeline work — exclude
            # it from the timing (same methodology as bench/scaling.py);
            # run root lives on the tmpfs local dir (executor-NVMe analog)
            tmp_root = os.environ.get("KGFORGE_LOCAL_DIR")
            base = os.path.dirname(tmp_root) if tmp_root else None
            in_dir = tempfile.mkdtemp(prefix="kgbench_in_", dir=base)
            synth.synth_files_df(spark, PIPELINE_BENCH_FILES).write.mode("overwrite").parquet(
                in_dir
            )
            files = spark.read.parquet(in_dir)
            files.count()  # warm scan metadata
            # the first pipeline pass pays the codegen JIT for every stage
            # (measured 82.6 s cold vs 6.9 s warm at 3k files in one JVM);
            # each pass gets a fresh run root so all reps do full work.
            n_triples = 0
            for _ in range(reps):
                t1 = time.time()
                out = run_pipeline(
                    spark, files, tempfile.mkdtemp(prefix="kgbench_", dir=base)
                )
                n_triples = out["triples"].count()
                walls.append(time.time() - t1)
            dt = min(walls)
            extra["pipeline_files_per_sec"] = round(PIPELINE_BENCH_FILES / dt, 2)
            extra["pipeline_triples_per_sec"] = round(n_triples / dt, 2)
            extra["pipeline_n_triples"] = n_triples
        else:
            # min of N forced executions: the first pass pays the
            # per-query whole-stage-codegen JIT (a one-time cost a
            # long-lived cluster executor amortizes to zero — same
            # rationale as the suite-level warm-up above) and absorbs
            # this host's documented multi-minute steal windows; the
            # min is the comparable steady-state number.  The summed
            # first-pass walls are still reported (``cold_total``), and
            # every rep's wall is recorded in ``walls`` so a steal-window
            # hit is visible in the artifact itself rather than needing a
            # re-measure (BENCH_r03 lesson: three iterative queries
            # recorded 2-7x their same-code floors with no way to tell
            # steal from regression from the JSON alone).
            for i in range(reps):
                t1 = time.time()
                _force(registry.QUERIES[name](spark, sf_dir))
                walls.append(time.time() - t1)
                release_caches()
            dt = min(walls)
        extra["cold_total"] = round(extra.get("cold_total", 0.0) + walls[0], 3)
        timings[name] = round(dt, 3)
        walls_by_query[name] = [round(w, 3) for w in walls]
        # cache hygiene: builders register their caches with cachectl; a
        # long-lived session serving many queries must not accumulate them
        release_caches()

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        # methodology is recorded IN the artifact (round-3 advice): each
        # queries[name] is the min over len(walls[name]) executions in one
        # warm JVM (3 reps for ITERATIVE_QUERIES, else 2); cold_total sums
        # every first-pass wall.
        "timing_mode": "min_of_reps",
        "queries": timings,
        "walls": walls_by_query,
        "sf": sf,
        "cpus": int(cpus),
        **extra,
    }
    # stamp which round this detail belongs to, so next round's
    # delta_vs_prev can trust the sidecar without value-matching
    cur = os.environ.get("KGFORGE_BENCH_ROUND")
    if cur and cur.isdigit():
        payload["round"] = int(cur)
    else:
        committed = _bench_round_files()
        payload["round"] = (committed[0][0] + 1) if committed else 1
    prev = _latest_prev_round()
    if prev is not None:
        prev_name, prev_data = prev
        pq = prev_data.get("queries", {})
        payload["prev_round"] = prev_name
        payload["delta_vs_prev"] = {
            q: round(t - pq[q], 3) for q, t in timings.items() if q in pq
        }
        if isinstance(prev_data.get("value"), (int, float)):
            payload["delta_total_vs_prev"] = round(total - prev_data["value"], 3)

    # The driver keeps only the LAST 2000 chars of stdout and parses the
    # JSON line out of that tail — BENCH_r03's line (walls + per-query
    # deltas pushed it past 2000) was truncated mid-line and recorded as
    # parsed: null.  So: the FULL payload goes to BENCH_DETAIL.json (a
    # committed sidecar), and the printed line carries only the contract
    # keys, hard-capped under the tail window.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_DETAIL.json"), "w") as fh:
        json.dump(payload, fh, indent=1)
    compact = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "queries": {q: round(t, 2) for q, t in timings.items()},
        "sf": sf,
        "cpus": int(cpus),
        "timing_mode": payload["timing_mode"],
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(compact)
    if len(line) > 1870:  # belt-and-braces: never outgrow the tail window
        compact.pop("timing_mode", None)
        compact.pop("detail", None)
        compact["queries"] = {q: round(t, 1) for q, t in timings.items()}
        line = json.dumps(compact, separators=(",", ":"))
    # The query list grows every round; guarantee the cap by shedding the
    # cheapest walls (full per-query payload is in BENCH_DETAIL.json).
    while len(line) > 1870 and compact["queries"]:
        drop = min(compact["queries"], key=compact["queries"].get)
        del compact["queries"][drop]
        compact["queries_omitted"] = compact.get("queries_omitted", 0) + 1
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


def _bench_round_files():
    """[(round, path)] of committed BENCH_r{N}.json artifacts, strictly
    below $KGFORGE_BENCH_ROUND when set, so a re-run inside round N never
    computes all-zero deltas against the round's own committed artifact."""
    import glob
    import re

    cur = os.environ.get("KGFORGE_BENCH_ROUND")
    cur_n = int(cur) if cur and cur.isdigit() else None
    rounds = []
    for p in glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if not m:
            continue
        n = int(m.group(1))
        if cur_n is not None and n >= cur_n:
            continue
        rounds.append((n, p))
    return sorted(rounds, reverse=True)


def _latest_prev_round():
    """(name, parsed json) of the previous round's bench payload.

    Preference order (round-4 judge finding: the driver tail of
    BENCH_r03 was truncated -> parsed: null -> r04's deltas silently
    compared against r02):

    1. the committed ``BENCH_DETAIL.json`` sidecar — the FULL payload
       bench.py itself wrote last round, immune to the driver's
       2000-char stdout tail.  Its round is the ``round`` stamp (written
       since r05), else recovered by matching its total against the
       BENCH_r{N} artifacts' parsed/tail values.
    2. the highest-numbered BENCH_r{N}.json whose driver tail parsed to
       a usable queries dict (the pre-r05 behavior).
    """
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = _bench_round_files()
    detail_path = os.path.join(here, "BENCH_DETAIL.json")
    try:
        with open(detail_path) as f:
            detail = json.load(f)
    except (OSError, json.JSONDecodeError):
        detail = None
    if isinstance(detail, dict) and isinstance(detail.get("queries"), dict) and detail["queries"]:
        d_round = detail.get("round")
        if d_round is None and isinstance(detail.get("value"), (int, float)):
            # pre-stamp detail: recover its round by total-seconds match
            for n, path in rounds:
                try:
                    with open(path) as f:
                        data = json.load(f)
                except (OSError, json.JSONDecodeError):
                    continue
                parsed = data.get("parsed") if "queries" not in data else data
                val = parsed.get("value") if isinstance(parsed, dict) else None
                if val is None:
                    val_str = f"\"value\":{detail['value']}"
                    if val_str in data.get("tail", ""):
                        d_round = n
                        break
                elif isinstance(val, (int, float)) and abs(val - detail["value"]) < 1e-6:
                    d_round = n
                    break
        # only usable when it demonstrably belongs to a PRIOR round
        if d_round is not None and (not rounds or d_round in {n for n, _ in rounds} or d_round <= rounds[0][0]):
            return f"BENCH_r{d_round:02d}/BENCH_DETAIL", detail
    # fallback: newest driver tail with a usable queries dict (r03's
    # line outgrew the driver's 2000-char stdout tail -> parsed: null)
    for _, path in rounds:
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        # the driver wraps the emitted JSON line under "parsed"
        if "queries" not in data and isinstance(data.get("parsed"), dict):
            data = data["parsed"]
        if isinstance(data.get("queries"), dict) and data["queries"]:
            return os.path.basename(path), data
    return None


if __name__ == "__main__":
    sys.exit(main())
