"""Workload `corpus_dedup`: the LLM-data curation path.

One pass runs the fixed list of pairwise-join and text queries below, in
that order, and collects each result so that the timed pass's own output
is checked: its order-insensitive digest must equal the query's DuckDB
twin. The results are small (at most about a
thousand rows), so the collect adds little beyond the `noop` sink
`bench.py` uses. There is no warm-up pass: a curation job runs in a fresh
session, so its first pass pays JIT, code generation and Python-worker
start-up. A run measures exactly that one pass (about 25 s on a 4-core
host); `--seconds` does not lengthen it.
"""

from __future__ import annotations

import time

from perfbench import expected
from perfbench.common import system_cpu_s

QUERIES = [
    "dedup_minhash_lsh",
    "dedup_setsim_prefix",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "knn_graph_lsh",
    "ann_lsh_multiprobe",
    "text_fingerprint",
    "curate_corpus",
]
#: queries whose public `*_candidate_stats` count the candidate pairs
CANDIDATE_STATS = {
    "dedup_minhash_lsh": ("australian_company_etl_spark.plans.dedup", "minhash_candidate_stats"),
    "dedup_setsim_prefix": ("australian_company_etl_spark.plans.dedup", "setsim_candidate_stats"),
    "knn_graph_lsh": ("australian_company_etl_spark.plans.similarity", "knn_candidate_stats"),
}
PER_QUERY = ["_s", ".exec_cpu_s", ".gc_s", ".shuffle_mb", ".spill_mb", ".python_s"]
PER_CANDIDATE = [".cand_pairs", ".out_rows", ".yield"]

LAYER_METRICS = [f"q.{q}{m}" for q in QUERIES for m in PER_QUERY] + [
    f"q.{q}{m}" for q in CANDIDATE_STATS for m in PER_CANDIDATE
]


def run(spark, ctx) -> dict:
    from australian_company_etl_spark.plans import all_queries

    plans = all_queries()
    with ctx.building():
        want = expected.oracle_digests(ctx.data_dir, ctx.data_digest, QUERIES, ctx.expected_cache)
    # one pass, and no warm-up: a curation job runs in a fresh session, so
    # its first pass pays JIT, code generation and Python-worker start the
    # way a job does; a second pass in the same session would time
    # something else
    ctx.setup_done()

    layers: dict[str, float] = {}
    out_rows: dict[str, int] = {}
    cpu_s = pass_s = 0.0
    failed = 0
    ctx.window()
    for name in QUERIES:
        mark = ctx.store.mark() if ctx.trace else None
        cpu0 = system_cpu_s()
        t = time.perf_counter()
        df = plans[name](spark, ctx.data_dir)
        rows = df.collect()
        dt = time.perf_counter() - t
        cpu_s += system_cpu_s() - cpu0
        pass_s += dt
        out_rows[name] = len(rows)
        if expected.rows_digest(df.columns, [tuple(r) for r in rows]) != want[name]:
            failed += 1
            ctx.log(f"corpus_dedup: {name} differs from its DuckDB twin")
        if ctx.trace:
            rec = ctx.store.since(mark)
            layers[f"q.{name}_s"] = dt
            layers[f"q.{name}.exec_cpu_s"] = rec.executor_cpu_s
            layers[f"q.{name}.gc_s"] = rec.gc_s
            layers[f"q.{name}.shuffle_mb"] = rec.shuffle_mb
            layers[f"q.{name}.spill_mb"] = rec.spill_mb
            layers[f"q.{name}.python_s"] = rec.python_s
    ctx.measured.close()  # the candidate counts below are not part of the pass
    if ctx.trace:
        import importlib

        for name, (module, fn) in CANDIDATE_STATS.items():
            cand = getattr(importlib.import_module(module), fn)(spark, ctx.data_dir)["cand_pairs"]
            layers[f"q.{name}.cand_pairs"] = float(cand)
            layers[f"q.{name}.out_rows"] = float(out_rows[name])
            layers[f"q.{name}.yield"] = out_rows[name] / cand if cand else 0.0
    return {
        "ops_ms": [pass_s * 1e3],
        "busy_s": pass_s,
        "cpu_s": cpu_s,
        "attempted": len(QUERIES),
        "failed": failed,
        "layers": layers,
    }
