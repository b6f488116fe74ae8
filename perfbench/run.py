"""End-to-end benchmark of the system as deployed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see README.md for the layers each exercises and bypasses):

- `etl_refresh`      the reference DAG on the runner, then the snapshot publish
- `corpus_dedup`     the pairwise-join / text curation queries, `noop` sink
- `api_reads`        closed-loop HTTP reads over a published snapshot
- `api_reads_ingest` the same reads beside open-loop index appends

The first run in a checkout writes the input tables and caches the
expected answers under `.bench_build/perfbench/`. Every run starts its own
Spark session and sets up (on the api workloads, warm-up reads checked
like timed ones). It then measures: the batch workloads one pass, the
first of the fresh session; the api workloads `--seconds` of reads. It
checks every output, stops Spark, and prints one JSON line as its last
line of output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones, read from Spark's in-process status stores and from
spans the benchmark records around its calls into each layer.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    BUILD_DIR,
    DATA_DIR,
    EXPECTED_CACHE,
    ROOT,
    RUNS_DIR,
    configure_env,
    cpu_ticks,
)

TICKS_START = cpu_ticks()

WORKLOADS = ["etl_refresh", "corpus_dedup", "api_reads", "api_reads_ingest"]

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "op_cpu_s": "s",
}
SPARK_LAYERS = [
    "op.p95_ms",
    "session.start_s",
    "mem.jvm_peak_rss_mb",
    "mem.jvm_live_heap_mb",
    "spark.exec_cpu_s",
    "spark.gc_s",
    "spark.cpu_util",
    "trace.op_p50_ms",
]


def per_layer_names() -> list[str]:
    from perfbench import api, corpus, etl

    names = SPARK_LAYERS + etl.LAYER_METRICS + corpus.LAYER_METRICS + api.LAYER_METRICS
    return list(dict.fromkeys(names))


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("overlap", "yield", "cpu_util")):
        return "ratio"
    return "count"


class Window:
    """The measured region: from its creation to `close()`, with the
    status-store work done inside it when tracing."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.t0 = time.perf_counter()
        self.mark = ctx.store.mark() if ctx.store else None
        self.wall: float | None = None
        self.record = None

    def close(self) -> float:
        if self.wall is None:
            self.wall = time.perf_counter() - self.t0
            if self.mark is not None:
                self.record = self.ctx.store.since(self.mark)
        return self.wall


class Context:
    def __init__(self, args, scratch: str, data_digest: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.scratch = scratch
        self.data_dir = DATA_DIR
        self.data_digest = data_digest
        self.expected_cache = EXPECTED_CACHE
        self.store = None
        self.build_s = 0.0
        self.setup_end: float | None = None
        self.measured: Window | None = None

    @contextlib.contextmanager
    def building(self):
        """One-time work cached in the checkout (first run only); its time
        is kept out of `setup_s`."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.build_s += time.perf_counter() - t

    def setup_done(self) -> None:
        self.setup_end = time.perf_counter()

    def window(self) -> Window:
        self.measured = Window(self)
        return self.measured

    @staticmethod
    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)


def run(args) -> dict:
    from perfbench.data import ensure_tables

    from perfbench import api, common, corpus, etl

    t_build = time.perf_counter()
    digest = ensure_tables(DATA_DIR)  # written once per checkout
    scratch = os.path.join(BUILD_DIR, "tmp", f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    configure_env(scratch)
    os.chdir(scratch)
    if args.workload.startswith("api"):
        api.ensure_snapshot(digest)  # published once per data and code version
    prebuild_s = time.perf_counter() - t_build
    ctx = Context(args, scratch, digest)

    t = time.perf_counter()
    spark = common.start_spark()
    session_s = time.perf_counter() - t
    try:
        pid = common.jvm_pid(spark)
        if ctx.trace:
            from perfbench.statusstore import StatusStore

            ctx.store = StatusStore(spark)
        if args.workload == "etl_refresh":
            res = etl.run(spark, ctx)
        elif args.workload == "corpus_dedup":
            res = corpus.run(spark, ctx)
        else:
            res = api.run(spark, ctx, ingest=args.workload == "api_reads_ingest")
        window = ctx.measured
        window.close()
        stamp = common.context_stamp(spark, TICKS_START)
        rss = common.peak_rss_mb(pid)
        live = common.jvm_live_heap_mb(spark)
    finally:
        common.stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(scratch, ignore_errors=True)

    ops = res["ops_ms"]
    if not ops:
        raise RuntimeError("no operation completed inside the window")
    # set-up excludes the one-time build (first run in a checkout)
    build_s = prebuild_s + ctx.build_s
    setup_s = ctx.setup_end - PROCESS_START - build_s
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": common.median(ops),
        "ops_per_s": len(ops) / res["busy_s"],
        "op_cpu_s": res["cpu_s"] / len(ops),
    }
    layers = {name: 0.0 for name in per_layer_names()}
    layers.update(res["layers"])
    layers["session.start_s"] = session_s
    layers["mem.jvm_peak_rss_mb"] = rss
    layers["mem.jvm_live_heap_mb"] = live
    layers["trace.op_p50_ms"] = e2e["op_p50_ms"]
    layers["op.p95_ms"] = common.percentile(ops, 95)
    if window.record is not None:
        rec = window.record
        layers["spark.exec_cpu_s"] = rec.executor_cpu_s / len(ops)
        layers["spark.gc_s"] = rec.gc_s / len(ops)
        layers["spark.cpu_util"] = rec.executor_run_s / (window.wall * stamp["cores"])
    return {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "context": {**stamp, "build_s": round(build_s, 3), "ops": len(ops),
                    "jvm_peak_rss_mb": round(rss, 1), "jvm_live_heap_mb": round(live, 1)},
        "attempted": res["attempted"],
        "failed": res["failed"],
        "end_to_end": e2e,
        "per_layer": layers,
        "ops_ms": [round(x, 1) for x in ops],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "australian_company_etl_spark", "__init__.py")):
        print(f"perfbench: no australian_company_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    try:
        record = run(args)
    except Exception:  # noqa: BLE001 — a failed run prints no result
        traceback.print_exc()
        return 1
    os.makedirs(RUNS_DIR, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(RUNS_DIR, name), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(json.dumps(record["context"]), file=sys.stderr)

    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in record["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in record["end_to_end"].items()}
    result = {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
