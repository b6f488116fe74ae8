"""Workloads `api_reads` and `api_reads_ingest`: the lookup service.

The serving snapshot is published (`snapshot_tables`) once per checkout
and code version: it is cached under a key of the input data and every
source file of the package, so a change to the code publishes it again.
The publish is one-time build work, kept out of `setup_s`; its cost is
measured by `etl_refresh`. Each run copies the snapshot into its own
scratch directory, checks its row counts against the source tables,
starts the HTTP server (`make_server`) over the copy in this process, and
runs the timed mix (and, on `api_reads_ingest`, the appends) for
WARMUP_S, checked like the timed requests. Three client threads in a
separate load-generator process (`loadgen.py`) then send a seeded
request mix in a closed loop, in interleaved blocks of 20 that hold the
mix's proportions:

    40% /companies/{key}        Zipf-skewed keys; one in 8 absent (404 is correct)
    15% /companies/by_state     a nation name
    15% /companies/search       a part-name word
    10% /companies?after=&limit= keyset page
    10% /search                 two corpus terms, top-20
    10% /fuzzy                  a misspelled part name, top-10

Every response is checked against the route's DuckDB twin over the
snapshot. `api_reads_ingest` adds an appender thread in the server
process: on a fixed schedule (open loop) it appends a seeded batch of new
documents through `append_documents_to_index`, and each batch's lateness
is measured from its due time. There, `/search` answers race the appends,
so during the window they are checked for status and score order only;
after it, `/health`'s `n_docs` must have grown by exactly the appended
documents and a final `/search` set must equal DuckDB over the snapshot
plus every appended document.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

from perfbench import data, expected
from perfbench.common import BUILD_DIR, PACKAGE_DIR, PERFBENCH_DIR, median, system_cpu_s

ROUTES = ["key", "state", "search", "page", "fulltext", "fuzzy"]
#: one block of the mix (40/15/15/10/10/10%), interleaved so that every
#: run of consecutive requests holds close to the mix's proportions: a
#: window completes only a few dozen requests, and a random draw of routes
#: would make its composition, and so its latency, vary from seed to seed
#: (`miss` is a `/companies/{key}` lookup of an absent key: a fixed 1 in
#: 8 of the key lookups, 5% of all reads)
MIX_BLOCK = (
    "key state key search key page key fulltext state miss "
    "search key fuzzy key state search key page fulltext fuzzy"
).split()
CLIENTS = 3
REQUESTS_PER_CLIENT = 2000
ABSENT_KEYS = 150
#: Zipf exponent of key popularity: Breslau et al., "Web Caching and
#: Zipf-like Distributions: Evidence and Implications" (INFOCOM 1999),
#: fit 0.64-0.83 over six web-proxy request traces
ZIPF_S = 0.8
SEARCH_WORDS = data.PART_ADJ + data.PART_NOUN + ["wid", "ol", "ing", "e"]
APPEND_DOCS = 100
APPEND_EVERY_S = 5.0
APPEND_FIRST_S = 0.5
WARMUP_S = 10.0
PROBES_PER_ROUTE = 2
FINAL_SEARCHES = 3

LAYER_METRICS = (
    [f"route.{r}.{m}" for r in ROUTES for m in ("p50_ms", "jobs", "plan_ms")]
    + ["append.batch_s", "append.late_p50_s", "append.files_added", "index.files_end"]
)


def _misspell(rng: random.Random, text: str) -> str:
    i = rng.randrange(len(text))
    if text[i] == " ":
        return text
    return text[:i] + rng.choice("abcdefghijklmnopqrstuvwxyz") + text[i + 1 :]


class RequestStream:
    """The seeded request mix: (route, path, params) triples."""

    def __init__(self, seed: int, n_customers: int):
        self.rng = random.Random(seed)
        keys = list(range(n_customers))
        self.rng.shuffle(keys)
        self.keys = keys
        self.key_weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(keys))]
        self.n_customers = n_customers

    def client_requests(self, n: int) -> list[tuple[str, str, dict]]:
        """``n`` requests for one client: MIX_BLOCK repeated from a seeded
        starting offset, each request with seeded parameters."""
        start = self.rng.randrange(len(MIX_BLOCK))
        return [self.one(MIX_BLOCK[(start + i) % len(MIX_BLOCK)]) for i in range(n)]

    def one(self, route: str) -> tuple[str, str, dict]:
        rng = self.rng
        if route in ("key", "miss"):
            if route == "key":
                key = rng.choices(self.keys, self.key_weights)[0]
            else:
                key = self.n_customers + rng.randrange(ABSENT_KEYS)
            return "key", f"/companies/{key}", {"key": key}
        if route == "state":
            state = f"NATION_{rng.randrange(data.N_NATIONS)}"
            return route, f"/companies/by_state?state={state}", {"state": state, "limit": 1000}
        if route == "search":
            q = rng.choice(SEARCH_WORDS)
            path = "/companies/search?" + urllib.parse.urlencode({"q": q})
            return route, path, {"q": q, "limit": 1000}
        if route == "page":
            after = rng.randrange(-1, self.n_customers)
            return route, f"/companies?after={after}&limit=25", {"after": after, "limit": 25}
        if route == "fulltext":
            q = " ".join(rng.sample(data.VOCAB, 2))
            return route, "/search?" + urllib.parse.urlencode({"q": q, "k": 20}), {"q": q, "k": 20}
        q = _misspell(rng, f"{rng.choice(data.PART_ADJ)} {rng.choice(data.PART_NOUN)}")
        return route, "/fuzzy?" + urllib.parse.urlencode({"q": q, "k": 10}), {"q": q, "k": 10}


def _get(port: int, path: str) -> tuple[int, dict]:
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


def _load(port: int, per_client: list, seconds: float, scratch: str) -> list:
    """Run the load generator over ``per_client`` request lists for
    ``seconds``; returns [client, index, route, status, latency_ms, body]
    per completed request."""
    req_file = os.path.join(scratch, "requests.json")
    out_file = os.path.join(scratch, "responses.json")
    with open(req_file, "w") as f:
        json.dump([[[r, p] for r, p, _ in reqs] for reqs in per_client], f)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(PERFBENCH_DIR, "loadgen.py"), "--port", str(port),
         "--requests", req_file, "--seconds", str(seconds), "--out", out_file]
    )
    try:
        proc.wait(timeout=seconds + 150)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"load generator exited with {proc.returncode}")
    with open(out_file) as f:
        records = json.load(f)
    for r in records:
        r[5] = json.loads(r[5]) if r[5] else {}
    return records


def _ranked(status: int, body: dict) -> bool:
    """A `/search` answer that raced an append: served, and in score order."""
    scores = [r["score_micro"] for r in body.get("rows", [])]
    return status == 200 and scores == sorted(scores, reverse=True)


def _files(path: str) -> int:
    return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))


class Appender(threading.Thread):
    """Open-loop ingest: batch i is due at APPEND_FIRST_S + i·APPEND_EVERY_S
    after the thread starts, for batches due within ``seconds``; a batch
    that starts late because the previous one overran counts that wait in
    its lateness."""

    def __init__(self, spark, snap_dir: str, seed: int, seconds: float, first_id: int):
        super().__init__(daemon=True)
        self.seconds = seconds
        self.spark, self.snap_dir = spark, snap_dir
        n = 0
        while APPEND_FIRST_S + n * APPEND_EVERY_S < seconds:
            n += 1
        self.batches = [
            data.document_rows(random.Random(seed * 1000 + i), first_id + i * APPEND_DOCS, APPEND_DOCS)
            for i in range(n)
        ]
        self.results: list[dict] = []
        self.error: Exception | None = None

    def run(self) -> None:
        from australian_company_etl_spark.serving.http_api import append_documents_to_index

        schema = "doc_id long, text string, lang string, source string, n_chars long"
        cols = [f.name for f in data.DOC_SCHEMA]
        t0 = time.perf_counter()
        try:
            for i, rows in enumerate(self.batches):
                due = t0 + APPEND_FIRST_S + i * APPEND_EVERY_S
                time.sleep(max(0.0, due - time.perf_counter()))
                start = time.perf_counter()
                df = self.spark.createDataFrame([tuple(r[c] for c in cols) for r in rows], schema)
                out = append_documents_to_index(self.spark, df, self.snap_dir)
                end = time.perf_counter()
                self.results.append(
                    {"batch_s": end - start, "late_s": end - due, "n_docs": out["n_docs"],
                     "docs_appended": out["docs_appended"]}
                )
        except Exception as exc:  # noqa: BLE001 — reported by the caller after join
            self.error = exc


def _snapshot_key(data_digest: str) -> str:
    """Key of a published snapshot: the input data plus every source file
    of the package, so a snapshot is reused only by the code that wrote it."""
    h = hashlib.sha256(data_digest.encode())
    for path in sorted(glob.glob(os.path.join(PACKAGE_DIR, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, PACKAGE_DIR).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def snapshot_dir(data_digest: str) -> str:
    return os.path.join(BUILD_DIR, f"snapshot-{_snapshot_key(data_digest)}")


def ensure_snapshot(data_digest: str) -> None:
    """Publish the serving snapshot once per data and code version. It is
    published by a child process with a Spark session of its own, so the
    session a run measures starts as clean on the build run as on every
    other."""
    path = snapshot_dir(data_digest)
    if os.path.exists(os.path.join(path, "_SNAPSHOT.json")):
        return
    for stale in glob.glob(os.path.join(BUILD_DIR, "snapshot-*")):
        shutil.rmtree(stale)
    subprocess.run([sys.executable, os.path.abspath(__file__), path + ".tmp"],
                   stdout=sys.stderr, check=True, timeout=600)
    os.replace(path + ".tmp", path)


def _plan_call(spark, snap: str, route: str, params: dict) -> None:
    """The `plans.api` / index-probe call behind one route, made in-process
    without HTTP, as the route handler makes it."""
    from australian_company_etl_spark.plans import api as plans
    from australian_company_etl_spark.serving import http_api as h

    if route == "key":
        plans.api_lookup_by_key(spark, snap, key=params["key"]).collect()
    elif route == "state":
        df = plans.api_by_state(spark, snap, state=params["state"])
        df.orderBy("c_custkey").limit(params["limit"] + 1).collect()
    elif route == "search":
        df = plans.api_search_ilike(spark, snap, pattern=params["q"])
        df.orderBy("p_partkey").limit(params["limit"] + 1).collect()
    elif route == "page":
        plans.api_page_keyset(spark, snap, after=params["after"], limit=params["limit"]).collect()
    elif route == "fulltext":
        with open(os.path.join(snap, "_SNAPSHOT.json")) as f:
            n_docs = json.load(f)[h.FULLTEXT_INDEX]["n_docs"]
        terms = params["q"].lower().split()
        rows, _ = h.fulltext_rank_maxdf(spark, snap, terms, params["k"], n_docs, max_df=0.05)
        if rows is None:
            h.fulltext_rank_from_index(spark, snap, terms, params["k"], n_docs).collect()
    else:
        rows, _ = h.trigram_rank_maxdf(spark, snap, params["q"], params["k"], max_df=0.05)
        if rows is None:
            h.trigram_rank_from_index(spark, snap, params["q"], params["k"]).collect()


def run(spark, ctx, ingest: bool) -> dict:
    from australian_company_etl_spark.serving.http_api import (
        FULLTEXT_INDEX,
        SERVING_TABLES,
        make_server,
        serve_in_thread,
    )
    from australian_company_etl_spark.sources.registry import table_path

    # the appends below change the index, so each run serves its own copy
    snap = os.path.join(ctx.scratch, "snapshot")
    shutil.copytree(snapshot_dir(ctx.data_digest), snap)
    with open(os.path.join(snap, "_SNAPSHOT.json")) as f:
        manifest = json.load(f)
    source = expected.connect(ctx.data_dir)
    published = all(
        manifest[t]["rows"] == source.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        for t in SERVING_TABLES
    )
    server = make_server(spark, snap)
    port = server.server_address[1]
    serve_in_thread(server)
    con = expected.connect(snap)
    memo: dict = {}
    stream = RequestStream(ctx.seed, manifest["customer"]["rows"])
    attempted, failed = 1, int(not published)
    n_docs_before = manifest[FULLTEXT_INDEX]["n_docs"]
    try:
        appenders: list[Appender] = []

        def appends(seconds: float) -> Appender | None:
            if not ingest:
                return None
            first_id = n_docs_before + 10**6 + APPEND_DOCS * sum(len(a.batches) for a in appenders)
            a = Appender(spark, snap, ctx.seed * 2 + len(appenders), seconds, first_id)
            appenders.append(a)
            a.start()
            return a

        def joined(a: Appender | None) -> None:
            if a:
                a.join(timeout=150)
                if a.is_alive() or a.error:
                    raise RuntimeError(f"appender failed: {a.error!r}")

        # warm-up: the same reads, and appends, for WARMUP_S, checked like
        # the timed ones; shorter warm-ups left the window's first reads
        # ~20% slower than its last (JIT still compiling the route plans)
        warm = [stream.client_requests(REQUESTS_PER_CLIENT) for _ in range(CLIENTS)]
        warm_appender = appends(WARMUP_S)
        warm_reads = _load(port, warm, WARMUP_S, ctx.scratch)
        joined(warm_appender)
        for cid, i, route, status, _, body in warm_reads:
            attempted += 1
            params = warm[cid][i][2]
            if ingest and route == "fulltext":
                failed += not _ranked(status, body)
            else:
                failed += not expected.check_response(con, route, params, status, body, memo)
        ctx.setup_done()

        per_client = [stream.client_requests(REQUESTS_PER_CLIENT) for _ in range(CLIENTS)]
        index_dir = table_path(snap, FULLTEXT_INDEX)
        files_before = _files(index_dir)
        window = ctx.window()
        cpu0 = system_cpu_s()
        appender = appends(ctx.seconds)
        records = _load(port, per_client, ctx.seconds, ctx.scratch)
        busy_s = time.perf_counter() - window.t0
        cpu_s = system_cpu_s() - cpu0  # the reaped load generator is not counted
        joined(appender)
        window.close()

        lat: dict[str, list[float]] = {r: [] for r in ROUTES}
        ops_ms: list[float] = []
        for cid, i, route, status, ms, body in records:
            _, _, params = per_client[cid][i]
            attempted += 1
            if ingest and route == "fulltext":
                ok = _ranked(status, body)
            else:
                ok = expected.check_response(con, route, params, status, body, memo)
            if not ok:
                failed += 1
                ctx.log(f"{route} {per_client[cid][i][1]} -> {status} differs from its twin")
            ops_ms.append(ms)
            lat[route].append(ms)

        layers = {f"route.{r}.p50_ms": median(lat[r]) for r in ROUTES}
        appended_docs: list[dict] = []
        if appender:
            n_docs = n_docs_before
            for a in appenders:
                for res, batch in zip(a.results, a.batches):
                    attempted += 1
                    n_docs += len(batch)
                    failed += res["n_docs"] != n_docs or res["docs_appended"] != len(batch)
                    appended_docs += batch
            _, health = _get(port, "/health")
            attempted += 1
            failed += health["snapshot"][FULLTEXT_INDEX]["n_docs"] != n_docs
            final_con = expected.connect(snap, extra_docs=appended_docs)
            final_memo: dict = {}
            for _ in range(FINAL_SEARCHES):
                route, path, params = stream.one("fulltext")
                status, body = _get(port, path)
                attempted += 1
                failed += not expected.check_response(final_con, route, params, status, body, final_memo)
            res = appender.results
            layers["append.batch_s"] = median([r["batch_s"] for r in res])
            layers["append.late_p50_s"] = median([r["late_s"] for r in res])
            layers["append.files_added"] = (_files(index_dir) - files_before) / max(1, len(res))
            layers["index.files_end"] = float(_files(index_dir))

        if ctx.trace:
            for route in ROUTES:
                jobs, plan_ms = [], []
                for _ in range(PROBES_PER_ROUTE):
                    _, path, params = stream.one(route)
                    mark = ctx.store.mark()
                    _get(port, path)
                    jobs.append(ctx.store.since(mark).jobs)
                    t = time.perf_counter()
                    _plan_call(spark, snap, route, params)
                    plan_ms.append((time.perf_counter() - t) * 1e3)
                layers[f"route.{route}.jobs"] = float(median(jobs))
                layers[f"route.{route}.plan_ms"] = median(plan_ms)
    finally:
        server.shutdown()
        server.server_close()
    return {
        "ops_ms": ops_ms,
        "busy_s": busy_s,
        "cpu_s": cpu_s,
        "attempted": attempted,
        "failed": failed,
        "layers": layers,
    }


if __name__ == "__main__":
    # the child of `ensure_snapshot`: publish the snapshot into argv[1]
    from australian_company_etl_spark.serving.http_api import snapshot_tables

    from perfbench.common import DATA_DIR, start_spark, stop_spark

    session = start_spark()
    try:
        snapshot_tables(session, DATA_DIR, sys.argv[1])
    finally:
        stop_spark(session)
