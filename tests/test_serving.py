"""Serving-layer integration: publish snapshot → HTTP routes == oracles.

Starts the stdlib HTTP server (serving/http_api.py) over a Spark-published
snapshot of the test corpus and proves every route's response matches the
D-family DuckDB oracle run on the ORIGINAL source tables — one pass
checks both the route semantics and the snapshot publish integrity.
Reference parity: fastapi_service/main.py:15-59.
"""

from __future__ import annotations

import json
import urllib.request

import pytest

from australian_company_etl_spark.plans import api as api_plans
from australian_company_etl_spark.serving.http_api import (
    make_server,
    serve_in_thread,
    snapshot_tables,
)
from tests.conftest import SF_DIR
from tests.oracle_compare import canonical_rows, duckdb_connect


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    snap = str(tmp_path_factory.mktemp("serving_snapshot"))
    manifest = snapshot_tables(spark, SF_DIR, snap)
    assert set(manifest) == {
        "customer", "nation", "part", "documents", "fulltext_index",
        "fulltext_sharded", "trigram_index",
    }
    srv = make_server(spark, snap, port=0)
    serve_in_thread(srv)
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


@pytest.fixture(scope="module")
def con():
    c = duckdb_connect(SF_DIR)
    yield c
    c.close()


def _get(base: str, path: str) -> tuple[int, dict]:
    try:
        with urllib.request.urlopen(base + path, timeout=120) as r:
            return r.status, json.load(r)
    except urllib.error.HTTPError as e:
        return e.code, json.load(e)


def _assert_matches_oracle(payload: dict, con, sql: str) -> None:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    want = canonical_rows(cols, res.fetchall())
    got = canonical_rows(cols, [tuple(row[c] for c in cols) for row in payload["rows"]])
    assert payload["n"] == len(want)
    assert got == want


def test_lookup_by_key(server, con):
    status, body = _get(server, f"/companies/{api_plans.LOOKUP_KEY}")
    assert status == 200
    _assert_matches_oracle(body, con, api_plans.LOOKUP_SQL)


def test_lookup_missing_key_404(server):
    status, body = _get(server, "/companies/999999999")
    assert status == 404
    # body parity with main.py:37; the 404 STATUS is a deliberate deviation
    # (the reference returns the error body with HTTP 200 — it never sets a
    # status code)
    assert body == {"error": "Company not found"}


def test_search_ilike(server, con):
    status, body = _get(server, f"/companies/search?q={api_plans.SEARCH_PATTERN}")
    assert status == 200
    _assert_matches_oracle(body, con, api_plans.SEARCH_SQL)


def test_by_state(server, con):
    status, body = _get(server, f"/companies/by_state?state={api_plans.STATE_NAME}")
    assert status == 200
    _assert_matches_oracle(body, con, api_plans.BY_STATE_SQL)


def test_page_keyset_default(server, con):
    status, body = _get(
        server, f"/companies?after={api_plans.PAGE_AFTER}&limit={api_plans.PAGE_SIZE}"
    )
    assert status == 200
    _assert_matches_oracle(body, con, api_plans.PAGE_KEYSET_SQL)
    if body["rows"]:
        assert body["next_after"] == max(r["c_custkey"] for r in body["rows"])
    else:  # past the last key (sf0.001): cursor exhausts, not errors
        assert body["next_after"] is None


def test_page_keyset_walk_is_gapless(server, con):
    """Walk two pages via the served cursor; union == one 20-row oracle page."""
    s1, p1 = _get(server, "/companies?after=-1&limit=10")  # keys start at 0; > is strict
    s2, p2 = _get(server, f"/companies?after={p1['next_after']}&limit=10")
    assert s1 == s2 == 200
    sql = "SELECT c_custkey, c_name, c_mktsegment FROM customer ORDER BY c_custkey LIMIT 20"
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    want = canonical_rows(cols, res.fetchall())
    got = canonical_rows(
        cols, [tuple(r[c] for c in cols) for r in p1["rows"] + p2["rows"]]
    )
    assert got == want


def test_fulltext_rank(server, con):
    status, body = _get(server, "/search?q=" + "+".join(api_plans.FT_QUERY_TERMS))
    assert status == 200
    _assert_matches_oracle(body, con, api_plans._fulltext_sql())


def test_fulltext_index_path_equals_scan_path(server):
    """/search serves from the published index; ?scan=1 forces the
    corpus-scan D5 plan. Same terms → row-identical responses (the
    'serving form swaps the scan for the index with identical ranking'
    contract), checked on a NON-default term set so nothing is cached."""
    status_i, idx = _get(server, "/search?q=data+document+order&k=15")
    status_s, scan = _get(server, "/search?q=data+document+order&k=15&scan=1")
    assert status_i == status_s == 200
    assert idx["n"] > 0
    assert idx["rows"] == scan["rows"]


def test_fulltext_index_probe_prunes_by_term(spark, server, tmp_path_factory):
    """The index probe must push the term filter into the parquet scan
    (row-group pruning on the tok-sorted layout) — the GIN-index analog;
    an index read that scans all postings is just a slower corpus scan."""
    from australian_company_etl_spark.serving.http_api import (
        build_fulltext_index,
        fulltext_rank_from_index,
    )

    d = str(tmp_path_factory.mktemp("ft_index"))
    meta = build_fulltext_index(spark, SF_DIR, d)
    plan = (
        fulltext_rank_from_index(spark, d, ["quick", "spark"], 10, meta["n_docs"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [In(tok" in plan
    assert "partial_sum" in plan  # per-doc score combines map-side


def test_incremental_index_maintenance_equals_full_corpus(spark, tmp_path):
    """Append-only maintenance contract: index built over HALF the corpus
    + the other half appended (one batch direct, then streamed files,
    with one batch re-delivered) must rank exactly like the scan plan
    over the FULL corpus — and re-delivery must append nothing."""
    from pyspark.sql import functions as F

    from australian_company_etl_spark.serving.http_api import (
        append_documents_to_index,
        build_fulltext_index,
        fulltext_rank_from_index,
        run_index_maintenance_stream,
    )
    from australian_company_etl_spark.sources.registry import load_tables

    docs = load_tables(spark, SF_DIR, ["documents"])["documents"].select("doc_id", "text")
    half_dir = str(tmp_path / "half")
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(half_dir + "/documents.parquet")
    d = str(tmp_path / "serving")
    import json
    import os

    os.makedirs(d)
    meta = build_fulltext_index(spark, half_dir, d)
    with open(os.path.join(d, "_SNAPSHOT.json"), "w") as f:
        json.dump({"fulltext_index": meta}, f)

    # direct append of a quarter
    q1 = docs.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 4 == 1))
    r1 = append_documents_to_index(spark, q1, d)
    assert r1["docs_appended"] == q1.count()
    # re-delivery of the same quarter: first-wins, nothing appended
    r_dup = append_documents_to_index(spark, q1, d)
    assert r_dup["docs_appended"] == 0
    assert r_dup["n_docs"] == r1["n_docs"]
    # the final quarter arrives as a 2-file stream
    q2 = docs.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 4 == 3))
    stream_src = str(tmp_path / "landing")
    q2.repartition(2).write.parquet(stream_src)
    n_batches = run_index_maintenance_stream(
        spark, stream_src, "doc_id bigint, text string", d
    )
    assert n_batches >= 2

    with open(os.path.join(d, "_SNAPSHOT.json")) as f:
        n_docs = json.load(f)["fulltext_index"]["n_docs"]
    assert n_docs == docs.count()
    from australian_company_etl_spark.plans.api import FT_QUERY_TERMS, FT_TOPK, api_fulltext_rank

    got = _canon_df(fulltext_rank_from_index(spark, d, FT_QUERY_TERMS, FT_TOPK, n_docs))
    want = _canon_df(api_fulltext_rank(spark, SF_DIR))
    assert got == want


def _canon_df(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def test_incremental_trigram_index_equals_full_corpus(spark, tmp_path):
    """Trigram index built over half the parts + the rest appended (with
    a duplicate re-delivery) must rank exactly like the scan plan over
    the full table — n_trgm is per-part local, so appends are exact by
    construction."""
    import json
    import os

    from pyspark.sql import functions as F

    from australian_company_etl_spark.plans.api import TRGM_QUERY, TRGM_TOPK, api_search_trigram
    from australian_company_etl_spark.serving.http_api import (
        append_parts_to_trigram_index,
        build_trigram_index,
        trigram_rank_from_index,
    )
    from australian_company_etl_spark.sources.registry import load_tables

    part = load_tables(spark, SF_DIR, ["part"])["part"]
    half_dir = str(tmp_path / "half")
    part.filter(F.col("p_partkey") % 2 == 0).write.parquet(half_dir + "/part.parquet")
    d = str(tmp_path / "serving")
    os.makedirs(d)
    meta = build_trigram_index(spark, half_dir, d)
    with open(os.path.join(d, "_SNAPSHOT.json"), "w") as f:
        json.dump({"trigram_index": {"rows": meta}}, f)

    rest = part.filter(F.col("p_partkey") % 2 == 1).select("p_partkey", "p_name")
    r = append_parts_to_trigram_index(spark, rest, d)
    assert r["parts_appended"] == rest.count()
    assert append_parts_to_trigram_index(spark, rest, d)["parts_appended"] == 0

    got = _canon_df(trigram_rank_from_index(spark, d, TRGM_QUERY, TRGM_TOPK))
    want = _canon_df(api_search_trigram(spark, SF_DIR))
    assert got == want


def test_torn_snapshot_publish_fails_loudly(spark, tmp_path, monkeypatch):
    """A publish whose re-read digest disagrees with the one observed
    during the write must raise, never serve — corrupt the re-read digest
    (the module's only `_table_digest` call in a publish) and assert the
    verify step catches it."""
    import australian_company_etl_spark.serving.http_api as api

    real = api._table_digest

    def corrupted(df):
        rows, h = real(df)
        return rows, h + 1

    monkeypatch.setattr(api, "_table_digest", corrupted)
    with pytest.raises(RuntimeError, match="snapshot verify failed"):
        api.snapshot_tables(spark, SF_DIR, str(tmp_path / "snap"), tables=["nation"])


def test_snapshot_manifest_digests_equal_the_source_tables(spark, tmp_path):
    """The manifest's `rows` and `content_hash` are observed while each
    table is written; they must equal `table_digest` of the source table,
    as must the observed digest of a frame with no partitions."""
    from australian_company_etl_spark.sources.publish import table_digest, write_digested
    from australian_company_etl_spark.sources.registry import load_tables

    tables = ["customer", "documents"]
    manifest = snapshot_tables(spark, SF_DIR, str(tmp_path / "snap"), tables=tables)
    for name, df in load_tables(spark, SF_DIR, tables).items():
        assert (manifest[name]["rows"], manifest[name]["content_hash"]) == table_digest(df)
    empty = spark.createDataFrame(spark.sparkContext.emptyRDD(), "k bigint, v string")
    assert empty.rdd.getNumPartitions() == 0
    assert write_digested(empty, str(tmp_path / "empty.parquet")) == table_digest(empty) == (0, 0)


def test_warm_publish_and_append_job_counts(spark, tmp_path):
    """Publish steps count what they wrote from parquet footers, not by
    re-reading it, and the snapshot takes each table's expected digest
    during the write. Warm job counts: at most 40 for `snapshot_tables`,
    16 for a fresh 100-document append (which evaluates the batch's
    anti-join against the doc ledger once) and 4 for its re-delivery,
    which changes nothing."""
    import pathlib

    from australian_company_etl_spark.serving import http_api as api
    from tests.conftest import spark_jobs

    api.snapshot_tables(spark, SF_DIR, str(tmp_path / "warm"))
    snap = str(tmp_path / "snap")
    names = spark_jobs(spark, lambda: api.snapshot_tables(spark, SF_DIR, snap))
    assert len(names) <= 40, names

    def batch(first: int):
        rows = [(first + i, f"fresh batch words doc{first + i} alpha{i % 9}") for i in range(100)]
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    api.append_documents_to_index(spark, batch(10**7), snap)
    fresh = batch(2 * 10**7)
    names = spark_jobs(spark, lambda: api.append_documents_to_index(spark, fresh, snap))
    assert len(names) <= 16, names
    manifest = pathlib.Path(snap, "_SNAPSHOT.json")
    before = manifest.read_text()
    names = spark_jobs(spark, lambda: api.append_documents_to_index(spark, fresh, snap))
    assert len(names) <= 4, names
    assert manifest.read_text() == before


def test_trigram_fuzzy(server, con):
    q = api_plans.TRGM_QUERY.replace(" ", "+")
    status, body = _get(server, f"/fuzzy?q={q}")
    assert status == 200
    _assert_matches_oracle(body, con, api_plans._trigram_sql())


def test_trigram_index_path_equals_scan_path(server):
    """/fuzzy serves from the published trigram index; ?scan=1 forces the
    corpus-scan D6 plan. Non-default misspelled query → row-identical
    responses (candidates sharing zero trigrams are excluded by BOTH
    paths: never scanned there, sim=0-filtered here)."""
    status_i, idx = _get(server, "/fuzzy?q=grene+stel&k=8")
    status_s, scan = _get(server, "/fuzzy?q=grene+stel&k=8&scan=1")
    assert status_i == status_s == 200
    assert idx["n"] > 0
    assert idx["rows"] == scan["rows"]


def test_trigram_index_probe_prunes_by_trigram(spark, server, tmp_path_factory):
    """The trigram probe must push the trgm filter into the parquet scan —
    same GIN posture as the full-text index."""
    from australian_company_etl_spark.serving.http_api import (
        build_trigram_index,
        trigram_rank_from_index,
    )

    d = str(tmp_path_factory.mktemp("trgm_index"))
    build_trigram_index(spark, SF_DIR, d)
    plan = (
        trigram_rank_from_index(spark, d, "red widgit", 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [In(trgm" in plan
    assert "partial_count" in plan  # |∩| combines map-side


def test_health_reports_snapshot(server):
    status, body = _get(server, "/health")
    assert status == 200
    assert body["ok"] is True
    assert body["snapshot"]["customer"]["rows"] > 0
    assert body["snapshot"]["fulltext_index"]["rows"] > 0


def test_concurrent_requests_all_answer(server):
    """ThreadingHTTPServer + Spark's thread-safe job submission: four
    different routes fired concurrently must all answer correctly (a
    serving layer that serializes or cross-wires concurrent queries is
    broken regardless of single-request correctness)."""
    from concurrent.futures import ThreadPoolExecutor

    paths = [
        f"/companies/{api_plans.LOOKUP_KEY}",
        f"/companies/search?q={api_plans.SEARCH_PATTERN}",
        "/search?q=" + "+".join(api_plans.FT_QUERY_TERMS),
        "/fuzzy?q=" + api_plans.TRGM_QUERY.replace(" ", "+"),
    ]
    with ThreadPoolExecutor(max_workers=4) as pool:
        out = list(pool.map(lambda p: _get(server, p), paths))
    assert [s for s, _ in out] == [200, 200, 200, 200]
    assert out[0][1]["rows"][0]["c_custkey"] == api_plans.LOOKUP_KEY
    assert all(b["n"] > 0 for _, b in out[1:])


def test_unknown_route_404_and_bad_param_400(server):
    assert _get(server, "/nope")[0] == 404
    assert _get(server, "/companies/search")[0] == 400  # missing q
    assert _get(server, "/companies?after=abc")[0] == 400


def test_filter_routes_cap_and_page_by_keyset(server, con):
    """D2/D3 routes are bounded: an under-limit request walks pages via the
    next_after cursor, and the UNION of pages equals the reference's
    unbounded answer — the cap changes delivery, never content."""
    q = api_plans.SEARCH_PATTERN
    rows, cursor, pages = [], None, 0
    while True:
        suffix = f"&after={cursor}" if cursor is not None else ""
        status, body = _get(server, f"/companies/search?q={q}&limit=5{suffix}")
        assert status == 200
        assert body["n"] <= 5
        rows.extend(body["rows"])
        pages += 1
        if body["next_after"] is None:
            break
        cursor = body["next_after"]
    assert pages > 1  # the default pattern matches more than one 5-row page
    _assert_matches_oracle({"n": len(rows), "rows": rows}, con, api_plans.SEARCH_SQL)
    # under-cap single request: full reference answer, exhausted cursor
    status, body = _get(server, f"/companies/by_state?state={api_plans.STATE_NAME}")
    assert status == 200
    assert body["next_after"] is None
    _assert_matches_oracle(body, con, api_plans.BY_STATE_SQL)


def test_nonpositive_params_are_400_not_500(server):
    """limit/k must be >= 1: malformed values map to 400 bad request, never
    a 500 from DataFrame.limit(-1)."""
    for path in (
        "/companies?limit=-1",
        "/companies?limit=0",
        f"/companies/search?q={api_plans.SEARCH_PATTERN}&limit=0",
        f"/companies/by_state?state={api_plans.STATE_NAME}&limit=-3",
        "/search?q=quick&k=0",
        "/fuzzy?q=widgit&k=-2",
        "/search?q=quick&k=abc",
    ):
        status, body = _get(server, path)
        assert status == 400, path
        assert "bad request" in body["error"]


def _build_half_corpus_index(spark, tmp_path):
    import json
    import os

    from pyspark.sql import functions as F

    from australian_company_etl_spark.serving.http_api import build_fulltext_index
    from australian_company_etl_spark.sources.registry import load_tables

    docs = load_tables(spark, SF_DIR, ["documents"])["documents"].select("doc_id", "text")
    half_dir = str(tmp_path / "half")
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(half_dir + "/documents.parquet")
    d = str(tmp_path / "serving")
    os.makedirs(d)
    meta = build_fulltext_index(spark, half_dir, d)
    with open(os.path.join(d, "_SNAPSHOT.json"), "w") as f:
        json.dump({"fulltext_index": meta}, f)
    return docs, d


def test_append_dedupes_within_batch_and_remembers_tokenless_docs(spark, tmp_path):
    """The two maintenance holes: (a) duplicate doc_ids WITHIN one batch
    must collapse to one copy (not both surviving the ledger anti-join and
    doubling tf/df); (b) a token-less document leaves no postings but must
    still be remembered, so re-delivering it can't bump n_docs again."""
    import json
    import os

    from pyspark.sql import functions as F

    from australian_company_etl_spark.serving.http_api import (
        append_documents_to_index,
        fulltext_rank_from_index,
    )

    docs, d = _build_half_corpus_index(spark, tmp_path)
    q1 = docs.filter(F.col("doc_id") % 2 == 1)

    # (a) the batch contains every odd doc TWICE: exactly one copy indexes
    # (a doubled batch would report 2x appended and double every tf)
    doubled = q1.unionAll(q1)
    r = append_documents_to_index(spark, doubled, d)
    assert r["docs_appended"] == q1.count()
    assert r["n_docs"] == docs.count()
    single = append_documents_to_index(spark, q1, d)  # re-delivery: no-op
    assert single["docs_appended"] == 0

    # the doubled-batch index must rank exactly like the clean full corpus
    # (doubled tf would reorder scores — this is the discriminating check)
    from australian_company_etl_spark.plans.api import FT_QUERY_TERMS, FT_TOPK, api_fulltext_rank

    got = _canon_df(fulltext_rank_from_index(spark, d, FT_QUERY_TERMS, FT_TOPK, r["n_docs"]))
    want = _canon_df(api_fulltext_rank(spark, SF_DIR))
    assert got == want

    # (b) a token-less doc: counted once in n_docs, re-delivery is a no-op
    empty = spark.createDataFrame([(10_000_000, "...!!!...")], "doc_id bigint, text string")
    r1 = append_documents_to_index(spark, empty, d)
    assert r1["docs_appended"] == 1
    assert r1["n_docs"] == docs.count() + 1
    r2 = append_documents_to_index(spark, empty, d)
    assert r2["docs_appended"] == 0
    assert r2["n_docs"] == docs.count() + 1
    with open(os.path.join(d, "_SNAPSHOT.json")) as f:
        assert json.load(f)["fulltext_index"]["n_docs"] == docs.count() + 1


def test_index_compaction_restores_sorted_layout(spark, tmp_path):
    """Build half, append the rest in two batches (small appended files),
    compact: one sorted layout of exactly n_files, probe pruning intact,
    ranking still equal to the full-corpus scan plan."""
    import glob
    import os

    from pyspark.sql import functions as F

    from australian_company_etl_spark.serving.http_api import (
        append_documents_to_index,
        compact_index,
        fulltext_rank_from_index,
    )
    from australian_company_etl_spark.sources.registry import table_path

    docs, d = _build_half_corpus_index(spark, tmp_path)
    idx_path = table_path(d, "fulltext_index")
    append_documents_to_index(
        spark, docs.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 4 == 1)), d
    )
    append_documents_to_index(
        spark, docs.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 4 == 3)), d
    )
    frag_files = len(glob.glob(os.path.join(idx_path, "*.parquet")))
    assert frag_files > 8  # appends fragmented the build layout

    out = compact_index(spark, d, "fulltext_index", n_files=8)
    assert out["ok"] and out["files_before"] == frag_files and out["files_after"] == 8
    # every file now holds one contiguous key range (fully-sorted layout)
    ranges = []
    for p in sorted(glob.glob(os.path.join(idx_path, "*.parquet"))):
        toks = [r["tok"] for r in spark.read.parquet(p).select("tok").collect()]
        if toks:
            ranges.append((min(toks), max(toks)))
    ranges.sort()
    assert all(a[1] <= b[0] for a, b in zip(ranges, ranges[1:]))

    import json

    with open(os.path.join(d, "_SNAPSHOT.json")) as f:
        n_docs = json.load(f)["fulltext_index"]["n_docs"]
    from australian_company_etl_spark.plans.api import FT_QUERY_TERMS, FT_TOPK, api_fulltext_rank

    ranked = fulltext_rank_from_index(spark, d, FT_QUERY_TERMS, FT_TOPK, n_docs)
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(tok" in plan  # probe pruning survives compaction
    assert _canon_df(ranked) == _canon_df(api_fulltext_rank(spark, SF_DIR))


def test_maintenance_stream_restarts_from_checkpoint(spark, tmp_path, monkeypatch):
    """Kill the index-maintenance stream mid-way (batch 2 of 4 throws),
    restart from the SAME checkpoint: committed batches are not
    reprocessed, the failed batch is, and the final index equals a full
    rebuild — the at-least-once + first-wins contract under a real crash."""
    import australian_company_etl_spark.serving.http_api as api

    from pyspark.sql import functions as F

    docs, d = _build_half_corpus_index(spark, tmp_path)
    stream_src = str(tmp_path / "landing")
    docs.filter(F.col("doc_id") % 2 == 1).repartition(4).write.parquet(stream_src)
    ckpt = str(tmp_path / "ckpt")

    real = api.append_documents_to_index
    calls = {"n": 0}

    def flaky(spark_, batch, data_dir):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("executor lost (injected)")
        return real(spark_, batch, data_dir)

    monkeypatch.setattr(api, "append_documents_to_index", flaky)
    with pytest.raises(Exception, match="injected"):
        api.run_index_maintenance_stream(
            spark, stream_src, "doc_id bigint, text string", d, checkpoint_dir=ckpt
        )
    monkeypatch.setattr(api, "append_documents_to_index", real)
    n_resumed = api.run_index_maintenance_stream(
        spark, stream_src, "doc_id bigint, text string", d, checkpoint_dir=ckpt
    )
    # the checkpoint persisted batch 1's commit: the restart replays only
    # the failed batch onward, not the whole landing directory
    assert n_resumed == 3

    import json
    import os

    with open(os.path.join(d, "_SNAPSHOT.json")) as f:
        n_docs = json.load(f)["fulltext_index"]["n_docs"]
    assert n_docs == docs.count()
    from australian_company_etl_spark.plans.api import FT_QUERY_TERMS, FT_TOPK, api_fulltext_rank

    got = _canon_df(api.fulltext_rank_from_index(spark, d, FT_QUERY_TERMS, FT_TOPK, n_docs))
    assert got == _canon_df(api_fulltext_rank(spark, SF_DIR))


def test_fulltext_probe_survives_large_corpus_counts(spark, tmp_path_factory):
    """Regression (caught by the sf1 bench): n_docs reached the idf
    surrogate as an INT literal, so 1000000 * n_docs overflowed int32 past
    ~2147 documents under ANSI mode. The probe must score with BIGINT
    arithmetic at any corpus size."""
    from australian_company_etl_spark.serving.http_api import (
        build_fulltext_index,
        fulltext_rank_from_index,
    )

    d = str(tmp_path_factory.mktemp("ft_big_n"))
    build_fulltext_index(spark, SF_DIR, d)
    rows = fulltext_rank_from_index(
        spark, d, ["quick", "spark"], 10, n_docs=3_000_000_0
    ).collect()
    assert rows and all(r["score_micro"] > 0 for r in rows)


def test_append_heals_a_crash_between_postings_and_ledger(spark, tmp_path):
    """The postings append and the ledger append are separate parquet
    writes: simulate a crash BETWEEN them (postings committed, ledger
    not — the window an at-least-once foreachBatch replay re-enters) and
    re-deliver the batch. The replay must NOT double any tf (postings
    freshness is decided against the posting rows) and must append the
    missing ledger rows, converging on exactly the full-rebuild state."""
    import json
    import os

    from pyspark.sql import functions as F

    from australian_company_etl_spark.serving.http_api import (
        _doc_postings,
        append_documents_to_index,
        fulltext_rank_from_index,
    )
    from australian_company_etl_spark.sources.registry import table_path

    docs, d = _build_half_corpus_index(spark, tmp_path)
    batch = docs.filter(F.col("doc_id") % 2 == 1)

    # simulate the crashed first delivery: postings land, ledger does not
    _doc_postings(batch).repartitionByRange(2, "tok").sortWithinPartitions(
        "tok"
    ).write.mode("append").parquet(table_path(d, "fulltext_index"))
    postings_after_crash = spark.read.parquet(table_path(d, "fulltext_index")).count()

    # the replay: must add zero postings, all missing ledger rows
    r = append_documents_to_index(spark, batch, d)
    assert r["docs_appended"] == batch.count()
    assert r["n_docs"] == docs.count()
    assert (
        spark.read.parquet(table_path(d, "fulltext_index")).count()
        == postings_after_crash
    )
    # converged state ranks exactly like the clean full corpus
    with open(os.path.join(d, "_SNAPSHOT.json")) as f:
        n_docs = json.load(f)["fulltext_index"]["n_docs"]
    from australian_company_etl_spark.plans.api import FT_QUERY_TERMS, FT_TOPK, api_fulltext_rank

    got = _canon_df(fulltext_rank_from_index(spark, d, FT_QUERY_TERMS, FT_TOPK, n_docs))
    assert got == _canon_df(api_fulltext_rank(spark, SF_DIR))
    # and a further re-delivery is a complete no-op
    r2 = append_documents_to_index(spark, batch, d)
    assert r2["docs_appended"] == 0


def test_failed_index_compaction_never_replaces_the_live_index(spark, tmp_path, monkeypatch):
    """Corrupt the rewrite's re-read digest: compact_index must raise,
    leave the live index byte-layout untouched, and clean up its temp
    directory — same torn-publish discipline as snapshot_tables."""
    import glob
    import os

    import australian_company_etl_spark.serving.http_api as api
    from australian_company_etl_spark.sources.registry import table_path

    _docs, d = _build_half_corpus_index(spark, tmp_path)
    idx_path = table_path(d, "fulltext_index")
    files_before = sorted(glob.glob(os.path.join(idx_path, "*.parquet")))

    real = api._table_digest
    calls = {"n": 0}

    def corrupted(df):
        calls["n"] += 1
        rows, h = real(df)
        return (rows, h + 1) if calls["n"] % 2 == 0 else (rows, h)  # rewrite side lies

    monkeypatch.setattr(api, "_table_digest", corrupted)
    with pytest.raises(RuntimeError, match="compaction dropped data"):
        api.compact_index(spark, d, "fulltext_index")
    assert sorted(glob.glob(os.path.join(idx_path, "*.parquet"))) == files_before
    assert not os.path.exists(idx_path + ".compacting")
    assert not os.path.exists(idx_path + ".precompact")


def test_trigram_maintenance_stream_equals_full_rebuild(spark, tmp_path):
    """Stream the odd parts into a half-built trigram index (2 files, one
    per micro-batch, checkpointed) and re-run the drained stream: the
    probe must rank exactly like the scan plan over the full table, and
    the second invocation must process zero batches."""
    import json
    import os

    from pyspark.sql import functions as F

    from australian_company_etl_spark.plans.api import TRGM_QUERY, TRGM_TOPK, api_search_trigram
    from australian_company_etl_spark.serving.http_api import (
        build_trigram_index,
        run_trigram_maintenance_stream,
        trigram_rank_from_index,
    )
    from australian_company_etl_spark.sources.registry import load_tables

    part = load_tables(spark, SF_DIR, ["part"])["part"]
    half_dir = str(tmp_path / "half")
    part.filter(F.col("p_partkey") % 2 == 0).write.parquet(half_dir + "/part.parquet")
    d = str(tmp_path / "serving")
    os.makedirs(d)
    meta = build_trigram_index(spark, half_dir, d)
    with open(os.path.join(d, "_SNAPSHOT.json"), "w") as f:
        json.dump({"trigram_index": {"rows": meta}}, f)

    landing = str(tmp_path / "landing")
    part.filter(F.col("p_partkey") % 2 == 1).select("p_partkey", "p_name").repartition(
        2
    ).write.parquet(landing)
    ckpt = str(tmp_path / "ckpt")
    schema = "p_partkey bigint, p_name string"
    assert run_trigram_maintenance_stream(spark, landing, schema, d, checkpoint_dir=ckpt) == 2
    # drained: the checkpointed re-run processes nothing
    assert run_trigram_maintenance_stream(spark, landing, schema, d, checkpoint_dir=ckpt) == 0

    got = _canon_df(trigram_rank_from_index(spark, d, TRGM_QUERY, TRGM_TOPK))
    assert got == _canon_df(api_search_trigram(spark, SF_DIR))


def test_compact_carries_concurrent_append_into_new_layout(spark, tmp_path, monkeypatch):
    """ADVICE r05 (medium): a posting batch appended while compact_index's
    rewrite runs must NOT vanish with the swapped-out directory. The
    rewrite covers a point-in-time listing; the swap re-diffs the listing
    under the index lock and carries any new file verbatim. Inject the
    append at the rewrite-verify moment (after the source listing was
    taken, before the swap) and prove the appended doc survives."""
    import glob
    import os

    from pyspark.sql import functions as F

    from australian_company_etl_spark.serving import http_api as api
    from australian_company_etl_spark.sources.registry import table_path

    docs, d = _build_half_corpus_index(spark, tmp_path)
    idx_path = table_path(d, "fulltext_index")
    append_doc = spark.createDataFrame(
        [(20_000_000, "zanzibar quux flutter")], "doc_id bigint, text string"
    )

    real_digest = api._table_digest
    calls = {"n": 0}

    def inject_append_on_verify(df):
        calls["n"] += 1
        if calls["n"] == 2:  # the tmp-rewrite verify: rewrite done, swap not yet
            api.append_documents_to_index(spark, append_doc, d)
        return real_digest(df)

    monkeypatch.setattr(api, "_table_digest", inject_append_on_verify)
    out = api.compact_index(spark, d, "fulltext_index", n_files=8)
    assert out["ok"] and out["delta_carried"] >= 1
    assert len(glob.glob(os.path.join(idx_path, "*.parquet"))) == 8 + out["delta_carried"]
    ids = {
        r["doc_id"]
        for r in spark.read.parquet(idx_path).select("doc_id").distinct().collect()
    }
    assert 20_000_000 in ids  # the concurrently-appended doc survived the swap
    # and the ledger/manifest agree (the append ran to completion under lock)
    import json

    with open(os.path.join(d, "_SNAPSHOT.json")) as f:
        assert json.load(f)["fulltext_index"]["n_docs"] == docs.filter(
            F.col("doc_id") % 2 == 0
        ).count() + 1


def test_interrupted_compaction_swap_heals(spark, tmp_path):
    """ADVICE r05 (low): between the swap's two renames the live index path
    does not exist; a crash there strands the data in .precompact. Startup
    (make_server) and the next compaction must roll it back."""
    import os
    import shutil

    from australian_company_etl_spark.serving import http_api as api
    from australian_company_etl_spark.sources.registry import table_path

    docs, d = _build_half_corpus_index(spark, tmp_path)
    idx_path = table_path(d, "fulltext_index")
    n_before = spark.read.parquet(idx_path).count()

    # simulate the crash window: live renamed away, orphan rewrite left over
    os.rename(idx_path, idx_path + ".precompact")
    os.makedirs(idx_path + ".compacting")
    assert not os.path.exists(idx_path)

    # compact-side healing (clean_tmp): rollback + orphan rewrite discarded
    assert api.heal_swap(idx_path, clean_tmp=True) == "rolled_back"
    assert spark.read.parquet(idx_path).count() == n_before
    assert not os.path.exists(idx_path + ".precompact")
    assert not os.path.exists(idx_path + ".compacting")

    # appender-side healing (default): a .compacting dir may be a LIVE
    # compaction's in-flight rewrite — it must be left alone
    os.makedirs(idx_path + ".compacting")
    assert api.heal_swap(idx_path) is None
    assert os.path.exists(idx_path + ".compacting")
    import shutil as _sh

    _sh.rmtree(idx_path + ".compacting")

    # crash AFTER the second rename but before cleanup: live is the new
    # data, .precompact is the leftover — healing must keep live and clean
    shutil.copytree(idx_path, idx_path + ".precompact")
    assert api.heal_swap(idx_path) == "cleaned_precompact"
    assert spark.read.parquet(idx_path).count() == n_before

    # make_server runs the same healing at startup
    os.rename(idx_path, idx_path + ".precompact")
    srv = api.make_server(spark, d)
    srv.server_close()
    assert spark.read.parquet(idx_path).count() == n_before


def test_append_backfills_missing_ledger(spark, tmp_path):
    """ADVICE r05 (low): a pre-ledger snapshot (postings only) must not
    fail the appender — the ledger is backfilled once from the index's
    distinct doc_ids (the old membership source), then the append
    proceeds with unchanged first-wins semantics."""
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from australian_company_etl_spark.serving.http_api import append_documents_to_index
    from australian_company_etl_spark.sources.registry import table_path

    docs, d = _build_half_corpus_index(spark, tmp_path)
    shutil.rmtree(table_path(d, "fulltext_docs"))  # the pre-ledger layout

    indexed = docs.filter(F.col("doc_id") % 2 == 0)
    redelivered = indexed.limit(3)
    new_doc = spark.createDataFrame(
        [(30_000_000, "brand new words")], "doc_id bigint, text string"
    )
    out = append_documents_to_index(spark, redelivered.unionByName(new_doc), d)
    assert out["docs_appended"] == 1  # re-delivered docs anti-joined via backfill
    assert out["n_docs"] == indexed.count() + 1
    ledger = spark.read.parquet(table_path(d, "fulltext_docs"))
    assert ledger.count() == indexed.count() + 1
    with open(os.path.join(d, "_SNAPSHOT.json")) as f:
        assert json.load(f)["fulltext_index"]["n_docs"] == indexed.count() + 1


def test_index_lock_blocks_and_never_goes_stale(tmp_path):
    """The index lock's two contracts: a LIVE holder blocks a contender
    until timeout (TimeoutError, not silent entry), and a lock whose
    holder died never wedges maintenance. flock gives the second for
    free — the kernel releases on ANY process death — with no
    stale-break protocol to race on (the earlier dead-pid-break scheme
    let two contenders both break one stale file and both enter; a
    subprocess death below stands in for kill -9)."""
    import os
    import subprocess
    import sys

    import pytest as _pytest

    from australian_company_etl_spark.serving.http_api import _index_lock

    p = str(tmp_path / "idx.parquet")
    with _index_lock(p):
        # flock conflicts across open file descriptions, so a same-process
        # contender on a fresh fd blocks exactly like another process
        with _pytest.raises(TimeoutError, match="live process"):
            with _index_lock(p, timeout=0.3):
                pass
    # released: re-entry succeeds
    with _index_lock(p, timeout=0.3):
        pass
    # a holder that DIES without cleanup (os._exit, no finally) leaves the
    # file behind but no lock — the next contender acquires immediately
    code = (
        "import os, sys; sys.path.insert(0, sys.argv[2]); "
        "from australian_company_etl_spark.serving.http_api import _index_lock; "
        "ctx = _index_lock(sys.argv[1]); ctx.__enter__(); os._exit(9)"
    )
    subprocess.run(
        [sys.executable, "-c", code, p, os.getcwd()], check=False, timeout=60
    )
    assert os.path.exists(p + ".lock")  # the mailbox file persists
    with _index_lock(p, timeout=0.3):
        pass  # but the dead holder's lock is gone


def test_append_heals_interrupted_compaction_first(spark, tmp_path):
    """An appender arriving after a compaction died mid-swap must roll the
    index back and append normally — cron'd maintenance streams should
    self-heal, not fail until a human notices the missing live path."""
    import os

    from pyspark.sql import functions as F

    from australian_company_etl_spark.serving.http_api import append_documents_to_index
    from australian_company_etl_spark.sources.registry import table_path

    docs, d = _build_half_corpus_index(spark, tmp_path)
    idx_path = table_path(d, "fulltext_index")
    os.rename(idx_path, idx_path + ".precompact")  # the crash window
    new_doc = spark.createDataFrame(
        [(40_000_000, "healed append works")], "doc_id bigint, text string"
    )
    out = append_documents_to_index(spark, new_doc, d)
    assert out["docs_appended"] == 1
    assert out["n_docs"] == docs.filter(F.col("doc_id") % 2 == 0).count() + 1
    assert os.path.exists(idx_path)
    assert not os.path.exists(idx_path + ".precompact")


def test_second_compactor_fails_fast_and_cannot_corrupt(spark, tmp_path):
    """ADVICE r06 (low): two compactions of one index share the fixed
    `.compacting` tmp path while the rewrite runs outside the index lock —
    compactor B could clobber tmp between A's digest verify and A's swap,
    and A would then rename a partially-written tmp live (corruption the
    digest cannot catch). compact_index now holds a dedicated per-index
    compaction flock for the whole rewrite+verify+swap: a second compactor
    must fail fast (TimeoutError within seconds, not queue for hours) and
    leave the live index and the first compactor's state untouched."""
    import glob
    import os
    import time

    from australian_company_etl_spark.serving.http_api import _index_lock, compact_index
    from australian_company_etl_spark.sources.registry import table_path

    docs, d = _build_half_corpus_index(spark, tmp_path)
    idx_path = table_path(d, "fulltext_index")
    n_before = spark.read.parquet(idx_path).count()

    # stand-in for a live compactor: hold ITS flock (fd-scoped, so a
    # same-process contender conflicts exactly like another process)
    with _index_lock(idx_path + ".compact", timeout=0.3):
        t0 = time.monotonic()
        with pytest.raises(TimeoutError, match="live process"):
            compact_index(spark, d, "fulltext_index")
        assert time.monotonic() - t0 < 10  # fail-fast, not the 600s queue
        # the loser did NOTHING: live index intact, no tmp rewrite started
        assert spark.read.parquet(idx_path).count() == n_before
        assert not os.path.exists(idx_path + ".compacting")
        assert not os.path.exists(idx_path + ".precompact")

    # with the first compactor gone, compaction proceeds normally
    out = compact_index(spark, d, "fulltext_index", n_files=8)
    assert out["ok"]
    assert len(glob.glob(os.path.join(idx_path, "*.parquet"))) == 8
    assert spark.read.parquet(idx_path).count() == n_before


def test_make_server_serves_readonly_snapshot(spark, tmp_path, monkeypatch):
    """ADVICE r06 (low): make_server's startup heal opens/creates the index
    lock file inside the snapshot directory; serving a published snapshot
    from a read-only mount must degrade to a warning, not die with
    EROFS/EACCES at construction (healing only matters where appenders and
    compaction run, which requires a writable dir anyway). Root ignores
    file modes, so the read-only mount is simulated by denying the lock
    open itself — exactly the syscall that fails on EROFS."""
    import errno
    import os

    from australian_company_etl_spark.serving import http_api as api

    docs, d = _build_half_corpus_index(spark, tmp_path)

    real_open = os.open

    def deny_lock_create(path, *args, **kwargs):
        if str(path).endswith(".lock"):
            raise PermissionError(errno.EACCES, "Read-only file system", str(path))
        return real_open(path, *args, **kwargs)

    monkeypatch.setattr(os, "open", deny_lock_create)
    with pytest.warns(RuntimeWarning, match="not writable"):
        srv = api.make_server(spark, d)
    monkeypatch.undo()

    base = f"http://127.0.0.1:{srv.server_address[1]}"
    api.serve_in_thread(srv)
    try:
        status, payload = _get(base, "/health")
        assert status == 200 and payload["ok"]
    finally:
        srv.shutdown()
        srv.server_close()

    # any OTHER OSError (a genuinely broken snapshot dir) must still raise
    def deny_everything(path, *args, **kwargs):
        if str(path).endswith(".lock"):
            raise OSError(errno.EIO, "I/O error", str(path))
        return real_open(path, *args, **kwargs)

    monkeypatch.setattr(os, "open", deny_everything)
    with pytest.raises(OSError):
        api.make_server(spark, d)
    monkeypatch.undo()


def test_kill9_compactor_mid_swap_appender_wins_and_index_converges(spark, tmp_path):
    """VERDICT r06 task 5: the flock design claims kill -9 safety — prove it
    with an actual kill across REAL processes. A compactor subprocess (own
    Spark session) is SIGKILLed between its swap's two renames while holding
    both flocks; a concurrent appender in this (different) process is
    already blocked on the index lock. The kernel must release the dead
    holder's locks instantly, and the appender must then heal the
    half-swapped index (rollback from .precompact) and append its batch —
    converging to exactly base ∪ batch, proven by a digest against a
    from-scratch rebuild."""
    import os
    import subprocess
    import sys
    import textwrap
    import threading
    import time

    from pyspark.sql import functions as F

    from australian_company_etl_spark.serving.http_api import (
        _table_digest,
        append_documents_to_index,
        build_fulltext_index,
        compact_index,
    )
    from australian_company_etl_spark.sources.registry import load_tables, table_path

    docs, d = _build_half_corpus_index(spark, tmp_path)
    idx_path = table_path(d, "fulltext_index")
    flag = str(tmp_path / "mid_swap.flag")

    # compactor subprocess: pauses between the swap's two renames (rename
    # hook — the PAUSE is injected for determinism; the DEATH below is a
    # real SIGKILL, not an exception) while holding both flocks
    script = textwrap.dedent(
        """
        import os, sys, time
        sys.path.insert(0, sys.argv[1])
        d, flag = sys.argv[2], sys.argv[3]
        real_rename = os.rename
        def paused_rename(src, dst):
            real_rename(src, dst)
            if str(dst).endswith(".precompact"):
                open(flag, "w").write(str(os.getpid()))
                time.sleep(300)  # hold the window until the parent kills us
        os.rename = paused_rename
        from australian_company_etl_spark.session import get_spark
        from australian_company_etl_spark.serving.http_api import compact_index
        spark = get_spark(app_name="kill9-compactor")
        compact_index(spark, d, "fulltext_index")
        """
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    proc = subprocess.Popen(
        [sys.executable, "-c", script, os.getcwd(), d, flag], env=env
    )
    try:
        deadline = time.monotonic() + 240
        while not os.path.exists(flag):
            assert proc.poll() is None, "compactor died before reaching the swap"
            assert time.monotonic() < deadline, "compactor never reached the swap"
            time.sleep(0.2)
        # mid-swap: no live index, data stranded in .precompact
        assert not os.path.exists(idx_path)
        assert os.path.exists(idx_path + ".precompact")

        # concurrent appender (THIS process): blocks on the flock the
        # compactor holds
        new_doc = spark.createDataFrame(
            [(50_000_000, "converges after a real kill")],
            "doc_id bigint, text string",
        )
        result = {}

        def append():
            result["out"] = append_documents_to_index(spark, new_doc, d)

        t = threading.Thread(target=append, daemon=True)
        t.start()
        time.sleep(2.0)
        assert t.is_alive(), "appender should be blocked on the held flock"

        proc.kill()  # SIGKILL, between the two renames, locks held
        proc.wait(timeout=30)
        t.join(timeout=120)
        assert not t.is_alive(), "appender never acquired the dead holder's lock"
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait(timeout=30)

    assert result["out"]["docs_appended"] == 1
    # healed: live index back, crash window cleaned up by the appender
    assert os.path.exists(idx_path)
    assert not os.path.exists(idx_path + ".precompact")

    # a later compaction reclaims the orphaned rewrite and the index
    # converges to exactly base ∪ batch: digest equals a from-scratch build
    out = compact_index(spark, d, "fulltext_index", n_files=8)
    assert out["ok"]
    got = _table_digest(spark.read.parquet(idx_path))

    rebuild_src = str(tmp_path / "rebuild_src")
    base_docs = load_tables(spark, SF_DIR, ["documents"])["documents"].select(
        "doc_id", "text"
    )
    base_docs.filter(F.col("doc_id") % 2 == 0).unionByName(new_doc).write.parquet(
        rebuild_src + "/documents.parquet"
    )
    rebuild_dir = str(tmp_path / "rebuild")
    os.makedirs(rebuild_dir)
    build_fulltext_index(spark, rebuild_src, rebuild_dir)
    want = _table_digest(spark.read.parquet(table_path(rebuild_dir, "fulltext_index")))
    assert got == want


def _crafted_trgm_corpus(spark, tmp_path):
    """60-part corpus with a deliberately hot trigram family: 40 'template'
    parts share five boilerplate words (their trigrams have df ≈ 67%, far
    over the 5% max-df line) plus a distinct uidNN word; 20 parts are
    unrelated word-soup. Returns (corpus_dir, index_dir)."""
    import os

    import random

    tmpl = [
        (i, f"golden harvest premium quality assurance item uid{i:02d}")
        for i in range(40)
    ]
    # word-soup parts must be at least as trigram-RICH as the template parts
    # (10 random 8-consonant words ≈ 90 distinct trigrams vs the template's
    # ~50): the exactness guard compares the k-th candidate's sim against
    # s/(min_n+|q|-s), and a corpus whose minimum n_trgm sits far below the
    # candidates' would (correctly) force a fallback instead of a fire —
    # this test needs the fire.
    rng = random.Random(7)
    soup = [
        (
            100 + j,
            " ".join(
                "".join(rng.choice("bcdfghjklmnpqrstvwxz") for _ in range(8))
                for _ in range(10)
            ),
        )
        for j in range(20)
    ]
    part = spark.createDataFrame(
        [(k, n) for k, n in tmpl + soup], "p_partkey bigint, p_name string"
    )
    corpus = str(tmp_path / "corpus")
    part.write.parquet(corpus + "/part.parquet")
    d = str(tmp_path / "serving")
    os.makedirs(d)
    from australian_company_etl_spark.serving.http_api import build_trigram_index

    build_trigram_index(spark, corpus, d)
    return corpus, d


def test_trigram_maxdf_skip_fires_and_is_row_identical(spark, tmp_path):
    """VERDICT r06 stretch: the max-df probe must actually FIRE on a
    hot-trigram corpus (info trail proves it, not just equal output) and
    serve rows identical to the full probe plan — the exactness guard in
    `trigram_rank_maxdf`'s docstring, exercised end to end."""
    from australian_company_etl_spark.serving.http_api import (
        trigram_rank_from_index,
        trigram_rank_maxdf,
    )

    corpus, d = _crafted_trgm_corpus(spark, tmp_path)

    rows, info = trigram_rank_maxdf(spark, d, "golden uid17", 1)
    assert info["used"], info
    assert info["hot"]  # the boilerplate trigrams were classified hot
    full = [
        r.asDict() for r in trigram_rank_from_index(spark, d, "golden uid17", 1).collect()
    ]
    assert rows == full
    assert rows[0]["p_partkey"] == 17

    # all-hot query: nothing rare to probe with -> decline, full plan serves
    rows2, info2 = trigram_rank_maxdf(spark, d, "golden harvest premium", 5)
    assert rows2 is None and "every query trigram is hot" in info2["reason"]

    # guard failure: a k too large for the rare-candidate set -> decline
    rows3, info3 = trigram_rank_maxdf(spark, d, "golden uid17", 30)
    assert rows3 is None and info3["reason"].startswith("guard")

    # rare trigrams absent from the corpus: ledger df 0 proves no posting
    # exists, so the decline spends zero Spark jobs
    rows4, info4 = trigram_rank_maxdf(spark, d, "golden yyyyy", 1)
    assert rows4 is None and info4["reason"] == "no rare trigram has any ledger postings"


def test_trigram_maxdf_declines_without_stats_ledgers(spark, tmp_path):
    """Old postings-only snapshots have no stats ledgers: the max-df probe
    must decline (never guess), and the appender must keep working without
    trying to maintain ledgers that aren't there."""
    import shutil

    from australian_company_etl_spark.serving.http_api import (
        TRIGRAM_META,
        TRIGRAM_STATS,
        trigram_rank_maxdf,
    )
    from australian_company_etl_spark.sources.registry import table_path

    _corpus, d = _crafted_trgm_corpus(spark, tmp_path)
    shutil.rmtree(table_path(d, TRIGRAM_STATS))
    shutil.rmtree(table_path(d, TRIGRAM_META))
    rows, info = trigram_rank_maxdf(spark, d, "golden uid17", 1)
    assert rows is None and info["reason"] == "no stats ledgers"


def test_trigram_maxdf_survives_appends(spark, tmp_path):
    """The stats ledgers are append-only: after incremental maintenance the
    df sums must equal the postings' ground truth, min_n_trgm must cover
    the appended parts, and the max-df result must still equal the full
    probe. Also proves first-wins: a re-delivered batch adds no ledger
    rows."""
    import json
    import os

    from pyspark.sql import functions as F

    from australian_company_etl_spark.serving.http_api import (
        TRIGRAM_META,
        TRIGRAM_STATS,
        append_parts_to_trigram_index,
        build_trigram_index,
        trigram_rank_from_index,
        trigram_rank_maxdf,
    )
    from australian_company_etl_spark.sources.registry import load_tables, table_path

    part = load_tables(spark, SF_DIR, ["part"])["part"].select("p_partkey", "p_name")
    half_dir = str(tmp_path / "half")
    part.filter(F.col("p_partkey") % 2 == 0).write.parquet(half_dir + "/part.parquet")
    d = str(tmp_path / "serving")
    os.makedirs(d)
    meta = build_trigram_index(spark, half_dir, d)
    with open(os.path.join(d, "_SNAPSHOT.json"), "w") as f:
        json.dump({"trigram_index": {"rows": meta}}, f)
    rest = part.filter(F.col("p_partkey") % 2 == 1)
    append_parts_to_trigram_index(spark, rest, d)
    append_parts_to_trigram_index(spark, rest, d)  # re-delivery: no-op

    postings = spark.read.parquet(table_path(d, "trigram_index"))
    true_df = {
        r["trgm"]: r["c"]
        for r in postings.groupBy("trgm").agg(F.count("*").alias("c")).collect()
    }
    ledger_df = {
        r["trgm"]: r["df"]
        for r in spark.read.parquet(table_path(d, TRIGRAM_STATS))
        .groupBy("trgm")
        .agg(F.sum("df_inc").alias("df"))
        .collect()
    }
    assert ledger_df == true_df
    m = spark.read.parquet(table_path(d, TRIGRAM_META)).agg(
        F.sum("n_parts_inc").alias("n"), F.min("min_n_trgm").alias("mn")
    ).collect()[0]
    assert m["n"] == part.count()
    true_min = postings.select("p_partkey", "n_trgm").distinct().agg(
        F.min("n_trgm")
    ).collect()[0][0]
    assert m["mn"] == true_min

    from australian_company_etl_spark.plans.api import TRGM_QUERY, TRGM_TOPK

    rows, info = trigram_rank_maxdf(spark, d, TRGM_QUERY, TRGM_TOPK)
    full = [
        r.asDict()
        for r in trigram_rank_from_index(spark, d, TRGM_QUERY, TRGM_TOPK).collect()
    ]
    if rows is not None:  # fired: must be row-identical to the full probe
        assert rows == full
    else:  # declined: the guard said so explicitly, never a silent wrong path
        assert "reason" in info


def test_fuzzy_route_maxdf_matches_plain_and_scan(spark, tmp_path):
    """/fuzzy must serve identical bodies through all three paths on the
    crafted hot corpus: default (max-df first), ?maxdf=0 (plain probe),
    ?scan=1 (corpus scan)."""
    import json
    import os

    from australian_company_etl_spark.serving import http_api as api

    corpus, d = _crafted_trgm_corpus(spark, tmp_path)
    # route needs part.parquet + a manifest beside the index
    spark.read.parquet(corpus + "/part.parquet").write.parquet(d + "/part.parquet")
    with open(os.path.join(d, "_SNAPSHOT.json"), "w") as f:
        json.dump({"trigram_index": {"rows": 1}}, f)
    srv = api.make_server(spark, d)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    api.serve_in_thread(srv)
    try:
        q = "golden+uid17&k=1"
        s1, b1 = _get(base, f"/fuzzy?q={q}")
        s2, b2 = _get(base, f"/fuzzy?q={q}&maxdf=0")
        s3, b3 = _get(base, f"/fuzzy?q={q}&scan=1")
        assert s1 == s2 == s3 == 200
        assert b1["rows"] == b2["rows"] == b3["rows"]
        assert b1["rows"][0]["p_partkey"] == 17
    finally:
        srv.shutdown()
        srv.server_close()


def test_trigram_maxdf_declines_over_broadcast_cap(spark, tmp_path, monkeypatch):
    """The skip force-broadcasts the rare-candidate keys; its driver-side
    upper bound (Σ df of the rare query trigrams, free from the stats
    ledger) must decline the path rather than broadcast an unbounded set —
    the 100×-scale guard for a corpus where "rare" still means millions of
    postings."""
    from australian_company_etl_spark.serving import http_api as api

    _corpus, d = _crafted_trgm_corpus(spark, tmp_path)
    monkeypatch.setattr(api, "MAXDF_BROADCAST_CAP", 0)
    rows, info = api.trigram_rank_maxdf(spark, d, "golden uid17", 1)
    assert rows is None and "broadcast cap" in info["reason"]


def test_pg_trigrams_matches_spark_expr_and_splits_punctuation(spark):
    """The driver-side query trigram set (`_pg_trigrams`) and the Spark-side
    corpus expression (`_TRGM_EXPR`) must produce IDENTICAL sets for the
    same text — the max-df inter counts and every sim denominator rely on
    it — including on punctuated, mixed-case, and digit-bearing input
    (pg_trgm splits words on non-alphanumerics; so must both sides)."""
    from pyspark.sql import functions as F

    from australian_company_etl_spark.plans.api import _TRGM_EXPR, _pg_trigrams

    samples = [
        "red widgit",
        "Red-Widgit",
        "  spaced   out  ",
        "a1b2 c3--d4",
        "trailing! punct?",
        "ALL CAPS AND 123",
        "dash-joined-words and_underscored",
        # r12 locale_casing (seed-905 sweep): İ's full-vs-simple lowercase
        # must not split words differently — split-first keeps all three
        # implementations (Python / Java / DuckDB) on pure-ASCII lower()
        "Dış TİCARET lımıted 1",
        "İstanbul Tıcaret",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "txt string").select(
        "txt", F.expr(_TRGM_EXPR.format(c="txt")).alias("trg")
    )
    for r in df.collect():
        got_spark = sorted(r["trg"])
        got_py = _pg_trigrams(r["txt"].split())
        assert got_spark == got_py, r["txt"]


def test_fuzzy_punctuated_query_ranks_like_clean_query(server):
    """pg_trgm fidelity: 'red-widgit' must rank exactly like 'red widgit'
    (the hyphen is a word separator, not three unmatchable trigrams that
    deflate every sim)."""
    s1, clean = _get(server, "/fuzzy?q=red+widgit&scan=1")
    s2, punct = _get(server, "/fuzzy?q=red-widgit&scan=1")
    s3, punct_idx = _get(server, "/fuzzy?q=red-widgit")
    assert s1 == s2 == s3 == 200
    assert punct["rows"] == clean["rows"]
    assert punct_idx["rows"] == clean["rows"]


def test_trigram_ledger_compaction_folds_and_preserves_probe(spark, tmp_path):
    """Appends grow the probe-stat ledgers one tiny file per batch;
    trigram-index compaction must REBUILD them from the postings to one
    row per distinct trigram plus one meta row, with df / n_parts /
    min_n_trgm exactly equal to ground truth — and the max-df probe must
    behave identically before and after. A torn ledger (simulated by
    emptying the stats dir) must make the probe DECLINE, never 500."""
    import glob
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from australian_company_etl_spark.serving.http_api import (
        TRIGRAM_META,
        TRIGRAM_PARTS,
        TRIGRAM_STATS,
        append_parts_to_trigram_index,
        build_trigram_index,
        compact_index,
        trigram_rank_maxdf,
    )
    from australian_company_etl_spark.sources.registry import load_tables, table_path

    part = load_tables(spark, SF_DIR, ["part"])["part"].select("p_partkey", "p_name")
    half_dir = str(tmp_path / "half")
    part.filter(F.col("p_partkey") % 4 == 0).write.parquet(half_dir + "/part.parquet")
    d = str(tmp_path / "serving")
    os.makedirs(d)
    n = build_trigram_index(spark, half_dir, d)
    with open(os.path.join(d, "_SNAPSHOT.json"), "w") as f:
        json.dump({"trigram_index": {"rows": n}}, f)
    for m in (1, 2, 3):
        append_parts_to_trigram_index(
            spark, part.filter(F.col("p_partkey") % 4 == m), d
        )
    stats_path = table_path(d, TRIGRAM_STATS)
    files_before = len(glob.glob(os.path.join(stats_path, "*.parquet")))
    assert files_before >= 4  # build + three appends
    # the part ledger: a backfill at the first append, then one per append
    parts_files = len(glob.glob(os.path.join(table_path(d, TRIGRAM_PARTS), "*.parquet")))
    assert parts_files >= 4

    from australian_company_etl_spark.plans.api import TRGM_QUERY, TRGM_TOPK

    before = trigram_rank_maxdf(spark, d, TRGM_QUERY, TRGM_TOPK)

    out = compact_index(spark, d, "trigram_index", n_files=4)
    assert out["ok"]
    led = out["ledgers"]
    assert led["trigram_meta"] == 1 and led["trigram_stats"] > 0
    assert len(glob.glob(os.path.join(stats_path, "*.parquet"))) == 1
    # the part ledger is compacted too, losing no member
    assert out["ledger"]["rows"] == part.count()
    assert out["ledger"]["files_before"] == parts_files > out["ledger"]["files_after"]
    ledger_ids = spark.read.parquet(table_path(d, TRIGRAM_PARTS)).collect()
    assert sorted(r.p_partkey for r in ledger_ids) == sorted(
        r.p_partkey for r in part.select("p_partkey").collect()
    )

    # folded ledgers == postings ground truth
    postings = spark.read.parquet(table_path(d, "trigram_index"))
    true_df = {
        r["trgm"]: r["c"]
        for r in postings.groupBy("trgm").agg(F.count("*").alias("c")).collect()
    }
    ledger_df = {
        r["trgm"]: int(r["df_inc"])
        for r in spark.read.parquet(stats_path).collect()
    }
    assert ledger_df == true_df
    m = spark.read.parquet(table_path(d, TRIGRAM_META)).collect()
    assert len(m) == 1 and m[0]["n_parts_inc"] == part.count()

    after = trigram_rank_maxdf(spark, d, TRGM_QUERY, TRGM_TOPK)
    assert after[0] == before[0]  # identical decision and rows

    # truncated ledger file: probe declines with a reason, never raises
    (ledger_file,) = glob.glob(os.path.join(stats_path, "*.parquet"))
    os.truncate(ledger_file, os.path.getsize(ledger_file) // 2)
    rows, info = trigram_rank_maxdf(spark, d, TRGM_QUERY, TRGM_TOPK)
    assert rows is None and "unreadable stats ledgers" in info["reason"]

    # torn ledger: probe declines with a reason, never raises
    shutil.rmtree(stats_path)
    os.makedirs(stats_path)
    rows, info = trigram_rank_maxdf(spark, d, TRGM_QUERY, TRGM_TOPK)
    assert rows is None and "unreadable stats ledgers" in info["reason"]


def test_fulltext_ledger_compaction_and_midswap_heal(spark, tmp_path):
    """Fulltext compaction must also compact the doc LEDGER (one file per
    append otherwise) with the digest/swap discipline — and a crash between
    the ledger swap's two renames must heal on the next append instead of
    looking like a pre-ledger snapshot (whose postings backfill would lose
    token-less docs' membership)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from australian_company_etl_spark.serving.http_api import (
        append_documents_to_index,
        compact_index,
    )
    from australian_company_etl_spark.sources.registry import table_path

    docs, d = _build_half_corpus_index(spark, tmp_path)
    ledger_path = table_path(d, "fulltext_docs")
    # a token-less doc: remembered ONLY in the ledger
    empty = spark.createDataFrame([(60_000_000, "?!")], "doc_id bigint, text string")
    append_documents_to_index(spark, empty, d)
    append_documents_to_index(
        spark, docs.filter(F.col("doc_id") % 4 == 1).select("doc_id", "text"), d
    )
    files_before = len(glob.glob(os.path.join(ledger_path, "*.parquet")))
    assert files_before >= 3  # build + two appends
    n_ledger = spark.read.parquet(ledger_path).count()

    out = compact_index(spark, d, "fulltext_index", n_files=8)
    assert out["ok"]
    assert out["ledger"]["rows"] == n_ledger
    assert out["ledger"]["files_after"] < files_before
    assert spark.read.parquet(ledger_path).count() == n_ledger

    # simulate the ledger mid-swap crash window: ledger renamed away
    os.rename(ledger_path, ledger_path + ".precompact")
    assert not os.path.exists(ledger_path)
    # next append must HEAL (not backfill): the token-less doc stays
    # remembered, so re-delivering it appends nothing
    r = append_documents_to_index(spark, empty, d)
    assert r["docs_appended"] == 0
    assert os.path.exists(ledger_path)
    assert not os.path.exists(ledger_path + ".precompact")
    assert spark.read.parquet(ledger_path).count() == n_ledger


def _crafted_ft_corpus(spark, tmp_path):
    """60-doc corpus with a deliberately hot token family: 40 'template'
    docs share five boilerplate words (df ≈ 67%, far over the 5% max-df
    line; 'golden' appears twice per doc so max_tf=2 exercises the bound)
    plus a distinct uidNN word; 20 docs are unrelated word-soup. Returns
    (corpus_dir, serving_dir)."""
    import json
    import os
    import random

    tmpl = [
        (i, f"golden harvest premium quality assurance golden item uid{i:02d}")
        for i in range(40)
    ]
    rng = random.Random(7)
    soup = [
        (
            100 + j,
            " ".join(
                "".join(rng.choice("bcdfghjklmnpqrstvwxz") for _ in range(8))
                for _ in range(10)
            ),
        )
        for j in range(20)
    ]
    docs = spark.createDataFrame(tmpl + soup, "doc_id bigint, text string")
    corpus = str(tmp_path / "ft_corpus")
    docs.write.parquet(corpus + "/documents.parquet")
    d = str(tmp_path / "ft_serving")
    os.makedirs(d)
    from australian_company_etl_spark.serving.http_api import build_fulltext_index

    meta = build_fulltext_index(spark, corpus, d)
    with open(os.path.join(d, "_SNAPSHOT.json"), "w") as f:
        json.dump({"fulltext_index": meta}, f)
    return corpus, d


def test_fulltext_maxdf_skip_fires_and_is_row_identical(spark, tmp_path):
    """The /search max-df skip must actually FIRE on a hot-token corpus
    (info trail proves it) and serve rows identical to the full index
    probe — the integer exactness guard in `fulltext_rank_maxdf`'s
    docstring, end to end."""
    from australian_company_etl_spark.serving.http_api import (
        fulltext_rank_from_index,
        fulltext_rank_maxdf,
    )

    _corpus, d = _crafted_ft_corpus(spark, tmp_path)
    n_docs = 60

    rows, info = fulltext_rank_maxdf(spark, d, ["golden", "uid17"], 1, n_docs)
    assert info["used"], info
    assert info["hot"] == ["golden"]
    full = [
        r.asDict()
        for r in fulltext_rank_from_index(spark, d, ["golden", "uid17"], 1, n_docs).collect()
    ]
    assert rows == full
    assert rows[0]["doc_id"] == 17 and rows[0]["n_terms_hit"] == 2

    # all-hot query: nothing rare to probe with -> decline
    rows2, info2 = fulltext_rank_maxdf(spark, d, ["golden", "harvest"], 5, n_docs)
    assert rows2 is None and "every query term is hot" in info2["reason"]

    # no hot terms: the skip buys nothing -> decline, plain plan serves
    rows3, info3 = fulltext_rank_maxdf(spark, d, ["uid17", "uid03"], 2, n_docs)
    assert rows3 is None and info3["reason"] == "no hot terms"

    # guard failure: k larger than the rare candidate set -> decline
    rows4, info4 = fulltext_rank_maxdf(spark, d, ["golden", "uid17"], 30, n_docs)
    assert rows4 is None and info4["reason"].startswith("guard")

    # rare term absent from the corpus: ledger df 0 PROVES no posting
    # exists (stats precede every append), so the decline spends zero
    # Spark jobs — the common not-in-corpus query-term path
    rows5, info5 = fulltext_rank_maxdf(spark, d, ["golden", "zzznotaword"], 1, n_docs)
    assert rows5 is None and info5["reason"] == "no rare term has any ledger postings"


def test_fulltext_maxdf_declines_without_stats_ledger(spark, tmp_path):
    """Pre-stats snapshots have no ledger: the probe must decline (never
    guess) — and compaction must CREATE the ledger from the postings (the
    migration path), after which the skip fires."""
    import shutil

    from australian_company_etl_spark.serving import http_api as api
    from australian_company_etl_spark.sources.registry import table_path

    _corpus, d = _crafted_ft_corpus(spark, tmp_path)
    shutil.rmtree(table_path(d, api.FULLTEXT_STATS))
    rows, info = api.fulltext_rank_maxdf(spark, d, ["golden", "uid17"], 1, 60)
    assert rows is None and info["reason"] == "no stats ledger"

    out = api.compact_index(spark, d, "fulltext_index", n_files=4)
    assert out["ok"] and out["ledgers"][api.FULLTEXT_STATS] > 0
    rows, info = api.fulltext_rank_maxdf(spark, d, ["golden", "uid17"], 1, 60)
    assert info["used"] and rows[0]["doc_id"] == 17


def test_fulltext_maxdf_declines_over_broadcast_cap(spark, tmp_path, monkeypatch):
    """The skip force-broadcasts the rare-candidate doc_ids; the driver-side
    Σ ledger-df(rare) bound must decline rather than broadcast an unbounded
    set — the 100×-scale guard."""
    from australian_company_etl_spark.serving import http_api as api

    _corpus, d = _crafted_ft_corpus(spark, tmp_path)
    monkeypatch.setattr(api, "MAXDF_BROADCAST_CAP", 0)
    rows, info = api.fulltext_rank_maxdf(spark, d, ["golden", "uid17"], 1, 60)
    assert rows is None and "broadcast cap" in info["reason"]


def test_maxdf_declines_before_the_candidate_probe_start_no_spark_job(spark, tmp_path):
    """Every max-df decision that declines before its candidate probe is
    taken from the probe-stat ledgers read on the driver (pyarrow), so it
    starts no Spark job: on the crafted hot corpora, "no hot terms",
    "every query term is hot" and "no rare term has any ledger postings"
    for full-text, "every query trigram is hot" and "no rare trigram has
    any ledger postings" for trigrams."""
    from australian_company_etl_spark.serving import http_api as api
    from tests.conftest import spark_jobs

    _corpus, ft = _crafted_ft_corpus(spark, tmp_path)
    _corpus, trgm = _crafted_trgm_corpus(spark, tmp_path)
    cases = [
        (lambda: api.fulltext_rank_maxdf(spark, ft, ["uid17", "uid03"], 2, 60), "no hot terms"),
        (
            lambda: api.fulltext_rank_maxdf(spark, ft, ["golden", "harvest"], 5, 60),
            "every query term is hot",
        ),
        (
            lambda: api.fulltext_rank_maxdf(spark, ft, ["golden", "zzznotaword"], 1, 60),
            "no rare term has any ledger postings",
        ),
        (
            lambda: api.trigram_rank_maxdf(spark, trgm, "golden harvest", 5),
            "every query trigram is hot",
        ),
        (
            lambda: api.trigram_rank_maxdf(spark, trgm, "golden 9999", 1),
            "no rare trigram has any ledger postings",
        ),
    ]
    for decide, reason in cases:
        out = []
        names = spark_jobs(spark, lambda: out.append(decide()))
        rows, info = out[0]
        assert rows is None and info["reason"] == reason, info
        assert names == [], (reason, names)


def test_nation_fold_equals_the_join_on_crafted_snapshots(spark, tmp_path):
    """D1 and D3 fold `nation` into their plans as literals instead of
    joining it. On nation tables built to stress the join — a key held by
    two rows (same and different names), a NULL key, a nation with no
    customers, a NULL name, a name with a quote and a backslash, and an
    empty table — with customers whose
    c_nationkey is NULL or has no nation row, both must equal
    LOOKUP_SQL / BY_STATE_SQL in DuckDB row for row, with the join plan's
    output schema."""
    import duckdb

    from pyspark.sql import functions as F

    from australian_company_etl_spark.sources.registry import load_tables, table_path

    customer = spark.createDataFrame(
        [
            (42, "c42", 3, 1.25, "A"),
            (43, "c43", 5, 2.5, "B"),
            (44, "c44", None, 3.0, "C"),
            (45, "c45", 11, 4.0, "D"),
            (46, "c46", 9, 5.0, "E"),
            (47, "c47", 3, 6.0, "F"),
            (48, "c48", 12, 7.0, "G"),
        ],
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    nations = {
        "crafted": [
            (3, "NATION_3"), (3, "NATION_3"), (5, "NATION_5"), (5, "NATION_X"),
            (None, "NATION_3"), (7, "NATION_7"), (9, None), (12, "O'Brien \\ Land"),
        ],
        "empty": [],
    }
    n_rows = {}
    for name, rows in nations.items():
        d = str(tmp_path / name)
        customer.write.parquet(table_path(d, "customer"))
        spark.createDataFrame(rows, "n_nationkey int, n_name string").write.parquet(
            table_path(d, "nation")
        )
        con = duckdb.connect()
        for t in ("customer", "nation"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(d, t)}/*.parquet')"
            )
        t = load_tables(spark, d, ["customer", "nation"])
        join = t["customer"].join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))

        def check(df, sql, ref):
            assert df.schema == ref.schema
            res = con.execute(sql)
            cols = [c[0] for c in res.description]
            want = canonical_rows(cols, res.fetchall())
            assert canonical_rows(cols, [tuple(r[c] for c in cols) for r in df.collect()]) == want
            n_rows[name] = n_rows.get(name, 0) + len(want)

        d1_ref = join.select(
            "c_custkey", "c_name", "c_mktsegment", F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
        for key in (42, 43, 44, 45, 46, 47, 48, 99):
            check(
                api_plans.api_lookup_by_key(spark, d, key=key),
                api_plans.LOOKUP_SQL.replace(f"= {api_plans.LOOKUP_KEY}", f"= {key}"),
                d1_ref,
            )
        for state in ("NATION_3", "NATION_5", "NATION_X", "NATION_7", "NATION_11"):
            check(
                api_plans.api_by_state(spark, d, state=state),
                api_plans.BY_STATE_SQL.replace(f"'{api_plans.STATE_NAME}'", f"'{state}'"),
                join.select("c_custkey", "c_name", "n_name"),
            )
        con.close()
    # D1: 42 ×2, 43 ×2, 46, 47 ×2, 48; D3: NATION_3 4, NATION_5 1, NATION_X 1
    assert n_rows == {"crafted": 14, "empty": 0}


def test_fulltext_maxdf_survives_appends_and_compaction_rebuild(spark, tmp_path):
    """Append-only stats maintenance must keep ledger df/max_tf at-or-above
    the postings ground truth (exactly equal on clean appends; re-delivered
    batches add nothing), the probe must stay row-identical to the full
    plan across appends, and compaction must REBUILD the ledger to exact
    single-file form. A torn ledger (emptied dir) must make the probe
    decline, never 500."""
    import glob
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from australian_company_etl_spark.serving import http_api as api
    from australian_company_etl_spark.sources.registry import table_path

    corpus, d = _crafted_ft_corpus(spark, tmp_path)
    docs = spark.read.parquet(corpus + "/documents.parquet")
    # rebuild the serving dir from the even half, then append the odd half
    shutil.rmtree(d)
    half_dir = str(tmp_path / "ft_half")
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(half_dir + "/documents.parquet")
    os.makedirs(d)
    meta = api.build_fulltext_index(spark, half_dir, d)
    with open(os.path.join(d, "_SNAPSHOT.json"), "w") as f:
        json.dump({"fulltext_index": meta}, f)
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    api.append_documents_to_index(spark, odd, d)
    api.append_documents_to_index(spark, odd, d)  # re-delivery: no-op

    stats_path = table_path(d, api.FULLTEXT_STATS)
    files_before = len(glob.glob(os.path.join(stats_path, "*.parquet")))
    assert files_before >= 2  # build + one effective append

    postings = spark.read.parquet(table_path(d, api.FULLTEXT_INDEX))
    truth = {
        r["tok"]: (r["df"], r["mtf"])
        for r in postings.groupBy("tok")
        .agg(F.count("*").alias("df"), F.max("tf").alias("mtf"))
        .collect()
    }
    ledger = {
        r["tok"]: (int(r["df"]), int(r["mtf"]))
        for r in spark.read.parquet(stats_path)
        .groupBy("tok")
        .agg(F.sum("df_inc").alias("df"), F.max("max_tf").alias("mtf"))
        .collect()
    }
    assert ledger == truth

    n_docs = json.load(open(os.path.join(d, "_SNAPSHOT.json")))["fulltext_index"]["n_docs"]
    assert n_docs == 60
    before, info = api.fulltext_rank_maxdf(spark, d, ["golden", "uid17"], 1, n_docs)
    assert info["used"], info
    full = [
        r.asDict()
        for r in api.fulltext_rank_from_index(spark, d, ["golden", "uid17"], 1, n_docs).collect()
    ]
    assert before == full

    out = api.compact_index(spark, d, "fulltext_index", n_files=4)
    assert out["ok"] and out["ledgers"][api.FULLTEXT_STATS] == len(truth)
    assert len(glob.glob(os.path.join(stats_path, "*.parquet"))) == 1
    rebuilt = {
        r["tok"]: (int(r["df_inc"]), int(r["max_tf"]))
        for r in spark.read.parquet(stats_path).collect()
    }
    assert rebuilt == truth
    after, info2 = api.fulltext_rank_maxdf(spark, d, ["golden", "uid17"], 1, n_docs)
    assert info2["used"] and after == before

    # truncated ledger file: probe declines with a reason, never raises
    (ledger_file,) = glob.glob(os.path.join(stats_path, "*.parquet"))
    os.truncate(ledger_file, os.path.getsize(ledger_file) // 2)
    rows, info4 = api.fulltext_rank_maxdf(spark, d, ["golden", "uid17"], 1, n_docs)
    assert rows is None and "unreadable stats ledger" in info4["reason"]

    # torn ledger: probe declines with a reason, never raises
    shutil.rmtree(stats_path)
    os.makedirs(stats_path)
    rows, info3 = api.fulltext_rank_maxdf(spark, d, ["golden", "uid17"], 1, n_docs)
    assert rows is None and "unreadable stats ledger" in info3["reason"]


def test_search_route_maxdf_matches_plain_and_scan(spark, tmp_path):
    """/search must serve identical bodies through all three paths on the
    crafted hot corpus: default (max-df first), ?maxdf=0 (plain probe),
    ?scan=1 (corpus scan)."""
    import json
    import os

    from australian_company_etl_spark.serving import http_api as api

    corpus, d = _crafted_ft_corpus(spark, tmp_path)
    # the scan path needs documents.parquet beside the index
    spark.read.parquet(corpus + "/documents.parquet").write.parquet(
        d + "/documents.parquet"
    )
    srv = api.make_server(spark, d)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    api.serve_in_thread(srv)
    try:
        q = "golden+uid17&k=1"
        s1, b1 = _get(base, f"/search?q={q}")
        s2, b2 = _get(base, f"/search?q={q}&maxdf=0")
        s3, b3 = _get(base, f"/search?q={q}&scan=1")
        assert s1 == s2 == s3 == 200
        assert b1["rows"] == b2["rows"] == b3["rows"]
        assert b1["rows"][0]["doc_id"] == 17
    finally:
        srv.shutdown()
        srv.server_close()


def test_routes_heal_midswap_crashed_compaction_at_request_time(spark, tmp_path):
    """A compactor that dies between its swap's two renames while the
    server is RUNNING leaves no live index directory; on a read-mostly box
    (no appenders) nothing would ever heal it — probes would degrade to
    the corpus scan or 500 until the next maintenance run. The routes must
    roll the window back at request time and serve from the healed INDEX
    (proven: the serving dirs here have no corpus tables, so a scan
    fallback would 500)."""
    import os

    from australian_company_etl_spark.serving import http_api as api
    from australian_company_etl_spark.sources.registry import table_path

    _corpus, d = _crafted_ft_corpus(spark, tmp_path)
    srv = api.make_server(spark, d)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    api.serve_in_thread(srv)
    try:
        s0, b0 = _get(base, "/search?q=golden+uid17&k=1")
        assert s0 == 200 and b0["rows"][0]["doc_id"] == 17
        idx = table_path(d, api.FULLTEXT_INDEX)
        # the exact mid-swap crash state: first rename done, second never ran
        os.rename(idx, idx + ".precompact")
        s1, b1 = _get(base, "/search?q=golden+uid17&k=1")
        assert s1 == 200 and b1["rows"] == b0["rows"]
        assert os.path.isdir(idx) and not os.path.exists(idx + ".precompact")
    finally:
        srv.shutdown()
        srv.server_close()

    tcorpus, td = _crafted_trgm_corpus(spark, tmp_path)
    srv = api.make_server(spark, td)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    api.serve_in_thread(srv)
    try:
        s0, b0 = _get(base, "/fuzzy?q=golden+uid17&k=1")
        assert s0 == 200 and b0["rows"][0]["p_partkey"] == 17
        idx = table_path(td, api.TRIGRAM_INDEX)
        os.rename(idx, idx + ".precompact")
        s1, b1 = _get(base, "/fuzzy?q=golden+uid17&k=1")
        assert s1 == 200 and b1["rows"] == b0["rows"]
        assert os.path.isdir(idx) and not os.path.exists(idx + ".precompact")
    finally:
        srv.shutdown()
        srv.server_close()


def test_trigram_rebuild_heals_corrupted_ledger_and_empty_batches(spark, tmp_path):
    """Review findings: (a) a corrupted/stale stats ledger (the old
    in-place fold's torn-overwrite window could leave min_n_trgm reading
    ABOVE the true corpus minimum — an unsound bound) must converge back
    to exact values at compaction, because the rebuild derives everything
    from the postings; (b) an append batch yielding ZERO trigrams (names
    with no alphanumerics) must not write a (0, NULL) meta row — NULL
    min_n_trgm rows used to crash the old fold with TypeError."""
    import glob
    import os

    from pyspark.sql import functions as F

    from australian_company_etl_spark.serving import http_api as api
    from australian_company_etl_spark.sources.registry import table_path

    _corpus, d = _crafted_trgm_corpus(spark, tmp_path)
    meta_path = table_path(d, api.TRIGRAM_META)
    with open(os.path.join(d, "_SNAPSHOT.json"), "w") as f:
        json.dump({"trigram_index": {"rows": 1}}, f)

    # (b) zero-trigram batch: no ledger rows, no postings, no crash
    meta_files = len(glob.glob(os.path.join(meta_path, "*.parquet")))
    junk = spark.createDataFrame(
        [(9001, "???"), (9002, "!!")], "p_partkey bigint, p_name string"
    )
    api.append_parts_to_trigram_index(spark, junk, d)
    assert len(glob.glob(os.path.join(meta_path, "*.parquet"))) == meta_files
    assert (
        spark.read.parquet(meta_path).filter(F.col("min_n_trgm").isNull()).count() == 0
    )

    # (a) corrupt the meta ledger the way a torn fold + later appends
    # could: min_n_trgm far ABOVE the true minimum (unsound direction)
    spark.createDataFrame(
        [(60, 999_999)], "n_parts_inc bigint, min_n_trgm bigint"
    ).coalesce(1).write.mode("overwrite").parquet(meta_path)
    out = api.compact_index(spark, d, "trigram_index", n_files=4)
    assert out["ok"] and out["ledgers"]["trigram_meta"] == 1
    postings = spark.read.parquet(table_path(d, api.TRIGRAM_INDEX))
    true_min = (
        postings.select("p_partkey", "n_trgm").distinct().agg(F.min("n_trgm")).collect()[0][0]
    )
    true_parts = postings.select("p_partkey").distinct().count()
    m = spark.read.parquet(meta_path).collect()
    assert len(m) == 1
    assert m[0]["min_n_trgm"] == true_min and m[0]["n_parts_inc"] == true_parts

    # the probe still fires exactly after the heal
    rows, info = api.trigram_rank_maxdf(spark, d, "golden uid17", 1)
    assert info["used"] and rows[0]["p_partkey"] == 17


def test_trigram_bound_rounds_up_like_spark_not_half_even(spark):
    """The guard bound must round UP (≥ Spark F.round's HALF_UP of the
    true value); Python round() is half-even and computes 1/128 one
    millionth LOW — the exactness hole the review found."""
    from australian_company_etl_spark.serving.http_api import _ceil_6dp

    assert round(1 / 128, 6) == 0.007812  # the buggy value
    assert _ceil_6dp(1, 128) == 0.007813  # == Spark HALF_UP, sound
    assert _ceil_6dp(1, 3) == 0.333334  # strict ceiling on non-terminating
    assert _ceil_6dp(1, 2) == 0.5  # exact grid values stay exact


def test_make_server_heals_ledger_under_index_lock(spark, tmp_path):
    """Both membership ledgers are swapped by `_compact_ledger` under the
    owning index's lock (here the fulltext doc ledger under the fulltext
    INDEX lock); the startup heal must take that same lock
    — a ledger-path lock of its own would not contend with a live ledger
    compaction and could roll back its mid-swap state (review finding)."""
    import os

    from australian_company_etl_spark.serving import http_api as api
    from australian_company_etl_spark.sources.registry import table_path

    docs, d = _build_half_corpus_index(spark, tmp_path)
    ledger = table_path(d, api.FULLTEXT_DOCS)
    n = spark.read.parquet(ledger).count()
    os.rename(ledger, ledger + ".precompact")
    # drop any lock files so the assertion below sees only make_server's
    for p in (ledger + ".lock", table_path(d, api.FULLTEXT_INDEX) + ".lock"):
        if os.path.exists(p):
            os.unlink(p)
    srv = api.make_server(spark, d)
    srv.server_close()
    assert os.path.isdir(ledger) and not os.path.exists(ledger + ".precompact")
    assert spark.read.parquet(ledger).count() == n
    # healed under the INDEX lock, not a ledger-path lock of its own
    assert os.path.exists(table_path(d, api.FULLTEXT_INDEX) + ".lock")
    assert not os.path.exists(ledger + ".lock")


def _trgm_snapshot(spark, tmp_path) -> str:
    """The crafted trigram corpus's index with its manifest entry."""
    import json
    import os

    _corpus, d = _crafted_trgm_corpus(spark, tmp_path)
    with open(os.path.join(d, "_SNAPSHOT.json"), "w") as f:
        json.dump({"trigram_index": {"rows": 1}}, f)
    return d


def test_trigram_append_remembers_parts_without_trigrams(spark, tmp_path):
    """A part whose name yields no trigrams never enters the postings, so
    only the `trigram_parts` ledger can remember it: its re-delivery must
    append nothing. The first append backfills the ledger from the
    postings, so every indexed part is a member too."""
    import os

    from australian_company_etl_spark.serving import http_api as api
    from australian_company_etl_spark.sources.registry import table_path

    d = _trgm_snapshot(spark, tmp_path)
    ledger = table_path(d, api.TRIGRAM_PARTS)
    assert not os.path.exists(ledger)  # the build publishes none
    junk = spark.createDataFrame(
        [(9001, "???"), (9002, "!!")], "p_partkey bigint, p_name string"
    )
    assert api.append_parts_to_trigram_index(spark, junk, d)["parts_appended"] == 2
    assert api.append_parts_to_trigram_index(spark, junk, d)["parts_appended"] == 0
    indexed = spark.read.parquet(table_path(d, api.TRIGRAM_INDEX)).select("p_partkey")
    members = {r.p_partkey for r in spark.read.parquet(ledger).collect()}
    assert members == {r.p_partkey for r in indexed.distinct().collect()} | {9001, 9002}


def test_make_server_heals_trigram_parts_under_index_lock(spark, tmp_path):
    """The trigram part ledger is swapped by compaction under the trigram
    INDEX lock, like the full-text doc ledger: a crash between the swap's
    two renames strands it in `.precompact`, and make_server must restore
    it under that same lock, not one of its own."""
    import os

    from australian_company_etl_spark.serving import http_api as api
    from australian_company_etl_spark.sources.registry import table_path

    d = _trgm_snapshot(spark, tmp_path)
    none = spark.createDataFrame([], "p_partkey bigint, p_name string")
    api.append_parts_to_trigram_index(spark, none, d)  # backfills the ledger
    ledger = table_path(d, api.TRIGRAM_PARTS)
    n = spark.read.parquet(ledger).count()
    assert n == 60
    os.rename(ledger, ledger + ".precompact")
    for p in (ledger + ".lock", table_path(d, api.TRIGRAM_INDEX) + ".lock"):
        if os.path.exists(p):
            os.unlink(p)
    srv = api.make_server(spark, d)
    srv.server_close()
    assert os.path.isdir(ledger) and not os.path.exists(ledger + ".precompact")
    assert spark.read.parquet(ledger).count() == n
    assert os.path.exists(table_path(d, api.TRIGRAM_INDEX) + ".lock")
    assert not os.path.exists(ledger + ".lock")


def test_rebuild_drops_a_stranded_trigram_parts_backup(spark, tmp_path):
    """A crash between a ledger swap's two renames strands the old
    `trigram_parts` in `.precompact`. A rebuild over a new corpus must drop
    that backup too: otherwise the next append's heal restores it as the
    new corpus's ledger, and a new part whose key the old corpus held is
    taken for a member and never indexed."""
    import os

    from australian_company_etl_spark.serving import http_api as api
    from australian_company_etl_spark.sources.registry import table_path

    d = _trgm_snapshot(spark, tmp_path)
    none = spark.createDataFrame([], "p_partkey bigint, p_name string")
    api.append_parts_to_trigram_index(spark, none, d)  # backfills the ledger
    ledger = table_path(d, api.TRIGRAM_PARTS)
    os.rename(ledger, ledger + ".precompact")
    corpus = str(tmp_path / "corpus2")
    spark.createDataFrame(
        [(100, "zinc bracket"), (101, "brass hinge")], "p_partkey bigint, p_name string"
    ).write.parquet(corpus + "/part.parquet")
    api.build_trigram_index(spark, corpus, d)
    assert not os.path.exists(ledger + ".precompact")
    # key 5 was a member of the old corpus, not of the new one
    batch = spark.createDataFrame([(5, "azure widget")], "p_partkey bigint, p_name string")
    assert api.append_parts_to_trigram_index(spark, batch, d)["parts_appended"] == 1
    idx = spark.read.parquet(table_path(d, api.TRIGRAM_INDEX))
    assert {r.p_partkey for r in idx.select("p_partkey").distinct().collect()} == {5, 100, 101}
    members = {r.p_partkey for r in spark.read.parquet(ledger).collect()}
    assert members == {5, 100, 101}


def test_maintain_index_compacts_trigram_index_by_its_own_term(
    spark, tmp_path, monkeypatch, capsys
):
    """`scripts/maintain_index.py compact --index trigram_index` needs no
    sort key: compaction takes it from the index (trgm here), and every
    compacted file is trgm-sorted."""
    import glob
    import json
    import sys

    import pyarrow.parquet as pq

    from australian_company_etl_spark.serving import http_api as api
    from australian_company_etl_spark.sources.registry import table_path
    from scripts import maintain_index

    d = _trgm_snapshot(spark, tmp_path)
    batch = spark.createDataFrame(
        [(500, "azure widget"), (501, "zinc bracket")], "p_partkey bigint, p_name string"
    )
    api.append_parts_to_trigram_index(spark, batch, d)
    argv = ["maintain_index.py", "compact", "--data-dir", d, "--index", "trigram_index"]
    monkeypatch.setattr(sys, "argv", argv + ["--n-files", "2"])
    assert maintain_index.main() == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    path = table_path(d, api.TRIGRAM_INDEX)
    assert out["ok"] and out["rows"] == spark.read.parquet(path).count()
    assert out["ledger"]["rows"] == 62
    for f in glob.glob(path + "/*.parquet"):
        trgm = pq.read_table(f, columns=["trgm"]).column("trgm").to_pylist()
        assert trgm == sorted(trgm)


def test_maxdf_param_parsed_and_bounded(spark, tmp_path):
    """?maxdf must behave like every other parameter: a custom threshold
    takes effect (0.999 classifies nothing hot -> decline -> plain rows),
    non-numeric and out-of-range values 400 (previously anything but the
    literal '0' was silently ignored)."""
    from australian_company_etl_spark.serving import http_api as api

    _corpus, d = _crafted_ft_corpus(spark, tmp_path)
    srv = api.make_server(spark, d)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    api.serve_in_thread(srv)
    try:
        q = "golden+uid17&k=1"
        s1, b1 = _get(base, f"/search?q={q}")
        s2, b2 = _get(base, f"/search?q={q}&maxdf=0.999")  # nothing is hot
        s3, b3 = _get(base, f"/search?q={q}&maxdf=0.0")  # numeric opt-out
        assert s1 == s2 == s3 == 200
        assert b1["rows"] == b2["rows"] == b3["rows"]
        s4, _ = _get(base, f"/search?q={q}&maxdf=abc")
        s5, _ = _get(base, f"/search?q={q}&maxdf=2")
        assert s4 == 400 and s5 == 400
        s6, _ = _get(base, f"/fuzzy?q={q}&maxdf=-1")
        assert s6 == 400
    finally:
        srv.shutdown()
        srv.server_close()


def test_rebuild_crash_leaves_stat_ledgers_absent_not_stale(spark, tmp_path, monkeypatch):
    """ADVICE r7 (low): the build paths used to write the probe-stat
    ledgers AFTER overwriting the postings, so a crash in between during a
    rebuild over an existing snapshot left a stale-but-READABLE ledger
    whose min_n_trgm can exceed (or max_tf undercut) the new corpus's
    values — the soundness violation every other path excludes. The fix
    drops the ledgers BEFORE the postings overwrite: the crash window now
    leaves them ABSENT (probe declines), never stale."""
    import os

    from pyspark.sql import functions as F

    from australian_company_etl_spark.serving import http_api as api
    from australian_company_etl_spark.serving.http_api import table_path

    # trigram side: first build over the full part table, then a crashed
    # rebuild over one part (simulated by failing the stats write — the
    # exact post-postings crash point)
    d = str(tmp_path / "snap")
    os.makedirs(d)
    api.build_trigram_index(spark, SF_DIR, d)
    assert os.path.exists(table_path(d, api.TRIGRAM_STATS))
    assert os.path.exists(table_path(d, api.TRIGRAM_META))

    small_dir = str(tmp_path / "small")
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    part.filter(F.col("p_partkey") <= 5).write.parquet(small_dir + "/part.parquet")

    def boom(*a, **kw):
        raise RuntimeError("crash before stats write")

    monkeypatch.setattr(api, "_write_ledgers", boom)
    with pytest.raises(RuntimeError):
        api.build_trigram_index(spark, small_dir, d)
    monkeypatch.undo()
    # postings overwritten, ledgers ABSENT — not the old corpus's values
    assert not os.path.exists(table_path(d, api.TRIGRAM_STATS))
    assert not os.path.exists(table_path(d, api.TRIGRAM_META))
    # and the probe declines instead of mis-skipping
    hits, info = api.trigram_rank_maxdf(spark, d, "promo burnished", 5)
    assert hits is None and "no stats" in info["reason"]

    # fulltext side: same window, same invariant (stats + doc ledger)
    ft = str(tmp_path / "ft")
    os.makedirs(ft)
    api.build_fulltext_index(spark, SF_DIR, ft)
    assert os.path.exists(table_path(ft, api.FULLTEXT_STATS))
    docs_dir = str(tmp_path / "docs_small")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.filter(F.col("doc_id") <= 5).write.parquet(docs_dir + "/documents.parquet")
    monkeypatch.setattr(api, "_write_ledgers", boom)
    with pytest.raises(RuntimeError):
        api.build_fulltext_index(spark, docs_dir, ft)
    monkeypatch.undo()
    assert not os.path.exists(table_path(ft, api.FULLTEXT_STATS))


#: Spark jobs per repeated request once the schemas of every table and
#: index a route reads are cached: the plan's own jobs and nothing else
#: (an uncached read adds one `parquet at ...` inference job per table or
#: index the route touches)
_WARM_ROUTE_JOBS = [
    (f"/companies/{api_plans.LOOKUP_KEY}", 1, 1),  # nation folded in: the collect
    (f"/companies/by_state?state={api_plans.STATE_NAME}", 1, 1),
    (f"/companies/search?q={api_plans.SEARCH_PATTERN}", 1, 1),
    (f"/companies?after={api_plans.PAGE_AFTER}&limit={api_plans.PAGE_SIZE}", 1, 1),
    # a max-df decline before the candidate probe reads its ledgers with no job
    ("/search?q=" + "+".join(api_plans.FT_QUERY_TERMS), 1, 4),
    (f"/fuzzy?q={api_plans.TRGM_QUERY.replace(' ', '+')}", 1, 2),
]


@pytest.mark.parametrize("path,lo,hi", _WARM_ROUTE_JOBS)
def test_repeated_route_starts_no_schema_inference_job(spark, server, path, lo, hi):
    """A route repeated over an unchanged snapshot must pay only its plan's
    jobs: `read_parquet` infers each table's schema once, so no `parquet
    at ...` (footer inference) job may run on the repeat."""
    from tests.conftest import spark_jobs

    status, _ = _get(server, path)
    assert status == 200
    names = spark_jobs(spark, lambda: _get(server, path))
    assert not [n for n in names if n.startswith("parquet at")], names
    assert lo <= len(names) <= hi, names


def test_search_after_append_and_compaction_equals_scan(spark, tmp_path):
    """The schema cache must never hide a change to the files: with every
    table and index of `/search` and `/search?scan=1` already read once,
    append documents (to the snapshot's table and, through
    `append_documents_to_index`, to the index), then compact the index;
    after each step the index answer must equal the scan plan's."""
    import os

    from pyspark.sql import functions as F

    from australian_company_etl_spark.serving import http_api as api
    from australian_company_etl_spark.sources.registry import load_tables, table_path

    snap = str(tmp_path / "snap")
    snapshot_tables(spark, SF_DIR, snap, tables=["documents"])
    srv = make_server(spark, snap)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    serve_in_thread(srv)
    path = "/search?q=data+document+order&k=15"

    def index_equals_scan() -> list:
        s_i, idx = _get(base, path)
        s_s, scan = _get(base, path + "&scan=1")
        assert s_i == s_s == 200
        assert idx["n"] > 0
        assert idx["rows"] == scan["rows"]
        return idx["rows"]

    try:
        before = index_equals_scan()
        docs = load_tables(spark, SF_DIR, ["documents"])["documents"]
        new = docs.filter(F.col("doc_id") % 3 == 0).withColumn(
            "doc_id", F.col("doc_id") + 10**6
        )
        new.write.mode("append").parquet(table_path(snap, "documents"))
        assert api.append_documents_to_index(spark, new, snap)["docs_appended"] > 0
        after_append = index_equals_scan()
        assert after_append != before
        out = api.compact_index(spark, snap, api.FULLTEXT_INDEX)
        assert out["ok"] and os.path.isdir(table_path(snap, api.FULLTEXT_INDEX))
        assert index_equals_scan() == after_append
    finally:
        srv.shutdown()
        srv.server_close()


def test_concurrent_appends_to_both_indexes_keep_every_manifest_update(spark, tmp_path):
    """The full-text and trigram appenders each read-modify-write the one
    `_SNAPSHOT.json`; run side by side they must not lose either update:
    the manifest's trigram row count and full-text n_docs must equal the
    index and doc-ledger counts after every trial."""
    import json
    import os
    import threading

    from pyspark.sql import functions as F

    from australian_company_etl_spark.serving import http_api as api
    from australian_company_etl_spark.sources.registry import load_tables, table_path

    snap = str(tmp_path / "snap")
    snapshot_tables(spark, SF_DIR, snap, tables=["documents", "part"])
    t = load_tables(spark, SF_DIR, ["documents", "part"])
    docs = t["documents"].select("doc_id", "text")
    parts = t["part"].select("p_partkey", "p_name")
    for trial in range(1, 4):
        shift = trial * 10**6
        jobs = [
            (api.append_documents_to_index, docs.withColumn("doc_id", F.col("doc_id") + shift)),
            (api.append_parts_to_trigram_index,
             parts.withColumn("p_partkey", F.col("p_partkey") + shift)),
        ]
        start = threading.Barrier(len(jobs))
        errors: list[BaseException] = []

        def run(fn, batch):
            try:
                start.wait()
                fn(spark, batch, snap)
            except BaseException as exc:  # noqa: BLE001 — re-raised below
                errors.append(exc)

        threads = [threading.Thread(target=run, args=job) for job in jobs]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=600)
        assert not errors, errors
        with open(os.path.join(snap, "_SNAPSHOT.json")) as f:
            manifest = json.load(f)
        trigram_rows = spark.read.parquet(table_path(snap, api.TRIGRAM_INDEX)).count()
        ledger_docs = spark.read.parquet(table_path(snap, api.FULLTEXT_DOCS)).count()
        assert manifest[api.TRIGRAM_INDEX]["rows"] == trigram_rows, trial
        assert manifest[api.FULLTEXT_INDEX]["n_docs"] == ledger_docs, trial
