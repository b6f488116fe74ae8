"""The sharded full-text serving index (`/search?shard=1`).

Past ~1e6 docs/token a flat posting run for a stop-word token is
unbounded; the serving fork stores each token's postings as (tok, shard)
segment rows instead. These tests prove, on a CRAFTED HOT-TOKEN corpus
(one token in every document, spanning many shards):

- the serving probe over sharded segments is row-identical to the flat
  index probe (D5 ranking equality), end-to-end through /search?shard=1,
- an appended batch's segments stay additive (no read-modify-write) and
  preserve ranking equality.
"""

from __future__ import annotations

import json
import urllib.request

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def hot_corpus(spark, tmp_path_factory):
    """300 docs that all contain the token 'stopword' (df = N spanning many
    shards at shard_docs=25) plus a distinguishing rare token per bucket."""
    out = str(tmp_path_factory.mktemp("hot_corpus"))
    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("stopword common filler "),
            F.lit("rare"), (F.col("id") % 7).cast("string"),
            F.lit(" tail"), F.col("id").cast("string"),
        ).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("crafted.example").alias("source"),
    ).withColumn("n_chars", F.length("text").cast("bigint"))
    docs.write.parquet(out + "/documents.parquet")
    return out


# ── serving probe equality (flat vs sharded), incl. the append path ─────────


@pytest.fixture(scope="module")
def snap(spark, hot_corpus, tmp_path_factory):
    from australian_company_etl_spark.serving.http_api import snapshot_tables

    out = str(tmp_path_factory.mktemp("sharded_snap"))
    manifest = snapshot_tables(spark, hot_corpus, out, tables=["documents"])
    assert "fulltext_sharded" in manifest
    return out, manifest


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_sharded_probe_row_identical_to_flat(spark, snap):
    from australian_company_etl_spark.serving.http_api import (
        fulltext_rank_from_index,
        fulltext_rank_from_sharded,
    )

    out, manifest = snap
    n_docs = manifest["fulltext_index"]["n_docs"]
    for terms in (["stopword"], ["stopword", "rare3"], ["rare1", "tail42"]):
        flat = _rows(fulltext_rank_from_index(spark, out, terms, 10, n_docs))
        shd = _rows(fulltext_rank_from_sharded(spark, out, terms, 10, n_docs))
        assert flat == shd, terms


def test_append_batch_is_additive_and_stays_exact(spark, snap, tmp_path):
    from australian_company_etl_spark.serving.http_api import (
        FULLTEXT_SHARDED,
        append_documents_to_index,
        append_documents_to_sharded,
        fulltext_rank_from_index,
        fulltext_rank_from_sharded,
    )
    from australian_company_etl_spark.sources.registry import table_path

    out, manifest = snap
    before = spark.read.parquet(table_path(out, FULLTEXT_SHARDED))
    n_before = before.count()
    # batch lands INSIDE existing shard ranges (doc_ids 300-319 share shard
    # 12 with nothing; 310 div 25 = 12 — and token 'stopword' again) so the
    # hot token gains additive segment rows without rewriting old ones
    batch = spark.range(300, 320).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("stopword appended batch doc "), F.col("id").cast("string")).alias(
            "text"
        ),
        F.lit("en").alias("lang"),
        F.lit("crafted.example").alias("source"),
    ).withColumn("n_chars", F.length("text").cast("bigint"))
    append_documents_to_index(spark, batch, out)
    append_documents_to_sharded(spark, batch, out, shard_docs=25)
    after = spark.read.parquet(table_path(out, FULLTEXT_SHARDED))
    assert after.count() > n_before
    # old segment rows survived byte-identically (append-only)
    assert before.exceptAll(after).count() == 0
    with open(f"{out}/_SNAPSHOT.json") as f:
        n_docs = json.load(f)["fulltext_index"]["n_docs"]
    assert n_docs == 320
    for terms in (["stopword"], ["stopword", "appended"], ["batch", "rare5"]):
        flat = _rows(fulltext_rank_from_index(spark, out, terms, 10, n_docs))
        shd = _rows(fulltext_rank_from_sharded(spark, out, terms, 10, n_docs))
        assert flat == shd, terms


# ── HTTP end-to-end: /search?shard=1 ────────────────────────────────────────


def _get(base: str, path: str):
    try:
        with urllib.request.urlopen(base + path, timeout=120) as r:
            return r.status, json.load(r)
    except urllib.error.HTTPError as e:
        return e.code, json.load(e)


def test_search_shard_param_end_to_end(spark, snap):
    from australian_company_etl_spark.serving.http_api import (
        make_server,
        serve_in_thread,
    )

    out, _ = snap
    srv = make_server(spark, out, port=0)
    serve_in_thread(srv)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        s1, flat = _get(base, "/search?q=stopword+rare2&k=10")
        s2, shd = _get(base, "/search?q=stopword+rare2&k=10&shard=1")
        assert s1 == 200 and s2 == 200
        assert flat == shd
        assert shd["n"] > 0
    finally:
        srv.shutdown()


def test_search_shard_on_snapshot_without_sharded_index_is_400(spark, tmp_path):
    from australian_company_etl_spark.serving.http_api import (
        FULLTEXT_SHARDED,
        make_server,
        serve_in_thread,
        snapshot_tables,
    )
    from australian_company_etl_spark.sources.registry import table_path

    out = str(tmp_path / "nosharded")
    snapshot_tables(spark, SF_DIR, out, tables=["documents"])
    import shutil

    shutil.rmtree(table_path(out, FULLTEXT_SHARDED))
    srv = make_server(spark, out, port=0)
    serve_in_thread(srv)
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        status, body = _get(base, "/search?q=stopword&shard=1")
        assert status == 400
        assert "sharded" in body["error"]
    finally:
        srv.shutdown()
