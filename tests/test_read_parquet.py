"""`sources.registry.read_parquet`: a table's schema is inferred once and
reused while the files behind its path are unchanged. The cache is keyed
by file identity, so these tests rewrite tables in place (same path, new
schema) and check that every read sees the new files' schema."""

from __future__ import annotations

import errno
import os

import pytest

from australian_company_etl_spark.sources import registry
from australian_company_etl_spark.sources.registry import load_tables, read_parquet, table_path
from tests.conftest import spark_jobs


def _inference_jobs(spark, fn) -> int:
    return sum(n.startswith("parquet at") for n in spark_jobs(spark, fn))


def test_repeat_read_starts_no_job_and_rewrite_is_seen(spark, tmp_path):
    """A repeat read of an unchanged directory starts no inference job; an
    overwrite at the same path with an added column is inferred again and
    `load_tables` returns the new schema and rows."""
    d = str(tmp_path)
    path = table_path(d, "nation")
    spark.createDataFrame([(0, "A")], "n_nationkey bigint, n_name string").write.parquet(path)
    assert load_tables(spark, d, ["nation"])["nation"].columns == ["n_nationkey", "n_name"]
    assert _inference_jobs(spark, lambda: load_tables(spark, d, ["nation"])) == 0

    spark.createDataFrame(
        [(0, "A", 7)], "n_nationkey bigint, n_name string, n_regionkey bigint"
    ).write.mode("overwrite").parquet(path)
    nation = load_tables(spark, d, ["nation"])["nation"]
    assert nation.columns == ["n_nationkey", "n_name", "n_regionkey"]
    assert [tuple(r) for r in nation.collect()] == [(0, "A", 7)]


@pytest.mark.parametrize("layout", ["directory", "file"])
def test_file_rewritten_under_the_same_name_is_seen(spark, tmp_path, layout):
    """A file rewritten in place under its old name (pyarrow, not Spark's
    unique part names) changes size or mtime, so the next read infers the
    new schema — as a part file in a table directory and as a table that
    is a single file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path)
    path = table_path(d, "nation")
    target = path
    if layout == "directory":
        os.makedirs(path)
        target = os.path.join(path, "part-0.parquet")
    pq.write_table(pa.table({"n_nationkey": [0, 1]}), target)
    assert load_tables(spark, d, ["nation"])["nation"].columns == ["n_nationkey"]

    pq.write_table(pa.table({"n_nationkey": [0, 1], "n_name": ["A", "B"]}), target)
    nation = load_tables(spark, d, ["nation"])["nation"]
    assert nation.columns == ["n_nationkey", "n_name"]
    assert sorted(tuple(r) for r in nation.collect()) == [(0, "A"), (1, "B")]

    # same size, new column name: only the mtime tells the files apart
    size = os.path.getsize(target)
    mtime = os.stat(target).st_mtime_ns
    pq.write_table(pa.table({"n_nationkey": [0, 1], "n_xxxx": ["A", "B"]}), target)
    assert os.path.getsize(target) == size
    os.utime(target, ns=(mtime + 10**9, mtime + 10**9))
    assert read_parquet(spark, path).columns == ["n_nationkey", "n_xxxx"]


def test_listing_failure_falls_back_to_a_plain_read(spark, tmp_path, monkeypatch):
    """A file that vanishes while the directory is fingerprinted (an
    `os.stat` FileNotFoundError, as during a compaction swap) must not fail
    the read: it falls back to plain `spark.read.parquet`."""
    path = str(tmp_path / "t.parquet")
    spark.range(10).repartition(2).write.parquet(path)
    assert read_parquet(spark, path).count() == 10

    real_stat = os.stat
    failed: list[str] = []

    def stat_once(p, *a, **kw):
        if not failed and str(p).startswith(path):
            failed.append(str(p))
            raise FileNotFoundError(errno.ENOENT, "vanished", str(p))
        return real_stat(p, *a, **kw)

    monkeypatch.setattr(registry.os, "stat", stat_once)
    assert read_parquet(spark, path).count() == 10
    assert failed
    monkeypatch.undo()
    assert read_parquet(spark, path).count() == 10


def test_parquet_rows_equals_a_spark_count(spark, tmp_path):
    """`registry.parquet_rows` sums the footers of exactly the files Spark
    reads, with no Spark job: it equals `read_parquet(...).count()` on a
    flat directory, a `key=value`-partitioned one, after an append and
    after a `compact_index` swap of a small full-text index that took two
    appends. `_SUCCESS`, `.crc` and a
    `_common_metadata` summary (here a copy of a data file, so counting it
    would show) are not counted. `registry.parquet_columns` reads the same
    files, with and without a filter, also with no Spark job."""
    import glob
    import json
    import shutil

    from pyspark.sql import functions as F

    from australian_company_etl_spark.serving import http_api as api

    flat = table_path(str(tmp_path), "flat")
    spark.range(100).repartition(3).write.parquet(flat)
    parted = table_path(str(tmp_path), "parted")
    spark.range(50).withColumn("k", F.col("id") % 3).write.partitionBy("k").parquet(parted)
    part = sorted(glob.glob(os.path.join(flat, "part-*.parquet")))[0]
    shutil.copy(part, os.path.join(flat, "_common_metadata"))
    assert os.path.exists(os.path.join(flat, "_SUCCESS"))
    assert glob.glob(os.path.join(flat, ".*.crc"))

    def same_count(path: str, rows: int, col: str = "id") -> None:
        assert spark_jobs(spark, lambda: registry.parquet_rows(path)) == []
        assert registry.parquet_rows(path) == read_parquet(spark, path).count() == rows
        # `parquet_columns` reads the same files, also with no Spark job
        assert spark_jobs(spark, lambda: registry.parquet_columns(path, [col])) == []
        ids = sorted(registry.parquet_columns(path, [col]).column(col).to_pylist())
        assert ids == sorted(r[col] for r in read_parquet(spark, path).select(col).collect())
        some = registry.parquet_columns(path, [col], registry.where_in(col, [3, 5]))
        assert some.num_rows == ids.count(3) + ids.count(5) > 0

    same_count(flat, 100)
    same_count(parted, 50)
    spark.range(100, 107).write.mode("append").parquet(flat)
    same_count(flat, 107)

    # two distinct tokens per document: 90 documents hold 180 postings
    docs = spark.range(90).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.concat(F.lit("w"), F.col("id") % 7), F.concat(F.lit("x"), "id"))
        .alias("text"),
    )
    corpus, d = str(tmp_path / "corpus"), str(tmp_path / "snap")
    docs.filter(F.col("doc_id") < 30).write.parquet(table_path(corpus, "documents"))
    os.makedirs(d)
    with open(os.path.join(d, api.MANIFEST), "w") as f:
        json.dump({api.FULLTEXT_INDEX: api.build_fulltext_index(spark, corpus, d, n_files=2)}, f)
    for lo in (30, 60):
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 30))
        api.append_documents_to_index(spark, batch, d)
    assert api.compact_index(spark, d, api.FULLTEXT_INDEX, n_files=2)["ok"]
    same_count(table_path(d, api.FULLTEXT_INDEX), 180, "doc_id")


@pytest.mark.parametrize("when", ["listing", "footer"])
def test_parquet_rows_raises_when_a_file_vanishes(spark, tmp_path, monkeypatch, when):
    """A file that vanishes while `parquet_rows` lists the directory (the
    `os.stat` of the listing) or before its footer is read must raise, not
    return the sum of the files that are left."""
    path = str(tmp_path / "t.parquet")
    spark.range(10).repartition(2).write.parquet(path)
    if when == "listing":
        real_stat = os.stat

        def stat(p, *a, **kw):
            if str(p).startswith(path) and str(p).endswith(".parquet") and p != path:
                raise FileNotFoundError(errno.ENOENT, "vanished", str(p))
            return real_stat(p, *a, **kw)

        monkeypatch.setattr(registry.os, "stat", stat)
    else:
        real_key = registry._files_key

        def key_then_vanish(p):
            key = real_key(p)
            os.remove(os.path.join(p, key[0][0]))
            return key

        monkeypatch.setattr(registry, "_files_key", key_then_vanish)
    with pytest.raises(OSError):
        registry.parquet_rows(path)
