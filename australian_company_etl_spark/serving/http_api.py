"""HTTP lookup service over a Spark-published parquet snapshot.

Reference parity: the reference serves point lookups from its terminal
Postgres store via FastAPI (fastapi_service/main.py:15-59 — GET
/companies/{abn}, /companies/search, /companies/by_state). Spark-first,
the same component splits into the two halves a lakehouse deployment
actually has:

1. **Publish** (`snapshot_tables`): Spark writes the serving snapshot —
   the batch engine's output IS the serving store, refreshed per ETL run
   exactly like the reference's Postgres load. The write is verified by
   re-read (row count + order-insensitive content hash per table, the A9
   manifest discipline) before the server ever points at it.
2. **Serve** (`make_server`): a thin stdlib HTTP front end whose routes
   are the D1-D6 plan functions (plans/api.py) run against the snapshot —
   the SAME parameterized plans the correctness gate proves against the
   DuckDB oracles, so route semantics are gate-checked by construction.

Scale posture: every route is a pushed-down point/top-k plan (keyset
pagination D4, the 25-row nation dimension folded into D1/D3 as
literals, sort-limit top-k D5/D6), never an OFFSET walk or full collect.
Every table and index is read through `sources.registry.read_parquet`,
so a request over an unchanged snapshot pays its plan's Spark jobs and
no schema-inference job; small metadata the driver can answer itself
(the nation rows, the max-df probe-stat ledgers) is read with pyarrow
(`registry.parquet_columns`) and starts no job at all. Jobs per warm
request: `/companies/{key}` 1 (the collect), `/companies/by_state` 1,
`/companies/search` 1, `/companies` 1, and at most 4 for `/search` and
2 for `/fuzzy` when the max-df skip declines before its candidate
probe (its ledger reads start none). On a real cluster the snapshot
lives in object storage; latency-critical keys could additionally be
fronted by a key-value projection of the same snapshot — the routes and
their semantics (and this module's tests) stay identical. The stdlib
server is deliberately dependency-free (no FastAPI in the sandbox); it is
the protocol shim, not the engine.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from australian_company_etl_spark.plans import api as api_plans
from australian_company_etl_spark.sources.publish import (
    BACKUP,
    REWRITE,
    drop_dir,
    heal_swap,
    swap_in,
    write_digested,
    write_json_atomic,
)
# module-global name: tests patch it to corrupt a publish's or compaction's verify
from australian_company_etl_spark.sources.publish import table_digest as _table_digest
from australian_company_etl_spark.sources.registry import (
    load_tables, parquet_columns, parquet_rows, read_parquet, table_path, where_in,
)

#: tables the D-family routes read; the snapshot contains exactly these.
SERVING_TABLES = ["customer", "nation", "part", "documents"]

MAX_PAGE_SIZE = 1000  # serving-side cap: a page is a page, not an export

#: the snapshot manifest: row counts, digests and index sizes per table
MANIFEST = "_SNAPSHOT.json"

FULLTEXT_INDEX = "fulltext_index"
#: doc ledger beside the full-text index: one row per indexed doc_id. It —
#: not the posting rows — is the membership authority for incremental
#: maintenance, so a document with ZERO tokens is still remembered and its
#: re-delivery is a no-op (posting rows alone can't represent it), and
#: n_docs (idf's denominator) is always exactly the ledger count. At 100 TB
#: this is the processed-doc ledger a Bloom filter (M3) fronts.
FULLTEXT_DOCS = "fulltext_docs"
#: append-only (tok, df_inc, max_tf) probe-stat ledger beside the full-text
#: index, written BEFORE each postings append (a crash inflates df/max_tf,
#: and the max-df probe's exactness bound only uses max_tf as an UPPER
#: bound on any indexed tf, so inflation can only cause declines, never
#: wrong rows). Unlike the doc ledger this is NO membership authority:
#: every value in it is derivable from the postings, so compaction
#: REBUILDS it wholesale from the compacted index instead of folding rows —
#: which also heals every torn/absent state for free. Optional perf
#: structure: absent or unreadable ⇒ the probe declines to the plain plan.
FULLTEXT_STATS = "fulltext_stats"
#: sharded posting segments beside the flat index (r12): one row per
#: (tok, shard) carrying doc_id-sorted arrays — the bounded-row form the
#: H12 docstring promises past ~1e6 docs/token, served under /search?shard=1
FULLTEXT_SHARDED = "fulltext_sharded"
#: doc_ids per shard segment; small locally so gate corpora produce real
#: multi-shard tokens — at scale pick ~1e5-1e6 (segment row ≈ one row group)
FT_SHARD_DOCS = 100

TRIGRAM_INDEX = "trigram_index"
#: part ledger beside the trigram index, FULLTEXT_DOCS's twin: one row per
#: indexed p_partkey, so a part whose name yields no trigrams is remembered
#: and its re-delivery appends nothing. Builds publish without it (it is
#: dropped with the postings they replace); the first append backfills it
#: from the postings' distinct p_partkeys.
TRIGRAM_PARTS = "trigram_parts"
#: optional probe-cost statistics beside the trigram index, both APPEND-ONLY
#: ledgers (same dataflow as the postings): `trigram_stats` holds (trgm,
#: df_inc) rows — a trigram's document frequency is the SUM of its rows —
#: and `trigram_meta` holds (n_parts_inc, min_n_trgm) rows — corpus size is
#: the sum, the corpus-wide minimum distinct-trigram count is the min.
#: They exist solely for the max-df probe skip (`trigram_rank_maxdf`);
#: when absent or stale the probe falls back to the full plan, so they are
#: never a correctness dependency. Append ordering makes the guard SOUND
#: under crashes: both ledger rows are written BEFORE the postings, so a
#: crash in the window leaves min_n_trgm ≤ the true min (the guard's only
#: soundness input) and df/n_parts inflated — inflation only shifts the
#: hot/rare split and the fallback rate, never the served rows.
TRIGRAM_STATS = "trigram_stats"
TRIGRAM_META = "trigram_meta"
#: max-df probe declines when the rare-candidate upper bound (Σ df of the
#: rare query trigrams, from the stats ledger) exceeds this — the skip's
#: semi-join force-broadcasts the candidate keys, and ~500k bigint keys is
#: a conservative executor-memory-safe broadcast at any cluster size.
MAXDF_BROADCAST_CAP = 500_000


@contextlib.contextmanager
def _index_lock(path: str, timeout: float = 60.0):
    """Advisory mutual exclusion between index APPENDERS and COMPACTION.

    ``compact_index`` rewrites from a point-in-time file listing and swaps
    directories; a posting batch appended between that listing and the swap
    would silently vanish with the old directory (scripts/maintain_index.py
    documents cron-pairing frequent 'stream' with periodic 'compact', so
    overlap IS the deployment shape). Both sides therefore hold this lock:
    appenders for their read-membership → write → manifest window,
    compaction for its delta re-diff + directory swap (its long rewrite
    phase runs UNLOCKED; files appended meanwhile are detected by the
    re-diff and carried into the new layout verbatim).

    Mechanics: flock(LOCK_EX) on a lock file beside the index. The kernel
    releases the lock when the holder dies — any death, including kill -9
    between any two instructions — so there is NO stale-lock state and no
    liveness-probe protocol to race on (an earlier create-O_EXCL +
    dead-pid-break scheme let two contenders both "break" one stale file
    and both enter). The lock file itself persists; its pid content is
    informational only. flock is a same-host primitive, which is the
    single-driver deployment here; on a multi-host object store this
    becomes the table-format commit protocol (a catalog/conditional-put
    lock, as Delta/Iceberg do) — same protocol shape, different primitive.
    """
    import fcntl

    lock = path.rstrip("/") + ".lock"
    fd = os.open(lock, os.O_CREAT | os.O_WRONLY, 0o644)
    deadline = time.monotonic() + timeout
    try:
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except OSError:
                if time.monotonic() >= deadline:
                    raise TimeoutError(
                        f"index lock {lock} held by a live process for >{timeout}s"
                    ) from None
                time.sleep(0.05)
        os.ftruncate(fd, 0)
        os.write(fd, str(os.getpid()).encode())
        yield
    finally:
        # closing the fd releases the flock atomically with process exit
        # semantics; the file stays behind as a harmless mailbox
        os.close(fd)


def _update_manifest(data_dir: str, index_name: str, **values) -> None:
    """Set ``values`` on the manifest entry of ``index_name``. The manifest
    is one file shared by every index, so its read-modify-write holds the
    manifest lock: two appenders (full-text and trigram) each under only
    their own index lock would otherwise overlap and one would write back
    the other's stale entry. Callers hold their index lock, so the lock
    order is index → manifest everywhere."""
    manifest_path = os.path.join(data_dir, MANIFEST)
    with _index_lock(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        manifest[index_name].update(values)
        write_json_atomic(manifest_path, manifest)


def _doc_postings(docs: DataFrame) -> DataFrame:
    """(tok, doc_id, tf) posting rows of (doc_id, text) documents."""
    from australian_company_etl_spark.functions.textfns import tokens_all_spark

    toks = docs.select("doc_id", F.explode(tokens_all_spark(F.col("text"))).alias("tok"))
    return toks.groupBy("tok", "doc_id").agg(F.count("*").alias("tf"))


def _part_postings(parts: DataFrame) -> DataFrame:
    """(p_partkey, p_name, trgm, n_trgm) posting rows of (p_partkey, p_name)
    parts: one per distinct pg_trgm trigram of the name, carrying the name
    and the part's distinct-trigram count — everything D6's Jaccard
    ranking needs, and all of it local to its p_partkey."""
    return parts.select(
        "p_partkey",
        "p_name",
        F.explode(F.expr(api_plans._TRGM_EXPR.format(c="p_name"))).alias("trgm"),
    ).withColumn("n_trgm", F.count("*").over(Window.partitionBy("p_partkey")))


def _one_sorted_file(df: DataFrame, term_col: str) -> DataFrame:
    """``df`` as one partition sorted by ``term_col``, so each ledger file
    is term-sorted and its footer min/max stats confine a max-df decision's
    driver-side read (`parquet_columns`) to the query terms' row groups."""
    return df.coalesce(1).sortWithinPartitions(term_col)


@dataclass(frozen=True)
class _Index:
    """One append-maintained serving index, described once. The build,
    the appender, compaction and the startup heal read these fields and
    never ask which index they serve."""

    name: str  # the postings directory and its manifest entry
    id_col: str  # source rows are first-wins per id
    term_col: str  # the postings' range-partition and sort key
    postings: Callable[[DataFrame], DataFrame]  # source rows → posting rows
    members: str  # membership ledger: one row per indexed id
    #: probe-stat ledger name → its rows describing a set of postings, as
    #: the one file an append adds
    stats: dict[str, Callable[[DataFrame], DataFrame]]
    count_key: str | None  # manifest key holding the membership count


FULLTEXT = _Index(
    name=FULLTEXT_INDEX,
    id_col="doc_id",
    term_col="tok",
    postings=_doc_postings,
    members=FULLTEXT_DOCS,
    stats={
        FULLTEXT_STATS: lambda p: _one_sorted_file(
            p.groupBy("tok").agg(F.count("*").alias("df_inc"), F.max("tf").alias("max_tf")),
            "tok",
        ),
    },
    count_key="n_docs",
)
TRIGRAM = _Index(
    name=TRIGRAM_INDEX,
    id_col="p_partkey",
    term_col="trgm",
    postings=_part_postings,
    members=TRIGRAM_PARTS,
    stats={
        TRIGRAM_STATS: lambda p: _one_sorted_file(
            p.groupBy("trgm").agg(F.count("*").alias("df_inc")), "trgm"
        ),
        TRIGRAM_META: lambda p: p.select("p_partkey", "n_trgm")
        .distinct()
        .agg(F.count("*").alias("n_parts_inc"), F.min("n_trgm").alias("min_n_trgm"))
        .coalesce(1),
    },
    count_key=None,  # the manifest entry holds the posting rows only
)
_INDEXES = {ix.name: ix for ix in (FULLTEXT, TRIGRAM)}


def _write_ledgers(data_dir: str, ix: _Index, postings: DataFrame) -> None:
    """Append a postings batch's probe-stat ledger rows (creating those a
    build dropped)."""
    for name, rows in ix.stats.items():
        rows(postings).write.mode("append").parquet(table_path(data_dir, name))


def _write_postings(ix: _Index, rows: DataFrame, out_dir: str, n_files: int) -> str:
    """The build step both indexes share: drop the derived ledgers, then
    overwrite the postings of ``rows`` as ``n_files`` range-partitioned,
    term-sorted files. Dropping first means a crash anywhere leaves no
    stale ledger describing the wrong corpus: an absent probe-stat ledger
    makes the probe decline, and an absent membership ledger is
    backfilled by the next append from the postings — strictly better
    than a stale ledger asserting membership for ids the new postings no
    longer contain. A ``.precompact`` backup stranded by a crashed ledger
    swap goes first: left behind, the next heal would restore it as the
    ledger of the old corpus. Returns the postings path."""
    path = table_path(out_dir, ix.name)
    for name in (*ix.stats, ix.members):
        p = table_path(out_dir, name)
        drop_dir(p.rstrip("/") + BACKUP)
        drop_dir(p)
    ix.postings(rows).repartitionByRange(n_files, ix.term_col).sortWithinPartitions(
        ix.term_col
    ).write.mode("overwrite").parquet(path)
    return path


def build_fulltext_index(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 8
) -> dict:
    """Publish the full-text SERVING INDEX next to the snapshot: one
    posting row per (tok, doc_id) with its tf — so a query probes
    O(matched postings) instead of re-tokenizing the corpus per request
    (the H12 'serving form swaps the scan for the index' promise, made
    runnable).

    The layout is deliberately APPEND-ONLY: df is NOT denormalized onto
    the rows — the probe derives each query term's df by counting its own
    matched postings (exact: the term filter keeps every posting of a
    matched term), and the corpus size lives in the snapshot manifest. A
    daily ingest therefore maintains the index by appending the new
    batch's postings and bumping n_docs — never rewriting existing rows
    (`append_documents_to_index`), the same archive-once dataflow as the
    incremental dedup/sketch operators (F12/M6).

    The initial build is range-partitioned and sorted by tok, so parquet
    row-group min/max stats prune every file a query's terms don't touch
    — the GIN-index analog at 100 TB; appended batches are term-pruned by
    footer stats per file and restored to fully-sorted layout by
    `compact_index` (digest-verified rewrite + atomic swap).

    ``n_files`` sizes the sorted layout: the local default (8) suits the
    test corpora; at scale pick postings_bytes / ~128 MB so each file is
    one well-sized contiguous key range (the same sizing rule as
    compact_dataset's target_bytes). The doc ledger is written from the
    corpus itself, so token-less documents are members from the start.
    Returns {"rows": postings, "n_docs": corpus size}."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    path = _write_postings(FULLTEXT, docs, out_dir, n_files)
    ledger_path = table_path(out_dir, FULLTEXT_DOCS)
    docs.select("doc_id").distinct().write.mode("overwrite").parquet(ledger_path)
    _write_ledgers(out_dir, FULLTEXT, read_parquet(spark, path))
    return {"rows": parquet_rows(path), "n_docs": parquet_rows(ledger_path)}


def build_trigram_index(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 8
) -> int:
    """Publish the pg_trgm-analog inverted index: one row per
    (trgm, p_partkey) with the part's name and distinct-trigram count
    (`_part_postings`), in the same trgm-sorted layout and for the same
    row-group term pruning as the full-text index. Returns the
    posting-row count."""
    part = load_tables(spark, sf_dir, ["part"])["part"]
    path = _write_postings(TRIGRAM, part, out_dir, n_files)
    _write_ledgers(out_dir, TRIGRAM, read_parquet(spark, path))
    return parquet_rows(path)


def _shard_segments(tf: DataFrame, shard_docs: int) -> DataFrame:
    """(tok, doc_id, tf) postings → (tok, shard_id, doc_ids, tfs, seg_df)
    SEGMENT rows, shard_id = doc_id div shard_docs: a stop-word token's
    single unbounded posting run becomes ⌈N/shard_docs⌉ bounded rows.
    Within a segment the arrays are doc_id-sorted; ACROSS segments order
    is shard_id order (the shard function is monotone), and a consumer
    treats multiple segment rows per (tok, shard) as ADDITIVE — append
    batches create new rows, never rewrites, so the structure feeds the
    same archive-once append dataflow as the flat index."""
    arr = F.array_sort(F.collect_list(F.struct("doc_id", "tf")))
    return (
        tf.withColumn("shard_id", (F.col("doc_id") / shard_docs).cast("bigint"))
        .groupBy("tok", "shard_id")
        .agg(
            F.transform(arr, lambda s: s["doc_id"]).alias("doc_ids"),
            F.transform(arr, lambda s: s["tf"]).alias("tfs"),
            F.count("*").cast("long").alias("seg_df"),
        )
    )


def build_fulltext_index_sharded(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    shard_docs: int = FT_SHARD_DOCS,
    n_files: int = 8,
) -> dict:
    """Publish the SHARDED full-text index (VERDICT r11 task 7 — the H12
    docstring's past-1e6-docs/token form, runnable): posting SEGMENTS per
    (tok, shard) instead of one row per (tok, doc). Same information as
    the flat index — `/search?shard=1` serves from it through the
    identical scoring plan (segments exploded back to postings at probe
    time, term filter still pushed into the tok-sorted scan) and is proven
    row-identical to the flat probe in tests on a crafted hot-token
    corpus. At 100 TB each segment row is one bounded row-group write,
    and an ingest batch's segments append without touching existing rows."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    seg = _shard_segments(_doc_postings(docs), shard_docs)
    path = table_path(out_dir, FULLTEXT_SHARDED)
    seg.repartitionByRange(n_files, "tok").sortWithinPartitions(
        "tok", "shard_id"
    ).write.mode("overwrite").parquet(path)
    return {"rows": parquet_rows(path), "shard_docs": shard_docs}


def append_documents_to_sharded(
    spark: SparkSession, new_docs: DataFrame, data_dir: str, shard_docs: int | None = None
) -> dict:
    """Append an ingest batch's posting segments to the sharded index —
    the library-variant feed into the serving append path: new (tok,
    shard) segment rows are ADDED (a batch sharing a shard with existing
    rows yields a second additive segment row — the probe unions them, so
    df and scores stay exact without any read-modify-write). Membership
    dedup against the doc ledger is the flat append path's job; this
    writer assumes ``new_docs`` is already the fresh set (call it from
    the same maintenance batch, after the ledger anti-join)."""
    path = table_path(data_dir, FULLTEXT_SHARDED)
    if shard_docs is None:
        shard_docs = FT_SHARD_DOCS
    seg = _shard_segments(_doc_postings(new_docs), shard_docs)
    if seg.isEmpty():
        return {"segments_appended": 0}
    seg.repartitionByRange(2, "tok").sortWithinPartitions("tok", "shard_id").write.mode(
        "append"
    ).parquet(path)
    return {"segments_appended": parquet_rows(path)}


def _append(
    spark: SparkSession, ix: _Index, batch: DataFrame, data_dir: str
) -> tuple[int, int]:
    """The one incremental appender of both serving indexes: append the
    NEW source rows' postings — existing rows are never rewritten — and
    record them in the membership ledger and the manifest.

    First-wins at BOTH granularities (the J8 upsert discipline): duplicate
    ids WITHIN the batch collapse to one row before anything else, and ids
    already in the membership ledger are anti-joined away — so a retried
    or self-duplicating batch cannot inflate a posting, a df or a count.
    Membership is decided against the LEDGER, not the posting rows: a
    source row with no terms leaves no postings but IS recorded, so its
    re-delivery is a no-op. A snapshot published without the ledger
    backfills it ONCE from the postings' distinct ids — exactly the
    postings-anti-join membership source, so the migration changes no
    append decision — written beside it and swapped in (`swap_in`), so a
    crash leaves the ledger absent, never partial.

    CRASH SAFETY: the probe-stat ledgers, the postings and the membership
    ledger are separate parquet writes with no shared transaction, so
    each write's freshness is decided against its OWN table — postings
    against the posting rows, ledger against the ledger. A crash between
    them (the exact window an at-least-once foreachBatch replay
    re-enters) then heals instead of corrupting: the replay finds the
    postings already present (skips them, no doubled tf or |∩|) and
    appends only the missing ledger rows. The probe-stat rows go BEFORE
    the postings: a crash in between leaves df/max_tf inflated and
    min_n_trgm at most the true minimum, which the max-df guards tolerate
    (the reverse order could leave max_tf UNDER the indexed max) and the
    next compaction rebuilds exactly.

    Holds the index lock for the whole read-membership → write → manifest
    window: without it a concurrent `compact_index` swap could replace a
    directory between this function's listing and its append, stranding
    the appended files in the swapped-out copy (`_index_lock`).
    Returns (ids appended, ids in the membership ledger)."""
    path = table_path(data_dir, ix.name)
    ledger_path = table_path(data_dir, ix.members)
    batch = batch.dropDuplicates([ix.id_col])
    with _index_lock(path):
        heal_swap(path)
        # the membership ledger swaps during compaction too — heal it
        # BEFORE the exists-check below, or a mid-swap crash would look
        # like a ledger-less snapshot and the postings backfill would lose
        # every term-less member
        heal_swap(ledger_path)
        if not os.path.exists(ledger_path):
            # under the index lock, like the ledger compaction that shares
            # this sibling path: a leftover from a crashed backfill is
            # overwritten
            tmp = ledger_path.rstrip("/") + REWRITE
            read_parquet(spark, path).select(ix.id_col).distinct().write.mode(
                "overwrite"
            ).parquet(tmp)
            swap_in(tmp, ledger_path)
        in_ledger = read_parquet(spark, ledger_path).select(ix.id_col)
        # persisted: the batch's fresh rows feed the emptiness check, the
        # postings and the ledger append, and are computed once for all
        # three (the ledger append reads them back after the postings
        # append, which leaves this plan cached: it does not scan the index
        # path). How many there were is read from the ledger's footers.
        n_before = parquet_rows(ledger_path)
        fresh = batch.join(in_ledger, ix.id_col, "left_anti").persist()
        try:
            if not fresh.isEmpty():
                # the ledger lags the postings only inside the crash window
                # (postings are written first), so the postings-membership
                # probe runs on the not-yet-ledgered remainder alone; a clean
                # re-delivery never scans the index at all. At 100 TB a
                # Bloom filter (M3) fronts this probe, same semantics.
                in_postings = read_parquet(spark, path).select(ix.id_col).distinct()
                postings = ix.postings(fresh.join(in_postings, ix.id_col, "left_anti"))
                # local persist (maintenance job, not the query-scoped
                # tracker): the batch postings feed up to three writes, and
                # the probe-stat ledgers must describe the SAME rows as the
                # postings append — which invalidates every cached plan that
                # scans the index path, including this one, so the ledger
                # rows must be written before it
                postings = postings.persist()
                try:
                    # a batch can yield ZERO postings (term-less rows only):
                    # the stat writes are skipped with the postings — a
                    # zero-row meta aggregate still emits one (0, NULL) row,
                    # and NULL min_n_trgm rows poison every later ledger read
                    if not postings.isEmpty():
                        # probe-stat ledgers are maintained only for snapshots
                        # that have them (older snapshots keep working; the
                        # max-df probe just declines there)
                        if all(os.path.exists(table_path(data_dir, n)) for n in ix.stats):
                            _write_ledgers(data_dir, ix, postings)
                        postings.repartitionByRange(2, ix.term_col).sortWithinPartitions(
                            ix.term_col
                        ).write.mode("append").parquet(path)
                finally:
                    postings.unpersist()
                fresh.select(ix.id_col).write.mode("append").parquet(ledger_path)
        finally:
            fresh.unpersist()
        n_members = parquet_rows(ledger_path)
        counts = {ix.count_key: n_members} if ix.count_key else {}
        _update_manifest(data_dir, ix.name, rows=parquet_rows(path), **counts)
    return n_members - n_before, n_members


def append_documents_to_index(
    spark: SparkSession, new_docs: DataFrame, data_dir: str
) -> dict:
    """Incremental full-text index maintenance through `_append`: append
    the NEW (doc_id, text) documents' postings and set the manifest's
    n_docs to the `fulltext_docs` ledger count — so a token-less document
    is a member (its re-delivery is a no-op) and n_docs, idf's
    denominator, is exact. Returns {"docs_appended", "n_docs"} (ledger
    granularity)."""
    appended, n_docs = _append(spark, FULLTEXT, new_docs, data_dir)
    return {"docs_appended": appended, "n_docs": n_docs}


def append_parts_to_trigram_index(
    spark: SparkSession, new_parts: DataFrame, data_dir: str
) -> dict:
    """Incremental trigram-index maintenance through `_append`: the stored
    rows carry only per-part state (n_trgm is local to its p_partkey), so
    appending a fresh batch's postings is exact — |∩| and |∪| at probe
    time see the new candidates immediately. First-wins on re-delivered
    p_partkeys and on duplicates within one batch (two same-key rows would
    otherwise double every posting, inflating |∩|), decided against the
    `trigram_parts` ledger, so a part whose name yields no trigrams is
    appended once. Returns {"parts_appended"}."""
    appended, _ = _append(spark, TRIGRAM, new_parts, data_dir)
    return {"parts_appended": appended}


def _run_maintenance_stream(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    append_fn,
    max_files: int,
    checkpoint_dir: str | None,
) -> int:
    """Shared streaming shell for index maintenance: one foreachBatch
    append per micro-batch of newly-landed files, availableNow trigger.
    Returns the number of micro-batches processed in THIS invocation."""
    n_batches = 0

    def _append(batch: DataFrame, _batch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        append_fn(batch)

    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(src_dir)
        .writeStream.foreachBatch(_append)
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()
    return n_batches


def run_index_maintenance_stream(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    data_dir: str,
    max_files: int = 1,
    checkpoint_dir: str | None = None,
) -> int:
    """Continuous index maintenance: stream newly-landed document files
    into the published index, one foreachBatch append per micro-batch —
    the serving-side twin of the incremental-dedup daily batch (F12).
    Pass ``checkpoint_dir`` to persist the stream's processed-file ledger:
    a restarted stream then resumes AFTER the files it already committed
    instead of reprocessing the whole landing directory. Re-delivered docs
    are additionally dropped by the append's first-wins ledger anti-join,
    so at-least-once delivery cannot inflate the index either way (the
    restart test proves interrupted-then-resumed == full rebuild)."""
    return _run_maintenance_stream(
        spark,
        src_dir,
        schema,
        # late-bound module lookup (not a direct reference): the restart
        # test injects failures by patching append_documents_to_index
        lambda batch: append_documents_to_index(batch.sparkSession, batch, data_dir),
        max_files,
        checkpoint_dir,
    )


def run_trigram_maintenance_stream(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    data_dir: str,
    max_files: int = 1,
    checkpoint_dir: str | None = None,
) -> int:
    """Trigram-index twin of `run_index_maintenance_stream`: stream
    newly-landed part files ((p_partkey, p_name) parquet) into the
    published trigram index with the same checkpointed, first-wins
    at-least-once contract."""
    return _run_maintenance_stream(
        spark,
        src_dir,
        schema,
        lambda batch: append_parts_to_trigram_index(batch.sparkSession, batch, data_dir),
        max_files,
        checkpoint_dir,
    )


def compact_index(
    spark: SparkSession,
    data_dir: str,
    index_name: str,
    n_files: int = 8,
) -> dict:
    """Restore an append-maintained serving index to fully-sorted layout —
    the periodic compaction the append-only builds rely on. Each appended
    batch lands as its own small term-sorted files; probes stay correct
    (footer stats prune per file) but file count and per-term file touches
    grow with every batch. This rewrites the whole index as ``n_files``
    range-partitioned files sorted by the index's term column (``tok`` or
    ``trgm``) — one contiguous term range per file, the original build's
    layout — and swaps it in ONLY after the re-read digest (rows +
    order-insensitive content hash, the A9/compact_dataset discipline)
    proves the rewrite lost nothing; a failed compaction can never
    replace a good index. Its ledgers grow one file per append too: the
    membership ledger gets the same digest-verified rewrite and swap
    (`_compact_ledger`), the probe-stat ledgers are rebuilt from the
    compacted postings (`_rebuild_stats`).

    CONCURRENCY: safe to run alongside the appenders/maintenance streams
    (the documented cron pairing). The rewrite reads an explicit
    point-in-time file listing and runs UNLOCKED; the swap then holds the
    index lock, re-diffs the listing, and carries any file appended during
    the rewrite into the new directory verbatim (appended files are
    self-contained key-sorted parquet — copying them IS an append), so a
    concurrent batch can never be lost. A crash mid-swap is rolled back
    by `heal_swap` (run here first, and at server startup), and the lock
    keeps appenders out of the swap window."""
    import glob
    import shutil

    ix = _INDEXES[index_name]
    path = table_path(data_dir, index_name)
    # COMPACTION flock (distinct from the appender lock), held across the
    # whole rewrite+verify+swap: two compactions of one index share the
    # fixed `.compacting` tmp path, and the rewrite runs outside the index
    # lock — without this, compactor B's mode-overwrite could clobber tmp
    # between A's digest verify and A's swap, and A would rename a
    # partially-written tmp into the live path (corruption the digest check
    # cannot catch). Fail-fast timeout: a second compactor should error
    # immediately, not queue behind an hours-long rewrite.
    with _index_lock(path.rstrip("/") + ".compact", timeout=1.0):
        # patient timeout on the INDEX lock even for this listing phase:
        # appenders legitimately hold it across several Spark jobs
        # (membership anti-joins, the ledger and postings writes), which
        # can exceed 60s on a larger corpus — dying here before doing any
        # work would starve the cron'd compaction
        with _index_lock(path, timeout=600.0):
            # clean_tmp is safe ONLY here: concurrent compactions of one
            # index are excluded by the compaction flock above
            heal_swap(path, clean_tmp=True)
            # point-in-time listing: the rewrite covers exactly these files,
            # whatever lands afterwards is handled by the swap-time re-diff
            listed = sorted(glob.glob(os.path.join(path, "*.parquet")))
        src = spark.read.parquet(*listed)
        expected = _table_digest(src)

        tmp = path.rstrip("/") + REWRITE
        (
            src.repartitionByRange(n_files, ix.term_col)
            .sortWithinPartitions(ix.term_col)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        actual = _table_digest(read_parquet(spark, tmp))
        if actual != expected:
            shutil.rmtree(tmp)
            raise RuntimeError(
                f"index compaction dropped data for {index_name}: "
                f"wrote {expected}, read back {actual}"
            )
        # patient timeout: the rewrite is already done and digest-verified,
        # so waiting out a long-running append (which holds the lock across
        # its Spark jobs) is strictly better than discarding the rewrite
        with _index_lock(path, timeout=600.0):
            # files appended while the rewrite ran: verbatim-copy into the
            # new layout (byte-identical ⇒ lossless by construction; Spark
            # part files carry unique UUID names, so no collision)
            delta = sorted(set(glob.glob(os.path.join(path, "*.parquet"))) - set(listed))
            for f in delta:
                shutil.copy2(f, os.path.join(tmp, os.path.basename(f)))
            swap_in(tmp, path)
        out = {
            "files_before": len(listed),
            "files_after": len(glob.glob(os.path.join(path, "*.parquet"))),
            "delta_carried": len(delta),
            "rows": expected[0],
            "ok": True,
        }
        # the ledgers, under the index lock so a concurrent append can't
        # interleave: they are ids-scale and terms-scale — orders smaller
        # than the postings rewrite above — so holding the lock through
        # them is cheap relative to the compaction itself
        with _index_lock(path, timeout=600.0):
            out["ledger"] = _compact_ledger(spark, table_path(data_dir, ix.members), n_files)
            out["ledgers"] = _rebuild_stats(spark, data_dir, ix)
    return out


def _compact_ledger(spark: SparkSession, ledger_path: str, n_files: int) -> dict:
    """Digest-verified rewrite of a membership ledger, if it exists (caller
    holds the index lock and the compaction flock). Unlike the probe-stat
    ledgers it is a MEMBERSHIP AUTHORITY (term-less rows live only here),
    hence the full digest/swap/heal discipline rather than a rebuild.
    Appenders and make_server heal a mid-swap crash exactly like the
    index's (they must — a missing ledger would otherwise trigger the
    postings backfill, which cannot represent term-less rows)."""
    import glob
    import shutil

    heal_swap(ledger_path, clean_tmp=True)
    if not os.path.isdir(ledger_path):
        return {"ledger": "absent"}
    files_before = len(glob.glob(os.path.join(ledger_path, "*.parquet")))
    src = read_parquet(spark, ledger_path)
    expected = _table_digest(src)
    tmp = ledger_path.rstrip("/") + REWRITE
    src.repartition(max(1, n_files // 4)).write.mode("overwrite").parquet(tmp)
    actual = _table_digest(read_parquet(spark, tmp))
    if actual != expected:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"ledger compaction dropped data: wrote {expected}, read back {actual}"
        )
    swap_in(tmp, ledger_path)
    return {
        "files_before": files_before,
        "files_after": len(glob.glob(os.path.join(ledger_path, "*.parquet"))),
        "rows": expected[0],
    }


def _rebuild_stats(spark: SparkSession, data_dir: str, ix: _Index) -> dict:
    """Compaction-time wholesale REBUILD of an index's probe-stat ledgers
    from the whole (just-compacted) postings. The rebuild is both the fold
    and the heal: torn, absent and crash-inflated states all converge to
    exact values here, and pre-stats snapshots gain the ledgers at their
    first compaction. Caller holds the index lock (no concurrent appender
    can write ledger rows the swap would drop).

    Each ledger is dropped (`drop_dir`) before its rebuild is renamed in,
    so every crash state leaves it exact or ABSENT — absent makes the
    probe decline and appenders skip it. A crash while deleting the live
    ledger in place would leave a readable PARTIAL ledger, whose
    under-counted max_tf (or raised min_n_trgm) breaks the max-df guard's
    soundness (ledger max_tf ≥ every indexed tf, min_n_trgm ≤ the true
    minimum). Returns {ledger: rows}."""
    idx = read_parquet(spark, table_path(data_dir, ix.name))
    out = {}
    for name, rows in ix.stats.items():
        path = table_path(data_dir, name)
        tmp = path.rstrip("/") + ".rebuilding"
        rows(idx).write.mode("overwrite").parquet(tmp)
        out[name] = parquet_rows(tmp)
        drop_dir(path)
        swap_in(tmp, path)
    return out


def fulltext_rank_maxdf(
    spark: SparkSession,
    data_dir: str,
    terms: list[str],
    topk: int,
    n_docs: int,
    max_df: float = 0.05,
) -> tuple[list[dict] | None, dict]:
    """Max-df skip for the fulltext probe — `/search`'s twin of
    `trigram_rank_maxdf`: candidates come from the RARE query terms only,
    so a stopword-grade term ('the' in a prose corpus) never drives the
    shuffled per-doc aggregate. Hot terms' postings are semi-joined
    (broadcast) against the rare candidate set BEFORE any shuffle, so the
    exchanges carry O(|rare candidates|) rows however common the hot terms
    are; the hot posting run is still scanned once map-side (sorted
    layout, contiguous row groups) — the linear floor any exact answer
    pays.

    EXACTNESS PROOF (returns None — caller falls back — whenever any step
    cannot be established). The fulltext score is pure integer math, so
    the argument is cleaner than the trigram one (no rounding leg):
    - Per-term idf is computed from the POSTINGS (each term's df counted
      from its own matched rows — identical to `fulltext_rank_from_index`
      and the D5 scan plan; the stats ledger only picks the hot/rare
      split, which cannot affect exactness). For every candidate c found
      via ≥1 rare term, score(c) = Σ_rare tf·idf + Σ_hot tf·idf with the
      hot leg counted by the semi-join — the same integer the full plan
      computes, term for term.
    - A doc u missing from the candidate set matches ONLY hot terms, so
      score(u) ≤ Σ_{t hot, df(t)>0} max_tf(t)·idf(t) =: bound, with
      max_tf from the stats ledger (written before every postings append
      and rebuilt exactly at compaction, so ledger max_tf ≥ any indexed
      tf — crash paths only inflate it, growing the bound).
    - Served ONLY if the rare-probe ranking has a full topk rows and the
      k-th score_micro is STRICTLY greater than bound: every unseen doc
      then ranks strictly below all served rows (strict > on the integer
      score means the (score desc, doc_id asc) tie-order cannot be
      violated either). The served topk is row-identical to the full
      plan's.

    Decline cost: the ledger is read on the driver with pyarrow
    (`parquet_columns`, filtered to the query terms; each ledger file is
    term-sorted, so footer min/max stats limit the read to the terms' row
    groups) and summed there, so every decline up to and including "no
    rare term has any ledger postings" starts no Spark job. Past that, at
    worst the per-term df count and one rare-candidate aggregate run
    before the plain probe answers — bounded by ~2× the plain probe, paid
    only when the corpus's rare terms aren't discriminative. The forced
    broadcast is capped driver-side by Σ ledger-df(rare) ≤
    MAXDF_BROADCAST_CAP, so a corpus where "rare" still means millions of
    postings takes the plain shuffle plan instead.

    Returns (rows|None, info) — info carries the decision trail for tests
    and the /search route's debugging."""
    info: dict = {"used": False}
    terms = list(dict.fromkeys(terms))  # set semantics, like isin() downstream
    if not terms:
        raise ValueError("query yields no terms")
    stats_path = table_path(data_dir, FULLTEXT_STATS)
    if not os.path.isdir(stats_path):
        info["reason"] = "no stats ledger"
        return None, info
    try:
        led = (
            parquet_columns(stats_path, ["tok", "df_inc", "max_tf"], where_in("tok", terms))
            .group_by("tok")
            .aggregate([("df_inc", "sum"), ("max_tf", "max")])
            .to_pydict()
        )
        stat = {
            t: (int(df), int(mtf))
            for t, df, mtf in zip(led["tok"], led["df_inc_sum"], led["max_tf_max"])
        }
    except Exception as exc:  # noqa: BLE001 — optional perf structure: a
        # torn state (crash mid-rebuild) must degrade to the plain probe
        info["reason"] = f"unreadable stats ledger: {exc}"
        return None, info
    hot = sorted(t for t in terms if stat.get(t, (0, 0))[0] > max_df * n_docs)
    rare = sorted(t for t in terms if t not in set(hot))
    info.update({"hot": hot, "n_docs": n_docs})
    if not hot:
        info["reason"] = "no hot terms"
        return None, info
    if not rare:
        info["reason"] = "every query term is hot"
        return None, info
    cand_ub = sum(stat.get(t, (0, 0))[0] for t in rare)
    if cand_ub == 0:
        # ledger df only ever over-counts (stats precede every postings
        # append), so ledger-df 0 PROVES no rare posting exists — the
        # candidate set would be empty and the guard would decline anyway;
        # deciding it here costs zero Spark jobs on this common path (a
        # query term that simply isn't in the corpus)
        info["reason"] = "no rare term has any ledger postings"
        return None, info
    if cand_ub > MAXDF_BROADCAST_CAP:
        info["reason"] = f"candidate bound {cand_ub} > broadcast cap {MAXDF_BROADCAST_CAP}"
        return None, info

    idx = read_parquet(spark, table_path(data_dir, FULLTEXT_INDEX))
    # exact per-term df from the postings — the same counts the plain index
    # plan derives; ≤|terms| rows, footer-pruned scan, so collecting is free
    dfreq = {
        r["tok"]: int(r["c"])
        for r in idx.filter(F.col("tok").isin(*terms))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    # exact integer idf, identical to the plans' decimal expression
    # ((10⁶·N) div df): positive-int floor division commutes between
    # Python // and SQL div
    idf = {t: (1_000_000 * int(n_docs)) // dfreq[t] for t in terms if dfreq.get(t)}
    bound = sum(stat[t][1] * idf[t] for t in hot if t in idf)
    info["bound"] = bound
    if not any(t in idf for t in rare):
        info["reason"] = "no rare term matches any posting"
        return None, info
    # per-term idf as a string-valued literal map (exact: ints stringified),
    # cast back to the plans' DECIMAL(38,0) intermediate per row — the
    # contribution tf·idf is then the identical integer, and the split
    # rare+hot sum carries the same decimal-38 overflow envelope (ANSI
    # error, never silent wrap) as the plain plan's single sum
    idf_map = F.create_map(*[F.lit(x) for t, v in sorted(idf.items()) for x in (t, str(v))])
    contrib = F.sum(
        F.col("tf").cast("decimal(38,0)")
        * F.element_at(idf_map, F.col("tok")).cast("decimal(38,0)")
    )
    # the candidate aggregate feeds BOTH the broadcast key set and the
    # final join, so Spark computes the rare subtree twice — DELIBERATELY
    # left unpersisted: the subtree is two map-side scans of ledger-capped
    # posting runs (tiny by construction — the broadcast cap bounds it),
    # while persisting it MEASURED 2× slower end-to-end on the 1M-doc demo
    # corpus (cache materialization defeats column pruning into the
    # broadcast branch, which only needs doc_id, and pins the pre-AQE
    # shuffle layout; spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
    # is false by default)
    cand = (
        idx.filter(F.col("tok").isin(*rare))
        .groupBy("doc_id")
        .agg(contrib.alias("r_score"), F.count("*").alias("r_hits"))
    )
    hot_hits = (
        idx.filter(F.col("tok").isin(*hot))
        .join(F.broadcast(cand.select("doc_id")), "doc_id")
        .groupBy("doc_id")
        .agg(contrib.alias("h_score"), F.count("*").alias("h_hits"))
    )
    zero = F.lit(0).cast("decimal(38,0)")
    rows = [
        r.asDict()
        for r in cand.join(hot_hits, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("r_hits") + F.coalesce(F.col("h_hits"), F.lit(0)))
            .cast("int")
            .alias("n_terms_hit"),
            (F.col("r_score") + F.coalesce(F.col("h_score"), zero))
            .cast("long")
            .alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(topk)
        .collect()
    ]
    if len(rows) < topk or not rows[-1]["score_micro"] > bound:
        info["reason"] = (
            f"guard: {len(rows)} rows, k-th score "
            f"{rows[-1]['score_micro'] if rows else None} !> bound {bound}"
        )
        return None, info
    info["used"] = True
    return rows, info


def trigram_rank_from_index(
    spark: SparkSession, data_dir: str, query: str, topk: int
) -> DataFrame:
    """D6's exact trigram-Jaccard ranking served from the published
    index: probe = term filter pushed into the scan, |∩| = one map-side-
    combined count per candidate id, |∪| from the indexed per-id trigram
    count. Candidates with zero shared trigrams never leave the scan —
    identical results to the corpus-scan plan (sim>0 filters them there
    too), proven in tests."""
    from australian_company_etl_spark.plans.api import _pg_trigrams

    q = _pg_trigrams([w for w in query.lower().split() if w])
    if not q:
        raise ValueError("query yields no trigrams")
    idx = read_parquet(spark, table_path(data_dir, TRIGRAM_INDEX)).filter(
        F.col("trgm").isin(*q)
    )
    inter = F.count("*")
    union = F.col("n_trgm") + F.lit(len(q)) - inter
    scored = idx.groupBy("p_partkey", "p_name", "n_trgm").agg(
        F.round(inter.cast("double") / union, 6).alias("sim")
    )
    return (
        scored.filter(F.col("sim") > 0)
        .orderBy(F.desc("sim"), F.asc("p_partkey"))
        .limit(topk)
        .select("p_partkey", "p_name", "sim")
    )


def _ceil_6dp(num: int, den: int) -> float:
    """num/den rounded UP to 6 decimal places — the sound direction for the
    trigram guard's unseen-sim bound. Python round() is half-EVEN while the
    plans round sims with Spark F.round (half-UP), so a bound landing
    exactly on a half (e.g. 1/128 = 0.0078125) would come out 1e-6 LOW and
    the guard could falsely pass against an unseen part whose rounded sim
    ties the k-th row. Ceiling ≥ half-up of the true value, and also
    absorbs the plans' double-division error (≤1 ulp ≈ 1e-16, while a
    nonzero true-value-to-grid distance is ≥ 1/(10⁶·union) — far larger
    for any real trigram count), so every unseen ROUNDED sim is ≤ this
    bound; the cost is at most one extra decline per exact boundary hit.
    Exact rational via Decimal — no float on the way in."""
    from decimal import ROUND_CEILING, Decimal

    return float(
        (Decimal(num) / Decimal(den)).quantize(
            Decimal("0.000001"), rounding=ROUND_CEILING
        )
    )


def trigram_rank_maxdf(
    spark: SparkSession,
    data_dir: str,
    query: str,
    topk: int,
    max_df: float = 0.05,
) -> tuple[list[dict] | None, dict]:
    """Max-df trigram skip (VERDICT r06 stretch): probe candidates with the
    RARE query trigrams only, so a stopword-analog trigram (' th' in a
    corpus full of 'the') never drives the shuffled candidate aggregate —
    the pg_trgm-style cost lever, made EXACT.

    Cost shape: today's probe shuffles one partial-aggregated row per
    (candidate, partition) for EVERY posting-matched part — a trigram with
    df = 20% of the corpus puts 0.2·N parts through the aggregate. Here
    hot trigrams are excluded from candidate generation; their postings
    are instead semi-joined (broadcast) against the rare-probe candidate
    set BEFORE any shuffle, so the exchanges carry O(|rare-candidates|)
    rows regardless of how common the hot trigrams are. The hot posting
    RUN is still scanned once map-side (sorted layout, contiguous row
    groups) — that linear scan is the floor any exact answer pays.

    EXACTNESS PROOF (returns None — caller falls back — whenever any step
    of it cannot be established):
    - For every candidate c found via ≥1 rare trigram, inter(c) is exact:
      rare matches counted by the probe + hot matches counted by the
      semi-join (posting rows are distinct (trgm, part) pairs by
      construction), so its sim is the same number the full plan computes.
    - The only parts missing from the candidate set share ONLY hot
      trigrams. For such a part u: inter(u) ≤ s (s = |hot ∩ query|), and
      union(u) = n_trgm(u) + |q| − inter(u) ≥ min_n + |q| − s, where
      min_n is the corpus-wide minimum distinct-trigram count (from the
      TRIGRAM_META ledger, maintained crash-conservatively — see its
      comment). Hence sim(u) ≤ s/(min_n + |q| − s) =: bound.
    - The result is served ONLY if the rare-probe ranking has a full topk
      rows and its k-th sim is STRICTLY greater than round(bound, 6).
      Both plans round sims to 6dp and rounding is monotone, so every
      unseen part ranks strictly below all served rows (ties are
      impossible under strict >, so the (sim desc, p_partkey asc)
      tie-order cannot be violated either). The served topk is therefore
      row-identical to the full plan's.

    Decline cost: both ledgers are read on the driver with pyarrow
    (`parquet_columns`; the stats ledger filtered to the query trigrams,
    which footer min/max stats of its trgm-sorted files confine to their
    row groups) and aggregated there, so every decline up to and
    including "no rare trigram has any ledger postings" starts no Spark
    job. Past that, at worst one rare-candidate aggregate runs before the
    plain probe answers — bounded by ~2× the plain probe, paid only on
    corpora whose rare trigrams aren't actually discriminative. Measured
    on the sf1 TPC-H part corpus the skip declines for exactly that
    reason (a 92-color vocabulary: the bench query's only non-hot
    trigrams match nothing, and one short replicated name drives
    min_n_trgm to 7, bound 0.8) — the win case is a real-text corpus
    with boilerplate trigrams over a long-tail vocabulary, the shape the
    crafted-corpus test pins down.

    Returns (rows|None, info) — info carries the decision trail for tests
    and the /fuzzy route's debugging."""
    from australian_company_etl_spark.plans.api import _pg_trigrams

    info: dict = {"used": False}
    q = _pg_trigrams([w for w in query.lower().split() if w])
    if not q:
        raise ValueError("query yields no trigrams")
    stats_path = table_path(data_dir, TRIGRAM_STATS)
    meta_path = table_path(data_dir, TRIGRAM_META)
    if not (os.path.isdir(stats_path) and os.path.isdir(meta_path)):
        info["reason"] = "no stats ledgers"
        return None, info
    try:
        import pyarrow.compute as pc

        meta = parquet_columns(meta_path, ["n_parts_inc", "min_n_trgm"])
        n_parts = pc.sum(meta.column("n_parts_inc")).as_py()
        min_n = pc.min(meta.column("min_n_trgm")).as_py()
        if n_parts is None or min_n is None:
            raise ValueError("empty meta ledger")
        led = (
            parquet_columns(stats_path, ["trgm", "df_inc"], where_in("trgm", q))
            .group_by("trgm")
            .aggregate([("df_inc", "sum")])
            .to_pydict()
        )
        dfs = {t: int(df) for t, df in zip(led["trgm"], led["df_inc_sum"])}
    except Exception as exc:  # noqa: BLE001 — the ledgers are an OPTIONAL
        # perf structure: a torn/empty state (e.g. a crash mid ledger
        # compaction overwrite) must degrade to the plain probe, never 500
        info["reason"] = f"unreadable stats ledgers: {exc}"
        return None, info
    hot = sorted(t for t in q if dfs.get(t, 0) > max_df * n_parts)
    rare = sorted(t for t in q if t not in set(hot))
    info.update({"hot": hot, "n_parts": n_parts, "min_n_trgm": min_n})
    if not hot:
        info["reason"] = "no hot trigrams"
        return None, info
    if not rare:
        info["reason"] = "every query trigram is hot"
        return None, info
    s = len(hot)
    bound = _ceil_6dp(s, min_n + len(q) - s)
    info["bound"] = bound
    # scale bound on the forced broadcast below: the candidate set is at
    # most Σ df(rare) keys (each rare posting contributes one candidate at
    # most), known driver-side from the ledger for free — decline rather
    # than broadcast an unbounded set when the "rare" trigrams are merely
    # less-common (a 100 TB corpus where every query trigram has millions
    # of postings should take the plain shuffle plan, which is built for
    # exactly that).
    cand_ub = sum(dfs.get(t, 0) for t in rare)
    if cand_ub == 0:
        # ledger df only ever over-counts, so 0 proves no rare posting
        # exists — decline without spending a single Spark job
        info["reason"] = "no rare trigram has any ledger postings"
        return None, info
    if cand_ub > MAXDF_BROADCAST_CAP:
        info["reason"] = f"candidate bound {cand_ub} > broadcast cap {MAXDF_BROADCAST_CAP}"
        return None, info

    idx = read_parquet(spark, table_path(data_dir, TRIGRAM_INDEX))
    # computed twice (broadcast keys + final join), deliberately
    # unpersisted — see fulltext_rank_maxdf: the rare subtree is
    # ledger-capped and map-side cheap; persisting it measured 2× slower
    cand = (
        idx.filter(F.col("trgm").isin(*rare))
        .groupBy("p_partkey", "p_name", "n_trgm")
        .agg(F.count("*").alias("r"))
    )
    hot_hits = (
        idx.filter(F.col("trgm").isin(*hot))
        .join(F.broadcast(cand.select("p_partkey")), "p_partkey")
        .groupBy("p_partkey")
        .agg(F.count("*").alias("h"))
    )
    inter = F.col("r") + F.coalesce(F.col("h"), F.lit(0))
    union = F.col("n_trgm") + F.lit(len(q)) - inter
    rows = [
        r.asDict()
        for r in cand.join(hot_hits, "p_partkey", "left")
        .select(
            "p_partkey",
            "p_name",
            F.round(inter.cast("double") / union, 6).alias("sim"),
        )
        .filter(F.col("sim") > 0)
        .orderBy(F.desc("sim"), F.asc("p_partkey"))
        .limit(topk)
        .collect()
    ]
    if len(rows) < topk or not rows[-1]["sim"] > bound:
        info["reason"] = (
            f"guard: {len(rows)} rows, k-th sim "
            f"{rows[-1]['sim'] if rows else None} !> bound {bound}"
        )
        return None, info
    info["used"] = True
    return rows, info


def fulltext_rank_from_index(
    spark: SparkSession, data_dir: str, terms: list[str], topk: int, n_docs: int
) -> DataFrame:
    """D5's exact ranking served from the published index: term filter
    pushed into the index scan (row-group pruning on the tok sort), each
    term's df counted from its own matched postings (exact — the filter
    keeps every posting of a matched term; this is what lets the stored
    layout stay append-only), one map-side-combined per-doc aggregate,
    sort-limit top-k. ``n_docs`` comes from the snapshot manifest.
    Proven row-identical to the scan-based plan in tests."""
    idx = read_parquet(spark, table_path(data_dir, FULLTEXT_INDEX)).filter(
        F.col("tok").isin(*terms)
    )
    return _rank_matched_postings(idx, topk, n_docs)


def _rank_matched_postings(idx: DataFrame, topk: int, n_docs: int) -> DataFrame:
    """The shared exact scorer over term-matched (tok, doc_id, tf) rows —
    df counted from each term's own matched postings, DECIMAL(38,0) tf·idf
    sum per doc, sort-limit top-k. Identical expressions whichever layout
    (flat rows or exploded shard segments) produced ``idx``."""
    dfreq = idx.groupBy("tok").agg(F.count("*").alias("df_docs"))
    scored = (
        idx.join(F.broadcast(dfreq), "tok")
        # BIGINT, not a plain int literal: 1000000 * n_docs overflows int32
        # past ~2147 docs (the scan plan's count(*) is already bigint)
        .withColumn("n_docs", F.lit(int(n_docs)).cast("bigint"))
        .groupBy("doc_id")
        .agg(
            # DECIMAL(38,0) intermediates — byte-identical formula to the
            # D5 scan plan (plans/api.py), which documents the overflow
            # envelope; the two paths must stay row-identical.
            F.sum(
                F.expr(
                    "CAST(tf AS DECIMAL(38,0))"
                    " * ((CAST(1000000 AS DECIMAL(38,0)) * n_docs) div df_docs)"
                )
            )
            .cast("long")
            .alias("score_micro"),
            F.count("*").cast("int").alias("n_terms_hit"),
        )
    )
    return (
        scored.orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(topk)
        .select("doc_id", "n_terms_hit", "score_micro")
    )


def fulltext_rank_from_sharded(
    spark: SparkSession, data_dir: str, terms: list[str], topk: int, n_docs: int
) -> DataFrame:
    """D5's exact ranking served from the SHARDED posting segments
    (`/search?shard=1`): term filter pushed into the tok-sorted segment
    scan, matched segments exploded back to (tok, doc_id, tf) postings,
    then the identical shared scorer. EXACTNESS: segments partition each
    token's postings (additive across duplicate (tok, shard) rows from
    appends — exploding unions them), so the exploded frame is row-for-row
    the flat index's matched postings and every downstream expression is
    shared code. Proven row-identical to `fulltext_rank_from_index` in
    tests, including on a hot-token corpus where one term spans many
    segments."""
    seg = read_parquet(spark, table_path(data_dir, FULLTEXT_SHARDED)).filter(
        F.col("tok").isin(*terms)
    )
    idx = seg.select(
        "tok", F.explode(F.arrays_zip("doc_ids", "tfs")).alias("p")
    ).select(
        "tok", F.col("p.doc_ids").alias("doc_id"), F.col("p.tfs").alias("tf")
    )
    return _rank_matched_postings(idx, topk, n_docs)


def snapshot_tables(
    spark: SparkSession, sf_dir: str, out_dir: str, tables: list[str] | None = None
) -> dict:
    """Spark-publish the serving snapshot and verify it by re-read.

    Writes each backing table to ``{out_dir}/{table}.parquet`` (a parquet
    directory — `table_path` addressing, so the D plans point at the
    snapshot with ``sf_dir=out_dir`` unchanged) and fails loudly if any
    re-read digest disagrees with the one observed while writing it
    (`write_digested`) — a torn publish never serves. Returns
    ``{table: {"rows": n, "content_hash": h}}``."""
    os.makedirs(out_dir, exist_ok=True)
    src = load_tables(spark, sf_dir, tables or SERVING_TABLES)
    manifest = {}
    for name, df in src.items():
        expected = write_digested(df, table_path(out_dir, name))
        actual = _table_digest(read_parquet(spark, table_path(out_dir, name)))
        if actual != expected:
            raise RuntimeError(
                f"snapshot verify failed for {name}: wrote {expected}, read back {actual}"
            )
        manifest[name] = {"rows": expected[0], "content_hash": expected[1]}
    if "documents" in manifest:
        manifest[FULLTEXT_INDEX] = build_fulltext_index(spark, sf_dir, out_dir)
        manifest[FULLTEXT_SHARDED] = build_fulltext_index_sharded(spark, sf_dir, out_dir)
    if "part" in manifest:
        manifest[TRIGRAM_INDEX] = {"rows": build_trigram_index(spark, sf_dir, out_dir)}
    manifest_path = os.path.join(out_dir, MANIFEST)
    # under the manifest lock: an appender's read-modify-write of the old
    # manifest must not land after this write and overwrite it
    with _index_lock(manifest_path):
        write_json_atomic(manifest_path, manifest)
    return manifest


def _rows_payload(df: DataFrame) -> dict:
    rows = [r.asDict() for r in df.collect()]
    return {"n": len(rows), "rows": rows}


def _int_param(q: dict[str, str], name: str, default: int, lo: int | None = 1) -> int:
    """Parse an integer query param; non-integers AND out-of-range values
    (e.g. limit=-1, k=0) raise ValueError → a 400 bad request, never a
    500 from DataFrame.limit(-1)."""
    raw = q.get(name)
    if raw is None:
        return default
    v = int(raw)
    if lo is not None and v < lo:
        raise ValueError(f"{name} must be >= {lo}, got {v}")
    return v


def _maxdf_param(q: dict[str, str]) -> float:
    """Parse the optional ``?maxdf=`` skip control: absent → the 0.05
    default; 0 (any numeric spelling) → skip disabled, plain probe;
    (0, 1] → the hot-term df threshold; anything else → ValueError → 400,
    like every other parameter. (Previously only the literal string '0'
    was honored and e.g. ?maxdf=0.02 was silently ignored.)"""
    raw = q.get("maxdf")
    if raw is None:
        return 0.05
    v = float(raw)
    if not 0 <= v <= 1:
        raise ValueError(f"maxdf must be in [0, 1], got {v}")
    return v


def _paged_payload(df: DataFrame, key_col: str, q: dict[str, str]) -> dict:
    """Serve a filter route as a bounded keyset page (the D4 discipline):
    order by the key, cap at MAX_PAGE_SIZE, and return a ``next_after``
    cursor when more rows remain (probed with one extra row, so a result
    that fits under the cap is exactly the reference's full answer with
    ``next_after: null``). The reference's unbounded fetchall
    (main.py:44-49) does not survive a hot filter over a 100 TB table —
    this cap is a deliberate deviation, reference-identical under the cap."""
    limit = min(_int_param(q, "limit", MAX_PAGE_SIZE), MAX_PAGE_SIZE)
    after = _int_param(q, "after", None, lo=None)
    if after is not None:
        df = df.filter(F.col(key_col) > after)
    rows = [r.asDict() for r in df.orderBy(key_col).limit(limit + 1).collect()]
    more = len(rows) > limit
    rows = rows[:limit]
    return {
        "n": len(rows),
        "rows": rows,
        "next_after": rows[-1][key_col] if more and rows else None,
    }


_COMPANY_PATH = re.compile(r"^/companies/(\d+)$")


class _Handler(BaseHTTPRequestHandler):
    """Routes = the D-family plans against the snapshot directory.

    | route | plan | reference |
    | /companies/{key} | D1 api_lookup_by_key | main.py:15-38 |
    | /companies/search?q=[&after=&limit=] | D2 api_search_ilike, keyset-paged | main.py:40-49 |
    | /companies/by_state?state=[&after=&limit=] | D3 api_by_state, keyset-paged | main.py:51-59 |
    | /companies?after=&limit= | D4 api_page_keyset | (keyset pagination) |
    | /search?q=w+w&k=[&shard=1] | D5 api_fulltext_rank | (ranked full-text; shard=1 serves from posting segments) |
    | /fuzzy?q=&k= | D6 api_search_trigram | (pg_trgm similarity) |

    Every result set is capped at MAX_PAGE_SIZE; the filter routes page by
    keyset cursor (``next_after``) like /companies — the reference's
    unbounded fetchall responses are served identically when they fit
    under the cap.
    """

    # set by make_server
    spark: SparkSession = None
    data_dir: str = None

    def log_message(self, fmt, *args):  # quiet by default; tests assert bodies
        pass

    def _live_index(self, name: str) -> bool:
        """True if the index directory is live — healing a compaction that
        died mid-swap (live dir missing, data stranded in ``.precompact``)
        first. make_server runs this heal at startup, but a compactor can
        die mid-swap while the server is RUNNING, and without appenders
        (a read-mostly box) nothing else would ever roll the window back:
        probes would silently degrade to the corpus scan (or 500 on an
        index-only snapshot) until the next maintenance run. Request-time
        heal closes that. A LIVE compaction mid-swap holds the index lock,
        so the short lock timeout distinguishes it from a dead one — on
        timeout we just re-check and at worst this one request takes the
        scan fallback while the swap completes. (The probe itself still
        reads lock-free; the irreducible race of a swap landing between
        this check and the scan is one transient failed request, not the
        persistent outage this heals.)"""
        p = table_path(self.data_dir, name)
        if not os.path.isdir(p) and os.path.isdir(p.rstrip("/") + BACKUP):
            with contextlib.suppress(OSError, TimeoutError):
                with _index_lock(p, timeout=5.0):
                    heal_swap(p)
        return os.path.isdir(p)

    def _send(self, code: int, payload: dict) -> None:
        body = json.dumps(payload, default=str).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self) -> None:  # noqa: N802 — http.server contract
        try:
            url = urlparse(self.path)
            q = {k: v[0] for k, v in parse_qs(url.query).items()}
            self._route(url.path, q)
        except (ValueError, KeyError) as exc:
            self._send(400, {"error": f"bad request: {exc}"})
        except Exception as exc:  # noqa: BLE001 — a route bug must not kill the server
            self._send(500, {"error": f"internal: {exc}"})

    def _route(self, path: str, q: dict[str, str]) -> None:
        spark, d = self.spark, self.data_dir
        m = _COMPANY_PATH.match(path)
        if m:
            out = _rows_payload(api_plans.api_lookup_by_key(spark, d, key=int(m.group(1))))
            if out["n"] == 0:
                # reference parity on the BODY (main.py:37); the 404 status
                # is a deliberate deviation — the reference FastAPI service
                # returns the error body with HTTP 200 (it never sets a
                # status code), which proper clients can't branch on.
                self._send(404, {"error": "Company not found"})
            else:
                self._send(200, out)
        elif path == "/companies/search":
            # bounded keyset page over the D2 plan (cap + cursor; the
            # reference's unbounded fetchall is the under-cap special case)
            self._send(
                200,
                _paged_payload(api_plans.api_search_ilike(spark, d, pattern=q["q"]), "p_partkey", q),
            )
        elif path == "/companies/by_state":
            self._send(
                200,
                _paged_payload(api_plans.api_by_state(spark, d, state=q["state"]), "c_custkey", q),
            )
        elif path == "/companies":
            limit = min(_int_param(q, "limit", api_plans.PAGE_SIZE), MAX_PAGE_SIZE)
            after = _int_param(q, "after", 0, lo=None)
            out = _rows_payload(api_plans.api_page_keyset(spark, d, after=after, limit=limit))
            # next-page cursor = last key served (keyset pagination contract)
            out["next_after"] = out["rows"][-1]["c_custkey"] if out["rows"] else None
            self._send(200, out)
        elif path == "/search":
            terms = [w for w in q["q"].lower().split() if w]
            if not terms:
                raise ValueError("q must contain at least one term")
            k = min(_int_param(q, "k", api_plans.FT_TOPK), MAX_PAGE_SIZE)
            # parsed up front: a malformed ?maxdf= is a 400 whatever the
            # snapshot layout (0 forces the plain probe, (0,1] sets the
            # hot-term threshold)
            max_df = _maxdf_param(q)
            # ?shard=1 answers from the sharded posting segments (r12 —
            # proven row-identical to the flat probe); absent sharded
            # snapshot is a client error, not a silent fallback
            if q.get("shard") == "1":
                if not self._live_index(FULLTEXT_SHARDED):
                    raise ValueError("snapshot has no sharded fulltext index")
                with open(os.path.join(d, MANIFEST)) as f:
                    n_docs = json.load(f)[FULLTEXT_INDEX]["n_docs"]
                self._send(
                    200, _rows_payload(fulltext_rank_from_sharded(spark, d, terms, k, n_docs))
                )
                return
            # serve from the published index (term-pruned probe) when the
            # snapshot has one; ?scan=1 forces the corpus-scan plan (the
            # two are proven row-identical in tests)
            if "scan" not in q and self._live_index(FULLTEXT_INDEX):
                with open(os.path.join(d, MANIFEST)) as f:
                    n_docs = json.load(f)[FULLTEXT_INDEX]["n_docs"]
                # max-df skip first (exact by its guard, or declines)
                rows = None
                if max_df > 0:
                    rows, _info = fulltext_rank_maxdf(
                        spark, d, terms, k, n_docs, max_df=max_df
                    )
                if rows is not None:
                    out = {"n": len(rows), "rows": rows}
                else:
                    out = _rows_payload(fulltext_rank_from_index(spark, d, terms, k, n_docs))
            else:
                out = _rows_payload(api_plans.api_fulltext_rank(spark, d, terms=terms, topk=k))
            self._send(200, out)
        elif path == "/fuzzy":
            k = min(_int_param(q, "k", api_plans.TRGM_TOPK), MAX_PAGE_SIZE)
            if not [w for w in q["q"].lower().split() if w]:
                raise ValueError("q must contain at least one word")
            max_df = _maxdf_param(q)  # up front: malformed values 400
            if "scan" not in q and self._live_index(TRIGRAM_INDEX):
                # max-df skip first (exact by its guard, or declines)
                rows = None
                if max_df > 0:
                    rows, _info = trigram_rank_maxdf(spark, d, q["q"], k, max_df=max_df)
                if rows is not None:
                    out = {"n": len(rows), "rows": rows}
                else:
                    out = _rows_payload(trigram_rank_from_index(spark, d, q["q"], k))
            else:
                out = _rows_payload(api_plans.api_search_trigram(spark, d, query=q["q"], topk=k))
            self._send(200, out)
        elif path == "/health":
            with open(os.path.join(d, MANIFEST)) as f:
                self._send(200, {"ok": True, "snapshot": json.load(f)})
        else:
            self._send(404, {"error": f"no route {path}"})


def make_server(spark: SparkSession, data_dir: str, port: int = 0) -> ThreadingHTTPServer:
    """Build the HTTP server over a published snapshot directory. ``port=0``
    binds an ephemeral port (tests); `server.server_address[1]` has it.
    Startup first heals any compaction that died mid-swap (a missing live
    index directory with the data stranded in ``.precompact``) so probes
    never 500 against a half-swapped index."""
    # each healed path is guarded by the lock its SWAPPER holds: a
    # membership ledger is swapped by _compact_ledger under its INDEX lock,
    # so healing it under a ledger lock of its own would let this startup
    # heal roll back a LIVE ledger compaction between its two renames (the
    # live compactor holds only the index lock, which a ledger-path lock
    # would not contend with)
    for ix in _INDEXES.values():
        for name in (ix.name, ix.members):
            p = table_path(data_dir, name)
            if not (os.path.exists(p) or os.path.exists(p.rstrip("/") + BACKUP)):
                continue
            try:
                # under the lock: a live compaction mid-swap must not see
                # its .precompact rolled back between its two renames
                with _index_lock(table_path(data_dir, ix.name)):
                    heal_swap(p)
            except OSError as exc:
                # read-only snapshot mount: the lock file cannot be created
                # (EROFS/EACCES). Healing is only meaningful where
                # appenders/compaction run — which requires a writable dir
                # anyway — so degrade to a warning instead of refusing to
                # serve a published read-only snapshot.
                import errno
                import warnings

                if exc.errno not in (errno.EROFS, errno.EACCES, errno.EPERM):
                    raise
                warnings.warn(
                    f"snapshot dir not writable ({exc}); skipping startup "
                    f"compaction heal for {name}",
                    RuntimeWarning,
                    stacklevel=2,
                )
    handler = type("Handler", (_Handler,), {"spark": spark, "data_dir": data_dir})
    return ThreadingHTTPServer(("127.0.0.1", port), handler)


def serve_in_thread(server: ThreadingHTTPServer) -> threading.Thread:
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return t
