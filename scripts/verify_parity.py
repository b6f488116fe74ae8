"""Replay the driver's correctness gate locally at an arbitrary SF.

For every registered query with an oracle twin, runs the Spark plan and the
DuckDB SQL side-by-side through tests.oracle_compare.compare (row count +
sorted-column schema + value hash — the driver's exact comparison) and
prints one line per query. Usage:

    python scripts/verify_parity.py [--ansi|--no-ansi] [--cache] [sf_dir] [first_n | name name ...]

Defaults: /root/testdata/sf0.01, all queries. Exit code 1 if any mismatch.
ANSI is the session default (pinned on — see session.py); ``--no-ansi``
replays the same gate with spark.sql.ansi.enabled=false, the legacy mode
the engine does NOT target but must not silently diverge in (round 9:
with sizeOfNull pinned, both modes are 151/151). ``--ansi`` is accepted
as an explicit no-op for continuity with the round-9 sweep logs. Either
flag must be FIRST and needs a fresh process (session config is fixed at
JVM creation).

``--cache`` (VERDICT r09 task 8, OPT-IN — the default stays from-scratch):
memoize the ORACLE side per (query, oracle-SQL digest, corpus digest) in
<sf_dir's basename>-keyed .parity_cache.json under the repo root. The two
slowest sf1 entries (etl_dag_end_to_end 69s, curate_keep_best 63s) are
~90% DuckDB recursive-CTE evaluation; with a warm cache a full sf1 replay
re-runs every SPARK plan but answers the oracle side from the stored
canonical hash. The Spark side is NEVER cached. Any oracle-SQL edit
changes the key and recomputes; the corpus digest covers each file's
size plus 64 KiB head/tail windows (the parquet footer lives in the
tail), so regeneration invalidates even when file sizes coincide. On a
cached-hash mismatch the line says so — rerun that query without
--cache for row diffs.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _corpus_digest(sf_dir: str) -> str:
    """Digest of every table file's (relative path, size, head+tail bytes).
    The tail bytes cover the parquet FOOTER (row-group offsets, column
    stats, schema), so a regenerated corpus whose files happen to keep
    identical sizes still changes the key (ADVICE r10 — the earlier
    size-only digest silently reused stale oracle hashes in that case).
    Not a full-content checksum: hashing whole multi-GB corpora per replay
    would cost more than the cache saves. Beyond the windows, eight 4 KiB
    probes at evenly spaced interior offsets are hashed (ADVICE r11): a
    hand-edited or externally produced file that preserves size and both
    windows would previously reuse stale oracle hashes; now a mid-file
    change must dodge the probes too — ~96 KiB read per file total, still
    O(1) per file. mtimes are deliberately excluded — identical bytes
    re-copied should still hit."""
    from australian_company_etl_spark.sources.registry import TABLES, table_path

    h = hashlib.sha256()

    def _file(fp: str, label: str) -> None:
        size = os.path.getsize(fp)
        h.update(f"{label}:{size};".encode())
        win = 65536
        with open(fp, "rb") as f:
            h.update(f.read(win))
            if size > win:
                f.seek(max(win, size - win))
                h.update(f.read(win))
            interior = size - 2 * win
            if interior > 0:
                for i in range(8):
                    f.seek(win + (interior * i) // 8)
                    h.update(f.read(4096))

    for name in sorted(TABLES):
        p = table_path(sf_dir, name)
        if os.path.isdir(p):
            for root, _dirs, files in sorted(os.walk(p)):
                for f in sorted(files):
                    fp = os.path.join(root, f)
                    _file(fp, os.path.relpath(fp, sf_dir))
        elif os.path.exists(p):
            _file(p, name)
    return h.hexdigest()[:16]


def _cached_oracle(con, sql: str, cache: dict, key: str) -> dict:
    """Oracle-side (cols, row count, canonical-rows sha256), memoized."""
    from tests.oracle_compare import canonical_rows

    if key in cache:
        return cache[key]
    res = con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    canon = canonical_rows(d_cols, d_rows)
    entry = {
        "cols": sorted(d_cols),
        "rows": len(d_rows),
        "hash": hashlib.sha256("\n".join("\t".join(r) for r in canon).encode()).hexdigest(),
    }
    cache[key] = entry
    return entry


def _compare_with_cache(spark_df, con, sql: str, cache: dict, key: str) -> dict:
    from tests.oracle_compare import canonical_rows

    oracle = _cached_oracle(con, sql, cache, key)
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    canon = canonical_rows(s_cols, s_rows)
    s_hash = hashlib.sha256("\n".join("\t".join(r) for r in canon).encode()).hexdigest()
    ok = (
        sorted(s_cols) == oracle["cols"]
        and len(s_rows) == oracle["rows"]
        and s_hash == oracle["hash"]
    )
    return {
        "ok": ok,
        "spark_rows": len(s_rows),
        "duck_rows": oracle["rows"],
        "spark_cols": sorted(s_cols),
        "duck_cols": oracle["cols"],
        "cached_oracle": True,
        "note": None if ok else "cached-oracle hash mismatch — rerun this query without --cache for row diffs",
    }


def main() -> int:
    argv = sys.argv[1:]
    if argv and argv[0] == "--ansi":
        os.environ["SPARK_GRAFT_ANSI"] = "1"
        argv = argv[1:]
    elif argv and argv[0] == "--no-ansi":
        os.environ["SPARK_GRAFT_ANSI"] = "0"
        argv = argv[1:]
    use_cache = False
    if argv and argv[0] == "--cache":
        use_cache = True
        argv = argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    rest = argv[1:]
    first_n = int(rest[0]) if len(rest) == 1 and rest[0].isdigit() else 0
    wanted = rest if rest and not first_n else None

    from australian_company_etl_spark.session import get_spark
    from australian_company_etl_spark.plans import all_queries, all_oracles
    from tests.oracle_compare import compare, duckdb_connect

    spark = get_spark(app_name="aus-etl-verify")
    print(f"# spark.sql.ansi.enabled = {spark.conf.get('spark.sql.ansi.enabled')}", flush=True)
    queries = all_queries()
    oracles = all_oracles()
    con = duckdb_connect(sf_dir)

    names = [n for n in queries if n in oracles]
    if first_n:
        names = names[:first_n]
    elif wanted:
        # fail loudly on names that are not sql-gated registry queries — a
        # typo in a targeted replay used to be silently dropped, printing
        # "0/0 ok" and exiting 0 (a vacuous pass where the caller believed
        # the changed query was replayed)
        unknown = sorted(set(wanted) - set(names))
        if unknown:
            print(f"unknown or oracle-less query names: {unknown}", file=sys.stderr)
            return 2
        names = [n for n in names if n in wanted]

    cache: dict = {}
    cache_path = None
    if use_cache:
        corpus = _corpus_digest(sf_dir)
        cache_path = os.path.join(
            _REPO, f".parity_cache_{os.path.basename(sf_dir.rstrip('/'))}.json"
        )
        if os.path.exists(cache_path):
            stored = json.load(open(cache_path))
            if stored.get("corpus") == corpus:
                cache = stored.get("entries", {})
        print(f"# oracle cache: {len(cache)} warm entries, corpus {corpus}", flush=True)

    failures = []
    for i, name in enumerate(names, 1):
        t0 = time.perf_counter()
        try:
            if use_cache:
                key = f"{name}:{hashlib.sha256(oracles[name].encode()).hexdigest()[:16]}"
                res = _compare_with_cache(
                    queries[name](spark, sf_dir), con, oracles[name], cache, key
                )
            else:
                res = compare(queries[name](spark, sf_dir), con, oracles[name])
        except Exception as exc:  # noqa: BLE001 — report and continue
            print(f"[{i}/{len(names)}] {name}: ERROR {exc}", flush=True)
            failures.append(name)
            continue
        dt = time.perf_counter() - t0
        status = "ok" if res["ok"] else f"FAIL {res}"
        print(f"[{i}/{len(names)}] {name}: {status} ({dt:.1f}s)", flush=True)
        if not res["ok"]:
            failures.append(name)

    if use_cache and cache_path:
        from australian_company_etl_spark.sources.publish import write_json_atomic

        # corpus-stamped — a different corpus never reuses
        write_json_atomic(cache_path, {"corpus": corpus, "entries": cache})

    print(f"\n{len(names) - len(failures)}/{len(names)} ok; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
