"""Expected answers, computed in DuckDB from the repo's SQL twins.

Batch queries (the corpus list and the ETL report) are checked by an
order-insensitive digest of their canonical rows (`tests.oracle_compare`,
the gate's own canonical form). DuckDB twins can take far longer than the
Spark plans they check, so their digests are cached on disk, keyed by the
input-data digest plus the SQL text.

Routes are checked row for row against the parameterised twins of the
`plans.api` SQL (same joins, filters and orderings as the served plans).
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from tests.oracle_compare import canonical_rows


def rows_digest(cols: list[str], rows: list[tuple]) -> str:
    canon = canonical_rows(cols, rows)
    return hashlib.sha256(repr((sorted(cols), canon)).encode()).hexdigest()


def connect(data_dir: str, extra_docs: list[dict] | None = None) -> duckdb.DuckDBPyConnection:
    """DuckDB views over every table present in ``data_dir`` (a parquet
    file or a Spark-written parquet directory per table); ``extra_docs``
    are unioned into `documents`."""
    con = duckdb.connect()
    for entry in sorted(os.listdir(data_dir)):
        if not entry.endswith(".parquet"):
            continue
        name = entry[: -len(".parquet")]
        path = os.path.join(data_dir, entry)
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        view = f"SELECT * FROM read_parquet('{path}')"
        if name == "documents" and extra_docs:
            import pyarrow as pa

            from perfbench.data import DOC_SCHEMA

            con.register("appended_docs", pa.Table.from_pylist(extra_docs, schema=DOC_SCHEMA))
            view += " UNION ALL SELECT * FROM appended_docs"
        con.execute(f"CREATE VIEW {name} AS {view}")
    return con


def sql_digest(con: duckdb.DuckDBPyConnection, sql: str) -> str:
    res = con.execute(sql)
    return rows_digest([d[0] for d in res.description], res.fetchall())


def oracle_digests(data_dir: str, data_digest: str, names: list[str], cache_path: str) -> dict[str, str]:
    """{query name: expected digest} for registry queries, from their
    DuckDB twins, through the on-disk cache."""
    from australian_company_etl_spark.plans import all_oracles

    oracles = all_oracles()
    cache: dict[str, str] = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    out: dict[str, str] = {}
    con = None
    for name in names:
        key = hashlib.sha256(f"{data_digest}\n{oracles[name]}".encode()).hexdigest()
        if key not in cache:
            con = con or connect(data_dir)
            cache[key] = sql_digest(con, oracles[name])
        out[name] = cache[key]
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    with open(cache_path + ".tmp", "w") as f:
        json.dump(cache, f, indent=1, sort_keys=True)
    os.replace(cache_path + ".tmp", cache_path)
    return out


# ---- route twins ---------------------------------------------------------


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def route_sql(route: str, params: dict) -> str:
    """The `plans.api` SQL twin of one served request, with the request's
    parameters and the route's ordering and page bound."""
    from australian_company_etl_spark.functions.textfns import tokens_all_sql
    from australian_company_etl_spark.plans.api import _TRGM_SQL, _pg_trigrams

    if route == "key":
        return (
            "SELECT c_custkey, c_name, c_mktsegment, round(c_acctbal, 2) AS c_acctbal, n_name"
            " FROM customer JOIN nation ON c_nationkey = n_nationkey"
            f" WHERE c_custkey = {int(params['key'])}"
        )
    if route == "search":
        return (
            "SELECT p_partkey, p_name, p_brand FROM part"
            f" WHERE contains(lower(p_name), {_q(params['q'].lower())})"
            f" ORDER BY p_partkey LIMIT {int(params['limit']) + 1}"
        )
    if route == "state":
        return (
            "SELECT c_custkey, c_name, n_name"
            " FROM customer JOIN nation ON c_nationkey = n_nationkey"
            f" WHERE n_name = {_q(params['state'])}"
            f" ORDER BY c_custkey LIMIT {int(params['limit']) + 1}"
        )
    if route == "page":
        return (
            "SELECT c_custkey, c_name, c_mktsegment FROM customer"
            f" WHERE c_custkey > {int(params['after'])}"
            f" ORDER BY c_custkey LIMIT {int(params['limit'])}"
        )
    if route == "fulltext":
        terms = ", ".join(_q(t) for t in params["q"].lower().split())
        return f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_all_sql('text')}) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks WHERE tok IN ({terms})
  GROUP BY doc_id, tok
), dfreq AS (SELECT tok, count(*) AS df_docs FROM tf GROUP BY tok),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
SELECT doc_id,
       count(*)::INT AS n_terms_hit,
       sum(tf * ((1000000 * n.n_docs) // dfreq.df_docs))::BIGINT AS score_micro
FROM tf JOIN dfreq USING (tok) CROSS JOIN n
GROUP BY doc_id
ORDER BY score_micro DESC, doc_id
LIMIT {int(params['k'])}
"""
    if route == "fuzzy":
        q = _pg_trigrams([w for w in params["q"].lower().split() if w])
        qlit = "[" + ", ".join(_q(t) for t in q) + "]"
        trg = _TRGM_SQL.format(c="p_name")
        inter = f"len(list_intersect({trg}, {qlit}))"
        union = f"(len({trg}) + {len(q)} - {inter})"
        sim = f"CASE WHEN {union} = 0 THEN 0.0 ELSE round({inter}::DOUBLE / {union}, 6) END"
        return (
            f"SELECT p_partkey, p_name, {sim} AS sim FROM part WHERE {sim} > 0"
            f" ORDER BY sim DESC, p_partkey ASC LIMIT {int(params['k'])}"
        )
    raise ValueError(f"unknown route {route!r}")


def _cell(v):
    return round(v, 6) if isinstance(v, float) else v


def expected_response(con: duckdb.DuckDBPyConnection, route: str, params: dict) -> tuple:
    """(HTTP status, ordered rows as tuples, keyset cursor) the route must
    answer. The cursor is checked on the paged routes only."""
    rows = [tuple(_cell(v) for v in r) for r in con.execute(route_sql(route, params)).fetchall()]
    if route == "key" and not rows:
        return 404, [], None
    cursor = None
    if route in ("search", "state"):
        limit = int(params["limit"])
        more = len(rows) > limit
        rows = rows[:limit]
        cursor = rows[-1][0] if more and rows else None
    elif route == "page":
        cursor = rows[-1][0] if rows else None
    return 200, rows, cursor


ROUTE_COLUMNS = {
    "key": ["c_custkey", "c_name", "c_mktsegment", "c_acctbal", "n_name"],
    "search": ["p_partkey", "p_name", "p_brand"],
    "state": ["c_custkey", "c_name", "n_name"],
    "page": ["c_custkey", "c_name", "c_mktsegment"],
    "fulltext": ["doc_id", "n_terms_hit", "score_micro"],
    "fuzzy": ["p_partkey", "p_name", "sim"],
}


def check_response(con, route: str, params: dict, status: int, body: dict, memo: dict) -> bool:
    """True when a served response equals the twin's answer, including the
    keyset cursor of the paged routes. ``memo`` caches expected answers
    per distinct request."""
    key = (route, json.dumps(params, sort_keys=True))
    if key not in memo:
        memo[key] = expected_response(con, route, params)
    want_status, want_rows, want_cursor = memo[key]
    if status != want_status:
        return False
    if status == 404:
        return True
    got = [tuple(_cell(r[c]) for c in ROUTE_COLUMNS[route]) for r in body.get("rows", [])]
    if got != want_rows:
        return False
    return route not in ("search", "state", "page") or body.get("next_after") == want_cursor
