"""Deterministic input tables for the benchmark.

The benchmark reads nothing outside its checkout, so it writes its own
copy of the tables the measured paths read, in the schema of the repo's
test corpus (`sources.registry.TABLES`): the TPC-H-ish dimensions the ETL
DAG and the API routes read, plus the `documents` and `embeddings` corpora
of the dedup/similarity family. Sizes follow the sf0.01 tier. The tables
come from a fixed data seed, not from the run's `--seed`, so the expected
answers computed from them are cached once per checkout; the run seed
drives only request streams, appended batches and pass order.

Vectors are random unit vectors with random labels. Near-duplicates are
planted on purpose (about 5% of documents are edited copies of an earlier
document and about 5% of vectors are perturbed copies of an earlier
vector), so the pairwise-join queries have real matches to verify, as
they do on the repo's test corpus.
"""

from __future__ import annotations

import hashlib
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "documents": 500,
    "embeddings": 500,
}

TABLES = ["region", "nation", "customer", "supplier", "part", "documents", "embeddings"]

VOCAB = (
    "row the query stream fast spark line small customer group value hash batch "
    "sort data big filter dup key agg scan slow table part a merge window order "
    "column join vector"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
PART_NOUN = ["bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "nut"]
PART_TYPES = ["LARGE", "STANDARD", "PROMO", "ECONOMY", "MEDIUM", "SMALL"]
N_NATIONS = 25
DIM = 64
N_LABELS = 10
DUP_SHARE = 0.05

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def doc_text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99)))


def near_copy(rng: random.Random, text: str) -> str:
    words = text.split()
    for _ in range(rng.randint(1, 3)):
        words[rng.randrange(len(words))] = rng.choice(VOCAB)
    return " ".join(words)


def document_rows(rng: random.Random, first_id: int, n: int) -> list[dict]:
    """``n`` documents with ids from ``first_id``; about DUP_SHARE of them
    are edited copies of an earlier document of the same batch."""
    rows: list[dict] = []
    for i in range(n):
        if rows and rng.random() < DUP_SHARE:
            text = near_copy(rng, rng.choice(rows)["text"])
        else:
            text = doc_text(rng)
        doc_id = first_id + i
        rows.append(
            {
                "doc_id": doc_id,
                "text": text,
                "lang": rng.choice(LANGS),
                "source": f"src{doc_id % 20}",
                "n_chars": len(text),
            }
        )
    return rows


def _unit(v: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / n for x in v]


def _tables(rng: random.Random) -> dict[str, pa.Table]:
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
            "n_regionkey": pa.array([i % 5 for i in range(N_NATIONS)], pa.int32()),
        }
    )
    n = SIZES["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array([rng.randrange(N_NATIONS) for _ in range(n)], pa.int32()),
            "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n)],
            "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n)],
        }
    )
    n = SIZES["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array([rng.randrange(N_NATIONS) for _ in range(n)], pa.int32()),
            "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n)],
        }
    )
    n = SIZES["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n), pa.int64()),
            "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n)],
            "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n)],
            "p_type": [rng.choice(PART_TYPES) for _ in range(n)],
            "p_size": pa.array([rng.randint(1, 50) for _ in range(n)], pa.int32()),
            "p_retailprice": [900.0 + (i % 1000) / 10 for i in range(n)],
        }
    )
    out["documents"] = pa.Table.from_pylist(
        document_rows(rng, 0, SIZES["documents"]), schema=DOC_SCHEMA
    )
    vecs: list[list[float]] = []
    labels: list[int] = []
    for _ in range(SIZES["embeddings"]):
        if vecs and rng.random() < DUP_SHARE:
            j = rng.randrange(len(vecs))
            v = _unit([x + rng.gauss(0, 0.01) for x in vecs[j]])
            label = labels[j]
        else:
            label = rng.randrange(N_LABELS)
            v = _unit([rng.gauss(0, 1) for _ in range(DIM)])
        vecs.append(v)
        labels.append(label)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def ensure_tables(data_dir: str) -> str:
    """Write the tables into ``data_dir`` once (a ``_DIGEST`` file, written
    last, marks a complete set) and return the content digest of the set."""
    marker = os.path.join(data_dir, "_DIGEST")
    if os.path.exists(marker):
        with open(marker) as f:
            return f.read().strip()
    os.makedirs(data_dir, exist_ok=True)
    rng = random.Random(DATA_SEED)
    h = hashlib.sha256()
    for name, table in _tables(rng).items():
        path = os.path.join(data_dir, f"{name}.parquet")
        pq.write_table(table, path)
        with open(path, "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    digest = h.hexdigest()[:16]
    with open(marker + ".tmp", "w") as f:
        f.write(digest)
    os.replace(marker + ".tmp", marker)
    return digest
