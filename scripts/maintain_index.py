"""Maintain a published serving snapshot's search indexes.

The operational counterpart of scripts/serve.py: the serving indexes are
append-only (serving/http_api.py), and this CLI runs the three maintenance
dataflows against a live snapshot directory —

    # append one landed batch of documents (first-wins, ledger-exact)
    python scripts/maintain_index.py append --data-dir SNAP --new-docs DIR

    # drain a landing directory as a checkpointed stream (resumable)
    python scripts/maintain_index.py stream --data-dir SNAP \
        --landing DIR --checkpoint DIR

    # restore an index and its ledgers to fully-sorted layout
    # (digest-verified swap); --index fulltext_index or trigram_index,
    # each sorted by its own term column
    python scripts/maintain_index.py compact --data-dir SNAP \
        [--index fulltext_index] [--n-files 8]

All three are idempotent: re-delivered batches append nothing, a restarted
stream resumes after its committed files, and a failed compaction never
replaces the live index. A crontab pairing `stream` (frequent) with
`compact` (periodic) is the full index-maintenance daemon — overlap is
safe: appenders and the compaction swap exclude each other via the index
lock file, a batch appended during a compaction rewrite is re-diffed into
the new layout at swap time, and every entry point first rolls back a
swap that died between its two renames (heal_swap).
Only compactions of the SAME index must not overlap each other.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from australian_company_etl_spark.serving import http_api

    p = argparse.ArgumentParser(description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    a = sub.add_parser("append", help="append one batch of documents")
    a.add_argument("--data-dir", required=True)
    a.add_argument("--new-docs", required=True, help="parquet dir of (doc_id, text)")

    s = sub.add_parser("stream", help="drain a landing dir as a checkpointed stream")
    s.add_argument("--data-dir", required=True)
    s.add_argument("--landing", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--schema", default="doc_id bigint, text string")
    s.add_argument("--max-files", type=int, default=1)

    c = sub.add_parser("compact", help="restore an index to sorted layout")
    c.add_argument("--data-dir", required=True)
    c.add_argument("--index", default="fulltext_index", choices=sorted(http_api._INDEXES))
    c.add_argument("--n-files", type=int, default=8)

    args = p.parse_args()

    from australian_company_etl_spark.session import get_spark

    spark = get_spark(app_name="aus-etl-maintain-index")
    if args.cmd == "append":
        out = http_api.append_documents_to_index(
            spark, spark.read.parquet(args.new_docs), args.data_dir
        )
    elif args.cmd == "stream":
        out = {
            "batches": http_api.run_index_maintenance_stream(
                spark,
                args.landing,
                args.schema,
                args.data_dir,
                max_files=args.max_files,
                checkpoint_dir=args.checkpoint,
            )
        }
    else:
        out = http_api.compact_index(spark, args.data_dir, args.index, n_files=args.n_files)
    print(json.dumps(out, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
