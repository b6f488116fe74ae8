"""Crash-safe replacement of published state: the one file protocol the
runner ledger, the manifest-published datasets, the streaming upsert
target and the serving indexes share in place of database transactions.

Every helper leaves each crash state either the old state, the new one,
or one that a later call heals — never a torn one:

- `write_json_atomic`: write a sibling tmp, flush + fsync, then
  ``os.replace``. An in-place ``open(path, "w")`` truncates before
  ``json.dump`` writes, so a crash in between would leave an empty file
  that every later ``json.load`` dies on. The rename is atomic against
  process death; the fsync before it covers power loss too, where some
  filesystems persist the rename ahead of the data blocks.
- `swap_in`: replace a directory with a rewritten one by two renames
  (live → ``.precompact``, new → live), then delete the backup. The two
  renames are not atomic as a unit: a crash between them leaves no live
  directory, the good data stranded in ``.precompact``.
- `heal_swap`: roll that window back — restore ``.precompact`` as live
  (byte-identical to the pre-swap state), or drop it if the swap had
  completed. Run it before reading or swapping a directory that
  `swap_in` maintains.
- `drop_dir`: delete a directory so that every crash state leaves it
  ABSENT, never partial: rename it to ``.stale`` (atomic) and delete
  that. A crash mid-delete leaves only the ignored ``.stale`` orphan,
  reclaimed by the next call. Derived ledgers use it before a rebuild: an
  absent ledger makes a probe decline, a partial one would silently
  under-count.
- `row_hash` / `table_digest`: the order-insensitive content hash the
  digest checks compare before any swap — the sum of per-row crc32 over
  all columns in NAME order (a re-read moves partition columns to the
  end, so positional order is not stable). Manifests on disk store these
  values, so the expression must not change.
- `write_digested`: the same digest, observed DURING a write
  (``DataFrame.observe``) instead of in a separate pass over the source;
  the snapshot publish then re-reads what it wrote with `table_digest`.
  Compaction keeps its separate source pass: a shuffle sits between its
  source and writer, and observing above it would leave the shuffle
  unchecked, while below a ``repartitionByRange`` every row counts twice
  (the range-bound sampling job runs the same child plan).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

BACKUP = ".precompact"
REWRITE = ".compacting"


def write_json_atomic(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def swap_in(new_dir: str, live: str) -> None:
    """Replace ``live`` (if present) with ``new_dir``; see module doc."""
    old = live.rstrip("/") + BACKUP
    if os.path.exists(live):
        os.rename(live, old)
    os.rename(new_dir, live)
    if os.path.exists(old):
        shutil.rmtree(old)


def heal_swap(live: str, clean_tmp: bool = False) -> str | None:
    """Recover ``live`` from a `swap_in` that died mid-swap.

    ``clean_tmp`` additionally discards a leftover ``.compacting`` rewrite
    — pass it ONLY from the compaction itself (which must not run
    concurrently with another compaction of the same directory): to every
    other caller a ``.compacting`` dir may be a LIVE compaction's
    in-flight rewrite. Leaving an orphan is safe — the next compaction's
    mode-overwrite rewrite replaces it wholesale; the flag exists to
    reclaim the disk. Returns a short action tag for logging/tests, or
    None if nothing needed healing."""
    old = live.rstrip("/") + BACKUP
    tmp = live.rstrip("/") + REWRITE
    action = None
    if os.path.exists(old):
        if not os.path.exists(live):
            os.rename(old, live)
            action = "rolled_back"
        else:  # crashed after the second rename, before cleanup
            shutil.rmtree(old)
            action = "cleaned_precompact"
    if clean_tmp and os.path.exists(tmp):
        shutil.rmtree(tmp)
        action = action or "cleaned_compacting"
    return action


def drop_dir(path: str) -> None:
    """Delete ``path`` absent-on-crash; see module doc."""
    stale = path.rstrip("/") + ".stale"
    if os.path.exists(stale):
        shutil.rmtree(stale)
    if os.path.exists(path):
        os.rename(path, stale)
        shutil.rmtree(stale)


def row_hash(df: DataFrame) -> Column:
    # df-qualified columns: compact_dataset hashes rows after a join that
    # carries same-named plan columns
    return F.crc32(F.concat_ws("\x1f", *[df[c].cast("string") for c in sorted(df.columns)]))


def _digest_aggs(df: DataFrame) -> list[Column]:
    return [F.count("*").alias("rows"), F.sum(row_hash(df)).alias("h")]


def _as_digest(r) -> tuple[int, int]:
    return int(r["rows"]), int(r["h"] or 0)


def table_digest(df: DataFrame) -> tuple[int, int]:
    """(rows, content hash) in one aggregate pass."""
    return _as_digest(df.agg(*_digest_aggs(df)).collect()[0])


def write_digested(df: DataFrame, path: str) -> tuple[int, int]:
    """Overwrite ``path`` with ``df``; return its `table_digest` (module doc)."""
    obs = Observation()
    df.observe(obs, *_digest_aggs(df)).write.mode("overwrite").parquet(path)
    return _as_digest(obs.get)
