"""The crash-safe publish protocol lives in one module.

`sources/publish.py` owns every atomic JSON write, directory swap, heal and
absent-on-crash delete. A hand-written copy elsewhere drifts from it (the
stats-ledger rebuilds once deleted their live ledger in place and could
leave it partial), so no other package module may call the primitives the
protocol is built from.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parents[1] / "australian_company_etl_spark"
PRIMITIVE = re.compile(r"\bos\.(rename|replace|fsync)\(")


def test_only_publish_module_renames_replaces_or_fsyncs():
    offenders = [
        f"{path.relative_to(PKG)}:{n}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "sources" / "publish.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if PRIMITIVE.search(line)
    ]
    assert not offenders, "use sources/publish.py instead:\n" + "\n".join(offenders)


#: `.count()` called directly on a fresh read of a directory, one level of
#: nested parentheses allowed in the read's arguments, across line breaks
REREAD_COUNT = re.compile(
    r"\b(?:read_parquet|read\.parquet)\((?:[^()]|\([^()]*\))*\)\s*\.count\(\)"
)


def test_no_module_counts_a_directory_by_re_reading_it():
    """A publish step knows what it wrote: its row count comes from the
    parquet footers (`registry.parquet_rows`), not from a re-read that
    starts a schema-inference job and the count's own jobs."""
    offenders = [
        f"{path.relative_to(PKG)}:{text.count(chr(10), 0, m.start()) + 1}: {m.group(0)}"
        for path in sorted(PKG.rglob("*.py"))
        for text in [path.read_text()]
        for m in REREAD_COUNT.finditer(text)
    ]
    assert not offenders, "use sources.registry.parquet_rows instead:\n" + "\n".join(offenders)


def test_reread_count_guard_matches_the_forms_it_forbids():
    forbidden = [
        "n = read_parquet(spark, path).count()",
        "spark.read.parquet(table_path(d, 'x')).count()",
        "read_parquet(\n    spark, path\n).count()",
    ]
    allowed = [
        "read_parquet(spark, path).select('doc_id').count()",
        "fresh.count()",
        "parquet_rows(path)",
    ]
    assert all(REREAD_COUNT.search(s) for s in forbidden)
    assert not any(REREAD_COUNT.search(s) for s in allowed)
