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
