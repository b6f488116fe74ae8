"""Crash-point fuzz of the serving-index durability protocol (VERDICT r07
task 6).

Round 7 proved SPECIFIC crash points safe (kill-9 mid-swap, torn ledger,
mid-compaction heal). This suite generalizes: it enumerates EVERY
filesystem-mutation boundary in the fulltext appender and compactor —
parquet writes, renames, rmtrees, delta copies, the manifest json dump —
crashes there (exception injected immediately before the k-th mutation
that touches the snapshot directory, for k = 1, 2, … until a run
completes crash-free), then runs the documented recovery protocol
(at-least-once batch re-delivery, then a compaction) and asserts the
index, doc ledger, probe-stat ledger, and manifest n_docs all converge to
the from-scratch rebuild state. Enumeration strictly covers the seeded
random sampling the task sketched: every boundary is hit exactly once
instead of ~50 draws over the same space.

The injection wraps the concrete DataFrameWriter class plus os.rename /
os.replace / shutil.rmtree / shutil.copy / shutil.copy2 / json.dump,
scoped to paths under the snapshot dir, so Spark-internal temp churn
never advances the counter. The same harness also enumerates the
manifest-published dataset compaction (sources/export.py), whose
two-rename swap shares the protocol, and the fulltext REBUILD path
(build over an existing snapshot — the ADVICE r7 stale-ledger scenario),
where every intermediate crash state must additionally leave the probe
stats absent-or-coherent, never stale over the new corpus.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from pyspark.sql import functions as F

from australian_company_etl_spark.serving import http_api as api
from australian_company_etl_spark.serving.http_api import table_path


class SimulatedCrash(BaseException):
    """BaseException so no library except-Exception handler can swallow
    the injected crash and continue past the boundary being tested."""


class CrashInjector:
    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        self.crash_at: int | None = None
        self.count = 0
        self.armed = False
        #: the paths of every counted mutation since the last arm
        self.hits: list[tuple] = []

    def arm(self, crash_at: int | None) -> None:
        self.crash_at, self.count, self.armed, self.hits = crash_at, 0, True, []

    def disarm(self) -> None:
        self.armed = False

    def hit(self, *paths) -> None:
        if not self.armed:
            return
        if not any(
            isinstance(p, str) and os.path.abspath(p).startswith(self.root)
            for p in paths
        ):
            return
        self.count += 1
        self.hits.append(paths)
        if self.crash_at is not None and self.count >= self.crash_at:
            raise SimulatedCrash(f"mutation {self.count}")


@pytest.fixture()
def injector(spark, tmp_path, monkeypatch):
    inj = CrashInjector(str(tmp_path))

    writer_cls = type(spark.range(1).write)
    real_parquet = writer_cls.parquet
    real_rename = os.rename
    real_replace = os.replace
    real_rmtree = shutil.rmtree
    real_copy2 = shutil.copy2
    real_copy = shutil.copy
    real_json_dump = json.dump

    def patched_parquet(self, path, *a, **kw):
        inj.hit(path)
        return real_parquet(self, path, *a, **kw)

    def patched_rename(src, dst, *a, **kw):
        inj.hit(src, dst)
        return real_rename(src, dst, *a, **kw)

    def patched_replace(src, dst, *a, **kw):
        inj.hit(src, dst)
        return real_replace(src, dst, *a, **kw)

    def patched_rmtree(path, *a, **kw):
        inj.hit(str(path))
        return real_rmtree(path, *a, **kw)

    def patched_copy2(src, dst, *a, **kw):
        inj.hit(str(src), str(dst))
        return real_copy2(src, dst, *a, **kw)

    def patched_copy(src, dst, *a, **kw):
        inj.hit(str(src), str(dst))
        return real_copy(src, dst, *a, **kw)

    def patched_json_dump(obj, fp, *a, **kw):
        inj.hit(getattr(fp, "name", ""))
        return real_json_dump(obj, fp, *a, **kw)

    monkeypatch.setattr(writer_cls, "parquet", patched_parquet)
    monkeypatch.setattr(os, "rename", patched_rename)
    monkeypatch.setattr(os, "replace", patched_replace)
    monkeypatch.setattr(shutil, "rmtree", patched_rmtree)
    monkeypatch.setattr(shutil, "copy2", patched_copy2)
    monkeypatch.setattr(shutil, "copy", patched_copy)
    monkeypatch.setattr(json, "dump", patched_json_dump)
    return inj


def _mk_docs(spark, lo: int, hi: int):
    # crafted so tokens overlap across batches (shared df/max_tf state) and
    # one doc per batch is token-less (ledger-only membership — the state
    # the postings backfill cannot represent)
    rows = []
    for i in range(lo, hi):
        text = f"alpha beta gamma{i % 3} doc{i} " + ("hot " * (i % 4))
        if i % 7 == 3:
            text = "~~~"  # token-less under the alnum tokenizer
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _state_digest(spark, d: str) -> dict:
    """Content digests of every durable structure of the fulltext index."""
    out = {
        "postings": api._table_digest(
            spark.read.parquet(table_path(d, api.FULLTEXT_INDEX))
        ),
        "ledger": api._table_digest(
            spark.read.parquet(table_path(d, api.FULLTEXT_DOCS))
        ),
        "stats": api._table_digest(
            spark.read.parquet(table_path(d, api.FULLTEXT_STATS))
        ),
    }
    with open(os.path.join(d, "_SNAPSHOT.json")) as f:
        out["n_docs"] = json.load(f)["fulltext_index"]["n_docs"]
    return out


def _build_template(spark, tmp_path, n_base: int) -> tuple[str, str]:
    """A base snapshot (docs 0..n_base) to copy per crash iteration, plus
    a corpus dir for the from-scratch reference."""
    corpus = str(tmp_path / "corpus")
    _mk_docs(spark, 0, n_base).write.parquet(corpus + "/documents.parquet")
    template = str(tmp_path / "template")
    os.makedirs(template)
    meta = api.build_fulltext_index(spark, corpus, template, n_files=2)
    with open(os.path.join(template, "_SNAPSHOT.json"), "w") as f:
        json.dump({"fulltext_index": meta}, f)
    return template, corpus


def _reference_digest(spark, tmp_path, n_total: int) -> dict:
    full = str(tmp_path / "full_corpus")
    _mk_docs(spark, 0, n_total).write.parquet(full + "/documents.parquet")
    ref = str(tmp_path / "reference")
    os.makedirs(ref)
    meta = api.build_fulltext_index(spark, full, ref, n_files=2)
    with open(os.path.join(ref, "_SNAPSHOT.json"), "w") as f:
        json.dump({"fulltext_index": meta}, f)
    return _state_digest(spark, ref)


N_BASE, N_TOTAL = 12, 24


def test_appender_crash_at_every_mutation_boundary_heals(
    spark, tmp_path, injector
):
    """Crash the fulltext appender before its k-th snapshot-dir mutation
    for every k; re-deliver the batch (the at-least-once contract), then
    compact. Postings/ledger/stats/n_docs must equal the from-scratch
    build over the full corpus at EVERY crash point."""
    template, _corpus = _build_template(spark, tmp_path, N_BASE)
    want = _reference_digest(spark, tmp_path, N_TOTAL)
    batch = _mk_docs(spark, N_BASE, N_TOTAL)

    k, crash_points = 1, 0
    while True:
        d = str(tmp_path / f"snap_a{k}")
        shutil.copytree(template, d)
        injector.arm(crash_at=k)
        crashed = False
        try:
            api.append_documents_to_index(spark, batch, d)
        except SimulatedCrash:
            crashed = True
        finally:
            injector.disarm()
        # recovery protocol: re-deliver, then compact (rebuilds the stats)
        api.append_documents_to_index(spark, batch, d)
        api.compact_index(spark, d, api.FULLTEXT_INDEX, n_files=2)
        got = _state_digest(spark, d)
        assert got == want, f"appender crash point {k} did not converge: {got}"
        if not crashed:
            break
        crash_points += 1
        k += 1
    # the enumeration must have exercised real boundaries (stats write,
    # postings write, ledger append, manifest dump at minimum)
    assert crash_points >= 3, f"only {crash_points} appender boundaries found"


def test_compactor_crash_at_every_mutation_boundary_heals(
    spark, tmp_path, injector
):
    """Crash compact_index before its k-th snapshot-dir mutation for every
    k — the tmp rewrite, both swap renames, the precompact rmtree, the
    ledger compaction's own swap, the stats rebuild swap. Recovery is the
    appender's startup heal (a zero-new-docs delivery) plus a fresh
    compaction; all structures must converge to the from-scratch state."""
    template, _corpus = _build_template(spark, tmp_path, N_BASE)
    want = _reference_digest(spark, tmp_path, N_TOTAL)
    batch = _mk_docs(spark, N_BASE, N_TOTAL)

    # template with the batch already appended (small unsorted delta files
    # present — the state compaction exists to repair)
    appended = str(tmp_path / "appended")
    shutil.copytree(template, appended)
    api.append_documents_to_index(spark, batch, appended)

    k, crash_points = 1, 0
    while True:
        d = str(tmp_path / f"snap_c{k}")
        shutil.copytree(appended, d)
        injector.arm(crash_at=k)
        crashed = False
        try:
            api.compact_index(spark, d, api.FULLTEXT_INDEX, n_files=2)
        except SimulatedCrash:
            crashed = True
        finally:
            injector.disarm()
        # recovery: the appender heals interrupted swaps under its lock
        # (re-delivery of the same batch is a no-op append), then compact
        api.append_documents_to_index(spark, batch, d)
        api.compact_index(spark, d, api.FULLTEXT_INDEX, n_files=2)
        got = _state_digest(spark, d)
        assert got == want, f"compactor crash point {k} did not converge: {got}"
        if not crashed:
            break
        crash_points += 1
        k += 1
    # rewrite + two swap renames + precompact rmtree + ledger swap chain +
    # stats rebuild swap: the compactor has strictly more boundaries
    assert crash_points >= 6, f"only {crash_points} compactor boundaries found"


def _mk_parts(spark, lo: int, hi: int):
    rows = [(i, f"promo burnished p{i} " + ("copper " * (i % 3))) for i in range(lo, hi)]
    return spark.createDataFrame(rows, "p_partkey bigint, p_name string")


def _trigram_state_digest(spark, d: str) -> dict:
    out = {
        "postings": api._table_digest(
            spark.read.parquet(table_path(d, api.TRIGRAM_INDEX))
        ),
        "stats": api._table_digest(
            spark.read.parquet(table_path(d, api.TRIGRAM_STATS))
        ),
        "meta": api._table_digest(
            spark.read.parquet(table_path(d, api.TRIGRAM_META))
        ),
    }
    with open(os.path.join(d, "_SNAPSHOT.json")) as f:
        out["rows"] = json.load(f)["trigram_index"]["rows"]
    return out


def _trigram_members(spark, d: str) -> list[int]:
    path = table_path(d, api.TRIGRAM_PARTS)
    return sorted(r.p_partkey for r in spark.read.parquet(path).collect())


def test_trigram_compactor_crash_at_every_mutation_boundary_heals(
    spark, tmp_path, injector
):
    """The trigram index's compaction rebuilds its TWO probe-stat ledgers
    via a per-ledger write-tmp + drop + rename chain (`_rebuild_stats`) —
    a different chain than the fulltext side's digest-verified
    ledger compaction, so it gets its own boundary enumeration. Crash
    before every snapshot-dir mutation; recovery = a no-op re-delivery
    (heals interrupted swaps) + a fresh compaction; postings, both
    ledgers, and the manifest row count must converge to the from-scratch
    build every time."""
    corpus = str(tmp_path / "parts")
    _mk_parts(spark, 0, 10).write.parquet(corpus + "/part.parquet")
    template = str(tmp_path / "template")
    os.makedirs(template)
    n = api.build_trigram_index(spark, corpus, template)
    with open(os.path.join(template, "_SNAPSHOT.json"), "w") as f:
        json.dump({"trigram_index": {"rows": n}}, f)
    batch = _mk_parts(spark, 10, 20)
    appended = str(tmp_path / "appended")
    shutil.copytree(template, appended)
    api.append_parts_to_trigram_index(spark, batch, appended)

    full = str(tmp_path / "full_parts")
    _mk_parts(spark, 0, 20).write.parquet(full + "/part.parquet")
    ref = str(tmp_path / "reference")
    os.makedirs(ref)
    n_ref = api.build_trigram_index(spark, full, ref)
    with open(os.path.join(ref, "_SNAPSHOT.json"), "w") as f:
        json.dump({"trigram_index": {"rows": n_ref}}, f)
    # reference passes through one compaction so its meta ledger is the
    # same folded single-row shape recovery converges to
    api.compact_index(spark, ref, api.TRIGRAM_INDEX, n_files=2)
    want = _trigram_state_digest(spark, ref)

    k, crash_points = 1, 0
    while True:
        d = str(tmp_path / f"snap_t{k}")
        shutil.copytree(appended, d)
        injector.arm(crash_at=k)
        crashed = False
        try:
            api.compact_index(spark, d, api.TRIGRAM_INDEX, n_files=2)
        except SimulatedCrash:
            crashed = True
        finally:
            injector.disarm()
        api.append_parts_to_trigram_index(spark, batch, d)
        api.compact_index(spark, d, api.TRIGRAM_INDEX, n_files=2)
        got = _trigram_state_digest(spark, d)
        assert got == want, f"trigram compactor crash point {k} did not converge: {got}"
        assert _trigram_members(spark, d) == list(range(20)), f"crash point {k}"
        if not crashed:
            break
        crash_points += 1
        k += 1
    assert crash_points >= 6, f"only {crash_points} trigram boundaries found"


def test_compact_dataset_crash_at_every_mutation_boundary_heals(
    spark, tmp_path, injector
):
    """The manifest-published dataset compaction (sources/export.py) has
    the same two-rename swap protocol as the serving indexes — enumerate
    its boundaries too: the tmp rewrite, the manifest copy into tmp, both
    swap renames, the precompact rmtree. Recovery = rerun compact_dataset
    (it heals a mid-swap crash at entry); the dataset must then verify
    against its manifest and hold exactly the original rows."""
    from australian_company_etl_spark.sources.export import (
        compact_dataset,
        export_with_manifest,
        verify_manifest,
    )

    df = spark.createDataFrame(
        [(i, f"AU{i % 3}", f"v{i}") for i in range(40)],
        "id bigint, country string, v string",
    )
    want_rows = {(r.id, r.country, r.v) for r in df.collect()}
    template = str(tmp_path / "published")
    export_with_manifest(df.repartition(6), template, ["country"])

    k, crash_points = 1, 0
    while True:
        d = str(tmp_path / f"ds_{k}")
        shutil.copytree(template, d)
        injector.arm(crash_at=k)
        crashed = False
        try:
            compact_dataset(spark, d, target_bytes=128 << 20)
        except SimulatedCrash:
            crashed = True
        finally:
            injector.disarm()
        res = compact_dataset(spark, d, target_bytes=128 << 20)
        assert res["ok"]
        assert verify_manifest(spark, d)["ok"], f"crash point {k}: manifest mismatch"
        back = {(r.id, r.country, r.v) for r in spark.read.parquet(d).collect()}
        assert back == want_rows, f"crash point {k}: rows diverged"
        if not crashed:
            break
        crash_points += 1
        k += 1
    # tmp write + manifest copy + two renames + precompact rmtree at least
    assert crash_points >= 4, f"only {crash_points} compact_dataset boundaries found"


def test_fulltext_rebuild_crash_at_every_mutation_boundary_heals(
    spark, tmp_path, injector
):
    """The build path's own enumeration — the rebuild-over-an-existing-
    snapshot scenario the ADVICE r7 stale-ledger fix targets, generalized
    from its single tested crash point to every boundary (ledger drops,
    postings overwrite, doc-ledger write, stats write). Recovery for a
    crashed build is rerunning the build (mode-overwrite is idempotent);
    postings, doc ledger, and stats must then equal a clean build's, and
    at EVERY intermediate crash state the max-df probe must either serve
    exactly or decline — never use stale statistics (asserted via the
    stats ledger being absent or equal to one of the two corpus states)."""
    old_corpus = str(tmp_path / "old")
    _mk_docs(spark, 0, 10).write.parquet(old_corpus + "/documents.parquet")
    new_corpus = str(tmp_path / "new")
    _mk_docs(spark, 10, 22).write.parquet(new_corpus + "/documents.parquet")

    template = str(tmp_path / "template")
    os.makedirs(template)
    meta_old = api.build_fulltext_index(spark, old_corpus, template, n_files=2)
    with open(os.path.join(template, "_SNAPSHOT.json"), "w") as f:
        json.dump({"fulltext_index": meta_old}, f)

    ref = str(tmp_path / "reference")
    os.makedirs(ref)
    api.build_fulltext_index(spark, new_corpus, ref, n_files=2)
    want = {
        name: api._table_digest(spark.read.parquet(table_path(ref, name)))
        for name in (api.FULLTEXT_INDEX, api.FULLTEXT_DOCS, api.FULLTEXT_STATS)
    }
    old_stats = api._table_digest(
        spark.read.parquet(table_path(template, api.FULLTEXT_STATS))
    )

    k, crash_points = 1, 0
    while True:
        d = str(tmp_path / f"snap_b{k}")
        shutil.copytree(template, d)
        injector.arm(crash_at=k)
        crashed = False
        try:
            api.build_fulltext_index(spark, new_corpus, d, n_files=2)
        except SimulatedCrash:
            crashed = True
        finally:
            injector.disarm()
        # soundness AT the crash state: the stats ledger is absent (probe
        # declines) or matches one coherent corpus — never a stale-over-new
        # mixture describing rows it does not bound
        stats_path = table_path(d, api.FULLTEXT_STATS)
        if os.path.exists(stats_path):
            cur = api._table_digest(spark.read.parquet(stats_path))
            assert cur in (old_stats, want[api.FULLTEXT_STATS])
        # recovery: rerun the build
        api.build_fulltext_index(spark, new_corpus, d, n_files=2)
        got = {
            name: api._table_digest(spark.read.parquet(table_path(d, name)))
            for name in (api.FULLTEXT_INDEX, api.FULLTEXT_DOCS, api.FULLTEXT_STATS)
        }
        assert got == want, f"rebuild crash point {k} did not converge: {got}"
        if not crashed:
            break
        crash_points += 1
        k += 1
    assert crash_points >= 4, f"only {crash_points} rebuild boundaries found"


def test_trigram_appender_crash_at_every_mutation_boundary_heals(
    spark, tmp_path, injector
):
    """The trigram APPENDER's own enumeration (VERDICT r08 task 4 — until
    now it only ran as the recovery step inside the compactor test, so a
    crash INSIDE it was never exercised): crash before every snapshot-dir
    mutation in append_parts_to_trigram_index — the `trigram_parts`
    backfill (the template has no part ledger) and its swap, the two
    write-first probe-stat ledger appends, the postings append, the part
    ledger append, the manifest dump + replace — then re-deliver the batch
    (at-least-once) and compact. A crash between the probe-stat writes and
    the postings append makes the re-delivered batch look fresh (neither
    the part ledger nor the postings hold it), double-appending stat rows
    — inflation the compaction's wholesale rebuild must fold back to exact
    values. Postings, both probe-stat ledgers, the part ledger and the
    manifest row count must equal the from-scratch build at every crash
    point."""
    corpus = str(tmp_path / "parts")
    _mk_parts(spark, 0, 10).write.parquet(corpus + "/part.parquet")
    template = str(tmp_path / "template")
    os.makedirs(template)
    n = api.build_trigram_index(spark, corpus, template)
    with open(os.path.join(template, "_SNAPSHOT.json"), "w") as f:
        json.dump({"trigram_index": {"rows": n}}, f)
    batch = _mk_parts(spark, 10, 20)

    full = str(tmp_path / "full_parts")
    _mk_parts(spark, 0, 20).write.parquet(full + "/part.parquet")
    ref = str(tmp_path / "reference")
    os.makedirs(ref)
    n_ref = api.build_trigram_index(spark, full, ref)
    with open(os.path.join(ref, "_SNAPSHOT.json"), "w") as f:
        json.dump({"trigram_index": {"rows": n_ref}}, f)
    # recovery ends in a compaction, so the reference passes through one
    # too — its ledgers take the folded single-row shape recovery reaches
    api.compact_index(spark, ref, api.TRIGRAM_INDEX, n_files=2)
    want = _trigram_state_digest(spark, ref)

    k, crash_points = 1, 0
    while True:
        d = str(tmp_path / f"snap_ta{k}")
        shutil.copytree(template, d)
        injector.arm(crash_at=k)
        crashed = False
        try:
            api.append_parts_to_trigram_index(spark, batch, d)
        except SimulatedCrash:
            crashed = True
        finally:
            injector.disarm()
        api.append_parts_to_trigram_index(spark, batch, d)
        api.compact_index(spark, d, api.TRIGRAM_INDEX, n_files=2)
        got = _trigram_state_digest(spark, d)
        assert got == want, f"trigram appender crash point {k} did not converge: {got}"
        assert _trigram_members(spark, d) == list(range(20)), f"crash point {k}"
        if not crashed:
            break
        crash_points += 1
        k += 1
    # the crash-free run passed the part ledger's backfill write, its swap
    # into place and the batch's ledger append
    ledger = table_path(d, api.TRIGRAM_PARTS)
    backfill = ledger.rstrip("/") + ".compacting"
    assert {(backfill,), (backfill, ledger), (ledger,)} <= set(injector.hits)
    # backfill write + swap, meta + df-stats appends, postings append,
    # part-ledger append, manifest dump + replace
    assert crash_points >= 8, f"only {crash_points} trigram appender boundaries found"


def test_trigram_rebuild_crash_at_every_mutation_boundary_heals(
    spark, tmp_path, injector
):
    """build_trigram_index over an EXISTING snapshot, boundary-enumerated
    like its fulltext twin above (VERDICT r08 task 4): the build now drops
    both derived ledgers (rename-away + rmtree) BEFORE overwriting the
    postings they describe, so every crash state must leave each ledger
    ABSENT (probe declines), or the OLD ledger only while the postings are
    still the OLD corpus — never a stale ledger over new postings, and
    never a torn one. Recovery is rerunning the build (mode-overwrite is
    idempotent); postings and both ledgers must then equal a clean
    build's."""
    old_corpus = str(tmp_path / "old")
    _mk_parts(spark, 0, 10).write.parquet(old_corpus + "/part.parquet")
    new_corpus = str(tmp_path / "new")
    _mk_parts(spark, 10, 22).write.parquet(new_corpus + "/part.parquet")

    template = str(tmp_path / "template")
    os.makedirs(template)
    n_old = api.build_trigram_index(spark, old_corpus, template)
    with open(os.path.join(template, "_SNAPSHOT.json"), "w") as f:
        json.dump({"trigram_index": {"rows": n_old}}, f)
    old = {
        name: api._table_digest(spark.read.parquet(table_path(template, name)))
        for name in (api.TRIGRAM_INDEX, api.TRIGRAM_STATS, api.TRIGRAM_META)
    }

    ref = str(tmp_path / "reference")
    os.makedirs(ref)
    api.build_trigram_index(spark, new_corpus, ref)
    want = {
        name: api._table_digest(spark.read.parquet(table_path(ref, name)))
        for name in (api.TRIGRAM_INDEX, api.TRIGRAM_STATS, api.TRIGRAM_META)
    }

    k, crash_points = 1, 0
    while True:
        d = str(tmp_path / f"snap_tb{k}")
        shutil.copytree(template, d)
        injector.arm(crash_at=k)
        crashed = False
        try:
            api.build_trigram_index(spark, new_corpus, d)
        except SimulatedCrash:
            crashed = True
        finally:
            injector.disarm()
        # soundness AT the crash state, per ledger: absent (decline), or a
        # coherent corpus state — and the OLD ledger may only coexist with
        # the OLD postings (the stale-over-new mixture is the bug class the
        # drop-first ordering closes)
        postings_digest = api._table_digest(
            spark.read.parquet(table_path(d, api.TRIGRAM_INDEX))
        )
        for name in (api.TRIGRAM_STATS, api.TRIGRAM_META):
            p = table_path(d, name)
            if os.path.exists(p):
                cur = api._table_digest(spark.read.parquet(p))
                assert cur in (old[name], want[name]), f"crash {k}: torn {name}"
                if cur == old[name] and old[name] != want[name]:
                    assert postings_digest == old[api.TRIGRAM_INDEX], (
                        f"crash {k}: stale {name} over new postings"
                    )
        api.build_trigram_index(spark, new_corpus, d)
        got = {
            name: api._table_digest(spark.read.parquet(table_path(d, name)))
            for name in (api.TRIGRAM_INDEX, api.TRIGRAM_STATS, api.TRIGRAM_META)
        }
        assert got == want, f"trigram rebuild crash point {k} did not converge: {got}"
        if not crashed:
            break
        crash_points += 1
        k += 1
    # two ledger rename-aways (+ stale rmtrees on later iterations), the
    # postings overwrite, and the two ledger rewrites at minimum
    assert crash_points >= 4, f"only {crash_points} trigram rebuild boundaries found"


class _CrashInDelete(BaseException):
    pass


@pytest.mark.parametrize(
    "ledger", [api.FULLTEXT_STATS, api.TRIGRAM_STATS, api.TRIGRAM_META]
)
def test_stats_rebuild_crash_mid_delete_leaves_no_partial_ledger(
    spark, tmp_path, monkeypatch, ledger
):
    """A compaction's probe-stat rebuild replaces each ledger wholesale. A
    crash while the OLD ledger's files are being deleted must leave it
    absent (the probe declines) or complete — never a readable partial
    ledger, whose under-counted df/max_tf (or raised min_n_trgm) would
    break the max-df guard's bound. Crash on the second ledger data file
    removed, after two appends gave the ledger several files; a further
    compaction must then converge to the clean rebuild."""
    import glob

    d = str(tmp_path / "snap")
    os.makedirs(d)
    if ledger == api.FULLTEXT_STATS:
        index = api.FULLTEXT_INDEX
        corpus = str(tmp_path / "corpus")
        _mk_docs(spark, 0, 12).write.parquet(corpus + "/documents.parquet")
        manifest = {index: api.build_fulltext_index(spark, corpus, d, n_files=2)}
        append = api.append_documents_to_index
        batches = (_mk_docs(spark, 12, 18), _mk_docs(spark, 18, 24))
    else:
        index = api.TRIGRAM_INDEX
        corpus = str(tmp_path / "parts")
        _mk_parts(spark, 0, 10).write.parquet(corpus + "/part.parquet")
        manifest = {index: {"rows": api.build_trigram_index(spark, corpus, d)}}
        append = api.append_parts_to_trigram_index
        batches = (_mk_parts(spark, 10, 15), _mk_parts(spark, 15, 20))
    with open(os.path.join(d, "_SNAPSHOT.json"), "w") as f:
        json.dump(manifest, f)
    for batch in batches:
        append(spark, batch, d)
    ledger_path = table_path(d, ledger)
    # Spark part files carry a per-write UUID: these names are the ledger's
    doomed = {os.path.basename(p) for p in glob.glob(os.path.join(ledger_path, "*.parquet"))}
    assert len(doomed) >= 2

    clean = str(tmp_path / "clean")
    shutil.copytree(d, clean)
    api.compact_index(spark, clean, index, n_files=2)
    want = api._table_digest(spark.read.parquet(table_path(clean, ledger)))

    real_unlink = os.unlink
    removed = []

    def unlink(path, *a, **kw):
        name = os.path.basename(os.fsdecode(path))
        if name in doomed:
            removed.append(name)
            if len(removed) == 2:
                raise _CrashInDelete(name)
        return real_unlink(path, *a, **kw)

    monkeypatch.setattr(os, "unlink", unlink)
    with pytest.raises(_CrashInDelete):
        api.compact_index(spark, d, index, n_files=2)
    monkeypatch.setattr(os, "unlink", real_unlink)

    if os.path.exists(ledger_path):
        got = api._table_digest(spark.read.parquet(ledger_path))
        assert got == want, f"readable partial {ledger}: {got} != clean {want}"
    api.compact_index(spark, d, index, n_files=2)
    assert api._table_digest(spark.read.parquet(ledger_path)) == want
