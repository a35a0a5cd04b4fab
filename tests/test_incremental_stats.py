"""File-delta incremental validation: delta-only scans, exact merges,
full fallback on rewrite, idempotent skips — all through the one store of
``run_incremental_suite``."""

from __future__ import annotations

import os

import numpy as np

from lk_data_test_spark.datagen import GenConfig, generate
from lk_data_test_spark.operators.column_stats import partition_stats
from lk_data_test_spark.plans import incremental_stats
from lk_data_test_spark.plans.incremental_stats import (
    STORE_NAME,
    _row_to_stats,
    run_incremental_suite,
)
from lk_data_test_spark.plans.rules import RuleContext
from lk_data_test_spark.sources.catalog import PartitionedTable

_ROW = "doc_id string, tokens array<int>, n_tok int, source string"


def _append(spark, d, pid, rows):
    spark.createDataFrame(rows, _ROW).coalesce(1).write.mode("append").parquet(
        f"{d}/sequences/part_id={pid}"
    )


def _corpus(spark, tmp_path, cfg):
    d = str(tmp_path / "corpus")
    generate(spark, d, cfg)
    return d, PartitionedTable(f"{d}/sequences")


def _batch(spark, table, rule_mod, **ctx_kw):
    """A fresh batch evaluation of one rule -> {part_id: (passed, metric)}.
    Rules cache their per-partition frames (the suite runner unpersists
    them); clear the cache so a post-append evaluation is not silently
    served the pre-append plan (CacheManager matches by plan equality)."""
    spark.catalog.clearCache()
    ctx = RuleContext(spark=spark, part_ids=table.partition_ids(), **ctx_kw)
    return {
        int(r["part_id"]): (bool(r["passed"]), float(r["metric"]))
        for r in rule_mod.evaluate(table.read(spark), ctx).verdicts.collect()
    }


def test_incremental_stats_delta_merge(spark, tmp_path):
    d, table = _corpus(spark, tmp_path, GenConfig(n_parts=4, rows_per_part=300))
    mdir = str(tmp_path / "state")

    # first sight: everything full, verdicts match the batch rule's roles
    # (part_id % 5 -> 0 clean, 1 dup, 2 badcol, 3 badsrc; only badcol
    # injects column defects)
    r1 = run_incremental_suite(spark, table, mdir)["column_stats"]
    assert all(m == "full" for m in r1["modes"].values())
    assert r1["scanned_rows"] == 4 * 300
    assert r1["parts"][2]["passed"] is False and r1["parts"][2]["metric"] == 8.0
    for pid in (0, 1, 3):
        assert r1["parts"][pid]["passed"] is True

    # pure append into part 1: the rerun scans ONLY the 50 added rows,
    # everything else skips, and the merged stats are bit-identical to a
    # full recompute of the grown partition (the state round-trips via disk)
    _append(spark, d, 1, [(f"X{i:04d}", [1, 2, 3], 3, "cases") for i in range(50)])
    r2 = run_incremental_suite(spark, table, mdir)["column_stats"]
    assert r2["modes"][1] == "delta"
    assert all(m == "skip" for p, m in r2["modes"].items() if p != 1)
    assert r2["scanned_rows"] == 50
    fresh = partition_stats(
        table.read_partitions(spark, [1]), 16, 64
    ).collect()
    assert len(fresh) == 1
    assert r2["parts"][1]["stats"] == _row_to_stats(fresh[0])

    # idempotent: third run reads nothing
    r3 = run_incremental_suite(spark, table, mdir)["column_stats"]
    assert all(m == "skip" for m in r3["modes"].values())
    assert r3["scanned_rows"] == 0

    # delete a file from part 3 -> not a pure append -> full fallback there
    pdir = f"{d}/sequences/part_id=3"
    victim = sorted(f for f in os.listdir(pdir) if f.endswith(".parquet"))[0]
    os.remove(os.path.join(pdir, victim))
    r4 = run_incremental_suite(spark, table, mdir)["column_stats"]
    assert r4["modes"][3] == "full"
    assert all(m == "skip" for p, m in r4["modes"].items() if p != 3)


def test_incremental_drift_delta_matches_batch(spark, tmp_path):
    """Incremental drift: the full first run reproduces the batch rule's
    per-partition verdicts; after a pure append the delta run (which scans
    only the added files' partials) matches a fresh BATCH evaluation of the
    grown table — i.e. merging partials loses nothing."""
    from lk_data_test_spark.operators import drift

    d, table = _corpus(spark, tmp_path, GenConfig(n_parts=5, rows_per_part=1200))
    profiles = spark.read.parquet(f"{d}/reference_profiles")
    mdir = str(tmp_path / "state")

    def batch():
        return _batch(spark, table, drift, reference_profiles=profiles)

    r1 = run_incremental_suite(spark, table, mdir, profiles=profiles)["drift"]
    b1 = batch()
    assert all(m == "full" for m in r1["modes"].values())
    assert set(r1["parts"]) == set(b1)
    # the drift role (part 4 at n_parts=5) must actually fail — otherwise
    # this test proves nothing
    assert b1[4][0] is False and b1[0][0] is True
    for pid, res in r1["parts"].items():
        assert res["passed"] == b1[pid][0], (pid, res, b1[pid])
        assert np.isclose(res["metric"], b1[pid][1], rtol=1e-9), pid

    # pure append of distribution-shifting rows into CLEAN part 0: the
    # incremental delta result must equal a fresh batch evaluation of the
    # grown table (merge-exactness), and only part 0 may re-read anything
    _append(spark, d, 0, [
        (f"A{i:04d}", [3, 3, 3, 3, 3, 3, 3, 3], 8, "editions") for i in range(400)
    ])
    r2 = run_incremental_suite(spark, table, mdir, profiles=profiles)["drift"]
    assert r2["modes"][0] == "delta"
    assert all(m == "skip" for p, m in r2["modes"].items() if p != 0)
    b2 = batch()
    for pid, res in r2["parts"].items():
        assert res["passed"] == b2[pid][0], (pid, res, b2[pid])
        assert np.isclose(res["metric"], b2[pid][1], rtol=1e-9), pid

    # idempotent
    r3 = run_incremental_suite(spark, table, mdir, profiles=profiles)["drift"]
    assert all(m == "skip" for m in r3["modes"].values())


def test_incremental_referential_and_uniqueness(spark, tmp_path):
    """Referential metrics ADD (per-row independent), the uniqueness HLL
    sketch UNIONS (mergeable by design) with the exact hash-group pass
    reserved for partitions the merged screen flags. Full-run and
    post-append delta-run verdicts both match fresh batch evaluations."""
    from lk_data_test_spark.operators import referential, uniqueness

    d, table = _corpus(spark, tmp_path, GenConfig(n_parts=5, rows_per_part=1200))
    allowed = spark.read.parquet(f"{d}/allowed_sources")
    mdir = str(tmp_path / "state")

    def run():
        out = run_incremental_suite(spark, table, mdir, allowed=allowed)
        return out["referential"], out["uniqueness"]

    def batch(rule_mod):
        return _batch(spark, table, rule_mod, allowed_sources=allowed)

    r1, u1 = run()
    br, bu = batch(referential), batch(uniqueness)
    # roles: part 1 dup (uniqueness fails), part 3 badsrc (referential fails)
    assert br[3][0] is False and bu[1][0] is False
    for pid in br:
        assert r1["parts"][pid]["passed"] == br[pid][0]
        assert r1["parts"][pid]["metric"] == br[pid][1]
        assert u1["parts"][pid]["passed"] == bu[pid][0]
        assert u1["parts"][pid]["metric"] == bu[pid][1]
    assert u1["parts"][1]["detail"] == "path=exact"
    assert u1["parts"][0]["detail"] == "path=screen"

    # appends: 60 copies of ONE doc_id into clean part 0 (uniqueness) and
    # 5 unknown-source rows into part 2 (referential)
    _append(spark, d, 0, [("DUPLICATED", [1, 2], 2, "cases")] * 60)
    _append(spark, d, 2, [(f"N{i}", [1, 2], 2, "not-a-source") for i in range(5)])

    r2, u2 = run()
    assert r2["modes"][2] == "delta" and u2["modes"][0] == "delta"
    br2, bu2 = batch(referential), batch(uniqueness)
    for pid in br2:
        assert r2["parts"][pid]["passed"] == br2[pid][0], pid
        assert r2["parts"][pid]["metric"] == br2[pid][1], pid
        assert u2["parts"][pid]["passed"] == bu2[pid][0], pid
        assert u2["parts"][pid]["metric"] == bu2[pid][1], pid
    # the appended dup collapses to ONE duplicated key, found via the
    # MERGED sketch flagging part 0 (old sketch + delta sketch)
    assert u2["parts"][0]["detail"] == "path=exact"
    assert u2["parts"][0]["metric"] == 1.0

    # idempotent
    r3, u3 = run()
    assert all(m == "skip" for m in r3["modes"].values())
    assert all(m == "skip" for m in u3["modes"].values())


def test_incremental_uniqueness_global_cross_partition_append(spark, tmp_path):
    """scope=global: an append into part 0 that re-uses doc_ids already
    living in UNTOUCHED part 5 must flip part 5's verdict even though part 5
    is mode=skip (its sketch comes from the store, no scan) — the cross
    signal comes entirely from union-vs-sum over stored sketches. Local
    screens stay silent (the appended ids are unique within part 0), so only
    the global scope can catch this."""
    from lk_data_test_spark.operators import uniqueness

    # parts 0 and 5 are clean-role; dup-role part 1 gets d=1 local dup
    # (0.25% — beneath every screen's resolution, so the first run passes)
    d, table = _corpus(
        spark, tmp_path, GenConfig(n_parts=6, rows_per_part=400, dup_frac=0.0025)
    )
    params = {"uniqueness": {"scope": "global"}}
    mdir = str(tmp_path / "state")

    u1 = run_incremental_suite(spark, table, mdir, params=params)["uniqueness"]
    assert all(r["passed"] for r in u1["parts"].values())
    assert all(
        r["detail"] == "path=screen scope=global" for r in u1["parts"].values()
    )

    # append 120 rows into part 0 duplicating part 5's ids (rows 200..319:
    # outside part 5's local-dup block). 120 cross ids > 3%*(2400+120) = 76
    _append(spark, d, 0, [
        (f"D0005-{i:08d}", [1, 2], 2, "cases") for i in range(200, 320)
    ])
    u2 = run_incremental_suite(spark, table, mdir, params=params)["uniqueness"]
    assert u2["modes"][0] == "delta"
    assert all(m == "skip" for p, m in u2["modes"].items() if p != 0)
    # the cross signal widens the exact pass to every partition
    assert all(
        r["detail"] == "path=exact scope=global" for r in u2["parts"].values()
    )
    # part 0 (received copies) and part 5 (skip — owns the originals) fail
    assert u2["parts"][0]["passed"] is False
    assert u2["parts"][0]["metric"] == 120.0
    assert u2["parts"][5]["passed"] is False
    assert u2["parts"][5]["metric"] == 120.0
    # part 1's single local dup surfaces too (exact pass is global now)
    assert u2["parts"][1]["metric"] == 1.0
    for pid in (2, 3, 4):
        assert u2["parts"][pid]["passed"] is True, pid

    # matches a fresh batch evaluation at global scope
    batch = _batch(spark, table, uniqueness, params=params)
    for pid, res in u2["parts"].items():
        assert res["passed"] == batch[pid][0], pid
        assert res["metric"] == batch[pid][1], pid


def test_incremental_token_bounds_delta_adds(spark, tmp_path):
    """token_bounds is per-row independent like referential: delta files add
    delta OOV-row counts to the stored metric; full-run and post-append
    delta-run both match a fresh batch evaluation; reruns skip."""
    from lk_data_test_spark.operators import token_bounds

    d, table = _corpus(spark, tmp_path, GenConfig(n_parts=5, rows_per_part=1200))
    mdir = str(tmp_path / "state")

    def run():
        return run_incremental_suite(spark, table, mdir)["token_bounds"]

    v1 = run()
    b1 = _batch(spark, table, token_bounds)
    assert b1[2][0] is False and b1[2][1] == 5.0  # badcol role plants 5
    for pid in b1:
        assert v1["parts"][pid]["passed"] == b1[pid][0]
        assert v1["parts"][pid]["metric"] == b1[pid][1]

    # append 3 rows with OOV tokens into CLEAN part 0 and 2 clean rows
    # into failing part 2 (metric must stay 5 there, grow to 3 in part 0)
    _append(spark, d, 0, [(f"O{i}", [1, 40000 + i], 2, "cases") for i in range(3)])
    _append(spark, d, 2, [(f"C{i}", [1, 2, 3], 3, "cases") for i in range(2)])

    v2 = run()
    assert v2["modes"][0] == "delta" and v2["modes"][2] == "delta"
    b2 = _batch(spark, table, token_bounds)
    assert b2[0] == (False, 3.0) and b2[2] == (False, 5.0)
    for pid in b2:
        assert v2["parts"][pid]["passed"] == b2[pid][0], pid
        assert v2["parts"][pid]["metric"] == b2[pid][1], pid

    v3 = run()
    assert all(m == "skip" for m in v3["modes"].values())
    assert v3["parts"][0]["metric"] == 3.0


def test_skip_runs_do_no_work(spark, tmp_path, monkeypatch):
    """An all-skip rerun must be scan-free, rescore-free and write-free: the
    uniqueness exact pass reuses the stored per-partition dup count (pure
    function of the unchanged file set) and the drift scorer reuses the
    stored metric under a matching (profiles, params) fingerprint. At 10^6
    partitions replaying the exact pass over every flagged partition and
    re-scoring every histogram would dominate an otherwise O(delta) rerun."""
    import lk_data_test_spark.operators.drift as drift_mod
    import lk_data_test_spark.operators.uniqueness as uniq_mod

    d, table = _corpus(spark, tmp_path, GenConfig(n_parts=5, rows_per_part=1200))
    profiles = spark.read.parquet(f"{d}/reference_profiles")
    mdir = str(tmp_path / "state")
    store = os.path.join(mdir, STORE_NAME)

    s1 = run_incremental_suite(spark, table, mdir, profiles=profiles)
    u1, d1 = s1["uniqueness"], s1["drift"]
    assert u1["parts"][1]["detail"] == "path=exact"  # dup role got flagged
    written = os.stat(store).st_mtime_ns

    def boom(*a, **k):
        raise AssertionError("exact pass or rescoring ran on an all-skip rerun")

    monkeypatch.setattr(uniq_mod, "duplicate_doc_ids", boom)
    monkeypatch.setattr(drift_mod, "group_scorer", boom)
    monkeypatch.setattr(incremental_stats, "_summarize", boom)

    s2 = run_incremental_suite(spark, table, mdir, profiles=profiles)
    u2, d2 = s2["uniqueness"], s2["drift"]
    assert all(m == "skip" for m in u2["modes"].values())
    assert all(m == "skip" for m in d2["modes"].values())
    for pid in u1["parts"]:
        assert u2["parts"][pid]["metric"] == u1["parts"][pid]["metric"]
        assert u2["parts"][pid]["detail"] == u1["parts"][pid]["detail"]
        assert d2["parts"][pid]["metric"] == d1["parts"][pid]["metric"]
    assert os.stat(store).st_mtime_ns == written

    # a params change invalidates the drift fingerprint: the skip run then
    # RE-SCORES from stored partials (no scan) instead of reusing the memo —
    # proven via a sentinel scorer that must be consulted
    monkeypatch.setattr(
        drift_mod, "group_scorer",
        lambda *a, **k: lambda source, *g: (0.0, 0.0, 1e9, 42.0),
    )
    d3 = run_incremental_suite(
        spark, table, mdir, profiles=profiles,
        params={"drift": {"ks_threshold": 0.5}},
    )["drift"]
    assert all(m == "skip" for m in d3["modes"].values())
    assert all(r["metric"] == 42.0 for r in d3["parts"].values())


def test_incremental_suite_matches_forced_runner(spark, tmp_path, monkeypatch):
    """On first sight and after an append, each of the five data rules'
    incremental verdict equals a forced ValidationRunner.run over the same
    table (drift's metric within rtol=1e-9: the batch rule sums in a
    shuffled group, the store in sorted order). Each run lists and
    classifies the partitions once, and the whole state is one store file."""
    from lk_data_test_spark.plans.runner import ValidationRunner

    d, table = _corpus(spark, tmp_path, GenConfig(n_parts=5, rows_per_part=400))
    profiles = spark.read.parquet(f"{d}/reference_profiles")
    allowed = spark.read.parquet(f"{d}/allowed_sources")
    mdir = str(tmp_path / "state")

    calls = []
    classify = incremental_stats.classify_partitions
    monkeypatch.setattr(
        incremental_stats, "classify_partitions",
        lambda *a: calls.append(1) or classify(*a),
    )

    def check():
        calls.clear()
        inc = run_incremental_suite(
            spark, table, mdir, profiles=profiles, allowed=allowed
        )
        assert len(calls) == 1
        assert os.listdir(mdir) == [STORE_NAME]
        spark.catalog.clearCache()
        res = ValidationRunner(
            spark, table, allowed, profiles,
            manifest_path=str(tmp_path / "runner" / "manifest.json"),
        ).run(force=True)
        batch = {(v["part_id"], v["rule_id"]): v for v in res.verdicts}
        rules = ("column_stats", "token_bounds", "uniqueness", "referential", "drift")
        assert set(inc) == set(rules)
        for rule in rules:
            for pid, r in inc[rule]["parts"].items():
                b = batch[(pid, rule)]
                assert r["passed"] == b["passed"], (rule, pid)
                if rule == "drift":
                    assert np.isclose(r["metric"], b["metric"], rtol=1e-9), pid
                else:
                    assert r["metric"] == b["metric"], (rule, pid)
        return inc

    first = check()
    assert all(m == "full" for m in first["column_stats"]["modes"].values())
    assert first["column_stats"]["scanned_rows"] == 5 * 400

    # pure append into clean part 0: OOV tokens (token_bounds), an unknown
    # source (referential) and 40 copies of one doc_id (uniqueness)
    _append(spark, d, 0, [(f"O{i}", [1, 40000 + i], 2, "cases") for i in range(3)]
            + [(f"N{i}", [1, 2], 2, "not-a-source") for i in range(2)]
            + [("DUPLICATED", [1, 2, 3], 3, "cases")] * 40)
    second = check()
    modes = second["column_stats"]["modes"]
    assert modes[0] == "delta"
    assert all(m == "skip" for p, m in modes.items() if p != 0)
    assert second["column_stats"]["scanned_rows"] == 45
    assert second["token_bounds"]["parts"][0]["metric"] == 3.0
    assert second["referential"]["parts"][0]["metric"] == 2.0
    assert second["uniqueness"]["parts"][0]["metric"] == 1.0
