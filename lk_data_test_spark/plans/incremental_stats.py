"""File-delta INCREMENTAL validation: one store, one scan, the batch judges.

The checkpoint manifest (plans/manifest.py) resumes at PARTITION granularity:
a partition whose snapshot changed re-runs in full. Under append-only
ingestion (the Iceberg norm — snapshots that only ADD data files) that
re-reads every old row to re-derive per-partition summaries that merge
exactly. This module keeps, per partition, the validated (file name -> size)
set plus one mergeable summary per data rule, all in ONE store file
(``<manifest_dir>/incremental_state.json``, replaced atomically). Each run
lists and classifies every partition once:

  - skip  — file set unchanged: nothing read;
  - delta — pure append (every stored file still present with the same
    size): ONLY the added files are scanned and their summaries merge into
    the stored ones;
  - full  — anything else (rewrite, delete, size change, first sight):
    correctness over cleverness, the partition is summarized from scratch,
    i.e. merged into the empty summary.

The full and delta files are read as one frame: ONE SharedTokenStats pass
(plans/shared.py, the batch suite's single decode of `tokens`), the salted
column-stats pass over the narrow columns, and one narrow aggregate for the
uniqueness sketch and the referential count. The summaries and their merges:

  - column_stats: the stats row — sums add, min/max take min/max, the
    bucketed n_tok histogram adds bucket-wise;
  - drift: the shared token partials per (source, kind, key) — counts add;
  - token_bounds, referential: per-row independent violation counts — add;
  - uniqueness: the Datasketches HLL sketch of doc_id — unions (its row
    count is the stats row's).

Every merge is exact, so a merged summary equals a full recompute of the
grown partition. Verdicts come from the judges the batch rules use
(column_stats.judge, drift.group_scorer, uniqueness.screen_flag /
cross_flag), so an incremental verdict equals a forced batch run over the
same table (asserted by tests). A partition the merged uniqueness screen
flags pays the exact hash-group pass over the WHOLE partition: duplicates
can straddle old and new files, so no delta-only exact check is sound. In
scope="global" one changed partition can flip an unchanged one's verdict,
so any change re-judges every partition from the stored sketches (no scan).

Drift and uniqueness memoize each partition's verdict under a fingerprint
of their inputs (profiles and params), so an all-skip rerun submits no
scan, no exact pass and no rescoring, and writes nothing; a params change
rescores from the stored summaries without a scan. A store written under a
different layout (other vocab bounds, histogram width, sketch size,
reference token domain, or set of rules with inputs) is discarded: every
partition runs full. The five per-rule stores of earlier versions
(``incremental_{stats,drift,referential,token_bounds,uniqueness}.json``)
are ignored, so the first run after upgrading is full.

Scale shape (10^12 rows): per-partition state is O(files) plus bounded
summaries, never O(rows); the scan reads exactly the full partitions and
the added files; judging is driver-side over n_parts tiny summaries.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators import column_stats, drift, token_bounds, uniqueness
from ..sources.catalog import PartitionedTable
from .manifest import write_json_atomic
from .shared import KIND_NTOK, KIND_OOV_ROWS, KIND_TOKEN, SharedTokenStats

STORE_NAME = "incremental_state.json"

_SUM_FIELDS = (
    "row_count",
    "null_doc_id",
    "null_source",
    "null_n_tok",
    "null_tokens",
    "nonpos_n_tok",
    "len_mismatch",
    "sum_n_tok",
)


def _row_to_stats(row) -> dict:
    d = {k: int(row[k]) for k in _SUM_FIELDS}
    d["min_n_tok"] = None if row["min_n_tok"] is None else int(row["min_n_tok"])
    d["max_n_tok"] = None if row["max_n_tok"] is None else int(row["max_n_tok"])
    d["n_tok_hist"] = {
        str(k): int(v) for k, v in (row["n_tok_hist"] or {}).items()
    }
    return d


def empty_stats() -> dict:
    d = {k: 0 for k in _SUM_FIELDS}
    d["min_n_tok"] = None
    d["max_n_tok"] = None
    d["n_tok_hist"] = {}
    return d


def merge_stats(a: dict, b: dict) -> dict:
    """Merge two partition-stats dicts — exact (integer) and commutative."""
    out = {k: a[k] + b[k] for k in _SUM_FIELDS}
    mins = [v for v in (a["min_n_tok"], b["min_n_tok"]) if v is not None]
    maxs = [v for v in (a["max_n_tok"], b["max_n_tok"]) if v is not None]
    out["min_n_tok"] = min(mins) if mins else None
    out["max_n_tok"] = max(maxs) if maxs else None
    hist = dict(a["n_tok_hist"])
    for k, v in b["n_tok_hist"].items():
        hist[k] = hist.get(k, 0) + v
    out["n_tok_hist"] = hist
    return out


def merge_partials(a: list, b: list) -> list:
    """Merge two drift partials lists of [source, kind, key, cnt] — counts
    add per (source, kind, key); the result is sorted, so it is canonical."""
    acc: dict[tuple, int] = {}
    for src, kind, key, cnt in list(a) + list(b):
        k = (src, int(kind), int(key))
        acc[k] = acc.get(k, 0) + int(cnt)
    return [[src, kind, key, cnt] for (src, kind, key), cnt in sorted(acc.items())]


def empty_summary(drift: bool, referential: bool) -> dict:
    """The identity of merge_summaries: a partition summary of no rows.
    Drift partials / referential counts are held only when the run has the
    reference profiles / allowed sources those rules need."""
    e = {"stats": empty_stats(), "token_bounds": 0}
    if drift:
        e["partials"] = []
    if referential:
        e["referential"] = 0
    return e


def merge_summaries(a: dict, b: dict) -> dict:
    """Merge two partition summaries of the same layout, rule by rule (the
    uniqueness sketch aside: HLL sketches union in Spark). Exact,
    associative and commutative, with empty_summary as identity."""
    out = {
        "stats": merge_stats(a["stats"], b["stats"]),
        "token_bounds": a["token_bounds"] + b["token_bounds"],
    }
    if "partials" in a:
        out["partials"] = merge_partials(a["partials"], b["partials"])
    if "referential" in a:
        out["referential"] = a["referential"] + b["referential"]
    return out


def _part_files(table: PartitionedTable, pid: int) -> dict[str, int]:
    pdir = os.path.join(table.path, f"part_id={pid}")
    return {
        f: os.path.getsize(os.path.join(pdir, f))
        for f in os.listdir(pdir)
        if f.endswith(".parquet")
    }


def classify_partitions(
    table: PartitionedTable, entries: dict[str, dict]
) -> tuple[dict[int, dict[str, int]], dict[int, list[str]], list[int], list[int]]:
    """File-level lineage triage, run once per incremental run -> (current
    file -> size map per partition, delta part -> added file paths, full
    parts, skipped parts)."""
    files = {pid: _part_files(table, pid) for pid in table.partition_ids()}
    delta: dict[int, list[str]] = {}
    full: list[int] = []
    skip: list[int] = []
    for pid, cur in files.items():
        prior = entries.get(str(pid))
        if prior is None:
            full.append(pid)
            continue
        old = {k: int(v) for k, v in prior["files"].items()}
        if cur == old:
            skip.append(pid)
        elif all(cur.get(f) == sz for f, sz in old.items()):
            pdir = os.path.join(table.path, f"part_id={pid}")
            delta[pid] = [
                os.path.join(pdir, f) for f in sorted(set(cur) - set(old))
            ]
        else:  # rewrite / delete / size change -> full recompute
            full.append(pid)
    return files, delta, full, skip


def _fingerprint(obj) -> str:
    return hashlib.sha256(
        json.dumps(obj, default=str, sort_keys=True).encode()
    ).hexdigest()


def _summarize(
    spark: SparkSession,
    table: PartitionedTable,
    paths: dict[int, list[str]],
    full: list[int],
    profiles,
    allowed,
    vocab: tuple[int, int],
    p: dict,
) -> dict[int, dict]:
    """Fresh summaries of exactly ``paths`` (part -> files: every file of a
    full partition, the added files of a delta one), from one frame."""
    frames = [table.read_partitions(spark, full)] if full else []
    frames += [
        # directory-derived columns are absent when reading file paths
        spark.read.parquet(*ps).withColumn("part_id", F.lit(pid).cast("int"))
        for pid, ps in paths.items()
        if pid not in full
    ]
    frame = frames[0]
    for fr in frames[1:]:
        frame = frame.unionByName(fr)
    # local parquet layout -> the shared pass decodes the files in the
    # Python worker (plans/shared.py::_build_partials_direct), as the runner
    # does; the corrupt-tolerant read keeps the Spark scan
    direct = None
    if not table.tolerate_corrupt:
        direct = [(pid, f) for pid, ps in sorted(paths.items()) for f in ps] or None
    if profiles is not None:
        shared = SharedTokenStats.from_profiles(
            frame,
            profiles,
            max_ref_tokens=int(p["drift"]["max_ref_tokens"]),
            hash_buckets=int(p["drift"]["hash_buckets"]),
            vocab_lo=vocab[0],
            vocab_hi=vocab[1],
            direct_files=direct,
        )
        if shared.hash_mod:
            raise ValueError(
                "hashed-domain profiles are not supported incrementally; "
                "run the batch drift rule"
            )
    else:
        # no drift: a one-token reference domain; only kinds 2-4 are read
        shared = SharedTokenStats(
            frame, 0, 0, True, vocab_lo=vocab[0], vocab_hi=vocab[1],
            direct_files=direct,
        )

    out = {
        pid: {**empty_summary(profiles is not None, allowed is not None), "sketch": b""}
        for pid in paths
    }
    shared.persist()
    try:
        for r in shared.partials.collect():  # the one decode of `tokens`
            e, kind = out[int(r["part_id"])], int(r["kind"])
            if kind in (KIND_NTOK, KIND_TOKEN) and "partials" in e:
                e["partials"].append(
                    [r["source"], kind, int(r["key"]), int(r["cnt"])]
                )
            elif kind == KIND_OOV_ROWS:
                e["token_bounds"] += int(r["cnt"])
        # null-tokens / len-mismatch come from the cached partials
        cs = p["column_stats"]
        for r in column_stats.partition_stats(
            frame, cs["n_salt"], cs["bucket_width"], shared=shared
        ).collect():
            out[int(r["part_id"])]["stats"] = _row_to_stats(r)
    finally:
        shared.unpersist()

    narrow = frame
    lg_k = int(p["uniqueness"]["lg_k"])
    aggs = [F.hll_sketch_agg("doc_id", F.lit(lg_k)).alias("sk")]
    if allowed is not None:
        # the referential rule's anti join, as a count: a row whose source
        # matches no active allowed source (NULL never matches) violates
        active = (
            allowed.filter(F.col("active")).select("source").distinct()
            .withColumn("_known", F.lit(True))
        )
        narrow = frame.join(F.broadcast(active), "source", "left")
        aggs.append(F.count_if(F.col("_known").isNull()).alias("unknown"))
    for r in narrow.groupBy("part_id").agg(*aggs).collect():
        e = out[int(r["part_id"])]
        e["sketch"] = bytes(r["sk"])
        if allowed is not None:
            e["referential"] = int(r["unknown"])
    return out


def _union_sketches(
    spark, data: list[tuple[int, bytes]]
) -> dict[int, tuple[bytes, float]]:
    """Union each group's sketches and estimate — one tiny job, no scan."""
    rows = (
        spark.createDataFrame(data, "part_id int, sk binary")
        .groupBy("part_id")
        .agg(F.hll_union_agg("sk").alias("u"))
        .select("part_id", "u", F.hll_sketch_estimate("u").alias("est"))
        .collect()
    )
    return {int(r["part_id"]): (bytes(r["u"]), float(r["est"])) for r in rows}


def _drift_metric(score, partials: list) -> float:
    """Max group score over one partition's partials (0 when no group has
    enough rows) — the batch rule's per-partition metric."""
    groups: dict[str, tuple[list, list, list, list]] = {}
    for src, kind, key, cnt in partials:
        g = groups.setdefault(src, ([], [], [], []))
        off = 0 if kind == KIND_NTOK else 2
        g[off].append(key)
        g[off + 1].append(cnt)
    best = 0.0
    for src, g in groups.items():
        s = score(src, *g)
        if s is not None:
            best = max(best, s[3])
    return best


def run_incremental_suite(
    spark: SparkSession,
    table: PartitionedTable,
    manifest_dir: str,
    profiles=None,
    allowed=None,
    vocab_lo: int | None = None,
    vocab_size: int | None = None,
    params: dict | None = None,
) -> dict[str, dict]:
    """Validate the five data rules incrementally against the one store in
    ``manifest_dir``. ``params`` is the runner's rule-parameter dict (keyed
    by rule id; vocab bounds at top level, as for the batch token_bounds
    rule); explicit ``vocab_lo``/``vocab_size`` override it.

    Returns {"column_stats", "drift", "referential", "uniqueness",
    "token_bounds"} -> {"parts": {part_id: {"mode", "passed", "metric",
    ...}}, "modes": {part_id: mode}}; column_stats also carries each
    partition's merged "stats" and the run's "scanned_rows", uniqueness each
    partition's "detail". Drift / referential are absent when their
    dimension input is None."""
    params = params or {}
    p = {
        rule.RULE_ID: {**rule.DEFAULTS, **params.get(rule.RULE_ID, {})}
        for rule in (column_stats, drift, uniqueness)
    }
    tb = {**token_bounds.DEFAULTS, **params}
    lo = int(tb["vocab_lo"] if vocab_lo is None else vocab_lo)
    hi = int(tb["vocab_size"] if vocab_size is None else vocab_size)
    prof_rows = profiles.collect() if profiles is not None else None
    layout = {
        "vocab": [lo, hi],
        "bucket_width": int(p["column_stats"]["bucket_width"]),
        "lg_k": int(p["uniqueness"]["lg_k"]),
        "referential": allowed is not None,
        "drift_domain": None if prof_rows is None else _fingerprint(
            sorted({int(t) for r in prof_rows for t in r["token_freq"]})
        ),
    }

    path = os.path.join(manifest_dir, STORE_NAME)
    store: dict = {}
    if os.path.exists(path):
        with open(path) as f:
            store = json.load(f)
    entries = store.get("parts", {}) if store.get("layout") == layout else {}

    files, delta, full, skip = classify_partitions(table, entries)
    paths = {
        pid: [
            os.path.join(table.path, f"part_id={pid}", f) for f in sorted(files[pid])
        ]
        for pid in full
    }
    paths.update(delta)
    fresh = (
        _summarize(spark, table, paths, full, profiles, allowed, (lo, hi), p)
        if paths
        else {}
    )

    # merged state: stored summary (empty for a full partition) + fresh one
    state: dict[int, dict] = {pid: entries[str(pid)] for pid in skip}
    sketches = {
        pid: [base64.b64decode(e["sketch"])] if e["sketch"] else []
        for pid, e in state.items()
    }
    empty = empty_summary(profiles is not None, allowed is not None)
    for pid, new in fresh.items():
        old = entries[str(pid)] if pid in delta else {**empty, "sketch": ""}
        state[pid] = {
            **merge_summaries(old, new),
            "files": files[pid],
            "sketch": "",
            "memo": {},
        }
        sketches[pid] = [
            sk for sk in (base64.b64decode(old["sketch"]), new["sketch"]) if sk
        ]
    modes = {
        pid: "skip" if pid in skip else "delta" if pid in delta else "full"
        for pid in sorted(files)
    }
    dirty = bool(fresh)

    def judged(rule: str, judge) -> dict:
        parts = {}
        for pid, mode in modes.items():
            passed, metric = judge(state[pid][rule])
            parts[pid] = {"mode": mode, "passed": passed, "metric": metric}
        return {"parts": parts, "modes": modes}

    out: dict[str, dict] = {}
    out["column_stats"] = judged(
        "stats",
        lambda s: column_stats.judge(s, p["column_stats"]["max_null_rate"]),
    )
    for pid, res in out["column_stats"]["parts"].items():
        res["stats"] = state[pid]["stats"]
    out["column_stats"]["scanned_rows"] = sum(
        e["stats"]["row_count"] for e in fresh.values()
    )
    out["token_bounds"] = judged("token_bounds", lambda n: (n == 0, float(n)))
    if allowed is not None:
        out["referential"] = judged("referential", lambda n: (n == 0, float(n)))

    if prof_rows is not None:
        # the score memo: the metric is a pure function of (partials,
        # profiles, params); a profile or threshold change rescores from
        # the stored partials — no scan
        drift_fp = _fingerprint([
            sorted(
                (
                    r["source"],
                    [float(q) for q in r["n_tok_quantiles"]],
                    sorted((int(k), float(v)) for k, v in r["token_freq"].items()),
                )
                for r in prof_rows
            ),
            p["drift"],
        ])
        score = None
        parts = {}
        for pid, mode in modes.items():
            e = state[pid]
            memo = e["memo"].get("drift")
            if mode != "skip" or memo is None or memo["fp"] != drift_fp:
                if score is None:
                    score = drift.group_scorer(
                        *drift.profile_maps(prof_rows), p["drift"]
                    )
                memo = e["memo"]["drift"] = {
                    "fp": drift_fp, "metric": _drift_metric(score, e["partials"])
                }
                dirty = True
            m = memo["metric"]
            parts[pid] = {"mode": mode, "metric": m, "passed": m <= 1.0}
        out["drift"] = {"parts": parts, "modes": modes}

    # uniqueness: a partition-scope verdict is a pure function of the
    # partition's files, so an unchanged partition reuses its memo; in
    # global scope any change re-judges every partition
    up = p["uniqueness"]
    is_global = up["scope"] == "global"
    uniq_fp = _fingerprint(up)
    need = [
        pid
        for pid, mode in modes.items()
        if mode != "skip"
        or state[pid]["memo"].get("uniqueness", {}).get("fp") != uniq_fp
    ]
    if is_global and need:
        need = list(modes)
    if need:
        data = [(pid, sk) for pid in need for sk in sketches[pid]]
        if is_global:
            data += [(-1, sk) for _, sk in data]
        ests = _union_sketches(spark, data) if data else {}
        for pid in fresh:
            if pid in ests:
                state[pid]["sketch"] = base64.b64encode(ests[pid][0]).decode()
        rows = {pid: state[pid]["stats"]["row_count"] for pid in need}
        exact = {
            pid for pid in need
            if pid in ests and rows[pid] > 0
            and uniqueness.screen_flag(rows[pid], ests[pid][1], up["rsd"])
        }
        find = uniqueness.duplicate_doc_ids
        if is_global:
            find = uniqueness.global_duplicate_doc_ids
            sum_est = sum(est for pid, (_, est) in ests.items() if pid != -1)
            union_est = ests.get(-1, (b"", 0.0))[1]
            total = sum(rows.values())
            if uniqueness.cross_flag(total, sum_est, union_est, up["rsd"]):
                exact = set(need)
        dup_counts: dict[int, int] = {}
        if exact:
            dups = find(table.read_partitions(spark, sorted(exact)))
            for r in (
                dups.groupBy("part_id").agg(F.count(F.lit(1)).alias("n")).collect()
            ):
                dup_counts[int(r["part_id"])] = int(r["n"])
        scope = " scope=global" if is_global else ""
        for pid in need:
            state[pid]["memo"]["uniqueness"] = {
                "fp": uniq_fp,
                "metric": float(dup_counts.get(pid, 0)),
                "detail": ("path=exact" if pid in exact else "path=screen") + scope,
            }
        dirty = True
    parts = {}
    for pid, mode in modes.items():
        m = state[pid]["memo"]["uniqueness"]
        parts[pid] = {
            "mode": mode,
            "metric": m["metric"],
            "passed": m["metric"] == 0.0,
            "detail": m["detail"],
        }
    out["uniqueness"] = {"parts": parts, "modes": modes}

    if dirty:
        write_json_atomic(
            path,
            {"layout": layout, "parts": {str(k): v for k, v in state.items()}},
            sort_keys=True,
        )
    return out
