"""Output checks. Pure functions over plain Python data (no Spark), so the
self-test in ``test_checks.py`` runs without a session.

Each returns a list of human-readable mismatches; an empty list passes.
"""

from __future__ import annotations

import hashlib
import math

# rule ids whose failure a generator role implies (datagen's partition roles)
RULES = ("schema", "column_stats", "token_bounds", "uniqueness", "referential", "drift")


def expected_failures(parts: list[int]) -> dict[int, set[str]]:
    """part_id -> the rule ids that must fail on it, from the engine's own
    role map (``datagen.expected_failing_parts``)."""
    from lk_data_test_spark.datagen import GenConfig, expected_failing_parts

    by_rule = expected_failing_parts(GenConfig(n_parts=max(parts) + 1))
    return {p: {r for r, ps in by_rule.items() if p in ps} for p in parts}


def failed_rules(verdicts: list[dict]) -> dict[int, set[str]]:
    """part_id -> failed rule ids, from runner verdict rows."""
    out: dict[int, set[str]] = {}
    for v in verdicts:
        fails = out.setdefault(int(v["part_id"]), set())
        if not v["passed"]:
            fails.add(str(v["rule_id"]))
    return out


def role_map_mismatches(
    verdicts: list[dict], expected: dict[int, set[str]]
) -> list[str]:
    """Every expected partition must carry a verdict for every rule, and its
    failed-rule set must equal the role map's."""
    got = failed_rules(verdicts)
    out = []
    seen: dict[int, set[str]] = {}
    for v in verdicts:
        seen.setdefault(int(v["part_id"]), set()).add(str(v["rule_id"]))
    for p, want in sorted(expected.items()):
        if seen.get(p) != set(RULES):
            out.append(f"part {p}: verdicts for {sorted(seen.get(p, ()))}")
        elif got.get(p, set()) != want:
            out.append(f"part {p}: failed {sorted(got.get(p, ()))}, expected {sorted(want)}")
    extra = sorted(set(got) - set(expected))
    if extra:
        out.append(f"verdicts for unexpected partitions {extra}")
    return out


def failed_parts_mismatches(label: str, got: set[int], want: set[int]) -> list[str]:
    if got == want:
        return []
    return [f"{label}: failed partitions {sorted(got)}, expected {sorted(want)}"]


def canonical_rows(columns: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows sorted by value, None first: the
    order-insensitive form both engines' results are compared in."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    body = [tuple(r[i] for i in order) for r in rows]
    body.sort(key=lambda r: tuple((x is not None, _nan_key(x)) for x in r))
    return cols, body


def _nan_key(x):
    if isinstance(x, float) and math.isnan(x):
        return float("inf")
    return x


def _same(x, y) -> bool:
    if x is None or y is None:
        return x is None and y is None
    if isinstance(x, float) and isinstance(y, float):
        if math.isnan(x) or math.isnan(y):
            return math.isnan(x) and math.isnan(y)
        return x == y
    return x == y or str(x) == str(y)


def result_mismatches(
    name: str,
    got: tuple[list[str], list[tuple]],
    want: tuple[list[str], list[tuple]],
) -> list[str]:
    """Exact comparison of two canonical results (same rule as the repo's
    oracle test: sorted columns, sorted rows, exact values)."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return [f"{name}: columns {gc} vs {wc}"]
    if len(gr) != len(wr):
        return [f"{name}: {len(gr)} rows vs {len(wr)}"]
    for i, (a, b) in enumerate(zip(gr, wr)):
        for c, x, y in zip(gc, a, b):
            if not _same(x, y):
                return [f"{name}.{c}[{i}]: {x!r} != {y!r}"]
    return []


def digest(result: tuple[list[str], list[tuple]]) -> tuple[int, str]:
    """(row count, sha256 of the canonical result)."""
    cols, rows = result
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return len(rows), h.hexdigest()
