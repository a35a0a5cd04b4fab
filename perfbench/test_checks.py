"""Self-test of the benchmark's output checks: a deliberately wrong verdict
set and a deliberately wrong query result must each count as a failed
operation. No Spark session is needed.

    python3 -m pytest perfbench/test_checks.py -q
    python3 perfbench/test_checks.py
"""

from __future__ import annotations

import os
import sys

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.checks import (  # noqa: E402
    RULES,
    canonical_rows,
    digest,
    expected_failures,
    failed_parts_mismatches,
    result_mismatches,
    role_map_mismatches,
)
from perfbench.harness import Bench, check  # noqa: E402

PARTS = list(range(10))


def _verdicts(expected: dict[int, set[str]]) -> list[dict]:
    return [
        {"part_id": p, "rule_id": r, "passed": r not in expected[p], "metric": 0.0}
        for p in PARTS
        for r in RULES
    ]


def _counted(fn) -> int:
    """Run ``fn`` as one benchmark operation; return the failure count."""
    b = Bench(work=".", seed=0, seconds=0, trace=False)
    b.attempt("self-test", fn)
    assert b.attempted == 1
    return b.failed


def test_role_map_from_engine():
    exp = expected_failures(PARTS)
    assert exp[0] == set() and exp[5] == set()
    assert exp[1] == {"uniqueness"}
    assert exp[2] == {"column_stats", "token_bounds"}
    assert exp[3] == {"referential"}
    assert exp[4] == {"drift"}


def test_right_verdicts_pass():
    exp = expected_failures(PARTS)
    v = _verdicts(exp)
    assert role_map_mismatches(v, exp) == []
    assert _counted(lambda: check(not role_map_mismatches(v, exp), "verdicts")) == 0


def test_wrong_verdict_set_counts_as_failure():
    exp = expected_failures(PARTS)
    v = _verdicts(exp)
    for row in v:  # a duplicated-id partition that passes uniqueness
        if row["part_id"] == 6 and row["rule_id"] == "uniqueness":
            row["passed"] = True
    bad = role_map_mismatches(v, exp)
    assert bad and "part 6" in bad[0]
    assert _counted(lambda: check(not role_map_mismatches(v, exp), "; ".join(bad))) == 1


def test_missing_rule_verdict_counts_as_failure():
    exp = expected_failures(PARTS)
    v = [r for r in _verdicts(exp) if not (r["part_id"] == 0 and r["rule_id"] == "drift")]
    assert role_map_mismatches(v, exp)


def test_failed_partition_sets():
    assert failed_parts_mismatches("x", {1, 2}, {1, 2}) == []
    assert failed_parts_mismatches("x", {1}, {1, 2})


def _result(rows):
    return canonical_rows(["word", "freq"], rows)


def test_right_query_result_passes_in_any_row_order():
    oracle = _result([("spark", 7), ("data", 5), ("a", None)])
    spark = _result([("a", None), ("spark", 7), ("data", 5)])
    assert result_mismatches("q", spark, oracle) == []
    assert digest(spark) == digest(oracle)


def test_wrong_query_result_counts_as_failure():
    oracle = _result([("spark", 7), ("data", 5)])
    spark = _result([("spark", 7), ("data", 6)])
    bad = result_mismatches("q", spark, oracle)
    assert bad and "q.freq" in bad[0]
    assert digest(spark) != digest(oracle)
    assert _counted(lambda: check(not result_mismatches("q", spark, oracle), "; ".join(bad))) == 1


def test_row_count_and_exact_doubles():
    oracle = canonical_rows(["s"], [(2498966281.2125,)])
    one_ulp = canonical_rows(["s"], [(2498966281.2124996,)])
    assert result_mismatches("q", canonical_rows(["s"], [(2498966281.2125,)]), oracle) == []
    assert result_mismatches("q", one_ulp, oracle)
    assert result_mismatches("q", canonical_rows(["s"], []), oracle)


def test_exception_counts_as_failure():
    def boom():
        raise RuntimeError("operator failed")

    assert _counted(boom) == 1


if __name__ == "__main__":
    tests = [f for n, f in sorted(globals().items()) if n.startswith("test_")]
    for t in tests:
        t()
    print(f"{len(tests)} checks passed")
