"""Workload ``full_suite``: ``ValidationRunner.run(force=True)`` with output
sinks over a seeded ``datagen`` corpus — the paper's primary metric.

One operation is one forced suite run with a fresh manifest and sink
directory. Checks per operation: every partition's failed-rule set equals the
generator's role map, every row is validated, and the violation sink's row
count and digest equal the first operation's.
"""

from __future__ import annotations

import os
import shutil
import time

from .checks import expected_failures, role_map_mismatches
from .harness import Bench, check, median

# bench.py's 32 partitions with 8000 of its 100k rows each: the largest
# corpus whose runs fit the benchmark's time budget on a slow 4-core host.
# The role map would not hold at 100k anyway: from about 90k rows a badsrc
# partition's retired-src group reaches the drift rule's min_docs, so drift
# fails there too.
N_PARTS = 32
ROWS_PER_PART = 8000
# untimed runs before timing (JIT, Python workers, parquet footers); a second
# one measured no steadier on this corpus
WARMUPS = 1


class FullSuite:
    def __init__(self, b: Bench):
        self.b = b
        self.data = os.path.join(b.work, "corpus")
        self.n_op = 0
        self.viol_digest = None
        self.last_result = None

    def close(self) -> None:
        """Nothing to release: every suite run happens on the calling thread."""

    # -- setup ---------------------------------------------------------------
    def setup(self) -> None:
        from lk_data_test_spark.datagen import GenConfig, generate

        t0 = time.perf_counter()
        cfg = GenConfig(n_parts=N_PARTS, rows_per_part=ROWS_PER_PART, seed=self.b.seed)
        generate(self.b.spark, self.data, cfg)
        self.b.layers["datagen.generate_s"] = time.perf_counter() - t0
        spark = self.b.spark
        self.allowed = spark.read.parquet(os.path.join(self.data, "allowed_sources"))
        self.profiles = spark.read.parquet(os.path.join(self.data, "reference_profiles"))
        self.expected = expected_failures(list(range(N_PARTS)))
        self.warmup_s = [self.b.attempt("warm-up", self.op)[2] for _ in range(WARMUPS)]

    def runner(self, sink: bool = True):
        from lk_data_test_spark.plans.runner import ValidationRunner
        from lk_data_test_spark.sources.catalog import PartitionedTable

        d = os.path.join(self.b.work, f"run{self.n_op}")
        shutil.rmtree(os.path.join(self.b.work, f"run{self.n_op - 1}"), ignore_errors=True)
        self.n_op += 1
        return ValidationRunner(
            self.b.spark,
            PartitionedTable(os.path.join(self.data, "sequences")),
            allowed_sources=self.allowed,
            reference_profiles=self.profiles,
            manifest_path=os.path.join(d, "manifest.json"),
            output_dir=os.path.join(d, "out") if sink else None,
        )

    # -- one operation -----------------------------------------------------------
    def op(self, sink: bool = True, tr=None, span: str = "runner") -> float:
        runner = self.runner(sink)
        if tr is None:
            t0 = time.perf_counter()
            res = runner.run(force=True)
            sec = time.perf_counter() - t0
        else:
            res, s = tr.time(span, runner.run, force=True)
            sec = s["wall_s"]
        self.last_result = res
        bad = role_map_mismatches(res.verdicts, self.expected)
        check(not bad, "; ".join(bad[:5]))
        want_rows = N_PARTS * ROWS_PER_PART
        check(res.rows_validated == want_rows, f"rows_validated {res.rows_validated} != {want_rows}")
        if runner.output_dir:
            got = violation_digest(res.violations)
            if self.viol_digest is None:
                self.viol_digest = got
            check(got == self.viol_digest, f"violations {got} != first run {self.viol_digest}")
        return sec

    # -- traced run ----------------------------------------------------------------
    def trace(self, tr, untraced: list[float]) -> None:
        """Per-layer numbers: one traced suite run, one without sinks, the
        shared pass and each rule alone, then one append-revalidate cycle."""
        from lk_data_test_spark.operators.token_bounds import DEFAULTS as TB
        from lk_data_test_spark.plans.rules import RuleContext, default_rules
        from lk_data_test_spark.plans.shared import SharedTokenStats
        from lk_data_test_spark.sources.catalog import PartitionedTable

        from .append_cycle import AppendCycle

        b, L = self.b, self.b.layers
        ok, _, traced = b.attempt("traced run", self.op, tr=tr)
        result = self.last_result
        ok_nosink, _, nosink = b.attempt(
            "run without sink", self.op, sink=False, tr=tr, span="runner.nosink"
        )
        if ok:
            L["suite_seq_per_s"] = N_PARTS * ROWS_PER_PART / median(untraced)
            L["trace.op_s"] = traced
            if ok_nosink:
                L["runner.sink_s"] = traced - nosink

        # the shared token pass alone, through both read paths
        table = PartitionedTable(os.path.join(self.data, "sequences"))
        parts = table.partition_ids()
        df = table.read_partitions(b.spark, parts)
        files = [
            (p, os.path.join(table.path, f"part_id={p}", f))
            for p in parts for f in table.partition_info(p).files
        ]
        kw = dict(vocab_lo=int(TB["vocab_lo"]), vocab_hi=int(TB["vocab_size"]))
        shared, s_build = tr.time(
            "shared.build", SharedTokenStats.from_profiles, df, self.profiles,
            direct_files=files, **kw,
        )
        shared.persist()
        n_partials, s_pass = tr.time("shared.pass", shared.partials.count)
        tolerant = PartitionedTable(table.path, tolerate_corrupt=True).read_partitions(b.spark, parts)
        fallback = SharedTokenStats.from_profiles(tolerant, self.profiles, **kw)
        _, s_fb = tr.time("shared.pass_fallback", fallback.partials.count)

        # each rule alone over the persisted shared pass
        ctx = RuleContext(
            spark=b.spark, allowed_sources=self.allowed,
            reference_profiles=self.profiles, part_ids=parts, shared=shared,
        )
        rule_spans = {}
        for rule in default_rules():
            res, s_b = tr.time(f"rule.{rule.rule_id}.build", rule.evaluate, df, ctx)
            _, s_e = tr.time(f"rule.{rule.rule_id}.exec", res.verdicts.collect)
            L[f"rule.{rule.rule_id}.violations"] = res.violations.count()
            rule_spans[rule.rule_id] = (s_b, s_e)
        shared.unpersist()

        # one append-revalidate cycle, then catalog and manifest calls on
        # the state it leaves
        cycle = AppendCycle(b)
        b.attempt("append cycle set-up", cycle.setup)
        b.attempt("append cycle", cycle.cycle, tr)
        if os.path.exists(os.path.join(cycle.cycle_dir, "_runner", "manifest.json")):
            record_catalog(
                tr, L, PartitionedTable(os.path.join(cycle.cycle_dir, "sequences")),
                os.path.join(cycle.cycle_dir, "_runner", "manifest.json"),
            )

        tr.fold()
        runner_spans = [s for s in tr.spans if s["name"] == "runner"]
        if ok and runner_spans:
            record_runner(L, runner_spans[-1], result)
        cycle.record_spans(tr)
        L["shared.build_s"] = s_build["wall_s"]
        L["shared.pass_s"] = s_pass["wall_s"]
        L["shared.pass_fallback_s"] = s_fb["wall_s"]
        L["shared.partial_rows"] = n_partials
        L["shared.tasks"] = s_pass["tasks"]
        L["shared.executor_run_s"] = s_pass["executor_run_s"]
        L["shared.jvm_cpu_s"] = s_pass["jvm_cpu_s"]
        L["shared.shuffle_write_bytes"] = s_pass["shuffle_write_bytes"]
        for rid, (s_b, s_e) in rule_spans.items():
            L[f"rule.{rid}.build_s"] = s_b["wall_s"]
            L[f"rule.{rid}.exec_s"] = s_e["wall_s"]
            L[f"rule.{rid}.jobs"] = s_b["jobs"] + s_e["jobs"]


def violation_digest(violations) -> tuple[int, int]:
    """(row count, order-independent sum of row hashes) of a violations frame."""
    from pyspark.sql import functions as F

    row = violations.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*violations.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def record_runner(L: dict, span: dict, result) -> None:
    """runner.* from one folded runner span and its ``SuiteResult``."""
    L["runner.run_s"] = span["wall_s"]
    for key in ("jobs", "tasks", "executor_run_s", "jvm_cpu_s", "gc_s", "core_util"):
        L[f"runner.{key}"] = span[key]
    L["runner.shuffle_bytes"] = span["shuffle_write_bytes"] + span["shuffle_read_bytes"]
    for rid, sec in result.extras.get("rule_secs", {}).items():
        L[f"runner.rule_latency.{rid}"] = sec


def record_catalog(tr, L: dict, table, manifest_path: str) -> None:
    from lk_data_test_spark.plans.manifest import CheckpointManifest
    from lk_data_test_spark.plans.rules import default_rules

    _, s = tr.time("catalog.partition_ids", table.partition_ids)
    L["catalog.partition_ids_s"] = s["wall_s"]
    _, s = tr.time("catalog.snapshot_ids", table.snapshot_ids)
    L["catalog.snapshot_ids_s"] = s["wall_s"]
    m = CheckpointManifest(manifest_path)
    _, s = tr.time("manifest.pending", m.pending, table, default_rules())
    L["manifest.pending_s"] = s["wall_s"]
    copy = CheckpointManifest(manifest_path + ".copy")
    copy.entries = m.entries
    _, s = tr.time("manifest.save", copy.save)
    L["manifest.save_s"] = s["wall_s"]
    L["manifest.bytes"] = os.path.getsize(manifest_path)
