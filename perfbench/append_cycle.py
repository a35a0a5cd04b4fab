"""The append-revalidate cycle, measured in the traced run of ``full_suite``.

Set-up writes a mostly-clean corpus (one partition per failing role, the
rest clean) and a seeded append delta, validates the corpus once through
both paths (runner manifest, CLI file-delta stores), and takes a forced full
run over corpus + delta as the reference. The cycle then:

1. resets to the validated state — a hardlink copy — and links the delta's
   files into place: new files in clean partitions 0 and 5 and a new clean
   partition (load generation, untimed);
2. revalidates through runner resume, which re-reads whole touched
   partitions and replays the failing ones (``delta_cycle_s``);
3. revalidates through ``cli.main --incremental-stats``, which reads only
   the added files (``filedelta_cycle_s``).

Checks: the runner ran exactly the touched and failing partitions, the CLI
classified every partition as delta/full/skip as expected, and both paths
report the reference run's failed partitions, rule by rule.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import time

from .checks import expected_failures, failed_parts_mismatches, failed_rules, role_map_mismatches
from .harness import Bench, check

N_CLEAN = 4
ROWS_PER_PART = 3000
DELTA_ROWS = 600

# incremental-suite output key -> batch rule id
CLI_RULE_KEYS = {
    "failed_partitions": "column_stats",
    "drift_failed_partitions": "drift",
    "referential_failed_partitions": "referential",
    "uniqueness_failed_partitions": "uniqueness",
    "token_bounds_failed_partitions": "token_bounds",
}


class AppendCycle:
    def __init__(self, b: Bench):
        self.b = b
        self.base = os.path.join(b.work, "append_base")
        self.delta = os.path.join(b.work, "append_delta")
        self.cycle_dir = os.path.join(b.work, "append_cycle")

    def setup(self) -> None:
        from . import inputs

        b = self.b
        inputs.incremental_corpus(b.spark, self.base, b.seed, N_CLEAN, ROWS_PER_PART)
        t0 = time.perf_counter()
        self.delta_files = inputs.incremental_delta(b.spark, self.delta, b.seed, N_CLEAN, DELTA_ROWS)
        b.layers["datagen.append_s"] = time.perf_counter() - t0
        self.new_part = 5 * N_CLEAN
        self.parts = inputs.incremental_parts(N_CLEAN) + [self.new_part]
        self.touched = sorted(self.delta_files)
        self.must_run = sorted(set(self.touched) | set(inputs.FAILING_PARTS))

        # first sight: validate the base through both paths
        self.runner(self.base).run()
        self.cli(self.base)

        # reference: a forced full run over base + delta, which must agree
        # with the generator's role map
        ref_dir = os.path.join(b.work, "append_reference")
        self.reset(ref_dir)
        ref = self.runner(ref_dir).run(force=True)
        bad = role_map_mismatches(ref.verdicts, expected_failures(self.parts))
        check(not bad, "reference run: " + "; ".join(bad[:5]))
        self.ref_rules = failed_rules(ref.verdicts)
        self.ref_failed = {p for p, r in self.ref_rules.items() if r}
        shutil.rmtree(ref_dir)

    def runner(self, d: str):
        from lk_data_test_spark.plans.runner import ValidationRunner
        from lk_data_test_spark.sources.catalog import PartitionedTable

        spark = self.b.spark
        return ValidationRunner(
            spark,
            PartitionedTable(os.path.join(d, "sequences")),
            allowed_sources=spark.read.parquet(os.path.join(d, "allowed_sources")),
            reference_profiles=spark.read.parquet(os.path.join(d, "reference_profiles")),
            manifest_path=os.path.join(d, "_runner", "manifest.json"),
            output_dir=os.path.join(d, "validation_out"),
        )

    def cli(self, d: str) -> dict:
        from lk_data_test_spark import cli

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(["--data-dir", d, "--incremental-stats"])
        check(rc == 0, f"cli exit code {rc}")
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def reset(self, d: str) -> None:
        """``d`` := validated base state + the delta files. Parquet and
        checksum files are hardlinked (Spark never rewrites a data file in
        place); JSON state is copied, since some of it is rewritten in place."""
        shutil.rmtree(d, ignore_errors=True)

        def link_or_copy(src, dst):
            if src.endswith(".json"):
                return shutil.copy2(src, dst)
            os.link(src, dst)
            return dst

        shutil.copytree(self.base, d, copy_function=link_or_copy)
        seq = os.path.join(d, "sequences")
        for pid, files in self.delta_files.items():
            pdir = os.path.join(seq, f"part_id={pid}")
            os.makedirs(pdir, exist_ok=True)
            for f in files:
                os.link(os.path.join(self.delta, f"part_id={pid}", f), os.path.join(pdir, f))

    def cycle(self, tr) -> None:
        """One traced cycle with its checks; records the cycle's layers."""
        L = self.b.layers
        self.reset(self.cycle_dir)
        runner = self.runner(self.cycle_dir)
        res, s_resume = tr.time("append.resume", runner.run)
        out, s_cli = tr.time("incremental", self.cli, self.cycle_dir)
        L["delta_cycle_s"] = s_resume["wall_s"]
        L["filedelta_cycle_s"] = s_cli["wall_s"]
        L["incremental.scanned_rows"] = out["scanned_rows"]

        check(sorted(res.ran_parts) == self.must_run,
              f"runner ran {sorted(res.ran_parts)}, expected {self.must_run}")
        failed = {
            int(p) for p, e in runner.manifest.entries.items() if e.get("verdict") != "pass"
        }
        bad = failed_parts_mismatches("runner resume", failed, self.ref_failed)
        modes = {int(k): m for k, m in out["modes"].items()}
        want_modes = {
            p: "full" if p == self.new_part else "delta" if p in self.touched else "skip"
            for p in self.parts
        }
        if modes != want_modes:
            bad.append(f"cli modes {modes}, expected {want_modes}")
        for key, rule in CLI_RULE_KEYS.items():
            want = {p for p, r in self.ref_rules.items() if rule in r}
            bad += failed_parts_mismatches(f"cli {rule}", set(out.get(key, [])), want)
        check(not bad, "; ".join(bad[:5]))

    def record_spans(self, tr) -> None:
        """incremental.* from the folded CLI span."""
        L = self.b.layers
        for s in tr.spans:
            if s["name"] == "incremental":
                L["incremental.run_s"] = s["wall_s"]
                L["incremental.jobs"] = s["jobs"]
                L["incremental.tasks"] = s["tasks"]
