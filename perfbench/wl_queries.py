"""Workload ``operator_queries``: the 14 headline registry queries over
seeded TPC-H-shaped tables, each fully materialized to Arrow (never
``.count()``, which lets Catalyst prune the aggregates away).

One operation is one pass over all 14 queries, issued by ``nproc`` client
threads sharing the session in a closed loop: a client takes the next query
of ``ISSUE_ORDER`` as soon as its previous one has returned. The seed sets
the tables, and the query order of the traced run's one-at-a-time passes. At this size a query is mostly
single-threaded driver work (planning, code generation, job scheduling), so
queries issued one at a time leave most cores idle and their time follows
the host's momentary single-core speed; on a shared 4-core host one-at-a-time
passes spread about twice as much from run to run as concurrent ones.

Set-up runs one untimed pass the same way (which also compiles every plan
in the fresh JVM), compares the 11 queries that have an ``ORACLE`` entry with
DuckDB over the same files and keeps every result's digest; every later pass
must reproduce all 14 digests exactly. The traced run issues the queries one
at a time, so that each query's Spark work falls in its own span. This
workload bypasses the runner, the shared pass and the manifest.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

from .checks import canonical_rows, digest, result_mismatches
from .harness import Bench, check, host_cores

# the scale of the reference tables the engine's DuckDB oracle test uses
SF = 0.01
# untimed passes before timing; the first also checks the oracle
WARMUPS = 2

FAMILIES = {
    "relational": (
        "pricing_summary", "revenue_by_nation", "brand_part_agg",
        "customers_without_orders", "top_line_per_order",
        "last_purchase_before", "inverse_property_swap",
    ),
    "text": (
        "word_freq_top20", "doc_token_counts", "ngram_jaccard_dups",
        "minhash_lsh_dups", "simhash_near_dups",
    ),
    "ann": ("embedding_ann_ivf", "embedding_ann_lsh"),
}
FAMILY_OF = {q: fam for fam, qs in FAMILIES.items() for q in qs}
# the order the client threads issue the queries in: longest first, by each
# query's time when run alone. Under concurrency the issue order sets how
# long the last queries of a pass run alone, so it is fixed, not seeded.
ISSUE_ORDER = (
    "embedding_ann_lsh", "minhash_lsh_dups", "inverse_property_swap",
    "embedding_ann_ivf", "ngram_jaccard_dups", "revenue_by_nation",
    "simhash_near_dups", "brand_part_agg", "pricing_summary",
    "top_line_per_order", "last_purchase_before", "customers_without_orders",
    "word_freq_top20", "doc_token_counts",
)
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def arrow_rows(tb) -> tuple[list[str], list[tuple]]:
    cols = tb.column_names
    return canonical_rows(cols, list(zip(*(tb.column(c).to_pylist() for c in cols))))


class OperatorQueries:
    def __init__(self, b: Bench):
        self.b = b
        self.dir = os.path.join(b.work, "tables")
        self.order = sorted(FAMILY_OF)
        random.Random(b.seed).shuffle(self.order)
        self.digests: dict[str, tuple[int, str]] = {}
        self.clients = ThreadPoolExecutor(host_cores(), thread_name_prefix="client")

    def close(self) -> None:
        self.clients.shutdown(wait=True)

    def setup(self) -> None:
        from . import inputs

        t0 = time.perf_counter()
        inputs.write_tables(self.dir, self.b.seed, SF)
        self.b.layers["datagen.generate_s"] = time.perf_counter() - t0
        self.b.attempt("warm-up and oracle check", self.first_pass)
        for i in range(1, WARMUPS):
            self.b.attempt(f"warm-up {i}", self.op)

    def run_query(self, q: str):
        from lk_data_test_spark import entry_queries

        return entry_queries.Q[q](self.b.spark, self.dir).toArrow()

    def concurrent_pass(self) -> dict:
        """Every query, issued by the client threads in ``ISSUE_ORDER``."""
        return dict(zip(ISSUE_ORDER, self.clients.map(self.run_query, ISSUE_ORDER)))

    def first_pass(self) -> None:
        import duckdb

        from lk_data_test_spark import entry_queries

        results = {q: arrow_rows(tb) for q, tb in self.concurrent_pass().items()}
        self.digests = {q: digest(rows) for q, rows in results.items()}
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            bad = []
            for q in self.order:
                if q in entry_queries.ORACLE:
                    want = arrow_rows(con.sql(entry_queries.ORACLE[q]).arrow())
                    bad += result_mismatches(q, results[q], want)
        finally:
            con.close()
        check(not bad, "; ".join(bad[:5]))

    def check_digests(self, tables: dict) -> None:
        bad = []
        for q, tb in tables.items():
            got = digest(arrow_rows(tb))
            if got != self.digests[q]:
                bad.append(f"{q}: result {got} != first pass {self.digests[q]}")
        check(not bad, "; ".join(bad[:5]))

    def op(self) -> float:
        t0 = time.perf_counter()
        tables = self.concurrent_pass()
        sec = time.perf_counter() - t0
        self.check_digests(tables)
        return sec

    def sequential_pass(self, tr=None) -> dict[str, float]:
        """Each query alone, in the seeded order; returns seconds per query
        (plan plus execution)."""
        from lk_data_test_spark import entry_queries

        secs: dict[str, float] = {}
        tables = {}
        for q in self.order:
            if tr is None:
                t0 = time.perf_counter()
                tables[q] = self.run_query(q)
                secs[q] = time.perf_counter() - t0
            else:
                df, s_plan = tr.time(f"query.{q}.plan", entry_queries.Q[q], self.b.spark, self.dir)
                tables[q], s_exec = tr.time(f"query.{q}.exec", df.toArrow)
                secs[q] = s_plan["wall_s"] + s_exec["wall_s"]
        self.check_digests(tables)
        return secs

    def trace(self, tr, untraced: list[float]) -> None:
        b, L = self.b, self.b.layers
        ok, _, secs = b.attempt("sequential pass", self.sequential_pass)
        if ok:
            for fam, qs in FAMILIES.items():
                L[f"q_{fam}_s"] = sum(secs[q] for q in qs)
        ok, _, traced = b.attempt("traced pass", self.sequential_pass, tr=tr)
        tr.fold()
        for q in FAMILY_OF:
            for part in ("plan", "exec"):
                for s in tr.spans:
                    if s["name"] == f"query.{q}.{part}":
                        L[f"query.{q}.{part}_s"] = s["wall_s"]
            spans = [s for s in tr.spans if s["name"].startswith(f"query.{q}.")]
            L[f"query.{q}.jobs"] = sum(s["jobs"] for s in spans)
            L[f"query.{q}.shuffle_bytes"] = sum(s["shuffle_write_bytes"] for s in spans)
        if ok:
            L["trace.op_s"] = sum(traced.values())
