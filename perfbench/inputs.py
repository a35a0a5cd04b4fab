"""Seeded input generators beyond ``datagen.generate`` (which ``full_suite``
calls directly). The same seed always yields the same inputs.

- ``incremental_corpus`` / ``incremental_delta``: a mostly-clean corpus (one
  partition of each failing role, the rest clean) and an append delta of new
  files inside two clean partitions plus one new clean partition.
- ``write_tables``: a TPC-H-shaped star schema plus ``events``,
  ``documents`` and ``embeddings``, one single-row-group parquet file per
  table, laid out like the reference tables the operator registry is tested
  on.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- sequences corpora ---------------------------------------------------------


# one partition per failing role, then clean partitions (part_id % 5 == 0)
FAILING_PARTS = (1, 2, 3, 4)


def incremental_parts(n_clean: int) -> list[int]:
    return sorted(list(FAILING_PARTS) + [5 * i for i in range(n_clean)])


def incremental_corpus(spark, out_dir: str, seed: int, n_clean: int, rows: int):
    """Write ``sequences`` + both dimension tables, as ``datagen.generate``
    lays them out, over ``incremental_parts(n_clean)``."""
    from lk_data_test_spark.datagen import (
        GenConfig,
        allowed_sources_df,
        reference_profiles_df,
        sequences_df,
    )

    cfg = GenConfig(n_parts=5 * n_clean, rows_per_part=rows, seed=seed)
    (
        sequences_df(spark, cfg, part_ids=incremental_parts(n_clean))
        .write.mode("overwrite")
        .partitionBy("part_id")
        .parquet(os.path.join(out_dir, "sequences"))
    )
    allowed_sources_df(spark).repartition(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "allowed_sources")
    )
    reference_profiles_df(spark, cfg).repartition(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "reference_profiles"))
    return cfg


def incremental_delta(spark, out_dir: str, seed: int, n_clean: int, rows: int):
    """Delta files under ``out_dir/part_id=<k>/``: new rows for existing
    clean partitions 0 and 5, and a new clean partition ``5 * n_clean``.
    Rows are generated under unused clean-role ids (fresh doc_ids, clean
    distribution) and relabelled. Returns {part_id: [file names]}."""
    from pyspark.sql import functions as F

    from lk_data_test_spark.datagen import GenConfig, sequences_df

    new_part = 5 * n_clean
    src = {5000: 0, 5005: 5, 5010: new_part}
    cfg = GenConfig(n_parts=5011, rows_per_part=rows, seed=seed)
    relabel = F.col("part_id")
    for k, v in src.items():
        relabel = F.when(F.col("part_id") == k, F.lit(v)).otherwise(relabel)
    (
        sequences_df(spark, cfg, part_ids=sorted(src))
        .withColumn("part_id", relabel.cast("int"))
        .write.mode("overwrite")
        .partitionBy("part_id")
        .parquet(out_dir)
    )
    return {
        pid: sorted(
            f for f in os.listdir(os.path.join(out_dir, f"part_id={pid}"))
            if f.endswith(".parquet")
        )
        for pid in src.values()
    }


# -- operator-registry tables -----------------------------------------------------
#
# The layout follows the reference test tables the engine's DuckDB oracle test
# reads (same column names and types, the same row counts per scale factor,
# the same value ranges): money and quantities are DOUBLE, dates are
# timestamp[us], keys start at 0, every customer orders, line items pick
# their order and line number at random, 5% of the documents are a copy of
# another with the word "dup" appended, and the embeddings are random unit
# vectors with random labels (no cluster structure).

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def _write(out_dir: str, name: str, cols: dict) -> None:
    t = pa.table(cols)
    pq.write_table(
        t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, t.num_rows)
    )


def _days(rng, n, start: str, span_days: int):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def table_rows(sf: float) -> dict[str, int]:
    """Row count of every table at scale factor ``sf``."""
    n_ord = int(1_500_000 * sf)
    return {
        "region": 5, "nation": 25,
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": n_ord, "lineitem": 4 * n_ord,
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every registry table at scale factor ``sf`` (sf 0.01 has 15k
    orders and 60k line items; at least 0.001)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    n_cust, n_supp, n_part = n["customer"], n["supplier"], n["part"]
    n_ord, n_li, n_ev = n["orders"], n["lineitem"], n["events"]

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object
    )
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["blue", "hot", "large", "small", "red", "green", "cold", "shiny"], dtype=object)
    noun = np.array(["anvil", "bolt", "ring", "widget", "gear", "spring", "nut", "valve"], dtype=object)
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], dtype=object)
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": adj[rng.integers(0, 8, n_part)] + " " + noun[rng.integers(0, 8, n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)], dtype=object)[
            rng.integers(0, 25, n_part)
        ],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2405),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", 2499),
    })
    ev_types = np.array(["click", "error", "purchase", "signup", "view"], dtype=object)
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
        "event_type": ev_types[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": np.array([f'{{"k": {i}}}' for i in range(100)], dtype=object)[
            rng.integers(0, 100, n_ev)
        ],
    })
    _write(out_dir, "documents", _documents(rng, n["documents"]))
    _write(out_dir, "embeddings", _embeddings(rng, n["embeddings"]))


def _documents(rng, n: int, dup_frac: float = 0.05) -> dict:
    """10-99 words each over a 30-word vocabulary; ``dup_frac`` of the
    documents become another document's text plus the word "dup", so the
    dedup operators have near-duplicate pairs to find."""
    vocab = np.array(_WORDS, dtype=object)
    text = [" ".join(vocab[rng.integers(0, len(vocab), int(k))]) for k in rng.integers(10, 100, n)]
    for i in rng.choice(n, size=int(dup_frac * n), replace=False):
        j = int(rng.integers(0, n - 1))
        text[i] = text[j + (j >= i)] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": np.array(_LANGS, dtype=object)[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64, n_labels: int = 10) -> dict:
    vec = rng.normal(0.0, 1.0, (n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": rng.integers(0, n_labels, n).astype(np.int32),
    }
