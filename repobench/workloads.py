"""Workload definitions and the output checks made outside the timed region.

Two workloads, each a fixed list of items run once per pass:

- ``catalog_read``: headline catalog queries, each built and collected
  with ``toPandas``; every result is hashed and compared with the query's
  DuckDB oracle over the same inputs.
- ``incremental_upsert``: ``configs/incremental_orders_upsert.yaml`` over
  a base batch and the deltas, upserting into SQLite; every pass's final
  table must equal the last accepted row per key, and its committed
  cursor the maximum cursor.

This module has no Spark dependency: the run coordinator imports it to
compute references and to check what the worker left behind.
"""

from __future__ import annotations

import json
import re
import sqlite3
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq

from repobench import inputs

WORKLOADS = ("catalog_read", "incremental_upsert")

# Steady pass time on a 4-core host (seconds). A run measures
# round(--seconds / this) steady passes, at least MIN_STEADY: the same work
# on every run, so a faster window or a faster engine does not buy extra
# JIT warm-up passes that would move the steady metrics on their own.
NOMINAL_PASS_S = {"catalog_read": 7.0, "incremental_upsert": 6.0}
MIN_STEADY = 2


def steady_passes(workload: str, seconds: float) -> int:
    return max(MIN_STEADY, round(seconds / NOMINAL_PASS_S[workload]))


# TPC-H join and aggregate shapes, then the window, sessionize, text,
# dedup and ANN operators. A pass compiles about 210 distinct whole-stage
# classes. The codegen cache keeps 100 entries in four LRU segments of 25,
# and a class's segment depends on the class loader's identity hash, which
# changes from process to process. With much fewer classes a pass, some
# processes draw a segment of 25 or fewer that stays cached, and the
# count per pass changes from run to run; at about 52 a segment, every
# segment overflows and every pass recompiles the whole set.
CATALOG_QUERIES = (
    "q2_min_cost_supplier",
    "q5_region_revenue",
    "q11_important_value",
    "q16_supplier_cnt",
    "q22_idle_big_balance",
    "window_dist_functions",
    "sessionize_events",
    "text_pii_scrub",
    "dedup_segments_documents",
    "ann_bruteforce_topk",
)

INCREMENTAL_CONFIG = "incremental_orders_upsert.yaml"
INCREMENTAL_PIPELINE = "incremental_orders"


def _duckdb(input_dir: Path):
    from etl_ml_pipeline_spark.oracle import duckdb_connect

    return duckdb_connect(str(input_dir))


def _same(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    from etl_ml_pipeline_spark.oracle import value_hash

    return (
        sorted(got.columns) == sorted(want.columns)
        and len(got) == len(want)
        and value_hash(got) == value_hash(want)
    )


def expected_catalog(input_dir: Path) -> dict[str, dict]:
    """Oracle rows, columns, value hash and input tables per catalog query."""
    from etl_ml_pipeline_spark.oracle import value_hash
    from etl_ml_pipeline_spark.queries import all_oracles

    oracles = all_oracles()
    out = {}
    with _duckdb(input_dir) as con:
        for name in CATALOG_QUERIES:
            pdf = con.sql(oracles[name]).df()
            # the input tables a query reads: the table names its SQL uses
            tables = set(re.findall(r"\b(\w+)\b", oracles[name])) & set(inputs.TABLES)
            out[name] = {
                "rows": len(pdf),
                "columns": sorted(pdf.columns),
                "hash": value_hash(pdf),
                "tables": sorted(tables),
            }
    return out


def incremental_reference(batches: list) -> tuple[pd.DataFrame, int]:
    """Rows an incremental run must hold after ``batches``, and its cursor.

    A batch contributes the rows whose key is above the cursor committed
    before it; the table keeps the last such row per key."""
    cursor, kept = -1, []
    for batch in batches:
        pdf = batch.to_pandas()
        pdf = pdf[pdf["o_orderkey"] > cursor]
        kept.append(pdf)
        if len(pdf):
            cursor = int(pdf["o_orderkey"].max())
    table = pd.concat(kept).drop_duplicates("o_orderkey", keep="last")
    table["o_orderdate"] = table["o_orderdate"].map(lambda ts: ts.isoformat(sep=" "))
    return table, cursor


def check_incremental(feed_dir: Path, passes: list[dict]) -> list[tuple[int, str]]:
    """Check every pass's SQLite table and committed cursor.

    ``passes`` holds one ``{"offset", "database", "state"}`` record per
    pass; the pass's batches are the seeded feed shifted by ``offset``.
    Returns one ``(offset, message)`` per mismatch."""
    base = [pq.read_table(str(p)) for p in sorted(feed_dir.glob("batch_*.parquet"))]
    errors = []
    for rec in passes:
        batches = [inputs.shift_orders(b, rec["offset"]) for b in base]
        want, cursor = incremental_reference(batches)
        try:
            with sqlite3.connect(rec["database"]) as conn:
                got = pd.read_sql_query("SELECT * FROM orders", conn)
            state = json.loads(Path(rec["state"]).read_text())
        except Exception as exc:  # noqa: BLE001 - a missing output is a failure
            errors.append((rec["offset"], f"pass offset {rec['offset']}: unreadable output: {exc}"))
            continue
        if not _same(got, want):
            errors.append((
                rec["offset"],
                f"pass offset {rec['offset']}: table has {len(got)} rows,"
                f" reference {len(want)}, or values differ",
            ))
        if state.get(INCREMENTAL_PIPELINE) != cursor:
            errors.append((
                rec["offset"],
                f"pass offset {rec['offset']}: committed cursor"
                f" {state.get(INCREMENTAL_PIPELINE)} != {cursor}",
            ))
    return errors
