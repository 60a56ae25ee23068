"""Seeded benchmark inputs, derived from the committed base tables.

The base tables under ``data/<scale>/`` are the engine's sf0.01 (and, for
the smoke mode, sf0.001) test tables. From them and a seed this module
writes one input set, in the same single-file-per-table layout the query
catalog and its DuckDB oracle read:

- key-shifted replication, as in ``scripts/make_sf1.py``: every fact and
  entity table is copied ``REPLICAS`` times, each copy shifting every key
  family by a stride. The seed adds a small offset to each stride;
- row order: every table is permuted by the seed;
- parquet row-group layout: every table is written as ``ROW_GROUPS`` row
  groups (so scan parallelism is the same for every seed) whose
  boundaries the seed jitters;
- the incremental feed: ``orders`` in key order splits into a base batch
  and ``N_DELTAS`` deltas of fixed sizes; each delta also re-sends a few
  seed-chosen rows that an earlier batch already delivered (with a new
  price), which the cursor must filter out.

Table sizes depend only on the scale, never on the seed.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# table -> {column: key family}; a family shifts by the same stride in
# every table so joins stay aligned (the make_sf1.py map).
SHIFTS: dict[str, dict[str, str]] = {
    "customer": {"c_custkey": "cust"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "supplier": {"s_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "cust"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
FAMILY_KEY = {
    "cust": ("customer", "c_custkey"),
    "order": ("orders", "o_orderkey"),
    "part": ("part", "p_partkey"),
    "supp": ("supplier", "s_suppkey"),
    "event": ("events", "event_id"),
    "doc": ("documents", "doc_id"),
    "vec": ("embeddings", "vec_id"),
}

REPLICAS = 2
ROW_GROUPS = 4
DEFAULT_SEED = 20261017

# Incremental feed: the base batch is the first BASE_SHARE of orders in
# key order; the rest splits into N_DELTAS equal deltas, each carrying
# LATE_ROWS re-sent rows from earlier batches.
BASE_SHARE = 0.5
N_DELTAS = 9
LATE_ROWS = 25


def _read(scale: str, name: str) -> pa.Table:
    # drop the pandas index metadata so rewritten files stay plain
    return pq.read_table(DATA / scale / f"{name}.parquet").replace_schema_metadata()


def _strides(scale: str, rng: np.random.Generator) -> dict[str, int]:
    out = {}
    for fam, (tbl, col) in FAMILY_KEY.items():
        top = pc.max(_read(scale, tbl).column(col)).as_py()
        out[fam] = int(top) + 1 + int(rng.integers(0, 64))
    return out


def _replicate(t: pa.Table, shifts: dict[str, str], strides: dict[str, int]) -> pa.Table:
    copies = []
    for r in range(REPLICAS):
        c = t
        for col, fam in shifts.items():
            i = c.schema.get_field_index(col)
            shifted = pc.add(c.column(col), pa.scalar(r * strides[fam], c.schema.field(col).type))
            c = c.set_column(i, col, shifted)
        if r and "text" in c.column_names:
            # a replica-specific token keeps dedup statistics scale-like
            # instead of turning every document into an exact duplicate
            i = c.schema.get_field_index("text")
            c = c.set_column(i, "text", pc.binary_join_element_wise(c.column("text"), f"r{r}", " "))
        copies.append(c)
    return pa.concat_tables(copies)


def _write(t: pa.Table, path: Path, rng: np.random.Generator) -> None:
    """Write ``t`` as ROW_GROUPS row groups with seed-jittered bounds."""
    n = t.num_rows
    writer = pq.ParquetWriter(str(path), t.schema)
    try:
        if n < 4 * ROW_GROUPS:
            writer.write_table(t)
            return
        even = np.linspace(0, n, ROW_GROUPS + 1)
        jitter = rng.uniform(-0.2, 0.2, ROW_GROUPS - 1) * (n / ROW_GROUPS)
        cuts = [0, *sorted(int(c) for c in even[1:-1] + jitter), n]
        for lo, hi in zip(cuts, cuts[1:]):
            writer.write_table(t.slice(lo, hi - lo))
    finally:
        writer.close()


def _shuffled(t: pa.Table, rng: np.random.Generator) -> pa.Table:
    return t.take(pa.array(rng.permutation(t.num_rows)))


def derive(scale: str, out: Path, seed: int) -> dict[str, int]:
    """Write the seeded table set into ``out``; return rows per table."""
    rng = np.random.default_rng(seed)
    strides = _strides(scale, rng)
    out.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name in TABLES:
        t = _read(scale, name)
        if name in SHIFTS:
            t = _replicate(t, SHIFTS[name], strides)
        t = _shuffled(t, rng)
        _write(t, out / f"{name}.parquet", rng)
        rows[name] = t.num_rows
    return rows


def feed_batches(orders_path: Path, seed: int) -> list[pa.Table]:
    """Split seeded ``orders`` into the base batch and the deltas.

    Batches hold increasing, disjoint key ranges, so every delta carries
    cursor values above every earlier batch. Each delta appends LATE_ROWS
    rows re-sent from earlier batches with a changed price: their keys
    sit at or below the committed cursor, so a correct incremental run
    never loads them.
    """
    rng = np.random.default_rng([seed, 1])
    orders = pq.read_table(str(orders_path))
    orders = orders.sort_by("o_orderkey")
    n = orders.num_rows
    n_base = int(n * BASE_SHARE)
    step = (n - n_base) // N_DELTAS
    cuts = [0, n_base] + [n_base + step * (i + 1) for i in range(N_DELTAS - 1)] + [n]
    batches = [orders.slice(lo, hi - lo) for lo, hi in zip(cuts, cuts[1:])]
    out = [_shuffled(batches[0], rng)]
    for i in range(1, len(batches)):
        seen = cuts[i]
        late = orders.take(pa.array(rng.choice(seen, LATE_ROWS, replace=False)))
        price = late.schema.get_field_index("o_totalprice")
        late = late.set_column(
            price, "o_totalprice", pc.add(late.column("o_totalprice"), pa.scalar(1.0))
        )
        out.append(_shuffled(pa.concat_tables([batches[i], late]), rng))
    return out


def shift_orders(batch: pa.Table, offset: int) -> pa.Table:
    """``batch`` with every order key moved up by ``offset``."""
    i = batch.schema.get_field_index("o_orderkey")
    key = pc.add(batch.column("o_orderkey"), pa.scalar(offset, pa.int64()))
    return batch.set_column(i, "o_orderkey", key)
