"""Named query catalog: every engine operator exposed as a (Spark, oracle-SQL) pair.

Each submodule defines ``QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]``
and ``ORACLES: dict[str, str]`` (DuckDB-runnable ANSI SQL over the same parquet
tables). The driver (and our own tests) run both sides and compare
row-count + schema + order-insensitive value hash, so:

- every computed column is aliased identically on both sides;
- doubles are rounded with the shared helpers in ``parity.py`` so both
  engines produce bit-identical values;
- queries whose semantics SQL cannot express (recursive EWMAs, LSH
  bucketing with library hashes) appear in QUERIES only -> rows-only check.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# Catalog entries that are QUERIES-only by design (the driver records a
# rows+schema check, no DuckDB value hash): outputs that a SQL engine
# genuinely cannot reproduce. Every name here must pair with an
# oracle-checked CONTRACT twin that pins the same operator's semantics.
# Emptied in round 13: sketch_theta_overlap_matrix (the last member)
# now folds its estimates into error-contract booleans the oracle pins
# literally TRUE (VERDICT r12 #4) — the whole catalog is recordable
# (count pinned live by scripts/precommit_check.py, not repeated here).
ROWS_ONLY = frozenset()

_MODULES = (
    "relational",
    "subqueries",
    "tpch_extra",
    "windows",
    "cleaning_q",
    "timeseries",
    "text_q",
    "dedup_q",
    "graph_q",
    "similarity_q",
    "sampling_q",
    "ml_q",
    "asof_q",
    "skew_q",
    "prune_q",
    "analytics_q",
    "batteries",
    "url_q",
    "pipeline_q",
)

# The driver records a correctness row (CORRECTNESS_rN.json at the repo
# root) for the first PREFIX names of queries() each round, and no
# recorded name may fall more than MAX_STALE rounds behind. The emission
# order is derived from those records, so it needs no hand upkeep;
# scripts/precommit_check.py simulates the next MAX_STALE rounds with
# the same function.
PREFIX, MAX_STALE = 50, 5
_REPO = Path(__file__).resolve().parents[2]


def last_recorded() -> dict[str, int]:
    """Name -> newest round whose CORRECTNESS_rN.json has it as a key."""
    out: dict[str, int] = {}
    for path in _REPO.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            for name in json.loads(path.read_text()):
                out[name] = max(int(m.group(1)), out.get(name, 0))
    return out


def emission_order(names: Iterable[str], recorded: dict[str, int]) -> list[str]:
    """Triage order for the next record, stable within each group: names
    that would exceed MAX_STALE if it skipped them, then names never
    recorded, then the rest oldest first."""
    next_round = max(recorded.values(), default=0) + 1

    def key(name: str) -> tuple[int, int]:
        last = recorded.get(name)
        if last is None:
            return (1, 0)
        return (0 if next_round - last > MAX_STALE else 2, last)

    return sorted(names, key=key)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in _MODULES:
        mod = _load(name)
        for k, v in getattr(mod, "QUERIES", {}).items():
            if k in out:
                raise ValueError(f"duplicate query name {k!r} in {name}")
            out[k] = v
    return {k: out[k] for k in emission_order(out, last_recorded())}


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for name in _MODULES:
        mod = _load(name)
        out.update(getattr(mod, "ORACLES", {}))
    return out


def _load(name: str):
    """Import a catalog module, loudly. No ImportError guard: every
    query module is core, and a swallowed import error would silently
    drop queries AND their oracles — the correctness harness then shows
    green on a shrunken catalog (this bit us once; see plugins.py)."""
    import importlib

    return importlib.import_module(f"etl_ml_pipeline_spark.queries.{name}")
