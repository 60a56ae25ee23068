"""One benchmark run's Spark driver process.

Started by ``run.py`` with a spec file and a result path. It imports the
package, starts the session with ``get_spark()`` defaults, runs one
trivial first action, then the workload's passes: the cold pass, then
the spec's number of steady passes. Only the calls into the package's public API sit inside
an item's timer; writing feed files, saving sink outputs for the checks,
hashing results and tracing reads happen outside it.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # guest time is already counted in user time
    return fields[7], sum(fields[:8])


def _vm_hwm_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class CatalogRunner:
    def __init__(self, spark, spec: dict, tracer) -> None:
        from etl_ml_pipeline_spark.queries import all_queries

        from repobench import workloads

        self.spark, self.tracer = spark, tracer
        self.inputs = spec["inputs"]
        self.expected = spec["expected"]
        catalog = all_queries()
        self.queries = {n: catalog[n] for n in workloads.CATALOG_QUERIES}
        self.extra: dict[str, float] = {}

    def items(self) -> list[str]:
        return list(self.queries)

    def input_rows(self, name: str, rows: dict[str, int]) -> int:
        return sum(rows[t] for t in self.expected[name]["tables"])

    def prepare_pass(self, k: int) -> None:
        self.extra = {"queries.result_rows": 0}

    def run_item(self, k: int, name: str):
        tr = self.tracer
        t0 = time.perf_counter()
        if tr:
            tr.enter("queries.build")
        df = self.queries[name](self.spark, self.inputs)
        if tr:
            tr.exit("queries.build", "queries.build_s")
            tr.enter("queries.exec")
        pdf = df.toPandas()
        if tr:
            tr.exit("queries.exec", "queries.exec_s")
        return time.perf_counter() - t0, pdf

    def check_item(self, k: int, name: str, pdf) -> str | None:
        from etl_ml_pipeline_spark.oracle import value_hash

        self.extra["queries.result_rows"] += len(pdf)
        want = self.expected[name]
        if sorted(pdf.columns) != want["columns"]:
            return f"columns {sorted(pdf.columns)} != {want['columns']}"
        if len(pdf) != want["rows"]:
            return f"{len(pdf)} rows != {want['rows']}"
        if value_hash(pdf) != want["hash"]:
            return "value hash differs from the oracle"
        return None

    def finish_pass(self, k: int) -> None:
        pass

    def outputs(self) -> list:
        return []


class IncrementalRunner:
    def __init__(self, spark, spec: dict, tracer) -> None:
        import pyarrow.parquet as pq

        from repobench import workloads

        self.spark, self.tracer = spark, tracer
        self.config = str(Path(spec["root"]) / "configs" / workloads.INCREMENTAL_CONFIG)
        self.work = Path(spec["work"])
        feed = Path(spec["feed"])
        self.batches = [pq.read_table(str(p)) for p in sorted(feed.glob("batch_*.parquet"))]
        self.stride = spec["pass_stride"]
        self.saved: list[dict] = []
        self.extra: dict[str, float] = {}

    def items(self) -> list[int]:
        return list(range(len(self.batches)))

    def input_rows(self, i: int, rows: dict[str, int]) -> int:
        return self.batches[i].num_rows

    def _dir(self, k: int) -> Path:
        return self.work / f"incremental_pass{k}"

    def prepare_pass(self, k: int) -> None:
        # every pass starts from an empty feed, table and state, and its
        # keys (the cursor) sit above every earlier pass's
        d = self._dir(k)
        (d / "feed").mkdir(parents=True)
        self.offset = k * self.stride
        self.extra = {}

    def run_item(self, k: int, i: int):
        import pyarrow.parquet as pq

        from etl_ml_pipeline_spark.engine import PipelineEngine

        from repobench import inputs

        d = self._dir(k)
        batch = inputs.shift_orders(self.batches[i], self.offset)
        pq.write_table(batch, str(d / "feed" / f"batch_{i:02d}.parquet"))
        inline = {
            "pipeline": {
                "extract": {"config": {"path": str(d / "feed")}},
                "load": {"config": {"database": str(d / "orders.db")}},
            }
        }
        t0 = time.perf_counter()
        PipelineEngine(
            self.config, self.spark, inline_config=inline, state_path=str(d / "state.json")
        ).run()
        return time.perf_counter() - t0, None

    def check_item(self, k: int, i: int, _payload) -> str | None:
        return None

    def finish_pass(self, k: int) -> None:
        d = self._dir(k)
        db = d / "orders.db"
        written = db.is_file()
        self.extra = {
            "sinks.files_written": int(written),
            "sinks.bytes_written": db.stat().st_size if written else 0,
        }
        self.saved.append(
            {"offset": self.offset, "database": str(db), "state": str(d / "state.json")}
        )

    def outputs(self) -> list:
        return self.saved


RUNNERS = {
    "catalog_read": CatalogRunner,
    "incremental_upsert": IncrementalRunner,
}


def _codegen_compiles(spark) -> int:
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())


def run_pass(runner, tracer, spark, k: int, rows: dict[str, int]) -> dict:
    runner.prepare_pass(k)
    if tracer:
        tracer.begin_pass()
    compiles0 = _codegen_compiles(spark)
    steal0, total0 = _cpu_ticks()
    items = []
    for item in runner.items():
        rec = {"item": item, "input_rows": runner.input_rows(item, rows)}
        try:
            rec["s"], payload = runner.run_item(k, item)
            rec["error"] = runner.check_item(k, item, payload)
        except Exception as exc:  # noqa: BLE001 - a failed item is counted, not fatal
            rec["s"], rec["error"] = None, f"{type(exc).__name__}: {exc}"[:500]
        items.append(rec)
    runner.finish_pass(k)
    steal1, total1 = _cpu_ticks()
    out = {
        "pass": k,
        "s": sum(r["s"] for r in items if r["s"] is not None),
        "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        "codegen_compiles": _codegen_compiles(spark) - compiles0,
        "items": items,
    }
    if tracer:
        extra = dict(runner.extra, **{"spark.codegen_compiles": out["codegen_compiles"]})
        out["layers"] = tracer.end_pass(out["s"], extra)
    return out


def main(spec_path: str, result_path: str) -> None:
    spec = json.loads(Path(spec_path).read_text())
    workload = spec["workload"]

    t0 = time.perf_counter()
    from etl_ml_pipeline_spark import session
    from etl_ml_pipeline_spark.engine import PipelineEngine  # noqa: F401
    from etl_ml_pipeline_spark.queries import all_queries

    all_queries()  # loads every catalog module, the same on every workload
    t1 = time.perf_counter()
    spark = session.get_spark()
    t2 = time.perf_counter()
    spark.read.parquet(str(Path(spec["inputs"]) / "orders.parquet")).limit(1).collect()
    t3 = time.perf_counter()
    ready = time.monotonic()

    tracer = None
    if spec["trace"]:
        from repobench.tracer import Tracer

        tracer = Tracer(spark, int(os.environ["SPARK_GRAFT_CPUS"]))
    runner = RUNNERS[workload](spark, spec, tracer)
    rows = spec["rows"]

    passes = [run_pass(runner, tracer, spark, k, rows) for k in range(1 + spec["steady_passes"])]

    result = {
        "ready_monotonic": ready,
        "session": {"import_s": t1 - t0, "start_s": t2 - t1, "first_action_s": t3 - t2},
        "passes": passes,
        "outputs": runner.outputs(),
        "driver_rss_mb": _vm_hwm_mb(),
    }
    if tracer:
        result["jvm_peak_rss_mb"] = tracer.jvm_rss_mb()
    Path(result_path).write_text(json.dumps(result))

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the JVM exits once its stdin closes
            proc.stdin.close()
            proc.wait(timeout=60)


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    main(sys.argv[1], sys.argv[2])
