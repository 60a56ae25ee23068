"""Repository benchmark: one seeded workload run through the package's public API.

Usage (from the repository root):

    python3 repobench/run.py --workload catalog_read --seed 7 --seconds 10 --trace 0
    python3 repobench/run.py --smoke

A run derives its inputs from the committed base tables and the seed,
starts one worker process (the Spark driver, ``worker.py``) with the
engine's own session defaults and ``SPARK_GRAFT_CPUS`` set to the usable
cores, and checks every output the worker produced. It prints one run
record line (per-pass times, hypervisor steal, codegen compiles, the
tail percentile used) and, last, the result line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.

``--smoke`` runs every workload once on the sf0.001 base tables, traced
and untraced, and fails unless every output checks and the emitted
metric names equal those BENCHMARK.json declares.

Everything a run writes stays under ``.bench_work/`` in the checkout and
is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
RUN_LIMIT_S = 170

# Items beyond the tail percentile: item_s_tail is the highest percentile
# with at least this many samples above it.
TAIL_SAMPLES = 10


def _nearest_rank(values: list[float], pct: float) -> float:
    xs = sorted(values)
    k = max(1, -(-len(xs) * pct // 100))  # ceil(n * pct / 100)
    return xs[int(k) - 1]


def _tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) with TAIL_SAMPLES samples above it."""
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_SAMPLES:
        return xs[-1], 100.0
    return xs[n - TAIL_SAMPLES - 1], 100.0 * (n - TAIL_SAMPLES) / n


def _halves(values: list[float]) -> tuple[float, float]:
    h = len(values) // 2
    if h == 0:
        return values[0], values[0]
    return statistics.median(values[:h]), statistics.median(values[len(values) - h :])


def _group_alive(pgid: int) -> list[int]:
    alive = []
    for entry in Path("/proc").iterdir():
        if not entry.name.isdigit():
            continue
        try:
            stat = (entry / "stat").read_text()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid pgrp ...
        fields = stat.rsplit(")", 1)[1].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            alive.append(int(entry.name))
    return alive


def _reap(pgid: int) -> None:
    """Stop every process left in the worker's process group."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def _worker_env(work: Path, cores: int) -> dict[str, str]:
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH", "")) if p
    )
    env["SPARK_GRAFT_CPUS"] = str(cores)
    env["TZ"] = "UTC"
    # keep the JVM's, Spark's and Python's scratch files in the checkout
    env["TMPDIR"] = str(tmp)
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        p
        for p in (env.get("JAVA_TOOL_OPTIONS", ""), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData")
        if p
    )
    return env


def _spec(workload: str, scale: str, seed: int, seconds: float, trace: bool, work: Path):
    from repobench import inputs, workloads

    input_dir = work / "inputs"
    rows = inputs.derive(scale, input_dir, seed)
    spec = {
        "workload": workload,
        "steady_passes": workloads.steady_passes(workload, seconds),
        "trace": trace,
        "root": str(ROOT),
        "work": str(work),
        "inputs": str(input_dir),
        "rows": rows,
    }
    if workload == "catalog_read":
        spec["expected"] = workloads.expected_catalog(input_dir)
    elif workload == "incremental_upsert":
        import pyarrow.parquet as pq

        feed = work / "feed"
        feed.mkdir()
        batches = inputs.feed_batches(input_dir / "orders.parquet", seed)
        for i, b in enumerate(batches):
            pq.write_table(b, str(feed / f"batch_{i:02d}.parquet"))
        spec["feed"] = str(feed)
        spec["pass_stride"] = 1 + max(int(b.column("o_orderkey").to_numpy().max()) for b in batches)
    return spec


def _check(workload: str, spec: dict, result: dict) -> tuple[int, list[str]]:
    """(failed items, error messages) over every pass of the run."""
    from repobench import workloads

    items = [i for p in result["passes"] for i in p["items"]]
    errors = [f"{i['item']}: {i['error']}" for i in items if i["error"]]
    failed = len(errors)
    if workload == "incremental_upsert":
        bad = workloads.check_incremental(Path(spec["feed"]), result["outputs"])
        per_pass = len(result["passes"][0]["items"])
        failed += len({offset for offset, _ in bad}) * per_pass
        errors += [msg for _, msg in bad]
    return min(failed, len(items)), errors


def _end_to_end(setup_s: float, result: dict) -> tuple[dict, dict]:
    steady = result["passes"][1:]
    ok = [i for p in steady for i in p["items"] if i["s"] is not None and not i["error"]]
    lat = [i["s"] for i in ok]
    tail, tail_pct = _tail(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (result["passes"][0]["s"], "s"),
        "input_rows_per_s": (sum(i["input_rows"] for i in ok) / sum(lat), "rows/s"),
        "item_s_p50": (_nearest_rank(lat, 50), "s"),
        "item_s_tail": (tail, "s"),
        "driver_rss_mb": (result["driver_rss_mb"], "MB"),
    }
    return metrics, {"tail_percentile": tail_pct, "steady_items": len(lat)}


def _per_layer(result: dict) -> dict:
    from repobench.tracer import METRICS

    steady = [p["layers"] for p in result["passes"][1:]]
    metrics = {}
    for name, unit in METRICS.items():
        if name.startswith("session."):
            value = result["session"][name.split(".", 1)[1]]
        elif name == "spark.jvm_peak_rss_mb":
            value = result["jvm_peak_rss_mb"]
        else:
            value = statistics.median(p.get(name, 0.0) for p in steady)
        metrics[name] = (value, unit)
    return metrics


def run_once(workload: str, seed: int, seconds: float, trace: bool, scale: str = "sf0.01"):
    """One benchmark run; returns (run record, result line)."""
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".bench_work" / f"{workload}-{seed}-{os.getpid()}"
    started = time.monotonic()
    shutil.rmtree(work, ignore_errors=True)
    try:
        spec = _spec(workload, scale, seed, seconds, trace, work)
        env = _worker_env(work, cores)
        spec_path, result_path = work / "spec.json", work / "result.json"
        spec_path.write_text(json.dumps(spec))
        spawned = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, str(BENCH / "worker.py"), str(spec_path), str(result_path)],
            cwd=str(work),
            env=env,
            stdin=subprocess.DEVNULL,
            stdout=sys.stderr,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, RUN_LIMIT_S - (spawned - started)))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _reap(proc.pid)
            proc.wait()
        if code != 0 or not result_path.exists():
            raise RuntimeError(f"worker failed (exit code {code})")
        result = json.loads(result_path.read_text())

        failed, errors = _check(workload, spec, result)
        attempted = sum(len(p["items"]) for p in result["passes"])
        setup_s = result["ready_monotonic"] - spawned
        if trace:
            metrics, extra = _per_layer(result), {}
        else:
            metrics, extra = _end_to_end(setup_s, result)
        steady_s = [p["s"] for p in result["passes"][1:]]
        first_half, second_half = _halves(steady_s)
        record = {
            "workload": workload,
            "seed": seed,
            "scale": scale,
            "seconds": seconds,
            "trace": int(trace),
            "cores": cores,
            "rows": spec["rows"],
            "setup_s": setup_s,
            "session": result["session"],
            "passes": [
                {
                    **{k: p[k] for k in ("pass", "s", "steal_pct", "codegen_compiles")},
                    "item_s": [i["s"] for i in p["items"]],
                }
                for p in result["passes"]
            ],
            "steady_first_half_median_s": first_half,
            "steady_second_half_median_s": second_half,
            "error_rate": failed / attempted,
            "errors": errors[:20],
            **extra,
        }
        line = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return record, line
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run still uses it


def smoke() -> int:
    """Every workload once on tiny inputs, untraced and traced."""
    from repobench import inputs, workloads

    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {
        False: {m["name"] for m in declared["end_to_end"]},
        True: {m["name"] for m in declared["per_layer"]},
    }
    bad = 0
    for workload in workloads.WORKLOADS:
        for trace in (False, True):
            record, line = run_once(workload, inputs.DEFAULT_SEED, 0, trace, scale="sf0.001")
            names = set(line["metrics"])
            ok = line["correct"] and names == want[trace]
            bad += not ok
            print(
                json.dumps(
                    {
                        "workload": workload,
                        "trace": int(trace),
                        "ok": ok,
                        "failed": line["failed"],
                        "missing": sorted(want[trace] - names),
                        "undeclared": sorted(names - want[trace]),
                        "errors": record["errors"][:5],
                    }
                ),
                flush=True,
            )
    return 1 if bad else 0


def main() -> int:
    if not (ROOT / "etl_ml_pipeline_spark" / "__init__.py").is_file():
        print(f"error: the package etl_ml_pipeline_spark is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from repobench import inputs, workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, default=inputs.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="run the benchmark's own test")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    try:
        record, line = run_once(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception as exc:  # noqa: BLE001 - report and fail without a result line
        print(f"error: {type(exc).__name__}: {exc}", file=sys.stderr)
        return 1
    print(json.dumps({"run_record": record}))
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
