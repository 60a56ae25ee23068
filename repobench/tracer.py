"""Per-layer tracing for a benchmark run (``--trace 1``).

The tracer wraps the package's layer entry points from outside the
package and reads the JVM's own status stores after every pass:

- Python layers (``config``, ``registry``, ``engine``, ``sources``,
  ``operators``, ``sinks``, ``state``) are spans around their public
  functions and methods. A layer's time is the wall time of its
  outermost spans, so nested calls of the same layer count once.
- ``queries`` spans come from the catalog runner, which times the query
  function (build) and ``toPandas`` (exec) itself.
- Every Spark job is attributed to the innermost span open at its
  submission time, which gives ``engine.jobs`` (the cursor collect),
  ``operators.jobs`` and ``sinks.jobs``.
- ``spark.*`` sums the stage metrics of the pass's stages; ``plan.*``
  counts nodes in the final physical plan of every SQL execution of the
  pass.

Wrappers keep the wrapped function's ``__module__``/``__qualname__``, so
cloudpickle still ships any wrapped function to Python workers by
reference (the worker imports the unwrapped original).
"""

from __future__ import annotations

import functools
import inspect
import json
import re
import sys
import time
from collections import defaultdict

# Per-layer metrics, in the order BENCHMARK.json declares them.
METRICS = {
    "session.import_s": "s",
    "session.start_s": "s",
    "session.first_action_s": "s",
    "spark.codegen_compiles": "count",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.build_jobs": "count",
    "queries.result_rows": "rows",
    "operators.build_s": "s",
    "operators.calls": "count",
    "operators.jobs": "count",
    "operators.pins": "count",
    "config.load_s": "s",
    "config.calls": "count",
    "registry.lookups": "count",
    "engine.run_s": "s",
    "engine.self_s": "s",
    "engine.jobs": "count",
    "engine.retries": "count",
    "state.io_s": "s",
    "state.commits": "count",
    "sources.extract_s": "s",
    "sources.input_rows": "rows",
    "sources.input_bytes": "bytes",
    "sinks.load_s": "s",
    "sinks.jobs": "count",
    "sinks.rows_written": "rows",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.sched_overhead_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.heap_live_mb": "MB",
    "spark.jvm_peak_rss_mb": "MB",
    "plan.scans": "count",
    "plan.exchanges": "count",
    "plan.reused_exchanges": "count",
    "plan.python_evals": "count",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
}

_NODE = re.compile(r"^[\s:+|\-]*(?:\*\s*)?([A-Za-z][\w ]*?)\s*\(\d+\)")
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")


def plan_counts(description: str) -> dict[str, int]:
    """Node counts of the final plan in a formatted plan description."""
    tree = description.split("\n\n", 1)[0].splitlines()
    if any("== Final Plan ==" in line for line in tree):
        start = next(i for i, line in enumerate(tree) if "== Final Plan ==" in line)
        stop = next(
            (i for i, line in enumerate(tree) if "== Initial Plan ==" in line), len(tree)
        )
        tree = tree[start + 1 : stop]
    names = [m.group(1) for m in map(_NODE.match, tree) if m]
    return {
        "plan.scans": sum("Scan" in n for n in names),
        "plan.exchanges": sum(n.endswith("Exchange") and n != "ReusedExchange" for n in names),
        "plan.reused_exchanges": sum(n == "ReusedExchange" for n in names),
        "plan.python_evals": sum(bool(_PYTHON_NODE.search(n)) for n in names),
    }


class Tracer:
    def __init__(self, spark, cores: int) -> None:
        self.spark = spark
        self.cores = cores
        self.stack: list[list] = []  # [layer, t0, child_s]
        self.spans: list[tuple[str, float, float, int]] = []
        self.pass_values: dict[str, float] = defaultdict(float)
        self.overhead = 0.0
        self.sink_rows = 0
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(self._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)
        self._jvm_pid = int(self._jvm.java.lang.ProcessHandle.current().pid())
        self._last_job = self._last_stage = -1
        self._last_exec = -1
        self._gc_ms = self._gc_total_ms()
        self._install()
        self._skip_to_now()

    # -- spans ---------------------------------------------------------
    def enter(self, layer: str) -> None:
        self.stack.append([layer, time.time(), 0.0])

    def exit(self, layer: str, counter: str | None = None) -> float:
        _, t0, child = self.stack.pop()
        t1 = time.time()
        d = t1 - t0
        depth = len(self.stack)
        self.spans.append((layer, t0, t1, depth))
        outer = all(f[0] != layer for f in self.stack)
        if outer and counter:
            self.pass_values[counter] += d
        if layer == "engine":
            self.pass_values["engine.self_s"] += d - child
        if self.stack and self.stack[-1][0] != layer:
            self.stack[-1][2] += d
        return d

    def _wrap(self, fn, layer: str, counter: str | None, calls: str | None = None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            a = time.perf_counter()
            if calls:
                tracer.pass_values[calls] += 1
            tracer.enter(layer)
            b = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                c = time.perf_counter()
                tracer.exit(layer, counter)
                tracer.overhead += (b - a) + (time.perf_counter() - c)

        wrapper.__bench_original__ = fn
        return wrapper

    def _count(self, fn, counter: str, when_layer: str | None = None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if when_layer is None or any(f[0] == when_layer for f in tracer.stack):
                tracer.pass_values[counter] += 1
            return fn(*args, **kwargs)

        wrapper.__bench_original__ = fn
        return wrapper

    # -- installation ----------------------------------------------------
    def _patch_function(self, fn, wrapper) -> None:
        """Replace ``fn`` wherever a package module bound it by name."""
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not name.startswith("etl_ml_pipeline_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapper)

    def _patch_method(self, cls, name: str, wrap) -> None:
        """Wrap ``name`` on the class in ``cls``'s MRO that defines it."""
        owner = next((c for c in cls.__mro__ if name in vars(c)), None)
        if owner is None or hasattr(vars(owner)[name], "__bench_original__"):
            return
        setattr(owner, name, wrap(vars(owner)[name]))

    def _install(self) -> None:
        import importlib
        import pkgutil

        import etl_ml_pipeline_spark.operators as ops_pkg
        from etl_ml_pipeline_spark import config, engine, registry, state
        from etl_ml_pipeline_spark.operators.base import BaseTransform
        from etl_ml_pipeline_spark.sinks import sql_database

        for info in pkgutil.iter_modules(ops_pkg.__path__):
            try:
                importlib.import_module(f"{ops_pkg.__name__}.{info.name}")
            except ImportError:
                continue
        # every public function an operators module defines is an
        # operator entry point (pandas UDF objects carry evalType: skip)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("etl_ml_pipeline_spark.operators."):
                continue
            for attr, fn in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                    or hasattr(fn, "evalType")
                ):
                    continue
                self._patch_function(
                    fn, self._wrap(fn, "operators", "operators.build_s", "operators.calls")
                )
        BaseTransform.__call__ = self._wrap(
            BaseTransform.__call__, "operators", "operators.build_s", "operators.calls"
        )

        load = config.load_config
        self._patch_function(load, self._wrap(load, "config", "config.load_s", "config.calls"))
        registry.Registry.get = self._count(registry.Registry.get, "registry.lookups")

        eng = engine.PipelineEngine
        eng.run = self._wrap(eng.run, "engine", "engine.run_s")
        eng._with_retry = self._retry_counter(eng._with_retry)
        for name in ("get", "set", "clear"):
            counter = "state.commits" if name == "set" else None
            wrapped = self._wrap(getattr(state.StateManager, name), "state", "state.io_s", counter)
            setattr(state.StateManager, name, wrapped)

        for _, cls in registry.SOURCES.items():
            self._patch_method(
                cls, "extract", lambda f: self._wrap(f, "sources", "sources.extract_s")
            )
        for _, cls in registry.SINKS.items():
            self._patch_method(cls, "load", lambda f: self._wrap(f, "sinks", "sinks.load_s"))

        tracer = self
        write_batches = sql_database.write_batches

        @functools.wraps(write_batches)
        def counted_write_batches(*args, **kwargs):
            n = write_batches(*args, **kwargs)
            tracer.sink_rows += n
            return n

        self._patch_function(write_batches, counted_write_batches)

        df_cls = type(self.spark.range(1))
        for name in ("localCheckpoint", "checkpoint"):
            setattr(df_cls, name, self._count(getattr(df_cls, name), "operators.pins", "operators"))

    def _retry_counter(self, with_retry):
        tracer = self

        @functools.wraps(with_retry)
        def wrapper(self_, fn, retry_cfg, stage, **kwargs):
            attempts = 0

            def counted(**kw):
                nonlocal attempts
                attempts += 1
                if attempts > 1:
                    tracer.pass_values["engine.retries"] += 1
                return fn(**kw)

            return with_retry(self_, counted, retry_cfg, stage, **kwargs)

        return wrapper

    # -- JVM-side reads -------------------------------------------------
    def _gc_total_ms(self) -> int:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, int(b.getCollectionTime())) for b in beans)

    def _jobs(self) -> list[dict]:
        store = self._jsc.statusStore()
        jobs = json.loads(self._mapper.writeValueAsString(store.jobsList(None)))
        return [j for j in jobs if j["jobId"] > self._last_job]

    def _stages(self) -> list[dict]:
        store = self._jsc.statusStore()
        seq = store.stageList(None, False, False, self._no_quantiles, None)
        stages = json.loads(self._mapper.writeValueAsString(seq))
        return [s for s in stages if s["stageId"] > self._last_stage]

    def _executions(self) -> list[str]:
        out = []
        while True:
            opt = self._sql_store.execution(self._last_exec + 1)
            if opt.isEmpty():
                return out
            self._last_exec += 1
            out.append(opt.get().physicalPlanDescription())

    def _skip_to_now(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        jobs, stages = self._jobs(), self._stages()
        self._last_job = max([j["jobId"] for j in jobs], default=self._last_job)
        self._last_stage = max([s["stageId"] for s in stages], default=self._last_stage)
        self._executions()
        self.spans.clear()

    def jvm_rss_mb(self) -> float:
        with open(f"/proc/{self._jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    # -- per pass --------------------------------------------------------
    def begin_pass(self) -> None:
        self.pass_values = defaultdict(float)
        self.overhead = 0.0
        self.sink_rows = 0
        self.spans = []

    def end_pass(self, pass_s: float, extra: dict[str, float]) -> dict[str, float]:
        """Close a pass: read the JVM stores and return its layer values.

        ``pass_s`` is the pass's timed item total; ``extra`` carries
        runner-measured values (queries.*, sink files/bytes).
        """
        t0 = time.perf_counter()
        v = self.pass_values
        for k, x in extra.items():
            v[k] += x
        self._jsc.listenerBus().waitUntilEmpty()
        jobs, stages = self._jobs(), self._stages()
        self._last_job = max([j["jobId"] for j in jobs], default=self._last_job)
        self._last_stage = max([s["stageId"] for s in stages], default=self._last_stage)

        for job in jobs:
            at = job.get("submissionTime")
            if at is None:
                continue
            at /= 1000.0
            inner = None
            for layer, s0, s1, depth in self.spans:
                if s0 <= at <= s1 and (inner is None or depth >= inner[1]):
                    inner = (layer, depth)
                if layer == "queries.build" and s0 <= at <= s1:
                    v["queries.build_jobs"] += 1
            if inner and inner[0] in ("engine", "operators", "sinks"):
                v[f"{inner[0]}.jobs"] += 1

        ran = [s for s in stages if s["status"] in ("COMPLETE", "FAILED")]
        v["spark.jobs"] += len(jobs)
        v["spark.stages"] += len(ran)
        v["spark.tasks"] += sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in ran)
        run_s = sum(s["executorRunTime"] for s in ran) / 1000.0
        v["spark.executor_run_s"] += run_s
        v["spark.executor_cpu_s"] += sum(s["executorCpuTime"] for s in ran) / 1e9
        v["spark.shuffle_read_bytes"] += sum(s["shuffleReadBytes"] for s in ran)
        v["spark.shuffle_write_bytes"] += sum(s["shuffleWriteBytes"] for s in ran)
        v["spark.spill_bytes"] += sum(s["diskBytesSpilled"] for s in ran)
        v["sources.input_rows"] += sum(s["inputRecords"] for s in ran)
        v["sources.input_bytes"] += sum(s["inputBytes"] for s in ran)
        v["sinks.rows_written"] += sum(s["outputRecords"] for s in ran) + self.sink_rows
        v["spark.sched_overhead_s"] += _union_s(jobs) - run_s / self.cores

        for desc in self._executions():
            for k, n in plan_counts(desc).items():
                v[k] += n

        gc_ms = self._gc_total_ms()
        v["spark.gc_s"] += (gc_ms - self._gc_ms) / 1000.0
        mem = self._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self._jvm.java.lang.System.gc()
        v["spark.heap_live_mb"] = mem.getHeapMemoryUsage().getUsed() / 2**20
        # the explicit GC above is the tracer's, not the workload's
        self._gc_ms = self._gc_total_ms()
        v["spark.jvm_peak_rss_mb"] = self.jvm_rss_mb()

        top = sum(s1 - s0 for _, s0, s1, depth in self.spans if depth == 0)
        v["trace.unattributed_s"] += pass_s - top
        v["trace.overhead_s"] += self.overhead + (time.perf_counter() - t0)
        return dict(v)


def _union_s(jobs: list[dict]) -> float:
    """Wall seconds covered by at least one job of ``jobs``."""
    spans = sorted(
        (j["submissionTime"], j["completionTime"])
        for j in jobs
        if j.get("submissionTime") is not None and j.get("completionTime") is not None
    )
    total, end = 0, None
    for s0, s1 in spans:
        if end is None or s0 > end:
            total += s1 - s0
            end = s1
        elif s1 > end:
            total += s1 - end
            end = s1
    return total / 1000.0
