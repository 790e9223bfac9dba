"""Traced mode: call spans around the engine's public functions, Spark job
attribution from the JVM status store, and a py4j round-trip counter.

Everything here lives in the benchmark process and is installed from
outside the package: wrappers replace module attributes (the name each
caller looks up), so the package source is untouched. With tracing off
nothing is installed and no wrapper runs.

Per op the tracer yields ``<module>.s`` (self time of wrapped calls),
``<module>.jobs`` / ``<module>.job_s`` (jobs attributed by their Python
call site, else by the job group the innermost span set) and the
engine-wide ``spark.*`` / ``py4j.*`` figures.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import re
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PKG = "etl_weather_data_pipeline_spark"
MODULES = (
    "sources", "transform", "quality", "sinks", "pipeline",
    "views", "corpus", "dedup", "passages",
)
# Call-site file, relative to the package dir -> benchmark module label.
_CALLSITE_FILES = {
    "sources/readers.py": "sources",
    "transform.py": "transform",
    "operators/quality.py": "quality",
    "sinks/writers.py": "sinks",
    "pipeline.py": "pipeline",
    "plans/views.py": "views",
    "streaming/corpus.py": "corpus",
    "operators/dedup.py": "dedup",
    "operators/passages.py": "passages",
}
_CALLSITE_RE = re.compile(PKG + r"/([\w/]+\.py):\d+")

# (module label, python module, attribute) for every function an op
# reaches. `run_pipeline` imports its stage functions into `pipeline`'s
# namespace, so those are wrapped there; the corpus merge imports from
# `operators.dedup` / `operators.passages` at call time, so those module
# attributes are wrapped.
WRAP_TARGETS = [
    ("sources", "sources.readers", "read_api_json"),
    ("sources", "sources.readers", "parse_api_payload"),
    ("transform", "pipeline", "transform_weather"),
    *[("transform", "transform", f) for f in (
        "clean_text", "dedup_hourly", "handle_missing", "normalize", "enrich", "validate",
    )],
    ("quality", "pipeline", "quality_metrics"),
    ("quality", "pipeline", "quality_gate"),
    ("quality", "pipeline", "metrics_json"),
    ("sinks", "pipeline", "merge_upsert"),
    ("sinks", "pipeline", "append_quality_metrics"),
    ("sinks", "pipeline", "append_load_history"),
    ("sinks", "sinks.writers", "write_parquet"),
    ("sinks", "sinks.writers", "recover_staged_crash"),
    ("pipeline", "pipeline", "run_pipeline"),
    *[("views", "plans.views", f) for f in (
        "daily_weather_summary", "latest_weather", "seasonal_weather_trends",
        "data_summary", "data_quality_summary",
    )],
    ("corpus", "streaming.corpus", "merge_batch_neardup_into_corpus"),
    ("corpus", "streaming.corpus", "_passage_stage_drops"),
    ("corpus", "streaming.corpus", "_append_side_bucketed"),
    ("corpus", "streaming.corpus", "_append_ingest_history"),
    *[("dedup", "operators.dedup", f) for f in (
        "minhash_signatures", "minhash_band_table", "token_sets", "jaccard_verify",
    )],
    *[("passages", "operators.passages", f) for f in (
        "rolling_hashes", "gram_positions", "exact_passage_pairs",
        "winnow_fingerprint_table",
    )],
]


@dataclass
class Span:
    op: int  # spans of one op share it
    sid: int
    parent: int | None
    module: str
    name: str
    t0: float
    t1: float = 0.0


class Py4jCounter:
    """Counts round trips through the py4j client and the time spent
    waiting in them (a blocking action waits inside one round trip)."""

    def __init__(self, client):
        self.client = client
        self.calls = 0
        self.wait_s = 0.0
        self.active = False
        self._orig = client.send_command

        def send_command(*args, **kwargs):
            if not self.active:
                return self._orig(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return self._orig(*args, **kwargs)
            finally:
                self.calls += 1
                self.wait_s += time.perf_counter() - t0

        client.send_command = send_command

    def restore(self):
        self.client.send_command = self._orig

    @contextlib.contextmanager
    def paused(self):
        was, self.active = self.active, False
        try:
            yield
        finally:
            self.active = was


@dataclass
class OpTrace:
    spans: list[Span] = field(default_factory=list)
    t0: float = 0.0
    t1: float = 0.0
    first_job: int = 0
    py4j_calls0: int = 0
    py4j_wait0: float = 0.0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.py4j = Py4jCounter(self.sc._gateway._gateway_client)
        self.spans: list[Span] = []  # every span of the run, written at exit
        self.stack: list[int] = []
        self.enabled = False
        self._restore: list[tuple[object, str, object]] = []
        self.cur: OpTrace | None = None
        self.n_ops = 0

    # -- wrappers ---------------------------------------------------------
    def install(self):
        for label, modname, attr in WRAP_TARGETS:
            mod = importlib.import_module(f"{PKG}.{modname}")
            fn = getattr(mod, attr)
            self._restore.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(label, attr, fn))

    def uninstall(self):
        for mod, attr, fn in reversed(self._restore):
            setattr(mod, attr, fn)
        self._restore.clear()
        self.py4j.restore()

    def _wrap(self, module: str, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(module, name):
                return fn(*args, **kwargs)

        return wrapper

    @contextlib.contextmanager
    def span(self, module: str, name: str):
        if not self.enabled:
            yield
            return
        with self.py4j.paused():
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(f"{module}.{name}", name)
        s = Span(self.n_ops, len(self.spans), self.stack[-1] if self.stack else None,
                 module, name, time.perf_counter())
        self.spans.append(s)
        self.cur.spans.append(s)
        self.stack.append(s.sid)
        try:
            yield
        finally:
            s.t1 = time.perf_counter()
            self.stack.pop()
            with self.py4j.paused():
                if prev_group is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(prev_group, prev_group)

    # -- one op -----------------------------------------------------------
    def begin_op(self):
        self.n_ops += 1
        self.cur = OpTrace(first_job=self.jsc.dagScheduler().nextJobId(),
                           py4j_calls0=self.py4j.calls, py4j_wait0=self.py4j.wait_s)
        self.enabled = True
        self.py4j.active = True
        self.cur.t0 = time.perf_counter()

    def end_op(self) -> dict[str, float]:
        """Stop tracing and return this op's per-layer figures."""
        self.cur.t1 = time.perf_counter()
        self.enabled = False
        self.py4j.active = False
        op = self.cur
        wall = op.t1 - op.t0
        out: dict[str, float] = {
            "py4j.calls": float(self.py4j.calls - op.py4j_calls0),
            "py4j.wait_s": self.py4j.wait_s - op.py4j_wait0,
        }
        for m in MODULES:
            out[f"{m}.s"] = 0.0
            out[f"{m}.jobs"] = 0.0
            out[f"{m}.job_s"] = 0.0
        child: dict[int, float] = {}
        for s in op.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.t1 - s.t0)
        for s in op.spans:
            out[f"{s.module}.s"] += (s.t1 - s.t0) - child.get(s.sid, 0.0)
        out.update(self._jobs(op, wall))
        return out

    def _jobs(self, op: OpTrace, wall: float) -> dict[str, float]:
        jsc = self.jsc
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        spans_ms: list[tuple[int, int]] = []
        stages_seen: set[int] = set()
        tasks = exec_ms = shuffle = inp = outp = 0
        per_mod: dict[str, list[float]] = {}
        job_id = op.first_job
        while True:
            try:
                jd = store.job(job_id)
            except Py4JJavaError:  # no job with this id yet
                break
            job_id += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isEmpty() or done.isEmpty():
                continue
            a, b = sub.get().getTime(), done.get().getTime()
            spans_ms.append((a, b))
            tasks += jd.numCompletedTasks()
            mod = self._attribute(jd.name(), jd.jobGroup())
            rec = per_mod.setdefault(mod, [0, 0.0])
            rec[0] += 1
            rec[1] += (b - a) / 1000.0
            ids = jd.stageIds()
            for i in range(ids.length()):
                sid = ids.apply(i)
                if sid in stages_seen:
                    continue
                stages_seen.add(sid)
                st = store.lastStageAttempt(sid)
                exec_ms += st.executorRunTime()
                shuffle += st.shuffleWriteBytes()
                inp += st.inputBytes()
                outp += st.outputBytes()
        out = {
            "spark.jobs": float(len(spans_ms)),
            "spark.tasks": float(tasks),
            "spark.exec_s": exec_ms / 1000.0,
            "spark.driver_s": max(wall - _union_s(spans_ms), 0.0),
            "spark.shuffle_mb": shuffle / 1e6,
            "spark.input_mb": inp / 1e6,
            "spark.output_mb": outp / 1e6,
            "spark.cached_mb": self._cached_mb(),
        }
        for mod, (n, s) in per_mod.items():
            if mod in MODULES:
                out[f"{mod}.jobs"] = float(n)
                out[f"{mod}.job_s"] = s
        return out

    @staticmethod
    def _attribute(name: str, group) -> str:
        m = _CALLSITE_RE.search(name or "")
        if m and m.group(1) in _CALLSITE_FILES:
            return _CALLSITE_FILES[m.group(1)]
        if not group.isEmpty():
            return str(group.get()).split(".", 1)[0]
        return "other"

    def _cached_mb(self) -> float:
        infos = self.jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    # -- SQL scan metrics (views) -------------------------------------------
    def scan_metrics_since(self, first_execution: int) -> tuple[int, int]:
        """(rows read, files read) summed over the parquet scan nodes of
        every SQL execution from ``first_execution`` on."""
        self.jsc.listenerBus().waitUntilEmpty(30_000)
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        rows = files = 0
        eid = first_execution
        while True:
            try:
                graph = sql_store.planGraph(eid)
            except Py4JJavaError:  # no execution with this id yet
                break
            values = sql_store.executionMetrics(eid)
            nodes = graph.allNodes()
            for i in range(nodes.length()):
                node = nodes.apply(i)
                if not node.name().startswith("Scan parquet"):
                    continue
                metrics = node.metrics()
                for k in range(metrics.length()):
                    met = metrics.apply(k)
                    name = met.name()
                    if name not in ("number of output rows", "number of files read"):
                        continue
                    v = values.get(met.accumulatorId())
                    if v.isEmpty():
                        continue
                    n = int(str(v.get()).replace(",", ""))
                    if name == "number of output rows":
                        rows += n
                    else:
                        files += n
            eid += 1
        return rows, files

    def next_execution(self) -> int:
        """Id the next SQL execution will get."""
        self.jsc.listenerBus().waitUntilEmpty(30_000)
        execs = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        n = execs.length()
        return execs.apply(n - 1).executionId() + 1 if n else 0

    def write_spans(self, path: str):
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _union_s(spans_ms: list[tuple[int, int]]) -> float:
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(spans_ms):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0
