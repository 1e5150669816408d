"""Per-layer numbers for a traced run, measured from outside the program.

While a :class:`Tracer` is installed, each layer's public functions are
wrapped. A wrapper opens a span under a Spark job group named after the
layer, calls the function, and materializes a DataFrame result
(``persist`` + ``count``) so the layer's work runs inside its own span.
DataFrame arguments that no wrapper produced are materialized first, under
the caller's span, so lazy upstream work is charged to the code that built
it. Spans nest (``near_dup_clusters`` calls ``connected_components``); wall
time and Python-worker CPU are charged to the innermost open span, which
gives each layer its self time.

Work done while no span is open is the benchmark's own glue: the input
scan, a join the job composes between two layers, an action it runs itself.
It is charged to the ``unattributed`` bucket (its own job group), which is
not a layer: ``trace_coverage`` is the share of the traced wall time that
named layers account for, so glue lowers it.

JVM-side numbers come from Spark's own status store
(``sc._jsc.sc().statusStore()``), read once after the traced pass, with
jobs attributed by job group. The one job without a group that belongs to
a layer, the warm-up job inside ``session.get_spark``, is recognised by the
call site Spark records in the job name. Nothing here changes ``x5_ner_spark``; untraced runs never
construct a Tracer, so they set no job group and read no status store.
"""

from __future__ import annotations

import functools
import importlib
import time

import procstat

LAYERS = ("session", "extract", "dedup", "fused", "candidates", "linking",
          "canonicalize", "graph", "runner", "text_stats")
LAYER_METRICS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "exec_cpu_s": "s",
    "python_cpu_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
    "result_mb": "MB", "gc_s": "s", "task_skew": "ratio", "rows_out": "rows",
}
UNATTRIBUTED = "unattributed"
BUCKETS = LAYERS + (UNATTRIBUTED,)
EXTRA_METRICS = {"dedup.pair_yield": "ratio", "trace_gap_s": "s", "trace_coverage": "ratio",
                 f"{UNATTRIBUTED}.wall_s": "s"}

# (module, function, layer): the public entry points each workload composes
TARGETS = (
    ("x5_ner_spark.pipeline.extract", "run", "extract"),
    ("x5_ner_spark.pipeline.runner", "dedup_docs", "dedup"),
    ("x5_ner_spark.operators.dedup", "jaccard_pairs", "dedup"),
    ("x5_ner_spark.operators.dedup", "near_dup_clusters", "dedup"),
    ("x5_ner_spark.pipeline.fused", "fused_triples", "fused"),
    ("x5_ner_spark.pipeline.candidates", "mention_table", "candidates"),
    ("x5_ner_spark.pipeline.candidates", "run", "candidates"),
    ("x5_ner_spark.pipeline.linking", "run", "linking"),
    ("x5_ner_spark.pipeline.canonicalize", "entity_similarity_edges", "canonicalize"),
    ("x5_ner_spark.pipeline.canonicalize", "connected_components", "canonicalize"),
    ("x5_ner_spark.pipeline.graph", "write_stage", "graph"),
    # run_pipeline's self time is its own glue between the layers above:
    # the kept-page semi-join and the node and edge joins
    ("x5_ner_spark.pipeline.runner", "run_pipeline", "runner"),
    # the curate job's gopher_filters(...).filter("keep"): wrapped with its
    # filter so the traced plan keeps the shape of the untraced one
    ("workloads", "kept_docs", "text_stats"),
)
GROUP_PREFIX = "perfbench:"


def metric_names() -> dict[str, str]:
    """Every per-layer metric name with its unit, in a fixed order."""
    out = {f"{layer}.{m}": u for layer in LAYERS for m, u in LAYER_METRICS.items()}
    out.update(EXTRA_METRICS)
    return out


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.stack: list[str] = []
        self.active = False
        self.wall = dict.fromkeys(BUCKETS, 0.0)
        self.pycpu = dict.fromkeys(BUCKETS, 0.0)
        self.rows = dict.fromkeys(BUCKETS, 0)
        self.done: dict[int, object] = {}  # id → DataFrame already materialized
        self._patched: list[tuple[object, str, object]] = []
        self._mark = None

    # ---------------------------------------------------------------- spans
    def _current(self) -> str:
        return self.stack[-1] if self.stack else UNATTRIBUTED

    def _tick(self) -> None:
        """Charge the interval since the previous span boundary to the
        innermost open span, or to the unattributed bucket."""
        now = (time.perf_counter(), procstat.python_worker_cpu_s())
        if self._mark is not None:
            self.wall[self._current()] += now[0] - self._mark[0]
            self.pycpu[self._current()] += now[1] - self._mark[1]
        self._mark = now

    def _set_group(self) -> None:
        if self.active:
            self.sc.setJobGroup(GROUP_PREFIX + self._current(), self._current())
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _push(self, layer: str) -> None:
        self._tick()
        self.stack.append(layer)
        self._set_group()

    def _pop(self) -> None:
        self._tick()
        self.stack.pop()
        self._set_group()

    def materialize(self, df):
        """persist + count ``df`` under the open span (or unattributed)."""
        if id(df) in self.done:
            return df
        df = df.persist()
        self.rows[self._current()] += df.count()
        self.done[id(df)] = df
        return df

    def _wrap(self, fn, layer: str):
        from pyspark.sql import DataFrame

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            args = [self.materialize(a) if isinstance(a, DataFrame) else a for a in args]
            kwargs = {k: self.materialize(v) if isinstance(v, DataFrame) else v
                      for k, v in kwargs.items()}
            self._push(layer)
            try:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = self.materialize(out)
            finally:
                self._pop()
            return out

        return traced

    def __enter__(self):
        for mod_name, attr, layer in TARGETS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._patched.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, layer))
        self.active = True
        self._set_group()
        self._tick()
        return self

    def __exit__(self, *exc):
        self._tick()
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()
        self.active = False
        self._set_group()
        for df in self.done.values():
            df.unpersist()
        self.done.clear()
        return False

    # --------------------------------------------------------- status store
    def layer_metrics(self, session_wall_s: float) -> dict[str, float]:
        """Per-layer metrics from the spans and the status store. Call after
        the traced pass; jobs are those of this SparkContext."""
        _wait_listener(self.sc)
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        acc = {b: dict.fromkeys(LAYER_METRICS, 0.0) for b in BUCKETS}
        heaviest: dict[str, tuple[float, int, int]] = {}
        seen_stages: set[int] = set()
        jobs = store.jobsList(None)
        for k in range(jobs.size()):
            job = jobs.apply(k)
            layer = _job_layer(job)
            if layer is None:
                continue
            a = acc[layer]
            a["jobs"] += 1
            ids = job.stageIds()
            for s in range(ids.size()):
                sid = int(ids.apply(s))
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                stages = store.stageData(sid, False, jvm.java.util.ArrayList(),
                                         False, _double_array(self.sc, []))
                for t in range(stages.size()):
                    st = stages.apply(t)
                    if str(st.status()) == "SKIPPED":
                        continue
                    a["tasks"] += st.numCompleteTasks()
                    a["exec_cpu_s"] += st.executorCpuTime() / 1e9
                    a["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 1e6
                    a["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
                    a["result_mb"] += st.resultSize() / 1e6
                    a["gc_s"] += st.jvmGcTime() / 1e3
                    a["rows_out"] += st.outputRecords()
                    run = st.executorRunTime()
                    if run > heaviest.get(layer, (-1, 0, 0))[0]:
                        heaviest[layer] = (run, sid, st.attemptId())
        for layer, (_, sid, att) in heaviest.items():
            acc[layer]["task_skew"] = _task_skew(self.sc, store, sid, att)
        for b in BUCKETS:
            acc[b]["wall_s"] = self.wall[b]
            acc[b]["python_cpu_s"] = self.pycpu[b]
            acc[b]["rows_out"] += self.rows[b]
        acc["session"]["wall_s"] = session_wall_s
        return {f"{b}.{m}": float(v) for b in BUCKETS for m, v in acc[b].items()}


def _wait_listener(sc, timeout_s: float = 30.0) -> None:
    """The status store is fed by the listener bus; wait until it has
    recorded the end of every job the tracker knows about."""
    store = sc._jsc.sc().statusStore()
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        jobs = store.jobsList(None)
        running = [jobs.apply(k) for k in range(jobs.size())
                   if str(jobs.apply(k).status()) == "RUNNING"]
        if not running and not sc.statusTracker().getActiveJobsIds():
            return
        time.sleep(0.1)


def _job_layer(job) -> str | None:
    group = job.jobGroup()
    if group.isDefined():
        g = str(group.get())
        return g[len(GROUP_PREFIX):] if g.startswith(GROUP_PREFIX) else None
    # ungrouped: only the session's own warm-up job, named
    # "<action> at /path/to/x5_ner_spark/session.py:<line>"
    site = str(job.name()).rsplit(" at ", 1)[-1].rsplit(":", 1)[0]
    return "session" if site.endswith("x5_ner_spark/session.py") else None


def _double_array(sc, values):
    arr = sc._gateway.new_array(sc._jvm.double, len(values))
    for i, v in enumerate(values):
        arr[i] = v
    return arr


def _task_skew(sc, store, sid: int, attempt: int) -> float:
    """Slowest task over the median task of one stage (executor run time)."""
    summary = store.taskSummary(sid, attempt, _double_array(sc, [0.5, 1.0]))
    if not summary.isDefined():
        return 1.0
    q = summary.get().executorRunTime()
    med, top = float(q.apply(0)), float(q.apply(1))
    return top / med if med > 0 else 1.0
