"""The traced run: spans around the calls into each layer's public
functions, plus Spark's own job/stage accounting.

Wrappers exist only while a `Tracer` is installed. `install()` rebinds each
public name where its callers look it up: a module-level function such as
`session.table` is replaced in every `impalatogo_spark` module that imported
it by name (the query modules do), and a method such as `Engine.sql` is
replaced on its class. `uninstall()` restores the originals. Spans are kept
in memory and written as JSON lines by `write()`.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass

# (module, attribute, span name): module-level functions, rebound wherever
# an impalatogo_spark module holds the same function object.
FUNCTIONS = (
    ("impalatogo_spark.session", "table", "session.table"),
    ("impalatogo_spark.session", "register_tables", "session.register_tables"),
    ("impalatogo_spark.session", "release_persisted", "session.release_persisted"),
    ("impalatogo_spark.dialect", "translate", "dialect.translate"),
)
# (module, class, method, span name)
METHODS = (
    ("impalatogo_spark.engine", "Engine", "sql", "engine.sql"),
    ("impalatogo_spark.admission", "AdmissionController", "admit", "admission.admit"),
    ("impalatogo_spark.server", "I2SClient", "call", "server.rpc"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    op: int | None  # benchmark operation id, when the caller set one
    kind: str = ""  # engine.sql: read/write/other; server.rpc: the op name


def sql_kind(sql: str) -> str:
    head = sql.lstrip().split(None, 1)[0].upper() if sql.strip() else ""
    return {"SELECT": "read", "WITH": "read", "INSERT": "write"}.get(head, "other")


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.frames: list = []  # (start, DataFrame) returned by engine.sql reads
        self.self_s = 0.0  # time spent in span bookkeeping
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []

    # -- operation context ---------------------------------------------------

    def set_op(self, op: int | None) -> None:
        self._local.op = op

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, fn, name: str, kind_of=None, keep_frame=False):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            b0 = time.perf_counter()
            stack = tracer._stack()
            kind = kind_of(args, kwargs) if kind_of else ""
            span = Span(name, 0.0, 0.0, stack[-1] if stack else None,
                        getattr(tracer._local, "op", None), kind)
            with tracer._lock:
                idx = len(tracer.spans)
                tracer.spans.append(span)
            stack.append(idx)
            b1 = time.perf_counter()
            span.start = b1
            try:
                out = fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                stack.pop()
            if keep_frame and kind == "read":
                with tracer._lock:
                    tracer.frames.append((span.start, out))
            with tracer._lock:
                tracer.self_s += (b1 - b0) + (time.perf_counter() - span.end)
            return out

        return traced

    # -- installation --------------------------------------------------------

    def install(self) -> None:
        import importlib

        for mod_name, attr, name in FUNCTIONS:
            original = getattr(importlib.import_module(mod_name), attr)
            wrapper = self.wrap(original, name)
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "").startswith("impalatogo_spark")
                        and getattr(mod, attr, None) is original):
                    self._rebind(mod, attr, wrapper)
        for mod_name, cls_name, attr, name in METHODS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            original = getattr(cls, attr)
            if name == "engine.sql":
                wrapper = self.wrap(original, name, keep_frame=True,
                                    kind_of=lambda a, k: sql_kind(a[1] if len(a) > 1 else k["text"]))
            elif name == "server.rpc":
                wrapper = self.wrap(original, name, kind_of=lambda a, k: k.get("op", ""))
            else:
                wrapper = self.wrap(original, name)
            self._rebind(cls, attr, wrapper)

    def _rebind(self, owner, attr: str, value) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, value = self._saved.pop()
            setattr(owner, attr, value)

    # -- readout -------------------------------------------------------------

    def select(self, name: str, t0: float, t1: float, kind: str | None = None) -> list[Span]:
        """Spans named `name` (and of `kind`, if given) that started in [t0, t1]."""
        return [s for s in self.spans
                if s.name == name and t0 <= s.start <= t1
                and (kind is None or s.kind == kind)]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# -- Spark's own accounting (read through py4j; no event log needed) ---------

def wait_for_listeners(sc) -> None:
    """Block until the listener bus has delivered every event, so the
    status store holds the finished jobs' metrics."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def job_ids_for_group(sc, group: str) -> list[int]:
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def all_job_ids(sc) -> list[int]:
    jobs = sc._jsc.sc().statusStore().jobsList(None)  # a Scala Seq
    return sorted(jobs.apply(i).jobId() for i in range(jobs.length()))


def submitted_before(sc, job_ids, wall_ms: float) -> int:
    """How many of `job_ids` were submitted before the wall-clock time."""
    store, n = sc._jsc.sc().statusStore(), 0
    for j in job_ids:
        sub = store.job(j).submissionTime()
        if sub.isDefined() and sub.get().getTime() < wall_ms:
            n += 1
    return n


def job_stats(sc, job_ids) -> dict:
    """Jobs, stages, tasks and executor metrics summed over the jobs' last
    stage attempts (stages shared between jobs are counted once)."""
    store, tracker = sc._jsc.sc().statusStore(), sc.statusTracker()
    out = dict(jobs=len(job_ids), stages=0, tasks=0, executor_run_ms=0,
               executor_cpu_ms=0.0, gc_ms=0, shuffle_write_bytes=0)
    seen = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # stage never ran (skipped) or was evicted
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_ms"] += sd.executorRunTime()
            out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["gc_ms"] += sd.jvmGcTime()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
    return out


def catalyst_ms(df) -> dict:
    """Catalyst phase durations (ms) recorded by the frame's QueryExecution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for p in ("analysis", "optimization", "planning"):
        o = phases.get(p)
        out[p] = o.get().durationMs() if o.isDefined() else 0
    return out
