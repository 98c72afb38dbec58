"""Out-of-program tracing for the benchmark's traced run (``--trace 1``).

Two sources, both read from outside ``spype_spark``:

* :class:`Tracer` — spans around calls into the public functions of
  each ``spype_spark`` module (the layers). It wraps those functions
  in every loaded ``spype_spark`` module namespace, so the program's
  own cross-module calls are timed too. Spans stay in memory and are
  written out as JSON lines when the run ends.
* :class:`SparkStats` — Spark's own bookkeeping over py4j, read after
  each op's timed region: job/stage data from the status store, the
  Catalyst phase tracker of the op's result frame, and the SQL metrics
  of its Python-exec plan nodes. On a session without py4j (Spark
  Connect) it is absent and the traced run reports wall-time spans
  only.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import operator
import sys
import threading
import time

#: Traced modules → layer names (the repository's modules).
LAYERS = {
    "spype_spark.session": "session",
    "spype_spark.tables": "tables",
    "spype_spark.functions": "functions",
    "spype_spark.ann": "ann",
    "spype_spark.pipeline.dsl": "pipeline",
    "spype_spark.pipeline.contracts": "pipeline",
    "spype_spark.lakehouse": "lakehouse",
    "spype_spark.manifest_log": "manifest_log",
    "spype_spark.sqltext": "sqltext",
    "spype_spark.lake_sink": "lake_sink",
}

#: Methods traced on the pipeline classes (``Pype``/``Task`` compose).
_METHODS = {"spype_spark.pipeline.dsl": ("Pype.apply", "Task.apply")}


class _Traced:
    """Callable stand-in for one public function: records a span while
    tracing is on, else calls straight through. Pickles as the wrapped
    function itself, so closures shipped to Python workers never carry
    the tracer."""

    def __init__(self, tracer: "Tracer", name: str, fn):
        functools.update_wrapper(self, fn)
        self.__globals__ = getattr(fn, "__globals__", {})
        self._tracer = tracer
        self._name = name

    def __call__(self, *args, **kwargs):
        tr = self._tracer
        if not tr.enabled or threading.get_ident() != tr.thread:
            return self.__wrapped__(*args, **kwargs)
        sid = tr.begin(self._name)
        try:
            return self.__wrapped__(*args, **kwargs)
        finally:
            tr.end(sid)

    def __get__(self, obj, objtype=None):
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        return (operator.itemgetter(0), ((self.__wrapped__,),))


class Tracer:
    """Span recorder. A span is ``(op, id, parent, name, start, end)``;
    every span opened while an op runs carries that op's id. Only the
    thread that drives the ops is traced: helper threads an op fans out
    to run inside that op's spans."""

    def __init__(self):
        self.thread = threading.get_ident()
        self.enabled = False
        self.op: int | None = None
        self.spans: list[list] = []
        self._stack: list[int] = []

    def begin(self, name: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([self.op, sid, parent, name, time.perf_counter(), None])
        self._stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid][5] = time.perf_counter()
        # a span is closed by its own frame, so the stack top is sid
        while self._stack and self._stack.pop() != sid:
            pass

    def install(self) -> None:
        """Wrap the public functions of every layer module."""
        wrapped: dict[int, _Traced] = {}
        for modname, layer in LAYERS.items():
            mod = importlib.import_module(modname)
            for attr, fn in list(vars(mod).items()):
                if (
                    inspect.isfunction(fn)
                    and fn.__module__ == modname
                    and not attr.startswith("_")
                ):
                    wrapped[id(fn)] = _Traced(self, f"{layer}.{attr}", fn)
            for path in _METHODS.get(modname, ()):
                cls_name, meth = path.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, _Traced(self, f"{layer}.{path}",
                                           vars(cls)[meth]))
        for name, mod in list(sys.modules.items()):
            if not name.startswith("spype_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                w = wrapped.get(id(val))
                if w is not None and w.__wrapped__ is val:
                    setattr(mod, attr, w)

    def op_spans(self) -> dict[int, list[list]]:
        by_op: dict[int, list[list]] = {}
        for s in self.spans:
            if s[0] is not None and s[5] is not None:
                by_op.setdefault(s[0], []).append(s)
        return by_op

    def self_times(self) -> tuple[dict[str, float], float, float]:
        """Per-layer self time summed over all ops, the residual (time
        inside op root spans that no layer span covers) and total op
        wall time. A span's self time is its duration minus the union
        of its children's intervals."""
        layers: dict[str, float] = {}
        residual = wall = 0.0
        for spans in self.op_spans().values():
            kids: dict[int, list[tuple[float, float]]] = {}
            for s in spans:
                if s[2] is not None:
                    kids.setdefault(s[2], []).append((s[4], s[5]))
            for s in spans:
                self_t = (s[5] - s[4]) - _covered(kids.get(s[1], []))
                if s[2] is None:
                    residual += self_t
                    wall += s[5] - s[4]
                else:
                    layer = s[3].split(".", 1)[0]
                    layers[layer] = layers.get(layer, 0.0) + self_t
        return layers, residual, wall

    def dump(self, path: str, op_names: dict[int, str]) -> None:
        with open(path, "w") as f:
            for op, sid, parent, name, t0, t1 in self.spans:
                f.write(json.dumps({
                    "op_id": op, "op": op_names.get(op), "span": sid,
                    "parent": parent, "name": name, "start": t0, "end": t1,
                }) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


_STAGE_FIELDS = {
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
    "task_run_s": "executorRunTime",
    "task_cpu_s": "executorCpuTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "spill_bytes": "diskBytesSpilled",
    "input_bytes": "inputBytes",
}
#: unit scale from the status store's raw value
_STAGE_SCALE = {"task_run_s": 1e-3, "task_cpu_s": 1e-9}


class SparkStats:
    """Job, stage, Catalyst-phase and Python-node numbers from the
    driver JVM, read after an op completes (never inside its timed
    region)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        beans = spark.sparkContext._jvm.java.lang.management \
            .ManagementFactory.getGarbageCollectorMXBeans()
        self._gc_beans = [beans.get(i) for i in range(beans.size())]
        self._gc_ms = self._gc_total_ms()
        #: JVM GC seconds between the last two new_jobs() calls; in local
        #: mode the driver JVM runs the tasks too, so this covers both.
        self.gc_s = 0.0
        self.last_job = -1
        self.new_jobs()

    def _gc_total_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._gc_beans)

    @classmethod
    def attach(cls, spark) -> "SparkStats | None":
        try:
            return cls(spark)
        except Exception:  # no py4j (Spark Connect): wall-time spans only
            return None

    def new_jobs(self) -> list[tuple[int, float, list[int]]]:
        """Jobs submitted since the last call: (id, submit epoch s,
        stage ids)."""
        self._sc.listenerBus().waitUntilEmpty()
        gc_ms = self._gc_total_ms()
        self.gc_s, self._gc_ms = (gc_ms - self._gc_ms) / 1e3, gc_ms
        out = []
        jid = self.last_job + 1
        while True:
            try:
                j = self._store.job(jid)
            except Exception:
                break
            sub = j.submissionTime()
            t = sub.get().getTime() / 1e3 if sub.isDefined() else 0.0
            ids = j.stageIds()
            out.append((jid, t, [ids.apply(i) for i in range(ids.size())]))
            jid += 1
        self.last_job = jid - 1
        return out

    def stage_totals(self, stage_ids) -> dict[str, float]:
        tot = dict.fromkeys(_STAGE_FIELDS, 0.0)
        tot["stages"] = 0
        for sid in set(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # skipped stage: never ran
                continue
            tot["stages"] += 1
            for k, f in _STAGE_FIELDS.items():
                tot[k] += getattr(st, f)() * _STAGE_SCALE.get(k, 1)
            tot["spill_bytes"] += st.memoryBytesSpilled()
        return tot

    @staticmethod
    def phases(df) -> dict[str, float]:
        ph = df._jdf.queryExecution().tracker().phases()
        out = {}
        for p in ("analysis", "optimization", "planning"):
            o = ph.get(p)
            out[p] = o.get().durationMs() / 1e3 if o.isDefined() else 0.0
        return out

    @staticmethod
    def python_bytes(df) -> tuple[float, float]:
        """Sum of ``pythonDataSent``/``pythonDataReceived`` over the
        executed plan (through AQE query stages)."""
        sent = recv = 0.0
        todo = [df._jdf.queryExecution().executedPlan()]
        while todo:
            node = todo.pop()
            ms = node.metrics()
            if ms.contains("pythonDataSent"):
                sent += ms.apply("pythonDataSent").value()
            if ms.contains("pythonDataReceived"):
                recv += ms.apply("pythonDataReceived").value()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
            elif cls.endswith("QueryStageExec"):
                todo.append(node.plan())
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
        return sent, recv
