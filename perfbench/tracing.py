"""Per-layer tracing for the benchmark's traced run.

Everything here is driven from the benchmark's side of the API boundary:

* ``Tracer.install()`` wraps named public functions of the library's modules
  (module attributes, so every caller that looks the function up through
  its module sees the wrapper) and records one span per call: name, start,
  end, parent span, and the py4j calls and Spark jobs made inside it.
* a counter on ``py4j.clientserver.ClientServerConnection.send_command``
  counts driver→JVM round trips;
* ``spark_counters()`` reads Spark's in-process status store for a range
  of job ids: stages, tasks, executor run/CPU/GC time, input, shuffle and
  spill bytes;
* ``catalyst_phases()`` reads a DataFrame's ``QueryPlanningTracker``.

Spans stay in memory; ``ledger()`` summarises them (count, total and self
time per span name) when the run ends.
"""

from __future__ import annotations

import importlib
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_PKG = "hive2es_offline_spark"

#: (module, attribute, span name) — the public functions of each layer that
#: the traced run wraps.  Callers that bound a function at import time
#: (``from x import f`` at module top) bypass the wrapper; those layers are
#: covered by the enclosing span instead.
PATCHES = (
    ("jobs.hive2es", "read_table", "sources.read_table"),
    ("jobs.hive2es", "build_documents", "plan.build_documents"),
    ("operators.document", "infer_field_set", "document.infer_field_set"),
    ("operators.document", "normalize_types", "document.normalize_types"),
    ("operators.document", "scrub_nulls", "document.scrub_nulls"),
    ("operators.document", "to_documents", "document.to_documents"),
    ("operators.routing", "repartition_for_shards", "routing.repartition_for_shards"),
    ("sinks.bundle", "write_bundle", "bundle.write_bundle"),
    ("sinks.bundle", "publish_bundle", "bundle.publish_bundle"),
    ("plans.query_dsl", "es_search", "query_dsl.es_search"),
    ("plans.scoring", "es_scored_search", "scoring.es_scored_search"),
    ("plans.esql", "esql", "esql.esql"),
    ("plans.analysis", "analyze_col", "analysis.analyze_col"),
    ("plans.analysis", "analyze_text", "analysis.analyze_text"),
    ("operators.text", "pii_scrub", "text.pii_scrub"),
    ("operators.text", "boilerplate_scrub", "text.boilerplate_scrub"),
    ("operators.text", "text_stats", "text.text_stats"),
    ("operators.dedup", "dedup_exact", "dedup.dedup_exact"),
    ("operators.dedup", "dedup_minhash", "dedup.dedup_minhash"),
    ("operators.dedup", "incremental_dedup_minhash", "dedup.incremental_dedup_minhash"),
    ("operators.dedup", "minhash_signatures", "dedup.minhash_signatures"),
    ("operators.dedup", "connected_components", "dedup.connected_components"),
    ("operators.sampling", "hash_split", "sampling.hash_split"),
    ("sinks.snapshot", "upsert_snapshot", "snapshot.upsert_snapshot"),
    ("sinks.export", "write_jsonl", "export.write_jsonl"),
)


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    iteration: int
    py4j0: int
    job0: int
    end: float = 0.0
    py4j: int = 0
    jobs: int = 0
    result: object = None  # what the wrapped call returned

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class Tracer:
    """Spans and counters of one traced run.  ``active`` switches recording
    on for traced iterations; the wrappers stay installed but pass straight
    through while it is off."""

    spark: object
    spans: list[Span] = field(default_factory=list)
    active: bool = False
    iteration: int = 0
    _stack: list[int] = field(default_factory=list)
    _restore: list = field(default_factory=list)
    _calls: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)

    # -- py4j ------------------------------------------------------------
    def py4j_calls(self) -> int:
        """Driver→JVM calls so far, excluding the tracer's own."""
        return self._calls

    @contextmanager
    def _own(self):
        """Calls made inside this block (on this thread) are the tracer's
        own reads and are not counted."""
        self._local.own = True
        try:
            yield
        finally:
            self._local.own = False

    def job_id(self) -> int:
        with self._own():
            return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    # -- patching ----------------------------------------------------------
    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection

        orig_send = ClientServerConnection.send_command

        def send_command(conn, command, *a, **kw):
            if not getattr(self._local, "own", False):
                with self._lock:
                    self._calls += 1
            return orig_send(conn, command, *a, **kw)

        ClientServerConnection.send_command = send_command
        self._restore.append((ClientServerConnection, "send_command", orig_send))
        for mod_name, attr, span in PATCHES:
            mod = importlib.import_module(f"{_PKG}.{mod_name}")
            orig = getattr(mod, attr)
            setattr(mod, attr, self._wrap(orig, span))
            self._restore.append((mod, attr, orig))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._restore):
            setattr(obj, attr, orig)
        self._restore.clear()

    def _wrap(self, fn, name: str):
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            idx = self._open(name)
            try:
                out = fn(*args, **kwargs)
                self.spans[idx].result = out
                return out
            finally:
                self._close(idx)

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", name)
        wrapper.__doc__ = getattr(fn, "__doc__", None)
        return wrapper

    # -- spans ---------------------------------------------------------------
    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        s = Span(name, 0.0, parent, self.iteration, self.py4j_calls(), self.job_id())
        s.start = time.perf_counter()
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def _close(self, idx: int) -> None:
        s = self.spans[idx]
        s.end = time.perf_counter()
        s.py4j = self.py4j_calls() - s.py4j0
        s.jobs = self.job_id() - s.job0
        self._stack.pop()

    def total(self, name: str, iteration: int, what: str = "ms") -> float:
        """Sum of ``what`` (ms / py4j / jobs) over top-level occurrences of
        span ``name`` (spans nested in a span of the same name are not
        double counted) in one iteration."""
        out = 0.0
        for s in self.spans:
            if s.name != name or s.iteration != iteration:
                continue
            p, nested = s.parent, False
            while p is not None:
                if self.spans[p].name == name:
                    nested = True
                    break
                p = self.spans[p].parent
            if not nested:
                out += getattr(s, what)
        return out

    # -- Spark counters ----------------------------------------------------
    def spark_counters(self, job0: int, job1: int) -> dict:
        """Stage/task/executor totals over jobs ``[job0, job1)``, read from
        the in-process status store once the listener bus has drained."""
        with self._own():
            return _spark_counters(self.spark, job0, job1)

    def storage_used(self) -> int:
        """Bytes of cached blocks held by the executors right now."""
        with self._own():
            store = self.spark.sparkContext._jsc.sc().statusStore()
            it = store.executorList(True).iterator()
            used = 0
            while it.hasNext():
                used += int(it.next().memoryUsed())
            return used

    def catalyst_phases(self, df) -> dict:
        """Analysis / optimization / planning ms of ``df``'s query
        execution (phases that have not run read as 0)."""
        with self._own():
            phases = df._jdf.queryExecution().tracker().phases()
            out = {}
            for k in ("analysis", "optimization", "planning"):
                opt = phases.get(k)
                out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
            return out

    # -- ledger --------------------------------------------------------------
    def ledger(self) -> dict:
        """Per span name: calls, total ms, self ms (total minus the time
        covered by child spans), py4j calls and Spark jobs."""
        child_ms = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_ms[s.parent] += s.ms
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            e = out.setdefault(s.name, {"calls": 0, "total_ms": 0.0, "self_ms": 0.0,
                                        "py4j": 0, "jobs": 0})
            e["calls"] += 1
            e["total_ms"] += s.ms
            e["self_ms"] += s.ms - child_ms[i]
            e["py4j"] += s.py4j
            e["jobs"] += s.jobs
        return out


def _spark_counters(spark, job0: int, job1: int) -> dict:
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
         "jvm_gc_ms", "input_bytes", "input_records", "shuffle_write_bytes",
         "spill_bytes"), 0)
    out["jobs"] = job1 - job0
    seen = set()
    for jid in range(job0, job1):
        it = store.job(jid).stageIds().iterator()
        while it.hasNext():
            sid = int(it.next())
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(
                sid, False, sc._jvm.java.util.ArrayList(), False, no_quantiles
            ).iterator()
            while attempts.hasNext():
                sd = attempts.next()
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += int(sd.numCompleteTasks())
                out["executor_run_ms"] += int(sd.executorRunTime())
                out["executor_cpu_ms"] += int(sd.executorCpuTime()) / 1e6
                out["jvm_gc_ms"] += int(sd.jvmGcTime())
                out["input_bytes"] += int(sd.inputBytes())
                out["input_records"] += int(sd.inputRecords())
                out["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
                out["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
    return out
