"""Outside-in tracing for the traced benchmark run.

Spans are recorded around calls into each engine layer by replacing the
function at every name its callers look up (``wrap``): the engine's code is
never edited. A span has a name, start, end, parent and the op it belongs
to; spans stay in memory and are written out once the run ends.

Spark's own per-op counters come from the in-process status store
(``SparkCounters``), streaming micro-batch progress from a
``StreamingQueryListener`` (``StreamProgress``).
"""

from __future__ import annotations

import json
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    op: str
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0


class Tracer:
    """In-memory span recorder plus the attribute patches that feed it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.op = "setup"
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object, bool]] = []
        self.active = False

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        s = Span(self.op, len(self.spans), self._stack[-1] if self._stack else None,
                 name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def _wrapper(self, fn, name: str, on_result=None):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None and tracer.active:
                on_result(out)
            return out

        traced.__wrapped__ = fn
        return traced

    def wrap(self, obj, attr: str, name: str, on_result=None) -> None:
        """Route ``obj.attr`` through a span named ``name``."""
        own = attr in vars(obj)
        orig = getattr(obj, attr)
        self._patches.append((obj, attr, vars(obj).get(attr), own))
        setattr(obj, attr, self._wrapper(orig, name, on_result))

    def wrap_everywhere(self, fn, name: str, package: str = "bee_proof_spark") -> None:
        """Wrap ``fn`` under every module-level name in ``package`` bound to
        it, so callers that imported it by name are traced too."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(package):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self.wrap(mod, attr, name)

    def unwrap_all(self) -> None:
        for obj, attr, orig, own in reversed(self._patches):
            if own:
                setattr(obj, attr, orig)
            else:
                delattr(obj, attr)
        self._patches.clear()

    # -- derived numbers ---------------------------------------------------

    def self_times(self, ops: set[str] | None = None) -> dict[str, float]:
        """Per span name: summed self time (duration minus child spans)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if ops is None or s.op in ops:
                out[s.name] += (s.end - s.start) - child[s.id]
        return out

    def inclusive(self, name: str, ops: set[str] | None = None) -> tuple[float, int]:
        """(summed duration, call count) of spans named ``name``."""
        spans = [s for s in self.spans if s.name == name and (ops is None or s.op in ops)]
        return sum(s.end - s.start for s in spans), len(spans)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(vars(s)) + "\n")


#: Stage fields summed per op, from the status store's StageData.
_STAGE_FIELDS = {
    "input_bytes": "inputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_records": "shuffleWriteRecords",
    "output_bytes": "outputBytes",
    "task_run_ms": "executorRunTime",
    "task_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
}


class SparkCounters:
    """Reads the jobs and stages each op ran from Spark's status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.tracker = self.sc.statusTracker()
        self.seen_jobs: set[int] = set(self.tracker.getJobIdsForGroup(None))

    def skip(self) -> None:
        """Mark every job so far as read, without reading it: the status
        store keeps only the latest stages, so old ones may be gone."""
        self.jsc.listenerBus().waitUntilEmpty()
        self.seen_jobs.update(self.tracker.getJobIdsForGroup(None))

    def since_last(self) -> Counter:
        """Counters of the jobs that ran since the previous call."""
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        jobs = [j for j in self.tracker.getJobIdsForGroup(None) if j not in self.seen_jobs]
        self.seen_jobs.update(jobs)
        out: Counter = Counter(jobs=len(jobs))
        stage_ids = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if str(st.status()) not in ("COMPLETE", "FAILED"):
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            for key, getter in _STAGE_FIELDS.items():
                out[key] += getattr(st, getter)()
        return out

    def staged_mb(self) -> float:
        """Block-manager MB held by persisted (checkpointed/staged) RDDs."""
        infos = self.jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


class StreamProgress:
    """Sums micro-batch progress of every streaming query in the session."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.totals: Counter = Counter()
        owner = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs or {}
                owner.totals["batches"] += 1
                owner.totals["add_batch_ms"] += d.get("addBatch", 0)
                owner.totals["commit_ms"] += d.get("commitOffsets", 0) + d.get("walCommit", 0)
                owner.totals["state_rows"] += sum(s.numRowsTotal for s in p.stateOperators)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        self.spark = spark
        spark.streams.addListener(self.listener)

    def snapshot(self) -> Counter:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return Counter(self.totals)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)
