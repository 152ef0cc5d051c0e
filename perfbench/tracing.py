"""Outside-in tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files only: around the calls
the benchmark makes into each layer, and — for public functions another
layer calls — by temporarily replacing the module attribute the callers
resolve (for example ``queries._util.load_table``). Nothing in the program
is edited; :meth:`Tracer.unwrap_all` restores every attribute.

Counters are read from outside too: Spark's status tracker (job ids) and
status store (stage metrics), directory walks and ``/proc/<pid>/status``.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run_id: str
    thread: str


class Tracer:
    """In-memory span recorder. With ``enabled=False`` every method is a
    cheap no-op, so untraced runs share the same code path."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        # stack of the thread running the open op span: its top is the
        # parent of spans opened in the program's own pool threads
        self._root_stack: list[int] | None = None
        self._next = 0
        self._undo: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str, root: bool = False):
        if not self.enabled:
            yield
            return
        b0 = time.perf_counter()
        st = self._stack()
        rs = self._root_stack
        parent = st[-1] if st else (rs[-1] if rs else None)
        with self._lock:
            sid = self._next
            self._next += 1
        st.append(sid)
        if root:
            self._root_stack = st
        b1 = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            st.pop()
            if root:
                self._root_stack = None
            sp = Span(sid, name, layer, b1, end, parent, self.run_id,
                      threading.current_thread().name)
            with self._lock:
                self.spans.append(sp)
                self.bookkeeping_s += (b1 - b0) + (time.perf_counter() - end)

    def wrap(self, fn, name: str, layer: str) -> None:
        """Replace ``fn`` by a spanned wrapper in every loaded program module
        that holds it as an attribute (the name its callers resolve)."""
        if not self.enabled:
            return

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("etl_github_spark"):
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        setattr(mod, attr, traced)
                        self._undo.append((mod, attr, fn))

    def unwrap_all(self) -> None:
        for mod, attr, fn in reversed(self._undo):
            setattr(mod, attr, fn)
        self._undo.clear()

    def self_times(self) -> dict[str, float]:
        """Wall seconds per layer during which some span of that layer was
        open and none of its own child spans was: each span's interval minus
        its children's, then merged across the layer's spans, so spans run
        in parallel threads (e.g. six concurrent table writes) count once."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        own: dict[str, list[tuple[float, float]]] = {}
        for sp in self.spans:
            cur = sp.start
            for s, e in _merge([(c.start, c.end) for c in kids.get(sp.id, [])]):
                s, e = max(s, sp.start), min(e, sp.end)
                if s > cur:
                    own.setdefault(sp.layer, []).append((cur, s))
                cur = max(cur, e)
            if sp.end > cur:
                own.setdefault(sp.layer, []).append((cur, sp.end))
        return {layer: sum(e - s for s, e in _merge(iv)) for layer, iv in own.items()}

    def durations(self, name: str) -> list[float]:
        return [sp.end - sp.start for sp in self.spans if sp.name == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


def _merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Union of intervals, as sorted disjoint intervals."""
    out: list[tuple[float, float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


#: stage metrics summed per op, by output name
_STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "task_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
}


class EngineCounters:
    """Spark runtime counters of one op, read from Spark's status store:
    the op's jobs are the job ids (without a job group — the benchmark sets
    none, so jobs from the program's own pool threads count) that appeared
    while it ran, and its task metrics are the sums over those jobs'
    stages. Each stage is counted once per run, so a stage a later job
    lists as skipped is not counted again."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        jvm = sc._jvm
        self._no_status = jvm.java.util.Collections.emptyList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._counted: set[tuple[int, int]] = set()

    def job_ids(self) -> set[int]:
        # task-end events reach the status store asynchronously
        self._bus.waitUntilEmpty(10_000)
        return set(self._tracker.getJobIdsForGroup(None))

    def diff(self, before: set[int], after: set[int]) -> dict[str, int]:
        out = dict.fromkeys(_STAGE_FIELDS, 0)
        out["jobs"] = len(after - before)
        for job in after - before:
            ids = self._store.job(job).stageIds()
            for i in range(ids.size()):
                attempts = self._store.stageData(
                    ids.apply(i), False, self._no_status, False, self._no_quantiles
                )
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    key = (st.stageId(), st.attemptId())
                    if key in self._counted:
                        continue
                    self._counted.add(key)
                    for k, getter in _STAGE_FIELDS.items():
                        out[k] += int(getattr(st, getter)())
        return out


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``; (0, 0) when it does not exist."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
            except FileNotFoundError:  # removed mid-walk
                pass
    return files, size


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of ``pid`` in kB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0
