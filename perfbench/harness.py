"""Process, session and per-op plumbing shared by the workloads."""

from __future__ import annotations

import os
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

from .metrics import OpLog
from .tracing import EngineCounters, Tracer, vm_hwm_kb


def cores() -> int:
    return len(os.sched_getaffinity(0))


def bench_env(root: str, work: str) -> dict[str, str]:
    """Environment of the run: the engine sized to this machine, every
    scratch file of Spark, the JVM and Python inside ``work`` (the
    checkout), UTC everywhere."""
    jtmp = os.path.join(work, "jtmp")
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (jtmp, local, tmp):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update({
        # session.py defaults to local[32]; size it to the cores we have
        "SPARK_GRAFT_CPUS": str(cores()),
        # a 2g heap instead of session.py's 8g: the sf0.1 working set fits
        # easily, and the peak RSS then tracks the program's memory rather
        # than how far G1 chose to grow an 8g heap in a given run
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "TZ": "UTC",
        # every JVM, the launcher's too: temp files under work, and no
        # /tmp/hsperfdata_<user> performance-data files
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={jtmp}",
        "PYTHONPATH": os.pathsep.join(
            [root] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
        ),
    })
    return env


def start_session(app: str = "perfbench"):
    """Import the program, build its session and run a trivial action.
    Returns (spark, {"setup_s", "get_spark_s"}). Must be the process's
    first import of pyspark, so the set-up time is complete."""
    t0 = time.perf_counter()
    from etl_github_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(app)
    t2 = time.perf_counter()
    spark.range(8).count()
    t3 = time.perf_counter()
    return spark, {"setup_s": t3 - t0, "get_spark_s": t2 - t1}


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


@dataclass
class Context:
    spark: object
    seed: int
    work: str
    tracer: Tracer
    cores: int
    engine: EngineCounters | None = None
    samples: dict[str, list[float]] = field(default_factory=dict)
    checks: list[str] = field(default_factory=list)  # failed check descriptions

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def sample(self, name: str, value: float) -> None:
        """A per-layer sample (reported as the median over the run)."""
        self.samples.setdefault(name, []).append(float(value))

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.checks.append(what)
            sys.stderr.write(f"CHECK FAILED: {what}\n")
        return ok

    def guarded(self, what: str, fn) -> bool:
        """Run untimed work (warm-up, output checks); an exception there is
        a failed check with its traceback on stderr, not a crash, so the
        run still reports its result. True when ``fn`` returned."""
        try:
            fn()
            return True
        except Exception as exc:  # boundary: the run must report, not die
            traceback.print_exc(file=sys.stderr)
            return self.check(False, f"{what}: {type(exc).__name__}: {exc}")

    def timed(self, log: OpLog, kind: str, fn, items: float = 1.0):
        """Run one op of ``items`` items, timed. An exception fails the op —
        it is counted, never dropped. In the traced run the op is a root
        span and Spark's counters are diffed around it (outside the timed
        interval)."""
        before = self.engine.job_ids() if self.engine else None
        t0 = time.perf_counter()
        err = None
        try:
            with self.tracer.span(f"op.{kind}", "bench", root=True):
                fn()
        except Exception as exc:  # a failing op is a result, not a crash
            err = f"{type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
        lat = time.perf_counter() - t0
        op = log.add(kind, lat, err is None, items, err)
        if before is not None:
            d = self.engine.diff(before, self.engine.job_ids())
            self.sample("engine.jobs", d["jobs"])
            self.sample("engine.tasks", d["tasks"])
            self.sample("engine.task_busy_ratio", d["task_ms"] / 1000.0 / (lat * self.cores))
            self.sample("engine.shuffle_write_bytes", d["shuffle_write_bytes"])
            self.sample("engine.shuffle_read_bytes", d["shuffle_read_bytes"])
            self.sample("engine.input_bytes", d["input_bytes"])
            self.sample("engine.gc_s", d["gc_ms"] / 1000.0)
        return op


def reset_peak_rss(spark) -> None:
    """Start the peak-RSS window at the timed ops: reset VmHWM of both
    processes to their current RSS (``/proc/<pid>/clear_refs``), so the
    input generators' transient peak in this process does not count. No
    GC is forced: the heap re-growing after one slowed the next op by
    about a third."""
    for pid in (os.getpid(), jvm_pid(spark)):
        if pid is not None:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")


def peak_rss_mb(spark) -> float:
    """VmHWM of the JVM plus this Python process, in MB."""
    kb = vm_hwm_kb(os.getpid())
    pid = jvm_pid(spark)
    if pid is not None:
        kb += vm_hwm_kb(pid)
    return kb / 1024.0
