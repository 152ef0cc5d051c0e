"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Prints, as the last line of stdout, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics, as
``BENCHMARK.json`` lists them (see ``perfbench/README.md``). A readable copy of the
metrics goes to stderr. Exits non-zero without a result when the program
(``etl_github_spark``) is not importable from the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.harness import (  # noqa: E402
    Context,
    bench_env,
    cores,
    peak_rss_mb,
    reset_peak_rss,
    start_session,
    stop_session,
)
from perfbench.metrics import median  # noqa: E402
from perfbench.tracing import EngineCounters, Tracer  # noqa: E402


def load_spec(root: str = ROOT) -> dict:
    """``BENCHMARK.json``: the workloads, metrics, units and run length."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


SPEC = load_spec()


def _workload(name: str):
    if name == "analytics_interactive":
        from perfbench.analytics import Analytics

        return Analytics
    if name == "gha_hourly_ingest":
        from perfbench.gha_ingest import GhaIngest

        return GhaIngest
    raise ValueError(name)


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in SPEC["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def end_to_end(setup: dict, summary: dict, rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": setup["setup_s"],
        "latency_p50_s": summary["latency_p50_s"],
        "latency_tail_s": summary["latency_tail_s"],
        "throughput_per_s": summary["throughput_per_s"],
        "peak_rss_mb": rss_mb,
    }


def per_layer(ctx: Context, setup: dict, summary: dict, n_ops: int) -> dict[str, float]:
    """Every per-layer metric: the run's median of each sample series (0
    for a layer this workload never reaches), self time per timed op,
    the traced latency and the tracer's own cost per op."""
    ctx.sample("session.get_spark_s", setup["get_spark_s"])
    names = [m["name"] for m in SPEC["per_layer"]]
    out = {name: median(ctx.samples.get(name, [])) for name in names}
    self_t = ctx.tracer.self_times()
    for name in names:
        if name.endswith(".self_s"):
            out[name] = self_t.get(name[: -len(".self_s")], 0.0) / n_ops
    out["trace.latency_p50_s"] = summary["latency_p50_s"]
    out["trace.bookkeeping_s"] = ctx.tracer.bookkeeping_s / n_ops
    out["run.samples"] = summary["samples"]
    out["run.tail_beyond"] = summary["tail_beyond"]
    return out


def _phase(name: str, t0: float) -> float:
    t = time.perf_counter()
    sys.stderr.write(f"perfbench: {name} {t - t0:.1f}s\n")
    return t


def run(args, work: str, run_id: str) -> dict:
    t = time.perf_counter()
    os.environ.update(bench_env(ROOT, work))
    time.tzset()
    os.chdir(work)  # stray relative-path output (e.g. spark-warehouse) stays here
    spark, setup = start_session()
    t = _phase("set-up", t)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        # the tracer records only the timed ops: it is switched on after warm-up
        ctx = Context(spark, args.seed, work, Tracer(run_id, enabled=False), cores())
        wl = _workload(args.workload)(ctx)
        wl.prepare()
        t = _phase("inputs", t)
        ctx.guarded("warm-up", wl.warm_up)
        t = _phase("warm-up", t)
        reset_peak_rss(spark)
        if args.trace:
            ctx.tracer.enabled = True
            ctx.engine = EngineCounters(spark)
            for fn, name, layer in wl.trace_targets():
                ctx.tracer.wrap(fn, name, layer)
        try:
            log = wl.measure(args.seconds)
        finally:
            ctx.tracer.unwrap_all()
        rss_mb = peak_rss_mb(spark)  # before the checks, which are not timed ops
        t = _phase("measure", t)
        ctx.guarded("output check", lambda: wl.verify(log))
        t = _phase("verify", t)
        summary = log.summary()
        if ctx.traced:
            wl.layer_samples()
            metrics = per_layer(ctx, setup, summary, log.attempted)
            units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
            ctx.tracer.dump(os.path.join(ROOT, ".perfbench", "traces", run_id + ".jsonl"))
        else:
            metrics = end_to_end(setup, summary, rss_mb)
            units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        for op in log.ops:
            if not op.ok:
                sys.stderr.write(f"FAILED OP {op.kind}: {op.error}\n")
        return {
            "correct": not ctx.checks and log.failed == 0,
            "attempted": log.attempted,
            "failed": log.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        stop_session(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl_github_spark", "__init__.py")):
        sys.stderr.write(f"perfbench: no etl_github_spark package under {ROOT}\n")
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work, run_id)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    for name, m in result["metrics"].items():
        sys.stderr.write(f"{name:40s} {m['value']:.6g} {m['unit']}\n")
    sys.stderr.write(f"correct={result['correct']} attempted={result['attempted']} "
                     f"failed={result['failed']}\n")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
