"""``gha_hourly_ingest``: the reference's own hourly flow, one hour at a
time in a closed loop.

Each hour lands as one GH-Archive-shaped ``.json.gz`` file (seeded, sized
along a daily curve) and is timed from landing until the refreshed
analytics tables include it: ``gha.incremental.parse_start_stop`` →
``gha.pipeline.ingest_files`` into the parquet lake → (every
:data:`COMPACT_EVERY`-th hour ``io.sink.compact_table`` + ``vacuum_table``
on all six tables) → ``gha.queries.run_analytics``. The real source lands
one file per hour, far slower than any hour costs here, so no backlog can
form: the question is per-hour latency (freshness) and events per second.

Write-heavy with read-after-write: it loads ``gha`` and the ``io.sink``
write path that ``analytics_interactive`` never touches; compaction hours
are the freshness stalls.
"""

from __future__ import annotations

import datetime as dt
import os
from collections import Counter

from . import gen
from .metrics import OpLog
from .tracing import dir_stats

#: hour of the first landing; the first cycle of hours is the warm-up
START = dt.datetime(2024, 2, 29, 17, tzinfo=dt.timezone.utc)
#: events in an average hour (the daily curve's mean): about 1.7 MB gzip,
#: 1/60 to 1/120 of a real GH Archive hour (100-200 MB gzip, BASELINE.md),
#: scaled down so a run fits its time budget (README, "gha_hourly_ingest")
BASE_EVENTS = 12_000
COMPACT_EVERY = 4  # hours per cycle; the last hour of each cycle compacts
WARM_SHRINK = 4  # warm-up hours have 1/WARM_SHRINK of their events
MAX_HOURS = 24


def _compacts(i: int) -> bool:
    return (i + 1) % COMPACT_EVERY == 0


class GhaIngest:
    name = "gha_hourly_ingest"

    def __init__(self, ctx):
        self.ctx = ctx
        w = ctx.work
        self.staging, self.landing = f"{w}/gha-staging", f"{w}/gha-landing"
        self.lake, self.out = f"{w}/gha-lake", f"{w}/gha-out"
        self.truths: list[gen.HourTruth] = []
        self.paths: list[str] = []
        self.wrong_hours: set[int] = set()

    def prepare(self) -> None:
        os.makedirs(self.staging, exist_ok=True)
        os.makedirs(self.landing, exist_ok=True)
        self.sizes = [
            n // WARM_SHRINK if i < COMPACT_EVERY else n
            for i, n in enumerate(gen.hour_sizes(START, MAX_HOURS, BASE_EVENTS))
        ]
        self._next = self._stage(0)

    def _stage(self, i: int) -> tuple[str, gen.HourTruth]:
        """Generate hour ``i`` into staging (untimed)."""
        hour = START + dt.timedelta(hours=i)
        data, truth = gen.gha_hour(self.ctx.seed, hour, self.sizes[i])
        name = f"{hour:%Y-%m-%d}-{hour.hour}.json.gz"  # GH Archive naming
        path = os.path.join(self.staging, name)
        with open(path, "wb") as fh:
            fh.write(data)
        return path, truth

    def _hour(self, i: int, staged: str, truth: gen.HourTruth, compact: bool) -> None:
        """Land hour ``i`` and run the hourly flow."""
        from etl_github_spark.gha.incremental import parse_start_stop
        from etl_github_spark.gha.pipeline import ingest_files
        from etl_github_spark.gha.queries import run_analytics
        from etl_github_spark.io.sink import compact_table, vacuum_table

        spark, tr = self.ctx.spark, self.ctx.tracer
        path = os.path.join(self.landing, os.path.basename(staged))
        os.replace(staged, path)  # the hour lands
        self.paths.append(path)
        self.truths.append(truth)
        with tr.span("gha.incremental.parse_start_stop", "gha"):
            start, _stop = parse_start_stop(
                spark, f"{self.lake}/comment", now=truth.hour + dt.timedelta(hours=2)
            )
        if i > 0 and start != truth.hour:
            self.wrong_hours.add(i)
            self.ctx.check(False, f"hour {i}: parse_start_stop resumed at {start}, "
                                  f"expected {truth.hour}")
        with tr.span("gha.pipeline.ingest_files", "gha"):
            ingest_files(spark, [path], self.lake)
        if compact:
            if self.ctx.traced:
                self.ctx.sample("io.sink.compact_bytes_rewritten", dir_stats(self.lake)[1])
            for t in gen.GHA_TABLES:
                with tr.span("io.sink.compact_table", "io.sink"):
                    compact_table(spark, f"{self.lake}/{t}")
                with tr.span("io.sink.vacuum_table", "io.sink"):
                    vacuum_table(f"{self.lake}/{t}")
        with tr.span("gha.queries.run_analytics", "gha"):
            run_analytics(spark, self.lake, self.out)

    def warm_up(self) -> None:
        """Untimed: the first cycle of hours, compaction included. A whole
        cycle, not one hour: the JIT keeps speeding hours up for about
        that long. Its hours are smaller: what they warm (class loading,
        codegen, JIT) costs about the same per hour at any size."""
        for i in range(COMPACT_EVERY):
            staged, truth = self._next
            self._hour(i, staged, truth, compact=_compacts(i))
            self._next = self._stage(i + 1)

    def measure(self, seconds: float) -> OpLog:
        """Hours in whole cycles until ``seconds`` of op time have been
        spent, so every run has the same share of compaction hours."""
        log = OpLog()
        spent = 0.0
        i = COMPACT_EVERY
        while i < len(self.sizes):
            staged, truth = self._next
            compact = _compacts(i)
            before = dir_stats(self.lake) if self.ctx.traced else None
            op = self.ctx.timed(
                log, f"hour{'+compact' if compact else ''}",
                lambda: self._hour(i, staged, truth, compact), items=truth.events,
            )
            op.tag = i
            spent += op.latency_s
            if before is not None and not compact:
                files, size = dir_stats(self.lake)
                self.ctx.sample("io.sink.files_written", files - before[0])
                self.ctx.sample("io.sink.bytes_written", size - before[1])
            self.ctx.sample("gha.events_in", truth.events)
            self.ctx.sample("gha.corrupt_lines", truth.corrupt)
            i += 1
            if compact and spent >= seconds:
                break
            if i < len(self.sizes):
                self._next = self._stage(i)  # untimed: between landings
        return log

    def verify(self, log: OpLog) -> None:
        """Untimed: the lake against the generator's ground truth, per hour
        and table; corrupt lines over all files; the keyword tables against
        the rows the reference's queries must return."""
        from pyspark.sql import functions as F

        from etl_github_spark.gha.extract import count_corrupt
        from etl_github_spark.io.sink import read_table

        spark = self.ctx.spark
        by_hour = {t.hour.replace(tzinfo=None): i for i, t in enumerate(self.truths)}
        got: dict[int, Counter] = {i: Counter() for i in by_hour.values()}
        for table in gen.GHA_TABLES:
            rows = (
                read_table(spark, f"{self.lake}/{table}")
                .groupBy(F.date_trunc("hour", "created_at").alias("h"))
                .count()
                .collect()
            )
            for r in rows:
                i = by_hour.get(r["h"])
                if i is None:
                    self.ctx.check(False, f"{table}: rows for unknown hour {r['h']}")
                    continue
                got[i][table] = r["count"]
        for i, t in enumerate(self.truths):
            want = Counter({k: v for k, v in t.rows.items() if v})
            if not self.ctx.check(got[i] == want, f"hour {i}: lake rows {dict(got[i])} "
                                                  f"!= generated {dict(want)}"):
                self.wrong_hours.add(i)
        # one job over all files; a wrong total fails every hour
        n_bad = count_corrupt(spark.read.text(self.paths))
        want_bad = sum(t.corrupt for t in self.truths)
        if not self.ctx.check(n_bad == want_bad, f"{n_bad} corrupt lines counted, "
                                                 f"{want_bad} generated"):
            self.wrong_hours.update(range(len(self.truths)))
        for sub, bot in (("commits", True), ("comments", False)):
            rows = read_table(spark, f"{self.out}/dask/{sub}", fmt=None).collect()
            have = Counter(tuple(r) for r in rows)
            want = gen.expected_keyword_rows(self.truths, bot_filter=bot)
            if not self.ctx.check(have == want, f"dask/{sub}: {sum(have.values())} rows, "
                                                f"expected {sum(want.values())}"):
                self.wrong_hours.add(len(self.truths) - 1)  # the last refresh was wrong
        log.fail(lambda op: op.tag in self.wrong_hours)

    def layer_samples(self) -> None:
        tr, ctx = self.ctx.tracer, self.ctx
        for name in ("gha.pipeline.ingest_files", "gha.incremental.parse_start_stop",
                     "gha.queries.run_analytics", "io.sink.compact_table",
                     "io.sink.vacuum_table", "io.sink.write_table"):
            for v in tr.durations(name):
                ctx.sample(name + "_s", v)
        raw = sum(t.raw_bytes for t in self.truths)
        ctx.sample("io.sink.bytes_per_input_byte", dir_stats(self.lake)[1] / raw)

    def trace_targets(self):
        from etl_github_spark.io import sink

        return [
            (sink.write_table, "io.sink.write_table", "io.sink"),
            (sink.read_table, "io.sink.read_table", "io.sink"),
        ]
