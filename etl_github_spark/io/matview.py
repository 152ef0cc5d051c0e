"""Incrementally-maintained aggregate views over partitioned tables.

A dashboard aggregate (counts/sums per key) over an append-only
partitioned table shouldn't re-scan history on every refresh: counts
and sums are MERGEABLE, so `refresh_view` aggregates only partitions
appended since the last refresh and folds the partials into the stored
view — refresh cost is O(|delta| + |view|), independent of table size.
That is the at-scale contract: an hourly refresh over a 100 TB table
touches one hour of data plus a keys-sized view.

Consumed partitions are tracked in a ``_view_meta.json`` sidecar
beside the view (underscore prefix: invisible to Spark scans). The view swap
is two-phase rename (write aside, swap, reap) — a crashed refresh
leaves the previous view intact. Append-only contract: rewritten or
deleted history is NOT detected (the same assumption the high-water
incremental ingest makes); run `refresh_view(..., full=True)` after a
compaction that rewrites partition contents under new names.

Only distributive aggregates (count, sum — and min/max if never
deleted) merge this way; avg derives as sum/count at read time.
Algebraic sketches (HLL) merge too but need sketch state, not shown
here.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_META = "_view_meta.json"


def _partitions(table_path: str) -> list[str]:
    """First-level partition directory names (e.g. ``date=2024-02-29``)."""
    return sorted(
        e
        for e in os.listdir(table_path)
        if "=" in e and os.path.isdir(os.path.join(table_path, e))
    )


def refresh_view(
    spark: SparkSession,
    table_path: str,
    view_path: str,
    group_by: list[str],
    sum_cols: list[str] | None = None,
    full: bool = False,
) -> dict:
    """Merge-refresh the (group_by, cnt, sum_<c>...) view of
    ``table_path``. Returns ``{"scanned": [new partitions], "total":
    n_consumed}``. ``full=True`` rebuilds from scratch (first call on
    an existing table, or after history was rewritten)."""
    sum_cols = sum_cols or []
    meta_path = os.path.join(view_path, _META)
    consumed: list[str] = []
    if not full and os.path.exists(meta_path):
        with open(meta_path) as fh:
            consumed = json.load(fh)["consumed"]
    current = _partitions(table_path)
    delta = [p for p in current if p not in set(consumed)]
    if not delta and consumed:
        return {"scanned": [], "total": len(consumed)}

    aggs = [F.count("*").alias("cnt")] + [
        F.sum(c).alias(f"sum_{c}") for c in sum_cols
    ]
    if delta:
        new = (
            spark.read.option("basePath", table_path)
            .parquet(*[os.path.join(table_path, p) for p in delta])
            .groupBy(*group_by)
            .agg(*aggs)
        )
    else:  # empty table: an empty view with the right schema
        new = (
            spark.read.parquet(table_path).limit(0).groupBy(*group_by).agg(*aggs)
        )

    have_view = (not full) and consumed and os.path.isdir(view_path)
    if have_view:
        old = spark.read.parquet(view_path)
        merge_aggs = [F.sum("cnt").alias("cnt")] + [
            F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols
        ]
        merged = old.unionByName(new).groupBy(*group_by).agg(*merge_aggs)
    else:
        merged = new

    # two-phase swap: never leave a half-written view under the live name
    staging = view_path.rstrip("/") + "__refreshing"
    shutil.rmtree(staging, ignore_errors=True)
    merged.write.mode("overwrite").parquet(staging)
    old_aside = view_path.rstrip("/") + "__old"
    shutil.rmtree(old_aside, ignore_errors=True)
    if os.path.isdir(view_path):
        os.replace(view_path, old_aside)
    os.replace(staging, view_path)
    shutil.rmtree(old_aside, ignore_errors=True)

    all_consumed = sorted(set(consumed) | set(delta)) if not full else current
    with open(meta_path, "w") as fh:
        json.dump({"consumed": all_consumed}, fh, indent=1)
    return {"scanned": delta, "total": len(all_consumed)}


def read_view(spark: SparkSession, view_path: str) -> DataFrame:
    return spark.read.parquet(view_path)


def refresh_view_delta(
    spark: SparkSession,
    table: str,
    view_path: str,
    group_by: list[str],
    sum_cols: list[str] | None = None,
    full: bool = False,
) -> dict:
    """Merge-refresh the view from a DELTA table's change feed instead
    of partition listing: the consumed high-water mark is a log
    VERSION, and the delta read is `delta_log.delta_changes` — so a
    refresh touches exactly the rows appended since the last one,
    OPTIMIZE rewrites are skipped by the feed's ``dataChange`` rule
    (the partition-listing variant would double-count a compacted
    partition's rows under new file names), and a history REWRITE
    (overwrite/delete in the range) makes the refresh RAISE instead of
    silently drifting — strictly stronger than the hive variant's
    documented "not detected" caveat. ``full=True`` rebuilds from the
    current snapshot and resets the mark.

    Refresh cost: O(new rows + |view|), independent of table size and
    of compaction history. Returns ``{"from": v, "to": v', "scanned_rows":
    n}``."""
    from .delta_log import _latest_version, delta_changes, read_delta

    sum_cols = sum_cols or []
    meta_path = os.path.join(view_path, _META)
    last = -1
    if not full and os.path.exists(meta_path):
        with open(meta_path) as fh:
            last = json.load(fh)["delta_version"]
    latest = _latest_version(table)
    aggs = [F.count("*").alias("cnt")] + [
        F.sum(c).alias(f"sum_{c}") for c in sum_cols
    ]
    if last >= latest and not full:
        return {"from": last, "to": latest, "scanned_rows": 0}
    if full or last < 0:
        src = read_delta(spark, table)
        have_view = False
    else:
        src = delta_changes(spark, table, from_version=last).drop(
            "_commit_version"
        )
        have_view = os.path.isdir(view_path)
    scanned = src.count()
    new = src.groupBy(*group_by).agg(*aggs)
    if have_view:
        old = spark.read.parquet(view_path)
        merge_aggs = [F.sum("cnt").alias("cnt")] + [
            F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols
        ]
        merged = old.unionByName(new).groupBy(*group_by).agg(*merge_aggs)
    else:
        merged = new

    staging = view_path.rstrip("/") + "__refreshing"
    shutil.rmtree(staging, ignore_errors=True)
    merged.write.mode("overwrite").parquet(staging)
    old_aside = view_path.rstrip("/") + "__old"
    shutil.rmtree(old_aside, ignore_errors=True)
    if os.path.isdir(view_path):
        os.replace(view_path, old_aside)
    os.replace(staging, view_path)
    shutil.rmtree(old_aside, ignore_errors=True)
    with open(meta_path, "w") as fh:
        json.dump({"delta_version": latest}, fh, indent=1)
    return {"from": last, "to": latest, "scanned_rows": scanned}
