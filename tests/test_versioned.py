"""Versioned tables on the Delta log: time travel, atomic concurrent
commits, crash invisibility, vacuum."""

from __future__ import annotations

import os

import pytest

from etl_github_spark.io.delta_log import (
    checkpoint_delta,
    cleanup_log,
    history,
    read_delta,
    snapshot_files,
    vacuum_delta,
    write_delta,
)


def _df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "x long").coalesce(1)


def _vals(spark, path, version=None):
    return sorted(r.x for r in read_delta(spark, path, version).collect())


def test_append_overwrite_and_time_travel(spark, tmp_path):
    p = str(tmp_path / "t")
    assert write_delta(_df(spark, [1, 2]), p) == 0
    assert write_delta(_df(spark, [3]), p) == 1
    assert write_delta(_df(spark, [9]), p, mode="overwrite") == 2

    assert _vals(spark, p) == [9]               # head
    assert _vals(spark, p, 0) == [1, 2]         # time travel
    assert _vals(spark, p, 1) == [1, 2, 3]
    assert len(history(p)) == 3


def test_crashed_writer_is_invisible_and_vacuumed(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(_df(spark, [1]), p)
    # a writer that died after staging its data but before the log
    # commit: stage dir exists, no version file references it
    _df(spark, [999]).write.parquet(f"{p}/.stage-deadbeef")

    assert _vals(spark, p) == [1]  # invisible to readers
    removed = vacuum_delta(p, retention_seconds=0)
    assert removed == [".stage-deadbeef"]
    assert not os.path.exists(f"{p}/.stage-deadbeef")
    assert _vals(spark, p) == [1]


def test_vacuum_drops_history_but_keeps_retained(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(_df(spark, [1]), p)
    write_delta(_df(spark, [2]), p)
    overwritten = set(snapshot_files(p))
    write_delta(_df(spark, [7]), p, mode="overwrite")

    # history still referenced by the log is kept for time travel
    assert vacuum_delta(p, retention_seconds=0) == []
    assert _vals(spark, p, 1) == [1, 2]

    # once the log prefix is checkpointed away, the overwritten
    # history's data files are gone and the head still reads
    checkpoint_delta(p)
    cleanup_log(p)
    removed = vacuum_delta(p, retention_seconds=0)
    assert len(removed) == 2
    assert set(removed) == overwritten
    assert _vals(spark, p) == [7]
    with pytest.raises(Exception):
        read_delta(spark, p, 0)


def test_concurrent_appends_both_land(spark, tmp_path):
    """Appenders racing for the same version must ALL commit (a loser
    retries against the winner's head) — no lost update."""
    import threading

    p = str(tmp_path / "t")
    write_delta(_df(spark, [0]), p)

    errs = []
    versions = []

    def appender(v):
        try:
            versions.append(write_delta(_df(spark, [v]), p, retries=8))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=appender, args=(v,)) for v in (1, 2, 3, 4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert sorted(versions) == [1, 2, 3, 4]
    assert len(history(p)) == 5
    assert _vals(spark, p) == [0, 1, 2, 3, 4]


def test_readers_see_consistent_snapshot_during_commit(spark, tmp_path):
    """A reader that resolved version N keeps reading N's files even
    after an overwrite commits N+1 (no torn read), until vacuum."""
    p = str(tmp_path / "t")
    write_delta(_df(spark, [1, 2]), p)
    snapshot = read_delta(spark, p)  # resolves v0's file list now
    write_delta(_df(spark, [9]), p, mode="overwrite")
    assert sorted(r.x for r in snapshot.collect()) == [1, 2]
    assert _vals(spark, p) == [9]
