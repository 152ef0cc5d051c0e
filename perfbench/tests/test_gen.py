"""Generator determinism: the same seed gives byte-identical inputs, a
different seed gives different inputs of the same shape."""

from __future__ import annotations

import datetime as dt
import os
from pathlib import Path

from perfbench import gen

HOUR = dt.datetime(2024, 2, 29, 20, tzinfo=dt.timezone.utc)


def _files(d: str) -> dict[str, bytes]:
    return {n: Path(d, n).read_bytes() for n in sorted(os.listdir(d))}


def test_fixture_same_seed_byte_identical(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    rows_a = gen.write_fixture(a, seed=7, sf=0.001)
    rows_b = gen.write_fixture(b, seed=7, sf=0.001)
    assert rows_a == rows_b
    assert _files(a) == _files(b)


def test_fixture_events_ts_is_nanos(tmp_path):
    """events.ts is TIMESTAMP(NANOS), so the program's nanos-to-micros
    conversion in io.tables.load_table runs as it does on that fixture."""
    import pyarrow.parquet as pq

    gen.write_fixture(str(tmp_path), seed=7, sf=0.001)
    col = pq.ParquetFile(tmp_path / "events.parquet").schema.column(1)
    assert col.name == "ts" and col.physical_type == "INT64"
    assert "timeUnit=nanoseconds" in str(col.logical_type)


def test_fixture_other_seed_differs_same_shape(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    gen.write_fixture(a, seed=7, sf=0.001)
    gen.write_fixture(b, seed=8, sf=0.001)
    fa, fb = _files(a), _files(b)
    assert fa.keys() == fb.keys() == {f"{t}.parquet" for t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")}
    for t in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        assert fa[f"{t}.parquet"] != fb[f"{t}.parquet"], t


def test_gha_hour_deterministic_per_seed():
    data1, truth1 = gen.gha_hour(3, HOUR, 500)
    data2, truth2 = gen.gha_hour(3, HOUR, 500)
    data3, truth3 = gen.gha_hour(4, HOUR, 500)
    assert data1 == data2 and truth1 == truth2
    assert data1 != data3
    assert set(truth3.rows) == set(truth1.rows)  # same tables, other rows


def test_gha_hour_variety():
    import gzip
    import json

    data, truth = gen.gha_hour(5, HOUR, 4000)
    lines = gzip.decompress(data).decode().splitlines()
    assert len(lines) == truth.lines == 4000
    parsed, bad = [], 0
    for line in lines:
        try:
            parsed.append(json.loads(line))
        except json.JSONDecodeError:
            bad += 1
    assert bad == truth.corrupt > 0
    types = {e["type"] for e in parsed}
    assert {"PushEvent", "CreateEvent", "PullRequestEvent", "IssueCommentEvent",
            "WatchEvent", "ForkEvent"} <= types
    assert types - set(gen._GHA_TABLE_OF)  # dropped types are present too
    n_commits = {len(e["payload"]["commits"]) for e in parsed if e["type"] == "PushEvent"}
    assert {0, 1} <= n_commits and max(n_commits) > 1
    assert any("bot" in e["actor"]["login"] for e in parsed)
    assert truth.commit_hits and truth.comment_hits
    assert all(HOUR.strftime("%Y-%m-%dT%H:") in e["created_at"] for e in parsed)
    # realistic compression: text is not a handful of repeated events
    assert len(data) > truth.raw_bytes / 8


def test_query_order_seeded_and_balanced():
    kinds = list("abcdefg")
    a = gen.query_order(1, kinds, 70)
    assert a == gen.query_order(1, kinds, 70)
    assert a != gen.query_order(2, kinds, 70)
    for i in range(0, 70, len(kinds)):
        assert sorted(a[i:i + len(kinds)]) == kinds


def test_expected_keyword_rows_filters():
    t = gen.HourTruth(hour=HOUR)
    t.watches.update({"org/a": 6, "org/b": 5, "dask/x": 9})
    t.commit_hits += [("u1", "org/a", "m dask"), ("ci-bot-1", "org/a", "m dask"),
                      ("u2", "org/b", "m dask"), ("u3", "dask/x", "m dask")]
    rows = gen.expected_keyword_rows([t], bot_filter=True)
    assert rows == {("u1", "org/a", "m dask", 6): 1}
