"""Seeded input generators. The same seed gives byte-identical inputs.

Nothing here imports Spark: inputs are made with NumPy/pyarrow/json/gzip
before any timing starts, and the program under test only ever sees the
files written here.

* :func:`write_fixture` — the TPC-H-ish star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables, in the shape of the sf0.1
  fixture the registered queries and their DuckDB oracles are written
  against (same columns, value ranges and literals; column types as
  FIXTURES.md gives them, with µs instead of ms dates).
* :func:`query_order` — the seeded op sequence of ``analytics_interactive``.
* :func:`gha_hour` — one GH-Archive-shaped ``.json.gz`` hour plus its
  ground truth (rows per normalized table, corrupt lines, and the rows the
  reference's two keyword queries must return).
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import math
import os
import random
import zlib
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Scale of the generated star schema: row counts of the sf0.1 fixture.
SF = 0.1

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["blue", "hot", "large", "small", "red", "green", "dark", "pale"]
_NOUNS = ["ring", "bolt", "anvil", "widget", "gear", "spring", "valve", "nut"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_WORDS = (
    "the a of spark batch part line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream merge "
    "data join vector customer index shard plan cache lake delta commit"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _EPOCH_1995).astype(int))


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Uniform 2-decimal money values in [lo, hi) cents, as exact doubles."""
    return rng.integers(lo, hi, n) / 100.0


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the fixture the queries are tuned on
    pq.write_table(table, path, row_group_size=max(1, table.num_rows), compression="snappy",
                   version="2.6", coerce_timestamps=None)


def write_fixture(out_dir: str, seed: int, sf: float = SF) -> dict[str, int]:
    """Write the ten fixture tables as ``<out_dir>/<table>.parquet``;
    returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev, n_users = int(1_500_000 * sf), int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_emb = int(50_000 * sf), int(20_000 * sf)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng(seed, 1)
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(r, -99_999, 1_000_000, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, n_cust)],
    })

    r = _rng(seed, 2)
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(r, -99_999, 1_000_000, n_supp),
    })

    r = _rng(seed, 3)
    keys = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{_COLORS[c]} {_NOUNS[n]}" for c, n in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": (90_000 + keys % 1000 * 10) / 100.0,
    })

    r = _rng(seed, 4)
    odays = r.integers(0, _ORDER_DAYS + 1, n_ord)
    odate = (_EPOCH_1995 + odays).astype("datetime64[us]")
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _cents(r, 100_000, 50_000_000, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, n_ord)],
    })

    r = _rng(seed, 5)
    lines = r.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_num = (np.arange(n_li) - starts + 1).astype(np.int32)
    ship = np.repeat(odays, lines) + r.integers(1, 122, n_li)
    tables["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_num,
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(r, 90_000, 10_500_000, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            (_EPOCH_1995 + ship).astype("datetime64[us]"), pa.timestamp("us")
        ),
    })

    r = _rng(seed, 6)
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        # TIMESTAMP(NANOS), the type FIXTURES.md gives it:
        # the program reads it as long (nanosAsLong) and narrows it in
        # io.tables.load_table, a projection the µs-typed columns skip
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("ns")),
        "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })

    r = _rng(seed, 7)
    words = np.array(_WORDS)
    texts = [" ".join(words[r.integers(0, len(words), int(k))])
             for k in r.integers(8, 101, n_docs)]
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[r.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    r = _rng(seed, 8)
    emb = (r.standard_normal((n_emb, 64)) * 0.1).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_emb).astype(np.int32),
    })

    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def query_order(seed: int, kinds: list[str], n: int) -> list[str]:
    """The first ``n`` ops of the seeded sequence: back-to-back seeded
    permutations of ``kinds``, so every kind repeats and the mix of any
    run prefix stays close to uniform whatever the seed."""
    rng = random.Random(seed)
    out: list[str] = []
    while len(out) < n:
        perm = list(kinds)
        rng.shuffle(perm)
        out.extend(perm)
    return out[:n]


# --------------------------------------------------------------------------
# GH Archive hours

#: Handled event types (the six reference handlers) with their share of
#: events, then the dropped types. The shares are an assumption, not a
#: measurement (README, "gha_hourly_ingest").
_GHA_TYPES = [
    ("PushEvent", 0.42), ("CreateEvent", 0.10), ("PullRequestEvent", 0.08),
    ("IssueCommentEvent", 0.10), ("WatchEvent", 0.14), ("ForkEvent", 0.04),
    ("DeleteEvent", 0.04), ("IssuesEvent", 0.04), ("GollumEvent", 0.02),
    ("ReleaseEvent", 0.01), ("MemberEvent", 0.01),
]
_GHA_TABLE_OF = {
    "PushEvent": "commit", "CreateEvent": "create", "PullRequestEvent": "pr",
    "IssueCommentEvent": "comment", "WatchEvent": "watch", "ForkEvent": "fork",
}
GHA_TABLES = ("commit", "create", "pr", "comment", "watch", "fork")
_KEYWORD_FORMS = [" dask", " Dask", " DASK", " dAsk"]
_DECOYS = ["pydask", "(dask)", "nodask"]  # " dask" never occurs in these
_MALFORMED_SHARE = 0.003
_N_USERS, _N_REPOS = 6000, 900


@dataclass
class HourTruth:
    """What the ingest of one hour must produce."""

    hour: dt.datetime
    lines: int = 0
    corrupt: int = 0
    raw_bytes: int = 0
    rows: Counter = field(default_factory=Counter)  # table -> rows
    watches: Counter = field(default_factory=Counter)  # repo -> WatchEvents
    commit_hits: list = field(default_factory=list)  # (username, repo, message)
    comment_hits: list = field(default_factory=list)  # (username, repo, comment)

    @property
    def events(self) -> int:
        return self.lines - self.corrupt


def _pools(seed: int) -> tuple[list[str], list[str]]:
    r = random.Random(f"gha-pools-{seed}")
    users = []
    for i in range(_N_USERS):
        if r.random() < 0.04:
            users.append(r.choice(["dependabot[bot]", "renovate-bot", "ci-bot"]) + f"-{i}")
        else:
            users.append(f"dev{i:05d}" + r.choice(["", "x", "-gh", "_o"]))
    repos = []
    for i in range(_N_REPOS):
        x = r.random()
        owner = "dask" if x < 0.03 else f"org{r.randrange(300)}" if x < 0.5 else f"u{r.randrange(9000)}"
        repos.append(f"{owner}/proj{i}")
    return users, repos


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _sentence(r: random.Random, k: int, hit_p: float) -> str:
    words = [r.choice(_WORDS) for _ in range(k)]
    if r.random() < 0.03:
        words.insert(r.randrange(len(words) + 1), r.choice(_DECOYS))
    text = " ".join(words)
    if r.random() < hit_p:
        cut = r.randrange(len(text) + 1)
        text = text[:cut] + r.choice(_KEYWORD_FORMS) + " " + text[cut:]
    return text


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def _sha(r: random.Random) -> str:
    return r.getrandbits(160).to_bytes(20, "big").hex()


_API = "https://api.github.com"


def gha_hour(seed: int, hour: dt.datetime, n_events: int) -> tuple[bytes, HourTruth]:
    """One hour of GH-Archive-shaped NDJSON, gzip-compressed (fixed gzip
    mtime, so bytes depend only on the arguments), and its ground truth."""
    users, repos = _pools(seed)
    nr = np.random.default_rng([seed, hour.year, hour.month, hour.day, hour.hour])
    r = random.Random(f"gha-{seed}-{hour.isoformat()}")
    names = [t for t, _ in _GHA_TYPES]
    p = np.array([w for _, w in _GHA_TYPES])
    types = np.array(names)[nr.choice(len(names), n_events, p=p / p.sum())]
    actors = nr.choice(_N_USERS, n_events, p=_zipf_weights(_N_USERS, 0.9))
    repo_ix = nr.choice(_N_REPOS, n_events, p=_zipf_weights(_N_REPOS, 1.1))
    secs = np.sort(nr.integers(1, 3600, n_events))
    truth = HourTruth(hour=hour)
    out = []
    for etype, a, ri, s in zip(types, actors, repo_ix, secs):
        etype = str(etype)
        login, repo = users[a], repos[ri]
        created = hour + dt.timedelta(seconds=int(s))
        if etype == "PushEvent":
            k = r.choices([0, 1, 2, 3, 4, 6], [10, 50, 15, 10, 10, 5])[0]
            commits = []
            for _ in range(k):
                sha = _sha(r)
                commits.append({
                    "sha": sha,
                    "author": {"email": f"{login}@users.noreply.github.com", "name": login},
                    "message": _sentence(r, r.randint(3, 14), 0.06),
                    "distinct": True,
                    "url": f"{_API}/repos/{repo}/commits/{sha}",
                })
            payload = {
                "repository_id": int(ri), "push_id": r.getrandbits(40), "size": k,
                "distinct_size": k, "ref": "refs/heads/main",
                "head": commits[-1]["sha"] if commits else _sha(r), "before": _sha(r),
                "commits": commits,
            }
        elif etype == "CreateEvent":
            rt = r.choice(["branch", "tag", "repository"])
            payload = {
                "ref_type": rt,
                "ref": None if rt == "repository" else f"feat-{r.getrandbits(24):x}",
                "description": _sentence(r, r.randint(2, 8), 0.0) if r.random() < 0.5 else None,
            }
        elif etype == "PullRequestEvent":
            opened = created - dt.timedelta(minutes=r.randrange(0, 5000))
            number = r.randrange(1, 40000)
            payload = {
                "action": r.choice(["opened", "closed", "reopened"]),
                "number": number,
                "pull_request": {
                    "url": f"{_API}/repos/{repo}/pulls/{number}",
                    "html_url": f"https://github.com/{repo}/pull/{number}",
                    "state": r.choice(["open", "closed"]),
                    "title": _sentence(r, r.randint(3, 9), 0.05),
                    "body": _sentence(r, r.randint(10, 60), 0.05) if r.random() < 0.8 else None,
                    "user": {"login": users[r.randrange(_N_USERS)]},
                    "created_at": _iso(opened),
                },
            }
        elif etype == "IssueCommentEvent":
            opened = created - dt.timedelta(minutes=r.randrange(0, 20000))
            number = r.randrange(1, 40000)
            payload = {
                "action": "created",
                "issue": {
                    "url": f"{_API}/repos/{repo}/issues/{number}",
                    "html_url": f"https://github.com/{repo}/issues/{number}",
                    "number": number,
                    "title": _sentence(r, r.randint(3, 9), 0.0),
                    "user": {"login": users[r.randrange(_N_USERS)]},
                    "created_at": _iso(opened),
                },
                "comment": {
                    "id": r.getrandbits(32),
                    "html_url": f"https://github.com/{repo}/issues/{number}#issuecomment",
                    "created_at": _iso(created),
                    "body": _sentence(r, r.randint(5, 45), 0.06),
                    "author_association": r.choice(["NONE", "MEMBER", "CONTRIBUTOR", "OWNER"]),
                },
            }
        elif etype == "WatchEvent":
            payload = {"action": "started"}
        else:
            payload = {}
        event = {
            "id": str(r.getrandbits(40)),
            "type": etype,
            "actor": {
                "id": int(a), "login": login, "display_login": login, "gravatar_id": "",
                "url": f"{_API}/users/{login}",
                "avatar_url": f"https://avatars.githubusercontent.com/u/{int(a)}?",
            },
            "repo": {"id": int(ri), "name": repo, "url": f"{_API}/repos/{repo}"},
            "payload": payload,
            "public": True,
            "created_at": _iso(created),
        }
        owner = repo.split("/")[0]
        if not owner.startswith("u"):  # an organisation's repo
            oid = zlib.crc32(owner.encode()) & 0xFFFFFF
            event["org"] = {
                "id": oid, "login": owner, "gravatar_id": "", "url": f"{_API}/orgs/{owner}",
                "avatar_url": f"https://avatars.githubusercontent.com/u/{oid}?",
            }
        line = json.dumps(event)
        if r.random() < _MALFORMED_SHARE:
            out.append(line[: len(line) // 2])  # truncated mid-object
            truth.corrupt += 1
            continue
        out.append(line)
        table = _GHA_TABLE_OF.get(etype)
        if table is None:
            continue
        if table == "commit":
            truth.rows["commit"] += len(payload["commits"])
            for c in payload["commits"]:
                if " dask" in c["message"].lower():
                    truth.commit_hits.append((login, repo, c["message"]))
        else:
            truth.rows[table] += 1
        if table == "watch":
            truth.watches[repo] += 1
        if table == "comment" and " dask" in payload["comment"]["body"].lower():
            truth.comment_hits.append((login, repo, payload["comment"]["body"]))
    raw = ("\n".join(out) + "\n").encode()
    truth.lines, truth.raw_bytes = len(out), len(raw)
    return gzip.compress(raw, compresslevel=6, mtime=0), truth


def hour_sizes(start: dt.datetime, n_hours: int, base: int) -> list[int]:
    """Events per hour along a daily curve (peak 15:00 UTC, trough 03:00)."""
    return [
        int(base * (1 + 0.35 * math.cos(2 * math.pi * ((start.hour + i) % 24 - 15) / 24)))
        for i in range(n_hours)
    ]


def expected_keyword_rows(truths: list[HourTruth], bot_filter: bool, min_watches: int = 5):
    """The rows ``gha.queries.keyword_commits`` / ``keyword_comments`` must
    return over the union of ``truths``: keyword hits in repos with more
    than ``min_watches`` watches, outside ``dask/``, optionally without
    bot authors — as a Counter of (username, repo, text, watch count)."""
    watches: Counter = Counter()
    for t in truths:
        watches.update(t.watches)
    rows: Counter = Counter()
    for t in truths:
        for user, repo, text in (t.commit_hits if bot_filter else t.comment_hits):
            if bot_filter and "bot" in user:
                continue
            if watches[repo] > min_watches and not repo.startswith("dask/"):
                rows[(user, repo, text, watches[repo])] += 1
    return rows
