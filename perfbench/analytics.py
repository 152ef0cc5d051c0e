"""``analytics_interactive``: one client issuing a seeded sequence of
registered analytics queries and SQL-text queries over a read-only
sf0.1-shaped fixture, each op an operator call plus a ``noop``-sink action.

The input is small and never changes, so an op's cost is mostly fixed per
query: planning, job and task scheduling, codegen. Changes to planning,
caching or shuffle width show here; a faster scan or shuffle kernel
barely moves it.
"""

from __future__ import annotations

import datetime as dt
import os
import time

from . import gen
from .metrics import OpLog

#: Registered queries in the mix (all oracle-checked).
QUERIES = (
    "flagship_popular_user_clicks",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q9_product_type_profit",
    "q18_large_volume_customers",
    "join_fact_fact_revenue",
    "join_left_outer_agg",
    "window_rank_topn_per_group",
    "agg_multi_shared_scan",
    "trend_hourly_by_type",
)

#: SQL-text queries run through ``sql.sql``; each text is also its own
#: DuckDB oracle, so it is written in the dialect both engines share.
SQL_QUERIES = {
    "sql_priority_mix_1996": (
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders "
        "FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
        "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' GROUP BY o_orderpriority"
    ),
    "sql_users_per_event_type": (
        "SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, "
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents "
        "FROM events GROUP BY event_type"
    ),
    "sql_top_supplier_nations": (
        "SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_supp "
        "FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey "
        "GROUP BY n.n_name ORDER BY n_supp DESC, n.n_name LIMIT 5"
    ),
}

#: query module -> reported family (`_ext`/`_ps` modules extend their base)
_FAMILY_ALIASES = {"tpch_ext": "tpch", "tpch_ps": "tpch", "text_ext": "text"}


def family_of(fn) -> str:
    mod = fn.__module__.rsplit(".", 1)[-1]
    return _FAMILY_ALIASES.get(mod, mod)


def _canon(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if v is None or isinstance(v, (int, str, bool)):
        return v
    return repr(v)


def _multiset(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)


class Analytics:
    name = "analytics_interactive"

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf = os.path.join(ctx.work, "sf")
        self.kinds = list(QUERIES) + list(SQL_QUERIES)
        self.wrong: set[str] = set()

    def prepare(self) -> None:
        """Generate the fixture and every kind's expected rows (DuckDB)."""
        import duckdb

        from etl_github_spark.queries import QUERIES as REG

        tables = gen.write_fixture(self.sf, self.ctx.seed)
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for t in tables:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
            self.expected = {}
            for k in self.kinds:
                rel = con.sql(SQL_QUERIES[k] if k in SQL_QUERIES else REG[k].sql)
                self.expected[k] = (sorted(rel.columns), _multiset(rel.columns, rel.fetchall()))
        finally:
            con.close()

    def _frame(self, kind: str):
        from etl_github_spark import sql as sql_mod
        from etl_github_spark.queries import QUERIES as REG

        if kind in SQL_QUERIES:
            return sql_mod.sql(self.ctx.spark, self.sf, SQL_QUERIES[kind])
        return REG[kind].fn(self.ctx.spark, self.sf)

    def _check(self, kind: str) -> None:
        df = self._frame(kind)
        cols, rows = list(df.columns), df.collect()
        want_cols, want = self.expected[kind]
        ok = sorted(cols) == want_cols and _multiset(cols, rows) == want
        if not self.ctx.check(ok, f"{kind}: result differs from its DuckDB oracle "
                                  f"({len(rows)} rows vs {len(want)})"):
            self.wrong.add(kind)

    def warm_up(self) -> None:
        """Untimed: every kind once, its rows checked against the oracle,
        then one trivial write through the ``noop`` sink the timed ops use.
        Sequential like the timed loop, so the heap the JVM keeps
        afterwards — part of ``peak_rss_mb`` — is a single client's."""
        for kind in self.kinds:
            if not self.ctx.guarded(f"warm-up of {kind}", lambda: self._check(kind)):
                self.wrong.add(kind)
        self.ctx.spark.range(8).write.mode("overwrite").format("noop").save()

    def _op(self, kind: str):
        from etl_github_spark.queries import QUERIES as REG

        tr = self.ctx.tracer
        fam = "sql" if kind in SQL_QUERIES else family_of(REG[kind].fn)
        with tr.span(f"queries.{fam}.call", "sql" if fam == "sql" else "queries"):
            df = self._frame(kind)
        with tr.span(f"queries.{fam}.exec", "engine"):
            df.write.mode("overwrite").format("noop").save()

    def measure(self, seconds: float) -> OpLog:
        """Closed loop over the seeded sequence, in whole rounds (one
        seeded permutation of all kinds each) until ``seconds`` of op time
        have been spent, so every run weighs every kind equally."""
        log = OpLog()
        n = len(self.kinds)
        spent = 0.0
        for i, kind in enumerate(gen.query_order(self.ctx.seed, self.kinds, 1000 * n)):
            if self.ctx.traced:
                self._plan_probe(kind)
            spent += self.ctx.timed(log, kind, lambda: self._op(kind)).latency_s
            if (i + 1) % n == 0 and spent >= seconds:
                break
        return log

    def _plan_probe(self, kind: str) -> None:
        """Traced run, between ops: the operator call plus forcing its
        physical plan, timed with the tracer off. Not inside the op: its
        noop write plans the query again, so the op would plan twice."""
        tr = self.ctx.tracer
        tr.enabled = False
        try:
            t0 = time.perf_counter()
            self._frame(kind)._jdf.queryExecution().executedPlan()
            self.ctx.sample("queries.plan_s", time.perf_counter() - t0)
        except Exception:  # a failing kind is counted by its timed op, next
            pass
        finally:
            tr.enabled = True

    def verify(self, log: OpLog) -> None:
        """Every op of a kind whose warm-up failed or was wrong is failed."""
        log.fail(lambda op: op.kind in self.wrong)

    def layer_samples(self) -> None:
        """Per-layer samples from the traced run's spans."""
        tr, ctx = self.ctx.tracer, self.ctx
        for sp in tr.spans:
            if sp.name.startswith("queries.") and sp.name.endswith(".exec"):
                ctx.sample("queries.exec_s", sp.end - sp.start)
                ctx.sample(sp.name + "_s", sp.end - sp.start)  # per family
        for v in tr.durations("sql.open_catalog"):
            ctx.sample("sql.open_catalog_s", v)
        for v in tr.durations("io.tables.load_table"):
            ctx.sample("io.tables.load_table_s", v)

    def trace_targets(self):
        """(function, span name, layer) wrapped in the traced run."""
        from etl_github_spark import sql as sql_mod
        from etl_github_spark.io import tables

        return [
            (sql_mod.open_catalog, "sql.open_catalog", "sql"),
            (tables.load_table, "io.tables.load_table", "io.tables"),
        ]
