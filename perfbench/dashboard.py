"""dashboard: the XBoard read path at sf0.1.

CLIENTS closed-loop clients share one session. Each loads a fixed
number of dashboard pages: a page is the eight endpoints, in a seeded
order, each with a seed-drawn parameter. Each request carries a JWT
that ``auth.authenticate_token`` resolves to the tenant, then the
endpoint's rows are collected. Every answer is checked against the
parameterised oracle twin.
"""

from __future__ import annotations

import datetime
import os
import threading
import time

import numpy as np

from perfbench import fixtures, twins
from perfbench.ops import run_op

ENDPOINTS = (
    "overview", "orders_by_date", "top_customers", "recent_orders",
    "customer_lookup", "tenant_orders_overview", "sql_orders_since",
    "sql_status_panel",
)
TABLES = ("customer", "orders", "nation", "region")
CLIENTS = 2
POOL = 8  # parameter draws per endpoint
WARMUP_PAGES = 1  # per client
PAGE_S = 2.8  # one page of one client, idle 4-core host
SECRET = "perfbench-dashboard-secret"


def _day(i: int) -> str:
    return (fixtures.DAY0 + datetime.timedelta(days=int(i))).isoformat()


def parameter_pools(seed: int) -> dict:
    rng = np.random.default_rng([seed, 7])
    starts = rng.integers(0, fixtures.N_DAYS - 400, POOL)
    spans = rng.integers(30, 400, POOL)
    return {
        "overview": [None],
        "orders_by_date": [(_day(s), _day(s + d)) for s, d in zip(starts, spans)],
        "top_customers": [int(k) for k in rng.integers(3, 21, POOL)],
        "recent_orders": [int(k) for k in rng.integers(5, 51, POOL)],
        "customer_lookup": [int(k) for k in rng.integers(0, 15_000, POOL)],
        # the tenant comes from the token, never from the request
        "tenant_orders_overview": [int(k) for k in rng.integers(0, fixtures.N_NATIONS, POOL)],
        "sql_orders_since": [_day(s) for s in rng.integers(0, fixtures.N_DAYS, POOL)],
        "sql_status_panel": [None],
    }


def build(spark, data_dir: str, endpoint: str, param, claims):
    import __spark_entry__ as entry
    from xboard_spark import io as xio
    from xboard_spark.operators import analytics

    def t(name):
        return xio.read_table(spark, data_dir, name)

    if endpoint == "overview":
        return analytics.overview(t("customer"), t("orders"))
    if endpoint == "orders_by_date":
        return analytics.orders_by_date(t("orders"), *param)
    if endpoint == "top_customers":
        return analytics.top_customers(t("orders"), t("customer"), param)
    if endpoint == "recent_orders":
        return analytics.recent_orders(t("orders"), param)
    if endpoint == "customer_lookup":
        return analytics.customer_lookup(t("customer"), t("nation"), t("region"), param)
    if endpoint == "tenant_orders_overview":
        return analytics.tenant_orders_overview(
            t("customer"), t("orders"), t("nation"), int(claims["tenantId"]))
    if endpoint == "sql_orders_since":
        return entry._sql_orders_since(spark, data_dir, param)
    if endpoint == "sql_status_panel":
        return entry._sql_status_panel(spark, data_dir)
    raise KeyError(endpoint)


class Dashboard:
    name = "dashboard"

    def __init__(self, ctx):
        self.ctx = ctx
        self.data = os.path.join(ctx.run_dir, "data")

    def prepare(self) -> None:
        """Inputs and tokens, before set-up."""
        from xboard_spark import auth

        seed = self.ctx.seed
        fixtures.order_tables(self.data, seed)
        self.pools = parameter_pools(seed)
        now = int(time.time())
        self.tokens = {
            n: "Bearer " + auth.jwt_sign({"tenantId": n, "userId": 1000 + n},
                                         SECRET, now=now)
            for n in range(fixtures.N_NATIONS)
        }

    def setup(self, spark) -> None:
        """Open every table the endpoints read and decode it once."""
        from xboard_spark import io as xio

        for name in TABLES:
            xio.read_table(spark, self.data, name).count()

    def _request(self, spark, rid, endpoint, pidx, tenant):
        from xboard_spark import auth

        tracer = self.ctx.tracer
        param = self.pools[endpoint][pidx]
        if endpoint == "tenant_orders_overview":
            tenant = param
        header = self.tokens[tenant]

        def authenticate():
            with tracer.span("auth", "authenticate_token"):
                return auth.authenticate_token(header, SECRET)

        return run_op(spark, tracer, rid, endpoint, param,
                      lambda claims: build(spark, self.data, endpoint, param, claims),
                      before=authenticate)

    def cold(self, spark) -> list:
        """The first request of each endpoint kind, in a fresh session."""
        return [self._request(spark, f"cold-{i}", ep, 0, 0)
                for i, ep in enumerate(ENDPOINTS)]

    def _pages(self, spark, first: int, n: int) -> list:
        """Pages ``first`` to ``first + n - 1`` of every client, the
        clients running at once."""
        records: list = []
        lock = threading.Lock()
        errors: list = []

        def client(c: int) -> None:
            try:
                rng = self._rngs[c]
                for p in range(first, first + n):
                    for j in rng.permutation(len(ENDPOINTS)):
                        ep = ENDPOINTS[int(j)]
                        # parameters in turn, not drawn: a literal seen for
                        # the first time costs a fresh code generation, so
                        # random draws would vary the work from seed to seed
                        pidx = (p * CLIENTS + c) % len(self.pools[ep])
                        tenant = int(rng.integers(0, fixtures.N_NATIONS))
                        rec = self._request(spark, f"c{c}-p{p}-{ep}", ep, pidx, tenant)
                        with lock:
                            records.append(rec)
            except BaseException as e:  # surface in the main thread
                errors.append(e)
                raise

        threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        if errors:
            raise RuntimeError(f"dashboard client failed: {errors}")
        return records

    def warmup(self, spark) -> list:
        """Pages that let the JIT settle after the cold requests; checked,
        not measured."""
        self._rngs = [np.random.default_rng([self.ctx.seed, 8, c]) for c in range(CLIENTS)]
        return self._pages(spark, 0, WARMUP_PAGES)

    def window(self, spark, seconds: float) -> tuple[list, float]:
        """A fixed number of pages per client, which takes about
        ``seconds`` on an idle host: the same work whatever the host's
        speed."""
        pages = max(2, round(seconds / PAGE_S))
        t0 = time.perf_counter()
        records = self._pages(spark, WARMUP_PAGES, pages)
        return records, time.perf_counter() - t0

    def expect(self) -> None:
        """Expected answers, after the engine has stopped: the twins'
        memory stays out of the engine's peak."""
        con = twins.connect(self.data, TABLES)
        self.expected = {}
        for ep, pool in self.pools.items():
            for p in pool:
                self.expected[(ep, _key(p))] = twins.run(con, twins.dashboard_sql(ep, p))
        con.close()

    def check(self, rec) -> bool:
        from perfbench.common import canonical

        if rec.error is not None:
            return False
        key = (rec.kind, _key(rec.param))
        cols, rows = rec.rows
        return canonical([tuple(r) for r in rows], cols) == self.expected[key]


def _key(p):
    return tuple(p) if isinstance(p, (list, tuple)) else p
