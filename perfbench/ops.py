"""One traced-or-not operation: build a DataFrame, then collect it.

Each operation gets a request id. In a traced run the benchmark sets the
job group to ``<id>.build`` and ``<id>.collect`` around the two phases,
so the event log attributes every Spark job to its operation and phase.
"""

from __future__ import annotations

import time
import traceback

from perfbench.ledger import Tracer, plan_phases


class OpRecord:
    __slots__ = ("rid", "kind", "param", "t0", "t1", "rows", "error",
                 "spans", "phases")

    def __init__(self, rid, kind, param):
        self.rid, self.kind, self.param = rid, kind, param
        self.rows = None
        self.error = None
        self.spans = {}
        self.phases = {}

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


def run_op(spark, tracer: Tracer, rid: str, kind: str, param, build,
           before=None) -> OpRecord:
    """Time ``before()`` (e.g. authentication), ``build()`` returning a
    DataFrame, and its collect, as one request. A raised error is
    recorded, not propagated."""
    rec = OpRecord(rid, kind, param)
    sc = spark.sparkContext
    traced = tracer.enabled
    rec.t0 = time.perf_counter()
    try:
        with tracer.span("request", kind, req=rid) as r:
            ctx = before() if before is not None else None
            if traced:
                c = time.perf_counter()
                sc.setJobGroup(f"{rid}.build", kind)
                tracer.charge(time.perf_counter() - c)
            with tracer.span("operators", kind) as b:
                df = build(ctx)
            if traced:
                c = time.perf_counter()
                sc.setJobGroup(f"{rid}.collect", kind)
                tracer.charge(time.perf_counter() - c)
            with tracer.span("collect", kind) as k:
                rows = df.collect()
            rec.rows = (list(df.columns), rows)
        rec.t1 = time.perf_counter()
        if traced:
            rec.spans = {"request": r["id"], "build": b["id"], "collect": k["id"]}
            c = time.perf_counter()
            rec.phases = plan_phases(df)
            sc.setJobGroup(f"{rid}.idle", "between operations")
            tracer.charge(time.perf_counter() - c)
    except Exception:  # one failed operation must not end the run
        rec.t1 = time.perf_counter()
        rec.error = traceback.format_exc(limit=3)
    return rec


def add_phase_spans(tracer: Tracer, rec: OpRecord) -> None:
    """Catalyst phases as spans: analysis and parsing happen while the
    DataFrame is built, optimization and planning inside the collect."""
    for name, (t0, t1) in rec.phases.items():
        parent = rec.spans["build"] if name in ("parsing", "analysis") else rec.spans["collect"]
        tracer.add("plan", name, rec.rid, parent, t0, t1)


def add_job_spans(tracer: Tracer, rec: OpRecord, folded: dict) -> None:
    for phase in ("build", "collect"):
        for _jid, t0, t1 in folded.get(f"{rec.rid}.{phase}", {}).get("jobs", []):
            tracer.add("exec", "job", rec.rid, rec.spans[phase], t0, t1)
