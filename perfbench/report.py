"""Turn a traced window of operations into the per-layer metrics."""

from __future__ import annotations

import statistics

from perfbench.ledger import layer_self_ms
from perfbench.metrics import PER_LAYER
from perfbench.ops import add_job_spans, add_phase_spans


def empty_layers() -> dict:
    return {k: 0.0 for k in PER_LAYER}


def fold_groups(folded: dict, groups) -> dict:
    tot = {"jobs": 0, "skews": []}
    for g in groups:
        rec = folded.get(g)
        if not rec:
            continue
        tot["jobs"] += len(rec.get("jobs", []))
        tot["skews"].extend(rec.get("skews", []))
        for k, v in rec.items():
            if k not in ("jobs", "skews"):
                tot[k] = tot.get(k, 0.0) + v
    return tot


def exec_layers(out: dict, tot: dict, n: int) -> None:
    out["exec.jobs"] = tot["jobs"] / n
    for key in ("stages", "tasks", "run_ms", "gc_ms", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes"):
        out[f"exec.{key}"] = tot.get(key, 0.0) / n
    out["exec.cpu_ms"] = tot.get("cpu_ns", 0.0) / 1e6 / n
    out["exec.task_skew"] = statistics.median(tot["skews"]) if tot["skews"] else 1.0
    out["io.scan_bytes"] = tot.get("scan_bytes", 0.0) / n
    out["io.write_bytes"] = tot.get("write_bytes", 0.0) / n


def op_layers(tracer, records, folded: dict, io_delta: dict,
              cache_delta: dict) -> dict:
    """Per-operation layer means over the successful ``records``."""
    ok = [r for r in records if r.error is None and r.spans]
    n = max(1, len(ok))
    for rec in ok:
        add_phase_spans(tracer, rec)
        add_job_spans(tracer, rec, folded)
    ls = layer_self_ms(tracer.spans, [r.rid for r in ok])
    out = empty_layers()
    build = fold_groups(folded, [f"{r.rid}.build" for r in ok])
    tot = fold_groups(folded, [f"{r.rid}.{p}" for r in ok for p in ("build", "collect")])
    exec_layers(out, tot, n)
    out["operators.eager_jobs"] = build["jobs"] / n
    out["operators.build_ms"] = ls.get("operators", 0.0)
    out["exec.job_wall_ms"] = ls.get("exec", 0.0)
    out["collect.ms"] = ls.get("collect", 0.0)
    out["driver.uncovered_ms"] = ls.get("request", 0.0)
    out["auth.verify_ms"] = ls.get("auth", 0.0)
    out["auth.failures"] = sum(1 for r in records if r.error and "AuthError" in r.error)
    for phase in ("analysis", "optimization", "planning"):
        out[f"plan.{phase}_ms"] = 1000.0 * sum(
            r.phases[phase][1] - r.phases[phase][0]
            for r in ok if phase in r.phases) / n
    out["collect.rows"] = sum(len(r.rows[1]) for r in ok) / n
    out["io.read_table.calls"] = io_delta["calls"] / n
    out["io.read_table.ms"] = 1000.0 * io_delta["seconds"] / n
    out["io.read_table.reuse_ratio"] = (
        io_delta["reused"] / io_delta["calls"] if io_delta["calls"] else 0.0)
    cache_layers(out, cache_delta)
    out["trace.overhead_ms"] = 1000.0 * tracer.overhead_s / n
    out["ledger.self_sum_ratio"] = ls["_sum_ratio"]
    wall = ls["_wall_ms"]
    out["ledger.coverage"] = 1.0 - out["driver.uncovered_ms"] / wall if wall else 0.0
    return out


def cache_layers(out: dict, delta: dict) -> None:
    out["cache.lookups"] = delta["lookups"]
    out["cache.misses"] = delta["misses"]
    out["cache.evictions"] = delta["evictions"]
    out["cache.entries"] = delta["entries"]
    out["cache.hit_ratio"] = (
        (delta["lookups"] - delta["misses"]) / delta["lookups"]
        if delta["lookups"] else 0.0)


def delta(after: dict, before: dict, keep=("entries",)) -> dict:
    return {k: (v if k in keep else v - before.get(k, 0)) for k, v in after.items()}
