"""The run skeleton shared by the workloads: prepare inputs, set up,
measure, stop, compute the expected answers, check, report."""

from __future__ import annotations

import math
import os
import time

from perfbench import engine, ledger, report
from perfbench.common import CpuMeter, summarize
from perfbench.metrics import END_TO_END, PER_LAYER


def run_workload(wl, ctx, sampler) -> dict:
    if hasattr(wl, "run"):
        return wl.run(ctx, sampler)
    return run_op_workload(wl, ctx, sampler)


def run_op_workload(wl, ctx, sampler) -> dict:
    """Workloads made of request-like operations (dashboard, curation)."""
    tracer = ctx.tracer
    t_prep = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t_prep

    t0, setup_meter = time.perf_counter(), CpuMeter()
    spark, get_spark_s = engine.start_session(ctx.run_dir, ctx.trace, wl.name)
    try:
        wl.setup(spark)
        setup_s = time.perf_counter() - t0
        setup_cpu_s = setup_meter.stop()

        if ctx.trace:
            io_probe = ledger.ReadTableProbe(tracer).install()
            cache_probe = ledger.CacheProbe().install()
        meter = CpuMeter()
        cold = wl.cold(spark)
        cold_cpu_s = meter.stop()
        warm = wl.warmup(spark)
        if ctx.trace:
            io0 = _io_snap(io_probe)
            c0 = cache_probe.snapshot()
            tracer.overhead_s = 0.0
        meter = CpuMeter(exclude_jit=True)
        recs, elapsed = wl.window(spark, ctx.seconds)
        window_cpu_s = meter.stop()
        if ctx.trace:
            io_delta = report.delta(_io_snap(io_probe), io0, keep=())
            cache_delta = report.delta(cache_probe.snapshot(), c0)
            io_probe.uninstall()
            cache_probe.uninstall()
        extra = wl.window_layers(recs) if hasattr(wl, "window_layers") else {}
        info = {"versions": engine.versions(spark)}
        sampler.sample()
    finally:
        engine.stop_session(spark)
    peak = sampler.peak_parts_mb()

    t_exp = time.perf_counter()
    wl.expect()
    expect_s = time.perf_counter() - t_exp
    checked = cold + warm + recs
    failed = [r for r in checked if not wl.check(r)]
    lat = summarize([1000.0 * r.seconds for r in recs])
    e2e = {
        "setup_s": setup_s,
        "cold_cpu_s": cold_cpu_s,
        "op_cpu_ms": 1000.0 * window_cpu_s / len(recs),
    }
    info.update(wl.info() if hasattr(wl, "info") else {})
    info.update({
        "setup_cpu_s": setup_cpu_s,
        "cold_s": sum(r.seconds for r in cold),
        "latency_ms": lat,
        "requests_per_s": len(recs) / elapsed,
        "window_s": elapsed,
        "ops": len(recs),
        "warmup_ops": len(warm),
        "by_kind_p50_ms": _by_kind(recs),
        "cold_ms": {r.kind: round(1000.0 * r.seconds, 1) for r in cold},
        "prepare_s": round(prepare_s, 3),
        "expect_s": round(expect_s, 3),
        "errors": [f"{r.rid} {r.kind}: " + (r.error or "wrong answer").strip()
                   .splitlines()[-1][:300] for r in failed][:10],
    })
    layers = None
    if ctx.trace:
        folded = ledger.fold_event_log(ledger.event_log_lines(engine.event_log_dir()))
        layers = report.op_layers(tracer, recs, folded, io_delta, cache_delta)
        layers["session.get_spark_s"] = get_spark_s
        layers.update(extra)
        tracer.dump(os.path.join(os.path.dirname(ctx.run_dir), "traces",
                                 f"{wl.name}-seed{ctx.seed}.jsonl"))
    return finish(ctx, e2e, layers, peak, len(checked), len(failed), info)


def finish(ctx, e2e: dict, layers: dict | None, peak: dict, attempted: int,
           failed: int, info: dict) -> dict:
    """Assemble the result line. ``peak`` is the RssSampler's split."""
    info.update({"host": ctx.host, "failed_ratio": failed / max(1, attempted),
                 "e2e": e2e, "peak_rss_mb": sum(peak.values()), "rss_parts_mb": peak})
    bad = {k: v for k, v in e2e.items() if not math.isfinite(v)}
    if bad:
        raise RuntimeError(f"unmeasured end-to-end metrics: {bad}")
    if ctx.trace:
        layers["mem.peak_rss_mb"] = sum(peak.values())
        layers["mem.jvm_peak_mb"] = peak["jvm"]
        layers["mem.python_peak_mb"] = peak["python"] + peak["workers"]
        metrics = {k: {"value": layers[k], "unit": PER_LAYER[k][0]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": END_TO_END[k][0]} for k in END_TO_END}
    return {
        "info": info,
        "result": {"correct": failed == 0, "attempted": attempted,
                   "failed": failed, "metrics": metrics},
    }


def _io_snap(p) -> dict:
    return {"calls": p.calls, "reused": p.reused, "seconds": p.seconds}


def _by_kind(recs) -> dict:
    kinds: dict = {}
    for r in recs:
        kinds.setdefault(r.kind, []).append(1000.0 * r.seconds)
    return {k: round(summarize(v)["p50"], 1) for k, v in sorted(kinds.items())}
