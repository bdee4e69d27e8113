"""Benchmark entry point.

    python3 perfbench/run.py --workload {dashboard,curation,ingest}
        --seed N --seconds S --trace {0,1}

Each run is one fresh process: it generates its inputs from the seed,
computes the expected answers with DuckDB, starts the engine, measures
for S seconds, checks every answer, and prints one JSON object as the
last line of stdout. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ledger (see perfbench/NOTES.md).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ("dashboard", "curation", "ingest")


class Context:
    def __init__(self, args, run_dir, host, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.host = host
        self.tracer = tracer


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def make_workload(name, ctx):
    if name == "dashboard":
        from perfbench.dashboard import Dashboard
        return Dashboard(ctx)
    if name == "curation":
        from perfbench.curation import Curation
        return Curation(ctx)
    from perfbench.ingest import Ingest
    return Ingest(ctx)


def main(argv=None) -> int:
    args = parse_args(argv)
    for mod in ("xboard_spark", "__spark_entry__", "pyspark", "duckdb"):
        if importlib.util.find_spec(mod) is None:
            print(f"perfbench: cannot import {mod}; run from the repository root",
                  file=sys.stderr)
            return 2

    from perfbench.common import WORK, RssSampler, host_cpu_ticks, pin_host
    from perfbench.ledger import Tracer
    from perfbench.runner import run_workload

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    host = pin_host(run_dir)
    ctx = Context(args, run_dir, host, Tracer(enabled=bool(args.trace)))
    sampler = RssSampler().start()
    t_start = time.time()
    busy0, steal0 = host_cpu_ticks()
    try:
        out = run_workload(make_workload(args.workload, ctx), ctx, sampler)
    finally:
        sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    out["info"]["run_wall_s"] = round(time.time() - t_start, 3)
    busy, steal = (a - b for a, b in zip(host_cpu_ticks(), (busy0, steal0)))
    # a busy host shows here first; it slows CPU time too (NOTES.md)
    out["info"]["host_steal_share"] = round(steal / max(1, busy + steal), 4)
    print(json.dumps({"info": out["info"]}, sort_keys=True))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
