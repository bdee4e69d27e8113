"""Solo min-of-N measurement for a single registered query — the
methodology the round notes use to confirm/deny driver-bench drift
(caches cleared + GC between attempts, same warmup as bench.py).

Usage: python tools/solo_bench.py <query>[,<query>...] [n_attempts] [sf_dir]
Prints one JSON line per query: {"query": ..., "attempts": [...], "min": ...};
a streaming demo query also gets "steady": the per-attempt micro-batch
execution seconds of its progress events (``LAST_DEMO_TIMINGS``).
(Several comma-separated queries share one session + warmup — the
per-attempt protocol, cache clear + GC, is identical either way.)
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    name = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = (
        sys.argv[3]
        if len(sys.argv) > 3
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )

    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from xboard_spark.io import TESTDATA_TABLES, read_table
    from xboard_spark.session import get_spark
    from xboard_spark.streaming.dedup import LAST_DEMO_TIMINGS

    spark = get_spark()
    for t in TESTDATA_TABLES:
        df = read_table(spark, sf_dir, t)
        df.select([F.count(c) for c in df.columns]).collect()

    registry = entry.queries()
    for qname in name.split(","):
        fn = registry[qname]
        attempts, steady = [], []
        for _ in range(n):
            LAST_DEMO_TIMINGS.clear()
            spark.catalog.clearCache()
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            t0 = time.time()
            fn(spark, sf_dir).collect()
            attempts.append(round(time.time() - t0, 3))
            if "steady_sec" in LAST_DEMO_TIMINGS:
                steady.append(LAST_DEMO_TIMINGS["steady_sec"])
        out = {"query": qname, "attempts": attempts, "min": min(attempts)}
        if steady:
            out["steady"] = steady
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
