"""ingest: the webhook write path.

``read_webhook_stream -> deduped_stream -> parse_order_events ->
start_bronze_to_silver(trigger_available_now=False)``, fed in two
phases: an open loop in which a generator thread drops one JSON-lines
file of order webhooks every INTERVAL_S seconds (creates, redeliveries,
later updates, a few non-order events; tenant skew from the seed), then
a drain in which a backlog of DRAIN_FILES_PER_S files per measured
second lands at once (one directory rename, so a single trigger sees
the whole backlog).

Freshness is measured from a file's due time to the end of the trigger
that merged it. Files are mapped to triggers through the public
progress reports: a file source takes new files in arrival order, so
the running sum of ``numInputRows`` over triggers meets the running sum
of file line counts exactly at trigger boundaries.
"""

from __future__ import annotations

import datetime
import json
import os
import statistics
import threading
import time

from perfbench import engine, fixtures, ledger, report, twins
from perfbench.common import CpuMeter, summarize
from perfbench.runner import finish

INTERVAL_S = 2.0
EVENTS_PER_FILE = 300
OPEN_FILES = 3
DRAIN_FILES_PER_S = 15  # about 5 s of drain per 10 s on an idle 4-core host
WARMUP_FILES = 1  # landed one at a time after the cold file, not measured
KEYS = ["tenant_id", "shopify_order_id"]
MERGE_TIMEOUT_S = 30.0


def progress_dicts(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return sorted(out, key=lambda d: d["batchId"])


def trigger_end(p: dict) -> float:
    t0 = datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return t0.timestamp() + p["durationMs"].get("triggerExecution", 0) / 1000.0


def map_files(line_counts: list[int], progress: list[dict]) -> list:
    """For files in arrival order, the progress entry of the trigger that
    read each one, or None if no completed trigger has read it yet."""
    out, cum_rows, i, cum_lines = [], 0, 0, 0
    for p in progress:
        rows = p.get("numInputRows", 0)
        if not rows:
            continue
        cum_rows += rows
        while i < len(line_counts) and cum_lines + line_counts[i] <= cum_rows:
            cum_lines += line_counts[i]
            out.append(p)
            i += 1
        if cum_lines != cum_rows:
            raise RuntimeError(
                f"trigger {p['batchId']} read {cum_rows} rows in total, not a "
                f"whole number of files ({cum_lines} rows in {i} files)")
    return out + [None] * (len(line_counts) - len(out))


def _stop_when_idle(query, timeout_s: float = 30.0) -> None:
    """Stop between triggers: interrupting a running trigger only adds
    shutdown noise."""
    deadline = time.time() + timeout_s
    while query.isActive and query.status.get("isTriggerActive") and time.time() < deadline:
        time.sleep(0.02)
    query.stop()


class Ingest:
    name = "ingest"

    def __init__(self, ctx):
        self.ctx = ctx
        d = ctx.run_dir
        # the stream watches inbox/*/*.json: single files land in
        # inbox/live, the drain backlog lands as one directory rename
        self.inbox = os.path.join(d, "inbox")
        self.live = os.path.join(self.inbox, "live")
        self.stage = os.path.join(d, "stage")
        self.silver = os.path.join(d, "silver")
        self.ckpt = os.path.join(d, "checkpoint")
        for p in (self.live, self.stage):
            os.makedirs(p, exist_ok=True)

    # -------------------------------------------------------------- files

    @staticmethod
    def _write(dir_path: str, f: dict, lines: list[str]) -> str:
        name = f"f{f['seq']:05d}.json"
        with open(os.path.join(dir_path, name), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        return name

    def _land(self, f: dict, lines: list[str]) -> float:
        name = self._write(self.stage, f, lines)
        os.rename(os.path.join(self.stage, name), os.path.join(self.live, name))
        return time.time()

    def _committed(self, query) -> int:
        """How many landed files, from the first, are already merged."""
        counts = [len(x) for x in self.landed_lines]
        mapped = map_files(counts, progress_dicts(query))
        return sum(1 for m in mapped if m is not None)

    def _open_loop(self, query, files, t_base: float) -> None:
        for f in files:
            due = t_base + f["due"]
            time.sleep(max(0.0, due - time.time()))
            lines = self.sched.lines(f, self._committed(query))
            self.landed_lines.append(lines)
            self.landed_at.append(self._land(f, lines))
            self.due_at.append(due)

    def _wait_merged(self, query, n_files: int) -> list:
        """Poll the last progress report, and map files to triggers only
        when a trigger has ended, so that the wait costs little CPU."""
        deadline = time.time() + MERGE_TIMEOUT_S
        counts = [len(x) for x in self.landed_lines[:n_files]]
        mapped, seen = [None] * len(counts), -1
        while True:
            last = query.lastProgress
            if last is not None and last["batchId"] != seen:
                seen = last["batchId"]
                mapped = map_files(counts, progress_dicts(query))
            if all(m is not None for m in mapped) or time.time() > deadline:
                return mapped
            if query.exception() is not None:
                raise RuntimeError(f"stream failed: {query.exception()}")
            time.sleep(0.05)

    # ---------------------------------------------------------------- run

    def run(self, ctx, sampler) -> dict:
        from xboard_spark.streaming.conf import stream_shuffle_partitions
        from xboard_spark.streaming.webhook import (
            deduped_stream, parse_order_events, read_webhook_stream,
            start_bronze_to_silver)

        n_open = OPEN_FILES
        n_drain = max(1, round(DRAIN_FILES_PER_S * ctx.seconds))
        n_first = 1 + WARMUP_FILES
        self.sched = fixtures.WebhookSchedule(ctx.seed, n_first + n_open, INTERVAL_S,
                                              n_drain, EVENTS_PER_FILE)
        first = self.sched.files[:n_first]
        open_files = self.sched.files[n_first:n_first + n_open]
        drain_files = self.sched.files[n_first + n_open:]
        self.landed_lines, self.landed_at, self.due_at = [], [], []
        run_log: list = []

        t0, setup_meter = time.perf_counter(), CpuMeter()
        spark, get_spark_s = engine.start_session(ctx.run_dir, ctx.trace, self.name)
        try:
            with stream_shuffle_partitions(spark):
                tb = time.perf_counter()
                stream = parse_order_events(
                    deduped_stream(read_webhook_stream(
                        spark, os.path.join(self.inbox, "*", "*.json"))))
                build_s = time.perf_counter() - tb
                query = start_bronze_to_silver(
                    stream, self.silver, self.ckpt, KEYS, run_log=run_log,
                    trigger_available_now=False)
                setup_s = time.perf_counter() - t0
                setup_cpu_s = setup_meter.stop()
                try:
                    # the cold file, then warm-up files, each alone
                    cold_cpu_s = None
                    for f in first:
                        meter = CpuMeter()
                        self.due_at.append(time.time())
                        self.landed_lines.append(self.sched.lines(f, f["seq"]))
                        self.landed_at.append(self._land(f, self.landed_lines[-1]))
                        first_map = self._wait_merged(query, len(self.landed_lines))
                        if cold_cpu_s is None:
                            cold_cpu_s = meter.stop()
                    # open loop: files land on schedule whatever the stream does
                    t_base = time.time() + 0.5 - open_files[0]["due"]
                    gen = threading.Thread(target=self._open_loop,
                                           args=(query, open_files, t_base))
                    gen.start()
                    gen.join(timeout=ctx.seconds + 30)
                    if gen.is_alive():
                        raise RuntimeError("webhook generator did not finish")
                    if len(self.landed_at) != n_first + len(open_files):
                        raise RuntimeError("webhook generator failed")
                    t_window_end = t_base + open_files[-1]["due"] + INTERVAL_S
                    open_map = self._wait_merged(query, len(self.landed_lines))[n_first:]
                    # drain: a backlog lands at once
                    n_before = len(self.landed_lines)
                    drain_lines = [self.sched.lines(f, n_before) for f in drain_files]
                    backlog = os.path.join(self.stage, "drain")
                    os.makedirs(backlog)
                    for f, lines in zip(drain_files, drain_lines):
                        self._write(backlog, f, lines)
                    self.landed_lines.extend(drain_lines)
                    meter = CpuMeter(exclude_jit=True)
                    os.rename(backlog, os.path.join(self.inbox, "drain"))
                    self.landed_at.extend([time.time()] * len(drain_files))
                    all_map = self._wait_merged(query, len(self.landed_lines))
                    drain_cpu_s = meter.stop()
                    progress = progress_dicts(query)
                finally:
                    _stop_when_idle(query)
            versions = engine.versions(spark)
            sampler.sample()
        finally:
            engine.stop_session(spark)
        peak = sampler.peak_parts_mb()

        # ------------------------------------------------------- answers
        merged = [m is not None for m in all_map]
        expected = twins.expected_silver(self.inbox)
        actual = twins.actual_silver(self.silver) if os.path.isdir(self.silver) else None
        silver_ok = actual == expected
        attempted = len(merged) + 1
        failed = merged.count(False) + (0 if silver_ok else 1)

        cold_s = (trigger_end(first_map[0]) - self.due_at[0]
                  if first_map[0] is not None else float("nan"))
        open_due = self.due_at[n_first:]
        open_land = self.landed_at[n_first:n_first + len(open_files)]
        fresh = [trigger_end(m) - due for m, due in zip(open_map, open_due)
                 if m is not None]
        # the triggers that read the backlog, timed by their own progress
        drain_trig = {m["batchId"]: m for m in all_map[n_before:] if m is not None}
        drain_events = sum(len(x) for x in drain_lines)
        drain_s = sum(m["durationMs"]["triggerExecution"] for m in drain_trig.values()) / 1000.0
        if all_map[n_before:].count(None) or not drain_s:
            drain_s = float("nan")
        lat = summarize([1000.0 * x for x in fresh])
        e2e = {
            "setup_s": setup_s,
            "cold_cpu_s": cold_cpu_s,
            "op_cpu_ms": 1000.0 * drain_cpu_s / len(drain_files),
        }
        late = [1000.0 * (a - d) for a, d in zip(open_land, open_due)]
        backlog_end = sum(
            1 for land, m in zip(open_land, open_map)
            if land <= t_window_end and (m is None or trigger_end(m) > t_window_end))
        info = {
            "versions": versions,
            "freshness_ms": lat,
            "freshness_all_ms": [round(1000.0 * x) for x in fresh],
            "trigger_ms": [p["durationMs"].get("triggerExecution") for p in progress],
            "trigger_rows": [p.get("numInputRows") for p in progress],
            "setup_cpu_s": setup_cpu_s, "cold_s": cold_s,
            "freshness_p50_ms": lat["p50"], "freshness_p90_ms": lat["p90"],
            "drain_events_per_s": drain_events / drain_s,
            "drain_cpu_s": drain_cpu_s,
            "drain_s": drain_s, "drain_events": drain_events,
            "drain_triggers": len(drain_trig),
            "open_files": len(open_files), "drain_files": len(drain_files),
            "triggers": len(progress),
            "silver_rows": len(expected[1]), "silver_ok": silver_ok,
            "updates_skipped": self.sched.n_updates_skipped,
            "gen_late_ms_max": max(late) if late else 0.0,
            "unmerged_files": merged.count(False),
        }
        layers = None
        if ctx.trace:
            layers = self._layers(progress, late, backlog_end, get_spark_s,
                                  build_s, sum(len(x) for x in self.landed_lines))
        return finish(ctx, e2e, layers, peak, attempted, failed, info)

    def _layers(self, progress, late, backlog_end, get_spark_s, build_s,
                events) -> dict:
        out = report.empty_layers()
        data = [p for p in progress if p.get("numInputRows", 0) > 0]
        n = max(1, len(data))
        out["session.get_spark_s"] = get_spark_s
        out["operators.build_ms"] = 1000.0 * build_s
        out["stream.triggers"] = len(progress)
        out["stream.empty_triggers"] = len(progress) - len(data)
        for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                          ("latestOffset", "latest_offset_ms"),
                          ("queryPlanning", "query_planning_ms"),
                          ("walCommit", "wal_commit_ms"),
                          ("commitOffsets", "commit_offsets_ms")):
            out[f"stream.{name}"] = sum(p["durationMs"].get(key, 0) for p in data) / n
        out["stream.rows_per_trigger"] = sum(p["numInputRows"] for p in data) / n
        ops = (progress[-1].get("stateOperators") or [{}]) if progress else [{}]
        out["stream.state_rows"] = sum(o.get("numRowsTotal", 0) for o in ops)
        out["stream.state_mem_bytes"] = sum(o.get("memoryUsedBytes", 0) for o in ops)
        parts = [sum(v for k, v in p["durationMs"].items() if k != "triggerExecution")
                 / p["durationMs"]["triggerExecution"]
                 for p in data if p["durationMs"].get("triggerExecution")]
        out["ledger.self_sum_ratio"] = statistics.mean(parts) if parts else 0.0
        out["ledger.coverage"] = out["ledger.self_sum_ratio"]
        folded = ledger.fold_event_log(ledger.event_log_lines(engine.event_log_dir()))
        tot = report.fold_groups(folded, list(folded))
        report.exec_layers(out, tot, n)
        out["io.write_bytes_per_event"] = tot.get("write_bytes", 0.0) / max(1, events)
        out["gen.late_ms_max"] = max(late) if late else 0.0
        out["gen.backlog_files_end"] = backlog_end
        return out
