"""The stream_triggers workload: a closed loop through the trigger kernels.

One query per kernel (`triggered_window_aggregate` and
`triggered_session_aggregate`) runs continuously over the same parquet
drop directory (`streaming.core.read_stream_dropdir`, one file per
micro-batch) into a foreachBatch sink, with the RocksDB state store and one
state partition per core. One client feeds them: a file lands (its events
stamped with their creation time), then the client waits for every batch
that file causes in both queries, the watermark's no-data batches included
(`processAllAvailable`), before the next file lands. A last file of a
reserved key pushes the watermark past every window, so the final panes can
be checked against a plain group-by of the events.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import inputs
import instrument as tr

SCHEMA = "event_id long, ts timestamp, key string, value double, created_us long"
WINDOW_S = 30
SESSION_GAP_S = 5
FLUSH_KEY = "zz_flush"
MIN_ROUNDS = 6  # steady rounds after the first, whatever --seconds says
MAX_FILES = 60  # more rounds than a run can reach within 180 s
ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def _window_kernel(stream):
    from dataflowjavasdk_spark.streaming.triggers import (
        ACCUMULATING, AfterCount, AfterWatermark, triggered_window_aggregate)

    return triggered_window_aggregate(
        stream, keys=["key"], value_col="value", window_size=f"{WINDOW_S} seconds",
        trigger=AfterWatermark(early=AfterCount(40), late=AfterCount(1)),
        accumulation=ACCUMULATING, allowed_lateness="60 seconds",
        watermark_delay="10 seconds")


def _session_kernel(stream):
    from dataflowjavasdk_spark.streaming.triggers import (
        ACCUMULATING, AfterCount, AfterWatermark, triggered_session_aggregate)

    return triggered_session_aggregate(
        stream, keys=["key"], value_col="value", gap=f"{SESSION_GAP_S} seconds",
        trigger=AfterWatermark(early=AfterCount(40), late=AfterCount(1)),
        accumulation=ACCUMULATING, allowed_lateness="60 seconds",
        watermark_delay="10 seconds")


KERNELS = (("window", _window_kernel), ("session", _session_kernel))


def _write_file(path: str, cols: dict, created_us: int) -> None:
    n = len(cols["event_id"])
    tbl = pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts_us"], pa.timestamp("us", tz="UTC")),
        "key": pa.array(cols["key"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "created_us": pa.array(np.full(n, created_us), pa.int64()),
    })
    pq.write_table(tbl, path)


def _flush_file(n_fed: int) -> dict:
    ts = (inputs.STREAM_T0_S + (n_fed + 10) * inputs.FILE_SPAN_S) * 1_000_000
    return {"event_id": np.array([-1]), "ts_us": np.array([ts]),
            "key": np.array([FLUSH_KEY]), "value": np.array([0.0])}


class _Contributors:
    """Which fed file holds the newest event behind a pane."""

    def __init__(self, files: list[dict], kind: str):
        self.kind = kind
        ts = np.concatenate([f["ts_us"] for f in files])
        key = np.concatenate([f["key"] for f in files])
        fidx = np.concatenate([np.full(len(f["ts_us"]), i) for i, f in enumerate(files)])
        self.by_key = {}
        for k in np.unique(key):
            m = key == k
            order = np.argsort(ts[m], kind="stable")
            self.by_key[k] = (ts[m][order], fidx[m][order])

    def newest_file(self, key: str, start_us: int, end_us: int, fed: int) -> int:
        ts, fidx = self.by_key[key]
        hi_ts = end_us if self.kind == "window" else end_us - SESSION_GAP_S * 1_000_000
        lo = np.searchsorted(ts, start_us, "left")
        hi = np.searchsorted(ts, hi_ts, "left" if self.kind == "window" else "right")
        sel = fidx[lo:hi]
        sel = sel[sel <= fed]
        return int(sel.max()) if len(sel) else fed


def _reference(files: list[dict], kind: str) -> dict:
    """{(key, start_us, end_us): (n, total)} over every fed event."""
    ts = np.concatenate([f["ts_us"] for f in files])
    key = np.concatenate([f["key"] for f in files])
    val = np.concatenate([f["value"] for f in files])
    out = {}
    if kind == "window":
        w = WINDOW_S * 1_000_000
        start = ts // w * w
        for k, s, v in zip(key, start, val):
            n, t = out.get((k, s, s + w), (0, 0.0))
            out[(k, s, s + w)] = (n + 1, t + v)
        return out
    gap = SESSION_GAP_S * 1_000_000
    order = np.lexsort((ts, key))
    cur = None
    for i in order:
        k, t, v = key[i], int(ts[i]), float(val[i])
        if cur is not None and cur[0] == k and t < cur[2]:
            cur = (k, cur[1], max(cur[2], t + gap), cur[3] + 1, cur[4] + v)
        else:
            if cur is not None:
                out[cur[:3]] = cur[3:]
            cur = (k, t, t + gap, 1, v)
    if cur is not None:
        out[cur[:3]] = cur[3:]
    return out


def _check(panes: list, ref: dict) -> list[str]:
    """The final pane of every (key, window) must equal the reference, and
    every other (key, window) a pane names must be a session fragment that
    a later pane of its enclosing reference session superseded."""
    final: dict = {}
    for pos, p in enumerate(panes):  # panes in arrival order
        if p["key"] == FLUSH_KEY:
            continue
        ident = (p["key"], p["start"], p["end"])
        if ident not in final or p["pane_index"] > final[ident]["pane_index"]:
            final[ident] = dict(p, pos=pos)
    issues = []
    for ident, (n, total) in ref.items():
        p = final.get(ident)
        if p is None:
            issues.append(f"missing pane {ident}")
        elif (p["n"], p["total"]) != (n, total):
            issues.append(f"pane {ident}: got {(p['n'], p['total'])}, want {(n, total)}")
    for ident in sorted(set(final) - set(ref)):
        key, start, end = ident
        p = final[ident]
        merged_later = any(
            k == key and s <= start and end <= e and (k, s, e) in final and final[(k, s, e)]["pos"] > p["pos"]
            for k, s, e in ref)
        if not merged_later:
            issues.append(f"unexpected pane {ident}: {(p['n'], p['total'])}")
    return issues


def _progress_layer(progress: list[dict], layer: dict) -> None:
    for p in progress:
        d = p.get("durationMs", {})
        layer["streaming.batches"] += 1
        layer["streaming.empty_batches"] += p.get("numInputRows", 0) == 0
        layer["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
        layer["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
        layer["streaming.wal_commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
        rows = mem = 0
        for op in p.get("stateOperators", []):
            layer["streaming.state_update_s"] += op.get("allUpdatesTimeMs", 0) / 1e3
            layer["streaming.state_commit_s"] += op.get("commitTimeMs", 0) / 1e3
            layer["streaming.rows_dropped_late"] += op.get("numRowsDroppedByWatermark", 0)
            rows += op.get("numRowsTotal", 0)
            mem += op.get("memoryUsedBytes", 0)
        layer["streaming.state_rows_peak"] = max(layer["streaming.state_rows_peak"], rows)
        layer["streaming.state_mb"] = max(layer["streaming.state_mb"], mem / tr.MIB)


class _Query:
    """One kernel's continuously running query and what its sink saw."""

    def __init__(self, spark, name, build, in_dir, root):
        from dataflowjavasdk_spark.streaming.core import read_stream_dropdir

        self.name = name
        self.arrivals: list[tuple[float, object]] = []
        self.marks: list[int] = []  # arrivals seen when each round ended
        self.progress: dict[int, dict] = {}
        self.q = (build(read_stream_dropdir(spark, in_dir, SCHEMA))
                  .writeStream.foreachBatch(self._sink).outputMode("update")
                  .option("checkpointLocation", os.path.join(root, f"checkpoint_{name}"))
                  .queryName(name).start())

    def _sink(self, batch_df, batch_id):
        tbl = batch_df.toArrow()
        self.arrivals.append((time.time(), tbl))

    def drain(self, traced: bool) -> None:
        self.q.processAllAvailable()
        self.marks.append(len(self.arrivals))
        if traced:
            for p in self.q.recentProgress:
                self.progress[p["batchId"]] = p

    def panes_and_latencies(self, fed: list[dict], created: list[int]):
        """Every pane the sink received, and for each one the seconds from
        the creation of its newest event to its arrival at the sink."""
        contrib = _Contributors(fed, self.name)
        panes, latencies = [], []
        seen = 0
        for round_i, end in enumerate(self.marks):
            fed_i = min(round_i, len(fed) - 1)  # the flush round adds no events
            for t_arrive, tbl in self.arrivals[seen:end]:
                cols = {c: tbl.column(c) for c in
                        ("key", "n", "total", "pane_index")}
                rows = zip(cols["key"].to_pylist(),
                           tbl.column("window_start").cast(pa.int64()).to_pylist(),
                           tbl.column("window_end").cast(pa.int64()).to_pylist(),
                           cols["n"].to_pylist(), cols["total"].to_pylist(),
                           cols["pane_index"].to_pylist())
                for key, start, stop, n, total, idx in rows:
                    panes.append({"key": key, "start": start, "end": stop, "n": n,
                                  "total": total, "pane_index": idx})
                    if key != FLUSH_KEY:
                        src = contrib.newest_file(key, start, stop, fed_i)
                        latencies.append(t_arrive - created[src] / 1e6)
            seen = end
        return panes, latencies


def run(spark, seed: int, seconds: float, root: str, tracer: tr.Tracer) -> dict:
    """Both kernels consume one drop directory; each round lands one file
    and waits for both queries to finish every batch it causes."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    files = inputs.event_rounds(seed, MAX_FILES)
    in_dir = os.path.join(root, "input")
    staging = os.path.join(root, "staging")
    os.makedirs(in_dir)
    os.makedirs(staging)
    layer = dict.fromkeys(
        ("streaming.batches", "streaming.empty_batches", "streaming.feed_s",
         "streaming.add_batch_s", "streaming.planning_s", "streaming.wal_commit_s",
         "streaming.state_update_s", "streaming.state_commit_s",
         "streaming.state_rows_peak", "streaming.state_mb",
         "streaming.rows_dropped_late"), 0)
    created: list[int] = []
    fed: list[dict] = []

    def feed(cols: dict) -> None:
        t0 = time.perf_counter()
        i = len(created)
        created.append(time.time_ns() // 1000)
        tmp = os.path.join(staging, f"f{i:05d}.parquet")
        _write_file(tmp, cols, created[-1])
        os.rename(tmp, os.path.join(in_dir, f"f{i:05d}.parquet"))
        layer["streaming.feed_s"] += time.perf_counter() - t0

    rounds: list[float] = []
    t_start = time.perf_counter()
    queries: list[_Query] = []
    try:
        with tracer.span("start"):
            for name, build in KERNELS:
                queries.append(_Query(spark, name, build, in_dir, root))
        cold = None
        while len(fed) < MAX_FILES and (
            len(fed) <= MIN_ROUNDS or time.perf_counter() - t_start < seconds
        ):
            cols = files[len(fed)]
            with tracer.span("round"):
                t_land = time.perf_counter()
                feed(cols)
                fed.append(cols)
                for q in queries:
                    q.drain(tracer.enabled)
                t_done = time.perf_counter()
            if cold is None:
                cold = t_done - t_start
            else:
                rounds.append(t_done - t_land)
        steady_wall = time.perf_counter() - t_start - cold
        with tracer.span("flush"):
            feed(_flush_file(len(fed)))
            for q in queries:
                q.drain(tracer.enabled)
    finally:
        for q in queries:
            q.q.stop()

    latencies, failed, errors, panes = [], [], {}, {}
    for q in queries:
        _progress_layer([q.progress[b] for b in sorted(q.progress)], layer)
        got, lat = q.panes_and_latencies(fed, created)
        latencies += lat
        panes[q.name] = len(got)
        issues = _check(got, _reference(fed, q.name))
        if issues:
            failed.append(q.name)
            errors[q.name] = [f"{len(issues)} issues"] + issues[:5]
    batches = layer["streaming.batches"]
    layer["streaming.useful_batch_ratio"] = (
        (batches - layer["streaming.empty_batches"]) / batches if batches else 0.0)
    steady_events = sum(len(f["event_id"]) for f in fed[1:])
    return {
        "attempted": len(queries),
        "failed": failed,
        "errors": errors,
        "cold_s": cold,
        "warm_s": statistics.median(rounds),
        "rounds": len(fed),
        "round_s": rounds,
        "panes": panes,
        "events_per_s": steady_events / steady_wall,
        "latency_samples": sorted(latencies),
        "layer": layer,
    }
