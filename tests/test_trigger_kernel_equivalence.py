"""The per-key window kernel against the per-(key, window) kernel it
replaced, without Spark.

`_reference_window_kernel` is the earlier `triggered_window_aggregate`
function, kept here as a test-only reference: one applyInPandasWithState
group per (key, window), each with its own state row and timeout. The
engine's kernel groups by key and keeps every open window as a cell of
the key's state. `_drive` runs either one the way Spark runs a streaming
applyInPandasWithState query with EventTimeTimeout, so dozens of
trigger configurations and event orders are compared in seconds, pane by
pane and micro-batch by micro-batch.
"""

from __future__ import annotations

import datetime
import json
from collections.abc import Callable, Iterator

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dataflowjavasdk_spark.streaming.triggers import (
    ACCUMULATING,
    CLOSING_FIRE_ALWAYS,
    CLOSING_FIRE_IF_NON_EMPTY,
    DISCARDING,
    OUTPUT_END_OF_WINDOW,
    OUTPUT_EARLIEST,
    OUTPUT_LATEST,
    AfterCount,
    AfterFirst,
    AfterWatermark,
    OrFinally,
    Repeatedly,
    _trigger_step,
    _window_kernel,
)

# Epoch ms of an hour boundary, so every window grid below starts on it.
T0 = 1_699_999_200_000
_EPOCH = datetime.datetime(1970, 1, 1)

def _reference_window_kernel(
    keys, trigger, accumulation, lateness_ms, output_time, closing_behavior, ts_col="ts"
) -> Callable:
    """The per-(key, window) kernel the engine ran before windows became
    cells of a per-key state: one state row of 11 fields per window."""

    def process(key: tuple, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        *user_key, w_start, w_end = key
        w_end_ms = int(pd.Timestamp(w_end).timestamp() * 1000)
        spark_wm = state.getCurrentWatermarkMs()
        watermark_ms = spark_wm + lateness_ms
        now_ms = 0

        if state.exists:
            (acc_n, acc_sum, pane_n, pane_sum, pane_idx, on_time_fired, dyn_json,
             acc_min, acc_max, pane_min, pane_max) = state.get
            dyn = json.loads(dyn_json)
        else:
            acc_n = pane_n = pane_idx = 0
            acc_sum = pane_sum = 0.0
            on_time_fired = False
            dyn = {}
            acc_min = pane_min = acc_max = pane_max = -1

        new_n, new_sum = 0, 0.0
        new_min, new_max = -1, -1
        for pdf in pdfs:
            if len(pdf):
                new_n += len(pdf)
                new_sum += float(pdf["__v__"].sum())
                lo = int(pd.Timestamp(pdf[ts_col].min()).timestamp() * 1000)
                hi = int(pd.Timestamp(pdf[ts_col].max()).timestamp() * 1000)
                new_min = lo if new_min < 0 else min(new_min, lo)
                new_max = max(new_max, hi)

        if watermark_ms >= w_end_ms + lateness_ms and not state.exists:
            return

        acc_n += new_n
        acc_sum += new_sum
        pane_n += new_n
        pane_sum += new_sum
        if new_n:
            acc_min = new_min if acc_min < 0 else min(acc_min, new_min)
            acc_max = max(acc_max, new_max)
            pane_min = new_min if pane_min < 0 else min(pane_min, new_min)
            pane_max = max(pane_max, new_max)

        panes: list[dict] = []

        def _emit_ts(lo: int, hi: int):
            if output_time == OUTPUT_END_OF_WINDOW:
                ms = w_end_ms - 1
            elif output_time == OUTPUT_EARLIEST:
                ms = lo
            else:
                ms = hi
            return pd.Timestamp(ms, unit="ms") if ms >= 0 else pd.NaT

        def emit(timing: str, is_last: bool) -> None:
            nonlocal pane_idx, pane_n, pane_sum, pane_min, pane_max
            n, total = (acc_n, acc_sum) if accumulation == ACCUMULATING else (pane_n, pane_sum)
            pane = dict(
                zip(keys, user_key),
                window_start=w_start,
                window_end=w_end,
                n=n,
                total=total,
                pane_index=pane_idx,
                pane_timing=timing,
                is_first=pane_idx == 0,
                is_last=is_last,
            )
            if output_time is not None:
                lo, hi = (
                    (acc_min, acc_max)
                    if accumulation == ACCUMULATING
                    else (pane_min, pane_max)
                )
                pane["emit_ts"] = _emit_ts(lo, hi)
            panes.append(pane)
            pane_idx += 1
            pane_n, pane_sum = 0, 0.0
            pane_min, pane_max = -1, -1

        if watermark_ms < w_end_ms:
            if trigger.early is not None and new_n:
                trigger.early.on_elements(dyn, "e", new_n, now_ms)
                if trigger.early.should_fire(dyn, "e", now_ms):
                    trigger.early.on_fire(dyn, "e")
                    emit("EARLY", is_last=False)
            state.update((acc_n, acc_sum, pane_n, pane_sum, pane_idx, False,
                          json.dumps(dyn), acc_min, acc_max, pane_min, pane_max))
            state.setTimeoutTimestamp(max(w_end_ms - lateness_ms, spark_wm + 1))
        else:
            final_horizon = watermark_ms >= w_end_ms + lateness_ms
            emitted_closing = False
            if not on_time_fired:
                emit("ON_TIME", is_last=final_horizon)
                on_time_fired = True
                emitted_closing = final_horizon
            elif new_n:
                fire_late = True
                if trigger.late is not None:
                    trigger.late.on_elements(dyn, "l", new_n, now_ms)
                    fire_late = trigger.late.should_fire(dyn, "l", now_ms)
                    if fire_late:
                        trigger.late.on_fire(dyn, "l")
                if fire_late:
                    emit("LATE", is_last=final_horizon)
                    emitted_closing = final_horizon
            if final_horizon:
                if not emitted_closing and (
                    closing_behavior == CLOSING_FIRE_ALWAYS or pane_n
                ):
                    emit("LATE", is_last=True)
                state.remove()
            else:
                state.update((acc_n, acc_sum, pane_n, pane_sum, pane_idx, True,
                              json.dumps(dyn), acc_min, acc_max, pane_min, pane_max))
                state.setTimeoutTimestamp(max(w_end_ms, spark_wm + 1))

        if panes:
            yield pd.DataFrame(panes)

    return process


class _GroupState:
    """GroupState under Spark's rules for EventTimeTimeout
    (pyspark/sql/streaming/state.py): the timeout is reset on every call,
    and may not be set behind the watermark."""

    def __init__(self, value: tuple | None, watermark_ms: int):
        self._value = value
        self._watermark_ms = watermark_ms
        self.timeout = -1

    @property
    def exists(self) -> bool:
        return self._value is not None

    @property
    def get(self) -> tuple:
        assert self._value is not None
        return self._value

    def update(self, value: tuple) -> None:
        self._value = tuple(value)

    def remove(self) -> None:
        self._value = None

    def setTimeoutTimestamp(self, ms: int) -> None:
        if ms <= 0 or ms < self._watermark_ms:
            raise ValueError(f"timeout {ms} behind watermark {self._watermark_ms}")
        self.timeout = ms

    def getCurrentWatermarkMs(self) -> int:
        return self._watermark_ms


def _windows(ts_ms: int, size_ms: int, period_ms: int) -> list[tuple[int, int]]:
    """Spark's window() assignment (offset 0): every [s, s + size) with s on
    the period grid that holds ts."""
    last = ts_ms - ts_ms % period_ms
    return [(s, s + size_ms) for s in range(last - size_ms + period_ms, last + 1, period_ms)]


def _ts(ms: int) -> datetime.datetime:
    return _EPOCH + datetime.timedelta(milliseconds=ms)


def _per_window_groups(key, ts_ms, value, size_ms, period_ms):
    for s, e in _windows(ts_ms, size_ms, period_ms):
        yield (key, _ts(s), _ts(e)), {"key": key, "window_start": _ts(s),
                                      "window_end": _ts(e), "__v__": value, "ts": ts_ms}


def _per_key_groups(key, ts_ms, value, size_ms, period_ms):
    for s, e in _windows(ts_ms, size_ms, period_ms):
        yield (key,), {"key": key, "__ws__": s, "__we__": e, "__v__": value, "ts": ts_ms}


def _frames(rows: list[dict], chunk: int) -> Iterator[pd.DataFrame]:
    for i in range(0, len(rows), chunk):
        pdf = pd.DataFrame(rows[i:i + chunk])
        pdf["ts"] = pd.to_datetime(pdf["ts"], unit="ms")
        yield pdf


def _pane_rows(pdf: pd.DataFrame) -> list[tuple]:
    def ms(x):
        return None if pd.isna(x) else pd.Timestamp(x).value // 1_000_000

    return [
        (r["key"], ms(r["window_start"]), ms(r["window_end"]), int(r["n"]),
         float(r["total"]), int(r["pane_index"]), r["pane_timing"],
         bool(r["is_first"]), bool(r["is_last"]), ms(r.get("emit_ts")))
        for r in pdf.to_dict("records")
    ]


def _drive(process, groups, batches, size_ms, period_ms, delay_ms, chunk=3):
    """Run `process` over `batches` of (key, ts_ms, value) events the way
    Spark runs applyInPandasWithState with EventTimeTimeout
    (FlatMapGroupsWithStateExec): rows at or behind the batch's watermark
    are dropped; groups with rows are called first, then every other group
    whose timeout is strictly behind the watermark; the next batch's
    watermark is max(watermark, max event time of this batch − delay), and
    a batch that moves it is followed by a no-data batch.

    Returns the panes of each micro-batch as a sorted list."""
    store: dict[tuple, tuple[tuple, int]] = {}
    out: list[list[tuple]] = []

    def micro_batch(events, watermark_ms):
        grouped: dict[tuple, list[dict]] = {}
        for key, ts_ms, value in events:
            if ts_ms > watermark_ms:
                for g, row in groups(key, ts_ms, value, size_ms, period_ms):
                    grouped.setdefault(g, []).append(row)
        calls = [(g, rows) for g, rows in grouped.items()] + [
            (g, []) for g, (_, timeout) in list(store.items())
            if g not in grouped and 0 <= timeout < watermark_ms
        ]
        panes = []
        for g, rows in calls:
            value = store[g][0] if g in store else None
            state = _GroupState(value, watermark_ms)
            for pdf in process(g, _frames(rows, chunk), state):
                panes += _pane_rows(pdf)
            if state.exists:
                store[g] = (state.get, state.timeout)
            else:
                store.pop(g, None)
        out.append(sorted(panes, key=repr))

    watermark_ms = 0
    for events in batches:
        micro_batch(events, watermark_ms)
        if events:
            moved = max(watermark_ms, max(ts for _, ts, _ in events) - delay_ms)
            if moved != watermark_ms:
                watermark_ms = moved
                micro_batch([], watermark_ms)
    return out


def _kernels(trigger, accumulation, lateness_ms, output_time, closing):
    step = _trigger_step(["key"], trigger, accumulation, lateness_ms, output_time, closing)
    return (
        _reference_window_kernel(["key"], trigger, accumulation, lateness_ms,
                                 output_time, closing),
        _window_kernel(step, "ts"),
    )


_EARLY = [
    None,
    AfterCount(2),
    Repeatedly(AfterCount(2)),
    AfterFirst((AfterCount(3), AfterCount(5))),
    OrFinally(main=Repeatedly(AfterCount(1)), until=AfterCount(3)),
]


@st.composite
def _scenarios(draw):
    size_s = draw(st.sampled_from([20, 30, 60]))
    sliding = draw(st.booleans())
    period_s = draw(st.sampled_from([size_s // 2, size_s // 3])) if sliding else size_s
    n_batches = draw(st.integers(1, 6))
    batches = []
    for b in range(n_batches):
        # Event seconds drift forward by ~40 s a batch with up to 60 s of
        # disorder, so watermarks advance and late data lands on open,
        # closed and collected windows. The +500 ms keeps every watermark
        # off the window grid (see test_per_key_kernel_fires_on_time_at_exact_end).
        events = draw(st.lists(
            st.tuples(st.sampled_from("abc"), st.integers(max(0, 40 * b - 60), 40 * b + 40),
                      st.integers(0, 9)),
            max_size=10,
        ))
        batches.append([(k, T0 + sec * 1000 + 500, float(v)) for k, sec, v in events])
    # a last event far ahead closes every window
    batches.append([("zz", T0 + 3_600_500, 0.0)])
    return dict(
        size_ms=size_s * 1000,
        period_ms=period_s * 1000,
        lateness_ms=draw(st.sampled_from([0, 15_000, 30_000, 60_000])),
        delay_ms=draw(st.sampled_from([0, 5_000, 10_000])),
        trigger=AfterWatermark(early=draw(st.sampled_from(_EARLY)),
                               late=draw(st.sampled_from([None, AfterCount(1), AfterCount(2)]))),
        accumulation=draw(st.sampled_from([ACCUMULATING, DISCARDING])),
        output_time=draw(st.sampled_from(
            [None, OUTPUT_END_OF_WINDOW, OUTPUT_EARLIEST, OUTPUT_LATEST])),
        closing=draw(st.sampled_from([CLOSING_FIRE_IF_NON_EMPTY, CLOSING_FIRE_ALWAYS])),
        chunk=draw(st.sampled_from([2, 5, 100])),
        batches=batches,
    )


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_scenarios())
def test_per_key_window_kernel_matches_per_window_reference(sc):
    """Fixed and sliding windows under early AfterCount/AfterFirst/OrFinally,
    late AfterCount, both accumulation modes, every output_time policy and
    both closing behaviours: the per-key kernel emits the same panes as
    the per-(key, window) reference in every micro-batch. Values are whole
    numbers, so every summation order is exact."""
    reference, kernel = _kernels(sc["trigger"], sc["accumulation"], sc["lateness_ms"],
                                 sc["output_time"], sc["closing"])
    spark_delay_ms = sc["delay_ms"] + sc["lateness_ms"]
    args = (sc["batches"], sc["size_ms"], sc["period_ms"], spark_delay_ms, sc["chunk"])
    want = _drive(reference, _per_window_groups, *args)
    got = _drive(kernel, _per_key_groups, *args)
    assert got == want


def test_per_key_kernel_fires_on_time_at_exact_end():
    """The one timing difference. When the Beam watermark sits exactly on a
    window's end and the key is called for another window, the per-key
    kernel fires that window's ON_TIME pane in that batch: the watermark has
    passed its maxTimestamp (end − 1 ms). The per-(key, window) reference
    waits for the cell's own timeout, which Spark fires only once the
    watermark is strictly past it — here one batch later."""
    reference, kernel = _kernels(AfterWatermark(), ACCUMULATING, 0, None,
                                 CLOSING_FIRE_IF_NON_EMPTY)
    batches = [
        # a@10 s opens [0, 60); a@60 s opens [60, 120) and moves the
        # watermark to exactly 60 s
        [("a", T0 + 10_000, 1.0), ("a", T0 + 60_000, 2.0)],
        # a@70 s lands in [60, 120) while the watermark is still 60 s
        [("a", T0 + 70_000, 4.0)],
    ]
    on_time = ("a", T0, T0 + 60_000, 1, 1.0, 0, "ON_TIME", True, True, None)
    args = (batches, 60_000, 60_000, 0)
    # micro-batches: data 1, no-data at wm 60 s, data 2, no-data at wm 70 s
    assert _drive(kernel, _per_key_groups, *args) == [[], [], [on_time], []]
    assert _drive(reference, _per_window_groups, *args) == [[], [], [], [on_time]]
