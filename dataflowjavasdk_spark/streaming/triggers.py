"""Trigger kernel: the Beam trigger grammar on applyInPandasWithState.

This is the engine's one genuinely custom component (SURVEY.md §4.2, §7.2):
the reference implements it as ~1k LoC of runner machinery (historical
sdk/util/ReduceFnRunner.java + TriggerRunner.java + WatermarkHold.java +
PaneInfoTracker.java; triggers under sdk/transforms/windowing/:
AfterWatermark, AfterPane.elementCountAtLeast, AfterProcessingTime,
Repeatedly, AfterFirst, AfterAll — Dataflow VLDB 2015 §2.3-2.4).

Model implemented per key, each window a cell (namespace) of the key's
state:
- buffered accumulators (count + sum v1) ≡ SystemReduceFn state
- a trigger state machine deciding when panes fire
- PaneInfo synthesis: timing EARLY/ON_TIME/LATE, pane_index,
  is_first/is_last — absent natively in Spark
- accumulatingFiredPanes vs discardingFiredPanes
- allowed lateness: late data within the horizon fires LATE panes;
  beyond it state is garbage-collected and stragglers are dropped
  (identical to the reference's lateness contract)

Execution: one stateful shuffle on the key; per micro-batch each key
group gets its new rows (Arrow batches) + its GroupState, and one
trigger step (`_trigger_step`, shared by the fixed/sliding and the
session kernel) walks all of the key's windows, as ReduceFnRunner does.
The key's one event-time timeout is its earliest window deadline: the
watermark passing a window end (on-time pane) or window end + lateness
(cleanup). Scale: state is per key, holding its open windows, and
bounded by lateness GC — the same bound Windmill enforces; swap the
state store to RocksDB for large key spaces (session.py note).

Semantic deviations (documented, SURVEY.md §7.2):
- processing-time triggers evaluate at micro-batch boundaries, not
  arbitrary wall-clock instants (Spark has no per-key processing timers in
  applyInPandasWithState with event-time timeouts active).
- the on-time pane needs a watermark advance past window end, which in a
  file-replay world means one more batch must arrive (Spark watermarks
  advance per batch).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from time import time as _now

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# Trigger grammar (static config objects; per-key dynamic state is a JSON
# dict living inside the group state, keyed by the trigger's tree path)
# --------------------------------------------------------------------------


class Trigger:
    """Sub-trigger protocol: mutate dynamic state on elements, answer
    should_fire, reset on fire."""

    def on_elements(self, dyn: dict, path: str, n_new: int, now_ms: int) -> None:
        pass

    def should_fire(self, dyn: dict, path: str, now_ms: int) -> bool:
        raise NotImplementedError

    def on_fire(self, dyn: dict, path: str) -> None:
        pass


@dataclass(frozen=True)
class AfterCount(Trigger):
    """AfterPane.elementCountAtLeast(n) (historical
    sdk/transforms/windowing/AfterPane.java)."""

    n: int

    def on_elements(self, dyn, path, n_new, now_ms):
        dyn[path + ".c"] = dyn.get(path + ".c", 0) + n_new

    def should_fire(self, dyn, path, now_ms):
        return dyn.get(path + ".c", 0) >= self.n

    def on_fire(self, dyn, path):
        dyn[path + ".c"] = 0


@dataclass(frozen=True)
class AfterProcessingTime(Trigger):
    """AfterProcessingTime.pastFirstElementInPane().plusDelayOf(delay_ms)
    (historical sdk/transforms/windowing/AfterProcessingTime.java).
    Evaluated at micro-batch boundaries (see module deviation note)."""

    delay_ms: int

    def on_elements(self, dyn, path, n_new, now_ms):
        dyn.setdefault(path + ".first", now_ms)

    def should_fire(self, dyn, path, now_ms):
        first = dyn.get(path + ".first")
        return first is not None and now_ms >= first + self.delay_ms

    def on_fire(self, dyn, path):
        dyn.pop(path + ".first", None)


@dataclass(frozen=True)
class Repeatedly(Trigger):
    """Repeatedly.forever(t): re-arms its sub-trigger after every fire."""

    trigger: Trigger

    def on_elements(self, dyn, path, n_new, now_ms):
        self.trigger.on_elements(dyn, path + ".r", n_new, now_ms)

    def should_fire(self, dyn, path, now_ms):
        return self.trigger.should_fire(dyn, path + ".r", now_ms)

    def on_fire(self, dyn, path):
        self.trigger.on_fire(dyn, path + ".r")


@dataclass(frozen=True)
class AfterFirst(Trigger):
    """AfterFirst.of(a, b, ...): fires when ANY sub-trigger would."""

    triggers: tuple[Trigger, ...]

    def on_elements(self, dyn, path, n_new, now_ms):
        for i, t in enumerate(self.triggers):
            t.on_elements(dyn, f"{path}.f{i}", n_new, now_ms)

    def should_fire(self, dyn, path, now_ms):
        return any(
            t.should_fire(dyn, f"{path}.f{i}", now_ms)
            for i, t in enumerate(self.triggers)
        )

    def on_fire(self, dyn, path):
        for i, t in enumerate(self.triggers):
            t.on_fire(dyn, f"{path}.f{i}")


@dataclass(frozen=True)
class AfterAll(Trigger):
    """AfterAll.of(a, b, ...): fires when EVERY sub-trigger would."""

    triggers: tuple[Trigger, ...]

    def on_elements(self, dyn, path, n_new, now_ms):
        for i, t in enumerate(self.triggers):
            t.on_elements(dyn, f"{path}.a{i}", n_new, now_ms)

    def should_fire(self, dyn, path, now_ms):
        return all(
            t.should_fire(dyn, f"{path}.a{i}", now_ms)
            for i, t in enumerate(self.triggers)
        )

    def on_fire(self, dyn, path):
        for i, t in enumerate(self.triggers):
            t.on_fire(dyn, f"{path}.a{i}")


@dataclass(frozen=True)
class Never(Trigger):
    """Never.ever() (historical sdk/transforms/windowing/Never.java): a
    trigger that never fires — as OrFinally's main it means "only the
    until-condition ever emits"."""

    def should_fire(self, dyn, path, now_ms):
        return False


@dataclass(frozen=True)
class AfterEach(Trigger):
    """AfterEach.inOrder(t1, t2, ...) (historical
    sdk/transforms/windowing/AfterEach.java): runs sub-triggers in
    sequence — the active one fires, finishes, and hands over to the next;
    after the last finishes the trigger is done. (A sub-trigger here
    finishes on its first fire, Beam's semantics for non-repeated
    sub-triggers.)"""

    triggers: tuple[Trigger, ...]

    def _i(self, dyn, path) -> int:
        return dyn.get(path + ".i", 0)

    def on_elements(self, dyn, path, n_new, now_ms):
        i = self._i(dyn, path)
        if i < len(self.triggers):
            self.triggers[i].on_elements(dyn, f"{path}.e{i}", n_new, now_ms)

    def should_fire(self, dyn, path, now_ms):
        i = self._i(dyn, path)
        return i < len(self.triggers) and self.triggers[i].should_fire(
            dyn, f"{path}.e{i}", now_ms
        )

    def on_fire(self, dyn, path):
        i = self._i(dyn, path)
        if i < len(self.triggers):
            self.triggers[i].on_fire(dyn, f"{path}.e{i}")
            dyn[path + ".i"] = i + 1


@dataclass(frozen=True)
class OrFinally(Trigger):
    """t.orFinally(until) (historical OrFinallyTrigger in
    sdk/transforms/windowing/Trigger.java): behaves as `main` until
    `until` fires once, which finishes the trigger permanently. The
    kernel calls should_fire exactly once before on_fire, so the
    until-branch decision is stashed in dynamic state between the two."""

    main: Trigger
    until: Trigger

    def on_elements(self, dyn, path, n_new, now_ms):
        if dyn.get(path + ".done"):
            return
        self.main.on_elements(dyn, f"{path}.m", n_new, now_ms)
        self.until.on_elements(dyn, f"{path}.u", n_new, now_ms)

    def should_fire(self, dyn, path, now_ms):
        if dyn.get(path + ".done"):
            return False
        u = self.until.should_fire(dyn, f"{path}.u", now_ms)
        dyn[path + ".upending"] = u
        return u or self.main.should_fire(dyn, f"{path}.m", now_ms)

    def on_fire(self, dyn, path):
        self.main.on_fire(dyn, f"{path}.m")
        if dyn.pop(path + ".upending", False):
            dyn[path + ".done"] = True


@dataclass(frozen=True)
class AfterWatermark(Trigger):
    """AfterWatermark.pastEndOfWindow().withEarlyFirings(e).withLateFirings(l)
    — the root trigger (historical sdk/transforms/windowing/
    AfterWatermark.java). The kernel itself handles the watermark
    crossing; `early`/`late` govern speculative and refinement panes."""

    early: Trigger | None = None
    late: Trigger | None = None


ACCUMULATING = "accumulating"
DISCARDING = "discarding"

# OutputTimeFn policies (historical sdk/transforms/windowing/OutputTimeFn.java)
OUTPUT_END_OF_WINDOW = "end_of_window"
OUTPUT_EARLIEST = "earliest"
OUTPUT_LATEST = "latest"

# ClosingBehavior (historical sdk/transforms/windowing/Window.java
# ClosingBehavior.FIRE_IF_NON_EMPTY / FIRE_ALWAYS): whether the window's
# final pane at the lateness horizon fires even when nothing new arrived
# since the last firing. FIRE_ALWAYS guarantees every window emits a pane
# carrying is_last=True — downstream consumers can treat it as the
# window-closed signal.
CLOSING_FIRE_IF_NON_EMPTY = "fire_if_non_empty"
CLOSING_FIRE_ALWAYS = "fire_always"

# One window's trigger/pane state under its key: the buffered accumulators
# (count + sum ≡ SystemReduceFn state), the pane counters, and the
# OutputTimeFn accumulators (epoch ms; -1 = unset) — min/max input ts over
# all accumulated elements and over the current pane only. A live cell
# also carries its window bounds (`start`, `end`, epoch ms) and the
# trigger's dynamic state (`dyn`).
_EMPTY_CELL = dict(
    acc_n=0, acc_sum=0.0, pane_n=0, pane_sum=0.0, pane_idx=0,
    on_time_fired=False, acc_min=-1, acc_max=-1, pane_min=-1, pane_max=-1,
)


def _min_ts(a: int, b: int) -> int:
    """min of two timestamp accumulators where -1 means unset."""
    return b if a < 0 else (a if b < 0 else min(a, b))


def _out_schema(df: DataFrame, keys: list[str], output_time: str | None,
                closing_behavior: str) -> str:
    key_fields = ", ".join(f"{k} {dict(df.dtypes)[k]}" for k in keys)
    out_schema = (
        f"{key_fields}, window_start timestamp, window_end timestamp, "
        "n long, total double, pane_index long, pane_timing string, "
        "is_first boolean, is_last boolean"
    )
    if output_time is not None:
        if output_time not in (OUTPUT_END_OF_WINDOW, OUTPUT_EARLIEST, OUTPUT_LATEST):
            raise ValueError(f"unknown output_time {output_time!r}")
        out_schema += ", emit_ts timestamp"
    if closing_behavior not in (CLOSING_FIRE_IF_NON_EMPTY, CLOSING_FIRE_ALWAYS):
        raise ValueError(f"unknown closing_behavior {closing_behavior!r}")
    return out_schema


def _trigger_step(
    keys: list[str],
    trigger: AfterWatermark,
    accumulation: str,
    lateness_ms: int,
    output_time: str | None,
    closing_behavior: str,
) -> Callable:
    """The trigger step both kernels share — one key's pass of the
    ReduceFnRunner over its windows (historical sdk/util/ReduceFnRunner.java
    onTrigger + PaneInfoTracker + the GC timer).

    `step(user_key, cells, state, field)` runs the trigger on every cell
    (a window under the key, carrying `new_n` = elements folded in this
    batch): EARLY panes while the Beam watermark is before the window end,
    the ON_TIME pane once it reaches the end, LATE refinements within the
    allowed lateness, and the closing pane at the lateness horizon, where
    the cell is garbage-collected. The surviving cells are written back as
    one JSON blob under `field`, and the key's one event-time timeout is
    the earliest next deadline over them: the on-time point (end − lateness
    on Spark's clock) or, once on-time has fired, the GC point (end).
    Yields the panes as one DataFrame.
    """
    columns = [*keys, "window_start", "window_end", "n", "total", "pane_index",
               "pane_timing", "is_first", "is_last"]
    if output_time is not None:
        columns.append("emit_ts")
    # ACCUMULATING panes carry all accumulated elements, DISCARDING only
    # the ones since the last firing.
    acc = "acc" if accumulation == ACCUMULATING else "pane"
    emit_ts_field = {OUTPUT_EARLIEST: acc + "_min", OUTPUT_LATEST: acc + "_max"}.get(output_time)
    early, late = trigger.early, trigger.late

    def emit(panes: list, user_key: tuple, c: dict, timing: str, is_last: bool) -> None:
        pane = [*user_key, pd.Timestamp(c["start"], unit="ms"),
                pd.Timestamp(c["end"], unit="ms"), c[acc + "_n"], c[acc + "_sum"],
                c["pane_idx"], timing, c["pane_idx"] == 0, is_last]
        if output_time is not None:
            # END_OF_WINDOW = window end − 1 ms (Beam's maxTimestamp)
            ms = c["end"] - 1 if emit_ts_field is None else c[emit_ts_field]
            pane.append(pd.Timestamp(ms, unit="ms") if ms >= 0 else pd.NaT)
        panes.append(pane)
        c["pane_idx"] += 1
        c["pane_n"], c["pane_sum"], c["pane_min"], c["pane_max"] = 0, 0.0, -1, -1

    def step(user_key: tuple, cells: list[dict], state, field: str) -> Iterator[pd.DataFrame]:
        spark_wm = state.getCurrentWatermarkMs()
        watermark_ms = spark_wm + lateness_ms  # the Beam-true watermark
        now_ms = int(_now() * 1000)
        panes: list = []
        keep: list[dict] = []
        for c in cells:
            new_n = c.pop("new_n", 0)
            dyn = c["dyn"]
            if watermark_ms < c["end"]:
                # speculative EARLY panes
                if early is not None and new_n:
                    early.on_elements(dyn, "e", new_n, now_ms)
                    if early.should_fire(dyn, "e", now_ms):
                        early.on_fire(dyn, "e")
                        emit(panes, user_key, c, "EARLY", is_last=False)
                keep.append(c)
                continue
            final_horizon = watermark_ms >= c["end"] + lateness_ms
            emitted_closing = False
            if not c["on_time_fired"]:
                # ON_TIME: the watermark reached the window end
                emit(panes, user_key, c, "ON_TIME", is_last=final_horizon)
                c["on_time_fired"] = True
                emitted_closing = final_horizon
            elif new_n:
                # refinements within the lateness horizon
                fire_late = True
                if late is not None:
                    late.on_elements(dyn, "l", new_n, now_ms)
                    fire_late = late.should_fire(dyn, "l", now_ms)
                    if fire_late:
                        late.on_fire(dyn, "l")
                if fire_late:
                    emit(panes, user_key, c, "LATE", is_last=final_horizon)
                    emitted_closing = final_horizon
            if not final_horizon:
                keep.append(c)  # still refinable within lateness
            elif not emitted_closing and (
                closing_behavior == CLOSING_FIRE_ALWAYS or c["pane_n"]
            ):
                # Closing pane at the lateness horizon. FIRE_ALWAYS: emit
                # even though nothing new arrived since the last firing
                # (empty under DISCARDING, the running totals under
                # ACCUMULATING) — the guaranteed is_last window-closed
                # signal. Default FIRE_IF_NON_EMPTY: emit iff the pane holds
                # data not yet fired — e.g. a late element buffered by an
                # unready late trigger (AfterCount(2) with one arrival);
                # Beam fires the final pane whenever there is new data
                # since the last firing, so dropping it here would lose
                # the element's contribution forever.
                emit(panes, user_key, c, "LATE", is_last=True)

        if keep:
            state.update((json.dumps({field: keep}),))
            state.setTimeoutTimestamp(max(
                min(c["end"] if c["on_time_fired"] else c["end"] - lateness_ms
                    for c in keep),
                spark_wm + 1,
            ))
        elif state.exists:
            state.remove()
        if panes:
            yield pd.DataFrame(panes, columns=columns)

    return step


def _window_kernel(step: Callable, ts_col: str) -> Callable:
    """The applyInPandasWithState function of `triggered_window_aggregate`:
    one call per key per micro-batch. Rows arrive with their window bounds
    (`__ws__`/`__we__`, epoch ms); each window is a cell of the key's state.
    """

    def process(key: tuple, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        cells = json.loads(state.get[0])["cells"] if state.exists else []
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            pdf = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
            # fold the batch into per-window partials
            starts, first, inv = np.unique(
                pdf["__ws__"].to_numpy(), return_index=True, return_inverse=True
            )
            v = pdf["__v__"].to_numpy(dtype=np.float64)
            counts = np.bincount(inv)
            sums = np.bincount(inv, weights=np.where(np.isnan(v), 0.0, v))
            t = pdf[ts_col].to_numpy().astype("datetime64[ms]").astype(np.int64)
            lo = np.full(len(starts), np.iinfo(np.int64).max)
            hi = np.full(len(starts), -1)
            np.minimum.at(lo, inv, t)
            np.maximum.at(hi, inv, t)
            ends = pdf["__we__"].to_numpy()[first]
            spark_wm = state.getCurrentWatermarkMs()
            by_start = {c["start"]: c for c in cells}
            for i, start in enumerate(starts.tolist()):
                c = by_start.get(start)
                if c is None:
                    end = int(ends[i])
                    # GC horizon (true_wm >= end + lateness ⟺ spark_wm >=
                    # end): stragglers are dropped — do not resurrect a
                    # window the cleanup already removed.
                    if spark_wm >= end:
                        continue
                    c = by_start[start] = dict(_EMPTY_CELL, start=start, end=end, dyn={})
                n, lo_i, hi_i = int(counts[i]), int(lo[i]), int(hi[i])
                c["new_n"] = n
                c["acc_n"] += n
                c["pane_n"] += n
                c["acc_sum"] += float(sums[i])
                c["pane_sum"] += float(sums[i])
                c["acc_min"] = _min_ts(c["acc_min"], lo_i)
                c["pane_min"] = _min_ts(c["pane_min"], lo_i)
                c["acc_max"] = max(c["acc_max"], hi_i)
                c["pane_max"] = max(c["pane_max"], hi_i)
            cells = sorted(by_start.values(), key=lambda c: c["start"])
        yield from step(key, cells, state, "cells")

    return process


def triggered_window_aggregate(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    window_size: str,
    trigger: AfterWatermark,
    accumulation: str = ACCUMULATING,
    allowed_lateness: str = "0 seconds",
    ts_col: str = "ts",
    watermark_delay: str = "0 seconds",
    output_time: str | None = None,
    closing_behavior: str = CLOSING_FIRE_IF_NON_EMPTY,
    window_period: str | None = None,
) -> DataFrame:
    """Count+sum per (key, fixed window) under the full trigger grammar.

    Output: keys..., window_start, window_end, n, total, pane_index,
    pane_timing (EARLY|ON_TIME|LATE), is_first, is_last
    [, emit_ts when `output_time` is set].

    `window_period` switches assignment from FixedWindows to
    SlidingWindows.of(window_size).every(window_period): each element
    lands in size/period overlapping windows and every (key, window)
    runs the full trigger/pane lifecycle independently.

    `output_time` (end_of_window | earliest | latest) adds the pane's
    emitted event-time timestamp: END_OF_WINDOW = window end − 1 ms
    (Beam's maxTimestamp), EARLIEST/LATEST = min/max input timestamp of
    the pane's contents (all accumulated elements under ACCUMULATING,
    only the new ones under DISCARDING) — the reference's
    OutputTimeFn.outputAtEarliest/LatestInputTimestamp.

    State is per key, each open window a cell under it (Windmill's keyed
    state with the window as namespace), so each micro-batch calls the
    kernel once per key, not once per (key, window), and the key's one
    timeout is its earliest cell deadline. Every call runs the trigger on
    all of the key's cells, so a window whose end the watermark has just
    reached exactly fires its ON_TIME pane (and, at end + lateness, its
    closing pane) whenever the key is called for another window in that
    batch — Beam's rule, as the watermark has then passed the window's
    maxTimestamp (end − 1 ms). Called for nothing else, the key waits for
    its timeout, which Spark fires only once the watermark is strictly
    past it, i.e. one watermark advance later.
    """
    lateness_ms = _duration_ms(allowed_lateness)
    # Spark's stateful operator drops input rows behind ITS watermark, but
    # Beam accepts data up to `allowed_lateness` behind the true watermark.
    # Reconciliation: declare watermark_delay + lateness to Spark, so
    #   spark_wm = true_wm - lateness.
    # Rows later than lateness are then dropped by Spark itself (exactly
    # Beam's drop rule); the kernel converts back via
    #   true_wm = spark_wm + lateness
    # for all pane timing decisions.
    spark_delay_ms = _duration_ms(watermark_delay) + lateness_ms
    out_schema = _out_schema(df, keys, output_time, closing_behavior)

    # Window assignment: fixed (default) or sliding when window_period is
    # given (SlidingWindows.of(size).every(period)). Sliding uses Spark's
    # native multi-assign — the Expand is map-side and pipelined; each
    # (key, window) then owns an independent cell of its key's state,
    # exactly Beam's per-window pane semantics over overlapping windows.
    window_expr = (
        F.window(ts_col, window_size)
        if window_period is None
        else F.window(ts_col, window_size, window_period)
    )
    windowed = (
        df.withWatermark(ts_col, f"{spark_delay_ms} milliseconds")
        .withColumn("__w__", window_expr)
        .select(
            *keys,
            F.unix_millis(F.col("__w__.start")).alias("__ws__"),
            F.unix_millis(F.col("__w__.end")).alias("__we__"),
            F.col(value_col).alias("__v__"),
            # keep the watermarked event-time column in the projection:
            # extracting window fields drops the watermark tag, and the
            # stateful operator requires a watermarked column to allow
            # EventTimeTimeout.
            F.col(ts_col),
        )
    )
    step = _trigger_step(keys, trigger, accumulation, lateness_ms, output_time,
                         closing_behavior)
    return windowed.groupBy(*keys).applyInPandasWithState(
        _window_kernel(step, ts_col),
        outputStructType=out_schema,
        stateStructType="cells string",
        outputMode="update",
        timeoutConf="EventTimeTimeout",
    )


def _duration_ms(s: str) -> int:
    qty, unit = s.split()
    unit_ms = {
        "millisecond": 1, "milliseconds": 1,
        "second": 1000, "seconds": 1000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
        "day": 86_400_000, "days": 86_400_000,
    }[unit]
    return int(qty) * unit_ms


def _merge_dyn(into: dict, other: dict) -> None:
    """onMerge for trigger dynamic state: element counts add,
    AfterProcessingTime's first-element stamp takes the earliest (Beam's
    AfterDelayFromFirstElement combines with Min), AfterEach's position
    takes the furthest, and a finished OrFinally stays finished."""
    for k, v in other.items():
        if k not in into:
            into[k] = v
        elif k.endswith(".c"):
            into[k] += v
        elif k.endswith(".first"):
            into[k] = min(into[k], v)
        elif k.endswith(".i"):
            into[k] = max(into[k], v)
        else:  # .done / .upending flags
            into[k] = into[k] or v


def _session_kernel(step: Callable, ts_col: str, gap_ms: int) -> Callable:
    """The applyInPandasWithState function of `triggered_session_aggregate`:
    one call per key per micro-batch over the key's open sessions."""

    def process(key: tuple, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        sessions: list[dict] = (
            json.loads(state.get[0])["sessions"] if state.exists else []
        )

        # 1. fold new elements in as proto-sessions
        for pdf in pdfs:
            for ts_v, v in zip(pdf[ts_col], pdf["__v__"]):
                t_ms = int(pd.Timestamp(ts_v).value // 1_000_000)
                # Beam drop rule: data later than the lateness horizon
                # relative to ITS OWN session end can't resurrect GC'd
                # state; Spark's watermark already culled older rows.
                sessions.append(
                    dict(start=t_ms, end=t_ms + gap_ms, acc_n=1,
                         acc_sum=float(v), pane_n=1, pane_sum=float(v),
                         pane_idx=0, on_time_fired=False, dyn={},
                         new_n=1,
                         acc_min=t_ms, acc_max=t_ms,
                         pane_min=t_ms, pane_max=t_ms)
                )

        # 2. merge: sort all intervals, union overlapping ones, merging
        # accumulators and trigger state (onMerge: counts add, pane index
        # continues from the max, on_time stays fired if any part fired).
        sessions.sort(key=lambda s: (s["start"], s["end"]))
        merged: list[dict] = []
        for s in sessions:
            if merged and s["start"] < merged[-1]["end"]:
                m = merged[-1]
                m["end"] = max(m["end"], s["end"])
                m["acc_n"] += s["acc_n"]
                m["acc_sum"] += s["acc_sum"]
                m["pane_n"] += s["pane_n"]
                m["pane_sum"] += s["pane_sum"]
                m["pane_idx"] = max(m["pane_idx"], s["pane_idx"])
                m["on_time_fired"] = m["on_time_fired"] or s["on_time_fired"]
                m["new_n"] = m.get("new_n", 0) + s.get("new_n", 0)
                # onMerge for OutputTimeFn holds: min/max across parts
                # (-1 = unset pane accumulator after a discarding emit)
                for lo_k in ("acc_min", "pane_min"):
                    m[lo_k] = _min_ts(m[lo_k], s[lo_k])
                for hi_k in ("acc_max", "pane_max"):
                    m[hi_k] = max(m[hi_k], s[hi_k])
                _merge_dyn(m["dyn"], s["dyn"])
            else:
                merged.append(s)

        # 3. run the trigger per session; persist / GC / wake-up
        yield from step(key, merged, state, "sessions")

    return process


def triggered_session_aggregate(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    gap: str,
    trigger: AfterWatermark,
    accumulation: str = ACCUMULATING,
    allowed_lateness: str = "0 seconds",
    ts_col: str = "ts",
    watermark_delay: str = "0 seconds",
    output_time: str | None = None,
    closing_behavior: str = CLOSING_FIRE_IF_NON_EMPTY,
) -> DataFrame:
    """The trigger grammar over MERGING session windows — the streaming
    ReduceFnRunner for Sessions (historical sdk/util/ReduceFnRunner.java +
    Sessions.java): per-key state holds the open session set; each element
    is a proto-session [ts, ts + gap) merged into it (merging windows merge
    their accumulators AND their trigger state — Beam's onMerge contract);
    the watermark closes sessions (ON_TIME), late data within
    allowed_lateness refines (LATE) or opens new sessions that may re-merge.

    This is the piece native Structured Streaming cannot express:
    session_window supports only watermark-close (append) semantics, while
    this kernel runs early/late firings, accumulation modes, and PaneInfo
    over merging windows. Output: keys..., window_start, window_end, n,
    total, pane_index, pane_timing, is_first, is_last.

    Scale: state per key = open sessions only (each a few scalars), the
    same bound as Spark's native MergingSessions and Windmill's per-key
    window state; one shuffle on the key.

    `output_time` (end_of_window | earliest | latest) adds an emit_ts
    column per pane; for merging windows END_OF_WINDOW tracks the
    session's CURRENT end (end − 1 ms) at firing time, and
    EARLIEST/LATEST merge across fused sessions (onMerge takes min/max).
    """
    lateness_ms = _duration_ms(allowed_lateness)
    spark_delay_ms = _duration_ms(watermark_delay) + lateness_ms
    out_schema = _out_schema(df, keys, output_time, closing_behavior)
    windowed = df.withWatermark(ts_col, f"{spark_delay_ms} milliseconds").select(
        *keys, F.col(value_col).alias("__v__"), F.col(ts_col)
    )
    step = _trigger_step(keys, trigger, accumulation, lateness_ms, output_time,
                         closing_behavior)
    return windowed.groupBy(*keys).applyInPandasWithState(
        _session_kernel(step, ts_col, _duration_ms(gap)),
        outputStructType=out_schema,
        stateStructType="sessions string",
        outputMode="update",
        timeoutConf="EventTimeTimeout",
    )
