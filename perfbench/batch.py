"""The curation_media workload: registered queries run cold, then warm.

Cold pass: for each query, build the DataFrame (`queries.*` function) and
collect it through Arrow once, in a fresh session; `cold_s` is the wall
time of the whole pass. Then one untimed settling pass re-executes every
retained DataFrame, and timed warm passes follow until the run's measuring
time is spent (at least MIN_WARM_PASSES); `warm_s` is the sum over queries
of each query's median warm time. The latency samples are the wall times
of whole warm passes: input to every query's result, one population.
"""

from __future__ import annotations

import statistics
import time

from dataflowjavasdk_spark.queries.registry import get
from tools.check_correctness import compare

import instrument as tr

# 20 passes give 20 pass-latency samples, two of them beyond the p90.
MIN_WARM_PASSES = 20

# Heavy plan build, pins, near-dup candidate-join shuffles and the Python
# boundary: Arrow UDFs and the pure-Python media decoders.
CURATION_MEDIA = [
    "wordcount",
    "incremental_dedup",
    "jpeg_image_features",
    "audio_wav_features",
    "multimodal_curation_pipeline",
]


def _rows(tbl) -> tuple[list[str], list[tuple]]:
    cols = tbl.column_names
    data = [tbl.column(c).to_pylist() for c in cols]
    return cols, list(zip(*data)) if cols else []


def run(spark, workload: str, sf_dir: str, oracle: dict, seconds: float,
        tracer: tr.Tracer) -> dict:
    names = CURATION_MEDIA
    sc = spark.sparkContext
    traced = tracer.enabled
    dfs, cold, failed, errors = {}, {}, [], {}
    layer = {"queries.build_s": 0.0, "queries.first_exec_s": 0.0,
             "queries.plan_s": 0.0}
    if traced:
        codegen0 = tr.codegen_totals(spark)

    t_start = time.perf_counter()
    with tracer.span("cold"):
        for n in names:
            if traced:
                sc.setJobGroup(f"{workload}/{n}", n)
            t0 = time.perf_counter()
            try:
                with tracer.span(f"query/{n}"):
                    with tracer.span("build"):
                        df = get(n).fn(spark, sf_dir)
                    t1 = time.perf_counter()
                    with tracer.span("execute"):
                        tbl = df.toArrow()
            except Exception as exc:  # a failing query is a measured defect
                failed.append(n)
                errors[n] = f"{type(exc).__name__}: {exc}"[:300]
                continue
            t2 = time.perf_counter()
            cold[n] = t2 - t0
            layer["queries.build_s"] += t1 - t0
            layer["queries.first_exec_s"] += t2 - t1
            dfs[n] = (df, tbl)
    cold_s = time.perf_counter() - t_start

    if traced:
        codegen1 = tr.codegen_totals(spark)
        layer["queries.codegen_classes"] = codegen1[0] - codegen0[0]
        layer["queries.codegen_s"] = codegen1[1] - codegen0[1]
        layer["trace.cold_coverage"] = tracer.total("query/") / cold_s
        from dataflowjavasdk_spark.plans.audit import audit

        plan_totals = dict.fromkeys(
            ("plans.exchanges", "plans.python_nodes", "plans.codegen_stages",
             "plans.smj_joins", "plans.broadcast_joins"), 0)
        for df, _ in dfs.values():
            layer["queries.plan_s"] += tr.plan_phases_s(df)
            a = audit(df)
            plan_totals["plans.exchanges"] += a.exchanges
            plan_totals["plans.python_nodes"] += a.python_evals
            plan_totals["plans.codegen_stages"] += a.wholestage_codegen
            plan_totals["plans.smj_joins"] += a.sort_merge_joins
            plan_totals["plans.broadcast_joins"] += a.broadcast_joins
        layer.update(plan_totals)

    # Correctness against the DuckDB oracle, outside the timed passes.
    for n, (_, tbl) in dfs.items():
        cols, rows = _rows(tbl)
        duck_cols, duck_rows = oracle[n]
        issues, _ = compare(rows, cols, duck_rows, duck_cols)
        if issues:
            failed.append(n)
            errors[n] = "; ".join(issues)[:300]

    def warm_pass(times: dict[str, list[float]]) -> float:
        t_pass = time.perf_counter()
        for n, (df, _) in dfs.items():
            if traced:
                sc.setJobGroup(f"{workload}/{n}/warm", n)
            t0 = time.perf_counter()
            df.toArrow()
            times[n].append(time.perf_counter() - t0)
        return time.perf_counter() - t_pass

    with tracer.span("settle"):
        warm_pass({n: [] for n in dfs})
    warm: dict[str, list[float]] = {n: [] for n in dfs}
    pass_s: list[float] = []
    while len(pass_s) < MIN_WARM_PASSES or time.perf_counter() - t_start < seconds:
        with tracer.span("warm_pass"):
            pass_s.append(warm_pass(warm))

    if traced:
        layer["pins.count"], layer["pins.mb"] = tr.pinned_blocks(spark)
        sc.setJobGroup("", "")
    return {
        "attempted": len(names),
        "failed": sorted(set(failed)),
        "errors": errors,
        "cold_s": cold_s,
        "warm_s": sum(statistics.median(ts) for ts in warm.values()),
        "warm_passes": len(pass_s),
        "latency_samples": sorted(pass_s),
        "per_query": {n: {"cold_s": cold.get(n), "warm": warm.get(n)} for n in names},
        "layer": layer,
    }
