"""The repository benchmark (see BENCHMARK.json and perfbench/README.md).

    python3 perfbench/run.py --workload curation_media --seed 1 --seconds 30 --trace 0

Runs one workload in this fresh process on local[<cores>], checks its
outputs (DuckDB oracle for batch, a group-by reference for streams) and
prints, as the last stdout line, one JSON object: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer metrics of a traced run.
Everything it writes stays under perfbench/_work/.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
WORKLOADS = ("curation_media", "stream_triggers")
UNTRACED_LOG = os.path.join(WORK, "untraced.jsonl")

END_TO_END_UNITS = {
    "setup_s": "s", "cold_s": "s", "warm_s": "s", "latency_p50_s": "s",
    "latency_p90_s": "s",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def _percentile(sorted_vals: list[float], q: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    rank = max(1, math.ceil(q * len(sorted_vals)))
    return sorted_vals[rank - 1]


def _isolate(run_dir: str) -> None:
    """Point every scratch path of Python, Spark and the engine into the
    run's own directory (the JVM inherits this environment)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    # every JVM: temp files here, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()


def _confs(run_dir: str, traced: bool) -> dict[str, str]:
    confs = {}
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return confs


def _source_digest() -> str:
    """Hash of the engine's and the benchmark's Python sources: the version
    of the code an untraced cold_s was measured on."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "dataflowjavasdk_spark"), HERE):
        for d, subdirs, files in os.walk(top):
            subdirs[:] = sorted(x for x in subdirs if x not in ("_work", "__pycache__"))
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _untraced_cold(args, digest: str) -> float:
    """Median cold_s of the untraced runs recorded for this workload, seed
    and source digest; with none recorded, one untraced run of the same
    seed in a fresh process."""
    records = []
    if os.path.exists(UNTRACED_LOG):
        with open(UNTRACED_LOG) as fh:
            records = [json.loads(line) for line in fh]
    colds = [r["cold_s"] for r in records
             if (r["workload"], r["seed"], r.get("digest")) == (args.workload, args.seed, digest)]
    if colds:
        return statistics.median(colds[-5:])
    out = subprocess.run(
        [sys.executable, __file__, "--workload", args.workload, "--seed",
         str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
        timeout=170)
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]["cold_s"]["value"]


def _shutdown(spark, tr) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until no process this run started is left, Python workers included."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while len(tr.tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dataflowjavasdk_spark")):
        print("perfbench: the dataflowjavasdk_spark package is not beside "
              "perfbench/; run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    traced = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    os.makedirs(run_dir)
    try:
        return _run(args, traced, run_id, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, traced: bool, run_id: str, run_dir: str) -> int:
    _isolate(run_dir)
    digest = _source_digest()
    import instrument as tr
    import inputs

    batch = args.workload == "curation_media"
    if batch:
        import batch as wl
        from dataflowjavasdk_spark.queries import all_oracles

        sf_dir = inputs.batch_inputs(WORK, args.seed)
        oracle = inputs.oracle_rows(WORK, args.seed, sf_dir, wl.CURATION_MEDIA,
                                    all_oracles())
    from dataflowjavasdk_spark.session import get_spark

    tracer = tr.Tracer(traced, run_id)
    cores = os.cpu_count() or 1
    steal0 = tr.host_steal_s()
    with tr.MemorySampler() as mem:
        t0 = time.perf_counter()
        with tracer.span("setup"):
            # Streaming state keeps its partition count for the query's
            # life; the stream's two queries share the cores, so each gets
            # cores / 2 state partitions. Batch keeps the engine's default
            # and AQE coalescing.
            spark = get_spark(master=f"local[{cores}]",
                              shuffle_partitions=None if batch else max(1, cores // 2),
                              extra_confs=_confs(run_dir, traced))
        setup_s = time.perf_counter() - t0
        try:
            if batch:
                res = wl.run(spark, args.workload, sf_dir, oracle, args.seconds, tracer)
            else:
                import stream

                res = stream.run(spark, args.seed, args.seconds, run_dir, tracer)
        finally:
            _shutdown(spark, tr)

    lat = res.pop("latency_samples")
    values = {
        "setup_s": setup_s,
        "cold_s": res["cold_s"],
        "warm_s": res["warm_s"],
        "latency_p50_s": _percentile(lat, 0.50),
        "latency_p90_s": _percentile(lat, 0.90),
    }
    peak_pss_mb = mem.peak_bytes / tr.MIB
    # tails beyond p90 only where at least ten samples lie beyond them
    detail = {"workload": args.workload, "seed": args.seed,
              "host_steal_s": tr.host_steal_s() - steal0, "peak_pss_mb": peak_pss_mb,
              "latency_samples": len(lat),
              **{f"latency_p{q}_s": _percentile(lat, q / 100)
                 for q in (95, 99) if len(lat) * (1 - q / 100) >= 10},
              **{k: v for k, v in res.items() if k != "layer"}}

    if traced:
        layer = dict(res["layer"], **{"memory.peak_pss_mb": peak_pss_mb})
        log_dir = os.path.join(run_dir, "eventlog")
        # batch: the cold pass's jobs (group <workload>/<query>); stream:
        # every job, all of them micro-batches
        layer.update(tr.read_event_log(
            log_dir, (lambda g: g.startswith(f"{args.workload}/") and not g.endswith("/warm"))
            if batch else (lambda g: True)))
        if batch:
            import probes

            layer.update(probes.run(args.seed, tracer))
        layer["trace.overhead_s"] = res["cold_s"] - _untraced_cold(args, digest)
        tracer.write(os.path.join(WORK, "traces", f"{run_id}.json"))
        metrics = _per_layer(layer)
    else:
        os.makedirs(WORK, exist_ok=True)
        with open(UNTRACED_LOG, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                 "digest": digest, "cold_s": res["cold_s"]}) + "\n")
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
        detail["metrics"] = values

    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": not res["failed"],
        "attempted": res["attempted"],
        "failed": len(res["failed"]),
        "metrics": metrics,
    }))
    return 0


def _per_layer(layer: dict) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer"]
    return {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec}


if __name__ == "__main__":
    sys.exit(main())
