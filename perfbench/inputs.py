"""Seeded benchmark inputs and the cached DuckDB oracle.

Batch inputs are derived from the sf0.01 fixture copy in ``fixtures/``:
every table's rows are permuted by the seed, and every key family is
relabeled by one seeded bijection of its values, applied to the primary key
and to each foreign key that refers to it (as ``tools/synthesize_sf.py``
offsets keys), so joins, group sizes and value domains are those of the
fixtures while row order and key values change with the seed.
``nation``/``region`` stay constant, like TPC-H's fixed dimensions.

The event stream of the ``stream_triggers`` workload is generated from the
seed alone (``event_rounds``).

Both are written once per seed under the work directory, outside every
timed region; DuckDB oracle answers are cached next to them.
"""

from __future__ import annotations

import hashlib
import os
import pickle

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
TABLES = (
    "region nation supplier customer part orders lineitem events documents "
    "embeddings"
).split()

# key family -> (table, column) pairs that carry it. events.user_id refers to
# customer (the referential-integrity queries join them), and the retrieval
# queries treat vec_id and doc_id as one id space.
KEY_FAMILIES = {
    "custkey": [("customer", "c_custkey"), ("orders", "o_custkey"), ("events", "user_id")],
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "partkey": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "suppkey": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "eventkey": [("events", "event_id")],
    "dockey": [("documents", "doc_id"), ("embeddings", "vec_id")],
}
CONSTANT_TABLES = ("region", "nation")


def _relabel(tables: dict[str, pa.Table], rng: np.random.Generator) -> None:
    for members in KEY_FAMILIES.values():
        values = np.unique(
            np.concatenate([tables[t].column(c).to_numpy() for t, c in members])
        )
        image = rng.permutation(values)
        for t, c in members:
            col = tables[t].column(c)
            mapped = image[np.searchsorted(values, col.to_numpy())]
            i = tables[t].column_names.index(c)
            tables[t] = tables[t].set_column(i, c, pa.array(mapped, col.type))


def batch_inputs(work: str, seed: int) -> str:
    """Directory holding the seed's ten tables, written on first use."""
    out = os.path.join(work, "inputs", f"seed_{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    rng = np.random.default_rng(seed)
    tables = {t: pq.read_table(os.path.join(FIXTURES, f"{t}.parquet")) for t in TABLES}
    _relabel(tables, rng)
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        tbl = tables[t]
        if t not in CONSTANT_TABLES:
            tbl = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
        pq.write_table(tbl, os.path.join(out, f"{t}.parquet"))
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def oracle_rows(work: str, seed: int, sf_dir: str, names: list[str], sqls: dict[str, str]):
    """{query: (columns, rows)} from DuckDB over the seed's inputs, cached
    per seed and per oracle text so a changed oracle is recomputed."""
    import duckdb

    digest = hashlib.sha256(
        "\0".join(f"{n}\0{sqls[n]}" for n in names).encode()
    ).hexdigest()[:16]
    path = os.path.join(work, "oracle", f"seed_{seed}_{digest}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:  # written by this module only
            return pickle.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    answers = {}
    for n in names:
        cur = con.execute(sqls[n])
        answers[n] = ([d[0] for d in cur.description], cur.fetchall())
    con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "wb") as fh:
        pickle.dump(answers, fh)
    os.replace(tmp, path)
    return answers


# ---------------------------------------------------------------- stream

# Stream traffic. No traffic trace exists to fit these figures to: the
# repository's events fixture is uniform over its users and in event-time
# order, and tools/measure_streaming.py is synthetic too. So every figure
# below is a chosen value, unverified against real traffic; each comment
# gives the rule it was chosen by.
STREAM_KEYS = 16  # chosen: few enough that every key's 30 s window gathers
# the 40 events the kernels' early trigger counts, so all keys fire early
EVENTS_PER_FILE = 6000  # sized: the largest of 600/2400/6000/12000 events
# per file whose stream run stays under 60 s on 4 vCPUs (measured 55/51/58/
# 61 s), since 4 + 22 x 2 runs must fit 3420 s beside the batch workload
FILE_SPAN_S = 60  # chosen: two 30 s windows per file, so each round closes
# windows and the watermark's no-data batch fires on-time panes
SKEW_RANGE = (0.9, 1.1)  # chosen: Zipf exponents around 1; the seed picks
LATE_SHARE_RANGE = (0.08, 0.12)  # chosen: the seed-picked out-of-order share
MAX_LATE_S = 40  # sized: inside the kernels' 60 s allowed lateness, so no
# event is dropped and the final panes equal a group-by of every event
STREAM_T0_S = 1_700_000_000


def event_rounds(seed: int, n_files: int) -> list[dict[str, np.ndarray]]:
    """The seed's event stream as per-file columns (ts in epoch micros).

    File i covers event time [i, i+1) x FILE_SPAN_S. Keys follow a Zipf law
    whose exponent the seed sets (the skew), and a seed-set share of each
    file's events is out of order: stamped up to MAX_LATE_S before the
    file's span."""
    rng = np.random.default_rng(seed)
    skew = rng.uniform(*SKEW_RANGE)
    late_share = rng.uniform(*LATE_SHARE_RANGE)
    weights = 1.0 / np.arange(1, STREAM_KEYS + 1) ** skew
    weights /= weights.sum()
    key_names = np.array([f"k{i:02d}" for i in rng.permutation(STREAM_KEYS)])
    files = []
    for i in range(n_files):
        n = EVENTS_PER_FILE
        base_us = (STREAM_T0_S + i * FILE_SPAN_S) * 1_000_000
        # millisecond stamps: the kernels keep event time in epoch ms
        offs = rng.integers(0, FILE_SPAN_S * 1000, n) * 1000
        late = rng.random(n) < late_share
        offs[late] -= rng.integers(1, MAX_LATE_S * 1000, int(late.sum())) * 1000
        files.append(
            {
                "event_id": np.arange(i * n, (i + 1) * n, dtype=np.int64),
                "ts_us": base_us + offs,
                "key": key_names[rng.choice(STREAM_KEYS, n, p=weights)],
                # whole numbers: float sums are then exact in any order
                "value": rng.integers(0, 100, n).astype(np.float64),
            }
        )
    return files
