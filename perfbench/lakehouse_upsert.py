"""lakehouse_upsert: writes beside reads on the tablelog format.

One client runs a closed loop of cycles over a seeded 16-file table
loaded by LOAD_APPENDS ``append(stats_col="key")`` commits. Each cycle
is READS_PER_CYCLE ``read_table(key_range=...)`` reads, each with an
aggregate, then one ``merge_upsert``. Merge keys favour recent (high)
keys and include ~10% inserts past the maximum key; every tenth merge
spans the whole key space.

The load and the warm-up merges fill the engine's auto-checkpoint
cadence (tablelog.AUTO_CHECKPOINT_EVERY, 10 by default), so the first
measured merge of every run writes a checkpoint. An eight-second window
holds 5-7 merges on a 4-core host, so it passes that one checkpoint
commit, and a second only on a host fast enough to reach the next; each
window records how many.

Same Parquet and session machinery as the export, used for writes:
log replay, file pruning and copy-on-write rewrites.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass, field

import numpy as np

from harness import SessionCounters, Tracer, dir_bytes, median_or_zero, timing_summary

N_KEYS = 200_000
LOAD_APPENDS = 2
FILES_PER_APPEND = 8
READS_PER_CYCLE = 4
READ_WIDTH = 2_000
MERGE_KEYS = 500
INSERT_SHARE = 0.10
WIDE_EVERY = 10
CYCLES = 300
WARM_CYCLES_MIN = 8
ROW_BYTES = 16  # key + val, two int64: what the user hands over per row


@dataclass
class Cycle:
    reads: list[tuple[int, int]]
    merge_keys: np.ndarray
    merge_vals: np.ndarray


@dataclass
class Inputs:
    vals: np.ndarray  # initial value of keys 0..N_KEYS-1
    cycles: list[Cycle]
    sizes: dict = field(default_factory=dict)

    def digest(self) -> str:
        h = hashlib.sha256(self.vals.tobytes())
        for c in self.cycles:
            h.update(np.array(c.reads, dtype="int64").tobytes())
            h.update(c.merge_keys.tobytes())
            h.update(c.merge_vals.tobytes())
        return h.hexdigest()


def generate(seed: int, work: str) -> Inputs:
    rng = np.random.default_rng([seed, 7])
    vals = rng.integers(0, 1_000_000, N_KEYS)
    max_key = N_KEYS - 1
    cycles = []
    for c in range(CYCLES):
        reads = []
        for _ in range(READS_PER_CYCLE):
            lo = int(rng.integers(0, max_key + 1))
            reads.append((lo, lo + READ_WIDTH - 1))
        n_new = int(MERGE_KEYS * INSERT_SHARE)
        if c % WIDE_EVERY == WIDE_EVERY - 1:
            old = rng.integers(0, max_key + 1, MERGE_KEYS - n_new)
        else:
            old = max_key - np.minimum(
                rng.exponential(N_KEYS * 0.05, MERGE_KEYS - n_new).astype("int64"), max_key
            )
        keys = np.unique(np.concatenate([old, np.arange(max_key + 1, max_key + 1 + n_new)]))
        max_key += n_new
        cycles.append(Cycle(reads, keys.astype("int64"),
                            rng.integers(0, 1_000_000, len(keys)).astype("int64")))
    return Inputs(vals.astype("int64"), cycles, {
        "initial_rows": N_KEYS,
        "load_appends": LOAD_APPENDS,
        "load_files": LOAD_APPENDS * FILES_PER_APPEND,
        "merge_keys": MERGE_KEYS,
        "read_width": READ_WIDTH,
    })


@dataclass
class Op:
    kind: str  # read | merge
    cycle: int
    arg: tuple | None
    t0: float
    t1: float
    result: object


@dataclass
class State:
    inputs: Inputs
    spark: object
    table: str
    warm_cycles: int = 1
    load_bytes: int = 0
    warm_ops: list = field(default_factory=list)
    user_rows: int = N_KEYS


def _updates(spark, cyc: Cycle):
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame({"key": cyc.merge_keys, "val": cyc.merge_vals}))


def _read(spark, table: str, lo: int, hi: int, tracer: Tracer | None):
    from pyspark.sql import functions as F

    from trace_parquet_spark.sources import tablelog

    df = tablelog.read_table(spark, table, key_range=(lo, hi))
    agg = df.agg(F.count("*"), F.sum("val"), F.min("val"), F.max("val"))
    if tracer is None:
        return tuple(agg.first())
    with tracer.span("session.read_exec"):
        return tuple(agg.first())


def run_cycle(state: State, c: int, tracer: Tracer | None, counters=None) -> list[Op]:
    from trace_parquet_spark.sources import tablelog

    cyc = state.inputs.cycles[c]
    ops = []
    for lo, hi in cyc.reads:
        t0 = time.perf_counter()
        row = _read(state.spark, state.table, lo, hi, tracer)
        ops.append(Op("read", c, (lo, hi), t0, time.perf_counter(), row))
    upd = _updates(state.spark, cyc)
    if counters is not None:
        counters.set_group(f"merge{c}")
    t0 = time.perf_counter()
    res = tablelog.merge_upsert(state.spark, state.table, upd, "key")
    ops.append(Op("merge", c, None, t0, time.perf_counter(), res))
    if counters is not None:
        counters.clear_group()
    state.user_rows += len(cyc.merge_keys)
    return ops


def setup(spark, inputs: Inputs, work: str, cache: str) -> State:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trace_parquet_spark.sources import tablelog

    table = os.path.join(work, "lake")
    per = N_KEYS // LOAD_APPENDS
    for i in range(LOAD_APPENDS):
        stage = os.path.join(work, f"load-{i}")
        os.makedirs(stage)
        keys = np.arange(i * per, (i + 1) * per, dtype="int64")
        pq.write_table(pa.table({"key": keys, "val": inputs.vals[keys]}),
                       os.path.join(stage, "part-0.parquet"))
        # key-range partitioned, so every file has a narrow [min, max] on key
        df = spark.read.parquet(stage).repartitionByRange(FILES_PER_APPEND, "key")
        tablelog.append(df, table, stats_col="key")
    # the first merge costs ~4x a warm one and reads and merges keep
    # getting faster for several cycles more, for longer on a busy host;
    # the warm-up is the fewest cycles from WARM_CYCLES_MIN on that end on
    # a checkpoint boundary
    every = tablelog.AUTO_CHECKPOINT_EVERY
    warm = WARM_CYCLES_MIN + (-(LOAD_APPENDS + WARM_CYCLES_MIN)) % every
    st = State(inputs, spark, table, warm_cycles=warm, load_bytes=dir_bytes(table))
    for c in range(warm):
        st.warm_ops += run_cycle(st, c, None)
    return st


def teardown(state: State) -> None:
    pass


def measure(state: State, seconds: float, tracer: Tracer | None = None,
            offset: int = 0) -> dict:
    """Whole cycles; a cycle starts only before the deadline."""
    counters = SessionCounters(state.spark) if tracer is not None else None
    c = max(offset, state.warm_cycles)
    data0 = dir_bytes(state.table) - dir_bytes(os.path.join(state.table, "_log"))
    cp0 = _checkpoint_count(state.table)
    ops: list[Op] = []
    t_start = time.perf_counter()
    while time.perf_counter() < t_start + seconds:
        if c >= len(state.inputs.cycles):
            raise RuntimeError("cycle plan exhausted; raise CYCLES")
        ops += run_cycle(state, c, tracer, counters)
        c += 1
    elapsed = time.perf_counter() - t_start
    data1 = dir_bytes(state.table) - dir_bytes(os.path.join(state.table, "_log"))
    return {"ops": ops, "elapsed_s": elapsed, "next": c, "n_ops": len(ops),
            "data_bytes_written": data1 - data0,
            "checkpoint_commits": _checkpoint_count(state.table) - cp0}


def _checkpoint_count(table: str) -> int:
    return sum(f.endswith(".checkpoint.json") for f in os.listdir(os.path.join(table, "_log")))


# ---------------------------------------------------------------- oracle


class Model:
    """Dense in-memory image of the table: value and presence per key."""

    def __init__(self, inputs: Inputs) -> None:
        cap = N_KEYS + sum(len(c.merge_keys) for c in inputs.cycles)
        self.vals = np.zeros(cap, dtype="int64")
        self.present = np.zeros(cap, dtype=bool)
        self.vals[:N_KEYS] = inputs.vals
        self.present[:N_KEYS] = True

    def merge(self, cyc: Cycle) -> None:
        self.vals[cyc.merge_keys] = cyc.merge_vals
        self.present[cyc.merge_keys] = True

    def aggregate(self, lo: int, hi: int) -> tuple:
        m = self.present[lo:hi + 1]
        v = self.vals[lo:hi + 1][m]
        if len(v) == 0:
            return (0, None, None, None)
        return (len(v), int(v.sum()), int(v.min()), int(v.max()))


def verify(state: State, windows: list[dict]) -> tuple[int, int, list[str]]:
    """Replay every op in order against the model, then compare the final
    snapshot row for row."""
    from trace_parquet_spark.sources import tablelog

    model = Model(state.inputs)
    bad = []
    measured = [op for w in windows for op in w["ops"]]
    for op in state.warm_ops + measured:
        if op.kind == "merge":
            model.merge(state.inputs.cycles[op.cycle])
            continue
        want = model.aggregate(*op.arg)
        got = tuple(None if x is None else int(x) for x in op.result)
        if got != want:
            bad.append(f"read {op.arg} in cycle {op.cycle}: {got} != model {want}")
    snap = tablelog.read_table(state.spark, state.table).toPandas().sort_values("key")
    keys = np.nonzero(model.present)[0]
    if not (np.array_equal(snap["key"].to_numpy(), keys)
            and np.array_equal(snap["val"].to_numpy(), model.vals[keys])):
        bad.append(f"final snapshot differs ({len(snap)} rows, model {len(keys)})")
    return len(state.warm_ops) + len(measured), len(bad), bad


# ---------------------------------------------------------------- metrics


def _live_bytes(state: State) -> tuple[int, int, int]:
    """(live data-file bytes, log bytes, live file count)."""
    from trace_parquet_spark.sources import tablelog

    live = tablelog.files_overlapping(state.table, {})
    data = sum(os.path.getsize(os.path.join(state.table, f)) for f in live)
    return data, dir_bytes(os.path.join(state.table, "_log")), len(live)


def metrics(state: State, window: dict) -> tuple[dict, dict]:
    ops = window["ops"]
    reads = timing_summary([o.t1 - o.t0 for o in ops if o.kind == "read"])
    merges = timing_summary([o.t1 - o.t0 for o in ops if o.kind == "merge"])
    data, log, nfiles = _live_bytes(state)
    ops_per_s = len(ops) / window["elapsed_s"]
    e2e = {"ops_per_s": ops_per_s, "op_p50_ms": reads["p50_ms"]}
    details = {
        "upsert_p50_ms": merges.get("p50_ms"),
        "upsert_n": merges["n"],
        "latencies_s": [(o.kind, round(o.t1 - o.t0, 4)) for o in ops],
        "lake_read_p50_ms": reads.get("p50_ms"),
        "lake_read_tail_ms": reads.get("tail_ms"),
        "lake_read_tail_pct": reads.get("tail_pct"),
        "lake_read_n": reads["n"],
        "lake_ops_per_s": ops_per_s,
        "lake_bytes_per_user_byte": (data + log) / (state.user_rows * ROW_BYTES),
        "live_files": nfiles,
        "checkpoint_commits": window["checkpoint_commits"],
        "window_s": window["elapsed_s"],
    }
    return e2e, details


def trace_layers(state: State, window: dict, tracer: Tracer) -> dict:
    from trace_parquet_spark.sources import tablelog

    counters = SessionCounters(state.spark)
    counters.drain()
    merges = [o for o in window["ops"] if o.kind == "merge"]
    jobs = [counters.group_counts(f"merge{o.cycle}")["jobs"] for o in merges]
    rewritten = sum(o.result["files_rewritten"] for o in merges)
    kept = sum(o.result["files_kept"] for o in merges)
    cp_parents = {s.parent for s in tracer.spans if s.name == "tablelog.write_checkpoint"}
    cp_merges = [s.duration for s in tracer.spans
                 if s.name == "tablelog.merge_upsert" and s.id in cp_parents]
    live = len(tablelog.files_overlapping(state.table, {}))
    scanned = [len(tablelog.files_overlapping(state.table, {"key": o.arg})) / live
               for o in window["ops"] if o.kind == "read"]
    _data, log, _n = _live_bytes(state)
    return {
        "tablelog.merge_files_rewritten_ratio":
            rewritten / (rewritten + kept) if rewritten + kept else 0.0,
        "tablelog.latest_version_ms":
            median_or_zero(tracer.durations("tablelog.latest_version")) * 1e3,
        "tablelog.checkpoint_commit_ms": median_or_zero(cp_merges) * 1e3,
        "tablelog.checkpoints": float(len(cp_merges)),
        "tablelog.read_plan_ms": median_or_zero(tracer.durations("tablelog.read_table")) * 1e3,
        "tablelog.read_exec_ms": median_or_zero(tracer.durations("session.read_exec")) * 1e3,
        "tablelog.read_files_scanned_ratio": median_or_zero(scanned),
        "tablelog.data_bytes_written": float(window["data_bytes_written"]),
        "tablelog.log_bytes": float(log),
        "session.jobs_per_merge": sum(jobs) / len(jobs) if jobs else 0.0,
    }


def install_tracer(state: State, tracer: Tracer) -> None:
    from trace_parquet_spark.sources import tablelog

    for fn in ("read_table", "merge_upsert", "latest_version", "write_checkpoint"):
        tracer.wrap(tablelog, fn, f"tablelog.{fn}")


def sizes(state: State, window: dict) -> dict:
    ops = window["ops"]
    _data, _log, nfiles = _live_bytes(state)
    return dict(state.inputs.sizes,
                load_bytes=state.load_bytes,
                table_files_at_end=nfiles,
                reads=sum(o.kind == "read" for o in ops),
                merges=sum(o.kind == "merge" for o in ops),
                clients=1)
