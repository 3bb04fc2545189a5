"""corpus_dedup: the LLM-data-pipeline path.

Repeated ``corpus_clean`` passes (quality gate, exact dedup, MinHash-LSH
near-dup sweep), each collected and checked, over a Zipf corpus of
alphabetic words made by ``tools/gen_sf.generate(zipf=True,
alpha=True)``, which plants ~0.2% exact and ~2% near duplicates.

Shuffle- and hash-heavy in dedup, corpus_pipeline and the Spark session;
bypasses HTTP, gzip and tablelog. The corpus is DOCS documents: the
DuckDB oracle grows superlinearly with corpus size and has to fit in one
run on the first use of a seed (its answer is cached per seed after).
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import statistics
import time
from dataclasses import dataclass, field

from harness import SessionCounters, Tracer, mean_counts, median_or_zero

DOCS = 500
MULT = DOCS / 5000  # gen_sf writes 5000 documents per unit of mult
QUALITY_TOL = 1e-6  # quality is rounded to 6 places by both engines
WARM_PASSES = 3  # the first pass costs ~5x a warm one; with one task slot the
# fourth is ~10% over the steady time and later ones within a few percent


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _gen_sf():
    spec = importlib.util.spec_from_file_location(
        "gen_sf", os.path.join(ROOT, "tools", "gen_sf.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@dataclass
class Inputs:
    sf_dir: str
    content_digest: str
    sizes: dict = field(default_factory=dict)

    def digest(self) -> str:
        return self.content_digest


def generate(seed: int, work: str) -> Inputs:
    import pyarrow.parquet as pq

    sf = os.path.join(work, "sf")
    _gen_sf().generate(sf, MULT, seed=seed, zipf=True, alpha=True)
    path = os.path.join(sf, "documents.parquet")
    docs = pq.read_table(path)
    h = hashlib.sha256()
    for col in ("doc_id", "text", "lang"):
        h.update(json.dumps(docs.column(col).to_pylist()).encode())
    return Inputs(sf, h.hexdigest(), {
        "documents": docs.num_rows,
        "document_bytes": os.path.getsize(path),
        "text_chars": sum(len(t) for t in docs.column("text").to_pylist()),
    })


@dataclass
class State:
    inputs: Inputs
    spark: object
    cache: str
    output: list = field(default_factory=list)


def _pass(spark, sf: str, tracer: Tracer | None = None) -> list[tuple]:
    """One corpus_clean pass, its result collected so every pass can be
    checked (about a thousand rows of four short columns: the transfer is
    negligible against the pass)."""
    from trace_parquet_spark.operators.corpus_pipeline import corpus_clean
    from trace_parquet_spark.session import release_caches

    if tracer is None:
        rows = corpus_clean(spark, sf).collect()
    else:
        with tracer.span("bench.pass"):
            df = corpus_clean(spark, sf)
            with tracer.span("session.execute"):
                rows = df.collect()
    release_caches()
    return [tuple(r) for r in rows]


def setup(spark, inputs: Inputs, work: str, cache: str) -> State:
    for _ in range(WARM_PASSES):
        _pass(spark, inputs.sf_dir)
    return State(inputs, spark, cache)


def teardown(state: State) -> None:
    pass


def measure(state: State, seconds: float, tracer: Tracer | None = None,
            offset: int = 0) -> dict:
    """Back-to-back passes; a pass starts only before the deadline."""
    counters = SessionCounters(state.spark) if tracer is not None else None
    passes, outputs, groups, shuffle = [], [], [], []
    t_start = time.perf_counter()
    while time.perf_counter() < t_start + seconds:
        if counters is not None:
            group = f"pass{offset + len(passes)}"
            counters.set_group(group)
            counters.drain()
            sw0 = counters.shuffle_write_bytes()
        t0 = time.perf_counter()
        outputs.append(_pass(state.spark, state.inputs.sf_dir, tracer))
        passes.append(time.perf_counter() - t0)
        if counters is not None:
            counters.clear_group()
            counters.drain()
            shuffle.append(counters.shuffle_write_bytes() - sw0)
            groups.append(group)
    return {"passes": passes, "outputs": outputs, "elapsed_s": time.perf_counter() - t_start,
            "groups": groups, "shuffle": shuffle, "next": offset + len(passes),
            "n_ops": len(passes)}


# ---------------------------------------------------------------- oracle


def _oracle(state: State) -> list[tuple]:
    """DuckDB's answer to CORPUS_CLEAN_SQL, cached per input digest, query
    text and DuckDB version (a changed query or engine is recomputed)."""
    import duckdb

    from trace_parquet_spark.operators.corpus_pipeline import CORPUS_CLEAN_SQL

    sql = hashlib.sha256(CORPUS_CLEAN_SQL.encode()).hexdigest()[:12]
    path = os.path.join(
        state.cache,
        f"corpus_clean-{state.inputs.digest()[:24]}-{sql}-duckdb{duckdb.__version__}.json",
    )
    if os.path.exists(path):
        with open(path) as fh:
            return [tuple(r) for r in json.load(fh)]
    con = duckdb.connect()
    try:
        con.execute("SET threads=4")
        docs = os.path.join(state.inputs.sf_dir, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
        rows = [tuple(r) for r in con.execute(CORPUS_CLEAN_SQL).fetchall()]
    finally:
        con.close()
    os.makedirs(state.cache, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(rows, fh)
    os.replace(tmp, path)
    return rows


def _mismatch(got: list[tuple], want: list[tuple]) -> str | None:
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    for g, w in zip(got, want):
        if g[:3] != w[:3] or abs(g[3] - w[3]) > QUALITY_TOL:
            return f"row {g} != oracle {w}"
    return None


def verify(state: State, windows: list[dict]) -> tuple[int, int, list[str]]:
    """Every pass's collected output against the DuckDB answer."""
    want = _oracle(state)
    outputs = [out for w in windows for out in w["outputs"]]
    bad = []
    for i, got in enumerate(outputs):
        why = _mismatch(got, want)
        if why is not None:
            bad.append(f"pass {i}: {why}")
    state.output = outputs[-1]
    return len(outputs), len(bad), bad


# ---------------------------------------------------------------- metrics


def metrics(state: State, window: dict) -> tuple[dict, dict]:
    med = statistics.median(window["passes"])
    n_docs = state.inputs.sizes["documents"]
    e2e = {"ops_per_s": n_docs / med, "op_p50_ms": med * 1e3}
    details = {
        "dedup_docs_per_s": n_docs / med,
        "pass_p50_ms": med * 1e3,
        "passes": len(window["passes"]),
        "pass_s": window["passes"],
        "corpus_documents": n_docs,
        "window_s": window["elapsed_s"],
    }
    return e2e, details


def trace_layers(state: State, window: dict, tracer: Tracer) -> dict:
    """Per-pass session counters of the traced window, then each stage
    called alone (plan + no-op write)."""
    from trace_parquet_spark.operators import dedup
    from trace_parquet_spark.operators.corpus_pipeline import corpus_clean
    from trace_parquet_spark.session import release_caches

    counters = SessionCounters(state.spark)
    counters.drain()
    counts = mean_counts([counters.group_counts(g) for g in window["groups"]])
    sf = state.inputs.sf_dir

    def alone(fn) -> float:
        t0 = time.perf_counter()
        fn(state.spark, sf).write.format("noop").mode("overwrite").save()
        release_caches()
        return time.perf_counter() - t0

    return {
        "corpus_pipeline.clean_s": alone(corpus_clean),
        "dedup.exact_s": alone(dedup.dedup_exact),
        "dedup.minhash_lsh_s": alone(dedup.dedup_minhash_lsh),
        "corpus_pipeline.plan_ms":
            median_or_zero(tracer.durations("corpus_pipeline.corpus_clean")) * 1e3,
        "session.stages_per_pass": counts["stages"],
        "session.tasks_per_pass": counts["tasks"],
        "session.shuffle_write_mb_per_pass": median_or_zero(window["shuffle"]) / 1e6,
        "dedup.docs_kept_ratio": len(state.output) / state.inputs.sizes["documents"],
    }


def install_tracer(state: State, tracer: Tracer) -> None:
    from trace_parquet_spark.operators import corpus_pipeline

    tracer.wrap(corpus_pipeline, "corpus_clean", "corpus_pipeline.corpus_clean")


def sizes(state: State, window: dict) -> dict:
    return dict(state.inputs.sizes, passes=len(window["passes"]))
