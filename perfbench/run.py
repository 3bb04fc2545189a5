"""Benchmark entry point.

    python3 perfbench/run.py --workload export_mixed --seed 1 --seconds 15 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, starts the engine's Spark session, warms up, measures a closed
loop for ``--seconds``, checks every output against the workload's
oracle outside the timed window and prints one JSON object as the last
line of stdout. ``--trace 1`` splits the window into a traced half and
an untraced half, and reports the per-layer metrics instead. Metric names
and units come from BENCHMARK.json. A full record of the run (inputs,
set-up breakdown, host noise, per-class latencies, failures, spans) is
written under ``.perfbench/runs/``.

Exit codes: 0 when every output was correct, 1 on a mismatch (the
result line is still printed), 2 when the engine is not importable.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("export_mixed", "corpus_dedup", "lakehouse_upsert")


def _spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def run(workload: str, seed: int, seconds: float, trace: bool, work: Path,
        cache: Path) -> dict:
    import importlib

    import harness

    mod = importlib.import_module(workload)
    t0 = time.perf_counter()
    inputs = mod.generate(seed, str(work))
    gen_s = time.perf_counter() - t0

    spark, session_s = harness.start_session(str(work))
    state = None
    try:
        t0 = time.perf_counter()
        state = mod.setup(spark, inputs, str(work), str(cache))
        warm_s = time.perf_counter() - t0
        setup_s = gen_s + session_s + warm_s

        layers, spans = {}, []
        if trace:
            # traced half first, so it meets the same table versions and
            # request positions as the start of an untraced window
            tracer = harness.Tracer()
            mod.install_tracer(state, tracer)
            try:
                wt = mod.measure(state, seconds / 2, tracer)
            finally:
                tracer.unwrap_all()
            e2e_traced, _ = mod.metrics(state, wt)

        h0 = harness.host_snapshot(str(work))
        w0 = mod.measure(state, seconds / 2 if trace else seconds,
                         offset=wt["next"] if trace else 0)
        # the resident peaks are read before the after-probe and the
        # oracles run in this process; the JVM's memory after the probe,
        # which does not touch the JVM, so the steal covers the window only
        rss = harness.rss_tree()
        noise = harness.host_noise(h0, harness.host_snapshot(str(work)))
        jvm_mem = harness.jvm_memory_mb(spark)
        e2e, details = mod.metrics(state, w0)
        sizes = mod.sizes(state, w0)
        windows = [wt, w0] if trace else [w0]

        attempted, failed, failures = mod.verify(state, windows)

        if trace:
            layers = mod.trace_layers(state, wt, tracer)
            layers["trace.overhead_ratio"] = e2e_traced["op_p50_ms"] / e2e["op_p50_ms"]
            for layer, self_s in tracer.self_time_by_layer().items():
                layers[f"{layer}.self_ms_per_op"] = self_s * 1e3 / max(1, wt["n_ops"])
            spans = [vars(s) for s in tracer.spans]

        e2e["setup_s"] = setup_s
        e2e["footprint_mb"] = harness.footprint_mb(rss, jvm_mem)
    finally:
        if state is not None:
            mod.teardown(state)
        harness.stop_session(spark)

    return {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "inputs": sizes,
        "setup": {"generate_s": gen_s, "session_s": session_s, "warmup_s": warm_s},
        "host_noise": noise,
        "rss_mb": rss,
        "jvm_mb": jvm_mem,
        "end_to_end": e2e,
        "details": details,
        "per_layer": layers,
        "attempted": attempted,
        "failed": failed,
        "fail_ratio": failed / max(1, attempted),
        "failures": failures[:20],
        "spans": spans,
    }


def result_line(record: dict, spec: dict) -> dict:
    """The result line: every end_to_end metric untraced, every per_layer
    metric traced. A layer the workload never calls reads 0."""
    if record["trace"]:
        metrics = {m["name"]: {"value": float(record["per_layer"].get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(record["end_to_end"][m["name"]]),
                               "unit": m["unit"]} for m in spec["end_to_end"]}
    return {
        "correct": record["failed"] == 0,
        "attempted": int(record["attempted"]),
        "failed": int(record["failed"]),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "trace_parquet_spark" / "__init__.py").is_file():
        print(f"perfbench: no trace_parquet_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = _spec()

    state_dir = ROOT / ".perfbench"
    work = state_dir / f"work-{os.getpid()}"
    cache = state_dir / "cache"
    runs = state_dir / "runs"
    for d in (work, cache, runs):
        d.mkdir(parents=True, exist_ok=True)
    # every scratch path of Python, the JVM and Spark stays in the checkout
    os.environ["TMPDIR"] = str(work)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # no /tmp/hsperfdata_* files from the JVMs the run starts
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    # the workload exercises the engine's default checkpoint cadence
    os.environ.pop("SPARK_GRAFT_TABLELOG_CHECKPOINT_EVERY", None)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))

    try:
        record = run(args.workload, args.seed, args.seconds, bool(args.trace), work, cache)
    except Exception:  # noqa: BLE001 - report and fail the run without a result
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    line = result_line(record, spec)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    spans = record.pop("spans")
    with open(runs / f"{stem}.json", "w") as fh:
        json.dump(dict(record, result=line), fh, indent=1, default=str)
    if spans:
        with open(runs / f"{stem}-spans.json", "w") as fh:
            json.dump(spans, fh, default=str)
    summary = {k: record[k] for k in ("workload", "seed", "inputs", "setup", "host_noise",
                                      "rss_mb", "jvm_mb", "details", "failures")}
    print("perfbench-record " + json.dumps(summary, default=str))
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
