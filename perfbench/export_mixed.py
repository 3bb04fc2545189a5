"""export_mixed: the paper's one user-facing operation under load.

A closed loop of CLIENTS clients sends a seeded request stream to an
in-process TraceExportServer over a generated ``trace_param`` table
(gzipped JSON payloads, sorted by startTime, many row groups). Params
are Zipf-hot and windows favour recent days. The mix is 85% small
(few ids x <= 1 day), 10% large (dozens of ids x the whole range) and
5% error-path (400 for invalid params, 404 for empty results).

Small requests stress the fixed per-request work in http_service,
trace_export and the Spark session; large ones stress gzip_codec, the
global sort and Parquet encoding. tablelog and dedup are not touched.
"""

from __future__ import annotations

import gzip
import hashlib
import http.client
import io
import json
import os
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

from harness import SessionCounters, Tracer, mean_counts, median_or_zero, timing_summary

CLIENTS = 2
N_PARAMS = 96
N_DAYS = 30
N_FILES = 4
ROW_GROUP_ROWS = 2048
STREAM_LEN = 1000
BASE = np.datetime64("2024-01-01T00:00:00", "ms")
HOUR_MS = 3_600_000
STATUSES = np.array(["OK", "WARN", "CRITICAL", "IDLE"])

# reference messages of the export contract (api / errors modules)
MSG_EMPTY_IDS = "parameterIndices cannot be empty."
MSG_BAD_RANGE = "Invalid date range: startTime cannot be after endTime."
MSG_NO_DATA = "No data found for the given criteria."
EXPORT_PATH = "/api/data/parameters/trace/parquet"


@dataclass
class TraceTable:
    """Row-aligned model of the generated table, in startTime order."""

    param: np.ndarray
    start_ms: np.ndarray
    end_ms: np.ndarray
    texts: list[str]
    blobs: list[bytes]

    def digest(self) -> str:
        h = hashlib.sha256()
        for a in (self.param, self.start_ms, self.end_ms):
            h.update(a.tobytes())
        for b in self.blobs:
            h.update(b)
        return h.hexdigest()


@dataclass
class Request:
    cls: str  # small | large | error
    params: dict
    expect_status: int | None = None  # error class only
    expect_message: str | None = None


def make_table(seed: int) -> TraceTable:
    """One reading per param per hour slot (unique startTime per param,
    so the (paramIndex, startTime) order is total)."""
    rng = np.random.default_rng([seed, 1])
    slots = N_DAYS * 24
    n = N_PARAMS * slots
    param = np.repeat(np.arange(1, N_PARAMS + 1, dtype="int64"), slots)
    start = (
        np.tile(np.arange(slots, dtype="int64") * HOUR_MS, N_PARAMS)
        + rng.integers(0, HOUR_MS - 60_000, n)
    )
    end = start + rng.integers(1_000, 60_000, n)
    value = rng.integers(0, 1000, n)
    status = STATUSES[rng.integers(0, len(STATUSES), n)]
    samples = rng.integers(-5000, 5000, (n, 12))
    order = np.argsort(start, kind="stable")
    texts = [
        '{"value": %d, "status": "%s", "samples": [%s]}'
        % (value[i], status[i], ", ".join(map(str, samples[i].tolist())))
        for i in order.tolist()
    ]
    # zlib's default level, as the reference's GZIPOutputStream uses
    blobs = [gzip.compress(t.encode("utf-8"), compresslevel=6, mtime=0) for t in texts]
    base = BASE.astype("int64")
    return TraceTable(param[order], base + start[order], base + end[order], texts, blobs)


def _iso(ms: int) -> str:
    return str(np.datetime64(int(ms), "ms").astype("datetime64[s]"))


# the class sequence of every block of 20 requests: fixed, so every
# window of the same length meets the same mix in the same order; the
# contents (ids, windows, error kinds) are seeded
BLOCK = tuple(
    "large" if i in (4, 14) else "error" if i == 9 else "small" for i in range(20)
)


def make_requests(seed: int, n: int = STREAM_LEN, stream: int = 2) -> list[Request]:
    """The seeded request stream; ``stream`` separates the warm-up
    stream from the measured one. Each block of 20 requests holds the
    designed mix (17 small, 2 large, 1 error), so a short window sees
    the mix rather than a binomial draw of it. Data requests carry no
    expected status: the model decides between 200 and 404 when
    checking."""
    rng = np.random.default_rng([seed, stream])
    hot = rng.permutation(np.arange(1, N_PARAMS + 1))
    w = 1.0 / np.power(np.arange(1, N_PARAMS + 1), 1.1)
    w /= w.sum()
    base = int(BASE.astype("int64"))
    out = []
    while len(out) < n:
        for cls in BLOCK:
            if cls == "error":
                out.append(_error_request(rng, hot, base))
                continue
            if cls == "small":
                k = int(rng.integers(1, 7))
                day = N_DAYS - 1 - min(N_DAYS - 1, int(rng.exponential(4.0)))
                lo = base + (day * 24 + int(rng.integers(0, 24))) * HOUR_MS
                hi = min(lo + int(rng.integers(1, 25)) * HOUR_MS,
                         base + N_DAYS * 24 * HOUR_MS) - 1000
            else:
                k = int(rng.integers(24, 49))
                lo, hi = base, base + N_DAYS * 24 * HOUR_MS
            ids = hot[rng.choice(N_PARAMS, k, replace=False, p=w)]
            out.append(Request(cls, {
                "parameterIndices": ",".join(map(str, sorted(ids.tolist()))),
                "startTime": _iso(lo), "endTime": _iso(hi)}))
    return out[:n]


def _error_request(rng, hot, base: int) -> Request:
    v = int(rng.integers(0, 4))
    lo = base + int(rng.integers(0, N_DAYS * 24)) * HOUR_MS
    if v == 0:  # 400: range reversed
        return Request("error", {
            "parameterIndices": str(int(hot[0])),
            "startTime": _iso(lo + HOUR_MS), "endTime": _iso(lo)}, 400, MSG_BAD_RANGE)
    if v == 1:  # 400: no ids
        return Request("error", {
            "parameterIndices": "", "startTime": _iso(lo),
            "endTime": _iso(lo + HOUR_MS)}, 400, MSG_EMPTY_IDS)
    if v == 2:  # 404: unknown params
        ids = N_PARAMS + 1 + rng.choice(50, 3, replace=False)
        return Request("error", {
            "parameterIndices": ",".join(map(str, ids.tolist())),
            "startTime": _iso(lo), "endTime": _iso(lo + 24 * HOUR_MS)}, 404, MSG_NO_DATA)
    # 404: window before the data
    return Request("error", {
        "parameterIndices": str(int(hot[0])),
        "startTime": _iso(base - 48 * HOUR_MS),
        "endTime": _iso(base - 24 * HOUR_MS)}, 404, MSG_NO_DATA)


def expected_rows(table: TraceTable, params: dict) -> np.ndarray:
    """Row positions the export must return, in (paramIndex, startTime)
    order: IN on params, inclusive BETWEEN on startTime."""
    ids = np.array([int(p) for p in params["parameterIndices"].split(",")])
    lo = np.datetime64(params["startTime"], "ms").astype("int64")
    hi = np.datetime64(params["endTime"], "ms").astype("int64")
    pos = np.nonzero(
        np.isin(table.param, ids) & (table.start_ms >= lo) & (table.start_ms <= hi)
    )[0]
    return pos[np.lexsort((table.start_ms[pos], table.param[pos]))]


# ---------------------------------------------------------------- inputs


@dataclass
class Inputs:
    table: TraceTable
    warmup: list[Request]
    stream: list[Request]
    sizes: dict = field(default_factory=dict)

    def digest(self) -> str:
        h = hashlib.sha256(self.table.digest().encode())
        for r in self.warmup + self.stream:
            h.update(json.dumps(r.params, sort_keys=True).encode())
        return h.hexdigest()


WARM_REQUESTS = 6  # sent by the CLIENTS clients; the first costs ~6x a warm one


def generate(seed: int, work: str) -> Inputs:
    table = make_table(seed)
    # warm-up: a stream of its own (so the measured stream starts cold of
    # it) sent like the measured one, then both error statuses
    warm = make_requests(seed, 400, stream=3)
    warmup = warm[:WARM_REQUESTS]
    warmup += [next(r for r in warm if r.expect_status == s) for s in (400, 404)]
    return Inputs(table, warmup, make_requests(seed), {
        "rows": len(table.param),
        "payload_bytes": sum(len(b) for b in table.blobs),
        "params": N_PARAMS,
        "days": N_DAYS,
    })


# ---------------------------------------------------------------- running


@dataclass
class Result:
    req: Request
    status: int
    body: bytes
    t0: float
    t1: float
    rid: str
    error: str | None = None


@dataclass
class State:
    inputs: Inputs
    spark: object
    server: object
    port: int
    table_bytes: int
    warm_results: list = field(default_factory=list)


def _write_table(table: TraceTable, path: str) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    n = len(table.param)
    cuts = np.linspace(0, n, N_FILES + 1).astype(int)
    total = 0
    for i in range(N_FILES):
        a, b = cuts[i], cuts[i + 1]
        t = pa.table({
            "paramIndex": pa.array(table.param[a:b], pa.int64()),
            # UTC-adjusted instants: Spark reads them as TimestampType,
            # the type TRACE_PARAM_SCHEMA declares (zone-less parquet
            # timestamps would read as TIMESTAMP_NTZ)
            "startTime": pa.array(table.start_ms[a:b], pa.timestamp("ms", tz="UTC")),
            "endTime": pa.array(table.end_ms[a:b], pa.timestamp("ms", tz="UTC")),
            "traceData": pa.array(table.blobs[a:b], pa.binary()),
        })
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(t, f, row_group_size=ROW_GROUP_ROWS)
        total += os.path.getsize(f)
    return total


def _send(port: int, req: Request, rid: str) -> Result:
    from urllib.parse import urlencode

    q = dict(req.params, rid=rid)
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    t0 = time.perf_counter()
    try:
        conn.request("GET", EXPORT_PATH + "?" + urlencode(q))
        resp = conn.getresponse()
        body = resp.read()
        return Result(req, resp.status, body, t0, time.perf_counter(), rid)
    except (OSError, http.client.HTTPException) as e:
        return Result(req, -1, b"", t0, time.perf_counter(), rid, repr(e))
    finally:
        conn.close()


def setup(spark, inputs: Inputs, work: str, cache: str) -> State:
    from trace_parquet_spark.http_service import TraceExportServer

    path = os.path.join(work, "trace_param")
    nbytes = _write_table(inputs.table, path)
    df = spark.read.parquet(path)
    server = TraceExportServer(df)
    port = server.start()
    st = State(inputs, spark, server, port, nbytes)
    st.warm_results, _ = _closed_loop(port, inputs.warmup, "w", 0, float("inf"))
    return st


def teardown(state: State) -> None:
    state.server.stop()


def _closed_loop(port: int, reqs: list[Request], prefix: str, offset: int,
                 deadline: float, tracer: Tracer | None = None) -> tuple[list, int]:
    """CLIENTS clients, each sending its next request only after the
    previous reply, taking requests in stream order from ``offset`` until
    the deadline or the end of ``reqs``. Returns (results, next index)."""
    lock = threading.Lock()
    cursor = [offset]
    results: list[Result] = []

    def client() -> None:
        while time.perf_counter() < deadline:
            with lock:
                i = cursor[0]
                if i >= len(reqs):
                    return
                cursor[0] += 1
            rid = f"{prefix}{i}"
            if tracer is None:
                res = _send(port, reqs[i], rid)
            else:
                with tracer.span("client.request", request=rid):
                    res = _send(port, reqs[i], rid)
            with lock:
                results.append(res)

    with ThreadPoolExecutor(CLIENTS) as pool:
        for fut in [pool.submit(client) for _ in range(CLIENTS)]:
            fut.result()
    return results, cursor[0]


def measure(state: State, seconds: float, tracer: Tracer | None = None,
            offset: int = 0) -> dict:
    """New requests start only before the deadline; the window ends when
    the last reply arrives. ``offset`` starts the stream further on, so a
    second window sends fresh requests."""
    stream = state.inputs.stream
    t_start = time.perf_counter()
    results, nxt = _closed_loop(state.port, stream, "r", offset, t_start + seconds, tracer)
    if nxt >= len(stream):
        raise RuntimeError("request stream exhausted; raise STREAM_LEN")
    t_end = max((r.t1 for r in results), default=time.perf_counter())
    return {"results": results, "elapsed_s": t_end - t_start, "next": nxt,
            "n_ops": len(results)}


# ---------------------------------------------------------------- oracle


def check(table: TraceTable, res: Result) -> str | None:
    """None when the reply matches the model, else what is wrong."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    req = res.req
    if res.error is not None:
        return f"transport error {res.error}"
    pos = None
    want_status, want_msg = req.expect_status, req.expect_message
    if want_status is None:
        pos = expected_rows(table, req.params)
        want_status, want_msg = (200, None) if len(pos) else (404, MSG_NO_DATA)
    if res.status != want_status:
        return f"status {res.status}, expected {want_status}"
    if res.status != 200:
        try:
            msg = json.loads(res.body)["message"]
        except (ValueError, KeyError) as e:
            return f"bad error body ({e!r})"
        return None if msg == want_msg else f"message {msg!r}"
    got = pq.read_table(io.BytesIO(res.body))
    sch = got.schema
    want_types = {"paramIndex": pa.types.is_int64, "traceData": pa.types.is_string}
    if sch.names != ["paramIndex", "startTime", "endTime", "traceData"]:
        return f"columns {sch.names}"
    for name, pred in want_types.items():
        if not pred(sch.field(name).type):
            return f"{name} type {sch.field(name).type}"
    for name in ("startTime", "endTime"):
        t = sch.field(name).type
        if not (pa.types.is_timestamp(t) and t.unit == "ms"):
            return f"{name} type {t}"
    if got.num_rows != len(pos):
        return f"{got.num_rows} rows, expected {len(pos)}"
    if not np.array_equal(got.column("paramIndex").to_numpy(), table.param[pos]):
        return "paramIndex values/order differ"
    for name, want in (("startTime", table.start_ms), ("endTime", table.end_ms)):
        col = got.column(name).cast(pa.int64()).to_numpy()
        if not np.array_equal(col, want[pos]):
            return f"{name} values/order differ"
    if got.column("traceData").to_pylist() != [table.texts[i] for i in pos]:
        return "traceData differs from the gunzipped payloads"
    return None


def verify(state: State, windows: list[dict]) -> tuple[int, int, list[str]]:
    measured = [r for w in windows for r in w["results"]]
    bad = []
    for r in state.warm_results + measured:
        why = check(state.inputs.table, r)
        if why is not None:
            bad.append(f"{r.rid} {r.req.cls}: {why}")
    return len(state.warm_results) + len(measured), len(bad), bad


# ---------------------------------------------------------------- metrics


def _latencies(window: dict, cls: str) -> list[float]:
    return [r.t1 - r.t0 for r in window["results"] if r.req.cls == cls]


def metrics(state: State, window: dict) -> tuple[dict, dict]:
    res = window["results"]
    small = timing_summary(_latencies(window, "small"))
    large = timing_summary(_latencies(window, "large"))
    rps = len(res) / window["elapsed_s"]
    e2e = {"ops_per_s": rps, "op_p50_ms": small["p50_ms"]}
    details = {
        "export_small_p50_ms": small.get("p50_ms"),
        "export_small_tail_ms": small.get("tail_ms"),
        "export_small_tail_pct": small.get("tail_pct"),
        "export_small_n": small["n"],
        "export_large_p50_ms": large.get("p50_ms"),
        "export_large_n": large["n"],
        "export_error_n": sum(r.req.cls == "error" for r in res),
        "latencies_s": [(r.req.cls, round(r.t1 - r.t0, 4)) for r in res],
        "export_rps": rps,
        "window_s": window["elapsed_s"],
    }
    return e2e, details


def trace_layers(state: State, window: dict, tracer: Tracer) -> dict:
    """Per-layer numbers of a traced window."""
    import pandas as pd

    from trace_parquet_spark.functions.gzip_codec import gunzip_utf8

    spans = tracer.spans
    client = {s.request: s.duration for s in spans if s.name == "client.request"}
    handle = {s.request: s.duration for s in spans if s.name == "http_service.handle_export"}
    transport = [client[r] - handle[r] for r in client if r in handle]
    counters = SessionCounters(state.spark)
    counters.drain()
    per_req = [counters.group_counts(r.rid) for r in window["results"] if r.status == 200]
    counts = mean_counts(per_req)
    rows = [len(expected_rows(state.inputs.table, r.req.params))
            for r in window["results"] if r.status == 200]
    kb = {c: [len(r.body) / 1024 for r in window["results"]
              if r.req.cls == c and r.status == 200] for c in ("small", "large")}
    blobs = pd.Series(state.inputs.table.blobs)
    out_bytes = sum(len(t) for t in state.inputs.table.texts)
    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        gunzip_utf8.func(blobs)
        reps.append(time.perf_counter() - t0)
    return {
        "api.parse_ms": median_or_zero(tracer.durations("api.DataExportRequest.parse")) * 1e3,
        "trace_export.plan_ms": median_or_zero(tracer.durations("trace_export.export_trace")) * 1e3,
        "http_service.export_to_bytes_ms":
            median_or_zero(tracer.durations("http_service.export_trace_to_bytes")) * 1e3,
        "http_service.transport_ms": median_or_zero(transport) * 1e3,
        "session.jobs_per_request": counts["jobs"],
        "session.stages_per_request": counts["stages"],
        "session.tasks_per_request": counts["tasks"],
        "gzip_codec.gunzip_mb_per_s": out_bytes / 1e6 / statistics.median(reps),
        "http_service.response_kb_small": median_or_zero(kb["small"]),
        "http_service.response_kb_large": median_or_zero(kb["large"]),
        "trace_export.rows_per_request": sum(rows) / len(rows) if rows else 0.0,
    }


def install_tracer(state: State, tracer: Tracer) -> None:
    """Spans around every call the export path makes into the layers,
    plus a job group per request so the session counters can be split."""
    from trace_parquet_spark import api, http_service

    counters = SessionCounters(state.spark)

    def rid_of(df, params):
        counters.set_group(params.get("rid"))
        return params.get("rid")

    tracer.wrap(http_service, "handle_export", "http_service.handle_export", rid_of)
    tracer.wrap(http_service, "export_trace_to_bytes", "http_service.export_trace_to_bytes")
    tracer.wrap(http_service, "export_trace", "trace_export.export_trace")
    tracer.wrap(api.DataExportRequest, "parse", "api.DataExportRequest.parse")


def sizes(state: State, window: dict) -> dict:
    by_class: dict[str, int] = {}
    for r in window["results"]:
        by_class[r.req.cls] = by_class.get(r.req.cls, 0) + 1
    return dict(state.inputs.sizes, table_files=N_FILES,
                table_bytes=state.table_bytes, requests=by_class, clients=CLIENTS)
