"""api_serve: HTTP traffic against `rest.serve(BlockExplorerApi(...))`.

The store is built through `pipeline.ingest_batch` micro-batches, so its
file layout is the one streaming leaves between compactions. Pulses and
jet drops are pinned with `api.serving_tables`; lifeline reads go
through the warehouse; a positional postings index serves /search/*.

After one untimed block of warm-up traffic, phase one is a closed loop
with nproc clients and gives the capacity (clients over mean response
time). Phase two is an open loop at half that capacity: each request is
timed from the moment it was due, and the generator's own lateness is
kept.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor

from perfbench import inputs
from perfbench.common import Result, median, pct
from perfbench.ingest import build_store

STORE_BATCHES = 6
N_DOCS = 2000
TIMEOUT_S = 30.0
#: a traffic block's nominal length; each loop runs one whole block per
#: this many seconds of --seconds, the open loop at least three (its
#: median over fewer requests moves with where the heavy ones fall)
BLOCK_SECONDS = 8.0
OPEN_MIN_BLOCKS = 3
OPEN_LOAD = 0.5  # open-loop rate as a share of the measured capacity

LAYER_UNITS = {
    **{f"rest.{e}.server_p50_ms": "ms" for e in inputs.ENDPOINTS},
    "rest.requests_isolated": "count",
    "rest.http_overhead_ms": "ms",
    "rest.spark_jobs_per_request": "count",
    "rest.get_lifeline.rows_scanned_per_row": "ratio",
    "api.validate_ms": "ms",
    "api.render_ms": "ms",
    "api.sender_late_ms": "ms",
    "queries.call_ms": "ms",
    "parquet.read_records_for_object.p50_s": "s",
    "operators.task_ms_per_request": "ms",
    "operators.shuffle_write_kb_per_request": "KB",
}

_VALIDATORS = (
    "check_limit_offset", "check_sort_by_index", "check_sort_by_pulse",
    "check_sort_by_pulse_number", "check_from_index", "check_jet_id",
    "check_record_type", "check_pulse_number", "check_reference", "search_dispatch",
)
_RENDERERS = (
    "records_to_api", "render_refs", "pulses_to_api", "pulse_row_to_api",
    "jet_drop_row_to_api", "jet_drops_to_api",
)
_HANDLERS = {
    "get_pulses": "pulses_list", "get_pulse": "pulse_by_number",
    "get_jet_drops_by_pulse_number": "jet_drops_by_pulse",
    "get_jet_drop_by_id": "jet_drop_by_id", "get_records": "jet_drop_records",
    "get_jet_drops_by_jet_id": "jet_drops_by_jet_id", "get_lifeline": "object_lifeline",
    "search": "search", "search_documents": "search_documents",
    "search_phrase": "search_phrase", "search_context": "search_context",
}


def start_server(spark, base: str, docs_rows, idx_dir: str):
    """The serving stack over a built store: pinned dims, warehouse
    lifeline reads, the positional search index, a warmed server."""
    from block_explorer_spark import api
    from block_explorer_spark.operators import retrieval as R
    from block_explorer_spark.rest import BlockExplorerApi, serve
    from block_explorer_spark.sources import parquet as pq

    pulses, drops = api.serving_tables(
        pq.read_table(spark, base, "pulses"), pq.read_table(spark, base, "jet_drops")
    )
    records = pq.read_table(spark, base, "records")
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string").cache()
    R.write_postings_index(docs, idx_dir, num_files=4, positions=True)
    impl = BlockExplorerApi(pulses, drops, records, warehouse_base=base, spark=spark)
    impl.attach_search(docs, idx_dir)
    return serve(impl), (pulses, drops, docs)


def stop_server(server, cached) -> None:
    server.shutdown()
    server.server_close()
    for df in cached:
        df.unpersist()


def check(req: inputs.Request, status: int, body) -> bool:
    """Does the answer match what the generated store implies?"""
    if status != req.status:
        return False
    e = req.expect
    if status != 200:
        return True
    result = body.get("result", [])
    for k in ("total", "pulse_number", "jet_drop_amount", "record_amount", "type"):
        if k in e and body.get(k) != e[k]:
            return False
    if "len" in e and len(result) != e["len"]:
        return False
    if "hits" in e and [[r["doc_id"], r["n_occurrences"]] for r in result] != e["hits"]:
        return False
    return True


def send(url: str, req: inputs.Request) -> tuple[bool, float]:
    """One HTTP request: (answer correct, seconds)."""
    t0 = time.perf_counter()
    try:
        with urllib.request.urlopen(url + req.path, timeout=TIMEOUT_S) as resp:
            status, raw = resp.status, resp.read()
    except urllib.error.HTTPError as e:
        status, raw = e.code, e.read()
    except (urllib.error.URLError, TimeoutError, ConnectionError):
        return False, time.perf_counter() - t0
    try:
        ok = check(req, status, json.loads(raw) if raw else {})
    except ValueError:
        ok = False
    return ok, time.perf_counter() - t0


def closed_loop(url, reqs, clients: int):
    """`clients` threads, each sending its next request when the
    previous answer arrived, until `reqs` is used up. Returns
    [(request, correct, seconds)]."""
    it = iter(reqs)
    lock = threading.Lock()
    results: list[tuple[inputs.Request, bool, float]] = []

    def client():
        while True:
            with lock:
                req = next(it, None)
            if req is None:
                return
            ok, seconds = send(url, req)
            with lock:
                results.append((req, ok, seconds))

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results


def open_loop(url, reqs, clients: int, rate: float):
    """Requests due at a constant `rate` (as the reference's load test
    paces them), sent from at most `clients` threads whatever the
    server's state. Latency counts from the due time; lateness is how
    long after its due time a request left the generator."""
    start = time.perf_counter() + 0.05
    late: list[float] = []

    def one(i):
        due = start + i / rate
        late.append(time.perf_counter() - due)
        ok, _ = send(url, reqs[i])
        return reqs[i], ok, time.perf_counter() - due

    futures = []
    with ThreadPoolExecutor(max_workers=clients) as pool:
        for i in range(len(reqs)):
            wait = start + i / rate - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            futures.append(pool.submit(one, i))
        results = [f.result() for f in futures]
    return results, late


def install_tracing(tracer) -> None:
    from block_explorer_spark import api
    from block_explorer_spark.plans import queries as Q
    from block_explorer_spark.rest import BlockExplorerApi
    from block_explorer_spark.sources import parquet as pq

    for name in _VALIDATORS:
        tracer.wrap(api, name, "api.validate")
    for name in _RENDERERS:
        tracer.wrap(api, name, "api.render")
    for name in dir(Q):
        if name.startswith("get_") and callable(getattr(Q, name)):
            tracer.wrap(Q, name, "queries.call")
    tracer.wrap(pq, "read_records_for_object", "parquet.read_records_for_object")
    for ep, method in _HANDLERS.items():
        tracer.wrap(BlockExplorerApi, method, f"rest.{ep}", jobs=True, new_op=True)


def isolated_pass(tracer, url, reqs, stage_metrics) -> dict:
    """One client, one request at a time: the requests once untraced,
    then once traced. Gives the tracing overhead, the counts that need
    isolation (Spark jobs, task time, shuffle and rows scanned per
    request) and the client-minus-server HTTP overhead."""
    plain = [send(url, req)[1] for req in reqs]
    traced, overhead = [], []
    scanned = returned = task_ms = shuffle = 0
    for req in reqs:
        n0 = len(tracer.spans)
        before = stage_metrics.snapshot()
        tracer.default_on = True
        try:
            t0 = time.perf_counter()
            with urllib.request.urlopen(url + req.path, timeout=TIMEOUT_S) as resp:
                body = json.loads(resp.read())
            client = time.perf_counter() - t0
        finally:
            tracer.default_on = False
        delta = stage_metrics.delta(before, stage_metrics.snapshot())
        traced.append(client)
        task_ms += delta["executorRunTime"]
        shuffle += delta["shuffleWriteBytes"]
        server = [s for s in tracer.spans[n0:] if s.name == f"rest.{req.endpoint}"]
        if server:
            overhead.append(client - server[0].dur)
        if req.endpoint == "get_lifeline":
            scanned += delta["inputRecords"]
            returned += len(body.get("result", []))
    return {"plain": plain, "traced": traced, "overhead": overhead, "scanned": scanned,
            "returned": returned, "task_ms": task_ms / len(reqs),
            "shuffle_kb": shuffle / 1024 / len(reqs)}


def run(ctx) -> Result:
    from block_explorer_spark.metrics import StageMetrics

    spark = ctx.spark
    base = os.path.join(ctx.work, "store")
    t_build = time.perf_counter()
    truth = build_store(spark, base, ctx.seed, STORE_BATCHES)
    docs_rows = inputs.corpus(ctx.seed, N_DOCS)
    build_s = time.perf_counter() - t_build

    # set-up is the serving stack's start; a fresh JVM pays it once,
    # and a second cold start does not fit the run's time budget
    t0 = time.perf_counter()
    server, cached = start_server(spark, base, docs_rows, os.path.join(ctx.work, "idx"))
    setup_s = time.perf_counter() - t0
    url = f"http://127.0.0.1:{server.server_address[1]}"

    # whole traffic blocks, so every run sees the same endpoint mix
    blocks = max(1, round(ctx.seconds / BLOCK_SECONDS))
    reqs = inputs.api_requests(f"{ctx.seed}:closed", truth, docs_rows,
                               blocks * inputs.BLOCK_REQUESTS)
    tracer = ctx.tracer
    try:
        # one untimed block first, so the endpoints' code paths are warm
        # under concurrent load before anything is timed
        warm = closed_loop(url, inputs.api_requests(
            f"{ctx.seed}:warm", truth, docs_rows, inputs.BLOCK_REQUESTS), ctx.cpus)
        t_closed = time.perf_counter()
        closed = closed_loop(url, reqs, ctx.cpus)
        wall = time.perf_counter() - t_closed
        # Little's law for a closed loop without think time: throughput
        # is clients over mean response time, with no end-of-phase tail
        capacity = ctx.cpus / statistics.fmean(seconds for _, _, seconds in closed)
        rate = OPEN_LOAD * capacity
        opened, late = open_loop(url, inputs.api_requests(
            f"{ctx.seed}:open", truth, docs_rows,
            max(OPEN_MIN_BLOCKS, blocks) * inputs.BLOCK_REQUESTS), ctx.cpus, rate)
        with urllib.request.urlopen(url + "/metrics.json", timeout=TIMEOUT_S) as resp:
            server_stats = json.loads(resp.read())["endpoints"]
        layers = {}
        if tracer is not None:
            install_tracing(tracer)
            iso_reqs = [r for r in reqs if r.status == 200]
            iso_reqs = [next(r for r in iso_reqs if r.endpoint == ep) for ep in inputs.ENDPOINTS]
            iso = isolated_pass(tracer, url, iso_reqs, StageMetrics(spark))
            layers = serve_layers(tracer, iso, server_stats, late)
    finally:
        stop_server(server, cached)

    results = warm + closed + opened
    failed = sum(1 for _, ok, _ in results if not ok)
    lat = [seconds for _, _, seconds in opened]
    return Result(
        attempted=len(results),
        failed=failed,
        correct=True,
        setup_s=setup_s,
        p50_ms=pct(lat, 0.5) * 1000,
        p95_ms=pct(lat, 0.95) * 1000,
        ops_per_s=capacity,
        layers=layers,
        ops=[{"phase": phase, "path": r.path, "status": r.status, "ok": ok, "latency_s": x}
             for phase, res in (("warm", warm), ("closed", closed), ("open", opened))
             for r, ok, x in res],
        notes=[f"store built in {build_s:.2f}s, set-up {setup_s:.2f}s; closed loop: "
               f"{len(closed)} requests in {wall:.2f}s; open loop: {len(opened)} at "
               f"{rate:.2f}/s, p95 lateness "
               f"{pct(late, 0.95) * 1000:.1f}ms; {failed} wrong answers"],
    )


def serve_layers(tracer, iso, server_stats, late) -> dict:
    per_op: dict[str, dict[str, float]] = {}
    for s in tracer.spans:
        d = per_op.setdefault(s.op, {})
        d[s.name] = d.get(s.name, 0.0) + s.dur
    rest_spans = [s for s in tracer.spans if s.name.startswith("rest.")]
    ops = [d for op, d in per_op.items() if op is not None]
    lifeline = tracer.by_name("parquet.read_records_for_object")
    return {
        **{f"rest.{e}.server_p50_ms": server_stats.get(e, {}).get("p50_ms", 0.0)
           for e in inputs.ENDPOINTS},
        "rest.requests_isolated": len(rest_spans),
        "rest.http_overhead_ms": median(iso["overhead"]) * 1000,
        "rest.spark_jobs_per_request": (
            sum(s.jobs for s in rest_spans) / len(rest_spans) if rest_spans else 0.0
        ),
        "rest.get_lifeline.rows_scanned_per_row": (
            iso["scanned"] / iso["returned"] if iso["returned"] else 0.0
        ),
        "api.validate_ms": median([d.get("api.validate", 0.0) for d in ops]) * 1000,
        "api.render_ms": median([d.get("api.render", 0.0) for d in ops]) * 1000,
        "queries.call_ms": median([d.get("queries.call", 0.0) for d in ops]) * 1000,
        "api.sender_late_ms": pct(late, 0.95) * 1000,
        "parquet.read_records_for_object.p50_s": median([s.dur for s in lifeline]),
        "operators.task_ms_per_request": iso["task_ms"],
        "operators.shuffle_write_kb_per_request": iso["shuffle_kb"],
        "trace.overhead_ms": (median(iso["traced"]) - median(iso["plain"])) * 1000,
    }
