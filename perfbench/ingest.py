"""ingest_stream: a closed loop with one producer, as foreachBatch
drives it. Each micro-batch is handed over only after the previous
`ingest_batch` and its `run_control_pass` have returned; a batch is
visible when its control pass returns. The store grows from empty.

The stream is delivered REPS times, each time to a fresh store, and a
batch's visible latency is its best over the deliveries: on a shared
machine a burst of interference slows one delivery, not all of them."""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time
import traceback

import pyarrow as pa

from perfbench import inputs
from perfbench.common import SETUP_REPS, Result, dir_bytes, median, pct

#: the stream is delivered REPS times, each time to a fresh store, and
#: holds one whole block per REPS * BLOCK_SECONDS of --seconds (one
#: delivery of a block takes about this long on a 4-core machine)
REPS = 3
BLOCK_SECONDS = 6.0

LAYER_UNITS = {
    "pipeline.commits": "count",
    "pipeline.ingest_batch.p50_s": "s",
    "pipeline.ingest_batch.split_p50_s": "s",
    "pipeline.spark_jobs_per_commit": "count",
    "pipeline.control_passes": "count",
    "pipeline.control_pass.p50_s": "s",
    "pipeline.control_pass.growth": "ratio",
    "pipeline.spark_jobs_per_control_pass": "count",
    "transformer.raw_records": "count",
    "transformer.transform_s_per_krec": "s",
    "transformer.kept_ratio": "ratio",
    "parquet.upsert_many.p50_s": "s",
    "manifest.commits": "count",
    "manifest.commit.p50_s": "s",
    "parquet.files_per_commit": "count",
    "parquet.bytes_written_per_user_byte": "ratio",
    "manifest.reads_per_commit": "count",
    "manifest.commit_conflicts": "count",
    "manifest.bytes": "bytes",
    "parquet.live_files.pulses": "count",
    "parquet.live_files.jet_drops": "count",
    "parquet.live_files.records": "count",
}


def _arrow_schema():
    from block_explorer_spark import schemas

    kinds = {"BinaryType": pa.binary(), "StringType": pa.string(),
             "LongType": pa.int64(), "IntegerType": pa.int32()}
    return pa.schema([
        pa.field(f.name, kinds[type(f.dataType).__name__], f.nullable)
        for f in schemas.RAW_RECORDS.fields
    ])


def hand_over(spark, table: pa.Table):
    """The batch as the Spark DataFrame foreachBatch would receive."""
    from block_explorer_spark import schemas

    return spark.createDataFrame(table, schemas.RAW_RECORDS)


def install_tracing(tracer, counts: dict) -> None:
    """Spans at the layer boundaries ingest crosses."""
    from block_explorer_spark.plans import transformer as Tr
    from block_explorer_spark.sources import manifest as Mf
    from block_explorer_spark.sources import parquet as pq
    from block_explorer_spark.streaming import pipeline as P

    def kept(a, result):
        counts["raw_in"] += len(a["raw_pdf"])
        counts["kept"] += len(result)

    def committed(a, result):
        base, families, expect = a["base"], a["families"], a["expect_version"]
        prev = set()
        if expect > 0:
            m = Mf.read_at(base, expect)
            prev = {r for rels in m["families"].values() for r in rels}
        added = {r for rels in families.values() for r in rels} - prev
        counts["files_added"] += len(added)
        counts["bytes_added"] += sum(os.path.getsize(os.path.join(base, r)) for r in added)

    tracer.wrap(P, "ingest_batch", "pipeline.ingest_batch", jobs=True)
    tracer.wrap(P, "run_control_pass", "pipeline.control_pass", jobs=True)
    tracer.wrap(Tr, "transform_pulse_data_pdf", "transformer.transform", after=kept)
    tracer.wrap(Tr, "transform_pulse_data", "transformer.transform")
    tracer.wrap(Tr, "_decode_pandas", "transformer.decode")
    tracer.wrap(Tr, "decode_records", "transformer.decode")
    tracer.wrap(pq, "upsert_many", "parquet.upsert_many")
    tracer.wrap(pq, "read_table", "parquet.read_table")
    tracer.wrap(Mf, "commit", "manifest.commit", after=committed)
    tracer.wrap(Mf, "read", "manifest.read")
    tracer.wrap(Mf, "stage_df", "manifest.stage_df")


def check_store(spark, base: str, truth: dict, last_writer: dict) -> tuple[set, list]:
    """End-state check against the reference's SavePulse rule. Returns
    the batches whose pulses ended wrong, and human-readable findings."""
    from block_explorer_spark.sources import parquet as pq

    pulses = {r["pulse_number"]: r for r in pq.read_table(spark, base, "pulses").collect()}
    drops = {}
    for r in pq.read_table(spark, base, "jet_drops").collect():
        drops.setdefault(r["pulse_number"], {})[r["jet_id"]] = r["record_amount"]
    recs = {}
    for r in (pq.read_table(spark, base, "records")
              .groupBy("pulse_number", "jet_id").count().collect()):
        recs.setdefault(r["pulse_number"], {})[r["jet_id"]] = r["count"]
    bad_batches: set = set()
    notes: list = []
    for pn, batch in last_writer.items():
        t = truth[pn]
        p = pulses.get(pn)
        want = {"is_complete": True, "is_sequential": True,
                "jet_drop_amount": t.n_jets, "record_amount": t.n_records,
                "prev_pulse_number": pn - inputs.STEP, "next_pulse_number": pn + inputs.STEP}
        wrong = ["missing"] if p is None else [k for k, v in want.items() if p[k] != v]
        if drops.get(pn) != t.jets:
            wrong.append("jet_drops")
        if recs.get(pn) != t.jets:
            wrong.append("records")
        if wrong:
            bad_batches.add(batch)
            notes.append(f"pulse {pn} (last written by batch {batch}): wrong {', '.join(wrong)}")
    return bad_batches, notes


def build_store(spark, base: str, seed: int, n_batches: int) -> dict:
    """A store written the way the stream writes it: n_batches
    micro-batches (more if a split pulse is still open), each followed
    by its control pass. Returns the expected state of its pulses."""
    from block_explorer_spark.streaming import pipeline as P

    schema = _arrow_schema()
    truth: dict = {}
    delivered: set = set()
    waiting: set = set()
    for batch in inputs.ingest_stream(seed, truth):
        if batch.index >= n_batches and not waiting:
            break
        waiting = (waiting | set(batch.pending)) - set(batch.late)
        P.ingest_batch(spark, base, hand_over(spark, pa.Table.from_pylist(batch.rows, schema=schema)))
        P.run_control_pass(spark, base)
        delivered.update(batch.pulses)
    return {pn: truth[pn] for pn in sorted(delivered)}


def _deliver(spark, base: str, stream: list, tables: list, tracer, traced: bool,
             last_writer: dict) -> tuple[list[float], set]:
    """Hand every batch of `stream` to a store growing from empty, one
    at a time, each after the previous batch's control pass returned.
    Returns each batch's visible latency and the batches that raised."""
    from block_explorer_spark.streaming import pipeline as P

    lat: list[float] = []
    raised: set = set()
    for batch, table in zip(stream, tables):
        raw = hand_over(spark, table)
        with tracer.op(batch.index, traced) if tracer else contextlib.nullcontext():
            t0 = time.perf_counter()
            try:
                P.ingest_batch(spark, base, raw)
                P.run_control_pass(spark, base)
            except Exception:  # a failed commit is a failed operation
                traceback.print_exc(file=sys.stderr)
                raised.add(batch.index)
            lat.append(time.perf_counter() - t0)
        for pn in batch.pulses:
            last_writer[pn] = batch.index
    return lat, raised


def run(ctx) -> Result:
    from block_explorer_spark.streaming import pipeline as P

    spark = ctx.spark
    schema = _arrow_schema()
    counts = dict.fromkeys(("raw_in", "kept", "files_added", "bytes_added", "user_bytes"), 0)

    # set-up: make the input stream and warm every commit path (plain,
    # split pulse, replay) on a scratch store, SETUP_REPS times
    setup = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        next(inputs.ingest_stream(ctx.seed, {}))
        warm_dir = os.path.join(ctx.work, f"warm{rep}")
        for rows in inputs.warmup_batches(ctx.seed):
            P.ingest_batch(spark, warm_dir, hand_over(spark, pa.Table.from_pylist(rows, schema=schema)))
            P.run_control_pass(spark, warm_dir)
        setup.append(time.perf_counter() - t0)
        shutil.rmtree(warm_dir, ignore_errors=True)

    # whole blocks of the stream, so every run measures the same mix of
    # plain, split and replayed batches
    blocks = max(1, round(ctx.seconds / (REPS * BLOCK_SECONDS)))
    truth: dict = {}
    stream = []
    for batch in inputs.ingest_stream(ctx.seed, truth):
        stream.append(batch)
        blocks -= batch.end_of_block
        if blocks == 0:
            break
    tables = [pa.Table.from_pylist(b.rows, schema=schema) for b in stream]
    kinds = ["split" if b.late or b.pending or b.kind == "replay" else "plain" for b in stream]

    tracer = ctx.tracer
    if tracer is not None:
        install_tracing(tracer, counts)
        counts["user_bytes"] = sum(t.nbytes for t in tables)

    # the same stream, REPS times, each time into a fresh store; a
    # traced run traces its first delivery only
    reps: list[list[float]] = []
    failed_ops: set = set()
    notes: list = []
    layers: dict = {}
    for r in range(REPS):
        base = os.path.join(ctx.work, f"store{r}")
        last_writer: dict = {}
        lat, raised = _deliver(spark, base, stream, tables, tracer,
                               tracer is not None and r == 0, last_writer)
        bad, found = check_store(spark, base, truth, last_writer)
        failed_ops |= {(r, i) for i in raised | bad}
        notes += [f"delivery {r}: {n}" for n in found]
        reps.append(lat)
        if tracer is not None and r == 0:
            layers = ingest_layers(tracer, base, counts, kinds)
        shutil.rmtree(base, ignore_errors=True)
    # a batch's visible latency is its best over the deliveries
    untraced = reps[1:] if tracer is not None else reps
    best = [min(xs) for xs in zip(*untraced)]
    busy = sum(best)
    if tracer is not None:
        # the same batches, traced and untraced
        layers["trace.overhead_ms"] = median([t - b for t, b in zip(reps[0], best)]) * 1000

    summary = [f"set-up {[round(x, 2) for x in setup]}s; {len(stream)} batches, "
               f"{len(truth)} pulses, {REPS} deliveries busy "
               f"{[round(sum(x), 2) for x in reps]}s, best-of {busy:.2f}s; "
               f"per-delivery p50 {[round(pct(x, 0.5) * 1000, 1) for x in reps]}ms"]
    return Result(
        attempted=len(stream) * REPS,
        failed=len(failed_ops),
        correct=True,
        setup_s=median(setup),
        p50_ms=pct(best, 0.5) * 1000,
        p95_ms=pct(best, 0.95) * 1000,
        ops_per_s=len(best) / busy,
        layers=layers,
        notes=summary + notes,
        ops=[{"op": i, "kind": k, "latency_s": list(xs), "best_s": b}
             for i, (k, xs, b) in enumerate(zip(kinds, zip(*reps), best))],
    )


def ingest_layers(tracer, base: str, counts: dict, kinds) -> dict:
    from block_explorer_spark.sources import manifest as Mf

    commits = tracer.by_name("pipeline.ingest_batch")
    passes = sorted(tracer.by_name("pipeline.control_pass"), key=lambda s: s.start)
    split_ops = {i for i, k in enumerate(kinds) if k == "split"}
    mcommits = tracer.by_name("manifest.commit")
    reads = tracer.by_name("manifest.read")
    tenth = max(1, len(passes) // 10)
    first = median([s.dur for s in passes[:tenth]])
    last = median([s.dur for s in passes[-tenth:]])
    snap = Mf.read(base)
    return {
        "pipeline.commits": len(commits),
        "pipeline.ingest_batch.p50_s": tracer.p50("pipeline.ingest_batch"),
        "pipeline.ingest_batch.split_p50_s": median(
            [s.dur for s in commits if s.op in split_ops]
        ),
        "pipeline.spark_jobs_per_commit": _mean([s.jobs for s in commits]),
        "pipeline.control_passes": len(passes),
        "pipeline.control_pass.p50_s": tracer.p50("pipeline.control_pass"),
        "pipeline.control_pass.growth": last / first if first else 0.0,
        "pipeline.spark_jobs_per_control_pass": _mean([s.jobs for s in passes]),
        "transformer.raw_records": counts["raw_in"],
        "transformer.transform_s_per_krec": (
            sum(s.dur for s in tracer.by_name("transformer.transform")) / (counts["raw_in"] / 1000)
            if counts["raw_in"] else 0.0
        ),
        "transformer.kept_ratio": counts["kept"] / counts["raw_in"] if counts["raw_in"] else 0.0,
        "parquet.upsert_many.p50_s": tracer.p50("parquet.upsert_many"),
        "manifest.commits": len(mcommits),
        "manifest.commit.p50_s": tracer.p50("manifest.commit"),
        "parquet.files_per_commit": counts["files_added"] / len(mcommits) if mcommits else 0.0,
        "parquet.bytes_written_per_user_byte": (
            counts["bytes_added"] / counts["user_bytes"] if counts["user_bytes"] else 0.0
        ),
        "manifest.reads_per_commit": len(reads) / len(commits) if commits else 0.0,
        "manifest.commit_conflicts": sum(
            1 for s in mcommits if (s.extra or {}).get("error") == "CommitConflict"
        ),
        "manifest.bytes": dir_bytes(os.path.join(base, "_manifest")),
        **{
            f"parquet.live_files.{t}": len(snap["families"].get(t, []))
            for t in ("pulses", "jet_drops", "records")
        },
    }


def _mean(xs) -> float:
    xs = [x for x in xs if x is not None]
    return sum(xs) / len(xs) if xs else 0.0
