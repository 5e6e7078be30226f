"""Streaming ingest + control plane + exporter tail.

Maps the reference's channel pipeline (gRPC source → transformer →
200-worker processor → Postgres; §1.3) onto Structured Streaming:

  raw-records file source (stand-in for the gRPC exporter stream)
    → foreachBatch: D2 decode + J6 chain sort + S4/S5 MERGE
    → control pass: D4 completeness, D5 sequential, counters

foreachBatch is the right sink shape because each micro-batch needs
the multi-table idempotent MERGE protocol (sources/parquet.py), which
no built-in sink provides. Backpressure = maxFilesPerTrigger
(reference: bounded channels of 500, gRPC batches of 100 —
configuration/configuration.go:63-73); exactly-once = MERGE keys +
checkpointed source offsets, mirroring the reference's PK-upsert
idempotency (test/integration/db_integration_test.go:106-211).

The same `ingest_batch` drives the non-streaming micro-batch loop
(backfills / reload ranges, D6) — one code path for both.
"""

from __future__ import annotations

import os
from collections import Counter

from pyspark.errors.exceptions.captured import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from block_explorer_spark import schemas
from block_explorer_spark.plans import controller as C
from block_explorer_spark.plans import transformer as Tr
from block_explorer_spark.sources import manifest as Mf
from block_explorer_spark.sources import parquet as pq


def ingest_batch(spark: SparkSession, base: str, raw: DataFrame) -> int:
    """One micro-batch: transform + persist (idempotent, replay-safe).
    Returns the batch's raw row count.

    Raw records dedup EXACT duplicates: an at-least-once source can
    deliver the same record twice within one batch (the reference's
    importer stream does — db_integration_test.go:106-211, C5498), and
    a byte-identical duplicate entering the chain sort would read as a
    fork and wrongly fail the whole drop. Upsert's PK merge only covers
    cross-batch replays; in-batch dedup has to happen pre-sort. Dedup
    is over ALL columns, not just the reference: two rows sharing a
    reference but differing in payload are a genuine in-batch fork and
    must reach fork validation, not be collapsed to an arbitrary winner
    (the reference's C5498 replay is byte-identical only). The dedup
    rides the chain sort's own (pulse, jet) grouping (dedupe=True)
    instead of paying a standalone full-batch exchange — exact
    duplicates share every column, so they always share a group.

    Placement (see manifest.DRIVER_ROWS): only the transform branches.
    A batch that passes the bounded probe is decoded and chain-sorted
    on the driver by the same per-group function the cluster
    applyInPandas wraps, and the whole commit costs the probe's ONE
    Spark job. A larger batch transforms on the cluster. Both hand the
    same per-(pulse, jet) facts to `_commit_batch`.
    """
    tbl = Mf.probe_arrow(raw)
    if tbl is not None:
        records = Tr.transform_pulse_data_pdf(tbl.to_pandas(), dedupe=True)
        kept = Counter(
            zip(records["pulse_number"].tolist(), records["jet_id"].tolist())
        )
        # int64-exact Arrow aggregation (no pandas nullable-int→float
        # promotion on the chain-link columns)
        gb = tbl.group_by(["pulse_number", "jet_id"]).aggregate(
            [
                ([], "count_all"),
                ("timestamp", "max"),
                ("prev_pulse_number", "max"),
                ("next_pulse_number", "max"),
            ]
        )
        cols = ("pulse_number", "jet_id", "count_all", "timestamp_max",
                "prev_pulse_number_max", "next_pulse_number_max")
        facts = [
            (pn, jet, n, kept[pn, jet], ts, prev, nxt)
            for pn, jet, n, ts, prev, nxt in zip(
                *(gb.column(c).to_pylist() for c in cols)
            )
        ]
        _commit_batch(spark, base, facts, pq._pdf_to_arrow(records, "records"))
        return tbl.num_rows
    raw = raw.cache()
    records = None
    try:
        records = Tr.transform_pulse_data(raw, dedupe=True).cache()
        # ONE job materializes both caches AND yields the facts: each
        # union branch must scan every cached row, so this populates
        # both caches exactly as count() would. The two sides aggregate
        # through ONE union, not a join: a join of two aggregates runs
        # ~8 AQE stage-jobs on a micro-batch (measured: ~0.8 s of a
        # 2.0 s commit); the union form is a single aggregation query.
        nul = F.lit(None).cast("long")
        facts = (
            raw.select(
                "pulse_number", "jet_id", F.lit(1).alias("n_raw"),
                F.lit(0).alias("n_kept"), "timestamp",
                "prev_pulse_number", "next_pulse_number",
            )
            .unionByName(
                records.select(
                    "pulse_number", "jet_id", F.lit(0).alias("n_raw"),
                    F.lit(1).alias("n_kept"), nul.alias("timestamp"),
                    nul.alias("prev_pulse_number"),
                    nul.alias("next_pulse_number"),
                )
            )
            .groupBy("pulse_number", "jet_id")
            .agg(
                F.sum("n_raw"), F.sum("n_kept"), F.max("timestamp"),
                F.max("prev_pulse_number"), F.max("next_pulse_number"),
            )
            .collect()
        )
        _commit_batch(spark, base, facts, records)
        return sum(f[2] for f in facts)
    finally:
        raw.unpersist()
        if records is not None:
            records.unpersist()


def _commit_batch(spark: SparkSession, base: str, facts, records) -> None:
    """Ingest's tail, shared by both placements. `facts` holds one
    (pulse_number, jet_id, raw rows, kept rows, max timestamp, max
    prev_pulse_number, max next_pulse_number) tuple per (pulse, jet) of
    the raw batch; `records` is the transformed batch (a pyarrow.Table
    from the driver, a cached DataFrame from the cluster).

    Pulse rows: the source delivers pulse metadata alongside records —
    a FullPulse with REAL prev/next chain links
    (etl/extractor/platform_pulse.go:43-57), which is what the
    reference stores; a stand-in source that omits them falls back to
    the nominal step-10 cadence. SavePulse on conflict updates only
    prev, next and timestamp (etl/storage/storage.go:85-94), so a pulse
    already stored — a replay, or a split pulse's later batch — keeps
    its flags and counters; a new pulse starts incomplete and
    non-sequential until the control plane flips them. The pulses
    batch is a few rows, so it is built driver-side for both
    placements, as are the jet drops: one per (pulse, jet) that kept
    records, with the pulse's timestamp (jet_drops_from_records'
    derivation, from the facts instead of a second pass over records).

    Counters: if a touched (pulse, jet) drop already exists — a pulse
    whose records arrive split across micro-batches — batch-local
    counts would overwrite the true totals (upsert is replace-on-key).
    The reference increments counters inside its load txn
    (storage.go:56-60); the idempotent analog recomputes them from the
    post-merge fact table. In the steady state (all-new pulses) the
    jet drops ride the ONE manifest commit with pulses and records,
    matching the reference's single load txn (storage.go:28-82)."""
    import pyarrow as pa

    if not facts:
        return
    step = 10
    links: dict[int, list] = {}
    for pn, _jet, _n, _k, *link in facts:
        links.setdefault(pn, []).append(link)
    snap = Mf.read(base)
    prior_pulses = {
        r[0]: r[1:]
        for r in _stored_rows(
            spark, base, snap, "pulses", list(links),
            ["pulse_number", "is_complete", "is_sequential",
             "jet_drop_amount", "record_amount"],
        )
    }
    pulse_rows = []
    for pn, per_jet in links.items():
        ts, prev, nxt = (
            max((v for v in col if v is not None), default=None)
            for col in zip(*per_jet)
        )
        done, seq, n_drops, n_recs = prior_pulses.get(pn, (False, False, 0, 0))
        pulse_rows.append({
            "pulse_number": pn,
            "prev_pulse_number": prev if prev is not None else pn - step,
            "next_pulse_number": nxt if nxt is not None else pn + step,
            "is_complete": done,
            "is_sequential": seq,
            "timestamp": ts,
            "jet_drop_amount": n_drops,
            "record_amount": n_recs,
        })
    pulses = pa.Table.from_pylist(pulse_rows, schema=pq._arrow_schema("pulses"))
    ts_of = {r["pulse_number"]: r["timestamp"] for r in pulse_rows}
    drop_rows = [
        {"pulse_number": pn, "jet_id": jet, "record_amount": k, "timestamp": ts_of[pn]}
        for pn, jet, _n, k, *_ in facts
        if k
    ]
    touched = sorted({r["pulse_number"] for r in drop_rows})
    n_records = sum(r["record_amount"] for r in drop_rows)
    prior = _stored_rows(spark, base, snap, "jet_drops", touched, ["pulse_number"])
    batches = {"pulses": pulses, "records": records}
    stats = {
        "pulses": pq.BatchStats(list(links), len(links)),
        "records": pq.BatchStats(touched, n_records),
    }
    if not prior:
        batches["jet_drops"] = pa.Table.from_pylist(
            drop_rows, schema=pq._arrow_schema("jet_drops")
        )
        stats["jet_drops"] = pq.BatchStats(touched, len(drop_rows))
    pq.upsert_many(spark, base, batches, batch_stats=stats)
    if prior:
        # Split-pulse path only: recompute counts from the merged fact
        # table (bucket-pruned to the touched pulses), then merge
        # jet_drops after the records merge has landed.
        post = pq.read_table(
            spark, base, "records",
            pulse_gte=min(touched), pulse_lte=max(touched),
        ).filter(F.col("pulse_number").isin(touched))
        pulses_df = spark.createDataFrame(pulses, schemas.PULSES)
        pq.upsert(spark, base, "jet_drops", Tr.jet_drops_from_records(post, pulses_df))


def _stored_rows(
    spark: SparkSession, base: str, snap: dict, name: str,
    pulses: list[int], cols: list[str],
) -> list[tuple]:
    """`cols` (pulse_number first) of the committed `name` rows whose
    pulse is in `pulses`. Zone-pruned with the snapshot's per-file
    pulse_number stats first, so the steady all-new-pulses state
    proves no overlap from the manifest alone (no file read, no Spark
    job); surviving files under the merge cap are read through pyarrow
    (stats-less files are conservatively kept by prune_by_stats, so
    they get read, never skipped). A bigger overlap, an unreadable
    file, and a version-0 store — legacy files no manifest lists yet —
    read through Spark."""
    import pyarrow.parquet as papq

    if not pulses or not os.path.exists(pq.table_path(base, name)):
        return []
    want = set(pulses)
    lo, hi = min(pulses), max(pulses)
    if snap["version"]:
        rels = Mf.prune_by_stats(snap, name, "pulse_number", lo=lo, hi=hi)
        if pq._rels_bytes(base, rels) <= Mf.DRIVER_MERGE_BYTES:
            try:
                out = []
                for rel in rels:
                    t = papq.read_table(os.path.join(base, rel), columns=cols)
                    out += [
                        row
                        for row in zip(*(t.column(c).to_pylist() for c in cols))
                        if row[0] in want
                    ]
                return out
            except (OSError, ValueError):
                pass  # unreadable file: the Spark read below decides
    df = pq.read_table(spark, base, name, pulse_gte=lo, pulse_lte=hi)
    return [
        tuple(r)
        for r in df.filter(F.col("pulse_number").isin(pulses)).select(*cols).collect()
    ]


def run_control_pass(spark: SparkSession, base: str) -> dict:
    """D4 + D5 + counter refresh as one idempotent batch sweep.

    Returns what changed: {"completed": [...], "sequential": [...],
    "gaps": [...]} — gaps feed the reload loop (D6).

    r11: the three pulse-table updates (complete flags, sequential
    flags, counters) fuse into ONE upsert commit. The decisions are
    unchanged — the sequential advancer sees the complete flips
    through an in-memory overlay of the same rows the old
    flip-commit-reread produced — and the final table state is
    byte-identical, but the pass pays one manifest commit + staging
    cycle instead of three (and readers never see a partially swept
    intermediate state, which is strictly safer)."""
    from block_explorer_spark.operators.aggregates import pulse_counters

    fast = _control_pass_driver(spark, base)
    if fast is not None:
        return fast
    pulses = pq.read_table(spark, base, "pulses")
    drops = pq.read_table(spark, base, "jet_drops")
    completed = C.newly_complete_pulses(pulses, drops)
    if completed:
        pulses = pulses.withColumn(
            "is_complete",
            F.when(
                F.col("pulse_number").isin(completed), F.lit(True)
            ).otherwise(F.col("is_complete")),
        )
    sequential = C.advance_sequential(pulses)
    if sequential:
        pulses = pulses.withColumn(
            "is_sequential",
            F.when(
                F.col("pulse_number").isin(sequential), F.lit(True)
            ).otherwise(F.col("is_sequential")),
        )
    # counter refresh over the same frame (refresh_pulse_counters'
    # derivation, fused into the single commit)
    counters = pulse_counters(drops)
    updated = (
        pulses.drop("jet_drop_amount", "record_amount")
        .join(counters, "pulse_number", "left_outer")
        .fillna(0, subset=["jet_drop_amount", "record_amount"])
        .select(*[f.name for f in schemas.PULSES.fields])
    )
    pq.upsert(spark, base, "pulses", updated)
    gaps = C.find_gaps(pq.read_table(spark, base, "pulses"))
    return {"completed": completed, "sequential": sequential, "gaps": gaps}


def _control_pass_driver(spark: SparkSession, base: str) -> dict | None:
    """run_control_pass's driver fast path: when BOTH control tables'
    committed bytes fit under Mf.DRIVER_MERGE_BYTES, read them through
    pyarrow and run the sweep driver-side — the completeness check is
    the same pure `trie_covered`, the D5 advance the same
    `_sequential_walk`, the gap scan `_gaps_walk` (pinned equivalent
    to the window formulation), and the fused pulse upsert goes
    through upsert_many's pyarrow path. Zero Spark jobs for the
    KB-scale steady state the streaming loop lives in; None (→ the
    unchanged Spark path) for big stores, legacy layouts, or any
    manifest/file surprise."""
    from block_explorer_spark.functions.jets import trie_covered

    try:
        snap = Mf.read(base)
        if snap["version"] == 0:
            return None  # legacy or empty-under-protocol: Spark decides
        prels = snap["families"].get("pulses", [])
        drels = snap["families"].get("jet_drops", [])
        if pq._rels_bytes(base, prels + drels) > Mf.DRIVER_MERGE_BYTES:
            return None

        def rd(name, rels):
            if not rels:
                return None
            return pq._read_rels_arrow(base, name, rels).to_pandas()

        pulses = rd("pulses", prels)
        drops = rd("jet_drops", drels)
    except Exception:
        return None  # unreadable manifest/files: the Spark path decides
    if pulses is None or pulses.empty:
        return {"completed": [], "sequential": [], "gaps": []}

    jets_by_pulse: dict[int, set] = {}
    if drops is not None:
        for pn, jid in zip(drops["pulse_number"], drops["jet_id"]):
            jets_by_pulse.setdefault(int(pn), set()).add(jid)
    completed = sorted(
        int(pn)
        for pn, done in zip(pulses["pulse_number"], pulses["is_complete"])
        if not done
        and int(pn) in jets_by_pulse
        and trie_covered(list(jets_by_pulse[int(pn)]))
    )
    is_complete = pulses["is_complete"] | pulses["pulse_number"].isin(completed)

    seq_mask = pulses["is_sequential"]
    frontier = (
        int(pulses.loc[seq_mask, "pulse_number"].max()) if seq_mask.any() else None
    )
    cand = pulses[is_complete & ~seq_mask]
    if frontier is not None:
        cand = cand[cand["pulse_number"] > frontier]
    cand = cand.sort_values("pulse_number")
    sequential = C._sequential_walk(
        frontier,
        [
            (int(pn), None if prev != prev or prev is None else int(prev))
            for pn, prev in zip(
                cand["pulse_number"], cand["prev_pulse_number"]
            )
        ],
    )

    # counter refresh (pulse_counters' derivation) + the fused commit
    out = pulses.copy()
    out["is_complete"] = is_complete
    out["is_sequential"] = seq_mask | out["pulse_number"].isin(sequential)
    jd_amt: dict[int, int] = {}
    rec_amt: dict[int, int] = {}
    if drops is not None:
        for pn, ra in zip(drops["pulse_number"], drops["record_amount"]):
            pn = int(pn)
            jd_amt[pn] = jd_amt.get(pn, 0) + 1
            if ra == ra and ra is not None:  # null-safe sum, like F.sum
                rec_amt[pn] = rec_amt.get(pn, 0) + int(ra)
    out["jet_drop_amount"] = [jd_amt.get(int(p), 0) for p in out["pulse_number"]]
    out["record_amount"] = [rec_amt.get(int(p), 0) for p in out["pulse_number"]]
    upd = pq._pdf_to_arrow(out, "pulses")
    pns = sorted(int(p) for p in out["pulse_number"])
    pq.upsert_many(
        spark, base, {"pulses": upd},
        batch_stats={"pulses": pq.BatchStats(pns, len(pns))},
    )
    gaps = C._gaps_walk(pns)
    return {"completed": completed, "sequential": sequential, "gaps": gaps}


def _spool_dir(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "group_spool")


def flush_pending(spark: SparkSession, base: str, checkpoint_dir: str) -> int:
    """Ingest whatever the group-commit spool holds (one MERGE + ONE
    manifest swap for the whole group) and clear it. Returns raw rows
    flushed. Idempotent and crash-safe at every point: a crash before
    the clear leaves the spool intact and the next flush re-runs the
    idempotent MERGE; a crash mid-ingest self-heals the same way."""
    import shutil

    spool = _spool_dir(checkpoint_dir)
    if not os.path.isdir(spool):
        return 0
    try:
        raw = spark.read.schema(schemas.RAW_RECORDS).parquet(spool)
    except AnalysisException:
        raw = None  # spool dir exists but holds no readable parquet
    n = ingest_batch(spark, base, raw) if raw is not None else 0
    if n:
        run_control_pass(spark, base)
    shutil.rmtree(spool, ignore_errors=True)
    return n


def start_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    base: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    control_every_n_batches: int = 1,
    group_commit: int = 1,
) -> StreamingQuery:
    """readStream over a raw-records parquet directory → foreachBatch.

    Source offsets are checkpointed; a replayed micro-batch re-MERGEs
    the same keys (no duplicates). The control pass runs inline every
    N batches — cheap because it reads only incomplete pulses.

    `group_commit=K` (round 7): amortize the manifest CAS cost (~0.3 s
    per commit, flat in batch size) across K micro-batches. Each batch
    appends its raw rows to a spool beside the checkpoint (one plain
    parquet append — no CAS); every K-th batch the spool is ingested
    as ONE MERGE + ONE manifest swap. Durability story, window by
    window:
      - crash after spool append, before the offset commit → Spark
        replays the batch, the spool holds its rows twice, and
        ingest_batch's exact-duplicate dropDuplicates collapses them;
      - crash after the offset commit, before the group flush → the
        rows are no longer Spark's to replay but the spool still
        holds them; the next start_ingest_stream (or an explicit
        flush_pending) ingests them — nothing is lost;
      - crash mid-flush → spool intact (cleared only after the
        idempotent MERGE commits), replay converges.
    The trade is VISIBILITY latency (up to K micro-batches), never
    durability — the reference makes the same trade batching records
    into its load txn (etl/processor/processor.go worker pool).
    """
    raw_stream = (
        spark.readStream.schema(schemas.RAW_RECORDS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )

    if group_commit > 1:
        # self-heal: a previous run's unflushed group lands first
        flush_pending(spark, base, checkpoint_dir)
    pending = {"n": 0}

    def handle(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        if group_commit > 1:
            batch.write.mode("append").parquet(_spool_dir(checkpoint_dir))
            pending["n"] += 1
            if pending["n"] >= group_commit:
                flush_pending(spark, base, checkpoint_dir)
                pending["n"] = 0
            return
        ingest_batch(spark, base, batch)
        if control_every_n_batches and batch_id % control_every_n_batches == 0:
            run_control_pass(spark, base)

    return (
        raw_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def exporter_next_pulses(
    spark: SparkSession,
    base: str,
    from_pulse: int,
    prototypes: list[bytes],
    limit: int = 100,
) -> DataFrame:
    """D7/S7: the exporter tail as a batch poll.

    Sequential pulses after `from_pulse` whose records match the
    prototype IN-list, with matched record counts — the long-poll loop
    (etl/exporter/pulse_exporter_server.go:20-51) calls this per tick;
    a streaming deployment wraps it in readStream on the pulses table.
    """
    # pulse_gte prunes bucket directories, not just row groups — the
    # records side is the 100 TB table, so the tail poll must never
    # list buckets at or before the cursor.
    pulses = pq.read_table(spark, base, "pulses", pulse_gte=from_pulse + 1).filter(
        F.col("is_sequential")
    )
    records = pq.read_table(spark, base, "records", pulse_gte=from_pulse + 1)
    if prototypes:
        records = records.filter(F.col("prototype_reference").isin(*prototypes))
    matched = (
        F.broadcast(pulses.select("pulse_number", "prev_pulse_number"))
        .join(records, "pulse_number")
        .groupBy("pulse_number", "prev_pulse_number")
        .agg(F.count(F.lit(1)).alias("record_amount"))
    )
    return matched.orderBy("pulse_number").limit(limit)
