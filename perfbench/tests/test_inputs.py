"""The benchmark's inputs come from its seed alone."""

from __future__ import annotations

import itertools

from perfbench import inputs


def _stream(seed: int, n: int):
    truth: dict = {}
    batches = list(itertools.islice(inputs.ingest_stream(seed, truth), n))
    return batches, truth


def _api(seed: int):
    batches, truth = _stream(seed, 12)
    docs = inputs.corpus(seed, 300)
    return docs, inputs.api_requests(seed, truth, docs, 60)


def test_same_seed_gives_identical_inputs():
    assert inputs.digest(_stream(7, 45)) == inputs.digest(_stream(7, 45))
    assert inputs.digest(_api(7)) == inputs.digest(_api(7))
    assert inputs.digest(inputs.warmup_batches(7)) == inputs.digest(inputs.warmup_batches(7))


def test_different_seed_gives_different_inputs():
    assert inputs.digest(_stream(7, 45)) != inputs.digest(_stream(8, 45))
    assert inputs.digest(_api(7)) != inputs.digest(_api(8))
    assert inputs.digest(inputs.warmup_batches(7)) != inputs.digest(inputs.warmup_batches(8))


def test_digest_sees_bytes():
    assert inputs.digest([{"a": b"\x00"}]) != inputs.digest([{"a": b"\x01"}])


def _covers(jets: set[str]) -> bool:
    """Do the jets tile the whole split tree (every leaf a full prefix
    cover, no gaps)?"""
    def covered(prefix: str) -> bool:
        if prefix in jets:
            return True
        if len(prefix) > 16:
            return False
        return covered(prefix + "0") and covered(prefix + "1")

    return covered("")


def test_stream_shape():
    batches, truth = _stream(3, 60)
    seen: dict[int, set[str]] = {}
    replays = splits = 0
    for b in batches:
        if b.kind == "replay":
            replays += 1
            assert b.rows is batches[b.of].rows
            continue
        for r in b.rows:
            seen.setdefault(r["pulse_number"], set()).add(r["jet_id"])
        for pn in b.pending:
            splits += 1
            assert not _covers(seen[pn])  # the first part never completes
    assert replays >= 2 and splits >= 4
    # every block asks for the same work: one pulse of each shape
    first_block = [truth[inputs.pulse_number(k)] for k in range(inputs.BLOCK)]
    assert sorted((t.n_records, t.n_jets) for t in first_block) == sorted(inputs.SHAPES)
    for pn, t in truth.items():
        if pn in seen and pn not in batches[-1].pending:
            assert _covers(seen[pn]) and seen[pn] == set(t.jets)
            assert 1 <= t.n_jets <= 16 and 100 <= sum(t.jets.values()) <= 1000


def test_api_mix_is_whole_blocks():
    _, reqs = _api(5)
    block = reqs[: inputs.BLOCK_REQUESTS]
    assert {r.endpoint for r in block} == set(inputs.ENDPOINTS)
    assert sorted(r.status for r in block).count(200) == inputs.BLOCK_REQUESTS - 2
