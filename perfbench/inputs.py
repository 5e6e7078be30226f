"""Seeded input generators for every workload.

Everything here is pure Python over `random.Random(seed)`: the same seed
gives byte-identical inputs (see `digest`), and the program under test
only ever receives the generated rows, never the seed.

Pulse shapes vary the properties ingest cost depends on — records per
pulse (100–1000) and jets per pulse (1–16, always a valid split tree, so
every delivered pulse can complete). Every block of the stream delivers
the same fixed set of shapes, splits and replays in a seeded order, so
seeds differ in arrangement and content, not in the work they ask for.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

#: First pulse number (the platform rejects numbers below 65536) and the
#: cadence every pulse links to its neighbours with.
PULSE0 = 1_000_000
STEP = 10

#: Pulse shapes (records, jets): a 100–1000 record ladder paired with a
#: 1–16 jet ladder, bigger pulses spread over more jets. The stream comes
#: in blocks of BLOCK pulses, one of each shape in a seeded order. In
#: every block the pulses of the SPLIT shapes arrive split across two
#: batches (late data) and the batch of the REPLAY shape is delivered
#: again within REPLAY_WINDOW batches (at-least-once delivery), so every
#: block carries the same mix of work.
BLOCK = 20
SHAPES = list(zip(
    [100 + round(900 * i / (BLOCK - 1)) for i in range(BLOCK)],
    [1, 2, 2, 3, 4, 4, 5, 6, 7, 8, 8, 9, 10, 11, 12, 13, 14, 15, 16, 16],
))
SPLIT = (SHAPES[6], SHAPES[13])
REPLAY = SHAPES[9]
REPLAY_WINDOW = 5


def pulse_number(k: int) -> int:
    return PULSE0 + STEP * k


def split_tree(rng: random.Random, n_leaves: int) -> list[str]:
    """Leaves of a random binary jet split tree with n_leaves leaves
    ("" is the unsplit root jet)."""
    leaves = [""]
    while len(leaves) < n_leaves:
        leaf = leaves.pop(rng.randrange(len(leaves)))
        leaves += [leaf + "0", leaf + "1"]
    return sorted(leaves)


def _ref(rng: random.Random) -> bytes:
    return rng.getrandbits(128).to_bytes(16, "big")


def pulse_records(rng: random.Random, k: int, n_records: int, n_jets: int) -> dict[str, list[dict]]:
    """Raw platform records of pulse k, grouped by jet.

    Per jet: objects whose state chains run activate → amend* (→
    deactivate), each followed by the request/result pair that caused
    it, in extractor position order. About 2% of rows are delivered
    twice inside the batch (exact duplicates, which ingest dedups)."""
    pn = pulse_number(k)
    jets = split_tree(rng, n_jets)
    per_jet = [n_records // n_jets + (1 if j < n_records % n_jets else 0) for j in range(n_jets)]
    out: dict[str, list[dict]] = {}
    for jet, n in zip(jets, per_jet):
        rows: list[dict] = []
        pos = 0

        def emit(kind, obj, prev, payload):
            nonlocal pos
            ref = _ref(rng)
            rows.append({
                "reference": ref,
                "kind": kind,
                "object_reference": obj,
                "prototype_reference": b"proto-" + bytes([rng.randrange(4)]),
                "payload": payload,
                "prev_record_reference": prev,
                "hash": ref[:8],
                "raw_data": b"r" * 24,
                "jet_id": jet,
                "pulse_number": pn,
                "timestamp": 1_600_000_000 + pn,
                "position": pos,
                "prev_pulse_number": pn - STEP,
                "next_pulse_number": pn + STEP,
            })
            pos += 1
            return ref

        while len(rows) < n:
            obj = _ref(rng)
            prev = None
            chain = rng.randint(1, 6)
            for i in range(chain):
                if len(rows) >= n:
                    break
                if i == 0:
                    kind = "activate"
                elif i == chain - 1 and rng.random() < 0.2:
                    kind = "deactivate"
                else:
                    kind = "amend"
                emit("incoming_request", None, None, b"")
                if len(rows) >= n:
                    break
                prev = emit(kind, obj, prev, b"m" * rng.randint(8, 64))
                if len(rows) < n and rng.random() < 0.5:
                    emit("result", None, None, b"ok")
        dups = [dict(r) for r in rows if rng.random() < 0.02]
        out[jet] = rows + dups
    return out


def warmup_batches(seed: int) -> list[list[dict]]:
    """Three batches that take every commit path once: the first half
    of a four-jet pulse, its late half, then a replay of the first."""
    rng = random.Random(f"warmup:{seed}")
    by_jet = pulse_records(rng, -1000, 400, 4)
    jets = sorted(by_jet)
    first = [r for j in jets[:2] for r in by_jet[j]]
    return [first, [r for j in jets[2:] for r in by_jet[j]], first]


@dataclass
class Batch:
    """One micro-batch handed to ingest: its raw rows, the pulses it
    touches, and why it exists (`fresh`, or `replay` = exact copy of
    batch `of`). `late` lists pulses whose second half it carries,
    `pending` the pulse it delivers only the first half of.
    `end_of_block` marks the last batch of a block."""

    index: int
    rows: list[dict]
    pulses: list[int]
    kind: str = "fresh"
    of: int | None = None
    late: list[int] = field(default_factory=list)
    pending: list[int] = field(default_factory=list)
    end_of_block: bool = False


@dataclass
class PulseTruth:
    """What a pulse must look like once everything has been delivered:
    the reference's SavePulse rule keeps the first insert's flags and
    counters and only refreshes prev/next/timestamp on conflict, so a
    replay never changes the end state."""

    pulse_number: int
    n_jets: int
    n_records: int  # distinct records, after in-batch dedup
    jets: dict[str, int]  # jet -> distinct record count
    objects: dict[bytes, int]  # object -> state records in its chain


def ingest_stream(seed: int, truth: dict[int, PulseTruth]):
    """The ingest_stream input: an endless iterator of batches in
    delivery order, block after block. `truth` is filled with the
    expected end state of every pulse as it is generated."""
    rng = random.Random(f"ingest:{seed}")
    batches: list[Batch] = []
    k = 0
    while True:
        order = rng.sample(SHAPES, BLOCK)
        if order[-1] in SPLIT:
            # the last pulse of a block is never split, so a block ends
            # with every pulse delivered
            j = 0 if order[0] not in SPLIT else 1
            order[-1], order[j] = order[j], order[-1]
        src_at = order.index(REPLAY)
        replay_after = min(BLOCK - 1, src_at + rng.randrange(REPLAY_WINDOW))
        first = len(batches)
        carry: list[dict] = []
        carry_pulses: list[int] = []
        for i, (n_records, n_jets) in enumerate(order):
            by_jet = pulse_records(rng, k, n_records, n_jets)
            pn = pulse_number(k)
            k += 1
            counts = {j: len({r["reference"] for r in rows}) for j, rows in by_jet.items()}
            objects: dict[bytes, int] = {}
            for rows in by_jet.values():
                for r in {r["reference"]: r for r in rows}.values():
                    if r["object_reference"] is not None:
                        objects[r["object_reference"]] = objects.get(r["object_reference"], 0) + 1
            truth[pn] = PulseTruth(pn, len(by_jet), sum(counts.values()), counts, objects)
            jets = sorted(by_jet)
            if order[i] in SPLIT:
                # the first part never covers the split tree, so the
                # pulse cannot complete before its late half arrives
                cut = rng.randint(1, len(jets) - 1)
                now = [r for j in jets[:cut] for r in by_jet[j]]
                later = [r for j in jets[cut:] for r in by_jet[j]]
            else:
                now, later = [r for j in jets for r in by_jet[j]], []
            batches.append(Batch(len(batches), carry + now, sorted(carry_pulses + [pn]),
                                 late=carry_pulses, pending=[pn] if later else []))
            carry, carry_pulses = later, ([pn] if later else [])
            if i == src_at:
                src = batches[-1]
            if i == replay_after:
                batches.append(Batch(len(batches), src.rows, src.pulses, "replay", src.index))
        batches[-1].end_of_block = True
        yield from batches[first:]


def digest(obj) -> str:
    """Stable content hash of generated inputs (dicts, lists, bytes,
    numbers and dataclasses), used to prove seed determinism."""
    h = hashlib.sha256()

    def feed(o):
        if isinstance(o, dict):
            h.update(b"{")
            for k in sorted(o, key=repr):
                feed(k)
                feed(o[k])
            h.update(b"}")
        elif isinstance(o, (list, tuple)):
            h.update(b"[")
            for v in o:
                feed(v)
            h.update(b"]")
        elif hasattr(o, "__dataclass_fields__"):
            feed(vars(o))
        else:
            h.update(repr(o).encode())
            h.update(b";")

    feed(obj)
    return h.hexdigest()


# -- api_serve --------------------------------------------------------------

VOCAB = [f"w{i}" for i in range(300)]


def corpus(seed: int, n_docs: int) -> list[tuple[int, str]]:
    """(doc_id, text) documents: lower-case words separated by single
    spaces, word frequencies Zipf-like over VOCAB."""
    rng = random.Random(f"corpus:{seed}")
    weights = [1.0 / (i + 1) for i in range(len(VOCAB))]
    return [
        (d, " ".join(rng.choices(VOCAB, weights, k=rng.randint(8, 24))))
        for d in range(n_docs)
    ]


@dataclass
class Request:
    """One API request and what its answer must be: the HTTP status and
    the body fields `expect` pins (interpreted by the workload)."""

    endpoint: str
    path: str
    status: int
    expect: dict


#: the 11 endpoints of the REST facade; a block of traffic holds each
#: once, one request for a jet drop that does not exist (404) and one
#: malformed request (400), shuffled
ENDPOINTS = (
    "get_pulses", "get_pulse", "get_jet_drops_by_pulse_number",
    "get_jet_drop_by_id", "get_records", "get_jet_drops_by_jet_id",
    "get_lifeline", "search", "search_documents", "search_phrase", "search_context",
)
BLOCK_REQUESTS = len(ENDPOINTS) + 2


def _b58(b: bytes) -> str:
    """Base58 (bitcoin alphabet), written here rather than taken from the
    program so that a wrong encoder in the program shows as failures."""
    alphabet = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
    n = int.from_bytes(b, "big")
    out = ""
    while n:
        n, r = divmod(n, 58)
        out = alphabet[r] + out
    return "1" * (len(b) - len(b.lstrip(b"\0"))) + out


def _disp(jet: str) -> str:
    return jet if jet else "*"


def api_requests(seed, truth: dict, docs: list[tuple[int, str]], n: int) -> list[Request]:
    """n requests over the store described by `truth` and the corpus, in
    shuffled blocks of fixed composition. Keys are skewed toward recent
    pulses."""
    rng = random.Random(f"api:{seed}")
    pulses = sorted(truth)
    drops = [(pn, j) for pn in pulses for j in truth[pn].jets]
    objects = [(o, c) for pn in pulses for o, c in truth[pn].objects.items()]
    tokens = [t.split() for _, t in docs]
    block = [(ep, "") for ep in ENDPOINTS]
    plan: list[tuple[str, str]] = []
    while len(plan) < n:
        b = block + [("get_jet_drop_by_id", "miss"), (rng.choice(ENDPOINTS), "invalid")]
        rng.shuffle(b)
        plan += b

    def recent_pulse():
        back = min(len(pulses) - 1, int(rng.expovariate(4.0 / len(pulses))))
        return pulses[-1 - back]

    def family(jet):
        return sum(1 for _, j in drops if j.startswith(jet) or jet.startswith(j))

    out: list[Request] = []
    for ep, variant in plan[:n]:
        miss, invalid = variant == "miss", variant == "invalid"
        pn = recent_pulse()
        t = truth[pn]
        jet = rng.choice(sorted(t.jets))
        if ep == "get_pulses":
            if invalid:
                out.append(Request(ep, "/api/v1/pulses?limit=-5", 400, {}))
            else:
                out.append(Request(ep, "/api/v1/pulses?limit=20", 200,
                                   {"total": len(pulses), "len": min(20, len(pulses))}))
        elif ep == "get_pulse":
            if miss:
                out.append(Request(ep, f"/api/v1/pulses/{pn + 5}", 404, {}))
            elif invalid:
                out.append(Request(ep, f"/api/v1/pulses/x{pn}", 400, {}))
            else:
                out.append(Request(ep, f"/api/v1/pulses/{pn}", 200, {
                    "pulse_number": pn, "jet_drop_amount": t.n_jets,
                    "record_amount": t.n_records}))
        elif ep == "get_jet_drops_by_pulse_number":
            if invalid:
                out.append(Request(ep, "/api/v1/pulses/12/jet-drops?limit=20", 400, {}))
            else:
                out.append(Request(ep, f"/api/v1/pulses/{pn}/jet-drops?limit=20", 200,
                                   {"total": t.n_jets, "len": min(20, t.n_jets)}))
        elif ep == "get_jet_drop_by_id":
            if miss:
                out.append(Request(ep, f"/api/v1/jet-drops/{_disp(jet)}:{pn + 5}", 404, {}))
            elif invalid:
                out.append(Request(ep, f"/api/v1/jet-drops/{_disp(jet)}", 400, {}))
            else:
                out.append(Request(ep, f"/api/v1/jet-drops/{_disp(jet)}:{pn}", 200,
                                   {"record_amount": t.jets[jet]}))
        elif ep == "get_records":
            if invalid:
                out.append(Request(
                    ep, f"/api/v1/jet-drops/{_disp(jet)}:{pn}/records?type=bogus", 400, {}))
            else:
                out.append(Request(ep, f"/api/v1/jet-drops/{_disp(jet)}:{pn}/records?limit=20", 200,
                                   {"total": t.jets[jet], "len": min(20, t.jets[jet])}))
        elif ep == "get_jet_drops_by_jet_id":
            if invalid:
                out.append(Request(ep, "/api/v1/jets/012/jet-drops?limit=20", 400, {}))
            else:
                total = family(jet)
                out.append(Request(ep, f"/api/v1/jets/{_disp(jet)}/jet-drops?limit=20", 200,
                                   {"total": total, "len": min(20, total)}))
        elif ep == "get_lifeline":
            obj, count = objects[-1 - min(len(objects) - 1, int(rng.expovariate(4.0 / len(objects))))]
            if miss:
                out.append(Request(ep, f"/api/v1/lifeline/{_b58(bytes(16) + obj[:16])}/records?limit=20",
                                   200, {"total": 0, "len": 0}))
            elif invalid:
                out.append(Request(ep, "/api/v1/lifeline/0OIl/records?limit=20", 400, {}))
            else:
                out.append(Request(ep, f"/api/v1/lifeline/{_b58(obj)}/records?limit=20", 200,
                                   {"total": count, "len": min(20, count)}))
        elif ep == "search":
            if invalid:
                out.append(Request(ep, "/api/v1/search?value=", 400, {}))
            else:
                obj, _ = rng.choice(objects)
                out.append(Request(ep, f"/api/v1/search?value={_b58(obj)}", 200, {"type": "lifeline"}))
        elif ep == "search_documents":
            if invalid:
                out.append(Request(ep, "/api/v1/search/documents?query=+&limit=10", 400, {}))
            else:
                terms = rng.sample(VOCAB[5:120], 2)
                hits = sum(1 for ts in tokens if terms[0] in ts or terms[1] in ts)
                out.append(Request(ep, f"/api/v1/search/documents?query={terms[0]}+{terms[1]}&limit=10",
                                   200, {"len": min(10, hits), "any_of": terms}))
        elif ep == "search_phrase":
            if invalid:
                out.append(Request(ep, "/api/v1/search/phrase?phrase=w1&limit=20", 400, {}))
            else:
                ts = rng.choice([x for x in tokens if len(x) > 1])
                i = rng.randrange(len(ts) - 1)
                a, b = ts[i], ts[i + 1]
                hits = sorted(
                    (d, sum(1 for k in range(len(x) - 1) if x[k] == a and x[k + 1] == b))
                    for d, x in enumerate(tokens)
                )
                hits = [h for h in hits if h[1]][:20]
                out.append(Request(ep, f"/api/v1/search/phrase?phrase={a}+{b}&limit=20", 200,
                                   {"hits": [list(h) for h in hits]}))
        else:  # search_context
            if invalid:
                out.append(Request(ep, "/api/v1/search/context?term=w1+w2&limit=20", 400, {}))
            else:
                term = rng.choice(VOCAB[20:200])
                occ = sum(x.count(term) for x in tokens)
                out.append(Request(ep, f"/api/v1/search/context?term={term}&limit=20", 200,
                                   {"len": min(20, occ)}))
    return out
