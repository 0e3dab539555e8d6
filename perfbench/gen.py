"""Seeded input generators for the benchmark.

Two families of inputs, both pure functions of a seed:

- Jaeger JSON-lines trace documents (one trace per line, matching
  ``traceframe_spark.schemas.RAW_TRACE_SCHEMA``) plus the ground truth
  the output checks need. The generator varies what the engine's cost
  depends on: skewed trace size, depth and fan-out, concurrent siblings,
  children that outlive their parents, a Zipf-skewed service and
  operation mix, and start times spread over whole UTC days so the span
  store's ``span_date`` partitions are real.
- The curation tables (``documents``, ``embeddings``) the registry rows
  read, in the shape of the driver's synthetic testdata: words from a
  fixed 30-word vocabulary, 5% near-duplicates marked with a ``dup``
  token (one in five of them re-sent verbatim), and unit Gaussian 64-d
  vectors with ten labels.

Everything is drawn from ``random.Random`` so the same seed writes
byte-identical files on any platform.
"""

from __future__ import annotations

import json
import math
import random
from dataclasses import dataclass, field

DAY_US = 86_400_000_000
# 2024-01-01T00:00:00Z: the first generated day
EPOCH_DAY0_US = 19_723 * DAY_US

N_SERVICES = 16
OPS_PER_SERVICE = 6
ZIPF_S = 1.1
SMALL_TRACE_SPANS = (5, 30)
OUTLIVE_FRAC = 0.04  # children that end after their parent
ERROR_FRAC = 0.03
MAX_DEPTH = 8


@dataclass
class TraceShape:
    """How many traces a day, and how many of them are big."""

    traces_per_day: int = 400
    big_traces_per_day: int = 0  # a fixed count per day
    big_trace_spans: tuple[int, int] = (800, 1200)


@dataclass
class TruthSpan:
    span_id: str
    service: str
    operation: str
    start: int
    duration: int
    parent: str
    tags: dict[str, str]  # tag values as the engine stores them (JSON text)


@dataclass
class TruthTrace:
    trace_id: str
    spans: list[TruthSpan] = field(default_factory=list)

    def root(self) -> TruthSpan:
        """The engine's root rule: earliest parent-less span, then
        spanID (the search operator's struct-min key)."""
        return min(
            self.spans,
            key=lambda s: (0 if s.parent == "" else 1, s.start, s.span_id),
        )


def _zipf_weights(n: int, s: float = ZIPF_S) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


SERVICES = [f"svc-{i:02d}" for i in range(N_SERVICES)]
OPERATIONS = {
    svc: [f"{verb}/{svc[4:]}/{i}" for i, verb in enumerate(
        ["GET", "POST", "query", "publish", "consume", "rpc"][:OPS_PER_SERVICE]
    )]
    for svc in SERVICES
}
SERVICE_W = _zipf_weights(N_SERVICES)
OP_W = _zipf_weights(OPS_PER_SERVICE)
HTTP_CODES = [200, 200, 200, 200, 201, 204, 404, 500]
REGIONS = ["us-east", "us-west", "eu-central", "ap-south"]


def _hex(rng: random.Random, n: int) -> str:
    return f"{rng.getrandbits(4 * n):0{n}x}"


def _tag(key: str, value) -> dict:
    if isinstance(value, bool):
        return {"key": key, "type": "bool", "value": value}
    if isinstance(value, int):
        return {"key": key, "type": "int64", "value": value}
    return {"key": key, "type": "string", "value": value}


def _stored(value) -> str:
    """A tag value as the engine's ``map<string,string>`` holds it: the
    JSON literal text Spark's JSON reader gives a string field."""
    if isinstance(value, str):
        return value
    return json.dumps(value)


def _n_spans(rng: random.Random, shape: TraceShape, big: bool) -> int:
    if big:
        return rng.randint(*shape.big_trace_spans)
    lo, hi = SMALL_TRACE_SPANS
    # skewed towards small traces: a triangular draw with mode at lo
    return int(rng.triangular(lo, hi + 1, lo))


def _gen_trace(rng: random.Random, day: int, shape: TraceShape, big: bool):
    """One trace document and its truth."""
    trace_id = _hex(rng, 32)
    n = _n_spans(rng, shape, big)
    root_start = EPOCH_DAY0_US + day * DAY_US + rng.randrange(DAY_US - 120_000_000)
    root_dur = rng.randint(20_000, 4_000_000)
    # (start, end, depth, service) per span, index = position
    nodes: list[tuple[int, int, int, str]] = []
    parents: list[int] = []
    svc0 = rng.choices(SERVICES, SERVICE_W)[0]
    nodes.append((root_start, root_start + root_dur, 0, svc0))
    parents.append(-1)
    for _ in range(1, n):
        # depth and fan-out: prefer recent spans as parents (deep chains)
        # while any earlier span may fan out further (wide levels)
        if rng.random() < 0.6:
            p = len(nodes) - 1 - min(len(nodes) - 1, int(rng.expovariate(0.7)))
        else:
            p = rng.randrange(len(nodes))
        while nodes[p][2] >= MAX_DEPTH:
            p = parents[p]
        ps, pe, pd, psvc = nodes[p]
        if pe - ps < 4:
            p, (ps, pe, pd, psvc) = 0, nodes[0]
        # a child starts strictly inside its parent's lifetime
        start = ps + 1 + rng.randrange(max(1, (pe - ps - 2)))
        if rng.random() < OUTLIVE_FRAC:
            end = pe + rng.randint(1, max(2, (pe - ps) // 3))
        else:
            end = start + 1 + rng.randrange(max(1, pe - start - 1))
        svc = psvc if rng.random() < 0.3 else rng.choices(SERVICES, SERVICE_W)[0]
        nodes.append((start, end, pd + 1, svc))
        parents.append(p)

    span_ids: list[str] = []
    seen: set[str] = set()
    while len(span_ids) < n:
        sid = _hex(rng, 16)
        if sid not in seen:
            seen.add(sid)
            span_ids.append(sid)

    pid_of: dict[str, str] = {}
    processes: dict[str, dict] = {}
    spans_json = []
    truth = TruthTrace(trace_id)
    for i, (start, end, _depth, svc) in enumerate(nodes):
        if svc not in pid_of:
            pid = f"p{len(pid_of) + 1}"
            pid_of[svc] = pid
            processes[pid] = {
                "serviceName": svc,
                "tags": [
                    _tag("hostname", f"{svc}-{rng.randrange(8)}"),
                    _tag("jaeger.version", "Go-2.30.0"),
                ],
            }
        op = rng.choices(OPERATIONS[svc], OP_W)[0]
        code = rng.choice(HTTP_CODES)
        tag_vals: list[tuple[str, object]] = [
            ("span.kind", "server" if parents[i] < 0 or rng.random() < 0.5 else "client"),
            ("http.status_code", code),
            ("region", rng.choices(REGIONS, [8, 4, 2, 1])[0]),
            ("cache.hit", rng.random() < 0.25),
        ]
        if rng.random() < ERROR_FRAC or code == 500:
            tag_vals.append(("error", True))
        refs = []
        if parents[i] >= 0:
            refs.append(
                {"refType": "CHILD_OF", "traceID": trace_id, "spanID": span_ids[parents[i]]}
            )
        spans_json.append(
            {
                "traceID": trace_id,
                "spanID": span_ids[i],
                "flags": 1,
                "operationName": op,
                "references": refs,
                "startTime": start,
                "duration": end - start,
                "tags": [_tag(k, v) for k, v in tag_vals],
                "logs": [],
                "processID": pid_of[svc],
                "warnings": None,
            }
        )
        truth.spans.append(
            TruthSpan(
                span_ids[i], svc, op, start, end - start,
                span_ids[parents[i]] if parents[i] >= 0 else "",
                {k: _stored(v) for k, v in tag_vals},
            )
        )
    # Jaeger dumps list spans in no particular order; shuffle so the
    # engine's root pick cannot lean on array position
    order = list(range(n))
    rng.shuffle(order)
    doc = {
        "traceID": trace_id,
        "spans": [spans_json[i] for i in order],
        "processes": processes,
        "warnings": None,
    }
    return doc, truth


def trace_day(seed: int, day: int, shape: TraceShape) -> tuple[str, list[TruthTrace]]:
    """One UTC day of traces as JSON-lines text plus its truth. Each day
    has its own stream, so a day's bytes do not depend on other days."""
    rng = random.Random(f"traces:{seed}:{day}")
    big = set(rng.sample(range(shape.traces_per_day), shape.big_traces_per_day))
    lines, truth = [], []
    for i in range(shape.traces_per_day):
        doc, t = _gen_trace(rng, day, shape, i in big)
        lines.append(json.dumps(doc, separators=(",", ":")))
        truth.append(t)
    return "\n".join(lines) + "\n", truth


def write_trace_days(
    seed: int, days: range, shape: TraceShape, out_dir: str
) -> list[TruthTrace]:
    """Write ``day-<d>.jsonl`` per day into ``out_dir``; return the truth."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    truth: list[TruthTrace] = []
    for d in days:
        text, t = trace_day(seed, d, shape)
        with open(os.path.join(out_dir, f"day-{d}.jsonl"), "w", encoding="utf-8") as f:
            f.write(text)
        truth.extend(t)
    return truth


# ---------------------------------------------------------------------------
# curation tables
# ---------------------------------------------------------------------------

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_W = [0.41, 0.15, 0.15, 0.15, 0.14]


def curation_tables(seed: int, n_docs: int = 5000, n_vecs: int = 2000, dim: int = 64):
    """``documents`` and ``embeddings`` rows as column dicts."""
    rng = random.Random(f"curation:{seed}")
    texts: list[str] = []
    for i in range(n_docs):
        if i % 100 == 39:
            texts.append(texts[-20])  # an exact re-send of a near-duplicate
        elif i % 20 == 19:
            texts.append(texts[rng.randrange(i)] + " dup")  # near-duplicate
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99))))
    docs = {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": [rng.choices(LANGS, LANG_W)[0] for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }
    vecs, labels = [], []
    for _ in range(n_vecs):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        vecs.append([x / norm for x in v])
        labels.append(rng.randrange(10))
    embs = {"vec_id": list(range(n_vecs)), "embedding": vecs, "label": labels}
    return docs, embs


def write_curation_tables(seed: int, out_dir: str, **sizes) -> None:
    """Write ``documents.parquet`` / ``embeddings.parquet`` with the
    testdata's column types."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    docs, embs = curation_tables(seed, **sizes)
    pq.write_table(
        pa.table(
            docs,
            schema=pa.schema(
                [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                 ("source", pa.string()), ("n_chars", pa.int64())]
            ),
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    pq.write_table(
        pa.table(
            embs,
            schema=pa.schema(
                [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                 ("label", pa.int32())]
            ),
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
