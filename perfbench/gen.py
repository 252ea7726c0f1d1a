"""Seeded input generators. The same seed always renders the same inputs;
the engine only ever sees what these functions produce.

- ``service_log_spec``/``render_record``: service-log records in the
  reference generator's template and value domains
  (``sources/generator.py``), each with a unique 12-digit account id so
  every landing can be matched to the record that caused it.
- ``corpus``/``embeddings``: a ``documents`` table with exact and near
  duplicates and foreign-language docs, and 64-d vectors around a fixed
  number of clusters plus a separate query batch.
- ``events``: the ``events`` table with Zipf-skewed users and an
  out-of-order share.
"""

from __future__ import annotations

import gzip
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kda_flink_app_timestream_spark.sources.generator import (
    CALLER_SERVICES,
    LATENCIES,
    OPERATIONS,
)

SEPARATOR = "-" * 72


def service_log_spec(seed: int, n: int, late_share: float = 0.0, late_after: int = 0) -> dict:
    """Per-record draws for ``n`` records: operation, caller service and
    latency indices, the unique account id, and which records are late.
    Only records with index >= ``late_after`` may be late."""
    rng = np.random.default_rng(seed)
    # i -> (i * mult + add) mod 10^12 is a bijection when mult is coprime
    # to 10^12, so account ids never repeat within a run
    mult = int(rng.integers(10**10, 10**11)) | 1
    while mult % 5 == 0:
        mult += 2
    add = int(rng.integers(0, 10**12))
    late = rng.random(n) < late_share
    late[:late_after] = False
    return {
        "account": [f"{(i * mult + add) % 10**12:012d}" for i in range(n)],
        "op": rng.integers(0, len(OPERATIONS), n).tolist(),
        "caller": rng.integers(0, len(CALLER_SERVICES), n).tolist(),
        "lat": rng.integers(0, len(LATENCIES), n).tolist(),
        "late": late.tolist(),
    }


def expected_point(spec: dict, i: int, end_ms: int) -> tuple:
    """What Timestream should receive for record ``i``: (time ms, measure
    value, sorted dimensions) — the reference parser's routing."""
    dims = (
        ("awsaccountid", spec["account"][i]),
        ("callerservice", CALLER_SERVICES[spec["caller"][i]]),
        ("operation", OPERATIONS[spec["op"][i]]),
    )
    return end_ms, LATENCIES[spec["lat"][i]], dims


def render_record(spec: dict, i: int, end_ms: int) -> bytes:
    """The gzip'd record text (timestream_kinesis_data_gen.py template)."""
    text = "\n".join(
        (
            SEPARATOR,
            f"Operation={OPERATIONS[spec['op'][i]]}",
            f"AwsAccountId={spec['account'][i]}",
            "HttpStatusCode=200",
            f"CallerService={CALLER_SERVICES[spec['caller'][i]]}",
            "Size=2",
            f"Time={LATENCIES[spec['lat'][i]]} ms",
            f"EndTime={end_ms}",
            f"StartTime={end_ms}",
            "Program=AmazonDataCatalog",
            "EOE",
        )
    )
    return gzip.compress(text.encode(), compresslevel=6, mtime=0)


# The testdata corpus vocabulary (documents.parquet, English docs).
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
FOREIGN_MARKERS = (
    ("el", "la", "de", "que", "y"),
    ("der", "die", "das", "und", "ist"),
    ("le", "la", "de", "et", "est"),
)


def corpus(seed: int, n_docs: int, exact_share: float = 0.2, near_share: float = 0.1,
           foreign_share: float = 0.15) -> pa.Table:
    """``documents`` rows: base docs of 10-90 tokens, then exact copies
    and near copies (about 5 % of tokens replaced) of earlier docs.
    Foreign docs carry another language's marker words so the language
    gate has work to reject. Each exact copy has a base doc of its own and
    near copies come two to a base doc, so every near-duplicate cluster
    has three members: the dedup operators' work, down to the number of
    connected-components rounds, is the same for every seed."""
    rng = np.random.default_rng(seed)
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_base = n_docs - n_exact - n_near
    vocab = np.array(VOCAB)
    texts: list[str] = []
    langs: list[str] = []
    for _ in range(n_base):
        toks = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 91)))].tolist()
        lang = "en"
        if rng.random() < foreign_share:
            markers = FOREIGN_MARKERS[int(rng.integers(0, len(FOREIGN_MARKERS)))]
            for j in rng.choice(len(toks), size=max(3, len(toks) // 3), replace=False):
                toks[j] = markers[int(rng.integers(0, len(markers)))]
            lang = "xx"
        texts.append(" ".join(toks))
        langs.append(lang)
    srcs = rng.choice(n_base, size=n_exact + (n_near + 1) // 2, replace=False)
    for src in srcs[:n_exact]:
        texts.append(texts[src])
        langs.append(langs[src])
    for src in np.repeat(srcs[n_exact:], 2)[:n_near]:
        toks = texts[src].split()
        n_edit = max(1, round(len(toks) * 0.05))
        for j in rng.choice(len(toks), size=n_edit, replace=False):
            toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts.append(" ".join(toks))
        langs.append(langs[src])
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    langs = [langs[i] for i in order]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 5}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(seed: int, n_vectors: int, n_queries: int, dim: int = 64,
               n_clusters: int = 64, spread: float = 0.35) -> tuple[pa.Table, pa.Table]:
    """(corpus, queries) in the ``embeddings`` schema. Query ids follow
    the corpus ids, so no query is its own neighbour."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def draw(n: int, first_id: int) -> pa.Table:
        labels = rng.integers(0, n_clusters, n)
        vecs = centers[labels] + rng.normal(scale=spread / np.sqrt(dim), size=(n, dim))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        return pa.table(
            {
                "vec_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
                "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        )

    return draw(n_vectors, 0), draw(n_queries, n_vectors)


EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


def events(seed: int, n: int, n_users: int = 20_000, zipf_a: float = 1.3,
           out_of_order_share: float = 0.1) -> pa.Table:
    """``events`` rows: timestamps increase with ``event_id`` except for
    an out-of-order share displaced by up to an hour; ``user_id`` is
    Zipf-skewed so a few users hold a large share of rows."""
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, EVENTS_SPAN_US, n))
    ooo = rng.random(n) < out_of_order_share
    ts[ooo] -= rng.integers(0, 3_600_000_000, int(ooo.sum()))
    ts = np.clip(ts, 0, None) + EVENTS_START_US
    users = (rng.zipf(zipf_a, n) - 1) % n_users
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.random(n) * 100, 2)),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
        }
    )


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)
