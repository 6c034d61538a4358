"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (numpy ``default_rng``), so
the same seed always yields byte-identical inputs. The program under test
only ever sees the files these functions write.

* ``events_table`` — the fixture ``events`` schema (event_id, ts, user_id,
  event_type, value, props) that ``sources.tx.load_tx`` / ``tx_stream``
  consume unchanged. ``server = 'srv' || user_id % 4`` and ``service =
  event_type``, so ``n_services`` event types give ``4 * n_services`` keys.
  Service popularity is Zipf-skewed and a few hot keys carry a latency
  step so the z-score and alert stages have signals to act on.
* ``log_corpus`` — raw WildFly logs from ``sources.loggen.generate``; the
  seed picks the server names and which servers are oversized.
* ``documents_table`` / ``embeddings_table`` — text documents with a planted
  near-duplicate rate, and unit vectors with planted semantic duplicates.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_MS = 1_700_000_000_000  # a multiple of the 10 s slide
N_SERVERS = 4  # tx_from_events maps user_id % 4 to the server

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def service_names(n_services: int) -> list[str]:
    """Event types; the first two are the top-level services of the tx
    mapping (they gain the 'S:' prefix)."""
    return ["signup", "purchase"] + [f"svc{i:03d}" for i in range(n_services - 2)]


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def event_columns(
    rng: np.random.Generator,
    n_events: int,
    t0_ms: int,
    t1_ms: int,
    n_services: int,
    first_event_id: int = 0,
    anomalies: list[tuple[int, int, int, int]] = (),
) -> dict[str, np.ndarray]:
    """Columns of ``n_events`` events with end times uniform in
    ``[t0_ms, t1_ms)``. ``anomalies`` holds (service index, server,
    start ms, end ms): matching events run 8x slower."""
    names = np.array(service_names(n_services), dtype=object)
    svc = rng.choice(n_services, size=n_events, p=zipf_weights(n_services))
    user = rng.integers(0, 10_000, size=n_events)
    ts_ms = rng.integers(t0_ms, t1_ms, size=n_events)
    # log-normal latency, median ~150 ms; rounded to whole ms so that
    # tx_from_events' round(value * 100) recovers it exactly
    elapsed = np.rint(np.exp(rng.normal(np.log(150.0), 0.6, size=n_events)))
    elapsed = np.clip(elapsed, 1, 60_000)
    for si, server, a0, a1 in anomalies:
        hit = (svc == si) & (user % N_SERVERS == server) & (ts_ms >= a0) & (ts_ms < a1)
        elapsed[hit] *= 8
    order = np.argsort(ts_ms, kind="stable")
    return {
        "event_id": np.arange(first_event_id, first_event_id + n_events, dtype=np.int64),
        "ts_ms": ts_ms[order],
        "user_id": user[order].astype(np.int64),
        "event_type": names[svc[order]],
        "value": elapsed[order] / 100.0,
    }


def to_arrow(cols: dict[str, np.ndarray]) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array(cols["ts_ms"].astype("datetime64[ms]").astype("datetime64[us]")),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array([""] * len(cols["event_id"]), pa.string()),
        },
        schema=EVENTS_SCHEMA,
    )


def events_table(seed: int, n_events: int, hours: float, n_services: int) -> pa.Table:
    """Batch backfill input: ``n_events`` over ``hours`` hours, with a
    latency step on four hot keys in the second half of the span."""
    rng = np.random.default_rng(seed)
    span = int(hours * 3600_000)
    t1 = BASE_MS + span
    anomalies = [
        (int(si), int(rng.integers(0, N_SERVERS)), BASE_MS + span * 3 // 5, BASE_MS + span * 3 // 5 + 900_000)
        for si in rng.choice(6, size=4, replace=False)
    ]
    return to_arrow(event_columns(rng, n_events, BASE_MS, t1, n_services, anomalies=anomalies))


def write_events(table: pa.Table, sf_dir: str) -> str:
    """Lay the table out the way ``load_tx(spark, sf_dir)`` reads it."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)
    return path


def log_corpus(seed: int, n_servers: int, n_per_kind: int, n_big: int, big_factor: int):
    """(server names, GeneratedLogs) — ``n_big`` of the servers write
    ``big_factor`` times more records, which makes their APP/SERVER files
    the oversized ones the size guard routes to the chunked parser."""
    from apmbackend_spark.sources.loggen import generate

    rng = np.random.default_rng(seed)
    tags = rng.choice(26 * 26 * 26, size=n_servers, replace=False)
    names = [
        "wf" + "".join(chr(97 + (int(t) // 26**k) % 26) for k in range(3)) + f"{i:02d}"
        for i, t in enumerate(tags)
    ]
    big = set(rng.choice(n_servers, size=n_big, replace=False).tolist())
    small_g = generate(tuple(n for i, n in enumerate(names) if i not in big), n_per_kind)
    big_g = generate(tuple(n for i, n in enumerate(names) if i in big), n_per_kind * big_factor)
    small_g.files.update(big_g.files)
    small_g.expected.extend(big_g.expected)
    return [names[i] for i in sorted(big)], small_g


VOCAB = (
    "data stream window metric alert latency server service query batch "
    "spark table merge join filter sort key value vector index cache shard "
    "event trace span log parse record schema column row partition"
).split()
STOP = ("the", "a", "of", "to", "and", "in", "is", "on", "for", "with")


def documents_table(seed: int, n_docs: int, dup_rate: float = 0.15) -> pa.Table:
    """English-like documents; a ``dup_rate`` share are near-copies of an
    earlier document (one word changed), which the MinHash-LSH dedup
    clusters with their original."""
    rng = np.random.default_rng(seed)
    words = np.array(VOCAB + list(STOP) * 2, dtype=object)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_rate:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
        else:
            toks = list(rng.choice(words, size=int(rng.integers(20, 120))))
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n_docs, pa.string()),
            "source": pa.array([f"src{i % 4}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n_vecs: int, dim: int = 64, dup_rate: float = 0.1) -> pa.Table:
    """Unit vectors around 16 topic centres; a ``dup_rate`` share are tiny
    perturbations of an earlier vector (semantic duplicates)."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(16, dim))
    x = centres[rng.integers(0, 16, size=n_vecs)] + rng.normal(scale=4.0, size=(n_vecs, dim))
    dup = np.flatnonzero(rng.random(n_vecs) < dup_rate)
    dup = dup[dup > 0]
    src = (rng.random(len(dup)) * dup).astype(np.int64)
    x[dup] = x[src] + rng.normal(scale=0.02, size=(len(dup), dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n_vecs * dim + 1, dim, dtype=np.int32)), flat)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array((np.arange(n_vecs) % 16).astype(np.int32)),
        }
    )
