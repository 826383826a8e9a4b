"""Seeded inputs of the benchmark workloads, shaped like the repository's
testdata tables (same schemas and parquet encoding): the same seed always
gives the same files."""
import zlib
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("key agg row scan slow fast table value part hash a merge batch the line sort "
         "window join small customer query big data column order spark filter stream "
         "group vector index").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

# (events, users, days) per workload. store_live: about 3,500 `<type>-<user>`
# streams of under two events on average, in one day (16 partitions of a
# 16-bucket store); registry_queries: the sf0.01 shape.
EVENT_SHAPES = {"store_live": (6_000, 700, 1), "registry_queries": (10_000, 150, 30)}
# registry_queries replicates this corpus ten times
BASE_DOCS = 200


def events(rng, n, users, days):
    start = datetime(2024, 1, 1)
    span_us = days * 86_400_000_000
    ts_us = np.sort(rng.integers(0, span_us, n))
    ts = pa.array([start + timedelta(microseconds=int(t)) for t in ts_us], pa.timestamp("us"))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(rng.integers(0, 56_022, n) / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    """Random-word documents; a tenth are near-duplicates of an earlier
    document (a few words replaced) and a fiftieth exact copies."""
    texts = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.02:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and roll < 0.12:
            words = texts[rng.integers(0, i)].split()
            for _ in range(rng.integers(1, 4)):
                words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), rng.integers(8, 90))))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def generate(workload, seed, out_dir):
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    pq.write_table(events(rng, *EVENT_SHAPES[workload]), out_dir / "events.parquet")
    if workload == "registry_queries":
        pq.write_table(documents(rng, BASE_DOCS), out_dir / "documents.parquet")
