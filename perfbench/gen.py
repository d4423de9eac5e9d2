"""Seeded input generators for the benchmark workloads.

Everything the engine sees is made here from the workload seed: the
parquet tables, the filter set and the content of the streamed log
lines.  The same seed
gives byte-identical inputs.  The shapes follow the project's test tables
(TESTDATA.md): `events` drives the log stream, `documents` and
`embeddings` drive the corpus, dedup, text, ANN and multimodal chains.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line data table agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.44, 0.14, 0.14, 0.14, 0.14)
_T0_NS = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 10**9
_SPAN_NS = 30 * 86400 * 10**9


def write_events(path: str, n: int, seed: int) -> None:
    """`events` (event_id, ts, user_id, event_type, value, props): ids in
    time order over 30 days, like the project's test table."""
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, _SPAN_NS, n)) + _T0_NS
    cents = np.maximum(1, np.rint(rng.exponential(5000.0, n))).astype(np.int64)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, 150 + n // 1000, n), type=pa.int64()),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(cents / 100.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    pq.write_table(table, path)


def write_documents(path: str, n: int, seed: int) -> None:
    """`documents` (doc_id, text, lang, source, n_chars): random-word
    texts; every twentieth is an earlier text plus a `dup` marker, so the
    dedup chains have the same number of near-duplicates to find at
    every seed."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 19:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 90))))
    table = pa.table(
        {
            "doc_id": pa.array(range(n), type=pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choices(LANGS, LANG_WEIGHTS, k=n)),
            "source": pa.array([f"src{rng.randrange(20)}" for _ in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    pq.write_table(table, path)


def write_embeddings(path: str, n: int, seed: int, dim: int = 64) -> None:
    """`embeddings` (vec_id, embedding float[dim], label): unit vectors."""
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), type=pa.int32()),
        }
    )
    pq.write_table(table, path)


def write_tables(out_dir: str, seed: int, events: int, documents: int = 0,
                 embeddings: int = 0) -> str:
    os.makedirs(out_dir, exist_ok=True)
    write_events(os.path.join(out_dir, "events.parquet"), events, seed)
    if documents:
        write_documents(os.path.join(out_dir, "documents.parquet"), documents, seed + 1)
    if embeddings:
        write_embeddings(os.path.join(out_dir, "embeddings.parquet"), embeddings, seed + 2)
    return out_dir


# -- filters -----------------------------------------------------------------
#
# Patterns mean the same under java.util.regex (Spark), RE2 (DuckDB) and
# Python `re`, so the checks can recount them outside the engine.  Each
# template matches about a fifth of all lines, so the seed changes which
# lines match but not how much work a batch does; the four templates
# cover the engine's three match paths (plain contains, case-folded
# contains, regex).


def _digits(rng: random.Random) -> str:
    a, b = rng.sample("0123456789", 2)
    return a + b


_TEMPLATES = (
    lambda rng: rng.choice(EVENT_TYPES),
    lambda rng: "(?i)" + rng.choice(EVENT_TYPES).upper(),
    lambda rng: f"id=[0-9]*[{_digits(rng)}]$",
    lambda rng: f"host[0-9]*[{_digits(rng)}] ",
)


def filters(seed: int, n: int = 12) -> list[tuple[str, str]]:
    """`n` seeded (name, regex) filters.  `f0` matches about half of all
    lines, so a stream poller watching it sees every micro-batch; filter
    `fk` (k >= 1) uses template (k - 1) mod 4."""
    rng = random.Random(seed * 7919 + 1)
    out = [("f0", f"id=[0-9]*[{rng.choice(('02468', '13579'))}]$")]
    for k in range(1, n):
        out.append((f"f{k}", _TEMPLATES[(k - 1) % len(_TEMPLATES)](rng)))
    return out


# -- stream lines ------------------------------------------------------------------


def stream_line(rng: random.Random, seq: int, created_unix: float) -> str:
    """One syslog line stamped with its creation time (ISO-8601, millis,
    offset: the form the engine's parser reads as event time)."""
    stamp = datetime.fromtimestamp(created_unix, tz=timezone.utc)
    iso = stamp.strftime("%Y-%m-%dT%H:%M:%S.") + f"{stamp.microsecond // 1000:03d}+00:00"
    et = EVENT_TYPES[rng.randrange(len(EVENT_TYPES))]
    if rng.random() < 0.02:
        et = "timeout failed"
    return (
        f"{iso} host{rng.randrange(150)} app: {et} value={rng.randrange(1, 50000)} "
        f"id={seq}"
    )
