"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(seed, size)``: the same seed
writes byte-identical parquet files and the same ingest stream. The
corpus follows the shapes, value ranges and column types of the
fixtures the engine's queries are written against (``FIXTURES.md``): a
``documents`` table with ~5% near duplicates and unit-norm 64-dim
``embeddings``. The ingest inputs follow the reference's warehouse
table ``crypto_prices`` (``crypto_id``, ``price_usd``, ``extracted_at``)
and the source's JSON payload ``{coin: {"usd": price}}``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, table), so adding a table
    never shifts another table's values."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def documents(seed: int, n: int) -> pa.Table:
    """``n`` bag-of-words documents over a 30-word vocabulary, 10–100
    words each; ~5% are near duplicates (an earlier document plus the
    token ``dup``), the shape the dedup operators are tested on."""
    r = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        if i > 0 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            words = r.integers(0, len(_VOCAB), int(r.integers(10, 101)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    lang = r.choice(["en", "zh", "es", "fr", "de"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": lang.tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def embeddings(seed: int, n: int, dim: int = 64) -> pa.Table:
    """``n`` unit-norm float32 vectors with a 10-way label."""
    r = _rng(seed, "embeddings")
    vecs = r.standard_normal((n, dim)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype="int32"))
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel())),
        "label": r.integers(0, 10, n).astype("int32"),
    })


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_corpus(root: str, seed: int, n_docs: int = 500, n_vecs: int = 500) -> None:
    """The corpus inputs: the two tables the corpus queries read."""
    _write(documents(seed, n_docs), f"{root}/documents.parquet")
    _write(embeddings(seed, n_vecs), f"{root}/embeddings.parquet")


# ---------------------------------------------------------------------------
# ingest_upsert: warehouse history, hourly payloads and replay positions
# ---------------------------------------------------------------------------

INGEST_START = dt.datetime(2024, 1, 1)


@dataclass(frozen=True)
class IngestPlan:
    """Everything the ingest workload feeds the pipeline, fixed by the
    seed: ``prices[h, c]`` is coin ``c``'s price at simulated hour ``h``
    (hours ``< history_hours`` are pre-loaded), and ``replays[j]`` is
    the already-loaded hour run ``j`` re-runs, or -1 for a fresh hour."""

    coins: tuple[str, ...]
    prices: np.ndarray
    history_hours: int
    replays: tuple[int, ...]

    def hour(self, h: int) -> dt.datetime:
        return INGEST_START + dt.timedelta(hours=h)

    def payload(self, h: int) -> str:
        """The source's JSON answer for hour ``h``: ``{coin: {usd: p}}``."""
        return json.dumps({c: {"usd": float(p)}
                           for c, p in zip(self.coins, self.prices[h])})

    def history(self) -> pa.Table:
        """The pre-seeded warehouse rows, hour by hour."""
        h, n = self.history_hours, len(self.coins)
        ts = np.repeat(
            np.datetime64(INGEST_START, "us") + np.arange(h) * np.timedelta64(1, "h"), n
        )
        return pa.table({
            "crypto_id": pa.array(np.tile(np.array(self.coins), h)),
            "price_usd": self.prices[:h].ravel(),
            "extracted_at": pa.array(ts, pa.timestamp("us", tz="UTC")),
        })


def ingest_plan(seed: int, coins: int = 1000, days: int = 30,
                runs_per_pass: int = 2, max_passes: int = 400) -> IngestPlan:
    """Random-walk prices for ``coins`` coins over ``days`` of history
    plus every hour the runs can load, and the run sequence: blocks of
    ``runs_per_pass`` runs with exactly one replay each, at a seeded
    position. A replay re-runs a seeded, already-loaded hour and must
    write 0 rows."""
    r = _rng(seed, "ingest")
    names = tuple(f"coin-{i:04d}" for i in range(coins))
    history = days * 24
    hours = history + runs_per_pass * max_passes
    start = r.uniform(0.5, 50_000.0, coins)
    steps = r.normal(0.0, 0.01, (hours, coins))
    prices = np.round(start * np.exp(np.cumsum(steps, axis=0)), 6)
    replays, loaded = [], history
    for _ in range(max_passes):
        replay_at = int(r.integers(0, runs_per_pass))
        for i in range(runs_per_pass):
            if i == replay_at:
                replays.append(int(r.integers(0, loaded)))
            else:
                replays.append(-1)
                loaded += 1
    return IngestPlan(names, prices, history, tuple(replays))


def write_history(plan: IngestPlan, warehouse: str) -> None:
    """Seed the warehouse: one parquet file per simulated day, written
    with Spark's default INT96 timestamps so later appends match."""
    os.makedirs(warehouse, exist_ok=True)
    table = plan.history()
    per_day = 24 * len(plan.coins)
    for d in range(table.num_rows // per_day):
        pq.write_table(
            table.slice(d * per_day, per_day),
            f"{warehouse}/part-history-{d:03d}.snappy.parquet",
            compression="snappy", use_deprecated_int96_timestamps=True,
        )
