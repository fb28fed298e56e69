"""Seeded inputs for the benchmark: the CDC write-ahead log and the corpus fixture.

The engine only ever sees the parquet files written here. Everything is
drawn from ``numpy.random.default_rng(seed)``, so one seed always gives
byte-identical inputs. The package's own generator
(``sources.changelog.zipf_rank``) is deliberately not used: its key draw
collapses onto a few thousand keys, which leaves the sink, commit and
compaction layers idle (see NOTES.md).

WAL layout matches ``sources.changelog.write_changelog``: one
``batch_epoch=N`` directory per micro-batch, columns ``seq, partition,
op, url, warc_ts, text``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

BASE_TS = np.datetime64("2025-01-01T00:00:00", "us")
URL_PREFIX = "https://example.com/page/"
DELETE_FRAC = 0.01
UPDATE_FRAC = 0.30
DISORDER_S = 120
# 1000 four-letter words; a page is "page <rank> " + page_bytes // 5 of them
WORD_BYTES = np.frombuffer(
    "".join(f"w{i:03d} " for i in range(1000)).encode(), dtype=np.uint8
).reshape(1000, 5)
WAL_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("partition", pa.int32()),
        ("op", pa.string()),
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("text", pa.string()),
    ]
)


@dataclass(frozen=True)
class Shape:
    """Key distribution and page size of one workload's WAL.

    ``draw='bounded'``: rank = floor(n_keys * u**2) — nearly every key
    occurs, the head key gets P(u**2 < 1/n_keys) = 1/sqrt(n_keys) of
    events. ``draw='zipf11'``: today's ``zipf_rank`` (discrete Pareto,
    alpha 1.1) — rank 0 gets P(u**(-1/1.1) < 2) = 1 - 2**-1.1 ≈ 53%.
    """

    draw: str
    page_bytes: int
    # expected bands; a WAL outside them fails the run (the workload
    # would no longer load the layers it exists to load)
    distinct_frac: tuple[float, float]   # distinct keys / n_keys
    head_ratio: tuple[float, float]      # max key share / expected head share

    def head_share(self, n_keys: int) -> float:
        return n_keys ** -0.5 if self.draw == "bounded" else 1 - 2 ** -1.1


SHAPES = {
    "wide_keys": Shape("bounded", 1024, (0.55, 1.0), (0.5, 1.5)),
    "hot_key": Shape("zipf11", 96, (0.0, 0.5), (0.85, 1.15)),
}


def _ranks(rng: np.random.Generator, shape: Shape, n: int, n_keys: int) -> np.ndarray:
    u = rng.random(n)
    if shape.draw == "bounded":
        return np.minimum((n_keys * u * u).astype(np.int64), n_keys - 1)
    if shape.draw == "zipf11":
        u = np.maximum(u, 1e-300)
        raw = np.floor(u ** (-1.0 / 1.1)) - 1
        return np.minimum(raw, n_keys - 1).astype(np.int64)
    raise ValueError(f"unknown key draw {shape.draw!r}")


def _texts(rng: np.random.Generator, ranks: np.ndarray, page_bytes: int) -> np.ndarray:
    n_words = max(4, page_bytes // 5)
    picks = WORD_BYTES[rng.integers(0, len(WORD_BYTES), (len(ranks), n_words))]
    body = picks.reshape(len(ranks), n_words * 5).view(f"S{n_words * 5}").ravel()
    head = np.char.add(np.char.add(b"page ", ranks.astype("S")), b" ")
    return np.char.add(head, body).astype(object)


def epoch_table(
    rng: np.random.Generator,
    shape: Shape,
    first_seq: int,
    n: int,
    n_keys: int,
    num_partitions: int,
) -> tuple[pa.Table, np.ndarray]:
    """One micro-batch of ``n`` change events with seqs from ``first_seq``;
    returns the table and each event's key rank."""
    seq = np.arange(first_seq, first_seq + n, dtype=np.int64)
    ranks = _ranks(rng, shape, n, n_keys)
    u = rng.random(n)
    op = np.where(u < DELETE_FRAC, "D", np.where(u < DELETE_FRAC + UPDATE_FRAC, "U", "I"))
    jitter = rng.integers(-DISORDER_S, DISORDER_S + 1, n)
    ts = BASE_TS + ((seq + jitter) * 1_000_000).astype("timedelta64[us]")
    text = _texts(rng, ranks, shape.page_bytes)
    text[op == "D"] = None
    tbl = pa.table(
        {
            "seq": seq,
            "partition": (ranks % num_partitions).astype(np.int32),
            "op": op,
            "url": np.char.add(URL_PREFIX, ranks.astype(str)),
            "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "text": pa.array(text, pa.binary()).cast(pa.string()),
        },
        schema=WAL_SCHEMA,
    )
    return tbl, ranks


def write_epoch(table: pa.Table, root: str, epoch: int) -> str:
    d = os.path.join(root, f"batch_epoch={epoch}")
    os.makedirs(d)
    pq.write_table(table, os.path.join(d, "part-00000.parquet"))
    return d


@dataclass
class WalStats:
    events: int
    distinct_keys: int
    max_key_share: float
    wal_bytes: int
    generate_s: float
    page_bytes_mean: float
    key_counts: np.ndarray   # events per key rank


def generate_wal(
    shape: Shape,
    seed: int,
    wal_dir: str,
    pending_dir: str,
    backfill_epochs: int,
    trickle_epochs: int,
    epoch_events: int,
    trickle_epoch_events: int,
    n_keys: int,
    num_partitions: int,
) -> WalStats:
    """Write the backfill epochs under ``wal_dir`` and the trickle epochs
    (due later, moved in by the scheduler) under ``pending_dir``."""
    t0 = time.perf_counter()
    rng = np.random.default_rng(seed)
    counts = np.zeros(n_keys, dtype=np.int64)
    seq = 0
    wal_bytes = 0
    text_bytes = 0
    plan = [(wal_dir, epoch_events)] * backfill_epochs + [
        (pending_dir, trickle_epoch_events)
    ] * trickle_epochs
    for epoch, (root, n) in enumerate(plan):
        tbl, ranks = epoch_table(rng, shape, seq, n, n_keys, num_partitions)
        seq += n
        counts += np.bincount(ranks, minlength=n_keys)
        text_bytes += pa.compute.sum(pa.compute.binary_length(tbl.column("text"))).as_py()
        d = write_epoch(tbl, root, epoch)
        wal_bytes += sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
    return WalStats(
        events=seq,
        distinct_keys=int((counts > 0).sum()),
        max_key_share=float(counts.max() / seq),
        wal_bytes=wal_bytes,
        generate_s=time.perf_counter() - t0,
        page_bytes_mean=text_bytes / seq,
        key_counts=counts,
    )


def check_shape(shape: Shape, stats: WalStats, n_keys: int) -> list[str]:
    """Band violations of a generated WAL (empty when in band)."""
    bad = []
    lo, hi = shape.distinct_frac
    frac = stats.distinct_keys / n_keys
    if not lo <= frac <= hi:
        bad.append(f"distinct keys / n_keys = {frac:.3f} outside [{lo}, {hi}]")
    expected = shape.head_share(n_keys)
    lo, hi = shape.head_ratio
    if not lo <= stats.max_key_share / expected <= hi:
        bad.append(f"max key share {stats.max_key_share:.3f} outside "
                   f"[{lo * expected:.3f}, {hi * expected:.3f}]")
    if not 0.5 * shape.page_bytes <= stats.page_bytes_mean <= 2 * shape.page_bytes:
        bad.append(f"mean page {stats.page_bytes_mean:.0f} B, expected ~{shape.page_bytes} B")
    return bad


# ------------------------------------------------------------------ corpus
CORPUS_VOCAB = np.array(
    "the a data row key join merge scan sort hash group filter spark stream "
    "batch table window query part line order value column vector small big "
    "fast slow customer agg index page lake commit epoch shard token span "
    "crawl text web doc dedup near exact cosine bucket plane signature".split()
)


def generate_corpus(seed: int, out_dir: str, n_docs: int, n_vecs: int) -> None:
    """``documents`` and ``embeddings`` tables with the schemas of the
    ``sf*`` fixture tables, so ``entry_queries.QUERIES[...]`` and their
    ``ORACLES`` SQL run on them unchanged. A tenth of the documents are
    near-copies of earlier ones, so the dedup ops find pairs and drop
    spans."""
    rng = np.random.default_rng(seed + 7919)
    weights = 1.0 / np.arange(1, len(CORPUS_VOCAB) + 1)
    weights /= weights.sum()
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 2):
                words[j] = str(rng.choice(CORPUS_VOCAB))
        else:
            n = int(rng.integers(10, 100))
            words = list(rng.choice(CORPUS_VOCAB, n, p=weights))
        texts.append(" ".join(words))
    langs = np.array(["en", "de", "fr", "es", "zh"])
    docs = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": langs[rng.integers(0, len(langs), n_docs)],
            "source": [f"src{i % 7}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels,
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
