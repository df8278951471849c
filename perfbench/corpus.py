"""Seeded inputs for the workloads.

``make_doc`` is a pure function of (GLOBAL_SEED, doc index) and
GLOBAL_SEED is fixed, so the benchmark's seed picks the doc-index range
instead: seed ``s`` owns indices ``[s * SEED_STRIDE, (s + 1) *
SEED_STRIDE)``, split into lanes (the main corpus, each cycle's delta).
The seed also drives the query mix, the gap pattern of gapped deltas
and the event deltas, through ``numpy.random.default_rng``. The engine
receives only the files written here.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyhctsa_spark.functions.gapfill import drop_offsets
from pyhctsa_spark.sources.synthetic import make_doc, token_checksum

SEED_STRIDE = 1_000_000
LANE_STRIDE = 10_000  # docs per lane; lane 0: corpus, lane 1 + e: epoch e
WINDOW = 32           # engine default base window (tokens)
GROUP = 16            # engine default tier ratio
N_TIERS = 3
MAX_DOC_TOKENS = 16384  # make_doc lengths are log-uniform in [64, 16384)


@dataclass
class Doc:
    index: int
    doc_id: str
    tokens: np.ndarray
    source: str


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, *stream]))


def lane_start(seed: int, lane: int) -> int:
    return seed * SEED_STRIDE + lane * LANE_STRIDE


def take_docs(start: int, points: int, exact: bool = False) -> list[Doc]:
    """Consecutive docs from index ``start`` until ``points`` tokens are
    reached — a fixed work size whatever the seed's doc lengths are.
    ``exact`` cuts the last doc short so the total is exactly ``points``
    (its tokens then no longer match a fresh ``make_doc``)."""
    docs: list[Doc] = []
    total = 0
    i = start
    while total < points:
        doc_id, toks, src = make_doc(i)
        if exact:
            toks = toks[: points - total]
        docs.append(Doc(i, doc_id, toks, src))
        total += len(toks)
        i += 1
    return docs


def n_points(docs) -> int:
    return int(sum(len(d.tokens) for d in docs))


def expected_windows(docs, n_tiers: int = N_TIERS) -> int:
    """Σ over docs and tiers of ⌊n_tok / (WINDOW · GROUP^t)⌋."""
    return int(sum(len(d.tokens) // (WINDOW * GROUP**t)
                   for d in docs for t in range(n_tiers)))


def _write_split(table: pa.Table, path: Path, n_files: int) -> None:
    path.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    for k in range(n_files):
        lo, hi = k * n // n_files, (k + 1) * n // n_files
        if hi > lo:
            pq.write_table(table.slice(lo, hi - lo), path / f"part-{k:03d}.parquet")


def write_dense(docs, path: Path, n_files: int = 4) -> None:
    """The packed ``tokens_bin`` sequences layout (SEQ_BIN_SCHEMA)."""
    table = pa.table({
        "doc_id": pa.array([d.doc_id for d in docs], pa.string()),
        "tokens_bin": pa.array(
            [d.tokens.astype("<i4").tobytes() for d in docs], pa.binary()),
        "n_tok": pa.array([len(d.tokens) for d in docs], pa.int32()),
        "source": pa.array([d.source for d in docs], pa.string()),
        "tok_checksum": pa.array(
            [token_checksum(d.tokens) for d in docs], pa.int64()),
    })
    _write_split(table, path, n_files)


def write_gapped(docs, path: Path, rng: np.random.Generator,
                 gap_frac: float, n_files: int = 2) -> None:
    """The gapped (offsets, values) layout (GAPPED_SCHEMA): about
    ``gap_frac`` of each doc's interior offsets are missing."""
    offs, vals = [], []
    for d in docs:
        keep = drop_offsets(rng, len(d.tokens), gap_frac)
        offs.append(keep.astype(np.int32))
        vals.append(d.tokens[keep].astype(np.int32))
    table = pa.table({
        "doc_id": pa.array([d.doc_id for d in docs], pa.string()),
        "offsets": pa.array(offs, pa.list_(pa.int32())),
        "values": pa.array(vals, pa.list_(pa.int32())),
        "n_tok": pa.array([len(d.tokens) for d in docs], pa.int32()),
        "source": pa.array([d.source for d in docs], pa.string()),
        "tok_checksum": pa.array(
            [token_checksum(d.tokens) for d in docs], pa.int64()),
    })
    _write_split(table, path, n_files)


# -- continuous-aggregate events -------------------------------------------
DAY_MICROS = 24 * 3600 * 1_000_000
EPOCH0_MICROS = 1_700_000_000_000_000 // DAY_MICROS * DAY_MICROS
N_USERS = 16


def write_events(path: Path, rng: np.random.Generator, day: int, n: int,
                 late_days: int = 0, n_late: int = 0) -> int:
    """``n`` events on ``day`` plus ``n_late`` late events spread over
    the ``late_days`` days before it. Values are small integers, so every
    sum the aggregate keeps is exact in float64. Returns the row count."""
    days = np.full(n, day, dtype=np.int64)
    if n_late and late_days:
        days = np.concatenate(
            [days, day - rng.integers(1, late_days + 1, size=n_late)])
    m = len(days)
    users = np.minimum(rng.zipf(1.5, size=m) - 1, N_USERS - 1)
    ts = EPOCH0_MICROS + days * DAY_MICROS + rng.integers(0, DAY_MICROS, size=m)
    table = pa.table({
        "user_id": pa.array([f"u{u:02d}" for u in users], pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "value": pa.array(rng.integers(0, 1000, size=m).astype(np.float64)),
    })
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path / f"day-{day:05d}.parquet")
    return m
