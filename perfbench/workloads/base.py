"""What every workload shares: the warm-up, the timer, and the helpers
of the correctness checks."""

from __future__ import annotations

import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, functions as F

from pyhctsa_spark.operators.store import FEATURES

from perfbench import corpus
from perfbench.harness import median

# the columns an archive round trip must give back, bit for bit
ARCHIVE_COLS = ["doc_id", "source", "tier", "window_idx", "n", *FEATURES]


@contextmanager
def stopwatch():
    """``with stopwatch() as sw: ...`` leaves the seconds in ``sw["s"]``."""
    sw = {}
    t0 = time.perf_counter()
    try:
        yield sw
    finally:
        sw["s"] = time.perf_counter() - t0


def ok(recs: list[dict], kind: str | None = None) -> list[dict]:
    """The records of operations that passed (of one ``kind``)."""
    return [r for r in recs if not r["errors"]
            and (kind is None or r.get("kind") == kind)]


def row_bits(rows) -> dict:
    """(doc_id, tier, window_idx) -> the row's other ARCHIVE_COLS values,
    doubles as their raw 64-bit patterns, so comparisons are bit-exact.
    A duplicated key shows as fewer entries than rows."""
    out = {}
    for r in rows:
        out[(r["doc_id"], r["tier"], r["window_idx"])] = (
            r["source"], r["n"],
            *[np.float64(r[f]).view(np.int64).item() for f in FEATURES])
    return out


def multiset_hash(df: DataFrame) -> tuple[int, int]:
    """(row count, Σ xxhash64(row)) — equal for equal row multisets,
    whatever the row or column order."""
    cols = sorted(df.columns)
    r = (
        df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
        .first()
    )
    return int(r["n"]), int(r["s"] or 0)


class Workload:
    name = ""
    ops_multiple = 1  # the timed loop runs whole multiples of this

    # the gap fraction of the workload's gapped inputs (None: all dense)
    gap_frac: float | None = None

    def __init__(self, run) -> None:
        self.run = run
        self.gen_s: list[float] = []
        self.docs: list = []  # the dense docs the inputs were made from

    def gap_rng(self):
        return corpus.rng_for(self.run.seed, 5)

    @property
    def spark(self):
        return self.run.spark

    # -- lifecycle ---------------------------------------------------------
    def warm_up(self, d: Path) -> None:
        """Pay Spark's cold start inside ``setup_s``: the first job of the
        session, and the Python workers starting and importing the
        engine."""
        from pyhctsa_spark.operators.rollup import rollup_tiers

        docs = corpus.take_docs(corpus.lane_start(self.run.seed, 99), 20_000)
        corpus.write_dense(docs, d, n_files=self.run.nproc)
        rollup_tiers(self.spark.read.parquet(str(d))).count()

    def setup(self, d: Path) -> None:
        """One set-up repetition into the fresh directory ``d``."""
        raise NotImplementedError

    def bind(self) -> None:
        """(Re)open DataFrame handles after a new session started."""

    def op(self, i: int, tracer) -> dict:
        raise NotImplementedError

    warm_ops = 1  # untimed operations before each timed loop

    def warm_op(self, i: int) -> dict:
        from perfbench.tracing import Tracer

        return self.op(i, Tracer())

    def verify(self, warm: list[dict], recs: list[dict]) -> None:
        """Post-loop correctness checks: appends to each record's
        ``errors``; run-wide checks are counted with ``run.record``."""

    # -- metrics -----------------------------------------------------------
    def store_bytes_per_point(self, recs: list[dict]) -> float:
        """Bytes on disk of the live stores per raw point they hold."""
        raise NotImplementedError

    def report(self, recs: list[dict]) -> list[tuple[str, float, str, str]]:
        """The workload's named end-to-end figures, for the human-readable
        lines: (name, value, unit, note)."""
        return []

    def op_p50_ms(self, recs: list[dict]) -> float:
        """Median latency of one operation: one pass of ``ops_multiple``
        consecutive calls (the whole query mix for ``query``, a single
        call elsewhere). Passes with a failed call are left out."""
        m = self.ops_multiple
        ts = [sum(r["t"] for r in recs[k:k + m])
              for k in range(0, len(recs) - m + 1, m)
              if not any(r["errors"] for r in recs[k:k + m])]
        return median(ts) * 1e3

    def n_ops(self, recs: list[dict]) -> int:
        """Operations (passes) in ``recs``: the "/op" in per-layer units."""
        return max(1, len(recs) // self.ops_multiple)
