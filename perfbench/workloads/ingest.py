"""ingest: the resumable RollupJob at its production default of 8
buckets, over a dense ``tokens_bin`` table.

Nearly all the time goes to the tier kernel, the Python worker boundary
and the per-bucket Spark jobs; router, codec, retention, compaction and
cagg do nothing here. At this size about half of a RollupJob run is the
fixed cost of its 8 bucket jobs (each scans the whole input and pays
the Python worker boundary on every task) and half grows with the
points: the tier kernel, the Arrow transfer and the scans.
"""

from __future__ import annotations

import itertools
import shutil
import time
from pathlib import Path

from pyspark.sql import functions as F

from pyhctsa_spark.operators.checkpoint import RollupJob

from perfbench import corpus
from perfbench.harness import median
from perfbench.workloads.base import Workload, multiset_hash, ok, stopwatch

POINTS = 10_000_000
N_FILES = 4
CRASH_AFTER_BUCKET = 3


class Ingest(Workload):
    name = "ingest"

    def setup(self, d: Path) -> None:
        t0 = time.perf_counter()
        self.docs = corpus.take_docs(corpus.lane_start(self.run.seed, 0),
                                     POINTS, exact=True)
        corpus.write_dense(self.docs, d / "corpus", N_FILES)
        self.gen_s.append(time.perf_counter() - t0)
        self.dir = d
        self.corpus_path = str(d / "corpus")
        self.points = corpus.n_points(self.docs)
        self.expected_windows = corpus.expected_windows(self.docs)
        self.clean_store: str | None = None
        self._ids = itertools.count()  # fresh store directory per job

    def _input(self):
        return self.spark.read.parquet(self.corpus_path)

    def _snapshot_errors(self, snap: dict) -> list[str]:
        errs = []
        if not snap["complete"]:
            errs.append(f"snapshot incomplete: {snap['buckets_done']}/8")
        if snap["windows_emitted"] != self.expected_windows:
            errs.append(f"windows_emitted {snap['windows_emitted']} != "
                        f"expected {self.expected_windows}")
        if snap["checksum_mismatches"]:
            errs.append(f"{snap['checksum_mismatches']} checksum mismatches")
        if snap["rows_read"] != len(self.docs):
            errs.append(f"rows_read {snap['rows_read']} != {len(self.docs)}")
        return errs

    def op(self, i: int, tracer) -> dict:
        store = self.dir / f"store{next(self._ids)}"
        with stopwatch() as sw:
            snap = RollupJob(str(store)).run(self.spark, self._input())
        if self.clean_store is None:
            self.clean_store = str(store)  # kept for the durability check
        else:
            shutil.rmtree(store, ignore_errors=True)
        return {"t": sw["s"], "errors": self._snapshot_errors(snap),
                "points": self.points, "snap": snap}

    def warm_op(self, i: int) -> dict:
        """The durability scenario, untimed: crash after a bucket, hash
        the committed buckets, resume. ``verify`` compares both with the
        first clean run."""
        t0 = time.perf_counter()
        job = RollupJob(str(self.dir / f"crashed{next(self._ids)}"))
        errors = []
        try:
            job.run(self.spark, self._input(),
                    fail_after_bucket=CRASH_AFTER_BUCKET)
            errors.append("injected failure did not fire")
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        done = sorted(job.completed_buckets())
        if done != list(range(CRASH_AFTER_BUCKET + 1)):
            errors.append(f"committed buckets after crash {done}")
        committed = multiset_hash(job.result(self.spark))
        snap = job.run(self.spark, self._input())
        return {"t": time.perf_counter() - t0,
                "errors": errors + self._snapshot_errors(snap),
                "job": job, "done": done, "committed": committed}

    def verify(self, warm, recs) -> None:
        if self.clean_store is None or not warm or warm[0]["errors"]:
            return
        rec = warm[0]
        clean = RollupJob(self.clean_store)
        root = Path(self.clean_store) / "tier_data"
        clean_part = self.spark.read.option("basePath", str(root)).parquet(
            *[str(root / f"bucket={b}") for b in rec["done"]])
        if rec["committed"] != multiset_hash(clean_part):
            rec["errors"].append("committed buckets differ from a clean run")
        if multiset_hash(rec["job"].result(self.spark)) != multiset_hash(
            clean.result(self.spark)
        ):
            rec["errors"].append("resumed result differs from a clean run")
        if not clean.result(self.spark).where(F.col("tier") == 2).count():
            rec["errors"].append("no 256x windows in the store")
        shutil.rmtree(rec["job"].store_path, ignore_errors=True)

    # -- metrics -----------------------------------------------------------
    def store_bytes_per_point(self, recs) -> float:
        """The committed 3-tier store, from the job's own snapshot."""
        sizes = [r["snap"]["output_bytes"] for r in ok(recs)]
        return median(sizes) / self.points

    def report(self, recs):
        good = ok(recs)
        return [
            ("ingest_points_per_s",
             median([r["points"] / r["t"] for r in good]), "points/s",
             f"median of {len(good)} RollupJob runs, {self.points} points, "
             "8 buckets"),
        ]
