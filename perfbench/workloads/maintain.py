"""maintain: the write side of the store. Each cycle

1. appends a delta of new docs that arrives gapped: ``gap_fill`` ->
   ``rollup_tiers(gapped=True)`` -> ``write_tier_chunked(mode="append")``;
2. runs ``tier_watermarks`` and ``apply_retention``;
3. runs ``compact_chunks`` (the per-chunk default of the lifecycle job);
4. encodes the delta's coarse tiers into the compressed archive;
5. runs ``cagg_refresh`` on an event delta that includes late events.

Time moves forward one epoch per cycle: the window index of a base
window is doc-relative in the engine, so the cycle's delta is placed at
epoch ``e`` by adding ``e`` epochs (512 base windows, the longest doc) to
its window indices before the append. A tier-0 chunk is one epoch, so
retention evicts about one tier-0 chunk per cycle once the horizon is
reached. The per-cycle checks run between the timed steps, the archive
and aggregate checks once after the loop.
"""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import Column, functions as F

from pyhctsa_spark.operators.cagg import (
    cagg_finalize,
    cagg_materialize,
    cagg_partial,
    cagg_read,
    cagg_refresh,
)
from pyhctsa_spark.operators.compaction import (
    compact_chunks,
    compaction_candidates,
)
from pyhctsa_spark.operators.retention import (
    RetentionPolicy,
    apply_retention,
    read_tier_chunked,
    tier_watermarks,
    write_tier_chunked,
)
from pyhctsa_spark.operators.rollup import make_counters, rollup_tiers
from pyhctsa_spark.operators.store import (
    read_compressed_store,
    write_compressed_store,
)

from perfbench import corpus
from perfbench.corpus import GROUP, MAX_DOC_TOKENS, N_TIERS, WINDOW
from perfbench.harness import dir_bytes, median
from perfbench.workloads.base import (
    ARCHIVE_COLS,
    Workload,
    ok,
    row_bits,
    stopwatch,
)

EPOCH = MAX_DOC_TOKENS // WINDOW   # base windows per epoch (512)
CHUNK_WINDOWS = EPOCH              # one tier-0 chunk per epoch
HISTORY_EPOCHS = 2
POINTS_PER_EPOCH = 200_000
GAP_FRAC = 0.03
EVENTS_PER_DAY = 3000
LATE_EVENTS = 300
LATE_DAYS = 2
CAGG_CHUNK_WINDOWS = 48            # one day of 30-minute windows
POLICY = RetentionPolicy(
    horizons={0: 2 * EPOCH, 1: 64 * EPOCH // GROUP, 2: None},
    chunk_windows=CHUNK_WINDOWS, tier_ratio=GROUP,
)
LOGS = ("_retention_log", "_compaction_log")


def at_epoch(tiers, epoch):
    """Shift doc-relative window indices to ``epoch`` (an int, or a
    Column for per-row epochs)."""
    epoch = epoch if isinstance(epoch, Column) else F.lit(epoch)
    shift = F.lit(0)
    for t in range(N_TIERS):
        shift = F.when(F.col("tier") == t, epoch * (EPOCH // GROUP**t)
                       ).otherwise(shift)
    return tiers.withColumn("window_idx", F.col("window_idx") + shift)


def lane_epoch(seed: int) -> Column:
    """A doc's epoch from its index: epoch e docs come from lane 1 + e."""
    idx = F.substring("doc_id", 4, 20).cast("long")
    return F.floor((idx - corpus.lane_start(seed, 1)) / corpus.LANE_STRIDE)


class Maintain(Workload):
    name = "maintain"
    gap_frac = GAP_FRAC

    def setup(self, d: Path) -> None:
        self.dir = d
        self.store = str(d / "store")
        self.archive = d / "archive"
        self.cagg = str(d / "cagg")
        self.events = d / "events"
        t0 = time.perf_counter()
        hist = [corpus.take_docs(corpus.lane_start(self.run.seed, 1 + e),
                                 POINTS_PER_EPOCH, exact=True)
                for e in range(HISTORY_EPOCHS)]
        rng = corpus.rng_for(self.run.seed, 3)
        # one file: one write task, so each history chunk is one part
        corpus.write_dense([doc for h in hist for doc in h], d / "history", 1)
        for day in range(HISTORY_EPOCHS):
            corpus.write_events(self.events, rng, day, EVENTS_PER_DAY)
        self.gen_s.append(time.perf_counter() - t0)

        tiers = rollup_tiers(self.spark.read.parquet(str(d / "history")))
        write_tier_chunked(at_epoch(tiers, lane_epoch(self.run.seed)),
                           self.store, CHUNK_WINDOWS)
        cagg_materialize(self.spark.read.parquet(str(self.events)), self.cagg,
                         by=["user_id"], chunk_windows=CAGG_CHUNK_WINDOWS)
        self.points_total = sum(corpus.n_points(h) for h in hist)
        self.docs = hist[0]
        self.epoch = HISTORY_EPOCHS
        self.first_bytes_per_point = None

    # -- one upkeep cycle --------------------------------------------------
    def op(self, i: int, tracer) -> dict:
        e = self.epoch
        self.epoch += 1
        rng = corpus.rng_for(self.run.seed, 4, e)
        docs = corpus.take_docs(corpus.lane_start(self.run.seed, 1 + e),
                                POINTS_PER_EPOCH, exact=True)
        delta_path = self.dir / "deltas" / f"epoch={e}"
        corpus.write_gapped(docs, delta_path, rng, GAP_FRAC, n_files=1)
        n_events = corpus.write_events(self.events, rng, e, EVENTS_PER_DAY,
                                       LATE_DAYS, LATE_EVENTS)
        errors: list[str] = []
        steps: dict[str, float] = {}
        rec = {"errors": errors, "steps": steps, "epoch": e,
               "points": corpus.n_points(docs)}

        # 1. gapped delta -> tiers -> append
        counters = make_counters(self.spark)
        with stopwatch() as sw:
            gapped = self.spark.read.parquet(str(delta_path))
            tiers = rollup_tiers(gapped, gapped=True, counters=counters)
            write_tier_chunked(at_epoch(tiers, e), self.store, CHUNK_WINDOWS,
                               mode="append")
        steps["append"] = sw["s"]
        windows = counters["windows_emitted"].value
        if windows != corpus.expected_windows(docs):
            errors.append(f"windows_emitted {windows} != "
                          f"{corpus.expected_windows(docs)}")
        if counters["checksum_mismatches"].value:
            errors.append(f"{counters['checksum_mismatches'].value} "
                          "checksum mismatches")

        # 2. watermarks + retention
        with stopwatch() as sw:
            wm = tier_watermarks(self.spark, self.store)
        steps["watermark"] = sw["s"]
        with stopwatch() as sw:
            evicted = apply_retention(self.spark, self.store, POLICY, wm)
        steps["evict"] = sw["s"]
        self._check_retention(wm, evicted, errors)

        # 3. compaction (row multisets hashed before and after, untimed)
        cands = [p for _t, _c, p in compaction_candidates(self.store)]
        with tracer.span("check", "chunk_hashes"):
            before = self._chunk_hashes(cands)
        with stopwatch() as sw:
            compact_chunks(self.spark, self.store)
        steps["compact"] = sw["s"]
        with tracer.span("check", "chunk_hashes"):
            after = self._chunk_hashes(cands)
        if after != before:
            errors.append("compaction changed the rows of a chunk")

        # 4. the delta's coarse tiers -> compressed archive
        batch = str(self.archive / f"batch={e}")
        with stopwatch() as sw:
            coarse = (read_tier_chunked(self.spark, self.store)
                      .where((F.col("tier") >= 1)
                             & self._epoch_filter(e)).drop("chunk"))
            write_compressed_store(coarse, batch)
        steps["encode"] = sw["s"]

        # 5. continuous aggregate refresh with late events
        with stopwatch() as sw:
            delta = self.spark.read.parquet(
                str(self.events / f"day-{e:05d}.parquet"))
            refreshed = cagg_refresh(self.spark, self.cagg, delta,
                                     by=["user_id"],
                                     chunk_windows=CAGG_CHUNK_WINDOWS)
        steps["cagg"] = sw["s"]
        if refreshed["delta_states"] == 0 or n_events == 0:
            errors.append("empty cagg delta")

        rec["t"] = sum(steps.values())
        self.points_total += rec["points"]
        if self.first_bytes_per_point is None:
            self.first_bytes_per_point = self.store_bytes() / self.points_total
        return rec

    @staticmethod
    def _epoch_filter(e0: int, e1: int | None = None):
        """Rows of epochs [e0, e1) (default: just e0), on every tier."""
        e1 = e0 + 1 if e1 is None else e1
        cond = None
        for t in range(N_TIERS):
            per = EPOCH // GROUP**t
            c = (F.col("tier") == t) & F.col("window_idx").between(
                e0 * per, e1 * per - 1)
            cond = c if cond is None else cond | c
        return cond

    # -- checks ------------------------------------------------------------
    def _chunk_hashes(self, dirs: list[str]) -> dict:
        """(tier, chunk) -> (rows, Σ xxhash64(row)) for the chunk
        directories, in one job."""
        if not dirs:
            return {}
        df = self.spark.read.option("basePath", self.store).parquet(*dirs)
        cols = sorted(c for c in df.columns if c not in ("tier", "chunk"))
        rows = (df.groupBy("tier", "chunk")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"))
                .collect())
        return {(r["tier"], r["chunk"]): (r["n"], int(r["h"])) for r in rows}

    def _check_retention(self, wm, evicted, errors) -> None:
        from pyhctsa_spark.operators.retention import _chunk_dirs

        layout = _chunk_dirs(self.store)
        for tier, chunks in layout.items():
            cut = POLICY.cutoff_chunk(tier, wm.get(tier, -1))
            if cut is not None and any(c < cut for c in chunks):
                errors.append(f"tier {tier} kept a chunk below cutoff {cut}")
        for ev in evicted:
            t = ev["tier"]
            nxt = layout.get(t + 1)
            cut = POLICY.cutoff_chunk(t, wm[t])
            need = (cut * CHUNK_WINDOWS - 1) // GROUP
            if not nxt or (max(nxt) + 1) * CHUNK_WINDOWS - 1 < need:
                errors.append(f"tier {t} evicted without tier {t + 1} cover")

    def verify(self, warm, recs) -> None:
        """Run-level checks over every cycle so far: the archive decodes
        bit-exactly to the cycles' tier rows it was encoded from, and the
        refreshed aggregate equals a full recompute."""
        ref = (read_tier_chunked(self.spark, self.store)
               .where((F.col("tier") >= 1)
                      & self._epoch_filter(HISTORY_EPOCHS, self.epoch))
               .select(*ARCHIVE_COLS).collect())
        got = read_compressed_store(self.spark, str(self.archive)).select(
            *ARCHIVE_COLS).collect()
        self.run.record(bool(ref) and len(got) == len(ref)
                        and row_bits(ref) == row_bits(got),
                        f"archive round trip: {len(got)} decoded rows vs "
                        f"{len(ref)} tier rows")
        inc = cagg_finalize(cagg_read(self.spark, self.cagg).drop("chunk"),
                            by=["user_id"])
        full = cagg_finalize(
            cagg_partial(self.spark.read.parquet(str(self.events)),
                         by=["user_id"]), by=["user_id"])
        diff = inc.exceptAll(full).unionByName(full.exceptAll(inc)).count()
        self.run.record(diff == 0, f"cagg refresh differs from a full "
                        f"recompute in {diff} rows")

    # -- metrics -----------------------------------------------------------
    def store_bytes(self) -> int:
        return dir_bytes(Path(self.store), LOGS) + dir_bytes(self.archive)

    def store_bytes_per_point(self, recs=None) -> float:
        """Live chunked store and archive per raw point, after the first
        cycle (later cycles add retention's steady eviction)."""
        return self.first_bytes_per_point or 0.0

    def report(self, recs):
        good = ok(recs)
        rows = [("maintain_cycle_s", median([r["t"] for r in good]), "s",
                 f"median of {len(good)} cycles")]
        for k in ("append", "watermark", "evict", "compact", "encode", "cagg"):
            rows.append((f"  step.{k}_s",
                         median([r["steps"][k] for r in good]), "s", ""))
        return rows
