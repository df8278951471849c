"""query: a closed loop with one client over a chunked tier store and a
compressed archive, both built in set-up from one corpus.

Each query is a ``rollup_at_resolution`` call served straight from a
tier (B in {1, 16, 256} base windows per bucket) or through a residual
state merge (B in {4, 64, 4096}), or a cold read of the archive through
``read_compressed_store``: three of each kind per pass of the mix. The
end-to-end operation is one pass (a client's session of nine queries);
the per-kind latencies and the p90 over single queries are reported
beside it. Queries target a doc set, the Zipf-hottest source or a cold
source, within a window range. This exercises partition
pruning, the router's state merge and Gorilla decode; the rollup kernel
never runs. Docs are at most 16384 tokens (512 base windows), so no
4096-window bucket is ever complete: those queries scan and merge the
256x tier and return no rows.
"""

from __future__ import annotations

import time
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

import numpy as np
from pyspark.sql import Column, functions as F

from pyhctsa_spark.operators.retention import (
    read_tier_chunked,
    write_tier_chunked,
)
from pyhctsa_spark.operators.rollup import rollup_at_resolution, rollup_tiers
from pyhctsa_spark.operators.store import (
    read_compressed_store,
    write_compressed_store,
)
from pyhctsa_spark.sources.synthetic import doc_index_of, make_doc

from perfbench import corpus
from perfbench.corpus import GROUP, N_TIERS, WINDOW
from perfbench.harness import dir_bytes, median, percentile
from perfbench.workloads.base import (
    ARCHIVE_COLS,
    Workload,
    ok,
    row_bits,
    stopwatch,
)

POINTS = 300_000
N_FILES = 4
DOC_SET = 4
DOC_MIN_TOKENS = 2048  # doc-set targets cover their whole window range
CHUNK_WINDOWS = 64  # write_tier_chunked's default
RANGE = {"docs": 64, "hot": 64, "cold": 256}  # base windows per query
# One pass of the mix: (kind, B or archive tier, target). Cycled in this
# order so every seed runs the same shares; the seed picks the details.
MIX = [
    ("direct", 1, "docs"), ("merge", 4, "docs"), ("cold", 1, "docs"),
    ("direct", 16, "hot"), ("merge", 64, "hot"), ("cold", 2, "cold"),
    ("direct", 256, "cold"), ("merge", 4096, "hot"), ("cold", 1, "hot"),
]
ROUTER_COLS = ["doc_id", "source", "window_idx", "n", "mean", "variance",
               "spread_std", "s1", "s2"]


@dataclass
class Q:
    kind: str          # direct | merge | cold
    res: int           # B (router) or archive tier (cold)
    docs: tuple        # doc ids, or () for a source target
    source: str | None
    windows: int       # reads base windows [0, windows)


def tier_range_filter(windows: int, tiers=range(N_TIERS),
                      chunk_windows: int | None = None) -> Column:
    """Base windows [0, windows) on every tier: tier t keeps window_idx
    below windows / 16^t. With ``chunk_windows`` it also names the chunk
    partitions of that range, so the scan is pruned."""
    cond = None
    for t in tiers:
        hi = -(-windows // GROUP**t)
        c = (F.col("tier") == t) & (F.col("window_idx") < hi)
        if chunk_windows:
            c = c & (F.col("chunk") <= (hi - 1) // chunk_windows)
        cond = c if cond is None else cond | c
    return cond


class Query(Workload):
    name = "query"
    ops_multiple = len(MIX)  # an operation is one client's pass of the mix
    warm_ops = 3  # one direct, one merge, one cold query

    def setup(self, d: Path) -> None:
        t0 = time.perf_counter()
        self.docs = corpus.take_docs(corpus.lane_start(self.run.seed, 0), POINTS)
        corpus.write_dense(self.docs, d / "corpus", N_FILES)
        self.gen_s.append(time.perf_counter() - t0)
        self.store_path = str(d / "store")
        self.archive_path = str(d / "archive")
        tiers = rollup_tiers(self.spark.read.parquet(str(d / "corpus")))
        tiers = tiers.persist()
        write_tier_chunked(tiers, self.store_path, CHUNK_WINDOWS)
        write_compressed_store(tiers.where(F.col("tier") >= 1),
                               self.archive_path)
        tiers.unpersist()
        self.points = corpus.n_points(self.docs)
        self.queries = self._plan()
        self._tok_cache: dict[str, np.ndarray] = {}
        self._ref = None
        self.bind()

    def bind(self) -> None:
        self.store = read_tier_chunked(self.spark, self.store_path)

    # -- the query mix -----------------------------------------------------
    def _plan(self, n: int = 2000) -> list[Q]:
        """The seeded query sequence. Every query reads base windows
        [0, L) with L = max(B, RANGE[target]); the seed picks the doc
        sets (among docs long enough to fill the range) and which cold
        source, so the work per query varies little between seeds."""
        rng = corpus.rng_for(self.run.seed, 2)
        by_src = Counter(d.source for d in self.docs)
        ranked = [s for s, _ in by_src.most_common()]
        cold = [s for s in ranked if by_src[s] <= 2] or ranked[-1:]
        long_ids = [d.doc_id for d in self.docs
                    if len(d.tokens) >= DOC_MIN_TOKENS]
        out = []
        for i in range(n):
            kind, res, target = MIX[i % len(MIX)]
            B = GROUP**res if kind == "cold" else res
            docs, src = (), None
            if target == "docs":
                docs = tuple(str(x) for x in
                             rng.choice(long_ids, size=DOC_SET, replace=False))
            elif target == "hot":
                src = ranked[0]
            else:
                src = str(cold[int(rng.integers(0, len(cold)))])
            out.append(Q(kind, res, docs, src, max(B, RANGE[target])))
        return out

    def _target(self, q: Q) -> Column:
        if q.docs:
            return F.col("doc_id").isin(list(q.docs))
        return F.col("source") == q.source

    def op(self, i: int, tracer) -> dict:
        q = self.queries[i % len(self.queries)]
        if q.kind == "cold":
            cond = tier_range_filter(q.windows, [q.res]) & self._target(q)
            with stopwatch() as sw:
                archive = read_compressed_store(self.spark, self.archive_path)
                rows = archive.where(cond).select(*ARCHIVE_COLS).collect()
        else:
            cond = (tier_range_filter(q.windows, chunk_windows=CHUNK_WINDOWS)
                    & self._target(q))
            with stopwatch() as sw:
                out = rollup_at_resolution(self.store.where(cond), q.res)
                rows = out.select(*ROUTER_COLS).collect()
        return {"t": sw["s"], "errors": [], "kind": q.kind, "q": q,
                "rows": rows}

    # -- correctness -------------------------------------------------------
    def _tokens(self, doc_id: str) -> np.ndarray:
        """A doc's tokens, regenerated with make_doc from its id."""
        cache = self._tok_cache
        if doc_id not in cache:
            cache[doc_id] = make_doc(doc_index_of(doc_id))[1].astype(np.int64)
        return cache[doc_id]

    def _expected(self, q: Q) -> dict:
        """(doc_id, bucket) -> (n, s1, s2) from the raw tokens."""
        ids = q.docs or [d.doc_id for d in self.docs if d.source == q.source]
        span = q.res * WINDOW
        out = {}
        for doc_id in ids:
            tok = self._tokens(doc_id)
            for b in range(q.windows // q.res):
                seg = tok[b * span:(b + 1) * span]
                if len(seg) == span:
                    out[(doc_id, b)] = (span, int(seg.sum()),
                                        int((seg * seg).sum()))
        return out

    def _check_router(self, rec: dict) -> None:
        got = {(r["doc_id"], r["window_idx"]): (r["n"], r["s1"], r["s2"])
               for r in rec["rows"]}
        want = self._expected(rec["q"])
        if len(got) != len(rec["rows"]):
            rec["errors"].append("duplicate buckets returned")
        if got.keys() != want.keys():
            rec["errors"].append(
                f"buckets differ: {len(got)} returned, {len(want)} expected")
            return
        bad = [k for k, (n, s1, s2) in want.items()
               if got[k] != (n, float(s1), float(s2))]
        if bad:
            rec["errors"].append(f"n/s1/s2 differ in {len(bad)} buckets, "
                                 f"first {bad[0]}")

    def _tier_rows(self):
        """The store's tier >= 1 rows, the reference for the archive."""
        if self._ref is None:
            self._ref = (self.store.where(F.col("tier") >= 1)
                         .select(*ARCHIVE_COLS).collect())
        return self._ref

    def _check_cold(self, rec: dict, ref: dict) -> None:
        q = rec["q"]
        hi = -(-q.windows // GROUP**q.res)
        ids = set(q.docs) if q.docs else None
        want = {k: v for k, v in ref.items()
                if k[1] == q.res and k[2] < hi
                and (k[0] in ids if ids is not None else v[0] == q.source)}
        got = row_bits(rec["rows"])
        if len(got) != len(rec["rows"]) or got != want:
            rec["errors"].append(
                f"cold read differs from tier rows ({len(got)} vs "
                f"{len(want)} rows)")

    def verify(self, warm, recs) -> None:
        ref = row_bits(self._tier_rows())
        for rec in warm + recs:
            if rec["errors"]:
                continue
            if rec["kind"] == "cold":
                self._check_cold(rec, ref)
            else:
                self._check_router(rec)
        # the checks above are vacuous if nothing came back at all
        returned = {kind: 0 for kind in ("direct", "merge", "cold")}
        for r in ok(recs):
            returned[r["kind"]] += len(r["rows"])
        self.run.record(all(returned.values()),
                        f"rows returned per query kind: {returned}")
        self._check_archive()

    def _check_archive(self) -> None:
        """Round trip of the whole archive against the tier rows."""
        archive = read_compressed_store(self.spark, self.archive_path)
        rows = archive.select(*ARCHIVE_COLS).collect()
        got, want = row_bits(rows), row_bits(self._tier_rows())
        self.run.record(len(rows) == len(got) and got == want and bool(want),
                        f"archive round trip: {len(rows)} decoded rows vs "
                        f"{len(want)} tier rows")

    # -- metrics -----------------------------------------------------------
    def store_bytes_per_point(self, recs=None) -> float:
        """The chunked tier store and the archive."""
        return (dir_bytes(Path(self.store_path))
                + dir_bytes(Path(self.archive_path))) / self.points

    def report(self, recs):
        rows = []
        for name, kind in (("direct_query_p50_ms", "direct"),
                           ("merge_query_p50_ms", "merge"),
                           ("cold_read_p50_ms", "cold")):
            ts = [r["t"] * 1e3 for r in ok(recs, kind)]
            rows.append((name, median(ts), "ms", f"n={len(ts)}"))
        ts = [r["t"] * 1e3 for r in ok(recs)]
        rows.append(("query_p90_ms", percentile(ts, 90), "ms",
                     f"n={len(ts)}, {max(0, len(ts) - int(0.9 * len(ts)))} "
                     "samples above"))
        return rows
