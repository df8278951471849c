"""Direct timings of the kernel, gap-fill and codec functions on a
workload's own generated docs, in this process and outside Spark.

Each timing is the median over ``REPS`` passes of one pass over the
sample, divided by the work in the pass (points, windows or values).
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from pyhctsa_spark.functions import kernels as K
from pyhctsa_spark.functions import stats_state as S
from pyhctsa_spark.functions.codec import (
    dod_decode,
    dod_encode,
    gorilla_decode,
    gorilla_encode,
)
from pyhctsa_spark.functions.gapfill import drop_offsets, gap_fill

from perfbench.corpus import GROUP, WINDOW

LAGS = [1, 2]
REPS = 5
SAMPLE_POINTS = 400_000


def _sample(docs, points: int = SAMPLE_POINTS):
    out, total = [], 0
    for d in docs:
        if len(d.tokens) < WINDOW * GROUP:
            continue
        out.append(d)
        total += len(d.tokens)
        if total >= points:
            break
    return out


def _pass_ns(fn, args_list) -> float:
    """Median nanoseconds of one pass calling ``fn`` on every args."""
    fn(*args_list[0])  # warm
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter_ns()
        for a in args_list:
            fn(*a)
        times.append(time.perf_counter_ns() - t0)
    return float(statistics.median(times))


def kernel_ns(docs) -> dict[str, float]:
    sample = _sample(docs)
    Ys = [K.make_buffer(d.tokens.astype(np.float64), WINDOW) for d in sample]
    states = [S.states_from_windows(Y, LAGS) for Y in Ys]
    points = sum(Y.size for Y in Ys)
    windows = sum(Y.shape[0] for Y in Ys)
    return {
        "kernel.states_ns_per_point":
            _pass_ns(S.states_from_windows, [(Y, LAGS) for Y in Ys]) / points,
        "kernel.merge_ns_per_window":
            _pass_ns(S.merge_groups, [(s, GROUP, LAGS) for s in states])
            / windows,
        "kernel.finalize_ns_per_window":
            _pass_ns(S.finalize, [(s, LAGS) for s in states]) / windows,
        "kernel.iqr_ns_per_point":
            _pass_ns(K.iqr_hazen_2d, [(Y,) for Y in Ys]) / points,
    }


def gapfill_ns(docs, rng: np.random.Generator, gap_frac: float) -> float:
    args = []
    for d in _sample(docs):
        keep = drop_offsets(rng, len(d.tokens), gap_frac)
        args.append((keep.astype(np.int64),
                     d.tokens[keep].astype(np.float64), len(d.tokens)))
    points = sum(a[2] for a in args)
    return _pass_ns(gap_fill, args) / points


def _streams(docs):
    """Per-doc tier-0 feature streams, as the compressed store holds
    them (one block per doc and tier, one stream per feature)."""
    vals, widx = [], []
    for d in _sample(docs):
        st = S.states_from_windows(
            K.make_buffer(d.tokens.astype(np.float64), WINDOW), LAGS)
        fin = S.finalize(st, LAGS)
        for f in ("mean", "variance", "spread_std", "ac1_td", "burst_b"):
            vals.append(np.ascontiguousarray(fin[f], dtype=np.float64))
        widx.append(np.arange(len(st["n"]), dtype=np.int64))
    return vals, widx


def codec_ns(docs) -> dict[str, float]:
    vals, widx = _streams(docs)
    n_vals = sum(len(v) for v in vals)
    n_idx = sum(len(w) for w in widx)
    gblobs = [(gorilla_encode(v),) for v in vals]
    dblobs = [(dod_encode(w),) for w in widx]
    return {
        "codec.gorilla_encode_ns_per_value":
            _pass_ns(gorilla_encode, [(v,) for v in vals]) / n_vals,
        "codec.dod_encode_ns_per_value":
            _pass_ns(dod_encode, [(w,) for w in widx]) / n_idx,
        "codec.gorilla_decode_ns_per_value":
            _pass_ns(gorilla_decode, gblobs) / n_vals,
        "codec.dod_decode_ns_per_value":
            _pass_ns(dod_decode, dblobs) / n_idx,
    }
