"""Single-core kernel timings on deterministic, regenerated inputs.

The fused 1m pass hands `fill_series` one (t, v) series per
(conversation, fill chunk) group: the chunk's grid with its valid buckets
in place, plus the k valid buckets beyond each edge that can be its
neighbours. `fused_groups` rebuilds exactly those series from
`datagen.conv_turns` + `tests/oracle.rollup_pandas` at the run seed, so
the kernel numbers can be rerun by anyone without captured batches. The
filled grids are then chunked the way the encoder chunks them, for the
Gorilla encode/decode timings.
"""

from __future__ import annotations

import time

import numpy as np

from spinterps_spark.compress.gorilla_vec import (
    decode_ts_many, decode_vals_many, encode_ts_many, encode_vals_many)
from spinterps_spark.operators.gapfill import fill_series

from check import TIER_1M

CHUNK_BUCKETS = 3840   # the fill chunk the workloads pass (fill_knobs)
GORILLA_CHUNK = 120    # points per Gorilla chunk (gapfill_virtual_chunks)
K = 8                  # n_neighbors default


def fused_groups(t_ref: np.ndarray, v_ref: np.ndarray,
                 vg_str: str | None = None) -> list[tuple]:
    """(t_ser, v_ser, n_left, grid, vg_str) per fill chunk of one conversation,
    mirroring the fused pass: a valid bucket joins every chunk between the
    chunks of its k-th neighbour on either side."""
    span = CHUNK_BUCKETS * TIER_1M
    n = len(t_ref)
    first, last = int(t_ref[0]), int(t_ref[-1])
    idx = np.arange(n)
    c_lo = t_ref[np.maximum(idx - K, 0)] // span
    c_hi = t_ref[np.minimum(idx + K, n - 1)] // span
    out = []
    for c in range(int(c_lo.min()), int(c_hi.max()) + 1):
        member = (c_lo <= c) & (c <= c_hi)
        rt, rv = t_ref[member], v_ref[member]
        g0 = -(-max(first, c * span) // TIER_1M) * TIER_1M
        g1 = (min(last, (c + 1) * span - TIER_1M) // TIER_1M) * TIER_1M
        if g1 < g0:
            continue
        grid = np.arange(g0, g1 + 1, TIER_1M, dtype=np.int64)
        nl = int(rt.searchsorted(g0, side="left"))
        nr = int(rt.searchsorted(g1, side="right"))
        v_mid = np.full(len(grid), np.nan)
        v_mid[grid.searchsorted(rt[nl:nr])] = rv[nl:nr]
        out.append((np.concatenate([rt[:nl], grid, rt[nr:]]),
                    np.concatenate([rv[:nl], v_mid, rv[nr:]]), nl, grid,
                    vg_str))
    return out


def _median_time(fn, repeats: int) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times))


def fill_us_per_group(groups: list[tuple], method: str,
                      repeats: int) -> tuple[float, list[np.ndarray]]:
    """Median over `repeats` passes of the mean µs per group; one pinv
    cache per pass, as one Arrow batch of the fused pass shares one."""
    filled: list[np.ndarray] = []

    def one_pass():
        cache: dict = {}
        filled.clear()
        for t_ser, v_ser, nl, grid, vg_str in groups:
            f, _ev, _cd = fill_series(t_ser, v_ser, method=method,
                                      vg_str=vg_str, pinv_cache=cache,
                                      want_codes=False)
            filled.append(f[nl:nl + len(grid)])

    sec = _median_time(one_pass, repeats)
    return sec / len(groups) * 1e6, list(filled)


def gorilla_ns_per_point(groups: list[tuple], filled: list[np.ndarray],
                         repeats: int) -> tuple[float, float, int]:
    """(encode ns/point, decode ns/point, points) over the filled grids,
    chunked into the encoder's time-aligned windows; the decoded streams
    must reproduce the input bit for bit."""
    span = GORILLA_CHUNK * TIER_1M
    t = np.concatenate([g[3] for g in groups])
    v = np.concatenate(filled)
    gid = np.repeat(np.arange(len(groups)), [len(g[3]) for g in groups])
    keep = ~np.isnan(v)
    t, v, gid = t[keep], v[keep], gid[keep]
    ck = t // span
    change = np.ones(len(t), dtype=bool)
    change[1:] = (gid[1:] != gid[:-1]) | (ck[1:] != ck[:-1])
    starts = np.flatnonzero(change)
    ns = np.diff(np.append(starts, len(t)))
    enc: dict = {}

    def encode():
        enc["ts"] = encode_ts_many(t, starts)
        enc["vals"] = encode_vals_many(v, starts)

    def decode():
        enc["dts"] = decode_ts_many(t[starts], enc["ts"], ns)
        enc["dvals"] = decode_vals_many(v[starts], enc["vals"], ns)

    e = _median_time(encode, repeats)
    d = _median_time(decode, repeats)
    if not (np.array_equal(enc["dts"], t) and np.array_equal(
            enc["dvals"].view(np.int64), v.view(np.int64))):
        raise RuntimeError("Gorilla round trip of the kernel input is not exact")
    return e / len(t) * 1e9, d / len(t) * 1e9, len(t)
