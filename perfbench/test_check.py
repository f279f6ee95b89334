"""Tests of the benchmark's own output checks and helpers (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import check  # noqa: E402
import kernels  # noqa: E402
from run import percentile_tail  # noqa: E402
from tests.oracle import fill_series_oracle  # noqa: E402

SEED, TARGET = 5, 2_000


def _engine_like(conv_id: str, t: np.ndarray, v: np.ndarray) -> pd.DataFrame:
    """Points shaped like a range read's result."""
    return pd.DataFrame({"conv_id": conv_id, "tier": "1m",
                         "bucket_ts": pd.to_datetime(t, unit="s"), "value": v})


def test_window_equals_whole_conversation_oracle():
    """The windowed oracle (grid + k outside buckets per side) gives the
    same bits as filling the conversation's whole grid."""
    corpus = check.Corpus(SEED, TARGET)
    idx = int(np.argsort(corpus.sizes)[len(corpus.sizes) // 2])
    t_ref, v_ref = corpus.refs(idx)
    grid = np.arange(t_ref[0], t_ref[-1] + 1, check.TIER_1M)
    v = np.full(len(grid), np.nan)
    v[grid.searchsorted(t_ref)] = v_ref
    full, _ev, _c = fill_series_oracle(grid, v, "IDW", **check.FILL_KW)
    rng = np.random.default_rng(0)
    for _ in range(5):
        a, b = sorted(rng.integers(t_ref[0] - 600, t_ref[-1] + 600, size=2))
        et, ev = check.expected_points(t_ref, v_ref, int(a), int(b))
        keep = (grid >= a) & (grid <= b)
        assert np.array_equal(et, grid[keep])
        assert np.array_equal(ev.view(np.int64), full[keep].view(np.int64))


def test_one_flipped_bit_is_caught():
    corpus = check.Corpus(SEED, TARGET)
    idx = 0
    first, _last = corpus.span(idx)
    t_min, t_max = first, first + 86_399
    et, ev = check.expected_points(*corpus.refs(idx), t_min, t_max)
    label = check.datagen.conv_label(idx)
    assert check.check_read(_engine_like(label, et, ev), corpus, [idx],
                            t_min, t_max) == []
    flipped = ev.copy()
    j = len(flipped) // 2
    flipped.view(np.int64)[j] ^= 1
    errors = check.check_read(_engine_like(label, et, flipped), corpus, [idx],
                              t_min, t_max)
    assert len(errors) == 1 and "1 of" in errors[0]


def test_missing_point_and_unrequested_conversation_are_caught():
    corpus = check.Corpus(SEED, TARGET)
    first, _last = corpus.span(0)
    et, ev = check.expected_points(*corpus.refs(0), first, first + 3_599)
    label = check.datagen.conv_label(0)
    short = _engine_like(label, et[1:], ev[1:])
    assert check.check_read(short, corpus, [0], first, first + 3_599)
    extra = pd.concat([_engine_like(label, et, ev),
                       _engine_like("c99999999", et[:1], ev[:1])])
    errors = check.check_read(extra, corpus, [0], first, first + 3_599)
    assert errors == ["unrequested conversation c99999999"]


def test_fused_groups_cover_the_grid_once():
    corpus = check.Corpus(SEED, TARGET)
    t_ref, v_ref = corpus.refs(0)
    groups = kernels.fused_groups(t_ref, v_ref)
    covered = np.concatenate([g[3] for g in groups])
    assert np.array_equal(covered, np.arange(t_ref[0], t_ref[-1] + 1, 60))
    for t_ser, _v, nl, grid, _vg in groups:
        assert np.all(np.diff(t_ser) > 0)
        assert np.array_equal(t_ser[nl:nl + len(grid)], grid)


def test_percentile_tail_keeps_ten_samples_beyond():
    assert percentile_tail(list(range(10))) is None
    pct, val = percentile_tail([float(i) for i in range(100)])
    assert val == 89.0 and pct == 90.0
    assert sum(1 for x in range(100) if x > val) == 10
