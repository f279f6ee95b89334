"""Output checks against the independent NumPy oracle (tests/oracle.py).

A range read returns the engine's stored 1m points for a set of
conversations inside a time window. The expected points are computed live,
in this process, from the conversations' generated turns (the base turns
plus every late-turn delta merged so far) with `rollup_pandas` and
`fill_series_oracle`, and compared bit for bit: timestamps exactly and
values by their IEEE-754 bit patterns. No tolerance is applied.

The oracle fills every gap with a k-nearest-neighbour search over all of a
conversation's valid buckets. For a window, only the k valid buckets on
either side of it can be among a target's k nearest, so the oracle runs on
the window's grid plus those 2k outside buckets; the selected neighbours,
their tie order and so every filled value are the same as over the whole
conversation, at a cost bounded by the window size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from spinterps_spark import datagen
from tests.oracle import fill_series_oracle, rollup_pandas

TIER_1M = 60
# the engine's fill defaults (operators/gapfill.py DEFAULTS), restated so
# the oracle side does not import the engine's kernel module
FILL_KW = dict(idw_exp=5.0, n_neighbors=8, min_var_val_thresh=0.1, round_p=2)


class Corpus:
    """The generated turns of every conversation the checks look at: the
    base input plus late-turn deltas, per conversation index."""

    def __init__(self, seed: int, n_turns_target: int):
        self.seed = seed
        self.sizes = datagen.plan_sizes(seed, n_turns_target)
        self.deltas: dict[int, list[pd.DataFrame]] = {}
        self._refs: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    def add_delta(self, idx: int, turns: pd.DataFrame) -> None:
        self.deltas.setdefault(idx, []).append(turns)
        self._refs.pop(idx, None)

    def turns(self, idx: int) -> pd.DataFrame:
        base = datagen.conv_turns(self.seed, idx, int(self.sizes[idx]))
        return pd.concat([base, *self.deltas.get(idx, [])], ignore_index=True)

    def refs(self, idx: int) -> tuple[np.ndarray, np.ndarray]:
        """(bucket epoch seconds, tok_len_mean) of the valid 1m buckets."""
        if idx not in self._refs:
            r = rollup_pandas(self.turns(idx), TIER_1M)
            r = r[r["valid"]]
            t = (r["bucket_ts"].astype("int64") // 10**9).to_numpy(np.int64)
            v = (r["tok_len_sum"] / r["turn_cnt"]).to_numpy(np.float64)
            self._refs[idx] = (t, v)
        return self._refs[idx]

    def span(self, idx: int) -> tuple[int, int]:
        t, _ = self.refs(idx)
        return int(t[0]), int(t[-1])


def expected_points(t_ref: np.ndarray, v_ref: np.ndarray, t_min: int,
                    t_max: int) -> tuple[np.ndarray, np.ndarray]:
    """Oracle (ts, value) of a conversation's IDW-filled 1m series in
    [t_min, t_max]: its grid runs from its first to its last valid bucket."""
    k = FILL_KW["n_neighbors"]
    lo = max(int(t_ref[0]), -(-t_min // TIER_1M) * TIER_1M)
    hi = min(int(t_ref[-1]), (t_max // TIER_1M) * TIER_1M)
    if hi < lo:
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    grid = np.arange(lo, hi + 1, TIER_1M, dtype=np.int64)
    nl = int(t_ref.searchsorted(lo, side="left"))
    nr = int(t_ref.searchsorted(hi, side="right"))
    v_grid = np.full(len(grid), np.nan)
    v_grid[grid.searchsorted(t_ref[nl:nr])] = v_ref[nl:nr]
    left = slice(max(nl - k, 0), nl)
    right = slice(nr, nr + k)
    t_ser = np.concatenate([t_ref[left], grid, t_ref[right]])
    v_ser = np.concatenate([v_ref[left], v_grid, v_ref[right]])
    filled, _ev, _codes = fill_series_oracle(t_ser, v_ser, "IDW", **FILL_KW)
    n_left = left.stop - left.start
    return grid, filled[n_left:n_left + len(grid)]


def compare(got: pd.DataFrame, conv_id: str, exp_t: np.ndarray,
            exp_v: np.ndarray) -> str | None:
    """None when the engine's points for `conv_id` equal the oracle's bit
    for bit; otherwise a one-line description of the first difference."""
    g = got[got["conv_id"] == conv_id].sort_values("bucket_ts")
    t = g["bucket_ts"].astype("int64").to_numpy() // 10**9
    v = g["value"].to_numpy(np.float64)
    if len(t) != len(exp_t) or not np.array_equal(t, exp_t):
        return (f"{conv_id}: {len(t)} points at the wrong timestamps "
                f"(oracle has {len(exp_t)})")
    bad = np.flatnonzero(v.view(np.int64) != exp_v.view(np.int64))
    if len(bad):
        i = bad[0]
        return (f"{conv_id}: {len(bad)} of {len(v)} values differ; first at "
                f"ts={t[i]}: engine {v[i]!r} vs oracle {exp_v[i]!r}")
    return None


def check_read(got: pd.DataFrame, corpus: Corpus, conv_idx: list[int],
               t_min: int, t_max: int) -> list[str]:
    """All mismatches of one range read; [] when it is exact. A read
    returning a conversation outside the requested set is a mismatch too."""
    labels = {datagen.conv_label(i): i for i in conv_idx}
    errors = [f"unrequested conversation {c}"
              for c in set(got["conv_id"]) - set(labels)]
    for label, idx in labels.items():
        t_ref, v_ref = corpus.refs(idx)
        et, ev = expected_points(t_ref, v_ref, t_min, t_max)
        err = compare(got, label, et, ev)
        if err:
            errors.append(err)
    return errors


def sample_convs(sizes: np.ndarray, rng: np.random.Generator,
                 n: int) -> list[int]:
    """`n` conversation indices spread over the size distribution: one
    drawn from each of n equal-count size strata (largest stratum first).
    The mega-conversation (index 0, always the largest) is left to callers."""
    order = [i for i in np.argsort(-sizes, kind="stable") if i != 0]
    strata = np.array_split(np.asarray(order), n)
    return [int(rng.choice(s)) for s in strata if len(s)]
