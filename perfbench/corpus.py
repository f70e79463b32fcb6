"""Seeded benchmark corpus and its pandas oracles.

The corpus is built from ``vcf2df_spark.fixtures``: the six core transcript
columns with geometric conversation lengths, plus a few agent-run "mega"
conversations far above ``TURNS_PER_SPLIT`` (so the encoder's salted split
runs). The program only ever sees the zstd parquet written from it; every expected
answer the benchmark checks against is computed here, in pandas, from the
same frame.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from vcf2df_spark import fixtures
from vcf2df_spark.encode import TURNS_PER_SPLIT

# agent-run conversations as shares of all turns (1.2M-turn shape:
# 120k / 60k / 30k / 16k turns)
MEGA_SHARES = (0.10, 0.05, 0.025, 1 / 75)
# mean of clip(geometric(0.08), 2, 200), the fixtures' length law
_MEAN_LEN = 12.6

COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def generate(seed: int, turns: int,
             agent: bool) -> tuple[pd.DataFrame, list[str]]:
    """Return (corpus, mega conversation ids) for ``seed``; about ``turns``
    rows. With ``agent``, the corpus holds mega conversations, each
    spanning several ``TURNS_PER_SPLIT`` splits; without, none."""
    rng = np.random.default_rng(seed)
    mega = [max(int(turns * s), 3 * TURNS_PER_SPLIT)
            for s in (MEGA_SHARES if agent else ())]
    n_convs = max(int((turns - sum(mega)) / _MEAN_LEN), 1)
    lens = np.clip(rng.geometric(0.08, n_convs), 2, 200)
    lens = np.concatenate([lens, np.array(mega, dtype=lens.dtype)])
    order = rng.permutation(len(lens))
    lens = lens[order]
    df = fixtures._make(rng, lens, fixtures._START_LO, fixtures._START_HI)
    mega_ids = [f"conv-{i:08d}" for i in np.flatnonzero(lens > 200)]
    return df, mega_ids


class Oracle:
    """Expected answers, computed in pandas from the generated corpus."""

    def __init__(self, df: pd.DataFrame, mega_ids: list[str]):
        s = df.sort_values(["conv_id", "turn_idx"], kind="stable")
        self.frame = s.reset_index(drop=True)
        self.rows = len(s)
        self.cols = {
            "conv_id": s["conv_id"].to_numpy(object),
            "turn_idx": s["turn_idx"].to_numpy(np.int64),
            "role": s["role"].to_numpy(object),
            "text": s["text"].to_numpy(object),
            "tool": s["tool"].to_numpy(object),
            "ts": _micros(s["ts"]),
        }
        ids = self.cols["conv_id"]
        starts = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
        ends = np.r_[starts[1:], len(ids)]
        self.span = {ids[a]: (a, b) for a, b in zip(starts, ends)}
        mega = set(mega_ids)
        self.small_ids = sorted(c for c in self.span if c not in mega)
        self.mega_ids = sorted(mega)
        lens = ends - starts
        self.conv_len_pcts = {
            f"p{q}": float(np.percentile(lens, q)) for q in (50, 90, 99, 100)
        }
        self.n_convs = len(lens)

    def conv(self, conv_id: str, columns=COLUMNS) -> dict[str, np.ndarray]:
        a, b = self.span[conv_id]
        return {c: self.cols[c][a:b] for c in columns}

    def check_conv(self, got: pd.DataFrame, conv_id: str,
                   columns=COLUMNS) -> None:
        """``got`` must hold exactly the conversation's rows."""
        if sorted(got.columns) != sorted(columns):
            raise AssertionError(f"{conv_id}: columns {list(got.columns)}")
        want = self.conv(conv_id, columns)
        got = got.sort_values("turn_idx", kind="stable")
        for c in columns:
            g = got[c]
            g = _micros(g) if c == "ts" else g.to_numpy()
            if len(g) != len(want[c]) or not np.array_equal(
                    g.astype(want[c].dtype), want[c]):
                raise AssertionError(f"{conv_id}: column {c} differs")


def _micros(ts) -> np.ndarray:
    """Timestamps (naive or UTC, any unit) as int64 microseconds."""
    s = pd.Series(ts)
    if s.dt.tz is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.to_numpy("datetime64[us]").astype(np.int64)
