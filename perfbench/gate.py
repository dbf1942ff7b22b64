"""Correctness gate: every answer the benchmark times is checked here, after
its clock has stopped. A mismatch counts the operation as failed."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

REL_TOL = 1e-9


def topk_matches(hits: "list[tuple[int, float]]", golden: "list[list]") -> bool:
    """Same doc ids in the same order, scores equal to the oracle's within
    float64 summation-order noise."""
    if len(hits) != len(golden):
        return False
    for (d, s), (gd, gs) in zip(hits, golden):
        if int(d) != int(gd) or not math.isclose(float(s), float(gs), rel_tol=REL_TOL, abs_tol=1e-12):
            return False
    return True


def fetch_matches(rows: pd.DataFrame, hits: "list[tuple[int, float]]", docs: pd.DataFrame) -> bool:
    """The fetched rows are exactly the hits' source rows: one row per hit,
    with the hit's score and the corpus row's key and text. ``docs`` is
    indexed by doc_id."""
    if len(rows) != len(hits):
        return False
    got = rows.set_index("doc_id")
    ids = np.array([h[0] for h in hits], dtype=np.int64)
    if not got.index.is_unique or set(got.index) != set(ids.tolist()):
        return False
    want = docs.loc[ids]
    got = got.loc[ids]
    return (
        (got["conv_id"].to_numpy() == want["conv_id"].to_numpy()).all()
        and (got["turn_idx"].to_numpy() == want["turn_idx"].to_numpy()).all()
        and (got["text"].to_numpy() == want["text"].to_numpy()).all()
        and np.allclose(got["score"].to_numpy(dtype=float), [h[1] for h in hits], rtol=REL_TOL)
    )


class Tally:
    """Operations attempted and failed, for the result line."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: "dict[str, int]" = {}

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons[what] = self.reasons.get(what, 0) + 1
        return ok
