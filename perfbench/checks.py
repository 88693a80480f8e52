"""Correctness oracles and checkers, independent of the program under test.

Every oracle here is plain pandas/Python over the generated inputs; none
calls into ``samsa_spark``. Checks run outside the timed regions, and each
one is an operation in the run's ``attempted``/``failed`` ledger.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd

STATE_COLS = ["user_id", "ts_us", "event_id", "event_type", "value"]
SHINGLE_K = 3


@dataclass
class Ledger:
    """Operations attempted and failed in one run, with the reason for each
    failure."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def record(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}" if detail else name)
        return ok

    # The error an operation raised, once recorded as a failure.
    raised: BaseException | None = None

    @contextmanager
    def op(self, name: str) -> Iterator[None]:
        """One call into the program. If it raises, it is recorded as
        failed, with the error, and the error propagates: the run stops
        there and reports ``correct: false``."""
        self.attempted += 1
        try:
            yield
        except Exception as e:
            self.failed += 1
            self.failures.append(f"{name}: {type(e).__name__}: {e}")
            self.raised = e
            raise


def lww_oracle(events: pd.DataFrame) -> pd.DataFrame:
    """Last-writer-wins state over an event log: per ``user_id`` the row
    with the largest ``(ts_us, event_id)``, which is samsa's replay rule."""
    last = (
        events.sort_values(["ts_us", "event_id"], kind="mergesort")
        .groupby("user_id", sort=True)
        .tail(1)
    )
    return _canon(last)


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    out = df[STATE_COLS].sort_values("user_id", kind="mergesort").reset_index(drop=True)
    return out.astype(
        {"user_id": "int64", "ts_us": "int64", "event_id": "int64", "value": "float64"}
    )


def state_mismatches(got: pd.DataFrame, want: pd.DataFrame, limit: int = 3) -> list[str]:
    """Differences between two state tables; empty when they are equal.
    Values compare exactly: nothing on either side does arithmetic on them."""
    a, b = _canon(got), _canon(want)
    if len(a) != len(b):
        extra = sorted(set(a.user_id) ^ set(b.user_id))[:limit]
        return [f"rows {len(a)} != {len(b)}; keys on one side only: {extra}"]
    diff = ~((a == b) | (a.isna() & b.isna())).all(axis=1)
    return [
        f"key {a.user_id[i]}: got {a.iloc[i].tolist()} want {b.iloc[i].tolist()}"
        for i in diff[diff].index[:limit]
    ]


def lookup_ok(got: dict | None, want: pd.DataFrame, key: int) -> bool:
    """A point lookup's answer against the oracle table (indexed by key):
    None for a key the log never wrote, the exact oracle row otherwise."""
    if key not in want.index:
        return got is None
    if got is None:
        return False
    row = want.loc[key]
    return int(got["user_id"]) == key and all(got[c] == row[c] for c in STATE_COLS[1:])


def shingles(text: str) -> set[str]:
    """Distinct 3-token shingles of a space-split text, as the dedup
    operators define them (no shingles under three tokens)."""
    toks = text.split(" ")
    return {" ".join(toks[i : i + SHINGLE_K]) for i in range(len(toks) - SHINGLE_K + 1)}


def jaccard(a: str, b: str) -> tuple[int, float]:
    sa, sb = shingles(a), shingles(b)
    inter = len(sa & sb)
    union = len(sa) + len(sb) - inter
    return inter, (inter / union if union else 0.0)


def round6(x: float) -> float:
    """Spark's ``round(double, 6)``: half-up on the double's shortest
    decimal form (Python's ``round`` is half-even on the binary value)."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def bad_pairs(
    pairs: pd.DataFrame, texts: dict[int, str], threshold: float, limit: int = 3
) -> list[str]:
    """Pairs whose recomputed Jaccard is below ``threshold`` or whose
    reported intersection/Jaccard disagrees with the recomputation
    (the operator rounds Jaccard to 6 places)."""
    out = []
    for a, b, n_inter, jac in pairs[["doc_a", "doc_b", "n_inter", "jaccard"]].itertuples(
        index=False
    ):
        inter, j = jaccard(texts[a], texts[b])
        j6 = round6(j)
        if not (a < b and j6 >= threshold and inter == n_inter and math.isclose(j6, jac, abs_tol=1e-9)):
            out.append(f"({a},{b}) reported n_inter={n_inter} j={jac}, recomputed {inter} {j:.6f}")
            if len(out) >= limit:
                break
    return out


def id_set_mismatch(got: list[int], want: list[int]) -> str:
    """Empty when ``got`` holds exactly the ids of ``want``, once each."""
    if len(got) != len(set(got)):
        return f"{len(got) - len(set(got))} ids read more than once"
    gs, ws = set(got), set(want)
    if gs != ws:
        return f"{len(gs - ws)} unexpected ids, {len(ws - gs)} missing ids"
    return ""
