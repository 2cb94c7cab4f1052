"""Pure helpers of the benchmark: result comparison, percentiles, accounting.

No Spark here, so `python -m pytest perfbench` tests them in a second.
"""

from __future__ import annotations

import datetime
import decimal
import math
from collections import Counter
from dataclasses import dataclass, field

TAIL_MIN_BEYOND = 10  # a tail percentile needs this many samples above it


def norm(v) -> str:
    """One value in the registry contract's normal form: floats to 6
    significant digits, dates ISO, NULL as a marker, lists element-wise."""
    if v is None:
        return "<NULL>"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def canon(columns, rows) -> tuple[tuple[str, ...], Counter]:
    """Order-insensitive normal form of a result: sorted lower-case column
    names and the multiset of rows with their values in that column order."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (tuple(cols[i] for i in order),
            Counter(tuple(norm(r[i]) for i in order) for r in rows))


def mismatch(got, want) -> str | None:
    """Compare two `canon()` forms; None when equal, else a short reason."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {list(gc)} != {list(wc)}"
    if gr != wr:
        n_got, n_want = sum(gr.values()), sum(wr.values())
        if n_got != n_want:
            return f"{n_got} rows != {n_want}"
        extra, missing = list((gr - wr).items())[:2], list((wr - gr).items())[:2]
        return f"values differ: unexpected {extra}, missing {missing}"
    return None


def percentile(samples, p: float) -> float:
    """Linear-interpolated percentile (p in 0..100) of a non-empty list."""
    xs = sorted(samples)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def geomean(samples) -> float:
    """Geometric mean of positive samples; 0.0 for none."""
    xs = list(samples)
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def tail_percentile(samples, candidates=(99, 90)) -> tuple[int, float] | None:
    """The highest candidate percentile with at least TAIL_MIN_BEYOND samples
    above it, as (p, value); None when no candidate has that support."""
    n = len(samples)
    for p in sorted(candidates, reverse=True):
        if math.floor(n * (100 - p) / 100.0) >= TAIL_MIN_BEYOND:
            return p, percentile(samples, p)
    return None


@dataclass
class Tally:
    """Outcome accounting of the timed operations of one run."""

    attempted: int = 0
    errors: int = 0  # raised or returned an error
    wrong: int = 0  # completed, but the rows differ from the oracle
    reasons: list = field(default_factory=list)

    def record(self, error: str | None = None, wrong: str | None = None) -> None:
        self.attempted += 1
        if error is not None:
            self.errors += 1
            self.reasons.append(f"error: {error}")
        elif wrong is not None:
            self.wrong += 1
            self.reasons.append(f"wrong: {wrong}")

    @property
    def failed(self) -> int:
        return self.errors + self.wrong

    @property
    def ok(self) -> int:
        return self.attempted - self.failed

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
