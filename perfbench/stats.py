"""Pure helpers: result digests, the tail-percentile rule and medians.
No Spark here, so the benchmark's own tests run without a session."""

from __future__ import annotations

import hashlib
import math
from typing import Any, Iterable, Sequence

#: Significant digits kept for floats in a digest. Spark's partial
#: aggregates may sum in a different order from run to run; nine digits
#: absorb that while any real change of a value still moves the digest.
FLOAT_DIGITS = 9


def norm_cell(v: Any, base_norm) -> Any:
    """``base_norm`` is the oracle comparison's cell normalization
    (dates to ISO text, NaN to a tag); floats are then rounded."""
    v = base_norm(v)
    if isinstance(v, float):
        return float(f"{v:.{FLOAT_DIGITS}g}") if math.isfinite(v) else v
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x, base_norm) for x in v)
    return v


def digest(columns: Sequence[str], rows: Iterable[Sequence[Any]],
           base_norm) -> str:
    """Order-insensitive digest of a result: columns sorted by name,
    cells normalized, rows sorted, then hashed."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = [tuple(norm_cell(r[i], base_norm) for i in order) for r in rows]
    norm.sort(key=lambda r: tuple((x is None, type(x).__name__, repr(x))
                                  for x in r))
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for r in norm:
        h.update(repr(r).encode())
    return h.hexdigest()[:32]


def tail_percentile(n: int, candidates=(99, 95, 90, 85, 80, 75)
                    ) -> "int | None":
    """Highest candidate percentile with at least ten of ``n`` samples
    strictly beyond it, or None when even the lowest has fewer."""
    for p in candidates:
        if n - math.ceil(n * p / 100) >= 10:
            return p
    return None


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile (the value at rank ceil(p% of n))."""
    s = sorted(values)
    return s[max(0, math.ceil(len(s) * p / 100) - 1)]


def geomean(values: Sequence[float]) -> float:
    """Geometric mean: every op counts, none dominates by its size."""
    return math.exp(sum(math.log(v) for v in values) / len(values))
