"""Small pure helpers: percentiles with a sample-count floor, output
fingerprints, and run summaries. No Spark here, so the tests are fast."""

from __future__ import annotations

import hashlib
import math
import statistics

import pandas as pd

# A percentile is reported only when at least this many samples lie
# beyond it; below that, one outlier moves it.
MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def min_samples(q: float) -> int:
    """Smallest sample count with MIN_BEYOND samples beyond quantile ``q``."""
    return math.ceil(MIN_BEYOND / (1.0 - q) - 1e-9)


def percentile(values, q: float) -> tuple[float, int]:
    """Nearest-rank percentile ``q`` (0 < q < 1) and the sample count.

    Refuses (TooFewSamples) when fewer than MIN_BEYOND samples lie
    beyond it, and says how many it had."""
    xs = sorted(values)
    n = len(xs)
    if n < min_samples(q):
        raise TooFewSamples(
            f"p{round(q * 100)} needs >= {min_samples(q)} samples "
            f"({MIN_BEYOND} beyond it), got n={n}"
        )
    rank = max(1, math.ceil(q * n))
    return xs[rank - 1], n


def spread(values) -> dict:
    """Median and quartiles as ``statistics.quantiles(n=4)`` gives them,
    plus the inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med, "q1": q1, "q3": q3, "n": len(values),
        "iqr_frac": (q3 - q1) / med if med else float("inf"),
    }


def _canon(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    out = pd.DataFrame(index=range(len(df)))
    for c in cols:
        s = df[c].reset_index(drop=True)
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is None:
                s = s.dt.tz_localize("UTC")
            out[c] = s.dt.tz_convert("UTC").dt.as_unit("us").astype("int64").astype("string")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.round(6).astype("string")
        else:
            out[c] = s.astype("string")
    return out.fillna("<null>")


def fingerprint(df: pd.DataFrame, cols: list[str]) -> str:
    """Order-insensitive fingerprint of ``df[cols]``: row count plus an
    md5 of the canonical rows in sorted order."""
    c = _canon(df, cols)
    lines = sorted("\x1f".join(r) for r in c.itertuples(index=False, name=None))
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(lines)}:{h.hexdigest()}"


def diff_rows(got: pd.DataFrame, want: pd.DataFrame, cols: list[str],
              limit: int = 2) -> dict:
    """Rows only in one side (a few of each), for a mismatch report."""
    g = set(map(tuple, _canon(got, cols).itertuples(index=False, name=None)))
    w = set(map(tuple, _canon(want, cols).itertuples(index=False, name=None)))
    return {
        "missing": len(w - g), "unexpected": len(g - w),
        "missing_examples": sorted(w - g)[:limit],
        "unexpected_examples": sorted(g - w)[:limit],
    }
