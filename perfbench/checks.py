"""Output checks for every timed operation.

Each check returns None when the output holds and a one-line reason when
it does not; the runner counts every reason as a failed op. Queries with
an oracle are compared with the oracle gate's own canonicalisation
(``tools/check_oracles.py:canon``); sketch estimates are checked against
their published bounds using exact counts.
"""

from __future__ import annotations

import importlib.util
import math
import os

import numpy as np
import pandas as pd

# KLL normalized rank error at 99% confidence for a quantile query,
# 2.296 / k^0.9723 (Karnin-Lang-Liberty sketch with the DataSketches
# constants); 0.0133 at k=200
def kll_rank_eps(k: int) -> float:
    return 2.296 / k**0.9723


def load_canon(root: str):
    """The oracle gate's canonicalisation function, loaded from its file."""
    path = os.path.join(root, "tools", "check_oracles.py")
    spec = importlib.util.spec_from_file_location("_oracle_gate", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def rows_to_pandas(rows: list, schema) -> pd.DataFrame:
    """Collected Rows as the DataFrame ``toPandas`` would give, without a
    second Spark job: integer columns int64 (float64 when holding nulls),
    fractional float64, boolean bool."""
    from pyspark.sql import types as T

    data = {}
    for i, field in enumerate(schema.fields):
        vals = [r[i] for r in rows]
        dt = field.dataType
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            dtype = "float64" if any(v is None for v in vals) else "int64"
        elif isinstance(dt, (T.FloatType, T.DoubleType)):
            dtype = "float64"
        elif isinstance(dt, T.BooleanType) and not any(v is None for v in vals):
            dtype = "bool"
        else:
            dtype = "object"
        data[field.name] = pd.Series(vals, dtype=dtype)
    return pd.DataFrame(data, columns=[f.name for f in schema.fields])


def _lookup(ids: np.ndarray, counts: np.ndarray, items) -> np.ndarray:
    """Exact count of each of ``items`` (0 when absent from ``ids``)."""
    ids, counts = np.asarray(ids), np.asarray(counts, np.int64)
    items = np.asarray(items, ids.dtype)
    if len(ids) == 0:
        return np.zeros(len(items), np.int64)
    order = np.argsort(ids)
    ids, counts = ids[order], counts[order]
    pos = np.minimum(np.searchsorted(ids, items), len(ids) - 1)
    return np.where(ids[pos] == items, counts[pos], 0)


def compare_oracle(canon, got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    a, b = canon(got), canon(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != oracle {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != oracle {len(b)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=True, check_exact=False, atol=1e-6)
    except AssertionError as e:
        return "values differ: " + str(e).splitlines()[0]
    return None


def check_cm(est: np.ndarray, exact: np.ndarray, l1: int, width: int) -> str | None:
    """Count-Min: exact <= est <= exact + (e/w)*L1 on every probe."""
    est, exact = np.asarray(est, np.int64), np.asarray(exact, np.int64)
    slack = math.e / width * l1
    low = np.flatnonzero(est < exact)
    high = np.flatnonzero(est > exact + slack)
    if len(low) or len(high):
        return f"count-min: {len(low)} probes under exact, {len(high)} over exact+{slack:.0f}"
    return None


def check_hll(est: float, exact: int, rel_std_error: float, sigmas: float = 3.0) -> str | None:
    if abs(est - exact) > sigmas * rel_std_error * exact:
        return f"hll: estimate {est:.1f} vs exact {exact} outside {sigmas} standard errors"
    return None


def check_mg(
    items: np.ndarray, counts: np.ndarray, decrement: int,
    exact_ids: np.ndarray, exact_counts: np.ndarray,
) -> str | None:
    """Misra-Gries: a kept counter is a lower bound within ``decrement`` of
    the exact count, and every token without a counter has an exact count
    of at most ``decrement``."""
    true = _lookup(exact_ids, exact_counts, items)
    counts = np.asarray(counts, np.int64)
    bad_kept = np.count_nonzero((counts > true) | (true > counts + decrement))
    ids, cnt = np.asarray(exact_ids), np.asarray(exact_counts)
    absent = ~np.isin(ids, items)
    bad_absent = np.count_nonzero(cnt[absent] > decrement)
    if bad_kept or bad_absent:
        return f"misra-gries: {bad_kept} kept counters and {bad_absent} absent tokens outside decrement {decrement}"
    return None


def check_kll(
    values: np.ndarray, qs: list[float], exact_ids: np.ndarray, exact_counts: np.ndarray, eps: float
) -> str | None:
    """KLL: each returned value's exact rank interval, normalized, lies
    within ``eps`` of its quantile."""
    order = np.argsort(exact_ids)
    ids = np.asarray(exact_ids, np.float64)[order]
    cum = np.concatenate([[0], np.cumsum(np.asarray(exact_counts)[order])])
    n = cum[-1]
    bad = []
    for q, v in zip(qs, np.asarray(values, np.float64)):
        lo = cum[np.searchsorted(ids, v, side="left")] / n
        hi = cum[np.searchsorted(ids, v, side="right")] / n
        if q < lo - eps or q > hi + eps:
            bad.append(f"q={q} rank [{lo:.4f}, {hi:.4f}]")
    return f"kll: outside rank error {eps:.4f}: " + "; ".join(bad) if bad else None


def check_hh(
    reported: np.ndarray, exact_ids: np.ndarray, exact_counts: np.ndarray,
    l1: int, phi: float, eps: float,
) -> str | None:
    """phi-heavy hitters: every id with count >= phi*L1 reported, none
    with count < (phi - eps)*L1."""
    exact_ids, exact_counts = np.asarray(exact_ids), np.asarray(exact_counts)
    heavy = exact_ids[exact_counts >= phi * l1]
    missed = np.count_nonzero(~np.isin(heavy, np.asarray(reported, exact_ids.dtype)))
    light_reported = np.count_nonzero(_lookup(exact_ids, exact_counts, reported) < (phi - eps) * l1)
    if missed or light_reported:
        return f"heavy hitters: {missed} of {len(heavy)} missed, {light_reported} reported below (phi-eps)*L1"
    return None
