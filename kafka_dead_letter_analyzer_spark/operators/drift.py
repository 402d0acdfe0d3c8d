"""Distribution-shift diagnostics: CUSUM change-point detection and
total-variation drift.

The reference engine aggregates dead letters into per-key counts
(`ErrorAggregatingProcessor.java:38-102`) and leaves "did the error
rate CHANGE, and when?" to the dashboard reading them.  At corpus
scale that question needs to run inside the engine, and the classic
detectors (CUSUM, population-stability / total-variation distance)
are float-first in every textbook form — `log` for PSI, running
means for CUSUM — which the cross-engine hash gate cannot accept.
Both operators here are re-derived as exact integer algebra:

* ``cusum_changepoint`` uses the identity ``S_t = P_t*B - t*total``
  (the classic CUSUM statistic against the mean rate, scaled by the
  bucket count ``B`` so the reference rate ``total/B`` never becomes
  a float), and the textbook recursive ``max(0, S_{t-1} + x - ref)``
  becomes the prefix-sum-minus-running-min identity
  ``D_t = S_t - min_{j<=t} S_j`` — cumulative sums and running
  extremes over the group's nonempty buckets, no recursion.
* ``tvd_drift`` is the L1 half-distance between the category mix of
  the early and late halves of the stream,
  ``TVD = sum |c1/n1 - c2/n2| / 2``, cleared of denominators as
  ``sum |c1*n2 - c2*n1| / (2*n1*n2)`` — one conditional-sum scan.

Both emit ppm fixed-points via the same TWO-STEP LONG DIVISION as
``profile.gini_concentration`` (``d1 = num*1000 div nt; d2 =
(num*1000 mod nt)*1000 div nt``), so no intermediate exceeds
``nt * 1000`` and the surface stays BIGINT-exact on any engine.

Timeline detectors (CUSUM, Hampel, Theil-Sen, Mann-Kendall): the only
full-data shuffle is the sparse ``(group, bucket)`` count contraction
(:func:`bucket_counts`).  Each group's contraction rows then go whole
to ONE ``applyInPandas`` call of an exact per-group numpy kernel
(``_cusum_kernel``, ``_hampel_kernel``, ``_trend_kernel``, run by
``_kernel_pass``): the group's timeline is at most ``max_buckets``
longs, densifies in worker memory where a detector needs it, and no
window, timeline join or pair row ever reaches Spark.  Parallel across
groups; the global form groups by a constant key.
``dead_letter_drift_report`` runs all four kernels in one such pass and
checks its span cap inside it, with no driver action; the standalone
``theilsen_trend``, ``mann_kendall`` and ``hampel_outliers`` check
their ``max_buckets`` with one span ``collect`` each at construction.
tvd's only shuffle is the (group, category) conditional-count
contraction; the split point arrives as a 1-row broadcast anchor (no
driver action).

Int64 bounds (each RUNTIME-GUARDED over the exact per-group counts, so
a silent wrap can never escape as a plausible number): cusum needs
``n * buckets * 1000`` to fit (9e18 — holds to ~1e10 rows x 1e5
buckets) and its kernel raises before forming any product past it;
tvd needs ``2 * n1 * n2 * 1000`` to fit (holds to ~68M balanced rows
per half per group; shard past that), a zero-cost ``raise_error`` CASE
on the agg row; wasserstein additionally carries the value span
(``n1 * n2 * span * 1000``).  Each raise names the sharding remedy.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from kafka_dead_letter_analyzer_spark.operators.common import (
    null_safe_group_join,
)

__all__ = [
    "bucket_counts",
    "cusum_changepoint",
    "tvd_drift",
    "wasserstein_drift",
    "theilsen_trend",
    "leadlag_spearman",
    "hampel_outliers",
    "mann_kendall",
    "dead_letter_drift_report",
]

_BUCKET_US = {
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
    "minute": 60_000_000,
}

#: int64 ceiling used by the overflow guards; module-level so tests can
#: monkeypatch it down to trigger the raise cheaply.  Read on the driver
#: at construction time: a kernel gets it through its closure, because a
#: Python worker re-imports this module and would see the real ceiling.
_I64_MAX = 9223372036854775807


def _bucket_us(bucket: str, who: str) -> int:
    if bucket not in _BUCKET_US:
        raise ValueError(
            f"{who}: bucket must be one of {sorted(_BUCKET_US)},"
            f" got {bucket!r}"
        )
    return _BUCKET_US[bucket]


def _ppm(num: int, nt: int) -> int | None:
    """Python-int twin of :func:`_ppm2`: ``floor(num * 1e6 / nt)``;
    ``None`` (NULL, as SQL's integer division by 0) when ``nt`` is 0."""
    if nt == 0:
        return None
    d1, r = divmod(num * 1000, nt)
    return d1 * 1000 + r * 1000 // nt


def _ppm2(num: str, nt: str) -> str:
    """Two-step long-division ppm — delegates to the shared
    :func:`operators.common.ppm2` (hoisted round 8; one maintained copy
    of the overflow-sensitive idiom)."""
    from kafka_dead_letter_analyzer_spark.operators.common import ppm2

    return ppm2(num, nt)


def bucket_counts(
    df: DataFrame,
    ts_col: str = "ts",
    group_cols: Sequence[str] | None = None,
    bucket: str = "day",
) -> DataFrame:
    """The sparse per-bucket event-count contraction every timeline
    detector in this module starts from —
    ``(*group_cols, t BIGINT, x BIGINT)`` with
    ``t = unix_micros(ts) DIV bucket_us`` over non-NULL timestamps
    (``DIV`` truncates toward zero, so ``t * bucket_us`` is exactly
    the ``unix_micros - unix_micros % bucket_us`` bucket start the
    CUSUM detector keys by).

    Callers composing SEVERAL detectors over the same timeline
    (queries.py::x_drift_report joins four) can build this once,
    persist it, and pass it to each detector's ``counts_df`` — paying
    the full-data scan and (group, bucket) shuffle ONCE instead of
    per detector, and letting the span-probe ``collect`` that
    theilsen/hampel/mann-kendall each run at construction time read
    the cache instead of re-scanning the raw input."""
    bus = _bucket_us(bucket, "bucket_counts")
    return _bucket_counts(df, ts_col, list(group_cols or []), bus)


def _bucket_counts(
    df: DataFrame,
    ts_col: str,
    groups: list,
    bus: int,
    weight_expr: str | None = None,
) -> DataFrame:
    """:func:`bucket_counts`; with ``weight_expr``, ``x`` is the
    bucket's sum of the non-NULL, non-negative weights (rows with any
    other weight are dropped)."""
    base = df.filter(F.col(ts_col).isNotNull())
    if weight_expr is not None:
        base = base.filter(
            F.expr(f"({weight_expr}) IS NOT NULL AND ({weight_expr}) >= 0")
        )
    return (
        base.select(
            *[base[g] for g in groups],
            F.expr(f"unix_micros({ts_col}) DIV {bus}").alias("t"),
            *([F.expr(weight_expr).alias("__w")] if weight_expr else []),
        )
        .groupBy(*groups, "t")
        .agg(
            (F.sum(F.expr("CAST(__w AS BIGINT)")) if weight_expr
             else F.count(F.lit(1))).cast("bigint").alias("x")
        )
    )


def _counts_or(
    df: DataFrame,
    counts_df: DataFrame | None,
    ts_col: str,
    groups: list,
    bus: int,
    who: str,
) -> DataFrame:
    """Resolve a detector's contraction: the caller-supplied
    ``counts_df`` (contract: built by :func:`bucket_counts` with the
    SAME ts_col/group_cols/bucket — only the column shape is checkable
    here) or the detector's own from-scratch build."""
    if counts_df is None:
        return _bucket_counts(df, ts_col, groups, bus)
    expect = groups + ["t", "x"]
    if list(counts_df.columns) != expect:
        raise ValueError(
            f"{who}: counts_df must have columns {expect}"
            f" (bucket_counts output), got {list(counts_df.columns)}"
        )
    return counts_df


def _span_guard(
    counts: DataFrame,
    groups: list,
    max_buckets: int,
    who: str,
    bucket: str,
    remedy: str,
) -> None:
    """Raise when any group's densified span exceeds ``max_buckets``
    (one construction-time probe ``collect``)."""
    worst = (
        counts.groupBy(*groups)
        .agg((F.max("t") - F.min("t") + 1).alias("b"))
        .agg(F.max("b"))
        .collect()[0][0]
    )
    if worst is not None and worst > max_buckets:
        raise ValueError(
            f"{who}: a group spans {worst} {bucket} buckets"
            f" (> max_buckets={max_buckets}); {remedy}"
        )


def _densify(t: np.ndarray, x: np.ndarray) -> tuple[int, np.ndarray]:
    """``(lo, dense)``: a group's sparse rows over ``[min t, max t]``,
    zeros for the empty buckets (``dense[i]`` is bucket ``lo + i``)."""
    t = np.asarray(t, dtype=np.int64)
    lo = int(t.min())
    dense = np.zeros(int(t.max()) - lo + 1, dtype=np.int64)
    dense[t - lo] = np.asarray(x, dtype=np.int64)
    return lo, dense


def _cusum_kernel(t: np.ndarray, x: np.ndarray, i64_max: int) -> dict:
    """CUSUM of ONE group from its sparse contraction rows ``(t, x)``
    (distinct bucket indices, any order): ``n``, ``buckets``, the
    change-point bucket indices ``up_t``/``down_t`` and
    ``up_ppm``/``down_ppm`` — the algebra of :func:`cusum_changepoint`'s
    docstring over the nonempty buckets only, exact in int64.
    ``np.argmax`` over rows sorted by ``t`` takes the EARLIEST bucket on
    ties.  A zero-mass group (weights all 0) has ``n * buckets = 0``
    and NULL ppms.  Raises, naming the remedy, when ``n * buckets *
    1000`` would exceed ``i64_max`` — before any product is formed."""
    order = np.argsort(t)
    t = np.asarray(t, dtype=np.int64)[order]
    x = np.asarray(x, dtype=np.int64)[order]
    ti = t - t[0] + 1
    b = int(ti[-1])
    n = int(x.sum())
    if n > i64_max // 1000 // b:
        raise ValueError(
            "cusum_changepoint: a group exceeds the n * buckets * 1000"
            " < 2^63 exactness bound; shard the input (e.g. by time"
            " range) or coarsen the bucket"
        )
    p = np.cumsum(x)
    s = p * b - ti * n
    pre = (p - x) * b - (ti - 1) * n
    up = s - np.minimum.accumulate(pre)
    # S_0 = 0 is always in the prefix: maxima of S live at post-values
    # (S jumps up only where mass lands)
    peak = np.maximum.accumulate(np.concatenate(([0], s[:-1])))
    down = peak - pre
    # the final post-value S_B = 0 is a trough too (the last bucket
    # under-runs the mean)
    down[-1] = max(down[-1], peak[-1])
    iu, idn = int(np.argmax(up)), int(np.argmax(down))
    return {
        "n": n,
        "buckets": b,
        "up_t": int(t[iu]),
        "up_ppm": _ppm(int(up[iu]), n * b),
        "down_t": int(t[idn]),
        "down_ppm": _ppm(int(down[idn]), n * b),
    }


def _hampel_kernel(
    dense: np.ndarray, half_window: int, k_num: int, k_den: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(med, mad, flagged)`` for every bucket of a dense timeline:
    the lower median of the ``±half_window`` window, the lower median
    of the window's ``|v - med|``, and ``k_den * |x - med| > k_num *
    mad``.  The first and last ``half_window`` buckets see the shorter
    windows their available neighbors give.  Full interior windows are
    sorted as one strided view, in row chunks that bound the memory;
    only the at most ``2 * half_window`` edge buckets loop."""
    b, h = len(dense), half_window
    w = 2 * h + 1
    med = np.empty(b, dtype=np.int64)
    mad = np.empty(b, dtype=np.int64)
    if b >= w:
        windows = np.lib.stride_tricks.sliding_window_view(dense, w)
        step = max(1, (1 << 20) // w)
        for i in range(0, len(windows), step):
            win = np.sort(windows[i:i + step], axis=1)
            m = win[:, h]
            med[h + i:h + i + len(m)] = m
            mad[h + i:h + i + len(m)] = np.sort(
                np.abs(win - m[:, None]), axis=1
            )[:, h]
    for i in (*range(min(h, b)), *range(max(b - h, h), b)):
        win = np.sort(dense[max(0, i - h):i + h + 1])
        k = (len(win) + 1) // 2 - 1
        med[i] = win[k]
        mad[i] = np.sort(np.abs(win - win[k]))[k]
    return med, mad, k_den * np.abs(dense - med) > k_num * mad


def _trend_kernel(t: np.ndarray, x: np.ndarray) -> dict | None:
    """Theil-Sen and Mann-Kendall statistics of ONE group, from its
    sparse contraction rows ``(t, x)`` (distinct bucket indices, any
    order).  Pure numpy, exact in int64.

    The timeline densifies over ``[min t, max t]`` with zeros for empty
    buckets; pairs are enumerated lag by lag (``dx = d`` for every
    ``dy = x[i + d] - x[i]``).  Theil-Sen's slope is the lower-median
    pair under the order ``(q, dy, dx)`` with ``q`` the IEEE-double
    quotient ``float(dy) / float(dx)`` — the order a SQL
    ``row_number`` window over the pairs would use — found by
    ``np.partition`` on ``q`` and a ``(dy, dx)`` sort of the pairs tied
    with the selected quotient only.  Mann-Kendall's ``s_stat`` is the
    sum of ``sign(dy)`` over the same pairs and ``var18 = B(B-1)(2B+5)
    - sum m(m-1)(2m+5)`` over the multiplicities ``m`` of repeated
    dense counts.  A group with fewer than two buckets has no pairs:
    returns ``None``."""
    _, dense = _densify(t, x)
    b = len(dense)
    if b < 2:
        return None
    lags = np.arange(1, b, dtype=np.int64)
    dx = np.repeat(lags, b - lags)
    dy = np.concatenate([dense[d:] - dense[:-d] for d in range(1, b)])
    q = dy / dx  # float64(dy) / float64(dx), elementwise
    k = (len(q) + 1) // 2 - 1
    qk = np.partition(q, k)[k]
    tied = np.flatnonzero(q == qk)
    pick = tied[np.lexsort((dx[tied], dy[tied]))[k - np.count_nonzero(q < qk)]]
    _, mult = np.unique(dense, return_counts=True)
    return {
        "slope_num": int(dy[pick]),
        "slope_den": int(dx[pick]),
        "n": int(dense.sum()),
        "n_buckets": b,
        "n_pairs": len(q),
        "s_stat": np.count_nonzero(dy > 0) - np.count_nonzero(dy < 0),
        "var18": b * (b - 1) * (2 * b + 5)
        - int((mult * (mult - 1) * (2 * mult + 5)).sum()),
    }


def _kernel_pass(
    counts: DataFrame, groups: list, fields: Sequence[StructField], fn
) -> DataFrame:
    """One ``applyInPandas`` pass over the bucket contraction:
    ``fn(t, x)`` gets a group's sparse rows and returns its output rows
    as a dict of equal-length columns named by ``fields`` (a column of
    ``None`` values is NULL).  Returns ``(*groups, *fields)``; the
    global form groups by a constant key."""
    key = groups or ["__kernel_key"]
    src = counts if groups else counts.withColumn(key[0], F.lit(0))
    schema = StructType([src.schema[g] for g in key] + list(fields))
    types = {
        f.name: "boolean" if isinstance(f.dataType, BooleanType) else "Int64"
        for f in fields
    }

    def _apply(pdf):
        cols = fn(pdf["t"].to_numpy(), pdf["x"].to_numpy())
        rows = len(cols[fields[0].name])
        out = pdf[key].iloc[[0] * rows].reset_index(drop=True)
        for c, dtype in types.items():
            out[c] = pd.array(cols[c], dtype=dtype)
        return out

    out = src.select(*key, "t", "x").groupBy(*key).applyInPandas(
        _apply, schema=schema
    )
    return out if groups else out.drop(key[0])


def _longs(*names: str, nullable: bool = True) -> list:
    return [StructField(c, LongType(), nullable) for c in names]


def _one_row(stats: dict | None, names: Sequence[str]) -> dict:
    """A kernel's scalar statistics as one output row (no row for
    ``None``)."""
    return {c: [stats[c]] if stats else [] for c in names}


def _cusum_out(
    out: DataFrame, groups: list, bus: int, *rest: str
) -> DataFrame:
    """The kernel's change-point bucket indices as bucket-start
    timestamps, in :func:`cusum_changepoint`'s column order, then
    ``rest``."""
    return out.select(
        *groups, "n", "buckets",
        F.timestamp_micros(F.col("up_t") * bus).alias("up_cp_ts"),
        "up_ppm",
        F.timestamp_micros(F.col("down_t") * bus).alias("down_cp_ts"),
        "down_ppm",
        *rest,
    )


def _trend_pass(counts: DataFrame, groups: list, names: Sequence[str]):
    """``(*groups, *names)`` from :func:`_trend_kernel`, one kernel pass;
    groups with fewer than two buckets emit no row."""
    return _kernel_pass(
        counts, groups, _longs(*names),
        lambda t, x: _one_row(_trend_kernel(t, x), names),
    )


_CUSUM_FIELDS = ("n", "buckets", "up_t", "up_ppm", "down_t", "down_ppm")
_REPORT_TREND = ("slope_num", "slope_den", "s_stat", "var18")


def cusum_changepoint(
    df: DataFrame,
    ts_col: str = "ts",
    group_cols: Sequence[str] | None = None,
    bucket: str = "hour",
    weight_expr: str | None = None,
    counts_df: DataFrame | None = None,
) -> DataFrame:
    """Exact CUSUM (Page 1954) change-point scan of event RATE per
    group —
    ``(*group_cols, n BIGINT, buckets BIGINT, up_cp_ts TIMESTAMP,
    up_ppm BIGINT, down_cp_ts TIMESTAMP, down_ppm BIGINT)``: where
    did the rate most decisively rise above / fall below its own
    overall mean, and by how much (as a fraction of total mass x
    span, in ppm)?

    Derivation.  Bucket index ``t = (bucket_us - min_bucket_us) /
    bucket + 1`` over the group's own span; ``B`` = index of the last
    bucket (the max-ts bucket is nonempty by construction, so there
    are no trailing empties and ``S_B = 0`` exactly).  With ``P_t``
    the running event count, the mean-rate CUSUM scaled by ``B`` is
    ``S_t = P_t*B - t*total`` — integer, zero at both ends.  The
    upward detection statistic is ``D_t = S_t - min_{j<t} S_j``; over
    an empty stretch S falls linearly, so the running min entering
    nonempty bucket ``i`` is attained just before it, at
    ``pre_i = P_{i-1}*B - (t_i - 1)*total`` — the min runs over the
    ``pre`` values of the contraction only (``pre_1 = 0`` covers
    ``S_0``).  Peaks live at nonempty buckets' post-values ``S_i``.
    Downward is the mirror — troughs at ``pre_i`` (plus the final
    post-value, only relevant when the last bucket under-runs the
    mean), peaks at ``max(0, max_{j<i} S_j)`` (S only jumps up where
    mass lands, so its maxima live at post-values — and at ``S_0 = 0``,
    which the greatest(0, ...) keeps in the prefix even when every
    post-value is negative).  Change-point = bucket start
    attaining the max deviation, EARLIEST bucket on ties — every
    output is a pure integer function of the data.

    Use: a dead-letter burst is an upward cp on the error topic; an
    outage (producer stopped emitting) is a downward cp.  With
    ``weight_expr`` (a SQL expression yielding a NON-NEGATIVE integer
    per row) the detector watches WEIGHTED mass instead of row count —
    e.g. quantity- or cents-weighted shift, which moves when big
    orders migrate even while the order COUNT holds steady; the
    algebra is unchanged (x = per-bucket weight sum; rows with NULL
    weight are excluded; trailing zero-weight buckets cannot occur
    because weights are non-negative and S_B = 0 still holds only up
    to the last POSITIVE-mass bucket, so buckets are keyed by rows as
    before and an all-zero-weight tail keeps B at the last row-bearing
    bucket — documented: a zero-weight bucket is an observed zero, not
    a missing bucket).  ppm scale:
    ``D <= n*B``, so ``up_ppm = D*1e6 div (n*B)`` via two-step
    division; 0 = perfectly steady rate, ->1e6 = all mass on one side
    of the cp.  Groups with a single bucket report 0/0 deviations
    (S == 0 everywhere; cp = that bucket).  A weighted group whose
    weights are all 0 has ``n*B = 0``: its ppms are NULL, as SQL's
    integer division by 0, and the other groups keep their rows.

    Scale shape: the only full-data shuffle is the (group, bucket)
    count — ``counts_df`` when given, else built here (the weighted
    form sums the weights instead of counting rows).  Each group's
    contraction rows then go to ONE ``applyInPandas`` call of the exact
    numpy kernel ``_cusum_kernel``: cumulative sums and running
    extremes over the nonempty buckets, no window and no join.  The
    int64 guard (``n * buckets * 1000 < 2^63``) runs in the kernel over
    the exact totals before any product is formed."""
    bus = _bucket_us(bucket, "cusum_changepoint")
    groups = list(group_cols or [])
    if counts_df is not None and weight_expr is not None:
        raise ValueError(
            "cusum_changepoint: counts_df carries plain row counts"
            " and cannot be combined with weight_expr"
        )
    # bucket_counts keys by t = unix_micros DIV bus, truncating toward
    # zero: t * bus is the unix_micros - unix_micros % bus bucket start
    counts = (
        _bucket_counts(df, ts_col, groups, bus, weight_expr)
        if weight_expr is not None
        else _counts_or(
            df, counts_df, ts_col, groups, bus, "cusum_changepoint"
        )
    )
    i64_max = _I64_MAX
    out = _kernel_pass(
        counts, groups, _longs(*_CUSUM_FIELDS),
        lambda t, x: _one_row(_cusum_kernel(t, x, i64_max), _CUSUM_FIELDS),
    )
    return _cusum_out(out, groups, bus)


def tvd_drift(
    df: DataFrame,
    ts_col: str = "ts",
    cat_col: str = "event_type",
    group_cols: Sequence[str] | None = None,
    anchor: str = "global",
) -> DataFrame:
    """Total-variation distance between the categorical mix of the
    EARLY and LATE halves of the stream — ``(*group_cols, tvd_ppm
    BIGINT, n_early BIGINT, n_late BIGINT, n_cats BIGINT)`` — the
    integer-exact population-stability audit (PSI without the
    cross-engine-unsafe ``log``; TVD bounds PSI-style drift and is
    the metric with the coupling interpretation: the minimum fraction
    of rows whose category must change to turn one mix into the
    other).

    The split point is the midpoint of the observed time range,
    ``m = (min_us + max_us) DIV 2``; early = ``ts <= m``.  With
    ``anchor="global"`` (default) the midpoint is computed over the
    WHOLE frame (1-row broadcast anchor, same idiom as
    decay_weighted_counts' max anchor) — NOTE the grouped consequence:
    a group whose activity sits entirely on one side of the GLOBAL
    midpoint (e.g. an error type that only appeared recently) has an
    empty half and DROPS; that is the right semantics when the groups
    share one clock (cohorts of the same stream) and the question is
    "how did each group's mix move across the stream's own midpoint",
    but it silently excludes late-arriving groups.
    ``anchor="per_group"`` computes the midpoint per group (a grouped
    min/max aggregate joined back NULL-SAFELY — a NULL group key is a
    real group under groupBy and keeps its row; broadcast-sized for
    bounded group domains, AQE-planned otherwise), so every group with
    two distinct timestamps reports drift over ITS OWN span — use it when the
    groups are independent populations (per-topic feeds) and a
    late-born group is exactly the drifted population being hunted.
    One conditional-sum scan builds per-category half-counts (a
    category absent from a half simply contributes its whole mass),
    then ``TVD = sum |c1*n2 - c2*n1| / (2*n1*n2)`` cleared of
    denominators, emitted as ppm via two-step long division
    (``num <= nt = 2*n1*n2``; a raise_error CASE on the exact half
    counts raises past ``2*n1*n2*1000 >= 2^63`` with a sharding
    hint).  Groups where either half is empty (under "global": all
    the group's mass on one side; under "per_group": all mass on one
    timestamp) drop — drift is undefined there.  NULL categories
    count as a real category; NULL timestamps are excluded."""
    if anchor not in ("global", "per_group"):
        raise ValueError(
            f"tvd_drift: anchor must be 'global' or 'per_group',"
            f" got {anchor!r}"
        )
    groups = list(group_cols or [])
    ev = df.filter(F.col(ts_col).isNotNull())
    mid_expr = F.expr(
        f"(min(unix_micros({ts_col})) + max(unix_micros({ts_col})))"
        " DIV 2"
    ).alias("mid_us")
    if anchor == "per_group" and groups:
        mids = ev.groupBy(*groups).agg(mid_expr)
        # null-safe: groupBy kept NULL as a real group; a plain
        # USING-join would silently drop exactly that group's rows
        halved = null_safe_group_join(ev, mids, groups).withColumn(
            "is_early", F.unix_micros(F.col(ts_col)) <= F.col("mid_us")
        )
    else:
        halved = ev.crossJoin(F.broadcast(ev.agg(mid_expr))).withColumn(
            "is_early", F.unix_micros(F.col(ts_col)) <= F.col("mid_us")
        )
    per_cat = halved.groupBy(*groups, cat_col).agg(
        F.sum(F.when(F.col("is_early"), 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("is_early"), 0).otherwise(1))
        .cast("bigint")
        .alias("c2"),
    )
    wg = (
        Window.partitionBy(*groups)
        if groups
        else Window.partitionBy()
    ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    scored = per_cat.withColumn("n1", F.sum("c1").over(wg)).withColumn(
        "n2", F.sum("c2").over(wg)
    )
    agg = (
        scored.filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .groupBy(*groups)
        .agg(
            F.sum(F.expr("abs(c1 * n2 - c2 * n1)"))
            .cast("bigint")
            .alias("num"),
            F.max("n1").alias("n_early"),
            F.max("n2").alias("n_late"),
            F.count(F.lit(1)).cast("bigint").alias("n_cats"),
        )
    )
    # division-form guard over the exact half counts: fires before a
    # wrapped |c1*n2 - c2*n1| sum can escape as a plausible ppm
    return agg.filter(F.col("num").isNotNull()).select(
        *groups,
        F.expr(
            f"CASE WHEN n_early > {_I64_MAX} DIV 2000 DIV n_late THEN"
            " CAST(raise_error('tvd_drift: a group exceeds the"
            " 2 * n_early * n_late * 1000 < 2^63 exactness bound;"
            " shard the input (e.g. by a hash of the category) and"
            " report the per-shard TVD distribution') AS BIGINT)"
            f" ELSE {_ppm2('num', '(2 * n_early * n_late)')} END"
        )
        .cast("bigint")
        .alias("tvd_ppm"),
        "n_early",
        "n_late",
        "n_cats",
    )


def wasserstein_drift(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "v",
    group_cols: Sequence[str] | None = None,
    anchor: str = "global",
) -> DataFrame:
    """Exact Wasserstein-1 (earth-mover) distance between the NUMERIC
    value distribution of the early and late halves of the stream —
    ``(*group_cols, w1_e6 BIGINT, ks_ppm BIGINT, n_early BIGINT,
    n_late BIGINT, n_values BIGINT)`` — the numeric complement of
    :func:`tvd_drift` (TVD sees only category identity; W1 weighs HOW
    FAR the mass moved, in value units x 1e6).  ``ks_ppm`` is the
    two-sample Kolmogorov-Smirnov statistic max|F1 - F2| in ppm —
    computed from the SAME CDF-difference contraction (max instead of
    gap-weighted sum), so the classic distribution-equality test rides
    along at zero extra cost: W1 weighs distance, KS catches a sharp
    divergence confined to a narrow value band that W1 dilutes.

    ``value_col`` must be integer-typed (callers cast integer-valued
    measures; floats have no exact cross-engine W1).  Over the sorted
    distinct-value support, ``W1 = sum_v |F1(v) - F2(v)| * gap(v)``
    with ``gap`` the distance to the next support point (beyond the
    last point both CDFs are 1, so it contributes nothing).  Cleared
    of denominators: ``W1 = sum |cum1*n2 - cum2*n1| * gap / (n1*n2)``,
    emitted x1e6 via two-step long division (exact for ANY num, not
    just num <= nt: floor(num*1e6/nt) = d1*1000 + d2 identically).

    Scale shape: one (group, value) conditional-count contraction is
    the only full-data shuffle; cumulative sums and gaps are windows
    over the contraction (per group — parallel across groups; the
    global form sorts the bounded distinct-value domain).  The split
    anchor follows ``anchor`` exactly as in :func:`tvd_drift`:
    ``"global"`` (default) is the 1-row broadcast whole-frame
    midpoint — a group entirely on one side of it has an empty half
    and DROPS (right for cohorts of one stream, silently excludes
    late-born groups); ``"per_group"`` splits each group over its own
    span (grouped min/max joined back).  Int64 bound:
    ``n1*n2*span*1000`` must fit — holds to ~3e6 rows per half per
    group at span 1e3; a raise_error CASE over the exact half counts
    and the group's own value span raises past it (shard or
    pre-bucket values).  Groups with an empty half drop (drift
    undefined)."""
    if anchor not in ("global", "per_group"):
        raise ValueError(
            f"wasserstein_drift: anchor must be 'global' or"
            f" 'per_group', got {anchor!r}"
        )
    groups = list(group_cols or [])
    ev = df.filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    )
    mid_expr = F.expr(
        f"(min(unix_micros({ts_col})) + max(unix_micros({ts_col})))"
        " DIV 2"
    ).alias("mid_us")
    if anchor == "per_group" and groups:
        mids = ev.groupBy(*groups).agg(mid_expr)
        # null-safe: groupBy kept NULL as a real group; a plain
        # USING-join would silently drop exactly that group's rows
        halved = null_safe_group_join(ev, mids, groups).withColumn(
            "is_early", F.unix_micros(F.col(ts_col)) <= F.col("mid_us")
        )
    else:
        halved = ev.crossJoin(F.broadcast(ev.agg(mid_expr))).withColumn(
            "is_early", F.unix_micros(F.col(ts_col)) <= F.col("mid_us")
        )
    per_val = halved.groupBy(
        *groups, F.col(value_col).cast("bigint").alias("v")
    ).agg(
        F.sum(F.when(F.col("is_early"), 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("is_early"), 0).otherwise(1))
        .cast("bigint")
        .alias("c2"),
    )
    wg = Window.partitionBy(*groups) if groups else Window.partitionBy()
    w_ord = wg.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = wg.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_lead = wg.orderBy("v")
    scored = (
        per_val.withColumn("cum1", F.sum("c1").over(w_ord))
        .withColumn("cum2", F.sum("c2").over(w_ord))
        .withColumn("n1", F.sum("c1").over(w_all))
        .withColumn("n2", F.sum("c2").over(w_all))
        .withColumn(
            "gap",
            F.coalesce(
                F.lead("v").over(w_lead) - F.col("v"),
                F.lit(0).cast("bigint"),
            ),
        )
    )
    agg = (
        scored.filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .groupBy(*groups)
        .agg(
            F.sum(F.expr("abs(cum1 * n2 - cum2 * n1) * gap"))
            .cast("bigint")
            .alias("num"),
            # the same CDF-difference contraction carries the
            # Kolmogorov-Smirnov statistic for free: max instead of
            # gap-weighted integral (here the last support point DOES
            # participate — its |F1 - F2| can be the max even though
            # its gap-weighted W1 contribution is zero)
            F.max(F.expr("abs(cum1 * n2 - cum2 * n1)"))
            .cast("bigint")
            .alias("ks_num"),
            F.max("n1").alias("n_early"),
            F.max("n2").alias("n_late"),
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
            # the group's own value span feeds the overflow guard:
            # num <= n1 * n2 * span, so the guard must see span
            F.expr("greatest(max(v) - min(v), 1)")
            .cast("bigint")
            .alias("_span"),
        )
    )
    # division-form guard (conservative by floor rounding) over exact
    # counts and span — fires before a wrapped gap-weighted sum escapes
    guard = (
        f"n_early > {_I64_MAX} DIV 1000 DIV n_late DIV _span"
    )
    raise_bigint = (
        "CAST(raise_error('wasserstein_drift: a group exceeds the"
        " n_early * n_late * span * 1000 < 2^63 exactness bound;"
        " pre-bucket the values to a coarser integer scale or shard"
        " the input') AS BIGINT)"
    )
    return agg.filter(F.col("num").isNotNull()).select(
        *groups,
        F.expr(
            f"CASE WHEN {guard} THEN {raise_bigint}"
            f" ELSE {_ppm2('num', '(n_early * n_late)')} END"
        )
        .cast("bigint")
        .alias("w1_e6"),
        F.expr(
            f"CASE WHEN {guard} THEN {raise_bigint}"
            f" ELSE {_ppm2('ks_num', '(n_early * n_late)')} END"
        )
        .cast("bigint")
        .alias("ks_ppm"),
        "n_early",
        "n_late",
        "n_values",
    )


def theilsen_trend(
    df: DataFrame,
    ts_col: str = "ts",
    group_cols: Sequence[str] | None = None,
    bucket: str = "day",
    max_buckets: int = 4000,
    counts_df: DataFrame | None = None,
) -> DataFrame:
    """Theil-Sen (Theil 1950; Sen 1968) robust trend of the event
    rate per group —
    ``(*group_cols, slope_num BIGINT, slope_den BIGINT, n BIGINT,
    n_buckets BIGINT, n_pairs BIGINT)`` where ``slope_num/slope_den``
    is the MEDIAN pairwise slope (events per bucket per bucket) over
    the group's per-bucket counts, EMPTY BUCKETS INCLUDED as zeros
    (dropping them would bias an outage toward "no trend").  The
    median of n^2 pairwise slopes has a 29.3% breakdown point — a
    one-day ingest spike that would drag an OLS fit moves Theil-Sen
    not at all; the reference leaves trend reading to the dashboard
    over its per-key counts, this runs it inside the engine.

    Exactness: slopes are rationals dy/dx of BIGINTs and are emitted
    AS the selected pair's (dy, dx) — never divided.  Selection
    orders by the IEEE-double quotient (exact-rounded identically on
    every engine) with (dy, dx) tiebreak and takes the lower median —
    the element a SQL ``row_number`` over that order picks; equal
    rationals with different representations order deterministically
    by the tiebreak, and the selected NUMERATOR/DENOMINATOR cross the
    hash gate as integers.

    Scale shape: the full-data shuffle is the (group, bucket) count;
    each group's contraction rows then go to ONE ``applyInPandas`` call
    of the exact numpy kernel shared with :func:`mann_kendall`
    (``_trend_kernel``), which densifies the timeline and forms the
    O(B^2) pairs in worker memory — parallel across groups, NEVER
    touching row-level data, and no pair row is shuffled or sorted by
    Spark.  ``max_buckets`` still bounds the quadratic work per group:
    the span probe is one tiny aggregate and the operator RAISES past
    the cap (a 4000-bucket span is ~8M pairs per group — pre-aggregate
    to a coarser bucket instead).  Groups with a single bucket have no
    pairs and emit no row."""
    bus = _bucket_us(bucket, "theilsen_trend")
    groups = list(group_cols or [])

    counts = _counts_or(df, counts_df, ts_col, groups, bus, "theilsen_trend")
    _span_guard(
        counts, groups, max_buckets, "theilsen_trend", bucket,
        "pre-aggregate to a coarser bucket or raise the cap",
    )
    return _trend_pass(
        counts, groups, ("slope_num", "slope_den", "n", "n_buckets", "n_pairs")
    )


def leadlag_spearman(
    df: DataFrame,
    ts_col: str,
    cat_col: str,
    cat_a: str,
    cat_b: str,
    max_lag: int = 7,
    bucket: str = "day",
    max_buckets: int = 4000,
) -> DataFrame:
    """Lead-lag rank cross-correlation between two category RATE
    series — ``(lag BIGINT, num BIGINT, den_x BIGINT, den_y BIGINT,
    n BIGINT, rho_e6 BIGINT)``: for each lag 0..max_lag, the exact
    tie-aware Spearman correlation between ``cat_a``'s per-bucket
    count at time t and ``cat_b``'s at time t+lag.  The argmax lag
    answers "does B FOLLOW A, and by how much?" — e.g. do error
    bursts trail deploy events by two days — with rank correlation's
    monotone-transform robustness (a 10x traffic day inflates both
    series; their ranks still align).

    Both series densify over the UNION span (zeros where silent —
    dropping silent buckets would fake correlation between sparse
    series), then each lag's pairing is an equi-join of the two
    contraction-sized series offset by the lag (the lag table is a
    broadcast literal), and all lags' statistics come from ONE
    :func:`~kafka_dead_letter_analyzer_spark.operators.ranking.
    spearman_exact` call with ``lag`` as the group column — per-lag
    rank windows over at most span/bucket rows, parallel across lags.
    ``max_buckets`` guards the densified span (RAISES, same contract
    as theilsen_trend).  Lags with a constant series (e.g. the
    overlap shrank to nothing) drop, per spearman's contract."""
    bus = _bucket_us(bucket, "leadlag_spearman")
    if max_lag < 0:
        raise ValueError("leadlag_spearman: max_lag must be >= 0")
    from kafka_dead_letter_analyzer_spark.operators.ranking import (
        spearman_exact,
    )

    ev = df.filter(
        F.col(ts_col).isNotNull()
        & F.col(cat_col).isin([cat_a, cat_b])
    ).select(
        F.col(cat_col).alias("cat"),
        F.expr(f"unix_micros({ts_col}) DIV {bus}").alias("t"),
    )
    counts = ev.groupBy("cat", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    span = counts.agg(
        F.min("t").alias("t_lo"), F.max("t").alias("t_hi")
    )
    worst = span.collect()[0]
    if worst["t_lo"] is None:
        raise ValueError(
            "leadlag_spearman: no rows for either category"
        )
    if worst["t_hi"] - worst["t_lo"] + 1 > max_buckets:
        raise ValueError(
            f"leadlag_spearman: span is"
            f" {worst['t_hi'] - worst['t_lo'] + 1} {bucket} buckets"
            f" (> max_buckets={max_buckets}); coarsen the bucket"
        )
    timeline = span.select(
        F.explode(F.sequence("t_lo", "t_hi")).alias("t")
    )

    def _dense(cat: str, out: str):
        side = counts.filter(F.col("cat") == cat).select(
            F.col("t").alias(f"{out}_t"), F.col("x").alias(out)
        )
        return timeline.join(
            side, timeline["t"] == side[f"{out}_t"], "left"
        ).select(
            timeline["t"],
            F.coalesce(out, F.lit(0).cast("bigint")).alias(out),
        )

    a = _dense(cat_a, "xa")
    b = _dense(cat_b, "xb")
    spark = df.sparkSession
    from kafka_dead_letter_analyzer_spark.operators.io import (
        local_relation_df,
    )

    lags = local_relation_df(
        spark, [(int(l),) for l in range(max_lag + 1)], "lag bigint"
    )
    # a and b both derive from the same timeline frame: qualify every
    # side explicitly or Spark's same-lineage resolution can collapse
    # the offset condition onto one side (the round-5 self-join trap)
    paired = (
        a.alias("LL_A")
        .crossJoin(F.broadcast(lags).alias("LL_L"))
        .join(
            b.select(F.col("t").alias("tb"), "xb").alias("LL_B"),
            F.col("LL_B.tb") == F.col("LL_A.t") + F.col("LL_L.lag"),
            "inner",
        )
        .select(
            F.col("LL_L.lag").alias("lag"),
            F.col("LL_A.xa").alias("x"),
            F.col("LL_B.xb").alias("y"),
        )
    )
    # two_phase=False skips spearman's auto probe job: the paired
    # series is bucket-bounded by max_buckets above, so the per-lag
    # window over at most span/bucket rows is the right plan a priori
    return spearman_exact(
        paired, "x", "y", group_cols=["lag"], two_phase=False
    )


def hampel_outliers(
    df: DataFrame,
    ts_col: str = "ts",
    group_cols: Sequence[str] | None = None,
    bucket: str = "day",
    half_window: int = 3,
    k_num: int = 3,
    k_den: int = 1,
    max_buckets: int = 100_000,
    counts_df: DataFrame | None = None,
) -> DataFrame:
    """Hampel filter (Hampel 1974's robust location/scale pair as the
    classic moving-window detector) over per-bucket event counts —
    ``(*group_cols, bucket_ts TIMESTAMP, cnt BIGINT, med BIGINT,
    mad BIGINT, flagged BOOLEAN)``: a bucket is flagged when its count
    deviates from the ROLLING median of its ±half_window neighbors by
    more than ``k * MAD`` (median absolute deviation) — the classic
    robust point-outlier detector.  CUSUM finds sustained LEVEL
    shifts; Hampel finds the single poisoned day that CUSUM absorbs
    and a mean±3sigma rule misses entirely (one 100x spike inflates
    the window's sigma enough to mask itself — the median and MAD are
    immune, breakdown 50%).

    Exactness: medians are actual elements of the sorted window (lower
    median), MAD likewise over |x - med|, and the flag compares
    ``k_den * |cnt - med| > k_num * mad`` in integers (k as an exact
    rational; the default 3/1).  MAD = 0 (constant window) flags any
    deviating count, the strict-inequality convention.  The timeline
    densifies with zeros (a silent day IS data to the median); edges
    use the available neighbors (shorter windows).

    Scale shape: one (group, bucket) count shuffle, then ONE
    ``applyInPandas`` call per group of the exact numpy kernel
    ``_hampel_kernel``, which densifies the group's span in worker
    memory and sorts its ``2*half_window+1``-long windows as one
    strided view — no timeline join and no window.  ``max_buckets``
    probes the span and RAISES past the cap.
    """
    bus = _bucket_us(bucket, "hampel_outliers")
    if half_window < 1:
        raise ValueError("hampel_outliers: half_window must be >= 1")
    if k_num < 0 or k_den < 1:
        raise ValueError("hampel_outliers: need k_num >= 0, k_den >= 1")
    groups = list(group_cols or [])

    counts = _counts_or(df, counts_df, ts_col, groups, bus, "hampel_outliers")
    # densify guard: hampel's window work is LINEAR in the span (unlike
    # the quadratic pair operators, so the default cap is generous),
    # but an adversarial span — one stray 1970 timestamp at ms buckets —
    # must raise, not densify a gigarow timeline in one worker
    _span_guard(
        counts, groups, max_buckets, "hampel_outliers", bucket,
        "coarsen the bucket or filter the stray timestamps",
    )
    hw, kn, kd = int(half_window), int(k_num), int(k_den)

    def buckets(t, x):
        lo, dense = _densify(t, x)
        med, mad, flagged = _hampel_kernel(dense, hw, kn, kd)
        return {
            "t": lo + np.arange(len(dense)), "cnt": dense, "med": med,
            "mad": mad, "flagged": flagged,
        }

    out = _kernel_pass(
        counts, groups,
        [*_longs("t", "cnt", "med", "mad", nullable=False),
         StructField("flagged", BooleanType(), False)],
        buckets,
    )
    return out.select(
        *groups,
        F.timestamp_micros(F.col("t") * bus).alias("bucket_ts"),
        "cnt", "med", "mad", "flagged",
    )


def mann_kendall(
    df: DataFrame,
    ts_col: str = "ts",
    group_cols: Sequence[str] | None = None,
    bucket: str = "day",
    max_buckets: int = 4000,
    counts_df: DataFrame | None = None,
) -> DataFrame:
    """Mann-Kendall trend TEST statistics per group —
    ``(*group_cols, s_stat BIGINT, var18 BIGINT, n_buckets BIGINT,
    n BIGINT)``: ``S = sum_{i<j} sign(x_j - x_i)`` over the group's
    DENSIFIED per-bucket counts (Mann 1945; the hypothesis-test
    companion of :func:`theilsen_trend` — Theil-Sen says how STEEP,
    Mann-Kendall says whether a monotone trend exists at all, with a
    null distribution that is exact under exchangeability).
    ``var18 = 18 * Var(S) = n(n-1)(2n+5) - sum_t t(t-1)(2t+5)`` with
    the standard tie correction (t = multiplicity of each repeated
    count value) — kept x18 so the surface stays integer; callers form
    z = (S -+ 1) / sqrt(var18/18) driver-side.  Zeros densify in (a
    silent stretch is evidence of decline, not missing data).

    Scale shape: identical to theilsen_trend, and the same kernel
    (``_trend_kernel``) — one (group, bucket) count shuffle, then one
    ``applyInPandas`` call per group that densifies the timeline and
    sums the O(B^2) pair signs and the tie term in worker memory; no
    pair row reaches Spark.  ``max_buckets`` probes the span and RAISES
    (pre-aggregate to a coarser bucket).  Groups with a single bucket
    emit no row."""
    bus = _bucket_us(bucket, "mann_kendall")
    groups = list(group_cols or [])

    counts = _counts_or(df, counts_df, ts_col, groups, bus, "mann_kendall")
    _span_guard(
        counts, groups, max_buckets, "mann_kendall", bucket,
        "pre-aggregate to a coarser bucket or raise the cap",
    )
    return _trend_pass(counts, groups, ("s_stat", "var18", "n_buckets", "n"))


#: The drift report's densified-span cap, its pair statistics' bound (a
#: 4000-bucket span is ~8M pairs per group): :func:`_report_counts`
#: picks a bucket that fits it, and the report's kernel raises past it.
_REPORT_MAX_BUCKETS = 4000


def dead_letter_drift_report(
    df: DataFrame,
    ts_col: str,
    group_cols: Sequence[str],
    bucket: str = "hour",
    counts_df: DataFrame | None = None,
) -> DataFrame:
    """The product-level drift dashboard over a dead-letter feed — one
    row per group with a non-NULL timestamp (every group CUSUM
    reports), holding the four detectors this module ships: CUSUM's
    strongest up/down level shift (+ its ppm decisiveness), the
    Theil-Sen robust trend rational, the Mann-Kendall test statistics,
    and the count of Hampel-flagged poisoned buckets.
    ``(*group_cols, n, buckets, up_cp_ts, up_ppm, down_cp_ts,
    down_ppm, slope_num, slope_den, s_stat, var18, flagged_buckets)``.
    A group whose feed falls in ONE bucket (a new error type's first
    burst) has no bucket pairs: its trend and Mann-Kendall columns are
    NULL, and it still gets its row.

    This is what `--drift-report` in the CLI writes next to the
    reference-shaped outputs: the reference emits per-key COUNTS and
    leaves "did it change" to the dashboard; this runs the change
    question inside the engine, on the same normalized feed.

    Shared work: every detector reads ONE ``(group, bucket)``
    contraction — ``counts_df`` when given (built by
    :func:`bucket_counts` with the same ``ts_col``/``group_cols``/
    ``bucket``; the caller owns its persistence), else built here and
    read once.  ONE ``applyInPandas`` pass runs every detector's kernel
    on each group's rows (``_cusum_kernel``, ``_hampel_kernel`` with
    the default ±3-bucket window and k = 3, ``_trend_kernel``) and
    emits the group's whole report row: no window, no join, no
    densified timeline in Spark, and no driver action before the
    output's own.  The pass raises, before densifying anything, for a
    group spanning more than the pair statistics' ``max_buckets=4000``
    cap (:func:`theilsen_trend`'s).  A NULL group key is a real group
    and keeps its row."""
    groups = list(group_cols)
    bus = _bucket_us(bucket, "dead_letter_drift_report")
    counts = _counts_or(
        df, counts_df, ts_col, groups, bus, "dead_letter_drift_report"
    )
    i64_max, cap = _I64_MAX, _REPORT_MAX_BUCKETS

    def report_row(t, x):
        span = int(t.max()) - int(t.min()) + 1
        if span > cap:
            raise ValueError(
                f"dead_letter_drift_report: a group spans {span} {bucket}"
                f" buckets (> max_buckets={cap}); pre-aggregate to a"
                " coarser bucket"
            )
        cusum = _cusum_kernel(t, x, i64_max)
        trend = _trend_kernel(t, x) or dict.fromkeys(_REPORT_TREND)
        _, _, flagged = _hampel_kernel(_densify(t, x)[1], 3, 3, 1)
        return {
            **_one_row(cusum, _CUSUM_FIELDS),
            **_one_row(trend, _REPORT_TREND),
            "flagged_buckets": [int(flagged.sum())],
        }

    out = _kernel_pass(
        counts, groups,
        _longs(*_CUSUM_FIELDS, *_REPORT_TREND, "flagged_buckets"),
        report_row,
    )
    return _cusum_out(out, groups, bus, *_REPORT_TREND, "flagged_buckets")


def _report_counts(hours: DataFrame, groups: list) -> tuple[str, DataFrame]:
    """The drift report's ``(bucket, contraction)`` from the feed's hour
    contraction ``hours`` (:func:`bucket_counts` with ``bucket="hour"``
    and ``group_cols=groups``): ``hours`` itself when its global span
    covers at most ``_REPORT_MAX_BUCKETS`` hour buckets, else its rows
    re-keyed to days.  One ``collect`` reads the span; over a persisted
    ``hours`` it is also the action that fills the cache.  Raises when
    even the days overflow — filter stray timestamps instead."""
    lo, hi = hours.agg(F.min("t"), F.max("t")).collect()[0]
    if lo is None or hi - lo + 1 <= _REPORT_MAX_BUCKETS:
        return "hour", hours

    def day(h: int) -> int:  # SQL DIV: truncates toward zero
        return h // 24 if h >= 0 else -(-h // 24)

    if day(hi) - day(lo) + 1 > _REPORT_MAX_BUCKETS:
        raise ValueError(
            "dead_letter_drift_report: feed spans more than"
            f" {_REPORT_MAX_BUCKETS} days; filter stray timestamps"
        )
    # truncation toward zero composes: (us DIV hour) DIV 24 == us DIV day,
    # so this is bucket_counts(..., "day") without a second pass
    days = hours.groupBy(*groups, F.expr("t DIV 24").alias("t"))
    return "day", days.agg(F.sum("x").alias("x"))
