"""Unit tests for operators/drift.py: CUSUM change-point and TVD drift.

The differential reference for cusum is a pure-Python O(B) walk over the
FULL bucket timeline (empty buckets included) — the operator's claim is
that its contraction-only windows (pre/post values at nonempty buckets)
attain exactly the same extreme deviations, so the two must agree bit
for bit on every generated input.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from kafka_dead_letter_analyzer_spark.operators.drift import (
    cusum_changepoint,
    tvd_drift,
)

HOUR_US = 3_600_000_000
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _ts(hours: float) -> dt.datetime:
    return EPOCH + dt.timedelta(hours=hours)


def _events(spark, hours, group="g"):
    """One event per entry of `hours` (fractional = inside the bucket)."""
    rows = [(group, _ts(h)) for h in hours]
    return spark.createDataFrame(rows, "grp string, ts timestamp")


def _ppm2(num: int, nt: int) -> int:
    d1 = (num * 1000) // nt
    d2 = ((num * 1000) % nt) * 1000 // nt
    return d1 * 1000 + d2


def _brute_cusum(hours):
    """O(B) reference over the full hour-bucket timeline."""
    buckets = sorted({int(h) for h in hours})
    lo = buckets[0]
    B = buckets[-1] - lo + 1
    counts = {int(h) - lo: 0 for h in hours}
    for h in hours:
        counts[int(h) - lo] = counts.get(int(h) - lo, 0) + 1
    total = len(hours)
    s_prev, run_min, run_max = 0, 0, 0
    up_best = (-1, None)  # (deviation, bucket index) earliest-tie
    down_best = (-1, None)
    p = 0
    for t in range(1, B + 1):
        x = counts.get(t - 1, 0)
        pre = p * B - (t - 1) * total  # S just before bucket t's mass
        run_min = min(run_min, pre)
        run_max = max(run_max, pre)
        p += x
        s = p * B - t * total
        if x > 0:  # peaks live at nonempty post-values
            d_up = s - run_min
            if d_up > up_best[0]:
                up_best = (d_up, t - 1)
            # troughs live at pre-values of nonempty buckets (+ final S)
            d_dn = run_max - pre
            if t == B:
                d_dn = max(d_dn, max(run_max, s) - s)
            if d_dn > down_best[0]:
                down_best = (d_dn, t - 1)
        run_max = max(run_max, s)
    n_buckets = B
    return {
        "n": total,
        "buckets": n_buckets,
        "up_ppm": _ppm2(up_best[0], total * n_buckets),
        "up_bucket": up_best[1] + lo,
        "down_ppm": _ppm2(down_best[0], total * n_buckets),
        "down_bucket": down_best[1] + lo,
    }


def _run_cusum(spark, hours):
    df = _events(spark, hours)
    out = cusum_changepoint(
        df, ts_col="ts", group_cols=["grp"], bucket="hour"
    ).collect()
    assert len(out) == 1
    r = out[0].asDict()
    r["up_bucket"] = int(
        (r["up_cp_ts"].replace(tzinfo=dt.timezone.utc) - EPOCH)
        .total_seconds() // 3600
    )
    r["down_bucket"] = int(
        (r["down_cp_ts"].replace(tzinfo=dt.timezone.utc) - EPOCH)
        .total_seconds() // 3600
    )
    return r


CASES = [
    # single bucket: S == 0 everywhere, 0/0 deviations
    [0.1, 0.2, 0.9],
    # perfectly steady rate: zero deviation, earliest-bucket ties
    [0.5, 1.5, 2.5, 3.5],
    # step up: 1/bucket for 4 buckets then 4/bucket for 2
    [0.1, 1.1, 2.1, 3.1, 4.1, 4.2, 4.3, 4.4, 5.1, 5.2, 5.3, 5.4],
    # step down (outage): dense then sparse
    [0.1, 0.2, 0.3, 0.4, 1.1, 1.2, 1.3, 1.4, 2.5, 5.5],
    # long empty stretch in the middle (running min inside the gap)
    [0.1, 0.2, 10.5, 10.6, 10.7],
    # empty tail never happens (last bucket nonempty by construction),
    # but a final under-running bucket exercises the is_last branch
    [0.1, 0.2, 0.3, 1.1, 1.2, 1.3, 7.9],
    # burst in the middle
    [0.5, 3.1, 3.2, 3.3, 3.4, 3.5, 6.5],
]


@pytest.mark.parametrize("hours", CASES, ids=range(len(CASES)))
def test_cusum_matches_full_timeline_reference(spark, hours):
    got = _run_cusum(spark, hours)
    want = _brute_cusum(hours)
    for k in ("n", "buckets", "up_ppm", "down_ppm", "up_bucket",
              "down_bucket"):
        assert got[k] == want[k], (k, got, want)


def test_cusum_randomized_against_reference(spark):
    import random

    rng = random.Random(0xD21F7)
    for trial in range(12):
        B = rng.randint(1, 12)
        hours = []
        for b in range(B):
            for i in range(rng.randint(0, 5)):
                hours.append(b + (i + 1) / 10)
        if not hours:
            hours = [0.5]
        # ensure first/last buckets nonempty so B matches the span
        hours.append(0.05)
        hours.append(B - 1 + 0.95)
        got = _run_cusum(spark, hours)
        want = _brute_cusum(hours)
        for k in ("n", "buckets", "up_ppm", "down_ppm", "up_bucket",
                  "down_bucket"):
            assert got[k] == want[k], (trial, k, got, want, sorted(hours))


def test_cusum_step_up_locates_the_step(spark):
    # 1/bucket for 5 buckets, then 10/bucket for 5.  S traces a V:
    # the DOWNWARD statistic peaks exactly at the regime change (the
    # trough just before the first dense bucket), the UPWARD one at the
    # recovery end — and for a single clean step the two deviations are
    # EQUAL (both measure the same 225/550 mass displacement).
    hours = [b + 0.5 for b in range(5)]
    hours += [b + (i + 1) / 20 for b in range(5, 10) for i in range(10)]
    got = _run_cusum(spark, hours)
    assert got["down_bucket"] == 5  # the step location
    assert got["up_bucket"] == 9
    assert got["up_ppm"] == got["down_ppm"] == _ppm2(225, 55 * 10)


def test_cusum_groups_are_independent(spark):
    a = [0.1, 1.1, 2.1]
    b = [0.5, 0.6, 0.7, 5.5]
    df = _events(spark, a, "a").unionByName(_events(spark, b, "b"))
    out = {
        r["grp"]: r.asDict()
        for r in cusum_changepoint(
            df, ts_col="ts", group_cols=["grp"], bucket="hour"
        ).collect()
    }
    assert out["a"]["n"] == 3 and out["a"]["buckets"] == 3
    assert out["b"]["n"] == 4 and out["b"]["buckets"] == 6
    # steady group: zero deviation both ways
    assert out["a"]["up_ppm"] == 0 and out["a"]["down_ppm"] == 0
    # front-loaded group: strong downward signal
    assert out["b"]["down_ppm"] > out["b"]["up_ppm"]


def test_cusum_null_ts_excluded_and_global_path(spark):
    rows = [("g", _ts(0.5)), ("g", None), ("g", _ts(1.5))]
    df = spark.createDataFrame(rows, "grp string, ts timestamp")
    out = cusum_changepoint(df, ts_col="ts", bucket="hour").collect()
    assert len(out) == 1
    assert out[0]["n"] == 2 and out[0]["buckets"] == 2


def test_cusum_rejects_unknown_bucket(spark):
    df = _events(spark, [0.5])
    with pytest.raises(ValueError, match="bucket must be one of"):
        cusum_changepoint(df, bucket="fortnight")


def test_tvd_hand_computed(spark):
    # early half (ts <= mid): 3 A, 1 B; late half: 1 A, 3 B
    # TVD = (|3/4 - 1/4| + |1/4 - 3/4|)/2 = 1/2 -> 500_000 ppm
    rows = (
        [("A", _ts(h)) for h in (0.1, 0.2, 0.3)]
        + [("B", _ts(0.4))]
        + [("A", _ts(9.6))]
        + [("B", _ts(h)) for h in (9.7, 9.8, 9.9)]
    )
    df = spark.createDataFrame(rows, "cat string, ts timestamp")
    out = tvd_drift(df, ts_col="ts", cat_col="cat").collect()
    assert len(out) == 1
    r = out[0]
    assert r["tvd_ppm"] == 500_000
    assert r["n_early"] == 4 and r["n_late"] == 4 and r["n_cats"] == 2


def test_tvd_identical_mix_is_zero(spark):
    rows = [(c, _ts(h)) for h in (0.1, 9.9) for c in ("A", "A", "B")]
    df = spark.createDataFrame(rows, "cat string, ts timestamp")
    out = tvd_drift(df, ts_col="ts", cat_col="cat").collect()
    assert out[0]["tvd_ppm"] == 0


def test_tvd_disjoint_mix_is_one(spark):
    rows = [("A", _ts(0.1)), ("A", _ts(0.2)), ("B", _ts(9.8)),
            ("B", _ts(9.9))]
    df = spark.createDataFrame(rows, "cat string, ts timestamp")
    out = tvd_drift(df, ts_col="ts", cat_col="cat").collect()
    assert out[0]["tvd_ppm"] == 1_000_000


def test_tvd_single_timestamp_group_drops(spark):
    # all mass on one instant: mid == ts, everything early, late empty
    rows = [("A", _ts(1.0)), ("B", _ts(1.0))]
    df = spark.createDataFrame(rows, "cat string, ts timestamp")
    assert tvd_drift(df, ts_col="ts", cat_col="cat").count() == 0


def test_tvd_null_category_counts_null_ts_drops(spark):
    rows = [
        (None, _ts(0.1)),
        ("A", _ts(0.2)),
        ("A", None),  # excluded
        (None, _ts(9.8)),
        ("B", _ts(9.9)),
    ]
    df = spark.createDataFrame(rows, "cat string, ts timestamp")
    out = tvd_drift(df, ts_col="ts", cat_col="cat").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_early"] == 2 and r["n_late"] == 2
    # NULL is a real category: 3 categories total
    assert r["n_cats"] == 3
    # early {null, A} vs late {null, B}: TVD = 1/2
    assert r["tvd_ppm"] == 500_000


def test_tvd_grouped_and_global_split_shared(spark):
    # the split anchor is GLOBAL (documented): group g2 sits entirely in
    # the late half, so it drops (its early half is empty)
    rows = [
        ("g1", "A", _ts(0.1)),
        ("g1", "B", _ts(9.9)),
        ("g2", "A", _ts(8.0)),
        ("g2", "B", _ts(9.0)),
    ]
    df = spark.createDataFrame(rows, "grp string, cat string, ts timestamp")
    out = tvd_drift(
        df, ts_col="ts", cat_col="cat", group_cols=["grp"]
    ).collect()
    assert [r["grp"] for r in out] == ["g1"]
    assert out[0]["tvd_ppm"] == 1_000_000


def test_cusum_plan_has_no_global_single_task_window_when_grouped(spark):
    """Grouped cusum's windows must all partition on the group column —
    no empty-frame (single task) window stage in the plan."""
    df = _events(spark, [0.1, 1.1, 2.1])
    plan = cusum_changepoint(
        df, ts_col="ts", group_cols=["grp"], bucket="hour"
    )._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


# ---------------------------------------------------------------------------
# wasserstein_drift


def _w1_brute(early, late):
    """Exact W1 between two integer multisets, as a Fraction."""
    from fractions import Fraction

    support = sorted(set(early) | set(late))
    n1, n2 = len(early), len(late)
    total = Fraction(0)
    for v, nxt in zip(support, support[1:]):
        f1 = Fraction(sum(1 for e in early if e <= v), n1)
        f2 = Fraction(sum(1 for e in late if e <= v), n2)
        total += abs(f1 - f2) * (nxt - v)
    return total


def _run_w1(spark, early, late):
    from kafka_dead_letter_analyzer_spark.operators.drift import (
        wasserstein_drift,
    )

    rows = [(v, _ts(0.5)) for v in early] + [(v, _ts(9.5)) for v in late]
    df = spark.createDataFrame(rows, "v long, ts timestamp")
    out = wasserstein_drift(df, ts_col="ts", value_col="v").collect()
    return out


def test_w1_hand_computed(spark):
    # early {1,1,2}, late {3,4,4}: mass must travel; W1 = 7/3
    out = _run_w1(spark, [1, 1, 2], [3, 4, 4])
    assert len(out) == 1
    want = _w1_brute([1, 1, 2], [3, 4, 4])  # 7/3
    assert out[0]["w1_e6"] == (want.numerator * 10**6) // want.denominator
    assert out[0]["n_values"] == 4


def test_w1_identical_is_zero_and_shift_is_distance(spark):
    assert _run_w1(spark, [1, 2, 3], [1, 2, 3])[0]["w1_e6"] == 0
    # shifting every value by +5 moves each unit of mass 5 units
    assert _run_w1(spark, [1, 2, 3], [6, 7, 8])[0]["w1_e6"] == 5_000_000


def test_w1_randomized_against_fraction_reference(spark):
    import random

    rng = random.Random(0xEA27)
    for _ in range(8):
        early = [rng.randint(0, 20) for _ in range(rng.randint(1, 12))]
        late = [rng.randint(0, 20) for _ in range(rng.randint(1, 12))]
        want = _w1_brute(early, late)
        got = _run_w1(spark, early, late)[0]["w1_e6"]
        assert got == (want.numerator * 10**6) // want.denominator, (
            early, late, want, got,
        )


def test_w1_grouped_and_empty_half_drops(spark):
    from kafka_dead_letter_analyzer_spark.operators.drift import (
        wasserstein_drift,
    )

    rows = (
        [("a", 1, _ts(0.5)), ("a", 3, _ts(9.5))]
        # group b entirely in the late half (global anchor) -> drops
        + [("b", 5, _ts(9.1)), ("b", 9, _ts(9.9))]
    )
    df = spark.createDataFrame(rows, "grp string, v long, ts timestamp")
    out = wasserstein_drift(
        df, ts_col="ts", value_col="v", group_cols=["grp"]
    ).collect()
    assert [r["grp"] for r in out] == ["a"]
    assert out[0]["w1_e6"] == 2_000_000  # one unit of mass moved 2


# ---------------------------------------------------------------------------
# theilsen_trend


def _run_ts_trend(spark, day_counts, bucket="day", **kw):
    from kafka_dead_letter_analyzer_spark.operators.drift import (
        theilsen_trend,
    )

    rows = []
    for day, cnt in enumerate(day_counts):
        for i in range(cnt):
            rows.append(("g", EPOCH + dt.timedelta(days=day, minutes=i)))
    df = spark.createDataFrame(rows, "grp string, ts timestamp")
    out = theilsen_trend(
        df, ts_col="ts", group_cols=["grp"], bucket=bucket, **kw
    ).collect()
    assert len(out) == 1
    return out[0]


def _ts_brute(day_counts):
    from fractions import Fraction

    xs = list(day_counts)
    slopes = []
    for i in range(len(xs)):
        for j in range(i + 1, len(xs)):
            slopes.append((Fraction(xs[j] - xs[i], j - i), xs[j] - xs[i],
                           j - i))
    slopes.sort(key=lambda s: (s[0], s[1], s[2]))
    sel = slopes[(len(slopes) + 1) // 2 - 1]
    return sel[1], sel[2], len(slopes)


@pytest.mark.parametrize(
    "day_counts",
    [
        [1, 2, 3, 4, 5],          # perfect +1/day
        [5, 4, 3, 2, 1],          # perfect -1/day
        [3, 3, 3, 3],             # flat
        [1, 2, 3, 100, 5, 6],     # spike: median slope unmoved
        [2, 0, 0, 0, 4],          # empty middle days count as zeros
        [7],                      # single bucket: no pairs -> no row?
    ],
    ids=["up", "down", "flat", "spike", "gap-zeros", "single"],
)
def test_theilsen_matches_reference(spark, day_counts):
    if len(day_counts) == 1:
        from kafka_dead_letter_analyzer_spark.operators.drift import (
            theilsen_trend,
        )

        rows = [("g", EPOCH)] * day_counts[0]
        df = spark.createDataFrame(rows, "grp string, ts timestamp")
        assert (
            theilsen_trend(df, ts_col="ts", group_cols=["grp"]).count() == 0
        )
        return
    got = _run_ts_trend(spark, day_counts)
    dy, dx, np_ = _ts_brute(day_counts)
    assert (got["slope_num"], got["slope_den"], got["n_pairs"]) == (
        dy, dx, np_,
    ), day_counts
    assert got["n"] == sum(day_counts)
    assert got["n_buckets"] == len(day_counts)


def test_theilsen_spike_robust_but_mean_is_not(spark):
    # 10 flat days with one 100x spike: Theil-Sen says slope 0
    counts = [4] * 10
    counts[5] = 400
    got = _run_ts_trend(spark, counts)
    assert (got["slope_num"], got["slope_den"]) == _ts_brute(counts)[:2]
    assert got["slope_num"] == 0


def test_theilsen_max_buckets_raises(spark):
    rows = [("g", EPOCH), ("g", EPOCH + dt.timedelta(days=10))]
    df = spark.createDataFrame(rows, "grp string, ts timestamp")
    with pytest.raises(ValueError, match="max_buckets"):
        from kafka_dead_letter_analyzer_spark.operators.drift import (
            theilsen_trend,
        )

        theilsen_trend(
            df, ts_col="ts", group_cols=["grp"], max_buckets=5
        )


# ---------------------------------------------------------------------------
# _trend_kernel: the pure numpy Theil-Sen / Mann-Kendall kernel (no JVM)


def _trend_brute(sparse):
    """O(B^2) reference over a sparse ``{t: x}`` timeline: densify with
    zeros, enumerate every pair, sort by the SQL form's order
    ``(CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE), dy, dx)`` and take the
    lower median; Mann-Kendall by definition."""
    from collections import Counter

    lo, hi = min(sparse), max(sparse)
    dense = [sparse.get(t, 0) for t in range(lo, hi + 1)]
    b = len(dense)
    if b < 2:
        return None
    pairs = sorted(
        (float(dense[j] - dense[i]) / float(j - i), dense[j] - dense[i], j - i)
        for i in range(b)
        for j in range(i + 1, b)
    )
    _, dy, dx = pairs[(len(pairs) + 1) // 2 - 1]
    s = sum(
        (dense[j] > dense[i]) - (dense[j] < dense[i])
        for i in range(b)
        for j in range(i + 1, b)
    )
    tie = sum(m * (m - 1) * (2 * m + 5) for m in Counter(dense).values())
    return {
        "slope_num": dy,
        "slope_den": dx,
        "n": sum(dense),
        "n_buckets": b,
        "n_pairs": len(pairs),
        "s_stat": s,
        "var18": b * (b - 1) * (2 * b + 5) - tie,
    }


def _run_kernel(sparse):
    import numpy as np

    from kafka_dead_letter_analyzer_spark.operators.drift import _trend_kernel

    ts = list(sparse)
    return _trend_kernel(
        np.array(ts, dtype=np.int64),
        np.array([sparse[t] for t in ts], dtype=np.int64),
    )


@pytest.mark.parametrize(
    "dense, pick",
    [
        # 10 pairs (even): slopes 1/2 and 2/4 tie on the quotient; the
        # (dy, dx) tie-break puts 1/2 first and the median lands on 2/4
        ([1, 0, 2, 3, 3], (2, 4)),
        # 15 pairs (odd), an all-zero stretch, same tie decided the same way
        ([1, 0, 0, 1, 3, 3], (2, 4)),
        # 3 pairs: 1/1, 1/1, 2/2 — the lower median is the first 1/1
        ([1, 2, 3], (1, 1)),
        # negative ties order the other way: -2/2 sorts before -1/1
        ([2, 1, 0, 1], (-1, 1)),
        ([1, 3, 3, 2, 0, 1], (-1, 2)),
    ],
    ids=["even-tie", "odd-zeros-tie", "odd-tie", "even-neg-tie",
         "odd-neg-tie"],
)
def test_trend_kernel_tie_break_on_equal_rationals(dense, pick):
    sparse = {t: x for t, x in enumerate(dense) if x}
    got = _run_kernel(sparse)
    assert got == _trend_brute(sparse)
    assert (got["slope_num"], got["slope_den"]) == pick


def test_trend_kernel_matches_brute_force_property():
    """Property: for ANY sparse timeline (gaps densify to zeros, so
    all-zero stretches are common; small counts make equal rationals
    with different representations common), the kernel equals the
    O(B^2) brute-force reference on every statistic."""
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    def timelines(lo, hi, max_size):
        return st.dictionaries(
            st.integers(min_value=lo, max_value=hi),  # bucket index
            st.integers(min_value=1, max_value=4),    # events in it
            min_size=1,
            max_size=max_size,
        )

    @settings(max_examples=300, deadline=None)
    @given(st.one_of(timelines(0, 8, 9), timelines(-40, 40, 25)))
    @example({-3: 2, 30: 2})  # long all-zero stretch
    @example({5: 1})  # single bucket: no pairs, no row
    def check(sparse):
        assert _run_kernel(sparse) == _trend_brute(sparse), sparse

    check()


def test_drift_report_keeps_every_cusum_group(spark):
    """dead_letter_drift_report equals its four detectors run alone, with
    one row per group CUSUM reports: a single-bucket group gets NULL
    trend and Mann-Kendall columns, and the NULL group keeps its row."""
    from kafka_dead_letter_analyzer_spark.operators import drift as DR

    rows = [
        (g, _ts(h))
        for g, hours in (
            ("a", [0, 0, 1, 5, 5, 5, 9]),
            (None, [1, 1, 2, 7]),
            ("c", [3.1, 3.2, 3.3]),  # one bucket
        )
        for h in hours
    ]
    df = spark.createDataFrame(rows, "grp string, ts timestamp")
    kw = {"ts_col": "ts", "group_cols": ["grp"], "bucket": "hour"}
    report = {
        r["grp"]: r.asDict()
        for r in DR.dead_letter_drift_report(df, **kw).collect()
    }
    alone = {}
    for op in (DR.cusum_changepoint, DR.theilsen_trend, DR.mann_kendall):
        for r in op(df, **kw).collect():
            alone.setdefault(r["grp"], {}).update(r.asDict())
    for r in DR.hampel_outliers(df, **kw).collect():
        got = alone.setdefault(r["grp"], {})
        got["flagged_buckets"] = got.get("flagged_buckets", 0) + r["flagged"]
    assert set(report) == set(alone) == {"a", None, "c"}
    for g, r in report.items():
        assert r == {k: alone[g].get(k) for k in r}, g
    assert report["c"]["slope_num"] is None and report["c"]["var18"] is None
    assert report["a"]["s_stat"] is not None


# ---------------------------------------------------------------------------
# benford_audit


def test_benford_constants_and_organic_vs_flat(spark):
    from kafka_dead_letter_analyzer_spark.operators.profile import (
        BENFORD_PPM,
        benford_audit,
    )

    assert sum(BENFORD_PPM.values()) == 1_000_000
    # a 1..9999 uniform range is NOT Benford but covers all digits;
    # check mechanics: counts, ppm floors, absent-digit emission
    df = spark.createDataFrame(
        [(v,) for v in range(1, 100)], "v long"
    )
    out = {r["digit"]: r for r in benford_audit(df, "v").collect()}
    assert sorted(out) == list(range(1, 10))
    # digits 1..9 each lead 11 of 99 values in 1..99
    for d in range(1, 10):
        assert out[d]["cnt"] == 11
        assert out[d]["obs_ppm"] == (11 * 10**6) // 99
        assert out[d]["dev_ppm"] == abs(
            (11 * 10**6) // 99 - BENFORD_PPM[d]
        )


def test_benford_absent_digit_emits_zero(spark):
    from kafka_dead_letter_analyzer_spark.operators.profile import (
        benford_audit,
    )

    df = spark.createDataFrame([(1,), (2,), (19,)], "v long")
    out = {r["digit"]: r for r in benford_audit(df, "v").collect()}
    assert sorted(out) == list(range(1, 10))
    assert out[1]["cnt"] == 2 and out[2]["cnt"] == 1
    for d in range(3, 10):
        assert out[d]["cnt"] == 0 and out[d]["obs_ppm"] == 0
        assert out[d]["dev_ppm"] == out[d]["exp_ppm"]


def test_benford_excludes_nonpositive_and_groups(spark):
    from kafka_dead_letter_analyzer_spark.operators.profile import (
        benford_audit,
    )

    rows = [("a", 123), ("a", 0), ("a", -5), ("a", None), ("b", 987)]
    df = spark.createDataFrame(rows, "grp string, v long")
    out = benford_audit(df, "v", group_cols=["grp"]).collect()
    by = {(r["grp"], r["digit"]): r for r in out}
    assert len(out) == 18  # 2 groups x 9 digits
    assert by[("a", 1)]["cnt"] == 1 and by[("a", 1)]["obs_ppm"] == 1_000_000
    assert by[("b", 9)]["cnt"] == 1
    assert by[("b", 1)]["cnt"] == 0


# ---------------------------------------------------------------------------
# x_seasonal_anomaly (query-level semantics)


def test_seasonal_anomaly_semantics(spark, tmp_path):
    import pyspark.sql.functions as SF

    from kafka_dead_letter_analyzer_spark.queries import x_seasonal_anomaly

    # three historical days with hourly profiles + a "today"
    rows = []
    eid = 0

    def day_hours(day, hod_counts, typ="error"):
        nonlocal eid
        for hod, cnt in hod_counts.items():
            for i in range(cnt):
                rows.append(
                    (eid, EPOCH + dt.timedelta(days=day, hours=hod,
                                               minutes=i),
                     1, typ, 0.0, "{}")
                )
                eid += 1

    # hod 3: history 2,4,6 (median 4); today 8 -> ratio 2e6
    day_hours(0, {3: 2})
    day_hours(1, {3: 4})
    day_hours(2, {3: 6})
    day_hours(3, {3: 8})
    # hod 5: history 5,5 (median 5); today silent -> ratio 0
    day_hours(0, {5: 5})
    day_hours(1, {5: 5})
    # hod 7: today ONLY -> no baseline -> row absent
    day_hours(3, {7: 9})
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out_dir = str(tmp_path / "events_seasonal")
    df.coalesce(1).write.parquet(out_dir + "/events.parquet")
    got = {
        (r["event_type"], r["hod"]): r
        for r in x_seasonal_anomaly(spark, out_dir).collect()
    }
    assert got[("error", 3)]["med_cnt"] == 4
    assert got[("error", 3)]["today_cnt"] == 8
    assert got[("error", 3)]["ratio_e6"] == 2_000_000
    assert got[("error", 5)]["today_cnt"] == 0
    assert got[("error", 5)]["ratio_e6"] == 0
    assert got[("error", 5)]["med_cnt"] == 5
    assert ("error", 7) not in got  # no historical baseline


# ---------------------------------------------------------------------------
# leadlag_spearman


def _leadlag_events(spark, shape, lag, cat_a="A", cat_b="B"):
    rows = []
    for d, c in enumerate(shape):
        for i in range(c):
            rows.append((cat_a, EPOCH + dt.timedelta(days=d, minutes=i)))
            rows.append(
                (cat_b, EPOCH + dt.timedelta(days=d + lag, minutes=i))
            )
    return spark.createDataFrame(rows, "cat string, ts timestamp")


def test_leadlag_recovers_planted_lag(spark):
    from kafka_dead_letter_analyzer_spark.operators.drift import (
        leadlag_spearman,
    )

    # non-monotone bump so only the true lag aligns perfectly
    shape = [1, 5, 9, 2, 1, 1, 8, 3, 1, 1]
    df = _leadlag_events(spark, shape, lag=2)
    out = {
        r["lag"]: r
        for r in leadlag_spearman(
            df, "ts", "cat", "A", "B", max_lag=4
        ).collect()
    }
    assert sorted(out) == [0, 1, 2, 3, 4]
    assert out[2]["rho_e6"] == 1_000_000
    assert all(out[l]["rho_e6"] < 1_000_000 for l in (0, 1, 3, 4))
    # overlap shrinks by one pair per extra lag past the span
    assert out[0]["n"] == len(shape) + 2
    assert out[4]["n"] == len(shape) + 2 - 4


def test_leadlag_matches_direct_spearman_per_lag(spark):
    from kafka_dead_letter_analyzer_spark.operators.drift import (
        leadlag_spearman,
    )
    from kafka_dead_letter_analyzer_spark.operators.ranking import (
        spearman_exact,
    )

    shape = [3, 1, 4, 1, 5, 9, 2, 6]
    df = _leadlag_events(spark, shape, lag=1)
    got = {
        r["lag"]: r
        for r in leadlag_spearman(
            df, "ts", "cat", "A", "B", max_lag=2
        ).collect()
    }
    # rebuild the dense series locally and check each lag against a
    # direct spearman_exact call on the hand-paired vectors
    span = len(shape) + 1  # B extends one day past A
    a = [shape[d] if d < len(shape) else 0 for d in range(span)]
    b = [shape[d - 1] if 1 <= d <= len(shape) else 0 for d in range(span)]
    for lag in (0, 1, 2):
        pairs = [
            (a[t], b[t + lag]) for t in range(span - lag)
        ]
        direct = spearman_exact(
            spark.createDataFrame(pairs, "x long, y long"), "x", "y"
        ).collect()
        if not direct:
            assert lag not in got
            continue
        d0 = direct[0]
        g = got[lag]
        assert (g["num"], g["den_x"], g["den_y"], g["n"]) == (
            d0["num"], d0["den_x"], d0["den_y"], d0["n"],
        ), lag


def test_leadlag_guards(spark):
    from kafka_dead_letter_analyzer_spark.operators.drift import (
        leadlag_spearman,
    )

    df = _leadlag_events(spark, [1, 2], lag=0)
    with pytest.raises(ValueError, match="max_lag"):
        leadlag_spearman(df, "ts", "cat", "A", "B", max_lag=-1)
    with pytest.raises(ValueError, match="bucket must be one of"):
        leadlag_spearman(df, "ts", "cat", "A", "B", bucket="week")
    with pytest.raises(ValueError, match="no rows"):
        leadlag_spearman(df, "ts", "cat", "NOPE1", "NOPE2")
    wide = _leadlag_events(spark, [1], lag=0)
    far = spark.createDataFrame(
        [("A", EPOCH + dt.timedelta(days=5000))], "cat string, ts timestamp"
    )
    with pytest.raises(ValueError, match="max_buckets"):
        leadlag_spearman(
            wide.unionByName(far), "ts", "cat", "A", "B", max_buckets=100
        )


# ---------------------------------------------------------------------------
# hampel_outliers


def _run_hampel(spark, day_counts, **kw):
    from kafka_dead_letter_analyzer_spark.operators.drift import (
        hampel_outliers,
    )

    rows = []
    for day, cnt in enumerate(day_counts):
        for i in range(cnt):
            rows.append(("g", EPOCH + dt.timedelta(days=day, minutes=i)))
    df = spark.createDataFrame(rows, "grp string, ts timestamp")
    out = hampel_outliers(
        df, ts_col="ts", group_cols=["grp"], bucket="day", **kw
    ).collect()
    byday = {}
    for r in out:
        d = int((r["bucket_ts"].replace(tzinfo=dt.timezone.utc) - EPOCH)
                .total_seconds() // 86400)
        byday[d] = r
    return byday


def _brute_hampel(day_counts, hw=3, k=3):
    n = len(day_counts)
    res = {}
    for i, x in enumerate(day_counts):
        win = sorted(day_counts[max(0, i - hw): i + hw + 1])
        med = win[(len(win) + 1) // 2 - 1]
        devs = sorted(abs(v - med) for v in win)
        mad = devs[(len(devs) + 1) // 2 - 1]
        res[i] = (x, med, mad, abs(x - med) > k * mad)
    return res


@pytest.mark.parametrize(
    "day_counts",
    [
        [4, 4, 4, 4, 400, 4, 4, 4, 4],      # one poisoned day
        [4] * 9,                            # constant: nothing flags
        [1, 2, 3, 4, 5, 6, 7, 8, 9],        # smooth trend: nothing flags
        [5, 5, 5, 0, 5, 5, 5],              # an OUTAGE day flags too
        [2, 100, 2, 100, 2, 100, 2],        # alternating: median splits
    ],
    ids=["spike", "flat", "trend", "outage", "alternating"],
)
def test_hampel_matches_brute(spark, day_counts):
    got = _run_hampel(spark, day_counts)
    want = _brute_hampel(day_counts)
    assert sorted(got) == sorted(want)
    for d, (x, med, mad, fl) in want.items():
        r = got[d]
        assert (r["cnt"], r["med"], r["mad"], r["flagged"]) == (
            x, med, mad, fl,
        ), (d, day_counts)


def test_hampel_spike_masks_itself_for_sigma_but_not_mad(spark):
    counts = [4, 4, 4, 4, 400, 4, 4, 4, 4]
    got = _run_hampel(spark, counts)
    assert got[4]["flagged"] is True
    assert all(not got[d]["flagged"] for d in got if d != 4)
    # the sigma rule the docstring claims fails: mean±3sigma over the
    # same window does NOT flag day 4
    import statistics

    win = counts
    mu, sd = statistics.mean(win), statistics.pstdev(win)
    assert abs(400 - mu) < 3 * sd  # sigma self-masking, the Hampel point


def test_hampel_guards(spark):
    from kafka_dead_letter_analyzer_spark.operators.drift import (
        hampel_outliers,
    )

    df = _events(spark, [0.5])
    with pytest.raises(ValueError, match="half_window"):
        hampel_outliers(df, group_cols=["grp"], half_window=0)
    with pytest.raises(ValueError, match="k_num"):
        hampel_outliers(df, group_cols=["grp"], k_den=0)
    with pytest.raises(ValueError, match="bucket must be"):
        hampel_outliers(df, group_cols=["grp"], bucket="week")


def test_ks_statistic_hand_computed_and_narrow_band(spark):
    from fractions import Fraction

    # disjoint: KS = 1
    out = _run_w1(spark, [1, 2], [5, 6])[0]
    assert out["ks_ppm"] == 1_000_000
    # identical: KS = 0
    assert _run_w1(spark, [1, 2, 3], [1, 2, 3])[0]["ks_ppm"] == 0
    # narrow-band divergence: early has extra mass at one value only.
    # F diff peaks at v=5: F1(5) = 6/8, F2(5) = 4/8 -> KS = 1/4,
    # while W1 stays small (the band is narrow)
    early = [1, 2, 3, 5, 5, 5, 9, 10]
    late = [1, 2, 3, 5, 9, 9, 10, 10]
    out = _run_w1(spark, early, late)[0]
    f1 = Fraction(sum(1 for v in early if v <= 5), len(early))
    f2 = Fraction(sum(1 for v in late if v <= 5), len(late))
    want = abs(f1 - f2)
    assert out["ks_ppm"] == want.numerator * 10**6 // want.denominator
    # (no KS-vs-W1 magnitude comparison: KS is a dimensionless
    # probability distance, W1 carries value units — incomparable)


# ---------------------------------------------------------------------------
# hypothesis properties for the drift family


def test_cusum_property_matches_full_timeline_reference(spark):
    """Property (shrinking on failure): for ANY multiset of event
    hours, the contraction-window cusum equals the full-timeline O(B)
    reference on every output field."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=10),  # bucket
                st.integers(min_value=1, max_value=4),   # events in it
            ),
            min_size=1,
            max_size=8,
        )
    )
    def check(bucket_counts):
        hours = []
        for b, c in bucket_counts:
            hours.extend(b + (i + 1) / 10 for i in range(c))
        got = _run_cusum(spark, hours)
        want = _brute_cusum(hours)
        for k in ("n", "buckets", "up_ppm", "down_ppm", "up_bucket",
                  "down_bucket"):
            assert got[k] == want[k], (k, sorted(hours))

    check()


def test_drift_ppm_surfaces_are_bounded_property(spark):
    """Property: tvd_ppm and cusum ppm live in [0, 1e6]; W1's ks_ppm
    does too (w1_e6 itself carries value units and is bounded by
    range * 1e6)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kafka_dead_letter_analyzer_spark.operators.drift import (
        tvd_drift,
        wasserstein_drift,
    )

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.sampled_from(["A", "B", "C"]),
                st.integers(min_value=0, max_value=20),   # value
                st.integers(min_value=0, max_value=19),   # hour
            ),
            min_size=2,
            max_size=30,
        )
    )
    def check(rows):
        data = [(c, v, _ts(h + 0.5)) for c, v, h in rows]
        df = spark.createDataFrame(data, "cat string, v long, ts timestamp")
        for r in tvd_drift(df, ts_col="ts", cat_col="cat").collect():
            assert 0 <= r["tvd_ppm"] <= 1_000_000
        vmin = min(v for _, v, _ in rows)
        vmax = max(v for _, v, _ in rows)
        for r in wasserstein_drift(df, ts_col="ts", value_col="v").collect():
            assert 0 <= r["ks_ppm"] <= 1_000_000
            assert 0 <= r["w1_e6"] <= (vmax - vmin) * 1_000_000

    check()


# ---------------------------------------------------------------------------
# mann_kendall


def _mk_brute(day_counts):
    n = len(day_counts)
    s = sum(
        (day_counts[j] > day_counts[i]) - (day_counts[j] < day_counts[i])
        for i in range(n) for j in range(i + 1, n)
    )
    from collections import Counter

    tie = sum(t * (t - 1) * (2 * t + 5)
              for t in Counter(day_counts).values())
    var18 = n * (n - 1) * (2 * n + 5) - tie
    return s, var18


@pytest.mark.parametrize(
    "day_counts",
    [
        [1, 2, 3, 4, 5],       # perfect up: S = C(5,2) = 10
        [5, 4, 3, 2, 1],       # perfect down: S = -10
        [3, 3, 3, 3],          # all tied: S = 0, var18 = 0
        [2, 0, 5, 0, 7],       # zeros from gaps participate
        [1, 2, 2, 3, 1, 4],    # partial ties
    ],
    ids=["up", "down", "tied", "gappy", "partial-ties"],
)
def test_mann_kendall_matches_brute(spark, day_counts):
    from kafka_dead_letter_analyzer_spark.operators.drift import (
        mann_kendall,
    )

    rows = []
    for day, cnt in enumerate(day_counts):
        for i in range(cnt):
            rows.append(("g", EPOCH + dt.timedelta(days=day, minutes=i)))
    if not rows:
        return
    # ensure empty-count days exist in the span via first/last nonzero
    df = spark.createDataFrame(rows, "grp string, ts timestamp")
    out = mann_kendall(
        df, ts_col="ts", group_cols=["grp"], bucket="day"
    ).collect()
    # the operator densifies over [first nonzero day, last nonzero day]
    lo = next(i for i, c in enumerate(day_counts) if c)
    hi = len(day_counts) - 1 - next(
        i for i, c in enumerate(reversed(day_counts)) if c
    )
    dense = day_counts[lo:hi + 1]
    s, var18 = _mk_brute(dense)
    assert len(out) == 1
    r = out[0]
    assert (r["s_stat"], r["var18"], r["n_buckets"], r["n"]) == (
        s, var18, len(dense), sum(dense),
    ), day_counts


def test_mann_kendall_guard_and_theilsen_agreement(spark):
    from kafka_dead_letter_analyzer_spark.operators.drift import (
        mann_kendall,
        theilsen_trend,
    )

    rows = [("g", EPOCH), ("g", EPOCH + dt.timedelta(days=10))]
    df = spark.createDataFrame(rows, "grp string, ts timestamp")
    with pytest.raises(ValueError, match="max_buckets"):
        mann_kendall(df, ts_col="ts", group_cols=["grp"], max_buckets=5)
    # directional agreement on a clear ramp: MK S > 0 iff TS slope > 0
    ramp = [("g", EPOCH + dt.timedelta(days=d, minutes=i))
            for d in range(6) for i in range(d + 1)]
    rdf = spark.createDataFrame(ramp, "grp string, ts timestamp")
    mk = mann_kendall(rdf, ts_col="ts", group_cols=["grp"]).collect()[0]
    ts_ = theilsen_trend(rdf, ts_col="ts", group_cols=["grp"]).collect()[0]
    assert mk["s_stat"] > 0 and ts_["slope_num"] > 0


# ---------------------------------------------------------------------------
# contingency_profile


def test_contingency_leverage_hand_computed(spark):
    from kafka_dead_letter_analyzer_spark.operators.profile import (
        contingency_profile,
    )

    # 2x2 with known dependence: (a,x) over-represented
    rows = [("a", "x")] * 6 + [("a", "y")] * 2 + [("b", "x")] * 2 + [
        ("b", "y")
    ] * 6
    df = spark.createDataFrame(rows, "r string, c string")
    out = {(o["row_cat"], o["col_cat"]): o
           for o in contingency_profile(df, "r", "c").collect()}
    # n=16, row_a=8, col_x=8: E(a,x)=4 -> leverage = 6*16 - 64 = 32
    assert out[("a", "x")]["leverage_num"] == 32
    assert out[("a", "y")]["leverage_num"] == -32
    assert out[("b", "x")]["leverage_num"] == -32
    assert out[("b", "y")]["leverage_num"] == 32
    # leverage sums to zero over any full table
    assert sum(o["leverage_num"] for o in out.values()) == 0


def test_contingency_independent_is_zero_and_null_counts(spark):
    from kafka_dead_letter_analyzer_spark.operators.profile import (
        contingency_profile,
    )

    rows = [(r, c) for r in ("a", "b") for c in ("x", "y") for _ in (1, 2)]
    df = spark.createDataFrame(rows, "r string, c string")
    out = contingency_profile(df, "r", "c").collect()
    assert all(o["leverage_num"] == 0 for o in out)
    # NULL categories are real cells
    rows2 = [("a", None), ("a", "x"), (None, "x"), (None, None)]
    df2 = spark.createDataFrame(rows2, "r string, c string")
    out2 = contingency_profile(df2, "r", "c").collect()
    assert len(out2) == 4
    assert {(o["row_cat"], o["col_cat"]) for o in out2} == {
        ("a", None), ("a", "x"), (None, "x"), (None, None),
    }


def test_weighted_cusum_and_autocorr_degenerations(spark):
    from kafka_dead_letter_analyzer_spark.operators.drift import (
        cusum_changepoint,
        leadlag_spearman,
    )

    # weight 1 per row == the count detector, field for field
    hours = [0.1, 1.1, 2.1, 2.2, 2.3, 4.5]
    rows = [("g", _ts(h), 1) for h in hours]
    df = spark.createDataFrame(rows, "grp string, ts timestamp, w long")
    plain = cusum_changepoint(
        df, ts_col="ts", group_cols=["grp"], bucket="hour"
    ).collect()[0]
    weighted = cusum_changepoint(
        df, ts_col="ts", group_cols=["grp"], bucket="hour",
        weight_expr="w",
    ).collect()[0]
    assert plain.asDict() == weighted.asDict()
    # doubling every weight doubles n and scales deviations with it:
    # ppm (deviation / (n*B)) is INVARIANT
    df2 = df.withColumn("w", F.lit(2))
    w2 = cusum_changepoint(
        df2, ts_col="ts", group_cols=["grp"], bucket="hour",
        weight_expr="w",
    ).collect()[0]
    assert w2["n"] == 2 * plain["n"]
    assert (w2["up_ppm"], w2["down_ppm"]) == (
        plain["up_ppm"], plain["down_ppm"],
    )
    # autocorrelation at lag 0 is identically 1e6
    ev = spark.createDataFrame(
        [("e", _ts(24 * d + 0.5)) for d in range(6) for _ in range(d + 1)],
        "cat string, ts timestamp",
    )
    out = {r["lag"]: r for r in leadlag_spearman(
        ev, "ts", "cat", "e", "e", max_lag=2).collect()}
    assert out[0]["rho_e6"] == 1_000_000


def test_weighted_cusum_zero_mass_group_has_null_ppm(spark):
    """A group whose weights are all 0 has n * buckets = 0: NULL ppms (as
    SQL's integer division by 0), while the other group keeps its row."""
    rows = [("z", _ts(h), 0) for h in (0.5, 2.5, 3.5)] + [
        ("g", _ts(h), 1) for h in (0.1, 1.1, 2.1, 2.2, 4.5)
    ]
    df = spark.createDataFrame(rows, "grp string, ts timestamp, w long")
    out = {
        r["grp"]: r.asDict()
        for r in cusum_changepoint(
            df, ts_col="ts", group_cols=["grp"], bucket="hour",
            weight_expr="w",
        ).collect()
    }
    z = out["z"]
    assert (z["n"], z["buckets"], z["up_ppm"], z["down_ppm"]) == (
        0, 4, None, None,
    )
    # every deviation is 0: the earliest bucket on ties
    assert z["up_cp_ts"] == z["down_cp_ts"] == _ts(0).replace(tzinfo=None)
    alone = cusum_changepoint(
        df.filter("grp = 'g'"), ts_col="ts", group_cols=["grp"],
        bucket="hour", weight_expr="w",
    ).collect()[0]
    assert out["g"] == alone.asDict()


def test_hampel_span_guard_and_report_bucket_pick(spark):
    from kafka_dead_letter_analyzer_spark.operators.drift import (
        _report_counts,
        bucket_counts,
        hampel_outliers,
    )

    def pick(df):
        hours = bucket_counts(df, ts_col="ts", group_cols=["grp"], bucket="hour")
        return _report_counts(hours, ["grp"])[0]

    stray = spark.createDataFrame(
        [("g", _ts(0.5)), ("g", _ts(24 * 365 * 5.0))],
        "grp string, ts timestamp",
    )
    with pytest.raises(ValueError, match="max_buckets"):
        hampel_outliers(
            stray, ts_col="ts", group_cols=["grp"], bucket="hour",
            max_buckets=1000,
        )
    # short feed -> hour; multi-year feed -> day
    short = _events(spark, [0.5, 5.5])
    assert pick(short) == "hour"
    assert pick(stray) == "day"
    # past the day cap, the picker raises with guidance
    decade = spark.createDataFrame(
        [("g", _ts(0.5)), ("g", _ts(24 * 365 * 20.0))],
        "grp string, ts timestamp",
    )
    with pytest.raises(ValueError, match="stray timestamps"):
        pick(decade)


def test_report_day_rekey_equals_day_contraction(spark):
    """Re-keying the hour contraction with ``t DIV 24`` gives exactly
    ``bucket_counts(..., "day")``, before 1970 too: SQL DIV truncates
    toward zero, so -1 us and -1 h both fall in day 0 (a floor would
    put -1 h in day -1)."""
    import random

    from kafka_dead_letter_analyzer_spark.operators.drift import (
        _report_counts,
        bucket_counts,
    )

    day_us = 24 * HOUR_US
    rng = random.Random(7)
    us = [rng.randrange(-400 * day_us, 400 * day_us) for _ in range(600)]
    us += [-1, 0, 1, -HOUR_US, -day_us, -day_us - 1, -day_us + 1, day_us - 1]
    rows = [(rng.choice(["a", "b", None]), u) for u in us]
    df = spark.createDataFrame(rows, "grp string, us long").select(
        "grp", F.timestamp_micros("us").alias("ts")
    )
    hours = bucket_counts(df, ts_col="ts", group_cols=["grp"], bucket="hour")
    bucket, days = _report_counts(hours, ["grp"])
    assert bucket == "day"
    want = bucket_counts(df, ts_col="ts", group_cols=["grp"], bucket="day")
    assert days.columns == want.columns
    assert sorted(days.collect(), key=repr) == sorted(want.collect(), key=repr)


def test_drift_report_checks_its_cap_in_the_kernel(spark):
    """An explicit hour bucket: building the report runs no Spark job
    and persists nothing; the kernel pass raises for a group spanning
    4001 buckets and reports one spanning exactly 4000."""
    from pyspark.errors import PythonException

    from kafka_dead_letter_analyzer_spark.operators.drift import (
        dead_letter_drift_report,
    )

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    persisted = sc._jsc.getPersistentRDDs().size()

    def report(last_hour):
        df = _events(spark, [0.5, last_hour + 0.5])
        sc.setJobGroup("drift-report-construction", "construction")
        try:
            out = dead_letter_drift_report(
                df, ts_col="ts", group_cols=["grp"], bucket="hour"
            )
        finally:
            sc._jsc.clearJobGroup()
        bus.waitUntilEmpty()
        assert not sc.statusTracker().getJobIdsForGroup(
            "drift-report-construction"
        )
        return out

    with pytest.raises(PythonException, match="max_buckets=4000"):
        report(4000).collect()
    [r] = report(3999).collect()
    assert (r["n"], r["buckets"]) == (2, 4000)
    assert sc._jsc.getPersistentRDDs().size() == persisted


# ---------------------------------------------------------------------------
# leakage-safe split invariant


def test_leakage_safe_split_zero_straddle_invariant(spark):
    """The defining property: NO near-dup pair straddles two splits —
    checked on the real sf0.001 corpus against the same pair set the
    query uses (a per-doc hash split demonstrably violates it when any
    pair exists)."""
    import pyspark.sql.functions as SF

    from kafka_dead_letter_analyzer_spark.operators import (
        dedup as D,
        graph as G,
        sampling as SA,
    )
    from kafka_dead_letter_analyzer_spark.queries import _SPLIT_FRACS
    from kafka_dead_letter_analyzer_spark.sources.batch import load_table

    sf_dir = "/root/testdata/sf0.001"
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.dedup_near_minhash(
        docs, num_hashes=64, bands=32, threshold=0.5
    ).cache()
    assert pairs.count() > 0, "test corpus must contain near-dups"
    comp = G.connected_components(
        pairs, src="id_a", dst="id_b"
    ).withColumnRenamed("id", "doc_id")
    keyed = docs.join(comp, "doc_id", "left").select(
        "doc_id", SF.coalesce("component", "doc_id").alias("split_key")
    )
    safe = SA.hash_split(keyed, key="split_key", fractions=_SPLIT_FRACS)
    a = safe.select(SF.col("doc_id").alias("id_a"),
                    SF.col("split").alias("split_a"))
    b = safe.select(SF.col("doc_id").alias("id_b"),
                    SF.col("split").alias("split_b"))
    straddle = (
        pairs.join(a, "id_a").join(b, "id_b")
        .filter("split_a <> split_b")
        .count()
    )
    assert straddle == 0
    # contrast: the per-doc split DOES straddle on the same pair set
    plain = SA.hash_split(docs, key="doc_id", fractions=_SPLIT_FRACS)
    pa = plain.select(SF.col("doc_id").alias("id_a"),
                      SF.col("split").alias("split_a"))
    pb = plain.select(SF.col("doc_id").alias("id_b"),
                      SF.col("split").alias("split_b"))
    leaky = (
        pairs.join(pa, "id_a").join(pb, "id_b")
        .filter("split_a <> split_b")
        .count()
    )
    assert leaky > 0


# ---------------------------------------------------------------------------
# Round 8: per-group anchors and int64 raise_error guards
# ---------------------------------------------------------------------------


def test_tvd_per_group_anchor_keeps_late_born_group(spark):
    """Under anchor='per_group' a group confined to one side of the
    GLOBAL midpoint (the late-born error type — exactly the drifted
    population) splits over its OWN span instead of dropping."""
    rows = [
        ("g1", "A", _ts(0.1)),
        ("g1", "B", _ts(9.9)),
        ("g2", "A", _ts(8.0)),
        ("g2", "B", _ts(9.0)),
    ]
    df = spark.createDataFrame(rows, "grp string, cat string, ts timestamp")
    out = {
        r["grp"]: r
        for r in tvd_drift(
            df, ts_col="ts", cat_col="cat", group_cols=["grp"],
            anchor="per_group",
        ).collect()
    }
    # g2 now splits at (8.0 + 9.0)/2: early = {A}, late = {B} -> TVD 1
    assert set(out) == {"g1", "g2"}
    assert out["g1"]["tvd_ppm"] == 1_000_000
    assert out["g2"]["tvd_ppm"] == 1_000_000
    # groups whose span matches the global midpoint agree across modes
    solo = df.filter(F.col("grp") == "g1")
    a = tvd_drift(solo, ts_col="ts", cat_col="cat", group_cols=["grp"])
    b = tvd_drift(
        solo, ts_col="ts", cat_col="cat", group_cols=["grp"],
        anchor="per_group",
    )
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]
    with pytest.raises(ValueError, match="anchor"):
        tvd_drift(df, ts_col="ts", cat_col="cat", anchor="middle")


def test_w1_per_group_anchor_keeps_late_born_group(spark):
    from kafka_dead_letter_analyzer_spark.operators.drift import (
        wasserstein_drift,
    )

    rows = [
        ("g1", 1, _ts(0.1)),
        ("g1", 5, _ts(9.9)),
        ("g2", 2, _ts(8.0)),
        ("g2", 9, _ts(9.0)),
    ]
    df = spark.createDataFrame(rows, "grp string, v long, ts timestamp")
    glob = wasserstein_drift(
        df, ts_col="ts", value_col="v", group_cols=["grp"]
    ).collect()
    assert [r["grp"] for r in glob] == ["g1"]
    per = {
        r["grp"]: r
        for r in wasserstein_drift(
            df, ts_col="ts", value_col="v", group_cols=["grp"],
            anchor="per_group",
        ).collect()
    }
    assert set(per) == {"g1", "g2"}
    # g2: one point at 2 early, one at 9 late -> W1 = 7
    assert per["g2"]["w1_e6"] == 7_000_000


def test_drift_int64_guards_raise_with_sharding_hint(spark, monkeypatch):
    """Each detector's documented int64 bound is now a runtime
    raise_error guard over exact counts — monkeypatch the ceiling down
    so tiny inputs cross it, and assert the raise carries the remedy."""
    import kafka_dead_letter_analyzer_spark.operators.drift as DR

    monkeypatch.setattr(DR, "_I64_MAX", 1000)
    ev = _events(spark, [0.1, 1.2, 2.3, 3.4, 4.5])
    with pytest.raises(Exception, match="shard|coarsen"):
        DR.cusum_changepoint(ev, ts_col="ts").collect()
    cats = spark.createDataFrame(
        [("A", _ts(0.1)), ("B", _ts(5.0)), ("A", _ts(9.9))],
        "cat string, ts timestamp",
    )
    with pytest.raises(Exception, match="shard"):
        DR.tvd_drift(cats, ts_col="ts", cat_col="cat").collect()
    vals = spark.createDataFrame(
        [(1, _ts(0.1)), (900, _ts(5.0)), (3, _ts(9.9))],
        "v long, ts timestamp",
    )
    with pytest.raises(Exception, match="bucket|shard"):
        DR.wasserstein_drift(vals, ts_col="ts", value_col="v").collect()


def test_drift_guards_do_not_fire_at_real_bounds(spark):
    """Sanity: with the real int64 ceiling the guards are inert on
    normal inputs (values identical to the unguarded algebra)."""
    ev = _events(spark, [0.1, 1.2, 1.5, 2.3, 3.4, 7.9])
    row = cusum_changepoint(ev, ts_col="ts").collect()[0]
    assert row["up_ppm"] >= 0 and row["down_ppm"] >= 0


def test_per_group_anchor_keeps_null_group(spark):
    """groupBy keeps NULL as a real group; the per-group anchor join
    must be null-safe or exactly that group's rows silently vanish
    (round-8 review)."""
    rows = [
        (None, "A", _ts(1.0)), (None, "B", _ts(9.0)),
        ("g1", "A", _ts(2.0)), ("g1", "B", _ts(8.0)),
    ]
    df = spark.createDataFrame(rows, "grp string, cat string, ts timestamp")
    out = {
        r["grp"]: r["tvd_ppm"]
        for r in tvd_drift(
            df, ts_col="ts", cat_col="cat", group_cols=["grp"],
            anchor="per_group",
        ).collect()
    }
    assert set(out) == {None, "g1"}
    assert out[None] == 1_000_000 and out["g1"] == 1_000_000


def test_null_group_kept_across_timeline_operators(spark):
    """Round-9 sweep: theilsen_trend, mann_kendall, hampel_outliers,
    and the grouped MG contraction must all keep a NULL group key —
    groupBy treats NULL as a real group, and the timeline/threshold
    join-backs previously dropped it via plain equality.  Each NULL
    group's statistics must equal the same data under a non-NULL
    key."""
    import datetime as dt

    from kafka_dead_letter_analyzer_spark.operators import drift as DR

    e = dt.datetime(2024, 5, 1, tzinfo=dt.timezone.utc)
    evs = [
        (h, 1 + (h % 3)) for h in range(8)
    ]  # 8 hourly buckets, varying counts
    rows = []
    for g in ("a", None):
        for h, c in evs:
            for _ in range(c):
                rows.append((g, e + dt.timedelta(hours=h)))
    df = spark.createDataFrame(rows, "g string, ts timestamp")

    ts = {
        r["g"]: (r["slope_num"], r["slope_den"], r["n"])
        for r in DR.theilsen_trend(
            df, ts_col="ts", group_cols=["g"], bucket="hour"
        ).collect()
    }
    assert set(ts) == {"a", None}
    assert ts["a"] == ts[None]

    mk = {
        r["g"]: (r["s_stat"], r["var18"], r["n_buckets"])
        for r in DR.mann_kendall(
            df, ts_col="ts", group_cols=["g"], bucket="hour"
        ).collect()
    }
    assert set(mk) == {"a", None}
    assert mk["a"] == mk[None]

    ham = DR.hampel_outliers(
        df, ts_col="ts", group_cols=["g"], bucket="hour"
    ).collect()
    by_g = {}
    for r in ham:
        by_g.setdefault(r["g"], []).append(r)
    assert set(by_g) == {"a", None}
    assert len(by_g["a"]) == len(by_g[None]) == 8

    from kafka_dead_letter_analyzer_spark.operators import sketches as SK

    items = [("x", "i1")] * 5 + [("x", "i2")] * 3 + [("x", "i3")] * 1
    items += [(None, "i1")] * 5 + [(None, "i2")] * 3 + [(None, "i3")] * 1
    idf = spark.createDataFrame(items, "g string, item string")
    mg = SK.mg_summary(idf, key="item", k=2, group_cols=["g"])
    out = {}
    for r in mg.collect():
        out.setdefault(r["g"], set()).add(
            (r["item"], r["count_lower"])
        )
    # both groups present with identical summaries
    assert set(out) == {"x", None}
    assert out["x"] == out[None]


def test_cluster_safe_split_operator_contract(spark):
    """r12: the packaged cluster_safe_split equals the manual
    CC-rep + hash_split composition the leakage test above builds by
    hand, guarantees zero straddling pairs, and leaves singletons on
    their plain hash_split assignment (eval stability: adding edges
    never reshuffles untouched rows)."""
    import pyspark.sql.functions as SF

    from kafka_dead_letter_analyzer_spark.operators import (
        dedup as D,
        sampling as SA,
    )
    from kafka_dead_letter_analyzer_spark.sources.batch import load_table

    fracs = {"train": 0.8, "val": 0.1, "test": 0.1}
    sf_dir = "/root/testdata/sf0.001"
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = D.dedup_near_minhash(
        load_table(spark, sf_dir, "documents"),
        num_hashes=64, bands=32, threshold=0.5,
    ).cache()
    assert pairs.count() > 0
    out = SA.cluster_safe_split(docs, pairs, fracs).cache()
    # every near-dup pair lands in ONE split — the leakage guarantee
    a = out.select(SF.col("doc_id").alias("id_a"),
                   SF.col("split").alias("sa"),
                   SF.col("cluster_rep").alias("ra"))
    b = out.select(SF.col("doc_id").alias("id_b"),
                   SF.col("split").alias("sb"),
                   SF.col("cluster_rep").alias("rb"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    assert joined.filter("sa <> sb").count() == 0
    assert joined.filter("ra <> rb").count() == 0
    # singletons (docs in no pair) keep the PLAIN hash_split draw on
    # their own id — rep == id and split == hash_split's
    ids_in_pairs = (
        pairs.select(SF.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(SF.col("id_b").alias("doc_id")))
        .distinct()
    )
    singles = out.join(ids_in_pairs, "doc_id", "left_anti")
    assert singles.filter("cluster_rep <> doc_id").count() == 0
    plain = SA.hash_split(docs, key="doc_id", fractions=fracs).select(
        "doc_id", SF.col("split").alias("plain_split")
    )
    diverging = (
        singles.join(plain, "doc_id")
        .filter("split <> plain_split")
        .count()
    )
    assert diverging == 0
    # rep salt-draws differ from the member's own-id draw, so at least
    # one clustered member changed split vs plain (the fix is visible)
    assert out.count() == docs.count()
    pairs.unpersist()
    out.unpersist()


def test_mixture_rates_for_budget_water_filling():
    """r12: the mixing-rate solver's exact invariants — total
    allocation = min(budget, capacity); per-component allocation never
    exceeds available*max_rate; allocation is target-proportional
    among UNSATURATED components; saturated deficit redistributes;
    impossible budgets report the shortfall; validation raises.  Pure
    driver math, no Spark session."""
    from fractions import Fraction

    from kafka_dead_letter_analyzer_spark.operators.sampling import (
        mixture_rates_for_budget,
    )

    # no saturation: plain proportional split
    r = mixture_rates_for_budget(
        {"web": 10_000, "code": 10_000}, {"web": 0.75, "code": 0.25}, 4_000
    )
    assert r["allocated"] == {"web": 3_000, "code": 1_000}
    assert r["shortfall"] == 0
    assert abs(r["rates"]["web"] - 0.3) < 1e-12

    # saturation + redistribution: code can only supply 1_000 of its
    # 2_000 share; the deficit flows to web
    r = mixture_rates_for_budget(
        {"web": 100_000, "code": 1_000}, {"web": 0.5, "code": 0.5}, 4_000
    )
    assert r["allocated"]["code"] == 1_000
    assert r["allocated"]["web"] == 3_000
    assert r["rates"]["code"] == 1.0
    assert r["shortfall"] == 0

    # max_rate headroom caps supply
    r = mixture_rates_for_budget(
        {"web": 100_000, "code": 1_000}, {"web": 0.5, "code": 0.5},
        4_000, max_rate=0.5,
    )
    assert r["allocated"]["code"] == 500
    assert r["allocated"]["web"] == 3_500
    assert r["rates"]["code"] == 0.5

    # impossible budget: everything saturates, shortfall reported
    r = mixture_rates_for_budget(
        {"web": 1_000, "code": 1_000}, {"web": 0.5, "code": 0.5}, 10_000
    )
    assert r["allocated"] == {"web": 1_000, "code": 1_000}
    assert r["shortfall"] == 8_000
    assert r["rates"] == {"web": 1.0, "code": 1.0}

    # proportionality among unsaturated components (3-way, one cap)
    r = mixture_rates_for_budget(
        {"a": 10**9, "b": 10**9, "c": 100},
        {"a": 0.5, "b": 0.3, "c": 0.2},
        1_000_000,
    )
    assert r["allocated"]["c"] == 100
    ra = Fraction(r["allocated"]["a"], 5)
    rb = Fraction(r["allocated"]["b"], 3)
    assert abs(ra - rb) <= 1  # proportional to 0.5 : 0.3 (floor slack)
    assert sum(r["allocated"].values()) >= 1_000_000 - 2  # floor slack
    assert r["shortfall"] == 0

    # fractional thirds: floors must not read as shortfall
    r = mixture_rates_for_budget(
        {"a": 10**6, "b": 10**6, "c": 10**6},
        {"a": 1, "b": 1, "c": 1},
        100,
    )
    assert r["shortfall"] == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="budget"):
        mixture_rates_for_budget({"a": 1}, {"a": 1.0}, -1)
    with _pytest.raises(ValueError, match="max_rate"):
        mixture_rates_for_budget({"a": 1}, {"a": 1.0}, 1, max_rate=0.0)
    with _pytest.raises(ValueError, match="missing"):
        mixture_rates_for_budget({"a": 1}, {"b": 1.0}, 1)
    with _pytest.raises(ValueError, match="proportions"):
        mixture_rates_for_budget({"a": 1}, {"a": 0.0}, 1)


def test_mixture_budget_closed_form_equals_iterative_solver():
    """r13 (the x_mixture_budget_sample oracle's soundness): the
    sorted-prefix closed form the DuckDB oracle transcribes — sort by
    capacity/weight ascending, a row saturates iff its capacity <= its
    proportional share of what remains after ALL earlier rows' full
    capacities (integer cross-multiplication; unsat rows provably
    propagate false down the order) — computes EXACTLY the iterative
    exact-rational water-filling fixed point: identical integer
    allocations AND identical float rates (so identical u32
    thresholds), on random instances including budget > capacity
    (every row saturated) and budget 0."""
    from fractions import Fraction

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kafka_dead_letter_analyzer_spark.operators.sampling import (
        mixture_rates_for_budget,
    )

    def closed_form(avail, w, budget):
        comps = sorted(
            avail, key=lambda c: (Fraction(avail[c], w[c]), c)
        )
        w_tot = sum(w.values())
        cap_before = w_before = 0
        sat = set()
        for c in comps:
            if (
                avail[c] * (w_tot - w_before)
                <= (budget - cap_before) * w[c]
            ):
                sat.add(c)
            cap_before += avail[c]
            w_before += w[c]
        cap_sat = sum(avail[c] for c in sat)
        w_rem = w_tot - sum(w[c] for c in sat)
        alloc, rates = {}, {}
        for c in comps:
            if c in sat:
                alloc[c] = avail[c]
                rates[c] = 1.0
            else:
                fr = Fraction((budget - cap_sat) * w[c], w_rem)
                alloc[c] = int(fr)
                rates[c] = float(fr / avail[c])
        return alloc, rates

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=10**7),
                st.integers(min_value=1, max_value=100),
            ),
            min_size=1,
            max_size=8,
        ),
        st.integers(min_value=0, max_value=3 * 10**7),
    )
    def check(rows, budget):
        avail = {f"s{i}": a for i, (a, _) in enumerate(rows)}
        w = {f"s{i}": wt for i, (_, wt) in enumerate(rows)}
        got = mixture_rates_for_budget(avail, w, budget)
        cap = sum(avail.values())
        if budget >= cap:
            # everything saturates; the closed form's unsat branch
            # never runs (w_rem may be 0) — check directly
            assert got["allocated"] == avail
            assert got["rates"] == {c: 1.0 for c in avail}
            assert got["shortfall"] == budget - cap
            return
        alloc, rates = closed_form(avail, w, budget)
        assert got["allocated"] == alloc
        assert got["rates"] == rates
        assert got["shortfall"] == 0
        # thresholds (what mixture_sample codegens) match too
        assert {
            c: int(r * (1 << 32)) for c, r in got["rates"].items()
        } == {c: int(r * (1 << 32)) for c, r in rates.items()}

    check()


def test_counts_df_passthrough_identical_all_detectors(spark):
    """counts_df (the x_drift_report shared-contraction path): each of
    the four timeline detectors must return byte-identical rows when
    fed bucket_counts output instead of building its own contraction —
    including cusum, whose internal bucket key is micros
    (t * bucket_us) rather than the shared t index; exercised on a
    multi-group timeline with gaps, ties, and a pre-1970 timestamp
    (negative micros: DIV and % both truncate toward zero, the
    equivalence the cusum branch relies on)."""
    import datetime as _dt

    from kafka_dead_letter_analyzer_spark.operators.drift import (
        bucket_counts,
        hampel_outliers,
        mann_kendall,
        theilsen_trend,
    )

    rows = []
    for g, hours in (
        ("a", [0, 0, 1, 5, 5, 5, 9]),
        ("b", [2, 3, 3, 4]),
    ):
        rows += [(g, _ts(h)) for h in hours]
    # negative-micros group (before the 1970 epoch), kept to its own
    # small span so the per-group max_buckets probes stay tiny
    for h in (5, 5.5, 7):
        rows.append(
            ("c", _dt.datetime(1969, 12, 30, int(h), int(h % 1 * 60),
                               tzinfo=_dt.timezone.utc))
        )
    rows.append(("a", None))  # null ts excluded on both paths
    df = spark.createDataFrame(rows, "grp string, ts timestamp")

    counts = bucket_counts(df, ts_col="ts", group_cols=["grp"], bucket="hour")
    for op, kw in (
        (cusum_changepoint, {}),
        (theilsen_trend, {"max_buckets": 100_000}),
        (mann_kendall, {"max_buckets": 100_000}),
        (hampel_outliers, {"half_window": 3, "max_buckets": 1_000_000}),
    ):
        inline = {
            tuple(r)
            for r in op(
                df, ts_col="ts", group_cols=["grp"], bucket="hour", **kw
            ).collect()
        }
        shared = {
            tuple(r)
            for r in op(
                df, ts_col="ts", group_cols=["grp"], bucket="hour",
                counts_df=counts, **kw
            ).collect()
        }
        assert inline == shared, (op.__name__, inline ^ shared)


def test_span_probe_memo_guard_still_fires_on_memo_hit(spark):
    """Detectors sharing one counts frame each run their own span probe
    against their own cap: a LATER detector with a TIGHTER
    max_buckets cap must still raise, and a fresh counts frame passes
    its own generous cap."""
    from kafka_dead_letter_analyzer_spark.operators.drift import (
        bucket_counts,
        mann_kendall,
        theilsen_trend,
    )

    df = _events(spark, list(range(30)))  # 30 hourly buckets
    shared = bucket_counts(
        df, ts_col="ts", group_cols=["grp"], bucket="hour"
    )
    # first detector: generous cap, no raise
    theilsen_trend(
        df, ts_col="ts", group_cols=["grp"], bucket="hour",
        counts_df=shared,
    ).collect()
    # second detector, SAME frame, tighter cap: must raise (the guard
    # is per-caller)
    with pytest.raises(ValueError, match="max_buckets=5"):
        mann_kendall(
            df, ts_col="ts", group_cols=["grp"], bucket="hour",
            counts_df=shared, max_buckets=5,
        ).collect()
    # a FRESH frame passes its own generous cap
    fresh = bucket_counts(
        df, ts_col="ts", group_cols=["grp"], bucket="hour"
    )
    got = mann_kendall(
        df, ts_col="ts", group_cols=["grp"], bucket="hour",
        counts_df=fresh,
    ).collect()
    assert got  # non-degenerate


def test_counts_df_validation_raises(spark):
    """counts_df with the wrong column shape must raise, and cusum must
    reject the counts_df + weight_expr combination."""
    from kafka_dead_letter_analyzer_spark.operators.drift import (
        bucket_counts,
        theilsen_trend,
    )

    df = _events(spark, [0, 1, 2])
    good = bucket_counts(df, ts_col="ts", group_cols=["grp"], bucket="hour")
    bad = good.withColumnRenamed("x", "n")
    with pytest.raises(ValueError, match="counts_df must have columns"):
        theilsen_trend(
            df, ts_col="ts", group_cols=["grp"], bucket="hour", counts_df=bad
        ).collect()
    with pytest.raises(ValueError, match="weight_expr"):
        cusum_changepoint(
            df, ts_col="ts", group_cols=["grp"], bucket="hour",
            counts_df=good, weight_expr="1",
        )


# ---------------------------------------------------------------------------
# _cusum_kernel / _hampel_kernel: the per-group numpy CUSUM and Hampel
# kernels, against the O(B) full-timeline references above (no JVM)


def _kernel_cusum(sparse):
    import numpy as np

    from kafka_dead_letter_analyzer_spark.operators import drift as DR

    ts = sorted(sparse, reverse=True)  # the kernel takes rows in any order
    got = DR._cusum_kernel(
        np.array(ts, dtype=np.int64),
        np.array([sparse[t] for t in ts], dtype=np.int64),
        DR._I64_MAX,
    )
    return {
        "n": got["n"],
        "buckets": got["buckets"],
        "up_ppm": got["up_ppm"],
        "up_bucket": got["up_t"],
        "down_ppm": got["down_ppm"],
        "down_bucket": got["down_t"],
    }


def _kernel_hampel(sparse, hw, k):
    import numpy as np

    from kafka_dead_letter_analyzer_spark.operators import drift as DR

    ts = list(sparse)
    lo, dense = DR._densify(
        np.array(ts, dtype=np.int64),
        np.array([sparse[t] for t in ts], dtype=np.int64),
    )
    med, mad, flagged = DR._hampel_kernel(dense, hw, k, 1)
    return {
        lo + i: (int(dense[i]), int(med[i]), int(mad[i]), bool(flagged[i]))
        for i in range(len(dense))
    }


def test_cusum_and_hampel_kernels_match_brute_force_property():
    """Property: for ANY sparse timeline — short and dense, or long
    with all-zero stretches, before or after the 1970 epoch — the CUSUM
    kernel equals the full-timeline walk ``_brute_cusum`` (earliest
    bucket on ties) and the Hampel kernel equals ``_brute_hampel`` on
    every bucket of the densified span (shorter edge windows)."""
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    def timelines(lo, hi, max_size):
        return st.dictionaries(
            st.integers(min_value=lo, max_value=hi),  # bucket index
            st.integers(min_value=1, max_value=4),    # events in it
            min_size=1,
            max_size=max_size,
        )

    @settings(max_examples=300, deadline=None)
    @given(
        st.one_of(timelines(0, 8, 9), timelines(-60, 60, 25)),
        st.integers(min_value=1, max_value=4),  # half_window
        st.integers(min_value=0, max_value=3),  # k
    )
    @example({5: 3}, 3, 3)  # single bucket: 0/0 deviations, one window
    @example({0: 3, 1: 3, 7: 1}, 3, 3)  # last bucket under the mean
    @example({0: 1, 1: 1, 2: 1, 3: 1}, 1, 3)  # every deviation ties at 0
    @example({0: 1, 1: 1, 2: 4, 3: 4}, 1, 3)  # clean step: up == down
    @example({-30: 2, -29: 1, -27: 4, -3: 4}, 2, 0)  # negative t
    def check(sparse, hw, k):
        hours = [t for t, c in sparse.items() for _ in range(c)]
        assert _kernel_cusum(sparse) == _brute_cusum(hours), sparse
        lo = min(sparse)
        dense = [sparse.get(t, 0) for t in range(lo, max(sparse) + 1)]
        want = {
            lo + i: (x, med, mad, bool(fl))
            for i, (x, med, mad, fl) in _brute_hampel(dense, hw, k).items()
        }
        assert _kernel_hampel(sparse, hw, k) == want, (sparse, hw, k)

    check()
