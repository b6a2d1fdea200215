"""Volume-spike detection: baseline gating, z math, planted-spike recall."""

from __future__ import annotations

import datetime as dt

import pytest

from otlp_cardinality_checker_spark.operators.anomaly import volume_spikes


def _hour(h):
    return dt.datetime(2026, 3, 1, h)


@pytest.fixture(scope="module")
def planted(spark):
    """svc_a: hours 0-5 alternate 10/12 events, hour 6 spikes to 100.
    svc_b: constant 5 events/hour (zero variance -> z undefined)."""
    rows = []
    for h in range(6):
        n = 10 if h % 2 == 0 else 12
        rows += [("svc_a", _hour(h))] * n
        rows += [("svc_b", _hour(h))] * 5
    rows += [("svc_a", _hour(6))] * 100
    rows += [("svc_b", _hour(6))] * 5
    return spark.createDataFrame(rows, "svc string, ts timestamp")


def test_planted_spike_flagged(planted):
    out = {
        (r["group"], r["window_start"].hour): r
        for r in volume_spikes(planted, "svc", trailing=6).collect()
    }
    spike = out[("svc_a", 6)]
    assert spike["is_spike"] == 1 and spike["z"] > 3
    assert spike["baseline_n"] == 6
    assert spike["baseline_mean"] == 11.0  # mean of 10,12,10,12,10,12


def test_half_filled_baseline_never_alarms(planted):
    out = {
        (r["group"], r["window_start"].hour): r
        for r in volume_spikes(planted, "svc", trailing=6).collect()
    }
    for h in range(6):  # fewer than 6 prior windows
        assert out[("svc_a", h)]["z"] is None
        assert out[("svc_a", h)]["is_spike"] is None


def test_zero_variance_baseline_undefined(planted):
    out = {
        (r["group"], r["window_start"].hour): r
        for r in volume_spikes(planted, "svc", trailing=6).collect()
    }
    b6 = out[("svc_b", 6)]
    # full baseline but std == 0: z must be NULL, not an alarm or a crash
    assert b6["baseline_n"] == 6 and b6["baseline_std"] == 0.0
    assert b6["z"] is None and b6["is_spike"] is None


def test_no_false_alarm_below_threshold(planted):
    flagged = [
        r
        for r in volume_spikes(planted, "svc", trailing=6).collect()
        if r["is_spike"] == 1
    ]
    assert [(r["group"], r["window_start"].hour) for r in flagged] == [
        ("svc_a", 6)
    ]


def test_trailing_validation(planted):
    with pytest.raises(ValueError, match="trailing"):
        volume_spikes(planted, "svc", trailing=1)


def test_winsorize_audit_hand_computed(spark):
    """1..100 with two planted outliers: exact interpolated p01/p99
    bounds and clip accounting recomputed by hand (numpy linear
    quantile = Spark percentile = DuckDB quantile_cont)."""
    import numpy as np

    from otlp_cardinality_checker_spark.operators.anomaly import (
        winsorize_audit,
    )

    vals = list(range(1, 101)) + [10_000, -10_000]
    rows = [(i, "a", float(v)) for i, v in enumerate(vals)]
    rows += [(200, "b", 1.0), (201, "b", None)]  # null excluded
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    got = {r["event_type"]: r for r in winsorize_audit(ev).collect()}

    a = np.array(sorted(float(v) for v in vals))
    lo_b = float(np.quantile(a, 0.01))
    hi_b = float(np.quantile(a, 0.99))
    g = got["a"]
    assert g["n_rows"] == 102
    assert abs(g["lo_bound"] - round(lo_b, 6)) <= 1e-6
    assert abs(g["hi_bound"] - round(hi_b, 6)) <= 1e-6
    n_lo = int((a < lo_b).sum())
    n_hi = int((a > hi_b).sum())
    assert g["n_clipped_low"] == n_lo and g["n_clipped_high"] == n_hi
    excess = float(((lo_b - a[a < lo_b]).sum() + (a[a > hi_b] - hi_b).sum()))
    assert abs(g["excess_mass"] - round(excess, 4)) <= 1e-3

    b = got["b"]  # single non-null value: bounds collapse onto it
    assert b["n_rows"] == 1 and b["n_clipped_low"] == 0
    assert b["n_clipped_high"] == 0 and b["excess_mass"] == 0.0


def test_cusum_prefix_scan_identity_vs_recursion(spark):
    """The declarative S = P - min(0, runmin(P)) must equal the textbook
    recursion S_t = max(0, S_{t-1} + x_t) computed in Python, on a
    planted level-shift series (stable weeks then a sustained +3/hour
    shift) — and the shift must raise the alarm while the stable prefix
    stays quiet."""
    import datetime as dt
    import math

    from otlp_cardinality_checker_spark.operators.anomaly import cusum_drift

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    counts = [5, 6, 5, 4, 5, 6, 5, 4] * 6 + [9, 10, 9, 10, 9, 10, 9, 10]
    for h, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, "a", base + dt.timedelta(hours=h, minutes=1)))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id long, event_type string, ts timestamp")
    got = sorted(
        cusum_drift(ev, k_sigma=0.5, h_sigma=4.0).collect(),
        key=lambda r: r["bucket"],
    )
    assert len(got) == len(counts)

    n = len(counts)
    s1, s2 = sum(counts), sum(c * c for c in counts)
    mu = s1 / n
    sigma = math.sqrt(max((n * s2 - s1 * s1) / (n * n), 0.0))
    s_ref, alarms = 0.0, []
    for c, r in zip(counts, got):
        s_ref = max(0.0, s_ref + (c - mu - 0.5 * sigma))
        assert abs(r["cusum"] - round(s_ref, 6)) <= 1e-6
        alarms.append(r["alarm"])
    assert not any(alarms[:48])          # stable prefix: quiet
    assert any(alarms[48:])              # sustained shift: alarm fires


def test_cusum_resets_after_excursion(spark):
    """A single spike followed by a long quiet run drains S back to ~0
    (the max(0, .) clamp) — pin that the identity reproduces the drain."""
    import datetime as dt

    from otlp_cardinality_checker_spark.operators.anomaly import cusum_drift

    base = dt.datetime(2024, 1, 1)
    counts = [5] * 10 + [50] + [5] * 30
    rows, eid = [], 0
    for h, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, "a", base + dt.timedelta(hours=h, minutes=1)))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id long, event_type string, ts timestamp")
    got = sorted(cusum_drift(ev).collect(), key=lambda r: r["bucket"])
    assert got[10]["cusum"] > got[9]["cusum"]      # spike raises S
    assert got[-1]["cusum"] == 0.0                 # long quiet run drains it


def test_robust_outliers_catches_what_sigma_hides(spark):
    """99 values near 10 plus one at 10_000: the outlier inflates a
    mean/sigma z below 3.5 zmax... but the modified z flags it; and a
    constant group (MAD 0) reports NULL outlier columns, never
    divide-by-zero flags."""
    import numpy as np

    from otlp_cardinality_checker_spark.operators.anomaly import (
        robust_outliers,
    )

    base = [10.0 + (i % 7) * 0.1 for i in range(99)]
    vals = base + [10_000.0]
    rows = [(i, "a", v) for i, v in enumerate(vals)]
    rows += [(200 + i, "const", 5.0) for i in range(10)]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    got = {r["event_type"]: r for r in robust_outliers(ev).collect()}

    a = np.array(vals)
    med = float(np.quantile(a, 0.5))
    mad = float(np.quantile(np.abs(a - med), 0.5))
    g = got["a"]
    assert g["n_rows"] == 100
    assert abs(g["median"] - round(med, 6)) <= 1e-6
    assert abs(g["mad"] - round(mad, 6)) <= 1e-6
    assert g["n_outliers"] == int((np.abs(a - med) / (1.4826 * mad) > 3.5).sum())
    assert g["n_outliers"] >= 1           # the planted outlier is flagged
    # classic mean/sigma z of the same point stays under ~10 while the
    # robust z is astronomically larger — the masking effect, quantified
    sigma = a.std()
    assert (10_000.0 - a.mean()) / sigma < 10.0
    assert g["max_robust_z"] > 1000.0

    c = got["const"]
    assert c["mad"] == 0.0
    assert c["n_outliers"] is None and c["max_robust_z"] is None


def test_spike_attribution_finds_the_driving_dimension(spark):
    """Stable traffic from many users, then one user floods a single
    hour: the max-z window must be that hour and the flooder must rank
    first with excess ~= its flood volume."""
    import datetime as dt

    from otlp_cardinality_checker_spark.operators.anomaly import (
        spike_attribution,
    )

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    # 12 hours of NOISY background (z needs baseline std > 0):
    # users 1..4, 3 or 4 events each depending on hour parity
    for h in range(12):
        for u in (1, 2, 3, 4):
            for _ in range(3 + h % 2):
                rows.append((eid, "a", u,
                             base + dt.timedelta(hours=h, minutes=5)))
                eid += 1
    # hour 10: user 99 floods 60 extra events
    for _ in range(60):
        rows.append((eid, "a", 99, base + dt.timedelta(hours=10, minutes=30)))
        eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, ts timestamp"
    )
    got = sorted(spike_attribution(ev).collect(), key=lambda r: r["rank"])
    assert got, "spike window must be found"
    assert got[0]["window_start"] == base + dt.timedelta(hours=10)
    top = got[0]
    assert top["dim_value"] == 99 and top["n_window"] == 60
    assert top["baseline_rate"] == 0.0 and top["excess"] == 60.0
    # background users contribute ~zero excess (their rate wobble is
    # the 3-vs-4 parity, well under the flood)
    assert all(abs(r["excess"]) < 2.0 for r in got[1:])


def test_type_correlation_exact_signs(spark):
    """Perfectly co-moving types give r=1, anti-moving give r=-1, and a
    type absent in some hours enters as ZERO volume (domain completion),
    not a missing pair — all recomputed by numpy."""
    import datetime as dt

    import numpy as np

    import __spark_entry__ as m

    b = dt.datetime(2024, 1, 1)
    series = {
        "up": [1, 2, 3, 4],
        "up2": [2, 4, 6, 8],
        "down": [4, 3, 2, 1],
        "gappy": [0, 5, 0, 5],   # hour 0/2 rows absent -> completed as 0
    }
    rows, eid = [], 0
    for t, counts in series.items():
        for h, c in enumerate(counts):
            for _ in range(c):
                rows.append((eid, t, 1, 1.0,
                             b + dt.timedelta(hours=h, minutes=1)))
                eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, event_type string, user_id long, value double, "
        "ts timestamp",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(f"{d}/events.parquet")
        got = {(r["t1"], r["t2"]): r["pearson_r"]
               for r in m.queries()["type_correlation"](spark, d).collect()}
    for (t1, t2), r in got.items():
        want = np.corrcoef(series[t1], series[t2])[0, 1]
        assert abs(r - round(float(want), 6)) <= 1e-4, (t1, t2)
    assert got[("up", "up2")] == 1.0 and got[("down", "up")] == -1.0


def test_hopping_distinct_users_window_membership(spark):
    """A user active at 10:30 must appear in the six windows starting
    05:00..10:00 (6h size, 1h hop) and no others; distinct counting
    dedups multi-event users within a window."""
    import datetime as dt

    from otlp_cardinality_checker_spark.operators.rollup import (
        hopping_distinct_users,
    )

    b = dt.datetime(2024, 1, 1)
    rows = [
        (0, 7, b + dt.timedelta(hours=10, minutes=30)),
        (1, 7, b + dt.timedelta(hours=10, minutes=45)),   # same user
        (2, 8, b + dt.timedelta(hours=10, minutes=50)),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {r["window_start"]: r for r in
           hopping_distinct_users(ev, 21600, 3600).collect()}
    starts = sorted(got)
    assert starts[0] == b + dt.timedelta(hours=5)
    assert starts[-1] == b + dt.timedelta(hours=10)
    assert len(starts) == 6
    assert all(got[s]["n_users"] == 2 and got[s]["n_events"] == 3
               for s in starts)


def test_burstiness_separates_poisson_from_bursty(spark):
    """Metronomic traffic (same count every hour) -> Fano 0; all events
    crammed into one hour of many -> Fano >> 1; hand-check the numbers."""
    import datetime as dt

    from otlp_cardinality_checker_spark.operators.anomaly import burstiness

    b = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    for h in range(10):
        for _ in range(5):          # metronome: 5/hour
            rows.append((eid, "flat", b + dt.timedelta(hours=h)))
            eid += 1
    for _ in range(50):             # burst: all in hour 0
        rows.append((eid, "burst", b))
        eid += 1
    ev = spark.createDataFrame(rows, "event_id long, event_type string, ts timestamp")
    got = {r["event_type"]: r for r in burstiness(ev).collect()}
    assert got["flat"]["fano_factor"] == 0.0
    assert got["flat"]["mean_rate"] == 5.0
    # burst type has ONE non-empty window -> var 0 over its own windows:
    # n_windows counts NON-EMPTY windows (documented gap semantics)
    assert got["burst"]["n_windows"] == 1


def test_window_seconds_units(spark):
    """r6 (advisor): day/week durations are valid F.window strings and
    must map; unsupported units raise a clear ValueError up front, not a
    KeyError after the expensive upstream pass."""
    import pytest as _pytest

    from otlp_cardinality_checker_spark.operators.anomaly import (
        _window_seconds,
    )

    assert _window_seconds("1 day") == 86400
    assert _window_seconds("2 weeks") == 2 * 604800
    assert _window_seconds("30 minutes") == 1800
    with _pytest.raises(ValueError, match="unsupported window_duration"):
        _window_seconds("3 fortnights")
