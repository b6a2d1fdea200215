"""Property-based tests: the vectorized pandas helpers must equal the
scalar reference implementations on arbitrary inputs (hypothesis)."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from otlp_cardinality_checker_spark.functions.attributes import (
    attrs_frame,
    extract_attrs,
)
from otlp_cardinality_checker_spark.functions.severity import (
    severity_of,
    severity_series,
)

# strings that stress the mask chain: quotes, urls, hex, digits, unicode
_CHARS = st.text(
    alphabet='abcdef0123456789 -:./?"=_<>*µ�é\uff11\u0662\u00a0漢',
    min_size=0,
    max_size=24,
)
_TOKENS = st.sampled_from(
    ["GET ", "http://", "user_", "error", "warn ", " retries", "txn_", "HTTP/1.1\" "]
)
TEXT = st.lists(st.one_of(_CHARS, _TOKENS), min_size=0, max_size=8).map("".join)


@settings(max_examples=300, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_severity_vectorized_equals_scalar(texts):
    s = pd.Series(texts, dtype="string")
    vec = list(severity_series(s))
    scal = [severity_of(t) for t in texts]
    assert vec == scal


@settings(max_examples=200, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=8))
def test_attrs_vectorized_equals_scalar(texts):
    s = pd.Series(texts, dtype="string")
    frame = attrs_frame(s)
    for i, t in enumerate(texts):
        expected = extract_attrs(t)
        got = {
            k: v
            for k, v in frame.iloc[i].items()
            if v is not pd.NA and pd.notna(v)
        }
        assert got == expected


# ---- session-6 statistical operators: Spark vs pure-Python references ----
# These run one shared Spark job per case batch (not per example) by
# sampling a LIST of cases and checking them in a single DataFrame pass.


def _cusum_ref(counts, k_sigma=0.5):
    import math

    n = len(counts)
    s1, s2 = sum(counts), sum(c * c for c in counts)
    mu = s1 / n
    sigma = math.sqrt(max((n * s2 - s1 * s1) / (n * n), 0.0))
    s, out = 0.0, []
    for c in counts:
        s = max(0.0, s + (c - mu - k_sigma * sigma))
        out.append(round(s, 6))
    return out


def test_cusum_identity_property(spark):
    """The prefix-scan identity equals the recursion for arbitrary
    hourly count series (hypothesis-driven series, one Spark pass)."""
    import datetime as dt

    import random

    from otlp_cardinality_checker_spark.operators.anomaly import cusum_drift

    rng = random.Random(1234)
    cases = [
        [rng.randint(0, 40) for _ in range(rng.randint(2, 30))]
        for _ in range(8)
    ]
    base = dt.datetime(2024, 1, 1)
    rows = []
    for gi, counts in enumerate(cases):
        eid = 0
        for h, c in enumerate(counts):
            for _ in range(c):
                rows.append(
                    (gi * 100000 + eid, f"g{gi}",
                     base + dt.timedelta(hours=h, minutes=1))
                )
                eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp"
    )
    got = {}
    for r in cusum_drift(ev).collect():
        got.setdefault(r["event_type"], []).append((r["bucket"], r["cusum"]))
    for gi, counts in enumerate(cases):
        # buckets with zero count produce no row; the generated series
        # may contain zeros — compare only non-empty buckets, using the
        # reference computed over the OBSERVED (non-empty) sequence,
        # which is exactly what the operator sees
        observed = [c for c in counts if c > 0]
        if not observed:
            assert f"g{gi}" not in got
            continue
        vals = [v for _, v in sorted(got[f"g{gi}"])]
        assert vals == _cusum_ref(observed)


def test_zipf_fit_matches_numpy_regression_property(spark):
    import math
    import random

    import numpy as np

    from otlp_cardinality_checker_spark.operators.text_analysis import zipf_fit

    rng = random.Random(99)
    rows = []
    truth = {}
    for gi in range(6):
        n_types = rng.randint(2, 20)
        counts = sorted(
            (rng.randint(1, 500) for _ in range(n_types)), reverse=True
        )
        # distinct tokens; build text with exact counts
        text = " ".join(
            " ".join(f"g{gi}t{t:02d}" for _ in range(c))
            for t, c in enumerate(counts)
        )
        rows.append((gi, f"s{gi}", text))
        truth[f"s{gi}"] = counts
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    got = {r["source"]: r for r in zipf_fit(docs, top_n=128).collect()}
    for src, counts in truth.items():
        # ranks assigned by (count desc, token asc) — tokens were named
        # in descending-count order so ranks follow the sort exactly
        srt = sorted(counts, reverse=True)
        xs = np.log(np.arange(1, len(srt) + 1, dtype=float))
        ys = np.log(np.array(srt, dtype=float))
        n = float(len(srt))
        vx = n * (xs * xs).sum() - xs.sum() ** 2
        vy = n * (ys * ys).sum() - ys.sum() ** 2
        cov = n * (xs * ys).sum() - xs.sum() * ys.sum()
        g = got[src]
        if vx > 1e-9:
            assert abs(g["zipf_slope"] - round(cov / vx, 6)) <= 1e-4
        if vx > 1e-9 and vy > 1e-9:
            assert abs(g["r2"] - round(cov * cov / (vx * vy), 6)) <= 1e-4
