"""Property-based codec tests (hypothesis): an encoder/decoder pair must
roundtrip arbitrary valid inputs bit-exactly — channel interleaving and
sample packing have no "almost right" failure modes a fixed fixture set
is guaranteed to hit."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from otlp_cardinality_checker_spark.functions.wav import decode_wav, encode_wav


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=500),  # samples
    st.integers(min_value=1, max_value=2),    # channels
    st.integers(min_value=0, max_value=2**31),
)
def test_wav_roundtrips_arbitrary_samples(n, ch, seed):
    rng = np.random.default_rng(seed)
    samples = rng.integers(-32768, 32768, size=(n, ch), dtype=np.int16)
    out, rate = decode_wav(encode_wav(samples if ch > 1 else samples[:, 0], 16000))
    assert rate == 16000
    assert out.shape == (n, ch)
    assert (out == samples).all()
