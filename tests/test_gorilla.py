"""Property tests for the Gorilla codec: decode(encode(x)) bit-exact."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from sen2rts_spark.kernels.gorilla import gorilla_decode, gorilla_encode


def _roundtrip(ts, vals):
    ts = np.asarray(ts, dtype=np.int64)
    vals = np.asarray(vals, dtype=np.float64)
    ots, ovals = gorilla_decode(gorilla_encode(ts, vals))
    assert np.array_equal(ots, ts)
    assert np.array_equal(ovals.view(np.uint64), vals.view(np.uint64))


def test_empty_and_singleton():
    _roundtrip([], [])
    _roundtrip([1234567890], [3.14159])


def test_regular_cadence_constant():
    ts = np.arange(0, 86400 * 30, 86400, dtype=np.int64)
    _roundtrip(ts, np.full(len(ts), 0.25))


def test_typical_series():
    ts = np.int64(1577836800) + np.cumsum(
        np.array([0, 86400, 86400, 172800, 86400, 90000, 86400], dtype=np.int64))
    vals = np.array([0.1, 0.1, 0.15, np.nan, -0.3, 1e300, 0.0])
    _roundtrip(ts, vals)


def test_compression_ratio_on_smooth_series():
    ts = np.arange(0, 86400 * 365, 86400, dtype=np.int64)
    vals = np.round(np.sin(np.arange(365) / 58.0) * 0.4 + 0.5, 3)
    blob = gorilla_encode(ts, vals)
    raw = len(ts) * 16
    assert len(blob) < raw * 0.7, (len(blob), raw)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=0, max_size=200),
    st.data(),
)
def test_roundtrip_property(raw_ts, data):
    ts = np.sort(np.array(raw_ts, dtype=np.int64))
    vals = data.draw(st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        min_size=len(ts), max_size=len(ts)))
    _roundtrip(ts, vals)


def test_decode_fast_path_regular_cadence():
    """The tier layout (constant cadence) takes the vectorized timestamp
    path; irregular and mixed cadences take the general walk. All three
    must roundtrip bit-exactly and agree with each other at the seams."""
    rng = np.random.default_rng(3)
    vals = np.cumsum(rng.normal(0, 0.01, 500)) + 0.5
    regular = np.arange(500, dtype=np.int64) * 86400 + 1_577_836_800
    irregular = np.sort(rng.choice(10**8, 500, replace=False)).astype(np.int64)
    # regular except ONE late gap — must fall back to the general walk
    mixed = regular.copy()
    mixed[400:] += 3600
    for ts in (regular, irregular, mixed):
        rt, rv = gorilla_decode(gorilla_encode(ts, vals))
        assert (rt == ts).all()
        assert (rv == vals).all()


def _pin_groups():
    """A fixed seeded batch: regular, irregular, class-4 dod, NaN/±0.0/inf
    and constant-value groups at ten lengths from 1 to 2,048 points."""
    rng = np.random.default_rng(20240601)
    groups = []
    for n in (1, 2, 3, 40, 191, 192, 193, 366, 1000, 2048):
        for kind in range(5):
            if kind == 0:      # regular daily cadence, smooth values
                ts = np.arange(n, dtype=np.int64) * 86400 + 1_577_836_800
                vals = np.round(np.sin(np.arange(n) / 9.0), 4)
            elif kind == 1:    # irregular cadence, noisy values
                ts = np.cumsum(rng.integers(1, 5000, n)) - 10**6
                vals = rng.normal(0, 1e3, n)
            elif kind == 2:    # class-4 (64-bit) delta-of-deltas
                ts = np.cumsum(rng.integers(1, 10**7, n))
                vals = rng.standard_normal(n)
            elif kind == 3:    # NaN, ±0.0 and inf payloads
                ts = np.cumsum(rng.integers(1, 100, n))
                vals = rng.normal(0, 1, n)
                vals[rng.random(n) < 0.2] = np.nan
                vals[rng.random(n) < 0.1] = 0.0
                vals[rng.random(n) < 0.1] = -0.0
                vals[rng.random(n) < 0.05] = np.inf
            else:              # constant values: no '11' window token
                ts = np.arange(n, dtype=np.int64) * 3600
                vals = np.full(n, 0.3)
            groups.append((np.asarray(ts, np.int64),
                           np.asarray(vals, np.float64)))
    return groups


def test_format_pinned():
    """The on-disk blob format is fixed: the batched encoder's buffer for a
    fixed batch hashes to a literal, and the per-blob encoder writes the
    same bytes for every group. A change to either encoder that moves a
    single bit of a stored blob fails here."""
    import hashlib

    from sen2rts_spark.kernels.gorilla import gorilla_encode_multi
    groups = _pin_groups()
    sizes = [len(g[0]) for g in groups]
    starts = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    data, off = gorilla_encode_multi(np.concatenate([g[0] for g in groups]),
                                     np.concatenate([g[1] for g in groups]),
                                     starts)
    assert len(data) == 190102
    assert hashlib.sha256(data.tobytes()).hexdigest() == \
        "5885111a2e5f62c137172d882d53d05cac52b2e00180b9a26d0af3082ef6ea22"
    for g, (ts, vals) in enumerate(groups):
        assert data[off[g]:off[g + 1]].tobytes() == gorilla_encode(ts, vals)


def test_decode_rejects_overrun_count():
    """A corrupt header count must raise the typed overrun error, not
    decode the zero pad as extra points — on the per-blob decoder and on
    gorilla_decode_multi's route for blobs above _MULTI_MAX_POINTS."""
    import pytest

    from sen2rts_spark.kernels.gorilla import (_MULTI_MAX_POINTS,
                                               gorilla_decode_multi)
    good = gorilla_encode(np.arange(6, dtype=np.int64) * 7,
                          np.array([1.0, 2.0, 1.5, 1.5, 3.0, 2.5]))
    for count in (7, 60, 5000):
        bad = bytearray(good)
        bad[4:8] = count.to_bytes(4, "big")
        with pytest.raises(ValueError, match="overrun"):
            gorilla_decode(bytes(bad))
    n = _MULTI_MAX_POINTS + 10
    big = bytearray(gorilla_encode(np.arange(n, dtype=np.int64) * 3600,
                                   np.sin(np.arange(n) / 10.0)))
    for count in (n + 1, n + 50):
        big[4:8] = count.to_bytes(4, "big")
        with pytest.raises(ValueError, match="overrun"):
            gorilla_decode_multi(np.frombuffer(bytes(big), np.uint8),
                                 np.array([0, len(big)]))
