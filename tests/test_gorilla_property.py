"""Property-based codec guarantees (hypothesis): any int64/float64
stream round-trips bit-exactly, and the Arrow batch kernel that
``encode_series`` runs is byte-identical to the per-row encoders on
arbitrary batches (no Spark needed)."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from repurpose_spark.functions.gorilla import (
    CODEC_DOD,
    CODEC_XOR,
    dod_decode,
    dod_encode,
    encode_list_array,
    pack_arrow_batches,
    xor_decode,
    xor_encode,
)

I64 = np.iinfo(np.int64)

ints = st.lists(
    st.integers(min_value=-(2**62), max_value=2**62 - 1), max_size=300
)
floats = st.lists(
    st.floats(allow_nan=False, width=64), max_size=300
)
# the full int64 range (DoD wraps, as np.diff does) and every float
# (NaN, ±inf, -0.0), with lengths at and around the 128-value block edges
any_ints = st.one_of(
    st.lists(st.integers(min_value=I64.min, max_value=I64.max), max_size=300),
    st.integers(min_value=0, max_value=3).flatmap(
        lambda k: st.lists(
            st.sampled_from([I64.min, I64.max, 0, -1, 1]),
            min_size=(0, 129, 130, 257)[k], max_size=(2, 129, 130, 258)[k],
        )
    ),
)
any_floats = st.one_of(
    st.lists(st.floats(width=64), max_size=300),
    st.integers(min_value=0, max_value=3).flatmap(
        lambda k: st.lists(
            st.sampled_from([0.0, -0.0, np.nan, np.inf, -np.inf, 1.5]),
            min_size=(0, 129, 130, 257)[k], max_size=(2, 129, 130, 258)[k],
        )
    ),
)


def _kernel(rows, codec):
    typ = pa.int64() if codec == CODEC_DOD else pa.float64()
    arr = pa.array([list(r) for r in rows], type=pa.list_(typ))
    return encode_list_array(arr, codec, "v").to_pylist()


@settings(max_examples=200, deadline=None)
@given(ints)
def test_dod_roundtrip(xs):
    a = np.asarray(xs, dtype=np.int64)
    assert np.array_equal(dod_decode(dod_encode(a)), a)


@settings(max_examples=200, deadline=None)
@given(floats)
def test_xor_roundtrip(xs):
    a = np.asarray(xs, dtype=np.float64)
    out = xor_decode(xor_encode(a))
    assert np.array_equal(out, a, equal_nan=True)


@settings(max_examples=50, deadline=None)
@given(st.lists(ints, max_size=12))
def test_dod_batch_equals_per_row(batches):
    arrays = [np.asarray(b, dtype=np.int64) for b in batches]
    assert _kernel(arrays, CODEC_DOD) == [dod_encode(a) for a in arrays]


@settings(max_examples=50, deadline=None)
@given(st.lists(floats, max_size=12))
def test_xor_batch_equals_per_row(batches):
    arrays = [np.asarray(b, dtype=np.float64) for b in batches]
    assert _kernel(arrays, CODEC_XOR) == [xor_encode(a) for a in arrays]


@settings(max_examples=100, deadline=None)
@given(st.lists(any_ints, max_size=8))
def test_dod_kernel_edges_equal_per_row(batches):
    arrays = [np.asarray(b, dtype=np.int64) for b in batches]
    assert _kernel(arrays, CODEC_DOD) == [dod_encode(a) for a in arrays]


@settings(max_examples=100, deadline=None)
@given(st.lists(any_floats, max_size=8))
def test_xor_kernel_edges_equal_per_row(batches):
    arrays = [np.asarray(b, dtype=np.float64) for b in batches]
    assert _kernel(arrays, CODEC_XOR) == [xor_encode(a) for a in arrays]


@pytest.mark.parametrize("n", [0, 1, 2, 3, 128, 129, 130, 131, 257, 258, 259])
def test_kernel_block_edges_equal_per_row(n):
    """Every length class of the header (n = 0, 1, 2) and the lengths
    whose DoD (n - 2) or XOR (n - 1) stream ends at a 128-value block edge,
    with the int64 extremes wrapping the deltas."""
    rng = np.random.default_rng(n)
    ints_ = rng.integers(I64.min, I64.max, n, dtype=np.int64, endpoint=True)
    ints_[: n // 2] = np.where(np.arange(n // 2) % 2, I64.min, I64.max)
    bits = rng.integers(0, 2**64 - 1, n, dtype=np.uint64, endpoint=True)
    floats_ = bits.view(np.float64).copy()
    floats_[::3] = -0.0
    rows_i = [ints_, ints_[::-1].copy(), np.zeros(n, dtype=np.int64)]
    rows_f = [floats_, np.full(n, np.nan), np.full(n, -np.inf)]
    assert _kernel(rows_i, CODEC_DOD) == [dod_encode(a) for a in rows_i]
    assert _kernel(rows_f, CODEC_XOR) == [xor_encode(a) for a in rows_f]


def test_kernel_on_sliced_arrays_and_batches(monkeypatch):
    """Arrow slices (a non-zero list offset) and the batch driver's row
    slicing, which keeps each output under the int32 offset limit, encode
    exactly the rows they hold."""
    from repurpose_spark.functions import gorilla

    rows = [np.arange(k * 7, dtype=np.int64) ** 2 for k in range(6)]
    arr = pa.array([list(r) for r in rows], type=pa.list_(pa.int64()))
    got = encode_list_array(arr.slice(2, 3), CODEC_DOD, "v").to_pylist()
    assert got == [dod_encode(r) for r in rows[2:5]]

    batch = pa.RecordBatch.from_arrays(
        [pa.array(range(6)), arr], names=["k", "v_bin"]
    )
    codecs = {"v_bin": (CODEC_DOD, "v")}
    for limit, n_out in ((1 << 26, 1), (30, 4)):
        monkeypatch.setattr(gorilla, "_MAX_SLICE_VALUES", limit)
        out = list(pack_arrow_batches([batch], codecs))
        assert len(out) == n_out
        assert sum((b.column(0).to_pylist() for b in out), []) == list(range(6))
        assert sum((b.column(1).to_pylist() for b in out), []) == [
            dod_encode(r) for r in rows
        ]


@pytest.mark.parametrize(
    "typ, codec, rows",
    [
        (pa.int64(), CODEC_DOD, [[5, None, 7]]),
        (pa.float64(), CODEC_XOR, [[1.0, 2.0], [None]]),
        (pa.int64(), CODEC_DOD, [[1, 2], None]),
    ],
)
def test_kernel_rejects_nulls(typ, codec, rows):
    """A NULL has no encoding: the kernel refuses it, naming the column,
    instead of writing INT64_MIN (ints) or NaN (floats)."""
    arr = pa.array(rows, type=pa.list_(typ))
    with pytest.raises(ValueError, match="'sum_v'"):
        encode_list_array(arr, codec, "sum_v")
