import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from whoosh_spark.index.codec import (
    decode_position_lists,
    delta_decode,
    delta_encode,
    encode_position_lists,
    varint_decode,
    varint_encode,
)
from whoosh_spark.index.quantize import (
    BYTE_TO_LENGTH,
    byte_to_length,
    length_to_byte,
    length_to_byte_np,
    quantize_length,
)


def test_varint_roundtrip_basic():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**32, 2**62], dtype=np.uint64)
    assert list(varint_decode(varint_encode(vals))) == [int(v) for v in vals]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
def test_varint_roundtrip_property(xs):
    vals = np.array(xs, dtype=np.uint64)
    out = varint_decode(varint_encode(vals))
    assert list(out) == xs


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300))
def test_delta_roundtrip(xs):
    xs = sorted(xs)
    out = delta_decode(delta_encode(np.array(xs)))
    assert list(out) == xs


def test_position_lists_roundtrip():
    lists = [
        np.array([0, 3, 7]),
        np.array([], dtype=np.int64),
        np.array([5]),
        np.array([1, 2, 3, 100]),
    ]
    out = decode_position_lists(encode_position_lists(lists), len(lists))
    assert len(out) == len(lists)
    for a, b in zip(lists, out):
        assert list(a) == list(b)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.lists(st.integers(min_value=0, max_value=10000), max_size=40), min_size=1, max_size=40))
def test_position_lists_property(lists):
    lists = [np.array(sorted(set(l)), dtype=np.int64) for l in lists]
    out = decode_position_lists(encode_position_lists(lists), len(lists))
    for a, b in zip(lists, out):
        assert list(a) == list(b)


def test_quantize_matches_reference_table(whoosh_ref):
    from whoosh.util.numeric import _length_byte_cache
    from whoosh.util.numeric import byte_to_length as ref_b2l
    from whoosh.util.numeric import length_to_byte as ref_l2b

    assert list(BYTE_TO_LENGTH) == list(_length_byte_cache)
    for n in [0, 1, 2, 5, 27, 28, 100, 1000, 54321, 106373, 106374, 10**7]:
        assert length_to_byte(n) == ref_l2b(n)
        assert quantize_length(n) == ref_b2l(ref_l2b(n))
    lens = np.array([0, 1, 27, 28, 100, 106374, 10**7])
    assert list(length_to_byte_np(lens)) == [ref_l2b(int(x)) for x in lens]
    for b in range(256):
        assert byte_to_length(b) == ref_b2l(b)
