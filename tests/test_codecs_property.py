"""Property-based codec tests (hypothesis) — the compression layer is the
one place a silent corruption would poison every query, so it gets
adversarial coverage beyond the round-trip unit tests: fast-path boundary
values (1-byte/2-byte/general LEB128 switchovers at 2^7 and 2^14), mixed
magnitudes, and consistency between the stream splitter (varint_lengths)
and the encoder's actual byte layout."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ivfadc_spark.functions.codecs import (
    delta_decode,
    delta_decode_runs,
    delta_encode,
    varint_decode,
    varint_encode,
    varint_encode_with_lengths,
    varint_lengths,
)

# boundary-heavy magnitudes: straddle the 1-byte (2^7) and 2-byte (2^14)
# fast-path switchovers plus genuinely large values
BOUNDARY = [0, 1, 126, 127, 128, 129, 16382, 16383, 16384, 16385, 2**31, 2**56 - 1]
value = st.one_of(
    st.sampled_from(BOUNDARY),
    st.integers(min_value=0, max_value=2**56 - 1),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(value, min_size=0, max_size=300))
def test_varint_roundtrip(vals):
    a = np.asarray(vals, dtype=np.uint64)
    stream, nb = varint_encode_with_lengths(a)
    assert varint_encode(a) == stream
    assert (varint_lengths(a) == nb).all()
    assert int(nb.sum()) == len(stream)
    dec = varint_decode(stream, a.size)
    assert (dec == a).all()


@settings(max_examples=200, deadline=None)
@given(st.lists(value, min_size=1, max_size=200), st.integers(min_value=1, max_value=8))
def test_stream_splitting_matches_lengths(vals, nsplits):
    """Slicing one concatenated stream at varint_lengths offsets must yield
    independently-decodable sub-streams — the invariant the whole-partition
    encoder and whole-shard decoder are built on."""
    a = np.asarray(vals, dtype=np.uint64)
    stream, nb = varint_encode_with_lengths(a)
    ends = np.cumsum(nb)
    starts = ends - nb
    cuts = np.linspace(0, a.size, nsplits + 1).astype(int)
    for lo, hi in zip(cuts[:-1], cuts[1:]):
        if lo == hi:
            continue
        sub = stream[starts[lo] : ends[hi - 1]]
        dec = varint_decode(sub, hi - lo)
        assert (dec == a[lo:hi]).all()


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300, unique=True
    )
)
def test_delta_roundtrip(ids):
    a = np.sort(np.asarray(ids, dtype=np.int64))
    assert (delta_decode(delta_encode(a), a.size) == a).all()


# runs of strictly increasing ids; zero-length and one-value runs included
runs = st.lists(
    st.lists(st.integers(min_value=0, max_value=2**40), max_size=40, unique=True),
    max_size=12,
)


@settings(max_examples=200, deadline=None)
@given(runs)
def test_delta_decode_runs_equals_per_run_decode(rs):
    """One segmented decode of concatenated runs == the per-run
    delta_decode results, concatenated — the block-stream invariant every
    posting, sentinel and positions reader relies on."""
    arrs = [np.sort(np.asarray(r, dtype=np.int64)) for r in rs]
    counts = [a.size for a in arrs]
    buf = b"".join(delta_encode(a) for a in arrs)
    want = [delta_decode(delta_encode(a), a.size) for a in arrs]
    got = delta_decode_runs(buf, counts)
    assert got.dtype == np.int64
    assert got.tolist() == (np.concatenate(want).tolist() if want else [])
    for a in arrs:  # the one-run case, with and without a value count
        assert delta_decode(delta_encode(a)).tolist() == a.tolist()


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.binary(max_size=6), max_size=30),
    st.integers(min_value=0, max_value=30),
    st.integers(min_value=0, max_value=30),
)
def test_binary_buffers_on_sliced_array(vals, start, length):
    """The zero-copy binary reader on a sliced Arrow array (non-zero
    offset) returns exactly the slice's bytes and value lengths."""
    import pyarrow as pa

    from ivfadc_spark.operators.postings import binary_buffers

    arr = pa.array(vals, type=pa.binary()).slice(start, length)
    want = arr.to_pylist()
    data, offs = binary_buffers(arr)
    assert bytes(data) == b"".join(want)
    assert offs[0] == 0 and np.diff(offs).tolist() == [len(v) for v in want]


def test_delta_rejects_unsorted():
    import pytest

    with pytest.raises(ValueError):
        delta_encode(np.array([3, 2, 5], dtype=np.int64))


def test_empty_inputs():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"", 0).size == 0
    assert delta_encode(np.array([], dtype=np.int64)) == b""
    assert delta_decode(b"", 0).size == 0
    assert varint_lengths(np.array([], dtype=np.uint64)).size == 0


# ---------------------------------------------------------------- tokenizer


def _re2_reference(texts, pattern):
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.array(texts, type=pa.string())
    low = pc.utf8_lower(pc.fill_null(arr, ""))
    toks = pc.split_pattern_regex(low, pattern)
    toks = toks.combine_chunks() if isinstance(toks, pa.ChunkedArray) else toks
    parent = pc.list_parent_indices(toks)
    flat = pc.list_flatten(toks)
    keep = pc.not_equal(flat, "")
    return (
        flat.filter(keep).to_pylist(),
        parent.filter(keep).to_numpy(zero_copy_only=False).astype(int).tolist(),
    )


@given(
    st.lists(
        st.one_of(
            st.none(),
            st.text(max_size=80),  # arbitrary unicode incl. surrogateless BMP
            st.text(
                alphabet="aB9 \t!é末̇-_0z", max_size=40
            ),  # dense in separators/case/edge chars
        ),
        max_size=60,
    )
)
@settings(max_examples=300, deadline=None)
def test_byte_tokenizer_matches_re2(texts):
    """The numpy byte tokenizer must match the RE2 split + filter-empties
    reference EXACTLY — tokens, order, and parent doc indices — on arbitrary
    unicode, nulls, empties, and boundary-dense inputs."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ivfadc_spark.functions.tokenize import TOKEN_PATTERN, arrow_flat_tokens

    arr = pa.array(texts, type=pa.string())
    want_toks, want_par = _re2_reference(texts, TOKEN_PATTERN)
    flat, par = arrow_flat_tokens(arr, TOKEN_PATTERN)
    assert flat.to_pylist() == want_toks
    assert par.tolist() == want_par


def test_byte_class_lut_parsing():
    import numpy as np

    from ivfadc_spark.functions.tokenize import _byte_class_lut

    lut = _byte_class_lut("[^a-z0-9]+")
    assert lut is not None
    assert lut[ord("a")] and lut[ord("z")] and lut[ord("5")]
    assert not lut[ord("A")] and not lut[ord(" ")] and not lut[0xC3]
    # non-class patterns fall back
    assert _byte_class_lut("\\s+") is None
    assert _byte_class_lut("[^a-z\\d]+") is None
    assert _byte_class_lut("[a-z]+") is None
    lut2 = _byte_class_lut("[^a-z0-9_]+")
    assert lut2 is not None and lut2[ord("_")]
