import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fafnir_spark.build import _encode_sorted
from fafnir_spark.codec import (
    delta_decode,
    delta_encode,
    f64_decode,
    f64_encode,
    positions_encode,
    varint_decode,
    varint_encode,
    varint_encode_segments,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    a = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(a)), a)


@given(st.sets(st.integers(min_value=0, max_value=2**62), max_size=300))
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip(ids):
    a = np.array(sorted(ids), dtype=np.uint64)
    assert np.array_equal(delta_decode(delta_encode(a)), a)


def test_varint_empty():
    assert varint_encode(np.empty(0, dtype=np.uint64)) == b""
    assert len(varint_decode(b"")) == 0


def test_varint_known_bytes():
    # LEB128: 300 = 0b10 0101100 -> 0xAC 0x02
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"


def test_f64_roundtrip():
    w = np.random.default_rng(1).random(64)
    assert np.array_equal(f64_decode(f64_encode(w)), w)


def test_compression_wins():
    # dense doc ids => deltas are tiny => ~1 byte/doc vs 8 raw
    ids = np.arange(10_000, dtype=np.uint64) * 3
    enc = delta_encode(ids)
    assert len(enc) < 0.2 * ids.nbytes


@pytest.mark.parametrize("n", [1, 2, 128, 1000])
def test_delta_dense(n):
    ids = np.arange(n, dtype=np.uint64)
    assert np.array_equal(delta_decode(delta_encode(ids)), ids)


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300),
       st.lists(st.integers(min_value=0, max_value=300), max_size=20))
@settings(max_examples=200, deadline=None)
def test_varint_encode_segments_equals_per_segment(vals, cuts):
    """One encode pass split at value boundaries is byte-identical to
    encoding every segment on its own (empty segments included)."""
    a = np.array(vals, dtype=np.uint64)
    bounds = sorted({0, len(a), *(c for c in cuts if c <= len(a))})
    lo = np.array(bounds[:-1] + [len(a)], dtype=np.int64)
    hi = np.array(bounds[1:] + [len(a)], dtype=np.int64)
    got = varint_encode_segments(a, lo, hi)
    assert got == [varint_encode(a[l:h]) for l, h in zip(lo, hi)]


@st.composite
def _sorted_postings(draw):
    """A posting frame sorted by (term, doc_part, doc_id) the way the build
    hands it to the encoder: negative doc_ids included (xxhash64 ids)."""
    with_pos = draw(st.booleans())
    rows = []
    for term in draw(st.lists(st.sampled_from("abcde"), min_size=1, max_size=3, unique=True)):
        for part in draw(st.lists(st.integers(0, 3), min_size=1, max_size=2, unique=True)):
            ids = draw(st.lists(st.integers(-2**62, 2**62), min_size=1, max_size=40,
                                unique=True))
            for doc_id in sorted(ids):
                tf = draw(st.integers(1, 6))
                row = {"term": term, "doc_part": part, "doc_id": doc_id, "tf": tf,
                       "dl": draw(st.integers(tf, 5000)),
                       "weight": draw(st.sampled_from([1.0, 1.0, 0.5, 2.25]))}
                if with_pos:
                    row["positions"] = sorted(draw(st.lists(
                        st.integers(0, 2**20), min_size=tf, max_size=tf, unique=True)))
                rows.append(row)
    return pd.DataFrame(rows).sort_values(["term", "doc_part", "doc_id"], kind="stable")


def _encode_per_block(pdf: pd.DataFrame, block_size: int) -> pd.DataFrame:
    """Slow reference: every block of every (term, doc_part) run encoded on
    its own with the scalar codec calls."""
    out = []
    for (term, part), g in pdf.groupby(["term", "doc_part"], sort=True):
        for bid, lo in enumerate(range(0, len(g), block_size)):
            b = g.iloc[lo:lo + block_size]
            ws = b["weight"].to_numpy(dtype=np.float64)
            row = {
                "term": term, "doc_part": part, "block_id": bid, "n": len(b),
                "first_doc": int(b["doc_id"].iloc[0]), "last_doc": int(b["doc_id"].iloc[-1]),
                "max_tf": int(b["tf"].max()), "min_dl": int(b["dl"].min()),
                "max_weight": float(ws.max()),
                "doc_ids": delta_encode(b["doc_id"].to_numpy(dtype=np.int64).astype(np.uint64)),
                "tfs": varint_encode(b["tf"].to_numpy(dtype=np.uint64)),
                "dls": varint_encode(b["dl"].to_numpy(dtype=np.uint64)),
                "weights": b"" if (ws == 1.0).all() else f64_encode(ws),
            }
            if "positions" in b.columns:
                row["positions"] = positions_encode(
                    [np.asarray(p, dtype=np.uint64) for p in b["positions"]])
            out.append(row)
    return pd.DataFrame(out)


@given(_sorted_postings(), st.sampled_from([1, 2, 3, 7, 32]))
@settings(max_examples=100, deadline=None)
def test_encode_sorted_equals_per_block_reference(pdf, block_size):
    """The vectorized block encoder writes the same bytes and block stats
    as encoding each block separately."""
    got = _encode_sorted(pdf, block_size)
    want = _encode_per_block(pdf, block_size)
    assert list(got.columns) == list(want.columns)
    for col in want.columns:
        assert got[col].tolist() == want[col].tolist(), col
