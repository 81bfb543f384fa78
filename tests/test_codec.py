"""Property tests for the VByte/delta block codec (SURVEY.md hard part #2:
round-trip across block boundaries, randomized with fixed seeds)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from dbsyncer_spark.index.codec import (
    pack_postings,
    unpack_block,
    unpack_postings,
    vbyte_decode,
    vbyte_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_vbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert vbyte_decode(vbyte_encode(arr)).tolist() == vals


def test_vbyte_known_bytes():
    # 0 -> 0x00; 127 -> 0x7f; 128 -> 0x80 0x01 (LE 7-bit groups, MSB cont.)
    assert vbyte_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert vbyte_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert vbyte_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert vbyte_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"


@given(
    st.integers(min_value=1, max_value=400),
    st.integers(min_value=0, max_value=10**12),
    st.integers(min_value=0, max_value=10**6),
)
@settings(max_examples=50, deadline=None)
def test_pack_roundtrip_random(n, base, seed):
    rng = np.random.default_rng(seed)
    doc_ids = np.sort(rng.choice(np.arange(base, base + n * 50, dtype=np.uint64), n, replace=False))
    tfs = rng.integers(1, 5000, n).astype(np.uint64)
    dls = rng.integers(1, 2000, n).astype(np.uint64)
    packed = pack_postings(doc_ids, tfs, dls, block_size=64)
    d, t, l = unpack_postings(packed)
    assert d.tolist() == doc_ids.tolist()
    assert t.tolist() == tfs.tolist()
    assert l.tolist() == dls.tolist()
    # block-max metadata is a valid bound per block
    for bi in range(len(packed["block_off"])):
        bd, bt, bl = unpack_block(
            packed["blob"], packed["block_off"], packed["block_n"], packed["block_first"], bi
        )
        assert int(bt.max()) == packed["block_max_tf"][bi]
        assert int(bl.min()) == packed["block_min_dl"][bi]
        assert int(bd[0]) == packed["block_first"][bi]


def test_pack_exact_block_boundary():
    n = 256  # exactly 2 blocks of 128
    ids = np.arange(10, 10 + n, dtype=np.uint64)
    tfs = np.ones(n, dtype=np.uint64)
    dls = np.full(n, 7, dtype=np.uint64)
    packed = pack_postings(ids, tfs, dls)
    assert len(packed["block_off"]) == 2
    d, t, l = unpack_postings(packed)
    assert (d == ids).all() and (t == tfs).all() and (l == dls).all()


def test_empty_postings():
    z = np.zeros(0, dtype=np.uint64)
    packed = pack_postings(z, z, z)
    assert packed["n_docs"] == 0 and packed["blob"] == b""
    d, t, l = unpack_postings(packed)
    assert d.size == 0


def test_positional_roundtrip():
    """Positions stream round-trips per block and via the row helper."""
    import numpy as np

    from dbsyncer_spark.index.codec import (
        pack_postings,
        unpack_block_positions,
        unpack_row_positions,
    )

    rng = np.random.default_rng(11)
    n = 300
    doc_ids = np.cumsum(rng.integers(1, 50, n)).astype(np.uint64)
    tfs = rng.integers(1, 9, n).astype(np.uint64)
    dls = rng.integers(10, 2000, n).astype(np.uint64)
    pos = np.concatenate(
        [np.sort(rng.choice(5000, size=int(t), replace=False)) for t in tfs]
    ).astype(np.int64)
    packed = pack_postings(doc_ids, tfs, dls, block_size=32, positions=pos)
    assert "pos_blob" in packed and len(packed["pos_off"]) == len(packed["block_off"])

    d, t, l, flat = unpack_row_positions(packed)
    assert (d == doc_ids).all() and (t == tfs).all() and (l == dls).all()
    assert (flat == pos).all()

    # per-block decode agrees with the flat view
    cursor = tcur = 0
    for bi in range(len(packed["block_off"])):
        nb = packed["block_n"][bi]
        tf_blk = tfs[cursor:cursor + nb]
        got = unpack_block_positions(packed["pos_blob"], packed["pos_off"], tf_blk, bi)
        want = pos[tcur:tcur + int(tf_blk.sum())]
        assert (got == want).all()
        cursor += nb
        tcur += int(tf_blk.sum())

    # non-positional pack unchanged (no pos columns)
    plain = pack_postings(doc_ids, tfs, dls, block_size=32)
    assert "pos_blob" not in plain and plain["blob"] == packed["blob"]

@given(
    st.integers(min_value=1, max_value=400),
    st.integers(min_value=0, max_value=10**6),
)
@settings(max_examples=50, deadline=None)
def test_unpack_blocks_keep_parity(n, seed):
    """Bulk subset decode == concatenation of per-block decodes."""
    from dbsyncer_spark.index.codec import unpack_blocks

    rng = np.random.default_rng(seed)
    doc_ids = np.sort(rng.choice(np.arange(n * 50, dtype=np.uint64), n, replace=False))
    tfs = rng.integers(1, 5000, n).astype(np.uint64)
    dls = rng.integers(1, 2000, n).astype(np.uint64)
    packed = pack_postings(doc_ids, tfs, dls, block_size=64)
    nb = len(packed["block_off"])
    keep = np.flatnonzero(rng.random(nb) < 0.5)
    want_d, want_t, want_l = [], [], []
    for bi in keep:
        bd, bt, bl = unpack_block(
            packed["blob"], packed["block_off"], packed["block_n"], packed["block_first"], int(bi)
        )
        want_d.append(bd); want_t.append(bt); want_l.append(bl)
    got = unpack_blocks(
        packed["blob"], packed["block_off"], packed["block_n"], packed["block_first"], keep=keep
    )
    if keep.size == 0:
        assert got[0].size == 0
    else:
        assert got[0].tolist() == np.concatenate(want_d).tolist()
        assert got[1].tolist() == np.concatenate(want_t).tolist()
        assert got[2].tolist() == np.concatenate(want_l).tolist()


def test_vbyte_corruption_raises_descriptive_error():
    """A truncated/corrupt stream must fail loudly with a codec error,
    not an opaque IndexError (r3 review)."""
    import numpy as np
    import pytest

    from dbsyncer_spark.index.codec import vbyte_decode, vbyte_encode

    good = vbyte_encode(np.array([300, 7, 90000], dtype=np.uint64))
    assert vbyte_decode(good, 3).tolist() == [300, 7, 90000]
    with pytest.raises(ValueError, match="terminates only"):
        vbyte_decode(good, 5)  # more values than the stream holds
    with pytest.raises(ValueError, match="no terminator"):
        vbyte_decode(b"\x85\x90\xff")  # every byte has the MSB set
    assert vbyte_decode(b"\x85", 0).size == 0  # count=0 is a clean empty


def test_decoded_postings_cache_slice_identity_and_budget():
    """_DecodedPostingsCache caches each row's impacts and gathers kept
    blocks from the cached FULL row; for any keep subset the (idx, tfn)
    it returns must equal the tf-norm helper applied to
    unpack_blocks(keep=...), and the LRU must respect its byte budget
    (oversized rows decode per-call instead of evicting the whole
    cache)."""
    from types import SimpleNamespace

    from dbsyncer_spark.index.codec import pack_postings, unpack_blocks
    from dbsyncer_spark.index.search import _DecodedPostingsCache, _tfnorm

    rng = np.random.default_rng(7)
    k1, b, avgdl = 1.2, 0.75, 87.5
    base = 1 << 16

    def row(tid, n):
        ids = np.sort(rng.choice(200_000, size=n, replace=False)).astype(np.uint64)
        tfs = rng.integers(1, 30, size=n).astype(np.uint64)
        dls = rng.integers(1, 500, size=n).astype(np.uint64)
        p = pack_postings(ids + np.uint64(base), tfs, dls, block_size=64)
        return SimpleNamespace(
            tid=tid, blob=p["blob"], block_off=p["block_off"],
            block_n=p["block_n"], block_first=p["block_first"],
        )

    def impacts(r, keep=None):
        d, tf, dl = unpack_blocks(r.blob, r.block_off, r.block_n,
                                  r.block_first, keep=keep)
        return ((d - np.uint64(base)).astype(np.int64),
                _tfnorm(tf, dl, k1, b, avgdl))

    def same(want, got):
        assert got[0].dtype == np.int64 and got[1].dtype == np.float64
        return all(w.tolist() == g.tolist() for w, g in zip(want, got))

    r = row(1, 1000)
    cache = _DecodedPostingsCache(1 << 20, k1, b, avgdl)
    assert cache.params == (k1, b, avgdl)
    nb = len(r.block_n)
    for keep in (None, np.arange(nb), np.array([0]), np.array([nb - 1]),
                 np.flatnonzero(rng.random(nb) < 0.4)):
        assert same(impacts(r, keep), cache(base, r, keep=keep)), keep
    assert len(cache._rows) == 1 and 0 < cache._bytes <= cache.max_bytes
    # idx (8 B) + tfn (8 B) per posting, plus the block offsets
    assert cache._bytes == 16 * 1000 + 8 * (nb + 1)

    # LRU eviction: budget for ~2 rows; insert 3, oldest falls out,
    # bytes stay within budget at every step
    one_row_bytes = cache._bytes
    small = _DecodedPostingsCache(int(one_row_bytes * 2.5), k1, b, avgdl)
    rows = [row(t, 1000) for t in (1, 2, 3)]
    for rr in rows:
        small(base, rr)
        assert small._bytes <= small.max_bytes
    # cache keys carry (base, tid, first docId, blob len) since the
    # range-straddling fix — match on the tid component
    cached_tids = {k[1] for k in small._rows}
    assert 1 not in cached_tids and 3 in cached_tids
    # re-touching keeps results correct after eviction
    assert same(impacts(rows[0]), small(base, rows[0]))

    # a row bigger than the whole budget is served uncached
    tiny = _DecodedPostingsCache(128, k1, b, avgdl)
    tiny(base, r)
    assert len(tiny._rows) == 0 and tiny._bytes == 0
    keep = np.array([0])
    assert same(impacts(r, keep), tiny(base, r, keep=keep))


def test_impacts_refuse_other_bm25_params():
    """A kernel must never score from impacts computed with other
    (k1, b, avgdl): handing a cache built for other params to the seam,
    or to a kernel through it, raises ValueError."""
    import pytest

    from dbsyncer_spark.index.search import (
        _DecodedPostingsCache, _impacts, _range_kernel,
    )

    k1, b, avgdl = 1.2, 0.75, 87.5
    cache = _DecodedPostingsCache(1 << 20, k1, b, avgdl)
    assert _impacts(k1, b, avgdl, cache) is cache
    for other in ((k1, b, avgdl * 2), (2.0, b, avgdl), (k1, 0.5, avgdl)):
        with pytest.raises(ValueError, match="cached impacts"):
            _impacts(*other, cache)
        with pytest.raises(ValueError, match="cached impacts"):
            _range_kernel({1: 1.0}, *other, 10, 256, prune=True,
                          cache=cache)


def test_vbyte_truncation_edges_raise():
    """Corruption detection must not be bypassed by the empty-buffer
    early return (count>0 on zero bytes), and a count=None decode of a
    stream whose tail is an unterminated value must raise instead of
    silently returning short data (r5 review)."""
    import numpy as np
    import pytest

    from dbsyncer_spark.index.codec import vbyte_decode

    with pytest.raises(ValueError, match="expected 5 values"):
        vbyte_decode(b"", count=5)
    assert vbyte_decode(b"", count=0).size == 0
    assert vbyte_decode(b"", count=None).size == 0  # empty stream is fine
    # 0x05 terminates value 5; 0x85 starts a value that never terminates
    with pytest.raises(ValueError, match="trailing bytes"):
        vbyte_decode(bytes([0x05, 0x85]), count=None)
    # the count-capped form may legitimately stop mid-buffer (positional
    # sub-streams decode slices): no trailing check there
    assert list(vbyte_decode(bytes([0x05, 0x85, 0x01]), count=1)) == [5]
    with pytest.raises(ValueError, match="no terminator"):
        vbyte_decode(bytes([0x85]), count=None)
