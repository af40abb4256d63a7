"""M2: varbyte/delta posting codec round-trip properties."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from go_mysql_elasticsearch_spark.index.codec import (
    delta_decode,
    delta_encode,
    pack_block,
    unpack_block,
    vb_decode,
    vb_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=500))
@settings(max_examples=200, deadline=None)
def test_vb_roundtrip(vals):
    a = np.array(vals, dtype=np.uint64)
    assert vb_decode(vb_encode(a)).tolist() == vals


def test_vb_empty():
    assert vb_encode(np.array([], dtype=np.uint64)) == b""
    assert vb_decode(b"").tolist() == []


def test_vb_boundaries():
    vals = [0, 1, 127, 128, 129, 16383, 16384, 2**32 - 1, 2**62]
    a = np.array(vals, dtype=np.uint64)
    assert vb_decode(vb_encode(a)).tolist() == vals


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300, unique=True)
)
@settings(max_examples=100, deadline=None)
def test_delta_roundtrip(vals):
    a = np.array(sorted(vals), dtype=np.uint64)
    assert delta_decode(delta_encode(a)).tolist() == sorted(vals)


def test_pack_unpack_block():
    rng = np.random.default_rng(42)
    doc_ids = np.sort(rng.choice(10**9, size=128, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 50, 128)
    dls = rng.integers(5, 400, 128)
    d, t, l = unpack_block(*pack_block(doc_ids, tfs, dls))
    np.testing.assert_array_equal(d.astype(np.int64), doc_ids)
    np.testing.assert_array_equal(t.astype(np.int64), tfs)
    np.testing.assert_array_equal(l.astype(np.int64), dls)


def test_compression_is_compact():
    # dense doc ids → ~1 byte/gap
    doc_ids = np.arange(0, 128 * 4, 4, dtype=np.int64)
    tfs = np.ones(128, dtype=np.int64)
    dls = np.full(128, 100, dtype=np.int64)
    docs_vb, tfs_vb, dls_vb = pack_block(doc_ids, tfs, dls)
    assert len(docs_vb) <= 130
    assert len(tfs_vb) == 128
    assert len(dls_vb) == 128


# --- batch (concatenated-stream) decode equivalence ------------------------

@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=50),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=100, deadline=None)
def test_vb_decode_concat_matches_per_stream(streams):
    from go_mysql_elasticsearch_spark.index.codec import _concat_bufs, vb_decode_concat

    bufs = [vb_encode(np.array(s, dtype=np.uint64)) for s in streams]
    vals, counts = vb_decode_concat(*_concat_bufs(bufs))
    assert counts.tolist() == [len(s) for s in streams]
    flat = [v for s in streams for v in s]
    assert vals.tolist() == flat


@given(
    st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=30),  # doc gap
                st.integers(min_value=1, max_value=9),  # tf
                st.integers(min_value=1, max_value=500),  # dl
            ),
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(max_examples=60, deadline=None)
def test_unpack_blocks_batch_matches_per_block(blocks):
    from go_mysql_elasticsearch_spark.index.codec import (
        unpack_blocks_batch,
        unpack_positions,
        unpack_positions_batch,
    )
    from go_mysql_elasticsearch_spark.index.codec import (
        delta_encode_segmented,
        vb_encode,
    )

    rng = np.random.default_rng(7)
    doc_bufs, tf_bufs, dl_bufs, pos_bufs = [], [], [], []
    exp_docs, exp_tfs, exp_dls, exp_pos = [], [], [], []
    base = 0
    for blk in blocks:
        gaps = np.array([g for g, _, _ in blk], dtype=np.int64)
        docs = base + np.cumsum(gaps)
        base = int(docs[-1])  # keep blocks doc-sorted across the sub-list
        tfs = np.array([t for _, t, _ in blk], dtype=np.int64)
        dls = np.array([d for _, _, d in blk], dtype=np.int64)
        d_b, t_b, l_b = pack_block(docs, tfs, dls)
        # positions: tf sorted positions per posting
        flat = np.concatenate(
            [np.sort(rng.choice(10_000, size=t, replace=False)) for t in tfs]
        ).astype(np.uint64)
        p_b = vb_encode(delta_encode_segmented(flat, tfs))
        doc_bufs.append(d_b); tf_bufs.append(t_b); dl_bufs.append(l_b); pos_bufs.append(p_b)
        exp_docs.append(docs); exp_tfs.append(tfs); exp_dls.append(dls); exp_pos.append(flat)
        # per-block reference for positions
        ref_flat, ref_off = unpack_positions(p_b, tfs)
        assert ref_flat.tolist() == flat.tolist()

    got_d, got_t, got_l, nper = unpack_blocks_batch(doc_bufs, tf_bufs, dl_bufs)
    assert got_d.tolist() == np.concatenate(exp_docs).tolist()
    assert got_t.tolist() == np.concatenate(exp_tfs).tolist()
    assert got_l.tolist() == np.concatenate(exp_dls).tolist()
    assert nper.tolist() == [len(b) for b in blocks]

    all_tfs = np.concatenate(exp_tfs)
    flat, off = unpack_positions_batch(pos_bufs, all_tfs)
    assert flat.tolist() == np.concatenate(exp_pos).tolist()
    assert off.tolist() == (np.cumsum(all_tfs) - all_tfs).tolist()


@given(
    st.lists(st.tuples(st.integers(0, 6), st.integers(0, 60), st.integers(0, 9)),
             min_size=1, max_size=400),
    st.sampled_from([1, 2, 3, 128]),
    st.sampled_from([1, 2, 8]),
)
@settings(max_examples=60, deadline=None)
def test_stream_packer_blocks_match_per_group_loop(tokens, block_size, n_shards):
    """The build's packer cuts each (tid, shard) posting list into blocks
    of block_size postings, numbered from 0: checked against a per-group
    loop over the same sorted token rows."""
    import pandas as pd

    from go_mysql_elasticsearch_spark.index.build import _make_stream_packer
    from go_mysql_elasticsearch_spark.index.codec import unpack_blocks_batch

    tid, doc, pos = (np.array(c, dtype=np.int64) for c in zip(*tokens))
    order = np.lexsort((pos, doc, doc % n_shards, tid))
    rows = pd.DataFrame({"tid": tid[order], "doc_id": doc[order], "dl": doc[order] % 5 + 1,
                         "pos": pos[order]})
    # split into batches so groups carry across batch boundaries
    cut = len(rows) // 2
    out = pd.concat(list(_make_stream_packer(block_size, n_shards)(
        iter([rows.iloc[:cut], rows.iloc[cut:]]))), ignore_index=True)

    want = []
    postings = rows.groupby(["tid", "doc_id"], sort=False).agg(tf=("pos", "size"), dl=("dl", "first"))
    postings = postings.reset_index()
    postings["shard"] = postings["doc_id"] % n_shards
    for (t, s), g in postings.groupby(["tid", "shard"], sort=True):
        g = g.sort_values("doc_id")
        for b, start in enumerate(range(0, len(g), block_size)):
            blk = g.iloc[start:start + block_size]
            want.append((t, s, b, blk["doc_id"].tolist(), blk["tf"].tolist(), blk["dl"].tolist()))
    docs, tfs, dls, counts = unpack_blocks_batch(
        out["docs_vb"].to_numpy(), out["tfs_vb"].to_numpy(), out["dls_vb"].to_numpy())
    ends = np.cumsum(counts)
    got = [(r.tid, r.shard, r.block_id, docs[e - n:e].tolist(), tfs[e - n:e].tolist(),
            dls[e - n:e].tolist())
           for r, n, e in zip(out.itertuples(), counts, ends)]
    assert sorted(got) == sorted(want)
    assert (out["n_docs"] == counts).all()
    assert out["first_doc_id"].tolist() == [g[3][0] for g in got]
    assert out["last_doc_id"].tolist() == [g[3][-1] for g in got]
