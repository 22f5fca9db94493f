"""Codec round-trip tests (delta/varint/block encode, SURVEY E7)."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from synspark.codec import (
    BLOCK_DOCS, STREAMS, decode_block, decode_impacts, decode_plens,
    decode_positions, decode_selected, encode_blocks, encode_positions,
    varint_decode, varint_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=200))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert varint_decode(varint_encode(arr)).tolist() == values


def test_varint_known_bytes():
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"


@given(st.lists(st.lists(st.integers(0, 10_000), min_size=1, max_size=20),
                min_size=1, max_size=30))
@settings(max_examples=100, deadline=None)
def test_positions_roundtrip(doclists):
    doclists = [sorted(d) for d in doclists]
    concat = np.array([p for d in doclists for p in d], dtype=np.int64)
    tfs = np.array([len(d) for d in doclists], dtype=np.int64)
    buf = encode_positions(concat, tfs)
    assert decode_positions(buf, tfs).tolist() == concat.tolist()


@pytest.mark.parametrize("n", [1, 2, BLOCK_DOCS - 1, BLOCK_DOCS,
                               BLOCK_DOCS + 1, 5 * BLOCK_DOCS + 17])
def test_block_roundtrip(n):
    rng = np.random.RandomState(7)
    docs = np.unique(rng.randint(0, 10 * n + 10, size=n).astype(np.int64))
    tfs = rng.randint(1, 50, size=len(docs)).astype(np.int64)
    blocks = encode_blocks(docs, tfs)
    got_docs, got_tfs = [], []
    for blk in blocks:
        d, t = decode_block(blk["first_doc"], blk["doc_bytes"],
                            blk["tf_bytes"], blk["n_docs"])
        got_docs.extend(d.tolist())
        got_tfs.extend(t.tolist())
        assert blk["last_doc"] == d[-1]
        assert blk["max_tf"] == t.max()
    assert got_docs == docs.tolist()
    assert got_tfs == tfs.tolist()


def test_empty():
    assert varint_encode(np.zeros(0, dtype=np.uint64)) == b""
    assert len(varint_decode(b"")) == 0
    assert encode_blocks(np.zeros(0, dtype=np.int64),
                         np.zeros(0, dtype=np.int64)) == []


def test_sorted_batch_equals_per_group_encode():
    """encode_sorted_batch must be byte-identical to per-group
    encode_blocks (same deltas, varints, metadata)."""
    from synspark.codec import encode_sorted_batch
    rng = np.random.RandomState(11)
    rows = []  # (grp, doc, pos, dl)
    for g in range(40):
        n_docs = rng.randint(1, 400)
        docs = np.sort(rng.choice(np.arange(5000), size=n_docs,
                                  replace=False))
        for d in docs:
            tf = rng.randint(1, 6)
            poss = np.sort(rng.choice(np.arange(500), size=tf,
                                      replace=False))
            for p in poss:
                rows.append((g, int(d), int(p), 10 + int(d) % 90))
    grp = np.array([r[0] for r in rows])
    doc = np.array([r[1] for r in rows], dtype=np.int64)
    pos = np.array([r[2] for r in rows], dtype=np.int64)
    dl = np.array([r[3] for r in rows], dtype=np.int64)
    chg = np.empty(len(grp), bool); chg[0] = True
    chg[1:] = grp[1:] != grp[:-1]

    enc = encode_sorted_batch(chg, doc, pos, dl)

    # reference: per-group encode_blocks
    i = 0
    bi = 0
    for g in range(40):
        mask = grp == g
        d_g, p_g, dl_g = doc[mask], pos[mask], dl[mask]
        udocs, starts, tfs = np.unique(d_g, return_index=True,
                                       return_counts=True)
        tfs = tfs.astype(np.int64)
        dls = dl_g[starts].astype(np.int64)
        recs = encode_blocks(udocs.astype(np.int64), tfs, p_g, dls)
        for seq, r in enumerate(recs):
            assert enc["block_seq"][bi] == seq
            assert enc["first_doc"][bi] == r["first_doc"]
            assert enc["last_doc"][bi] == r["last_doc"]
            assert enc["n_docs"][bi] == r["n_docs"]
            assert enc["max_tf"][bi] == r["max_tf"]
            assert enc["sum_tf"][bi] == r["sum_tf"]
            assert enc["min_dl"][bi] == r["min_dl"]
            assert enc["doc_bytes"][bi] == r["doc_bytes"]
            assert enc["tf_bytes"][bi] == r["tf_bytes"]
            assert enc["dl_bytes"][bi] == r["dl_bytes"]
            assert enc["pos_bytes"][bi] == r["pos_bytes"]
            bi += 1
    assert bi == len(enc["first_doc"])


def test_impacts_parity_and_domination():
    """imp_bytes (v8 quantized impacts): the batch encoder's vectorized
    segmented-pareto output is byte-identical to the per-block
    reference path; decoded fronts are strictly ascending in both
    coordinates, capped, and dominate every posting in the block."""
    import numpy as np

    from synspark.codec import (MAX_IMPACTS, decode_impacts,
                                encode_blocks, encode_sorted_batch)

    rng = np.random.RandomState(11)
    for trial in range(30):
        nd = rng.randint(1, 500)
        docs = np.sort(rng.choice(np.arange(8000), size=nd,
                                  replace=False))
        tfs = rng.randint(1, 40, size=nd).astype(np.int64)
        dls = rng.randint(1, 800, size=nd).astype(np.int64)
        blocks = encode_blocks(docs, tfs, dls=dls, block_docs=64)
        doc_tok = np.repeat(docs, tfs)
        dl_tok = np.repeat(dls, tfs)
        gc = np.zeros(len(doc_tok), dtype=bool)
        gc[0] = True
        enc = encode_sorted_batch(gc, doc_tok, None, dl_tok,
                                  block_docs=64)
        assert len(blocks) == len(enc["imp_bytes"])
        for bi, (b, ib) in enumerate(zip(blocks, enc["imp_bytes"])):
            assert b["imp_bytes"] == ib
            f, d = decode_impacts(ib)
            assert 1 <= len(f) <= MAX_IMPACTS
            assert np.all(np.diff(f) > 0) and np.all(np.diff(d) > 0)
            s, e = bi * 64, min((bi + 1) * 64, nd)
            for t, l in zip(tfs[s:e], dls[s:e]):
                assert any(t <= fi and l >= di
                           for fi, di in zip(f, d)), (t, l, f, d)


@st.composite
def shard_frames(draw):
    """A shard's block rows: several terms, several blocks each; with
    or without positions, pl_bytes mixed None/present, imp_bytes
    present, absent, or None on some rows."""
    has_pos = draw(st.booleans())
    imp_mode = draw(st.sampled_from(["all", "column_absent", "some_none"]))
    rng = np.random.RandomState(draw(st.integers(0, 2**31 - 1)))
    recs = []
    for t in range(draw(st.integers(1, 4))):
        n = int(rng.randint(1, 300))
        docs = np.sort(rng.choice(5 * n + 10, n, replace=False))
        tfs = rng.randint(1, 5, n).astype(np.int64)
        dls = rng.randint(1, 500, n).astype(np.int64)
        pos = plen = None
        if has_pos:
            pos = np.concatenate([np.sort(rng.choice(64, k, replace=False))
                                  for k in tfs])
            plen = rng.randint(1, 4, len(pos))
        for b in encode_blocks(docs.astype(np.int64), tfs, pos, dls,
                               block_docs=int(rng.choice([8, 32, 128])),
                               plens_concat=plen):
            if rng.rand() < 0.5:
                b["pl_bytes"] = None
            if imp_mode == "some_none" and rng.rand() < 0.5:
                b["imp_bytes"] = None
            recs.append({"term": f"t{t}", **b})
    pdf = pd.DataFrame(recs)
    if imp_mode == "column_absent":
        pdf = pdf.drop(columns="imp_bytes")
    return pdf, has_pos


@given(shard_frames(), st.data())
@settings(max_examples=80, deadline=None)
def test_decode_selected_equals_per_block_decoders(frame, data):
    """The batched kernel equals the per-block decoders' results
    concatenated in row order, for any row subset and stream set."""
    pdf, has_pos = frame
    rows = data.draw(st.lists(st.integers(0, len(pdf) - 1), unique=True))
    avail = [s for s in STREAMS if has_pos or s != "pos"]
    streams = data.draw(st.sets(st.sampled_from(avail), min_size=1))
    got = decode_selected(pdf, rows, streams)

    want = {k: [] for k in ("n", "doc", "tf", "dl", "occ_doc", "pos",
                            "plen", "imp_n", "imp_f", "imp_d")}
    for r in rows:
        row = pdf.iloc[r]
        docs, tfs = decode_block(row.first_doc, row.doc_bytes,
                                 row.tf_bytes, row.n_docs)
        want["n"].append([row.n_docs])
        want["doc"].append(docs)
        want["tf"].append(tfs)
        want["dl"].append(varint_decode(row.dl_bytes, row.n_docs))
        want["plen"].append(decode_plens(row.pl_bytes, tfs))
        if has_pos:
            want["occ_doc"].append(np.repeat(docs, tfs))
            want["pos"].append(decode_positions(row.pos_bytes, tfs))
        ib = row.get("imp_bytes")
        f, d = decode_impacts(ib) if ib is not None else ([], [])
        want["imp_n"].append([len(f)])
        want["imp_f"].append(f)
        want["imp_d"].append(d)
    keys = {"n"} | ({"doc", "tf", "dl"} & set(streams))
    keys |= {"occ_doc", "pos"} if "pos" in streams else set()
    keys |= {"plen"} if "pl" in streams else set()
    keys |= {"imp_n", "imp_f", "imp_d"} if "imp" in streams else set()
    assert keys <= set(got)
    for k in keys:
        exp = np.concatenate(want[k]).astype(np.int64) if want[k] \
            else np.zeros(0, np.int64)
        assert got[k].dtype == np.int64, k
        assert got[k].tolist() == exp.tolist(), k


def test_decode_selected_rejects_missing_positions():
    blocks = encode_blocks(np.arange(5, dtype=np.int64),
                           np.ones(5, dtype=np.int64))
    with pytest.raises(ValueError, match="store_positions"):
        decode_selected(pd.DataFrame(blocks), [0], ("pos",))


@pytest.mark.parametrize("n", [1, 4096, 4097, 10_000])
def test_docstats_rows_roundtrip(n):
    """Docstats pseudo rows built by the one row builder decode back
    through the kernel to the shard's (doc_id, dl) pairs, id-sorted."""
    from synspark.indexer import DOCSTATS_TERM, docstats_rows
    rng = np.random.RandomState(n)
    ids = rng.choice(3 * n + 5, n, replace=False).astype(np.int64)
    dls = rng.randint(1, 10_000, n).astype(np.int64)
    rows = docstats_rows(ids, dls, shard=3)
    assert (rows["term"] == DOCSTATS_TERM).all()
    assert (rows["shard"] == 3).all()
    assert rows["block_seq"].tolist() == list(range(len(rows)))
    assert rows["n_docs"].sum() == n and rows["n_docs"].max() <= 4096
    assert (rows["tf_bytes"] == b"").all()
    dec = decode_selected(rows, np.arange(len(rows)), ("doc", "dl"))
    o = np.argsort(ids)
    assert dec["doc"].tolist() == ids[o].tolist()
    assert dec["dl"].tolist() == dls[o].tolist()
    assert rows["first_doc"].tolist() == [
        int(dec["doc"][s]) for s in range(0, n, 4096)]
