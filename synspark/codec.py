"""Posting-list codec: delta + varint + fixed-size blocks with
block-max metadata (SURVEY §2.4 E7; Lucene postings-format semantics
re-expressed, not ported).

All encode/decode is numpy-vectorized — this runs inside Arrow-batched
``applyInPandas`` workers over potentially millions of postings for hot
terms, so no per-value Python loops.

Block layout (one logical posting list = ordered blocks). Six byte
streams, all varint-coded:
  - ``doc_bytes``: doc gaps; first value is the gap from ``first_doc``
    (i.e. 0 for the first doc), so a block is decodable standalone
    given ``first_doc``.
  - ``tf_bytes``: term frequencies, one per doc, same order.
  - ``dl_bytes``: the doc's length (token positions), one per doc —
    norms ride with the postings so query workers score without a join.
  - ``pos_bytes`` (None when built without positions): per-doc
    delta-encoded positions, concatenated (tf values give the per-doc
    counts); the delta chain restarts at every doc.
  - ``pl_bytes`` (None unless a token filter wrote multi-position
    tokens): one position length per occurrence, aligned with the
    positions; None means every token spans 1.
  - ``imp_bytes`` (None on blocks written without doc lengths):
    quantized impacts ``[P, f_1..f_P, d_1..d_P]``, see pareto_impacts.
  - metadata: ``first_doc, last_doc, n_docs, max_tf, min_dl`` — skip +
    block-max data for WAND (bound computed at query time from
    tfnorm(max_tf, min_dl), so k1/b/avgdl stay query parameters).

Docstats pseudo rows (term ``indexer.DOCSTATS_TERM``) reuse the block
schema to carry every doc's length once per shard: up to 4096 docs per
row, ``doc_bytes`` and ``dl_bytes`` as above, ``tf_bytes`` empty,
``max_tf = sum_tf = min_dl = 0`` and no pos/pl/imp streams.

``decode_selected`` is the one read path for all of it: every reader
of the format hands it block rows and gets flat arrays back. It decodes
the positions of many blocks in one pass, which is valid because a
block boundary is always a doc boundary and the position delta chain
restarts at every doc, so concatenated ``pos_bytes`` read as one
buffer with the concatenated tfs.
"""

from __future__ import annotations

import numpy as np

BLOCK_DOCS = 128
# cap on stored impact pairs per block (quantization segments); Lucene
# caps its per-level impact lists similarly
MAX_IMPACTS = 8


def pareto_impacts(tfs: np.ndarray, dls: np.ndarray,
                   cap: int = MAX_IMPACTS) -> tuple[np.ndarray, np.ndarray]:
    """Quantized impacts for one block (Lucene's competitive freq-norm
    pairs, re-derived): the pareto front of the block's ACTUAL
    (tf, dl) posting pairs — (f_i, d_i) with f and d strictly
    ascending such that every posting is dominated by some pair
    (tf <= f_i and dl >= d_i). The WAND bound max_i score(f_i, d_i)
    is then ATTAINED whenever a block is a mix of homogeneous doc
    populations (each population's exact (tf, dl) is its own pair),
    which (max_tf, min_dl) — a cross-doc chimera — never achieves on
    mixed blocks. Fronts longer than ``cap`` quantize by merging
    adjacent pairs into (max f, min d) — still dominating, slightly
    looser."""
    o = np.lexsort((-tfs, dls))            # dl asc, tf desc within dl
    tfo, dlo = tfs[o], dls[o]
    cm = np.maximum.accumulate(tfo)
    member = np.empty(len(tfo), dtype=bool)
    member[0] = True
    member[1:] = cm[1:] > cm[:-1]
    f, d = tfo[member], dlo[member]
    if len(f) > cap:
        r = np.arange(len(f))
        seg = (r * cap) // len(f)
        starts = np.concatenate(([0], np.flatnonzero(np.diff(seg)) + 1))
        f = np.maximum.reduceat(f, starts)  # front is f-ascending
        d = d[starts]                       # and d-ascending: min = first
    return f.astype(np.int64), d.astype(np.int64)


def encode_impacts(f: np.ndarray, d: np.ndarray) -> bytes:
    """varint [P, f_1..f_P, d_1..d_P]."""
    return varint_encode(np.concatenate(
        ([len(f)], f, d)).astype(np.uint64))


def decode_impacts(buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_impacts -> (f int64 asc, d int64 asc)."""
    v = varint_decode(buf).astype(np.int64)
    p = int(v[0])
    return v[1:1 + p], v[1 + p:1 + 2 * p]


def varint_encode_with_lengths(values: np.ndarray) -> tuple:
    """LEB128-style varint encode of a uint64 array, vectorized.
    Returns (uint8 array, per-value byte lengths) so callers can slice
    per-block ranges without re-encoding."""
    v = values.astype(np.uint64, copy=False)
    if len(v) == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    # bytes needed per value: ceil(bit_length/7), min 1
    nbits = np.zeros(len(v), dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 7
        tmp = tmp >> np.uint64(7)
    nbytes = np.maximum(nbits // 7, 1)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    maxb = int(nbytes.max())
    for k in range(maxb):
        mask = nbytes > k
        idx = starts[mask] + k
        chunk = (v[mask] >> np.uint64(7 * k)).astype(np.uint64) & np.uint64(0x7F)
        more = (nbytes[mask] > k + 1).astype(np.uint8) << 7
        out[idx] = chunk.astype(np.uint8) | more
    return out, nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-style varint encode of a uint64 array, vectorized."""
    out, _ = varint_encode_with_lengths(values)
    return out.tobytes()


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode a varint byte string to uint64, vectorized."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if len(raw) == 0:
        return np.zeros(0, dtype=np.uint64)
    is_last = (raw & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.concatenate(([0], ends[:-1] + 1))
    vals = np.zeros(len(ends), dtype=np.uint64)
    lengths = ends - starts + 1
    maxb = int(lengths.max())
    for k in range(maxb):
        mask = lengths > k
        vals[mask] |= (raw[starts[mask] + k].astype(np.uint64)
                       & np.uint64(0x7F)) << np.uint64(7 * k)
    if count is not None:
        assert len(vals) == count, (len(vals), count)
    return vals


def encode_positions(positions_concat: np.ndarray, tfs: np.ndarray) -> bytes:
    """Delta-encode per-doc position lists (concatenated, lengths=tfs)."""
    if len(positions_concat) == 0:
        return b""
    p = positions_concat.astype(np.int64, copy=False)
    deltas = np.diff(p, prepend=0)
    # reset the delta chain at each doc boundary
    starts = np.cumsum(tfs)[:-1].astype(np.int64)
    if len(starts):
        deltas[starts] = p[starts] - 0  # absolute first position per doc
    deltas[0] = p[0]
    return varint_encode(deltas.astype(np.uint64))


def decode_positions(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of encode_positions; returns the concatenated positions."""
    deltas = varint_decode(buf).astype(np.int64)
    if len(deltas) == 0:
        return deltas
    boundaries = np.zeros(len(deltas), dtype=bool)
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1].astype(np.int64)))
    boundaries[starts] = True
    # cumulative sum within each doc's run
    out = np.empty(len(deltas), dtype=np.int64)
    acc = np.cumsum(deltas)
    base = np.zeros(len(deltas), dtype=np.int64)
    base[starts[1:]] = acc[starts[1:] - 1]
    np.maximum.accumulate(base, out=base)
    out = acc - base
    # positions are absolute at doc starts already (delta chain reset)
    return out


def decode_plens(buf: bytes | None, tfs: np.ndarray) -> np.ndarray:
    """Per-occurrence position lengths, aligned with decode_positions'
    output. ``None`` means the block was written without a posLength
    graph — every token spans one position (the overwhelmingly common
    case; only filter-composed indexes with multi-word rules ever
    write pl_bytes)."""
    n = int(np.asarray(tfs).sum())
    if buf is None:
        return np.ones(n, dtype=np.int64)
    return varint_decode(buf, n).astype(np.int64)


def encode_blocks(doc_ids: np.ndarray, tfs: np.ndarray,
                  positions_concat: np.ndarray | None = None,
                  dls: np.ndarray | None = None,
                  block_docs: int = BLOCK_DOCS,
                  plens_concat: np.ndarray | None = None) -> list[dict]:
    """Split one term's sorted postings into encoded blocks.

    ``doc_ids`` must be sorted ascending and unique. ``dls`` (per-doc
    length) is embedded per posting (Lucene colocates norms with
    segments the same way) so query workers score without a docstats
    join. Returns a list of dicts matching the segment schema.
    """
    n = len(doc_ids)
    if n == 0:
        return []
    doc_ids = doc_ids.astype(np.int64, copy=False)
    tfs64 = tfs.astype(np.uint64, copy=False)
    out = []
    pos_offsets = None
    if positions_concat is not None:
        pos_offsets = np.concatenate(([0], np.cumsum(tfs.astype(np.int64))))
    for b0 in range(0, n, block_docs):
        b1 = min(b0 + block_docs, n)
        docs = doc_ids[b0:b1]
        gaps = np.diff(docs, prepend=docs[0]).astype(np.uint64)
        block_tfs = tfs64[b0:b1]
        rec = {
            "first_doc": int(docs[0]),
            "last_doc": int(docs[-1]),
            "n_docs": int(b1 - b0),
            "max_tf": int(block_tfs.max()),
            "sum_tf": int(block_tfs.sum()),
            "min_dl": int(dls[b0:b1].min()) if dls is not None else 0,
            "doc_bytes": varint_encode(gaps),
            "tf_bytes": varint_encode(block_tfs),
            "dl_bytes": (varint_encode(dls[b0:b1].astype(np.uint64))
                         if dls is not None else b""),
            "imp_bytes": (encode_impacts(*pareto_impacts(
                tfs[b0:b1].astype(np.int64),
                dls[b0:b1].astype(np.int64)))
                if dls is not None else None),
            "pos_bytes": None,
        }
        if positions_concat is not None:
            seg = positions_concat[pos_offsets[b0]:pos_offsets[b1]]
            rec["pos_bytes"] = encode_positions(
                np.asarray(seg), tfs[b0:b1].astype(np.int64))
        rec["pl_bytes"] = None
        if plens_concat is not None and pos_offsets is not None:
            seg = plens_concat[pos_offsets[b0]:pos_offsets[b1]]
            rec["pl_bytes"] = varint_encode(
                np.asarray(seg).astype(np.uint64))
        out.append(rec)
    return out


def _impacts_batch(tf: np.ndarray, udl: np.ndarray,
                   blk_starts: np.ndarray,
                   docs_per_blk: np.ndarray) -> list:
    """Vectorized per-block quantized impacts for the batch encoder —
    byte-identical to ``encode_impacts(*pareto_impacts(...))`` per
    block (pinned by tests), with no per-block Python.

    Segmented pareto trick: sort docs by (block, dl asc, tf desc);
    ``blk*(M+1) + tf`` makes a single ``np.maximum.accumulate`` a
    per-block running max (each block's base exceeds every value of
    the previous block), and the pareto members are exactly the
    positions where that running max strictly increases."""
    D = len(tf)
    NB = len(blk_starts)
    blk = np.zeros(D, dtype=np.int64)
    blk[blk_starts[1:]] = 1
    blk = np.cumsum(blk)
    M = int(tf.max()) if D else 0
    # one composite-key argsort instead of a 3-key lexsort (3 stable
    # passes): same (blk, dl asc, tf desc) order, ~40% of the
    # impacts-encode cost. Falls back to lexsort if the key range
    # cannot fit int64 (absurd dl/tf magnitudes).
    dmax = int(udl.max()) if D else 0
    k2 = M + 1
    k1 = (dmax + 1) * k2
    if NB * k1 < (1 << 62):
        key = blk * np.int64(k1) + udl.astype(np.int64) * np.int64(k2) \
            + np.int64(M) - tf.astype(np.int64)
        order = np.argsort(key, kind="stable")
    else:
        order = np.lexsort((-tf, udl, blk))
    tfo, dlo, blko = tf[order], udl[order], blk[order]
    comb = blko * np.int64(M + 1) + tfo
    cm = np.maximum.accumulate(comb)
    member = np.empty(D, dtype=bool)
    member[0] = True
    member[1:] = cm[1:] > cm[:-1]
    ftf, fdl, fblk = tfo[member], dlo[member], blko[member]
    # within-block rank over pareto members (every block has >= 1)
    P = np.bincount(fblk, minlength=NB).astype(np.int64)
    first_m = np.concatenate(
        ([0], np.flatnonzero(fblk[1:] != fblk[:-1]) + 1))
    rank = np.arange(len(ftf)) - np.repeat(first_m, P)
    # quantize fronts longer than MAX_IMPACTS: merge adjacent pairs
    Pk = P[fblk]
    seg = np.where(Pk > MAX_IMPACTS, (rank * MAX_IMPACTS) // Pk, rank)
    segchg = np.empty(len(ftf), dtype=bool)
    segchg[0] = True
    segchg[1:] = (fblk[1:] != fblk[:-1]) | (seg[1:] != seg[:-1])
    sstarts = np.flatnonzero(segchg)
    mtf = np.maximum.reduceat(ftf, sstarts)   # front is f-ascending
    mdl = fdl[sstarts]                        # and d-ascending
    mblk = fblk[sstarts]
    P2 = np.bincount(mblk, minlength=NB).astype(np.int64)
    # value stream per block: [P, f_1..f_P, d_1..d_P]
    tot = 1 + 2 * P2
    off = np.concatenate(([0], np.cumsum(tot)))
    vals = np.zeros(int(off[-1]), dtype=np.int64)
    vals[off[:-1]] = P2
    first2 = np.concatenate(
        ([0], np.flatnonzero(mblk[1:] != mblk[:-1]) + 1))
    rank2 = np.arange(len(mtf)) - np.repeat(first2, P2)
    vals[off[mblk] + 1 + rank2] = mtf
    vals[off[mblk] + 1 + P2[mblk] + rank2] = mdl
    raw, lens = varint_encode_with_lengths(vals.astype(np.uint64))
    voff = np.concatenate(([0], np.cumsum(lens)))
    b0 = voff[off[:-1]]
    b1 = voff[off[1:]]
    rb = raw.tobytes()
    return [rb[int(s):int(e)] for s, e in zip(b0, b1)]


def encode_sorted_batch(grp_change: np.ndarray, doc: np.ndarray,
                        pos: np.ndarray | None, dl_tok: np.ndarray,
                        block_docs: int = BLOCK_DOCS,
                        plen: np.ndarray | None = None) -> dict:
    """Encode a token batch covering COMPLETE posting groups into block
    rows — fully vectorized (no per-group Python).

    Input arrays are token-level, sorted by (group, doc, pos):
      - grp_change: bool, True where a new (term, shard, salt) run
        begins (grp_change[0] must be True)
      - doc / pos / dl_tok: per-token doc_id, position, doc length

    Output: dict of per-BLOCK numpy arrays + byte-slice lists, with
    ``doc_start_tok`` mapping blocks back to token index space (for
    recovering per-block term/shard/salt in the caller). Byte output is
    identical to encode_blocks per group (same deltas, same varints) —
    pinned by tests.
    """
    n = len(doc)
    doc_change = grp_change.copy()
    doc_change[1:] |= doc[1:] != doc[:-1]
    doc_starts = np.flatnonzero(doc_change)          # token idx per doc run
    tf = np.diff(np.append(doc_starts, n)).astype(np.int64)
    udoc = doc[doc_starts]
    udl = dl_tok[doc_starts].astype(np.int64)
    D = len(udoc)

    grp_first = grp_change[doc_starts]               # doc-space group starts
    grp_doc_starts = np.flatnonzero(grp_first)
    docs_per_grp = np.diff(np.append(grp_doc_starts, D))
    rank_in_grp = np.arange(D) - np.repeat(grp_doc_starts, docs_per_grp)

    blk_first = grp_first | (rank_in_grp % block_docs == 0)
    blk_starts = np.flatnonzero(blk_first)           # doc-space block starts
    docs_per_blk = np.diff(np.append(blk_starts, D)).astype(np.int64)
    NB = len(blk_starts)

    # block_seq within group
    grp_id_per_doc = np.cumsum(grp_first) - 1
    blk_grp = grp_id_per_doc[blk_starts]
    first_blk_of_grp = np.zeros(int(blk_grp[-1]) + 1, dtype=np.int64)
    # first block index per group: blocks are ordered, find boundaries
    gchg = np.empty(NB, dtype=bool)
    gchg[0] = True
    gchg[1:] = blk_grp[1:] != blk_grp[:-1]
    first_blk_of_grp[blk_grp[gchg]] = np.flatnonzero(gchg)
    block_seq = np.arange(NB) - first_blk_of_grp[blk_grp]

    # doc gaps (0 at block starts; blocks decode standalone)
    gaps = np.empty(D, dtype=np.int64)
    gaps[0] = 0
    gaps[1:] = udoc[1:] - udoc[:-1]
    gaps[blk_starts] = 0

    gap_raw, gap_len = varint_encode_with_lengths(gaps.astype(np.uint64))
    tf_raw, tf_len = varint_encode_with_lengths(tf.astype(np.uint64))
    dl_raw, dl_len = varint_encode_with_lengths(udl.astype(np.uint64))

    def block_slices(raw: np.ndarray, lens: np.ndarray,
                     starts_in_space: np.ndarray,
                     counts: np.ndarray) -> list:
        off = np.concatenate(([0], np.cumsum(lens)))
        b0 = off[starts_in_space]
        b1 = off[starts_in_space + counts]
        rb = raw.tobytes()
        return [rb[int(s):int(e)] for s, e in zip(b0, b1)]

    blk_end = blk_starts + docs_per_blk
    out = {
        "block_seq": block_seq.astype(np.int32),
        "first_doc": udoc[blk_starts].astype(np.int64),
        "last_doc": udoc[blk_end - 1].astype(np.int64),
        "n_docs": docs_per_blk.astype(np.int32),
        "max_tf": np.maximum.reduceat(tf, blk_starts).astype(np.int32),
        "sum_tf": np.add.reduceat(tf, blk_starts).astype(np.int64),
        # block-max data as (max_tf, min_dl) — the WAND upper bound
        # idf*tfnorm(max_tf, min_dl) is computed at query time, so k1/b/
        # avgdl are query parameters, not baked into the index (Lucene
        # impacts do the same)
        "min_dl": np.minimum.reduceat(udl, blk_starts).astype(np.int32),
        "doc_bytes": block_slices(gap_raw, gap_len, blk_starts, docs_per_blk),
        "tf_bytes": block_slices(tf_raw, tf_len, blk_starts, docs_per_blk),
        "dl_bytes": block_slices(dl_raw, dl_len, blk_starts, docs_per_blk),
        "imp_bytes": _impacts_batch(tf, udl, blk_starts, docs_per_blk),
        "doc_start_tok": doc_starts[blk_starts],  # token idx of block start
    }

    if pos is not None:
        pdelta = np.empty(n, dtype=np.int64)
        pdelta[0] = pos[0]
        pdelta[1:] = pos[1:] - pos[:-1]
        pdelta[doc_starts] = pos[doc_starts]  # absolute at each doc start
        pos_raw, pos_len = varint_encode_with_lengths(
            pdelta.astype(np.uint64))
        # token-space ranges per block
        tok_starts = doc_starts[blk_starts]
        tok_ends = np.append(doc_starts, n)[blk_end]
        out["pos_bytes"] = block_slices(pos_raw, pos_len, tok_starts,
                                        tok_ends - tok_starts)
        if plen is not None:
            # posLength graph (filter-composed indexes with multi-word
            # rules): one varint per occurrence, raw values (≥1, almost
            # always 1 → 1 byte), same token-space block slicing as
            # positions. None when every token spans one position.
            pl_raw, pl_len = varint_encode_with_lengths(
                plen.astype(np.uint64))
            out["pl_bytes"] = block_slices(pl_raw, pl_len, tok_starts,
                                           tok_ends - tok_starts)
        else:
            out["pl_bytes"] = [None] * NB
    else:
        out["pos_bytes"] = [None] * NB
        out["pl_bytes"] = [None] * NB
    return out


def decode_block(first_doc: int, doc_bytes: bytes, tf_bytes: bytes,
                 n_docs: int) -> tuple[np.ndarray, np.ndarray]:
    """Decode one block -> (doc_ids int64, tfs int64)."""
    gaps = varint_decode(doc_bytes, n_docs).astype(np.int64)
    docs = np.cumsum(gaps) + first_doc
    tfs = varint_decode(tf_bytes, n_docs).astype(np.int64)
    return docs, tfs


STREAMS = ("doc", "tf", "dl", "pos", "pl", "imp")


def _run_sums(values: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Sums of the consecutive runs of ``counts`` values."""
    c = np.concatenate(([0], np.cumsum(values, dtype=np.int64)))
    ends = np.cumsum(counts)
    return c[ends] - c[ends - counts]


def decode_selected(pdf, rows, streams) -> dict:
    """The block format's read path: decode ``streams`` (names from
    STREAMS) of the block rows at positions ``rows`` of ``pdf`` — a
    frame of block rows, or a dict of its columns as arrays (cheaper
    for callers that decode many selections of one frame). Each stream
    is one varint pass over the rows' concatenated buffers.

    Returns flat int64 arrays in row order, for the requested streams:
      - ``n``: postings per selected row (always);
      - ``doc``, ``tf``, ``dl``: one value per posting;
      - ``occ_doc``, ``pos`` ("pos") and ``plen`` ("pl"): one value per
        occurrence; a row without ``pl_bytes`` spans 1 per occurrence;
      - ``imp_n``, ``imp_f``, ``imp_d`` ("imp"): pareto pairs per row
        (0 for a row without impacts) and the pairs themselves.
    "pos" implies "doc" and "tf"; "pl" implies "tf"."""
    want = set(streams)
    if not want <= set(STREAMS):
        raise ValueError(f"unknown streams {sorted(want - set(STREAMS))}")
    if want & {"pos", "pl"}:
        want.add("tf")
    if "pos" in want:
        want.add("doc")
    rows = np.asarray(rows, dtype=np.int64)
    n = np.asarray(pdf["n_docs"])[rows].astype(np.int64)
    total = int(n.sum())
    out = {"n": n}

    def bufs(col):
        return np.asarray(pdf[col], dtype=object)[rows]

    def present(col):
        """(buffers, mask) of the rows whose ``col`` is not None."""
        if col not in pdf:
            return [], np.zeros(len(rows), dtype=bool)
        b = bufs(col)
        has = np.fromiter((x is not None for x in b), bool, len(b))
        return b[has], has

    if "doc" in want:
        gaps = varint_decode(b"".join(bufs("doc_bytes")),
                             total).astype(np.int64)
        acc = np.cumsum(gaps)
        starts = np.cumsum(n) - n
        # every block's gaps restart at its first_doc: re-anchor the
        # running sum per block (segmented cumsum)
        anchor = np.asarray(pdf["first_doc"])[rows].astype(np.int64) \
            - acc[starts] + gaps[starts]
        out["doc"] = acc + np.repeat(anchor, n)
    for s in ("tf", "dl"):
        if s in want:
            out[s] = varint_decode(b"".join(bufs(f"{s}_bytes")),
                                   total).astype(np.int64)
    if "pos" in want:
        pb, has = present("pos_bytes")
        if not has.all():
            raise ValueError("positions requested from blocks written "
                             "without them (store_positions=False)")
        out["occ_doc"] = np.repeat(out["doc"], out["tf"])
        # one pass: block boundaries are doc boundaries, where the
        # position delta chain restarts anyway
        out["pos"] = decode_positions(b"".join(pb), out["tf"])
    if "pl" in want:
        occ = _run_sums(out["tf"], n)          # occurrences per row
        plen = np.ones(int(occ.sum()), dtype=np.int64)
        pb, has = present("pl_bytes")
        if has.any():
            plen[np.repeat(has, occ)] = varint_decode(
                b"".join(pb), int(occ[has].sum())).astype(np.int64)
        out["plen"] = plen
    if "imp" in want:
        ib, has = present("imp_bytes")
        v = varint_decode(b"".join(ib)).astype(np.int64)
        # a row holds [P, f_1..f_P, d_1..d_P]: 1 + 2P varints, counted
        # from its bytes' terminal (high bit clear) bytes
        cnt = _run_sums(np.frombuffer(b"".join(ib), dtype=np.uint8) < 0x80,
                        np.fromiter((len(x) for x in ib), np.int64,
                                    len(ib)))
        p = (cnt - 1) // 2
        body = np.delete(v, np.cumsum(cnt) - cnt)       # drop the heads
        rank = np.arange(len(body)) - np.repeat(np.cumsum(2 * p) - 2 * p,
                                                2 * p)
        is_f = rank < np.repeat(p, 2 * p)
        out["imp_n"] = np.zeros(len(rows), dtype=np.int64)
        out["imp_n"][has] = p
        out["imp_f"], out["imp_d"] = body[is_f], body[~is_f]
    return out
