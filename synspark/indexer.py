"""Inverted-index construction (SURVEY §2.4 E3–E7).

Two physical strategies build identical logical postings:

1. ``build_segments_maponly`` (default) — the document-routed plan:
   docs are ranged into shards (one repartition of the CORPUS, the
   cheapest thing to shuffle), then each shard partition is tokenized,
   inverted, and block-encoded entirely inside one Arrow-batched
   Python worker — zero token shuffle, embarrassingly parallel, the
   same shape Elasticsearch/Lucene use for sharded indexing. Shard
   count is the task-size knob (choose so a shard's tokens fit a
   worker: tokens_per_shard ≈ corpus_tokens / n_shards).

2. ``encode_segments_from_tokens`` — the term-routed plan named by the
   north star: tokens are salted-repartitioned by (term, shard-range,
   salt) with explicit skew splitting for hot n-grams (two-pass df
   census -> per-term doc sub-ranges), sorted, and stream-encoded.
   Produces per-term globally-mergeable runs; pays one shuffle of the
   token stream. Kept as ``layout="term"``; the doc-routed plan wins
   on wall-clock because the corpus is always smaller than its token
   stream.

Both paths emit SEGMENT_SCHEMA blocks whose decoded postings are
identical (tests pin this); only physical grouping (salt) differs.
"""

from __future__ import annotations

from typing import Iterator

from hashlib import blake2b as _blake2b

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

from .codec import (BLOCK_DOCS, decode_selected, encode_sorted_batch,
                    varint_encode)
from .synonyms import SynonymDict
from .tokenizer import TokenizerConfig, _tokenize_block, blocks

TOKENS_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("term", StringType(), False),
    StructField("pos", IntegerType(), False),
    StructField("start", IntegerType(), False),
    StructField("end", IntegerType(), False),
    StructField("pos_inc", IntegerType(), False),
])

SEGMENT_SCHEMA = StructType([
    StructField("term", StringType(), False),
    StructField("shard", IntegerType(), False),
    StructField("salt", IntegerType(), False),
    StructField("block_seq", IntegerType(), False),
    StructField("first_doc", LongType(), False),
    StructField("last_doc", LongType(), False),
    StructField("n_docs", IntegerType(), False),
    StructField("max_tf", IntegerType(), False),
    StructField("sum_tf", LongType(), False),
    StructField("min_dl", IntegerType(), False),
    StructField("doc_bytes", BinaryType(), False),
    StructField("tf_bytes", BinaryType(), False),
    StructField("dl_bytes", BinaryType(), False),
    # quantized impacts (v8): the pareto front of the block's actual
    # (tf, dl) pairs, capped at MAX_IMPACTS — gives WAND attainable
    # per-block bounds on mixed-population blocks where the
    # (max_tf, min_dl) chimera over-estimates (Lucene's competitive
    # freq-norm impact lists, re-derived; see codec.pareto_impacts)
    StructField("imp_bytes", BinaryType(), True),
    StructField("pos_bytes", BinaryType(), True),
    # posLength graph (v6): per-occurrence spans, present only for
    # filter-composed builds whose rules produce multi-position tokens
    # ("united states => usa" spans 2 positions — SynonymFilter.java:
    # 472-526); None (= all spans 1) everywhere else, at zero cost
    StructField("pl_bytes", BinaryType(), True),
])

_SEG_COLS = [f.name for f in SEGMENT_SCHEMA.fields]

# pseudo-term row carrying per-shard (doc_id, dl) pairs: doc lengths
# ride along in the same map-only pass instead of paying a second
# tokenize pass. "\x00" sorts before every real term.
DOCSTATS_TERM = "\x00docstats"
_DOCSTATS_BLOCK = 4096


class _Interner:
    """Per-worker token interning: block -> (term-id array, pos-inc
    array), memoized. Keeps the hot path in int numpy arrays instead of
    per-token Python strings (string churn is memory-bandwidth bound
    and kills >8-way scaling).

    ``token_filter`` (a whole-doc token-stream transform, e.g.
    synfilter.synonym_token_filter) switches to a per-DOCUMENT path:
    filter matches may span block boundaries, so block-level
    memoization doesn't apply — the filtered stream is memoized per
    text instead (repeated docs still hit the cache)."""

    def __init__(self, cfg_tuple, syn, token_filter=None):
        self.cfg_tuple = cfg_tuple
        self.syn = syn
        self.token_filter = token_filter
        self.vocab: dict = {}
        self.vlist: list = []
        self.cache: dict = {}
        self.doc_cache: dict = {}

    def _intern(self, toks):
        tids = np.empty(len(toks), dtype=np.int32)
        pincs = np.empty(len(toks), dtype=np.int32)
        vocab, vlist = self.vocab, self.vlist
        for j, (w, _s, _e, pi) in enumerate(toks):
            tid = vocab.get(w)
            if tid is None:
                tid = len(vlist)
                vocab[w] = tid
                vlist.append(w)
            tids[j] = tid
            pincs[j] = pi
        return tids, pincs

    def _intern_filtered(self, toks):
        """Filtered-path intern: token filters may emit 5-tuples
        (word, start, end, pos_inc, pos_len) — pos_len is captured so
        multi-word-rule outputs keep their span in the index
        (SynonymFilter.java:472-526). Returns (tids, pincs, plens);
        plens is None when every span is 1 (the common case — nothing
        extra is stored)."""
        tids = np.empty(len(toks), dtype=np.int32)
        pincs = np.empty(len(toks), dtype=np.int32)
        plens = np.ones(len(toks), dtype=np.int32)
        vocab, vlist = self.vocab, self.vlist
        wide = bool(toks) and len(toks[0]) > 4
        for j, t in enumerate(toks):
            w, pi = t[0], t[3]
            tid = vocab.get(w)
            if tid is None:
                tid = len(vlist)
                vocab[w] = tid
                vlist.append(w)
            tids[j] = tid
            pincs[j] = pi
            if wide:
                plens[j] = t[4]
        return tids, pincs, (plens if wide and (plens != 1).any()
                             else None)

    def block_ids(self, block: str):
        ent = self.cache.get(block)
        if ent is None:
            n, expand, ignore_case, _, emit_short = self.cfg_tuple
            toks = _tokenize_block(block, n, expand, ignore_case, self.syn,
                                   emit_short)
            ent = self._intern(toks)
            if len(self.cache) < 65536:
                self.cache[block] = ent
        return ent

    def doc_ids(self, text: str):
        """-> (tid array, position array, dl) for one document."""
        if self.token_filter is not None:
            return self._doc_ids_filtered(text)
        delims = self.cfg_tuple[3]
        tid_parts, pinc_parts = [], []
        for _bs, block in blocks(text, delims):
            t, p = self.block_ids(block)
            tid_parts.append(t)
            pinc_parts.append(p)
        if not tid_parts:
            return None
        tids = np.concatenate(tid_parts)
        pos = np.cumsum(np.concatenate(pinc_parts), dtype=np.int64) - 1
        return tids, pos, int(pos[-1]) + 1 if len(pos) else 0

    def doc_chunks(self, text: str):
        """Filtered path: whole-doc (tid array, pos-inc array, plen
        array-or-None), memoized by CONTENT HASH — the key is 16 bytes
        regardless of
        document size (full-text keys would pin up to cap × doc-size
        bytes per worker for a near-zero hit rate on unique-text
        corpora; only whole-document repeats ever hit). blake2b, not
        md5: real colliding md5 inputs exist (crypto test vectors in a
        code corpus) and a collision here would silently index the
        wrong token stream."""
        key = _blake2b(text.encode("utf-8", "surrogatepass"),
                       digest_size=16).digest()
        ent = self.doc_cache.get(key)
        if ent is None:
            from .tokenizer import TokenizerConfig, tokenize
            n, expand, ignore_case, delims, emit_short = self.cfg_tuple
            cfg = TokenizerConfig(n=n, delimiters=delims, expand=expand,
                                  ignore_case=ignore_case,
                                  emit_short_blocks=emit_short)
            ent = self._intern_filtered(
                self.token_filter(tokenize(text, cfg, self.syn)))
            if len(self.doc_cache) < 4096:
                self.doc_cache[key] = ent
        return ent

    def _doc_ids_filtered(self, text: str):
        tids, pincs, _plens = self.doc_chunks(text)
        if not len(tids):
            return None
        pos = np.cumsum(pincs, dtype=np.int64) - 1
        return tids, pos, int(pos[-1]) + 1


def tokenize_corpus(df: DataFrame, cfg: TokenizerConfig,
                    syn: SynonymDict | None,
                    id_col: str = "doc_id", text_col: str = "content",
                    keep_offsets: bool = True,
                    token_filter=None) -> DataFrame:
    """corpus -> flat tokens DataFrame via mapInPandas (Arrow batches,
    flat numpy/list output — faster than ArrayType(Struct)+explode).
    Lucene position = running cumsum of pos_inc - 1 per doc.
    ``token_filter`` applies a whole-doc token-stream transform after
    tokenization (the classic SynonymFilter composition)."""
    n, expand, ignore_case, delims = cfg.n, cfg.expand, cfg.ignore_case, cfg.delimiters
    emit_short = cfg.emit_short_blocks
    syn_local, filt = syn, token_filter  # pickled once per python worker

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}

        def doc_tokens(text):
            if filt is not None:
                from .tokenizer import TokenizerConfig as _TC
                from .tokenizer import tokenize as _tok
                cfg_l = _TC(n=n, delimiters=delims, expand=expand,
                            ignore_case=ignore_case,
                            emit_short_blocks=emit_short)
                # filters may emit 5-tuples (…, pos_len); the flat
                # tokens table carries no span column — the doc-routed
                # build (build_segments_maponly) is the path that
                # persists posLength
                return [t[:4] for t in filt(_tok(text, cfg_l, syn_local))]
            out = []
            for blk_start, block in blocks(text, delims):
                toks = cache.get(block)
                if toks is None:
                    toks = _tokenize_block(block, n, expand, ignore_case,
                                           syn_local, emit_short)
                    if len(cache) < 65536:
                        cache[block] = toks
                out.extend((word, blk_start + s, blk_start + e, pi)
                           for word, s, e, pi in toks)
            return out

        for pdf in batches:
            doc_ids, terms, poss, starts, ends, pis = [], [], [], [], [], []
            for did, text in zip(pdf[id_col].to_numpy(), pdf[text_col]):
                if not text:
                    continue
                pos = -1
                for word, s, e, pi in doc_tokens(text):
                    pos += pi
                    doc_ids.append(did)
                    terms.append(word)
                    poss.append(pos)
                    starts.append(s)
                    ends.append(e)
                    pis.append(pi)
            yield pd.DataFrame({
                "doc_id": np.asarray(doc_ids, dtype=np.int64),
                "term": terms,
                "pos": np.asarray(poss, dtype=np.int32),
                "start": np.asarray(starts, dtype=np.int32),
                "end": np.asarray(ends, dtype=np.int32),
                "pos_inc": np.asarray(pis, dtype=np.int32),
            })

    toks = df.select(id_col, text_col).mapInPandas(run, schema=TOKENS_SCHEMA)
    if not keep_offsets:
        toks = toks.drop("start", "end")
    return toks


def build_postings(tokens: DataFrame, store_positions: bool = True) -> DataFrame:
    """tokens -> postings(term, doc_id, tf[, positions]) — plain hash
    aggregation (partial+final, whole-stage codegen). Used by tests and
    the naive-oracle cross-checks."""
    aggs = [F.count("*").cast("int").alias("tf")]
    if store_positions:
        aggs.append(F.sort_array(F.collect_list("pos")).alias("positions"))
    return tokens.groupBy("term", "doc_id").agg(*aggs)


def build_doc_stats(tokens: DataFrame) -> DataFrame:
    """doc_id -> dl. dl = number of positions = sum(pos_inc) (Lucene
    discountOverlaps: stacked posInc=0 tokens don't add length, so
    expand=true doesn't skew BM25 norms)."""
    return tokens.groupBy("doc_id").agg(
        F.sum("pos_inc").cast("int").alias("dl"))


# ---------------------------------------------------------------------
# strategy 1: document-routed, map-only (default)
# ---------------------------------------------------------------------

def build_segments_maponly(docs: DataFrame, cfg: TokenizerConfig,
                           syn: SynonymDict | None,
                           n_docs: int, n_shards: int = 8,
                           store_positions: bool = True,
                           block_docs: int = BLOCK_DOCS,
                           id_col: str = "doc_id",
                           text_col: str = "content",
                           token_filter=None) -> DataFrame:
    """corpus -> segment blocks with ZERO token shuffle.

    ``shard = doc_id * n_shards // N``; one repartition routes each doc
    range to one partition; inside the partition a Python worker
    tokenizes (memoized), locally inverts with np.unique/lexsort, and
    block-encodes. Output rows arrive already grouped by shard and
    sorted by term. salt is always 0 (skew is bounded by shard size;
    size shards by token volume at scale)."""
    cfg_tuple = (cfg.n, cfg.expand, cfg.ignore_case, cfg.delimiters,
                 cfg.emit_short_blocks)
    syn_local, filt = syn, token_filter
    nd = max(n_docs, 1)

    # RANGE routing (round 6): shard keys are contiguous equal-count
    # doc ranges, so repartitionByRange gives each shard its own task
    # with NO empty partitions. The previous hash route needed 4x
    # partitions to dodge balls-in-bins collisions, which spawned
    # 3·n_shards empty Python tasks per build (mapInPandas pays the
    # worker round-trip even for empty splits — measured 9.7s -> 4.7s
    # for the 100k-doc auto-shard build at local[32], guide §2.2:
    # fewer, larger map tasks). A user-specified range repartition is
    # exempt from AQE coalescing, like the hash route it replaces.
    #
    # When the caller fixes n_shards BELOW the core count (an 8-shard
    # build on local[32]), route by f sub-ranges per shard instead, so
    # tokenize+encode runs on every core. Each sub-range is a
    # contiguous doc slice wholly inside one shard (n_subs =
    # f·n_shards and ⌊⌊d·n_subs/N⌋/f⌋ = ⌊d·n_shards/N⌋), so a worker
    # still emits complete per-shard segment rows for ITS doc slice —
    # exactly the multi-segment-per-shard shape every
    # ``append_to_index`` batch already produces, which all readers
    # (WAND first_doc-sorted block walk, df sums, merges, compaction)
    # handle by construction. Blocks from different slices cover
    # disjoint doc ranges, so per-term df/impact/skip metadata stays
    # exact. Splitting is gated on shard SIZE: every sub-range ends
    # with a partial posting block per term, so f is capped at one
    # sub-split per 50 block-widths of docs (≤ ~2% extra blocks for
    # full-df terms) — undersized shards encode unsplit rather than
    # trade query-time block count for build parallelism.
    # Routing choice, measured both ways at local[32] (interleaved):
    # the 4x hash spread is cheapest while its empty partitions are few
    # (n_shards=8: hash 2.97s vs range 3.15s — range pays an extra
    # sampling pass over the input and its latency spikes under load),
    # but collapses once empties multiply (n_shards=32: hash 8.98s vs
    # range 3.42s; auto-shard 128: 9.68s vs 4.74s — 3·n_shards empty
    # mapInPandas tasks each pay the Python worker round trip). So:
    # hash spread while 4·n_shards fits the core budget, range beyond
    # it, and range on the _sub key when sub-splitting is active
    # (n_subs ≈ cores ⇒ a 4x spread would be mostly empties).
    par = max(1, docs.sparkSession.sparkContext.defaultParallelism)
    f = max(1, min(par // max(n_shards, 1),
                   (nd // max(n_shards, 1)) // (50 * block_docs)))
    routed = (docs.select(id_col, text_col)
              .withColumn("shard", ((F.col(id_col) * F.lit(n_shards))
                                    / F.lit(nd)).cast("int")))
    if f > 1:
        routed = (routed
                  .withColumn("_sub",
                              ((F.col(id_col) * F.lit(n_shards * f))
                               / F.lit(nd)).cast("int"))
                  .repartitionByRange(n_shards * f, "_sub")
                  .drop("_sub"))
    elif n_shards * 4 <= par:
        routed = routed.repartition(n_shards * 4, "shard")
    else:
        routed = routed.repartitionByRange(n_shards, "shard")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        interner = _Interner(cfg_tuple, syn_local, filt)
        # hash routing may co-locate several shard keys in one partition:
        # accumulate per shard as raw per-BLOCK chunks; positions / dl /
        # doc arrays are derived vectorized per shard (zero per-doc
        # numpy work in the loop — this loop runs per document)
        acc: dict = {}  # shard -> [tid_chunks, pinc_chunks, doc_ids,
        #                           tok_counts, plen_chunks]
        block_ids = interner.block_ids
        delims = cfg_tuple[3]
        # a token FILTER operates on the whole-doc stream (matches may
        # span block boundaries) — use the doc-level memoized path;
        # unfiltered builds keep the hotter block-level memo
        doc_chunks = interner.doc_chunks if filt is not None else None

        for pdf in batches:
            for did, text, sh in zip(pdf[id_col].to_numpy(), pdf[text_col],
                                     pdf["shard"].to_numpy()):
                if not text:
                    continue
                a = acc.get(int(sh))
                if a is None:
                    a = acc[int(sh)] = ([], [], [], [], [])
                ntok = 0
                if doc_chunks is not None:
                    t, p, pl = doc_chunks(text)
                    if len(t):
                        a[0].append(t)
                        a[1].append(p)
                        a[4].append(pl)
                        ntok = len(t)
                else:
                    for _bs, block in blocks(text, delims):
                        t, p = block_ids(block)
                        if len(t):
                            a[0].append(t)
                            a[1].append(p)
                            ntok += len(t)
                if ntok:
                    a[2].append(did)
                    a[3].append(ntok)

        if not acc:
            yield pd.DataFrame(columns=_SEG_COLS)
            return

        # lexicographic term order for the output (parquet row-group
        # min/max stats on sorted term -> query-time pruning)
        vlist = interner.vlist
        order_v = sorted(range(len(vlist)), key=vlist.__getitem__)
        rank = np.empty(len(vlist), dtype=np.int64)
        rank[np.asarray(order_v, dtype=np.int64)] = np.arange(len(vlist))
        sorted_vocab = np.array([vlist[i] for i in order_v], dtype=object)

        for sh in sorted(acc):
            tid_chunks, pinc_chunks, doc_ids_l, tok_counts_l, \
                plen_chunks = acc[sh]
            rtid = rank[np.concatenate(tid_chunks)]
            counts = np.asarray(tok_counts_l, dtype=np.int64)
            doc_arr = np.repeat(np.asarray(doc_ids_l, dtype=np.int64),
                                counts)
            # positions: cumsum of pos_inc, reset per doc; dl = last
            # position + 1 per doc (sum of pos_inc)
            cp = np.cumsum(np.concatenate(pinc_chunks), dtype=np.int64)
            ends = np.cumsum(counts) - 1          # token idx of doc ends
            prev_total = np.concatenate(([0], cp[ends[:-1]]))
            pos_arr = cp - np.repeat(prev_total, counts) - 1
            sdls = cp[ends] - prev_total          # dl per doc
            sdocs = np.asarray(doc_ids_l, dtype=np.int64)
            dl_arr = np.repeat(sdls, counts)
            # local inversion: docs arrive in arbitrary order after the
            # shuffle — lexsort tokens by (term rank, doc, pos)
            order = np.lexsort((pos_arr, doc_arr, rtid))
            rtid = rtid[order]
            doc_s, pos_s, dl_s = doc_arr[order], pos_arr[order], dl_arr[order]
            # posLength spans ride along ONLY when a filter actually
            # produced a span > 1 somewhere in this shard (multi-word
            # rules); otherwise pl_bytes stays None at zero cost
            plen_s = None
            if store_positions and plen_chunks and \
                    any(pl is not None for pl in plen_chunks):
                plen_s = np.concatenate([
                    pl if pl is not None else np.ones(len(tc), np.int32)
                    for pl, tc in zip(plen_chunks, tid_chunks)
                ]).astype(np.int64)[order]
            grp_change = np.empty(len(rtid), dtype=bool)
            grp_change[0] = True
            grp_change[1:] = rtid[1:] != rtid[:-1]
            enc = encode_sorted_batch(grp_change, doc_s,
                                      pos_s if store_positions else None,
                                      dl_s, block_docs, plen=plen_s)
            tok_idx = enc.pop("doc_start_tok")
            nb = len(tok_idx)
            yield pd.DataFrame({
                "term": sorted_vocab[rtid[tok_idx]],
                "shard": np.full(nb, sh, dtype=np.int32),
                "salt": np.zeros(nb, dtype=np.int32),
                **enc,
            }, columns=_SEG_COLS)

            yield docstats_rows(sdocs, sdls, sh)

    return routed.mapInPandas(run, schema=SEGMENT_SCHEMA)


def docstats_rows(doc_ids: np.ndarray, dls: np.ndarray,
                  shard: int) -> pd.DataFrame:
    """The docstats pseudo-term rows of one shard (layout in the codec
    module docstring) from its docs' (doc_id, dl) pairs, any order.
    The build and the merges write them only through here."""
    sd = np.asarray(doc_ids, dtype=np.int64)
    o = np.argsort(sd)
    sd, sl = sd[o], np.asarray(dls, dtype=np.int64)[o]
    recs = []
    for seq, b0 in enumerate(range(0, len(sd), _DOCSTATS_BLOCK)):
        b1 = min(b0 + _DOCSTATS_BLOCK, len(sd))
        recs.append({
            "term": DOCSTATS_TERM, "shard": int(shard), "salt": 0,
            "block_seq": seq, "first_doc": int(sd[b0]),
            "last_doc": int(sd[b1 - 1]), "n_docs": int(b1 - b0),
            "max_tf": 0, "sum_tf": 0, "min_dl": 0,
            "doc_bytes": varint_encode(
                np.diff(sd[b0:b1], prepend=sd[b0]).astype(np.uint64)),
            "tf_bytes": b"",
            "dl_bytes": varint_encode(sl[b0:b1].astype(np.uint64)),
            "imp_bytes": None, "pos_bytes": None, "pl_bytes": None,
        })
    return pd.DataFrame(recs, columns=_SEG_COLS)


def decode_docstats_rows(rows: DataFrame,
                         keep_shard: bool = False) -> DataFrame:
    """Inverse of the docstats pseudo-term rows -> (doc_id, dl)
    (+ ``shard`` when ``keep_shard`` — lets callers count a shard's
    ACTUAL docs without a range join, the source of truth inert
    tombstones can't skew)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dec = decode_selected(pdf, np.arange(len(pdf)), ("doc", "dl"))
            out = {"doc_id": dec["doc"], "dl": dec["dl"].astype(np.int32)}
            if keep_shard:
                out["shard"] = np.repeat(pdf["shard"].to_numpy(),
                                         dec["n"]).astype(np.int32)
            yield pd.DataFrame(out)

    cols = ["first_doc", "n_docs", "doc_bytes", "dl_bytes"]
    schema = "doc_id long, dl int"
    if keep_shard:
        cols.append("shard")
        schema += ", shard int"
    return rows.select(*cols).mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------
# strategy 2: term-routed with explicit skew salting (north-star E5)
# ---------------------------------------------------------------------

def encode_segments_from_tokens(tokens: DataFrame, doc_stats: DataFrame,
                                n_docs: int,
                                n_shards: int = 8,
                                target_tokens_per_task: int = 1 << 20,
                                block_docs: int = BLOCK_DOCS,
                                store_positions: bool = True,
                                num_partitions: int | None = None) -> DataFrame:
    """Salted repartition-by-term segment build:

      tokens ⋈ dl ──repartition(term, shard, salt)──sort──mapInPandas

    Skew splitting without ANY driver-side vocabulary state (round-1
    verdict: a full-vocab ``collect`` is a driver OOM at CJK-bigram ×
    10^12-file scale): a census pass keeps only the HOT terms —
    ``occ > target_tokens_per_task``, so at most
    total_tokens / target of them, a provably tiny set — as a
    DataFrame that broadcast-joins onto the token stream to give each
    hot term ``s_t = ceil(occ / target)`` disjoint doc sub-ranges per
    shard (per-salt ranges are disjoint so the shard's posting list is
    the salt-ordered concatenation, merge is free). Cold terms default
    to one salt via the left join; the full vocabulary never leaves
    the executors.

    The output also carries each shard's docstats pseudo rows, built
    by ``docstats_rows`` from ``doc_stats`` — the same rows the
    document-routed build emits, so both layouts record shard ranges.
    """
    spark = tokens.sparkSession
    hot = (tokens.groupBy("term").agg(F.count("*").alias("occ"))
           .filter(F.col("occ") > target_tokens_per_task)
           .select("term",
                   F.ceil(F.col("occ") / F.lit(target_tokens_per_task))
                   .cast("int").alias("n_salts")))

    nd = max(n_docs, 1)
    t = (tokens.select("doc_id", "term", "pos")
         .join(F.broadcast(hot), "term", "left")
         .withColumn("n_salts", F.coalesce(F.col("n_salts"), F.lit(1)))
         .join(doc_stats, "doc_id")
         .withColumn("shard", ((F.col("doc_id") * F.lit(n_shards))
                               / F.lit(nd)).cast("int"))
         .withColumn("salt", (((F.col("doc_id") * F.lit(n_shards)
                                * F.col("n_salts")) / F.lit(nd)).cast("long")
                              - F.col("shard").cast("long")
                              * F.col("n_salts")).cast("int"))
         .select("term", "shard", "salt", "doc_id", "pos", "dl"))

    parts = num_partitions or spark.sparkContext.defaultParallelism
    part = (t.repartition(parts, "term", "shard", "salt")
            .sortWithinPartitions("term", "shard", "salt", "doc_id", "pos"))

    def encode_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
        term = pdf["term"].to_numpy()
        shard = pdf["shard"].to_numpy()
        salt = pdf["salt"].to_numpy()
        doc = pdf["doc_id"].to_numpy()
        grp_change = np.empty(len(pdf), dtype=bool)
        grp_change[0] = True
        grp_change[1:] = ((term[1:] != term[:-1]) | (shard[1:] != shard[:-1])
                          | (salt[1:] != salt[:-1]))
        enc = encode_sorted_batch(
            grp_change, doc,
            pdf["pos"].to_numpy().astype(np.int64) if store_positions
            else None,
            pdf["dl"].to_numpy(), block_docs)
        tok_idx = enc.pop("doc_start_tok")
        return pd.DataFrame({
            "term": term[tok_idx],
            "shard": shard[tok_idx].astype(np.int32),
            "salt": salt[tok_idx].astype(np.int32),
            **enc,
        }, columns=_SEG_COLS)

    def run(batches):
        buf = None
        for pdf in batches:
            if buf is not None and len(buf):
                pdf = pd.concat([buf, pdf], ignore_index=True)
            if not len(pdf):
                continue
            term = pdf["term"].to_numpy()
            shard = pdf["shard"].to_numpy()
            salt = pdf["salt"].to_numpy()
            last_key = (term[-1], shard[-1], salt[-1])
            not_last = np.flatnonzero(
                (term != last_key[0]) | (shard != last_key[1])
                | (salt != last_key[2]))
            cut = int(not_last[-1]) + 1 if len(not_last) else 0
            complete, buf = pdf.iloc[:cut], pdf.iloc[cut:]
            if len(complete):
                yield encode_pdf(complete)
        if buf is not None and len(buf):
            yield encode_pdf(buf)

    def pseudo(key, pdf: pd.DataFrame) -> pd.DataFrame:
        return docstats_rows(pdf["doc_id"].to_numpy(), pdf["dl"].to_numpy(),
                             int(key[0]))

    stats_rows = (doc_stats
                  .withColumn("shard", ((F.col("doc_id") * F.lit(n_shards))
                                        / F.lit(nd)).cast("int"))
                  .groupBy("shard").applyInPandas(pseudo,
                                                  schema=SEGMENT_SCHEMA))
    return part.mapInPandas(run, schema=SEGMENT_SCHEMA).unionByName(
        stats_rows)