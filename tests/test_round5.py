"""Round-5 fixes: batch scoring after incremental merges, per-query
batch pagination, inert-tombstone reconciliation (the stale-docmap
lifecycle), upsert intra-batch key safety, and plan-carried WAND
window. Truth anchors remain public Lucene/ES behavior: docFreq/maxDoc
shrink as merges apply liveDocs (scoring N = n_docs - n_purged
everywhere, including batch), updateDocument is one-live-version-per-
key, and re-deleting a merged-away doc is a no-op that must not skew
accounting or corrupt a later full merge.
"""

import json

import pytest

from pyspark.sql import functions as F

from synspark.deletes import delete_docs, merge_shards, upsert_docs
from synspark.index_store import (IndexStore, build_index,
                                  compact_index)
from synspark.query import (count_matches, score_naive, search,
                            search_batch)
from synspark.tokenizer import TokenizerConfig

CFG = TokenizerConfig(n=2, expand=False, ignore_case=True)


def _corpus(spark, n=200):
    rows = [(f"r{i:03d}", "f", "c", "t",
             f"data sort merge row {i} " + ("data " * (i % 5))
             + f"unique{i}")
            for i in range(n)]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")


@pytest.fixture(scope="module")
def merged(spark, tmp_path_factory):
    """200 docs / 4 shards; shard 1 heavily tombstoned then merged
    (n_purged=25 > 0 — the state where n_docs != scoring N), one
    tombstone left live in shard 3."""
    root = tmp_path_factory.mktemp("r5")
    store = build_index(spark, _corpus(spark), str(root / "idx"),
                        cfg=CFG, n_shards=4, resume=False)
    delete_docs(spark, store, doc_ids=list(range(50, 75)) + [160])
    merge_shards(spark, store, min_deleted_fraction=0.2)
    m = store.meta()
    assert m.n_purged == 25 and m.n_deleted == 1
    return store, root


# --------------------------------------------------------------------
# search_batch idf N after incremental merge (round-4 wrong #1)
# --------------------------------------------------------------------

def test_search_batch_merged_identity(spark, merged):
    """On a store where merge_shards has run (n_purged > 0),
    search_batch must stay rank-identical to per-query search — doc
    ids AND bit-exact scores (both use N = n_docs - n_purged, Lucene's
    post-merge docFreq/maxDoc)."""
    store, _ = merged
    texts = ["data sort", "merge row", "data data"]
    batch = search_batch(spark, store, texts, k=12).collect()
    per_q = {qi: [(r.doc_id, r.score)
                  for r in search(spark, store, t, k=12).collect()]
             for qi, t in enumerate(texts)}
    got = {}
    for r in batch:
        got.setdefault(r.query_id, []).append((r.doc_id, r.score))
    assert got == per_q
    # and both equal the naive oracle under the merged stats
    for qi, t in enumerate(texts):
        naive = [(r.doc_id, r.score)
                 for r in score_naive(spark, store, t, k=12).collect()]
        assert per_q[qi] == naive


def test_search_batch_after_cursor(spark, merged):
    """after_list: per-query search_after pagination in ONE batch job,
    page 2 identical to the single-query search(after=...) path and to
    rows k..2k of the full ordering."""
    store, _ = merged
    texts = ["data sort", "merge row"]
    k = 5
    full = {t: [(r.doc_id, r.score)
                for r in search(spark, store, t, k=3 * k).collect()]
            for t in texts}
    page1 = search_batch(spark, store, texts, k=k).collect()
    cursors = {}
    for r in page1:
        cursors[r.query_id] = (r.score, r.doc_id)  # last row wins
    afters = [cursors[qi] for qi in range(len(texts))]
    page2 = search_batch(spark, store, texts, k=k,
                         after_list=afters).collect()
    got2 = {qi: [] for qi in range(len(texts))}
    for r in page2:
        got2[r.query_id].append((r.doc_id, r.score))
    for qi, t in enumerate(texts):
        assert got2[qi] == full[t][k:2 * k]
        single = [(r.doc_id, r.score)
                  for r in search(spark, store, t, k=k,
                                  after=afters[qi]).collect()]
        assert got2[qi] == single
    with pytest.raises(ValueError):
        search_batch(spark, store, texts, k=k, after_list=[None])


# --------------------------------------------------------------------
# inert tombstones: reconciliation + purge-merge integrity
# --------------------------------------------------------------------

def test_redelete_purged_ids_is_inert_and_uncounted(spark, merged):
    """delete_docs on already-purged ids (resolvable via the stale
    docmap — by id or by key) must not change n_deleted, the deletes
    table, or any query result (VERDICT r4 task #9 / ADVICE)."""
    store, _ = merged
    m0 = store.meta()
    cnt0 = count_matches(spark, store, "data sort").collect()[0].hits
    # purged ids are recorded exactly
    purged = sorted(r.doc_id for r in store.purged(spark).collect())
    assert purged == list(range(50, 75))
    # by id
    delete_docs(spark, store, doc_ids=[55, 60])
    # by key: the stale docmap rows for purged docs still resolve
    # (doc ids are engine-assigned, so look the keys up by purged id)
    keys = (store.docmap(spark)
            .filter(F.col("doc_id").isin([56, 61]))
            .select("repo", "path", "commit"))
    delete_docs(spark, store, keys=keys)
    m1 = store.meta()
    assert m1.n_deleted == m0.n_deleted
    assert sorted(r.doc_id for r in store.deletes(spark).collect()) \
        == [160]
    assert count_matches(spark, store, "data sort") \
        .collect()[0].hits == cnt0


def test_purge_merge_sound_with_legacy_inert_tombstones(
        spark, tmp_path_factory):
    """A pre-fix store can carry committed inert tombstones (ids whose
    postings a merge already removed). purge_merge must derive live
    counts from actual survivors, not row-count-minus-tombstone-count:
    the compacted index gets dense non-overlapping ids, the right
    n_docs, and oracle-identical scores (ADVICE high)."""
    root = tmp_path_factory.mktemp("r5_inert")
    store = build_index(spark, _corpus(spark), str(root / "idx"),
                        cfg=CFG, n_shards=4, resume=False)
    delete_docs(spark, store, doc_ids=list(range(50, 75)))
    merge_shards(spark, store, min_deleted_fraction=0.2)
    assert store.meta().n_purged == 25

    # forge a legacy inert tombstone batch: bypass _write_tombstones'
    # purged-anti-join gate by writing the partition, its shard-routed
    # mirror (the range join every delete writer runs) + meta directly
    legacy = spark.createDataFrame([(55,), (60,), (70,)], "doc_id long")
    ranges = store.shard_doc_ranges(spark)
    for root_name, frame in (
            ("deletes", legacy),
            ("deletes_routed",
             legacy.join(F.broadcast(ranges),
                         (F.col("doc_id") >= F.col("lo"))
                         & (F.col("doc_id") <= F.col("hi")))
             .select("shard", "doc_id"))):
        (frame.withColumn("batch", F.lit("del-legacy"))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch")
         .parquet(str(store.path / root_name)))
    mp = store.path / "meta.json"
    meta_d = json.loads(mp.read_text())
    meta_d["delete_batches"] = meta_d["delete_batches"] + ["del-legacy"]
    meta_d["routed_batches"] = meta_d["routed_batches"] + ["del-legacy"]
    meta_d["n_deleted"] = meta_d["n_deleted"] + 3
    mp.write_text(json.dumps(meta_d))
    # also one REAL tombstone so the purge drops a live doc too
    delete_docs(spark, store, doc_ids=[100])

    dst = compact_index(spark, store, str(root / "purged"))
    md = dst.meta()
    assert md.n_docs == 200 - 25 - 1
    ids = sorted(r.doc_id for r in dst.docmap(spark).collect())
    assert ids == list(range(md.n_docs))       # dense, no overlap
    from synspark.indexer import DOCSTATS_TERM, decode_docstats_rows
    stats_ids = sorted(
        r.doc_id for r in decode_docstats_rows(
            dst.segments(spark).filter(
                F.col("term") == DOCSTATS_TERM)).collect())
    assert stats_ids == list(range(md.n_docs))  # postings agree
    a = [(r.doc_id, r.score)
         for r in search(spark, dst, "data sort", k=20).collect()]
    b = [(r.doc_id, r.score)
         for r in score_naive(spark, dst, "data sort", k=20).collect()]
    assert a == b
    assert count_matches(spark, dst, "data sort") \
        .collect()[0].hits == md.n_docs


def test_upsert_intra_batch_duplicate_key_raises(spark, tmp_path_factory):
    """Two rows for one key inside a single upsert batch have no
    defined order (a DataFrame is unordered), so last-write-wins is
    undefinable — the engine fails fast instead of leaving both live
    (divergence from ES _bulk / IndexWriter.updateDocument)."""
    root = tmp_path_factory.mktemp("r5_dup")
    store = build_index(spark, _corpus(spark, n=20), str(root / "idx"),
                        cfg=CFG, n_shards=2, resume=False)
    dup = spark.createDataFrame(
        [("r001", "f", "c", "t", "version one"),
         ("r001", "f", "c", "t", "version two")],
        "repo string, path string, commit string, lang string, "
        "content string")
    with pytest.raises(ValueError, match="multiple rows"):
        upsert_docs(spark, store, dup, key_cols=["repo", "path"])
    # distinct keys still upsert fine
    ok = spark.createDataFrame(
        [("r001", "f", "c", "t", "fresh data sort"),
         ("zz9", "f", "c", "t", "new data sort doc")],
        "repo string, path string, commit string, lang string, "
        "content string")
    upsert_docs(spark, store, ok, key_cols=["repo", "path"])
    m = store.meta()
    assert m.n_docs == 22 and m.n_deleted == 1


def test_wand_window_is_plan_carried(spark, merged):
    """The pruning window rides inside QueryPlan (driver-resolved), so
    an executor that never saw SYNSPARK_WAND_WINDOW still honors it —
    and results are exact at ANY window size."""
    from synspark.query import plan_query, _wand_shard
    store, _ = merged
    plan = plan_query(spark, store, "data sort")
    assert plan.window > 0
    base = [(r.doc_id, r.score)
            for r in search(spark, store, "data sort", k=10).collect()]
    # same query, absurdly small window, via a hand-carried plan
    import dataclasses
    tiny = dataclasses.replace(plan, window=7)
    blocks = store.segments(spark) \
        .filter(F.col("term").isin(plan.terms)) \
        .select("term", "shard", "first_doc", "last_doc", "n_docs",
                "max_tf", "min_dl", "doc_bytes", "tf_bytes", "dl_bytes",
                "pos_bytes", "pl_bytes").toPandas()
    import numpy as np
    dels = store.deletes_routed(spark).toPandas()
    out = []
    for shard, pdf in blocks.groupby("shard"):
        d = np.sort(dels["doc_id"][dels["shard"] == shard].to_numpy())
        res = _wand_shard(pdf.reset_index(drop=True), tiny, 10, "and",
                          deleted=d if len(d) else None)
        out.extend([(int(r.doc_id), float(r.score))
                    for r in res.itertuples(index=False)])
    out = sorted(out, key=lambda x: (-x[1], x[0]))[:10]
    assert out == base


# --------------------------------------------------------------------
# IVF probe enumeration: Hamming ball, not a 2^n_planes driver sort
# --------------------------------------------------------------------

def test_probe_buckets_hamming_ball():
    """_probe_buckets must equal the brute-force (hamming, id)-sorted
    prefix at small n_planes, and stay millisecond-fast at n_planes=24
    where the old sort was a 16M-element driver job (VERDICT r4 #3)."""
    import time
    from synspark.datapipe.similarity import _probe_buckets
    for n_planes in (4, 6):
        for qbits in (0, 5, (1 << n_planes) - 1):
            for probes in (1, 3, 8, 1 << n_planes):
                ref = sorted(range(1 << n_planes),
                             key=lambda b: (bin(b ^ qbits).count("1"),
                                            b))[:probes]
                assert _probe_buckets(qbits, n_planes, probes) == ref
    t0 = time.perf_counter()
    out = _probe_buckets(0b101010101010101010101010, 24, 64)
    dt = time.perf_counter() - t0
    assert len(out) == 64 and len(set(out)) == 64
    assert dt < 0.05


# --------------------------------------------------------------------
# multi-field WAND (most_fields threshold algorithm)
# --------------------------------------------------------------------

@pytest.fixture(scope="module")
def mf(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("r5mf")
    rows = [(f"r{i:03d}", "f", "c", "t",
             f"body text data sort {i} " + ("data " * (i % 4)),
             ("sort title" if i % 3 == 0 else f"plain {i}"))
            for i in range(150)]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string, title string")
    s_c = build_index(spark, corpus, str(root / "c"), cfg=CFG,
                      n_shards=3, text_col="content", resume=False)
    s_t = build_index(spark, corpus, str(root / "t"), cfg=CFG,
                      n_shards=3, text_col="title", resume=False)
    return {"content": (s_c, 1.0), "title": (s_t, 2.0)}


def test_search_fields_wand_equals_scan(spark, mf):
    """The threshold-algorithm multi-field path must be EXACT: same
    rows and bit-identical scores as the full-decode scan oracle, at
    several k (small k exercises the soundness gate, large k the
    exhaustion path) and in both boolean modes."""
    from synspark.query import search_fields, search_fields_scan
    for mode in ("and", "or"):
        for k in (3, 15, 400):
            a = [(r.doc_id, r.score) for r in
                 search_fields(spark, mf, "data sort", k=k,
                               mode=mode).collect()]
            b = [(r.doc_id, r.score) for r in
                 search_fields_scan(spark, mf, "data sort", k=k,
                                    mode=mode).collect()]
            assert a == b, (mode, k)


def test_search_fields_wand_respects_deletes_and_merge(
        spark, tmp_path_factory):
    """Per-field liveDocs + post-merge per-field norms flow through
    the WAND multi-field path identically to the scan oracle."""
    from synspark.query import search_fields, search_fields_scan
    root = tmp_path_factory.mktemp("r5mfd")
    rows = [(f"r{i:03d}", "f", "c", "t",
             f"alpha data sort {i}", f"sort {i % 7}")
            for i in range(120)]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string, title string")
    s_c = build_index(spark, corpus, str(root / "c"), cfg=CFG,
                      n_shards=4, text_col="content", resume=False)
    s_t = build_index(spark, corpus, str(root / "t"), cfg=CFG,
                      n_shards=4, text_col="title", resume=False)
    delete_docs(spark, s_c, doc_ids=list(range(0, 40)))
    merge_shards(spark, s_c, min_deleted_fraction=0.2)   # n_purged > 0
    delete_docs(spark, s_t, doc_ids=[100])               # tombstone only
    fields = {"content": (s_c, 1.0), "title": (s_t, 3.0)}
    for k in (5, 50):
        a = [(r.doc_id, r.score) for r in
             search_fields(spark, fields, "data sort", k=k).collect()]
        b = [(r.doc_id, r.score) for r in
             search_fields_scan(spark, fields, "data sort",
                                k=k).collect()]
        assert a == b, k


def test_search_fields_no_full_posting_scan(spark, mf, monkeypatch):
    """Plan shape (VERDICT r4 task #2 'done' bar): in the common
    regime every decoded_postings call issued by the multi-field WAND
    path is candidate-restricted (doc_ids pushed to block metadata) —
    never the df-linear full scan the old implementation did."""
    import synspark.query as q
    calls = []
    real = q.decoded_postings

    def spy(spark_, store_, terms_, doc_ids=None):
        calls.append(doc_ids)
        return real(spark_, store_, terms_, doc_ids=doc_ids)

    monkeypatch.setattr(q, "decoded_postings", spy)
    q.search_fields(spark, mf, "data sort", k=5).collect()
    assert calls, "expected the exact-scoring phase to run"
    assert all(ids is not None for ids in calls)


# --------------------------------------------------------------------
# auto-merge policy (round-4 task #6) + write-time tombstone routing
# (round-4 task #5)
# --------------------------------------------------------------------

def _upsert_batch(spark, keys, tag):
    rows = [(f"r{i:03d}", "f", f"v-{tag}", "t",
             f"data sort merge row {i} fresh{tag} unique{i}")
            for i in keys]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")


def test_auto_merge_gate_below_threshold(spark, tmp_path_factory):
    """The meta-only gate: tombstones below one shard's fraction-worth
    trigger no merge (no new shards, tombstone stays live)."""
    from synspark.deletes import auto_merge

    root = tmp_path_factory.mktemp("am_gate")
    store = build_index(spark, _corpus(spark), str(root / "idx"),
                        cfg=CFG, n_shards=4, resume=False)
    delete_docs(spark, store, doc_ids=[7])
    before = store.meta()
    auto_merge(spark, store, min_deleted_fraction=0.5)
    after = store.meta()
    assert after.n_shards == before.n_shards
    assert after.n_deleted == 1 and after.n_purged == 0


def test_auto_merge_bounds_tombstones_under_continuous_upserts(
        spark, tmp_path_factory):
    """Lucene TieredMergePolicy analogue, self-executing: repeated
    upserts of the same keys with auto_merge_fraction keep the live
    tombstone count bounded (each round's tombstones concentrate in
    the previous round's shard, cross the fraction, and are purged by
    the policy — no operator-scheduled merge_shards anywhere)."""
    root = tmp_path_factory.mktemp("am_upsert")
    store = build_index(spark, _corpus(spark), str(root / "idx"),
                        cfg=CFG, n_shards=4, resume=False)
    keys = range(0, 20)
    for rnd in range(3):
        store = upsert_docs(spark, store,
                            _upsert_batch(spark, keys, rnd),
                            key_cols=["repo", "path"],
                            auto_merge_fraction=0.1)
        m = store.meta()
        # bound: the policy merges every shard the 20 fresh tombstones
        # push over 10%, so live tombstones never accumulate across
        # rounds (<= one round's worth, and in this concentrated-churn
        # shape the affected shards always cross => ~0 after merge)
        assert m.n_deleted <= 20, (rnd, m.n_deleted)
        assert m.n_purged >= 20 * rnd
    # only the latest version of each key is live
    assert count_matches(spark, store, "fresh2").collect()[0].hits == 20
    assert count_matches(spark, store, "fresh0").collect()[0].hits == 0
    assert store.stats()["n_live"] == 200
    # and the search path (routed-tombstone fast path) agrees with the
    # naive oracle on the merged store
    a = [(r.doc_id, round(r.score, 9)) for r in
         search(spark, store, "data sort", k=10, mode="and").collect()]
    b = [(r.doc_id, round(r.score, 9)) for r in
         score_naive(spark, store, "data sort", k=10,
                     mode="and").collect()]
    assert a == b


def test_stream_upsert_auto_merge(spark, tmp_path):
    """Streaming ingest in upsert mode: a re-dropped batch of the same
    keys replaces the documents, and the per-batch auto-merge keeps
    tombstones bounded without operator action (VERDICT r4 task #6
    'done' bar)."""
    import time as _time

    from pyspark.sql import functions as F
    from synspark.streaming import stream_ingest

    inp = tmp_path / "in"
    inp.mkdir()

    def drop(tag, text):
        df = spark.range(0, 40).select(
            F.concat(F.lit("r"), F.col("id")).alias("repo"),
            F.lit("f").alias("path"),
            F.lit(tag).alias("commit"),
            F.lit("t").alias("lang"),
            F.concat(F.lit(text + " doc "), F.col("id").cast("string"))
            .alias("content"))
        df.coalesce(1).write.mode("append").parquet(str(inp))

    def wait_until(pred, timeout=120.0):
        t0 = _time.time()
        while _time.time() - t0 < timeout:
            try:
                if pred():
                    return True
            except Exception:
                pass
            _time.sleep(1.0)
        return False

    drop("c0", "alpha beta original")
    q = stream_ingest(spark, str(inp), str(tmp_path / "idx"),
                      str(tmp_path / "chk"),
                      cfg=TokenizerConfig(n=2, expand=False),
                      n_shards_first=2, mode="upsert",
                      auto_merge_fraction=0.1)
    try:
        store = IndexStore(str(tmp_path / "idx"))
        assert wait_until(lambda: store.meta().n_docs == 40)
        drop("c1", "alpha beta replaced")
        assert wait_until(lambda: store.stats()["n_live"] == 40
                          and store.meta().n_docs == 80)
    finally:
        q.stop()
    st = store.stats()
    assert st["n_live"] == 40
    # every old version's tombstone crossed the 10% fraction in its
    # shard and was auto-purged — bounded without operator action
    assert st["n_deleted"] == 0 and st["n_purged"] == 40
    assert count_matches(spark, store, "replaced").collect()[0].hits == 40
    assert count_matches(spark, store, "original").collect()[0].hits == 0


def test_routed_mirror_through_upsert_and_merge(spark, tmp_path_factory):
    """The routed tombstone mirror stays consistent through the whole
    lifecycle: delete commit -> routed batch; upsert commit -> routed
    batch; partial merge -> rewritten remaining mirror. Every live
    delete batch always has a mirror (fast path never falls back)."""
    root = tmp_path_factory.mktemp("routed_life")
    store = build_index(spark, _corpus(spark), str(root / "idx"),
                        cfg=CFG, n_shards=4, resume=False)
    delete_docs(spark, store, doc_ids=[3, 4])
    # the upserted keys' OLD versions get tombstoned — resolve their
    # engine-assigned ids off the docmap (ids are bucket-assigned, not
    # row-ordered)
    old_ids = sorted(
        r.doc_id for r in store.docmap(spark)
        .filter(F.col("repo").isin(["r010", "r011"])).collect())
    store = upsert_docs(spark, store, _upsert_batch(spark, [10, 11], 0),
                        key_cols=["repo", "path"])
    m = store.meta()
    assert set(m.delete_batches) <= set(m.routed_batches)
    assert len(m.delete_batches) == 2
    routed = store.deletes_routed(spark)
    assert routed is not None
    assert sorted(r.doc_id for r in routed.collect()) \
        == sorted([3, 4] + old_ids)
    merge_shards(spark, store, shards=[0])    # purge shard 0's four
    m = store.meta()
    assert set(m.delete_batches) <= set(m.routed_batches)
    assert store.deletes_routed(spark) is None \
        if not m.delete_batches else True
    # post-merge search still excludes everything tombstoned/purged
    # (by id: the bigram query also matches unique3X docs legitimately)
    from synspark.query import match_ids
    ids = {r.doc_id for r in
           match_ids(spark, store, "data sort", mode="and").collect()}
    assert not ({3, 4} | set(old_ids)) & ids
    assert count_matches(spark, store, "fresh0").collect()[0].hits == 2


# --------------------------------------------------------------------
# saturating-tie flood: blended group bound + tie-aware skip
# (round-4 verdict task #3 / "What's missing" #1)
# --------------------------------------------------------------------

def test_synonym_flood_prunes_and_stays_exact(spark, tmp_path_factory,
                                              monkeypatch):
    """The reference's own fixture shape at scale (thousands of
    IDENTICAL docs, SynonymPluginTest.java:133-161): a
    multi-alternative group's blended bound (idf * f(Σ wmax_tf,
    wmin_dl)) is ATTAINED by the tied docs, so the tie-aware window
    skip fires and the flood stops decoding after the first k
    admissions — previously the subadditive bound over-estimated and
    every window decoded its full posting volume (measured 12.4s at
    10M docs). Exactness is pinned against the naive oracle."""
    import synspark.codec as codec
    import synspark.query as q
    from synspark.query import plan_query, score_naive, search

    root = tmp_path_factory.mktemp("flood")
    n = 4000
    rows = [(f"r{i:05d}", "f", "c", "t", "data info flood")
            for i in range(n)]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    store = build_index(spark, corpus, str(root / "idx"), cfg=CFG,
                        n_shards=1, resume=False)

    groups = [["da", "in"]]              # multi-alternative group
    # (bigram index: "da" and "in" are alternatives both present
    # in every identical doc)
    plan = plan_query(spark, store, "", groups=groups)
    plan.window = 256                    # ~16 windows over 4000 docs
    blocks = (store.segments(spark)
              .filter(F.col("term").isin(plan.terms))
              .select("term", "shard", "first_doc", "last_doc",
                      "n_docs", "max_tf", "min_dl", "doc_bytes",
                      "tf_bytes", "dl_bytes", "imp_bytes", "pos_bytes",
                      "pl_bytes")
              .toPandas())

    calls = {"n": 0}
    real = codec.varint_decode

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(codec, "varint_decode", counting)
    out = q._wand_shard(blocks, plan, 10, "or")
    monkeypatch.setattr(codec, "varint_decode", real)

    # every doc ties; top-10 = smallest ids, decode stops after the
    # first window — a decoded window-group is 3 varint passes plus
    # one batched impacts pass at prep (~16 windows would be ~50)
    assert list(out["doc_id"]) == list(range(10))
    assert len(set(out["score"].round(9))) == 1
    assert calls["n"] <= 10, calls["n"]

    # end-to-end exactness on the same flood (distributed path)
    a = [(r.doc_id, round(r.score, 9)) for r in
         search(spark, store, "", k=10, mode="or",
                groups=groups).collect()]
    b = [(r.doc_id, round(r.score, 9)) for r in
         score_naive(spark, store, "", k=10, mode="or",
                     groups=groups).collect()]
    assert a == b


def test_blended_bound_rank_identity_mixed_corpus(spark,
                                                  tmp_path_factory):
    """min(subadditive, blended) must stay a true upper bound on a
    corpus engineered so the two bounds cross: one alternative lives
    only in short docs, the other only in long docs (blended's shared
    wmin_dl pulls below subadditive), plus mixed docs with both.
    WAND top-k must equal the naive oracle bit-for-bit."""
    from synspark.query import score_naive, search

    root = tmp_path_factory.mktemp("blend_mix")
    rows = []
    for i in range(120):
        if i % 3 == 0:
            text = "data x"                       # short, data only
        elif i % 3 == 1:
            text = "info " + ("pad " * 40)        # long, info only
        else:
            text = "data info data " + ("y " * (i % 7))
        rows.append((f"r{i:03d}", "f", "c", "t", text))
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    store = build_index(spark, corpus, str(root / "idx"), cfg=CFG,
                        n_shards=2, resume=False)
    for mode in ("or", "and"):
        for k in (3, 10, 50):
            a = [(r.doc_id, r.score) for r in
                 search(spark, store, "", k=k, mode=mode,
                        groups=[["da", "in"]]).collect()]
            b = [(r.doc_id, r.score) for r in
                 score_naive(spark, store, "", k=k, mode=mode,
                             groups=[["da", "in"]]).collect()]
            assert a == b, (mode, k)


def test_mixed_population_flood_prunes_via_impacts(spark,
                                                   tmp_path_factory,
                                                   monkeypatch):
    """The 10M-corpus shape the blended bound could NOT fix: windows
    interleave SEVERAL homogeneous doc populations (short/low-tf and
    long/high-tf), so the window (max_tf, min_dl) chimera combines
    values from different populations and over-bounds every real doc.
    Quantized impacts (v8 imp_bytes — the pareto (tf, dl) pairs per
    block) give each population its own attainable bound; the max over
    breakpoints equals the best population's tied score, and the
    tie-aware skip prunes the flood. Exactness pinned vs the naive
    oracle."""
    import synspark.codec as codec
    import synspark.query as q
    from synspark.query import plan_query, score_naive, search

    root = tmp_path_factory.mktemp("flood_mix")
    n = 4000
    rows = []
    for i in range(n):
        if i % 3 == 0:
            text = "data info x"                     # short population
        else:
            text = "data info data info " + ("pad " * 10)  # long, hi-tf
        rows.append((f"r{i:05d}", "f", "c", "t", text))
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    store = build_index(spark, corpus, str(root / "idx"), cfg=CFG,
                        n_shards=1, resume=False)

    groups = [["da", "in"]]
    plan = plan_query(spark, store, "", groups=groups)
    plan.window = 256
    blocks = (store.segments(spark)
              .filter(F.col("term").isin(plan.terms))
              .select("term", "shard", "first_doc", "last_doc",
                      "n_docs", "max_tf", "min_dl", "doc_bytes",
                      "tf_bytes", "dl_bytes", "imp_bytes", "pos_bytes",
                      "pl_bytes")
              .toPandas())

    calls = {"n": 0}
    real = codec.varint_decode

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(codec, "varint_decode", counting)
    out = q._wand_shard(blocks, plan, 10, "or")
    monkeypatch.setattr(codec, "varint_decode", real)

    naive = [(r.doc_id, round(r.score, 9)) for r in
             score_naive(spark, store, "", k=10, mode="or",
                         groups=groups).collect()]
    assert [(d, round(s, 9)) for d, s in
            zip(out["doc_id"], out["score"])] == naive
    # without impacts every one of the ~16 windows decodes (3 varint
    # passes each, ~50 calls); with them only the leading window(s) do
    assert calls["n"] <= 10, calls["n"]

    # distributed path agrees too
    a = [(r.doc_id, round(r.score, 9)) for r in
         search(spark, store, "", k=10, mode="or",
                groups=groups).collect()]
    assert a == naive


def test_best_fields_wand_equals_scan(spark, mf):
    """dis_max / best_fields threshold path is EXACT vs the
    full-decode scan oracle at several tie_breakers, modes and k
    (small k exercises the dismax τ gate: M + tb(S − M))."""
    from synspark.query import search_fields, search_fields_scan
    for tb in (0.0, 0.3):
        for mode in ("and", "or"):
            for k in (3, 15, 400):
                a = [(r.doc_id, r.score) for r in
                     search_fields(spark, mf, "data sort", k=k,
                                   mode=mode, type="best_fields",
                                   tie_breaker=tb).collect()]
                b = [(r.doc_id, r.score) for r in
                     search_fields_scan(spark, mf, "data sort", k=k,
                                        mode=mode, type="best_fields",
                                        tie_breaker=tb).collect()]
                assert a == b, (tb, mode, k)


def test_best_fields_tb1_approximates_most_fields(spark, mf):
    """ES identity: tie_breaker=1 makes dis_max score the plain sum
    (max + 1·rest). Checked to float tolerance — the dismax
    expression associates differently than the ordered sum fold."""
    from synspark.query import search_fields_scan
    a = {r.doc_id: r.score for r in
         search_fields_scan(spark, mf, "data sort", k=400,
                            type="best_fields",
                            tie_breaker=1.0).collect()}
    b = {r.doc_id: r.score for r in
         search_fields_scan(spark, mf, "data sort",
                            k=400).collect()}
    assert set(a) == set(b)
    assert all(abs(a[d] - b[d]) < 1e-9 for d in a)


def test_best_fields_tie_breaker_validation(spark, mf):
    from synspark.query import search_fields
    with pytest.raises(ValueError, match="tie_breaker"):
        search_fields(spark, mf, "data sort", type="best_fields",
                      tie_breaker=1.5)
