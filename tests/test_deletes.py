"""Document deletes / updates — the Lucene liveDocs two-phase model
(deletes.py). Truth anchors are public Lucene/ES behavior:

- phase 1 (tombstone): results and total hits exclude deleted docs,
  but docFreq/maxDoc/avgdl still count them — every surviving doc's
  BM25 score is bit-identical to before the delete;
- phase 2 (merge/purge): deleted docs leave every posting list, ids
  renumber densely, stats recompute — the purged index is equivalent
  to a fresh build over the live corpus.
"""

import shutil

import pytest

from pyspark.sql import functions as F

from synspark.deletes import delete_docs, upsert_docs
from synspark.index_store import (ConcurrentWriterError, IndexStore,
                                  append_to_index, build_index,
                                  compact_index)
from synspark.query import count_matches, score_naive, search, search_batch
from synspark.tokenizer import TokenizerConfig

CFG = TokenizerConfig(n=2, expand=False, ignore_case=True)


def _corpus(spark, n=200, salt=""):
    rows = [(f"r{i:03d}", "f", "c", "t",
             f"data sort merge row{salt} {i} " + ("data " * (i % 5))
             + f"unique{i}")
            for i in range(n)]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("del_idx")
    store = build_index(spark, _corpus(spark), str(root / "idx"),
                        cfg=CFG, n_shards=4, resume=False)
    yield store, root


def _topk(spark, store, text="data sort", k=10, **kw):
    return [(r.doc_id, r.score)
            for r in search(spark, store, text, k=k, **kw).collect()]


def test_delete_excludes_hits_keeps_scores(spark, idx, assert_ledger):
    store, root = idx
    pre = _topk(spark, store)
    pre_cnt = count_matches(spark, store, "data sort") \
        .collect()[0].hits
    dead = [pre[0][0], pre[1][0]]
    delete_docs(spark, store, doc_ids=dead)

    meta = store.meta()
    assert meta.n_deleted == 2 and meta.delete_batches == ["del-0"]
    assert_ledger(store)
    # n_docs / avgdl / df untouched (Lucene keeps stats until merge)
    assert meta.n_docs == 200

    post = _topk(spark, store)
    assert not set(dead) & {d for d, _ in post}
    # surviving docs score bit-identically (idf/avgdl unchanged)
    pre_map = dict(pre)
    for d, s in post:
        if d in pre_map:
            assert s == pre_map[d]
    cnt = count_matches(spark, store, "data sort").collect()[0].hits
    assert cnt == pre_cnt - 2
    # WAND and the naive scorer agree under deletes (rank identity)
    naive = [(r.doc_id, r.score)
             for r in score_naive(spark, store, "data sort", k=10)
             .collect()]
    assert naive == post
    # batch path filters too
    rows = search_batch(spark, store, ["data sort", "merge row"],
                        k=8).collect()
    assert not set(dead) & {r.doc_id for r in rows}


def test_delete_idempotent_dedup_and_bounds(spark, idx):
    store, _ = idx
    n0 = store.meta().n_deleted
    dels0 = sorted(r.doc_id for r in store.deletes(spark).collect())
    # replayed tag no-ops entirely
    delete_docs(spark, store, doc_ids=[12345678], batch_tag="t1")
    delete_docs(spark, store, doc_ids=[0, 1], batch_tag="t1")
    assert store.meta().n_deleted == n0
    # re-deleting already-deleted ids and out-of-range ids adds nothing
    delete_docs(spark, store, doc_ids=dels0 + [-1, 10**9])
    assert store.meta().n_deleted == n0
    assert sorted(r.doc_id for r in store.deletes(spark).collect()) \
        == dels0


def test_delete_by_keys_and_lock(spark, idx):
    store, _ = idx
    n0 = store.meta().n_deleted
    keys = spark.createDataFrame([("r101", "f")], "repo string, path string")
    delete_docs(spark, store, keys=keys)
    assert store.meta().n_deleted == n0 + 1
    hits = {d for d, _ in _topk(spark, store, "unique101 ", k=5)}
    dm = {r.repo: r.doc_id for r in store.docmap(spark)
          .filter(F.col("repo") == "r101").collect()}
    assert dm["r101"] not in hits
    # writer lock: a concurrent delete fails fast
    store.acquire_writer_lock(owner="test")
    try:
        with pytest.raises(ConcurrentWriterError):
            delete_docs(spark, store, doc_ids=[5])
    finally:
        store.release_writer_lock()


def test_purge_equals_fresh_build(spark, idx, assert_ledger):
    store, root = idx
    dead = sorted(r.doc_id for r in store.deletes(spark).collect())
    dst = compact_index(spark, store, str(root / "purged"))
    meta = dst.meta()
    assert meta.n_deleted == 0 and meta.delete_batches == []
    assert meta.n_docs == 200 - len(dead)
    assert_ledger(dst)
    # dense renumbering: docmap ids are exactly 0..n_live-1
    ids = sorted(r.doc_id for r in dst.docmap(spark).collect())
    assert ids == list(range(meta.n_docs))

    live_keys = store.docmap(spark) \
        .filter(~F.col("doc_id").isin([int(d) for d in dead])) \
        .select("repo")
    fresh = build_index(spark, _corpus(spark).join(live_keys, "repo"),
                        str(root / "fresh"), cfg=CFG,
                        n_shards=meta.n_shards, resume=False)
    assert abs(fresh.meta().avgdl - meta.avgdl) < 1e-12
    assert fresh.meta().total_dl == meta.total_dl
    for q, kw in [("data sort", {}), ("merge row", {}),
                  ("data sort", {"mode": "or"})]:
        a = _topk(spark, dst, q, **kw)
        b = _topk(spark, fresh, q, **kw)
        assert a == b, (q, kw)
    ca = count_matches(spark, dst, "data sort").collect()[0].hits
    cb = count_matches(spark, fresh, "data sort").collect()[0].hits
    assert ca == cb


def test_phrase_count_excludes_deleted(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("del_phrase")
    store = build_index(spark, _corpus(spark, n=50), str(root / "idx"),
                        cfg=CFG, n_shards=2, resume=False)
    pre = count_matches(spark, store, "sort merge", phrase=True) \
        .collect()[0].hits
    assert pre == 50
    delete_docs(spark, store, doc_ids=[0, 7, 49])
    post = count_matches(spark, store, "sort merge", phrase=True) \
        .collect()[0].hits
    assert post == 47
    hits = _topk(spark, store, "sort merge", k=50, phrase=True)
    assert len(hits) == 47 and not {0, 7, 49} & {d for d, _ in hits}


def test_append_after_delete_then_purge(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("del_append")
    store = build_index(spark, _corpus(spark, n=60), str(root / "idx"),
                        cfg=CFG, n_shards=2, resume=False)
    delete_docs(spark, store, doc_ids=[3, 4])
    append_to_index(spark, store,
                    _corpus(spark, n=20, salt="b"), source="b")
    meta = store.meta()
    assert meta.n_docs == 80 and meta.n_deleted == 2
    assert meta.delete_batches == ["del-0"]  # carried through append
    cnt = count_matches(spark, store, "data sort").collect()[0].hits
    assert cnt == 78
    # delete one of the APPENDED docs too, then purge
    delete_docs(spark, store, doc_ids=[61])
    dst = compact_index(spark, store, str(root / "purged"))
    assert dst.meta().n_docs == 77
    assert count_matches(spark, dst, "data sort").collect()[0].hits == 77
    ids = sorted(r.doc_id for r in dst.docmap(spark).collect())
    assert ids == list(range(77))


def test_upsert_replaces_by_key_and_inserts(spark, tmp_path_factory,
                                           assert_ledger):
    root = tmp_path_factory.mktemp("upsert")
    store = build_index(spark, _corpus(spark, n=40), str(root / "idx"),
                        cfg=CFG, n_shards=2, resume=False)
    up = spark.createDataFrame(
        [("r000", "f", "c2", "t", "fresh zebra content"),
         ("rNEW", "f", "c", "t", "brand new data sort doc")],
        "repo string, path string, commit string, lang string, "
        "content string")
    upsert_docs(spark, store, up, batch_tag="u1")
    meta = store.meta()
    assert meta.n_docs == 42          # id space grew by the 2 new docs
    assert meta.n_deleted == 1        # old r000 tombstoned, rNEW inserted
    assert_ledger(store)
    assert len(search(spark, store, "zebra", k=5).collect()) == 1
    # the old r000 content no longer matches anything
    assert count_matches(spark, store, "unique0 ").collect()[0].hits == 0
    # replay no-ops (append-side tag idempotence covers the tombstones
    # too: they rode the same commit)
    upsert_docs(spark, store, up, batch_tag="u1")
    assert store.meta().n_docs == 42
    assert store.meta().n_deleted == 1


def test_upsert_tombstones_invisible_without_commit(spark, monkeypatch,
                                                    tmp_path_factory):
    """Crash atomicity: if the append dies before its meta commit, the
    staged tombstones are invisible — the old versions stay fully
    live (Lucene updateDocument either applies both halves or
    neither)."""
    root = tmp_path_factory.mktemp("upsert_crash")
    store = build_index(spark, _corpus(spark, n=30), str(root / "idx"),
                        cfg=CFG, n_shards=2, resume=False)
    import synspark.index_store as ism
    real = ism.IndexStore._write_meta

    def boom(self, meta):
        raise RuntimeError("crash before commit")

    # "unique1" under a bigram analyzer also matches unique1X (shared
    # e1 gram) — pin counts RELATIVE to the pre-upsert state
    pre = count_matches(spark, store, "unique1 ").collect()[0].hits
    monkeypatch.setattr(ism.IndexStore, "_write_meta", boom)
    up = spark.createDataFrame(
        [("r001", "f", "c2", "t", "replacement text")],
        "repo string, path string, commit string, lang string, "
        "content string")
    with pytest.raises(RuntimeError):
        upsert_docs(spark, store, up)
    monkeypatch.setattr(ism.IndexStore, "_write_meta", real)
    meta = store.meta()
    assert meta.n_docs == 30 and meta.n_deleted == 0
    # old version still live and scoring; replacement not visible
    assert count_matches(spark, store, "unique1 ").collect()[0].hits \
        == pre
    assert count_matches(spark, store, "replacement") \
        .collect()[0].hits == 0
    # retry completes both halves atomically
    upsert_docs(spark, store, up)
    assert store.meta().n_deleted == 1
    assert count_matches(spark, store, "unique1 ").collect()[0].hits \
        == pre - 1
    assert count_matches(spark, store, "replacement") \
        .collect()[0].hits == 1


def test_wand_rank_identity_fuzz_with_deletes(spark, tmp_path_factory):
    """Deleting a hot slice of docs forces WAND pruning decisions near
    the deleted mass; ranks must still match the naive scorer."""
    root = tmp_path_factory.mktemp("del_fuzz")
    rows = [(f"d{i:04d}", "f", "c", "t",
             ("data " * (1 + (i * 7) % 11)) + ("sort " * (1 + i % 3))
             + f"tail{i % 17} filler{i}")
            for i in range(400)]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    store = build_index(spark, corpus, str(root / "idx"), cfg=CFG,
                        n_shards=4, resume=False)
    delete_docs(spark, store, doc_ids=[int(i) for i in range(0, 400, 3)])
    for q, mode in [("data sort", "and"), ("data sort", "or"),
                    ("tail3 filler7", "or")]:
        a = _topk(spark, store, q, k=25, mode=mode)
        b = [(r.doc_id, r.score)
             for r in score_naive(spark, store, q, k=25, mode=mode)
             .collect()]
        assert a == b, (q, mode, a[:5], b[:5])


def test_purge_preserves_positions_phrase(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("del_purge_pos")
    store = build_index(spark, _corpus(spark, n=40), str(root / "idx"),
                        cfg=CFG, n_shards=2, resume=False)
    delete_docs(spark, store, doc_ids=[1, 2, 3])
    dst = compact_index(spark, store, str(root / "purged"))
    assert count_matches(spark, dst, "sort merge", phrase=True) \
        .collect()[0].hits == 37
    hits = _topk(spark, dst, "sort merge", k=5, phrase=True)
    assert len(hits) == 5


def test_deletes_routing_plan_shape(spark, tmp_path_factory):
    """Plan pin for the tombstone routing (100 TB shape). Since v8 the
    broadcast range join that assigns tombstones to doc-range shards
    runs ONCE at delete-commit time; the QUERY-side frame must be a
    plain partition-pruned scan of the routed mirror — no join, no
    exchange, no per-query shard_doc_ranges job (at a million live
    tombstones the per-query routing cost 8-11s vs 5.3s clean). A
    batch with no routed mirror raises."""
    from dataclasses import asdict

    from synspark.index_store import IndexMeta

    root = tmp_path_factory.mktemp("del_plan")
    store = build_index(spark, _corpus(spark, n=80), str(root / "idx"),
                        cfg=CFG, n_shards=2, resume=False)
    delete_docs(spark, store, doc_ids=[1, 5, 9])

    # fast path: joinless pruned scan of the write-time-routed mirror
    dels = store.deletes_routed(spark)
    plan = dels._jdf.queryExecution().executedPlan().toString()
    assert "deletes_routed" in plan
    assert "Join" not in plan and "Exchange" not in plan
    assert "batch#" in plan and "del-0" in plan      # partition gate
    routed_rows = {(r.shard, r.doc_id) for r in dels.collect()}
    assert {d for _, d in routed_rows} == {1, 5, 9}

    # a delete batch without its routed mirror means a damaged store
    # (every delete writer commits the mirror with its batch): the
    # read raises, naming the batch, instead of dropping tombstones
    meta = store.meta()
    store._write_meta(IndexMeta(**{**asdict(meta),
                                   "routed_batches": []}))
    with pytest.raises(ValueError, match=r"\['del-0'\].*no shard-routed"):
        store.deletes_routed(spark)


def test_match_ids_and_delete_by_query(spark, tmp_path_factory):
    """ES _delete_by_query: resolve victims with the same analysis as
    search, distributively; counts and searches reflect it; ids stay
    live-only (a second identical delete adds nothing)."""
    from synspark.deletes import delete_by_query
    from synspark.query import match_ids

    root = tmp_path_factory.mktemp("dbq")
    rows = [(f"r{i:03d}", "f", "c", "t",
             ("alpha beta target " if i % 4 == 0 else "alpha beta ")
             + f"tail{i}")
            for i in range(80)]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    store = build_index(spark, corpus, str(root / "idx"), cfg=CFG,
                        n_shards=2, resume=False)
    ids = sorted(r.doc_id for r in
                 match_ids(spark, store, "target").collect())
    assert len(ids) == 20
    delete_by_query(spark, store, "target", batch_tag="dbq1")
    assert store.meta().n_deleted == 20
    assert count_matches(spark, store, "target").collect()[0].hits == 0
    assert count_matches(spark, store, "alpha beta") \
        .collect()[0].hits == 60
    # match_ids respects liveDocs: victims are gone from the match set
    assert match_ids(spark, store, "target").count() == 0
    # idempotent replay
    delete_by_query(spark, store, "target", batch_tag="dbq1")
    assert store.meta().n_deleted == 20
    # a re-run without the tag finds nothing live to delete
    delete_by_query(spark, store, "target")
    assert store.meta().n_deleted == 20


def test_search_after_pagination(spark, tmp_path_factory):
    """search_after: pages concatenate to exactly the one-shot ranking
    (disjoint, ordered, complete) — including across ties — and page
    N+1 admits nothing at or before the cursor."""
    root = tmp_path_factory.mktemp("page")
    store = build_index(spark, _corpus(spark), str(root / "idx"),
                        cfg=CFG, n_shards=4, resume=False)
    full = _topk(spark, store, "data sort", k=30)
    pages = []
    cursor = None
    for _ in range(3):
        page = [(r.doc_id, r.score)
                for r in search(spark, store, "data sort", k=10,
                                after=cursor).collect()]
        assert len(page) == 10
        pages += page
        cursor = page[-1][1], page[-1][0]
    assert pages == full
    # works with deletes too
    delete_docs(spark, store, doc_ids=[full[0][0], full[12][0]])
    full2 = _topk(spark, store, "data sort", k=20)
    p1 = [(r.doc_id, r.score) for r in
          search(spark, store, "data sort", k=10).collect()]
    p2 = [(r.doc_id, r.score) for r in
          search(spark, store, "data sort", k=10,
                 after=(p1[-1][1], p1[-1][0])).collect()]
    assert p1 + p2 == full2
