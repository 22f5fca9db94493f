"""Incremental shard merge (deletes.merge_shards) — the Lucene
per-segment merge model: selected shards purge copy-on-write at new
shard ids with STABLE doc ids; stats adjust by signed delta; scoring
N/avgdl/df drop the purged docs while unmerged tombstones keep
counting (Lucene maxDoc/docFreq semantics across partial merges)."""

import pytest

from pyspark.sql import functions as F

from synspark.deletes import delete_docs, merge_shards
from synspark.index_store import (IndexStore, append_to_index,
                                  build_index, compact_index)
from synspark.query import count_matches, score_naive, search
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
    """4x50-doc shards; heavy deletions in shard 1 (25/50), one light
    tombstone in shard 3; merge at threshold 0.2 rewrites ONLY
    shard 1."""
    root = tmp_path_factory.mktemp("mrg")
    store = build_index(spark, _corpus(spark), str(root / "idx"),
                        cfg=CFG, n_shards=4, resume=False)
    delete_docs(spark, store, doc_ids=list(range(50, 75)) + [160])
    merge_shards(spark, store, min_deleted_fraction=0.2)
    return store, root


def test_merge_selective_state(spark, merged, assert_ledger):
    store, _ = merged
    m = store.meta()
    assert m.dead_shards == [1]
    assert m.n_shards == 5           # replacement appended at id 4
    assert m.n_purged == 25          # shard-1 tombstones applied
    assert m.n_deleted == 1          # shard-3 tombstone remains
    assert m.n_docs == 200           # id space unchanged
    # untouched shards keep their original lineage (copy-on-write)
    man = store.manifest()
    assert man["shards"]["1"]["status"] == "dead"
    assert man["shards"]["0"]["status"] == "done"
    # replacement shard present with rows
    assert man["shards"]["4"]["rows"] > 0
    assert_ledger(store)


def test_merge_query_semantics(spark, merged):
    store, _ = merged
    cnt = count_matches(spark, store, "data sort").collect()[0].hits
    assert cnt == 174                # 200 - 25 purged - 1 tombstoned
    a = [(r.doc_id, r.score)
         for r in search(spark, store, "data sort", k=30).collect()]
    b = [(r.doc_id, r.score)
         for r in score_naive(spark, store, "data sort", k=30).collect()]
    assert a == b                    # rank identity under merged state
    gone = set(range(50, 75)) | {160}
    assert not gone & {d for d, _ in a}
    # doc ids are STABLE: survivors keep their pre-merge ids
    assert {d for d, _ in a} <= set(range(200))
    # df of a purged-only term dropped to 0; N/avgdl follow Lucene
    dfs = store.term_dfs(spark, ["e5"], build_id=store.meta().build_id)
    assert dfs["e5"] < 25            # shard-1 uniqueXX grams left df


def test_merge_equals_full_purge_scores(spark, tmp_path_factory):
    """Merging EVERY shard with deletions yields the same scores (by
    document key) as the full purge merge — ids differ (stable vs
    renumbered), scores must not."""
    root = tmp_path_factory.mktemp("mrg_eq")
    dead = [3, 7, 50, 51, 120, 199]
    s1 = build_index(spark, _corpus(spark), str(root / "a"),
                     cfg=CFG, n_shards=4, resume=False)
    delete_docs(spark, s1, doc_ids=dead)
    merge_shards(spark, s1, min_deleted_fraction=0.0)
    assert s1.meta().n_deleted == 0 and s1.meta().n_purged == len(dead)

    s2 = build_index(spark, _corpus(spark), str(root / "b"),
                     cfg=CFG, n_shards=4, resume=False)
    delete_docs(spark, s2, doc_ids=dead)
    dst = compact_index(spark, s2, str(root / "b_purged"))

    def keyed_scores(store):
        hits = search(spark, store, "data sort", k=200)
        dm = store.docmap(spark).select("doc_id", "repo")
        return {(r.repo, round(r.score, 12))
                for r in hits.join(dm, "doc_id").collect()}

    assert keyed_scores(s1) == keyed_scores(dst)


def test_merge_noop_without_qualifying_shards(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("mrg_noop")
    store = build_index(spark, _corpus(spark, n=100), str(root / "idx"),
                        cfg=CFG, n_shards=2, resume=False)
    merge_shards(spark, store)               # no tombstones at all
    assert store.meta().n_shards == 2
    delete_docs(spark, store, doc_ids=[0])
    merge_shards(spark, store, min_deleted_fraction=0.5)  # 1/50 < 0.5
    m = store.meta()
    assert m.n_shards == 2 and m.n_purged == 0 and m.n_deleted == 1


def test_merge_crash_atomicity(spark, monkeypatch, tmp_path_factory):
    """A merge that dies before its meta commit leaves the old state
    fully live; the retry completes cleanly."""
    import synspark.index_store as ism
    root = tmp_path_factory.mktemp("mrg_crash")
    store = build_index(spark, _corpus(spark, n=100), str(root / "idx"),
                        cfg=CFG, n_shards=2, resume=False)
    delete_docs(spark, store, doc_ids=list(range(0, 20)))
    real = ism.IndexStore._write_meta

    def boom(self, meta):
        raise RuntimeError("crash before merge commit")

    monkeypatch.setattr(ism.IndexStore, "_write_meta", boom)
    with pytest.raises(RuntimeError):
        merge_shards(spark, store, min_deleted_fraction=0.1)
    monkeypatch.setattr(ism.IndexStore, "_write_meta", real)
    m = store.meta()
    assert m.n_shards == 2 and m.n_purged == 0 and m.n_deleted == 20
    assert count_matches(spark, store, "data sort") \
        .collect()[0].hits == 80
    merge_shards(spark, store, min_deleted_fraction=0.1)
    m = store.meta()
    assert m.n_purged == 20 and m.n_deleted == 0
    assert count_matches(spark, store, "data sort") \
        .collect()[0].hits == 80


def test_append_then_compact_after_merge(spark, merged):
    """Post-merge maintenance keeps working: appends allocate past the
    replacement shards, and the full compact GCs dead shards + stale
    docmap rows with dense renumbering (range-ordered, not id-ordered
    — replacement shards sit at high ids over mid-range docs)."""
    store, root = merged
    extra = spark.createDataFrame(
        [(f"x{i}", "f", "c", "t", f"data sort appended {i}")
         for i in range(10)],
        "repo string, path string, commit string, lang string, "
        "content string")
    append_to_index(spark, store, extra, source="x")
    m = store.meta()
    assert m.n_docs == 210 and m.dead_shards == [1] and m.n_purged == 25
    assert count_matches(spark, store, "data sort") \
        .collect()[0].hits == 184

    dst = compact_index(spark, store, str(root / "purged"))
    md = dst.meta()
    assert md.n_docs == 184 and md.n_purged == 0 and md.n_deleted == 0
    ids = sorted(r.doc_id for r in dst.docmap(spark).collect())
    assert ids == list(range(184))   # stale purged rows GC'd
    a = [(r.doc_id, r.score)
         for r in search(spark, dst, "data sort", k=20).collect()]
    b = [(r.doc_id, r.score)
         for r in score_naive(spark, dst, "data sort", k=20).collect()]
    assert a == b


def test_stats_surface_and_explain_livedocs(spark, merged, capsys):
    """store.stats() (the _cat/indices surface) reflects merged state
    without a Spark job; explain_score on a tombstoned doc reports
    not-found (empty — ES checks liveDocs before scoring) while a live
    doc still explains to its exact search score."""
    from synspark.cli import main as cli_main
    from synspark.deletes import delete_docs
    from synspark.query import explain_score

    store, _ = merged
    st = store.stats()
    assert st["n_docs"] == 210 and st["n_purged"] == 25
    assert st["dead_shards"] == [1]
    assert st["n_live"] == 210 - 25 - st["n_deleted"]
    assert st["segment_rows"] > 0 and st["segment_bytes"] > 0
    # CLI mirror, no Spark session required
    assert cli_main(["stats", "--index", str(store.path)]) == 0
    assert '"n_purged": 25' in capsys.readouterr().out

    # 160 was tombstoned (unmerged shard): _explain says not-found
    assert explain_score(spark, store, "data sort", 160).count() == 0
    # a purged doc (merged away) also explains to nothing
    assert explain_score(spark, store, "data sort", 55).count() == 0
    # a live doc's explain sums to its search score
    live = search(spark, store, "data sort", k=1).collect()[0]
    rows = explain_score(spark, store, "data sort",
                         int(live.doc_id)).collect()
    assert abs(sum(r.gscore for r in rows) - live.score) < 1e-15


def test_search_fields_multi_match(spark, tmp_path_factory):
    """ES multi_match (most_fields): score == Σ boost_f × per-field
    BM25 with per-field stats; bool-should across fields (a doc
    matching only the title still ranks); rank order (score DESC,
    doc_id ASC)."""
    from synspark.query import search_fields

    root = tmp_path_factory.mktemp("mf")
    rows = [(f"r{i:03d}", "f", "c", "t",
             f"body text data sort {i} " + ("data " * (i % 4)),
             ("sort title" if i % 3 == 0 else f"plain {i}"))
            for i in range(120)]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string, title string")
    s_c = build_index(spark, corpus, str(root / "c"), cfg=CFG,
                      n_shards=2, text_col="content", resume=False)
    s_t = build_index(spark, corpus, str(root / "t"), cfg=CFG,
                      n_shards=2, text_col="title", resume=False)
    got = [(r.doc_id, r.score) for r in
           search_fields(spark,
                         {"content": (s_c, 1.0), "title": (s_t, 2.0)},
                         "sort", k=15, mode="and").collect()]
    nc = {r.doc_id: r.score
          for r in score_naive(spark, s_c, "sort", k=1000).collect()}
    nt = {r.doc_id: r.score
          for r in score_naive(spark, s_t, "sort", k=1000).collect()}
    exp = {d: (0.0 + nc.get(d, 0.0) * 1.0) + nt.get(d, 0.0) * 2.0
           for d in set(nc) | set(nt)}
    expected = sorted(exp.items(), key=lambda x: (-x[1], x[0]))[:15]
    assert got == expected
    # bool-should: make a doc match ONLY via title
    only_title = [d for d in nt if d not in nc]
    if only_title:
        assert set(only_title) <= set(exp)
    # deletes respected per field
    delete_docs(spark, s_c, doc_ids=[got[0][0]])
    got2 = {r.doc_id for r in
            search_fields(spark,
                          {"content": (s_c, 1.0), "title": (s_t, 2.0)},
                          "sort", k=15, mode="and").collect()}
    # the doc may still match via the title index (not deleted there);
    # its content contribution must be gone
    res2 = [(r.doc_id, r.score) for r in
            search_fields(spark,
                          {"content": (s_c, 1.0), "title": (s_t, 2.0)},
                          "sort", k=200, mode="and").collect()]
    m2 = dict(res2)
    if got[0][0] in m2:
        assert abs(m2[got[0][0]] - nt.get(got[0][0], 0.0) * 2.0) < 1e-12
