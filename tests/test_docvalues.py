"""Doc-values filter (ES term/terms/range queries on metadata fields
in the bool FILTER context — `{"bool": {"filter": [{"term": {"lang":
"java"}}]}}` composed with a scoring text query). Truth anchors are
public ES/Lucene semantics: filters restrict the match set BEFORE
top-k admission, never score, and never change scoring stats
(idf/avgdl stay index-wide); Lucene evaluates them per segment as a
bitset intersected during scoring — here a per-shard allowlist routed
like liveDocs."""

import numpy as np
import pytest

from pyspark.sql import functions as F

import synspark.query as q
from synspark.deletes import delete_docs, merge_shards
from synspark.index_store import build_index
from synspark.query import (count_matches, match_ids, score_naive,
                            search, search_batch, search_bool,
                            search_sorted, terms_agg)
from synspark.tokenizer import TokenizerConfig

CFG = TokenizerConfig(n=2, expand=False, ignore_case=True)
LANGS = ["java", "py", "go"]


def _corpus(spark, n=240):
    rows = [(i, f"data sort merge row {i} " + ("data " * (i % 5))
             + f"uniq{i}", LANGS[i % 3], f"repo{i % 4}")
            for i in range(n)]
    return spark.createDataFrame(
        rows, "doc_id long, content string, lang string, repo string")


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("dv")
    return build_index(spark, _corpus(spark), str(root / "idx"),
                       cfg=CFG, n_shards=4, resume=False)


def _rows(df):
    return [(r.doc_id, round(float(r.score), 9)) for r in df.collect()]


def test_filter_rank_identity_vs_naive(spark, store):
    """WAND with doc_where ≡ the declarative oracle with the same
    predicate — ids AND bit-rounded scores, both AND and OR modes."""
    for mode in ("and", "or"):
        for w in ("lang = 'java'", "repo = 'repo2' AND lang <> 'go'"):
            a = _rows(search(spark, store, "data sort", k=15,
                             mode=mode, doc_where=w))
            b = _rows(score_naive(spark, store, "data sort", k=15,
                                  mode=mode, doc_where=w))
            assert a == b and len(a) > 0


def test_filter_never_changes_scores(spark, store):
    """ES: filters restrict the set but don't rescore — every filtered
    hit's score equals its unfiltered score."""
    base = dict(_rows(search(spark, store, "data sort", k=500)))
    filt = _rows(search(spark, store, "data sort", k=15,
                        doc_where="lang = 'py'"))
    assert filt and all(base[d] == s for d, s in filt)
    assert all(d % 3 == 1 for d, _ in filt)  # py docs are i%3==1


def test_filter_count_and_ids(spark, store):
    w = "lang = 'go'"
    n = count_matches(spark, store, "data sort",
                      doc_where=w).collect()[0].hits
    ids = sorted(r.doc_id for r in
                 match_ids(spark, store, "data sort",
                           doc_where=w).collect())
    n_all = count_matches(spark, store, "data sort").collect()[0].hits
    assert n == len(ids) > 0 and n < n_all
    assert all(d % 3 == 2 for d in ids)


def test_filter_cogroup_path_identical(spark, store, monkeypatch):
    """Force the large-allowlist cogroup path — results identical to
    the broadcast path (and to a composed deletes cogroup)."""
    w = "lang = 'java'"
    base = _rows(search(spark, store, "data sort", k=15, doc_where=w))
    monkeypatch.setattr(q, "DELETES_BROADCAST_MAX", 0)
    store._masks = None
    got = _rows(search(spark, store, "data sort", k=15, doc_where=w))
    assert got == base
    n = count_matches(spark, store, "data sort",
                      doc_where=w).collect()[0].hits
    monkeypatch.undo()
    store._masks = None
    assert n == count_matches(spark, store, "data sort",
                              doc_where=w).collect()[0].hits


def test_filter_job_shape(spark, store):
    """Every doc_where predicate of the current commit stays resolved:
    alternating three predicates, a repeated one runs exactly the jobs
    of the unfiltered query (no range, docmap or collect job)."""
    sc = spark.sparkContext
    preds = ["lang = 'java'", "lang = 'py'", "repo = 'repo3'"]

    def jobs(tag, w):
        group = f"test-filter-job-shape-{tag}"
        sc.setJobGroup(group, "doc_where job-shape guard")
        try:
            search(spark, store, "data sort", k=5, doc_where=w).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for w in [None] + preds:                 # warm df memo + masks
        search(spark, store, "data sort", k=5, doc_where=w).collect()
    base = jobs("none", None)
    for i, w in enumerate(preds + preds):
        assert jobs(i, w) == base, w


def test_filter_empty_allowlist(spark, store):
    got = search(spark, store, "data sort", k=5,
                 doc_where="lang = 'nope'").collect()
    assert got == []
    assert count_matches(spark, store, "data sort",
                         doc_where="lang = 'nope'") \
        .collect()[0].hits == 0


def test_filter_batch_and_bool(spark, store):
    """doc_where on search_batch (shared across the batch) and
    search_bool — each query's filtered top-k matches its single
    filtered twin."""
    w = "repo = 'repo1'"
    texts = ["data sort", "merge row"]
    batch = search_batch(spark, store, texts, k=8,
                         doc_where=w).collect()
    got = {}
    for r in batch:
        got.setdefault(r.query_id, []).append(
            (r.doc_id, round(float(r.score), 9)))
    for qi, t in enumerate(texts):
        assert got[qi] == _rows(search(spark, store, t, k=8,
                                       doc_where=w))
    # must_not as a pre-built group: exclude docs containing the gram
    # "q7" (docs 7, 70..79) — a text clause would analyze to bigrams
    # like "un"/"ni" present in EVERY doc and exclude everything
    b = _rows(search_bool(spark, store, must="data sort",
                          must_not=[["q7"]], doc_where=w, k=8))
    assert b and all(d % 4 == 1 for d, _ in b)
    assert all(d not in (77,) for d, _ in b)


def test_filter_composes_with_deletes_and_merge(spark, store,
                                                tmp_path_factory):
    """Tombstones and the metadata allowlist intersect; after a merge
    the filter still works against the rebuilt shard (stale docmap
    rows are inert in the allowlist)."""
    root = tmp_path_factory.mktemp("dvdel")
    s2 = build_index(spark, _corpus(spark), str(root / "idx"),
                     cfg=CFG, n_shards=4, resume=False)
    w = "lang = 'java'"
    before = _rows(search(spark, s2, "data sort", k=10, doc_where=w))
    victim = before[0][0]
    delete_docs(spark, s2, doc_ids=[victim])
    s2._masks = None
    after = _rows(search(spark, s2, "data sort", k=10, doc_where=w))
    assert victim not in [d for d, _ in after]
    assert after[0] == before[1]
    merge_shards(spark, s2, min_deleted_fraction=0.0)
    s2._masks = None
    merged = _rows(search(spark, s2, "data sort", k=10, doc_where=w))
    assert [d for d, _ in merged] == [d for d, _ in after]
    naive = _rows(score_naive(spark, s2, "data sort", k=10,
                              doc_where=w))
    assert merged == naive


def test_filter_aggs_and_sort(spark, store):
    """doc_where flows through the agg family: terms_agg buckets only
    filtered matches; search_sorted orders the filtered set."""
    rows = terms_agg(spark, store, "lang", "data sort",
                     doc_where="lang = 'py'").collect()
    assert [r.lang for r in rows] == ["py"]
    full = terms_agg(spark, store, "lang", "data sort").collect()
    assert rows[0].doc_count == \
        {r.lang: r.doc_count for r in full}["py"]
    top = search_sorted(spark, store, [("dl", "desc")], "data sort",
                        doc_where="lang = 'py'", k=5).collect()
    assert top and all(r.doc_id % 3 == 1 for r in top)


def test_filter_unknown_column_raises(spark, store):
    with pytest.raises(Exception):
        search(spark, store, "data sort",
               doc_where="no_such_col = 1").collect()


def test_filter_predicate_reaches_parquet_scan(spark, store):
    """Scale pin: the doc_where predicate must PUSH DOWN into the
    docmap parquet scan (PushedFilters) with column pruning
    (ReadSchema = doc_id + the filtered column only) — the allowlist
    resolve reads index bytes proportional to the docmap's pruned
    columns, never the full docmap row."""
    df = store.docmap(spark).filter("lang = 'java'").select("doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(lang,java)" in plan
    assert "struct<doc_id:bigint,lang:string>" in plan
