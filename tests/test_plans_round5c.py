"""Plan-shape regressions for the round-5 closing surfaces: the grep
verify join must stay a semi-join with the gram prefilter applied
(never a full corpus × ids product), query_string metadata clauses
must push into the docmap parquet scan, and the grep fallback path
must push the doc_where predicate into the corpus scan."""

import pytest

from pyspark.sql import functions as F

from synspark.index_store import build_index
from synspark.tokenizer import TokenizerConfig

pytestmark = pytest.mark.spark

CFG = TokenizerConfig(n=2, expand=False, ignore_case=True)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pstore(spark, tmp_path_factory):
    rows = [(f"r{i:02d}", "f", "c", "en" if i % 2 == 0 else "ja",
             "data sort key order " + f"fill{i % 5}")
            for i in range(40)]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    root = tmp_path_factory.mktemp("plans5c")
    store = build_index(spark, corpus, str(root / "idx"), cfg=CFG,
                        n_shards=2, resume=False)
    cj = corpus.join(store.docmap(spark).select("doc_id", "repo"),
                     "repo")
    return store, cj


def test_grep_prefilter_is_semi_join(spark, pstore):
    from synspark.grep import grep_search
    store, corpus = pstore
    plan = _plan(grep_search(spark, store, corpus, "key [a-z]*order"))
    # candidates arrive via a LeftSemi join against the match-id frame
    assert "LeftSemi" in plan, plan
    # the regex count runs as a native expression (Catalyst lowers
    # regexp_count to size(regexp_extract_all)), not a Python UDF
    assert ("regexp_count" in plan or "regexp_extract_all" in plan) \
        and "BatchEvalPython" not in plan, plan


def test_grep_fallback_pushes_doc_where(spark, pstore):
    from synspark.grep import grep_count
    store, corpus = pstore
    # alternation -> no prefilter -> full scan; the metadata filter
    # must still prune JVM-side before the regex
    plan = _plan(grep_count(spark, store, corpus, "data|info",
                            doc_where="lang = 'en'"))
    assert "LeftSemi" not in plan, plan
    assert "lang" in plan and "rlike" in plan.lower(), plan


def test_query_string_meta_pushdown(spark, pstore):
    store, _corpus = pstore
    # the compiled doc_where reaches the docmap parquet scan as a
    # pushed filter (same gate as test_docvalues, via query_string's
    # compiled predicate)
    from synspark.querystring import compile_query_string
    plan_c = compile_query_string(spark, store, "data lang:en")
    assert plan_c is not None
    _plan_q, where = plan_c
    ids = store.docmap(spark).filter(where).select("doc_id")
    plan = _plan(ids)
    assert "PushedFilters" in plan and "lang" in plan, plan


def test_sliced_scroll_filter_is_distributed(spark, pstore):
    from synspark.query import match_ids
    store, _corpus = pstore
    plan = _plan(match_ids(spark, store, "data", mode="or",
                           sliced=(1, 3)))
    # the slice predicate is a plain Catalyst filter over the worker
    # output — no collect, no repartition to one
    assert "pmod" in plan, plan
    assert "CollectLimit" not in plan, plan


def test_rrf_fusion_join_is_small(spark, pstore):
    from synspark.fusion import rrf_fuse
    a = spark.createDataFrame([(1, 1)], "doc_id long, rank int")
    b = spark.createDataFrame([(2, 1)], "doc_id long, rank int")
    plan = _plan(rrf_fuse([a, b]))
    # fusion is a union + hash aggregate + bounded top-k — never a
    # sort-merge join of the retriever outputs
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan or "Sort" in plan, plan
