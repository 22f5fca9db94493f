"""query_string mini-DSL: grammar, compilation onto the bool/WAND
plan, in-worker phrase gates (must / must_not / optional), metadata
filter context, prefix/fuzzy expansion clauses. Truth anchors:
public Lucene QueryParser / ES query_string semantics (occur
prefixes, boosts, phrase slop, field filters) and the engine's own
documented deviations (positive phrases are MUST; metadata clauses
are FILTER context). Scoring oracle: score_naive over the same
compiled plan, intersected with regex-derived phrase doc sets from
the raw corpus.
"""

import re

import pytest

from synspark.deletes import delete_docs
from synspark.index_store import build_index
from synspark.query import plan_bool, score_naive
from synspark.querystring import parse_query_string, query_string
from synspark.tokenizer import TokenizerConfig

CFG = TokenizerConfig(n=2, expand=False, ignore_case=True)

WORDS = ["data", "sort", "merge", "key", "order", "scan", "slow"]


def _corpus(spark, n=200):
    rows = []
    for i in range(n):
        ws = [w for j, w in enumerate(WORDS) if (i >> j) & 1 or i % 5 == j]
        ws = ws or ["data"]
        if i % 3 == 0:
            ws += ["key", "order"]          # adjacent -> phrase docs
        if i % 13 == 0:
            ws += ["slow", "scan"]
        text = " ".join(ws) + f" fill{i % 9}"
        rows.append((f"r{i:03d}", f"p{i % 4}/x", "c0",
                     "en" if i % 2 == 0 else "ja", text))
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")


@pytest.fixture(scope="module")
def qst(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("qs")
    store = build_index(spark, _corpus(spark), str(root / "idx"),
                        cfg=CFG, n_shards=4, resume=False)
    return store


def _texts(spark, store):
    dm = store.docmap(spark).collect()
    corpus = {r["repo"]: r for r in _corpus(spark).collect()}
    return {r.doc_id: corpus[r.repo] for r in dm}


def _phrase_docs(texts, phrase):
    pat = re.compile(phrase.replace(" ", r"[ \t\n\r　]+"))
    return {d for d, row in texts.items() if pat.search(row["content"])}


# ------------------------------------------------------------------
# parser
# ------------------------------------------------------------------

def test_parse_grammar():
    cs = parse_query_string(
        '+data "key order"~2 -slow lang:en sort^2 pre* fuz~1 auto~')
    assert [c.kind for c in cs] == ["term", "phrase", "term", "meta",
                                    "term", "prefix", "fuzzy", "fuzzy"]
    assert cs[0].occur == "must" and cs[2].occur == "must_not"
    assert cs[1].slop == 2 and cs[4].boost == 2.0
    assert cs[6].fuzziness == 1 and cs[7].fuzziness is None
    assert cs[3].field == "lang" and cs[3].text == "en"


def test_parse_escapes_and_quoted_field():
    cs = parse_query_string(r'a\-b path:"s p" repo:r\*x repo:st*')
    assert cs[0].text == "a-b" and cs[0].kind == "term"
    assert cs[1].field == "path" and cs[1].text == "s p"
    # escaped * is a literal char, not a prefix marker
    assert cs[2].kind == "meta" and cs[2].text == "r*x" \
        and not cs[2].meta_prefix
    assert cs[3].meta_prefix and cs[3].text == "st"


@pytest.mark.parametrize("bad", [
    'unterminated "phr', "data^x", "^2", "unknown_field:x",
    "bare:*", "*", 'mid*dle*', "term^0", "lang:en~2", '""',
])
def test_parse_errors(bad):
    with pytest.raises(ValueError):
        parse_query_string(bad)


# ------------------------------------------------------------------
# compiled semantics vs naive oracle
# ------------------------------------------------------------------

def _pairs(df):
    return [(r.doc_id, round(r.score, 9)) for r in df.collect()]


def test_terms_only_matches_bool(spark, qst):
    """No phrases/meta: query_string == the equivalent plan_bool run
    through the naive scorer (rank and score)."""
    got = _pairs(query_string(spark, qst, "+data -key sort^2 merge",
                              k=15))
    plan = plan_bool(spark, qst, must=[("data", 1.0)],
                     should=[("sort", 2.0), ("merge", 1.0)],
                     must_not=["key"], cfg=CFG)
    want = _pairs(score_naive(spark, qst, "", k=15, plan=plan))
    assert got == want


def test_default_operator_and(spark, qst):
    got = _pairs(query_string(spark, qst, "data sort",
                              default_operator="and", k=10))
    plan = plan_bool(spark, qst, must=["data", "sort"], cfg=CFG)
    assert got == _pairs(score_naive(spark, qst, "", k=10, plan=plan))


def test_positive_phrase_gates_and_scores(spark, qst):
    """'data "key order"' ranks only phrase-matching docs; scores are
    the compiled plan's scores (phrase grams score too; 'data' stays
    an optional should under default_operator=or)."""
    texts = _texts(spark, qst)
    ph = _phrase_docs(texts, "key order")
    got = _pairs(query_string(spark, qst, 'data "key order"', k=300))
    assert got and all(d in ph for d, _s in got)
    plan = plan_bool(spark, qst, must=[("key order", 1.0)],
                     should=[("data", 1.0)], cfg=CFG)
    naive = {d: s for d, s in
             _pairs(score_naive(spark, qst, "", k=1000, plan=plan))}
    for d, s in got:
        assert naive[d] == pytest.approx(s, rel=1e-12)


def test_negative_phrase_excludes(spark, qst):
    texts = _texts(spark, qst)
    xp = _phrase_docs(texts, "slow scan")
    base = {d for d, _ in
            _pairs(query_string(spark, qst, "data", k=500))}
    got = {d for d, _ in
           _pairs(query_string(spark, qst, 'data -"slow scan"',
                               k=500))}
    assert got == base - xp and base & xp


def test_meta_filter_and_negation(spark, qst):
    texts = _texts(spark, qst)
    en = {d for d, r in texts.items() if r["lang"] == "en"}
    got = {d for d, _ in
           _pairs(query_string(spark, qst, "data lang:en", k=500))}
    assert got and got <= en
    neg = {d for d, _ in
           _pairs(query_string(spark, qst, "data -lang:en", k=500))}
    assert neg and neg.isdisjoint(en) and (got | neg) == {
        d for d, _ in _pairs(query_string(spark, qst, "data", k=500))}


def test_meta_prefix_like(spark, qst):
    texts = _texts(spark, qst)
    p0 = {d for d, r in texts.items() if r["path"].startswith("p0")}
    got = {d for d, _ in
           _pairs(query_string(spark, qst, "data path:p0*", k=500))}
    assert got and got <= p0


def test_prefix_clause_blended(spark, qst):
    """'so*' expands the dictionary and rides as ONE blended group."""
    from synspark.query import prefix_terms
    exp = prefix_terms(spark, qst, "so", max_expansions=50)
    assert exp
    got = _pairs(query_string(spark, qst, "+data so*^2", k=20))
    plan = plan_bool(spark, qst, must=[("data", 1.0)],
                     should=[(exp, 2.0)], cfg=CFG)
    assert got == _pairs(score_naive(spark, qst, "", k=20, plan=plan))


def test_must_prefix_no_expansion_empty(spark, qst):
    assert query_string(spark, qst, "+zzqq* data", k=5).count() == 0
    # vacuous should / must_not expansions just drop out
    got = _pairs(query_string(spark, qst, "data zzqq* -qqzz~1", k=5))
    assert got == _pairs(query_string(spark, qst, "data", k=5))


def test_fuzzy_clause(spark, qst):
    from synspark.multiterm import fuzzy_terms
    exp = [t for t, _ in fuzzy_terms(spark, qst, "da", 1)]
    got = _pairs(query_string(spark, qst, "da~1", k=10))
    plan = plan_bool(spark, qst, should=[(exp, 1.0)], cfg=CFG)
    assert got == _pairs(score_naive(spark, qst, "", k=10, plan=plan))


def test_errors(spark, qst):
    with pytest.raises(ValueError):
        query_string(spark, qst, '-data')          # no scoring clause
    with pytest.raises(ValueError):
        query_string(spark, qst, 'lang:en')        # filter-only
    with pytest.raises(ValueError):
        query_string(spark, qst, 'data', default_operator="xor")


def test_exclusion_merges_with_deletes(spark, tmp_path_factory):
    """Committed tombstones AND a query-level phrase exclusion apply
    together (mask union inside the worker)."""
    root = tmp_path_factory.mktemp("qsdel")
    store = build_index(spark, _corpus(spark), str(root / "idx"),
                        cfg=CFG, n_shards=4, resume=False)
    texts = _texts(spark, store)
    xp = _phrase_docs(texts, "slow scan")
    base = {d for d, _ in _pairs(query_string(spark, store,
                                              'data -"slow scan"',
                                              k=500))}
    victims = sorted(base)[:5]
    delete_docs(spark, store, doc_ids=victims)
    got = {d for d, _ in _pairs(query_string(spark, store,
                                             'data -"slow scan"',
                                             k=500))}
    assert got == base - set(victims)
    assert got.isdisjoint(xp)


def test_df_routed_gates(spark, qst, monkeypatch):
    """Force the cogroup (df) path for the lang:en allowlist beside
    in-worker phrase runs: results identical to the broadcast path."""
    import synspark.query as Q
    want = _pairs(query_string(
        spark, qst, 'data "key order" -"slow scan" lang:en', k=50))
    monkeypatch.setattr(Q, "DELETES_BROADCAST_MAX", -1)
    # the broadcast allowlist is cached per commit; drop it so the
    # second run really resolves the over-budget (cogroup) shape
    monkeypatch.setattr(qst, "_masks", None, raising=False)
    got = _pairs(query_string(
        spark, qst, 'data "key order" -"slow scan" lang:en', k=50))
    assert got == want and got


def test_vacuous_should_expansion_returns_empty(spark, qst):
    """'zzzz*' under default_operator=or: the only scoring clause
    expands to nothing — ES returns 0 hits, not an error (review
    finding)."""
    assert query_string(spark, qst, "zzzz*", k=5).count() == 0
    assert query_string(spark, qst, "qqqq~1", k=5).count() == 0


def test_meta_value_with_backslash_round_trips(spark, tmp_path):
    rows = [(f"r{i}", "dir\\file" if i % 2 == 0 else "other", "c",
             "en", "data sort") for i in range(6)]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    st = build_index(spark, corpus, str(tmp_path / "idx"), cfg=CFG,
                     n_shards=1, resume=False)
    got = query_string(spark, st, r"data path:dir\\file", k=10) \
        .count()
    assert got == 3


def _brute_optional(spark, qst, texts, clauses, phrases):
    """Python oracle for optional-phrase semantics: score = sum of
    matched should clauses' naive scores; phrase clause matches iff
    its regex holds."""
    from synspark.query import plan_bool, score_naive
    parts = {}
    for text, boost in clauses:
        plan = plan_bool(spark, qst, should=[(text, boost)], cfg=CFG)
        for d, s in [(r.doc_id, r.score) for r in
                     score_naive(spark, qst, "", k=10_000,
                                 plan=plan).collect()]:
            parts[d] = parts.get(d, 0.0) + s
    for text, boost in phrases:
        plan = plan_bool(spark, qst, should=[(text, boost)], cfg=CFG)
        ph = _phrase_docs(texts, text)
        for d, s in [(r.doc_id, r.score) for r in
                     score_naive(spark, qst, "", k=10_000,
                                 plan=plan).collect()]:
            if d in ph:
                parts[d] = parts.get(d, 0.0) + s
    return parts


def test_optional_phrase_or_semantics(spark, qst):
    """optional_phrases=True: 'merge "key order"' ranks docs matching
    EITHER clause; phrase-matching docs get the phrase grams' scores
    on top — true Lucene OR semantics, vs the fast path's must
    promotion."""
    texts = _texts(spark, qst)
    got = {r.doc_id: r.score for r in
           query_string(spark, qst, 'merge "key order"', k=500,
                        optional_phrases=True).collect()}
    want = _brute_optional(spark, qst, texts,
                           [("merge", 1.0)], [("key order", 1.0)])
    assert set(got) == set(want) and got
    for d in got:
        assert got[d] == pytest.approx(want[d], rel=1e-9)
    # strictly more docs than the promoting fast path
    fast = {r.doc_id for r in
            query_string(spark, qst, 'merge "key order"',
                         k=500).collect()}
    assert fast < set(got)


def test_optional_phrase_with_must_and_not(spark, qst):
    """musts still gate; must_not still excludes; the optional phrase
    only ever ADDS score."""
    texts = _texts(spark, qst)
    ph = _phrase_docs(texts, "key order")
    base = {r.doc_id: r.score for r in
            query_string(spark, qst, "+data -slow", k=500).collect()}
    got = {r.doc_id: r.score for r in
           query_string(spark, qst, '+data -slow "key order"', k=500,
                        optional_phrases=True).collect()}
    assert set(got) == set(base)
    for d, s in got.items():
        if d in ph:
            assert s > base[d]
        else:
            assert s == pytest.approx(base[d], rel=1e-9)


def test_optional_phrase_only_query(spark, qst):
    """A lone phrase under optional mode still gates on adjacency."""
    texts = _texts(spark, qst)
    ph = _phrase_docs(texts, "key order")
    got = {r.doc_id for r in
           query_string(spark, qst, '"key order"', k=500,
                        optional_phrases=True).collect()}
    assert got == ph


def test_optional_and_must_phrase_mix(spark, qst):
    """'+data +"key order" "slow scan"' with optional_phrases=True:
    the must-phrase still gates (allow set), the bare phrase stays
    optional and only adds score."""
    texts = _texts(spark, qst)
    pko = _phrase_docs(texts, "key order")
    pss = _phrase_docs(texts, "slow scan")
    got = {r.doc_id: r.score for r in
           query_string(spark, qst, '+data +"key order" "slow scan"',
                        k=500, optional_phrases=True).collect()}
    base = {r.doc_id: r.score for r in
            query_string(spark, qst, '+data +"key order"',
                         k=500).collect()}
    assert set(got) == set(base) and set(got) <= pko
    for d, s in got.items():
        if d in pss:
            assert s > base[d]
        else:
            assert s == pytest.approx(base[d], rel=1e-9)


def test_phrase_runs_in_worker_equal_legacy_gating(spark, qst):
    """Every phrase verifies INSIDE the WAND workers
    (plan.phrase_runs). Pin (a) the compiled plan shape — one run per
    phrase, tagged with its occur and slop — and (b) exact (doc_id,
    score) parity with the equivalent plan_bool run through the naive
    scorer and gated by the regex-derived phrase doc sets."""
    from synspark.querystring import compile_query_string
    qs = '+data "key order" -"slow scan" lang:en sort^2'
    plan, where = compile_query_string(spark, qst, qs)
    assert plan.phrase_runs and len(plan.phrase_runs) == 2
    kinds_at = [plan.kinds[s] for s, _n, _sl in plan.phrase_runs]
    assert sorted(kinds_at) == ["m", "n"]
    assert [sl for _s, _n, sl in plan.phrase_runs] == [0, 0]
    got = _pairs(query_string(spark, qst, qs, k=300))
    texts = _texts(spark, qst)
    allow = _phrase_docs(texts, "key order")
    excl = _phrase_docs(texts, "slow scan")
    lplan = plan_bool(spark, qst,
                      must=[("data", 1.0), ("key order", 1.0)],
                      should=[("sort", 2.0)], cfg=CFG)
    want = [(d, s) for d, s in
            _pairs(score_naive(spark, qst, "", k=10_000, plan=lplan,
                               doc_where=where))
            if d in allow and d not in excl][:300]
    assert got and got == want


def test_optional_phrase_runs_equal_exhaustive(spark, qst):
    """Optional phrases of any slop ride the WAND pass as 's' runs.
    An optional sloppy phrase that matches nothing must leave the
    (doc_id, score) list of the query without it unchanged: its groups
    widen the window bounds but never add score or admit a doc."""
    fast = _pairs(query_string(spark, qst, 'merge "key order"', k=300,
                               optional_phrases=True))
    # 'zz qq' (two 1-gram blocks) matches nothing
    slow = _pairs(query_string(spark, qst,
                               'merge "key order" "zz qq"~1',
                               k=300, optional_phrases=True))
    assert fast and fast == slow


def test_optional_phrase_after_pagination(spark, qst):
    """optional_phrases=True pages with ``after`` like every other
    query_string: page 2 is ranks 11-20 of the k=20 list."""
    qs = 'merge "key order"'
    top = query_string(spark, qst, qs, k=20,
                       optional_phrases=True).collect()
    assert len(top) == 20
    cur = (top[9].score, top[9].doc_id)
    page2 = query_string(spark, qst, qs, k=10, after=cur,
                         optional_phrases=True).collect()
    assert [(r.doc_id, r.score) for r in page2] == \
        [(r.doc_id, r.score) for r in top[10:]]
