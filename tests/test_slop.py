"""ES ``match_phrase`` slop over a word-level index (whole-block
tokens, n larger than any block = whitespace tokenizer).

Truth anchor: Lucene SloppyPhraseScorer move-distance semantics for a
two-position phrase — occurrences (p0, p1) match iff
|(p1 − p0) − 1| ≤ slop, so a one-word gap costs 1 and transposed
adjacent terms cost 2 (the ES-documented transposition behavior).
The oracle is brute-force position matching in Python; ranked
query_string results are checked against ``score_naive`` over the
equivalent ``plan_bool``, gated by the brute-force doc set.
"""

import pytest

from synspark.deletes import delete_docs
from synspark.index_store import build_index
from synspark.query import count_matches, match_ids, plan_bool, \
    score_naive
from synspark.querystring import query_string
from synspark.tokenizer import TokenizerConfig

CFG = TokenizerConfig(n=1 << 20, expand=False)
A, B = "key", "order"
FILLER = ["data", "sort", "merge", "row", "scan"]


def _texts(n=120):
    out = []
    for i in range(n):
        ws = [FILLER[(i + j) % len(FILLER)] for j in range(i % 7)]
        ws.insert(i % (len(ws) + 1), A)
        ws.insert((i * 3) % (len(ws) + 1), B)
        if i % 4 == 0:
            ws.append(A)
        if i % 9 == 0:
            ws = [w for w in ws if w != B]   # some docs without B
        out.append(" ".join(ws))
    return out


def _corpus(spark):
    return spark.createDataFrame(
        [(f"r{i:03d}", "f", "c", "t", t)
         for i, t in enumerate(_texts())],
        "repo string, path string, commit string, lang string, "
        "content string")


@pytest.fixture(scope="module")
def sstore(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("slop")
    return build_index(spark, _corpus(spark), str(root / "idx"),
                       cfg=CFG, n_shards=3, resume=False)


def _brute_hits(slop):
    """Corpus indexes of the docs where the A B phrase matches."""
    hits = set()
    for i, t in enumerate(_texts()):
        ws = t.split()
        pa = [j for j, w in enumerate(ws) if w == A]
        pb = [j for j, w in enumerate(ws) if w == B]
        if any(abs((q - p) - 1) <= slop for p in pa for q in pb):
            hits.add(i)
    return hits


@pytest.mark.parametrize("slop", [1, 2, 3, 5])
def test_slop_count_matches_brute_force(spark, sstore, slop):
    got = count_matches(spark, sstore, f"{A} {B}", phrase=True,
                        slop=slop).collect()[0]["hits"]
    assert got == len(_brute_hits(slop))
    assert match_ids(spark, sstore, f"{A} {B}", phrase=True,
                     slop=slop).count() == got


def test_slop_zero_equals_exact_phrase(spark, sstore):
    exact = count_matches(spark, sstore, f"{A} {B}",
                          phrase=True).collect()[0]["hits"]
    assert exact == len(_brute_hits(0))


K = 20   # below every case's hit count: WAND pruning and the heap cut


@pytest.fixture(scope="module")
def soracle(spark, sstore):
    """(corpus index -> doc_id, naive scores of the must-phrase plan,
    of 'data' alone, of the phrase grams alone), scored once."""
    def naive(**clauses):
        plan = plan_bool(spark, sstore, cfg=CFG, **clauses)
        return {r.doc_id: r.score for r in
                score_naive(spark, sstore, "", k=10_000,
                            plan=plan).collect()}

    ids = {int(r.repo[1:]): r.doc_id
           for r in sstore.docmap(spark).collect()}
    return (ids, naive(must=[f"{A} {B}"], should=["data"]),
            naive(should=["data"]), naive(should=[f"{A} {B}"]))


def _ranked(scores):
    top = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:K]
    return [(d, round(s, 9)) for d, s in top]


@pytest.mark.parametrize("slop", [1, 2, 3])
def test_slop_query_string_oracle(spark, sstore, soracle, slop):
    """Sloppy query_string phrases of every occur, verified inside the
    WAND workers, rank exactly like the naive oracle gated by the
    brute-force phrase doc set."""
    ids, must, data, grams = soracle
    ph = {ids[i] for i in _brute_hits(slop)}

    def got(qs, **kw):
        return [(r.doc_id, round(r.score, 9)) for r in
                query_string(spark, sstore, qs, k=K, **kw).collect()]

    # must (a bare phrase is promoted under default_operator=or)
    assert got(f'data "{A} {B}"~{slop}') == \
        _ranked({d: s for d, s in must.items() if d in ph})
    # must_not: only adjacency-verified docs are excluded
    assert got(f'data -"{A} {B}"~{slop}') == \
        _ranked({d: s for d, s in data.items() if d not in ph})
    # optional: a verified phrase adds its gram scores on top
    opt = dict(data)
    for d in ph & set(grams):
        opt[d] = opt.get(d, 0.0) + grams[d]
    assert got(f'data "{A} {B}"~{slop}', optional_phrases=True) == \
        _ranked(opt)


def test_sloppy_phrase_job_shape(spark, sstore):
    """One job shape for every phrase: a sloppy query_string phrase is
    verified in the same WAND grouped map as an exact one, so it runs
    no more Spark jobs (no phrase id set is collected)."""
    sc = spark.sparkContext
    exact, sloppy = f'"{A} {B}"', f'"{A} {B}"~1'

    def jobs(qs):
        group = f"test-slop-job-shape-{len(qs)}"
        sc.setJobGroup(group, "sloppy phrase job-shape guard")
        try:
            query_string(spark, sstore, qs).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for qs in (exact, sloppy):              # warm the df memo
        query_string(spark, sstore, qs).collect()
    assert jobs(sloppy) <= jobs(exact)


def test_slop_monotone_and_transposition(spark, tmp_path):
    rows = [("a", "f", "c", "t", f"{A} {B}"),
            ("b", "f", "c", "t", f"{B} {A}"),
            ("c", "f", "c", "t", f"{A} x {B}")]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    store = build_index(spark, df, str(tmp_path / "idx"), cfg=CFG,
                        n_shards=1, resume=False)

    def cnt(s):
        return count_matches(spark, store, f"{A} {B}", phrase=True,
                             slop=s).collect()[0]["hits"]

    assert cnt(0) == 1            # only the adjacent doc
    assert cnt(1) == 2            # + one-word gap
    assert cnt(2) == 3            # + transposition (costs exactly 2)


def test_slop_follows_live_docs(spark, tmp_path):
    rows = [("a", "f", "c", "t", f"{A} x {B}"),
            ("b", "f", "c", "t", f"{A} {B}")]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    store = build_index(spark, df, str(tmp_path / "idx"), cfg=CFG,
                        n_shards=1, resume=False)
    assert count_matches(spark, store, f"{A} {B}", phrase=True,
                         slop=1).collect()[0]["hits"] == 2
    victim = match_ids(spark, store, A, mode="and").collect()[0].doc_id
    delete_docs(spark, store, doc_ids=[int(victim)])
    assert count_matches(spark, store, f"{A} {B}", phrase=True,
                         slop=1).collect()[0]["hits"] == 1


def test_slop_validation(spark, sstore):
    with pytest.raises(ValueError, match="requires phrase"):
        count_matches(spark, sstore, f"{A} {B}", slop=1)
    with pytest.raises(ValueError, match="two-position"):
        count_matches(spark, sstore, f"{A} {B} data", phrase=True,
                      slop=1)
    with pytest.raises(ValueError, match=">= 0"):
        count_matches(spark, sstore, f"{A} {B}", phrase=True, slop=-1)
    # query_string checks the same arity before any Spark job, for
    # every occur
    for qs, kw in ((f'data +"{A} {B} data"~1', {}),
                   (f'data -"{A} {B} data"~1', {}),
                   (f'data "{A} {B} data"~1',
                    {"optional_phrases": True})):
        with pytest.raises(ValueError, match="two-position"):
            query_string(spark, sstore, qs, **kw)
