"""Round-6 optimization pins: layout-preserving routing changes and
fan-out fixes must not change ANY observable result.

- sub-range encode routing (indexer.build_segments_maponly): when
  n_shards < cores, each shard's docs split into f contiguous
  sub-ranges encoded by separate workers — the same
  multi-segment-per-shard shape append batches produce. Pin that a
  1-shard build (maximum split: every worker a sub-range of shard 0)
  is query-identical to the logical single-encoder result.
- percolate fan-out: an under-split batch input is spread to
  defaultParallelism partitions before the tokenize pass; a streaming
  frame is left untouched (zero-shuffle statelessness contract).
"""

import pytest

from pyspark.sql import functions as F

from synspark.index_store import build_index
from synspark.query import count_matches, search
from synspark.tokenizer import TokenizerConfig

CFG = TokenizerConfig(n=2, expand=False, ignore_case=True)


def _corpus(spark, n=300):
    rows = [(i, " ".join(["data sort merge key order scan"
                          .split()[j] for j in range(6)
                          if (i >> j) & 1] or ["data"])
             + f" tail{i % 7}")
            for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, content string")


# sub-splitting gates on shard size (≥ 50 block-widths per sub-range):
# 13k docs in ONE shard clears it (f=2 on local[4]); the 4-shard
# reference (3.25k docs/shard) stays unsplit — both layouts build from
# the same corpus and must agree exactly
N_DOCS = 13_000


def test_subsplit_build_is_query_identical(spark, tmp_path):
    """n_shards=1 on local[4] with a large-enough shard forces f=2
    sub-ranges: two workers each encode a doc slice of the SAME shard.
    Query results, term dfs and doc counts must equal the unsplit
    logical index."""
    corpus = _corpus(spark, N_DOCS)
    store = build_index(spark, corpus, str(tmp_path / "one"),
                        cfg=CFG, n_shards=1, resume=False)
    # the split really is active for this shape: the encode frame
    # routes by the _sub range key (plan-asserted), and the 4-shard
    # reference below stays on plain shard routing (gate: too small)
    from synspark.indexer import build_segments_maponly
    plan_split = build_segments_maponly(
        corpus, CFG, None, n_docs=N_DOCS, n_shards=1) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "_sub" in plan_split
    plan_ref = build_segments_maponly(
        corpus, CFG, None, n_docs=N_DOCS, n_shards=4) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "_sub" not in plan_ref
    segs = store.segments(spark)
    assert segs.select("shard").distinct().count() == 1
    meta = store.meta()
    assert meta.n_docs == N_DOCS
    # df per term == per-doc distinct occurrence count from the corpus
    from synspark.indexer import tokenize_corpus
    toks = tokenize_corpus(corpus, CFG, None)
    want_df = {r["term"]: r["df"] for r in
               toks.select("term", "doc_id").distinct()
               .groupBy("term").agg(F.count("*").alias("df"))
               .collect()}
    got_df = store.term_dfs(spark, sorted(want_df),
                            build_id=meta.build_id)
    assert got_df == want_df
    # top-k and phrase counts agree with a 4-shard reference build
    ref = build_index(spark, corpus, str(tmp_path / "four"),
                      cfg=CFG, n_shards=4, resume=False)
    for q, mode, phrase in [("data sort", "and", False),
                            ("merge scan", "or", False),
                            ("key order", "and", True)]:
        a = [(r.doc_id, round(r.score, 9)) for r in
             search(spark, store, q, k=25, mode=mode,
                    phrase=phrase).collect()]
        b = [(r.doc_id, round(r.score, 9)) for r in
             search(spark, ref, q, k=25, mode=mode,
                    phrase=phrase).collect()]
        assert a == b and a
        ca = count_matches(spark, store, q, mode=mode,
                           phrase=phrase).collect()[0][0]
        cb = count_matches(spark, ref, q, mode=mode,
                           phrase=phrase).collect()[0][0]
        assert ca == cb


def test_percolate_spread_partitions(spark):
    """Batch inputs with fewer partitions than cores are spread; the
    result set is unchanged by the spread."""
    from synspark.percolate import _spread, percolate, register_queries
    docs = _corpus(spark, 40).withColumnRenamed("content", "c") \
        .coalesce(1)
    spread = _spread(docs, "doc_id", "c")
    assert spread.rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism
    reg = register_queries(spark, [(1, "data sort", "and"),
                                   (2, "key order", "msm", 2)], CFG)
    got = sorted(tuple(r) for r in
                 percolate(spark, reg, docs, CFG, text_col="c")
                 .collect())
    # reference: same match computed on a well-partitioned frame
    got2 = sorted(tuple(r) for r in
                  percolate(spark, reg, docs.repartition(4), CFG,
                            text_col="c").collect())
    assert got == got2 and got


def test_simhash_first_combo_emission(spark):
    """The blocked self-join emits each surviving pair ONLY from its
    first colliding combo table — one output row per pair with no
    dedup aggregate in the plan, at any combo count."""
    from synspark.datapipe.dedup import simhash_near_dups

    # sigs 5 and 4 differ in bit 0 only: block 0 corrupt, blocks 1-3
    # intact -> the pair collides in THREE combo tables (1, 2, 3) and
    # must still appear exactly once, via combo 1
    sim = spark.createDataFrame([(1, 5), (2, 4), (3, 0x0FFF0FFF0FFF0FFF)],
                                "doc_id long, simhash long")
    rows = simhash_near_dups(sim, max_hamming=3).collect()
    assert [(r["a"], r["b"], r["hamming"]) for r in rows] == [(1, 2, 1)]

    # plan shape: default C(4,1)=4 -> no aggregate-based distinct, just
    # the two join exchanges; C(6,3)=20 -> no aggregate either
    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
    p_fast = plan(simhash_near_dups(sim, max_hamming=3))
    assert "HashAggregate" not in p_fast
    assert p_fast.count("Exchange") <= 2 * p_fast.count("SortMergeJoin") \
        or "BroadcastHashJoin" in p_fast
    wide = simhash_near_dups(sim, max_hamming=3, n_blocks=6,
                             blocks_per_key=3)
    assert "HashAggregate" not in plan(wide)

    # C=20 on signatures colliding in many combo tables: no duplicate
    # rows, and the same pair set as C=4
    sigs = [0, 1, 3, 1 << 20, (1 << 40) | 1, 7, 0x0FFF0FFF0FFF0FFF,
            0x0FFF0FFF0FFF0FFE, -(1 << 63) | 1]
    sim2 = spark.createDataFrame(list(enumerate(sigs)),
                                 "doc_id long, simhash long")
    got = [tuple(r) for r in simhash_near_dups(
        sim2, max_hamming=3, n_blocks=6, blocks_per_key=3).collect()]
    assert len(got) == len(set(got)) > 5
    assert set(got) == {tuple(r) for r in
                        simhash_near_dups(sim2, max_hamming=3).collect()}


def test_simhash_hot_bucket_grid(spark):
    """split_hot_buckets grid-salts the blocked self-join: pair sets
    are identical with and without it, including pairs inside one hot
    bucket and across salt cells."""
    from synspark.datapipe.dedup import simhash_near_dups

    # 40 docs share block 0 (low 16 bits) -> one hot bucket; ids vary
    # so hash(id) spreads them over grid cells. A handful of genuinely
    # near signatures (hamming <= 3) hide inside it.
    rows = []
    for i in range(40):
        high = (i // 8) << 20          # 5 clusters of 8 near sigs
        low = 0x1234
        rows.append((i, high | ((i % 8) << 16) | low))
    sim = spark.createDataFrame(rows, "doc_id long, simhash long")
    plain = {tuple(r) for r in simhash_near_dups(sim, 3).collect()}
    grid = {tuple(r) for r in
            simhash_near_dups(sim, 3, split_hot_buckets=4).collect()}
    assert plain == grid and plain
    # a non-positive granule is an error, not an empty pair set
    for bad in (0, -1):
        with pytest.raises(ValueError, match="split_hot_buckets"):
            simhash_near_dups(sim, 3, split_hot_buckets=bad)
