"""Tier-2: training-data pipeline operators — dedup finds planted
duplicates, IVF recall vs brute force, simhash properties, multimodal
plumbing."""

import re

import numpy as np
import pytest

from pyspark.sql import functions as F

from synspark.datapipe.dedup import (exact_dup_groups, jaccard_pairs,
                                     lsh_candidate_groups,
                                     minhash_signatures, simhash,
                                     simhash_near_dups, word_shingles)
from synspark.datapipe.multimodal import (as_media, decode_media,
                                          frame_sample_plan)
from synspark.datapipe.similarity import (brute_force_topk, ivf_topk,
                                          with_ivf_bucket)
from synspark.datapipe.textstats import (fingerprints, language_id,
                                         quality_scores, token_counts)

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def docs(spark):
    """Corpus with planted exact dups and near-dups."""
    base = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),       # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),       # near dup
        (3, "pack my box with five dozen liquor jugs"),
        (4, "sphinx of black quartz judge my vow"),
        (5, "東京は日本の首都です 今日は晴れ"),
        (6, "completely different text about spark dataframes"),
        (7, "the quick brown fox jumps over the lazy dog today"),  # near dup
        (8, ""),
    ]
    return spark.createDataFrame(base, "doc_id long, text string").cache()


def test_exact_dups(spark, docs):
    groups = exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2 and groups[0]["keep_doc_id"] == 0


def test_minhash_lsh_finds_near_dups(spark, docs):
    sh = word_shingles(docs, k=3)
    cands = lsh_candidate_groups(minhash_signatures(sh, 8)).collect()
    # docs 0,1 identical shingle sets -> all bands collide; 2/7 likely too
    grouped_ids = {r["keep_doc_id"] for r in cands}
    assert 0 in grouped_ids
    assert all(r["n_docs"] >= 2 for r in cands)


def test_jaccard(spark, docs):
    sh = word_shingles(docs, k=3)
    pairs = {(r["a"], r["b"]): r["jaccard"]
             for r in jaccard_pairs(sh).collect()}
    assert pairs[(0, 1)] == 1.0          # exact dup
    assert 0.0 < pairs[(0, 2)] < 1.0     # near dup shares most shingles
    assert (0, 4) not in pairs           # unrelated: no shared shingle


def test_jaccard_candidate_restriction(spark, docs):
    """candidates bounds BOTH the verification input (per-doc shingle
    sets of candidate docs only) and the output pair set — the wiring
    that keeps a hot shingle from going quadratic at scale."""
    from synspark.datapipe.dedup import lsh_candidate_pairs
    # hot-shingle corpus: every doc shares one shingle -> unrestricted
    # self-join would produce all N^2/2 pairs
    hot = spark.createDataFrame(
        [(i, "common anchor words plus unique tail %d %d %d"
          % (i, i * 7, i * 13)) for i in range(30)],
        "doc_id long, text string")
    sh = word_shingles(hot, k=3)
    cand = spark.createDataFrame([(3, 4), (10, 11)], "a long, b long")
    out = jaccard_pairs(sh, candidates=cand).collect()
    assert {(r["a"], r["b"]) for r in out} <= {(3, 4), (10, 11)}
    # plan shape (round 6): candidate pairs verify via per-pair
    # array_intersect over per-doc shingle-set arrays — NO shingle
    # self-join anywhere in the plan (the quadratic-in-popularity
    # intermediate is gone); the doc-set semi-join + candidate dedup
    # live inside the localCheckpoint boundaries (LogicalRDD) that
    # truncate the multiply-referenced lineage
    plan = jaccard_pairs(sh, candidates=cand)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "array_intersect" in plan
    assert "LogicalRDD" in plan
    assert "shingle#" not in plan.split("LogicalRDD")[0]  # no self-join
    # duplicate candidate rows still yield one output row per pair
    # (parity with the old groupBy plan)
    cand_dup = spark.createDataFrame([(3, 4), (3, 4), (10, 11)],
                                     "a long, b long")
    out_dup = jaccard_pairs(sh, candidates=cand_dup).collect()
    assert sorted((r["a"], r["b"]) for r in out_dup) == \
        sorted((r["a"], r["b"]) for r in out)
    # LSH-candidate wiring agrees with the unrestricted pairs on the
    # pairs it covers (same jaccard values)
    cand_lsh = lsh_candidate_pairs(minhash_signatures(
        word_shingles(docs, k=3), 8))
    restricted = {(r["a"], r["b"]): r["jaccard"] for r in jaccard_pairs(
        word_shingles(docs, k=3), candidates=cand_lsh).collect()}
    full = {(r["a"], r["b"]): r["jaccard"]
            for r in jaccard_pairs(word_shingles(docs, k=3)).collect()}
    assert restricted == {p: j for p, j in full.items() if p in restricted}
    assert (0, 1) in restricted  # exact dup always survives banding


def test_simhash_properties(spark, docs):
    s = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert s[0] == s[1]                  # identical text -> identical hash
    ham02 = bin((s[0] ^ s[2]) & (2**64 - 1)).count("1")
    ham04 = bin((s[0] ^ s[4]) & (2**64 - 1)).count("1")
    assert ham02 < ham04                 # near dup closer than unrelated
    assert s[8] == 0                     # empty text
    near = simhash_near_dups(simhash(docs), max_hamming=3).collect()
    assert any(r["a"] == 0 and r["b"] == 1 for r in near)


def test_textstats(spark, docs):
    tc = {r["doc_id"]: r for r in token_counts(docs).collect()}
    assert tc[0]["n_tokens"] == 9
    assert tc[8]["n_tokens"] == 0
    q = {r["doc_id"]: r for r in quality_scores(docs).collect()}
    assert q[0]["stopword_ratio"] == pytest.approx(2 / 9, abs=1e-6)
    lang = {r["doc_id"]: r["lang_pred"] for r in language_id(docs).collect()}
    assert lang[0] == "en" and lang[5] == "ja" and lang[8] == "other"
    fp = {r["doc_id"]: r for r in fingerprints(docs).collect()}
    assert fp[0]["sha256"] == fp[1]["sha256"]


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.RandomState(42)
    vecs = rng.standard_normal((200, 16)).astype(np.float32)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>") \
        .cache()


def test_ann_bruteforce_self_similarity(spark, embeddings):
    qv = [float(x) for x in
          embeddings.filter(F.col("vec_id") == 7).collect()[0]["embedding"]]
    top = brute_force_topk(embeddings, qv, k=3).collect()
    assert top[0]["vec_id"] == 7 and top[0]["cosine"] == 1.0


def test_ivf_recall(spark, embeddings):
    qv = [float(x) for x in
          embeddings.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    exact = {r["vec_id"] for r in
             brute_force_topk(embeddings, qv, k=10).collect()}
    bucketed = with_ivf_bucket(embeddings, dim=16, n_planes=6).cache()
    # probing half the buckets should recover most of the true top-10
    approx = {r["vec_id"] for r in
              ivf_topk(bucketed, qv, dim=16, k=10, n_planes=6,
                       probes=32).collect()}
    assert len(exact & approx) >= 7
    # full probe degenerates to exact
    full = {r["vec_id"] for r in
            ivf_topk(bucketed, qv, dim=16, k=10, n_planes=6,
                     probes=64).collect()}
    assert full == exact


def test_embedding_near_dups(spark, embeddings):
    """Semantic dedup: injected near-clones are found via the LSH
    bucket join + exact cosine verify; random background pairs are
    never false positives."""
    from synspark.datapipe.dedup import embedding_near_dups
    base = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    clones = (base.filter(F.col("vec_id") < 15)
              .select((F.col("vec_id") + F.lit(10_000)).alias("vec_id"),
                      "embedding"))  # exact clones: cosine == 1.0
    pairs = embedding_near_dups(base.unionByName(clones), dim=16,
                                threshold=0.9).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    # identical vectors always share every bucket -> all 15 found
    assert {(i, i + 10_000) for i in range(15)} <= got
    # nothing else crosses 0.9 on random gaussian vectors
    assert got == {(i, i + 10_000) for i in range(15)}
    assert all(r["cosine"] == 1.0 for r in pairs)


def test_multimodal_plumbing(spark, docs):
    media = as_media(docs.filter(F.col("doc_id") != 8))
    decoded = decode_media(media)
    rows = {r["media_id"]: r for r in decoded.collect()}
    assert set(rows) == set(range(8))
    for mid, r in rows.items():
        assert r["kind"] == ["image", "audio", "video"][mid % 3]
        assert r["n_bytes"] > 0 and len(r["sha256"]) == 64
        if r["kind"] == "image":
            assert r["n_frames"] == 1 and r["width"] > 0
        if r["kind"] == "video":
            assert r["n_frames"] >= 1
    plan = frame_sample_plan(decoded, every_n=10)
    for r in plan.groupBy("media_id").agg(
            F.count("*").alias("n"), F.max("frame_idx").alias("mx")).collect():
        assert rows[r["media_id"]]["kind"] == "video"
        assert r["mx"] < rows[r["media_id"]]["n_frames"]


def test_decode_deterministic(spark, docs):
    m = as_media(docs.limit(5))
    a = sorted(map(tuple, decode_media(m).collect()))
    b = sorted(map(tuple, decode_media(m).collect()))
    assert a == b


def test_multifield_compose(spark, tmp_path):
    """Reference indexes msg1/msg2 — compose as one index per field."""
    from synspark.index_store import build_index
    from synspark.query import search
    from synspark.tokenizer import TokenizerConfig
    docs = spark.createDataFrame(
        [(0, "alpha beta", "gamma delta"), (1, "epsilon", "alpha")],
        "doc_id long, msg1 string, msg2 string")
    cfg = TokenizerConfig(n=2, expand=False)
    i1 = build_index(spark, docs, str(tmp_path / "f1"), cfg=cfg,
                     n_shards=2, text_col="msg1", source="msg1")
    i2 = build_index(spark, docs, str(tmp_path / "f2"), cfg=cfg,
                     n_shards=2, text_col="msg2", source="msg2")
    h1 = {r["doc_id"] for r in
          search(spark, i1, "alpha", k=10, phrase=True).collect()}
    h2 = {r["doc_id"] for r in
          search(spark, i2, "alpha", k=10, phrase=True).collect()}
    assert h1 == {0} and h2 == {1}


def test_ivf_indexed_partition_pruning(spark, embeddings, tmp_path):
    from synspark.datapipe.similarity import (brute_force_topk,
                                              ivf_topk_indexed,
                                              write_ivf_index)
    from pyspark.sql import functions as F
    path = str(tmp_path / "ivf")
    write_ivf_index(embeddings, path, dim=16)
    qv = [float(x) for x in
          embeddings.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    approx = ivf_topk_indexed(spark, path, qv, dim=16, k=10, probes=32)
    # probing is PARTITION PRUNING at the scan: the bucket filter must
    # appear in PartitionFilters (pruned before any row is read), not
    # as a post-scan Filter
    plan = approx._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ivf_bucket" in m.group(1), plan
    exact = {r["vec_id"] for r in
             brute_force_topk(embeddings, qv, k=10).collect()}
    got = {r["vec_id"] for r in approx.collect()}
    assert len(exact & got) >= 7
    # full probe == exact
    full = {r["vec_id"] for r in
            ivf_topk_indexed(spark, path, qv, dim=16, k=10,
                             probes=64).collect()}
    assert full == exact


def test_dedup_drop_list(spark, docs):
    from synspark.datapipe.dedup import dedup_drop_list
    out = {r["doc_id"]: r["reason"]
           for r in dedup_drop_list(docs, threshold=0.5).collect()}
    assert out.get(1) == "exact"        # identical to doc 0, larger id
    assert 0 not in out                  # min id survives
    assert out.get(2) == "near"          # one-word change, J >= 0.5
    assert 4 not in out and 6 not in out  # unrelated docs survive


def test_dedup_drop_list_null_text(spark):
    """Null text is not an exact duplicate of other null text; real
    duplicates next to it still drop."""
    from synspark.datapipe.dedup import dedup_drop_list
    t = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame([(1, None), (2, None), (3, t), (4, t)],
                               "doc_id long, text string")
    out = sorted(tuple(r) for r in dedup_drop_list(df).collect())
    assert out == [(4, "exact")]


def test_media_features_and_resize(spark, docs):
    from synspark.datapipe.multimodal import (as_media, decode_media,
                                              extract_features,
                                              resize_plan)
    media = as_media(docs.filter(F.col("doc_id") < 6))
    feats = {r["media_id"]: r for r in
             extract_features(media, dim=8).collect()}
    assert set(feats) == set(range(6))
    assert all(0.0 <= feats[i][f"f{j}"] <= 1.0
               for i in feats for j in range(8))
    # deterministic: identical payloads -> identical features
    assert all(feats[0][f"f{j}"] == feats[1][f"f{j}"] for j in range(8))
    rp = {r["media_id"]: r for r in
          resize_plan(decode_media(media), 224, 224).collect()}
    for r in rp.values():
        assert r["out_w"] <= max(224, r["width"])
        assert r["scale"] <= 1.0  # never upscale
        if r["width"] <= 224 and r["height"] <= 224:
            assert (r["out_w"], r["out_h"]) == (r["width"], r["height"])


def test_scrub_pii(spark):
    from synspark.datapipe.textstats import scrub_pii
    docs = spark.createDataFrame(
        [(0, "mail a.b+c@ex-ample.org or 192.168.0.1 ref 123456789"),
         (1, "clean text 123"), (2, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    assert out[0]["text"] == "mail <EMAIL> or <IP> ref <NUM>"
    assert out[0]["n_redactions"] == 3
    assert out[1]["text"] == "clean text 123"  # short number untouched
    assert out[1]["n_redactions"] == 0
    assert out[2]["n_redactions"] == 0


def test_chunk_documents(spark):
    from synspark.datapipe.textstats import chunk_documents
    words = " ".join(f"w{i}" for i in range(150))
    docs = spark.createDataFrame(
        [(0, words), (1, "short doc"), (2, "")],
        "doc_id long, text string")
    out = chunk_documents(docs, max_tokens=64, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 0: stride 56 -> starts 0,56,112 -> 3 chunks (64,64,38 tokens)
    c0 = sorted(by_doc[0], key=lambda r: r["chunk_id"])
    assert [r["n_tokens"] for r in c0] == [64, 64, 38]
    assert c0[0]["chunk"].split()[0] == "w0"
    assert c0[1]["chunk"].split()[0] == "w56"   # 8-token overlap
    assert c0[1]["chunk"].split()[8] == "w64"   # first NEW token
    # every input token appears in some chunk (coverage)
    covered = {w for r in c0 for w in r["chunk"].split()}
    assert covered == {f"w{i}" for i in range(150)}
    assert [r["n_tokens"] for r in by_doc[1]] == [2]
    assert 2 not in by_doc  # empty doc -> no chunks
