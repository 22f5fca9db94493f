"""Round-4 pins: FS-shim metadata/commit layer (HadoopFS over a
file: URI proving the indirection), enforced single-writer lock,
post-fold termstats vacuum, pre-v5 partial-build resume detection,
distributed docID bucket offsets, posLength-carrying filter-composed
indexes, doc-range block skip in decoded_postings, and multi-probe
embedding near-dup recall."""

import json

import pytest

from pyspark.sql import functions as F

from synspark.fs import FsPath, LocalFS
from synspark.index_store import (ConcurrentWriterError, IndexStore,
                                  append_to_index, build_index)
from synspark.synonyms import SynonymDict
from synspark.tokenizer import TokenizerConfig

from test_round3 import CFG, mk

pytestmark = pytest.mark.spark


# ---------------------------------------------------------------------
# FS shim (round-3 verdict task #1)
# ---------------------------------------------------------------------

def test_local_fs_atomic_write_and_path_ops(tmp_path):
    fs = LocalFS()
    root = FsPath(fs, tmp_path)
    d = root / "sub"
    d.mkdir()
    (d / "a.json").write_text(json.dumps({"x": 1}))
    assert (d / "a.json").exists()
    assert json.loads((d / "a.json").read_text()) == {"x": 1}
    # overwrite is atomic (os.replace) — and leaves no temp litter
    (d / "a.json").write_text("{}")
    assert (d / "a.json").read_text() == "{}"
    names = [p.name for p in d.iterdir()]
    assert names == ["a.json"]
    # file: URI normalization
    assert fs._local(f"file://{tmp_path}") == str(tmp_path)
    assert fs._local(f"file:{tmp_path}") == str(tmp_path)
    # exclusive create: second attempt fails
    assert (d / "lock").create_exclusive("me")
    assert not (d / "lock").create_exclusive("you")
    (d / "lock").unlink()
    assert (d / "lock").create_exclusive("again")
    d.rmtree()
    assert not d.exists()


def test_hadoopfs_file_uri_store_end_to_end(spark, tmp_path_factory):
    """The whole store lifecycle (build → query → append → crash purge)
    through the Hadoop FileSystem API bound to a file: URI — proving
    the commit layer runs wherever Spark's Hadoop conf points (the
    round-3 verdict's #1: meta/manifest/purge were POSIX-only)."""
    from synspark.fs import HadoopFS
    from synspark.query import search

    local = tmp_path_factory.mktemp("hfs")
    base = f"file:{local}/index"
    fs = HadoopFS(spark, base)

    st = build_index(spark, mk(spark, 0, 60), base, cfg=CFG,
                     n_shards=3, source="hfs", fs=fs)
    assert isinstance(st.fs, HadoopFS)
    m = st.meta()
    assert m.n_docs == 60
    hits = search(spark, st, "alpha beta", k=5, mode="and").collect()
    assert hits

    # append through the same FS; lock cycles through HadoopFS
    st = append_to_index(spark, st, mk(spark, 60, 90), source="a",
                         batch_tag="b1")
    assert st.meta().n_docs == 90
    assert not (st.path / "writer.lock").exists()

    # crash purge through the shim: plant a fake uncommitted shard dir
    # + stats partition, run a retry-shaped append, leftovers gone
    stale_seg = st.path / "segments" / "shard=99"
    stale_seg.mkdir()
    (stale_seg / "junk.parquet").write_text("not parquet")
    stale_ts = st.path / "termstats" / "batch=at-90"
    stale_ts.mkdir()
    (stale_ts / "junk").write_text("x")
    st = append_to_index(spark, st, mk(spark, 90, 100), source="b",
                         batch_tag="b2")
    assert not stale_seg.exists()
    assert st.meta().n_docs == 100
    # readers agree with a plain-local store over the same directory
    plain = IndexStore(str(local / "index"))
    assert plain.meta().n_docs == 100
    a = {tuple(r) for r in st.termstats(spark).collect()}
    b = {tuple(r) for r in plain.termstats(spark).collect()}
    assert a == b


def test_hadoopfs_atomic_rename_and_stat(spark, tmp_path_factory):
    from synspark.fs import HadoopFS
    local = tmp_path_factory.mktemp("hfsops")
    base = f"file:{local}"
    fs = HadoopFS(spark, base)
    p = FsPath(fs, base)
    (p / "x.txt").write_text("one")
    (p / "x.txt").write_text("two")  # overwrite via rename
    assert (p / "x.txt").read_text() == "two"
    mtime, size = (p / "x.txt").stat_sig()
    assert size == 3 and mtime > 0
    assert sorted(c.name for c in p.iterdir()) == ["x.txt"]
    assert (p / "l").create_exclusive("o")
    assert not (p / "l").create_exclusive("o2")


# ---------------------------------------------------------------------
# writer lock (round-3 verdict task #10)
# ---------------------------------------------------------------------

def test_concurrent_append_raises(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("lock") / "index"
    st = build_index(spark, mk(spark, 0, 30), str(out), cfg=CFG,
                     n_shards=2, source="base")
    # simulate a concurrent writer holding the lock
    st.acquire_writer_lock(owner="other-writer")
    with pytest.raises(ConcurrentWriterError, match="another writer"):
        append_to_index(spark, st, mk(spark, 30, 40), source="me")
    # index untouched by the failed attempt
    assert st.meta().n_docs == 30
    # operator override for a crashed holder, then the append works
    st.break_lock()
    st = append_to_index(spark, st, mk(spark, 30, 40), source="me")
    assert st.meta().n_docs == 40
    assert not (st.path / "writer.lock").exists()


def test_lock_released_on_append_failure(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("lockfail") / "index"
    st = build_index(spark, mk(spark, 0, 30), str(out), cfg=CFG,
                     n_shards=2, source="base",
                     syn=SynonymDict.parse("alpha,beta"))
    with pytest.raises(ValueError, match="fingerprint|dictionary"):
        append_to_index(spark, st, mk(spark, 30, 40), syn=None)
    assert not (st.path / "writer.lock").exists()  # released on error


# ---------------------------------------------------------------------
# post-fold termstats vacuum (round-3 verdict task #5)
# ---------------------------------------------------------------------

def test_stats_vacuum_keeps_dir_count_bounded(spark, tmp_path_factory):
    """Over > 2×fold_stats_every appends, folded-away delta partitions
    are reclaimed right after each fold's commit: the termstats dir
    count stays ≤ fold_stats_every + 1 forever, and values still equal
    a full rebuild's."""
    out = tmp_path_factory.mktemp("vac") / "index"
    fold_every = 3
    st = build_index(spark, mk(spark, 0, 30), str(out), cfg=CFG,
                     n_shards=2, source="base")
    n = 30
    for i in range(8):
        st = append_to_index(spark, st, mk(spark, n, n + 10),
                             batch_tag=f"v{i}",
                             fold_stats_every=fold_every)
        n += 10
        dirs = [p.name for p in (st.path / "termstats").glob("batch=*")]
        assert len(dirs) <= fold_every + 1, (i, dirs)
    # committed partitions are exactly the on-disk ones now
    dirs = {p.name.split("=", 1)[1]
            for p in (st.path / "termstats").glob("batch=*")}
    assert set(st.meta().stats_batches) <= dirs
    out2 = tmp_path_factory.mktemp("vacfull") / "index"
    full = build_index(spark, mk(spark, 0, n), str(out2), cfg=CFG,
                       n_shards=2, source="full")
    a = {tuple(r) for r in st.termstats(spark).collect()}
    b = {tuple(r) for r in full.termstats(spark).collect()}
    assert a == b


# ---------------------------------------------------------------------
# pre-v5 partial-build resume (round-3 advice #4)
# ---------------------------------------------------------------------

def test_resume_rebuilds_unpartitioned_stats(spark, tmp_path_factory):
    """A crashed pre-v5 build left UNPARTITIONED stats dirs (no batch=
    children). Resuming over one must rebuild the stats in the current
    layout instead of committing meta over a layout readers can't
    filter (obscure missing-column failure, round-3 advice)."""
    import shutil
    out = tmp_path_factory.mktemp("prev5") / "index"
    st = build_index(spark, mk(spark, 0, 40), str(out), cfg=CFG,
                     n_shards=2, source="base")
    expect = {tuple(r) for r in st.termstats(spark).collect()}
    # simulate the pre-v5 crash artifact: meta missing, stats
    # unpartitioned (files moved out of batch=initial to the root)
    (out / "meta.json").unlink()
    for sub in ("termstats", "docstats"):
        d = out / sub
        for f in (d / "batch=initial").iterdir():
            if f.name.endswith(".parquet"):
                shutil.move(str(f), str(d / f.name))
        shutil.rmtree(d / "batch=initial")
    st2 = build_index(spark, mk(spark, 0, 40), str(out), cfg=CFG,
                      n_shards=2, source="resume", resume=True)
    assert st2.meta().n_docs == 40
    got = {tuple(r) for r in st2.termstats(spark).collect()}
    assert got == expect
    assert sorted(map(tuple, st2.docstats(spark).collect()))[-1][0] == 39


# ---------------------------------------------------------------------
# distributed docID offsets (round-3 verdict task #2)
# ---------------------------------------------------------------------

def test_docid_offsets_no_driver_materialization(spark, monkeypatch):
    """assign_doc_ids (bucketed) must not collect()/toPandas() the
    bucket-offset frame: offsets are an executor-side prefix sum
    (round-3 verdict, wrong #1 — the old path collected all B buckets
    onto the driver at B ≈ n/250k)."""
    from synspark.docids import assign_doc_ids
    cls = type(spark.range(1))
    calls = []
    orig_collect, orig_topandas = cls.collect, cls.toPandas
    monkeypatch.setattr(cls, "collect",
                        lambda self: (calls.append("collect"),
                                      orig_collect(self))[1])
    monkeypatch.setattr(cls, "toPandas",
                        lambda self: (calls.append("toPandas"),
                                      orig_topandas(self))[1])
    df = mk(spark, 0, 500)
    out = assign_doc_ids(df, buckets=16)
    ids = [r["doc_id"] for r in out.select("doc_id").collect()]
    calls.clear()  # only the test's own action above may collect
    out2 = assign_doc_ids(df, buckets=16)
    out2.count()
    assert calls == []
    assert sorted(ids) == list(range(500))
    # determinism across replans
    ids2 = [r["doc_id"] for r in out2.select("doc_id").collect()[:0]] or \
        [r["doc_id"] for r in assign_doc_ids(df, buckets=16)
         .select("doc_id").collect()]
    assert sorted(ids2) == list(range(500))


# ---------------------------------------------------------------------
# posLength through the filter-composed index (round-3 verdict task #3)
# ---------------------------------------------------------------------

def _word_cfg():
    # n larger than any block => whole-word tokens (the SynonymFilter
    # factory's default whitespace input, SynonymTokenFilterFactory
    # .java:45-52)
    return TokenizerConfig(n=1 << 20, expand=False)


def test_multiword_rule_phrase_truth_table(spark, tmp_path_factory):
    """SynonymFilter.java:472-526: a single-token output for an
    L-token match spans L positions. Indexed through
    build_index(token_filter=...), that span must drive phrase
    adjacency: query [in][usa][today] graph-matches a doc saying
    'in united states today' (usa covers positions 1..3), which a
    position-flattened index would miss (usa@1 but today@3)."""
    from synspark.query import count_matches, search
    from synspark.synfilter import synonym_token_filter

    syn_f = SynonymDict.parse("united states,usa")  # expand => keepOrig
    filt = synonym_token_filter(syn_f, entry_tokenizer=str.split)
    docs = spark.createDataFrame(
        [("r0", "f", "0", "t", "in united states today"),
         ("r1", "f", "1", "t", "in usa today"),
         ("r2", "f", "2", "t", "united states of america"),
         ("r3", "f", "3", "t", "states united today in"),
         ("r4", "f", "4", "t", "in united today")],
        "repo string, path string, commit string, lang string, "
        "content string")
    out = tmp_path_factory.mktemp("mw") / "index"
    st = build_index(spark, docs, str(out), cfg=_word_cfg(),
                     n_shards=2, source="mw", token_filter=filt)

    def hits(groups):
        return int(count_matches(spark, st, "", mode="and", phrase=True,
                                 groups=groups).collect()[0]["hits"])

    # Indexed streams (expand => keepOrig; classic M>L pushes extra
    # output words onto NEW positions — round-3 pinned semantics):
    #  r0 "in united states today": in@0 united@1 usa@1(pl2) states@2
    #      today@3
    #  r1 "in usa today":          in@0 usa@1(pl1) united@1 states@2
    #      today@3
    #  r2 "united states of america": united@0 usa@0(pl2) states@1
    #      of@2 america@3
    #  r4 "in united today":       in@0 united@1 today@2
    # The asymmetric query (raw words, no filter expansion) — the case
    # that REQUIRES index-side posLength: r0 matches ONLY through the
    # graph (usa spans [1,3), today starts at 3); a flattened index
    # (usa@1 ending at 2) matches NOTHING here.
    assert hits([["in"], ["usa"], ["today"]]) == 1
    # surface phrase: r0 via originals, AND r1 via its expansion chain
    # united@1/states@2/today@3 (the classic M>L artifact — parity)
    assert hits([["in"], ["united"], ["states"], ["today"]]) == 2
    # graph-only adjacency again: usa ends at 3 only in r0
    assert hits([["usa"], ["today"]]) == 1
    assert hits([["states"], ["in"]]) == 0  # never adjacent anywhere

    # filter-analyzed query side composes with the graph: groups
    # [in][usa|united][states][today] match r0 AND r1
    from synspark.synfilter import analyze_query_filtered
    g = analyze_query_filtered("in usa today", _word_cfg(), syn_f,
                               entry_tokenizer=str.split)
    assert g == [["in"], ["usa", "united"], ["states"], ["today"]]
    assert hits(g) == 2

    # ranked phrase search agrees: the [in][usa][today] hit IS r0
    dm = {r["repo"]: r["doc_id"] for r in st.docmap(spark).collect()}
    got = search(spark, st, "", k=10, mode="and", phrase=True,
                 groups=[["in"], ["usa"], ["today"]]).collect()
    assert [r["doc_id"] for r in got] == [dm["r0"]]

    # a sloppy phrase's move distance is undefined over tokens that
    # span several positions: match_phrase and query_string both
    # refuse it instead of guessing
    from synspark.query import match_ids
    from synspark.querystring import query_string
    with pytest.raises(Exception, match="slop is not supported on "
                                        "posLength"):
        match_ids(spark, st, "usa today", phrase=True, slop=1).collect()
    with pytest.raises(Exception, match="slop is not supported on "
                                        "posLength"):
        query_string(spark, st, '"usa today"~1').collect()

    # pl_bytes actually persisted (spans > 1 exist)
    segs = spark.read.parquet(str(out / "segments"))
    n_pl = segs.filter(F.col("pl_bytes").isNotNull()).count()
    assert n_pl > 0

    # CONTRAST: the same rules through a span-flattening filter (drop
    # pos_len) miss the graph-only match — proving pl_bytes is what
    # carries it
    flat = tmp_path_factory.mktemp("mwflat") / "index"
    def flat_filter(toks, _f=filt):
        return [t[:4] for t in _f(toks)]
    stf = build_index(spark, docs, str(flat), cfg=_word_cfg(),
                      n_shards=2, source="mwflat",
                      token_filter=flat_filter)
    n = int(count_matches(spark, stf, "", mode="and", phrase=True,
                          groups=[["in"], ["usa"], ["today"]])
            .collect()[0]["hits"])
    assert n == 0


def test_multiword_rule_append_and_batch(spark, tmp_path_factory):
    """Appends through the same filter keep spans; search_batch with
    phrase + groups_list sees them too."""
    from synspark.query import search_batch
    from synspark.synfilter import synonym_token_filter

    syn_f = SynonymDict.parse("united states,usa")
    filt = synonym_token_filter(syn_f, entry_tokenizer=str.split)
    base = spark.createDataFrame(
        [("r0", "f", "0", "t", "in united states today")],
        "repo string, path string, commit string, lang string, "
        "content string")
    extra = spark.createDataFrame(
        [("r9", "f", "9", "t", "now in united states today again")],
        "repo string, path string, commit string, lang string, "
        "content string")
    out = tmp_path_factory.mktemp("mwa") / "index"
    st = build_index(spark, base, str(out), cfg=_word_cfg(),
                     n_shards=1, source="mw", token_filter=filt)
    st = append_to_index(spark, st, extra, source="a", token_filter=filt)
    res = search_batch(spark, st, ["", ""], k=10, mode="and", phrase=True,
                       groups_list=[[["in"], ["usa"], ["today"]],
                                    [["usa"], ["today"], ["again"]]])
    by_q = {}
    for r in res.collect():
        by_q.setdefault(r["query_id"], []).append(r["doc_id"])
    assert sorted(by_q[0]) == [0, 1]
    assert by_q[1] == [1]


# ---------------------------------------------------------------------
# doc-range block skip for explain_score (round-3 verdict task #6)
# ---------------------------------------------------------------------

def test_decoded_postings_doc_filter_skips_blocks(spark,
                                                  tmp_path_factory):
    """With a doc filter, decoded_postings reads ~one block per term
    (the block whose [first_doc, last_doc] covers the doc), not the
    terms' full posting lists — and still returns exactly the rows the
    unfiltered scan would after filtering."""
    from synspark.query import _postings_blocks, decoded_postings

    out = tmp_path_factory.mktemp("dps") / "index"
    # 1 shard × 300 docs: frequent bigrams ("al" of alpha — 200 docs)
    # span >1 block (BLOCK_DOCS=128)
    st = build_index(spark, mk(spark, 0, 300), str(out), cfg=CFG,
                     n_shards=1, source="dps")
    terms = ["al", "lp", "ze"]
    all_blocks = _postings_blocks(spark, st, terms).count()
    one = _postings_blocks(spark, st, terms, doc_ids=[5]).count()
    assert one < all_blocks
    assert one <= len(terms)  # ≈ one covering block per term

    want = sorted(map(tuple,
                      decoded_postings(spark, st, terms)
                      .filter(F.col("doc_id") == 5).collect()))
    got = sorted(map(tuple,
                     decoded_postings(spark, st, terms, doc_ids=[5])
                     .collect()))
    assert got == want and got


def test_explain_score_still_sums(spark, tmp_path_factory):
    from synspark.query import explain_score, search
    out = tmp_path_factory.mktemp("exp") / "index"
    st = build_index(spark, mk(spark, 0, 120), str(out), cfg=CFG,
                     n_shards=2, source="exp")
    top = search(spark, st, "alpha beta", k=1, mode="and").collect()[0]
    rows = explain_score(spark, st, "alpha beta",
                         int(top["doc_id"])).collect()
    assert rows
    assert abs(sum(r["gscore"] for r in rows) - top["score"]) < 1e-12


# ---------------------------------------------------------------------
# multi-probe embedding near-dups (round-3 verdict task #4)
# ---------------------------------------------------------------------

def test_embedding_multiprobe_recovers_plane_crossing_pair(spark):
    """A near-identical pair split by exactly ONE hyperplane is missed
    at probes=1 (the documented single-probe recall trade) and
    recovered at probes=2 (the flipped-plane-0 neighbor bucket joins
    the candidate set). Non-crossing results are unchanged."""
    import numpy as np

    from synspark.datapipe.dedup import embedding_near_dups
    from synspark.datapipe.similarity import _hyperplanes

    dim, n_planes = 16, 4
    planes = _hyperplanes(dim, n_planes)
    u = planes[0] / np.linalg.norm(planes[0])
    rng = np.random.RandomState(7)
    w = rng.standard_normal(dim)
    w -= (w @ u) * u  # orthogonal to plane 0
    w /= np.linalg.norm(w)
    # w decisively on one side of every OTHER plane, so the eps nudge
    # below flips plane 0's sign and nothing else
    assert all(abs(w @ p) > 0.05 for p in planes[1:])
    eps = 1e-3
    va, vb = w + eps * u, w - eps * u
    rows = [(0, [float(x) for x in va]), (1, [float(x) for x in vb])]
    for i in range(2, 20):
        r = rng.standard_normal(dim)
        r /= np.linalg.norm(r)
        rows.append((i, [float(x) for x in r]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def pairs(probes):
        got = embedding_near_dups(df, dim, threshold=0.99,
                                  n_planes=n_planes, probes=probes)
        return {(r["a"], r["b"]) for r in got.collect()}

    assert (0, 1) not in pairs(1)   # split across plane 0: missed
    assert (0, 1) in pairs(2)       # probe the plane-0 flip: recovered
    # all-flips probing finds it too, and results stay deduped pairs
    p_all = pairs(n_planes + 1)
    assert (0, 1) in p_all


def test_dedup_uses_reliable_checkpoint_when_configured(spark, tmp_path):
    """round-3 advice: localCheckpoint blocks are lost with their
    executor; when the operator configures a reliable checkpoint dir
    (the cluster deployment mode) the dedup lineage-truncation points
    must use it — proven by the dir actually receiving rdd blocks —
    and produce identical results either way."""
    from synspark.datapipe.dedup import dedup_drop_list

    rows = [(i, f"some text body {i % 7} repeated words here")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    local = {tuple(r) for r in
             dedup_drop_list(df).collect()}
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    ck = tmp_path / "ckpt"
    sc.setCheckpointDir(str(ck))
    try:
        reliable = {tuple(r) for r in dedup_drop_list(df).collect()}
        assert reliable == local
        assert any(ck.rglob("*")), "reliable checkpoint dir unused"
    finally:
        # no public unset API; clear via the Scala setter so the
        # session-scoped fixture's later tests keep local mode
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None


def test_hadoopfs_delete_merge_lifecycle(spark, tmp_path_factory):
    """Round-4 surfaces through the Hadoop FileSystem shim bound to a
    file: URI — tombstone commit, query filtering, incremental merge
    (copy-on-write + dead shards), and the full purge compact all run
    on the FS abstraction the commit layer was ported to (the
    round-3 #1 port must hold for the new write paths too)."""
    from synspark.deletes import delete_docs, merge_shards
    from synspark.fs import HadoopFS
    from synspark.index_store import compact_index
    from synspark.query import count_matches, search

    local = tmp_path_factory.mktemp("hfs_del")
    base = f"file:{local}/index"
    fs = HadoopFS(spark, base)

    st = build_index(spark, mk(spark, 0, 80), base, cfg=CFG,
                     n_shards=4, source="hfs", fs=fs)
    from synspark.query import match_ids
    matched = {r.doc_id
               for r in match_ids(spark, st, "alpha beta").collect()}
    dead = set(range(0, 20)) | {70}
    expect = len(matched - dead)

    delete_docs(spark, st, doc_ids=sorted(dead))
    assert isinstance(st.fs, HadoopFS)
    assert st.meta().n_deleted == 21
    assert count_matches(spark, st, "alpha beta").collect()[0].hits \
        == expect
    assert not (st.path / "writer.lock").exists()

    merge_shards(spark, st, min_deleted_fraction=0.5)
    m = st.meta()
    assert m.n_purged == 20 and m.n_deleted == 1
    assert m.dead_shards == [0] and m.n_shards == 5
    assert count_matches(spark, st, "alpha beta").collect()[0].hits \
        == expect
    hits = search(spark, st, "alpha beta", k=10).collect()
    assert hits and not {r.doc_id for r in hits} & dead

    dst = compact_index(spark, st, f"file:{local}/purged")
    assert dst.meta().n_docs == 80 - 21
    assert count_matches(spark, dst, "alpha beta").collect()[0].hits \
        == expect
