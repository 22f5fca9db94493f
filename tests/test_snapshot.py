"""Snapshot/restore (the ES ``_snapshot`` repository surface):
point-in-time, incremental, commit-consistent, isolated from later
writes to the source.

Truth anchors (public ES/Lucene snapshot semantics):
- a snapshot is a consistent commit point: restoring it answers
  queries exactly like the source did AT SNAPSHOT TIME;
- snapshots are incremental — unchanged immutable files are skipped
  on re-snapshot;
- snapshot metadata is written last, so a torn snapshot is invisible
  (cannot be opened), never half-valid;
- later deletes/appends on the source do NOT leak into an existing
  snapshot.
"""

import pytest

from synspark.deletes import delete_docs
from synspark.index_store import append_to_index, build_index
from synspark.query import search
from synspark.snapshot import restore, snapshot
from synspark.tokenizer import TokenizerConfig

CFG = TokenizerConfig(n=2, expand=False, ignore_case=True)
QUERY = "data sort"


def _corpus(spark, lo, hi):
    rows = [(f"r{i:03d}", "f", "c",
             "data sort merge " + "filler words " * (i % 4))
            for i in range(lo, hi)]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, content string")


def _topk(spark, store, k=10):
    return [(r.doc_id, round(r.score, 6)) for r in
            search(spark, store, QUERY, k=k).collect()]


def test_snapshot_restore_identical_and_incremental(spark, tmp_path):
    store = build_index(spark, _corpus(spark, 0, 60),
                        str(tmp_path / "idx"), cfg=CFG, n_shards=4,
                        resume=False)
    s1 = snapshot(store, str(tmp_path / "snap"))
    assert s1["files_copied"] > 0 and s1["files_skipped"] == 0
    # re-snapshot of an unchanged index copies nothing
    s2 = snapshot(store, str(tmp_path / "snap"))
    assert s2["files_copied"] == 0
    assert s2["files_skipped"] == s1["files_copied"]
    # a file the source does not hold (another store's leftovers in a
    # reused destination) is removed, not read as this commit's data
    import shutil
    shard0 = tmp_path / "snap" / "segments" / "shard=0"
    seg = next(shard0.glob("*.parquet"))
    shutil.copy(seg, shard0 / "part-stale.parquet")
    snapshot(store, str(tmp_path / "snap"))
    assert not (shard0 / "part-stale.parquet").exists()
    rst = restore(str(tmp_path / "snap"), str(tmp_path / "restored"))
    assert _topk(spark, rst) == _topk(spark, store)
    # zero-copy restore: opening the snapshot dir directly
    from synspark.index_store import IndexStore
    ro = IndexStore(str(tmp_path / "snap"))
    assert _topk(spark, ro) == _topk(spark, store)


def test_snapshot_isolated_from_later_deletes(spark, tmp_path):
    store = build_index(spark, _corpus(spark, 0, 40),
                        str(tmp_path / "idx"), cfg=CFG, n_shards=2,
                        resume=False)
    before = _topk(spark, store)
    snapshot(store, str(tmp_path / "snap"))
    # mutate the SOURCE: tombstone the top hit
    delete_docs(spark, store, doc_ids=[before[0][0]])
    after = _topk(spark, store)
    assert after != before
    rst = restore(str(tmp_path / "snap"), str(tmp_path / "restored"))
    assert _topk(spark, rst) == before
    # incremental re-snapshot AFTER the delete picks up the delta
    snapshot(store, str(tmp_path / "snap2"))
    from synspark.index_store import IndexStore
    assert _topk(spark, IndexStore(str(tmp_path / "snap2"))) == after


def test_snapshot_captures_appends_incrementally(spark, tmp_path):
    store = build_index(spark, _corpus(spark, 0, 30),
                        str(tmp_path / "idx"), cfg=CFG, n_shards=2,
                        resume=False)
    s1 = snapshot(store, str(tmp_path / "snap"))
    append_to_index(spark, store, _corpus(spark, 30, 50))
    s2 = snapshot(store, str(tmp_path / "snap"))
    # only the append's new immutable files copy; the originals skip
    assert s2["files_copied"] > 0
    assert s2["files_skipped"] >= s1["files_copied"]
    rst = restore(str(tmp_path / "snap"), str(tmp_path / "restored"))
    assert _topk(spark, rst, k=100) == _topk(spark, store, k=100)


def test_torn_snapshot_is_invisible(spark, tmp_path):
    store = build_index(spark, _corpus(spark, 0, 20),
                        str(tmp_path / "idx"), cfg=CFG, n_shards=2,
                        resume=False)
    snapshot(store, str(tmp_path / "snap"))
    # simulate a crash before the metadata-last write
    (tmp_path / "snap" / "meta.json").unlink()
    from synspark.index_store import IndexStore
    with pytest.raises(Exception):
        IndexStore(str(tmp_path / "snap")).meta()
    with pytest.raises(Exception):
        restore(str(tmp_path / "snap"), str(tmp_path / "r2"))
