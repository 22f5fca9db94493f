"""Document deletes and updates — the Lucene liveDocs two-phase model.

The reference delegates its index to Lucene/ES, where deletion is
two-phase (public Lucene behavior, not ported code):

1. ``IndexWriter.deleteDocuments`` only marks docs in a liveDocs
   bitmap. Postings, stored fields, and — crucially — ALL collection
   statistics keep the deleted docs: ``docFreq``/``maxDoc`` (and
   therefore BM25 idf and avgdl) ignore deletions until a merge.
   Search results and total-hit counts exclude marked docs.
2. A segment MERGE applies the bitmap: deleted docs drop out of every
   posting list, ids renumber densely, and stats thereafter reflect
   live docs only.

This module reproduces both phases over the parquet store:

- ``delete_docs`` writes tombstoned ``doc_id``s to a new
  ``deletes/batch=del-K`` partition and commits them through the one
  atomic ``meta.json`` write (``delete_batches``/``n_deleted``).
  Each tombstone is routed to its shard once, at commit, by a
  broadcast range join against the manifest's shard ledger
  (``deletes_routed/``); query paths hand each shard worker its
  tombstones as a broadcast map, or by cogroup when the set is large.
- ``upsert_docs`` is ES's index-by-key: resolve the keys' current
  doc_ids against the COMMITTED docmap, append the new versions, and
  tombstone the old ids in the SAME meta commit (a crash anywhere
  leaves the old versions fully live — atomic like
  ``IndexWriter.updateDocument``).
- ``purge_merge`` is the merge that applies tombstones:
  decode -> drop deleted -> renumber densely -> re-encode, per new
  shard inside one Arrow-batched worker (the same memory shape as the
  build encoder), with docmap/docstats/termstats/meta recomputed over
  live docs. A purged index is equivalent to a fresh build over the
  live corpus (pinned by tests).

Reference behavior anchors: the plugin itself never deletes (it is an
analyzer), but its host engine does; the semantics above are Lucene's
documented liveDocs model, which SynonymPluginTest exercises whenever
it re-indexes documents (delete-by-reindex between assertions).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import asdict

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .codec import decode_selected, encode_sorted_batch
from .index_store import (FORMAT_VERSION, INITIAL_BATCH, IndexMeta,
                          IndexStore, _run_concurrent, _shard_entries,
                          append_to_index)


# --------------------------------------------------------------------
# tombstone write path (phase 1)
# --------------------------------------------------------------------

def _normalize_ids(spark: SparkSession, store: IndexStore,
                   doc_ids, keys: DataFrame | None,
                   key_cols: list[str] | None) -> DataFrame:
    """doc_ids (DataFrame | list of ints) or keys (DataFrame joined to
    the docmap) -> a (doc_id) DataFrame."""
    if (doc_ids is None) == (keys is None):
        raise ValueError("pass exactly one of doc_ids / keys")
    if keys is not None:
        kc = key_cols or [c for c in ("repo", "path", "commit")
                          if c in keys.columns]
        if not kc:
            raise ValueError("keys frame has no key columns "
                             "(repo/path/commit)")
        return (store.docmap(spark)
                .join(keys.select(*kc).distinct(), kc)
                .select("doc_id"))
    if isinstance(doc_ids, DataFrame):
        return doc_ids.select("doc_id")
    return spark.createDataFrame([(int(d),) for d in doc_ids],
                                 "doc_id long")


def _write_tombstones(spark: SparkSession, store: IndexStore,
                      meta: IndexMeta, ids: DataFrame,
                      id_bound: int) -> tuple[str | None, int]:
    """Stage new tombstones into the next ``deletes/batch=del-K``
    partition (NOT yet committed — the caller's meta write publishes
    them). Dedupes against committed tombstones and bounds ids to
    ``[0, id_bound)`` so ``n_deleted`` stays exact. Returns
    (partition name | None if nothing new, newly-deleted count)."""
    part = f"del-{len(meta.delete_batches)}"
    # position-derived name: a crashed prior attempt at this position
    # left the same partition — clear it (uncommitted by definition
    # under the single-writer contract, same protocol as appends)
    for root in ("deletes", "deletes_routed"):
        leftover = store.path / root / f"batch={part}"
        if leftover.exists():
            leftover.rmtree()
    new = ids.filter((F.col("doc_id") >= 0)
                     & (F.col("doc_id") < id_bound)).distinct()
    if meta.delete_batches:
        new = new.join(store.deletes(spark), "doc_id", "left_anti")
    if meta.purged_batches:
        # an id already purged by merge_shards is still resolvable via
        # the stale docmap; tombstoning it again would be inert (masks
        # nothing) yet would inflate n_deleted and skew purge-merge
        # live accounting — drop it at entry
        new = new.join(store.purged(spark), "doc_id", "left_anti")
    new = new.persist()
    n_new = new.count()
    if n_new == 0:
        new.unpersist()
        return None, 0
    (new.withColumn("batch", F.lit(part))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch").parquet(str(store.path / "deletes")))
    # routed mirror: assign each tombstone its doc-range shard NOW
    # (one broadcast range join per delete commit) so queries read
    # (shard, doc_id) straight off parquet instead of re-routing per
    # query. Same staging protocol — visible only through the caller's
    # meta commit listing `part` in routed_batches. Ranges come from
    # the ledger of the COMMITTED meta's live shards, which is exactly
    # the id space the bound restricted `new` to.
    ranges = store.shard_doc_ranges(spark)
    (new.join(F.broadcast(ranges),
              (F.col("doc_id") >= F.col("lo"))
              & (F.col("doc_id") <= F.col("hi")))
     .select("shard", "doc_id")
     .withColumn("batch", F.lit(part))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch").parquet(str(store.path / "deletes_routed")))
    new.unpersist()
    return part, n_new


def delete_docs(spark: SparkSession, store: IndexStore,
                doc_ids=None, keys: DataFrame | None = None,
                key_cols: list[str] | None = None,
                batch_tag: str | None = None,
                source: str = "<delete>",
                auto_merge_fraction: float | None = None) -> IndexStore:
    """Phase-1 delete: tombstone documents by ``doc_ids`` (DataFrame
    with a ``doc_id`` column, or a list of ints) or by ``keys`` (a
    DataFrame of repo/path/commit key columns, resolved against the
    docmap). Idempotent per ``batch_tag`` like appends; single-writer
    locked; committed atomically via the one meta.json write.
    ``auto_merge_fraction`` runs the TieredMergePolicy analogue after
    the commit (``auto_merge``) so bulk deletes self-purge.

    Semantics after this call (Lucene liveDocs, phase 1):
    - search / count / batch results exclude the deleted docs;
    - every OTHER doc's BM25 score is UNCHANGED (df, N, avgdl still
      count deleted docs — Lucene keeps stats until merge);
    - ``compact_index`` later purges them physically and recomputes
      stats (phase 2, ``purge_merge``).

    Note on ``keys`` after an incremental merge: the docmap retains
    rows for merged-away docs until the next full compact (their
    stored-fields analogue also survives Lucene's partial merges), so
    a key lookup may tombstone an id whose postings are already gone.
    Such tombstones are inert (they mask nothing) and are reconciled
    — dropped without counting — by the next merge of their range.
    """
    store.acquire_writer_lock(owner=source)
    try:
        store = _delete_locked(spark, store, doc_ids, keys, key_cols,
                               batch_tag, source)
    finally:
        store.release_writer_lock()
    if auto_merge_fraction is not None:
        # post-commit policy run (same contract as upsert_docs): the
        # delete is durable; a crash here only defers the merge
        store = auto_merge(spark, store,
                           min_deleted_fraction=auto_merge_fraction,
                           source=f"{source}:auto-merge")
    return store


def _delete_locked(spark, store, doc_ids, keys, key_cols, batch_tag,
                   source) -> IndexStore:
    meta = store.meta()
    if batch_tag is not None and \
            meta.batches.get(batch_tag, {}).get("status") == "done":
        return store  # replayed delete batch: already committed
    ids = _normalize_ids(spark, store, doc_ids, keys, key_cols)
    part, n_new = _write_tombstones(spark, store, meta, ids,
                                    meta.n_docs)
    batches = dict(meta.batches)
    if part is None:
        if batch_tag is None:
            return store
        # nothing newly deleted: commit only the idempotence record
        batches[batch_tag] = {"status": "done", "kind": "delete",
                              "n_deleted": 0, "partition": None}
        store._write_meta(IndexMeta(
            **{**asdict(meta), "batches": batches,
               "created_utc": time.time()}))
        return store
    batches[batch_tag or part] = {
        "status": "done", "kind": "delete", "n_deleted": n_new,
        "partition": part}
    store._write_meta(IndexMeta(
        **{**asdict(meta), "batches": batches,
           "delete_batches": meta.delete_batches + [part],
           "routed_batches": meta.routed_batches + [part],
           "n_deleted": meta.n_deleted + n_new,
           "created_utc": time.time()}))
    return store


def delete_by_query(spark: SparkSession, store: IndexStore, text: str,
                    mode: str = "and", phrase: bool = False,
                    syn=None, cfg=None,
                    groups: list[list[str]] | None = None,
                    batch_tag: str | None = None,
                    source: str = "<delete-by-query>",
                    auto_merge_fraction: float | None = None
                    ) -> IndexStore:
    """ES ``_delete_by_query``: tombstone every live doc matching the
    query (boolean AND/OR or phrase, same analysis as ``search``).
    The victim set is resolved distributively (``query.match_ids`` —
    per-shard vectorized set algebra, ids never touch the driver) and
    committed like any delete: atomic, idempotent per ``batch_tag``,
    stats untouched until the purge merge."""
    from .query import match_ids
    ids = match_ids(spark, store, text, mode=mode, phrase=phrase,
                    syn=syn, cfg=cfg, groups=groups)
    return delete_docs(spark, store, doc_ids=ids, batch_tag=batch_tag,
                       source=source,
                       auto_merge_fraction=auto_merge_fraction)


def upsert_docs(spark: SparkSession, store: IndexStore,
                new_docs: DataFrame,
                syn=None, key_cols: list[str] | None = None,
                token_filter=None, batch_tag: str | None = None,
                source: str = "<upsert>",
                allow_dict_change: bool = False,
                auto_merge_fraction: float | None = None) -> IndexStore:
    """ES index-by-key / ``IndexWriter.updateDocument``: each incoming
    document REPLACES the current version under its key (default key:
    the (repo, path) columns present — a new commit of the same file),
    or inserts if the key is new.

    Atomicity: the old versions' doc_ids are resolved against the
    COMMITTED docmap (the resolution plan bakes in the pre-append
    partition list, so it cannot see the new versions), then
    ``append_to_index`` writes the new docs AND the tombstones and
    publishes both in its single meta commit — a crash anywhere leaves
    the old versions fully live, a ``batch_tag`` replay no-ops.
    """
    key_cols = key_cols or [c for c in ("repo", "path")
                            if c in new_docs.columns]
    if not key_cols:
        raise ValueError("upsert needs key columns (repo/path) on "
                         "new_docs")
    # new versions always get fresh engine-assigned ids (Lucene
    # updateDocument: the replacement is a NEW docID); a native id on
    # the update batch would be the OLD id and would collide after the
    # append's offset shift
    new_docs = new_docs.drop("doc_id")
    # two rows sharing a key within ONE batch have no defined order in
    # a DataFrame, so "last write wins" (ES _bulk / updateDocument) is
    # unimplementable deterministically — both would stay live. Fail
    # fast instead of silently diverging from the docstring's contract.
    dup = (new_docs.groupBy(*key_cols).agg(F.count("*").alias("n"))
           .filter(F.col("n") > 1).limit(1).collect())
    if dup:
        kv = ", ".join(f"{c}={dup[0][c]!r}" for c in key_cols)
        raise ValueError(
            f"upsert batch has multiple rows for key ({kv}); a "
            "DataFrame has no row order, so last-write-wins is "
            "undefined — dedupe new_docs to one row per key first")
    old_ids = (store.docmap(spark)
               .join(new_docs.select(*key_cols).distinct(), key_cols)
               .select("doc_id")
               .join(store.deletes(spark), "doc_id", "left_anti"))
    store = append_to_index(spark, store, new_docs, syn=syn,
                            source=source, batch_tag=batch_tag,
                            token_filter=token_filter,
                            allow_dict_change=allow_dict_change,
                            tombstone_ids=old_ids)
    if auto_merge_fraction is not None:
        # post-commit policy run: the upsert is already durable, so a
        # crash here only defers the merge (auto_merge's gate picks it
        # up on the next call)
        store = auto_merge(spark, store,
                           min_deleted_fraction=auto_merge_fraction,
                           source=f"{source}:auto-merge")
    return store


# --------------------------------------------------------------------
# incremental merge: per-shard purge, Lucene's actual merge model
# --------------------------------------------------------------------

def merge_shards(spark: SparkSession, store: IndexStore,
                 shards: list[int] | None = None,
                 min_deleted_fraction: float = 0.1,
                 source: str = "<merge>") -> IndexStore:
    """Incrementally apply tombstones to SELECTED shards only — the
    Lucene per-segment merge. A 100 TB index cannot rewrite itself to
    purge 0.1% of its docs; Lucene merges individual segments whose
    deleted fraction crosses a policy threshold, and this is that
    operation for the doc-range shards:

    - selection: ``shards`` explicitly, or every shard whose deleted
      fraction >= ``min_deleted_fraction``;
    - each selected shard's live postings re-encode COPY-ON-WRITE into
      a NEW shard id appended past the current range, doc ids
      unchanged (other shards aren't touched, so ids must stay
      stable); the originals join ``meta.dead_shards`` — readers skip
      them, disk space is reclaimed at the next ``compact_index``
      (Lucene keeps replaced segment files until the deleter runs);
    - stats adjust by DELTA, never by re-aggregation: one signed
      aggregation over (old ∪ new) selected shards appends a
      negative/positive termstats delta partition (df/cf are additive
      — the same merge-on-read that makes appends O(batch)), and
      total_dl drops by the purged docs' lengths;
    - scoring follows Lucene exactly: merged-away docs leave docFreq
      and maxDoc (``n_purged`` joins the scoring N), remaining
      tombstones in unmerged shards keep counting until their turn;
    - the single meta.json write publishes the swap atomically:
      new shards + dead list + stats delta + rewritten remaining
      tombstones. A crash anywhere leaves the old state fully live;
      leftovers above the committed shard count are cleared by the
      next writer (same protocol as appends).

    Returns the same store. docmap/docstats keep stale rows for
    merged-away docs until ``compact_index`` (their stored-fields
    analogue also survives until Lucene's full merge); every reader
    that matters sources doc existence from the postings.

    Policy guidance (measured at 10M docs, BENCH/BASELINE.md): live
    tombstones cost queries a per-query cogroup exchange (routing
    itself is amortized to delete-commit time since v8, but the
    tombstones still ship to the shard workers every query — unlike
    Lucene's resident liveDocs bitmaps). Merge when a shard's deleted
    fraction crosses ~10%, or when total tombstones reach the order
    of one shard's doc count. ``auto_merge`` runs exactly this policy
    after each commit; upsert/streaming callers should prefer it over
    hand-scheduling.
    """
    store.acquire_writer_lock(owner=source)
    try:
        return _merge_locked(spark, store, shards, min_deleted_fraction,
                             source)
    finally:
        store.release_writer_lock()


def auto_merge(spark: SparkSession, store: IndexStore,
               min_deleted_fraction: float = 0.1,
               source: str = "<auto-merge>") -> IndexStore:
    """Self-executing merge policy (Lucene TieredMergePolicy's
    deletes-percentage trigger): call after any commit that may have
    added tombstones and the index keeps its live-tombstone count
    bounded without operator action — the thing the merge_shards
    docstring used to ask the operator to do by hand.

    Two-level check, exactly the documented policy:

    1. meta-only gate (zero Spark jobs, safe to run per micro-batch):
       skip unless total tombstones could possibly push SOME shard
       over ``min_deleted_fraction`` — i.e. unless
       ``n_deleted >= min_deleted_fraction * avg live docs/shard``.
       Doc-range shards are sized uniformly by construction
       (docs_per_shard), so the average is a faithful per-shard
       proxy; the gate is also the policy's second clause ("merge
       when total tombstones reach the order of one shard's worth").
    2. ``merge_shards``'s exact per-shard selection (its own counting
       jobs) merges every shard whose actual deleted fraction crosses
       the threshold; shards below it keep their tombstones until
       their turn — Lucene semantics, so live tombstones stay bounded
       by ~min_deleted_fraction of the corpus in the worst
       perfectly-spread case and by one shard's worth in the typical
       clustered-churn case.

    Crash-safe by composition: the gate reads committed meta only and
    merge_shards is atomic, so a crash between an upsert's commit and
    its auto-merge just defers the merge to the next call."""
    meta = store.meta()
    if not meta.delete_batches or meta.n_deleted == 0:
        return store
    live_shards = max(1, meta.n_shards - len(meta.dead_shards))
    per_shard = max(1.0, (meta.n_docs - meta.n_purged) / live_shards)
    if meta.n_deleted < min_deleted_fraction * per_shard:
        return store
    return merge_shards(spark, store,
                        min_deleted_fraction=min_deleted_fraction,
                        source=source)


def _merge_locked(spark, store, shards, min_frac, source) -> IndexStore:
    from .index_store import _clear_uncommitted
    from .indexer import DOCSTATS_TERM, SEGMENT_SCHEMA

    meta = store.meta()
    if not meta.delete_batches:
        return store  # no tombstones anywhere
    dels = store.deletes_routed(spark)
    counts = {s: n for s, (_lo, _hi, n) in store.ledger(meta).items()}
    delc = {int(r["shard"]): int(r["n"]) for r in
            dels.groupBy("shard").agg(F.count("*").alias("n")).collect()}
    if shards is None:
        cand = sorted(s for s, nd in counts.items()
                      if delc.get(s, 0) > 0
                      and delc[s] / max(nd, 1) >= min_frac)
    else:
        cand = sorted(set(shards) & set(counts))
    cand = [s for s in cand if delc.get(s, 0) > 0]
    if not cand:
        return store

    old_shards = meta.n_shards
    # clear any crashed prior attempt's shard dirs above the committed
    # count (uncommitted by definition under the single-writer lock)
    _clear_uncommitted(store, old_shards, f"at-{meta.n_docs}")

    new_ids = {old: old_shards + i for i, old in enumerate(cand)}
    new_total = old_shards + len(cand)

    def _map_df():
        # new_start = -1: keep original doc ids (see _purge_shard)
        return spark.createDataFrame(
            [(o, n, -1) for o, n in new_ids.items()],
            "shard int, new_shard int, new_start long")

    segs = (store.segments(spark).filter(F.col("shard").isin(cand))
            .join(F.broadcast(_map_df()), "shard").drop("shard"))
    dels_m = (dels.filter(F.col("shard").isin(cand))
              .join(F.broadcast(_map_df()), "shard")
              .select("new_shard", "doc_id"))

    def run(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        return _purge_shard(left, right)

    seg_dir = str(store.path / "segments")
    from .query import _fanout
    (_fanout(segs, "new_shard").groupBy("new_shard")
     .cogroup(_fanout(dels_m, "new_shard").groupBy("new_shard"))
     .applyInPandas(run, schema=SEGMENT_SCHEMA)
     .repartition(len(cand), "shard")
     .sortWithinPartitions("term", "salt", "first_doc")
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("shard").parquet(seg_dir))

    # signed termstats delta over (replaced ∪ replacement) shards: one
    # partition-pruned aggregation, additive with every other batch
    sign = F.when(F.col("shard") >= old_shards, F.lit(1)) \
        .otherwise(F.lit(-1))
    delta_part = f"merge-at-{old_shards}"
    touched = cand + sorted(new_ids.values())
    (spark.read.parquet(seg_dir)
     .filter(F.col("shard").isin(touched))
     .filter(F.col("term") != DOCSTATS_TERM)
     .groupBy("term")
     .agg(F.sum(F.col("n_docs") * sign).cast("long").alias("df"),
          F.sum(F.col("sum_tf") * sign).cast("long").alias("cf"))
     .filter((F.col("df") != 0) | (F.col("cf") != 0))
     .withColumn("batch", F.lit(delta_part))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch").parquet(str(store.path / "termstats")))

    # purged tombstones' dl (for total_dl) — tombstones of the merged
    # shards joined to the OLD shards' pseudo-row stats (small join,
    # bounded by the tombstone count)
    from .indexer import decode_docstats_rows
    old_stats = decode_docstats_rows(
        spark.read.parquet(seg_dir)
        .filter(F.col("shard").isin(cand))
        .filter(F.col("term") == DOCSTATS_TERM))
    purged = dels.filter(F.col("shard").isin(cand)).select("doc_id") \
        .join(old_stats, "doc_id")
    purged = purged.persist()
    row = purged.agg(F.count("*").alias("n"),
                     F.sum("dl").alias("dl")).collect()[0]
    n_purged_now, dl_purged = int(row["n"]), int(row["dl"] or 0)

    # record the ACTUALLY-applied tombstones (dels ∩ old postings) so
    # later key-deletes/upserts resolving these ids off the stale
    # docmap are rejected at _write_tombstones instead of becoming
    # inert tombstones. Crash protocol as everywhere: deterministic
    # name, cleared if a prior attempt left it, visible only through
    # the meta commit below.
    pg_part = f"pg-{delta_part}"
    if n_purged_now:
        leftover_pg = store.path / "purged" / f"batch={pg_part}"
        if leftover_pg.exists():
            leftover_pg.rmtree()
        (purged.select("doc_id").withColumn("batch", F.lit(pg_part))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch").parquet(str(store.path / "purged")))
    purged.unpersist()

    # remaining tombstones (unmerged shards) rewrite into one fresh
    # partition; the old delete partitions become unreferenced on commit
    remaining = dels.filter(~F.col("shard").isin(cand)) \
        .select("shard", "doc_id")
    rem_part = f"del-{delta_part}"
    for root in ("deletes", "deletes_routed"):
        leftover = store.path / root / f"batch={rem_part}"
        if leftover.exists():
            leftover.rmtree()
    remaining = remaining.persist()
    n_remaining = remaining.count()
    if n_remaining:
        (remaining.select("doc_id").withColumn("batch", F.lit(rem_part))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch").parquet(str(store.path / "deletes")))
        # routed mirror rides along: `dels` is already (shard, doc_id)
        # and the surviving shards are exactly the unmerged ones, so
        # no re-routing is needed
        (remaining.withColumn("batch", F.lit(rem_part))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch")
         .parquet(str(store.path / "deletes_routed")))
    remaining.unpersist()

    # manifest entries for the replacement shards (invisible until the
    # meta commit raises n_shards)
    build_id = uuid.uuid4().hex
    manifest = store.manifest()
    manifest["shards"].update(_shard_entries(
        spark.read.parquet(seg_dir), new_ids.values(), build_id))
    store._write_manifest(manifest)

    total_dl = meta.total_dl - dl_purged
    # avgdl denominator: docs still physically present (tombstoned-but-
    # unmerged docs keep counting — their dl is still in total_dl);
    # only purged docs leave, exactly as they leave N
    n_for_avg = meta.n_docs - meta.n_purged - n_purged_now
    store._write_meta(IndexMeta(
        **{**asdict(meta),
           "build_id": build_id,
           "n_shards": new_total,
           "avgdl": (total_dl / n_for_avg) if (n_for_avg and total_dl)
           else 1.0,
           "total_dl": total_dl,
           "stats_batches": meta.stats_batches + [delta_part],
           "delete_batches": [rem_part] if n_remaining else [],
           "routed_batches": [rem_part] if n_remaining else [],
           "n_deleted": n_remaining,
           "dead_shards": sorted(set(meta.dead_shards) | set(cand)),
           "n_purged": meta.n_purged + n_purged_now,
           "purged_batches": meta.purged_batches
           + ([pg_part] if n_purged_now else []),
           "source": f"{meta.source} + {source}",
           "created_utc": time.time()}))
    # mark the originals dead only after the commit: a crash before it
    # leaves them live in meta AND in the manifest, so a retry still
    # finds them in the ledger
    for old in cand:
        manifest["shards"][str(old)]["status"] = "dead"
    store._write_manifest(manifest)
    return store


# --------------------------------------------------------------------
# purge merge (phase 2) — applied by compact_index when tombstones exist
# --------------------------------------------------------------------

def _purge_shard(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
    """Re-encode one NEW shard dropping tombstoned docs and renumbering
    ids densely. ``left``: the shard's segment rows (plus ``new_shard``
    / ``new_start``); ``right``: its tombstones. One vectorized
    ``encode_sorted_batch`` call re-blocks everything — the same code
    path (and memory bound) as the map-only build encoder."""
    from .indexer import _SEG_COLS, DOCSTATS_TERM, docstats_rows

    empty = pd.DataFrame({c: pd.Series([], dtype=t) for c, t in zip(
        _SEG_COLS, ["object", "int32", "int32", "int32", "int64",
                    "int64", "int32", "int32", "int64", "int32",
                    "object", "object", "object", "object", "object",
                    "object"])})
    if len(left) == 0:
        return empty
    new_shard = int(left["new_shard"].iat[0])
    # new_start >= 0: renumber survivors densely from it (full purge
    # merge). new_start == -1: KEEP original doc ids (incremental
    # merge_shards — other shards aren't rewritten, so ids must stay
    # stable across the index).
    new_start = int(left["new_start"].iat[0])
    deleted = np.sort(right["doc_id"].to_numpy().astype(np.int64)) \
        if len(right) else np.zeros(0, np.int64)

    is_pseudo = (left["term"] == DOCSTATS_TERM).to_numpy()
    real = left[~is_pseudo] \
        .sort_values(["term", "salt", "first_doc"], kind="stable")

    # all (doc, dl) of the shard from the pseudo rows -> survivors
    ps = decode_selected(left, np.flatnonzero(is_pseudo), ("doc", "dl"))
    all_ids, all_dls = ps["doc"], ps["dl"]
    o = np.argsort(all_ids)
    all_ids, all_dls = all_ids[o], all_dls[o]
    live_mask = ~np.isin(all_ids, deleted)
    survivors = all_ids[live_mask]
    if len(survivors) == 0:
        return empty
    renumber = new_start >= 0
    new_ids_shard = (new_start + np.arange(len(survivors), dtype=np.int64)
                     ) if renumber else survivors

    out_frames = [docstats_rows(new_ids_shard, all_dls[live_mask],
                                new_shard)]

    # decode every real block -> occurrence-level arrays (tf-wise
    # expanded even without positions, so encode_sorted_batch recovers
    # tf from run lengths), masked + renumbered
    has_pos = bool(real["pos_bytes"].notna().any())
    has_pl = "pl_bytes" in real.columns \
        and bool(real["pl_bytes"].notna().any())
    dec = decode_selected(real, np.arange(len(real)), ("doc", "tf", "dl")
                          + ("pos",) * has_pos + ("pl",) * has_pl)
    tf = dec["tf"]
    # one group id per (term, salt) run of rows
    terms, salts = real["term"].to_numpy(), real["salt"].to_numpy()
    chg = np.ones(len(real), dtype=bool)
    chg[1:] = (terms[1:] != terms[:-1]) | (salts[1:] != salts[:-1])
    occ = np.repeat(~np.isin(dec["doc"], deleted), tf)
    if not occ.any():
        return pd.concat(out_frames, ignore_index=True)
    doc = np.repeat(dec["doc"], tf)[occ]
    dl_tok = np.repeat(dec["dl"], tf)[occ]
    gid = np.repeat(np.repeat(np.cumsum(chg) - 1, dec["n"]), tf)[occ]
    pos = dec["pos"][occ] if has_pos else None
    plen = dec["plen"][occ] if has_pl else None
    # renumber (monotone within the shard -> sort order preserved)
    if renumber:
        doc = new_start + np.searchsorted(survivors, doc).astype(np.int64)
    grp_change = np.empty(len(doc), dtype=bool)
    grp_change[0] = True
    grp_change[1:] = gid[1:] != gid[:-1]

    enc = encode_sorted_batch(grp_change, doc, pos, dl_tok, plen=plen)
    tok_idx = enc.pop("doc_start_tok")
    nb = len(tok_idx)
    blk_gid = gid[tok_idx]
    out_frames.append(pd.DataFrame({
        "term": terms[chg][blk_gid],
        "shard": np.full(nb, new_shard, dtype=np.int32),
        "salt": salts[chg][blk_gid].astype(np.int32),
        **enc,
    }, columns=_SEG_COLS))
    return pd.concat(out_frames, ignore_index=True)


def purge_merge(spark: SparkSession, store: IndexStore, out_dir: str,
                docs_per_shard: int | None = None) -> IndexStore:
    """Phase-2 merge applying the tombstones (Lucene merge + liveDocs):
    writes a complete NEW index at ``out_dir`` containing only live
    docs, ids renumbered densely in id order, shards re-coalesced to
    ``docs_per_shard``, and ALL stats (df/cf, dl, avgdl, N) recomputed
    over live docs. Equivalent to a fresh ``build_index`` over the
    live corpus (test-pinned). The old index is untouched (crash-safe,
    like ``compact_index``)."""
    from .indexer import DOCSTATS_TERM, SEGMENT_SCHEMA, decode_docstats_rows

    meta = store.meta()
    if not meta.delete_batches:
        raise ValueError("no tombstones to purge — use compact_index")
    dels = store.deletes_routed(spark)

    # per-shard live counts from ACTUAL survivors — decoded pseudo-row
    # doc_ids anti-joined with the tombstones, never "row count minus
    # tombstone count": an inert tombstone (id already purged by
    # merge_shards, reachable via key-delete/upsert against the stale
    # docmap) is in the deletes table but matches no posting, so the
    # subtraction would under-count live docs and the dense-renumber
    # offsets would overlap across new shards (silent corruption; see
    # test_purge_after_inert_tombstones). Shards are ordered by DOC
    # RANGE, not id: incremental merge_shards leaves replacement
    # shards at high ids covering mid-range docs, and the dense
    # renumbering below requires range-ascending traversal (the
    # ledger's lo).
    ledger = store.ledger(meta)
    surv = (decode_docstats_rows(
        store.segments(spark).filter(F.col("term") == DOCSTATS_TERM),
        keep_shard=True)
        .join(store.deletes(spark), "doc_id", "left_anti"))
    live = {s: 0 for s in ledger}
    for r in surv.groupBy("shard").agg(F.count("*").alias("nl")).collect():
        live[int(r["shard"])] = int(r["nl"])
    n_live = sum(live.values())
    per = docs_per_shard or max(1, -(-n_live // max(1, min(
        len(ledger), 8))))
    range_order = sorted(ledger, key=lambda s: ledger[s][0])
    mapping = []           # (old_shard, new_shard)
    new_id, acc = 0, 0
    for old in range_order:
        if acc >= per:
            new_id += 1
            acc = 0
        mapping.append((old, new_id))
        acc += live[old]
    n_new = new_id + 1
    # dense id offsets: per NEW shard, and per OLD shard (docmap path)
    new_start: dict[int, int] = {}
    old_off: dict[int, int] = {}
    running = 0
    for old, nw in mapping:            # mapping is in range order
        new_start.setdefault(nw, running)
        old_off[old] = running
        running += live[old]
    def _map_df():
        # fresh frame per consumer (joining the same tiny frame into
        # two sides of the cogroup trips the ambiguous-self-join check)
        return spark.createDataFrame(
            [(o, nw, new_start[nw]) for o, nw in mapping],
            "shard int, new_shard int, new_start long")

    dst = IndexStore(out_dir, fs=store.fs)
    dst.path.mkdir(parents=True, exist_ok=True)

    segs = store.segments(spark).join(F.broadcast(_map_df()), "shard") \
        .drop("shard")
    dels_new = dels.join(F.broadcast(_map_df()), "shard") \
        .select("new_shard", "doc_id")

    def run(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        return _purge_shard(left, right)

    from .query import _fanout
    purged = (_fanout(segs, "new_shard").groupBy("new_shard")
              .cogroup(_fanout(dels_new, "new_shard")
                       .groupBy("new_shard"))
              .applyInPandas(run, schema=SEGMENT_SCHEMA))
    (purged.repartition(max(n_new, 1), "shard")
     .sortWithinPartitions("term", "salt", "first_doc")
     .write.mode("overwrite").partitionBy("shard")
     .parquet(str(dst.path / "segments")))

    # docmap / docstats renumber: rank within OLD shard + old offset ==
    # the worker's new_start + rank-in-new-shard (old shards inside a
    # new shard are consecutive ascending doc ranges). Survivors come
    # from the SEGMENTS' pseudo-rows, not the docstats table: after an
    # incremental merge_shards the docstats/docmap tables still carry
    # stale rows for merged-away docs (metadata GC happens here), and
    # only the pseudo-rows are always consistent with the postings.
    off_df = spark.createDataFrame(
        [(s, old_off[s]) for s in sorted(old_off)], "shard int, off long")
    w = Window.partitionBy("shard").orderBy("doc_id")
    id_map = surv.join(F.broadcast(off_df), "shard").withColumn(
        "new_doc_id",
        (F.col("off") + F.row_number().over(w) - F.lit(1)).cast("long")) \
        .select("doc_id", "new_doc_id", "dl")

    def _docstats_job():
        (id_map.select(F.col("new_doc_id").alias("doc_id"), "dl")
         .withColumn("batch", F.lit(INITIAL_BATCH))
         .write.mode("overwrite").partitionBy("batch")
         .parquet(str(dst.path / "docstats")))

    def _docmap_job():
        (store.docmap(spark).drop("batch")
         .join(id_map.select("doc_id", "new_doc_id"), "doc_id")
         .drop("doc_id")
         .withColumnRenamed("new_doc_id", "doc_id")
         .withColumn("batch", F.lit(INITIAL_BATCH))
         .write.mode("overwrite").partitionBy("batch")
         .parquet(str(dst.path / "docmap")))

    def _termstats_job():
        (spark.read.parquet(str(dst.path / "segments"))
         .filter(F.col("term") != DOCSTATS_TERM)
         .groupBy("term")
         .agg(F.sum("n_docs").cast("long").alias("df"),
              F.sum("sum_tf").alias("cf"))
         .withColumn("batch", F.lit(INITIAL_BATCH))
         .write.mode("overwrite").partitionBy("batch")
         .parquet(str(dst.path / "termstats")))

    _run_concurrent(_docstats_job, _docmap_job)
    _termstats_job()  # reads the purged segments written above

    row = spark.read.parquet(str(dst.path / "docstats")) \
        .agg(F.sum("dl").alias("t")).collect()[0]
    total_dl = int(row["t"] or 0)

    build_id = uuid.uuid4().hex
    # a fully-deleted new shard is legal: it gets the empty entry
    dst._write_manifest({"shards": _shard_entries(
        spark.read.parquet(str(dst.path / "segments")), range(n_new),
        build_id), "batches": dict(meta.batches)})
    dst._write_meta(IndexMeta(
        build_id=build_id, n_docs=n_live,
        avgdl=(total_dl / n_live) if (n_live and total_dl) else 1.0,
        n_shards=n_new, k1=meta.k1, b=meta.b, cfg=meta.cfg,
        dict_fingerprint=meta.dict_fingerprint,
        source=f"{meta.source} [purged]",
        store_positions=meta.store_positions,
        created_utc=time.time(), layout=meta.layout,
        text_col=meta.text_col, total_dl=total_dl,
        stats_batches=[INITIAL_BATCH], batches=dict(meta.batches),
        format=FORMAT_VERSION,
        uses_token_filter=meta.uses_token_filter,
        delete_batches=[], n_deleted=0))
    return dst
