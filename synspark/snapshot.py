"""Snapshot / restore — the ES ``_snapshot`` repository surface:
point-in-time, incremental, commit-consistent copies of an index.

ES snapshots work because Lucene segment files are IMMUTABLE once
committed: a snapshot hard-links/copies segment files into a
repository, skips files already present from earlier snapshots
(incremental), and writes the snapshot metadata LAST so a torn
snapshot is simply invisible. This store has the same property — every
data file (segments, docmap/docstats/termstats partitions, delete and
purged batches) is copy-on-write and never modified after its commit —
so the same design applies directly:

- ``snapshot`` pins a commit point by reading meta.json FIRST (meta is
  always written last by every committer, so whatever meta names is
  fully on disk), copies the named data files, and writes
  manifest.json then meta.json last. Re-snapshotting into the same
  destination skips files whose (name, size) already match —
  incremental, exactly the ES repository behavior.
- ``restore`` is a snapshot of the snapshot: copy to a fresh path and
  open. Opening the snapshot directory read-only IS also a valid
  restore (it is a complete store).

Scale note: copies are driven per-file through the store's FS shim
(LocalFS bytes / HadoopFS FileUtil — hdfs://, s3a://), sequential on
the driver here. At 100 TB the same listing fans out as a Spark job
over file paths (each task FileUtil-copies one file); the COMMIT
PROTOCOL — immutable files, (name,size) skip, metadata-last — is the
part that matters and is identical either way.
"""

from __future__ import annotations

from .fs import FsPath
from .index_store import IndexStore

__all__ = ["snapshot", "restore"]

# every store subdirectory that can hold committed data files. Listed
# explicitly (not a glob of '*') so stray scratch/tmp dirs in the
# index directory never leak into a snapshot.
_DATA_DIRS = ("segments", "docmap", "docstats", "termstats",
              "deletes", "deletes_routed", "purged")


def _walk_files(p: FsPath) -> list[FsPath]:
    if not p.exists():
        return []
    if not p.is_dir():
        return [p]
    out: list[FsPath] = []
    for child in p.iterdir():
        out.extend(_walk_files(child))
    return out


def _rel(root: FsPath, f: FsPath) -> str:
    rootp, fp = str(root).rstrip("/") + "/", str(f)
    if not fp.startswith(rootp):
        raise ValueError(f"{f} not under {root}")
    return fp[len(rootp):]


def snapshot(store: IndexStore, dest: str) -> dict:
    """Copy the store's CURRENT COMMIT to ``dest`` (same filesystem
    shim). Incremental: files already in ``dest`` with matching size
    are skipped — immutable-once-committed makes (name, size) a safe
    identity — and data files the source does not hold are removed.
    Crash-safe: data first, manifest, then meta.json LAST; a torn
    snapshot has no meta and cannot be opened (IndexStore.meta
    raises). Skips temp files (.tmp., _SUCCESS, .crc noise).

    Returns {"files_copied": n, "files_skipped": m} — the second
    snapshot of an unchanged index copies only the two metadata
    files' worth of nothing (0 data files)."""
    # pin the commit point FIRST: everything meta references is
    # already durable (meta is the commit record, written last by
    # every writer in this store)
    meta_text = (store.path / "meta.json").read_text()
    manifest_text = (store.path / "manifest.json").read_text() \
        if (store.path / "manifest.json").exists() else None
    # drift guard: a store layout change that adds a data dir must be
    # classified here, or snapshots would silently lose it
    known = set(_DATA_DIRS) | {"meta.json", "manifest.json"}
    for child in store.path.iterdir():
        nm = child.name
        if nm in known or nm.startswith((".", "_")) or ".tmp." in nm \
                or nm.endswith((".lock", ".json")):
            continue
        if child.is_dir():
            raise ValueError(
                f"unknown store directory {nm!r}: add it to "
                "synspark.snapshot._DATA_DIRS (or rename it to a "
                "_/.-prefixed scratch name) before snapshotting")
    dst_root = FsPath(store.fs, dest)
    dst_root.mkdir(parents=True, exist_ok=True)
    copied = skipped = 0
    keep = set()
    for sub in _DATA_DIRS:
        src_dir = store.path / sub
        for f in _walk_files(src_dir):
            name = f.name
            if ".tmp." in name or name.startswith("."):
                continue
            rel = _rel(store.path, f)
            keep.add(rel)
            dst = dst_root
            for part in rel.split("/"):
                dst = dst / part
            if dst.exists() and dst.stat_sig()[1] == f.stat_sig()[1]:
                skipped += 1
                continue
            parent = dst_root
            for part in rel.split("/")[:-1]:
                parent = parent / part
            parent.mkdir(parents=True, exist_ok=True)
            f.copy_to(dst)
            copied += 1
    # the destination mirrors this commit: a file the source does not
    # hold (e.g. left by a snapshot of ANOTHER store into a reused
    # destination) could sit in a partition this meta commits and be
    # read as its data
    for sub in _DATA_DIRS:
        for f in _walk_files(dst_root / sub):
            if _rel(dst_root, f) not in keep:
                f.unlink()
    if manifest_text is not None:
        (dst_root / "manifest.json").write_text(manifest_text)
    (dst_root / "meta.json").write_text(meta_text)  # the commit point
    return {"files_copied": copied, "files_skipped": skipped}


def restore(snapshot_dir: str, dest: str, fs=None) -> IndexStore:
    """Materialize a snapshot as a fresh, writable store at ``dest``
    and open it. (Opening ``snapshot_dir`` directly with IndexStore is
    the zero-copy read-only restore.)"""
    snap = IndexStore(snapshot_dir, fs=fs)
    snap.meta()  # validates the snapshot is complete + right format
    snapshot(snap, dest)
    return IndexStore(dest, fs=fs)
