"""Index snapshot / restore with sha-verified integrity.

The reference round-trips its Elasticsearch indices through a
snapshotter service (``snapshotter/snapshot.py`` walks the indices,
writes them out, and restores them byte-faithfully).  The analog for
this engine: an index directory is a set of immutable parquet tables
(segments, stats, term_stats, lineage) plus small state dirs
(tombstones, removed_docs) and markers (_FORMAT, _ANALYZER) —
snapshot copies all of them with a per-file sha256 MANIFEST, and
restore verifies every file against the manifest while copying, so a
restored index is provably identical to the snapshotted one.

At cluster scale the copy step is an object-store / DistCp transfer;
the manifest is the integrity contract that survives the transport —
the same sha-rollup discipline the build lineage already uses for
ingest (``build.py`` chunk shas).  Driver-side streaming file IO
here is metadata-scale work: it moves bytes, never decodes postings.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from .build import check_stats_current, read_stats

MANIFEST = "MANIFEST.json"
_CHUNK = 1 << 20


class SnapshotIntegrityError(RuntimeError):
    """A file's sha256 does not match the snapshot MANIFEST."""


def _sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        while True:
            b = f.read(_CHUNK)
            if not b:
                break
            h.update(b)
    return h.hexdigest()


_SWAP_SUFFIXES = ("_restoring", "_replaced", "_next")


def _walk_files(root: str) -> list[str]:
    """Relative paths of every regular file under ``root``, sorted
    (deterministic manifest), skipping Spark _SUCCESS/.crc noise and
    crash-recovery leftovers (``*_restoring``/``*_replaced`` restore
    staging, a term-stats fold's ``*_next`` table) — those are
    transient swap state, never part of a consistent index."""
    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs
                   if not d.endswith(_SWAP_SUFFIXES)]
        for name in files:
            if name == "_SUCCESS" or name.endswith(".crc"):
                continue
            full = os.path.join(dirpath, name)
            out.append(os.path.relpath(full, root))
    return sorted(out)


def snapshot_index(index_dir: str, snap_dir: str) -> dict:
    """Copy an index directory into ``snap_dir`` and write a sha256
    MANIFEST over every file.  Refuses an index whose stats lag its
    segment manifest — an append or compaction that stopped after its
    commit (the snapshot must capture a consistent index).  Returns
    the manifest dict ``{relpath: sha256}``."""
    check_stats_current(index_dir, read_stats(index_dir))
    if os.path.exists(snap_dir) and os.listdir(snap_dir):
        raise ValueError(f"snapshot target {snap_dir} is not empty")
    os.makedirs(snap_dir, exist_ok=True)
    manifest: dict[str, str] = {}
    for rel in _walk_files(index_dir):
        src = os.path.join(index_dir, rel)
        dst = os.path.join(snap_dir, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(src, dst)
        sha = _sha256_file(dst)
        if sha != _sha256_file(src):       # torn read during copy
            raise SnapshotIntegrityError(
                f"{rel}: source changed while snapshotting")
        manifest[rel] = sha
    with open(os.path.join(snap_dir, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def verify_snapshot(snap_dir: str) -> dict:
    """Re-hash every file in a snapshot against its MANIFEST; raises
    :class:`SnapshotIntegrityError` on any mismatch or missing file.
    Returns the manifest."""
    with open(os.path.join(snap_dir, MANIFEST)) as f:
        manifest = json.load(f)
    for rel, want in manifest.items():
        path = os.path.join(snap_dir, rel)
        if not os.path.isfile(path):
            raise SnapshotIntegrityError(f"{rel}: missing from snapshot")
        got = _sha256_file(path)
        if got != want:
            raise SnapshotIntegrityError(
                f"{rel}: sha mismatch (manifest {want[:12]}…, "
                f"file {got[:12]}…)")
    extras = [r for r in _walk_files(snap_dir)
              if r != MANIFEST and r not in manifest]
    if extras:
        raise SnapshotIntegrityError(
            f"files not in manifest: {extras[:5]}")
    return manifest


def restore_index(snap_dir: str, index_dir: str,
                  overwrite: bool = False) -> dict:
    """Restore a snapshot into ``index_dir``, verifying every file's
    sha256 against the MANIFEST while copying.  The restored tree is
    byte-identical to the snapshotted index (same shas), so every
    query answers bit-identically.  Refuses a non-empty target unless
    ``overwrite=True`` (then replaces it atomically-enough: builds a
    sibling tmp tree first, swaps last).

    Swap discipline (never a window with no live index): the
    verified tmp tree is built first, the existing index is renamed
    ASIDE (``*_replaced``) — not deleted — then tmp is renamed into
    place, and the aside copy is removed LAST.  A crash between the two renames leaves the old index
    recoverable at ``*_replaced``; a crash before the aside-rename
    leaves the old index untouched.  Stale ``*_restoring`` /
    ``*_replaced`` leftovers from a crashed earlier restore are
    swept at entry."""
    manifest = verify_snapshot(snap_dir)
    if os.path.exists(index_dir) and os.listdir(index_dir):
        if not overwrite:
            raise ValueError(
                f"restore target {index_dir} is not empty "
                "(pass overwrite=True)")
    tmp = index_dir.rstrip("/") + "_restoring"
    aside = index_dir.rstrip("/") + "_replaced"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(aside, ignore_errors=True)
    os.makedirs(tmp)
    for rel, want in manifest.items():
        src = os.path.join(snap_dir, rel)
        dst = os.path.join(tmp, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(src, dst)
        got = _sha256_file(dst)
        if got != want:
            shutil.rmtree(tmp, ignore_errors=True)
            raise SnapshotIntegrityError(
                f"{rel}: sha mismatch after copy")
    if os.path.exists(index_dir):
        os.rename(index_dir, aside)
    os.rename(tmp, index_dir)
    shutil.rmtree(aside, ignore_errors=True)
    return manifest
