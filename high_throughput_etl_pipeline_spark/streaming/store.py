"""Shared mechanics for log-structured streaming stores.

Three streaming sinks in this package (the near-dup band store, the
posting-list index, the IVF vector index) share one storage discipline:

- each micro-batch publishes ONE ``batch_<id>`` directory via staging +
  atomic rename — the rename is the commit record, so foreachBatch's
  at-least-once delivery becomes exactly-once without a transaction log;
- batch ids are monotonic per checkpoint, so "any published id >= mine"
  proves a batch was absorbed (this survives compaction, which folds old
  directories into the highest absorbed id);
- the table is stamped with a stream identity (checkpoint-path hash): a
  fresh checkpoint restarts ids at 0 and would silently no-op against an
  existing table — that mismatch fails loudly instead;
- PUBLISHED PATHS ARE IMMUTABLE: compaction never swaps content into
  an existing directory (a concurrent serving scan resolves paths
  after listing them — an in-place swap would hand it new content
  under an old name and double every row).  A compacted fold publishes
  under a fresh generation name ``batch_<id>.c<gen>`` carrying an
  ``_absorbed_through`` marker INSIDE it, made visible by the same
  atomic rename as the data;
- readers are NON-DESTRUCTIVE: directories covered by a newer marker
  are excluded from the listing but left on disk until the next
  MAINTAINER call (``batch_dirs(heal=True)`` — deferred retention, the
  VACUUM discipline), so an in-flight scan that listed them keeps its
  files; a leftover ``._staging`` is an unpublished partial (excluded;
  dropped by the maintainer); a ``X._old`` with no ``X`` (legacy
  swap-crash artifact from older builds) serves as the readable
  stand-in and is restored by the maintainer.
"""

from __future__ import annotations

import hashlib
import os
import shutil

ABSORBED_MARKER = "_absorbed_through"


def recover(table_path: str) -> None:
    """Heal compaction/publish crash windows (idempotent, cheap)."""
    if not os.path.isdir(table_path):
        return
    for d in os.listdir(table_path):
        full = os.path.join(table_path, d)
        if d.endswith("._old"):
            target = full[: -len("._old")]
            if not os.path.isdir(target):
                os.rename(full, target)
            else:
                shutil.rmtree(full, ignore_errors=True)
        elif d.endswith("._staging"):
            shutil.rmtree(full, ignore_errors=True)


def _dir_id(d: str) -> int:
    base = os.path.basename(d)
    if base.endswith("._old"):
        base = base[: -len("._old")]
    return int(base.split("_")[1].split(".")[0])


def _dir_gen(d: str) -> int:
    """Compaction generation: ``batch_X`` is 0, ``batch_X.cN`` is N."""
    base = os.path.basename(d)
    if base.endswith("._old"):
        base = base[: -len("._old")]
    parts = base.split(".")
    return int(parts[1][1:]) if len(parts) > 1 else 0


def _marker_value(d: str) -> int | None:
    f = os.path.join(d, ABSORBED_MARKER)
    if not os.path.isfile(f):
        return None
    with open(f) as fh:
        return int(fh.read().strip())


def batch_dirs(table_path: str, heal: bool = False) -> list[str]:
    """Published batch directories, oldest first.

    Default (``heal=False``) is a NON-DESTRUCTIVE read-side view: a
    serving query must be able to list the store while the maintainer
    is mid-compaction, without renaming or deleting anything an
    in-flight lazy scan may still reference.  Crash artifacts are
    *interpreted* rather than repaired — a ``X._old`` with no ``X`` is
    a swap that died between its two renames, and its contents are
    complete by construction, so it is returned as the readable
    stand-in for ``X``; ``._staging`` partials and originals absorbed
    by a newer compaction marker are excluded but left on disk.

    ``heal=True`` (maintainer path only: compactors and the
    foreachBatch writer, which are single-threaded per store)
    additionally repairs in place: restores orphaned ``._old`` swaps,
    drops ``._staging`` partials, and deletes absorbed originals.

    Both modes honor compaction markers: a directory carrying
    ``_absorbed_through: t`` contains every batch with id <= t, so any
    OTHER directory with id <= t is an absorbed original whose removal
    crashed."""
    if not os.path.isdir(table_path):
        return []
    if heal:
        recover(table_path)
    entries = os.listdir(table_path)
    names = set(entries)
    dirs = []
    for d in entries:
        if not d.startswith("batch_"):
            continue
        if d.endswith("._old"):
            # orphaned swap (published target gone): complete by
            # construction -> readable stand-in; shadowed ._old (target
            # exists) is a finished swap's leftover -> skip
            if d[: -len("._old")] not in names:
                dirs.append(os.path.join(table_path, d))
            continue
        if "._" in d:
            continue
        dirs.append(os.path.join(table_path, d))
    dirs.sort(key=lambda d: (_dir_id(d), _dir_gen(d)))
    markers = {d: _marker_value(d) for d in dirs}
    absorbed_through = max(
        (v for v in markers.values() if v is not None), default=-1
    )
    # among marker-carriers for the absorbed-through id, only the
    # HIGHEST compaction generation is canonical (a crash between a
    # re-compaction's publish and the next heal can leave two)
    carriers = [d for d in dirs if markers[d] == absorbed_through]
    canonical = carriers[-1] if carriers else None  # (id, gen)-sorted
    out = []
    for d in dirs:
        if _dir_id(d) <= absorbed_through and d != canonical:
            if heal:
                shutil.rmtree(d, ignore_errors=True)  # leftover original
        else:
            out.append(d)
    return out


def write_absorbed_marker(staging_dir: str, through_id: int) -> None:
    """Stamp a staged compacted directory with the highest batch id it
    absorbs (call BEFORE publish/swap, so the marker and the data become
    visible in the same rename)."""
    with open(os.path.join(staging_dir, ABSORBED_MARKER), "w") as f:
        f.write(str(through_id))


def max_batch_id(table_path: str) -> int:
    """Highest published batch id, or -1 for an empty store."""
    dirs = batch_dirs(table_path)
    if not dirs:
        return -1
    return _dir_id(dirs[-1])


def batch_dir(table_path: str, batch_id: int) -> str:
    return os.path.join(table_path, f"batch_{batch_id:010d}")


def next_compaction_dir(table_path: str, batch_id: int) -> str:
    """A FRESH directory name for a compacted fold of everything up to
    ``batch_id``: ``batch_<id>.c<gen+1>``.

    Compaction must never swap content into an already-published path:
    a concurrent serving scan resolves paths AFTER listing them, so an
    in-place swap hands it the new compacted data under the old name —
    unioned with the originals it also listed, every row doubles (the
    TOCTOU the serve-while-compacting test pins).  Publishing under a
    new name keeps every published path immutable; the originals retire
    via deferred heal."""
    gen = 0
    if os.path.isdir(table_path):
        for d in os.listdir(table_path):
            if (
                d.startswith("batch_")
                and "._" not in d
                and _dir_id(d) == batch_id
            ):
                gen = max(gen, _dir_gen(d))
    return os.path.join(table_path, f"batch_{batch_id:010d}.c{gen + 1}")


def already_absorbed(table_path: str, batch_id: int) -> bool:
    """Monotonic replay guard (see module docstring)."""
    return batch_id <= max_batch_id(table_path)


def publish(staging: str, out_dir: str) -> None:
    """Atomically commit a staged batch directory."""
    os.rename(staging, out_dir)


def swap(staging: str, out_dir: str) -> None:
    """Replace an EXISTING directory via the recoverable two-rename
    pattern.  LEGACY — no current writer swaps in place (compaction
    publishes under a fresh ``.c<gen>`` name precisely because a swap
    changes a path's content under a concurrent reader); kept so
    ``recover`` retains its ``._old`` healing for tables written by
    older builds."""
    old = out_dir + "._old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(out_dir, old)
    os.rename(staging, out_dir)
    shutil.rmtree(old, ignore_errors=True)


def stream_id(checkpoint_dir: str) -> str:
    """A stream's identity: a hash of its checkpoint's absolute path."""
    return hashlib.sha1(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:12]


def stamp_stream_id(table_path: str, checkpoint_dir: str, kind: str) -> None:
    """Fence the table to one checkpoint lineage; raise on mismatch."""
    stamp_raw_stream_id(table_path, stream_id(checkpoint_dir), kind)


def stamp_raw_stream_id(table_path: str, sid: str, kind: str) -> None:
    """:func:`stamp_stream_id` for callers that already derived the
    stream identity string themselves."""
    os.makedirs(table_path, exist_ok=True)
    sid_file = os.path.join(table_path, "_stream_id")
    if os.path.exists(sid_file):
        with open(sid_file) as f:
            prior = f.read().strip()
        if prior != sid:
            raise RuntimeError(
                f"{kind} table {table_path} belongs to stream {prior!r}, "
                f"not {sid!r} (fresh/relocated checkpoint?). Delete the "
                "table with the checkpoint to rebuild, or restore the "
                "original checkpoint."
            )
    else:
        with open(sid_file, "w") as f:
            f.write(sid)


__all__ = [
    "recover",
    "write_absorbed_marker",
    "batch_dirs",
    "max_batch_id",
    "batch_dir",
    "already_absorbed",
    "publish",
    "swap",
    "stream_id",
    "stamp_stream_id",
    "stamp_raw_stream_id",
]
