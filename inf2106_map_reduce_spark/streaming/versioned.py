"""The on-disk layout of the streaming upsert sinks' versioned tables.

A table root holds one ``v=<e>`` directory per version; the
partition-scoped sinks split each version into ``g=<k>`` key-group
directories, and the append sinks write ``epoch=<id>`` partitions.
Every ``key=N`` level parses the same way, so this module is the only
code that builds or reads those names: callers ask for a version's
path, the versions each group wrote, or the as-of resolution, and never
walk the directories themselves.

Listings are driver-side metadata over local paths (``os``), never data.
"""

from __future__ import annotations

import math
import os
import shutil

#: Target output-file size for compaction rewrites. 128 MB = the
#: classic parquet scan-split sweet spot (one file ≈ one task at default
#: maxPartitionBytes); the test-scale trees are far below one target,
#: so a rewrite lands in a single file — pinned in tests.
COMPACT_TARGET_BYTES = 128 * 1024 * 1024


def version_dir(root: str, v: int, g: int | None = None) -> str:
    """The path of version ``v`` under ``root``, or of key group ``g``
    at version ``v``."""
    path = os.path.join(root, f"v={v}")
    return path if g is None else os.path.join(path, f"g={g}")


def partition_values(path: str, key: str) -> list[int]:
    """The integer values of the ``key=N`` entries directly under
    ``path``, in numeric order (``v=10`` after ``v=9``); other entries
    (``_SUCCESS``, part files) are ignored."""
    prefix = f"{key}="
    return sorted(
        int(name[len(prefix):])
        for name in os.listdir(path)
        if name.startswith(prefix)
    )


def group_writes(root: str) -> dict[int, list[int]]:
    """``{g: versions that wrote g}`` over a partition-scoped tree, each
    list ascending; a group untouched by a batch has no entry at that
    version."""
    wrote: dict[int, list[int]] = {}
    for v in partition_values(root, "v"):
        for g in partition_values(version_dir(root, v), "g"):
            wrote.setdefault(g, []).append(v)
    return wrote


def as_of(root: str, v: int) -> dict[int, int]:
    """``{g: newest version <= v that wrote g}`` for every group with a
    write at or before ``v``; groups born after ``v`` are absent."""
    return {
        g: max(w for w in versions if w <= v)
        for g, versions in group_writes(root).items()
        if versions[0] <= v
    }


def drop(root: str, v: int, g: int | None = None) -> None:
    """Delete version ``v``, or only group ``g``'s partition of it."""
    shutil.rmtree(version_dir(root, v, g))


def parquet_files(path: str) -> list[str]:
    """Every ``.parquet`` file under ``path`` (recursive), sorted."""
    return sorted(
        os.path.join(dirpath, f)
        for dirpath, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def parquet_bytes(path: str) -> int:
    """Total size of the ``.parquet`` files under ``path``."""
    return sum(os.path.getsize(f) for f in parquet_files(path))


def compact_file_count(nbytes: int) -> int:
    """Right-sized file count for rewriting ``nbytes`` of parquet:
    ``max(1, ceil(nbytes / COMPACT_TARGET_BYTES))``."""
    return max(1, math.ceil(nbytes / COMPACT_TARGET_BYTES))
