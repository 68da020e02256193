"""The versioned-table layout helpers over a hand-made tree of empty
``v=<e>/g=<k>`` directories: no Spark, no parquet."""

from __future__ import annotations

import os

import pytest

from inf2106_map_reduce_spark.streaming import versioned


def _tree(root, writes: dict[int, tuple[int, ...]]) -> str:
    """Make ``root/v=<v>/g=<g>`` for every (v, groups) in ``writes``,
    plus the ``_SUCCESS`` markers a Spark write leaves beside them."""
    for v, groups in writes.items():
        vdir = root / f"v={v}"
        vdir.mkdir()
        (vdir / "_SUCCESS").touch()
        for g in groups:
            (vdir / f"g={g}").mkdir()
    (root / "_SUCCESS").touch()
    return str(root)


def test_version_dir_paths(tmp_path):
    root = str(tmp_path)
    assert versioned.version_dir(root, 3) == os.path.join(root, "v=3")
    assert versioned.version_dir(root, 3, 1) == os.path.join(
        root, "v=3", "g=1"
    )


def test_partition_values_sort_numerically_past_nine(tmp_path):
    root = _tree(tmp_path, {v: (0,) for v in range(12)})
    assert versioned.partition_values(root, "v") == list(range(12))
    assert versioned.partition_values(root, "g") == []
    epochs = tmp_path / "sink"
    epochs.mkdir()
    for e in (10, 2, 9):
        (epochs / f"epoch={e}").mkdir()
    (epochs / "_SUCCESS").touch()
    assert versioned.partition_values(str(epochs), "epoch") == [2, 9, 10]


def test_group_writes_skip_untouched_versions(tmp_path):
    root = _tree(tmp_path, {0: (0, 1), 1: (1,), 2: (0, 2), 10: (1,)})
    assert versioned.group_writes(root) == {
        0: [0, 2],
        1: [0, 1, 10],
        2: [2],
    }


def test_as_of_resolves_newest_write_at_or_before(tmp_path):
    root = _tree(tmp_path, {0: (0, 1), 1: (1,), 2: (0, 2), 10: (1,)})
    # group 0 skipped v=1; group 2 is born after v=1
    assert versioned.as_of(root, 1) == {0: 0, 1: 1}
    assert versioned.as_of(root, 2) == {0: 2, 1: 1, 2: 2}
    assert versioned.as_of(root, 9) == {0: 2, 1: 1, 2: 2}
    assert versioned.as_of(root, 10) == {0: 2, 1: 10, 2: 2}


def test_as_of_below_first_version_is_empty(tmp_path):
    root = _tree(tmp_path, {2: (0,), 3: (0, 1)})
    assert versioned.as_of(root, 1) == {}
    assert versioned.as_of(root, -1) == {}
    empty = tmp_path / "empty"
    empty.mkdir()
    assert versioned.as_of(str(empty), 0) == {}


def test_drop_one_group_partition_and_one_version(tmp_path):
    root = _tree(tmp_path, {0: (0, 1), 1: (0, 1), 2: (1,)})
    versioned.drop(root, 0, 1)
    assert versioned.group_writes(root) == {0: [0, 1], 1: [1, 2]}
    assert versioned.as_of(root, 0) == {0: 0}
    versioned.drop(root, 1)
    assert versioned.partition_values(root, "v") == [0, 2]
    assert versioned.as_of(root, 1) == {0: 0}
    with pytest.raises(FileNotFoundError):
        versioned.drop(root, 1)


def test_parquet_files_bytes_and_compaction_count(tmp_path):
    root = _tree(tmp_path, {0: (0,), 1: (0,)})
    a = tmp_path / "v=0" / "g=0" / "part-0.parquet"
    b = tmp_path / "v=1" / "g=0" / "part-1.parquet"
    a.write_bytes(b"x" * 5)
    b.write_bytes(b"x" * 7)
    (tmp_path / "v=1" / "g=0" / ".part-1.parquet.crc").write_bytes(b"c")
    assert versioned.parquet_files(root) == [str(a), str(b)]
    assert versioned.parquet_bytes(root) == 12
    target = versioned.COMPACT_TARGET_BYTES
    assert versioned.compact_file_count(0) == 1
    assert versioned.compact_file_count(target) == 1
    assert versioned.compact_file_count(target + 1) == 2
