"""Filesystem shim for Bloom-shard state — cluster-safe by construction.

The Bloom seen-set shards are per-partition state files read and
written INSIDE executor tasks. On local[*] a plain ``os.path`` works only
because executors share the driver's disk; on a real cluster it silently
loses state. Every shard IO therefore goes through ``pyarrow.fs``:

- a plain path or ``file://`` URI → LocalFileSystem;
- ``hdfs://`` / ``s3://`` / any other registered scheme →
  ``pyarrow.fs.FileSystem.from_uri`` — the same resolver Spark's own
  Arrow datasets use, available on every executor because pyarrow ships
  with PySpark.

So pointing the engine checkpoint at ``hdfs://namenode/crawl/ckpt`` makes
the shard state live in the cluster filesystem with zero code change —
the Iceberg-table layout this stands in for (PLANS.md) would do the same
through its catalog.

Writes are tmp-file + move within one filesystem. Each shard is touched
by exactly one task per update job (groupBy shard), so there is no
concurrent writer; the move only guards against torn reads by the next
round's probes.
"""

from __future__ import annotations

from typing import List, Optional, Tuple


def fs_and_path(path: str) -> Tuple[object, str]:
    """Resolve a path/URI to (pyarrow FileSystem, fs-internal path)."""
    from pyarrow import fs as pafs

    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def join(base: str, name: str) -> str:
    return base.rstrip("/") + "/" + name


def reset_dir(path: str) -> None:
    """Make ``path`` an empty directory: what it held is deleted."""
    f, p = fs_and_path(path)
    f.create_dir(p, recursive=True)
    f.delete_dir_contents(p)


def listdir(path: str) -> List[str]:
    """Base names of files directly under ``path`` ([] if absent)."""
    from pyarrow import fs as pafs

    f, p = fs_and_path(path)
    if f.get_file_info(p).type == pafs.FileType.NotFound:
        return []
    sel = pafs.FileSelector(p, recursive=False, allow_not_found=True)
    return [info.base_name for info in f.get_file_info(sel)]


def read_bytes(path: str) -> Optional[bytes]:
    """File contents, or None if the file does not exist."""
    from pyarrow import fs as pafs

    f, p = fs_and_path(path)
    if f.get_file_info(p).type == pafs.FileType.NotFound:
        return None
    with f.open_input_stream(p) as s:
        return s.read()


def write_bytes_atomic(path: str, data: bytes) -> None:
    """Write via sibling tmp + move (single-writer per shard per job)."""
    f, p = fs_and_path(path)
    tmp = p + ".tmp"
    with f.open_output_stream(tmp) as s:
        s.write(data)
    try:
        f.move(tmp, p)
    except OSError:
        # object stores / some FS refuse move-over-existing: delete + move
        f.delete_file(p)
        f.move(tmp, p)


def copy_file(src: str, dst: str) -> None:
    f_src, p_src = fs_and_path(src)
    _, p_dst = fs_and_path(dst)
    f_src.copy_file(p_src, p_dst)
