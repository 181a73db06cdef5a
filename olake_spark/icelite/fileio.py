"""FileIO: the storage abstraction under icelite's metadata layer.

The reference splits catalog (linearization: who wins a commit) from file IO
(bytes: S3FileIO / HadoopFileIO), configured independently
(destination/iceberg/iceberg_utils.go:197-260). icelite collapses both into
one small interface — every metadata-side filesystem touch the Table makes
goes through it, so porting to an object store / catalog service means
implementing ONE class, not editing the engine:

- `LocalFileIO` (default): POSIX. The commit linearization point is
  `os.link` O_EXCL — exactly one writer materializes a given metadata
  version, atomically, across processes.
- `ConditionalPutFileIO`: models a store whose conditional create is served
  by the storage/catalog endpoint itself (S3 `If-None-Match: *` conditional
  PUT, or a REST catalog's compare-and-swap): the put-if-absent decision is
  made under the store's own serialization, no hard links required. The
  in-process lock stands in for the remote endpoint's serialization; it is
  NOT multi-process-safe on plain POSIX — that is what LocalFileIO is for.

Data-plane reads/writes (Spark parquet jobs, pyarrow manifest IO) stay
path-based: Spark and pyarrow already speak s3a/hdfs/gs URLs natively, so
the engine needs no shim there — only the metadata-side create/list/delete
calls, which object stores service differently from POSIX. The interface
has no rename: written files are registered where Spark's commit left them,
as Iceberg writers do, so no engine path needs one.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from collections import Counter
from typing import Iterator


def default_io() -> "FileIO":
    """Default FileIO, selectable via OLAKE_FILEIO ∈ {local, conditional,
    objectstore} — the hook that lets the FULL test suite run against
    object-store semantics (`OLAKE_FILEIO=objectstore pytest tests/`)."""
    kind = os.environ.get("OLAKE_FILEIO", "local").lower()
    if kind in ("", "local"):
        return LocalFileIO()
    if kind == "conditional":
        return ConditionalPutFileIO()
    if kind in ("objectstore", "fake-objectstore"):
        return FakeObjectStoreFileIO()
    raise ValueError(f"unknown OLAKE_FILEIO={kind!r}")


class FileIO:
    """Metadata-side storage interface. All paths are absolute strings."""

    def atomic_create_json(self, target: str, meta: dict) -> bool:
        """Create `target` holding `meta`, atomically: observers see either
        no file or the COMPLETE file, and exactly one concurrent caller
        returns True. This is the commit linearization point."""
        raise NotImplementedError

    def write_text_atomic(self, path: str, data: str) -> None:
        """Overwrite `path` with `data` atomically (advisory files: hints)."""
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        raise NotImplementedError

    def list_dir(self, path: str) -> list[str]:
        raise NotImplementedError

    def walk_files(self, root: str) -> Iterator[tuple[str, float]]:
        """Yield `(absolute path, mtime)` of every file under `root`
        (recursive) — the shape of an object-store prefix listing, which
        returns each key with its last-modified time in the same request."""
        raise NotImplementedError

    def list_files(self, path: str) -> list[tuple[str, float]]:
        """`(absolute path, mtime)` of every file directly under `path`,
        not recursive: a delimited prefix listing, which skips the keys
        below the next `/` and returns each key's last-modified time in
        the same request."""
        raise NotImplementedError

    def makedirs(self, path: str) -> None:
        raise NotImplementedError

    def remove(self, path: str) -> None:
        raise NotImplementedError

    def remove_many(self, paths: list[str]) -> None:
        """Batched delete — the object-store analogue is DeleteObjects (one
        request per 1000 keys). Engine paths that delete many files MUST use
        this, never a per-file remove loop: the driver's work is then O(1)
        calls per write job or reap."""
        for p in paths:
            self.remove(p)

    def rmtree(self, path: str) -> None:
        raise NotImplementedError


def _walk_with_mtimes(root: str) -> Iterator[tuple[str, float]]:
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            try:
                yield p, os.path.getmtime(p)
            except FileNotFoundError:
                pass  # removed between the listing and the stat


def _files_with_mtimes(path: str) -> list[tuple[str, float]]:
    out = []
    with os.scandir(path) as it:
        for e in it:
            try:
                if e.is_file():
                    out.append((e.path, e.stat().st_mtime))
            except FileNotFoundError:
                pass  # removed between the listing and the stat
    return out


class LocalFileIO(FileIO):
    """POSIX implementation; `os.link` O_EXCL is the commit CAS."""

    def atomic_create_json(self, target: str, meta: dict) -> bool:
        # write the full content to a temp file, then publish it with one
        # link syscall: a concurrent reader can never observe a partial
        # write, and an existing winner makes the link fail
        tmp = os.path.join(os.path.dirname(target), f".commit-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        try:
            os.link(tmp, target)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def write_text_atomic(self, path: str, data: str) -> None:
        tmp = os.path.join(os.path.dirname(path), f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(data)
        os.replace(tmp, path)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def list_dir(self, path: str) -> list[str]:
        return os.listdir(path)

    def walk_files(self, root: str) -> Iterator[tuple[str, float]]:
        return _walk_with_mtimes(root)

    def list_files(self, path: str) -> list[tuple[str, float]]:
        return _files_with_mtimes(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def remove(self, path: str) -> None:
        os.remove(path)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)


class ConditionalPutFileIO(LocalFileIO):
    """Put-if-absent served by the (simulated) store endpoint instead of a
    POSIX hard link — the S3-conditional-PUT / REST-catalog CAS shape. Every
    FileIO method except the linearization point inherits the local
    implementation, mirroring how S3FileIO reuses plain reads/writes and
    only the catalog commit differs."""

    _lock = threading.Lock()  # stands in for the remote endpoint's serialization

    def atomic_create_json(self, target: str, meta: dict) -> bool:
        data = json.dumps(meta)
        with ConditionalPutFileIO._lock:
            if os.path.exists(target):
                return False
            tmp = os.path.join(
                os.path.dirname(target), f".put-{uuid.uuid4().hex}"
            )
            with open(tmp, "w") as f:
                f.write(data)
            os.replace(tmp, target)  # "PUT succeeded": object appears whole
            return True


class FakeObjectStoreFileIO(FileIO):
    """Object-store semantics on local disk — the in-sandbox stand-in for
    S3FileIO (reference: catalog/FileIO split + S3 semantics,
    iceberg_utils.go:197-260). Breaks the POSIX assumptions an engine might
    lean on:

    - **No rename**: S3 has none, and neither has the FileIO interface.
    - **No hard links**: the commit CAS is a conditional put (`If-None-Match`)
      served under the (simulated) store endpoint's serialization, like
      ConditionalPutFileIO. `os.link` is never used.
    - **Whole-object PUTs**: objects appear complete or not at all (real
      object stores have no partial objects); the simulator's own use of a
      temp-file + replace *inside* a PUT models the store's internal
      atomicity, not a capability offered to the engine.

    `latency_s` adds per-request latency so tests can surface accidental
    per-file loops as wall-clock. `counts` tallies every API call for
    bounded-driver-work assertions."""

    _cas_lock = threading.Lock()  # the store endpoint's serialization

    def __init__(self, latency_s: float = 0.0):
        self.latency_s = latency_s
        self.counts: Counter = Counter()
        self._count_lock = threading.Lock()

    # -- internals ---------------------------------------------------------

    def _tick(self, op: str) -> None:
        with self._count_lock:
            self.counts[op] += 1
        if self.latency_s:
            time.sleep(self.latency_s)

    # -- FileIO API --------------------------------------------------------

    def atomic_create_json(self, target: str, meta: dict) -> bool:
        self._tick("atomic_create_json")
        data = json.dumps(meta)
        with FakeObjectStoreFileIO._cas_lock:
            if os.path.exists(target):
                return False
            tmp = f"{target}.put-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                f.write(data)
            os.replace(tmp, target)
            return True

    def write_text_atomic(self, path: str, data: str) -> None:
        self._tick("write_text_atomic")
        tmp = f"{path}.put-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(data)
        os.replace(tmp, path)

    def read_text(self, path: str) -> str:
        self._tick("read_text")
        with open(path) as f:
            return f.read()

    def list_dir(self, path: str) -> list[str]:
        self._tick("list_dir")
        return os.listdir(path)

    def walk_files(self, root: str) -> Iterator[tuple[str, float]]:
        self._tick("walk_files")
        yield from _walk_with_mtimes(root)

    def list_files(self, path: str) -> list[tuple[str, float]]:
        self._tick("list_files")
        return _files_with_mtimes(path)

    def makedirs(self, path: str) -> None:
        # object stores have no directories; kept real so the local data
        # plane (Spark parquet jobs) can write under the same root
        self._tick("makedirs")
        os.makedirs(path, exist_ok=True)

    def remove(self, path: str) -> None:
        self._tick("remove")
        os.remove(path)

    def remove_many(self, paths: list[str]) -> None:
        self._tick("remove_many")
        for p in paths:
            os.remove(p)

    def rmtree(self, path: str) -> None:
        self._tick("rmtree")
        shutil.rmtree(path, ignore_errors=True)
