"""Pluggable storage facade for all driver-side filesystem I/O.

The reference engine runs on real Delta and inherits Hadoop FileSystem
+ LogStore semantics for S3/ABFS/GCS for free (reference build.sbt:9
``delta-core`` dependency; SparkSessionWrapper.scala:5-11). This
engine implements the Delta log protocol natively in Python, so its
metadata plane (commit JSONs, checkpoints, .crc checksums, DV bitmap
descriptors, staging publishes) must route through ONE seam to be
object-store capable. That seam is this module.

Two planes, two mechanisms:

- **Data plane** (parquet scans/writes executed by Spark or pyarrow
  on executors): already storage-agnostic via Hadoop/Arrow — the
  facade only translates URIs (:meth:`FileSystem.spark_path`) before
  they are embedded in Spark jobs or shipped inside partitions.
  Executors never consult the registry: every path an executor sees
  was resolved driver-side.
- **Metadata plane** (everything the log layer touches): every
  open/list/rename/delete/atomic-create goes through a
  :class:`FileSystem` instance obtained from :func:`get_fs`.

Consistency contract per operation (what the Delta protocol needs):

===================  =====================================================
operation            required semantics
===================  =====================================================
``create_exclusive`` put-if-absent, atomic, content fully visible or not
                     at all — THE commit primitive (_delta_log/N.json).
``write_atomic``     readers see old or new content, never partial
                     (checkpoints, _last_checkpoint, .crc).
``rename``           destination replaced atomically where the store
                     supports it (staging publishes; on stores without
                     rename this degrades to copy+delete, acceptable for
                     uuid-named staging files that are invisible until
                     the log commit references them).
``listdir``          used only under ``_delta_log/`` (bounded by log
                     retention) and staging dirs — never a full-table
                     recursive LIST on the hot path.
===================  =====================================================

S3 semantics note: S3 supports atomic put-if-absent via conditional
writes (``If-None-Match: *``, generally available since 2024), which
maps directly onto ``create_exclusive``; ABFS and GCS have native
preconditions. An adapter for a store WITHOUT conditional puts must
bring external coordination (a DynamoDB-style LogStore) — a
check-then-put ``create_exclusive`` is NOT safe for multi-writer
commits and an adapter doing so must say it loudly. Rename on S3 is
copy+delete (non-atomic): safe here ONLY because staging publishes
move uuid-named files that no reader references until the subsequent
log commit lands.

Local POSIX stays the default and the zero-cost path: no behavior
change for plain ``/path/to/table``.
"""

from __future__ import annotations

import io
import os
import re
import shutil
import threading
import uuid
from collections.abc import Callable, Iterable, Iterator
from typing import BinaryIO

_SCHEME_RE = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://")


def path_scheme(path: str) -> str | None:
    """'mem://x/y' → 'mem'; '/x/y' → None; 'C:\\x' → None (drive
    letters are single chars, schemes require 2+ via the registry)."""
    m = _SCHEME_RE.match(path)
    return m.group(1).lower() if m else None


class FileSystem:
    """Storage operations the metadata plane needs. Subclasses provide
    a concrete store; all paths are full paths in THIS filesystem's
    namespace (scheme included for non-local stores)."""

    #: scheme this instance serves ('' for local)
    scheme: str = ""

    #: whether :meth:`create_exclusive` is a TRUE atomic put-if-absent
    #: (conditional put / O_EXCL / CAS). Adapters that can only do
    #: check-then-put MUST set this False — the commit path warns (or
    #: refuses under JODIE_REQUIRE_ATOMIC_COMMITS) so multi-writer
    #: deployments fail loudly instead of silently losing commits.
    atomic_put_if_absent: bool = True

    # -- path algebra ----------------------------------------------------
    def join(self, *parts: str) -> str:
        """Schemed stores always use '/' separators."""
        cleaned = [parts[0].rstrip("/")] + [p.strip("/") for p in parts[1:] if p]
        return "/".join(cleaned)

    def abspath(self, path: str) -> str:
        return path  # schemed paths are already absolute

    def basename(self, path: str) -> str:
        return path.rstrip("/").rsplit("/", 1)[-1]

    def dirname(self, path: str) -> str:
        return path.rstrip("/").rsplit("/", 1)[0]

    # -- reads -----------------------------------------------------------
    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def isfile(self, path: str) -> bool:
        raise NotImplementedError

    def isdir(self, path: str) -> bool:
        raise NotImplementedError

    def listdir(self, path: str) -> list[str]:
        """Child NAMES (not paths) of a directory; [] if absent."""
        raise NotImplementedError

    def listdir_sizes(self, path: str) -> list[tuple[str, int]]:
        """(name, size_bytes) per FILE child (directories excluded when
        the backend distinguishes them; size -1 when unknown). Object
        stores return sizes in the LIST response itself, so one call
        replaces a LIST + one HEAD per entry — the default falls back
        to TWO metadata RPCs per entry (isfile + size, the price of the
        directory-exclusion contract); adapters on real stores should
        override with their sized LIST."""
        out = []
        for name in self.listdir(path):
            child = self.join(path, name)
            try:
                # match the Local/Arrow overrides' contract: directory
                # entries are EXCLUDED even when size() happens to
                # succeed on them (ADVICE r12 — a custom adapter whose
                # size() works on directories would otherwise overcount
                # in DeltaLog.replay_log_bytes)
                if not self.isfile(child):
                    continue
                out.append((name, self.size(child)))
            except OSError:
                continue  # raced deletion
        return out

    def walk_files(self, path: str) -> Iterator[str]:
        """All file paths under ``path`` (recursive), full paths."""
        for name in self.listdir(path):
            child = self.join(path, name)
            if self.isdir(child):
                yield from self.walk_files(child)
            else:
                yield child

    def existing_files(self, paths: Iterable[str]) -> set[str]:
        """Subset of ``paths`` that currently exist, checked via
        per-directory LIST pages instead of one existence RPC per path.
        Candidates are grouped by parent directory; a directory with
        enough candidates is listed ONCE and the names intersected —
        on an object store one LIST page answers up to ~1000 HEADs.
        Directories with few candidates keep the single-probe path
        (listing a huge directory for one candidate would invert the
        win). Name-match granularity: a child of any kind counts as
        existing (object stores don't distinguish; the local adapter
        overrides with an exact file check)."""
        by_dir: dict[str, list[str]] = {}
        for p in paths:
            by_dir.setdefault(self.dirname(p), []).append(p)
        out: set[str] = set()
        for d, cands in by_dir.items():
            if len(cands) < 8:
                out.update(p for p in cands if self.isfile(p))
            else:
                names = set(self.listdir(d))
                out.update(p for p in cands if self.basename(p) in names)
        return out

    def open_input(self, path: str) -> BinaryIO:
        """Binary, seekable file-like (pyarrow-compatible)."""
        raise NotImplementedError

    def read_bytes(self, path: str) -> bytes:
        with self.open_input(path) as fh:
            return fh.read()

    def read_text(self, path: str, encoding: str = "utf-8") -> str:
        return self.read_bytes(path).decode(encoding)

    def size(self, path: str) -> int:
        raise NotImplementedError

    def mtime_ms(self, path: str) -> int:
        raise NotImplementedError

    # -- writes ----------------------------------------------------------
    def makedirs(self, path: str) -> None:
        raise NotImplementedError

    def write_atomic(self, path: str, data: bytes) -> None:
        """Create-or-replace; readers never observe partial content."""
        raise NotImplementedError

    def write_text_atomic(self, path: str, text: str) -> None:
        self.write_atomic(path, text.encode("utf-8"))

    def create_exclusive(self, path: str, data: bytes) -> None:
        """Atomic put-if-absent of FULLY-WRITTEN content; raises
        ``FileExistsError`` when the path already exists. The Delta
        commit primitive — losing a race must never tear the winner."""
        raise NotImplementedError

    def rename(self, src: str, dst: str) -> None:
        """Move src over dst (replace semantics, os.replace parity)."""
        raise NotImplementedError

    def remove(self, path: str) -> None:
        raise NotImplementedError

    def rmtree(self, path: str) -> None:
        for f in list(self.walk_files(path)):
            try:
                self.remove(f)
            except FileNotFoundError:
                pass

    # -- data-plane handoff ------------------------------------------------
    def spark_path(self, path: str) -> str:
        """URI Spark's Hadoop data plane can use for the same location
        (``s3://`` → ``s3a://`` etc.). Raises for stores with no data
        plane (memory)."""
        return path

    def executor_path(self, path: str) -> str:
        """Path an EXECUTOR-side Python reader/writer resolves without
        this driver's registry: local paths pass through, dir-prefix
        fakes translate to their local root, object-store URIs stay
        URIs (executors rebuild a pyarrow adapter from the scheme
        alone). Resolved driver-side before paths ship in partitions."""
        return path


class LocalFileSystem(FileSystem):
    """POSIX default — thin os/open wrappers, identical behavior to the
    pre-facade code paths."""

    scheme = ""

    def join(self, *parts: str) -> str:
        return os.path.join(*parts)

    def abspath(self, path: str) -> str:
        return os.path.abspath(path)

    def basename(self, path: str) -> str:
        return os.path.basename(path)

    def dirname(self, path: str) -> str:
        return os.path.dirname(path)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isfile(self, path: str) -> bool:
        return os.path.isfile(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        try:
            return os.listdir(path)
        except FileNotFoundError:
            return []

    def listdir_sizes(self, path: str) -> list[tuple[str, int]]:
        # one scandir: the dirent batch carries stat results, so sizing
        # a directory costs one syscall sweep, not a stat per name
        out = []
        try:
            with os.scandir(path) as it:
                for e in it:
                    try:
                        if e.is_file(follow_symlinks=True):
                            out.append((e.name, e.stat(follow_symlinks=True).st_size))
                    except OSError:
                        continue
        except FileNotFoundError:
            return []
        return out

    def walk_files(self, path: str) -> Iterator[str]:
        for root, _dirs, names in os.walk(path):
            for name in names:
                yield os.path.join(root, name)

    def existing_files(self, paths: Iterable[str]) -> set[str]:
        # one scandir sweep per shared directory (the dirent batch says
        # file-vs-dir for free), exact is_file semantics preserved
        by_dir: dict[str, list[str]] = {}
        for p in paths:
            by_dir.setdefault(os.path.dirname(p), []).append(p)
        out: set[str] = set()
        for d, cands in by_dir.items():
            if len(cands) < 8:
                out.update(p for p in cands if os.path.isfile(p))
                continue
            names: set[str] = set()
            try:
                with os.scandir(d) as it:
                    for e in it:
                        try:
                            if e.is_file(follow_symlinks=True):
                                names.add(e.name)
                        except OSError:
                            continue
            except FileNotFoundError:
                continue
            out.update(p for p in cands if os.path.basename(p) in names)
        return out

    def open_input(self, path: str) -> BinaryIO:
        return open(path, "rb")

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    def mtime_ms(self, path: str) -> int:
        return int(os.path.getmtime(path) * 1000)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def write_atomic(self, path: str, data: bytes) -> None:
        tmp = os.path.join(
            os.path.dirname(path), f".{os.path.basename(path)}.tmp-{uuid.uuid4().hex[:8]}"
        )
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, path)

    def create_exclusive(self, path: str, data: bytes) -> None:
        # write-then-hardlink: os.link is an atomic exclusive create of
        # the FULLY-WRITTEN file. A bare open('x') + write would let a
        # concurrent reader observe a torn half-written commit.
        tmp = os.path.join(
            os.path.dirname(path), f".{os.path.basename(path)}.tmp-{uuid.uuid4().hex[:8]}"
        )
        with open(tmp, "wb") as fh:
            fh.write(data)
        try:
            os.link(tmp, path)
        finally:
            os.unlink(tmp)

    def rename(self, src: str, dst: str) -> None:
        os.replace(src, dst)

    def remove(self, path: str) -> None:
        os.remove(path)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)


class MemoryFileSystem(FileSystem):
    """In-memory store with compare-and-set ``create_exclusive`` —
    driver-side only (no Spark data plane), for exercising the log
    layer's full metadata lifecycle hermetically in tests."""

    scheme = "mem"

    def __init__(self) -> None:
        self._files: dict[str, tuple[bytes, int]] = {}  # path -> (data, mtime_ms)
        self._lock = threading.Lock()

    def _norm(self, path: str) -> str:
        return path.rstrip("/")

    def exists(self, path: str) -> bool:
        p = self._norm(path)
        with self._lock:
            return p in self._files or any(
                f.startswith(p + "/") for f in self._files
            )

    def isfile(self, path: str) -> bool:
        with self._lock:
            return self._norm(path) in self._files

    def isdir(self, path: str) -> bool:
        p = self._norm(path) + "/"
        with self._lock:
            return any(f.startswith(p) for f in self._files)

    def listdir(self, path: str) -> list[str]:
        p = self._norm(path) + "/"
        names = set()
        with self._lock:
            for f in self._files:
                if f.startswith(p):
                    names.add(f[len(p):].split("/", 1)[0])
        return sorted(names)

    def open_input(self, path: str) -> BinaryIO:
        with self._lock:
            entry = self._files.get(self._norm(path))
        if entry is None:
            raise FileNotFoundError(path)
        return io.BytesIO(entry[0])

    def size(self, path: str) -> int:
        with self._lock:
            entry = self._files.get(self._norm(path))
        if entry is None:
            raise FileNotFoundError(path)
        return len(entry[0])

    def mtime_ms(self, path: str) -> int:
        with self._lock:
            entry = self._files.get(self._norm(path))
        if entry is None:
            raise FileNotFoundError(path)
        return entry[1]

    def set_mtime_ms(self, path: str, mtime_ms: int) -> None:
        """Test hook (ages files for retention-based cleanup)."""
        with self._lock:
            data, _ = self._files[self._norm(path)]
            self._files[self._norm(path)] = (data, mtime_ms)

    def makedirs(self, path: str) -> None:
        pass  # directories are implicit (object-store semantics)

    def _now_ms(self) -> int:
        import time

        return int(time.time() * 1000)

    def write_atomic(self, path: str, data: bytes) -> None:
        with self._lock:
            self._files[self._norm(path)] = (bytes(data), self._now_ms())

    def create_exclusive(self, path: str, data: bytes) -> None:
        p = self._norm(path)
        with self._lock:  # compare-and-set under one lock
            if p in self._files:
                raise FileExistsError(path)
            self._files[p] = (bytes(data), self._now_ms())

    def rename(self, src: str, dst: str) -> None:
        s, d = self._norm(src), self._norm(dst)
        with self._lock:
            if s not in self._files:
                raise FileNotFoundError(src)
            self._files[d] = self._files.pop(s)

    def remove(self, path: str) -> None:
        with self._lock:
            if self._norm(path) not in self._files:
                raise FileNotFoundError(path)
            del self._files[self._norm(path)]

    def spark_path(self, path: str) -> str:
        raise NotImplementedError(
            "mem:// has no Spark data plane — it hosts log metadata only"
        )

    def executor_path(self, path: str) -> str:
        raise NotImplementedError(
            "mem:// has no executor data plane — it hosts log metadata only"
        )


class PrefixFileSystem(FileSystem):
    """Dir-prefix fake: serves ``<scheme>://<name>/...`` from a local
    root while every metadata touch goes through the facade interface
    (and is counted). Its data plane is the translated local path, so
    Spark executors read/write the same bytes without consulting the
    registry — the test double proving the plumbing an object-store
    adapter would use."""

    def __init__(self, scheme: str, root: str) -> None:
        self.scheme = scheme
        self.root = os.path.abspath(root)
        self._local = LocalFileSystem()
        self.op_counts: dict[str, int] = {}

    def _count(self, op: str) -> None:
        self.op_counts[op] = self.op_counts.get(op, 0) + 1

    def to_local(self, path: str) -> str:
        m = _SCHEME_RE.match(path)
        if not m or m.group(1).lower() != self.scheme:
            raise ValueError(f"not a {self.scheme}:// path: {path}")
        rest = path[m.end():]
        return os.path.join(self.root, *[p for p in rest.split("/") if p])

    def from_local(self, local: str) -> str:
        rel = os.path.relpath(os.path.abspath(local), self.root)
        return f"{self.scheme}://" + rel.replace(os.sep, "/")

    # every operation counts itself then delegates to the local root
    def exists(self, path: str) -> bool:
        self._count("exists")
        return self._local.exists(self.to_local(path))

    def isfile(self, path: str) -> bool:
        self._count("isfile")
        return self._local.isfile(self.to_local(path))

    def isdir(self, path: str) -> bool:
        self._count("isdir")
        return self._local.isdir(self.to_local(path))

    def listdir(self, path: str) -> list[str]:
        self._count("listdir")
        return self._local.listdir(self.to_local(path))

    def listdir_sizes(self, path: str) -> list[tuple[str, int]]:
        # object-store LIST semantics: sizes ride the single LIST
        self._count("listdir")
        return self._local.listdir_sizes(self.to_local(path))

    def walk_files(self, path: str) -> Iterator[str]:
        self._count("walk_files")
        for f in self._local.walk_files(self.to_local(path)):
            yield self.from_local(f)

    def open_input(self, path: str) -> BinaryIO:
        self._count("open_input")
        return self._local.open_input(self.to_local(path))

    def size(self, path: str) -> int:
        self._count("size")
        return self._local.size(self.to_local(path))

    def mtime_ms(self, path: str) -> int:
        self._count("mtime_ms")
        return self._local.mtime_ms(self.to_local(path))

    def makedirs(self, path: str) -> None:
        self._count("makedirs")
        self._local.makedirs(self.to_local(path))

    def write_atomic(self, path: str, data: bytes) -> None:
        self._count("write_atomic")
        self._local.write_atomic(self.to_local(path), data)

    def create_exclusive(self, path: str, data: bytes) -> None:
        self._count("create_exclusive")
        try:
            self._local.create_exclusive(self.to_local(path), data)
        except FileExistsError:
            raise FileExistsError(path) from None

    def rename(self, src: str, dst: str) -> None:
        self._count("rename")
        self._local.rename(self.to_local(src), self.to_local(dst))

    def remove(self, path: str) -> None:
        self._count("remove")
        self._local.remove(self.to_local(path))

    def rmtree(self, path: str) -> None:
        self._count("rmtree")
        self._local.rmtree(self.to_local(path))

    def spark_path(self, path: str) -> str:
        self._count("spark_path")
        return self.to_local(path)

    def executor_path(self, path: str) -> str:
        self._count("executor_path")
        return self.to_local(path)


#: schemes already warned about non-atomic commit primitives (once per
#: scheme per process — the message is loud, not spammy)
_UNSAFE_COMMIT_WARNED: set[str] = set()


def warn_unsafe_commit_primitive(fs: FileSystem, path: str) -> None:
    """Called by an adapter whose ``create_exclusive`` is CHECK-THEN-PUT
    before it commits. Raises under ``JODIE_REQUIRE_ATOMIC_COMMITS``
    (multi-writer deployments set it so an unsafe adapter fails loudly
    instead of corrupting history); otherwise emits one prominent
    warning per scheme. ADVICE r9: get_fs() auto-serves object-store
    schemes with the pyarrow adapter, so the unsafety must surface at
    runtime, not only in docstrings."""
    msg = (
        f"jodie_spark: create_exclusive on '{fs.scheme}://' ({path}) is a "
        "NON-ATOMIC check-then-put — safe only with a SINGLE writer. Two "
        "concurrent committers can both 'win' _delta_log/N.json and one "
        "commit is silently lost. For multi-writer use, register an adapter "
        "with atomic put-if-absent (e.g. "
        "jodie_spark.fs.S3ConditionalPutFileSystem, which uses S3 "
        "conditional writes) via jodie_spark.fs.register_filesystem, or an "
        "external-coordination LogStore. Set JODIE_REQUIRE_ATOMIC_COMMITS=1 "
        "to refuse instead of warn."
    )
    if os.environ.get("JODIE_REQUIRE_ATOMIC_COMMITS", "").lower() in (
        "1",
        "true",
        "yes",
    ):
        raise RuntimeError(msg)
    if fs.scheme not in _UNSAFE_COMMIT_WARNED:
        _UNSAFE_COMMIT_WARNED.add(fs.scheme)
        import warnings

        warnings.warn(msg, UserWarning, stacklevel=3)


#: schemes whose pyarrow filesystem has a real atomic rename, so
#: write_atomic must go through temp+move (a direct stream write is
#: NOT atomic on hdfs — readers can observe a torn checkpoint);
#: object stores publish a PUT atomically on completion instead
_RENAME_ATOMIC_SCHEMES = {"hdfs"}


class ArrowFileSystem(FileSystem):
    """Adapter over ``pyarrow.fs`` for real object stores (s3://,
    gs://, hdfs://, abfs:// …). Listing/reads/atomic-replace map
    cleanly; ``create_exclusive`` is the one operation pyarrow cannot
    express atomically — S3 conditional puts (If-None-Match) are not
    surfaced by pyarrow.fs, so this adapter does CHECK-THEN-PUT and is
    therefore SINGLE-WRITER ONLY. Multi-writer deployments must
    register an adapter backed by a conditional-put client or an
    external LogStore (see module docstring). Constructed lazily so
    environments without the relevant pyarrow filesystem never pay an
    import."""

    def __init__(self, scheme: str) -> None:
        import pyarrow.fs as pafs

        self.scheme = scheme
        # FileSystem.from_uri picks the concrete store from the scheme
        self._pafs = pafs
        # one concrete filesystem per scheme://authority — metadata
        # replays issue hundreds of small calls, and re-running
        # from_uri per call would rebuild the store client (credential
        # and region resolution included) every time
        self._fs_cache: dict[str, object] = {}
        self._cache_lock = threading.Lock()

    def _resolve(self, path: str):
        m = _SCHEME_RE.match(path)
        rest = path[m.end():] if m else path
        authority = rest.partition("/")[0]
        key = f"{self.scheme}://{authority}"
        with self._cache_lock:
            cached = self._fs_cache.get(key)
        if cached is None:
            fs, inner = self._pafs.FileSystem.from_uri(path)
            # the inner-path spelling differs per store: bucket stores
            # keep the authority ("bucket/key"), host stores drop it
            # ("/path"), Azure rewrites it ("cont@acct.dfs…/p" →
            # "cont/p"). Record the prefix REWRITE once per authority
            # (common-suffix split) instead of guessing a rule — and
            # return from_uri's own inner for this first call verbatim.
            i = 0
            while i < min(len(rest), len(inner)) and rest[-1 - i] == inner[-1 - i]:
                i += 1
            pre_rest = rest[: len(rest) - i]
            pre_inner = inner[: len(inner) - i]
            with self._cache_lock:
                cached = self._fs_cache.setdefault(key, (fs, pre_rest, pre_inner))
            return cached[0], inner
        fs, pre_rest, pre_inner = cached
        if not rest.startswith(pre_rest):  # unexpected spelling: re-derive
            _fs2, inner = self._pafs.FileSystem.from_uri(path)
            return fs, inner
        return fs, pre_inner + rest[len(pre_rest):]

    def _info(self, path: str):
        fs, inner = self._resolve(path)
        return fs.get_file_info(inner)

    def exists(self, path: str) -> bool:
        return self._info(path).type != self._pafs.FileType.NotFound

    def isfile(self, path: str) -> bool:
        return self._info(path).type == self._pafs.FileType.File

    def isdir(self, path: str) -> bool:
        return self._info(path).type == self._pafs.FileType.Directory

    def listdir(self, path: str) -> list[str]:
        fs, inner = self._resolve(path)
        sel = self._pafs.FileSelector(inner, recursive=False, allow_not_found=True)
        return [i.base_name for i in fs.get_file_info(sel)]

    def listdir_sizes(self, path: str) -> list[tuple[str, int]]:
        # object-store LIST responses carry sizes — one round trip, no
        # HEAD-per-entry (the facade default's fallback shape)
        fs, inner = self._resolve(path)
        sel = self._pafs.FileSelector(inner, recursive=False, allow_not_found=True)
        return [
            (i.base_name, i.size if i.size is not None else -1)
            for i in fs.get_file_info(sel)
            if i.type == self._pafs.FileType.File
        ]

    def open_input(self, path: str) -> BinaryIO:
        fs, inner = self._resolve(path)
        return fs.open_input_file(inner)

    def size(self, path: str) -> int:
        return self._info(path).size

    def mtime_ms(self, path: str) -> int:
        mt = self._info(path).mtime
        return int(mt.timestamp() * 1000) if mt is not None else 0

    def makedirs(self, path: str) -> None:
        fs, inner = self._resolve(path)
        fs.create_dir(inner, recursive=True)

    #: check-then-put (see create_exclusive) — NOT safe multi-writer
    atomic_put_if_absent = False

    def write_atomic(self, path: str, data: bytes) -> None:
        fs, inner = self._resolve(path)
        if self.scheme in _RENAME_ATOMIC_SCHEMES:
            # hdfs: a direct stream write is visible mid-write — stage
            # to a temp name and atomically rename into place (ADVICE
            # r9). Object stores fall through: a PUT publishes
            # atomically on completion and they have no atomic rename.
            tmp = inner + f".tmp-{uuid.uuid4().hex[:8]}"
            with fs.open_output_stream(tmp) as out:
                out.write(data)
            try:
                fs.move(tmp, inner)
            except Exception:
                try:
                    fs.delete_file(tmp)
                except Exception:
                    pass  # report the move failure, not the cleanup's
                raise
            return
        with fs.open_output_stream(inner) as out:
            out.write(data)

    def create_exclusive(self, path: str, data: bytes) -> None:
        # NON-ATOMIC check-then-put — single-writer only (see class
        # doc). pyarrow.fs does not surface conditional puts; warn (or
        # refuse under JODIE_REQUIRE_ATOMIC_COMMITS) so multi-writer
        # deployments cannot silently lose commits.
        warn_unsafe_commit_primitive(self, path)
        if self.exists(path):
            raise FileExistsError(path)
        self.write_atomic(path, data)

    def rename(self, src: str, dst: str) -> None:
        fs, inner_src = self._resolve(src)
        _fs2, inner_dst = self._resolve(dst)
        try:
            fs.move(inner_src, inner_dst)
        except NotImplementedError:  # stores without rename: copy+delete
            with fs.open_input_file(inner_src) as r, fs.open_output_stream(
                inner_dst
            ) as w:
                shutil.copyfileobj(r, w)
            fs.delete_file(inner_src)

    def remove(self, path: str) -> None:
        fs, inner = self._resolve(path)
        fs.delete_file(inner)

    def spark_path(self, path: str) -> str:
        # Hadoop's S3 connector uses the s3a scheme
        if path.startswith("s3://"):
            return "s3a://" + path[len("s3://"):]
        return path

    def _readback_matches(self, path: str, data: bytes) -> bool:
        """Ambiguous-commit disambiguation for the conditional-put
        subclasses: when a transient fault (5xx/429) was retried and the
        store then answers "already exists", the FAULTED attempt may
        have actually landed server-side. Read the live object through
        the data plane and compare — byte-identical means OUR commit
        won and the committer must NOT re-commit the same actions at
        N+1 (duplicate commit). Any read failure degrades to False
        (treated as a genuine lost race, today's behavior)."""
        try:
            return self.read_bytes(path) == bytes(data)
        except Exception:  # noqa: BLE001 — auth/consistency/transport
            return False


class S3ConditionalPutFileSystem(ArrowFileSystem):
    """ArrowFileSystem whose commit primitive is a TRUE atomic
    put-if-absent via S3 conditional writes (``If-None-Match: *``,
    generally available on S3 since late 2024; also honored by
    S3-compatible stores like MinIO and R2). Every other operation
    (list, read, checkpoint PUTs) stays on the pyarrow data path; only
    ``create_exclusive`` goes through the conditional-put client, which
    is exactly the Delta commit protocol's requirement.

    Opt-in (safety decisions stay explicit)::

        from jodie_spark import fs
        fs.register_filesystem("s3", lambda: fs.S3ConditionalPutFileSystem())

    ``client`` injection exists for tests (any object with S3's
    ``put_object(Bucket=, Key=, Body=, IfNoneMatch=)`` shape); the
    default lazily builds a boto3 client, raising a clear error where
    boto3 is absent — this engine never silently downgrades to
    check-then-put."""

    atomic_put_if_absent = True

    def __init__(self, scheme: str = "s3", client=None) -> None:
        super().__init__(scheme)
        self._client = client

    def _s3_client(self):
        if self._client is None:
            try:
                import boto3  # gated: not a hard dependency
            except ImportError as e:
                raise RuntimeError(
                    "S3ConditionalPutFileSystem needs boto3 for conditional "
                    "puts (pyarrow.fs cannot express If-None-Match). Install "
                    "boto3, or inject a client with the put_object shape."
                ) from e
            self._client = boto3.client("s3")
        return self._client

    @staticmethod
    def _bucket_key(path: str) -> tuple[str, str]:
        m = _SCHEME_RE.match(path)
        rest = path[m.end():] if m else path
        bucket, _, key = rest.partition("/")
        return bucket, key

    # S3's documented transient/throttle error codes (retry guidance:
    # bounded backoff with jitter); precondition codes are the race
    # answer and never retried
    _TRANSIENT_CODES = frozenset(
        {"SlowDown", "Throttling", "ThrottlingException", "InternalError",
         "ServiceUnavailable", "RequestTimeout", "503", "500"}
    )

    def create_exclusive(self, path: str, data: bytes) -> None:
        import time as _time

        bucket, key = self._bucket_key(path)
        body = bytes(data)
        saw_transient = False
        attempt = 0
        while True:
            try:
                self._s3_client().put_object(
                    Bucket=bucket, Key=key, Body=body, IfNoneMatch="*"
                )
                return
            except Exception as e:  # botocore ClientError without importing it
                resp = getattr(e, "response", None) or {}
                code = str((resp.get("Error") or {}).get("Code", ""))
                status = (resp.get("ResponseMetadata") or {}).get("HTTPStatusCode")
                if code in ("PreconditionFailed", "ConditionalRequestConflict") or (
                    status in (412, 409)
                ):
                    # 412 = object exists (we lost the commit race);
                    # 409 = another conditional write in flight — either
                    # way this writer must re-read the log and retry at
                    # N+1. EXCEPT when a retried transient fault
                    # preceded: the faulted attempt may have landed, so
                    # byte-compare before conceding (duplicate-commit
                    # hazard — see _readback_matches)
                    if saw_transient and self._readback_matches(path, body):
                        return
                    raise FileExistsError(path) from None
                # no response at all (socket timeout/reset) is the
                # AMBIGUOUS fault: the PUT may have landed and the
                # answer was lost — retry, and let the 412-readback
                # disambiguation decide if the object then "exists"
                no_response = not resp
                transient = no_response or code in self._TRANSIENT_CODES or (
                    status in _TRANSIENT_PUT_STATUSES
                )
                attempt += 1
                if not transient or attempt >= _PUT_RETRY_ATTEMPTS:
                    raise
                saw_transient = True
                _time.sleep(_transient_put_backoff(attempt))


_CONDITIONAL_PUT_TIMEOUT_S = 60.0

# transient-fault retry for the conditional-put commit primitive
# (VERDICT r12 item 4). All three stores document retry-with-backoff for
# these statuses (S3 503 SlowDown / 500 InternalError, GCS 429/5xx,
# Azure 500/503); 412/409 are SEMANTIC answers (the race outcome) and
# are NEVER retried. Bounded attempts + full jitter per the stores'
# published guidance.
_TRANSIENT_PUT_STATUSES = frozenset({429, 500, 502, 503})
_PUT_RETRY_ATTEMPTS = 4  # 1 initial + 3 retries
_PUT_RETRY_BASE_S = 0.2
_PUT_RETRY_CAP_S = 2.0


def _transient_put_backoff(attempt: int) -> float:
    """Full-jitter exponential backoff delay for retry ``attempt``
    (1-based): uniform in [0, min(cap, base * 2^attempt)]."""
    import random

    return random.uniform(0.0, min(_PUT_RETRY_CAP_S, _PUT_RETRY_BASE_S * (2 ** attempt)))


def _put_with_transient_retry(
    http_put: "Callable[[str, bytes, dict[str, str]], tuple[int, bytes]]",
    url: str,
    data: bytes,
    headers: dict[str, str],
) -> tuple[int, bytes, bool]:
    """Issue the conditional PUT, retrying 429/500/502/503 — and
    connection-level faults (timeout/reset, surfaced as OSError with no
    HTTP status at all) — with bounded jittered backoff. Returns
    ``(status, body, saw_transient)``: the final status is NEVER a
    retried one unless attempts ran out, and 412/409 short-circuit
    immediately (they are the race answer, not a fault).
    ``saw_transient`` lets the caller disambiguate a 412/409 that
    follows a fault: the faulted attempt may have actually landed
    server-side (ambiguous failure — ESPECIALLY a lost response on a
    PUT that committed), in which case blindly reporting lost-race
    would make the committer re-commit the SAME actions at N+1 — a
    duplicate commit. Callers read the object back and treat a
    byte-identical body as success."""
    import time as _time

    saw_transient = False
    attempt = 0
    while True:
        try:
            status, body = http_put(url, data, headers)
        except OSError:
            # connection-level fault: the request may or may not have
            # reached the store (the classic ambiguous PUT) — same
            # retry-then-disambiguate treatment as an HTTP 5xx
            attempt += 1
            if attempt >= _PUT_RETRY_ATTEMPTS:
                raise
            saw_transient = True
            _time.sleep(_transient_put_backoff(attempt))
            continue
        if status not in _TRANSIENT_PUT_STATUSES:
            return status, body, saw_transient
        attempt += 1
        if attempt >= _PUT_RETRY_ATTEMPTS:
            return status, body, saw_transient
        saw_transient = True
        _time.sleep(_transient_put_backoff(attempt))


def _http_conditional_put(
    url: str, data: bytes, headers: dict[str, str]
) -> tuple[int, bytes]:
    """One PUT via the stdlib HTTP stack; returns (status, body).
    Never raises on HTTP error statuses — callers map them. Kept SDK-
    free so the GCS/ABFS adapters work wherever Python does; inject
    ``http_put`` on the adapters to route through an SDK instead.
    Bounded by a socket timeout: a hung store endpoint must surface as
    an error the committer can retry, not block the commit forever."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(url, data=data, headers=headers, method="PUT")
    try:
        with urllib.request.urlopen(  # noqa: S310 — adapter URL
            req, timeout=_CONDITIONAL_PUT_TIMEOUT_S
        ) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


class GcsConditionalPutFileSystem(ArrowFileSystem):
    """ArrowFileSystem whose commit primitive is a TRUE atomic
    put-if-absent via GCS preconditions: an XML-API object PUT carrying
    ``x-goog-if-generation-match: 0`` succeeds only when the object
    does not exist (generation 0), the server-side equivalent of S3's
    ``If-None-Match: *``. A lost race answers **412 Precondition
    Failed**, surfaced as :class:`FileExistsError` so the committer
    re-reads the log and retries at N+1. Every other operation (list,
    read, checkpoint PUTs) stays on the pyarrow gs:// data path.

    Opt-in, mirroring :class:`S3ConditionalPutFileSystem`::

        from jodie_spark import fs
        fs.register_filesystem("gs", lambda: fs.GcsConditionalPutFileSystem(
            auth_headers=lambda: {"Authorization": f"Bearer {token()}"}))

    ``auth_headers`` is a callable returning the per-request auth
    headers (OAuth bearer token — callers own refresh); ``endpoint``
    and ``http_put`` exist for tests and private emulators. No
    google-cloud SDK is required: the conditional PUT is one stdlib
    HTTP request, and this engine never silently downgrades to
    check-then-put."""

    atomic_put_if_absent = True

    def __init__(
        self,
        scheme: str = "gs",
        *,
        endpoint: str = "https://storage.googleapis.com",
        auth_headers: Callable[[], dict[str, str]] | None = None,
        http_put: Callable[[str, bytes, dict[str, str]], tuple[int, bytes]] | None = None,
    ) -> None:
        super().__init__(scheme)
        self._endpoint = endpoint.rstrip("/")
        self._auth_headers = auth_headers
        self._http_put = http_put or _http_conditional_put

    def create_exclusive(self, path: str, data: bytes) -> None:
        import urllib.parse

        m = _SCHEME_RE.match(path)
        rest = path[m.end():] if m else path
        bucket, _, key = rest.partition("/")
        url = f"{self._endpoint}/{bucket}/{urllib.parse.quote(key)}"
        headers = {
            "x-goog-if-generation-match": "0",
            "Content-Type": "application/octet-stream",
        }
        if self._auth_headers is not None:
            headers.update(self._auth_headers())
        status, body, saw_transient = _put_with_transient_retry(
            self._http_put, url, bytes(data), headers
        )
        if status == 412 and saw_transient and self._readback_matches(path, data):
            return  # the faulted attempt landed: this commit IS ours
        if status == 412:
            # precondition failed = the object exists: this writer lost
            # the commit race. GCS signals races ONLY via 412 — a 409 is
            # a bucket-level conflict (e.g. concurrent bucket op), NOT a
            # lost commit, and must surface as an error, not a silent
            # retry at N+1 (ADVICE r12; the 409-as-race mapping is
            # correct for ABFS, where 409 BlobAlreadyExists is the
            # documented answer)
            raise FileExistsError(path)
        if status >= 300:
            raise OSError(
                f"GCS conditional put of {path} failed: HTTP {status} "
                f"{body[:200]!r}"
            )


class AbfsConditionalPutFileSystem(ArrowFileSystem):
    """ArrowFileSystem whose commit primitive is a TRUE atomic
    put-if-absent via Azure Blob preconditions: a Put Blob request
    carrying ``If-None-Match: *`` succeeds only when the blob does not
    exist. A lost race answers **409 BlobAlreadyExists** (or 412
    ConditionNotMet from the DFS endpoint), surfaced as
    :class:`FileExistsError`. Data plane stays pyarrow's abfs://.

    Opt-in::

        from jodie_spark import fs
        fs.register_filesystem("abfss", lambda: fs.AbfsConditionalPutFileSystem(
            "abfss", auth_headers=lambda: {"Authorization": f"Bearer {token()}"}))

    Parses the ABFS URI convention
    ``abfs[s]://{container}@{account}.dfs.core.windows.net/{key}`` and
    PUTs to the account's **blob** endpoint (the Blob and DFS surfaces
    share the flat namespace; conditional Put Blob is the documented
    precondition primitive). ``endpoint`` overrides the derived
    ``https://{account}.blob.core.windows.net`` for tests/emulators;
    ``auth_headers`` supplies bearer/SAS auth per request."""

    atomic_put_if_absent = True

    def __init__(
        self,
        scheme: str = "abfss",
        *,
        endpoint: str | None = None,
        auth_headers: Callable[[], dict[str, str]] | None = None,
        http_put: Callable[[str, bytes, dict[str, str]], tuple[int, bytes]] | None = None,
    ) -> None:
        super().__init__(scheme)
        self._endpoint = endpoint.rstrip("/") if endpoint else None
        self._auth_headers = auth_headers
        self._http_put = http_put or _http_conditional_put

    @staticmethod
    def _container_account_key(path: str) -> tuple[str, str, str]:
        m = _SCHEME_RE.match(path)
        rest = path[m.end():] if m else path
        authority, _, key = rest.partition("/")
        container, _, host = authority.partition("@")
        account = host.partition(".")[0]
        if not container or not account:
            raise ValueError(
                f"not an abfs URI (want abfs[s]://container@account.dfs."
                f"core.windows.net/key): {path}"
            )
        return container, account, key

    def create_exclusive(self, path: str, data: bytes) -> None:
        import urllib.parse

        container, account, key = self._container_account_key(path)
        base = self._endpoint or f"https://{account}.blob.core.windows.net"
        url = f"{base}/{container}/{urllib.parse.quote(key)}"
        headers = {
            "If-None-Match": "*",
            "x-ms-blob-type": "BlockBlob",
            "x-ms-version": "2021-08-06",
            "Content-Type": "application/octet-stream",
        }
        if self._auth_headers is not None:
            headers.update(self._auth_headers())
        status, body, saw_transient = _put_with_transient_retry(
            self._http_put, url, bytes(data), headers
        )
        if (
            status in (409, 412)
            and saw_transient
            and self._readback_matches(path, data)
        ):
            return  # the faulted attempt landed: this commit IS ours
        if status == 409 or status == 412:
            # 409 BlobAlreadyExists / 412 ConditionNotMet — lost the race
            # (Azure's documented answers for an If-None-Match:* Put Blob)
            raise FileExistsError(path)
        if status >= 300:
            raise OSError(
                f"ABFS conditional put of {path} failed: HTTP {status} "
                f"{body[:200]!r}"
            )


class S3SemanticsFileSystem(PrefixFileSystem):
    """Object-store-semantics test double over a local root: implicit
    directories (``makedirs`` is a no-op; writes create parents), NO
    rename (server-side copy + delete, S3's only move), strongly
    consistent list-after-put (S3 since Dec 2020), and a commit
    primitive that is either a true conditional put
    (``conditional_put=True`` — If-None-Match semantics, atomic via the
    local O_EXCL link) or an UNSAFE check-then-put
    (``conditional_put=False``) for exercising the multi-writer warning
    path. Data plane stays the translated local path so Spark executors
    run the real lifecycle against it (VERDICT r9 item 6)."""

    def __init__(self, scheme: str, root: str, conditional_put: bool = True) -> None:
        super().__init__(scheme, root)
        self.atomic_put_if_absent = bool(conditional_put)

    def makedirs(self, path: str) -> None:
        self._count("makedirs")  # directories are implicit key prefixes

    def _ensure_parent(self, local: str) -> None:
        os.makedirs(os.path.dirname(local), exist_ok=True)

    def write_atomic(self, path: str, data: bytes) -> None:
        self._count("write_atomic")
        local = self.to_local(path)
        self._ensure_parent(local)
        self._local.write_atomic(local, data)  # a PUT replaces atomically

    def create_exclusive(self, path: str, data: bytes) -> None:
        self._count("create_exclusive")
        local = self.to_local(path)
        self._ensure_parent(local)
        if self.atomic_put_if_absent:
            try:
                # os.link-based exclusive create = If-None-Match: the
                # existence check and the publish are ONE atomic op
                self._local.create_exclusive(local, data)
            except FileExistsError:
                raise FileExistsError(path) from None
            return
        warn_unsafe_commit_primitive(self, path)
        if self._local.exists(local):
            raise FileExistsError(path)
        self._local.write_atomic(local, data)

    def rename(self, src: str, dst: str) -> None:
        # S3 cannot move: COPY to the new key, then DELETE the old —
        # non-atomic, acceptable only for uuid-named staging files no
        # reader references until the log commit lands (module doc)
        self._count("rename")
        data = self._local.read_bytes(self.to_local(src))
        self.write_atomic(dst, data)
        self._local.remove(self.to_local(src))


_LOCAL = LocalFileSystem()
_REGISTRY: dict[str, FileSystem | Callable[[], FileSystem]] = {}
_REGISTRY_LOCK = threading.Lock()


def register_filesystem(scheme: str, fs: FileSystem | Callable[[], FileSystem]) -> None:
    """Register an instance (or lazy factory) for ``scheme://`` paths.
    Re-registering replaces — tests install fresh fakes per run."""
    with _REGISTRY_LOCK:
        _REGISTRY[scheme.lower()] = fs


def unregister_filesystem(scheme: str) -> None:
    with _REGISTRY_LOCK:
        _REGISTRY.pop(scheme.lower(), None)


#: schemes ArrowFileSystem can serve without explicit registration
_ARROW_SCHEMES = {"s3", "gs", "gcs", "hdfs", "abfs", "abfss"}


def get_fs(path: str) -> FileSystem:
    """Filesystem serving ``path``: local for plain/`file://` paths,
    a registered adapter for its scheme, or a lazily-built pyarrow
    adapter for well-known object-store schemes."""
    scheme = path_scheme(path)
    if scheme is None or scheme == "file":
        return _LOCAL
    with _REGISTRY_LOCK:
        entry = _REGISTRY.get(scheme)
    if isinstance(entry, FileSystem):
        return entry
    if entry is None:
        if scheme not in _ARROW_SCHEMES:
            raise ValueError(
                f"no filesystem registered for scheme '{scheme}://' — "
                f"register one with jodie_spark.fs.register_filesystem"
            )
        entry = lambda: ArrowFileSystem(scheme)  # noqa: E731
    # build OUTSIDE the lock (a factory may itself consult the
    # registry, and credential resolution can be slow), then
    # compare-and-swap: racing first-touch threads may each build an
    # instance, but exactly one registers and ALL return that one —
    # a per-thread instance would split the store the CAS commit
    # primitive lives in
    built = entry()
    with _REGISTRY_LOCK:
        current = _REGISTRY.get(scheme)
        if isinstance(current, FileSystem):
            return current
        _REGISTRY[scheme] = built
    return built


def strip_file_scheme(path: str) -> str:
    return path[len("file://"):] if path.startswith("file://") else path


def add_path_key(table_path: str, add_rel_path_quoted: str) -> str:
    """Canonical dict key for a log add-path, matching
    :func:`scanned_path_key`'s spelling of the same file. One shared
    normalization — the Delta percent-encoding and the
    local-vs-data-plane split are exactly where hand-rolled variants
    have diverged before (ADVICE.md; round-9 review). Spark-plane
    (``spark_path``) because ``_metadata.file_path`` values come from
    Spark's scan of spark-plane paths."""
    import urllib.parse

    fs = get_fs(table_path)
    p = fs.spark_path(fs.join(table_path, urllib.parse.unquote(add_rel_path_quoted)))
    return os.path.realpath(p) if path_scheme(p) is None else p


def scanned_path_key(fp: str) -> str:
    """Canonical key for a Spark ``_metadata.file_path`` /
    ``input_file_name()`` value: local URIs realpath'd + unquoted,
    store URIs kept scheme+authority with the path part unquoted —
    always comparable to :func:`add_path_key` of the same file."""
    import urllib.parse

    parsed = urllib.parse.urlparse(fp)
    if parsed.scheme in ("", "file"):
        return os.path.realpath(urllib.parse.unquote(parsed.path or fp))
    return f"{parsed.scheme}://{parsed.netloc}{urllib.parse.unquote(parsed.path)}"
