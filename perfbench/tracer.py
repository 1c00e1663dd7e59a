"""In-memory span and counter tracing for the benchmark's traced run.

The tracer wraps the public entry points of each engine layer from the
outside: class methods of ``DeltaLog``, ``DeltaTable``,
``DeltaMergeBuilder`` and ``OptimizeBuilder``, the module functions
``plan_candidate_files`` and ``write_data_files``, and the methods of
the filesystem object ``jodie_spark.fs.get_fs`` returns. Nothing inside
the package changes. (py4j commands and Spark jobs are counted in every
run, traced or not, by ``run.py``.)

``install()`` must run before ``jodie_spark.tables.table`` or
``jodie_spark.tables.merge`` is imported: both bind ``write_data_files``
with ``from ... import``, so a wrapper set on the writer module later
would not be seen by them. ``install()`` refuses to run once they are
loaded.

Spans stay in memory (a list of tuples) and are only aggregated, by
``totals_ms`` and ``self_ms_by_layer``, when the run ends. A span records
its name, thread, start, end and the index of its parent span on the
same thread, so each layer's self time is its duration minus the time
its direct child spans cover. Wrappers are installed disabled; setting
``enabled`` starts recording, so a run can measure untraced and traced
phases in one process with the same code loaded.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import Counter, defaultdict
from typing import Any, Callable

# span name -> layer used for self-time accounting
LAYER_OF = {
    "op": "op",
    "log.snapshot": "log",
    "log.commit": "log",
    "log.checkpoint": "log",
    "plan": "plan",
    "dml": "dml",
    "merge": "merge",
    "writer": "writer",
}

FS_KINDS = {
    "listdir": "list",
    "listdir_sizes": "list",
    "walk_files": "list",
    "existing_files": "list",
    "open_input": "read",
    "read_bytes": "read",
    "read_text": "read",
    "write_atomic": "write",
    "write_text_atomic": "write",
    "create_exclusive": "write",
    "rename": "write",
    "remove": "write",
}


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple[str, int, float, float, int]] = []
        self.counters: Counter[str] = Counter()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._installed = False
        self.plan_total_cache: dict[tuple[str, int], int] = {}

    # -- recording -----------------------------------------------------

    def _state(self):
        st = self._local
        if not hasattr(st, "stack"):
            st.stack = []  # indices of open spans on this thread
            st.quiet = 0  # >0 while the tracer itself calls the engine
            st.fs_depth = 0
        return st

    def add(self, name: str, value: float = 1) -> None:
        if self.enabled and not self._state().quiet:
            with self._lock:
                self.counters[name] += value

    def span(self, name: str):
        return _Span(self, name)

    def quiet(self):
        """Context in which engine calls made by the tracer itself are
        neither spanned nor counted."""
        return _Quiet(self)

    # -- wrapping ------------------------------------------------------

    def _wrap(self, owner: Any, attr: str, span_name: str, after: Callable | None = None):
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled or tracer._state().quiet:
                return fn(*args, **kwargs)
            with tracer.span(span_name):
                out = fn(*args, **kwargs)
            if after is not None:
                with tracer.quiet():
                    after(args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap every layer entry point. Must precede the first import
        of ``jodie_spark.tables.table`` and ``jodie_spark.tables.merge``."""
        if self._installed:
            return
        for mod in ("jodie_spark.tables.table", "jodie_spark.tables.merge"):
            if mod in sys.modules:
                raise RuntimeError(f"tracer.install() must run before {mod} is imported")
        from jodie_spark import fs as fs_mod
        from jodie_spark.tables import writer as writer_mod

        # writer first: table and merge bind write_data_files at import
        self._wrap(writer_mod, "write_data_files", "writer", after=self._after_write)

        from jodie_spark.tables import log as log_mod
        from jodie_spark.tables import merge as merge_mod
        from jodie_spark.tables import table as table_mod

        DeltaLog = log_mod.DeltaLog
        self._wrap(DeltaLog, "snapshot", "log.snapshot", after=self._count("log.snapshot_calls"))
        self._wrap(DeltaLog, "table_info", "log.snapshot", after=self._count("log.snapshot_calls"))
        self._wrap(DeltaLog, "commit", "log.commit", after=self._count("log.commits"))
        self._wrap(
            DeltaLog, "write_checkpoint", "log.checkpoint", after=self._count("log.checkpoints")
        )
        self._wrap(table_mod, "plan_candidate_files", "plan", after=self._after_plan)
        for name in ("delete", "update", "vacuum"):
            self._wrap(table_mod.DeltaTable, name, "dml")
        self._wrap(table_mod.OptimizeBuilder, "executeCompaction", "dml")
        self._wrap(merge_mod.DeltaMergeBuilder, "execute", "merge", after=self._after_merge)

        # the local facade is one shared object: wrapping its bound
        # methods catches every caller, however it imported get_fs
        fs_obj = fs_mod.get_fs("/")
        for meth, kind in FS_KINDS.items():
            self._wrap_fs(fs_obj, meth, kind)
        self._installed = True

    def _wrap_fs(self, fs_obj: Any, meth: str, kind: str) -> None:
        fn = getattr(fs_obj, meth)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            st = tracer._state()
            # count the outermost facade call only (read_text calls
            # read_bytes calls open_input on the same object)
            if st.fs_depth == 0:
                tracer.add(f"fs.{kind}_calls")
            st.fs_depth += 1
            try:
                return fn(*args, **kwargs)
            finally:
                st.fs_depth -= 1

        setattr(fs_obj, meth, wrapper)

    # -- per-call extractors (run with the tracer quiet) -----------------

    def _count(self, counter: str):
        def after(args, kwargs, out):
            with self._lock:
                self.counters[counter] += 1

        return after

    def _after_write(self, args, kwargs, adds) -> None:
        with self._lock:
            self.counters["writer.files"] += len(adds)
            self.counters["writer.bytes"] += sum(int(a.get("size") or 0) for a in adds)

    def _after_plan(self, args, kwargs, cands) -> None:
        from jodie_spark.tables.log import DeltaLog

        table_path = args[1] if len(args) > 1 else kwargs["table_path"]
        log = DeltaLog(table_path)
        key = (log.table_path, log.latest_version())
        total = self.plan_total_cache.get(key)
        if total is None:
            total = log.snapshot(key[1]).num_files()
            self.plan_total_cache[key] = total
        with self._lock:
            self.counters["plan.files_kept"] += len(cands)
            self.counters["plan.files_total"] += total

    def _after_merge(self, args, kwargs, out) -> None:
        builder = args[0]
        log = builder.table.deltaLog
        metrics: dict[str, str] = {}
        for action in log.read_actions(log.latest_version()):
            if action.get("commitInfo"):
                metrics = action["commitInfo"].get("operationMetrics") or {}
        changed = sum(
            int(metrics.get(k, 0))
            for k in ("numTargetRowsUpdated", "numTargetRowsDeleted", "numTargetRowsInserted")
        )
        with self._lock:
            self.counters["merge.files_removed"] += int(metrics.get("numTargetFilesRemoved", 0))
            self.counters["merge.files_added"] += int(metrics.get("numTargetFilesAdded", 0))
            self.counters["merge.rows_copied"] += int(metrics.get("numTargetRowsCopied", 0))
            self.counters["merge.rows_changed"] += changed

    # -- aggregation -----------------------------------------------------

    def totals_ms(self) -> dict[str, float]:
        """Inclusive ms per span name, counting only spans not nested in
        a span of the same name (table_info inside snapshot, say)."""
        out: dict[str, float] = defaultdict(float)
        spans = self.spans
        for name, _tid, t0, t1, parent in spans:
            p = parent
            while p >= 0 and spans[p][0] != name:
                p = spans[p][4]
            if p < 0:
                out[name] += (t1 - t0) * 1000.0
        return out

    def self_ms_by_layer(self) -> dict[str, float]:
        child_ms = [0.0] * len(self.spans)
        for name, _tid, t0, t1, parent in self.spans:
            if parent >= 0:
                child_ms[parent] += t1 - t0
        out: dict[str, float] = defaultdict(float)
        for i, (name, _tid, t0, t1, _p) in enumerate(self.spans):
            out[LAYER_OF.get(name, name)] += (t1 - t0 - child_ms[i]) * 1000.0
        return out


class _Span:
    __slots__ = ("tracer", "name", "idx", "t0")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        tr = self.tracer
        if not tr.enabled:
            self.idx = None
            return self
        st = tr._state()
        parent = st.stack[-1] if st.stack else -1
        with tr._lock:
            self.idx = len(tr.spans)
            tr.spans.append((self.name, threading.get_ident(), 0.0, 0.0, parent))
        st.stack.append(self.idx)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        if self.idx is None:
            return False
        t1 = time.perf_counter()
        tr = self.tracer
        tr._state().stack.pop()
        name, tid, _, _, parent = tr.spans[self.idx]
        tr.spans[self.idx] = (name, tid, self.t0, t1, parent)
        return False


class _Quiet:
    __slots__ = ("tracer",)

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def __enter__(self):
        self.tracer._state().quiet += 1
        return self

    def __exit__(self, *exc):
        self.tracer._state().quiet -= 1
        return False
