"""In-memory spans around the engine's public functions.

A :class:`Tracer` wraps module and class attributes of the engine (see
:data:`WRAPPED`) without editing any program file. Each span records its
id, parent, name and start/end; a span that may start Spark jobs also sets
the Spark job group to ``span-<id>`` on entry and restores its parent's
group on exit, so the event log can charge every job to the innermost
span (``perfbench/eventlog.py``).

Spans are recorded for the thread that installed the tracer only, which
keeps the span tree strictly nested: a layer's self time is then its
duration minus the summed duration of its children. Calls made from other
threads (the driver-side stats and bloom pools) are counted per span name
in :attr:`Tracer.offthread` instead.
"""

from __future__ import annotations

import functools
import importlib
import threading
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "techtalk_data_pipeline_snowpark_spark"

# (module, attribute path, span name, may start Spark jobs)
WRAPPED = [
    (f"{PKG}.cdc.engine", "CdcEngine.apply_epoch", "cdc.epoch", True),
    # bound by name in cdc/engine.py, so wrapped there
    (f"{PKG}.cdc.engine", "merge_into", "lake.merge", True),
    (f"{PKG}.cdc.engine", "reconcile", "cdc.reconcile", True),
    # imported lazily at each call site, so the module attribute is the seam
    (f"{PKG}.lake.merge", "mor_delete_keys", "lake.merge.mor_delete", True),
    (f"{PKG}.lake.stats", "enrich_adds_with_stats", "lake.enrich.driver", True),
    (f"{PKG}.lake.diststats", "enrich_adds_distributed", "lake.enrich.distributed", True),
    (f"{PKG}.lake.bloom", "enrich_adds_with_blooms", "lake.enrich.blooms", True),
    (f"{PKG}.lake.bloom", "surviving_files_by_bloom", "lake.bloom.probe", True),
    (f"{PKG}.lake.table", "LakeTable.snapshot", "lake.table.snapshot", False),
    (f"{PKG}.lake.table", "LakeTable.commit_rewrite", "lake.table.commit", False),
    (f"{PKG}.lake.table", "LakeTable.compact", "lake.table.compact", True),
    (f"{PKG}.lake.changefeed", "ChangelogCursor.poll", "lake.changefeed.poll", True),
    (f"{PKG}.lake.ivm", "IncrementalAggView.refresh", "lake.ivm.refresh", True),
    (f"{PKG}.lake.store", "PosixStore.put_if_absent", "lake.store.put", False),
    (f"{PKG}.lake.store", "PosixStore.finalize", "lake.store.finalize", False),
    (f"{PKG}.lake.store", "PosixStore.read_bytes", "lake.store.read", False),
]


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float  # perf_counter seconds
    jobs: bool = True  # may start Spark jobs, so owns a job group
    end: float = 0.0
    wall_start_ms: float = 0.0  # epoch ms, comparable with event-log times
    wall_end_ms: float = 0.0
    error: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark_context):
        self._sc = spark_context
        self._thread = threading.get_ident()
        self._stack: list[Span] = []
        self._next_id = 0
        self._patches: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()
        self.spans: list[Span] = []
        self.offthread: Counter = Counter()
        self.enabled = False

    # ------------------------------------------------------------ spans
    def _set_group(self, span: Span | None) -> None:
        # None removes the property: jobs outside every span stay ungrouped
        self._sc.setLocalProperty(
            "spark.jobGroup.id", None if span is None else f"span-{span.id}"
        )

    @contextmanager
    def span(self, name: str, jobs: bool = True, **attrs):
        """Record one span; a no-op yielding None while tracing is off or
        on a thread other than the installing one."""
        if not self.enabled or threading.get_ident() != self._thread:
            if self.enabled:
                with self._lock:
                    self.offthread[name] += 1
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(self._next_id, parent.id if parent else None, name, 0.0, jobs, attrs=attrs)
        self._next_id += 1
        # the job group is "span-<id> of the innermost span that may start
        # jobs": spans that never start one (store, snapshot, commit) skip
        # the py4j round trip and leave the parent's group in place
        if jobs:
            self._set_group(sp)
        self._stack.append(sp)
        sp.wall_start_ms = time.time() * 1000.0
        sp.start = time.perf_counter()
        try:
            yield sp
        except BaseException as e:
            sp.error = type(e).__name__
            raise
        finally:
            sp.end = time.perf_counter()
            sp.wall_end_ms = time.time() * 1000.0
            self._stack.pop()
            if jobs:
                self._set_group(self._group_owner())
            self.spans.append(sp)

    def _group_owner(self) -> Span | None:
        for sp in reversed(self._stack):
            if sp.jobs:
                return sp
        return None

    # --------------------------------------------------------- wrapping
    def install(self) -> None:
        for mod_name, path, name, jobs in WRAPPED:
            mod = importlib.import_module(mod_name)
            owner_path, _, attr = path.rpartition(".")
            owner = mod
            for part in filter(None, owner_path.split(".")):
                owner = getattr(owner, part)
            original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            setattr(owner, attr, self._wrap(original, name, jobs))
            self._patches.append((owner, attr, original))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def _wrap(self, fn, name: str, jobs: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, jobs=jobs):
                return fn(*args, **kwargs)

        return wrapper
