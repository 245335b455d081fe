"""The traced run: per-layer metrics for one workload.

1. Set up with Spark's event log on (uncompressed).
2. Cycles of epochs alternating traced and untraced for ``--seconds``. In
   a traced cycle every wrapped call is a span with its own job group and
   the reader round runs; untraced cycles only yield the events_per_s
   baseline of ``trace.overhead``. Alternating keeps the JIT warm-up, which
   goes on for minutes, from favouring either side.
3. The oracle checks.
4. Stop Spark, read the event log and charge jobs, stages and task metrics
   to spans (``perfbench/eventlog.py``, ``perfbench/layers.py``).

``trace.overhead`` compares traced with untraced cycles; both run with the
event log on, so it measures the wrappers and job groups.
"""

from __future__ import annotations

import os
import time

from perfbench import config
from perfbench.eventlog import event_files, read_events, usage_by_span
from perfbench.harness import Workload, events_per_s
from perfbench.layers import PER_LAYER, REPORT_ONLY, TracedFacts, rollup
from perfbench.tracing import Tracer

from techtalk_data_pipeline_snowpark_spark.lake import LakeTable


def run_traced(w: Workload) -> dict:
    log_dir = os.path.join(w.work, "eventlog")
    w.setup(config.CORES, event_log_dir=log_dir, feeds=w.wl.get("feeds", False))
    tracer = Tracer(w.spark.sparkContext)
    tracer.install()
    w.readers.tracer = tracer
    table = LakeTable(w.spark, w.table_root)
    plain, traced, entries = [], [], []
    try:
        t_end = time.perf_counter() + w.seconds
        while time.perf_counter() < t_end:
            v0 = table.latest_version()
            tracer.enabled = True
            traced += w.apply_loop(0.0, readers=w.readers)
            tracer.enabled = False
            entries += table.log_entries(v0 + 1)
            plain += w.apply_loop(0.0)
    finally:
        tracer.uninstall()
    merges = [e for e in entries if e.get("operation") == "merge"]
    adds = {a["path"] for e in merges for a in e.get("add", [])}
    w.verify(w.readers, plain[-1])
    _, files_live, dv_files_live = w.stored_bytes()
    w.spark.stop()  # flushes the event log
    usage = usage_by_span(read_events(event_files(log_dir)))

    facts = TracedFacts(
        events=sum(s.hi - s.lo for s in traced),
        winners=sum(s.result.events for s in traced),
        merge_entries=merges,
        compact_entries=[e for e in entries if e.get("operation") == "compact"],
        bytes_of={p: table.store.size(p) for p in adds},
        files_live=files_live,
        dv_files_live=dv_files_live,
        eps_plain=events_per_s(plain),
        eps_traced=events_per_s(traced),
        cores=config.CORES,
    )
    values = rollup(tracer.spans, usage, facts)
    units = {name: unit for name, unit, *_ in PER_LAYER + REPORT_ONLY}
    w.report += [
        f"traced run of {w.name} seed {w.seed}: {len(traced)} traced and "
        f"{len(plain)} untraced epochs, alternating by cycle; "
        f"{len(tracer.spans)} spans, {sum(u.jobs for u in usage.values())} jobs",
        f"spans on other threads (counted, not timed): {dict(tracer.offthread)}",
    ]
    w.report += [f"{k} = {v:.6g} {units[k]}" for k, v in values.items()]
    return {name: (values[name], unit) for name, unit, *_ in PER_LAYER}
