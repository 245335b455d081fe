"""Per-layer metrics of the traced run, and which end-to-end metric each
one should move.

Layers are the engine's modules. Inside an epoch every span belongs to
exactly one layer (:data:`SELF_LAYER`), so the layers' self times sum to
the ``apply_epoch`` wall time. Unless a name says otherwise, a metric is
a mean per traced epoch.
"""

from __future__ import annotations

from dataclasses import dataclass

from perfbench.eventlog import Usage, children_of, self_times, subtree_ids, subtree_usage

# (name, unit, better, layer, end-to-end metric it should move)
PER_LAYER = [
    ("cdc.epoch.wall_s", "s", "lower", "cdc", "epoch_s_p50 on trickle"),
    ("cdc.epoch.self_s", "s", "lower", "cdc", "epoch_s_p50 on trickle"),
    ("cdc.epoch.self_jobs", "count", "lower", "cdc", "epoch_s_p50 on trickle"),
    ("cdc.epoch.self_stages", "count", "lower", "cdc", "epoch_s_p50 on trickle"),
    ("cdc.epoch.self_shuffle_bytes", "B", "lower", "cdc", "events_per_s on read_mix"),
    ("cdc.reconcile.s", "s", "lower", "cdc", "epoch_s_p50 on read_mix"),
    ("cdc.winners_per_event", "ratio", "lower", "cdc", "events_per_s on read_mix"),
    ("functions.python_run_s", "s", "lower", "functions", "events_per_s on read_mix"),
    ("functions.python_bytes_sent", "B", "lower", "functions", "events_per_s on read_mix"),
    ("functions.python_bytes_received", "B", "lower", "functions", "events_per_s on read_mix"),
    ("lake.merge.self_s", "s", "lower", "lake.merge", "epoch_s_p50 on trickle"),
    ("lake.merge.jobs", "count", "lower", "lake.merge", "epoch_s_p50 on trickle"),
    ("lake.merge.stages", "count", "lower", "lake.merge", "epoch_s_p50 on trickle"),
    ("lake.merge.shuffle_bytes", "B", "lower", "lake.merge", "epoch_s_p50 on trickle"),
    ("lake.merge.spill_bytes", "B", "lower", "lake.merge", "epoch_s_p50 on read_mix"),
    ("lake.merge.busy_share", "ratio", "higher", "lake.merge", "epoch_s_p50 on trickle"),
    ("lake.merge.rows_rewritten_per_event", "ratio", "lower", "lake.merge", "write_amp on trickle"),
    ("lake.merge.useful_ratio", "ratio", "higher", "lake.merge", "write_amp on trickle"),
    ("lake.merge.files_added", "count", "lower", "lake.merge", "write_amp on trickle"),
    ("lake.merge.files_removed", "count", "lower", "lake.merge", "write_amp on trickle"),
    ("lake.merge.files_carried", "count", "higher", "lake.merge", "write_amp on trickle"),
    ("lake.merge.files_skipped_by_bloom", "count", "higher", "lake.merge", "epoch_s_p50 on read_mix"),
    ("lake.merge.bytes_written", "B", "lower", "lake.merge", "write_amp on trickle"),
    ("lake.enrich.s", "s", "lower", "lake.enrich", "epoch_s_p50 on trickle"),
    ("lake.enrich.jobs", "count", "lower", "lake.enrich", "epoch_s_p50 on trickle"),
    ("lake.enrich.distributed_calls", "count", "lower", "lake.enrich", "epoch_s_p50 on trickle"),
    ("lake.enrich.driver_calls", "count", "lower", "lake.enrich", "epoch_s_p50 on trickle"),
    ("lake.table.snapshot.s", "s", "lower", "lake.table", "epoch_s_p50 on trickle"),
    ("lake.table.snapshot.calls", "count", "lower", "lake.table", "epoch_s_p50 on trickle"),
    ("lake.table.commit.s", "s", "lower", "lake.table", "epoch_s_p50 on trickle"),
    ("lake.table.commit.calls", "count", "lower", "lake.table", "epoch_s_p50 on trickle"),
    ("lake.table.commit.conflicts", "count", "lower", "lake.table", "epoch_s_p50 on read_mix"),
    ("lake.table.compact.files", "count", "lower", "lake.table", "epoch_s_p50 on read_mix"),
    ("lake.table.read.records_per_row", "ratio", "lower", "lake.table", "lookup_s_p50 on read_mix"),
    ("lake.table.read.input_bytes", "B", "lower", "lake.table", "lookup_s_p50 on read_mix"),
    ("lake.table.read.jobs", "count", "lower", "lake.table", "lookup_s_p50 on read_mix"),
    ("lake.table.files_live", "count", "lower", "lake.table", "scan_s_p50 on read_mix"),
    ("lake.table.dv_files_live", "count", "lower", "lake.table", "stored_bytes_per_row on read_mix"),
    ("lake.store.put_calls", "count", "lower", "lake.store", "epoch_s_p50 on trickle"),
    ("lake.store.put_s", "s", "lower", "lake.store", "epoch_s_p50 on trickle"),
    ("lake.store.finalize_s", "s", "lower", "lake.store", "epoch_s_p50 on trickle"),
    ("lake.store.read_calls", "count", "lower", "lake.store", "epoch_s_p50 on trickle"),
    ("lake.store.read_s", "s", "lower", "lake.store", "epoch_s_p50 on trickle"),
    ("lake.changefeed.rows", "count", "lower", "lake.changefeed", "changefeed poll on read_mix (traced only)"),
    ("lake.changefeed.jobs", "count", "lower", "lake.changefeed", "changefeed poll on read_mix (traced only)"),
    ("lake.ivm.jobs", "count", "lower", "lake.ivm", "view refresh on read_mix (traced only)"),
    ("spark.jobs_per_epoch", "count", "lower", "spark", "epoch_s_p50 on trickle"),
    ("spark.stages_per_epoch", "count", "lower", "spark", "epoch_s_p50 on trickle"),
    ("spark.busy_share", "ratio", "higher", "spark", "events_per_s on read_mix"),
    ("trace.overhead", "ratio", "lower", "trace", "none: tracing cost"),
    ("trace.jobs_attributed", "ratio", "higher", "trace", "none: attribution check"),
    ("trace.self_sum_ratio", "ratio", "higher", "trace", "none: self times sum to epoch wall"),
]

# Times that can read exactly 0 on every run of a workload: trickle has no
# merge-on-read deletes, blooms, compaction or change-feed readers, local
# mode has no shuffle fetch wait, and the pre-touched 2g heap often sees no
# collection during the traced epochs. Printed with the traced run's
# report, not declared as metrics.
REPORT_ONLY = [
    ("lake.merge.mor_delete.s", "s"),
    ("lake.bloom.probe_s", "s"),
    ("lake.table.compact.s", "s"),
    ("lake.changefeed.poll_s", "s"),
    ("lake.ivm.refresh_s", "s"),
    ("spark.fetch_wait_s", "s"),
    ("spark.gc_s", "s"),
]

# Span name -> the layer its self time belongs to inside an epoch.
SELF_LAYER = {
    "cdc.epoch": "cdc.epoch.self_s",
    "cdc.reconcile": "cdc.reconcile.s",
    "lake.merge": "lake.merge.self_s",
    "lake.merge.mor_delete": "lake.merge.mor_delete.s",
    "lake.enrich.driver": "lake.enrich.s",
    "lake.enrich.distributed": "lake.enrich.s",
    "lake.enrich.blooms": "lake.enrich.s",
    "lake.bloom.probe": "lake.bloom.probe_s",
    "lake.table.snapshot": "lake.table.snapshot.s",
    "lake.table.commit": "lake.table.commit.s",
    "lake.store.put": "lake.store.put_s",
    "lake.store.finalize": "lake.store.finalize_s",
    "lake.store.read": "lake.store.read_s",
}


@dataclass
class TracedFacts:
    """What the traced leg produced besides spans and the event log."""

    events: int  # log events applied in the traced epochs
    winners: int  # winner keys the engine reported for them
    merge_entries: list  # log entries of the traced epochs' merge commits
    compact_entries: list  # log entries of the traced leg's compactions
    bytes_of: dict  # data-file path -> size, for merge adds
    files_live: int
    dv_files_live: int
    eps_plain: float  # events_per_s of the untraced leg
    eps_traced: float
    cores: int


def _mean(total: float, n: int) -> float:
    return total / n if n else 0.0


def rollup(spans, usage: dict, facts: TracedFacts) -> dict[str, float]:
    kids = children_of(spans)
    selfs = self_times(spans)
    by_id = {sp.id: sp for sp in spans}
    epochs = [
        sp for sp in spans
        if sp.name == "cdc.epoch"
        and (sp.parent is None or by_id[sp.parent].name != "cdc.epoch")
    ]
    n = len(epochs)
    inside = [by_id[i] for ep in epochs for i in subtree_ids(ep, kids)]
    wall = sum(ep.duration for ep in epochs)
    m: dict[str, float] = {name: 0.0 for name, *_ in PER_LAYER + REPORT_ONLY}

    def own(name: str) -> Usage:
        u = Usage()
        for sp in inside:
            if sp.name == name and sp.id in usage:
                u.add(usage[sp.id])
        return u

    # self time per layer; together they cover the epoch wall exactly
    for sp in inside:
        m[SELF_LAYER[sp.name]] += selfs[sp.id]
    layer_self_total = sum(m[k] for k in set(SELF_LAYER.values()))
    for k in set(SELF_LAYER.values()):
        m[k] = _mean(m[k], n)

    ep_all = Usage()
    for ep in epochs:
        ep_all.add(subtree_usage(ep, kids, usage))
    ep_self = own("cdc.epoch")
    m["cdc.epoch.wall_s"] = _mean(wall, n)
    m["cdc.epoch.self_jobs"] = _mean(ep_self.jobs, n)
    m["cdc.epoch.self_stages"] = _mean(ep_self.stages, n)
    m["cdc.epoch.self_shuffle_bytes"] = _mean(ep_self.shuffle_bytes, n)
    m["cdc.winners_per_event"] = _mean(facts.winners, facts.events)
    m["functions.python_run_s"] = _mean(ep_all.python_run_ms / 1000.0, n)
    m["functions.python_bytes_sent"] = _mean(ep_all.python_sent_bytes, n)
    m["functions.python_bytes_received"] = _mean(ep_all.python_received_bytes, n)

    merge = own("lake.merge")
    merge_self_s = sum(selfs[sp.id] for sp in inside if sp.name == "lake.merge")
    m["lake.merge.jobs"] = _mean(merge.jobs, n)
    m["lake.merge.stages"] = _mean(merge.stages, n)
    m["lake.merge.shuffle_bytes"] = _mean(merge.shuffle_bytes, n)
    m["lake.merge.spill_bytes"] = _mean(merge.spill_bytes, n)
    m["lake.merge.busy_share"] = _mean(merge.run_ms / 1000.0, merge_self_s * facts.cores)
    rows_written = sum(a.get("rows") or 0 for e in facts.merge_entries for a in e.get("add", []))
    useful = sum(
        sum(e.get("summary", {}).get(k) or 0 for k in ("rows_inserted", "rows_updated", "rows_deleted"))
        for e in facts.merge_entries
    )
    m["lake.merge.rows_rewritten_per_event"] = _mean(rows_written, facts.events)
    m["lake.merge.useful_ratio"] = _mean(useful, rows_written)
    m["lake.merge.files_added"] = _mean(sum(len(e.get("add", [])) for e in facts.merge_entries), n)
    m["lake.merge.files_removed"] = _mean(sum(len(e.get("remove", [])) for e in facts.merge_entries), n)
    for key in ("files_carried", "files_skipped_by_bloom"):
        m[f"lake.merge.{key}"] = _mean(
            sum(e.get("summary", {}).get(key) or 0 for e in facts.merge_entries), n
        )
    m["lake.merge.bytes_written"] = _mean(
        sum(facts.bytes_of.get(a["path"], 0) for e in facts.merge_entries for a in e.get("add", [])), n
    )

    enrich_names = ("lake.enrich.driver", "lake.enrich.distributed", "lake.enrich.blooms")
    m["lake.enrich.jobs"] = _mean(sum(own(x).jobs for x in enrich_names), n)
    count = {name: sum(1 for sp in inside if sp.name == name) for name in SELF_LAYER}
    m["lake.enrich.distributed_calls"] = _mean(count["lake.enrich.distributed"], n)
    m["lake.enrich.driver_calls"] = _mean(count["lake.enrich.driver"], n)
    m["lake.table.snapshot.calls"] = _mean(count["lake.table.snapshot"], n)
    m["lake.table.commit.calls"] = _mean(count["lake.table.commit"], n)
    m["lake.store.put_calls"] = _mean(count["lake.store.put"], n)
    m["lake.store.read_calls"] = _mean(count["lake.store.read"], n)
    m["lake.table.commit.conflicts"] = float(sum(
        1 for sp in spans if sp.name == "lake.table.commit" and sp.error == "ConcurrentCommitError"
    ))

    compacts = [sp for sp in spans if sp.name == "lake.table.compact"]
    m["lake.table.compact.s"] = _mean(sum(sp.duration for sp in compacts), len(compacts))
    m["lake.table.compact.files"] = _mean(
        sum(e.get("summary", {}).get("files_compacted") or 0 for e in facts.compact_entries),
        len(compacts),
    )

    def readers(name: str) -> tuple[int, Usage, float, int]:
        sps = [sp for sp in spans if sp.name == name]
        u = Usage()
        for sp in sps:
            u.add(subtree_usage(sp, kids, usage))
        return len(sps), u, sum(sp.duration for sp in sps), sum(sp.attrs.get("rows", 0) for sp in sps)

    k, u, _, rows = readers("reader.lookup")
    m["lake.table.read.records_per_row"] = _mean(u.input_records, max(rows, 1))
    m["lake.table.read.input_bytes"] = _mean(u.input_bytes, k)
    m["lake.table.read.jobs"] = _mean(u.jobs, k)
    m["lake.table.files_live"] = float(facts.files_live)
    m["lake.table.dv_files_live"] = float(facts.dv_files_live)
    k, u, s, rows = readers("reader.changefeed")
    m["lake.changefeed.poll_s"] = _mean(s, k)
    m["lake.changefeed.rows"] = _mean(rows, k)
    m["lake.changefeed.jobs"] = _mean(u.jobs, k)
    k, u, s, _ = readers("reader.view")
    m["lake.ivm.refresh_s"] = _mean(s, k)
    m["lake.ivm.jobs"] = _mean(u.jobs, k)

    m["spark.jobs_per_epoch"] = _mean(ep_all.jobs, n)
    m["spark.stages_per_epoch"] = _mean(ep_all.stages, n)
    m["spark.gc_s"] = _mean(ep_all.gc_ms / 1000.0, n)
    m["spark.fetch_wait_s"] = _mean(ep_all.fetch_wait_ms / 1000.0, n)
    m["spark.busy_share"] = _mean(ep_all.run_ms / 1000.0, wall * facts.cores)
    m["trace.overhead"] = 1.0 - _mean(facts.eps_traced, facts.eps_plain)
    m["trace.jobs_attributed"] = jobs_attributed(epochs, kids, usage)
    m["trace.self_sum_ratio"] = _mean(layer_self_total, wall)
    return m


def jobs_attributed(epochs, kids, usage: dict) -> float:
    """Share of the jobs submitted while an epoch ran that carry the job
    group of a span inside that epoch."""
    submitted = [t for u in usage.values() for t in u.job_submit_ms]
    started = attributed = 0
    for ep in epochs:
        started += sum(1 for t in submitted if ep.wall_start_ms <= t <= ep.wall_end_ms)
        attributed += sum(
            1
            for sid in subtree_ids(ep, kids) if sid in usage
            for t in usage[sid].job_submit_ms
            if ep.wall_start_ms <= t <= ep.wall_end_ms
        )
    return _mean(attributed, started)
