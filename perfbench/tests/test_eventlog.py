"""Unit tests for the benchmark's trace arithmetic: event-log parsing,
job-group bookkeeping, self times and the per-layer rollup.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench.eventlog import Usage, read_events, self_times, usage_by_span
from perfbench.layers import PER_LAYER, REPORT_ONLY, SELF_LAYER, TracedFacts, jobs_attributed, rollup
from perfbench.tracing import Span, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "data", "eventlog_small.json")
BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


def span(id, parent, name, start, end, jobs=True, **attrs):
    sp = Span(id, parent, name, start, jobs, attrs=attrs)
    sp.end = end
    sp.wall_start_ms, sp.wall_end_ms = start * 1000.0, end * 1000.0
    return sp


# ------------------------------------------------------------ event log
def test_usage_is_charged_to_the_job_group_of_each_stage():
    usage = usage_by_span(read_events([FIXTURE]))
    assert set(usage) == {1, 3, None}
    u = usage[1]
    assert (u.jobs, u.stages, u.tasks) == (1, 2, 2)
    assert u.run_ms == 150 and u.gc_ms == 5
    assert u.shuffle_read_bytes == 300 and u.shuffle_write_bytes == 300
    assert u.shuffle_bytes == 600
    assert u.fetch_wait_ms == 3 and u.spill_bytes == 7
    assert (u.input_bytes, u.input_records) == (500, 10)
    assert (u.python_run_ms, u.python_sent_bytes, u.python_received_bytes) == (40, 1000, 900)
    assert u.job_submit_ms == [1000.0]
    # a job outside every span stays unattributed
    assert (usage[None].jobs, usage[None].run_ms) == (1, 20)
    # a skipped stage (never submitted) is not counted
    assert (usage[3].jobs, usage[3].stages, usage[3].run_ms) == (1, 1, 10)


# ------------------------------------------------------------ spans
def test_self_times_subtract_children_and_sum_to_the_root():
    spans = [
        span(0, None, "cdc.epoch", 0.0, 10.0),
        span(1, 0, "lake.merge", 2.0, 8.0),
        span(2, 1, "lake.table.commit", 7.0, 7.5, jobs=False),
        span(3, 1, "lake.enrich.driver", 5.0, 6.0),
        span(4, 2, "lake.store.put", 7.1, 7.2, jobs=False),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 4.0, 1: 4.5, 2: 0.4, 3: 1.0, 4: 0.1})
    assert sum(st.values()) == pytest.approx(10.0)


class FakeContext:
    def __init__(self):
        self.group = None
        self.calls = 0

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.group = value
        self.calls += 1


def test_tracer_sets_and_restores_job_groups():
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("x"):
        assert sc.group is None  # disabled: no span, no group
    tr.enabled = True
    with tr.span("cdc.epoch") as outer:
        assert sc.group == f"span-{outer.id}"
        with tr.span("lake.table.snapshot", jobs=False):
            # spans that start no jobs leave the group alone
            assert sc.group == f"span-{outer.id}"
            with tr.span("lake.merge") as inner:
                assert sc.group == f"span-{inner.id}"
            assert sc.group == f"span-{outer.id}"
    assert sc.group is None
    assert [s.name for s in tr.spans] == ["lake.merge", "lake.table.snapshot", "cdc.epoch"]
    assert tr.spans[0].parent == tr.spans[1].id and tr.spans[1].parent == outer.id


def test_tracer_records_errors_and_unwraps():
    class Owner:
        def boom(self):
            raise KeyError("x")

    tr = Tracer(FakeContext())
    tr._patches.append((Owner, "boom", Owner.__dict__["boom"]))
    Owner.boom = tr._wrap(Owner.__dict__["boom"], "lake.table.commit", False)
    tr.enabled = True
    with pytest.raises(KeyError):
        Owner().boom()
    assert tr.spans[0].error == "KeyError"
    tr.uninstall()
    assert Owner.boom.__name__ == "boom" and not hasattr(Owner.boom, "__wrapped__")


# ------------------------------------------------------------ rollup
def _two_epochs():
    spans = [
        span(0, None, "cdc.epoch", 0.0, 4.0),
        span(1, 0, "lake.table.snapshot", 0.1, 0.2, jobs=False),
        span(2, 1, "lake.store.read", 0.12, 0.15, jobs=False),
        span(3, 0, "cdc.reconcile", 0.3, 0.35),
        span(4, 0, "lake.merge", 1.0, 3.5),
        span(5, 4, "lake.enrich.driver", 2.5, 2.9),
        span(6, 4, "lake.table.commit", 3.0, 3.4, jobs=False),
        span(7, 6, "lake.store.put", 3.1, 3.3, jobs=False),
        span(8, None, "cdc.epoch", 5.0, 7.0),
        span(9, 8, "lake.merge.mor_delete", 5.5, 6.5),
        span(10, None, "reader.lookup", 7.5, 7.8, rows=2),
        span(11, None, "lake.table.compact", 8.0, 9.0),
    ]
    usage = {
        0: Usage(jobs=4, stages=4, shuffle_read_bytes=10, job_submit_ms=[100.0, 200.0, 300.0, 400.0]),
        4: Usage(jobs=3, stages=5, run_ms=4000.0, python_run_ms=500.0, job_submit_ms=[1500.0, 2000.0, 3000.0]),
        9: Usage(jobs=2, stages=2, job_submit_ms=[5600.0, 6000.0]),
        10: Usage(jobs=1, input_records=8, input_bytes=64, job_submit_ms=[7600.0]),
        None: Usage(jobs=1, job_submit_ms=[6500.0]),  # inside epoch 2, ungrouped
    }
    merge = {
        "operation": "merge",
        "add": [{"path": "a", "rows": 90}, {"path": "b", "rows": 10}],
        "remove": ["c"],
        "summary": {"rows_inserted": 3, "rows_updated": 1, "rows_deleted": 1, "files_carried": 5},
    }
    facts = TracedFacts(
        events=50, winners=40, merge_entries=[merge],
        compact_entries=[{"operation": "compact", "summary": {"files_compacted": 6}}],
        bytes_of={"a": 1000, "b": 200}, files_live=16, dv_files_live=2,
        eps_plain=100.0, eps_traced=95.0, cores=4,
    )
    return spans, usage, facts


def test_rollup_layer_self_times_sum_to_epoch_wall():
    spans, usage, facts = _two_epochs()
    m = rollup(spans, usage, facts)
    layers = sorted(set(SELF_LAYER.values()))
    assert sum(m[k] for k in layers) == pytest.approx(m["cdc.epoch.wall_s"])
    assert m["cdc.epoch.wall_s"] == pytest.approx(3.0)
    assert m["trace.self_sum_ratio"] == pytest.approx(1.0)
    assert m["lake.merge.self_s"] == pytest.approx((2.5 - 0.4 - 0.4) / 2)
    assert m["lake.merge.mor_delete.s"] == pytest.approx(0.5)


def test_rollup_counts_and_ratios():
    spans, usage, facts = _two_epochs()
    m = rollup(spans, usage, facts)
    assert set(m) == {name for name, *_ in PER_LAYER + REPORT_ONLY}
    assert m["spark.jobs_per_epoch"] == pytest.approx(9 / 2)
    assert m["cdc.epoch.self_jobs"] == pytest.approx(2.0)
    assert m["lake.merge.jobs"] == pytest.approx(1.5)
    assert m["lake.merge.busy_share"] == pytest.approx(4.0 / (1.7 * 4))
    assert m["functions.python_run_s"] == pytest.approx(0.25)
    assert m["cdc.winners_per_event"] == pytest.approx(0.8)
    assert m["lake.merge.rows_rewritten_per_event"] == pytest.approx(2.0)
    assert m["lake.merge.useful_ratio"] == pytest.approx(0.05)
    assert m["lake.merge.files_added"] == pytest.approx(1.0)
    assert m["lake.merge.files_carried"] == pytest.approx(2.5)
    assert m["lake.merge.bytes_written"] == pytest.approx(600.0)
    assert m["lake.table.snapshot.calls"] == pytest.approx(0.5)
    assert m["lake.store.read_calls"] == pytest.approx(0.5)
    assert m["lake.table.compact.s"] == pytest.approx(1.0)
    assert m["lake.table.compact.files"] == pytest.approx(6.0)
    assert m["lake.table.read.records_per_row"] == pytest.approx(4.0)
    assert m["lake.table.read.jobs"] == pytest.approx(1.0)
    assert m["trace.overhead"] == pytest.approx(0.05)


def test_jobs_started_inside_an_epoch_but_ungrouped_count_against_attribution():
    spans, usage, _ = _two_epochs()
    from perfbench.eventlog import children_of

    epochs = [s for s in spans if s.name == "cdc.epoch"]
    # 9 jobs start inside the two epochs, one of them without a group
    assert jobs_attributed(epochs, children_of(spans), usage) == pytest.approx(9 / 10)


# ------------------------------------------------------------ declarations
def test_benchmark_json_declares_the_emitted_metrics():
    from perfbench.harness import END_TO_END

    with open(BENCHMARK) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        (name, unit, better) for name, unit, better, *_ in PER_LAYER
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == [
        (name, unit, better) for name, (unit, better) in END_TO_END.items()
    ]
    from perfbench.config import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
