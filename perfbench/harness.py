"""One benchmark invocation: session, logs, setup, the closed apply loop,
the reader set, the oracle checks and the metrics.

Closed loop: the next epoch starts only after the previous commit (and any
inline maintenance) returned, as in ``CdcEngine.replay`` and in a
production replicator. Every timed section drives the engine's public API
(``CdcEngine.apply_epoch``, ``LakeTable``, ``ChangelogCursor``,
``IncrementalAggView``).
"""

from __future__ import annotations

import os
import random
import resource
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from perfbench import config
from perfbench.oracle import Oracle, state_digest

from techtalk_data_pipeline_snowpark_spark.cdc import CdcEngine
from techtalk_data_pipeline_snowpark_spark.fixtures.generators import (
    change_events,
    change_events_evolution,
)
from techtalk_data_pipeline_snowpark_spark.lake import (
    ChangelogCursor,
    IncrementalAggView,
    LakeTable,
)
from techtalk_data_pipeline_snowpark_spark.session import get_spark

TAIL_SAMPLES_BEYOND = 10

# name -> (unit, better): what a --trace 0 run prints, in this order
END_TO_END = {
    "setup_s": ("s", "lower"),
    "events_per_s": ("ev/s", "higher"),
    "epoch_s_p50": ("s", "lower"),
    "lookup_s_p50": ("s", "lower"),
    "scan_s_p50": ("s", "lower"),
    "write_amp": ("ratio", "lower"),
    "stored_bytes_per_row": ("B/row", "lower"),
    "peak_rss_mb": ("MiB", "lower"),
}


# ------------------------------------------------------------ statistics
def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; with fewer than 20 samples no percentile at or above
    the median qualifies, and the maximum (p100) is reported instead."""
    s = sorted(xs)
    n = len(s)
    if n >= 2 * TAIL_SAMPLES_BEYOND:
        rank = n - TAIL_SAMPLES_BEYOND  # 1-based; ten samples lie above it
        return s[rank - 1], 100.0 * rank / n, n
    return s[-1], 100.0, n


# ------------------------------------------------------------ bookkeeping
class Checks:
    """Operations attempted and failed: epochs, reads and oracle checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def ok(self, cond: bool, what: str) -> bool:
        self.attempted += 1
        if not cond:
            self.failed += 1
            self.messages.append(what)
        return cond


@dataclass
class Result:
    correct: bool
    attempted: int
    failed: int
    metrics: dict  # name -> (value, unit)
    report: list[str] = field(default_factory=list)

    def summary(self) -> dict:
        return {
            "correct": self.correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in self.metrics.items()
            },
        }


@dataclass
class EpochStat:
    lo: int
    hi: int
    seconds: float  # apply_epoch plus inline maintenance
    result: object


# ------------------------------------------------------------ spark + logs
def start_session(work: str, cores: int, event_log_dir: str | None = None):
    extra = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    else:
        extra["spark.eventLog.enabled"] = "false"
    spark = get_spark(
        "perfbench", cores=cores,
        shuffle_partitions=config.SHUFFLE_PARTITIONS, extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Logs:
    """The workload's change log, written once as parquet before set-up.

    ``frames`` is ordered by LSN: the frame for an epoch ending at ``hi``
    is the first whose last LSN is ≥ ``hi``. read_mix has two frames with
    different schemas, as an upstream producer delivers a schema change
    (``change_events_evolution``)."""

    def __init__(self, path: str, frames: list):
        self.path = path
        self.frames = frames  # [(last lsn, DataFrame)]
        self.max_lsn = frames[-1][0]

    def frame(self, hi: int):
        return next(df for last, df in self.frames if hi <= last)


def make_logs(spark, name: str, wl: dict, seed: int, work: str) -> tuple[Logs, int]:
    """Write the seeded log; returns it and the prebuild boundary LSN."""
    n = wl["log_events"]
    path = os.path.join(work, "log")
    gen = dict(
        n_repos=config.N_REPOS, paths_per_repo=wl["paths_per_repo"],
        zipf_s=config.ZIPF_S, op_mix=wl["op_mix"],
    )
    if name != "read_mix":
        change_events(spark, n, seed=seed, **gen).write.parquet(path)
        return Logs(path, [(n, spark.read.parquet(path))]), wl["prebuild_events"]
    frac = wl["prebuild_events"] / n
    marker = int(n * frac)  # the generator's own boundary arithmetic
    p1, p2 = change_events_evolution(spark, n, marker_frac=frac, seed=seed, **gen)
    # every all_delete_every-th epoch after the boundary is deletes only:
    # the merge-on-read deletion-vector path
    k = F.floor((F.col("lsn") - marker - 1) / wl["epoch_events"]) + 1
    all_delete = k % wl["all_delete_every"] == 0
    keep = {"lsn", "repo", "path", "ts"}
    p2 = p2.select(*[
        (F.col(f.name) if f.name in keep
         else F.when(all_delete, F.lit("delete")).otherwise(F.col("op")) if f.name == "op"
         else F.when(all_delete, F.lit(None).cast(f.dataType)).otherwise(F.col(f.name))
         ).alias(f.name)
        for f in p2.schema.fields
    ])
    # one parquet write in the phase-2 schema; phase 1 reads back its prefix
    # in its own schema
    p2.unionByName(p1, allowMissingColumns=True).write.parquet(path)
    log = spark.read.parquet(path)
    v1 = log.where(F.col("lsn") <= marker).select(
        *[F.col(f.name).cast(f.dataType) for f in p1.schema.fields]
    )
    v2 = log.where(F.col("lsn") > marker)
    return Logs(path, [(marker, v1), (n, v2)]), marker


def make_engine(spark, root: str, wl: dict) -> CdcEngine:
    return CdcEngine(
        spark, root, key_cols=("repo", "path"),
        num_buckets=config.NUM_BUCKETS, bloom=wl.get("bloom", False),
    )


# ------------------------------------------------------------ readers
class Readers:
    """The fixed reader set: key lookups and a per-repo aggregate over the
    current snapshot; with ``feeds``, also a change-feed poll + ack and a
    view refresh (each costs one changelog diff per commit consumed)."""

    def __init__(self, spark, table_root: str, work: str, keys, lookups: int,
                 scans: int, feeds: bool, checks):
        self.spark = spark
        self.table = LakeTable(spark, table_root)
        self.view_root = os.path.join(work, f"view-{os.path.basename(table_root)}")
        self.keys = keys
        self.lookups = lookups
        self.next_key = 0
        self.scans = scans
        self.feeds = feeds
        self.tracer = None
        self.checks = checks
        self.cursor = None
        self.view = None
        self.lookup_s: list[float] = []
        self.scan_s: list[float] = []
        self.lookup_log: list[tuple[int, str, str, list]] = []

    def warm_up(self) -> None:
        """Set-up: a few lookups and one scan, untimed, so the read paths'
        first-call JIT lands in setup_s and not in the reader metrics."""
        for repo, path in self.keys[:config.WARMUP_LOOKUPS]:
            self.table.read_where(
                (F.col("repo") == repo) & (F.col("path") == path)
            ).select("commit").collect()
        self.table.read().groupBy("repo").agg(F.sum(F.length("content"))).collect()

    def catch_up(self) -> None:
        """Set-up with ``feeds``: open the cursor and the view, consume the
        feed and build the view up to now."""
        self.cursor = ChangelogCursor(self.table, "perfbench")
        self.view = IncrementalAggView(
            self.spark, self.table, self.view_root, ["repo"],
            sum_cols={"lsn_sum": "lsn"},
        )
        batch = self.cursor.poll()
        if batch is not None:
            batch.df.count()
            batch.ack()
        self.view.refresh()

    def _span(self, name):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def round(self, lsn: int) -> None:
        for _ in range(self.lookups):
            repo, path = self.keys[self.next_key % len(self.keys)]
            self.next_key += 1
            with self._span("reader.lookup") as sp:
                t = time.perf_counter()
                rows = self.table.read_where(
                    (F.col("repo") == repo) & (F.col("path") == path)
                ).select("commit").collect()
                self.lookup_s.append(time.perf_counter() - t)
                if sp is not None:
                    sp.attrs["rows"] = len(rows)
            self.lookup_log.append((lsn, repo, path, [r["commit"] for r in rows]))
        for _ in range(self.scans):
            with self._span("reader.scan"):
                t = time.perf_counter()
                groups = self.table.read().groupBy("repo").agg(
                    F.count(F.lit(1)).alias("n"), F.sum(F.length("content")).alias("b")
                ).collect()
                self.scan_s.append(time.perf_counter() - t)
            self.checks.ok(len(groups) > 0, f"scan at lsn {lsn} returned no groups")
        if not self.feeds:
            return
        with self._span("reader.changefeed") as sp:
            batch = self.cursor.poll()
            n = 0
            if batch is not None:
                n = sum(r["count"] for r in batch.df.groupBy("_change_type").count().collect())
                batch.ack()
            if sp is not None:
                sp.attrs["rows"] = n
        self.checks.ok(batch is not None and n > 0, f"changefeed at lsn {lsn} empty")
        with self._span("reader.view"):
            res = self.view.refresh()
        self.checks.ok(res.get("refreshed", False), f"view refresh at lsn {lsn} was a no-op")


# ------------------------------------------------------------ the workload
class Workload:
    def __init__(self, name: str, seed: int, seconds: float, work: str):
        self.name = name
        self.wl = config.WORKLOADS[name]
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.checks = Checks()
        self.report: list[str] = []
        # read_mix legs end on a whole all-delete cycle, so every run mixes
        # the same epoch kinds
        self.cycle = self.wl.get("all_delete_every", 1)

    # -------------------------------------------------------- set-up
    def setup(self, cores: int, event_log_dir: str | None = None,
              feeds: bool = False) -> float:
        """Session, log generation, pre-built table and, with ``feeds``, the
        change-feed cursor and view; returns setup_s, which excludes log
        generation."""
        marks = [time.perf_counter()]
        self.spark = start_session(self.work, cores, event_log_dir)
        marks.append(time.perf_counter())
        self.logs, self.prebuild_lsn = make_logs(
            self.spark, self.name, self.wl, self.seed, self.work
        )
        self.oracle = Oracle(self.logs.path)
        marks.append(time.perf_counter())
        self.table_root = os.path.join(self.work, "table")
        self.engine = make_engine(self.spark, self.table_root, self.wl)
        self.readers = self.make_readers(self.table_root, feeds)
        # The pre-built table is one large epoch into the empty table; the
        # warm-up cycles after it are epoch-sized, so the first-epoch JIT
        # and Python-worker start land here and not in the apply loop.
        p = self.prebuild_lsn
        res = self.engine.apply_epoch(self.logs.frame(p), 0, p)
        self.checks.ok(not res.skipped, f"prebuild epoch (0, {p}] skipped")
        marks.append(time.perf_counter())
        self.lsn = self.prebuild_lsn
        warm = []
        for _ in range(self.wl["warmup_cycles"]):
            warm += self.apply_loop(0.0)
        self.readers.warm_up()
        marks.append(time.perf_counter())
        if feeds:
            self.readers.catch_up()
        marks.append(time.perf_counter())
        phases = dict(zip(
            ("session", "log generation", "prebuild", "warm-up", "feed catch-up"),
            (b - a for a, b in zip(marks, marks[1:])),
        ))
        self.report.append(
            "set-up: " + ", ".join(f"{k} {v:.2f}s" for k, v in phases.items())
            + " (setup_s excludes log generation)"
        )
        self.report.append(
            "warm-up epoch seconds: " + ", ".join(f"{s.seconds:.3f}" for s in warm)
        )
        return marks[-1] - marks[0] - phases["log generation"]

    def make_readers(self, table_root: str, feeds: bool) -> Readers:
        # a fixed, seeded set of distinct keys touched by the log: some live,
        # some deleted by the time they are read
        epochs = self.wl["warmup_cycles"] * self.cycle + config.LOOKUP_KEY_EPOCHS
        hi = min(self.logs.max_lsn, self.prebuild_lsn + epochs * self.wl["epoch_events"])
        rng = random.Random(self.seed)
        keys: list[tuple[str, str]] = []
        while len(keys) < config.LOOKUPS:
            lsns = rng.sample(range(1, hi + 1), config.LOOKUPS)
            keys = list(dict.fromkeys(keys + self.oracle.keys_at(lsns)))[:config.LOOKUPS]
        return Readers(
            self.spark, table_root, self.work, keys, self.wl["lookups"],
            self.wl["scans"], feeds, self.checks,
        )

    # -------------------------------------------------------- the loop
    def apply_loop(self, seconds: float, readers: Readers | None = None,
                   min_cycles: int = 1) -> list[EpochStat]:
        """Apply consecutive epochs from ``self.lsn`` until ``seconds`` have
        passed, finishing the current cycle; at least ``min_cycles`` cycles."""
        out: list[EpochStat] = []
        e = self.wl["epoch_events"]
        t_end = time.perf_counter() + seconds
        table = LakeTable(self.spark, self.table_root)
        compact_every = self.wl.get("compact_every")
        while self.lsn < self.logs.max_lsn:
            if (len(out) >= min_cycles * self.cycle and len(out) % self.cycle == 0
                    and time.perf_counter() >= t_end):
                break
            lo, hi = self.lsn, min(self.lsn + e, self.logs.max_lsn)
            k = (hi - self.prebuild_lsn + e - 1) // e  # epoch index after prebuild
            t = time.perf_counter()
            res = self.engine.apply_epoch(self.logs.frame(hi), lo, hi)
            dt = time.perf_counter() - t
            self.checks.ok(not res.skipped and res.lsn_to == hi, f"epoch ({lo}, {hi}] skipped")
            if readers is not None:
                readers.round(hi)
            if compact_every and k % compact_every == 0:
                # after the readers saw this epoch's deletion vectors; the
                # closed loop charges inline maintenance to the epoch
                t = time.perf_counter()
                table.compact()
                dt += time.perf_counter() - t
            out.append(EpochStat(lo, hi, dt, res))
            self.lsn = hi
        return out

    # -------------------------------------------------------- oracle
    def verify(self, readers: Readers, last: EpochStat | None) -> None:
        table = LakeTable(self.spark, self.table_root)
        lsn = self.lsn
        rows = table.read().select(
            "repo", "path", "commit",
            F.col("content_sha256").eqNullSafe(F.sha2(F.col("content"), 256)).alias("ok"),
        ).collect()
        actual = [(r["repo"], r["path"], r["commit"]) for r in rows]
        expected = self.oracle.expected_rows(lsn)
        self.live_rows = len(actual)
        self.checks.ok(
            state_digest(actual) == state_digest(expected),
            f"final state at lsn {lsn}: {len(actual)} rows, expected {len(expected)}",
        )
        bad = sum(not r["ok"] for r in rows)
        self.checks.ok(bad == 0, f"{bad} rows with content_sha256 != sha2(content)")
        for at, repo, path, commits in readers.lookup_log:
            want = self.oracle.commit_at(at, repo, path)
            self.checks.ok(
                commits == ([] if want is None else [want]),
                f"lookup {repo}/{path} at lsn {at}: {commits} != {want}",
            )
        if readers.view is not None:
            readers.view.refresh()  # catch up with epochs applied since the last round
            got = {
                r["repo"]: (r["cnt"], r["lsn_sum"]) for r in readers.view.read().collect()
            }
            want = {
                r["repo"]: (r["cnt"], r["lsn_sum"])
                for r in table.read().groupBy("repo").agg(
                    F.count(F.lit(1)).alias("cnt"), F.sum("lsn").alias("lsn_sum")
                ).collect()
            }
            self.checks.ok(got == want, "view differs from a recompute over the table")
        if last is not None:
            v = table.latest_version()
            again = self.engine.apply_epoch(self.logs.frame(last.hi), last.lo, last.hi)
            self.checks.ok(
                again.skipped and table.latest_version() == v,
                f"re-applying epoch ({last.lo}, {last.hi}] was not a no-op",
            )

    # -------------------------------------------------------- facts
    def committed_bytes(self, v_from: int) -> int:
        """Bytes of data and deletion files committed after version v_from."""
        table = LakeTable(self.spark, self.table_root)
        seen: set[str] = set()
        for entry in table.log_entries(v_from + 1):
            seen.update(a["path"] for a in entry.get("add", []))
            for key in ("dv", "edv"):
                for refs in (entry.get(key) or {}).values():
                    seen.update(refs)
        return sum(table.store.size(p) for p in seen)

    def stored_bytes(self) -> tuple[int, int, int]:
        """(bytes referenced by the snapshot, live files, files with DVs)."""
        table = LakeTable(self.spark, self.table_root)
        snap = table.snapshot()
        paths = set(snap.files)
        with_dv = 0
        for meta in snap.files.values():
            refs = (meta.get("dv") or []) + (meta.get("edv") or [])
            with_dv += bool(refs)
            paths.update(refs)
        return sum(table.store.size(p) for p in paths), len(snap.files), with_dv

    def peak_rss_mb(self) -> float:
        """Peak RSS of the driver JVM plus this Python process, MiB."""
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        jvm_kb = 0
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0


def stop_jvm() -> None:
    """End the driver JVM and wait for it: it exits when its stdin closes,
    and takes its Python worker daemons with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# ------------------------------------------------------------ entry points
def events_per_s(epochs: list[EpochStat]) -> float:
    return sum(s.hi - s.lo for s in epochs) / sum(s.seconds for s in epochs)


def run_workload(name: str, seed: int, seconds: float, trace: bool, work: str) -> Result:
    w = Workload(name, seed, seconds, work)
    try:
        if trace:
            from perfbench.traced import run_traced

            metrics = run_traced(w)
        else:
            metrics = run_timed(w)
    except Exception as e:  # a failed operation is a result, not a crash
        import traceback

        w.checks.attempted += 1
        w.checks.failed += 1
        w.checks.messages.append(f"{type(e).__name__}: {e}")
        w.report.append(traceback.format_exc())
        metrics = {}
    finally:
        spark = getattr(w, "spark", None)
        if spark is not None:
            spark.stop()
            stop_jvm()
    for m in w.checks.messages:
        w.report.append(f"FAILED: {m}")
    correct = w.checks.failed == 0 and bool(metrics)
    return Result(correct, max(w.checks.attempted, 1), w.checks.failed, metrics, w.report)


def run_timed(w: Workload) -> dict:
    setup_s = w.setup(config.CORES)
    v0 = LakeTable(w.spark, w.table_root).latest_version()
    lsn0 = w.lsn
    epochs = w.apply_loop(w.seconds, readers=w.readers, min_cycles=config.MIN_CYCLES)
    committed = w.committed_bytes(v0)
    w.verify(w.readers, epochs[-1] if epochs else None)
    stored, files, dv_files = w.stored_bytes()
    ep = [s.seconds for s in epochs]
    r = w.readers
    ep_tail, ep_pct, ep_n = tail(ep)
    lk_tail, lk_pct, lk_n = tail(r.lookup_s)
    values = {
        "setup_s": setup_s,
        "events_per_s": events_per_s(epochs),
        "epoch_s_p50": median(ep),
        "lookup_s_p50": median(r.lookup_s),
        "scan_s_p50": median(r.scan_s),
        "write_amp": committed / w.oracle.event_bytes(lsn0, w.lsn),
        "stored_bytes_per_row": stored / max(w.live_rows, 1),
        "peak_rss_mb": w.peak_rss_mb(),
    }
    metrics = {k: (values[k], unit) for k, (unit, _) in END_TO_END.items()}
    w.report += [
        f"workload {w.name} seed {w.seed}: {len(epochs)} epochs, "
        f"lsn {lsn0}..{w.lsn}, {w.live_rows} live rows, {files} files "
        f"({dv_files} with deletion files)",
        "epoch seconds: " + ", ".join(f"{x:.3f}" for x in ep),
        f"epoch_s_tail = {ep_tail:.6g} s (p{ep_pct:.0f} of {ep_n} epochs); "
        f"lookup_s_tail = {lk_tail:.6g} s (p{lk_pct:.0f} of {lk_n} lookups)",
        f"failed_ratio {w.checks.failed / max(w.checks.attempted, 1):.4f} "
        f"({w.checks.failed}/{w.checks.attempted})",
    ]
    w.report += [f"{k} = {v:.6g} {u}" for k, (v, u) in metrics.items()]
    return metrics
