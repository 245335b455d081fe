"""Every knob of the benchmark in one place: Spark parallelism, memory and
the size of each workload. Nothing here reads the environment, so two
checkouts of the same commit run the same benchmark."""

from __future__ import annotations

# local[CORES] for every timed section; shuffle partitions follow it so a
# small epoch is not split into the 200-partition default.
CORES = 4
SHUFFLE_PARTITIONS = 4
# Passed through PYSPARK_SUBMIT_ARGS: a SparkSession builder setting is
# ignored once the driver JVM is up.
DRIVER_MEMORY = "2g"

# Key space and skew shared by every generated log (fixtures.generators).
N_REPOS = 200
ZIPF_S = 1.2
NUM_BUCKETS = 16

# A reader round runs after every timed epoch: `lookups` key predicates,
# taken in turn from LOOKUPS fixed keys drawn from the log up to
# LOOKUP_KEY_EPOCHS epochs past the warm-up, then `scans` per-repo
# aggregates. Many distinct keys keep the median lookup from hanging on
# which few keys a seed happens to pick; rounds spread over the whole run
# keep it from hanging on how fast the host was in one stretch. With
# `feeds`, traced runs add a change-feed poll and a view refresh.
LOOKUPS = 12
LOOKUP_KEY_EPOCHS = 2
# Set-up reads this many of the keys, and scans once, before timing.
WARMUP_LOOKUPS = 3

# A timed apply loop runs whole cycles (read_mix: a mixed and an all-delete
# epoch) and at least MIN_CYCLES of them, so a slow host does not change
# the mix of epochs a run medians over.
MIN_CYCLES = 2

# After the pre-built table, set-up applies `warmup_cycles` whole cycles of
# epoch-sized epochs, untimed: the JIT keeps speeding small merges up for
# many epochs, and timing the steep start of that curve makes runs disagree.
WORKLOADS = {
    # Many small epochs against a table hundreds of times the epoch size:
    # per-commit fixed cost dominates.
    "trickle": dict(
        log_events=14_000,
        paths_per_repo=50,
        op_mix=(0.6, 0.3, 0.1),
        prebuild_events=12_000,
        epoch_events=25,
        warmup_cycles=3,
        lookups=2,
        scans=2,
    ),
    # Medium delete-heavy epochs on a table with key blooms, a schema
    # boundary at the first warm-up epoch, every all_delete_every-th epoch
    # deletes only (the merge-on-read path), inline compaction every
    # compact_every epochs, and the change feed and view in traced runs.
    "read_mix": dict(
        log_events=30_000,
        paths_per_repo=40,
        op_mix=(0.4, 0.3, 0.3),
        prebuild_events=8_000,
        epoch_events=500,
        warmup_cycles=1,
        feeds=True,
        lookups=3,
        scans=2,
        bloom=True,
        all_delete_every=2,
        compact_every=2,
    ),
}
