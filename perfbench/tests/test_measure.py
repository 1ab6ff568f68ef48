"""Unit tests for the benchmark's own measurement code.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os

import pytest

from measure import commit_latencies, parse_event_log, tail_percentile


# ----------------------------------------------------------------- percentile


def test_tail_needs_ten_samples_beyond():
    assert tail_percentile(list(range(19))) is None
    assert tail_percentile(list(range(20)))[0] == 50.0
    assert tail_percentile(list(range(99)))[0] == 75.0
    assert tail_percentile(list(range(100)))[0] == 90.0
    assert tail_percentile(list(range(199)))[0] == 90.0
    assert tail_percentile(list(range(200)))[0] == 95.0
    assert tail_percentile(list(range(1000)))[0] == 99.0
    assert tail_percentile(list(range(10_000)))[0] == 99.9


def test_tail_value_is_nearest_rank_with_ten_beyond():
    values = [float(v) for v in range(1, 101)]  # 1..100, shuffled order is irrelevant
    pct, value = tail_percentile(list(reversed(values)))
    assert (pct, value) == (90.0, 90.0)
    assert sum(1 for v in values if v > value) == 10


# ----------------------------------------------------------------- file -> batch


def test_files_map_to_batches_by_cumulative_rows():
    # Four 100-row files due at t=0,1,2,3; a 50-row warm-up file precedes them.
    scheduled = [0.0, 1.0, 2.0, 3.0]
    rows = [100, 100, 100, 100]
    # Batch 1 commits warm-up + file 0, batch 2 files 1 and 2, batch 3 file 3.
    batches = [(0.5, 150), (2.75, 200), (3.5, 100)]
    assert commit_latencies(scheduled, rows, batches, skip_rows=50) == [0.5, 1.75, 0.75, 0.5]


def test_uncommitted_files_have_no_latency():
    scheduled = [0.0, 1.0, 2.0]
    batches = [(1.5, 200)]
    assert commit_latencies(scheduled, [100, 100, 100], batches) == [1.5, 0.5, None]


def test_file_split_across_batches_waits_for_its_last_row():
    # A file is committed only when the batch covering its last row ends.
    assert commit_latencies([0.0], [100], [(1.0, 60), (2.0, 40)]) == [2.0]


# ----------------------------------------------------------------- event log


@pytest.fixture(scope="module")
def tiny_query_log(tmp_path_factory):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-parser-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    try:
        sc.setJobGroup("tiny", "tiny")
        # 4 input partitions -> shuffle -> 3 reduce partitions: one job, two stages.
        spark.range(0, 20_000, numPartitions=4).groupBy((F.col("id") % 7).alias("k")).count().collect()
        jobs = list(sc.statusTracker().getJobIdsForGroup("tiny"))
        sc.setJobGroup("other", "other")
        spark.range(10).collect()
        path = os.path.join(log_dir, sc.applicationId)
    finally:
        spark.stop()
    return parse_event_log(path), jobs


def test_parser_counts_jobs_stages_and_tasks(tiny_query_log):
    groups, jobs = tiny_query_log
    tiny = groups["tiny"]
    assert tiny["jobs"] == len(jobs) == 1
    assert tiny["stages"] == 2
    assert tiny["tasks"] == 4 + 3
    assert groups["other"]["jobs"] == 1
    assert groups["other"]["stages"] == 1


def test_parser_sums_cpu_time_and_shuffle_bytes(tiny_query_log):
    groups, _ = tiny_query_log
    tiny = groups["tiny"]
    assert tiny["cpu_s"] > 0
    assert tiny["run_s"] > 0
    # Every reduce task reads what the map side wrote.
    assert tiny["shuffle_write_bytes"] > 0
    assert tiny["shuffle_read_bytes"] == tiny["shuffle_write_bytes"]
    assert groups["other"]["shuffle_write_bytes"] == 0
    assert tiny["spill_bytes"] == 0
