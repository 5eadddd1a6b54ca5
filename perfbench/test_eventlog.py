"""Tests of the event-log parser on a small recorded Spark 4.1 log.

``fixtures/eventlog_v2_local-fixture`` was recorded by
``fixtures/record_fixture.py``: two tagged jobs, a 1000-row range
aggregated into 10 groups over 2 partitions (then written as parquet),
and an untagged count. Run with ``python3 -m pytest perfbench``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventlog import event_files, parse, union_ms  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def _log():
    return parse(FIXTURE)


def test_event_files_resolve_the_single_rolling_app_dir():
    files = event_files(FIXTURE)
    assert len(files) == 1 and files[0].endswith(".zstd")


def test_stages_group_by_job_description():
    groups = _log().by_description()
    assert set(groups) == {"pb:0:aggregate", "pb:1:write", None}
    assert all(st.job_id is not None for sts in groups.values() for st in sts)


def test_map_stage_shuffle_write_and_scan_rows():
    log = _log()
    agg = log.by_description()["pb:0:aggregate"]
    maps = [st for st in agg if st.shuffle_write_records and not st.shuffle_read_records]
    assert len(maps) == 1
    m = maps[0]
    # 2 partitions x 10 groups, map-side combined
    assert m.shuffle_write_records == 20
    assert m.shuffle_write_bytes > 0
    assert log.sql_rows(m, lambda n: n.node == "Range") == 1000
    assert len(m.task_ms) == 2 and m.task_p50_ms <= m.task_max_ms
    assert m.run_ms > 0 and m.cpu_ns > 0


def test_reduce_stage_reads_what_the_map_stage_wrote():
    agg = _log().by_description()["pb:0:aggregate"]
    reads = [st for st in agg if st.shuffle_read_records]
    assert sum(st.shuffle_read_records for st in reads) == 20


def test_write_job_output_bytes_and_driver_side_file_count():
    log = _log()
    write = log.by_description()["pb:1:write"]
    assert sum(st.output_bytes for st in write) > 0
    files = [v for a, v in log.driver_metrics.items()
             if log.nodes.get(a) and log.nodes[a].metric == "number of written files"
             and log.execution_desc.get(log.nodes[a].execution_id) == "pb:1:write"]
    assert files and sum(files) >= 1


def test_jobs_carry_times_and_task_intervals_fall_inside_their_stage():
    log = _log()
    for job in log.jobs.values():
        assert 0 < job.submit_ms <= job.complete_ms
    for st in log.stages:
        for a, b in st.task_intervals:
            assert st.submit_ms <= a <= b <= st.complete_ms


def test_union_ms_merges_overlaps_and_clips():
    assert union_ms([(0, 10), (5, 15), (20, 30)], 0, 100) == 25
    assert union_ms([(0, 10), (5, 15), (20, 30)], 8, 25) == 12
    assert union_ms([], 0, 10) == 0
