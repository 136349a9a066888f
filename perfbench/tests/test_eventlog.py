from pathlib import Path

from perfbench.eventlog import parse, read_lines

DATA = Path(__file__).resolve().parent / "data"


def test_small_log_rolls_up_per_group():
    groups = parse(read_lines(DATA))
    assert set(groups) == {"pb1", "pb2"}  # the ungrouped job is ignored

    build = groups["pb1"]
    assert (build.jobs, build.listing_jobs, build.stages, build.tasks) == (2, 1, 2, 1)
    assert build.first_job_ms == 1000
    assert (build.input_bytes, build.input_records) == (100, 10)
    assert build.task_wait_ms == 4

    run = groups["pb2"]
    assert (run.jobs, run.stages, run.tasks, run.failed_tasks) == (1, 2, 3, 1)
    assert run.first_job_ms == 1150
    assert run.executor_run_ms == 185
    assert run.executor_cpu_ns == 101_000_000
    assert run.gc_ms == 12
    assert run.task_wait_ms == (1160 - 1150) + (1170 - 1150) + (1315 - 1310)
    assert (run.shuffle_write_bytes, run.shuffle_read_bytes, run.spill_bytes) == (512, 512, 2048)
    # SQL metrics: task updates by plan node, driver updates by execution
    assert (run.files_read, run.scans) == (3, 1)
    assert (run.python_run_ms, run.python_boot_ms, run.python_bytes_sent) == (120, 30, 4096)
    assert run.join_output_rows == 40  # MapInPandas rows are not join rows


def test_empty_log_has_no_groups():
    assert parse([]) == {}
