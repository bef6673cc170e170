import os

import pytest

from kgbench import eventlog

DATA = os.path.join(os.path.dirname(__file__), "data")


def _groups():
    with open(os.path.join(DATA, "eventlog_small.jsonl")) as f:
        return eventlog.read_groups(f)


def test_jobs_stages_tasks_attributed_to_job_groups():
    g = _groups()
    assert set(g) == {"extract", "cc", None}
    # stage 1 is listed by both jobs: it stays with the first (extract)
    assert (g["extract"].jobs, g["extract"].stages, g["extract"].tasks) == (1, 2, 3)
    assert (g["cc"].jobs, g["cc"].stages, g["cc"].tasks) == (1, 1, 1)
    assert (g[None].jobs, g[None].tasks) == (1, 1)


def test_task_metrics_summed_per_group():
    ex = _groups()["extract"]
    assert ex.run_ms == 250
    assert ex.cpu_ms == pytest.approx(120.0)
    assert (ex.input_records, ex.input_bytes) == (22, 2200)
    assert ex.shuffle_write_bytes == 620
    assert ex.shuffle_read_bytes == 620  # local + remote
    assert ex.output_bytes == 500
    assert ex.spill_bytes == 7  # disk bytes spilled


def test_python_runner_accumulators():
    ex = _groups()["extract"]
    assert (ex.py_sent_bytes, ex.py_returned_bytes) == (9000, 5000)
    assert (ex.py_start_ms, ex.py_init_ms, ex.py_run_ms) == (40, 20, 160)
    assert _groups()["cc"].py_sent_bytes == 0


def test_read_dir_sums_apps_and_refuses_unfinished_logs(tmp_path):
    src = open(os.path.join(DATA, "eventlog_small.jsonl")).read()
    (tmp_path / "app-1").write_text(src)
    (tmp_path / "app-2").write_text(src)
    assert eventlog.read_dir(str(tmp_path))["extract"].tasks == 6
    (tmp_path / "app-3.inprogress").write_text(src)
    with pytest.raises(RuntimeError):
        eventlog.read_dir(str(tmp_path))
