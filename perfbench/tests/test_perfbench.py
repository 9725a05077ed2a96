"""Fast checks of the benchmark's own code (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
import measure  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _job(job_id, group, stages):
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job_id,
        "Stage IDs": stages,
        "Properties": {"spark.jobGroup.id": group} if group else {},
    }


def _stage(sid, group):
    return {
        "Event": "SparkListenerStageSubmitted",
        "Stage Info": {"Stage ID": sid},
        "Properties": {"spark.jobGroup.id": group} if group else {},
    }


def _task(sid, run_ms, shuffle_w=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": sid,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 5},
            "Disk Bytes Spilled": 0,
        },
    }


def test_rollup_keys_stages_per_application():
    app = {"Event": "SparkListenerApplicationStart"}
    events = [
        app,
        _job(0, "pipeline.parse", [0]),
        _stage(0, "pipeline.parse"),
        _task(0, 1000, shuffle_w=7),
        _task(0, 3000),
        app,  # a second application reuses stage id 0
        _job(0, None, [0]),
        _stage(0, None),
        _task(0, 500),
    ]
    roll = spans.rollup(events)
    parse = roll["groups"]["pipeline.parse"]
    assert (parse["jobs"], parse["stages"], parse["tasks"]) == (1, 1, 2)
    assert parse["task_s"] == pytest.approx(4.0)
    assert parse["task_cpu_s"] == pytest.approx(4.0)
    assert parse["shuffle_write_bytes"] == 7
    assert parse["shuffle_read_bytes"] == 10
    assert roll["groups"][""]["tasks"] == 1
    assert roll["stage_tasks"]["pipeline.parse"] == [[1.0, 3.0]]
    total = spans.sum_groups(roll, lambda g: True)
    assert total["tasks"] == 3


def test_task_skew_uses_busiest_stage():
    assert spans.task_skew([[0.1], [1.0, 1.0, 3.0]]) == pytest.approx(3.0)
    assert spans.task_skew([]) == 0.0


class _FakeSc:
    def __init__(self):
        self.props = {}
        self.history = []

    def setLocalProperty(self, key, value):
        self.props[key] = value
        self.history.append(value)


def test_tracer_nests_job_groups_and_restores_them():
    sc = _FakeSc()
    t = spans.Tracer(sc)
    t.set_scope("pipeline.scan")
    with t.span("lineage.write_audit"):
        assert sc.props["spark.jobGroup.id"] == "pipeline.scan/lineage.write_audit"
    assert sc.props["spark.jobGroup.id"] == "pipeline.scan"
    t.set_scope(None)
    assert sc.props["spark.jobGroup.id"] is None
    assert t.spans[0]["parent"] == "pipeline.scan"
    assert t.total_s("lineage.write_audit") >= 0


def test_tracer_wrap_and_unwrap():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    t = spans.Tracer(_FakeSc())
    seen = []
    t.wrap(mod, "f", "mod.f", after=lambda a, k: seen.append(a))
    assert mod.f(1) == 2 and seen == [(1,)]
    assert [s["name"] for s in t.spans] == ["mod.f"]
    t.unwrap_all()
    assert not hasattr(mod.f, "__wrapped__")


def test_quartile_spread():
    assert measure.quartile_spread([10.0] * 5) == 0.0
    assert measure.quartile_spread([8.0, 9.0, 10.0, 11.0, 12.0]) > 0


def test_documents_are_seeded():
    a = inputs.documents_table(200, 7).to_pandas()
    b = inputs.documents_table(200, 7).to_pandas()
    c = inputs.documents_table(200, 8).to_pandas()
    pd.testing.assert_frame_equal(a, b)
    assert not a["text"].equals(c["text"])
    assert list(a.columns) == ["doc_id", "text", "lang", "source", "n_chars"]
    assert (a["n_chars"] == a["text"].str.len()).all()


def test_documents_have_the_sf_table_shapes():
    t = inputs.documents_table(1000, 3).to_pandas()
    words = t["text"].str.split(" ")
    copies = t["text"].str.endswith(" dup")
    assert copies.sum() == 1000 // inputs.NEAR_COPY_EVERY
    assert t["text"].is_unique
    base = set(t.loc[~copies, "text"])
    assert t.loc[copies, "text"].str[: -len(" dup")].isin(base).all()
    lo, hi = inputs.WORDS_PER_DOC
    assert words[~copies].map(len).between(lo, hi).all()
    assert {w for ws in words for w in ws} == set(inputs.VOCAB) | {"dup"}
    assert (t["source"] == [f"src{i % 20}" for i in range(1000)]).all()


def test_a_leg_that_raises_is_a_failed_check(monkeypatch):
    class _Df:
        def toArrow(self):
            return "rows"

    def boom(spark, tables_dir):
        raise RuntimeError("boom")

    monkeypatch.setattr(
        workloads, "_leg_builders", lambda: {"ok": lambda spark, d: _Df(), "bad": boom}
    )
    run = workloads.Run("curation_queries", 1, False, "", 1)
    out = workloads._run_legs(run, None, "", ["bad", "ok"])
    assert out["results"] == {"ok": "rows"}
    assert set(out["legs"]) == {"bad", "ok"}
    assert run.attempted == 1 and run.failures[0].startswith("bad raised RuntimeError")


def test_canon_rows_ignore_order_and_column_order():
    x = pd.DataFrame({"a": [1, 2], "b": [0.1, 0.2]})
    y = pd.DataFrame({"b": [0.2, 0.1], "a": [2, 1]})
    assert sorted(workloads._canon_rows(x)) == sorted(workloads._canon_rows(y))


def test_leg_order_follows_seed():
    assert workloads._leg_order(3) == workloads._leg_order(3)
    assert sorted(workloads._leg_order(3)) == sorted(workloads.CURATION_LEGS)


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory that holds only the benchmark, run.py fails fast
    and prints no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_full", "--seed", "1"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert r.returncode != 0
    assert r.stdout.strip() == ""


def test_stop_descendants_finds_and_stops_orphans():
    """An orphaned grandchild stays in the benchmark's tree and is
    stopped and waited for at the end of a run."""
    script = (
        "import os, subprocess, sys\n"
        f"sys.path.insert(0, {BENCH!r})\n"
        "import measure\n"
        "assert measure.become_subreaper()\n"
        "out = subprocess.run(['sh', '-c', 'sleep 60 >/dev/null 2>&1 & echo $!'], capture_output=True, text=True)\n"
        "pid = int(out.stdout)\n"
        "assert pid in measure.descendant_pids()\n"
        "assert measure.stop_descendants() == [pid]\n"
        "assert not os.path.exists(f'/proc/{pid}')\n"
        "assert measure.stop_descendants() == []\n"
    )
    r = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=60)
    assert r.returncode == 0, r.stderr
