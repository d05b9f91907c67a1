"""perfbench.spans.read_event_log over a small synthetic Spark event log:
per-span job, task, time, shuffle, spill and Arrow counters, with work on
untagged stages in the "-" bucket."""

import json

import pytest

from perfbench.spans import (
    ARROW_FROM_PYTHON,
    ARROW_TO_PYTHON,
    SPAN_PROPERTY,
    read_event_log,
)


def _task_end(stage, run_ms, cpu_ns, gc_ms, shuffle, mem_spill, disk_spill):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Memory Bytes Spilled": mem_spill,
            "Disk Bytes Spilled": disk_spill,
        },
    }


def test_read_event_log_counters_per_span(tmp_path):
    events = [
        {"Event": "SparkListenerLogStart", "Spark Version": "3.5.0"},
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 0,
            "Stage IDs": [0, 1],
            "Properties": {SPAN_PROPERTY: "extract", "spark.job.description": "x"},
        },
        _task_end(0, 1500, 2_000_000_000, 100, 3_000_000, 1_000_000, 500_000),
        _task_end(1, 500, 250_000_000, 20, 1_000_000, 0, 0),
        {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {
                "Stage ID": 1,
                "Accumulables": [
                    {"ID": 7, "Name": ARROW_TO_PYTHON, "Value": "4000000"},
                    {"ID": 8, "Name": ARROW_FROM_PYTHON, "Value": "2500000"},
                    {"ID": 9, "Name": "number of output rows", "Value": "12"},
                ],
            },
        },
        _task_end(5, 250, 100_000_000, 0, 0, 0, 0),  # stage of no tagged job
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")

    got = read_event_log(str(tmp_path))

    assert set(got) == {"extract", "-"}
    span = got["extract"]
    assert span["jobs"] == 1
    assert span["tasks"] == 2
    assert span["executor_run_s"] == pytest.approx(2.0)
    assert span["executor_cpu_s"] == pytest.approx(2.25)
    assert span["jvm_gc_s"] == pytest.approx(0.12)
    assert span["shuffle_write_mb"] == pytest.approx(4.0)
    assert span["spill_mb"] == pytest.approx(1.5)
    assert span["arrow_to_python_mb"] == pytest.approx(4.0)
    assert span["arrow_from_python_mb"] == pytest.approx(2.5)
    untagged = got["-"]
    assert untagged["tasks"] == 1
    assert untagged["executor_run_s"] == pytest.approx(0.25)
    assert untagged["executor_cpu_s"] == pytest.approx(0.1)
    assert "jobs" not in untagged


def test_trace_core_attributes_every_core_layer():
    """trace_core wraps each CORE_LAYERS name that htmlx.core.extract binds
    (a renamed or dropped name raises here, as it would in every traced
    run), gives every layer self time over the golden corpus and restores
    the names afterwards."""
    from htmlx.core import dom, extract
    from htmlx.fixtures import corpus
    from perfbench.spans import CORE_LAYERS, Tracer, trace_core

    out = trace_core(Tracer(), [html for _, html in corpus()])
    for layer in CORE_LAYERS:
        assert out[f"core.{layer}.us_per_doc"] > 0, layer
    assert out["core.extract.self_us_per_doc"] > 0
    assert extract.parse is dom.parse
