"""Tests of the benchmark itself (no Spark session needed).

Run from the repository root: python3 -m pytest kgbench/tests -q
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from kgbench import run, tracing, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_pins_workloads_and_metrics(spec):
    assert set(spec) == {
        "command",
        "paths",
        "run_seconds",
        "workloads",
        "end_to_end",
        "per_layer",
    }
    assert spec["command"] == ["python3", "kgbench/run.py"]
    assert spec["paths"] == ["kgbench"]
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER_UNITS
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert m["better"] == "lower" and 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}


def test_per_layer_names_cover_every_span_metric():
    for layer in [*tracing.STAGE_SPANS.values(), "dedup", "text", "similarity"]:
        for metric in tracing.SPAN_METRICS:
            assert f"{layer}.{metric}" in workloads.PER_LAYER_UNITS
    for q in workloads.DocOperators.queries:
        assert q in workloads.LAYER_OF
        assert f"{q}.wall_s" in workloads.PER_LAYER_UNITS


def test_result_line_schema():
    line = run.result_line(
        [{"op": "warm", "wall_s": 1.0}],
        [{"iteration": 0, "wall_s": 2.0, "ok": True}],
        {"wall_s": 2.0, "cpu_s": 5.0, "setup_s": 20.0},
        workloads.END_TO_END_UNITS,
    )
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert (line["correct"], line["attempted"], line["failed"]) == (True, 2, 0)
    assert set(line["metrics"]) == set(workloads.END_TO_END_UNITS)
    assert line["metrics"]["setup_s"] == {"value": 20.0, "unit": "s"}
    json.dumps(line)


class _Frame:
    """Stands in for the Spark DataFrame an iteration returns."""

    def __init__(self, df: pd.DataFrame):
        self.df = df

    def toPandas(self) -> pd.DataFrame:
        return self.df


def _triples() -> pd.DataFrame:
    from robokop_build_spark.datagen.oracle_fixtures import KG_COLUMNS

    rows = []
    for i in range(3):
        row = {c: f"{c}-{i}" for c in KG_COLUMNS}
        row["ctime"] = 0
        rows.append(row)
    return pd.DataFrame(rows, columns=KG_COLUMNS)


def _iteration_records(wl, good, bad, expected) -> list[dict]:
    return [
        {"iteration": 0, "ok": wl.check(good, expected)},
        {"iteration": 1, "ok": wl.check(bad, expected)},
    ]


def test_dropped_triple_is_a_failed_iteration():
    expected = _triples()
    wl = workloads.WORKLOADS["kg_fresh"]
    # column order and row order do not matter; content does
    shuffled = expected[expected.columns[::-1]].iloc[::-1]
    good = {"triples": _Frame(shuffled)}
    bad = {"triples": _Frame(expected.iloc[1:])}
    iterations = _iteration_records(wl, good, bad, expected)
    assert run.count_failures([], iterations) == (2, 1)
    assert run.result_line([], iterations, {}, {})["correct"] is False


def test_altered_dedup_row_is_a_failed_iteration():
    wl = workloads.WORKLOADS["doc_operators"]
    pairs = pd.DataFrame({"id_a": [1, 2], "id_b": [5, 9], "jaccard": [0.5, 0.25]})
    expected = {q: pd.DataFrame({"x": [1]}) for q in wl.queries}
    expected["dedup_ngram_jaccard"] = pairs
    good = {"frames": dict(expected)}
    altered = pairs.copy()
    altered.loc[1, "jaccard"] = 0.26
    bad = {"frames": {**expected, "dedup_ngram_jaccard": altered}}
    iterations = _iteration_records(wl, good, bad, expected)
    assert run.count_failures([], iterations) == (2, 1)


def test_warmup_error_counts_as_failure():
    warmup = [{"op": "a", "wall_s": 1.0}, {"op": "b", "error": "RuntimeError: boom"}]
    assert run.count_failures(warmup, [{"iteration": 0, "ok": True}]) == (3, 1)


def test_event_log_attribution(tmp_path):
    """Task metrics land on the job group of the job that ran the stage."""
    log = tmp_path / "eventlog_v2_app" / "events_1_app"
    log.parent.mkdir()

    def task(stage, run_ms, gc_ms, shuffle, py, reason="Success"):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Info": {
                "Accumulables": [
                    {"Name": "data sent to Python workers", "Update": str(py)},
                    {"Name": "number of output rows", "Update": "7"},
                ]
            },
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "JVM GC Time": gc_ms,
                "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            },
        }

    events = [
        {
            "Event": "SparkListenerJobStart",
            "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "extract.mentions#0"},
        },
        task(0, 1500, 100, tracing.MB, 2 * tracing.MB),
        task(1, 500, 0, 0, 0, reason="ExceptionFailure"),
        {
            "Event": "SparkListenerJobStart",
            "Stage IDs": [1, 2],
            "Properties": {"spark.jobGroup.id": "driver.gap#0"},
        },
        task(2, 250, 0, 0, 0),
    ]
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    groups = tracing.group_metrics(str(tmp_path))
    m = groups["extract.mentions#0"]
    assert m["task_s"] == pytest.approx(2.0)
    assert m["gc_s"] == pytest.approx(0.1)
    assert m["shuffle_mb"] == pytest.approx(1.0)
    assert m["py_mb"] == pytest.approx(2.0)
    assert m["retries"] == 1
    assert groups["driver.gap#0"]["task_s"] == pytest.approx(0.25)

    spans = [{"iteration": 0, "name": "extract.mentions", "wall_s": 1.0, "rows_out": 10}]
    rows = tracing.span_metrics(spans, groups, cores=4)
    assert rows[0]["idle_core_s"] == pytest.approx(4 * 1.0 - 2.0)
    medians = tracing.layer_medians(rows, lambda name: name)
    assert medians["extract.mentions.rows_out"] == 10
    assert medians["extract.mentions.py_mb"] == pytest.approx(2.0)


def test_highest_percentile_needs_ten_samples_beyond():
    assert run.highest_percentile([1.0] * 10) is None
    p, v = run.highest_percentile([float(i) for i in range(20)])
    assert p == 50.0 and v == 9.0
