"""Per-layer spans for the traced run.

A span is opened and closed from the benchmark's own code around a call into
one layer; while it is open every Spark job runs under the job group
"<span>#<iteration>". After the session stops, the uncompressed event log is
read back and each job group's task metrics are summed, so a span carries
both its wall time as the caller sees it and the executor work it caused.

For the KG build the spans are the six materializations the pipeline
performs itself: the four `CheckpointManager.run_stage` commits and the two
eager `localCheckpoint` calls in `KGPipeline.run`. The latter two are opened
when the pipeline calls the layer entry point that builds the frame
(`resolve_aliases`, `aggregate_program_triples`) and closed when the
pipeline's next eager `localCheckpoint` returns, so plan-time jobs inside the
entry point (the expand layer's own `edge_starts` checkpoint) stay inside
the span. Jobs outside every span run under "driver.gap".
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import sys
import time
from collections import defaultdict

MB = 1024 * 1024
# every span's metrics, with their units
SPAN_METRICS = {
    "wall_s": "s",
    "task_s": "s",
    "idle_core_s": "s",
    "gc_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "py_mb": "MB",
    "rows_out": "count",
    "retries": "count",
}
# checkpoint stage name (query-key suffix stripped) -> span name
STAGE_SPANS = {
    "mentions": "extract.mentions",
    "rep_map": "canonicalize.rep_map",
    "doc_entities": "canonicalize.doc_entities",
    "triples_base": "expand.triples_base",
    "triples": "supporters.triples",
    "nodes": "materialize.nodes",
}
GAP = "driver.gap"
_PY_ACCUMS = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    """Spans of the current iteration, tagged onto Spark jobs by job group."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.iteration = -1
        self.spans: list[dict] = []
        self._open: dict | None = None

    def _group(self, name: str) -> None:
        self.sc.setJobGroup(f"{name}#{self.iteration}", name)

    def begin(self, iteration: int) -> None:
        self.iteration = iteration
        self._group(GAP)

    def end(self) -> None:
        """Close a span left open, then count the rows of checkpointed spans
        (outside the iteration's timing, in a group no span reads)."""
        if self._open is not None:
            self.close()
        self.sc.setJobGroup("untimed", "untimed")
        for span in self.spans:
            frame = span.pop("frame", None)
            if frame is not None:
                span["rows_out"] = frame.count()

    def open(self, name: str) -> bool:
        """Open `name` unless a span is already open (nested calls belong to
        the outer span). Returns whether this call opened it."""
        if self._open is not None:
            return False
        self._open = {
            "iteration": self.iteration,
            "name": name,
            "start": time.perf_counter(),
            "rows_out": 0,
        }
        self._group(name)
        return True

    def close(self, frame=None) -> None:
        """Close the open span; `frame`, if given, is counted for its
        rows_out at the end of the iteration."""
        span, self._open = self._open, None
        span["wall_s"] = time.perf_counter() - span.pop("start")
        if frame is not None:
            span["frame"] = frame
        self.spans.append(span)
        self._group(GAP)

    @contextlib.contextmanager
    def span(self, name: str):
        opened = self.open(name)
        try:
            yield self._open if opened else None
        finally:
            if opened:
                self.close()

    @contextlib.contextmanager
    def kg_hooks(self):
        """Wrap the pipeline's materialization points for the `with` body."""
        from unittest import mock

        from robokop_build_spark.plans import pipeline
        from robokop_build_spark.sources.checkpoint import CheckpointManager

        tracer = self
        # the session's concrete DataFrame class (a subclass of
        # pyspark.sql.DataFrame that defines localCheckpoint itself)
        DataFrame = type(self.spark.range(0))
        run_stage = CheckpointManager.run_stage
        local_checkpoint = DataFrame.localCheckpoint

        def traced_run_stage(mgr, stage, *args, **kwargs):
            base = stage.split("@")[0]
            with tracer.span(STAGE_SPANS.get(base, f"stage.{base}")) as span:
                out = run_stage(mgr, stage, *args, **kwargs)
                if span is not None:
                    span["rows_out"] = (mgr.current_meta(stage) or {}).get("n_rows", 0)
            return out

        def opens(fn, name):
            def wrapped(*args, **kwargs):
                tracer.open(name)
                return fn(*args, **kwargs)

            return wrapped

        def traced_local_checkpoint(df, *args, **kwargs):
            out = local_checkpoint(df, *args, **kwargs)
            caller = sys._getframe(1).f_globals.get("__name__")
            if caller == pipeline.__name__ and tracer._open is not None:
                tracer.close(frame=out)
            return out

        with contextlib.ExitStack() as stack:
            stack.enter_context(
                mock.patch.object(CheckpointManager, "run_stage", traced_run_stage)
            )
            stack.enter_context(
                mock.patch.object(DataFrame, "localCheckpoint", traced_local_checkpoint)
            )
            stack.enter_context(
                mock.patch.object(
                    pipeline,
                    "resolve_aliases",
                    opens(pipeline.resolve_aliases, STAGE_SPANS["doc_entities"]),
                )
            )
            stack.enter_context(
                mock.patch.object(
                    pipeline,
                    "aggregate_program_triples",
                    opens(pipeline.aggregate_program_triples, STAGE_SPANS["triples_base"]),
                )
            )
            yield


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings for an uncompressed event log under `log_dir`."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        # the default zstd codec needs the zstandard module to read back
        "spark.eventLog.compress": "false",
    }


def group_metrics(log_dir: str) -> dict[str, dict[str, float]]:
    """Job group -> summed task metrics, from every event file under log_dir.

    retries counts task attempts that did not end in Success."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    m = out[group]
                    tm = ev.get("Task Metrics") or {}
                    m["task_s"] += tm.get("Executor Run Time", 0) / 1000
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1000
                    shuffle = tm.get("Shuffle Write Metrics") or {}
                    m["shuffle_mb"] += shuffle.get("Shuffle Bytes Written", 0) / MB
                    m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
                    for acc in ev["Task Info"].get("Accumulables", []):
                        if acc.get("Name") in _PY_ACCUMS:
                            m["py_mb"] += float(acc.get("Update") or 0) / MB
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        m["retries"] += 1
    return out


def span_metrics(spans: list[dict], groups: dict, cores: int) -> list[dict]:
    """Each span with its job group's task metrics and idle core time."""
    out = []
    for span in spans:
        g = groups.get(f"{span['name']}#{span['iteration']}", {})
        row = dict(span)
        for key in ("task_s", "gc_s", "shuffle_mb", "spill_mb", "py_mb", "retries"):
            row[key] = g.get(key, 0.0)
        row["idle_core_s"] = cores * row["wall_s"] - row["task_s"]
        out.append(row)
    return out


def layer_medians(rows: list[dict], layer_of) -> dict[str, float]:
    """Sum span rows per (iteration, layer), then take the median over
    iterations of each metric: {"<layer>.<metric>": value}. Layers absent
    from an iteration count as 0 there."""
    per: dict[str, dict[int, dict[str, float]]] = defaultdict(
        lambda: defaultdict(lambda: defaultdict(float))
    )
    iterations = sorted({r["iteration"] for r in rows})
    for r in rows:
        layer = layer_of(r["name"])
        if layer is None:
            continue
        for key in SPAN_METRICS:
            per[layer][r["iteration"]][key] += r[key]
    return {
        f"{layer}.{key}": statistics.median(by_it[i][key] for i in iterations)
        for layer, by_it in per.items()
        for key in SPAN_METRICS
    }
