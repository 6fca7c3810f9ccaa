"""Per-layer spans for the KG benchmark, taken from outside the library.

A span is a slice of wall time during which one layer is *current*. The
benchmark makes a layer current when the program calls into it (a
``KGPipeline`` stage method, the conflict resolver, a checkpoint stage, the
graph sink, the HTTP service) and sets a fresh Spark job group for the slice,
so every Spark job the layer triggers carries the span's group id in the
event log. The layer stays current after the call returns, because the
pipeline is lazy: the jobs a stage defines run at the next materialization,
which comes before the next stage call.

Spans are kept in memory and written once, when the run ends. Per-layer
metrics come from grouping the Spark event log by job group
(:func:`parse_event_log`) and summing the groups of each layer
(:func:`layer_metrics`). Because slices on one thread never overlap, a
layer's summed slice time is its self time; the per-stage checkpoint spans
are parents whose self time is the checkpoint layer's own slices.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from collections import defaultdict
from pathlib import Path

LAYERS = (
    "assembly", "ner", "linking", "clustering", "rel_linking", "fusion",
    "conflicts", "checkpoint", "sinks", "serve",
)

#: metrics every layer reports: (name, unit, better)
LAYER_METRICS = (
    ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("shuffle_bytes", "B", "lower"),
    ("python_bytes", "B", "lower"),
    ("python_init_s", "s", "lower"),
    ("busy_share", "ratio", "higher"),
    ("task_skew", "ratio", "lower"),
)

#: layer-specific ratios and the traced-pass summary: (name, unit, better)
EXTRA_METRICS = (
    ("linking.candidates_per_mention", "ratio", "lower"),
    ("linking.rerank_kept_ratio", "ratio", "higher"),
    ("conflicts.dirty_conv_share", "ratio", "lower"),
    ("checkpoint.write_bytes", "B", "lower"),
    ("checkpoint.manifest_wall_s", "s", "lower"),
    ("serve.jobs_per_request", "count", "lower"),
    ("pass.wall_s", "s", "lower"),
    ("pass.span_cover", "ratio", "higher"),
)

#: job group of Spark jobs outside every span
UNTRACED = "kgb-untraced"

#: checkpoint stage name -> the layer whose module computes it
STAGE_LAYER = {
    "documents": "assembly",
    "mentions": "ner",
    "raw_triples": "ner",
    "candidates": "linking",
    "entities": "clustering",
    "linked_triples": "rel_linking",
    "fused": "fusion",
    "triples": "conflicts",
    "final_entities": "conflicts",
}

#: KGPipeline stage methods -> layer
_PIPELINE_METHODS = {
    "documents": "assembly",
    "scan_products": "ner",
    "mentions": "ner",
    "raw_triples": "ner",
    "candidates": "linking",
    "entities": "clustering",
    "linked_triples": "rel_linking",
    "fused": "fusion",
}


def per_layer_spec() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better), in print order."""
    spec = [
        (f"{layer}.{metric}", unit, better)
        for layer in LAYERS
        for metric, unit, better in LAYER_METRICS
    ]
    return spec + list(EXTRA_METRICS)


class Tracer:
    """Switches the current layer per thread and records the slices."""

    def __init__(self, spark_context):
        self._sc = spark_context
        self._lock = threading.Lock()
        self._open: dict[int, dict] = {}
        self._parents: dict[int, list[int]] = defaultdict(list)
        self.spans: list[dict] = []
        self.unit = "setup"

    def _new_span(self, name: str, group: str | None) -> dict:
        tid = threading.get_ident()
        parents = self._parents[tid]
        span = {
            "id": len(self.spans), "name": name, "unit": self.unit,
            "start": time.perf_counter(), "end": None,
            "parent": parents[-1] if parents else None, "group": group,
        }
        self.spans.append(span)
        return span

    def switch(self, layer: str) -> None:
        """Close this thread's open slice and open one for ``layer``."""
        with self._lock:
            tid = threading.get_ident()
            if tid in self._open:
                self._open[tid]["end"] = time.perf_counter()
            span = self._new_span(layer, f"kgb-{len(self.spans)}")
            self._open[tid] = span
        self._sc.setJobGroup(span["group"], layer)

    def begin(self, name: str) -> int:
        """Open a parent span (a checkpoint stage, a timed unit)."""
        with self._lock:
            span = self._new_span(name, None)
            self._parents[threading.get_ident()].append(span["id"])
        return span["id"]

    def end(self, span_id: int) -> None:
        with self._lock:
            self.spans[span_id]["end"] = time.perf_counter()
            self._parents[threading.get_ident()].remove(span_id)

    def close_thread(self) -> None:
        """Close the calling thread's open slice; jobs the thread runs
        next (output checks) belong to no layer."""
        with self._lock:
            span = self._open.pop(threading.get_ident(), None)
            if span is not None:
                span["end"] = time.perf_counter()
        self._sc.setJobGroup(UNTRACED, "untraced")

    def add(self, name: str, seconds: float) -> None:
        """Record a slice timed elsewhere, in which no Spark job runs."""
        with self._lock:
            span = self._new_span(name, f"kgb-{len(self.spans)}")
            span["end"] = span["start"] + seconds

    def stop(self) -> None:
        """Close every open slice; later jobs belong to no layer."""
        with self._lock:
            now = time.perf_counter()
            for span in self._open.values():
                span["end"] = now
            self._open.clear()
        self._sc.setJobGroup(UNTRACED, "untraced")

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))


def instrument(tracer: Tracer) -> None:
    """Make each layer current when the program calls into it.

    Wraps the ``KGPipeline`` stage methods and both module references to
    ``apply_conflict_resolution`` (the pipeline imports it at module load,
    ``run_checkpointed`` at call time). Used in traced runs only.
    """
    from waka_spark.operators import conflicts
    from waka_spark.plans import pipeline

    def wrap(fn, layer):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            tracer.switch(layer)
            return fn(*args, **kwargs)
        return traced

    for method, layer in _PIPELINE_METHODS.items():
        setattr(pipeline.KGPipeline, method,
                wrap(getattr(pipeline.KGPipeline, method), layer))
    resolver = wrap(conflicts.apply_conflict_resolution, "conflicts")
    conflicts.apply_conflict_resolution = resolver
    pipeline.apply_conflict_resolution = resolver


# ------------------------------------------------------------- event log

def parse_event_log(path: Path) -> dict[str, dict]:
    """Spark JSON event log -> per job group counters.

    Each group maps to ``jobs``, ``tasks``, ``shuffle_bytes``,
    ``python_bytes`` (sent to plus returned from Python workers),
    ``python_init_ms`` (start plus initialise), ``run_ms`` (executor run
    time) and ``stage_task_ms`` (task durations per stage).
    """
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "tasks": 0, "shuffle_bytes": 0, "python_bytes": 0,
        "python_init_ms": 0, "run_ms": 0,
        "stage_task_ms": defaultdict(list),
    })
    with open(path) as f:
        for line in f:
            event = json.loads(line)
            kind = event["Event"]
            if kind == "SparkListenerJobStart":
                group = (event.get("Properties") or {}).get(
                    "spark.jobGroup.id", "none")
                groups[group]["jobs"] += 1
                for stage_id in event["Stage IDs"]:
                    stage_group[stage_id] = group
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(event["Stage ID"], "none")]
                info = event["Task Info"]
                task_metrics = event.get("Task Metrics") or {}
                g["tasks"] += 1
                g["run_ms"] += task_metrics.get("Executor Run Time", 0)
                g["shuffle_bytes"] += (
                    task_metrics.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                g["stage_task_ms"][event["Stage ID"]].append(
                    info["Finish Time"] - info["Launch Time"])
                for acc in info.get("Accumulables", []):
                    name, update = acc.get("Name"), acc.get("Update")
                    if update is None:
                        continue
                    if name in ("data sent to Python workers",
                                "data returned from Python workers"):
                        g["python_bytes"] += int(update)
                    elif name in ("time to start Python workers",
                                  "time to initialize Python workers"):
                        g["python_init_ms"] += int(update)
    return groups


def layer_metrics(
    spans: list[dict], groups: dict[str, dict], units: set[str], cores: int
) -> dict[str, float]:
    """Sum the slices of ``units`` and their job groups per layer."""
    wall: dict[str, float] = defaultdict(float)
    acc: dict[str, dict] = {
        layer: {"jobs": 0, "tasks": 0, "shuffle_bytes": 0,
                "python_bytes": 0, "python_init_ms": 0, "run_ms": 0,
                "skews": []}
        for layer in LAYERS
    }
    for span in spans:
        if span["unit"] not in units or span["group"] is None:
            continue
        layer = span["name"]
        wall[layer] += span["end"] - span["start"]
        g = groups.get(span["group"])
        if g is None:
            continue
        a = acc[layer]
        for key in ("jobs", "tasks", "shuffle_bytes", "python_bytes",
                    "python_init_ms", "run_ms"):
            a[key] += g[key]
        for durations in g["stage_task_ms"].values():
            if len(durations) > 1:
                a["skews"].append(
                    max(durations) / max(statistics.median(durations), 1))
    out: dict[str, float] = {}
    for layer in LAYERS:
        a = acc[layer]
        w = wall.get(layer, 0.0)
        out[f"{layer}.wall_s"] = w
        out[f"{layer}.jobs"] = a["jobs"]
        out[f"{layer}.tasks"] = a["tasks"]
        out[f"{layer}.shuffle_bytes"] = a["shuffle_bytes"]
        out[f"{layer}.python_bytes"] = a["python_bytes"]
        out[f"{layer}.python_init_s"] = a["python_init_ms"] / 1000
        out[f"{layer}.busy_share"] = (
            a["run_ms"] / 1000 / (w * cores) if w > 0 else 0.0)
        out[f"{layer}.task_skew"] = max(a["skews"], default=0.0)
    return out


def format_table(metrics: dict[str, float]) -> str:
    """The per-layer table: one row per layer, one column per metric."""
    cols = [m for m, _, _ in LAYER_METRICS]
    lines = ["layer        " + " ".join(f"{c:>14}" for c in cols)]
    for layer in LAYERS:
        cells = []
        for c in cols:
            v = metrics[f"{layer}.{c}"]
            cells.append(f"{v:>14.3f}" if isinstance(v, float)
                         else f"{v:>14d}")
        lines.append(f"{layer:<12} " + " ".join(cells))
    return "\n".join(lines)
