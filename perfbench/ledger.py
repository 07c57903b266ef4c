"""Layer spans around the engine's public functions, and the fold of Spark's
event log into a per-layer table.

A span sets the Spark job group to ``<rep>/<layer>`` on entry. Jobs are
charged to the group that is set when they start, so lazy frames, which run
at the next action, are charged to the layer entered most recently before
that action. A layer declared eager (its call runs Spark jobs itself)
restores the caller's group when it returns; a lazy layer leaves its own
group set, because the frames it returned run at the caller's next action.

The fold reads the uncompressed, non-rolling event log: stages map to groups
through ``SparkListenerStageSubmitted`` properties, and ``SparkListenerTaskEnd``
metrics are summed per layer. Python time comes from the "time to run Python
workers" accumulable, because Executor CPU Time counts JVM threads only.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time
from collections import defaultdict

# (module, attribute, layer, eager). The attributes are the names the entry
# modules call, so patching them changes only the calls made by
# run_pipeline, run_curation and run_webgraph_job.
TARGETS = {
    "pipeline": [
        ("logai_spark.pipeline", "mine_templates", "parse.mine", True),
        ("logai_spark.pipeline", "route_to_sinks", "operators.route", True),
        ("logai_spark.pipeline", "counter_vector", "operators.features", False),
        ("logai_spark.pipeline", "verify_routed_write", "pipeline.verify", True),
    ],
    "curate": [
        ("logai_spark.curate", "exact_dedup", "functions.textops", False),
        ("logai_spark.curate", "repetition_stats", "functions.textops", False),
        ("logai_spark.curate", "pii_redact", "functions.textops", False),
        # imported inside run_curation at call time
        ("logai_spark.functions.textops", "quality_score", "functions.textops", False),
        ("logai_spark.functions.components", "dup_clusters", "functions.components", True),
        ("logai_spark.curate", "pack_sequences", "operators.features", False),
    ],
    "plans.webgraph_job": [
        ("logai_spark.plans.webgraph_job", "link_edges", "functions.webgraph", False),
        ("logai_spark.plans.webgraph_job", "domain_pagerank", "functions.webgraph", True),
        ("logai_spark.plans.webgraph_job", "hyperball_harmonic", "functions.hyperball", True),
        ("logai_spark.plans.webgraph_job", "anchor_text", "functions.webgraph", False),
    ],
}

# Stages of these layers that ran Python workers belong to the named layer:
# the fused extract+match stage of pipeline.extract_parse is lazy and runs
# inside the routed write.
PYTHON_STAGE_LAYER = {"operators.route": "parse.match"}

KINDS = {
    "wall_s": "s",
    "task_s": "s",
    "jvm_cpu_s": "s",
    "python_s": "s",
    "python_in_bytes": "bytes",
    "python_out_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "gc_s": "s",
    "jobs": "count",
}

_PY_RUN = "time to run Python workers"
_PY_IN = "data sent to Python workers"
_PY_OUT = "data returned from Python workers"


class Spans:
    """Job-group bookkeeping for one SparkContext.

    ``rep(tag, root)`` opens a repetition whose jobs default to the layer
    ``root``; ``layer(name, eager)`` is the span a patched function runs in.
    ``walls`` holds the driver time each group was set, per rep and layer,
    so layer wall times add up to the rep's wall time; ``windows`` holds each
    rep's (start, end) in epoch seconds.
    """

    def __init__(self, sc):
        self._sc = sc
        self._rep: str | None = None
        self._layer: str | None = None
        self._since = 0.0
        self.walls: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.windows: dict[str, tuple[float, float]] = {}

    def _set(self, layer: str) -> None:
        now = time.perf_counter()
        if self._layer is not None:
            self.walls[self._rep][self._layer] += now - self._since
        self._layer, self._since = layer, now
        self._sc.setJobGroup(f"{self._rep}/{layer}", layer)

    @contextlib.contextmanager
    def rep(self, tag: str, root: str):
        self._rep = tag
        start = time.time()
        self._set(root)
        try:
            yield
        finally:
            self._set(root)
            self._layer = None
            self._sc.setJobGroup("idle", "idle")
            self.windows[tag] = (start, time.time())

    @contextlib.contextmanager
    def layer(self, name: str, eager: bool):
        caller = self._layer
        self._set(name)
        try:
            yield
        finally:
            if eager and caller is not None:
                self._set(caller)

    def patch(self, entry: str) -> list:
        """Wrap the entry's target functions in spans; returns the undo list
        for :func:`unpatch`."""
        undo = []
        for mod_name, attr, layer, eager in TARGETS[entry]:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)

            @functools.wraps(orig)
            def wrapped(*a, _orig=orig, _layer=layer, _eager=eager, **kw):
                with self.layer(_layer, _eager):
                    return _orig(*a, **kw)

            setattr(mod, attr, wrapped)
            undo.append((mod, attr, orig))
        return undo


def unpatch(undo: list) -> None:
    for mod, attr, orig in reversed(undo):
        setattr(mod, attr, orig)


def _num(v) -> int:
    return int(float(v)) if v not in (None, "") else 0


def read_events(path: str) -> list[dict]:
    with open(path) as fp:
        return [json.loads(line) for line in fp if line.strip()]


def fold(events: list[dict], reps: list[str], windows: list[tuple[float, float]]) -> tuple[dict, float]:
    """Sum task metrics per layer over the groups of ``reps``.

    Returns ``(layers, total_task_s)``: ``layers[layer][kind]`` summed over
    the reps, and the task seconds of every task launched inside one of the
    ``windows`` (epoch seconds), grouped or not, so a caller can check that
    the layers account for all of it.
    """
    wanted = set(reps)
    stage_group: dict[int, str] = {}
    stage_span: dict[int, tuple[int, int]] = {}
    tasks: list[dict] = []
    layers: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(KINDS, 0.0))
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            stage_group[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id", "")
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stage_span[info["Stage ID"]] = (info["Submission Time"], info["Completion Time"])
        elif kind == "SparkListenerJobStart":
            rep, layer = _split((e.get("Properties") or {}).get("spark.jobGroup.id", ""))
            if rep in wanted:
                layers[layer]["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)

    per_stage: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(KINDS, 0.0))
    total_task_s = 0.0
    for t in tasks:
        m = t.get("Task Metrics") or {}
        run_s = m.get("Executor Run Time", 0) / 1e3
        launched = t["Task Info"]["Launch Time"] / 1e3
        if any(lo <= launched <= hi for lo, hi in windows):
            total_task_s += run_s
        sums = per_stage[t["Stage ID"]]
        sums["task_s"] += run_s
        sums["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        sums["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sums["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        sums["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        for acc in t["Task Info"].get("Accumulables", []):
            name = acc.get("Name")
            if name == _PY_RUN:
                sums["python_s"] += _num(acc.get("Update")) / 1e3
            elif name == _PY_IN:
                sums["python_in_bytes"] += _num(acc.get("Update"))
            elif name == _PY_OUT:
                sums["python_out_bytes"] += _num(acc.get("Update"))

    for stage, sums in per_stage.items():
        rep, layer = _split(stage_group.get(stage, ""))
        if rep not in wanted:
            continue
        if sums["python_s"] > 0 and layer in PYTHON_STAGE_LAYER:
            # the stage's wall moves from the enclosing layer to this one
            lo, hi = stage_span.get(stage, (0, 0))
            layers[layer]["wall_s"] -= (hi - lo) / 1e3
            layer = PYTHON_STAGE_LAYER[layer]
            layers[layer]["wall_s"] += (hi - lo) / 1e3
        for k, v in sums.items():
            layers[layer][k] += v
    return {k: dict(v) for k, v in layers.items()}, total_task_s


def _split(group: str) -> tuple[str, str]:
    rep, _, layer = group.partition("/")
    return rep, layer


def missing_layers(layers: dict, expected: list[str]) -> list[str]:
    """The expected layers that ran no task, or, for a wrapped layer, started
    no job: their spans no longer catch the engine's calls."""
    split = set(PYTHON_STAGE_LAYER.values())
    return [
        name for name in expected
        if not layers.get(name, {}).get("task_s")
        or (name not in split and not layers[name]["jobs"])
    ]


def add_walls(layers: dict, walls: dict, reps: list[str]) -> None:
    """Add the driver-side wall time of each layer's group to ``layers``."""
    for rep in reps:
        for layer, s in walls.get(rep, {}).items():
            layers.setdefault(layer, dict.fromkeys(KINDS, 0.0))["wall_s"] += s
