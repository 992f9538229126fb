"""Traced-run accounting, taken from outside the pipeline.

Two sources, both owned by the benchmark:

* ``Tracer`` wraps the public functions of each layer (module attributes,
  swapped for the lifetime of the run) with a wall-clock timer and a Spark
  job group, so every job a layer submits carries the layer's name;
* ``fold_event_log`` reads the uncompressed, non-rolling Spark event log the
  benchmark turns on through session conf, and folds task metrics per job
  group.

``layer_metrics`` joins the two into the per-layer metrics, each averaged per
timed operation.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict

from entity_extractor_spark.operators import extract as X
from entity_extractor_spark.operators import link as L
from entity_extractor_spark.operators import mentions as M
from entity_extractor_spark.operators import propagate as P
from entity_extractor_spark.plans import lineage, pipeline
from entity_extractor_spark.streaming import ingest

GROUP_PROP = "spark.jobGroup.id"
GROUP_PREFIX = "kgbench"

# Builder call -> pipeline stage. A stage's wall time runs from its builder
# call (connected-components probe jobs run there) to the end of its commit.
BUILDERS = [
    (M, "detect_mentions", "mentions"),
    (X, "winner_docs", "winners"),
    (X, "observations", "observations"),
    (X, "materials_table", "materials"),
    (X, "manufacturers_table", "manufacturers"),
    (L, "assign_clusters", "clustered"),
    (L, "fold_chemical_nodes", "chem_nodes"),
    (L, "fold_chemical_nodes_scalable", "chem_nodes"),
    (L, "chemical_edges", "edges"),
    (P, "resolve_materials", "nodes"),
]

# Stage -> operator layer; the parse pre-materialization (job group
# ``pipeline``) belongs to extract.
LAYER_OF_STAGE = {
    "mentions": "mentions",
    "winners": "extract",
    "observations": "extract",
    "materials": "extract",
    "manufacturers": "extract",
    "clustered": "link",
    "chem_nodes": "link",
    "edges": "link",
    "nodes": "propagate",
    "triples": "propagate",
}
OPERATOR_LAYERS = ("extract", "mentions", "link", "propagate")

# Phases whose operations build the graph (stage metrics come from these).
BUILD_PHASES = ("build", "batch")

MB = 1e6


class Tracer:
    """Times layer calls and tags their Spark jobs with a job group.

    ``phase``/``op`` name the operation in progress; the workload sets them
    from the main thread before each timed call, and the DAG executor's
    worker threads read them when a wrapped function is entered."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.phase = "setup"
        self.op = 0
        self.calls: list[tuple] = []  # (phase, op, kind, key, t0, t1)
        self._lock = threading.Lock()
        self._saved: list[tuple] = []

    # -- job groups ---------------------------------------------------------
    @contextlib.contextmanager
    def group(self, key: str):
        """Tag the current thread's jobs with ``key`` for the duration."""
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(
            GROUP_PROP, f"{GROUP_PREFIX}|{self.phase}|{self.op}|{key}"
        )
        try:
            yield
        finally:
            self.sc.setLocalProperty(GROUP_PROP, prev)

    @contextlib.contextmanager
    def span(self, kind: str, key: str, group: str | None = None):
        phase, op = self.phase, self.op
        t0 = time.time()
        try:
            if group is None:
                yield
            else:
                with self.group(group):
                    yield
        finally:
            t1 = time.time()
            with self._lock:
                self.calls.append((phase, op, kind, key, t0, t1))

    # -- patching -----------------------------------------------------------
    def _patch(self, owner, attr: str, kind: str, key_of, group_of) -> None:
        orig = getattr(owner, attr, None)
        if orig is None:  # the layer no longer has this function
            return
        tracer = self

        def wrapper(*args, **kwargs):
            key = key_of(args, kwargs)
            with tracer.span(kind, key, group_of(key)):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        stage_arg = lambda a, kw: kw.get("stage", a[2] if len(a) > 2 else "?")  # noqa: E731
        for mod, attr, stage in BUILDERS:
            self._patch(mod, attr, "builder", lambda a, kw, s=stage: s,
                        lambda k: f"stage:{k}")
        self._patch(pipeline, "commit_stage", "commit", stage_arg,
                    lambda k: f"stage:{k}")
        self._patch(pipeline, "load_stage", "load", stage_arg,
                    lambda k: f"load:{k}")
        self._patch(lineage.LineageLog, "mark_done", "mark_done",
                    lambda a, kw: kw.get("stage", a[1] if len(a) > 1 else "?"),
                    lambda k: None)
        for owner in (pipeline, ingest):
            self._patch(owner, "run_pipeline", "run_pipeline",
                        lambda a, kw: "", lambda k: "pipeline")
        self._patch(ingest, "read_accumulated_nodes", "state_read",
                    lambda a, kw: "", lambda k: "state_read")
        self._patch(ingest, "process_batch", "process_batch",
                    lambda a, kw: "", lambda k: "acc_write")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _parse_group(gid: str | None):
    """``kgbench|phase|op|key`` -> (phase, op, key); anything else -> None."""
    if not gid or not gid.startswith(GROUP_PREFIX + "|"):
        return None
    _, phase, op, key = gid.split("|", 3)
    return phase, int(op), key


def fold_event_log(log_dir: str) -> dict:
    """Jobs (group, submit/end seconds) and per-stage task sums from the one
    application log in ``log_dir``. Read after the SparkContext stops, when
    the listener has flushed every event."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: dict[int, dict] = {}
    stage_group: dict[tuple, str | None] = {}
    stage_sums: dict[tuple, dict] = defaultdict(
        lambda: {"tasks": 0, "task_s": 0.0, "shuffle_b": 0, "spill_b": 0, "out_b": 0}
    )
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "group": (ev.get("Properties") or {}).get(GROUP_PROP),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = (
                    ev.get("Properties") or {}
                ).get(GROUP_PROP)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                s = stage_sums[(ev["Stage ID"], ev["Stage Attempt ID"])]
                s["tasks"] += 1
                s["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                s["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                s["spill_b"] += m.get("Disk Bytes Spilled", 0)
                s["out_b"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                s["finish"] = max(s.get("finish", 0.0), ev["Task Info"]["Finish Time"] / 1000.0)
    return {"jobs": jobs, "stage_group": stage_group, "stage_sums": stage_sums}


def layer_metrics(
    tracer: Tracer,
    log: dict,
    ops: list[tuple[str, int, float, float]],
    n_ops: int,
    cores: int,
    stages: list[str],
    queries: list[str],
) -> tuple[dict[str, float], tuple[float, float]]:
    """Per-layer metrics, each per timed operation, and the attribution
    check: (task seconds attributed to timed operations, event-log total of
    the stages that finished inside the timed intervals).

    ``ops`` lists the timed intervals as (phase, op, t0, t1); jobs without a
    benchmark job group are attributed to the interval they were submitted
    in and reported as untagged."""
    n = max(1, n_ops)
    timed = {(p, o) for p, o, _, _ in ops}

    def interval_of(t: float):
        for p, o, t0, t1 in ops:
            if t0 <= t <= t1:
                return p, o
        return None

    # -- jobs: (phase, op, key) with key None for untagged ------------------
    job_rows = []
    for job in log["jobs"].values():
        g = _parse_group(job["group"])
        if g is None:
            where = interval_of(job["submit"])
            if where is None:
                continue
            g = (where[0], where[1], None)
        elif (g[0], g[1]) not in timed:
            continue
        dur = (job["end"] or job["submit"]) - job["submit"]
        job_rows.append((g, job["submit"], dur))

    # -- tasks: per stage, attributed through the stage's job group ---------
    task = defaultdict(lambda: {"tasks": 0, "task_s": 0.0, "shuffle_b": 0,
                                "spill_b": 0, "out_b": 0})
    total_task_s = 0.0
    for sid, sums in log["stage_sums"].items():
        g = _parse_group(log["stage_group"].get(sid))
        if g is None:
            where = interval_of(sums.get("finish", 0.0))
            if where is None:
                continue
            g = (where[0], where[1], None)
        elif (g[0], g[1]) not in timed:
            continue
        total_task_s += sums["task_s"]
        acc = task[(g[0], g[2])]
        for k in ("tasks", "task_s", "shuffle_b", "spill_b", "out_b"):
            acc[k] += sums[k]

    def tsum(field: str, phases, key_pred) -> float:
        return sum(v[field] for (ph, key), v in task.items()
                   if ph in phases and key_pred(key))

    def jobs_where(phases, key_pred):
        return [(g, s, d) for g, s, d in job_rows if g[0] in phases and key_pred(g[2])]

    def calls(kind, phases=BUILD_PHASES, key=None):
        return [c for c in tracer.calls
                if c[2] == kind and c[0] in phases and (key is None or c[3] == key)
                and (c[0], c[1]) in timed]

    out: dict[str, float] = {}

    # -- stage.<S>.* ---------------------------------------------------------
    for s in stages:
        key = f"stage:{s}"
        walls = []
        for (ph, op) in sorted(timed):
            if ph not in BUILD_PHASES:
                continue
            mine = [c for c in tracer.calls if c[0] == ph and c[1] == op and c[3] == s
                    and c[2] in ("builder", "commit")]
            ends = [c[5] for c in mine if c[2] == "commit"]
            if ends:
                walls.append(max(ends) - min(c[4] for c in mine))
        out[f"stage.{s}.wall_s"] = sum(walls) / n
        out[f"stage.{s}.jobs"] = len(jobs_where(BUILD_PHASES, lambda k, key=key: k == key)) / n
        out[f"stage.{s}.tasks"] = tsum("tasks", BUILD_PHASES, lambda k, key=key: k == key) / n
        out[f"stage.{s}.task_s"] = tsum("task_s", BUILD_PHASES, lambda k, key=key: k == key) / n
        out[f"stage.{s}.shuffle_mb"] = tsum("shuffle_b", BUILD_PHASES, lambda k, key=key: k == key) / MB / n
        out[f"stage.{s}.spill_mb"] = tsum("spill_b", BUILD_PHASES, lambda k, key=key: k == key) / MB / n

    # -- pipeline.* ----------------------------------------------------------
    is_pipeline_job = lambda k: k is None or k == "pipeline" or k.startswith("stage:")  # noqa: E731
    run_walls = [c[5] - c[4] for c in calls("run_pipeline")]
    pipe_task_s = tsum("task_s", BUILD_PHASES, is_pipeline_job)
    out["pipeline.wall_s"] = sum(run_walls) / n
    out["pipeline.jobs"] = len(jobs_where(BUILD_PHASES, is_pipeline_job)) / n
    out["pipeline.untagged_jobs"] = len([j for j in job_rows if j[0][2] is None]) / n
    out["pipeline.parse_s"] = sum(
        d for _, _, d in jobs_where(BUILD_PHASES, lambda k: k == "pipeline")
    ) / n
    out["pipeline.busy_share"] = (
        pipe_task_s / (sum(run_walls) * cores) if run_walls and sum(run_walls) > 0 else 0.0
    )

    # -- lineage.* -----------------------------------------------------------
    commits = calls("commit")
    overhead = 0.0
    for ph, op, _, stage, t0, t1 in commits:
        inside = sum(d for g, s, d in job_rows
                     if g[:2] == (ph, op) and g[2] == f"stage:{stage}" and t0 <= s <= t1)
        overhead += (t1 - t0) - inside
    all_phases = {p for p, _, _, _ in ops}
    out["lineage.commits"] = len(commits) / n
    out["lineage.commit_s"] = overhead / n
    out["lineage.mark_done_s"] = sum(c[5] - c[4] for c in calls("mark_done")) / n
    out["lineage.load_s"] = sum(c[5] - c[4] for c in calls("load", all_phases)) / n
    out["lineage.written_mb"] = tsum(
        "out_b", BUILD_PHASES, lambda k: k is not None and k.startswith("stage:")
    ) / MB / n
    out["lineage.resume_s"] = sum(
        t1 - t0 for p, _, t0, t1 in ops if p == "resume"
    ) / n

    # -- operator layers -----------------------------------------------------
    for layer in OPERATOR_LAYERS:
        keys = {f"stage:{s}" for s, lay in LAYER_OF_STAGE.items() if lay == layer}
        if layer == "extract":
            keys.add("pipeline")
        out[f"{layer}.task_s"] = tsum("task_s", BUILD_PHASES, lambda k, keys=keys: k in keys) / n

    # -- streaming.* ---------------------------------------------------------
    batches = calls("process_batch", ("batch",))
    inner = sum(c[5] - c[4] for c in calls("state_read", ("batch",)) + calls("run_pipeline", ("batch",)))
    out["streaming.state_read_s"] = sum(c[5] - c[4] for c in calls("state_read", ("batch",))) / n
    out["streaming.acc_write_s"] = (
        (sum(c[5] - c[4] for c in batches) - inner) / n if batches else 0.0
    )

    # -- contract.<q>.* ------------------------------------------------------
    for q in queries:
        key = f"contract:{q}"
        out[f"contract.{q}.s"] = sum(c[5] - c[4] for c in calls("query", ("pass",), q)) / n
        out[f"contract.{q}.task_s"] = tsum("task_s", ("pass",), lambda k, key=key: k == key) / n
        out[f"contract.{q}.shuffle_mb"] = tsum("shuffle_b", ("pass",), lambda k, key=key: k == key) / MB / n
        out[f"contract.{q}.spill_mb"] = tsum("spill_b", ("pass",), lambda k, key=key: k == key) / MB / n

    # The per-group task sums must add up to the event-log total of the
    # stages that finished inside the timed intervals; a gap means a stage
    # was attributed to the wrong operation or not at all.
    in_window = sum(
        sums["task_s"] for sums in log["stage_sums"].values()
        if interval_of(sums.get("finish", 0.0)) is not None
    )
    return out, (total_task_s, in_window)
