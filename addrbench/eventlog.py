"""Roll a Spark event log up per job-group label.

The benchmark labels each call it makes with a Spark job group; jobs that
carry no group were started from threads the benchmark does not own (for
example run_all's plan-construction pool). Event lines are read with the
loader in the repository's ``tools/stage_report.py``.
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

LABELS = (
    "session.warm_python_workers",
    "sources.entities_checkpoint",
    "operators.assembly.ways_geo_checkpoint",
    "plans.pipeline.run_all",
    "operators.interpolation",
    "operators.nearest_street",
    "operators.nearest_place",
    "operators.layers",
    "operators.views",
    "plans.pipeline.write_layers",
    "io.window",
)
# per-label figures reported as metrics, with their units
FIELDS = {
    "tasks": "count",
    "cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "narrow_stage_s": "s",
}


def _load_lines(logdir: str) -> list[str]:
    import osmi_addresses_spark

    tools = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(osmi_addresses_spark.__file__))),
        "tools",
    )
    sys.path.insert(0, tools)
    try:
        from stage_report import load_lines
    finally:
        sys.path.remove(tools)
    return load_lines(logdir)


def summarize(logdir: str, cores: int) -> dict:
    """Per label: the FIELDS above plus stage wall time and input read;
    ``narrow_stage_s`` is the wall time of stages with fewer tasks than
    cores. Also the share of the benchmark's stage wall time (stages with
    one of LABELS or no label) that no label covers."""
    stage_label: dict[int, str | None] = {}
    stage_wall: dict[int, float] = {}
    stage_tasks: dict[int, int] = {}
    per_stage = defaultdict(lambda: defaultdict(float))
    for line in _load_lines(logdir):
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_label.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            stage_tasks[sid] = si["Number of Tasks"]
            stage_wall[sid] = (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1000
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            acc = per_stage[ev["Stage ID"]]
            acc["tasks"] += 1
            acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1000
            shw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            acc["shuffle_write_mb"] += shw / 1e6
            acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
            inp = m.get("Input Metrics") or {}
            acc["input_bytes"] += inp.get("Bytes Read", 0)
            acc["input_records"] += inp.get("Records Read", 0)

    out = {lab: defaultdict(float) for lab in LABELS}
    wall_total = wall_unlabelled = 0.0
    for sid, wall in stage_wall.items():
        label = stage_label.get(sid)
        if label is None:
            wall_total += wall
            wall_unlabelled += wall
        if label not in out:
            continue
        wall_total += wall
        row = out[label]
        for k, v in per_stage[sid].items():
            row[k] += v
        row["stage_s"] += wall
        if stage_tasks[sid] < cores:
            row["narrow_stage_s"] += wall
    return {
        "labels": {lab: {k: row[k] for k in (*FIELDS, "stage_s", "input_bytes", "input_records")}
                   for lab, row in out.items()},
        "unlabelled_stage_share": wall_unlabelled / wall_total if wall_total else 0.0,
        "stage_wall_s": wall_total,
    }
