"""Parse a Spark JSON event log into per-job-group layer counters.

Every layer call in a traced run runs under its own job group
(``SparkContext.setJobGroup``). This module folds the log's job, stage,
task and SQL-metric events into one ``Group`` per job-group id:

- jobs and their [submission, completion] intervals (for driver time:
  wall time minus the union of job intervals),
- task metrics: shuffle bytes written, spill, JVM GC time, result size,
- SQL metrics of the Python nodes (ArrowEvalPython, MapInPandas, ...):
  Arrow bytes sent to and returned from the workers, time in the workers,
  and the rows each Python node emitted.

SQL metric accumulators are mapped to plan nodes through the plan infos of
``SQLExecutionStart`` and every adaptive re-plan, because AQE replaces the
physical nodes (and their accumulator ids) after the first stages run.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

#: plan node names that run Python workers
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
)


@dataclass
class Group:
    jobs: int = 0
    intervals: list[tuple[int, int]] = field(default_factory=list)
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    result_bytes: int = 0
    arrow_sent_bytes: int = 0
    arrow_returned_bytes: int = 0
    python_ms: int = 0
    python_start_ms: int = 0
    python_init_ms: int = 0
    #: output rows per Python plan node name
    python_rows: dict[str, int] = field(default_factory=dict)

    def job_seconds(self) -> float:
        """Length of the union of this group's job intervals, in seconds."""
        total = 0
        end = None
        for s, e in sorted(self.intervals):
            if end is None or s > end:
                total += e - s
                end = e
            elif e > end:
                total += e - end
                end = e
        return total / 1000.0


def _walk(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[int(m["accumulatorId"])] = plan.get("nodeName", "")
    for child in plan.get("children", []):
        _walk(child, out)


def event_files(log_dir: str) -> list[str]:
    """The event files of every application logged under ``log_dir``
    (plain single-file logs and rolling ``eventlog_v2_*`` directories)."""
    files = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            files += sorted(
                glob.glob(os.path.join(path, "events_*")),
                key=lambda p: int(os.path.basename(p).split("_")[1]),
            )
        elif not path.endswith((".crc", ".inprogress")):
            files.append(path)
    return files


def parse(lines) -> dict[str, Group]:
    """{job group id: Group} from an iterable of event-log JSON lines.
    Jobs without a group are filed under the empty string."""
    groups: dict[str, Group] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    acc_node: dict[int, str] = {}

    def grp(gid: str | None) -> Group:
        return groups.setdefault(gid or "", Group())

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jid = ev["Job ID"]
            job_group[jid] = gid
            job_start[jid] = ev["Submission Time"]
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = gid
            grp(gid).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                grp(job_group[jid]).intervals.append((job_start[jid], ev["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if gid is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = gid
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk(ev.get("sparkPlanInfo", {}), acc_node)
        elif kind == "SparkListenerTaskEnd":
            g = grp(stage_group.get(ev["Stage ID"], ""))
            g.tasks += 1
            tm = ev.get("Task Metrics") or {}
            g.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            g.gc_ms += tm.get("JVM GC Time", 0)
            g.result_bytes += tm.get("Result Size", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Metadata") != "sql":
                    continue
                name = acc.get("Name", "")
                upd = int(acc.get("Update", 0))
                if name == "data sent to Python workers":
                    g.arrow_sent_bytes += upd
                elif name == "data returned from Python workers":
                    g.arrow_returned_bytes += upd
                elif name == "time to run Python workers":
                    g.python_ms += upd
                elif name == "time to start Python workers":
                    g.python_start_ms += upd
                elif name == "time to initialize Python workers":
                    g.python_init_ms += upd
                elif name == "number of output rows":
                    node = acc_node.get(int(acc["ID"]), "")
                    if node in PYTHON_NODES:
                        g.python_rows[node] = g.python_rows.get(node, 0) + upd
    return groups


def parse_dir(log_dir: str) -> dict[str, Group]:
    def lines():
        for path in event_files(log_dir):
            with open(path) as fh:
                yield from fh

    return parse(lines())
