"""Per-span counters from Spark's own (uncompressed JSON) event log.

The traced run tags every Spark job it starts with a job group named
after the benchmark span that started it. This module reads the event
log back and sums, per job group, the counters of every task that ran
for those jobs:

* ``cpu_s``, ``gc_s`` -- executor CPU and GC time;
* ``shuffle_write_bytes``, ``shuffle_read_bytes``, ``spill_bytes``
  (memory + disk);
* ``python_s``, ``bytes_to_python``, ``bytes_from_python`` -- the
  Python-node SQL metrics "time to run Python workers", "data sent to
  Python workers" and "data returned from Python workers";
* ``skew`` -- max / mean shuffle-read bytes over the reduce tasks of
  the group's stages;
* ``python_stages`` -- stages whose tasks ran a Python node;
* ``call_sites`` -- the jobs' short call sites (which code path ran).

The task "Input Metrics" are not used: on local parquet scans they
count footer reads only; the traced run measures scan bytes from
``/proc`` instead (procs.tree_read_bytes).
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

SQL_METRICS = {
    "time to run Python workers": ("python_s", 1e-3),
    "data sent to Python workers": ("bytes_to_python", 1.0),
    "data returned from Python workers": ("bytes_from_python", 1.0),
}
COUNTERS = ("cpu_s", "gc_s", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "python_s",
            "bytes_to_python", "bytes_from_python")


def conf(log_dir: str) -> dict[str, str]:
    """Spark confs that turn the event log on for one session only."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
    }


def _events(log_dir: str):
    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                  recursive=True) if os.path.isfile(p)]
    for path in sorted(paths):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def collect(log_dir: str) -> dict[str, dict]:
    """job group -> summed counters (see module docstring)."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {**{c: 0.0 for c in COUNTERS}, "call_sites": []}
    )
    python_stages: dict[str, set[int]] = defaultdict(set)
    reads: dict[str, list[float]] = defaultdict(list)
    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            groups[group]["call_sites"].append(props.get("callSite.short", ""))
            for sid in ev["Stage IDs"]:
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            g = groups[group]
            g["cpu_s"] += m["Executor CPU Time"] / 1e9
            g["gc_s"] += m["JVM GC Time"] / 1e3
            g["shuffle_write_bytes"] += m["Shuffle Write Metrics"][
                "Shuffle Bytes Written"]
            sr = m["Shuffle Read Metrics"]
            read = sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            g["shuffle_read_bytes"] += read
            if read:
                reads[group].append(read)
            g["spill_bytes"] += (m["Memory Bytes Spilled"]
                                 + m["Disk Bytes Spilled"])
            for acc in ev["Task Info"].get("Accumulables", []):
                key = SQL_METRICS.get(acc.get("Name"))
                if key and acc.get("Update") is not None:
                    g[key[0]] += float(acc["Update"]) * key[1]
                    python_stages[group].add(ev["Stage ID"])
    for group, r in reads.items():
        groups[group]["skew"] = max(r) / (sum(r) / len(r))
    for group, g in groups.items():
        g["python_stages"] = len(python_stages[group])
        g.setdefault("skew", 0.0)
    return dict(groups)
