"""Reader for the Spark event log written during a traced run.

The traced session is started with ``spark.eventLog.compress=false`` and
rolling off, so the log is one plain JSON-lines file per application.
The reader keeps, per stage: submission time, the operator scopes of its
RDDs, and every finished task's run time, GC time, shuffle bytes and
outcome.  Phases of the traced run are told apart by wall-clock windows:
a stage belongs to the phase whose window holds its submission time.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Set


@dataclass
class Task:
    run_ms: int
    gc_ms: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    failed: bool


@dataclass
class Stage:
    submitted_ms: int = 0
    scopes: Set[str] = field(default_factory=set)
    tasks: List[Task] = field(default_factory=list)


def _scopes(stage_info: dict) -> Set[str]:
    out = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            out.add(json.loads(scope).get("name", ""))
    return out


def read_stages(log_dir: str) -> Dict[int, Stage]:
    """Parse every event log file under ``log_dir`` into stages."""
    files = [
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    ]
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    stages: Dict[int, Stage] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind in ("SparkListenerStageSubmitted",
                            "SparkListenerStageCompleted"):
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], Stage())
                    st.scopes |= _scopes(info)
                    st.submitted_ms = info.get("Submission Time") or st.submitted_ms
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], Stage())
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    st.tasks.append(Task(
                        run_ms=int(m.get("Executor Run Time", 0)),
                        gc_ms=int(m.get("JVM GC Time", 0)),
                        shuffle_write_bytes=int(wr.get("Shuffle Bytes Written", 0)),
                        shuffle_read_bytes=int(rd.get("Local Bytes Read", 0))
                        + int(rd.get("Remote Bytes Read", 0)),
                        failed=reason != "Success",
                    ))
    return stages


def in_window(stages: Dict[int, Stage], start_s: float, end_s: float) -> List[Stage]:
    """Stages submitted within [start_s, end_s] (epoch seconds)."""
    lo, hi = start_s * 1000.0, end_s * 1000.0
    return [s for s in stages.values() if lo <= s.submitted_ms <= hi]


def tasks_of(stages: Iterable[Stage]) -> List[Task]:
    return [t for s in stages for t in s.tasks]
