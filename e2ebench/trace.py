"""Per-layer trace, recorded from outside the package.

Four sources, none of which needs a hook inside the package:

- job groups the benchmark sets around each operation, so every Spark job
  the operation starts carries the operation's name;
- the Spark event log, parsed after the session stops, which gives per job
  group the jobs, stages, tasks, executor CPU and run time, and the shuffle,
  input and output bytes;
- the Catalyst ``QueryPlanningTracker`` phases of a DataFrame the package
  returned (analysis, optimization, planning);
- ``Wrap``, a timing wrapper put around a public function.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    """Spark work attributed to one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_cpu_s: float = 0.0
    exec_run_s: float = 0.0
    shuffle_bytes: int = 0      # shuffle bytes written
    input_bytes: int = 0
    output_bytes: int = 0
    job_s: float = 0.0          # wall time covered by at least one job
    _spans: list = field(default_factory=list, repr=False)


def _union_s(spans: list[tuple[int, int]]) -> float:
    """Seconds covered by the union of [start, end] millisecond intervals."""
    total, end = 0, None
    for s, e in sorted(spans):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


def event_log_files(log_dir: str) -> list[str]:
    """The event log file(s) under ``log_dir``, in write order."""
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]
    return sorted(files)


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Aggregate an event log's JSON lines per job group.

    Jobs without a group are filed under ``""``. Stages and tasks belong to
    the group of the job that submitted the stage.
    """
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            jid = ev["Job ID"]
            job_group[jid] = g
            job_start[jid] = ev.get("Submission Time", 0)
            out[g].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            g = job_group.get(jid, "")
            out[g]._spans.append((job_start.get(jid, 0), ev.get("Completion Time", 0)))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = stage_group.get(info["Stage ID"], "")
            out[g].stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"], "")
            st = out[g]
            st.tasks += 1
            m = ev.get("Task Metrics") or {}
            st.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.exec_run_s += m.get("Executor Run Time", 0) / 1e3
            st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for st in out.values():
        st.job_s = _union_s(st._spans)
    return dict(out)


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    def lines():
        for p in event_log_files(log_dir):
            with open(p, encoding="utf-8") as f:
                yield from f
    return parse_event_log(lines())


def sum_groups(groups: dict[str, GroupStats], prefix: str) -> GroupStats:
    """Totals over every group whose name starts with ``prefix``."""
    tot = GroupStats()
    for name, st in groups.items():
        if name.startswith(prefix):
            for f in ("jobs", "stages", "tasks", "exec_cpu_s", "exec_run_s",
                      "shuffle_bytes", "input_bytes", "output_bytes", "job_s"):
                setattr(tot, f, getattr(tot, f) + getattr(st, f))
    return tot


PHASES = ("analysis", "optimization", "planning")


def tracker_phases(df) -> dict[str, float]:
    """Catalyst phase durations (seconds) of a DataFrame already executed."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {p: (phases.get(p).get().durationMs() / 1000.0 if phases.contains(p) else 0.0)
            for p in PHASES}


class Wrap:
    """Time the outermost calls of a function bound under several names.

    ``Wrap([(module, "name"), ...])`` swaps each ``module.name`` for one
    timing shim and ``restore()`` puts the originals back. Calls made while
    another wrapped call is running count once, with the outer call's time.
    """

    def __init__(self, targets):
        self.targets = [(m, n, getattr(m, n)) for m, n in targets]
        self.calls = 0
        self.seconds = 0.0
        self._depth = 0
        for module, name, orig in self.targets:
            setattr(module, name, self._shim(orig))

    def _shim(self, orig):
        def shim(*args, **kwargs):
            if self._depth:
                return orig(*args, **kwargs)
            self._depth += 1
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls += 1
                self._depth -= 1
        return shim

    def restore(self) -> None:
        for module, name, orig in self.targets:
            setattr(module, name, orig)
