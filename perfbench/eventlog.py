"""Spark event log → per-stage and per-span tables, with ``json`` only.

Reads an uncompressed, non-rolling event log (``spark.eventLog.compress
=false``, ``spark.eventLog.rolling.enabled=false``). Jobs are tied to the
span whose id the job's ``spark.job.description`` carries (see
``spans.py``); stages to jobs through the job-start event; tasks to
stages through their stage id.

Run as a script to print the per-stage table of a log::

    python3 perfbench/eventlog.py <event-log-file>
"""

from __future__ import annotations

import json
import sys

from spans import SPAN_TAG, union_ms

MB = 1024.0 * 1024.0


class EventLog:
    def __init__(self):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.cached_peak_bytes = 0

    @classmethod
    def read(cls, path: str) -> "EventLog":
        log = cls()
        cached: dict[str, int] = {}
        cached_total = 0
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    desc = props.get("spark.job.description") or ""
                    span = int(desc[len(SPAN_TAG):]) if desc.startswith(SPAN_TAG) else None
                    log.jobs[ev["Job ID"]] = {"span": span}
                    for sid in ev.get("Stage IDs", []):
                        log.stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = log._stage(info["Stage ID"], info.get("Stage Attempt ID", 0))
                    st["name"] = info.get("Stage Name", "")
                    st["num_tasks"] = info.get("Number of Tasks", 0)
                    st["start"] = info.get("Submission Time")
                    st["end"] = info.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    log._task(ev)
                elif kind == "SparkListenerBlockUpdated":
                    info = ev["Block Updated Info"]
                    bid = info["Block ID"]
                    if not bid.startswith("rdd_"):
                        continue
                    size = int(info.get("Memory Size", 0)) + int(info.get("Disk Size", 0))
                    cached_total += size - cached.get(bid, 0)
                    if size:
                        cached[bid] = size
                    else:
                        cached.pop(bid, None)
                    log.cached_peak_bytes = max(log.cached_peak_bytes, cached_total)
        return log

    def _stage(self, sid: int, attempt: int) -> dict:
        key = (sid, attempt)
        if key not in self.stages:
            self.stages[key] = {
                "stage": sid, "attempt": attempt, "name": "", "num_tasks": 0,
                "start": None, "end": None, "tasks": 0,
                "failed_tasks": 0, "task_ms": 0.0, "run_ms": 0.0, "cpu_ms": 0.0,
                "gc_ms": 0.0, "sched_delay_ms": 0.0, "shuffle_read": 0,
                "shuffle_write": 0, "spill": 0}
        return self.stages[key]

    def _task(self, ev: dict) -> None:
        st = self._stage(ev["Stage ID"], ev.get("Stage Attempt ID", 0))
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        st["tasks"] += 1
        if info.get("Failed") or info.get("Killed"):
            st["failed_tasks"] += 1
        dur = max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0))
        run = m.get("Executor Run Time", 0)
        st["task_ms"] += dur
        st["run_ms"] += run
        st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        st["gc_ms"] += m.get("JVM GC Time", 0)
        st["sched_delay_ms"] += max(
            0, dur - run - m.get("Executor Deserialize Time", 0)
            - m.get("Result Serialization Time", 0))
        rd = m.get("Shuffle Read Metrics") or {}
        st["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        st["spill"] += m.get("Disk Bytes Spilled", 0)

    # ------------------------------------------------------------ tables
    def stage_rows(self) -> list[dict]:
        """One row per completed stage attempt, with its job and span."""
        rows = []
        for (sid, _), st in sorted(self.stages.items()):
            job = self.stage_job.get(sid)
            rows.append(dict(st, job=job,
                             span=self.jobs[job]["span"] if job in self.jobs else None,
                             wall_ms=(st["end"] - st["start"]) if st["start"] and st["end"] else 0))
        return rows

    def totals(self, jobs: list[int], lo: float, hi: float) -> dict:
        """Engine counters over ``jobs``, whose driver-side window is
        [lo, hi] (epoch ms): the driver gap is the window minus the union
        of its stages' intervals."""
        job_set = set(jobs)
        stages = [st for (sid, _), st in self.stages.items()
                  if self.stage_job.get(sid) in job_set and st["start"] is not None]
        spans = [(st["start"], st["end"]) for st in stages if st["end"] is not None]
        task_ms = sum(st["task_ms"] for st in stages)
        wall = max(hi - lo, 0.0)
        return {
            "jobs": len(job_set), "stages": len(stages),
            "tasks": sum(st["tasks"] for st in stages),
            "failed_tasks": sum(st["failed_tasks"] for st in stages),
            "executor_run_s": sum(st["run_ms"] for st in stages) / 1e3,
            "executor_cpu_s": sum(st["cpu_ms"] for st in stages) / 1e3,
            "gc_s": sum(st["gc_ms"] for st in stages) / 1e3,
            "scheduler_delay_s": sum(st["sched_delay_ms"] for st in stages) / 1e3,
            "shuffle_read_mb": sum(st["shuffle_read"] for st in stages) / MB,
            "shuffle_write_mb": sum(st["shuffle_write"] for st in stages) / MB,
            "spill_mb": sum(st["spill"] for st in stages) / MB,
            "task_s": task_ms / 1e3,
            "busy_cores": task_ms / wall if wall else 0.0,
            "one_task_stage_s": sum((st["end"] - st["start"]) for st in stages
                                    if st["num_tasks"] == 1 and st["end"] is not None) / 1e3,
            "driver_gap_s": (wall - union_ms(spans, lo, hi)) / 1e3,
        }


def span_jobs(log: EventLog, spans: list[dict]) -> dict[int, list[int]]:
    """Jobs per span, each span including its descendants' jobs."""
    parent = {sp["id"]: sp["parent"] for sp in spans}
    out: dict[int, list[int]] = {sp["id"]: [] for sp in spans}
    for jid, job in log.jobs.items():
        sid = job["span"]
        while sid is not None and sid in out:
            out[sid].append(jid)
            sid = parent[sid]
    return out


def self_jobs(log: EventLog) -> dict[int, list[int]]:
    """Jobs per span, counting only jobs the span started itself."""
    out: dict[int, list[int]] = {}
    for jid, job in log.jobs.items():
        if job["span"] is not None:
            out.setdefault(job["span"], []).append(jid)
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    log = EventLog.read(argv[1])
    cols = ["stage", "job", "span", "tasks", "wall_ms", "run_ms", "cpu_ms", "gc_ms",
            "shuffle_read", "shuffle_write", "spill", "name"]
    print("\t".join(cols))
    for row in log.stage_rows():
        print("\t".join(str(round(row[c], 1)) if isinstance(row[c], float) else str(row[c])
                        for c in cols))
    print(f"cached_peak_mb\t{log.cached_peak_bytes / MB:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
