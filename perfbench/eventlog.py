"""Stage and task metrics from Spark's own event log.

The log is written uncompressed and unrolled (see ``harness.start_spark``),
one JSON event per line.  Each job carries the ``spark.jobGroup.id`` that
the benchmark's Tracer set, so every completed stage is attributed to the
span that ran it.

Python-worker metrics are SQL metrics that Spark sums per stage into the
stage's accumulables.  "time to initialize Python workers" and "time to run
Python workers" are reported separately and never added together: measured
on an identity ``mapInPandas``, init can exceed run, so init is not a part
of run (see tests/test_eventlog_probe.py).
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import asdict, dataclass

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_ROWS = "number of output rows"


@dataclass
class StageMetrics:
    stage_id: int
    job_group: str | None
    name: str
    tasks: int
    duration_ms: int
    executor_run_ms: int
    executor_cpu_ms: float
    gc_ms: int
    shuffle_write_bytes: int
    spill_bytes: int
    records_in: int
    records_out: int
    python_sent_bytes: int
    python_returned_bytes: int
    python_start_ms: int
    python_init_ms: int
    python_run_ms: int

    @property
    def runs_python(self) -> bool:
        return self.python_run_ms > 0 or self.python_sent_bytes > 0


def _acc(stage_info: dict) -> dict[str, int]:
    """Stage accumulables by name, summed over same-named accumulators
    (several operators of one stage may each report e.g. output rows)."""
    out: dict[str, int] = {}
    for a in stage_info.get("Accumulables", []):
        try:
            v = int(float(a["Value"]))
        except (KeyError, TypeError, ValueError):
            continue
        out[a["Name"]] = out.get(a["Name"], 0) + v
    return out


def read_events(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isfile(path) and not path.endswith(".inprogress"):
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def stage_metrics(events: list[dict]) -> list[StageMetrics]:
    """One record per completed stage, in completion order."""
    group_of_stage: dict[int, str | None] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in e["Stage IDs"]:
                group_of_stage.setdefault(sid, group)
    # per-task counters: records in/out are not stage accumulables
    records: dict[int, list[int]] = {}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or not e.get("Task Metrics"):
            continue
        tm = e["Task Metrics"]
        rin = tm.get("Input Metrics", {}).get("Records Read", 0) + tm.get(
            "Shuffle Read Metrics", {}
        ).get("Total Records Read", 0)
        rout = tm.get("Output Metrics", {}).get("Records Written", 0) + tm.get(
            "Shuffle Write Metrics", {}
        ).get("Shuffle Records Written", 0)
        acc = records.setdefault(e["Stage ID"], [0, 0])
        acc[0] += rin
        acc[1] += rout
    out = []
    for e in events:
        if e["Event"] != "SparkListenerStageCompleted":
            continue
        si = e["Stage Info"]
        sid = si["Stage ID"]
        a = _acc(si)
        rin, rout = records.get(sid, [0, 0])
        out.append(StageMetrics(
            stage_id=sid,
            job_group=group_of_stage.get(sid),
            name=si.get("Stage Name", ""),
            tasks=si.get("Number of Tasks", 0),
            duration_ms=(si.get("Completion Time") or 0) - (si.get("Submission Time") or 0),
            executor_run_ms=a.get("internal.metrics.executorRunTime", 0),
            executor_cpu_ms=a.get("internal.metrics.executorCpuTime", 0) / 1e6,
            gc_ms=a.get("internal.metrics.jvmGCTime", 0),
            shuffle_write_bytes=a.get("internal.metrics.shuffle.write.bytesWritten", 0),
            spill_bytes=a.get("internal.metrics.memoryBytesSpilled", 0)
            + a.get("internal.metrics.diskBytesSpilled", 0),
            records_in=rin,
            records_out=rout,
            python_sent_bytes=a.get(PY_SENT, 0),
            python_returned_bytes=a.get(PY_RETURNED, 0),
            python_start_ms=a.get(PY_START, 0),
            python_init_ms=a.get(PY_INIT, 0),
            python_run_ms=a.get(PY_RUN, 0),
        ))
    return out


def jobs_by_group(events: list[dict]) -> dict[str | None, int]:
    counts: dict[str | None, int] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            counts[g] = counts.get(g, 0) + 1
    return counts


def totals(stages: list[StageMetrics]) -> dict[str, float]:
    """Summed counters over ``stages``, plus the stage and task counts."""
    keys = [k for k, v in asdict(stages[0]).items() if isinstance(v, (int, float))
            and k != "stage_id"] if stages else []
    out = {k: float(sum(getattr(s, k) for s in stages)) for k in keys}
    out["stages"] = float(len(stages))
    return out
