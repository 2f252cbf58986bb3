"""Tracing for the benchmark's traced run, done from outside the package.

* Spans: kept in memory (name, start, end, parent) and written out when
  the run ends; a span's self time is its duration minus its children's.
* Jobs: every build, plan, exec and materialize call runs under a Spark
  job group ``<workload>#<pass>#<query>#<phase>``, so the Spark event
  log (enabled for the traced run only) attributes each job, stage and
  task to one query and one phase.
* Materialize: the four shared-artifact builders are replaced by
  wrappers on their modules; every caller in the package looks them up
  through the module global, so the wrappers see every call. A call
  that launches no job is a hit.
* Streaming: micro-batch progress comes from the event log's
  ``QueryProgressEvent`` records.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from pathlib import Path

# (module, function) pairs that build a session-shared artifact.
MATERIALIZE = (
    ("bigdata_deepfakeanalysis_spark.operators.dedup", "lsh_pairs_cached"),
    ("bigdata_deepfakeanalysis_spark.operators.graph", "copurchase_top_edges"),
    ("bigdata_deepfakeanalysis_spark.operators.advanced", "basket_items_cached"),
    ("bigdata_deepfakeanalysis_spark.operators.advanced", "basket_co_counts_cached"),
)

# Spark 4.1's SQL-metric names for the Python-worker boundary (times
# in ms, data in bytes).
PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_SENT = "data sent to Python workers"


class Tracer:
    """In-memory spans plus the job-group tag of the running phase."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._group = ""
        self._sc = None
        self._n_mat = 0
        self._originals: list[tuple[object, str, object]] = []

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def _set_group(self, group: str) -> None:
        self._group = group
        self._sc.setJobGroup(group, group)

    def span(self, name: str, group: str | None = None, **attrs):
        return _Span(self, name, group, attrs)

    def install_materialize_wrappers(self) -> None:
        import importlib

        for mod_name, fn_name in MATERIALIZE:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fn_name)
            self._originals.append((mod, fn_name, orig))
            setattr(mod, fn_name, self._wrap(fn_name, orig))

    def remove_materialize_wrappers(self) -> None:
        for mod, fn_name, orig in self._originals:
            setattr(mod, fn_name, orig)
        self._originals.clear()

    def _wrap(self, fn_name, orig):
        def wrapper(*args, **kwargs):
            outer = self._group
            self._n_mat += 1
            group = f"{outer}>materialize.{self._n_mat}"
            with self.span("materialize", group, fn=fn_name):
                result = orig(*args, **kwargs)
            self._set_group(outer)
            return result

        wrapper.__wrapped__ = orig
        return wrapper

    def self_times(self) -> dict[int, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}


class _Span:
    def __init__(self, tracer: Tracer, name: str, group, attrs):
        self.t, self.name, self.group, self.attrs = tracer, name, group, attrs

    def __enter__(self):
        t = self.t
        self.rec = {
            "id": len(t.spans),
            "name": self.name,
            "parent": t._stack[-1] if t._stack else None,
            "group": self.group,
            **self.attrs,
        }
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        if self.group is not None:
            t._set_group(self.group)
        self.rec["start"] = time.perf_counter()
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.t._stack.pop()
        return False


def _acc(task_info: dict, name: str) -> float:
    for a in task_info.get("Accumulables", ()):
        if a.get("Name") == name:
            try:
                return float(a.get("Update", 0))
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def job_phase(group: str) -> str:
    """``w#pass#query#build>materialize.3`` -> ``materialize``. Streaming
    micro-batch jobs carry their query's run id as group: ``stream``.
    Jobs outside any group (set-up, warm-up) are ``other``."""
    if "#" in group:
        return group.rsplit("#", 1)[-1].split(">")[-1].split(".")[0]
    return "stream" if group else "other"


def parse_event_logs(log_dir: Path) -> dict:
    """Sum task metrics per job-group phase from every event log under
    ``log_dir``; also collect streaming batch durations."""
    phase_of_job: dict[tuple[str, int], str] = {}
    job_of_stage: dict[tuple[str, int], int] = {}
    per_phase = defaultdict(lambda: defaultdict(float))
    group_jobs = defaultdict(int)
    batch_ms: list[float] = []
    for path in sorted(log_dir.rglob("events_*")):
        app = path.parent.name
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    key = (app, ev["Job ID"])
                    phase_of_job[key] = job_phase(group)
                    group_jobs[group] += 1
                    per_phase[phase_of_job[key]]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        job_of_stage[(app, sid)] = ev["Job ID"]
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    job = job_of_stage.get((app, sid))
                    if job is not None:
                        per_phase[phase_of_job[(app, job)]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = job_of_stage.get((app, ev["Stage ID"]))
                    phase = phase_of_job.get((app, job), "other")
                    _add_task(per_phase[phase], ev)
                elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                    dur = (ev.get("progress") or {}).get("durationMs") or {}
                    if "triggerExecution" in dur:
                        batch_ms.append(float(dur["triggerExecution"]))
    return {
        "per_phase": {k: dict(v) for k, v in per_phase.items()},
        "group_jobs": dict(group_jobs),
        "batch_ms": batch_ms,
    }


def _add_task(acc: dict, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    acc["tasks"] += 1
    acc["cpu_ns"] += m.get("Executor CPU Time", 0)
    acc["gc_ms"] += m.get("JVM GC Time", 0)
    run_ms = m.get("Executor Run Time", 0)
    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    overhead = (
        run_ms
        + m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + (info.get("Getting Result Time") or 0)
    )
    acc["sched_delay_ms"] += max(dur - overhead, 0)
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    acc["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    acc["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
    acc["spill_b"] += m.get("Disk Bytes Spilled", 0)
    # Spark 4.1's parquet reader reports only the footer bytes as
    # "Bytes Read", and JDBC writes report no bytes: count records.
    acc["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    acc["output_rows"] += (m.get("Output Metrics") or {}).get("Records Written", 0)
    acc["py_run_ms"] += _acc(info, PY_RUN)
    acc["py_boot_ms"] += _acc(info, PY_BOOT)
    acc["py_sent_b"] += _acc(info, PY_SENT)


def median0(xs) -> float:
    return statistics.median(xs) if xs else 0.0
