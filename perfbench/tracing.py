"""Instrumentation that watches the engine from outside its code.

- Job groups: every public call the benchmark makes is wrapped in
  :meth:`Tracer.op`, which tags the calling thread's Spark jobs with a group
  id and records the call's wall-clock window.
- ``SparkContext.statusTracker()``: per-group counts of jobs, stages, tasks
  and failed tasks (:meth:`Tracer.group_counts`).
- Spark's event log: task CPU, GC, shuffle-write, spill and input-record
  totals per job (:func:`read_event_log`). The engine runs some jobs from
  its own worker threads (``build_index`` bucket pipelines, bucket-commit
  sidecars), which do not inherit the caller's group, so a job belongs to
  the op whose group it carries, else to the single-caller op whose window
  holds its submission time (:meth:`Tracer.attribute`).
- Directory walks of the warehouse: bytes written by an op, table sizes.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time

INDEX_TABLES = ("docs", "postings", "doclens", "stats", "blooms")


def tree_state(root: str) -> dict[str, tuple[int, int, int]]:
    """relpath -> (size, mtime_ns, inode) for every regular file under root."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of files present after an op that are new or rewritten."""
    return sum(v[0] for k, v in after.items() if before.get(k) != v)


def index_bytes(warehouse: str) -> int:
    """Parquet bytes of the index tables (checksum and marker files excluded)."""
    total = 0
    for t in INDEX_TABLES:
        for rel, (size, _, _) in tree_state(os.path.join(warehouse, t)).items():
            if rel.endswith(".parquet"):
                total += size
    return total


def bucket_ids(warehouse: str) -> set[int]:
    """Buckets present in the docs table (its bucket=N directories)."""
    d = os.path.join(warehouse, "docs")
    return {int(n.split("=", 1)[1]) for n in os.listdir(d) if n.startswith("bucket=")}


class Tracer:
    """Op windows + job groups; a no-op when disabled."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.ops: list[dict] = []
        self._seq = itertools.count()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def op(self, name: str, concurrent: bool = False):
        """Wrap one public call. ``concurrent`` marks calls that overlap other
        calls (their jobs are attributed by group only)."""
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "group": f"perfbench-{name}-{next(self._seq)}", "concurrent": concurrent}
        self.sc.setJobGroup(rec["group"], name)
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.ops.append(rec)

    def group_counts(self, group: str) -> dict[str, int]:
        """Jobs, stages, tasks and failed tasks Spark ran under one group
        (skipped stages — shuffle output reused — are not counted)."""
        st = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for j in st.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                si = st.getStageInfo(s)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += si.numCompletedTasks
                out["failed_tasks"] += si.numFailedTasks
        return out

    def attribute(self, jobs: dict[int, dict]) -> dict[str, dict]:
        """group -> summed event-log job totals for every recorded op."""
        by_group = {op["group"]: op for op in self.ops}
        serial = sorted((op for op in self.ops if not op["concurrent"]), key=lambda o: o["t0"])
        out = {op["group"]: _empty_totals() for op in self.ops}
        for job in jobs.values():
            op = by_group.get(job["group"])
            if op is None:
                t = job["submit_ms"] / 1000.0
                op = next((o for o in serial if o["t0"] <= t <= o["t1"]), None)
            if op is not None:
                acc = out[op["group"]]
                for k, v in job.items():
                    if k in acc:
                        acc[k] += v
                acc["jobs"] += 1
        return out


def _empty_totals() -> dict[str, float]:
    return {
        "jobs": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "records_read": 0,
    }


def read_event_log(log_dir: str) -> dict[int, dict]:
    """job id -> {group, submit_ms, tasks, failed_tasks, cpu_s, gc_s,
    shuffle_write_bytes, spill_bytes, records_read} from an uncompressed
    event log (read after the SparkContext stopped, so it is complete)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit_ms": e.get("Submission Time", 0),
                        **{k: v for k, v in _empty_totals().items() if k != "jobs"},
                    }
                    for sid in e.get("Stage IDs", []):
                        stage_job.setdefault(sid, e["Job ID"])
                elif ev == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(e.get("Stage ID")))
                    if job is None:
                        continue
                    m = e.get("Task Metrics") or {}
                    job["tasks"] += 1
                    if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                        job["failed_tasks"] += 1
                    job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    job["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return jobs
