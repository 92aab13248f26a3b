"""Collectors that observe the engine from outside.

* ``WorkerMemory``: samples ``Private_Clean + Private_Dirty`` from
  ``/proc/<pid>/smaps_rollup`` of every pyspark daemon/worker process that
  descends from this driver (the method of ``tools/gaz_mmap_bench.py``,
  restricted to this process tree so other Spark applications on the host
  are not counted) and keeps the peak of the per-sample sum.
* ``SparkStages``: per-pass stage metrics from the driver's REST status
  API, selected by the job group the benchmark sets before each pass.
* ``failed_tasks``: the same per-pass selection through the in-process
  status tracker, cheap enough for the untraced run.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may contain spaces; the fields after its closing paren
        # start with state, ppid
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _is_pyspark(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def private_kb(pid: int) -> int:
    total = 0
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                parts = line.split()
                if parts and parts[0] in ("Private_Clean:", "Private_Dirty:"):
                    total += int(parts[1])
    except OSError:
        return 0
    return total


def pyspark_workers() -> list[int]:
    return [p for p in _descendants(os.getpid()) if _is_pyspark(p)]


class WorkerMemory:
    """Background sampler of the summed private memory of this driver's
    pyspark worker processes; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pids: list[int] = []
        n = 0
        while not self._stop.is_set():
            if n % 8 == 0:           # re-discover forks every ~2 s
                pids = pyspark_workers()
            n += 1
            total = sum(private_kb(p) for p in pids)
            self.peak_kb = max(self.peak_kb, total)
            self.samples += 1
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def failed_tasks(sc, group: str) -> tuple[int, int]:
    """(failed task attempts, tasks) over the jobs of one job group."""
    st = sc.statusTracker()
    failed = tasks = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            s = st.getStageInfo(sid)
            if s is not None:
                failed += s.numFailedTasks
                tasks += s.numTasks
    return failed, tasks


_TERMINAL = ("COMPLETE", "FAILED", "SKIPPED")


class SparkStages:
    """Stage metrics of one job group from the driver's REST status API."""

    def __init__(self, sc):
        url = sc.uiWebUrl
        port = url.rsplit(":", 1)[1].strip("/")
        self.base = (f"http://localhost:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.loads(r.read())

    def _attempts(self, sid: int) -> list[dict]:
        try:
            return self._get(f"/stages/{sid}")
        except OSError:          # pruned or never submitted
            return [{"status": "SKIPPED"}]

    def group(self, group: str, wait_s: float = 10.0) -> dict:
        """Summed stage metrics and pooled task durations of ``group``."""
        deadline = time.monotonic() + wait_s
        while True:
            jobs = [j for j in self._get("/jobs")
                    if j.get("jobGroup") == group]
            attempts = {sid: self._attempts(sid)
                        for j in jobs for sid in j["stageIds"]}
            pending = [sid for sid, atts in attempts.items()
                       if not any(a["status"] in _TERMINAL for a in atts)]
            if (jobs and not pending
                    and all(j["status"] in ("SUCCEEDED", "FAILED")
                            for j in jobs)) \
                    or time.monotonic() > deadline:
                break
            time.sleep(0.1)
        stages = [a for atts in attempts.values() for a in atts
                  if a["status"] in ("COMPLETE", "FAILED")]
        durations = []
        for s in stages:
            for t in self._get(f"/stages/{s['stageId']}/{s['attemptId']}"
                               f"/taskList?length=1000000"):
                if t.get("status") == "SUCCESS" and "duration" in t:
                    durations.append(t["duration"] / 1000.0)
        durations.sort()

        def q(p):
            if not durations:
                return 0.0
            return durations[min(len(durations) - 1,
                                 int(p * len(durations)))]

        def tot(key):
            return sum(s.get(key, 0) for s in stages)

        return {
            "executor_run_s": tot("executorRunTime") / 1000.0,
            "executor_cpu_s": tot("executorCpuTime") / 1e9,
            "jvm_gc_s": tot("jvmGcTime") / 1000.0,
            "tasks": tot("numCompleteTasks") + tot("numFailedTasks"),
            "failed_tasks": tot("numFailedTasks"),
            "task_s_p50": q(0.5),
            "task_s_p90": q(0.9),
            "shuffle_write_mb": tot("shuffleWriteBytes") / 1e6,
            "shuffle_read_mb": tot("shuffleReadBytes") / 1e6,
        }
