"""Measurement plumbing: span tracer, Spark engine counters, peak RSS.

Spans are recorded from the benchmark's own files, around its calls into
the program's public functions. Each span runs its Spark jobs under its
own job group, so the engine counters of exactly those jobs can be read
back from Spark's status store when the span ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

STAGE_FIELDS = (
    "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
    "jvmGcTime", "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
)


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _status_field(pid: int | str, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _processes() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for every live process."""
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while /proc was scanned
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        out[int(pid)] = (int(stat.rsplit(")", 1)[1].split()[1]), comm)
    return out


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM child, in MB."""
    me = os.getpid()
    pids = [me] + [p for p, (ppid, comm) in _processes().items() if ppid == me and comm == "java"]
    return sum(_status_field(p, "VmHWM") for p in pids) / 1024.0


class Engine:
    """Reads per-stage counters of one job group from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism

    def counters(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(group))
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        tot = dict.fromkeys(STAGE_FIELDS, 0)
        if stage_ids:
            jvm = self.sc._jvm
            empty = self.sc._gateway.new_array(jvm.double, 0)
            it = self.sc._jsc.sc().statusStore().stageList(
                None, False, False, empty, None
            ).iterator()
            while it.hasNext():
                st = it.next()
                if st.stageId() in stage_ids:
                    for k in STAGE_FIELDS:
                        tot[k] += getattr(st, k)()
        return {
            "jobs": len(job_ids),
            "tasks": tot["numTasks"],
            "failed_tasks": tot["numFailedTasks"],
            "run_s": tot["executorRunTime"] / 1e3,
            "cpu_s": tot["executorCpuTime"] / 1e9,
            "gc_s": tot["jvmGcTime"] / 1e3,
            "shuffle_write_mb": tot["shuffleWriteBytes"] / 2**20,
            "spill_mb": (tot["memoryBytesSpilled"] + tot["diskBytesSpilled"]) / 2**20,
        }


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.engine = Engine(spark) if enabled else None
        self.spans: list[dict] = []
        self.run_id = ""
        self._stack: list[int] = []

    def span(self, name: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        sc = self.engine.sc
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"span-{sid}"
        sc.setJobGroup(group, name)
        rec["start_wall"] = time.time()
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(f"span-{parent}", self.spans[parent]["name"])
            rec["engine"] = self.engine.counters(group)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)

    def engine_totals(self, run_id: str) -> dict:
        """Engine counters summed over every span of one run."""
        tot: dict = {}
        for s in self.spans:
            if s["run"] == run_id:
                for k, v in s.get("engine", {}).items():
                    tot[k] = tot.get(k, 0) + v
        return tot
