"""Outside-in collectors: process-tree CPU and memory from /proc, and
per-job-group stage metrics from Spark's status store."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "shuffleWriteBytes", "shuffleReadBytes", "memoryBytesSpilled",
    "diskBytesSpilled", "inputBytes", "inputRecords",
)


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14..17
    ticks = sum(int(x) for x in fields[11:15])
    return comm, int(fields[1]), ticks / CLK_TCK


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests (all CPUs), from
    the `steal` column of /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


class ProcessTree:
    """The benchmark process and its descendants, sorted into the three
    parts of a PySpark program: the Python `driver`, the `jvm`, and the
    Python `pyworker` processes the JVM starts."""

    def __init__(self, root_pid: int | None = None):
        self.root = root_pid or os.getpid()

    def snapshot(self) -> dict[int, tuple[str, float]]:
        """pid -> (part, cpu seconds) for every live process in the tree."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        kids: dict[int, list[int]] = {}
        for pid, (_comm, ppid, _cpu) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        out = {}
        todo = [(self.root, "driver")]
        while todo:
            pid, part = todo.pop()
            if pid not in stats:
                continue
            comm = stats[pid][0]
            if pid != self.root:
                if comm == "java" or "java" in _cmdline(pid).split(" ")[0]:
                    part = "jvm"
                elif part == "jvm" or part == "pyworker":
                    part = "pyworker"
                else:
                    part = "other"
            out[pid] = (part, stats[pid][2])
            todo.extend((k, part) for k in kids.get(pid, []))
        return out

    @staticmethod
    def cpu_delta(before: dict, after: dict) -> dict[str, float]:
        """CPU seconds per part between two snapshots; a process
        started in between counts from zero."""
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
        for pid, (part, cpu) in after.items():
            prev = before.get(pid)
            out[part] += cpu - (prev[1] if prev else 0.0)
        out["total"] = sum(out.values())
        return out

    def peak_rss_mb(self) -> dict[str, float]:
        """Sum of each live process's peak resident set (VmHWM), by part."""
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
        for pid, (part, _cpu) in self.snapshot().items():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            out[part] += int(line.split()[1]) / 1024
                            break
            except OSError:
                continue
        out["total"] = sum(out.values())
        return out


def _opt_ms(opt) -> float | None:
    """Scala Option[java.util.Date] -> epoch milliseconds or None."""
    return float(opt.get().getTime()) if opt.isDefined() else None


class StatusStore:
    """Stage metrics of the jobs in one job group, read from Spark's
    status store (populated with the UI disabled too).

    Read a group right after the work that ran under it: the store keeps
    a bounded number of jobs and stages."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._empty = gw.jvm.java.util.ArrayList()

    def set_group(self, group: str) -> None:
        """Tag the jobs this thread starts from now on with `group`."""
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs(self, group: str) -> list[dict]:
        """One dict per job: name, wall ms and summed stage metrics."""
        out = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = self.store.job(jid)
            start, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            job = {"id": jid, "name": jd.name(), "submitted_ms": start or 0.0,
                   "wall_ms": (end - start) if start and end else 0.0,
                   "stages": 0, **{f: 0 for f in STAGE_FIELDS}}
            sids = jd.stageIds()
            for i in range(sids.size()):
                attempts = self.store.stageData(
                    sids.apply(i), False, self._empty, False, self._no_quantiles
                )
                for a in range(attempts.size()):
                    sd = attempts.apply(a)
                    if str(sd.status()) == "SKIPPED":
                        continue
                    job["stages"] += 1
                    for f in STAGE_FIELDS:
                        job[f] += getattr(sd, f)()
            out.append(job)
        return out


def sum_jobs(jobs: list[dict]) -> dict:
    """Totals over jobs in seconds and bytes (executorCpuTime is in ns,
    the run and GC times in ms)."""
    return {
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "tasks": sum(j["numTasks"] for j in jobs),
        "executor_run_s": sum(j["executorRunTime"] for j in jobs) / 1e3,
        "executor_cpu_s": sum(j["executorCpuTime"] for j in jobs) / 1e9,
        "gc_s": sum(j["jvmGcTime"] for j in jobs) / 1e3,
        "shuffle_write_bytes": sum(j["shuffleWriteBytes"] for j in jobs),
        "spill_bytes": sum(j["memoryBytesSpilled"] + j["diskBytesSpilled"]
                           for j in jobs),
        "input_bytes": sum(j["inputBytes"] for j in jobs),
        "input_records": sum(j["inputRecords"] for j in jobs),
        "job_wall_s": sum(j["wall_ms"] for j in jobs) / 1e3,
    }
