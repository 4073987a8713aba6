"""Read-only probes: /proc for the benchmark's own process tree and the
host's steal time, and Spark's status store for per-pass stage work.

Nothing here writes to /proc, /sys or the Spark configuration.
"""

from __future__ import annotations

import json
import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parens; fields resume after the last ')'
    return [raw[raw.index("(") + 1 : raw.rindex(")")]] + raw[raw.rindex(")") + 2 :].split()


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms steps)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    start_ticks = int(_stat_fields(os.getpid())[20])
    return uptime - start_ticks / CLK_TCK


def host_steal_s() -> float:
    """Host-wide steal seconds since boot (the `cpu` line of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK


def _tree(root: int) -> dict[int, tuple[int, str, list[str]]]:
    """pid -> (ppid, comm, stat fields) for root and all its descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                procs[int(name)] = (int(f[2]), f[0], f)
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
            todo.extend(kids.get(pid, ()))
    return out


def descendants() -> list[int]:
    return [p for p in _tree(os.getpid()) if p != os.getpid()]


def tree_cpu_s() -> dict[str, float]:
    """CPU seconds (user+system, with reaped children) of this process's
    tree, split into the client (this process), the JVM and the Python
    workers (python processes below the JVM)."""
    root = os.getpid()
    out = {"client": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, (_, comm, f) in _tree(root).items():
        kind = "client" if pid == root else "pyworker" if "python" in comm else "jvm"
        out[kind] += sum(int(x) for x in f[12:16]) / CLK_TCK
    return out


def tree_peak_rss_mb() -> dict[str, float]:
    """Per-process peak resident size (VmHWM), summed over this process's
    tree by the same kinds as tree_cpu_s."""
    root = os.getpid()
    out = {"client": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, (_, comm, _) in _tree(root).items():
        kind = "client" if pid == root else "pyworker" if "python" in comm else "jvm"
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[kind] += int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return out


def scratch_bytes_since(root_dir: str, since_epoch: float) -> int:
    """Bytes of the files under root_dir modified at or after since_epoch."""
    total = 0
    for dirpath, _, files in os.walk(root_dir):
        for name in files:
            try:
                st = os.stat(os.path.join(dirpath, name))
            except OSError:
                continue
            if st.st_mtime >= since_epoch:
                total += st.st_size
    return total


class SparkProbe:
    """Job and stage counters and stage metrics from the live status store.

    Job and stage ids are handed out in increasing order, so the work of
    a pass is every job and stage whose id falls between two readings of
    the scheduler's next ids.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def ids(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def stages(self, first_stage: int, end_stage: int) -> list[dict]:
        """Stage records with first_stage <= stageId < end_stage, after
        the listener bus has delivered every event."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        rows = json.loads(
            self._mapper.writeValueAsString(
                store.stageList(None, False, False, self._no_quantiles, None)
            )
        )
        return [r for r in rows if first_stage <= r["stageId"] < end_stage]


def stage_summary(stages: list[dict], t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Per-pass work from stage records; stages skipped because their
    shuffle output was reused are not counted as run."""
    ran = [s for s in stages if s["status"] != "SKIPPED"]
    spans = sorted(
        (max(s["submissionTime"], t0_ms), min(s["completionTime"] or t1_ms, t1_ms))
        for s in ran
        if s.get("submissionTime") is not None
    )
    busy_ms, end = 0.0, t0_ms
    for a, b in spans:
        a = max(a, end)
        if b > a:
            busy_ms += b - a
            end = b
    return {
        "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in ran),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
        "stages": len(ran),
        "single_task_stages": sum(1 for s in ran if s["numTasks"] == 1),
        "no_stage_running_s": max(0.0, (t1_ms - t0_ms) - busy_ms) / 1000.0,
        "executor_run_s": sum(s["executorRunTime"] for s in ran) / 1000.0,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in ran) / 1000.0,
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in ran),
        "spill_bytes": sum(s["diskBytesSpilled"] for s in ran),
    }
