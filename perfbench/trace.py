"""Host stamp, load gate, process-tree memory and layer tracing.

``Tracer`` records spans (name, start, end, parent) around the calls the
benchmark makes into each engine module; it keeps them in memory and the
traced run writes them out once, with Spark's own stage and SQL metrics
read from the status REST API of the live application.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def load1() -> float:
    return float(os.getloadavg()[0])


def cpu_jiffies() -> tuple[int, int, int]:
    """(all, idle, stolen) CPU time of the host since boot, in jiffies; on
    a VM, time the hypervisor gave to other guests shows as stolen."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return sum(fields), fields[3] + fields[4], fields[7]


def cpu_shares(before: tuple[int, int, int],
               after: tuple[int, int, int]) -> dict:
    """Shares of the host's CPU time between two ``cpu_jiffies`` readings
    that were busy (not idle, not stolen) and stolen."""
    total, idle, steal = (a - b for a, b in zip(after, before))
    total = max(total, 1)
    return {"busy": (total - idle - steal) / total, "steal": steal / total}


def wait_for_quiet_host(max_wait_s: float, busy_limit: float = 0.5,
                        steal_limit: float = 0.1) -> dict:
    """Bounded wait until, over the last half second, at most
    ``busy_limit`` of the host's CPU time was busy and at most
    ``steal_limit`` stolen.  The 1-minute load is recorded but not waited
    on: right after a previous run it still counts that run.  Returns the
    stamp (cores, load, CPU shares at start, seconds waited, busy flag)."""
    t0 = time.monotonic()
    while True:
        j0 = cpu_jiffies()
        time.sleep(0.5)
        shares = cpu_shares(j0, cpu_jiffies())
        busy = (shares["busy"] > busy_limit
                or shares["steal"] > steal_limit)
        if not busy or time.monotonic() - t0 >= max_wait_s:
            break
    return {"nproc": nproc(), "load1_start": load1(),
            "busy_start": shares["busy"], "steal_start": shares["steal"],
            "waited_s": time.monotonic() - t0, "busy": busy}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _statm(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return f.read()
    except OSError:
        return None


def tree_rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` and its descendants.  A child whose memory
    counters equal its parent's still shares the parent's address space
    (the JVM spawns processes with vfork before exec) and is counted once,
    or a sample taken in that instant would count the JVM twice."""
    kids = _children()
    total, todo = 0, [(pid, None)]
    while todo:
        p, parent = todo.pop()
        statm = _statm(p)
        if statm is None:
            continue
        if statm != parent:
            total += int(statm.split()[1]) * PAGE
        todo += [(c, statm) for c in kids.get(p, [])]
    return total


def sustained_peak(samples: list[int]) -> int:
    """Highest level held over two consecutive samples.  A sample taken
    while the JVM forks a helper process can count the JVM twice (its
    child's counters are read at another instant than its own, so they
    differ); such a glitch lasts one sample and is left out."""
    return max((min(a, b) for a, b in zip(samples, samples[1:])),
               default=max(samples, default=0))


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled on a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak(self) -> int:
        return sustained_peak(self.samples)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.samples.append(tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Tracer:
    """In-memory spans around layer calls, with epoch start and end so
    Spark's stage and SQL records can be matched to them.  A disabled
    tracer still times its spans but keeps none."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["dur"] = rec["end"] - rec["start"]
            if self.enabled:
                self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s["dur"] for s in self.spans if s["name"] == name)


class SparkRest:
    """Reader of the live application's status REST API (UI enabled)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def stages(self) -> list[dict]:
        return self.get("/stages?status=complete")

    def sql(self) -> list[dict]:
        return self.get("/sql?details=true&planDescription=false"
                        "&length=100000")

    def task_quantiles(self, stage: dict) -> list[float]:
        q = self.get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                     "/taskSummary?quantiles=0.5,1.0")
        return q["executorRunTime"]


def spark_epoch(ts: str) -> float:
    """Epoch seconds of a REST timestamp such as 2026-01-02T03:04:05.678GMT."""
    return datetime.strptime(ts.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def in_window(rec: dict, start: float, end: float) -> bool:
    """The stage or SQL execution was submitted inside [start, end] (epoch
    s; the JVM stamps milliseconds from the same clock)."""
    return ("submissionTime" in rec
            and start - 1e-3 <= spark_epoch(rec["submissionTime"]) <= end)


def stage_window(stages: list[dict], start: float, end: float) -> list[dict]:
    """Stages submitted inside the wall-clock window [start, end]."""
    return [s for s in stages if in_window(s, start, end)]


def sql_metric_total(executions: list[dict], node_prefix: str,
                     metric: str, start: float, end: float) -> float:
    """Sum of one SQL metric over the plan nodes named ``node_prefix*`` of
    the executions submitted inside [start, end], in bytes or seconds."""
    total = 0.0
    for ex in executions:
        if not in_window(ex, start, end):
            continue
        for node in ex.get("nodes", []):
            if not node.get("nodeName", "").startswith(node_prefix):
                continue
            for m in node.get("metrics", []):
                if m.get("name") == metric:
                    total += parse_metric_value(m.get("value", ""))
    return total


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric_value(text: str) -> float:
    """First quantity of a Spark SQL metric string, in bytes or seconds:
    '12.3 MiB (…)' -> 12897485, 'total (min, med, max)\\n1.2 s (…)' -> 1.2,
    '42' -> 42."""
    for line in text.splitlines():
        parts = line.strip().split()
        if not parts or parts[0].startswith("total"):
            continue
        try:
            value = float(parts[0].replace(",", ""))
        except ValueError:
            continue
        if len(parts) > 1 and parts[1] in _UNITS:
            value *= _UNITS[parts[1]]
        return value
    return 0.0
